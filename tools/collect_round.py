#!/usr/bin/env python3
"""Snapshot the round's authoritative perf/correctness artifacts into
bench/r<NN>/ so they live in git history whole (the driver's stdout-tail
capture truncates long JSON lines — BENCH_r06/r07 record `parsed:null`).

Copies whichever of these exist, skipping absentees with a note:
  target/bench.json          (graft.Bench at the driver SF)
  target/bench_x10.json      (Bench on the x10 replica, via yardstick)
  target/bench_x100.json     (x100 corpus rehearsal)
  target/bench_x1000.json    (x1000 corpus rehearsal)
  target/yardstick_x10.json  (per-query Spark-vs-DuckDB verdicts)
  target/yardstick_x100.json (weak-mark slope evidence at x100)
  target/diag_shuffle.json   (per-exchange attribution, heavy cohort --
                              sbt -batch "runMain graft.Profile plan <x10dir>
                              q90...,q105...,q117...,q134...,q153...,q162..."
                              | grep '^{' > target/diag_shuffle.json)
  CORRECTNESS_x10.json       (full-surface x10 oracle gate)

Usage: python3 tools/collect_round.py <round>   e.g. 8
"""
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARTIFACTS = [
    "target/bench.json",
    "target/bench_x10.json",
    "target/bench_x100.json",
    "target/bench_x1000.json",
    "target/yardstick_x10.json",
    "target/yardstick_x100.json",
    "target/diag_shuffle.json",
    "CORRECTNESS_x10.json",
]


def main():
    if len(sys.argv) != 2 or not sys.argv[1].isdigit():
        sys.exit(__doc__)
    dst = os.path.join(REPO, "bench", f"r{int(sys.argv[1]):02d}")
    os.makedirs(dst, exist_ok=True)
    for rel in ARTIFACTS:
        src = os.path.join(REPO, rel)
        if os.path.exists(src):
            shutil.copy2(src, os.path.join(dst, os.path.basename(src)))
            print(f"copied {rel}")
        else:
            print(f"absent {rel} (skipped)")


if __name__ == "__main__":
    main()
