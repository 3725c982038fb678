package graft.streaming

/** Crash-injection seam for PROCESS-LEVEL recovery tests (round-9 verdict
  * #7): the index upsert paths order their multi-write commits so that a
  * driver death between writes heals on retry — IndexLifecycleSpec proves
  * it by simulating the interleavings in-process, and this seam lets a
  * test kill a REAL driver JVM at the exact window instead. Production
  * cost is one sys-prop read per named point per upsert call (the prop is
  * never set outside tests, so `reached` is a no-op).
  *
  * Protocol: a child JVM sets `-Dgraft.crashpoint=<name>` and
  * `-Dgraft.crashpoint.marker=<file>`; when execution reaches the named
  * point, the seam writes the marker (AFTER the pre-window writes are on
  * disk) and parks the thread. The parent watches for the marker and
  * sends a real SIGKILL — the process dies mid-commit with no shutdown
  * hooks, exactly the crash the checkpoint+heal contract must absorb.
  * An in-process test parks a writer thread the same way and interrupts
  * it, or sets `-Dgraft.crashpoint.mode=throw` to make the point throw
  * instead of parking (a crash that leaves exactly the writes before it). */
object CrashPoints {
  def reached(name: String): Unit =
    if (sys.props.get("graft.crashpoint").contains(name)) {
      sys.props.get("graft.crashpoint.marker").foreach { m =>
        java.nio.file.Files.write(java.nio.file.Paths.get(m),
          name.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      if (sys.props.get("graft.crashpoint.mode").contains("throw"))
        throw new IllegalStateException(s"crash point $name")
      while (true) Thread.sleep(1000) // parked until SIGKILL or interrupt
    }
}
