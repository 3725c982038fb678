package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The committed MLB fixtures (`fixtures/mlb`, the default input of the
  * q86/q87 marts) are exactly [[MlbFixtures]]' seeded output — so they
  * are reproducible and carry the generator's no-rounding-boundary
  * guarantee. */
class MlbFixturesSpec extends AnyFunSuite {

  test("committed fixtures equal the seeded generator's output") {
    MlbFixtures.files.foreach { case (name, body) =>
      val committed = Files.readString(Paths.get("fixtures/mlb", name))
      assert(committed == body, s"fixtures/mlb/$name drifted from " +
        "MlbFixtures — regenerate with " +
        "`sbt \"Test/runMain graft.MlbFixtures fixtures/mlb\"`")
    }
  }

  test("game log rows have the 161-column Retrosheet layout") {
    val rows = MlbFixtures.files("gl2024.csv").linesIterator.toSeq
    assert(rows.size == 435)
    // no field contains a comma, so a plain split counts columns
    assert(rows.forall(_.split(",", -1).length == 161))
  }

  test("boundary check is exact: a .5 just past the rounded digit") {
    assert(MlbFixtures.onBoundary(1, 32, 4))  // 0.03125 at 4 dp
    assert(MlbFixtures.onBoundary(7, 20, 1))  // 0.35 at 1 dp
    assert(!MlbFixtures.onBoundary(7, 2, 1))  // 3.5 at 1 dp is exact
    assert(!MlbFixtures.onBoundary(1, 3, 4))
    assert(!MlbFixtures.onBoundary(5, 0, 1))  // no games, no average
  }
}
