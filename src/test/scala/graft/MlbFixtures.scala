package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import graft.sources.Schemas

/** Seeded synthetic MLB fixtures in the reference's file shapes
  * (FIXTURES.md §1): a headerless 161-column Retrosheet game log
  * `gl2024.csv` and the headerless 4-column `teams.csv`. Values are chosen
  * per [[Schemas.retrosheet]] field name, SourcesSpec's synthetic-row
  * pattern, so the layout follows the schema the readers use.
  *
  * 30 teams (15 "AL", 15 "NL") meet once per pairing — 435 games, 29 per
  * team — at the home team's park; `teams.csv` also lists two teams with
  * no games, so the marts' left join has unmatched dimension rows. The
  * MLB marts (q86/q87) and their DuckDB oracle read these files by
  * default ([[graft.operators.MlbQueries.fixtureDir]]).
  *
  * Regenerate with `sbt "Test/runMain graft.MlbFixtures fixtures/mlb"`;
  * MlbFixturesSpec pins the committed files to this generator's output.
  */
object MlbFixtures {
  val seed = 2024L
  private val nTeams = 30

  def main(args: Array[String]): Unit =
    write(Paths.get(args.headOption.getOrElse("fixtures/mlb")))

  def write(dir: Path): Unit = {
    Files.createDirectories(dir)
    files.foreach { case (name, body) =>
      Files.write(dir.resolve(name), body.getBytes(StandardCharsets.UTF_8))
    }
  }

  private def abbr(t: Int) =
    "T" + ('A' + t / 26).toChar + ('A' + t % 26).toChar

  /** file name → content. */
  lazy val files: Map[String, String] = {
    val rnd = new scala.util.Random(seed)
    val pairs = for (a <- 0 until nTeams; b <- a + 1 until nTeams) yield
      if (rnd.nextBoolean()) (a, b) else (b, a) // (visitor, home)
    val order = rnd.shuffle(pairs)
    val played = Array.fill(nTeams)(0)
    val start = java.time.LocalDate.of(2024, 3, 28)
    val games = order.zipWithIndex.map { case ((v, h), g) =>
      played(v) += 1; played(h) += 1
      val date = start.plusDays(g / 12L)
      var (vs, hs) = (rnd.nextInt(11), rnd.nextInt(11))
      if (vs == hs) hs += 1 // no ties: a home walk-off
      Game(v, h, played(v), played(h), date, vs, hs,
        if (rnd.nextInt(3) == 0) "D" else "N",
        12000 + rnd.nextInt(38000), 140 + rnd.nextInt(80))
    }
    val fixed = clearBoundaries(games)
    val rowRnd = new scala.util.Random(seed + 1)
    val gl = fixed.map(row(_, rowRnd)).mkString
    val teams = (0 until nTeams + 2).map { t =>
      s"${abbr(t)},${if (t < 15) "A" else "N"},City ${t + 1},Nine ${t + 1}\n"
    }.mkString
    Map("gl2024.csv" -> gl, "teams.csv" -> teams)
  }

  private final case class Game(v: Int, h: Int, vNum: Int, hNum: Int,
      date: java.time.LocalDate, vScore: Int, hScore: Int, dayNight: String,
      attendance: Int, duration: Int)

  /** q86 rounds win_pct at 4 decimals and the home-attendance average at
    * 1. A value exactly on a .5 boundary rounds differently in Spark
    * (HALF_UP on the decimal) and DuckDB (binary round), so the
    * generator moves one home game's attendance by one until no average
    * sits on a boundary, then asserts both properties. */
  private def clearBoundaries(games: Seq[Game]): Seq[Game] = {
    var gs = games.toVector
    for (t <- 0 until nTeams) {
      def home = gs.indices.filter(gs(_).h == t)
      while (onBoundary(home.map(gs(_).attendance.toLong).sum, home.size, 1)) {
        val i = home.last
        gs = gs.updated(i, gs(i).copy(attendance = gs(i).attendance + 1))
      }
    }
    for (t <- 0 until nTeams) {
      val mine = gs.filter(g => g.v == t || g.h == t)
      val wins = mine.count(g =>
        if (g.h == t) g.hScore > g.vScore else g.vScore > g.hScore)
      val home = mine.filter(_.h == t).map(_.attendance.toLong)
      assert(!onBoundary(wins, mine.size, 4),
        s"${abbr(t)} win_pct $wins/${mine.size} sits on a rounding boundary")
      assert(!onBoundary(home.sum, home.size, 1),
        s"${abbr(t)} home attendance average sits on a rounding boundary")
    }
    gs
  }

  /** num/den·10^d = k + ½ exactly ⇔ 2·num·10^d = den·(2k+1). */
  private[graft] def onBoundary(num: Long, den: Long, decimals: Int): Boolean =
    den > 0 && {
      val x = 2 * num * math.pow(10, decimals).toLong
      x % den == 0 && (x / den) % 2 == 1
    }

  /** Per-inning line score summing to `runs` (Retrosheet writes a
    * double-digit inning as "(10)"). */
  private def line(runs: Int, rnd: scala.util.Random): String = {
    var left = runs
    (1 to 9).map { i =>
      val r = if (i == 9) left else math.min(left, rnd.nextInt(3))
      left -= r
      if (r > 9) s"($r)" else r.toString
    }.mkString
  }

  private def row(g: Game, rnd: scala.util.Random): String = {
    def q(s: String) = "\"" + s + "\""
    Schemas.retrosheet.fields.map { f =>
      f.name match {
        case "date_str" => q(g.date.toString.replace("-", ""))
        case "game_num" => q("0")
        case "day_of_week" => q(g.date.getDayOfWeek.toString.take(1) +
          g.date.getDayOfWeek.toString.slice(1, 3).toLowerCase)
        case "v_team" => q(abbr(g.v))
        case "h_team" => q(abbr(g.h))
        case "v_league" => q(if (g.v < 15) "AL" else "NL")
        case "h_league" => q(if (g.h < 15) "AL" else "NL")
        case "v_game_num" => g.vNum.toString
        case "h_game_num" => g.hNum.toString
        case "v_score" => g.vScore.toString
        case "h_score" => g.hScore.toString
        case "outs" => if (g.hScore > g.vScore) "51" else "54"
        case "day_night" => q(g.dayNight)
        case "completion" | "forfeit" | "protest" | "add_info" => q("")
        case "park_id" => q(abbr(g.h) + "01")
        case "attendance" => g.attendance.toString
        case "duration_min" => g.duration.toString
        case "v_line" => q(line(g.vScore, rnd))
        case "h_line" => q(line(g.hScore, rnd))
        case "acq_info" => q("Y")
        case n if n.endsWith("_pos") => n.dropRight(4).last.toString
        case n if n.endsWith("_name") => q("")
        case n if n.endsWith("_id") => q(s"${n.dropRight(3)}${rnd.nextInt(40)}")
        case _ => rnd.nextInt(10).toString
      }
    }.mkString("", ",", "\n")
  }
}
