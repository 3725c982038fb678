package graft.operators

import graft.QueryDef
import graft.sources.Readers
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The MLB marts (SURVEY §7.2's minimum end-to-end slice — the reference's
  * "Team Performance" / "Game Statistics" dashboards,
  * visualization/dashboards/team_performance/README.md) under the DuckDB
  * oracle gate: both engines read the SAME Retrosheet/teams CSV fixtures
  * (reference hw5/, layout per FIXTURES.md §1), so the whole ingestion →
  * mart path — headerless 161-col schema, null sentinels, union of
  * home/visitor perspectives, broadcast dim join, win%-rank — is
  * hash-compared end to end, not just spec-tested.
  *
  * Determinism: wins/losses/runs/attendance are integer sums (exact);
  * win_pct rounds at 4 decimals and avg home attendance at 1 decimal —
  * neither may land on a .5 rounding boundary (Spark and DuckDB round
  * those differently). The in-repo fixtures' generator asserts it; the
  * reference's 2024 data was verified by hand. The rank orders by the
  * ROUNDED win_pct with the team abbr as unique tiebreak on both sides.
  */
object MlbQueries {

  /** Fixture locations: the seeded synthetic season committed under
    * `fixtures/mlb` (resolved against the working directory, the
    * repository root), or any season's drop of the same layout via
    * `GRAFT_MLB_FIXTURES`. */
  def fixtureDir: String =
    sys.env.getOrElse("GRAFT_MLB_FIXTURES",
      new java.io.File("fixtures/mlb").getAbsolutePath)

  private def gamelogs(s: SparkSession) =
    Readers.retrosheet(s, s"$fixtureDir/gl2024.csv")
  private def teams(s: SparkSession) =
    Readers.teams(s, s"$fixtureDir/teams.csv")

  /** q86: the Team Performance mart. `d` (sf dir) is unused — the mart's
    * inputs are the CSV fixtures, not the TPC-H tables. */
  private def q86(s: SparkSession, d: String): DataFrame =
    MlbAnalytics.teamSeasonReport(gamelogs(s), teams(s))

  private def q86Sql = {
    val dir = fixtureDir
    s"""WITH g AS (SELECT column003 AS v_team, column006 AS h_team,
       |    column009 AS v_score, column010 AS h_score, column017 AS attendance
       |  FROM read_csv('$dir/gl2024.csv', header=false)),
       |u AS (
       |  SELECT h_team AS team, (h_score > v_score)::int AS win,
       |         h_score AS runs_for, v_score AS runs_against, attendance FROM g
       |  UNION ALL
       |  SELECT v_team, (v_score > h_score)::int, v_score, h_score, NULL FROM g),
       |t AS (SELECT team, CAST(sum(win) AS BIGINT) AS wins,
       |    CAST(count(*) - sum(win) AS BIGINT) AS losses,
       |    CAST(sum(runs_for) AS BIGINT) AS runs_for,
       |    CAST(sum(runs_against) AS BIGINT) AS runs_against,
       |    CAST(sum(runs_for) - sum(runs_against) AS BIGINT) AS run_diff,
       |    round(avg(attendance), 1) AS avg_home_attendance,
       |    round(sum(win)::double / count(*), 4) AS win_pct
       |  FROM u GROUP BY team),
       |d AS (SELECT column0 AS abbr, column2 AS city, column3 AS nickname
       |  FROM read_csv('$dir/teams.csv', header=false))
       |SELECT rank() OVER (ORDER BY win_pct DESC, team) AS rank,
       |  team, city, nickname, wins, losses, win_pct,
       |  runs_for, runs_against, run_diff, avg_home_attendance
       |FROM t LEFT JOIN d ON t.team = d.abbr""".stripMargin
  }

  /** q87: the Game Statistics mart, exact columns only (the avg columns sit
    * on .xx5 rounding boundaries in the reference data — see
    * [[MlbAnalytics.gameStatistics]]). */
  private def q87(s: SparkSession, d: String): DataFrame =
    MlbAnalytics.gameStatistics(gamelogs(s))
      .select("park_id", "day_night", "games", "total_attendance",
        "total_runs", "longest_game_min")

  private def q87Sql = {
    val dir = fixtureDir
    s"""SELECT column016 AS park_id, column012 AS day_night,
       |  count(*) AS games,
       |  CAST(sum(column017) AS BIGINT) AS total_attendance,
       |  CAST(sum(column009 + column010) AS BIGINT) AS total_runs,
       |  max(column018) AS longest_game_min
       |FROM read_csv('$dir/gl2024.csv', header=false)
       |GROUP BY 1, 2""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("q86_mlb_team_season", q86, Some(q86Sql)),
    QueryDef("q87_mlb_game_stats", q87, Some(q87Sql)))
}
