package graft.queries

import graft.core.{GraftQuery, QueryModule}
import graft.models.PressingIntensity
import graft.tracking._
import org.apache.spark.sql.functions._

/** Analytics-model queries (SURVEY.md §2.10) oracled against DuckDB in
  * long (pair) format — the nested matrix form is exercised in
  * ScalaTest; the driver's hash compare gets flat rows. TTI/PTI are
  * rounded to 6 decimals because acos/exp are not bit-identical across
  * libm implementations. */
object ModelQueries extends QueryModule {
  import Cols._

  /** Kinematics (no smoothing) + possession joined — the model input. */
  private val piDatCte: String =
    """pidat AS (
      |  SELECT vel.game_id, vel.period_id, vel.frame_id, vel.id, vel.team_id,
      |         vel.x, vel.y, vel.z, vel.vx, vel.vy, vel.vz, vel.v,
      |         q.ball_owning_team_id, q.is_ball_carrier
      |  FROM vel
      |  JOIN (SELECT game_id, period_id, frame_id, id,
      |               owning AS ball_owning_team_id,
      |               coalesce(id = carrier, false) AS is_ball_carrier
      |        FROM poss WHERE owning IS NOT NULL) q
      |  USING (game_id, period_id, frame_id, id)
      |)""".stripMargin

  /** The TTI formula SQL, parameterized on row/col prefixes; mirrors the
    * TTI arithmetic of PressingIntensity.pairs (PiPairsAgg) term-for-term. */
  private def ttiSql: String =
    """sqrt(((cx+cvx)-cx)*((cx+cvx)-cx) + ((cy+cvy)-cy)*((cy+cvy)-cy) + ((cz+cvz)-cz)*((cz+cvz)-cz))
      |  * acos( (((cx+cvx)-cx)*((rx+rvx)-cx) + ((cy+cvy)-cy)*((ry+rvy)-cy) + ((cz+cvz)-cz)*((rz+rvz)-cz))
      |     / (sqrt(((cx+cvx)-cx)*((cx+cvx)-cx) + ((cy+cvy)-cy)*((cy+cvy)-cy) + ((cz+cvz)-cz)*((cz+cvz)-cz))
      |        * sqrt(((rx+rvx)-cx)*((rx+rvx)-cx) + ((ry+rvy)-cy)*((ry+rvy)-cy) + ((rz+rvz)-cz)*((rz+rvz)-cz)) + 1e-10) )
      |  / pi() + 0.7
      |  + sqrt(((rx+rvx)-(cx+cvx*0.7))*((rx+rvx)-(cx+cvx*0.7)) + ((ry+rvy)-(cy+cvy*0.7))*((ry+rvy)-(cy+cvy*0.7)) + ((rz+rvz)-(cz+cvz*0.7))*((rz+rvz)-(cz+cvz*0.7))) / 12.0""".stripMargin

  private def ptiSql(tti: String): String =
    s"1.0/(1.0 + exp(least(greatest(-pi()/sqrt(3.0)/0.45*(1.5 - $tti), -700.0), 700.0)))"

  private val sideOrder =
    "CAST(team_id = 'ball' AS INT) ASC, CAST(team_id = ball_owning_team_id AS INT) DESC, id ASC"

  /** Full-method "pressing" node order (pressing_intensity.py:520-552):
    * the defending side leads, ball last. */
  private val pressingOrder =
    "CAST(team_id = 'ball' AS INT) ASC, CAST(team_id = ball_owning_team_id AS INT) ASC, id ASC"

  override def queries: Seq[GraftQuery] = Seq(
    // ----- M1-M4: PI teams/max (default config) as pair table -----
    GraftQuery(
      "q_pi_pairs",
      (s, d) => {
        val trk = SyntheticTracking.df(s, d, Cols.ByObjectPeriod)
        val kin = Kinematics(trk, TrackingSettings(), None, None)
        val dat = Possession.inferBallCarrier(kin, TrackingSettings())
        PressingIntensity.pairs(dat, TrackingSettings(), PressingIntensity.Params())
          .select(col(GameId), col(PeriodId), col(FrameId),
            col("row_id"), col("col_id"), col("row_idx"), col("col_idx"),
            round(col("tti"), 6).as("tti"), round(col("pti"), 6).as("pti"))
      },
      Some(s"""WITH ${SyntheticTracking.cte},
         |${SyntheticTracking.velCte},
         |${SyntheticTracking.possessionCte},
         |$piDatCte,
         |picols AS (
         |  SELECT *, row_number() OVER (PARTITION BY game_id, period_id, frame_id
         |    ORDER BY $sideOrder) - 1 AS idx
         |  FROM pidat WHERE team_id = ball_owning_team_id OR team_id = 'ball'
         |),
         |pirows AS (
         |  SELECT *, row_number() OVER (PARTITION BY game_id, period_id, frame_id
         |    ORDER BY $sideOrder) - 1 AS idx
         |  FROM pidat WHERE NOT (team_id = ball_owning_team_id OR team_id = 'ball')
         |),
         |pipair AS (
         |  SELECT r.game_id, r.period_id, r.frame_id,
         |    r.id AS row_id, c.id AS col_id, r.idx AS row_idx, c.idx AS col_idx,
         |    (c.team_id = 'ball') AS c_ball, c.is_ball_carrier AS c_carrier,
         |    c.x AS cx, c.y AS cy, c.z AS cz, c.vx AS cvx, c.vy AS cvy, c.vz AS cvz,
         |    r.x AS rx, r.y AS ry, r.z AS rz, r.vx AS rvx, r.vy AS rvy, r.vz AS rvz
         |  FROM pirows r JOIN picols c USING (game_id, period_id, frame_id)
         |),
         |pitti AS (SELECT *, $ttiSql AS tti0 FROM pipair),
         |pimax AS (
         |  SELECT *, max(CASE WHEN c_ball THEN tti0 END)
         |    OVER (PARTITION BY game_id, period_id, frame_id, row_id) AS ball_tti
         |  FROM pitti
         |),
         |pimerge AS (
         |  SELECT *, CASE WHEN c_carrier THEN least(tti0, ball_tti) ELSE tti0 END AS tti1
         |  FROM pimax WHERE NOT c_ball
         |)
         |SELECT game_id, period_id, frame_id, row_id, col_id, row_idx, col_idx,
         |  round(tti1, 6) AS tti, round(${ptiSql("tti1")}, 6) AS pti
         |FROM pimerge""".stripMargin),
      headline = true),

    // ----- M1-M4: PI full/exclude with "pressing" transpose -----
    GraftQuery(
      "q_pi_pairs_full",
      (s, d) => {
        val trk = SyntheticTracking.df(s, d, Cols.ByObjectPeriod)
        val kin = Kinematics(trk, TrackingSettings(), None, None)
        val dat = Possession.inferBallCarrier(kin, TrackingSettings())
        PressingIntensity.pairs(dat, TrackingSettings(),
          PressingIntensity.Params(method = "full", ballMethod = "exclude", orient = "pressing"))
          .select(col(GameId), col(PeriodId), col(FrameId),
            col("row_id"), col("col_id"), col("row_idx"), col("col_idx"),
            round(col("tti"), 6).as("tti"), round(col("pti"), 6).as("pti"))
      },
      Some(s"""WITH ${SyntheticTracking.cte},
         |${SyntheticTracking.velCte},
         |${SyntheticTracking.possessionCte},
         |$piDatCte,
         |pfull AS (
         |  SELECT *, row_number() OVER (PARTITION BY game_id, period_id, frame_id
         |    ORDER BY $pressingOrder) - 1 AS idx
         |  FROM pidat WHERE team_id <> 'ball'
         |),
         |fpair AS (
         |  SELECT r.game_id, r.period_id, r.frame_id,
         |    r.id AS r_id, c.id AS c_id, r.idx AS r_idx, c.idx AS c_idx,
         |    c.x AS cx, c.y AS cy, c.z AS cz, c.vx AS cvx, c.vy AS cvy, c.vz AS cvz,
         |    r.x AS rx, r.y AS ry, r.z AS rz, r.vx AS rvx, r.vy AS rvy, r.vz AS rvz
         |  FROM pfull r JOIN pfull c USING (game_id, period_id, frame_id)
         |),
         |ftti AS (SELECT *, $ttiSql AS tti0 FROM fpair),
         |fdiag AS (
         |  SELECT *, ${ptiSql("tti0")} AS pti0,
         |    CASE WHEN r_id = c_id THEN 0.0 ELSE tti0 END AS tti1
         |  FROM ftti
         |)
         |SELECT game_id, period_id, frame_id,
         |  c_id AS row_id, r_id AS col_id, c_idx AS row_idx, r_idx AS col_idx,
         |  round(tti1, 6) AS tti, round(pti0, 6) AS pti
         |FROM fdiag""".stripMargin)),

    // ----- M3 ball_method=include (ball column kept, no merge) +
    // M4 away_home transpose — the two remaining config enum arms -----
    GraftQuery(
      "q_pi_pairs_include",
      (s, d) => {
        val trk = SyntheticTracking.df(s, d, Cols.ByObjectPeriod)
        val kin = Kinematics(trk, TrackingSettings(), None, None)
        val dat = Possession.inferBallCarrier(kin, TrackingSettings())
        PressingIntensity.pairs(dat, TrackingSettings(homeTeamId = Some("home")),
          PressingIntensity.Params(ballMethod = "include", orient = "away_home"))
          .select(col(GameId), col(PeriodId), col(FrameId),
            col("row_id"), col("col_id"), col("row_idx"), col("col_idx"),
            round(col("tti"), 6).as("tti"), round(col("pti"), 6).as("pti"))
      },
      Some(s"""WITH ${SyntheticTracking.cte},
         |${SyntheticTracking.velCte},
         |${SyntheticTracking.possessionCte},
         |$piDatCte,
         |picols AS (
         |  SELECT *, row_number() OVER (PARTITION BY game_id, period_id, frame_id
         |    ORDER BY $sideOrder) - 1 AS idx
         |  FROM pidat WHERE team_id = ball_owning_team_id OR team_id = 'ball'
         |),
         |pirows AS (
         |  SELECT *, row_number() OVER (PARTITION BY game_id, period_id, frame_id
         |    ORDER BY $sideOrder) - 1 AS idx
         |  FROM pidat WHERE NOT (team_id = ball_owning_team_id OR team_id = 'ball')
         |),
         |pipair AS (
         |  SELECT r.game_id, r.period_id, r.frame_id,
         |    r.id AS row_id, c.id AS col_id, r.idx AS row_idx, c.idx AS col_idx,
         |    r.ball_owning_team_id AS rboti,
         |    c.x AS cx, c.y AS cy, c.z AS cz, c.vx AS cvx, c.vy AS cvy, c.vz AS cvz,
         |    r.x AS rx, r.y AS ry, r.z AS rz, r.vx AS rvx, r.vy AS rvy, r.vz AS rvz
         |  FROM pirows r JOIN picols c USING (game_id, period_id, frame_id)
         |),
         |pitti AS (SELECT *, $ttiSql AS tti0 FROM pipair)
         |SELECT game_id, period_id, frame_id,
         |  CASE WHEN rboti <> 'home' THEN col_id ELSE row_id END AS row_id,
         |  CASE WHEN rboti <> 'home' THEN row_id ELSE col_id END AS col_id,
         |  CASE WHEN rboti <> 'home' THEN col_idx ELSE row_idx END AS row_idx,
         |  CASE WHEN rboti <> 'home' THEN row_idx ELSE col_idx END AS col_idx,
         |  round(tti0, 6) AS tti, round(${ptiSql("tti0")}, 6) AS pti
         |FROM pitti""".stripMargin)),

    // ----- M3 speed-threshold masking + M4 home/away transpose -----
    GraftQuery(
      "q_pi_pairs_threshold",
      (s, d) => {
        val trk = SyntheticTracking.df(s, d, Cols.ByObjectPeriod)
        val kin = Kinematics(trk, TrackingSettings(), None, None)
        val dat = Possession.inferBallCarrier(kin, TrackingSettings())
        PressingIntensity.pairs(dat, TrackingSettings(homeTeamId = Some("home")),
          PressingIntensity.Params(speedThreshold = Some(2.0), orient = "home_away"))
          .select(col(GameId), col(PeriodId), col(FrameId),
            col("row_id"), col("col_id"), col("row_idx"), col("col_idx"),
            round(col("tti"), 6).as("tti"), round(col("pti"), 6).as("pti"))
      },
      Some(s"""WITH ${SyntheticTracking.cte},
         |${SyntheticTracking.velCte},
         |${SyntheticTracking.possessionCte},
         |$piDatCte,
         |picols AS (
         |  SELECT *, row_number() OVER (PARTITION BY game_id, period_id, frame_id
         |    ORDER BY $sideOrder) - 1 AS idx
         |  FROM pidat WHERE team_id = ball_owning_team_id OR team_id = 'ball'
         |),
         |pirows AS (
         |  SELECT *, row_number() OVER (PARTITION BY game_id, period_id, frame_id
         |    ORDER BY $sideOrder) - 1 AS idx
         |  FROM pidat WHERE NOT (team_id = ball_owning_team_id OR team_id = 'ball')
         |),
         |pipair AS (
         |  SELECT r.game_id, r.period_id, r.frame_id,
         |    r.id AS row_id, c.id AS col_id, r.idx AS row_idx, c.idx AS col_idx,
         |    (c.team_id = 'ball') AS c_ball, c.is_ball_carrier AS c_carrier,
         |    r.v AS rv, c.v AS cv, r.ball_owning_team_id AS rboti,
         |    c.x AS cx, c.y AS cy, c.z AS cz, c.vx AS cvx, c.vy AS cvy, c.vz AS cvz,
         |    r.x AS rx, r.y AS ry, r.z AS rz, r.vx AS rvx, r.vy AS rvy, r.vz AS rvz
         |  FROM pirows r JOIN picols c USING (game_id, period_id, frame_id)
         |),
         |pitti AS (SELECT *, $ttiSql AS tti0 FROM pipair),
         |pimax AS (
         |  SELECT *, max(CASE WHEN c_ball THEN tti0 END)
         |    OVER (PARTITION BY game_id, period_id, frame_id, row_id) AS ball_tti
         |  FROM pitti
         |),
         |pimerge AS (
         |  SELECT *, CASE WHEN c_carrier THEN least(tti0, ball_tti) ELSE tti0 END AS tti1
         |  FROM pimax WHERE NOT c_ball
         |),
         |pimask AS (
         |  SELECT *, CASE WHEN rv < 2.0 OR cv < 2.0 THEN 0.0
         |    ELSE ${ptiSql("tti1")} END AS pti1
         |  FROM pimerge
         |)
         |SELECT game_id, period_id, frame_id,
         |  CASE WHEN rboti = 'home' THEN col_id ELSE row_id END AS row_id,
         |  CASE WHEN rboti = 'home' THEN row_id ELSE col_id END AS col_id,
         |  CASE WHEN rboti = 'home' THEN col_idx ELSE row_idx END AS row_idx,
         |  CASE WHEN rboti = 'home' THEN row_idx ELSE col_idx END AS col_idx,
         |  round(tti1, 6) AS tti, round(pti1, 6) AS pti
         |FROM pimask""".stripMargin)),

    // ----- M4 time-range filter -----
    GraftQuery(
      "q_pi_pairs_window",
      (s, d) => {
        val trk = SyntheticTracking.df(s, d, Cols.ByObjectPeriod)
        val kin = Kinematics(trk, TrackingSettings(), None, None)
        val dat = PressingIntensity.filterTimeRange(
          Possession.inferBallCarrier(kin, TrackingSettings()),
          100000000L, 500000000L, 1)
        PressingIntensity.pairs(dat, TrackingSettings(), PressingIntensity.Params())
          .select(col(GameId), col(PeriodId), col(FrameId),
            col("row_id"), col("col_id"),
            round(col("tti"), 6).as("tti"), round(col("pti"), 6).as("pti"))
      },
      Some(s"""WITH ${SyntheticTracking.cte},
         |${SyntheticTracking.velCte},
         |${SyntheticTracking.possessionCte},
         |$piDatCte,
         |piwin AS (
         |  SELECT * FROM pidat
         |  WHERE frame_id * 40000 BETWEEN 100000000 AND 500000000 AND period_id = 1
         |),
         |picols AS (
         |  SELECT *, row_number() OVER (PARTITION BY game_id, period_id, frame_id
         |    ORDER BY $sideOrder) - 1 AS idx
         |  FROM piwin WHERE team_id = ball_owning_team_id OR team_id = 'ball'
         |),
         |pirows AS (
         |  SELECT *, row_number() OVER (PARTITION BY game_id, period_id, frame_id
         |    ORDER BY $sideOrder) - 1 AS idx
         |  FROM piwin WHERE NOT (team_id = ball_owning_team_id OR team_id = 'ball')
         |),
         |pipair AS (
         |  SELECT r.game_id, r.period_id, r.frame_id,
         |    r.id AS row_id, c.id AS col_id,
         |    (c.team_id = 'ball') AS c_ball, c.is_ball_carrier AS c_carrier,
         |    c.x AS cx, c.y AS cy, c.z AS cz, c.vx AS cvx, c.vy AS cvy, c.vz AS cvz,
         |    r.x AS rx, r.y AS ry, r.z AS rz, r.vx AS rvx, r.vy AS rvy, r.vz AS rvz
         |  FROM pirows r JOIN picols c USING (game_id, period_id, frame_id)
         |),
         |pitti AS (SELECT *, $ttiSql AS tti0 FROM pipair),
         |pimax AS (
         |  SELECT *, max(CASE WHEN c_ball THEN tti0 END)
         |    OVER (PARTITION BY game_id, period_id, frame_id, row_id) AS ball_tti
         |  FROM pitti
         |),
         |pimerge AS (
         |  SELECT *, CASE WHEN c_carrier THEN least(tti0, ball_tti) ELSE tti0 END AS tti1
         |  FROM pimax WHERE NOT c_ball
         |)
         |SELECT game_id, period_id, frame_id, row_id, col_id,
         |  round(tti1, 6) AS tti, round(${ptiSql("tti1")}, 6) AS pti
         |FROM pimerge""".stripMargin)),

    // ----- M3 nested matrix assembly, oracle-checked via cell explode --
    // The query RUNS the real nested assembly (matrices: collect_list +
    // array_sort + row-major reshape + label arrays), then explodes each
    // matrix cell back to (i, j, row_id, col_id, tti, pti). If the
    // row-major layout, the n_cols derivation, or the label arrays were
    // wrong, cells would land on wrong (i, j) and the hash would break —
    // so this flat twin verifies the nested form cell-for-cell against
    // the pair-level SQL oracle.
    GraftQuery(
      "q_pi_matrices",
      (s, d) => {
        val trk = SyntheticTracking.df(s, d, Cols.ByObjectPeriod)
        val kin = Kinematics(trk, TrackingSettings(), None, None)
        val dat = Possession.inferBallCarrier(kin, TrackingSettings())
        val pairs = PressingIntensity.pairs(dat, TrackingSettings(), PressingIntensity.Params())
        val m = PressingIntensity.matrices(pairs)
        m.select(Seq(col(GameId), col(PeriodId), col(FrameId),
            col("rows"), col("columns")) :+
            posexplode(arrays_zip(col("time_to_intercept"),
              col("probability_to_intercept"))).as(Seq("i", "trow")): _*)
          .select(Seq(col(GameId), col(PeriodId), col(FrameId), col("rows"),
            col("columns"), col("i")) :+
            posexplode(arrays_zip(col("trow.time_to_intercept"),
              col("trow.probability_to_intercept"))).as(Seq("j", "cell")): _*)
          .select(col(GameId), col(PeriodId), col(FrameId),
            col("i").cast("long").as("i"), col("j").cast("long").as("j"),
            element_at(col("rows"), col("i").cast("int") + 1).as("row_id"),
            element_at(col("columns"), col("j").cast("int") + 1).as("col_id"),
            round(col("cell.time_to_intercept"), 6).as("tti"),
            round(col("cell.probability_to_intercept"), 6).as("pti"))
      },
      Some(s"""WITH ${SyntheticTracking.cte},
         |${SyntheticTracking.velCte},
         |${SyntheticTracking.possessionCte},
         |$piDatCte,
         |picols AS (
         |  SELECT *, row_number() OVER (PARTITION BY game_id, period_id, frame_id
         |    ORDER BY $sideOrder) - 1 AS idx
         |  FROM pidat WHERE team_id = ball_owning_team_id OR team_id = 'ball'
         |),
         |pirows AS (
         |  SELECT *, row_number() OVER (PARTITION BY game_id, period_id, frame_id
         |    ORDER BY $sideOrder) - 1 AS idx
         |  FROM pidat WHERE NOT (team_id = ball_owning_team_id OR team_id = 'ball')
         |),
         |pipair AS (
         |  SELECT r.game_id, r.period_id, r.frame_id,
         |    r.id AS row_id, c.id AS col_id, r.idx AS row_idx, c.idx AS col_idx,
         |    (c.team_id = 'ball') AS c_ball, c.is_ball_carrier AS c_carrier,
         |    c.x AS cx, c.y AS cy, c.z AS cz, c.vx AS cvx, c.vy AS cvy, c.vz AS cvz,
         |    r.x AS rx, r.y AS ry, r.z AS rz, r.vx AS rvx, r.vy AS rvy, r.vz AS rvz
         |  FROM pirows r JOIN picols c USING (game_id, period_id, frame_id)
         |),
         |pitti AS (SELECT *, $ttiSql AS tti0 FROM pipair),
         |pimax AS (
         |  SELECT *, max(CASE WHEN c_ball THEN tti0 END)
         |    OVER (PARTITION BY game_id, period_id, frame_id, row_id) AS ball_tti
         |  FROM pitti
         |),
         |pimerge AS (
         |  SELECT *, CASE WHEN c_carrier THEN least(tti0, ball_tti) ELSE tti0 END AS tti1
         |  FROM pimax WHERE NOT c_ball
         |)
         |SELECT game_id, period_id, frame_id, row_idx AS i, col_idx AS j,
         |  row_id, col_id,
         |  round(tti1, 6) AS tti, round(${ptiSql("tti1")}, 6) AS pti
         |FROM pimerge""".stripMargin)))
}
