package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.exact

/** Every experimentation key: the A/B readouts over `events` (lift,
  * sample-ratio screen, sequential monitor, power table, DiD, CUPED,
  * ratio-metric and Mantel–Haenszel readouts, covariate balance) and
  * the survival pair (log-rank test, RMST). Each device is defined
  * once, with its oracle twin where the emitted SQL allows: the
  * seeded-md5 arm ([[inA]], [[variant]]), the two-arm pivot
  * ([[armSum]]) and the time-to-first-purchase frame
  * ([[firstPurchase]]). The sequential monitor alone splits its arms
  * by user-id parity.
  */
object ExperimentOps {
  import OracleMath._

  /** The seeded-md5 arm: a user is in arm A when the md5 hex of
    * `exp1:<user_id>` starts below '8', exactly half the hash space
    * (the corpus_split rule on the user axis). Callers alias [[variant]].
    */
  private[graft] val inA: Column =
    md5(concat(lit("exp1:"), col("user_id").cast("string"))) < "8"
  private[graft] val variant: Column = when(inA, "A").otherwise("B")

  /** Column `c` read as a double. */
  private def d(c: String): Column = col(c).cast("double")

  /** The two-arm pivot: `x` summed over the rows of arm `arm`. */
  private def armSum(arm: String, x: String, by: String = "variant"): Column =
    sum(when(col(by) === arm, col(x)))

  /** [[inA]] and [[variant]] in the oracle's SQL. */
  private val inASql = "md5('exp1:' || CAST(user_id AS VARCHAR)) < '8'"
  private val variantSql = s"CASE WHEN $inASql THEN 'A' ELSE 'B' END"

  /** The time-to-first-purchase frame of the survival pair: per user
    * its arm (`variant`), the days `d` from its first event to its
    * first purchase, and whether it purchased (`event`). A non-buyer
    * is right-censored at the last event day of `events`, which needs
    * `user_id`, `ts` and `event_type`.
    */
  private[graft] def firstPurchase(events: DataFrame): DataFrame = {
    val perUser = events.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_d"),
        min(when(col("event_type") === "purchase", to_date(col("ts")))).as("purch_d"))
    val horizon = events.agg(max(to_date(col("ts"))).as("hz"))
    perUser.crossJoin(broadcast(horizon))
      .select(
        variant.as("variant"),
        when(col("purch_d").isNotNull, datediff(col("purch_d"), col("first_d")))
          .otherwise(datediff(col("hz"), col("first_d"))).cast("long").as("d"),
        col("purch_d").isNotNull.as("event"))
  }

  /** #256 ab_lift_report — experiment readout: users split into A/B
    * by [[variant]], conversion = any purchase event; the report is
    * per-variant exposure/conversion counts, the rate lift, and the
    * two-proportion z statistic. Per-user exposure/conversion
    * collapses in ONE fine-keyed aggregate; the variant rollup is a
    * 2-row agg; every derived stat is a single double expression over
    * exact longs (the assortativity device) so both engines evaluate
    * the identical IEEE formula, rounded once at emit (the two rates,
    * ratios of counts, the DuckDB way: `roundDouble`). The z-score's
    * null-pool denominator guards zero with a 1e-12 floor (one-variant
    * edge).
    */
  def abLiftReport(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .select(variant.as("variant"), col("conv"))
    val m = perUser.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
    val wide = m.agg(
      armSum("A", "n_users").as("na"), armSum("A", "n_conv").as("ca"),
      armSum("B", "n_users").as("nb"), armSum("B", "n_conv").as("cb"))
    val pa = d("ca") / d("na")
    val pb = d("cb") / d("nb")
    val pool = (col("ca") + col("cb")).cast("double") / (col("na") + col("nb")).cast("double")
    val se = sqrt(greatest(
      pool * (lit(1.0) - pool) * (lit(1.0) / d("na") + lit(1.0) / d("nb")),
      lit(1e-12)))
    wide.select(
      col("na").as("n_a"), col("ca").as("conv_a"),
      (roundDouble(pa, 6) + lit(0.0)).as("rate_a"),
      col("nb").as("n_b"), col("cb").as("conv_b"),
      (roundDouble(pb, 6) + lit(0.0)).as("rate_b"),
      emit(pb - pa, 6).as("abs_lift"),
      emit((pb - pa) / se, 4).as("z_score"))
  }

  val abLiftReportSql: String =
    s"""WITH pu AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY user_id
      |), v AS (
      |  SELECT $variantSql AS variant, conv
      |  FROM pu
      |), m AS (
      |  SELECT variant, count(*) AS n_users, sum(conv) AS n_conv FROM v GROUP BY variant
      |), w AS (
      |  SELECT
      |    sum(CASE WHEN variant='A' THEN n_users END) AS na,
      |    sum(CASE WHEN variant='A' THEN n_conv END) AS ca,
      |    sum(CASE WHEN variant='B' THEN n_users END) AS nb,
      |    sum(CASE WHEN variant='B' THEN n_conv END) AS cb
      |  FROM m
      |)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a,
      |  (CAST(round(CAST(ca AS DOUBLE)/CAST(na AS DOUBLE), 6) AS DOUBLE) + 0.0) AS rate_a,
      |  CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b,
      |  (CAST(round(CAST(cb AS DOUBLE)/CAST(nb AS DOUBLE), 6) AS DOUBLE) + 0.0) AS rate_b,
      |  (CAST(round(CAST(cb AS DOUBLE)/CAST(nb AS DOUBLE) - CAST(ca AS DOUBLE)/CAST(na AS DOUBLE), 6) AS DOUBLE) + 0.0) AS abs_lift,
      |  (CAST(round((CAST(cb AS DOUBLE)/CAST(nb AS DOUBLE) - CAST(ca AS DOUBLE)/CAST(na AS DOUBLE))
      |    / sqrt(greatest(
      |        (CAST(ca+cb AS DOUBLE)/CAST(na+nb AS DOUBLE)) * (1 - CAST(ca+cb AS DOUBLE)/CAST(na+nb AS DOUBLE))
      |          * (1.0/CAST(na AS DOUBLE) + 1.0/CAST(nb AS DOUBLE)),
      |        1e-12)), 4) AS DOUBLE) + 0.0) AS z_score
      |FROM w""".stripMargin

  /** #321 ab_sequential_monitor — the sequential-testing readout over
    * a running experiment (Pocock/O'Brien–Fleming style alpha
    * spending, the "when could we have stopped" audit beside
    * ab_lift_report's fixed-horizon z-test — peeking at a fixed-α
    * boundary inflates false positives, THIS is the boundary you may
    * peek at): arms by user-id parity, per-day CUMULATIVE successes
    * (value ≥ 50) and trials per arm (exact ints off one (day, arm)
    * count), the pooled two-proportion z per day, and the
    * OBF-approximate boundary z_b(t) = 1.96/√(t/T); crossed = |z| ≥
    * boundary. Scale: one (day, arm)-keyed count, cumulative windows
    * over the CALENDAR-bounded day table, closed-form arithmetic
    * mirrored in both engines. Exact oracle.
    */
  def abSequentialMonitor(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(to_date(col("ts")).as("d"), (col("user_id") % 2).as("arm"),
        when(col("value") >= 50.0, 1L).otherwise(0L).as("y"))
      .groupBy(col("d"), col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("k"))
    val w = Window.partitionBy(col("arm")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = daily
      .withColumn("cn", sum(col("n")).over(w))
      .withColumn("ck", sum(col("k")).over(w))
    def arm(a: Int) = cum.filter(col("arm") === a)
      .select(col("d"), col("cn").as(s"n$a"), col("ck").as(s"k$a"))
    val days = arm(0).join(arm(1), Seq("d"))
    val maxD = days.agg(count(lit(1)).as("nd"))
    val joined = days.crossJoin(broadcast(maxD))
      .withColumn("t", row_number().over(Window.orderBy(col("d"))))
    val p0 = d("k0") / d("n0")
    val p1 = d("k1") / d("n1")
    val pp = (col("k0") + col("k1")).cast("double") / (col("n0") + col("n1")).cast("double")
    val se = sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / d("n0") + lit(1.0) / d("n1")))
    val z = (p1 - p0) / se
    val bound = lit(1.96) / sqrt(d("t") / d("nd"))
    joined.select(
      // house rule: dates emit FORMATTED (DuckDB DATE surfaces as a
      // midnight timestamp in the oracle check's pandas frame, a raw date
      // column can never hash-match)
      date_format(col("d"), "yyyy-MM-dd").as("d"),
      col("t"), col("n0"), col("k0"), col("n1"), col("k1"),
      emit(z, 6).as("z"),
      emit(bound, 6).as("boundary"),
      (abs(round(z, 6).cast("double")) >= round(bound, 6).cast("double")).as("crossed"))
      .orderBy(col("d"))
  }

  val abSequentialMonitorSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d, user_id % 2 AS arm, count(*) AS n,
      |    CAST(sum(CASE WHEN value >= 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS k
      |  FROM events GROUP BY 1, 2
      |),
      |cum AS (
      |  SELECT d, arm,
      |    CAST(sum(n) OVER (PARTITION BY arm ORDER BY d) AS BIGINT) AS cn,
      |    CAST(sum(k) OVER (PARTITION BY arm ORDER BY d) AS BIGINT) AS ck
      |  FROM daily
      |),
      |days AS (
      |  SELECT a.d, a.cn AS n0, a.ck AS k0, b.cn AS n1, b.ck AS k1
      |  FROM (SELECT * FROM cum WHERE arm = 0) a
      |  JOIN (SELECT * FROM cum WHERE arm = 1) b ON a.d = b.d
      |),
      |nd AS (SELECT count(*) AS nd FROM days),
      |t AS (
      |  SELECT days.*, nd.nd, row_number() OVER (ORDER BY d) AS t
      |  FROM days CROSS JOIN nd
      |),
      |f AS (
      |  SELECT d, t, n0, k0, n1, k1,
      |    (CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(k0 AS DOUBLE) / CAST(n0 AS DOUBLE))
      |      / sqrt((CAST(k0 + k1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
      |        * (1.0 - CAST(k0 + k1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
      |        * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))) AS z,
      |    CAST(1.96 AS DOUBLE) / sqrt(CAST(t AS DOUBLE) / CAST(nd AS DOUBLE)) AS boundary
      |  FROM t
      |)
      |SELECT strftime(d, '%Y-%m-%d') AS d, t, n0, k0, n1, k1,
      |  (CAST(round(z, 6) AS DOUBLE) + 0.0) AS z,
      |  (CAST(round(boundary, 6) AS DOUBLE) + 0.0) AS boundary,
      |  abs(CAST(round(z, 6) AS DOUBLE)) >= (CAST(round(boundary, 6) AS DOUBLE) + 0.0) AS crossed
      |FROM f ORDER BY d""".stripMargin

  /** #336 power_analysis — the sample-size design table for a
    * two-proportion test at the observed baselines: per event type,
    * p0 = the measured share of users who fire it; for each relative
    * lift in {1,2,5,10}%, the per-arm n the standard formula
    * (z_{α/2}√(2p̄q̄) + z_β√(p0q0+p1q1))²/(p1−p0)² demands at α=0.05,
    * power 0.8 — the "how long must this experiment run" readout that
    * closes the A/B family (#266 measures a finished test, #321
    * monitors a running one, THIS sizes the next one). Baselines are
    * exact longs (the type's event count vs total events — its
    * traffic share, a real multinomial proportion; per-user reach is
    * degenerate here since every user fires every type); the formula
    * is a bounded |types|×4 per-row float chain, mirrored. Exact
    * oracle.
    */
  def powerAnalysis(s: SparkSession, dir: String): DataFrame = {
    val byType = Tables.events(s, dir).groupBy(col("event_type"))
      .agg(count(lit(1)).as("u"))
    val tot = Tables.events(s, dir).agg(count(lit(1)).as("ut"))
    val lifts = s.range(0, 4).select(
      element_at(array(lit(0.01), lit(0.02), lit(0.05), lit(0.10)),
        (col("id") + 1).cast("int")).as("lift"))
    val p0 = d("u") / d("ut")
    val p1 = p0 * (lit(1.0) + col("lift"))
    val pbar = (p0 + p1) / lit(2.0)
    val num = lit(1.959964) * sqrt(lit(2.0) * pbar * (lit(1.0) - pbar)) +
      lit(0.841621) * sqrt(p0 * (lit(1.0) - p0) + p1 * (lit(1.0) - p1))
    byType.crossJoin(broadcast(tot)).crossJoin(broadcast(lifts))
      .filter(p1 < 1.0)
      .select(col("event_type"), col("lift"),
        emit(p0, 6).as("p0"), emit(p1, 6).as("p1"),
        emit(num * num / ((p1 - p0) * (p1 - p0)), 2).as("n_per_arm"))
      .orderBy(col("event_type"), col("lift"))
  }

  val powerAnalysisSql: String =
    """WITH bt AS (
      |  SELECT event_type, count(*) AS u FROM events GROUP BY 1
      |),
      |tot AS (SELECT count(*) AS ut FROM events),
      |lifts AS (SELECT unnest([0.01, 0.02, 0.05, 0.10]) AS lift),
      |g AS (
      |  SELECT event_type, lift,
      |    CAST(u AS DOUBLE) / CAST(ut AS DOUBLE) AS p0,
      |    CAST(u AS DOUBLE) / CAST(ut AS DOUBLE) * (1.0 + lift) AS p1
      |  FROM bt CROSS JOIN tot CROSS JOIN lifts
      |)
      |SELECT event_type, lift,
      |  (CAST(round(p0, 6) AS DOUBLE) + 0.0) AS p0,
      |  (CAST(round(p1, 6) AS DOUBLE) + 0.0) AS p1,
      |  (CAST(round(
      |    (1.959964 * sqrt(2.0 * ((p0 + p1) / 2.0) * (1.0 - (p0 + p1) / 2.0))
      |     + 0.841621 * sqrt(p0 * (1.0 - p0) + p1 * (1.0 - p1)))
      |    * (1.959964 * sqrt(2.0 * ((p0 + p1) / 2.0) * (1.0 - (p0 + p1) / 2.0))
      |     + 0.841621 * sqrt(p0 * (1.0 - p0) + p1 * (1.0 - p1)))
      |    / ((p1 - p0) * (p1 - p0)), 2) AS DOUBLE) + 0.0) AS n_per_arm
      |FROM g WHERE p1 < 1.0 ORDER BY event_type, lift""".stripMargin

  /** The SRM arithmetic over any (day, user_id) exposure-pair frame —
    * shared by the batch op and the streaming twin
    * (streaming.srmFromPairs serves THIS over drained stream state,
    * so stream ≡ batch is an identity, the psiFinish pattern). The
    * caller may pass duplicate pairs; both roll-ups distinct first.
    */
  private[graft] def srmServe(pairs: DataFrame): DataFrame = {
    val isA = when(inA, 1L).otherwise(0L)
    val perDay = pairs.select(col("day"), col("user_id")).distinct()
      .select(col("day"), isA.as("isA"))
      .groupBy(col("day"))
      .agg(sum(col("isA")).as("n_a"), sum(lit(1L) - col("isA")).as("n_b"))
    val overall = pairs.select(col("user_id")).distinct()
      .select(isA.as("isA"))
      .agg(sum(col("isA")).as("n_a"), sum(lit(1L) - col("isA")).as("n_b"))
      .select(lit("ALL").as("day"), col("n_a"), col("n_b"))
    val z = (col("n_a") - col("n_b")).cast("double") /
      sqrt((col("n_a") + col("n_b")).cast("double"))
    perDay.unionByName(overall)
      .select(col("day"), col("n_a"), col("n_b"),
        emit(z, 4).as("z_ratio"))
      .withColumn("srm_flag", abs(col("z_ratio")) > 3.0)
      .orderBy(col("day"))
  }

  /** #338 ab_srm_check — sample-ratio-mismatch screen for the running
    * experiment, per exposure day plus the overall rollup: SRM (a
    * 50/50 split that isn't) is the most common way a real A/B test
    * silently lies — a day of broken assignment logging biases every
    * downstream readout, and the fix is detection, not statistics.
    * Arms are [[inA]] (exactly half the hash space, so 50/50 is the
    * true null); per-day exposure = distinct users seen that day per
    * arm (one fine agg), z = (nA−nB)/√(nA+nB) over exact longs,
    * |z| > 3 flags. Exact oracle.
    */
  def abSrmCheck(s: SparkSession, dir: String): DataFrame =
    srmServe(Tables.events(s, dir)
      .select(to_date(col("ts")).cast("string").as("day"), col("user_id")))

  val abSrmCheckSql: String =
    s"""WITH exposed AS (
      |  SELECT DISTINCT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, user_id FROM events
      |),
      |perday AS (
      |  SELECT day,
      |    CAST(sum(CASE WHEN $inASql THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN $inASql THEN 0 ELSE 1 END) AS BIGINT) AS n_b
      |  FROM exposed GROUP BY 1
      |),
      |overall AS (
      |  SELECT 'ALL' AS day,
      |    CAST(sum(CASE WHEN $inASql THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN $inASql THEN 0 ELSE 1 END) AS BIGINT) AS n_b
      |  FROM (SELECT DISTINCT user_id FROM events)
      |),
      |u AS (SELECT * FROM perday UNION ALL SELECT * FROM overall)
      |SELECT day, n_a, n_b,
      |  (CAST(round(CAST(n_a - n_b AS DOUBLE) / sqrt(CAST(n_a + n_b AS DOUBLE)), 4) AS DOUBLE) + 0.0) AS z_ratio,
      |  abs(CAST(round(CAST(n_a - n_b AS DOUBLE) / sqrt(CAST(n_a + n_b AS DOUBLE)), 4) AS DOUBLE)) > 3.0 AS srm_flag
      |FROM u ORDER BY day""".stripMargin

  /** #339 did_lift — difference-in-differences over the experiment's
    * calendar: (post−pre) change in per-user purchase rate for arm B
    * minus the same change for arm A — the causal-inference readout
    * that survives a platform-wide level shift mid-experiment, which
    * ab_lift_report's single post-only comparison would misattribute
    * (parallel-trends is the stated assumption, not magic). Arms are
    * the seeded-md5 device; periods split the event calendar at its
    * midpoint (the psi_drift half rule); each of the four cells is an
    * exposure/purchase pair of exact longs off ONE (arm, period,
    * user) distinct + conditional agg; the four rates round the
    * DuckDB way (`roundDouble`); the DiD chain is a single mirrored
    * float expression over the 4-cell row. Exact oracle.
    */
  def didLift(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(to_date(col("ts")).as("d"), col("user_id"), col("event_type"))
    val span = ev.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val cells = ev.crossJoin(broadcast(span))
      .select(
        variant.as("arm"),
        when(datediff(col("d"), col("lo")) * 2 <= datediff(col("hi"), col("lo")), "pre")
          .otherwise("post").as("period"),
        col("user_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pur"))
      .groupBy(col("arm"), col("period"), col("user_id"))
      .agg(max(col("pur")).as("conv"))
      .groupBy(col("arm"), col("period"))
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
    val wide = cells.agg(
      sum(when(col("arm") === "A" && col("period") === "pre", col("n_conv"))).as("ca_pre"),
      sum(when(col("arm") === "A" && col("period") === "pre", col("n_users"))).as("na_pre"),
      sum(when(col("arm") === "A" && col("period") === "post", col("n_conv"))).as("ca_post"),
      sum(when(col("arm") === "A" && col("period") === "post", col("n_users"))).as("na_post"),
      sum(when(col("arm") === "B" && col("period") === "pre", col("n_conv"))).as("cb_pre"),
      sum(when(col("arm") === "B" && col("period") === "pre", col("n_users"))).as("nb_pre"),
      sum(when(col("arm") === "B" && col("period") === "post", col("n_conv"))).as("cb_post"),
      sum(when(col("arm") === "B" && col("period") === "post", col("n_users"))).as("nb_post"))
    def rate(c: String, n: String): Column = d(c) / d(n)
    wide.select(
      (roundDouble(rate("ca_pre", "na_pre"), 6) + lit(0.0)).as("rate_a_pre"),
      (roundDouble(rate("ca_post", "na_post"), 6) + lit(0.0)).as("rate_a_post"),
      (roundDouble(rate("cb_pre", "nb_pre"), 6) + lit(0.0)).as("rate_b_pre"),
      (roundDouble(rate("cb_post", "nb_post"), 6) + lit(0.0)).as("rate_b_post"),
      emit((rate("cb_post", "nb_post") - rate("cb_pre", "nb_pre"))
        - (rate("ca_post", "na_post") - rate("ca_pre", "na_pre")), 6).as("did"))
  }

  val didLiftSql: String =
    s"""WITH ev AS (SELECT CAST(ts AS DATE) AS d, user_id, event_type FROM events),
      |span AS (SELECT min(d) AS lo, max(d) AS hi FROM ev),
      |pu AS (
      |  SELECT
      |    $variantSql AS arm,
      |    CASE WHEN datediff('day', lo, d) * 2 <= datediff('day', lo, hi) THEN 'pre' ELSE 'post' END AS period,
      |    user_id,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM ev CROSS JOIN span GROUP BY 1, 2, 3
      |),
      |cells AS (
      |  SELECT arm, period, count(*) AS n_users, CAST(sum(conv) AS BIGINT) AS n_conv
      |  FROM pu GROUP BY 1, 2
      |),
      |w AS (
      |  SELECT
      |    CAST(sum(CASE WHEN arm='A' AND period='pre' THEN n_conv END) AS BIGINT) AS ca_pre,
      |    CAST(sum(CASE WHEN arm='A' AND period='pre' THEN n_users END) AS BIGINT) AS na_pre,
      |    CAST(sum(CASE WHEN arm='A' AND period='post' THEN n_conv END) AS BIGINT) AS ca_post,
      |    CAST(sum(CASE WHEN arm='A' AND period='post' THEN n_users END) AS BIGINT) AS na_post,
      |    CAST(sum(CASE WHEN arm='B' AND period='pre' THEN n_conv END) AS BIGINT) AS cb_pre,
      |    CAST(sum(CASE WHEN arm='B' AND period='pre' THEN n_users END) AS BIGINT) AS nb_pre,
      |    CAST(sum(CASE WHEN arm='B' AND period='post' THEN n_conv END) AS BIGINT) AS cb_post,
      |    CAST(sum(CASE WHEN arm='B' AND period='post' THEN n_users END) AS BIGINT) AS nb_post
      |  FROM cells
      |)
      |SELECT
      |  (CAST(round(CAST(ca_pre AS DOUBLE)/CAST(na_pre AS DOUBLE), 6) AS DOUBLE) + 0.0) AS rate_a_pre,
      |  (CAST(round(CAST(ca_post AS DOUBLE)/CAST(na_post AS DOUBLE), 6) AS DOUBLE) + 0.0) AS rate_a_post,
      |  (CAST(round(CAST(cb_pre AS DOUBLE)/CAST(nb_pre AS DOUBLE), 6) AS DOUBLE) + 0.0) AS rate_b_pre,
      |  (CAST(round(CAST(cb_post AS DOUBLE)/CAST(nb_post AS DOUBLE), 6) AS DOUBLE) + 0.0) AS rate_b_post,
      |  (CAST(round(
      |    (CAST(cb_post AS DOUBLE)/CAST(nb_post AS DOUBLE) - CAST(cb_pre AS DOUBLE)/CAST(nb_pre AS DOUBLE))
      |    - (CAST(ca_post AS DOUBLE)/CAST(na_post AS DOUBLE) - CAST(ca_pre AS DOUBLE)/CAST(na_pre AS DOUBLE)),
      |    6) AS DOUBLE) + 0.0) AS did
      |FROM w""".stripMargin

  /** #352 covariate_balance_smd — standardized mean differences of
    * pre-treatment covariates between the md5 experiment arms
    * (Austin 2009's balance table): the check did_lift and
    * ab_lift_report silently assume — randomization that failed on a
    * covariate (|SMD| > 0.1) biases every downstream readout, and no
    * outcome statistic will say so. Per-user covariates (event count,
    * purchase count, purchase value, active days) collapse in ONE
    * fine-keyed agg; per-(covariate, arm) moments are 6/12-dp rounded
    * DECIMAL sums (order-free); SMD = (μA−μB)/√((s²A+s²B)/2) runs on
    * the bounded 4-row frame, mirrored. Exact oracle.
    */
  def covariateBalanceSmd(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).cast("double").as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).cast("double")
          .as("n_purchases"),
        emit(dsum(when(col("event_type") === "purchase", round(col("value"), 6))
          .otherwise(lit(0.0))), 6).as("purchase_value"),
        countDistinct(to_date(col("ts"))).cast("double").as("active_days"))
      .select(variant.as("arm"),
        explode(array(
          struct(lit("n_events").as("cov"), col("n_events").as("x")),
          struct(lit("n_purchases").as("cov"), col("n_purchases").as("x")),
          struct(lit("purchase_value").as("cov"), col("purchase_value").as("x")),
          struct(lit("active_days").as("cov"), col("active_days").as("x")))).as("c"))
      .select(col("arm"), col("c.cov").as("cov"), col("c.x").as("x"))
    val mu = d("s1") / d("n")
    val m = perUser.groupBy(col("cov"), col("arm"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("x"), 6).cast(Dec12)).as("s1"),
        sum(round(col("x") * col("x"), 12).cast(Dec12)).as("s2"))
      .select(col("cov"), col("arm"), col("n"),
        mu.as("mu"), (d("s2") / d("n") - mu * mu).as("vr"))
    val wide = m.groupBy(col("cov"))
      .agg(
        armSum("A", "mu", by = "arm").as("mu_a"), armSum("B", "mu", by = "arm").as("mu_b"),
        armSum("A", "vr", by = "arm").as("vr_a"), armSum("B", "vr", by = "arm").as("vr_b"))
    wide.select(col("cov"),
      emit(col("mu_a"), 6).as("mean_a"), emit(col("mu_b"), 6).as("mean_b"),
      emit((col("mu_a") - col("mu_b"))
        / sqrt((col("vr_a") + col("vr_b")) / lit(2.0)), 6).as("smd"))
      .withColumn("imbalanced", abs(col("smd")) > 0.1)
      .orderBy(col("cov"))
  }

  val covariateBalanceSmdSql: String =
    s"""WITH pu AS (
      |  SELECT user_id,
      |    CAST(count(*) AS DOUBLE) AS n_events,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) AS n_purchases,
      |    (CAST(round(CAST(sum(CAST(CASE WHEN event_type = 'purchase'
      |      THEN round(value, 6) ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS purchase_value,
      |    CAST(count(DISTINCT CAST(ts AS DATE)) AS DOUBLE) AS active_days
      |  FROM events GROUP BY 1
      |),
      |long AS (
      |  SELECT $variantSql AS arm,
      |    cov, x
      |  FROM pu, LATERAL (VALUES
      |    ('n_events', n_events), ('n_purchases', n_purchases),
      |    ('purchase_value', purchase_value), ('active_days', active_days)) AS t(cov, x)
      |),
      |m AS (
      |  SELECT cov, arm, count(*) AS n,
      |    CAST(sum(CAST(round(x, 6) AS DECIMAL(38,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu,
      |    CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |      - (CAST(sum(CAST(round(x, 6) AS DECIMAL(38,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE))
      |        * (CAST(sum(CAST(round(x, 6) AS DECIMAL(38,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS vr
      |  FROM long GROUP BY 1, 2
      |),
      |wide AS (
      |  SELECT cov,
      |    sum(CASE WHEN arm = 'A' THEN mu END) AS mu_a,
      |    sum(CASE WHEN arm = 'B' THEN mu END) AS mu_b,
      |    sum(CASE WHEN arm = 'A' THEN vr END) AS vr_a,
      |    sum(CASE WHEN arm = 'B' THEN vr END) AS vr_b
      |  FROM m GROUP BY 1
      |)
      |SELECT cov,
      |  (CAST(round(mu_a, 6) AS DOUBLE) + 0.0) AS mean_a,
      |  (CAST(round(mu_b, 6) AS DOUBLE) + 0.0) AS mean_b,
      |  (CAST(round((mu_a - mu_b) / sqrt((vr_a + vr_b) / 2.0), 6) AS DOUBLE) + 0.0) AS smd,
      |  abs(CAST(round((mu_a - mu_b) / sqrt((vr_a + vr_b) / 2.0), 6) AS DOUBLE)) > 0.1 AS imbalanced
      |FROM wide ORDER BY cov""".stripMargin

  /** #404 logrank_test — the log-rank (Mantel–Cox) two-sample
    * survival comparison over time-to-first-purchase between the A/B
    * hash split, completing the survival family: conversion_survival
    * draws ONE Kaplan–Meier curve, churn_hazard one life table — THIS
    * is the test that says whether two curves DIFFER (the censoring-
    * aware comparison a naive conversion-rate z gets wrong when
    * observation windows differ per user). Arms, durations and
    * censoring come from [[firstPurchase]]. At each event day:
    * observed A-events vs expected d_j·N_A/N under H0, hypergeometric
    * variance — all at-risk counts exact longs from ONE
    * reverse-cumulative window over the bounded duration-day axis (the
    * churn_hazard rule; never over raw events), per-day E/V terms
    * 12-dp rounds into order-free DECIMAL sums, chi2 one double
    * expression at the end. Exact oracle.
    */
  def logrankTest(s: SparkSession, dir: String): DataFrame = {
    val marked = firstPurchase(Tables.events(s, dir))
    val daily = marked.groupBy(col("d"))
      .agg(
        sum(when(col("variant") === "A" && col("event"), 1L).otherwise(0L)).as("da"),
        sum(when(col("variant") === "B" && col("event"), 1L).otherwise(0L)).as("db"),
        sum(when(col("variant") === "A", 1L).otherwise(0L)).as("ta"),
        sum(when(col("variant") === "B", 1L).otherwise(0L)).as("tb"))
    val wrisk = Window.orderBy(col("d").desc).rowsBetween(Window.unboundedPreceding, 0)
    // the window runs over the bounded duration-day axis, never raw rows
    val risky = daily
      .withColumn("na", sum(col("ta")).over(wrisk))
      .withColumn("nb", sum(col("tb")).over(wrisk))
    val dj = col("da") + col("db")
    val n = col("na") + col("nb")
    val terms = risky.filter(dj > 0)
      .select(col("da"), col("db"),
        round(dj.cast("double") * d("na") / n.cast("double"), 12).cast(Dec12).as("e1t"),
        when(n > 1,
          round(dj.cast("double") * d("na") / n.cast("double")
            * d("nb") / n.cast("double")
            * (n - dj).cast("double") / (n - lit(1L)).cast("double"), 12))
          .otherwise(lit(0.0)).cast(Dec12).as("vt"))
      .agg(sum(col("da")).as("o1"), sum(col("db")).as("o2"),
        sum(col("e1t")).as("e1"), sum(col("vt")).as("v"))
    val sizes = marked.agg(
      sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"))
    val e1d = d("e1")
    val chi2 = (d("o1") - e1d) * (d("o1") - e1d) / greatest(d("v"), lit(1e-12))
    sizes.crossJoin(broadcast(terms))
      .select(col("n_a"), col("n_b"), col("o1").as("conv_a"), col("o2").as("conv_b"),
        emit(e1d, 6).as("expected_a"), emit(chi2, 4).as("chi2"),
        lit(3.841).as("chi2_cut_5pct_df1"))
      .withColumn("significant", col("chi2") > col("chi2_cut_5pct_df1"))
  }

  val logrankTestSql: String =
    s"""WITH pu AS (
      |  SELECT user_id, min(CAST(ts AS DATE)) AS first_d,
      |    min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END) AS purch_d
      |  FROM events GROUP BY 1
      |),
      |hz AS (SELECT max(CAST(ts AS DATE)) AS hz FROM events),
      |marked AS (
      |  SELECT
      |    $variantSql AS variant,
      |    CAST(CASE WHEN purch_d IS NOT NULL THEN datediff('day', first_d, purch_d)
      |         ELSE datediff('day', first_d, hz) END AS BIGINT) AS d,
      |    purch_d IS NOT NULL AS event
      |  FROM pu CROSS JOIN hz
      |),
      |daily AS (
      |  SELECT d,
      |    CAST(sum(CASE WHEN variant = 'A' AND event THEN 1 ELSE 0 END) AS BIGINT) AS da,
      |    CAST(sum(CASE WHEN variant = 'B' AND event THEN 1 ELSE 0 END) AS BIGINT) AS db,
      |    CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ta,
      |    CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS tb
      |  FROM marked GROUP BY 1
      |),
      |risky AS (
      |  SELECT d, da, db,
      |    CAST(sum(ta) OVER (ORDER BY d DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS na,
      |    CAST(sum(tb) OVER (ORDER BY d DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nb
      |  FROM daily
      |),
      |terms AS (
      |  SELECT
      |    CAST(sum(da) AS BIGINT) AS o1, CAST(sum(db) AS BIGINT) AS o2,
      |    CAST(sum(CAST(round(CAST(da + db AS DOUBLE) * CAST(na AS DOUBLE)
      |      / CAST(na + nb AS DOUBLE), 12) AS DECIMAL(38,12))) AS DOUBLE) AS e1,
      |    CAST(sum(CAST(CASE WHEN na + nb > 1 THEN
      |      round(CAST(da + db AS DOUBLE) * CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE)
      |        * CAST(nb AS DOUBLE) / CAST(na + nb AS DOUBLE)
      |        * CAST(na + nb - (da + db) AS DOUBLE) / CAST(na + nb - 1 AS DOUBLE), 12)
      |      ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE) AS v
      |  FROM risky WHERE da + db > 0
      |),
      |sizes AS (
      |  SELECT
      |    CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM marked
      |)
      |SELECT n_a, n_b, o1 AS conv_a, o2 AS conv_b,
      |  (CAST(round(e1, 6) AS DOUBLE) + 0.0) AS expected_a,
      |  (CAST(round((CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1)
      |    / greatest(v, 1e-12), 4) AS DOUBLE) + 0.0) AS chi2,
      |  3.841 AS chi2_cut_5pct_df1,
      |  CAST(round((CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1)
      |    / greatest(v, 1e-12), 4) AS DOUBLE) > 3.841 AS significant
      |FROM sizes CROSS JOIN terms""".stripMargin

  /** #387 cuped_lift_report — CUPED (Controlled-experiment Using
    * Pre-Experiment Data, Deng et al. WSDM'13): the variance-reduced
    * A/B readout. Users hash into A/B by the seeded-md5 device; the
    * event span splits into pre/post halves by the integer-microsecond
    * midpoint (the ks halves device — `2·t ≤ lo+hi`, no division);
    * per-user X = pre-period value sum, Y = post-period value sum
    * (both DECIMAL(38,6)-exact). θ = cov(X,Y)/var(X) is pooled across
    * variants — computed from five exact moments (Σx, Σy decimal;
    * Σxy, Σx², Σy² as 12-dp-rounded products in DECIMAL(38,12) sums),
    * so both engines derive the identical doubles. The adjusted mean
    * per variant is mean(Y) − θ·(mean(X) − mean(X)_pool); the report
    * carries raw and CUPED lift plus the realized variance-reduction
    * share ρ² (the fraction of metric variance the covariate
    * explains). Scale: one per-user aggregate (map-side combined, the
    * only data-sized shuffle), then a 2-row variant rollup folded to
    * one row. Exact oracle.
    */
  def cupedLiftReport(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val span = ev.agg(
      min(unix_micros(col("ts"))).as("lo"), max(unix_micros(col("ts"))).as("hi"))
    val pre = unix_micros(col("ts")) * 2 <= col("lo") + col("hi")
    val perUser = ev.crossJoin(broadcast(span))
      .groupBy(col("user_id"))
      .agg(
        dsum(when(pre, col("value")).otherwise(lit(0.0))).as("x"),
        dsum(when(pre, lit(0.0)).otherwise(col("value"))).as("y"))
      .select(variant.as("variant"), col("x"), col("y"))
    val xd = d("x")
    val yd = d("y")
    val m = perUser.groupBy(col("variant"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(round(xd * yd, 12).cast(Dec12)).as("sxy"),
        sum(round(xd * xd, 12).cast(Dec12)).as("sxx"),
        sum(round(yd * yd, 12).cast(Dec12)).as("syy"))
    val wide = m.agg(
      armSum("A", "n").as("na"), armSum("B", "n").as("nb"),
      armSum("A", "sx").as("sxa"), armSum("B", "sx").as("sxb"),
      armSum("A", "sy").as("sya"), armSum("B", "sy").as("syb"),
      sum(col("sxy")).as("sxy"), sum(col("sxx")).as("sxx"), sum(col("syy")).as("syy"))
    val n = (col("na") + col("nb")).cast("double")
    val sx = d("sxa") + d("sxb")
    val sy = d("sya") + d("syb")
    val cxy = d("sxy") - sx * sy / n
    val cxx = d("sxx") - sx * sx / n
    val cyy = d("syy") - sy * sy / n
    val theta = cxy / cxx
    val mxp = sx / n
    val mxa = d("sxa") / d("na"); val mxb = d("sxb") / d("nb")
    val mya = d("sya") / d("na"); val myb = d("syb") / d("nb")
    val adjA = mya - theta * (mxa - mxp)
    val adjB = myb - theta * (mxb - mxp)
    wide.select(
      col("na").as("n_a"), col("nb").as("n_b"),
      emit(mxa, 6).as("pre_mean_a"), emit(mxb, 6).as("pre_mean_b"),
      emit(mya, 6).as("mean_a"), emit(myb, 6).as("mean_b"),
      emit(theta, 6).as("theta"),
      emit(adjA, 6).as("cuped_mean_a"), emit(adjB, 6).as("cuped_mean_b"),
      emit(myb - mya, 6).as("raw_lift"),
      emit(adjB - adjA, 6).as("cuped_lift"),
      emit(cxy * cxy / (cxx * cyy), 6).as("var_reduction"))
  }

  val cupedLiftReportSql: String =
    s"""WITH span AS (
      |  SELECT CAST(min(epoch_us(ts)) AS BIGINT) AS lo,
      |         CAST(max(epoch_us(ts)) AS BIGINT) AS hi
      |  FROM events
      |), pu AS (
      |  SELECT user_id,
      |    sum(CAST(CASE WHEN epoch_us(ts) * 2 <= lo + hi THEN value ELSE 0.0 END AS DECIMAL(38,6))) AS x,
      |    sum(CAST(CASE WHEN epoch_us(ts) * 2 <= lo + hi THEN 0.0 ELSE value END AS DECIMAL(38,6))) AS y
      |  FROM events CROSS JOIN span GROUP BY user_id
      |), v AS (
      |  SELECT $variantSql AS variant,
      |    x, y, CAST(x AS DOUBLE) AS xd, CAST(y AS DOUBLE) AS yd
      |  FROM pu
      |), m AS (
      |  SELECT variant, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |    sum(CAST(round(xd * yd, 12) AS DECIMAL(38,12))) AS sxy,
      |    sum(CAST(round(xd * xd, 12) AS DECIMAL(38,12))) AS sxx,
      |    sum(CAST(round(yd * yd, 12) AS DECIMAL(38,12))) AS syy
      |  FROM v GROUP BY variant
      |), w AS (
      |  SELECT
      |    CAST(sum(CASE WHEN variant='A' THEN n END) AS BIGINT) AS na,
      |    CAST(sum(CASE WHEN variant='B' THEN n END) AS BIGINT) AS nb,
      |    sum(CASE WHEN variant='A' THEN sx END) AS sxa,
      |    sum(CASE WHEN variant='B' THEN sx END) AS sxb,
      |    sum(CASE WHEN variant='A' THEN sy END) AS sya,
      |    sum(CASE WHEN variant='B' THEN sy END) AS syb,
      |    sum(sxy) AS sxy, sum(sxx) AS sxx, sum(syy) AS syy
      |  FROM m
      |), f AS (
      |  SELECT na, nb,
      |    CAST(na + nb AS DOUBLE) AS n,
      |    CAST(sxa AS DOUBLE) + CAST(sxb AS DOUBLE) AS sx,
      |    CAST(sya AS DOUBLE) + CAST(syb AS DOUBLE) AS sy,
      |    CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) AS mxa,
      |    CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE) AS mxb,
      |    CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) AS mya,
      |    CAST(syb AS DOUBLE) / CAST(nb AS DOUBLE) AS myb,
      |    CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
      |    CAST(syy AS DOUBLE) AS syyd
      |  FROM w
      |), g AS (
      |  SELECT na, nb, mxa, mxb, mya, myb,
      |    sxyd - sx * sy / n AS cxy,
      |    sxxd - sx * sx / n AS cxx,
      |    syyd - sy * sy / n AS cyy,
      |    (sxyd - sx * sy / n) / (sxxd - sx * sx / n) AS theta,
      |    sx / n AS mxp
      |  FROM f
      |)
      |SELECT na AS n_a, nb AS n_b,
      |  (CAST(round(mxa, 6) AS DOUBLE) + 0.0) AS pre_mean_a,
      |  (CAST(round(mxb, 6) AS DOUBLE) + 0.0) AS pre_mean_b,
      |  (CAST(round(mya, 6) AS DOUBLE) + 0.0) AS mean_a,
      |  (CAST(round(myb, 6) AS DOUBLE) + 0.0) AS mean_b,
      |  (CAST(round(theta, 6) AS DOUBLE) + 0.0) AS theta,
      |  (CAST(round(mya - theta * (mxa - mxp), 6) AS DOUBLE) + 0.0) AS cuped_mean_a,
      |  (CAST(round(myb - theta * (mxb - mxp), 6) AS DOUBLE) + 0.0) AS cuped_mean_b,
      |  (CAST(round(myb - mya, 6) AS DOUBLE) + 0.0) AS raw_lift,
      |  (CAST(round((myb - theta * (mxb - mxp)) - (mya - theta * (mxa - mxp)), 6) AS DOUBLE) + 0.0) AS cuped_lift,
      |  (CAST(round(cxy * cxy / (cxx * cyy), 6) AS DOUBLE) + 0.0) AS var_reduction
      |FROM g""".stripMargin

  /** #388 mantel_haenszel — the stratified odds ratio: heavy-purchaser
    * outcome (≥14 purchases — the per-user purchase median, so the
    * 2×2 actually splits; EVERY user here has ≥1 purchase, which is
    * why the naive any-purchase outcome degenerates) by variant within
    * user-activity strata (event-count tiers <60 / <75 / ≥75 around
    * the observed ~66 median): the per-stratum OR, the crude
    * (collapsed) OR, and the Mantel–Haenszel pooled OR
    * Σ(aᵢdᵢ/nᵢ)/Σ(bᵢcᵢ/nᵢ). The crude-vs-MH gap IS the Simpson's
    * paradox check: activity correlates with both the outcome and any
    * assignment imbalance, and the MH estimate is the
    * confounder-adjusted effect a flat 2×2 misstates. Scale: one
    * per-user aggregate, a |strata|-row cell rollup, broadcast summary
    * join. The per-stratum a·d/n terms round to 12 dp into
    * DECIMAL(38,12) sums (order-free); every OR division is
    * zero-guarded to NULL in BOTH engines (ANSI Spark raises on ÷0 —
    * sparse strata at small SF make zero cross-products reachable).
    * Exact oracle.
    */
  def mantelHaenszel(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
      .select(
        variant.as("variant"),
        when(col("n_ev") < 60, "1_low").when(col("n_ev") < 75, "2_mid")
          .otherwise("3_high").as("stratum"),
        when(col("np") >= 14, 1L).otherwise(0L).as("conv"))
    def cell(v: String, cv: Long) =
      sum(when(col("variant") === v && col("conv") === cv, 1L).otherwise(0L))
    val cells = perUser.groupBy(col("stratum"))
      .agg(cell("B", 1L).as("a"), cell("B", 0L).as("b"),
        cell("A", 1L).as("c"), cell("A", 0L).as("d"))
    val n = (col("a") + col("b") + col("c") + col("d")).cast("double")
    val pooled = cells.agg(
      sum(col("a")).as("sa"), sum(col("b")).as("sb"),
      sum(col("c")).as("sc"), sum(col("d")).as("sd"),
      sum(round(d("a") * d("d") / n, 12).cast(Dec12)).as("num"),
      sum(round(d("b") * d("c") / n, 12).cast(Dec12)).as("den"))
    cells
      .crossJoin(broadcast(pooled))
      .select(
        col("stratum"),
        col("a").as("conv_b"), col("b").as("nonconv_b"),
        col("c").as("conv_a"), col("d").as("nonconv_a"),
        when(col("b") * col("c") === 0, lit(null).cast("double"))
          .otherwise(emit(d("a") * d("d") / (d("b") * d("c")), 6)).as("or_stratum"),
        when(col("sb") * col("sc") === 0, lit(null).cast("double"))
          .otherwise(emit(d("sa") * d("sd") / (d("sb") * d("sc")), 6)).as("or_crude"),
        when(col("den") === 0, lit(null).cast("double"))
          .otherwise(emit(d("num") / d("den"), 6)).as("or_mh"))
      .orderBy(col("stratum"))
  }

  val mantelHaenszelSql: String =
    s"""WITH pu AS (
      |  SELECT user_id, count(*) AS n_ev,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
      |  FROM events GROUP BY user_id
      |), v AS (
      |  SELECT
      |    $variantSql AS variant,
      |    CASE WHEN n_ev < 60 THEN '1_low' WHEN n_ev < 75 THEN '2_mid' ELSE '3_high' END AS stratum,
      |    CASE WHEN np >= 14 THEN 1 ELSE 0 END AS conv
      |  FROM pu
      |), cells AS (
      |  SELECT stratum,
      |    CAST(sum(CASE WHEN variant='B' AND conv=1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN variant='B' AND conv=0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN variant='A' AND conv=1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN variant='A' AND conv=0 THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM v GROUP BY stratum
      |), pooled AS (
      |  SELECT
      |    CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
      |    CAST(sum(c) AS BIGINT) AS sc, CAST(sum(d) AS BIGINT) AS sd,
      |    sum(CAST(round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE) / CAST(a + b + c + d AS DOUBLE), 12) AS DECIMAL(38,12))) AS num,
      |    sum(CAST(round(CAST(b AS DOUBLE) * CAST(c AS DOUBLE) / CAST(a + b + c + d AS DOUBLE), 12) AS DECIMAL(38,12))) AS den
      |  FROM cells
      |)
      |SELECT stratum,
      |  a AS conv_b, b AS nonconv_b, c AS conv_a, d AS nonconv_a,
      |  CASE WHEN b * c = 0 THEN NULL
      |    ELSE (CAST(round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE) / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)), 6) AS DOUBLE) + 0.0)
      |  END AS or_stratum,
      |  CASE WHEN sb * sc = 0 THEN NULL
      |    ELSE (CAST(round(CAST(sa AS DOUBLE) * CAST(sd AS DOUBLE) / (CAST(sb AS DOUBLE) * CAST(sc AS DOUBLE)), 6) AS DOUBLE) + 0.0)
      |  END AS or_crude,
      |  CASE WHEN den = 0 THEN NULL
      |    ELSE (CAST(round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS DOUBLE) + 0.0)
      |  END AS or_mh
      |FROM cells CROSS JOIN pooled
      |ORDER BY stratum""".stripMargin

  /** #394 delta_method_ci — the ratio-metric readout: revenue per
    * purchase R = ΣY/ΣK per variant with the delta-method standard
    * error Var(R) ≈ (σ²_y − 2Rσ_yk + R²σ²_k)/(n·k̄²) — per-user
    * totals are NOT i.i.d. revenue draws, so the naive per-event
    * variance understates the CI (the classic ratio-metric trap;
    * ab_lift #256 reads a proportion, CUPED #387 a mean — this is
    * the third metric family, ratios). Per-user Y (purchase value,
    * DECIMAL-exact) and K (purchase count) fold in the CUPED moment
    * device (Σy decimal, Σk long, Σy²/Σyk/Σk² 12-dp→Dec12); the
    * two-variant z for the ratio DIFFERENCE broadcasts back onto
    * both rows. Scale: one per-user pass, 2-row rollup. Exact
    * oracle.
    */
  def deltaMethodCi(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        dsum(when(col("event_type") === "purchase", col("value")).otherwise(lit(0.0)))
          .as("y"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("k"))
      .select(variant.as("variant"), col("y"), col("k"))
    val yd = d("y")
    val kd = d("k")
    val m = perUser.groupBy(col("variant"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("y")).as("sy"), sum(col("k")).as("sk"),
        sum(round(yd * yd, 12).cast(Dec12)).as("syy"),
        sum(round(yd * kd, 12).cast(Dec12)).as("syk"),
        sum(round(kd * kd, 12).cast(Dec12)).as("skk"))
    val nn = d("n")
    val my = d("sy") / nn
    val mk = d("sk") / nn
    val r = my / mk
    val vy = d("syy") / nn - my * my
    val vk = d("skk") / nn - mk * mk
    val cyk = d("syk") / nn - my * mk
    val varR = (vy - lit(2.0) * r * cyk + r * r * vk) / (nn * mk * mk)
    val se = sqrt(varR)
    val rows = m.select(
      col("variant"), col("n").as("n_users"),
      emit(r, 6).as("ratio"),
      emit(se, 6).as("se"),
      emit(r - lit(1.96) * se, 6).as("ci_lo"),
      emit(r + lit(1.96) * se, 6).as("ci_hi"),
      round(varR, 12).as("var_r"))
    val diff = rows.agg(
      armSum("A", "ratio").as("ra"), armSum("B", "ratio").as("rb"),
      armSum("A", "var_r").as("va"), armSum("B", "var_r").as("vb"))
      .select(emit((col("rb") - col("ra")) / sqrt(col("va") + col("vb")), 4).as("z_diff"))
    rows.drop("var_r").crossJoin(broadcast(diff)).orderBy(col("variant"))
  }

  val deltaMethodCiSql: String =
    s"""WITH pu AS (
      |  SELECT user_id,
      |    sum(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS DECIMAL(38,6))) AS y,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS k
      |  FROM events GROUP BY user_id
      |), v AS (
      |  SELECT $variantSql AS variant,
      |    y, k, CAST(y AS DOUBLE) AS yd, CAST(k AS DOUBLE) AS kd
      |  FROM pu
      |), m AS (
      |  SELECT variant, count(*) AS n, sum(y) AS sy, CAST(sum(k) AS BIGINT) AS sk,
      |    sum(CAST(round(yd * yd, 12) AS DECIMAL(38,12))) AS syy,
      |    sum(CAST(round(yd * kd, 12) AS DECIMAL(38,12))) AS syk,
      |    sum(CAST(round(kd * kd, 12) AS DECIMAL(38,12))) AS skk
      |  FROM v GROUP BY variant
      |), f AS (
      |  SELECT variant, n,
      |    CAST(n AS DOUBLE) AS nn,
      |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my,
      |    CAST(sk AS DOUBLE) / CAST(n AS DOUBLE) AS mk,
      |    CAST(syy AS DOUBLE) / CAST(n AS DOUBLE) AS myy,
      |    CAST(syk AS DOUBLE) / CAST(n AS DOUBLE) AS myk,
      |    CAST(skk AS DOUBLE) / CAST(n AS DOUBLE) AS mkk
      |  FROM m
      |), g AS (
      |  SELECT variant, n, nn, my, mk,
      |    my / mk AS r,
      |    myy - my * my AS vy,
      |    mkk - mk * mk AS vk,
      |    myk - my * mk AS cyk
      |  FROM f
      |), h AS (
      |  SELECT variant, n, r,
      |    sqrt((vy - 2.0 * r * cyk + r * r * vk) / (nn * mk * mk)) AS se,
      |    round((vy - 2.0 * r * cyk + r * r * vk) / (nn * mk * mk), 12) AS var_r
      |  FROM g
      |), rows_out AS (
      |  SELECT variant, n AS n_users,
      |    (CAST(round(r, 6) AS DOUBLE) + 0.0) AS ratio,
      |    (CAST(round(se, 6) AS DOUBLE) + 0.0) AS se,
      |    (CAST(round(r - 1.96 * se, 6) AS DOUBLE) + 0.0) AS ci_lo,
      |    (CAST(round(r + 1.96 * se, 6) AS DOUBLE) + 0.0) AS ci_hi,
      |    var_r
      |  FROM h
      |), diff AS (
      |  SELECT (CAST(round(
      |    (sum(CASE WHEN variant='B' THEN ratio END) - sum(CASE WHEN variant='A' THEN ratio END))
      |    / sqrt(sum(CASE WHEN variant='A' THEN var_r END) + sum(CASE WHEN variant='B' THEN var_r END)), 4) AS DOUBLE) + 0.0) AS z_diff
      |  FROM rows_out
      |)
      |SELECT variant, n_users, ratio, se, ci_lo, ci_hi, z_diff
      |FROM rows_out CROSS JOIN diff
      |ORDER BY variant""".stripMargin

  /** #415 rmst_report — restricted mean survival time to τ = 30 days
    * for time-to-first-purchase, per A/B hash variant (logrank
    * #404's [[firstPurchase]] frame): RMST(τ) = ∫₀^τ S(t)dt, the
    * average purchase-free days within a 30-day window — the EFFECT
    * SIZE behind logrank's yes/no (two curves can differ
    * significantly by a medically/commercially irrelevant margin;
    * RMST is the difference in days a decision actually weighs). The
    * KM product Π(1−d/n) walks as exp(Σ ln(1−d/n)) with 12-dp rounds
    * into an ordered cumsum (the markov device), at-risk counts from
    * ONE reverse-cumulative window over the bounded duration-day axis
    * (the churn_hazard rule), and the integral is a Σ S(tᵢ)·Δt of
    * 12-dp-rounded terms in a DECIMAL(38,12) sum. Exact oracle.
    */
  def rmstReport(s: SparkSession, dir: String): DataFrame = {
    val tau = 30L
    val daily = graft.Lineage.cut(firstPurchase(Tables.events(s, dir))
      .groupBy(col("variant"), col("d"))
      .agg(sum(when(col("event"), 1L).otherwise(0L)).as("dv"),
        count(lit(1)).as("tv")))
    val wrisk = Window.partitionBy(col("variant")).orderBy(col("d").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wkm = Window.partitionBy(col("variant")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wlead = Window.partitionBy(col("variant")).orderBy(col("d"))
    // at-risk via the reverse cumsum; KM via the ordered ln-cumsum. A
    // day where EVERYONE at risk purchases (dv = n) sends the product
    // to exactly 0 — ln is undefined there (DuckDB errors, Spark nulls
    // silently), so that day raises a cumulative "extinct" flag and
    // survival reads 0.0 from it onward on both engines.
    val km = daily
      .withColumn("n", sum(col("tv")).over(wrisk))
      .withColumn("lnterm",
        when(col("dv") > 0 && col("dv") < col("n"),
          round(log(lit(1.0) - d("dv") / d("n")), 12)
            .cast(Dec12))
          .otherwise(lit(0).cast(Dec12)))
      .withColumn("extinct", max(when(col("dv") === col("n"), 1L).otherwise(0L)).over(wkm))
      .withColumn("lncum", sum(col("lnterm")).over(wkm))
      .withColumn("surv",
        when(col("extinct") === 1L, lit(0.0))
          .otherwise(round(exp(d("lncum")), 12)))
    // integral: S is right-continuous — on [t_i, t_{i+1}) the curve
    // reads S(t_i); the first segment [0, t_min) reads S = 1
    val seg = km
      .withColumn("t_next", coalesce(lead(col("d"), 1).over(wlead), lit(tau)))
      .withColumn("lo", least(col("d"), lit(tau)))
      .withColumn("hi", least(col("t_next"), lit(tau)))
      .withColumn("contrib",
        when(col("hi") > col("lo"),
          round(col("surv") * (col("hi") - col("lo")).cast("double"), 12).cast(Dec12))
          .otherwise(lit(0).cast(Dec12)))
    val head = km
      .groupBy(col("variant"))
      .agg(min(col("d")).as("dmin"), sum(col("dv")).as("n_events"),
        sum(col("tv")).as("n_users"))
      .select(col("variant"), col("n_events"), col("n_users"),
        least(col("dmin"), lit(tau)).cast("double").as("head_area"))
    seg.groupBy(col("variant"))
      .agg(sum(col("contrib")).as("tail_area"))
      .join(broadcast(head), Seq("variant"))
      .select(
        col("variant"), col("n_users"), col("n_events"),
        emit(col("head_area") + d("tail_area"), 4).as("rmst_30d"))
      .orderBy(col("variant"))
  }

  val rmstReportSql: String =
    s"""WITH per_user AS (
      |  SELECT user_id, min(CAST(ts AS DATE)) AS first_d,
      |    min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END) AS purch_d
      |  FROM events GROUP BY 1
      |), horizon AS (SELECT max(CAST(ts AS DATE)) AS hz FROM events),
      |marked AS (
      |  SELECT $variantSql AS variant,
      |    CAST(CASE WHEN purch_d IS NOT NULL THEN purch_d - first_d ELSE hz - first_d END AS BIGINT) AS d,
      |    purch_d IS NOT NULL AS event
      |  FROM per_user CROSS JOIN horizon
      |), daily AS (
      |  SELECT variant, d,
      |    CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS dv,
      |    count(*) AS tv
      |  FROM marked GROUP BY 1, 2
      |), km AS (
      |  SELECT variant, d, dv, tv,
      |    CAST(sum(tv) OVER (PARTITION BY variant ORDER BY d DESC) AS BIGINT) AS n
      |  FROM daily
      |), km2 AS (
      |  SELECT variant, d, dv, tv, n,
      |    CASE WHEN dv > 0 AND dv < n THEN CAST(round(ln(1.0 - CAST(dv AS DOUBLE) / CAST(n AS DOUBLE)), 12) AS DECIMAL(38,12))
      |      ELSE CAST(0 AS DECIMAL(38,12)) END AS lnterm,
      |    CASE WHEN dv = n THEN 1 ELSE 0 END AS ext0
      |  FROM km
      |), km3 AS (
      |  SELECT variant, d, dv, tv,
      |    CASE WHEN max(ext0) OVER (PARTITION BY variant ORDER BY d) = 1 THEN 0.0
      |      ELSE round(exp(CAST(sum(lnterm) OVER (PARTITION BY variant ORDER BY d) AS DOUBLE)), 12) END AS surv,
      |    coalesce(lead(d, 1) OVER (PARTITION BY variant ORDER BY d), 30) AS t_next
      |  FROM km2
      |), seg AS (
      |  SELECT variant,
      |    CASE WHEN least(t_next, 30) > least(d, 30)
      |      THEN CAST(round(surv * CAST(least(t_next, 30) - least(d, 30) AS DOUBLE), 12) AS DECIMAL(38,12))
      |      ELSE CAST(0 AS DECIMAL(38,12)) END AS contrib,
      |    dv, tv, d
      |  FROM km3
      |), head AS (
      |  SELECT variant, CAST(sum(dv) AS BIGINT) AS n_events, CAST(sum(tv) AS BIGINT) AS n_users,
      |    CAST(least(min(d), 30) AS DOUBLE) AS head_area
      |  FROM seg GROUP BY 1
      |)
      |SELECT seg.variant, n_users, n_events,
      |  (CAST(round(CAST(head_area + CAST(sum(contrib) AS DOUBLE) AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS rmst_30d
      |FROM seg JOIN head ON seg.variant = head.variant
      |GROUP BY seg.variant, n_users, n_events, head_area
      |ORDER BY seg.variant""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("ab_lift_report", abLiftReport, abLiftReportSql),
    exact("ab_sequential_monitor", abSequentialMonitor, abSequentialMonitorSql),
    exact("power_analysis", powerAnalysis, powerAnalysisSql),
    exact("ab_srm_check", abSrmCheck, abSrmCheckSql),
    exact("did_lift", didLift, didLiftSql),
    exact("covariate_balance_smd", covariateBalanceSmd, covariateBalanceSmdSql),
    exact("logrank_test", logrankTest, logrankTestSql),
    exact("cuped_lift_report", cupedLiftReport, cupedLiftReportSql),
    exact("mantel_haenszel", mantelHaenszel, mantelHaenszelSql),
    exact("delta_method_ci", deltaMethodCi, deltaMethodCiSql),
    exact("rmst_report", rmstReport, rmstReportSql))
}
