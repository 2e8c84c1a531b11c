package graft.queries

import graft.{Key, OracleMath, Tables}
import graft.Key.exact
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** User-behavior mining over the event stream: the first-order
  * transition matrix (the model behind next-action prediction and the
  * generalization of event_paths' fixed trigrams) and first/last-touch
  * attribution (which entry action leads to conversion — the question
  * every funnel report approximates).
  */
object BehaviorOps {
  import OracleMath._

  /** #123 markov_transitions — the first-order event-type transition
    * matrix P(next | cur). The lead window runs per user — a
    * fine-grained skew-safe key, one exchange — and collapses
    * immediately to the bounded |types|² count matrix with map-side
    * combine. Row-normalization joins the 5-row per-cur totals back
    * hint-free (AQE broadcasts a 5-row relation; no window over the
    * coarse cur_type key, per the house rule). The probability divides
    * two exact longs — true division in both engines, no float
    * accumulation anywhere.
    */
  def markovTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counts = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("cur_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("cur_type").as("t_cur"))
      .agg(sum(col("n")).as("total"))
    counts
      .join(totals, col("cur_type") === col("t_cur"))
      .select(
        col("cur_type"), col("next_type"), col("n"),
        emit(col("n") / col("total"), 6).as("p"))
      .orderBy(col("cur_type"), col("next_type"))
  }

  val markovTransitionsSql: String =
    """WITH t AS (
      |  SELECT event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events
      |),
      |c AS (
      |  SELECT event_type AS cur_type, next_type, count(*) AS n
      |  FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2
      |),
      |tot AS (SELECT cur_type, SUM(n) AS total FROM c GROUP BY 1)
      |SELECT c.cur_type, next_type, n,
      |  (CAST(round(n / total, 6) AS DOUBLE) + 0.0) AS p
      |FROM c JOIN tot ON c.cur_type = tot.cur_type
      |ORDER BY c.cur_type, next_type""".stripMargin

  /** #124 purchase_attribution — for every converting user, the FIRST
    * event and the LAST event strictly before their first purchase,
    * rolled up into a (first_touch, last_touch) conversion matrix.
    * First-purchase time is a plain min per user; the pre-purchase
    * join re-keys on the SAME user_id the touch aggregation groups on
    * (co-partitioned, one logical exchange); both touch picks are
    * min_by/max_by aggregates on struct(ts, event_id) — the house
    * argmax rule: map-side combinable, never a row_number window over
    * the raw stream. Output is bounded at |types|².
    */
  def purchaseAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val firstPurchase = ev
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("fp_user"))
      .agg(min(col("ts")).as("fp_ts"))
    ev
      .join(firstPurchase, col("user_id") === col("fp_user") && col("ts") < col("fp_ts"))
      .groupBy(col("user_id"))
      .agg(
        min_by(col("event_type"), struct(col("ts"), col("event_id"))).as("first_touch"),
        max_by(col("event_type"), struct(col("ts"), col("event_id"))).as("last_touch"))
      .groupBy(col("first_touch"), col("last_touch"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("first_touch"), col("last_touch"))
  }

  val purchaseAttributionSql: String =
    """WITH fp AS (
      |  SELECT user_id, min(ts) AS fp_ts FROM events
      |  WHERE event_type = 'purchase' GROUP BY 1
      |),
      |pre AS (
      |  SELECT e.user_id, e.ts, e.event_id, e.event_type
      |  FROM events e JOIN fp ON e.user_id = fp.user_id AND e.ts < fp.fp_ts
      |),
      |firsts AS (
      |  SELECT user_id, event_type AS first_touch FROM (
      |    SELECT user_id, event_type,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |    FROM pre
      |  ) WHERE rn = 1
      |),
      |lasts AS (
      |  SELECT user_id, event_type AS last_touch FROM (
      |    SELECT user_id, event_type,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM pre
      |  ) WHERE rn = 1
      |)
      |SELECT first_touch, last_touch, count(*) AS n_users
      |FROM firsts JOIN lasts USING (user_id)
      |GROUP BY 1, 2 ORDER BY first_touch, last_touch""".stripMargin

  /** #126 mad_anomalies — the ROBUST twin of event_anomalies (#86):
    * median/MAD instead of mean/σ, the Iglewicz–Hoaglin modified
    * z-score 0.6745·(c−med)/MAD with the 3.5 cut. A real traffic
    * spike INFLATES the mean and σ enough to mask itself in the plain
    * z-score; the median ignores it, which is why ops dashboards run
    * both. Medians use the proven percentile/quantile_cont parity
    * device, ROUNDED to 6 dp before entering the score so both
    * engines divide identical inputs; MAD = 0 (a constant-count type)
    * reads as never-anomalous like the σ = 0 case. Shape: the same
    * bounded (type, hour) matrix as #86, two 5-row baseline aggs
    * joined back co-keyed — no window over a coarse key.
    */
  def madAnomalies(s: SparkSession, dir: String): DataFrame = {
    val hourly = Round5Ops.hourlyCounts(s, dir)
    val med = hourly.groupBy(col("event_type"))
      .agg(emit(expr("percentile(cnt, 0.5)"), 6).as("med"))
    val withMed = hourly.join(med, Seq("event_type"))
    val mad = withMed.groupBy(col("event_type"))
      .agg(emit(expr("percentile(abs(cnt - med), 0.5)"), 6).as("mad"))
    withMed.join(mad, Seq("event_type"))
      .withColumn(
        "robust_z",
        when(col("mad") === 0, lit(0.0))
          .otherwise(emit(lit(0.6745) * (col("cnt") - col("med")) / col("mad"), 4)))
      .withColumn("flagged", (abs(col("robust_z")) >= 3.5).cast("int"))
      .select(col("event_type"), col("hour"), col("cnt"), col("robust_z"), col("flagged"))
      .orderBy(col("event_type"), col("hour"))
  }

  val madAnomaliesSql: String =
    """WITH hourly AS (
      |  SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2
      |),
      |med AS (
      |  SELECT event_type, (CAST(round(quantile_cont(cnt, 0.5), 6) AS DOUBLE) + 0.0) AS med
      |  FROM hourly GROUP BY 1
      |),
      |wm AS (
      |  SELECT hourly.event_type, hour, cnt, med
      |  FROM hourly JOIN med ON hourly.event_type = med.event_type
      |),
      |mad AS (
      |  SELECT event_type, (CAST(round(quantile_cont(abs(cnt - med), 0.5), 6) AS DOUBLE) + 0.0) AS mad
      |  FROM wm GROUP BY 1
      |),
      |rz AS (
      |  SELECT wm.event_type, hour, cnt,
      |    CASE WHEN mad = 0 THEN 0.0
      |         ELSE (CAST(round(0.6745 * (cnt - med) / mad, 4) AS DOUBLE) + 0.0) END AS robust_z
      |  FROM wm JOIN mad ON wm.event_type = mad.event_type
      |)
      |SELECT event_type, hour, cnt, robust_z,
      |  CAST(abs(robust_z) >= 3.5 AS INT) AS flagged
      |FROM rz ORDER BY event_type, hour""".stripMargin

  /** The windowed-EWMA decay weights, α=0.3 over a 24-hour lookback:
    * w_d = α(1−α)^d rounded to 12 dp — computed ONCE here in exact
    * BigDecimal arithmetic and embedded as literal constants into BOTH
    * engines' plans (the Spark array literal and the oracle's VALUES
    * list are generated from this same sequence), so no runtime
    * pow()/float call can diverge between engines. The tail below
    * w_23 ≈ 8.3e-6 is truncated: that makes this the standard WINDOWED
    * EWMA (identical truncation on both sides), not the infinite
    * recurrence — which is also what makes it expressible as a pure
    * bounded fan-out instead of an order-dependent fold.
    */
  private[graft] val ewmaWeights: Seq[(Int, java.math.BigDecimal)] = {
    val alpha = BigDecimal("0.3")
    val decay = BigDecimal("0.7")
    (0 until 24).map(d =>
      d -> (alpha * decay.pow(d)).setScale(12, BigDecimal.RoundingMode.HALF_UP).bigDecimal)
  }

  /** #130 ewma_hourly — exponentially-smoothed hourly event rate per
    * type, the monitoring smoother dashboards draw next to the raw
    * counts (and the baseline the anomaly family's z-scores are often
    * taken against in production). Instead of the recursive
    * s_h = αx_h + (1−α)s_{h−1} — an order-dependent fold no engine
    * parallelizes — the bounded window makes it a CLOSED FORM:
    * s_H = Σ_{d<24} w_d·x_{H−d}. Shape: one hourly aggregate (map-side
    * combine collapses the fact stream to the tiny |types|×|hours|
    * matrix), a ×24 codegen'd explode of the weight literals (no join,
    * no window, no per-type sort), one bounded re-aggregate on the
    * target hour, and an equi-join back to observed hours. Every
    * product and the sum run in exact DECIMAL; hours with no events
    * contribute exactly their true zero. At 100 TB only the first
    * aggregate ever sees the data volume.
    */
  def ewmaHourly(s: SparkSession, dir: String): DataFrame =
    ewmaHourlyOver(Tables.events(s, dir))

  /** The smoother over any (event_type, ts) frame — test entry. */
  private[graft] def ewmaHourlyOver(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(
        col("event_type"),
        floor(unix_timestamp(col("ts")) / 3600).as("hb"))
      .agg(count(lit(1)).as("x"))
    val wArr = array(ewmaWeights.map { case (d, w) =>
      struct(lit(d).as("d"), lit(w).cast("decimal(14,12)").as("w"))
    }: _*)
    val contrib = hourly
      .select(col("event_type"), col("hb"), col("x"), explode(wArr).as("dw"))
      .select(
        col("event_type"),
        (col("hb") + col("dw.d")).as("hb_t"),
        (col("dw.w") * col("x")).as("c"))
      .groupBy(col("event_type"), col("hb_t"))
      .agg(sum(col("c")).as("sm"))
      .withColumnRenamed("hb_t", "hb")
    hourly
      .join(contrib, Seq("event_type", "hb"))
      .select(col("event_type"), col("hb"), col("x"), emit(col("sm"), 4).as("ewma"))
      .orderBy(col("event_type"), col("hb"))
  }

  val ewmaHourlySql: String = {
    val values = ewmaWeights
      .map { case (d, w) => s"($d, CAST('${w.toPlainString}' AS DECIMAL(14,12)))" }
      .mkString(", ")
    s"""WITH hourly AS (
       |  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hb, count(*) AS x
       |  FROM events GROUP BY 1, 2
       |),
       |wt(d, w) AS (VALUES $values),
       |contrib AS (
       |  SELECT event_type, hb + d AS hb_t, SUM(w * x) AS sm
       |  FROM hourly CROSS JOIN wt GROUP BY 1, 2
       |)
       |SELECT h.event_type, h.hb, h.x, (CAST(round(c.sm, 4) AS DOUBLE) + 0.0) AS ewma
       |FROM hourly h JOIN contrib c ON h.event_type = c.event_type AND h.hb = c.hb_t
       |ORDER BY 1, 2""".stripMargin
  }

  /** #131 quantile_drift — day-over-day shift of the per-type VALUE
    * distribution (p50/p90), the drift monitor beside event_mix_drift:
    * mix drift catches "the traffic composition changed", this catches
    * "the same events started carrying different values" (a payments
    * outage halves p90 without moving a single count). Exact
    * percentiles run per (type, day) — the shared-buffer percentile
    * device — collapsing the fact stream to the bounded daily matrix
    * in ONE shuffle; the lag window then runs over that tiny matrix
    * (partitioned by type, days are horizon-bounded — the
    * event_mix_drift precedent), never over raw data. Shifts divide
    * already-rounded doubles (identical IEEE division both engines,
    * the q14 device) with a greatest(|prev|, 1e-9) floor so a zero
    * baseline reads as a large-but-finite shift, not ±inf; the flag
    * folds on the ROUNDED shift.
    *
    * SCALE NOTE: exact `percentile` buffers each (type, day) group's
    * values — the oracle-parity form, same trade as #27. At 100 TB a
    * day's group is billions of rows, so production swaps in
    * `approx_percentile` (O(sketch) state, map-side merge); the
    * #27/#27c pair pins that substitution's error bound, which is why
    * this op doesn't carry its own approx twin.
    *
    * ENGINE-BOUNDARY NOTE (acknowledged trade, gate-verified at two
    * SFs): Spark's `percentile` and DuckDB's `quantile_cont` both use
    * the continuous p·(n−1) definition but evaluate the interpolation
    * in different floating-point orders, so a value landing EXACTLY on
    * a 4-dp rounding boundary could diverge between engines — the
    * divergence class mean6 closes for means. No integer-arithmetic
    * rewrite exists for interpolated order statistics over doubles, so
    * this op carries the risk explicitly rather than hiding it; the
    * two-SF correctness sweep is the detector (it caught the
    * label_centroid_sim half-case in r6).
    */
  def quantileDrift(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(expr("percentile(value, array(0.5, 0.9))").as("ps"))
      .select(
        col("event_type"), col("day"),
        emit(col("ps").getItem(0)).as("p50"),
        emit(col("ps").getItem(1)).as("p90"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    def shift(cur: Column, prev: Column): Column =
      emit(abs(cur - prev) / greatest(abs(prev), lit(1e-9)), 6)
    daily
      .withColumn("p50_prev", lag(col("p50"), 1).over(w))
      .withColumn("p90_prev", lag(col("p90"), 1).over(w))
      .filter(col("p50_prev").isNotNull)
      .select(
        col("event_type"), col("day"), col("p50"), col("p90"),
        shift(col("p50"), col("p50_prev")).as("p50_shift"),
        shift(col("p90"), col("p90_prev")).as("p90_shift"))
      .withColumn("flagged", (col("p50_shift") > 0.25).cast("int"))
      .orderBy(col("event_type"), col("day"))
  }

  val quantileDriftSql: String =
    """WITH d AS (
      |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
      |    (CAST(round(quantile_cont(value, 0.5), 4) AS DOUBLE) + 0.0) AS p50,
      |    (CAST(round(quantile_cont(value, 0.9), 4) AS DOUBLE) + 0.0) AS p90
      |  FROM events GROUP BY 1, 2
      |),
      |l AS (
      |  SELECT event_type, day, p50, p90,
      |    lag(p50) OVER (PARTITION BY event_type ORDER BY day) AS p50_prev,
      |    lag(p90) OVER (PARTITION BY event_type ORDER BY day) AS p90_prev
      |  FROM d
      |)
      |SELECT event_type, day, p50, p90,
      |  (CAST(round(abs(p50 - p50_prev) / greatest(abs(p50_prev), 1e-9), 6) AS DOUBLE) + 0.0) AS p50_shift,
      |  (CAST(round(abs(p90 - p90_prev) / greatest(abs(p90_prev), 1e-9), 6) AS DOUBLE) + 0.0) AS p90_shift,
      |  CAST(CAST(round(abs(p50 - p50_prev) / greatest(abs(p50_prev), 1e-9), 6) AS DOUBLE) > 0.25 AS INT) AS flagged
      |FROM l WHERE p50_prev IS NOT NULL
      |ORDER BY event_type, day""".stripMargin

  /** #133 anomaly_attribution — the incident-response step AFTER
    * event_anomalies fires: for every flagged (type, hour) cell, WHO
    * drove the spike — top-5 users by event count in that cell, with
    * their share of it (bot rings and runaway clients concentrate;
    * organic surges don't). Composition story: the flagged set is the
    * already-verified #86 chain; the per-user matrix is semi-join
    * PRUNED to flagged cells BEFORE any ranking, so the expensive side
    * only ever materializes for anomalous hours; the top-5 runs as the
    * native bounded TopKPairs aggregate (O(k) state, map-side merge —
    * the house argmax rule, no row_number window over the raw
    * per-user rows). Share divides two exact longs (true division,
    * both engines).
    */
  def anomalyAttribution(s: SparkSession, dir: String): DataFrame = {
    val flagged = Round5Ops.eventAnomalies(s, dir)
      .filter(col("flagged") === 1)
      .select(col("event_type"), col("hour"), col("cnt"), col("z"))
    val perUser = Tables.events(s, dir)
      .groupBy(
        col("event_type"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00").as("hour"),
        col("user_id"))
      .agg(count(lit(1)).as("n_user"))
    perUser
      .join(flagged, Seq("event_type", "hour"), "left_semi")
      .groupBy(col("event_type"), col("hour"))
      .agg(graft.functions.Registry
        .topK(col("n_user").cast("double"), col("user_id"), 5).as("top"))
      .select(col("event_type"), col("hour"), posexplode(col("top")).as(Seq("i", "e")))
      .select(
        col("event_type"), col("hour"), (col("i") + 1).cast("long").as("rk"),
        col("e.id").as("user_id"), col("e.score").cast("long").as("n_user"))
      .join(flagged, Seq("event_type", "hour"))
      .select(
        col("event_type"), col("hour"), col("rk"), col("user_id"), col("n_user"),
        emit(col("n_user") / col("cnt"), 6).as("share"), col("z"))
      .orderBy(col("event_type"), col("hour"), col("rk"))
  }

  val anomalyAttributionSql: String =
    """WITH hourly AS (
      |  SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2
      |),
      |st AS (
      |  SELECT event_type, count(*) AS n_h,
      |    CAST(sum(cnt) AS BIGINT) AS s1, CAST(sum(cnt * cnt) AS BIGINT) AS s2
      |  FROM hourly GROUP BY 1
      |),
      |sd AS (
      |  SELECT event_type, n_h, s1,
      |    CASE WHEN n_h > 1
      |         THEN sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n_h) / (n_h - 1))
      |         ELSE 0.0 END AS sd
      |  FROM st
      |),
      |flagged AS (
      |  SELECT * FROM (
      |    SELECT h.event_type, hour, cnt,
      |      CASE WHEN sd = 0 THEN 0.0
      |           ELSE (CAST(round((cnt - CAST(s1 AS DOUBLE) / n_h) / sd, 4) AS DOUBLE) + 0.0) END AS z
      |    FROM hourly h JOIN sd ON h.event_type = sd.event_type
      |  ) WHERE abs(z) >= 2.0
      |),
      |pu AS (
      |  SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
      |    user_id, count(*) AS n_user
      |  FROM events GROUP BY 1, 2, 3
      |),
      |ranked AS (
      |  SELECT pu.event_type, pu.hour, pu.user_id, pu.n_user,
      |    row_number() OVER (PARTITION BY pu.event_type, pu.hour
      |                       ORDER BY pu.n_user DESC, pu.user_id) AS rk
      |  FROM pu JOIN flagged f ON pu.event_type = f.event_type AND pu.hour = f.hour
      |)
      |SELECT r.event_type, r.hour, CAST(r.rk AS BIGINT) AS rk, r.user_id, r.n_user,
      |  (CAST(round(r.n_user / f.cnt, 6) AS DOUBLE) + 0.0) AS share, f.z
      |FROM ranked r JOIN flagged f ON r.event_type = f.event_type AND r.hour = f.hour
      |WHERE r.rk <= 5
      |ORDER BY r.event_type, r.hour, r.rk""".stripMargin

  /** #139 user_cohort_ltv — the LTV triangle: cohort month × months
    * since first activity → active users and revenue (the
    * value-accumulation view of #28d's retention counts; finance reads
    * this, growth reads retention — same machinery, different
    * measure). Periods are epoch WEEKS as exact ints (floor of epoch
    * seconds / 604800 — the testdata spans ~5 weeks, so weekly grain
    * yields a real triangle where calendar months would collapse to
    * one cell; at production horizons swap the constant for months),
    * so cohort and age are pure integer arithmetic in both engines;
    * per-user cohort is one fine-keyed min agg joined back on user_id
    * (co-partitioned with the event agg); revenue sums exact DECIMAL.
    * Bounded |weeks|² output.
    */
  def userCohortLtv(s: SparkSession, dir: String): DataFrame = {
    val um = Tables.events(s, dir)
      .select(
        col("user_id"),
        floor(unix_timestamp(col("ts")) / 604800).as("w"),
        col("value"))
    val cohort = um.groupBy(col("user_id")).agg(min(col("w")).as("cw"))
    um.join(cohort, Seq("user_id"))
      .groupBy(col("cw").as("cohort_w"), (col("w") - col("cw")).as("age"))
      .agg(
        count_distinct(col("user_id")).as("n_users"),
        emit(dsum(col("value"))).as("revenue"))
      .orderBy(col("cohort_w"), col("age"))
  }

  val userCohortLtvSql: String =
    """WITH um AS (
      |  SELECT user_id, CAST(floor(epoch(ts) / 604800) AS BIGINT) AS w, value FROM events
      |),
      |c AS (SELECT user_id, min(w) AS cw FROM um GROUP BY 1)
      |SELECT cw AS cohort_w, w - cw AS age,
      |  count(DISTINCT um.user_id) AS n_users,
      |  (CAST(round(SUM(CAST(value AS DECIMAL(38,6))), 4) AS DOUBLE) + 0.0) AS revenue
      |FROM um JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** #140 events_autocorr — daily-seasonality detector: per type, the
    * Pearson correlation of hourly counts with themselves 24 hours
    * later. High r = strong daily rhythm (normal product traffic);
    * a rhythm-less type is machine traffic — the complement of the
    * anomaly family's "is this hour weird" (this asks "does this type
    * even have a weekday shape"). The hourly matrix is bounded, the
    * lag join is an equi-join on (type, hb+24) against the same
    * matrix, and every moment (Σx, Σy, Σxy, Σx², Σy², n) is an exact
    * DECIMAL(38,0) sum (HUGEINT oracle-side) — at ~1e9 events/hour a
    * single c·c approaches Long.MAX, so long moments would overflow
    * silently (the graph_assortativity hazard). The final r is one
    * double expression over exact decimals, identical IEEE in both
    * engines (the zipf-slope device). σ=0 on either side → r reads 0,
    * not a divide-by-zero.
    */
  def eventsAutocorr(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(
        col("event_type"),
        floor(unix_timestamp(col("ts")) / 3600).as("hb"))
      .agg(count(lit(1)).as("c"))
    val lagged = hourly.select(
      col("event_type"), (col("hb") - 24).as("hb"), col("c").as("y"))
    // Moments in DECIMAL(38,0), not long: at production volumes
    // (~1e9 events/hour) a single c*c approaches Long.MAX and a long
    // sum overflows silently — the graph_assortativity hazard, same
    // fix (the final r is one double expression over exact decimals).
    def dec(v: Column): Column = v.cast("decimal(38,0)")
    val m = hourly
      .join(lagged, Seq("event_type", "hb"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("c"))).as("sx"),
        sum(dec(col("y"))).as("sy"),
        sum(dec(col("c")) * col("y")).as("sxy"),
        sum(dec(col("c")) * col("c")).as("sxx"),
        sum(dec(col("y")) * col("y")).as("syy"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den = sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
      sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))
    m.select(
        col("event_type"), col("n"),
        when(den === 0.0, lit(0.0)).otherwise(emit(num.cast("double") / den, 6)).as("r24"))
      .orderBy(col("event_type"))
  }

  val eventsAutocorrSql: String =
    """WITH hourly AS (
      |  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hb, count(*) AS c
      |  FROM events GROUP BY 1, 2
      |),
      |p AS (
      |  SELECT h.event_type, h.c AS x, l.c AS y
      |  FROM hourly h JOIN hourly l
      |    ON h.event_type = l.event_type AND l.hb = h.hb + 24
      |),
      |m AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
      |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
      |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      |  FROM p GROUP BY 1
      |)
      |SELECT event_type, n,
      |  CASE WHEN sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
      |            sqrt(CAST(n * syy - sy * sy AS DOUBLE)) = 0 THEN 0.0
      |       ELSE (CAST(round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |         (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
      |          sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS DOUBLE) + 0.0) END AS r24
      |FROM m ORDER BY event_type""".stripMargin

  /** #144 rising_users — week-over-week activity risers: users whose
    * event rate grew most from the penultimate to the final week of
    * the data (the growth dashboard's winners list, and — inverted —
    * the abuse desk's "who just woke up" list). The window anchors on
    * the DATA's last epoch week (single-row broadcast — deterministic,
    * no wall clock in the plan); both week counts come from ONE
    * (user, week) aggregate over a two-week pushed-down slice of the
    * fact stream; the smoothed ratio (c₂+1)/(c₁+1) divides exact longs
    * (additive smoothing keeps new users finite and comparable);
    * top-25 ranks the ROUNDED ratio under a user_id tie-break as
    * TakeOrderedAndProject.
    */
  def risingUsers(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), floor(unix_timestamp(col("ts")) / 604800).as("w"))
    val wmax = ev.agg(max(col("w")).as("wm"))
    val counts = ev
      .crossJoin(broadcast(wmax))
      .filter(col("w") >= col("wm") - 1)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("w") === col("wm") - 1, 1L).otherwise(0L)).as("c_prev"),
        sum(when(col("w") === col("wm"), 1L).otherwise(0L)).as("c_last"))
    counts
      .select(
        col("user_id"), col("c_prev"), col("c_last"),
        emit((col("c_last") + 1) / (col("c_prev") + 1), 6).as("rise"))
      .orderBy(col("rise").desc, col("user_id"))
      .limit(25)
  }

  val risingUsersSql: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(floor(epoch(ts) / 604800) AS BIGINT) AS w FROM events
      |),
      |wm AS (SELECT max(w) AS wm FROM ev),
      |c AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN w = wm - 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_prev,
      |    CAST(sum(CASE WHEN w = wm THEN 1 ELSE 0 END) AS BIGINT) AS c_last
      |  FROM ev CROSS JOIN wm
      |  WHERE w >= wm - 1
      |  GROUP BY 1
      |)
      |SELECT user_id, c_prev, c_last,
      |  (CAST(round((c_last + 1) / (c_prev + 1), 6) AS DOUBLE) + 0.0) AS rise
      |FROM c ORDER BY rise DESC, user_id LIMIT 25""".stripMargin

  /** #145 user_overlap_matrix — audience overlap between event types:
    * for every type pair, the shared-user count and Jaccard (how much
    * of the click audience also purchases — the cross-sell /
    * cannibalization read, and for content surfaces the "same people
    * or different people" question behind every launch). Shape: one
    * distinct (user, type) projection, a self-join on the FINE user
    * key (fan-out bounded by types-per-user ≤ |types|), then the
    * bounded |types|² pair aggregate; audience sizes join back on the
    * tiny type key. Jaccard divides exact longs.
    */
  def userOverlapMatrix(s: SparkSession, dir: String): DataFrame = {
    val ut = Tables.events(s, dir).select(col("user_id"), col("event_type")).distinct()
    val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    ut.select(col("user_id"), col("event_type").as("type_a"))
      .join(ut.select(col("user_id"), col("event_type").as("type_b")), Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("event_type").as("type_a"), col("n").as("n_a")), Seq("type_a"))
      .join(sizes.select(col("event_type").as("type_b"), col("n").as("n_b")), Seq("type_b"))
      .select(
        col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_shared"),
        emit(col("n_shared") / (col("n_a") + col("n_b") - col("n_shared")), 6).as("jaccard"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val userOverlapMatrixSql: String =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |sizes AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
      |p AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_shared
      |  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2
      |)
      |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_shared,
      |  (CAST(round(n_shared / (sa.n + sb.n - n_shared), 6) AS DOUBLE) + 0.0) AS jaccard
      |FROM p JOIN sizes sa ON p.type_a = sa.event_type
      |JOIN sizes sb ON p.type_b = sb.event_type
      |ORDER BY type_a, type_b""".stripMargin

  /** #147 events_punchcard — the hour-of-day × day-of-week activity
    * matrix (the classic punch card behind every "when is our traffic"
    * dashboard, and the shape capacity planning reads): one bounded
    * 24×7 aggregate with map-side combine — the whole fact stream
    * collapses to ≤168 rows in a single shuffle — plus each cell's
    * share of total from a single-row broadcast. Day-of-week comes
    * from epoch-day arithmetic ((epoch_day + 4) mod 7 — 1970-01-01
    * was a Thursday), NOT from locale-dependent date functions, so
    * both engines compute the identical integer.
    */
  def eventsPunchcard(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(
        ((floor(unix_timestamp(col("ts")) / 86400) + 4) % 7).as("dow"),
        floor((unix_timestamp(col("ts")) % 86400) / 3600).as("hod"))
    val cells = e.groupBy(col("dow"), col("hod")).agg(count(lit(1)).as("n"))
    val total = cells.agg(sum(col("n")).as("total"))
    cells
      .crossJoin(broadcast(total))
      .select(
        col("dow"), col("hod"), col("n"),
        emit(col("n") / col("total"), 6).as("share"))
      .orderBy(col("dow"), col("hod"))
  }

  val eventsPunchcardSql: String =
    """WITH e AS (
      |  SELECT (CAST(floor(epoch(ts) / 86400) AS BIGINT) + 4) % 7 AS dow,
      |    CAST(floor((CAST(floor(epoch(ts)) AS BIGINT) % 86400) / 3600) AS BIGINT) AS hod
      |  FROM events
      |),
      |c AS (SELECT dow, hod, count(*) AS n FROM e GROUP BY 1, 2),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
      |SELECT dow, hod, n, (CAST(round(n / total, 6) AS DOUBLE) + 0.0) AS share
      |FROM c CROSS JOIN t
      |ORDER BY dow, hod""".stripMargin

  /** #148 user_stickiness — DAU/WAU per week, the growth-team
    * engagement ratio (how many of a week's users show up on an
    * average day; 1/7 = everyone once, 1.0 = everyone daily): daily
    * and weekly DISTINCT user counts from two aggregates over the
    * same scan shape, stitched on the week key (both relations are
    * horizon-bounded); stickiness = (Σ dau / n_days) / wau with every
    * input an exact long and ONE rounded double division at the end
    * (mean daily actives stays exact-rational until that division).
    */
  def userStickiness(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .select(
        col("user_id"),
        floor(unix_timestamp(col("ts")) / 86400).as("d"),
        floor(unix_timestamp(col("ts")) / 604800).as("w"))
    val dau = base.select(col("user_id"), col("d"), col("w")).distinct()
      .groupBy(col("w"), col("d")).agg(count(lit(1)).as("dau"))
    val wau = base.select(col("user_id"), col("w")).distinct()
      .groupBy(col("w")).agg(count(lit(1)).as("wau"))
    dau
      .groupBy(col("w"))
      .agg(sum(col("dau")).as("dau_sum"), count(lit(1)).as("n_days"))
      .join(wau, Seq("w"))
      .select(
        col("w").as("week"), col("n_days"), col("wau"),
        emit(col("dau_sum") / (col("n_days") * col("wau")), 6).as("stickiness"))
      .orderBy(col("week"))
  }

  val userStickinessSql: String =
    """WITH base AS (
      |  SELECT user_id,
      |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
      |    CAST(floor(epoch(ts) / 604800) AS BIGINT) AS w
      |  FROM events
      |),
      |dau AS (
      |  SELECT w, d, count(*) AS dau
      |  FROM (SELECT DISTINCT user_id, d, w FROM base) GROUP BY 1, 2
      |),
      |wau AS (
      |  SELECT w, count(*) AS wau
      |  FROM (SELECT DISTINCT user_id, w FROM base) GROUP BY 1
      |),
      |ds AS (
      |  SELECT w, CAST(sum(dau) AS BIGINT) AS dau_sum, count(*) AS n_days
      |  FROM dau GROUP BY 1
      |)
      |SELECT ds.w AS week, n_days, wau,
      |  (CAST(round(dau_sum / (n_days * wau), 6) AS DOUBLE) + 0.0) AS stickiness
      |FROM ds JOIN wau ON ds.w = wau.w
      |ORDER BY week""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("events_punchcard", eventsPunchcard, eventsPunchcardSql),
    exact("user_stickiness", userStickiness, userStickinessSql),
    exact("rising_users", risingUsers, risingUsersSql),
    exact("user_overlap_matrix", userOverlapMatrix, userOverlapMatrixSql),
    exact("user_cohort_ltv", userCohortLtv, userCohortLtvSql),
    exact("events_autocorr", eventsAutocorr, eventsAutocorrSql),
    exact("markov_transitions", markovTransitions, markovTransitionsSql),
    exact("purchase_attribution", purchaseAttribution, purchaseAttributionSql),
    exact("ewma_hourly", ewmaHourly, ewmaHourlySql),
    exact("quantile_drift", quantileDrift, quantileDriftSql),
    exact("anomaly_attribution", anomalyAttribution, anomalyAttributionSql),
    exact("mad_anomalies", madAnomalies, madAnomaliesSql))
}
