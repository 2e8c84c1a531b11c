package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.exact

/** Round-24 operators (repo round 8, continued) — three axes: BINARY
  * SEGMENTATION of the daily series (cusum_changepoint #269 finds ONE
  * break; real series break more than once — recurse once into each
  * half, the standard multi-changepoint baseline), funnel stage
  * LATENCY (funnel_sessions #245 counts who reaches each stage; this
  * prices HOW LONG each transition takes — the percentile table a UX
  * review reads), and the retention DECAY-LAW fit (retention_cohorts
  * #28 tabulates the curve; this fits ln r = a·ln w + b and emits the
  * decay exponent — one number to compare products/cohorts by).
  *
  * House rules as Round15–23: exact integer/decimal arithmetic
  * wherever values are exact (the whole segmentation runs on scaled
  * integer cusums), 12-dp-rounded libm terms into order-free
  * DECIMAL(38,12) sums otherwise, mirrored double chains, emits via
  * OracleMath.emit with §6 #5 recovery on oracle ratio emits, bounded
  * outputs, unique sort keys.
  */
object Round24Ops {
  import OracleMath._

  /** #424 binary_segmentation — two-level changepoint detection on
    * the densified global daily event count: the root changepoint is
    * the deterministic argmax of the SCALED integer cusum
    * |n·Σ_{≤d}c − d_rank·total| (the #269 device — exact longs, no
    * float frontier), then the same statistic re-runs INSIDE each
    * half, yielding up to three breaks with each segment's mean
    * level. Binary segmentation is the classical multi-changepoint
    * baseline (Scott & Knott); one break is rarely the whole story
    * and the second-level scan costs one more bounded-calendar
    * window. All cusums exact integers; means exact ratios. Exact
    * oracle (the recursion unrolled as two mirrored CTE levels).
    */
  def binarySegmentation(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(to_date(col("ts")).as("d"))
    val span = ev.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val calendar = span
      .select(explode(expr("sequence(lo, hi)")).as("d"))
    val daily = ev.groupBy(col("d")).agg(count(lit(1)).as("c"))
    val dense = graft.Lineage.cut(calendar.join(daily, Seq("d"), "left")
      .select(col("d"), coalesce(col("c"), lit(0L)).as("c")))
    // one scan level: scaled cusum + argmax day inside a segment
    def level(df: DataFrame, segCol: Column): DataFrame = {
      val seg = df.withColumn("seg", segCol)
      val stats = seg.groupBy(col("seg"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("tot"))
      val wCum = Window.partitionBy(col("seg")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wPick = Window.partitionBy(col("seg"))
        .orderBy(abs(col("s")).desc, col("d"))
      seg.join(broadcast(stats), Seq("seg"))
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("k", count(lit(1)).over(wCum))
        .withColumn("s", col("n") * col("cum") - col("k") * col("tot"))
        .withColumn("rn", row_number().over(wPick))
    }
    val root = level(dense, lit("root"))
    val cp1 = root.filter(col("rn") === 1)
      .select(col("d").as("cp1"), abs(col("s")).as("stat1"),
        col("n").as("n1"), col("cum").as("cumL"), col("k").as("kL"),
        col("tot").as("totAll"))
    val second = level(
      dense.crossJoin(broadcast(cp1.select(col("cp1")))),
      when(col("d") <= col("cp1"), "1_left").otherwise("2_right"))
    val picks = second.filter(col("rn") === 1)
      .select(col("seg").as("segment"), col("d").as("cp_day0"),
        abs(col("s")).as("stat"), col("n").as("n_days"),
        col("cum").as("cum"), col("k").as("k"), col("tot").as("tot"))
      .unionByName(cp1.select(lit("0_root").as("segment"), col("cp1").as("cp_day0"),
        col("stat1").as("stat"), col("n1").as("n_days"),
        col("cumL").as("cum"), col("kL").as("k"), col("totAll").as("tot")))
    picks.select(
      col("segment"),
      date_format(col("cp_day0"), "yyyy-MM-dd").as("cp_day"),
      col("stat").as("max_abs_cusum"), col("n_days"),
      emit(col("cum").cast("double") / col("k").cast("double"), 4).as("mean_before"),
      emit((col("tot") - col("cum")).cast("double") /
        (col("n_days") - col("k")).cast("double"), 4).as("mean_after"))
      .orderBy(col("segment"))
  }

  val binarySegmentationSql: String =
    """WITH span AS (SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi FROM events),
      |calendar AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d FROM span),
      |daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS c FROM events GROUP BY 1),
      |dense AS (
      |  SELECT calendar.d, coalesce(c, 0) AS c
      |  FROM calendar LEFT JOIN daily ON calendar.d = daily.d
      |), root0 AS (
      |  SELECT d, c,
      |    CAST(sum(c) OVER (ORDER BY d) AS BIGINT) AS cum,
      |    CAST(count(*) OVER (ORDER BY d) AS BIGINT) AS k,
      |    (SELECT count(*) FROM dense) AS n,
      |    (SELECT CAST(sum(c) AS BIGINT) FROM dense) AS tot
      |  FROM dense
      |), root1 AS (
      |  SELECT d, cum, k, n, tot, n * cum - k * tot AS s,
      |    row_number() OVER (ORDER BY abs(n * cum - k * tot) DESC, d) AS rn
      |  FROM root0
      |), cp1 AS (SELECT d AS cp1, abs(s) AS stat1, n AS n1, cum AS cuml, k AS kl, tot AS totall
      |  FROM root1 WHERE rn = 1),
      |seg0 AS (
      |  SELECT dense.d, c, CASE WHEN dense.d <= cp1 THEN '1_left' ELSE '2_right' END AS seg
      |  FROM dense CROSS JOIN cp1
      |), segstats AS (
      |  SELECT seg, count(*) AS n, CAST(sum(c) AS BIGINT) AS tot FROM seg0 GROUP BY 1
      |), seg1 AS (
      |  SELECT seg0.seg, d,
      |    CAST(sum(c) OVER (PARTITION BY seg0.seg ORDER BY d) AS BIGINT) AS cum,
      |    CAST(count(*) OVER (PARTITION BY seg0.seg ORDER BY d) AS BIGINT) AS k,
      |    n, tot
      |  FROM seg0 JOIN segstats ON seg0.seg = segstats.seg
      |), seg2 AS (
      |  SELECT seg, d, cum, k, n, tot, n * cum - k * tot AS s,
      |    row_number() OVER (PARTITION BY seg ORDER BY abs(n * cum - k * tot) DESC, d) AS rn
      |  FROM seg1
      |), picks AS (
      |  SELECT seg AS segment, d AS cp_day0, abs(s) AS stat, n AS n_days, cum, k, tot
      |  FROM seg2 WHERE rn = 1
      |  UNION ALL
      |  SELECT '0_root', cp1, stat1, n1, cuml, kl, totall FROM cp1
      |)
      |SELECT segment, strftime(cp_day0, '%Y-%m-%d') AS cp_day,
      |  CAST(stat AS BIGINT) AS max_abs_cusum, n_days,
      |  (CAST(round(CAST(CAST(cum AS DOUBLE) / CAST(k AS DOUBLE) AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS mean_before,
      |  (CAST(round(CAST(CAST(tot - cum AS DOUBLE) / CAST(n_days - k AS DOUBLE) AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS mean_after
      |FROM picks
      |ORDER BY segment""".stripMargin

  /** #425 funnel_latency — HOW LONG each funnel transition takes: the
    * funnel_sessions (#245) sessionize-and-conditional-min chain
    * VERBATIM, then per transition (view→click, click→purchase) the
    * session count, mean seconds, and the exact p50/p90 seconds
    * (percentile ↔ quantile_cont, the #27 bridge) — the UX-review
    * table behind the funnel's reach histogram (a stage can retain
    * users AND be painfully slow; reach alone can't see it).
    * Latencies are exact millisecond differences over epochMs;
    * means from DECIMAL sums of exact longs. Scale: the sessionize
    * window + three co-keyed conditional mins (all on the session
    * key), then a 2-row reduce. Exact oracle.
    */
  def funnelLatency(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val labeled = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          (epochMs(col("ts")) - epochMs(col("prev_ts"))) > lit(30L * 60 * 1000),
          lit(1)).otherwise(lit(0)))
      .withColumn("session_seq", sum(col("is_new")).over(w))
      .select(col("user_id"), col("session_seq"), col("ts"), col("event_type"))
    val key = Seq("user_id", "session_seq")
    val labCut = graft.Lineage.cut(labeled)
    val v = labCut.filter(col("event_type") === "view")
      .groupBy(key.map(col): _*).agg(min(col("ts")).as("v_ts"))
    val c = labCut.join(v, key)
      .filter(col("event_type") === "click" && col("ts") > col("v_ts"))
      .groupBy(key.map(col): _*).agg(min(col("ts")).as("c_ts"))
    val p = labCut.join(c, key)
      .filter(col("event_type") === "purchase" && col("ts") > col("c_ts"))
      .groupBy(key.map(col): _*).agg(min(col("ts")).as("p_ts"))
    val vc = c.join(v, key)
      .select(lit("1_view_to_click").as("transition"),
        ((epochMs(col("c_ts")) - epochMs(col("v_ts"))).cast("double") / 1000.0).as("lat"))
    val cp = p.join(c, key)
      .select(lit("2_click_to_purchase").as("transition"),
        ((epochMs(col("p_ts")) - epochMs(col("c_ts"))).cast("double") / 1000.0).as("lat"))
    vc.unionByName(cp)
      .groupBy(col("transition"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(round(col("lat"), 6).cast("decimal(38,6)")).as("sl"),
        expr("percentile(lat, 0.5)").as("p50"),
        expr("percentile(lat, 0.9)").as("p90"))
      .select(col("transition"), col("n_sessions"),
        emit(col("sl").cast("double") / col("n_sessions").cast("double"), 4)
          .as("mean_seconds"),
        emit(col("p50"), 4).as("p50_seconds"),
        emit(col("p90"), 4).as("p90_seconds"))
      .orderBy(col("transition"))
  }

  val funnelLatencySql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), lab AS (
      |  SELECT user_id, event_type, ts,
      |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM flagged
      |), v AS (
      |  SELECT user_id, session_seq, min(ts) AS v_ts FROM lab
      |  WHERE event_type = 'view' GROUP BY 1, 2
      |), c AS (
      |  SELECT lab.user_id, lab.session_seq, min(lab.ts) AS c_ts
      |  FROM lab JOIN v ON lab.user_id = v.user_id AND lab.session_seq = v.session_seq
      |  WHERE event_type = 'click' AND lab.ts > v_ts GROUP BY 1, 2
      |), p AS (
      |  SELECT lab.user_id, lab.session_seq, min(lab.ts) AS p_ts
      |  FROM lab JOIN c ON lab.user_id = c.user_id AND lab.session_seq = c.session_seq
      |  WHERE event_type = 'purchase' AND lab.ts > c_ts GROUP BY 1, 2
      |), lats AS (
      |  SELECT '1_view_to_click' AS transition,
      |    CAST(epoch_ms(c_ts) - epoch_ms(v_ts) AS DOUBLE) / 1000.0 AS lat
      |  FROM c JOIN v ON c.user_id = v.user_id AND c.session_seq = v.session_seq
      |  UNION ALL
      |  SELECT '2_click_to_purchase',
      |    CAST(epoch_ms(p_ts) - epoch_ms(c_ts) AS DOUBLE) / 1000.0
      |  FROM p JOIN c ON p.user_id = c.user_id AND p.session_seq = c.session_seq
      |)
      |SELECT transition, count(*) AS n_sessions,
      |  (CAST(round(CAST(CAST(sum(CAST(round(lat, 6) AS DECIMAL(38,6))) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS mean_seconds,
      |  (CAST(round(CAST(quantile_cont(lat, 0.5) AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS p50_seconds,
      |  (CAST(round(CAST(quantile_cont(lat, 0.9) AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS p90_seconds
      |FROM lats
      |GROUP BY transition
      |ORDER BY transition""".stripMargin

  /** #426 retention_decay_fit — the power-law fit of the pooled
    * retention curve: r(w) = share of the cohort active in week w
    * after first touch (w ≥ 1), fit ln r = a·ln w + b by OLS over the
    * weeks where r > 0 — the decay EXPONENT a is the one number to
    * compare products or cohorts by (retention_cohorts #28 tabulates
    * the curve; nothing summarized it), plus the implied week-4
    * retention exp(b)·4^a next to the observed one (the fit-quality
    * read a PM actually checks). Retention shares are exact
    * user-count ratios over the bounded week axis; ln terms
    * 12-dp→Dec12; the OLS chain is #383's. Exact oracle.
    */
  def retentionDecayFit(s: SparkSession, dir: String): DataFrame = {
    val firstD = Tables.events(s, dir).groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("fd"))
    val cohort = firstD.agg(count(lit(1)).as("n0"))
    val weeks = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .join(firstD, Seq("user_id"))
      .select(col("user_id"), (datediff(col("d"), col("fd")) / 7).cast("long").as("wk"))
      .filter(col("wk") >= 1)
      .distinct()
      .groupBy(col("wk")).agg(count(lit(1)).as("active"))
    val r = graft.Lineage.cut(weeks.crossJoin(broadcast(cohort))
      .select(col("wk"), col("active"), col("n0"),
        (col("active").cast("double") / col("n0").cast("double")).as("r"))
      .filter(col("r") > 0.0))
    def t12(c: Column) = round(c, 12).cast(Dec12)
    val x = log(col("wk").cast("double"))
    val y = log(col("r"))
    val mom = r.agg(count(lit(1)).as("n"),
      sum(t12(x)).as("sx"), sum(t12(y)).as("sy"),
      sum(t12(x * y)).as("sxy"), sum(t12(x * x)).as("sx2"),
      sum(t12(y * y)).as("sy2"))
    def d(c: String) = col(c).cast("double")
    val sxx = d("n") * d("sx2") - d("sx") * d("sx")
    val sxy = d("n") * d("sxy") - d("sx") * d("sy")
    val syy = d("n") * d("sy2") - d("sy") * d("sy")
    val slope = sxy / sxx
    val icpt = d("sy") / d("n") - slope * (d("sx") / d("n"))
    val obs4 = r.filter(col("wk") === 4L).select(col("r").as("r4"))
    mom.crossJoin(broadcast(obs4))
      .select(
        col("n").as("n_weeks"),
        emit(slope, 6).as("decay_exponent"),
        emit(icpt, 6).as("ln_intercept"),
        // a perfectly CONSTANT retention curve (it happens at small SF)
        // has syy = 0 — R² is undefined there, emitted null both sides
        emit(when(syy > 0.0, sxy * sxy / (sxx * syy)), 6).as("r2"),
        emit(exp(icpt + slope * log(lit(4.0))), 6).as("fitted_week4"),
        emit(col("r4"), 6).as("observed_week4"))
  }

  val retentionDecayFitSql: String =
    """WITH firstd AS (
      |  SELECT user_id, min(CAST(ts AS DATE)) AS fd FROM events GROUP BY 1
      |), cohort AS (SELECT count(*) AS n0 FROM firstd),
      |weeks AS (
      |  SELECT wk, count(*) AS active FROM (
      |    SELECT DISTINCT e.user_id, CAST((CAST(ts AS DATE) - fd) // 7 AS BIGINT) AS wk
      |    FROM events e JOIN firstd ON e.user_id = firstd.user_id
      |  ) WHERE wk >= 1 GROUP BY 1
      |), r AS (
      |  SELECT wk, active, n0, CAST(active AS DOUBLE) / CAST(n0 AS DOUBLE) AS r
      |  FROM weeks CROSS JOIN cohort
      |  WHERE CAST(active AS DOUBLE) / CAST(n0 AS DOUBLE) > 0.0
      |), mom AS (
      |  SELECT count(*) AS n,
      |    sum(CAST(round(ln(CAST(wk AS DOUBLE)), 12) AS DECIMAL(38,12))) AS sx,
      |    sum(CAST(round(ln(r), 12) AS DECIMAL(38,12))) AS sy,
      |    sum(CAST(round(ln(CAST(wk AS DOUBLE)) * ln(r), 12) AS DECIMAL(38,12))) AS sxy,
      |    sum(CAST(round(ln(CAST(wk AS DOUBLE)) * ln(CAST(wk AS DOUBLE)), 12) AS DECIMAL(38,12))) AS sx2,
      |    sum(CAST(round(ln(r) * ln(r), 12) AS DECIMAL(38,12))) AS sy2
      |  FROM r
      |), f AS (
      |  SELECT n,
      |    CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS sxx,
      |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS sxyc,
      |    CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS syy,
      |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      |  FROM mom
      |), obs4 AS (SELECT r AS r4 FROM r WHERE wk = 4)
      |SELECT n AS n_weeks,
      |  (CAST(round(CAST(sxyc / sxx AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS decay_exponent,
      |  (CAST(round(CAST(syd / CAST(n AS DOUBLE) - (sxyc / sxx) * (sxd / CAST(n AS DOUBLE)) AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS ln_intercept,
      |  CASE WHEN syy > 0 THEN (CAST(round(CAST(sxyc * sxyc / (sxx * syy) AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) END AS r2,
      |  (CAST(round(CAST(exp((syd / CAST(n AS DOUBLE) - (sxyc / sxx) * (sxd / CAST(n AS DOUBLE)))
      |    + (sxyc / sxx) * ln(4.0)) AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS fitted_week4,
      |  (CAST(round(CAST(r4 AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS observed_week4
      |FROM f CROSS JOIN obs4""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("binary_segmentation", binarySegmentation, binarySegmentationSql),
    exact("funnel_latency", funnelLatency, funnelLatencySql),
    exact("retention_decay_fit", retentionDecayFit, retentionDecayFitSql))
}
