package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.exact

/** Round-13 operators — continuing the platform-QA surface: streaming
  * loss budgeting, the position-based attribution variant, and
  * distributional normality checks. Same house rules as every round:
  * cross-row float totals go through 6/12-dp rounds into order-free
  * DECIMAL sums (or stay exact integers), per-row float chains mirror
  * the oracle's operation ORDER exactly, global sorts never touch
  * data-volume-sized relations. The log-rank test lives in
  * [[ExperimentOps]].
  */
object Round13Ops {
  import OracleMath._

  /** #357 watermark_loss_sweep — the event-loss budget per candidate
    * watermark delay: watermark_advisor recommends p99 lateness, THIS
    * prices every candidate on the menu ({1m, 10m, 1h, 6h, 1d}) in
    * dropped-event share per type — the actual trade a deployment
    * signs (state size vs completeness), read as a table instead of
    * discovered as a gap in a dashboard. Reuses the advisor's
    * running-high-water-mark lateness definition (one per-type
    * ordered window pass); the sweep is conditional sums against the
    * broadcast 5-row delay axis; shares divide exact longs. Exact
    * oracle.
    */
  def watermarkLossSweep(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val late = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("hwm", max(col("ts_us")).over(w))
      .filter(col("hwm").isNotNull)
      .select(col("event_type"), greatest(col("hwm") - col("ts_us"), lit(0L)).as("late_us"))
    val delays = s.range(0, 5).select(
      element_at(array(lit(60L), lit(600L), lit(3600L), lit(21600L), lit(86400L)),
        (col("id") + 1).cast("int")).as("delay_s"))
    late.crossJoin(broadcast(delays))
      .groupBy(col("event_type"), col("delay_s"))
      .agg(
        sum(when(col("late_us") > col("delay_s") * 1000000L, 1L).otherwise(0L)).as("n_dropped"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"), col("delay_s"), col("n_dropped"), col("n_events"),
        emit(col("n_dropped").cast("double") / col("n_events").cast("double"), 6)
          .as("drop_share"))
      .orderBy(col("event_type"), col("delay_s"))
  }

  val watermarkLossSweepSql: String =
    """WITH seq AS (
      |  SELECT event_type, epoch_us(ts) AS ts_us,
      |    max(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
      |  FROM events
      |),
      |late AS (
      |  SELECT event_type, greatest(hwm - ts_us, 0) AS late_us
      |  FROM seq WHERE hwm IS NOT NULL
      |),
      |delays AS (SELECT CAST(unnest([60, 600, 3600, 21600, 86400]) AS BIGINT) AS delay_s)
      |SELECT event_type, delay_s,
      |  CAST(sum(CASE WHEN late_us > delay_s * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  count(*) AS n_events,
      |  (CAST(round(CAST(sum(CASE WHEN late_us > delay_s * 1000000 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS drop_share
      |FROM late CROSS JOIN delays
      |GROUP BY 1, 2 ORDER BY event_type, delay_s""".stripMargin

  /** #358 position_attribution — U-shaped (40/20/40) position-based
    * credit over each user's pre-purchase journey, completing the
    * attribution trio (#124 last/first-touch, #320 Markov removal
    * effect, THIS the position heuristic most marketing stacks
    * actually bill on): first and last touch take 0.4 each, interior
    * touches split 0.2 (length-1 journeys take 1.0, length-2 split
    * 0.5/0.5). Per-event position and journey length come from one
    * fine-keyed window pass over pre-first-purchase events; per-event
    * credit is a mirrored CASE chain, 12-dp rounded into order-free
    * DECIMAL channel sums; credit conservation (Σ = journeys) is the
    * spec's invariant. Exact oracle.
    */
  def positionAttribution(s: SparkSession, dir: String): DataFrame = {
    val wp = org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir).select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("fu")).agg(min(col("ts")).as("fp_ts"))
    val journey = ev.join(fp, col("user_id") === col("fu") && col("ts") < col("fp_ts"))
    val w = wp.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pos = journey
      .withColumn("rn", row_number().over(w))
      .withColumn("nj", count(lit(1)).over(wp.partitionBy(col("user_id"))))
    val credit = when(col("nj") === 1, lit(1.0))
      .when(col("nj") === 2, lit(0.5))
      .when(col("rn") === 1 || col("rn") === col("nj"), lit(0.4))
      .otherwise(lit(0.2) / (col("nj") - 2).cast("double"))
    val tot = pos.select(col("user_id")).distinct().agg(count(lit(1)).as("n_journeys"))
    pos.select(col("event_type"), round(credit, 12).cast(Dec12).as("c"))
      .groupBy(col("event_type").as("channel"))
      .agg(count(lit(1)).as("n_touches"), sum(col("c")).as("credit"))
      .crossJoin(broadcast(tot))
      .select(col("channel"), col("n_touches"),
        emit(col("credit").cast("double"), 6).as("credit"),
        emit(col("credit").cast("double") / col("n_journeys").cast("double"), 6)
          .as("credit_share"))
      .orderBy(col("channel"))
  }

  val positionAttributionSql: String =
    """WITH fp AS (
      |  SELECT user_id AS fu, min(ts) AS fp_ts FROM events
      |  WHERE event_type = 'purchase' GROUP BY 1
      |),
      |j AS (
      |  SELECT e.user_id, e.event_type, e.ts, e.event_id
      |  FROM events e JOIN fp ON e.user_id = fp.fu AND e.ts < fp.fp_ts
      |),
      |pos AS (
      |  SELECT event_type, user_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS nj
      |  FROM j
      |),
      |tot AS (SELECT count(DISTINCT user_id) AS n_journeys FROM pos),
      |cr AS (
      |  SELECT event_type AS channel,
      |    CASE WHEN nj = 1 THEN 1.0
      |         WHEN nj = 2 THEN 0.5
      |         WHEN rn = 1 OR rn = nj THEN 0.4
      |         ELSE 0.2 / CAST(nj - 2 AS DOUBLE) END AS c
      |  FROM pos
      |)
      |SELECT channel, count(*) AS n_touches,
      |  (CAST(round(CAST(sum(CAST(round(c, 12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS credit,
      |  (CAST(round(CAST(sum(CAST(round(c, 12) AS DECIMAL(38,12))) AS DOUBLE)
      |    / CAST(any_value(n_journeys) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS credit_share
      |FROM cr CROSS JOIN tot GROUP BY channel ORDER BY channel""".stripMargin

  /** #359 jarque_bera_report — normality screen (skewness, excess
    * kurtosis, Jarque–Bera statistic, 5% flag at the χ²₂ cut 5.99)
    * for doc length per source and purchase value per event-week:
    * half the monitors upstream assume roughly-normal residuals or
    * justify z-thresholds on it — THIS is the check that says when
    * that assumption is fiction (and a heavy-tailed column should
    * route to the MAD/quantile monitors instead). All four raw
    * moments accumulate as exact integer/DECIMAL sums in ONE
    * map-side-combinable agg per group (Σx…Σx⁴ in DECIMAL(38,0) —
    * len⁴·N overflows anything smaller); the moment algebra runs as a
    * mirrored float chain on the bounded group table. Exact oracle.
    */
  def jarqueBeraReport(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.documents(s, dir)
      .groupBy(col("source").as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(dec0(col("n_chars"))).as("s1"),
        sum(dec0(col("n_chars")) * dec0(col("n_chars"))).as("s2"),
        sum(dec0(col("n_chars")) * dec0(col("n_chars")) * dec0(col("n_chars"))).as("s3"),
        sum(dec0(col("n_chars")) * dec0(col("n_chars")) * dec0(col("n_chars"))
          * dec0(col("n_chars"))).as("s4"))
    val nD = col("n").cast("double")
    val mu = col("s1").cast("double") / nD
    val m2 = col("s2").cast("double") / nD - mu * mu
    val m3 = (col("s3").cast("double") / nD - lit(3.0) * mu * (col("s2").cast("double") / nD)
      + lit(2.0) * mu * mu * mu)
    val m4 = (col("s4").cast("double") / nD - lit(4.0) * mu * (col("s3").cast("double") / nD)
      + lit(6.0) * mu * mu * (col("s2").cast("double") / nD) - lit(3.0) * mu * mu * mu * mu)
    val skew = m3 / sqrt(m2 * m2 * m2)
    val kurt = m4 / (m2 * m2) - lit(3.0)
    val jb = nD / lit(6.0) * (skew * skew + kurt * kurt / lit(4.0))
    m.select(col("grp").as("source"), col("n").as("n_docs"),
      emit(skew, 6).as("skewness"),
      emit(kurt, 6).as("excess_kurtosis"),
      emit(jb, 4).as("jarque_bera"))
      .withColumn("non_normal", col("jarque_bera") > 5.99)
      .orderBy(col("source"))
  }

  val jarqueBeraReportSql: String = {
    val mu = "CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)"
    val e2 = "CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
    val e3 = "CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
    val e4 = "CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)"
    val m2 = s"$e2 - ($mu) * ($mu)"
    val m3 = s"$e3 - 3.0 * ($mu) * ($e2) + 2.0 * ($mu) * ($mu) * ($mu)"
    val m4 = s"$e4 - 4.0 * ($mu) * ($e3) + 6.0 * ($mu) * ($mu) * ($e2) " +
      s"- 3.0 * ($mu) * ($mu) * ($mu) * ($mu)"
    val skew = s"($m3) / sqrt(($m2) * ($m2) * ($m2))"
    val kurt = s"($m4) / (($m2) * ($m2)) - 3.0"
    val jb = s"CAST(n AS DOUBLE) / 6.0 * (($skew) * ($skew) + ($kurt) * ($kurt) / 4.0)"
    s"""WITH m AS (
       |  SELECT source, count(*) AS n,
       |    sum(CAST(n_chars AS DECIMAL(38,0))) AS s1,
       |    sum(CAST(n_chars AS DECIMAL(38,0)) * CAST(n_chars AS DECIMAL(38,0))) AS s2,
       |    sum(CAST(n_chars AS DECIMAL(38,0)) * CAST(n_chars AS DECIMAL(38,0))
       |      * CAST(n_chars AS DECIMAL(38,0))) AS s3,
       |    sum(CAST(n_chars AS DECIMAL(38,0)) * CAST(n_chars AS DECIMAL(38,0))
       |      * CAST(n_chars AS DECIMAL(38,0)) * CAST(n_chars AS DECIMAL(38,0))) AS s4
       |  FROM documents GROUP BY 1
       |)
       |SELECT source, n AS n_docs,
       |  (CAST(round($skew, 6) AS DOUBLE) + 0.0) AS skewness,
       |  (CAST(round($kurt, 6) AS DOUBLE) + 0.0) AS excess_kurtosis,
       |  (CAST(round($jb, 4) AS DOUBLE) + 0.0) AS jarque_bera,
       |  CAST(round($jb, 4) AS DOUBLE) > 5.99 AS non_normal
       |FROM m ORDER BY source""".stripMargin
  }

  /** #360 cluster_size_dist — the duplicate-cluster size histogram
    * over #36b dedup_clusters' components: the REPORT face of
    * near-dedup (a pipeline owner reads "how much of the corpus sits
    * in 2-doc pairs vs 50-doc template families" — the shape decides
    * whether near-dup is trimming noise or deleting a subpopulation).
    * Two bounded aggs over the oracle-verified cluster labels
    * (cluster → size → size histogram); doc/cluster shares divide
    * exact longs. Exact oracle over the clusters chain's own CTEs.
    */
  def clusterSizeDist(s: SparkSession, dir: String): DataFrame = {
    val sizes = TextOps.dedupClusters(s, dir)
      .groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
    val tot = sizes.agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
    sizes.groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters_of_size"))
      .crossJoin(broadcast(tot))
      .select(col("cluster_size"), col("n_clusters_of_size"),
        (col("cluster_size") * col("n_clusters_of_size")).as("docs_in_size"),
        emit((col("cluster_size") * col("n_clusters_of_size")).cast("double")
          / col("n_docs").cast("double"), 6).as("doc_share"),
        emit(col("n_clusters_of_size").cast("double") / col("n_clusters").cast("double"), 6)
          .as("cluster_share"))
      .orderBy(col("cluster_size"))
  }

  val clusterSizeDistSql: String =
    s"""WITH labels AS (${TextOps.dedupClustersSql.replace("ORDER BY doc_id", "")}),
       |sizes AS (SELECT cluster, count(*) AS sz FROM labels GROUP BY 1),
       |tot AS (SELECT count(*) AS n_clusters, CAST(sum(sz) AS BIGINT) AS n_docs FROM sizes)
       |SELECT sz AS cluster_size, count(*) AS n_clusters_of_size,
       |  CAST(sz * count(*) AS BIGINT) AS docs_in_size,
       |  (CAST(round(CAST(sz * count(*) AS DOUBLE) / CAST(any_value(n_docs) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS doc_share,
       |  (CAST(round(CAST(count(*) AS DOUBLE) / CAST(any_value(n_clusters) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS cluster_share
       |FROM sizes CROSS JOIN tot GROUP BY sz ORDER BY cluster_size""".stripMargin

  /** #361 token_burstiness — Church & Gale (1995) variance-to-mean
    * ratio of per-document token occurrences, over the WHOLE corpus
    * (absent docs are true zeros, handled in closed form: Σx and Σx²
    * are unchanged by zero rows, only N enters): VMR ≈ 1 reads
    * Poisson (function words), VMR ≫ 1 reads topical/bursty — the
    * signal separating content terms from glue BEFORE any labeled
    * data, and the reason tf-idf's df term isn't enough (df can't see
    * within-doc clumping). One (doc, token) count + one token agg
    * (Σx² in DECIMAL — occurrence²·N overflows long at corpus
    * scale); top-20 among df ≥ 5 tokens by ROUNDED VMR (token
    * tie-break) as TakeOrdered. Exact oracle.
    */
  def tokenBurstiness(s: SparkSession, dir: String): DataFrame = {
    val occ = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("x"))
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("nn"))
    val m = occ.groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(dec0(col("x"))).as("s1"),
        sum(dec0(col("x")) * dec0(col("x"))).as("s2"))
    val mean = col("s1").cast("double") / col("nn").cast("double")
    val vmr = (col("s2").cast("double") / col("nn").cast("double") - mean * mean) / mean
    m.crossJoin(broadcast(nDocs))
      .filter(col("df") >= 5)
      .select(col("token"), col("df"), col("s1").cast("long").as("total_occ"),
        emit(vmr, 6).as("vmr"))
      .orderBy(col("vmr").desc, col("token")).limit(20)
  }

  val tokenBurstinessSql: String =
    """WITH occ AS (
      |  SELECT doc_id, token, count(*) AS x FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
      |  ) WHERE token <> '' GROUP BY 1, 2
      |),
      |nd AS (SELECT count(*) AS nn FROM documents),
      |m AS (
      |  SELECT token, count(*) AS df,
      |    sum(CAST(x AS DECIMAL(38,0))) AS s1,
      |    sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS s2
      |  FROM occ GROUP BY 1
      |)
      |SELECT token, df, CAST(s1 AS BIGINT) AS total_occ,
      |  (CAST(round(
      |    (CAST(s2 AS DOUBLE) / CAST(nn AS DOUBLE)
      |     - (CAST(s1 AS DOUBLE) / CAST(nn AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(nn AS DOUBLE)))
      |    / (CAST(s1 AS DOUBLE) / CAST(nn AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS vmr
      |FROM m CROSS JOIN nd WHERE df >= 5
      |ORDER BY vmr DESC, token LIMIT 20""".stripMargin

  /** #362 log_odds_keyness — Monroe, Colaresi & Quinn (2008)
    * Dirichlet-smoothed log-odds keyness between the two
    * lexicographically first sources: WHICH words distinguish corpus
    * A from corpus B, z-scored so rare-word noise doesn't top the
    * list (the raw log-ratio's classic failure) — the
    * corpus-comparison table behind every "what changed in this
    * source" investigation. Two token histograms (one agg), uniform
    * prior α=0.01 with α₀ = α·V (V in-plan), δ and its variance
    * 1/(y_a+α)+1/(y_b+α) as mirrored ln chains over the vocab-sized
    * relation, top-20 by ROUNDED |z| via TakeOrdered. Exact oracle.
    */
  def logOddsKeyness(s: SparkSession, dir: String): DataFrame = {
    val two = Tables.documents(s, dir).select(col("source")).distinct()
      .orderBy(col("source")).limit(2)
      .select(col("source"), row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("source"))).as("side"))
    val toks = Tables.documents(s, dir)
      .join(broadcast(two), Seq("source"))
      .select(col("side"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val counts = toks.groupBy(col("token"))
      .agg(sum(when(col("side") === 1, 1L).otherwise(0L)).as("ya"),
        sum(when(col("side") === 2, 1L).otherwise(0L)).as("yb"))
    val tot = counts.agg(sum(col("ya")).as("na"), sum(col("yb")).as("nb"),
      count(lit(1)).as("v"))
    val alpha = lit(0.01)
    val a0 = alpha * col("v").cast("double")
    def lo(y: Column, n: Column): Column =
      log((y.cast("double") + alpha)
        / (n.cast("double") + a0 - y.cast("double") - alpha))
    val delta = lo(col("ya"), col("na")) - lo(col("yb"), col("nb"))
    val z = delta / sqrt(lit(1.0) / (col("ya").cast("double") + alpha)
      + lit(1.0) / (col("yb").cast("double") + alpha))
    counts.crossJoin(broadcast(tot))
      .select(col("token"), col("ya"), col("yb"),
        emit(delta, 6).as("log_odds"), emit(z, 4).as("z"))
      .orderBy(abs(col("z")).desc, col("token")).limit(20)
  }

  val logOddsKeynessSql: String =
    """WITH two AS (
      |  SELECT source, row_number() OVER (ORDER BY source) AS side
      |  FROM (SELECT DISTINCT source FROM documents ORDER BY source LIMIT 2)
      |),
      |toks AS (
      |  SELECT side, token FROM (
      |    SELECT two.side, unnest(string_split(d.text, ' ')) AS token
      |    FROM documents d JOIN two ON d.source = two.source
      |  ) WHERE token <> ''
      |),
      |counts AS (
      |  SELECT token,
      |    CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ya,
      |    CAST(sum(CASE WHEN side = 2 THEN 1 ELSE 0 END) AS BIGINT) AS yb
      |  FROM toks GROUP BY 1
      |),
      |tot AS (SELECT CAST(sum(ya) AS BIGINT) AS na, CAST(sum(yb) AS BIGINT) AS nb,
      |        count(*) AS v FROM counts)
      |SELECT token, ya, yb,
      |  (CAST(round(
      |    ln((CAST(ya AS DOUBLE) + 0.01) / (CAST(na AS DOUBLE) + 0.01 * CAST(v AS DOUBLE) - CAST(ya AS DOUBLE) - 0.01))
      |    - ln((CAST(yb AS DOUBLE) + 0.01) / (CAST(nb AS DOUBLE) + 0.01 * CAST(v AS DOUBLE) - CAST(yb AS DOUBLE) - 0.01)),
      |    6) AS DOUBLE) + 0.0) AS log_odds,
      |  (CAST(round(
      |    (ln((CAST(ya AS DOUBLE) + 0.01) / (CAST(na AS DOUBLE) + 0.01 * CAST(v AS DOUBLE) - CAST(ya AS DOUBLE) - 0.01))
      |     - ln((CAST(yb AS DOUBLE) + 0.01) / (CAST(nb AS DOUBLE) + 0.01 * CAST(v AS DOUBLE) - CAST(yb AS DOUBLE) - 0.01)))
      |    / sqrt(1.0 / (CAST(ya AS DOUBLE) + 0.01) + 1.0 / (CAST(yb AS DOUBLE) + 0.01)),
      |    4) AS DOUBLE) + 0.0) AS z
      |FROM counts CROSS JOIN tot
      |ORDER BY abs(z) DESC, token LIMIT 20""".stripMargin

  /** #363 acf_table — the full autocorrelation function of the global
    * daily volume series at lags 1…14: events_autocorr probes ONE
    * hourly lag (24), THIS is the table that picks AR model order and
    * confirms the weekly cycle (a spike at 7/14 and decay elsewhere),
    * with the ±1.96/√n white-noise band the reading rule. ALL-INTEGER
    * inner algebra: with scaled deviations d_t = n·x_t − S the ACF is
    * r_L = Σ d_t·d_{t−L} / Σ d_t² — every product exact in
    * DECIMAL(38,0) (n·x ~ N·volume overflows long), no float until
    * the final quotient; the lag joins run on the CALENDAR-bounded
    * dense frame against the broadcast 14-row lag axis. Exact oracle.
    */
  def acfTable(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir).groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("x"))
    val span = daily.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val dense = span.select(explode(expr("sequence(0, datediff(hi, lo))")).as("k"))
      .join(
        daily.crossJoin(broadcast(span))
          .groupBy(datediff(col("d"), col("lo")).as("k")).agg(sum(col("x")).as("x0")),
        Seq("k"), "left")
      .select(col("k"), coalesce(col("x0"), lit(0L)).as("x"))
    val tot = dense.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val dev = graft.Lineage.cut( // calendar-bounded, read 3x (denom + both join sides)
      dense.crossJoin(broadcast(tot))
        .select(col("k"), (dec0(col("n")) * dec0(col("x")) - dec0(col("sx"))).as("dv"), col("n")))
    val denom = dev.agg(sum(col("dv") * col("dv")).as("ss"), max(col("n")).as("n"))
    val lags = s.range(1, 15).select(col("id").cast("int").as("lag"))
    val shifted = dev.select(col("k").as("kb"), col("dv").as("dvp"))
    dev.crossJoin(broadcast(lags))
      .join(shifted, col("kb") === col("k") - col("lag"))
      .groupBy(col("lag"))
      .agg(sum(col("dv") * col("dvp")).as("num"))
      .crossJoin(broadcast(denom))
      .select(col("lag"),
        emit(col("num").cast("double") / col("ss").cast("double"), 6).as("acf"),
        emit(lit(1.96) / sqrt(col("n").cast("double")), 6).as("white_band"))
      .withColumn("significant", abs(col("acf")) > col("white_band"))
      .orderBy(col("lag"))
  }

  val acfTableSql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS x FROM events GROUP BY 1),
      |span AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
      |ks AS (SELECT unnest(generate_series(0, datediff('day', lo, hi))) AS k FROM span),
      |cnt AS (
      |  SELECT datediff('day', lo, d) AS k, CAST(sum(x) AS BIGINT) AS x0
      |  FROM daily, span GROUP BY 1
      |),
      |dense AS (
      |  SELECT ks.k, CAST(coalesce(cnt.x0, 0) AS BIGINT) AS x
      |  FROM ks LEFT JOIN cnt ON ks.k = cnt.k
      |),
      |tot AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx FROM dense),
      |dev AS (
      |  SELECT k, CAST(n AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))
      |    - CAST(sx AS DECIMAL(38,0)) AS dv, n
      |  FROM dense CROSS JOIN tot
      |),
      |denom AS (SELECT sum(dv * dv) AS ss, max(n) AS n FROM dev),
      |lags AS (SELECT unnest(generate_series(1, 14)) AS lag),
      |num AS (
      |  SELECT lag, sum(a.dv * b.dv) AS num
      |  FROM dev a CROSS JOIN lags JOIN dev b ON b.k = a.k - lag
      |  GROUP BY 1
      |)
      |SELECT lag,
      |  (CAST(round(CAST(num AS DOUBLE) / CAST(ss AS DOUBLE), 6) AS DOUBLE) + 0.0) AS acf,
      |  (CAST(round(1.96 / sqrt(CAST(n AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS white_band,
      |  abs(CAST(round(CAST(num AS DOUBLE) / CAST(ss AS DOUBLE), 6) AS DOUBLE))
      |    > (CAST(round(1.96 / sqrt(CAST(n AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS significant
      |FROM num CROSS JOIN denom ORDER BY lag""".stripMargin

  /** #364 ess_report — Kish effective sample size of the re-weighted
    * corpus mix: corpus_mix_weights prescribes per-source weights,
    * THIS prices what the weighting costs in statistical efficiency —
    * ESS = (Σ t·w)²/(Σ t·w²) over token mass, efficiency = ESS/Σt
    * (a mix pushed hard toward uniform can silently halve the
    * effective data; this is the number that says so). Runs entirely
    * on the bounded per-source weights table (the full-scan cost is
    * inside the chained, oracle-verified mix report); products round
    * 6-dp into order-free DECIMAL sums. Exact oracle.
    */
  def essReport(s: SparkSession, dir: String): DataFrame = {
    val w = Round5Ops.corpusMixWeights(s, dir)
      .select(col("source"), col("kept_tokens"), col("weight"))
    val m = w.agg(
      count(lit(1)).as("n_sources"),
      sum(col("kept_tokens")).as("total_tokens"),
      sum(round(col("kept_tokens") * col("weight"), 6).cast(Dec12)).as("sw"),
      sum(round(col("kept_tokens") * col("weight") * col("weight"), 6).cast(Dec12)).as("sw2"))
    m.select(col("n_sources"), col("total_tokens"),
      emit(col("sw").cast("double") * col("sw").cast("double")
        / col("sw2").cast("double"), 2).as("ess_tokens"),
      emit(col("sw").cast("double") * col("sw").cast("double")
        / col("sw2").cast("double") / col("total_tokens").cast("double"), 6)
        .as("efficiency"))
  }

  val essReportSql: String =
    s"""WITH w AS (${Round5Ops.corpusMixWeightsSql.replace("ORDER BY source", "")}),
       |m AS (
       |  SELECT count(*) AS n_sources,
       |    CAST(sum(kept_tokens) AS BIGINT) AS total_tokens,
       |    sum(CAST(round(kept_tokens * weight, 6) AS DECIMAL(38,12))) AS sw,
       |    sum(CAST(round(kept_tokens * weight * weight, 6) AS DECIMAL(38,12))) AS sw2
       |  FROM w
       |)
       |SELECT n_sources, total_tokens,
       |  (CAST(round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sw2 AS DOUBLE), 2) AS DOUBLE) + 0.0) AS ess_tokens,
       |  (CAST(round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sw2 AS DOUBLE)
       |    / CAST(total_tokens AS DOUBLE), 6) AS DOUBLE) + 0.0) AS efficiency
       |FROM m""".stripMargin

  /** #365 attribution_window_sweep — last-touch channel shares under
    * lookback windows {1, 3, 7, ∞} days before the first purchase:
    * the sensitivity table that says whether the attribution family's
    * conclusions (#124/#320/#358) are ROBUST or an artifact of the
    * window someone once picked — a channel whose share collapses
    * from ∞→7d was earning credit only from stale touches. One
    * journey join (the #124 chain), the window axis broadcast, per
    * (window, user) last touch via max_by over exact (ts, event_id)
    * order, shares divide exact longs. Exact oracle.
    */
  def attributionWindowSweep(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("fu")).agg(min(col("ts")).as("fp_ts"))
    val journey = ev.join(fp, col("user_id") === col("fu") && col("ts") < col("fp_ts"))
    val windows = s.range(0, 4).select(
      element_at(array(lit(1), lit(3), lit(7), lit(9999)), (col("id") + 1).cast("int"))
        .as("window_days"))
    val last = journey.crossJoin(broadcast(windows))
      .filter(unix_micros(col("ts")) >= unix_micros(col("fp_ts"))
        - col("window_days").cast("long") * 86400000000L)
      .groupBy(col("window_days"), col("user_id"))
      .agg(max_by(col("event_type"), struct(col("ts"), col("event_id"))).as("channel"))
    val tot = last.groupBy(col("window_days").as("w2")).agg(count(lit(1)).as("n_users_w"))
    last.groupBy(col("window_days"), col("channel"))
      .agg(count(lit(1)).as("n_users"))
      .join(broadcast(tot), col("window_days") === col("w2"))
      .select(col("window_days"), col("channel"), col("n_users"),
        emit(col("n_users").cast("double") / col("n_users_w").cast("double"), 6).as("share"))
      .orderBy(col("window_days"), col("channel"))
  }

  val attributionWindowSweepSql: String =
    """WITH fp AS (
      |  SELECT user_id AS fu, min(ts) AS fp_ts FROM events
      |  WHERE event_type = 'purchase' GROUP BY 1
      |),
      |j AS (
      |  SELECT e.user_id, e.event_type, e.ts, e.event_id, fp.fp_ts
      |  FROM events e JOIN fp ON e.user_id = fp.fu AND e.ts < fp.fp_ts
      |),
      |windows AS (SELECT CAST(unnest([1, 3, 7, 9999]) AS BIGINT) AS window_days),
      |lastt AS (
      |  SELECT window_days, user_id, event_type AS channel FROM (
      |    SELECT window_days, user_id, event_type,
      |      row_number() OVER (PARTITION BY window_days, user_id
      |        ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM j CROSS JOIN windows
      |    WHERE epoch_us(ts) >= epoch_us(fp_ts) - window_days * 86400000000
      |  ) WHERE rn = 1
      |),
      |tot AS (SELECT window_days AS w2, count(*) AS n_users_w FROM lastt GROUP BY 1)
      |SELECT window_days, channel, count(*) AS n_users,
      |  (CAST(round(CAST(count(*) AS DOUBLE) / CAST(any_value(n_users_w) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS share
      |FROM lastt JOIN tot ON lastt.window_days = tot.w2
      |GROUP BY 1, 2 ORDER BY window_days, channel""".stripMargin

  /** #366 emd_drift — the 1-D Wasserstein (earth-mover) distance
    * between the first/second doc-id halves of the length
    * distribution, per language: ks_drift_test reads the SUP norm
    * (one bad value region), THIS reads the INTEGRAL ∫|F1−F2| dv —
    * the metric that notices a small shift spread across the whole
    * distribution, which KS under-weighs. Exact rational end to end:
    * over consecutive distinct values, |F1·n2 − F2·n1|·Δv accumulates
    * in DECIMAL(38,0) (the KS histogram + a lead over the
    * value-domain-bounded relation), one division at the end. Exact
    * oracle.
    */
  def emdDrift(s: SparkSession, dir: String): DataFrame = {
    val wp = org.apache.spark.sql.expressions.Window
    val d0 = Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
    val span = d0.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val hist = d0.crossJoin(broadcast(span))
      .select(col("lang"), col("n_chars"),
        when((col("doc_id") - col("lo")) * 2 <= (col("hi") - col("lo")), 1)
          .otherwise(2).as("half"))
      .groupBy(col("lang"), col("n_chars"))
      .agg(
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("half") === 2, 1L).otherwise(0L)).as("c2"))
    val wcum = wp.partitionBy(col("lang")).orderBy(col("n_chars"))
      .rowsBetween(wp.unboundedPreceding, 0)
    val wlead = wp.partitionBy(col("lang")).orderBy(col("n_chars"))
    val tot = hist.groupBy(col("lang"))
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    hist
      .withColumn("f1", sum(col("c1")).over(wcum))
      .withColumn("f2", sum(col("c2")).over(wcum))
      .withColumn("dv", lead(col("n_chars"), 1).over(wlead) - col("n_chars"))
      .filter(col("dv").isNotNull)
      .join(broadcast(tot), Seq("lang"))
      .select(col("lang"), col("n1"), col("n2"),
        (abs(dec0(col("f1")) * dec0(col("n2")) - dec0(col("f2")) * dec0(col("n1")))
          * dec0(col("dv"))).as("seg"))
      .groupBy(col("lang"), col("n1"), col("n2"))
      .agg(sum(col("seg")).as("num"))
      .select(col("lang"), col("n1"), col("n2"),
        emit(col("num").cast("double")
          / (col("n1").cast("double") * col("n2").cast("double")), 6).as("emd_chars"))
      .orderBy(col("lang"))
  }

  val emdDriftSql: String =
    """WITH span AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
      |hist AS (
      |  SELECT lang, n_chars,
      |    CAST(sum(CASE WHEN (doc_id - lo) * 2 <= (hi - lo) THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(sum(CASE WHEN (doc_id - lo) * 2 <= (hi - lo) THEN 0 ELSE 1 END) AS BIGINT) AS c2
      |  FROM documents CROSS JOIN span GROUP BY 1, 2
      |),
      |cum AS (
      |  SELECT lang, n_chars, c1, c2,
      |    CAST(sum(c1) OVER (PARTITION BY lang ORDER BY n_chars
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f1,
      |    CAST(sum(c2) OVER (PARTITION BY lang ORDER BY n_chars
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f2,
      |    lead(n_chars) OVER (PARTITION BY lang ORDER BY n_chars) - n_chars AS dv
      |  FROM hist
      |),
      |tot AS (SELECT lang, CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
      |        FROM hist GROUP BY 1),
      |seg AS (
      |  SELECT cum.lang, n1, n2,
      |    sum(abs(CAST(f1 AS DECIMAL(38,0)) * CAST(n2 AS DECIMAL(38,0))
      |          - CAST(f2 AS DECIMAL(38,0)) * CAST(n1 AS DECIMAL(38,0)))
      |        * CAST(dv AS DECIMAL(38,0))) AS num
      |  FROM cum JOIN tot ON cum.lang = tot.lang
      |  WHERE dv IS NOT NULL GROUP BY 1, 2, 3
      |)
      |SELECT lang, n1, n2,
      |  (CAST(round(CAST(num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS emd_chars
      |FROM seg ORDER BY lang""".stripMargin

  /** #367 variance_ratio_test — Lo–MacKinlay variance ratios of the
    * daily volume series at horizons q ∈ {2, 4, 8}: VR(q) =
    * Var(q-day sums)/(q·Var(daily)) reads ≈1 for uncorrelated
    * increments, >1 for trending/persistent series, <1 for
    * mean-reverting — the aggregation-horizon diagnostic that says
    * whether a weekly rollup hides or reveals the structure the daily
    * monitors watch. The q-day overlapping sums are window sums over
    * the CALENDAR-bounded dense frame; both variances accumulate from
    * integer Σy/Σy² in DECIMAL(38,0), floats only in the final
    * ratio. Exact oracle.
    */
  def varianceRatioTest(s: SparkSession, dir: String): DataFrame = {
    val wp = org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir).groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("x"))
    val span = daily.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val dense = span.select(explode(expr("sequence(0, datediff(hi, lo))")).as("k"))
      .join(
        daily.crossJoin(broadcast(span))
          .groupBy(datediff(col("d"), col("lo")).as("k")).agg(sum(col("x")).as("x0")),
        Seq("k"), "left")
      .select(col("k"), coalesce(col("x0"), lit(0L)).as("x"))
    val denseCut = graft.Lineage.cut(dense) // calendar-bounded, read 3x
    val base = denseCut.agg(count(lit(1)).as("n"),
      sum(dec0(col("x"))).as("s1"), sum(dec0(col("x")) * dec0(col("x"))).as("s2"))
    def varD(n: Column, s1: Column, s2: Column): Column = {
      val mean = s1.cast("double") / n.cast("double")
      s2.cast("double") / n.cast("double") - mean * mean
    }
    val qs = s.range(0, 3).select(
      element_at(array(lit(2), lit(4), lit(8)), (col("id") + 1).cast("int")).as("q"))
    // rowsBetween(0, q-1) would need a per-row frame bound: express the
    // q-sum as a self-join range instead (k ≤ k2 < k+q, bounded frame)
    val qsums = denseCut.crossJoin(broadcast(qs))
      .join(denseCut.select(col("k").as("k2"), col("x").as("x2")),
        col("k2") >= col("k") && col("k2") < col("k") + col("q"))
      .groupBy(col("q"), col("k"))
      .agg(sum(col("x2")).as("y"), count(lit(1)).as("m"))
      .filter(col("m") === col("q"))
    val qm = qsums.groupBy(col("q"))
      .agg(count(lit(1)).as("nq"),
        sum(dec0(col("y"))).as("t1"), sum(dec0(col("y")) * dec0(col("y"))).as("t2"))
    qm.crossJoin(broadcast(base))
      .select(col("q"), col("nq"),
        emit(varD(col("nq"), col("t1"), col("t2"))
          / (col("q").cast("double") * varD(col("n"), col("s1"), col("s2"))), 6).as("vr"))
      .withColumn("reading",
        when(col("vr") > 1.2, "trending")
          .when(col("vr") < 0.8, "mean_reverting").otherwise("random_walk_band"))
      .orderBy(col("q"))
  }

  val varianceRatioTestSql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS x FROM events GROUP BY 1),
      |span AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
      |ks AS (SELECT unnest(generate_series(0, datediff('day', lo, hi))) AS k FROM span),
      |cnt AS (SELECT datediff('day', lo, d) AS k, CAST(sum(x) AS BIGINT) AS x0
      |        FROM daily, span GROUP BY 1),
      |dense AS (
      |  SELECT ks.k, CAST(coalesce(cnt.x0, 0) AS BIGINT) AS x
      |  FROM ks LEFT JOIN cnt ON ks.k = cnt.k
      |),
      |base AS (
      |  SELECT count(*) AS n, sum(CAST(x AS DECIMAL(38,0))) AS s1,
      |    sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS s2
      |  FROM dense
      |),
      |qs AS (SELECT unnest([2, 4, 8]) AS q),
      |qsums AS (
      |  SELECT q, a.k, CAST(sum(b.x) AS BIGINT) AS y, count(*) AS m
      |  FROM dense a CROSS JOIN qs JOIN dense b ON b.k >= a.k AND b.k < a.k + q
      |  GROUP BY 1, 2 HAVING count(*) = q
      |),
      |qm AS (
      |  SELECT q, count(*) AS nq, sum(CAST(y AS DECIMAL(38,0))) AS t1,
      |    sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS t2
      |  FROM qsums GROUP BY 1
      |)
      |SELECT q, nq,
      |  (CAST(round(
      |    (CAST(t2 AS DOUBLE) / CAST(nq AS DOUBLE)
      |      - (CAST(t1 AS DOUBLE) / CAST(nq AS DOUBLE)) * (CAST(t1 AS DOUBLE) / CAST(nq AS DOUBLE)))
      |    / (CAST(q AS DOUBLE) * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
      |      - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))),
      |    6) AS DOUBLE) + 0.0) AS vr,
      |  CASE WHEN CAST(round(
      |    (CAST(t2 AS DOUBLE) / CAST(nq AS DOUBLE)
      |      - (CAST(t1 AS DOUBLE) / CAST(nq AS DOUBLE)) * (CAST(t1 AS DOUBLE) / CAST(nq AS DOUBLE)))
      |    / (CAST(q AS DOUBLE) * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
      |      - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))),
      |    6) AS DOUBLE) > 1.2 THEN 'trending'
      |    WHEN CAST(round(
      |    (CAST(t2 AS DOUBLE) / CAST(nq AS DOUBLE)
      |      - (CAST(t1 AS DOUBLE) / CAST(nq AS DOUBLE)) * (CAST(t1 AS DOUBLE) / CAST(nq AS DOUBLE)))
      |    / (CAST(q AS DOUBLE) * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
      |      - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))),
      |    6) AS DOUBLE) < 0.8 THEN 'mean_reverting'
      |    ELSE 'random_walk_band' END AS reading
      |FROM qm CROSS JOIN base ORDER BY q""".stripMargin

  /** #368 churn_hazard — the discrete-time life table of user churn
    * by tenure week: per week w the risk set, observed churns (last
    * activity in week w, uncensored), right-censored users (still
    * active within 7 days of the data horizon — absence of evidence,
    * not churn: the distinction that makes naive "days since last
    * event" churn rates systematically pessimistic), the hazard
    * h_w = churned/at_risk and the survival curve Π(1−h). One
    * per-user (first, last) agg; the life table lives on the bounded
    * tenure-week axis (reverse-cumulative risk set, cumulative
    * 12-dp-rounded ln(1−h) sums for survival, mirrored). Exact
    * oracle.
    */
  def churnHazard(s: SparkSession, dir: String): DataFrame = {
    val wp = org.apache.spark.sql.expressions.Window
    val perUser = Tables.events(s, dir).groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_d"), max(to_date(col("ts"))).as("last_d"))
    val horizon = Tables.events(s, dir).agg(max(to_date(col("ts"))).as("hz"))
    val marked = perUser.crossJoin(broadcast(horizon))
      .select(
        floor(datediff(col("last_d"), col("first_d")) / 7).cast("long").as("w"),
        (datediff(col("hz"), col("last_d")) < 7).as("censored"))
    val weekly = marked.groupBy(col("w"))
      .agg(sum(when(!col("censored"), 1L).otherwise(0L)).as("churned"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("censored_n"))
    val wrisk = wp.orderBy(col("w").desc).rowsBetween(wp.unboundedPreceding, 0)
    val wsurv = wp.orderBy(col("w")).rowsBetween(wp.unboundedPreceding, 0)
    weekly // both windows run over the bounded tenure-week axis
      .withColumn("at_risk", sum(col("churned") + col("censored_n")).over(wrisk))
      .withColumn("hazard6",
        round(col("churned").cast("double") / col("at_risk").cast("double"), 6))
      .withColumn("lnterm", // h=1 only at the final week: emit 0 there
        when(col("hazard6") < 1.0, round(log(lit(1.0) - col("hazard6")), 12))
          .otherwise(lit(0.0)))
      .withColumn("survival",
        when(col("hazard6") >= 1.0, lit(0.0))
          .otherwise(exp(sum(col("lnterm").cast(Dec12)).over(wsurv).cast("double"))))
      .select(col("w").as("tenure_week"), col("at_risk"), col("churned"),
        col("censored_n").as("censored"),
        col("hazard6").cast("double").as("hazard"),
        emit(col("survival"), 6).as("survival"))
      .orderBy(col("tenure_week"))
  }

  val churnHazardSql: String =
    """WITH pu AS (
      |  SELECT user_id, min(CAST(ts AS DATE)) AS first_d, max(CAST(ts AS DATE)) AS last_d
      |  FROM events GROUP BY 1
      |),
      |hz AS (SELECT max(CAST(ts AS DATE)) AS hz FROM events),
      |marked AS (
      |  SELECT CAST(floor(datediff('day', first_d, last_d) / 7.0) AS BIGINT) AS w,
      |    datediff('day', last_d, hz) < 7 AS censored
      |  FROM pu CROSS JOIN hz
      |),
      |weekly AS (
      |  SELECT w,
      |    CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT) AS churned,
      |    CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS censored_n
      |  FROM marked GROUP BY 1
      |),
      |lt AS (
      |  SELECT w, churned, censored_n,
      |    CAST(sum(churned + censored_n) OVER (ORDER BY w DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS at_risk
      |  FROM weekly
      |),
      |hzd AS (
      |  SELECT w, at_risk, churned, censored_n,
      |    round(CAST(churned AS DOUBLE) / CAST(at_risk AS DOUBLE), 6) AS hazard6
      |  FROM lt
      |)
      |SELECT w AS tenure_week, at_risk, churned, censored_n AS censored,
      |  CAST(hazard6 AS DOUBLE) AS hazard,
      |  CASE WHEN hazard6 >= 1.0 THEN 0.0 ELSE
      |    (CAST(round(exp(CAST(sum(CAST(CASE WHEN hazard6 < 1.0
      |      THEN round(ln(1.0 - hazard6), 12) ELSE 0.0 END AS DECIMAL(38,12)))
      |      OVER (ORDER BY w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)), 6) AS DOUBLE) + 0.0)
      |  END AS survival
      |FROM hzd ORDER BY tenure_week""".stripMargin

  /** #369 session_gap_sensitivity — the sessionize knob table: per
    * candidate inactivity gap {10m, 30m, 60m}, the session count,
    * events per session, and the share of consecutive-event pairs the
    * cut breaks — the sweep a team reads BEFORE standardizing a
    * session definition (every downstream funnel/retention number
    * moves with this knob, and #25's 30m is a convention, not a
    * law). One lag-window pass yields every inter-event gap; the
    * sweep is conditional sums against the broadcast 3-row axis;
    * sessions = users + broken pairs EXACTLY, so the whole table is
    * integer until the final divisions. Exact oracle.
    */
  def sessionGapSensitivity(s: SparkSession, dir: String): DataFrame = {
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gaps = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(wp))
    val tot = gaps.agg(count(lit(1)).as("n_events"),
      countDistinct(col("user_id")).as("n_users"),
      sum(when(col("gap_us").isNotNull, 1L).otherwise(0L)).as("n_pairs"))
    val thrs = s.range(0, 3).select(
      element_at(array(lit(600L), lit(1800L), lit(3600L)), (col("id") + 1).cast("int"))
        .as("gap_s"))
    gaps.crossJoin(broadcast(thrs))
      .groupBy(col("gap_s"))
      .agg(sum(when(col("gap_us") > col("gap_s") * 1000000L, 1L).otherwise(0L)).as("broken"))
      .crossJoin(broadcast(tot))
      .select(col("gap_s"),
        (col("n_users") + col("broken")).as("n_sessions"),
        emit(col("n_events").cast("double")
          / (col("n_users") + col("broken")).cast("double"), 6).as("events_per_session"),
        emit(col("broken").cast("double") / col("n_pairs").cast("double"), 6)
          .as("pair_break_share"))
      .orderBy(col("gap_s"))
  }

  val sessionGapSensitivitySql: String =
    """WITH g AS (
      |  SELECT user_id,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      |  FROM events
      |),
      |tot AS (
      |  SELECT count(*) AS n_events, count(DISTINCT user_id) AS n_users,
      |    CAST(sum(CASE WHEN gap_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
      |  FROM g
      |),
      |thrs AS (SELECT CAST(unnest([600, 1800, 3600]) AS BIGINT) AS gap_s),
      |agg AS (
      |  SELECT gap_s,
      |    CAST(sum(CASE WHEN gap_us > gap_s * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS broken
      |  FROM g CROSS JOIN thrs GROUP BY 1
      |)
      |SELECT gap_s, n_users + broken AS n_sessions,
      |  (CAST(round(CAST(n_events AS DOUBLE) / CAST(n_users + broken AS DOUBLE), 6) AS DOUBLE) + 0.0) AS events_per_session,
      |  (CAST(round(CAST(broken AS DOUBLE) / CAST(n_pairs AS DOUBLE), 6) AS DOUBLE) + 0.0) AS pair_break_share
      |FROM agg CROSS JOIN tot ORDER BY gap_s""".stripMargin

  /** #370 pii_density_report — per-source PII density over the
    * pii_scrub planted corpus (same deterministic planting rule, so
    * the oracle stays exact): emails / phones per 1000 docs and the
    * share of docs carrying any PII — the compliance TRIAGE face of
    * #78 (scrubbing is per-doc; deciding WHICH source needs legal
    * review before release is this table). One regex-count scan + one
    * source agg; densities divide exact longs. Exact oracle.
    */
  def piiDensityReport(s: SparkSession, dir: String): DataFrame = {
    val withPii = Tables.documents(s, dir).select(
      col("source"),
      concat(
        col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
    withPii
      .select(col("source"),
        size(regexp_extract_all(col("text"), lit(Round4Ops.EmailRe), lit(0))).as("ne"),
        size(regexp_extract_all(col("text"), lit(Round4Ops.PhoneRe), lit(0))).as("np"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ne")).as("n_emails"), sum(col("np")).as("n_phones"),
        sum(when(col("ne") + col("np") > 0, 1L).otherwise(0L)).as("docs_with_pii"))
      .select(col("source"), col("n_docs"), col("n_emails"), col("n_phones"),
        emit(col("n_emails").cast("double") * lit(1000.0) / col("n_docs").cast("double"), 4)
          .as("emails_per_1k"),
        emit(col("n_phones").cast("double") * lit(1000.0) / col("n_docs").cast("double"), 4)
          .as("phones_per_1k"),
        emit(col("docs_with_pii").cast("double") / col("n_docs").cast("double"), 6)
          .as("pii_doc_share"))
      .orderBy(col("source"))
  }

  val piiDensityReportSql: String =
    """WITH p AS (
      |  SELECT source,
      |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-' ||
      |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
      |  FROM documents
      |),
      |c AS (
      |  SELECT source,
      |    len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', 0)) AS ne,
      |    len(regexp_extract_all(text, '\+1-555-[0-9]{4}', 0)) AS np
      |  FROM p
      |)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(ne) AS BIGINT) AS n_emails, CAST(sum(np) AS BIGINT) AS n_phones,
      |  (CAST(round(CAST(sum(ne) AS DOUBLE) * 1000.0 / CAST(count(*) AS DOUBLE), 4) AS DOUBLE) + 0.0) AS emails_per_1k,
      |  (CAST(round(CAST(sum(np) AS DOUBLE) * 1000.0 / CAST(count(*) AS DOUBLE), 4) AS DOUBLE) + 0.0) AS phones_per_1k,
      |  (CAST(round(CAST(sum(CASE WHEN ne + np > 0 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS pii_doc_share
      |FROM c GROUP BY 1 ORDER BY source""".stripMargin

  /** #371 weekend_effect — Welch two-sample z of weekend vs weekday
    * daily volume (the punchcard epoch-day weekday rule: Sat/Sun are
    * dow 6 and 0): the seasonality check behind staffing/capacity
    * decisions, stated as a test instead of an eyeballed punchcard —
    * and the honest companion to seasonal_strength (strength says the
    * weekly SHAPE exists; this says whether the weekend LEVEL shift
    * specifically is significant). Daily counts from one fine agg;
    * both groups' moments exact DECIMAL(38,0); the Welch chain runs
    * mirrored on the single-row frame. Exact oracle.
    */
  def weekendEffect(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(floor(unix_timestamp(col("ts")) / 86400).as("ed"))
      .agg(count(lit(1)).as("x"))
      .select(col("x"),
        (((col("ed") + 4) % 7 === 6) || ((col("ed") + 4) % 7 === 0)).as("weekend"))
    val m = daily.groupBy(col("weekend"))
      .agg(count(lit(1)).as("n"), sum(dec0(col("x"))).as("s1"),
        sum(dec0(col("x")) * dec0(col("x"))).as("s2"))
    val wide = m.agg(
      sum(when(col("weekend"), col("n"))).as("nw"),
      sum(when(col("weekend"), col("s1"))).as("sw1"),
      sum(when(col("weekend"), col("s2"))).as("sw2"),
      sum(when(!col("weekend"), col("n"))).as("nd"),
      sum(when(!col("weekend"), col("s1"))).as("sd1"),
      sum(when(!col("weekend"), col("s2"))).as("sd2"))
    def mean(s1: Column, n: Column) = s1.cast("double") / n.cast("double")
    def vr(s1: Column, s2: Column, n: Column) = {
      val mu = mean(s1, n); s2.cast("double") / n.cast("double") - mu * mu
    }
    val z = (mean(col("sw1"), col("nw")) - mean(col("sd1"), col("nd"))) /
      sqrt(vr(col("sw1"), col("sw2"), col("nw")) / col("nw").cast("double")
        + vr(col("sd1"), col("sd2"), col("nd")) / col("nd").cast("double"))
    wide.select(
      col("nw").cast("long").as("n_weekend_days"), col("nd").cast("long").as("n_weekday_days"),
      emit(mean(col("sw1"), col("nw")), 4).as("mean_weekend"),
      emit(mean(col("sd1"), col("nd")), 4).as("mean_weekday"),
      emit(z, 4).as("welch_z"))
      .withColumn("significant", abs(col("welch_z")) > 1.96)
  }

  val weekendEffectSql: String = {
    def mean(s1: String, n: String) = s"CAST($s1 AS DOUBLE) / CAST($n AS DOUBLE)"
    def vr(s1: String, s2: String, n: String) =
      s"CAST($s2 AS DOUBLE) / CAST($n AS DOUBLE) - (${mean(s1, n)}) * (${mean(s1, n)})"
    val z = s"((${mean("sw1", "nw")}) - (${mean("sd1", "nd")})) / " +
      s"sqrt((${vr("sw1", "sw2", "nw")}) / CAST(nw AS DOUBLE) + (${vr("sd1", "sd2", "nd")}) / CAST(nd AS DOUBLE))"
    s"""WITH daily AS (
       |  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS ed, count(*) AS x
       |  FROM events GROUP BY 1
       |),
       |flag AS (
       |  SELECT x, ((ed + 4) % 7 = 6) OR ((ed + 4) % 7 = 0) AS weekend FROM daily
       |),
       |m AS (
       |  SELECT weekend, count(*) AS n, sum(CAST(x AS DECIMAL(38,0))) AS s1,
       |    sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS s2
       |  FROM flag GROUP BY 1
       |),
       |wide AS (
       |  SELECT
       |    sum(CASE WHEN weekend THEN n END) AS nw,
       |    sum(CASE WHEN weekend THEN s1 END) AS sw1,
       |    sum(CASE WHEN weekend THEN s2 END) AS sw2,
       |    sum(CASE WHEN NOT weekend THEN n END) AS nd,
       |    sum(CASE WHEN NOT weekend THEN s1 END) AS sd1,
       |    sum(CASE WHEN NOT weekend THEN s2 END) AS sd2
       |  FROM m
       |)
       |SELECT CAST(nw AS BIGINT) AS n_weekend_days, CAST(nd AS BIGINT) AS n_weekday_days,
       |  (CAST(round(${mean("sw1", "nw")}, 4) AS DOUBLE) + 0.0) AS mean_weekend,
       |  (CAST(round(${mean("sd1", "nd")}, 4) AS DOUBLE) + 0.0) AS mean_weekday,
       |  (CAST(round($z, 4) AS DOUBLE) + 0.0) AS welch_z,
       |  abs(CAST(round($z, 4) AS DOUBLE)) > 1.96 AS significant
       |FROM wide""".stripMargin
  }

  /** #372 pacf_table — the partial autocorrelation function at lags
    * 1…14 via the Durbin–Levinson recursion, completing Box–Jenkins
    * identification beside #363 (ACF tails ⇒ MA signature, PACF cuts
    * off ⇒ AR order — the pair is how a forecaster picks the model
    * the catalog's Holt family then has to beat). The inherently
    * sequential recursion runs as a BOUNDED fold: the 14
    * oracle-verified ACF emits collect to one array and the DL state
    * (φ vector, innovation variance v) folds over 13 steps inside
    * ONE aggregate HOF — no iteration state, no driver math, nothing
    * data-sized past the ACF chain itself. Each step's φ_kk and v are
    * 12-dp rounded so both engines' fold chains stay bit-identical
    * (the EWMA/Holt discipline); the oracle replays the identical
    * recursion as a recursive CTE carrying the φ LIST. Exact oracle.
    */
  def pacfTable(s: SparkSession, dir: String): DataFrame = {
    val r = acfTable(s, dir)
      .agg(sort_array(collect_list(struct(col("lag"), col("acf"), col("white_band")))).as("a"))
      .select(expr("transform(a, x -> x.acf)").as("r"),
        expr("element_at(transform(a, x -> x.white_band), 1)").as("wb"))
    val folded = r.select(col("wb"), col("r"),
      aggregate(
        expr("sequence(2, 14)"),
        expr("""named_struct(
          'phis', array(element_at(r, 1)),
          'v', round(1.0D - element_at(r, 1) * element_at(r, 1), 12),
          'pacf', array(element_at(r, 1)))"""),
        (acc, k) => {
          val phis = acc.getField("phis")
          val dot = aggregate(
            zip_with(phis, reverse(slice(col("r"), lit(1), (k - 1).cast("int"))),
              (a, b) => a * b),
            lit(0.0), (a, b) => a + b)
          val pkk = round(
            (element_at(col("r"), k.cast("int")) - dot) / acc.getField("v"), 12)
          val newPhis = concat(
            zip_with(phis, reverse(phis), (p, q) => p - pkk * q),
            array(pkk))
          struct(
            newPhis.as("phis"),
            round(acc.getField("v") * (lit(1.0) - pkk * pkk), 12).as("v"),
            concat(acc.getField("pacf"), array(pkk)).as("pacf"))
        }).getField("pacf").as("pacf"))
    folded
      .select(col("wb"), posexplode(col("pacf")).as(Seq("pos", "p")))
      .select((col("pos") + 1).as("lag"), emit(col("p"), 6).as("pacf"),
        emit(col("wb"), 6).as("white_band"))
      .withColumn("significant", abs(col("pacf")) > col("white_band"))
      .orderBy(col("lag"))
  }

  val pacfTableSql: String =
    s"""WITH RECURSIVE acf0 AS (${acfTableSql.replace("ORDER BY lag", "")}),
       |rl AS (
       |  SELECT list(acf ORDER BY lag) AS r, any_value(white_band) AS wb FROM acf0
       |),
       |dl AS (
       |  SELECT 1 AS k, [r[1]] AS phis,
       |    round(1.0 - r[1] * r[1], 12) AS v, [r[1]] AS pacf, r, wb
       |  FROM rl
       |  UNION ALL
       |  SELECT k + 1,
       |    list_append(
       |      list_transform(list_zip(phis, list_reverse(phis)),
       |        x -> x[1] - round((r[k + 1] - list_dot_product(phis,
       |          list_reverse(r[1:k]))) / v, 12) * x[2]),
       |      round((r[k + 1] - list_dot_product(phis, list_reverse(r[1:k]))) / v, 12)),
       |    round(v * (1.0 - round((r[k + 1] - list_dot_product(phis,
       |      list_reverse(r[1:k]))) / v, 12)
       |      * round((r[k + 1] - list_dot_product(phis, list_reverse(r[1:k]))) / v, 12)), 12),
       |    list_append(pacf,
       |      round((r[k + 1] - list_dot_product(phis, list_reverse(r[1:k]))) / v, 12)),
       |    r, wb
       |  FROM dl WHERE k < 14
       |),
       |fin AS (SELECT pacf, wb FROM dl WHERE k = 14)
       |SELECT u.i AS lag,
       |  (CAST(round(u.p, 6) AS DOUBLE) + 0.0) AS pacf,
       |  (CAST(round(wb, 6) AS DOUBLE) + 0.0) AS white_band,
       |  abs(CAST(round(u.p, 6) AS DOUBLE)) > (CAST(round(wb, 6) AS DOUBLE) + 0.0) AS significant
       |FROM fin, LATERAL (
       |  SELECT unnest(pacf) AS p, unnest(generate_series(1, len(pacf))) AS i
       |) u
       |ORDER BY lag""".stripMargin

  /** #373 ljung_box — the Ljung–Box portmanteau test over the first
    * 14 autocorrelations: Q = n(n+2)·Σ r_k²/(n−k) against the χ²₁₄
    * 5% cut — durbin_watson asks "is lag-1 clean", THIS asks "are ALL
    * the lags jointly clean", the standard residual-whiteness gate a
    * forecasting pipeline runs before trusting any model comparison.
    * Chains on the oracle-verified ACF emits (the rank_rbo rule); the
    * Q terms are 12-dp rounded into an order-free DECIMAL sum over
    * the bounded 14-row table; n re-derives in-plan from the dense
    * calendar (never decoded from a rounded column). Exact oracle.
    */
  def ljungBox(s: SparkSession, dir: String): DataFrame = {
    val acf = acfTable(s, dir).select(col("lag"), col("acf"))
    val n = Tables.events(s, dir)
      .agg((datediff(max(to_date(col("ts"))), min(to_date(col("ts")))) + 1).as("n"))
    val term = round(col("acf") * col("acf")
      / (col("n") - col("lag")).cast("double"), 12)
    acf.crossJoin(broadcast(n))
      .select(col("n"), term.cast(Dec12).as("t"))
      .groupBy(col("n")).agg(sum(col("t")).as("st"))
      .select(col("n").as("n_days"),
        emit(col("n").cast("double") * (col("n").cast("double") + lit(2.0))
          * col("st").cast("double"), 4).as("q_stat"),
        lit(23.685).as("chi2_cut_5pct"))
      .withColumn("reject_whiteness", col("q_stat") > col("chi2_cut_5pct"))
  }

  val ljungBoxSql: String =
    s"""WITH acf0 AS (${acfTableSql.replace("ORDER BY lag", "")}),
       |nn AS (
       |  SELECT datediff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) + 1 AS n
       |  FROM events
       |),
       |terms AS (
       |  SELECT n,
       |    sum(CAST(round(acf * acf / CAST(n - lag AS DOUBLE), 12) AS DECIMAL(38,12))) AS st
       |  FROM acf0 CROSS JOIN nn GROUP BY 1
       |)
       |SELECT n AS n_days,
       |  (CAST(round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * CAST(st AS DOUBLE), 4) AS DOUBLE) + 0.0) AS q_stat,
       |  23.685 AS chi2_cut_5pct,
       |  CAST(round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * CAST(st AS DOUBLE), 4) AS DOUBLE) > 23.685 AS reject_whiteness
       |FROM terms""".stripMargin

  /** #374 anova_length — one-way ANOVA of document length across the
    * five languages (F, η², with the df1=4 large-N 5% cut 2.372
    * documented in-column): the k-group generalization closing the
    * test family (#371 Welch compares two groups; this asks whether
    * ANY language differs) plus η² — the share of length variance
    * language explains, which is what a stratified-length sampler
    * actually needs to know. Per-group moments are exact
    * DECIMAL(38,0) in ONE map-side agg; SSB/SSW assemble on the
    * bounded 5-row group table with 12-dp rounded terms into DECIMAL
    * sums, the F chain mirrored. Exact oracle.
    */
  def anovaLength(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(s, dir).groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(dec0(col("n_chars"))).as("s1"),
        sum(dec0(col("n_chars")) * dec0(col("n_chars"))).as("s2"))
    val tot = g.agg(sum(col("n")).as("nn"), sum(col("s1")).as("t1"),
      count(lit(1)).as("gk"))
    val mu = col("t1").cast("double") / col("nn").cast("double")
    val mug = col("s1").cast("double") / col("n").cast("double")
    val m = g.crossJoin(broadcast(tot))
      .select(col("nn"), col("gk"),
        round(col("n").cast("double") * (mug - mu) * (mug - mu), 12).cast(Dec12).as("ssb_t"),
        round(col("s2").cast("double") - col("s1").cast("double") * mug, 12).cast(Dec12)
          .as("ssw_t"))
      .groupBy(col("nn"), col("gk"))
      .agg(sum(col("ssb_t")).as("ssb"), sum(col("ssw_t")).as("ssw"))
    val f = (col("ssb").cast("double") / (col("gk") - 1).cast("double")) /
      (col("ssw").cast("double") / (col("nn") - col("gk")).cast("double"))
    m.select(col("gk").as("n_groups"), col("nn").as("n_docs"),
      emit(f, 4).as("f_stat"),
      emit(col("ssb").cast("double")
        / (col("ssb").cast("double") + col("ssw").cast("double")), 6).as("eta_sq"),
      lit(2.372).as("f_cut_5pct_df4"))
      .withColumn("significant", col("f_stat") > col("f_cut_5pct_df4"))
  }

  val anovaLengthSql: String =
    """WITH g AS (
      |  SELECT lang, count(*) AS n,
      |    sum(CAST(n_chars AS DECIMAL(38,0))) AS s1,
      |    sum(CAST(n_chars AS DECIMAL(38,0)) * CAST(n_chars AS DECIMAL(38,0))) AS s2
      |  FROM documents GROUP BY 1
      |),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, sum(s1) AS t1, count(*) AS gk FROM g),
      |m AS (
      |  SELECT nn, gk,
      |    sum(CAST(round(CAST(n AS DOUBLE)
      |      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) - CAST(t1 AS DOUBLE) / CAST(nn AS DOUBLE))
      |      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) - CAST(t1 AS DOUBLE) / CAST(nn AS DOUBLE)),
      |      12) AS DECIMAL(38,12))) AS ssb,
      |    sum(CAST(round(CAST(s2 AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 12) AS DECIMAL(38,12))) AS ssw
      |  FROM g CROSS JOIN tot GROUP BY 1, 2
      |)
      |SELECT gk AS n_groups, nn AS n_docs,
      |  (CAST(round((CAST(ssb AS DOUBLE) / CAST(gk - 1 AS DOUBLE))
      |    / (CAST(ssw AS DOUBLE) / CAST(nn - gk AS DOUBLE)), 4) AS DOUBLE) + 0.0) AS f_stat,
      |  (CAST(round(CAST(ssb AS DOUBLE) / (CAST(ssb AS DOUBLE) + CAST(ssw AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS eta_sq,
      |  2.372 AS f_cut_5pct_df4,
      |  CAST(round((CAST(ssb AS DOUBLE) / CAST(gk - 1 AS DOUBLE))
      |    / (CAST(ssw AS DOUBLE) / CAST(nn - gk AS DOUBLE)), 4) AS DOUBLE) > 2.372 AS significant
      |FROM m""".stripMargin

  /** #375 k_anonymity_sweep — the generalization frontier for the
    * customer quasi-identifier: per acctbal band width {500, 1000,
    * 2000, 5000}, the minimum class size and the share of rows in
    * classes below k=5 and k=10 — #263 audits ONE generalization,
    * THIS is the utility-privacy menu a release decision actually
    * reads (coarser bands cost analytic utility and buy anonymity;
    * the sweep says how much of each). One scan per the broadcast
    * width axis (map-side combinable fine agg), class histograms
    * bounded; shares divide exact longs. Exact oracle.
    */
  def kAnonymitySweep(s: SparkSession, dir: String): DataFrame = {
    val widths = s.range(0, 4).select(
      element_at(array(lit(500), lit(1000), lit(2000), lit(5000)), (col("id") + 1).cast("int"))
        .as("band_width"))
    val classes = Tables.customer(s, dir)
      .crossJoin(broadcast(widths))
      .groupBy(col("band_width"), col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / col("band_width")).as("band"))
      .agg(count(lit(1)).as("sz"))
    classes.groupBy(col("band_width"))
      .agg(count(lit(1)).as("n_classes"), min(col("sz")).as("min_class"),
        sum(col("sz")).as("n_rows"),
        sum(when(col("sz") < 5, col("sz")).otherwise(0L)).as("rows_below_k5"),
        sum(when(col("sz") < 10, col("sz")).otherwise(0L)).as("rows_below_k10"))
      .select(col("band_width"), col("n_classes"), col("min_class"),
        emit(col("rows_below_k5").cast("double") / col("n_rows").cast("double"), 6)
          .as("share_below_k5"),
        emit(col("rows_below_k10").cast("double") / col("n_rows").cast("double"), 6)
          .as("share_below_k10"))
      .orderBy(col("band_width"))
  }

  val kAnonymitySweepSql: String =
    """WITH widths AS (SELECT unnest([500, 1000, 2000, 5000]) AS band_width),
      |classes AS (
      |  SELECT band_width, c_nationkey, c_mktsegment,
      |    floor(c_acctbal / band_width) AS band, count(*) AS sz
      |  FROM customer CROSS JOIN widths
      |  GROUP BY 1, 2, 3, 4
      |)
      |SELECT band_width, count(*) AS n_classes, CAST(min(sz) AS BIGINT) AS min_class,
      |  (CAST(round(CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS DOUBLE)
      |    / CAST(sum(sz) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS share_below_k5,
      |  (CAST(round(CAST(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS DOUBLE)
      |    / CAST(sum(sz) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS share_below_k10
      |FROM classes GROUP BY 1 ORDER BY band_width""".stripMargin

  /** #376 dedup_editdist — edit-distance near-dup mining, the FOURTH
    * near-dup family beside token-set Jaccard (MinHash), bit-sketch
    * (SimHash) and embedding cosine: Levenshtein catches single-char
    * typo/OCR/template-edit variants whose token sets and semantics
    * both still differ, the classic record-linkage distance
    * (Fellegi–Sunter's comparison vector uses it; reference dedup is
    * exact-hash only, `main.rs:1916`). Pairwise Levenshtein is
    * O(n²·L²) so it NEVER runs all-pairs: candidates come from a
    * blocking key (lang, first-8-chars of the normalized 48-char
    * prefix) — the blocking_report (#291) trade made executable; the
    * block self-join runs under the family hot-bucket cap (modeled in
    * the oracle's QUALIFY, the containment precedent) so per-key pair
    * output stays bounded at any SF. The distance itself runs on the
    * bounded 48-char prefix (L² on 48, not on document length).
    * Deterministic planted variants (docs with doc_id ≡ 0 mod 89 get
    * a twin with chars 9-10 mutated INSIDE the prefix but OUTSIDE the
    * block key, id offset +1000000) prove detection identically in
    * both engines — the synthetic corpus has no organic near-dups, the
    * pii_scrub planting rule. Similarity divides exact ints once.
    * Exact oracle.
    */
  def dedupEditdist(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text"))
    val variants = base
      .filter(length(col("text")) >= 20)
      .filter(col("doc_id") % 89 === 0)
      .select(
        (col("doc_id") + 1000000L).as("doc_id"), col("lang"),
        concat(substring(col("text"), 1, 8), lit("ZQ"),
          substring(col("text"), 11, Int.MaxValue)).as("text"))
    val corpus = base.unionByName(variants)
      .select(col("doc_id"), col("lang"),
        substring(lower(col("text")), 1, 48).as("p"))
      .withColumn("k", substring(col("p"), 1, 8))
    val guarded = TextOps.dropHotBuckets(corpus, Seq("lang", "k"), "dedup_editdist_buckets")
    guarded.select(col("lang"), col("k"), col("doc_id").as("a"), col("p").as("pa"))
      .join(
        guarded.select(col("lang"), col("k"), col("doc_id").as("b"), col("p").as("pb")),
        Seq("lang", "k"))
      .filter(col("a") < col("b"))
      .withColumn("dist", levenshtein(col("pa"), col("pb")))
      .filter(col("dist") <= 6)
      .select(col("a"), col("b"), col("dist").cast("long").as("dist"),
        emit(lit(1.0) - col("dist").cast("double") /
          greatest(length(col("pa")), length(col("pb"))).cast("double"), 4).as("sim"))
      .orderBy(col("a"), col("b"))
  }

  val dedupEditdistSql: String =
    s"""WITH base AS (SELECT doc_id, lang, text FROM documents),
       |variants AS (
       |  SELECT doc_id + 1000000 AS doc_id, lang,
       |    substr(text, 1, 8) || 'ZQ' || substr(text, 11) AS text
       |  FROM base WHERE length(text) >= 20 AND doc_id % 89 = 0
       |),
       |corpus AS (
       |  SELECT doc_id, lang, substr(lower(text), 1, 48) AS p,
       |    substr(lower(text), 1, 8) AS k
       |  FROM (SELECT * FROM base UNION ALL SELECT * FROM variants)
       |),
       |guarded AS (
       |  SELECT * FROM corpus
       |  QUALIFY count(*) OVER (PARTITION BY lang, k) <= ${TextOps.PairBucketCap}
       |),
       |pairs AS (
       |  SELECT g1.doc_id AS a, g2.doc_id AS b,
       |    levenshtein(g1.p, g2.p) AS dist,
       |    greatest(length(g1.p), length(g2.p)) AS plen
       |  FROM guarded g1 JOIN guarded g2
       |    ON g1.lang = g2.lang AND g1.k = g2.k AND g1.doc_id < g2.doc_id
       |)
       |SELECT a, b, CAST(dist AS BIGINT) AS dist,
       |  (CAST(round(1.0 - CAST(dist AS DOUBLE) / CAST(plen AS DOUBLE), 4) AS DOUBLE) + 0.0) AS sim
       |FROM pairs WHERE dist <= 6
       |ORDER BY a, b""".stripMargin

  /** #405 mann_whitney_test — the Mann–Whitney/Wilcoxon rank-sum test
    * of doc length, EN vs non-EN: the NONPARAMETRIC two-sample
    * location test beside weekend_effect's Welch z (Welch trusts
    * moments a heavy-tailed length distribution does not have —
    * jarque_bera_report says when that trust is fiction, THIS is the
    * test to run then). U computed WITHOUT a global sort via the
    * distinct-length histogram (the classifier_auc device): 2U₁ =
    * Σ_v n₁(v)·(2·cumN₂below(v) + n₂(v)) stays ALL-INTEGER; the tie
    * correction Σ(t³−t) sums in DECIMAL(38,0) (t³ overflows a long at
    * 1e9 docs); the normal approximation's μ/σ chain runs once over
    * the single aggregated row, mirrored operation-for-operation in
    * the oracle. The cumulative window runs over the bounded
    * distinct-length relation only. Exact oracle.
    */
  def mannWhitneyTest(s: SparkSession, dir: String): DataFrame = {
    val wp = org.apache.spark.sql.expressions.Window
    val hist = Tables.documents(s, dir)
      .select(col("n_chars").as("v"),
        when(col("lang") === "en", 1L).otherwise(0L).as("en"))
      .groupBy(col("v"))
      .agg(sum(col("en")).as("n1"), sum(lit(1L) - col("en")).as("n2"))
    val w = wp.orderBy(col("v")).rowsBetween(wp.unboundedPreceding, -1)
    // the window runs over the bounded distinct-length relation
    val agg = hist
      .withColumn("cum2", coalesce(sum(col("n2")).over(w), lit(0L)))
      .select(
        (col("n1") * (lit(2L) * col("cum2") + col("n2"))).as("u2t"),
        col("n1"), col("n2"),
        (dec0(col("n1") + col("n2")) * dec0(col("n1") + col("n2"))
          * dec0(col("n1") + col("n2")) - dec0(col("n1") + col("n2"))).as("tiet"))
      .agg(sum(col("u2t")).as("u2"), sum(col("n1")).as("na"),
        sum(col("n2")).as("nb"), sum(col("tiet")).as("ties"))
    val nd = (col("na") + col("nb")).cast("double")
    val sigma = sqrt(
      col("na").cast("double") * col("nb").cast("double") / lit(12.0)
        * ((nd + lit(1.0)) - col("ties").cast("double") / (nd * (nd - lit(1.0)))))
    val z = (col("u2").cast("double") - col("na").cast("double") * col("nb").cast("double")) /
      (lit(2.0) * greatest(sigma, lit(1e-12)))
    agg.select(col("na").as("n_en"), col("nb").as("n_other"), col("u2"),
      emit(col("u2").cast("double")
        / (lit(2.0) * col("na").cast("double") * col("nb").cast("double")), 6).as("auc"),
      emit(z, 4).as("z"))
      .withColumn("significant", abs(col("z")) > 1.96)
  }

  val mannWhitneyTestSql: String =
    """WITH hist AS (
      |  SELECT n_chars AS v,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS n2
      |  FROM documents GROUP BY 1
      |),
      |cum AS (
      |  SELECT n1, n2,
      |    CAST(coalesce(sum(n2) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum2
      |  FROM hist
      |),
      |agg AS (
      |  SELECT CAST(sum(n1 * (2 * cum2 + n2)) AS BIGINT) AS u2,
      |    CAST(sum(n1) AS BIGINT) AS na, CAST(sum(n2) AS BIGINT) AS nb,
      |    sum(CAST(n1 + n2 AS DECIMAL(38,0)) * CAST(n1 + n2 AS DECIMAL(38,0))
      |      * CAST(n1 + n2 AS DECIMAL(38,0)) - CAST(n1 + n2 AS DECIMAL(38,0))) AS ties
      |  FROM cum
      |)
      |SELECT na AS n_en, nb AS n_other, u2,
      |  (CAST(round(CAST(u2 AS DOUBLE)
      |    / (2.0 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS auc,
      |  (CAST(round((CAST(u2 AS DOUBLE) - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
      |    / (2.0 * greatest(sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
      |      * ((CAST(na + nb AS DOUBLE) + 1.0) - CAST(ties AS DOUBLE)
      |        / (CAST(na + nb AS DOUBLE) * (CAST(na + nb AS DOUBLE) - 1.0)))), 1e-12)), 4)
      |    AS DOUBLE) + 0.0) AS z,
      |  abs(CAST(round((CAST(u2 AS DOUBLE) - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
      |    / (2.0 * greatest(sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
      |      * ((CAST(na + nb AS DOUBLE) + 1.0) - CAST(ties AS DOUBLE)
      |        / (CAST(na + nb AS DOUBLE) * (CAST(na + nb AS DOUBLE) - 1.0)))), 1e-12)), 4)
      |    AS DOUBLE)) > 1.96 AS significant
      |FROM agg""".stripMargin

  /** #406 kruskal_wallis — the Kruskal–Wallis rank test of doc length
    * across ALL languages: the k-group closure of mann_whitney_test
    * exactly as anova_length closes weekend_effect on the parametric
    * side (rank-based, so one heavy-tailed language cannot fake a
    * location difference through its variance). Midranks from the
    * distinct-length histogram, kept integer by doubling: 2R_g = Σ_v
    * n_g(v)·(2·cumbelow(v) + t_v + 1) — the window runs over the
    * bounded distinct-value relation, per-group sums are exact longs
    * (Σ_g 2R_g = N(N+1) spec-pinned, the total-rank identity); H's
    * Σ R_g²/n_g accumulates as 12-dp rounds into an order-free
    * DECIMAL sum over the |langs|-row table, tie correction Σ(t³−t)
    * in DECIMAL(38,0), the final H/correction chain one mirrored
    * double expression vs the χ²₄ 5% cut. Exact oracle.
    */
  def kruskalWallis(s: SparkSession, dir: String): DataFrame = {
    val wp = org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir).select(col("lang"), col("n_chars").as("v"))
    val byLangVal = docs.groupBy(col("lang"), col("v")).agg(count(lit(1)).as("n"))
    val byVal = byLangVal.groupBy(col("v")).agg(sum(col("n")).as("t"))
    val w = wp.orderBy(col("v")).rowsBetween(wp.unboundedPreceding, -1)
    // cumulative window over the bounded distinct-length relation
    val withCum = byVal.withColumn("cumb", coalesce(sum(col("t")).over(w), lit(0L)))
    val perGroup = byLangVal.join(withCum, Seq("v"))
      .select(col("lang"),
        (col("n") * (lit(2L) * col("cumb") + col("t") + lit(1L))).as("r2t"), col("n"))
      .groupBy(col("lang"))
      .agg(sum(col("r2t")).as("r2"), sum(col("n")).as("ng"))
    val totals = byVal.agg(sum(col("t")).as("nn"),
      sum(dec0(col("t")) * dec0(col("t")) * dec0(col("t")) - dec0(col("t"))).as("ties"))
    val sAgg = perGroup.crossJoin(broadcast(totals))
      .select(col("nn"), col("ties"),
        round((col("r2").cast("double") / lit(2.0)) * (col("r2").cast("double") / lit(2.0))
          / col("ng").cast("double"), 12).cast(Dec12).as("st"),
        col("r2"))
      .groupBy(col("nn"), col("ties"))
      .agg(sum(col("st")).as("s"), sum(col("r2")).as("r2sum"), count(lit(1)).as("gk"))
    val nd = col("nn").cast("double")
    val h = lit(12.0) / (nd * (nd + lit(1.0))) * col("s").cast("double") -
      lit(3.0) * (nd + lit(1.0))
    val corr = lit(1.0) - col("ties").cast("double") / (nd * nd * nd - nd)
    sAgg.select(col("gk").as("n_groups"), col("nn").as("n_docs"), col("r2sum"),
      emit(h, 4).as("h_stat"),
      emit(h / corr, 4).as("h_tie_corrected"),
      lit(9.488).as("chi2_cut_5pct_df4"))
      .withColumn("significant", col("h_tie_corrected") > col("chi2_cut_5pct_df4"))
  }

  val kruskalWallisSql: String =
    """WITH blv AS (
      |  SELECT lang, n_chars AS v, CAST(count(*) AS BIGINT) AS n
      |  FROM documents GROUP BY 1, 2
      |),
      |bv AS (SELECT v, CAST(sum(n) AS BIGINT) AS t FROM blv GROUP BY 1),
      |cum AS (
      |  SELECT v, t,
      |    CAST(coalesce(sum(t) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb
      |  FROM bv
      |),
      |pg AS (
      |  SELECT lang, CAST(sum(blv.n * (2 * cum.cumb + cum.t + 1)) AS BIGINT) AS r2,
      |    CAST(sum(blv.n) AS BIGINT) AS ng
      |  FROM blv JOIN cum ON blv.v = cum.v GROUP BY 1
      |),
      |tot AS (
      |  SELECT CAST(sum(t) AS BIGINT) AS nn,
      |    sum(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))
      |      - CAST(t AS DECIMAL(38,0))) AS ties
      |  FROM bv
      |),
      |sa AS (
      |  SELECT nn, ties,
      |    sum(CAST(round((CAST(r2 AS DOUBLE) / 2.0) * (CAST(r2 AS DOUBLE) / 2.0)
      |      / CAST(ng AS DOUBLE), 12) AS DECIMAL(38,12))) AS s,
      |    CAST(sum(r2) AS BIGINT) AS r2sum, count(*) AS gk
      |  FROM pg CROSS JOIN tot GROUP BY 1, 2
      |)
      |SELECT gk AS n_groups, nn AS n_docs, r2sum,
      |  (CAST(round(12.0 / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0))
      |    * CAST(s AS DOUBLE) - 3.0 * (CAST(nn AS DOUBLE) + 1.0), 4) AS DOUBLE) + 0.0) AS h_stat,
      |  (CAST(round((12.0 / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0))
      |    * CAST(s AS DOUBLE) - 3.0 * (CAST(nn AS DOUBLE) + 1.0))
      |    / (1.0 - CAST(ties AS DOUBLE)
      |      / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
      |        - CAST(nn AS DOUBLE))), 4) AS DOUBLE) + 0.0) AS h_tie_corrected,
      |  9.488 AS chi2_cut_5pct_df4,
      |  CAST(round((12.0 / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0))
      |    * CAST(s AS DOUBLE) - 3.0 * (CAST(nn AS DOUBLE) + 1.0))
      |    / (1.0 - CAST(ties AS DOUBLE)
      |      / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
      |        - CAST(nn AS DOUBLE))), 4) AS DOUBLE) > 9.488 AS significant
      |FROM sa""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("kruskal_wallis", kruskalWallis, kruskalWallisSql),
    exact("mann_whitney_test", mannWhitneyTest, mannWhitneyTestSql),
    exact("dedup_editdist", dedupEditdist, dedupEditdistSql),
    exact("acf_table", acfTable, acfTableSql),
    exact("ess_report", essReport, essReportSql),
    exact("attribution_window_sweep", attributionWindowSweep, attributionWindowSweepSql),
    exact("pacf_table", pacfTable, pacfTableSql),
    exact("ljung_box", ljungBox, ljungBoxSql),
    exact("anova_length", anovaLength, anovaLengthSql),
    exact("k_anonymity_sweep", kAnonymitySweep, kAnonymitySweepSql),
    exact("emd_drift", emdDrift, emdDriftSql),
    exact("variance_ratio_test", varianceRatioTest, varianceRatioTestSql),
    exact("churn_hazard", churnHazard, churnHazardSql),
    exact("session_gap_sensitivity", sessionGapSensitivity, sessionGapSensitivitySql),
    exact("pii_density_report", piiDensityReport, piiDensityReportSql),
    exact("weekend_effect", weekendEffect, weekendEffectSql),
    exact("cluster_size_dist", clusterSizeDist, clusterSizeDistSql),
    exact("token_burstiness", tokenBurstiness, tokenBurstinessSql),
    exact("log_odds_keyness", logOddsKeyness, logOddsKeynessSql),
    exact("watermark_loss_sweep", watermarkLossSweep, watermarkLossSweepSql),
    exact("position_attribution", positionAttribution, positionAttributionSql),
    exact("jarque_bera_report", jarqueBeraReport, jarqueBeraReportSql))
}
