package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.{exact, rowsOnly}

/** Round-12 operators — the governance/compliance layer and the
  * statistically-careful reporting a production data platform runs on
  * top of its pipelines: right-to-be-forgotten cascade audits, a
  * differentially-private count release (deterministic noise so the
  * oracle can verify the mechanism), and Wilson score intervals for
  * rate reports (the "is this conversion change real" primitive).
  * Every cross-row float total follows the house order-free rule
  * (DECIMAL sums or exact integers), and per-row float chains mirror
  * the oracle's operation ORDER exactly so 6-dp emits are identical.
  * Its A/B keys live in [[ExperimentOps]], its forecasting, trend and
  * drift keys in [[MonitorOps]].
  */
object Round12Ops {
  import OracleMath._

  /** #304 user_erasure_audit — the right-to-be-forgotten cascade
    * (GDPR Art. 17): given a batch of erasure requests (here the
    * deterministic `id % 13 = 0` slice of each id space), report per
    * table how many rows the erasure would delete and keep, BEFORE
    * running the destructive sweep — the audit a data-protection
    * officer signs off on. The cascade is the star schema's FK order:
    * requested customers → their orders → those orders' lineitems;
    * `events` is keyed by its own user-id space. Scale shape: the
    * request set is a tiny relation (a fraction of one dimension), so
    * every membership test is a broadcast semi join against it — and
    * the lineitem cascade joins only the DELETED orders' keys
    * (runtime Bloom pruning applies at 100 TB), never orders×lineitem.
    * Each table contributes one conditional aggregate over one scan;
    * the output is a bounded 4-row report. Exact oracle.
    */
  def userErasureAudit(s: SparkSession, dir: String): DataFrame = {
    val requests = Tables.customer(s, dir)
      .filter(col("c_custkey") % 13 === 0)
      .select(col("c_custkey").as("req_key"))
    val cust = Tables.customer(s, dir)
      .join(broadcast(requests), col("c_custkey") === col("req_key"), "left")
      .agg(
        sum(when(col("req_key").isNotNull, 1L).otherwise(0L)).as("rows_delete"),
        sum(when(col("req_key").isNull, 1L).otherwise(0L)).as("rows_keep"))
      .select(lit("customer").as("entity"), col("rows_delete"), col("rows_keep"))
    val deletedOrders = Tables.orders(s, dir)
      .join(broadcast(requests), col("o_custkey") === col("req_key"), "left_semi")
      .select(col("o_orderkey").as("del_okey"))
    val ord = Tables.orders(s, dir)
      .join(broadcast(requests), col("o_custkey") === col("req_key"), "left")
      .agg(
        sum(when(col("req_key").isNotNull, 1L).otherwise(0L)).as("rows_delete"),
        sum(when(col("req_key").isNull, 1L).otherwise(0L)).as("rows_keep"))
      .select(lit("orders").as("entity"), col("rows_delete"), col("rows_keep"))
    val li = Tables.lineitem(s, dir)
      .join(deletedOrders, col("l_orderkey") === col("del_okey"), "left")
      .agg(
        sum(when(col("del_okey").isNotNull, 1L).otherwise(0L)).as("rows_delete"),
        sum(when(col("del_okey").isNull, 1L).otherwise(0L)).as("rows_keep"))
      .select(lit("lineitem").as("entity"), col("rows_delete"), col("rows_keep"))
    val ev = Tables.events(s, dir)
      .agg(
        sum(when(col("user_id") % 13 === 0, 1L).otherwise(0L)).as("rows_delete"),
        sum(when(col("user_id") % 13 =!= 0, 1L).otherwise(0L)).as("rows_keep"))
      .select(lit("events").as("entity"), col("rows_delete"), col("rows_keep"))
    cust.unionByName(ord).unionByName(li).unionByName(ev).orderBy(col("entity"))
  }

  val userErasureAuditSql: String =
    """WITH req AS (SELECT c_custkey AS req_key FROM customer WHERE c_custkey % 13 = 0),
      |del_orders AS (
      |  SELECT o_orderkey AS del_okey FROM orders
      |  WHERE o_custkey IN (SELECT req_key FROM req)
      |)
      |SELECT * FROM (
      |  SELECT 'customer' AS entity,
      |    CAST(sum(CASE WHEN c_custkey % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS rows_delete,
      |    CAST(sum(CASE WHEN c_custkey % 13 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS rows_keep
      |  FROM customer
      |  UNION ALL
      |  SELECT 'orders',
      |    CAST(sum(CASE WHEN o_custkey IN (SELECT req_key FROM req) THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(sum(CASE WHEN o_custkey IN (SELECT req_key FROM req) THEN 0 ELSE 1 END) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'lineitem',
      |    CAST(sum(CASE WHEN l_orderkey IN (SELECT del_okey FROM del_orders) THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(sum(CASE WHEN l_orderkey IN (SELECT del_okey FROM del_orders) THEN 0 ELSE 1 END) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'events',
      |    CAST(sum(CASE WHEN user_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(sum(CASE WHEN user_id % 13 = 0 THEN 0 ELSE 1 END) AS BIGINT)
      |  FROM events
      |) ORDER BY entity""".stripMargin

  /** #305 dp_noisy_counts — an (ε=1)-differentially-private release of
    * the per-type event counts under the Laplace mechanism (Dwork,
    * McSherry, Nissim & Smith 2006): count + Lap(Δ/ε) with sensitivity
    * Δ=1 for a per-user... per-ROW count here (the mechanism, not a
    * privacy proof over user contribution bounds). The noise draw is
    * DETERMINISTIC so the release is auditable and the oracle can
    * verify the mechanism itself: u = (first-6-hex of
    * md5('dp:'||type) + 0.5) / 16^6 ∈ (0,1), the house md5-uniform
    * device, then the Laplace inverse CDF
    * −b·sign(u−½)·ln(1−2|u−½|). In production the same column
    * expression reads its 6 hex digits from a per-release secret salt;
    * nothing else changes. Scale: ONE map-side-combinable count per
    * type — |types| rows of noise arithmetic after the aggregate,
    * free at any volume. Exact oracle: identical md5 and ln argument
    * both engines, 6-dp emit.
    */
  def dpNoisyCounts(s: SparkSession, dir: String): DataFrame = {
    val b = 1.0 // Δ/ε = 1/1
    val u = (conv(substring(md5(concat(lit("dp:"), col("event_type"))), 1, 6), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(16777216.0)
    val noise =
      when(u < 0.5, lit(b) * log(lit(2.0) * u))
        .otherwise(lit(-b) * log(lit(2.0) * (lit(1.0) - u)))
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("event_type"),
        lit(1.0).as("epsilon"),
        emit(col("n").cast("double") + noise, 6).as("noisy_count"))
      .orderBy(col("event_type"))
  }

  val dpNoisyCountsSql: String =
    """WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
      |u AS (
      |  SELECT event_type, n,
      |    (CAST(concat('0x', substr(md5('dp:' || event_type), 1, 6)) AS BIGINT) + 0.5)
      |      / 16777216.0 AS u
      |  FROM c
      |)
      |SELECT event_type, CAST(1.0 AS DOUBLE) AS epsilon,
      |  (CAST(round(CAST(n AS DOUBLE) +
      |    CASE WHEN u < 0.5 THEN 1.0 * ln(2.0 * u)
      |         ELSE -1.0 * ln(2.0 * (1.0 - u)) END, 6) AS DOUBLE) + 0.0) AS noisy_count
      |FROM u ORDER BY event_type""".stripMargin

  /** #306 wilson_ci_report — per-type success-rate report with Wilson
    * score intervals (Wilson 1927), the binomial CI that behaves at
    * small n and extreme rates where the naive ±z√(p̂q̂/n) interval
    * escapes [0,1]: success := value ≥ 50 (the engagement threshold),
    * z = 1.96. This is the primitive under every "did the rate really
    * move" call in an experiment/monitoring readout. Scale: one
    * conditional count aggregate per type (map-side combine), then
    * |types| rows of closed-form arithmetic — nothing after the agg
    * scales with data. Exact oracle: n and k are exact longs; the
    * float chain (÷, ×, sqrt — all correctly-rounded IEEE ops) is
    * written in the identical order both engines, 6-dp emit.
    */
  def wilsonCiReport(s: SparkSession, dir: String): DataFrame = {
    val z = 1.96
    val agg = Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("value") >= 50.0, 1L).otherwise(0L)).as("k"))
    val nD = col("n").cast("double")
    val p = col("k").cast("double") / nD
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / nD
    val center = p + z2 / (lit(2.0) * nD)
    val margin = lit(z) * sqrt((p * (lit(1.0) - p) + z2 / (lit(4.0) * nD)) / nD)
    agg.select(
      col("event_type"), col("n"), col("k"),
      emit(p, 6).as("rate"),
      emit((center - margin) / denom, 6).as("ci_lo"),
      emit((center + margin) / denom, 6).as("ci_hi"))
      .orderBy(col("event_type"))
  }

  val wilsonCiReportSql: String =
    """WITH agg AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(CASE WHEN value >= 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS k
      |  FROM events GROUP BY 1
      |),
      |f AS (
      |  SELECT event_type, n, k,
      |    CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
      |    CAST(n AS DOUBLE) AS nd,
      |    CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) AS z2
      |  FROM agg
      |)
      |SELECT event_type, n, k,
      |  (CAST(round(p, 6) AS DOUBLE) + 0.0) AS rate,
      |  (CAST(round((p + z2 / (2.0 * nd)
      |        - CAST(1.96 AS DOUBLE) * sqrt((p * (1.0 - p) + z2 / (4.0 * nd)) / nd))
      |      / (1.0 + z2 / nd), 6) AS DOUBLE) + 0.0) AS ci_lo,
      |  (CAST(round((p + z2 / (2.0 * nd)
      |        + CAST(1.96 AS DOUBLE) * sqrt((p * (1.0 - p) + z2 / (4.0 * nd)) / nd))
      |      / (1.0 + z2 / nd), 6) AS DOUBLE) + 0.0) AS ci_hi
      |FROM f ORDER BY event_type""".stripMargin

  /** #309 kneser_ney_bigram — the interpolated Kneser–Ney smoothed
    * bigram table (Kneser & Ney 1995; Chen & Goodman 1999's
    * interpolated form, single discount d=0.75): word_bigrams ships
    * raw MLE probabilities, THIS is the estimator a real LM pipeline
    * ships, where the backoff weight of "san" concentrates on
    * continuations and "francisco" (frequent but only ever after
    * "san") is correctly down-weighted as a novel continuation.
    * P(w2|w1) = max(c−d,0)/c(w1) + [d·N₁₊(w1·)/c(w1)]·N₁₊(·w2)/N₁₊(··)
    * — all four statistics are exact longs off ONE bigram-key count
    * (map-side combined): the head marginals and distinct-successor
    * counts co-key on w1, the continuation counts on w2, the bigram
    * type total is a single-row broadcast. Top-5 per head ranks
    * ROUNDED probabilities (the engine-portable rank rule) through a
    * window over the |vocab|²-bounded count table, never raw grams;
    * d=0.75 is an exactly-representable double and the float chain is
    * division/multiplication of exact longs in mirrored order (exact
    * oracle).
    */
  def kneserNeyBigram(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(s, dir)
      .select(split(col("text"), " ").as("w"))
      .select(explode(expr(
        "filter(zip_with(w, slice(w, 2, size(w)), (a, b) -> struct(a AS w1, b AS w2)), p -> p.w2 IS NOT NULL)"))
        .as("g"))
      .select(col("g.w1").as("w1"), col("g.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
    val counts = grams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val heads = counts.groupBy(col("w1"))
      .agg(sum(col("c")).as("head_n"), count(lit(1)).as("n1_fwd"))
    val cont = counts.groupBy(col("w2")).agg(count(lit(1)).as("n1_bwd"))
    val totalTypes = counts.agg(count(lit(1)).as("n_types"))
    val p =
      greatest(col("c").cast("double") - lit(0.75), lit(0.0)) / col("head_n").cast("double") +
        (lit(0.75) * col("n1_fwd").cast("double") / col("head_n").cast("double")) *
        (col("n1_bwd").cast("double") / col("n_types").cast("double"))
    val scored = counts
      .join(heads, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(totalTypes))
      .filter(col("head_n") >= 3)
      .select(col("w1"), col("w2"), col("c"), col("head_n"), emit(p, 6).as("p_kn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w1")).orderBy(col("p_kn").desc, col("w2"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .orderBy(col("w1"), col("rn"))
  }

  val kneserNeyBigramSql: String =
    """WITH toks AS (
      |  SELECT string_split(text, ' ') AS w FROM documents
      |), grams AS (
      |  SELECT w[i] AS w1, w[i+1] AS w2
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i)
      |  WHERE w[i] <> '' AND w[i+1] <> ''
      |), counts AS (
      |  SELECT w1, w2, count(*) AS c FROM grams GROUP BY 1, 2
      |), heads AS (
      |  SELECT w1, CAST(sum(c) AS BIGINT) AS head_n, count(*) AS n1_fwd FROM counts GROUP BY 1
      |), cont AS (
      |  SELECT w2, count(*) AS n1_bwd FROM counts GROUP BY 1
      |), tot AS (
      |  SELECT count(*) AS n_types FROM counts
      |), scored AS (
      |  SELECT counts.w1, counts.w2, c, head_n,
      |    (CAST(round(
      |      greatest(CAST(c AS DOUBLE) - 0.75, 0.0) / CAST(head_n AS DOUBLE)
      |      + (0.75 * CAST(n1_fwd AS DOUBLE) / CAST(head_n AS DOUBLE))
      |        * (CAST(n1_bwd AS DOUBLE) / CAST(n_types AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS p_kn
      |  FROM counts
      |  JOIN heads ON counts.w1 = heads.w1
      |  JOIN cont ON counts.w2 = cont.w2
      |  CROSS JOIN tot
      |  WHERE head_n >= 3
      |), ranked AS (
      |  SELECT w1, w2, c, head_n, p_kn,
      |    row_number() OVER (PARTITION BY w1 ORDER BY p_kn DESC, w2) AS rn
      |  FROM scored
      |)
      |SELECT w1, w2, c, head_n, p_kn, rn
      |FROM ranked WHERE rn <= 5 ORDER BY w1, rn""".stripMargin

  /** #310 classifier_calibration — the reliability table for the
    * learned-filter slot (Guo et al. 2017's calibration readout,
    * deterministic form): doc_quality_classifier's score mapped to a
    * confidence c = score + 0.5 ∈ [0,1], bucketed into 10 reliability
    * bins, vs the weak reference label lang='en' — per bin the doc
    * count, mean confidence, observed positive rate and the
    * calibration gap. ECE is the n-weighted mean |gap| (the spec
    * re-derives it). Scale: the classifier is one explode + one
    * doc-key agg (its own entry's shape); this adds a broadcast-sized
    * doc_id join to the label column and a 10-row bucket aggregate —
    * nothing after the classifier scales with data. c comes off the
    * mean6 exact-integer division, so bucket edges are identical
    * doubles both engines (exact oracle).
    */
  def classifierCalibration(s: SparkSession, dir: String): DataFrame = {
    val scored = Round9Ops.docQualityClassifier(s, dir)
      .select(col("doc_id"), (col("score") + lit(0.5)).as("c"))
    val labeled = Tables.documents(s, dir)
      .select(col("doc_id"), when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    scored.join(labeled, Seq("doc_id"))
      .select(least(floor(col("c") * 10).cast("long"), lit(9L)).as("bin"), col("c"), col("y"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        dsum(col("c")).as("sum_c"),
        sum(col("y")).as("k"))
      .select(
        col("bin"), col("n"), col("k"),
        emit(col("sum_c").cast("double") / col("n").cast("double"), 6).as("mean_conf"),
        emit(col("k").cast("double") / col("n").cast("double"), 6).as("frac_pos"),
        emit(
          abs(round(col("sum_c").cast("double") / col("n").cast("double"), 6).cast("double")
            - round(col("k").cast("double") / col("n").cast("double"), 6).cast("double")), 6)
          .as("gap"))
      .orderBy(col("bin"))
  }

  val classifierCalibrationSql: String =
    s"""WITH clf AS (${Round9Ops.docQualityClassifierSql}),
       |lab AS (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents
       |),
       |b AS (
       |  SELECT least(CAST(floor((clf.score + 0.5) * 10) AS BIGINT), 9) AS bin,
       |    CAST(clf.score + 0.5 AS DECIMAL(38,6)) AS c, lab.y
       |  FROM clf JOIN lab ON clf.doc_id = lab.doc_id
       |),
       |agg AS (
       |  SELECT bin, count(*) AS n, sum(c) AS sum_c, CAST(sum(y) AS BIGINT) AS k
       |  FROM b GROUP BY 1
       |)
       |SELECT bin, n, k,
       |  (CAST(round(CAST(sum_c AS DOUBLE) / CAST(n AS DOUBLE), 6) AS DOUBLE) + 0.0) AS mean_conf,
       |  (CAST(round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS DOUBLE) + 0.0) AS frac_pos,
       |  (CAST(round(abs(CAST(round(CAST(sum_c AS DOUBLE) / CAST(n AS DOUBLE), 6) AS DOUBLE)
       |    - CAST(round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS gap
       |FROM agg ORDER BY bin""".stripMargin

  /** #311 record_linkage — Fellegi–Sunter probabilistic record linkage
    * (Fellegi & Sunter 1969) between the customer file and a
    * deterministically-corrupted re-registration of it (segment code
    * garbled for key%5=0, balance off by a dollar for key%3=0 — the
    * classic dirty-copy benchmark construction): candidate pairs are
    * generated ONLY within (nation, $1000-balance-band) blocks, each
    * field contributes the classic log2(m/u) agreement /
    * log2((1−m)/(1−u)) disagreement weight, and pairs above the
    * review threshold come out with their decision. u-probabilities
    * are ESTIMATED FROM DATA as the random-agreement mass Σ(f_v/N)²
    * of each field's value distribution (the textbook estimator);
    * m-probabilities are the known corruption rates (EM would fit
    * them in the wild). This is a different family from text dedup:
    * typed-field entity resolution with explicit error modeling.
    * Scale: blocking bounds the quadratic — pairs exist only inside
    * (nation, band) buckets (the LSH-bucket discipline on structured
    * keys); the u estimates are two fine-key aggs collapsing to
    * single-row broadcasts; everything downstream of the block join
    * is filtered by the score threshold. Exact oracle: u ratios are
    * exact longs, the weight chain is mirrored log2/add order, and
    * the threshold compares the ROUNDED score (the rank rule).
    */
  def recordLinkage(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.customer(s, dir).select(
      col("c_custkey").as("a_key"), col("c_nationkey").as("a_nat"),
      col("c_mktsegment").as("a_seg"), floor(col("c_acctbal")).as("a_bal"))
    val b = Tables.customer(s, dir).select(
      col("c_custkey").as("b_key"), col("c_nationkey").as("b_nat"),
      when(col("c_custkey") % 5 === 0, reverse(col("c_mktsegment")))
        .otherwise(col("c_mktsegment")).as("b_seg"),
      when(col("c_custkey") % 3 === 0, floor(col("c_acctbal")) - 1)
        .otherwise(floor(col("c_acctbal"))).as("b_bal"))
    val bN = b.agg(count(lit(1)).as("nb"))
    // u = Σ (f_v/N)²: the chance two random records agree on the field
    def uOf(field: Column): DataFrame => DataFrame = df =>
      df.groupBy(field.as("v")).agg(count(lit(1)).as("f"))
        .crossJoin(broadcast(bN))
        .agg(sum(round(
          (col("f").cast("double") / col("nb").cast("double"))
            * (col("f").cast("double") / col("nb").cast("double")), 12).cast(Dec12)).as("u"))
    val uSeg = uOf(col("b_seg"))(b).select(col("u").as("u_seg"))
    val uBal = uOf(col("b_bal"))(b).select(col("u").as("u_bal"))
    val mSeg = 0.8 // 4/5 of twins keep the segment code
    val mBal = 2.0 / 3.0 // 2/3 keep the exact dollar balance
    // fan the probe side (r11, StageProfile): the single-row-group
    // customer scan fused scan→block-join→score into ONE task (0.7 s
    // on one core while 31 idled — the GraftSession.fan starvation
    // shape); the broadcast side and u scalars are unchanged
    val pairs = graft.GraftSession.fan(a, col("a_key"))
      .join(b,
        col("a_nat") === col("b_nat") &&
          floor(col("a_bal") / 1000) === floor(col("b_bal") / 1000))
      .crossJoin(broadcast(uSeg))
      .crossJoin(broadcast(uBal))
    val wSeg = when(col("a_seg") === col("b_seg"),
      log2(lit(mSeg) / col("u_seg").cast("double")))
      .otherwise(log2(lit(1.0 - mSeg) / (lit(1.0) - col("u_seg").cast("double"))))
    // 1−m evaluated as a double SUBTRACTION in both engines (a decimal
    // literal for 1−2/3 would round differently than the IEEE result)
    val wBal = when(col("a_bal") === col("b_bal"),
      log2(lit(mBal) / col("u_bal").cast("double")))
      .otherwise(log2((lit(1.0) - lit(mBal)) / (lit(1.0) - col("u_bal").cast("double"))))
    pairs
      .select(
        col("a_key"), col("b_key"),
        (col("a_key") === col("b_key")).cast("int").as("same_entity"),
        (col("a_seg") === col("b_seg")).cast("int").as("agree_seg"),
        (col("a_bal") === col("b_bal")).cast("int").as("agree_bal"),
        emit(wSeg + wBal, 6).as("score"))
      .filter(col("score") > 0.0)
      .withColumn("decision", when(col("score") >= 8.0, "link").otherwise("review"))
      .orderBy(col("a_key"), col("b_key"))
  }

  val recordLinkageSql: String =
    """WITH a AS (
      |  SELECT c_custkey AS a_key, c_nationkey AS a_nat, c_mktsegment AS a_seg,
      |    floor(c_acctbal) AS a_bal
      |  FROM customer
      |),
      |b AS (
      |  SELECT c_custkey AS b_key, c_nationkey AS b_nat,
      |    CASE WHEN c_custkey % 5 = 0 THEN reverse(c_mktsegment) ELSE c_mktsegment END AS b_seg,
      |    CASE WHEN c_custkey % 3 = 0 THEN floor(c_acctbal) - 1 ELSE floor(c_acctbal) END AS b_bal
      |  FROM customer
      |),
      |nb AS (SELECT count(*) AS nb FROM b),
      |useg AS (
      |  SELECT sum(CAST(round((CAST(f AS DOUBLE) / CAST(nb AS DOUBLE))
      |    * (CAST(f AS DOUBLE) / CAST(nb AS DOUBLE)), 12) AS DECIMAL(38,12))) AS u_seg
      |  FROM (SELECT b_seg, count(*) AS f FROM b GROUP BY 1), nb
      |),
      |ubal AS (
      |  SELECT sum(CAST(round((CAST(f AS DOUBLE) / CAST(nb AS DOUBLE))
      |    * (CAST(f AS DOUBLE) / CAST(nb AS DOUBLE)), 12) AS DECIMAL(38,12))) AS u_bal
      |  FROM (SELECT b_bal, count(*) AS f FROM b GROUP BY 1), nb
      |),
      |pairs AS (
      |  SELECT a.*, b.*, u_seg, u_bal
      |  FROM a JOIN b ON a_nat = b_nat AND floor(a_bal / 1000) = floor(b_bal / 1000)
      |  CROSS JOIN useg CROSS JOIN ubal
      |),
      |scored AS (
      |  SELECT a_key, b_key,
      |    CAST(a_key = b_key AS INT) AS same_entity,
      |    CAST(a_seg = b_seg AS INT) AS agree_seg,
      |    CAST(a_bal = b_bal AS INT) AS agree_bal,
      |    (CAST(round(
      |      CASE WHEN a_seg = b_seg THEN log2(CAST(0.8 AS DOUBLE) / CAST(u_seg AS DOUBLE))
      |           ELSE log2((CAST(1.0 AS DOUBLE) - CAST(0.8 AS DOUBLE))
      |                     / (CAST(1.0 AS DOUBLE) - CAST(u_seg AS DOUBLE))) END
      |      + CASE WHEN a_bal = b_bal THEN log2((CAST(2.0 AS DOUBLE) / CAST(3.0 AS DOUBLE)) / CAST(u_bal AS DOUBLE))
      |             ELSE log2((CAST(1.0 AS DOUBLE) - (CAST(2.0 AS DOUBLE) / CAST(3.0 AS DOUBLE)))
      |                       / (CAST(1.0 AS DOUBLE) - CAST(u_bal AS DOUBLE))) END,
      |      6) AS DOUBLE) + 0.0) AS score
      |  FROM pairs
      |)
      |SELECT a_key, b_key, same_entity, agree_seg, agree_bal, score,
      |  CASE WHEN score >= 8.0 THEN 'link' ELSE 'review' END AS decision
      |FROM scored WHERE score > 0.0
      |ORDER BY a_key, b_key""".stripMargin

  /** #312 burrows_delta — Burrows' Delta (Burrows 2002), the standard
    * stylometric distance between text collections: z-score each
    * source's relative frequency of the corpus's top-20 tokens
    * against the across-source mean/stddev, Delta = mean |z_a − z_b|
    * per source pair — the "same author/register?" screen a
    * provenance audit runs beside source_vocab_overlap (which reads
    * WHAT words; this reads HOW MUCH, style not content). Scale: one
    * map-side-combined (source, token) count; everything after lives
    * on the (20 sources × 20 tokens) matrix — broadcast-sized at any
    * corpus volume. Cross-row float totals (the frequency mean,
    * variance moments, the |Δz| sum) all pass through ROUNDED
    * DECIMAL (order-free); per-row ratios are exact-long divisions
    * (exact oracle).
    */
  def burrowsDelta(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val counts = graft.Lineage.cut( // vocab-sized histogram, read 3x
      toks.groupBy(col("source"), col("token")).agg(count(lit(1)).as("c")))
    val srcTotals = counts.groupBy(col("source")).agg(sum(col("c")).as("tot"))
    val top = counts.groupBy(col("token")).agg(sum(col("c")).as("g"))
      .orderBy(col("g").desc, col("token")).limit(20).select(col("token"))
    // dense (source × top-token) frequency matrix: absent counts are 0
    val f = srcTotals.crossJoin(broadcast(top))
      .join(counts, Seq("source", "token"), "left")
      .select(
        col("source"), col("token"),
        (coalesce(col("c"), lit(0L)).cast("double") / col("tot").cast("double")).as("f"))
    val stats = f.groupBy(col("token"))
      .agg(
        sum(round(col("f"), 12).cast(Dec12)).as("sum_f"),
        sum(round(col("f") * col("f"), 12).cast(Dec12)).as("sum_f2"),
        count(lit(1)).as("k"))
      .select(
        col("token"),
        (col("sum_f").cast("double") / col("k").cast("double")).as("mu"),
        sqrt(greatest(
          col("sum_f2").cast("double") / col("k").cast("double")
            - (col("sum_f").cast("double") / col("k").cast("double"))
            * (col("sum_f").cast("double") / col("k").cast("double")),
          lit(0.0))).as("sigma"))
    val z = f.join(broadcast(stats), Seq("token"))
      .filter(col("sigma") > 0.0)
      .select(col("source"), col("token"),
        round((col("f") - col("mu")) / col("sigma"), 12).cast(Dec12).as("z"))
    val za = z.select(col("source").as("src_a"), col("token"), col("z").as("za"))
    val zb = z.select(col("source").as("src_b"), col("token"), col("z").as("zb"))
    za.join(zb, Seq("token"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(abs(col("za") - col("zb"))).as("sum_dz"), count(lit(1)).as("k"))
      .select(col("src_a"), col("src_b"),
        emit(col("sum_dz").cast("double") / col("k").cast("double"), 6).as("delta"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val burrowsDeltaSql: String =
    """WITH toks AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
      |),
      |counts AS (
      |  SELECT source, token, count(*) AS c FROM toks WHERE token <> '' GROUP BY 1, 2
      |),
      |src_tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM counts GROUP BY 1),
      |top AS (
      |  SELECT token FROM (SELECT token, sum(c) AS g FROM counts GROUP BY 1)
      |  ORDER BY g DESC, token LIMIT 20
      |),
      |f AS (
      |  SELECT st.source, top.token,
      |    CAST(coalesce(c.c, 0) AS DOUBLE) / CAST(st.tot AS DOUBLE) AS f
      |  FROM src_tot st CROSS JOIN top
      |  LEFT JOIN counts c ON c.source = st.source AND c.token = top.token
      |),
      |stats AS (
      |  SELECT token,
      |    CAST(sum(CAST(round(f, 12) AS DECIMAL(38,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu,
      |    sqrt(greatest(
      |      CAST(sum(CAST(round(f * f, 12) AS DECIMAL(38,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |      - (CAST(sum(CAST(round(f, 12) AS DECIMAL(38,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE))
      |        * (CAST(sum(CAST(round(f, 12) AS DECIMAL(38,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE)),
      |      0.0)) AS sigma
      |  FROM f GROUP BY token
      |),
      |z AS (
      |  SELECT f.source, f.token,
      |    CAST(round((f.f - s.mu) / s.sigma, 12) AS DECIMAL(38,12)) AS z
      |  FROM f JOIN stats s ON f.token = s.token
      |  WHERE s.sigma > 0.0
      |)
      |SELECT a.source AS src_a, b.source AS src_b,
      |  (CAST(round(CAST(sum(abs(a.z - b.z)) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS delta
      |FROM z a JOIN z b ON a.token = b.token AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin

  /** #313 mmr_rerank — Maximal Marginal Relevance diversified top-k
    * (Carbonell & Goldstein 1998): re-rank each query's top-20 cosine
    * candidates by greedily picking 5 that maximize
    * λ·rel − (1−λ)·max-sim-to-already-picked (λ=0.7) — the
    * de-duplicating re-rank layer every retrieval stack runs between
    * ANN and the consumer (embed_knn returns 10 near-identical
    * neighbors; this returns 5 RELEVANT AND MUTUALLY DISTINCT ones).
    * The greedy recurrence unrolls as 4 DataFrame steps over
    * PROVABLY-BOUNDED relations (|queries|·20 candidate rows, ≤k
    * selected rows — all broadcast-sized at any corpus volume; the
    * only data-scaled work is the candidate generation, which reuses
    * the kNN shape); argmax per query is max_by with a rounded-score +
    * vec_id tie-break (the rank rule), Lineage.cut per step. Rows-only
    * by declared design (the greedy recurrence has no reasonable SQL
    * form); the spec pins rank-1 = top relevance, selection ⊆
    * candidates, and measured diversity ≥ the plain top-5's.
    */
  def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Registry
    val lambda = 0.7
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("nrm", Registry.l2norm(col("e")))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qnrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rel").desc, col("vec_id"))
    val cand = emb.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("rel",
        round(Registry.dot(col("qe"), col("e")) / (col("qnrm") * col("nrm")), 12))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .select(col("query_id"), col("vec_id"), col("rel"), col("e"), col("nrm"))
    // ONE cut materializes the data-scaled candidate generation; the
    // per-step frames are ≤ |queries|·20 rows and re-derive from it
    val candC = graft.Lineage.cut(cand)
    val first = candC
      .groupBy(col("query_id"))
      .agg(max_by(
        struct(col("vec_id"), col("rel"), col("e"), col("nrm")),
        struct(col("rel"), (-col("vec_id")).as("tb"))).as("p"))
      .select(col("query_id"), col("p.vec_id").as("vec_id"), col("p.rel").as("rel"),
        col("p.e").as("e"), col("p.nrm").as("nrm"),
        lit(1).as("rank"), (lit(lambda) * col("p.rel")).as("mmr_score"))
    var selected = graft.Lineage.cut(first)
    for (k <- 2 to 5) {
      val remaining = candC.join(
        selected.select(col("query_id"), col("vec_id")), Seq("query_id", "vec_id"), "left_anti")
      val maxSim = remaining.alias("r")
        .join(broadcast(selected.select(col("query_id"),
          col("e").as("se"), col("nrm").as("snrm")).alias("s")), Seq("query_id"))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(max(round(Registry.dot(col("e"), col("se")) / (col("nrm") * col("snrm")), 12))
          .as("max_sim"))
      val scored = remaining.join(maxSim, Seq("query_id", "vec_id"))
        .withColumn("mmr",
          round(lit(lambda) * col("rel") - lit(1.0 - lambda) * col("max_sim"), 12))
      val pick = scored
        .groupBy(col("query_id"))
        .agg(max_by(
          struct(col("vec_id"), col("rel"), col("e"), col("nrm"), col("mmr")),
          struct(col("mmr"), (-col("vec_id")).as("tb"))).as("p"))
        .select(col("query_id"), col("p.vec_id").as("vec_id"), col("p.rel").as("rel"),
          col("p.e").as("e"), col("p.nrm").as("nrm"),
          lit(k).as("rank"), col("p.mmr").as("mmr_score"))
      selected = graft.Lineage.cut(selected.unionByName(pick))
    }
    selected
      .select(col("query_id"), col("rank"), col("vec_id"),
        emit(col("rel"), 6).as("rel"), emit(col("mmr_score"), 6).as("mmr_score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** #314 watermark_advisor — the event-lateness profile that SIZES
    * streaming watermarks from batch history: per type, how late does
    * an event arrive relative to the max event-time already seen at
    * its arrival (arrival order = event_id, the ingest sequence), as
    * p50/p95/p99/max lateness plus the recommended withWatermark
    * delay (= p99). This closes the batch→streaming loop: every
    * watermark in graft.streaming is currently a hand-picked constant;
    * THIS is where a deployment reads the right one (too small drops
    * the tail as late data, too large bloats every windowed state).
    * Scale: one window pass partitioned by type ordered by the ingest
    * sequence (the sessionize shape — skew-safe per-key sort), then a
    * per-type exact-percentile aggregate over the lateness longs.
    * Exact oracle: lateness is exact integer micros, percentile
    * interpolation at fixed p over exact ints is the
    * percentiles-op-proven cross-engine chain, 4-dp emit in seconds.
    */
  def watermarkAdvisor(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("hwm", max(col("ts_us")).over(w))
      .filter(col("hwm").isNotNull)
      .select(col("event_type"),
        greatest(col("hwm") - col("ts_us"), lit(0L)).as("late_us"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        expr("percentile(late_us, array(0.5, 0.95, 0.99))").as("ps"),
        max(col("late_us")).as("max_us"))
      .select(
        col("event_type"), col("n"),
        emit(col("ps").getItem(0) / lit(1000000.0)).as("p50_s"),
        emit(col("ps").getItem(1) / lit(1000000.0)).as("p95_s"),
        emit(col("ps").getItem(2) / lit(1000000.0)).as("p99_s"),
        emit(col("max_us").cast("double") / lit(1000000.0)).as("max_s"),
        emit(col("ps").getItem(2) / lit(1000000.0)).as("recommended_delay_s"))
      .orderBy(col("event_type"))
  }

  val watermarkAdvisorSql: String =
    """WITH seq AS (
      |  SELECT event_type, event_id, epoch_us(ts) AS ts_us,
      |    max(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
      |  FROM events
      |),
      |late AS (
      |  SELECT event_type, greatest(hwm - ts_us, 0) AS late_us
      |  FROM seq WHERE hwm IS NOT NULL
      |)
      |SELECT event_type, count(*) AS n,
      |  (CAST(round(quantile_cont(late_us, 0.5) / 1000000.0, 4) AS DOUBLE) + 0.0) AS p50_s,
      |  (CAST(round(quantile_cont(late_us, 0.95) / 1000000.0, 4) AS DOUBLE) + 0.0) AS p95_s,
      |  (CAST(round(quantile_cont(late_us, 0.99) / 1000000.0, 4) AS DOUBLE) + 0.0) AS p99_s,
      |  (CAST(round(CAST(max(late_us) AS DOUBLE) / 1000000.0, 4) AS DOUBLE) + 0.0) AS max_s,
      |  (CAST(round(quantile_cont(late_us, 0.99) / 1000000.0, 4) AS DOUBLE) + 0.0) AS recommended_delay_s
      |FROM late GROUP BY event_type ORDER BY event_type""".stripMargin

  /** #315 bot_detection_report — the behavioral bot screen a feed
    * platform runs over its event log (the reference serves feeds to
    * exactly this traffic): per user, volume (events/active-hour),
    * TIMING REGULARITY (the coefficient of variation of inter-event
    * gaps — automation fires on schedule, humans are bursty: low CV is
    * the classic signal), and event-type entropy (scripted accounts do
    * one thing); flag = regular-and-active or single-minded-and-active.
    * Scale: one per-user window pass for gaps (sessionize shape), then
    * one user-key aggregate — moments in exact integers/DECIMAL (the
    * events_autocorr discipline: gap sums and squares stay integral;
    * entropy terms round 12 dp into an order-free DECIMAL sum).
    * Exact oracle.
    */
  def botDetectionReport(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gaps = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("gap_s", ((col("ts_us") - lag(col("ts_us"), 1).over(w)) / lit(1000000L)).cast("long"))
    val gapStats = gaps.filter(col("gap_s").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(col("gap_s")).as("sum_g"),
        sum(col("gap_s") * col("gap_s")).as("sum_g2"))
    val hours = Tables.events(s, dir)
      .select(col("user_id"), (unix_micros(col("ts")) / lit(3600000000L)).cast("long").as("h"))
      .groupBy(col("user_id"))
      .agg(countDistinct(col("h")).as("active_hours"), count(lit(1)).as("n_events"))
    val entropy = Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("c"))
      .withColumn("tot", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))))
      .select(col("user_id"),
        round(-(col("c").cast("double") / col("tot").cast("double"))
          * log(col("c").cast("double") / col("tot").cast("double")), 12)
          .cast(Dec12).as("term"))
      .groupBy(col("user_id")).agg(sum(col("term")).as("h_sum"))
    val mean = col("sum_g").cast("double") / col("n_gaps").cast("double")
    val varG = greatest(
      col("sum_g2").cast("double") / col("n_gaps").cast("double") - mean * mean, lit(0.0))
    val cv = when(mean > 0.0, sqrt(varG) / mean).otherwise(lit(0.0))
    gapStats.join(hours, Seq("user_id")).join(entropy, Seq("user_id"))
      .select(
        col("user_id"), col("n_events"), col("active_hours"),
        emit(col("n_events").cast("double") / col("active_hours").cast("double"), 4)
          .as("events_per_hour"),
        emit(cv, 4).as("gap_cv"),
        emit(col("h_sum").cast("double"), 4).as("type_entropy"))
      .withColumn("flagged",
        ((col("gap_cv") < 0.5) || (col("type_entropy") < 0.7)) && (col("n_events") >= 20))
      .orderBy(col("user_id"))
  }

  val botDetectionReportSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events
      |),
      |gapstats AS (
      |  SELECT user_id, count(*) AS n_gaps,
      |    CAST(sum((ts_us - prev_us) // 1000000) AS BIGINT) AS sum_g,
      |    CAST(sum(((ts_us - prev_us) // 1000000) * ((ts_us - prev_us) // 1000000)) AS BIGINT) AS sum_g2
      |  FROM seq WHERE prev_us IS NOT NULL GROUP BY 1
      |),
      |hours AS (
      |  SELECT user_id, count(DISTINCT epoch_us(ts) // 3600000000) AS active_hours,
      |    count(*) AS n_events
      |  FROM events GROUP BY 1
      |),
      |ent AS (
      |  SELECT user_id, sum(term) AS h_sum FROM (
      |    SELECT user_id,
      |      CAST(round(-(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE))
      |        * ln(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE)), 12) AS DECIMAL(38,12)) AS term
      |    FROM (
      |      SELECT user_id, event_type, count(*) AS c,
      |        sum(count(*)) OVER (PARTITION BY user_id) AS tot
      |      FROM events GROUP BY 1, 2
      |    )
      |  ) GROUP BY 1
      |),
      |j AS (
      |  SELECT g.user_id, h.n_events, h.active_hours,
      |    CAST(g.sum_g AS DOUBLE) / CAST(g.n_gaps AS DOUBLE) AS mean_g,
      |    greatest(CAST(g.sum_g2 AS DOUBLE) / CAST(g.n_gaps AS DOUBLE)
      |      - (CAST(g.sum_g AS DOUBLE) / CAST(g.n_gaps AS DOUBLE))
      |        * (CAST(g.sum_g AS DOUBLE) / CAST(g.n_gaps AS DOUBLE)), 0.0) AS var_g,
      |    CAST(e.h_sum AS DOUBLE) AS h_sum
      |  FROM gapstats g JOIN hours h ON g.user_id = h.user_id
      |  JOIN ent e ON g.user_id = e.user_id
      |),
      |r AS (
      |  SELECT user_id, n_events, active_hours,
      |    (CAST(round(CAST(n_events AS DOUBLE) / CAST(active_hours AS DOUBLE), 4) AS DOUBLE) + 0.0) AS events_per_hour,
      |    (CAST(round(CASE WHEN mean_g > 0.0 THEN sqrt(var_g) / mean_g ELSE 0.0 END, 4) AS DOUBLE) + 0.0) AS gap_cv,
      |    (CAST(round(h_sum, 4) AS DOUBLE) + 0.0) AS type_entropy
      |  FROM j
      |)
      |SELECT user_id, n_events, active_hours, events_per_hour, gap_cv, type_entropy,
      |  ((gap_cv < 0.5) OR (type_entropy < 0.7)) AND (n_events >= 20) AS flagged
      |FROM r ORDER BY user_id""".stripMargin

  /** #316 embed_drift_report — per-dimension embedding drift between
    * the first and second half of the vector ids (the ingestion-order
    * proxy, the psi_drift split rule applied to the embedding space):
    * mean shift per dimension with its Welch standard error —
    * embed_dim_stats reads ONE snapshot's health, THIS reads whether
    * the embedding distribution MOVED, the monitor that catches a
    * silent encoder version bump or a corpus-mix shift upstream of
    * every ANN index. Scale: one posexplode pass → a (half, dim)-keyed
    * aggregate (128 groups, map-side combine); all moments are 12-dp
    * rounded DECIMAL sums (order-free), the Welch arithmetic runs on
    * the bounded 64-row matrix. Exact oracle.
    */
  def embedDriftReport(s: SparkSession, dir: String): DataFrame = {
    val maxId = Tables.embeddings(s, dir).agg(max(col("vec_id")).as("mx"))
    val vals = Tables.embeddings(s, dir)
      .crossJoin(broadcast(maxId))
      .select(
        when(col("vec_id") * 2 <= col("mx"), lit(1)).otherwise(lit(2)).as("half"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("half"), col("dim"), col("v").cast("double").as("v"))
    val moments = vals.groupBy(col("half"), col("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("v"), 12).cast(Dec12)).as("s"),
        sum(round(col("v") * col("v"), 12).cast(Dec12)).as("s2"))
    def mu(s: Column, n: Column) = s.cast("double") / n.cast("double")
    def va(s: Column, s2: Column, n: Column) =
      greatest(s2.cast("double") / n.cast("double") - mu(s, n) * mu(s, n), lit(0.0))
    val one = moments.filter(col("half") === 1)
      .select(col("dim"), col("n").as("n1"), col("s").as("s1"), col("s2").as("q1"))
    val two = moments.filter(col("half") === 2)
      .select(col("dim"), col("n").as("n2"), col("s").as("s2x"), col("s2").as("q2"))
    one.join(two, Seq("dim"))
      .select(
        col("dim"), col("n1"), col("n2"),
        emit(mu(col("s1"), col("n1")), 6).as("mean_first"),
        emit(mu(col("s2x"), col("n2")), 6).as("mean_second"),
        emit(
          (mu(col("s2x"), col("n2")) - mu(col("s1"), col("n1"))) /
            sqrt(va(col("s1"), col("q1"), col("n1")) / col("n1").cast("double")
              + va(col("s2x"), col("q2"), col("n2")) / col("n2").cast("double")), 4)
          .as("shift_z"))
      .orderBy(col("dim"))
  }

  val embedDriftReportSql: String =
    """WITH mx AS (SELECT max(vec_id) AS mx FROM embeddings),
      |vals AS (
      |  SELECT CASE WHEN vec_id * 2 <= mx THEN 1 ELSE 2 END AS half,
      |    i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
      |  FROM embeddings, mx, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
      |),
      |m AS (
      |  SELECT half, dim, count(*) AS n,
      |    sum(CAST(round(v, 12) AS DECIMAL(38,12))) AS s,
      |    sum(CAST(round(v * v, 12) AS DECIMAL(38,12))) AS s2
      |  FROM vals GROUP BY 1, 2
      |),
      |j AS (
      |  SELECT a.dim, a.n AS n1, b.n AS n2,
      |    CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE) AS mu1,
      |    CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE) AS mu2,
      |    greatest(CAST(a.s2 AS DOUBLE) / CAST(a.n AS DOUBLE)
      |      - (CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)) * (CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)), 0.0) AS v1,
      |    greatest(CAST(b.s2 AS DOUBLE) / CAST(b.n AS DOUBLE)
      |      - (CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE)) * (CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE)), 0.0) AS v2
      |  FROM m a JOIN m b ON a.dim = b.dim AND a.half = 1 AND b.half = 2
      |)
      |SELECT dim, n1, n2,
      |  (CAST(round(mu1, 6) AS DOUBLE) + 0.0) AS mean_first,
      |  (CAST(round(mu2, 6) AS DOUBLE) + 0.0) AS mean_second,
      |  (CAST(round((mu2 - mu1) / sqrt(v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE)), 4) AS DOUBLE) + 0.0) AS shift_z
      |FROM j ORDER BY dim""".stripMargin

  /** #317 l_diversity_report — the l-diversity audit (Machanavajjhala
    * et al. 2007) that k_anonymity cannot express: a group can be
    * k-anonymous yet leak its sensitive attribute if every member
    * SHARES it. Per (nation, $1k-balance-band) quasi-identifier class:
    * size, number of DISTINCT market segments l, and the l<3
    * violation flag — the release gate a privacy office reads next to
    * the k-anonymity histogram. Scale: one fine-key aggregate with a
    * distinct count (25×|bands| classes — bounded output at any
    * volume). Exact oracle.
    */
  def lDiversityReport(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_nationkey"),
        floor(col("c_acctbal") / 1000).as("bal_band"), col("c_mktsegment"))
      .groupBy(col("c_nationkey"), col("bal_band"))
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col("c_mktsegment")).as("l_distinct"))
      .withColumn("below_l3", col("l_distinct") < 3)
      .orderBy(col("c_nationkey"), col("bal_band"))

  val lDiversityReportSql: String =
    """SELECT c_nationkey, CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
      |  count(*) AS class_size,
      |  CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l_distinct,
      |  count(DISTINCT c_mktsegment) < 3 AS below_l3
      |FROM customer GROUP BY 1, 2
      |ORDER BY c_nationkey, bal_band""".stripMargin

  /** #319 embed_jl_projection — Johnson–Lindenstrauss random
    * projection 64 → 16 dims with a measured distortion audit
    * (Achlioptas 2003's database-friendly ±1 projection): y_j =
    * Σ_i x_i·sign(md5(i,j)) / √16, signs drawn from the house
    * md5-uniform device so the matrix is deterministic and
    * engine-portable — the cheap dimensionality cut upstream of an
    * ANN tier (4× fewer bytes per vector, distances preserved within
    * (1±ε)), audited HERE on a bounded probe set: per probe pair the
    * original and projected squared distances and their ratio (the
    * spec pins the JL distortion band). Scale: projection is one
    * explode over (dim × target-dim) per vector — a LINEAR pass that
    * fuses into the scan, terms 12-dp-rounded into order-free DECIMAL
    * sums; the audit joins only the 30-probe half-matrix (435
    * broadcast-sized pairs). Exact oracle.
    */
  def embedJlProjection(s: SparkSession, dir: String): DataFrame = {
    val probes = Tables.embeddings(s, dir)
      .filter(col("vec_id") < 30)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    // deterministic ±1 matrix entry for (source dim i, target dim j)
    val sgn = when(
      conv(substring(md5(concat(col("i").cast("string"), lit(":"), col("j").cast("string"))),
        1, 1), 16, 10).cast("long") % 2 === 0, lit(1.0)).otherwise(lit(-1.0))
    val proj = probes
      .select(col("vec_id"), posexplode(col("e")).as(Seq("i", "v")))
      .crossJoin(broadcast(s.range(16).select(col("id").cast("int").as("j"))))
      .select(col("vec_id"), col("j"),
        round(col("v") * sgn / lit(4.0), 12).cast(Dec12).as("term"))
      .groupBy(col("vec_id"), col("j"))
      .agg(sum(col("term")).as("yj"))
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("j"), col("yj").cast("double").as("y")))).as("ys"))
      .select(col("vec_id"), expr("transform(ys, p -> p.y)").as("y"))
    val withBoth = probes.join(proj, Seq("vec_id"))
    val a = withBoth.select(col("vec_id").as("va"), col("e").as("ea"), col("y").as("ya"))
    val bb = withBoth.select(col("vec_id").as("vb"), col("e").as("eb"), col("y").as("yb"))
    def d2(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => {
        val dd = p - q
        round(dd * dd, 12).cast(Dec12)
      }), lit(BigDecimal(0)).cast(Dec12), (acc, t) => (acc + t).cast(Dec12)).cast("double")
    a.join(bb, col("va") < col("vb"))
      .select(
        col("va"), col("vb"),
        emit(d2(col("ea"), col("eb")), 6).as("d2_orig"),
        emit(d2(col("ya"), col("yb")), 6).as("d2_proj"),
        emit(d2(col("ya"), col("yb")) / d2(col("ea"), col("eb")), 6).as("ratio"))
      .orderBy(col("va"), col("vb"))
  }

  val embedJlProjectionSql: String =
    """WITH probes AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings WHERE vec_id < 30
      |),
      |terms AS (
      |  SELECT vec_id, j.j,
      |    CAST(round(e[i] * (CASE WHEN CAST(concat('0x',
      |        substr(md5(CAST(i - 1 AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)), 1, 1)) AS BIGINT)
      |        % 2 = 0 THEN 1.0 ELSE -1.0 END) / 4.0, 12) AS DECIMAL(38,12)) AS term
      |  FROM probes,
      |    LATERAL (SELECT unnest(generate_series(1, len(e))) AS i),
      |    LATERAL (SELECT unnest(generate_series(0, 15)) AS j) j
      |),
      |proj AS (
      |  SELECT vec_id, list(CAST(yj AS DOUBLE) ORDER BY j) AS y
      |  FROM (SELECT vec_id, j, sum(term) AS yj FROM terms GROUP BY 1, 2)
      |  GROUP BY 1
      |),
      |pb AS (
      |  SELECT p.vec_id, p.e, proj.y FROM probes p JOIN proj ON p.vec_id = proj.vec_id
      |),
      |pairs AS (
      |  SELECT a.vec_id AS va, b.vec_id AS vb,
      |    CAST(list_sum(list_transform(range(1, len(a.e) + 1),
      |      i -> CAST(round((a.e[i] - b.e[i]) * (a.e[i] - b.e[i]), 12) AS DECIMAL(38,12)))) AS DOUBLE) AS d2o,
      |    CAST(list_sum(list_transform(range(1, len(a.y) + 1),
      |      i -> CAST(round((a.y[i] - b.y[i]) * (a.y[i] - b.y[i]), 12) AS DECIMAL(38,12)))) AS DOUBLE) AS d2p
      |  FROM pb a JOIN pb b ON a.vec_id < b.vec_id
      |)
      |SELECT va, vb,
      |  (CAST(round(d2o, 6) AS DOUBLE) + 0.0) AS d2_orig,
      |  (CAST(round(d2p, 6) AS DOUBLE) + 0.0) AS d2_proj,
      |  (CAST(round(d2p / d2o, 6) AS DOUBLE) + 0.0) AS ratio
      |FROM pairs ORDER BY va, vb""".stripMargin

  /** #320 markov_attribution — Markov-chain removal-effect channel
    * attribution (Anderl et al. 2014), the model-based alternative to
    * purchase_attribution's last-touch rule: build the user-journey
    * transition matrix over event types, compute each user's
    * probability of reaching 'purchase' within a 4-step horizon, then
    * for every channel REMOVE it (its transitions become lost mass —
    * no renormalization, that's the point) and report how much
    * conversion probability disappears. The matrix is
    * |types|²-BOUNDED, so all six variants (full + 5 removals) ride
    * ONE frame with a variant column through 4 unrolled
    * matrix-vector multiplies — bounded joins, no iteration state, no
    * driver math; the only data-scaled work is the (prev, next)
    * transition count and the per-user first-event scan. Probability
    * sums round 12 dp into DECIMAL (order-free); the oracle unrolls
    * the same four steps as CTEs. Exact oracle.
    */
  def markovAttribution(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // ONE windowed scan feeds BOTH the transition matrix and the start
    // distribution (r11, §2.4: r10 ran two events scans, two window
    // sorts and two cuts — lead and row_number share one window spec,
    // so one pass computes both; the dst-null groups are the per-user
    // last events, filtered where trans is read). The (src, dst)
    // counts are |types|²-bounded: a BoundedTail leaf, so the entire
    // tail below — crossJoins, 4 unrolled multiplies, the conv rollup —
    // runs on one partition with no broadcast stage (each multiply
    // cost 2 broadcast builds + 1 shuffle before: 37 stages, 1.9 s of
    // inter-stage gap at r10 close).
    val agg = graft.BoundedTail.leaf(Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next", lead(col("event_type"), 1).over(w))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("event_type").as("src"), col("next").as("dst"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_start")))
    val trans = agg.filter(col("dst").isNotNull).select(col("src"), col("dst"), col("c"))
    // out-degree totals via a src-partitioned window over the bounded
    // leaf (same c/tot doubles as the old outTot join, no exchange)
    val wTot = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    val p = trans
      .withColumn("p", col("c").cast("double") / sum(col("c")).over(wTot).cast("double"))
      .select(col("src"), col("dst"), col("p"))
    val starts = agg.groupBy(col("src")).agg(sum(col("n_start")).as("n"))
      .filter(col("n") > 0)
    // states are the ends of observed transitions, as in the oracle: an
    // event type seen only as a single-event user's sole event is no
    // state (agg's dst-null rows would add it)
    val types = trans
      .select(explode(array(col("src"), col("dst"))).as("src"))
      .filter(col("src").isNotNull).distinct()
    // coalesce(1) collapses the union's 2-partition output so every
    // downstream cross product is SinglePartition × SinglePartition;
    // the shuffle_replicate_nl hint then plans a 1-partition cartesian
    // instead of a BroadcastNestedLoopJoin — no broadcast stage per
    // cross product even inside the cut materializations
    val variants = types.filter(col("src") =!= "purchase")
      .select(col("src").as("removed"))
      .unionByName(s.range(0, 1, 1, 1).select(lit("none").as("removed")))
      .coalesce(1)
    val nUsers = starts.agg(sum(col("n")).as("nu"))
    // the three bounded cross products are consumed by every unrolled
    // multiply: each is a leaf, so the loop plan references leaves,
    // not re-derived subtrees (the r10 xchg=343 lesson). nu rides sv
    // as a column so the conv rollup needs no scalar cross join.
    val pv = graft.BoundedTail.leaf(variants.crossJoin(p.hint("shuffle_replicate_nl"))
      .filter(col("removed") === "none" ||
        (col("src") =!= col("removed") && col("dst") =!= col("removed"))))
    val sv = graft.BoundedTail.leaf(variants
      .crossJoin(starts.hint("shuffle_replicate_nl"))
      .crossJoin(nUsers.hint("shuffle_replicate_nl"))
      .filter(col("removed") === "none" || col("src") =!= col("removed")))
    val vt = graft.BoundedTail.leaf(
      variants.crossJoin(types.hint("shuffle_replicate_nl")))
    // v0: P(reach purchase in 0 steps | state) = [state = purchase]
    var v = vt
      .select(col("removed"), col("src").as("state"),
        when(col("src") === "purchase", lit(1.0)).otherwise(lit(0.0)).as("pr"))
    for (_ <- 1 to 4) {
      val stepped = pv
        .join(v.select(col("removed"), col("state").as("dst"), col("pr")).hint("merge"),
          Seq("removed", "dst"))
        .groupBy(col("removed"), col("src"))
        .agg(sum(round(col("p") * col("pr"), 12).cast(Dec12)).as("inflow"))
      v = vt.select(col("removed"), col("src").as("state"))
        .join(stepped.select(col("removed"), col("src").as("state"),
          col("inflow")).hint("merge"), Seq("removed", "state"), "left")
        .select(col("removed"), col("state"),
          when(col("state") === "purchase", lit(1.0))
            .otherwise(round(coalesce(col("inflow").cast("double"), lit(0.0)), 12)).as("pr"))
    }
    // conv is consumed TWICE (the 'none' scalar and the per-variant
    // rows): a leaf so the 4-multiply chain runs once; the 'none'
    // scalar attaches over the ≤|types| rows
    val conv = graft.BoundedTail.leaf(sv
      .join(v.select(col("removed"), col("state").as("src"), col("pr")).hint("merge"),
        Seq("removed", "src"))
      .groupBy(col("removed"))
      .agg(sum(round(col("n").cast("double") / col("nu").cast("double") * col("pr"), 12)
        .cast(Dec12)).as("conv")))
    conv
      .withColumn("conv_full",
        max(when(col("removed") === "none", col("conv"))).over(graft.BoundedTail.allRows))
      .select(
        col("removed"),
        emit(col("conv").cast("double"), 6).as("conv_prob"),
        emit(lit(1.0) - col("conv").cast("double") / col("conv_full").cast("double"), 6)
          .as("removal_effect"))
      .orderBy(col("removed"))
  }

  val markovAttributionSql: String = {
    def step(prev: String, k: Int): String =
      s"""s$k AS (
         |  SELECT pv.removed, pv.src,
         |    sum(CAST(round(pv.p * $prev.pr, 12) AS DECIMAL(38,12))) AS inflow
         |  FROM pv JOIN $prev ON pv.removed = $prev.removed AND pv.dst = $prev.state
         |  GROUP BY 1, 2
         |),
         |v$k AS (
         |  SELECT vt.removed, vt.state,
         |    CASE WHEN vt.state = 'purchase' THEN 1.0
         |         ELSE round(coalesce(CAST(s$k.inflow AS DOUBLE), 0.0), 12) END AS pr
         |  FROM vt LEFT JOIN s$k ON vt.removed = s$k.removed AND vt.state = s$k.src
         |)""".stripMargin
    s"""WITH seq AS (
       |  SELECT user_id, event_type,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events
       |),
       |trans AS (
       |  SELECT event_type AS src, next AS dst, count(*) AS c
       |  FROM seq WHERE next IS NOT NULL GROUP BY 1, 2
       |),
       |outtot AS (SELECT src, sum(c) AS tot FROM trans GROUP BY 1),
       |p AS (
       |  SELECT trans.src, trans.dst, CAST(c AS DOUBLE) / CAST(tot AS DOUBLE) AS p
       |  FROM trans JOIN outtot ON trans.src = outtot.src
       |),
       |starts AS (
       |  SELECT event_type AS src, count(*) AS n FROM seq WHERE rn = 1 GROUP BY 1
       |),
       |types AS (SELECT DISTINCT src FROM (SELECT src FROM trans UNION SELECT dst FROM trans)),
       |variants AS (
       |  SELECT src AS removed FROM types WHERE src <> 'purchase'
       |  UNION ALL SELECT 'none'
       |),
       |pv AS (
       |  SELECT v.removed, p.src, p.dst, p.p FROM variants v CROSS JOIN p
       |  WHERE v.removed = 'none' OR (p.src <> v.removed AND p.dst <> v.removed)
       |),
       |sv AS (
       |  SELECT v.removed, s.src, s.n FROM variants v CROSS JOIN starts s
       |  WHERE v.removed = 'none' OR s.src <> v.removed
       |),
       |nu AS (SELECT sum(n) AS nu FROM starts),
       |vt AS (SELECT v.removed, t.src AS state FROM variants v CROSS JOIN types t),
       |v0 AS (
       |  SELECT removed, state,
       |    CASE WHEN state = 'purchase' THEN 1.0 ELSE 0.0 END AS pr
       |  FROM vt
       |),
       |${step("v0", 1)},
       |${step("v1", 2)},
       |${step("v2", 3)},
       |${step("v3", 4)},
       |conv AS (
       |  SELECT sv.removed,
       |    sum(CAST(round(CAST(sv.n AS DOUBLE) / CAST(nu.nu AS DOUBLE) * v4.pr, 12)
       |      AS DECIMAL(38,12))) AS conv
       |  FROM sv JOIN v4 ON sv.removed = v4.removed AND sv.src = v4.state
       |  CROSS JOIN nu GROUP BY 1
       |),
       |fullc AS (SELECT conv AS conv_full FROM conv WHERE removed = 'none')
       |SELECT removed,
       |  (CAST(round(CAST(conv AS DOUBLE), 6) AS DOUBLE) + 0.0) AS conv_prob,
       |  (CAST(round(1.0 - CAST(conv AS DOUBLE) / CAST(conv_full AS DOUBLE), 6) AS DOUBLE) + 0.0)
       |    AS removal_effect
       |FROM conv CROSS JOIN fullc ORDER BY removed""".stripMargin
  }

  /** #322 benford_audit — Benford's-law first-digit audit over the
    * lineitem prices (the classic fabricated-numbers screen an
    * accounting/data-quality review runs: organically-grown magnitudes
    * follow P(d) = log10(1+1/d); injected or synthesized values
    * don't): per digit the observed count/share, the Benford
    * expectation and the chi-square contribution — the statistic sums
    * in the spec. First digits come from INTEGER/string arithmetic
    * (first char of floor(x) for x ≥ 1), never from a float log10
    * whose boundary rounding could disagree between engines. Scale:
    * one 9-group map-side-combinable aggregate; arithmetic on the
    * bounded digit table. Exact oracle. (On THIS synthetic uniform
    * data the audit loudly fails Benford — which is the correct
    * answer, and exactly what it is for.)
    */
  def benfordAudit(s: SparkSession, dir: String): DataFrame = {
    val digits = Tables.lineitem(s, dir)
      .filter(col("l_extendedprice") >= 1.0)
      .select(substring(floor(col("l_extendedprice")).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("obs"))
    val tot = digits.agg(sum(col("obs")).as("n"))
    // ln(x)/ln(10) — the same two-op chain in both engines (a dedicated
    // log10 could differ in the last ulp from the quotient form)
    digits.crossJoin(broadcast(tot))
      .withColumn("p_benford",
        log(lit(1.0) + lit(1.0) / col("digit").cast("double")) / log(lit(10.0)))
      .select(
        col("digit"), col("obs"),
        emit(col("obs").cast("double") / col("n").cast("double"), 6).as("share"),
        emit(col("p_benford"), 6).as("p_benford"),
        emit(
          (col("obs").cast("double") - col("n").cast("double") * col("p_benford"))
            * (col("obs").cast("double") - col("n").cast("double") * col("p_benford"))
            / (col("n").cast("double") * col("p_benford")), 4).as("chi2_term"))
      .orderBy(col("digit"))
  }

  val benfordAuditSql: String =
    """WITH d AS (
      |  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
      |    count(*) AS obs
      |  FROM lineitem WHERE l_extendedprice >= 1.0 GROUP BY 1
      |),
      |tot AS (SELECT sum(obs) AS n FROM d)
      |SELECT digit, obs,
      |  (CAST(round(CAST(obs AS DOUBLE) / CAST(n AS DOUBLE), 6) AS DOUBLE) + 0.0) AS share,
      |  (CAST(round((ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)), 6) AS DOUBLE) + 0.0) AS p_benford,
      |  (CAST(round(
      |    (CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) * (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)))
      |    * (CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) * (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)))
      |    / (CAST(n AS DOUBLE) * (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0))), 4) AS DOUBLE) + 0.0) AS chi2_term
      |FROM d CROSS JOIN tot ORDER BY digit""".stripMargin

  /** #323 corpus_budget_select — data selection under a token budget
    * (the knapsack every training run solves: best corpus that fits
    * 100k tokens): rank docs by quality-per-token (the
    * doc_quality_classifier score over the token_count device), take
    * greedily until the cumulative token budget closes — emitted with
    * each doc's cumulative spend. The greedy-by-ratio rule IS the
    * fractional-knapsack optimum, the standard curation heuristic.
    * Scale: the ratio is two per-row expressions off one scan; the
    * greedy running sum is the percentiles_range TWO-PASS shape — 1000
    * fixed ratio bands, per-band token totals (fine agg), cross-band
    * offsets from a cumulative over the ≤1001-row band table, then a
    * window PARTITIONED BY BAND adds within-band sums; bands past the
    * budget prune before the window ever sees them. No
    * single-partition global window anywhere. Exact oracle: the SQL
    * states the simple global-window form; the bucketed plan is
    * output-identical because band order embeds rank order.
    */
  def corpusBudgetSelect(s: SparkSession, dir: String): DataFrame = {
    val budget = 100000L
    val scored = Round9Ops.docQualityClassifier(s, dir)
      .select(col("doc_id"), col("n_tokens"), col("score"))
      .withColumn("ratio", round(col("score") / col("n_tokens").cast("double"), 12))
      // ratio ∈ [−0.5, 0.5]: 1000 fixed bands bucket the ranked order so
      // the running sum never needs a single-partition global window
      // (the percentiles_range two-pass discipline) — the window below
      // partitions BY BUCKET; the cross-bucket offset comes from a
      // cumulative over the ≤1001-row bucket table
      .withColumn("bkt", floor(col("ratio") * 1000).cast("long"))
    val bucketTotals = scored.groupBy(col("bkt")).agg(sum(col("n_tokens")).as("bt"))
    val wB = org.apache.spark.sql.expressions.Window
      .orderBy(col("bkt").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = bucketTotals // bounded: the global window is over ≤1001 rows
      .withColumn("offset", coalesce(sum(col("bt")).over(wB), lit(0L)))
      // buckets starting past the budget can't contribute — prune early
      .filter(col("offset") <= budget)
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bkt")).orderBy(col("ratio").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    scored
      .join(broadcast(offsets), Seq("bkt"))
      .withColumn("cum_tokens", col("offset") + sum(col("n_tokens")).over(wIn))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("n_tokens"), emit(col("score"), 6).as("score"),
        emit(col("ratio"), 6).as("ratio"), col("cum_tokens"))
      .orderBy(col("cum_tokens"))
  }

  val corpusBudgetSelectSql: String =
    s"""WITH clf AS (${Round9Ops.docQualityClassifierSql}),
       |ranked AS (
       |  -- the DECIMAL(28,14) cast recovers the double's SHORTEST
       |  -- decimal value before rounding, matching Spark's
       |  -- BigDecimal(Double.toString) round semantics: DuckDB's bare
       |  -- round() rounds the true binary expansion, and for a
       |  -- quotient landing exactly on a half boundary at 12 dp the
       |  -- two disagree (sf0.1 caught one cell: 0.0079525 exactly)
       |  SELECT doc_id, n_tokens, score,
       |    round(CAST(score / CAST(n_tokens AS DOUBLE) AS DECIMAL(28,14)), 12) AS ratio,
       |    CAST(sum(n_tokens) OVER (
       |      ORDER BY round(CAST(score / CAST(n_tokens AS DOUBLE) AS DECIMAL(28,14)), 12) DESC,
       |        doc_id) AS BIGINT)
       |      AS cum_tokens
       |  FROM clf
       |)
       |SELECT doc_id, n_tokens,
       |  (CAST(round(score, 6) AS DOUBLE) + 0.0) AS score,
       |  (CAST(round(ratio, 6) AS DOUBLE) + 0.0) AS ratio, cum_tokens
       |FROM ranked WHERE cum_tokens <= 100000
       |ORDER BY cum_tokens""".stripMargin

  /** #324 t_closeness_report — t-closeness (Li, Li & Venkatasubramanian
    * 2007), completing the engine's privacy-audit trio: k_anonymity
    * bounds re-identification, l_diversity bounds attribute
    * uniformity, THIS bounds distribution leakage — a class whose
    * segment mix differs sharply from the global mix reveals
    * information even at high l. For categorical attributes with unit
    * ground distance the Earth Mover's Distance reduces to total
    * variation: t = ½ Σ_seg |p_class(seg) − p_global(seg)|. Per
    * (nation, $1k-band) class: size, t, and the t > 0.4 flag. Scale:
    * two fine-key aggregates (class×segment and global segment) met
    * by broadcast, TVD terms 12-dp-rounded into an order-free DECIMAL
    * sum over the bounded class×segment matrix. Exact oracle.
    */
  def tClosenessReport(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
      .select(col("c_nationkey"), floor(col("c_acctbal") / 1000).as("bal_band"),
        col("c_mktsegment"))
    val global = base.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("g"))
    val gTot = global.agg(sum(col("g")).as("gt"))
    val cls = base.groupBy(col("c_nationkey"), col("bal_band"), col("c_mktsegment"))
      .agg(count(lit(1)).as("c"))
    val clsTot = cls.groupBy(col("c_nationkey"), col("bal_band"))
      .agg(sum(col("c")).as("class_size"))
    // dense class × segment matrix: absent segments contribute p=0
    val dense = clsTot.crossJoin(broadcast(global)).crossJoin(broadcast(gTot))
      .join(cls, Seq("c_nationkey", "bal_band", "c_mktsegment"), "left")
      .select(
        col("c_nationkey"), col("bal_band"), col("class_size"),
        round(
          abs(coalesce(col("c"), lit(0L)).cast("double") / col("class_size").cast("double")
            - col("g").cast("double") / col("gt").cast("double")), 12)
          .cast(Dec12).as("term"))
    dense.groupBy(col("c_nationkey"), col("bal_band"), col("class_size"))
      .agg(sum(col("term")).as("tvd2"))
      .select(
        col("c_nationkey"), col("bal_band"), col("class_size"),
        emit(col("tvd2").cast("double") / lit(2.0), 6).as("t"))
      .withColumn("above_t04", col("t") > 0.4)
      .orderBy(col("c_nationkey"), col("bal_band"))
  }

  val tClosenessReportSql: String =
    """WITH base AS (
      |  SELECT c_nationkey, CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band, c_mktsegment FROM customer
      |),
      |global AS (SELECT c_mktsegment, count(*) AS g FROM base GROUP BY 1),
      |gt AS (SELECT sum(g) AS gt FROM global),
      |cls AS (
      |  SELECT c_nationkey, bal_band, c_mktsegment, count(*) AS c FROM base GROUP BY 1, 2, 3
      |),
      |clstot AS (
      |  SELECT c_nationkey, bal_band, CAST(sum(c) AS BIGINT) AS class_size FROM cls GROUP BY 1, 2
      |),
      |dense AS (
      |  SELECT ct.c_nationkey, ct.bal_band, ct.class_size,
      |    CAST(round(abs(CAST(coalesce(cls.c, 0) AS DOUBLE) / CAST(ct.class_size AS DOUBLE)
      |      - CAST(g.g AS DOUBLE) / CAST(gt.gt AS DOUBLE)), 12) AS DECIMAL(38,12)) AS term
      |  FROM clstot ct CROSS JOIN global g CROSS JOIN gt
      |  LEFT JOIN cls ON cls.c_nationkey = ct.c_nationkey AND cls.bal_band = ct.bal_band
      |    AND cls.c_mktsegment = g.c_mktsegment
      |)
      |SELECT c_nationkey, bal_band, class_size,
      |  (CAST(round(CAST(sum(term) AS DOUBLE) / 2.0, 6) AS DOUBLE) + 0.0) AS t,
      |  CAST(round(CAST(sum(term) AS DOUBLE) / 2.0, 6) AS DOUBLE) > 0.4 AS above_t04
      |FROM dense GROUP BY 1, 2, 3
      |ORDER BY c_nationkey, bal_band""".stripMargin

  /** #325 rank_rbo_report — Rank-Biased Overlap (Webber, Moffat &
    * Zobel 2010) between the exact float top-10 and the int8-quantized
    * top-10 per query: ann_recall_report counts set hits, RBO is the
    * RANK-AWARE agreement (top-weighted, p=0.9) — the metric that
    * distinguishes "same 10 neighbors, reshuffled" from "lost the top
    * 1". Truncated form RBO@10 = (1−p)·Σ_d p^(d−1)·|A_d∩B_d|/d.
    * Overlap-at-depth comes from ONE (query, vec) equi-join of the two
    * rank tables (≤10 matches per query) crossed with the bounded
    * depth axis; p^(d−1) for d ≤ 10 is exactly representable at 9 dp,
    * so round(pow, 9) is bit-identical in both engines. Everything
    * after the two kNN rankings is broadcast-sized. Exact oracle (the
    * two ranking chains are the catalog's own oracle-verified CTEs).
    */
  def rankRboReport(s: SparkSession, dir: String): DataFrame = {
    val a = TextOps.embedKnn(s, dir).select(col("query_id"), col("vec_id"), col("rn").as("rna"))
    val b = TextOps.embedQuantizedKnn(s, dir)
      .select(col("query_id"), col("vec_id"), col("rn").as("rnb"))
    val matches = a.join(b, Seq("query_id", "vec_id"))
      .select(col("query_id"), greatest(col("rna"), col("rnb")).as("depth_in"))
    val depths = s.range(1, 11).select(col("id").cast("int").as("d"))
    val queries0 = a.select(col("query_id")).distinct()
    val overlaps = queries0.crossJoin(broadcast(depths))
      .join(matches, Seq("query_id"), "left")
      .groupBy(col("query_id"), col("d"))
      .agg(sum(when(col("depth_in") <= col("d"), 1L).otherwise(0L)).as("ov"))
    overlaps
      .select(col("query_id"), col("d"), col("ov"),
        round(pow(lit(0.9), col("d").cast("double") - lit(1.0)), 9).as("w"))
      .groupBy(col("query_id"))
      .agg(
        sum(round(col("w") * col("ov").cast("double") / col("d").cast("double"), 12)
          .cast(Dec12)).as("acc"),
        max(when(col("d") === 10, col("ov"))).as("overlap10"))
      .select(col("query_id"),
        emit(lit(0.1) * col("acc").cast("double"), 6).as("rbo"),
        col("overlap10"))
      .orderBy(col("query_id"))
  }

  val rankRboReportSql: String =
    s"""WITH a0 AS (${TextOps.embedKnnSql}),
       |b0 AS (${TextOps.embedQuantizedKnnSql}),
       |m AS (
       |  SELECT a0.query_id, greatest(a0.rn, bq.rnb) AS depth_in
       |  FROM a0 JOIN (SELECT query_id, vec_id, rn AS rnb FROM b0) bq
       |    ON a0.query_id = bq.query_id AND a0.vec_id = bq.vec_id
       |),
       |qs AS (SELECT DISTINCT query_id FROM a0),
       |ds AS (SELECT unnest(generate_series(1, 10)) AS d),
       |ov AS (
       |  SELECT qs.query_id, ds.d,
       |    CAST(sum(CASE WHEN m.depth_in <= ds.d THEN 1 ELSE 0 END) AS BIGINT) AS ov
       |  FROM qs CROSS JOIN ds LEFT JOIN m ON m.query_id = qs.query_id
       |  GROUP BY 1, 2
       |)
       |SELECT query_id,
       |  (CAST(round(0.1 * CAST(sum(CAST(round(
       |    round(pow(0.9, CAST(d AS DOUBLE) - 1.0), 9) * CAST(ov AS DOUBLE) / CAST(d AS DOUBLE),
       |    12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS rbo,
       |  max(CASE WHEN d = 10 THEN ov END) AS overlap10
       |FROM ov GROUP BY query_id ORDER BY query_id""".stripMargin

  /** #326 classifier_auc — ROC AUC for the quality-classifier score
    * against the weak lang='en' label, completing the classifier QA
    * beside #310's calibration (calibration says "are the
    * probabilities honest", AUC says "does it rank at all"): AUC =
    * (U-statistic)/(P·N) with midrank tie handling, computed WITHOUT a
    * global sort via the distinct-score histogram — 2U = Σ_s
    * n_pos(s)·(2·cum_neg_below(s) + n_neg(s)) stays ALL-INTEGER (no
    * float accumulation anywhere), the percentiles_freq "one row per
    * distinct value" exact path; the cumulative window runs over the
    * distinct-score relation, never raw docs. Exact oracle.
    */
  def classifierAuc(s: SparkSession, dir: String): DataFrame = {
    val scored = Round9Ops.docQualityClassifier(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("score"), when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val hist = scored.groupBy(col("score"))
      .agg(sum(col("y")).as("np"), sum(lit(1L) - col("y")).as("nn"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val u2 = hist // the window is over the bounded distinct-score table
      .withColumn("cum_nn", coalesce(sum(col("nn")).over(w), lit(0L)))
      .select((col("np") * (lit(2L) * col("cum_nn") + col("nn"))).as("u2t"),
        col("np"), col("nn"))
      .agg(sum(col("u2t")).as("u2"), sum(col("np")).as("p"), sum(col("nn")).as("n"))
    u2.select(
      col("p").as("n_pos"), col("n").as("n_neg"),
      emit(col("u2").cast("double") / (lit(2.0) * col("p").cast("double") * col("n").cast("double")), 6)
        .as("auc"),
      emit(col("u2").cast("double") / (col("p").cast("double") * col("n").cast("double")) - lit(1.0), 6)
        .as("gini"))
  }

  val classifierAucSql: String =
    s"""WITH clf AS (${Round9Ops.docQualityClassifierSql}),
       |scored AS (
       |  SELECT clf.score, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM clf JOIN documents d ON clf.doc_id = d.doc_id
       |),
       |hist AS (
       |  SELECT score, CAST(sum(y) AS BIGINT) AS np, CAST(sum(1 - y) AS BIGINT) AS nn
       |  FROM scored GROUP BY 1
       |),
       |cum AS (
       |  SELECT np, nn,
       |    CAST(coalesce(sum(nn) OVER (ORDER BY score
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_nn
       |  FROM hist
       |),
       |agg AS (
       |  SELECT CAST(sum(np * (2 * cum_nn + nn)) AS BIGINT) AS u2,
       |    CAST(sum(np) AS BIGINT) AS p, CAST(sum(nn) AS BIGINT) AS n
       |  FROM cum
       |)
       |SELECT p AS n_pos, n AS n_neg,
       |  (CAST(round(CAST(u2 AS DOUBLE) / (2.0 * CAST(p AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS auc,
       |  (CAST(round(CAST(u2 AS DOUBLE) / (CAST(p AS DOUBLE) * CAST(n AS DOUBLE)) - 1.0, 6) AS DOUBLE) + 0.0) AS gini
       |FROM agg""".stripMargin

  /** #328 token_label_mi — mutual information between token PRESENCE
    * and the lang='en' label over the 50 highest-document-frequency
    * tokens: the feature-selection table a classifier pipeline ranks
    * candidate features with (the classifier ops consume hashed
    * features; THIS says which observable tokens carry label signal).
    * All four contingency cells derive from exact longs: one
    * doc-level presence distinct + one token agg (the only
    * data-volume shuffles), top-50 selection is TakeOrdered (count
    * desc, token asc — deterministic), and the MI chain runs per-row
    * on the bounded 50-row table against single-row broadcast totals,
    * each cell term ln-quotient mirrored operation-for-operation in
    * both engines (0·log 0 = 0 by guard). Exact oracle.
    */
  def tokenLabelMi(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pres = docs
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .distinct()
    val byTok = pres.groupBy(col("token"))
      .agg(count(lit(1)).as("doc_freq"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n11"))
      .orderBy(col("doc_freq").desc, col("token")).limit(50)
    val tot = docs.agg(count(lit(1)).as("nn"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
    def term(nij: Column, rowMarg: Column, colMarg: Column, nn: Column): Column =
      when(nij > 0,
        nij.cast("double") / nn.cast("double")
          * log(nn.cast("double") * nij.cast("double")
            / (rowMarg.cast("double") * colMarg.cast("double"))) / log(lit(2.0)))
        .otherwise(lit(0.0))
    byTok.crossJoin(broadcast(tot))
      .select(col("token"), col("doc_freq"), col("n11"),
        (col("doc_freq") - col("n11")).as("n10"),
        (col("n_en") - col("n11")).as("n01"),
        (col("nn") - col("n_en") - col("doc_freq") + col("n11")).as("n00"),
        col("nn"), col("n_en"))
      .select(col("token"), col("doc_freq"), col("n11"),
        emit(
          term(col("n11"), col("doc_freq"), col("n_en"), col("nn"))
            + term(col("n10"), col("doc_freq"), col("nn") - col("n_en"), col("nn"))
            + term(col("n01"), col("nn") - col("doc_freq"), col("n_en"), col("nn"))
            + term(col("n00"), col("nn") - col("doc_freq"), col("nn") - col("n_en"), col("nn")),
          6).as("mi_bits"))
      .orderBy(col("mi_bits").desc, col("token"))
  }

  val tokenLabelMiSql: String =
    """WITH pres AS (
      |  SELECT DISTINCT doc_id, lang, token FROM (
      |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents
      |  ) WHERE token <> ''
      |),
      |bytok AS (
      |  SELECT token, count(*) AS doc_freq,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n11
      |  FROM pres GROUP BY 1 ORDER BY doc_freq DESC, token LIMIT 50
      |),
      |tot AS (SELECT count(*) AS nn,
      |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en FROM documents),
      |cells AS (
      |  SELECT token, doc_freq, n11,
      |    doc_freq - n11 AS n10, n_en - n11 AS n01,
      |    nn - n_en - doc_freq + n11 AS n00, nn, n_en
      |  FROM bytok CROSS JOIN tot
      |)
      |SELECT token, doc_freq, n11,
      |  (CAST(round(
      |    (CASE WHEN n11 > 0 THEN CAST(n11 AS DOUBLE) / CAST(nn AS DOUBLE)
      |      * ln(CAST(nn AS DOUBLE) * CAST(n11 AS DOUBLE) / (CAST(doc_freq AS DOUBLE) * CAST(n_en AS DOUBLE))) / ln(2.0) ELSE 0.0 END)
      |    + (CASE WHEN n10 > 0 THEN CAST(n10 AS DOUBLE) / CAST(nn AS DOUBLE)
      |      * ln(CAST(nn AS DOUBLE) * CAST(n10 AS DOUBLE) / (CAST(doc_freq AS DOUBLE) * CAST(nn - n_en AS DOUBLE))) / ln(2.0) ELSE 0.0 END)
      |    + (CASE WHEN n01 > 0 THEN CAST(n01 AS DOUBLE) / CAST(nn AS DOUBLE)
      |      * ln(CAST(nn AS DOUBLE) * CAST(n01 AS DOUBLE) / (CAST(nn - doc_freq AS DOUBLE) * CAST(n_en AS DOUBLE))) / ln(2.0) ELSE 0.0 END)
      |    + (CASE WHEN n00 > 0 THEN CAST(n00 AS DOUBLE) / CAST(nn AS DOUBLE)
      |      * ln(CAST(nn AS DOUBLE) * CAST(n00 AS DOUBLE) / (CAST(nn - doc_freq AS DOUBLE) * CAST(nn - n_en AS DOUBLE))) / ln(2.0) ELSE 0.0 END)
      |  , 6) AS DOUBLE) + 0.0) AS mi_bits
      |FROM cells ORDER BY mi_bits DESC, token""".stripMargin

  /** #329 spearman_len_score — Spearman rank correlation per source
    * between document length and the quality-classifier score: the
    * monotone-association audit ("does the learned filter just read
    * length?") that Pearson on raw values can't answer under a skewed
    * length distribution. Midranks with tie handling computed WITHOUT
    * a global sort: per-source distinct-value histograms give
    * 2·midrank = 2·cum_below + n_v + 1 as exact INTEGERS (half-unit
    * ranks; ρ is scale-invariant so the ×2 cancels), cumulative
    * windows run over the value-domain-bounded histograms only, docs
    * re-join their ranks on fine (source, value) keys, and all five
    * moments sum in DECIMAL(38,0) (ΣR² ~ 4N³ overflows long at
    * production N — the graph_assortativity rule). Only the final
    * ρ quotient touches floats, mirrored; zero-variance sources emit
    * null by guard. Exact oracle.
    */
  def spearmanLenScore(s: SparkSession, dir: String): DataFrame = {
    val wp = org.apache.spark.sql.expressions.Window
    val scored = Round9Ops.docQualityClassifier(s, dir).select(col("doc_id"), col("score"))
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        Seq("doc_id"))
    def ranks(vcol: String, rname: String): DataFrame = {
      val w = wp.partitionBy(col("source")).orderBy(col(vcol))
        .rowsBetween(wp.unboundedPreceding, -1)
      scored.groupBy(col("source"), col(vcol)).agg(count(lit(1)).as("nv"))
        .select(col("source"), col(vcol),
          (lit(2) * coalesce(sum(col("nv")).over(w), lit(0L)) + col("nv") + 1).as(rname))
    }
    val m = scored
      .join(ranks("n_chars", "rx"), Seq("source", "n_chars"))
      .join(ranks("score", "ry"), Seq("source", "score"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(dec0(col("rx"))).as("sx"), sum(dec0(col("ry"))).as("sy"),
        sum(dec0(col("rx")) * dec0(col("ry"))).as("sxy"),
        sum(dec0(col("rx")) * dec0(col("rx"))).as("sxx"),
        sum(dec0(col("ry")) * dec0(col("ry"))).as("syy"))
    m.select(col("source"), col("n_docs"),
      (dec0(col("n_docs")) * col("sxy") - col("sx") * col("sy")).as("covn"),
      (dec0(col("n_docs")) * col("sxx") - col("sx") * col("sx")).as("varx"),
      (dec0(col("n_docs")) * col("syy") - col("sy") * col("sy")).as("vary"))
      .select(col("source"), col("n_docs"),
        when(col("varx") > 0 && col("vary") > 0,
          emit(col("covn").cast("double")
            / sqrt(col("varx").cast("double") * col("vary").cast("double")), 6))
          .otherwise(lit(null).cast("double")).as("rho"))
      .orderBy(col("source"))
  }

  val spearmanLenScoreSql: String =
    s"""WITH clf AS (${Round9Ops.docQualityClassifierSql}),
       |scored AS (
       |  SELECT d.source, d.n_chars, clf.score
       |  FROM clf JOIN documents d ON clf.doc_id = d.doc_id
       |),
       |rxh AS (
       |  SELECT source, n_chars,
       |    2 * CAST(coalesce(sum(count(*)) OVER (PARTITION BY source ORDER BY n_chars
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      + count(*) + 1 AS rx
       |  FROM scored GROUP BY 1, 2
       |),
       |ryh AS (
       |  SELECT source, score,
       |    2 * CAST(coalesce(sum(count(*)) OVER (PARTITION BY source ORDER BY score
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      + count(*) + 1 AS ry
       |  FROM scored GROUP BY 1, 2
       |),
       |m AS (
       |  SELECT s.source, count(*) AS n_docs,
       |    sum(CAST(rx AS DECIMAL(38,0))) AS sx, sum(CAST(ry AS DECIMAL(38,0))) AS sy,
       |    sum(CAST(rx AS DECIMAL(38,0)) * CAST(ry AS DECIMAL(38,0))) AS sxy,
       |    sum(CAST(rx AS DECIMAL(38,0)) * CAST(rx AS DECIMAL(38,0))) AS sxx,
       |    sum(CAST(ry AS DECIMAL(38,0)) * CAST(ry AS DECIMAL(38,0))) AS syy
       |  FROM scored s
       |  JOIN rxh ON s.source = rxh.source AND s.n_chars = rxh.n_chars
       |  JOIN ryh ON s.source = ryh.source AND s.score = ryh.score
       |  GROUP BY 1
       |),
       |fin AS (
       |  SELECT source, n_docs,
       |    CAST(n_docs AS DECIMAL(38,0)) * sxy - sx * sy AS covn,
       |    CAST(n_docs AS DECIMAL(38,0)) * sxx - sx * sx AS varx,
       |    CAST(n_docs AS DECIMAL(38,0)) * syy - sy * sy AS vary
       |  FROM m
       |)
       |SELECT source, n_docs,
       |  CASE WHEN varx > 0 AND vary > 0 THEN
       |    (CAST(round(CAST(covn AS DOUBLE)
       |      / sqrt(CAST(varx AS DOUBLE) * CAST(vary AS DOUBLE)), 6) AS DOUBLE) + 0.0)
       |  ELSE NULL END AS rho
       |FROM fin ORDER BY source""".stripMargin

  /** #330 gain_capture_curve — the cumulative-gains table for the
    * quality classifier (decile capture and lift): the operational
    * readout beside AUC/calibration — "screening the top d·10% of
    * docs by score captures what share of the positives, at what lift
    * over random". Exact under ties WITHOUT a global sort: the
    * distinct-score histogram cumulates score-desc, each decile cut
    * (d·N div 10, integer) lands in exactly ONE boundary group via a
    * range join against the bounded 10-row decile axis, and the
    * boundary group's positives are attributed FRACTIONALLY
    * (pos_above·n_b + pos_b·(cut − cum_above)) — the standard gains
    * interpolation — kept in DECIMAL(38,0) (products ~P·N overflow
    * long at production scale); only the final shares divide as
    * floats, mirrored. Exact oracle.
    */
  def gainCaptureCurve(s: SparkSession, dir: String): DataFrame = {
    val wp = org.apache.spark.sql.expressions.Window
    val scored = Round9Ops.docQualityClassifier(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("score"), when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val hist = scored.groupBy(col("score"))
      .agg(count(lit(1)).as("nb"), sum(col("y")).as("pb"))
    val w = wp.orderBy(col("score").desc).rowsBetween(wp.unboundedPreceding, -1)
    val cum = hist
      .withColumn("cum_above", coalesce(sum(col("nb")).over(w), lit(0L)))
      .withColumn("pos_above", coalesce(sum(col("pb")).over(w), lit(0L)))
    val tot = hist.agg(sum(col("nb")).as("nn"), sum(col("pb")).as("p"))
    val deciles = s.range(1, 11).select(col("id").cast("int").as("decile"))
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(deciles))
      .withColumn("cut", expr("(decile * nn) div 10"))
      .filter(col("cum_above") < col("cut") && col("cum_above") + col("nb") >= col("cut"))
      .select(col("decile"), col("cut").as("rows_at_cut"),
        (dec0(col("pos_above")) * dec0(col("nb"))
          + dec0(col("pb")) * dec0(col("cut") - col("cum_above"))).as("num"),
        col("nb"), col("p"), col("nn"), col("cut"))
      .select(col("decile"), col("rows_at_cut"),
        emit(col("num").cast("double") / (col("nb").cast("double") * col("p").cast("double")), 6)
          .as("capture"),
        emit(col("num").cast("double") / (col("nb").cast("double") * col("p").cast("double"))
          / (col("cut").cast("double") / col("nn").cast("double")), 6).as("lift"))
      .orderBy(col("decile"))
  }

  val gainCaptureCurveSql: String =
    s"""WITH clf AS (${Round9Ops.docQualityClassifierSql}),
       |scored AS (
       |  SELECT clf.score, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM clf JOIN documents d ON clf.doc_id = d.doc_id
       |),
       |hist AS (
       |  SELECT score, count(*) AS nb, CAST(sum(y) AS BIGINT) AS pb
       |  FROM scored GROUP BY 1
       |),
       |cum AS (
       |  SELECT score, nb, pb,
       |    CAST(coalesce(sum(nb) OVER (ORDER BY score DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_above,
       |    CAST(coalesce(sum(pb) OVER (ORDER BY score DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pos_above
       |  FROM hist
       |),
       |tot AS (SELECT CAST(sum(nb) AS BIGINT) AS nn, CAST(sum(pb) AS BIGINT) AS p FROM hist),
       |ds AS (SELECT unnest(generate_series(1, 10)) AS decile),
       |bound AS (
       |  SELECT decile, (decile * nn) // 10 AS cut,
       |    CAST(pos_above AS DECIMAL(38,0)) * CAST(nb AS DECIMAL(38,0))
       |      + CAST(pb AS DECIMAL(38,0)) * CAST((decile * nn) // 10 - cum_above AS DECIMAL(38,0)) AS num,
       |    nb, p, nn
       |  FROM cum CROSS JOIN tot CROSS JOIN ds
       |  WHERE cum_above < (decile * nn) // 10 AND cum_above + nb >= (decile * nn) // 10
       |)
       |SELECT decile, cut AS rows_at_cut,
       |  (CAST(round(CAST(num AS DOUBLE) / (CAST(nb AS DOUBLE) * CAST(p AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS capture,
       |  (CAST(round(CAST(num AS DOUBLE) / (CAST(nb AS DOUBLE) * CAST(p AS DOUBLE))
       |    / (CAST(cut AS DOUBLE) / CAST(nn AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS lift
       |FROM bound ORDER BY decile""".stripMargin

  /** #331 cramers_v_matrix — χ² independence tests with Cramér's V
    * effect size across the schema's categorical column pairs
    * (documents lang×source, events type×day-of-week, orders
    * priority×status): the data-profiling association matrix that
    * says which "independent" dimensions actually co-vary (a
    * lang-skewed source or a weekday-skewed event type silently
    * biases every stratified sample drawn on one axis). Each pair is
    * ONE map-side-combinable contingency agg; expected counts and χ²
    * terms run over the FULL r×c cross (absent cells contribute E —
    * omitting them understates χ²) built by crossing the bounded
    * margin relations; per-cell terms are 12-dp rounded into an
    * order-free DECIMAL sum (the events_autocorr discipline). Exact
    * oracle.
    */
  def cramersVMatrix(s: SparkSession, dir: String): DataFrame = {
    val wp = org.apache.spark.sql.expressions.Window
    def one(pair: String, src: DataFrame): DataFrame = {
      // the contingency table is r×c-bounded but read five times
      // (margins, totals, dims, full cross): cut or each re-scans
      val cells = graft.Lineage.cut(
        src.groupBy(col("a"), col("b")).agg(count(lit(1)).as("nij")))
      val ra = cells.groupBy(col("a")).agg(sum(col("nij")).as("r"))
      val cb = cells.groupBy(col("b")).agg(sum(col("nij")).as("c"))
      val full = ra.crossJoin(broadcast(cb))
        .join(cells, Seq("a", "b"), "left")
        .select(col("a"), col("b"), col("r"), col("c"),
          coalesce(col("nij"), lit(0L)).as("nij"))
      val nTot = cells.agg(sum(col("nij")).as("nn"))
      val dims = cells.agg(countDistinct(col("a")).as("da"), countDistinct(col("b")).as("db"))
      val e = col("r").cast("double") * col("c").cast("double") / col("nn").cast("double")
      val t = (col("nij").cast("double") - e) * (col("nij").cast("double") - e) / e
      full.crossJoin(broadcast(nTot))
        .select(col("nn"), round(t, 12).cast(Dec12).as("term"))
        .groupBy(col("nn")).agg(sum(col("term")).as("chi2"))
        .crossJoin(broadcast(dims))
        .select(
          lit(pair).as("pair"), col("nn").as("n"),
          ((col("da") - 1) * (col("db") - 1)).as("dof"),
          emit(col("chi2").cast("double"), 4).as("chi2"),
          emit(sqrt(col("chi2").cast("double")
            / (col("nn").cast("double") * least(col("da") - 1, col("db") - 1).cast("double"))), 6)
            .as("cramers_v"))
    }
    val docs = Tables.documents(s, dir).select(col("lang").as("a"), col("source").as("b"))
    val evts = Tables.events(s, dir).select(
      col("event_type").as("a"),
      ((floor(unix_timestamp(col("ts")) / 86400) + 4) % 7).cast("long").as("b"))
    val ords = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("a"), col("o_orderstatus").as("b"))
    one("doc_lang_x_source", docs)
      .unionByName(one("event_type_x_dow", evts.select(col("a"), col("b").cast("string").as("b"))))
      .unionByName(one("order_priority_x_status", ords))
      .orderBy(col("pair"))
  }

  val cramersVMatrixSql: String = {
    def block(pair: String, from: String): String =
      s"""SELECT '$pair' AS pair, n, dof, chi2, cramers_v FROM (
         |  WITH cells AS (SELECT a, b, count(*) AS nij FROM ($from) GROUP BY 1, 2),
         |  ra AS (SELECT a, CAST(sum(nij) AS BIGINT) AS r FROM cells GROUP BY 1),
         |  cb AS (SELECT b, CAST(sum(nij) AS BIGINT) AS c FROM cells GROUP BY 1),
         |  tot AS (SELECT CAST(sum(nij) AS BIGINT) AS nn FROM cells),
         |  dims AS (SELECT count(DISTINCT a) AS da, count(DISTINCT b) AS db FROM cells),
         |  full_cells AS (
         |    SELECT ra.a, cb.b, ra.r, cb.c, CAST(coalesce(cells.nij, 0) AS BIGINT) AS nij
         |    FROM ra CROSS JOIN cb LEFT JOIN cells ON ra.a = cells.a AND cb.b = cells.b
         |  ),
         |  chi AS (
         |    SELECT nn, sum(CAST(round(
         |      (CAST(nij AS DOUBLE) - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(nn AS DOUBLE))
         |      * (CAST(nij AS DOUBLE) - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(nn AS DOUBLE))
         |      / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(nn AS DOUBLE)), 12) AS DECIMAL(38,12))) AS chi2
         |    FROM full_cells CROSS JOIN tot GROUP BY 1
         |  )
         |  SELECT nn AS n, (da - 1) * (db - 1) AS dof,
         |    (CAST(round(CAST(chi2 AS DOUBLE), 4) AS DOUBLE) + 0.0) AS chi2,
         |    (CAST(round(sqrt(CAST(chi2 AS DOUBLE)
         |      / (CAST(nn AS DOUBLE) * CAST(least(da - 1, db - 1) AS DOUBLE))), 6) AS DOUBLE) + 0.0) AS cramers_v
         |  FROM chi CROSS JOIN dims
         |)""".stripMargin
    block("doc_lang_x_source", "SELECT lang AS a, source AS b FROM documents") +
      "\nUNION ALL\n" +
      block("event_type_x_dow",
        "SELECT event_type AS a, CAST((CAST(floor(epoch(ts) / 86400) AS BIGINT) + 4) % 7 AS VARCHAR) AS b FROM events") +
      "\nUNION ALL\n" +
      block("order_priority_x_status",
        "SELECT o_orderpriority AS a, o_orderstatus AS b FROM orders") +
      "\nORDER BY pair"
  }

  /** #333 gini_report — the Gini coefficient of per-user purchase
    * revenue and per-user event volume: the single-number inequality
    * read behind revenue_concentration's top-share table (two
    * engagement mixes can share a top-10% share yet differ wildly in
    * G; churn and whale risk track G). Exact under ties WITHOUT a
    * global sort: the sorted-rank identity Σ(2i−n−1)x_i collapses per
    * tie group to x_v·n_v·(2·cum_below + n_v − n), so the whole
    * statistic reads off the distinct-value histogram + one
    * cumulative window over it, every term an exact DECIMAL product
    * (value·n·n ~ 1e24 at production scale — decimal, never long);
    * only the final G quotient divides as floats, mirrored. Exact
    * oracle.
    */
  def giniReport(s: SparkSession, dir: String): DataFrame = {
    val wp = org.apache.spark.sql.expressions.Window
    def gini(perUser: DataFrame, label: String): DataFrame = {
      val hist = perUser.groupBy(col("v")).agg(count(lit(1)).as("nv"))
      val w = wp.orderBy(col("v")).rowsBetween(wp.unboundedPreceding, -1)
      val cum = hist.withColumn("cb", coalesce(sum(col("nv")).over(w), lit(0L)))
      val tot = hist.agg(sum(col("nv")).as("n"))
      cum.crossJoin(broadcast(tot))
        .select(col("n"),
          (col("v") * col("nv").cast("decimal(19,0)")).as("sv"),
          (col("v") * col("nv").cast("decimal(19,0)")
            * (lit(2) * col("cb") + col("nv") - col("n")).cast("decimal(19,0)")).as("gnum"))
        .groupBy(col("n"))
        .agg(sum(col("sv")).as("total"), sum(col("gnum")).as("gn"))
        .select(lit(label).as("measure"), col("n").as("n_users"),
          emit(col("total").cast("double"), 6).as("total"),
          emit(col("gn").cast("double") / (col("n").cast("double") * col("total").cast("double")), 6)
            .as("gini"))
    }
    val rev = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(round(col("value"), 6).cast(Dec)).as("v"))
    val cnt = Tables.events(s, dir).groupBy(col("user_id"))
      .agg(count(lit(1)).cast(Dec).as("v"))
    gini(rev, "purchase_revenue").unionByName(gini(cnt, "event_count"))
      .orderBy(col("measure"))
  }

  val giniReportSql: String = {
    def block(label: String, perUser: String): String =
      s"""SELECT '$label' AS measure, n_users, total, gini FROM (
         |  WITH pu AS ($perUser),
         |  hist AS (SELECT v, count(*) AS nv FROM pu GROUP BY 1),
         |  cum AS (
         |    SELECT v, nv,
         |      CAST(coalesce(sum(nv) OVER (ORDER BY v
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
         |    FROM hist
         |  ),
         |  tot AS (SELECT CAST(sum(nv) AS BIGINT) AS n FROM hist),
         |  agg AS (
         |    SELECT n,
         |      sum(v * CAST(nv AS DECIMAL(19,0))) AS total,
         |      sum(v * CAST(nv AS DECIMAL(19,0)) * CAST(2 * cb + nv - n AS DECIMAL(19,0))) AS gn
         |    FROM cum CROSS JOIN tot GROUP BY 1
         |  )
         |  SELECT n AS n_users,
         |    (CAST(round(CAST(total AS DOUBLE), 6) AS DOUBLE) + 0.0) AS total,
         |    (CAST(round(CAST(gn AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS gini
         |  FROM agg
         |)""".stripMargin
    block("purchase_revenue",
      "SELECT user_id, CAST(sum(CAST(round(value, 6) AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS v " +
        "FROM events WHERE event_type = 'purchase' GROUP BY 1") +
      "\nUNION ALL\n" +
      block("event_count",
        "SELECT user_id, CAST(count(*) AS DECIMAL(38,6)) AS v FROM events GROUP BY 1") +
      "\nORDER BY measure"
  }

  /** #334 isotonic_calibration — monotone (isotonic) recalibration of
    * the classifier's reliability table: #310 MEASURES the per-bin
    * calibration gap, this produces the FIX — the pool-adjacent-
    * violators solution, computed not by the sequential PAV sweep but
    * by its closed minimax identity ŷ_i = max_{j≤i} min_{k≥i}
    * rate(j,k) (Robertson–Wright–Dykstra), which is pure relational
    * algebra over the BOUNDED 10-bin table: window prefix sums give
    * every interval rate from exact long counts (≤100 interval rows),
    * two grouped min/max aggs finish — no iteration, no driver math,
    * nothing data-volume-sized past the one binning agg. Interval
    * rates divide exact longs as doubles (correctly-rounded IEEE,
    * identical both engines). Exact oracle.
    */
  def isotonicCalibration(s: SparkSession, dir: String): DataFrame = {
    val wp = org.apache.spark.sql.expressions.Window
    val bins = Round9Ops.docQualityClassifier(s, dir)
      .select(col("doc_id"), (col("score") + lit(0.5)).as("c"))
      .join(Tables.documents(s, dir)
        .select(col("doc_id"), when(col("lang") === "en", 1L).otherwise(0L).as("y")), Seq("doc_id"))
      .select(least(floor(col("c") * 10).cast("long"), lit(9L)).as("bin"), col("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("k"))
    val wcum = wp.orderBy(col("bin")).rowsBetween(wp.unboundedPreceding, 0)
    val pre = bins // the window is over the bounded ≤10-bin relation
      .withColumn("cn", sum(col("n")).over(wcum))
      .withColumn("ck", sum(col("k")).over(wcum))
    val lo = pre.select(col("bin").as("j"), (col("cn") - col("n")).as("cnj"),
      (col("ck") - col("k")).as("ckj"))
    val hi = pre.select(col("bin").as("kb"), col("cn").as("cnk"), col("ck").as("ckk"))
    val ivl = lo.crossJoin(broadcast(hi)).filter(col("j") <= col("kb"))
      .select(col("j"), col("kb"),
        ((col("ckk") - col("ckj")).cast("double")
          / (col("cnk") - col("cnj")).cast("double")).as("rate"))
    bins.select(col("bin"), col("n"), col("k"))
      .crossJoin(broadcast(ivl))
      .filter(col("j") <= col("bin") && col("kb") >= col("bin"))
      .groupBy(col("bin"), col("n"), col("k"), col("j"))
      .agg(min(col("rate")).as("mn"))
      .groupBy(col("bin"), col("n"), col("k"))
      .agg(max(col("mn")).as("cal"))
      .select(col("bin"), col("n"), col("k"),
        emit(col("k").cast("double") / col("n").cast("double"), 6).as("frac_pos"),
        emit(col("cal"), 6).as("calibrated"))
      .orderBy(col("bin"))
  }

  val isotonicCalibrationSql: String =
    s"""WITH clf AS (${Round9Ops.docQualityClassifierSql}),
       |b AS (
       |  SELECT least(CAST(floor((clf.score + 0.5) * 10) AS BIGINT), 9) AS bin,
       |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM clf JOIN documents d ON clf.doc_id = d.doc_id
       |),
       |bins AS (SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS k FROM b GROUP BY 1),
       |pre AS (
       |  SELECT bin, n, k,
       |    CAST(sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
       |    CAST(sum(k) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ck
       |  FROM bins
       |),
       |ivl AS (
       |  SELECT lo.j, hi.kb,
       |    CAST(hi.ckk - lo.ckj AS DOUBLE) / CAST(hi.cnk - lo.cnj AS DOUBLE) AS rate
       |  FROM (SELECT bin AS j, cn - n AS cnj, ck - k AS ckj FROM pre) lo
       |  CROSS JOIN (SELECT bin AS kb, cn AS cnk, ck AS ckk FROM pre) hi
       |  WHERE lo.j <= hi.kb
       |),
       |step1 AS (
       |  SELECT bins.bin, bins.n, bins.k, ivl.j, min(ivl.rate) AS mn
       |  FROM bins CROSS JOIN ivl
       |  WHERE ivl.j <= bins.bin AND ivl.kb >= bins.bin
       |  GROUP BY 1, 2, 3, 4
       |)
       |SELECT bin, n, k,
       |  (CAST(round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS DOUBLE) + 0.0) AS frac_pos,
       |  (CAST(round(max(mn), 6) AS DOUBLE) + 0.0) AS calibrated
       |FROM step1 GROUP BY 1, 2, 3 ORDER BY bin""".stripMargin

  /** #335 neyman_allocation — optimal stratified-sample allocation
    * (Neyman 1934): per source stratum, allocate sampling budget
    * ∝ N_h·σ_h (big AND variable strata deserve more samples) — the
    * design table corpus_sample's uniform rates should be replaced by
    * when estimating corpus statistics cheaply at 100 TB. Per-stratum
    * variance from exact integer moments in DECIMAL(38,0) (Σx² ~
    * maxlen²·N overflows long), σ and the allocation weights as
    * mirrored float chains; the cross-stratum weight total follows
    * the house order-free rule (6-dp round → DECIMAL sum) and comes
    * back as a single-row broadcast. One map-side agg touches data.
    * Exact oracle.
    */
  def neymanAllocation(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(dec0(col("n_chars"))).as("sx"),
        sum(dec0(col("n_chars")) * dec0(col("n_chars"))).as("sxx"))
    val sigma = sqrt((dec0(col("n")) * col("sxx") - col("sx") * col("sx")).cast("double")
      / (col("n").cast("double") * col("n").cast("double")))
    val weighted = m.select(col("source"), col("n"), round(col("n") * sigma, 6).as("w"))
    val tot = weighted.agg(sum(col("w").cast(Dec12)).as("tw"))
    weighted.crossJoin(broadcast(tot))
      .select(col("source"), col("n").as("n_docs"),
        emit(col("w") / col("n").cast("double"), 6).as("sigma"),
        emit(col("w") / col("tw").cast("double"), 6).as("alloc_share"),
        emit(col("w") / col("tw").cast("double") * lit(10000.0), 2).as("alloc_10k"))
      .orderBy(col("source"))
  }

  val neymanAllocationSql: String =
    """WITH m AS (
      |  SELECT source, count(*) AS n,
      |    sum(CAST(n_chars AS DECIMAL(38,0))) AS sx,
      |    sum(CAST(n_chars AS DECIMAL(38,0)) * CAST(n_chars AS DECIMAL(38,0))) AS sxx
      |  FROM documents GROUP BY 1
      |),
      |wts AS (
      |  SELECT source, n,
      |    round(n * sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6) AS w
      |  FROM m
      |),
      |tot AS (SELECT sum(CAST(w AS DECIMAL(38,12))) AS tw FROM wts)
      |SELECT source, n AS n_docs,
      |  (CAST(round(w / CAST(n AS DOUBLE), 6) AS DOUBLE) + 0.0) AS sigma,
      |  (CAST(round(w / CAST(tw AS DOUBLE), 6) AS DOUBLE) + 0.0) AS alloc_share,
      |  (CAST(round(w / CAST(tw AS DOUBLE) * 10000.0, 2) AS DOUBLE) + 0.0) AS alloc_10k
      |FROM wts CROSS JOIN tot ORDER BY source""".stripMargin

  /** #337 concentration_report — Herfindahl–Hirschman concentration
    * across the platform's load-bearing mixes (docs by source, events
    * by type, revenue by customer nation): HHI = Σ share², effective
    * group count 1/HHI, and the top-1 share — the single-number "how
    * dependent are we on one source/type/market" read that
    * corpus_mix_report's full table doesn't collapse to. Each
    * dimension is ONE map-side agg (revenue adds a broadcast dim
    * join); share² terms are 12-dp rounded into order-free DECIMAL
    * sums over the bounded group relations; top-1 via max of exact
    * totals. Exact oracle.
    */
  def concentrationReport(s: SparkSession, dir: String): DataFrame = {
    def one(label: String, grouped: DataFrame): DataFrame = {
      // grouped: (g, x) with x an exact DECIMAL total per group
      val tot = grouped.agg(sum(col("x")).as("tx"), count(lit(1)).as("ng"),
        max(col("x")).as("mx"))
      val share = col("x").cast("double") / col("tx").cast("double")
      grouped.crossJoin(broadcast(tot))
        .select(col("ng"), col("tx"), col("mx"),
          round(share * share, 12).cast(Dec12).as("s2"))
        .groupBy(col("ng"), col("tx"), col("mx"))
        .agg(sum(col("s2")).as("hhi"))
        .select(lit(label).as("dimension"), col("ng").as("n_groups"),
          emit(col("hhi").cast("double"), 6).as("hhi"),
          emit(lit(1.0) / col("hhi").cast("double"), 4).as("effective_n"),
          emit(col("mx").cast("double") / col("tx").cast("double"), 6).as("top1_share"))
    }
    val docs = Tables.documents(s, dir).groupBy(col("source").as("g"))
      .agg(count(lit(1)).cast(Dec).as("x"))
    val evts = Tables.events(s, dir).groupBy(col("event_type").as("g"))
      .agg(count(lit(1)).cast(Dec).as("x"))
    val rev = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("g"))
      .agg(sum(round(col("o_totalprice"), 2).cast(Dec)).as("x"))
    one("docs_by_source", docs)
      .unionByName(one("events_by_type", evts))
      .unionByName(one("revenue_by_nation", rev))
      .orderBy(col("dimension"))
  }

  val concentrationReportSql: String = {
    def block(label: String, grouped: String): String =
      s"""SELECT '$label' AS dimension, n_groups, hhi, effective_n, top1_share FROM (
         |  WITH g AS ($grouped),
         |  tot AS (SELECT sum(x) AS tx, count(*) AS ng, max(x) AS mx FROM g),
         |  agg AS (
         |    SELECT ng, tx, mx,
         |      sum(CAST(round(
         |        (CAST(x AS DOUBLE) / CAST(tx AS DOUBLE)) * (CAST(x AS DOUBLE) / CAST(tx AS DOUBLE)),
         |        12) AS DECIMAL(38,12))) AS hhi
         |    FROM g CROSS JOIN tot GROUP BY 1, 2, 3
         |  )
         |  SELECT ng AS n_groups,
         |    (CAST(round(CAST(hhi AS DOUBLE), 6) AS DOUBLE) + 0.0) AS hhi,
         |    (CAST(round(1.0 / CAST(hhi AS DOUBLE), 4) AS DOUBLE) + 0.0) AS effective_n,
         |    (CAST(round(CAST(mx AS DOUBLE) / CAST(tx AS DOUBLE), 6) AS DOUBLE) + 0.0) AS top1_share
         |  FROM agg
         |)""".stripMargin
    block("docs_by_source",
      "SELECT source AS g, CAST(count(*) AS DECIMAL(38,6)) AS x FROM documents GROUP BY 1") +
      "\nUNION ALL\n" +
      block("events_by_type",
        "SELECT event_type AS g, CAST(count(*) AS DECIMAL(38,6)) AS x FROM events GROUP BY 1") +
      "\nUNION ALL\n" +
      block("revenue_by_nation",
        "SELECT c.c_nationkey AS g, CAST(sum(CAST(round(o.o_totalprice, 2) AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS x " +
          "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey GROUP BY 1") +
      "\nORDER BY dimension"
  }

  /** #340 ndcg_report — nDCG@10 of the int8-quantized ranking against
    * the exact float ranking, graded relevance rel = 11 − exact_rank:
    * the third face of retrieval QA (#277 counts set recall, #325
    * reads rank agreement, THIS weighs graded GAIN by position — the
    * metric that forgives a swap at rank 9 but punishes losing the
    * top-1). DCG terms rel/log2(i+1) are 12-dp rounded into order-free
    * DECIMAL sums per query; the ideal DCG is computed in-plan from
    * the same broadcast depth axis through the identical float chain
    * (never a hand-typed constant), so both engines derive it
    * identically. Everything past the two kNN chains is
    * broadcast-sized. Exact oracle.
    */
  def ndcgReport(s: SparkSession, dir: String): DataFrame = {
    val exact = TextOps.embedKnn(s, dir)
      .select(col("query_id"), col("vec_id"), col("rn").as("exact_rn"))
    val retr = TextOps.embedQuantizedKnn(s, dir)
      .select(col("query_id"), col("vec_id"), col("rn").as("i"))
    val term = coalesce(lit(11L) - col("exact_rn"), lit(0L)).cast("double") /
      (log(col("i").cast("double") + lit(1.0)) / log(lit(2.0)))
    val dcg = retr.join(exact, Seq("query_id", "vec_id"), "left")
      .select(col("query_id"), round(term, 12).cast(Dec12).as("t"))
      .groupBy(col("query_id")).agg(sum(col("t")).as("dcg"))
    val depths = s.range(1, 11).select(col("id").cast("int").as("r"))
    val idcg = depths
      .select(round((lit(11L) - col("r")).cast("double") /
        (log(col("r").cast("double") + lit(1.0)) / log(lit(2.0))), 12).cast(Dec12).as("t"))
      .agg(sum(col("t")).as("idcg"))
    dcg.crossJoin(broadcast(idcg))
      .select(col("query_id"),
        emit(col("dcg").cast("double"), 6).as("dcg"),
        emit(col("dcg").cast("double") / col("idcg").cast("double"), 6).as("ndcg"))
      .orderBy(col("query_id"))
  }

  val ndcgReportSql: String =
    s"""WITH a0 AS (${TextOps.embedKnnSql}),
       |b0 AS (${TextOps.embedQuantizedKnnSql}),
       |dcg AS (
       |  SELECT b0.query_id,
       |    sum(CAST(round(
       |      CAST(coalesce(11 - a0.rn, 0) AS DOUBLE)
       |        / (ln(CAST(b0.rn AS DOUBLE) + 1.0) / ln(2.0)), 12) AS DECIMAL(38,12))) AS dcg
       |  FROM b0 LEFT JOIN a0 ON b0.query_id = a0.query_id AND b0.vec_id = a0.vec_id
       |  GROUP BY 1
       |),
       |idcg AS (
       |  SELECT sum(CAST(round(
       |    CAST(11 - r AS DOUBLE) / (ln(CAST(r AS DOUBLE) + 1.0) / ln(2.0)), 12) AS DECIMAL(38,12))) AS idcg
       |  FROM (SELECT unnest(generate_series(1, 10)) AS r)
       |)
       |SELECT query_id,
       |  (CAST(round(CAST(dcg AS DOUBLE), 6) AS DOUBLE) + 0.0) AS dcg,
       |  (CAST(round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6) AS DOUBLE) + 0.0) AS ndcg
       |FROM dcg CROSS JOIN idcg ORDER BY query_id""".stripMargin

  /** #341 brier_decomposition — the Brier score with Murphy's (1973)
    * reliability/resolution/uncertainty decomposition over the 10-bin
    * reliability partition: the PROPER scoring rule completing the
    * classifier QA set (#310 tables the gaps, #326 ranks, #334
    * recalibrates — this scores, and says how much of the loss is
    * miscalibration vs missing discrimination). The total Brier sums
    * per-row (c−y)² 12-dp-rounded into an order-free DECIMAL; the
    * decomposition runs on the bounded bin table with exact long
    * (n, k) and decimal Σc per bin, every derived term a mirrored
    * float chain. Exact oracle.
    */
  def brierDecomposition(s: SparkSession, dir: String): DataFrame = {
    val scored = Round9Ops.docQualityClassifier(s, dir)
      .select(col("doc_id"), (col("score") + lit(0.5)).as("c"))
      .join(Tables.documents(s, dir)
        .select(col("doc_id"), when(col("lang") === "en", 1L).otherwise(0L).as("y")), Seq("doc_id"))
    val brier = scored
      .select(round((col("c") - col("y")) * (col("c") - col("y")), 12).cast(Dec12).as("sq"))
      .agg(sum(col("sq")).as("ssq"), count(lit(1)).as("n"))
    val bins = scored
      .select(least(floor(col("c") * 10).cast("long"), lit(9L)).as("bin"), col("c"), col("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("nb"), dsum(col("c")).as("sc"), sum(col("y")).as("k"))
    val tot = bins.agg(sum(col("nb")).as("n"), sum(col("k")).as("kt"))
    val cbar = col("sc").cast("double") / col("nb").cast("double")
    val ybar = col("k").cast("double") / col("nb").cast("double")
    val ybarAll = col("kt").cast("double") / col("n").cast("double")
    val comp = bins.crossJoin(broadcast(tot))
      .select(col("n"), col("kt"),
        round(col("nb").cast("double") * (cbar - ybar) * (cbar - ybar), 12).cast(Dec12).as("rel_t"),
        round(col("nb").cast("double") * (ybar - ybarAll) * (ybar - ybarAll), 12).cast(Dec12).as("res_t"))
      .groupBy(col("n"), col("kt"))
      .agg(sum(col("rel_t")).as("rel"), sum(col("res_t")).as("res"))
    comp.crossJoin(broadcast(brier.select(col("ssq"))))
      .select(
        col("n").as("n_docs"),
        emit(col("ssq").cast("double") / col("n").cast("double"), 6).as("brier"),
        emit(col("rel").cast("double") / col("n").cast("double"), 6).as("reliability"),
        emit(col("res").cast("double") / col("n").cast("double"), 6).as("resolution"),
        emit((col("kt").cast("double") / col("n").cast("double"))
          * (lit(1.0) - col("kt").cast("double") / col("n").cast("double")), 6).as("uncertainty"))
  }

  val brierDecompositionSql: String =
    s"""WITH clf AS (${Round9Ops.docQualityClassifierSql}),
       |sc AS (
       |  SELECT clf.doc_id, CAST(clf.score + 0.5 AS DOUBLE) AS c,
       |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM clf JOIN documents d ON clf.doc_id = d.doc_id
       |),
       |brier AS (
       |  SELECT sum(CAST(round((c - y) * (c - y), 12) AS DECIMAL(38,12))) AS ssq, count(*) AS n
       |  FROM sc
       |),
       |bins AS (
       |  SELECT least(CAST(floor(c * 10) AS BIGINT), 9) AS bin,
       |    count(*) AS nb, sum(CAST(c AS DECIMAL(38,6))) AS scb, CAST(sum(y) AS BIGINT) AS k
       |  FROM sc GROUP BY 1
       |),
       |tot AS (SELECT CAST(sum(nb) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS kt FROM bins),
       |comp AS (
       |  SELECT n, kt,
       |    sum(CAST(round(CAST(nb AS DOUBLE)
       |      * (CAST(scb AS DOUBLE) / CAST(nb AS DOUBLE) - CAST(k AS DOUBLE) / CAST(nb AS DOUBLE))
       |      * (CAST(scb AS DOUBLE) / CAST(nb AS DOUBLE) - CAST(k AS DOUBLE) / CAST(nb AS DOUBLE)),
       |      12) AS DECIMAL(38,12))) AS rel,
       |    sum(CAST(round(CAST(nb AS DOUBLE)
       |      * (CAST(k AS DOUBLE) / CAST(nb AS DOUBLE) - CAST(kt AS DOUBLE) / CAST(n AS DOUBLE))
       |      * (CAST(k AS DOUBLE) / CAST(nb AS DOUBLE) - CAST(kt AS DOUBLE) / CAST(n AS DOUBLE)),
       |      12) AS DECIMAL(38,12))) AS res
       |  FROM bins CROSS JOIN tot GROUP BY 1, 2
       |)
       |SELECT n AS n_docs,
       |  (CAST(round(CAST(ssq AS DOUBLE) / CAST(n AS DOUBLE), 6) AS DOUBLE) + 0.0) AS brier,
       |  (CAST(round(CAST(rel AS DOUBLE) / CAST(n AS DOUBLE), 6) AS DOUBLE) + 0.0) AS reliability,
       |  (CAST(round(CAST(res AS DOUBLE) / CAST(n AS DOUBLE), 6) AS DOUBLE) + 0.0) AS resolution,
       |  (CAST(round((CAST(kt AS DOUBLE) / CAST(n AS DOUBLE))
       |    * (1.0 - CAST(kt AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS uncertainty
       |FROM comp CROSS JOIN (SELECT ssq FROM brier)""".stripMargin

  /** #342 hill_tail_index — the Hill (1975) estimator of the
    * power-law tail index of per-user event volume: vocab_zipf_slope
    * reads the rank-frequency law of WORDS, this reads the tail
    * heaviness of USER activity — the number that says whether
    * per-key state, skew salting, and hot-bucket caps face a
    * log-normal shoulder or a true Pareto tail (γ ≥ 1/2 ⇒ infinite
    * variance ⇒ uncapped per-key anything eventually loses). Order
    * statistics WITHOUT a global sort: top-(k+1) activity counts via
    * TakeOrdered (count desc, user asc — deterministic through ties),
    * x_{k+1} from a rank filter on the bounded 101-row frame,
    * ln(x_i/x_{k+1}) terms 12-dp rounded into an order-free DECIMAL
    * sum. γ and α = 1/γ are mirrored float chains. Exact oracle.
    */
  def hillTailIndex(s: SparkSession, dir: String): DataFrame = {
    val wp = org.apache.spark.sql.expressions.Window
    val top = Tables.events(s, dir).groupBy(col("user_id")).agg(count(lit(1)).as("x"))
      .orderBy(col("x").desc, col("user_id")).limit(101)
    val ranked = top // the window runs over the bounded ≤101-row frame
      .withColumn("rn", row_number().over(wp.orderBy(col("x").desc, col("user_id"))))
    // k adapts when fewer than 101 users exist: the deepest fetched
    // order statistic is x_{k+1}, the k above it feed the estimator
    val kmax = ranked.agg(max(col("rn")).as("rn_max"))
    val xk1 = ranked.join(broadcast(kmax), col("rn") === col("rn_max"))
      .select(col("x").as("xk1"), (col("rn_max") - 1).as("k"))
    ranked.crossJoin(broadcast(xk1))
      .filter(col("rn") <= col("k"))
      .select(round(log(col("x").cast("double") / col("xk1").cast("double")), 12)
        .cast(Dec12).as("t"), col("xk1"), col("k"))
      .groupBy(col("xk1"), col("k")).agg(sum(col("t")).as("st"))
      .select(col("k"), col("xk1").as("x_k1"),
        emit(col("st").cast("double") / col("k").cast("double"), 6).as("gamma"),
        emit(col("k").cast("double") / col("st").cast("double"), 6).as("alpha"))
  }

  val hillTailIndexSql: String =
    """WITH act AS (SELECT user_id, count(*) AS x FROM events GROUP BY 1),
      |top AS (SELECT user_id, x FROM act ORDER BY x DESC, user_id LIMIT 101),
      |ranked AS (
      |  SELECT x, row_number() OVER (ORDER BY x DESC, user_id) AS rn FROM top
      |),
      |km AS (SELECT max(rn) AS rn_max FROM ranked),
      |xk1 AS (
      |  SELECT ranked.x AS xk1, km.rn_max - 1 AS k
      |  FROM ranked JOIN km ON ranked.rn = km.rn_max
      |),
      |terms AS (
      |  SELECT xk1, k,
      |    sum(CAST(round(ln(CAST(x AS DOUBLE) / CAST(xk1 AS DOUBLE)), 12) AS DECIMAL(38,12))) AS st
      |  FROM ranked CROSS JOIN xk1 WHERE rn <= k GROUP BY 1, 2
      |)
      |SELECT k, xk1 AS x_k1,
      |  (CAST(round(CAST(st AS DOUBLE) / CAST(k AS DOUBLE), 6) AS DOUBLE) + 0.0) AS gamma,
      |  (CAST(round(CAST(k AS DOUBLE) / CAST(st AS DOUBLE), 6) AS DOUBLE) + 0.0) AS alpha
      |FROM terms""".stripMargin

  /** #344 heaps_law_fit — Heaps'-law exponent of the corpus: vocab
    * growth V(N) = K·N^β measured at 10 cumulative doc-id prefixes,
    * then log-log least squares for (β, K) — the number that projects
    * tokenizer vocabulary pressure from a sample to the 100 TB corpus
    * (vocab_zipf_slope reads frequency ranks at one snapshot; THIS
    * reads growth). The cumulative-distinct trick avoids any
    * re-scanning: each token's FIRST document (one min-agg over the
    * token pairs) makes vocab-at-prefix a conditional count, and
    * token mass at each prefix a conditional sum of per-doc counts —
    * both against the broadcast 10-cutoff axis, so the corpus is read
    * once. The OLS runs on the bounded 10-point log-log table with
    * 12-dp DECIMAL term sums. Exact oracle.
    */
  def heapsLawFit(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val firstDoc = toks.groupBy(col("token")).agg(min(col("doc_id")).as("first_doc"))
    val perDoc = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
    val span = perDoc.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val cuts = s.range(1, 11).select(col("id").cast("int").as("p"))
      .crossJoin(broadcast(span))
      .select(col("p"), expr("lo + ((hi - lo) * p) div 10").as("cut"))
    val nTok = perDoc.crossJoin(broadcast(cuts))
      .filter(col("doc_id") <= col("cut"))
      .groupBy(col("p")).agg(sum(col("nt")).as("n_tokens"))
    val vocab = firstDoc.crossJoin(broadcast(cuts))
      .filter(col("first_doc") <= col("cut"))
      .groupBy(col("p")).agg(count(lit(1)).as("vocab"))
    val pts = nTok.join(vocab, Seq("p"))
      .select(col("p"), col("n_tokens"), col("vocab"),
        round(log(col("n_tokens").cast("double")), 12).as("lx"),
        round(log(col("vocab").cast("double")), 12).as("ly"))
    val fit = pts.select(
      count(lit(1)).cast("double").as("m"),
      sum(col("lx").cast(Dec12)).cast("double").as("sx"),
      sum(col("ly").cast(Dec12)).cast("double").as("sy"),
      sum(round(col("lx") * col("ly"), 12).cast(Dec12)).cast("double").as("sxy"),
      sum(round(col("lx") * col("lx"), 12).cast(Dec12)).cast("double").as("sxx"))
      .select(
        ((col("m") * col("sxy") - col("sx") * col("sy"))
          / (col("m") * col("sxx") - col("sx") * col("sx"))).as("beta"),
        col("m"), col("sx"), col("sy"), col("sxx"), col("sxy"))
      .select(col("beta"),
        exp((col("sy") - col("beta") * col("sx")) / col("m")).as("kcoef"))
    pts.crossJoin(broadcast(fit))
      .select(col("p"), col("n_tokens"), col("vocab"),
        emit(col("beta"), 6).as("beta"), emit(col("kcoef"), 4).as("k_coef"))
      .orderBy(col("p"))
  }

  val heapsLawFitSql: String =
    """WITH toks AS (
      |  SELECT doc_id, token FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
      |  ) WHERE token <> ''
      |),
      |firstdoc AS (SELECT token, min(doc_id) AS first_doc FROM toks GROUP BY 1),
      |perdoc AS (SELECT doc_id, count(*) AS nt FROM toks GROUP BY 1),
      |span AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM perdoc),
      |cuts AS (
      |  SELECT p, lo + (hi - lo) * p // 10 AS cut
      |  FROM (SELECT unnest(generate_series(1, 10)) AS p), span
      |),
      |ntok AS (
      |  SELECT p, CAST(sum(nt) AS BIGINT) AS n_tokens
      |  FROM perdoc CROSS JOIN cuts WHERE doc_id <= cut GROUP BY 1
      |),
      |voc AS (
      |  SELECT p, count(*) AS vocab
      |  FROM firstdoc CROSS JOIN cuts WHERE first_doc <= cut GROUP BY 1
      |),
      |pts AS (
      |  SELECT ntok.p, n_tokens, vocab,
      |    round(ln(CAST(n_tokens AS DOUBLE)), 12) AS lx,
      |    round(ln(CAST(vocab AS DOUBLE)), 12) AS ly
      |  FROM ntok JOIN voc ON ntok.p = voc.p
      |),
      |mom AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS m,
      |    CAST(sum(CAST(lx AS DECIMAL(38,12))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(ly AS DECIMAL(38,12))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(round(lx * ly, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(round(lx * lx, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx
      |  FROM pts
      |),
      |fit AS (
      |  SELECT (m * sxy - sx * sy) / (m * sxx - sx * sx) AS beta, m, sx, sy FROM mom
      |),
      |fin AS (
      |  SELECT beta, exp((sy - beta * sx) / m) AS kcoef FROM fit
      |)
      |SELECT p, n_tokens, vocab,
      |  (CAST(round(beta, 6) AS DOUBLE) + 0.0) AS beta,
      |  (CAST(round(kcoef, 4) AS DOUBLE) + 0.0) AS k_coef
      |FROM pts CROSS JOIN fin ORDER BY p""".stripMargin

  /** #345 kappa_agreement — Cohen's κ between the learned quality
    * classifier and the zero-parameter length baseline (keep iff
    * longer than the corpus mean): raw agreement between two
    * keep/drop filters flatters both when the base rates are skewed —
    * κ is agreement BEYOND CHANCE, the honest "is the model adding
    * anything over the dumb rule" number. The length rule compares
    * n_chars·N > Σchars in EXACT integers (never a float mean
    * boundary); all four cells are one doc-key join + one conditional
    * agg; p_o, p_e, κ are a mirrored float chain over the 1-row cell
    * frame (products ~N² in DECIMAL). Exact oracle.
    */
  def kappaAgreement(s: SparkSession, dir: String): DataFrame = {
    val tot = Tables.documents(s, dir)
      .agg(count(lit(1)).as("nn"), sum(col("n_chars")).as("schars"))
    val a = Round9Ops.docQualityClassifier(s, dir)
      .select(col("doc_id"), (col("verdict") === "keep").as("keep_model"))
    val cells = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), (col("n_chars") * col("nn") > col("schars")).as("keep_len"))
      .join(a, Seq("doc_id"))
      .agg(
        sum(when(col("keep_model") && col("keep_len"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("keep_model") && !col("keep_len"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("keep_model") && col("keep_len"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("keep_model") && !col("keep_len"), 1L).otherwise(0L)).as("n00"))
    val n = col("n11") + col("n10") + col("n01") + col("n00")
    val po = (col("n11") + col("n00")).cast("double") / n.cast("double")
    val pe = ((dec0(col("n11") + col("n10")) * dec0(col("n11") + col("n01"))
      + dec0(col("n01") + col("n00")) * dec0(col("n10") + col("n00")))
      .cast("double")) / (dec0(n) * dec0(n)).cast("double")
    cells.select(col("n11"), col("n10"), col("n01"), col("n00"),
      emit(po, 6).as("p_observed"),
      emit(pe, 6).as("p_chance"),
      emit((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
  }

  val kappaAgreementSql: String =
    s"""WITH clf AS (${Round9Ops.docQualityClassifierSql}),
       |tot AS (SELECT count(*) AS nn, CAST(sum(n_chars) AS BIGINT) AS schars FROM documents),
       |cells AS (
       |  SELECT
       |    CAST(sum(CASE WHEN clf.verdict = 'keep' AND d.n_chars * nn > schars THEN 1 ELSE 0 END) AS BIGINT) AS n11,
       |    CAST(sum(CASE WHEN clf.verdict = 'keep' AND NOT (d.n_chars * nn > schars) THEN 1 ELSE 0 END) AS BIGINT) AS n10,
       |    CAST(sum(CASE WHEN clf.verdict <> 'keep' AND d.n_chars * nn > schars THEN 1 ELSE 0 END) AS BIGINT) AS n01,
       |    CAST(sum(CASE WHEN clf.verdict <> 'keep' AND NOT (d.n_chars * nn > schars) THEN 1 ELSE 0 END) AS BIGINT) AS n00
       |  FROM clf JOIN documents d ON clf.doc_id = d.doc_id CROSS JOIN tot
       |)
       |SELECT n11, n10, n01, n00,
       |  (CAST(round(CAST(n11 + n00 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE), 6) AS DOUBLE) + 0.0) AS p_observed,
       |  (CAST(round(CAST(CAST(n11 + n10 AS DECIMAL(38,0)) * CAST(n11 + n01 AS DECIMAL(38,0))
       |      + CAST(n01 + n00 AS DECIMAL(38,0)) * CAST(n10 + n00 AS DECIMAL(38,0)) AS DOUBLE)
       |    / CAST(CAST(n11 + n10 + n01 + n00 AS DECIMAL(38,0)) * CAST(n11 + n10 + n01 + n00 AS DECIMAL(38,0)) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS p_chance,
       |  (CAST(round(
       |    (CAST(n11 + n00 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE)
       |     - CAST(CAST(n11 + n10 AS DECIMAL(38,0)) * CAST(n11 + n01 AS DECIMAL(38,0))
       |         + CAST(n01 + n00 AS DECIMAL(38,0)) * CAST(n10 + n00 AS DECIMAL(38,0)) AS DOUBLE)
       |       / CAST(CAST(n11 + n10 + n01 + n00 AS DECIMAL(38,0)) * CAST(n11 + n10 + n01 + n00 AS DECIMAL(38,0)) AS DOUBLE))
       |    / (1.0 - CAST(CAST(n11 + n10 AS DECIMAL(38,0)) * CAST(n11 + n01 AS DECIMAL(38,0))
       |         + CAST(n01 + n00 AS DECIMAL(38,0)) * CAST(n10 + n00 AS DECIMAL(38,0)) AS DOUBLE)
       |       / CAST(CAST(n11 + n10 + n01 + n00 AS DECIMAL(38,0)) * CAST(n11 + n10 + n01 + n00 AS DECIMAL(38,0)) AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS kappa
       |FROM cells""".stripMargin

  /** #346 entropy_rate — the empirical entropy rate of the user
    * journey Markov chain, H = −Σ_ij (n_ij/T)·log2(n_ij/n_i·), with
    * the predictability complement 1 − H/log2(|states|):
    * markov_transitions ships the matrix, THIS collapses it to the
    * "how predictable is the next action" number a recommender or
    * prefetcher is bounded by (Song et al. 2010's limit-of-
    * predictability read). One lead-window pass builds transition
    * counts (the markov_transitions chain verbatim); every term after
    * runs on the |types|²-bounded matrix, ln-quotients 12-dp rounded
    * into order-free DECIMAL sums, state count in-plan. Exact oracle.
    */
  def entropyRate(s: SparkSession, dir: String): DataFrame = {
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counts = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(wp))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("cur_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val rowTot = counts.groupBy(col("cur_type").as("tc")).agg(sum(col("n")).as("ni"))
    val tot = counts.agg(sum(col("n")).as("t"),
      countDistinct(col("cur_type")).as("n_states"))
    val term = (col("n").cast("double") / col("t").cast("double")) *
      (log(col("n").cast("double") / col("ni").cast("double")) / log(lit(2.0)))
    counts.join(broadcast(rowTot), col("cur_type") === col("tc"))
      .crossJoin(broadcast(tot))
      .select(col("t"), col("n_states"), round(term, 12).cast(Dec12).as("term"))
      .groupBy(col("t"), col("n_states"))
      .agg((-sum(col("term"))).as("h"))
      .select(col("t").as("n_transitions"), col("n_states"),
        emit(col("h").cast("double"), 6).as("entropy_rate_bits"),
        emit(log(col("n_states").cast("double")) / log(lit(2.0)), 6).as("max_entropy_bits"),
        emit(lit(1.0) - col("h").cast("double")
          / (log(col("n_states").cast("double")) / log(lit(2.0))), 6).as("predictability"))
  }

  val entropyRateSql: String =
    """WITH t0 AS (
      |  SELECT event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events
      |),
      |c AS (
      |  SELECT event_type AS cur_type, next_type, count(*) AS n
      |  FROM t0 WHERE next_type IS NOT NULL GROUP BY 1, 2
      |),
      |rt AS (SELECT cur_type AS tc, CAST(sum(n) AS BIGINT) AS ni FROM c GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t, count(DISTINCT cur_type) AS n_states FROM c),
      |terms AS (
      |  SELECT t, n_states,
      |    sum(CAST(round(
      |      (CAST(n AS DOUBLE) / CAST(t AS DOUBLE))
      |        * (ln(CAST(n AS DOUBLE) / CAST(ni AS DOUBLE)) / ln(2.0)), 12) AS DECIMAL(38,12))) AS sh
      |  FROM c JOIN rt ON c.cur_type = rt.tc CROSS JOIN tot
      |  GROUP BY 1, 2
      |)
      |SELECT t AS n_transitions, n_states,
      |  (CAST(round(CAST(-sh AS DOUBLE), 6) AS DOUBLE) + 0.0) AS entropy_rate_bits,
      |  (CAST(round(ln(CAST(n_states AS DOUBLE)) / ln(2.0), 6) AS DOUBLE) + 0.0) AS max_entropy_bits,
      |  (CAST(round(1.0 - CAST(-sh AS DOUBLE) / (ln(CAST(n_states AS DOUBLE)) / ln(2.0)), 6) AS DOUBLE) + 0.0) AS predictability
      |FROM terms""".stripMargin

  /** #347 cv_fold_manifest — 5-fold cross-validation assignment with
    * the balance audit: folds from the portable seeded-md5 device
    * (deterministic, coordination-free, join-free — any worker
    * recomputes membership from the id alone, the corpus_split rule),
    * and per fold the size share and label (lang='en') share against
    * the corpus-wide rate — the check that a fold didn't inherit a
    * skewed stratum, which silently widens CV variance. One conditional
    * agg over one scan; shares divide exact longs. Exact oracle.
    */
  def cvFoldManifest(s: SparkSession, dir: String): DataFrame = {
    val folds = Tables.documents(s, dir)
      .select(
        (conv(substring(md5(concat(lit("cv:"), col("doc_id").cast("string"))), 1, 6), 16, 10)
          .cast("long") % 5).as("fold"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val tot = folds.agg(count(lit(1)).as("nn"), sum(col("y")).as("ne"))
    folds.groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_en"))
      .crossJoin(broadcast(tot))
      .select(col("fold"), col("n_docs"), col("n_en"),
        emit(col("n_docs").cast("double") / col("nn").cast("double"), 6).as("size_share"),
        emit(col("n_en").cast("double") / col("n_docs").cast("double"), 6).as("en_share"),
        emit(col("n_en").cast("double") / col("n_docs").cast("double")
          - col("ne").cast("double") / col("nn").cast("double"), 6).as("en_share_dev"))
      .orderBy(col("fold"))
  }

  val cvFoldManifestSql: String =
    """WITH f AS (
      |  SELECT (CAST(concat('0x', substr(md5('cv:' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 5) AS fold,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents
      |),
      |tot AS (SELECT count(*) AS nn, CAST(sum(y) AS BIGINT) AS ne FROM f)
      |SELECT fold, count(*) AS n_docs, CAST(sum(y) AS BIGINT) AS n_en,
      |  (CAST(round(CAST(count(*) AS DOUBLE) / CAST(any_value(nn) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS size_share,
      |  (CAST(round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS en_share,
      |  (CAST(round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |    - CAST(any_value(ne) AS DOUBLE) / CAST(any_value(nn) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS en_share_dev
      |FROM f CROSS JOIN tot GROUP BY fold ORDER BY fold""".stripMargin

  /** #348 dedup_threshold_sweep — near-dup threshold sensitivity over
    * the adjacent-pair Jaccard probe (the same pair set
    * minhash_calibration trusts): for each candidate cut {0.1 … 0.7,
    * incl. the 0.35 production cut dedup_clusters ships}, how many
    * probe pairs merge, the merge share, and the surviving doc count
    * under chain merging (consecutive-pair edges ⇒ components = docs −
    * merged edges, exactly) — the table a pipeline owner reads BEFORE
    * moving the dedup knob, instead of discovering a 30% corpus cut
    * after the run. Everything past the (oracle-verified) pair chain
    * is a 6-row axis against bounded pair counts. Exact oracle.
    */
  def dedupThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val pairs = TextOps.ngramJaccard(s, dir).select(col("jaccard"))
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val thrs = s.range(0, 6).select(
      element_at(array(lit(0.1), lit(0.2), lit(0.3), lit(0.35), lit(0.5), lit(0.7)),
        (col("id") + 1).cast("int")).as("threshold"))
    pairs.crossJoin(broadcast(thrs))
      .groupBy(col("threshold"))
      .agg(sum(when(col("jaccard") >= col("threshold"), 1L).otherwise(0L)).as("n_merged"),
        count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(nDocs))
      .select(col("threshold"), col("n_merged"), col("n_pairs"),
        emit(col("n_merged").cast("double") / col("n_pairs").cast("double"), 6)
          .as("merge_share"),
        (col("n_docs") - col("n_merged")).as("survivors_if_merged"))
      .orderBy(col("threshold"))
  }

  val dedupThresholdSweepSql: String =
    s"""WITH pairs AS (${TextOps.ngramJaccardSql.replace("ORDER BY a", "")}),
       |nd AS (SELECT count(*) AS n_docs FROM documents),
       |thrs AS (SELECT unnest([0.1, 0.2, 0.3, 0.35, 0.5, 0.7]) AS threshold),
       |agg AS (
       |  SELECT threshold,
       |    CAST(sum(CASE WHEN jaccard >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_merged,
       |    count(*) AS n_pairs
       |  FROM pairs CROSS JOIN thrs GROUP BY 1
       |)
       |SELECT threshold, n_merged, n_pairs,
       |  (CAST(round(CAST(n_merged AS DOUBLE) / CAST(n_pairs AS DOUBLE), 6) AS DOUBLE) + 0.0) AS merge_share,
       |  n_docs - n_merged AS survivors_if_merged
       |FROM agg CROSS JOIN nd ORDER BY threshold""".stripMargin

  /** #350 embed_outlier_report — per-vector standardized anomaly score
    * (diagonal Mahalanobis: Σ_d ((v_d−μ_d)/σ_d)²) with the top-20
    * outliers: the index-hygiene screen upstream of every ANN family —
    * a corrupt or wrongly-scaled vector poisons IVF centroids and PQ
    * codebooks silently, and embed_dim_stats' per-dim table can't
    * point at WHICH vectors. One posexplode pass against the
    * broadcast 64-row (μ, σ) table (moments via the embed_dim_stats
    * decimal discipline), per-vector terms 12-dp→DECIMAL, top-20 by
    * the ROUNDED score (vec_id tie-break) as TakeOrdered. Zero-σ
    * dims contribute nothing by guard. Exact oracle.
    */
  def embedOutlierReport(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "vf")))
      .select(col("vec_id"), col("pos"), col("vf").cast("double").as("v"))
    val stats = e.groupBy(col("pos"))
      .agg(count(lit(1)).as("n"), dsum(col("v")).as("s1"),
        sum(round(col("v") * col("v"), 12).cast(Dec12)).as("s2"))
      .select(col("pos"),
        (col("s1").cast("double") / col("n").cast("double")).as("mu"),
        (col("s2").cast("double") / col("n").cast("double")
          - (col("s1").cast("double") / col("n").cast("double"))
            * (col("s1").cast("double") / col("n").cast("double"))).as("vr"))
    val term = when(col("vr") > 0,
      round((col("v") - col("mu")) * (col("v") - col("mu")) / col("vr"), 12))
      .otherwise(lit(0.0))
    e.join(broadcast(stats), Seq("pos"))
      .select(col("vec_id"), term.cast(Dec12).as("t"))
      .groupBy(col("vec_id")).agg(sum(col("t")).as("sc"))
      .select(col("vec_id"), emit(col("sc").cast("double"), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(20)
  }

  val embedOutlierReportSql: String =
    """WITH e AS (
      |  SELECT vec_id, pos, CAST(embedding[pos + 1] AS DOUBLE) AS v
      |  FROM embeddings, range(0, 64) t(pos)
      |),
      |stats AS (
      |  SELECT pos,
      |    CAST(sum(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu,
      |    CAST(sum(CAST(round(v * v, 12) AS DECIMAL(38,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |      - (CAST(sum(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE))
      |        * (CAST(sum(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS vr
      |  FROM e GROUP BY 1
      |),
      |terms AS (
      |  SELECT vec_id,
      |    sum(CAST(CASE WHEN vr > 0
      |      THEN round((v - mu) * (v - mu) / vr, 12) ELSE 0.0 END AS DECIMAL(38,12))) AS sc
      |  FROM e JOIN stats ON e.pos = stats.pos GROUP BY 1
      |)
      |SELECT vec_id, (CAST(round(CAST(sc AS DOUBLE), 6) AS DOUBLE) + 0.0) AS score
      |FROM terms ORDER BY score DESC, vec_id LIMIT 20""".stripMargin

  /** #353 cold_start_coverage — the recommender cold-start table: per
    * interaction threshold {1,2,5,10}, the share of users below it
    * and the share of total events those users carry — the two
    * numbers that decide whether a personalized model needs a
    * popularity fallback tier and how much traffic that tier serves.
    * One per-user count, then conditional sums against the broadcast
    * 4-row axis; shares divide exact longs. Exact oracle.
    */
  def coldStartCoverage(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir).groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val thrs = s.range(0, 4).select(
      element_at(array(lit(1L), lit(2L), lit(5L), lit(10L)), (col("id") + 1).cast("int"))
        .as("threshold"))
    perUser.crossJoin(broadcast(thrs))
      .groupBy(col("threshold"))
      .agg(
        sum(when(col("n") < col("threshold"), 1L).otherwise(0L)).as("cold_users"),
        count(lit(1)).as("n_users"),
        sum(when(col("n") < col("threshold"), col("n")).otherwise(0L)).as("cold_events"),
        sum(col("n")).as("n_events"))
      .select(col("threshold"), col("cold_users"), col("n_users"),
        emit(col("cold_users").cast("double") / col("n_users").cast("double"), 6)
          .as("cold_user_share"),
        emit(col("cold_events").cast("double") / col("n_events").cast("double"), 6)
          .as("cold_event_share"))
      .orderBy(col("threshold"))
  }

  val coldStartCoverageSql: String =
    """WITH pu AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
      |thrs AS (SELECT unnest([1, 2, 5, 10]) AS threshold)
      |SELECT threshold,
      |  CAST(sum(CASE WHEN n < threshold THEN 1 ELSE 0 END) AS BIGINT) AS cold_users,
      |  count(*) AS n_users,
      |  (CAST(round(CAST(sum(CASE WHEN n < threshold THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS cold_user_share,
      |  (CAST(round(CAST(sum(CASE WHEN n < threshold THEN n ELSE 0 END) AS DOUBLE)
      |    / CAST(sum(n) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS cold_event_share
      |FROM pu CROSS JOIN thrs GROUP BY threshold ORDER BY threshold""".stripMargin

  /** #355 char_entropy_report — per-source character-level Shannon
    * entropy (bits/char) with the character inventory: the
    * lowest-level text-quality signal — mojibake, base64 blobs, and
    * binary-in-text read HIGH, template/repeated filler reads LOW,
    * and neither is visible to token statistics. The corpus reads
    * once: each document explodes by character POSITION (a lateral
    * range, no regex split ambiguity across engines), one
    * (source, char) count, entropy terms ln-quotient 12-dp rounded
    * into order-free DECIMAL sums over the bounded char-inventory
    * relation. Exact oracle.
    */
  def charEntropyReport(s: SparkSession, dir: String): DataFrame = {
    val chars = Tables.documents(s, dir)
      .select(col("source"), col("text"),
        explode(expr("sequence(1, length(text))")).as("i"))
      .select(col("source"), expr("substring(text, i, 1)").as("ch"))
    val counts = chars.groupBy(col("source"), col("ch")).agg(count(lit(1)).as("n"))
    val tot = counts.groupBy(col("source").as("s2"))
      .agg(sum(col("n")).as("tn"), count(lit(1)).as("n_distinct"))
    val term = (col("n").cast("double") / col("tn").cast("double")) *
      (log(col("n").cast("double") / col("tn").cast("double")) / log(lit(2.0)))
    counts.join(broadcast(tot), col("source") === col("s2"))
      .select(col("source"), col("tn"), col("n_distinct"),
        round(term, 12).cast(Dec12).as("t"))
      .groupBy(col("source"), col("tn"), col("n_distinct"))
      .agg((-sum(col("t"))).as("h"))
      .select(col("source"), col("tn").as("n_chars"), col("n_distinct"),
        emit(col("h").cast("double"), 6).as("entropy_bits_per_char"))
      .orderBy(col("source"))
  }

  val charEntropyReportSql: String =
    """WITH chars AS (
      |  SELECT source, substr(text, CAST(i AS INT), 1) AS ch FROM (
      |    SELECT source, text,
      |      unnest(generate_series(1, CAST(length(text) AS BIGINT))) AS i
      |    FROM documents
      |  )
      |),
      |counts AS (SELECT source, ch, count(*) AS n FROM chars GROUP BY 1, 2),
      |tot AS (
      |  SELECT source AS s2, CAST(sum(n) AS BIGINT) AS tn, count(*) AS n_distinct
      |  FROM counts GROUP BY 1
      |),
      |terms AS (
      |  SELECT source, tn, n_distinct,
      |    sum(CAST(round(
      |      (CAST(n AS DOUBLE) / CAST(tn AS DOUBLE))
      |        * (ln(CAST(n AS DOUBLE) / CAST(tn AS DOUBLE)) / ln(2.0)), 12) AS DECIMAL(38,12))) AS sh
      |  FROM counts JOIN tot ON counts.source = tot.s2
      |  GROUP BY 1, 2, 3
      |)
      |SELECT source, tn AS n_chars, n_distinct,
      |  (CAST(round(CAST(-sh AS DOUBLE), 6) AS DOUBLE) + 0.0) AS entropy_bits_per_char
      |FROM terms ORDER BY source""".stripMargin

  /** #356 bloom_sizing_advisor — Bloom filter design table for the
    * star schema's runtime-filter join edges: per (edge, target FPR ∈
    * {1%, 0.1%}) the optimal bit count m = −n·ln p/(ln 2)², hash
    * count k = (m/n)·ln 2, and MiB — the capacity-planning numbers
    * behind runtime_filtered_join and the erasure cascade's Bloom
    * pruning (an undersized filter silently degrades to a scan-all;
    * an oversized one evicts executor cache). Edge cardinalities are
    * exact distinct counts (one agg per edge, the only data-sized
    * work); the sizing chain is mirrored floats on the bounded 6-row
    * grid. Exact oracle.
    */
  def bloomSizingAdvisor(s: SparkSession, dir: String): DataFrame = {
    def edge(name: String, keys: DataFrame): DataFrame =
      keys.distinct().agg(count(lit(1)).as("n_keys")).select(lit(name).as("edge"), col("n_keys"))
    val edges =
      edge("orders.custkey", Tables.orders(s, dir).select(col("o_custkey")))
        .unionByName(edge("lineitem.orderkey", Tables.lineitem(s, dir).select(col("l_orderkey"))))
        .unionByName(edge("lineitem.partkey", Tables.lineitem(s, dir).select(col("l_partkey"))))
    val fprs = s.range(0, 2).select(
      element_at(array(lit(0.01), lit(0.001)), (col("id") + 1).cast("int")).as("fpr"))
    val m = -col("n_keys").cast("double") * log(col("fpr")) / (log(lit(2.0)) * log(lit(2.0)))
    edges.crossJoin(broadcast(fprs))
      .select(col("edge"), col("n_keys"), col("fpr"),
        emit(m, 2).as("m_bits"),
        emit(m / col("n_keys").cast("double") * log(lit(2.0)), 2).as("k_hashes"),
        emit(m / lit(8.0) / lit(1048576.0), 4).as("mib"))
      .orderBy(col("edge"), col("fpr"))
  }

  val bloomSizingAdvisorSql: String =
    """WITH edges AS (
      |  SELECT 'orders.custkey' AS edge, count(DISTINCT o_custkey) AS n_keys FROM orders
      |  UNION ALL
      |  SELECT 'lineitem.orderkey', count(DISTINCT l_orderkey) FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem.partkey', count(DISTINCT l_partkey) FROM lineitem
      |),
      |fprs AS (SELECT unnest([0.01, 0.001]) AS fpr)
      |SELECT edge, n_keys, fpr,
      |  (CAST(round(-CAST(n_keys AS DOUBLE) * ln(fpr) / (ln(2.0) * ln(2.0)), 2) AS DOUBLE) + 0.0) AS m_bits,
      |  (CAST(round((-CAST(n_keys AS DOUBLE) * ln(fpr) / (ln(2.0) * ln(2.0)))
      |    / CAST(n_keys AS DOUBLE) * ln(2.0), 2) AS DOUBLE) + 0.0) AS k_hashes,
      |  (CAST(round((-CAST(n_keys AS DOUBLE) * ln(fpr) / (ln(2.0) * ln(2.0))) / 8.0 / 1048576.0, 4) AS DOUBLE) + 0.0) AS mib
      |FROM edges CROSS JOIN fprs ORDER BY edge, fpr""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("user_erasure_audit", userErasureAudit, userErasureAuditSql),
    exact("dp_noisy_counts", dpNoisyCounts, dpNoisyCountsSql),
    exact("wilson_ci_report", wilsonCiReport, wilsonCiReportSql),
    exact("kneser_ney_bigram", kneserNeyBigram, kneserNeyBigramSql),
    exact("classifier_calibration", classifierCalibration, classifierCalibrationSql),
    exact("record_linkage", recordLinkage, recordLinkageSql),
    exact("burrows_delta", burrowsDelta, burrowsDeltaSql),
    rowsOnly("mmr_rerank", mmrRerank),
    exact("watermark_advisor", watermarkAdvisor, watermarkAdvisorSql),
    exact("bot_detection_report", botDetectionReport, botDetectionReportSql),
    exact("embed_drift_report", embedDriftReport, embedDriftReportSql),
    exact("l_diversity_report", lDiversityReport, lDiversityReportSql),
    exact("embed_jl_projection", embedJlProjection, embedJlProjectionSql),
    exact("markov_attribution", markovAttribution, markovAttributionSql),
    exact("benford_audit", benfordAudit, benfordAuditSql),
    exact("corpus_budget_select", corpusBudgetSelect, corpusBudgetSelectSql),
    exact("t_closeness_report", tClosenessReport, tClosenessReportSql),
    exact("rank_rbo_report", rankRboReport, rankRboReportSql),
    exact("classifier_auc", classifierAuc, classifierAucSql),
    exact("token_label_mi", tokenLabelMi, tokenLabelMiSql),
    exact("spearman_len_score", spearmanLenScore, spearmanLenScoreSql),
    exact("gain_capture_curve", gainCaptureCurve, gainCaptureCurveSql),
    exact("cramers_v_matrix", cramersVMatrix, cramersVMatrixSql),
    exact("gini_report", giniReport, giniReportSql),
    exact("isotonic_calibration", isotonicCalibration, isotonicCalibrationSql),
    exact("neyman_allocation", neymanAllocation, neymanAllocationSql),
    exact("concentration_report", concentrationReport, concentrationReportSql),
    exact("ndcg_report", ndcgReport, ndcgReportSql),
    exact("brier_decomposition", brierDecomposition, brierDecompositionSql),
    exact("hill_tail_index", hillTailIndex, hillTailIndexSql),
    exact("heaps_law_fit", heapsLawFit, heapsLawFitSql),
    exact("kappa_agreement", kappaAgreement, kappaAgreementSql),
    exact("entropy_rate", entropyRate, entropyRateSql),
    exact("cv_fold_manifest", cvFoldManifest, cvFoldManifestSql),
    exact("dedup_threshold_sweep", dedupThresholdSweep, dedupThresholdSweepSql),
    exact("embed_outlier_report", embedOutlierReport, embedOutlierReportSql),
    exact("cold_start_coverage", coldStartCoverage, coldStartCoverageSql),
    exact("char_entropy_report", charEntropyReport, charEntropyReportSql),
    exact("bloom_sizing_advisor", bloomSizingAdvisor, bloomSizingAdvisorSql))
}
