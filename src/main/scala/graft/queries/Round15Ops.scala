package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.exact

/** Round-15 operators (repo round 8, continued) — the inference
  * axes the statistics sweep still lacked: the pairwise two-sample
  * drill-down (Welch's unequal-variance t with Cohen's d — the
  * post-hoc step every significant ANOVA demands; anova_length #317
  * answers "do the groups differ", this answers WHICH pairs and by
  * how much), the classical least-squares fit (slope/intercept/R²
  * with the slope t-statistic — the parametric complement to the
  * robust theil_sen_trend #318), and quantile-quantile drift (the
  * decile-by-decile distribution comparison that a mean test or even
  * KS statistic summarizes away — where in the distribution two
  * segments actually diverge).
  *
  * House rules: all moments are exact (integer counts / DECIMAL(38,x)
  * sums) so both engines derive identical doubles; the double chains
  * after the moments mirror the oracle's operation order token for
  * token; emits go through OracleMath.emit (round → double → +0.0);
  * outputs are group-bounded; every sort ends in a unique key.
  */
object Round15Ops {
  import OracleMath._

  /** #382 welch_t_test — Welch's unequal-variance two-sample t-test
    * with Cohen's d over every language pair's document length
    * (documents.n_chars): t = (m_a−m_b)/√(v_a/n_a + v_b/n_b), the
    * Welch–Satterthwaite df, and the pooled-sd effect size. This is
    * the post-hoc drill-down behind anova_length (#317): the F-test
    * says the five languages differ; this table says which PAIRS
    * differ, in which direction, and whether the difference is large
    * (|d|) as well as reliable (|t|). Scale: one O(rows) grouped
    * moment pass (n, Σx, Σx² as exact integers in DECIMAL(38,0) —
    * map-side combined, shuffle is |langs| rows); the pair join runs
    * on the 5-row aggregate, broadcast both sides. Every downstream
    * double (means, variances, t, df, d) derives from the same exact
    * moments through the same IEEE op order in both engines → exact
    * oracle. The 1.96 cut is the large-df normal point — honest at
    * n≈hundreds per group; other α readers use t_stat directly.
    */
  def welchTTest(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec0(col("n_chars"))).as("s1"),
        sum(dec0(col("n_chars")) * dec0(col("n_chars"))).as("s2"))
    def side(t: String) = g.select(
      col("lang").as(s"lang_$t"), col("n").as(s"n_$t"),
      col("s1").as(s"s1_$t"), col("s2").as(s"s2_$t"))
    def mean(t: String) = col(s"s1_$t").cast("double") / col(s"n_$t").cast("double")
    def variance(t: String) =
      (col(s"s2_$t").cast("double") - col(s"s1_$t").cast("double") * mean(t)) /
        (col(s"n_$t") - 1).cast("double")
    def seTerm(t: String) = variance(t) / col(s"n_$t").cast("double")
    val se2 = seTerm("a") + seTerm("b")
    val t = (mean("a") - mean("b")) / sqrt(se2)
    val dfW = se2 * se2 /
      (seTerm("a") * seTerm("a") / (col("n_a") - 1).cast("double") +
        seTerm("b") * seTerm("b") / (col("n_b") - 1).cast("double"))
    val sp2 = ((col("n_a") - 1).cast("double") * variance("a") +
      (col("n_b") - 1).cast("double") * variance("b")) /
      (col("n_a") + col("n_b") - 2).cast("double")
    val d = (mean("a") - mean("b")) / sqrt(sp2)
    broadcast(side("a"))
      .join(broadcast(side("b")), col("lang_a") < col("lang_b"))
      .select(
        col("lang_a"), col("lang_b"), col("n_a"), col("n_b"),
        emit(mean("a"), 4).as("mean_a"),
        emit(mean("b"), 4).as("mean_b"),
        emit(t, 4).as("t_stat"),
        emit(dfW, 2).as("df_welch"),
        emit(d, 4).as("cohens_d"))
      .withColumn("significant", abs(col("t_stat")) > lit(1.96))
      .orderBy(col("lang_a"), col("lang_b"))
  }

  val welchTTestSql: String =
    """WITH g AS (
      |  SELECT lang, count(*) AS n,
      |    sum(CAST(n_chars AS DECIMAL(38,0))) AS s1,
      |    sum(CAST(n_chars AS DECIMAL(38,0)) * CAST(n_chars AS DECIMAL(38,0))) AS s2
      |  FROM documents GROUP BY 1
      |), p AS (
      |  SELECT a.lang AS lang_a, b.lang AS lang_b,
      |    a.n AS n_a, b.n AS n_b,
      |    CAST(a.s1 AS DOUBLE) / CAST(a.n AS DOUBLE) AS ma,
      |    CAST(b.s1 AS DOUBLE) / CAST(b.n AS DOUBLE) AS mb,
      |    (CAST(a.s2 AS DOUBLE) - CAST(a.s1 AS DOUBLE) * (CAST(a.s1 AS DOUBLE) / CAST(a.n AS DOUBLE)))
      |      / CAST(a.n - 1 AS DOUBLE) AS va,
      |    (CAST(b.s2 AS DOUBLE) - CAST(b.s1 AS DOUBLE) * (CAST(b.s1 AS DOUBLE) / CAST(b.n AS DOUBLE)))
      |      / CAST(b.n - 1 AS DOUBLE) AS vb
      |  FROM g a JOIN g b ON a.lang < b.lang
      |), w AS (
      |  SELECT lang_a, lang_b, n_a, n_b, ma, mb, va, vb,
      |    va / CAST(n_a AS DOUBLE) AS sea,
      |    vb / CAST(n_b AS DOUBLE) AS seb
      |  FROM p
      |)
      |SELECT lang_a, lang_b, n_a, n_b,
      |  (CAST(round(ma, 4) AS DOUBLE) + 0.0) AS mean_a,
      |  (CAST(round(mb, 4) AS DOUBLE) + 0.0) AS mean_b,
      |  (CAST(round((ma - mb) / sqrt(sea + seb), 4) AS DOUBLE) + 0.0) AS t_stat,
      |  (CAST(round((sea + seb) * (sea + seb)
      |    / (sea * sea / CAST(n_a - 1 AS DOUBLE) + seb * seb / CAST(n_b - 1 AS DOUBLE)), 2) AS DOUBLE) + 0.0) AS df_welch,
      |  (CAST(round((ma - mb) / sqrt((CAST(n_a - 1 AS DOUBLE) * va + CAST(n_b - 1 AS DOUBLE) * vb)
      |    / CAST(n_a + n_b - 2 AS DOUBLE)), 4) AS DOUBLE) + 0.0) AS cohens_d,
      |  abs((CAST(round((ma - mb) / sqrt(sea + seb), 4) AS DOUBLE) + 0.0)) > 1.96 AS significant
      |FROM w
      |ORDER BY lang_a, lang_b""".stripMargin

  /** #383 ols_regression — the classical simple least-squares fit of
    * line revenue on quantity per return flag: slope, intercept, R²,
    * residual standard error, and the slope t-statistic, all in
    * CLOSED FORM from six order-independent moments (n and the
    * DECIMAL(38,6) sums Σx, Σy, Σxy, Σx², Σy² — the q1_agg dsum
    * pattern, so per-row double products are deterministic and the
    * cross-row sums are decimal-exact). theil_sen_trend (#318) is the
    * robust median-of-slopes answer; this is the textbook parametric
    * fit with its full diagnostic row — the pair a regression
    * migration needs side by side. Scale: ONE map-side-combined pass
    * over lineitem, |flags| output rows, zero joins; at 100 TB this
    * is the cheapest possible shape (a scan plus a 3-row aggregate).
    * Exact oracle: identical moment → identical IEEE double chain.
    */
  def olsRegression(s: SparkSession, dir: String): DataFrame = {
    val q = col("l_quantity")
    val p = col("l_extendedprice")
    // fan the single-row-group lineitem scan (r10): the decimal moment
    // pass otherwise fuses with the scan into one task (see
    // conformal_interval, same shape; identity at production splits)
    val g = graft.GraftSession.fan(Tables.lineitem(s, dir), col("l_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        dsum(q).as("sx"), dsum(p).as("sy"),
        dsum(q * p).as("sxy"), dsum(q * q).as("sxx"), dsum(p * p).as("syy"))
    val nn = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val mx = d("sx") / nn
    val my = d("sy") / nn
    val sxxC = d("sxx") - d("sx") * mx
    val sxyC = d("sxy") - d("sx") * my
    val syyC = d("syy") - d("sy") * my
    val slope = sxyC / sxxC
    val intercept = my - slope * mx
    val r2 = slope * sxyC / syyC
    val residSe = sqrt((syyC - slope * sxyC) / (nn - lit(2.0)))
    val tSlope = slope / (residSe / sqrt(sxxC))
    g.select(
      col("l_returnflag"), col("n"),
      emit(slope, 6).as("slope"),
      emit(intercept, 4).as("intercept"),
      emit(r2, 6).as("r2"),
      emit(residSe, 4).as("resid_se"),
      emit(tSlope, 4).as("t_slope"))
      .orderBy(col("l_returnflag"))
  }

  val olsRegressionSql: String =
    """WITH g AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    sum(CAST(l_quantity AS DECIMAL(38,6))) AS sx,
      |    sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS sy,
      |    sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS sxy,
      |    sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS sxx,
      |    sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS syy
      |  FROM lineitem GROUP BY 1
      |), m AS (
      |  SELECT l_returnflag, n,
      |    CAST(n AS DOUBLE) AS nn,
      |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
      |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my,
      |    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS sxx_c,
      |    CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS sxy_c,
      |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS syy_c
      |  FROM g
      |), f AS (
      |  SELECT l_returnflag, n, nn, mx, my, sxx_c, sxy_c, syy_c,
      |    sxy_c / sxx_c AS slope
      |  FROM m
      |)
      |SELECT l_returnflag, n,
      |  (CAST(round(slope, 6) AS DOUBLE) + 0.0) AS slope,
      |  (CAST(round(my - slope * mx, 4) AS DOUBLE) + 0.0) AS intercept,
      |  (CAST(round(slope * sxy_c / syy_c, 6) AS DOUBLE) + 0.0) AS r2,
      |  (CAST(round(sqrt((syy_c - slope * sxy_c) / (nn - 2.0)), 4) AS DOUBLE) + 0.0) AS resid_se,
      |  (CAST(round(slope / (sqrt((syy_c - slope * sxy_c) / (nn - 2.0)) / sqrt(sxx_c)), 4) AS DOUBLE) + 0.0) AS t_slope
      |FROM f
      |ORDER BY l_returnflag""".stripMargin

  /** #384 qq_drift_table — the quantile-quantile comparison of order
    * value between weekday and weekend orders at the nine deciles:
    * WHERE in the distribution the two segments diverge, which a mean
    * test (welch) or a single-number distance (ks_drift_test #314,
    * emd_drift) cannot localize — a weekend premium confined to the
    * top decile and a uniform shift produce the same KS. Both engines
    * compute the same linear-interpolation quantile (Spark
    * `percentile` ↔ DuckDB `quantile_cont`, the proven percentiles
    * #27 bridge) over segments defined identically (ISO weekday ≥
    * Saturday). Scale: one grouped percentile pass (two groups); the
    * decile pivot and the 9-row join are constant-size. The gap and
    * ratio derive from the UNROUNDED quantiles in both engines, then
    * emit-rounded.
    */
  def qqDriftTable(s: SparkSession, dir: String): DataFrame = {
    val seg = when(weekday(col("o_orderdate")) >= 5, lit("weekend"))
      .otherwise(lit("weekday"))
    val qs = Tables.orders(s, dir)
      .groupBy(seg.as("seg"))
      .agg(expr(
        "percentile(o_totalprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))").as("qs"))
      .select(col("seg"), posexplode(col("qs")).as(Seq("i", "qv")))
      .select(col("seg"), (col("i") + 1).cast("int").as("i"), col("qv"))
    def sided(t: String) = qs.filter(col("seg") === t)
      .select(col("i"), col("qv").as(s"q_$t"))
    sided("weekday")
      .join(sided("weekend"), Seq("i"))
      .select(
        emit(col("i").cast("double") / lit(10.0), 1).as("decile"),
        emit(col("q_weekday"), 4).as("q_weekday"),
        emit(col("q_weekend"), 4).as("q_weekend"),
        emit(col("q_weekend") - col("q_weekday"), 4).as("gap"),
        emit(col("q_weekend") / col("q_weekday"), 6).as("ratio"))
      .orderBy(col("decile"))
  }

  val qqDriftTableSql: String =
    """WITH q AS (
      |  SELECT CASE WHEN isodow(o_orderdate) >= 6 THEN 'weekend' ELSE 'weekday' END AS seg,
      |    quantile_cont(o_totalprice, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
      |  FROM orders GROUP BY 1
      |), e AS (
      |  SELECT seg, i, qs[i] AS qv
      |  FROM q, LATERAL (SELECT unnest(generate_series(1, 9)) AS i)
      |)
      |SELECT
      |  (CAST(round(CAST(a.i AS DOUBLE) / 10.0, 1) AS DOUBLE) + 0.0) AS decile,
      |  (CAST(round(a.qv, 4) AS DOUBLE) + 0.0) AS q_weekday,
      |  (CAST(round(b.qv, 4) AS DOUBLE) + 0.0) AS q_weekend,
      |  (CAST(round(b.qv - a.qv, 4) AS DOUBLE) + 0.0) AS gap,
      |  (CAST(round(b.qv / a.qv, 6) AS DOUBLE) + 0.0) AS ratio
      |FROM e a JOIN e b ON a.i = b.i AND a.seg = 'weekday' AND b.seg = 'weekend'
      |ORDER BY decile""".stripMargin

  /** #385 retrieval_mrr_report — the IR-standard retrieval metrics
    * for the int8-quantized kNN against the exact float top-10:
    * reciprocal rank of the exact top-1 inside the quantized list
    * (the "did quantization keep THE answer near the front" number)
    * and precision@{1,5,10}. rank_rbo_report (#325) is the
    * top-weighted continuous agreement; these are the thresholded
    * metrics an eval harness logs per run — together they span the
    * standard retrieval QA axes over the SAME two oracle-verified
    * ranking chains. Scale: both rankings are the catalog's existing
    * kNN frames (lineage-cut — each feeds two consumers here);
    * everything downstream is k·|queries|-bounded and broadcast-
    * sized. Exact oracle: ranks are ints, rr/precision are single
    * divisions of exact ints through one IEEE chain.
    */
  def retrievalMrrReport(s: SparkSession, dir: String): DataFrame = {
    val a = graft.Lineage.cut(
      TextOps.embedKnn(s, dir).select(col("query_id"), col("vec_id"), col("rn").as("rna")))
    val b = graft.Lineage.cut(
      TextOps.embedQuantizedKnn(s, dir).select(col("query_id"), col("vec_id"), col("rn").as("rnb")))
    val matches = a.join(b, Seq("query_id", "vec_id"))
      .select(col("query_id"), greatest(col("rna"), col("rnb")).as("din"))
    val rr = a.filter(col("rna") === 1)
      .join(b, Seq("query_id", "vec_id"), "left")
      .select(col("query_id"),
        coalesce(lit(1.0) / col("rnb").cast("double"), lit(0.0)).as("rr0"))
    val pk = a.select(col("query_id")).distinct()
      .join(matches, Seq("query_id"), "left")
      .groupBy(col("query_id"))
      .agg(
        sum(when(col("din") <= 1, 1L).otherwise(0L)).as("ov1"),
        sum(when(col("din") <= 5, 1L).otherwise(0L)).as("ov5"),
        sum(when(col("din") <= 10, 1L).otherwise(0L)).as("ov10"))
    rr.join(pk, Seq("query_id"))
      .select(
        col("query_id"),
        emit(col("rr0"), 6).as("reciprocal_rank"),
        emit(col("ov1").cast("double") / lit(1.0), 6).as("p_at_1"),
        emit(col("ov5").cast("double") / lit(5.0), 6).as("p_at_5"),
        emit(col("ov10").cast("double") / lit(10.0), 6).as("p_at_10"))
      .orderBy(col("query_id"))
  }

  val retrievalMrrReportSql: String =
    s"""WITH a0 AS (${TextOps.embedKnnSql}),
       |b0 AS (${TextOps.embedQuantizedKnnSql}),
       |bq AS (SELECT query_id, vec_id, rn AS rnb FROM b0),
       |m AS (
       |  SELECT a0.query_id, greatest(a0.rn, bq.rnb) AS din
       |  FROM a0 JOIN bq ON a0.query_id = bq.query_id AND a0.vec_id = bq.vec_id
       |),
       |rr AS (
       |  SELECT a0.query_id, coalesce(1.0 / CAST(bq.rnb AS DOUBLE), 0.0) AS rr0
       |  FROM a0 LEFT JOIN bq ON a0.query_id = bq.query_id AND a0.vec_id = bq.vec_id
       |  WHERE a0.rn = 1
       |),
       |qs AS (SELECT DISTINCT query_id FROM a0),
       |pk AS (
       |  SELECT qs.query_id,
       |    CAST(sum(CASE WHEN m.din <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS ov1,
       |    CAST(sum(CASE WHEN m.din <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS ov5,
       |    CAST(sum(CASE WHEN m.din <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS ov10
       |  FROM qs LEFT JOIN m ON m.query_id = qs.query_id
       |  GROUP BY 1
       |)
       |SELECT rr.query_id,
       |  (CAST(round(rr0, 6) AS DOUBLE) + 0.0) AS reciprocal_rank,
       |  (CAST(round(CAST(ov1 AS DOUBLE) / 1.0, 6) AS DOUBLE) + 0.0) AS p_at_1,
       |  (CAST(round(CAST(ov5 AS DOUBLE) / 5.0, 6) AS DOUBLE) + 0.0) AS p_at_5,
       |  (CAST(round(CAST(ov10 AS DOUBLE) / 10.0, 6) AS DOUBLE) + 0.0) AS p_at_10
       |FROM rr JOIN pk ON rr.query_id = pk.query_id
       |ORDER BY rr.query_id""".stripMargin

  /** #386 tfidf_cosine_join — EXACT weighted cosine similarity join
    * in tf-idf space (all pairs ≥ τ=0.9, the standard near-dup
    * threshold — measured on this corpus, τ=0.75 admits 69% of ALL
    * doc pairs (12.4M at sf0.1): a dense output is the answer's own
    * size, no candidate filter can help it, and near-dup policy
    * reads the 0.9 band anyway): the WEIGHTED sibling of
    * set_similarity_join (#243) — same "find every similar pair"
    * contract, but tokens count by information, not presence, so a
    * pair sharing rare vocabulary scores above one sharing the same
    * number of stopwords (the retrieval-grade near-dup measure; the
    * set form cannot tell those apart). Candidate generation is the
    * L2 prefix filter (Bayardo et al. WWW'07 §3 adapted to unit
    * vectors): per doc, tokens sort weight-descending and only the
    * prefix whose RESIDUAL norm² still reaches τ² is indexed — by
    * Cauchy–Schwarz, a pair whose shared tokens all sit past the
    * prefix has cosine ≤ √residual < τ, so probing FULL token lists
    * against indexed PREFIXES finds every qualifying pair (slack 1e-6
    * dwarfs float error in the filter sums; the filter only gates
    * candidates — emitted values never touch it). Stopwords carry
    * ~zero idf weight, sort last, and are almost never indexed — the
    * very tokens that blow up a naive shared-token join are the ones
    * the weighted prefix excludes. Verification is relational and
    * order-free: per-token products round to 12 dp into DECIMAL(38,12)
    * sums (the likes-weighting device), so both engines add the same
    * exact decimals in any order; the τ cut applies to the 6-dp
    * emitted cosine. Norms are likewise order-free (Dec12 sum of
    * rounded w²). Scale: token tf, df, norms, prefixes are all
    * one-pass co-keyed aggregates; the only super-linear object is
    * the qualifying-pair output itself — same stance as #243, with
    * the capped/LSH/ANN entries as the documented production path.
    * Exact oracle (all-pairs token join, same rounding chain).
    */
  def tfidfCosineJoin(s: SparkSession, dir: String): DataFrame = {
    val tau2 = 0.9 * 0.9
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfr = toks.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // INT-TOKEN DICTIONARY (r11, guide §1.2 + §2.3; r10 verdict item 1;
    // same device as set_similarity_join — see Round9Ops for the full
    // injectivity/determinism argument): tid = in-bucket rank · P +
    // bucket is a bijection over the vocabulary, so the candidate join
    // keyed on tid finds exactly the token-equal pairs, the verify
    // merge matches exactly the shared tokens, and the per-match
    // products — hence the order-free decimal dot — are bit-identical.
    // The window ordering below stays (u DESC, token), so the indexed
    // prefixes are byte-identical to the string form's.
    val dictParts = s.conf.get("spark.sql.shuffle.partitions").toInt
    val wDict = Window.partitionBy(col("bkt")).orderBy(col("token"))
    val dfrId = dfr
      .withColumn("bkt", pmod(xxhash64(col("token")), lit(dictParts.toLong)))
      .withColumn("tid",
        row_number().over(wDict).cast("long") * dictParts + col("bkt"))
      .select(col("token"), col("df"), col("tid"))
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("nd"))
    val weighted = toks
      .join(dfrId, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"), col("tid"),
        (col("tf").cast("double") *
          log(col("nd").cast("double") / col("df").cast("double"))).as("w"))
    val norms = weighted
      .groupBy(col("doc_id"))
      .agg(sqrt(sum(round(col("w") * col("w"), 12).cast(Dec12)).cast("double")).as("nrm"))
      .filter(col("nrm") > 0)
    // unit weights feed the prefix explode, both probe sides and the
    // per-doc verify arrays: cut once, shuffle once
    val u = graft.Lineage.cut(weighted
      .join(norms, Seq("doc_id"))
      .select(col("doc_id"), col("token"), col("tid"), (col("w") / col("nrm")).as("u")))
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("u").desc, col("token"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // the indexed prefix carries each token's weight and the doc's
    // residual L2 mass AFTER it — the L2AP remscore inputs (Anastasiu &
    // Karypis ICDE'14 §IV bound, the weighted twin of PPJoin's
    // positional filter)
    val prefix = u
      .withColumn("res_before", lit(1.0) - coalesce(sum(col("u") * col("u")).over(wDoc), lit(0.0)))
      .filter(col("res_before") >= lit(tau2 - 1e-6))
      .select(col("tid"), col("doc_id").as("q"), col("u").as("uq"),
        sqrt(greatest(col("res_before") - col("u") * col("u"), lit(0.0))).as("rq"))
    // positional prune, lossless by the first-shared-token argument: a
    // qualifying pair's FIRST shared token t in q's weight-descending
    // order has every other shared token past t on q's side, so
    // dot ≤ u_p(t)·u_q(t) + ‖q after t‖·‖p without t‖ (Cauchy–Schwarz
    // over the shared set minus t). Rows failing that bound can be
    // dropped BEFORE the pair dedup without losing any qualifying
    // pair (the pair keeps its first-shared-token row); 1e-4 slack
    // dwarfs the double error in one product and two square roots.
    // On this corpus the bound cuts the candidate stream ~12M → ~1M.
    // NOTE a p<q one-direction variant is provably complete too (a
    // qualifying pair hits BOTH prefixes, so the canonical direction
    // always exists) and halves the pre-dedup stream — but it MEASURED
    // 5x slower end-to-end at sf0.1 (132 s vs 26.5 s isolated,
    // hashes identical); keep the symmetric least/greatest form that
    // the numbers favor.
    // REPARTITION THE PROBE SIDE (r10, measured): the u side broadcasts
    // by token, so the probe (prefix) side keeps the window's doc_id
    // exchange partitioning, which AQE coalesces to ~2 partitions at
    // its ~3 MB size — and the candidate explosion (→ 14.7M rows at
    // sf0.1) plus the map-side pair dedup then run on 2 cores for ~12 s
    // while 30 idle. AQE cannot see output growth through a join (guide
    // §2.5); spreading the narrow prefix rows across the configured
    // shuffle parallelism costs one ~3 MB exchange and unlocks the full
    // core count on the exploding stage.
    val probeParts = s.conf.get("spark.sql.shuffle.partitions").toInt
    val cand = u.select(col("tid"), col("doc_id").as("p"), col("u").as("up"))
      .join(prefix.repartition(probeParts, col("tid")), Seq("tid"))
      .filter(col("p") =!= col("q"))
      .filter(col("up") * col("uq") +
        col("rq") * sqrt(greatest(lit(1.0) - col("up") * col("up"), lit(0.0))) >=
        lit(0.9 - 1e-4))
      .select(least(col("p"), col("q")).as("a"), greatest(col("p"), col("q")).as("b"))
      .dropDuplicates("a", "b")
    // verify with an IN-ROW merge instead of a pair×token re-join: at
    // near-dup density the candidate set × token-list join materializes
    // O(pairs·|doc|) rows (~300M at sf0.1 — measured 125 s); packing
    // each doc's token-sorted (token, u) array once keeps the pair
    // table at one row per pair (graft.Attach: broadcast at bench SFs,
    // co-partitioned beyond Attach.BroadcastMaxRows).
    // The dot itself is the native SortedTokenDot two-pointer
    // merge (compiled, O(|a|+|b|) per pair, DECIMAL(30,12)-exact, so
    // the emitted value matches the oracle's any-order decimal sum):
    // the HOF forms evaluate interpreted — the element_at fold cost
    // O(|a|·|b|) linear map scans (109 s at sf0.1's 12M candidates),
    // map_zip_with still 58 s; the native merge is ~1 s of work.
    // r11: the per-doc vector packs as two PRIMITIVE arrays (id-sorted
    // tids + aligned weights) instead of array<struct<token,u>> — the
    // native merge then reads raw longs/doubles with zero per-element
    // allocation (the struct form paid an UnsafeRow fetch per advance)
    // and compares 8-byte ids instead of token bytes. Same matched
    // pairs (bijection), same roundedUnscaled12 terms, same order-free
    // decimal sum — bit-identical cosine (spec-pinned vs the string
    // merge).
    val docArr = graft.Lineage.cut(u.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("tid"), col("u")))).as("p"))
      .select(col("doc_id"),
        transform(col("p"), x => x.getField("tid")).as("tids"),
        transform(col("p"), x => x.getField("u")).as("us")))
    val verified = graft.Attach.arrays(cand, docArr, "doc_id", Seq("tids", "us"))
      .select(col("a"), col("b"),
        graft.functions.Registry.sortedIdDot(
          col("tids_a"), col("us_a"), col("tids_b"), col("us_b")).as("dot"))
      .select(col("a"), col("b"), emit(col("dot").cast("double"), 6).as("cosine"))
      .filter(col("cosine") >= 0.9)
    // cut BEFORE the global sort (r10, measured): the orderBy's range
    // exchange samples its child in a separate job, so without the cut
    // the post-dedup verify segment (attach joins + native dot over
    // ~12M candidates — two ~20 s 32-task stages in the profile, ~670 s
    // of CPU each) executes TWICE. Pinning the qualifying pairs makes
    // the sampling pass read pinned blocks instead (guide §3.3).
    graft.Lineage.cut(verified).orderBy(col("a"), col("b"))
  }

  val tfidfCosineJoinSql: String =
    """WITH toks AS (
      |  SELECT doc_id, tok AS token, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok <> ''
      |  GROUP BY 1, 2
      |), dfr AS (SELECT token, count(*) AS df FROM toks GROUP BY 1),
      |nd AS (SELECT count(*) AS nd FROM documents),
      |weighted AS (
      |  SELECT doc_id, toks.token,
      |    CAST(tf AS DOUBLE) * ln(CAST(nd AS DOUBLE) / CAST(df AS DOUBLE)) AS w
      |  FROM toks JOIN dfr ON toks.token = dfr.token CROSS JOIN nd
      |), norms AS (
      |  SELECT doc_id,
      |    sqrt(CAST(sum(CAST(round(w * w, 12) AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
      |  FROM weighted GROUP BY 1 HAVING nrm > 0
      |), u AS (
      |  SELECT weighted.doc_id, token, w / nrm AS u
      |  FROM weighted JOIN norms ON weighted.doc_id = norms.doc_id
      |), dots AS (
      |  SELECT ua.doc_id AS a, ub.doc_id AS b,
      |    sum(CAST(round(ua.u * ub.u, 12) AS DECIMAL(38,12))) AS dot
      |  FROM u ua JOIN u ub ON ua.token = ub.token AND ua.doc_id < ub.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT a, b, (CAST(round(CAST(dot AS DOUBLE), 6) AS DOUBLE) + 0.0) AS cosine
      |FROM dots
      |WHERE (CAST(round(CAST(dot AS DOUBLE), 6) AS DOUBLE) + 0.0) >= 0.9
      |ORDER BY a, b""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("welch_t_test", welchTTest, welchTTestSql),
    exact("ols_regression", olsRegression, olsRegressionSql),
    exact("qq_drift_table", qqDriftTable, qqDriftTableSql),
    exact("retrieval_mrr_report", retrievalMrrReport, retrievalMrrReportSql),
    exact("tfidf_cosine_join", tfidfCosineJoin, tfidfCosineJoinSql))
}
