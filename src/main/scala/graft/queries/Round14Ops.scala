package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.exact

/** Round-14 operators (repo round 8) — three axes the catalog did not
  * yet cover: collocation mining (PMI over adjacent word pairs — the
  * phrase-discovery primitive under every "merge multiword entities
  * before training" preprocessing recipe), spectral direction (the
  * leading principal component of the embedding covariance via
  * bounded power iteration), and the sequence-budget menu (the
  * packing-strategy envelope per max_len candidate).
  * House rules as ever: cross-row totals stay exact (integer counts,
  * DECIMAL(38,0) cross-products), per-row float chains mirror the
  * oracle's operation order, rankings sort on ROUNDED measures with
  * unique tie-breaks, bounded outputs. The Granger screen lives in
  * [[MonitorOps]].
  */
object Round14Ops {
  import OracleMath._

  /** #377 bigram_pmi — pointwise mutual information over adjacent
    * word pairs: PMI(a,b) = ln(N·c(ab) / (c(a·)·c(·b))) with position
    * marginals (c(a·) = count as FIRST element, c(·b) = as second), a
    * count floor of 5 (PMI is degenerate on rare pairs — the standard
    * Church–Hanks guard), top-50 by rounded PMI. word_bigrams (#265)
    * reports conditional next-word probability INSIDE a head; PMI is
    * the corpus-level collocation strength that finds multiword
    * phrases regardless of head frequency. Scale: one zip_with
    * adjacency explode (join-free, each row's own array), two bounded
    * vocabulary aggregates, marginal joins keyed on words; the only
    * data-sized shuffle is the (w1,w2) count. The global top-50 sorts
    * the count-floored pair VOCABULARY (bounded), not the corpus.
    * Exact oracle: PMI doubles derive from exact longs identically in
    * both engines; ranking on the 6-dp round with (w1,w2) tie-break.
    */
  def bigramPmi(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(s, dir)
      .select(split(col("text"), " ").as("w"))
      .select(explode(expr(
        "filter(zip_with(w, slice(w, 2, size(w)), (a, b) -> struct(a AS w1, b AS w2)), p -> p.w2 IS NOT NULL)"))
        .as("g"))
      .select(col("g.w1").as("w1"), col("g.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
    // counts feeds FOUR consumers (floor-filtered pairs, both position
    // marginals, the total): cut it so the corpus tokenization and the
    // (w1,w2) shuffle run once — it is pair-vocabulary sized, the same
    // materialization class as the BM25 postings
    val counts = graft.Lineage.cut(
      grams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c")))
    val n = counts.agg(sum(col("c")).cast("long").as("n"))
    val firsts = counts.groupBy(col("w1")).agg(sum(col("c")).cast("long").as("c1"))
    val seconds = counts.groupBy(col("w2")).agg(sum(col("c")).cast("long").as("c2"))
    counts
      .filter(col("c") >= 5)
      .join(firsts, Seq("w1"))
      .join(seconds, Seq("w2"))
      .crossJoin(broadcast(n))
      .select(
        col("w1"), col("w2"), col("c"), col("c1"), col("c2"),
        emit(log(col("n").cast("double") * col("c").cast("double")
          / (col("c1").cast("double") * col("c2").cast("double"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(50)
  }

  val bigramPmiSql: String =
    """WITH toks AS (
      |  SELECT string_split(text, ' ') AS w FROM documents
      |), grams AS (
      |  SELECT w[i] AS w1, w[i+1] AS w2
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i)
      |  WHERE w[i] <> '' AND w[i+1] <> ''
      |), counts AS (
      |  SELECT w1, w2, count(*) AS c FROM grams GROUP BY 1, 2
      |), n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM counts),
      |firsts AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c1 FROM counts GROUP BY 1),
      |seconds AS (SELECT w2, CAST(sum(c) AS BIGINT) AS c2 FROM counts GROUP BY 1)
      |SELECT counts.w1, counts.w2, c, c1, c2,
      |  (CAST(round(ln(CAST(n AS DOUBLE) * CAST(c AS DOUBLE)
      |    / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))), 6) AS DOUBLE) + 0.0) AS pmi
      |FROM counts
      |JOIN firsts ON counts.w1 = firsts.w1
      |JOIN seconds ON counts.w2 = seconds.w2
      |CROSS JOIN n
      |WHERE c >= 5
      |ORDER BY pmi DESC, counts.w1, counts.w2 LIMIT 50""".stripMargin

  /** #379 embed_pca_power — the leading principal component of the
    * embedding covariance (the DIRECTION behind embed_drift_report's
    * scalar drift: "which way is the corpus moving?"): four unrolled
    * power iterations v ← normalize(C·v) from the uniform start, on
    * the d²-BOUNDED covariance matrix #295 already maintains — so the
    * only data-sized work is the one CovMomentsAgg pass; every
    * multiply is a ~4k-row broadcast join + bounded aggregate.
    * Per-step determinism is the markov_attribution device: products
    * round 12 dp into order-free DECIMAL sums, components re-round
    * 12 dp after each normalize, so both engines walk the identical
    * IEEE chain. Emits per-dim loadings plus the Rayleigh quotient
    * (the lead eigenvalue) and its share of total variance (trace).
    * Exact oracle (the covariance CTE reused verbatim + four unrolled
    * multiply CTEs).
    */
  def embedPcaPower(s: SparkSession, dir: String): DataFrame = {
    // r11: everything past the one data-sized CovMomentsAgg pass is
    // d²-bounded, so the cut covariance is a BoundedTail leaf and the
    // whole 4-multiply power iteration runs on one partition with no
    // broadcast stage; the scalars (nd, per-step norm) attach over all
    // rows of the bounded frames (34 stages / ~1.8 s inter-stage gap
    // before). Every arithmetic chain is unchanged: same rounded
    // products, same order-free Dec12 sums, same doubles.
    val covU = graft.BoundedTail.leaf(
      Round11Ops.covTail(Round11Ops.covMoments(Tables.embeddings(s, dir))))
    val wAll = graft.BoundedTail.allRows
    val m = covU.unionByName(
      covU.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("cov")))
      .coalesce(1)
    val dims = covU.filter(col("i") === col("j")).select(col("i"))
    var v = dims.withColumn("nd", count(lit(1)).over(wAll))
      .select(col("i"), round(lit(1.0) / sqrt(col("nd").cast("double")), 12).as("v"))
    for (_ <- 1 to 4) {
      val w = m
        .join(v.select(col("i").as("j"), col("v")).hint("merge"), Seq("j"))
        .groupBy(col("i"))
        .agg(sum(round(col("cov") * col("v"), 12).cast(Dec12)).as("w"))
      v = w
        .withColumn("nm",
          sqrt(sum(round(col("w").cast("double") * col("w").cast("double"), 12)
            .cast(Dec12)).over(wAll).cast("double")))
        .select(col("i"), round(col("w").cast("double") / col("nm"), 12).as("v"))
    }
    val vc = graft.Lineage.cut(v) // 64 rows; feeds the Rayleigh joins and the output
    val ray = m
      .join(vc.select(col("i"), col("v").as("vi")).hint("merge"), Seq("i"))
      .join(vc.select(col("i").as("j"), col("v").as("vj")).hint("merge"), Seq("j"))
      .agg(sum(round(col("cov") * col("vi") * col("vj"), 12).cast(Dec12)).as("lam"))
    val tr = covU.filter(col("i") === col("j"))
      .agg(sum(col("cov").cast(Dec12)).as("tr"))
    vc.crossJoin(broadcast(ray)).crossJoin(broadcast(tr))
      .select(
        col("i").as("dim"),
        emit(col("v"), 6).as("loading"),
        emit(col("lam").cast("double"), 6).as("lead_eigenvalue"),
        emit(col("lam").cast("double") / col("tr").cast("double"), 6).as("explained_share"))
      .orderBy(col("dim"))
  }

  val embedPcaPowerSql: String = {
    def mult(vin: String, k: Int): String =
      s"""w$k AS (
         |  SELECT m.i, sum(CAST(round(cov * v, 12) AS DECIMAL(38,12))) AS w
         |  FROM m JOIN $vin ON $vin.i = m.j GROUP BY 1
         |), n$k AS (
         |  SELECT sqrt(CAST(sum(CAST(round(CAST(w AS DOUBLE) * CAST(w AS DOUBLE), 12)
         |    AS DECIMAL(38,12))) AS DOUBLE)) AS nm FROM w$k
         |), v$k AS (
         |  SELECT i, round(CAST(w AS DOUBLE) / nm, 12) AS v FROM w$k, n$k
         |)""".stripMargin
    """WITH xs AS (
      |  SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
      |),
      |n AS (SELECT count(*) AS n FROM embeddings),
      |moments AS (
      |  SELECT i, sum(CAST(round(x, 12) AS DECIMAL(38,12))) AS sx FROM xs GROUP BY 1
      |),
      |cross_m AS (
      |  SELECT a.i AS i, b.i AS j,
      |    sum(CAST(round(a.x * b.x, 12) AS DECIMAL(38,12))) AS sxy
      |  FROM xs a JOIN xs b ON a.vec_id = b.vec_id AND a.i <= b.i
      |  GROUP BY 1, 2
      |),
      |covu AS (
      |  SELECT i, j,
      |    (CAST(round(CAST(sxy AS DOUBLE) / n
      |      - (CAST(ma.sx AS DOUBLE) / n) * (CAST(mb.sx AS DOUBLE) / n), 6) AS DOUBLE) + 0.0) AS cov
      |  FROM cross_m JOIN moments ma USING (i) JOIN moments mb ON mb.i = cross_m.j
      |  CROSS JOIN n
      |),
      |m AS (
      |  SELECT i, j, cov FROM covu
      |  UNION ALL
      |  SELECT j AS i, i AS j, cov FROM covu WHERE i <> j
      |),
      |dims AS (SELECT i FROM covu WHERE i = j),
      |nd AS (SELECT count(*) AS nd FROM dims),
      |v0 AS (SELECT i, round(1.0 / sqrt(CAST(nd AS DOUBLE)), 12) AS v FROM dims, nd),
      |""".stripMargin +
      Seq(mult("v0", 1), mult("v1", 2), mult("v2", 3), mult("v3", 4)).mkString(",\n") +
      """,
        |ray AS (
        |  SELECT sum(CAST(round(cov * a.v * b.v, 12) AS DECIMAL(38,12))) AS lam
        |  FROM m JOIN v4 a ON a.i = m.i JOIN v4 b ON b.i = m.j
        |),
        |tr AS (SELECT sum(CAST(cov AS DECIMAL(38,12))) AS tr FROM covu WHERE i = j)
        |SELECT v4.i AS dim,
        |  (CAST(round(v, 6) AS DOUBLE) + 0.0) AS loading,
        |  (CAST(round(CAST(lam AS DOUBLE), 6) AS DOUBLE) + 0.0) AS lead_eigenvalue,
        |  (CAST(round(CAST(lam AS DOUBLE) / CAST(tr AS DOUBLE), 6) AS DOUBLE) + 0.0) AS explained_share
        |FROM v4, ray, tr ORDER BY dim""".stripMargin
  }

  /** #380 packing_budget_sweep — the sequence-budget menu a
    * pretraining team reads before fixing max_len: per (source, L ∈
    * {256, 512, 1024, 2048}) the EXACT envelope of the three packing
    * strategies — tokens lost to truncation (docs capped at L), pad
    * waste under one-doc-per-sequence batching (Σ L − min(n, L)), and
    * the optimal no-split lower bound ⌈Σ min(n, L) / L⌉ that any
    * greedy packer is judged against (seq_pack #232 measures the
    * zero-waste CONCAT strategy; this prices the alternatives).
    * Analytic, not simulated: every figure is one exact aggregate —
    * one token-count scan, a broadcast 4-row budget axis, a
    * |sources|·4-row output; no per-group sequential fold, so nothing
    * here caps group size at 100 TB. Shares divide exact longs (q14
    * device). Exact oracle.
    */
  def packingBudgetSweep(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"),
        size(filter(split(col("text"), " "), t => t =!= "")).cast("long").as("n"))
      .filter(col("n") > 0)
    val budgets = s.range(1).select(explode(
      array(lit(256L), lit(512L), lit(1024L), lit(2048L))).as("budget"))
    toks.crossJoin(broadcast(budgets))
      .groupBy(col("source"), col("budget"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_tokens"),
        sum(least(col("n"), col("budget"))).as("kept_tokens"),
        sum(when(col("n") > col("budget"), 1L).otherwise(0L)).as("docs_truncated"),
        sum(col("budget") - least(col("n"), col("budget"))).as("pad_tokens_onedoc"))
      .select(
        col("source"), col("budget"), col("n_docs"), col("total_tokens"),
        col("kept_tokens"), col("docs_truncated"),
        emit((col("total_tokens") - col("kept_tokens")).cast("double") /
          col("total_tokens").cast("double"), 6).as("trunc_loss_share"),
        emit(col("pad_tokens_onedoc").cast("double") /
          (col("n_docs") * col("budget")).cast("double"), 6).as("pad_share_onedoc"),
        expr("(kept_tokens + budget - 1) div budget").as("min_sequences"))
      .orderBy(col("source"), col("budget"))
  }

  val packingBudgetSweepSql: String =
    """WITH toks AS (
      |  SELECT source,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n
      |  FROM documents
      |), nz AS (SELECT * FROM toks WHERE n > 0),
      |budgets AS (SELECT unnest([256, 512, 1024, 2048]) AS budget)
      |SELECT source, CAST(budget AS BIGINT) AS budget, count(*) AS n_docs,
      |  CAST(sum(n) AS BIGINT) AS total_tokens,
      |  CAST(sum(least(n, budget)) AS BIGINT) AS kept_tokens,
      |  CAST(sum(CASE WHEN n > budget THEN 1 ELSE 0 END) AS BIGINT) AS docs_truncated,
      |  (CAST(round(CAST(sum(n) - sum(least(n, budget)) AS DOUBLE)
      |    / CAST(sum(n) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS trunc_loss_share,
      |  (CAST(round(CAST(sum(budget - least(n, budget)) AS DOUBLE)
      |    / CAST(count(*) * budget AS DOUBLE), 6) AS DOUBLE) + 0.0) AS pad_share_onedoc,
      |  CAST((sum(least(n, budget)) + budget - 1) // budget AS BIGINT) AS min_sequences
      |FROM nz CROSS JOIN budgets
      |GROUP BY source, budget ORDER BY source, budget""".stripMargin

  /** #381 contamination_gram_sweep — decontamination overlap as a
    * FUNCTION of the n-gram size (the knob every eval-contamination
    * policy fixes first: short grams over-flag boilerplate, long
    * grams miss paraphrase — this table is the evidence): per n ∈
    * {3, 4, 6, 8}, the benchmark gram vocabulary (doc_id < 5, the
    * decontaminate #68 split), the training docs flagged by a shared
    * gram, and the flagged share. ONE tokenize pass feeds all four
    * sizes: a single per-doc window with lead(1..7) builds the n-gram
    * columns, stacked by an in-row explode — no per-n rescan; the
    * only data-sized shuffles are the per-n gram dedup and the
    * gram-key semi join (never all-pairs, the decontaminate shape).
    * Shares divide exact longs. Exact oracle (list-slice grams per n,
    * UNION ALL).
    */
  def contaminationGramSweep(s: SparkSession, dir: String): DataFrame = {
    val ns = Seq(3, 4, 6, 8)
    val withLeads = TextOps.withWords(TextOps.wordRows(Tables.documents(s, dir)), 7)
    // NOTE (r11, measured — left alone on purpose): the dedup agg +
    // checkpoint pin of ~270k gram rows runs on 2 AQE-coalesced cores
    // (2.3 s of stage CPU). A width-pinned repartition on the dedup
    // keys (the md5-twin device) measured pinned [3.72, 3.87] vs
    // unpinned [3.69, 3.46] in adjacent same-session runs — at best
    // neutral, because pre-dedup the stacked grams are ~4× the rows,
    // so the pin trades the map-side partial dedup for a 4×-wider
    // exchange (the r10 gram-width-pin trade). Unlike the md5 twins
    // there is no heavy per-row compute after the exchange to
    // parallelize, so the simpler unpinned form stays.
    val stacked = withLeads
      .select(col("doc_id"), explode(array(ns.map(n =>
        struct(lit(n).as("n"), TextOps.gram(n, TextOps.wordCol).as("g"))): _*)).as("t"))
      .select(col("doc_id"), col("t.n").as("n"), col("t.g").as("g"))
      .filter(col("g").isNotNull)
      .dropDuplicates("n", "doc_id", "g")
    val cut = graft.Lineage.cut(stacked) // feeds bench + train per n
    val bench = cut.filter(col("doc_id") < 5).select(col("n"), col("g")).distinct()
    val flagged = cut.filter(col("doc_id") >= 5)
      .join(bench, Seq("n", "g"), "left_semi")
      .select(col("n"), col("doc_id")).distinct()
      .groupBy(col("n")).agg(count(lit(1)).as("docs_flagged"))
    val trainDocs = Tables.documents(s, dir).filter(col("doc_id") >= 5)
      .agg(count(lit(1)).as("train_docs"))
    bench.groupBy(col("n")).agg(count(lit(1)).as("bench_grams"))
      .join(flagged, Seq("n"), "left")
      .crossJoin(broadcast(trainDocs))
      .select(
        col("n"), col("bench_grams"),
        col("train_docs"),
        coalesce(col("docs_flagged"), lit(0L)).as("docs_flagged"),
        emit(coalesce(col("docs_flagged"), lit(0L)).cast("double") /
          col("train_docs").cast("double"), 6).as("flagged_share"))
      .orderBy(col("n"))
  }

  val contaminationGramSweepSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (
      |  SELECT DISTINCT n, doc_id, g FROM (
      |""".stripMargin +
      Seq(3, 4, 6, 8).map(TextOps.gramsSql(_, "doc_id")).mkString("\n  UNION ALL\n") +
      """
        |  )
        |),
        |bench AS (SELECT DISTINCT n, g FROM g WHERE doc_id < 5),
        |flagged AS (
        |  SELECT n, count(DISTINCT doc_id) AS docs_flagged
        |  FROM (SELECT g.n, g.doc_id FROM g JOIN bench ON g.n = bench.n AND g.g = bench.g
        |        WHERE g.doc_id >= 5)
        |  GROUP BY 1
        |),
        |bg AS (SELECT n, count(*) AS bench_grams FROM bench GROUP BY 1),
        |td AS (SELECT count(*) AS train_docs FROM documents WHERE doc_id >= 5)
        |SELECT bg.n, bench_grams, train_docs,
        |  coalesce(docs_flagged, 0) AS docs_flagged,
        |  (CAST(round(CAST(coalesce(docs_flagged, 0) AS DOUBLE)
        |    / CAST(train_docs AS DOUBLE), 6) AS DOUBLE) + 0.0) AS flagged_share
        |FROM bg LEFT JOIN flagged ON bg.n = flagged.n CROSS JOIN td
        |ORDER BY bg.n""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("contamination_gram_sweep", contaminationGramSweep, contaminationGramSweepSql),
    exact("packing_budget_sweep", packingBudgetSweep, packingBudgetSweepSql),
    exact("bigram_pmi", bigramPmi, bigramPmiSql),
    exact("embed_pca_power", embedPcaPower, embedPcaPowerSql))
}
