package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.exact

/** Round-22 operators (repo round 8, continued) — the data-selection
  * triplet a mixture decision actually reads: the DIRECTIONAL
  * source-to-source transfer table (train a unigram model on source a,
  * price source b under it — js_divergence #414 is the symmetric
  * distance, THIS is the asymmetric "does a's data help b" read that
  * drives transfer-based selection), the smoothing hyperparameter
  * sweep (held-out cross-entropy per add-k — the knob doc_perplexity
  * #212 fixes silently), and the gram-budget coverage curve (what
  * share of corpus token mass the top-N vocabulary captures — the
  * vocab-size menu every tokenizer budget decision reads).
  *
  * House rules as Round15–21: exact integer/decimal moments, mirrored
  * double chains, 12-dp-rounded libm terms into order-free
  * DECIMAL(38,12) sums, emits via OracleMath.emit with §6 #5 recovery
  * on oracle ratio emits, bounded outputs, unique sort keys.
  */
object Round22Ops {
  import OracleMath._

  /** #418 source_transfer_entropy — the |sources|² directional
    * transfer table: H(b‖a) = −Σ_t p_b(t)·ln p̂_a(t), the
    * cross-entropy of source b's unigram distribution under an
    * add-one-smoothed model trained on source a (smoothing over the
    * GLOBAL vocabulary keeps every ln finite), plus the excess over
    * b's own entropy (the KL-style transfer GAP — how many extra nats
    * b costs when modeled by a). This is the data-selection read
    * behind "which existing source best covers a new one":
    * js_divergence (#414) is symmetric; transfer is not, and the
    * asymmetry IS the signal. All probabilities exact count ratios;
    * per-token terms 12-dp→Dec12 (markov device); the (a, b, token)
    * frame is |sources|²·|vocab| bounded, built by ONE broadcast grid
    * (the #414 shape). Exact oracle.
    */
  def sourceTransferEntropy(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
    val cut = graft.Lineage.cut(counts)
    val tots = cut.groupBy(col("source")).agg(sum(col("c")).as("t"))
    val vsize = cut.select(col("token")).distinct().agg(count(lit(1)).as("v"))
    val vocab = cut.select(col("token")).distinct()
    val pairs = tots.select(col("source").as("src_train"))
      .join(tots.select(col("source").as("src_eval")), lit(true))
    val grid = broadcast(pairs).crossJoin(vocab)
      .join(broadcast(cut.select(col("source").as("src_train"), col("token"),
        col("c").as("ca"))), Seq("src_train", "token"), "left")
      .join(broadcast(cut.select(col("source").as("src_eval"), col("token"),
        col("c").as("cb"))), Seq("src_eval", "token"), "left")
      .join(broadcast(tots.select(col("source").as("src_train"), col("t").as("ta"))),
        Seq("src_train"))
      .join(broadcast(tots.select(col("source").as("src_eval"), col("t").as("tb"))),
        Seq("src_eval"))
      .crossJoin(broadcast(vsize))
      .select(col("src_train"), col("src_eval"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"),
        col("ta"), col("tb"), col("v"))
    // p̂_a add-1 over the global vocab; p_b exact; both one IEEE chain
    val pa = (col("ca").cast("double") + 1.0) /
      (col("ta").cast("double") + col("v").cast("double"))
    val pb = col("cb").cast("double") / col("tb").cast("double")
    val hterm = when(col("cb") > 0, round(-(pb * log(pa)), 12).cast(Dec12))
      .otherwise(lit(0).cast(Dec12))
    val sterm = when(col("cb") > 0, round(-(pb * log(pb)), 12).cast(Dec12))
      .otherwise(lit(0).cast(Dec12))
    grid.groupBy(col("src_train"), col("src_eval"))
      .agg(sum(hterm).as("hx"), sum(sterm).as("hs"))
      .select(
        col("src_train"), col("src_eval"),
        emit(col("hx").cast("double"), 6).as("cross_entropy"),
        emit(col("hs").cast("double"), 6).as("self_entropy"),
        emit(col("hx").cast("double") - col("hs").cast("double"), 6)
          .as("transfer_gap"))
      .orderBy(col("src_train"), col("src_eval"))
  }

  val sourceTransferEntropySql: String =
    """WITH counts AS (
      |  SELECT source, tok AS token, count(*) AS c
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok <> '' GROUP BY 1, 2
      |), tots AS (SELECT source, CAST(sum(c) AS BIGINT) AS t FROM counts GROUP BY 1),
      |vsize AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS v FROM counts),
      |vocab AS (SELECT DISTINCT token FROM counts),
      |pairs AS (
      |  SELECT a.source AS src_train, b.source AS src_eval FROM tots a CROSS JOIN tots b
      |), grid AS (
      |  SELECT p.src_train, p.src_eval,
      |    coalesce(ca.c, 0) AS ca, coalesce(cb.c, 0) AS cb,
      |    ta.t AS ta, tb.t AS tb, v
      |  FROM pairs p
      |  CROSS JOIN vocab
      |  LEFT JOIN counts ca ON ca.source = p.src_train AND ca.token = vocab.token
      |  LEFT JOIN counts cb ON cb.source = p.src_eval AND cb.token = vocab.token
      |  JOIN tots ta ON ta.source = p.src_train
      |  JOIN tots tb ON tb.source = p.src_eval
      |  CROSS JOIN vsize
      |), terms AS (
      |  SELECT src_train, src_eval,
      |    CASE WHEN cb > 0 THEN CAST(round(-((CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))
      |      * ln((CAST(ca AS DOUBLE) + 1.0) / (CAST(ta AS DOUBLE) + CAST(v AS DOUBLE)))), 12) AS DECIMAL(38,12))
      |      ELSE CAST(0 AS DECIMAL(38,12)) END AS hterm,
      |    CASE WHEN cb > 0 THEN CAST(round(-((CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))
      |      * ln(CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))), 12) AS DECIMAL(38,12))
      |      ELSE CAST(0 AS DECIMAL(38,12)) END AS sterm
      |  FROM grid
      |), agg AS (
      |  SELECT src_train, src_eval, sum(hterm) AS hx, sum(sterm) AS hs
      |  FROM terms GROUP BY 1, 2
      |)
      |SELECT src_train, src_eval,
      |  (CAST(round(CAST(CAST(hx AS DOUBLE) AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS cross_entropy,
      |  (CAST(round(CAST(CAST(hs AS DOUBLE) AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS self_entropy,
      |  (CAST(round(CAST(CAST(hx AS DOUBLE) - CAST(hs AS DOUBLE) AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS transfer_gap
      |FROM agg
      |ORDER BY src_train, src_eval""".stripMargin

  /** #419 smoothing_sweep — the add-k hyperparameter table for the
    * unigram model: train on the doc_id first half, price the second
    * half at k ∈ {0.01, 0.1, 1, 10} — held-out cross-entropy,
    * perplexity, and the OOV token share the smoothing mass must
    * cover. doc_perplexity (#212) FIXES a smoothing silently; this
    * table is how that knob should be chosen (too little k
    * over-penalizes unseen tokens, too much flattens the model —
    * the held-out curve's minimum is the answer). Probabilities
    * (c+k)/(N+k·V) with V = union vocabulary; eval-count-weighted
    * ln terms 12-dp→Dec12; the k axis is a broadcast 4-row explode
    * off ONE (token, train-count, eval-count) grid. Exact oracle.
    */
  def smoothingSweep(s: SparkSession, dir: String): DataFrame = {
    val d0 = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
    val span = d0.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val toks = d0.crossJoin(broadcast(span))
      .select(
        when((col("doc_id") - col("lo")) * 2 <= (col("hi") - col("lo")), 1L)
          .otherwise(2L).as("half"),
        explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val cut = graft.Lineage.cut(
      toks.groupBy(col("token"))
        .agg(sum(when(col("half") === 1L, 1L).otherwise(0L)).as("ctr"),
          sum(when(col("half") === 2L, 1L).otherwise(0L)).as("cev")))
    val tot = cut.agg(sum(col("ctr")).as("ntr"), sum(col("cev")).as("nev"),
      count(lit(1)).as("v"),
      sum(when(col("ctr") === 0L, col("cev")).otherwise(0L)).as("oov"))
    val ks = Seq(0.01, 0.1, 1.0, 10.0)
    val grid = cut.crossJoin(broadcast(tot))
      .select(col("ctr"), col("cev"), col("ntr"), col("nev"), col("v"), col("oov"),
        explode(array(ks.map(lit): _*)).as("k"))
    val p = (col("ctr").cast("double") + col("k")) /
      (col("ntr").cast("double") + col("k") * col("v").cast("double"))
    val term = when(col("cev") > 0,
      round(-(col("cev").cast("double") * log(p)), 12).cast(Dec12))
      .otherwise(lit(0).cast(Dec12))
    grid.groupBy(col("k"), col("nev"), col("oov"), col("v"))
      .agg(sum(term).as("nll"))
      .select(
        col("k"), col("v").as("vocab"),
        emit(col("oov").cast("double") / col("nev").cast("double"), 6).as("oov_share"),
        emit(col("nll").cast("double") / col("nev").cast("double"), 6)
          .as("cross_entropy"),
        emit(exp(col("nll").cast("double") / col("nev").cast("double")), 4)
          .as("perplexity"))
      .orderBy(col("k"))
  }

  val smoothingSweepSql: String =
    """WITH span AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
      |toks AS (
      |  SELECT CASE WHEN (doc_id - lo) * 2 <= (hi - lo) THEN 1 ELSE 2 END AS half,
      |    tok AS token
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  CROSS JOIN span
      |  WHERE tok <> ''
      |), cgrid AS (
      |  SELECT token,
      |    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ctr,
      |    CAST(sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS cev
      |  FROM toks GROUP BY 1
      |), tot AS (
      |  SELECT CAST(sum(ctr) AS BIGINT) AS ntr, CAST(sum(cev) AS BIGINT) AS nev,
      |    count(*) AS v,
      |    CAST(sum(CASE WHEN ctr = 0 THEN cev ELSE 0 END) AS BIGINT) AS oov
      |  FROM cgrid
      |), grid AS (
      |  SELECT ctr, cev, ntr, nev, v, oov, k
      |  FROM cgrid CROSS JOIN tot
      |  CROSS JOIN (SELECT CAST(unnest([0.01, 0.1, 1.0, 10.0]) AS DOUBLE) AS k)
      |), terms AS (
      |  SELECT k, nev, oov, v,
      |    CASE WHEN cev > 0 THEN CAST(round(-(CAST(cev AS DOUBLE)
      |      * ln((CAST(ctr AS DOUBLE) + k) / (CAST(ntr AS DOUBLE) + k * CAST(v AS DOUBLE)))), 12) AS DECIMAL(38,12))
      |      ELSE CAST(0 AS DECIMAL(38,12)) END AS term
      |  FROM grid
      |)
      |SELECT k, v AS vocab,
      |  (CAST(round(CAST(CAST(oov AS DOUBLE) / CAST(nev AS DOUBLE) AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS oov_share,
      |  (CAST(round(CAST(CAST(sum(term) AS DOUBLE) / CAST(nev AS DOUBLE) AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS cross_entropy,
      |  (CAST(round(CAST(exp(CAST(sum(term) AS DOUBLE) / CAST(nev AS DOUBLE)) AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS perplexity
      |FROM terms
      |GROUP BY k, nev, oov, v
      |ORDER BY k""".stripMargin

  /** #420 vocab_budget_coverage — the tokenizer-budget menu over word
    * 3-grams: for each budget N ∈ {100, 1000, 5000}, the share of
    * total gram MASS the top-N grams by frequency capture and the
    * share of gram TYPES left out — the curve a vocabulary/phrase-
    * table size decision reads (good_turing_mass #407 prices what the
    * corpus has never seen; this prices what a BUDGET of it covers).
    * Ranking is deterministic ((count DESC, gram ASC) row_number over
    * the bounded gram-type grid — the distinct-value-grid pattern);
    * masses are exact longs; shares divide exact longs. Exact oracle.
    */
  def vocabBudgetCoverage(s: SparkSession, dir: String): DataFrame = {
    val counts = TextOps.gramRows(Tables.documents(s, dir), 3, distinct = false)
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
    val wRank = Window.orderBy(col("c").desc, col("g"))
    val ranked = counts.withColumn("rk", row_number().over(wRank))
    val cut = graft.Lineage.cut(ranked)
    val tot = cut.agg(sum(col("c")).as("n"), count(lit(1)).as("types"))
    val budgets = Seq(100, 1000, 5000)
    cut.crossJoin(broadcast(tot))
      .select(col("c"), col("rk"), col("n"), col("types"),
        explode(array(budgets.map(lit): _*)).as("budget"))
      .groupBy(col("budget"), col("n"), col("types"))
      .agg(sum(when(col("rk") <= col("budget"), col("c")).otherwise(0L)).as("mass"),
        sum(when(col("rk") <= col("budget"), 1L).otherwise(0L)).as("kept"))
      .select(
        col("budget"), col("types").as("gram_types"),
        col("kept").as("kept_types"),
        emit(col("mass").cast("double") / col("n").cast("double"), 6)
          .as("mass_coverage"),
        emit((col("types") - col("kept")).cast("double") / col("types").cast("double"), 6)
          .as("type_miss_share"))
      .orderBy(col("budget"))
  }

  val vocabBudgetCoverageSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (
      |  SELECT unnest([ws[i]||' '||ws[i+1]||' '||ws[i+2]
      |          for i in range(1, greatest(len(ws)-1, 1))]) AS g
      |  FROM w
      |), counts AS (SELECT g, count(*) AS c FROM g GROUP BY 1),
      |ranked AS (
      |  SELECT c, row_number() OVER (ORDER BY c DESC, g) AS rk FROM counts
      |), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS types FROM counts),
      |grid AS (
      |  SELECT c, rk, n, types, budget
      |  FROM ranked CROSS JOIN tot
      |  CROSS JOIN (SELECT unnest([100, 1000, 5000]) AS budget)
      |)
      |SELECT budget, types AS gram_types,
      |  CAST(sum(CASE WHEN rk <= budget THEN 1 ELSE 0 END) AS BIGINT) AS kept_types,
      |  (CAST(round(CAST(CAST(sum(CASE WHEN rk <= budget THEN c ELSE 0 END) AS DOUBLE)
      |    / CAST(n AS DOUBLE) AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS mass_coverage,
      |  (CAST(round(CAST(CAST(types - sum(CASE WHEN rk <= budget THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(types AS DOUBLE) AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS type_miss_share
      |FROM grid
      |GROUP BY budget, types, n
      |ORDER BY budget""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("source_transfer_entropy", sourceTransferEntropy, sourceTransferEntropySql),
    exact("smoothing_sweep", smoothingSweep, smoothingSweepSql),
    exact("vocab_budget_coverage", vocabBudgetCoverage, vocabBudgetCoverageSql))
}
