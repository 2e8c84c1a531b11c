package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.exact

/** Round-16 operators (repo round 8, continued) — closing the
  * remaining corpus-diversity axes: lexical-diversity distinct-n-gram
  * ratios (the repetition fingerprint of generated or boilerplate
  * text) and mean average precision (the order-sensitive retrieval
  * summary beside MRR's first-hit view).
  *
  * House rules as Round15Ops: exact integer/decimal moments, double
  * chains mirrored token for token, libm-adjacent factors rounded to
  * 12 dp before order-free DECIMAL(38,12) sums (the markov device),
  * emits via OracleMath.emit, bounded outputs, unique sort keys.
  * CUPED and Mantel–Haenszel live in [[ExperimentOps]]; the
  * Cramér–von Mises test and the periodogram in [[MonitorOps]].
  */
object Round16Ops {
  import OracleMath._

  /** #390 distinct_ngram_report — lexical diversity per source:
    * total and distinct {1,2,3}-gram counts and the distinct ratio
    * (distinct-n, Li et al. 2016's diversity metric) — the repetition
    * fingerprint that separates template/boilerplate-heavy and
    * degenerate-generation text (ratios collapse) from natural prose;
    * the per-SOURCE read complements doc_repetition's per-document
    * Gopher rules. One tokenize pass builds all three gram sizes via
    * two lead columns stacked in-row (the contamination_gram_sweep
    * device — no per-n rescan); the only shuffle is the
    * (source, n, gram) distinct aggregate, co-keyed with the total
    * count. Exact integer counts; the ratio divides exact longs.
    * Exact oracle (list-slice grams UNION ALL).
    */
  def distinctNgramReport(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.withWords(TextOps.wordRows(Tables.documents(s, dir), Seq(col("source")),
      filter(split(col("text"), " "), t => t =!= "")), 2)
    val stacked = toks.select(col("source"), explode(array(
      struct(lit(1).as("n"), col("w0").as("g")),
      struct(lit(2).as("n"), TextOps.gram(2, TextOps.wordCol).as("g")),
      struct(lit(3).as("n"), TextOps.gram(3, TextOps.wordCol).as("g")))).as("t"))
      .select(col("source"), col("t.n").as("n"), col("t.g").as("g"))
      .filter(col("g").isNotNull)
    stacked.groupBy(col("source"), col("n"))
      .agg(count(lit(1)).as("total_grams"), countDistinct(col("g")).as("distinct_grams"))
      .select(col("source"), col("n"), col("total_grams"), col("distinct_grams"),
        emit(col("distinct_grams").cast("double") / col("total_grams").cast("double"), 6)
          .as("distinct_ratio"))
      .orderBy(col("source"), col("n"))
  }

  val distinctNgramReportSql: String = {
    def grams(n: Int) =
      if (n == 1) """SELECT 1 AS n, source, unnest(ws) AS g FROM w"""
      else TextOps.gramsSql(n, "source")
    """WITH w AS (
      |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS ws
      |  FROM documents
      |),
      |g AS (
      |""".stripMargin +
      Seq(1, 2, 3).map(grams).mkString("\n  UNION ALL\n") +
      """
        |)
        |SELECT source, n, count(*) AS total_grams,
        |  count(DISTINCT g) AS distinct_grams,
        |  (CAST(round(CAST(count(DISTINCT g) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS distinct_ratio
        |FROM g GROUP BY 1, 2
        |ORDER BY source, n""".stripMargin
  }

  /** #392 map_report — mean average precision of the int8-quantized
    * kNN against the exact float top-10 (the relevance set):
    * AP = Σ_{hits k} precision@rank_k / 10 per probe query, plus the
    * across-query MAP. The ORDER-sensitive retrieval summary beside
    * retrieval_mrr_report's first-hit view (#385) and rank_rbo's
    * top-weighted overlap (#325): MRR says where the single best
    * answer sits, AP averages placement quality over the WHOLE
    * relevant set. Same two oracle-verified ranking chains,
    * lineage-cut; everything downstream is k·|queries|-bounded.
    * Precision terms are integer-rank rationals rounded to 12 dp
    * into a DECIMAL(38,12) sum (order-free); MAP averages the
    * 6-dp-emitted APs through the same decimal device. Exact oracle.
    */
  def mapReport(s: SparkSession, dir: String): DataFrame = {
    val a = graft.Lineage.cut(
      TextOps.embedKnn(s, dir).select(col("query_id"), col("vec_id")))
    val b = graft.Lineage.cut(
      TextOps.embedQuantizedKnn(s, dir).select(col("query_id"), col("vec_id"), col("rn").as("rnb")))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("rnb"))
    val hits = a.join(b, Seq("query_id", "vec_id"))
      .withColumn("hits_le", row_number().over(wq))
      .select(col("query_id"),
        round(col("hits_le").cast("double") / col("rnb").cast("double"), 12).as("prec"))
    val perQ = a.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .groupBy(col("query_id"))
      .agg(
        sum(when(col("prec").isNotNull, 1L).otherwise(0L)).as("n_hits"),
        coalesce(sum(col("prec").cast(Dec12)), lit(0).cast(Dec12)).as("sprec"))
      .select(col("query_id"), col("n_hits"),
        emit(col("sprec").cast("double") / lit(10.0), 6).as("ap"))
    val overall = perQ.agg(
      emit(sum(col("ap").cast(Dec12)).cast("double") / count(lit(1)).cast("double"), 6)
        .as("map"))
    perQ.crossJoin(broadcast(overall))
      .select(col("query_id"), col("n_hits"), col("ap"), col("map"))
      .orderBy(col("query_id"))
  }

  val mapReportSql: String =
    s"""WITH a0 AS (${TextOps.embedKnnSql}),
       |b0 AS (${TextOps.embedQuantizedKnnSql}),
       |hits AS (
       |  SELECT a0.query_id,
       |    round(CAST(row_number() OVER (PARTITION BY a0.query_id ORDER BY b0.rn) AS DOUBLE)
       |      / CAST(b0.rn AS DOUBLE), 12) AS prec
       |  FROM a0 JOIN b0 ON a0.query_id = b0.query_id AND a0.vec_id = b0.vec_id
       |),
       |qs AS (SELECT DISTINCT query_id FROM a0),
       |perq AS (
       |  SELECT qs.query_id,
       |    CAST(sum(CASE WHEN prec IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |    coalesce(sum(CAST(prec AS DECIMAL(38,12))), CAST(0 AS DECIMAL(38,12))) AS sprec
       |  FROM qs LEFT JOIN hits ON hits.query_id = qs.query_id
       |  GROUP BY 1
       |),
       |ap AS (
       |  SELECT query_id, n_hits,
       |    (CAST(round(CAST(sprec AS DOUBLE) / 10.0, 6) AS DOUBLE) + 0.0) AS ap
       |  FROM perq
       |)
       |SELECT query_id, n_hits, ap,
       |  (SELECT (CAST(round(CAST(sum(CAST(ap AS DECIMAL(38,12))) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) + 0.0) FROM ap) AS map
       |FROM ap ORDER BY query_id""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("distinct_ngram_report", distinctNgramReport, distinctNgramReportSql),
    exact("map_report", mapReport, mapReportSql))
}
