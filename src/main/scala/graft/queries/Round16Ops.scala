package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.exact

/** Round-16 operators (repo round 8, continued) — closing the
  * remaining drift / corpus-diversity axes: the Cramér–von Mises
  * two-sample statistic (the integrated-gap complement to KS's
  * single worst point), lexical-diversity
  * distinct-n-gram ratios (the repetition fingerprint of generated
  * or boilerplate text), a fixed-period periodogram (IS the weekly
  * cycle the dominant rhythm, not just present — seasonal_strength
  * assumes period 7; this tests 7 against its alternatives), and
  * mean average precision (the order-sensitive retrieval summary
  * beside MRR's first-hit view).
  *
  * House rules as Round15Ops: exact integer/decimal moments, double
  * chains mirrored token for token, libm-adjacent factors rounded to
  * 12 dp before order-free DECIMAL(38,12) sums (the markov device),
  * emits via OracleMath.emit, bounded outputs, unique sort keys.
  * CUPED and Mantel–Haenszel live in [[ExperimentOps]].
  */
object Round16Ops {
  import OracleMath._

  /** #389 cvm_drift_test — the Cramér–von Mises two-sample statistic
    * per language, first half vs second half of the corpus by doc_id
    * (the EXACT framing of ks_drift_test #314, so the two tests read
    * side by side over the same split): T = Σ_k c_k·(F1−F2)²_k·
    * n1·n2/N² computed with an EXACT INTEGER numerator —
    * Σ_k (c1+c2)_k·(f1_k·n2 − f2_k·n1)² in DECIMAL(38,0) over the
    * distinct-value histogram — and one final double division. KS
    * reports the single worst CDF gap; CvM integrates the whole gap
    * profile, so a distribution-wide small drift that never spikes
    * (which KS under-weights) accumulates. The 0.461 cut is the
    * asymptotic 5% point of the CvM limiting distribution. Scale:
    * identical to KS — one distinct-value histogram aggregate, a
    * per-lang bounded cumsum window, a broadcast totals join. Exact
    * oracle.
    */
  def cvmDriftTest(s: SparkSession, dir: String): DataFrame = {
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
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = hist.groupBy(col("lang"))
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val gap = dec0(col("f1")) * dec0(col("n2")) - dec0(col("f2")) * dec0(col("n1"))
    def dd(c: String) = col(c).cast("double")
    hist
      .withColumn("f1", sum(col("c1")).over(w))
      .withColumn("f2", sum(col("c2")).over(w))
      .join(broadcast(tot), Seq("lang"))
      .select(col("lang"), col("n1"), col("n2"),
        (dec0(col("c1") + col("c2")) * gap * gap).as("term"))
      .groupBy(col("lang"), col("n1"), col("n2"))
      .agg(sum(col("term")).as("num"))
      .select(col("lang"), col("n1"), col("n2"),
        emit(col("num").cast("double") /
          (dd("n1") * dd("n2") * (dd("n1") + dd("n2")) * (dd("n1") + dd("n2"))), 6)
          .as("cvm_t"))
      .withColumn("drifted", col("cvm_t") > lit(0.461))
      .orderBy(col("lang"))
  }

  val cvmDriftTestSql: String =
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
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f2
      |  FROM hist
      |),
      |tot AS (SELECT lang, CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
      |        FROM hist GROUP BY 1),
      |agg AS (
      |  SELECT cum.lang, tot.n1, tot.n2,
      |    sum(CAST(c1 + c2 AS DECIMAL(38,0))
      |      * (CAST(f1 AS DECIMAL(38,0)) * CAST(n2 AS DECIMAL(38,0))
      |         - CAST(f2 AS DECIMAL(38,0)) * CAST(n1 AS DECIMAL(38,0)))
      |      * (CAST(f1 AS DECIMAL(38,0)) * CAST(n2 AS DECIMAL(38,0))
      |         - CAST(f2 AS DECIMAL(38,0)) * CAST(n1 AS DECIMAL(38,0)))) AS num
      |  FROM cum JOIN tot ON cum.lang = tot.lang GROUP BY 1, 2, 3
      |)
      |SELECT lang, n1, n2,
      |  (CAST(round(CAST(num AS DOUBLE)
      |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |       * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
      |       * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))), 6) AS DOUBLE) + 0.0) AS cvm_t,
      |  (CAST(round(CAST(num AS DOUBLE)
      |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |       * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
      |       * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))), 6) AS DOUBLE) + 0.0) > 0.461 AS drifted
      |FROM agg ORDER BY lang""".stripMargin

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

  /** #391 spectral_power — the fixed-period periodogram of the daily
    * event count: demeaned DFT power at candidate periods {7, 14, 30}
    * days, as amplitude 2·√(A²+B²)/T — IS the weekly cycle the
    * dominant rhythm? seasonal_strength (#340) and weekend_effect
    * ASSUME period 7; this row tests 7 against its harmonics and the
    * monthly alternative (the classical hidden-periodicity scan,
    * Schuster 1898). Determinism: cos/sin evaluate only on the |p|
    * DISTINCT phase angles (t mod p — the values, not the count, of
    * libm calls bound cross-engine risk) and round to 12 dp before
    * the day-term products, which round again into DECIMAL(38,12)
    * order-free sums (the markov device). Day indexes and counts are
    * exact integers off one daily aggregate; the series mean is the
    * same exact-long division in both engines. Scale: one daily
    * rollup (map-side combined), a |days|×3 bounded grid, 3 output
    * rows. Exact oracle.
    */
  def spectralPower(s: SparkSession, dir: String): DataFrame = {
    val tau = 6.283185307179586
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))
    val span = daily.agg(
      min(col("d")).as("lo"), count(lit(1)).as("t_days"), sum(col("c")).as("sc"))
    val mean = col("sc").cast("double") / col("t_days").cast("double")
    import s.implicits._
    val periods = Seq(7, 14, 30).toDF("period")
    val grid = daily.crossJoin(broadcast(span))
      .select(datediff(col("d"), col("lo")).as("t"), col("c"),
        col("t_days"), mean.as("mu"))
      .crossJoin(broadcast(periods))
    val ang = lit(tau) * (col("t") % col("period")).cast("double") / col("period").cast("double")
    val terms = grid.select(col("period"), col("t_days"),
      round((col("c").cast("double") - col("mu")) * round(cos(ang), 12), 12).as("tc"),
      round((col("c").cast("double") - col("mu")) * round(sin(ang), 12), 12).as("ts"))
    val byP = terms.groupBy(col("period"))
      .agg(max(col("t_days")).as("t_days"),
        sum(col("tc").cast(Dec12)).as("a"), sum(col("ts").cast(Dec12)).as("b"))
    val amp = lit(2.0) * sqrt(col("a").cast("double") * col("a").cast("double")
      + col("b").cast("double") * col("b").cast("double")) / col("t_days").cast("double")
    val out = byP.select(col("period"), col("t_days"),
      emit(col("a").cast("double"), 4).as("a_cos"),
      emit(col("b").cast("double"), 4).as("b_sin"),
      emit(amp, 6).as("amplitude"))
    val mx = out.agg(max(col("amplitude")).as("max_amp"))
    out.crossJoin(broadcast(mx))
      .select(col("period"), col("t_days"), col("a_cos"), col("b_sin"),
        col("amplitude"), (col("amplitude") >= col("max_amp")).as("dominant"))
      .orderBy(col("period"))
  }

  val spectralPowerSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d, count(*) AS c FROM events GROUP BY 1
      |), span AS (
      |  SELECT min(d) AS lo, count(*) AS t_days, CAST(sum(c) AS BIGINT) AS sc FROM daily
      |), grid AS (
      |  SELECT datediff('day', lo, d) AS t, c, t_days,
      |    CAST(sc AS DOUBLE) / CAST(t_days AS DOUBLE) AS mu, period
      |  FROM daily CROSS JOIN span
      |  CROSS JOIN (SELECT unnest([7, 14, 30]) AS period)
      |), terms AS (
      |  SELECT period, t_days,
      |    round((CAST(c AS DOUBLE) - mu)
      |      * round(cos(6.283185307179586 * CAST(t % period AS DOUBLE) / CAST(period AS DOUBLE)), 12), 12) AS tc,
      |    round((CAST(c AS DOUBLE) - mu)
      |      * round(sin(6.283185307179586 * CAST(t % period AS DOUBLE) / CAST(period AS DOUBLE)), 12), 12) AS ts
      |  FROM grid
      |), byp AS (
      |  SELECT period, max(t_days) AS t_days,
      |    sum(CAST(tc AS DECIMAL(38,12))) AS a,
      |    sum(CAST(ts AS DECIMAL(38,12))) AS b
      |  FROM terms GROUP BY 1
      |), outp AS (
      |  SELECT period, t_days,
      |    (CAST(round(CAST(a AS DOUBLE), 4) AS DOUBLE) + 0.0) AS a_cos,
      |    (CAST(round(CAST(b AS DOUBLE), 4) AS DOUBLE) + 0.0) AS b_sin,
      |    (CAST(round(2.0 * sqrt(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
      |      + CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) / CAST(t_days AS DOUBLE), 6) AS DOUBLE) + 0.0) AS amplitude
      |  FROM byp
      |)
      |SELECT period, t_days, a_cos, b_sin, amplitude,
      |  amplitude >= (SELECT max(amplitude) FROM outp) AS dominant
      |FROM outp ORDER BY period""".stripMargin

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
    exact("cvm_drift_test", cvmDriftTest, cvmDriftTestSql),
    exact("distinct_ngram_report", distinctNgramReport, distinctNgramReportSql),
    exact("spectral_power", spectralPower, spectralPowerSql),
    exact("map_report", mapReport, mapReportSql))
}
