package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.exact

/** Round-16 operators (repo round 8, continued) — closing the
  * remaining experimentation / drift / corpus-diversity axes:
  * CUPED variance reduction (the industry-standard pre-period
  * covariate adjustment every mature A/B platform applies before
  * reading a lift), the Mantel–Haenszel stratified odds ratio (the
  * Simpson's-paradox guard a raw two-by-two cannot give), the
  * Cramér–von Mises two-sample statistic (the integrated-gap
  * complement to KS's single worst point), lexical-diversity
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
  */
object Round16Ops {
  import OracleMath._

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
    val perUser = ev.crossJoin(broadcast(span))
      .groupBy(col("user_id"))
      .agg(
        dsum(when(unix_micros(col("ts")) * 2 <= col("lo") + col("hi"), col("value"))
          .otherwise(lit(0.0))).as("x"),
        dsum(when(unix_micros(col("ts")) * 2 <= col("lo") + col("hi"), lit(0.0))
          .otherwise(col("value"))).as("y"))
      .select(
        when(md5(concat(lit("exp1:"), col("user_id").cast("string"))) < "8", "A")
          .otherwise("B").as("variant"),
        col("x"), col("y"))
    val xd = col("x").cast("double")
    val yd = col("y").cast("double")
    val m = perUser.groupBy(col("variant"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(round(xd * yd, 12).cast(Dec12)).as("sxy"),
        sum(round(xd * xd, 12).cast(Dec12)).as("sxx"),
        sum(round(yd * yd, 12).cast(Dec12)).as("syy"))
    val wide = m.agg(
      sum(when(col("variant") === "A", col("n"))).as("na"),
      sum(when(col("variant") === "B", col("n"))).as("nb"),
      sum(when(col("variant") === "A", col("sx"))).as("sxa"),
      sum(when(col("variant") === "B", col("sx"))).as("sxb"),
      sum(when(col("variant") === "A", col("sy"))).as("sya"),
      sum(when(col("variant") === "B", col("sy"))).as("syb"),
      sum(col("sxy")).as("sxy"), sum(col("sxx")).as("sxx"), sum(col("syy")).as("syy"))
    def d(c: String) = col(c).cast("double")
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
    """WITH span AS (
      |  SELECT CAST(min(epoch_us(ts)) AS BIGINT) AS lo,
      |         CAST(max(epoch_us(ts)) AS BIGINT) AS hi
      |  FROM events
      |), pu AS (
      |  SELECT user_id,
      |    sum(CAST(CASE WHEN epoch_us(ts) * 2 <= lo + hi THEN value ELSE 0.0 END AS DECIMAL(38,6))) AS x,
      |    sum(CAST(CASE WHEN epoch_us(ts) * 2 <= lo + hi THEN 0.0 ELSE value END AS DECIMAL(38,6))) AS y
      |  FROM events CROSS JOIN span GROUP BY user_id
      |), v AS (
      |  SELECT CASE WHEN md5('exp1:' || CAST(user_id AS VARCHAR)) < '8' THEN 'A' ELSE 'B' END AS variant,
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
        when(md5(concat(lit("exp1:"), col("user_id").cast("string"))) < "8", "A")
          .otherwise("B").as("variant"),
        when(col("n_ev") < 60, "1_low").when(col("n_ev") < 75, "2_mid")
          .otherwise("3_high").as("stratum"),
        when(col("np") >= 14, 1L).otherwise(0L).as("conv"))
    def cell(v: String, cv: Long) =
      sum(when(col("variant") === v && col("conv") === cv, 1L).otherwise(0L))
    val cells = perUser.groupBy(col("stratum"))
      .agg(cell("B", 1L).as("a"), cell("B", 0L).as("b"),
        cell("A", 1L).as("c"), cell("A", 0L).as("d"))
    def d(c: String) = col(c).cast("double")
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
          .otherwise(emit(col("num").cast("double") / col("den").cast("double"), 6))
          .as("or_mh"))
      .orderBy(col("stratum"))
  }

  val mantelHaenszelSql: String =
    """WITH pu AS (
      |  SELECT user_id, count(*) AS n_ev,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
      |  FROM events GROUP BY user_id
      |), v AS (
      |  SELECT
      |    CASE WHEN md5('exp1:' || CAST(user_id AS VARCHAR)) < '8' THEN 'A' ELSE 'B' END AS variant,
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
    exact("cuped_lift_report", cupedLiftReport, cupedLiftReportSql),
    exact("mantel_haenszel", mantelHaenszel, mantelHaenszelSql),
    exact("cvm_drift_test", cvmDriftTest, cvmDriftTestSql),
    exact("distinct_ngram_report", distinctNgramReport, distinctNgramReportSql),
    exact("spectral_power", spectralPower, spectralPowerSql),
    exact("map_report", mapReport, mapReportSql))
}
