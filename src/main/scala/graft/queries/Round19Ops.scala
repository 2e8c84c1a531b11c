package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.exact

/** Round-19 operators (repo round 8, continued) — the estimation-QA
  * axis: how much is MISSING and how far can a point estimate be
  * trusted. Good–Turing missing mass (what share of the next batch's
  * tokens has never been seen), Chapman capture–recapture (how many
  * active users exist beyond the ones observed), empirical-Bayes
  * (James–Stein-style) shrinkage of per-segment means (the
  * small-sample stabilizer every per-segment metric report needs),
  * and split-conformal calibration of a regression's predictive
  * interval (distribution-free coverage, the modern ML-QA read).
  *
  * House rules as Round15–18: exact integer/decimal moments, double
  * chains mirrored token for token, emits via OracleMath.emit,
  * bounded outputs, unique sort keys.
  */
object Round19Ops {
  import OracleMath._

  /** #407 good_turing_mass — the Good–Turing frequency-of-frequencies
    * table over word 3-GRAMS: V(m) = how many distinct grams occur
    * exactly m times (m = 1..10), the smoothed count
    * m* = (m+1)·V(m+1)/V(m), and the unseen-mass estimate
    * P0 = V(1)/N (Good 1953) — the share of the NEXT sample expected
    * to be grams never seen, the coverage number a corpus-growth
    * decision reads (heaps_law_fit #335 extrapolates vocabulary
    * GROWTH; this prices what today's corpus MISSES; Kneser–Ney #333
    * assumes a fixed discount — V(1)/V(2) is where that discount
    * comes from). Grams, not unigrams, deliberately: this corpus has
    * a 31-token vocabulary where every word occurs ≥26 times (the
    * unigram table is empty at every SF), and the n-gram
    * count-of-counts is the form LM smoothing actually consumes.
    * Scale: one gram pass (the shared gramRows device), one gram-key
    * count, one |counts|-key histogram — map-side-combined
    * aggregates, output 10 rows. Exact integers; ratios divide exact
    * longs. Exact oracle.
    */
  def goodTuringMass(s: SparkSession, dir: String): DataFrame = {
    val counts = TextOps.gramRows(Tables.documents(s, dir), 3, distinct = false)
      .groupBy(col("g")).agg(count(lit(1)).as("m"))
    val cut = graft.Lineage.cut(counts)
    val fof = cut.groupBy(col("m")).agg(count(lit(1)).as("vm"))
    // V(1) rides the totals aggregate so a singleton-free corpus reads
    // p0 = 0 identically in both engines instead of diverging
    val tot = cut.agg(sum(col("m")).as("n_tokens"), count(lit(1)).as("vocab"),
      sum(when(col("m") === 1L, 1L).otherwise(0L)).as("v1"))
    val nextV = fof.select((col("m") - 1).as("m"), col("vm").as("vm_next"))
    fof
      .join(nextV, Seq("m"), "left")
      .crossJoin(broadcast(tot))
      .filter(col("m") <= 10)
      .select(
        col("m"), col("vm"),
        coalesce(col("vm_next"), lit(0L)).as("vm_next"),
        emit((col("m") + 1).cast("double") * coalesce(col("vm_next"), lit(0L)).cast("double")
          / col("vm").cast("double"), 6).as("gt_count"),
        col("n_tokens"), col("vocab"),
        emit(col("vm").cast("double") * col("m").cast("double")
          / col("n_tokens").cast("double"), 6).as("mass_share"),
        emit(col("v1").cast("double") / col("n_tokens").cast("double"), 6).as("p0_unseen"))
      .orderBy(col("m"))
  }

  val goodTuringMassSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (
      |  SELECT unnest([ws[i]||' '||ws[i+1]||' '||ws[i+2]
      |          for i in range(1, greatest(len(ws)-1, 1))]) AS g
      |  FROM w
      |), counts AS (SELECT g, count(*) AS m FROM g GROUP BY 1),
      |fof AS (SELECT m, count(*) AS vm FROM counts GROUP BY 1),
      |tot AS (SELECT CAST(sum(m) AS BIGINT) AS n_tokens, count(*) AS vocab,
      |  CAST(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1 FROM counts)
      |SELECT f.m, f.vm,
      |  CAST(coalesce(nx.vm, 0) AS BIGINT) AS vm_next,
      |  (CAST(round(CAST(CAST(f.m + 1 AS DOUBLE) * CAST(coalesce(nx.vm, 0) AS DOUBLE)
      |    / CAST(f.vm AS DOUBLE) AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS gt_count,
      |  n_tokens, vocab,
      |  (CAST(round(CAST(CAST(f.vm AS DOUBLE) * CAST(f.m AS DOUBLE)
      |    / CAST(n_tokens AS DOUBLE) AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS mass_share,
      |  (CAST(round(CAST(CAST(v1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS p0_unseen
      |FROM fof f
      |LEFT JOIN (SELECT m - 1 AS m, vm FROM fof) nx ON f.m = nx.m
      |CROSS JOIN tot
      |WHERE f.m <= 10
      |ORDER BY f.m""".stripMargin

  /** #408 capture_recapture — the Chapman estimator of the active-user
    * population from two observation windows (first vs second half of
    * the event calendar, the lang_drift date-split device): n1 users
    * seen in w1, n2 in w2, m in both; N̂ = (n1+1)(n2+1)/(m+1) − 1
    * with its standard error — how many active users EXIST beyond the
    * ones any single window observes (mau counts observed users; this
    * estimates the unobserved remainder, the ecology estimator applied
    * to user-base sizing). Scale: one per-user min/max-date aggregate
    * (user-keyed, map-side combined), then constant-size algebra on
    * three exact longs. Exact oracle.
    */
  def captureRecapture(s: SparkSession, dir: String): DataFrame = {
    val d0 = Tables.events(s, dir).select(col("user_id"), to_date(col("ts")).as("d"))
    val span = d0.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val marked = d0.crossJoin(broadcast(span))
      .select(col("user_id"),
        when(datediff(col("d"), col("lo")) * 2 <= datediff(col("hi"), col("lo")), 1L)
          .otherwise(2L).as("half"))
      .groupBy(col("user_id"))
      .agg(max(when(col("half") === 1L, 1L).otherwise(0L)).as("in1"),
        max(when(col("half") === 2L, 1L).otherwise(0L)).as("in2"))
    val cells = marked.agg(
      sum(col("in1")).as("n1"),
      sum(col("in2")).as("n2"),
      sum(col("in1") * col("in2")).as("m"))
    def d(c: String) = col(c).cast("double")
    val nHat = (d("n1") + 1.0) * (d("n2") + 1.0) / (d("m") + 1.0) - 1.0
    val varHat = (d("n1") + 1.0) * (d("n2") + 1.0) *
      (d("n1") - d("m")) * (d("n2") - d("m")) /
      ((d("m") + 1.0) * (d("m") + 1.0) * (d("m") + 2.0))
    cells.select(
      col("n1"), col("n2"), col("m"),
      emit(nHat, 4).as("n_hat"),
      emit(sqrt(varHat), 4).as("se"),
      emit(d("m") / d("n2"), 6).as("recapture_rate"))
  }

  val captureRecaptureSql: String =
    """WITH d0 AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
      |span AS (SELECT min(d) AS lo, max(d) AS hi FROM d0),
      |marked AS (
      |  SELECT user_id,
      |    max(CASE WHEN (d - lo) * 2 <= (hi - lo) THEN 1 ELSE 0 END) AS in1,
      |    max(CASE WHEN (d - lo) * 2 <= (hi - lo) THEN 0 ELSE 1 END) AS in2
      |  FROM d0 CROSS JOIN span GROUP BY 1
      |), cells AS (
      |  SELECT CAST(sum(in1) AS BIGINT) AS n1, CAST(sum(in2) AS BIGINT) AS n2,
      |    CAST(sum(in1 * in2) AS BIGINT) AS m
      |  FROM marked
      |)
      |SELECT n1, n2, m,
      |  (CAST(round(CAST((CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0)
      |    / (CAST(m AS DOUBLE) + 1.0) - 1.0 AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS n_hat,
      |  (CAST(round(sqrt((CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0)
      |    * (CAST(n1 AS DOUBLE) - CAST(m AS DOUBLE)) * (CAST(n2 AS DOUBLE) - CAST(m AS DOUBLE))
      |    / ((CAST(m AS DOUBLE) + 1.0) * (CAST(m AS DOUBLE) + 1.0) * (CAST(m AS DOUBLE) + 2.0))), 4) AS DOUBLE) + 0.0) AS se,
      |  (CAST(round(CAST(CAST(m AS DOUBLE) / CAST(n2 AS DOUBLE) AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS recapture_rate
      |FROM cells""".stripMargin

  /** #409 james_stein_means — empirical-Bayes (normal–normal) shrinkage
    * of per-language mean document length: each segment mean m_i pulls
    * toward the unweighted grand mean with weight
    * w_i = τ̂²/(τ̂² + σ̂²/n_i), where σ̂² pools the within-segment
    * variance and τ̂² is the method-of-moments between-segment variance
    * max(0, var(m_i) − mean(σ̂²/n_i)) — the James–Stein insight as a
    * production table: a 50-document language's raw mean is mostly
    * noise and shrinks hard, a 50k-document language's barely moves.
    * Every per-segment metric report at 100 TB has this small-cell
    * problem; this is the standard fix. Scale: ONE grouped moment pass
    * (n/Σx/Σx² exact in DECIMAL(38,0)), then |langs|-row algebra with
    * the pooled scalars broadcast; cross-segment sums 12-dp→Dec12.
    * Exact oracle.
    */
  def jamesSteinMeans(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(dec0(col("n_chars"))).as("s1"),
        sum(dec0(col("n_chars")) * dec0(col("n_chars"))).as("s2"))
    def d(c: String) = col(c).cast("double")
    val mean = d("s1") / d("n")
    val ssw = d("s2") - d("s1") * (d("s1") / d("n"))
    val withM = graft.Lineage.cut(
      g.select(col("lang"), col("n"), mean.as("m"), ssw.as("ssw")))
    val pooled = withM.agg(
      count(lit(1)).as("k"),
      sum(col("n")).as("nn"),
      sum(round(col("m"), 12).cast(Dec12)).as("sm"),
      sum(round(col("m") * col("m"), 12).cast(Dec12)).as("sm2"),
      sum(round(col("ssw"), 12).cast(Dec12)).as("sswt"),
      sum(round(lit(1.0) / d("n"), 12).cast(Dec12)).as("sinv"))
    def k = col("k").cast("double")
    val gm = col("sm").cast("double") / k
    val varMeans = (col("sm2").cast("double") - col("sm").cast("double") * gm) / (k - 1.0)
    val sig2 = col("sswt").cast("double") / (col("nn").cast("double") - k)
    val meanSe2 = sig2 * col("sinv").cast("double") / k
    val tau2 = greatest(varMeans - meanSe2, lit(0.0))
    val w = withM.crossJoin(broadcast(pooled))
      .select(col("lang"), col("n"), col("m"),
        gm.as("grand_mean"), tau2.as("tau2"), sig2.as("sig2"))
      .withColumn("w", col("tau2") / (col("tau2") + col("sig2") / col("n").cast("double")))
    w.select(
      col("lang"), col("n"),
      emit(col("m"), 4).as("raw_mean"),
      emit(col("grand_mean"), 4).as("grand_mean"),
      emit(col("w"), 6).as("shrink_weight"),
      emit(col("w") * col("m") + (lit(1.0) - col("w")) * col("grand_mean"), 4)
        .as("shrunk_mean"))
      .orderBy(col("lang"))
  }

  val jamesSteinMeansSql: String =
    """WITH g AS (
      |  SELECT lang, count(*) AS n,
      |    sum(CAST(n_chars AS DECIMAL(38,0))) AS s1,
      |    sum(CAST(n_chars AS DECIMAL(38,0)) * CAST(n_chars AS DECIMAL(38,0))) AS s2
      |  FROM documents GROUP BY 1
      |), wm AS (
      |  SELECT lang, n,
      |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
      |    CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS ssw
      |  FROM g
      |), pooled AS (
      |  SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS nn,
      |    sum(CAST(round(CAST(m AS DECIMAL(28,14)), 12) AS DECIMAL(38,12))) AS sm,
      |    sum(CAST(round(CAST(m * m AS DECIMAL(28,14)), 12) AS DECIMAL(38,12))) AS sm2,
      |    sum(CAST(round(CAST(ssw AS DECIMAL(28,14)), 12) AS DECIMAL(38,12))) AS sswt,
      |    sum(CAST(round(CAST(1.0 / CAST(n AS DOUBLE) AS DECIMAL(28,14)), 12) AS DECIMAL(38,12))) AS sinv
      |  FROM wm
      |), scal AS (
      |  SELECT
      |    CAST(sm AS DOUBLE) / CAST(k AS DOUBLE) AS gm,
      |    greatest(
      |      (CAST(sm2 AS DOUBLE) - CAST(sm AS DOUBLE) * (CAST(sm AS DOUBLE) / CAST(k AS DOUBLE)))
      |        / (CAST(k AS DOUBLE) - 1.0)
      |      - (CAST(sswt AS DOUBLE) / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)))
      |        * CAST(sinv AS DOUBLE) / CAST(k AS DOUBLE),
      |      0.0) AS tau2,
      |    CAST(sswt AS DOUBLE) / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)) AS sig2
      |  FROM pooled
      |)
      |SELECT lang, n,
      |  (CAST(round(CAST(m AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS raw_mean,
      |  (CAST(round(CAST(gm AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS grand_mean,
      |  (CAST(round(CAST(tau2 / (tau2 + sig2 / CAST(n AS DOUBLE)) AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS shrink_weight,
      |  (CAST(round(CAST((tau2 / (tau2 + sig2 / CAST(n AS DOUBLE))) * m
      |    + (1.0 - tau2 / (tau2 + sig2 / CAST(n AS DOUBLE))) * gm AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS shrunk_mean
      |FROM wm CROSS JOIN scal
      |ORDER BY lang""".stripMargin

  /** #410 conformal_interval — split-conformal calibration of the OLS
    * fit (#383's revenue-on-quantity line, per return flag):
    * even-l_orderkey rows fit the line from exact moments,
    * odd-l_orderkey rows calibrate — the 0.9 exact quantile of the
    * absolute residual is the distribution-free predictive half-width
    * (Vovk; split-conformal), and the emitted coverage share proves
    * the guarantee on the calibration set itself. ols_regression
    * reports the fit's QUALITY (R²); this prices its predictive
    * UNCERTAINTY with no normality assumption — the interval an ML
    * consumer of the fit should actually quote. Scale: one grouped
    * moment pass on the fit half, one broadcast of the 3-row fit, one
    * grouped exact-percentile pass on the calibration half
    * (percentile ↔ quantile_cont, the proven #27 bridge), one
    * share aggregate. Exact oracle.
    */
  def conformalInterval(s: SparkSession, dir: String): DataFrame = {
    // fan the single-row-group lineitem scan (r10, measured): the fit's
    // decimal moment pass fused with the scan into a ~2 s near-serial
    // stage at sf0.1; the fan spreads the four projected columns across
    // the cores (identity once the scan has enough splits)
    val li = graft.GraftSession.fan(Tables.lineitem(s, dir), col("l_orderkey"))
      .select(col("l_returnflag").as("flag"), (col("l_orderkey") % 2).as("par"),
        col("l_quantity").as("x"), col("l_extendedprice").as("y"))
    val Dec6 = org.apache.spark.sql.types.DecimalType(38, 6)
    def dec6(c: Column): Column = round(c, 6).cast(Dec6)
    val fit = li.filter(col("par") === 0)
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n"),
        sum(dec6(col("x"))).as("sx"), sum(dec6(col("y"))).as("sy"),
        sum(dec6(col("x") * col("y"))).as("sxy"),
        sum(dec6(col("x") * col("x"))).as("sx2"))
    def d(c: String) = col(c).cast("double")
    val slope = (d("n") * d("sxy") - d("sx") * d("sy")) /
      (d("n") * d("sx2") - d("sx") * d("sx"))
    val line = graft.Lineage.cut(fit.select(col("flag"), slope.as("slope"),
      (d("sy") / d("n")).as("my"), (d("sx") / d("n")).as("mx"))
      .select(col("flag"), col("slope"),
        (col("my") - col("slope") * col("mx")).as("intercept")))
    // the calibration frame feeds BOTH the quantile pass and the
    // coverage count: cut once so the fit join runs once
    val calib = graft.Lineage.cut(li.filter(col("par") === 1)
      .join(broadcast(line), Seq("flag"))
      .select(col("flag"), col("slope"), col("intercept"),
        abs(col("y") - (col("slope") * col("x") + col("intercept"))).as("ar")))
    val q = calib.groupBy(col("flag"), col("slope"), col("intercept"))
      .agg(count(lit(1)).as("n_calib"),
        expr("percentile(ar, 0.9)").as("q90"))
    calib
      .join(broadcast(q.select(col("flag"), col("q90"))), Seq("flag"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("_n"),
        sum(when(col("ar") <= col("q90"), 1L).otherwise(0L)).as("covered"))
      .join(q, Seq("flag"))
      .select(
        col("flag").as("l_returnflag"), col("n_calib"),
        emit(col("slope"), 6).as("slope"),
        emit(col("intercept"), 4).as("intercept"),
        emit(col("q90"), 4).as("q90_abs_resid"),
        emit(col("covered").cast("double") / col("n_calib").cast("double"), 6)
          .as("coverage"))
      .orderBy(col("l_returnflag"))
  }

  val conformalIntervalSql: String =
    """WITH li AS (
      |  SELECT l_returnflag AS flag, l_orderkey % 2 AS par,
      |    l_quantity AS x, l_extendedprice AS y
      |  FROM lineitem
      |), fit AS (
      |  SELECT flag, count(*) AS n,
      |    sum(CAST(round(x, 6) AS DECIMAL(38,6))) AS sx,
      |    sum(CAST(round(y, 6) AS DECIMAL(38,6))) AS sy,
      |    sum(CAST(round(x * y, 6) AS DECIMAL(38,6))) AS sxy,
      |    sum(CAST(round(x * x, 6) AS DECIMAL(38,6))) AS sx2
      |  FROM li WHERE par = 0 GROUP BY 1
      |), line AS (
      |  SELECT flag,
      |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
      |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my,
      |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx
      |  FROM fit
      |), line2 AS (
      |  SELECT flag, slope, my - slope * mx AS intercept FROM line
      |), calib AS (
      |  SELECT li.flag, slope, intercept,
      |    abs(y - (slope * x + intercept)) AS ar
      |  FROM li JOIN line2 ON li.flag = line2.flag
      |  WHERE par = 1
      |), q AS (
      |  SELECT flag, slope, intercept, count(*) AS n_calib,
      |    quantile_cont(ar, 0.9) AS q90
      |  FROM calib GROUP BY 1, 2, 3
      |), cov AS (
      |  SELECT calib.flag,
      |    CAST(sum(CASE WHEN ar <= q90 THEN 1 ELSE 0 END) AS BIGINT) AS covered,
      |    count(*) AS nc
      |  FROM calib JOIN q ON calib.flag = q.flag
      |  GROUP BY 1
      |)
      |SELECT q.flag AS l_returnflag, n_calib,
      |  (CAST(round(slope, 6) AS DOUBLE) + 0.0) AS slope,
      |  (CAST(round(intercept, 4) AS DOUBLE) + 0.0) AS intercept,
      |  (CAST(round(q90, 4) AS DOUBLE) + 0.0) AS q90_abs_resid,
      |  (CAST(round(CAST(covered AS DOUBLE) / CAST(nc AS DOUBLE), 6) AS DOUBLE) + 0.0) AS coverage
      |FROM q JOIN cov ON q.flag = cov.flag
      |ORDER BY l_returnflag""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("good_turing_mass", goodTuringMass, goodTuringMassSql),
    exact("capture_recapture", captureRecapture, captureRecaptureSql),
    exact("james_stein_means", jamesSteinMeans, jamesSteinMeansSql),
    exact("conformal_interval", conformalInterval, conformalIntervalSql))
}
