package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.exact

/** Round-18 operators (repo round 8, continued) — the data-mixture
  * optimization step (DoReMi-style multiplicative reweighting, the
  * operation that turns per-source loss measurements into the next
  * training mix), an autocorrelation-robust standard error for daily
  * means (Newey–West — daily series are serially correlated and the
  * i.i.d. SE overstates certainty), a two-factor interaction screen
  * (does the language effect on length DRIFT between corpus halves —
  * the factorial question one-way tests can't pose), the
  * information-gain decision stump (the single most predictive
  * threshold, the root of every tree a feature-usefulness probe
  * needs). graph_closeness lives in [[GraphOps]].
  *
  * House rules as Round15-17: exact integer/decimal moments, double
  * chains mirrored token for token, 12-dp-rounded libm-adjacent
  * terms into order-free DECIMAL(38,12) sums, emits via
  * OracleMath.emit, bounded outputs, unique sort keys.
  */
object Round18Ops {
  import OracleMath._

  /** #399 mixture_reweight_step — one DoReMi-style multiplicative-
    * weights update of the corpus mix (Xie et al. 2023 reduced to its
    * exact-arithmetic core): per source the baseline weight (token
    * share), the unigram cross-entropy loss −Σln p(tok)/n (the
    * doc_perplexity #212 model aggregated per source), the excess
    * over the mix-weighted average loss, and the reweighted
    * w′ ∝ w·exp(η·excess), η=0.1 — sources the model finds HARD gain
    * weight, the update a mixture tuner iterates (corpus_mix_weights
    * #218 PRESCRIBES a mix from priors; this LEARNS the next one
    * from measured loss). Every cross-source sum (mix-average loss,
    * normalizer Z) is a 12-dp-rounded product in a DECIMAL(38,12)
    * sum; the exp factors round to 12 dp (the markov device).
    * Scale: one tokenize pass, a token-keyed model join (co-keyed),
    * a |sources|-row rollup. Exact oracle.
    */
  def mixtureReweightStep(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val cut = graft.Lineage.cut(toks)
    val model = cut.groupBy(col("token")).agg(count(lit(1)).as("tf"))
    val total = cut.agg(count(lit(1)).as("total"))
    val bySrc = cut
      .join(model, Seq("token"))
      .crossJoin(broadcast(total))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_tokens"),
        max(col("total")).as("total"),
        sum(round(log(col("tf").cast("double") / col("total").cast("double")), 12)
          .cast(Dec12)).as("slp"))
    def d(c: String) = col(c).cast("double")
    val wBase = d("n_tokens") / d("total")
    val loss = -(d("slp") / d("n_tokens"))
    val terms = bySrc.select(col("source"), col("n_tokens"), col("total"),
      wBase.as("w"), loss.as("loss"))
    val avg = terms.agg(
      sum(round(col("w") * col("loss"), 12).cast(Dec12)).as("avg_loss"))
    val withF = terms.crossJoin(broadcast(avg))
      .select(col("source"), col("n_tokens"), col("w"), col("loss"),
        (col("loss") - col("avg_loss").cast("double")).as("excess"))
      .select(col("source"), col("n_tokens"), col("w"), col("loss"), col("excess"),
        round(col("w") * round(exp(lit(0.1) * col("excess")), 12), 12).as("wf"))
    val z = withF.agg(sum(col("wf").cast(Dec12)).as("z"))
    withF.crossJoin(broadcast(z))
      .select(
        col("source"), col("n_tokens"),
        emit(col("w"), 6).as("w_base"),
        emit(col("loss"), 4).as("loss"),
        emit(col("excess"), 4).as("excess"),
        emit(col("wf") / col("z").cast("double"), 6).as("w_new"))
      .orderBy(col("source"))
  }

  val mixtureReweightStepSql: String =
    """WITH t AS (
      |  SELECT source, tok AS token
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok <> ''
      |), model AS (SELECT token, count(*) AS tf FROM t GROUP BY 1),
      |total AS (SELECT count(*) AS total FROM t),
      |bysrc AS (
      |  SELECT source, count(*) AS n_tokens, max(total) AS total,
      |    sum(CAST(round(ln(CAST(tf AS DOUBLE) / CAST(total AS DOUBLE)), 12) AS DECIMAL(38,12))) AS slp
      |  FROM t JOIN model ON t.token = model.token CROSS JOIN total
      |  GROUP BY 1
      |), terms AS (
      |  SELECT source, n_tokens,
      |    CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS w,
      |    -(CAST(slp AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS loss
      |  FROM bysrc
      |), avg AS (
      |  SELECT sum(CAST(round(w * loss, 12) AS DECIMAL(38,12))) AS avg_loss FROM terms
      |), withf AS (
      |  SELECT source, n_tokens, w, loss,
      |    loss - CAST(avg_loss AS DOUBLE) AS excess,
      |    round(w * round(exp(0.1 * (loss - CAST(avg_loss AS DOUBLE))), 12), 12) AS wf
      |  FROM terms CROSS JOIN avg
      |), z AS (
      |  SELECT sum(CAST(wf AS DECIMAL(38,12))) AS z FROM withf
      |)
      |SELECT source, n_tokens,
      |  (CAST(round(w, 6) AS DOUBLE) + 0.0) AS w_base,
      |  (CAST(round(loss, 4) AS DOUBLE) + 0.0) AS loss,
      |  (CAST(round(excess, 4) AS DOUBLE) + 0.0) AS excess,
      |  (CAST(round(wf / CAST(z AS DOUBLE), 6) AS DOUBLE) + 0.0) AS w_new
      |FROM withf CROSS JOIN z
      |ORDER BY source""".stripMargin

  /** #400 hac_mean_se — the Newey–West (HAC) standard error of the
    * daily event-count mean with Bartlett weights over lags 1..5:
    * daily series are serially correlated (events_autocorr #150
    * measures exactly that), so the i.i.d. SE γ₀/T understates
    * uncertainty; the HAC long-run variance γ₀ + 2Σ(1−k/6)γₖ is the
    * standard correction every time-series mean report should carry.
    * The autocovariances come from lag columns over ONE bounded
    * calendar window; every (c_t−m)(c_{t−k}−m) product rounds to
    * 12 dp into a DECIMAL(38,12) sum (order-free), and the mean is
    * an exact long division. Output: one row per lag (γₖ and its
    * Bartlett weight) with the naive SE, HAC SE, and the inflation
    * ratio broadcast onto each. Exact oracle.
    */
  def hacMeanSe(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))
    val wOrd = Window.orderBy(col("d"))
    val lagged = (1 to 5).foldLeft(daily) { (df, k) =>
      df.withColumn(s"c$k", lag(col("c"), k).over(wOrd))
    }
    val tot = daily.agg(count(lit(1)).as("t"), sum(col("c")).as("sc"))
    val m = col("sc").cast("double") / col("t").cast("double")
    val dev = lagged.crossJoin(broadcast(tot))
      .select((Seq(col("t"), m.as("m"), col("c")) ++
        (1 to 5).map(k => col(s"c$k"))): _*)
    def gamma(k: Int): Column = {
      val lk = if (k == 0) col("c") else col(s"c$k")
      sum(when(lk.isNotNull,
        round((col("c").cast("double") - col("m")) * (lk.cast("double") - col("m")), 12)
          .cast(Dec12)))
    }
    val g = dev.groupBy(col("t"), col("m"))
      .agg(gamma(0).as("g0"), (1 to 5).map(k => gamma(k).as(s"g$k")): _*)
    def gd(k: Int) = col(s"g$k").cast("double") / col("t").cast("double")
    val lrv = (1 to 5).foldLeft(gd(0)) { (acc, k) =>
      acc + lit(2.0) * (lit(1.0) - lit(k / 6.0)) * gd(k)
    }
    val seN = sqrt(gd(0) / col("t").cast("double"))
    val seH = sqrt(lrv / col("t").cast("double"))
    val wide = g.select(
      (Seq(col("t").as("t_days"), emit(col("m"), 4).as("mean"),
        emit(seN, 6).as("se_naive"), emit(seH, 6).as("se_hac"),
        emit(seH / seN, 4).as("inflation")) ++
        (0 to 5).map(k => emit(gd(k), 4).as(s"gv$k"))): _*)
    val lags = wide.select(
      col("t_days"), col("mean"), col("se_naive"), col("se_hac"), col("inflation"),
      explode(array((0 to 5).map(k =>
        struct(lit(k).as("lag"),
          emit(lit(1.0) - lit(k).cast("double") / lit(6.0), 4).as("bartlett_w"),
          col(s"gv$k").as("gamma"))): _*)).as("e"))
    lags.select(
      col("e.lag").as("lag"), col("e.gamma").as("gamma"),
      col("e.bartlett_w").as("bartlett_w"),
      col("t_days"), col("mean"), col("se_naive"), col("se_hac"), col("inflation"))
      .orderBy(col("lag"))
  }

  val hacMeanSeSql: String = {
    // DuckDB (like ANSI) rejects a window function inside an aggregate
    // argument — materialize the lag columns in their own CTE first
    val lagCols = (1 to 5).map(k => s"lag(c, $k) OVER (ORDER BY d) AS c$k").mkString(",\n    ")
    val gammas = (0 to 5).map { k =>
      val lk = if (k == 0) "c" else s"c$k"
      s"""sum(CASE WHEN $lk IS NOT NULL THEN
         |      CAST(round((CAST(c AS DOUBLE) - m) * (CAST($lk AS DOUBLE) - m), 12) AS DECIMAL(38,12))
         |    END) AS g$k""".stripMargin
    }.mkString(",\n    ")
    val lagRows = (0 to 5).map { k =>
      s"SELECT $k AS lag, (CAST(round(CAST(g$k AS DOUBLE) / CAST(t AS DOUBLE), 4) AS DOUBLE) + 0.0) AS gamma," +
        s" (CAST(round(1.0 - CAST($k AS DOUBLE) / 6.0, 4) AS DOUBLE) + 0.0) AS bartlett_w," +
        " t_days, mean, se_naive, se_hac, inflation FROM wide"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS d, count(*) AS c FROM events GROUP BY 1
       |), tot AS (
       |  SELECT count(*) AS t, CAST(sum(c) AS BIGINT) AS sc FROM daily
       |), dm AS (
       |  SELECT d, c, t, CAST(sc AS DOUBLE) / CAST(t AS DOUBLE) AS m
       |  FROM daily CROSS JOIN tot
       |), lagged AS (
       |  SELECT d, c, t, m,
       |    $lagCols
       |  FROM dm
       |), g AS (
       |  SELECT t, m,
       |    $gammas
       |  FROM lagged GROUP BY t, m
       |), lrv AS (
       |  SELECT t, m, g0, g1, g2, g3, g4, g5,
       |    CAST(g0 AS DOUBLE) / CAST(t AS DOUBLE)
       |      + 2.0 * (1.0 - ${1 / 6.0}) * (CAST(g1 AS DOUBLE) / CAST(t AS DOUBLE))
       |      + 2.0 * (1.0 - ${2 / 6.0}) * (CAST(g2 AS DOUBLE) / CAST(t AS DOUBLE))
       |      + 2.0 * (1.0 - ${3 / 6.0}) * (CAST(g3 AS DOUBLE) / CAST(t AS DOUBLE))
       |      + 2.0 * (1.0 - ${4 / 6.0}) * (CAST(g4 AS DOUBLE) / CAST(t AS DOUBLE))
       |      + 2.0 * (1.0 - ${5 / 6.0}) * (CAST(g5 AS DOUBLE) / CAST(t AS DOUBLE)) AS v
       |  FROM g
       |), wide AS (
       |  SELECT t, g0, g1, g2, g3, g4, g5,
       |    t AS t_days,
       |    (CAST(round(m, 4) AS DOUBLE) + 0.0) AS mean,
       |    (CAST(round(sqrt((CAST(g0 AS DOUBLE) / CAST(t AS DOUBLE)) / CAST(t AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS se_naive,
       |    (CAST(round(sqrt(v / CAST(t AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS se_hac,
       |    (CAST(round(sqrt(v / CAST(t AS DOUBLE)) / sqrt((CAST(g0 AS DOUBLE) / CAST(t AS DOUBLE)) / CAST(t AS DOUBLE)), 4) AS DOUBLE) + 0.0) AS inflation
       |  FROM lrv
       |)
       |SELECT lag, gamma, bartlett_w, t_days, mean, se_naive, se_hac, inflation FROM (
       |  $lagRows
       |)
       |ORDER BY lag""".stripMargin
  }

  /** #401 lang_drift_interaction — the two-factor unweighted-means
    * ANOVA: language × corpus half (the ks_drift doc_id split) on
    * document length, emitting the main-effect and INTERACTION F
    * ratios. The interaction row answers what no one-way test can:
    * did the language–length relationship itself DRIFT between
    * halves (anova_length #317 pools halves; ks/cvm compare
    * distributions ignoring language structure). Unweighted-means
    * with the harmonic cell size is the classical unbalanced-design
    * approximation — every cell moment (n, Σx, Σx² in DECIMAL(38,0))
    * is exact, the 2·|langs| cell grid is bounded, and all
    * cross-cell sums round to 12 dp into DECIMAL(38,12). Scale: ONE
    * fine-grained aggregate over documents, then constant-size
    * algebra. Exact oracle.
    */
  def langDriftInteraction(s: SparkSession, dir: String): DataFrame = {
    val d0 = Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
    val span = d0.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val cells = d0.crossJoin(broadcast(span))
      .select(col("lang"),
        when((col("doc_id") - col("lo")) * 2 <= (col("hi") - col("lo")), 1L)
          .otherwise(2L).as("half"),
        col("n_chars"))
      .groupBy(col("lang"), col("half"))
      .agg(count(lit(1)).as("n"),
        sum(dec0(col("n_chars"))).as("s1"),
        sum(dec0(col("n_chars")) * dec0(col("n_chars"))).as("s2"))
    val cut = graft.Lineage.cut(cells)
    def d(c: String) = col(c).cast("double")
    val mean = (d("s1") / d("n")).as("m")
    val withM = cut.select(col("lang"), col("half"), col("n"), col("s1"), col("s2"), mean)
    // constant-size frames from here: means per row/col/grand, harmonic n
    val rowM = withM.groupBy(col("lang"))
      .agg(sum(round(col("m"), 12).cast(Dec12)).as("sm"), count(lit(1)).as("nc"))
      .select(col("lang"), (col("sm").cast("double") / col("nc").cast("double")).as("rm"))
    val colM = withM.groupBy(col("half"))
      .agg(sum(round(col("m"), 12).cast(Dec12)).as("sm"), count(lit(1)).as("nc"))
      .select(col("half"), (col("sm").cast("double") / col("nc").cast("double")).as("cm"))
    val grand = withM.agg(
      (sum(round(col("m"), 12).cast(Dec12)).cast("double")
        / count(lit(1)).cast("double")).as("gm"),
      count(lit(1)).as("ncells"),
      sum(col("n")).as("nn"),
      sum(round(lit(1.0) / d("n"), 12).cast(Dec12)).as("sinv"),
      sum(round(d("s2") - d("s1") * (d("s1") / d("n")), 12).cast(Dec12)).as("sse"),
      countDistinct(col("lang")).as("a"),
      countDistinct(col("half")).as("b"))
    val full = withM
      .join(broadcast(rowM), Seq("lang"))
      .join(broadcast(colM), Seq("half"))
      .crossJoin(broadcast(grand))
    val nh = col("ncells").cast("double") / col("sinv").cast("double")
    // one SS term per row/column level (dedup via groupBy on the level
    // mean); a/b stay on `grand` alone so the final cross joins carry
    // each name exactly once
    val ssA = full.groupBy(col("lang"), col("rm"), col("gm"))
      .agg(count(lit(1)).as("_c"))
      .agg(sum(round((col("rm") - col("gm")) * (col("rm") - col("gm")), 12).cast(Dec12))
        .as("ssa0"))
    val ssB = full.groupBy(col("half"), col("cm"), col("gm"))
      .agg(count(lit(1)).as("_c"))
      .agg(sum(round((col("cm") - col("gm")) * (col("cm") - col("gm")), 12).cast(Dec12))
        .as("ssb0"))
    val ssI = full.agg(
      sum(round((col("m") - col("rm") - col("cm") + col("gm"))
        * (col("m") - col("rm") - col("cm") + col("gm")), 12).cast(Dec12)).as("ssi0"))
    val scalars = grand
      .crossJoin(ssA).crossJoin(ssB).crossJoin(ssI)
      .select(
        col("a"), col("b"), col("nn"), col("ncells"),
        (nh * col("b").cast("double") * col("ssa0").cast("double")).as("ss_lang"),
        (nh * col("a").cast("double") * col("ssb0").cast("double")).as("ss_half"),
        (nh * col("ssi0").cast("double")).as("ss_int"),
        col("sse").cast("double").as("sse"))
    val mse = col("sse") / (col("nn") - col("ncells")).cast("double")
    scalars.select(
      col("a"), col("b"), col("nn"), col("ncells"), col("ss_lang"), col("ss_half"),
      col("ss_int"), col("sse"), mse.as("mse"))
      .select(explode(array(
        struct(lit("1_lang").as("effect"),
          (col("a") - 1).cast("long").as("df1"),
          (col("nn") - col("ncells")).cast("long").as("df2"),
          emit(col("ss_lang"), 4).as("ss"),
          emit(col("ss_lang") / (col("a") - 1).cast("double") / col("mse"), 4).as("f_stat")),
        struct(lit("2_half").as("effect"),
          (col("b") - 1).cast("long").as("df1"),
          (col("nn") - col("ncells")).cast("long").as("df2"),
          emit(col("ss_half"), 4).as("ss"),
          emit(col("ss_half") / (col("b") - 1).cast("double") / col("mse"), 4).as("f_stat")),
        struct(lit("3_interaction").as("effect"),
          ((col("a") - 1) * (col("b") - 1)).cast("long").as("df1"),
          (col("nn") - col("ncells")).cast("long").as("df2"),
          emit(col("ss_int"), 4).as("ss"),
          emit(col("ss_int") / ((col("a") - 1) * (col("b") - 1)).cast("double") / col("mse"), 4)
            .as("f_stat")))).as("e"))
      .select(col("e.effect").as("effect"), col("e.df1").as("df1"),
        col("e.df2").as("df2"), col("e.ss").as("ss"), col("e.f_stat").as("f_stat"))
      .orderBy(col("effect"))
  }

  val langDriftInteractionSql: String =
    """WITH span AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
      |cells AS (
      |  SELECT lang,
      |    CASE WHEN (doc_id - lo) * 2 <= (hi - lo) THEN 1 ELSE 2 END AS half,
      |    count(*) AS n,
      |    sum(CAST(n_chars AS DECIMAL(38,0))) AS s1,
      |    sum(CAST(n_chars AS DECIMAL(38,0)) * CAST(n_chars AS DECIMAL(38,0))) AS s2
      |  FROM documents CROSS JOIN span GROUP BY 1, 2
      |), wm AS (
      |  SELECT lang, half, n, s1, s2,
      |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m
      |  FROM cells
      |), rowm AS (
      |  SELECT lang,
      |    CAST(sum(CAST(round(m, 12) AS DECIMAL(38,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS rm
      |  FROM wm GROUP BY 1
      |), colm AS (
      |  SELECT half,
      |    CAST(sum(CAST(round(m, 12) AS DECIMAL(38,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS cm
      |  FROM wm GROUP BY 1
      |), grand AS (
      |  SELECT
      |    CAST(sum(CAST(round(m, 12) AS DECIMAL(38,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS gm,
      |    count(*) AS ncells,
      |    CAST(sum(n) AS BIGINT) AS nn,
      |    sum(CAST(round(1.0 / CAST(n AS DOUBLE), 12) AS DECIMAL(38,12))) AS sinv,
      |    sum(CAST(round(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 12) AS DECIMAL(38,12))) AS sse,
      |    count(DISTINCT lang) AS a,
      |    count(DISTINCT half) AS b
      |  FROM wm
      |), ssa AS (
      |  SELECT sum(CAST(round((rm - gm) * (rm - gm), 12) AS DECIMAL(38,12))) AS ssa0
      |  FROM rowm CROSS JOIN grand
      |), ssb AS (
      |  SELECT sum(CAST(round((cm - gm) * (cm - gm), 12) AS DECIMAL(38,12))) AS ssb0
      |  FROM colm CROSS JOIN grand
      |), ssi AS (
      |  SELECT sum(CAST(round((m - rm - cm + gm) * (m - rm - cm + gm), 12) AS DECIMAL(38,12))) AS ssi0
      |  FROM wm
      |  JOIN rowm ON wm.lang = rowm.lang
      |  JOIN colm ON wm.half = colm.half
      |  CROSS JOIN grand
      |), sc AS (
      |  SELECT a, b, nn, ncells,
      |    (CAST(ncells AS DOUBLE) / CAST(sinv AS DOUBLE)) * CAST(b AS DOUBLE) * CAST(ssa0 AS DOUBLE) AS ss_lang,
      |    (CAST(ncells AS DOUBLE) / CAST(sinv AS DOUBLE)) * CAST(a AS DOUBLE) * CAST(ssb0 AS DOUBLE) AS ss_half,
      |    (CAST(ncells AS DOUBLE) / CAST(sinv AS DOUBLE)) * CAST(ssi0 AS DOUBLE) AS ss_int,
      |    CAST(sse AS DOUBLE) AS sse,
      |    CAST(sse AS DOUBLE) / CAST(nn - ncells AS DOUBLE) AS mse
      |  FROM grand CROSS JOIN ssa CROSS JOIN ssb CROSS JOIN ssi
      |)
      |SELECT effect, df1, df2, ss, f_stat FROM (
      |  SELECT '1_lang' AS effect, CAST(a - 1 AS BIGINT) AS df1, CAST(nn - ncells AS BIGINT) AS df2,
      |    (CAST(round(ss_lang, 4) AS DOUBLE) + 0.0) AS ss,
      |    (CAST(round(ss_lang / CAST(a - 1 AS DOUBLE) / mse, 4) AS DOUBLE) + 0.0) AS f_stat
      |  FROM sc
      |  UNION ALL
      |  SELECT '2_half', CAST(b - 1 AS BIGINT), CAST(nn - ncells AS BIGINT),
      |    (CAST(round(ss_half, 4) AS DOUBLE) + 0.0),
      |    (CAST(round(ss_half / CAST(b - 1 AS DOUBLE) / mse, 4) AS DOUBLE) + 0.0)
      |  FROM sc
      |  UNION ALL
      |  SELECT '3_interaction', CAST((a - 1) * (b - 1) AS BIGINT), CAST(nn - ncells AS BIGINT),
      |    (CAST(round(ss_int, 4) AS DOUBLE) + 0.0),
      |    (CAST(round(ss_int / CAST((a - 1) * (b - 1) AS DOUBLE) / mse, 4) AS DOUBLE) + 0.0)
      |  FROM sc
      |)
      |ORDER BY effect""".stripMargin

  /** #402 best_split_stump — the information-gain decision stump:
    * the single n_chars threshold that best separates lang='en'
    * from the rest, found EXACTLY over the distinct-value histogram
    * (the ks/cvm cumsum device — candidate thresholds are the
    * observed values, gains computed from exact integer cumulative
    * counts; Breiman's CART root step as a set-oriented query).
    * This is the feature-usefulness probe behind every "is this
    * signal worth a tree" question (token_label_mi #328 scores
    * tokens; this scores a NUMERIC feature, threshold included).
    * Entropies guard p∈{0,1} cells to 0·ln0 = 0; the argmax is
    * deterministic on (6-dp gain, threshold). One histogram
    * aggregate, one bounded cumsum window, a 1-row argmax. Exact
    * oracle.
    */
  def bestSplitStump(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.documents(s, dir)
      .groupBy(col("n_chars"))
      .agg(count(lit(1)).as("ct"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("cp"))
    val w = Window.orderBy(col("n_chars")).rowsBetween(Window.unboundedPreceding, 0)
    val tot = hist.agg(sum(col("ct")).as("n"), sum(col("cp")).as("np"))
    def d(c: Column) = c.cast("double")
    def h(p: Column): Column =
      when(p <= 0.0 || p >= 1.0, lit(0.0))
        .otherwise(-(p * log(p)) - (lit(1.0) - p) * log(lit(1.0) - p))
    val cum = hist
      .withColumn("fl", sum(col("ct")).over(w))
      .withColumn("fp", sum(col("cp")).over(w))
      .crossJoin(broadcast(tot))
      .filter(col("fl") < col("n")) // a split must leave a right side
    val pL = d(col("fp")) / d(col("fl"))
    val pR = d(col("np") - col("fp")) / d(col("n") - col("fl"))
    val pAll = d(col("np")) / d(col("n"))
    val gain = h(pAll) -
      (d(col("fl")) / d(col("n"))) * h(pL) -
      (d(col("n") - col("fl")) / d(col("n"))) * h(pR)
    val scored = cum.select(
      col("n_chars").as("threshold"),
      col("fl").as("n_left"), (col("n") - col("fl")).as("n_right"),
      emit(pL, 6).as("en_share_left"),
      emit(pR, 6).as("en_share_right"),
      emit(h(pAll), 6).as("parent_entropy"),
      emit(gain, 6).as("gain"))
    val wRank = Window.orderBy(col("gain").desc, col("threshold"))
    scored.withColumn("rk", row_number().over(wRank))
      .filter(col("rk") === 1)
      .drop("rk")
  }

  val bestSplitStumpSql: String =
    """WITH hist AS (
      |  SELECT n_chars, count(*) AS ct,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cp
      |  FROM documents GROUP BY 1
      |), tot AS (SELECT CAST(sum(ct) AS BIGINT) AS n, CAST(sum(cp) AS BIGINT) AS np FROM hist),
      |cum AS (
      |  SELECT n_chars,
      |    CAST(sum(ct) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fl,
      |    CAST(sum(cp) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
      |  FROM hist
      |), scored AS (
      |  SELECT n_chars AS threshold, fl AS n_left, n - fl AS n_right,
      |    CAST(fp AS DOUBLE) / CAST(fl AS DOUBLE) AS pl,
      |    CAST(np - fp AS DOUBLE) / CAST(n - fl AS DOUBLE) AS pr,
      |    CAST(np AS DOUBLE) / CAST(n AS DOUBLE) AS pa,
      |    CAST(fl AS DOUBLE) / CAST(n AS DOUBLE) AS shl,
      |    CAST(n - fl AS DOUBLE) / CAST(n AS DOUBLE) AS shr
      |  FROM cum CROSS JOIN tot
      |  WHERE fl < n
      |), g AS (
      |  SELECT threshold, n_left, n_right, pl, pr,
      |    CASE WHEN pa <= 0.0 OR pa >= 1.0 THEN 0.0
      |      ELSE -(pa * ln(pa)) - (1.0 - pa) * ln(1.0 - pa) END AS hall,
      |    CASE WHEN pl <= 0.0 OR pl >= 1.0 THEN 0.0
      |      ELSE -(pl * ln(pl)) - (1.0 - pl) * ln(1.0 - pl) END AS hl,
      |    CASE WHEN pr <= 0.0 OR pr >= 1.0 THEN 0.0
      |      ELSE -(pr * ln(pr)) - (1.0 - pr) * ln(1.0 - pr) END AS hr,
      |    shl, shr
      |  FROM scored
      |), e AS (
      |  SELECT threshold, n_left, n_right,
      |    (CAST(round(pl, 6) AS DOUBLE) + 0.0) AS en_share_left,
      |    (CAST(round(pr, 6) AS DOUBLE) + 0.0) AS en_share_right,
      |    (CAST(round(hall, 6) AS DOUBLE) + 0.0) AS parent_entropy,
      |    (CAST(round(hall - shl * hl - shr * hr, 6) AS DOUBLE) + 0.0) AS gain
      |  FROM g
      |)
      |SELECT threshold, n_left, n_right, en_share_left, en_share_right, parent_entropy, gain
      |FROM e
      |QUALIFY row_number() OVER (ORDER BY gain DESC, threshold) = 1""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("mixture_reweight_step", mixtureReweightStep, mixtureReweightStepSql),
    exact("hac_mean_se", hacMeanSe, hacMeanSeSql),
    exact("lang_drift_interaction", langDriftInteraction, langDriftInteractionSql),
    exact("best_split_stump", bestSplitStump, bestSplitStumpSql))
}
