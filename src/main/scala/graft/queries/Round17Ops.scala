package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.exact

/** Round-17 operators (repo round 8, continued) — the dose-response
  * trend test (Cochran–Armitage, the ordered-category complement to
  * Mantel–Haenszel's stratified 2×2), class-based tf-idf
  * characteristic terms (what VOCABULARY distinguishes each source),
  * Krippendorff's alpha (the chance-corrected agreement that
  * generalizes kappa's assumptions), and embedding label-separation
  * validity (Calinski–Harabasz + Davies–Bouldin — DO the labels carve
  * the embedding space, the geometry check behind label_centroid_sim).
  *
  * House rules as Round15/16: exact integer/decimal moments, double
  * chains mirrored token for token, 12-dp-rounded terms into
  * order-free DECIMAL(38,12) sums, emits via OracleMath.emit,
  * bounded outputs, unique sort keys. The delta-method ratio-metric
  * CI lives in [[ExperimentOps]], the Page–Hinkley drift alarm in
  * [[MonitorOps]].
  */
object Round17Ops {
  import OracleMath._

  /** #393 cochran_armitage — the trend test across ORDERED activity
    * tiers (scores 1/2/3 for <60/<75/≥75 events): does the
    * heavy-purchaser share RISE with activity, as a single 1-df
    * statistic instead of the unordered k-group chi²? T = Σaᵢsᵢ −
    * A·(Σnᵢsᵢ)/N, Var(T) = p̄(1−p̄)(Σnᵢsᵢ² − (Σnᵢsᵢ)²/N), z =
    * T/√Var — every moment (aᵢsᵢ, nᵢsᵢ, nᵢsᵢ²) is an exact integer
    * sum over 3 rows, the z one double chain. The tier table
    * (share per tier) rides along so the trend is readable, not just
    * testable. Scale: the mantel_haenszel per-user frame, a 3-row
    * rollup, broadcast summary. Exact oracle.
    */
  def cochranArmitage(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
      .select(
        when(col("n_ev") < 60, 1L).when(col("n_ev") < 75, 2L).otherwise(3L).as("score"),
        when(col("np") >= 14, 1L).otherwise(0L).as("heavy"))
    val tiers = perUser.groupBy(col("score"))
      .agg(count(lit(1)).as("n_users"), sum(col("heavy")).as("n_heavy"))
    val tot = tiers.agg(
      sum(col("n_users")).as("nn"), sum(col("n_heavy")).as("aa"),
      sum(col("n_heavy") * col("score")).as("sas"),
      sum(col("n_users") * col("score")).as("sns"),
      sum(col("n_users") * col("score") * col("score")).as("sns2"))
    def d(c: String) = col(c).cast("double")
    val pbar = d("aa") / d("nn")
    val t = d("sas") - d("aa") * d("sns") / d("nn")
    val varT = pbar * (lit(1.0) - pbar) * (d("sns2") - d("sns") * d("sns") / d("nn"))
    val z = t / sqrt(varT)
    tiers.crossJoin(broadcast(tot))
      .select(
        col("score"), col("n_users"), col("n_heavy"),
        emit(col("n_heavy").cast("double") / col("n_users").cast("double"), 6)
          .as("heavy_share"),
        emit(t, 4).as("ca_t"),
        emit(z, 4).as("ca_z"))
      .withColumn("significant_trend", abs(col("ca_z")) > lit(1.96))
      .orderBy(col("score"))
  }

  val cochranArmitageSql: String =
    """WITH pu AS (
      |  SELECT user_id, count(*) AS n_ev,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
      |  FROM events GROUP BY user_id
      |), v AS (
      |  SELECT CASE WHEN n_ev < 60 THEN 1 WHEN n_ev < 75 THEN 2 ELSE 3 END AS score,
      |    CASE WHEN np >= 14 THEN 1 ELSE 0 END AS heavy
      |  FROM pu
      |), tiers AS (
      |  SELECT score, count(*) AS n_users, CAST(sum(heavy) AS BIGINT) AS n_heavy
      |  FROM v GROUP BY score
      |), tot AS (
      |  SELECT CAST(sum(n_users) AS BIGINT) AS nn, CAST(sum(n_heavy) AS BIGINT) AS aa,
      |    CAST(sum(n_heavy * score) AS BIGINT) AS sas,
      |    CAST(sum(n_users * score) AS BIGINT) AS sns,
      |    CAST(sum(n_users * score * score) AS BIGINT) AS sns2
      |  FROM tiers
      |), f AS (
      |  SELECT nn, aa, sas, sns, sns2,
      |    CAST(aa AS DOUBLE) / CAST(nn AS DOUBLE) AS pbar,
      |    CAST(sas AS DOUBLE) - CAST(aa AS DOUBLE) * CAST(sns AS DOUBLE) / CAST(nn AS DOUBLE) AS t
      |  FROM tot
      |)
      |SELECT score, n_users, n_heavy,
      |  (CAST(round(CAST(n_heavy AS DOUBLE) / CAST(n_users AS DOUBLE), 6) AS DOUBLE) + 0.0) AS heavy_share,
      |  (CAST(round(t, 4) AS DOUBLE) + 0.0) AS ca_t,
      |  (CAST(round(t / sqrt(pbar * (1.0 - pbar)
      |    * (CAST(sns2 AS DOUBLE) - CAST(sns AS DOUBLE) * CAST(sns AS DOUBLE) / CAST(nn AS DOUBLE))), 4) AS DOUBLE) + 0.0) AS ca_z,
      |  abs((CAST(round(t / sqrt(pbar * (1.0 - pbar)
      |    * (CAST(sns2 AS DOUBLE) - CAST(sns AS DOUBLE) * CAST(sns AS DOUBLE) / CAST(nn AS DOUBLE))), 4) AS DOUBLE) + 0.0)) > 1.96 AS significant_trend
      |FROM tiers CROSS JOIN f
      |ORDER BY score""".stripMargin

  /** #395 ctfidf_terms — class-based tf-idf (the BERTopic device,
    * Grootendorst 2022, reduced to its exact-arithmetic core): per
    * source, the top-10 characteristic terms by
    * (tf_{t,s}/Σtf_s)·ln(|sources|/df_sources(t)) — the vocabulary
    * that DISTINGUISHES a source, where plain tf ranks the shared
    * stopwords and per-doc tf-idf (#208) has no per-source view.
    * Terms appearing in every source score exactly zero and
    * self-prune. Scale: one (source, token) count (map-side
    * combined), a |vocab|-row source-df aggregate joined co-keyed,
    * a broadcast source-total join, top-10 per source via
    * row_number over the 6-dp-rounded weight with the token as the
    * total tiebreak. Exact oracle.
    */
  def ctfidfTerms(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val cut = graft.Lineage.cut(tf) // feeds df, totals, and the weight join
    val dfSrc = cut.groupBy(col("token"))
      .agg(countDistinct(col("source")).as("df_sources"))
    val totals = cut.groupBy(col("source")).agg(sum(col("tf")).as("tot"))
    val nSrc = cut.select(col("source")).distinct().agg(count(lit(1)).as("k"))
    val weighted = cut
      .join(dfSrc, Seq("token"))
      .join(broadcast(totals), Seq("source"))
      .crossJoin(broadcast(nSrc))
      .select(col("source"), col("token"),
        emit((col("tf").cast("double") / col("tot").cast("double"))
          * log(col("k").cast("double") / col("df_sources").cast("double")), 6)
          .as("ctfidf"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("ctfidf").desc, col("token"))
    weighted
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("source"), col("rank"), col("token"), col("ctfidf"))
      .orderBy(col("source"), col("rank"))
  }

  val ctfidfTermsSql: String =
    """WITH tf AS (
      |  SELECT source, tok AS token, count(*) AS tf
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok <> ''
      |  GROUP BY 1, 2
      |), dfs AS (SELECT token, count(DISTINCT source) AS df_sources FROM tf GROUP BY 1),
      |totals AS (SELECT source, CAST(sum(tf) AS BIGINT) AS tot FROM tf GROUP BY 1),
      |k AS (SELECT count(DISTINCT source) AS k FROM tf),
      |weighted AS (
      |  SELECT tf.source, tf.token,
      |    (CAST(round((CAST(tf AS DOUBLE) / CAST(tot AS DOUBLE))
      |      * ln(CAST(k AS DOUBLE) / CAST(df_sources AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS ctfidf
      |  FROM tf JOIN dfs ON tf.token = dfs.token
      |  JOIN totals ON tf.source = totals.source
      |  CROSS JOIN k
      |), ranked AS (
      |  SELECT source, token, ctfidf,
      |    row_number() OVER (PARTITION BY source ORDER BY ctfidf DESC, token) AS rank
      |  FROM weighted
      |)
      |SELECT source, rank, token, ctfidf
      |FROM ranked WHERE rank <= 10
      |ORDER BY source, rank""".stripMargin

  /** #396 krippendorff_alpha — chance-corrected agreement between the
    * model classifier and the length rule, from the SAME 2×2 cells
    * kappa_agreement (#331) emits (lineage: the kappa frame is the
    * input, so the two coefficients are computed on provably
    * identical data): α = 1 − D_o/D_e with the coincidence-matrix
    * disagreements D_o = (n10+n01)/n and D_e = 2·n̂1·n̂0/(N(N−1)),
    * N = 2n, n̂1/n̂0 the pooled VALUE marginals. Kappa corrects by
    * each coder's OWN marginals, alpha by the pooled ones with a
    * finite-N correction — the divergence between the two (emitted
    * side by side) is the marginal-imbalance diagnostic. All
    * integers through one double chain; 1-row output. Exact oracle.
    */
  def krippendorffAlpha(s: SparkSession, dir: String): DataFrame = {
    val k = Round12Ops.kappaAgreement(s, dir)
    def d(c: Column) = c.cast("double")
    val n = col("n11") + col("n10") + col("n01") + col("n00")
    val n1 = col("n11") * 2 + col("n10") + col("n01")
    val n0 = col("n00") * 2 + col("n10") + col("n01")
    val bigN = d(n) * lit(2.0)
    val dObs = d(col("n10") + col("n01")) / d(n)
    val dExp = lit(2.0) * d(n1) * d(n0) / (bigN * (bigN - lit(1.0)))
    k.select(
      n1.as("codes_keep"), n0.as("codes_drop"),
      emit(dObs, 6).as("d_observed"),
      emit(dExp, 6).as("d_expected"),
      emit(lit(1.0) - dObs / dExp, 6).as("alpha"),
      col("kappa"))
  }

  val krippendorffAlphaSql: String =
    s"""WITH kap AS (${Round12Ops.kappaAgreementSql}),
       |f AS (
       |  SELECT n11, n10, n01, n00, kappa,
       |    n11 + n10 + n01 + n00 AS n,
       |    n11 * 2 + n10 + n01 AS n1,
       |    n00 * 2 + n10 + n01 AS n0
       |  FROM kap
       |), g AS (
       |  SELECT n1, n0, kappa,
       |    CAST(n10 + n01 AS DOUBLE) / CAST(n AS DOUBLE) AS dobs,
       |    2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)
       |      / ((CAST(n AS DOUBLE) * 2.0) * (CAST(n AS DOUBLE) * 2.0 - 1.0)) AS dexp
       |  FROM f
       |)
       |SELECT n1 AS codes_keep, n0 AS codes_drop,
       |  (CAST(round(dobs, 6) AS DOUBLE) + 0.0) AS d_observed,
       |  (CAST(round(dexp, 6) AS DOUBLE) + 0.0) AS d_expected,
       |  (CAST(round(1.0 - dobs / dexp, 6) AS DOUBLE) + 0.0) AS alpha,
       |  kappa
       |FROM g""".stripMargin

  /** #398 label_separation — cluster-validity indexes of the GIVEN
    * labels against the embedding geometry: Calinski–Harabasz
    * (B/(k−1))/(W/(N−k)) and Davies–Bouldin mean-of-worst
    * (sᵢ+sⱼ)/dᵢⱼ, plus the per-label scatter and worst-neighbor
    * ratio. label_centroid_sim (#162) reads centroid ALIGNMENT;
    * these are the standard validity scores that say whether the
    * labels carve the space at all (CH high / DB low) — the check
    * an embedding-QA gate runs before trusting labels for training
    * mixes. Everything reduces to per-(label, dim) exact moments
    * (n, Σv decimal, Σv² 12-dp→Dec12) in ONE data-sized pass; W, B,
    * centroid pair distances and the DB ratios all live on the
    * k×d / k² bounded frames with every cross-term sum 12-dp
    * rounded into decimal (order-free). Exact oracle (range(0,64)
    * per-dim explode, the embed_dim_stats device).
    */
  def labelSeparation(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("pos", "vf")))
      .select(col("label"), col("pos"), col("vf").cast("double").as("v"))
    val byLd = graft.Lineage.cut(e.groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("nl"), sum(col("v").cast(Dec)).as("sv"),
        sum(round(col("v") * col("v"), 12).cast(Dec12)).as("sv2")))
    def d(c: String) = col(c).cast("double")
    // within-label scatter per (label, dim), then per label
    val wl = byLd
      .select(col("label"), col("nl"),
        round(d("sv2") - d("sv") * d("sv") / d("nl"), 12).cast(Dec12).as("wld"))
      .groupBy(col("label"))
      .agg(max(col("nl")).as("n_vecs"), sum(col("wld")).as("wl"))
    // global per-dim sums for the between-label term
    val g = byLd.groupBy(col("pos"))
      .agg(sum(col("sv")).as("gs"), sum(col("nl")).as("gn"))
    val bTerms = byLd.join(broadcast(g), Seq("pos"))
      .select(col("label"),
        round(d("nl")
          * (d("sv") / d("nl") - d("gs") / d("gn"))
          * (d("sv") / d("nl") - d("gs") / d("gn")), 12).cast(Dec12).as("bld"))
      .groupBy(col("label")).agg(sum(col("bld")).as("bl"))
    val scal = wl.join(bTerms, Seq("label"))
    val tot = scal.agg(
      count(lit(1)).as("k"), sum(col("n_vecs")).as("nn"),
      sum(col("wl")).as("w"), sum(col("bl")).as("b"))
    val ch = (d("b") / (d("k") - lit(1.0))) / (d("w") / (d("nn") - d("k")))
    // centroid pair distances for Davies–Bouldin
    val cent = byLd.select(col("label"), col("pos"), (d("sv") / d("nl")).as("c"))
    val dist = cent.select(col("label").as("li"), col("pos"), col("c").as("ci"))
      .join(cent.select(col("label").as("lj"), col("pos"), col("c").as("cj")), Seq("pos"))
      .filter(col("li") =!= col("lj"))
      .select(col("li"), col("lj"),
        round((col("ci") - col("cj")) * (col("ci") - col("cj")), 12).cast(Dec12).as("dd"))
      .groupBy(col("li"), col("lj")).agg(sum(col("dd")).as("d2"))
    val scatter = scal.select(col("label"),
      sqrt(col("wl").cast("double") / col("n_vecs").cast("double")).as("sl"))
    val ratios = dist
      .join(scatter.select(col("label").as("li"), col("sl").as("si")), Seq("li"))
      .join(scatter.select(col("label").as("lj"), col("sl").as("sj")), Seq("lj"))
      .select(col("li"),
        round((col("si") + col("sj")) / sqrt(col("d2").cast("double")), 12).as("rij"))
      .groupBy(col("li")).agg(max(col("rij")).as("worst"))
    val db = ratios.agg(
      emit(sum(col("worst").cast(Dec12)).cast("double") / count(lit(1)).cast("double"), 4)
        .as("db_index"))
    scal
      .join(ratios.select(col("li").as("label"), col("worst")), Seq("label"))
      .crossJoin(broadcast(tot.select(emit(ch, 4).as("ch_index"))))
      .crossJoin(broadcast(db))
      .select(col("label"), col("n_vecs"),
        emit(sqrt(col("wl").cast("double") / col("n_vecs").cast("double")), 6).as("scatter"),
        emit(col("worst"), 6).as("worst_ratio"),
        col("ch_index"), col("db_index"))
      .orderBy(col("label"))
  }

  val labelSeparationSql: String =
    """WITH e AS (
      |  SELECT CAST(label AS BIGINT) AS label, pos, CAST(embedding[pos + 1] AS DOUBLE) AS v
      |  FROM embeddings, range(0, 64) t(pos)
      |), byld AS (
      |  SELECT label, pos, count(*) AS nl,
      |    sum(CAST(v AS DECIMAL(38,6))) AS sv,
      |    sum(CAST(round(v * v, 12) AS DECIMAL(38,12))) AS sv2
      |  FROM e GROUP BY 1, 2
      |), wl AS (
      |  SELECT label, max(nl) AS n_vecs,
      |    sum(CAST(round(CAST(sv2 AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(nl AS DOUBLE), 12) AS DECIMAL(38,12))) AS wl
      |  FROM byld GROUP BY 1
      |), g AS (
      |  SELECT pos, sum(sv) AS gs, CAST(sum(nl) AS BIGINT) AS gn FROM byld GROUP BY 1
      |), bt AS (
      |  SELECT label,
      |    sum(CAST(round(CAST(nl AS DOUBLE)
      |      * (CAST(sv AS DOUBLE) / CAST(nl AS DOUBLE) - CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE))
      |      * (CAST(sv AS DOUBLE) / CAST(nl AS DOUBLE) - CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE)), 12) AS DECIMAL(38,12))) AS bl
      |  FROM byld JOIN g ON byld.pos = g.pos GROUP BY 1
      |), scal AS (
      |  SELECT wl.label, n_vecs, wl, bl FROM wl JOIN bt ON wl.label = bt.label
      |), tot AS (
      |  SELECT count(*) AS k, CAST(sum(n_vecs) AS BIGINT) AS nn,
      |    sum(wl) AS w, sum(bl) AS b
      |  FROM scal
      |), cent AS (
      |  SELECT label, pos, CAST(sv AS DOUBLE) / CAST(nl AS DOUBLE) AS c FROM byld
      |), dist AS (
      |  SELECT a.label AS li, b.label AS lj,
      |    sum(CAST(round((a.c - b.c) * (a.c - b.c), 12) AS DECIMAL(38,12))) AS d2
      |  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label <> b.label
      |  GROUP BY 1, 2
      |), scatter AS (
      |  SELECT label, sqrt(CAST(wl AS DOUBLE) / CAST(n_vecs AS DOUBLE)) AS sl FROM scal
      |), ratios AS (
      |  SELECT li, max(round((si.sl + sj.sl) / sqrt(CAST(d2 AS DOUBLE)), 12)) AS worst
      |  FROM dist
      |  JOIN scatter si ON dist.li = si.label
      |  JOIN scatter sj ON dist.lj = sj.label
      |  GROUP BY 1
      |), db AS (
      |  SELECT (CAST(round(CAST(sum(CAST(worst AS DECIMAL(38,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS DOUBLE) + 0.0) AS db_index
      |  FROM ratios
      |), chx AS (
      |  SELECT (CAST(round((CAST(b AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0))
      |    / (CAST(w AS DOUBLE) / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))), 4) AS DOUBLE) + 0.0) AS ch_index
      |  FROM tot
      |)
      |SELECT scal.label, n_vecs,
      |  (CAST(round(sqrt(CAST(wl AS DOUBLE) / CAST(n_vecs AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS scatter,
      |  (CAST(round(worst, 6) AS DOUBLE) + 0.0) AS worst_ratio,
      |  ch_index, db_index
      |FROM scal
      |JOIN ratios ON scal.label = ratios.li
      |CROSS JOIN chx CROSS JOIN db
      |ORDER BY label""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("cochran_armitage", cochranArmitage, cochranArmitageSql),
    exact("ctfidf_terms", ctfidfTerms, ctfidfTermsSql),
    exact("krippendorff_alpha", krippendorffAlpha, krippendorffAlphaSql),
    exact("label_separation", labelSeparation, labelSeparationSql))
}
