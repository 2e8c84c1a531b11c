package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.exact

/** Round-18 operators (repo round 8, continued) — the data-mixture
  * optimization step (DoReMi-style multiplicative reweighting, the
  * operation that turns per-source loss measurements into the next
  * training mix) and the information-gain decision stump (the single
  * most predictive threshold, the root of every tree a
  * feature-usefulness probe needs). graph_closeness lives in
  * [[GraphOps]]; the Newey–West standard error and the language ×
  * corpus-half interaction screen in [[MonitorOps]].
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
    exact("best_split_stump", bestSplitStump, bestSplitStumpSql))
}
