package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.exact

/** Round-21 operators (repo round 8, continued) — two axes still
  * open: count-model QA (negative-binomial overdispersion — is
  * per-user traffic Poisson, and if not how far; the variance
  * assumption every count-based CI upstream leans on),
  * and off-policy evaluation (IPS / self-normalized / clipped /
  * doubly-robust value estimates of a target policy from logged
  * events — the counterfactual read a ranking or mixture change is
  * judged by BEFORE an A/B ships).
  *
  * House rules as Round15–20: exact integer/decimal moments, double
  * chains mirrored token for token, 12-dp-rounded libm terms into
  * order-free DECIMAL(38,12) sums, emits via OracleMath.emit with §6
  * #5 recovery on oracle ratio emits, bounded outputs, unique sort
  * keys. The survival effect size (rmst_report) lives in
  * [[ExperimentOps]].
  */
object Round21Ops {
  import OracleMath._

  /** #416 nb_overdispersion — is per-user event traffic Poisson? Per
    * event type, the per-user count distribution's mean m and
    * variance v (exact DECIMAL moments over the user axis), the
    * variance-to-mean ratio (the overdispersion index a Poisson holds
    * at 1), Fisher's dispersion statistic (n−1)·v/m (χ²_{n−1} under
    * Poisson), and the negative-binomial method-of-moments size
    * r = m²/(v−m) (the k every NB model of engagement counts needs;
    * emitted null when v ≤ m — under-dispersed). Every count-based CI
    * upstream (dp_noisy_counts, wilson, power_analysis) leans on a
    * variance assumption; this is the table that checks it. One
    * (type, user) aggregate, one |types|-row moment reduce. Exact
    * oracle.
    */
  def nbOverdispersion(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    val mom = perUser.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec0(col("c"))).as("s1"),
        sum(dec0(col("c")) * dec0(col("c"))).as("s2"))
    def d(c: String) = col(c).cast("double")
    val m = d("s1") / d("n")
    val v = (d("s2") - d("s1") * (d("s1") / d("n"))) / (d("n") - 1.0)
    mom.select(
      col("event_type"), col("n").as("n_users"),
      emit(m, 4).as("mean_count"),
      emit(v, 4).as("var_count"),
      emit(v / m, 4).as("dispersion_index"),
      emit((d("n") - 1.0) * v / m, 2).as("fisher_stat"),
      emit(when(v > m, m * m / (v - m)), 4).as("nb_size_r"))
      .orderBy(col("event_type"))
  }

  val nbOverdispersionSql: String =
    """WITH per_user AS (
      |  SELECT event_type, user_id, count(*) AS c FROM events GROUP BY 1, 2
      |), mom AS (
      |  SELECT event_type, count(*) AS n,
      |    sum(CAST(c AS DECIMAL(38,0))) AS s1,
      |    sum(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) AS s2
      |  FROM per_user GROUP BY 1
      |), f AS (
      |  SELECT event_type, n,
      |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
      |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
      |      / (CAST(n AS DOUBLE) - 1.0) AS v
      |  FROM mom
      |)
      |SELECT event_type, n AS n_users,
      |  (CAST(round(CAST(m AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS mean_count,
      |  (CAST(round(CAST(v AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS var_count,
      |  (CAST(round(CAST(v / m AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS dispersion_index,
      |  (CAST(round(CAST((CAST(n AS DOUBLE) - 1.0) * v / m AS DECIMAL(28,14)), 2) AS DOUBLE) + 0.0) AS fisher_stat,
      |  CASE WHEN v > m THEN (CAST(round(CAST(m * m / (v - m) AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) END AS nb_size_r
      |FROM f
      |ORDER BY event_type""".stripMargin

  /** #417 offpolicy_eval — counterfactual value of a TARGET policy
    * from logged events, per user segment (user_id % 4): behavior
    * policy = the empirical action (event_type) distribution within
    * the segment, target policy = uniform over the global action set,
    * reward = the event's value. Emits the four standard estimators —
    * IPS (1/N)Σ w·r, self-normalized Σw·r/Σw (SNIPS), clipped IPS
    * (w capped at 10, the variance-control production knob), and the
    * doubly-robust estimate Σ_a π_t(a)·q̂(x,a) + (1/N)Σ w·(r−q̂) with
    * q̂ = the segment-action mean reward — plus the effective sample
    * size (Σw)²/Σw². This is the pre-A/B counterfactual read every
    * ranking/mixture change wants: mixture_reweight_step PROPOSES a
    * new mix, THIS prices a policy against logged data before
    * anything ships. Propensities and q̂ are exact count/sum ratios;
    * all event-level sums are 12-dp-rounded terms in order-free
    * DECIMAL(38,12) sums (map-side combined). Scale: two grouped
    * aggregates + one broadcast-joined event pass. Exact oracle.
    */
  def offpolicyEval(s: SparkSession, dir: String): DataFrame = {
    // fan before the cut (r11, StageProfile): the cut pinned the
    // events scan's ONE partition, so every consumer — including the
    // 1.0 s 7-decimal-sum IPS aggregate — ran single-task on the
    // pinned leaf; keyless fan round-robins the narrow (seg, a, r)
    // rows (seg/a have too few distinct values to hash on), and every
    // downstream aggregate is an order-free decimal sum or count
    val ev = Tables.events(s, dir)
      .select((col("user_id") % 4).as("seg"), col("event_type").as("a"),
        col("value").as("r"))
    val cut = graft.Lineage.cut(graft.GraftSession.fan(ev))
    val nActions = cut.select(col("a")).distinct().count().toDouble
    val behav = cut.groupBy(col("seg"), col("a"))
      .agg(count(lit(1)).as("na"), sum(round(col("r"), 6).cast("decimal(38,6)")).as("sr"))
    val segTot = behav.groupBy(col("seg")).agg(sum(col("na")).as("ns"))
    // propensity and the outcome model from the SAME grouped frame
    val model = graft.Lineage.cut(behav.join(broadcast(segTot), Seq("seg"))
      .select(col("seg"), col("a"), col("na"), col("ns"),
        (col("na").cast("double") / col("ns").cast("double")).as("pb"),
        (col("sr").cast("double") / col("na").cast("double")).as("qhat")))
    val pt = lit(1.0) / lit(nActions)
    // direct term: Σ_a π_t(a)·q̂(x,a), per segment (bounded grid)
    val direct = model.groupBy(col("seg"), col("ns"))
      .agg(sum(round(pt * col("qhat"), 12).cast(Dec12)).as("v_direct"))
    val w = pt / col("pb")
    val joined = cut.join(broadcast(model.select(col("seg"), col("a"), col("pb"), col("qhat"))),
      Seq("seg", "a"))
    val sums = joined.groupBy(col("seg"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("r"), 12).cast(Dec12)).as("sr"),
        sum(round(w * col("r"), 12).cast(Dec12)).as("swr"),
        sum(round(w, 12).cast(Dec12)).as("sw"),
        sum(round(w * w, 12).cast(Dec12)).as("sw2"),
        sum(round(least(w, lit(10.0)) * col("r"), 12).cast(Dec12)).as("swrc"),
        sum(round(w * (col("r") - col("qhat")), 12).cast(Dec12)).as("scorr"))
    def d(c: String) = col(c).cast("double")
    sums.join(broadcast(direct), Seq("seg"))
      .select(
        col("seg"), col("n"),
        emit(d("sr") / d("n"), 4).as("v_logged"),
        emit(d("swr") / d("n"), 4).as("v_ips"),
        emit(d("swr") / d("sw"), 4).as("v_snips"),
        emit(d("swrc") / d("n"), 4).as("v_ips_clip10"),
        emit(d("v_direct") + d("scorr") / d("n"), 4).as("v_dr"),
        emit(d("sw") * d("sw") / d("sw2"), 2).as("ess"))
      .orderBy(col("seg"))
  }

  val offpolicyEvalSql: String =
    """WITH ev AS (
      |  SELECT user_id % 4 AS seg, event_type AS a, value AS r FROM events
      |), nact AS (SELECT CAST(count(DISTINCT a) AS DOUBLE) AS ka FROM ev),
      |behav AS (
      |  SELECT seg, a, count(*) AS na,
      |    sum(CAST(round(r, 6) AS DECIMAL(38,6))) AS sr
      |  FROM ev GROUP BY 1, 2
      |), seg_tot AS (SELECT seg, CAST(sum(na) AS BIGINT) AS ns FROM behav GROUP BY 1),
      |model AS (
      |  SELECT behav.seg, a, na, ns,
      |    CAST(na AS DOUBLE) / CAST(ns AS DOUBLE) AS pb,
      |    CAST(sr AS DOUBLE) / CAST(na AS DOUBLE) AS qhat
      |  FROM behav JOIN seg_tot ON behav.seg = seg_tot.seg
      |), direct AS (
      |  SELECT seg, ns,
      |    sum(CAST(round((1.0 / ka) * qhat, 12) AS DECIMAL(38,12))) AS v_direct
      |  FROM model CROSS JOIN nact GROUP BY 1, 2
      |), sums AS (
      |  SELECT ev.seg,
      |    count(*) AS n,
      |    sum(CAST(round(r, 12) AS DECIMAL(38,12))) AS sr,
      |    sum(CAST(round((1.0 / ka) / pb * r, 12) AS DECIMAL(38,12))) AS swr,
      |    sum(CAST(round((1.0 / ka) / pb, 12) AS DECIMAL(38,12))) AS sw,
      |    sum(CAST(round(((1.0 / ka) / pb) * ((1.0 / ka) / pb), 12) AS DECIMAL(38,12))) AS sw2,
      |    sum(CAST(round(least((1.0 / ka) / pb, 10.0) * r, 12) AS DECIMAL(38,12))) AS swrc,
      |    sum(CAST(round((1.0 / ka) / pb * (r - qhat), 12) AS DECIMAL(38,12))) AS scorr
      |  FROM ev
      |  JOIN model ON ev.seg = model.seg AND ev.a = model.a
      |  CROSS JOIN nact
      |  GROUP BY 1
      |)
      |SELECT sums.seg, n,
      |  (CAST(round(CAST(CAST(sr AS DOUBLE) / CAST(n AS DOUBLE) AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS v_logged,
      |  (CAST(round(CAST(CAST(swr AS DOUBLE) / CAST(n AS DOUBLE) AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS v_ips,
      |  (CAST(round(CAST(CAST(swr AS DOUBLE) / CAST(sw AS DOUBLE) AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS v_snips,
      |  (CAST(round(CAST(CAST(swrc AS DOUBLE) / CAST(n AS DOUBLE) AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS v_ips_clip10,
      |  (CAST(round(CAST(CAST(v_direct AS DOUBLE) + CAST(scorr AS DOUBLE) / CAST(n AS DOUBLE) AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS v_dr,
      |  (CAST(round(CAST(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sw2 AS DOUBLE) AS DECIMAL(28,14)), 2) AS DOUBLE) + 0.0) AS ess
      |FROM sums JOIN direct ON sums.seg = direct.seg
      |ORDER BY sums.seg""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("nb_overdispersion", nbOverdispersion, nbOverdispersionSql),
    exact("offpolicy_eval", offpolicyEval, offpolicyEvalSql))
}
