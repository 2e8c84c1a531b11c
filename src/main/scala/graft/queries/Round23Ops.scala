package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.exact

/** Round-23 operators (repo round 8, continued) — three axes: the
  * ABSORBING read of the session Markov chain (probability a journey
  * starting at each state reaches purchase within k steps —
  * markov_transitions #123 gives the one-step matrix,
  * markov_attribution #346 removes channels; this answers the
  * forward question a funnel designer asks), price elasticity of
  * demand (the log-log regression read over the so-far-unused part
  * dimension — which brands' demand actually responds to price), and
  * the safety-stock table (per-brand weekly demand quantiles → the
  * reorder buffer an inventory policy quotes).
  *
  * House rules as Round15–22: exact integer/decimal moments where
  * values are exact, 12-dp-rounded libm terms into order-free
  * DECIMAL(38,12) sums where they are not, mirrored double chains,
  * emits via OracleMath.emit with §6 #5 recovery on oracle ratio
  * emits, bounded outputs, unique sort keys.
  */
object Round23Ops {
  import OracleMath._

  /** #421 absorption_probability — per start state, the probability a
    * session reaches 'purchase' within 2, 4 and 8 steps under the
    * empirical transition matrix with purchase made ABSORBING: α₀ =
    * 1{purchase}, α_{j+1}(s) = Σ_t P(s,t)·α_j(t) — eight unrolled
    * broadcast multiplies over the ≤|states|²-row matrix (the
    * embed_pca_power unrolled-iteration precedent; the only
    * data-sized work is the one lead() pass behind the matrix).
    * Determinism via the markov device: every multiply term rounds to
    * 12 dp into a DECIMAL(38,12) sum and every α entry re-rounds to
    * 12 dp, so both engines walk one IEEE chain. States with no
    * outgoing edges read α_{j+1} = 0 (coalesce), purchase reads 1 by
    * construction of its absorbing row. Exact oracle (8 CTE
    * multiplies mirrored verbatim).
    */
  def absorptionProbability(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counts = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("cur"), col("next_type").as("nxt"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("cur")).agg(sum(col("n")).as("total"))
    val raw = counts.join(totals, Seq("cur"))
      .select(col("cur"), col("nxt"),
        (col("n").cast("double") / col("total").cast("double")).as("p"))
    // purchase absorbs: its empirical outgoing row is replaced
    val absorbRow = s.range(1)
      .select(lit("purchase").as("cur"), lit("purchase").as("nxt"), lit(1.0).as("p"))
    val mat = graft.Lineage.cut(
      raw.filter(col("cur") =!= "purchase").unionByName(absorbRow))
    val states = graft.Lineage.cut(
      mat.select(col("cur").as("st")).unionByName(mat.select(col("nxt").as("st")))
        .distinct())
    var alpha = states.select(col("st"),
      when(col("st") === "purchase", 1.0).otherwise(0.0).as("a"))
    val snapshots = scala.collection.mutable.Map[Int, DataFrame]()
    // every relation in the iteration is ≤|states|² rows, but the cut
    // mat/states frames carry no size statistics, so unhinted joins
    // planned as sort-merge — 18 SMJs and the audit table's heaviest
    // plan (r9, xchg 98). Broadcast-pin every bounded side, and cut α
    // at the snapshot steps (each consumed twice: next iteration AND
    // the final join). A/B at sf0.1: original 3.40 s / xchg 98 / 18
    // SMJ, broadcasts without cuts 3.78 / xchg 76, broadcasts + cuts
    // 3.36 / xchg 30 / 0 SMJ — equal wall locally with the plan you'd
    // want at scale (no sort-merge on unbounded-estimated frames, plan
    // depth bounded by the cuts).
    for (step <- 1 to 8) {
      alpha = states
        .join(
          broadcast(mat
            .join(broadcast(alpha.select(col("st").as("nxt"), col("a"))), Seq("nxt"))
            .groupBy(col("cur").as("st"))
            .agg(round(sum(round(col("p") * col("a"), 12).cast(Dec12)).cast("double"), 12)
              .as("a0"))),
          Seq("st"), "left")
        .select(col("st"), coalesce(col("a0"),
          when(col("st") === "purchase", 1.0).otherwise(0.0)).as("a"))
      if (step == 2 || step == 4) { alpha = graft.Lineage.cut(alpha); snapshots(step) = alpha }
      if (step == 8) snapshots(step) = alpha
    }
    snapshots(2).select(col("st"), col("a").as("p2"))
      .join(broadcast(snapshots(4).select(col("st"), col("a").as("p4"))), Seq("st"))
      .join(broadcast(snapshots(8).select(col("st"), col("a").as("p8"))), Seq("st"))
      .select(col("st").as("start_state"),
        emit(col("p2"), 6).as("p_absorb_2"),
        emit(col("p4"), 6).as("p_absorb_4"),
        emit(col("p8"), 6).as("p_absorb_8"))
      .orderBy(col("start_state"))
  }

  val absorptionProbabilitySql: String = {
    val steps = (1 to 8).map { j =>
      s"""a$j AS (
         |  SELECT s.st,
         |    coalesce(m.a0, CASE WHEN s.st = 'purchase' THEN 1.0 ELSE 0.0 END) AS a
         |  FROM states s LEFT JOIN (
         |    SELECT cur AS st,
         |      round(CAST(sum(CAST(round(p * a, 12) AS DECIMAL(38,12))) AS DOUBLE), 12) AS a0
         |    FROM mat JOIN a${j - 1} ON mat.nxt = a${j - 1}.st
         |    GROUP BY cur
         |  ) m ON s.st = m.st
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS (
       |  SELECT event_type,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
       |  FROM events
       |), c AS (
       |  SELECT event_type AS cur, next_type AS nxt, count(*) AS n
       |  FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2
       |), tot AS (SELECT cur, CAST(sum(n) AS BIGINT) AS total FROM c GROUP BY 1),
       |raw AS (
       |  SELECT c.cur, nxt, CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS p
       |  FROM c JOIN tot ON c.cur = tot.cur
       |), mat AS (
       |  SELECT cur, nxt, p FROM raw WHERE cur <> 'purchase'
       |  UNION ALL SELECT 'purchase', 'purchase', 1.0
       |), states AS (
       |  SELECT DISTINCT st FROM (SELECT cur AS st FROM mat UNION SELECT nxt FROM mat)
       |), a0 AS (
       |  SELECT st, CASE WHEN st = 'purchase' THEN 1.0 ELSE 0.0 END AS a FROM states
       |),
       |$steps
       |SELECT s.st AS start_state,
       |  (CAST(round(CAST(a2.a AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS p_absorb_2,
       |  (CAST(round(CAST(a4.a AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS p_absorb_4,
       |  (CAST(round(CAST(a8.a AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS p_absorb_8
       |FROM states s
       |JOIN a2 ON s.st = a2.st
       |JOIN a4 ON s.st = a4.st
       |JOIN a8 ON s.st = a8.st
       |ORDER BY start_state""".stripMargin
  }

  /** #422 price_elasticity — the log-log demand regression per brand:
    * elasticity = d ln(quantity)/d ln(unit price), the OLS slope of
    * ln(l_quantity) on ln(l_extendedprice/l_quantity), with intercept
    * and R² — the pricing read over the so-far-unused part dimension
    * (which brands' demand actually responds to price; q17/q19 read
    * quantities, discount_uplift reads discounts — nothing read
    * price response). ln moments are libm terms, so they round to
    * 12 dp into DECIMAL(38,12) sums (order-free, map-side combined);
    * the per-brand closed forms mirror #383's chain. One
    * lineitem×part co-keyed join (part broadcast at bench SFs), one
    * grouped moment pass, |brands| rows. Exact oracle.
    */
  def priceElasticity(s: SparkSession, dir: String): DataFrame = {
    // fan the single-row-group lineitem scan (r10, measured): the fused
    // scan→bcast-join→ln/round/decimal partial agg ran as ONE task
    // (5.9 s CPU at sf0.1, parallelism 1.0×); spreading the three
    // projected columns across the cores costs a ~10 MB exchange and
    // parallelizes the five per-row decimal quantizations — see
    // GraftSession.fan for why this is scale-adaptive, not a local tune
    val li = graft.GraftSession
      .fan(Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice")), col("l_partkey"))
      .join(broadcast(Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        log(col("l_quantity")).as("y"),
        log(col("l_extendedprice") / col("l_quantity")).as("x"))
    def t12(c: Column) = round(c, 12).cast(Dec12)
    val mom = li.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        sum(t12(col("x"))).as("sx"), sum(t12(col("y"))).as("sy"),
        sum(t12(col("x") * col("y"))).as("sxy"),
        sum(t12(col("x") * col("x"))).as("sx2"),
        sum(t12(col("y") * col("y"))).as("sy2"))
    def d(c: String) = col(c).cast("double")
    val sxx = d("n") * d("sx2") - d("sx") * d("sx")
    val sxy = d("n") * d("sxy") - d("sx") * d("sy")
    val syy = d("n") * d("sy2") - d("sy") * d("sy")
    val slope = sxy / sxx
    mom.select(
      col("p_brand"), col("n"),
      emit(slope, 6).as("elasticity"),
      emit(d("sy") / d("n") - slope * (d("sx") / d("n")), 6).as("intercept"),
      emit(sxy * sxy / (sxx * syy), 6).as("r2"))
      .orderBy(col("p_brand"))
  }

  val priceElasticitySql: String =
    """WITH li AS (
      |  SELECT p_brand,
      |    ln(l_quantity) AS y,
      |    ln(l_extendedprice / l_quantity) AS x
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |), mom AS (
      |  SELECT p_brand, count(*) AS n,
      |    sum(CAST(round(x, 12) AS DECIMAL(38,12))) AS sx,
      |    sum(CAST(round(y, 12) AS DECIMAL(38,12))) AS sy,
      |    sum(CAST(round(x * y, 12) AS DECIMAL(38,12))) AS sxy,
      |    sum(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS sx2,
      |    sum(CAST(round(y * y, 12) AS DECIMAL(38,12))) AS sy2
      |  FROM li GROUP BY 1
      |), f AS (
      |  SELECT p_brand, n,
      |    CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS sxx,
      |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS sxyc,
      |    CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS syy,
      |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      |  FROM mom
      |)
      |SELECT p_brand, n,
      |  (CAST(round(CAST(sxyc / sxx AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS elasticity,
      |  (CAST(round(CAST(syd / CAST(n AS DOUBLE) - (sxyc / sxx) * (sxd / CAST(n AS DOUBLE)) AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS intercept,
      |  (CAST(round(CAST(sxyc * sxyc / (sxx * syy) AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS r2
      |FROM f
      |ORDER BY p_brand""".stripMargin

  /** #423 safety_stock_report — the inventory buffer table per brand:
    * weekly demand (Σ l_quantity per ship week), its mean and sample
    * sd (exact DECIMAL(38,6) moments — quantities are exact), the
    * exact 0.95 demand quantile (percentile ↔ quantile_cont, the #27
    * bridge), the safety stock q95 − mean (the buffer covering 95% of
    * weeks), and the implied z = (q95 − mean)/sd the normal
    * approximation would need (its gap from 1.645 is the
    * non-normality warning). orders_backlog reads open demand;
    * THIS sizes the buffer a reorder policy quotes. One co-keyed
    * (brand, week) aggregate, one |brands|-row percentile/moment
    * pass. Exact oracle.
    */
  def safetyStockReport(s: SparkSession, dir: String): DataFrame = {
    val Dec6 = org.apache.spark.sql.types.DecimalType(38, 6)
    val weekly = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"),
        date_format(date_trunc("week", col("l_shipdate")), "yyyy-MM-dd").as("wk"))
      .agg(sum(round(col("l_quantity"), 6).cast(Dec6)).as("dem"))
    val m = weekly.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_weeks"),
        sum(col("dem")).as("s1"),
        sum(col("dem") * col("dem")).as("s2"),
        expr("percentile(CAST(dem AS DOUBLE), 0.95)").as("q95"))
    def d(c: String) = col(c).cast("double")
    val mean = d("s1") / d("n_weeks")
    val sd = sqrt((d("s2") - d("s1") * (d("s1") / d("n_weeks"))) / (d("n_weeks") - 1.0))
    m.select(
      col("p_brand"), col("n_weeks"),
      emit(mean, 4).as("mean_weekly"),
      emit(sd, 4).as("sd_weekly"),
      emit(col("q95"), 4).as("q95_weekly"),
      emit(col("q95") - mean, 4).as("safety_stock"),
      emit((col("q95") - mean) / sd, 4).as("implied_z"))
      .orderBy(col("p_brand"))
  }

  val safetyStockReportSql: String =
    """WITH weekly AS (
      |  SELECT p_brand, strftime(date_trunc('week', l_shipdate), '%Y-%m-%d') AS wk,
      |    sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6))) AS dem
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2
      |), m AS (
      |  SELECT p_brand, count(*) AS n_weeks,
      |    sum(dem) AS s1, sum(dem * dem) AS s2,
      |    quantile_cont(CAST(dem AS DOUBLE), 0.95) AS q95
      |  FROM weekly GROUP BY 1
      |), f AS (
      |  SELECT p_brand, n_weeks, q95,
      |    CAST(s1 AS DOUBLE) / CAST(n_weeks AS DOUBLE) AS mean,
      |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n_weeks AS DOUBLE)))
      |      / (CAST(n_weeks AS DOUBLE) - 1.0)) AS sd
      |  FROM m
      |)
      |SELECT p_brand, n_weeks,
      |  (CAST(round(CAST(mean AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS mean_weekly,
      |  (CAST(round(CAST(sd AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS sd_weekly,
      |  (CAST(round(CAST(q95 AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS q95_weekly,
      |  (CAST(round(CAST(q95 - mean AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS safety_stock,
      |  (CAST(round(CAST((q95 - mean) / sd AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS implied_z
      |FROM f
      |ORDER BY p_brand""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("absorption_probability", absorptionProbability, absorptionProbabilitySql),
    exact("price_elasticity", priceElasticity, priceElasticitySql),
    exact("safety_stock_report", safetyStockReport, safetyStockReportSql))
}
