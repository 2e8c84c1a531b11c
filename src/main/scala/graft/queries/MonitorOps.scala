package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.exact

/** Every monitoring key: the daily event-volume series and its
  * forecasts, trend and change-point tests, autocorrelation and
  * spectral diagnostics, and the drift scores between the two halves
  * of the corpus (event-type mix by time, document length by doc id).
  * Each device is defined once: the daily count ([[dailyCount]]), the
  * dense calendars by day offset ([[typeCalendar]], whose Holt-family
  * oracle twin is [[holtCalendarSql]], and [[seriesCalendar]]) and by
  * date ([[dateCalendar]]), and the doc-id-halves length ECDF
  * ([[halvesEcdf]], with its oracle twin [[halvesEcdfSql]]).
  */
object MonitorOps {
  import OracleMath._

  /** Column `c` read as a double. */
  private def d(c: String): Column = col(c).cast("double")

  /** The daily event count: per day `d` of `events` with an event (and
    * per `by` column), its number of events, named `as`.
    */
  private[graft] def dailyCount(events: DataFrame, as: String, by: String*): DataFrame =
    events.groupBy(to_date(col("ts")).as("d") +: by.map(col): _*).agg(count(lit(1)).as(as))

  /** The day offsets `k` = 0 … datediff(hi, lo) of a span row. */
  private def offsets: Column = explode(expr("sequence(0, datediff(hi, lo))")).as("k")

  /** The per-type dense calendar of an (event_type, d, x) daily-count
    * frame: every type gets a row for each day offset `k` of the
    * global span lo … hi, even before its own first event, with the
    * day's count `x` (0 on a day without events). The summed count is
    * named `sumAs` before the zero fill; `carry` keeps span columns.
    */
  private[graft] def typeCalendar(daily: DataFrame, sumAs: String, carry: String*): DataFrame = {
    val span = daily.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val types = daily.select(col("event_type")).distinct()
    types.crossJoin(broadcast(span))
      .select((col("event_type") +: carry.map(col)) :+ offsets: _*)
      .join(
        daily.crossJoin(broadcast(span))
          .groupBy(col("event_type"), datediff(col("d"), col("lo")).as("k"))
          .agg(sum(col("x")).as(sumAs)),
        Seq("event_type", "k"), "left")
      .select((Seq(col("event_type"), col("k")) ++ carry.map(col)) :+
        coalesce(col(sumAs), lit(0L)).as("x"): _*)
  }

  /** The single-series dense calendar of a (d, x) daily-count frame:
    * one row per day offset `k` of its span with the day's count `x`
    * (0 on a day without events).
    */
  private[graft] def seriesCalendar(daily: DataFrame): DataFrame = {
    val span = daily.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    span.select(offsets)
      .join(
        daily.crossJoin(broadcast(span))
          .groupBy(datediff(col("d"), col("lo")).as("k")).agg(sum(col("x")).as("x0")),
        Seq("k"), "left")
      .select(col("k"), coalesce(col("x0"), lit(0L)).as("x"))
  }

  /** The dense calendar by date: each row of `grid` (its `by` columns
    * and a span lo … hi) becomes one row per date `d` of the span,
    * left-joined on (`by`, d) to `daily`'s count `c` (0 on a day
    * without events).
    */
  private[graft] def dateCalendar(grid: DataFrame, daily: DataFrame, by: String*): DataFrame =
    grid.select(by.map(col) :+ explode(expr("sequence(lo, hi)")).as("d"): _*)
      .join(daily, by :+ "d", "left")
      .select(by.map(col) ++ Seq(col("d"), coalesce(col("c"), lit(0L)).as("c")): _*)

  /** The doc-id-halves length ECDF of the drift tests: a document is in
    * half 1 when its doc id lies at or below the midpoint of the id
    * span ((doc_id − lo)·2 ≤ hi − lo), else in half 2. Returns the
    * per-(lang, n_chars) counts `c1`/`c2` with their running totals
    * `f1`/`f2` in n_chars order, and each lang's half sizes `n1`/`n2`,
    * which the running totals end at. `docs` needs doc_id, lang and
    * n_chars.
    */
  private[graft] def halvesEcdf(docs: DataFrame): (DataFrame, DataFrame) = {
    val d0 = docs.select(col("doc_id"), col("lang"), col("n_chars"))
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
    (hist
      .withColumn("f1", sum(col("c1")).over(w))
      .withColumn("f2", sum(col("c2")).over(w)), tot)
  }

  /** [[halvesEcdf]] in the oracle's SQL: the `span`, `hist`, `cum` and
    * `tot` CTEs, ending in a comma. `cumExtra` adds columns to `cum`.
    */
  private def halvesEcdfSql(cumExtra: String = ""): String =
    s"""WITH span AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
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
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f2$cumExtra
       |  FROM hist
       |),
       |tot AS (SELECT lang, CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
       |        FROM hist GROUP BY 1),
       |""".stripMargin

  /** #280 psi_drift — Population Stability Index of the event-type mix
    * between the first and second half of the observed time span (the
    * standard model-monitoring drift score; each event type is one PSI
    * bucket). The heavy work is ONE map-side-combinable count over
    * (half, event_type) — 2×|types| rows out of the scan, so the whole
    * op is a single fine-keyed agg plus broadcast arithmetic at any
    * volume; the split point derives from the data (no wall clock).
    * Shares are exact double divisions of exact longs; the log term is
    * the sourceLangEntropy-proven cross-engine pattern.
    */
  def psiDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(to_date(col("ts")).as("d"), col("event_type"))
    val span = ev.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val halves = ev.crossJoin(broadcast(span))
      .select(
        col("event_type"),
        when(datediff(col("d"), col("lo")) * 2 <= datediff(col("hi"), col("lo")), lit(1))
          .otherwise(lit(2)).as("half"))
      .groupBy(col("event_type"), col("half"))
      .agg(count(lit(1)).as("n"))
    val wide = halves.groupBy(col("event_type"))
      .agg(
        sum(when(col("half") === 1, col("n")).otherwise(lit(0L))).as("n_first"),
        sum(when(col("half") === 2, col("n")).otherwise(lit(0L))).as("n_second"))
    psiFinish(wide)
  }

  /** The PSI arithmetic over any (event_type, n_first, n_second) count
    * frame — shared by the batch op and the streaming drift monitor
    * (streaming.psiStream serves THIS over its live state, so drained
    * stream ≡ batch is an identity, not a coincidence).
    */
  private[graft] def psiFinish(wide: DataFrame): DataFrame = {
    val tot = wide.agg(sum(col("n_first")).as("t1"), sum(col("n_second")).as("t2"))
    wide.crossJoin(broadcast(tot))
      .withColumn("s1", col("n_first").cast("double") / col("t1").cast("double"))
      .withColumn("s2", col("n_second").cast("double") / col("t2").cast("double"))
      .select(
        col("event_type"), col("n_first"), col("n_second"),
        emit(col("s1"), 6).as("share_first"),
        emit(col("s2"), 6).as("share_second"),
        when(col("n_first") === 0 || col("n_second") === 0, lit(null).cast("double"))
          .otherwise(emit((col("s2") - col("s1")) * log(col("s2") / col("s1")), 6))
          .as("psi_term"))
      .orderBy(col("event_type"))
  }

  val psiDriftSql: String =
    """WITH ev AS (SELECT CAST(ts AS DATE) AS d, event_type FROM events),
      |span AS (SELECT min(d) AS lo, max(d) AS hi FROM ev),
      |halves AS (
      |  SELECT event_type,
      |    CASE WHEN datediff('day', lo, d) * 2 <= datediff('day', lo, hi) THEN 1 ELSE 2 END AS half,
      |    count(*) AS n
      |  FROM ev, span GROUP BY 1, 2
      |),
      |wide AS (
      |  SELECT event_type,
      |    sum(CASE WHEN half = 1 THEN n ELSE 0 END) AS n_first,
      |    sum(CASE WHEN half = 2 THEN n ELSE 0 END) AS n_second
      |  FROM halves GROUP BY 1
      |),
      |tot AS (SELECT sum(n_first) AS t1, sum(n_second) AS t2 FROM wide),
      |sh AS (
      |  SELECT event_type, n_first, n_second,
      |    CAST(n_first AS DOUBLE) / CAST(t1 AS DOUBLE) AS s1,
      |    CAST(n_second AS DOUBLE) / CAST(t2 AS DOUBLE) AS s2
      |  FROM wide, tot
      |)
      |SELECT event_type, CAST(n_first AS BIGINT) AS n_first, CAST(n_second AS BIGINT) AS n_second,
      |  (CAST(round(s1, 6) AS DOUBLE) + 0.0) AS share_first,
      |  (CAST(round(s2, 6) AS DOUBLE) + 0.0) AS share_second,
      |  CASE WHEN n_first = 0 OR n_second = 0 THEN NULL
      |       ELSE (CAST(round((s2 - s1) * ln(s2 / s1), 6) AS DOUBLE) + 0.0) END AS psi_term
      |FROM sh ORDER BY event_type""".stripMargin

  /** The batch first-half baseline for the streaming drift monitor:
    * (event_type, n_first) counts under the same data-derived split
    * rule psi_drift uses.
    */
  def psiBaseline(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(to_date(col("ts")).as("d"), col("event_type"))
    val span = ev.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    ev.crossJoin(broadcast(span))
      .filter(datediff(col("d"), col("lo")) * 2 <= datediff(col("hi"), col("lo")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_first"))
  }

  /** #281 cusum_changepoint — CUSUM change-point location per event
    * type over the dense daily-count series. The statistic stays in
    * SCALED INTEGERS end-to-end: with n observed days and per-type
    * total T, S_k = Σ_{d≤k} (n·c_d − T) = n·k·(mean_before_k − mean),
    * a pure BIGINT running sum whose argmax is the classic CUSUM
    * change-point estimate — no float accumulation order to diverge
    * between engines (the events_autocorr discipline). The only
    * full-data shuffle is the (day, type) count; the cumulative window
    * runs over the bounded day×type matrix (calendar-sized, never
    * data-sized), densified by the gap_fill span-broadcast device so a
    * zero-count day still moves the statistic.
    */
  def cusumChangepoint(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(to_date(col("ts")).as("d"), col("event_type"))
    val span = ev.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val types = ev.select(col("event_type")).distinct()
    val daily = ev.groupBy(col("event_type"), col("d")).agg(count(lit(1)).as("c"))
    val dense = dateCalendar(types.crossJoin(broadcast(span)), daily, "event_type")
    val stats = dense.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("total"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cusum = dense.join(stats, Seq("event_type"))
      .withColumn("dev", col("n_days") * col("c") - col("total"))
      .withColumn("s", sum(col("dev")).over(wCum))
    val wPick = Window.partitionBy(col("event_type"))
      .orderBy(abs(col("s")).desc, col("d"))
    cusum
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(
        col("event_type"),
        date_format(col("d"), "yyyy-MM-dd").as("cp_day"),
        abs(col("s")).as("max_abs_cusum"),
        signum(col("s").cast("double")).cast("int").as("direction"),
        col("n_days"), col("total"))
      .orderBy(col("event_type"))
  }

  val cusumChangepointSql: String =
    """WITH ev AS (SELECT CAST(ts AS DATE) AS d, event_type FROM events),
      |span AS (SELECT min(d) AS lo, max(d) AS hi FROM ev),
      |types AS (SELECT DISTINCT event_type FROM ev),
      |calendar AS (
      |  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
      |  FROM types, span
      |),
      |daily AS (SELECT event_type, d, count(*) AS c FROM ev GROUP BY 1, 2),
      |dense AS (
      |  SELECT cal.event_type, cal.d, coalesce(daily.c, 0) AS c
      |  FROM calendar cal LEFT JOIN daily USING (event_type, d)
      |),
      |stats AS (SELECT event_type, count(*) AS n_days, sum(c) AS total FROM dense GROUP BY 1),
      |cusum AS (
      |  SELECT dense.event_type, d, n_days, total,
      |    sum(n_days * c - total) OVER (PARTITION BY dense.event_type ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      |  FROM dense JOIN stats USING (event_type)
      |),
      |pick AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY abs(s) DESC, d) AS rn
      |  FROM cusum
      |)
      |SELECT event_type, strftime(d, '%Y-%m-%d') AS cp_day,
      |  CAST(abs(s) AS BIGINT) AS max_abs_cusum,
      |  CAST(sign(s) AS INT) AS direction,
      |  CAST(n_days AS BIGINT) AS n_days, CAST(total AS BIGINT) AS total
      |FROM pick WHERE rn = 1 ORDER BY event_type""".stripMargin

  /** #284 seasonal_decompose — classical additive decomposition of the
    * daily event-volume series: trend = centered 7-day moving average,
    * seasonal = per-weekday mean deviation, residual = the rest. All
    * intermediate totals are ×7-SCALED BIGINTs (sum7, dev7 = 7·c −
    * sum7, per-weekday Σdev7), so every cross-row accumulation is
    * integer-exact and order-free; the only doubles are final exact-
    * integer divisions, correctly rounded identically in both engines.
    * Interior days only (full 7-day window), so no null-edge
    * semantics. The series is calendar-sized after ONE fine-keyed
    * daily count — the window and weekday aggs never touch raw events.
    */
  def seasonalDecompose(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCount(Tables.events(s, dir), "c")
    val w7 = Window.orderBy(col("d")).rowsBetween(-3, 3)
    val interior = daily
      .withColumn("sum7", sum(col("c")).over(w7))
      .withColumn("n7", count(lit(1)).over(w7))
      .filter(col("n7") === 7)
      .withColumn("dev7", lit(7) * col("c") - col("sum7"))
      .withColumn("wd", weekday(col("d")))
    val seas = interior.groupBy(col("wd"))
      .agg(sum(col("dev7")).as("s_num"), count(lit(1)).as("s_den"))
    interior.join(broadcast(seas), Seq("wd"))
      .select(
        date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("c").as("n_events"),
        emit(col("sum7").cast("double") / 7.0, 6).as("trend"),
        emit(col("s_num").cast("double") / (col("s_den").cast("double") * 7.0), 6)
          .as("seasonal"),
        emit(
          (col("dev7").cast("double")
            - col("s_num").cast("double") / col("s_den").cast("double")) / 7.0,
          6).as("residual"))
      .orderBy(col("day"))
  }

  val seasonalDecomposeSql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS c FROM events GROUP BY 1),
      |win AS (
      |  SELECT d, c,
      |    sum(c) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS sum7,
      |    count(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS n7
      |  FROM daily
      |),
      |interior AS (
      |  SELECT d, c, sum7, 7 * c - sum7 AS dev7, isodow(d) - 1 AS wd
      |  FROM win WHERE n7 = 7
      |),
      |seas AS (SELECT wd, sum(dev7) AS s_num, count(*) AS s_den FROM interior GROUP BY 1)
      |SELECT strftime(d, '%Y-%m-%d') AS day, CAST(c AS BIGINT) AS n_events,
      |  (CAST(round(CAST(sum7 AS DOUBLE) / 7.0, 6) AS DOUBLE) + 0.0) AS trend,
      |  (CAST(round(CAST(s_num AS DOUBLE) / (CAST(s_den AS DOUBLE) * 7.0), 6) AS DOUBLE) + 0.0) AS seasonal,
      |  (CAST(round((CAST(dev7 AS DOUBLE) - CAST(s_num AS DOUBLE) / CAST(s_den AS DOUBLE)) / 7.0, 6) AS DOUBLE) + 0.0) AS residual
      |FROM interior JOIN seas USING (wd) ORDER BY day""".stripMargin

  /** #300 theil_sen_trend — the robust daily-volume trend per event
    * type: the Theil–Sen estimator (median of all pairwise slopes) is
    * the monitor-grade alternative to OLS (#161's zipf fit) because a
    * single anomalous day cannot move it. The pair space is the
    * CALENDAR², not the data² — after the one (day, type) count the
    * O(days²/2) slope pairs are a few hundred rows per type at any
    * volume. Slopes are exact integer-over-integer double divisions;
    * the median is the standard p·(n−1) interpolation both engines
    * evaluate identically on exact inputs (the quantile_drift
    * precedent, gate-verified at two SFs).
    */
  def theilSenTrend(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))
      .select(col("event_type"), datediff(col("d"), lit("2024-01-01").cast("date")).as("x"), col("c"))
    val slopes = daily.as("l")
      .join(daily.as("r"),
        col("l.event_type") === col("r.event_type") && col("l.x") < col("r.x"))
      .select(
        col("l.event_type").as("event_type"),
        ((col("r.c") - col("l.c")).cast("double")
          / (col("r.x") - col("l.x")).cast("double")).as("slope"))
    slopes.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_pairs"),
        emit(expr("percentile(slope, 0.5)"), 6).as("trend_per_day"))
      .orderBy(col("event_type"))
  }

  val theilSenTrendSql: String =
    """WITH daily AS (
      |  SELECT event_type, datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x, count(*) AS c
      |  FROM events GROUP BY 1, 2
      |),
      |slopes AS (
      |  SELECT l.event_type,
      |    CAST(r.c - l.c AS DOUBLE) / CAST(r.x - l.x AS DOUBLE) AS slope
      |  FROM daily l JOIN daily r ON l.event_type = r.event_type AND l.x < r.x
      |)
      |SELECT event_type, count(*) AS n_pairs,
      |  (CAST(round(quantile_cont(slope, 0.5), 6) AS DOUBLE) + 0.0) AS trend_per_day
      |FROM slopes GROUP BY 1 ORDER BY event_type""".stripMargin

  /** #307 holt_forecast — Holt's linear-trend exponential smoothing
    * (Holt 1957) over each type's dense daily count series, emitting
    * the 1..7-day-ahead forecast l_n + h·t_n — the capacity-planning
    * readout beside the diagnostic monitors (ewma_hourly smooths,
    * seasonal_decompose explains, THIS extrapolates). α=0.5 and β=0.25
    * are exactly-representable doubles; init l₀=x₀, t₀=x₁−x₀
    * (textbook), then l_k = α·x_k + (1−α)(l+t),
    * t_k = β(l_k−l) + (1−β)t. Scale shape: the only full-data work is
    * ONE (type, day) count with map-side combine; the recurrence is
    * inherently sequential, so it folds over a CALENDAR-bounded sorted
    * array per type (30 entries here; a year is 365) via the aggregate
    * higher-order function — never a driver loop, never a window over
    * raw events. Exact oracle: DuckDB replays the identical recurrence
    * as a recursive CTE — same IEEE ops in the same sequential order
    * produce the same bits (the deterministic-chain rule), 6-dp emit.
    */
  def holtForecast(s: SparkSession, dir: String): DataFrame =
    holtFromDaily(dailyCount(Tables.events(s, dir), "x", "event_type"))

  /** [[typeCalendar]] with the count read as a double — shared by the
    * Holt family.
    */
  private def denseDaily(daily: DataFrame): DataFrame =
    typeCalendar(daily, "x").select(col("event_type"), col("k"), col("x").cast("double").as("x"))

  /** The Holt fold over any (event_type, d, x) daily-count frame —
    * shared by the batch op and the streaming twin
    * (streaming.holtFromCounts serves THIS over drained live counts,
    * so stream ≡ batch is an identity, the psiFinish pattern).
    */
  private[graft] def holtFromDaily(daily: DataFrame): DataFrame = {
    val folded = denseDaily(daily)
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("k"), col("x")))).as("arr"))
      // Holt's init needs two observations (l₀ = x₁, t₀ = x₂ − x₁); on
      // a degenerate single-day calendar the oracle's recursive CTE
      // returns zero rows while element_at(arr, 2) here would emit
      // null trend/forecast — both engines must agree: no rows
      .filter(size(col("arr")) >= 2)
      .select(
        col("event_type"),
        aggregate(
          expr("slice(arr, 2, size(arr) - 1)"),
          struct(
            expr("element_at(arr, 1).x").as("l"),
            (expr("element_at(arr, 2).x") - expr("element_at(arr, 1).x")).as("t")),
          (acc, e) => {
            val lNew = lit(0.5) * e.getField("x") + lit(0.5) * (acc.getField("l") + acc.getField("t"))
            struct(
              lNew.as("l"),
              (lit(0.25) * (lNew - acc.getField("l")) + lit(0.75) * acc.getField("t")).as("t"))
          }).as("st"))
    folded
      .select(col("event_type"), col("st.l").as("l"), col("st.t").as("t"),
        explode(expr("sequence(1, 7)")).as("h"))
      .select(
        col("event_type"), col("h"),
        emit(col("l"), 6).as("level"),
        emit(col("t"), 6).as("trend"),
        emit(col("l") + col("h").cast("double") * col("t"), 6).as("forecast"))
      .orderBy(col("event_type"), col("h"))
  }

  /** The Holt family's oracle calendar: the `ev`, `span`, `types`,
    * `cal` (type × day offset) and `cnt` (per type and offset) CTEs
    * after `WITH RECURSIVE`, ending in a comma.
    */
  private val holtCalendarSql: String =
    """WITH RECURSIVE ev AS (SELECT CAST(ts AS DATE) AS d, event_type FROM events),
      |span AS (SELECT min(d) AS lo, max(d) AS hi FROM ev),
      |types AS (SELECT DISTINCT event_type FROM ev),
      |cal AS (
      |  SELECT event_type, unnest(generate_series(0, datediff('day', lo, hi))) AS k
      |  FROM types, span
      |),
      |cnt AS (
      |  SELECT event_type, datediff('day', lo, d) AS k, count(*) AS x
      |  FROM ev, span GROUP BY 1, 2
      |),
      |""".stripMargin

  val holtForecastSql: String =
    holtCalendarSql +
      """|dense AS (
         |  SELECT cal.event_type, cal.k,
         |    CAST(coalesce(cnt.x, 0) AS DOUBLE) AS x
         |  FROM cal LEFT JOIN cnt ON cal.event_type = cnt.event_type AND cal.k = cnt.k
         |),
         |init AS (
         |  SELECT a.event_type, a.x AS l, b.x - a.x AS t
         |  FROM dense a JOIN dense b ON a.event_type = b.event_type AND a.k = 0 AND b.k = 1
         |),
         |rec AS (
         |  SELECT event_type, 0 AS k, l, t FROM init
         |  UNION ALL
         |  SELECT r.event_type, r.k + 1,
         |    0.5 * d.x + 0.5 * (r.l + r.t) AS l,
         |    0.25 * ((0.5 * d.x + 0.5 * (r.l + r.t)) - r.l) + 0.75 * r.t AS t
         |  FROM rec r JOIN dense d ON d.event_type = r.event_type AND d.k = r.k + 1
         |),
         |last AS (SELECT max(k) AS kmax FROM rec),
         |fin AS (SELECT event_type, l, t FROM rec, last WHERE k = kmax)
         |SELECT event_type, h,
         |  (CAST(round(l, 6) AS DOUBLE) + 0.0) AS level,
         |  (CAST(round(t, 6) AS DOUBLE) + 0.0) AS trend,
         |  (CAST(round(l + CAST(h AS DOUBLE) * t, 6) AS DOUBLE) + 0.0) AS forecast
         |FROM fin, (SELECT unnest(generate_series(1, 7)) AS h)
         |ORDER BY event_type, h""".stripMargin

  /** #318 holt_winters_forecast — additive Holt–Winters triple
    * exponential smoothing (Winters 1960) with weekly seasonality
    * (m=7) per event type: #307 holt_forecast extrapolates the trend,
    * THIS also carries the day-of-week shape — the forecast a
    * capacity planner actually wants for traffic with a weekend dip.
    * α=0.5, β=0.25, γ=0.5 (all exactly-representable doubles);
    * textbook init (l₀ = first-week mean, t₀ = week-over-week mean
    * slope / 7, s_i = x_i − l₀); recurrence l' = α(x−s₋₇)+(1−α)(l+t),
    * t' = β(l'−l)+(1−β)t, s' = γ(x−l')+(1−γ)s₋₇, carried as a
    * ROTATING 7-element seasonal list in the fold state (head = the
    * season about to recur), so the inherently-sequential pass stays
    * one aggregate-HOF fold over the calendar-bounded array — the
    * #307 scale shape with richer state, never a driver loop.
    * Forecast_h = l + h·t + s[h]. Init sums are integral doubles
    * (exact in any order); the recurrence is the identical IEEE chain
    * in the oracle's recursive CTE, which carries the seasonal list
    * as a rotating LIST column (exact oracle, 6-dp emit).
    */
  def holtWintersForecast(s: SparkSession, dir: String): DataFrame = {
    val m = 7
    val folded = denseDaily(dailyCount(Tables.events(s, dir), "x", "event_type"))
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("k"), col("x")))).as("arr"))
      // the two-week init (l₀, t₀, s₀) needs 14 observed days; the
      // oracle's recursive CTE starts at k = 14 and returns zero rows
      // on a shorter calendar, so both engines must agree: no rows
      .filter(size(col("arr")) >= 2 * m)
      // init over the first two weeks: exact integral-double sums
      .withColumn("sum1", expr("aggregate(slice(arr, 1, 7), cast(0.0 as double), (a, e) -> a + e.x)"))
      .withColumn("sum2", expr("aggregate(slice(arr, 8, 7), cast(0.0 as double), (a, e) -> a + e.x)"))
      .withColumn("l0", col("sum1") / lit(7.0))
      .withColumn("t0", (col("sum2") / lit(7.0) - col("sum1") / lit(7.0)) / lit(7.0))
      .withColumn("s0", expr("transform(slice(arr, 1, 7), e -> e.x - l0)"))
      .withColumn("st",
        aggregate(
          expr("slice(arr, 8, size(arr) - 7)"),
          struct(col("l0").as("l"), col("t0").as("t"), col("s0").as("s")),
          (acc, e) => {
            val sOld = element_at(acc.getField("s"), 1)
            val lNew = lit(0.5) * (e.getField("x") - sOld) +
              lit(0.5) * (acc.getField("l") + acc.getField("t"))
            val tNew = lit(0.25) * (lNew - acc.getField("l")) + lit(0.75) * acc.getField("t")
            val sNew = lit(0.5) * (e.getField("x") - lNew) + lit(0.5) * sOld
            struct(
              lNew.as("l"), tNew.as("t"),
              concat(slice(acc.getField("s"), 2, m - 1), array(sNew)).as("s"))
          }))
    folded
      .select(col("event_type"), col("st.l").as("l"), col("st.t").as("t"), col("st.s").as("s"),
        explode(expr("sequence(1, 7)")).as("h"))
      .select(
        col("event_type"), col("h"),
        emit(col("l"), 6).as("level"),
        emit(col("t"), 6).as("trend"),
        emit(element_at(col("s"), col("h")), 6).as("seasonal"),
        emit(col("l") + col("h").cast("double") * col("t")
          + element_at(col("s"), col("h")), 6).as("forecast"))
      .orderBy(col("event_type"), col("h"))
  }

  val holtWintersForecastSql: String =
    holtCalendarSql +
      """|dense AS (
         |  SELECT cal.event_type, cal.k, CAST(coalesce(cnt.x, 0) AS DOUBLE) AS x
         |  FROM cal LEFT JOIN cnt ON cal.event_type = cnt.event_type AND cal.k = cnt.k
         |),
         |sums AS (
         |  SELECT event_type,
         |    sum(x) FILTER (WHERE k < 7) AS sum1,
         |    sum(x) FILTER (WHERE k >= 7 AND k < 14) AS sum2
         |  FROM dense GROUP BY 1
         |),
         |wk1 AS (
         |  SELECT event_type, list(x ORDER BY k) AS xs FROM dense WHERE k < 7 GROUP BY 1
         |),
         |init AS (
         |  SELECT s.event_type, 6 AS k,
         |    s.sum1 / 7.0 AS l,
         |    (s.sum2 / 7.0 - s.sum1 / 7.0) / 7.0 AS t,
         |    list_transform(w.xs, v -> v - s.sum1 / 7.0) AS sl
         |  FROM sums s JOIN wk1 w ON s.event_type = w.event_type
         |),
         |rec AS (
         |  SELECT event_type, k, l, t, sl FROM init
         |  UNION ALL
         |  SELECT r.event_type, r.k + 1,
         |    0.5 * (d.x - r.sl[1]) + 0.5 * (r.l + r.t) AS l,
         |    0.25 * ((0.5 * (d.x - r.sl[1]) + 0.5 * (r.l + r.t)) - r.l) + 0.75 * r.t AS t,
         |    r.sl[2:7] ||
         |      [0.5 * (d.x - (0.5 * (d.x - r.sl[1]) + 0.5 * (r.l + r.t))) + 0.5 * r.sl[1]] AS sl
         |  FROM rec r JOIN dense d ON d.event_type = r.event_type AND d.k = r.k + 1
         |),
         |last AS (SELECT max(k) AS kmax FROM rec),
         |fin AS (SELECT event_type, l, t, sl FROM rec, last WHERE k = kmax)
         |SELECT event_type, h,
         |  (CAST(round(l, 6) AS DOUBLE) + 0.0) AS level,
         |  (CAST(round(t, 6) AS DOUBLE) + 0.0) AS trend,
         |  (CAST(round(sl[h], 6) AS DOUBLE) + 0.0) AS seasonal,
         |  (CAST(round(l + CAST(h AS DOUBLE) * t + sl[h], 6) AS DOUBLE) + 0.0) AS forecast
         |FROM fin, (SELECT unnest(generate_series(1, 7)) AS h)
         |ORDER BY event_type, h""".stripMargin

  /** #327 ks_drift_test — two-sample Kolmogorov–Smirnov test of the
    * doc-length distribution between the first and second half of the
    * doc-id space, per language: psi_drift reads a BINNED divergence
    * and quantile_drift a few fixed quantiles; KS is the binless
    * sup-norm over the WHOLE distribution with a significance
    * boundary (D_crit = 1.358·√((n1+n2)/(n1·n2)), α=0.05). The sup is
    * exact rational arithmetic end to end: per (lang, n_chars) counts
    * collapse the corpus to the distinct-value histogram in ONE
    * map-side-combinable agg; the cumulative ECDFs run over that
    * value-domain-bounded relation (window partitioned by lang, never
    * raw docs); D's numerator |F1·n2 − F2·n1| stays in DECIMAL(38,0)
    * (the graph_assortativity overflow rule) and only the final
    * quotient touches floats; D, a ratio of counts, rounds the DuckDB
    * way (`roundDouble`). Exact oracle.
    */
  def ksDriftTest(s: SparkSession, dir: String): DataFrame = {
    val (cum, tot) = halvesEcdf(Tables.documents(s, dir))
    cum.join(broadcast(tot), Seq("lang"))
      .select(col("lang"), col("n1"), col("n2"),
        abs(dec0(col("f1")) * dec0(col("n2")) - dec0(col("f2")) * dec0(col("n1"))).as("num"))
      .groupBy(col("lang"), col("n1"), col("n2"))
      .agg(max(col("num")).as("mnum"))
      .select(col("lang"), col("n1"), col("n2"),
        (roundDouble(col("mnum").cast("double") / (d("n1") * d("n2")), 6) + lit(0.0)).as("ks_d"),
        emit(lit(1.358) * sqrt((col("n1") + col("n2")).cast("double")
          / (col("n1").cast("double") * col("n2").cast("double"))), 6).as("d_crit"))
      .withColumn("drifted", col("ks_d") > col("d_crit"))
      .orderBy(col("lang"))
  }

  val ksDriftTestSql: String =
    halvesEcdfSql() +
      """|sup AS (
         |  SELECT cum.lang, tot.n1, tot.n2,
         |    max(abs(CAST(f1 AS DECIMAL(38,0)) * CAST(n2 AS DECIMAL(38,0))
         |          - CAST(f2 AS DECIMAL(38,0)) * CAST(n1 AS DECIMAL(38,0)))) AS mnum
         |  FROM cum JOIN tot ON cum.lang = tot.lang GROUP BY 1, 2, 3
         |)
         |SELECT lang, n1, n2,
         |  (CAST(round(CAST(mnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS ks_d,
         |  (CAST(round(1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))), 6) AS DOUBLE) + 0.0) AS d_crit,
         |  CAST(round(CAST(mnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS DOUBLE)
         |    > (CAST(round(1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))), 6) AS DOUBLE) + 0.0) AS drifted
         |FROM sup ORDER BY lang""".stripMargin

  /** #332 forecast_backtest — one-step-ahead backtest of the two
    * structural baselines every forecast must beat (Hyndman's
    * forecasting-101 rule): naive (tomorrow = today) vs seasonal
    * naive (tomorrow = same weekday last week), MAE per event type
    * over the last 14 days of the dense calendar. The models the
    * catalog ships (#307/#318) are only trustworthy relative to THESE
    * floors — a Holt fit that loses to seasonal-naive is a bug
    * report. Predictions are equi-joins on the day index (k−1, k−7)
    * over the calendar-bounded dense frame; errors are exact longs,
    * means via the mean6 device. Exact oracle.
    */
  def forecastBacktest(s: SparkSession, dir: String): DataFrame = {
    val dense = typeCalendar(dailyCount(Tables.events(s, dir), "x", "event_type"), "x0", "lo", "hi")
      .select(col("event_type"), col("k"), datediff(col("hi"), col("lo")).as("kmax"), col("x"))
    val denseCut = graft.Lineage.cut(dense) // calendar-bounded, read 3x
    val base = denseCut.select(col("event_type"), col("k"), col("x"))
    val lag1 = base.select(col("event_type"), (col("k") + 1).as("k"), col("x").as("p1"))
    val lag7 = base.select(col("event_type"), (col("k") + 7).as("k"), col("x").as("p7"))
    denseCut
      .join(lag1, Seq("event_type", "k"))
      .join(lag7, Seq("event_type", "k"))
      .filter(col("k") > col("kmax") - 14)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_days"),
        sum(abs(col("x") - col("p1"))).as("s1"),
        sum(abs(col("x") - col("p7"))).as("s7"))
      .select(col("event_type"), col("n_days"),
        Round6Ops.mean6(col("s1").cast(Dec), col("n_days")).as("mae_naive"),
        Round6Ops.mean6(col("s7").cast(Dec), col("n_days")).as("mae_seasonal"))
      .withColumn("winner",
        when(col("mae_seasonal") < col("mae_naive"), "seasonal")
          .when(col("mae_seasonal") > col("mae_naive"), "naive")
          .otherwise("tie"))
      .orderBy(col("event_type"))
  }

  val forecastBacktestSql: String = {
    val m1 = Round6Ops.mean6Sql("s1", "n_days")
    val m7 = Round6Ops.mean6Sql("s7", "n_days")
    s"""WITH ev AS (SELECT CAST(ts AS DATE) AS d, event_type FROM events),
       |span AS (SELECT min(d) AS lo, max(d) AS hi FROM ev),
       |types AS (SELECT DISTINCT event_type FROM ev),
       |ks AS (
       |  SELECT unnest(generate_series(0, datediff('day', lo, hi))) AS k FROM span
       |),
       |cal AS (
       |  SELECT t.event_type, ks.k, s.kmax
       |  FROM types t
       |  CROSS JOIN ks
       |  CROSS JOIN (SELECT datediff('day', lo, hi) AS kmax FROM span) s
       |),
       |cnt AS (
       |  SELECT event_type, datediff('day', lo, d) AS k, count(*) AS x
       |  FROM ev, span GROUP BY 1, 2
       |),
       |dense AS (
       |  SELECT cal.event_type, cal.k, cal.kmax, CAST(coalesce(cnt.x, 0) AS BIGINT) AS x
       |  FROM cal LEFT JOIN cnt ON cal.event_type = cnt.event_type AND cal.k = cnt.k
       |),
       |j AS (
       |  SELECT d.event_type, d.x, a.x AS p1, b.x AS p7
       |  FROM dense d
       |  JOIN dense a ON a.event_type = d.event_type AND a.k = d.k - 1
       |  JOIN dense b ON b.event_type = d.event_type AND b.k = d.k - 7
       |  WHERE d.k > d.kmax - 14
       |),
       |agg AS (
       |  SELECT event_type, count(*) AS n_days,
       |    CAST(sum(abs(x - p1)) AS DECIMAL(38,6)) AS s1,
       |    CAST(sum(abs(x - p7)) AS DECIMAL(38,6)) AS s7
       |  FROM j GROUP BY 1
       |)
       |SELECT event_type, n_days,
       |  $m1 AS mae_naive,
       |  $m7 AS mae_seasonal,
       |  CASE WHEN $m7 < $m1 THEN 'seasonal'
       |       WHEN $m7 > $m1 THEN 'naive' ELSE 'tie' END AS winner
       |FROM agg ORDER BY event_type""".stripMargin
  }

  /** #343 mann_kendall_trend — the Mann–Kendall monotone-trend test
    * per event type over the dense daily calendar: theil_sen gives
    * the robust SLOPE, this gives the SIGNIFICANCE (S = Σ_{i<j}
    * sign(x_j − x_i), tie-corrected variance, continuity-corrected
    * z) — the standard pair for "is volume actually trending or am I
    * reading noise". All pair work runs on the CALENDAR-bounded dense
    * frame (a |days|²/2 self-join per type — ~1.8k pairs at 60 days,
    * never data-volume-sized); S and both variance terms are exact
    * integers (the tie term reads off the per-type value histogram),
    * z is one mirrored float chain with the S∓1 correction. Exact
    * oracle.
    */
  def mannKendallTrend(s: SparkSession, dir: String): DataFrame = {
    val denseCut = graft.Lineage.cut( // calendar-bounded, read 3x
      typeCalendar(dailyCount(Tables.events(s, dir), "x", "event_type"), "x0"))
    val a = denseCut.select(col("event_type"), col("k").as("ki"), col("x").as("xi"))
    val b = denseCut.select(col("event_type"), col("k").as("kj"), col("x").as("xj"))
    val sStat = a.join(b, Seq("event_type")).filter(col("ki") < col("kj"))
      .groupBy(col("event_type"))
      .agg(sum(signum(col("xj") - col("xi")).cast("long")).as("s"),
        (max(col("kj")) + 1).as("n"))
    val ties = denseCut.groupBy(col("event_type"), col("x")).agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tie_term"))
    val varNum = (col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) - col("tie_term"))
    val varS = varNum.cast("double") / lit(18.0)
    val z = when(col("s") > 0, (col("s") - 1).cast("double") / sqrt(varS))
      .when(col("s") < 0, (col("s") + 1).cast("double") / sqrt(varS))
      .otherwise(lit(0.0))
    sStat.join(ties, Seq("event_type"))
      .select(col("event_type"), col("n").as("n_days"), col("s"),
        emit(varS, 4).as("var_s"),
        emit(z, 4).as("z"),
        when(abs(emit(z, 4)) > 1.96,
          when(col("s") > 0, "rising").otherwise("falling")).otherwise("flat").as("trend"))
      .orderBy(col("event_type"))
  }

  val mannKendallTrendSql: String =
    """WITH ev AS (SELECT CAST(ts AS DATE) AS d, event_type FROM events),
      |span AS (SELECT min(d) AS lo, max(d) AS hi FROM ev),
      |types AS (SELECT DISTINCT event_type FROM ev),
      |ks AS (SELECT unnest(generate_series(0, datediff('day', lo, hi))) AS k FROM span),
      |cal AS (SELECT t.event_type, ks.k FROM types t CROSS JOIN ks),
      |cnt AS (
      |  SELECT event_type, datediff('day', lo, d) AS k, count(*) AS x
      |  FROM ev, span GROUP BY 1, 2
      |),
      |dense AS (
      |  SELECT cal.event_type, cal.k, CAST(coalesce(cnt.x, 0) AS BIGINT) AS x
      |  FROM cal LEFT JOIN cnt ON cal.event_type = cnt.event_type AND cal.k = cnt.k
      |),
      |sstat AS (
      |  SELECT a.event_type,
      |    CAST(sum(CAST(sign(b.x - a.x) AS BIGINT)) AS BIGINT) AS s,
      |    CAST(max(b.k) + 1 AS BIGINT) AS n
      |  FROM dense a JOIN dense b ON a.event_type = b.event_type AND a.k < b.k
      |  GROUP BY 1
      |),
      |ties AS (
      |  SELECT event_type,
      |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      |  FROM (SELECT event_type, x, count(*) AS t FROM dense GROUP BY 1, 2)
      |  GROUP BY 1
      |)
      |SELECT sstat.event_type, n AS n_days, s,
      |  (CAST(round(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0, 4) AS DOUBLE) + 0.0) AS var_s,
      |  (CAST(round(CASE
      |    WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0)
      |    WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0)
      |    ELSE 0.0 END, 4) AS DOUBLE) + 0.0) AS z,
      |  CASE WHEN abs(CAST(round(CASE
      |    WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0)
      |    WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0)
      |    ELSE 0.0 END, 4) AS DOUBLE)) > 1.96
      |    THEN CASE WHEN s > 0 THEN 'rising' ELSE 'falling' END
      |    ELSE 'flat' END AS trend
      |FROM sstat JOIN ties ON sstat.event_type = ties.event_type
      |ORDER BY sstat.event_type""".stripMargin

  /** #349 seasonal_strength — Hyndman's trend/seasonal strength of the
    * daily volume series, F = max(0, 1 − Var(R)/Var(component + R)),
    * computed over seasonal_decompose's own oracle-verified 6-dp
    * component columns (both engines emit those columns bit-equal, so
    * chaining float arithmetic on them stays mirrored — the
    * rank_rbo_report rule): one number per component answering "is
    * the weekly shape real enough that a seasonal model (#318) earns
    * its keep over plain Holt (#307)", the decision forecast_backtest
    * measures after the fact. Variance moments are 12-dp rounded into
    * order-free DECIMAL sums over the calendar-bounded series. Exact
    * oracle.
    */
  def seasonalStrength(s: SparkSession, dir: String): DataFrame = {
    val comp = seasonalDecompose(s, dir)
      .select(col("n_events").cast("double").as("x"),
        col("trend").as("t"), col("seasonal").as("sc"), col("residual").as("r"))
    def varOf(c: Column, tag: String): Seq[Column] = Seq(
      sum(round(c * c, 12).cast(Dec12)).as(s"s2_$tag"),
      sum(round(c, 6).cast(Dec12)).as(s"s1_$tag"))
    val m = comp.agg(
      count(lit(1)).as("n"),
      (varOf(col("r"), "r") ++ varOf(col("sc") + col("r"), "sr")
        ++ varOf(col("t") + col("r"), "tr")): _*)
    def variance(tag: String): Column = {
      val mean = col(s"s1_$tag").cast("double") / col("n").cast("double")
      col(s"s2_$tag").cast("double") / col("n").cast("double") - mean * mean
    }
    m.select(col("n").as("n_days"),
      emit(variance("r"), 6).as("var_resid"),
      emit(greatest(lit(0.0), lit(1.0) - variance("r") / variance("sr")), 6)
        .as("f_seasonal"),
      emit(greatest(lit(0.0), lit(1.0) - variance("r") / variance("tr")), 6)
        .as("f_trend"))
  }

  val seasonalStrengthSql: String = {
    def v(tag: String): String =
      s"CAST(s2_$tag AS DOUBLE) / CAST(n AS DOUBLE) " +
        s"- (CAST(s1_$tag AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1_$tag AS DOUBLE) / CAST(n AS DOUBLE))"
    s"""WITH comp AS (${seasonalDecomposeSql.replace("ORDER BY day", "")}),
       |m AS (
       |  SELECT count(*) AS n,
       |    sum(CAST(round(residual * residual, 12) AS DECIMAL(38,12))) AS s2_r,
       |    sum(CAST(round(residual, 6) AS DECIMAL(38,12))) AS s1_r,
       |    sum(CAST(round((seasonal + residual) * (seasonal + residual), 12) AS DECIMAL(38,12))) AS s2_sr,
       |    sum(CAST(round(seasonal + residual, 6) AS DECIMAL(38,12))) AS s1_sr,
       |    sum(CAST(round((trend + residual) * (trend + residual), 12) AS DECIMAL(38,12))) AS s2_tr,
       |    sum(CAST(round(trend + residual, 6) AS DECIMAL(38,12))) AS s1_tr
       |  FROM comp
       |)
       |SELECT n AS n_days,
       |  (CAST(round(${v("r")}, 6) AS DOUBLE) + 0.0) AS var_resid,
       |  (CAST(round(greatest(0.0, 1.0 - (${v("r")}) / (${v("sr")})), 6) AS DOUBLE) + 0.0) AS f_seasonal,
       |  (CAST(round(greatest(0.0, 1.0 - (${v("r")}) / (${v("tr")})), 6) AS DOUBLE) + 0.0) AS f_trend
       |FROM m""".stripMargin
  }

  /** #354 durbin_watson — the Durbin–Watson serial-correlation test on
    * seasonal_decompose's residuals (DW = Σ(Δr)²/Σr², ρ₁ ≈ 1 − DW/2):
    * the "are the leftovers actually white" closure of the
    * decomposition family — a DW far from 2 means trend+seasonal
    * missed structure and every downstream anomaly threshold on those
    * residuals is mis-calibrated. Chains on the oracle-verified 6-dp
    * residual column (the rank_rbo rule); the lag runs over the
    * CALENDAR-bounded series, both quadratic-form sums 12-dp rounded
    * into order-free DECIMALs. Exact oracle.
    */
  def durbinWatson(s: SparkSession, dir: String): DataFrame = {
    val wp = Window.orderBy(col("day"))
    val r = seasonalDecompose(s, dir).select(col("day"), col("residual"))
      .withColumn("rp", lag(col("residual"), 1).over(wp))
    val m = r.agg(
      count(lit(1)).as("n"),
      sum(round(col("residual") * col("residual"), 12).cast(Dec12)).as("ss"),
      sum(when(col("rp").isNotNull,
        round((col("residual") - col("rp")) * (col("residual") - col("rp")), 12))
        .otherwise(lit(0.0)).cast(Dec12)).as("sd"))
    m.select(col("n").as("n_days"),
      emit(col("sd").cast("double") / col("ss").cast("double"), 6).as("dw"),
      emit(lit(1.0) - (col("sd").cast("double") / col("ss").cast("double")) / lit(2.0), 6)
        .as("rho1"))
  }

  val durbinWatsonSql: String =
    s"""WITH comp AS (${seasonalDecomposeSql.replace("ORDER BY day", "")}),
       |lagged AS (
       |  SELECT residual, lag(residual) OVER (ORDER BY day) AS rp FROM comp
       |),
       |m AS (
       |  SELECT count(*) AS n,
       |    sum(CAST(round(residual * residual, 12) AS DECIMAL(38,12))) AS ss,
       |    sum(CAST(CASE WHEN rp IS NOT NULL
       |      THEN round((residual - rp) * (residual - rp), 12) ELSE 0.0 END AS DECIMAL(38,12))) AS sd
       |  FROM lagged
       |)
       |SELECT n AS n_days,
       |  (CAST(round(CAST(sd AS DOUBLE) / CAST(ss AS DOUBLE), 6) AS DOUBLE) + 0.0) AS dw,
       |  (CAST(round(1.0 - (CAST(sd AS DOUBLE) / CAST(ss AS DOUBLE)) / 2.0, 6) AS DOUBLE) + 0.0) AS rho1
       |FROM m""".stripMargin

  /** #363 acf_table — the full autocorrelation function of the global
    * daily volume series at lags 1…14: events_autocorr probes ONE
    * hourly lag (24), THIS is the table that picks AR model order and
    * confirms the weekly cycle (a spike at 7/14 and decay elsewhere),
    * with the ±1.96/√n white-noise band the reading rule. ALL-INTEGER
    * inner algebra: with scaled deviations d_t = n·x_t − S the ACF is
    * r_L = Σ d_t·d_{t−L} / Σ d_t² — every product exact in
    * DECIMAL(38,0) (n·x ~ N·volume overflows long), no float until
    * the final quotient; the lag joins run on the CALENDAR-bounded
    * dense frame against the broadcast 14-row lag axis. Exact oracle.
    */
  def acfTable(s: SparkSession, dir: String): DataFrame = {
    val dense = seriesCalendar(dailyCount(Tables.events(s, dir), "x"))
    val tot = dense.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val dev = graft.Lineage.cut( // calendar-bounded, read 3x (denom + both join sides)
      dense.crossJoin(broadcast(tot))
        .select(col("k"), (dec0(col("n")) * dec0(col("x")) - dec0(col("sx"))).as("dv"), col("n")))
    val denom = dev.agg(sum(col("dv") * col("dv")).as("ss"), max(col("n")).as("n"))
    val lags = s.range(1, 15).select(col("id").cast("int").as("lag"))
    val shifted = dev.select(col("k").as("kb"), col("dv").as("dvp"))
    dev.crossJoin(broadcast(lags))
      .join(shifted, col("kb") === col("k") - col("lag"))
      .groupBy(col("lag"))
      .agg(sum(col("dv") * col("dvp")).as("num"))
      .crossJoin(broadcast(denom))
      .select(col("lag"),
        emit(col("num").cast("double") / col("ss").cast("double"), 6).as("acf"),
        emit(lit(1.96) / sqrt(col("n").cast("double")), 6).as("white_band"))
      .withColumn("significant", abs(col("acf")) > col("white_band"))
      .orderBy(col("lag"))
  }

  val acfTableSql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS x FROM events GROUP BY 1),
      |span AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
      |ks AS (SELECT unnest(generate_series(0, datediff('day', lo, hi))) AS k FROM span),
      |cnt AS (
      |  SELECT datediff('day', lo, d) AS k, CAST(sum(x) AS BIGINT) AS x0
      |  FROM daily, span GROUP BY 1
      |),
      |dense AS (
      |  SELECT ks.k, CAST(coalesce(cnt.x0, 0) AS BIGINT) AS x
      |  FROM ks LEFT JOIN cnt ON ks.k = cnt.k
      |),
      |tot AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx FROM dense),
      |dev AS (
      |  SELECT k, CAST(n AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))
      |    - CAST(sx AS DECIMAL(38,0)) AS dv, n
      |  FROM dense CROSS JOIN tot
      |),
      |denom AS (SELECT sum(dv * dv) AS ss, max(n) AS n FROM dev),
      |lags AS (SELECT unnest(generate_series(1, 14)) AS lag),
      |num AS (
      |  SELECT lag, sum(a.dv * b.dv) AS num
      |  FROM dev a CROSS JOIN lags JOIN dev b ON b.k = a.k - lag
      |  GROUP BY 1
      |)
      |SELECT lag,
      |  (CAST(round(CAST(num AS DOUBLE) / CAST(ss AS DOUBLE), 6) AS DOUBLE) + 0.0) AS acf,
      |  (CAST(round(1.96 / sqrt(CAST(n AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS white_band,
      |  abs(CAST(round(CAST(num AS DOUBLE) / CAST(ss AS DOUBLE), 6) AS DOUBLE))
      |    > (CAST(round(1.96 / sqrt(CAST(n AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS significant
      |FROM num CROSS JOIN denom ORDER BY lag""".stripMargin

  /** #366 emd_drift — the 1-D Wasserstein (earth-mover) distance
    * between the first/second doc-id halves of the length
    * distribution, per language: ks_drift_test reads the SUP norm
    * (one bad value region), THIS reads the INTEGRAL ∫|F1−F2| dv —
    * the metric that notices a small shift spread across the whole
    * distribution, which KS under-weighs. Exact rational end to end:
    * over consecutive distinct values, |F1·n2 − F2·n1|·Δv accumulates
    * in DECIMAL(38,0) (the KS histogram + a lead over the
    * value-domain-bounded relation), one division at the end, rounded
    * the DuckDB way (`roundDouble`: a ratio of integers). Exact oracle.
    */
  def emdDrift(s: SparkSession, dir: String): DataFrame = {
    val (cum, tot) = halvesEcdf(Tables.documents(s, dir))
    val wlead = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
    cum
      .withColumn("dv", lead(col("n_chars"), 1).over(wlead) - col("n_chars"))
      .filter(col("dv").isNotNull)
      .join(broadcast(tot), Seq("lang"))
      .select(col("lang"), col("n1"), col("n2"),
        (abs(dec0(col("f1")) * dec0(col("n2")) - dec0(col("f2")) * dec0(col("n1")))
          * dec0(col("dv"))).as("seg"))
      .groupBy(col("lang"), col("n1"), col("n2"))
      .agg(sum(col("seg")).as("num"))
      .select(col("lang"), col("n1"), col("n2"),
        (roundDouble(col("num").cast("double") / (d("n1") * d("n2")), 6) + lit(0.0))
          .as("emd_chars"))
      .orderBy(col("lang"))
  }

  val emdDriftSql: String =
    halvesEcdfSql(",\n    lead(n_chars) OVER (PARTITION BY lang ORDER BY n_chars) - n_chars AS dv") +
      """|seg AS (
         |  SELECT cum.lang, n1, n2,
         |    sum(abs(CAST(f1 AS DECIMAL(38,0)) * CAST(n2 AS DECIMAL(38,0))
         |          - CAST(f2 AS DECIMAL(38,0)) * CAST(n1 AS DECIMAL(38,0)))
         |        * CAST(dv AS DECIMAL(38,0))) AS num
         |  FROM cum JOIN tot ON cum.lang = tot.lang
         |  WHERE dv IS NOT NULL GROUP BY 1, 2, 3
         |)
         |SELECT lang, n1, n2,
         |  (CAST(round(CAST(num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS emd_chars
         |FROM seg ORDER BY lang""".stripMargin

  /** #367 variance_ratio_test — Lo–MacKinlay variance ratios of the
    * daily volume series at horizons q ∈ {2, 4, 8}: VR(q) =
    * Var(q-day sums)/(q·Var(daily)) reads ≈1 for uncorrelated
    * increments, >1 for trending/persistent series, <1 for
    * mean-reverting — the aggregation-horizon diagnostic that says
    * whether a weekly rollup hides or reveals the structure the daily
    * monitors watch. The q-day overlapping sums are window sums over
    * the CALENDAR-bounded dense frame; both variances accumulate from
    * integer Σy/Σy² in DECIMAL(38,0), floats only in the final
    * ratio. Exact oracle.
    */
  def varianceRatioTest(s: SparkSession, dir: String): DataFrame = {
    val denseCut = graft.Lineage.cut( // calendar-bounded, read 3x
      seriesCalendar(dailyCount(Tables.events(s, dir), "x")))
    val base = denseCut.agg(count(lit(1)).as("n"),
      sum(dec0(col("x"))).as("s1"), sum(dec0(col("x")) * dec0(col("x"))).as("s2"))
    def varD(n: Column, s1: Column, s2: Column): Column = {
      val mean = s1.cast("double") / n.cast("double")
      s2.cast("double") / n.cast("double") - mean * mean
    }
    val qs = s.range(0, 3).select(
      element_at(array(lit(2), lit(4), lit(8)), (col("id") + 1).cast("int")).as("q"))
    // rowsBetween(0, q-1) would need a per-row frame bound: express the
    // q-sum as a self-join range instead (k ≤ k2 < k+q, bounded frame)
    val qsums = denseCut.crossJoin(broadcast(qs))
      .join(denseCut.select(col("k").as("k2"), col("x").as("x2")),
        col("k2") >= col("k") && col("k2") < col("k") + col("q"))
      .groupBy(col("q"), col("k"))
      .agg(sum(col("x2")).as("y"), count(lit(1)).as("m"))
      .filter(col("m") === col("q"))
    val qm = qsums.groupBy(col("q"))
      .agg(count(lit(1)).as("nq"),
        sum(dec0(col("y"))).as("t1"), sum(dec0(col("y")) * dec0(col("y"))).as("t2"))
    qm.crossJoin(broadcast(base))
      .select(col("q"), col("nq"),
        emit(varD(col("nq"), col("t1"), col("t2"))
          / (col("q").cast("double") * varD(col("n"), col("s1"), col("s2"))), 6).as("vr"))
      .withColumn("reading",
        when(col("vr") > 1.2, "trending")
          .when(col("vr") < 0.8, "mean_reverting").otherwise("random_walk_band"))
      .orderBy(col("q"))
  }

  val varianceRatioTestSql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS x FROM events GROUP BY 1),
      |span AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
      |ks AS (SELECT unnest(generate_series(0, datediff('day', lo, hi))) AS k FROM span),
      |cnt AS (SELECT datediff('day', lo, d) AS k, CAST(sum(x) AS BIGINT) AS x0
      |        FROM daily, span GROUP BY 1),
      |dense AS (
      |  SELECT ks.k, CAST(coalesce(cnt.x0, 0) AS BIGINT) AS x
      |  FROM ks LEFT JOIN cnt ON ks.k = cnt.k
      |),
      |base AS (
      |  SELECT count(*) AS n, sum(CAST(x AS DECIMAL(38,0))) AS s1,
      |    sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS s2
      |  FROM dense
      |),
      |qs AS (SELECT unnest([2, 4, 8]) AS q),
      |qsums AS (
      |  SELECT q, a.k, CAST(sum(b.x) AS BIGINT) AS y, count(*) AS m
      |  FROM dense a CROSS JOIN qs JOIN dense b ON b.k >= a.k AND b.k < a.k + q
      |  GROUP BY 1, 2 HAVING count(*) = q
      |),
      |qm AS (
      |  SELECT q, count(*) AS nq, sum(CAST(y AS DECIMAL(38,0))) AS t1,
      |    sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS t2
      |  FROM qsums GROUP BY 1
      |)
      |SELECT q, nq,
      |  (CAST(round(
      |    (CAST(t2 AS DOUBLE) / CAST(nq AS DOUBLE)
      |      - (CAST(t1 AS DOUBLE) / CAST(nq AS DOUBLE)) * (CAST(t1 AS DOUBLE) / CAST(nq AS DOUBLE)))
      |    / (CAST(q AS DOUBLE) * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
      |      - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))),
      |    6) AS DOUBLE) + 0.0) AS vr,
      |  CASE WHEN CAST(round(
      |    (CAST(t2 AS DOUBLE) / CAST(nq AS DOUBLE)
      |      - (CAST(t1 AS DOUBLE) / CAST(nq AS DOUBLE)) * (CAST(t1 AS DOUBLE) / CAST(nq AS DOUBLE)))
      |    / (CAST(q AS DOUBLE) * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
      |      - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))),
      |    6) AS DOUBLE) > 1.2 THEN 'trending'
      |    WHEN CAST(round(
      |    (CAST(t2 AS DOUBLE) / CAST(nq AS DOUBLE)
      |      - (CAST(t1 AS DOUBLE) / CAST(nq AS DOUBLE)) * (CAST(t1 AS DOUBLE) / CAST(nq AS DOUBLE)))
      |    / (CAST(q AS DOUBLE) * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
      |      - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))),
      |    6) AS DOUBLE) < 0.8 THEN 'mean_reverting'
      |    ELSE 'random_walk_band' END AS reading
      |FROM qm CROSS JOIN base ORDER BY q""".stripMargin

  /** #372 pacf_table — the partial autocorrelation function at lags
    * 1…14 via the Durbin–Levinson recursion, completing Box–Jenkins
    * identification beside #363 (ACF tails ⇒ MA signature, PACF cuts
    * off ⇒ AR order — the pair is how a forecaster picks the model
    * the catalog's Holt family then has to beat). The inherently
    * sequential recursion runs as a BOUNDED fold: the 14
    * oracle-verified ACF emits collect to one array and the DL state
    * (φ vector, innovation variance v) folds over 13 steps inside
    * ONE aggregate HOF — no iteration state, no driver math, nothing
    * data-sized past the ACF chain itself. Each step's φ_kk and v are
    * 12-dp rounded so both engines' fold chains stay bit-identical
    * (the EWMA/Holt discipline); the oracle replays the identical
    * recursion as a recursive CTE carrying the φ LIST. Exact oracle.
    */
  def pacfTable(s: SparkSession, dir: String): DataFrame = {
    val r = acfTable(s, dir)
      .agg(sort_array(collect_list(struct(col("lag"), col("acf"), col("white_band")))).as("a"))
      .select(expr("transform(a, x -> x.acf)").as("r"),
        expr("element_at(transform(a, x -> x.white_band), 1)").as("wb"))
    val folded = r.select(col("wb"), col("r"),
      aggregate(
        expr("sequence(2, 14)"),
        expr("""named_struct(
          'phis', array(element_at(r, 1)),
          'v', round(1.0D - element_at(r, 1) * element_at(r, 1), 12),
          'pacf', array(element_at(r, 1)))"""),
        (acc, k) => {
          val phis = acc.getField("phis")
          val dot = aggregate(
            zip_with(phis, reverse(slice(col("r"), lit(1), (k - 1).cast("int"))),
              (a, b) => a * b),
            lit(0.0), (a, b) => a + b)
          val pkk = round(
            (element_at(col("r"), k.cast("int")) - dot) / acc.getField("v"), 12)
          val newPhis = concat(
            zip_with(phis, reverse(phis), (p, q) => p - pkk * q),
            array(pkk))
          struct(
            newPhis.as("phis"),
            round(acc.getField("v") * (lit(1.0) - pkk * pkk), 12).as("v"),
            concat(acc.getField("pacf"), array(pkk)).as("pacf"))
        }).getField("pacf").as("pacf"))
    folded
      .select(col("wb"), posexplode(col("pacf")).as(Seq("pos", "p")))
      .select((col("pos") + 1).as("lag"), emit(col("p"), 6).as("pacf"),
        emit(col("wb"), 6).as("white_band"))
      .withColumn("significant", abs(col("pacf")) > col("white_band"))
      .orderBy(col("lag"))
  }

  val pacfTableSql: String =
    s"""WITH RECURSIVE acf0 AS (${acfTableSql.replace("ORDER BY lag", "")}),
       |rl AS (
       |  SELECT list(acf ORDER BY lag) AS r, any_value(white_band) AS wb FROM acf0
       |),
       |dl AS (
       |  SELECT 1 AS k, [r[1]] AS phis,
       |    round(1.0 - r[1] * r[1], 12) AS v, [r[1]] AS pacf, r, wb
       |  FROM rl
       |  UNION ALL
       |  SELECT k + 1,
       |    list_append(
       |      list_transform(list_zip(phis, list_reverse(phis)),
       |        x -> x[1] - round((r[k + 1] - list_dot_product(phis,
       |          list_reverse(r[1:k]))) / v, 12) * x[2]),
       |      round((r[k + 1] - list_dot_product(phis, list_reverse(r[1:k]))) / v, 12)),
       |    round(v * (1.0 - round((r[k + 1] - list_dot_product(phis,
       |      list_reverse(r[1:k]))) / v, 12)
       |      * round((r[k + 1] - list_dot_product(phis, list_reverse(r[1:k]))) / v, 12)), 12),
       |    list_append(pacf,
       |      round((r[k + 1] - list_dot_product(phis, list_reverse(r[1:k]))) / v, 12)),
       |    r, wb
       |  FROM dl WHERE k < 14
       |),
       |fin AS (SELECT pacf, wb FROM dl WHERE k = 14)
       |SELECT u.i AS lag,
       |  (CAST(round(u.p, 6) AS DOUBLE) + 0.0) AS pacf,
       |  (CAST(round(wb, 6) AS DOUBLE) + 0.0) AS white_band,
       |  abs(CAST(round(u.p, 6) AS DOUBLE)) > (CAST(round(wb, 6) AS DOUBLE) + 0.0) AS significant
       |FROM fin, LATERAL (
       |  SELECT unnest(pacf) AS p, unnest(generate_series(1, len(pacf))) AS i
       |) u
       |ORDER BY lag""".stripMargin

  /** #373 ljung_box — the Ljung–Box portmanteau test over the first
    * 14 autocorrelations: Q = n(n+2)·Σ r_k²/(n−k) against the χ²₁₄
    * 5% cut — durbin_watson asks "is lag-1 clean", THIS asks "are ALL
    * the lags jointly clean", the standard residual-whiteness gate a
    * forecasting pipeline runs before trusting any model comparison.
    * Chains on the oracle-verified ACF emits (the rank_rbo rule); the
    * Q terms are 12-dp rounded into an order-free DECIMAL sum over
    * the bounded 14-row table; n re-derives in-plan from the dense
    * calendar (never decoded from a rounded column). Exact oracle.
    */
  def ljungBox(s: SparkSession, dir: String): DataFrame = {
    val acf = acfTable(s, dir).select(col("lag"), col("acf"))
    val n = Tables.events(s, dir)
      .agg((datediff(max(to_date(col("ts"))), min(to_date(col("ts")))) + 1).as("n"))
    val term = round(col("acf") * col("acf")
      / (col("n") - col("lag")).cast("double"), 12)
    acf.crossJoin(broadcast(n))
      .select(col("n"), term.cast(Dec12).as("t"))
      .groupBy(col("n")).agg(sum(col("t")).as("st"))
      .select(col("n").as("n_days"),
        emit(col("n").cast("double") * (col("n").cast("double") + lit(2.0))
          * col("st").cast("double"), 4).as("q_stat"),
        lit(23.685).as("chi2_cut_5pct"))
      .withColumn("reject_whiteness", col("q_stat") > col("chi2_cut_5pct"))
  }

  val ljungBoxSql: String =
    s"""WITH acf0 AS (${acfTableSql.replace("ORDER BY lag", "")}),
       |nn AS (
       |  SELECT datediff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) + 1 AS n
       |  FROM events
       |),
       |terms AS (
       |  SELECT n,
       |    sum(CAST(round(acf * acf / CAST(n - lag AS DOUBLE), 12) AS DECIMAL(38,12))) AS st
       |  FROM acf0 CROSS JOIN nn GROUP BY 1
       |)
       |SELECT n AS n_days,
       |  (CAST(round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * CAST(st AS DOUBLE), 4) AS DOUBLE) + 0.0) AS q_stat,
       |  23.685 AS chi2_cut_5pct,
       |  CAST(round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * CAST(st AS DOUBLE), 4) AS DOUBLE) > 23.685 AS reject_whiteness
       |FROM terms""".stripMargin

  /** #378 granger_daily — one-lag Granger-causality screen between
    * the view and purchase daily-count series, BOTH directions: does
    * yesterday's x improve today's y beyond y's own yesterday? F =
    * (SSR_restricted − SSR_unrestricted)·(n−3) / SSR_unrestricted for
    * the nested OLS pair y_t ~ y_{t−1} [+ x_{t−1}], solved in CLOSED
    * FORM from the centered moment matrix (2×2 normal equations by
    * determinant) — no iteration, no solver. Every moment is an exact
    * integer (daily counts and their cross-products, DECIMAL(38,0)
    * sums over the zero-filled day grid), so both engines derive the
    * identical doubles. Scale: the only data-sized work is the daily
    * count; everything after lives on the |days|-bounded grid. The
    * cutoff column is the 5% F(1, 60) point — honest at these day
    * counts (n−3 ≈ 27–360); readers with other horizons read f_stat.
    * Exact oracle.
    */
  def grangerDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCount(
      Tables.events(s, dir).filter(col("event_type").isin("view", "purchase")), "x", "event_type")
    val span = daily.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val grid = span.select(offsets).crossJoin(broadcast(span))
    def series(t: String) = grid
      .join(
        daily.filter(col("event_type") === t)
          .crossJoin(broadcast(span))
          .select(datediff(col("d"), col("lo")).as("k"), col("x")),
        Seq("k"), "left")
      .select(col("k"), coalesce(col("x"), lit(0L)).as(t))
    val aligned = series("view").join(series("purchase"), Seq("k"))
    val w = Window.orderBy(col("k"))
    // the |days|-bounded lagged grid feeds both direction aggregates:
    // cut it so the daily count and calendar join run once
    val lagged = graft.Lineage.cut(aligned
      .withColumn("vl", lag(col("view"), 1).over(w))
      .withColumn("pl", lag(col("purchase"), 1).over(w))
      .filter(col("vl").isNotNull))
    def dir0(name: String, y: String, yl: String, xl: String) = {
      def d0(c: Column) = sum(c.cast("decimal(38,0)"))
      lagged.agg(
        count(lit(1)).as("n"),
        d0(col(y)).as("sy"), d0(col(yl)).as("syl"), d0(col(xl)).as("sxl"),
        d0(col(y) * col(y)).as("syy"),
        d0(col(y) * col(yl)).as("syyl"),
        d0(col(y) * col(xl)).as("syxl"),
        d0(col(yl) * col(yl)).as("sylyl"),
        d0(col(yl) * col(xl)).as("sylxl"),
        d0(col(xl) * col(xl)).as("sxlxl"))
        .select(lit(name).as("direction"), col("n"),
          col("sy").cast("double").as("sy"), col("syl").cast("double").as("syl"),
          col("sxl").cast("double").as("sxl"), col("syy").cast("double").as("syy"),
          col("syyl").cast("double").as("syyl"), col("syxl").cast("double").as("syxl"),
          col("sylyl").cast("double").as("sylyl"), col("sylxl").cast("double").as("sylxl"),
          col("sxlxl").cast("double").as("sxlxl"))
    }
    val m = dir0("view_to_purchase", "purchase", "pl", "vl")
      .unionByName(dir0("purchase_to_view", "view", "vl", "pl"))
    val nD = col("n").cast("double")
    val cyy = col("syy") - col("sy") * col("sy") / nD
    val cyyl = col("syyl") - col("sy") * col("syl") / nD
    val cyxl = col("syxl") - col("sy") * col("sxl") / nD
    val cylyl = col("sylyl") - col("syl") * col("syl") / nD
    val cylxl = col("sylxl") - col("syl") * col("sxl") / nD
    val cxlxl = col("sxlxl") - col("sxl") * col("sxl") / nD
    val ssrR = cyy - cyyl * cyyl / cylyl
    val det = cylyl * cxlxl - cylxl * cylxl
    val b = (cyyl * cxlxl - cyxl * cylxl) / det
    val c = (cyxl * cylyl - cyyl * cylxl) / det
    val ssrU = cyy - b * cyyl - c * cyxl
    val f = (ssrR - ssrU) * (nD - lit(3.0)) / ssrU
    m.select(
      col("direction"), col("n"),
      emit(ssrR, 6).as("ssr_restricted"),
      emit(ssrU, 6).as("ssr_unrestricted"),
      emit(f, 4).as("f_stat"),
      lit(4.0).as("f_cut_5pct_df1_60"),
      (round(f, 4).cast("double") > 4.0).as("lagged_signal"))
      .orderBy(col("direction"))
  }

  val grangerDailySql: String = {
    def side(name: String, y: String, yl: String, xl: String) =
      s"""SELECT '$name' AS direction, count(*) AS n,
         |  CAST(sum(CAST($y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         |  CAST(sum(CAST($yl AS DECIMAL(38,0))) AS DOUBLE) AS syl,
         |  CAST(sum(CAST($xl AS DECIMAL(38,0))) AS DOUBLE) AS sxl,
         |  CAST(sum(CAST($y * $y AS DECIMAL(38,0))) AS DOUBLE) AS syy,
         |  CAST(sum(CAST($y * $yl AS DECIMAL(38,0))) AS DOUBLE) AS syyl,
         |  CAST(sum(CAST($y * $xl AS DECIMAL(38,0))) AS DOUBLE) AS syxl,
         |  CAST(sum(CAST($yl * $yl AS DECIMAL(38,0))) AS DOUBLE) AS sylyl,
         |  CAST(sum(CAST($yl * $xl AS DECIMAL(38,0))) AS DOUBLE) AS sylxl,
         |  CAST(sum(CAST($xl * $xl AS DECIMAL(38,0))) AS DOUBLE) AS sxlxl
         |FROM lagged""".stripMargin
    """WITH ev AS (
      |  SELECT CAST(ts AS DATE) AS d, event_type FROM events
      |  WHERE event_type IN ('view', 'purchase')
      |), span AS (SELECT min(d) AS lo, max(d) AS hi FROM ev),
      |grid AS (
      |  SELECT unnest(generate_series(0, datediff('day', lo, hi))) AS k FROM span
      |), daily AS (
      |  SELECT datediff('day', lo, d) AS k, event_type, count(*) AS x
      |  FROM ev, span GROUP BY 1, 2
      |), aligned AS (
      |  SELECT g.k,
      |    coalesce(v.x, 0) AS view, coalesce(p.x, 0) AS purchase
      |  FROM grid g
      |  LEFT JOIN daily v ON v.k = g.k AND v.event_type = 'view'
      |  LEFT JOIN daily p ON p.k = g.k AND p.event_type = 'purchase'
      |), lagged AS (
      |  SELECT view, purchase,
      |    lag(view) OVER (ORDER BY k) AS vl,
      |    lag(purchase) OVER (ORDER BY k) AS pl
      |  FROM aligned QUALIFY vl IS NOT NULL
      |), m AS (
      |""".stripMargin +
      side("view_to_purchase", "purchase", "pl", "vl") +
      "\n  UNION ALL\n" +
      side("purchase_to_view", "view", "vl", "pl") +
      """
        |), f AS (
        |  SELECT direction, n,
        |    syy - sy * sy / n AS cyy,
        |    syyl - sy * syl / n AS cyyl,
        |    syxl - sy * sxl / n AS cyxl,
        |    sylyl - syl * syl / n AS cylyl,
        |    sylxl - syl * sxl / n AS cylxl,
        |    sxlxl - sxl * sxl / n AS cxlxl
        |  FROM m
        |), sol AS (
        |  SELECT direction, n, cyy, cyyl, cyxl, cylyl,
        |    cyy - cyyl * cyyl / cylyl AS ssr_r,
        |    (cyyl * cxlxl - cyxl * cylxl) / (cylyl * cxlxl - cylxl * cylxl) AS b,
        |    (cyxl * cylyl - cyyl * cylxl) / (cylyl * cxlxl - cylxl * cylxl) AS c
        |  FROM f
        |), ssr AS (
        |  SELECT direction, n, ssr_r,
        |    cyy - b * cyyl - c * cyxl AS ssr_u
        |  FROM sol
        |)
        |SELECT direction, n,
        |  (CAST(round(ssr_r, 6) AS DOUBLE) + 0.0) AS ssr_restricted,
        |  (CAST(round(ssr_u, 6) AS DOUBLE) + 0.0) AS ssr_unrestricted,
        |  (CAST(round((ssr_r - ssr_u) * (n - 3.0) / ssr_u, 4) AS DOUBLE) + 0.0) AS f_stat,
        |  CAST(4.0 AS DOUBLE) AS f_cut_5pct_df1_60,
        |  CAST(round((ssr_r - ssr_u) * (n - 3.0) / ssr_u, 4) AS DOUBLE) > 4.0 AS lagged_signal
        |FROM ssr ORDER BY direction""".stripMargin
  }

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
    val (cum, tot) = halvesEcdf(Tables.documents(s, dir))
    val gap = dec0(col("f1")) * dec0(col("n2")) - dec0(col("f2")) * dec0(col("n1"))
    cum.join(broadcast(tot), Seq("lang"))
      .select(col("lang"), col("n1"), col("n2"),
        (dec0(col("c1") + col("c2")) * gap * gap).as("term"))
      .groupBy(col("lang"), col("n1"), col("n2"))
      .agg(sum(col("term")).as("num"))
      .select(col("lang"), col("n1"), col("n2"),
        emit(col("num").cast("double") /
          (d("n1") * d("n2") * (d("n1") + d("n2")) * (d("n1") + d("n2"))), 6)
          .as("cvm_t"))
      .withColumn("drifted", col("cvm_t") > lit(0.461))
      .orderBy(col("lang"))
  }

  val cvmDriftTestSql: String =
    halvesEcdfSql() +
      """|agg AS (
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
    val daily = dailyCount(Tables.events(s, dir), "c")
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

  /** #397 page_hinkley — the sequential drift alarm over the daily
    * event count: relative deviation dev_t = c_t/m_t − 1 against the
    * RUNNING mean m_t (exact cum/count division — the sequential
    * element CUSUM's fixed global mean lacks; cusum_changepoint #269
    * is the retrospective twin), accumulated as U_t with the
    * classical alarm PH_t = U_t − min_{j≤t}U_j > λ (λ=5: five
    * cumulative relative units of sustained upward drift). Every
    * U_t is a cumsum of 12-dp-rounded terms in DECIMAL(38,12) — the
    * running min and the alarm compare EXACT decimals, so the alarm
    * day set is bit-identical across engines. Scale: one daily
    * rollup; the unpartitioned window runs over the bounded
    * calendar grid (the documented bounded-frame pattern). Exact
    * oracle.
    */
  def pageHinkley(s: SparkSession, dir: String): DataFrame =
    pageHinkleyFromDaily(dailyCount(Tables.events(s, dir), "c"))

  /** The Page–Hinkley arithmetic over an already-aggregated (d, c)
    * daily-count relation — shared verbatim by the streaming twin
    * (graft.streaming.Streams.phFromCounts serves the drained live
    * state through THIS function, so stream ≡ batch is an identity).
    */
  def pageHinkleyFromDaily(daily: DataFrame): DataFrame = {
    val wOrd = Window.orderBy(col("d"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, 0)
    val withMean = daily
      .withColumn("t", row_number().over(wOrd))
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("m", col("cum").cast("double") / col("t").cast("double"))
      .withColumn("dev",
        round(col("c").cast("double") / col("m") - lit(1.0), 12).cast(Dec12))
    withMean
      .withColumn("u", sum(col("dev")).over(wCum))
      .withColumn("minu", min(col("u")).over(wCum))
      .select(
        date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("c").as("n_events"),
        emit(col("m"), 4).as("mean_so_far"),
        emit((col("u") - col("minu")).cast("double"), 6).as("ph"),
        ((col("u") - col("minu")).cast("double") > lit(5.0)).as("alarm"))
      .orderBy(col("day"))
  }

  val pageHinkleySql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d, count(*) AS c FROM events GROUP BY 1
      |), wm AS (
      |  SELECT d, c,
      |    row_number() OVER (ORDER BY d) AS t,
      |    CAST(sum(c) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM daily
      |), dv AS (
      |  SELECT d, c, cum,
      |    CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) AS m,
      |    CAST(round(CAST(c AS DOUBLE) / (CAST(cum AS DOUBLE) / CAST(t AS DOUBLE)) - 1.0, 12) AS DECIMAL(38,12)) AS dev
      |  FROM wm
      |), u AS (
      |  SELECT d, c, m,
      |    sum(dev) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS uu
      |  FROM dv
      |), ph AS (
      |  SELECT d, c, m, uu,
      |    min(uu) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS minu
      |  FROM u
      |)
      |SELECT strftime(d, '%Y-%m-%d') AS day, c AS n_events,
      |  (CAST(round(m, 4) AS DOUBLE) + 0.0) AS mean_so_far,
      |  (CAST(round(CAST(uu - minu AS DOUBLE), 6) AS DOUBLE) + 0.0) AS ph,
      |  CAST(uu - minu AS DOUBLE) > 5.0 AS alarm
      |FROM ph ORDER BY day""".stripMargin

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
    val daily = dailyCount(Tables.events(s, dir), "c")
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

  /** #412 gumbel_return_levels — extreme-value capacity planning:
    * weekly block maxima of the daily event count, the Gumbel
    * method-of-moments fit (β̂ = s√6/π, μ̂ = m̄ − γβ̂), and the
    * T-week return levels μ − β·ln(−ln(1−1/T)) for T ∈ {4, 13, 52}
    * — the peak a capacity plan should size for per month / quarter /
    * year. concurrency_peak (#23) reports the OBSERVED maximum; this
    * extrapolates the distribution of maxima (Fisher–Tippett: block
    * maxima are Gumbel-ish for light-tailed dailies). Block moments
    * are exact integers (maxima of counts); the fit and levels are
    * one IEEE chain mirrored token for token. Scale: one daily
    * aggregate, one weekly max, a |weeks|-row moment reduce, 3
    * output rows. Exact oracle.
    */
  def gumbelReturnLevels(s: SparkSession, dir: String): DataFrame =
    gumbelFromDaily(dailyCount(Tables.events(s, dir), "c"))

  /** The Gumbel fit over an already-aggregated (d, c) daily-count
    * relation — shared verbatim by the streaming twin
    * (graft.streaming.Streams.gumbelFromCounts serves the drained
    * live state through THIS function: stream ≡ batch by identity).
    */
  def gumbelFromDaily(daily: DataFrame): DataFrame = {
    val weekly = daily
      .groupBy(date_format(date_trunc("week", col("d")), "yyyy-MM-dd").as("wk"))
      .agg(max(col("c")).as("mx"))
    val mom = weekly.agg(
      count(lit(1)).as("k"),
      sum(dec0(col("mx"))).as("s1"),
      sum(dec0(col("mx")) * dec0(col("mx"))).as("s2"))
    val mean = d("s1") / d("k")
    val vr = (d("s2") - d("s1") * (d("s1") / d("k"))) / (d("k") - 1.0)
    val beta = sqrt(vr) * sqrt(lit(6.0)) / lit(math.Pi)
    val mu = mean - lit(0.5772156649015329) * beta
    val fitted = mom.select(col("k"), mean.as("m"), beta.as("beta"), mu.as("mu"))
    fitted
      .select(col("k"), col("m"), col("beta"), col("mu"),
        explode(array(lit(4), lit(13), lit(52))).as("t_weeks"))
      .select(
        col("t_weeks"), col("k").as("n_weeks"),
        emit(col("m"), 4).as("mean_weekly_max"),
        emit(col("beta"), 4).as("beta"),
        emit(col("mu"), 4).as("mu"),
        emit(col("mu") - col("beta") *
          log(-log(lit(1.0) - lit(1.0) / col("t_weeks").cast("double"))), 4)
          .as("return_level"))
      .orderBy(col("t_weeks"))
  }

  val gumbelReturnLevelsSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d, count(*) AS c FROM events GROUP BY 1
      |), weekly AS (
      |  SELECT strftime(date_trunc('week', d), '%Y-%m-%d') AS wk, max(c) AS mx
      |  FROM daily GROUP BY 1
      |), mom AS (
      |  SELECT count(*) AS k,
      |    sum(CAST(mx AS DECIMAL(38,0))) AS s1,
      |    sum(CAST(mx AS DECIMAL(38,0)) * CAST(mx AS DECIMAL(38,0))) AS s2
      |  FROM weekly
      |), fit AS (
      |  SELECT k,
      |    CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE) AS m,
      |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE)))
      |      / (CAST(k AS DOUBLE) - 1.0)) * sqrt(6.0) / pi() AS beta
      |  FROM mom
      |), f2 AS (
      |  SELECT k, m, beta, m - 0.5772156649015329 * beta AS mu FROM fit
      |)
      |SELECT t_weeks, k AS n_weeks,
      |  (CAST(round(CAST(m AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS mean_weekly_max,
      |  (CAST(round(CAST(beta AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS beta,
      |  (CAST(round(CAST(mu AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS mu,
      |  (CAST(round(CAST(mu - beta * ln(-ln(1.0 - 1.0 / CAST(t_weeks AS DOUBLE))) AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS return_level
      |FROM f2 CROSS JOIN (SELECT unnest([4, 13, 52]) AS t_weeks)
      |ORDER BY t_weeks""".stripMargin

  /** #424 binary_segmentation — two-level changepoint detection on
    * the densified global daily event count: the root changepoint is
    * the deterministic argmax of the SCALED integer cusum
    * |n·Σ_{≤d}c − d_rank·total| (the #269 device — exact longs, no
    * float frontier), then the same statistic re-runs INSIDE each
    * half, yielding up to three breaks with each segment's mean
    * level. Binary segmentation is the classical multi-changepoint
    * baseline (Scott & Knott); one break is rarely the whole story
    * and the second-level scan costs one more bounded-calendar
    * window. All cusums exact integers; means exact ratios. Exact
    * oracle (the recursion unrolled as two mirrored CTE levels).
    */
  def binarySegmentation(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(to_date(col("ts")).as("d"))
    val span = ev.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val daily = ev.groupBy(col("d")).agg(count(lit(1)).as("c"))
    val dense = graft.Lineage.cut(dateCalendar(span, daily))
    // one scan level: scaled cusum + argmax day inside a segment
    def level(df: DataFrame, segCol: Column): DataFrame = {
      val seg = df.withColumn("seg", segCol)
      val stats = seg.groupBy(col("seg"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("tot"))
      val wCum = Window.partitionBy(col("seg")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wPick = Window.partitionBy(col("seg"))
        .orderBy(abs(col("s")).desc, col("d"))
      seg.join(broadcast(stats), Seq("seg"))
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("k", count(lit(1)).over(wCum))
        .withColumn("s", col("n") * col("cum") - col("k") * col("tot"))
        .withColumn("rn", row_number().over(wPick))
    }
    val root = level(dense, lit("root"))
    val cp1 = root.filter(col("rn") === 1)
      .select(col("d").as("cp1"), abs(col("s")).as("stat1"),
        col("n").as("n1"), col("cum").as("cumL"), col("k").as("kL"),
        col("tot").as("totAll"))
    val second = level(
      dense.crossJoin(broadcast(cp1.select(col("cp1")))),
      when(col("d") <= col("cp1"), "1_left").otherwise("2_right"))
    val picks = second.filter(col("rn") === 1)
      .select(col("seg").as("segment"), col("d").as("cp_day0"),
        abs(col("s")).as("stat"), col("n").as("n_days"),
        col("cum").as("cum"), col("k").as("k"), col("tot").as("tot"))
      .unionByName(cp1.select(lit("0_root").as("segment"), col("cp1").as("cp_day0"),
        col("stat1").as("stat"), col("n1").as("n_days"),
        col("cumL").as("cum"), col("kL").as("k"), col("totAll").as("tot")))
    picks.select(
      col("segment"),
      date_format(col("cp_day0"), "yyyy-MM-dd").as("cp_day"),
      col("stat").as("max_abs_cusum"), col("n_days"),
      emit(col("cum").cast("double") / col("k").cast("double"), 4).as("mean_before"),
      emit((col("tot") - col("cum")).cast("double") /
        (col("n_days") - col("k")).cast("double"), 4).as("mean_after"))
      .orderBy(col("segment"))
  }

  val binarySegmentationSql: String =
    """WITH span AS (SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi FROM events),
      |calendar AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d FROM span),
      |daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS c FROM events GROUP BY 1),
      |dense AS (
      |  SELECT calendar.d, coalesce(c, 0) AS c
      |  FROM calendar LEFT JOIN daily ON calendar.d = daily.d
      |), root0 AS (
      |  SELECT d, c,
      |    CAST(sum(c) OVER (ORDER BY d) AS BIGINT) AS cum,
      |    CAST(count(*) OVER (ORDER BY d) AS BIGINT) AS k,
      |    (SELECT count(*) FROM dense) AS n,
      |    (SELECT CAST(sum(c) AS BIGINT) FROM dense) AS tot
      |  FROM dense
      |), root1 AS (
      |  SELECT d, cum, k, n, tot, n * cum - k * tot AS s,
      |    row_number() OVER (ORDER BY abs(n * cum - k * tot) DESC, d) AS rn
      |  FROM root0
      |), cp1 AS (SELECT d AS cp1, abs(s) AS stat1, n AS n1, cum AS cuml, k AS kl, tot AS totall
      |  FROM root1 WHERE rn = 1),
      |seg0 AS (
      |  SELECT dense.d, c, CASE WHEN dense.d <= cp1 THEN '1_left' ELSE '2_right' END AS seg
      |  FROM dense CROSS JOIN cp1
      |), segstats AS (
      |  SELECT seg, count(*) AS n, CAST(sum(c) AS BIGINT) AS tot FROM seg0 GROUP BY 1
      |), seg1 AS (
      |  SELECT seg0.seg, d,
      |    CAST(sum(c) OVER (PARTITION BY seg0.seg ORDER BY d) AS BIGINT) AS cum,
      |    CAST(count(*) OVER (PARTITION BY seg0.seg ORDER BY d) AS BIGINT) AS k,
      |    n, tot
      |  FROM seg0 JOIN segstats ON seg0.seg = segstats.seg
      |), seg2 AS (
      |  SELECT seg, d, cum, k, n, tot, n * cum - k * tot AS s,
      |    row_number() OVER (PARTITION BY seg ORDER BY abs(n * cum - k * tot) DESC, d) AS rn
      |  FROM seg1
      |), picks AS (
      |  SELECT seg AS segment, d AS cp_day0, abs(s) AS stat, n AS n_days, cum, k, tot
      |  FROM seg2 WHERE rn = 1
      |  UNION ALL
      |  SELECT '0_root', cp1, stat1, n1, cuml, kl, totall FROM cp1
      |)
      |SELECT segment, strftime(cp_day0, '%Y-%m-%d') AS cp_day,
      |  CAST(stat AS BIGINT) AS max_abs_cusum, n_days,
      |  (CAST(round(CAST(CAST(cum AS DOUBLE) / CAST(k AS DOUBLE) AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS mean_before,
      |  (CAST(round(CAST(CAST(tot - cum AS DOUBLE) / CAST(n_days - k AS DOUBLE) AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS mean_after
      |FROM picks
      |ORDER BY segment""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("psi_drift", psiDrift, psiDriftSql),
    exact("cusum_changepoint", cusumChangepoint, cusumChangepointSql),
    exact("seasonal_decompose", seasonalDecompose, seasonalDecomposeSql),
    exact("theil_sen_trend", theilSenTrend, theilSenTrendSql),
    exact("holt_forecast", holtForecast, holtForecastSql),
    exact("holt_winters_forecast", holtWintersForecast, holtWintersForecastSql),
    exact("forecast_backtest", forecastBacktest, forecastBacktestSql),
    exact("mann_kendall_trend", mannKendallTrend, mannKendallTrendSql),
    exact("seasonal_strength", seasonalStrength, seasonalStrengthSql),
    exact("durbin_watson", durbinWatson, durbinWatsonSql),
    exact("ks_drift_test", ksDriftTest, ksDriftTestSql),
    exact("acf_table", acfTable, acfTableSql),
    exact("pacf_table", pacfTable, pacfTableSql),
    exact("ljung_box", ljungBox, ljungBoxSql),
    exact("variance_ratio_test", varianceRatioTest, varianceRatioTestSql),
    exact("emd_drift", emdDrift, emdDriftSql),
    exact("granger_daily", grangerDaily, grangerDailySql),
    exact("spectral_power", spectralPower, spectralPowerSql),
    exact("cvm_drift_test", cvmDriftTest, cvmDriftTestSql),
    exact("page_hinkley", pageHinkley, pageHinkleySql),
    exact("hac_mean_se", hacMeanSe, hacMeanSeSql),
    exact("lang_drift_interaction", langDriftInteraction, langDriftInteractionSql),
    exact("gumbel_return_levels", gumbelReturnLevels, gumbelReturnLevelsSql),
    exact("binary_segmentation", binarySegmentation, binarySegmentationSql))
}
