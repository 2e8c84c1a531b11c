package graft.queries

import graft.{Key, OracleMath, Tables}
import graft.Key.{exact, rowsOnly}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** General OLAP surface (§2 #21-#32): the relational base the feed
  * engine rests on. Every query is declarative DataFrame code — Catalyst
  * handles pushdown/pruning/join selection; dims are broadcast.
  * Determinism: decimal sums, rounded double emission, total ordering.
  */
object Analytics {
  import OracleMath._

  /** #21 TPC-H Q1-style pricing summary. Single shuffle (partial agg
    * map-side), filter pushed to parquet scan.
    */
  def q1Agg(s: SparkSession, dir: String): DataFrame = {
    // fan the filtered fact scan (r11, StageProfile): the fused
    // scan->filter->8-decimal-sum partial agg ran its CPU on the
    // scan's 3 tasks; decimal sums/counts are order-free so fanning
    // is result-identical (identity at production split counts)
    graft.GraftSession
      .fan(
        Tables
          .lineitem(s, dir)
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp")),
        col("l_orderkey"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        emit(dsum(col("l_quantity"))).as("sum_qty"),
        emit(dsum(col("l_extendedprice"))).as("sum_base_price"),
        emit(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_price"),
        emit(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))))
          .as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  (CAST(round(SUM(CAST(l_quantity AS DECIMAL(38,6))), 4) AS DOUBLE) + 0.0) AS sum_qty,
      |  (CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(38,6))), 4) AS DOUBLE) + 0.0) AS sum_base_price,
      |  (CAST(round(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))), 4) AS DOUBLE) + 0.0) AS sum_disc_price,
      |  (CAST(round(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(38,6))), 4) AS DOUBLE) + 0.0) AS sum_charge,
      |  (CAST(round(SUM(CAST(l_quantity AS DECIMAL(38,6))) / COUNT(*), 4) AS DOUBLE) + 0.0) AS avg_qty,
      |  (CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) / COUNT(*), 4) AS DOUBLE) + 0.0) AS avg_price,
      |  (CAST(round(SUM(CAST(l_discount AS DECIMAL(38,6))) / COUNT(*), 6) AS DOUBLE) + 0.0) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** #22 3-way join + agg + top-k. No forced broadcasts: orders and
    * customer SCALE WITH THE DATA — a pinned hint OOMs at 100 TB, while
    * the hint-free equi-joins let the planner/AQE broadcast whenever a
    * filtered side is actually small and shuffle when it isn't. Top-k
    * is TakeOrderedAndProject (per-partition heap), not a global sort.
    */
  def q3JoinTopk(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, dir).filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
    val li = Tables.lineitem(s, dir).filter(col("l_shipdate") > lit("1996-03-15").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(emit(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue"))
      .select(
        col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3JoinTopkSql: String =
    """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      |  (CAST(round(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))), 4) AS DOUBLE) + 0.0) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** #23 6-way star join. Hints ONLY on the constant-size dims
    * (nation: 25 rows, region: 5 — fixed regardless of SF); orders/
    * customer/supplier scale with the data, so their joins stay
    * hint-free for the planner/AQE to pick broadcast vs shuffle by
    * actual size. One shuffle for the agg.
    */
  def q5MultiJoin(s: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(s, dir)
    val cust = Tables.customer(s, dir)
    val sup = Tables.supplier(s, dir)
    val ord = Tables
      .orders(s, dir)
      .filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    Tables
      .lineitem(s, dir)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(
        sup,
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(emit(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5MultiJoinSql: String =
    """SELECT n_name,
      |  (CAST(round(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))), 4) AS DOUBLE) + 0.0) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  /** #24 Running sum + moving average per user. One shuffle on user_id;
    * both windows share the same partitioning (single sort).
    */
  def windowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val last3 = w.rowsBetween(-2, Window.currentRow)
    Tables
      .events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"),
        col("event_id"),
        epochMs(col("ts")).as("ts_ms"),
        emit(sum(col("value").cast(Dec)).over(running)).as("running_value"),
        emit(sum(col("value").cast(Dec)).over(last3) / count(lit(1)).over(last3)).as("avg3"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val windowRunningSql: String =
    """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
      |  (CAST(round(SUM(CAST(value AS DECIMAL(38,6))) OVER w_run, 4) AS DOUBLE) + 0.0) AS running_value,
      |  (CAST(round(SUM(CAST(value AS DECIMAL(38,6))) OVER w3 / COUNT(*) OVER w3, 4) AS DOUBLE) + 0.0) AS avg3
      |FROM events WHERE event_type = 'purchase'
      |WINDOW w_run AS (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |       w3 AS (PARTITION BY user_id ORDER BY ts, event_id
      |              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  /** #25 Sessionization: gap > 30 min starts a new session. lag + running
    * sum over one user-partitioned sort, then one agg — two shuffles total,
    * both on user_id (AQE-coalesced; skew-join safe at scale).
    */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables
      .events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn(
        "is_new",
        when(
          col("prev_ts").isNull ||
            (epochMs(col("ts")) - epochMs(col("prev_ts"))) > lit(30L * 60 * 1000),
          lit(1)).otherwise(lit(0)))
      .withColumn("session_seq", sum(col("is_new")).over(w))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(epochMs(col("ts"))).as("session_start_ms"),
        max(epochMs(col("ts"))).as("session_end_ms"),
        count(lit(1)).as("n_events"),
        emit(dsum(col("value"))).as("session_value"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  val sessionizeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sessions AS (
      |  SELECT user_id, event_id, ts, value,
      |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM flagged
      |)
      |SELECT user_id, session_seq,
      |  MIN(epoch_ms(ts)) AS session_start_ms,
      |  MAX(epoch_ms(ts)) AS session_end_ms,
      |  COUNT(*) AS n_events,
      |  (CAST(round(SUM(CAST(value AS DECIMAL(38,6))), 4) AS DOUBLE) + 0.0) AS session_value
      |FROM sessions GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  /** #25b sweep-line concurrency: the peak number of SIMULTANEOUSLY
    * open sessions per grain bucket (a day, by default) — capacity
    * planning's basic question, and the one algorithmic shape
    * (interval → ±1 boundary events → running sum → max) nothing else
    * in the catalog exercises. Sessions come from the verified #25
    * logic; each is clipped to the grain buckets it touches (sessions
    * are gap-bounded, so the `sequence` fan-out is 1-2 buckets).
    *
    * TWO-LEVEL SWEEP: a window partitioned on the bare grain key would
    * ship every boundary event of a day to ONE task — billions of rows
    * in one partition on a 100 TB firehose (the r4 verdict's one scale
    * defect). The running sum decomposes instead:
    *   1. boundary events bucket to (grain, sub) — (day, hour) for the
    *      day grain — and the sweep window partitions on BOTH keys, so
    *      no task ever owns more than one sub-bucket;
    *   2. each sub-bucket reduces to (in-bucket running max, net
    *      delta): ≤ grainMs/subMs rows per grain REGARDLESS of volume;
    *   3. the per-grain combine is a bounded left fold over the
    *      sorted sub-bucket array (collect_list + aggregate(); no
    *      bare-grain window anywhere in the plan — PlanShapeSpec pins
    *      this): the true peak is max over sub-buckets of
    *      (prefix-sum of earlier nets + in-bucket max).
    * Within a sub-bucket the boundary order (ts, +1 before -1, then
    * session identity) is a total order, and ts ties cannot cross
    * sub-buckets, so the decomposed sweep equals the single-partition
    * sweep by construction — the DuckDB oracle keeps the plain
    * one-window form and the hashes still match.
    */
  private[queries] def concurrencyPeakGrain(
      s: SparkSession, dir: String, grainMs: Long, subMs: Long, fmt: String): DataFrame = {
    val sess = sessionize(s, dir)
      .select(
        col("user_id"), col("session_seq"),
        col("session_start_ms").as("st"), col("session_end_ms").as("en"))
    // exact integral floor-to-grain (epoch ms are non-negative)
    def grainOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      c - pmod(c, lit(grainMs))
    val clipped = sess
      .withColumn("g", explode(sequence(grainOf(col("st")), grainOf(col("en")), lit(grainMs))))
      .withColumn("cst", greatest(col("st"), col("g")))
      .withColumn("cen", least(col("en"), col("g") + lit(grainMs - 1)))
    val deltas = clipped
      .select(col("g"), col("cst").as("ts"), lit(1).as("delta"), col("user_id"), col("session_seq"))
      .unionByName(clipped.select(
        col("g"), col("cen").as("ts"), lit(-1).as("delta"), col("user_id"), col("session_seq")))
      .withColumn("sub", (col("ts") - col("g")) - pmod(col("ts") - col("g"), lit(subMs)))
    val wSub = Window
      .partitionBy(col("g"), col("sub"))
      .orderBy(col("ts"), col("delta").desc, col("user_id"), col("session_seq"))
    val buckets = deltas
      .withColumn("run", sum(col("delta")).over(wSub))
      .groupBy(col("g"), col("sub"))
      .agg(max(col("run")).as("bmax"), sum(col("delta")).cast("long").as("bnet"))
    buckets
      .groupBy(col("g"))
      .agg(array_sort(collect_list(struct(col("sub"), col("bnet"), col("bmax")))).as("subs"))
      .select(
        date_format(timestamp_millis(col("g")), fmt).as("bucket"),
        aggregate(
          col("subs"),
          struct(lit(0L).as("off"), lit(Long.MinValue).as("mx")),
          (acc, x) =>
            struct(
              (acc.getField("off") + x.getField("bnet")).as("off"),
              greatest(acc.getField("mx"), acc.getField("off") + x.getField("bmax")).as("mx")),
          acc => acc.getField("mx")).as("peak"))
      .orderBy(col("bucket"))
  }

  def concurrencyPeak(s: SparkSession, dir: String): DataFrame =
    concurrencyPeakGrain(s, dir, grainMs = 86400000L, subMs = 3600000L, fmt = "yyyy-MM-dd")
      .withColumnRenamed("bucket", "day")

  /** #25c the same sweep at HOUR grain (minute sub-buckets) — the grain
    * knob the two-level machinery exists for, demonstrated at a second
    * grain with its own oracle.
    */
  def concurrencyPeakHourly(s: SparkSession, dir: String): DataFrame =
    concurrencyPeakGrain(s, dir, grainMs = 3600000L, subMs = 60000L, fmt = "yyyy-MM-dd HH:00")
      .withColumnRenamed("bucket", "hour")

  val concurrencyPeakSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), numbered AS (
      |  SELECT user_id, ts,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      |  FROM flagged
      |), sess AS (
      |  SELECT user_id, session_seq,
      |    MIN(epoch_ms(ts)) AS st, MAX(epoch_ms(ts)) AS en
      |  FROM numbered GROUP BY user_id, session_seq
      |), clipped AS (
      |  SELECT user_id, session_seq, st, en,
      |    CAST(unnest(generate_series(
      |      CAST(make_timestamp(st * 1000) AS DATE),
      |      CAST(make_timestamp(en * 1000) AS DATE), INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM sess
      |), bounded AS (
      |  SELECT user_id, session_seq, day,
      |    epoch_ms(CAST(day AS TIMESTAMP)) AS day_start,
      |    greatest(st, epoch_ms(CAST(day AS TIMESTAMP))) AS cst,
      |    least(en, epoch_ms(CAST(day AS TIMESTAMP)) + 86399999) AS cen
      |  FROM clipped
      |), deltas AS (
      |  SELECT day, cst AS ts, 1 AS delta, user_id, session_seq FROM bounded
      |  UNION ALL
      |  SELECT day, cen AS ts, -1 AS delta, user_id, session_seq FROM bounded
      |), swept AS (
      |  SELECT day,
      |    SUM(delta) OVER (PARTITION BY day ORDER BY ts, delta DESC, user_id, session_seq
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      |  FROM deltas
      |)
      |SELECT strftime(day, '%Y-%m-%d') AS day, CAST(max(run) AS BIGINT) AS peak
      |FROM swept GROUP BY day ORDER BY day""".stripMargin

  /** Hour-grain oracle: the plain one-window sweep per hour bucket
    * (the oracle need not be scale-shaped — only value-identical).
    */
  val concurrencyPeakHourlySql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), numbered AS (
      |  SELECT user_id, ts,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      |  FROM flagged
      |), sess AS (
      |  SELECT user_id, session_seq,
      |    MIN(epoch_ms(ts)) AS st, MAX(epoch_ms(ts)) AS en
      |  FROM numbered GROUP BY user_id, session_seq
      |), clipped AS (
      |  SELECT user_id, session_seq, st, en,
      |    unnest(generate_series(st - (st % 3600000), en - (en % 3600000), 3600000)) AS g
      |  FROM sess
      |), bounded AS (
      |  SELECT user_id, session_seq, g,
      |    greatest(st, g) AS cst,
      |    least(en, g + 3599999) AS cen
      |  FROM clipped
      |), deltas AS (
      |  SELECT g, cst AS ts, 1 AS delta, user_id, session_seq FROM bounded
      |  UNION ALL
      |  SELECT g, cen AS ts, -1 AS delta, user_id, session_seq FROM bounded
      |), swept AS (
      |  SELECT g,
      |    SUM(delta) OVER (PARTITION BY g ORDER BY ts, delta DESC, user_id, session_seq
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      |  FROM deltas
      |)
      |SELECT strftime(make_timestamp(g * 1000), '%Y-%m-%d %H:00') AS hour,
      |  CAST(max(run) AS BIGINT) AS peak
      |FROM swept GROUP BY g ORDER BY hour""".stripMargin

  /** #26 ROLLUP multi-level aggregate (one expand + one shuffle). */
  def rollupAgg(s: SparkSession, dir: String): DataFrame = {
    // fan before the expand (r11): same fused-scan starvation as
    // q1_agg; the 3-way expand keeps partial-agg state tiny (few
    // groups), so the width costs nothing (cf. the grouping_sets NOTE
    // where a 3-way JOIN fed the expand and the fan lost)
    graft.GraftSession
      .fan(Tables.lineitem(s, dir), col("l_orderkey"))
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(emit(dsum(col("l_quantity"))).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"),
        col("n"))
      .orderBy(col("returnflag"), col("linestatus"))
  }

  val rollupAggSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |       coalesce(l_linestatus, 'ALL') AS linestatus,
      |  (CAST(round(SUM(CAST(l_quantity AS DECIMAL(38,6))), 4) AS DOUBLE) + 0.0) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** #26b Salted two-phase aggregation: the skew pattern for hot keys.
    * event_type has 5 values → a plain groupBy lands 1/5 of 100 TB on
    * one reducer; salting fans each key over 16 partial groups first.
    * Identical result to the plain aggregate — the oracle is the
    * UNsalted SQL, proving the rewrite is semantics-preserving.
    */
  def skewSaltedAgg(s: SparkSession, dir: String): DataFrame = {
    Tables
      .events(s, dir)
      .withColumn("salt", pmod(hash(col("event_id")), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(dsum(col("value")).as("pv"), count(lit(1)).as("pn"))
      .groupBy(col("event_type"))
      .agg(emit(sum(col("pv"))).as("total_value"), sum(col("pn")).as("n"))
      .orderBy(col("event_type"))
  }

  val skewSaltedAggSql: String =
    """SELECT event_type,
      |  (CAST(round(SUM(CAST(value AS DECIMAL(38,6))), 4) AS DOUBLE) + 0.0) AS total_value,
      |  COUNT(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** #27b count refresh (run_update_counts_query, main.rs:3815): the
    * reference re-polls per-post like/reply counters; the batch
    * equivalent recomputes counters for the active window from the
    * interaction table in one aggregate+join pass.
    */
  def updateCounts(s: SparkSession, dir: String): DataFrame = {
    val likes = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("like_count"), countDistinct(col("l_suppkey")).as("unique_likers"))
    Tables
      .part(s, dir)
      .join(likes, col("p_partkey") === col("l_partkey"), "left")
      .select(
        col("p_partkey"),
        coalesce(col("like_count"), lit(0L)).as("like_count"),
        coalesce(col("unique_likers"), lit(0L)).as("unique_likers"))
      .orderBy(col("p_partkey"))
  }

  val updateCountsSql: String =
    """SELECT p_partkey,
      |  coalesce(like_count, 0) AS like_count,
      |  coalesce(unique_likers, 0) AS unique_likers
      |FROM part LEFT JOIN (
      |  SELECT l_partkey, COUNT(*) AS like_count,
      |         COUNT(DISTINCT l_suppkey) AS unique_likers
      |  FROM lineitem GROUP BY l_partkey
      |) ON p_partkey = l_partkey
      |ORDER BY p_partkey""".stripMargin

  /** #27 Exact linear-interpolated percentiles per group (order statistic:
    * deterministic across engines).
    */
  def percentiles(s: SparkSession, dir: String): DataFrame = {
    Tables
      .lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      // one shared percentile buffer (array form) instead of four
      // independent collect-and-sort buffers
      .agg(expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.99))").as("ps"))
      .select(
        col("l_returnflag"),
        emit(col("ps").getItem(0)).as("p25"),
        emit(col("ps").getItem(1)).as("p50"),
        emit(col("ps").getItem(2)).as("p75"),
        emit(col("ps").getItem(3)).as("p99"))
      .orderBy(col("l_returnflag"))
  }

  val percentilesSql: String =
    """SELECT l_returnflag,
      |  (CAST(round(quantile_cont(l_extendedprice, 0.25), 4) AS DOUBLE) + 0.0) AS p25,
      |  (CAST(round(quantile_cont(l_extendedprice, 0.5), 4) AS DOUBLE) + 0.0) AS p50,
      |  (CAST(round(quantile_cont(l_extendedprice, 0.75), 4) AS DOUBLE) + 0.0) AS p75,
      |  (CAST(round(quantile_cont(l_extendedprice, 0.99), 4) AS DOUBLE) + 0.0) AS p99
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** #27c sketch-based percentiles (rows-only oracle): the 100 TB path.
    * Exact percentiles must see every value of a group in one place;
    * approx_percentile merges bounded sketches map-side instead, so the
    * reduce state is O(sketch), not O(rows). Kept alongside the exact
    * oracle-path query; the test bounds the sketch error against it.
    */
  def percentilesApprox(s: SparkSession, dir: String): DataFrame = {
    Tables
      .lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.99), 10000)").as("ps"))
      .select(
        col("l_returnflag"),
        emit(col("ps").getItem(0)).as("p25"),
        emit(col("ps").getItem(1)).as("p50"),
        emit(col("ps").getItem(2)).as("p75"),
        emit(col("ps").getItem(3)).as("p99"))
      .orderBy(col("l_returnflag"))
  }

  /** #28b approximate distinct counts (HyperLogLog++): the 100 TB twin
    * of distinct_count. Exact distinct shuffles every distinct value;
    * the sketch is a fixed few-KB state per group that merges
    * associatively map-side — the only form that survives a
    * billion-distinct column. Rows-only (sketches are
    * engine-specific); the error-bound test pins it within 2% of the
    * exact path, and percentiles_approx plays the same role for
    * quantiles.
    */
  def distinctApprox(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        // rsd 0.025: 4× fewer registers than 0.01 for ~2.5% worst-case
        // error — the sketch's value is its fixed size, not precision
        approx_count_distinct(col("l_partkey"), 0.025).as("n_parts"),
        approx_count_distinct(col("l_suppkey"), 0.025).as("n_supps"),
        approx_count_distinct(col("l_orderkey"), 0.025).as("n_orders"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** #28c calendar gap-fill: densify a sparse daily series so every
    * (event_type, day) cell of the observed span exists, zero-filled —
    * the step every dashboard/forecasting consumer needs before a
    * window function (a moving average over a sparse series silently
    * skips missing days). The grid is sequence+explode over a
    * single-row min/max aggregate (a broadcast, never a driver
    * collect) × the distinct types, left-joined to the real
    * aggregates. Scale: the grid is |days|·|types| rows — trivially
    * small next to the fact table at any SF; the one real shuffle is
    * the daily aggregate.
    */
  def gapFill(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val daily = ev
      .filter(col("value") >= 300) // sparse slice: most day-cells are empty
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), emit(dsum(col("value"))).as("total_value"))
    val days = ev
      .agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val grid = days.crossJoin(ev.select(col("event_type")).distinct())
    grid
      .join(daily, Seq("event_type", "day"), "left")
      .select(
        col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("total_value"), lit(0.0)).as("total_value"))
      .orderBy(col("event_type"), col("day"))
  }

  val gapFillSql: String =
    """WITH f AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, value FROM events WHERE value >= 300
      |),
      |span AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events),
      |days AS (
      |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM span
      |),
      |types AS (SELECT DISTINCT event_type FROM events),
      |daily AS (
      |  SELECT event_type, day, count(*) AS n,
      |    (CAST(round(SUM(CAST(value AS DECIMAL(38,6))), 4) AS DOUBLE) + 0.0) AS total_value
      |  FROM f GROUP BY 1, 2
      |)
      |SELECT t.event_type, strftime(g.day, '%Y-%m-%d') AS day,
      |  coalesce(d.n, 0) AS n, coalesce(d.total_value, 0.0) AS total_value
      |FROM days g CROSS JOIN types t
      |LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = g.day
      |ORDER BY t.event_type, g.day""".stripMargin

  /** #28d retention cohorts: users grouped by their first-activity week
    * (ISO-Monday truncation, identical in both engines), counted
    * distinct in each subsequent week-offset — the activation/retention
    * matrix behind every growth dashboard. Two shuffles total: the
    * per-user first-day aggregate, then the (cohort, week_n) distinct
    * count; the first-day relation joins back on user_id (AQE
    * broadcasts it at small SF, hash join at scale — hint-free per
    * policy).
    */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), to_date(col("ts")).as("day"))
    val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    ev.join(first, Seq("user_id"))
      .select(
        date_format(date_trunc("week", col("first_day")), "yyyy-MM-dd").as("cohort_week"),
        floor(datediff(col("day"), col("first_day")) / 7).as("week_n"),
        col("user_id"))
      .groupBy(col("cohort_week"), col("week_n"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_n"))
  }

  val retentionCohortsSql: String =
    """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |first AS (SELECT user_id, min(day) AS first_day FROM ev GROUP BY user_id)
      |SELECT strftime(date_trunc('week', f.first_day), '%Y-%m-%d') AS cohort_week,
      |  CAST(floor(date_diff('day', f.first_day, e.day) / 7) AS BIGINT) AS week_n,
      |  count(DISTINCT e.user_id) AS n_users
      |FROM ev e JOIN first f USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_week, week_n""".stripMargin

  /** #24b ordered conversion funnel: how deep does each user get in
    * view → click → purchase, each later stage strictly after the
    * earlier one AND within a 24 h conversion window (the window is
    * what makes the funnel discriminate — without it, a month of
    * activity converts everyone)? Three same-key aggregates: first
    * view per user, first qualifying click, first qualifying purchase
    * — each a conditional min over the (user_id) exchange, which AQE
    * plans once and reuses (same key throughout, no re-shuffle
    * between stages). Timestamp comparisons are exact micros in both
    * engines; output is the stage histogram.
    */
  def funnelStages(s: SparkSession, dir: String): DataFrame = {
    val step = expr("INTERVAL 24 HOURS")
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val c = ev.join(v, Seq("user_id"))
      .filter(
        col("event_type") === "click" && col("ts") > col("v_ts") &&
          col("ts") <= col("v_ts") + step)
      .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
    val p = ev.join(c, Seq("user_id"))
      .filter(
        col("event_type") === "purchase" && col("ts") > col("c_ts") &&
          col("ts") <= col("c_ts") + step)
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    val all = Tables.events(s, dir).select(col("user_id")).distinct()
    all
      .join(v.select(col("user_id"), lit(1).as("s1")), Seq("user_id"), "left")
      .join(c.select(col("user_id"), lit(1).as("s2")), Seq("user_id"), "left")
      .join(p.select(col("user_id"), lit(1).as("s3")), Seq("user_id"), "left")
      .select(
        (coalesce(col("s1"), lit(0)) + coalesce(col("s2"), lit(0)) +
          coalesce(col("s3"), lit(0))).as("stage"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("stage"))
  }

  val funnelStagesSql: String =
    """WITH ev AS (SELECT user_id, event_type, ts FROM events),
      |v AS (SELECT user_id, min(ts) AS v_ts FROM ev WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT ev.user_id, min(ev.ts) AS c_ts FROM ev JOIN v USING (user_id)
      |  WHERE ev.event_type = 'click' AND ev.ts > v.v_ts
      |    AND ev.ts <= v.v_ts + INTERVAL 24 HOUR GROUP BY 1
      |),
      |p AS (
      |  SELECT ev.user_id, min(ev.ts) AS p_ts FROM ev JOIN c USING (user_id)
      |  WHERE ev.event_type = 'purchase' AND ev.ts > c.c_ts
      |    AND ev.ts <= c.c_ts + INTERVAL 24 HOUR GROUP BY 1
      |),
      |stages AS (
      |  SELECT a.user_id,
      |    (CASE WHEN v.user_id IS NULL THEN 0 ELSE 1 END) +
      |    (CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END) +
      |    (CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END) AS stage
      |  FROM (SELECT DISTINCT user_id FROM events) a
      |  LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
      |)
      |SELECT stage, count(*) AS n_users FROM stages GROUP BY stage ORDER BY stage""".stripMargin

  /** #28 Exact distinct counts per group (two-phase distinct agg). */
  def distinctCount(s: SparkSession, dir: String): DataFrame = {
    Tables
      .lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  val distinctCountSql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps,
      |  COUNT(DISTINCT l_orderkey) AS n_orders,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** #29 As-of join: each purchase event matched to the user's latest
    * prior signup/click event. Expressed as range join + per-row argmax
    * (row_number), identical semantics in the oracle. At 100 TB the same
    * plan works partitioned by user; a sort-merge as-of physical operator
    * is the round-2 upgrade.
    */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val anchors = ev
      .filter(col("event_type") === "signup")
      .select(
        col("user_id").as("a_user_id"),
        col("event_id").as("anchor_id"),
        col("ts").as("anchor_ts"))
    val w = Window
      .partitionBy(col("event_id"))
      .orderBy(col("anchor_ts").desc, col("anchor_id").desc)
    purchases
      .join(
        anchors,
        col("user_id") === col("a_user_id") && col("anchor_ts") <= col("ts"),
        "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("event_id"),
        col("user_id"),
        epochMs(col("ts")).as("ts_ms"),
        col("anchor_id"),
        epochMs(col("anchor_ts")).as("anchor_ts_ms"))
      .orderBy(col("event_id"))
  }

  val asofJoinSql: String =
    """WITH purchases AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
      |), anchors AS (
      |  SELECT user_id AS a_user_id, event_id AS anchor_id, ts AS anchor_ts
      |  FROM events WHERE event_type = 'signup'
      |), joined AS (
      |  SELECT p.event_id, p.user_id, p.ts, a.anchor_id, a.anchor_ts,
      |    row_number() OVER (PARTITION BY p.event_id
      |                       ORDER BY a.anchor_ts DESC, a.anchor_id DESC) AS rn
      |  FROM purchases p LEFT JOIN anchors a
      |    ON p.user_id = a.a_user_id AND a.anchor_ts <= p.ts
      |)
      |SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, anchor_id,
      |       epoch_ms(anchor_ts) AS anchor_ts_ms
      |FROM joined WHERE rn = 1 ORDER BY event_id""".stripMargin

  /** #29b the same as-of semantics through the engine's NATIVE operator
    * (graft.plans.AsOfJoin): hash-partitioned sorted streaming merge,
    * O(1) state per partition, no candidate pairs — vs the range-join +
    * row_number fallback above. Same DuckDB oracle: both must agree.
    */
  def asofJoinNative(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val anchors = ev
      .filter(col("event_type") === "signup")
      .select(
        col("user_id").as("a_user_id"),
        col("event_id").as("anchor_id"),
        col("ts").as("anchor_ts"))
    org.apache.spark.sql.graftext.GraftOps
      .asofJoin(purchases, anchors, "user_id", "a_user_id", "ts", "anchor_ts", "anchor_id")
      .select(
        col("event_id"),
        col("user_id"),
        epochMs(col("ts")).as("ts_ms"),
        col("anchor_id"),
        epochMs(col("anchor_ts")).as("anchor_ts_ms"))
      .orderBy(col("event_id"))
  }

  /** #30 Time-range self join: follow-up events within 1 h of each error,
    * same user. Banded at scale (join on time-bucket) — here the band key
    * is floor(ts to hour) so the join has an equi-component and never
    * degenerates to a broadcast-nested-loop over the full fact table.
    */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val errs = ev
      .filter(col("event_type") === "error")
      .select(
        col("event_id").as("err_id"),
        col("user_id").as("err_user"),
        col("ts").as("err_ts"))
      // band key: events within (err_ts, err_ts+1h] live in the error's
      // hour bucket or the next one — explode to 2 bucket keys so the
      // join keeps an equi-component (never a nested-loop over the fact)
      .withColumn("e_bucket", explode(array(
        floor(epochMs(col("err_ts")) / lit(3600000L)),
        floor(epochMs(col("err_ts")) / lit(3600000L)) + 1)))
    val follow = ev.select(
      col("event_id").as("f_id"),
      col("user_id").as("f_user"),
      col("ts").as("f_ts"),
      floor(epochMs(col("ts")) / lit(3600000L)).as("f_bucket"))
    errs
      .join(
        follow,
        col("err_user") === col("f_user") && col("e_bucket") === col("f_bucket") &&
          col("f_ts") > col("err_ts") &&
          epochMs(col("f_ts")) - epochMs(col("err_ts")) <= lit(3600000L))
      .groupBy(col("err_id"))
      .agg(count(lit(1)).as("n_follow"), min(col("f_id")).as("first_follow_id"))
      .orderBy(col("err_id"))
  }

  val rangeJoinSql: String =
    """SELECT e.event_id AS err_id, COUNT(*) AS n_follow,
      |       MIN(f.event_id) AS first_follow_id
      |FROM events e JOIN events f
      |  ON e.user_id = f.user_id
      | AND f.ts > e.ts
      | AND epoch_ms(f.ts) - epoch_ms(e.ts) <= 3600000
      |WHERE e.event_type = 'error'
      |GROUP BY e.event_id ORDER BY err_id""".stripMargin

  /** #31 JSON property extraction + aggregation (codegen'd path getter,
    * no UDF; pushdown keeps only the two referenced columns).
    */
  def jsonExtract(s: SparkSession, dir: String): DataFrame = {
    Tables
      .events(s, dir)
      .select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  val jsonExtractSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** #32 Pivot: event_type × calendar-day matrix. Fixed pivot values so
    * the plan is a single agg (no extra distinct pass) and the oracle is
    * plain conditional aggregation.
    */
  def pivotAgg(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables
      .events(s, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"), col("value"))
      .groupBy(col("day"))
      .pivot("event_type", types)
      .agg(emit(dsum(col("value"))))
      .na.fill(0.0, types)
      .orderBy(col("day"))
  }

  val pivotAggSql: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS day,
      |  CAST(coalesce(round(SUM(CASE WHEN event_type='click' THEN CAST(value AS DECIMAL(38,6)) END), 4), 0) AS DOUBLE) AS click,
      |  CAST(coalesce(round(SUM(CASE WHEN event_type='error' THEN CAST(value AS DECIMAL(38,6)) END), 4), 0) AS DOUBLE) AS error,
      |  CAST(coalesce(round(SUM(CASE WHEN event_type='purchase' THEN CAST(value AS DECIMAL(38,6)) END), 4), 0) AS DOUBLE) AS purchase,
      |  CAST(coalesce(round(SUM(CASE WHEN event_type='signup' THEN CAST(value AS DECIMAL(38,6)) END), 4), 0) AS DOUBLE) AS signup,
      |  CAST(coalesce(round(SUM(CASE WHEN event_type='view' THEN CAST(value AS DECIMAL(38,6)) END), 4), 0) AS DOUBLE) AS "view"
      |FROM events GROUP BY day ORDER BY day""".stripMargin

  /** #26c CUBE aggregate over (event_type, month): all four grouping
    * combinations in ONE expand + ONE shuffle — the OLAP dashboard
    * query (totals by type, by month, by both, grand total) that would
    * otherwise be four scans. Nulls from the expand are coalesced to a
    * sentinel so ordering is engine-portable. Same scale shape as
    * rollup_agg: the expand multiplies rows 4× map-side but partial
    * aggregation collapses them before the exchange.
    */
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM").as("month"), col("value"))
      .cube(col("event_type"), col("month"))
      .agg(emit(dsum(col("value"))).as("total_value"), count(lit(1)).as("n"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("month"), lit("ALL")).as("month"),
        col("total_value"),
        col("n"))
      .orderBy(col("event_type"), col("month"))

  val cubeAggSql: String =
    """WITH e AS (
      |  SELECT event_type, strftime(ts, '%Y-%m') AS month, value FROM events
      |)
      |SELECT coalesce(event_type, 'ALL') AS event_type,
      |       coalesce(month, 'ALL') AS month,
      |  (CAST(round(SUM(CAST(value AS DECIMAL(38,6))), 4) AS DOUBLE) + 0.0) AS total_value,
      |  COUNT(*) AS n
      |FROM e GROUP BY CUBE(event_type, month)
      |ORDER BY event_type, month""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("q1_agg", q1Agg, q1AggSql),
    exact("cube_agg", cubeAgg, cubeAggSql),
    exact("q3_join_topk", q3JoinTopk, q3JoinTopkSql),
    exact("q5_multi_join", q5MultiJoin, q5MultiJoinSql),
    exact("window_running", windowRunning, windowRunningSql),
    exact("sessionize", sessionize, sessionizeSql),
    exact("funnel_stages", funnelStages, funnelStagesSql),
    exact("concurrency_peak", concurrencyPeak, concurrencyPeakSql),
    exact("concurrency_peak_hourly", concurrencyPeakHourly, concurrencyPeakHourlySql),
    exact("rollup_agg", rollupAgg, rollupAggSql),
    exact("skew_salted_agg", skewSaltedAgg, skewSaltedAggSql),
    exact("update_counts", updateCounts, updateCountsSql),
    exact("percentiles", percentiles, percentilesSql),
    rowsOnly("percentiles_approx", percentilesApprox),
    exact("distinct_count", distinctCount, distinctCountSql),
    rowsOnly("distinct_approx", distinctApprox),
    exact("gap_fill", gapFill, gapFillSql),
    exact("retention_cohorts", retentionCohorts, retentionCohortsSql),
    exact("asof_join", asofJoin, asofJoinSql),
    exact("asof_join_native", asofJoinNative, asofJoinSql),
    exact("range_join", rangeJoin, rangeJoinSql),
    exact("json_extract", jsonExtract, jsonExtractSql),
    exact("pivot_agg", pivotAgg, pivotAggSql))
}
