package graft.queries

import graft.{Key, OracleMath, Tables}
import graft.Key.{exact, rowsOnly}
import graft.functions.Registry
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 additions: the PRODUCTION intake recipe (corpus_recipe with
  * the exact-dedup stage swapped for hot-bucket-guarded MinHash
  * near-dedup — safe only now that the band join carries the guard),
  * plus two classic decision-support shapes the catalog lacked
  * (TPC-H Q13's outer-join histogram, Q4's correlated-exists semi
  * join) and two more LLM/ops primitives (the first BPE merge step,
  * inter-event gap percentiles).
  */
object Round6Ops {
  import OracleMath._

  /** #92 corpus_recipe_neardup — corpus_recipe with the dedup stage
    * swapped for MinHash NEAR-dedup over the gated survivors: every
    * candidate pair (est. jaccard ≥ 0.5) drops its higher doc_id, the
    * dedup family's order-free lower-id-survivor rule, hot-bucket
    * guarded. Gate and tail are corpus_recipe's own (shared code), so
    * the two entries differ in exactly the stage under study.
    * Rows-only by declared design (xxhash64 signatures aren't
    * SQL-expressible); the planted test pins that a near-duplicate —
    * NOT byte- or normalization-identical — folds into its original.
    * Scale shape: the gram/signature pass runs over gate SURVIVORS
    * only, the band join shuffles on (band, bandhash) under the cap,
    * and the tail's decontaminate/split/card stay the audited #88
    * plans.
    */
  def corpusRecipeNeardup(s: SparkSession, dir: String): DataFrame =
    corpusRecipeNeardupOver(Tables.documents(s, dir))

  private[graft] def corpusRecipeNeardupOver(d: DataFrame): DataFrame =
    Round5Ops.recipeTail(d, nearDedupDocs(Round5Ops.recipeGate(d)))

  /** The near-dedup stage over a gated (doc_id, source, text, n_words)
    * working set — test entry point for the planted near-duplicate.
    */
  private[graft] def nearDedupDocs(gated: DataFrame): DataFrame = {
    // gated carries the language/length/diversity gate (per-row n-gram
    // language scoring — the expensive map) and is read twice here
    // (the MinHash pair mining AND the survivor anti-join): cut once (r9)
    val g = graft.Lineage.cut(gated)
    g.join(
        TextOps.minhashPairs(g.select(col("doc_id"), col("text")))
          .select(col("b").as("doc_id"))
          .distinct(),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("text"), col("n_words"))
  }

  /** #93 TPC-H Q13 (customer distribution): how many customers placed
    * 0, 1, 2, … orders — the canonical OUTER-join histogram and the
    * one decision-support shape the catalog lacked (customers with NO
    * orders must appear, so no inner join can express it). Plan:
    * aggregate orders per custkey FIRST (map-side partial combine over
    * the fact table), LEFT join the one-row-per-customer result —
    * join input is |customers| + |custkeys with orders|, never the
    * raw fact table — coalesce the no-order customers to 0, then the
    * bounded second agg builds the histogram. Both aggs key naturally;
    * no hints (the per-cust relation scales with data, AQE decides).
    */
  def q13Custdist(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(s, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT") // Q13's comment-filter stand-in
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    Tables.customer(s, dir)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q13CustdistSql: String =
    """WITH oc AS (
      |  SELECT o_custkey, count(*) AS n_orders FROM orders
      |  WHERE o_orderpriority <> '1-URGENT' GROUP BY o_custkey
      |)
      |SELECT coalesce(n_orders, 0) AS c_count, count(*) AS custdist
      |FROM customer LEFT JOIN oc ON c_custkey = o_custkey
      |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** #94 TPC-H Q4 (order priority checking): orders in a window with
    * at least one LATE line item (shipped > 30 days after the order
    * date — the synthetic schema's stand-in for commit/receipt dates),
    * counted per priority. The shape under test is the correlated
    * EXISTS: a LEFT SEMI join with a non-equi conjunct — each order
    * counts once no matter how many lines are late (a plain join
    * would double-count), and the date window reaches the orders scan
    * as a pushed filter.
    */
  def q4OrderPriority(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(
        col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
    val li = Tables.lineitem(s, dir)
    ord
      .join(
        li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val q4OrderPrioritySql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders o
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey
      |      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** #95 one BPE merge step — the inner loop of tokenizer training
    * (Sennrich et al. 2016): count adjacent symbol pairs across the
    * corpus (pair occurrences within a word × the word's corpus
    * frequency) and rank merge candidates. Scale shape: the word-freq
    * agg shuffles hash keys with map-side combine (heavy hitters
    * absorbed), the char-pair enumeration is a per-row array
    * transform over DISTINCT words only (the corpus may hold billions
    * of tokens but orders fewer distinct words), and the top-20 is
    * TakeOrderedAndProject. A full training run iterates this exact
    * plan with the learned merge applied — each round is the same
    * two-agg shape.
    */
  def bpeMergeStep(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("wc"))
    val ch = regexp_extract_all(col("w"), lit("."), lit(0))
    words
      .filter(size(ch) >= 2)
      .select(
        col("wc"),
        explode(transform(
          sequence(lit(1), size(ch) - 1),
          i => concat(element_at(ch, i), element_at(ch, i + 1)))).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("wc")).as("freq"))
      .orderBy(col("freq").desc, col("pair"))
      .limit(20)
  }

  val bpeMergeStepSql: String =
    """WITH w AS (
      |  SELECT token AS w, count(*) AS wc FROM (
      |    SELECT unnest(string_split(text, ' ')) AS token FROM documents
      |  ) WHERE token <> '' GROUP BY 1
      |),
      |ch AS (SELECT wc, regexp_extract_all(w, '.') AS cs FROM w),
      |p AS (
      |  SELECT wc, unnest([cs[i] || cs[i+1] for i in range(1, len(cs))]) AS pair
      |  FROM ch WHERE len(cs) >= 2
      |)
      |SELECT pair, CAST(sum(wc) AS BIGINT) AS freq
      |FROM p GROUP BY pair ORDER BY freq DESC, pair LIMIT 20""".stripMargin

  /** #96 inter-event gap stats: per event type, the distribution of
    * time between a user's consecutive events — the ops/engagement
    * metric behind "how often do users fire X" dashboards and the
    * input to session-timeout tuning (sessionize's 30-min constant
    * becomes a measured p95). One window per (user, type) — fine
    * partition keys, skew-safe — then a bounded per-type agg; exact
    * percentile parity via the percentile/quantile_cont device the
    * percentiles entry proved, tie-broken on event_id so both engines
    * diff the same neighbor.
    */
  def interEventGaps(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(w))
      .filter(col("prev_ms").isNotNull)
      .withColumn("gap_s", (unix_millis(col("ts")) - col("prev_ms")).cast("double") / 1000.0)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_gaps"),
        emit(dsum(col("gap_s")) / count(lit(1))).as("mean_s"),
        expr("percentile(gap_s, array(0.5, 0.95))").as("ps"))
      .select(
        col("event_type"), col("n_gaps"), col("mean_s"),
        emit(col("ps").getItem(0)).as("p50_s"),
        emit(col("ps").getItem(1)).as("p95_s"))
      .orderBy(col("event_type"))
  }

  val interEventGapsSql: String =
    """WITH g AS (
      |  SELECT event_type,
      |    (epoch_ms(ts) - lag(epoch_ms(ts), 1) OVER (
      |       PARTITION BY user_id, event_type ORDER BY ts, event_id)) / 1000.0 AS gap_s
      |  FROM events
      |)
      |SELECT event_type, count(*) AS n_gaps,
      |  (CAST(round(SUM(CAST(gap_s AS DECIMAL(38,6))) / count(*), 4) AS DOUBLE) + 0.0) AS mean_s,
      |  (CAST(round(quantile_cont(gap_s, 0.5), 4) AS DOUBLE) + 0.0) AS p50_s,
      |  (CAST(round(quantile_cont(gap_s, 0.95), 4) AS DOUBLE) + 0.0) AS p95_s
      |FROM g WHERE gap_s IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** #97 apply the mixing weights — the missing bridge between
    * corpus_mix_weights (which COMPUTES per-source sampling weights)
    * and a training run (which needs the resampled corpus): each gated
    * doc is emitted floor(weight) times plus one more iff a
    * deterministic per-doc uniform (md5-derived, engine-portable)
    * falls under the fractional part — the standard
    * fractional-epoch upsampling rule, reproducible run to run.
    * Output is the per-source resample card (docs in, copies out,
    * tokens out, realized epoch rate). Scale shape: weights arrive by
    * provably-bounded broadcast (#sources rows), the copy decision is
    * a per-row map, and the card is one bounded (source) agg — the
    * actual materialization (explode by n_copies) is a writer concern
    * this card exactly predicts.
    */
  def corpusApplyMix(s: SparkSession, dir: String): DataFrame = {
    // lineage-cut like corpus_mix_weights itself: the weights derive
    // from a full gated scan that must not re-run per downstream use
    val w = graft.Lineage.cut(
      Round5Ops.corpusMixWeights(s, dir).select(col("source"), col("weight")))
    val gated = Round5Ops.recipeGate(Tables.documents(s, dir))
      .select(col("doc_id"), col("source"), col("n_words"))
    val u = conv(substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 6), 16, 10)
      .cast("long").cast("double") / lit(16777216.0)
    gated
      .join(broadcast(w), Seq("source")) // #sources rows by construction
      .withColumn(
        "n_copies",
        floor(col("weight")) +
          when(u < col("weight") - floor(col("weight")), lit(1L)).otherwise(lit(0L)))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("docs_in"),
        sum(col("n_copies")).as("copies_out"),
        sum(col("n_copies") * col("n_words")).as("tokens_out"))
      .select(
        col("source"), col("docs_in"), col("copies_out"), col("tokens_out"),
        emit(col("copies_out").cast("double") / col("docs_in"), 4).as("epoch_rate"))
      .orderBy(col("source"))
  }

  val corpusApplyMixSql: String =
    s"""WITH wts AS (${Round5Ops.corpusMixWeightsSql}),
       |gated AS (
       |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_words
       |  FROM documents
       |  WHERE (${TextOps.bestLangSql}).lang = 'en'
       |    AND len(string_split(text, ' ')) >= 30
       |    AND len(list_distinct(string_split(text, ' '))) * 1.0
       |        / len(string_split(text, ' ')) >= 0.3
       |),
       |c AS (
       |  SELECT g.source, n_words,
       |    CAST(floor(weight) AS BIGINT) +
       |    CASE WHEN CAST(concat('0x', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 6))
       |              AS BIGINT) / 16777216.0 < weight - floor(weight)
       |         THEN 1 ELSE 0 END AS n_copies
       |  FROM gated g JOIN wts USING (source)
       |)
       |SELECT source, count(*) AS docs_in,
       |  CAST(sum(n_copies) AS BIGINT) AS copies_out,
       |  CAST(sum(n_copies * n_words) AS BIGINT) AS tokens_out,
       |  (CAST(round(CAST(sum(n_copies) AS DOUBLE) / count(*), 4) AS DOUBLE) + 0.0) AS epoch_rate
       |FROM c GROUP BY source ORDER BY source""".stripMargin

  /** #98 the posts_per_user limit as a NATIVE bounded aggregate — the
    * scale twin of limit_per_user (#11): the window row_number form
    * exchanges AND SORTS every group's full row set to keep 3; the
    * TopKPairs TypedImperativeAggregate (functions/TopKPairs.scala)
    * carries an O(k) buffer that combines map-side, so the exchange
    * moves at most k pairs per (partition, user) — the same answer at
    * a per-group cost of O(n·k) compares instead of O(n log n) sort,
    * and the plan is ObjectHashAggregate with NO window (plan-pinned).
    * Same exact oracle as limit_per_user: identical output by
    * construction (the ordering contract is the window's sort key).
    */
  def limitPerUserAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(graft.functions.Registry.topK(col("value"), col("event_id"), 3).as("top"))
      .select(col("user_id"), explode(col("top")).as("e"))
      .select(col("user_id"), col("e.id").as("event_id"), emit(col("e.score")).as("value"))
      .orderBy(col("user_id"), col("value").desc, col("event_id"))

  val limitPerUserAggSql: String =
    """SELECT user_id, event_id, (CAST(round(value, 4) AS DOUBLE) + 0.0) AS value FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |                               ORDER BY value DESC, event_id) AS rn
      |  FROM events
      |) WHERE rn <= 3 ORDER BY user_id, value DESC, event_id""".stripMargin

  /** #25e sessionize via Spark's NATIVE session_window — the built-in
    * gap-session operator beside the hand-rolled lag/cumsum islands
    * (#25): one aggregation whose physical plan merges sessions
    * in-sort (MergingSessions), no explicit window functions, and the
    * SAME operator drops onto a stream unchanged. Boundary semantics
    * MATCH #25 exactly: Spark merges ADJACENT windows (a gap of
    * precisely the 30-min timeout still merges — planted test), which
    * is the islands form's strict `> gap` split rule, so the two
    * sessionizers are equivalent everywhere and the oracle keeps the
    * `>` rule. No session_seq column: native windows are identified
    * by their start time.
    */
  def sessionizeNative(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), emit(dsum(col("value"))).as("session_value"))
      .select(
        col("user_id"),
        unix_millis(col("w.start")).as("session_start_ms"),
        (unix_millis(col("w.end")) - lit(1800000L)).as("session_end_ms"),
        col("n_events"),
        col("session_value"))
      .orderBy(col("user_id"), col("session_start_ms"))

  val sessionizeNativeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), sessions AS (
      |  SELECT user_id, ts, value,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
      |  FROM flagged
      |)
      |SELECT user_id,
      |  MIN(epoch_ms(ts)) AS session_start_ms,
      |  MAX(epoch_ms(ts)) AS session_end_ms,
      |  COUNT(*) AS n_events,
      |  (CAST(round(SUM(CAST(value AS DECIMAL(38,6))), 4) AS DOUBLE) + 0.0) AS session_value
      |FROM sessions GROUP BY user_id, seq
      |ORDER BY user_id, session_start_ms""".stripMargin

  /** #99 runtime_filtered_join — EXPLICIT Bloom-filter semi-join
    * pruning, the engine-controlled twin of Spark's InjectRuntimeFilter
    * (which only fires under planner size thresholds — a 100 TB fact
    * table qualifies, but the decision belongs to the engine, not the
    * heuristic): build a Bloom sketch over the FILTERED dim keys in a
    * scalar subquery (`graft_bloom_agg`, Spark's own
    * BloomFilterAggregate lifted into a SQL-callable name), probe it on
    * the fact side (`graft_might_contain`) BEFORE the shuffle, then
    * aggregate the survivors and inner-join the dim. False positives
    * cost only wasted agg work — the inner join removes them — so the
    * result is EXACT and the oracle is the plain join. Scale shape:
    * the fact table sheds ~|dim-miss| rows at the scan stage (the
    * sketch is a fixed-size broadcast, built map-side-mergeable like
    * the engine's other sketches), the per-supplier agg combines
    * map-side, and only matching groups reach the join exchange.
    */
  def runtimeFilteredJoin(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Registry.registerAll(s) // idempotent; Verify/Bench sessions arrive tuned
    Tables.lineitem(s, dir).createOrReplaceTempView("rfj_lineitem")
    Tables.supplier(s, dir).createOrReplaceTempView("rfj_supplier")
    val pruned = s.sql(
      """SELECT l_suppkey, l_extendedprice, l_discount FROM rfj_lineitem
        |WHERE graft_might_contain(
        |  (SELECT graft_bloom_agg(xxhash64(s_suppkey), 10000L)
        |   FROM rfj_supplier WHERE s_nationkey < 5),
        |  xxhash64(l_suppkey))""".stripMargin)
    pruned
      .groupBy(col("l_suppkey"))
      .agg(
        count(lit(1)).as("n_lines"),
        emit(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue"))
      .join(
        Tables.supplier(s, dir).filter(col("s_nationkey") < 5),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_lines"), col("revenue"))
      .orderBy(col("s_suppkey"))
  }

  val runtimeFilteredJoinSql: String =
    """SELECT s_suppkey, s_name, count(*) AS n_lines,
      |  (CAST(round(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))), 4) AS DOUBLE) + 0.0) AS revenue
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |WHERE s_nationkey < 5
      |GROUP BY s_suppkey, s_name ORDER BY s_suppkey""".stripMargin

  /** #100 TPC-H Q21 (suppliers who kept orders waiting): for finished
    * orders shipped by at least two suppliers, find the supplier who
    * was the SOLE late shipper — the classic EXISTS / NOT-EXISTS pair.
    * The reference-era formulation self-joins lineitem twice; here both
    * quantifiers COLLAPSE into one per-order aggregate pass: count
    * distinct suppliers, count distinct LATE suppliers, and remember
    * the late supplier when there is exactly one (max over a
    * single-element set). "Late" reuses q4's stand-in (shipped > 30
    * days after the order date — the synthetic schema carries no
    * commit/receipt dates). Scale shape: ONE shuffle on l_orderkey
    * (the join to orders and the per-order agg share it), a bounded
    * count-distinct expand (2 keys), the supplier name join is
    * AQE-broadcast, and the final top-20 is TakeOrderedAndProject.
    */
  def q21WaitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS")
    val perOrder = Tables.lineitem(s, dir)
      .join(
        Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(late, col("l_suppkey"))).as("n_late"),
        max(when(late, col("l_suppkey"))).as("late_supp"))
      .filter(col("n_supp") >= 2 && col("n_late") === 1)
    perOrder
      .join(Tables.supplier(s, dir), col("late_supp") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  val q21WaitingSuppliersSql: String =
    """WITH per_order AS (
      |  SELECT l_orderkey,
      |    count(DISTINCT l_suppkey) AS n_supp,
      |    count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
      |                        THEN l_suppkey END) AS n_late,
      |    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
      |             THEN l_suppkey END) AS late_supp
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'F'
      |  GROUP BY l_orderkey
      |)
      |SELECT s_name, count(*) AS numwait
      |FROM per_order JOIN supplier ON late_supp = s_suppkey
      |WHERE n_supp >= 2 AND n_late = 1
      |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin

  /** #101 scd2_history — the warehouse slowly-changing-dimension
    * (type 2) build: compress an update stream into attribute validity
    * intervals. The tracked attribute is the user's k-tier (props.k
    * div 50 — the codegen'd JSON getter #31 proved engine-portable);
    * consecutive same-tier updates collapse, each change opens an
    * interval [valid_from, valid_to) and closes its predecessor, the
    * open interval is flagged current. This is the dimension-table
    * maintenance pattern every warehouse load runs nightly — the batch
    * twin of the streaming upsert stores (#45/#48b). Scale shape: both
    * windows partition on user_id (fine keys, millions of users at
    * 100 TB — skew-safe), the change filter drops ~all rows BEFORE the
    * second window touches them, and nothing shuffles twice: lag and
    * lead share the user_id hash partitioning (one exchange, two
    * in-partition sorts).
    */
  def scd2History(s: SparkSession, dir: String): DataFrame = {
    val wUpd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wIv = Window.partitionBy(col("user_id")).orderBy(col("valid_from_ms"))
    Tables.events(s, dir)
      .select(
        col("user_id"), col("ts"), col("event_id"),
        expr("CAST(get_json_object(props, '$.k') AS BIGINT) div 50").as("tier"))
      .withColumn("prev_tier", lag(col("tier"), 1).over(wUpd))
      .filter(col("prev_tier").isNull || col("prev_tier") =!= col("tier"))
      .select(col("user_id"), col("tier"), unix_millis(col("ts")).as("valid_from_ms"))
      .withColumn("valid_to_ms", lead(col("valid_from_ms"), 1).over(wIv))
      .withColumn("is_current", col("valid_to_ms").isNull)
      .orderBy(col("user_id"), col("valid_from_ms"), col("tier"))
  }

  val scd2HistorySql: String =
    """WITH upd AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) // 50 AS tier
      |  FROM events
      |), flagged AS (
      |  SELECT user_id, tier, epoch_ms(ts) AS valid_from_ms,
      |    lag(tier) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tier
      |  FROM upd
      |), changes AS (
      |  SELECT user_id, tier, valid_from_ms FROM flagged
      |  WHERE prev_tier IS NULL OR prev_tier <> tier
      |)
      |SELECT user_id, tier, valid_from_ms,
      |  lead(valid_from_ms) OVER w AS valid_to_ms,
      |  (lead(valid_from_ms) OVER w IS NULL) AS is_current
      |FROM changes
      |WINDOW w AS (PARTITION BY user_id ORDER BY valid_from_ms)
      |ORDER BY user_id, valid_from_ms, tier""".stripMargin

  /** #102 corpus_weighted_sample — fixed-size weighted sample WITHOUT
    * replacement (Efraimidis–Spirakis A-Res, IPL 2006): each doc draws
    * a deterministic md5 uniform u and is ranked by u^(1/w) with
    * w = n_chars, so selection probability is proportional to size —
    * the "sample by tokens, not by docs" rule a training-mix pipeline
    * needs (uniform doc sampling over-represents short docs; #69
    * corpus_sample is the per-source RATE sampler, this is the
    * fixed-BUDGET weighted one). Ranked on the monotone transform
    * ln(u)/w (scaled ×1e6, rounded 6dp — both engines round the same
    * bits; ln proven portable like pow in score_hn), tie-broken on
    * doc_id. Scale shape: the key is a per-row map over the scan and
    * top-k is TakeOrderedAndProject — no shuffle at any size, and the
    * same key makes a streaming weighted reservoir (A-Res IS the
    * reservoir rule; keep the k largest keys as docs arrive).
    */
  def corpusWeightedSample(s: SparkSession, dir: String): DataFrame = {
    val u = (conv(substring(md5(concat(lit("ws:"), col("doc_id").cast("string"))), 1, 6), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(16777216.0)
    Tables.documents(s, dir)
      .filter(col("n_chars") > 0)
      .select(
        col("doc_id"), col("source"), col("n_chars"),
        emit(log(u) * lit(1000000.0) / col("n_chars"), 6).as("es_key"))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(100)
  }

  val corpusWeightedSampleSql: String =
    """SELECT doc_id, source, n_chars,
      |  (CAST(round(ln((CAST(concat('0x', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) + 0.5)
      |             / 16777216.0) * 1000000.0 / n_chars, 6) AS DOUBLE) + 0.0) AS es_key
      |FROM documents WHERE n_chars > 0
      |ORDER BY es_key DESC, doc_id LIMIT 100""".stripMargin

  /** #103 embed_pq_knn — product-quantization ANN (Jégou et al. 2011,
    * "Product Quantization for Nearest Neighbor Search"): split the
    * 64-dim space into m=8 subspaces, quantize each subvector to its
    * nearest of k=16 codebook centroids, and rank neighbors by the
    * ASYMMETRIC score — the query stays full-precision and its
    * per-(subspace, centroid) dot products form a lookup table, so a
    * database vector's score is 8 table lookups summed, never a
    * 64-dim dot. The memory story at 100 TB: 8 code bytes per vector
    * versus 256 embedding bytes — a 32× cut in what the search tier
    * holds hot. Codebook here is sampled (the 16 md5-ranked donor
    * vectors' own subvectors — deterministic, engine-portable; a
    * trained variant would swap in embed_kmeans_report's Lloyd's
    * machinery). Every piece keeps the catalog's scale contracts:
    * donors via TakeOrderedAndProject (top-16, no global sort), the
    * 128-row codebook and 640-row query table move by PROVABLY-BOUNDED
    * broadcast, code assignment is a min_by aggregate with map-side
    * combine (never a row_number window over vec_id — the r5 rule),
    * the score agg combines its 8 partials map-side, and the final
    * top-10 is the native bounded TopKPairs aggregate. Exact oracle:
    * dots are bit-identical (sequential fold both engines), the
    * argmin compares those bits with a centroid-id tie-break, and the
    * 8-way sum is order-independent through DECIMAL(38,12).
    */
  def embedPqKnn(s: SparkSession, dir: String): DataFrame = {
    val e = pqEmb(s, dir, fanned = true)
    pqScore(pqSubs(e), pqSampledCodebook(e))
  }

  // `fanned` (r10, measured): embed_pq_knn wins from spreading the
  // single-row-group embeddings scan (1.65 → 1.05 s at sf0.1) but the
  // TRAINED form LOSES (4.38 → 4.99 s — its three Lloyd cut
  // iterations each pay the wider partitioning in partial-agg merges),
  // so each caller picks per measurement.
  private[graft] def pqEmb(s: SparkSession, dir: String, fanned: Boolean = false): DataFrame = {
    val base = Tables.embeddings(s, dir)
    (if (fanned) graft.GraftSession.fan(base, col("vec_id")) else base)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("emb"))
  }

  /** (vec_id, s, v): each vector split into m=8 dim-8 subvectors. */
  private[graft] def pqSubs(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("emb"), explode(sequence(lit(0), lit(7))).as("s"))
      .select(col("vec_id"), col("s"), expr("slice(emb, s*8+1, 8)").as("v"))

  /** The 16 md5-ranked donor vectors' own subvectors as the (s, j, c)
    * codebook — deterministic, engine-portable (the oracle twin's
    * form), and the SEED for the trained variant.
    */
  private[graft] def pqSampledCodebook(e: DataFrame): DataFrame = {
    val donors = e
      .withColumn("h", md5(concat(lit("pq:"), col("vec_id").cast("string"))))
      .orderBy(col("h"), col("vec_id"))
      .limit(16)
    // row_number on the post-limit 16-row frame only: bounded by
    // construction, never a window over the full vector set. The
    // codebook feeds BOTH the encode join and the query table — cut
    // its lineage so the donor top-16 runs once, not once per use
    // (three duplicated scans of the full table otherwise).
    graft.Lineage.cut(donors
      .withColumn("j", row_number().over(Window.orderBy(col("h"), col("vec_id"))))
      .select(col("j"), explode(sequence(lit(0), lit(7))).as("s"), col("emb"))
      .select(col("j"), col("s"), expr("slice(emb, s*8+1, 8)").as("c")))
  }

  private def pqD2: Column =
    Registry.dot(col("v"), col("v")) - lit(2.0) * Registry.dot(col("v"), col("c")) +
      Registry.dot(col("c"), col("c"))

  /** Encode + asymmetric-score + top-10 over any (s, j, c) codebook. */
  private[graft] def pqScore(subs: DataFrame, cent: DataFrame): DataFrame = {
    val codes = subs
      .join(broadcast(cent), Seq("s")) // 8*16 = 128 rows by construction
      .withColumn("d2", pqD2)
      .groupBy(col("vec_id"), col("s"))
      .agg(min_by(col("j"), struct(col("d2"), col("j"))).as("code"))
    val qd = subs
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("s").as("qs"), col("v"))
      .join(broadcast(cent), col("qs") === cent("s"))
      .select(col("query_id"), col("qs"), col("j"), Registry.dot(col("v"), col("c")).as("qdot"))
    codes
      .join(
        broadcast(qd), // 5 queries * 128 = 640 rows by construction
        col("s") === col("qs") && col("code") === col("j") &&
          col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(emit(sum(col("qdot").cast(Dec12)), 6).as("pq_score"))
      .groupBy(col("query_id"))
      .agg(Registry.topK(col("pq_score"), col("vec_id"), 10).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.id").as("vec_id"), col("t.score").as("pq_score"))
      .orderBy(col("query_id"), col("pq_score").desc, col("vec_id"))
  }

  /** #103t embed_pq_knn_trained — embed_pq_knn with the codebook
    * TRAINED: per-subspace Lloyd's iterations (k-means under L2, the
    * codebook objective of Jégou et al. §II — cosine is wrong here
    * because subvectors aren't unit-norm) seeded from the sampled
    * donor codebook, all 8 subspaces training in ONE plan per round
    * keyed by (s, j). Per round: one broadcast-codebook encode with
    * map-side min_by combine (n·m·k → n·m before any exchange), one
    * (s, j, pos) mean agg over DECIMAL(38,18) (order-independent —
    * Lloyd's must not diverge by partitioning), lineage cut like
    * ivfCentroids so rounds don't re-derive. Empty codewords simply
    * drop their rows (standard Lloyd's degeneracy; encode still
    * argmins over the survivors). Rows-only by declared design
    * (iterative training isn't SQL-expressible); the spec pins the
    * guarantee Lloyd's actually makes — mean quantization error
    * strictly below the sampled codebook's — AND trained-recall ≥
    * sampled-recall against the exact float top-10 (measured sweep at
    * sf0.001: MSE 0.0946 → 0.0700 by 3 rounds, recall 15/50 = the
    * sampled tie; recall over 500 vectors is a noisy step function of
    * MSE, so 3 rounds — past the 1-2 round dip, before the 8-round
    * overfit drift — is the pinned operating point).
    */
  def embedPqKnnTrained(s: SparkSession, dir: String): DataFrame = {
    val e = pqEmb(s, dir)
    val subs = pqSubs(e)
    pqScore(subs, pqTrainCodebook(subs, pqSampledCodebook(e), 3))
  }

  private[graft] def pqTrainCodebook(
      subs: DataFrame, seed: DataFrame, iters: Int): DataFrame = {
    var cents = seed
    for (_ <- 1 to iters) {
      val assigned = subs
        .join(broadcast(cents), Seq("s"))
        .withColumn("d2", pqD2)
        .groupBy(col("vec_id"), col("s"))
        .agg(min_by(struct(col("j"), col("v")), struct(col("d2"), col("j"))).as("_b"))
        .select(col("s"), col("_b.j").as("j"), col("_b.v").as("v"))
      cents = TextOps.centroidMeans(assigned, Seq("s", "j"), "v", "x", "c")
    }
    cents
  }

  val embedPqKnnSql: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |  FROM embeddings
      |),
      |donors AS (
      |  SELECT row_number() OVER (
      |    ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR)), vec_id) AS j, emb
      |  FROM e
      |  ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
      |),
      |cent AS (
      |  SELECT j, s, emb[s*8+1 : s*8+8] AS c FROM donors, range(0, 8) t(s)
      |),
      |sub AS (
      |  SELECT vec_id, s, emb[s*8+1 : s*8+8] AS v FROM e, range(0, 8) t(s)
      |),
      |codes AS (
      |  SELECT vec_id, s, j AS code FROM (
      |    SELECT sub.vec_id, sub.s, cent.j,
      |      row_number() OVER (PARTITION BY sub.vec_id, sub.s
      |        ORDER BY list_dot_product(v, v) - 2 * list_dot_product(v, c)
      |                 + list_dot_product(c, c), cent.j) AS rn
      |    FROM sub JOIN cent ON sub.s = cent.s
      |  ) WHERE rn = 1
      |),
      |qd AS (
      |  SELECT q.vec_id AS query_id, cent.s, cent.j,
      |    list_dot_product(q.v, cent.c) AS qdot
      |  FROM sub q JOIN cent ON q.s = cent.s
      |  WHERE q.vec_id < 5
      |),
      |scored AS (
      |  SELECT qd.query_id, codes.vec_id,
      |    (CAST(round(SUM(CAST(qdot AS DECIMAL(38,12))), 6) AS DOUBLE) + 0.0) AS pq_score
      |  FROM codes JOIN qd ON codes.s = qd.s AND codes.code = qd.j
      |  WHERE codes.vec_id <> qd.query_id
      |  GROUP BY 1, 2
      |)
      |SELECT query_id, vec_id, pq_score FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY query_id ORDER BY pq_score DESC, vec_id) AS rn
      |  FROM scored
      |) WHERE rn <= 10
      |ORDER BY query_id, pq_score DESC, vec_id""".stripMargin

  /** #104 event_paths — behavioral path mining: the top-20 most common
    * 3-step event-type sequences across all users (the "what do people
    * actually do" view behind funnel design — funnel_stages (#24b)
    * checks ONE hypothesized order; this discovers the orders worth
    * hypothesizing). Consecutive-event trigrams via two lags per user
    * (fine partition keys, skew-safe — the same window family as
    * inter_event_gaps), then a count agg with map-side combine over a
    * bounded key space (|types|³ ≤ 125 here) and top-20 as
    * TakeOrderedAndProject.
    */
  def eventPaths(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("t1", lag(col("event_type"), 2).over(w))
      .withColumn("t2", lag(col("event_type"), 1).over(w))
      .filter(col("t1").isNotNull)
      .select(concat_ws(">", col("t1"), col("t2"), col("event_type")).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(20)
  }

  val eventPathsSql: String =
    """WITH laggy AS (
      |  SELECT
      |    lag(event_type, 2) OVER w AS t1,
      |    lag(event_type, 1) OVER w AS t2,
      |    event_type AS t3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |)
      |SELECT t1 || '>' || t2 || '>' || t3 AS path, count(*) AS n
      |FROM laggy WHERE t1 IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin

  /** #105 rolling_window_range — the TIME-RANGE sliding window frame
    * (#24 window_running covers cumulative and row-count frames; this
    * is the third frame kind, RANGE over event time): for each
    * purchase, the user's trailing-7-day purchase value and count.
    * RANGE frames are tie-exact — all rows sharing a timestamp join
    * the frame together, so the result is deterministic without a
    * tie-break column, unlike ROWS frames. Scale shape: one window per
    * user_id (fine keys), the event-type filter is pushed to the scan,
    * and the frame is evaluated by a sliding aggregate over the
    * in-partition sort — no self-join materialization of the 7-day
    * neighborhood (the range_join form (#30) would build n×window
    * rows; the frame holds O(window) running state instead).
    */
  def rollingWindowRange(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"))
      .rangeBetween(-7L * 86400 + 1, Window.currentRow)
    Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"), col("event_id"),
        expr("unix_millis(ts) div 1000").as("ts_s"), col("value"))
      .select(
        col("user_id"), col("event_id"), col("ts_s"),
        emit(sum(col("value").cast(Dec)).over(w)).as("w7_value"),
        count(lit(1)).over(w).as("w7_n"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val rollingWindowRangeSql: String =
    """SELECT user_id, event_id, epoch_ms(ts) // 1000 AS ts_s,
      |  (CAST(round(SUM(CAST(value AS DECIMAL(38,6))) OVER w7, 4) AS DOUBLE) + 0.0) AS w7_value,
      |  COUNT(*) OVER w7 AS w7_n
      |FROM events WHERE event_type = 'purchase'
      |WINDOW w7 AS (PARTITION BY user_id ORDER BY epoch_ms(ts) // 1000
      |              RANGE BETWEEN 604799 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  /** #106 orders_rfm — RFM customer segmentation (the classic
    * warehouse marketing cut): per customer recency (days since last
    * order at the dataset horizon), frequency (order count), monetary
    * (total spend), each split at its GLOBAL median into 8 segments
    * (R/r × F/f × M/m). The medians are a single-row broadcast — the
    * score_normalize pattern — so segmentation is a per-row map, never
    * an ntile/percent_rank window over the full customer set (a global
    * sort that breaks at 100 TB). Median parity via the proven
    * percentile/quantile_cont device on exact-decimal-derived doubles.
    */
  def ordersRfm(s: SparkSession, dir: String): DataFrame = {
    val horizon = to_timestamp(lit("1998-01-01 00:00:00"))
    val perCust = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(
        datediff(horizon, max(col("o_orderdate"))).as("recency_d"),
        count(lit(1)).as("frequency"),
        emit(dsum(col("o_totalprice"))).as("monetary"))
    val meds = perCust.agg(
      expr("percentile(recency_d, 0.5)").as("med_r"),
      expr("percentile(frequency, 0.5)").as("med_f"),
      expr("percentile(monetary, 0.5)").as("med_m"))
    perCust
      .crossJoin(broadcast(meds)) // single row by construction
      .select(
        col("o_custkey"), col("recency_d"), col("frequency"), col("monetary"),
        concat(
          // LOW recency (recent buyers) is the good half: R
          when(col("recency_d") <= col("med_r"), lit("R")).otherwise(lit("r")),
          when(col("frequency") >= col("med_f"), lit("F")).otherwise(lit("f")),
          when(col("monetary") >= col("med_m"), lit("M")).otherwise(lit("m"))).as("segment"))
      .orderBy(col("o_custkey"))
  }

  val ordersRfmSql: String =
    """WITH per_cust AS (
      |  SELECT o_custkey,
      |    datediff('day', max(o_orderdate), TIMESTAMP '1998-01-01 00:00:00') AS recency_d,
      |    count(*) AS frequency,
      |    (CAST(round(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 4) AS DOUBLE) + 0.0) AS monetary
      |  FROM orders GROUP BY o_custkey
      |),
      |meds AS (
      |  SELECT quantile_cont(recency_d, 0.5) AS med_r,
      |    quantile_cont(frequency, 0.5) AS med_f,
      |    quantile_cont(monetary, 0.5) AS med_m
      |  FROM per_cust
      |)
      |SELECT o_custkey, recency_d, frequency, monetary,
      |  (CASE WHEN recency_d <= med_r THEN 'R' ELSE 'r' END) ||
      |  (CASE WHEN frequency >= med_f THEN 'F' ELSE 'f' END) ||
      |  (CASE WHEN monetary >= med_m THEN 'M' ELSE 'm' END) AS segment
      |FROM per_cust CROSS JOIN meds
      |ORDER BY o_custkey""".stripMargin

  /** #107 q22_missed_opportunity — the TPC-H Q22 shape: well-funded
    * customers (balance above the positive-balance average of their
    * market slice) with no RECENT order (none since 2001 — the
    * synthetic generator gives every customer SOME order, so the
    * "never ordered" original would be empty; lapsed-buyer is the
    * same plan with a pushed date filter), counted per nation. The
    * scalar-subquery + ANTI-join pair in one plan: the average is a
    * single-row broadcast (the engine's scalar-subquery idiom), the
    * lapse test is a LEFT ANTI join against the distinct recent-buyer
    * set (date filter pushed to the orders scan, aggregated to one
    * row per custkey BEFORE the join), and the final agg is bounded
    * by |nations|. Cross-engine cutoff: the decimal sum is cast to
    * double BEFORE the division so both engines round the identical
    * IEEE quotient.
    */
  def q22MissedOpportunity(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .filter(col("c_nationkey") < 10)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    val cutoff = cust
      .filter(col("c_acctbal") > 0.0)
      .agg(round(dsum(col("c_acctbal")).cast("double") / count(lit(1)), 6).as("avg_bal"))
    val recentBuyers = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
      .select(col("o_custkey"))
      .distinct()
    cust
      .crossJoin(broadcast(cutoff)) // single row by construction
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recentBuyers, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"), emit(dsum(col("c_acctbal"))).as("total_bal"))
      .orderBy(col("c_nationkey"))
  }

  val q22MissedOpportunitySql: String =
    """WITH cust AS (
      |  SELECT c_custkey, c_nationkey, c_acctbal FROM customer WHERE c_nationkey < 10
      |),
      |cutoff AS (
      |  SELECT round(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS avg_bal
      |  FROM cust WHERE c_acctbal > 0.0
      |)
      |SELECT c_nationkey, count(*) AS n_cust,
      |  (CAST(round(SUM(CAST(c_acctbal AS DECIMAL(38,6))), 4) AS DOUBLE) + 0.0) AS total_bal
      |FROM cust CROSS JOIN cutoff
      |WHERE c_acctbal > avg_bal
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  /** #108 vocab_zipf_slope — does the corpus vocabulary follow Zipf's
    * law? Log-log regression of frequency on rank over the top-1000
    * words: slope ≈ −1 is natural text, a flat slope says
    * template/boilerplate, a cliff says synthetic — the one-number
    * corpus-health check next to corpus_vocab's raw counts. The
    * regression is computed from MOMENTS (n, Σx, Σy, Σxy, Σx²)
    * accumulated through DECIMAL(38,12), not regr_slope: Spark's
    * built-in regression aggregates sum doubles in partition order,
    * so their low bits are not run-deterministic — the moment form is
    * order-independent, engine-exact, and the closed form
    * slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) costs one bounded pass.
    * Scale shape: word counts agg map-side, top-1000 is
    * TakeOrderedAndProject, the rank window runs on the post-limit
    * 1000-row frame only, moments reduce to a single row.
    */
  def vocabZipfSlope(s: SparkSession, dir: String): DataFrame = {
    val top = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w"))
      .limit(1000)
    val xy = top
      .withColumn("rank", row_number().over(Window.orderBy(col("freq").desc, col("w"))))
      .select(
        round(log(col("rank").cast("double")), 6).as("x"),
        round(log(col("freq").cast("double")), 6).as("y"))
      .withColumn("xy", round(col("x") * col("y"), 6))
      .withColumn("xx", round(col("x") * col("x"), 6))
    // moments are EXACT through decimal; the closed form then runs in
    // double (identical IEEE ops both engines — decimal×decimal would
    // overflow 38 digits)
    xy.agg(
      count(lit(1)).as("n_words"),
      sum(col("x").cast(Dec12)).cast("double").as("sx"),
      sum(col("y").cast(Dec12)).cast("double").as("sy"),
      sum(col("xy").cast(Dec12)).cast("double").as("sxy"),
      sum(col("xx").cast(Dec12)).cast("double").as("sxx"))
      .select(
        col("n_words"),
        emit(
          (col("n_words") * col("sxy") - col("sx") * col("sy")) /
            (col("n_words") * col("sxx") - col("sx") * col("sx")), 4).as("zipf_slope"),
        emit((col("sy") - ((col("n_words") * col("sxy") - col("sx") * col("sy")) /
          (col("n_words") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
          col("n_words"), 4).as("zipf_intercept"))
  }

  val vocabZipfSlopeSql: String =
    """WITH w AS (
      |  SELECT token AS w, count(*) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS token FROM documents
      |  ) WHERE token <> '' GROUP BY 1
      |  ORDER BY freq DESC, w LIMIT 1000
      |),
      |ranked AS (
      |  SELECT row_number() OVER (ORDER BY freq DESC, w) AS rank, freq FROM w
      |),
      |pts AS (
      |  SELECT round(ln(CAST(rank AS DOUBLE)), 6) AS x,
      |         round(ln(CAST(freq AS DOUBLE)), 6) AS y
      |  FROM ranked
      |),
      |m AS (
      |  SELECT count(*) AS n_words,
      |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(round(x * y, 6) AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(round(x * x, 6) AS DECIMAL(38,12))) AS DOUBLE) AS sxx
      |  FROM pts
      |)
      |SELECT n_words,
      |  (CAST(round((n_words * sxy - sx * sy) / (n_words * sxx - sx * sx), 4) AS DOUBLE) + 0.0) AS zipf_slope,
      |  (CAST(round((sy - ((n_words * sxy - sx * sy) / (n_words * sxx - sx * sx)) * sx) / n_words, 4) AS DOUBLE) + 0.0) AS zipf_intercept
      |FROM m""".stripMargin

  /** #109 q16_parts_suppliers — the TPC-H Q16 shape: how many
    * DISTINCT suppliers can ship each (brand, type, size) part
    * profile, excluding a blacklisted supplier set (the "customer
    * complaints" NOT IN; acctbal < 0 is the synthetic stand-in) —
    * supplier-diversity reporting with an exclusion subquery. Scale
    * shape: the (partkey, suppkey) pair set is DISTINCTED first (the
    * partsupp stand-in — shrinks the fact table to its key
    * cardinality before any join), the blacklist is an anti join
    * against a set that is small by business construction (AQE
    * broadcasts it, hint-free), the part-attribute join keys on
    * partkey, and the count-distinct groups by the bounded
    * (brand, type, size) profile space; top-20 TakeOrderedAndProject.
    */
  def q16PartsSuppliers(s: SparkSession, dir: String): DataFrame = {
    val blacklisted = Tables.supplier(s, dir)
      .filter(col("s_acctbal") < 0.0)
      .select(col("s_suppkey"))
    val ps = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .distinct()
      .join(blacklisted, col("l_suppkey") === col("s_suppkey"), "left_anti")
    ps
      .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(
        col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
      .limit(20)
  }

  val q16PartsSuppliersSql: String =
    """WITH ps AS (
      |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
      |  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
      |)
      |SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM ps JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 20""".stripMargin

  /** #110 event_mix_drift — day-over-day distribution drift (the
    * data-drift monitor a training pipeline runs on its intake: a mix
    * shift upstream silently changes what a model learns long before
    * row counts move). Per day, the event-type distribution with
    * add-one smoothing (keeps KL finite when a type is absent), then
    * KL(today ‖ yesterday) = Σ p·ln(p/q) over the FIXED five-type
    * vocabulary — the five terms sit in one row as pivot columns, so
    * the sum has a fixed expression order (engine-deterministic, no
    * float aggregation) and ln is the proven-portable transcendental.
    * Scale shape: one (day, type) count agg with map-side combine;
    * the lag window runs over the per-day matrix — one row per
    * calendar day, bounded by the horizon, NOT the event stream (the
    * concurrency_peak rule: never window a bare coarse grain over raw
    * events).
    */
  def eventMixDrift(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val daily = Tables.events(s, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .groupBy(col("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
    val total = types.map(t => col(s"`$t`")).reduce(_ + _)
    val withP = daily.select(
      col("day") +: types.map(t =>
        ((col(s"`$t`") + lit(1)).cast("double") / (total + lit(types.size)).cast("double"))
          .as(s"p_$t")): _*)
    val w = Window.orderBy(col("day")) // one row per day: horizon-bounded
    val lagged = withP.select(
      col("day") +: types.flatMap(t => Seq(
        col(s"p_$t"), lag(col(s"p_$t"), 1).over(w).as(s"q_$t"))): _*)
    val kl = types
      .map(t => col(s"p_$t") * log(col(s"p_$t") / col(s"q_$t")))
      .reduce(_ + _)
    lagged
      .filter(col(s"q_${types.head}").isNotNull)
      .select(col("day"), emit(kl, 6).as("kl_prev"))
      .orderBy(col("day"))
  }

  val eventMixDriftSql: String = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val cnts = types.map(t =>
      s"SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS c_$t").mkString(",\n      |    ")
    val tot = types.map(t => s"c_$t").mkString(" + ")
    val ps = types.map(t =>
      s"(c_$t + 1.0) / ($tot + ${types.size}) AS p_$t").mkString(",\n      |    ")
    val qs = types.map(t => s"lag(p_$t) OVER (ORDER BY day) AS q_$t").mkString(",\n      |    ")
    val kl = types.map(t => s"p_$t * ln(p_$t / q_$t)").mkString(" + ")
    s"""WITH daily AS (
       |  SELECT strftime(ts, '%Y-%m-%d') AS day,
       |    $cnts
       |  FROM events GROUP BY day
       |),
       |probs AS (
       |  SELECT day,
       |    $ps
       |  FROM daily
       |),
       |lagged AS (
       |  SELECT day, ${types.map(t => s"p_$t").mkString(", ")},
       |    $qs
       |  FROM probs
       |)
       |SELECT day, (CAST(round($kl, 6) AS DOUBLE) + 0.0) AS kl_prev
       |FROM lagged WHERE q_${types.head} IS NOT NULL
       |ORDER BY day""".stripMargin
  }

  /** #127 label_centroid_sim — embedding-space health per label: how
    * far each label's centroid sits from the global centroid (cosine).
    * Labels whose centroid hugs the global mean carry little signal
    * (or the embedder collapsed); an outlier label is a candidate
    * mis-embedding batch — the per-slice check an embedding intake
    * runs next to kmeans. All arithmetic is order-independent:
    * per-position means via posexplode + DECIMAL sums (n×64 rows,
    * one fine-keyed shuffle), the cosine's three inner products as
    * 12-dp DECIMAL sums over the 64-row joined frame (the
    * likes-weighted device) — never a float fold in partition order.
    * The 64-row global-centroid relation broadcasts; output is
    * bounded at |labels|.
    */
  /** Exact 6-dp mean of a DECIMAL(38,6) sum: scale the sum to an exact
    * integer, divide half-away-from-zero in INTEGER arithmetic, and
    * come back to double. The naive emit(sum/count, 6) hides an
    * engine-divergence trap: when count is a power of ten (the global
    * embedding mean divides by exactly N=1000 at sf0.001), the true
    * quotient has 9 decimal digits and its 6-dp rounding hits EXACT
    * half cases, where Spark's decimal HALF_UP and DuckDB's
    * binary-double rounding disagree (caught by the sf0.001 oracle
    * run; sf0.01 happened not to trip it). Integer (2|t|+n)/(2n) is
    * exact in both engines: the scaled sum ≤ ~4e10 fits a long, the
    * double division of exact ints is correctly rounded, and true
    * quotients are ≥ 1/(2n) away from integers except at exact halves,
    * where they are exactly representable — so floor never flips.
    */
  private[graft] def mean6(sumDec: Column, n: Column): Column = {
    // Exactness precondition, ENFORCED: the integer-division argument
    // needs 2·|scaled| + n ≤ 2^53 (double-exact) and |scaled| within
    // long range. Nothing upstream guarantees it at arbitrary SFs, and
    // in non-ANSI mode an out-of-range decimal→long cast yields
    // null/wrapped values SILENTLY — so out-of-range fails loudly via
    // raise_error instead of corrupting means (ADVICE r6).
    val scaled = sumDec * lit(1000000L)
    val t = when(
      abs(scaled) > lit(2.0e15),
      raise_error(concat(
        lit("graft.mean6: scaled sum exceeds exact-integer range: "),
        scaled.cast("string"))))
      .otherwise(scaled)
      .cast("long")
    val q = floor((abs(t) * 2 + n).cast("double") / (n * 2).cast("double"))
    signum(t.cast("double")) * q / lit(1e6)
  }

  private[queries] def mean6Sql(sumExpr: String, nExpr: String): String =
    s"CASE WHEN CAST(($sumExpr) * 1000000 AS BIGINT) = 0 THEN 0.0 ELSE " +
      s"sign(CAST(($sumExpr) * 1000000 AS BIGINT)) * " +
      s"floor((abs(CAST(($sumExpr) * 1000000 AS BIGINT)) * 2 + ($nExpr)) / (($nExpr) * 2)) " +
      s"/ 1000000.0 END"

  def labelCentroidSim(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos"), col("col").cast("double").as("v"))
    val lm = e.groupBy(col("label"), col("pos"))
      .agg(mean6(dsum(col("v")), count(lit(1))).as("m"))
    val gm = e.groupBy(col("pos"))
      .agg(mean6(dsum(col("v")), count(lit(1))).as("g"))
    val n = Tables.embeddings(s, dir)
      .groupBy(col("label").as("n_label")).agg(count(lit(1)).as("n_vecs"))
    lm.join(broadcast(gm), Seq("pos")) // 64 rows by construction
      .groupBy(col("label"))
      .agg(
        sum(round(col("m") * col("g"), 12).cast(Dec12)).as("dot"),
        sum(round(col("m") * col("m"), 12).cast(Dec12)).as("nl"),
        sum(round(col("g") * col("g"), 12).cast(Dec12)).as("ng"))
      .join(n, col("label") === col("n_label"))
      .select(
        col("label"), col("n_vecs"),
        emit(
          col("dot").cast("double") /
            (sqrt(col("nl").cast("double")) * sqrt(col("ng").cast("double"))), 6)
          .as("cos_global"))
      .orderBy(col("label"))
  }

  val labelCentroidSimSql: String =
    s"""WITH e AS (
      |  SELECT label, pos, CAST(embedding[pos + 1] AS DOUBLE) AS v
      |  FROM embeddings, range(0, 64) t(pos)
      |),
      |lm AS (
      |  SELECT label, pos,
      |    ${mean6Sql("SUM(CAST(v AS DECIMAL(38,6)))", "count(*)")} AS m
      |  FROM e GROUP BY 1, 2
      |),
      |gm AS (
      |  SELECT pos,
      |    ${mean6Sql("SUM(CAST(v AS DECIMAL(38,6)))", "count(*)")} AS g
      |  FROM e GROUP BY 1
      |),
      |n AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY 1),
      |sums AS (
      |  SELECT label,
      |    SUM(CAST(round(m * g, 12) AS DECIMAL(38,12))) AS dot,
      |    SUM(CAST(round(m * m, 12) AS DECIMAL(38,12))) AS nl,
      |    SUM(CAST(round(g * g, 12) AS DECIMAL(38,12))) AS ng
      |  FROM lm JOIN gm USING (pos) GROUP BY 1
      |)
      |SELECT sums.label, n_vecs,
      |  (CAST(round(CAST(dot AS DOUBLE) /
      |    (sqrt(CAST(nl AS DOUBLE)) * sqrt(CAST(ng AS DOUBLE))), 6) AS DOUBLE) + 0.0) AS cos_global
      |FROM sums JOIN n ON sums.label = n.label
      |ORDER BY sums.label""".stripMargin

  /** #129 boilerplate_ngrams — the corpus-common 5-gram table: which
    * exact phrases appear in ≥3 distinct documents, ranked by document
    * frequency. This is the gram-level TRANSPOSE of doc_novelty's
    * per-doc uniqueness share, and the report face of the hot-bucket
    * guard: the grams listed here are precisely the over-common
    * content that winnowing/MOSS drops from fingerprint indexes and
    * that floods MinHash band buckets (headers, licenses, navigation
    * chrome in a crawl). Pipeline operators consume it as a strip
    * list; operators consume the doc-share column as the "is this
    * template text" prior. Shape at 100 TB: the shared gram pass, one
    * gram-key aggregate (map-side combined — a doc contributes each
    * gram once), the df≥3 cut BEFORE the single-row total broadcasts
    * in, and a top-50 TakeOrderedAndProject under a total (df desc, g)
    * order. Never all-pairs, never a global window.
    */
  def boilerplateNgrams(s: SparkSession, dir: String): DataFrame =
    boilerplateNgramsOver(Tables.documents(s, dir), minDf = 3, topK = 50)

  /** The report over any (doc_id, text) frame — test entry. */
  private[graft] def boilerplateNgramsOver(d: DataFrame, minDf: Int, topK: Int): DataFrame = {
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    TextOps.gramRows(d, 5)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(nDocs))
      .select(
        col("g"), col("df"),
        emit(col("df").cast("double") / col("n_docs"), 6).as("doc_share"))
      .orderBy(col("df").desc, col("g"))
      .limit(topK)
  }

  val boilerplateNgramsSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id,
      |    unnest([ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]
      |            for i in range(1, greatest(len(ws) - 3, 1))]) AS g
      |  FROM w
      |),
      |nd AS (SELECT count(*) AS n_docs FROM documents),
      |dfr AS (SELECT g, count(*) AS df FROM g GROUP BY 1 HAVING count(*) >= 3)
      |SELECT g, df, (CAST(round(CAST(df AS DOUBLE) / n_docs, 6) AS DOUBLE) + 0.0) AS doc_share
      |FROM dfr CROSS JOIN nd
      |ORDER BY df DESC, g LIMIT 50""".stripMargin

  /** #132 dedup_incremental — exact dedup as an INCREMENTAL intake
    * step: "yesterday's corpus" (doc_id < 100) lives only as a
    * persisted normalized-hash index
    * ([[graft.sources.Sources.buildHashIndex]]); "today's crawl"
    * (doc_id ≥ 100) dedups itself (min-doc_id survivor per hash) and
    * anti-joins that index — history is never re-read. This is how the
    * dedup family actually runs day over day at 100 TB: the full-corpus
    * re-dedup (dedup_exact_docs / dedup_normalized) is the bootstrap,
    * this is the steady state. The index lives in a
    * content-fingerprinted cache dir (Sources.cachedIndexDir — a
    * regenerated or foreign dataset resolves to a different path, and
    * the post-build marker guards torn writes; ADVICE r6);
    * index-path ≡ direct-anti-join equivalence plus
    * planted cross-batch folds and idempotent re-ingest are
    * spec-pinned in SourcesSpec. The oracle states the same contract
    * SQL-wise: survivors = self-deduped new batch minus history
    * hashes. On this corpus all 500 texts are unique, so the verified
    * real-data result is the full pass-through (the planted tests
    * carry the fold behavior) — same situation as dedup_exact_docs.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val indexDir = graft.sources.Sources.cachedIndexDir(dir, "documents", "hash-index-v1")(
      p => graft.sources.Sources.buildHashIndex(d.filter(col("doc_id") < 100), p))
    graft.sources.Sources
      .dedupAgainstIndex(d.filter(col("doc_id") >= 100), graft.sources.Sources.readHashIndex(s, indexDir))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  val dedupIncrementalSql: String = {
    val norm = Round5Ops.NormSqlExpr
    s"""WITH idx AS (SELECT DISTINCT md5($norm) AS h FROM documents WHERE doc_id < 100),
       |new AS (SELECT doc_id, source, md5($norm) AS h FROM documents WHERE doc_id >= 100),
       |keep AS (SELECT h, min(doc_id) AS doc_id FROM new GROUP BY h)
       |SELECT n.doc_id, n.source FROM new n
       |JOIN keep k ON n.h = k.h AND n.doc_id = k.doc_id
       |WHERE n.h NOT IN (SELECT h FROM idx)
       |ORDER BY n.doc_id""".stripMargin
  }

  /** #134 part_affinity — market-basket lift over co-ordered parts
    * (the recommendation/assortment seed every retail stack computes):
    * for part pairs sharing ≥3 orders, lift = P(a,b)/(P(a)·P(b)) =
    * n_ab·N / (n_a·n_b). The pair core is a self-join on l_orderkey —
    * bounded fan-out BY CONSTRUCTION (a basket has ~7 lines, so ≤ ~21
    * pairs per order; no hot-bucket guard needed because the join key
    * is the basket id, not content), then one pair-key aggregate. Part
    * totals join back on fine part keys; N is a single-row broadcast.
    * All counts exact longs; lift divides two exact long PRODUCTS
    * (≤9e8 and ≤3.6e9 — no overflow) in one IEEE division, ranked
    * ROUNDED under a total (lift desc, a, b) order as
    * TakeOrderedAndProject.
    */
  def partAffinity(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val nOrders = li.select(col("ok")).distinct().agg(count(lit(1)).as("n_orders"))
    val partN = li.groupBy(col("pk")).agg(count(lit(1)).as("n_part"))
    val pairs = li.select(col("ok"), col("pk").as("a"))
      .join(li.select(col("ok"), col("pk").as("b")), Seq("ok"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 3)
    pairs
      .join(partN.select(col("pk").as("a"), col("n_part").as("n_a")), Seq("a"))
      .join(partN.select(col("pk").as("b"), col("n_part").as("n_b")), Seq("b"))
      .crossJoin(broadcast(nOrders))
      .select(
        col("a"), col("b"), col("n_ab"),
        emit((col("n_ab") * col("n_orders")).cast("double") / (col("n_a") * col("n_b")), 6)
          .as("lift"),
        emit(col("n_ab") / col("n_orders"), 6).as("support"))
      .orderBy(col("lift").desc, col("a"), col("b"))
      .limit(40)
  }

  val partAffinitySql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |n AS (SELECT count(DISTINCT ok) AS n_orders FROM li),
      |pn AS (SELECT pk, count(*) AS n_part FROM li GROUP BY 1),
      |p AS (
      |  SELECT la.pk AS a, lb.pk AS b, count(*) AS n_ab
      |  FROM li la JOIN li lb ON la.ok = lb.ok AND la.pk < lb.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 3
      |)
      |SELECT a, b, n_ab,
      |  (CAST(round(CAST(n_ab * n_orders AS DOUBLE) / (pa.n_part * pb.n_part), 6) AS DOUBLE) + 0.0) AS lift,
      |  (CAST(round(n_ab / n_orders, 6) AS DOUBLE) + 0.0) AS support
      |FROM p JOIN pn pa ON p.a = pa.pk JOIN pn pb ON p.b = pb.pk CROSS JOIN n
      |ORDER BY lift DESC, a, b LIMIT 40""".stripMargin

  /** #135 lang_confusion — the audit face of #39 lang_id: the labeled ×
    * predicted confusion matrix with per-label rates (which languages
    * the n-gram heuristic mistakes for which — the number you check
    * before trusting a language gate at intake). One bounded matrix
    * agg over the shared bestLang scan; per-label totals join back
    * hint-free (|langs| rows); rate = true division of exact longs.
    */
  def langConfusion(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.documents(s, dir)
      .select(col("lang").as("labeled"), TextOps.bestLang.getField("lang").as("predicted"))
    val counts = p.groupBy(col("labeled"), col("predicted")).agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("labeled").as("t_lab")).agg(sum(col("n")).as("total"))
    counts
      .join(totals, col("labeled") === col("t_lab"))
      .select(
        col("labeled"), col("predicted"), col("n"),
        emit(col("n") / col("total"), 6).as("rate"),
        (col("labeled") === col("predicted")).cast("int").as("correct"))
      .orderBy(col("labeled"), col("predicted"))
  }

  val langConfusionSql: String =
    s"""WITH pr AS (
       |  SELECT lang AS labeled, ${TextOps.bestLangSql} AS best FROM documents
       |),
       |c AS (
       |  SELECT labeled, best.lang AS predicted, count(*) AS n FROM pr GROUP BY 1, 2
       |),
       |t AS (SELECT labeled, sum(n) AS total FROM c GROUP BY 1)
       |SELECT c.labeled, predicted, n,
       |  (CAST(round(n / total, 6) AS DOUBLE) + 0.0) AS rate,
       |  CAST(c.labeled = predicted AS INT) AS correct
       |FROM c JOIN t ON c.labeled = t.labeled
       |ORDER BY c.labeled, predicted""".stripMargin

  /** #136 corpus_length_report — the data-card length histogram:
    * per (source, log2-size bucket) doc counts with min/max chars and
    * the share of the source (the graph_degree_distribution bucket
    * device on n_chars). One bounded matrix agg + a |sources|-row
    * totals join — the report that catches truncated mirrors and
    * boilerplate floods before they skew a mixture.
    */
  def corpusLengthReport(s: SparkSession, dir: String): DataFrame = {
    val b = Tables.documents(s, dir)
      .groupBy(col("source"), length(bin(col("n_chars"))).as("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
    val totals = b.groupBy(col("source").as("t_src")).agg(sum(col("n_docs")).as("total"))
    b.join(totals, col("source") === col("t_src"))
      .select(
        col("source"), col("bucket"), col("n_docs"), col("min_chars"), col("max_chars"),
        emit(col("n_docs") / col("total"), 6).as("share"))
      .orderBy(col("source"), col("bucket"))
  }

  val corpusLengthReportSql: String =
    """WITH b AS (
      |  SELECT source, CAST(length(bin(n_chars)) AS INT) AS bucket, count(*) AS n_docs,
      |    min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |  FROM documents GROUP BY 1, 2
      |),
      |t AS (SELECT source, sum(n_docs) AS total FROM b GROUP BY 1)
      |SELECT b.source, bucket, n_docs, min_chars, max_chars,
      |  (CAST(round(n_docs / total, 6) AS DOUBLE) + 0.0) AS share
      |FROM b JOIN t ON b.source = t.source
      |ORDER BY b.source, bucket""".stripMargin

  /** #137 corpus_recipe_incremental — the STEADY-STATE intake recipe:
    * #88 corpus_recipe is the bootstrap (whole corpus, self-dedup),
    * #92 the near-dup variant; this is what actually runs every day —
    * gate today's batch, dedup it against ALL history via the
    * persisted hash index (#132's machinery — history is never
    * re-read), then the shared tail (decontaminate vs the held-out
    * eval docs → deterministic split → data card) over the survivors.
    * The three recipe entries differ in EXACTLY the dedup stage
    * (shared gate/tail code), so a recipe ablation is a one-stage
    * diff. Index build runs over the GATED history (the index always
    * represents what intake would have admitted) into a
    * content-fingerprinted cache dir (Sources.cachedIndexDir).
    * Scale: gate fuses into the scan, one hash-key shuffle for the
    * self-dedup + anti join, tail keeps #88's audited plans.
    */
  def corpusRecipeIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val indexDir = graft.sources.Sources.cachedIndexDir(dir, "documents", "recipe-hidx-v1")(
      p =>
        graft.sources.Sources
          .buildHashIndex(Round5Ops.recipeGate(d.filter(col("doc_id") < 100)), p))
    val deduped = graft.sources.Sources.dedupAgainstIndex(
      Round5Ops.recipeGate(d.filter(col("doc_id") >= 100)),
      graft.sources.Sources.readHashIndex(s, indexDir))
    Round5Ops.recipeTail(d, deduped)
  }

  val corpusRecipeIncrementalSql: String = {
    val norm = Round5Ops.NormSqlExpr
    s"""WITH gate AS (
       |  SELECT doc_id, source, text, len(string_split(text, ' ')) AS n_words
       |  FROM documents
       |  WHERE (${TextOps.bestLangSql}).lang = 'en'
       |    AND len(string_split(text, ' ')) >= 30
       |    AND len(list_distinct(string_split(text, ' '))) * 1.0
       |        / len(string_split(text, ' ')) >= 0.3
       |),
       |hist AS (SELECT DISTINCT md5($norm) AS h FROM gate WHERE doc_id < 100),
       |nw AS (SELECT doc_id, source, text, n_words, md5($norm) AS h FROM gate WHERE doc_id >= 100),
       |sd AS (SELECT h, min(doc_id) AS doc_id FROM nw GROUP BY h),
       |deduped AS (
       |  SELECT n.doc_id, n.source, n.text, n.n_words
       |  FROM nw n JOIN sd ON n.h = sd.h AND n.doc_id = sd.doc_id
       |  WHERE n.h NOT IN (SELECT h FROM hist)
       |),
       |ew AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE doc_id < 5),
       |eg AS (
       |  SELECT DISTINCT unnest([ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]
       |                          for i in range(1, greatest(len(ws)-2, 1))]) AS g
       |  FROM ew
       |),
       |cw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM deduped WHERE doc_id >= 5),
       |cg AS (
       |  SELECT DISTINCT doc_id,
       |    unnest([ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]
       |            for i in range(1, greatest(len(ws)-2, 1))]) AS g
       |  FROM cw
       |),
       |contaminated AS (SELECT DISTINCT cg.doc_id FROM cg JOIN eg USING (g)),
       |clean AS (
       |  SELECT doc_id, source, n_words FROM deduped
       |  WHERE doc_id >= 5 AND doc_id NOT IN (SELECT doc_id FROM contaminated)
       |)
       |SELECT
       |  CASE WHEN md5('split1:' || CAST(doc_id AS VARCHAR)) < 'e' THEN 'train'
       |       WHEN md5('split1:' || CAST(doc_id AS VARCHAR)) < 'f' THEN 'val'
       |       ELSE 'test' END AS split,
       |  source, count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS n_tokens
       |FROM clean GROUP BY 1, 2 ORDER BY split, source""".stripMargin
  }

  /** #143 table_profile — the data-quality profiling pass (the Deequ /
    * data-card column report): per events column, null rate, distinct
    * count (exact where bounded, HLL where not — the documented
    * column-cardinality split), and min/max in ONE aggregate pass over
    * one scan. This is the report a pipeline runs on every new drop
    * BEFORE trusting any downstream stat: a column whose null-rate or
    * cardinality jumps is a broken upstream join or a schema drift.
    * One scan, one single-row agg (all measures partial-aggregate
    * map-side), unpivoted driver-side-free via a stack expression into
    * the tidy (column, metric) form.
    */
  def tableProfile(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val n = count(lit(1))
    val one = e.agg(
      n.as("n_rows"),
      // per column: nulls, exact distinct, min/max as comparable strings
      sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("et_nulls"),
      count_distinct(col("event_type")).as("et_distinct"),
      min(col("event_type")).as("et_min"),
      max(col("event_type")).as("et_max"),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("uid_nulls"),
      count_distinct(col("user_id")).as("uid_distinct"),
      min(col("user_id")).cast("string").as("uid_min"),
      max(col("user_id")).cast("string").as("uid_max"),
      sum(when(col("value").isNull, 1L).otherwise(0L)).as("v_nulls"),
      count_distinct(col("value")).as("v_distinct"),
      // double→string rendering differs across engines; a fixed-scale
      // decimal prints canonically in both
      min(col("value")).cast("decimal(18,6)").cast("string").as("v_min"),
      max(col("value")).cast("decimal(18,6)").cast("string").as("v_max"),
      sum(when(col("props").isNull, 1L).otherwise(0L)).as("p_nulls"),
      count_distinct(col("props")).as("p_distinct"),
      min(col("props")).as("p_min"),
      max(col("props")).as("p_max"))
    one.select(
        col("n_rows"),
        expr("""stack(4,
          'event_type', et_nulls, et_distinct, et_min, et_max,
          'user_id',    uid_nulls, uid_distinct, uid_min, uid_max,
          'value',      v_nulls, v_distinct, v_min, v_max,
          'props',      p_nulls, p_distinct, p_min, p_max
        ) AS (column_name, n_nulls, n_distinct, min_val, max_val)"""))
      .select(
        col("column_name"), col("n_rows"), col("n_nulls"),
        emit(col("n_nulls") / col("n_rows"), 6).as("null_rate"),
        col("n_distinct"), col("min_val"), col("max_val"))
      .orderBy(col("column_name"))
  }

  val tableProfileSql: String =
    """WITH one AS (
      |  SELECT count(*) AS n_rows,
      |    CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS et_nulls,
      |    count(DISTINCT event_type) AS et_distinct,
      |    min(event_type) AS et_min, max(event_type) AS et_max,
      |    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS uid_nulls,
      |    count(DISTINCT user_id) AS uid_distinct,
      |    CAST(min(user_id) AS VARCHAR) AS uid_min, CAST(max(user_id) AS VARCHAR) AS uid_max,
      |    CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nulls,
      |    count(DISTINCT value) AS v_distinct,
      |    CAST(CAST(min(value) AS DECIMAL(18,6)) AS VARCHAR) AS v_min,
      |    CAST(CAST(max(value) AS DECIMAL(18,6)) AS VARCHAR) AS v_max,
      |    CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS p_nulls,
      |    count(DISTINCT props) AS p_distinct,
      |    min(props) AS p_min, max(props) AS p_max
      |  FROM events
      |)
      |SELECT column_name, n_rows, n_nulls,
      |  (CAST(round(n_nulls / n_rows, 6) AS DOUBLE) + 0.0) AS null_rate,
      |  n_distinct, min_val, max_val
      |FROM (
      |  SELECT n_rows, 'event_type' AS column_name, et_nulls AS n_nulls,
      |    et_distinct AS n_distinct, et_min AS min_val, et_max AS max_val FROM one
      |  UNION ALL
      |  SELECT n_rows, 'user_id', uid_nulls, uid_distinct, uid_min, uid_max FROM one
      |  UNION ALL
      |  SELECT n_rows, 'value', v_nulls, v_distinct, v_min, v_max FROM one
      |  UNION ALL
      |  SELECT n_rows, 'props', p_nulls, p_distinct, p_min, p_max FROM one
      |)
      |ORDER BY column_name""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("table_profile", tableProfile, tableProfileSql),
    exact("corpus_recipe_incremental", corpusRecipeIncremental, corpusRecipeIncrementalSql),
    exact("part_affinity", partAffinity, partAffinitySql),
    exact("lang_confusion", langConfusion, langConfusionSql),
    exact("corpus_length_report", corpusLengthReport, corpusLengthReportSql),
    exact("dedup_incremental", dedupIncremental, dedupIncrementalSql),
    exact("boilerplate_ngrams", boilerplateNgrams, boilerplateNgramsSql),
    exact("label_centroid_sim", labelCentroidSim, labelCentroidSimSql),
    rowsOnly("corpus_recipe_neardup", corpusRecipeNeardup),
    exact("q13_custdist", q13Custdist, q13CustdistSql),
    exact("q4_order_priority", q4OrderPriority, q4OrderPrioritySql),
    exact("bpe_merge_step", bpeMergeStep, bpeMergeStepSql),
    exact("inter_event_gaps", interEventGaps, interEventGapsSql),
    exact("corpus_apply_mix", corpusApplyMix, corpusApplyMixSql),
    exact("limit_per_user_agg", limitPerUserAgg, limitPerUserAggSql),
    exact("sessionize_native", sessionizeNative, sessionizeNativeSql),
    exact("runtime_filtered_join", runtimeFilteredJoin, runtimeFilteredJoinSql),
    exact("q21_waiting_suppliers", q21WaitingSuppliers, q21WaitingSuppliersSql),
    exact("scd2_history", scd2History, scd2HistorySql),
    exact("corpus_weighted_sample", corpusWeightedSample, corpusWeightedSampleSql),
    exact("embed_pq_knn", embedPqKnn, embedPqKnnSql),
    rowsOnly("embed_pq_knn_trained", embedPqKnnTrained),
    exact("event_paths", eventPaths, eventPathsSql),
    exact("rolling_window_range", rollingWindowRange, rollingWindowRangeSql),
    exact("orders_rfm", ordersRfm, ordersRfmSql),
    exact("q22_missed_opportunity", q22MissedOpportunity, q22MissedOpportunitySql),
    exact("vocab_zipf_slope", vocabZipfSlope, vocabZipfSlopeSql),
    exact("q16_parts_suppliers", q16PartsSuppliers, q16PartsSuppliersSql),
    exact("event_mix_drift", eventMixDrift, eventMixDriftSql))
}
