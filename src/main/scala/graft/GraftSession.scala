package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Session factory with the engine's standard configuration.
  *
  * Tuned for correctness parity with the DuckDB oracle (UTC, ANSI-ish
  * determinism) and for scale (AQE, partition-count discipline). On a
  * real cluster the same settings apply; only master/memory change.
  */
object GraftSession {

  /** Apply engine settings to an externally created session (the driver
    * owns the builder in Verify/Bench). Idempotent.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // NOTE (r10, measured): lowering
    // spark.sql.adaptive.coalescePartitions.minPartitionSize (1 MB
    // default) to 64 KB looked like the fix for AQE collapsing
    // small-but-CPU-dense shuffles onto 2-3 cores, but a 6-query A/B
    // read 23.6 s (default) vs 32.9 s (64k): at these stage sizes the
    // per-task fixed costs dwarf the parallelism gained, exactly the
    // guide §1.2 warning that config is the LAST lever. Core
    // starvation on genuinely expensive narrow stages is fixed
    // per-operator with GraftSession.fan instead, so minPartitionSize
    // stays at Spark's default.
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // dims (region/nation/customer/part/supplier at test SF) broadcast freely
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    // PIN runtime Bloom-filter pruning on (it is Spark 4's default, but
    // the engine's shuffle joins — replace-store lookups, member semi
    // joins — depend on it at scale, so state the dependency explicitly
    // rather than inherit whatever a deployment's base conf says)
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // the tables' timestamp columns (events.ts, lineitem.l_shipdate,
    // orders.o_orderdate) are tz-naive parquet TIMESTAMP(MICROS)
    // (isAdjustedToUTC=false), and Tables declares them TIMESTAMP. An
    // inferred read must agree: session-local TIMESTAMP, not
    // TIMESTAMP_NTZ. The session is pinned UTC, so wall-clock values
    // are identical, and the whole epoch-math layer
    // (unix_millis/epochMs) stays type-correct — the same instant the
    // DuckDB oracle reads from the same file
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // custom operators (SURVEY §2: native as-of join) — injected through
    // the public experimental-strategies hook so externally created
    // sessions (the driver's Verify/Bench) get them too
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
    if (!spark.experimental.extraOptimizations.contains(graft.plans.PushableTokenPredicate))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.PushableTokenPredicate
    if (!spark.experimental.extraOptimizations.contains(graft.plans.PushdownTimeConversions))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.PushdownTimeConversions
    functions.Registry.registerAll(spark)
    spark
  }

  /** Spread a narrow-but-CPU-heavy frame across the session's cores
    * when its scan cannot (r10, measured): the bench corpora are
    * single-file single-row-group parquet, so a scan is AT MOST ONE
    * TASK per file no matter the split count, and any fused
    * scan→project→join→partial-agg stage runs single-threaded while
    * the other cores idle (StageProfile read parallelism ≈ 1.0× on
    * most of the tail's expensive rows). AQE cannot help — it splits
    * shuffles, not scans. The helper is scale-adaptive, not a local
    * tune: it fires ONLY when the frame's planned partition count
    * cannot occupy `defaultParallelism` (at production scale a fact
    * scan has thousands of splits and this is the identity), and the
    * redistribution it inserts is by definition bounded by the small
    * input that made the condition true. Hash-repartition on the
    * caller's key — deterministic under retry and free of the local
    * sort a round-robin repartition pays (SPARK-23207).
    */
  def fan(df: org.apache.spark.sql.DataFrame, keys: Column*): org.apache.spark.sql.DataFrame = {
    val sc = df.sparkSession.sparkContext
    val target = sc.defaultParallelism
    // PRECONDITION (r10 ADVICE, now enforced): fan() reads the planned
    // partition count through df.rdd, and with AQE enabled that
    // finalizes the physical plan — on an input that already contains
    // an Exchange it would eagerly MATERIALIZE the shuffle stages as a
    // throwaway side job (the RDD lineage is not reused by the
    // repartitioned frame below). Every intended call site passes an
    // exchange-free scan/project frame, where .rdd is pure DAG
    // construction; for anything already carrying an exchange, fan is
    // the identity — post-shuffle parallelism is AQE's job, and the
    // single-row-group scan starvation fan exists for cannot occur
    // behind a shuffle. sparkPlan (pre-AQE) is planning-only, so this
    // guard runs no job either.
    val hasExchange = df.queryExecution.sparkPlan
      .find(_.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]).isDefined
    if (hasExchange) df
    else if (df.rdd.getNumPartitions >= target) df
    else if (keys.isEmpty) df.repartition(target)
    else df.repartition(target, keys: _*)
  }

  def local(cores: Int = 32, shufflePartitions: Int = 32): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // must be set BEFORE the context starts (ContextCleaner reads it
      // once at construction): GC'd reliable checkpoints get deleted
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    tune(s)
  }
}

/** Lineage cut for iterative algorithms (label propagation, k-means):
  * each round references the previous round's frame more than once, so
  * without a cut round r recomputes round r-1 repeatedly (2^rounds
  * blow-up).
  *
  * Default is `localCheckpoint` — blocks pinned to executor storage,
  * fast, but NOT recomputable on executor loss, which is fine on
  * local[n] and fragile on a real cluster. Set
  * `spark.graft.checkpoint.reliable=true` for cluster runs: the cut
  * becomes a fault-tolerant `checkpoint()` into
  * `spark.graft.checkpoint.dir` (default /tmp/graft-checkpoints —
  * point it at durable storage on a cluster). Results are identical
  * either way (test-pinned); only failure semantics differ.
  */
object Lineage {
  def cut(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // SPARK_GRAFT_NO_CUT=1: identity (dev-only, for tools/PlanDump) —
    // a cut frame dumps as an opaque `Scan ExistingRDD`, so plan
    // evidence for anything upstream of a cut needs the uncut logical
    // chain; results are identical either way, only re-derivation cost
    // differs. Bench/Verify never set it.
    if (sys.env.get("SPARK_GRAFT_NO_CUT").contains("1")) return df
    val spark = df.sparkSession
    val reliable = spark.conf.getOption("spark.graft.checkpoint.reliable").contains("true")
    if (reliable) {
      val sc = spark.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(
          spark.conf.getOption("spark.graft.checkpoint.dir").getOrElse("/tmp/graft-checkpoints"))
      // checkpoint-file cleanup is governed by
      // spark.cleaner.referenceTracking.cleanCheckpoints, which the
      // ContextCleaner reads ONCE at context construction — it cannot
      // be flipped here. GraftSession.local sets it on the builder;
      // cluster submissions must pass it in spark-submit conf, or every
      // cut leaves a materialized copy on disk until the dir is purged.
      df.checkpoint(eager = true)
    } else df.localCheckpoint(true)
  }
}

/** The bounded-tail device: once the rest of a query runs over frames
  * whose row count the schema bounds, not the data (a |types|²
  * transition matrix, a d² covariance, one row per community), that
  * tail needs no broadcast stage and no data-sized shuffle:
  *   - [[leaf]] cuts such a frame as a ONE-PARTITION leaf: the plan
  *     references the leaf instead of re-deriving its subtree at each
  *     use, and whatever runs above it reads only the bounded rows;
  *   - a join between bounded frames takes `.hint("merge")`: a
  *     sort-merge join of one-partition inputs is a local sort, where
  *     the planner's pick for a small side (a broadcast) is a whole
  *     extra query stage;
  *   - [[allRows]] attaches a bounded frame's scalar (a total, a norm)
  *     to every row as a window over all rows, instead of a broadcast
  *     cross join.
  * A cut leaf does not tell the planner it is one partition: under AQE
  * it reads as UnknownPartitioning(0), so exchanges are still planned
  * above it, each moving only the bounded rows.
  * The argument holds only as far as the bound does: one partition
  * carries the whole frame, so a caller states at each [[leaf]] why
  * that frame stays small at any data size.
  */
object BoundedTail {
  def leaf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Lineage.cut(df.coalesce(1))

  val allRows: org.apache.spark.sql.expressions.WindowSpec =
    org.apache.spark.sql.expressions.Window.rowsBetween(Long.MinValue, Long.MaxValue)
}

/** Wide-payload attach for the exact similarity joins: a narrow
  * candidate-pair stream (a, b) picks up each endpoint's per-doc array
  * (sorted token list / (token, weight) vector) AFTER the pair dedup,
  * so the wide arrays never ride the candidate shuffle.
  *
  * Two physically different but result-identical forms:
  *  - BROADCAST (default): the per-doc relation is |docs| rows — MBs at
  *    bench SFs — so both attaches are broadcast hash joins and the
  *    candidate stream never shuffles again.
  *  - CO-PARTITIONED (the 100 TB path): beyond broadcast size the doc
  *    relation shuffle-joins on each endpoint key instead. Candidates
  *    repartition on `a`, sort-merge/hash against the docs keyed the
  *    same way, then on `b` — two shuffles of the narrow pair stream,
  *    never a broadcast of the full doc corpus.
  *
  * Form selection is DRIVER-SIDE ONLY — no Spark job at construction
  * (r9 shipped an eager `perDoc.count()` here: an extra job on every
  * execution of the catalog's two heaviest queries, and at 100 TB the
  * decision must come from statistics, not a count). Precedence:
  *   1. `spark.graft.attach.form` = broadcast | shuffle — explicit
  *      override (the cross-form identity spec uses it);
  *   2. optimizer row-count statistics when defined (CBO) vs
  *      [[BroadcastMaxRows]] (1M: at ~30 tokens/doc a row is ~200-500 B
  *      of array payload, so 1M rows is ~200-500 MB — the practical
  *      executor-memory ceiling for a build side);
  *   3. the MATERIALIZED byte size of the Lineage.cut blocks (exact,
  *      from the block manager's storage info — this is why the
  *      precondition below matters) vs [[BroadcastMaxBytes]] (512 MiB
  *      of in-memory block size);
  *   4. the optimizer sizeInBytes ESTIMATE vs the same byte cap —
  *      unknown sizes estimate huge, so an uncut, unstatted relation
  *      conservatively takes the shuffle form (never an OOM'd
  *      broadcast at scale).
  *
  * PRECONDITION (documented, warned, not forced): `perDoc` should
  * arrive `Lineage.cut`. The cut is what makes (3) exact, and — cut
  * or not — each side joins the relation once per endpoint, so an
  * uncut lineage would be DERIVED TWICE inside the query. Attach
  * warns on stderr when no pinned leaf is found rather than cutting
  * implicitly: an eager checkpoint hidden inside what looks like a
  * pure plan constructor surprised callers in r9 (ADVICE), and the
  * warning keeps the constructor pure.
  *
  * Results are spec-pinned identical across forms (the Attach spec
  * runs both and compares hashes).
  */
object Attach {
  val BroadcastMaxRows: Long = 1000000L
  val BroadcastMaxBytes: Long = 512L * 1024 * 1024

  /** Materialized in-memory size of the plan's pinned leaf RDDs, from
    * driver-side storage info only (None when nothing is pinned).
    */
  private def pinnedBytes(df: org.apache.spark.sql.DataFrame): Option[Long] = {
    val leafIds = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    if (leafIds.isEmpty) None
    else {
      val infos = df.sparkSession.sparkContext.getRDDStorageInfo
        .filter(i => leafIds.contains(i.id))
      if (infos.isEmpty) None else Some(infos.map(i => i.memSize + i.diskSize).sum)
    }
  }

  def arrays(cand: org.apache.spark.sql.DataFrame,
      perDoc: org.apache.spark.sql.DataFrame,
      key: String, payload: Seq[String]): org.apache.spark.sql.DataFrame = {
    val small = cand.sparkSession.conf.getOption("spark.graft.attach.form") match {
      case Some("broadcast") => true
      case Some("shuffle")   => false
      case _ =>
        val stats = perDoc.queryExecution.optimizedPlan.stats
        stats.rowCount.map(_ <= BroadcastMaxRows).getOrElse {
          pinnedBytes(perDoc) match {
            case Some(bytes) => bytes <= BroadcastMaxBytes
            case None =>
              System.err.println(
                "[attach] perDoc has no pinned leaf (did the caller skip Lineage.cut?); " +
                  s"gating on the optimizer estimate ${stats.sizeInBytes} B")
              stats.sizeInBytes <= BroadcastMaxBytes
          }
        }
    }
    def side(as: String) = perDoc.select(
      (col(key).as(as)) +: payload.map(c => col(c).as(s"${c}_$as")): _*)
    if (small)
      cand.join(broadcast(side("a")), Seq("a")).join(broadcast(side("b")), Seq("b"))
    else
      cand.join(side("a"), Seq("a")).join(side("b"), Seq("b"))
  }
}

/** Shared helpers for oracle-exact arithmetic.
  *
  * The driver hash-compares our parquet to DuckDB output, so every
  * aggregate must be order-independent and bit-identical across engines:
  *   - sums go through DECIMAL(38,6) (exact, associative);
  *   - emitted measures are rounded then cast to DOUBLE (a 4-6 dp decimal
  *     converts to the identical IEEE double in both engines);
  *   - timestamps are emitted as epoch millis (both engines floor
  *     sub-ms precision identically) or formatted dates, never raw.
  */
object OracleMath {
  import org.apache.spark.sql.types.DecimalType

  val Dec = DecimalType(38, 6)

  /** Wider scale for per-row weights that get rounded to 10 dp before
    * the order-independent decimal sum (the likes-weighting pattern).
    */
  val Dec12 = DecimalType(38, 12)

  /** Integral exact decimal: counts and integer sums whose products
    * must not overflow a long or round through a double.
    */
  def dec0(c: Column): Column = c.cast("decimal(38,0)")

  /** Order-independent sum: cast to decimal first. */
  def dsum(c: Column): Column = sum(c.cast(Dec))

  /** Round a decimal/double measure and emit as double.
    *
    * The trailing `+ 0.0` is the signed-zero house rule (round 7's
    * `embed_covariance` lesson): IEEE `-0.0 + 0.0 = +0.0`, so any
    * tiny negative that rounds to zero emits as `0.0` on BOTH engines.
    * Spark's `round` goes through BigDecimal (which has no signed
    * zero) so this side is already `+0.0` in practice, but the rule is
    * kept symmetric with the oracle SQL's `+ 0.0` wrapper — DuckDB's
    * `round` keeps the sign of the argument and DOES emit `-0.0`.
    */
  def emit(c: Column, scale: Int = 4): Column =
    round(c, scale).cast("double") + lit(0.0)

  /** DuckDB's `round(DOUBLE, s)`: round(x·10^s) / 10^s on the binary
    * value. Spark's `round` rounds the double's shortest decimal string
    * HALF_UP instead, and the two differ where x·10^s sits within an
    * ulp of a half: 323/640 prints as 0.5046875 (Spark → 0.504688), but
    * times 1e6 it is 504687.49999999994 (DuckDB → 0.504687). Use it
    * where the oracle rounds a DOUBLE (a ratio of counts or doubles).
    */
  def roundDouble(c: Column, scale: Int): Column = {
    val m = math.pow(10, scale)
    round(c * lit(m)) / lit(m)
  }

  /** Exact average as sum/count on decimals, emitted as double. */
  def davg(c: Column, scale: Int = 4): Column =
    emit(dsum(c) / count(lit(1)), scale)

  /** Timestamp → epoch milliseconds (matches DuckDB epoch_ms). */
  def epochMs(c: Column): Column = unix_millis(c)
}
