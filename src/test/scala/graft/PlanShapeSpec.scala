package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.NamedExpression
import org.scalatest.funsuite.AnyFunSuite

/** Regression guard for the physical-plan shapes the 100 TB story
  * depends on. A wrong answer fails the oracle gate; a wrong PLAN
  * (lost pushdown, a broadcast that became a sort-merge join, a top-k
  * that became a global sort) fails only at scale — so pin the shapes
  * here, on the executed AQE-final plans.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(cores = 4, shufflePartitions = 4)
  val dir = "/root/testdata/sf0.001"

  private def executedPlan(df: DataFrame): String = {
    df.collect() // finalizes AQE on df's own QueryExecution
    df.queryExecution.executedPlan.toString
  }
  private def planOf(name: String): String =
    executedPlan(SparkEntry.queries(name)(spark, dir))

  test("firehose window reaches the parquet scan (PushedFilters)") {
    val plan = planOf("input_window")
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"), plan.take(800))
  }

  test("top-k queries plan as TakeOrderedAndProject, not a global sort") {
    for (q <- Seq("sort_topk", "feed_pipeline", "feed_pipeline_wire"))
      assert(planOf(q).contains("TakeOrderedAndProject"), s"$q lost its top-k")
  }

  test("set-membership filters stay broadcast joins") {
    val plan = planOf("filter_in_set")
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"), "membership filter degraded to SMJ")
  }

  test("graph 2-hop keeps its pinned broadcast (no sort-merge join)") {
    assert(!planOf("graph_2hop").contains("SortMergeJoin"))
  }

  test("star-schema join broadcasts every dimension") {
    val plan = planOf("q5_multi_join")
    assert(!plan.contains("SortMergeJoin"), "a dimension fell out of broadcast range")
  }

  test("shuffle-partition advice tracks input size and stays sane") {
    import graft.tools.Advisor
    val tiny = SparkEntry.queries("q1_agg")(spark, dir)
    val advTiny = Advisor.advisedShufflePartitions(tiny)
    // sf0.001 lineitem is ~100s of KB: one 64 MiB-target partition
    assert(advTiny == 1, s"tiny input advised $advTiny partitions")
    val bigger = SparkEntry.queries("q1_agg")(spark, "/root/testdata/sf0.1")
    val advBigger = Advisor.advisedShufflePartitions(bigger)
    assert(advBigger >= advTiny, "advice must be monotone in input size")
    // a synthetic 1 TB input should advise ~16k partitions of 64 MiB,
    // scaled linearly — the formula, pinned at the 100 TB direction
    assert(Advisor.advisedShufflePartitions(tiny, targetBytes = 1) ==
      Advisor.leafInputBytes(tiny).toInt.max(1).min(100000))
  }

  test("concurrency sweep never windows on the bare grain key") {
    // the r4 verdict's one scale defect: a window partitioned on the
    // bare day key ships a whole day's boundary events to ONE task.
    // Pin the two-level shape: the sweep window must carry BOTH keys
    // (grain g AND sub-bucket), and no window may partition on g alone.
    val bareGrain = """windowspecdefinition\(g#\d+\w*, \w+#\d+\w* (?:ASC|DESC)""".r
    val twoLevel = """windowspecdefinition\(g#\d+\w*, sub#\d+\w*, """.r
    for (q <- Seq("concurrency_peak", "concurrency_peak_hourly")) {
      val plan = planOf(q)
      assert(bareGrain.findFirstIn(plan).isEmpty, s"$q windows on the bare grain key")
      assert(twoLevel.findFirstIn(plan).nonEmpty, s"$q lost the (grain, sub) sweep window")
    }
  }

  test("centroid assignment aggregates map-side — no window over vec_id") {
    // the r5 verdict's k-factor shuffle: a row_number window
    // partitioned on vec_id exchanges+sorts all n·k candidate rows;
    // the max_by aggregate form combines them to n map-side. Pin that
    // no executed plan windows on vec_id (the ANN result top-k over
    // query_id is allowed — bounded query sets).
    for (q <- Seq(
        "embed_ivf_knn", "embed_kmeans_report", "dedup_semantic_ivf",
        "embed_pair_sim_bucketed")) {
      val plan = planOf(q)
      assert(!plan.contains("windowspecdefinition(vec_id"),
        s"$q still windows on vec_id for centroid assignment")
    }
  }

  test("bm25 explodes tokens once (tf only) — doc length is a per-row map") {
    // count LOGICAL Generate nodes (the AQE physical plan string
    // reprints query-stage subtrees, so a textual count over-reads)
    val df = SparkEntry.queries("bm25_search")(spark, dir)
    val generates = df.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    // exactly the tf explode, which appears twice in the tree (tf join
    // + the df agg over tf — physical exchange reuse collapses them);
    // the r5 form's doc-length explode added two more
    assert(generates.size == 2,
      s"bm25 plan has ${generates.size} Generate nodes (expected 2, both the tf explode)")
  }

  test("native top-k per key aggregates with bounded state — no window sort") {
    val plan = planOf("limit_per_user_agg")
    assert(plan.contains("ObjectHashAggregate"), s"TopKPairs lost its object agg:\n${plan.take(1200)}")
    assert(!plan.contains("Window"), "the native top-k must not fall back to a window")
    assert(plan.toLowerCase.contains("topkpairs"),
      "expected the TopKPairs aggregate in the plan")
  }

  test("runtime-filtered join probes the bloom before the shuffle") {
    val plan = planOf("runtime_filtered_join")
    assert(plan.contains("might_contain"),
      s"expected the explicit bloom probe in the executed plan:\n${plan.take(1200)}")
    // the probe must sit in the fact-side filter, not after the join:
    // the Filter node carrying might_contain appears below the join
    val probeIdx = plan.indexOf("might_contain")
    val joinIdx = plan.indexOf("Join")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      "bloom probe should be on the scan side, below the join in the plan tree")
  }

  test("pq knn keeps its scale shape: one bounded window, aggregate argmin, native top-k") {
    val plan = planOf("embed_pq_knn")
    // the only window (the 16-row donor numbering) lives inside the
    // one-time lineage-cut codebook build; the MAIN plan — encode,
    // score, top-k over the full vector set — must be window-free
    val windows = plan.split("\n").count(_.contains("Window ["))
    assert(windows == 0, s"main plan must be window-free, found $windows")
    assert(plan.contains("min_by"), "code assignment lost its aggregate argmin")
    assert(plan.toLowerCase.contains("topkpairs"), "final top-10 lost the native bounded aggregate")
    // (the donor TakeOrderedAndProject sits inside the cut codebook
    // subplan, so it is deliberately absent from the main plan)
  }

  test("round-6 additions keep their scale shapes") {
    // boilerplate/part_affinity rank with a bounded top-k, never a
    // global sort
    for (q <- Seq("boilerplate_ngrams", "part_affinity"))
      assert(planOf(q).contains("TakeOrderedAndProject"), s"$q lost its top-k")
    // the anomaly attribution top-5 is the native bounded aggregate —
    // a window over the raw (type, hour, user) rows would sort the
    // whole per-user matrix inside each cell
    val attr = planOf("anomaly_attribution")
    assert(attr.toLowerCase.contains("topkpairs"), "attribution lost the native top-k aggregate")
    assert(!attr.contains("Window ["), "attribution must not window over per-user rows")
    // ewma is explode + re-aggregate: no window, no join for the decay
    val ewma = planOf("ewma_hourly")
    assert(!ewma.contains("Window ["), "ewma must not use a window for the decay sum")
    assert(ewma.contains("Generate explode"), "ewma lost its codegen'd weight explode")
    // the incremental dedup must anti-join the index, not re-read and
    // re-dedup history (one LeftAnti in the executed plan)
    val inc = planOf("dedup_incremental")
    assert(inc.contains("LeftAnti"), "dedup_incremental lost its anti join against the index")
  }

  test("no driver-side collect hides in any catalog query plan") {
    // CollectLimit at the ROOT is fine (the final .limit the driver
    // reads); what must never appear is a LocalTableScan materialized
    // from a mid-plan collect — spot-check the heavies
    for (q <- Seq("dedup_clusters", "likes_bylikers", "embed_pair_sim_bucketed")) {
      val plan = planOf(q)
      // localCheckpoint shows as scan-from-RDD; LocalTableScan from
      // driver-materialized rows would mean a hidden collect
      assert(!plan.contains("LocalTableScan ["), s"$q materializes driver-side rows")
    }
  }

  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** The BroadcastHashJoins of an executed plan whose build side
    * outputs the column `out`.
    */
  private def broadcastsOf(plan: org.apache.spark.sql.execution.SparkPlan, out: String) = {
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    Plans.collectWithSubqueries(plan) {
      case j: BroadcastHashJoinExec
          if (if (j.buildSide == BuildRight) j.right else j.left).output.exists(_.name == out) => j
    }
  }

  test("bounded tails: one-partition cut leaves, no broadcast stage above them") {
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    def leafParts(p: SparkPlan) = Plans.collect(p) { case r: RDDScanExec => r.rdd.getNumPartitions }
    // whatever its input's partitioning, a BoundedTail leaf is one partition
    val leaf = BoundedTail.leaf(spark.range(0, 64, 1, 8).toDF())
    assert(leafParts(leaf.queryExecution.executedPlan) == Seq(1))
    // merge-hinted joins and all-rows windows put no broadcast above a
    // leaf; embed_pca_power's two output cross joins broadcast their
    // one-row scalars (the Rayleigh quotient and the trace) on purpose
    for ((q, scalars) <- Seq("markov_attribution" -> 0, "graph_modularity" -> 0, "embed_pca_power" -> 2)) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(leafParts(plan).contains(1), s"$q has no one-partition cut leaf:\n$plan")
      val broadcasts = Plans.collect(plan) { case b: BroadcastExchangeLike if leafParts(b).contains(1) => b }
      assert(broadcasts.size == scalars, s"$q broadcasts ${broadcasts.size} bounded frames:\n$plan")
    }
  }

  test("each like-graph input scores the graph once: the max reuses the post shuffle") {
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    for (q <- Seq("feed_pipeline_liked", "feed_pipeline_bylikers")) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan
      def aggOf(out: String) =
        Plans.collectWithSubqueries(plan) { case a: HashAggregateExec if a.output.exists(_.name == out) => a }
      // the post key the raw scores are grouped by
      val post = aggOf("__post").flatMap(_.groupingExpressions).map(_.exprId)
      assert(post.size == 1, s"$q: expected one score aggregate:\n$plan")
      def onPost(e: ShuffleExchangeExec) = e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.collect { case a: NamedExpression => a.exprId } == post
        case _ => false
      }
      val shuffles = Plans.collectWithSubqueries(plan) { case e: ShuffleExchangeExec if onPost(e) => e }
      assert(shuffles.size == 1, s"$q shuffles the like edges on the post key ${shuffles.size} times:\n$plan")
      val maxReads = aggOf("__mx").flatMap(a =>
        Plans.collect(a) { case r @ ReusedExchangeExec(_, e: ShuffleExchangeExec) if onPost(e) => r })
      assert(maxReads.size == 1, s"$q: the max does not read the score shuffle as a ReusedExchange:\n$plan")
    }
    // custom_likedweighted: the list-bounded per-liker weights are
    // broadcast into an inner join with the edges
    val liked = SparkEntry.queries("feed_pipeline_liked")(spark, dir)
    liked.collect()
    assert(broadcastsOf(liked.queryExecution.executedPlan, "__w").exists(_.joinType == Inner),
      s"the per-liker weight side is not a broadcast inner join:\n${liked.queryExecution.executedPlan}")
  }

  test("custom_likedbylikers forces no broadcast: a firehose-seeded working set shuffles") {
    import org.apache.spark.sql.functions.col
    // every event seeds the walk; the curator relation then has no
    // bound the payload sets, so only the session threshold may
    // broadcast it. A threshold nothing fits under stands for a
    // working set too large to broadcast.
    val events = Tables.events(spark, dir)
    val b = pipeline.Binding(
      idCol = "event_id", authorCol = "user_id", tsCol = "ts", valueCol = "value",
      nowEpochMs = 4102444800000L, regexTargets = Map.empty, whereFields = Map.empty,
      store = Some(events),
      likes = Some(Tables.lineitem(spark, dir).select(col("l_suppkey").as("liker"), col("l_partkey").as("post"))))
    val payload =
      """{"blocks":[{"type":"input","inputType":"firehose","firehoseSeconds":4000000000},
        |{"type":"input","inputType":"custom_likedbylikers","historySeconds":4000000000}]}""".stripMargin
    def run() = {
      val df = pipeline.PipelineJson.run(events, payload, b).select(col("event_id"), col("score"))
      (df.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq, df.queryExecution.executedPlan)
    }
    val (expected, _) = run()
    assert(expected.size > 100, s"the walk scored only ${expected.size} posts")
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (rows, plan) = run()
      for (out <- Seq("__sid", "__cnt", "__s", "__w"))
        assert(broadcastsOf(plan, out).isEmpty, s"the curator side broadcasts $out past the threshold:\n$plan")
      assert(rows == expected)
    } finally saved.fold(conf.unset("spark.sql.autoBroadcastJoinThreshold"))(v =>
      conf.set("spark.sql.autoBroadcastJoinThreshold", v))
  }
}
