package graft.tools

import graft.Tables
import graft.sources.{InvertedIndex, IvfIndex, Sources}
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** The QUERY-MANY half of every build-once/query-many layout in the
  * engine, measured end-to-end: answers BM25 term queries from the
  * persisted inverted index (static bucket pruning), ANN queries from
  * the persisted IVF index (dynamic partition pruning of unprobed
  * lists), and per-user feed reads from the streaming feed's STATE
  * STORE checkpoint (serving is a state read, no recompute —
  * main.rs:1229's generate_feed_skeleton over in-RAM maps,
  * re-expressed as `format("statestore")`).
  *
  * For each query it reports wall-millis, rows, and — the scale
  * proof — ACTUAL parquet files read vs files in the layout, taken
  * from the executed plan's scan metrics (so dynamic pruning is
  * measured, not inferred). At 100 TB this ratio IS the serving
  * story: a term query reads its term buckets, an ANN query reads its
  * probed lists, a feed read touches one user's state — never the
  * corpus.
  *
  * Usage: runMain graft.tools.Serve <sfDir> — writes SERVE_LOCAL.json
  * and prints the same single JSON line.
  */
object Serve {

  /** All file scans under a plan, unwrapping AQE and subqueries (the
    * DPP filter hides its build side in a subquery).
    */
  def fileScans(plan: SparkPlan): Seq[FileSourceScanExec] = plan match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    // AQE stages are LEAVES of the final plan — the executed scans
    // (with their populated metrics) live inside each stage's plan
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => fileScans(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => fileScans(r.child)
    case f: FileSourceScanExec => Seq(f)
    case other => (other.children ++ other.subqueries).flatMap(fileScans)
  }

  /** Post-execution scan metrics for the scan rooted at a path
    * containing `frag`: (files actually read, rows). `numFiles` is the
    * executed metric, so it reflects static AND dynamic pruning.
    */
  def scannedFiles(df: DataFrame, frag: String): Long =
    fileScans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(frag)))
      .map(f => f.metrics.get("numFiles").map(_.value).getOrElse(-1L))
      .sum

  private def parquetFilesUnder(dir: String): Long = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator.asScala.count(_.toString.endsWith(".parquet")).toLong
      finally s.close()
    }
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e6)
  }

  /** Nearest-rank percentile over raw samples. */
  private def pct(samples: Seq[Double], q: Double): Double = {
    val s = samples.sorted
    s((math.ceil(q * s.length).toInt - 1).max(0).min(s.length - 1))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.tune(spark)
    import spark.implicits._

    // ---- build (or cache-hit) the three persisted layouts ----------
    val docs = Tables.documents(spark, sfDir)
    val bm25Dir = Sources.cachedIndexDir(sfDir, "documents", "bm25-inverted-v1")(p =>
      InvertedIndex.build(docs, p))

    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    val ivfDir = Sources.cachedIndexDir(sfDir, "embeddings", "ivf-index-v1")(p =>
      IvfIndex.build(emb, p))

    // the feed state: one streaming run over the events table (file
    // source), checkpoint kept as the serving layout — rebuilt only
    // when the input fingerprint changes, exactly like the indexes
    val feedDir = Sources.cachedIndexDir(sfDir, "events", "serve-feed-v1") { p =>
      val batch = Tables.events(spark, sfDir)
      val anchorMs = batch.agg(max(unix_millis(col("ts")))).head().getLong(0)
      val stage = s"$p/stage"
      batch.write.mode("overwrite").parquet(stage)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p, "_ANCHOR"), anchorMs.toString)
      val src = spark.readStream.schema(batch.schema).parquet(stage)
        .as[graft.streaming.Ev]
      val q = Streams.streamingFeed(src, k = 10, anchorMs = anchorMs)
        .writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", s"$p/checkpoint")
        .start()
      q.processAllAvailable()
      q.stop()
    }

    // ---- serve ------------------------------------------------------
    def jq(fields: (String, String)*): String =
      fields.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

    // warm steady-state percentiles: the single-shot rows below carry
    // first-query planning/JIT; a serving deployment cares about the
    // repeated-query distribution, so each family also runs ~21 warm
    // repetitions (cycling its query set, fresh plan per repetition —
    // per-query planning is part of real serving latency) and reports
    // nearest-rank p50/p95
    def warmStats(reps: Int)(run: Int => Int): String = {
      val samples = (0 until reps).map(i => timed(run(i))._2)
      jq(
        "n" -> samples.length.toString,
        "p50_ms" -> f"${pct(samples, 0.5)}%.1f",
        "p95_ms" -> f"${pct(samples, 0.95)}%.1f")
    }

    val bm25Total = parquetFilesUnder(s"$bm25Dir/postings")
    val bm25Queries = Seq(
      Seq("vector", "hash"), Seq("stream", "query", "data"), Seq("spark"))
    val bm25Rows = bm25Queries.map { terms =>
      val df = InvertedIndex.search(spark, bm25Dir, terms, 10)
      val (rows, ms) = timed(df.collect().length)
      jq(
        "terms" -> terms.mkString("\"", " ", "\""),
        "ms" -> f"$ms%.1f",
        "rows" -> rows.toString,
        "files_scanned" -> scannedFiles(df, "postings").toString,
        "files_total" -> bm25Total.toString)
    }

    val ivfTotal = parquetFilesUnder(s"$ivfDir/lists")
    val annQueries = Seq(Seq(0L, 1L), Seq(7L, 8L, 9L))
    val annRows = annQueries.map { ids =>
      val q = emb.filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id").as("query_id"), col("e").as("qe"))
      val df = IvfIndex.search(spark, ivfDir, q)
      val (rows, ms) = timed(df.collect().length)
      jq(
        "query_ids" -> ids.mkString("[", ",", "]"),
        "ms" -> f"$ms%.1f",
        "rows" -> rows.toString,
        "files_scanned" -> scannedFiles(df, "lists").toString,
        "files_total" -> ivfTotal.toString)
    }

    // state reads need the coordinator endpoint a streaming query
    // would have registered; the serving path registers it directly
    org.apache.spark.sql.graftext.GraftOps.ensureStateStoreCoordinator(spark)
    val feedUsers = Seq(1L, 5L, 11L)
    val feedRows = feedUsers.map { uid =>
      val df = Streams.readFeedState(spark, s"$feedDir/checkpoint")
        .filter(col("user_id") === uid)
      val (rows, ms) = timed(df.collect().length)
      jq("user_id" -> uid.toString, "ms" -> f"$ms%.1f", "rows" -> rows.toString)
    }

    val bm25Warm = warmStats(21) { i =>
      InvertedIndex.search(spark, bm25Dir, bm25Queries(i % bm25Queries.length), 10)
        .collect().length
    }
    val annWarm = warmStats(20) { i =>
      val ids = annQueries(i % annQueries.length)
      val q = emb.filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id").as("query_id"), col("e").as("qe"))
      IvfIndex.search(spark, ivfDir, q).collect().length
    }
    val feedWarm = warmStats(21) { i =>
      Streams.readFeedState(spark, s"$feedDir/checkpoint")
        .filter(col("user_id") === feedUsers(i % feedUsers.length))
        .collect().length
    }

    val line = jq(
      "sf" -> ("\"" + sfDir + "\""),
      "bm25" -> bm25Rows.mkString("[", ",", "]"),
      "ann" -> annRows.mkString("[", ",", "]"),
      "feed" -> feedRows.mkString("[", ",", "]"),
      "bm25_warm" -> bm25Warm,
      "ann_warm" -> annWarm,
      "feed_warm" -> feedWarm)
    val outFile = java.nio.file.Paths
      .get(sys.env.getOrElse("SPARK_GRAFT_SERVE_OUT", "SERVE_LOCAL.json"))
      .toAbsolutePath
    java.nio.file.Files.writeString(outFile, line + "\n")
    println(line)
    spark.stop()
  }
}
