package perfbench

import graft.Tables
import graft.queries.FeedBlocks.NowMs
import graft.sources.{InvertedIndex, IvfIndex}
import graft.streaming.{Ev, Streams}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import com.fasterxml.jackson.databind.JsonNode
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** serve-ingest: the serving layer with writes beside reads. Set-up
  * builds the BM25 inverted index and the IVF index into the run's own
  * directory and starts the streaming feed over a file-source stage
  * directory. In the window an open-loop generator lands event slices
  * on a fixed schedule while one closed-loop client sends a seeded mix
  * of wire-payload feed requests, BM25 searches, ANN searches and
  * feed-state reads.
  */
object ServeWorkload {
  private val K = 10

  private final case class Batch(id: Long, startMs: Long, endMs: Long, rows: Long,
      durations: Map[String, Long], stateRows: Long, stateMem: Long)

  private def listed(dir: String): Seq[Path] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator.asScala.filterNot(_.getFileName.toString.startsWith(".")).toList
    finally s.close()
  }

  private def filesUnder(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.count(_.toString.endsWith(".parquet")).toLong
    finally s.close()
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => nodes(q.plan)
    case other                    => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Rows the state-store scan of an executed read produced. */
  private def stateRowsScanned(df: DataFrame): Double =
    nodes(df.queryExecution.executedPlan)
      .filter(_.getClass.getSimpleName.contains("BatchScan"))
      .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum.toDouble

  /** For each stage file, the stream batch that read it: the file
    * source logs each file under a log offset, and each batch's offset
    * record names the last log offset it covers.
    */
  private def batchOfFile(ckpt: String): Map[String, Long] = {
    val entry = """"path":"([^"]+)".*?"batchId":(\d+)""".r
    val logOffsetOf = listed(s"$ckpt/sources/0").flatMap(f => Files.readAllLines(f).asScala)
      .flatMap(entry.findFirstMatchIn)
      .map(m => Paths.get(new java.net.URI(m.group(1))).getFileName.toString -> m.group(2).toLong).toMap
    val covered = listed(s"$ckpt/offsets").filter(_.getFileName.toString.forall(_.isDigit))
      .map { f =>
        val last = Files.readAllLines(f).asScala.last
        f.getFileName.toString.toLong -> """"logOffset":(\d+)""".r.findFirstMatchIn(last).get.group(1).toLong
      }.sortBy(_._1)
    logOffsetOf.flatMap { case (file, off) => covered.find(_._2 >= off).map(file -> _._1) }
  }

  def run(ctx: Ctx, res: Result): (Double, Double) = {
    val s = ctx.spark
    import s.implicits._
    val t = ctx.tracer
    val reads = ctx.inputs.get("reads").elements().asScala.toVector
    def kind(n: JsonNode) = n.get("kind").asText()
    // feed requests are timed per template, the other reads per kind
    def opKind(n: JsonNode) = if (kind(n) == "feed") "feed:" + n.get("template").asText() else kind(n)
    val ingest = ctx.inputs.get("ingest")
    val intervalMs = ingest.get("interval_ms").asLong()
    val slices = ingest.get("slices").elements().asScala.toVector.map(n => (n.get(0).asLong(), n.get(1).asLong()))
    val dir = ctx.dataDir

    // ---- set-up: both indexes, built into the run's own directory ----
    val bm25Dir = s"${ctx.runDir}/index/bm25"
    val ivfDir = s"${ctx.runDir}/index/ivf"
    val b0 = System.nanoTime()
    InvertedIndex.build(Tables.documents(s, dir), bm25Dir)
    IvfIndex.build(embeddings(ctx, dir), ivfDir)
    res.layer("sources.index_build_ms", (System.nanoTime() - b0) / 1e6)
    Main.note("indexes built")
    // the ANN oracle: every ANN query of the mix, searched once at set-up
    // (queries are independent within one search)
    val annIds = reads.filter(kind(_) == "ann").flatMap(n => Main.longs(n.get("ids"))).distinct
    val annAll = annSearch(ctx, dir, ivfDir, annIds)._1.groupBy(_.getLong(0))
    def annExpected(ids: Seq[Long]): Seq[Row] = ids.sorted.flatMap(id => annAll.getOrElse(id, Seq.empty))

    // ---- set-up: the stream over a stage directory; the ingest ----
    // ---- slices were written to the run's pending directory     ----
    val stage = ctx.dir("stage")
    val ckpt = s"${ctx.runDir}/checkpoint"
    val events = Tables.events(s, dir).select("event_id", "ts", "user_id", "event_type", "value")
    val lo = slices.head._1
    def land(i: Int): Unit = {
      val name = f"slice_$i%05d.parquet"
      Files.move(Paths.get(ctx.runDir, "pending", name), Paths.get(stage, name), StandardCopyOption.ATOMIC_MOVE)
    }
    val batches = mutable.ArrayBuffer[Batch]()
    s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val st = p.stateOperators.headOption
        batches.synchronized {
          batches += Batch(p.batchId, start, start + d.getOrElse("triggerExecution", 0L), p.numInputRows, d,
            st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L))
        }
      }
    })
    val query = Streams.streamingFeed(s.readStream.schema(events.schema).parquet(stage).as[Ev], k = K, anchorMs = NowMs)
      .writeStream.format("noop").outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0L))
      .start()
    land(0)
    query.processAllAvailable()
    Main.note("set-up done")

    // ---- the window: open-loop writes beside closed-loop reads, in ----
    // ---- whole passes over the read mix. A pass counts only if the ----
    // ---- ingest schedule ran all through it; no pass starts after  ----
    // ---- the schedule has ended                                     ----
    val due = new Array[Long](slices.size)
    val late = mutable.ArrayBuffer[Double]()
    @volatile var stop = false
    @volatile var scheduleDone = false
    @volatile var landed = 1
    val responses = mutable.ArrayBuffer[(Int, Seq[Row])]()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val stream0 = streamCpuS(ctx)
    val (gcMs, jitMs) = Main.window {
      val windowStartMs = System.currentTimeMillis()
      val gen = new Thread(() => {
        var i = 1
        while (!stop && i < slices.size) {
          val at = windowStartMs + (i - 1) * intervalMs
          val wait = at - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          if (!stop) {
            land(i)
            due(i) = at
            late += (System.currentTimeMillis() - at).toDouble
            i += 1
            landed = i
          }
        }
        scheduleDone = true
      }, "perfbench-ingest")
      gen.start()
      do {
        val p0 = System.nanoTime()
        val ops = reads.indices.map { i =>
          val n = reads(i)
          val ((rows, measured), op) = ctx.timed(opKind(n))(read(ctx, bm25Dir, ivfDir, ckpt, n))
          responses += (i -> rows)
          op.copy(layers = op.layers ++ measured)
        }
        if (!scheduleDone) {
          res.ops ++= ops
          res.passesS += (System.nanoTime() - p0) / 1e9
          res.passesCpuS += ops.map(_.cpuMs).sum / 1000
        }
      } while ((System.nanoTime() < deadline || res.passesS.size < 2) && !scheduleDone)
      stop = true
      gen.join()
    }
    val slicesIn = landed - 1
    Main.note(s"window done: ${res.passesS.size} passes counted, $slicesIn slices")
    query.processAllAvailable()
    // the stream's CPU per slice landed in the window, up to its commit
    val ingestCpuMs = (streamCpuS(ctx) - stream0) * 1000 / slicesIn
    query.stop()

    // ---- ingest lag: due time to the commit of the batch holding it ----
    val fileBatch = batchOfFile(ckpt)
    val endOf = batches.synchronized(batches.map(b => b.id -> b.endMs).toMap)
    val lags = (1 until landed).flatMap { i =>
      val lag = fileBatch.get(f"slice_$i%05d.parquet").flatMap(endOf.get).map(_ - due(i))
      res.check(lag.exists(_ >= 0), s"ingest slice $i: lag $lag")
      lag.map(_.toDouble)
    }
    lags.foreach(res.layer("ingest_lag_ms", _))
    // ingest as one more operation kind: its wall time is the median lag
    if (lags.nonEmpty) res.ops += Op("ingest", lags.sorted.apply((lags.size - 1) / 2), ingestCpuMs)
    late.foreach(res.layer("streaming.generator_late_ms", _))
    // progress events carry wall-clock times; spans use System.nanoTime
    val clockToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
    batches.synchronized(batches.toList).filter(_.rows > 0).foreach { b =>
      res.layer("streaming.batch_ms", (b.endMs - b.startMs).toDouble)
      res.layer("streaming.add_batch_ms", b.durations.getOrElse("addBatch", 0L).toDouble)
      res.layer("streaming.commit_ms",
        b.durations.collect { case (k, v) if k.toLowerCase.contains("commit") => v }.sum.toDouble)
      res.layer("streaming.rows_per_batch", b.rows.toDouble)
      res.layer("streaming.state_rows", b.stateRows.toDouble)
      res.layer("streaming.state_mem_bytes", b.stateMem.toDouble)
      t.record("streaming.batch", b.startMs * 1000000L + clockToNano, b.endMs * 1000000L + clockToNano)
    }

    // ---- correctness, outside the window ----
    val eval = Evaluator.load(s, dir)
    val feedExpected = mutable.Map[Int, Seq[(Long, Double)]]()
    val bm25Expected = mutable.Map[Seq[String], Seq[Row]]()
    responses.foreach { case (i, got) =>
      val n = reads(i)
      kind(n) match {
        case "feed" =>
          val exp = feedExpected.getOrElseUpdate(i, eval.run(n.get("payload").asText()))
          res.check(got.size == exp.size && got.zip(exp).forall { case (g, (ei, es)) =>
            val gs = g.getDouble(1)
            g.getLong(0) == ei && (gs.isNaN && es.isNaN || math.abs(gs - es) <= Evaluator.ScoreTolerance)
          }, s"feed ${n.get("template").asText()} read $i: got ${got.take(3)} expected ${exp.take(3)}")
        case "bm25" =>
          val terms = Main.strings(n.get("terms"))
          val exp = bm25Expected.getOrElseUpdate(terms,
            graft.queries.Round5Ops.bm25SearchFor(s, dir, terms, K).collect().toSeq)
          res.check(got == exp, s"bm25 $terms: got ${got.take(3)} expected ${exp.take(3)}")
        case "ann" =>
          val ids = Main.longs(n.get("ids"))
          val exp = annExpected(ids)
          res.check(got == exp, s"ann $ids: got ${got.take(3)} expected ${exp.take(3)}")
        case _ =>
          // a state read is one user's ranked top-k at some committed batch
          val ranks = got.map(_.getInt(1))
          val scores = got.map(_.getDouble(3))
          res.check(got.size <= K && ranks == (1 to got.size) &&
            scores.zip(scores.drop(1)).forall { case (a, b) => a >= b },
            s"state read ${n.get("user").asLong()}: malformed $got")
      }
    }
    // the final feed state against a batch per-user top-k of what landed
    val landedRows = events.filter(col("event_id") >= lo && col("event_id") < slices(landed - 1)._2).as[Ev].collect()
    val expected = landedRows.groupBy(_.user_id).map { case (u, evs) =>
      u -> evs.map { e =>
        val ageH = math.max(0.0, (NowMs - e.ts.getTime).toDouble / 3600000.0)
        (e.value / math.pow(ageH + 2.0, 1.8), e.event_id)
      }.sortBy { case (sc, id) => (-sc, id) }.take(K).map(_._2).toSeq
    }
    val state = Streams.readFeedState(s, ckpt).collect().groupBy(_.user_id).map { case (u, rs) =>
      u -> rs.sortBy(_.rank).map(_.event_id).toSeq
    }
    res.check(state == expected,
      s"final feed state: ${state.size} users vs ${expected.size} expected; first diff " +
        expected.find { case (u, e) => !state.get(u).contains(e) })
    Main.note("checks done")
    (gcMs, jitMs)
  }

  /** CPU seconds the streaming query has used: its execution thread,
    * which plans and commits each micro-batch, and its jobs' tasks.
    */
  private def streamCpuS(ctx: Ctx): Double = Main.streamThreadCpuS() + ctx.meter.taskCpuMs("stream") / 1000

  private def embeddings(ctx: Ctx, dir: String): DataFrame =
    Tables.embeddings(ctx.spark, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))

  private def annSearch(ctx: Ctx, dir: String, ivfDir: String, ids: Seq[Long]): (Seq[Row], DataFrame) = {
    val t = ctx.tracer
    val q = t.span("tables.load")(embeddings(ctx, dir))
      .filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    val df = IvfIndex.search(ctx.spark, ivfDir, q)
    (t.exec(df)(df.collect()).toSeq, df)
  }

  /** One read; returns its rows and, when tracing, the layer ratios it
    * measured.
    */
  private def read(ctx: Ctx, bm25Dir: String, ivfDir: String, ckpt: String, n: JsonNode)
      : (Seq[Row], Map[String, Double]) = {
    val t = ctx.tracer
    def measured(name: String, v: => Double) = if (t.enabled) Map(name -> v) else Map.empty[String, Double]
    n.get("kind").asText() match {
      case "feed" =>
        (Feed.request(ctx, ctx.dataDir, n.get("payload").asText()).map { case (id, sc) => Row(id, sc) }, Map.empty)
      case "bm25" =>
        t.span("sources.bm25_search") {
          val df = InvertedIndex.search(ctx.spark, bm25Dir, Main.strings(n.get("terms")), K)
          val rows = t.exec(df)(df.collect()).toSeq
          (rows, measured("sources.bm25_files_ratio",
            graft.tools.Serve.scannedFiles(df, "postings").toDouble / filesUnder(s"$bm25Dir/postings")))
        }
      case "ann" =>
        t.span("sources.ann_search") {
          val (rows, df) = annSearch(ctx, ctx.dataDir, ivfDir, Main.longs(n.get("ids")))
          (rows, measured("sources.ann_files_ratio",
            graft.tools.Serve.scannedFiles(df, "lists").toDouble / filesUnder(s"$ivfDir/lists")))
        }
      case _ =>
        t.span("streaming.state_read") {
          val df = Streams.readFeedState(ctx.spark, ckpt).filter(col("user_id") === n.get("user").asLong()).toDF()
          val rows = t.exec(df)(df.collect()).toSeq
          (rows, measured("streaming.state_scan_ratio", stateRowsScanned(df) / math.max(1, rows.size)))
        }
    }
  }
}
