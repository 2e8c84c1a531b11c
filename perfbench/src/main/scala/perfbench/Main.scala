package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed operation: its kind (feed template, read kind or catalog
  * key), its wall time, the CPU time charged to it (see `Ctx.timed`),
  * and in the traced run its layer metrics.
  */
final case class Op(kind: String, ms: Double, cpuMs: Double, layers: Map[String, Double] = Map.empty)

/** What a workload hands back to the runner, which turns it into the
  * benchmark's metrics.
  */
final class Result {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()
  val ops = mutable.ArrayBuffer[Op]()
  val passesS = mutable.ArrayBuffer[Double]()
  /** CPU seconds charged to each pass's operations. */
  val passesCpuS = mutable.ArrayBuffer[Double]()
  /** Run-level layer values (lists are reduced to medians by the runner). */
  val layers = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  val extra = mutable.Map[String, String]()

  def layer(name: String, v: Double): Unit = layers.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  /** Count one correctness check; a mismatch is a failure. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += what
    }
  }
}

/** Context shared by the workloads. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val meter: CpuMeter,
    val inputs: JsonNode,
    val seconds: Int,
    val dataDir: String,
    val runDir: String) {

  /** A fresh directory inside the run directory. */
  def dir(name: String): String = {
    val f = new java.io.File(runDir, name)
    f.mkdirs()
    f.getAbsolutePath
  }

  /** Time one operation: a new trace request, its wall time, its CPU,
    * and (when tracing) its layer metrics after the listener bus has
    * drained. The CPU charged to the operation is that of the thread
    * that made the call plus the executor CPU of the Spark tasks of the
    * jobs it started. Work running beside it (the stream), JIT
    * compilation and GC threads do not count.
    */
  def timed[A](kind: String)(f: => A): (A, Op) = {
    val req = tracer.newRequest()
    val tag = s"op$req"
    val sc = spark.sparkContext
    sc.setLocalProperty(CpuMeter.OpProp, tag)
    val c0 = Main.threadCpuS()
    val t0 = System.nanoTime()
    val a = try tracer.span("request")(f) finally sc.setLocalProperty(CpuMeter.OpProp, null)
    val ms = (System.nanoTime() - t0) / 1e6
    val cpuMs = (Main.threadCpuS() - c0) * 1000 + meter.taskCpuMs(tag)
    val layers =
      if (tracer.enabled) tracer.layerMetrics(req, tracer.drainPhases(req)) else Map.empty[String, Double]
    (a, Op(kind, ms, cpuMs, layers))
  }
}

object Main {
  /** Spark runs as local[Cores]. */
  val Cores = 4

  private val mapper = new ObjectMapper

  def jsonStr(s: String): String = mapper.writeValueAsString(s)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val runDir = opts("run-dir")
    val dataDir = opts("data")
    val out = opts("out")
    val inputs = mapper.readTree(new java.io.File(opts("inputs")))

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.metricsEnabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.tune(spark)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    Main.note("session ready")
    meter = new CpuMeter(spark)
    val ctx = new Ctx(spark, new Tracer(trace, spark), meter, inputs, seconds, dataDir, runDir)
    val res = new Result
    val (gcMs, jitMs) = workload match {
      case "serve-ingest"  => ServeWorkload.run(ctx, res)
      case "catalog-slice" => CatalogWorkload.run(ctx, res)
      case other           => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupWallS = (windowStartMs - jvmStartMs) / 1000.0

    if (trace) {
      val spansOut = new java.io.PrintWriter(opts("spans"))
      try {
        spansOut.println("""{"spans":[""")
        spansOut.println(ctx.tracer.spans.sortBy(_.startNs).map { s =>
          s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},"name":${jsonStr(s.name)},""" +
            s""""start_ms":${num(s.startNs / 1e6)},"end_ms":${num(s.endNs / 1e6)}}"""
        }.mkString(",\n"))
        spansOut.println("""],"self_ms":""" + ctx.tracer.selfTimes().toSeq.sortBy(_._1)
          .map { case (k, v) => s"${jsonStr(k)}:${num(v)}" }.mkString("{", ",", "}") + "}")
      } finally spansOut.close()
    }

    def obj(m: Iterable[(String, String)]) = m.map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}")
    def arr(xs: Iterable[Double]) = xs.map(num).mkString("[", ",", "]")
    val json = obj(Seq(
      "workload" -> jsonStr(workload),
      "attempted" -> res.attempted.toString,
      "failed" -> res.failed.toString,
      "failures" -> res.failures.map(jsonStr).mkString("[", ",", "]"),
      "setup_cpu_s" -> num(setupCpuS),
      "setup_wall_s" -> num(setupWallS),
      "window_s" -> num(windowS),
      "heap_mb" -> num(setupHeapMb),
      "passes_s" -> arr(res.passesS),
      "passes_cpu_s" -> arr(res.passesCpuS),
      "ops" -> res.ops.map { o =>
        obj(Seq("kind" -> jsonStr(o.kind), "ms" -> num(o.ms), "cpu_ms" -> num(o.cpuMs),
          "layers" -> obj(o.layers.map { case (k, v) => k -> num(v) })))
      }.mkString("[", ",", "]"),
      "layers" -> obj((res.layers.map { case (k, v) => k -> arr(v) } ++
        Seq("jvm.gc_ms" -> arr(Seq(gcMs)), "jvm.jit_ms" -> arr(Seq(jitMs)))).toSeq),
      "extra" -> obj(res.extra.map { case (k, v) => k -> v }),
    ))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    spark.stop()
  }

  // when the measured window of the run began, how long it ran, and
  // the CPU and heap the set-up took
  private var meter: CpuMeter = _
  private var windowStartMs = 0L
  private var windowS = 0.0
  private var setupCpuS = 0.0
  private var setupHeapMb = 0.0

  /** Runs `body` as the run's measured window: everything before it is
    * set-up. Returns the JVM's GC and JIT milliseconds inside it.
    */
  def window(body: => Unit): (Double, Double) = {
    // the set-up is charged like an operation: the main thread (JVM and
    // Spark start included), every Spark task so far, and the stream's
    // execution thread
    setupCpuS = threadCpuS() + meter.allTaskCpuMs() / 1000 + streamThreadCpuS()
    // what the set-up holds on to: heap in use after a full GC (taken
    // here rather than at the end, where it would depend on how many
    // stream batches and plans the window happened to run)
    System.gc()
    setupHeapMb = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val (gc0, jit0) = graft.Bench.gcJitNow()
    windowStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    body
    windowS = (System.nanoTime() - t0) / 1e9
    val (gc1, jit1) = graft.Bench.gcJitNow()
    ((gc1 - gc0).toDouble, (jit1 - jit0).toDouble)
  }

  /** A progress line on stderr (the run's log), stamped with seconds
    * since the JVM started.
    */
  def note(msg: String): Unit = System.err.println(
    f"[perfbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs] $msg")

  /** CPU seconds the execution threads of the running streaming
    * queries have used.
    */
  def streamThreadCpuS(): Double = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    Thread.getAllStackTraces.keySet.asScala.toSeq.filter(_.getName.startsWith("stream execution thread"))
      .map(t => mx.getThreadCpuTime(t.getId)).filter(_ > 0).sum / 1e9
  }

  /** CPU time of the calling thread so far, in seconds. */
  def threadCpuS(): Double = java.lang.management.ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime / 1e9

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq
  def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong()).toSeq
}
