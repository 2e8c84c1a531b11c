package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed call at a layer boundary. `request` is the id of the
  * timed operation (feed request, serving read, catalog key run) the
  * span belongs to; `parent` is 0 for an operation's root span.
  */
final case class Span(id: Int, parent: Int, request: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark cost charged to one span, filled in from listener events. */
final class Cost {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskRunMs = 0.0
  var taskGcMs = 0.0
  var schedWaitMs = 0.0
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Double]]()
}

/** Records spans and the Spark work under them. With `enabled` false
  * every call is a plain pass-through: no listener is installed and no
  * span is kept, so the untraced run measures the program alone.
  *
  * Attribution: while a span is open its id is set as a local property
  * of the calling thread, so each job Spark starts carries the id of
  * the innermost open span. Stages and tasks are charged through their
  * job. Catalyst phase times come from the QueryExecutionListener and
  * are charged to the operation whose action (see `exec`) planned the
  * DataFrame. Operations may run on several threads at once.
  */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  private val Prop = "perfbench.span"
  private val spanBuf = mutable.ArrayBuffer[Span]()
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private var nextId = 1
  private var lastRequest = 0
  private val request = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  // listener-side state: written on the listener-bus thread, read by
  // the workload thread only after Bus.drain
  private val costs = mutable.Map[Int, Cost]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val stageSubmitted = mutable.Map[Int, Long]()
  private val phases = mutable.Map[Int, mutable.Map[String, Double]]()
  // the logical plan of each traced action -> the operation it belongs to
  private val actions = new java.util.IdentityHashMap[LogicalPlan, Integer]()

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = costs.synchronized {
        val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(0)
        costs.getOrElseUpdate(sid, new Cost).jobs += 1
        e.stageIds.foreach(stageSpan(_) = sid)
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = costs.synchronized {
        stageSubmitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = costs.synchronized {
        val sid = stageSpan.getOrElse(e.stageInfo.stageId, 0)
        costs.getOrElseUpdate(sid, new Cost).stages += 1
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = costs.synchronized {
        val sid = stageSpan.getOrElse(e.stageId, 0)
        val c = costs.getOrElseUpdate(sid, new Cost)
        c.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskGcMs += m.jvmGCTime
          c.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime.toDouble
        }
        stageSubmitted.get(e.stageId).foreach { t =>
          c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - t)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        // only plans of traced actions (see `exec`) are charged; stream
        // micro-batches and set-up queries are not
        costs.synchronized {
          qe.logical.collectFirst { case p if actions.containsKey(p) => actions.get(p).intValue }.foreach { req =>
            val m = phases.getOrElseUpdate(req, mutable.Map[String, Double]().withDefaultValue(0.0))
            qe.tracker.phases.foreach { case (phase, s) => m(phase) += s.durationMs.toDouble }
          }
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }

  /** Start a new timed operation; spans opened until the next call
    * belong to it.
    */
  def newRequest(): Int = {
    val id = synchronized { lastRequest += 1; lastRequest }
    request.set(id)
    id
  }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = synchronized { nextId += 1; nextId }
      val parents = open.get
      val parent = parents.headOption.getOrElse(0)
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(Prop)
      val start = System.nanoTime()
      open.set(id :: parents)
      sc.setLocalProperty(Prop, id.toString)
      try f
      finally {
        val end = System.nanoTime()
        open.set(parents)
        sc.setLocalProperty(Prop, prevProp)
        val req = request.get
        synchronized { spanBuf += Span(id, parent, req, name, start, end) }
      }
    }

  /** Record a span measured elsewhere (a stream micro-batch), outside
    * any operation.
    */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) synchronized {
      nextId += 1
      spanBuf += Span(nextId, 0, 0, name, startNs, endNs)
    }

  def spans: Seq[Span] = synchronized(spanBuf.toList)

  /** Run the action `f` on `df` inside an `exec` span, so that the
    * plans it runs are charged to the current operation.
    */
  def exec[A](df: DataFrame)(f: => A): A =
    if (!enabled) f
    else {
      // collect runs df's own plan; a write wraps df's analyzed plan
      val qe = df.queryExecution
      costs.synchronized {
        actions.put(qe.logical, request.get)
        actions.put(qe.commandExecuted, request.get)
      }
      span("exec")(f)
    }

  /** Wait for all queued listener events, then return (and forget) the
    * Catalyst phase times of operation `req`.
    */
  def drainPhases(req: Int): Map[String, Double] =
    if (!enabled) Map.empty
    else {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      costs.synchronized {
        actions.values.removeIf(_.intValue == req)
        phases.remove(req).map(_.toMap).getOrElse(Map.empty)
      }
    }

  /** Layer metrics of one operation: per-layer wall time and jobs from
    * its spans, execution cost of its `exec` spans, and the Catalyst
    * phases. Call after the operation, once drainPhases has run.
    */
  def layerMetrics(req: Int, catalyst: Map[String, Double]): Map[String, Double] =
    if (!enabled) Map.empty
    else {
      val mine = spans.filter(_.request == req)
      def cost(names: Set[String]): Cost = costs.synchronized {
        val out = new Cost
        mine.filter(s => names(s.name)).flatMap(s => costs.get(s.id)).foreach { c =>
          out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
          out.taskRunMs += c.taskRunMs; out.taskGcMs += c.taskGcMs; out.schedWaitMs += c.schedWaitMs
          out.shuffleReadBytes += c.shuffleReadBytes; out.shuffleWriteBytes += c.shuffleWriteBytes
          out.spillBytes += c.spillBytes
          c.stageTaskMs.foreach { case (k, v) => out.stageTaskMs.getOrElseUpdate(k, mutable.ArrayBuffer()) ++= v }
        }
        out
      }
      def wall(name: String) = mine.filter(_.name == name).map(_.ms).sum
      val m = mutable.Map[String, Double]()
      for (layer <- mine.map(_.name).distinct if layer != "request" && layer != "exec")
        m(s"${layer}_ms") = wall(layer)
      for (layer <- Seq("tables.load", "pipeline.compile", "queries.build") if mine.exists(_.name == layer)) {
        val c = cost(Set(layer))
        m(s"${layer}_jobs") = c.jobs.toDouble
        if (layer == "queries.build") m("queries.build_task_ms") = c.taskRunMs
      }
      if (mine.exists(_.name == "exec")) {
        val c = cost(Set("exec"))
        val w = wall("exec")
        m("exec.wall_ms") = w
        m("exec.jobs") = c.jobs.toDouble
        m("exec.stages") = c.stages.toDouble
        m("exec.tasks") = c.tasks.toDouble
        m("exec.task_run_ms") = c.taskRunMs
        m("exec.parallelism") = if (w > 0) c.taskRunMs / w else 0.0
        m("exec.idle_core_ms") = math.max(0.0, w * Main.Cores - c.taskRunMs)
        m("exec.sched_wait_ms") = c.schedWaitMs
        m("exec.shuffle_read_bytes") = c.shuffleReadBytes.toDouble
        m("exec.shuffle_write_bytes") = c.shuffleWriteBytes.toDouble
        m("exec.spill_bytes") = c.spillBytes.toDouble
        m("exec.task_gc_ms") = c.taskGcMs
        // worst stage's slowest task over its mean task: 1.0 is even work
        m("exec.task_skew") = c.stageTaskMs.values.filter(_.nonEmpty).map { ts =>
          val mean = ts.sum / ts.size
          if (mean > 0) ts.max / mean else 1.0
        }.foldLeft(1.0)(math.max)
      }
      m("catalyst.analyze_ms") = catalyst.getOrElse("analysis", 0.0)
      m("catalyst.optimize_ms") = catalyst.getOrElse("optimization", 0.0)
      m("catalyst.plan_ms") = catalyst.getOrElse("planning", 0.0)
      m.toMap
    }

  /** Self time per span name: each span's duration minus its
    * children's, summed over the run.
    */
  def selfTimes(): Map[String, Double] = {
    val all = spans
    val childMs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }
}
