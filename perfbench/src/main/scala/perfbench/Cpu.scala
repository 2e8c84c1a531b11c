package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Executor CPU of Spark tasks, in total and per tag. A job is tagged
  * with the operation that started it (the local property `OpProp`,
  * set by `Ctx.timed`) or, for a streaming query's jobs, with "stream";
  * its tasks' CPU is added to that tag.
  */
final class CpuMeter(spark: SparkSession) {
  private val stageTag = mutable.Map[Int, String]()
  private val cpuNs = mutable.Map[String, Long]()
  private var allNs = 0L

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      prop(CpuMeter.OpProp).orElse(prop(CpuMeter.StreamProp).map(_ => "stream")).foreach { tag =>
        stageTag.synchronized(e.stageIds.foreach(stageTag(_) = tag))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) stageTag.synchronized {
        val ns = m.executorCpuTime + m.executorDeserializeCpuTime
        allNs += ns
        stageTag.get(e.stageId).foreach(tag => cpuNs(tag) = cpuNs.getOrElse(tag, 0L) + ns)
      }
    }
  })

  /** Executor CPU milliseconds of the tasks under `tag` so far, once
    * every queued listener event has been handled.
    */
  def taskCpuMs(tag: String): Double = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val ns: Long = stageTag.synchronized(cpuNs.getOrElse(tag, 0L))
    ns / 1e6
  }

  /** Executor CPU milliseconds of every task so far. */
  def allTaskCpuMs(): Double = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val ns: Long = stageTag.synchronized(allNs)
    ns / 1e6
  }
}

object CpuMeter {
  val OpProp = "perfbench.op"
  /** Set by Spark on every job of a streaming query. */
  val StreamProp = "sql.streaming.queryId"
}
