package perfbench

import graft.Tables
import graft.pipeline.{Binding, PipelineJson}
import graft.queries.FeedBlocks.NowMs
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** A feed request as the catalog's wire keys make one: it loads its
  * post store and Binding through the public table loaders (a live
  * store must see newly landed files), compiles the payload with
  * PipelineJson.run and collects the feed.
  */
object Feed {

  /** The events store with the thread/quote refs the catalog's wire
    * keys derive (parent_ref resolves, dangles or is null).
    */
  def eventsStore(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn(
        "parent_ref",
        when(col("event_id") % 3 === 1, floor(col("event_id") / 2).cast("long"))
          .when(col("event_id") % 3 === 2, col("event_id") + 7919))
      .withColumn(
        "record_ref",
        when(col("event_id") % 4 === 2 && col("event_id") >= 7, col("event_id") - 7))

  /** One feed request. The result is the ranked (event id, score)
    * list; score is NaN when the payload never scores.
    */
  def request(ctx: Ctx, dir: String, payload: String): Seq[(Long, Double)] = {
    val s = ctx.spark
    val t = ctx.tracer
    val store = t.span("tables.load")(eventsStore(s, dir))
    val members = t.span("tables.load")(
      Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey")))
    val boundStore = t.span("tables.load")(eventsStore(s, dir))
    val likes = t.span("tables.load")(
      Tables.lineitem(s, dir).select(col("l_suppkey").as("liker"), col("l_partkey").as("post")))
    val binding = Binding(
      idCol = "event_id",
      authorCol = "user_id",
      tsCol = "ts",
      valueCol = "value",
      nowEpochMs = NowMs,
      regexTargets = Map("text" -> Seq("event_type")),
      whereFields = Map("value" -> col("value"), "eventType" -> col("event_type")),
      lists = Map("at://lists/building" -> members),
      refCols = Map("parent" -> "parent_ref", "record" -> "record_ref"),
      store = Some(boundStore),
      likes = Some(likes))
    val df = t.span("pipeline.compile")(PipelineJson.run(store, payload, binding))
    val scored = df.columns.contains("score")
    val out = df.select(col("event_id"), if (scored) col("score").cast("double") else lit(Double.NaN))
    t.exec(out)(out.collect()).toSeq.map((r: Row) => (r.getLong(0), r.getDouble(1)))
  }
}
