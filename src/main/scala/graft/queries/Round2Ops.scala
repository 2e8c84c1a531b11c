package graft.queries

import graft.{Key, OracleMath, Tables}
import graft.Key.exact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-2 operators: frequency-table exact percentiles (the 100 TB
  * exact path), label-set refresh (run_update_labels_query,
  * main.rs:3927), and per-block pipeline debug counts (the
  * reference's block timing/count debug surface, main.rs:2546).
  * graph_communities lives in [[GraphOps]].
  */
object Round2Ops {
  import OracleMath._

  // ------------------------------------- frequency-table percentiles

  /** #60 exact percentiles from a value-frequency table: when value
    * cardinality ≪ row count (quantities, small ints, prices at cent
    * granularity), group-by-value + cumulative counts gives EXACT
    * percentile_cont without ever co-locating a group's raw rows —
    * the shuffle carries one row per distinct value (map-side combined),
    * and the interpolation runs on the tiny frequency table. This is
    * the 100 TB exact path; `percentiles` (raw order statistic) needs
    * each group's values in one place, `percentiles_approx` trades
    * exactness for bounded sketches.
    */
  def percentilesFreq(s: SparkSession, dir: String): DataFrame = {
    val freq = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag").as("grp"), col("l_quantity").cast("double").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("grp")).orderBy(col("v"))
    val cum = freq
      .withColumn("hi", sum(col("cnt")).over(w))
      .withColumn("lo", col("hi") - col("cnt"))
    val totals = freq.groupBy(col("grp")).agg(sum(col("cnt")).as("n"))
    val ps = Seq(0.25, 0.5, 0.75, 0.95).map(lit)
    val targets = totals
      .select(col("grp").as("tgrp"), col("n"))
      .crossJoin(broadcast(s.range(1).select(explode(array(ps: _*)).as("p"))))
      .withColumn("t", (col("n") - 1).cast("double") * col("p"))
      .withColumn("kf", floor(col("t")))
      .withColumn("kc", ceil(col("t")))
    // bracket both ranks in the frequency table (tiny broadcast side);
    // disambiguated projections — cum feeds both probe sides
    val floorSide = cum.select(col("grp").as("fgrp"), col("v").as("fv"), col("lo").as("flo"), col("hi").as("fhi"))
    val ceilSide = cum.select(col("grp").as("cgrp"), col("v").as("cv"), col("lo").as("clo"), col("hi").as("chi"))
    floorSide
      .join(
        broadcast(targets),
        col("fgrp") === col("tgrp") && col("flo") <= col("kf") && col("kf") < col("fhi"))
      .join(
        ceilSide,
        col("cgrp") === col("tgrp") && col("clo") <= col("kc") && col("kc") < col("chi"))
      .select(
        col("tgrp").as("grp"), col("p"),
        emit(col("fv") + (col("t") - col("kf")) * (col("cv") - col("fv"))).as("pct"))
      .orderBy(col("grp"), col("p"))
  }

  val percentilesFreqSql: String = {
    def one(p: String) =
      s"""SELECT l_returnflag AS grp, CAST($p AS DOUBLE) AS p,
         |  (CAST(round(percentile_cont($p) WITHIN GROUP (ORDER BY CAST(l_quantity AS DOUBLE)), 4) AS DOUBLE) + 0.0) AS pct
         |FROM lineitem GROUP BY 1""".stripMargin
    Seq("0.25", "0.5", "0.75", "0.95").map(one).mkString("", "\nUNION ALL\n", "\nORDER BY grp, p")
  }

  // ------------------------------------------------- label refresh

  /** #61 label-set refresh (run_update_labels_query, main.rs:3927): the
    * reference polls labeler output and swaps each post's label set.
    * Batch form: per post, the sorted-distinct merged label set — a
    * single two-phase aggregate keyed by post; emitted as a joined
    * string so the oracle compare is representation-stable.
    */
  def updateLabels(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("post_id"), concat(col("l_returnflag"), col("l_linestatus")).as("lab"))
      .groupBy(col("post_id"))
      // one set aggregate serves both outputs: n_labels = |set| (a
      // separate count_distinct would add an Expand + second agg path)
      .agg(sort_array(collect_set(col("lab"))).as("labs"))
      .select(
        col("post_id"),
        concat_ws(",", col("labs")).as("labels"),
        size(col("labs")).cast("long").as("n_labels"))
      .orderBy(col("post_id"))

  val updateLabelsSql: String =
    """SELECT l_orderkey AS post_id,
      |  string_agg(DISTINCT l_returnflag || l_linestatus, ',' ORDER BY l_returnflag || l_linestatus) AS labels,
      |  COUNT(DISTINCT l_returnflag || l_linestatus) AS n_labels
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------- pipeline debug counts

  /** #62 per-block debug counts (main.rs:2546: the reference reports
    * row counts / timing per executed block). Relational form: one
    * count per block-chain prefix, unioned — oracle-checkable. The
    * single-pass production form is FeedPipeline.observed (Spark's
    * CollectMetrics / observe API), test-verified against these counts.
    */
  /** The debugged block chain — shared by the catalog query and the
    * observe()-based single-pass test.
    */
  def debugBlocks: Seq[graft.pipeline.Block] = Seq(
    graft.pipeline.InputWindow("ts", FeedBlocks.NowMs, 14L * 86400),
    graft.pipeline.KeepCmp("event_type", "!=", lit("click")),
    graft.pipeline.KeepCmp("value", ">", lit(20)))

  def pipelineDebug(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val names = Seq("b0_input_window", "b1_filter_type", "b2_filter_value")
    val prefixes = debugBlocks.inits.toSeq.reverse.tail // blocks.take(1), take(2), take(3)
    def counted(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_rows")).select(lit(name).as("block"), col("n_rows"))
    names
      .zip(prefixes)
      .map { case (n, blocks) => counted(n, graft.pipeline.FeedPipeline.compile(ev, blocks)) }
      .reduce(_ unionByName _)
      .orderBy(col("block"))
  }

  def pipelineDebugSql(nowMs: Long): String =
    s"""WITH b0 AS (
       |  SELECT * FROM events
       |  WHERE epoch_ms(ts) > $nowMs - 14*86400*1000 AND epoch_ms(ts) <= $nowMs
       |), b1 AS (SELECT * FROM b0 WHERE event_type <> 'click'),
       |b2 AS (SELECT * FROM b1 WHERE value > 20)
       |SELECT 'b0_input_window' AS block, COUNT(*) AS n_rows FROM b0
       |UNION ALL SELECT 'b1_filter_type', COUNT(*) FROM b1
       |UNION ALL SELECT 'b2_filter_value', COUNT(*) FROM b2
       |ORDER BY block""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("percentiles_freq", percentilesFreq, percentilesFreqSql),
    exact("update_labels", updateLabels, updateLabelsSql),
    exact("pipeline_debug", pipelineDebug, pipelineDebugSql(FeedBlocks.NowMs)))
}
