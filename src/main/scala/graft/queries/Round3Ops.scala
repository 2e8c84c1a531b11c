package graft.queries

import graft.{Key, Lineage, OracleMath, Tables}
import graft.Key.exact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3 operators beyond the wire surface. */
object Round3Ops {
  import OracleMath._

  /** #67 range-bucketed exact percentiles for HIGH-cardinality values
    * (l_extendedprice): `percentiles_freq` collapses by distinct value
    * and stops paying off when values are near-unique; this form
    * buckets the range (floor(v/W)), locates each target rank's bucket
    * from the tiny cumulative bucket histogram, and then sorts ONLY
    * the target buckets' rows to extract the exact order statistics —
    * at 100 TB the second pass touches ~|targets| buckets of ~n/buckets
    * rows instead of re-sorting every group. Exact percentile_cont
    * oracle (interpolated), same arithmetic as percentiles_freq.
    */
  def percentilesRange(s: SparkSession, dir: String): DataFrame = {
    val W = 1000.0
    val rows = Tables
      .lineitem(s, dir)
      .select(col("l_returnflag").as("grp"), col("l_extendedprice").cast("double").as("v"))
      .withColumn("bkt", floor(col("v") / W))
    val cnts = rows.groupBy(col("grp"), col("bkt")).agg(count(lit(1)).as("cnt"))
    val wb = Window.partitionBy(col("grp")).orderBy(col("bkt"))
    // materialize the tiny cumulative histogram ONCE (groups × buckets
    // rows, bounded by value-range/W — NOT by n): totals, targets,
    // needs, the bucket locations, and the second pass's lo offsets all
    // derive from it, and without the cut every reuse re-derived the
    // full lineitem scan + aggregation subtree (the r6 plan audit's
    // xchg=81/bcast=30 — 81 exchanges of scheduler surface for one
    // catalog query)
    val cum = Lineage.cut(
      cnts
        .withColumn("hi", sum(col("cnt")).over(wb))
        .withColumn("lo", col("hi") - col("cnt")))
    val totals = cum.groupBy(col("grp")).agg(max(col("hi")).as("n"))
    val ps = Seq(0.25, 0.5, 0.75, 0.95).map(lit)
    // targets and needs are ≤ groups × percentiles rows and reused 2-3
    // times each — cut them so each reuse is a memory read, not a
    // re-derivation through totals' aggregation
    val targets = Lineage.cut(
      totals
        .select(col("grp").as("tgrp"), col("n"))
        .crossJoin(broadcast(s.range(1).select(explode(array(ps: _*)).as("p"))))
        .withColumn("t", (col("n") - 1).cast("double") * col("p"))
        .withColumn("kf", floor(col("t")))
        .withColumn("kc", ceil(col("t"))))
    val needs = Lineage.cut(
      targets
        .select(col("tgrp").as("ngrp"), col("kf").as("k"))
        .unionByName(targets.select(col("tgrp").as("ngrp"), col("kc").as("k")))
        .distinct())
    val located = needs.join(
      cum.select(col("grp").as("cgrp"), col("bkt"), col("lo"), col("hi")),
      col("ngrp") === col("cgrp") && col("lo") <= col("k") && col("k") < col("hi"))
    val targetBuckets = located.select(col("ngrp").as("grp"), col("bkt")).distinct()
    // second pass: ONLY the located buckets' rows get sorted
    val wr = Window.partitionBy(col("grp"), col("bkt")).orderBy(col("v"))
    val ranked = rows
      .join(broadcast(targetBuckets), Seq("grp", "bkt"), "left_semi")
      .withColumn("rn", row_number().over(wr))
      .join(broadcast(cum.select(col("grp"), col("bkt"), col("lo"))), Seq("grp", "bkt"))
      .withColumn("grank", col("lo") + col("rn") - 1)
    // kv is ≤ groups × 2·percentiles rows but sits on top of the whole
    // second pass — without the cut the vf/vc joins below would run the
    // bucket sort twice
    val kv = Lineage.cut(
      ranked
        .join(broadcast(needs), col("grp") === col("ngrp") && col("grank") === col("k"))
        .select(col("grp").as("kgrp"), col("k"), col("v")))
    targets
      .join(broadcast(kv.select(col("kgrp"), col("k"), col("v").as("vf"))),
        col("tgrp") === col("kgrp") && col("kf") === col("k"))
      .drop("kgrp", "k")
      .join(broadcast(kv.select(col("kgrp"), col("k"), col("v").as("vc"))),
        col("tgrp") === col("kgrp") && col("kc") === col("k"))
      .select(
        col("tgrp").as("grp"),
        col("p"),
        emit(col("vf") + (col("t") - col("kf")) * (col("vc") - col("vf"))).as("pct"))
      .orderBy(col("grp"), col("p"))
  }

  val percentilesRangeSql: String = {
    def one(p: String) =
      s"""SELECT l_returnflag AS grp, CAST($p AS DOUBLE) AS p,
         |  (CAST(round(percentile_cont($p) WITHIN GROUP (ORDER BY CAST(l_extendedprice AS DOUBLE)), 4) AS DOUBLE) + 0.0) AS pct
         |FROM lineitem GROUP BY 1""".stripMargin
    Seq("0.25", "0.5", "0.75", "0.95").map(one).mkString("", "\nUNION ALL\n", "\nORDER BY grp, p")
  }

  val keys: Seq[Key] = Seq(
    exact("percentiles_range", percentilesRange, percentilesRangeSql))
}
