package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see SURVEY.md §2 for the inventory.
  * Each key runs one operator's query; `oracleSql` holds the DuckDB
  * equivalent the driver hash-compares against. Every module declares
  * its keys once (`Key.exact` / `Key.rowsOnly`); both maps derive from
  * that one list.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("feed_pipeline")(spark, "/root/testdata/sf0.001")

  /** Each module once; a key name declared twice fails initialization. */
  private val catalog: Map[String, Key] = Key.byName(Seq(
    Analytics.keys, FeedBlocks.keys, TextOps.keys, GraphOps.keys,
    Round2Ops.keys, Round3Ops.keys, Round4Ops.keys, Round5Ops.keys,
    Round6Ops.keys, Round8Ops.keys, Round9Ops.keys, Round10Ops.keys,
    Round11Ops.keys, Round12Ops.keys, Round13Ops.keys, Round14Ops.keys,
    Round15Ops.keys, Round16Ops.keys, Round17Ops.keys, Round18Ops.keys,
    Round19Ops.keys, Round20Ops.keys, Round21Ops.keys, Round22Ops.keys,
    Round23Ops.keys, Round24Ops.keys, Round25Ops.keys, DssOps.keys,
    BehaviorOps.keys, ExperimentOps.keys).flatten)

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map { case (k, key) =>
      k -> ((s: SparkSession, dir: String) => key.run(GraftSession.tune(s), dir))
    }

  /** DuckDB oracle SQL per query key (rows-only ops omitted). */
  val oracleSql: Map[String, String] =
    catalog.collect { case (k, Key(_, _, Some(sql))) => k -> sql }
}
