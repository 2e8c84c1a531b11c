package graft

import graft.sources.Layout
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the engine's table catalog.
  *
  * Each loader is a plain parquet scan: Catalyst pushes filters and
  * prunes columns into the scan, so callers never pre-materialize.
  * At 100 TB these paths would be time/key-partitioned directories and
  * the same code gets partition pruning for free.
  *
  * Every table's schema is declared once, in [[Ddl]], and each scan
  * reads with it: building a loader's DataFrame then only lists files
  * and launches no Spark job (an inferred schema costs one
  * footer-reading job per load). With a declared schema a column the
  * file lacks reads as nulls instead of failing, so TablesSpec pins
  * declared == inferred for every table at every test SF.
  */
object Tables {

  /** Each table's columns, in file order, as the parquet files hold
    * them. The timestamp columns (events.ts, lineitem.l_shipdate,
    * orders.o_orderdate) are INT64 TIMESTAMP(MICROS) without UTC
    * adjustment, which the session reads as TIMESTAMP (see
    * GraftSession.tune).
    */
  val Ddl: Map[String, String] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" ->
      "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, " +
      "p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  private val layouts: Map[String, Layout] = Ddl.map { case (t, ddl) => t -> Layout(ddl) }

  def region(s: SparkSession, dir: String): DataFrame = load(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame = load(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame = load(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame = load(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame = load(s, dir, "lineitem")
  def events(s: SparkSession, dir: String): DataFrame = load(s, dir, "events")
  def documents(s: SparkSession, dir: String): DataFrame = load(s, dir, "documents")
  // NOTE (r10, measured): fanning embeddings HERE for every consumer
  // was a wash (family A/B 39.6 → 38.3 s): the brute-distance rows won
  // 1-2 s each, but the multi-pipeline reports (ann_recall_report,
  // ann_probe_curve, embed_kmeans_report) reference this table many
  // times and paid the exchange + planning cost per reference. The fan
  // is applied inside the measured winners instead.
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")

  private def load(s: SparkSession, dir: String, name: String): DataFrame =
    layouts(name).read(s, s"$dir/$name.parquet")
}
