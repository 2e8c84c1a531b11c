package graft

import graft.sources.{InvertedIndex, IvfIndex, Layout, NeardupIndex, SemanticIndex}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Pins the declared schemas to the files. A scan with a declared
  * schema reads a column the file lacks as nulls instead of failing,
  * so these checks are what fails loudly when data and declaration
  * drift apart.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(cores = 4, shufflePartitions = 4)
  val sfs = Seq("sf0.001", "sf0.01", "sf0.1").map("/root/testdata/" + _)
  val dir = sfs.head

  private val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region _, "nation" -> Tables.nation _,
    "customer" -> Tables.customer _, "supplier" -> Tables.supplier _,
    "part" -> Tables.part _, "orders" -> Tables.orders _,
    "lineitem" -> Tables.lineitem _, "events" -> Tables.events _,
    "documents" -> Tables.documents _, "embeddings" -> Tables.embeddings _)

  private def inferred(path: String): StructType = spark.read.parquet(path).schema

  private def assertLayout(layout: Layout, path: String): Unit =
    assert(inferred(path) == layout.schema,
      s"$path holds ${inferred(path).toDDL}, declared ${layout.schema.toDDL}")

  /** Spark jobs started while `f` runs (the listener bus is async, so
    * the count is read after a pause).
    */
  private def jobsDuring(f: => Unit): Int = {
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(counter)
    try { f; Thread.sleep(1000); jobs.get() }
    finally spark.sparkContext.removeSparkListener(counter)
  }

  private def vectors(d: String): DataFrame = Tables.embeddings(spark, d)
    .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))

  test("every table's declared schema equals the parquet schema at every SF") {
    assert(loaders.map(_._1).toSet == Tables.Ddl.keySet)
    for (sf <- sfs; (name, load) <- loaders) {
      val declared = load(spark, sf).schema
      val actual = inferred(s"$sf/$name.parquet")
      assert(declared == actual,
        s"$sf/$name: declared ${declared.toDDL} but the file holds ${actual.toDDL}")
    }
  }

  test("the inverted index's postings and stats match their declared layouts after build and append") {
    val idx = Files.createTempDirectory("graft_bm_layout").toString
    val d = Tables.documents(spark, dir)
    InvertedIndex.build(d.filter(col("doc_id") < 250), idx)
    assertLayout(InvertedIndex.Postings, s"$idx/postings")
    assertLayout(InvertedIndex.Stats, s"$idx/stats")
    InvertedIndex.append(d.filter(col("doc_id") >= 250), idx)
    assertLayout(InvertedIndex.Postings, s"$idx/postings")
    assertLayout(InvertedIndex.Stats, s"$idx/stats")
  }

  test("the IVF index's centroids and lists match their declared layouts after build and append") {
    val idx = Files.createTempDirectory("graft_ivf_layout").toString
    val v = vectors(dir)
    IvfIndex.build(v.filter(col("vec_id") < 200), idx)
    assertLayout(IvfIndex.Centroids, s"$idx/centroids")
    assertLayout(IvfIndex.Lists, s"$idx/lists")
    SemanticIndex.append(spark, v.filter(col("vec_id") >= 200), idx)
    assertLayout(IvfIndex.Lists, s"$idx/lists")
  }

  test("the near-dup index's bands match their declared layout after build and append") {
    val idx = Files.createTempDirectory("graft_nd_layout").toString
    val d = Tables.documents(spark, dir)
    NeardupIndex.build(d.filter(col("doc_id") < 100), idx)
    assertLayout(NeardupIndex.Bands, s"$idx/bands")
    NeardupIndex.append(d.filter(col("doc_id") >= 100 && col("doc_id") < 150), idx)
    assertLayout(NeardupIndex.Bands, s"$idx/bands")
  }

  test("building a table read, a BM25 search or an ANN search launches no Spark job") {
    val bm = Files.createTempDirectory("graft_bm_jobs").toString
    val ivf = Files.createTempDirectory("graft_ivf_jobs").toString
    val nd = Files.createTempDirectory("graft_nd_jobs").toString
    InvertedIndex.build(Tables.documents(spark, dir), bm)
    IvfIndex.build(vectors(dir), ivf)
    NeardupIndex.build(Tables.documents(spark, dir).filter(col("doc_id") < 100), nd)
    // the counter sees the footer-reading job an inferred schema costs
    assert(jobsDuring(spark.read.parquet(s"$dir/region.parquet")) > 0)
    val built = jobsDuring {
      for (sf <- sfs; (_, load) <- loaders) load(spark, sf)
      InvertedIndex.search(spark, bm, Seq("vector", "hash", "stream", "vector"), 10)
      val q = vectors(dir).filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("e").as("qe"))
      IvfIndex.search(spark, ivf, q)
      // and a near-dup index read
      NeardupIndex.read(spark, nd)
    }
    assert(built == 0, s"building the reads launched $built Spark job(s)")
  }
}
