package graft.sources

import graft.queries.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF index: the train-once / search-many layout (SURVEY §7
  * round-4 candidate). `embed_ivf_knn` retrains its centroids on every
  * call — correct, but at 100 TB the k-means pass dominates and its
  * output never changes between queries. This index materializes the
  * two artifacts once:
  *
  *   <dir>/centroids/   (cent_id INT, ce ARRAY<DOUBLE>)  — k rows
  *   <dir>/lists/       (vec_id, e) PARTITIONED BY cent_id — the
  *                      inverted lists, one storage partition per list
  *
  * so a search touches ONLY the probed lists: the probe → lists join is
  * on the PARTITION column, which Spark's dynamic partition pruning
  * turns into a storage-level skip of every unprobed list (pinned by
  * test). That is the actual payoff of IVF at scale — the candidate
  * read is O(probes/k of the corpus), not a full scan — and it
  * composes with any object store, since partition pruning happens at
  * file-listing time.
  *
  * Doubles round-trip parquet bit-exactly (test-pinned), so searching
  * the persisted index returns byte-identical results to the retrain
  * form (`embed_ivf_knn_indexed` ≡ `embed_ivf_knn`, test-pinned).
  */
object IvfIndex {

  /** `<dir>/centroids`: one row per trained centroid. */
  val Centroids = Layout("cent_id INT, ce ARRAY<DOUBLE>")

  /** `<dir>/lists`: the inverted lists, partitioned by cent_id. */
  val Lists = Layout("vec_id BIGINT, e ARRAY<DOUBLE>, cent_id INT")

  /** Train centroids on (vec_id, e) and write both index artifacts.
    * cent_id is stored as INT (k never approaches 2^31; partition
    * values read back as their written type this way).
    */
  def build(emb: DataFrame, outDir: String, k: Int = 16, iters: Int = 2): Unit = {
    val cents = Centroids.conform(TextOps.ivfCentroids(emb, k, iters))
    cents.write.mode("overwrite").parquet(s"$outDir/centroids")
    Lists.conform(TextOps
      .nearestCentroids(emb, cents.select(col("cent_id").cast("long").as("cent_id"), col("ce")),
        "vec_id", "e", 1))
      .repartition(col("cent_id"))
      .write.mode("overwrite").partitionBy("cent_id").parquet(s"$outDir/lists")
  }

  def centroids(s: SparkSession, indexDir: String): DataFrame =
    Centroids.read(s, s"$indexDir/centroids")

  def lists(s: SparkSession, indexDir: String): DataFrame =
    Lists.read(s, s"$indexDir/lists")

  /** ANN search over the persisted index: assign each query row
    * (query_id, qe) to its `probes` nearest centroids (broadcast of
    * k·dim), join the probed list partitions only (DPP), exact-cosine
    * rank within candidates, top-k per query.
    */
  def search(s: SparkSession, indexDir: String, queries: DataFrame,
      topK: Int = 3, probes: Int = 2): DataFrame = {
    val cents = centroids(s, indexDir)
      .select(col("cent_id").cast("long").as("cent_id"), col("ce"))
    val probed = TextOps
      .nearestCentroids(queries, cents, "query_id", "qe", probes)
      .withColumn("cent_id", col("cent_id").cast("int"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    // the probe side is |queries|·probes rows — BROADCAST it so the
    // lists relation is always the streamed (prunable) side: at a tiny
    // SF the planner would otherwise happily broadcast the LISTS and
    // dynamic partition pruning would never fire (Serve measured
    // 16/16 list files read before this hint, ≤ probes·|queries| after)
    broadcast(probed)
      .join(lists(s, indexDir), Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", graft.functions.Registry.cosine(col("qe"), col("e")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(
        col("query_id"),
        col("vec_id"),
        col("cent_id").cast("long").as("cent_id"),
        graft.OracleMath.emit(col("cosine"), 6).as("cosine"))
      .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
  }
}
