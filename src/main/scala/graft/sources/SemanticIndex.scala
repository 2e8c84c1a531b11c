package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Registry

/** Persisted SEMANTIC dedup index — the third member of the
  * incremental-intake trilogy (exact: `Sources.buildHashIndex`;
  * near-dup: [[NeardupIndex]]; semantic: this). History lives as the
  * trained IVF layout ([[IvfIndex]]: centroids + inverted lists
  * partitioned by cent_id), so asking "is today's batch a semantic
  * copy of anything kept" probes O(batch × probes/k) of history —
  * never re-embedding-scanning it:
  *
  *   1. batch vectors assign to their `probes` nearest centroids
  *      (broadcast of k·dim);
  *   2. vs history: join ONLY the probed list partitions (the
  *      IvfIndex DPP device), drop on cosine ≥ τ;
  *   3. in-batch: pairs sharing a probed centroid, younger id drops —
  *      the dedup_semantic keep rule.
  *
  * Survivors append to their nearest list partition; a re-delivered
  * batch then matches itself at cosine 1 ⇒ idempotent fold
  * (spec-pinned, like both sibling indexes). Same probe-recall trade
  * as dedup_semantic_ivf: a duplicate pair probing disjoint lists is
  * missed — the documented IVF candidate-recall trade, tuned by
  * `probes`.
  */
object SemanticIndex {

  def build(emb: DataFrame, outDir: String, k: Int = 16, iters: Int = 2): Unit =
    IvfIndex.build(emb, outDir, k, iters)

  private def cents(s: SparkSession, indexDir: String): DataFrame =
    IvfIndex.centroids(s, indexDir)
      .select(col("cent_id").cast("long").as("cent_id"), col("ce"))

  /** New (vec_id, e) rows surviving both the in-batch semantic dedup
    * and the history anti-match.
    */
  def intake(
      s: SparkSession, indexDir: String, newVecs: DataFrame,
      threshold: Double = 0.4, probes: Int = 2): DataFrame = {
    val probed = graft.queries.TextOps
      .nearestCentroids(newVecs, cents(s, indexDir), "vec_id", "e", probes)
      .withColumn("cent_id", col("cent_id").cast("int"))
    val histDupes = probed
      .join(
        IvfIndex.lists(s, indexDir).select(
          col("cent_id"), col("vec_id").as("h_id"), col("e").as("he")),
        Seq("cent_id"))
      .filter(Registry.cosine(col("e"), col("he")) >= threshold)
      .select(col("vec_id")).distinct()
    val l = probed.select(col("cent_id"), col("vec_id").as("a"), col("e").as("ea"))
    val r = probed.select(col("cent_id"), col("vec_id").as("b"), col("e").as("eb"))
    val selfDupes = l.join(r, Seq("cent_id"))
      .filter(col("a") < col("b") && Registry.cosine(col("ea"), col("eb")) >= threshold)
      .select(col("b").as("vec_id")).distinct()
    newVecs
      .join(selfDupes, Seq("vec_id"), "left_anti")
      .join(histDupes, Seq("vec_id"), "left_anti")
  }

  /** Fold admitted vectors into their nearest list partition. */
  def append(s: SparkSession, admitted: DataFrame, indexDir: String): Unit =
    IvfIndex.Lists.conform(graft.queries.TextOps
      .nearestCentroids(admitted, cents(s, indexDir), "vec_id", "e", 1))
      .write.mode("append").partitionBy("cent_id").parquet(s"$indexDir/lists")
}
