package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash band index: the NEAR-dup complement of
  * `Sources.buildHashIndex` (exact dedup's persisted state), closing
  * the incremental-intake family — day over day, a 100 TB pipeline
  * cannot re-shingle history to ask "is today's batch a near-copy of
  * anything we already kept"; it keeps the banded signatures instead:
  *
  *   <dir>/bands/  (doc_id, sig ARRAY<BIGINT> 16, band INT, bandhash
  *                 INT; [[NeardupIndex.Bands]]) — 4 rows per historical
  *                 doc, ~2 orders smaller than the text it summarizes
  *
  * Intake = the same two-step as batch MinHash-LSH
  * (`TextOps.minhashPairs`), but the candidate join runs NEW-vs-INDEX
  * and NEW-vs-NEW only — never history-vs-history:
  *   1. batch self-dedup: banded self-join (hot-bucket capped), drop
  *      the younger doc of any pair with est. Jaccard ≥ 0.5;
  *   2. anti-match against the index: a new doc sharing a (band,
  *      bandhash) bucket with a historical signature at est ≥ 0.5 is
  *      dropped.
  * Survivors' band rows append to the index. Because a re-delivered
  * batch now MATCHES its own signatures in the index (est = 1), the
  * fold is idempotent: re-ingest admits nothing and appends nothing
  * (spec-pinned, like the exact index's re-delivery no-op).
  *
  * Signatures use the production xxhash64 permutations, so the entry
  * is rows-only by declared design — the md5 twin `dedup_minhash_md5`
  * oracle-pins the identical banded-LSH pipeline shape, and the spec
  * pins planted near-dup rejection / novel admission / idempotence.
  */
object NeardupIndex {

  private val sigCols = (0 until 16).map(i => col(s"m$i"))

  /** `<dir>/bands`: one row per (doc, band). */
  val Bands = Layout("doc_id BIGINT, sig ARRAY<BIGINT>, band INT, bandhash INT")

  /** Banded rows of a (doc_id, text) frame, signature packed to one
    * array column for storage and zip_with matching.
    */
  private def bandRows(docsDf: DataFrame): DataFrame =
    graft.queries.TextOps.minhashBandedRows(docsDf)
      .select(col("doc_id"), array(sigCols: _*).as("sig"), col("band"), col("bandhash"))

  def build(docs: DataFrame, outDir: String): Unit =
    Bands.conform(bandRows(docs)).write.mode("overwrite").parquet(s"$outDir/bands")

  def read(s: SparkSession, indexDir: String): DataFrame = Bands.read(s, s"$indexDir/bands")

  /** Append the admitted docs' band rows (call after [[intake]] with
    * the docs it admitted — by construction they matched nothing, so
    * the append introduces no duplicate signatures).
    */
  def append(admittedDocs: DataFrame, indexDir: String): Unit =
    Bands.conform(bandRows(admittedDocs)).write.mode("append").parquet(s"$indexDir/bands")

  private def estJaccard(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    size(filter(zip_with(a, b, (x, y) => x === y), m => m)).cast("double") / 16.0

  /** New docs that survive both the within-batch near-dedup and the
    * index anti-match. Both candidate joins key on (band, bandhash)
    * buckets with the hot-bucket cap applied to the batch side —
    * bounded per-key output at any scale, the r6 guard contract.
    */
  def intake(newDocs: DataFrame, index: DataFrame, threshold: Double = 0.5): DataFrame = {
    val guarded = graft.queries.TextOps
      .dropHotBuckets(bandRows(newDocs), Seq("band", "bandhash"), "neardup_intake_hot_buckets", None)
    // 1. within-batch: younger doc of any matching pair drops
    val selfDupes = guarded
      .select(col("band"), col("bandhash"), col("doc_id").as("a"), col("sig").as("sig_a"))
      .join(
        guarded.select(col("band"), col("bandhash"), col("doc_id").as("b"), col("sig").as("sig_b")),
        Seq("band", "bandhash"))
      .filter(col("a") < col("b") && estJaccard(col("sig_a"), col("sig_b")) >= threshold)
      .select(col("b").as("doc_id")).distinct()
    // 2. against history: any bucket-sharing historical signature match
    val histDupes = guarded
      .join(
        index.select(col("band"), col("bandhash"), col("sig").as("sig_h")),
        Seq("band", "bandhash"))
      .filter(estJaccard(col("sig"), col("sig_h")) >= threshold)
      .select(col("doc_id")).distinct()
    newDocs
      .join(selfDupes, Seq("doc_id"), "left_anti")
      .join(histDupes, Seq("doc_id"), "left_anti")
  }
}
