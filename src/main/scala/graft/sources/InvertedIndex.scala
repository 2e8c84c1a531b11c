package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted index for BM25 retrieval: the build-once /
  * query-many layout behind `bm25_indexed`. `bm25_search` re-scans the
  * whole corpus per query — correct, but at 100 TB a retrieval query
  * should touch the postings of ITS terms, not every document. This
  * index materializes:
  *
  *   <dir>/postings/  (doc_id, token, tf, dl) PARTITIONED BY bucket —
  *                    bucket = xxhash64(token) mod 64, so one term's
  *                    postings live in exactly one storage partition
  *   <dir>/stats/     (n_docs, tot_dl) — one row, the corpus-level
  *                    BM25 constants
  *
  * A query joins the postings scan against its (bucket, token) term
  * list: the bucket key is the PARTITION column, so dynamic partition
  * pruning skips every bucket no query term hashes into (pinned by
  * test), and per-term document frequency is an aggregate over the
  * already-pruned postings — the full-corpus scan never happens.
  * Postings carry the doc length (the BM25 norm) denormalized, the
  * standard posting-list layout, so scoring needs no second doc join.
  */
object InvertedIndex {

  val Buckets = 64

  def bucketOf(tok: Column): Column = pmod(xxhash64(tok), lit(Buckets.toLong)).cast("int")

  /** `<dir>/postings`: one row per (doc, token), partitioned by bucket. */
  val Postings = Layout("doc_id BIGINT, token STRING, tf BIGINT, dl INT, bucket INT")

  /** `<dir>/stats`: one partial row per build or append. */
  val Stats = Layout("n_docs BIGINT, tot_dl BIGINT")

  private def docLengths(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), size(filter(split(col("text"), " "), t => t =!= "")).as("dl"))
    .filter(col("dl") > 0)

  private def postingRows(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    .filter(col("token") =!= "")
    .groupBy(col("doc_id"), col("token"))
    .agg(count(lit(1)).as("tf"))
    .join(docLengths(docs), Seq("doc_id"))
    .withColumn("bucket", bucketOf(col("token")))

  private def statsRow(docs: DataFrame): DataFrame =
    docLengths(docs).agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))

  /** One pass over (doc_id, text): per-doc token counts joined with
    * the per-row doc length, hashed into bucket partitions.
    */
  def build(docs: DataFrame, outDir: String): Unit = write(docs, outDir, SaveMode.Overwrite)

  /** Fold a NEW batch of docs into an existing index: postings rows
    * append into their bucket partitions, corpus stats append as a
    * partial row (reads SUM the partials). Because tf/dl rows are
    * per-doc and stats are associative sums, build(A) then append(B)
    * ≡ build(A ∪ B) EXACTLY — so a search over the incrementally-built
    * index equals the full-rebuild search byte-for-byte (spec-pinned,
    * and `bm25_incremental` shares bm25_search's oracle on that
    * guarantee). Caller contract: a batch is appended once (pair with
    * the hash-index intake for exactly-once ingestion).
    */
  def append(docs: DataFrame, indexDir: String): Unit = write(docs, indexDir, SaveMode.Append)

  private def write(docs: DataFrame, indexDir: String, mode: SaveMode): Unit = {
    Postings.conform(postingRows(docs)).repartition(col("bucket"))
      .write.mode(mode).partitionBy("bucket").parquet(s"$indexDir/postings")
    Stats.conform(statsRow(docs)).write.mode(mode).parquet(s"$indexDir/stats")
  }

  def postings(s: SparkSession, indexDir: String): DataFrame =
    Postings.read(s, s"$indexDir/postings")

  /** Corpus stats — the SUM of the build + append partial rows. */
  def stats(s: SparkSession, indexDir: String): DataFrame =
    Stats.read(s, s"$indexDir/stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("tot_dl")).as("tot_dl"))

  /** BM25 top-k over the index: identical scoring algebra to
    * `Round5Ops.bm25SearchFor` (k1=1.2, b=0.75, the +1-smoothed idf),
    * so searching the index returns byte-identical rows to the
    * corpus-scan form — `bm25_indexed` shares `bm25_search`'s oracle
    * verbatim on that guarantee.
    */
  def search(s: SparkSession, indexDir: String, terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val q = {
      import s.implicits._
      terms.toDF("token").withColumn("bucket", bucketOf(col("token")))
    }
    // the term list is a query-time CONSTANT, so the bucket set is
    // resolved eagerly and pushed as a STATIC partition filter: the
    // scan lists only the probed bucket directories, which beats
    // relying on runtime DPP for a constant relation. Catalyst folds
    // the projection into the local relation, so the collect runs no
    // Spark job; de-duplicating here rather than with .distinct()
    // keeps it that way (an aggregate would be a job)
    val probedBuckets = q.select(col("bucket")).collect().map(_.getInt(0)).toSeq.distinct
    val tf = postings(s, indexDir)
      .filter(col("bucket").isin(probedBuckets: _*))
      .join(broadcast(q), Seq("bucket", "token"))
    val dfr = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfr), Seq("token"))
      .crossJoin(broadcast(stats(s, indexDir)))
      .withColumn("avgdl", col("tot_dl").cast("double") / col("n_docs"))
      .withColumn(
        "idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn(
        "tscore",
        round(
          col("idf") * (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))),
          12).cast(graft.OracleMath.Dec12))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_terms"),
        graft.OracleMath.emit(sum(col("tscore")).cast("double"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }
}
