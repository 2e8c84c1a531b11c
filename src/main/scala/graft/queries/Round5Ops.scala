package graft.queries

import graft.{Key, OracleMath, Tables}
import graft.Key.{exact, rowsOnly}
import graft.functions.Registry
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 additions (beyond the reference's surface): the
  * normalization-aware side of the dedup family. Byte-exact dedup
  * (dedup_exact_docs) misses re-encodings — the same article with
  * different casing, punctuation or whitespace is a distinct hash.
  * Real intake pipelines (CCNet, RefinedWeb) normalize BEFORE hashing;
  * these two operators add that step and the cross-source audit built
  * on it.
  */
object Round5Ops {

  /** The CCNet-style pre-hash normalization: lowercase, strip
    * non-alphanumerics, collapse whitespace. A codegen'd per-row map —
    * composes with scan pushdown, shuffles nothing by itself. Mirrored
    * literally in the DuckDB oracles (regexp_replace global flag).
    */
  private[graft] def normText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  private[graft] val NormSqlExpr =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"

  /** #81 normalization-aware exact dedup: hash the NORMALIZED text,
    * keep the min doc_id per group (order-free, same keep rule as the
    * whole dedup family), report how many variants collapsed. One
    * hash-key shuffle — identical scale shape to dedup_exact_docs; the
    * planted-variant test pins that case/punctuation/whitespace
    * variants fold into one survivor while distinct docs survive.
    */
  def dedupNormalized(s: SparkSession, dir: String): DataFrame =
    dedupNormalizedOver(Tables.documents(s, dir))

  /** The core over any (doc_id, text) frame — test entry point. */
  private[graft] def dedupNormalizedOver(d: DataFrame): DataFrame =
    d.select(col("doc_id"), md5(normText(col("text"))).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_variants"))
      .select(col("doc_id"), col("n_variants"))
      .orderBy(col("doc_id"))

  val dedupNormalizedSql: String =
    s"""WITH n AS (
       |  SELECT doc_id, md5($NormSqlExpr) AS h FROM documents
       |)
       |SELECT min(doc_id) AS doc_id, count(*) AS n_variants
       |FROM n GROUP BY h ORDER BY doc_id""".stripMargin

  /** #82 cross-source duplication audit: per source, how many docs are
    * duplicated (normalized-hash collisions) anywhere, and how many
    * collide with a DIFFERENT source — the mirror/re-crawl overlap a
    * data recipe must know before weighting sources (the corpus_mix
    * companion). Shape: one shuffle on the hash (stats agg + join on
    * the SAME key — co-partitioned, no extra exchange), then one
    * shuffle on source; both keys are the natural ones at 100 TB.
    */
  def corpusOverlapReport(s: SparkSession, dir: String): DataFrame =
    corpusOverlapReportOver(Tables.documents(s, dir))

  private[graft] def corpusOverlapReportOver(d: DataFrame): DataFrame = {
    val n = d.select(col("doc_id"), col("source"), md5(normText(col("text"))).as("h"))
    val stats = n
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_copies"), count_distinct(col("source")).as("n_sources"))
    n.join(stats, Seq("h"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_duplicated"),
        sum(when(col("n_sources") > 1, 1L).otherwise(0L)).as("n_cross_source"))
      .orderBy(col("source"))
  }

  val corpusOverlapReportSql: String =
    s"""WITH n AS (
       |  SELECT doc_id, source, md5($NormSqlExpr) AS h FROM documents
       |), st AS (
       |  SELECT h, count(*) AS n_copies, count(DISTINCT source) AS n_sources
       |  FROM n GROUP BY h
       |)
       |SELECT n.source, count(*) AS n_docs,
       |  CAST(SUM(CASE WHEN st.n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_duplicated,
       |  CAST(SUM(CASE WHEN st.n_sources > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_source
       |FROM n JOIN st USING (h)
       |GROUP BY n.source ORDER BY source""".stripMargin

  import OracleMath._

  /** #83 BM25 retrieval: the standard lexical ranking function (the
    * workhorse of retrieval-based decontamination and hard-negative
    * mining) for a literal term set, Lucene idf form, k1=1.2 b=0.75.
    * Shape at 100 TB: the token pass filters to the query terms BEFORE
    * any shuffle (tf is a (doc, term) agg over a tiny filtered slice);
    * doc length is a per-row `size(filter(split))` computed in the
    * scan — zero fan-out, no (doc) shuffle; df (≤ |terms| rows) and the
    * single-row corpus stats arrive by provably-bounded broadcast; the
    * top-20 cut is TakeOrderedAndProject, never a global sort. Per-term
    * scores round at 12 dp into the order-free DECIMAL sum
    * (OracleMath rule), so the ranking is engine-portable.
    */
  def bm25Search(s: SparkSession, dir: String): DataFrame =
    bm25SearchFor(s, dir, Seq("vector", "hash", "stream"), k = 20)

  /** The reusable form: any term set, any cutoff (catalog entry above
    * pins one instance against the oracle).
    */
  def bm25SearchFor(s: SparkSession, dir: String, terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val d = Tables.documents(s, dir)
    // doc length is a PER-ROW map computed in the scan — no explode, no
    // (doc) shuffle; the r5 form exploded every token (~8× the text
    // volume) to count what size(filter(split)) reads off the row.
    // dl > 0 keeps the old semantics exactly: a doc with no non-empty
    // token had no rows in the exploded form either.
    val dl = d
      .select(col("doc_id"), size(filter(split(col("text"), " "), t => t =!= "")).as("dl"))
      .filter(col("dl") > 0)
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
    val tf = d
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(dl, Seq("doc_id"))
      .join(broadcast(dfr), Seq("token")) // ≤ |terms| rows by construction
      .crossJoin(broadcast(stats)) // single row
      .withColumn("avgdl", col("tot_dl").cast("double") / col("n_docs"))
      .withColumn("idf", log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn(
        "tscore",
        round(
          col("idf") * (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))),
          12).cast(OracleMath.Dec12))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), emit(sum(col("tscore")).cast("double"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  val bm25SearchSql: String =
    """WITH dl AS (
      |  SELECT doc_id, dl FROM (
      |    SELECT doc_id, len(list_filter(string_split(text, ' '), t -> t <> '')) AS dl
      |    FROM documents
      |  ) WHERE dl > 0
      |),
      |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot_dl FROM dl),
      |tf AS (
      |  SELECT doc_id, token, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
      |  )
      |  WHERE token IN ('vector', 'hash', 'stream') GROUP BY 1, 2
      |),
      |dfr AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |term AS (
      |  SELECT tf.doc_id,
      |    CAST(round(
      |      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2) /
      |        (tf + 1.2 * (0.25 + 0.75 * dl.dl / (CAST(tot_dl AS DOUBLE) / n_docs))),
      |      12) AS DECIMAL(38,12)) AS tscore
      |  FROM tf JOIN dl USING (doc_id) JOIN dfr USING (token) CROSS JOIN stats
      |)
      |SELECT doc_id, count(*) AS n_terms,
      |  (CAST(round(CAST(sum(tscore) AS DOUBLE), 4) AS DOUBLE) + 0.0) AS score
      |FROM term GROUP BY doc_id
      |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** #84 cross-document novelty: the share of a doc's distinct 3-grams
    * that appear in NO other document — the memorization/boilerplate
    * signal (doc_repetition's WITHIN-doc mirror): near-dups and
    * template text score ~0, fresh text ~0.4+ on this corpus. One gram
    * pass, one gram-key df agg, join back on the SAME key
    * (co-partitioned), one (doc) agg — the decontaminate shape, never
    * all-pairs. Flag folds on the ROUNDED share (engine-portable cut).
    * Docs under 3 words have no 3-grams and therefore no row — the
    * oracle drops them identically (they're below every length gate
    * anyway).
    */
  def docNovelty(s: SparkSession, dir: String): DataFrame =
    docNoveltyOver(Tables.documents(s, dir))

  /** The core over any (doc_id, text) frame — test entry point. */
  private[graft] def docNoveltyOver(d: DataFrame): DataFrame = {
    val g = TextOps.gramRows(d, 3, distinct = true)
    val dfr = g.groupBy(col("g")).agg(count(lit(1)).as("df"))
    g.join(dfr, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(
        col("doc_id"),
        col("n_grams"),
        col("n_unique"),
        emit(col("n_unique").cast("double") / col("n_grams"), 4).as("novelty"))
      .withColumn("flagged", (col("novelty") <= 0.05).cast("int"))
      .orderBy(col("doc_id"))
  }

  val docNoveltySql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id,
      |    unnest([ws[i]||' '||ws[i+1]||' '||ws[i+2]
      |            for i in range(1, greatest(len(ws) - 1, 1))]) AS g
      |  FROM w
      |),
      |dfr AS (SELECT g, count(*) AS df FROM g GROUP BY 1),
      |nov AS (
      |  SELECT doc_id, count(*) AS n_grams,
      |    CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
      |  FROM g JOIN dfr USING (g) GROUP BY doc_id
      |)
      |SELECT doc_id, n_grams, n_unique,
      |  (CAST(round(CAST(n_unique AS DOUBLE) / n_grams, 4) AS DOUBLE) + 0.0) AS novelty,
      |  CAST(round(CAST(n_unique AS DOUBLE) / n_grams, 4) <= 0.05 AS INT) AS flagged
      |FROM nov ORDER BY doc_id""".stripMargin

  /** #85 mixing weights from the mix report: turn corpus_mix_report's
    * observed per-source token shares into the sampling weights that
    * hit a UNIFORM target mixture, with the standard max-upsampling
    * cap (3 "epochs") real recipes apply so rare sources aren't
    * repeated into memorization — then the renormalized effective
    * share each source actually contributes under the cap. All inputs
    * are the report's already-rounded shares + exact counts; the one
    * cross-row sum (renormalization) goes through the order-free
    * DECIMAL rule; everything is per-source rows over a bounded
    * relation (#sources), so the whole op is broadcast-cheap at any
    * corpus size — the expensive part (the gated scan) is the report's.
    */
  def corpusMixWeights(s: SparkSession, dir: String): DataFrame = {
    // the report is #sources rows but derives from the full gated scan;
    // cut lineage so the scan runs once, not once per downstream agg
    val rep = graft.Lineage.cut(
      TextOps.corpusMixReport(s, dir).select(col("source"), col("kept_tokens"), col("mix_frac")))
    val nsrc = rep.agg(count(lit(1)).as("n_sources"))
    val w = rep
      .crossJoin(broadcast(nsrc)) // single row
      .withColumn("target", lit(1.0) / col("n_sources"))
      // a source whose every doc failed the gates has share 0: define
      // its weight as 0 (nothing to upsample) rather than riding the
      // engines' divergent /0 semantics (Spark NULL vs DuckDB ±Inf)
      .withColumn(
        "weight",
        when(col("mix_frac") === 0, lit(0.0))
          .otherwise(emit(least(col("target") / col("mix_frac"), lit(3.0)), 6)))
      .withColumn("eff", round(col("weight") * col("mix_frac"), 12).cast(OracleMath.Dec12))
    val tot = w.agg(sum(col("eff")).as("eff_tot"))
    w.crossJoin(broadcast(tot)) // single row
      .select(
        col("source"),
        col("kept_tokens"),
        col("mix_frac"),
        col("weight"),
        emit(col("eff").cast("double") / col("eff_tot").cast("double"), 6).as("eff_share"))
      .orderBy(col("source"))
  }

  val corpusMixWeightsSql: String =
    s"""WITH rep AS (${TextOps.corpusMixReportSql}),
       |nsrc AS (SELECT count(*) AS n_sources FROM rep),
       |w AS (
       |  SELECT source, kept_tokens, mix_frac,
       |    CASE WHEN mix_frac = 0 THEN 0.0
       |         ELSE (CAST(round(least((1.0 / n_sources) / mix_frac, 3.0), 6) AS DOUBLE) + 0.0)
       |    END AS weight,
       |    CAST(round(
       |      CASE WHEN mix_frac = 0 THEN 0.0
       |           ELSE CAST(round(least((1.0 / n_sources) / mix_frac, 3.0), 6) AS DOUBLE)
       |      END * mix_frac, 12) AS DECIMAL(38,12)) AS eff
       |  FROM rep CROSS JOIN nsrc
       |),
       |tot AS (SELECT sum(eff) AS eff_tot FROM w)
       |SELECT source, kept_tokens, mix_frac, weight,
       |  (CAST(round(CAST(eff AS DOUBLE) / CAST(eff_tot AS DOUBLE), 6) AS DOUBLE) + 0.0) AS eff_share
       |FROM w CROSS JOIN tot ORDER BY source""".stripMargin

  /** #86 event anomaly detection: per event type, z-score each hourly
    * count against that type's own hourly mean/stddev and flag |z| ≥ 2
    * — the ops-dashboard "is this hour weird" primitive. The stats
    * come from exact integer sums (count, Σc, Σc²) so the double
    * mean/σ arithmetic is bit-identical across engines; z rounds at
    * 4 dp before the flag cut. Shape: one (type, hour) agg with
    * map-side partials, one per-type agg over a bounded relation, one
    * co-keyed join back — no window over a coarse key anywhere.
    */
  private[graft] def hourlyCounts(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(
        col("event_type"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00").as("hour"))
      .agg(count(lit(1)).as("cnt"))

  /** Per-type hourly mean/σ — the batch-trained baseline the STREAMING
    * anomaly detector (streaming.Streams.anomalyStream) joins against;
    * retrained on whatever cadence ops wants. Bounded output (#types).
    */
  def anomalyBaseline(s: SparkSession, dir: String): DataFrame =
    hourlyCounts(s, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_h"),
        sum(col("cnt")).as("s1"),
        sum(col("cnt") * col("cnt")).as("s2"))
      .select(
        col("event_type"),
        (col("s1").cast("double") / col("n_h")).as("mean"),
        // sample stddev divides by n_h - 1: a type with exactly ONE
        // hourly bucket would yield sd = NaN, which slips past the
        // sd === 0 guard downstream (NaN compares > 2.0 in both
        // engines) and flags z = NaN. A degenerate baseline reads as
        // "never anomalous", exactly like the constant-count sd = 0 case.
        when(
          col("n_h") > 1,
          sqrt((col("s2") - col("s1").cast("double") * col("s1") / col("n_h")) / (col("n_h") - 1)))
          .otherwise(lit(0.0))
          .as("sd"))

  def eventAnomalies(s: SparkSession, dir: String): DataFrame = {
    val hourly = hourlyCounts(s, dir)
    hourly.join(anomalyBaseline(s, dir), Seq("event_type"))
      // a type with constant hourly counts has σ=0: every hour is
      // baseline-normal (z=0), not an engine-divergent /0
      .withColumn(
        "z",
        when(col("sd") === 0, lit(0.0)).otherwise(emit((col("cnt") - col("mean")) / col("sd"), 4)))
      .withColumn("flagged", (abs(col("z")) >= 2.0).cast("int"))
      .select(col("event_type"), col("hour"), col("cnt"), col("z"), col("flagged"))
      .orderBy(col("event_type"), col("hour"))
  }

  val eventAnomaliesSql: String =
    """WITH hourly AS (
      |  SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2
      |),
      |st AS (
      |  SELECT event_type, count(*) AS n_h,
      |    CAST(sum(cnt) AS BIGINT) AS s1, CAST(sum(cnt * cnt) AS BIGINT) AS s2
      |  FROM hourly GROUP BY 1
      |),
      |sd AS (
      |  SELECT event_type, n_h, s1,
      |    CASE WHEN n_h > 1
      |         THEN sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n_h) / (n_h - 1))
      |         ELSE 0.0 END AS sd
      |  FROM st
      |),
      |z AS (
      |  SELECT event_type, hour, cnt,
      |    CASE WHEN sd = 0 THEN 0.0
      |         ELSE (CAST(round((cnt - CAST(s1 AS DOUBLE) / n_h) / sd, 4) AS DOUBLE) + 0.0)
      |    END AS z
      |  FROM hourly JOIN sd USING (event_type)
      |)
      |SELECT event_type, hour, cnt, z, CAST(abs(z) >= 2.0 AS INT) AS flagged
      |FROM z ORDER BY event_type, hour""".stripMargin

  /** #87 k-means clustering report over the embedding column (the
    * cluster-then-X primitive under semantic dedup, topic balancing,
    * and stratified curation): train 8 centroids with 2 Lloyd's
    * rounds (TextOps.ivfCentroids — the exact machinery the IVF index
    * ships), assign every vector to its nearest centroid, and report
    * per-cluster size, mean member→centroid cosine, and label purity
    * (majority-label share — embeddings carry a ground-truth label).
    * Training isn't SQL-expressible, so the entry is rows-only; the
    * spec pins sizes-sum-to-n and trained-tightness ≥ seeded-tightness.
    * Scale: every round is one O(n·k) broadcast compare + one (cid)
    * agg; the report itself aggregates k rows.
    */
  def embedKmeansReport(s: SparkSession, dir: String): DataFrame =
    embedKmeansReportWith(s, dir, trained = true)

  private[graft] def embedKmeansReportWith(
      s: SparkSession, dir: String, trained: Boolean): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"), col("label"))
    val vecs = emb.select(col("vec_id"), col("e"))
    val cents =
      if (trained) TextOps.ivfCentroids(vecs, 8, 2) else TextOps.seedCentroids(vecs, 8)
    // nearest-centroid argmax as a max_by aggregate (same tie order as
    // the old (csim DESC, cent_id ASC) window sort): partial combine
    // collapses the n·k candidates map-side — see TextOps.nearestCentroids
    val assigned = emb
      .crossJoin(broadcast(cents)) // k·dim doubles
      .withColumn("csim", Registry.cosine(col("e"), col("ce")))
      .groupBy(col("vec_id"))
      .agg(max_by(
        struct(col("cent_id"), col("csim"), col("label")),
        struct(col("csim"), negate(col("cent_id")).as("nid"))).as("_best"))
      .select(
        col("_best.cent_id").as("cent_id"),
        col("_best.csim").as("csim"),
        col("_best.label").as("label"))
    val purity = assigned
      .groupBy(col("cent_id"), col("label"))
      .agg(count(lit(1)).as("lc"))
      .groupBy(col("cent_id"))
      .agg(max(col("lc")).as("top_label_n"))
    assigned
      .groupBy(col("cent_id"))
      .agg(
        count(lit(1)).as("n_members"),
        emit(
          sum(round(col("csim"), 12).cast(OracleMath.Dec12)).cast("double") / count(lit(1)),
          4).as("mean_sim"))
      .join(purity, Seq("cent_id"))
      .select(
        col("cent_id"),
        col("n_members"),
        col("mean_sim"),
        emit(col("top_label_n").cast("double") / col("n_members"), 4).as("purity"))
      .orderBy(col("cent_id"))
  }

  /** #88 the full preprocessing recipe as ONE query — the integration
    * proof that the pipeline a data team actually ships (quality/
    * language gates → normalization-aware dedup → decontamination vs
    * the held-out eval docs → deterministic split assignment) composes
    * inside a single plan, ending in the corpus "data card": per
    * (split, source) doc and token counts. Scale shape: the gates are
    * per-row maps fused into the scan; dedup is one normalized-hash
    * shuffle; decontamination is the gram-key semi join over gate+dedup
    * SURVIVORS only (never all-pairs, and the gram pass shrinks with
    * every upstream stage); the split is a seeded per-row hash; the
    * card is one bounded (split, source) aggregate. Three shuffles
    * end to end, each on a natural key.
    */
  def corpusRecipe(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val gated = recipeGate(d)
    val w = Window.partitionBy(col("nh")).orderBy(col("doc_id"))
    val deduped = gated
      .withColumn("nh", md5(normText(col("text"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("source"), col("text"), col("n_words"))
    recipeTail(d, deduped)
  }

  /** The recipe's shared GATE stage (language / length / lexical
    * diversity — per-row maps fused into the scan), reused by the
    * near-dup variant (Round6Ops.corpusRecipeNeardup), which swaps
    * only the dedup stage between this and [[recipeTail]].
    */
  private[graft] def recipeGate(d: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    d.withColumn("n_words", size(words))
      .filter(
        TextOps.bestLang.getField("lang") === "en" &&
          col("n_words") >= 30 &&
          size(array_distinct(words)).cast("double") / col("n_words") >= 0.3)
  }

  /** The recipe's shared TAIL (decontaminate vs the held-out eval docs
    * → deterministic split → data card) over any deduped
    * (doc_id, source, text, n_words) working set.
    */
  private[graft] def recipeTail(d: DataFrame, deduped: DataFrame): DataFrame = {
    // the deduped working set is read twice (contamination grams + the
    // final anti-join) and its upstream is the expensive part of every
    // recipe variant (language gate + dedup stage): cut once (r9)
    val dd = graft.Lineage.cut(deduped)
    val evalGrams =
      TextOps.gramRows(d.filter(col("doc_id") < 5), 4).select(col("g")).distinct()
    val contaminated = TextOps.gramRows(dd.filter(col("doc_id") >= 5), 4)
      .join(evalGrams, Seq("g"), "left_semi")
      .select(col("doc_id"))
      .distinct()
    dd
      .filter(col("doc_id") >= 5)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .withColumn("h", md5(concat(lit("split1:"), col("doc_id").cast("string"))))
      .withColumn(
        "split",
        when(col("h") < "e", lit("train")).when(col("h") < "f", lit("val")).otherwise(lit("test")))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_tokens"))
      .orderBy(col("split"), col("source"))
  }

  val corpusRecipeSql: String =
    s"""WITH gated AS (
       |  SELECT doc_id, source, text, len(string_split(text, ' ')) AS n_words
       |  FROM documents
       |  WHERE (${TextOps.bestLangSql}).lang = 'en'
       |    AND len(string_split(text, ' ')) >= 30
       |    AND len(list_distinct(string_split(text, ' '))) * 1.0
       |        / len(string_split(text, ' ')) >= 0.3
       |),
       |dd AS (
       |  SELECT doc_id, source, text, n_words,
       |    row_number() OVER (PARTITION BY md5($NormSqlExpr) ORDER BY doc_id) AS rn
       |  FROM gated
       |),
       |deduped AS (SELECT doc_id, source, text, n_words FROM dd WHERE rn = 1),
       |ew AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE doc_id < 5),
       |eg AS (
       |  SELECT DISTINCT unnest([ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]
       |                          for i in range(1, greatest(len(ws)-2, 1))]) AS g
       |  FROM ew
       |),
       |cw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM deduped WHERE doc_id >= 5),
       |cg AS (
       |  SELECT DISTINCT doc_id,
       |    unnest([ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]
       |            for i in range(1, greatest(len(ws)-2, 1))]) AS g
       |  FROM cw
       |),
       |contaminated AS (SELECT DISTINCT cg.doc_id FROM cg JOIN eg USING (g)),
       |clean AS (
       |  SELECT doc_id, source, n_words FROM deduped
       |  WHERE doc_id >= 5 AND doc_id NOT IN (SELECT doc_id FROM contaminated)
       |)
       |SELECT
       |  CASE WHEN md5('split1:' || CAST(doc_id AS VARCHAR)) < 'e' THEN 'train'
       |       WHEN md5('split1:' || CAST(doc_id AS VARCHAR)) < 'f' THEN 'val'
       |       ELSE 'test' END AS split,
       |  source, count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS n_tokens
       |FROM clean GROUP BY 1, 2 ORDER BY split, source""".stripMargin

  /** #89 per-document filter audit — the "why was this doc dropped"
    * view a data team reads when ablating a recipe: every quality
    * signal the engine computes (language, length, lexical diversity,
    * Gopher repetition, unigram perplexity, cross-doc novelty) as an
    * ok/not column per doc plus the combined verdict. Docs too short
    * for a signal (no 2-/3-grams) default that signal to ok — absence
    * of evidence, and the length gate already catches them. Scale:
    * the three aggregated signals each key on doc_id, so the audit
    * joins are co-partitioned behind one exchange; the per-row gates
    * fuse into the scan. Cost is the union of its parts — each
    * already scale-shaped.
    */
  def docFilterAudit(s: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    val base = Tables.documents(s, dir).select(
      col("doc_id"),
      (TextOps.bestLang.getField("lang") === "en").cast("int").as("lang_ok"),
      (size(words) >= 30).cast("int").as("len_ok"),
      (size(array_distinct(words)).cast("double") / size(words) >= 0.3)
        .cast("int").as("diversity_ok"))
    val rep = Round4Ops.docRepetition(s, dir)
      .select(col("doc_id"), (lit(1) - col("flagged")).as("repetition_ok"))
    val ppl = Round4Ops.docPerplexity(s, dir)
      .select(col("doc_id"), (lit(1) - col("flagged")).as("perplexity_ok"))
    val nov = docNovelty(s, dir)
      .select(col("doc_id"), (lit(1) - col("flagged")).as("novelty_ok"))
    base
      .join(rep, Seq("doc_id"), "left")
      .join(ppl, Seq("doc_id"), "left")
      .join(nov, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("lang_ok"),
        col("len_ok"),
        col("diversity_ok"),
        coalesce(col("repetition_ok"), lit(1)).as("repetition_ok"),
        coalesce(col("perplexity_ok"), lit(1)).as("perplexity_ok"),
        coalesce(col("novelty_ok"), lit(1)).as("novelty_ok"))
      .withColumn(
        "kept",
        (col("lang_ok") === 1 && col("len_ok") === 1 && col("diversity_ok") === 1 &&
          col("repetition_ok") === 1 && col("perplexity_ok") === 1 && col("novelty_ok") === 1)
          .cast("int"))
      .orderBy(col("doc_id"))
  }

  val docFilterAuditSql: String =
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CAST((${TextOps.bestLangSql}).lang = 'en' AS INT) AS lang_ok,
       |    CAST(len(string_split(text, ' ')) >= 30 AS INT) AS len_ok,
       |    CAST(len(list_distinct(string_split(text, ' '))) * 1.0
       |         / len(string_split(text, ' ')) >= 0.3 AS INT) AS diversity_ok
       |  FROM documents
       |),
       |rep AS (SELECT doc_id, 1 - flagged AS repetition_ok FROM (${Round4Ops.docRepetitionSql})),
       |ppl AS (SELECT doc_id, 1 - flagged AS perplexity_ok FROM (${Round4Ops.docPerplexitySql})),
       |nov AS (SELECT doc_id, 1 - flagged AS novelty_ok FROM ($docNoveltySql))
       |SELECT base.doc_id, lang_ok, len_ok, diversity_ok,
       |  COALESCE(repetition_ok, 1) AS repetition_ok,
       |  COALESCE(perplexity_ok, 1) AS perplexity_ok,
       |  COALESCE(novelty_ok, 1) AS novelty_ok,
       |  CAST(lang_ok = 1 AND len_ok = 1 AND diversity_ok = 1
       |    AND COALESCE(repetition_ok, 1) = 1 AND COALESCE(perplexity_ok, 1) = 1
       |    AND COALESCE(novelty_ok, 1) = 1 AS INT) AS kept
       |FROM base
       |LEFT JOIN rep USING (doc_id) LEFT JOIN ppl USING (doc_id) LEFT JOIN nov USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** #90 the TPC-H Q18 pattern (large-volume-customer): a HEAVY
    * aggregation over the fact table, a HAVING cut that keeps ~1% of
    * groups, then enrichment joins and a top-k — the canonical
    * "aggregate first, join the survivors" shape. Scale: the
    * (l_orderkey) agg does map-side partial combine and the HAVING
    * filter kills ~99% of groups BEFORE any join (join input shrinks
    * with selectivity, not data size); the join back to orders is on
    * the agg key; the final cut plans as TakeOrderedAndProject. No
    * join hints — the surviving-group relation scales with the data,
    * so AQE picks broadcast vs shuffle from actual runtime size.
    */
  def q18TopkBigAgg(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(emit(dsum(col("l_quantity"))).as("sum_qty"))
      .filter(col("sum_qty") > 250.0)
    big
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .select(
        col("c_name"),
        col("c_custkey"),
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"),
        col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  val q18TopkBigAggSql: String =
    """WITH big AS (
      |  SELECT l_orderkey,
      |    (CAST(round(SUM(CAST(l_quantity AS DECIMAL(38,6))), 4) AS DOUBLE) + 0.0) AS sum_qty
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING CAST(round(SUM(CAST(l_quantity AS DECIMAL(38,6))), 4) AS DOUBLE) > 250.0
      |)
      |SELECT c_name, c_custkey, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice, sum_qty
      |FROM big
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  /** #91 Count-Min-Sketch heavy hitters — the third sketch family
    * (HLL distinct and KLL-ish percentiles already ship): a d=4 ×
    * w=256 counter matrix built in ONE pass (explode to 4 hash rows,
    * one (row, bucket) agg with map-side combine — the matrix is 1024
    * rows at ANY input size, the whole point of a sketch at 100 TB),
    * then the exact top-10 users are scored against it: the estimate
    * is the min over the 4 row counters, joined via the
    * provably-bounded broadcast of the matrix. The CMS guarantee
    * (estimate ≥ exact, overestimate ≤ εN w.h.p.) is test-pinned;
    * hashes are md5-derived so DuckDB reproduces every bucket exactly.
    */
  def heavyHittersSketch(s: SparkSession, dir: String): DataFrame = {
    val d = 4
    val ev = Tables.events(s, dir).select(col("user_id"))
    def bucket(j: Column, u: Column): Column =
      pmod(
        conv(substring(md5(concat(lit("cms"), j.cast("string"), lit(":"), u.cast("string"))), 1, 4), 16, 10)
          .cast("long"),
        lit(256L))
    val cms = ev
      .select(col("user_id"), explode(sequence(lit(0), lit(d - 1))).as("j"))
      .select(col("j"), bucket(col("j"), col("user_id")).as("b"))
      .groupBy(col("j"), col("b"))
      .agg(count(lit(1)).as("c"))
    val top = ev
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("user_id"))
      .limit(10)
    top
      .select(col("user_id"), col("exact_n"), explode(sequence(lit(0), lit(d - 1))).as("j"))
      .withColumn("b", bucket(col("j"), col("user_id")))
      .join(broadcast(cms), Seq("j", "b")) // ≤ d·w = 1024 rows by construction
      .groupBy(col("user_id"), col("exact_n"))
      .agg(min(col("c")).as("est_n"))
      .select(col("user_id"), col("exact_n"), col("est_n"), (col("est_n") - col("exact_n")).as("over"))
      .orderBy(col("exact_n").desc, col("user_id"))
  }

  val heavyHittersSketchSql: String =
    """WITH ev AS (SELECT user_id FROM events),
      |rows_ AS (
      |  SELECT user_id, j,
      |    CAST(concat('0x', substr(md5('cms' || j || ':' || CAST(user_id AS VARCHAR)), 1, 4))
      |         AS BIGINT) % 256 AS b
      |  FROM ev CROSS JOIN (SELECT unnest(range(4)) AS j)
      |),
      |cms AS (SELECT j, b, count(*) AS c FROM rows_ GROUP BY 1, 2),
      |top AS (
      |  SELECT user_id, count(*) AS exact_n FROM ev GROUP BY 1
      |  ORDER BY exact_n DESC, user_id LIMIT 10
      |),
      |probes AS (
      |  SELECT t.user_id, t.exact_n, j,
      |    CAST(concat('0x', substr(md5('cms' || j || ':' || CAST(t.user_id AS VARCHAR)), 1, 4))
      |         AS BIGINT) % 256 AS b
      |  FROM top t CROSS JOIN (SELECT unnest(range(4)) AS j)
      |)
      |SELECT p.user_id, p.exact_n, min(cms.c) AS est_n,
      |  min(cms.c) - p.exact_n AS over
      |FROM probes p JOIN cms USING (j, b)
      |GROUP BY p.user_id, p.exact_n
      |ORDER BY exact_n DESC, user_id""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("dedup_normalized", dedupNormalized, dedupNormalizedSql),
    exact("corpus_overlap_report", corpusOverlapReport, corpusOverlapReportSql),
    exact("bm25_search", bm25Search, bm25SearchSql),
    exact("doc_novelty", docNovelty, docNoveltySql),
    exact("corpus_mix_weights", corpusMixWeights, corpusMixWeightsSql),
    exact("event_anomalies", eventAnomalies, eventAnomaliesSql),
    rowsOnly("embed_kmeans_report", embedKmeansReport),
    exact("corpus_recipe", corpusRecipe, corpusRecipeSql),
    exact("doc_filter_audit", docFilterAudit, docFilterAuditSql),
    exact("q18_topk_bigagg", q18TopkBigAgg, q18TopkBigAggSql),
    exact("heavy_hitters_sketch", heavyHittersSketch, heavyHittersSketchSql))
}
