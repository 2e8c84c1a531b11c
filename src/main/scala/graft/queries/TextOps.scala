package graft.queries

import graft.{Key, OracleMath, Tables}
import graft.Key.{exact, rowsOnly}
import graft.functions.Registry
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-pipeline operators (§2 #33-#43) over `documents` / `embeddings`:
  * dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity
  * search (brute-force + LSH ANN), text analysis (lang-id, quality,
  * tokens, fingerprints), multimodal plumbing. Everything is built from
  * codegen'd builtins (split/explode/hash/agg) — no UDF in any hot path.
  */
/** Typed rows for the multimodal partition-wise decode path. */
case class MediaMeta(width: Int, channels: Int, format: String)
case class MediaRow(doc_id: Long, payload: Array[Byte], meta: MediaMeta)
case class MediaFeature(
    doc_id: Long, width: Int, channels: Int, format: String,
    fake_feature: Long, payload_bytes: Long)

object TextOps {
  import OracleMath._

  // ---------------------------------------------------------------- dedup

  /** Default bucket-size cap for candidate-pair self-joins. Mirrored
    * literally into the md5 twins' DuckDB oracles (QUALIFY window
    * count), so the guard itself is oracle-checked, not just never
    * triggered at oracle SFs.
    */
  val PairBucketCap: Int = 1000

  /** Hot-bucket guard shared by every candidate-pair self-join in the
    * near-dup family (MinHash bands, SimHash segments, winnowing
    * fingerprints). Within a bucket the pair join is deliberately
    * all-pairs — that IS the algorithm — but bucket SIZE must be
    * bounded: m near-identical docs (the normal condition of a
    * boilerplate-heavy crawl at 100 TB; upstream exact dedup removes
    * only IDENTICAL text) land in ONE bucket and the self-join emits
    * m²/2 pairs under a single key. AQE skew split cannot rescue that
    * — the blowup is join OUTPUT, not input partitioning. The standard
    * fix (winnowing/MOSS drops over-common fingerprints the same way;
    * Schleimer et al. 2003 §5): aggregate bucket sizes on the key the
    * join is already shuffling on — one extra agg, no new exchange
    * class — and drop every bucket above `cap` (default
    * [[PairBucketCap]], overridable per call or via session conf
    * `graft.pairjoin.bucketCap`).
    *
    * CONTRACT: pair output per bucket is bounded by cap²/2; recall is
    * lost only on content shared by MORE than `cap` documents, which
    * at that multiplicity is boilerplate — near-dup pairs among it are
    * better handled by the exact/normalized dedup that precedes this
    * pass. Drops are observable with zero extra Spark jobs
    * (Dataset.observe on the bucket-stats branch, collected by the
    * same action that runs the query): `n_hot_buckets`,
    * `rows_dropped`, `max_bucket` under the `metric` name.
    */
  private[graft] def dropHotBuckets(
      banded: DataFrame, keys: Seq[String], metric: String,
      cap: Option[Int] = None): DataFrame = {
    val c = cap.getOrElse(
      banded.sparkSession.conf.get("graft.pairjoin.bucketCap", PairBucketCap.toString).toInt)
    val sizes = banded
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_bucket_n"))
      .observe(
        metric,
        sum(when(col("_bucket_n") > c, lit(1L)).otherwise(lit(0L))).as("n_hot_buckets"),
        sum(when(col("_bucket_n") > c, col("_bucket_n")).otherwise(lit(0L))).as("rows_dropped"),
        max(col("_bucket_n")).as("max_bucket"))
    // shuffle-hash hint on the bucket-keys side: the semi join would
    // otherwise plan as sort-merge and SORT the full banded relation a
    // second time (its own pair join already sorts it once); hashing
    // the one-row-per-bucket side probes the same exchange sort-free
    banded.join(
      sizes.filter(col("_bucket_n") <= c).select(keys.map(col): _*).hint("shuffle_hash"),
      keys, "left_semi")
  }

  /** PLAN-EMBEDDED input-size guard for the O(n²) oracle twins: the
    * early-terminating `limit(cap+1)` count probe rides INSIDE the
    * returned plan (a broadcast single-row crossJoin checked by
    * assert_true at execution), so constructing or explaining the
    * plan stays side-effect-free — no eager Spark job per catalog
    * enumeration (plan audits, bench plan building) — while any
    * ACTION on an oversized input still fails with the role message.
    */
  private[graft] def requireBounded(df: DataFrame, cap: Long, msg: String): DataFrame = {
    val probe = df.limit((cap + 1).toInt).select(count(lit(1)).as("_probe_n"))
    df.crossJoin(broadcast(probe))
      // assert_true returns NULL when the guard holds, so the filter
      // keeps every row; an oversized input throws at execution time
      .filter(assert_true(col("_probe_n") <= cap, lit(msg)).isNull)
      .drop("_probe_n")
  }

  /** #33 exact dedup by content hash: first doc_id per md5(text) wins.
    * At 100 TB this is THE dedup primitive: hash-shuffle on a 16-byte
    * key instead of the full text.
    */
  def dedupExactDocs(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), md5(col("text")).as("h"), col("source"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("h"), col("source"))
      .orderBy(col("doc_id"))
  }

  val dedupExactDocsSql: String =
    """SELECT doc_id, h, source FROM (
      |  SELECT doc_id, md5(text) AS h, source,
      |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |  FROM documents
      |) WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------- word n-grams

  /** The word n-gram kernel every gram key builds on: `text` split on
    * single spaces and posexploded to one row per word, (doc_id,
    * [keep...], pos, w0); word j of the gram that starts at w0 is
    * [[word]](j), a lead over ONE per-doc window ordered by pos.
    *
    * Deliberately NOT an array-typed higher-order-function pipeline:
    * exploding a transform/sequence-built array re-evaluates the
    * interpreted HOF per output row (profiled 10-20× slower). Instead:
    * posexplode words → window lead() → concat — every step whole-stage
    * codegen, and the (doc_id) exchange introduced by the window is
    * reused by every downstream groupBy(doc_id).
    */
  private[queries] def wordRows(
      docsDf: DataFrame, keep: Seq[Column] = Nil,
      words: Column = split(col("text"), " ")): DataFrame =
    docsDf.select(col("doc_id") +: keep :+ posexplode(words).as(Seq("pos", "w0")): _*)

  private val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))

  /** Word j (0-based) of the gram that starts at this row's word. */
  private[queries] def word(j: Int): Column =
    if (j == 0) col("w0") else lead(col("w0"), j).over(byPos)

  /** [[wordRows]] with words 1..`upTo` as columns w1..w`upTo`: one
    * window feeds every gram size a key stacks in-row (no per-n rescan).
    */
  private[queries] def withWords(rows: DataFrame, upTo: Int): DataFrame =
    (1 to upTo).foldLeft(rows)((df, j) => df.withColumn(s"w$j", word(j)))

  /** The n-word gram that starts at this row's word, null where the doc
    * runs out of words first. `w` gives word j: the window lead, or
    * `wordCol` over [[withWords]].
    */
  private[queries] def gram(n: Int, w: Int => Column = word): Column =
    when(w(n - 1).isNotNull, concat_ws(" ", (0 until n).map(w): _*))

  private[queries] val wordCol: Int => Column = j => col(s"w$j")

  /** Oracle side of the kernel: the n-word grams (n ≥ 2) of CTE `w`'s
    * word list `ws`, one row per (n, `key`, g).
    */
  private[queries] def gramsSql(n: Int, key: String): String =
    s"""SELECT $n AS n, $key,
       |  unnest([array_to_string(ws[i:i+${n - 1}], ' ')
       |          for i in range(1, greatest(len(ws) - ${n - 2}, 1))]) AS g
       |FROM w""".stripMargin

  /** Word n-grams as rows (doc_id, g), distinct per doc by default. */
  private[queries] def gramRows(docsDf: DataFrame, n: Int, distinct: Boolean = true): DataFrame = {
    // NOTE (r10, measured): pinning the window's (doc_id) exchange at
    // shuffle.partitions width (so AQE can't coalesce the post-window
    // hash stage to 2-3 tasks) read as a clear win on paper and LOST on
    // the bench — dedup_minhash 1.4 → 2.8 s, minhash_calibration
    // 4.9 → 6.9 s, corpus_recipe_neardup 3.3 → 4.9 s in a same-session
    // A/B. At these per-partition sizes the extra task/exchange
    // overhead beats the parallelism; left coalesced on purpose.
    val raw = wordRows(docsDf)
      .withColumn("g", concat_ws(" ", (0 until n).map(word): _*))
      .withColumn("last", word(n - 1))
      .filter(col("last").isNotNull)
      .select(col("doc_id"), col("g"))
    if (distinct) raw.dropDuplicates("doc_id", "g") else raw
  }

  /** Per-doc gram summaries for the near-dup family, ONE exploded pass:
    * the window's (doc_id) sort feeds lead(1..4), and the groupBy(doc_id)
    * reuses the window's exchange — 3-gram sets and the 5-gram min-hash
    * fingerprint come out of a single scan + single shuffle (the naive
    * form runs the explode/window/distinct chain once per gram width).
    */
  private def gramSummaries(docsDf: DataFrame): DataFrame =
    wordRows(docsDf)
      .select(col("doc_id"), gram(3).as("g3"), gram(5).as("g5"))
      .groupBy(col("doc_id"))
      .agg(
        collect_set(col("g3")).as("gs"), // distinct 3-grams (order-free consumers only)
        min(md5(col("g5"))).as("fp")) // min over dupes == min over distinct
      .select(col("doc_id"), col("gs"), size(col("gs")).as("n"), col("fp"))

  /** #34 MinHash + LSH near-dup candidates (rows-only oracle).
    * 16 permutations, 4 bands × 4 rows: docs sharing any band hash are
    * candidates; est. Jaccard = matching signature fraction ≥ 0.5.
    * Scale path: the shuffle key is the (band, bandhash) pair — O(n)
    * shuffle + per-bucket pairing bounded by [[dropHotBuckets]], never
    * O(n²) and never m² inside one boilerplate bucket.
    */
  def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    minhashPairs(Tables.documents(s, dir))

  /** The MinHash-LSH core over any (doc_id, text) frame — test entry
    * point for the planted hot-bucket corpus.
    */
  /** The banded MinHash signature rows — (doc_id, m0..m15, band,
    * bandhash) — shared by [[minhashPairs]] and the persisted
    * near-dup index ([[graft.sources.NeardupIndex]]): one pass, gram
    * rows → 64-bit base hash → 16 cheap re-hashes under codegen'd min
    * aggregates (the O(perms × shingles) string work of a naive
    * per-permutation shingle hash collapses to one string hash). No
    * per-doc distinct needed: min() over repeated gram hashes is
    * identical, so the dedup exchange would be pure waste.
    */
  private[graft] def minhashBandedRows(docsDf: DataFrame): DataFrame = {
    val sig = gramRows(docsDf, 3, distinct = false)
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
      .groupBy(col("doc_id"))
      .agg(
        min(xxhash64(lit(0), col("h"))).as("m0"),
        (1 until 16).map(i => min(xxhash64(lit(i), col("h"))).as(s"m$i")): _*)
    val sigCols = (0 until 16).map(i => col(s"m$i"))
    sig.select(
      col("doc_id") +: sigCols :+
        posexplode(
          array((0 until 4).map(b => hash(sigCols.slice(b * 4, b * 4 + 4): _*)): _*)): _*)
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bandhash")
  }

  private[graft] def minhashPairs(docsDf: DataFrame, cap: Option[Int] = None): DataFrame = {
    val sigCols = (0 until 16).map(i => col(s"m$i"))
    // banded (the shingle→16-permutation signature pipeline) is read
    // TWICE inside dropHotBuckets (sizes + semi-join) and the guarded
    // result is BOTH sides of the band self-join — cut the expensive
    // frame BEFORE the guard, so it computes once while the guard's
    // observe() metrics stay in the final plan (HotBucketSpec reads
    // queryExecution.observedMetrics; a cut after the guard would
    // truncate them away) (r9)
    val banded = graft.Lineage.cut(minhashBandedRows(docsDf))
    val guarded = dropHotBuckets(banded, Seq("band", "bandhash"), "minhash_hot_buckets", cap)
    val left = guarded.select(
      col("band"), col("bandhash"), col("doc_id").as("a"),
      array(sigCols: _*).as("sig_a"))
    val right = guarded.select(
      col("band"), col("bandhash"), col("doc_id").as("b"),
      array(sigCols: _*).as("sig_b"))
    left
      .join(right, Seq("band", "bandhash"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          bool => bool)).cast("double") / 16.0).as("est_jaccard"))
      .groupBy(col("a"), col("b"))
      .agg(max(col("est_jaccard")).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
      .orderBy(col("a"), col("b"))
  }

  /** #34b the SAME MinHash-LSH machinery under an EXACT DuckDB oracle:
    * xxhash64 (the fast production hash) is not reproducible outside
    * Spark, so this variant derives the 16 permutation mins from md5 —
    * min over hex strings is plain lexicographic order, and every step
    * (signature, band hash, match fraction) is expressible identically
    * in SQL. Each gram pays FOUR md5 calls, not sixteen: the 16
    * permutations are the non-overlapping 8-hex (32-bit) windows of
    * md5(0:g)..md5(3:g) — disjoint windows of a cryptographic hash are
    * effectively independent. Still slower per gram than the xxhash64
    * form (`dedup_minhash` stays the production path); this variant's
    * job is to pin the banded-LSH pipeline's CORRECTNESS.
    */
  def dedupMinhashMd5(s: SparkSession, dir: String): DataFrame = {
    // r11 (StageProfile, §2.5): the 4-md5-per-gram projection fuses
    // with gramRows' AQE-coalesced window output — ~1M md5s on 2 cores
    // (2.4 s of stage CPU at sf0.1, THE top stage of this query and of
    // minhash_calibration which consumes cp). Repartition the NARROW
    // (doc_id, g) rows (~3 MB) by doc_id first: the md5 projection and
    // the 16-way min-agg then run at the configured shuffle width with
    // NO extra agg exchange (co-partitioned on the groupBy key). This
    // is NOT the r10 losing gram-width pin — that pinned the window
    // exchange inside gramRows, paying a wide shuffle of raw
    // posexploded words for every consumer; this moves only the final
    // gram rows, only for the md5 twins.
    val withHashes = gramRows(Tables.documents(s, dir), 3, distinct = false)
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt, col("doc_id"))
      .select(
        col("doc_id") +:
          (0 until 4).map(j => md5(concat(lit(s"$j:"), col("g"))).as(s"h$j")): _*)
    val sig = withHashes
      .groupBy(col("doc_id"))
      .agg(
        min(substring(col("h0"), 1, 8)).as("m0"),
        (1 until 16).map(i =>
          min(substring(col(s"h${i / 4}"), 1 + 8 * (i % 4), 8)).as(s"m$i")): _*)
    val sigCols = (0 until 16).map(i => col(s"m$i"))
    val banded = sig
      .select(
        col("doc_id") +: sigCols :+
          posexplode(array((0 until 4).map(b =>
            md5(concat_ws("|", sigCols.slice(b * 4, b * 4 + 4): _*))): _*)): _*)
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bandhash")
    // the banded 4-md5-per-gram signature frame is read twice inside
    // the guard and the guarded result twice more by the self-join:
    // cut BEFORE the guard (observe() stays in the final plan) (r9)
    val guarded = dropHotBuckets(graft.Lineage.cut(banded),
      Seq("band", "bandhash"), "minhash_md5_hot_buckets")
    def side(tag: String) = guarded.select(
      col("band") +: col("bandhash") +: col("doc_id").as(tag) +:
        (0 until 16).map(i => col(s"m$i").as(s"m${i}_$tag")): _*)
    val matches = (0 until 16).map(i => (col(s"m${i}_a") === col(s"m${i}_b")).cast("int")).reduce(_ + _)
    side("a")
      .join(side("b"), Seq("band", "bandhash"))
      .filter(col("a") < col("b"))
      .withColumn("est", matches.cast("double") / 16.0)
      .groupBy(col("a"), col("b"))
      .agg(max(col("est")).as("est"))
      .filter(col("est") >= 0.5)
      .select(col("a"), col("b"), emit(col("est"), 4).as("est_jaccard"))
      .orderBy(col("a"), col("b"))
  }

  /** The md5-twin candidate-pair CTE chain (through `cp`: the emitted
    * (a, b, est_jaccard) pairs) — shared by the dedup oracle and the
    * calibration report's oracle.
    */
  private val minhashMd5PairsCte: String = {
    val sigExprs = (0 until 16)
      .map(i => s"min(substr(md5('${i / 4}:' || g), ${1 + 8 * (i % 4)}, 8)) AS m$i")
      .mkString(",\n      |    ")
    val bandHash = (0 until 4)
      .map(b => s"WHEN $b THEN md5(${(b * 4 until b * 4 + 4).map(i => s"m$i").mkString(" || '|' || ")})")
      .mkString(" ")
    val matchSum = (0 until 16).map(i => s"CAST(l.m$i = r.m$i AS INT)").mkString(" + ")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS (
       |  SELECT doc_id, unnest([ws[i]||' '||ws[i+1]||' '||ws[i+2]
       |                         for i in range(1, greatest(len(ws)-1, 1))]) AS g
       |  FROM w
       |),
       |sig AS (
       |  SELECT doc_id,
       |    $sigExprs
       |  FROM g GROUP BY doc_id
       |),
       |banded AS (
       |  SELECT s.*, b.band, CASE b.band $bandHash END AS bandhash
       |  FROM sig s, (SELECT unnest([0, 1, 2, 3]) AS band) b
       |),
       |guarded AS (
       |  SELECT * FROM banded
       |  QUALIFY count(*) OVER (PARTITION BY band, bandhash) <= $PairBucketCap
       |),
       |pairs AS (
       |  SELECT l.doc_id AS a, r.doc_id AS b, ($matchSum) / 16.0 AS est
       |  FROM guarded l
       |  JOIN guarded r ON l.band = r.band AND l.bandhash = r.bandhash AND l.doc_id < r.doc_id
       |),
       |cp AS (
       |  SELECT a, b, (CAST(round(MAX(est), 4) AS DOUBLE) + 0.0) AS est_jaccard
       |  FROM pairs GROUP BY a, b HAVING MAX(est) >= 0.5
       |)""".stripMargin
  }

  val dedupMinhashMd5Sql: String =
    s"""$minhashMd5PairsCte
       |SELECT a, b, est_jaccard FROM cp
       |ORDER BY a, b""".stripMargin

  /** #35 SimHash near-dup (rows-only oracle): 64-bit fingerprint from
    * word hashes; near-dup pairs at hamming ≤ 3 via 4-segment blocking —
    * with 4 segments of 16 bits, any pair within distance 3 shares at
    * least one exact segment (pigeonhole), so candidate generation is
    * complete, and the threshold keeps candidate buckets small on
    * highly-similar corpora. Hamming runs in the native codegen'd
    * HammingDistance expression.
    */
  /** Per-doc distinct word hashes — the input relation for both simhash
    * implementations.
    */
  def wordHashRows(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .dropDuplicates("doc_id", "w")
      .select(col("doc_id"), xxhash64(col("w")).as("h"))

  /** The relational simhash: 64 integer sum aggregates (±1 per bit);
    * sign of each sum → fingerprint bit. Shared by the catalog query
    * and the Aggregator-equivalence test.
    */
  def simhashFingerprints(wordHashes: DataFrame): DataFrame = {
    val bitSums = wordHashes
      .groupBy(col("doc_id"))
      .agg(
        sum(shiftright(col("h"), 0).bitwiseAND(1) * 2 - 1).as("b0"),
        (1 until 64).map(b => sum(shiftright(col("h"), b).bitwiseAND(1) * 2 - 1).as(s"b$b")): _*)
    bitSums.select(
      col("doc_id"),
      (0 until 64)
        .map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _)
        .as("simhash"))
  }

  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    simhashPairs(Tables.documents(s, dir))

  /** The SimHash blocking core over any (doc_id, text) frame — test
    * entry point for the planted hot-bucket corpus.
    */
  private[graft] def simhashPairs(docsDf: DataFrame, cap: Option[Int] = None): DataFrame = {
    val sims = simhashFingerprints(wordHashRows(docsDf))
    val banded = sims.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(k =>
        shiftright(col("simhash"), k * 16).bitwiseAND(0xFFFFL)): _*)))
      .withColumnRenamed("pos", "seg")
      .withColumnRenamed("col", "seghash")
    // the banded fingerprint frame is read twice inside the guard and
    // the guarded result twice more by the self-join: cut BEFORE the
    // guard (observe() metrics must stay in the final plan — the
    // minhashPairs note) (r9)
    val seg = dropHotBuckets(graft.Lineage.cut(banded),
      Seq("seg", "seghash"), "simhash_hot_buckets", cap)
    // distinct column names on the probe side: joining two projections
    // of the same frame on same-named attributes makes Spark warn about
    // trivially-true predicates while it disambiguates — renaming is
    // explicit and keeps every log line meaningful
    val l = seg.select(col("seg"), col("seghash"), col("doc_id").as("a"), col("simhash").as("sim_a"))
    val r = seg.select(
      col("seg").as("seg_b"), col("seghash").as("seghash_b"),
      col("doc_id").as("b"), col("simhash").as("sim_b"))
    // hamming + ordering checked inside the join probe: candidates that
    // fail the threshold never materialize into the downstream shuffle
    l.join(
        r,
        col("seg") === col("seg_b") && col("seghash") === col("seghash_b") &&
          col("a") < col("b") &&
          Registry.hamming(col("sim_a"), col("sim_b")) <= 3)
      .select(col("a"), col("b"), Registry.hamming(col("sim_a"), col("sim_b")).as("hamming"))
      .groupBy(col("a"), col("b"))
      .agg(min(col("hamming")).as("hamming"))
      .orderBy(col("a"), col("b"))
  }

  /** #35b the SAME SimHash blocking pipeline under an EXACT DuckDB
    * oracle — the md5 trick that promoted minhash (#34b). Per-word bits
    * come from md5 hex nibbles: `locate(nibble, '0123456789abcdef') - 1`
    * (strpos in DuckDB) is engine-portable, so the 64 bit-sums, the
    * sign fingerprint, the 4×16-bit pigeonhole segments and the
    * hamming distance (sum of per-segment bit_count(xor)) are all
    * expressible identically in SQL. The xxhash64 `dedup_simhash`
    * stays the production path (one 64-bit hash per word instead of an
    * md5 + 16 nibble decodes); this variant's job is to pin the
    * fingerprint→segment→block-join→hamming machinery end-to-end.
    */
  def dedupSimhashMd5(s: SparkSession, dir: String): DataFrame = {
    // r11: same device as dedupMinhashMd5 — the md5 + 16-nibble decode
    // + 64 bit-sums fused into the distinct's AQE-coalesced output (2
    // cores); repartition the narrow distinct words by doc_id so the
    // hash/decode stage runs at shuffle width, co-partitioned with the
    // groupBy below (no extra agg exchange)
    val words = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .dropDuplicates("doc_id", "w")
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt, col("doc_id"))
      .select(col("doc_id"), md5(col("w")).as("h"))
    // decode the 16 leading hex nibbles ONCE per word row; the 64 bit
    // sums below each read one bit of one decoded nibble
    val nibs = words.select(
      col("doc_id") +: (0 until 16).map(i =>
        (expr(s"locate(substring(h, ${i + 1}, 1), '0123456789abcdef')") - 1).as(s"n$i")): _*)
    val sums = nibs
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n0").bitwiseAND(1) * 2 - 1).as("sb0"),
        (1 until 64).map(b =>
          sum(shiftright(col(s"n${b / 4}"), b % 4).bitwiseAND(1) * 2 - 1).as(s"sb$b")): _*)
    def fb(b: Int) = when(col(s"sb$b") > 0, lit(1)).otherwise(lit(0))
    val seg = sums.select(
      col("doc_id") +: (0 until 4).map(k =>
        (0 until 16).map(j => fb(16 * k + j) * lit(1 << j)).reduce(_ + _).as(s"s$k")): _*)
    val banded = seg
      .select(
        col("doc_id"), col("s0"), col("s1"), col("s2"), col("s3"),
        posexplode(array(col("s0"), col("s1"), col("s2"), col("s3"))))
      .withColumnRenamed("pos", "seg")
      .withColumnRenamed("col", "segval")
    // the banded md5-fingerprint frame is read twice inside the guard
    // and the guarded result twice more by the self-join: cut BEFORE
    // the guard (observe() stays in the final plan) (r9)
    val exploded = dropHotBuckets(graft.Lineage.cut(banded),
      Seq("seg", "segval"), "simhash_md5_hot_buckets")
    val l = exploded.select(
      col("seg"), col("segval"), col("doc_id").as("a"),
      col("s0").as("a0"), col("s1").as("a1"), col("s2").as("a2"), col("s3").as("a3"))
    val r = exploded.select(
      col("seg").as("seg_b"), col("segval").as("segval_b"), col("doc_id").as("b"),
      col("s0").as("b0"), col("s1").as("b1"), col("s2").as("b2"), col("s3").as("b3"))
    val ham = (0 until 4).map(k => bit_count(col(s"a$k").bitwiseXOR(col(s"b$k")))).reduce(_ + _)
    l.join(
        r,
        col("seg") === col("seg_b") && col("segval") === col("segval_b") &&
          col("a") < col("b") && ham <= 3)
      .select(col("a"), col("b"), ham.cast("int").as("hamming"))
      .groupBy(col("a"), col("b"))
      .agg(min(col("hamming")).as("hamming"))
      .orderBy(col("a"), col("b"))
  }

  val dedupSimhashMd5Sql: String = {
    val nibExprs = (0 until 16)
      .map(i => s"strpos('0123456789abcdef', substr(h, ${i + 1}, 1)) - 1 AS n$i")
      .mkString(",\n       |    ")
    val sumExprs = (0 until 64)
      .map(b => s"SUM(((n${b / 4} >> ${b % 4}) & 1) * 2 - 1) AS sb$b")
      .mkString(",\n       |    ")
    val segExprs = (0 until 4)
      .map { k =>
        (0 until 16)
          .map(j => s"(CASE WHEN sb${16 * k + j} > 0 THEN ${1 << j} ELSE 0 END)")
          .mkString(" + ") + s" AS s$k"
      }
      .mkString(",\n       |    ")
    val ham = (0 until 4).map(k => s"bit_count(xor(l.s$k, r.s$k))").mkString(" + ")
    s"""WITH w AS (
       |  SELECT DISTINCT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
       |  )
       |),
       |h AS (SELECT doc_id, md5(w) AS h FROM w),
       |nib AS (SELECT doc_id,
       |    $nibExprs
       |  FROM h),
       |sums AS (SELECT doc_id,
       |    $sumExprs
       |  FROM nib GROUP BY doc_id),
       |seg AS (SELECT doc_id,
       |    $segExprs
       |  FROM sums),
       |expl AS (
       |  SELECT doc_id, s0, s1, s2, s3, segidx,
       |    CASE segidx WHEN 0 THEN s0 WHEN 1 THEN s1 WHEN 2 THEN s2 ELSE s3 END AS segval
       |  FROM seg CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS segidx)
       |),
       |guarded AS (
       |  SELECT * FROM expl
       |  QUALIFY count(*) OVER (PARTITION BY segidx, segval) <= $PairBucketCap
       |),
       |pairs AS (
       |  SELECT l.doc_id AS a, r.doc_id AS b, CAST($ham AS INT) AS hamming
       |  FROM guarded l JOIN guarded r
       |    ON l.segidx = r.segidx AND l.segval = r.segval AND l.doc_id < r.doc_id
       |)
       |SELECT DISTINCT a, b, hamming FROM pairs
       |WHERE hamming <= 3
       |ORDER BY a, b""".stripMargin
  }

  /** #36 n-gram Jaccard similarity, exact relational form (SQL oracle):
    * explode distinct 3-grams, equi-join consecutive doc pairs on the
    * gram, intersection/union from counts. The same plan shape scales:
    * gram-key shuffle, no array crossproducts.
    */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(jaccardSets(Tables.documents(s, dir)))
      .select(col("a"), col("b"), emit(col("jacc"), 4).as("jaccard"))
      .orderBy(col("a"))

  /** Per-doc distinct 3-gram sets: collect_set under one groupBy — the
    * separate dropDuplicates exchange of the naive form is folded into
    * the aggregate (set semantics dedup for free; every consumer is
    * order-insensitive: size + array_intersect).
    */
  private def jaccardSets(docsDf: DataFrame): DataFrame =
    wordRows(docsDf)
      .select(col("doc_id"), gram(3).as("g"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("g")).as("gs"))
      .select(col("doc_id"), col("gs"), size(col("gs")).as("n"))
      .filter(col("n") > 0)

  /** Consecutive-pair Jaccard from per-doc sets: equi self-join of the
    * 1-row-per-doc summaries on doc_id — the 500k-row gram-key shuffle
    * of the naive pair join disappears. No broadcast hint: the relation
    * carries full gram sets, so a forced broadcast would ship every
    * doc's grams to every executor (OOM at 100 TB); under the hint-free
    * equi-join AQE still picks broadcast when the side is actually
    * small, and degrades to a shuffle join when it isn't.
    */
  private def jaccardPairs(gramSets: DataFrame): DataFrame = {
    val shifted = gramSets.select(
      (col("doc_id") - 1).as("doc_id"), col("gs").as("gs2"), col("n").as("n2"))
    gramSets
      .join(shifted, Seq("doc_id"))
      .withColumn("inter", size(array_intersect(col("gs"), col("gs2"))))
      .select(
        col("doc_id").as("a"),
        (col("doc_id") + 1).as("b"),
        (col("inter") / (col("n") + col("n2") - col("inter"))).as("jacc"))
  }

  val ngramJaccardSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id, gr AS g FROM (
      |    SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                           for i in range(1, greatest(len(ws)-1, 1))]) AS gr
      |    FROM w
      |  )
      |),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
      |inter AS (
      |  SELECT g1.doc_id, COUNT(*) AS inter
      |  FROM g g1 JOIN g g2 ON g2.doc_id = g1.doc_id + 1 AND g1.g = g2.g
      |  GROUP BY g1.doc_id
      |)
      |SELECT s1.doc_id AS a, s1.doc_id + 1 AS b,
      |  (CAST(round(coalesce(i.inter, 0) * 1.0 / (s1.n + s2.n - coalesce(i.inter, 0)), 4) AS DOUBLE) + 0.0) AS jaccard
      |FROM sizes s1
      |JOIN sizes s2 ON s2.doc_id = s1.doc_id + 1
      |LEFT JOIN inter i ON i.doc_id = s1.doc_id
      |ORDER BY a""".stripMargin

  /** #36b near-dup clustering: bounded min-label propagation over a
    * similarity graph (star edges: doc → min-doc of its fingerprint
    * group; chain edges: consecutive pairs with 3-gram Jaccard ≥ 0.35).
    * Three propagation rounds — the iterative self-join pattern of
    * distributed connected components, with O(E) work per round and a
    * deterministic label set the SQL oracle reproduces exactly.
    * (Dedup needs clusters, not pairs: one survivor per cluster.)
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    // ONE exploded gram pass yields both edge families (the naive form
    // runs the explode/window/distinct chain once for the 5-gram
    // fingerprints and again for the 3-gram jaccard sets)
    val summaries = graft.Lineage.cut(gramSummaries(Tables.documents(s, dir)))
    val fp = summaries.filter(col("fp").isNotNull).select(col("doc_id"), col("fp"))
    val roots = fp.groupBy(col("fp")).agg(min(col("doc_id")).as("root"))
    val star = fp
      .join(roots, "fp")
      .filter(col("doc_id") =!= col("root"))
      .select(col("doc_id").as("a"), col("root").as("b"))
    val chain = jaccardPairs(summaries.filter(col("n") > 0).select(col("doc_id"), col("gs"), col("n")))
      .filter(emit(col("jacc"), 4) >= 0.35)
      .select(col("a"), col("b"))
    val edges = star.unionByName(chain)
    // the edge set feeds every propagation round: materialize once
    // (Lineage.cut — localCheckpoint locally, reliable checkpoint on a
    // cluster) instead of re-deriving both gram passes per iteration
    val sym = graft.Lineage.cut(
      edges.unionByName(edges.select(col("b").as("a"), col("a").as("b"))))

    val labels0 = Tables.documents(s, dir).select(col("doc_id"), col("doc_id").as("label"))
    val labels = (1 to 3).foldLeft(labels0) { (labels, _) =>
      val nbrMin = sym
        .join(labels.select(col("doc_id").as("b"), col("label").as("nl")), "b")
        .groupBy(col("a"))
        .agg(min(col("nl")).as("nbr_min"))
      // each round references the previous twice — cut the lineage or
      // round r recomputes round r-1 twice (2^rounds blow-up)
      graft.Lineage.cut(
        labels
          .join(nbrMin.select(col("a").as("doc_id"), col("nbr_min")), Seq("doc_id"), "left")
          .select(col("doc_id"), least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label")))
    }
    labels.select(col("doc_id"), col("label").as("cluster")).orderBy(col("doc_id"))
  }

  val dedupClustersSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g5 AS (
      |  SELECT DISTINCT doc_id, gr AS g FROM (
      |    SELECT doc_id,
      |      unnest([ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]
      |              for i in range(1, greatest(len(ws)-3, 1))]) AS gr
      |    FROM w
      |  )
      |),
      |fp AS (SELECT doc_id, MIN(md5(g)) AS fp FROM g5 GROUP BY doc_id),
      |roots AS (SELECT fp, MIN(doc_id) AS root FROM fp GROUP BY fp),
      |star AS (
      |  SELECT f.doc_id AS a, r.root AS b FROM fp f JOIN roots r USING (fp)
      |  WHERE f.doc_id <> r.root
      |),
      |g3 AS (
      |  SELECT DISTINCT doc_id, gr AS g FROM (
      |    SELECT doc_id, unnest([ws[i]||' '||ws[i+1]||' '||ws[i+2]
      |                           for i in range(1, greatest(len(ws)-1, 1))]) AS gr
      |    FROM w
      |  )
      |),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM g3 GROUP BY doc_id),
      |inter AS (
      |  SELECT x.doc_id, COUNT(*) AS inter
      |  FROM g3 x JOIN g3 y ON y.doc_id = x.doc_id + 1 AND x.g = y.g
      |  GROUP BY x.doc_id
      |),
      |chain AS (
      |  SELECT s1.doc_id AS a, s1.doc_id + 1 AS b
      |  FROM sizes s1 JOIN sizes s2 ON s2.doc_id = s1.doc_id + 1
      |  LEFT JOIN inter i ON i.doc_id = s1.doc_id
      |  WHERE round(coalesce(i.inter, 0) * 1.0 / (s1.n + s2.n - coalesce(i.inter, 0)), 4) >= 0.35
      |),
      |edges AS (SELECT a, b FROM star UNION ALL SELECT a, b FROM chain),
      |sym AS (SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges),
      |l0 AS (SELECT doc_id, doc_id AS label FROM documents),
      |l1 AS (
      |  SELECT l.doc_id, least(l.label, coalesce(m.nbr_min, l.label)) AS label
      |  FROM l0 l LEFT JOIN (
      |    SELECT s.a AS doc_id, MIN(n.label) AS nbr_min
      |    FROM sym s JOIN l0 n ON n.doc_id = s.b GROUP BY s.a
      |  ) m USING (doc_id)
      |),
      |l2 AS (
      |  SELECT l.doc_id, least(l.label, coalesce(m.nbr_min, l.label)) AS label
      |  FROM l1 l LEFT JOIN (
      |    SELECT s.a AS doc_id, MIN(n.label) AS nbr_min
      |    FROM sym s JOIN l1 n ON n.doc_id = s.b GROUP BY s.a
      |  ) m USING (doc_id)
      |),
      |l3 AS (
      |  SELECT l.doc_id, least(l.label, coalesce(m.nbr_min, l.label)) AS label
      |  FROM l2 l LEFT JOIN (
      |    SELECT s.a AS doc_id, MIN(n.label) AS nbr_min
      |    FROM sym s JOIN l2 n ON n.doc_id = s.b GROUP BY s.a
      |  ) m USING (doc_id)
      |)
      |SELECT doc_id, label AS cluster FROM l3 ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- similarity knn

  private def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** #37 brute-force cosine top-k (k=10) for query vectors vec_id<5.
    * Queries broadcast; dot products via zip_with+aggregate — sequential
    * left-to-right double summation, bit-identical to the oracle's
    * list ops. Ranking on the raw cosine with id tie-break.
    */
  def embedKnn(s: SparkSession, dir: String): DataFrame = {
    // norms precomputed per side (Registry.cosine would recompute both
    // norms for every candidate pair — O(pairs·dim) wasted at scale)
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("e"))
      .withColumn("nrm", Registry.l2norm(col("e")))
    val q = emb
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qnrm"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    emb
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cosine", Registry.dot(col("qe"), col("e")) / (col("qnrm") * col("nrm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .select(col("query_id"), col("vec_id"), emit(col("cosine"), 6).as("cosine"), col("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  val embedKnnSql: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |  FROM embeddings
      |), q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |    list_dot_product(q.qe, e.emb) /
      |      (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(e.emb, e.emb))) AS cosine
      |  FROM e JOIN q ON e.vec_id <> q.query_id
      |), ranked AS (
      |  SELECT query_id, vec_id, cosine,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
      |  FROM scored
      |)
      |SELECT query_id, vec_id, (CAST(round(cosine, 6) AS DOUBLE) + 0.0) AS cosine, rn
      |FROM ranked WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin

  /** #38 LSH-bucketed ANN (rows-only oracle): 8 random-hyperplane sign
    * bits (deterministic pseudo-planes from xxhash64(plane, dim)) bucket
    * the space; top-3 neighbors per query within its bucket. The 100 TB
    * path: bucket key shuffle + per-bucket top-k, candidate set ~n/2^8.
    */
  /** Pseudo-random hyperplane component for (plane p, dim i): centered
    * hash in [-0.5, 0.5] — deterministic across runs/engines.
    */
  private def planeDot(e: Column, p: Int): Column =
    aggregate(
      zip_with(
        e,
        sequence(lit(0), size(e) - 1),
        (x, i) => x * (pmod(xxhash64(lit(p), i), lit(1000L)).cast("double") / 1000.0 - 0.5)),
      lit(0.0), (acc, x) => acc + x)

  def embedLshKnn(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), toDouble(col("embedding")).as("e"))
    val bucketed = emb.withColumn(
      "bucket",
      (0 until 8).map(p => when(planeDot(col("e"), p) > 0, lit(1L << p)).otherwise(lit(0L))).reduce(_ + _))
    val q = bucketed
      .filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("bucket"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    bucketed
      .join(q, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", Registry.cosine(col("qe"), col("e")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("vec_id"), col("bucket"), emit(col("cosine"), 6).as("cosine"))
      .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
  }

  /** #37b embedding-cosine near-dup pair mining: every pair above the
    * similarity threshold (brute-force half-matrix; the synthetic
    * vectors top out at cosine ≈ 0.51, so 0.4 stands in for the 0.99
    * an embedding-dedup run would use). Exact oracle — the native
    * DotProduct is bit-identical to DuckDB's list_dot_product, so the
    * threshold cut selects the same pairs. Scale path: LSH/IVF bucket
    * candidates first (see embed_lsh_knn / embed_ivf_knn), then this
    * same verification join within buckets.
    */
  def embedPairSim(s: SparkSession, dir: String): DataFrame = {
    // MACHINE-ENFORCED role guard: this is the O(n²) oracle twin of
    // embed_pair_sim_bucketed (the production path). The half-matrix
    // is fine at oracle SFs (≤ 5k vectors) and a cluster-killer beyond;
    // refuse rather than silently run a quadratic plan at scale. The
    // probe is plan-embedded (requireBounded) so building/explaining
    // the plan runs no job; an oversized ACTION still refuses.
    val cap = 20000L
    val emb = requireBounded(
      Tables.embeddings(s, dir).select(col("vec_id"), toDouble(col("embedding")).as("e")),
      cap,
      s"embed_pair_sim_oracle is the brute-force O(n²) oracle twin (input exceeds $cap vectors); " +
        "use embed_pair_sim_bucketed (IVF-bucketed, O(sum list^2)) at scale")
    val withNorm = emb.withColumn("nrm", Registry.l2norm(col("e")))
    val left = withNorm.select(col("vec_id").as("a"), col("e").as("ea"), col("nrm").as("na"))
    val right = withNorm.select(col("vec_id").as("b"), col("e").as("eb"), col("nrm").as("nb"))
    left
      .join(broadcast(right), col("a") < col("b"))
      .withColumn("cosine", Registry.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= 0.4)
      .select(col("a"), col("b"), emit(col("cosine"), 6).as("cosine"))
      .orderBy(col("a"), col("b"))
  }

  val embedPairSimSql: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |  FROM embeddings
      |), n AS (
      |  SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e
      |)
      |SELECT a.vec_id AS a, b.vec_id AS b,
      |  (CAST(round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS DOUBLE) + 0.0) AS cosine
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) >= 0.4
      |ORDER BY a, b""".stripMargin

  /** #38c the LSH ANN under an EXACT DuckDB oracle (the md5 pattern
    * that promoted minhash and simhash): hyperplane component (p, i) =
    * (hex16(md5("p:i")) mod 1000)/1000 − 0.5, portable to SQL via
    * `CAST('0x'||substr(md5(...),1,4) AS INT)`; the plane projection is
    * the same native dot product already proven bit-identical to
    * DuckDB's list_dot_product (embed_knn), so sign cuts, bucket keys
    * and in-bucket rankings agree exactly. xxhash64 `embed_lsh_knn`
    * stays the production path; this pins bucketing + in-bucket top-k
    * end-to-end.
    */
  def embedLshKnnMd5(s: SparkSession, dir: String): DataFrame = {
    // fan the single-row-group embeddings scan (r10, measured: 2.3 →
    // 1.0 s at sf0.1; identity at production splits)
    val emb = graft.GraftSession.fan(Tables.embeddings(s, dir), col("vec_id"))
      .select(col("vec_id"), toDouble(col("embedding")).as("e"))
    def planeW(p: Int): Column = transform(
      sequence(lit(0), size(col("e")) - 1),
      i =>
        (conv(substring(md5(concat(lit(s"$p:"), i.cast("string"))), 1, 4), 16, 10)
          .cast("long") % 1000).cast("double") / lit(1000.0) - lit(0.5))
    val bucketed = emb.withColumn(
      "bucket",
      (0 until 8)
        .map(p => when(Registry.dot(col("e"), planeW(p)) > 0, lit(1L << p)).otherwise(lit(0L)))
        .reduce(_ + _))
    val q = bucketed
      .filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("bucket"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    bucketed
      .join(q, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", Registry.cosine(col("qe"), col("e")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("vec_id"), col("bucket"), emit(col("cosine"), 6).as("cosine"))
      .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
  }

  val embedLshKnnMd5Sql: String = {
    val planeDot = (p: Int) =>
      s"list_dot_product(emb, list_transform(range(0, len(emb)), i -> " +
        s"(CAST(concat('0x', substr(md5(concat('$p:', i)), 1, 4)) AS INT) % 1000) / 1000.0 - 0.5))"
    val bucket = (0 until 8)
      .map(p => s"(CASE WHEN ${planeDot(p)} > 0 THEN ${1L << p} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings
       |),
       |b AS (SELECT vec_id, emb, $bucket AS bucket FROM e),
       |q AS (SELECT vec_id AS query_id, emb AS qe, bucket FROM b WHERE vec_id < 20),
       |scored AS (
       |  SELECT q.query_id, b.vec_id, b.bucket,
       |    list_dot_product(q.qe, b.emb) /
       |      (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(b.emb, b.emb))) AS cosine
       |  FROM b JOIN q ON b.bucket = q.bucket AND b.vec_id <> q.query_id
       |),
       |ranked AS (
       |  SELECT query_id, vec_id, bucket, cosine,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
       |  FROM scored
       |)
       |SELECT query_id, vec_id, bucket, (CAST(round(cosine, 6) AS DOUBLE) + 0.0) AS cosine
       |FROM ranked WHERE rn <= 3
       |ORDER BY query_id, cosine DESC, vec_id""".stripMargin
  }

  /** Semantic dedup (SemDeDup-style: cluster the embedding space, then
    * drop near-identical vectors within each cluster — Abbas et al. 2023,
    * arXiv:2303.09540). THIS IS THE ORACLE/TEST FORM: clusters are the
    * deterministic md5 random-hyperplane sign buckets so every step is
    * DuckDB-expressible and the keep/drop rule gets an EXACT oracle —
    * but the plane count is FIXED at 8 (256 buckets), so in-bucket pair
    * work grows O(n²/256) with input size and the form carries a
    * machine-enforced input cap (mirroring embed_pair_sim_oracle). The
    * production path is `dedup_semantic_ivf` / semanticDedupIvf below:
    * trained IVF centroids with k growing toward √n, same keep rule.
    * Keep rule: a vector is dropped iff a LOWER-id vector in its bucket
    * has cosine ≥ the threshold — deterministic, order-free, one
    * bucketed shuffle + within-bucket pair join, never all-pairs.
    * DELIBERATE deviation from Abbas et al.'s greedy
    * keep-one-exemplar-per-group rule: the lower-id rule also counts
    * already-dropped vectors as droppers (a~b, b~c, a!~c drops BOTH b
    * and c where the greedy rule would keep c). Chains need
    * within-bucket near-dups of near-dups, so at real thresholds
    * (≥0.9) the inflation is marginal — and the rule is order-free and
    * engine-portable, which the greedy sequential rule is not. Both
    * engines implement the same rule, so the oracle is exact; expect a
    * slightly higher drop rate than greedy SemDeDup on heavily
    * duplicated corpora.
    */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    // MACHINE-ENFORCED role guard (the embed_pair_sim_oracle pattern):
    // fixed 256 buckets make in-bucket pairing O(n²/256) — fine at
    // oracle SFs, a cluster-killer beyond. Plan-embedded probe
    // (requireBounded): building the plan runs no job.
    val cap = 100000L
    // fan the single-row-group embeddings scan (r10, measured: 3.5 →
    // 1.9 s at sf0.1 — the 8-plane bucket dots and the in-bucket
    // pairing fused into one task; identity at production splits)
    val emb = requireBounded(
      graft.GraftSession.fan(Tables.embeddings(s, dir), col("vec_id"))
        .select(col("vec_id"), toDouble(col("embedding")).as("e")),
      cap,
      s"dedup_semantic is the fixed-256-bucket oracle form (input exceeds $cap vectors); " +
        "use dedup_semantic_ivf (trained centroids, k -> sqrt(n)) at scale")
    def planeW(p: Int): Column = transform(
      sequence(lit(0), size(col("e")) - 1),
      i =>
        (conv(substring(md5(concat(lit(s"$p:"), i.cast("string"))), 1, 4), 16, 10)
          .cast("long") % 1000).cast("double") / lit(1000.0) - lit(0.5))
    val bucketed = emb.withColumn(
      "bucket",
      (0 until 8)
        .map(p => when(Registry.dot(col("e"), planeW(p)) > 0, lit(1L << p)).otherwise(lit(0L)))
        .reduce(_ + _))
    // the synthetic vectors top out near cosine 0.51 (see embedPairSim),
    // so 0.30 stands in for the ~0.95 a real SemDeDup run would use
    val lo = bucketed.select(col("bucket"), col("vec_id").as("a"), col("e").as("ea"))
    val hi = bucketed.select(col("bucket"), col("vec_id").as("b"), col("e").as("eb"))
    val dropped = lo
      .join(hi, Seq("bucket"))
      .filter(col("a") < col("b"))
      .filter(Registry.cosine(col("ea"), col("eb")) >= 0.30)
      .select(col("b").as("vec_id"))
      .distinct()
    bucketed
      .join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("bucket"))
      .orderBy(col("vec_id"))
  }

  val dedupSemanticSql: String = {
    val planeDot = (p: Int) =>
      s"list_dot_product(emb, list_transform(range(0, len(emb)), i -> " +
        s"(CAST(concat('0x', substr(md5(concat('$p:', i)), 1, 4)) AS INT) % 1000) / 1000.0 - 0.5))"
    val bucket = (0 until 8)
      .map(p => s"(CASE WHEN ${planeDot(p)} > 0 THEN ${1L << p} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings
       |),
       |b AS (SELECT vec_id, emb, $bucket AS bucket FROM e),
       |dropped AS (
       |  SELECT DISTINCT hi.vec_id
       |  FROM b lo JOIN b hi ON lo.bucket = hi.bucket AND lo.vec_id < hi.vec_id
       |  WHERE list_dot_product(lo.emb, hi.emb) /
       |    (sqrt(list_dot_product(lo.emb, lo.emb)) * sqrt(list_dot_product(hi.emb, hi.emb))) >= 0.30
       |)
       |SELECT vec_id, bucket FROM b WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
       |ORDER BY vec_id""".stripMargin
  }

  /** int8 scalar-quantized kNN: per-vector symmetric quantization
    * (scale = max|x|/127, q_i = floor(x_i/scale + 0.5)) and ranking by
    * the QUANTIZED cosine — integer dot products, so candidate scoring
    * is exact in both engines (every intermediate ≤ 127²·dim fits a
    * double) and byte-sized vectors cut ANN memory/IO 4× at 100 TB.
    * floor(x+0.5) instead of round(): Spark HALF_UP and DuckDB
    * half-away-from-zero disagree on negative .5 ties; floor is
    * bit-identical in both. Brute-force probe set like embed_knn (the
    * baseline twin); the bucketed paths compose the same quantized
    * scoring inside their candidate lists.
    */
  def embedQuantizedKnn(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("e"))
      .withColumn("scale", array_max(transform(col("e"), x => abs(x))) / lit(127.0))
      // an all-zero embedding has scale 0: x/scale is NaN, and Spark's
      // non-ANSI cast(NaN as long) silently yields 0 while DuckDB keeps
      // NaN through floor — engine-divergent. A zero vector cannot be
      // cosine-ranked in ANY engine, so both sides drop it up front.
      .filter(col("scale") > 0)
      .withColumn("q", transform(col("e"), x => floor(x / col("scale") + lit(0.5)).cast("long")))
      .withColumn("qnrm", sqrt(Registry.dot(col("q").cast("array<double>"), col("q").cast("array<double>"))))
    val probes = emb
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("qnrm").as("qqnrm"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("qcos").desc, col("vec_id"))
    emb
      .join(broadcast(probes), col("vec_id") =!= col("query_id"))
      .withColumn(
        "qcos",
        Registry.dot(col("qq").cast("array<double>"), col("q").cast("array<double>")) /
          (col("qqnrm") * col("qnrm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .select(col("query_id"), col("vec_id"), emit(col("qcos"), 6).as("qcos"), col("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  val embedQuantizedKnnSql: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |  FROM embeddings
      |), s AS (
      |  SELECT vec_id, list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale, emb
      |  FROM e
      |), qv AS (
      |  SELECT vec_id,
      |    list_transform(emb, x -> CAST(floor(x / scale + 0.5) AS DOUBLE)) AS q
      |  FROM s WHERE scale > 0
      |), n AS (
      |  SELECT vec_id, q, sqrt(list_dot_product(q, q)) AS qnrm FROM qv
      |), p AS (SELECT vec_id AS query_id, q AS qq, qnrm AS qqnrm FROM n WHERE vec_id < 5),
      |scored AS (
      |  SELECT p.query_id, n.vec_id,
      |    list_dot_product(p.qq, n.q) / (p.qqnrm * n.qnrm) AS qcos
      |  FROM n JOIN p ON n.vec_id <> p.query_id
      |), ranked AS (
      |  SELECT query_id, vec_id, qcos,
      |    row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, vec_id) AS rn
      |  FROM scored
      |)
      |SELECT query_id, vec_id, (CAST(round(qcos, 6) AS DOUBLE) + 0.0) AS qcos, rn
      |FROM ranked WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin

  /** Seed centroids: the first k vectors (deterministic, zero-cost). */
  def seedCentroids(emb: DataFrame, k: Int): DataFrame =
    emb.filter(col("vec_id") < k).select(col("vec_id").as("cent_id"), col("e").as("ce"))

  /** Lloyd's k-means expressed as joins/aggregates: assign each vector
    * to its nearest centroid (broadcast crossJoin + per-vector argmax),
    * recompute each centroid as the element-wise mean of its members
    * (posexplode → per-(centroid, dim) average → re-assemble), repeat.
    * Deterministic: seeds are the first k vectors, means aggregate
    * through DECIMAL (order-independent), argmax tie-breaks on cent_id.
    * Empty clusters drop out (k can only shrink). Every iteration is
    * O(n·k) compares + one O(n·dim) shuffle — the shape that scales;
    * at 100 TB k grows toward √n and assignment stays a broadcast of
    * k·dim doubles. Lineage.cut per round keeps the plan from
    * re-deriving all prior rounds.
    */
  def ivfCentroids(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    var cents = seedCentroids(emb, k)
    for (_ <- 1 to iters) {
      // argmax as a max_by AGGREGATE, not a row_number window: the
      // ordering struct (csim, -cent_id) encodes the same tie-break
      // (max csim, then min cent_id — byte-identical selection), and
      // because the broadcast crossJoin leaves all k candidates of a
      // vector in ONE partition, the map-side partial combine reduces
      // n·k candidate rows to n BEFORE any exchange — the window form
      // hash-exchanged and sorted all n·k rows every Lloyd's round
      val assigned = emb
        .crossJoin(broadcast(cents))
        .groupBy(col("vec_id"))
        .agg(max_by(
          struct(col("cent_id"), col("e")),
          struct(Registry.cosine(col("e"), col("ce")).as("csim"), negate(col("cent_id")).as("nid")))
          .as("_best"))
        .select(col("_best.cent_id").as("cent_id"), col("_best.e").as("e"))
      cents = centroidMeans(assigned, Seq("cent_id"), "e", "v", "ce")
    }
    cents
  }

  /** One Lloyd's centroid update, shared by the IVF and PQ trainers:
    * each centroid (`keys`) becomes the element-wise mean of its
    * members' vectors `vec` (posexplode as `elem` → per-(keys, pos)
    * average through DECIMAL(38,18), order-independent so Lloyd's
    * cannot diverge by partitioning → re-assemble in pos order as
    * `out`). coalesce(1) between the two aggregates (r11): the
    * (keys, pos) mean frame is centroids·dim-bounded, so the
    * array-collect re-group runs on a SinglePartition child with NO
    * second exchange — one stage fewer per round — and the next
    * round broadcasts a one-partition leaf.
    */
  private[graft] def centroidMeans(
      assigned: DataFrame, keys: Seq[String], vec: String, elem: String,
      out: String): DataFrame = {
    val exactAvg = org.apache.spark.sql.types.DecimalType(38, 18)
    graft.Lineage.cut(
      assigned
        .select(keys.map(col) :+ posexplode(col(vec)).as(Seq("pos", elem)): _*)
        .groupBy(keys.map(col) :+ col("pos"): _*)
        .agg(avg(col(elem).cast(exactAvg)).cast("double").as("m"))
        .coalesce(1)
        .groupBy(keys.map(col): _*)
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(keys.map(col) :+ transform(col("pm"), x => x.getField("m")).as(out): _*))
  }

  /** Per-row top-`keep` centroid assignment (broadcast of k·dim).
    * Both branches aggregate instead of windowing: the crossJoin keeps
    * a row's k candidates in one partition, so partial aggregation
    * collapses n·k → n rows map-side where the old row_number form
    * exchanged+sorted all n·k (the k-factor shuffle cut that matters
    * as k grows toward √n). Tie order is byte-identical to the old
    * (csim DESC, cent_id ASC) sort: max_by on struct(csim, -cent_id) /
    * reverse(array_sort) over the same struct.
    */
  private[graft] def nearestCentroids(
      df: DataFrame, cents: DataFrame, idCol: String, vecCol: String, keep: Int): DataFrame = {
    val others = df.columns.filterNot(_ == idCol).toSeq
    val scored = df.crossJoin(broadcast(cents))
    if (keep == 1) {
      scored
        .groupBy(col(idCol))
        .agg(max_by(
          struct((others :+ "cent_id").map(col): _*),
          struct(
            Registry.cosine(col(vecCol), col("ce")).as("csim"),
            negate(col("cent_id")).as("nid"))).as("_best"))
        .select(col(idCol) +: (others :+ "cent_id").map(c => col(s"_best.$c").as(c)): _*)
    } else {
      // top-keep: the native bounded TopKPairs aggregate — O(keep)
      // state per group with the same (csim DESC, cent_id ASC) order
      // the old collect_list+sort form encoded, but without buffering
      // and sorting all k candidate structs per group (the r6→r7 A/B
      // localized embed_pair_sim_bucketed's ~1.2× drift to this
      // branch; the row's own columns are constant per group, so
      // first() is deterministic in value)
      scored
        .groupBy(col(idCol))
        .agg(
          Registry.topK(Registry.cosine(col(vecCol), col("ce")), col("cent_id"), keep)
            .as("_top"),
          others.map(c => first(col(c)).as(c)): _*)
        .select(col(idCol) +: others.map(col) :+ explode(col("_top.id")).as("cent_id"): _*)
    }
  }

  /** #38b IVF ANN, parameterized on centroid quality (`trained` = 2
    * Lloyd's iterations vs raw first-16 seeds — the recall test pins
    * trained ≥ seeded) and on `probes` (how many nearest lists a query
    * scans: more probes ⇒ candidate superset ⇒ weakly higher recall at
    * proportionally more list I/O — the knob a 100 TB deployment turns
    * per latency budget). Every vector joins its nearest centroid's
    * inverted list; centroid assignment is a broadcast of k·dim.
    */
  def embedIvfKnnWith(
      s: SparkSession, dir: String, trained: Boolean, probes: Int = 2): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), toDouble(col("embedding")).as("e"))
    val cents = if (trained) ivfCentroids(emb, 16, 2) else seedCentroids(emb, 16)
    val lists = nearestCentroids(emb, cents, "vec_id", "e", 1) // vec → home centroid
    val probed = nearestCentroids(
      emb.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("e").as("qe")),
      cents, "query_id", "qe", probes)
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    probed
      .join(lists, Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", Registry.cosine(col("qe"), col("e")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("vec_id"), col("cent_id"), emit(col("cosine"), 6).as("cosine"))
      .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
  }

  def embedIvfKnn(s: SparkSession, dir: String): DataFrame =
    embedIvfKnnWith(s, dir, trained = true)

  /** #38c the SAME search against a persisted index (sources.IvfIndex):
    * train-once / search-many. The first call per sf dir materializes
    * centroids + partitioned inverted lists; every later call (the
    * steady state a serving deployment lives in) skips training
    * entirely and reads ONLY the probed list partitions via dynamic
    * partition pruning. Byte-identical to embed_ivf_knn (test-pinned:
    * doubles round-trip parquet exactly), so it shares that entry's
    * rows-only status.
    */
  def embedIvfKnnIndexed(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), toDouble(col("embedding")).as("e"))
    // content-fingerprinted cache dir (ADVICE r6): a regenerated or
    // foreign dataset resolves to a different path, and the post-build
    // _FINGERPRINT marker guards torn/pre-seeded dirs
    val indexDir = graft.sources.Sources.cachedIndexDir(dir, "embeddings", "ivf-index-v1")(
      p => graft.sources.IvfIndex.build(emb, p))
    graft.sources.IvfIndex.search(
      s, indexDir,
      emb.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("e").as("qe")))
  }

  /** #37c SCALE-SAFE pair mining core: IVF candidate generation + exact
    * cosine verification inside buckets, over any (vec_id, e) relation.
    * Each vector lands in its 2 nearest centroid lists (trained
    * centroids, 2-probe); candidate pairs are generated WITHIN each
    * list by an equi-join on cent_id and verified with the exact
    * native dot product — false positives are impossible by
    * construction, recall comes from near-dup pairs (the production
    * threshold regime, cosine ≳ 0.9) sharing a probed list with
    * near-certainty. O(Σ list²) work instead of O(n²), shuffled on the
    * centroid key — at 100 TB, k grows toward √n and per-list work
    * stays bounded. `embed_pair_sim_oracle` remains the exact-oracle form;
    * this is the production path. (On structure-free data with a LOW
    * threshold no partition can prune AND keep recall — the recall
    * test plants near-duplicates and pins ≥ 0.9 at the 0.95 design
    * point.)
    */
  def pairMineBucketed(emb: DataFrame, threshold: Double, k: Int = 16, probes: Int = 2): DataFrame = {
    val withNorm = emb.withColumn("nrm", Registry.l2norm(col("e")))
    val cents = ivfCentroids(emb.select(col("vec_id"), col("e")), k, 2)
    val probed = nearestCentroids(withNorm, cents, "vec_id", "e", probes)
    val l = probed.select(col("cent_id"), col("vec_id").as("a"), col("e").as("ea"), col("nrm").as("na"))
    val r = probed.select(col("cent_id"), col("vec_id").as("b"), col("e").as("eb"), col("nrm").as("nb"))
    l.join(r, Seq("cent_id"))
      .filter(col("a") < col("b"))
      .withColumn("cosine", Registry.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      // a pair can meet in up to 2 shared lists — collapse to one row
      .groupBy(col("a"), col("b"))
      .agg(max(col("cosine")).as("cosine"))
  }

  /** #37c catalog entry (rows-only): the bucketed miner at the
    * testdata-calibrated 0.4 threshold (the synthetic vectors top out
    * at cosine ≈ 0.51; see embedPairSim).
    */
  def embedPairSimBucketed(s: SparkSession, dir: String): DataFrame =
    pairMineBucketed(
      Tables.embeddings(s, dir).select(col("vec_id"), toDouble(col("embedding")).as("e")),
      threshold = 0.4)
      .select(col("a"), col("b"), emit(col("cosine"), 6).as("cosine"))
      .orderBy(col("a"), col("b"))

  /** Production semantic dedup (the trained-cluster form of
    * dedup_semantic): mine within-cluster pairs ≥ threshold over the
    * 2-probe IVF lists, then drop every pair's higher id. Same keep
    * rule as the catalog entry (including its documented over-drop
    * deviation from greedy SemDeDup — see dedupSemantic), clusters from
    * ivfCentroids instead of sign buckets — O(Σ list²) pair work,
    * shuffled on cent_id, k grows toward √n at 100 TB.
    */
  def semanticDedupIvf(emb: DataFrame, threshold: Double): DataFrame =
    emb.join(
      pairMineBucketed(emb, threshold).select(col("b").as("vec_id")).distinct(),
      Seq("vec_id"), "left_anti")

  /** #37e catalog entry for the production path (rows-only: trained
    * centroids aren't SQL-expressible; the independent kept-set
    * invariant lives in QueryCatalogSpec).
    */
  def dedupSemanticIvf(s: SparkSession, dir: String): DataFrame =
    semanticDedupIvf(
      Tables.embeddings(s, dir).select(col("vec_id"), toDouble(col("embedding")).as("e")),
      threshold = 0.4)
      .select(col("vec_id"))
      .orderBy(col("vec_id"))

  // ----------------------------------------------------------- text stats

  private val StopwordsEn = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  /** #39 language-ID heuristic: per-language marker hits over the token
    * stream, argmax with deterministic tie-break (max hits, then
    * lexicographically greatest language — both engines sort the
    * (hits, lang) struct descending); compared against the labeled
    * `lang` for an accuracy readout. Exact DuckDB oracle.
    */
  /** Per-language marker word lists (shared by lang_id and the corpus
    * pipeline, and mirrored literally into their DuckDB oracles).
    */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "mit", "ein"),
    "en" -> StopwordsEn,
    "es" -> Seq("el", "la", "y", "es", "un", "una", "con"),
    "fr" -> Seq("le", "la", "et", "est", "un", "une", "avec"),
    "zh" -> Seq("de", "shi", "he", "zai"))

  /** (hits, lang) struct of the winning language — descending struct
    * sort = max hits, ties to the lexicographically greatest language.
    * Public: the streaming corpus intake applies the same gate.
    */
  def bestLang: Column = {
    val words = split(col("text"), " ")
    val hitCols = LangMarkers.map { case (lang, ms) =>
      struct(
        size(filter(words, w => w.isin(ms.map(lit(_)): _*))).as("hits"),
        lit(lang).as("lang"))
    }
    sort_array(array(hitCols: _*), asc = false).getItem(0)
  }

  def langId(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("best", bestLang)
      .select(
        col("doc_id"),
        col("lang").as("labeled"),
        col("best.lang").as("predicted"),
        col("best.hits").as("marker_hits"))
      .orderBy(col("doc_id"))

  /** The bestLang expression in DuckDB terms (shared oracle fragment). */
  private[queries] val bestLangSql: String = LangMarkers
    .map { case (lang, ms) =>
      s"{'hits': CAST(len(list_filter(string_split(text, ' '), w -> list_contains(${ms
          .mkString("['", "','", "']")}, w))) AS INT), 'lang': '$lang'}"
    }
    .mkString("list_reverse_sort([", ", ", "])[1]")

  val langIdSql: String =
    s"""WITH ranked AS (
       |  SELECT doc_id, lang AS labeled, $bestLangSql AS best
       |  FROM documents
       |)
       |SELECT doc_id, labeled, best.lang AS predicted, best.hits AS marker_hits
       |FROM ranked ORDER BY doc_id""".stripMargin

  /** #39b the LLM-corpus intake pipeline END-TO-END, as one lazy plan
    * (the documents-side analogue of feed_pipeline): language-ID gate →
    * quality gates (length, lexical diversity) → exact dedup (first doc
    * per content hash) → stable output. Every stage reuses the
    * catalog's building blocks; Catalyst fuses the gates into one scan
    * and the only shuffle is the dedup hash partition — the shape a
    * 100 TB pretraining intake actually runs.
    */
  def corpusPipeline(s: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    Tables.documents(s, dir)
      .withColumn("predicted", bestLang.getField("lang"))
      .withColumn("n_words", size(words))
      .filter(
        col("predicted") === "en" &&
          col("n_words") >= 30 &&
          size(array_distinct(words)).cast("double") / col("n_words") >= 0.3)
      .withColumn("h", md5(col("text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("source"), col("n_words"))
      .orderBy(col("doc_id"))
  }

  val corpusPipelineSql: String =
    s"""WITH pred AS (
       |  SELECT doc_id, source, text,
       |    len(string_split(text, ' ')) AS n_words,
       |    ($bestLangSql).lang AS predicted
       |  FROM documents
       |),
       |qual AS (
       |  SELECT * FROM pred
       |  WHERE predicted = 'en' AND n_words >= 30
       |    AND len(list_distinct(string_split(text, ' '))) * 1.0 / n_words >= 0.3
       |),
       |dedup AS (
       |  SELECT doc_id, source, n_words,
       |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |  FROM qual
       |)
       |SELECT doc_id, source, n_words FROM dedup WHERE rn = 1
       |ORDER BY doc_id""".stripMargin

  /** #71 the data-mixing report: per-source corpus composition before
    * and after the intake gates — docs, tokens, survivors of the SAME
    * language/length/diversity gates as corpus_pipeline, and each
    * source's share of surviving tokens (its pretraining MIXTURE
    * WEIGHT, the number a data-recipe decision actually consumes).
    * Gate-level only by design: exact dedup is cross-source, so its
    * effect belongs to the corpus, not a source row. One scan + one
    * (source) aggregation; the normalizing total arrives by single-row
    * broadcast, not a window-over-all.
    */
  def corpusMixReport(s: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    val per = Tables.documents(s, dir)
      .withColumn("n_words", size(words))
      .withColumn(
        "kept",
        (bestLang.getField("lang") === "en" &&
          col("n_words") >= 30 &&
          size(array_distinct(words)).cast("double") / col("n_words") >= 0.3).cast("int"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_tokens"),
        sum(col("kept")).cast("long").as("kept_docs"),
        sum(col("kept") * col("n_words")).as("kept_tokens"))
    val total = per.agg(sum(col("kept_tokens")).as("__tot"))
    per
      .crossJoin(broadcast(total))
      .select(
        col("source"),
        col("n_docs"),
        col("n_tokens"),
        col("kept_docs"),
        col("kept_tokens"),
        emit(col("kept_tokens").cast("double") / col("__tot"), 6).as("mix_frac"))
      .orderBy(col("source"))
  }

  val corpusMixReportSql: String =
    s"""WITH pred AS (
       |  SELECT source,
       |    len(string_split(text, ' ')) AS n_words,
       |    CASE WHEN ($bestLangSql).lang = 'en'
       |      AND len(string_split(text, ' ')) >= 30
       |      AND len(list_distinct(string_split(text, ' '))) * 1.0
       |          / len(string_split(text, ' ')) >= 0.3
       |    THEN 1 ELSE 0 END AS kept
       |  FROM documents
       |),
       |per AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_words) AS BIGINT) AS n_tokens,
       |    CAST(sum(kept) AS BIGINT) AS kept_docs,
       |    CAST(sum(kept * n_words) AS BIGINT) AS kept_tokens
       |  FROM pred GROUP BY source
       |)
       |SELECT source, n_docs, n_tokens, kept_docs, kept_tokens,
       |  (CAST(round(CAST(kept_tokens AS DOUBLE)
       |    / (SELECT sum(kept_tokens) FROM per), 6) AS DOUBLE) + 0.0) AS mix_frac
       |FROM per ORDER BY source""".stripMargin

  /** #40 quality scoring: word counts, distinct ratio, char stats —
    * the reference-free quality gates of a pretraining pipeline.
    */
  def textQuality(s: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        size(words).as("n_words"),
        emit(size(array_distinct(words)).cast("double") / size(words), 4).as("distinct_ratio"),
        emit(length(col("text")).cast("double") / size(words), 4).as("avg_token_len"),
        emit(
          size(filter(words, w => w.isin(StopwordsEn.map(lit(_)): _*))).cast("double") /
            size(words), 4).as("stopword_ratio"),
        (length(col("text")) === col("n_chars")).cast("int").as("len_matches_meta"))
      .orderBy(col("doc_id"))
  }

  val textQualitySql: String =
    s"""SELECT doc_id,
       |  len(string_split(text, ' ')) AS n_words,
       |  (CAST(round(len(list_distinct(string_split(text, ' '))) * 1.0 / len(string_split(text, ' ')), 4) AS DOUBLE) + 0.0) AS distinct_ratio,
       |  (CAST(round(length(text) * 1.0 / len(string_split(text, ' ')), 4) AS DOUBLE) + 0.0) AS avg_token_len,
       |  (CAST(round(len(list_filter(string_split(text, ' '), w -> list_contains(${StopwordsEn
        .mkString("['", "','", "']")}, w))) * 1.0 / len(string_split(text, ' ')), 4) AS DOUBLE) + 0.0) AS stopword_ratio,
       |  CAST(length(text) = n_chars AS INT) AS len_matches_meta
       |FROM documents ORDER BY doc_id""".stripMargin

  /** #41 token counting: whitespace tokens + a BPE-ish regex segmentation
    * (≤4-char alpha chunks, digits, punctuation singletons).
    */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        col("source"),
        size(split(col("text"), " +")).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]{1,4}|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .as("bpe_ish_tokens"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("total_ws_tokens"),
        sum(col("bpe_ish_tokens")).as("total_bpe_tokens"))
      .orderBy(col("source"))

  val tokenCountSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(len(regexp_split_to_array(text, ' +'))) AS BIGINT) AS total_ws_tokens,
      |  CAST(SUM(len(regexp_extract_all(text, '[a-z]{1,4}|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS total_bpe_tokens
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** #42 document fingerprint: min-md5 over word 5-grams (winnowing-style
    * rolling fingerprint, order-independent min → exact oracle).
    */
  def docFingerprint(s: SparkSession, dir: String): DataFrame =
    // distinct folded into the aggregate (count_distinct): the groupBy
    // reuses the gram window's (doc_id) exchange, so the separate
    // (doc_id, g) dedup shuffle of the naive form disappears
    gramRows(Tables.documents(s, dir), 5, distinct = false)
      .groupBy(col("doc_id"))
      .agg(min(md5(col("g"))).as("fingerprint"), count_distinct(col("g")).as("n_grams"))
      .orderBy(col("doc_id"))

  val docFingerprintSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id, gr AS g FROM (
      |    SELECT doc_id,
      |      unnest([ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]
      |              for i in range(1, greatest(len(ws)-3, 1))]) AS gr
      |    FROM w
      |  )
      |)
      |SELECT doc_id, MIN(md5(g)) AS fingerprint, COUNT(*) AS n_grams
      |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- multimodal

  /** #43 multimodal BATCH plumbing (test-pinned, NOT a catalog entry —
    * multimodalDecode below is the oracle-verified catalog operator):
    * media as opaque binary + typed metadata; "decode" is a
    * clearly-stubbed deterministic fake (crc32 of payload) running
    * partition-wise — the batch shape a real decoder LIBRARY
    * (image/audio) would plug into, with the Spark-side schema,
    * partitioning and column flow fully real. Kept because header
    * parsing (multimodalDecode) covers metadata but a pixel decoder
    * genuinely needs this mapPartitions shape.
    */
  def multimodalStub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withPayload = Tables.documents(s, dir)
      .select(
        col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        struct(
          col("n_chars").cast("int").as("width"),
          (col("n_chars") % 3 + 1).cast("int").as("channels"),
          lit("fake/utf8").as("format")).as("meta"))
      .as[MediaRow]
    // Partition-wise "decode": the exact shape a real media pipeline
    // uses — grab a batch of rows, hand the byte payloads to a decoder
    // library, emit typed features. STUB: no media libs in this
    // container, so decode() is a deterministic CRC32 placeholder; the
    // schema, batching and partition flow are the real plumbing.
    val decoded = withPayload.mapPartitions { rows =>
      rows.grouped(64).flatMap { batch =>
        batch.map { r =>
          MediaFeature(
            r.doc_id, r.meta.width, r.meta.channels, r.meta.format,
            decodeStub(r.payload), r.payload.length.toLong)
        }
      }
    }
    decoded.toDF().orderBy(col("doc_id"))
  }

  /** STUB decoder — stands in for an image/audio library call. */
  private def decodeStub(payload: Array[Byte]): Long = {
    val crc = new java.util.zip.CRC32
    crc.update(payload)
    crc.getValue
  }

  /** #43b multimodal decode — REAL image-header parsing (this replaces
    * the CRC32 stub's catalog row; the stub stays as the test-pinned
    * mapPartitions batch shape a decoder LIBRARY would plug into). The
    * payload column carries genuine PNG / GIF89a / BMP headers
    * (synthesized deterministically from doc_id since the container
    * ships no image fixtures — the header bytes are real, per the
    * format specs), and the decode side reads format, width and height
    * back OUT OF THE BYTES alone: magic-number dispatch, big-endian
    * PNG IHDR dims, little-endian GIF/BMP dims, all over the hex
    * transcription of the payload with codegen'd column expressions —
    * no UDF, no mapPartitions, DuckDB-expressible, EXACT oracle. At
    * 100 TB this is a narrow per-row projection that never shuffles;
    * header sniffing prunes decode work to the rows a real batch
    * decoder must touch.
    */
  def multimodalDecode(s: SparkSession, dir: String): DataFrame =
    decodeImageMeta(synthImagePayloads(Tables.documents(s, dir)))
      .select(col("doc_id"), col("format"), col("width"), col("height"), col("n_bytes"))
      .orderBy(col("doc_id"))

  /** Synthesized (doc_id, payload) image frames — genuine PNG / GIF89a
    * / BMP header bytes per the format specs, dims derived from doc_id
    * (the container ships no image fixtures). Shared by the catalog
    * decode entry and the binaryFile round-trip test, which writes
    * these very bytes to disk as real files.
    */
  private[graft] def synthImagePayloads(docsDf: DataFrame): DataFrame = {
    def le(v: Column, bytes: Int): Column =
      concat((0 until bytes).map(i => lpad(hex(shiftright(v, 8 * i) % 256), 2, "0")): _*)
    def be(v: Column, bytes: Int): Column = lpad(hex(v), bytes * 2, "0")
    val w = lit(16L) + pmod(col("doc_id"), lit(1920L))
    val h = lit(16L) + pmod(col("doc_id") * 7, lit(1080L))
    val hdr = when(
      pmod(col("doc_id"), lit(3)) === 0,
      concat(lit("89504E470D0A1A0A" + "0000000D" + "49484452"), be(w, 4), be(h, 4), lit("0806000000")))
      .when(pmod(col("doc_id"), lit(3)) === 1, concat(lit("474946383961"), le(w, 2), le(h, 2)))
      .otherwise(concat(
        lit("424D" + "00000000" + "0000" + "0000" + "36000000" + "28000000"),
        le(w, 4), le(h, 4)))
    docsDf.select(col("doc_id"), unhex(concat(hdr, hex(encode(col("text"), "UTF-8")))).as("payload"))
  }

  /** Image-header metadata decode over ANY frame carrying a binary
    * `payload` column (the catalog's synthesized payloads or
    * sources.readBinaryDir's real file bytes): magic-number dispatch,
    * big-endian PNG IHDR dims, little-endian GIF/BMP dims, all
    * codegen'd column expressions over the hex transcription — no UDF,
    * no shuffle; adds format/width/height/n_bytes.
    */
  def decodeImageMeta(withPayload: DataFrame): DataFrame = {
    val hx = hex(col("payload"))
    def hexInt(c: Column): Column = conv(c, 16, 10).cast("long")
    withPayload
      .withColumn(
        "format",
        when(substring(hx, 1, 16) === "89504E470D0A1A0A", lit("png"))
          .when(substring(hx, 1, 12) === "474946383961", lit("gif"))
          .when(substring(hx, 1, 4) === "424D", lit("bmp"))
          .otherwise(lit("unknown")))
      .withColumn(
        "width",
        when(col("format") === "png", hexInt(substring(hx, 33, 8)))
          .when(col("format") === "gif",
            hexInt(concat(substring(hx, 15, 2), substring(hx, 13, 2))))
          .when(col("format") === "bmp",
            hexInt(concat(
              substring(hx, 43, 2), substring(hx, 41, 2),
              substring(hx, 39, 2), substring(hx, 37, 2)))))
      .withColumn(
        "height",
        when(col("format") === "png", hexInt(substring(hx, 41, 8)))
          .when(col("format") === "gif",
            hexInt(concat(substring(hx, 19, 2), substring(hx, 17, 2))))
          .when(col("format") === "bmp",
            hexInt(concat(
              substring(hx, 51, 2), substring(hx, 49, 2),
              substring(hx, 47, 2), substring(hx, 45, 2)))))
      .withColumn("n_bytes", length(col("payload")).cast("long"))
  }

  val multimodalDecodeSql: String =
    """WITH src AS (
      |  SELECT doc_id, text,
      |    16 + doc_id % 1920 AS w,
      |    16 + (doc_id * 7) % 1080 AS h
      |  FROM documents
      |), gen AS (
      |  SELECT doc_id, text,
      |    CASE doc_id % 3
      |      WHEN 0 THEN concat('89504E470D0A1A0A', '0000000D', '49484452',
      |        lpad(hex(w), 8, '0'), lpad(hex(h), 8, '0'), '0806000000')
      |      WHEN 1 THEN concat('474946383961',
      |        lpad(hex(w % 256), 2, '0'), lpad(hex((w // 256) % 256), 2, '0'),
      |        lpad(hex(h % 256), 2, '0'), lpad(hex((h // 256) % 256), 2, '0'))
      |      ELSE concat('424D', '00000000', '0000', '0000', '36000000', '28000000',
      |        lpad(hex(w % 256), 2, '0'), lpad(hex((w // 256) % 256), 2, '0'),
      |        lpad(hex((w // 65536) % 256), 2, '0'), lpad(hex((w // 16777216) % 256), 2, '0'),
      |        lpad(hex(h % 256), 2, '0'), lpad(hex((h // 256) % 256), 2, '0'),
      |        lpad(hex((h // 65536) % 256), 2, '0'), lpad(hex((h // 16777216) % 256), 2, '0'))
      |    END AS hdr
      |  FROM src
      |), payloads AS (
      |  SELECT doc_id, unhex(concat(hdr, hex(encode(text)))) AS payload FROM gen
      |), hx AS (
      |  SELECT doc_id, payload, hex(payload) AS hx FROM payloads
      |)
      |SELECT doc_id,
      |  CASE WHEN substr(hx, 1, 16) = '89504E470D0A1A0A' THEN 'png'
      |       WHEN substr(hx, 1, 12) = '474946383961' THEN 'gif'
      |       WHEN substr(hx, 1, 4) = '424D' THEN 'bmp'
      |       ELSE 'unknown' END AS format,
      |  CASE WHEN substr(hx, 1, 16) = '89504E470D0A1A0A'
      |         THEN CAST(concat('0x', substr(hx, 33, 8)) AS BIGINT)
      |       WHEN substr(hx, 1, 12) = '474946383961'
      |         THEN CAST(concat('0x', substr(hx, 15, 2), substr(hx, 13, 2)) AS BIGINT)
      |       WHEN substr(hx, 1, 4) = '424D'
      |         THEN CAST(concat('0x', substr(hx, 43, 2), substr(hx, 41, 2),
      |                          substr(hx, 39, 2), substr(hx, 37, 2)) AS BIGINT)
      |  END AS width,
      |  CASE WHEN substr(hx, 1, 16) = '89504E470D0A1A0A'
      |         THEN CAST(concat('0x', substr(hx, 41, 8)) AS BIGINT)
      |       WHEN substr(hx, 1, 12) = '474946383961'
      |         THEN CAST(concat('0x', substr(hx, 19, 2), substr(hx, 17, 2)) AS BIGINT)
      |       WHEN substr(hx, 1, 4) = '424D'
      |         THEN CAST(concat('0x', substr(hx, 51, 2), substr(hx, 49, 2),
      |                          substr(hx, 47, 2), substr(hx, 45, 2)) AS BIGINT)
      |  END AS height,
      |  CAST(octet_length(payload) AS BIGINT) AS n_bytes
      |FROM hx ORDER BY doc_id""".stripMargin

  /** #43c multimodal audio decode — the WAV side of the real-decode
    * story: payloads carry a canonical 44-byte RIFF/WAVE PCM header
    * (magic, channels, sample rate, bit depth, data size — all
    * little-endian) ahead of the sample bytes, and the decode side
    * reads the audio metadata back OUT OF THE BYTES alone, including
    * the derived clip duration (data·8000 ÷ rate·ch·bits, exact
    * integral division in both engines). Same zero-shuffle per-row
    * column-expression shape as the image decode; a real sample
    * decoder would slot into the test-pinned mapPartitions path.
    */
  def multimodalAudio(s: SparkSession, dir: String): DataFrame =
    decodeAudioMeta(synthAudioPayloads(Tables.documents(s, dir)))
      .select(
        col("doc_id"), col("format"), col("channels"), col("sample_rate"),
        col("bits"), col("data_bytes"), col("duration_ms"))
      .orderBy(col("doc_id"))

  /** Synthesized (doc_id, payload) WAV frames — canonical 44-byte
    * RIFF/WAVE PCM headers ahead of the sample bytes. Shared by the
    * catalog decode entry and the binaryFile round-trip test.
    */
  private[graft] def synthAudioPayloads(docsDf: DataFrame): DataFrame = {
    def le(v: Column, bytes: Int): Column =
      concat((0 until bytes).map(i => lpad(hex(shiftright(v, 8 * i) % 256), 2, "0")): _*)
    val ch = lit(1L) + pmod(col("doc_id"), lit(2L))
    val sr = when(pmod(col("doc_id"), lit(3)) === 0, lit(8000L))
      .when(pmod(col("doc_id"), lit(3)) === 1, lit(16000L))
      .otherwise(lit(44100L))
    val bits = lit(16L)
    val dataLen = length(encode(col("text"), "UTF-8")).cast("long")
    val hdr = concat(
      lit("52494646"), le(lit(36L) + dataLen, 4), lit("57415645"),
      lit("666D7420"), lit("10000000"), lit("0100"), le(ch, 2),
      le(sr, 4), le(sr * ch * lit(2L), 4), le(ch * lit(2L), 2), le(bits, 2),
      lit("64617461"), le(dataLen, 4))
    docsDf.select(col("doc_id"), unhex(concat(hdr, hex(encode(col("text"), "UTF-8")))).as("payload"))
  }

  /** WAV-header metadata decode over ANY frame carrying a binary
    * `payload` column — the audio twin of decodeImageMeta: RIFF/WAVE
    * magic check, little-endian channels/rate/depth/data-size reads,
    * derived clip duration (data·8000 ÷ rate·ch·bits, exact integral
    * division in both engines). Adds format/channels/sample_rate/
    * bits/data_bytes/duration_ms.
    */
  def decodeAudioMeta(withPayload: DataFrame): DataFrame = {
    val hx = hex(col("payload"))
    def hexInt(c: Column): Column = conv(c, 16, 10).cast("long")
    withPayload
      .withColumn(
        "format",
        when(substring(hx, 1, 8) === "52494646" && substring(hx, 17, 8) === "57415645", lit("wav"))
          .otherwise(lit("unknown")))
      .withColumn(
        "channels",
        when(col("format") === "wav",
          hexInt(concat(substring(hx, 47, 2), substring(hx, 45, 2)))))
      .withColumn(
        "sample_rate",
        when(col("format") === "wav",
          hexInt(concat(
            substring(hx, 55, 2), substring(hx, 53, 2),
            substring(hx, 51, 2), substring(hx, 49, 2)))))
      .withColumn(
        "bits",
        when(col("format") === "wav",
          hexInt(concat(substring(hx, 71, 2), substring(hx, 69, 2)))))
      .withColumn(
        "data_bytes",
        when(col("format") === "wav",
          hexInt(concat(
            substring(hx, 87, 2), substring(hx, 85, 2),
            substring(hx, 83, 2), substring(hx, 81, 2)))))
      .withColumn(
        "duration_ms",
        expr("(data_bytes * 8000) div (sample_rate * channels * bits)"))
  }

  val multimodalAudioSql: String =
    """WITH src AS (
      |  SELECT doc_id, text,
      |    1 + doc_id % 2 AS ch,
      |    CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS sr,
      |    octet_length(encode(text)) AS dlen
      |  FROM documents
      |), gen AS (
      |  SELECT doc_id, text,
      |    concat('52494646',
      |      lpad(hex((36 + dlen) % 256), 2, '0'), lpad(hex(((36 + dlen) // 256) % 256), 2, '0'),
      |      lpad(hex(((36 + dlen) // 65536) % 256), 2, '0'),
      |      lpad(hex(((36 + dlen) // 16777216) % 256), 2, '0'),
      |      '57415645', '666D7420', '10000000', '0100',
      |      lpad(hex(ch % 256), 2, '0'), lpad(hex((ch // 256) % 256), 2, '0'),
      |      lpad(hex(sr % 256), 2, '0'), lpad(hex((sr // 256) % 256), 2, '0'),
      |      lpad(hex((sr // 65536) % 256), 2, '0'), lpad(hex((sr // 16777216) % 256), 2, '0'),
      |      lpad(hex((sr * ch * 2) % 256), 2, '0'), lpad(hex(((sr * ch * 2) // 256) % 256), 2, '0'),
      |      lpad(hex(((sr * ch * 2) // 65536) % 256), 2, '0'),
      |      lpad(hex(((sr * ch * 2) // 16777216) % 256), 2, '0'),
      |      lpad(hex((ch * 2) % 256), 2, '0'), lpad(hex(((ch * 2) // 256) % 256), 2, '0'),
      |      lpad(hex(16 % 256), 2, '0'), lpad(hex((16 // 256) % 256), 2, '0'),
      |      '64617461',
      |      lpad(hex(dlen % 256), 2, '0'), lpad(hex((dlen // 256) % 256), 2, '0'),
      |      lpad(hex((dlen // 65536) % 256), 2, '0'), lpad(hex((dlen // 16777216) % 256), 2, '0')
      |    ) AS hdr
      |  FROM src
      |), payloads AS (
      |  SELECT doc_id, unhex(concat(hdr, hex(encode(text)))) AS payload FROM gen
      |), hx AS (
      |  SELECT doc_id, hex(payload) AS hx FROM payloads
      |), fm AS (
      |  SELECT doc_id, hx,
      |    CASE WHEN substr(hx, 1, 8) = '52494646' AND substr(hx, 17, 8) = '57415645'
      |         THEN 'wav' ELSE 'unknown' END AS format
      |  FROM hx
      |), dec AS (
      |  SELECT doc_id, format,
      |    CASE WHEN format = 'wav'
      |      THEN CAST(concat('0x', substr(hx, 47, 2), substr(hx, 45, 2)) AS BIGINT) END AS channels,
      |    CASE WHEN format = 'wav'
      |      THEN CAST(concat('0x', substr(hx, 55, 2), substr(hx, 53, 2),
      |                substr(hx, 51, 2), substr(hx, 49, 2)) AS BIGINT) END AS sample_rate,
      |    CASE WHEN format = 'wav'
      |      THEN CAST(concat('0x', substr(hx, 71, 2), substr(hx, 69, 2)) AS BIGINT) END AS bits,
      |    CASE WHEN format = 'wav'
      |      THEN CAST(concat('0x', substr(hx, 87, 2), substr(hx, 85, 2),
      |                substr(hx, 83, 2), substr(hx, 81, 2)) AS BIGINT) END AS data_bytes
      |  FROM fm
      |)
      |SELECT doc_id, format, channels, sample_rate, bits, data_bytes,
      |  (data_bytes * 8000) // (sample_rate * channels * bits) AS duration_ms
      |FROM dec ORDER BY doc_id""".stripMargin

  /** #142 minhash_calibration — the LSH quality audit: for every
    * candidate pair the md5 twin emits (est ≥ 0.5), the EXACT 3-gram
    * Jaccard, binned by estimate — the "can I trust 0.7 to mean 0.7"
    * table read before picking a dedup threshold, and the quantified
    * face of the est-vs-true trade the whole MinHash family rides on.
    * Exact intersections are computed ONLY for emitted candidate
    * pairs (gram join restricted by the pair list — bounded by the
    * hot-bucket guard, never all-pairs); sizes come from the per-doc
    * distinct-gram counts on the same gram pass shape. Mean-of-exact
    * per bin uses the avg_bal device (DECIMAL sum, one double
    * division, round 6); bins are floor(est·10) on k/16-exact doubles
    * (no boundary ambiguity).
    */
  def minhashCalibration(s: SparkSession, dir: String): DataFrame = {
    // the pair list feeds BOTH the intersection join and the final
    // scoring join — without a cut the whole md5 signature pipeline
    // (the expensive subtree) executes twice, one per reference
    val cp = graft.Lineage.cut(
      dedupMinhashMd5(s, dir).select(col("a"), col("b"), col("est_jaccard")))
    // NOTE (r9, measured): do NOT cut gd — the three re-derivations of
    // the distinct gram pass are cheaper than pinning it (4.2 s with
    // re-derivation vs 4.8 s cut at sf0.1); the expensive subtree here
    // is the md5 signature pipeline, already cut above
    val gd = gramRows(Tables.documents(s, dir), 3, distinct = true)
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
        col("doc_id"), col("g"))
    val sizes = gd.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = gd.select(col("doc_id").as("a"), col("g"))
      .join(cp.select(col("a"), col("b")), Seq("a"))
      .join(gd.select(col("doc_id").as("b"), col("g")), Seq("b", "g"), "left_semi")
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"))
    val scored = cp
      .join(common, Seq("a", "b"), "left")
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .select(
        col("est_jaccard"),
        round(
          coalesce(col("n_common"), lit(0L)).cast("double") /
            (col("na") + col("nb") - coalesce(col("n_common"), lit(0L))),
          6).as("exact_j"))
    scored
      .groupBy(floor(col("est_jaccard") * 10).cast("int").as("est_bin"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(sum(col("exact_j").cast("decimal(38,6)")).cast("double") / count(lit(1)), 6)
          .as("mean_exact"),
        min(col("exact_j")).as("min_exact"),
        max(col("exact_j")).as("max_exact"))
      .orderBy(col("est_bin"))
  }

  val minhashCalibrationSql: String =
    s"""$minhashMd5PairsCte,
       |gd AS (SELECT DISTINCT doc_id, g FROM g),
       |sizes AS (SELECT doc_id, count(*) AS n FROM gd GROUP BY 1),
       |common AS (
       |  SELECT cp.a, cp.b, count(*) AS n_common
       |  FROM cp
       |  JOIN gd ga ON ga.doc_id = cp.a
       |  JOIN gd gb ON gb.doc_id = cp.b AND gb.g = ga.g
       |  GROUP BY 1, 2
       |),
       |scored AS (
       |  SELECT cp.est_jaccard,
       |    round(CAST(coalesce(n_common, 0) AS DOUBLE) /
       |      (sa.n + sb.n - coalesce(n_common, 0)), 6) AS exact_j
       |  FROM cp
       |  LEFT JOIN common USING (a, b)
       |  JOIN sizes sa ON cp.a = sa.doc_id
       |  JOIN sizes sb ON cp.b = sb.doc_id
       |)
       |SELECT CAST(floor(est_jaccard * 10) AS INT) AS est_bin, count(*) AS n_pairs,
       |  round(CAST(SUM(CAST(exact_j AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS mean_exact,
       |  min(exact_j) AS min_exact, max(exact_j) AS max_exact
       |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("minhash_calibration", minhashCalibration, minhashCalibrationSql),
    exact("dedup_exact_docs", dedupExactDocs, dedupExactDocsSql),
    rowsOnly("dedup_minhash", dedupMinhash),
    exact("dedup_minhash_md5", dedupMinhashMd5, dedupMinhashMd5Sql),
    rowsOnly("dedup_simhash", dedupSimhash),
    exact("dedup_simhash_md5", dedupSimhashMd5, dedupSimhashMd5Sql),
    exact("ngram_jaccard", ngramJaccard, ngramJaccardSql),
    exact("dedup_clusters", dedupClusters, dedupClustersSql),
    exact("embed_knn", embedKnn, embedKnnSql),
    exact("embed_pair_sim_oracle", embedPairSim, embedPairSimSql),
    rowsOnly("embed_pair_sim_bucketed", embedPairSimBucketed),
    rowsOnly("embed_lsh_knn", embedLshKnn),
    exact("embed_lsh_knn_md5", embedLshKnnMd5, embedLshKnnMd5Sql),
    exact("dedup_semantic", dedupSemantic, dedupSemanticSql),
    rowsOnly("dedup_semantic_ivf", dedupSemanticIvf),
    exact("embed_quantized_knn", embedQuantizedKnn, embedQuantizedKnnSql),
    rowsOnly("embed_ivf_knn", embedIvfKnn),
    rowsOnly("embed_ivf_knn_indexed", embedIvfKnnIndexed),
    exact("lang_id", langId, langIdSql),
    exact("corpus_pipeline", corpusPipeline, corpusPipelineSql),
    exact("corpus_mix_report", corpusMixReport, corpusMixReportSql),
    exact("text_quality", textQuality, textQualitySql),
    exact("token_count", tokenCount, tokenCountSql),
    exact("doc_fingerprint", docFingerprint, docFingerprintSql),
    exact("multimodal_decode", multimodalDecode, multimodalDecodeSql),
    exact("multimodal_audio", multimodalAudio, multimodalAudioSql))
}
