package graft.queries

import graft.{Key, OracleMath, Tables}
import graft.Key.{exact, rowsOnly}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 additions (§2 #68-#73): the standard training-data
  * operations the catalog still lacked — benchmark decontamination,
  * deterministic stratified sampling for data mixing, and
  * repetition-based quality filtering (the Gopher rules) — plus the
  * reference's id codec (tid_codec) and its second pipeline endpoint,
  * the profile list builder (list_pipeline). All exact-oracle, built
  * from the same codegen'd gram/hash/aggregate primitives.
  */
object Round4Ops {
  import OracleMath._

  /** #68 benchmark decontamination: remove every corpus document that
    * shares an n-gram with the evaluation set (the GPT-3/Pile-style
    * overlap rule — there 13-grams; on this small-vocabulary synthetic
    * corpus 4-grams play the same role). The benchmark here is the
    * first five documents; production swaps in the real eval-suite
    * grams. Shape at 100 TB: one gram pass over the corpus (shared
    * with the minhash family), an equi-join on the gram key against
    * the (bounded, but hint-free per policy — AQE broadcasts it when
    * small) benchmark gram set, and an anti join back on doc_id —
    * never an all-pairs comparison.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val grams = TextOps.gramRows(Tables.documents(s, dir), 4)
    val benchGrams = grams.filter(col("doc_id") < 5).select(col("g")).distinct()
    val contaminated = grams
      .filter(col("doc_id") >= 5)
      .join(benchGrams, Seq("g"), "left_semi")
      .select(col("doc_id"))
      .distinct()
    Tables.documents(s, dir)
      .filter(col("doc_id") >= 5)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  val decontaminateSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id,
      |    unnest([ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]
      |            for i in range(1, greatest(len(ws)-2, 1))]) AS g
      |  FROM w
      |),
      |bg AS (SELECT DISTINCT g FROM g WHERE doc_id < 5),
      |contaminated AS (
      |  SELECT DISTINCT g.doc_id FROM g JOIN bg USING (g) WHERE g.doc_id >= 5
      |)
      |SELECT doc_id, source FROM documents
      |WHERE doc_id >= 5 AND doc_id NOT IN (SELECT doc_id FROM contaminated)
      |ORDER BY doc_id""".stripMargin

  /** #69 deterministic stratified sampling (data mixing): each source
    * group keeps a configured fraction of its documents, decided by a
    * seeded cryptographic hash of the document id — reproducible
    * across runs/engines (no RNG), uniform by hash property, and
    * requiring zero coordination: the filter is embarrassingly
    * parallel and pushes into the scan side of any downstream plan.
    * Rates here: even-numbered sources 12/16 (0.75), odd 4/16 (0.25) —
    * hex-prefix thresholds so the cut is exact in lexicographic hash
    * space on both engines.
    */
  def corpusSample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("grp", substring(col("source"), 4, 10).cast("int") % 2)
      .withColumn("h", md5(concat(lit("mix1:"), col("doc_id").cast("string"))))
      .filter(col("h") < when(col("grp") === 0, lit("c")).otherwise(lit("4")))
      .select(col("doc_id"), col("source"), col("grp"))
      .orderBy(col("doc_id"))

  val corpusSampleSql: String =
    """SELECT doc_id, source, CAST(substr(source, 4) AS INT) % 2 AS grp
      |FROM documents
      |WHERE md5('mix1:' || CAST(doc_id AS VARCHAR)) <
      |  (CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN 'c' ELSE '4' END)
      |ORDER BY doc_id""".stripMargin

  /** #70 repetition-based quality stats (the Gopher repetition rules,
    * Rae et al. 2021 §A1.1 re-expressed relationally): per document,
    * the fraction of 2-gram mass in the single most frequent 2-gram
    * and the fraction in any repeated 2-gram; `flagged` marks
    * documents over either threshold. One gram explode → two
    * aggregations, both on the doc_id key — the (doc_id) exchange is
    * shared, and at 100 TB this is the same one-pass shape as
    * token_count/text_quality.
    */
  def docRepetition(s: SparkSession, dir: String): DataFrame =
    TextOps
      .gramRows(Tables.documents(s, dir), 2, distinct = false)
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n2"),
        max(col("c")).as("topc"),
        sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("dupc"))
      .select(
        col("doc_id"),
        col("n2"),
        emit(col("topc").cast("double") / col("n2"), 4).as("top_frac"),
        emit(col("dupc").cast("double") / col("n2"), 4).as("dup_frac"))
      // flag on the ROUNDED fractions so the cut is bit-identical to
      // the oracle's
      .withColumn(
        "flagged",
        (col("top_frac") >= 0.06 || col("dup_frac") >= 0.10).cast("int"))
      .orderBy(col("doc_id"))

  val docRepetitionSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (
      |  SELECT doc_id, unnest([ws[i]||' '||ws[i+1]
      |                         for i in range(1, greatest(len(ws), 1))]) AS g
      |  FROM w
      |),
      |cnt AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
      |stats AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n2, max(c) AS topc,
      |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dupc
      |  FROM cnt GROUP BY doc_id
      |),
      |fr AS (
      |  SELECT doc_id, n2,
      |    (CAST(round(CAST(topc AS DOUBLE) / n2, 4) AS DOUBLE) + 0.0) AS top_frac,
      |    (CAST(round(CAST(dupc AS DOUBLE) / n2, 4) AS DOUBLE) + 0.0) AS dup_frac
      |  FROM stats
      |)
      |SELECT doc_id, n2, top_frac, dup_frac,
      |  CAST(top_frac >= 0.06 OR dup_frac >= 0.10 AS INT) AS flagged
      |FROM fr ORDER BY doc_id""".stripMargin

  /** #72 the TID codec (datetime_to_tid main.rs:4195 / the id scheme
    * every reference post key embeds) over the events table: encode
    * each timestamp as a sortable-base32 TID and decode it back — both
    * directions pure codegen'd column arithmetic (graft.functions
    * .AtProto), verified bit-exact against the oracle's independent
    * SQL re-derivation. The sortability property (TID lexical order ==
    * time order) is what lets TID-keyed stores range-prune like
    * timestamp partitions.
    */
  def tidCodec(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      // sort the NARROW rows first — the range exchange + sort then
      // moves 3 primitive columns, and the per-row codec projection
      // (order-preserving) runs after: measured 5.6 → 3.6 s at sf0.1
      // vs sorting the derived 8-column wide rows.
      // r11 (StageProfile): a bare orderBy's range exchange is ~1.4 MB
      // here, so AQE coalesced the post-sort stage to ONE partition
      // and the whole codec projection below ran 3.0 s on one core
      // while 31 idled. Pin the range width to the configured shuffle
      // parallelism (scale-adaptive, same device as the heavy joins'
      // probe repartition — at production widths this is what orderBy
      // plans anyway) + sortWithinPartitions: identical global order
      // (range partitions are ordered, event_id is unique), codec now
      // 32-way. 3.05 → ~0.9 s.
      .repartitionByRange(
        s.conf.get("spark.sql.shuffle.partitions").toInt, col("event_id"))
      .sortWithinPartitions(col("event_id"))
      .withColumn("tid", graft.functions.AtProto.microsToTid(col("ts_us")))
      .withColumn("decoded_us", graft.functions.AtProto.tidToMicros(col("tid")))
      // (r7/r8) the id-codec family's OTHER directions, oracle-covered:
      // did→key (did_to_key), key→did-body (unsafe_key_to_did — the
      // faithful '_'→':' inverse), and the post-id→at:// URI rebuild
      // (convert_post_id_to_uri) through the real split/unescape/rkey
      // validation machinery — the oracle constructs each expectation
      // independently by string algebra
      .withColumn(
        "did_key",
        graft.functions.AtProto.didToKey(concat(lit("did:plc:u"), col("user_id"))))
      .withColumn("did_rt", graft.functions.AtProto.keyToDid(col("did_key")))
      .withColumn(
        "uri",
        graft.functions.AtProto.postIdToUri(
          concat(lit("post:"), col("tid"), lit("_"), col("did_key"))))

  val tidCodecSql: String = {
    val alphabet = "234567abcdefghijklmnopqrstuvwxyz"
    val headChars = (0 until 12)
      .map(k => s"substr('$alphabet', CAST((v >> ${59 - 5 * k}) & 31 AS INT) + 1, 1)")
    val lastChar = s"substr('$alphabet', CAST((v & 15) * 2 AS INT) + 1, 1)"
    val tidExpr = (headChars :+ lastChar).mkString("concat(", ", ", ")")
    val decodeHead = (0 until 12)
      .map(k => s"(strpos('$alphabet', substr(tid, ${k + 1}, 1)) - 1) * ${1L << (59 - 5 * k)}")
      .mkString(" + ")
    val decode = s"(($decodeHead + ((strpos('$alphabet', substr(tid, 13, 1)) - 1) >> 1)) >> 9)"
    s"""WITH v AS (
       |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, epoch_us(ts) * 512 AS v FROM events
       |),
       |enc AS (SELECT event_id, user_id, ts_us, $tidExpr AS tid FROM v)
       |SELECT event_id, user_id, ts_us, tid, $decode AS decoded_us,
       |  'plc_u' || user_id AS did_key,
       |  'plc:u' || user_id AS did_rt,
       |  'at://did:plc:u' || user_id || '/app.bsky.feed.post/' || tid AS uri
       |FROM enc ORDER BY event_id""".stripMargin
  }

  /** #73 the LIST BUILDER endpoint (generate_list_skeleton,
    * main.rs:2678) end-to-end from the wire: the reference's second
    * pipeline — blocks over the PROFILE dimension. customer plays the
    * profile store (name/handle ← c_name / c_mktsegment; has_banner ←
    * even nation). The payload unions a vip list input with the whole
    * network, dedups, keeps bannered profiles matching a handle regex
    * — vip ⊆ network makes the
    * oracle the plain filtered network while the union/dedup wire
    * machinery still executes.
    */
  def listPipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.{Binding, PipelineJson}
    val customer = Tables.customer(s, dir)
    val vip = customer.filter(col("c_acctbal") > 9000).select(col("c_custkey"))
    val binding = Binding(
      idCol = "c_custkey",
      authorCol = "c_custkey",
      tsCol = "c_custkey", // unused by the list builder
      valueCol = "c_acctbal",
      nowEpochMs = 0L,
      regexTargets = Map(
        "name" -> Seq("c_name"),
        "handle" -> Seq("c_mktsegment"),
        "name|handle" -> Seq("c_name", "c_mktsegment")),
      whereFields = Map.empty,
      fieldCols = Map(
        "has_avatar" -> (col("c_acctbal") > 0),
        "has_banner" -> (col("c_nationkey") % 2 === 0)),
      lists = Map("at://lists/vip" -> vip))
    val payload =
      """{"blocks":[
        |  {"type":"input","inputType":"list","listUri":"at://lists/vip"},
        |  {"type":"input","inputType":"network"},
        |  {"type":"remove","subject":"duplicates"},
        |  {"type":"remove","subject":"profile","value":"has_no_banner"},
        |  {"type":"regex","target":"handle","value":"auto|build"},
        |  {"type":"sort","sortType":"created_at"}
        |]}""".stripMargin
    PipelineJson
      .runListBuilder(customer, payload, binding)
      .select(
        col("c_custkey").as("did"),
        col("c_name").as("name"),
        col("c_mktsegment").as("handle"))
      .orderBy(col("did"))
  }

  val listPipelineSql: String =
    """SELECT c_custkey AS did, c_name AS name, c_mktsegment AS handle
      |FROM customer
      |WHERE c_nationkey % 2 = 0
      |  AND regexp_matches(c_mktsegment, '(?i)auto|build')
      |ORDER BY did""".stripMargin

  /** #74 passage-level duplicate detection by WINNOWING (the MOSS
    * fingerprinting scheme, Schleimer/Wilkerson/Aiken SIGMOD'03): hash
    * every 8-gram, keep the MINIMUM hash of each 4-gram window as a
    * fingerprint — any shared passage of ≥ 11 words between two
    * documents is guaranteed to surface at least one common
    * fingerprint, while only ~1/4 of gram hashes are retained. Pairs
    * sharing ≥ 2 fingerprints are passage-duplicate candidates. This
    * catches COPIED SPANS inside otherwise-different documents — the
    * case whole-document dedup (exact/minhash/simhash) misses. Scale
    * shape: the shuffle key is the fingerprint (bucketed join, never
    * all-pairs), and winnowing keeps the fingerprint table at a
    * fraction of the gram table. Exact oracle: md5 hashes and
    * row-frame window minima are engine-portable.
    */
  def dedupWinnow(s: SparkSession, dir: String): DataFrame =
    winnowPairs(Tables.documents(s, dir), g => substring(md5(concat_ws(" ", g)), 1, 16))

  /** The winnowing core over any (doc_id, text) frame, parameterized on
    * the gram hash — md5-prefix (oracle-portable strings) or xxhash64
    * (production: numeric min-agg, no string materialization). The
    * winnowing guarantee (any ≥ gramN+winN-1 word shared span yields a
    * common fingerprint) holds for ANY hash choice — modulo the
    * hot-bucket cap below: spans shared by more than `bucketCap` docs
    * are dropped as boilerplate (Schleimer et al.'s own rule for
    * over-common fingerprints), which bounds pair output.
    *
    * Fingerprinting is a pure PER-DOC ARRAY pipeline: 8-grams via
    * slice(), hash per gram, then each window start takes array_min of
    * its 4-hash neighborhood (tail windows clip, exactly like ROWS
    * BETWEEN CURRENT ROW AND 3 FOLLOWING — the DuckDB oracle keeps that
    * window form and the hashes match). The r4 form posexploded grams
    * through TWO per-doc window sorts (a lead chain, then a sliding
    * min) — one shuffle plus two sorts that this form does entirely
    * map-side; the only shuffle left is the fingerprint-key join,
    * which is the part that must shuffle.
    */
  def winnowPairs(
      docsDf: DataFrame,
      hashed: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      minShared: Int = 2,
      bucketCap: Option[Int] = None): DataFrame = {
    val ws = split(col("text"), " ")
    // docs with < 8 words yield no grams (and sequence() must not see a
    // negative upper bound) — drop them up front like the r4 form did.
    // `hashed` receives the 8-word gram as an ARRAY slice: the md5
    // oracle path concat_ws's it back to the gram string (hash-stable
    // vs r4); the xxhash64 production path hashes the slice
    // structurally and never materializes a gram string at all
    val hs = transform(
      sequence(lit(0), size(ws) - 8),
      i => hashed(slice(ws, i + 1, lit(8))))
    // fan the single-row-group docs scan (r10, measured): the whole
    // per-doc gram-hash array pipeline below is map-side by design, so
    // it FUSES WITH THE SCAN into one task (2.3 s single-task stage at
    // sf0.1 — ~700 md5s per doc on one core). GraftSession.fan is the
    // identity when the scan already fills the configured parallelism.
    val raw = graft.GraftSession.fan(docsDf, col("doc_id"))
      .filter(size(ws) >= 8)
      .select(col("doc_id"), hs.as("hs"))
      .select(
        col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(0), size(col("hs")) - 1),
          i => array_min(slice(col("hs"), i + 1, lit(4)))))).as("fp"))
    // the MOSS over-common-fingerprint rule: a fingerprint shared by
    // more than cap docs is boilerplate; pairing inside it would emit
    // m²/2 rows under one join key (TextOps.dropHotBuckets scaladoc)
    // the raw fingerprint frame (the whole per-doc gram-hash pipeline —
    // md5 oracle tax, or xxhash in production) is read twice inside the
    // hot-bucket guard and the guarded result twice more by the
    // self-join: cut BEFORE the guard, so it computes once while the
    // guard's observe() metrics stay in the final plan (r9)
    val fp = TextOps.dropHotBuckets(
      graft.Lineage.cut(raw), Seq("fp"), "winnow_hot_buckets", bucketCap)
    val l = fp.select(col("doc_id").as("a"), col("fp"))
    val r = fp.select(col("doc_id").as("b"), col("fp"))
    l.join(r, Seq("fp"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count_distinct(col("fp")).as("shared"))
      .filter(col("shared") >= minShared)
      .orderBy(col("a"), col("b"))
  }

  /** #74b the PRODUCTION winnowing path: xxhash64 fingerprints (a
    * numeric min-agg instead of md5 hex strings — the same
    * oracle-tax/production split as the minhash and simhash families).
    * Rows-only; the planted-span test pins that both variants honor
    * the winnowing guarantee on a shared 11-word passage.
    */
  def dedupWinnowFast(s: SparkSession, dir: String): DataFrame =
    // hash the 8-word slice STRUCTURALLY — no gram-string concat at all
    winnowPairs(Tables.documents(s, dir), g => xxhash64(g))

  val dedupWinnowSql: String = {
    val gram8 = (0 until 8).map(j => s"ws[i+$j]").mkString("||' '||")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS (
       |  SELECT doc_id,
       |    unnest([{'p': i, 'g': $gram8} for i in range(1, greatest(len(ws)-6, 1))]) AS s
       |  FROM w
       |),
       |gh AS (SELECT doc_id, s.p AS pos, substr(md5(s.g), 1, 16) AS h FROM g),
       |fp AS (
       |  SELECT DISTINCT doc_id,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
       |  FROM gh
       |),
       |guarded AS (
       |  SELECT * FROM fp
       |  QUALIFY count(*) OVER (PARTITION BY fp) <= ${TextOps.PairBucketCap}
       |)
       |SELECT l.doc_id AS a, r.doc_id AS b, count(DISTINCT l.fp) AS shared
       |FROM guarded l JOIN guarded r ON l.fp = r.fp AND l.doc_id < r.doc_id
       |GROUP BY 1, 2 HAVING count(DISTINCT l.fp) >= 2
       |ORDER BY a, b""".stripMargin
  }

  /** #75 corpus vocabulary builder: global token frequencies + document
    * frequencies, top 50 by term frequency. The first step of any
    * tokenizer/vocab training run (BPE seeding, stopword induction,
    * vocabulary pruning) and the same one-explode-one-aggregate shape
    * as token_count — at 100 TB the shuffle key is the token, partial
    * aggregation absorbs the heavy hitters map-side, and the top-k is
    * a TakeOrderedAndProject (no global sort).
    */
  def corpusVocab(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(50)

  val corpusVocabSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
      |)
      |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
      |FROM t WHERE token <> ''
      |GROUP BY token ORDER BY tf DESC, token LIMIT 50""".stripMargin

  private[graft] val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private[graft] val PhoneRe = "\\+1-555-[0-9]{4}"

  /** #76 PII scrubbing: redact emails and phone numbers before a corpus
    * leaves the pipeline, and report per-document redaction counts (the
    * audit trail a compliance pass needs). The synthetic corpus carries
    * no PII, so the op plants a deterministic contact line per document
    * and then proves the scrubber removes it — counts and the scrubbed
    * text are both oracle-hashed. Pure codegen'd regexp work: at
    * 100 TB this is an embarrassingly parallel map with zero shuffles
    * (the ORDER BY here exists only for the deterministic oracle).
    */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val withPii = Tables.documents(s, dir).select(
      col("doc_id"),
      concat(
        col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
    withPii
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).as("n_phones"),
        regexp_replace(
          regexp_replace(col("text"), lit(EmailRe), lit("<EMAIL>")),
          lit(PhoneRe), lit("<PHONE>")).as("scrubbed"))
      .orderBy(col("doc_id"))
  }

  val piiScrubSql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-' ||
      |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
      |  FROM documents
      |)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INT) AS n_emails,
      |  CAST(len(regexp_extract_all(text, '\+1-555-[0-9]{4}')) AS INT) AS n_phones,
      |  regexp_replace(regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
      |                 '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
      |FROM p ORDER BY doc_id""".stripMargin

  /** #77 document chunking: split each document into fixed-size
    * overlapping word windows (32 words, stride 24 — the shape an
    * embedding/RAG pipeline feeds to its encoder; the 8-word overlap
    * keeps passage boundaries from cutting context). Pure per-row
    * array arithmetic — sequence over chunk starts + slice — so it's
    * an embarrassingly parallel map with zero shuffles; the chunk
    * count per doc is ceil((len-overlap)/stride), deterministic.
    */
  def docChunks(s: SparkSession, dir: String): DataFrame = {
    val chunk = 32
    val stride = 24
    Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(
        col("doc_id"),
        size(col("ws")).as("n_words"),
        posexplode(
          transform(
            sequence(
              lit(0),
              // last start = ceil((len - chunk)/stride); Column `/` is
              // double division, so floor it back to the integer index
              greatest(
                floor((size(col("ws")) - lit(chunk) + lit(stride) - 1) / lit(stride)).cast("int"),
                lit(0))),
            i => concat_ws(" ", slice(col("ws"), i * stride + 1, lit(chunk)))))
          .as(Seq("chunk_id", "chunk")))
      .filter(col("chunk") =!= "")
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val docChunksSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |c AS (
      |  SELECT doc_id, len(ws) AS n_words,
      |    unnest([{'cid': i, 'chunk': array_to_string(ws[i*24+1 : i*24+32], ' ')}
      |            for i in range(0, greatest(CAST(ceil((len(ws) - 32.0 + 24) / 24) AS INT), 1))]) AS s
      |  FROM w
      |)
      |SELECT doc_id, n_words, s.cid AS chunk_id, s.chunk AS chunk
      |FROM c WHERE s.chunk <> ''
      |ORDER BY doc_id, chunk_id""".stripMargin

  /** #78 tf-idf term scoring: the classic relevance weight, top-3
    * terms per document. Two aggregates sharing the one gram pass —
    * per-(doc, token) tf and corpus-wide df — joined on the token key;
    * idf = ln((N+1)/(df+1)) with N a single-row broadcast. Ranking
    * happens on the ROUNDED score (OracleMath rule: both engines rank
    * identical 4-dp values, token tie-break), so the top-3 cut is
    * engine-portable. Scale: token-key shuffles with map-side partial
    * aggregation; never a cross join — the df relation joins the tf
    * relation token-to-token.
    */
  def docTfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = toks.select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("token"))
    tf.join(dfreq, Seq("token"))
      .crossJoin(broadcast(n)) // single-row corpus size
      .withColumn(
        "tfidf",
        emit(col("tf") * log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("token"), col("tf"), col("df"), col("tfidf"))
      .orderBy(col("doc_id"), col("tfidf").desc, col("token"))
  }

  val docTfidfSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
      |),
      |tok AS (SELECT doc_id, token FROM t WHERE token <> ''),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
      |    (CAST(round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1)), 4) AS DOUBLE) + 0.0) AS tfidf
      |  FROM tf JOIN df USING (token) CROSS JOIN n
      |),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
      |  FROM scored
      |)
      |SELECT doc_id, token, tf, df, tfidf FROM ranked WHERE rn <= 3
      |ORDER BY doc_id, tfidf DESC, token""".stripMargin

  /** #79 unigram-LM perplexity scoring: the cheap quality-filter proxy
    * (CCNet-style — there a 5-gram KenLM; on this synthetic vocabulary
    * the unigram model plays the same role). The model IS the corpus:
    * p(token) = tf / total, a doc's perplexity = exp(-mean ln p) over
    * its tokens; repetitive low-entropy docs score LOW, vocabulary-
    * stretching docs HIGH — the flag marks the high-perplexity tail
    * (the out-of-distribution candidates a quality pass reviews).
    * Per-token log-probs are rounded to 12 dp before the DECIMAL mean
    * (the engine-portable float rule), perplexity re-rounds at 4 dp.
    * Scale: the model table is |vocab| rows (token-key join, AQE
    * broadcasts it when small), one gram pass, one (doc) aggregate.
    */
  def docPerplexity(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val model = toks.groupBy(col("token")).agg(count(lit(1)).as("tf"))
    val total = toks.agg(count(lit(1)).as("total")) // single-row broadcast
    val ppl = toks
      .join(model, Seq("token"))
      .crossJoin(broadcast(total))
      .select(
        col("doc_id"),
        round(log(col("tf").cast("double") / col("total")), 12).cast(OracleMath.Dec12).as("lp"))
      .groupBy(col("doc_id"))
      // cast the exact sum to double BEFORE dividing: decimal-division
      // scale rules differ across engines, double division does not
      .agg(emit(exp(-(sum(col("lp")).cast("double") / count(lit(1)))), 4).as("perplexity"))
    ppl
      .withColumn("flagged", (col("perplexity") >= 31.0).cast("int"))
      .orderBy(col("doc_id"))
  }

  val docPerplexitySql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
      |),
      |tok AS (SELECT doc_id, token FROM t WHERE token <> ''),
      |model AS (SELECT token, count(*) AS tf FROM tok GROUP BY 1),
      |total AS (SELECT count(*) AS total FROM tok),
      |lp AS (
      |  SELECT doc_id,
      |    CAST(round(ln(CAST(tf AS DOUBLE) / total), 12) AS DECIMAL(38,12)) AS lp
      |  FROM tok JOIN model USING (token) CROSS JOIN total
      |),
      |ppl AS (
      |  SELECT doc_id,
      |    (CAST(round(exp(-(CAST(sum(lp) AS DOUBLE) / count(*))), 4) AS DOUBLE) + 0.0) AS perplexity
      |  FROM lp GROUP BY doc_id
      |)
      |SELECT doc_id, perplexity, CAST(perplexity >= 31.0 AS INT) AS flagged
      |FROM ppl ORDER BY doc_id""".stripMargin

  /** #80 deterministic train/val/test assignment: every document gets
    * exactly one split from a seeded hash of its id — ~90/5/5 by hex
    * prefix ("e"/"f" hex thresholds = 14/16, 15/16), reproducible
    * across runs AND engines, coordination-free (no global shuffle or
    * sort decides membership — the assignment is a per-row map that
    * composes with any downstream filter pushdown). The standard last
    * step of a corpus pipeline; leakage-safety comes from hashing the
    * ID, so near-duplicate docs must be deduped BEFORE splitting (the
    * dedup family upstream).
    */
  def corpusSplit(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("h", md5(concat(lit("split1:"), col("doc_id").cast("string"))))
      .select(
        col("doc_id"),
        col("source"),
        when(col("h") < "e", lit("train"))
          .when(col("h") < "f", lit("val"))
          .otherwise(lit("test")).as("split"))
      .orderBy(col("doc_id"))

  val corpusSplitSql: String =
    """SELECT doc_id, source,
      |  CASE WHEN md5('split1:' || CAST(doc_id AS VARCHAR)) < 'e' THEN 'train'
      |       WHEN md5('split1:' || CAST(doc_id AS VARCHAR)) < 'f' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("dedup_winnow", dedupWinnow, dedupWinnowSql),
    rowsOnly("dedup_winnow_fast", dedupWinnowFast),
    exact("tid_codec", tidCodec, tidCodecSql),
    exact("list_pipeline", listPipeline, listPipelineSql),
    exact("decontaminate", decontaminate, decontaminateSql),
    exact("corpus_sample", corpusSample, corpusSampleSql),
    exact("doc_repetition", docRepetition, docRepetitionSql),
    exact("corpus_vocab", corpusVocab, corpusVocabSql),
    exact("pii_scrub", piiScrub, piiScrubSql),
    exact("doc_chunks", docChunks, docChunksSql),
    exact("doc_tfidf", docTfidf, docTfidfSql),
    exact("doc_perplexity", docPerplexity, docPerplexitySql),
    exact("corpus_split", corpusSplit, corpusSplitSql))
}
