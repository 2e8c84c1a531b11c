package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.{exact, rowsOnly}

/** Round-9 operators — the catalog past the r8 close: the one classic
  * decision-support shape still absent (Q12), and the corpus-pipeline
  * maintenance ops a 100 TB training-data lake runs between full
  * rebuilds (snapshot diff, passage-level dedup, sequence packing,
  * indexed BM25 retrieval).
  */
object Round9Ops {
  import OracleMath._

  /** #229 q12_shipmode — TPC-H Q12 (late-shipment counts by ship mode;
    * the only classic 1-22 shape the catalog lacked). The testdata has
    * no l_shipmode/l_commitdate, so — like q4's 30-day lateness rule —
    * mode is derived deterministically from the line key and lateness
    * is l_shipdate > o_orderdate + 60 days; the oracle applies the
    * identical derivation. One fact-scan + orders join shuffled on the
    * order key, then a 2-row aggregate with map-side combine; the
    * priority split is a conditional count, not a second pass.
    */
  def q12Shipmode(s: SparkSession, dir: String): DataFrame = {
    val mode = expr("CASE (l_partkey * 7 + l_linenumber) % 5 " +
      "WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' WHEN 2 THEN 'AIR' " +
      "WHEN 3 THEN 'RAIL' ELSE 'TRUCK' END")
    Tables.lineitem(s, dir)
      .withColumn("shipmode", mode)
      .filter(col("shipmode").isin("MAIL", "SHIP"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("shipmode"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L))
          .as("low_line_count"))
      .orderBy(col("shipmode"))
  }

  val q12ShipmodeSql: String =
    """SELECT
      |  CASE (l_partkey * 7 + l_linenumber) % 5
      |    WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' WHEN 2 THEN 'AIR'
      |    WHEN 3 THEN 'RAIL' ELSE 'TRUCK' END AS shipmode,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE CASE (l_partkey * 7 + l_linenumber) % 5
      |    WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' WHEN 2 THEN 'AIR'
      |    WHEN 3 THEN 'RAIL' ELSE 'TRUCK' END IN ('MAIL','SHIP')
      |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** #230 corpus_diff — snapshot diff between two corpus versions (the
    * release audit before a retrain: what was added, removed, changed
    * per source). Versions are derived deterministically from the one
    * documents table (v1 drops doc_id%11==3, v2 drops doc_id%13==5 and
    * revises text where doc_id%7==2) so both engines diff the same
    * pair. ONE full-outer join on the doc key — content equality is an
    * md5 compare, so at 100 TB each side ships (id, hash, source), not
    * text — then a tiny status×source aggregate.
    */
  def corpusDiff(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text"))
    val v1 = base.filter(col("doc_id") % 11 =!= 3)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h1"))
    val v2 = base.filter(col("doc_id") % 13 =!= 5)
      .select(
        col("doc_id"), col("source").as("source2"),
        md5(when(col("doc_id") % 7 === 2, concat(col("text"), lit(" (rev2)")))
          .otherwise(col("text"))).as("h2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("source"), col("source2")).as("source"),
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "changed")
          .otherwise("same").as("status"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("status"))
  }

  val corpusDiffSql: String =
    """WITH v1 AS (
      |  SELECT doc_id, source, md5(text) AS h1 FROM documents WHERE doc_id % 11 <> 3
      |), v2 AS (
      |  SELECT doc_id, source AS source2,
      |    md5(CASE WHEN doc_id % 7 = 2 THEN text || ' (rev2)' ELSE text END) AS h2
      |  FROM documents WHERE doc_id % 13 <> 5
      |)
      |SELECT coalesce(v1.source, v2.source2) AS source,
      |  CASE WHEN h1 IS NULL THEN 'added'
      |       WHEN h2 IS NULL THEN 'removed'
      |       WHEN h1 <> h2 THEN 'changed' ELSE 'same' END AS status,
      |  count(*) AS n_docs
      |FROM v1 FULL OUTER JOIN v2 USING (doc_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** #231 passage_dedup — passage-level corpus dedup (the CCNet /
    * RefinedWeb "line dedup" step at the granularity the testdata
    * supports): the corpus is cut into non-overlapping 16-word
    * passages, each passage survives only at its FIRST occurrence
    * (lexicographic min (doc_id, pid) — deterministic, order-free),
    * and every doc reports how much of it survived plus the md5 of its
    * deduped text. Two shuffles total: a passage-HASH key aggregate
    * (map-side combinable min; the join back moves (hash, winner) not
    * passage text) and the doc-key reassembly; a boilerplate passage
    * repeated a million times costs one combine tree, never a hot
    * window partition.
    */
  def passageDedup(s: SparkSession, dir: String): DataFrame = {
    val pw = 16
    val pas = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(
        col("doc_id"),
        posexplode(
          transform(
            sequence(lit(0), greatest(ceil(size(col("ws")) / lit(pw.toDouble)).cast("int") - 1, lit(0))),
            i => concat_ws(" ", slice(col("ws"), i * pw + 1, lit(pw)))))
          .as(Seq("pid", "p")))
      .filter(col("p") =!= "")
      .withColumn("h", md5(col("p")))
    val win = pas
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pid"))).as("w"))
      .select(col("h"), col("w.doc_id").as("w_doc"), col("w.pid").as("w_pid"))
    val tot = pas.groupBy(col("doc_id")).agg(count(lit(1)).as("n_passages"))
    val kept = pas
      .join(win, Seq("h"))
      .filter(col("doc_id") === col("w_doc") && col("pid") === col("w_pid"))
    kept
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_kept"),
        md5(concat_ws(" ", transform(array_sort(collect_list(struct(col("pid"), col("p")))), x => x("p"))))
          .as("dedup_md5"))
      .join(tot, Seq("doc_id"))
      .select(col("doc_id"), col("n_passages"), col("n_kept"), col("dedup_md5"))
      .orderBy(col("doc_id"))
  }

  val passageDedupSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |p0 AS (
      |  SELECT doc_id,
      |    unnest([{'pid': i, 'p': array_to_string(ws[i*16+1 : i*16+16], ' ')}
      |            for i in range(0, greatest(CAST(ceil(len(ws)/16.0) AS INT), 1))]) AS s
      |  FROM w
      |), pas AS (
      |  SELECT doc_id, s.pid AS pid, s.p AS p FROM p0 WHERE s.p <> ''
      |), win AS (
      |  SELECT p, min(struct_pack(doc_id := doc_id, pid := pid)) AS w FROM pas GROUP BY p
      |), kept AS (
      |  SELECT pas.* FROM pas JOIN win ON pas.p = win.p
      |  WHERE pas.doc_id = w.doc_id AND pas.pid = w.pid
      |), tot AS (
      |  SELECT doc_id, count(*) AS n_passages FROM pas GROUP BY 1
      |)
      |SELECT doc_id, n_passages,
      |  (SELECT count(*) FROM kept k WHERE k.doc_id = tot.doc_id) AS n_kept,
      |  (SELECT md5(string_agg(k.p, ' ' ORDER BY k.pid)) FROM kept k WHERE k.doc_id = tot.doc_id) AS dedup_md5
      |FROM tot
      |WHERE EXISTS (SELECT 1 FROM kept k WHERE k.doc_id = tot.doc_id)
      |ORDER BY doc_id""".stripMargin

  /** #232 seq_pack — training-sequence packing (the GPT-style
    * concatenate-and-chunk step between a curated corpus and a
    * trainer): docs are laid end-to-end in deterministic (doc_id)
    * order within a (source, shard) stream and cut into fixed
    * 512-token sequences; a doc whose span crosses a cut is SPLIT
    * across the adjacent sequences (n_carried counts the docs arriving
    * mid-sequence — the attention-mask bookkeeping a trainer needs).
    * The running offset is a window sum over (source, shard): shards
    * exist precisely so the packing parallelism is a knob independent
    * of source cardinality — at 100 TB the same plan packs per
    * (source, shard=hash%K) with K sized to executors, no global
    * order, no single-partition window. Interval→sequence fan-out is a
    * per-row `sequence()` explode (a doc touches ceil(n/512)+1 seqs at
    * most), then one aggregate on the (source, shard, seq) key.
    */
  /** The packing span table shared by seq_pack and its manifest:
    * per doc, its [st, e) token interval in the (source, shard)
    * concatenation stream.
    */
  private def packSpans(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("shard")).orderBy(col("doc_id"))
    Tables.documents(s, dir)
      .select(
        col("doc_id"), col("source"), (col("doc_id") % 4).as("shard"),
        size(filter(split(col("text"), " "), t => t =!= "")).cast("long").as("n"))
      .filter(col("n") > 0)
      .withColumn("e", sum(col("n")).over(w))
      .withColumn("st", col("e") - col("n"))
  }

  def seqPack(s: SparkSession, dir: String): DataFrame = {
    val L = 512L
    packSpans(s, dir)
      .select(
        col("source"), col("shard"), col("st"), col("e"),
        explode(sequence((col("st") / L).cast("long"), ((col("e") - 1) / L).cast("long")))
          .as("seq_id"))
      .groupBy(col("source"), col("shard"), col("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(
          least(col("e"), (col("seq_id") + 1) * L) - greatest(col("st"), col("seq_id") * L))
          .as("n_tokens"),
        sum(when(col("st") < col("seq_id") * L, 1L).otherwise(0L)).as("n_carried"))
      .orderBy(col("source"), col("shard"), col("seq_id"))
  }

  val seqPackSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, doc_id % 4 AS shard,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n
      |  FROM documents
      |), nz AS (SELECT * FROM toks WHERE n > 0),
      |spans AS (
      |  SELECT source, shard, n,
      |    CAST(sum(n) OVER (PARTITION BY source, shard ORDER BY doc_id) AS BIGINT) AS e
      |  FROM nz
      |), t AS (
      |  SELECT source, shard, e - n AS st, e,
      |    unnest(range((e-n)//512, (e-1)//512 + 1)) AS seq_id
      |  FROM spans
      |)
      |SELECT source, shard, seq_id, count(*) AS n_docs,
      |  CAST(sum(least(e, (seq_id+1)*512) - greatest(st, seq_id*512)) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN st < seq_id*512 THEN 1 ELSE 0 END) AS BIGINT) AS n_carried
      |FROM t GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** #244 seq_pack_manifest — the detail table under #232's summary:
    * one row per (sequence, contributing doc) with the sequence-local
    * offset, the token count contributed, and the doc-local offset —
    * exactly the manifest a training data-loader consumes to
    * reconstruct sequences (and attention-mask boundaries) from the
    * packed corpus without re-tokenizing. Same spans stage, same
    * bounded sequence() explode; no aggregate at all — the manifest IS
    * the exploded interval algebra (exact oracle).
    */
  def seqPackManifest(s: SparkSession, dir: String): DataFrame = {
    val L = 512L
    packSpans(s, dir)
      .select(
        col("source"), col("shard"), col("doc_id"), col("st"), col("e"),
        explode(sequence((col("st") / L).cast("long"), ((col("e") - 1) / L).cast("long")))
          .as("seq_id"))
      .select(
        col("source"), col("shard"), col("seq_id"), col("doc_id"),
        (greatest(col("st"), col("seq_id") * L) - col("seq_id") * L).as("seq_off"),
        (least(col("e"), (col("seq_id") + 1) * L) - greatest(col("st"), col("seq_id") * L))
          .as("n_tok"),
        (greatest(col("st"), col("seq_id") * L) - col("st")).as("doc_off"))
      .orderBy(col("source"), col("shard"), col("seq_id"), col("seq_off"))
  }

  val seqPackManifestSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, doc_id % 4 AS shard,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n
      |  FROM documents
      |), nz AS (SELECT * FROM toks WHERE n > 0),
      |spans AS (
      |  SELECT doc_id, source, shard, n,
      |    CAST(sum(n) OVER (PARTITION BY source, shard ORDER BY doc_id) AS BIGINT) AS e
      |  FROM nz
      |), t AS (
      |  SELECT source, shard, doc_id, e - n AS st, e,
      |    unnest(range((e-n)//512, (e-1)//512 + 1)) AS seq_id
      |  FROM spans
      |)
      |SELECT source, shard, seq_id, doc_id,
      |  CAST(greatest(st, seq_id*512) - seq_id*512 AS BIGINT) AS seq_off,
      |  CAST(least(e, (seq_id+1)*512) - greatest(st, seq_id*512) AS BIGINT) AS n_tok,
      |  CAST(greatest(st, seq_id*512) - st AS BIGINT) AS doc_off
      |FROM t ORDER BY source, shard, seq_id, seq_off""".stripMargin

  /** #233 bm25_indexed — bm25_search served from the persisted
    * inverted index ([[graft.sources.InvertedIndex]]): postings
    * partitioned by token-hash bucket, so the query reads the buckets
    * its terms hash into (dynamic partition pruning, spec-pinned) plus
    * a one-row stats table — never the corpus. Identical scoring
    * algebra ⇒ byte-identical output, so this entry shares
    * bm25_search's oracle verbatim (the same pin scorecard_incremental
    * uses: the index path must equal the scan path exactly). Index dir
    * is content-fingerprinted (Sources.cachedIndexDir).
    */
  def bm25Indexed(s: SparkSession, dir: String): DataFrame = {
    val idx = graft.sources.Sources.cachedIndexDir(dir, "documents", "bm25-inverted-v1") { p =>
      graft.sources.InvertedIndex.build(Tables.documents(s, dir), p)
    }
    graft.sources.InvertedIndex.search(s, idx, Seq("vector", "hash", "stream"), k = 20)
  }

  /** #235 corpus_sample_stratified — per-source weighted sampling:
    * corpus_weighted_sample's Efraimidis-Spirakis key (deterministic
    * md5-uniform, weight = doc length) taken top-20 WITHIN each source
    * instead of globally — the stratified draw a mixture builder uses
    * so no source is crowded out. The per-source top-k is the native
    * bounded TopKPairs aggregate: O(k) state per source with map-side
    * partial merge — no window sort over a source partition, so one
    * source owning 90% of a 100 TB corpus costs a combine tree, not a
    * hot partition. Exact oracle: the same key QUALIFY'd per source.
    */
  def corpusSampleStratified(s: SparkSession, dir: String): DataFrame = {
    val u = (conv(substring(md5(concat(lit("ws:"), col("doc_id").cast("string"))), 1, 6), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(16777216.0)
    Tables.documents(s, dir)
      .filter(col("n_chars") > 0)
      .select(
        col("doc_id"), col("source"),
        emit(log(u) * lit(1000000.0) / col("n_chars"), 6).as("es_key"))
      .groupBy(col("source"))
      .agg(graft.functions.Registry.topK(col("es_key"), col("doc_id"), 20).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(
        col("source"), (col("pos") + 1).cast("long").as("rk"),
        col("t.id").as("doc_id"), col("t.score").as("es_key"))
      .orderBy(col("source"), col("rk"))
  }

  val corpusSampleStratifiedSql: String =
    """SELECT source,
      |  CAST(row_number() OVER (PARTITION BY source ORDER BY es_key DESC, doc_id) AS BIGINT) AS rk,
      |  doc_id, es_key
      |FROM (
      |  SELECT doc_id, source,
      |    (CAST(round(ln((CAST(concat('0x', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) + 0.5)
      |               / 16777216.0) * 1000000.0 / n_chars, 6) AS DOUBLE) + 0.0) AS es_key
      |  FROM documents WHERE n_chars > 0)
      |QUALIFY rk <= 20
      |ORDER BY source, rk""".stripMargin

  /** #236 doc_quality_classifier — a fasttext-shaped linear quality
    * scorer over hashed token features (the learned-filter slot in a
    * curation pipeline, with a deterministic stand-in weight table so
    * both engines score identically): token → md5 feature bucket
    * (64), bucket → integer milli-weight ((j·2654435761) mod 1001 −
    * 500), doc score = Σ mw / (1000·n_tokens) rounded exactly at 6 dp
    * via the mean6 integer scheme (sum stays a LONG — no float
    * accumulation, no half-case divergence), verdict = sign of the
    * integer sum. One explode + one doc-key aggregate, all codegen'd;
    * swapping the stand-in weights for trained ones changes one
    * column. Exact oracle.
    */
  def docQualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val bucket = pmod(
      conv(substring(md5(col("token")), 1, 6), 16, 10).cast("long"), lit(64L))
    val mw = (bucket * lit(2654435761L)) % lit(1001L) - lit(500L)
    toks
      .select(col("doc_id"), mw.as("mw"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("mw")).as("sum_mw"))
      .select(
        col("doc_id"), col("n_tokens"),
        Round6Ops.mean6(col("sum_mw").cast(Dec) / lit(1000), col("n_tokens")).as("score"),
        when(col("sum_mw") >= 0, "keep").otherwise("drop").as("verdict"))
      .orderBy(col("doc_id"))
  }

  val docQualityClassifierSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
      |), f AS (
      |  SELECT doc_id,
      |    (CAST(concat('0x', substr(md5(token), 1, 6)) AS BIGINT) % 64) * 2654435761 % 1001 - 500 AS mw
      |  FROM toks WHERE token <> ''
      |), agg AS (
      |  SELECT doc_id, count(*) AS n_tokens, CAST(sum(mw) AS BIGINT) AS sum_mw FROM f GROUP BY 1
      |)
      |SELECT doc_id, n_tokens,
      |  CASE WHEN sum_mw = 0 THEN 0.0 ELSE
      |    sign(sum_mw * 1000) * floor((abs(sum_mw * 1000) * 2 + n_tokens) / (n_tokens * 2)) / 1000000.0
      |  END AS score,
      |  CASE WHEN sum_mw >= 0 THEN 'keep' ELSE 'drop' END AS verdict
      |FROM agg ORDER BY doc_id""".stripMargin

  /** #237 neardup_incremental — incremental NEAR-dedup against the
    * persisted MinHash band index ([[graft.sources.NeardupIndex]]):
    * the steady-state sibling of dedup_incremental (exact hashes) and
    * the missing production form of dedup_minhash (which re-shingles
    * the whole corpus per run). History = docs < 100 signed into the
    * index once (content-fingerprint cached); the intake batch (docs ≥
    * 100) self-dedups in-batch and anti-matches the index, both
    * through hot-bucket-capped (band, bandhash) joins. Rows-only by
    * declared design (xxhash64 signatures; dedup_minhash_md5
    * oracle-pins the identical pipeline shape) — the spec pins planted
    * near-dup rejection, novel admission, and re-ingest idempotence.
    */
  def neardupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val indexDir = graft.sources.Sources.cachedIndexDir(dir, "documents", "neardup-bands-v1")(
      p => graft.sources.NeardupIndex.build(d.filter(col("doc_id") < 100), p))
    graft.sources.NeardupIndex
      .intake(d.filter(col("doc_id") >= 100), graft.sources.NeardupIndex.read(s, indexDir))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** #238 interval_join — general interval-OVERLAP self-join with
    * variable-length intervals (concurrent-open-orders per customer;
    * range_join's band trick only covers fixed-width windows): each
    * order owns [orderdate, orderdate + 1..14 days). A naive overlap
    * join is a nested loop; the scalable form EXPLODES each interval
    * into the 30-day coarse buckets it covers (≤ 2 here — interval
    * length bounds the fan-out) and equi-joins on (customer, bucket).
    * A pair sharing two buckets must count ONCE: the count-once rule
    * keeps a pair only in the bucket containing its overlap start
    * (bucket == ⌊max(startₐ, start_b)/W⌋) — the standard dedup-free
    * spatial-join identity, spec-pinned equal to the direct non-equi
    * join. All-integer day arithmetic, exact oracle via DuckDB's
    * native inequality join.
    */
  def intervalJoin(s: SparkSession, dir: String): DataFrame = {
    val W = 30L
    val iv = Tables.orders(s, dir)
      .select(
        col("o_orderkey").as("k"), col("o_custkey").as("cust"),
        expr("unix_micros(o_orderdate) div 86400000000").as("st"),
        (expr("unix_micros(o_orderdate) div 86400000000") + col("o_orderkey") % 14 + 1)
          .as("en"))
    val bucketed = iv.withColumn(
      "bucket", explode(sequence((col("st") / W).cast("long"), ((col("en") - 1) / W).cast("long"))))
    val l = bucketed.select(
      col("cust"), col("bucket"), col("k").as("ka"), col("st").as("sa"), col("en").as("ea"))
    val r = bucketed.select(
      col("cust"), col("bucket"), col("k").as("kb"), col("st").as("sb"), col("en").as("eb"))
    l.join(
      r,
      Seq("cust", "bucket"))
      .filter(
        col("ka") < col("kb") && col("sa") < col("eb") && col("sb") < col("ea") &&
          col("bucket") === (greatest(col("sa"), col("sb")) / W).cast("long"))
      .select(
        col("cust"),
        (least(col("ea"), col("eb")) - greatest(col("sa"), col("sb"))).as("ov"))
      .groupBy(col("cust"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("ov")).as("overlap_days"),
        max(col("ov")).as("max_overlap"))
      .orderBy(col("cust"))
  }

  val intervalJoinSql: String =
    """WITH iv AS (
      |  SELECT o_orderkey AS k, o_custkey AS cust,
      |    epoch_us(o_orderdate)//86400000000 AS st,
      |    epoch_us(o_orderdate)//86400000000 + o_orderkey % 14 + 1 AS en
      |  FROM orders
      |)
      |SELECT a.cust, count(*) AS n_pairs,
      |  CAST(sum(least(a.en, b.en) - greatest(a.st, b.st)) AS BIGINT) AS overlap_days,
      |  CAST(max(least(a.en, b.en) - greatest(a.st, b.st)) AS BIGINT) AS max_overlap
      |FROM iv a JOIN iv b
      |  ON a.cust = b.cust AND a.k < b.k AND a.st < b.en AND b.st < a.en
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** #239 embed_dim_stats — per-dimension embedding QA (the health
    * table checked before any ANN index or training run: dead dims,
    * clipped ranges, drifted scales): one posexplode pass, one
    * 64-group aggregate. Means go through the mean6 integer scheme,
    * second moments through the round-12 decimal sums
    * label_centroid_sim pinned cross-engine, min/max are the raw
    * stored floats (bit-identical in both engines), zero counts are
    * exact integers. Exact oracle.
    */
  def embedDimStats(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("pos", "vf")))
      .select(col("pos").cast("long").as("pos"), col("vf").cast("double").as("v"))
    e.groupBy(col("pos"))
      .agg(
        count(lit(1)).as("n_vecs"),
        Round6Ops.mean6(dsum(col("v")), count(lit(1))).as("mean"),
        emit(
          sum(round(col("v") * col("v"), 12).cast(Dec12)).cast("double") / count(lit(1)), 6)
          .as("mean_sq"),
        min(col("v")).as("vmin"),
        max(col("v")).as("vmax"),
        sum(when(col("v") === 0.0, 1L).otherwise(0L)).as("n_zero"))
      .orderBy(col("pos"))
  }

  val embedDimStatsSql: String =
    """WITH e AS (
      |  SELECT pos, CAST(embedding[pos + 1] AS DOUBLE) AS v
      |  FROM embeddings, range(0, 64) t(pos)
      |)
      |SELECT pos, count(*) AS n_vecs,
      |  CASE WHEN CAST((SUM(CAST(v AS DECIMAL(38,6)))) * 1000000 AS BIGINT) = 0 THEN 0.0 ELSE
      |    sign(CAST((SUM(CAST(v AS DECIMAL(38,6)))) * 1000000 AS BIGINT)) *
      |    floor((abs(CAST((SUM(CAST(v AS DECIMAL(38,6)))) * 1000000 AS BIGINT)) * 2 + (count(*))) / ((count(*)) * 2))
      |    / 1000000.0 END AS mean,
      |  (CAST(round(CAST(SUM(CAST(round(v * v, 12) AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS DOUBLE) + 0.0) AS mean_sq,
      |  min(v) AS vmin, max(v) AS vmax,
      |  CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  /** #240 multimodal_video — video-container metadata decode, the
    * third modality beside the PNG/GIF/BMP image headers (#43) and
    * RIFF/WAVE audio (#43c): synthesized ISO-BMFF bytes (a genuine
    * ftyp box + moov/mvhd per the spec layout) parsed back OUT OF THE
    * BYTES alone — box-size walk to moov (no fixed offsets assumed
    * beyond the spec), big-endian timescale/duration from mvhd,
    * duration in seconds via exact integral division, and the
    * frame-sampling plumbing (how many 2-second sample points a frame
    * extractor would pull). Zero-shuffle codegen'd projection; the
    * mapPartitions batch shape for a real demuxer library stays the
    * test-pinned multimodalStub. Exact oracle.
    */
  def multimodalVideo(s: SparkSession, dir: String): DataFrame =
    decodeVideoMeta(synthVideoPayloads(Tables.documents(s, dir)))
      .orderBy(col("doc_id"))

  /** ftyp(isom) + moov(mvhd v0) with timescale/duration derived from
    * doc_id; mvhd body padded to its spec 100 bytes.
    */
  private[graft] def synthVideoPayloads(docsDf: DataFrame): DataFrame = {
    def be(v: org.apache.spark.sql.Column, bytes: Int) = lpad(hex(v), bytes * 2, "0")
    val ts = lit(600L) + pmod(col("doc_id"), lit(3L)) * 400L
    val dur = (pmod(col("doc_id"), lit(120L)) + 1L) * ts + pmod(col("doc_id") * 13L, lit(97L))
    val ftyp = concat(lit("00000014"), lit("66747970"), lit("69736F6D"), lit("00000200"), lit("6D703431"))
    val mvhd = concat(
      lit("0000006C"), lit("6D766864"), lit("00000000"), // size 108, 'mvhd', v0+flags
      lit("00000000"), lit("00000000"), // creation, modification
      be(ts, 4), be(dur, 4),
      lit("00010000"), lit("0100"), // rate 1.0, volume 1.0
      lit("0" * 20), // reserved (10 bytes)
      lit("0" * 72), // matrix (36 bytes)
      lit("0" * 48), // pre_defined (24 bytes)
      lit("00000002")) // next_track_id
    val moov = concat(lit("00000074"), lit("6D6F6F76"), mvhd) // 8 + 108
    docsDf.select(col("doc_id"), unhex(concat(ftyp, moov)).as("payload"))
  }

  /** Parse by walking the box structure: first box size → moov offset,
    * type tags verified, mvhd fields at their spec positions relative
    * to the WALKED offset (a payload with a different ftyp size still
    * decodes).
    */
  private[graft] def decodeVideoMeta(payloads: DataFrame): DataFrame = {
    val h = hex(col("payload"))
    def at(off: org.apache.spark.sql.Column, bytes: Int) =
      substring(h, (off * 2 + 1).cast("int"), lit(bytes * 2))
    def be(c: org.apache.spark.sql.Column) = conv(c, 16, 10).cast("long")
    val ftypSize = be(at(lit(0L), 4))
    val brand = decode(unhex(at(lit(8L), 4)), "UTF-8")
    val moovOff = ftypSize
    val moovType = at(moovOff + 4, 4)
    val mvhdOff = moovOff + 8
    val mvhdType = at(mvhdOff + 4, 4)
    val timescale = be(at(mvhdOff + 20, 4))
    val duration = be(at(mvhdOff + 24, 4))
    payloads
      .filter(at(lit(4L), 4) === "66747970" && moovType === "6D6F6F76" && mvhdType === "6D766864")
      .select(
        col("doc_id"), brand.as("brand"), timescale.as("timescale"), duration.as("duration"),
        (duration / timescale).cast("long").as("duration_s"),
        ((duration / timescale).cast("long") / lit(2L)).cast("long").as("n_samples"),
        length(col("payload")).cast("long").as("n_bytes"))
  }

  val multimodalVideoSql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    600 + (doc_id % 3) * 400 AS ts,
      |    (doc_id % 120 + 1) * (600 + (doc_id % 3) * 400) + (doc_id * 13) % 97 AS dur
      |  FROM documents
      |)
      |SELECT doc_id, 'isom' AS brand,
      |  CAST(ts AS BIGINT) AS timescale, CAST(dur AS BIGINT) AS duration,
      |  CAST(dur // ts AS BIGINT) AS duration_s,
      |  CAST((dur // ts) // 2 AS BIGINT) AS n_samples,
      |  CAST(136 AS BIGINT) AS n_bytes
      |FROM p ORDER BY doc_id""".stripMargin

  /** #241 gap_fill_locf — last-observation-carried-forward
    * densification (the metrics idiom #28c's zero-fill can't express:
    * a gauge holds its last value through silent days): sparse per-day
    * observations (latest purchase value per user-day via the house
    * max_by argmax — no window over raw events), a day×user grid from
    * single-row span broadcasts, and ONE forward-fill window per user
    * ordered by day — fine keys, horizon-bounded partitions. Days
    * before a user's first observation stay null (LOCF has nothing to
    * carry — the honest gap). Exact oracle via DuckDB's IGNORE NULLS
    * frame.
    */
  def gapFillLocf(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).filter(col("user_id") < 40)
    val obs = ev
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).getField("value")
        .as("obs_value"))
    val days = ev
      .agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val users = ev.select(col("user_id")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    days.crossJoin(users)
      .join(obs, Seq("user_id", "day"), "left")
      .withColumn("value", last(col("obs_value"), ignoreNulls = true).over(w))
      .select(
        col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        emit(col("value"), 4).as("value"),
        col("obs_value").isNotNull.as("observed"))
      .orderBy(col("user_id"), col("day"))
  }

  val gapFillLocfSql: String =
    """WITH ev AS (SELECT * FROM events WHERE user_id < 40),
      |obs AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    max(struct_pack(ts := ts, eid := event_id, v := value)).v AS obs_value
      |  FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2
      |),
      |days AS (
      |  SELECT unnest(generate_series(min(CAST(ts AS DATE)), max(CAST(ts AS DATE)), INTERVAL 1 DAY)) AS day
      |  FROM ev
      |),
      |grid AS (SELECT user_id, CAST(day AS DATE) AS day FROM days, (SELECT DISTINCT user_id FROM ev))
      |SELECT user_id, strftime(grid.day, '%Y-%m-%d') AS day,
      |  (CAST(round(last_value(obs_value IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY grid.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS DOUBLE) + 0.0) AS value,
      |  obs_value IS NOT NULL AS observed
      |FROM grid LEFT JOIN obs USING (user_id, day)
      |ORDER BY user_id, day""".stripMargin

  /** #242 dedup_semantic_incremental — incremental SEMANTIC dedup
    * against the persisted IVF index ([[graft.sources.SemanticIndex]]),
    * completing the intake trilogy (#132 exact hashes, #237 MinHash
    * bands, this — embeddings): history = vectors < 200 trained into
    * the IVF layout once (content-fingerprint cached); the intake
    * batch probes its 2 nearest centroids, anti-matches ONLY the
    * probed history list partitions at cosine ≥ 0.4, and in-batch
    * drops the younger of any probed-cent pair ≥ τ. Rows-only by
    * declared design (trained centroids aren't SQL-expressible —
    * dedup_semantic's md5-bucket oracle pins the keep rule); spec pins
    * planted copy rejection, orthogonal admission, and re-ingest
    * idempotence after append.
    */
  def dedupSemanticIncremental(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    val indexDir = graft.sources.Sources.cachedIndexDir(dir, "embeddings", "semantic-ivf-v1")(
      p => graft.sources.SemanticIndex.build(emb.filter(col("vec_id") < 200), p))
    graft.sources.SemanticIndex
      .intake(s, indexDir, emb.filter(col("vec_id") >= 200))
      .select(col("vec_id"))
      .orderBy(col("vec_id"))
  }

  /** #243 set_similarity_join — EXACT token-set similarity join by
    * prefix filtering (AllPairs/PPJoin, Bayardo et al. WWW'07): the
    * deterministic sibling of the MinHash family — same "find all
    * pairs ≥ τ" question, but with a completeness GUARANTEE instead of
    * a probability. Each doc's distinct tokens sort rarest-first by
    * (global df, token); two sets with Jaccard ≥ τ=0.8 MUST share a
    * token among their n−⌈τn⌉+1 rarest (the prefix-filter theorem),
    * so candidates come from exploding only prefixes — the common-token
    * fan-out never enters the join. Verification is exact: the ≥ τ cut
    * is the INTEGER compare 5·|A∩B| ≥ 4·|A∪B| (no float frontier), the
    * emitted jaccard rounds an exact rational. Shapes: one token-key
    * df agg joined back co-keyed, one doc-key sort-collect, one
    * prefix-token-key candidate join — UNCAPPED: every pruning step
    * (prefix filter, length filter, positional filter) is lossless by
    * proof, so the all-pairs oracle is exact at every SF (a hot-bucket
    * cap here silently dropped 99% of qualifying pairs at sf0.1's
    * near-dup density — removed in r8; the capped best-effort forms
    * live in the rows-only production variants).
    */
  def setSimilarityJoin(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("token"))
      .filter(col("token") =!= "")
    val dfr = toks.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // INT-TOKEN DICTIONARY (r11, guide §1.2 per-task work + §2.3
    // narrower types; r10 verdict item 1): the verify stage's remaining
    // hot CPU was the byte-wise UTF8String.compareTo per merge advance
    // over ~10⁹ advances. Map each token to a PROVABLY-COLLISION-FREE
    // long id — tid = rank-within-hash-bucket · P + bucket, injective
    // because equal tids force equal buckets and equal in-bucket ranks
    // (row_number over ORDER BY token is unique), and DETERMINISTIC
    // (a pure function of the vocabulary, safe under task retry —
    // unlike monotonically_increasing_id). |A∩B| is invariant under
    // any bijection, so inter/uni/jaccard are unchanged bit-for-bit;
    // the prefix theorem keeps its (df, token) order because the
    // dictionary only relabels, never reorders. P scales with the
    // configured shuffle parallelism (never a local constant) and the
    // window partitions by hash bucket, so the dictionary build is a
    // parallel bounded sort of the vocabulary — not a global window.
    val dictParts = s.conf.get("spark.sql.shuffle.partitions").toInt
    val wDict = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bkt")).orderBy(col("token"))
    val dfrId = dfr
      .withColumn("bkt", pmod(xxhash64(col("token")), lit(dictParts.toLong)))
      .withColumn("tid",
        row_number().over(wDict).cast("long") * dictParts + col("bkt"))
      .select(col("token"), col("df"), col("tid"))
    // perDoc feeds the prefix explode AND both verify-side re-joins:
    // ts df-ascending (as tids) for the prefix theorem, tsl id-sorted
    // for the native two-pointer intersect count on the verify path —
    // the candidate join and the verify both move 8-byte longs now,
    // never token strings
    val perDoc = graft.Lineage.cut(toks
      .join(dfrId, Seq("token"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("token"), col("tid"))))
        .as("sorted"))
      .select(col("doc_id"),
        transform(col("sorted"), x => x.getField("tid")).as("ts"),
        array_sort(transform(col("sorted"), x => x.getField("tid"))).as("tsl")))
    // τ = 0.8 ⇒ prefix length p = n − ⌈0.8n⌉ + 1 (positions 0..p−1)
    val prefixRows = perDoc
      .select(
        col("doc_id"), col("ts"),
        posexplode(col("ts")).as(Seq("pos", "token")))
      .filter(col("pos") < size(col("ts")) - ((size(col("ts")) * 4 + 4) / 5).cast("int") + 1)
      .select(col("token"), col("doc_id"), size(col("ts")).as("n"), col("pos"))
    // NO hot-bucket cap here: this entry's contract is the EXACT join
    // (all pairs at τ ≥ 0.8, oracle-verified), and PPJoin's df-ascending
    // prefix filter is itself the correctness-PRESERVING reduction — a
    // cap would silently drop qualifying pairs exactly when the corpus
    // is near-dup dense (the sf0.1 sweep caught 26.8k of 2.97M pairs
    // surviving a capped run). On a boilerplate-flooded corpus the
    // candidate set is the same order as the TRUE output — that cost is
    // the answer, not an artifact; the capped best-effort forms are the
    // rows-only production variants (dedup_containment_fast, neardup).
    // Candidates dedup as bare id pairs BEFORE the arrays re-join, so
    // the wide token lists never ride the candidate shuffle.
    // REPARTITION THE PROBE SIDE (r10, measured): the build side
    // broadcasts by token, so the probe side inherits perDoc's pinned
    // partitioning — 1-2 blocks at bench SFs (the perDoc agg exchange
    // AQE-coalesced BEFORE the cut pinned it), and the candidate
    // explosion (116k prefix rows → 44.6M raw candidates at sf0.1) plus
    // the map-side pair dedup then run on 1-2 cores while 30 idle. AQE
    // cannot see output growth through a join (guide §2.5), so spread
    // the narrow prefix rows across the configured shuffle parallelism
    // explicitly — an exchange of ~3 MB unlocks 32× on the exploding
    // stage. Hash by token (deterministic under retry, no pre-sort;
    // prefix tokens are df-ascending-rare, so the key is near-uniform).
    val probeParts = s.conf.get("spark.sql.shuffle.partitions").toInt
    val cand = prefixRows
      .select(col("token"), col("doc_id").as("a"), col("n").as("na"), col("pos").as("pa"))
      .repartition(probeParts, col("token"))
      .join(prefixRows.select(col("token"), col("doc_id").as("b"), col("n").as("nb"),
        col("pos").as("pb")), Seq("token"))
      // PPJoin's LENGTH + POSITIONAL filters ride the candidate join,
      // both provably lossless at τ = 0.8:
      //  - length: J ≥ 0.8 needs 0.8·|b| ≤ |a| (and symmetrically);
      //  - positional: J ≥ 0.8 ⟺ inter ≥ (4/9)(|a|+|b|), and a pair's
      //    FIRST shared token at positions (pa, pb) bounds the overlap
      //    by 1 + min(|a|−pa−1, |b|−pb−1) — a qualifying pair always
      //    keeps its first-shared-token row, so filtering every row and
      //    deduping loses nothing.
      // Together they cut the raw candidate stream before the dedup
      // shuffle ever sees it (44.6M → well under half at sf0.1).
      .filter(col("a") < col("b") &&
        col("na") * 5 >= col("nb") * 4 && col("nb") * 5 >= col("na") * 4 &&
        (lit(1) + least(col("na") - 1 - col("pa"), col("nb") - 1 - col("pb"))) * 9 >=
          (col("na") + col("nb")) * 4)
      .select(col("a"), col("b"))
      .dropDuplicates("a", "b")
    // token arrays attach AFTER the pair dedup ([[graft.Attach]]):
    // broadcast at bench SFs, co-partitioned shuffle join beyond
    // Attach.BroadcastMaxRows — the candidate stream stays
    // narrow through its one dedup shuffle and the wide arrays never
    // shuffle per pair. The intersect is the native SortedIntersectCount
    // two-pointer merge over the lex-sorted arrays (array_intersect
    // builds a hash set + output array PER PAIR — pure allocation churn
    // at 10M+ candidates); same count, same integer threshold, same
    // emitted jaccard.
    val verified = graft.Attach
      .arrays(cand, perDoc.select(col("doc_id"), col("tsl")), "doc_id", Seq("tsl"))
      .withColumn("inter", graft.functions.Registry.sortedIntersect(col("tsl_a"), col("tsl_b")))
      .withColumn("uni", size(col("tsl_a")) + size(col("tsl_b")) - col("inter"))
      .filter(col("inter") * 5 >= col("uni") * 4)
      .select(
        col("a"), col("b"),
        emit(col("inter").cast("double") / col("uni"), 4).as("jaccard"))
    // cut BEFORE the global sort (r10, measured): the orderBy's range
    // exchange samples its child in a separate job, so without the cut
    // the whole post-dedup verify segment (attach joins + native
    // intersect over ~12M candidates) executes TWICE — the profiler
    // showed two back-to-back 32-task stages each reading the full
    // dedup shuffle. Pinning the verified pairs (narrow rows) makes the
    // sampling pass read pinned blocks instead (guide §3.3:
    // materialize an intermediate to stop plan re-execution). An A/B
    // at round close read no-cut [33.1, 21.8] vs cut [21.2, 18.0] in
    // adjacent sessions (both noisy — the row is bimodal in-JVM): the
    // cut form keeps the structurally smaller execution.
    graft.Lineage.cut(verified).orderBy(col("a"), col("b"))
  }

  val setSimilarityJoinSql: String =
    """WITH s AS (
      |  SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS ts
      |  FROM documents
      |  WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0
      |), pairs AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b,
      |    len(list_intersect(a.ts, b.ts)) AS inter,
      |    len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS uni
      |  FROM s a JOIN s b ON a.doc_id < b.doc_id
      |)
      |SELECT a, b, (CAST(round(CAST(inter AS DOUBLE) / uni, 4) AS DOUBLE) + 0.0) AS jaccard
      |FROM pairs WHERE inter * 5 >= uni * 4
      |ORDER BY a, b""".stripMargin

  /** #245 funnel_sessions — the ordered funnel INSIDE session
    * boundaries (#24b asks "did the user ever convert within 24 h";
    * this asks "did a single sitting convert" — the UX question): the
    * sessionize labeling (gap > 30 min, lag+cumsum over fine
    * (user) keys) keys three dependent conditional mins on
    * (user, session) — first view, first click after it, first
    * purchase after that — all joins co-partitioned on the session
    * key; per-session max-stage histogram out. Exact oracle reusing
    * the sessionize CTE chain.
    */
  def funnelSessions(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val labeled = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn(
        "is_new",
        when(
          col("prev_ts").isNull ||
            (epochMs(col("ts")) - epochMs(col("prev_ts"))) > lit(30L * 60 * 1000),
          lit(1)).otherwise(lit(0)))
      .withColumn("session_seq", sum(col("is_new")).over(w))
      .select(col("user_id"), col("session_seq"), col("ts"), col("event_type"))
    val key = Seq("user_id", "session_seq")
    val v = labeled.filter(col("event_type") === "view")
      .groupBy(key.map(col): _*).agg(min(col("ts")).as("v_ts"))
    val c = labeled.join(v, key)
      .filter(col("event_type") === "click" && col("ts") > col("v_ts"))
      .groupBy(key.map(col): _*).agg(min(col("ts")).as("c_ts"))
    val p = labeled.join(c, key)
      .filter(col("event_type") === "purchase" && col("ts") > col("c_ts"))
      .groupBy(key.map(col): _*).agg(min(col("ts")).as("p_ts"))
    labeled.select(key.map(col): _*).distinct()
      .join(v.select(col("user_id"), col("session_seq"), lit(1).as("s1")), key, "left")
      .join(c.select(col("user_id"), col("session_seq"), lit(1).as("s2")), key, "left")
      .join(p.select(col("user_id"), col("session_seq"), lit(1).as("s3")), key, "left")
      .select(
        (coalesce(col("s1"), lit(0)) + coalesce(col("s2"), lit(0)) +
          coalesce(col("s3"), lit(0))).as("stage"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("stage"))
  }

  val funnelSessionsSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), lab AS (
      |  SELECT user_id, event_type, ts,
      |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM flagged
      |), v AS (
      |  SELECT user_id, session_seq, min(ts) AS v_ts FROM lab
      |  WHERE event_type = 'view' GROUP BY 1, 2
      |), c AS (
      |  SELECT lab.user_id, lab.session_seq, min(lab.ts) AS c_ts
      |  FROM lab JOIN v USING (user_id, session_seq)
      |  WHERE event_type = 'click' AND lab.ts > v_ts GROUP BY 1, 2
      |), p AS (
      |  SELECT lab.user_id, lab.session_seq, min(lab.ts) AS p_ts
      |  FROM lab JOIN c USING (user_id, session_seq)
      |  WHERE event_type = 'purchase' AND lab.ts > c_ts GROUP BY 1, 2
      |), sess AS (SELECT DISTINCT user_id, session_seq FROM lab)
      |SELECT
      |  (CASE WHEN v.user_id IS NULL THEN 0 ELSE 1 END +
      |   CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END +
      |   CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END) AS stage,
      |  count(*) AS n_sessions
      |FROM sess
      |LEFT JOIN v USING (user_id, session_seq)
      |LEFT JOIN c USING (user_id, session_seq)
      |LEFT JOIN p USING (user_id, session_seq)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** #246 vocab_coverage — the vocabulary-size design curve: the
    * minimal top-k (by corpus frequency) covering 25/50/75/90% of all
    * token occurrences (what a tokenizer team reads before fixing a
    * vocab budget). Token counts by one map-side-combined agg, top-1000
    * head as TakeOrderedAndProject, the cumulative share as a window
    * over the post-limit 1000-row frame only (the zipf-slope device —
    * never a global-order window over raw vocab); threshold crossings
    * by the exact INTEGER compare cum·100 ≥ pct·total (no float
    * frontier), covered share emitted from exact longs. Exact oracle.
    */
  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("total"))
    val head = counts.orderBy(col("c").desc, col("token")).limit(1000)
    val wr = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("token"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val ranked = head
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("c").desc, col("token"))))
      .withColumn("cum", sum(col("c")).over(wr))
      .crossJoin(broadcast(total))
    val thresholds = {
      import s.implicits._
      Seq(25, 50, 75, 90).toDF("pct")
    }
    ranked
      .crossJoin(broadcast(thresholds))
      .filter(col("cum") * 100 >= col("pct") * col("total"))
      .groupBy(col("pct"))
      .agg(
        min(col("rank")).as("vocab_size"),
        emit(
          min(struct(col("rank"), col("cum"))).getField("cum").cast("double") / max(col("total")),
          6).as("covered"))
      .orderBy(col("pct"))
  }

  val vocabCoverageSql: String =
    """WITH counts AS (
      |  SELECT token, count(*) AS c FROM (
      |    SELECT unnest(string_split(text, ' ')) AS token FROM documents
      |  ) WHERE token <> '' GROUP BY 1
      |), total AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM counts),
      |head AS (
      |  SELECT token, c, row_number() OVER (ORDER BY c DESC, token) AS rank
      |  FROM counts QUALIFY rank <= 1000
      |), ranked AS (
      |  SELECT rank, CAST(sum(c) OVER (ORDER BY rank
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM head
      |)
      |SELECT pct, CAST(min(rank) AS INT) AS vocab_size,
      |  (CAST(round(CAST(min_by(cum, rank) AS DOUBLE) / max(total), 6) AS DOUBLE) + 0.0) AS covered
      |FROM ranked, total, (VALUES (25), (50), (75), (90)) t(pct)
      |WHERE cum * 100 >= pct * total
      |GROUP BY pct ORDER BY pct""".stripMargin

  /** #247 growth_accounting — the weekly new/retained/resurrected/
    * churned decomposition (the growth-team ledger beside #144's
    * risers and #148's stickiness ratio): distinct (user, epoch-week)
    * actives, first week per user by one fine-keyed min agg, previous-
    * week presence by a co-keyed self-join on (user, week−1), churn
    * counted INTO the week the user went missing. Every join keys on
    * the fine (user, week) pair — no coarse-key window anywhere; the
    * identity new+retained+resurrected = WAU is spec-pinned. Exact
    * oracle; epoch-week integer arithmetic on both engines.
    */
  def growthAccounting(s: SparkSession, dir: String): DataFrame = {
    val actives = Tables.events(s, dir)
      .select(col("user_id"), (expr("unix_micros(ts) div 86400000000") / 7L).cast("long").as("wk"))
      .distinct()
    val first = actives.groupBy(col("user_id")).agg(min(col("wk")).as("first_wk"))
    val prev = actives.select(col("user_id"), (col("wk") + 1).as("wk"), lit(1).as("was_prev"))
    val span = actives.agg(max(col("wk")).as("max_wk"))
    val states = actives
      .join(first, Seq("user_id"))
      .join(prev, Seq("user_id", "wk"), "left")
      .select(
        col("wk"),
        when(col("wk") === col("first_wk"), "new")
          .when(col("was_prev").isNotNull, "retained")
          .otherwise("resurrected").as("state"))
    val churned = actives
      .join(
        actives.select(col("user_id"), (col("wk") - 1).as("wk"), lit(1).as("still")),
        Seq("user_id", "wk"), "left")
      .filter(col("still").isNull)
      .crossJoin(broadcast(span))
      .filter(col("wk") < col("max_wk")) // the last observed week cannot churn yet
      .select((col("wk") + 1).as("wk"), lit("churned").as("state"))
    states.unionByName(churned)
      .groupBy(col("wk"), col("state"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("wk"), col("state"))
  }

  val growthAccountingSql: String =
    """WITH actives AS (
      |  SELECT DISTINCT user_id, (epoch_us(ts)//86400000000)//7 AS wk FROM events
      |), first AS (SELECT user_id, min(wk) AS first_wk FROM actives GROUP BY 1),
      |span AS (SELECT max(wk) AS max_wk FROM actives),
      |states AS (
      |  SELECT a.wk,
      |    CASE WHEN a.wk = f.first_wk THEN 'new'
      |         WHEN p.user_id IS NOT NULL THEN 'retained'
      |         ELSE 'resurrected' END AS state
      |  FROM actives a
      |  JOIN first f USING (user_id)
      |  LEFT JOIN actives p ON p.user_id = a.user_id AND p.wk = a.wk - 1
      |), churned AS (
      |  SELECT a.wk + 1 AS wk, 'churned' AS state
      |  FROM actives a
      |  LEFT JOIN actives n ON n.user_id = a.user_id AND n.wk = a.wk + 1, span
      |  WHERE n.user_id IS NULL AND a.wk < span.max_wk
      |)
      |SELECT wk, state, count(*) AS n_users
      |FROM (SELECT * FROM states UNION ALL SELECT * FROM churned)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** #248 bm25_incremental — #233's index MAINTAINED instead of
    * rebuilt: history (docs < 250) builds the inverted index once,
    * today's batch (docs ≥ 250) APPENDS postings into their bucket
    * partitions and a stats partial row (reads sum the partials).
    * tf/dl rows are per-doc and stats associative, so build+append ≡
    * full rebuild EXACTLY — this entry therefore shares bm25_search's
    * oracle verbatim (the search over the incrementally-built index
    * must equal the corpus-scan BM25 byte-for-byte), the strongest pin
    * an incremental structure can carry. At 100 TB a daily refresh
    * writes the day's postings, never touching history.
    */
  def bm25Incremental(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val idx = graft.sources.Sources.cachedIndexDir(dir, "documents", "bm25-incr-v1") { p =>
      graft.sources.InvertedIndex.build(d.filter(col("doc_id") < 250), p)
      graft.sources.InvertedIndex.append(d.filter(col("doc_id") >= 250), p)
    }
    graft.sources.InvertedIndex.search(s, idx, Seq("vector", "hash", "stream"), k = 20)
  }

  val keys: Seq[Key] = Seq(
    exact("q12_shipmode", q12Shipmode, q12ShipmodeSql),
    exact("corpus_diff", corpusDiff, corpusDiffSql),
    exact("passage_dedup", passageDedup, passageDedupSql),
    exact("seq_pack", seqPack, seqPackSql),
    exact("bm25_indexed", bm25Indexed, Round5Ops.bm25SearchSql),
    exact("corpus_sample_stratified", corpusSampleStratified, corpusSampleStratifiedSql),
    exact("doc_quality_classifier", docQualityClassifier, docQualityClassifierSql),
    rowsOnly("neardup_incremental", neardupIncremental),
    exact("interval_join", intervalJoin, intervalJoinSql),
    exact("embed_dim_stats", embedDimStats, embedDimStatsSql),
    exact("multimodal_video", multimodalVideo, multimodalVideoSql),
    exact("gap_fill_locf", gapFillLocf, gapFillLocfSql),
    rowsOnly("dedup_semantic_incremental", dedupSemanticIncremental),
    exact("set_similarity_join", setSimilarityJoin, setSimilarityJoinSql),
    exact("seq_pack_manifest", seqPackManifest, seqPackManifestSql),
    exact("funnel_sessions", funnelSessions, funnelSessionsSql),
    exact("vocab_coverage", vocabCoverage, vocabCoverageSql),
    exact("growth_accounting", growthAccounting, growthAccountingSql),
    exact("bm25_incremental", bm25Incremental, Round5Ops.bm25SearchSql))
}
