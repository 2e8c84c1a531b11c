package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.exact
import graft.sources.Firehose

/** Round-8 operators.
  *
  * #222 firehose post-record normalization (process_post,
  * main.rs:3447-3683) and #223 profile-record normalization
  * (process_profile, main.rs:3684-3723): the last reference components
  * with no graft re-expression (r6 verdict "What's missing" #1). The
  * parse itself lives in [[graft.sources.Firehose]]; the catalog
  * entries run it over deterministic raw-JSON fixtures synthesized
  * from events/customer with the same concat logic the oracle uses,
  * so the gate compares the PARSE output byte-for-byte. Array-typed
  * PostV1 fields (langs/tags/mentions/labels/links) serialize to
  * comma-joined strings for the oracle hash; the typed form is pinned
  * in FirehoseSpec.
  */
object Round8Ops {
  import OracleMath._

  /** #222 parse_post_records: raw firehose post JSON → PostV1 columns. */
  def parsePostRecords(s: SparkSession, dir: String): DataFrame = {
    val parsed = Firehose.parsePostRecords(Firehose.synthPostRecords(Tables.events(s, dir)))
    parsed
      .select(
        col("id"), col("author"), col("text"),
        concat_ws(",", col("langs")).as("langs"),
        concat_ws(",", col("tags")).as("tags"),
        concat_ws(",", col("mentions")).as("mentions"),
        concat_ws(",", col("labels")).as("labels"),
        concat_ws(",", col("links")).as("links"),
        col("image_count"), col("alt_text"), col("record"), col("root"), col("parent"),
        col("via"), col("bridgy_original_url"),
        col("video_height"), col("video_width"), col("video_media_type"),
        col("video_size"), col("video_alt"), col("video_captions_text"),
        col("reply_count"), col("repost_count"), col("like_count"), col("quote_count"),
        col("created_at"))
      .orderBy(col("id"))
  }

  private[queries] val rawPostsSql: String = """
    |WITH r AS (
    |  SELECT event_id AS e, user_id AS u, event_type AS t, epoch_us(ts) AS ca FROM events
    |), raw AS (
    |  SELECT e,
    |  '{"author":"did:plc:u' || u || '","text":"post about ' || t || ' number ' || e ||
    |  '","createdAt":"t' || ca || '","likeCount":' || (e*7)%100 ||
    |  CASE WHEN e%17=0 THEN '' ELSE ',"id":"post:rk' || e || '_plc_u' || u || '"' END ||
    |  CASE e%5 WHEN 0 THEN '' WHEN 1 THEN ',"langs":["en"]' WHEN 2 THEN ',"langs":["en","es"]' WHEN 3 THEN ',"langs":["es","en","en"]' ELSE ',"langs":[]' END ||
    |  CASE e%4 WHEN 0 THEN '' WHEN 1 THEN ',"tags":["tag' || e%7 || '","common"]' WHEN 2 THEN ',"tags":["common","common"]' ELSE ',"tags":["tag' || e%7 || '"]' END ||
    |  CASE WHEN e%6=0 THEN ',"mentions":["did:plc:u' || (u+1) || '"]' ELSE '' END ||
    |  CASE e%8 WHEN 0 THEN ',"labels":["porn"]' WHEN 4 THEN ',"labels":["nudity","porn","nudity"]' ELSE '' END ||
    |  CASE e%3 WHEN 0 THEN ',"links":["https://example.com/a","https://news.example.org/x' || e%5 || '"]' WHEN 1 THEN ',"links":[]' ELSE '' END ||
    |  CASE e%9 WHEN 1 THEN ',"images":[{"alt":"alt 0 for ' || e || '"}]'
    |           WHEN 2 THEN ',"images":[{"alt":"alt 0 for ' || e || '"},{"alt":"alt 1 for ' || e || '"}]'
    |           WHEN 3 THEN ',"images":[{"alt":"alt 0 for ' || e || '"},{"alt":"alt 1 for ' || e || '"},{"alt":"alt 2 for ' || e || '"}]'
    |           ELSE '' END ||
    |  CASE WHEN e%10=0 THEN ',"record":"post:rk' || (e+1000000) || '_plc_u' || u || '"' ELSE '' END ||
    |  CASE WHEN e%2=1 THEN ',"root":"post:rt' || e || '_plc_u' || u || '","parent":"post:pr' || e || '_plc_u' || u || '"' ELSE '' END ||
    |  CASE WHEN e%12=0 THEN ',"via":"deck.blue"' ELSE '' END ||
    |  CASE WHEN e%15=0 THEN ',"bridgyOriginalUrl":"https://mastodon.example/u' || u || '/' || e || '"' ELSE '' END ||
    |  CASE WHEN e%11=0 THEN ',"video":{"aspectRatio":{"height":1080,"width":1920},"blob":{"mediaType":"video/mp4","size":' || e*1000 || '},"alt":"vid ' || e || '","captions":[{"text":"cap a ' || e || '"},{"text":"cap b"}]}'
    |       WHEN e%11=5 THEN ',"video":{"blob":{"mediaType":"video/mp4","size":' || e || '}}'
    |       ELSE '' END ||
    |  CASE WHEN e%13=0 THEN '' ELSE ',"replyCount":' || e%50 END ||
    |  CASE WHEN e%2=0 THEN ',"repostCount":' || u%20 ELSE '' END ||
    |  '}' AS raw FROM r
    |)""".stripMargin

  val parsePostRecordsSql: String = rawPostsSql + """
    |, parsed AS (
    |  SELECT
    |    substr(json_extract_string(raw,'$.id'), 6) AS id,
    |    substr(json_extract_string(raw,'$.author'), 5) AS author,
    |    json_extract_string(raw,'$.text') AS text,
    |    coalesce(array_to_string(list_sort(list_distinct(coalesce(json_transform(json_extract(raw,'$.langs'),'["VARCHAR"]'), []))), ','), '') AS langs,
    |    coalesce(array_to_string(list_sort(list_distinct(coalesce(json_transform(json_extract(raw,'$.tags'),'["VARCHAR"]'), []))), ','), '') AS tags,
    |    coalesce(array_to_string(list_sort(list_distinct(coalesce(json_transform(json_extract(raw,'$.mentions'),'["VARCHAR"]'), []))), ','), '') AS mentions,
    |    coalesce(array_to_string(list_sort(list_distinct(coalesce(json_transform(json_extract(raw,'$.labels'),'["VARCHAR"]'), []))), ','), '') AS labels,
    |    coalesce(array_to_string(coalesce(json_transform(json_extract(raw,'$.links'),'["VARCHAR"]'), []), ','), '') AS links,
    |    CAST(coalesce(len(json_transform(json_extract(raw,'$.images'),'[{"alt":"VARCHAR"}]')), 0) AS BIGINT) AS image_count,
    |    CASE WHEN json_extract(raw,'$.images') IS NULL THEN ''
    |         ELSE coalesce(array_to_string(list_transform(json_transform(json_extract(raw,'$.images'),'[{"alt":"VARCHAR"}]'), i -> coalesce(i.alt,'')), e'\n\n<[{next-image}]>\n\n'), '') END AS alt_text,
    |    coalesce(json_extract_string(raw,'$.record'),'') AS record,
    |    coalesce(substr(json_extract_string(raw,'$.root'),6),'') AS root,
    |    coalesce(substr(json_extract_string(raw,'$.parent'),6),'') AS parent,
    |    json_extract_string(raw,'$.via') AS via,
    |    json_extract_string(raw,'$.bridgyOriginalUrl') AS bridgy_original_url,
    |    CASE WHEN json_extract(raw,'$.video') IS NULL THEN NULL ELSE coalesce(CAST(json_extract(raw,'$.video.aspectRatio.height') AS BIGINT),0) END AS video_height,
    |    CASE WHEN json_extract(raw,'$.video') IS NULL THEN NULL ELSE coalesce(CAST(json_extract(raw,'$.video.aspectRatio.width') AS BIGINT),0) END AS video_width,
    |    CASE WHEN json_extract(raw,'$.video') IS NULL THEN NULL ELSE coalesce(json_extract_string(raw,'$.video.blob.mediaType'),'') END AS video_media_type,
    |    CASE WHEN json_extract(raw,'$.video') IS NULL THEN NULL ELSE coalesce(CAST(json_extract(raw,'$.video.blob.size') AS BIGINT),0) END AS video_size,
    |    CASE WHEN json_extract(raw,'$.video') IS NULL THEN NULL ELSE coalesce(json_extract_string(raw,'$.video.alt'),'') END AS video_alt,
    |    CASE WHEN json_extract(raw,'$.video') IS NULL THEN NULL
    |         ELSE coalesce(array_to_string(list_transform(json_transform(json_extract(raw,'$.video.captions'),'[{"text":"VARCHAR"}]'), c -> 'CAPTION_FILE_TEXT_CONTENT_SKYFEED_QUERY_ENGINE' || chr(10) || coalesce(c."text",'') || chr(10)), ''), '') END AS video_captions_text,
    |    coalesce(CAST(json_extract(raw,'$.replyCount') AS BIGINT),0) AS reply_count,
    |    coalesce(CAST(json_extract(raw,'$.repostCount') AS BIGINT),0) AS repost_count,
    |    coalesce(CAST(json_extract(raw,'$.likeCount') AS BIGINT),0) AS like_count,
    |    CAST(0 AS BIGINT) AS quote_count,
    |    json_extract_string(raw,'$.createdAt') AS created_at
    |  FROM raw
    |)
    |SELECT * FROM parsed WHERE id IS NOT NULL ORDER BY id""".stripMargin

  /** #223 parse_profile_records: raw profile JSON → Profile columns. */
  def parseProfileRecords(s: SparkSession, dir: String): DataFrame =
    Firehose.parseProfileRecords(Firehose.synthProfileRecords(Tables.customer(s, dir)))
      .orderBy(col("id"))

  val parseProfileRecordsSql: String = """
    |WITH raw AS (
    |  SELECT
    |  '{"seq":' || c_custkey ||
    |  CASE WHEN c_custkey%13=0 THEN '' ELSE ',"id":"did:plc:c' || c_custkey || '"' END ||
    |  CASE WHEN c_custkey%4=0 THEN '' ELSE ',"displayName":"' || c_name || '"' END ||
    |  CASE WHEN c_custkey%5=0 THEN '' ELSE ',"handle":"u' || c_custkey || '.bsky.social"' END ||
    |  CASE WHEN c_custkey%3=0 THEN '' ELSE ',"description":"segment ' || c_mktsegment || '"' END ||
    |  CASE WHEN c_custkey%2=0 THEN ',"avatar":"av' || c_custkey || '"' ELSE '' END ||
    |  CASE WHEN c_custkey%7=0 THEN ',"banner":"bn' || c_custkey || '"' ELSE '' END ||
    |  '}' AS raw FROM customer
    |)
    |SELECT json_extract_string(raw,'$.id') AS id,
    |  coalesce(json_extract_string(raw,'$.displayName'),'') AS name,
    |  coalesce(json_extract_string(raw,'$.handle'),'') AS handle,
    |  coalesce(json_extract_string(raw,'$.description'),'') AS description,
    |  json_extract(raw,'$.avatar') IS NOT NULL AS has_avatar,
    |  json_extract(raw,'$.banner') IS NOT NULL AS has_banner,
    |  CAST(0 AS BIGINT) AS follower_count,
    |  CAST(0 AS BIGINT) AS following_count
    |FROM raw WHERE json_extract_string(raw,'$.id') IS NOT NULL ORDER BY id""".stripMargin

  /** The z-ordered events layout (user_id × epoch-day), built once per
    * input fingerprint: the clustering a 100 TB lake maintains so that
    * 2-D selective scans (user × time is THE feed-engine access
    * pattern — point_lookup/input_window over author+time,
    * main.rs:1221-1418 WHERE clauses) prune files by min/max stats
    * instead of reading the whole table.
    */
  private[graft] def zorderedEventsDir(s: SparkSession, dir: String): String =
    graft.sources.Sources.cachedIndexDir(dir, "events", "zorder-user-day-v1") { p =>
      graft.sources.Sources.writeZordered(
        Tables.events(s, dir).select(
          col("event_id"), col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"), col("event_type")),
        "user_id", "day", p, partitions = 16)
    }

  /** #224 zorder_pruned_scan — the read-side payoff of writeZordered:
    * a 2-D range predicate (user box × day window) over the z-ordered
    * layout. Both predicates reach the parquet scan (PushedFilters →
    * row-group min/max skipping inside the reader), and because the
    * layout tiles the z-curve, whole FILES fall outside the query box:
    * SourcesSpec pins that the box intersects a strict subset of the
    * per-file bounding boxes and that reading ONLY those files returns
    * byte-identical rows — the decision procedure a file-skipping
    * scheduler (or a format with footer-stats planning) applies, made
    * observable without one. Exact oracle over the base table: the
    * layout is a REWRITE, so the filtered read must equal the filtered
    * original row-for-row.
    */
  def zorderPrunedScan(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(zorderedEventsDir(s, dir))
      .filter(col("user_id").between(8, 23) && col("day").between(19728L, 19735L))
      .select(col("event_id"), col("user_id"), col("day"), col("event_type"))
      .orderBy(col("event_id"))

  val zorderPrunedScanSql: String = """
    |SELECT event_id, user_id, epoch_us(ts)//86400000000 AS day, event_type
    |FROM events
    |WHERE user_id BETWEEN 8 AND 23
    |  AND epoch_us(ts)//86400000000 BETWEEN 19728 AND 19735
    |ORDER BY event_id""".stripMargin

  /** #225 scorecard_incremental — supplier_scorecard maintained as a
    * DELTA MERGE instead of a recompute (the IncrementalCounters
    * pattern widened to a full report): per-supplier ALGEBRAIC
    * partials (line/returned/slow counts + exact decimal revenue and
    * discount sums) over the order history persist once, each refresh
    * aggregates ONLY the new days' lines and folds them in with a
    * supplier-keyed full-outer merge, and the report tail (rates,
    * revenue share, top-25) runs over the merged partials. Because
    * every measure is algebraic over decimals, merge(history, delta) ≡
    * recompute EXACTLY — so this entry shares supplier_scorecard's
    * oracle verbatim: the strongest possible pin that the incremental
    * view equals the nightly rebuild. At 100 TB the refresh touches
    * the day's delta plus a |suppliers|-row state table, never the
    * full fact history; the history cache is content-fingerprinted
    * (Sources.cachedIndexDir).
    */
  def scorecardIncremental(s: SparkSession, dir: String): DataFrame = {
    val cutover = lit("2001-06-01").cast("timestamp")
    val idx = graft.sources.Sources.cachedIndexDir(dir, "lineitem", "scorecard-partials-v1") {
      p =>
        DssOps.scorecardPartials(DssOps.scorecardLi(s, dir).filter(col("o_orderdate") < cutover))
          .write.mode("overwrite").parquet(p)
    }
    val hist = s.read.parquet(idx)
    val delta = DssOps
      .scorecardPartials(DssOps.scorecardLi(s, dir).filter(col("o_orderdate") >= cutover))
    DssOps.scorecardTail(s, dir, mergeScorecardPartials(hist, delta))
  }

  /** Supplier-keyed full-outer fold of two partial states — ASSOCIATIVE
    * (counts and exact decimal sums), so any day-by-day fold order
    * reproduces the single-shot aggregate; chained-fold ≡ recompute is
    * spec-pinned beside the catalog entry's shared-oracle pin.
    */
  private[graft] def mergeScorecardPartials(p0: DataFrame, d0: DataFrame): DataFrame = {
    val p = p0.select(
      col("l_suppkey"), col("n_lines").as("p_nl"), col("n_returned").as("p_nr"),
      col("n_slow").as("p_ns"), col("rev_d").as("p_rev"), col("disc_d").as("p_disc"))
    val d = d0.select(
      col("l_suppkey"), col("n_lines").as("d_nl"), col("n_returned").as("d_nr"),
      col("n_slow").as("d_ns"), col("rev_d").as("d_rev"), col("disc_d").as("d_disc"))
    val zeroDec = lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 6))
    p.join(d, Seq("l_suppkey"), "full_outer")
      .select(
        col("l_suppkey"),
        (coalesce(col("p_nl"), lit(0L)) + coalesce(col("d_nl"), lit(0L))).as("n_lines"),
        (coalesce(col("p_nr"), lit(0L)) + coalesce(col("d_nr"), lit(0L))).as("n_returned"),
        (coalesce(col("p_ns"), lit(0L)) + coalesce(col("d_ns"), lit(0L))).as("n_slow"),
        (coalesce(col("p_rev"), zeroDec) + coalesce(col("d_rev"), zeroDec)).as("rev_d"),
        (coalesce(col("p_disc"), zeroDec) + coalesce(col("d_disc"), zeroDec)).as("disc_d"))
  }

  /** #226 feed_from_firehose — the reference's ACTUAL end-to-end loop
    * in one plan: raw firehose record JSON in (process_post,
    * main.rs:3447) → typed PostV1 frame → a JSON wire payload
    * (parse_feed_query, main.rs:1944) compiled over it — time-window
    * input, regex keep on post text, reply-count where-script, HN
    * score (main.rs:4338) normalized, per-author limit
    * (main.rs:2342), score sort, feed cap. Everything between the raw
    * bytes and the served rows is the engine's own machinery — the
    * integration proof that the r8 ingestion front door feeds the
    * r1-r5 pipeline compiler unmodified. Exact oracle: the same parse
    * + window + regex + script + score algebra in DuckDB SQL.
    */
  def feedFromFirehose(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.{Binding, PipelineJson}
    val posts = Firehose
      .parsePostRecords(Firehose.synthPostRecords(Tables.events(s, dir)))
      .withColumn("ts", timestamp_micros(expr("CAST(substring(created_at, 2) AS LONG)")))
    val payload =
      """{"blocks":[
        |  {"type":"input","inputType":"firehose","firehoseSeconds":1209600},
        |  {"type":"regex","target":"text","value":"(view|purchase)"},
        |  {"type":"where","value":"replyCount < 40"},
        |  {"type":"score","scoreType":"add","from":"hn","gravity":"1.8","normalize":true},
        |  {"type":"limit","limitType":"posts_per_user","count":3},
        |  {"type":"sort","sortType":"score","sortDirection":"desc"},
        |  {"type":"limit","count":100}
        |]}""".stripMargin
    val binding = Binding(
      idCol = "id",
      authorCol = "author",
      tsCol = "ts",
      valueCol = "like_count",
      nowEpochMs = FeedBlocks.NowMs,
      regexTargets = Map("text" -> Seq("text")),
      whereFields = Map("replyCount" -> col("reply_count")))
    PipelineJson
      .run(posts, payload, binding)
      .select(col("id"), col("author"), col("score").cast("double").as("score"))
  }

  val feedFromFirehoseSql: String = rawPostsSql + s"""
    |, posts AS (
    |  SELECT
    |    substr(json_extract_string(raw,'$$.id'), 6) AS id,
    |    substr(json_extract_string(raw,'$$.author'), 5) AS author,
    |    json_extract_string(raw,'$$.text') AS text,
    |    coalesce(CAST(json_extract(raw,'$$.replyCount') AS BIGINT),0) AS reply_count,
    |    coalesce(CAST(json_extract(raw,'$$.likeCount') AS BIGINT),0) AS like_count,
    |    CAST(substr(json_extract_string(raw,'$$.createdAt'), 2) AS BIGINT)//1000 AS ts_ms
    |  FROM raw WHERE json_extract_string(raw,'$$.id') IS NOT NULL
    |), windowed AS (
    |  SELECT * FROM posts
    |  WHERE ts_ms > ${FeedBlocks.NowMs} - 1209600000 AND ts_ms <= ${FeedBlocks.NowMs}
    |    AND regexp_matches(text, '(?i)(view|purchase)')
    |    AND reply_count < 40
    |), scored AS (
    |  SELECT id, author,
    |    like_count / power((${FeedBlocks.NowMs} - ts_ms) / 3600000.0 + 2.0, 1.8) AS raw_s
    |  FROM windowed
    |), normed AS (
    |  SELECT id, author, (CAST(round(raw_s / MAX(raw_s) OVER (), 6) AS DOUBLE) + 0.0) AS score
    |  FROM scored
    |), limited AS (
    |  SELECT *, row_number() OVER (PARTITION BY author ORDER BY score DESC, id) AS rn
    |  FROM normed
    |)
    |SELECT id, author, score FROM limited WHERE rn <= 3
    |ORDER BY score DESC, id LIMIT 100""".stripMargin

  /** #227 decontam_report — the observability face of #68
    * decontaminate: decontaminate silently DROPS train docs sharing a
    * 4-gram with the held-out eval set; before anyone deletes data at
    * 100 TB they want the audit — per contaminated train doc, how MUCH
    * of it overlaps (distinct-gram coverage fraction), worst first.
    * Same gram machinery (one exploded window pass per side), eval
    * grams move by broadcast (eval sets are small by construction),
    * the shared-gram count is a semi-join + doc-key agg, and the
    * report is |contaminated| rows. Exact oracle extending
    * decontaminate's CTEs with the two counts.
    */
  def decontamReport(s: SparkSession, dir: String): DataFrame = {
    val grams = TextOps.gramRows(Tables.documents(s, dir), 4)
    val bench = grams.filter(col("doc_id") < 5).select(col("g")).distinct()
    val tr = grams.filter(col("doc_id") >= 5)
    val tot = tr.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val sh = tr
      .join(broadcast(bench), Seq("g"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    sh.join(tot, Seq("doc_id"))
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(
        col("doc_id"), col("source"), col("n_grams"), col("n_shared"),
        emit(col("n_shared") / col("n_grams"), 6).as("coverage"))
      .orderBy(col("coverage").desc, col("doc_id"))
  }

  val decontamReportSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id,
      |    unnest([ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]
      |            for i in range(1, greatest(len(ws)-2, 1))]) AS g
      |  FROM w
      |),
      |bg AS (SELECT DISTINCT g FROM g WHERE doc_id < 5),
      |tr AS (SELECT doc_id, g FROM g WHERE doc_id >= 5),
      |tot AS (SELECT doc_id, count(*) AS n_grams FROM tr GROUP BY 1),
      |sh AS (SELECT tr.doc_id, count(*) AS n_shared FROM tr JOIN bg USING (g) GROUP BY 1)
      |SELECT d.doc_id, d.source, tot.n_grams, sh.n_shared,
      |  (CAST(round(sh.n_shared / tot.n_grams, 6) AS DOUBLE) + 0.0) AS coverage
      |FROM sh JOIN tot USING (doc_id) JOIN documents d USING (doc_id)
      |ORDER BY coverage DESC, doc_id""".stripMargin

  /** #228 post_link_domains — the links-facet sibling of
    * trending_tags (#13): process_post extracts each post's outbound
    * links (facets → links, main.rs:3530); the first thing a feed/
    * trust-and-safety team does with them is the domain histogram
    * (what's being linked, at what volume — spam domains surface
    * here). Explode over the parsed frame, host via one regexp
    * capture, count agg with map-side combine over a bounded domain
    * key space. Exact oracle over the same raw fixtures.
    */
  def postLinkDomains(s: SparkSession, dir: String): DataFrame =
    Firehose
      .parsePostRecords(Firehose.synthPostRecords(Tables.events(s, dir)))
      .select(explode(col("links")).as("url"))
      .select(regexp_extract(col("url"), "^https?://([^/]+)", 1).as("domain"))
      .filter(col("domain") =!= "")
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("domain"))

  val postLinkDomainsSql: String = rawPostsSql + """
    |, links AS (
    |  SELECT unnest(json_transform(json_extract(raw,'$.links'), '["VARCHAR"]')) AS url
    |  FROM raw WHERE json_extract_string(raw,'$.id') IS NOT NULL
    |)
    |SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS domain, count(*) AS n
    |FROM links
    |WHERE regexp_extract(url, '^https?://([^/]+)', 1) <> ''
    |GROUP BY 1 ORDER BY n DESC, domain""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("parse_post_records", parsePostRecords, parsePostRecordsSql),
    exact("parse_profile_records", parseProfileRecords, parseProfileRecordsSql),
    exact("zorder_pruned_scan", zorderPrunedScan, zorderPrunedScanSql),
    exact("scorecard_incremental", scorecardIncremental, DssOps.supplierScorecardSql),
    exact("feed_from_firehose", feedFromFirehose, feedFromFirehoseSql),
    exact("decontam_report", decontamReport, decontamReportSql),
    exact("post_link_domains", postLinkDomains, postLinkDomainsSql))
}
