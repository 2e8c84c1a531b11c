package graft.queries

import graft.{Key, OracleMath, Tables}
import graft.Key.exact
import graft.pipeline._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Feed-pipeline blocks (§2 #1-#20): the reference's block types, each
  * exercised standalone over the testdata stand-ins (§3 mapping), plus
  * the composed pipeline (#20). Events play the post firehose
  * (ts=created_at, user_id=author, value=like_count); lineitem plays the
  * likes bipartite graph (l_suppkey=user, l_partkey=post).
  */
object FeedBlocks {
  import OracleMath._

  /** Deterministic "now": max event ts at any SF is 2024-01-30 23:57:12.x
    * → anchor to 2024-01-31 00:00:00 UTC so window queries are stable
    * across scale factors (the reference anchors to wall-clock now,
    * main.rs:1417; a fixed anchor is the reproducible equivalent).
    */
  val NowMs: Long = java.time.Instant.parse("2024-01-31T00:00:00Z").toEpochMilli

  /** #1 firehose window: last 7 days before the anchor. The predicate
    * lands in PushedFilters; on a date-partitioned lake it prunes
    * partitions instead of scanning.
    */
  def inputWindow(s: SparkSession, dir: String): DataFrame =
    FeedPipeline
      .compile(
        Tables.events(s, dir),
        Seq(InputWindow("ts", NowMs, 7L * 86400)))
      .select(col("event_id"), epochMs(col("ts")).as("ts_ms"), col("user_id"), col("event_type"))
      .orderBy(col("event_id"))

  val inputWindowSql: String =
    s"""SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type
       |FROM events
       |WHERE epoch_ms(ts) > $NowMs - 7*86400*1000 AND epoch_ms(ts) <= $NowMs
       |ORDER BY event_id""".stripMargin

  /** #2 count-comparison filters (keep value>=, !=-style). */
  def filterCompare(s: SparkSession, dir: String): DataFrame =
    FeedPipeline
      .compile(
        Tables.events(s, dir),
        Seq(
          KeepCmp("value", ">=", lit(100.0)),
          KeepCmp("event_type", "!=", lit("error"))))
      .select(col("event_id"), col("user_id"), col("event_type"), emit(col("value")).as("value"))
      .orderBy(col("event_id"))

  val filterCompareSql: String =
    """SELECT event_id, user_id, event_type,
      |  (CAST(round(value, 4) AS DOUBLE) + 0.0) AS value
      |FROM events WHERE value >= 100.0 AND event_type <> 'error'
      |ORDER BY event_id""".stripMargin

  /** #3 author-list membership: keep events whose user is a BUILDING-
    * segment customer — a left-semi join (the RoaringBitmap
    * set-intersection, distributed; AQE broadcasts the member side
    * when it is actually small).
    */
  def filterInSet(s: SparkSession, dir: String): DataFrame = {
    val members = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    FeedPipeline
      .compile(Tables.events(s, dir), Seq(KeepInSet("user_id", members, "c_custkey", keep = true)))
      .select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy(col("event_id"))
  }

  val filterInSetSql: String =
    """SELECT event_id, user_id, event_type
      |FROM events
      |WHERE user_id IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |ORDER BY event_id""".stripMargin

  /** #4 language filter (main.rs:1885). */
  def filterLanguage(s: SparkSession, dir: String): DataFrame =
    FeedPipeline
      .compile(Tables.documents(s, dir), Seq(KeepCmp("lang", "==", lit("en"))))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  val filterLanguageSql: String =
    """SELECT doc_id, lang, source, n_chars FROM documents
      |WHERE lang = 'en' ORDER BY doc_id""".stripMargin

  /** #5 regex filter: case-insensitive, multi-target OR, plus an inverted
    * second stage (main.rs:1982-2140).
    */
  def filterRegex(s: SparkSession, dir: String): DataFrame =
    FeedPipeline
      .compile(
        Tables.documents(s, dir),
        Seq(
          KeepRegex(Seq("text", "source"), "(data|query)", caseSensitive = false, invert = false),
          KeepRegex(Seq("text"), "stream", caseSensitive = false, invert = true)))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))

  val filterRegexSql: String =
    """SELECT doc_id, lang, source FROM documents
      |WHERE (regexp_matches(text, '(?i)(data|query)') OR regexp_matches(source, '(?i)(data|query)'))
      |  AND NOT regexp_matches(text, '(?i)stream')
      |ORDER BY doc_id""".stripMargin

  /** #6 `where` script filter: the Rhai surface compiled to a Catalyst
    * predicate (WhereDsl) — codegen'd, pushdown-eligible.
    */
  def filterWhere(s: SparkSession, dir: String): DataFrame = {
    val pred = WhereDsl.compile(
      """value > 100 && (eventType == "purchase" || eventType == "view") && userId < 100""",
      Map(
        "value" -> col("value"),
        "eventType" -> col("event_type"),
        "userId" -> col("user_id")))
    Tables.events(s, dir)
      .filter(pred)
      .select(col("event_id"), col("user_id"), col("event_type"), emit(col("value")).as("value"))
      .orderBy(col("event_id"))
  }

  val filterWhereSql: String =
    """SELECT event_id, user_id, event_type, (CAST(round(value, 4) AS DOUBLE) + 0.0) AS value
      |FROM events
      |WHERE value > 100 AND (event_type = 'purchase' OR event_type = 'view') AND user_id < 100
      |ORDER BY event_id""".stripMargin

  /** #6b `where` script over the FULL Rhai surface (main.rs:1952's
    * engine accepts arbitrary Rhai; the realistic payload space is
    * scalar-field expressions plus the string API): method calls
    * (`contains`, `starts_with`, `ends_with`, `len`, `to_lower`),
    * if-expressions, the `?:` shorthand, and substring `in` — all
    * compiled by WhereDsl to ONE codegen'd Catalyst predicate; no
    * per-row interpreter anywhere.
    */
  def filterWhereRhai(s: SparkSession, dir: String): DataFrame = {
    val pred = WhereDsl.compile(
      """text.to_lower().contains("data") &&
        |(if lang.starts_with("e") { nChars > 200 } else { nChars > 400 }) &&
        |("b" in source ? true : text.len() < 900) &&
        |!source.ends_with("xx")""".stripMargin,
      Map(
        "text" -> col("text"),
        "lang" -> col("lang"),
        "source" -> col("source"),
        "nChars" -> col("n_chars")))
    Tables.documents(s, dir)
      .filter(pred)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val filterWhereRhaiSql: String =
    """SELECT doc_id, lang, source, n_chars FROM documents
      |WHERE contains(lower(text), 'data')
      |  AND (CASE WHEN starts_with(lang, 'e') THEN n_chars > 200 ELSE n_chars > 400 END)
      |  AND (CASE WHEN contains(source, 'b') THEN true ELSE length(text) < 900 END)
      |  AND NOT ends_with(source, 'xx')
      |ORDER BY doc_id""".stripMargin

  /** #7 duplicate removal: first event per (user, type) in time order
    * (main.rs:1916 keeps first occurrence; order made explicit).
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    FeedPipeline
      .compile(
        Tables.events(s, dir),
        Seq(DedupByKey(Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")))))
      .select(col("user_id"), col("event_type"), col("event_id"), epochMs(col("ts")).as("ts_ms"))
      .orderBy(col("user_id"), col("event_type"))

  val dedupExactSql: String =
    """SELECT user_id, event_type, event_id, epoch_ms(ts) AS ts_ms FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
      |                               ORDER BY ts, event_id) AS rn
      |  FROM events
      |) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  /** #7b non_duplicates filter (main.rs:1919): keep ONLY the rows whose
    * key already appeared — the complement of dedup (rank > 1 per key).
    */
  def dedupKeepDupes(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn(
        "rn",
        row_number().over(
          Window
            .partitionBy(col("user_id"), col("event_type"))
            .orderBy(col("ts"), col("event_id"))))
      .filter(col("rn") > 1)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_dupes"), min(col("event_id")).as("first_dupe_id"))
      .orderBy(col("user_id"), col("event_type"))

  val dedupKeepDupesSql: String =
    """SELECT user_id, event_type, COUNT(*) AS n_dupes,
      |  MIN(event_id) AS first_dupe_id
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
      |                               ORDER BY ts, event_id) AS rn
      |  FROM events
      |) WHERE rn > 1
      |GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin

  /** #8 HN gravity score (main.rs:4338): value / (age_h + 2)^1.8 against
    * the fixed anchor; pure arithmetic Columns → whole-stage codegen.
    */
  def scoreHn(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .withColumn("score", Hn(col("value"), col("ts"), NowMs))
      .select(col("event_id"), emit(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("event_id"))
      .limit(100)
  }

  val scoreHnSql: String =
    s"""SELECT event_id,
       |  (CAST(round(value / power(($NowMs - epoch_ms(ts)) / 3600000.0 + 2.0, 1.8), 6) AS DOUBLE) + 0.0) AS score
       |FROM events
       |ORDER BY score DESC, event_id LIMIT 100""".stripMargin

  /** #9 normalized score accumulation (main.rs:2626): two sources, each
    * divided by its global max (aggregate + broadcast, no driver round
    * trip), summed into the running score.
    */
  def scoreNormalize(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
    val recency = (epochMs(col("ts")) - lit(NowMs - 30L * 86400 * 1000)).cast("double")
    val scored = FeedPipeline.compile(
      base,
      Seq(
        ScoreAdd(col("value"), normalize = true),
        ScoreAdd(recency, normalize = true)))
    scored
      .select(col("event_id"), emit(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("event_id"))
      .limit(200)
  }

  val scoreNormalizeSql: String =
    s"""SELECT event_id,
       |  (CAST(round(
       |    value / (SELECT max(value) FROM events)
       |    + (epoch_ms(ts) - (${NowMs} - ${30L * 86400 * 1000})) / CAST((SELECT max(epoch_ms(ts) - (${NowMs} - ${30L * 86400 * 1000})) FROM events) AS DOUBLE)
       |  , 6) AS DOUBLE) + 0.0) AS score
       |FROM events ORDER BY score DESC, event_id LIMIT 200""".stripMargin

  /** #10 sort + head-N (main.rs:2229,2374): plans as
    * TakeOrderedAndProject — per-partition heap, single merge.
    */
  def sortTopk(s: SparkSession, dir: String): DataFrame =
    FeedPipeline
      .compile(
        Tables.events(s, dir),
        Seq(
          SortBy(Seq(col("value").desc, col("event_id"))),
          LimitN(50)))
      .select(col("event_id"), col("user_id"), emit(col("value")).as("value"))

  val sortTopkSql: String =
    """SELECT event_id, user_id, (CAST(round(value, 4) AS DOUBLE) + 0.0) AS value
      |FROM events ORDER BY value DESC, event_id LIMIT 50""".stripMargin

  /** #11 posts_per_user limit (main.rs:2349): top 3 by value per user. */
  def limitPerUser(s: SparkSession, dir: String): DataFrame =
    FeedPipeline
      .compile(
        Tables.events(s, dir),
        Seq(LimitPerKey("user_id", 3, Seq(col("value").desc, col("event_id")))))
      .select(col("user_id"), col("event_id"), emit(col("value")).as("value"))
      .orderBy(col("user_id"), col("value").desc, col("event_id"))

  val limitPerUserSql: String =
    """SELECT user_id, event_id, (CAST(round(value, 4) AS DOUBLE) + 0.0) AS value FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |                               ORDER BY value DESC, event_id) AS rn
      |  FROM events
      |) WHERE rn <= 3 ORDER BY user_id, value DESC, event_id""".stripMargin

  /** #12 stash subtract (main.rs:2327): purchases minus any user who ever
    * errored — left-anti join on the key.
    */
  def stashSubtract(s: SparkSession, dir: String): DataFrame = {
    val errUsers = Tables.events(s, dir)
      .filter(col("event_type") === "error" && col("value") > 180.0)
      .select(col("user_id"))
    FeedPipeline
      .compile(
        Tables.events(s, dir).filter(col("event_type") === "purchase"),
        Seq(SubtractSet(errUsers, "user_id")))
      .select(col("event_id"), col("user_id"))
      .orderBy(col("event_id"))
  }

  val stashSubtractSql: String =
    """SELECT event_id, user_id FROM events
      |WHERE event_type = 'purchase'
      |  AND user_id NOT IN (SELECT user_id FROM events
      |                      WHERE event_type = 'error' AND value > 180.0)
      |ORDER BY event_id""".stripMargin

  /** #13 stash pop = union (main.rs:2319): top purchases ∪ top signups. */
  def stashPopUnion(s: SparkSession, dir: String): DataFrame = {
    def top(t: String) =
      Tables.events(s, dir)
        .filter(col("event_type") === t)
        .orderBy(col("value").desc, col("event_id"))
        .limit(20)
        .select(col("event_id"), col("event_type"), emit(col("value")).as("value"))
    FeedPipeline
      .compile(top("purchase"), Seq(UnionSet(top("signup"))))
      .orderBy(col("event_id"))
  }

  val stashPopUnionSql: String =
    """SELECT event_id, event_type, value FROM (
      |  (SELECT event_id, event_type, (CAST(round(value,4) AS DOUBLE) + 0.0) AS value
      |   FROM events WHERE event_type = 'purchase' ORDER BY value DESC, event_id LIMIT 20)
      |  UNION ALL
      |  (SELECT event_id, event_type, (CAST(round(value,4) AS DOUBLE) + 0.0) AS value
      |   FROM events WHERE event_type = 'signup' ORDER BY value DESC, event_id LIMIT 20)
      |) ORDER BY event_id""".stripMargin

  /** #14 replace-with-parent (main.rs:2402): lineitem → its parent order;
    * missing parents kept (keepItemsWithMissingTarget=true) with key -1.
    */
  def replaceParent(s: SparkSession, dir: String): DataFrame = {
    val li = Tables
      .lineitem(s, dir)
      .filter(col("l_quantity") >= 45)
      .select(col("l_orderkey"), col("l_linenumber"))
    li.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"), "left")
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        coalesce(col("o_orderkey"), lit(-1L)).as("parent_key"),
        emit(coalesce(col("o_totalprice"), lit(0.0))).as("parent_price"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val replaceParentSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  coalesce(o_orderkey, -1) AS parent_key,
      |  (CAST(round(coalesce(o_totalprice, 0.0), 4) AS DOUBLE) + 0.0) AS parent_price
      |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_quantity >= 45
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** #15 direct_replies inversion (main.rs:2462): children whose parent
    * is in the seed set — semi join against the full store.
    */
  def replaceReplies(s: SparkSession, dir: String): DataFrame = {
    val seed = Tables.orders(s, dir).filter(col("o_totalprice") > 400000.0).select(col("o_orderkey"))
    Tables
      .lineitem(s, dir)
      .join(seed, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val replaceRepliesSql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** #14b replace-with-root (main.rs:2415): two-hop lookup — each line
    * item resolves through its order to the root customer (the thread
    * root), keeping rows whose chain breaks (left joins + coalesce).
    */
  def replaceRoot(s: SparkSession, dir: String): DataFrame = {
    Tables
      .lineitem(s, dir)
      .filter(col("l_quantity") >= 48)
      .select(col("l_orderkey"), col("l_linenumber"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"), "left")
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"), "left")
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        coalesce(col("c_custkey"), lit(-1L)).as("root_key"),
        coalesce(col("c_name"), lit("(missing)")).as("root_name"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val replaceRootSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  coalesce(c_custkey, -1) AS root_key,
      |  coalesce(c_name, '(missing)') AS root_name
      |FROM lineitem
      |LEFT JOIN orders ON l_orderkey = o_orderkey
      |LEFT JOIN customer ON o_custkey = c_custkey
      |WHERE l_quantity >= 48
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** #10b random sort (main.rs:2283): the reference shuffles with a
    * thread RNG; the reproducible distributed equivalent is ordering by
    * a keyed cryptographic hash — deterministic, uniform, and exactly
    * reproducible by the oracle.
    */
  def sortRandom(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type") === "signup")
      .select(col("event_id"), md5(concat(col("event_id").cast("string"), lit("#42"))).as("shuffle_key"))
      .orderBy(col("shuffle_key"))
      .limit(100)

  val sortRandomSql: String =
    """SELECT event_id, md5(CAST(event_id AS VARCHAR) || '#42') AS shuffle_key
      |FROM events WHERE event_type = 'signup'
      |ORDER BY shuffle_key LIMIT 100""".stripMargin

  /** #3b tags input (main.rs:1606): documents carrying any of the wanted
    * tags — array membership over the tokenized text (the inverted-index
    * lookup as a scan-side predicate; at rest this is a bloom/zone-map
    * assisted scan, not an index server).
    */
  def inputTags(s: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    Tables.documents(s, dir)
      .filter(array_contains(words, "window") || array_contains(words, "stream"))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  val inputTagsSql: String =
    """SELECT doc_id, lang, source FROM documents
      |WHERE list_contains(string_split(text, ' '), 'window')
      |   OR list_contains(string_split(text, ' '), 'stream')
      |ORDER BY doc_id""".stripMargin

  /** #2b null/existence filter (the has_labels / embed=none subjects,
    * main.rs:1812,1929): presence of a JSON property as predicate.
    */
  def filterNullProps(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      // scan-level filter first (event_type pushes to the parquet scan),
      // THEN one json_tuple parse per surviving row. The obvious
      // from_json-into-a-column form parses the document FIVE times per
      // row: predicate pushdown substitutes the parse expression into
      // every filter conjunct and the output projection (r3 plan,
      // measured 1.6-1.9 s at sf0.1). json_tuple extracts both
      // properties in a single streaming parse, and its Generate node
      // is a pushdown barrier — the property predicates stay ABOVE the
      // parse instead of being rewritten into copies of it.
      .filter(col("event_type") === "view")
      .select(col("event_id"), col("props"))
      .select(col("event_id"), json_tuple(col("props"), "k", "missing").as(Seq("k0", "m0")))
      .filter(col("m0").isNull && col("k0").cast("long") >= 90)
      .select(col("event_id"), col("k0").cast("long").as("k"))
      .orderBy(col("event_id"))

  val filterNullPropsSql: String =
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events
      |WHERE json_extract_string(props, '$.k') IS NOT NULL
      |  AND json_extract_string(props, '$.missing') IS NULL
      |  AND event_type = 'view'
      |  AND CAST(json_extract_string(props, '$.k') AS BIGINT) >= 90
      |ORDER BY event_id""".stripMargin

  /** #15b all_replies inversion (main.rs:2470): members of the full
    * store whose ROOT (two hops up) is in the seed set — chain the
    * root lookup into a semi join.
    */
  def replaceAllReplies(s: SparkSession, dir: String): DataFrame = {
    val seedRoots = Tables.customer(s, dir)
      .filter(col("c_acctbal") > 9000.0)
      .select(col("c_custkey"))
    val rooted = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
    rooted
      .join(seedRoots, col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val replaceAllRepliesSql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000.0)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** #16 custom_likedweighted (main.rs:1453): likes = lineitem
    * (l_suppkey likes l_partkey); prolific likers weigh less:
    * weight(u) = 1/(base + n_likes(u)); post score = Σ weights.
    * Each liker's weight is rounded once, then summed per post as
    * DECIMAL → order-independent, bit-identical to the oracle.
    */
  def likesWeighted(s: SparkSession, dir: String): DataFrame =
    likesWeightedOver(
      Tables.lineitem(s, dir).select(col("l_suppkey").as("u"), col("l_partkey").as("p")))

  /** The core over any (u, p) like-edge frame — test entry point for
    * the viral-post (100k-liker) stress. Scale shape: the hot post key
    * only ever enters AGGREGATIONS (map-side partial combine absorbs
    * it); the one join keys on u, where a user's degree is bounded by
    * attention, not audience.
    */
  private[graft] def likesWeightedOver(likes: DataFrame): DataFrame = {
    // the weight is computed once per liker, on the aggregated side
    val userW = likes
      .groupBy(col("u"))
      .agg(count(lit(1)).as("n_likes"))
      .select(col("u"), round(lit(1.0) / (lit(5.0) + col("n_likes")), 10).cast(Dec12).as("w"))
    likes
      .join(userW, "u")
      .groupBy(col("p"))
      .agg(sum(col("w")).as("raw"), count(lit(1)).as("n_likers"))
      .select(col("p"), emit(col("raw"), 8).as("like_score"), col("n_likers"))
      .orderBy(col("like_score").desc, col("p"))
      .limit(50)
  }

  val likesWeightedSql: String =
    """WITH likes AS (SELECT l_suppkey AS u, l_partkey AS p FROM lineitem),
      |user_cnt AS (SELECT u, COUNT(*) AS n_likes FROM likes GROUP BY u)
      |SELECT p,
      |  (CAST(round(SUM(CAST(round(1.0/(5.0 + n_likes), 10) AS DECIMAL(38,12))), 8) AS DOUBLE) + 0.0) AS like_score,
      |  COUNT(*) AS n_likers
      |FROM likes JOIN user_cnt USING (u)
      |GROUP BY p ORDER BY like_score DESC, p LIMIT 50""".stripMargin

  /** #17 custom_likedbylikers (main.rs:1515): two-hop like-graph walk.
    * Seeds: top parts by raw like count. Curators: users who liked a
    * seed, scored f1 = Σ 1/likers(seed). Output: posts re-scored by the
    * curators who liked them. Both hops shuffle on the same like-table
    * keys; the curator side is small → broadcast.
    */
  def likesBylikers(s: SparkSession, dir: String): DataFrame =
    likesBylikersOver(
      Tables.lineitem(s, dir).select(col("l_suppkey").as("u"), col("l_partkey").as("p")))

  /** The core over any (u, p) like-edge frame — test entry point for
    * the viral-post stress. The hot post key flows through the seed
    * aggregate (partial combine) and the pinned-broadcast seeds join
    * (10 rows — skew-immune by construction); the curator join keys
    * on u.
    */
  private[graft] def likesBylikersOver(likes: DataFrame): DataFrame = {
    val postLikers = likes.groupBy(col("p")).agg(count(lit(1)).as("n_likers"))
    // the f1 weight is computed once per seed, on the 10-row seed side
    val seeds = postLikers
      .orderBy(col("n_likers").desc, col("p"))
      .limit(10)
      .select(col("p"), round(UserScore.fn("f1")(col("n_likers")), 10).cast(Dec12).as("w"))
    val curators = likes
      .join(broadcast(seeds), "p")
      .groupBy(col("u"))
      .agg(sum(col("w")).as("curator_score"))
    likes
      .join(curators, "u")
      .groupBy(col("p"))
      .agg(sum(col("curator_score")).as("raw"))
      .select(col("p"), emit(col("raw"), 8).as("score"))
      .orderBy(col("score").desc, col("p"))
      .limit(50)
  }

  val likesBylikersSql: String =
    """WITH likes AS (SELECT l_suppkey AS u, l_partkey AS p FROM lineitem),
      |post_likers AS (SELECT p, COUNT(*) AS n_likers FROM likes GROUP BY p),
      |seeds AS (SELECT p, n_likers FROM post_likers ORDER BY n_likers DESC, p LIMIT 10),
      |curators AS (
      |  SELECT u, SUM(CAST(round(1.0/n_likers, 10) AS DECIMAL(38,12))) AS curator_score
      |  FROM likes JOIN seeds USING (p) GROUP BY u
      |)
      |SELECT p, (CAST(round(SUM(curator_score), 8) AS DOUBLE) + 0.0) AS score
      |FROM likes JOIN curators USING (u)
      |GROUP BY p ORDER BY score DESC, p LIMIT 50""".stripMargin

  /** #18 trending tags (main.rs:626): words = tags; distinct-doc count
    * per word above a floor, top 20. Explode → two-phase agg.
    */
  def trendingTags(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tag"))
      .filter(length(col("tag")) > 3)
      .groupBy(col("tag"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") > 2)
      .orderBy(col("n_docs").desc, col("tag"))
      .limit(20)

  val trendingTagsSql: String =
    """SELECT tag, COUNT(DISTINCT doc_id) AS n_docs
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tag FROM documents)
      |WHERE length(tag) > 3
      |GROUP BY tag HAVING COUNT(DISTINCT doc_id) > 2
      |ORDER BY n_docs DESC, tag LIMIT 20""".stripMargin

  /** #19 tag variations (main.rs:58,660): per language, the most frequent
    * word — rank-1 per group with explicit tie-break (the reference's
    * HashMap argmax made deterministic).
    */
  def tagVariations(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables
      .documents(s, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 2)
      .groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("word"))
    counts
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("lang"), col("word"), col("cnt"), col("rn"))
      .orderBy(col("lang"), col("rn"))
  }

  val tagVariationsSql: String =
    """WITH counts AS (
      |  SELECT lang, word, COUNT(*) AS cnt FROM (
      |    SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
      |  ) WHERE length(word) > 2 GROUP BY lang, word
      |), ranked AS (
      |  SELECT lang, word, cnt,
      |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, word) AS rn
      |  FROM counts
      |)
      |SELECT lang, word, cnt, rn FROM ranked WHERE rn <= 3
      |ORDER BY lang, rn""".stripMargin

  /** #18b the trending-tags RESPONSE shape (main.rs:626-690): windowed
    * per-tag counts JOINED with each tag's most popular display
    * variation — the reference walks two in-memory maps; here one plan
    * joins the count aggregate with the rank-1 variation aggregate
    * (both shuffles on the tag key), count floor > 2, top 100.
    * Variations are cased forms; the testdata stand-in derives the
    * variation layer from word case-folding.
    */
  def trendingTagsNamed(s: SparkSession, dir: String): DataFrame = {
    val words = Tables
      .documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 3)
      .withColumn("tag", lower(col("word")))
    val counts = words
      .groupBy(col("tag"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") > 2)
    val w = Window.partitionBy(col("tag")).orderBy(col("cnt").desc, col("word"))
    val variations = words
      .groupBy(col("tag"), col("word"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("tag"), col("word").as("name"))
    counts
      .join(variations, "tag")
      .orderBy(col("n_docs").desc, col("tag"))
      .limit(100)
  }

  val trendingTagsNamedSql: String =
    """WITH words AS (
      |  SELECT doc_id, w AS word, lower(w) AS tag FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      |  ) WHERE length(w) > 3
      |),
      |counts AS (
      |  SELECT tag, COUNT(DISTINCT doc_id) AS n_docs FROM words
      |  GROUP BY tag HAVING COUNT(DISTINCT doc_id) > 2
      |),
      |variations AS (
      |  SELECT tag, word AS name FROM (
      |    SELECT tag, word, row_number() OVER (
      |      PARTITION BY tag ORDER BY COUNT(*) DESC, word) AS rn
      |    FROM words GROUP BY tag, word
      |  ) WHERE rn = 1
      |)
      |SELECT tag, n_docs, name
      |FROM counts JOIN variations USING (tag)
      |ORDER BY n_docs DESC, tag LIMIT 100""".stripMargin

  /** #1b point lookup (input `post` block, main.rs:1345): fetch specific
    * rows by key. The In-predicate reaches the scan (PushedFilters), so
    * on a sorted/bucketed 100 TB table this is row-group skipping, not
    * a scan.
    */
  def pointLookup(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_id").isin(7L, 42L, 4242L))
      .select(col("event_id"), col("user_id"), col("event_type"), emit(col("value")).as("value"))
      .orderBy(col("event_id"))

  val pointLookupSql: String =
    """SELECT event_id, user_id, event_type, (CAST(round(value, 4) AS DOUBLE) + 0.0) AS value
      |FROM events WHERE event_id IN (7, 42, 4242)
      |ORDER BY event_id""".stripMargin

  /** #20 the composed pipeline (= SparkEntry.entry flagship): input
    * window → remove errors → where-script → hn score (normalized) →
    * per-user limit → top 100. One logical plan; Catalyst merges all
    * three filters into the scan.
    */
  def feedPipeline(s: SparkSession, dir: String): DataFrame = {
    val wherePred = WhereDsl.compile(
      """value > 20 && eventType != "error"""",
      Map("value" -> col("value"), "eventType" -> col("event_type")))
    FeedPipeline
      .compile(
        Tables.events(s, dir),
        Seq(
          InputWindow("ts", NowMs, 14L * 86400),
          KeepCmp("event_type", "!=", lit("click")),
          WhereFilter(wherePred),
          ScoreAdd(Hn(col("value"), col("ts"), NowMs), normalize = true),
          // rank on the rounded score: double `pow` may differ by 1 ulp
          // across engines — 6-dp rounding + id tie-break keeps ranking
          // bit-stable between Spark and the oracle
          RoundCol("score", 6),
          LimitPerKey("user_id", 3, Seq(col("score").desc, col("event_id"))),
          SortBy(Seq(col("score").desc, col("event_id"))),
          LimitN(100)))
      .select(col("event_id"), col("user_id"), col("score").cast("double").as("score"))
  }

  val feedPipelineSql: String =
    s"""WITH windowed AS (
       |  SELECT * FROM events
       |  WHERE epoch_ms(ts) > $NowMs - 14*86400*1000 AND epoch_ms(ts) <= $NowMs
       |    AND event_type <> 'click' AND value > 20 AND event_type <> 'error'
       |), scored AS (
       |  SELECT event_id, user_id,
       |    value / power(($NowMs - epoch_ms(ts)) / 3600000.0 + 2.0, 1.8) AS raw
       |  FROM windowed
       |), normed AS (
       |  SELECT event_id, user_id,
       |    (CAST(round(raw / MAX(raw) OVER (), 6) AS DOUBLE) + 0.0) AS score
       |  FROM scored
       |), limited AS (
       |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY score DESC, event_id) AS rn
       |  FROM normed
       |)
       |SELECT event_id, user_id, score
       |FROM limited WHERE rn <= 3
       |ORDER BY score DESC, event_id LIMIT 100""".stripMargin

  /** #20b the SAME pipeline as #20, but arriving as the reference's JSON
    * wire payload (PipelineJson.run). Shares #20's oracle: the JSON
    * front-end must compile to a semantically identical plan.
    */
  def feedPipelineJson(s: SparkSession, dir: String): DataFrame = {
    val payload =
      """{"blocks":[
        |  {"type":"input","inputType":"firehose","firehoseSeconds":1209600},
        |  {"type":"remove","subject":"event_type","operator":"==","value":"click"},
        |  {"type":"where","value":"value > 20 && eventType != \"error\""},
        |  {"type":"score","scoreType":"add","from":"hn","gravity":"1.8","normalize":true},
        |  {"type":"limit","limitType":"posts_per_user","count":3},
        |  {"type":"sort","sortType":"score","sortDirection":"desc"},
        |  {"type":"limit","count":100}
        |]}""".stripMargin
    val binding = Binding(
      idCol = "event_id",
      authorCol = "user_id",
      tsCol = "ts",
      valueCol = "value",
      nowEpochMs = NowMs,
      regexTargets = Map("text" -> Seq("event_type")),
      whereFields = Map("value" -> col("value"), "eventType" -> col("event_type")))
    PipelineJson
      .run(Tables.events(s, dir), payload, binding)
      .select(col("event_id"), col("user_id"), col("score").cast("double").as("score"))
  }

  /** #20c a full JSON PROGRAM with multiple inputs and stash slots
    * (PipelineJson.run): 7-day purchases stashed, 14-day signups pulled,
    * popped back together, error-window subtracted, ranked. Exercises
    * the reference's whole-payload execution model; the oracle is the
    * equivalent relational SQL.
    */
  def feedPipelineStash(s: SparkSession, dir: String): DataFrame = {
    val payload =
      """{"blocks":[
        |  {"type":"input","inputType":"firehose","firehoseSeconds":604800},
        |  {"type":"keep","subject":"event_type","operator":"==","value":"purchase"},
        |  {"type":"stash","action":"stash","key":"p"},
        |  {"type":"input","inputType":"firehose","firehoseSeconds":1209600},
        |  {"type":"keep","subject":"event_type","operator":"==","value":"signup"},
        |  {"type":"stash","action":"pop","key":"p"},
        |  {"type":"score","scoreType":"add","value":"value * 2 + userId","normalize":false},
        |  {"type":"sort","sortType":"score","sortDirection":"desc"},
        |  {"type":"limit","count":100}
        |]}""".stripMargin
    val binding = Binding(
      idCol = "event_id",
      authorCol = "user_id",
      tsCol = "ts",
      valueCol = "value",
      nowEpochMs = NowMs,
      regexTargets = Map("text" -> Seq("event_type")),
      whereFields = Map("value" -> col("value"), "userId" -> col("user_id")))
    PipelineJson
      .run(Tables.events(s, dir), payload, binding)
      .select(
        col("event_id"),
        col("user_id"),
        col("event_type"),
        emit(col("score")).as("score"))
  }

  val feedPipelineStashSql: String =
    s"""WITH w14 AS (
       |  SELECT * FROM events
       |  WHERE epoch_ms(ts) > $NowMs - 14*86400*1000 AND epoch_ms(ts) <= $NowMs
       |), w7 AS (
       |  SELECT * FROM w14 WHERE epoch_ms(ts) > $NowMs - 7*86400*1000
       |), merged AS (
       |  SELECT * FROM w14 WHERE event_type = 'signup'
       |  UNION ALL
       |  SELECT * FROM w7 WHERE event_type = 'purchase'
       |)
       |SELECT event_id, user_id, event_type,
       |  (CAST(round(value * 2 + user_id, 4) AS DOUBLE) + 0.0) AS score
       |FROM merged
       |ORDER BY round(value * 2 + user_id, 6) DESC, event_id LIMIT 100""".stripMargin

  /** #20i the `feed` input (main.rs:1704): the reference fetches an
    * external feed's skeleton (post-id list) over HTTP and keeps the
    * store posts it names. The fetch is ingestion — here a resolver
    * relation stands in for the fetched skeleton ("purchases scoring
    * ≥ 80", as if another feed served them) via Binding.feeds, and the
    * block is a semi join of the store against the skeleton's id set.
    * The rest of the payload ranks the kept posts hn-style — proving
    * a real SkyFeed feed-input payload runs end-to-end instead of
    * hard-erroring (round-3 behavior).
    */
  def feedPipelineFeedinput(s: SparkSession, dir: String): DataFrame = {
    val payload =
      """{"blocks":[
        |  {"type":"input","inputType":"feed","feedUri":"at://did:plc:ext/app.bsky.feed.generator/hot"},
        |  {"type":"score","scoreType":"add","from":"hn","gravity":"1.8","normalize":true},
        |  {"type":"sort","sortType":"score","sortDirection":"desc"},
        |  {"type":"limit","count":50}
        |]}""".stripMargin
    val skeleton = Tables.events(s, dir)
      .filter(col("event_type") === "purchase" && col("value") >= 80)
      .select(col("event_id"))
    val binding = Binding(
      idCol = "event_id",
      authorCol = "user_id",
      tsCol = "ts",
      valueCol = "value",
      nowEpochMs = NowMs,
      regexTargets = Map.empty,
      whereFields = Map.empty,
      feeds = Map("at://did:plc:ext/app.bsky.feed.generator/hot" -> skeleton))
    PipelineJson
      .run(Tables.events(s, dir), payload, binding)
      .select(col("event_id"), col("user_id"), col("score").cast("double").as("score"))
  }

  val feedPipelineFeedinputSql: String =
    s"""WITH kept AS (
       |  SELECT * FROM events
       |  WHERE event_id IN (
       |    SELECT event_id FROM events WHERE event_type = 'purchase' AND value >= 80)
       |), scored AS (
       |  SELECT event_id, user_id,
       |    value / power(($NowMs - epoch_ms(ts)) / 3600000.0 + 2.0, 1.8) AS raw
       |  FROM kept
       |), normed AS (
       |  SELECT event_id, user_id,
       |    (CAST(round(raw / MAX(raw) OVER (), 6) AS DOUBLE) + 0.0) AS score
       |  FROM scored
       |)
       |SELECT event_id, user_id, score
       |FROM normed ORDER BY score DESC, event_id LIMIT 50""".stripMargin

  /** #14c replace-with-record (the quote lookup, main.rs:2429): each
    * line item resolves through its quote ref (a partkey subset) to the
    * record store; null refs are kept (keepItemsWithMissingTarget=true),
    * dangling refs (target absent from the store) always drop — the
    * reference's three-way replace semantics exactly. The record-store
    * lookup is hint-free: the store scales with the data, so the
    * planner/AQE picks broadcast vs shuffle by actual size.
    */
  def replaceRecord(s: SparkSession, dir: String): DataFrame = {
    val li = Tables
      .lineitem(s, dir)
      .filter(col("l_quantity") >= 49)
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        when(col("l_partkey") % 3 === 0, col("l_partkey")).as("record_ref"))
    val store = Tables.part(s, dir).filter(col("p_size") <= 40)
    li.join(store, col("record_ref") === col("p_partkey"), "left")
      .filter(col("record_ref").isNull || col("p_partkey").isNotNull)
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        coalesce(col("p_partkey"), lit(-1L)).as("record_key"),
        coalesce(col("p_name"), lit("(missing)")).as("record_name"))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
      // total order needs the resolved key too
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("record_key"))
  }

  val replaceRecordSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  coalesce(p_partkey, -1) AS record_key,
      |  coalesce(p_name, '(missing)') AS record_name
      |FROM (SELECT l_orderkey, l_linenumber,
      |        CASE WHEN l_partkey % 3 = 0 THEN l_partkey END AS record_ref
      |      FROM lineitem WHERE l_quantity >= 49) li
      |LEFT JOIN (SELECT * FROM part WHERE p_size <= 40) p ON record_ref = p_partkey
      |WHERE record_ref IS NULL OR p_partkey IS NOT NULL
      |ORDER BY l_orderkey, l_linenumber, record_key""".stripMargin

  /** #15c quote_posts inversion (main.rs:2478): every store row QUOTING
    * a seed-set member — semi join on the quote ref against the seeds
    * (the third ref-column inversion, after parent/root).
    */
  def quotePosts(s: SparkSession, dir: String): DataFrame = {
    val seeds = Tables.part(s, dir).filter(col("p_size") >= 48).select(col("p_partkey"))
    Tables
      .lineitem(s, dir)
      .withColumn("record_ref", when(col("l_partkey") % 3 === 0, col("l_partkey")))
      .join(seeds, col("record_ref") === col("p_partkey"), "left_semi")
      .select(col("l_orderkey"), col("l_linenumber"), col("record_ref").as("quoted_key"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("quoted_key"))
  }

  val quotePostsSql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey AS quoted_key
      |FROM lineitem
      |WHERE l_partkey % 3 = 0
      |  AND l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 48)
      |ORDER BY l_orderkey, l_linenumber, quoted_key""".stripMargin

  /** The events store with derived thread/quote refs — the Binding's
    * `store` for the wire-payload queries. The refs are deterministic
    * functions of the id so the DuckDB oracle rebuilds the identical
    * structure: parent_ref exercises all three replace outcomes (null →
    * kept, resolvable → replaced, dangling beyond max id → dropped);
    * record_ref points 7 ids back on every 4th row.
    */
  private def eventsStore(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn(
        "parent_ref",
        when(col("event_id") % 3 === 1, floor(col("event_id") / 2).cast("long"))
          .when(col("event_id") % 3 === 2, col("event_id") + 7919))
      .withColumn(
        "record_ref",
        when(col("event_id") % 4 === 2 && col("event_id") >= 7, col("event_id") - 7))

  private val eventsStoreSql: String =
    """SELECT *,
      |  CASE WHEN event_id % 3 = 1 THEN CAST(floor(event_id / 2.0) AS BIGINT)
      |       WHEN event_id % 3 = 2 THEN event_id + 7919 END AS parent_ref,
      |  CASE WHEN event_id % 4 = 2 AND event_id >= 7 THEN event_id - 7 END AS record_ref
      |FROM events""".stripMargin

  private def wireBinding(s: SparkSession, dir: String): Binding = {
    val members = Tables
      .customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    Binding(
      idCol = "event_id",
      authorCol = "user_id",
      tsCol = "ts",
      valueCol = "value",
      nowEpochMs = NowMs,
      regexTargets = Map("text" -> Seq("event_type")),
      whereFields = Map("value" -> col("value"), "eventType" -> col("event_type")),
      lists = Map("at://lists/building" -> members),
      refCols = Map("parent" -> "parent_ref", "record" -> "record_ref"),
      store = Some(eventsStore(s, dir)),
      // likes graph for the custom_liked* inputs: lineitem projected to
      // (liker = l_suppkey, post = l_partkey); partkeys ⊂ event ids at
      // every SF, so liked "posts" resolve in the events store
      likes = Some(
        Tables.lineitem(s, dir).select(col("l_suppkey").as("liker"), col("l_partkey").as("post"))))
  }

  /** #20d the full WIRE surface in one reference-shaped payload:
    * three input types (firehose + list + post), a duplicates filter, a
    * reference-semantics count filter (`remove like_count < 30` retains
    * ≥ 30), a parent replace with keep-missing, and a sort-time HN
    * ranking — every block arriving as the reference's JSON and
    * compiling into one lazy plan.
    */
  def feedPipelineWire(s: SparkSession, dir: String): DataFrame = {
    val payload =
      """{"blocks":[
        |  {"type":"input","inputType":"firehose","firehoseSeconds":604800},
        |  {"type":"input","inputType":"list","listUri":"at://lists/building","historySeconds":1209600},
        |  {"type":"input","inputType":"post","postUri":[7,42,4242]},
        |  {"type":"remove","subject":"duplicates"},
        |  {"type":"remove","subject":"like_count","operator":"<","value":30},
        |  {"type":"replace","with":"parent","keepItemsWithMissingTarget":true},
        |  {"type":"remove","subject":"duplicates"},
        |  {"type":"sort","sortType":"hn","gravity":"1.8","sortDirection":"desc"},
        |  {"type":"limit","count":100}
        |]}""".stripMargin
    PipelineJson
      .run(eventsStore(s, dir), payload, wireBinding(s, dir))
      .select(
        col("event_id"),
        col("user_id"),
        round(Hn(col("value"), col("ts"), NowMs), 6).cast("double").as("hn_score"))
  }

  val feedPipelineWireSql: String =
    s"""WITH store AS ($eventsStoreSql),
       |merged AS (
       |  SELECT * FROM store
       |  WHERE epoch_ms(ts) > $NowMs - 7*86400*1000 AND epoch_ms(ts) <= $NowMs
       |  UNION ALL
       |  SELECT * FROM store
       |  WHERE epoch_ms(ts) > $NowMs - 14*86400*1000 AND epoch_ms(ts) <= $NowMs
       |    AND user_id IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
       |  UNION ALL
       |  SELECT * FROM store WHERE event_id IN (7, 42, 4242)
       |),
       |dedup1 AS (
       |  SELECT * FROM merged
       |  QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY event_id) = 1
       |),
       |filt AS (SELECT * FROM dedup1 WHERE value >= 30),
       |replaced AS (
       |  SELECT f.* FROM filt f WHERE f.parent_ref IS NULL
       |  UNION ALL
       |  SELECT s.* FROM filt f JOIN store s ON s.event_id = f.parent_ref
       |),
       |dedup2 AS (
       |  SELECT * FROM replaced
       |  QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY event_id) = 1
       |)
       |SELECT event_id, user_id,
       |  (CAST(round(value / power(($NowMs - epoch_ms(ts)) / 3600000.0 + 2.0, 1.8), 6) AS DOUBLE) + 0.0) AS hn_score
       |FROM dedup2
       |ORDER BY hn_score DESC, event_id LIMIT 100""".stripMargin

  /** #20e quote-structure wire program: 14-day purchases → quote_posts
    * inversion (who quoted them) → replace with=record (back to the
    * quoted posts, drop-missing) — the reference's record/quote family
    * (main.rs:2429, 2478) exercised end-to-end through the JSON parser.
    */
  def feedPipelineQuotes(s: SparkSession, dir: String): DataFrame = {
    val payload =
      """{"blocks":[
        |  {"type":"input","inputType":"firehose","firehoseSeconds":1209600},
        |  {"type":"keep","subject":"event_type","operator":"==","value":"purchase"},
        |  {"type":"replace","with":"quote_posts"},
        |  {"type":"remove","subject":"duplicates"},
        |  {"type":"replace","with":"record","keepItemsWithMissingTarget":false},
        |  {"type":"remove","subject":"duplicates"},
        |  {"type":"sort","sortType":"created_at","sortDirection":"asc"},
        |  {"type":"limit","count":200}
        |]}""".stripMargin
    PipelineJson
      .run(eventsStore(s, dir), payload, wireBinding(s, dir))
      .select(col("event_id"), col("user_id"), col("event_type"), epochMs(col("ts")).as("ts_ms"))
  }

  val feedPipelineQuotesSql: String =
    s"""WITH store AS ($eventsStoreSql),
       |seed AS (
       |  SELECT * FROM store
       |  WHERE epoch_ms(ts) > $NowMs - 14*86400*1000 AND epoch_ms(ts) <= $NowMs
       |    AND event_type = 'purchase'
       |),
       |quoting AS (
       |  SELECT DISTINCT s.* FROM store s
       |  WHERE s.record_ref IN (SELECT event_id FROM seed)
       |),
       |recs AS (
       |  SELECT DISTINCT t.* FROM quoting q JOIN store t ON t.event_id = q.record_ref
       |)
       |SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms
       |FROM recs ORDER BY ts_ms ASC, event_id LIMIT 200""".stripMargin

  /** #20f tags/labels/archived wire program over `documents`: the three
    * index-style input types, the language filter's reference polarity
    * (`== zh` removes the language), a where-script, score from a bound
    * count field (reply_count), per-author cap, ranked output — the
    * Binding maps the reference's logical post fields onto a completely
    * different relation, which is the point of the front-end.
    */
  def feedPipelineTags(s: SparkSession, dir: String): DataFrame = {
    val docsAll = Tables.documents(s, dir)
    // live/archive split of the document store: the archived input pulls
    // the slice the live window no longer holds
    val live = docsAll.filter(col("doc_id") % 10 < 8)
    val archive = docsAll.filter(col("doc_id") % 10 >= 8)
    val payload =
      """{"blocks":[
        |  {"type":"input","inputType":"tags","tags":["Window","stream"]},
        |  {"type":"input","inputType":"labels","labels":["en","de"]},
        |  {"type":"input","inputType":"archived"},
        |  {"type":"remove","subject":"duplicates"},
        |  {"type":"keep","subject":"where","value":"nChars > 100"},
        |  {"type":"keep","subject":"language","operator":"==","language":"zh"},
        |  {"type":"score","scoreType":"add","from":"reply_count","normalize":false},
        |  {"type":"limit","limitType":"posts_per_user","count":10},
        |  {"type":"sort","sortType":"score","sortDirection":"desc"},
        |  {"type":"limit","count":150}
        |]}""".stripMargin
    val binding = Binding(
      idCol = "doc_id",
      authorCol = "source",
      tsCol = "doc_id", // documents carry no timestamp; nothing here sorts by time
      valueCol = "n_chars",
      nowEpochMs = NowMs,
      regexTargets = Map("text" -> Seq("text")),
      whereFields = Map("nChars" -> col("n_chars")),
      fieldCols = Map(
        "reply_count" -> pmod(col("n_chars"), lit(17)),
        "language" -> col("lang")),
      tagsCol = Some(split(col("text"), " ")),
      labelsCol = Some(array(col("lang"))),
      archive = Some(archive))
    PipelineJson
      .run(live, payload, binding)
      .select(col("doc_id"), col("source"), col("score").cast("double").as("score"))
  }

  val feedPipelineTagsSql: String =
    """WITH live AS (SELECT * FROM documents WHERE doc_id % 10 < 8),
      |tagsel AS (
      |  SELECT * FROM live
      |  WHERE list_contains(list_transform(string_split(text, ' '), w -> lower(w)), 'window')
      |     OR list_contains(list_transform(string_split(text, ' '), w -> lower(w)), 'stream')
      |),
      |labsel AS (SELECT * FROM live WHERE lower(lang) IN ('en', 'de')),
      |arch AS (SELECT * FROM documents WHERE doc_id % 10 >= 8),
      |merged AS (
      |  SELECT * FROM tagsel UNION ALL SELECT * FROM labsel UNION ALL SELECT * FROM arch
      |),
      |dedup AS (
      |  SELECT * FROM merged
      |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY doc_id) = 1
      |),
      |filt AS (SELECT * FROM dedup WHERE n_chars > 100 AND lang <> 'zh'),
      |scored AS (
      |  SELECT doc_id, source, (CAST(round(n_chars % 17, 6) AS DOUBLE) + 0.0) AS score FROM filt
      |),
      |lim AS (
      |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rn
      |  FROM scored
      |)
      |SELECT doc_id, source, score FROM lim WHERE rn <= 10
      |ORDER BY score DESC, doc_id LIMIT 150""".stripMargin

  /** #16b custom_likedweighted arriving AS WIRE JSON (main.rs:1453):
    * the like-graph input parsed by PipelineJson — posts liked by the
    * list's members, prolific likers damped, max-normalized score.
    * Same join-aggregate shape as the standalone #16, reached through
    * the reference's payload format.
    */
  def feedPipelineLiked(s: SparkSession, dir: String): DataFrame = {
    val payload =
      """{"blocks":[
        |  {"type":"input","inputType":"custom_likedweighted","listUri":"at://lists/building","baseLikeCount":5,"historySeconds":999999999},
        |  {"type":"sort","sortType":"score","sortDirection":"desc"},
        |  {"type":"limit","count":100}
        |]}""".stripMargin
    PipelineJson
      .run(eventsStore(s, dir), payload, wireBinding(s, dir))
      .select(col("event_id"), col("user_id"), col("score").cast("double").as("score"))
  }

  val feedPipelineLikedSql: String =
    """WITH likes AS (SELECT l_suppkey AS u, l_partkey AS p FROM lineitem),
      |ucnt AS (SELECT u, COUNT(*) AS n FROM likes GROUP BY u),
      |raw AS (
      |  SELECT p, SUM(CAST(round(1.0/(5 + n), 10) AS DECIMAL(38,12))) AS raw
      |  FROM likes JOIN ucnt USING (u)
      |  WHERE u IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |  GROUP BY p
      |),
      |scored AS (
      |  SELECT p,
      |    (CAST(round(CAST(raw AS DOUBLE) / (SELECT CAST(MAX(raw) AS DOUBLE) FROM raw), 6) AS DOUBLE) + 0.0) AS score
      |  FROM raw
      |)
      |SELECT e.event_id, e.user_id, s.score
      |FROM events e JOIN scored s ON e.event_id = s.p
      |ORDER BY score DESC, event_id LIMIT 100""".stripMargin

  /** #17b custom_likedbylikers AS WIRE JSON (main.rs:1515): seed posts
    * via a point-lookup input, walk to their likers (curators, scored
    * f1 = 1/likers-of-seed), then to everything the curators liked —
    * the working set REPLACED by the two-hop result, max-normalized.
    */
  def feedPipelineBylikers(s: SparkSession, dir: String): DataFrame = {
    val payload =
      """{"blocks":[
        |  {"type":"input","inputType":"post","postUri":[10,11,12,13,14]},
        |  {"type":"input","inputType":"custom_likedbylikers","userScoreFunction":"f1","historySeconds":999999999},
        |  {"type":"sort","sortType":"score","sortDirection":"desc"},
        |  {"type":"limit","count":100}
        |]}""".stripMargin
    PipelineJson
      .run(eventsStore(s, dir), payload, wireBinding(s, dir))
      .select(col("event_id"), col("user_id"), col("score").cast("double").as("score"))
  }

  val feedPipelineBylikersSql: String =
    """WITH likes AS (SELECT l_suppkey AS u, l_partkey AS p FROM lineitem),
      |pcnt AS (SELECT p, COUNT(*) AS cnt FROM likes GROUP BY p),
      |seedlikes AS (
      |  SELECT l.u, l.p, c.cnt FROM likes l JOIN pcnt c USING (p)
      |  WHERE l.p IN (10, 11, 12, 13, 14)
      |),
      |curators AS (
      |  SELECT u, SUM(CAST(round(1.0/cnt, 10) AS DECIMAL(38,12))) AS cs
      |  FROM seedlikes GROUP BY u
      |),
      |raw AS (SELECT p, SUM(cs) AS raw FROM likes JOIN curators USING (u) GROUP BY p),
      |scored AS (
      |  SELECT p,
      |    (CAST(round(CAST(raw AS DOUBLE) / (SELECT CAST(MAX(raw) AS DOUBLE) FROM raw), 6) AS DOUBLE) + 0.0) AS score
      |  FROM raw
      |)
      |SELECT e.event_id, e.user_id, s.score
      |FROM events e JOIN scored s ON e.event_id = s.p
      |ORDER BY score DESC, event_id LIMIT 100""".stripMargin


  val keys: Seq[Key] = Seq(
    exact("input_window", inputWindow, inputWindowSql),
    exact("point_lookup", pointLookup, pointLookupSql),
    exact("filter_compare", filterCompare, filterCompareSql),
    exact("filter_in_set", filterInSet, filterInSetSql),
    exact("filter_language", filterLanguage, filterLanguageSql),
    exact("filter_null_props", filterNullProps, filterNullPropsSql),
    exact("input_tags", inputTags, inputTagsSql),
    exact("replace_root", replaceRoot, replaceRootSql),
    exact("replace_all_replies", replaceAllReplies, replaceAllRepliesSql),
    exact("sort_random", sortRandom, sortRandomSql),
    exact("filter_regex", filterRegex, filterRegexSql),
    exact("filter_where", filterWhere, filterWhereSql),
    exact("filter_where_rhai", filterWhereRhai, filterWhereRhaiSql),
    exact("dedup_exact", dedupExact, dedupExactSql),
    exact("dedup_keep_dupes", dedupKeepDupes, dedupKeepDupesSql),
    exact("score_hn", scoreHn, scoreHnSql),
    exact("score_normalize", scoreNormalize, scoreNormalizeSql),
    exact("sort_topk", sortTopk, sortTopkSql),
    exact("limit_per_user", limitPerUser, limitPerUserSql),
    exact("stash_subtract", stashSubtract, stashSubtractSql),
    exact("stash_pop_union", stashPopUnion, stashPopUnionSql),
    exact("replace_parent", replaceParent, replaceParentSql),
    exact("replace_replies", replaceReplies, replaceRepliesSql),
    exact("likes_weighted", likesWeighted, likesWeightedSql),
    exact("likes_bylikers", likesBylikers, likesBylikersSql),
    exact("trending_tags", trendingTags, trendingTagsSql),
    exact("trending_tags_named", trendingTagsNamed, trendingTagsNamedSql),
    exact("tag_variations", tagVariations, tagVariationsSql),
    exact("replace_record", replaceRecord, replaceRecordSql),
    exact("quote_posts", quotePosts, quotePostsSql),
    exact("feed_pipeline", feedPipeline, feedPipelineSql),
    exact("feed_pipeline_json", feedPipelineJson, feedPipelineSql),
    exact("feed_pipeline_stash", feedPipelineStash, feedPipelineStashSql),
    exact("feed_pipeline_wire", feedPipelineWire, feedPipelineWireSql),
    exact("feed_pipeline_quotes", feedPipelineQuotes, feedPipelineQuotesSql),
    exact("feed_pipeline_tags", feedPipelineTags, feedPipelineTagsSql),
    exact("feed_pipeline_liked", feedPipelineLiked, feedPipelineLikedSql),
    exact("feed_pipeline_bylikers", feedPipelineBylikers, feedPipelineBylikersSql),
    exact("feed_pipeline_feedinput", feedPipelineFeedinput, feedPipelineFeedinputSql))
}
