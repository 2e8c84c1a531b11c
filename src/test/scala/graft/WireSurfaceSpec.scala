package graft

import graft.pipeline.{Binding, FeedPipeline, PipelineJson}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One synthetic post row carrying every logical field the reference's
  * wire format can address (PostV1, main.rs:4215).
  */
case class WirePost(
    id: Long,
    author: Long,
    ts: java.sql.Timestamp,
    likes: Double,
    reposts: Int,
    replies: Int,
    imgs: Int,
    lang: String,
    record: String, // embed kind-prefixed ref ("post:3" / "feed:x" / "")
    video: Option[String],
    is_reply: Boolean,
    labels: Seq[String],
    tags: Seq[String],
    parent: Option[Long],
    root: Option[Long],
    record_id: Option[Long])

/** The wire subjects and block variants the oracle-checked catalog
  * queries don't reach (item / embed / videos / labels / image_count
  * filters, did input, non_duplicates, count-sort variants, reply
  * inversions) — pinned against the reference's semantics
  * (main.rs:1798-1980, 2229-2306, 2386-2508) on a synthetic store
  * where expected outputs are enumerable by hand.
  */
class WireSurfaceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(cores = 4, shufflePartitions = 4)

  val NowMs: Long = 1700000000000L
  private def tsAt(minsAgo: Long) = new java.sql.Timestamp(NowMs - minsAgo * 60000L)

  lazy val store: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      //       id author ts         likes reposts replies imgs lang  record    video        is_reply labels           tags              parent   root     record_id
      WirePost(1L, 10L, tsAt(10), 50.0, 7, 1, 0, "en", "", None, false, Nil, Seq("spark"), None, None, None),
      WirePost(2L, 10L, tsAt(20), 5.0, 2, 9, 1, "de", "post:3", Some("v.mp4"), false, Seq("Spoiler"), Seq("Scala"), None, None, Some(3L)),
      WirePost(3L, 11L, tsAt(30), 30.0, 9, 4, 2, "en", "", None, true, Nil, Nil, Some(1L), Some(1L), None),
      WirePost(4L, 11L, tsAt(40), 8.0, 1, 2, 3, "fr", "feed:xyz", None, true, Seq("nsfw", "spoiler"), Seq("spark", "sql"), Some(3L), Some(1L), None),
      WirePost(5L, 12L, tsAt(50), 90.0, 4, 0, 0, "en", "post:1", Some("w.mp4"), false, Nil, Nil, None, None, Some(1L))
    ).toDF()
  }

  lazy val memberList: org.apache.spark.sql.DataFrame = {
    val s = spark
    import s.implicits._
    Seq(10L, 12L).toDF("member")
  }

  lazy val binding: Binding = Binding(
    idCol = "id",
    authorCol = "author",
    tsCol = "ts",
    valueCol = "likes",
    nowEpochMs = NowMs,
    regexTargets = Map("text" -> Seq("lang")),
    whereFields = Map("likes" -> col("likes"), "lang" -> col("lang"), "tags" -> col("tags")),
    whereArrayFields = Set("tags"),
    fieldCols = Map(
      "repost_count" -> col("reposts"),
      "reply_count" -> col("replies"),
      "image_count" -> col("imgs"),
      "language" -> col("lang"),
      "record" -> col("record"),
      "video" -> col("video"),
      "is_reply" -> col("is_reply")),
    labelsCol = Some(col("labels")),
    tagsCol = Some(col("tags")),
    refCols = Map("parent" -> "parent", "root" -> "root", "record" -> "record_id"),
    store = Some(store),
    archive = Some(store.filter(col("id") === 5L)),
    lists = Map("at://lists/team" -> memberList))

  private def runWire(blocksJson: String): Seq[Long] = {
    val df = FeedPipeline.compile(
      store,
      PipelineJson.parse(s"""{"blocks":[$blocksJson]}""", binding))
    df.select(col("id")).collect().map(_.getLong(0)).toSeq
  }

  test("count filters use reference remove-complement semantics for keep AND remove") {
    // remove like_count < 30 → retain likes >= 30 (main.rs:1867-1884)
    assert(runWire("""{"type":"remove","subject":"like_count","operator":"<","value":30}""").sorted
      == Seq(1L, 3L, 5L))
    // keep dispatches identically for count subjects in the reference
    assert(runWire("""{"type":"keep","subject":"like_count","operator":"<","value":30}""").sorted
      == Seq(1L, 3L, 5L))
    // operator > removes the upper tail; == removes equals
    assert(runWire("""{"type":"remove","subject":"repost_count","operator":">","value":4}""").sorted
      == Seq(2L, 4L, 5L))
    assert(runWire("""{"type":"remove","subject":"reply_count","operator":"==","value":9}""").sorted
      == Seq(1L, 3L, 4L, 5L))
  }

  test("item filter removes the named kind; has_labels branches on the labels array") {
    // value=reply removes replies (retains non-replies? no: main.rs:1810
    // retains !is_reply ... 'reply' removes replies)
    assert(runWire("""{"type":"remove","subject":"item","value":"reply"}""").sorted == Seq(1L, 2L, 5L))
    // value=post removes plain posts
    assert(runWire("""{"type":"remove","subject":"item","value":"post"}""").sorted == Seq(3L, 4L))
    // has_labels removes posts CARRYING labels (retain empty)
    assert(runWire("""{"type":"remove","subject":"item","value":"has_labels"}""").sorted == Seq(1L, 3L, 5L))
    assert(runWire("""{"type":"remove","subject":"item","value":"has_no_labels"}""").sorted == Seq(2L, 4L))
  }

  test("embed filter removes by record kind; videos respects keep/remove polarity") {
    // none → retain rows WITH an embed
    assert(runWire("""{"type":"remove","subject":"embed","value":"none"}""").sorted == Seq(2L, 4L, 5L))
    // feed → retain rows whose embed is not a feed
    assert(runWire("""{"type":"remove","subject":"embed","value":"feed"}""").sorted == Seq(1L, 2L, 3L, 5L))
    assert(runWire("""{"type":"keep","subject":"videos"}""").sorted == Seq(2L, 5L))
    assert(runWire("""{"type":"remove","subject":"videos"}""").sorted == Seq(1L, 3L, 4L))
  }

  test("labels filter removes any post carrying a named label, case-folded BOTH sides") {
    assert(runWire("""{"type":"remove","subject":"labels","labels":["NSFW"]}""").sorted
      == Seq(1L, 2L, 3L, 5L)) // query side lowercased like the reference's index
    // post 2 carries "Spoiler" (mixed-case store value) — must still match
    assert(runWire("""{"type":"remove","subject":"labels","labels":["spoiler","nsfw"]}""").sorted
      == Seq(1L, 3L, 5L))
  }

  test("image_count buckets remove 0 / 1 / 2+ (reference polarity)") {
    assert(runWire("""{"type":"remove","subject":"image_count","value":"0"}""").sorted == Seq(2L, 3L, 4L))
    assert(runWire("""{"type":"remove","subject":"image_count","value":"1"}""").sorted == Seq(1L, 3L, 4L, 5L))
    assert(runWire("""{"type":"remove","subject":"image_count","value":"2+"}""").sorted == Seq(1L, 2L, 5L))
  }

  test("language operator encodes polarity: == removes, != keeps-only") {
    assert(runWire("""{"type":"keep","subject":"language","operator":"==","language":"en"}""").sorted
      == Seq(2L, 4L))
    assert(runWire("""{"type":"keep","subject":"language","operator":"!=","language":"en"}""").sorted
      == Seq(1L, 3L, 5L))
  }

  test("did input narrows to one author; post input is a point lookup") {
    assert(runWire("""{"type":"input","inputType":"did","did":11}""").sorted == Seq(3L, 4L))
    assert(runWire("""{"type":"input","inputType":"post","postUri":[2,5]}""").sorted == Seq(2L, 5L))
  }

  test("tags input matches any tag, case-folded both sides like the reference index") {
    // post 2's tag is stored as "Scala" — the fold must hit it anyway
    assert(runWire("""{"type":"input","inputType":"tags","tags":["SQL","scala"]}""").sorted
      == Seq(2L, 4L))
  }

  test("list subject keeps or removes by author membership") {
    // authors: 1,2→10; 3,4→11; 5→12; members = {10, 12}
    assert(runWire("""{"type":"keep","subject":"list","listUri":"at://lists/team"}""").sorted
      == Seq(1L, 2L, 5L))
    assert(runWire("""{"type":"remove","subject":"list","listUri":"at://lists/team"}""").sorted
      == Seq(3L, 4L))
  }

  test("likes sort ranks by the resolved like_count field") {
    // likes: 5:90, 1:50, 3:30, 4:8, 2:5
    assert(runWire("""{"type":"sort","sortType":"likes","sortDirection":"desc"}""")
      == Seq(5L, 1L, 3L, 4L, 2L))
  }

  test("score normalization multiplier scales the normalized contribution") {
    val out = PipelineJson.run(
      store,
      """{"blocks":[
        |  {"type":"input","inputType":"firehose","firehoseSeconds":86400},
        |  {"type":"score","scoreType":"add","from":"like_count","normalize":true,"scoreNormalizationMultiplier":"10"}
        |]}""".stripMargin,
      binding)
    val scores = out.select(col("id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(scores(5L) == 10.0) // max likes → 1.0 × 10
    assert(math.abs(scores(1L) - 50.0 / 90.0 * 10) < 1e-6)
  }

  test("count sorts rank by the bound field with id tie-break") {
    assert(runWire("""{"type":"sort","sortType":"repost_count","sortDirection":"desc"}""")
      == Seq(3L, 1L, 5L, 2L, 4L))
    assert(runWire("""{"type":"sort","sortType":"reply_count","sortDirection":"asc"}""")
      == Seq(5L, 1L, 4L, 3L, 2L))
  }

  test("random sort is a deterministic keyed shuffle (stable across runs)") {
    val a = runWire("""{"type":"sort","sortType":"random","seed":"7"}""")
    val b = runWire("""{"type":"sort","sortType":"random","seed":"7"}""")
    val c = runWire("""{"type":"sort","sortType":"random","seed":"8"}""")
    assert(a == b)
    assert(a.sorted == c.sorted) // same rows, (almost surely) different order
  }

  test("replace inversions: direct_replies / all_replies / quote_posts") {
    // Pins the inversions' INTENDED semantics, not literal reference
    // output: the reference's own inversion results are clobbered to an
    // empty vec by `posts = new_posts;` (main.rs:2490) — a documented
    // deliberate divergence (see ReplaceInversion's scaladoc)
    // working set {1} → children whose parent=1: {3}
    assert(runWire(
      """{"type":"input","inputType":"post","postUri":[1]},
        |{"type":"replace","with":"direct_replies"}""".stripMargin).sorted == Seq(3L))
    // all_replies walks the root ref: {3, 4}
    assert(runWire(
      """{"type":"input","inputType":"post","postUri":[1]},
        |{"type":"replace","with":"all_replies"}""".stripMargin).sorted == Seq(3L, 4L))
    // quote_posts: who quoted 1 → {5}
    assert(runWire(
      """{"type":"input","inputType":"post","postUri":[1]},
        |{"type":"replace","with":"quote_posts"}""".stripMargin).sorted == Seq(5L))
  }

  test("replace record keeps null refs only with keepItemsWithMissingTarget") {
    assert(runWire("""{"type":"replace","with":"record","keepItemsWithMissingTarget":true}""").sorted
      == Seq(1L, 1L, 3L, 3L, 4L)) // 2→3, 5→1 replaced; 1,3,4 kept
    assert(runWire("""{"type":"replace","with":"record","keepItemsWithMissingTarget":false}""").sorted
      == Seq(1L, 3L))
  }

  test("replace preserves kept originals' earned score; replaced rows restart at 0") {
    val out = PipelineJson.run(
      store,
      """{"blocks":[
        |  {"type":"input","inputType":"post","postUri":[1,2,5]},
        |  {"type":"score","scoreType":"add","from":"like_count","normalize":false},
        |  {"type":"replace","with":"record","keepItemsWithMissingTarget":true},
        |  {"type":"sort","sortType":"score","sortDirection":"desc"}
        |]}""".stripMargin,
      binding)
    val rows = out.select(col("id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // 1 has no record ref → kept WITH its score (likes=50); 2→3 and
    // 5→1 are replacements → score 0. Sort must rank the kept original
    // first (the global-map semantics the reference implements).
    assert(rows.head == (1L, 50.0), s"got $rows")
    assert(rows.tail.map(_._2).forall(_ == 0.0))
    assert(rows.map(_._1).sorted == Seq(1L, 1L, 3L))
  }

  test("duplicates filter keeps the highest-scored variant deterministically") {
    val out = PipelineJson.run(
      store,
      """{"blocks":[
        |  {"type":"input","inputType":"post","postUri":[2]},
        |  {"type":"score","scoreType":"add","from":"like_count","normalize":false},
        |  {"type":"input","inputType":"post","postUri":[2,4]},
        |  {"type":"remove","subject":"duplicates"}
        |]}""".stripMargin,
      binding)
    val rows = out.select(col("id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    // id 2 exists scored (5.0) and zero-filled — the scored one survives
    assert(rows(2L) == 5.0)
    assert(rows(4L) == 0.0)
  }

  test("null label arrays mean 'no labels' for inverted predicates") {
    val nulled = store.withColumn(
      "labels",
      when(col("id") === 1L, lit(null).cast("array<string>")).otherwise(col("labels")))
    def run(blocks: String): Seq[Long] =
      FeedPipeline.compile(nulled, PipelineJson.parse(s"""{"blocks":[$blocks]}""", binding))
        .select(col("id")).collect().map(_.getLong(0)).toSeq.sorted
    // unlabeled post 1 must survive a labels-remove...
    assert(run("""{"type":"remove","subject":"labels","labels":["nsfw","spoiler"]}""")
      == Seq(1L, 3L, 5L))
    // ...and count as label-free for the item subject
    assert(run("""{"type":"remove","subject":"item","value":"has_labels"}""") == Seq(1L, 3L, 5L))
    assert(run("""{"type":"remove","subject":"item","value":"has_no_labels"}""") == Seq(2L, 4L))
  }

  test("non_duplicates keeps only re-seen keys") {
    val s = spark
    import s.implicits._
    val doubled = store.unionByName(store.filter(col("id") === 2L))
    val ids = FeedPipeline
      .compile(doubled, PipelineJson.parse(
        """{"blocks":[{"type":"remove","subject":"non_duplicates"}]}""", binding))
      .select(col("id")).as[Long].collect().toSeq
    assert(ids == Seq(2L))
  }

  test("where scripts: Rhai string methods compile to native predicates") {
    // langs: 1=en 2=de 3=en 4=fr 5=en
    assert(runWire("""{"type":"where","value":"lang.contains(\"e\")"}""").sorted
      == Seq(1L, 2L, 3L, 5L))
    assert(runWire("""{"type":"where","value":"lang.starts_with(\"e\")"}""").sorted
      == Seq(1L, 3L, 5L))
    assert(runWire("""{"type":"where","value":"lang.ends_with(\"n\")"}""").sorted
      == Seq(1L, 3L, 5L))
    assert(runWire("""{"type":"where","value":"lang.len() == 2"}""").size == 5)
    assert(runWire("""{"type":"where","value":"lang.to_upper() == \"EN\""}""").sorted
      == Seq(1L, 3L, 5L))
    assert(runWire("""{"type":"where","value":"lang.to_lower().contains(\"E\") == false"}""").size == 5)
    // Rhai index_of: 0-based, −1 when absent
    assert(runWire("""{"type":"where","value":"lang.index_of(\"n\") == 1"}""").sorted
      == Seq(1L, 3L, 5L))
    assert(runWire("""{"type":"where","value":"lang.index_of(\"z\") == 0 - 1"}""").size == 5)
  }

  test("where scripts: `in` is array membership on array fields, substring otherwise") {
    // tags: 1=[spark] 2=[Scala] 4=[spark, sql] — exact, case-sensitive membership
    assert(runWire("""{"type":"where","value":"\"spark\" in tags"}""").sorted == Seq(1L, 4L))
    assert(runWire("""{"type":"where","value":"\"Scala\" in tags"}""") == Seq(2L))
    // substring containment on a string field
    assert(runWire("""{"type":"where","value":"\"e\" in lang"}""").sorted
      == Seq(1L, 2L, 3L, 5L))
  }

  test("where scripts: if-expressions and the ?: shorthand") {
    // if c { a } else { b } as a VALUE (Rhai if-expression)
    assert(runWire(
      """{"type":"where","value":"if lang == \"en\" { likes > 40 } else { likes > 6 }"}""")
      .sorted == Seq(1L, 4L, 5L))
    // ternary shorthand, nested inside &&
    assert(runWire(
      """{"type":"where","value":"likes > 40 ? true : false"}""").sorted == Seq(1L, 5L))
    assert(runWire(
      """{"type":"where","value":"lang == \"de\" && (likes > 100 ? false : true)"}""")
      == Seq(2L))
    // else-if chain
    assert(runWire(
      """{"type":"where","value":"if lang == \"de\" { true } else if likes > 80 { true } else { false }"}""")
      .sorted == Seq(2L, 5L))
  }

  test("where scripts: unsupported methods still fail loudly") {
    intercept[IllegalArgumentException](
      runWire("""{"type":"where","value":"lang.sub_string(0, 1) == \"e\""}"""))
    intercept[IllegalArgumentException](
      runWire("""{"type":"where","value":"if likes > 1 { true }"}"""))
  }

  test("where scripts see the running score (0 before any score block)") {
    // before scoring: score is the constant 0, so score >= 0 keeps all
    assert(runWire("""{"type":"where","value":"score >= 0"}""").size == 5)
    assert(runWire("""{"type":"where","value":"score > 0"}""").isEmpty)
    // after a score block the same script reads the real column
    val out = PipelineJson.run(
      store,
      """{"blocks":[
        |  {"type":"input","inputType":"firehose","firehoseSeconds":86400},
        |  {"type":"score","scoreType":"add","from":"like_count","normalize":true},
        |  {"type":"keep","subject":"where","value":"score > 0.5"}
        |]}""".stripMargin,
      binding)
    val ids = out.select(col("id")).collect().map(_.getLong(0)).toSeq.sorted
    // normalized like_count: 90 is the max → 1.0; 50/90 ≈ 0.56 also > 0.5
    assert(ids == Seq(1L, 5L))
  }

  test("archived input swaps in the archive relation inside run()") {
    val out = PipelineJson.run(
      store.filter(col("id") < 3L),
      """{"blocks":[
        |  {"type":"input","inputType":"firehose","firehoseSeconds":86400},
        |  {"type":"input","inputType":"archived"},
        |  {"type":"remove","subject":"duplicates"}
        |]}""".stripMargin,
      binding)
    assert(out.select(col("id")).collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 5L))
  }

  test("feed input resolves through Binding.feeds as a store semi join") {
    // the resolved skeleton names posts 2, 5 and one id the store does
    // not hold (99) — the reference's all_posts_by_id containment check
    // (main.rs:1734) keeps only the held posts
    val s = spark
    import s.implicits._
    val skeleton = Seq(2L, 5L, 99L).toDF("post_id")
    val withFeed = binding.copy(feeds = Map("at://feeds/hot" -> skeleton))
    val out = PipelineJson.run(
      store,
      """{"blocks":[
        |  {"type":"input","inputType":"feed","feedUri":"at://feeds/hot"}
        |]}""".stripMargin,
      withFeed)
    assert(out.select(col("id")).collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 5L))
  }

  test("list builder: profile flags, list removal, dedup, regex targets, limit") {
    val s = spark
    import s.implicits._
    val profiles = Seq(
      //  did  name      handle          description        has_avatar has_banner
      (10L, "Alice", "alice.example", "spark posts daily", true, false),
      (11L, "Bob", "bob.example", "databases", false, true),
      (12L, "Carol", "carol.test", "spark and flink", false, false),
      (13L, "Dave", "dave.example", "cooking", true, true)
    ).toDF("did", "name", "handle", "description", "has_avatar", "has_banner")
    val b = Binding(
      idCol = "did",
      authorCol = "did",
      tsCol = "did",
      valueCol = "did",
      nowEpochMs = 0L,
      regexTargets = Map(
        "name" -> Seq("name"),
        "handle" -> Seq("handle"),
        "description" -> Seq("description"),
        "name|description" -> Seq("name", "description")),
      whereFields = Map.empty,
      fieldCols = Map("has_avatar" -> col("has_avatar"), "has_banner" -> col("has_banner")),
      lists = Map("at://lists/blocked" -> Seq(13L).toDF("member")))
    def run(blocks: String): Seq[Long] =
      PipelineJson
        .runListBuilder(profiles, s"""{"blocks":[$blocks]}""", b)
        .select(col("did")).collect().map(_.getLong(0)).sorted.toSeq

    val network = """{"type":"input","inputType":"network"}"""
    // remove has_avatar drops avatar'd profiles (main.rs:2769)
    assert(run(s"""$network,{"type":"remove","subject":"profile","value":"has_avatar"}""")
      == Seq(11L, 12L))
    assert(run(s"""$network,{"type":"remove","subject":"profile","value":"has_no_banner"}""")
      == Seq(11L, 13L))
    // remove by list membership
    assert(run(s"""$network,{"type":"remove","subject":"list","listUri":"at://lists/blocked"}""")
      == Seq(10L, 11L, 12L))
    // double input + dedup collapses to one row per did
    assert(run(s"""$network,$network,{"type":"remove","subject":"duplicates"}""")
      == Seq(10L, 11L, 12L, 13L))
    // regex keeps matches (union target), invert flips
    assert(run(s"""$network,{"type":"regex","target":"name|description","value":"spark|bob"}""")
      == Seq(10L, 11L, 12L)) // 10,12 via description, 11 via case-folded name
    assert(run(s"""$network,{"type":"regex","target":"handle","value":"example$$","invert":true}""")
      == Seq(12L))
    // sort is the reference's no-op; limit truncates
    assert(run(s"""$network,{"type":"sort","sortType":"created_at"},{"type":"limit","count":2}""").size == 2)
    // errors stay loud
    intercept[IllegalArgumentException](run("""{"type":"input","inputType":"posts"}"""))
    intercept[IllegalArgumentException](run(s"""$network,{"type":"remove","subject":"language"}"""))
  }

  test("list builder wire variants: network-only, 3-way regex unions, sort no-op") {
    // the rest of the reference's list surface (main.rs:2678-2900):
    // a bare network input, the name|handle|description 3-way regex
    // union (with invert = NOT(any match), De Morgan like the
    // reference's retain closures), caseSensitive + default-target
    // regex knobs, the defaulted remove value, and the sort block as a
    // declared no-op for EVERY sortType/direction (TODO stub,
    // main.rs:2864)
    val s = spark
    import s.implicits._
    val profiles = Seq(
      (10L, "Alice", "alice.example", "spark posts daily"),
      (11L, "Bob", "bob.example", "databases"),
      (12L, "Carol", "carol.test", "spark and flink"),
      (13L, "SPARKY", "dave.example", "cooking")
    ).toDF("did", "name", "handle", "description")
      .withColumn("has_avatar", col("did") === 10L)
      .withColumn("has_banner", col("did") === 11L)
    val b = Binding(
      idCol = "did", authorCol = "did", tsCol = "did", valueCol = "did", nowEpochMs = 0L,
      regexTargets = Map(
        "name" -> Seq("name"),
        "name|handle|description" -> Seq("name", "handle", "description")),
      whereFields = Map.empty,
      fieldCols = Map("has_avatar" -> col("has_avatar"), "has_banner" -> col("has_banner")),
      lists = Map.empty)
    def run(blocks: String): Seq[Long] =
      PipelineJson
        .runListBuilder(profiles, s"""{"blocks":[$blocks]}""", b)
        .select(col("did")).collect().map(_.getLong(0)).sorted.toSeq

    val network = """{"type":"input","inputType":"network"}"""
    // network-only payload: the whole profile store, nothing else
    assert(run(network) == Seq(10L, 11L, 12L, 13L))
    // 3-way union: spark matches 10 (description), 12 (description),
    // 13 (name, case-folded); carol matches 12 (handle)
    assert(run(s"""$network,{"type":"regex","target":"name|handle|description","value":"spark|carol"}""")
      == Seq(10L, 12L, 13L))
    // inverted 3-way union keeps only rows matching NO target
    assert(run(s"""$network,{"type":"regex","target":"name|handle|description","value":"spark|carol","invert":true}""")
      == Seq(11L))
    // caseSensitive drops the (?i) default: SPARKY no longer matches 'spark'
    assert(run(s"""$network,{"type":"regex","target":"name|handle|description","value":"spark","caseSensitive":true}""")
      == Seq(10L, 12L))
    // regex target defaults to "name" (main.rs:2793)
    assert(run(s"""$network,{"type":"regex","value":"ali"}""") == Seq(10L))
    // remove value defaults to has_avatar (main.rs:2758)
    assert(run(s"""$network,{"type":"remove","subject":"profile"}""") == Seq(11L, 12L, 13L))
    // sort is a no-op for every sortType/direction the reference stubs:
    // identical result WITH and WITHOUT the block
    val base = run(s"""$network,{"type":"regex","value":"a"}""")
    for (sort <- Seq(
        """{"type":"sort","sortType":"created_at"}""",
        """{"type":"sort","sortType":"hn","gravity":"1.8"}""",
        """{"type":"sort","sortType":"likes","sortDirection":"asc"}"""))
      assert(run(s"""$network,$sort,{"type":"regex","value":"a"}""") == base,
        s"sort block was not a no-op: $sort")
  }

  test("unresolved feedUri keeps a clear error, unknown blocks still throw") {
    val e = intercept[IllegalArgumentException](
      runWire("""{"type":"input","inputType":"feed","feedUri":"at://x"}"""))
    assert(e.getMessage.contains("unbound feedUri"))
    intercept[IllegalArgumentException](runWire("""{"type":"frobnicate"}"""))
    intercept[IllegalArgumentException](
      runWire("""{"type":"input","inputType":"list","listUri":"at://unbound"}"""))
  }

  /** The like graph of the two custom_* inputs over the store's posts.
    * Members 10 and 12 like 1, 2, 3 and 1; non-member 11 likes 1 and 4.
    * The null rows are likes that are not edges: they must move no
    * liker's count, no seed's count and no max. Counted, they would
    * change the expected scores below.
    */
  private lazy val likedBinding: Binding = {
    val s = spark
    import s.implicits._
    val edges = Seq(10L -> 1L, 10L -> 2L, 10L -> 3L, 12L -> 1L, 11L -> 1L, 11L -> 4L)
      .map { case (u, p) => (Option(u), Option(p)) }
    val notEdges = Seq[(Option[Long], Option[Long])](
      (Some(10L), None), (Some(10L), None), (Some(11L), None), (Some(12L), None),
      (None, Some(1L)), (None, Some(2L)), (None, None))
    binding.copy(likes = Some((edges ++ notEdges).toDF("liker", "post")))
  }

  private def runScored(blocksJson: String): Seq[(Long, Double)] =
    PipelineJson.run(store, s"""{"blocks":[$blocksJson]}""", likedBinding)
      .select(col("id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sortBy(_._1)

  test("custom_likedweighted: members' likes only, 1/(base + n) per liker, max-normalized") {
    val input = """{"type":"input","inputType":"custom_likedweighted","listUri":"at://lists/team""""
    // base 0: w(10) = 1/3, w(12) = 1; raw 1 = 4/3, raw 2 = raw 3 = 1/3.
    // Non-member 11's likes score nothing, so post 4 is absent.
    assert(runScored(s"""$input}""") == Seq(1L -> 1.0, 2L -> 0.25, 3L -> 0.25))
    // base 2: w(10) = 1/5, w(12) = 1/3; raw 1 = 8/15, raw 2 = 1/5 → 0.375,
    // times the multiplier. The 25-minute history window drops post 3
    // (30 minutes old) from the store, not from the max.
    assert(runScored(
      s"""$input,"baseLikeCount":2,"scoreNormalizationMultiplier":10,"historySeconds":1500}""")
      == Seq(1L -> 10.0, 2L -> 3.75))
  }

  test("custom_likedbylikers: f1 of each seed's liker count, curators' likes summed, max-normalized") {
    val seeded = """{"type":"input","inputType":"post","postUri":[1,2]}"""
    val input = """{"type":"input","inputType":"custom_likedbylikers","historySeconds":999999999"""
    // seed 1 has 3 likers (f1 = 1/3), seed 2 has 1 (f1 = 1). Curators:
    // 10 = 4/3, 11 = 1/3, 12 = 1/3. Raw: 1 ≈ 2, 2 = 3 ≈ 4/3, 4 ≈ 1/3
    // (each weight is rounded to 10 places before it is summed).
    assert(runScored(s"""$seeded,$input}""") ==
      Seq(1L -> 1.0, 2L -> 0.666667, 3L -> 0.666667, 4L -> 0.166667))
    assert(runScored(s"""$seeded,$input,"scoreNormalizationMultiplier":2}""") ==
      Seq(1L -> 2.0, 2L -> 1.333333, 3L -> 1.333333, 4L -> 0.333333))
  }
}
