package graft.pipeline

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** JSON front-end for the pipeline compiler: accepts the reference
  * engine's block payload shape (main.rs:1243 `payload["blocks"]` — the
  * SkyFeed builder wire format) and compiles it onto a relation. A user
  * of the reference can POST the same JSON; here it becomes ONE Catalyst
  * plan instead of an interpreted block loop.
  *
  * Wire surface parsed (reference evidence):
  *  - input: firehose / list / did / tags / labels / post / archived
  *    (main.rs:1410, 1427, 1606, 1669, 1780, 1786, 1792). `feed`
  *    (main.rs:1704) is an external HTTP fetch — permanently out of
  *    scope for a batch engine, rejected with a clear error.
  *  - keep/remove subjects: item, image_count, reply_count,
  *    repost_count, like_count, language, list, duplicates,
  *    non_duplicates, embed, labels, where, videos (main.rs:1798-1980),
  *    plus a generic column-compare extension for any other subject.
  *  - regex (main.rs:1982), score add from like/repost/reply counts /
  *    hn / created_at / value script (main.rs:2151-2227), sort by
  *    created_at / hn / likes / repost_count / reply_count / random /
  *    score (main.rs:2229-2306), stash (main.rs:2308), limit +
  *    posts_per_user (main.rs:2342), replace parent / root / record /
  *    direct_replies / all_replies / quote_posts (main.rs:2386-2508).
  *
  * `Binding` maps the reference's logical post fields onto the actual
  * relation's columns. The core identity/time/engagement columns are
  * required; everything else is optional and only needed when the
  * payload uses the corresponding block:
  *  - `fieldCols`: logical field name → Column for the count/flag
  *    subjects (like_count, repost_count, reply_count, image_count,
  *    language, record, video, is_reply). like_count falls back to
  *    `valueCol`; anything else unmapped falls back to a column of the
  *    same name.
  *  - `lists`: listUri → one-column member-key relation (the
  *    reference's fetch_list result as a broadcastable set).
  *  - `tagsCol` / `labelsCol`: array<string> columns for tags/labels
  *    inputs and label subjects.
  *  - `refCols`: "parent"/"root"/"record" → nullable ref column names
  *    on the store (the thread/quote structure).
  *  - `store`: the full post store replace blocks look targets up in.
  *  - `archive`: the archived-posts relation the `archived` input pulls.
  */
case class Binding(
    idCol: String,
    authorCol: String,
    tsCol: String,
    valueCol: String,
    nowEpochMs: Long,
    regexTargets: Map[String, Seq[String]],
    whereFields: Map[String, Column],
    /** Names in `whereFields` bound to ARRAY columns, so a script's
      * `x in field` compiles to array_contains instead of substring
      * containment (both are Rhai `in` meanings).
      */
    whereArrayFields: Set[String] = Set.empty,
    fieldCols: Map[String, Column] = Map.empty,
    lists: Map[String, DataFrame] = Map.empty,
    tagsCol: Option[Column] = None,
    labelsCol: Option[Column] = None,
    refCols: Map[String, String] = Map.empty,
    store: Option[DataFrame] = None,
    archive: Option[DataFrame] = None,
    /** Likes bipartite graph for the custom_liked* inputs: first column
      * = liker user key, second = liked post key (the reference's
      * likes_user_to_posts / likes_post_to_users RoaringBitmaps as one
      * edge relation). A row with a null liker or a null post is not an
      * edge and is ignored.
      */
    likes: Option[DataFrame] = None,
    /** Resolved feed skeletons for the `feed` input (main.rs:1704):
      * feedUri → one-column relation of the post ids the external feed
      * served. The reference fetches these over HTTP inside the query;
      * here the fetch is an ingestion concern — whatever fetcher the
      * deployment uses lands the skeleton as a relation, and the block
      * itself is a pure semi join against the store (the reference's
      * all_posts_by_id containment check). Unresolved URIs still fail
      * with a clear error.
      */
    feeds: Map[String, DataFrame] = Map.empty)

object PipelineJson {
  private val mapper = new ObjectMapper

  /** One block node of a payload, compiled once by [[program]]: `kind`
    * is the node's type, `op` what the runners need to know about it,
    * `blocks` its working-set transforms, and `scored` whether a score
    * block or a custom_* input ran before it. Blocks downstream of
    * scoring rank by score; before any scoring they rank by recency
    * (the reference's "current order" is its insertion order —
    * newest-first recency is the deterministic distributed equivalent).
    */
  private final case class Step(kind: String, op: Op, blocks: Seq[Block], scored: Boolean) {
    def through(df: DataFrame): DataFrame = blocks.foldLeft(df)((d, blk) => blk(d))
  }

  private sealed trait Op { def scores: Boolean = false }

  private object Op {
    /** An input: a fresh pull of the base, appended to the working set. */
    final case class Pull(inputType: String) extends Op
    /** A custom_* like-graph input: it REPLACES the working set
      * (posts.clear(), main.rs:1504/1586); likedbylikers is seeded by
      * the current set, likedweighted reads the base.
      */
    final case class Seed(inputType: String) extends Op {
      override def scores = true
      def seeded: Boolean = inputType == "custom_likedbylikers"
    }
    final case class Stash(key: String) extends Op
    final case class Pop(key: String) extends Op
    final case class Subtract(key: String) extends Op
    /** A per-row filter or map: runs unchanged on a stream. */
    case object Row extends Op
    case object Dedup extends Op
    final case class Score(normalize: Boolean) extends Op { override def scores = true }
    final case class Sort(sortType: String, desc: Boolean, gravity: Double) extends Op
    final case class Limit(count: Int) extends Op
    /** A block over the whole working set (replace, non_duplicates). */
    case object Whole extends Op
  }

  /** The one reader of the wire format: each node of the payload's
    * `blocks` array becomes a Step, compiled by `compile` with the
    * program's scored flag at that node. A score block and a custom_*
    * input set the flag, and nothing resets it.
    */
  private def program(payload: String)(compile: (JsonNode, Boolean) => (Op, Seq[Block])): Vector[Step] = {
    val nodes = mapper.readTree(payload).path("blocks")
    require(nodes.isArray, "payload must carry a blocks array")
    nodes.elements().asScala.foldLeft(Vector.empty[Step]) { (steps, n) =>
      val scored = steps.lastOption.exists(s => s.scored || s.op.scores)
      val (op, blocks) = compile(n, scored)
      steps :+ Step(str(n, "type", ""), op, blocks, scored)
    }
  }

  /** Full program semantics over a base relation — the reference's
    * whole-payload execution model (main.rs:1398-2508): input blocks
    * APPEND a fresh window of the store to the working set, stash
    * blocks move the working set into named slots and back
    * (stash / pop=union / subtract=anti-join, main.rs:2308), everything
    * else transforms the working set. Still fully lazy: the result is
    * one composed logical plan over however many scan branches the
    * program pulled in.
    *
    * Deliberate divergence: the reference truncates every feed to 500
    * AFTER the pipeline in "current order" (main.rs:2511) — its
    * in-memory insertion order. A distributed frame has no insertion
    * order, so an implicit cap would select nondeterministic rows;
    * express the cap as an explicit trailing sort + limit block (every
    * real SkyFeed payload ends with one anyway).
    */
  def run(base: DataFrame, payload: String, b: Binding): DataFrame =
    walk(base, program(payload)(compileBlock(_, b, _)), b.idCol)

  /** Folds a program over `base`. Once the program has scored, every
    * frame that enters the working set — a pulled input, a popped
    * stash, the set emptied by a stash, a replace inversion's store
    * rows — carries `score`, 0.0 where it has none: the reference's
    * score map default, and the same approximation ReplaceWith makes
    * for replaced rows.
    */
  private def walk(base: DataFrame, steps: Seq[Step], idCol: String): DataFrame = {
    val slots = scala.collection.mutable.Map[String, DataFrame]()
    def slot(key: String) = slots.getOrElse(key, throw new IllegalArgumentException(s"no stash '$key'"))
    steps.foldLeft(Option.empty[DataFrame]) { (working, s) =>
      def enter(df: DataFrame) =
        if (s.scored && !df.columns.contains("score")) df.withColumn("score", lit(0.0)) else df
      def append(df: DataFrame) = Some(working.fold(enter(df))(_.unionByName(enter(df))))
      s.op match {
        case Op.Pull(_) => append(s.through(base))
        case seed: Op.Seed =>
          val src =
            if (!seed.seeded) base
            else working.getOrElse(throw new IllegalArgumentException(
              s"${seed.inputType} needs a seeded working set (add an input block before it)"))
          Some(s.through(src))
        case Op.Stash(key) =>
          slots(key) = working.getOrElse(base.limit(0))
          Some(enter(base.limit(0)))
        case Op.Pop(key) => append(slot(key))
        case Op.Subtract(key) => working.map(SubtractSet(slot(key), idCol)(_))
        case _ =>
          val w = working.getOrElse(
            throw new IllegalArgumentException("pipeline must start with an input block"))
          Some(enter(s.through(w)))
      }
    }.getOrElse(base.limit(0))
  }

  /** Run a wire payload as a CONTINUOUS query — the reference's actual
    * operating mode (it recomputes every feed as the firehose arrives;
    * main.rs:3143's poll loop IS a streaming pipeline). The per-row
    * steps compile onto an unbounded stream unchanged:
    * comparison/regex/where filters, list membership (stream-static
    * join), un-normalized score adds; the duplicates filter (keep or
    * remove) becomes watermark-bounded ingest dedup
    * (dropDuplicatesWithinWatermark — the reference's at-ingest
    * duplicates check, main.rs:1916).
    *
    * The firehose input IS the stream: the payload's time window is
    * enforced by the watermark + downstream state TTL instead of a
    * fixed `now` (a fixed window over an unbounded stream would pin a
    * historical slice — not what a live feed means). Blocks that need
    * a bounded working set — sort/limit/top-k, normalization's global
    * max, stash slots, replace lookups, custom like-walks — are
    * rejected with a pointer to the right tool: the batch runner for
    * one-shot evaluation, or Streams.streamingFeed, which maintains
    * exactly that bounded per-user top-k as keyed state over this
    * function's output.
    */
  def runStreaming(
      stream: DataFrame, payload: String, b: Binding, lateness: String = "1 hour"): DataFrame =
    streamed(stream, program(payload)(compileBlock(_, b, _)), b, lateness)

  private def streamed(stream: DataFrame, steps: Seq[Step], b: Binding, lateness: String): DataFrame = {
    def reject(what: String, hint: String): Nothing =
      throw new IllegalArgumentException(
        s"streaming pipeline cannot run $what — $hint")
    steps.foldLeft(Option.empty[DataFrame]) { (working, s) =>
      (s.op, working) match {
        case (Op.Pull("firehose"), None) => Some(stream.withWatermark(b.tsCol, lateness))
        case (Op.Pull("firehose"), Some(_)) =>
          reject("a second input block", "a stream has exactly one firehose")
        case (Op.Pull(it), _) => reject(s"input '$it'", batchInput)
        case (Op.Seed(it), _) => reject(s"input '$it'", batchInput)
        case (_, None) => throw new IllegalArgumentException("pipeline must start with an input block")
        case (Op.Row | Op.Score(false), Some(w)) => Some(s.through(w))
        // first-arrival-wins ingest dedup over the id key
        case (Op.Dedup, Some(w)) => Some(w.dropDuplicatesWithinWatermark(b.idCol))
        case (Op.Score(true), _) =>
          reject("a normalized score block",
            "the global max is unbounded on a stream; normalize at serve " +
              "time (Streams.streamingFeed ranks within its bounded state)")
        case _ =>
          reject(s"a ${s.kind} block",
            "sort/limit/stash/replace need a bounded working set — run them " +
              "in the batch runner or serve via Streams.streamingFeed state")
      }
    }.getOrElse(reject("an empty payload", "add an input block"))
  }

  private val batchInput =
    "a continuous pipeline takes its one input FROM the stream; " +
      "other inputs are batch recomputation (PipelineJson.run)"

  /** The reference's WHOLE production loop (poll → pipeline → serve,
    * main.rs:3143 + generate_feed_skeleton main.rs:1229) as ONE
    * continuous system: a full wire payload — filters AND its trailing
    * sort/limit — compiles into
    *   stateless prefix  → runStreaming (codegen'd filters on the
    *                       firehose, watermark-bounded dedup), then
    *   serving suffix    → Streams.streamingFeed (the sort-hn + limit
    *                       tail becomes the bounded per-user top-k
    *                       keyed state; k = the limit count, gravity =
    *                       the sort block's knob).
    * Serving is then a state read (Streams.readFeedState over the
    * query's checkpoint) — no recompute per request, unlike the
    * reference, which reruns the block loop over its in-RAM store on
    * every poll. The suffix may rank by hn (the reference's own
    * live-feed ranking), by the payload's accumulated `score` (the
    * prefix's un-normalized score adds fix each event's score at
    * arrival), or by created_at (either direction — the event time IS
    * the static key); all three are per-event-static, which is what
    * lets the bounded keyed top-k serve them. Sorts that read mutable
    * per-post state (likes/reposts/replies) or one-shot orderings
    * (random) are rejected with a pointer to the batch runner.
    */
  def runServingFeed(
      stream: DataFrame,
      payload: String,
      b: Binding,
      anchorMs: Long,
      lateness: String = "1 hour"): org.apache.spark.sql.Dataset[graft.streaming.Streams.FeedRow] = {
    import graft.streaming.{Ev, Streams}
    val steps = program(payload)(compileBlock(_, b, _))
    // the serving suffix is the longest trailing run of sort/limit
    // steps; everything before it must be streaming-safe (enforced by
    // the streaming runner)
    val (prefix, suffix) = steps.splitAt(steps.lastIndexWhere(s => s.kind != "sort" && s.kind != "limit") + 1)
    val sorts = suffix.filter(_.kind == "sort")
    val limits = suffix.collect { case Step(_, l: Op.Limit, _, _) => l.count }
    require(
      sorts.nonEmpty,
      "a serving feed needs a trailing sort block (hn) — for an unranked " +
        "continuous filter use runStreaming directly")
    require(sorts.size == 1 && limits.size <= 1, "serving suffix allows one sort and one limit")
    // the reference executes blocks SEQUENTIALLY (main.rs:1398): a
    // limit before the sort truncates THEN ranks; compiling it as the
    // top-k state would silently turn that into rank-then-truncate —
    // refuse rather than reorder semantics
    require(
      limits.isEmpty || suffix.head.kind == "sort",
      "serving suffix must sort BEFORE limit (the reference's sequential " +
        "block semantics make limit-then-sort truncate-then-rank — run that " +
        "shape in the batch runner)")
    val Op.Sort(sortType, desc, gravity) = sorts.head.op
    // every serveable ranking is per-event-static (Streams.FeedRanking);
    // sort-by-score before any score block degrades to recency, exactly
    // like the batch compiler's `case "score" if !scored`
    val ranking = sortType match {
      case "hn" => Streams.FeedRanking.Hn(anchorMs, gravity)
      case "score" if sorts.head.scored => Streams.FeedRanking.ByValue
      case "score" => Streams.FeedRanking.ByRecency(newestFirst = true)
      case "created_at" => Streams.FeedRanking.ByRecency(newestFirst = desc)
      case other =>
        throw new IllegalArgumentException(
          s"continuous serving ranks by a per-event-static key (hn, score, created_at); " +
            s"sort '$other' reads mutable per-post state or is one-shot — run it in the batch runner")
    }
    val filtered = streamed(stream, prefix, b, lateness)
    // ByValue serves the accumulated score column the prefix computed;
    // the other rankings derive from ts/value inside the state machine
    val valueCol =
      if (ranking == Streams.FeedRanking.ByValue) col("score") else col(b.valueCol).cast("double")
    val s = stream.sparkSession
    import s.implicits._
    Streams.streamingFeedRanked(
      filtered.select(
        col(b.idCol).cast("long").as("event_id"),
        col(b.tsCol).as("ts"),
        col(b.authorCol).cast("long").as("user_id"),
        lit("wire").as("event_type"),
        valueCol.as("value")).as[Ev],
      k = limits.headOption.getOrElse(DefaultLimit), ranking = ranking, lateness = lateness)
  }

  /** The reference's SECOND pipeline endpoint: the LIST BUILDER
    * (generate_list_skeleton, main.rs:2678) — the same block wire
    * format over the PROFILE dimension instead of posts, read and
    * walked like run() with its own block compiler. Inputs `network`
    * (the whole profile store) and `list` (membership) APPEND to the
    * working set like post inputs; filters are remove subjects
    * `profile` (avatar/banner flags, main.rs:2758), `list`,
    * `duplicates`, and the regex block over name / handle / description
    * and their unions (main.rs:2778). `sort` is a declared no-op in the
    * reference (TODO stub, main.rs:2864) and stays one here; `limit`
    * truncates. Same documented divergence as run(): a distributed
    * frame has no insertion order, so deterministic truncation needs an
    * upstream order — the reference's own sort being a no-op means real
    * payloads never relied on one. No list block scores, so the walk
    * never touches a score column.
    */
  def runListBuilder(profiles: DataFrame, payload: String, b: Binding): DataFrame =
    walk(profiles, program(payload)((n, _) => compileListBlock(n, b)), b.idCol)

  /** Regex block compilation shared by BOTH pipeline endpoints (posts
    * and the profile list builder) — only the default target differs.
    */
  private def compileRegexBlock(n: JsonNode, b: Binding, defaultTarget: String): (Op, Seq[Block]) = {
    val targets = b.regexTargets.getOrElse(
      str(n, "target", defaultTarget),
      throw new IllegalArgumentException(s"unbound regex target ${str(n, "target", defaultTarget)}"))
    Op.Row -> Seq(KeepRegex(
      targets,
      reqStr(n, "value", "regex"),
      caseSensitive = n.path("caseSensitive").asBoolean(false),
      invert = n.path("invert").asBoolean(false)))
  }

  private def compileListBlock(n: JsonNode, b: Binding): (Op, Seq[Block]) =
    str(n, "type", "") match {
      case "input" =>
        val inputType = str(n, "inputType", "network")
        Op.Pull(inputType) -> (inputType match {
          case "network" => Nil
          case "list" =>
            val members = boundList(n, b, "list-builder input")
            Seq(KeepInSet(b.idCol, members, members.columns.head, keep = true))
          case other =>
            throw new IllegalArgumentException(s"unsupported list-builder inputType '$other'")
        })
      case "remove" =>
        str(n, "subject", "profile") match {
          case "profile" =>
            // (main.rs:2764): remove the named flag bucket
            val (field, keepWhenTrue) = str(n, "value", "has_avatar") match {
              case "has_avatar" => ("has_avatar", false)
              case "has_no_avatar" => ("has_avatar", true)
              case "has_banner" => ("has_banner", false)
              case "has_no_banner" => ("has_banner", true)
              case other =>
                throw new IllegalArgumentException(s"unknown profile filter value '$other'")
            }
            val c = resolveField(b, field)
            Op.Row -> Seq(WhereFilter(if (keepWhenTrue) c else !c))
          case "list" =>
            val members = boundList(n, b, "remove")
            Op.Row -> Seq(KeepInSet(b.idCol, members, members.columns.head, keep = false))
          case "duplicates" =>
            Op.Dedup -> Seq(DedupByKey(Seq(b.idCol), Seq(col(b.idCol))))
          case other =>
            throw new IllegalArgumentException(s"unsupported list-builder remove subject '$other'")
        }
      case "regex" =>
        // shared with the post pipeline; the list builder defaults the
        // target to "name" (main.rs:2793)
        compileRegexBlock(n, b, defaultTarget = "name")
      case "limit" =>
        val count = limitCount(n)
        Op.Limit(count) -> Seq(LimitN(count))
      case "sort" => Op.Row -> Nil // the reference's list-builder sort is a TODO no-op (main.rs:2864)
      case other => throw new IllegalArgumentException(s"unsupported list-builder block '$other'")
    }

  private val DefaultLimit = 100

  /** Decimal places every score and sort-time HN score rounds to. */
  private val ScoreScale = 6

  /** A limit block's count; absent, 5 per user for posts_per_user and
    * 100 otherwise, the same in every runner.
    */
  private def limitCount(n: JsonNode): Int =
    if (n.hasNonNull("count")) n.get("count").asInt()
    else if (str(n, "limitType", "default") == "posts_per_user") 5
    else DefaultLimit

  private def str(n: JsonNode, field: String, dflt: String): String =
    if (n.hasNonNull(field)) n.get(field).asText() else dflt

  private def reqStr(n: JsonNode, field: String, blockType: String): String = {
    require(n.hasNonNull(field), s"$blockType block is missing '$field'")
    n.get(field).asText()
  }

  /** Typed literal from a JSON scalar: numbers stay numeric so id/author
    * comparisons don't silently string-compare against long columns.
    * Fractional values stay DOUBLE — `asLong()` would truncate 7.5 to 7
    * and silently match the wrong row.
    */
  private def jsonLit(v: JsonNode): Column =
    if (v.isIntegralNumber) lit(v.asLong())
    else if (v.isNumber) lit(v.asDouble())
    else lit(v.asText())

  private def strSeq(n: JsonNode, field: String, blockType: String): Seq[String] = {
    val arr = n.get(field)
    require(arr != null && arr.isArray, s"$blockType block needs a '$field' array")
    // the reference's inverted indexes are lowercase (main.rs:1609)
    arr.elements().asScala.map(_.asText().toLowerCase).toSeq
  }

  /** Logical post field → bound Column. like_count defaults to the
    * binding's engagement column; everything else unmapped resolves to
    * a relation column of the same name.
    */
  private def resolveField(b: Binding, name: String): Column =
    b.fieldCols.getOrElse(name, if (name == "like_count") col(b.valueCol) else col(name))

  /** The reference's HN score against the binding's anchor, reading
    * like_count through the same field resolution as the count
    * filters, so a Binding that maps like_count explicitly gets
    * consistent semantics everywhere.
    */
  private def hnExpr(b: Binding, gravity: Double): Column =
    Hn(resolveField(b, "like_count"), col(b.tsCol), b.nowEpochMs, gravity)

  /** `where` script filter. The reference pushes the RUNNING SCORE into
    * the script scope as a constant (main.rs:1969), defaulting to 0 for
    * unscored posts — so `score` resolves to the score column once the
    * program has scored and to literal 0.0 before any score block.
    * A user-bound `score` field in whereFields wins over the built-in.
    */
  private def whereBlock(script: String, b: Binding, scored: Boolean, invert: Boolean): Block = {
    val fields = Map("score" -> (if (scored) col("score") else lit(0.0))) ++ b.whereFields
    val pred = WhereDsl.compile(script, fields, b.whereArrayFields)
    WhereFilter(if (invert) !pred else pred)
  }

  /** Case-insensitive membership over a bound array column: the
    * reference's tag/label indexes are lowercase on BOTH sides
    * (main.rs:1609) — lowercasing only the query side would silently
    * drop mixed-case store values.
    */
  private def containsAnyToken(arrCol: Column, tokens: Seq[String]): Column =
    tokens.map(t => exists(arrCol, x => lower(x) === lit(t))).reduce(_ || _)

  private def histWindow(n: JsonNode, b: Binding): Seq[Block] = {
    val secs = if (n.hasNonNull("historySeconds")) n.get("historySeconds").asLong() else 604800L
    // the reference skips the cutoff at/beyond the 7-day retention
    // (is_cutoff_beyond_7_days, main.rs:1621): the store never holds
    // older posts anyway, and the batch equivalent of "everything the
    // store has" is no time filter at all
    if (secs < 604800L) Seq(InputWindow(b.tsCol, b.nowEpochMs, secs)) else Nil
  }

  private def boundList(n: JsonNode, b: Binding, blockType: String): DataFrame = {
    val uri = reqStr(n, "listUri", blockType)
    b.lists.getOrElse(
      uri,
      throw new IllegalArgumentException(s"unbound listUri '$uri' (add it to Binding.lists)"))
  }

  private def boundStore(b: Binding): DataFrame =
    b.store.getOrElse(
      throw new IllegalArgumentException("replace blocks need Binding.store (the full post store)"))

  private def boundLikes(b: Binding, blockType: String): DataFrame =
    b.likes.getOrElse(
      throw new IllegalArgumentException(s"$blockType needs Binding.likes (liker, post)"))

  /** Shared core of the custom_liked* inputs. `weightsOf` maps the like
    * edges to one `(__u, __w)` row per scoring liker; a post's raw score
    * is the decimal sum of its likers' weights. Scores are
    * max-normalized and joined back onto the (optionally windowed)
    * store.
    *
    * A like with a null liker or a null post is not an edge, as in the
    * reference's u32 RoaringBitmaps: it is dropped here, before both
    * `weightsOf` and the score aggregation read the edges, so it counts
    * toward no liker's degree and scores no post, not even in the max.
    *
    * The raw scores feed two plans: the scores themselves and their max
    * (a single-row broadcast, no driver collect). The two must
    * canonicalize alike, so that the max reads the score shuffle
    * (`hashpartitioning(post)`) as a ReusedExchange instead of scanning,
    * joining and aggregating the graph a second time. The null-post
    * filter is what keeps them alike: without it the store join's
    * inferred `isnotnull(post)` is pushed into the score plan alone.
    */
  private def normalizedStoreJoin(likes: DataFrame, b: Binding, win: Seq[Block], mult: Double)(
      weightsOf: DataFrame => DataFrame): DataFrame = {
    val (uCol, pCol) = (likes.columns(0), likes.columns(1))
    val edges = likes.filter(col(uCol).isNotNull && col(pCol).isNotNull)
    val weights = weightsOf(edges)
    val raw = edges
      .join(weights, edges(uCol) === weights("__u"))
      .groupBy(edges(pCol).as("__post"))
      .agg(sum(col("__w")).as("__raw"))
    val mx = raw.agg(max(col("__raw")).as("__mx"))
    val scored = raw
      .crossJoin(broadcast(mx))
      .select(
        col("__post"),
        // zero max ⇒ contribution 0, not an Infinity-poisoned score
        // (same guard as ScoreAdd; f2/f3 user-score sums can be ≤ 0)
        round(
          when(col("__mx") =!= 0, col("__raw").cast("double") / col("__mx").cast("double") * mult)
            .otherwise(lit(0.0)),
          ScoreScale).as("score"))
    val store = win.foldLeft(boundStore(b))((df, blk) => blk(df))
    store.join(scored, col(b.idCol) === col("__post")).drop("__post")
  }

  private val Dec12 = graft.OracleMath.Dec12

  private def boundRef(b: Binding, target: String): String =
    b.refCols.getOrElse(
      target,
      throw new IllegalArgumentException(s"unbound replace ref '$target' (add it to Binding.refCols)"))

  private def compileBlock(n: JsonNode, b: Binding, scored: Boolean): (Op, Seq[Block]) = {
    str(n, "type", "") match {
      case "input" =>
        val inputType = str(n, "inputType", "firehose")
        (if (inputType.startsWith("custom_")) Op.Seed(inputType) else Op.Pull(inputType)) -> (inputType match {
          case "firehose" =>
            val secs = if (n.hasNonNull("firehoseSeconds")) n.get("firehoseSeconds").asLong() else 86400L
            Seq(InputWindow(b.tsCol, b.nowEpochMs, secs))
          case "list" =>
            // posts by the list's authors within the history window
            // (main.rs:1427): membership is a broadcast semi join. The
            // cutoff always applies for list inputs (the reference
            // filters `post.id > cutoff_tid` unconditionally here —
            // the ≥7-day skip below is specific to tags/labels)
            val members = boundList(n, b, "input")
            val secs = if (n.hasNonNull("historySeconds")) n.get("historySeconds").asLong() else 604800L
            Seq(
              InputWindow(b.tsCol, b.nowEpochMs, secs),
              KeepInSet(b.authorCol, members, members.columns.head, keep = true))
          case "did" =>
            // single author's posts (main.rs:1780)
            require(n.hasNonNull("did"), "did input is missing 'did'")
            Seq(WhereFilter(col(b.authorCol) === jsonLit(n.get("did"))))
          case "tags" =>
            // inverted tag index lookup (main.rs:1606) → array-membership
            // predicate over the bound tags column (scan-side at rest)
            val tagsCol = b.tagsCol.getOrElse(
              throw new IllegalArgumentException("tags input needs Binding.tagsCol"))
            val tags = strSeq(n, "tags", "tags input")
            require(tags.nonEmpty, "tags input needs at least one tag")
            histWindow(n, b) :+ WhereFilter(containsAnyToken(tagsCol, tags))
          case "labels" =>
            // label index lookup (main.rs:1669)
            val labelsCol = b.labelsCol.getOrElse(
              throw new IllegalArgumentException("labels input needs Binding.labelsCol"))
            val labels = strSeq(n, "labels", "labels input")
            require(labels.nonEmpty, "labels input needs at least one label")
            histWindow(n, b) :+ WhereFilter(containsAnyToken(labelsCol, labels))
          case "post" =>
            // point lookup by post id(s) (main.rs:1786) — the In
            // predicate reaches PushedFilters / row-group skipping
            val uris = n.get("postUri")
            require(uris != null && !uris.isNull, "post input is missing 'postUri'")
            val ids =
              if (uris.isArray) uris.elements().asScala.map(jsonLit).toSeq else Seq(jsonLit(uris))
            Seq(WhereFilter(col(b.idCol).isin(ids: _*)))
          case "archived" =>
            // archive store pull (main.rs:1792): swap in the bound
            // archive relation; the walk unions it with the other branches
            UseRelation(b.archive.getOrElse(
              throw new IllegalArgumentException("archived input needs Binding.archive"))) +:
              histWindow(n, b)
          case "custom_likedweighted" =>
            // (main.rs:1453): posts liked by the list's users; prolific
            // likers weigh less — per-like weight 1/(base + likes(u)),
            // post score = max-normalized weight sum. Replaces the
            // working set with the scored posts. The weight is rounded
            // then decimal-summed (order-independent, oracle-exact), and
            // computed once per member liker, not once per like: the
            // likes are semi-joined to the list, counted per liker and
            // weighted, and that relation reaches the edges by a
            // broadcast inner join, which also keeps only members' likes.
            // The list's size bounds the broadcast.
            val likes = boundLikes(b, "custom_likedweighted")
            val members = boundList(n, b, "input")
            val baseCnt =
              if (n.hasNonNull("baseLikeCount")) n.get("baseLikeCount").asDouble() else 0.0
            val mult = str(n, "scoreNormalizationMultiplier", "1.0").toDouble
            val uCol = likes.columns(0)
            val win = histWindow(n, b)
            Seq(Compute { _ =>
              normalizedStoreJoin(likes, b, win, mult) { edges =>
                broadcast(edges
                  .join(members, edges(uCol) === members(members.columns.head), "left_semi")
                  .groupBy(col(uCol).as("__u"))
                  .agg(count(lit(1)).as("__n"))
                  .select(col("__u"),
                    round(lit(1.0) / (lit(baseCnt) + col("__n")), 10).cast(Dec12).as("__w")))
              }
            })

          case "custom_likedbylikers" =>
            // (main.rs:1515): two-hop like-graph walk seeded by the
            // CURRENT working set — each seed post's likers become
            // curators scored by f0..f5 of that post's liker count;
            // the new working set is everything the curators liked,
            // scored by the max-normalized curator-score sum. The
            // curator relation is the working set's size, which the
            // payload does not bound (a 24h firehose can precede this
            // block), so its joins carry no broadcast hint: the session
            // threshold and AQE choose, and at scale they shuffle.
            val likes = boundLikes(b, "custom_likedbylikers")
            val fnName = str(n, "userScoreFunction", "f1")
            val exponent = str(n, "scoreExponent", "1.3").toDouble
            val mult = str(n, "scoreNormalizationMultiplier", "1.0").toDouble
            val (uCol, pCol) = (likes.columns(0), likes.columns(1))
            val win = histWindow(n, b)
            Seq(Compute { working =>
              normalizedStoreJoin(likes, b, win, mult) { edges =>
                val postCnt = edges.groupBy(col(pCol)).agg(count(lit(1)).as("__cnt"))
                val seeds = working.select(col(b.idCol).as("__sid")).distinct()
                edges
                  .join(seeds, edges(pCol) === col("__sid"))
                  .join(postCnt, pCol)
                  .withColumn("__s", round(UserScore.fn(fnName, exponent)(col("__cnt")), 10).cast(Dec12))
                  .filter(col("__s") > 0) // the reference drops non-positive scores
                  .groupBy(col(uCol).as("__u"))
                  .agg(sum(col("__s")).as("__w"))
              }
            })

          case "feed" =>
            // (main.rs:1704): the reference GETs the feed's skeleton
            // (a post-id list) and keeps the store posts it names.
            // The HTTP fetch itself stays out of the engine; the
            // resolved skeleton arrives via Binding.feeds and the
            // block is the containment check as a semi join — id-set
            // pushdown / broadcast semi at scale. Feed ORDER is not
            // preserved (a distributed frame has no insertion order;
            // same documented divergence as the 500-cap): payloads
            // rank the result with their own sort block.
            val uri = reqStr(n, "feedUri", "feed input")
            val skeleton = b.feeds.getOrElse(
              uri,
              throw new IllegalArgumentException(
                s"unbound feedUri '$uri' — the HTTP skeleton fetch (main.rs:1704) is an ingestion " +
                  "concern; resolve it to a post-id relation in Binding.feeds"))
            Seq(KeepInSet(b.idCol, skeleton, skeleton.columns.head, keep = true))
          case other => throw new IllegalArgumentException(s"unsupported inputType $other")
        })

      case t @ ("keep" | "remove") =>
        val subject = str(n, "subject", "")
        (subject match {
          case "duplicates" => Op.Dedup
          case "non_duplicates" => Op.Whole
          case _ => Op.Row
        }) -> (subject match {
          case "like_count" | "reply_count" | "repost_count" =>
            // reference semantics (main.rs:1831-1884): the operator
            // names the rows to REMOVE — `<  v` retains count >= v —
            // and keep/remove dispatch identically for count subjects
            val c = resolveField(b, subject)
            val v = n.get("value")
            require(v != null && v.isNumber, s"$subject filter needs a numeric value")
            val value = lit(v.asDouble())
            val retain = str(n, "operator", "<") match {
              case "<" => c >= value
              case ">" => c <= value
              case "==" => c =!= value
              case "!=" => c === value
              case other => throw new IllegalArgumentException(s"unknown operator '$other' on $subject")
            }
            Seq(WhereFilter(retain))

          case "image_count" =>
            // (main.rs:1817): remove the named bucket
            val c = resolveField(b, "image_count")
            Seq(WhereFilter(str(n, "value", "0") match {
              case "0" => c =!= 0
              case "1" => c =!= 1
              case "2+" => c < 2
              case other => throw new IllegalArgumentException(s"unknown image_count value '$other'")
            }))

          case "language" =>
            // (main.rs:1885): the operator encodes polarity — "=="
            // removes the language, "!=" (default) keeps only it
            val langC = resolveField(b, "language")
            val lang = lit(str(n, "language", "en"))
            Seq(WhereFilter(str(n, "operator", "!=") match {
              case "==" => langC =!= lang
              case "!=" => langC === lang
              case other => throw new IllegalArgumentException(s"unknown operator '$other' on language")
            }))

          case "list" =>
            // author-set membership (main.rs:1903): keep=semi, remove=anti
            val members = boundList(n, b, t)
            Seq(KeepInSet(b.authorCol, members, members.columns.head, keep = t == "keep"))

          case "duplicates" =>
            // one row per key survives (main.rs:1916), for keep and
            // remove alike. In the reference the survivor's identity is
            // irrelevant (scores live in a global map keyed by id); here
            // the score rides on the row, and same-id rows from
            // different input branches can differ in it (a branch
            // pulled after scoring enters at 0.0) — keep the
            // highest-scored variant, deterministically, so the score a
            // later sort reads matches the map's accumulated value
            val order =
              if (scored) Seq(col("score").desc_nulls_last, col(b.idCol)) else Seq(col(b.idCol))
            Seq(DedupByKey(Seq(b.idCol), order))

          case "non_duplicates" =>
            Seq(KeepDupes(Seq(b.idCol), Seq(col(b.idCol))))

          case "embed" =>
            // (main.rs:1929): retain rows NOT matching the named embed
            val rec = resolveField(b, "record")
            Seq(WhereFilter(str(n, "value", "none") match {
              case "none" => rec.isNotNull && rec =!= ""
              case "feed" => !coalesce(rec, lit("")).startsWith("feed")
              case "post" => !coalesce(rec, lit("")).startsWith("post")
              case other => throw new IllegalArgumentException(s"unknown embed value '$other'")
            }))

          case "labels" =>
            // (main.rs:1938): remove every post carrying a named label.
            // A null label array means "no labels" — coalesce before
            // inverting, or `!null` silently drops every unlabeled post
            val labelsCol = b.labelsCol.getOrElse(
              throw new IllegalArgumentException("labels filter needs Binding.labelsCol"))
            val labels = strSeq(n, "labels", "labels filter")
            Seq(WhereFilter(!coalesce(containsAnyToken(labelsCol, labels), lit(false))))

          case "videos" =>
            // (main.rs:1973): the one subject where keep/remove differ
            val v = resolveField(b, "video")
            Seq(WhereFilter(if (t == "keep") v.isNotNull else v.isNull))

          case "item" =>
            // (main.rs:1800): remove the named item kind
            str(n, "value", "reply") match {
              case "post" => Seq(WhereFilter(resolveField(b, "is_reply")))
              case "reply" => Seq(WhereFilter(!resolveField(b, "is_reply")))
              case "repost" => Nil // reference no-ops (main.rs:1811)
              case "has_labels" =>
                // null label array = no labels (size(null) is null, not 0)
                val labelsCol = b.labelsCol.getOrElse(
                  throw new IllegalArgumentException("item has_labels needs Binding.labelsCol"))
                Seq(WhereFilter(coalesce(size(labelsCol), lit(0)) === 0))
              case "has_no_labels" =>
                val labelsCol = b.labelsCol.getOrElse(
                  throw new IllegalArgumentException("item has_no_labels needs Binding.labelsCol"))
                Seq(WhereFilter(coalesce(size(labelsCol), lit(0)) > 0))
              case other => throw new IllegalArgumentException(s"unknown item value '$other'")
            }

          case "where" =>
            // Rhai `where` as a keep/remove subject (main.rs:1952):
            // remove inverts the compiled predicate
            Seq(whereBlock(reqStr(n, "value", t), b, scored, invert = t == "remove"))

          case _ =>
            // engine extension: generic column compare for subjects the
            // reference doesn't name — keep retains matches, remove the
            // complement (our DSL semantics, not reference-specified)
            val op = str(n, "operator", "==")
            val v = n.get("value")
            require(v != null && !v.isNull, s"$t block on '$subject' is missing a value")
            val value = if (v.isNumber) lit(v.asDouble()) else lit(v.asText())
            val effOp = if (t == "keep") op
            else op match {
              case "==" => "!="
              case "!=" => "=="
              case "<" => ">="
              case ">" => "<="
              case "<=" => ">"
              case ">=" => "<"
              case other => throw new IllegalArgumentException(s"unknown operator '$other' in $t block")
            }
            Seq(KeepCmp(subject, effOp, value))
        })

      case "where" =>
        // standalone where block (alias of the keep/subject=where form)
        Op.Row -> Seq(whereBlock(reqStr(n, "value", "where"), b, scored, invert = false))

      case "remember_posts" =>
        Op.Row -> Nil // a declared no-op in the reference (main.rs:2384)

      case "regex" =>
        compileRegexBlock(n, b, defaultTarget = "text")

      case "score" =>
        require(str(n, "scoreType", "add") == "add", "only scoreType=add exists in the reference")
        val normalize = n.path("normalize").asBoolean(true)
        // a "value" script (the reference's Rhai expression, main.rs:2162)
        // compiles through the same DSL as `where` — arithmetic included
        val expr = if (n.hasNonNull("value"))
          WhereDsl.compile(n.get("value").asText(), b.whereFields, b.whereArrayFields)
        else str(n, "from", "hn") match {
          case "hn" => hnExpr(b, str(n, "gravity", "1.8").toDouble)
          case "like_count" => resolveField(b, "like_count").cast("double")
          case "repost_count" => resolveField(b, "repost_count").cast("double")
          case "reply_count" => resolveField(b, "reply_count").cast("double")
          case "created_at" => unix_millis(col(b.tsCol)).cast("double") / lit(1000.0)
          case other => throw new IllegalArgumentException(s"unsupported score from=$other")
        }
        // the reference's scoreNormalizationMultiplier (main.rs:2631)
        // scales the normalized contribution; it arrives as a string
        val multiplier = str(n, "scoreNormalizationMultiplier", "1.0").toDouble
        // rounding after each score block keeps later rankings bit-stable
        // across engines (same policy as the hand-built pipelines)
        Op.Score(normalize) -> Seq(ScoreAdd(expr, normalize, multiplier), RoundCol("score", ScoreScale))

      case "sort" =>
        val sort = Op.Sort(
          str(n, "sortType", "score"), str(n, "sortDirection", "desc") == "desc", str(n, "gravity", "1.8").toDouble)
        def dir(c: Column) = if (sort.desc) c.desc else c.asc
        val keys = sort.sortType match {
          // sort-by-score before any score block: every score is an
          // implicit 0 in the reference — order degrades to recency
          case "score" if !scored => Seq(col(b.tsCol).desc, col(b.idCol))
          case "score" => Seq(dir(col("score")), col(b.idCol))
          case "created_at" => Seq(dir(col(b.tsCol)), col(b.idCol))
          case "likes" => Seq(dir(resolveField(b, "like_count")), col(b.idCol))
          case st @ ("repost_count" | "reply_count") => Seq(dir(resolveField(b, st)), col(b.idCol))
          case "hn" =>
            // sort-time HN score (main.rs:2246): ranked on the rounded
            // value so double `pow` ulp drift can't flip ranks vs the
            // oracle; id tie-break for determinism
            Seq(dir(round(hnExpr(b, sort.gravity), ScoreScale)), col(b.idCol))
          case "random" =>
            // the reference shuffles with a thread RNG (main.rs:2283);
            // the reproducible distributed equivalent orders by a keyed
            // cryptographic hash of the row id
            Seq(md5(concat(col(b.idCol).cast("string"), lit("#" + str(n, "seed", "42")))).asc, col(b.idCol))
          case other => throw new IllegalArgumentException(s"unsupported sortType $other")
        }
        sort -> Seq(SortBy(keys))

      case "limit" =>
        val count = limitCount(n)
        Op.Limit(count) -> (if (str(n, "limitType", "default") == "posts_per_user") {
          // rank by score once scoring has happened; before that, by
          // recency (no score column exists yet — referencing it would
          // fail on a valid program)
          val order =
            if (scored) Seq(col("score").desc, col(b.idCol))
            else Seq(col(b.tsCol).desc, col(b.idCol))
          Seq(LimitPerKey(b.authorCol, count, order))
        } else {
          Seq(LimitN(count))
        })

      case "replace" =>
        // (main.rs:2386-2508): lookups swap each row for the store row
        // its ref points at; inversions swap the working set for the
        // store rows pointing INTO it
        val target = str(n, "with", "parent")
        val keepMissing = n.path("keepItemsWithMissingTarget").asBoolean(true)
        Op.Whole -> (target match {
          case "parent" | "root" | "record" =>
            Seq(ReplaceWith(boundStore(b), b.idCol, boundRef(b, target), keepMissing))
          case "direct_replies" =>
            Seq(ReplaceInversion(boundStore(b), boundRef(b, "parent"), b.idCol))
          case "all_replies" =>
            Seq(ReplaceInversion(boundStore(b), boundRef(b, "root"), b.idCol))
          case "quote_posts" =>
            Seq(ReplaceInversion(boundStore(b), boundRef(b, "record"), b.idCol))
          case other => throw new IllegalArgumentException(s"unknown replace target '$other'")
        })

      case "stash" =>
        val key = reqStr(n, "key", "stash")
        (str(n, "action", "stash") match {
          case "stash" => Op.Stash(key)
          case "pop" => Op.Pop(key)
          case "subtract" => Op.Subtract(key)
          case other => throw new IllegalArgumentException(s"unknown stash action '$other'")
        }) -> Nil

      case other => throw new IllegalArgumentException(s"unsupported block type $other")
    }
  }
}
