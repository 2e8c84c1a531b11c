package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.queries.FeedBlocks.NowMs
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The reference's imperative block loop over in-memory posts: the
  * oracle for the feed-requests workload. It walks a payload's blocks
  * one by one over the collected `events`, `customer` and `lineitem`
  * tables, with the same arithmetic as the engine (scores rounded half
  * up to 6 places, ties broken by ascending id), and covers exactly the
  * blocks the benchmark's four payload templates use.
  */
final class Evaluator(
    ids: Array[Long],
    tsUs: Array[Long],
    users: Array[Long],
    types: Array[String],
    values: Array[Double],
    members: Set[Long],
    likes: Array[(Long, Long)]) {

  private val byId: Map[Long, Int] = ids.indices.map(i => ids(i) -> i).toMap

  private def round(d: Double, scale: Int): Double =
    if (d.isNaN || d.isInfinite) d
    else BigDecimal(d).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def inWindow(row: Int, seconds: Long): Boolean =
    tsUs(row) >= (NowMs - seconds * 1000L + 1) * 1000L && tsUs(row) < (NowMs + 1) * 1000L

  private def hn(row: Int, gravity: Double): Double = {
    val ageH = (NowMs - Math.floorDiv(tsUs(row), 1000L)).toDouble / 3600000.0
    values(row) / math.pow(ageH + 2.0, gravity)
  }

  private def parentRef(id: Long): Option[Long] =
    if (id % 3 == 1) Some(Math.floorDiv(id, 2L))
    else if (id % 3 == 2) Some(id + 7919)
    else None

  import Evaluator.Post

  private val byScore: Ordering[Post] = Ordering.by((p: Post) => (-p.score, ids(p.row)))

  def run(payload: String): Seq[(Long, Double)] = {
    var posts = mutable.ArrayBuffer[Post]()
    var scored = false
    val blocks = Evaluator.mapper.readTree(payload).get("blocks").elements().asScala.toSeq
    def long(n: JsonNode, f: String, d: Long) = if (n.hasNonNull(f)) n.get(f).asLong() else d
    def str(n: JsonNode, f: String, d: String) = if (n.hasNonNull(f)) n.get(f).asText() else d
    for (b <- blocks) (str(b, "type", ""), str(b, "inputType", str(b, "subject", str(b, "limitType", "")))) match {
      case ("input", "firehose") =>
        val secs = long(b, "firehoseSeconds", 86400L)
        posts ++= ids.indices.filter(inWindow(_, secs)).map(Post(_, 0.0))
      case ("input", "list") =>
        val secs = long(b, "historySeconds", 604800L)
        posts ++= ids.indices.filter(r => inWindow(r, secs) && members(users(r))).map(Post(_, 0.0))
      case ("input", "post") =>
        val want = b.get("postUri").elements().asScala.map(_.asLong()).toSet
        posts ++= ids.indices.filter(r => want(ids(r))).map(Post(_, 0.0))
      case ("input", "custom_likedweighted") =>
        val base = b.get("baseLikeCount").asDouble()
        val secs = long(b, "historySeconds", 604800L)
        val perUser = likes.groupBy(_._1).map { case (u, ls) => u -> ls.length.toLong }
        val raw = mutable.Map[Long, java.math.BigDecimal]()
        likes.foreach { case (u, p) =>
          if (members(u)) {
            val w = round(1.0 / (base + perUser(u)), 10)
            val dec = BigDecimal(w).setScale(12, BigDecimal.RoundingMode.HALF_UP).bigDecimal
            raw(p) = raw.getOrElse(p, java.math.BigDecimal.ZERO).add(dec)
          }
        }
        val mx = if (raw.isEmpty) 0.0 else raw.values.reduce((a, c) => a.max(c)).doubleValue
        posts = mutable.ArrayBuffer.from(raw.toSeq.flatMap { case (p, r) =>
          byId.get(p).filter(row => secs >= 604800L || inWindow(row, secs))
            .map(row => Post(row, round(if (mx != 0) r.doubleValue / mx * 1.0 else 0.0, 6)))
        })
        scored = true
      case ("remove", "like_count") =>
        val v = b.get("value").asDouble()
        posts = posts.filter(p => values(p.row) >= v)
      case ("remove", "duplicates") =>
        val seen = mutable.Set[Long]()
        posts = posts.sortBy(p => (-p.score, ids(p.row))).filter(p => seen.add(ids(p.row)))
      case ("replace", _) =>
        posts = posts.flatMap { p =>
          parentRef(ids(p.row)) match {
            case None      => Some(p)
            case Some(ref) => byId.get(ref).map(Post(_, 0.0))
          }
        }
      case ("regex", _) =>
        val re = java.util.regex.Pattern.compile("(?i)" + b.get("value").asText())
        posts = posts.filter(p => re.matcher(types(p.row)).find())
      case ("score", _) =>
        val g = str(b, "gravity", "1.8").toDouble
        val s = posts.map(p => hn(p.row, g))
        val mx = if (s.isEmpty) 0.0 else s.max
        posts = posts.zip(s).map { case (p, x) => Post(p.row, round(p.score + (if (mx != 0) x / mx * 1.0 else 0.0), 6)) }
        scored = true
      case ("limit", "posts_per_user") =>
        val n = b.get("count").asInt()
        posts = mutable.ArrayBuffer.from(posts.groupBy(p => users(p.row)).values.flatMap(_.sorted(byScore).take(n)))
      case ("sort", _) =>
        str(b, "sortType", "score") match {
          case "hn" =>
            val g = str(b, "gravity", "1.8").toDouble
            posts = posts.sortBy(p => (-round(hn(p.row, g), 6), ids(p.row)))
          case "score" if scored => posts = posts.sorted(byScore)
          case other => throw new IllegalArgumentException(s"evaluator has no sort '$other'")
        }
      case ("limit", _) =>
        posts = posts.take(b.get("count").asInt())
      case other => throw new IllegalArgumentException(s"evaluator has no block $other")
    }
    posts.toSeq.map(p => (ids(p.row), if (scored) p.score else Double.NaN))
  }
}

object Evaluator {
  private final case class Post(row: Int, score: Double)

  /** Scores are compared to this absolute tolerance; ids exactly. */
  val ScoreTolerance = 1e-6

  private val mapper = new ObjectMapper

  def load(s: SparkSession, dir: String): Evaluator = {
    val ev = s.read.parquet(s"$dir/events.parquet")
      .selectExpr("event_id", "unix_micros(ts) AS ts_us", "user_id", "event_type", "value")
      .collect()
    val members = s.read.parquet(s"$dir/customer.parquet")
      .filter("c_mktsegment = 'BUILDING'").select("c_custkey").collect().map(_.getLong(0)).toSet
    val likes = s.read.parquet(s"$dir/lineitem.parquet").select("l_suppkey", "l_partkey")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    new Evaluator(
      ev.map(_.getLong(0)), ev.map(_.getLong(1)), ev.map(_.getLong(2)), ev.map(_.getString(3)),
      ev.map(_.getDouble(4)), members, likes)
  }
}
