package graft

import graft.functions.AtProto
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the AT-proto codecs (main.rs:4105-4200) against hand-derived
  * ground truth: known TID encodings, the did:web escaping order, the
  * at-uri collection mapping, and the sortability property.
  */
class AtProtoSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(cores = 4, shufflePartitions = 4)

  private def one(c: org.apache.spark.sql.Column): String = {
    import spark.implicits._
    Seq(1).toDF("x").select(c.cast("string")).head().getString(0)
  }

  test("TID encoding matches independently derived ground truth") {
    // expected values computed with a separate big-endian base32
    // implementation of the reference's spec (micros << 9, sortable
    // alphabet, zero pad bit)
    assert(one(AtProto.microsToTid(lit(1705321845123456L))) == "3kizgrgwug222")
    assert(one(AtProto.microsToTid(lit(1700000000000000L))) == "3ke6kg3wk2222")
  }

  test("TID decode inverts encode and lexical order is time order") {
    import spark.implicits._
    val micros = Seq(0L, 1L, 999L, 1000000L, 1700000000000000L, 1705321845123456L,
      (1L << 53), (1L << 54) - 1)
    val df = micros.toDF("us")
      .withColumn("tid", AtProto.microsToTid(col("us")))
      .withColumn("back", AtProto.tidToMicros(col("tid")))
    val rows = df.collect()
    rows.foreach(r => assert(r.getAs[Long]("back") == r.getAs[Long]("us"),
      s"roundtrip broke for ${r.getAs[Long]("us")}"))
    val byTime = rows.sortBy(_.getAs[Long]("us")).map(_.getAs[String]("tid")).toSeq
    assert(byTime == byTime.sorted, "TID lexical order must equal time order")
    assert(rows.forall(_.getAs[String]("tid").length == 13))
  }

  test("did_to_key escapes plc and web dids like the reference") {
    assert(one(AtProto.didToKey(lit("did:plc:abc123"))) == "plc_abc123")
    // '.'→'_' FIRST, then '-'→'__' (main.rs:4155)
    assert(one(AtProto.didToKey(lit("did:web:feeds.bsky-app.example")))
      == "web_feeds_bsky__app_example")
    assert(one(AtProto.didToKey(lit("did:key:xyz"))) == null)
  }

  test("at_uri_to_post_id maps collections and rejects invalid input as null") {
    assert(one(AtProto.atUriToPostId(lit("at://did:plc:abc/app.bsky.feed.post/3kizgrgwug222")))
      == "post:3kizgrgwug222_plc_abc")
    assert(one(AtProto.atUriToPostId(lit("at://did:plc:abc/app.bsky.graph.list/3kabc")))
      == "list:3kabc_plc_abc")
    // unsupported collection, invalid rkey (uppercase), invalid did → null
    assert(one(AtProto.atUriToPostId(lit("at://did:plc:abc/app.bsky.feed.like/3kabc"))) == null)
    assert(one(AtProto.atUriToPostId(lit("at://did:plc:abc/app.bsky.feed.post/3kABC"))) == null)
    assert(one(AtProto.atUriToPostId(lit("at://did:key:abc/app.bsky.feed.post/3kabc"))) == null)
  }

  test("unsafe_key_to_did inverts plc keys and stays faithfully unsafe on web keys") {
    // plc round-trip: did → key → did body (main.rs:4172 returns the
    // body without the "did:" prefix — replace only, no prepend)
    assert(one(AtProto.keyToDid(lit("plc_abc123"))) == "plc:abc123")
    assert(one(AtProto.keyToDid(AtProto.didToKey(lit("did:plc:wgaezxqi2spqm3mhrb5xvkzi"))))
      == "plc:wgaezxqi2spqm3mhrb5xvkzi")
    // web keys mangle — the reference's documented unsafety, preserved
    assert(one(AtProto.keyToDid(lit("web_feeds_example"))) == "web:feeds:example")
  }

  test("ensure_valid_rkey passes the reference regex and nulls the rest") {
    assert(one(AtProto.ensureValidRkey(lit("3kizgrgwug222"))) == "3kizgrgwug222")
    assert(one(AtProto.ensureValidRkey(lit("abc-123"))) == "abc-123")
    assert(one(AtProto.ensureValidRkey(lit("3kABC"))) == null) // uppercase
    assert(one(AtProto.ensureValidRkey(lit("a_b"))) == null) // underscore
    assert(one(AtProto.ensureValidRkey(lit(""))) == null) // empty ≠ +
  }

  test("post_id_to_uri inverts at_uri_to_post_id including web unescape order") {
    val uris = Seq(
      "at://did:plc:abc/app.bsky.feed.post/3kizgrgwug222",
      // multi-segment web host with a '-' — exercises BOTH unescapes
      // and the limit=3 split (the reference's parts[2] would truncate)
      "at://did:web:feeds.bsky-app.example/app.bsky.feed.post/3kabc")
    uris.foreach { u =>
      assert(one(AtProto.postIdToUri(AtProto.atUriToPostId(lit(u)))) == u,
        s"uri→id→uri broke for $u")
    }
    // '__'→'-' must run BEFORE '_'→'.' (inverse of did_to_key's order)
    assert(one(AtProto.postIdToUri(lit("post:3kabc_web_a__b_c")))
      == "at://did:web:a-b.c/app.bsky.feed.post/3kabc")
    assert(one(AtProto.postIdToUri(lit("post:3kABC_plc_abc"))) == null) // invalid rkey
    assert(one(AtProto.postIdToUri(lit("post:3kabc"))) == null) // no did part
  }

  test("malformed input degrades to null under ANSI mode, never a thrown scan error") {
    // Spark 4 defaults spark.sql.ansi.enabled=true: element_at on a
    // missing array index / map key would kill the whole job — these
    // must all be null rows instead
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    assert(one(AtProto.atUriToPostId(lit("at://did:plc:abc"))) == null) // too few segments
    assert(one(AtProto.atUriToPostId(lit(""))) == null)
    assert(one(AtProto.atUriToPostId(lit("not a uri at all"))) == null)
    assert(one(AtProto.tidToMicros(lit("3kizgrgwug21!"))) == null) // char outside alphabet
    assert(one(AtProto.tidToMicros(lit("3kiz"))) == null) // wrong length
    assert(one(AtProto.tidToMicros(lit("3KIZGRGWUG222"))) == null) // uppercase
  }
}
