package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Firehose

/** Typed-form invariants of the firehose record normalization
  * (process_post / process_profile, main.rs:3447-3723) that the
  * catalog's string-serialized oracle can't see, plus streaming/batch
  * parity of the intake form.
  */
class FirehoseSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = GraftSession.local(cores = 4, shufflePartitions = 4)
  private val dir = "/root/testdata/sf0.001"

  private lazy val parsed =
    Firehose.parsePostRecords(Firehose.synthPostRecords(Tables.events(spark, dir))).cache()

  test("skip-on-error: exactly the no-id records drop") {
    val total = Tables.events(spark, dir).count()
    val skipped = Tables.events(spark, dir).filter(pmod(col("event_id"), lit(17)) === 0).count()
    assert(parsed.count() == total - skipped)
    // blind [5..] strip, reference-faithful: no 'post:' prefix survives
    assert(parsed.filter(col("id").startsWith("post:")).count() == 0)
  }

  test("set fields are sorted distinct arrays; links keep wire order") {
    import spark.implicits._
    // e%5==3 planted ["es","en","en"] → HashSet → canonical ["en","es"]
    val langs = parsed
      .filter(col("id").startsWith("rk3_") || col("id").startsWith("rk13_"))
      .select(col("langs")).as[Seq[String]].collect()
    assert(langs.nonEmpty && langs.forall(_ == Seq("en", "es")))
    // e%4==2 planted ["common","common"] → dedups to one
    val tags = parsed.filter(col("id").startsWith("rk2_")).select(col("tags")).as[Seq[String]].head()
    assert(tags == Seq("common"))
    // links stay a Vec in wire order (a,b not resorted), [] and absent both empty
    val links = parsed
      .filter(pmod(expr("CAST(substring(split(id, '_')[0], 3) AS LONG)"), lit(3)) === 0)
      .select(col("links")).as[Seq[String]].head()
    assert(links.head == "https://example.com/a" &&
      links(1).startsWith("https://news.example.org/x"), s"wire order lost: $links")
  }

  test("video flattening: absent→null struct, partial→reference defaults") {
    val eid = expr("CAST(substring(split(id, '_')[0], 3) AS LONG)")
    val withE = parsed.withColumn("e", eid)
    val partial = withE.filter(pmod(col("e"), lit(11)) === 5).select(
      col("video_height"), col("video_width"), col("video_media_type"),
      col("video_alt"), col("video_captions_text")).collect()
    assert(partial.nonEmpty)
    partial.foreach { r =>
      assert(r.getLong(0) == 0L && r.getLong(1) == 0L) // unwrap_or(0)
      assert(r.getString(2) == "video/mp4")
      assert(r.getString(3) == "" && r.getString(4) == "") // alt/captions default ""
    }
    val full = withE.filter(pmod(col("e"), lit(11)) === 0 && col("video_height").isNotNull)
    val cap = full.select(col("video_captions_text")).collect()
    assert(cap.nonEmpty)
    cap.foreach { r =>
      val t = r.getString(0)
      assert(t.startsWith("CAPTION_FILE_TEXT_CONTENT_SKYFEED_QUERY_ENGINE\n"))
      assert(t.endsWith("\ncap b\n")) // per-caption frame + trailing newline
    }
    val none = withE.filter(pmod(col("e"), lit(11)) > 5)
    assert(none.filter(col("video_height").isNotNull || col("video_captions_text").isNotNull).count() == 0)
  }

  test("alt_text joins image alts with the next-image separator") {
    val two = parsed.filter(col("image_count") === 2).select(col("alt_text")).collect()
    assert(two.nonEmpty)
    two.foreach(r => assert(r.getString(0).contains("\n\n<[{next-image}]>\n\n")))
    val zero = parsed.filter(col("image_count") === 0).select(col("alt_text")).collect()
    zero.foreach(r => assert(r.getString(0) == ""))
  }

  test("profile parse: presence flags and '' defaults") {
    val p = Firehose.parseProfileRecords(Firehose.synthProfileRecords(Tables.customer(spark, dir)))
    val rows = p.withColumn("k", expr("CAST(substring(id, 10) AS LONG)")).cache()
    assert(rows.filter(col("k") % 13 === 0).count() == 0) // skip path
    assert(rows.filter(col("k") % 2 === 0 && !col("has_avatar")).count() == 0)
    assert(rows.filter(col("k") % 2 === 1 && col("has_avatar")).count() == 0)
    assert(rows.filter(col("k") % 4 === 0 && col("name") =!= "").count() == 0)
    assert(rows.filter(col("follower_count") =!= 0 || col("following_count") =!= 0).count() == 0)
  }

  test("adversarial raw input: garbage drops, valid rows survive, nothing throws") {
    import spark.implicits._
    val garbage = Seq(
      "{not json at all",
      "",
      "null",
      "[]",
      "42",
      """{"id":123,"author":"did:plc:x","text":"t","createdAt":"c"}""", // id wrong type
      """{"author":"did:plc:x","text":"orphan"}""", // no id (reference Err path)
      """{"id":"post:ok1_plc_x","author":"did:plc:x","createdAt":"c"}""", // no text (reference panic path)
      """{"id":"post:ok2_plc_x","author":"did:plc:x","text":"good","createdAt":"c","langs":"notanarray"}""",
      """{"id":"post:ok3_plc_x","author":"did:plc:x","text":"good","createdAt":"c","video":"notanobject"}""")
    val parsed = graft.sources.Firehose.parsePostRecords(garbage.toDF("raw")).collect()
    // rows with id+author+text+createdAt survive even when OTHER fields
    // are malformed (PERMISSIVE nulls them to the reference defaults);
    // everything else drops silently — no exception reaches the caller
    val ids = parsed.map(_.getAs[String]("id")).toSet
    assert(ids == Set("ok2_plc_x", "ok3_plc_x"), s"got $ids")
    val ok2 = parsed.find(_.getAs[String]("id") == "ok2_plc_x").get
    assert(ok2.getAs[scala.collection.Seq[String]]("langs").isEmpty,
      "malformed langs must read as absent")
    val ok3 = parsed.find(_.getAs[String]("id") == "ok3_plc_x").get
    assert(ok3.isNullAt(ok3.fieldIndex("video_height")), "malformed video must read as absent")
  }

  test("file-based ingestion: raw lines on disk parse identically to the in-plan fixtures") {
    import spark.implicits._
    val out = tempDir("graft_rawposts").toString
    val synth = Firehose.synthPostRecords(Tables.events(spark, dir))
    synth.select(col("raw")).write.mode("overwrite").text(out)
    val fromFiles = Firehose.parsePostRecords(
      spark.read.text(out).withColumnRenamed("value", "raw"))
    val direct = Firehose.parsePostRecords(synth)
    assert(fromFiles.count() == direct.count())
    assert(fromFiles.exceptAll(direct).isEmpty && direct.exceptAll(fromFiles).isEmpty,
      "the disk round trip must not change a single parsed row")
  }

  test("raw stream → parse → watermark dedup: redelivered records fold away") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val raws = Firehose.synthPostRecords(Tables.events(spark, dir))
      .filter(col("event_id") < 40).select(col("raw")).as[String].collect().toSeq
    val in = MemoryStream[String]
    in.addData(raws ++ raws.take(15)) // firehose redelivery
    val q = graft.streaming.Streams
      .firehoseIntakeStream(in.toDF().withColumnRenamed("value", "raw"))
      .withColumn("ts", timestamp_micros(expr("CAST(substring(created_at, 2) AS LONG)")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("id")
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("fhdedup").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("fhdedup").select(col("id"))
    val expected = Firehose.parsePostRecords(
      Firehose.synthPostRecords(Tables.events(spark, dir)).filter(col("event_id") < 40))
      .select(col("id"))
    assert(got.count() == expected.count(), "each redelivered record must fold into its original")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("streaming intake ≡ batch parse on the same raw records") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val raws = Firehose.synthPostRecords(Tables.events(spark, dir))
      .filter(col("event_id") < 60).select(col("raw")).as[String].collect().toSeq
    val in = MemoryStream[String]
    in.addData(raws)
    val q = graft.streaming.Streams.firehoseIntakeStream(in.toDF().withColumnRenamed("value", "raw"))
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("fh").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("fh")
    val batch = Firehose.parsePostRecords(
      Firehose.synthPostRecords(Tables.events(spark, dir)).filter(col("event_id") < 60))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }
}
