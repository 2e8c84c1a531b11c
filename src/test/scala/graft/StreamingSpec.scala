package graft

import graft.streaming.{Ev, Streams}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = GraftSession.local(cores = 4, shufflePartitions = 4)

  private def ev(id: Long, minute: Int, uid: Long, t: String, v: Double) =
    Ev(id, java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), uid, t, v)

  test("windowed counts aggregate by sliding window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    in.addData(ev(1, 0, 1, "view", 1.0), ev(2, 10, 1, "view", 2.0), ev(3, 20, 2, "click", 3.0))
    val q = Streams
      .windowedCounts(in.toDF())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
      .format("memory").queryName("wc").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("wc").collect()
    assert(rows.nonEmpty)
    val views = rows.filter(_.getAs[String]("event_type") == "view")
    assert(views.map(_.getAs[Long]("n")).max == 2)
  }

  test("scd2 stream closes intervals on change exactly like the batch rule") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.TierUpdate
    def upd(uid: Long, minute: Int, id: Long, tier: Long) =
      TierUpdate(uid, java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), id, tier)
    val t = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00").getTime
    val in = MemoryStream[TierUpdate]
    val q = Streams.scd2Stream(in.toDS())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("scd2s").start()
    // same tier twice: the interval extends, nothing closes
    in.addData(upd(7, 0, 1, 0), upd(7, 1, 2, 0), upd(8, 0, 3, 5))
    q.processAllAvailable()
    assert(spark.table("scd2s").collect().isEmpty, "no change → no closed interval")
    // tier change closes [10:00, 10:02) for user 7; user 8 unchanged
    in.addData(upd(7, 2, 4, 1), upd(8, 2, 5, 5))
    q.processAllAvailable()
    val first = spark.table("scd2s").collect()
    assert(first.length == 1)
    assert(first.head.getAs[Long]("user_id") == 7 && first.head.getAs[Long]("tier") == 0)
    assert(first.head.getAs[Long]("valid_from_ms") == t(0))
    assert(first.head.getAs[Long]("valid_to_ms") == t(2))
    assert(!first.head.getAs[Boolean]("is_current"))
    // a within-batch double change (out-of-order addData order) closes
    // two chained intervals in (ts, event_id) order
    in.addData(upd(7, 4, 7, 0), upd(7, 3, 6, 2))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("scd2s").collect().sortBy(_.getAs[Long]("valid_from_ms"))
    assert(rows.length == 3)
    assert(rows.map(r => (r.getAs[Long]("tier"), r.getAs[Long]("valid_from_ms"),
      r.getAs[Long]("valid_to_ms"))).toSeq ==
      Seq((0L, t(0), t(2)), (1L, t(2), t(3)), (2L, t(3), t(4))),
      "intervals must chain through the sorted within-batch fold")
  }

  test("scd2 stream emits the open interval as a current row when the key idles past retention") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.TierUpdate
    def upd(uid: Long, ts: String, id: Long, tier: Long) =
      TierUpdate(uid, java.sql.Timestamp.valueOf(ts), id, tier)
    val in = MemoryStream[TierUpdate]
    val q = Streams.scd2Stream(in.toDS())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("scd2_idle").start()
    in.addData(upd(7, "2024-01-01 10:00:00", 1, 0), upd(7, "2024-01-01 10:05:00", 2, 1))
    q.processAllAvailable()
    // user 8's traffic moves the watermark past user 7's newest update
    // + 7 days; a second batch runs with that watermark
    in.addData(upd(8, "2024-01-09 12:00:00", 3, 5))
    q.processAllAvailable()
    in.addData(upd(8, "2024-01-09 12:01:00", 4, 5))
    q.processAllAvailable(); q.stop()
    val current = spark.table("scd2_idle").collect().filter(_.getAs[Boolean]("is_current"))
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("tier"), r.getAs[Long]("valid_from_ms"),
        r.isNullAt(r.fieldIndex("valid_to_ms")))).toSeq
    val since = java.sql.Timestamp.valueOf("2024-01-01 10:05:00").getTime
    assert(current == Seq((7L, 1L, since, true)),
      s"expected user 7's open tier-1 interval as its final current row, got $current")
  }

  test("markov stream chains steps exactly like the batch lead rule") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00").getTime
    val in = MemoryStream[Ev]
    val q = Streams.markovStream(in.toDS())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("mkv").start()
    // out-of-order addData within the batch: the fold must apply the
    // batch op's (ts, event_id) order, yielding view→click not click→view
    in.addData(ev(2, 1, 1, "click", 0.0), ev(1, 0, 1, "view", 0.0), ev(3, 0, 2, "view", 0.0))
    q.processAllAvailable()
    val first = spark.table("mkv").collect()
    assert(first.length == 1, "two events → one step; user 2's single event emits none")
    assert(first.head.getAs[Long]("user_id") == 1L &&
      first.head.getAs[String]("cur_type") == "view" &&
      first.head.getAs[String]("next_type") == "click" &&
      first.head.getAs[Long]("ts_ms") == t(1))
    // next batch chains from state: user 1 click→purchase, user 2 view→view
    in.addData(ev(4, 2, 1, "purchase", 0.0), ev(5, 5, 2, "view", 0.0))
    q.processAllAvailable(); q.stop()
    val steps = spark.table("mkv").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("cur_type"),
        r.getAs[String]("next_type"))).toSet
    assert(steps == Set((1L, "view", "click"), (1L, "click", "purchase"),
      (2L, "view", "view")), s"unexpected step set $steps")
  }

  test("weighted reservoir keeps the A-Res top-k with the batch op's exact key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocArrival
    // key parity: the JVM fold computes bit-identical keys to the
    // batch column expression (corpus_weighted_sample's es_key)
    val batch = SparkEntry.queries("corpus_weighted_sample")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(batch.nonEmpty)
    for (r <- batch.take(25))
      assert(Streams.aresKey(r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars")) ==
        r.getAs[Double]("es_key"), s"key mismatch for doc ${r.getAs[Long]("doc_id")}")
    // reservoir behavior: k=2 keeps the two largest keys, idempotently
    def arr(id: Long, w: Long) = DocArrival(
      "web", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), id, w)
    val docs = Seq(arr(1, 100), arr(2, 5000), arr(3, 700), arr(4, 1234))
    val expected = docs.map(d => (Streams.aresKey(d.doc_id, d.weight), d.doc_id))
      .sortBy { case (key, id) => (-key, id) }.take(2).map(_._2).toSet
    val in = MemoryStream[DocArrival]
    val q = Streams.weightedReservoir(in.toDS(), k = 2)
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .format("memory").queryName("rsv").start()
    in.addData(docs: _*)
    q.processAllAvailable()
    val sample = spark.table("rsv").collect()
    assert(sample.length == 2, "one emission of the k-slot reservoir")
    assert(sample.map(_.getAs[Long]("doc_id")).toSet == expected)
    // redelivery folds idempotently: same doc -> same key -> no change,
    // and an unchanged reservoir emits nothing
    in.addData(arr(2, 5000))
    q.processAllAvailable(); q.stop()
    assert(spark.table("rsv").count() == 2, "redelivery must not re-emit or duplicate")
  }

  test("streaming anomalies flag hours that breach the batch baseline") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val baseline = Seq(("view", 2.0, 1.0)).toDF("event_type", "mean", "sd")
    val in = MemoryStream[Ev]
    def at(id: Long, hm: String) =
      Ev(id, java.sql.Timestamp.valueOf(s"2024-01-01 $hm:00"), 1L, "view", 1.0)
    // hour 10: 2 views (z=0, calm); hour 11: 6 views (z=4, anomalous)
    in.addData(at(1, "10:00"), at(2, "10:10"))
    in.addData((3 to 8).map(i => at(i, f"11:0$i")): _*)
    val q = Streams
      .anomalyStream(in.toDF(), baseline)
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
      .format("memory").queryName("anom").start()
    q.processAllAvailable(); q.stop()
    val byCnt = spark.table("anom").collect()
      .map(r => r.getAs[Long]("cnt") -> (r.getAs[Double]("z"), r.getAs[Int]("flagged"))).toMap
    assert(byCnt(2L) == ((0.0, 0)), s"calm hour misflagged: $byCnt")
    assert(byCnt(6L) == ((4.0, 1)), s"anomalous hour missed: $byCnt")
  }

  test("incremental per-user counters accumulate across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streams
      .incrementalCounts(in.toDS())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .format("memory").queryName("ic").start()
    in.addData(ev(1, 0, 7, "view", 1.5), ev(2, 1, 7, "click", 2.5))
    q.processAllAvailable()
    in.addData(ev(3, 2, 7, "purchase", 6.0))
    q.processAllAvailable(); q.stop()
    val last = spark.table("ic").collect().filter(_.getAs[Long]("user_id") == 7)
      .maxBy(_.getAs[Long]("n_events"))
    assert(last.getAs[Long]("n_events") == 3)
    assert(math.abs(last.getAs[Double]("total_value") - 10.0) < 1e-9)
    assert(last.getAs[Long]("last_event_id") == 3)
  }

  test("incremental counters: a late event does not shorten a user's retention") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(id: Long, ts: String, uid: Long) =
      Ev(id, java.sql.Timestamp.valueOf(ts), uid, "view", 1.0)
    val in = MemoryStream[Ev]
    val q = Streams
      .incrementalCounts(in.toDS())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .format("memory").queryName("ic_late").start()
    in.addData(at(1, "2024-01-08 10:00:00", 7))
    q.processAllAvailable()
    in.addData(at(2, "2024-01-08 09:30:00", 7)) // late, inside the 1-hour lateness
    q.processAllAvailable()
    // user 9's traffic moves the watermark to Jan 15 09:45: past the late
    // event + 7 days, not past the newest event + 7 days (Jan 15 10:00)
    in.addData(at(3, "2024-01-15 10:45:00", 9))
    q.processAllAvailable()
    in.addData(at(4, "2024-01-15 10:46:00", 9))
    q.processAllAvailable()
    in.addData(at(5, "2024-01-15 09:50:00", 7)) // still inside user 7's window
    q.processAllAvailable(); q.stop()
    val last = spark.table("ic_late").collect()
      .filter(r => r.getAs[Long]("user_id") == 7L && r.getAs[Long]("last_event_id") == 5L)
      .map(_.getAs[Long]("n_events")).toSeq
    assert(last == Seq(3L), s"user 7's counter was evicted early: $last")
  }

  test("keyed state survives a stop and restart from the checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tempDir("graft_restart").toString
    val in = MemoryStream[Ev]
    // the memory sink refuses checkpoint recovery; foreachBatch is the
    // recoverable sink shape (same as the profile-upsert merge path)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double)]()
    def start() = Streams
      .incrementalCounts(in.toDS())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.UserCounts], _: Long) =>
        batch.collect().foreach(u => seen.add((u.user_id, u.n_events, u.total_value)))
      }
      .start()
    val q1 = start()
    in.addData(ev(1, 0, 7, "view", 1.0), ev(2, 1, 7, "click", 2.0))
    q1.processAllAvailable(); q1.stop()
    // a NEW query instance over the same checkpoint must resume the
    // counter at 2, not restart at 0 — this is the property that makes
    // executor/driver loss survivable on a cluster
    val q2 = start()
    in.addData(ev(3, 2, 7, "purchase", 4.0))
    q2.processAllAvailable(); q2.stop()
    import scala.jdk.CollectionConverters._
    val last = seen.asScala.filter(_._1 == 7L).maxBy(_._2)
    assert(last._2 == 3, s"state did not survive the restart: $last")
    assert(math.abs(last._3 - 7.0) < 1e-9)
  }

  test("stateful streams run on the RocksDB state store (the large-state provider)") {
    // The default HDFS-backed provider keeps every key in executor heap;
    // at 100 TB of per-user state that is an OOM. RocksDB spills state
    // to local disk with the same exactly-once semantics — flipping the
    // provider must not change results.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev]
      val q = Streams
        .incrementalCounts(in.toDS())
        .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
        .format("memory").queryName("ic_rocks").start()
      in.addData(ev(1, 0, 7, "view", 1.5), ev(2, 1, 7, "click", 2.5))
      q.processAllAvailable()
      in.addData(ev(3, 2, 7, "purchase", 6.0))
      q.processAllAvailable(); q.stop()
      val last = spark.table("ic_rocks").collect().filter(_.getAs[Long]("user_id") == 7)
        .maxBy(_.getAs[Long]("n_events"))
      assert(last.getAs[Long]("n_events") == 3)
      assert(math.abs(last.getAs[Double]("total_value") - 10.0) < 1e-9)
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming corpus intake gates quality and dedups by content hash") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 30 distinct words + English stopwords so the language gate passes
    val long = ((1 to 30).map(i => s"word$i") ++ Seq("the", "of", "and", "to", "in")).mkString(" ")
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = Streams
      .corpusIntakeStream(in.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("ci").start()
    val t = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    in.addData((1L, t, long), (2L, t, "too short"), (3L, t, long)) // 3 = exact dup of 1
    q.processAllAvailable(); q.stop()
    val ids = spark.table("ci").collect().map(_.getAs[Long]("doc_id")).sorted
    assert(ids.length == 1, s"got ${ids.toSeq}") // short doc gated, dup dropped
  }

  private def like(minute: Int, uid: Long, pid: Long) =
    Streams.Like(java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), uid, pid)

  test("likes-graph counts dedup double-likes and redeliveries like the reference bitmap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.Like]
    val q = Streams
      .likesGraphStream(in.toDS())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .format("memory").queryName("lg").start()
    in.addData(like(0, 1, 100), like(1, 2, 100), like(0, 1, 100), like(2, 1, 200))
    q.processAllAvailable()
    in.addData(like(3, 3, 100), like(1, 2, 100)) // one new liker, one cross-batch redelivery
    q.processAllAvailable(); q.stop()
    val latest = spark.table("lg").collect()
      .groupBy(_.getAs[Long]("post_id")).map { case (p, rs) => p -> rs.map(_.getAs[Long]("n_likes")).max }
    assert(latest(100L) == 3) // u1, u2, u3 — double-likes collapsed
    assert(latest(200L) == 1)
  }

  test("likes-graph state evicts posts idle past the retention horizon") {
    // the reference drops >7-day posts and their like entries
    // (clean_up_old_posts, main.rs:4008); here the per-post count state
    // times out on event time: once the watermark passes
    // <last like + 7 days>, the key is gone, and a later like restarts
    // the count at 1 instead of resuming the stale counter.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(day: Int, hm: String, uid: Long, pid: Long) =
      Streams.Like(java.sql.Timestamp.valueOf(f"2024-01-$day%02d $hm:00"), uid, pid)
    val in = MemoryStream[Streams.Like]
    val q = Streams
      // compressed-time test: a short lateness window lets the 9-day
      // event gap drive the watermark past the retention timeout; the
      // production default is the full retention window (see scaladoc)
      .likesGraphStream(in.toDS(), lateness = "1 hour")
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .format("memory").queryName("lg_ttl").start()
    in.addData(at(1, "10:00", 1, 100)) // post 100 liked on Jan 1
    q.processAllAvailable()
    in.addData(at(10, "10:00", 5, 900)) // unrelated traffic advances event time to Jan 10
    q.processAllAvailable()
    in.addData(at(10, "11:00", 6, 900)) // watermark now ≈ Jan 10 — past Jan 1 + 7 days
    q.processAllAvailable()
    in.addData(at(10, "12:00", 2, 100)) // post 100 re-liked AFTER eviction
    q.processAllAvailable(); q.stop()
    val p100 = spark.table("lg_ttl").collect()
      .filter(_.getAs[Long]("post_id") == 100L).map(_.getAs[Long]("n_likes"))
    // last emission restarts at 1 — the stale pre-retention count (which
    // would make it 2) was evicted, matching the reference's re-seen-post
    // behavior after cleanup
    assert(p100.last == 1L, s"expected restart at 1 after eviction, got ${p100.toSeq}")
  }

  test("likes-graph: a late like at the default 7-day lateness does not shorten a post's retention") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(ts: String, uid: Long, pid: Long) =
      Streams.Like(java.sql.Timestamp.valueOf(ts), uid, pid)
    val in = MemoryStream[Streams.Like]
    val q = Streams
      .likesGraphStream(in.toDS())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .format("memory").queryName("lg_late").start()
    in.addData(at("2024-01-08 10:00:00", 1, 100))
    q.processAllAvailable()
    in.addData(at("2024-01-02 10:00:00", 2, 100)) // six days late, inside the lateness
    q.processAllAvailable()
    // post 900's likes move the watermark to Jan 10: past the late like
    // + 7 days, not past post 100's newest like + 7 days (Jan 15)
    in.addData(at("2024-01-17 10:00:00", 5, 900))
    q.processAllAvailable()
    in.addData(at("2024-01-17 10:01:00", 6, 900))
    q.processAllAvailable()
    in.addData(at("2024-01-11 10:00:00", 3, 100))
    q.processAllAvailable(); q.stop()
    val p100 = spark.table("lg_late").collect()
      .filter(_.getAs[Long]("post_id") == 100L).map(_.getAs[Long]("n_likes"))
    assert(p100.max == 3L, s"post 100's count was evicted early: ${p100.toSeq}")
  }

  test("likes-graph handles a hot post (100k likers in one key) with O(1) state") {
    // round-3 shape held the full liker set in ONE state value and
    // rebuilt it per batch (the 80 MB-per-viral-post hot-spot); the
    // fixed shape folds the batch iterator into a count and never
    // materializes a set, so a hot key costs the same bytes as a cold
    // one. This pins correctness at 100k likers plus a 50k-redelivery
    // batch — which also exercises the pair-dedup path at volume.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val in = MemoryStream[Streams.Like]
    val q = Streams
      .likesGraphStream(in.toDS())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .format("memory").queryName("lg_hot").start()
    in.addData((0L until 100000L).map(u => Streams.Like(t, u, 7L)))
    q.processAllAvailable()
    // 50k redeliveries + one genuinely new liker
    in.addData((0L until 50000L).map(u => Streams.Like(t, u, 7L)) :+ Streams.Like(t, 100000L, 7L))
    q.processAllAvailable(); q.stop()
    val counts = spark.table("lg_hot").collect()
      .filter(_.getAs[Long]("post_id") == 7L).map(_.getAs[Long]("n_likes"))
    assert(counts.max == 100001L, s"expected 100001 distinct likers, got ${counts.toSeq}")
  }

  test("likes counts serve from a state-store read") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tempDir("graft_likes_state").toString
    val in = MemoryStream[Streams.Like]
    val q = Streams
      .likesGraphStream(in.toDS())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("lg_state").start()
    in.addData(like(0, 1, 100), like(1, 2, 100), like(2, 3, 200))
    q.processAllAvailable(); q.stop()
    val counts = Streams.readLikesState(spark, ckpt).collect()
      .map(p => p.post_id -> p.n_likes).toMap
    assert(counts == Map(100L -> 2L, 200L -> 1L), s"state read wrong: $counts")
  }

  test("stream-stream interval join matches likes to posts inside the retention window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def like(min: Int, uid: Long, post: Long) =
      Streams.Like(java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00"), uid, post)
    val posts = MemoryStream[Ev]
    val likes = MemoryStream[Streams.Like]
    val q = Streams
      .likesJoinPostsStream(posts.toDS(), likes.toDS())
      .writeStream.format("memory").queryName("ssj").start()
    posts.addData(ev(100, 0, 1, "post", 0.0), ev(200, 5, 2, "post", 0.0))
    likes.addData(
      like(10, 7, 100), // in-window like → must join
      like(12, 8, 100), // second liker, same post
      like(2, 9, 200), // BEFORE the post's timestamp → must not join
      like(10, 9, 999)) // like for an unknown post → must not join
    q.processAllAvailable(); q.stop()
    val rows = spark.table("ssj").collect()
      .map(r => (r.getAs[Long]("post_id"), r.getAs[Long]("liker"))).toSet
    assert(rows == Set((100L, 7L), (100L, 8L)), s"unexpected join rows: $rows")
  }

  test("left-outer stream-stream join emits never-liked posts once their window closes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def like(day: Int, uid: Long, post: Long) =
      Streams.Like(java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:00:00"), uid, post)
    def post(id: Long, day: Int, author: Long) =
      Ev(id, java.sql.Timestamp.valueOf(f"2024-01-$day%02d 09:00:00"), author, "post", 0.0)
    val posts = MemoryStream[Ev]
    val likes = MemoryStream[Streams.Like]
    val q = Streams
      .likesJoinPostsStream(posts.toDS(), likes.toDS(), joinType = "leftOuter")
      .writeStream.format("memory").queryName("ssjo").start()
    posts.addData(post(100, 1, 1), post(200, 1, 2)) // day 1: one will be liked, one never
    likes.addData(like(2, 7, 100))
    q.processAllAvailable()
    // advance both watermarks past post_ts + 7d + lateness so the
    // unmatched post's join window provably closes
    posts.addData(post(999, 20, 9))
    likes.addData(like(20, 9, 999))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("ssjo").collect()
      .map(r => (r.getAs[Long]("post_id"), Option(r.getAs[Any]("liker")))).toSet
    assert(rows.contains((100L, Some(7L))), "matched like must join")
    assert(rows.contains((200L, None)), "never-liked post must surface with a null liker")
  }

  test("wire payload runs as a continuous query: filters, dedup and score on the stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.{Binding, PipelineJson}
    import org.apache.spark.sql.functions.col
    val b = Binding(
      "event_id", "user_id", "ts", "value", 0L,
      Map("text" -> Seq("event_type")), Map("value" -> col("value")))
    val payload =
      """{"blocks":[
        |  {"type":"input","inputType":"firehose","firehoseSeconds":604800},
        |  {"type":"remove","subject":"duplicates"},
        |  {"type":"regex","target":"text","value":"view|click"},
        |  {"type":"where","value":"value >= 2"},
        |  {"type":"score","scoreType":"add","from":"like_count","normalize":false}
        |]}""".stripMargin
    val in = MemoryStream[Ev]
    val q = PipelineJson
      .runStreaming(in.toDF(), payload, b)
      .writeStream.format("memory").queryName("wirestream").start()
    in.addData(
      ev(1, 0, 1, "view", 5.0), // passes: view, value >= 2
      ev(1, 0, 1, "view", 5.0), // exact redelivery → deduped
      ev(2, 1, 1, "click", 1.0), // dropped: value < 2
      ev(3, 2, 2, "purchase", 9.0), // dropped: regex
      ev(4, 3, 2, "click", 4.0)) // passes
    q.processAllAvailable(); q.stop()
    val rows = spark.table("wirestream").collect()
    assert(rows.map(_.getAs[Long]("event_id")).sorted.toSeq == Seq(1L, 4L))
    // score block ran on the stream: like_count (value) became score
    rows.foreach(r => assert(r.getAs[Double]("score") == r.getAs[Double]("value")))

    // bounded-working-set blocks are rejected with a pointer, not run
    val err = intercept[IllegalArgumentException] {
      PipelineJson.runStreaming(
        in.toDF(),
        """{"blocks":[
          |  {"type":"input","inputType":"firehose","firehoseSeconds":60},
          |  {"type":"limit","count":10}
          |]}""".stripMargin,
        b)
    }
    assert(err.getMessage.contains("streamingFeed"))
  }

  test("streaming duplicates: keep and remove both dedup on the stream, like the batch runner") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.{Binding, PipelineJson}
    val b = Binding("event_id", "user_id", "ts", "value", 0L, Map.empty, Map.empty)
    for (verb <- Seq("keep", "remove")) {
      val in = MemoryStream[Ev]
      val q = PipelineJson
        .runStreaming(
          in.toDF(),
          s"""{"blocks":[{"type":"input","inputType":"firehose"},{"type":"$verb","subject":"duplicates"}]}""",
          b)
        .writeStream.format("memory").queryName(s"wiredup_$verb").start()
      in.addData(ev(1, 0, 1, "view", 5.0), ev(1, 0, 1, "view", 5.0), ev(2, 1, 1, "view", 1.0))
      q.processAllAvailable(); q.stop()
      val ids = spark.table(s"wiredup_$verb").collect().map(_.getAs[Long]("event_id")).sorted.toSeq
      assert(ids == Seq(1L, 2L), s"$verb duplicates: $ids")
    }
  }

  test("likes-graph upsert feed emits each (post, liker) edge exactly once") {
    // the liker SET lives in this deduped edge stream (append it to a
    // sink keyed by (post, user) and you have the distributed bitmap),
    // not in the per-post state
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.Like]
    val q = Streams
      .likesGraphUpserts(in.toDS())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("lg_up").start()
    in.addData(like(0, 1, 100), like(0, 1, 100), like(1, 2, 100))
    q.processAllAvailable()
    in.addData(like(2, 1, 100), like(3, 1, 300)) // redelivery + new edge
    q.processAllAvailable(); q.stop()
    val edges = spark.table("lg_up").collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("post_id")))
    assert(edges.length == edges.distinct.length, s"duplicate edges: ${edges.toSeq}")
    assert(edges.toSet == Set((1L, 100L), (2L, 100L), (1L, 300L)))
  }

  test("profile ingestion is latest-wins under out-of-order delivery") {
    // run_profiles_query (main.rs:3369) overwrites the in-memory map in
    // poll order; distributed arrival order is not fetch order, so the
    // upsert keys on fetched_at — an older snapshot arriving late must
    // not clobber a newer one.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def prof(minute: Int, uid: Long, handle: String) =
      Streams.ProfileRow(java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), uid, handle, s"Display $handle")
    val in = MemoryStream[Streams.ProfileRow]
    val q = Streams
      .profilesUpsertStream(in.toDS())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .format("memory").queryName("pu").start()
    in.addData(prof(30, 1, "alice_new"), prof(0, 2, "bob"))
    q.processAllAvailable()
    in.addData(prof(10, 1, "alice_old"), prof(5, 2, "bob_newer")) // u1: STALE, u2: newer
    q.processAllAvailable(); q.stop()
    val rows = spark.table("pu").collect()
    val u1 = rows.filter(_.getAs[Long]("user_id") == 1L)
    // the stale snapshot produced no update row at all
    assert(u1.map(_.getAs[String]("handle")).toSeq == Seq("alice_new"))
    val u2 = rows.filter(_.getAs[Long]("user_id") == 2L)
      .maxBy(_.getAs[java.sql.Timestamp]("fetched_at").getTime)
    assert(u2.getAs[String]("handle") == "bob_newer")
  }

  test("profile ingestion feeds the enrichment dimension via foreachBatch merge") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def prof(minute: Int, uid: Long, handle: String) =
      Streams.ProfileRow(java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), uid, handle, s"Display $handle")
    val dim = scala.collection.concurrent.TrieMap[Long, String]()
    val in = MemoryStream[Streams.ProfileRow]
    val q = Streams
      .profilesUpsertStream(in.toDS())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Streams.ProfileRow], _: Long) =>
        batch.collect().foreach(p => dim.put(p.user_id, p.handle)); ()
      }
      .start()
    in.addData(prof(0, 1, "alice"))
    q.processAllAvailable()
    in.addData(prof(10, 1, "alice_renamed"), prof(0, 3, "carol"))
    q.processAllAvailable(); q.stop()
    assert(dim(1L) == "alice_renamed" && dim(3L) == "carol")
  }

  test("streaming trending tags counts words per window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String)]
    in.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "spark engine query engine"),
      (java.sql.Timestamp.valueOf("2024-01-01 10:30:00"), "query engine"))
    val q = Streams
      .trendingTagsStream(in.toDF().toDF("ts", "text"))
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
      .format("memory").queryName("tt").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("tt").collect()
    val engineCounts = rows.filter(_.getAs[String]("tag") == "engine").map(_.getAs[Long]("n"))
    assert(engineCounts.nonEmpty && engineCounts.max == 3)
  }

  test("streaming sessionization splits on the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    // two bursts for user 1 separated by > 30 min → two sessions
    in.addData(
      ev(1, 0, 1, "view", 1.0), ev(2, 5, 1, "view", 2.0),
      ev(3, 50, 1, "view", 4.0))
    val q = Streams
      .sessionizeStream(in.toDF())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
      .format("memory").queryName("ss").start()
    q.processAllAvailable(); q.stop()
    val sessions = spark.table("ss").collect().filter(_.getAs[Long]("user_id") == 1L)
    assert(sessions.length == 2, s"expected 2 sessions, got ${sessions.mkString(";")}")
    assert(sessions.map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(1L, 2L))
  }

  test("stateful counters survive a checkpointed stop/restart") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val src = tempDir("graft_ckpt_src").toString
    val ckpt = tempDir("graft_ckpt").toString
    val results = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()

    def startQuery() = {
      val stream = spark.readStream
        .schema(Tables.events(spark, "/root/testdata/sf0.001").schema)
        .parquet(src)
        .as[graft.streaming.Ev]
      graft.streaming.Streams
        .incrementalCounts(stream)
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.UserCounts], _: Long) =>
          results.synchronized {
            results ++= batch.collect().map(u => (u.user_id, u.n_events, u.total_value))
          }
          ()
        }
        .start()
    }

    // batch 1: two events for user 1
    Seq(
      graft.streaming.Ev(1, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1, "view", 1.0),
      graft.streaming.Ev(2, java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), 1, "view", 2.0))
      .toDS().write.mode("append").parquet(src)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    assert(results.exists(r => r._1 == 1L && r._2 == 2L))

    // restart from the checkpoint, then a third event arrives: the
    // counter must resume at 2, not restart at 0
    Seq(graft.streaming.Ev(3, java.sql.Timestamp.valueOf("2024-01-01 10:02:00"), 1, "view", 4.0))
      .toDS().write.mode("append").parquet(src)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val last = results.filter(_._1 == 1L).maxBy(_._2)
    assert(last._2 == 3L && math.abs(last._3 - 7.0) < 1e-9,
      s"state lost across restart: $results")
  }

  test("streaming feed dedups redelivered events in the top-k") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val anchor = java.sql.Timestamp.valueOf("2024-01-01 12:00:00").getTime
    val in = MemoryStream[Ev]
    val q = Streams
      .streamingFeed(in.toDS(), k = 3, anchorMs = anchor)
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .format("memory").queryName("sfd").start()
    in.addData(ev(9, 0, 8, "view", 50.0), ev(10, 1, 8, "view", 10.0))
    q.processAllAvailable()
    in.addData(ev(9, 0, 8, "view", 50.0)) // redelivery of event 9
    q.processAllAvailable(); q.stop()
    val lastBatch = spark.table("sfd").collect().filter(_.getAs[Long]("user_id") == 8L)
      .groupBy(_.getAs[Int]("rank")).map { case (r, rows) => r -> rows.last.getAs[Long]("event_id") }
    assert(lastBatch.values.toSeq.distinct.length == lastBatch.size,
      s"redelivered event occupies multiple slots: $lastBatch")
    assert(lastBatch(1) == 9L && lastBatch(2) == 10L)
  }

  test("streaming feed keeps a bounded per-user top-k across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val anchor = java.sql.Timestamp.valueOf("2024-01-01 12:00:00").getTime
    val in = MemoryStream[Ev]
    val q = Streams
      .streamingFeed(in.toDS(), k = 2, anchorMs = anchor)
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .format("memory").queryName("sf").start()
    in.addData(ev(1, 0, 5, "view", 10.0), ev(2, 1, 5, "view", 50.0))
    q.processAllAvailable()
    in.addData(ev(3, 2, 5, "view", 100.0)) // displaces event 1
    q.processAllAvailable(); q.stop()
    val last = spark.table("sf").collect()
      .filter(_.getAs[Long]("user_id") == 5)
      .groupBy(_.getAs[Int]("rank")).map { case (r, rows) => r -> rows.last.getAs[Long]("event_id") }
    assert(last(1) == 3L && last(2) == 2L, s"expected [3,2], got $last")
  }

  test("streaming feed: a late event does not shorten a user's retention") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(id: Long, ts: String, uid: Long, v: Double) =
      Ev(id, java.sql.Timestamp.valueOf(ts), uid, "view", v)
    val ckpt = tempDir("graft_feed_late").toString
    val anchor = java.sql.Timestamp.valueOf("2024-01-16 00:00:00").getTime
    val in = MemoryStream[Ev]
    val q = Streams
      .streamingFeed(in.toDS(), k = 3, anchorMs = anchor)
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("sf_late").start()
    in.addData(at(1, "2024-01-08 10:00:00", 5, 10.0))
    q.processAllAvailable()
    in.addData(at(2, "2024-01-08 09:30:00", 5, 20.0)) // late, inside the 1-hour lateness
    q.processAllAvailable()
    in.addData(at(3, "2024-01-15 10:45:00", 9, 1.0))
    q.processAllAvailable()
    in.addData(at(4, "2024-01-15 10:46:00", 9, 1.0))
    q.processAllAvailable()
    in.addData(at(5, "2024-01-15 09:50:00", 5, 30.0)) // still inside user 5's window
    q.processAllAvailable(); q.stop()
    val served = Streams.readFeedState(spark, ckpt).collect().filter(_.user_id == 5L)
    assert(served.map(_.event_id).toSet == Set(1L, 2L, 5L),
      s"user 5's feed was evicted early: ${served.toSeq}")
  }

  test("feeds serve from a state-store read, including time travel") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tempDir("graft_feed_state").toString
    val anchor = java.sql.Timestamp.valueOf("2024-01-01 12:00:00").getTime
    val in = MemoryStream[Ev]
    val q = Streams
      .streamingFeed(in.toDS(), k = 2, anchorMs = anchor)
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("sf_state").start()
    in.addData(ev(1, 0, 5, "view", 10.0), ev(2, 1, 5, "view", 50.0))
    q.processAllAvailable()
    in.addData(ev(3, 2, 5, "view", 100.0)) // displaces event 1
    q.processAllAvailable(); q.stop()

    // the served feed is a STATE READ — no stream replay, no recompute
    val served = Streams.readFeedState(spark, ckpt).collect()
      .filter(_.user_id == 5L).sortBy(_.rank)
    assert(served.map(_.event_id).toSeq == Seq(3L, 2L), s"state serve wrong: ${served.toSeq}")
    // state ranks agree with the stream's last update output
    val lastEmitted = spark.table("sf_state").collect()
      .filter(_.getAs[Long]("user_id") == 5L)
      .groupBy(_.getAs[Int]("rank")).map { case (r, rows) => r -> rows.last.getAs[Long]("event_id") }
    assert(served.map(r => r.rank -> r.event_id).toMap == lastEmitted)
    // time travel: batch 0's state still ranks event 2 first, event 1 second
    val at0 = Streams.readFeedState(spark, ckpt, batchId = Some(0L)).collect()
      .filter(_.user_id == 5L).sortBy(_.rank)
    assert(at0.map(_.event_id).toSeq == Seq(2L, 1L), s"batch-0 state wrong: ${at0.toSeq}")
  }

  test("wire payload serves end-to-end: stateless prefix -> keyed top-k -> state read") {
    // the reference's whole production loop (poll -> pipeline -> serve,
    // main.rs:3143) as one continuous system: the payload's filters run
    // on the stream, its sort-hn+limit tail IS the bounded keyed top-k,
    // and serving reads the state store — no per-request recompute
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.{Binding, PipelineJson}
    import org.apache.spark.sql.functions.col
    val ckpt = tempDir("graft_serving_feed").toString
    val anchor = java.sql.Timestamp.valueOf("2024-01-01 12:00:00").getTime
    val b = Binding(
      "event_id", "user_id", "ts", "value", 0L,
      Map("text" -> Seq("event_type")), Map("value" -> col("value")))
    val payload =
      """{"blocks":[
        |  {"type":"input","inputType":"firehose"},
        |  {"type":"regex","target":"text","value":"view|click"},
        |  {"type":"where","value":"value >= 2"},
        |  {"type":"sort","sortType":"hn","gravity":"1.8"},
        |  {"type":"limit","count":2}
        |]}""".stripMargin
    val in = MemoryStream[Ev]
    val q = PipelineJson
      .runServingFeed(in.toDF(), payload, b, anchorMs = anchor)
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("serve_loop").start()
    in.addData(
      ev(1, 0, 5, "view", 10.0),
      ev(2, 10, 5, "view", 50.0),
      ev(3, 20, 5, "purchase", 500.0), // regex-dropped: must never reach state
      ev(4, 30, 5, "click", 1.0)) // where-dropped
    q.processAllAvailable()
    in.addData(ev(5, 40, 5, "click", 100.0)) // displaces event 1 from the top-2
    q.processAllAvailable(); q.stop()
    val served = Streams.readFeedState(spark, ckpt).collect()
      .filter(_.user_id == 5L).sortBy(_.rank)
    assert(served.map(_.event_id).toSeq == Seq(5L, 2L), s"served feed wrong: ${served.toSeq}")
    // the state's scores are the hn formula the sort block declared
    def hn(minute: Int, v: Double) = {
      val ts = java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00").getTime
      v / math.pow((anchor - ts).toDouble / 3600000.0 + 2.0, 1.8)
    }
    assert(math.abs(served.head.score - hn(40, 100.0)) < 1e-9)
    assert(math.abs(served(1).score - hn(10, 50.0)) < 1e-9)
    // suffix guards stay loud: no sort, and non-hn sorts, are rejected
    intercept[IllegalArgumentException](PipelineJson.runServingFeed(
      in.toDF(),
      """{"blocks":[{"type":"input","inputType":"firehose"},{"type":"limit","count":5}]}""",
      b, anchor))
    intercept[IllegalArgumentException](PipelineJson.runServingFeed(
      in.toDF(),
      """{"blocks":[{"type":"input","inputType":"firehose"},{"type":"sort","sortType":"likes"}]}""",
      b, anchor))
  }

  test("wire serving suffix: score and created_at sorts serve from the same keyed state") {
    // the r5 gap: the reference's serving loop serves whatever the
    // payload's sort says (main.rs:1229) — score and created_at are
    // per-event-static keys, so they map onto the SAME bounded top-k
    // state as hn
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.{Binding, PipelineJson}
    import org.apache.spark.sql.functions.col
    val anchor = java.sql.Timestamp.valueOf("2024-01-01 12:00:00").getTime
    val b = Binding(
      "event_id", "user_id", "ts", "value", 0L, Map.empty, Map("value" -> col("value")))
    val data = Seq(
      ev(1, 0, 5, "view", 10.0), ev(2, 10, 5, "view", 50.0),
      ev(3, 20, 5, "view", 100.0), ev(4, 30, 5, "view", 20.0))

    def serve(name: String, payload: String): Seq[Streams.FeedRow] = {
      val ckpt = tempDir(s"graft_serve_$name").toString
      val in = MemoryStream[Ev]
      val q = PipelineJson.runServingFeed(in.toDF(), payload, b, anchorMs = anchor)
        .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
        .option("checkpointLocation", ckpt)
        .format("memory").queryName(name).start()
      in.addData(data: _*)
      q.processAllAvailable(); q.stop()
      Streams.readFeedState(spark, ckpt).collect().filter(_.user_id == 5L).sortBy(_.rank).toSeq
    }

    // sort: score — the prefix's un-normalized score add fixes each
    // event's score at arrival; state keeps the top-2 by it
    val byScore = serve("serve_score",
      """{"blocks":[
        |  {"type":"input","inputType":"firehose"},
        |  {"type":"score","from":"like_count","normalize":false},
        |  {"type":"sort","sortType":"score"},
        |  {"type":"limit","count":2}
        |]}""".stripMargin)
    assert(byScore.map(_.event_id) == Seq(3L, 2L), s"score serve wrong: $byScore")
    assert(byScore.map(_.score) == Seq(100.0, 50.0))

    // sort: created_at desc — newest two; the event time is the key
    val newest = serve("serve_newest",
      """{"blocks":[
        |  {"type":"input","inputType":"firehose"},
        |  {"type":"sort","sortType":"created_at","sortDirection":"desc"},
        |  {"type":"limit","count":2}
        |]}""".stripMargin)
    assert(newest.map(_.event_id) == Seq(4L, 3L), s"created_at desc serve wrong: $newest")

    // sort: created_at asc — the state keeps the OLDEST two
    val oldest = serve("serve_oldest",
      """{"blocks":[
        |  {"type":"input","inputType":"firehose"},
        |  {"type":"sort","sortType":"created_at","sortDirection":"asc"},
        |  {"type":"limit","count":2}
        |]}""".stripMargin)
    assert(oldest.map(_.event_id) == Seq(1L, 2L), s"created_at asc serve wrong: $oldest")

    // limit BEFORE sort is the reference's truncate-then-rank — the
    // serving compiler must refuse rather than silently reorder
    val in = MemoryStream[Ev]
    val e = intercept[IllegalArgumentException](PipelineJson.runServingFeed(
      in.toDF(),
      """{"blocks":[
        |  {"type":"input","inputType":"firehose"},
        |  {"type":"limit","count":2},
        |  {"type":"sort","sortType":"hn"}
        |]}""".stripMargin,
      b, anchor))
    assert(e.getMessage.contains("sort BEFORE limit"), e.getMessage)
  }

  test("wire serving: a posts_per_user limit without a count keeps 5 per user, as in batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.{Binding, PipelineJson}
    val anchor = java.sql.Timestamp.valueOf("2024-01-01 12:00:00").getTime
    val b = Binding("event_id", "user_id", "ts", "value", 0L, Map.empty, Map.empty)
    val ckpt = tempDir("graft_serve_per_user").toString
    val in = MemoryStream[Ev]
    val q = PipelineJson
      .runServingFeed(
        in.toDF(),
        """{"blocks":[
          |  {"type":"input","inputType":"firehose"},
          |  {"type":"sort","sortType":"created_at","sortDirection":"desc"},
          |  {"type":"limit","limitType":"posts_per_user"}
          |]}""".stripMargin,
        b, anchorMs = anchor)
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("serve_per_user").start()
    in.addData((1 to 7).map(i => ev(i, i, 5, "view", 1.0)): _*)
    q.processAllAvailable(); q.stop()
    val served = Streams.readFeedState(spark, ckpt).collect().filter(_.user_id == 5L).sortBy(_.rank)
    assert(served.map(_.event_id).toSeq == Seq(7L, 6L, 5L, 4L, 3L), s"served feed wrong: ${served.toSeq}")
  }

  test("stream-static enrichment joins the profile dimension per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val profiles = Seq((1L, "alice"), (2L, "bob")).toDF("profile_user_id", "handle")
    val in = MemoryStream[Ev]
    in.addData(ev(1, 0, 1, "view", 1.0), ev(2, 1, 9, "view", 1.0))
    val q = Streams
      .enrichWithProfiles(in.toDF(), profiles)
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("en").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("en").collect()
    assert(rows.length == 2)
    assert(rows.find(_.getAs[Long]("event_id") == 1).get.getAs[String]("handle") == "alice")
    assert(rows.find(_.getAs[Long]("event_id") == 2).get.getAs[String]("handle") == null)
  }

  test("streaming dedup drops redelivered event_ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    in.addData(ev(1, 0, 1, "view", 1.0), ev(1, 0, 1, "view", 1.0), ev(2, 1, 1, "view", 1.0))
    val q = Streams
      .streamingDedup(in.toDF())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("sd").start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("sd").select("event_id").distinct().count() ==
      spark.table("sd").count())
  }

  test("native session_window runs unchanged in batch and stream with identical sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // the SAME function on a static frame must equal the catalog op
    // (withWatermark is a no-op in batch): one operator, both modes
    val sfDir = "/root/testdata/sf0.001"
    val static = Streams.sessionizeNativeStream(Tables.events(spark, sfDir))
      .orderBy(col("user_id"), col("session_start_ms")).collect().toSeq
    val catalog = SparkEntry.queries("sessionize_native")(spark, sfDir).collect().toSeq
    assert(static == catalog, "static execution must match the catalog operator row-for-row")
    // and on a real stream, closed sessions come out row-identical
    def at(hour: Int, minute: Int, id: Long, uid: Long) =
      Ev(id, java.sql.Timestamp.valueOf(f"2024-01-01 $hour%02d:$minute%02d:00"), uid, "click", 2.5)
    val evs = Seq(at(10, 0, 1, 1), at(10, 10, 2, 1), at(11, 30, 3, 1), at(10, 5, 4, 2))
    val in = MemoryStream[Ev]
    val q = Streams.sessionizeNativeStream(in.toDF())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("sns").start()
    in.addData(evs: _*)
    q.processAllAvailable()
    in.addData(at(15, 0, 98, 9))
    q.processAllAvailable()
    in.addData(at(15, 30, 99, 9))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sns").collect()
      .filter(_.getAs[Long]("user_id") <= 2).map(_.toSeq).toSet
    val expected = Streams.sessionizeNativeStream(evs.toDF())
      .filter(col("user_id") <= 2).collect().map(_.toSeq).toSet
    assert(streamed == expected,
      s"closed streaming sessions must equal the batch run: $streamed vs $expected")
    assert(streamed.size == 3, "user 1 splits into two sessions; user 2 has one")
  }

  test("streaming HLL distinct-user counts stay within the sketch error of exact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(hour: Int, minute: Int, id: Long, uid: Long, t: String) =
      Ev(id, java.sql.Timestamp.valueOf(f"2024-01-01 $hour%02d:$minute%02d:00"), uid, t, 0.0)
    val in = MemoryStream[Ev]
    val q = Streams.distinctUsersStream(in.toDF())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("hlls").start()
    // 40 distinct users in hour 10, each seen twice (distinct ≠ count)
    val evs = (0 until 80).map(i => at(10, i % 60, 1000 + i, 1 + (i % 40), "click"))
    in.addData(evs: _*)
    q.processAllAvailable()
    in.addData(at(13, 0, 1, 999, "probe"))
    q.processAllAvailable()
    in.addData(at(13, 30, 2, 999, "probe"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("hlls").collect()
      .filter(_.getAs[String]("event_type") == "click")
    assert(rows.length == 1, s"hour-10 click window must close exactly once: ${rows.toSeq}")
    val approx = rows.head.getAs[Long]("approx_users").toDouble
    assert(math.abs(approx - 40.0) / 40.0 <= 0.15,
      s"HLL estimate $approx too far from exact 40")
  }

  test("native top-k aggregate merges through streaming state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(minute: Int, id: Long, v: Double) =
      Ev(id, java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), 1L, "click", v)
    val in = MemoryStream[Ev]
    val q = Streams.topEventsStream(in.toDS().toDF())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("tops").start()
    // the top-3 must merge across TWO batches through the state store:
    // batch 1 holds the current best (7.0) and a decoy; batch 2 brings
    // a new best and a mid value
    in.addData(at(1, 1, 7.0), at(2, 2, 1.0))
    q.processAllAvailable()
    in.addData(at(3, 3, 9.0), at(4, 4, 5.0))
    q.processAllAvailable()
    in.addData(Ev(99, java.sql.Timestamp.valueOf("2024-01-01 13:00:00"), 9L, "probe", 0.0))
    q.processAllAvailable()
    in.addData(Ev(98, java.sql.Timestamp.valueOf("2024-01-01 13:30:00"), 9L, "probe", 0.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("tops").collect()
      .filter(_.getAs[String]("event_type") == "click")
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("value"))).toSeq
    assert(rows == Seq((3L, 9.0), (1L, 7.0), (4L, 5.0)),
      s"cross-batch merged top-3 must rank 9 > 7 > 5: $rows")
  }

  test("ewma stream emits closed hours bit-identical to the batch smoother") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(hour: Int, minute: Int, id: Long, t: String) =
      Ev(id, java.sql.Timestamp.valueOf(f"2024-01-01 $hour%02d:$minute%02d:00"), 1L, t, 0.0)
    val in = MemoryStream[Ev]
    val q = Streams.ewmaStream(in.toDS())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("ewm").start()
    // 4 clicks in hour 10, 2 in hour 11 — nothing closed yet (wm unset)
    val clicks = Seq(at(10, 1, 1, "click"), at(10, 2, 2, "click"), at(10, 3, 3, "click"),
      at(10, 4, 4, "click"), at(11, 1, 5, "click"), at(11, 2, 6, "click"))
    in.addData(clicks: _*)
    q.processAllAvailable()
    assert(spark.table("ewm").collect().isEmpty, "no hour can close before the watermark moves")
    // probes at 13:00/13:10 advance the watermark to 12:00 then 12:10
    // (1h lateness); a timeout due at T fires in the first batch whose
    // START watermark has passed T — watermarks advance between
    // batches, so the SECOND probe's batch flushes hours 10 and 11
    in.addData(at(13, 0, 99, "probe"))
    q.processAllAvailable()
    in.addData(at(13, 10, 98, "probe"))
    q.processAllAvailable()
    val wave1 = spark.table("ewm").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hb"),
        r.getAs[Long]("x"), r.getAs[Double]("ewma"))).toSet
    val h10 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime / 3600000L
    assert(wave1 == Set(("click", h10, 4L, 1.2), ("click", h10 + 1, 2L, 1.44)),
      s"wave 1 must flush exactly hours 10 and 11: $wave1")
    // hour-12 click arrives AFTER hours 10/11 were emitted (but is not
    // late: 12:30 >= wm 12:10); its smoothing must still see hours
    // 10/11 through the retained bucket state
    in.addData(at(12, 30, 7, "click"))
    q.processAllAvailable()
    in.addData(at(16, 0, 100, "probe"))
    q.processAllAvailable()
    in.addData(at(16, 30, 101, "probe"))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ewm").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hb"),
        r.getAs[Long]("x"), r.getAs[Double]("ewma"))).toSet
    // w0*1 + w1*2 + w2*4 = 0.3 + 0.42 + 0.588 over the carried state
    assert(streamed.contains(("click", h10 + 2, 1L, 1.308)),
      s"hour-12 smoothing must see hours 10/11 through state: $streamed")
    // whole-run parity: every emitted row equals the batch smoother
    // over all events, restricted to hours the final emission watermark
    // (15:00, from the 16:00 probe) had closed
    val allEvents = clicks ++ Seq(at(13, 0, 99, "probe"), at(13, 10, 98, "probe"),
      at(12, 30, 7, "click"), at(16, 0, 100, "probe"), at(16, 30, 101, "probe"))
    val emissionWm = at(16, 0, 100, "probe").ts.getTime - 3600000L
    val batch = graft.queries.BehaviorOps
      .ewmaHourlyOver(allEvents.toDF())
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hb"),
        r.getAs[Long]("x"), r.getAs[Double]("ewma")))
      .filter { case (_, hb, _, _) => (hb + 1) * 3600L * 1000L <= emissionWm }
      .toSet
    assert(streamed == batch, s"stream/batch divergence: $streamed vs $batch")
  }

  test("indexed intake stream dedups each micro-batch against the one persisted history") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idx = tempDir("graft_sidx").toString
    graft.sources.Sources.buildHashIndex(
      Seq((1L, "seed history document", "web")).toDF("doc_id", "text", "source"), idx)
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, String, String)]
    val q = Streams
      .indexedIntakeStream(in.toDF().toDF("doc_id", "text", "source"), idx) { b =>
        admitted ++= b.select("doc_id").collect().map(_.getLong(0)); ()
      }
      .start()
    // batch 1: a dup of history (drops), a fresh doc (admitted)
    in.addData((10L, "seed history document", "mirror"), (11L, "genuinely new text", "web"))
    q.processAllAvailable()
    assert(admitted.sorted.toSeq == Seq(11L), s"got $admitted")
    // batch 2: re-delivery of batch 1 (nothing admitted — 11 is in the
    // index now) plus one new doc
    in.addData((10L, "seed history document", "mirror"), (11L, "genuinely new text", "web"),
      (12L, "another fresh doc", "web"))
    q.processAllAvailable(); q.stop()
    assert(admitted.sorted.toSeq == Seq(11L, 12L), s"got $admitted")
  }

  test("link-domain counts stream equals the batch histogram once drained") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val raws = graft.sources.Firehose
      .synthPostRecords(Tables.events(spark, dir))
      .select(col("raw")).as[String].collect().toSeq
    val in = MemoryStream[String]
    val q = Streams
      .linkDomainsStream(in.toDF().select(col("value").as("raw")))
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
      .format("memory").queryName("ldom").start()
    // two micro-batches: the counts must fold across batches
    val (a, b) = raws.splitAt(raws.length / 2)
    in.addData(a); q.processAllAvailable()
    in.addData(b); q.processAllAvailable(); q.stop()
    val streamed = spark.table("ldom").collect()
      .map(r => (r.getAs[String]("domain"), r.getAs[Long]("n"))).toSet
    val batch = graft.queries.Round8Ops.postLinkDomains(spark, dir).collect()
      .map(r => (r.getAs[String]("domain"), r.getAs[Long]("n"))).toSet
    assert(streamed == batch, s"stream/batch divergence: $streamed vs $batch")
  }

  test("streamed daily HLL sketches serve the identical sliding MAU curve") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val evs = Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq.sortBy(_.ts.getTime)
    val in = MemoryStream[Ev]
    val q = Streams.mauSketchStream(in.toDF())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
      .format("memory").queryName("mausk").start()
    // split MID-DAY so at least one day's sketch must merge partials
    // across micro-batches through the state store
    val (a, b) = evs.splitAt(evs.length / 2)
    in.addData(a: _*); q.processAllAvailable()
    in.addData(b: _*); q.processAllAvailable(); q.stop()
    val served = graft.queries.Round10Ops
      .slidingMauFromSketches(spark.table("mausk"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val batch = SparkEntry.queries("mau_hll_sliding")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(served == batch,
      "register-max union is order-free: streamed state must serve the batch curve exactly")
  }

  test("CDC state stream drains to the batch merge snapshot, tombstones included") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val evs = Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    val in = MemoryStream[Ev]
    val q = Streams.cdcStateStream(in.toDS())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .format("memory").queryName("cdcst").start()
    // mid-stream split: version resolution must survive the state store
    val (a, b) = evs.splitAt(evs.length / 2)
    in.addData(a: _*); q.processAllAvailable()
    in.addData(b: _*); q.processAllAvailable(); q.stop()
    // live table = latest emission per key (n_ops is per-key monotone),
    // visible rows only — exactly how a sink applies update+delete marks
    val live = spark.table("cdcst").collect()
      .groupBy(_.getAs[Long]("user_id"))
      .map { case (uid, rows) => rows.maxBy(_.getAs[Long]("n_ops")) }
      .filter(_.getAs[Boolean]("visible"))
      .map(r => (r.getAs[Long]("user_id"),
        math.round(r.getAs[Double]("last_value") * 1e4) / 1e4.toDouble,
        r.getAs[Long]("last_ts_ms"), r.getAs[Long]("n_ops")))
      .toSet
    val batch = SparkEntry.queries("cdc_apply")(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("last_value"),
        r.getAs[Long]("last_ts_ms"), r.getAs[Long]("n_ops"))).toSet
    assert(live == batch, s"drained CDC state must equal the batch snapshot")
  }

  test("funnel stream emits ordered level transitions and honors the window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(h: Int, u: Long, id: Long, t: String) = Ev(
      id, java.sql.Timestamp.valueOf(f"2024-01-01 ${h}%02d:00:00"), u, t, 0.0)
    val in = MemoryStream[Ev]
    val q = Streams.funnelStream(in.toDS())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("fnl").start()
    in.addData(
      // user 1 completes in order: levels 1, 2, 3
      at(0, 1, 1, "view"), at(1, 1, 2, "click"), at(2, 1, 3, "purchase"),
      // user 2: purchase BEFORE any click never reaches 3
      at(0, 2, 4, "view"), at(1, 2, 5, "purchase"), at(2, 2, 6, "click"),
      // user 3: click alone opens nothing
      at(0, 3, 7, "click"))
    q.processAllAvailable(); q.stop()
    val got = spark.table("fnl").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("level"))).toSet
    assert(got == Set((1L, 1), (1L, 2), (1L, 3), (2L, 1), (2L, 2)),
      s"unexpected transitions $got")
  }

  test("funnel stream window expiry blocks chains past the horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def at(hOff: Long, u: Long, id: Long, t: String) =
      Ev(id, new java.sql.Timestamp(base + hOff * 3600L * 1000L), u, t, 0.0)
    val in = MemoryStream[Ev]
    val q = Streams.funnelStream(in.toDS())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("fnlw").start()
    val W = graft.queries.Round11Ops.FunnelWindowHours
    in.addData(
      // click lands AFTER the view's window closed: level stays 1
      at(0, 1, 1, "view"), at(W + 8, 1, 2, "click"),
      // purchase inside the SECOND view's window chains through
      at(W + 6, 2, 3, "view"), at(W + 7, 2, 4, "click"), at(W + 9, 2, 5, "purchase"))
    q.processAllAvailable(); q.stop()
    val got = spark.table("fnlw").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("level"))).toSet
    assert(got == Set((1L, 1), (2L, 1), (2L, 2), (2L, 3)),
      s"unexpected transitions $got")
  }

  test("psi stream served over drained counts equals the batch psi_drift table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // the SAME data-derived split rule the batch op applies
    val evDf = Tables.events(spark, dir)
    val span = evDf.agg(
      org.apache.spark.sql.functions.min(to_date(col("ts"))).as("lo"),
      org.apache.spark.sql.functions.max(to_date(col("ts"))).as("hi")).head()
    val (lo, hi) = (span.getDate(0), span.getDate(1))
    val half = evDf
      .withColumn("dd", datediff(to_date(col("ts")), lit(lo)))
      .withColumn("secondHalf", col("dd") * 2 > lit(hi.toLocalDate.toEpochDay - lo.toLocalDate.toEpochDay))
    val secondHalf = half.filter(col("secondHalf"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    val in = MemoryStream[Ev]
    val q = Streams.psiCountsStream(in.toDF())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
      .format("memory").queryName("psict").start()
    val (a, b) = secondHalf.splitAt(secondHalf.length / 2)
    in.addData(a: _*); q.processAllAvailable()
    in.addData(b: _*); q.processAllAvailable(); q.stop()
    val served = Streams.psiFromCounts(
      graft.queries.MonitorOps.psiBaseline(spark, dir), spark.table("psict"))
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("psi_drift")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(served == batch,
      s"served drift table must equal batch psi_drift: $served vs $batch")
  }

  test("srm stream served from drained pair state equals the batch check") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val evs = Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    val in = MemoryStream[Ev]
    val q = Streams.srmPairsStream(in.toDF())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
      .format("memory").queryName("srmpairs").start()
    val (a, b) = evs.splitAt(evs.length / 2)
    in.addData(a: _*); q.processAllAvailable()
    in.addData(b: _*); q.processAllAvailable(); q.stop()
    val served = Streams.srmFromPairs(spark.table("srmpairs"))
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("ab_srm_check")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(served == batch, "served SRM table must equal batch ab_srm_check")
  }

  test("erasure stream tombstones take effect mid-stream and re-delivery is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val tomb = tempDir("graft_tomb_s").toString
    val ev = Tables.events(spark, dir)
    val in = MemoryStream[Long]
    val q = Streams.erasureStream(in.toDF().withColumnRenamed("value", "user_id"), tomb)
      .start()
    in.addData(0L, 7L); q.processAllAvailable()
    // effective immediately through the read path, mid-stream
    val after1 = graft.sources.Sources.readActive(
      ev, graft.sources.Sources.readTombstones(spark, tomb))
    assert(after1.filter(col("user_id").isin(0L, 7L)).count() == 0)
    in.addData(7L, 14L); q.processAllAvailable(); q.stop() // 7 re-delivered
    val tombs = graft.sources.Sources.readTombstones(spark, tomb)
    assert(tombs.count() == 3, "re-delivered request must not grow the set")
    val after2 = graft.sources.Sources.readActive(ev, tombs)
    assert(after2.filter(col("user_id").isin(0L, 7L, 14L)).count() == 0)
    assert(after2.count() == ev.filter(!col("user_id").isin(0L, 7L, 14L)).count())
  }

  test("holt forecast served over drained counts equals the batch table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val evs = Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    val in = MemoryStream[Ev]
    val q = Streams.holtCountsStream(in.toDF())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
      .format("memory").queryName("holtct").start()
    val (a, b) = evs.splitAt(evs.length / 2)
    in.addData(a: _*); q.processAllAvailable()
    in.addData(b: _*); q.processAllAvailable(); q.stop()
    val served = Streams.holtFromCounts(spark.table("holtct"))
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("holt_forecast")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(served == batch,
      s"served forecast must equal batch holt_forecast")
  }

  test("funnel stream drains to the batch window_funnel histogram") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val evs = Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    val in = MemoryStream[Ev]
    val q = Streams.funnelStream(in.toDS())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("fnlp").start()
    // mid-stream split: open windows must survive the state store
    val (a, b) = evs.splitAt(evs.length / 2)
    in.addData(a: _*); q.processAllAvailable()
    in.addData(b: _*); q.processAllAvailable(); q.stop()
    val perUser = spark.table("fnlp").collect()
      .groupBy(_.getAs[Long]("user_id"))
      .map { case (u, rows) => u -> rows.map(_.getAs[Int]("level")).max }
    val allUsers = evs.map(_.user_id).distinct
    val streamedHist = allUsers
      .map(u => perUser.getOrElse(u, 0))
      .groupBy(identity).map { case (l, us) => (l, us.size.toLong) }
    val batchHist = SparkEntry.queries("window_funnel")(spark, dir).collect()
      .map(r => (r.getAs[Int]("funnel_level"), r.getAs[Long]("n_users"))).toMap
    assert(streamedHist == batchHist,
      s"stream/batch divergence: $streamedHist vs $batchHist")
  }

  test("page-hinkley alarm served over drained counts equals the batch table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val evs = Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    val in = MemoryStream[Ev]
    val q = Streams.phCountsStream(in.toDF())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
      .format("memory").queryName("phct").start()
    val (a, b) = evs.splitAt(evs.length / 2)
    in.addData(a: _*); q.processAllAvailable()
    in.addData(b: _*); q.processAllAvailable(); q.stop()
    val served = Streams.phFromCounts(spark.table("phct"))
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("page_hinkley")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(served == batch, "served drift table must equal batch page_hinkley")
  }

  test("gumbel return levels served over drained counts equal the batch fit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val evs = Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    val in = MemoryStream[Ev]
    val q = Streams.phCountsStream(in.toDF())
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
      .format("memory").queryName("gbct").start()
    // three incremental drains: the fit must refresh as weeks close
    val (a, rest) = evs.splitAt(evs.length / 3)
    val (b, c) = rest.splitAt(rest.length / 2)
    in.addData(a: _*); q.processAllAvailable()
    val early = Streams.gumbelFromCounts(spark.table("gbct")).collect()
    assert(early.nonEmpty, "fit must be servable mid-stream")
    in.addData(b: _*); q.processAllAvailable()
    in.addData(c: _*); q.processAllAvailable(); q.stop()
    val served = Streams.gumbelFromCounts(spark.table("gbct"))
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("gumbel_return_levels")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(served == batch, "served return levels must equal the batch fit")
  }
}
