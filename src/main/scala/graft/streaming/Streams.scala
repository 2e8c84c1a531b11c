package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event row for typed stateful streaming. */
case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long, event_type: String, value: Double)

/** Running per-user aggregate state (the reference's incrementally
  * refreshed like/reply counters, main.rs:3815 run_update_counts_query,
  * re-expressed as Structured Streaming state instead of poll loops).
  */
case class UserCounts(user_id: Long, n_events: Long, total_value: Double, last_event_id: Long)

/** One attribute update for the streaming SCD2 build (§2 #101's
  * continuous twin): the tracked attribute arrives already projected.
  */
case class TierUpdate(user_id: Long, ts: java.sql.Timestamp, event_id: Long, tier: Long)

/** Open-interval state for one SCD2 key: O(1) per user. */
case class TierState(tier: Long, since_ms: Long)

/** An emitted SCD2 validity interval; valid_to_ms = None marks the
  * open (current) interval, emitted only at retention timeout — live
  * current rows are read from state, not the stream.
  */
case class TierInterval(
    user_id: Long, tier: Long, valid_from_ms: Long,
    valid_to_ms: Option[Long], is_current: Boolean)

/** One emitted user step for the streaming transition matrix (§2
  * #123's continuous twin): the user moved cur_type → next_type at
  * ts_ms. Downstream a `groupBy(cur_type, next_type).count()` in
  * update mode IS the live Markov matrix; emitting the raw step keeps
  * the operator composable (path mining, anomaly joins) the same way
  * scd2Stream emits intervals rather than a materialized dimension.
  */
case class UserStep(user_id: Long, cur_type: String, next_type: String, ts_ms: Long)

/** Last-seen event per user for the transition stream: O(1) state. */
case class LastEvent(ts_ms: Long, event_id: Long, event_type: String)

/** One document arriving at the corpus intake, for the streaming
  * weighted reservoir (§2 #102's continuous twin); weight is the
  * sampling weight (the batch op uses n_chars).
  */
/** A closed hour's smoothed rate — bit-identical to an ewma_hourly row. */
case class EwmaRow(event_type: String, hb: Long, x: Long, ewma: Double)

/** cdcStateStream state: the current version winner per key. A winning
  * tombstone STAYS in state as a marker (deleted=true) so out-of-order
  * earlier upserts cannot resurrect the key.
  */
case class CdcState(ts_ms: Long, event_id: Long, value: Double, deleted: Boolean, n_ops: Long)
case class CdcRow(
  user_id: Long, last_value: Double, last_ts_ms: Long, n_ops: Long, visible: Boolean)

/** Per-type smoother state: recent hourly counts (≤25 entries — the
  * 24h lookback plus the open frontier) and the last emitted hour.
  */
case class EwmaState(buckets: Map[Long, Long], last_emitted: Long)

case class DocArrival(source: String, ts: java.sql.Timestamp, doc_id: Long, weight: Long)

/** One open funnel window: a view at vts_ms, optionally chained to
  * its earliest qualifying click (the greedy witness the batch op
  * proves sufficient).
  */
case class FunnelWindow(vts_ms: Long, c1_ms: Option[Long])

/** Per-user funnel state: open windows + deepest level reached. */
case class FunnelState(windows: List[FunnelWindow], level: Int)

/** An emitted funnel-level transition (append mode, level increases
  * only — a user's max level is their funnel position).
  */
case class FunnelLevel(user_id: Long, level: Int, ts_ms: Long)

/** One reservoir slot: the A-Res key and its document. */
case class ReservoirEntry(es_key: Double, doc_id: Long)

/** Per-source reservoir state: the current top-k entries, O(k). */
case class RsvState(entries: List[ReservoirEntry])

/** Update-mode reservoir emission: the source's current sample. */
case class ReservoirRow(source: String, doc_id: Long, es_key: Double)

/** Structured Streaming counterparts of the reference's ingestion loop
  * (§2 #44-#46). The reference polls SurrealDB every 5 s and mutates
  * in-memory BTreeMaps behind an ArcSwap (main.rs:3143, 3287, 3815);
  * here each poll loop is a continuous query with watermarked state —
  * the same semantics, but distributed, fault-tolerant and backpressured.
  */
object Streams {

  /** Keyed-state retention horizon. The reference continuously evicts
    * posts (and their likes/index entries) older than 7 days
    * (clean_up_old_posts, main.rs:4008; clean_memory, main.rs:1101);
    * the streaming analogue is an event-time timeout on every keyed
    * state machine ([[keyed]]): a key times out at the newest event
    * time seen for it plus 7 days, never below watermark + 1, and is
    * dropped once the watermark passes that. State cardinality is
    * bounded by the active-key set, not the all-time key space.
    */
  val RetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  /** A keyed machine's own state and the newest event time ever seen
    * for its key. Retention counts from `last_ms`, so a late event
    * (older than one an earlier batch brought) cannot pull the
    * timeout back.
    */
  private[streaming] case class Kept[S](state: S, last_ms: Long)

  /** The one keyed state machine every retention-bound stream runs on.
    * It watermarks `tsCol` unless an upstream already did (a
    * payload-compiled prefix or a dedup stage; Spark disallows
    * redefining it), groups by `key`, and owns the [[RetentionMs]]
    * policy: a key reaching its timeout leaves state through `expire`.
    *
    * `step` folds one micro-batch of a key's rows into its state and
    * returns the new state with the rows to emit. It must use all the
    * rows before it returns: the device reads each row's event time as
    * it passes. The rows stay an iterator, so a hot key (100k likers)
    * folds in O(1) memory.
    */
  private def keyed[T, K: Encoder, S: TypeTag, U: Encoder](
      ds: Dataset[T], tsCol: String, lateness: String, mode: OutputMode)(
      key: T => K, ts: T => Long)(
      step: (K, Iterator[T], Option[S]) => (Option[S], Iterator[U]),
      expire: (K, S) => Iterator[U] = (_: K, _: S) => Iterator.empty): Dataset[U] = {
    implicit val kept: Encoder[Kept[S]] = Encoders.product[Kept[S]]
    val watermarked =
      if (ds.schema(tsCol).metadata.contains("spark.watermarkDelayMs")) ds
      else ds.withWatermark(tsCol, lateness)
    watermarked
      .groupByKey(key)
      .flatMapGroupsWithState[Kept[S], U](mode, GroupStateTimeout.EventTimeTimeout) {
        (k: K, rows: Iterator[T], state: GroupState[Kept[S]]) =>
          if (state.hasTimedOut) {
            val out = expire(k, state.get.state)
            state.remove(); out
          } else {
            val prev = state.getOption
            var last = prev.fold(Long.MinValue)(_.last_ms)
            val seen = rows.map { r => last = math.max(last, ts(r)); r }
            val (next, out) = step(k, seen, prev.map(_.state))
            next.foreach { s =>
              state.update(Kept(s, last))
              // the timestamp must sit above the current watermark
              state.setTimeoutTimestamp(
                math.max(last + RetentionMs, state.getCurrentWatermarkMs() + 1))
            }
            out
          }
      }
  }

  /** One row per key of a [[keyed]] machine's state in a checkpoint:
    * `key` and the machine's own `state` struct. The reader opens
    * stateful operator 0, the topmost in the physical plan.
    */
  private def readKept(s: SparkSession, checkpointDir: String, batchId: Option[Long]): DataFrame = {
    val reader = s.read.format("statestore").option("path", checkpointDir)
    batchId.foreach(b => reader.option("batchId", b))
    reader.load().select(col("key.value").as("key"), col("value.groupState.state").as("state"))
  }

  /** The same horizon as a watermark-delay string, for the stages whose
    * DEDUP horizon must cover the whole retention window (the
    * reference's likes bitmap is idempotent for a post's entire 7-day
    * life, so the pair-dedup state must be too — a shorter lateness
    * window would let a >window-late redelivery double-count).
    */
  val RetentionWindow: String = "7 days"

  /** #44 windowed counts (trending window, main.rs:626): sliding window
    * aggregation with a watermark bounding state.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(
        col("window.start").as("win_start"),
        col("event_type"),
        col("n"),
        col("total_value"))

  /** #45 incremental per-user counters via explicit state
    * (run_update_counts_query as a keyed state machine). Update-mode
    * output: one refreshed row per user per micro-batch.
    */
  def incrementalCounts(events: Dataset[Ev], lateness: String = "1 hour"): Dataset[UserCounts] = {
    import events.sparkSession.implicits._
    keyed(events, "ts", lateness, OutputMode.Update)(_.user_id, _.ts.getTime) {
      (uid: Long, rows: Iterator[Ev], prev: Option[UserCounts]) =>
        val next = rows.foldLeft(prev.getOrElse(UserCounts(uid, 0L, 0.0, -1L))) { (acc, e) =>
          UserCounts(
            uid,
            acc.n_events + 1,
            acc.total_value + e.value,
            math.max(acc.last_event_id, e.event_id))
        }
        (Some(next), Iterator.single(next))
    }
  }

  /** #44b streaming anomaly flags: the continuous twin of the batch
    * `event_anomalies` op — hourly tumbling counts per event type,
    * stream-static joined against a batch-trained per-type baseline
    * (queries.Round5Ops.anomalyBaseline's (event_type, mean, sd),
    * retrained offline on whatever cadence ops wants) and z-flagged at
    * |z| ≥ 2 as each hour's watermark closes. The baseline is bounded
    * (#event types) so the join broadcasts; streaming state is one
    * tumbling hour window per type, watermark-evicted — O(types) live
    * state no matter the firehose rate.
    */
  def anomalyStream(events: DataFrame, baseline: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(baseline), Seq("event_type"))
      .select(
        col("window.start").as("hour_start"),
        col("event_type"),
        col("cnt"),
        // σ=0 baseline (constant counts) means "never anomalous", not /0
        when(col("sd") === 0, lit(0.0))
          .otherwise(round((col("cnt") - col("mean")) / col("sd"), 4)).as("z"))
      .withColumn("flagged", (abs(col("z")) >= 2.0).cast("int"))

  /** #46 streaming dedup (the duplicates filter, main.rs:1916, applied
    * on ingest): watermark-bounded drop of re-deliveries by key.
    */
  def streamingDedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** #50s streaming sessionization: the batch gap-sessionize (§2 #25)
    * as a continuous query — Spark's native session_window assigns
    * events to gap-bounded sessions with watermarked state eviction.
    */
  def sessionizeStream(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"),
        col("session_value"))

  /** #49h streaming SCD2 — the continuous twin of the batch
    * `scd2_history` build (§2 #101): each keyed attribute change CLOSES
    * the previous validity interval, which is emitted append-mode the
    * moment it closes (the dimension table stays current continuously
    * instead of waiting for the nightly load). The OPEN interval is
    * exactly the per-key state — readable any time through the state
    * data source like readFeedState — and surfaces as a final
    * `is_current` row when the key idles past retention. Per-key state
    * is O(1) (tier + since), the within-batch fold applies the batch
    * op's (ts, event_id) order, and cross-batch ordered-per-key
    * delivery inside the lateness window is the same stream contract
    * incrementalCounts documents. Input is the already-projected
    * update stream (the JSON tier extraction is a stateless column map
    * upstream, identical to the batch op's).
    */
  def scd2Stream(updates: Dataset[TierUpdate], lateness: String = "1 hour"): Dataset[TierInterval] = {
    import updates.sparkSession.implicits._
    keyed(updates, "ts", lateness, OutputMode.Append)(_.user_id, _.ts.getTime)(
      (uid: Long, rows: Iterator[TierUpdate], prev: Option[TierState]) => {
        // micro-batch iterators carry no order guarantee: apply the
        // batch op's (ts, event_id) order within the batch
        val sorted = rows.toArray.sortBy(u => (u.ts.getTime, u.event_id))
        var st = prev
        val closed = Seq.newBuilder[TierInterval]
        for (u <- sorted) {
          val ms = u.ts.getTime
          st match {
            case Some(cur) if cur.tier == u.tier => () // same tier: interval extends
            case Some(cur) =>
              closed += TierInterval(uid, cur.tier, cur.since_ms, Some(ms), is_current = false)
              st = Some(TierState(u.tier, ms))
            case None =>
              st = Some(TierState(u.tier, ms))
          }
        }
        (st, closed.result().iterator)
      },
      // idle past retention: the open interval leaves state as the
      // key's final current row (the batch op's is_current = true)
      expire = (uid: Long, st: TierState) =>
        Iterator.single(TierInterval(uid, st.tier, st.since_ms, None, is_current = true)))
  }

  /** #49j streaming Markov transitions — the continuous twin of
    * markov_transitions (§2 #123): each user's state is only the LAST
    * event seen (O(1) per key), and every arrival emits the
    * (cur → next) step append-mode. Within a micro-batch arrivals
    * fold in the batch op's (ts, event_id) order; across batches steps
    * chain in arrival order — the same contract scd2Stream keeps (a
    * cross-batch late event appends as if sequential, bounded by the
    * watermark lateness). State evicts on event-time retention
    * timeout, so cardinality tracks the ACTIVE user set.
    */
  def markovStream(events: Dataset[Ev], lateness: String = "1 hour"): Dataset[UserStep] = {
    import events.sparkSession.implicits._
    keyed(events, "ts", lateness, OutputMode.Append)(_.user_id, _.ts.getTime) {
      (uid: Long, rows: Iterator[Ev], prev: Option[LastEvent]) =>
        val sorted = rows.toArray.sortBy(e => (e.ts.getTime, e.event_id))
        var st = prev
        val out = Seq.newBuilder[UserStep]
        for (e <- sorted) {
          val ms = e.ts.getTime
          st.foreach(p => out += UserStep(uid, p.event_type, e.event_type, ms))
          st = Some(LastEvent(ms, e.event_id, e.event_type))
        }
        (st, out.result().iterator)
    }
  }

  /** #49i streaming weighted reservoir — the A-Res rule
    * corpus_weighted_sample (§2 #102) ranks by, run as a continuous
    * per-source sample: A-Res IS a reservoir algorithm (Efraimidis–
    * Spirakis 2006 §2), so "keep the k largest keys seen so far" is
    * the entire streaming form — each source's state is its current
    * top-k (key, doc_id) pairs, O(k) per key, merged per batch and
    * emitted update-mode when it changes. The key is the SAME
    * deterministic md5-derived ln(u)/w the batch op computes (pinned
    * equal in the spec), so a reservoir drained at any moment equals
    * the batch sample over the docs seen so far — the
    * streaming/batch-parity contract the rest of the engine keeps.
    * Redelivered doc_ids fold idempotently (same doc → same key →
    * deduped on merge).
    */
  def weightedReservoir(
      docs: Dataset[DocArrival],
      k: Int = 32,
      lateness: String = "1 hour"): Dataset[ReservoirRow] = {
    import docs.sparkSession.implicits._
    keyed(docs, "ts", lateness, OutputMode.Update)(_.source, _.ts.getTime) {
      (src: String, rows: Iterator[DocArrival], prev: Option[RsvState]) =>
        val old = prev.map(_.entries).getOrElse(Nil)
        val arrivals = rows.map(d => ReservoirEntry(aresKey(d.doc_id, d.weight), d.doc_id)).toList
        // idempotent merge: same doc_id → same deterministic key
        val merged = (old ++ arrivals)
          .groupBy(_.doc_id).map(_._2.head).toList
          .sortBy(e => (-e.es_key, e.doc_id))
          .take(k)
        val out =
          if (merged == old) Iterator.empty
          else merged.iterator.map(e => ReservoirRow(src, e.doc_id, e.es_key))
        (Some(RsvState(merged)), out)
    }
  }

  /** #49n sessionizeNativeStream — the #25e batch operator dropped
    * onto a stream UNCHANGED: same groupBy(user, session_window(ts)),
    * same aggregates; only the trigger differs (append emits a session
    * once the watermark proves its gap can no longer be bridged, and
    * its state is dropped). The spec pins closed streaming sessions
    * row-identical to the batch operator over the same events — the
    * strongest form of the "one operator, both modes" claim.
    */
  def sessionizeNativeStream(
      events: DataFrame, gapMs: Long = 1800000L, lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(
        col("user_id"),
        session_window(col("ts"), s"$gapMs milliseconds").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        graft.OracleMath.emit(graft.OracleMath.dsum(col("value"))).as("session_value"))
      .select(
        col("user_id"),
        unix_millis(col("w.start")).as("session_start_ms"),
        // session_window.end = last event + gap; report the last event
        (unix_millis(col("w.end")) - lit(gapMs)).as("session_end_ms"),
        col("n_events"),
        col("session_value"))

  /** #49l distinctUsersStream — the HLL sketch family on a stream:
    * approx distinct users per (window, type) via approx_count_distinct
    * — O(sketch) state per window key where exact distinct would
    * buffer every user id seen (unbounded on a 100 TB firehose).
    * Append mode + watermark: a window emits once, when it can no
    * longer change, and its state is dropped — the same close-once
    * contract as ewmaStream. The spec pins the estimate against the
    * exact batch count under the HLL error bound (same 5% default rsd
    * as the batch twin #28b).
    */
  def distinctUsersStream(
      events: DataFrame, windowLen: String = "1 hour", lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(approx_count_distinct("user_id").as("approx_users"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"),
        col("approx_users"))

  /** #49m topEventsStream — the native bounded TopKPairs aggregate
    * (#11b's graft_top_k) running under STREAMING state: top-k events
    * by value per (window, type), O(k) state per window key, partial
    * merges through the state store exactly like any built-in
    * aggregate (TypedImperativeAggregate serializes its buffer). This
    * is the integration proof that the engine's custom Catalyst
    * aggregates compose with Structured Streaming unchanged — the
    * serving loop's keyed top-k (streamingFeed) holds richer per-key
    * state, this is the declarative windowed form.
    */
  def topEventsStream(
      events: DataFrame, k: Int = 3, windowLen: String = "1 hour",
      lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(graft.functions.Registry.topK(col("value"), col("event_id"), k).as("top"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"),
        explode(col("top")).as("e"))
      .select(
        col("window_start"), col("event_type"),
        col("e.id").as("event_id"), col("e.score").as("value"))

  /** #49k ewmaStream — continuous twin of #130 ewma_hourly, under the
    * engine's streaming/batch PARITY contract: a drained stream equals
    * the batch smoother run over the events seen so far, for every
    * hour the watermark has closed. That parity is what makes the
    * closed-form (windowed) EWMA the right streaming semantics — the
    * recursive fold's infinite tail would depend on how far back the
    * stream happened to start.
    *
    * Per event-type state is the last ≤24+1 hourly counts plus the
    * emitted frontier — O(1) bytes per key regardless of volume (the
    * per-hour fold happens inside the group iterator; no windowed
    * pre-agg stage, so the query stays a SINGLE stateful operator).
    * An hour emits exactly once, when the watermark proves it can no
    * longer change ((hb+1)h ≤ watermark); the smoothed value is the
    * same exact-BigDecimal dot product with [[graft.queries.BehaviorOps.ewmaWeights]]
    * the batch plan embeds as literals, so emitted rows are
    * bit-identical to the batch op's (spec-pinned). An event-time
    * timeout at the oldest pending hour's close flushes types that go
    * quiet; state is removed once no bucket can feed a future
    * emission.
    */
  def ewmaStream(events: Dataset[Ev], lateness: String = "1 hour"): Dataset[EwmaRow] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[EwmaState, EwmaRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (typ: String, rows: Iterator[Ev], state: GroupState[EwmaState]) =>
          // -1 = "nothing emitted yet" (epoch hours are positive; a
          // Long.MinValue sentinel would overflow the `frontier - 24`
          // pruning arithmetic below)
          val st0 = state.getOption.getOrElse(EwmaState(Map.empty, -1L))
          val buckets = rows.foldLeft(st0.buckets) { (m, e) =>
            val hb = e.ts.getTime / 3600000L
            m.updated(hb, m.getOrElse(hb, 0L) + 1L)
          }
          val wmMs = state.getCurrentWatermarkMs()
          val closed = buckets.keys
            .filter(hb => hb > st0.last_emitted && (hb + 1) * 3600000L <= wmMs)
            .toSeq.sorted
          val out = closed.map(hb => EwmaRow(typ, hb, buckets(hb), ewmaAt(buckets, hb)))
          val frontier = if (closed.nonEmpty) closed.max else st0.last_emitted
          // a bucket only matters while some unemitted hour's 24h
          // lookback can still reach it: unemitted hours are > frontier
          // AND ≥ the watermark hour (anything earlier is closed), so
          // buckets behind BOTH horizons are dead — including for a
          // type that goes quiet, whose state must fully age out.
          val wmHour = wmMs / 3600000L
          val pruned = buckets.filter { case (hb, _) =>
            hb > frontier - 24 && hb > wmHour - 24
          }
          if (pruned.isEmpty) state.remove()
          else {
            state.update(EwmaState(pruned, frontier))
            val nextClose = pruned.keys.filter(_ > frontier)
              .minOption.map(hb => (hb + 1) * 3600000L)
            state.setTimeoutTimestamp(
              math.max(nextClose.getOrElse(wmMs + 3600000L), wmMs + 1))
          }
          out.iterator
      }
  }

  /** The batch op's exact smoothed value: Σ w_d·x(hb−d) in exact
    * BigDecimal over the SAME weight constants the batch plan embeds,
    * rounded HALF_UP to 4 dp — the JVM mirror of decimal(14,12)
    * products summed and emit()ed.
    */
  private[graft] def ewmaAt(buckets: Map[Long, Long], hb: Long): Double = {
    val s = graft.queries.BehaviorOps.ewmaWeights.foldLeft(java.math.BigDecimal.ZERO) {
      case (acc, (d, w)) =>
        buckets.get(hb - d) match {
          case Some(x) => acc.add(w.multiply(java.math.BigDecimal.valueOf(x)))
          case None => acc
        }
    }
    s.setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
  }

  /** The batch op's exact key (compare queries.Round6Ops
    * corpusWeightedSample): u from the first 6 md5 hex digits of
    * "ws:<doc_id>", key = ln(u)·1e6 / weight rounded to 6 dp. Pure
    * JVM arithmetic on the same bytes the column expression hashes —
    * spec-pinned equal to the SQL form.
    */
  private[graft] def aresKey(docId: Long, weight: Long): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"ws:$docId".getBytes("UTF-8"))
      .take(3).map(b => f"$b%02x").mkString // 6 hex digits
    val u = (java.lang.Long.parseLong(hex, 16) + 0.5) / 16777216.0
    // Spark's round(_, 6): BigDecimal HALF_UP — not rint (half-even)
    java.math.BigDecimal.valueOf(math.log(u) * 1e6 / weight)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
  }

  /** A timestamped like edge (one row of run_likes_query, main.rs:3287). */
  case class Like(ts: java.sql.Timestamp, user_id: Long, post_id: Long)
  case class PostLikes(post_id: Long, n_likes: Long)
  private[streaming] case class LikeCount(n: Long)

  /** The idempotent (post, liker) upsert feed: watermark-bounded
    * dedup of like edges by their (user, post) pair. Appending this
    * stream to a sink keyed/partitioned by (post_id, user_id) IS the
    * likes graph — the distributed form of the reference's
    * likes_post_to_users RoaringBitmap (main.rs:61). Each pair is one
    * small state entry (not one giant per-post value), so a viral post
    * costs many tiny KVs sharded across the state store, never an
    * 80 MB blob rewritten per batch. Dedup state is evicted by the
    * watermark, and the DEFAULT horizon is the full 7-day retention:
    * the reference's bitmap is idempotent for a post's whole life, so
    * a pair redelivered any time inside the retention window must
    * still be dropped (a shorter window would double-count late
    * replays). That sizes the dedup state at the live like graph
    * itself — the same bytes the reference's bitmaps hold in RAM, here
    * as many small KVs in RocksDB. The per-post retention eviction
    * happens downstream ([[likesGraphStream]]): the post's state is
    * dropped once the watermark passes its newest like + 7 days, the
    * [[RetentionMs]] policy.
    */
  def likesGraphUpserts(likes: Dataset[Like], lateness: String = RetentionWindow): Dataset[Like] =
    likes
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("user_id", "post_id")

  /** #45c stream-stream join: live likes ⋈ live posts. The reference
    * resolves each like against its post the moment both are in RAM
    * (run_likes_query mutating the post's counters, main.rs:3287);
    * the distributed form is a watermarked INTERVAL join — the extra
    * time-range predicate (a like lands within [post_ts, post_ts +
    * retention]) is not decoration, it is what lets Spark BOUND both
    * state stores: from the condition it derives how long a buffered
    * post can still meet a future like (retention + lateness) and
    * evicts it after, the same 7-day horizon as clean_up_old_posts
    * (main.rs:4008). Without the range the posts side would buffer
    * forever. Inner join here; left-outer over the same condition
    * emits never-liked posts once their window expires.
    */
  def likesJoinPostsStream(
      posts: Dataset[Ev], likes: Dataset[Like], lateness: String = "1 hour",
      joinType: String = "inner"): DataFrame = {
    val p = posts
      .select(
        col("event_id").as("post_id"),
        col("user_id").as("author"),
        col("ts").as("post_ts"))
      .withWatermark("post_ts", lateness)
    val l = likes
      .select(col("post_id").as("liked_post"), col("user_id").as("liker"), col("ts").as("like_ts"))
      .withWatermark("like_ts", lateness)
    // leftOuter additionally emits never-liked posts (liker = null) —
    // but only once the watermark proves no matching like can still
    // arrive, i.e. after the post's whole join window expires
    p.join(
        l,
        col("post_id") === col("liked_post") &&
          col("like_ts") >= col("post_ts") &&
          col("like_ts") <= col("post_ts") + expr(s"INTERVAL $RetentionWindow"),
        joinType)
      .select(col("post_id"), col("author"), col("liker"), col("post_ts"), col("like_ts"))
  }

  /** #45b likes-graph ingestion (run_likes_query, main.rs:3287).
    *
    * Round-3 shape (per-post `Seq[Long]` liker set in one state value,
    * rebuilt wholesale per batch) was a per-key hot-spot: 10M likers =
    * ~80 MB deserialized, unioned, re-sorted, re-serialized on every
    * micro-batch that touches the post. This round splits the roles:
    *
    *   1. [[likesGraphUpserts]] dedups (user, post) pairs — the liker
    *      SET lives there (as a sinkable edge stream), not here;
    *   2. per-post state is a COUNT — O(1) bytes per key, folded from
    *      the batch iterator without materializing any set;
    *   3. every post state carries an event-time timeout at
    *      <newest like + retention> ([[keyed]]; a late like never pulls
    *      it back): once the watermark passes it the state is dropped
    *      — the streaming analogue of the reference's
    *      7-day clean_up_old_posts (main.rs:4008). A like arriving
    *      after eviction restarts the count, exactly as the reference
    *      recreates a re-seen post after retention dropped it.
    *
    * Emission is the refreshed (post, n_likes) row per touched post per
    * batch (update mode). At scale the state lives in RocksDB
    * (test-pinned provider parity), sharded by post key.
    */
  def likesGraphStream(likes: Dataset[Like], lateness: String = RetentionWindow): Dataset[PostLikes] = {
    import likes.sparkSession.implicits._
    keyed(likesGraphUpserts(likes, lateness), "ts", lateness, OutputMode.Update)(
      _.post_id, _.ts.getTime) {
      (pid: Long, rows: Iterator[Like], prev: Option[LikeCount]) =>
        val next = prev.fold(0L)(_.n) + rows.size
        (Some(LikeCount(next)), Iterator.single(PostLikes(pid, next)))
    }
  }

  /** Serve the likes graph's per-post counts from the state store
    * (same pattern as [[readFeedState]]): the reference answers
    * "how many likes does post X have" from its in-RAM maps; here the
    * checkpoint IS the queryable store — no replay, no recompute.
    */
  def readLikesState(
      s: SparkSession,
      checkpointDir: String,
      batchId: Option[Long] = None): Dataset[PostLikes] = {
    import s.implicits._
    // the likes query has TWO stateful operators; ids are assigned
    // top-down in the physical plan, so the per-post count state (the
    // downstream keyed machine) is operator 0, the one readKept opens,
    // and the (user, post) pair dedup below it is operator 1
    readKept(s, checkpointDir, batchId)
      .select(col("key").as("post_id"), col("state.n").as("n_likes"))
      .as[PostLikes]
  }

  /** A user's current feed: their top-scored events so far. */
  case class FeedState(entries: List[(Double, Long)])
  case class FeedRow(user_id: Long, rank: Int, event_id: Long, score: Double)

  /** How the continuous feed ranks events into its bounded top-k
    * state. All three are PER-EVENT-STATIC scores (fixed at arrival),
    * which is exactly what makes them serveable from keyed state:
    *  - [[FeedRanking.Hn]]: the reference's live-feed score against a
    *    fixed anchor (its serving loop's own ranking, main.rs:4338);
    *  - [[FeedRanking.ByValue]]: the payload's accumulated score
    *    column — monotone-folded in the stateless prefix, so the
    *    event carries its final score when it reaches the state;
    *  - [[FeedRanking.ByRecency]]: created_at sorts (the key is the
    *    event time itself; newestFirst=false keeps the OLDEST k).
    * Rankings that read MUTABLE per-post state (sort by live
    * like_count) or one-shot orderings (random) stay batch-only.
    */
  sealed trait FeedRanking
  object FeedRanking {
    final case class Hn(anchorMs: Long, gravity: Double = 1.8) extends FeedRanking
    case object ByValue extends FeedRanking
    final case class ByRecency(newestFirst: Boolean = true) extends FeedRanking
  }

  /** #49s continuous feed maintenance: the reference serves feeds by
    * rerunning the block pipeline over its in-RAM store on every
    * request; here the per-user top-k IS the state — each micro-batch
    * folds new events into a bounded heap per user
    * (mapGroupsWithState), so serving is a state read, not a recompute.
    * Scoring uses the same hn shape with a fixed anchor for
    * reproducibility.
    */
  def streamingFeed(
      events: Dataset[Ev],
      k: Int,
      anchorMs: Long,
      lateness: String = "1 hour",
      gravity: Double = 1.8): Dataset[FeedRow] =
    streamingFeedRanked(events, k, FeedRanking.Hn(anchorMs, gravity), lateness)

  /** The same bounded per-user top-k state under any per-event-static
    * [[FeedRanking]] — the generalization that lets a wire payload's
    * trailing `sort: score` / `sort: created_at` serve from state
    * exactly like the hn path (PipelineJson.runServingFeed).
    */
  def streamingFeedRanked(
      events: Dataset[Ev],
      k: Int,
      ranking: FeedRanking,
      lateness: String = "1 hour"): Dataset[FeedRow] = {
    import events.sparkSession.implicits._
    def score(e: Ev): Double = ranking match {
      case FeedRanking.Hn(anchorMs, gravity) =>
        // clamp at 0: events newer than the anchor (normal in a live
        // stream) must not shrink the denominator below 2 — unclamped,
        // ageH < -2 turns pow() into NaN and poisons the top-k state
        val ageH = math.max(0.0, (anchorMs - e.ts.getTime).toDouble / 3600000.0)
        e.value / math.pow(ageH + 2.0, gravity)
      case FeedRanking.ByValue => e.value
      case FeedRanking.ByRecency(newestFirst) =>
        if (newestFirst) e.ts.getTime.toDouble else -e.ts.getTime.toDouble
    }
    // a user idle past retention loses their cached feed; the next
    // event rebuilds it from scratch
    keyed(events, "ts", lateness, OutputMode.Update)(_.user_id, _.ts.getTime) {
      (uid: Long, rows: Iterator[Ev], prev: Option[FeedState]) =>
        // dedup by event_id before the cut: an at-least-once source
        // may redeliver an event, which must not occupy two feed slots
        val merged = (prev.fold(List.empty[(Double, Long)])(_.entries) ++
          rows.map(e => (score(e), e.event_id)))
          .groupBy(_._2)
          .valuesIterator
          .map(_.maxBy(_._1))
          .toList
          .sortBy { case (s, id) => (-s, id) }
          .take(k)
        (Some(FeedState(merged)),
          merged.iterator.zipWithIndex.map { case ((s, id), i) => FeedRow(uid, i + 1, id, s) })
    }
  }

  /** #49d serve feeds from the STATE STORE, no recompute: the payoff of
    * holding each user's top-k as keyed state ([[streamingFeed]]) is
    * that serving is a state read. The state data source
    * (`format("statestore")`) reads the query's checkpoint directly —
    * a serving layer (or a debug console) gets every user's current
    * feed as a DataFrame without touching the stream, replaying the
    * log, or holding the store in RAM like the reference does
    * (generate_feed_skeleton over ArcSwap'd maps, main.rs:1229).
    * Pass `batchId` to time-travel to an earlier micro-batch's state
    * (the reference has no equivalent — its state is overwrite-only).
    */
  def readFeedState(
      s: SparkSession,
      checkpointDir: String,
      batchId: Option[Long] = None): Dataset[FeedRow] = {
    import s.implicits._
    readKept(s, checkpointDir, batchId)
      .select(col("key").as("user_id"), posexplode(col("state.entries")))
      .select(
        col("user_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col").getField("_2").as("event_id"),
        col("col").getField("_1").as("score"))
      .as[FeedRow]
  }

  /** #39s the corpus intake pipeline (batch form: corpus_pipeline) as a
    * CONTINUOUS query: documents stream in, the language/quality gates
    * run codegen'd per micro-batch (stateless — they fuse into the
    * batch scan exactly like the batch plan), and exact content-hash
    * dedup holds md5(text) keys as watermark-bounded state. The shape
    * of a streaming pretraining-data intake: bounded state, no
    * reprocessing, same gates as the batch path.
    */
  def corpusIntakeStream(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    docs
      .withWatermark("ts", "1 hour")
      .withColumn("n_words", size(words))
      .filter(
        // the SAME gates as the batch corpus_pipeline: language-ID
        // argmax, length, lexical diversity
        graft.queries.TextOps.bestLang.getField("lang") === "en" &&
          col("n_words") >= 30 &&
          size(array_distinct(words)).cast("double") / col("n_words") >= 0.3)
      .withColumn("h", md5(col("text")))
      .dropDuplicatesWithinWatermark("h")
      .select(col("doc_id"), col("ts"), col("n_words"), col("h"))
  }

  /** #39f firehose intake over RAW records (the reference's actual
    * front door: process_post on every firehose JSON line before any
    * block runs, main.rs:3447). The normalization is ONE stateless
    * codegen'd projection ([[graft.sources.Firehose.parsePostRecords]])
    * so it runs unchanged under `readStream` — no state, no watermark,
    * no shuffle; malformed records (no id) drop mid-batch exactly like
    * the batch form. Compose with [[corpusIntakeStream]]-style gates or
    * [[streamingDedup]] downstream for the full intake pipeline.
    */
  def firehoseIntakeStream(raw: DataFrame): DataFrame =
    graft.sources.Firehose.parsePostRecords(raw)

  /** One poll result of the reference's profile refresh loop
    * (run_profiles_query, main.rs:3369): a profile snapshot stamped
    * with the time it was fetched.
    */
  case class ProfileRow(fetched_at: java.sql.Timestamp, user_id: Long, handle: String, display_name: String)

  /** #48b profile ingestion (run_profiles_query, main.rs:3369): the
    * reference polls profiles and overwrites its in-memory map
    * (all_profiles, main.rs:63) with whatever arrived last. A
    * distributed stream cannot assume arrival order = fetch order, so
    * the upsert is LATEST-WINS BY FETCH TIMESTAMP: per-user keyed state
    * holds the newest snapshot seen, an out-of-order (older) fetch
    * never overwrites a newer one, and only a strictly newer snapshot
    * re-emits. The update stream feeds the profile dimension that
    * [[enrichWithProfiles]] joins against (e.g. via a foreachBatch
    * merge keyed on user_id). State is one profile row per active user,
    * evicted after the retention horizon like every keyed state here.
    */
  def profilesUpsertStream(
      profiles: Dataset[ProfileRow], lateness: String = "1 hour"): Dataset[ProfileRow] = {
    import profiles.sparkSession.implicits._
    keyed(profiles, "fetched_at", lateness, OutputMode.Update)(_.user_id, _.fetched_at.getTime) {
      (_: Long, rows: Iterator[ProfileRow], prev: Option[ProfileRow]) =>
        // strictly-newer wins; a redelivered or stale snapshot is a
        // no-op. Equal-timestamp conflicts tie-break on content
        // (handle, display_name) — the group iterator has no
        // deterministic order, and a first-seen-wins rule would let
        // the surviving snapshot differ run to run
        def rank(p: ProfileRow) = (p.fetched_at.getTime, p.handle, p.display_name)
        val ord = Ordering[(Long, String, String)]
        val latest = rows.foldLeft(prev) { (acc, r) =>
          if (acc.forall(a => ord.gt(rank(r), rank(a)))) Some(r) else acc
        }
        (latest, if (latest == prev) Iterator.empty else latest.iterator)
    }
  }

  /** #48s stream-static enrichment: the reference resolves author
    * profile data per post at query time from its in-memory profile map
    * (main.rs:63 all_profiles); streaming-side the profile dimension is
    * a static broadcast joined to each micro-batch.
    */
  def enrichWithProfiles(events: DataFrame, profiles: DataFrame): DataFrame =
    events.join(
      broadcast(profiles),
      events("user_id") === profiles("profile_user_id"),
      "left")

  /** #47 streaming trending tags (main.rs:626 as a continuous query):
    * explode words of a (ts, text) stream, windowed distinct-ish counts
    * per tag. The reference recomputes trending over its in-memory maps
    * per request; here the window state maintains it incrementally.
    */
  def trendingTagsStream(texts: DataFrame): DataFrame =
    texts
      .withWatermark("ts", "1 hour")
      .select(col("ts"), explode(split(col("text"), " ")).as("tag"))
      .filter(length(col("tag")) > 3)
      .groupBy(window(col("ts"), "6 hours", "1 hour"), col("tag"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("tag"), col("n"))

  /** #39h the persisted-index dedup trilogy under CONTINUOUS intake:
    * each micro-batch folds through the SAME exact-hash index the
    * batch pipeline maintains (self-dedup + anti-join vs
    * `Sources.readHashIndex`, survivors appended via
    * `Sources.appendToHashIndex`) — so a restart, a re-delivered
    * batch, or a parallel nightly batch run all see ONE history,
    * the index, not per-query checkpoint state. foreachBatch is the
    * right tool (not dropDuplicatesWithinWatermark) precisely because
    * the dedup horizon is ALL history: watermark state ages out,
    * the index does not. Admitted rows stream to `sink`; re-delivery
    * admits nothing (spec-pinned, the batch idempotence contract
    * carried to the stream).
    */
  def indexedIntakeStream(
      docs: DataFrame, indexDir: String)(sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val admitted = graft.sources.Sources
        .dedupAgainstIndex(batch, graft.sources.Sources.readHashIndex(batch.sparkSession, indexDir))
        .localCheckpoint() // sever: the append below must not re-run the anti-join against a mutated index
      graft.sources.Sources.appendToHashIndex(admitted, indexDir)
      sink(admitted)
    }

  /** #49x erasureStream — continuous right-to-be-forgotten intake:
    * GDPR requests arrive as a stream and fold into the tombstone
    * index ([[graft.sources.Sources.appendTombstones]]) each
    * micro-batch via foreachBatch — the indexedIntakeStream shape,
    * and for the same reason: the erasure horizon is ALL history, so
    * the dedup/erasure artifact must live OUTSIDE per-query checkpoint
    * state where every consumer (batch sweep, serving read, the next
    * stream) shares it. Effective immediately through
    * [[graft.sources.Sources.readActive]]'s broadcast anti join;
    * re-delivered requests are no-ops (read-side distinct). Spec pins
    * mid-stream effectiveness and re-delivery idempotence.
    */
  def erasureStream(
      requests: DataFrame, tombDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    requests.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      graft.sources.Sources.appendTombstones(batch, tombDir)
    }

  /** #39g continuous twin of post_link_domains: raw firehose records →
    * parse ([[firehoseIntakeStream]]'s stateless projection) → explode
    * outbound links → running per-domain counts in update mode. State
    * is one counter per domain (the key space a trust-and-safety team
    * watches is bounded in practice — a long-running deployment windows
    * it like [[trendingTagsStream]]); every micro-batch folds its
    * map-side partial counts into the keyed state, so the live table
    * IS the batch histogram at any point where the stream has drained —
    * equality with the batch op over the same records is spec-pinned.
    */
  def linkDomainsStream(raw: DataFrame): DataFrame =
    graft.sources.Firehose.parsePostRecords(raw)
      .select(explode(col("links")).as("url"))
      .select(regexp_extract(col("url"), "^https?://([^/]+)", 1).as("domain"))
      .filter(col("domain") =!= "")
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n"))

  /** #49v mauSketchStream — continuous twin of mau_hll_sliding (#251):
    * per-day DataSketches HLL sketches maintained as streaming state.
    * hll_sketch_agg is a TypedImperativeAggregate, so the state store
    * holds ONE fixed-KB sketch buffer per day key and every
    * micro-batch's map-side partial unions into it — the same merge
    * path batch uses across partitions, now across TIME. The live
    * (d, sk) table feeds [[graft.queries.Round10Ops.slidingMauFromSketches]]
    * for the trailing-window curve, so the serving read touches |days|
    * sketch rows, never events, and — because HLL register-max union
    * is associative and order-free — a drained stream's estimates are
    * IDENTICAL to the batch twin's (spec-pinned, mid-day batch split).
    */
  /** #49s cdcStateStream — continuous twin of cdc_apply (#253): the
    * changelog (every 10th event a tombstone, the batch op's rule)
    * folds into keyed state where the (ts, event_id) max decides the
    * current version and a WINNING tombstone keeps the key in state as
    * a deletion marker (dropping state on a delete would let an
    * out-of-order earlier upsert resurrect the key — the classic CDC
    * bug; the marker ages out via the event-time timeout instead).
    * Update mode emits every state CHANGE — tombstones emit with
    * visible=false, the delete marker a real sink applies; taking each
    * key's latest emission and filtering visible yields EXACTLY batch
    * cdc_apply's snapshot once drained (spec-pinned, mid-stream split).
    */
  def cdcStateStream(events: Dataset[Ev], lateness: String = "1 hour"): Dataset[CdcRow] = {
    import events.sparkSession.implicits._
    keyed(events, "ts", lateness, OutputMode.Update)(_.user_id, _.ts.getTime) {
      (uid: Long, rows: Iterator[Ev], prev: Option[CdcState]) =>
        val next = rows.foldLeft(prev) { (acc, e) =>
          val cand = CdcState(
            e.ts.getTime, e.event_id, e.value, e.event_id % 10 == 0,
            acc.map(_.n_ops).getOrElse(0L) + 1)
          acc match {
            case Some(a)
                if a.ts_ms > cand.ts_ms ||
                  (a.ts_ms == cand.ts_ms && a.event_id > cand.event_id) =>
              Some(a.copy(n_ops = cand.n_ops))
            case _ => Some(cand)
          }
        }
        // emit EVERY state change, tombstones included (visible=false
        // is the delete marker a real sink applies) — hiding deletes
        // would leave stale rows live downstream
        val out = next match {
          case Some(st) if prev != next =>
            Iterator.single(CdcRow(uid, st.value, st.ts_ms, st.n_ops, !st.deleted))
          case _ => Iterator.empty
        }
        (next, out)
    }
  }

  def mauSketchStream(events: DataFrame, lateness: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 day"))
      .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
      .select(to_date(col("window.start")).as("d"), col("sk"))

  /** #49u streaming drift monitor — §2 #280 psi_drift as a continuous
    * query: the live side is ONE update-mode count per event type
    * (map-side-combined, |types| state rows total); PSI against the
    * static baseline is SERVED from the drained counts through the
    * batch op's own arithmetic ([[graft.queries.Round11Ops.psiFinish]]
    * — the mauSketchStream serve-from-state pattern), so stream ≡
    * batch is an identity, spec-pinned. At scale the baseline is a
    * bounded broadcast (|types| rows) and the stream state never
    * grows with volume.
    */
  def psiCountsStream(events: DataFrame): DataFrame =
    events.groupBy(col("event_type")).agg(count(lit(1)).as("n_second"))

  /** #49w streaming Holt forecast feed — continuous twin of §2 #307
    * holt_forecast under the serve-from-state pattern: the live side
    * is ONE update-mode count per (day, type) key (|days|·|types|
    * state rows, map-side combined — a long-running deployment
    * windows the day key like #47); the forecast table is SERVED from
    * drained counts through the batch op's own calendar-densify +
    * sequential fold ([[graft.queries.Round12Ops.holtFromDaily]]), so
    * stream ≡ batch is an identity, spec-pinned with a mid-stream
    * split. The recurrence itself never runs inside streaming state —
    * it is a bounded post-read fold, which is exactly how a serving
    * tier would materialize the forecast each morning.
    */
  def holtCountsStream(events: DataFrame): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("d"), col("event_type"))
      .agg(count(lit(1)).as("x"))

  /** #49z streaming Page–Hinkley drift alarm — §2 #397 as a continuous
    * query: the live side is ONE update-mode daily count (map-side
    * combined, |days| state rows; a deployment bounds it with an
    * event-time watermark on the day key); the alarm table is SERVED
    * from the drained state through the batch op's own arithmetic
    * ([[graft.queries.Round17Ops.pageHinkleyFromDaily]]), so
    * stream ≡ batch is an identity, spec-pinned.
    */
  def phCountsStream(events: DataFrame): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))

  /** Serve the Page–Hinkley table from drained live daily counts
    * (bounded state snapshot first — the holtFromCounts rule). */
  def phFromCounts(live: DataFrame): DataFrame =
    graft.queries.Round17Ops.pageHinkleyFromDaily(graft.Lineage.cut(live))

  /** #49aa streaming Gumbel capacity fit — §2 #412 as a continuous
    * query over the SAME daily-count state shape as the drift alarm
    * (one update-mode aggregate; the weekly block maxima and the
    * method-of-moments fit are constant-size arithmetic served from
    * the drained state via
    * [[graft.queries.Round20Ops.gumbelFromDaily]]): the return-level
    * table refreshes continuously as days close, stream ≡ batch by
    * identity, spec-pinned.
    */
  def gumbelFromCounts(live: DataFrame): DataFrame =
    graft.queries.Round20Ops.gumbelFromDaily(graft.Lineage.cut(live))

  /** Serve the Holt forecast table from drained live daily counts.
    * The fold references the counts relation on both sides of its
    * densify join; a sink-backed View breaks reference dedup there,
    * so snapshot the (bounded, |days|·|types|-row) state first.
    */
  def holtFromCounts(live: DataFrame): DataFrame =
    graft.queries.Round12Ops.holtFromDaily(graft.Lineage.cut(live))

  /** #49y streaming SRM screen — §2 #338 ab_srm_check as a continuous
    * query: the live side is ONE update-mode count keyed by
    * (day, user_id) — exposure pairs, map-side combined; the SRM
    * table (per-day arm split z plus the ALL rollup) is SERVED from
    * the drained pair state through the batch op's own arithmetic
    * ([[graft.queries.ExperimentOps.srmServe]] — the psiFinish
    * serve-from-state pattern), so stream ≡ batch is an identity,
    * spec-pinned. At scale the state is distinct (day, user) pairs;
    * a long-running deployment bounds it with an event-time watermark
    * on the day key (the #47 discipline) — the ALL rollup then covers
    * the retained horizon, which is the window an SRM screen acts on
    * anyway.
    */
  def srmPairsStream(events: DataFrame): DataFrame =
    events.groupBy(
      to_date(col("ts")).cast("string").as("day"), col("user_id"))
      .agg(count(lit(1)).as("n"))

  /** Serve the SRM table from drained exposure-pair state. The serve
    * references the pair relation twice (per-day + overall distinct);
    * snapshot the bounded state first so a sink-backed View doesn't
    * break reference dedup (the holtFromCounts rule).
    */
  def srmFromPairs(pairs: DataFrame): DataFrame =
    graft.queries.ExperimentOps.srmServe(graft.Lineage.cut(pairs))

  /** Serve the PSI table from a drained live-counts state + baseline. */
  def psiFromCounts(baseline: DataFrame, live: DataFrame): DataFrame =
    graft.queries.Round11Ops.psiFinish(
      baseline.join(live, Seq("event_type"), "full_outer")
        .select(
          col("event_type"),
          coalesce(col("n_first"), lit(0L)).as("n_first"),
          coalesce(col("n_second"), lit(0L)).as("n_second")))

  /** #49s streaming windowed funnel — §2 #282 window_funnel as a
    * continuous per-user state machine: each user's state is their
    * OPEN funnel windows (a view not yet chained to a purchase) plus
    * the deepest level reached; a level INCREASE emits append-mode.
    * The greedy collapse the batch op proves (earliest qualifying
    * click per view suffices) is exactly what the state tracks, so a
    * drained stream's per-user max level equals the batch histogram
    * (spec-pinned at sf0.001). State is O(open views) per user,
    * bounded by [[FunnelMaxOpenWindows]] (the bot-flood cap — the
    * dropHotBuckets discipline applied to keyed state: a user
    * spraying views beyond the cap keeps the OLDEST open windows,
    * which are the ones a chain could still complete first) and by
    * window expiry — a view past its 72 h horizon is pruned on the
    * next event, and the whole key times out at the retention
    * horizon like every keyed state here. In-order delivery per key
    * (the markovStream contract): a cross-batch late step is dropped
    * by the watermark, not resurrected.
    */
  val FunnelMaxOpenWindows = 64

  def funnelStream(events: Dataset[Ev], lateness: String = "1 hour"): Dataset[FunnelLevel] = {
    import events.sparkSession.implicits._
    val windowMs = graft.queries.Round11Ops.FunnelWindowHours * 3600L * 1000L
    keyed(events, "ts", lateness, OutputMode.Append)(_.user_id, _.ts.getTime) {
      (uid: Long, rows: Iterator[Ev], prev: Option[FunnelState]) =>
        val sorted = rows.toArray.sortBy(e => (e.ts.getTime, e.event_id))
        var st = prev.getOrElse(FunnelState(Nil, 0))
        val out = Seq.newBuilder[FunnelLevel]
        def raise(level: Int, ms: Long): Unit =
          if (level > st.level) {
            st = st.copy(level = level)
            out += FunnelLevel(uid, level, ms)
          }
        for (e <- sorted) {
          val ms = e.ts.getTime
          // expired windows can never chain further: prune first
          val live = st.windows.filter(w => w.vts_ms + windowMs >= ms)
          st = st.copy(windows = live)
          e.event_type match {
            case "view" if st.level < 3 =>
              raise(1, ms)
              if (st.windows.size < FunnelMaxOpenWindows)
                st = st.copy(windows = st.windows :+ FunnelWindow(ms, None))
            case "click" if st.level < 3 =>
              val (hit, updated) = st.windows.foldLeft((false, List.empty[FunnelWindow])) {
                case ((h, acc), w) =>
                  if (w.c1_ms.isEmpty && ms > w.vts_ms && ms <= w.vts_ms + windowMs)
                    (true, acc :+ w.copy(c1_ms = Some(ms)))
                  else (h, acc :+ w)
              }
              st = st.copy(windows = updated)
              if (hit) raise(2, ms)
            case "purchase" if st.level < 3 =>
              val done = st.windows.exists(w =>
                w.c1_ms.exists(c1 => ms > c1 && ms <= w.vts_ms + windowMs))
              if (done) { raise(3, ms); st = st.copy(windows = Nil) }
            case _ => ()
          }
        }
        (Some(st), out.result().iterator)
    }
  }
}
