package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.{exact, rowsOnly}
import graft.sources.Firehose

/** Round-10 operators — growth/audience windows that need sliding
  * distinct counts (exact + mergeable-sketch twins), link-level feed
  * dedup from the firehose surface, and the governance/profiling
  * passes (k-anonymity, histograms) a data-platform team runs beside
  * the corpus pipeline.
  */
object Round10Ops {
  import OracleMath._

  /** #260 sliding_mau — trailing-7-day distinct active users per day
    * (the growth team's MAU curve at daily grain; #148 user_stickiness
    * reads one week, this reads every day's trailing window). The ONLY
    * full-data shuffle is the distinct (user, day) projection — fine
    * keys, map-side combinable; each surviving pair then explodes into
    * the ≤7 window-end days it contributes to (bounded fan-out,
    * capped at the observed horizon via a single-row span broadcast —
    * the gap_fill device, no wall clock in the plan), and the final
    * count-distinct runs over day keys whose cardinality is the
    * calendar, not the data. A window-function form (range frame over
    * users) cannot express sliding DISTINCT; the explode form is how
    * engines actually scale it.
    */
  def slidingMau(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val span = ud.agg(max(col("d")).as("hi"))
    ud.crossJoin(broadcast(span))
      .select(
        col("user_id"),
        explode(expr("sequence(d, least(date_add(d, 6), hi))")).as("wd"))
      .groupBy(col("wd"))
      .agg(countDistinct(col("user_id")).as("mau_7d"))
      .select(date_format(col("wd"), "yyyy-MM-dd").as("day"), col("mau_7d"))
      .orderBy(col("day"))
  }

  val slidingMauSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |span AS (SELECT max(d) AS hi FROM ud),
      |ex AS (
      |  SELECT user_id, unnest(generate_series(d, least(d + INTERVAL 6 DAY, hi), INTERVAL 1 DAY))::DATE AS wd
      |  FROM ud, span
      |)
      |SELECT strftime(wd, '%Y-%m-%d') AS day, count(DISTINCT user_id) AS mau_7d
      |FROM ex GROUP BY wd ORDER BY day""".stripMargin

  /** #261 mau_hll_sliding — the 100 TB twin of #260: per-day
    * HyperLogLog sketches (DataSketches HllSketch via Spark's native
    * hll_sketch_agg) union-merged over the trailing window. The raw
    * event stream collapses to ONE fixed-KB sketch row per day before
    * any window fan-out — the distinct (user, day) shuffle of the
    * exact form never happens, and sketch union is associative, so the
    * same per-day partials serve every window width and re-merge
    * incrementally as new days land (the IncrementalCounters property,
    * for distincts). Rows-only by design (sketch estimates are not
    * SQL-reproducible); QueryCatalogSpec pins |approx − exact|/exact
    * ≤ 2% against #260 on every day.
    */
  def mauHllSliding(s: SparkSession, dir: String): DataFrame =
    slidingMauFromSketches(
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk")))

  /** The serving half of #251/#49r: any (d, sk) relation of per-day HLL
    * sketch partials → the trailing-7-day estimate curve. Reads |days|
    * rows, never events; register-max union is associative and
    * order-free, so batch one-shot sketches and a streamed snapshot of
    * incrementally merged state produce IDENTICAL estimates
    * (StreamingSpec pins the equality).
    */
  def slidingMauFromSketches(daily: DataFrame): DataFrame = {
    val span = daily.agg(max(col("d")).as("hi"))
    daily.crossJoin(broadcast(span))
      .select(col("sk"), explode(expr("sequence(d, least(date_add(d, 6), hi))")).as("wd"))
      .groupBy(col("wd"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("mau_approx"))
      .select(date_format(col("wd"), "yyyy-MM-dd").as("day"), col("mau_approx"))
      .orderBy(col("day"))
  }

  /** #262 dedup_by_link — feed-level URL dedup over parsed firehose
    * posts: every outbound link canonicalizes (lowercase host+path,
    * trailing-slash strip) and each canonical URL keeps its FIRST
    * post (min id — TIDs are time-sortable, so min id IS earliest,
    * the house survivor rule). The reference's duplicates filter
    * (main.rs:1916) keys on record identity; feed curators dedup the
    * same story posted N times by the LINK — this is that operator on
    * the normalized firehose output. One explode + one hash-key
    * aggregate with map-side min/count combine; a link shared by a
    * million posts costs a combine tree, never a hot window partition.
    */
  def dedupByLink(s: SparkSession, dir: String): DataFrame =
    Firehose.parsePostRecords(Firehose.synthPostRecords(Tables.events(s, dir)))
      .select(col("id"), explode(col("links")).as("url"))
      .select(col("id"), lower(regexp_replace(col("url"), "/+$", "")).as("url_canon"))
      .groupBy(col("url_canon"))
      .agg(min(col("id")).as("keeper_id"), count(lit(1)).as("n_posts"))
      .orderBy(col("url_canon"))

  val dedupByLinkSql: String = Round8Ops.rawPostsSql + """
    |, links AS (
    |  SELECT substring(json_extract_string(raw,'$.id'), 6) AS id,
    |    lower(regexp_replace(unnest(json_transform(json_extract(raw,'$.links'), '["VARCHAR"]')), '/+$', '')) AS url_canon
    |  FROM raw
    |  WHERE length(json_extract_string(raw,'$.id')) >= 6
    |    AND length(json_extract_string(raw,'$.author')) >= 5
    |    AND json_extract_string(raw,'$.text') IS NOT NULL
    |    AND json_extract_string(raw,'$.createdAt') IS NOT NULL
    |)
    |SELECT url_canon, min(id) AS keeper_id, count(*) AS n_posts
    |FROM links GROUP BY 1 ORDER BY 1""".stripMargin

  /** #263 source_lang_entropy — per-source language-mix entropy (the
    * data-card diversity number beside corpus_mix_report: a "web"
    * source collapsing to one language is an upstream-crawl regression
    * that row counts never show). The fact stream collapses to the
    * bounded |source|×|lang| matrix in one map-side-combined shuffle;
    * entropy folds over each source's ≤|langs| rows as
    * -Σ (c/n)·ln(c/n) with the share division on exact longs and ln on
    * the rounded share (the q14 device) so both engines evaluate the
    * identical IEEE expression in the identical aggregation-free
    * order (a fixed-order sum over the sorted lang list).
    */
  def sourceLangEntropy(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.documents(s, dir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
    val tot = m.groupBy(col("source")).agg(sum(col("c")).as("n"))
    m.join(tot, Seq("source"))
      .select(col("source"), col("n"),
        (col("c").cast("double") / col("n").cast("double")).as("p"))
      .groupBy(col("source"), col("n"))
      // entropy term ordering: sum of rounded per-lang terms would be
      // order-dependent in float; round each term to 12 dp and sum as
      // DECIMAL so the fold is associative and engine-identical
      .agg(emit(sum(round(-col("p") * log(col("p")), 12).cast(Dec12)), 6).as("entropy"))
      .select(col("source"), col("n").as("n_docs"), col("entropy"))
      .orderBy(col("source"))
  }

  val sourceLangEntropySql: String =
    """WITH m AS (
      |  SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2
      |), tot AS (
      |  SELECT source, sum(c) AS n FROM m GROUP BY 1
      |)
      |SELECT m.source, CAST(any_value(tot.n) AS BIGINT) AS n_docs,
      |  (CAST(round(sum(CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 12) AS DECIMAL(38,12))), 6) AS DOUBLE) + 0.0) AS entropy
      |FROM m JOIN tot ON m.source = tot.source
      |GROUP BY m.source ORDER BY m.source""".stripMargin

  /** #253 cdc_apply — changelog → current-state snapshot (the MERGE
    * INTO semantics of a lakehouse sink; the batch twin of the
    * streaming upsert stores and the compaction sibling of scd2_history,
    * which keeps ALL intervals where this keeps the LAST state): a
    * keyed upsert/delete stream (derived deterministically from events:
    * every 10th event is a tombstone) collapses to one row per key via
    * max_by over the (ts, event_id) version struct — the house argmax
    * rule, map-side combinable, NEVER a row_number window over the raw
    * stream — and keys whose final op is a delete drop AFTER the
    * aggregate (a tombstone must beat earlier upserts, not vanish
    * before the argmax). ONE shuffle at 100 TB, and the same plan
    * folds a day's changelog into yesterday's snapshot unchanged.
    */
  def cdcApply(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(
        col("user_id"),
        when(col("event_id") % 10 === 0, lit("D")).otherwise(lit("U")).as("op"),
        col("value"), col("ts"), col("event_id"))
      .groupBy(col("user_id"))
      .agg(
        max_by(struct(col("op"), col("value"), col("ts")),
          struct(col("ts"), col("event_id"))).as("last"),
        count(lit(1)).as("n_ops"))
      .filter(col("last.op") =!= "D")
      .select(
        col("user_id"),
        emit(col("last.value")).as("last_value"),
        epochMs(col("last.ts")).as("last_ts_ms"),
        col("n_ops"))
      .orderBy(col("user_id"))

  val cdcApplySql: String =
    """WITH log AS (
      |  SELECT user_id, CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
      |    value, ts, event_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n_ops
      |  FROM events
      |)
      |SELECT user_id, (CAST(round(value, 4) AS DOUBLE) + 0.0) AS last_value,
      |  epoch_ms(ts) AS last_ts_ms, n_ops
      |FROM log WHERE rn = 1 AND op <> 'D'
      |ORDER BY user_id""".stripMargin

  /** #254 k_anonymity — the governance pass before sharing a table:
    * group sizes over the quasi-identifier tuple (nation, market
    * segment, coarse balance band) tell you how many customers are
    * re-identifiable (a QI group of size 1 IS an identity). Output is
    * the group-size histogram with each size's share of all rows —
    * the "x% of rows live in groups below k=5" number a privacy
    * review reads. One QI-key shuffle with map-side combine, then a
    * tiny size-key agg; shares divide exact longs once, rounded
    * (the q14 device).
    */
  def kAnonymity(s: SparkSession, dir: String): DataFrame = {
    val groups = Tables.customer(s, dir)
      .select(
        col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).as("bal_band"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
      .agg(count(lit(1)).as("sz"))
    val total = groups.agg(sum(col("sz")).as("n_total"))
    groups.groupBy(col("sz"))
      .agg(count(lit(1)).as("n_groups"), sum(col("sz")).as("n_rows"))
      .crossJoin(broadcast(total))
      .select(
        col("sz").as("group_size"), col("n_groups"), col("n_rows"),
        emit(col("n_rows").cast("double") / col("n_total").cast("double"), 6).as("row_share"),
        (col("sz") < 5).as("below_k5"))
      .orderBy(col("group_size"))
  }

  val kAnonymitySql: String =
    """WITH g AS (
      |  SELECT c_nationkey, c_mktsegment, floor(c_acctbal / 1000) AS bal_band,
      |    count(*) AS sz
      |  FROM customer GROUP BY 1, 2, 3
      |), tot AS (SELECT sum(sz) AS n_total FROM g)
      |SELECT sz AS group_size, count(*) AS n_groups, CAST(sum(sz) AS BIGINT) AS n_rows,
      |  (CAST(round(CAST(sum(sz) AS DOUBLE) / CAST(any_value(n_total) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS row_share,
      |  sz < 5 AS below_k5
      |FROM g, tot GROUP BY sz ORDER BY group_size""".stripMargin

  /** #255 column_histograms — equi-width 10-bin histograms for every
    * numeric lineitem measure in ONE pass (the distribution view
    * table_profile's min/max can't give: a null-rate-stable column
    * whose mass silently shifts bands shows up here): global bounds
    * come from a single-row min/max broadcast (one scan, all columns
    * at once), each row then maps to its (column, bin) pair — ≤30
    * grouping keys total, map-side combinable, so the histogram
    * shuffle moves kilobytes at any SF. Bin edges are the identical
    * IEEE double expression in both engines (bounds → width → floor),
    * so bin assignment is bit-deterministic; the top edge closes
    * (least(bin, 9)) exactly like width_bucket's overflow bin.
    */
  def columnHistograms(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val bounds = li.agg(
      min(col(cols(0))).as("lo0"), max(col(cols(0))).as("hi0"),
      min(col(cols(1))).as("lo1"), max(col(cols(1))).as("hi1"),
      min(col(cols(2))).as("lo2"), max(col(cols(2))).as("hi2"))
    val binned = li.crossJoin(broadcast(bounds))
    val stacked = cols.zipWithIndex.map { case (c, i) =>
      binned.select(
        lit(c).as("column"),
        least(floor((col(c) - col(s"lo$i")) / ((col(s"hi$i") - col(s"lo$i")) / 10)), lit(9))
          .cast("long").as("bin"),
        col(s"lo$i").as("lo"), col(s"hi$i").as("hi"))
    }.reduce(_.unionByName(_))
    stacked
      .groupBy(col("column"), col("bin"))
      .agg(count(lit(1)).as("n"), first(col("lo")).as("lo"), first(col("hi")).as("hi"))
      .select(
        col("column"), col("bin"),
        emit(col("lo") + col("bin") * (col("hi") - col("lo")) / 10, 6).as("bin_lo"),
        emit(col("lo") + (col("bin") + 1) * (col("hi") - col("lo")) / 10, 6).as("bin_hi"),
        col("n"))
      .orderBy(col("column"), col("bin"))
  }

  val columnHistogramsSql: String =
    """WITH b AS (
      |  SELECT min(l_quantity) AS lo0, max(l_quantity) AS hi0,
      |         min(l_extendedprice) AS lo1, max(l_extendedprice) AS hi1,
      |         min(l_discount) AS lo2, max(l_discount) AS hi2
      |  FROM lineitem
      |), stacked AS (
      |  SELECT 'l_quantity' AS col, least(floor((l_quantity - lo0) / ((hi0 - lo0) / 10)), 9)::BIGINT AS bin, lo0 AS lo, hi0 AS hi FROM lineitem, b
      |  UNION ALL
      |  SELECT 'l_extendedprice', least(floor((l_extendedprice - lo1) / ((hi1 - lo1) / 10)), 9)::BIGINT, lo1, hi1 FROM lineitem, b
      |  UNION ALL
      |  SELECT 'l_discount', least(floor((l_discount - lo2) / ((hi2 - lo2) / 10)), 9)::BIGINT, lo2, hi2 FROM lineitem, b
      |)
      |SELECT col AS "column", bin,
      |  (CAST(round(any_value(lo) + bin * (any_value(hi) - any_value(lo)) / 10, 6) AS DOUBLE) + 0.0) AS bin_lo,
      |  (CAST(round(any_value(lo) + (bin + 1) * (any_value(hi) - any_value(lo)) / 10, 6) AS DOUBLE) + 0.0) AS bin_hi,
      |  count(*) AS n
      |FROM stacked GROUP BY col, bin ORDER BY "column", bin""".stripMargin

  /** #256 ab_lift_report — experiment readout: users hash into A/B by
    * the seeded-md5 device (deterministic, coordination-free — the
    * corpus_split rule on the user axis), conversion = any purchase
    * event; the report is per-variant exposure/conversion counts, the
    * rate lift, and the two-proportion z statistic. Per-user
    * exposure/conversion collapses in ONE fine-keyed aggregate; the
    * variant rollup is a 2-row agg; every derived stat is a single
    * double expression over exact longs (the assortativity device) so
    * both engines evaluate the identical IEEE formula, rounded once
    * at emit. The z-score's null-pool denominator guards zero with a
    * 1e-12 floor (one-variant edge).
    */
  def abLiftReport(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .select(
        when(md5(concat(lit("exp1:"), col("user_id").cast("string"))) < "8", "A")
          .otherwise("B").as("variant"),
        col("conv"))
    val m = perUser.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
    val wide = m.agg(
      sum(when(col("variant") === "A", col("n_users"))).as("na"),
      sum(when(col("variant") === "A", col("n_conv"))).as("ca"),
      sum(when(col("variant") === "B", col("n_users"))).as("nb"),
      sum(when(col("variant") === "B", col("n_conv"))).as("cb"))
    val pa = col("ca").cast("double") / col("na").cast("double")
    val pb = col("cb").cast("double") / col("nb").cast("double")
    val pool = (col("ca") + col("cb")).cast("double") / (col("na") + col("nb")).cast("double")
    val se = sqrt(greatest(
      pool * (lit(1.0) - pool) *
        (lit(1.0) / col("na").cast("double") + lit(1.0) / col("nb").cast("double")),
      lit(1e-12)))
    wide.select(
      col("na").as("n_a"), col("ca").as("conv_a"), emit(pa, 6).as("rate_a"),
      col("nb").as("n_b"), col("cb").as("conv_b"), emit(pb, 6).as("rate_b"),
      emit(pb - pa, 6).as("abs_lift"),
      emit((pb - pa) / se, 4).as("z_score"))
  }

  val abLiftReportSql: String =
    """WITH pu AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY user_id
      |), v AS (
      |  SELECT CASE WHEN md5('exp1:' || CAST(user_id AS VARCHAR)) < '8' THEN 'A' ELSE 'B' END AS variant, conv
      |  FROM pu
      |), m AS (
      |  SELECT variant, count(*) AS n_users, sum(conv) AS n_conv FROM v GROUP BY variant
      |), w AS (
      |  SELECT
      |    sum(CASE WHEN variant='A' THEN n_users END) AS na,
      |    sum(CASE WHEN variant='A' THEN n_conv END) AS ca,
      |    sum(CASE WHEN variant='B' THEN n_users END) AS nb,
      |    sum(CASE WHEN variant='B' THEN n_conv END) AS cb
      |  FROM m
      |)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a,
      |  (CAST(round(CAST(ca AS DOUBLE)/CAST(na AS DOUBLE), 6) AS DOUBLE) + 0.0) AS rate_a,
      |  CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b,
      |  (CAST(round(CAST(cb AS DOUBLE)/CAST(nb AS DOUBLE), 6) AS DOUBLE) + 0.0) AS rate_b,
      |  (CAST(round(CAST(cb AS DOUBLE)/CAST(nb AS DOUBLE) - CAST(ca AS DOUBLE)/CAST(na AS DOUBLE), 6) AS DOUBLE) + 0.0) AS abs_lift,
      |  (CAST(round((CAST(cb AS DOUBLE)/CAST(nb AS DOUBLE) - CAST(ca AS DOUBLE)/CAST(na AS DOUBLE))
      |    / sqrt(greatest(
      |        (CAST(ca+cb AS DOUBLE)/CAST(na+nb AS DOUBLE)) * (1 - CAST(ca+cb AS DOUBLE)/CAST(na+nb AS DOUBLE))
      |          * (1.0/CAST(na AS DOUBLE) + 1.0/CAST(nb AS DOUBLE)),
      |        1e-12)), 4) AS DOUBLE) + 0.0) AS z_score
      |FROM w""".stripMargin

  /** #257 shard_skew_report — the pre-write layout audit: docs hash
    * into 64 shards by the portable seeded-md5 device and the report
    * reads each shard's doc count, byte load, and its load factor vs
    * the perfectly balanced share. This is the check run BEFORE a
    * 100 TB write job picks writer parallelism — a skewed content key
    * (or a broken hash) shows up here as a factor ≫ 1, when finding it
    * at write time costs a straggler executor instead of a report row.
    * One map-side-combined 64-key aggregate + a single-row total
    * broadcast; load factors divide exact longs once (q14 device).
    */
  def shardSkewReport(s: SparkSession, dir: String): DataFrame = {
    val shard = pmod(
      conv(substring(md5(concat(lit("shard:"), col("doc_id").cast("string"))), 1, 6), 16, 10)
        .cast("long"), lit(64L))
    val per = Tables.documents(s, dir)
      .select(shard.as("shard"), col("n_chars"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_bytes"))
    val tot = per.agg(sum(col("n_docs")).as("td"), sum(col("n_bytes")).as("tb"))
    per.crossJoin(broadcast(tot))
      .select(
        col("shard"), col("n_docs"), col("n_bytes"),
        emit(col("n_docs").cast("double") * 64 / col("td").cast("double"), 6)
          .as("doc_load_factor"),
        emit(col("n_bytes").cast("double") * 64 / col("tb").cast("double"), 6)
          .as("byte_load_factor"))
      .orderBy(col("shard"))
  }

  val shardSkewReportSql: String =
    """WITH per AS (
      |  SELECT CAST(concat('0x', substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 64 AS shard,
      |    count(*) AS n_docs, sum(n_chars) AS n_bytes
      |  FROM documents GROUP BY 1
      |), tot AS (SELECT sum(n_docs) AS td, sum(n_bytes) AS tb FROM per)
      |SELECT shard, n_docs, CAST(n_bytes AS BIGINT) AS n_bytes,
      |  (CAST(round(CAST(n_docs AS DOUBLE) * 64 / CAST(td AS DOUBLE), 6) AS DOUBLE) + 0.0) AS doc_load_factor,
      |  (CAST(round(CAST(n_bytes AS DOUBLE) * 64 / CAST(tb AS DOUBLE), 6) AS DOUBLE) + 0.0) AS byte_load_factor
      |FROM per, tot ORDER BY shard""".stripMargin

  /** #258 orders_backlog — the daily open-order curve (placed but not
    * yet fully shipped; operations' WIP number): each order's open
    * interval is [orderdate, max lineitem shipdate], intervals become
    * ±1 boundary deltas, and the curve is the running sum over the
    * CALENDAR — so the only full-data work is one orderkey-co-keyed
    * agg+join (ship-completion per order) and one day-key delta agg;
    * the cumulative window runs over the bounded day matrix (≤ horizon
    * rows), never over raw orders — the concurrency_peak discipline at
    * day grain, where the per-day output needs the level, not the
    * in-day peak. Days between boundary events densify via the
    * gap_fill span-broadcast device so the curve has no holes.
    */
  def ordersBacklog(s: SparkSession, dir: String): DataFrame = {
    val shipped = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(max(to_date(col("l_shipdate"))).as("done"))
    // iv feeds both boundary branches of the delta union: one cut, one
    // orderkey join, instead of re-deriving the fact join per branch
    val iv = graft.Lineage.cut(Tables.orders(s, dir)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("start"))
      .join(shipped, col("o_orderkey") === col("l_orderkey")))
    val deltas = iv.select(col("start").as("d"), lit(1L).as("delta"))
      .unionByName(iv.select(date_add(col("done"), 1).as("d"), lit(-1L).as("delta")))
      .groupBy(col("d")).agg(sum(col("delta")).as("net"))
    val span = deltas.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val days = span.select(explode(expr("sequence(lo, hi)")).as("day"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("day")).rowsBetween(Long.MinValue, 0)
    days.join(deltas, col("day") === col("d"), "left")
      .select(col("day"), coalesce(col("net"), lit(0L)).as("net"))
      .withColumn("open_orders", sum(col("net")).over(w))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("open_orders"))
      .orderBy(col("day"))
  }

  val ordersBacklogSql: String =
    """WITH shipped AS (
      |  SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS done FROM lineitem GROUP BY 1
      |), iv AS (
      |  SELECT CAST(o_orderdate AS DATE) AS s, done
      |  FROM orders JOIN shipped ON o_orderkey = l_orderkey
      |), deltas AS (
      |  SELECT d, CAST(sum(delta) AS BIGINT) AS net FROM (
      |    SELECT s AS d, 1 AS delta FROM iv
      |    UNION ALL SELECT done + INTERVAL 1 DAY, -1 FROM iv
      |  ) GROUP BY d
      |), span AS (SELECT min(d) AS lo, max(d) AS hi FROM deltas),
      |days AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day FROM span)
      |SELECT strftime(day, '%Y-%m-%d') AS day,
      |  CAST(sum(coalesce(net, 0)) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open_orders
      |FROM days LEFT JOIN deltas ON day = d
      |ORDER BY day""".stripMargin

  /** #259 repeat_purchase — time-to-second-order bands (the retention
    * economics number beside #28d's activity cohorts: repeat WITHIN 30
    * days funds acquisition, "never" defines churn cost): two chained
    * aggregates on the SAME customer key — first-order min, then the
    * conditional min over strictly-later dates (a plain second-rank
    * min_by cannot skip same-day duplicate orders) — so the join
    * between them is co-partitioned and nothing re-shuffles;
    * single-order customers band as 'never'. Bands count in a ≤4-row
    * agg; shares divide exact longs (q14 device).
    */
  def repeatPurchase(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"))
    val first = o.groupBy(col("o_custkey")).agg(min(col("d")).as("d1"))
    val second = o.join(first, Seq("o_custkey"))
      .groupBy(col("o_custkey"))
      .agg(
        min(col("d1")).as("d1"),
        min(when(col("d") > col("d1"), col("d"))).as("d2"))
    val gap = datediff(col("d2"), col("d1"))
    val banded = second.select(
      when(col("d2").isNull, "never")
        .when(gap <= 30, "within_30d")
        .when(gap <= 90, "within_90d")
        .otherwise("later").as("band"))
      .groupBy(col("band")).agg(count(lit(1)).as("n_customers"))
    val tot = banded.agg(sum(col("n_customers")).as("t"))
    banded.crossJoin(broadcast(tot))
      .select(col("band"), col("n_customers"),
        emit(col("n_customers").cast("double") / col("t").cast("double"), 6).as("share"))
      .orderBy(col("band"))
  }

  val repeatPurchaseSql: String =
    """WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders),
      |f AS (SELECT o_custkey, min(d) AS d1 FROM o GROUP BY 1),
      |s AS (
      |  SELECT o.o_custkey, any_value(d1) AS d1,
      |    min(CASE WHEN d > d1 THEN d END) AS d2
      |  FROM o JOIN f ON o.o_custkey = f.o_custkey GROUP BY o.o_custkey
      |), banded AS (
      |  SELECT CASE WHEN d2 IS NULL THEN 'never'
      |    WHEN date_diff('day', d1, d2) <= 30 THEN 'within_30d'
      |    WHEN date_diff('day', d1, d2) <= 90 THEN 'within_90d'
      |    ELSE 'later' END AS band
      |  FROM s
      |), m AS (SELECT band, count(*) AS n_customers FROM banded GROUP BY 1),
      |tot AS (SELECT sum(n_customers) AS t FROM m)
      |SELECT band, n_customers,
      |  (CAST(round(CAST(n_customers AS DOUBLE) / CAST(t AS DOUBLE), 6) AS DOUBLE) + 0.0) AS share
      |FROM m, tot ORDER BY band""".stripMargin

  /** #264 audience_overlap_sketch — the 100 TB twin of #145
    * user_overlap_matrix: per-type DataSketches THETA sketches support
    * set INTERSECTION (HLL cannot — union-only), so pairwise audience
    * overlap becomes theta_intersection over |types| fixed-KB sketch
    * rows. The exact form's user-key self-join fans every user out
    * |their types| ways and re-shuffles the pair stream; here the raw
    * stream collapses ONCE into one sketch per type (map-side merged
    * TypedImperativeAggregate, the hll_sketch_agg machinery), and the
    * |types|² pair algebra runs on a broadcast-sized relation — the
    * same sketches also answer union/difference audience questions
    * without another scan. Rows-only by declared design;
    * QueryCatalogSpec pins every estimate within 2% of #145's exact
    * matrix (at test SF the sketches run in exact mode — below the
    * 4096-hash retention threshold theta keeps every hash).
    */
  def audienceOverlapSketch(s: SparkSession, dir: String): DataFrame = {
    val sk = Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(expr("theta_sketch_agg(user_id)").as("sk"))
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"))
    a.join(b, col("type_a") < col("type_b"))
      .select(
        col("type_a"), col("type_b"),
        expr("theta_sketch_estimate(ska)").as("users_a_est"),
        expr("theta_sketch_estimate(skb)").as("users_b_est"),
        expr("theta_sketch_estimate(theta_intersection(ska, skb))").as("overlap_est"))
      .withColumn("jaccard_est",
        emit(col("overlap_est").cast("double") /
          (col("users_a_est") + col("users_b_est") - col("overlap_est")).cast("double"), 6))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** #265 word_bigrams — the bigram language model table (top-5
    * continuations per head word with conditional probability):
    * doc_perplexity scores docs against a unigram LM, this TRAINS the
    * next order up — the model behind "boilerplate completion" checks
    * and the classic smoke test of any corpus change (a mirror
    * truncation visibly reshapes the continuation table before
    * aggregate stats move). Bigrams come from ONE per-doc array pass
    * (zip words with their tail — no self-join, no window over an
    * exploded gram table), count in a map-side-combined gram-key agg,
    * head totals join back co-keyed on the head word, probability is
    * one exact-long division, and the top-5 per head ranks through a
    * row_number window over the already-aggregated |vocab|²-bounded
    * count table — never over raw grams; df≥3 head filter keeps the
    * table reportable.
    */
  def wordBigrams(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(s, dir)
      .select(split(col("text"), " ").as("w"))
      .select(explode(expr(
        "filter(zip_with(w, slice(w, 2, size(w)), (a, b) -> struct(a AS w1, b AS w2)), p -> p.w2 IS NOT NULL)"))
        .as("g"))
      .select(col("g.w1").as("w1"), col("g.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
    val counts = grams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val heads = counts.groupBy(col("w1")).agg(sum(col("c")).as("head_n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w1")).orderBy(col("c").desc, col("w2"))
    counts.join(heads, Seq("w1"))
      .filter(col("head_n") >= 3)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(
        col("w1"), col("w2"), col("c"), col("head_n"),
        emit(col("c").cast("double") / col("head_n").cast("double"), 6).as("p"),
        col("rn"))
      .orderBy(col("w1"), col("rn"))
  }

  val wordBigramsSql: String =
    """WITH toks AS (
      |  SELECT string_split(text, ' ') AS w FROM documents
      |), grams AS (
      |  SELECT w[i] AS w1, w[i+1] AS w2
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i)
      |  WHERE w[i] <> '' AND w[i+1] <> ''
      |), counts AS (
      |  SELECT w1, w2, count(*) AS c FROM grams GROUP BY 1, 2
      |), heads AS (
      |  SELECT w1, sum(c) AS head_n FROM counts GROUP BY 1
      |), ranked AS (
      |  SELECT counts.w1, w2, c, head_n,
      |    row_number() OVER (PARTITION BY counts.w1 ORDER BY c DESC, w2) AS rn
      |  FROM counts JOIN heads ON counts.w1 = heads.w1
      |  WHERE head_n >= 3
      |)
      |SELECT w1, w2, c, CAST(head_n AS BIGINT) AS head_n,
      |  (CAST(round(CAST(c AS DOUBLE) / CAST(head_n AS DOUBLE), 6) AS DOUBLE) + 0.0) AS p, rn
      |FROM ranked WHERE rn <= 5 ORDER BY w1, rn""".stripMargin

  /** #266 tokenizer_fertility — tokens-per-word and chars-per-token by
    * language (the tokenizer-equity report: a BPE trained on English
    * fragments other scripts into 2-3× the tokens, which silently
    * triples those languages' training cost and context usage — THE
    * number multilingual data teams read before fixing a vocab). Words
    * by whitespace, tokens by the BPE-ish regex device shared with
    * token_count; both counts are per-row expressions folded in one
    * |langs|-bounded aggregate — one scan, one tiny shuffle; ratios
    * divide exact longs once (q14 device).
    */
  def tokenizerFertility(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        size(regexp_extract_all(col("text"), lit("[a-z]{1,4}|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("words"),
        sum(col("n_tokens")).as("tokens"),
        sum(col("n_chars")).as("chars"))
      .select(
        col("lang"), col("n_docs"), col("words"), col("tokens"),
        emit(col("tokens").cast("double") / col("words").cast("double"), 6).as("fertility"),
        emit(col("chars").cast("double") / col("tokens").cast("double"), 6).as("chars_per_token"))
      .orderBy(col("lang"))

  val tokenizerFertilitySql: String =
    """WITH per AS (
      |  SELECT lang,
      |    len(string_split(text, ' ')) AS n_words,
      |    len(regexp_extract_all(text, '[a-z]{1,4}|[0-9]+|[^a-z0-9 ]')) AS n_tokens,
      |    length(text) AS n_chars
      |  FROM documents
      |)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_words) AS BIGINT) AS words, CAST(sum(n_tokens) AS BIGINT) AS tokens,
      |  (CAST(round(CAST(sum(n_tokens) AS DOUBLE) / CAST(sum(n_words) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS fertility,
      |  (CAST(round(CAST(sum(n_chars) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS chars_per_token
      |FROM per GROUP BY lang ORDER BY lang""".stripMargin

  /** #267 conversion_survival — the Kaplan–Meier curve for
    * view→purchase latency WITH right-censoring (the question
    * funnel_stages' fixed 24 h window cannot answer: "how long does
    * conversion actually take", where users who haven't converted YET
    * must not count as failures — dropping them biases the curve, the
    * KM estimator is the standard fix). Per-user first-view and
    * first-later-purchase fall out of chained aggregates on the SAME
    * user key (the repeat_purchase device); exits (conversion or
    * censoring at the data horizon — a single-row broadcast, no wall
    * clock) group into the ≤|horizon-days| offset matrix, so at-risk
    * counts and the KM product run over bounded rows, never raw
    * events. The product Π(1−d/n) is order-sensitive in float, so each
    * ln(1−d/n) term — an exact-long division, identical IEEE in both
    * engines — rounds to 12 dp and cumulates as DECIMAL over the day
    * matrix (the source_lang_entropy device), exp'd once at emit.
    */
  /** #268 winsorized_mean — outlier-robust per-type value means:
    * plain, p1/p99-winsorized (clamp), and trimmed (drop) side by side
    * — the metric-pipeline standard for KPIs a single fat-fingered
    * event would otherwise move (the robust-center sibling of
    * mad_anomalies, which robustifies the SPREAD). One shared
    * percentile buffer per type gives both cut points (the #27 array
    * device); bounds round to 6 dp BEFORE the clamp compare so both
    * engines cut the identical frontier (the mad device), and every
    * retained/clamped value rounds then sums as DECIMAL — no float
    * fold in partition order. Two scans of the fact stream (one for
    * bounds, one for the robust means) with the bounds joined back on
    * the tiny type key — at 100 TB the second pass is the price of
    * exact percentiles; percentiles_approx is the one-pass sketch
    * path.
    */
  def winsorizedMean(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
    val bounds = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, array(0.01, 0.99))").as("ps"))
      .select(
        col("event_type"),
        round(col("ps").getItem(0), 6).as("lo"),
        round(col("ps").getItem(1), 6).as("hi"))
    val inB = col("value") >= col("lo") && col("value") <= col("hi")
    ev.join(bounds, Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        Round6Ops.mean6(dsum(round(col("value"), 6)), count(lit(1))).as("mean_raw"),
        Round6Ops.mean6(
          dsum(round(greatest(least(col("value"), col("hi")), col("lo")), 6)),
          count(lit(1))).as("mean_winsorized"),
        Round6Ops.mean6(
          dsum(when(inB, round(col("value"), 6))),
          sum(when(inB, 1L).otherwise(0L))).as("mean_trimmed"))
      .orderBy(col("event_type"))
  }

  val winsorizedMeanSql: String = {
    val raw = Round6Ops.mean6Sql(
      "sum(CAST(round(value, 6) AS DECIMAL(38,6)))", "count(*)")
    val wins = Round6Ops.mean6Sql(
      "sum(CAST(round(greatest(least(value, hi), lo), 6) AS DECIMAL(38,6)))", "count(*)")
    val trim = Round6Ops.mean6Sql(
      "sum(CASE WHEN value >= lo AND value <= hi THEN CAST(round(value, 6) AS DECIMAL(38,6)) END)",
      "sum(CASE WHEN value >= lo AND value <= hi THEN 1 ELSE 0 END)")
    s"""WITH b AS (
      |  SELECT event_type,
      |    round(quantile_cont(value, 0.01), 6) AS lo,
      |    round(quantile_cont(value, 0.99), 6) AS hi
      |  FROM events GROUP BY 1
      |)
      |SELECT e.event_type, count(*) AS n,
      |  CAST($raw AS DOUBLE) AS mean_raw,
      |  CAST($wins AS DOUBLE) AS mean_winsorized,
      |  CAST($trim AS DOUBLE) AS mean_trimmed
      |FROM events e JOIN b ON e.event_type = b.event_type
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin
  }

  /** #269 revenue_concentration — how much of total purchase value the
    * top 1% / 10% / 50% of users carry (the Pareto read behind
    * "whale risk": a business where 1% of users carry half the revenue
    * dies differently from one where they carry 5%). Per-user revenue
    * collapses in ONE fine-keyed DECIMAL aggregate; the three
    * thresholds come from a single shared percentile buffer over the
    * |users|-row relation (single-row broadcast back), and each
    * tier's share is a conditional DECIMAL sum over that same
    * relation — no sort, no ntile window over the full user set (the
    * orders_rfm discipline). Threshold compares run on 6-dp-rounded
    * doubles so both engines cut identical frontiers.
    */
  def revenueConcentration(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(emit(dsum(round(col("value"), 6)), 6).as("rev"))
    val cuts = rev.agg(expr("percentile(rev, array(0.99, 0.9, 0.5))").as("ps"))
      .select(
        round(col("ps").getItem(0), 6).as("c99"),
        round(col("ps").getItem(1), 6).as("c90"),
        round(col("ps").getItem(2), 6).as("c50"))
    def share(cut: Column): Column =
      emit(
        emit(dsum(when(col("rev") >= cut, col("rev"))), 6) /
          emit(dsum(col("rev")), 6), 6)
    rev.crossJoin(broadcast(cuts))
      .agg(
        count(lit(1)).as("n_users"),
        emit(dsum(col("rev")), 4).as("total_rev"),
        share(col("c99")).as("top1_share"),
        share(col("c90")).as("top10_share"),
        share(col("c50")).as("top50_share"))
  }

  val revenueConcentrationSql: String = {
    def share(cut: String): String =
      s"CAST(round(CAST(round(sum(CASE WHEN rev >= $cut THEN CAST(rev AS DECIMAL(38,6)) END), 6) AS DOUBLE)" +
        s" / CAST(round(sum(CAST(rev AS DECIMAL(38,6))), 6) AS DOUBLE), 6) AS DOUBLE)"
    s"""WITH rev AS (
      |  SELECT user_id,
      |    (CAST(round(sum(CAST(round(value, 6) AS DECIMAL(38,6))), 6) AS DOUBLE) + 0.0) AS rev
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1
      |), cuts AS (
      |  SELECT round(quantile_cont(rev, 0.99), 6) AS c99,
      |    round(quantile_cont(rev, 0.90), 6) AS c90,
      |    round(quantile_cont(rev, 0.50), 6) AS c50
      |  FROM rev
      |)
      |SELECT count(*) AS n_users,
      |  (CAST(round(sum(CAST(rev AS DECIMAL(38,6))), 4) AS DOUBLE) + 0.0) AS total_rev,
      |  ${share("c99")} AS top1_share,
      |  ${share("c90")} AS top10_share,
      |  ${share("c50")} AS top50_share
      |FROM rev, cuts""".stripMargin
  }

  /** #270 events_burstiness — the Fano factor (variance/mean of
    * per-minute arrival counts, zeros included) per event type: ≈1
    * reads Poisson (organic arrivals), ≫1 reads bursty (thundering
    * herds, retry storms, bot bursts) — the dispersion number beside
    * events_autocorr's rhythm and mad_anomalies' spikes. The fact
    * stream collapses to the (type, minute) matrix in one map-side-
    * combined shuffle; silent minutes enter through the global
    * minute-span count (single-row broadcast — zeros contribute
    * nothing to Σc and Σc², only to M), and both moments stay exact
    * integers in DECIMAL(38,0) (the events_autocorr overflow rule) so
    * the Fano expression is one double formula over exact values.
    */
  def eventsBurstiness(s: SparkSession, dir: String): DataFrame = {
    val perMin = Tables.events(s, dir)
      .select(col("event_type"), expr("unix_millis(ts) div 60000").as("mb"))
      .groupBy(col("event_type"), col("mb"))
      .agg(count(lit(1)).as("c"))
    val span = Tables.events(s, dir)
      .agg((expr("max(unix_millis(ts)) div 60000") - expr("min(unix_millis(ts)) div 60000") + 1L)
        .as("m"))
    val dec0 = org.apache.spark.sql.types.DecimalType(38, 0)
    perMin.groupBy(col("event_type"))
      .agg(
        sum(col("c").cast(dec0)).as("s1"),
        sum((col("c") * col("c")).cast(dec0)).as("s2"),
        count(lit(1)).as("active_minutes"))
      .crossJoin(broadcast(span))
      .select(
        col("event_type"), col("active_minutes"), col("m").as("total_minutes"),
        emit(col("s1").cast("double") / col("m").cast("double"), 6).as("mean_per_min"),
        emit(
          (col("s2").cast("double") / col("m").cast("double") -
            (col("s1").cast("double") / col("m").cast("double")) *
              (col("s1").cast("double") / col("m").cast("double"))) /
            (col("s1").cast("double") / col("m").cast("double")), 6).as("fano"))
      .orderBy(col("event_type"))
  }

  val eventsBurstinessSql: String =
    """WITH pm AS (
      |  SELECT event_type, epoch_ms(ts) // 60000 AS mb, count(*) AS c
      |  FROM events GROUP BY 1, 2
      |), span AS (
      |  SELECT (max(epoch_ms(ts)) // 60000) - (min(epoch_ms(ts)) // 60000) + 1 AS m FROM events
      |), agg AS (
      |  SELECT event_type, sum(CAST(c AS HUGEINT)) AS s1,
      |    sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS s2, count(*) AS active_minutes
      |  FROM pm GROUP BY 1
      |)
      |SELECT event_type, active_minutes, CAST(m AS BIGINT) AS total_minutes,
      |  (CAST(round(CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE), 6) AS DOUBLE) + 0.0) AS mean_per_min,
      |  (CAST(round((CAST(s2 AS DOUBLE) / CAST(m AS DOUBLE)
      |      - (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)))
      |    / (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS fano
      |FROM agg, span ORDER BY event_type""".stripMargin

  /** #271 rfm_migration — quarter-over-quarter customer segment
    * transition matrix (orders_rfm labels customers ONCE; this tracks
    * how they MOVE — the "are my best customers decaying" question a
    * static segmentation cannot answer, the markov_transitions device
    * on the segment axis). Per (customer, quarter) frequency/monetary
    * collapse in one fine-keyed DECIMAL agg; the 2×2 segment cut uses
    * GLOBAL medians over customer-quarters (single-row broadcast —
    * never an ntile window, the orders_rfm discipline); consecutive
    * quarters pair by a co-keyed self-join on (customer, quarter+1)
    * with absent next quarters reading 'gone'; the |segments|²-bounded
    * matrix counts with map-side combine, row-shares divide exact
    * longs (markov device).
    */
  def rfmMigration(s: SparkSession, dir: String): DataFrame = {
    val cq = Tables.orders(s, dir)
      .select(
        col("o_custkey"),
        (year(col("o_orderdate")) * 4 + quarter(col("o_orderdate")) - 1).as("q"),
        col("o_totalprice"))
      .groupBy(col("o_custkey"), col("q"))
      .agg(count(lit(1)).as("f"), emit(dsum(col("o_totalprice"))).as("m"))
    val meds = cq.agg(
      round(expr("percentile(f, 0.5)"), 6).as("med_f"),
      round(expr("percentile(m, 0.5)"), 6).as("med_m"))
    // seg feeds BOTH sides of the consecutive-quarter self-join: cut
    // the lineage so the cq+medians chain computes once, not twice
    val seg = graft.Lineage.cut(cq.crossJoin(broadcast(meds))
      .select(
        col("o_custkey"), col("q"),
        concat(
          when(col("f") >= col("med_f"), lit("F")).otherwise(lit("f")),
          when(col("m") >= col("med_m"), lit("M")).otherwise(lit("m"))).as("seg")))
    val next = seg.select(
      col("o_custkey"), (col("q") - 1).as("q"), col("seg").as("seg_to"))
    val pairs = seg.join(next, Seq("o_custkey", "q"), "left")
      .select(col("seg").as("seg_from"), coalesce(col("seg_to"), lit("gone")).as("seg_to"))
    val m = pairs.groupBy(col("seg_from"), col("seg_to")).agg(count(lit(1)).as("n"))
    val tot = m.groupBy(col("seg_from")).agg(sum(col("n")).as("row_n"))
    m.join(tot, Seq("seg_from"))
      .select(
        col("seg_from"), col("seg_to"), col("n"),
        emit(col("n").cast("double") / col("row_n").cast("double"), 6).as("p"))
      .orderBy(col("seg_from"), col("seg_to"))
  }

  val rfmMigrationSql: String =
    """WITH cq AS (
      |  SELECT o_custkey, year(o_orderdate) * 4 + quarter(o_orderdate) - 1 AS q,
      |    count(*) AS f,
      |    (CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 4) AS DOUBLE) + 0.0) AS m
      |  FROM orders GROUP BY 1, 2
      |), meds AS (
      |  SELECT round(quantile_cont(f, 0.5), 6) AS med_f,
      |    round(quantile_cont(m, 0.5), 6) AS med_m
      |  FROM cq
      |), seg AS (
      |  SELECT o_custkey, q,
      |    (CASE WHEN f >= med_f THEN 'F' ELSE 'f' END) ||
      |    (CASE WHEN m >= med_m THEN 'M' ELSE 'm' END) AS seg
      |  FROM cq, meds
      |), pairs AS (
      |  SELECT a.seg AS seg_from, coalesce(b.seg, 'gone') AS seg_to
      |  FROM seg a LEFT JOIN seg b
      |    ON a.o_custkey = b.o_custkey AND b.q = a.q + 1
      |), m2 AS (
      |  SELECT seg_from, seg_to, count(*) AS n FROM pairs GROUP BY 1, 2
      |), tot AS (SELECT seg_from, sum(n) AS row_n FROM m2 GROUP BY 1)
      |SELECT m2.seg_from, seg_to, n,
      |  (CAST(round(CAST(n AS DOUBLE) / CAST(row_n AS DOUBLE), 6) AS DOUBLE) + 0.0) AS p
      |FROM m2 JOIN tot ON m2.seg_from = tot.seg_from
      |ORDER BY m2.seg_from, seg_to""".stripMargin

  /** #272 truncation_coverage — the max-seq-len design table: for each
    * candidate cap (64…8192 tokens) the share of docs fitting entirely
    * and the share of TOKEN MASS retained after truncation
    * (Σ min(tok, L) / Σ tok) — corpus_length_report histograms chars
    * by source, this answers the decision the histogram feeds: "which
    * cap loses how much data". Per-doc token counts in one scan (the
    * token_count whitespace rule), then a bounded ×|caps| explode and
    * one 8-row aggregate with map-side combine; shares divide exact
    * longs once (q14 device); coverage is monotone in the cap
    * (spec-pinned).
    */
  def truncationCoverage(s: SparkSession, dir: String): DataFrame = {
    val caps = Seq(64, 128, 256, 512, 1024, 2048, 4096, 8192)
    val per = Tables.documents(s, dir)
      .select(size(split(col("text"), " +")).cast("long").as("tok"))
    per
      .select(col("tok"), explode(lit(caps.toArray)).as("cap"))
      .groupBy(col("cap"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("tok") <= col("cap"), 1L).otherwise(0L)).as("docs_within"),
        sum(col("tok")).as("total_tokens"),
        sum(least(col("tok"), col("cap").cast("long"))).as("tokens_retained"))
      .select(
        col("cap"),
        emit(col("docs_within").cast("double") / col("n_docs").cast("double"), 6)
          .as("doc_coverage"),
        col("total_tokens"), col("tokens_retained"),
        emit(col("tokens_retained").cast("double") / col("total_tokens").cast("double"), 6)
          .as("token_coverage"))
      .orderBy(col("cap"))
  }

  val truncationCoverageSql: String =
    """WITH per AS (
      |  SELECT len(regexp_split_to_array(text, ' +')) AS tok FROM documents
      |), ex AS (
      |  SELECT tok, unnest([64, 128, 256, 512, 1024, 2048, 4096, 8192]) AS cap FROM per
      |)
      |SELECT cap,
      |  (CAST(round(CAST(sum(CASE WHEN tok <= cap THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS doc_coverage,
      |  CAST(sum(tok) AS BIGINT) AS total_tokens,
      |  CAST(sum(least(tok, cap)) AS BIGINT) AS tokens_retained,
      |  (CAST(round(CAST(sum(least(tok, cap)) AS DOUBLE) / CAST(sum(tok) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS token_coverage
      |FROM ex GROUP BY cap ORDER BY cap""".stripMargin

  /** #273 fk_integrity_report — referential-integrity audit across
    * every join edge of the star schema (the nightly check a warehouse
    * runs before trusting joins: an orphaned foreign key silently
    * drops rows from every inner join downstream — the failure mode
    * that shows up as "revenue moved" three dashboards later). Each
    * relation contributes one row: row count, distinct FK values,
    * orphan rows (LEFT ANTI against the parent's key set — dim parents
    * broadcast; the fact-fact edge runs hint-free and AQE/bloom prunes
    * it), orphan rate from exact longs (q14 device). The five audits
    * union into one report; each is aggregate-only so the whole report
    * is one job with map-side-combined partials.
    */
  def fkIntegrityReport(s: SparkSession, dir: String): DataFrame = {
    def audit(name: String, child: DataFrame, fk: String, parent: DataFrame, pk: String) = {
      val orphans = child.select(col(fk)).filter(col(fk).isNotNull)
        .join(parent.select(col(pk)), col(fk) === col(pk), "left_anti")
      val base = child.agg(
        count(lit(1)).as("n_rows"),
        count_distinct(col(fk)).as("n_keys"),
        sum(when(col(fk).isNull, 1L).otherwise(0L)).as("n_null_fk"))
      base.crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
        .select(
          lit(name).as("relation"), col("n_rows"), col("n_keys"),
          col("n_null_fk"), col("n_orphans"),
          emit(col("n_orphans").cast("double") / col("n_rows").cast("double"), 6)
            .as("orphan_rate"))
    }
    audit("lineitem.l_orderkey->orders", Tables.lineitem(s, dir), "l_orderkey",
      Tables.orders(s, dir), "o_orderkey")
      .unionByName(audit("lineitem.l_partkey->part", Tables.lineitem(s, dir), "l_partkey",
        Tables.part(s, dir), "p_partkey"))
      .unionByName(audit("lineitem.l_suppkey->supplier", Tables.lineitem(s, dir), "l_suppkey",
        Tables.supplier(s, dir), "s_suppkey"))
      .unionByName(audit("orders.o_custkey->customer", Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir), "c_custkey"))
      .unionByName(audit("customer.c_nationkey->nation", Tables.customer(s, dir), "c_nationkey",
        Tables.nation(s, dir), "n_nationkey"))
      .orderBy(col("relation"))
  }

  val fkIntegrityReportSql: String = {
    def audit(name: String, child: String, fk: String, parent: String, pk: String) =
      s"""SELECT '$name' AS relation, count(*) AS n_rows,
         |  count(DISTINCT $fk) AS n_keys,
         |  CAST(sum(CASE WHEN $fk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_fk,
         |  CAST((SELECT count(*) FROM $child c WHERE c.$fk IS NOT NULL
         |        AND NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$fk)) AS BIGINT) AS n_orphans,
         |  (CAST(round(CAST((SELECT count(*) FROM $child c WHERE c.$fk IS NOT NULL
         |        AND NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$fk)) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS orphan_rate
         |FROM $child""".stripMargin
    Seq(
      audit("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      audit("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
      audit("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      audit("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
      audit("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY relation")
  }

  /** #274 table_profile_sketch — the 100 TB twin of table_profile
    * (#143): the exact per-column distinct counts there cost one
    * count-distinct EXPAND per column over the full stream; here every
    * distinct is a fixed-KB HLL sketch (lgK=14, <0.5% typical error)
    * so the whole profile stays ONE map-side-combined pass whose
    * shuffle moves kilobytes — the profile a pipeline can afford on
    * every arriving partition, not just nightly. Null counts and
    * min/max are exact (same expressions as #143); only the distinct
    * column is estimated. Rows-only by declared design;
    * QueryCatalogSpec pins every estimate within 2% of #143's exact
    * profile.
    */
  def tableProfileSketch(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val one = e.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("et_nulls"),
      hll_sketch_estimate(hll_sketch_agg(col("event_type"), lit(14))).as("et_distinct"),
      min(col("event_type")).as("et_min"),
      max(col("event_type")).as("et_max"),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("uid_nulls"),
      hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(14))).as("uid_distinct"),
      min(col("user_id")).cast("string").as("uid_min"),
      max(col("user_id")).cast("string").as("uid_max"),
      sum(when(col("props").isNull, 1L).otherwise(0L)).as("p_nulls"),
      hll_sketch_estimate(hll_sketch_agg(col("props"), lit(14))).as("p_distinct"),
      min(col("props")).as("p_min"),
      max(col("props")).as("p_max"))
    one.select(
        col("n_rows"),
        expr("""stack(3,
          'event_type', et_nulls, et_distinct, et_min, et_max,
          'user_id',    uid_nulls, uid_distinct, uid_min, uid_max,
          'props',      p_nulls, p_distinct, p_min, p_max
        ) AS (column_name, n_nulls, n_distinct_est, min_val, max_val)"""))
      .select(
        col("column_name"), col("n_rows"), col("n_nulls"),
        emit(col("n_nulls") / col("n_rows"), 6).as("null_rate"),
        col("n_distinct_est"), col("min_val"), col("max_val"))
      .orderBy(col("column_name"))
  }

  /** #275 dedup_survivorship — cross-source survivor bias after
    * near-dup clustering: when copies of a document live in several
    * sources, the min-id survivor rule systematically favors
    * earlier-ingested sources — a MIXTURE bias (the surviving corpus
    * over-represents whoever was crawled first) that corpus_mix_report
    * cannot see because it counts docs, not who beat whom. Reuses
    * dedup_clusters' bounded min-label components verbatim; the
    * survivor of a cluster IS its label (min doc id), so the report is
    * one co-keyed join from dropped docs to their survivor's source
    * and a bounded |sources|² matrix agg — the cluster machinery's
    * cost, plus kilobytes.
    */
  def dedupSurvivorship(s: SparkSession, dir: String): DataFrame = {
    val clusters = TextOps.dedupClusters(s, dir)
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val dropped = clusters.filter(col("doc_id") =!= col("cluster"))
      .join(src, Seq("doc_id"))
      .select(col("cluster"), col("source").as("dropped_source"))
    dropped
      .join(src.select(col("doc_id").as("cluster"), col("source").as("survivor_source")),
        Seq("cluster"))
      .groupBy(col("survivor_source"), col("dropped_source"))
      .agg(count(lit(1)).as("n_dropped"))
      .orderBy(col("survivor_source"), col("dropped_source"))
  }

  val dedupSurvivorshipSql: String = {
    val clusters = TextOps.dedupClustersSql.stripSuffix(" ORDER BY doc_id")
    s"""SELECT sv.source AS survivor_source, dr.source AS dropped_source,
       |  count(*) AS n_dropped
       |FROM ($clusters) c
       |JOIN documents dr ON dr.doc_id = c.doc_id
       |JOIN documents sv ON sv.doc_id = c.cluster
       |WHERE c.doc_id <> c.cluster
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** #276 user_feature_table — the feature-store materialization pass:
    * every behavioral feature a churn/LTV model consumes (activity
    * span, recency vs the data horizon, purchase value, type
    * diversity, weekend/night shares) computed in ONE fine-keyed
    * aggregate over one scan — the difference between a nightly
    * feature build and ten re-reads of the event store; adding a
    * feature is one more aggregate expression, zero extra shuffles.
    * Horizon anchors on the DATA's max day (single-row broadcast — the
    * rising_users rule, no wall clock); value sums go through DECIMAL
    * (dsum), shares divide exact longs (q14 device); day-of-week via
    * epoch-day arithmetic, never locale-dependent date functions (the
    * punchcard rule).
    */
  def userFeatureTable(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(
        col("user_id"), col("event_type"), col("value"),
        expr("unix_micros(ts) div 86400000000").as("ed"),
        expr("(unix_micros(ts) div 3600000000) % 24").as("hh"))
    val horizon = ev.agg(max(col("ed")).as("hz"))
    ev.crossJoin(broadcast(horizon))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        count_distinct(col("ed")).as("active_days"),
        (min(col("hz")) - max(col("ed"))).as("recency_d"),
        (max(col("ed")) - min(col("ed")) + 1L).as("span_d"),
        count_distinct(col("event_type")).as("n_types"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
        emit(dsum(when(col("event_type") === "purchase", round(col("value"), 6))
          .otherwise(lit(0)))).as("purchase_value"),
        emit(sum(when(pmod(col("ed") + 4, lit(7)) >= 5, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double"), 6).as("weekend_share"),
        emit(sum(when(col("hh") < 6, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double"), 6).as("night_share"))
      .orderBy(col("user_id"))
  }

  val userFeatureTableSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, value,
      |    epoch_us(ts) // 86400000000 AS ed,
      |    (epoch_us(ts) // 3600000000) % 24 AS hh
      |  FROM events
      |), hz AS (SELECT max(ed) AS hz FROM ev)
      |SELECT user_id, count(*) AS n_events,
      |  count(DISTINCT ed) AS active_days,
      |  CAST(any_value(hz) - max(ed) AS BIGINT) AS recency_d,
      |  CAST(max(ed) - min(ed) + 1 AS BIGINT) AS span_d,
      |  count(DISTINCT event_type) AS n_types,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
      |  (CAST(round(sum(CASE WHEN event_type = 'purchase' THEN CAST(round(value, 6) AS DECIMAL(38,6)) ELSE 0 END), 4) AS DOUBLE) + 0.0) AS purchase_value,
      |  (CAST(round(CAST(sum(CASE WHEN (ed + 4) % 7 >= 5 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS weekend_share,
      |  (CAST(round(CAST(sum(CASE WHEN hh < 6 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS night_share
      |FROM ev, hz GROUP BY user_id ORDER BY user_id""".stripMargin

  /** #277 ann_recall_report — the ANN evaluation harness as a catalog
    * query: measured hit-rate and recall@10 of every approximate
    * index family (LSH buckets, trained IVF, product quantization,
    * int8 quantization) against the exact float top-10, per the shared
    * 5-query probe set. Each family's spec pins its own floor; this op
    * is the REPORT a team reruns after retraining an index or bumping
    * a quantizer — retrieval QA as data, not as a test log. All four
    * candidate relations are k·|queries|-bounded, so the joins and the
    * 4-row rollup are broadcast-sized; rates divide exact longs (q14
    * device). Rows-only by declared design (three inputs are
    * themselves rows-only).
    */
  def annRecallReport(s: SparkSession, dir: String): DataFrame = {
    // the exact top-10 is consumed twice (the scalar |queries| and the
    // hit probe) — cut it so embed_knn runs ONCE; it is k·|queries|
    // rows, so the cut is pennies and the probe side broadcasts
    val exact = graft.Lineage.cut(
      TextOps.embedKnn(s, dir).select(col("query_id"), col("vec_id")))
    // each family's (query_id, vec_id) projection is k·|queries| rows:
    // cut them too, so the report aggregate consumes four materialized
    // micro-frames instead of carrying four full ANN pipelines (IVF and
    // PQ each train k-means inside) into one giant plan — the four
    // pipelines run once each at cut time, and the report plan is a
    // union of pinned blocks + one broadcast probe + one bounded agg
    // the four family pipelines are INDEPENDENT and each is a mostly
    // serial chain of small stages, so their eager cuts ran one after
    // another with ~1 core busy; materializing them from a small thread
    // pool overlaps the four pipelines on idle cores (guide §2.6 —
    // actions are only sequential because the driver calls them
    // sequentially). Results are pinned frames either way; r10 measured
    // the report 6.5 → ~4 s with the overlap.
    def tagged(name: String, df: => DataFrame) = () => graft.Lineage.cut(
      df.select(lit(name).as("method"), col("query_id"), col("vec_id")))
    val families = Seq(
      tagged("lsh_bucketed", TextOps.embedLshKnn(s, dir)),
      tagged("ivf_trained", TextOps.embedIvfKnn(s, dir)),
      tagged("pq_sampled", Round6Ops.embedPqKnn(s, dir)),
      tagged("int8_quantized", TextOps.embedQuantizedKnn(s, dir)))
    val approx = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      // daemon threads + try/finally shutdown (r10 ADVICE): a family
      // pipeline that throws must not leak non-daemon pool threads that
      // keep the driver JVM alive after main exits
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4,
        r => { val t = new Thread(r, "ann-recall-cut"); t.setDaemon(true); t })
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try Await.result(Future.sequence(families.map(f => Future(f()))), Duration.Inf)
        .reduce(_.unionByName(_))
      finally pool.shutdown()
    }
    val nq = exact.agg(countDistinct(col("query_id")).as("nq"))
    // ONE pass over the union: the old semi-join + separate count
    // consumed `approx` twice, re-running all four kNN families — the
    // left-probe form counts retrieved and hits in the same aggregate
    approx
      .join(broadcast(exact.withColumn("hit", lit(true))),
        Seq("query_id", "vec_id"), "left")
      .groupBy(col("method"))
      .agg(
        count(lit(1)).as("n_retrieved"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_hits"))
      .crossJoin(broadcast(nq)) // single row — the scalar stays in-plan
      .select(
        col("method"), col("n_retrieved"), col("n_hits"),
        emit(col("n_hits").cast("double") /
          col("n_retrieved").cast("double"), 6).as("hit_rate"),
        emit(col("n_hits").cast("double") /
          (col("nq") * 10).cast("double"), 6).as("recall_at_10"))
      .orderBy(col("method"))
  }

  def conversionSurvival(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"), to_date(col("ts")).as("d"))
    val horizon = ev.agg(max(col("d")).as("hz"))
    // firstView feeds the converter join, the censored anti-join and
    // the censored projection: cut it so the view-min computes once
    val firstView = graft.Lineage.cut(ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("d")).as("d0")))
    val exits = ev.filter(col("event_type") === "purchase")
      .join(firstView, Seq("user_id"))
      .groupBy(col("user_id"))
      .agg(min(col("d0")).as("d0"), min(when(col("d") >= col("d0"), col("d"))).as("d1"))
      .unionByName( // viewers with no purchase row at all still censor
        firstView.join(
          ev.filter(col("event_type") === "purchase").select(col("user_id")).distinct(),
          Seq("user_id"), "left_anti")
          .select(col("user_id"), col("d0"), lit(null).cast("date").as("d1")))
      .crossJoin(broadcast(horizon))
      .select(
        when(col("d1").isNotNull, datediff(col("d1"), col("d0")))
          .otherwise(datediff(col("hz"), col("d0"))).as("off"),
        col("d1").isNotNull.as("converted"))
    val matrix = exits.groupBy(col("off"))
      .agg(
        sum(when(col("converted"), 1L).otherwise(0L)).as("n_events"),
        count(lit(1)).as("n_exits"))
    val total = exits.agg(count(lit(1)).as("n_total"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("off")).rowsBetween(Long.MinValue, -1)
    val wIncl = org.apache.spark.sql.expressions.Window
      .orderBy(col("off")).rowsBetween(Long.MinValue, 0)
    matrix.crossJoin(broadcast(total))
      .withColumn("n_at_risk", col("n_total") - coalesce(sum(col("n_exits")).over(w), lit(0L)))
      .withColumn("lnterm",
        round(log(greatest(
          lit(1.0) - col("n_events").cast("double") / col("n_at_risk").cast("double"),
          lit(1e-12))), 12).cast(Dec12))
      .withColumn("km_survival", emit(exp(sum(col("lnterm")).over(wIncl).cast("double")), 6))
      .select(col("off").as("day_off"), col("n_at_risk"), col("n_events"), col("km_survival"))
      .orderBy(col("day_off"))
  }

  val conversionSurvivalSql: String =
    """WITH ev AS (SELECT user_id, event_type, CAST(ts AS DATE) AS d FROM events),
      |hz AS (SELECT max(d) AS hz FROM ev),
      |fv AS (SELECT user_id, min(d) AS d0 FROM ev WHERE event_type = 'view' GROUP BY 1),
      |conv AS (
      |  SELECT ev.user_id, min(d0) AS d0, min(CASE WHEN d >= d0 THEN d END) AS d1
      |  FROM ev JOIN fv ON ev.user_id = fv.user_id
      |  WHERE event_type = 'purchase' GROUP BY ev.user_id
      |), exits AS (
      |  SELECT CASE WHEN d1 IS NOT NULL THEN date_diff('day', d0, d1)
      |              ELSE date_diff('day', d0, hz) END AS off,
      |    d1 IS NOT NULL AS converted
      |  FROM conv, hz
      |  UNION ALL
      |  SELECT date_diff('day', fv.d0, hz), false
      |  FROM fv, hz
      |  WHERE fv.user_id NOT IN (SELECT user_id FROM ev WHERE event_type = 'purchase')
      |), matrix AS (
      |  SELECT off, sum(CASE WHEN converted THEN 1 ELSE 0 END) AS n_events,
      |    count(*) AS n_exits
      |  FROM exits GROUP BY off
      |), tot AS (SELECT count(*) AS n_total FROM exits),
      |risk AS (
      |  SELECT off, n_events, n_exits,
      |    n_total - coalesce(sum(n_exits) OVER (ORDER BY off ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_at_risk
      |  FROM matrix, tot
      |)
      |SELECT off AS day_off, CAST(n_at_risk AS BIGINT) AS n_at_risk,
      |  CAST(n_events AS BIGINT) AS n_events,
      |  (CAST(round(exp(CAST(sum(CAST(round(ln(greatest(1.0 - CAST(n_events AS DOUBLE) / CAST(n_at_risk AS DOUBLE), 1e-12)), 12) AS DECIMAL(38,12))) OVER (ORDER BY off ROWS UNBOUNDED PRECEDING) AS DOUBLE)), 6) AS DOUBLE) + 0.0) AS km_survival
      |FROM risk ORDER BY day_off""".stripMargin

  /** #278 bpe_train — the full BPE training LOOP (Sennrich et al.,
    * ACL'16), 8 merge rounds: bpe_merge_step ranks ONE round's pair
    * table, this runs the actual iteration — count pairs, take the
    * argmax, apply the merge, repeat — and emits the learned merge
    * list, the artifact a tokenizer ships. The scale property that
    * makes BPE trainable on 100 TB is structural here: the corpus
    * collapses to the word HISTOGRAM in one shuffle, and every round
    * after that runs over vocab-sized data (pair agg + a single-row
    * argmax broadcast + a per-row merge rewrite), never re-reading
    * text. The greedy left-to-right non-overlap merge is expressed as
    * plain string replace() over a self-wrapped symbol encoding
    * (every symbol carries its own ' x ' frame, so ' a  b ' matches
    * cannot overlap) — replace() is non-overlapping left-to-right in
    * BOTH engines, which IS greedy BPE merge order; Lineage.cut per
    * round stops the 2^rounds plan blow-up (the kcore rule), and the
    * oracle is 8 generated MATERIALIZED CTE rounds of the identical
    * algebra. Ties argmax on (freq desc, s1, s2) — total order.
    */
  def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    val rounds = 8
    val w0 = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("wc"))
      .select(col("wc"), regexp_replace(col("w"), "(.)", " $1 ").as("seq"))
    var words = graft.Lineage.cut(w0)
    val merges = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      val syms = split(trim(col("seq")), "  ")
      val pairs = words
        .filter(size(syms) >= 2)
        .select(
          col("wc"),
          explode(transform(
            sequence(lit(1), size(syms) - 1),
            i => struct(
              element_at(syms, i).as("s1"),
              element_at(syms, i + 1).as("s2")))).as("p"))
        .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
        .agg(sum(col("wc")).as("freq"))
      val best = graft.Lineage.cut( // feeds the report AND the rewrite
        pairs.orderBy(col("freq").desc, col("s1"), col("s2")).limit(1)
          .withColumn("round", lit(r)))
      merges += best
      words = graft.Lineage.cut(
        words.crossJoin(broadcast(best.drop("round")))
          .select(
            col("wc"),
            expr("replace(seq, ' ' || s1 || '  ' || s2 || ' ', ' ' || s1 || s2 || ' ')")
              .as("seq")))
    }
    merges.result().reduce(_.unionByName(_))
      .select(
        col("round"), col("s1"), col("s2"),
        concat(col("s1"), col("s2")).as("merged"), col("freq"))
      .orderBy(col("round"))
  }

  val bpeTrainSql: String = {
    val rounds = 8
    val head =
      """WITH w0 AS MATERIALIZED (
        |  SELECT count(*) AS wc, regexp_replace(token, '(.)', ' \1 ', 'g') AS seq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  WHERE token <> '' GROUP BY token
        |)""".stripMargin
    val stages = (1 to rounds).map { r =>
      s"""pr$r AS MATERIALIZED (
         |  SELECT s[i] AS s1, s[i+1] AS s2, sum(wc) AS freq
         |  FROM (SELECT wc, string_split(trim(seq), '  ') AS s FROM w${r - 1}),
         |       LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS i)
         |  WHERE len(s) >= 2
         |  GROUP BY 1, 2
         |), b$r AS MATERIALIZED (
         |  SELECT s1, s2, freq FROM pr$r ORDER BY freq DESC, s1, s2 LIMIT 1
         |), w$r AS MATERIALIZED (
         |  SELECT wc, replace(seq, ' ' || s1 || '  ' || s2 || ' ', ' ' || s1 || s2 || ' ') AS seq
         |  FROM w${r - 1}, b$r
         |)""".stripMargin
    }
    val finals = (1 to rounds)
      .map(r => s"SELECT $r AS round, s1, s2, s1 || s2 AS merged, CAST(freq AS BIGINT) AS freq FROM b$r")
      .mkString("\nUNION ALL\n")
    (head +: stages).mkString(",\n") +
      s",\nfin AS ($finals)\nSELECT * FROM fin ORDER BY round"
  }

  /** #279 bpe_apply_report — the learned tokenizer APPLIED: run the
    * same 8 global merges over the per-(source, word) histogram and
    * report each source's chars-per-token compression — the number
    * that tells a data team which sources the tokenizer serves badly
    * (tokenizer_fertility reads a REGEX proxy; this reads the actual
    * trained BPE, closing the train→apply→audit loop). Merges come
    * from GLOBAL pair counts (re-aggregated across sources each
    * round, identical argmax to bpe_train — spec-pinned), the rewrite
    * is the same self-wrapped replace() device, and the final report
    * is one |sources|-bounded aggregate over the vocab-sized
    * histogram; token counts weight by word frequency in exact longs.
    */
  def bpeApplyReport(s: SparkSession, dir: String): DataFrame = {
    val rounds = 8
    val w0 = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("wc"))
      .select(
        col("source"), col("wc"),
        length(col("w")).cast("long").as("chars"),
        regexp_replace(col("w"), "(.)", " $1 ").as("seq"))
    var words = graft.Lineage.cut(w0)
    for (r <- 1 to rounds) {
      val syms = split(trim(col("seq")), "  ")
      val pairs = words
        .filter(size(syms) >= 2)
        .select(
          col("wc"),
          explode(transform(
            sequence(lit(1), size(syms) - 1),
            i => struct(
              element_at(syms, i).as("s1"),
              element_at(syms, i + 1).as("s2")))).as("p"))
        .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
        .agg(sum(col("wc")).as("freq"))
      val best = graft.Lineage.cut(
        pairs.orderBy(col("freq").desc, col("s1"), col("s2")).limit(1).drop("freq"))
      words = graft.Lineage.cut(
        words.crossJoin(broadcast(best))
          .select(
            col("source"), col("wc"), col("chars"),
            expr("replace(seq, ' ' || s1 || '  ' || s2 || ' ', ' ' || s1 || s2 || ' ')")
              .as("seq")))
    }
    words
      .select(
        col("source"), col("wc"), col("chars"),
        size(split(trim(col("seq")), "  ")).cast("long").as("toks"))
      .groupBy(col("source"))
      .agg(
        sum(col("wc")).as("n_words"),
        sum(col("wc") * col("chars")).as("n_chars"),
        sum(col("wc") * col("toks")).as("n_tokens"))
      .select(
        col("source"), col("n_words"), col("n_chars"), col("n_tokens"),
        emit(col("n_chars").cast("double") / col("n_tokens").cast("double"), 6)
          .as("chars_per_token"))
      .orderBy(col("source"))
  }

  val bpeApplyReportSql: String = {
    val rounds = 8
    val head =
      """WITH w0 AS MATERIALIZED (
        |  SELECT source, count(*) AS wc, length(token) AS chars,
        |    regexp_replace(token, '(.)', ' \1 ', 'g') AS seq
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
        |  WHERE token <> '' GROUP BY source, token
        |)""".stripMargin
    val stages = (1 to rounds).map { r =>
      s"""pr$r AS MATERIALIZED (
         |  SELECT s[i] AS s1, s[i+1] AS s2, sum(wc) AS freq
         |  FROM (SELECT wc, string_split(trim(seq), '  ') AS s FROM w${r - 1}),
         |       LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS i)
         |  WHERE len(s) >= 2
         |  GROUP BY 1, 2
         |), b$r AS MATERIALIZED (
         |  SELECT s1, s2 FROM pr$r ORDER BY freq DESC, s1, s2 LIMIT 1
         |), w$r AS MATERIALIZED (
         |  SELECT source, wc, chars,
         |    replace(seq, ' ' || s1 || '  ' || s2 || ' ', ' ' || s1 || s2 || ' ') AS seq
         |  FROM w${r - 1}, b$r
         |)""".stripMargin
    }
    val tail =
      s"""SELECT source, CAST(sum(wc) AS BIGINT) AS n_words,
         |  CAST(sum(wc * chars) AS BIGINT) AS n_chars,
         |  CAST(sum(wc * len(string_split(trim(seq), '  '))) AS BIGINT) AS n_tokens,
         |  (CAST(round(CAST(sum(wc * chars) AS DOUBLE) / CAST(sum(wc * len(string_split(trim(seq), '  '))) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS chars_per_token
         |FROM w$rounds GROUP BY source ORDER BY source""".stripMargin
    (head +: stages).mkString(",\n") + "\n" + tail
  }

  val keys: Seq[Key] = Seq(
    exact("sliding_mau", slidingMau, slidingMauSql),
    rowsOnly("mau_hll_sliding", mauHllSliding),
    exact("dedup_by_link", dedupByLink, dedupByLinkSql),
    exact("source_lang_entropy", sourceLangEntropy, sourceLangEntropySql),
    exact("cdc_apply", cdcApply, cdcApplySql),
    exact("k_anonymity", kAnonymity, kAnonymitySql),
    exact("column_histograms", columnHistograms, columnHistogramsSql),
    exact("ab_lift_report", abLiftReport, abLiftReportSql),
    exact("shard_skew_report", shardSkewReport, shardSkewReportSql),
    exact("orders_backlog", ordersBacklog, ordersBacklogSql),
    exact("repeat_purchase", repeatPurchase, repeatPurchaseSql),
    rowsOnly("audience_overlap_sketch", audienceOverlapSketch),
    exact("word_bigrams", wordBigrams, wordBigramsSql),
    exact("tokenizer_fertility", tokenizerFertility, tokenizerFertilitySql),
    exact("conversion_survival", conversionSurvival, conversionSurvivalSql),
    exact("winsorized_mean", winsorizedMean, winsorizedMeanSql),
    exact("revenue_concentration", revenueConcentration, revenueConcentrationSql),
    exact("events_burstiness", eventsBurstiness, eventsBurstinessSql),
    exact("rfm_migration", rfmMigration, rfmMigrationSql),
    exact("truncation_coverage", truncationCoverage, truncationCoverageSql),
    exact("fk_integrity_report", fkIntegrityReport, fkIntegrityReportSql),
    rowsOnly("table_profile_sketch", tableProfileSketch),
    exact("dedup_survivorship", dedupSurvivorship, dedupSurvivorshipSql),
    exact("user_feature_table", userFeatureTable, userFeatureTableSql),
    rowsOnly("ann_recall_report", annRecallReport),
    exact("bpe_train", bpeTrain, bpeTrainSql),
    exact("bpe_apply_report", bpeApplyReport, bpeApplyReportSql))
}
