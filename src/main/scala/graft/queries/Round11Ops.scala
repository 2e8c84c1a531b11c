package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.{exact, rowsOnly}

/** Round-11 operators — the QA layer a production corpus pipeline
  * runs beside its nightly build, among them ordered-funnel
  * completion within a time window and frequent behavior sequences.
  * Every cross-row float total goes through the order-free DECIMAL
  * rule or stays in scaled integers end-to-end (the
  * mean6/events_autocorr discipline), so the DuckDB oracle hashes
  * match bit-for-bit at any partitioning. The drift, change-point, seasonality and trend keys
  * live in [[MonitorOps]].
  */
object Round11Ops {
  import OracleMath._

  /** #282 window_funnel — ordered-funnel completion within a sliding
    * time window (the ClickHouse `windowFunnel` shape): per user, the
    * deepest prefix of view → click → purchase where every later step
    * lands inside `FunnelWindowHours` of the opening view. Exists-
    * semantics (a user is level-k if ANY chain completes), so the
    * result is a distinct-user set per level — and exists-semantics
    * admits a GREEDY collapse that keeps the joins linear: if any
    * chain (v, c, p) completes, then (v, c*min, p) also completes,
    * where c*min is the EARLIEST click in (v, v+W] — c*min ≤ c < p
    * keeps the order and p ≤ v+W the window. So the click join
    * aggregates to ONE row per view (partial min under the join, the
    * as-of-join shape) before the purchase probe, instead of carrying
    * the view×click pair matrix; every join stays EQUI-keyed on
    * user_id with the time predicates as residuals. Output is the
    * level histogram over ALL active users.
    */
  val FunnelWindowHours = 72

  def windowFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
    def step(t: String, tsName: String) =
      ev.filter(col("event_type") === t).select(col("user_id"), col("ts").as(tsName))
    val v = step("view", "vts")
    val c = step("click", "cts")
    val p = step("purchase", "pts")
    val winEnd = col("vts") + expr(s"INTERVAL $FunnelWindowHours HOURS")
    // one row per view survives: greedy earliest-click (map-side
    // partial min — the pair matrix never crosses the shuffle)
    val firstClick = v.join(c, Seq("user_id"))
      .filter(col("cts") > col("vts") && col("cts") <= winEnd)
      .groupBy(col("user_id"), col("vts"))
      .agg(min(col("cts")).as("c1"))
    val l3 = firstClick.join(p, Seq("user_id"))
      .filter(col("pts") > col("c1") && col("pts") <= winEnd)
      .select(col("user_id")).distinct().withColumn("l3", lit(1))
    val l2 = firstClick.select(col("user_id")).distinct().withColumn("l2", lit(1))
    val l1 = v.select(col("user_id")).distinct().withColumn("l1", lit(1))
    ev.select(col("user_id")).distinct()
      .join(l1, Seq("user_id"), "left")
      .join(l2, Seq("user_id"), "left")
      .join(l3, Seq("user_id"), "left")
      .select(
        when(col("l3") === 1, lit(3))
          .when(col("l2") === 1, lit(2))
          .when(col("l1") === 1, lit(1))
          .otherwise(lit(0)).as("funnel_level"))
      .groupBy(col("funnel_level"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("funnel_level"))
  }

  val windowFunnelSql: String =
    s"""WITH v AS (SELECT user_id, ts AS vts FROM events WHERE event_type = 'view'),
       |c AS (SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'),
       |p AS (SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase'),
       |first_click AS (
       |  SELECT v.user_id, vts, min(cts) AS c1 FROM v JOIN c USING (user_id)
       |  WHERE cts > vts AND cts <= vts + INTERVAL $FunnelWindowHours HOUR
       |  GROUP BY 1, 2
       |),
       |l3 AS (
       |  SELECT DISTINCT first_click.user_id FROM first_click JOIN p USING (user_id)
       |  WHERE pts > c1 AND pts <= vts + INTERVAL $FunnelWindowHours HOUR
       |),
       |l2 AS (SELECT DISTINCT user_id FROM first_click),
       |l1 AS (SELECT DISTINCT user_id FROM v),
       |base AS (SELECT DISTINCT user_id FROM events)
       |SELECT CASE WHEN base.user_id IN (SELECT user_id FROM l3) THEN 3
       |            WHEN base.user_id IN (SELECT user_id FROM l2) THEN 2
       |            WHEN base.user_id IN (SELECT user_id FROM l1) THEN 1
       |            ELSE 0 END AS funnel_level,
       |  count(*) AS n_users
       |FROM base GROUP BY 1 ORDER BY funnel_level""".stripMargin

  /** #283 seq_patterns — the global top-20 length-3 behavior sequences
    * (consecutive event-type trigrams per user ordered by time, ties
    * by event_id — the deterministic sort rule every sequence op here
    * uses). One window pass builds the trigrams with two leads (no
    * collect_list materialization of whole user histories), one
    * fine-keyed count aggregates them; top-k is TakeOrdered. The
    * PrefixSpan-style support mining a training-data behavior model
    * starts from.
    */
  def seqPatterns(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .select(
        col("event_type").as("step1"),
        lead(col("event_type"), 1).over(w).as("step2"),
        lead(col("event_type"), 2).over(w).as("step3"))
      .filter(col("step3").isNotNull)
      .groupBy(col("step1"), col("step2"), col("step3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
      .limit(20)
  }

  val seqPatternsSql: String =
    """WITH seq AS (
      |  SELECT event_type AS step1,
      |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step2,
      |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step3
      |  FROM events
      |)
      |SELECT step1, step2, step3, count(*) AS n
      |FROM seq WHERE step3 IS NOT NULL
      |GROUP BY 1, 2, 3
      |ORDER BY n DESC, step1, step2, step3 LIMIT 20""".stripMargin

  /** #285 compaction_plan — the small-files compaction planner: the
    * 64-shard manifest (same portable md5 shard key as
    * shard_skew_report — at 100 TB the input would be the real file
    * manifest, same algebra) sequentially fills fixed-capacity output
    * bins, target = ceil(total/8) bytes: bin = floor(exclusive-prefix
    * / target), Spark's own maxPartitionBytes file-coalescing rule
    * (overfill bounded by one shard). Everything after the one
    * doc→shard agg runs on the 64-row manifest — window prefix-sum and
    * bin agg over a bounded relation; pure integer arithmetic until
    * the final exact fill-ratio division.
    */
  def compactionPlan(s: SparkSession, dir: String): DataFrame = {
    val shard = pmod(
      conv(substring(md5(concat(lit("shard:"), col("doc_id").cast("string"))), 1, 6), 16, 10)
        .cast("long"), lit(64L))
    val manifest = Tables.documents(s, dir)
      .select(shard.as("shard"), col("n_chars"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
    val tot = manifest.agg(sum(col("bytes")).as("tb"))
    val wCum = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    manifest.crossJoin(broadcast(tot))
      .withColumn("target", ceil(col("tb").cast("double") / 8.0).cast("long"))
      .withColumn("prior", coalesce(sum(col("bytes")).over(wCum), lit(0L)))
      .withColumn("bin", floor(col("prior").cast("double") / col("target").cast("double")).cast("long"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n_shards"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("bytes")).as("bin_bytes"),
        max(col("target")).as("target"))
      .select(
        col("bin"), col("n_shards"), col("n_docs"), col("bin_bytes"),
        emit(col("bin_bytes").cast("double") / col("target").cast("double"), 6)
          .as("fill_ratio"))
      .orderBy(col("bin"))
  }

  val compactionPlanSql: String =
    """WITH manifest AS (
      |  SELECT CAST(concat('0x', substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 64 AS shard,
      |    count(*) AS n_docs, sum(n_chars) AS bytes
      |  FROM documents GROUP BY 1
      |),
      |tot AS (SELECT sum(bytes) AS tb FROM manifest),
      |packed AS (
      |  SELECT shard, n_docs, bytes,
      |    CAST(ceil(CAST(tb AS DOUBLE) / 8.0) AS BIGINT) AS target,
      |    coalesce(sum(bytes) OVER (ORDER BY shard ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      |  FROM manifest, tot
      |)
      |SELECT CAST(floor(CAST(prior AS DOUBLE) / CAST(target AS DOUBLE)) AS BIGINT) AS bin,
      |  count(*) AS n_shards, CAST(sum(n_docs) AS BIGINT) AS n_docs,
      |  CAST(sum(bytes) AS BIGINT) AS bin_bytes,
      |  (CAST(round(CAST(sum(bytes) AS DOUBLE) / CAST(max(target) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS fill_ratio
      |FROM packed GROUP BY 1 ORDER BY bin""".stripMargin

  /** #286 corpus_mix_temperature — temperature-flattened source
    * sampling weights, the multilingual-LM device (Devlin et al. 2019
    * mBERT exponentiated smoothing; Conneau et al. 2020 §3): p_s =
    * byte share per source, q_s ∝ p_s^α with α = 0.7, reported next to
    * the uniform-target weights corpus_mix_weights computes. Per-source
    * rows over a bounded relation after ONE byte-count agg; the
    * cross-row renormalization sum goes through the order-free
    * DECIMAL(38,12) rule (pow terms rounded first), so engine hash
    * equality holds at any partitioning.
    */
  val MixTemperature = 0.7

  def corpusMixTemperature(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_bytes"))
    val tot = per.agg(sum(col("n_bytes")).as("tb"))
    val t = per.crossJoin(broadcast(tot))
      .withColumn("p", col("n_bytes").cast("double") / col("tb").cast("double"))
      .withColumn("q", round(pow(col("p"), lit(MixTemperature)), 12).cast(OracleMath.Dec12))
    val qTot = t.agg(sum(col("q")).as("qt"))
    t.crossJoin(broadcast(qTot))
      .select(
        col("source"), col("n_docs"), col("n_bytes"),
        emit(col("p"), 6).as("byte_share"),
        emit(col("q").cast("double") / col("qt").cast("double"), 6).as("temp_share"),
        // the resampling factor the recipe applies to this source
        emit(
          (col("q").cast("double") / col("qt").cast("double")) / col("p"), 6)
          .as("upsample"))
      .orderBy(col("source"))
  }

  val corpusMixTemperatureSql: String =
    s"""WITH per AS (
       |  SELECT source, count(*) AS n_docs, sum(n_chars) AS n_bytes
       |  FROM documents GROUP BY 1
       |),
       |tot AS (SELECT sum(n_bytes) AS tb FROM per),
       |t AS (
       |  SELECT source, n_docs, n_bytes,
       |    CAST(n_bytes AS DOUBLE) / CAST(tb AS DOUBLE) AS p,
       |    CAST(round(pow(CAST(n_bytes AS DOUBLE) / CAST(tb AS DOUBLE), $MixTemperature), 12) AS DECIMAL(38,12)) AS q
       |  FROM per, tot
       |),
       |qtot AS (SELECT sum(q) AS qt FROM t)
       |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_bytes AS BIGINT) AS n_bytes,
       |  (CAST(round(p, 6) AS DOUBLE) + 0.0) AS byte_share,
       |  (CAST(round(CAST(q AS DOUBLE) / CAST(qt AS DOUBLE), 6) AS DOUBLE) + 0.0) AS temp_share,
       |  (CAST(round((CAST(q AS DOUBLE) / CAST(qt AS DOUBLE)) / p, 6) AS DOUBLE) + 0.0) AS upsample
       |FROM t, qtot ORDER BY source""".stripMargin

  /** #287 dedup_containment — asymmetric near-dup detection: pairs
    * where the smaller document's distinct word-3-gram set is ≥ 80%
    * CONTAINED in the other's (Broder 1997's containment, the measure
    * Jaccard misses when a doc is embedded inside a longer one — the
    * quote-plus-commentary shape of a crawl). Candidates come from the
    * gram-key equi-join (the ngram_jaccard shuffle shape: gram-keyed,
    * no array cross products) under the family's hot-bucket cap — the
    * SQL oracle models the same cap, so both engines mine the same
    * pair set. Containment is an exact integer division.
    */
  val ContainmentThreshold = 0.8

  def dedupContainment(s: SparkSession, dir: String): DataFrame = {
    val grams = TextOps.wordRows(Tables.documents(s, dir))
      .select(col("doc_id"), TextOps.gram(3).as("g"))
      .filter(col("g").isNotNull)
      .distinct()
    // grams carries a per-doc window (the lead chain) and feeds FOUR
    // reads (hot-bucket guard ×2 + sizes + both self-join sides through
    // the guard): cut it once BEFORE the guard, so the window pipeline
    // computes once while the guard's observe() metrics stay in the
    // final plan (r9)
    val gramsCut = graft.Lineage.cut(grams)
    val guarded = TextOps.dropHotBuckets(gramsCut, Seq("g"), "dedup_containment_buckets")
    val sizes = gramsCut.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = guarded.select(col("doc_id").as("a"), col("g"))
      .join(guarded.select(col("doc_id").as("b"), col("g")), Seq("g"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .withColumn("n_small", least(col("na"), col("nb")))
      .withColumn("containment", col("inter").cast("double") / col("n_small").cast("double"))
      .filter(col("containment") >= ContainmentThreshold)
      .select(
        col("a"), col("b"), col("inter"), col("n_small"),
        emit(col("containment"), 4).as("containment"))
      .orderBy(col("a"), col("b"))
  }

  val dedupContainmentSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS (
       |  SELECT DISTINCT doc_id, gr AS g FROM (
       |    SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |                           for i in range(1, greatest(len(ws)-1, 1))]) AS gr
       |    FROM w
       |  )
       |),
       |guarded AS (
       |  SELECT * FROM g
       |  QUALIFY count(*) OVER (PARTITION BY g) <= ${TextOps.PairBucketCap}
       |),
       |sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
       |inter AS (
       |  SELECT g1.doc_id AS a, g2.doc_id AS b, count(*) AS inter
       |  FROM guarded g1 JOIN guarded g2 ON g1.g = g2.g AND g1.doc_id < g2.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT a, b, CAST(inter AS BIGINT) AS inter,
       |  CAST(least(sa.n, sb.n) AS BIGINT) AS n_small,
       |  (CAST(round(CAST(inter AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE), 4) AS DOUBLE) + 0.0) AS containment
       |FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
       |WHERE CAST(inter AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE) >= $ContainmentThreshold
       |ORDER BY a, b""".stripMargin

  /** #288 label_noise_report — kNN label-agreement QA over the
    * embedding table (the standard mislabel screen before training):
    * each vector's 10 nearest cosine neighbors vote; a vector whose
    * own label loses the vote is flagged, reported as a per-label
    * noise rate. Exact oracle via the embed_knn-proven device (native
    * DotProduct ≡ DuckDB list_dot_product bit-for-bit; rank ties by
    * vec_id). The all-pairs distance matrix is the declared oracle-tax
    * form under the family's machine-enforced input cap — at scale the
    * SAME vote runs over IVF/LSH candidate lists (embed_ivf_knn /
    * ann_recall_report machinery) instead of the full matrix.
    */
  def labelNoiseReport(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Registry
    val cap = 20000L
    // fan the single-row-group embeddings scan (r10, measured): the
    // brute-force dot stage fused with it into one task (identity at
    // production splits; A/B in OPTIMIZATION_r10.md)
    val emb = TextOps.requireBounded(
      graft.GraftSession.fan(Tables.embeddings(s, dir), col("vec_id"))
        .select(
          col("vec_id"), col("label"),
          transform(col("embedding"), x => x.cast("double")).as("e")),
      cap,
      s"label_noise_report is the brute-force O(n²) oracle form (input exceeds $cap vectors); " +
        "route the candidate lists through embed_ivf_knn at scale")
    val withNorm = emb.withColumn("nrm", Registry.l2norm(col("e")))
    val left = withNorm.select(col("vec_id").as("a"), col("label").as("la"),
      col("e").as("ea"), col("nrm").as("na"))
    val right = withNorm.select(col("vec_id").as("b"), col("label").as("lb"),
      col("e").as("eb"), col("nrm").as("nb"))
    // top-10 via the native bounded TopKPairs aggregate, NOT a window:
    // the crossJoin keeps each a's n−1 candidates in one partition, so
    // the map-side partial collapses n² scored rows to n×k BEFORE any
    // exchange — the row_number form hash-exchanged and sorted the full
    // n² frame (r9: 3.9 → the vote join below is then k·n rows). Same
    // selection order (score DESC, id ASC ≡ cosine desc, b asc).
    val topn = left.join(broadcast(right.select(col("b"), col("eb"), col("nb"))),
        col("a") =!= col("b"))
      .withColumn("cosine", Registry.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .groupBy(col("a"), col("la"))
      .agg(Registry.topK(col("cosine"), col("b"), 10).as("_top"))
      .select(col("a"), col("la"), explode(col("_top.id")).as("b"))
    val votes = topn
      .join(broadcast(right.select(col("b"), col("lb"))), Seq("b"))
      .groupBy(col("a"), col("la"), col("lb"))
      .agg(count(lit(1)).as("v"))
    val wVote = Window.partitionBy(col("a")).orderBy(col("v").desc, col("lb"))
    val verdicts = votes
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .select(col("a"), col("la"), col("lb").as("majority"))
    verdicts
      .groupBy(col("la").as("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("majority") =!= col("la"), lit(1L)).otherwise(lit(0L)))
          .as("n_disagree"))
      .select(
        col("label"), col("n_vecs"), col("n_disagree"),
        emit(col("n_disagree").cast("double") / col("n_vecs").cast("double"), 6)
          .as("noise_rate"))
      .orderBy(col("label"))
  }

  val labelNoiseReportSql: String =
    """WITH e AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |  FROM embeddings
      |),
      |n AS (SELECT vec_id, label, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
      |ranked AS (
      |  SELECT a.vec_id AS a, a.label AS la, b.label AS lb,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) DESC, b.vec_id) AS rn
      |  FROM n a JOIN n b ON a.vec_id <> b.vec_id
      |),
      |votes AS (
      |  SELECT a, la, lb, count(*) AS v FROM ranked WHERE rn <= 10 GROUP BY 1, 2, 3
      |),
      |verdicts AS (
      |  SELECT a, la, lb AS majority FROM (
      |    SELECT *, row_number() OVER (PARTITION BY a ORDER BY v DESC, lb) AS vr FROM votes
      |  ) WHERE vr = 1
      |)
      |SELECT la AS label, count(*) AS n_vecs,
      |  CAST(sum(CASE WHEN majority <> la THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree,
      |  (CAST(round(sum(CASE WHEN majority <> la THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS DOUBLE) + 0.0) AS noise_rate
      |FROM verdicts GROUP BY 1 ORDER BY label""".stripMargin

  /** #289 doc_perplexity_bigram — the bigram upgrade of #79's unigram
    * perplexity filter (CCNet-style quality scoring, one order up):
    * p(w2|w1) = (c+1)/(head_n+V) with add-one smoothing over the
    * corpus-trained bigram table (word_bigrams' model, unpruned), doc
    * score = exp(−mean ln p) over its adjacent pairs. Repetitive docs
    * ride high-probability transitions and score LOW; incoherent ones
    * HIGH — a sharper screen than unigram because word ORDER now
    * matters. Per-pair log-probs round to 12 dp before the order-free
    * DECIMAL mean (docPerplexity's exact rule). Scale: model is
    * |bigram vocab| rows on the same g key the doc pass already
    * carries — one gram pass, two fine-keyed joins, one doc agg.
    */
  def docPerplexityBigram(s: SparkSession, dir: String): DataFrame = {
    val grams = TextOps.gramRows(Tables.documents(s, dir), 2, distinct = false)
    val model = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .withColumn("w1", element_at(split(col("g"), " "), 1))
    val heads = model.groupBy(col("w1")).agg(sum(col("c")).as("head_n"))
    val vocab = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .agg(countDistinct(col("tok")).as("v"))
    val lp = grams
      .join(model.select(col("g"), col("c"), col("w1")), Seq("g"))
      .join(heads, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(
        col("doc_id"),
        round(
          log((col("c") + lit(1.0)) / (col("head_n") + col("v"))), 12)
          .cast(OracleMath.Dec12).as("lp"))
      .groupBy(col("doc_id"))
      .agg(emit(exp(-(sum(col("lp")).cast("double") / count(lit(1)))), 4).as("perplexity"))
    lp.withColumn("flagged", (col("perplexity") >= 31.0).cast("int"))
      .orderBy(col("doc_id"))
  }

  val docPerplexityBigramSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (
      |  SELECT doc_id, w[i] || ' ' || w[i+1] AS g, w[i] AS w1
      |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i)
      |),
      |model AS (SELECT g, count(*) AS c FROM g GROUP BY 1),
      |heads AS (SELECT w1, sum(c) AS head_n
      |          FROM (SELECT string_split(g, ' ')[1] AS w1, c FROM model) GROUP BY 1),
      |vocab AS (
      |  SELECT count(DISTINCT tok) AS v
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok <> ''
      |),
      |lp AS (
      |  SELECT doc_id,
      |    CAST(round(ln((c + 1.0) / (head_n + v)), 12) AS DECIMAL(38,12)) AS lp
      |  FROM g JOIN model USING (g) JOIN heads USING (w1) CROSS JOIN vocab
      |),
      |ppl AS (
      |  SELECT doc_id,
      |    (CAST(round(exp(-(CAST(sum(lp) AS DOUBLE) / count(*))), 4) AS DOUBLE) + 0.0) AS perplexity
      |  FROM lp GROUP BY doc_id
      |)
      |SELECT doc_id, perplexity, CAST(perplexity >= 31.0 AS INT) AS flagged
      |FROM ppl ORDER BY doc_id""".stripMargin

  /** #290 dedup_containment_fast — the production twin of #287: MinHash
    * Jaccard estimate from the banded-LSH machinery (#34's signatures,
    * REUSED — one gram pass, xxhash64 min-aggregates, hot-bucket-capped
    * band join) converted to a CONTAINMENT estimate via the exact
    * inclusion-exclusion identity |A∩B| = J·(|A|+|B|)/(1+J) with the
    * exact per-doc gram counts (one cheap extra join): Ĉ = min(1,
    * Ĵ(na+nb)/((1+Ĵ)·min(na,nb))). Rows-only by declared design (the
    * xxhash64 signature is not SQL-reproducible); the spec pins planted
    * identical docs at Ĉ = 1 and calibration against #287's exact
    * containment on the shared pair set.
    */
  def dedupContainmentFast(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val pairs = TextOps.minhashPairs(d)
    val sizes = TextOps.gramRows(d, 3, distinct = true)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    pairs
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .withColumn(
        "est_containment",
        least(
          lit(1.0),
          col("est_jaccard") * (col("na") + col("nb"))
            / ((lit(1.0) + col("est_jaccard")) * least(col("na"), col("nb")))))
      .filter(col("est_containment") >= 0.6)
      .select(
        col("a"), col("b"), col("na"), col("nb"),
        emit(col("est_jaccard"), 4).as("est_jaccard"),
        emit(col("est_containment"), 4).as("est_containment"))
      .orderBy(col("a"), col("b"))
  }

  /** #291 blocking_report — entity-resolution blocking QA: for the
    * (lang, 256-char length band) blocking scheme over documents, the
    * per-block candidate-pair volume and its share of the full O(n²)
    * comparison space — the reduction-ratio audit a record-linkage
    * pipeline reads before committing to a blocking key (a block
    * whose pair share approaches 1 means the key doesn't block; a
    * scheme whose total share is tiny with no giant block is GOOD).
    * One fine-keyed count over the scan; pure integer pair counts and
    * one exact double division against the single-row total.
    */
  def blockingReport(s: SparkSession, dir: String): DataFrame = {
    val blocks = Tables.documents(s, dir)
      .select(col("lang"), (col("n_chars") / 256).cast("long").as("len_band"))
      .groupBy(col("lang"), col("len_band"))
      .agg(count(lit(1)).as("n_docs"))
      // integer `div`, not `/`: Spark's Column./ is double division and
      // would both retype the column and lose exactness at 1e9-doc blocks
      .withColumn("n_pairs", expr("n_docs * (n_docs - 1) div 2"))
    val tot = Tables.documents(s, dir)
      .agg(count(lit(1)).as("nn"))
      .select(expr("nn * (nn - 1) div 2").as("full_pairs"))
    blocks.crossJoin(broadcast(tot))
      .select(
        col("lang"), col("len_band"), col("n_docs"), col("n_pairs"),
        emit(col("n_pairs").cast("double") / col("full_pairs").cast("double"), 6)
          .as("pair_share"))
      .orderBy(col("lang"), col("len_band"))
  }

  val blockingReportSql: String =
    """WITH blocks AS (
      |  SELECT lang, CAST(n_chars // 256 AS BIGINT) AS len_band, count(*) AS n_docs
      |  FROM documents GROUP BY 1, 2
      |),
      |tot AS (SELECT count(*) * (count(*) - 1) // 2 AS full_pairs FROM documents)
      |SELECT lang, len_band, n_docs,
      |  CAST(n_docs * (n_docs - 1) // 2 AS BIGINT) AS n_pairs,
      |  (CAST(round(CAST(n_docs * (n_docs - 1) // 2 AS DOUBLE) / CAST(full_pairs AS DOUBLE), 6) AS DOUBLE) + 0.0) AS pair_share
      |FROM blocks, tot ORDER BY lang, len_band""".stripMargin

  /** #292 negative_sampling — deterministic contrastive negatives for
    * recommender/embedding training: per purchasing customer, 4 parts
    * they did NOT buy, drawn popularity-first (the word2vec/recsys
    * rule — negatives come from the head of the item distribution,
    * TopNegativeCandidates = 256 most-sold parts) and ordered by a
    * seeded md5 rank so the draw is reproducible across runs AND
    * engines (the corpus_split device, per (user, part)). The
    * candidate list is a bounded BROADCAST relation, so the "all
    * non-purchased items" cross space never materializes: one
    * positives agg (user, part distinct), one 256-row candidate
    * broadcast join, one anti-join on positives, one per-user top-4
    * window over ≤256 rows.
    */
  val TopNegativeCandidates = 256
  val NegativesPerUser = 4

  def negativeSampling(s: SparkSession, dir: String): DataFrame = {
    // NOTE (r9, measured): positives is read twice (user roster +
    // anti-join) but cutting it REGRESSED 3.7 → 10.3 s at sf0.1 — a
    // pinned LogicalRDD loses the size statistics the planner uses to
    // shape the anti-join, and the re-derivation is one cheap co-keyed
    // join. Leave it uncut.
    val positives = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("user_id"), col("l_partkey").as("part_id"))
      .distinct()
    val candidates = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("part_id"))
      .agg(count(lit(1)).as("sold"))
      .orderBy(col("sold").desc, col("part_id"))
      .limit(TopNegativeCandidates)
      .select(col("part_id"))
    // NOTE (r10, measured): repartitioning the 15k-user roster before
    // the ×256 candidate explosion (AQE coalesces the distinct to one
    // partition) did not move the bench (3.81 → 3.85 s) — the cost
    // lives in the anti-join + window stage, which already runs ~16
    // tasks. Left alone.
    val users = positives.select(col("user_id")).distinct()
    val wPick = Window.partitionBy(col("user_id")).orderBy(col("draw"), col("part_id"))
    users.crossJoin(broadcast(candidates))
      .join(positives, Seq("user_id", "part_id"), "left_anti")
      .withColumn(
        "draw",
        md5(concat(lit("neg:"), col("user_id").cast("string"),
          lit(":"), col("part_id").cast("string"))))
      .withColumn("rank", row_number().over(wPick))
      .filter(col("rank") <= NegativesPerUser)
      .select(col("user_id"), col("part_id"), col("rank"))
      .orderBy(col("user_id"), col("rank"))
  }

  val negativeSamplingSql: String =
    s"""WITH positives AS (
       |  SELECT DISTINCT o_custkey AS user_id, l_partkey AS part_id
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |),
       |candidates AS (
       |  SELECT l_partkey AS part_id FROM lineitem
       |  GROUP BY 1 ORDER BY count(*) DESC, part_id LIMIT $TopNegativeCandidates
       |),
       |users AS (SELECT DISTINCT user_id FROM positives),
       |pool AS (
       |  SELECT u.user_id, c.part_id,
       |    md5('neg:' || CAST(u.user_id AS VARCHAR) || ':' || CAST(c.part_id AS VARCHAR)) AS draw
       |  FROM users u CROSS JOIN candidates c
       |  WHERE NOT EXISTS (SELECT 1 FROM positives p
       |                    WHERE p.user_id = u.user_id AND p.part_id = c.part_id)
       |),
       |ranked AS (
       |  SELECT user_id, part_id,
       |    row_number() OVER (PARTITION BY user_id ORDER BY draw, part_id) AS rank
       |  FROM pool
       |)
       |SELECT user_id, part_id, CAST(rank AS INT) AS rank
       |FROM ranked WHERE rank <= $NegativesPerUser
       |ORDER BY user_id, rank""".stripMargin

  /** #293 source_vocab_overlap — pairwise Jaccard of each source's
    * top-200 vocabulary (the redundancy screen before adding a new
    * source to a mix: a crawl whose head vocabulary is ≍ an existing
    * source's adds volume, not diversity). One token agg, per-source
    * top-k via a window over the ALREADY-aggregated (source, token)
    * relation, then the pair join runs over ≤ |sources|·200 rows —
    * bounded regardless of corpus size. Integer intersections, exact
    * division.
    */
  val VocabOverlapTopK = 200

  def sourceVocabOverlap(s: SparkSession, dir: String): DataFrame = {
    val wTop = Window.partitionBy(col("source")).orderBy(col("c").desc, col("tok"))
    val top = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= VocabOverlapTopK)
      .select(col("source"), col("tok"))
    val sizes = top.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = top.select(col("source").as("a"), col("tok"))
      .join(top.select(col("source").as("b"), col("tok")), Seq("tok"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("source").as("a"), col("n").as("na")), Seq("a"))
      .join(sizes.select(col("source").as("b"), col("n").as("nb")), Seq("b"))
      .select(
        col("a"), col("b"), col("inter"),
        emit(
          col("inter").cast("double")
            / (col("na") + col("nb") - col("inter")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("a"), col("b"))
  }

  val sourceVocabOverlapSql: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
       |),
       |counts AS (
       |  SELECT source, tok, count(*) AS c FROM toks WHERE tok <> '' GROUP BY 1, 2
       |),
       |top AS (
       |  SELECT source, tok FROM (
       |    SELECT source, tok,
       |      row_number() OVER (PARTITION BY source ORDER BY c DESC, tok) AS rn
       |    FROM counts
       |  ) WHERE rn <= $VocabOverlapTopK
       |),
       |sizes AS (SELECT source, count(*) AS n FROM top GROUP BY 1),
       |inter AS (
       |  SELECT t1.source AS a, t2.source AS b, count(*) AS inter
       |  FROM top t1 JOIN top t2 ON t1.tok = t2.tok AND t1.source < t2.source
       |  GROUP BY 1, 2
       |)
       |SELECT a, b, CAST(inter AS BIGINT) AS inter,
       |  (CAST(round(CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE), 6) AS DOUBLE) + 0.0) AS jaccard
       |FROM inter JOIN sizes sa ON sa.source = a JOIN sizes sb ON sb.source = b
       |ORDER BY a, b""".stripMargin

  /** #294 join_cardinality_report — the cost-based-optimizer stat the
    * engine's own planning relies on, surfaced as an operator: exact
    * equi-join output cardinality WITHOUT running the join, from the
    * per-key count histograms — |A ⋈_k B| = Σ_k cA(k)·cB(k), plus the
    * worst single-key fan-out (the skew the AQE skew-join guard
    * watches for). Per join, two fine-keyed count aggs and a
    * distinct-key-sized merge join — the fact-to-fact row explosion
    * never happens, which is the entire point of estimating before
    * executing. Products in DECIMAL(38,0): two 1e9-row keys alone
    * would overflow a BIGINT product sum.
    */
  def joinCardinalityReport(s: SparkSession, dir: String): DataFrame = {
    def profile(name: String, left: DataFrame, lk: String,
        right: DataFrame, rk: String): DataFrame = {
      val ca = left.groupBy(col(lk).as("k")).agg(count(lit(1)).as("ca"))
      val cb = right.groupBy(col(rk).as("k")).agg(count(lit(1)).as("cb"))
      def dec(c: Column) = c.cast("decimal(38,0)")
      ca.join(cb, Seq("k"))
        .select((dec(col("ca")) * dec(col("cb"))).as("prod"))
        .agg(
          sum(col("prod")).cast("decimal(38,0)").as("est_rows"),
          max(col("prod")).cast("decimal(38,0)").as("max_key_fanout"),
          count(lit(1)).as("matching_keys"))
        .select(
          lit(name).as("join_name"), col("est_rows").cast("long").as("est_rows"),
          col("max_key_fanout").cast("long").as("max_key_fanout"),
          col("matching_keys"))
    }
    val o = Tables.orders(s, dir); val l = Tables.lineitem(s, dir)
    val c = Tables.customer(s, dir); val p = Tables.part(s, dir)
    profile("orders_lineitem", o, "o_orderkey", l, "l_orderkey")
      .unionByName(profile("customer_orders", c, "c_custkey", o, "o_custkey"))
      .unionByName(profile("part_lineitem", p, "p_partkey", l, "l_partkey"))
      .orderBy(col("join_name"))
  }

  val joinCardinalityReportSql: String = {
    def one(name: String, lt: String, lk: String, rt: String, rk: String) =
      s"""SELECT '$name' AS join_name,
         |  CAST(CAST(sum(prod) AS DECIMAL(38,0)) AS BIGINT) AS est_rows,
         |  CAST(CAST(max(prod) AS DECIMAL(38,0)) AS BIGINT) AS max_key_fanout,
         |  count(*) AS matching_keys
         |FROM (
         |  SELECT CAST(ca.n AS DECIMAL(38,0)) * CAST(cb.n AS DECIMAL(38,0)) AS prod
         |  FROM (SELECT $lk AS k, count(*) AS n FROM $lt GROUP BY 1) ca
         |  JOIN (SELECT $rk AS k, count(*) AS n FROM $rt GROUP BY 1) cb USING (k)
         |)""".stripMargin
    Seq(
      one("customer_orders", "customer", "c_custkey", "orders", "o_custkey"),
      one("orders_lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey"),
      one("part_lineitem", "part", "p_partkey", "lineitem", "l_partkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY join_name")
  }

  /** #295 embed_covariance — the upper-triangle covariance matrix of
    * the embedding table (the input to whitening/PCA drift checks):
    * cov(i,j) = Sxy/n − (Sx/n)(Sy/n) with every cross-row sum (Sx,
    * Sxy) going through round-12 DECIMAL (order-free, the #127/#239
    * second-moment rule) and the final combination in exact double
    * arithmetic. Shape: one posexplode to (vec, dim, x), one vec-key
    * self-join producing the d²/2 products per vector — but the
    * (i,j)-keyed aggregate MAP-SIDE COMBINES, so the shuffle carries
    * O(partitions · d²) partial sums, independent of row count; the
    * per-dim means reuse #239 embed_dim_stats' single-pass shape.
    */
  def embedCovariance(s: SparkSession, dir: String): DataFrame =
    covTail(covMoments(Tables.embeddings(s, dir)))

  /** The ALGEBRAIC moment state under #295: one (i, j, v) frame holding
    * cross sums (i ≤ j, Σ round12(x·y)), per-dim sums (j = −1, Σ
    * round12(x)) and the row count (i = j = −1) — every entry an exact
    * DECIMAL, so the state is MERGEABLE by plain keyed addition (the
    * scorecard_incremental property, for second moments).
    */
  private[graft] def covMoments(emb: DataFrame): DataFrame =
    // one native-aggregate pass (CovMomentsAgg): the d²/2 products
    // accumulate into a fixed ~17 KB per-partition buffer instead of
    // materializing 2,080 structs per row through a Generate — plan is
    // scan → partial ObjectHashAggregate → single-buffer exchange →
    // explode(2,145 rows). Replaced the explode/groupBy formulation
    // (8.2 s at sf0.1, the catalog's slowest row; same values
    // bit-exactly, Spark round/cast semantics replicated inside the
    // aggregate's scaled12).
    // fan the single-row-group embeddings scan (r10, measured): the
    // partial ObjectHashAggregate otherwise fuses with the scan into
    // one task for the whole d²/2 product accumulation (identity at
    // production split counts; A/B in OPTIMIZATION_r10.md)
    graft.GraftSession.fan(emb, col("vec_id"))
      .agg(graft.functions.Registry.covMomentsAgg(
        col("embedding").cast("array<double>")).as("m"))
      .select(explode(col("m")).as("t"))
      .select(col("t.i").as("i"), col("t.j").as("j"), col("t.v").as("v"))

  /** Keyed fold of two moment states — associative exact addition. */
  private[graft] def mergeCovMoments(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("i"), col("j")).agg(sum(col("v")).as("v"))

  /** Covariance from a moment state (shared by #295 and #298). */
  private[graft] def covTail(m: DataFrame): DataFrame = {
    val cross = m.filter(col("j") >= 0)
    val dims = m.filter(col("j") === -1 && col("i") >= 0)
      .select(col("i"), col("v").as("sx"))
    val n = m.filter(col("i") === -1 && col("j") === -1)
      .select(col("v").cast("long").as("n"))
    cross
      .join(dims.select(col("i"), col("sx")), Seq("i"))
      .join(dims.select(col("i").as("j"), col("sx").as("sy")), Seq("j"))
      .crossJoin(broadcast(n))
      .select(
        col("i"), col("j"),
        emit(
          col("v").cast("double") / col("n")
            - (col("sx").cast("double") / col("n"))
            * (col("sy").cast("double") / col("n")), 6).as("cov"))
      .orderBy(col("i"), col("j"))
  }

  /** #298 embed_covariance_incremental — #295 maintained as a DELTA
    * MERGE: the historical moment state (an (i,j)-keyed frame of exact
    * decimal sums, d²/2 + d + 1 rows REGARDLESS of corpus size)
    * persists once (content-fingerprinted cache); a refresh computes
    * moments over only the NEW vectors and folds them in by keyed
    * addition — associative, so merge ≡ recompute EXACTLY and the
    * entry shares #295's oracle VERBATIM (the scorecard_incremental
    * pin). At 100 TB a daily refresh touches the day's vectors plus a
    * ~2k-row state table, never the full history.
    */
  def embedCovarianceIncremental(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val idx = graft.sources.Sources.cachedIndexDir(dir, "embeddings", "cov-moments-v1") {
      p =>
        covMoments(emb.filter(pmod(col("vec_id"), lit(5)) =!= 4))
          .write.mode("overwrite").parquet(p)
    }
    val hist = s.read.parquet(idx)
    val delta = covMoments(emb.filter(pmod(col("vec_id"), lit(5)) === 4))
    covTail(mergeCovMoments(hist, delta))
  }

  val embedCovarianceSql: String =
    """WITH xs AS (
      |  SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
      |),
      |n AS (SELECT count(*) AS n FROM embeddings),
      |moments AS (
      |  SELECT i, sum(CAST(round(x, 12) AS DECIMAL(38,12))) AS sx FROM xs GROUP BY 1
      |),
      |cross_m AS (
      |  SELECT a.i AS i, b.i AS j,
      |    sum(CAST(round(a.x * b.x, 12) AS DECIMAL(38,12))) AS sxy
      |  FROM xs a JOIN xs b ON a.vec_id = b.vec_id AND a.i <= b.i
      |  GROUP BY 1, 2
      |)
      |SELECT i, j,
      |  (CAST(round(CAST(sxy AS DOUBLE) / n
      |    - (CAST(ma.sx AS DOUBLE) / n) * (CAST(mb.sx AS DOUBLE) / n), 6) AS DOUBLE) + 0.0) AS cov
      |FROM cross_m JOIN moments ma USING (i) JOIN moments mb ON mb.i = cross_m.j
      |CROSS JOIN n ORDER BY i, j""".stripMargin

  /** #299 label_propagation_eval — transductive kNN label-spreading QA
    * (the semi-supervised screen: "if we only labeled 80% of this set,
    * would the neighbors recover the rest?"): vectors with vec_id ≡ 4
    * (mod 5) are MASKED; each masked vector takes the majority label
    * of its 10 nearest LABELED cosine neighbors (ties: smaller label);
    * per true label, the recovery accuracy. Same exact-oracle device
    * as #288 (native DotProduct ≡ list_dot_product, vec_id rank ties),
    * same machine-enforced cap with the IVF candidate path at scale.
    */
  def labelPropagationEval(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Registry
    val cap = 20000L
    // fan the single-row-group embeddings scan (r10, measured): the
    // brute-force dot stage fused with it into one task (identity at
    // production splits; A/B in OPTIMIZATION_r10.md)
    val emb = TextOps.requireBounded(
      graft.GraftSession.fan(Tables.embeddings(s, dir), col("vec_id"))
        .select(
          col("vec_id"), col("label"),
          transform(col("embedding"), x => x.cast("double")).as("e")),
      cap,
      s"label_propagation_eval is the brute-force O(n·m) oracle form (input exceeds $cap vectors); " +
        "route the candidate lists through embed_ivf_knn at scale")
      .withColumn("nrm", Registry.l2norm(col("e")))
    val masked = emb.filter(pmod(col("vec_id"), lit(5)) === 4)
      .select(col("vec_id").as("a"), col("label").as("true_label"),
        col("e").as("ea"), col("nrm").as("na"))
    val labeled = emb.filter(pmod(col("vec_id"), lit(5)) =!= 4)
      .select(col("vec_id").as("b"), col("label").as("lb"),
        col("e").as("eb"), col("nrm").as("nb"))
    val wRank = Window.partitionBy(col("a")).orderBy(col("cosine").desc, col("b"))
    val wVote = Window.partitionBy(col("a")).orderBy(col("v").desc, col("lb"))
    val verdicts = masked.crossJoin(broadcast(labeled))
      .withColumn("cosine", Registry.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .select(col("a"), col("true_label"), col("b"), col("lb"), col("cosine"))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= 10)
      .groupBy(col("a"), col("true_label"), col("lb"))
      .agg(count(lit(1)).as("v"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
    verdicts
      .groupBy(col("true_label").as("label"))
      .agg(
        count(lit(1)).as("n_masked"),
        sum(when(col("lb") === col("true_label"), lit(1L)).otherwise(lit(0L)))
          .as("n_recovered"))
      .select(
        col("label"), col("n_masked"), col("n_recovered"),
        emit(col("n_recovered").cast("double") / col("n_masked").cast("double"), 6)
          .as("recovery_rate"))
      .orderBy(col("label"))
  }

  val labelPropagationEvalSql: String =
    """WITH e AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |  FROM embeddings
      |),
      |n AS (SELECT vec_id, label, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
      |masked AS (SELECT * FROM n WHERE vec_id % 5 = 4),
      |labeled AS (SELECT * FROM n WHERE vec_id % 5 <> 4),
      |ranked AS (
      |  SELECT a.vec_id AS a, a.label AS true_label, b.label AS lb,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) DESC, b.vec_id) AS rn
      |  FROM masked a CROSS JOIN labeled b
      |),
      |votes AS (
      |  SELECT a, true_label, lb, count(*) AS v FROM ranked WHERE rn <= 10 GROUP BY 1, 2, 3
      |),
      |verdicts AS (
      |  SELECT a, true_label, lb FROM (
      |    SELECT *, row_number() OVER (PARTITION BY a ORDER BY v DESC, lb) AS vr FROM votes
      |  ) WHERE vr = 1
      |)
      |SELECT true_label AS label, count(*) AS n_masked,
      |  CAST(sum(CASE WHEN lb = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered,
      |  (CAST(round(sum(CASE WHEN lb = true_label THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS DOUBLE) + 0.0) AS recovery_rate
      |FROM verdicts GROUP BY 1 ORDER BY label""".stripMargin

  /** #296 grouping_sets_report — the third member of the multi-level
    * aggregation family (#22 cube, #24 rollup): EXPLICIT grouping sets
    * ((nation), (region), ()) over the revenue fact join — the form a
    * reporting layer uses when it wants named levels, not every
    * combination; one expand-node pass over the joined fact (dims
    * broadcast), grouping() flags disambiguate the levels portably
    * (grouping_id bit order is engine-specific, the per-column flag is
    * not).
    */
  def groupingSetsReport(s: SparkSession, dir: String): DataFrame = {
    val fact = Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .select(
        col("n_name"), col("r_name"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    fact
      .groupingSets(
        Seq(Seq(col("n_name")), Seq(col("r_name")), Seq.empty[Column]),
        col("n_name"), col("r_name"))
      .agg(
        grouping(col("n_name")).as("g_n"),
        grouping(col("r_name")).as("g_r"),
        emit(dsum(col("rev"))).as("revenue"),
        count(lit(1)).as("n_lines"))
      .select(
        col("g_n"), col("g_r"),
        coalesce(col("n_name"), lit("ALL")).as("n_name"),
        coalesce(col("r_name"), lit("ALL")).as("r_name"),
        col("revenue"), col("n_lines"))
      .orderBy(col("g_n"), col("g_r"), col("n_name"), col("r_name"))
  }

  val groupingSetsReportSql: String =
    """WITH fact AS (
      |  SELECT n_name, r_name, l_extendedprice * (1.0 - l_discount) AS rev
      |  FROM customer
      |  JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |)
      |SELECT CAST(GROUPING(n_name) AS TINYINT) AS g_n, CAST(GROUPING(r_name) AS TINYINT) AS g_r,
      |  coalesce(n_name, 'ALL') AS n_name, coalesce(r_name, 'ALL') AS r_name,
      |  (CAST(round(sum(CAST(rev AS DECIMAL(38,6))), 4) AS DOUBLE) + 0.0) AS revenue,
      |  count(*) AS n_lines
      |FROM fact
      |GROUP BY GROUPING SETS ((n_name), (r_name), ())
      |ORDER BY g_n, g_r, n_name, r_name""".stripMargin

  /** #297 asof_join_nearest — the NEAREST-direction as-of join (pandas
    * merge_asof direction='nearest'): each purchase matches the signup
    * anchor minimizing |Δt| in either direction, ties to the EARLIER
    * anchor then smaller id — the sensor-alignment mode where the
    * closest calibration reading wins regardless of side (#25's
    * backward rule is the causal mode). Same shape as #25: user-keyed
    * equi-join with per-event rank over that user's bounded anchor
    * set; |Δt| is exact integer microsecond arithmetic.
    */
  def asofJoinNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val anchors = ev.filter(col("event_type") === "signup")
      .select(
        col("user_id").as("a_user_id"),
        col("event_id").as("anchor_id"),
        col("ts").as("anchor_ts"))
    val gap = abs(unix_micros(col("ts")) - unix_micros(col("anchor_ts")))
    val w = Window.partitionBy(col("event_id"))
      .orderBy(col("gap_us"), col("anchor_ts"), col("anchor_id"))
    purchases
      .join(anchors, col("user_id") === col("a_user_id"), "left")
      .withColumn("gap_us", gap)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("event_id"), col("user_id"),
        epochMs(col("ts")).as("ts_ms"),
        col("anchor_id"), epochMs(col("anchor_ts")).as("anchor_ts_ms"),
        col("gap_us"))
      .orderBy(col("event_id"))
  }

  val asofJoinNearestSql: String =
    """WITH purchases AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
      |),
      |anchors AS (
      |  SELECT user_id AS a_user_id, event_id AS anchor_id, ts AS anchor_ts
      |  FROM events WHERE event_type = 'signup'
      |),
      |ranked AS (
      |  SELECT p.event_id, p.user_id, p.ts, a.anchor_id, a.anchor_ts,
      |    abs(epoch_us(p.ts) - epoch_us(a.anchor_ts)) AS gap_us,
      |    row_number() OVER (PARTITION BY p.event_id
      |      ORDER BY abs(epoch_us(p.ts) - epoch_us(a.anchor_ts)), a.anchor_ts, a.anchor_id) AS rn
      |  FROM purchases p LEFT JOIN anchors a ON p.user_id = a.a_user_id
      |)
      |SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
      |  anchor_id, epoch_ms(anchor_ts) AS anchor_ts_ms, gap_us
      |FROM ranked WHERE rn = 1 ORDER BY event_id""".stripMargin

  /** #301 ann_probe_curve — the IVF tuning table: recall@3 and scan
    * fraction as the probe count sweeps 1 → 2 → 4 → 8 → 16 (16 = every
    * list, the exhaustive limit). THE artifact an ANN deployment reads
    * to pick its latency/recall point: recall MUST be monotone in
    * probes (candidate sets are nested — spec-pinned) and reach 1.0 at
    * the full sweep (probing all lists IS brute force — spec-pinned).
    * One trained-centroid assignment pass is SHARED by every sweep
    * point (lineage-cut; the probes dimension only re-ranks the
    * query-side nearest-centroid list), so the sweep costs one extra
    * bounded join per point, not a re-train. Rows-only by declared
    * design (trained centroids, the embed_ivf_knn precedent); the
    * invariants above are the correctness pin.
    */
  def annProbeCurve(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Registry
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    val k = 16
    val cents = graft.Lineage.cut(TextOps.ivfCentroids(emb, k, 2))
    val lists = graft.Lineage.cut(
      TextOps.nearestCentroids(emb, cents, "vec_id", "e", 1))
    // the SAME query set as the exact baseline (#37 scores vec_id < 5)
    val queries10 = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    // every sweep point reuses ONE ranked query→centroid relation
    // (explicit rank over the same (csim DESC, cent_id ASC) order the
    // family's nearestCentroids encodes; 10 queries × k rows, tiny)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cent_id"))
    val probedAll = graft.Lineage.cut(
      queries10.crossJoin(broadcast(cents))
        .withColumn("csim", Registry.cosine(col("qe"), col("ce")))
        .withColumn("rank", row_number().over(wProbe))
        .select(col("query_id"), col("qe"), col("cent_id"), col("rank")))
    val exact3 = TextOps.embedKnn(s, dir)
      .filter(col("rn") <= 3).select(col("query_id"), col("vec_id"))
    val nq = queries10.agg(countDistinct(col("query_id")).as("nq"))
    val nvec = emb.agg(count(lit(1)).as("nv"))
    val w = Window.partitionBy(col("probes"), col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val swept = probedAll
      .join(broadcast(
        s.createDataFrame(Seq(Tuple1(1), Tuple1(2), Tuple1(4), Tuple1(8), Tuple1(16)))
          .toDF("probes")), col("rank") <= col("probes"))
      .join(lists, Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
    val cands = swept.groupBy(col("probes"))
      .agg(count(lit(1)).as("n_candidates"))
    val hits = swept
      .withColumn("cosine", Registry.dot(col("qe"), col("e"))
        / (Registry.l2norm(col("qe")) * Registry.l2norm(col("e"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .join(exact3, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("probes")).agg(count(lit(1)).as("n_hits"))
    cands.join(hits, Seq("probes"), "left")
      .crossJoin(broadcast(nq)).crossJoin(broadcast(nvec))
      .select(
        col("probes"),
        col("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        emit(coalesce(col("n_hits"), lit(0L)).cast("double")
          / (col("nq") * 3).cast("double"), 6).as("recall_at_3"),
        emit(col("n_candidates").cast("double")
          / (col("nq") * col("nv")).cast("double"), 6).as("scan_frac"))
      .orderBy(col("probes"))
  }

  /** #303 skyline_parts — the classic 2-D skyline (Pareto frontier)
    * operator: parts not dominated on (cheaper price, larger size) —
    * q dominates p iff q.price ≤ p.price ∧ q.size ≥ p.size with one
    * strict. NOT the O(n²) dominance join: collapse to per-distinct-
    * price maxima (one fine-keyed agg), then one lag-of-running-max
    * window over the |distinct prices| relation gives M_lt (the best
    * size strictly cheaper), and p survives iff p.size > M_lt AND
    * p.size is its own price group's max — the textbook sort-scan
    * skyline, re-expressed as agg + bounded window so the full fact
    * table never total-sorts.
    */
  def skylineParts(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(s, dir)
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"), col("p_size"))
    val perPrice = parts.groupBy(col("p_retailprice"))
      .agg(max(col("p_size")).as("grp_max"))
    val wCum = Window.orderBy(col("p_retailprice"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = perPrice
      .withColumn("m_lt", max(col("grp_max")).over(wCum))
    parts.join(frontier, Seq("p_retailprice"))
      .filter(
        col("p_size") === col("grp_max")
          && (col("m_lt").isNull || col("p_size") > col("m_lt")))
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"), col("p_size"))
      .orderBy(col("p_retailprice"), col("p_partkey"))
  }

  val skylinePartsSql: String =
    """WITH per_price AS (
      |  SELECT p_retailprice, max(p_size) AS grp_max
      |  FROM part GROUP BY 1
      |),
      |frontier AS (
      |  SELECT p_retailprice, grp_max,
      |    max(grp_max) OVER (ORDER BY p_retailprice
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_lt
      |  FROM per_price
      |)
      |SELECT p_partkey, p_name, p_retailprice, p_size
      |FROM part JOIN frontier USING (p_retailprice)
      |WHERE p_size = grp_max AND (m_lt IS NULL OR p_size > m_lt)
      |ORDER BY p_retailprice, p_partkey""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("window_funnel", windowFunnel, windowFunnelSql),
    exact("seq_patterns", seqPatterns, seqPatternsSql),
    exact("compaction_plan", compactionPlan, compactionPlanSql),
    exact("corpus_mix_temperature", corpusMixTemperature, corpusMixTemperatureSql),
    exact("dedup_containment", dedupContainment, dedupContainmentSql),
    exact("label_noise_report", labelNoiseReport, labelNoiseReportSql),
    exact("doc_perplexity_bigram", docPerplexityBigram, docPerplexityBigramSql),
    rowsOnly("dedup_containment_fast", dedupContainmentFast),
    exact("blocking_report", blockingReport, blockingReportSql),
    exact("negative_sampling", negativeSampling, negativeSamplingSql),
    exact("source_vocab_overlap", sourceVocabOverlap, sourceVocabOverlapSql),
    exact("join_cardinality_report", joinCardinalityReport, joinCardinalityReportSql),
    exact("embed_covariance", embedCovariance, embedCovarianceSql),
    exact("grouping_sets_report", groupingSetsReport, groupingSetsReportSql),
    exact("asof_join_nearest", asofJoinNearest, asofJoinNearestSql),
    exact("embed_covariance_incremental", embedCovarianceIncremental, embedCovarianceSql),
    exact("label_propagation_eval", labelPropagationEval, labelPropagationEvalSql),
    rowsOnly("ann_probe_curve", annProbeCurve),
    exact("skyline_parts", skylineParts, skylinePartsSql))
}
