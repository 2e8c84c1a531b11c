package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Smoke + invariant checks for every §2 query at sf0.001. The real
  * correctness gate is the driver's DuckDB compare (tools/check.py
  * locally); these tests pin structural invariants cheaply.
  */
class QueryCatalogSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = GraftSession.local(cores = 4, shufflePartitions = 4)
  val dir = "/root/testdata/sf0.001"

  test("catalog and oracle keys line up") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle keys without query: ${o.diff(q)}")
    val rowsOnly = Set(
      "dedup_minhash", "dedup_simhash", "embed_lsh_knn", "embed_ivf_knn",
      "embed_ivf_knn_indexed", "embed_pair_sim_bucketed",
      "percentiles_approx", "dedup_winnow_fast", "distinct_approx",
      "dedup_semantic_ivf", "embed_kmeans_report", "corpus_recipe_neardup",
      "embed_pq_knn_trained", "neardup_incremental", "dedup_semantic_incremental",
      "mau_hll_sliding", "audience_overlap_sketch", "table_profile_sketch",
      "ann_recall_report", "dedup_containment_fast", "ann_probe_curve",
      "mmr_rerank")
    assert(q.diff(o) == rowsOnly, s"unexpected rows-only set: ${q.diff(o)}")
  }

  test("a key name declared twice fails the registry and names the key") {
    val run = (_: SparkSession, _: String) => spark.emptyDataFrame
    val e = intercept[IllegalArgumentException](Key.byName(Seq(
      Key.exact("dup_key", run, "SELECT 1"), Key.rowsOnly("lone_key", run),
      Key.rowsOnly("dup_key", run))))
    assert(e.getMessage.contains("dup_key") && !e.getMessage.contains("lone_key"), e.getMessage)
    assert(Key.byName(Seq(Key.rowsOnly("lone_key", run))).keySet == Set("lone_key"))
  }

  test("every query returns rows at sf0.001") {
    // graph_kcore is exempt BY DESIGN: at sf0.001 the projected graph
    // has mean degree ~3, so the empty 20-core is the true answer —
    // the driver's sf0.01 oracle gate sees the nonempty core (and the
    // planted-graph test below pins the peel itself).
    val emptyOk = Set("graph_kcore")
    val empties = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = fn(spark, dir).count()
      if (n == 0 && !emptyOk(name)) Some(name) else None
    }
    assert(empties.isEmpty, s"empty results: $empties")
  }

  test("entry flagship runs") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q1 aggregates are stable") {
    val rows = SparkEntry.queries("q1_agg")(spark, dir).collect()
    assert(rows.length == 6)
    val first = rows.head
    assert(first.getAs[String]("l_returnflag") == "A")
    assert(first.getAs[Long]("count_order") > 0)
  }

  test("limit_per_user caps at 3 per user") {
    val df = SparkEntry.queries("limit_per_user")(spark, dir)
    val overCap = df.groupBy("user_id").count().filter("count > 3").count()
    assert(overCap == 0)
  }

  test("dedup_exact leaves one row per key") {
    val df = SparkEntry.queries("dedup_exact")(spark, dir)
    assert(df.groupBy("user_id", "event_type").count().filter("count > 1").count() == 0)
  }

  test("decontaminate keeps only non-benchmark docs and is a subset of candidates") {
    import org.apache.spark.sql.functions.col
    val kept = SparkEntry.queries("decontaminate")(spark, dir)
    assert(kept.filter(col("doc_id") < 5).count() == 0, "benchmark docs leaked into the kept set")
    val candidates = Tables.documents(spark, dir).filter(col("doc_id") >= 5).count()
    val n = kept.count()
    assert(n > 0 && n < candidates, s"expected a strict subset: kept $n of $candidates")
  }

  test("corpus_split covers every doc once with plausible split rates") {
    val rows = SparkEntry.queries("corpus_split")(spark, dir).collect()
    val total = Tables.documents(spark, dir).count()
    assert(rows.length == total, "every doc gets exactly one split")
    val bydist = rows.groupBy(_.getAs[String]("split")).view.mapValues(_.length).toMap
    assert(bydist.keySet == Set("train", "val", "test"))
    val trainRate = bydist("train").toDouble / total
    assert(trainRate > 0.8 && trainRate < 0.95, s"train rate $trainRate outside the 0.875 band")
  }

  test("corpus_sample hits its per-source rates and is deterministic") {
    import org.apache.spark.sql.functions.col
    val a = SparkEntry.queries("corpus_sample")(spark, dir)
    val total = Tables.documents(spark, dir)
      .withColumn("grp", org.apache.spark.sql.functions.substring(col("source"), 4, 10).cast("int") % 2)
      .groupBy("grp").count().collect().map(r => r.getAs[Int]("grp") -> r.getAs[Long]("count")).toMap
    val kept = a.groupBy("grp").count().collect().map(r => r.getAs[Int]("grp") -> r.getAs[Long]("count")).toMap
    val rate0 = kept(0).toDouble / total(0)
    val rate1 = kept(1).toDouble / total(1)
    assert(rate0 > 0.6 && rate0 < 0.9, s"group 0 rate $rate0 outside 0.75 band")
    assert(rate1 > 0.1 && rate1 < 0.4, s"group 1 rate $rate1 outside 0.25 band")
    // same hash, same cut — sampling is reproducible run to run
    val b = SparkEntry.queries("corpus_sample")(spark, dir)
    assert(a.collect().toSeq == b.collect().toSeq)
  }

  test("corpus_vocab is tf-ordered with df <= tf and df bounded by corpus size") {
    val rows = SparkEntry.queries("corpus_vocab")(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    val nDocs = Tables.documents(spark, dir).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("df") <= r.getAs[Long]("tf"))
      assert(r.getAs[Long]("df") <= nDocs)
    }
    val tfs = rows.map(_.getAs[Long]("tf")).toSeq
    assert(tfs == tfs.sorted.reverse, "vocabulary must be ordered by descending tf")
  }

  test("pii_scrub removes every planted email/phone and counts them") {
    val rows = SparkEntry.queries("pii_scrub")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("n_emails") == 1 && r.getAs[Int]("n_phones") == 1)
      val t = r.getAs[String]("scrubbed")
      assert(!t.contains("@example.com") && !t.contains("+1-555-"), s"PII survived: $t")
      assert(t.contains("<EMAIL>") && t.contains("<PHONE>"))
    }
  }

  test("cube_agg grand total equals the sum of per-type totals") {
    val rows = SparkEntry.queries("cube_agg")(spark, dir).collect()
    val grand = rows.filter(r =>
      r.getAs[String]("event_type") == "ALL" && r.getAs[String]("month") == "ALL")
    assert(grand.length == 1)
    val perType = rows.filter(r =>
      r.getAs[String]("event_type") != "ALL" && r.getAs[String]("month") == "ALL")
    assert(perType.map(_.getAs[Long]("n")).sum == grand.head.getAs[Long]("n"))
    assert(math.abs(perType.map(_.getAs[Double]("total_value")).sum -
      grand.head.getAs[Double]("total_value")) < 1e-6)
  }

  test("doc_chunks windows are bounded, stride-aligned and cover every word") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("doc_chunks")(spark, dir).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    byDoc.foreach { case (id, rs) =>
      val nWords = rs.head.getAs[Int]("n_words")
      rs.foreach { r =>
        val words = r.getAs[String]("chunk").split(" ")
        assert(words.length <= 32, s"doc $id chunk over 32 words")
      }
      // chunk ids are dense from 0 and the last window reaches the end:
      // last start + its length == n_words for docs longer than a chunk
      val ids = rs.map(_.getAs[Int]("chunk_id")).sorted
      assert(ids.toSeq == (0 until rs.length), s"doc $id chunk ids not dense")
      val lastLen = rs.maxBy(_.getAs[Int]("chunk_id")).getAs[String]("chunk").split(" ").length
      assert(ids.max * 24 + lastLen == nWords || nWords <= 32,
        s"doc $id: last chunk does not reach the end")
    }
  }

  test("doc_tfidf keeps top-3 non-negative scores in order") {
    val rows = SparkEntry.queries("doc_tfidf")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("tfidf") >= 0.0))
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rs) =>
      assert(rs.length <= 3, s"doc $id has more than 3 terms")
      val scores = rs.map(_.getAs[Double]("tfidf")).toSeq
      assert(scores == scores.sorted.reverse, s"doc $id terms out of order")
    }
  }

  test("doc_perplexity is positive and flags exactly the threshold tail") {
    val rows = SparkEntry.queries("doc_perplexity")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p = r.getAs[Double]("perplexity")
      assert(p > 0.0)
      assert(r.getAs[Int]("flagged") == (if (p >= 31.0) 1 else 0))
    }
    // perplexity under a unigram model is bounded by vocabulary size:
    // exp(mean -ln p) <= total/min_tf <= total tokens
    val vocabBound = Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " "))).count()
    rows.foreach(r => assert(r.getAs[Double]("perplexity") <= vocabBound))
  }

  test("doc_repetition fractions are consistent with the flag") {
    val rows = SparkEntry.queries("doc_repetition")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (top, dup) = (r.getAs[Double]("top_frac"), r.getAs[Double]("dup_frac"))
      assert(top > 0 && top <= 1.0 && dup >= 0 && dup <= 1.0)
      assert(r.getAs[Int]("flagged") == (if (top >= 0.06 || dup >= 0.10) 1 else 0))
    }
  }

  test("corpus_mix_report mixture weights sum to 1 over sources") {
    val rows = SparkEntry.queries("corpus_mix_report")(spark, dir).collect()
    assert(rows.nonEmpty)
    val fracSum = rows.map(_.getAs[Double]("mix_frac")).sum
    assert(math.abs(fracSum - 1.0) < 1e-3, s"mix fractions sum to $fracSum")
    rows.foreach { r =>
      assert(r.getAs[Long]("kept_docs") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("kept_tokens") <= r.getAs[Long]("n_tokens"))
    }
  }

  test("winnowing guarantee: a planted 11-word shared span surfaces in BOTH variants") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 8-gram hashes, 4-gram windows: any shared span of >= 8+4-1 = 11
    // words must yield at least one common fingerprint REGARDLESS of
    // the hash function — pin it for the md5 oracle path and the
    // xxhash64 production path
    val span = (1 to 11).map(i => s"shared$i").mkString(" ")
    def pad(seed: String) = (1 to 30).map(i => s"$seed$i").mkString(" ")
    val docs = Seq(
      (1L, s"${pad("alpha")} $span ${pad("beta")}"),
      (2L, s"${pad("gamma")} $span ${pad("delta")}"),
      (3L, pad("unrelated"))).toDF("doc_id", "text")
    // the hash receives the 8-word gram as an ARRAY slice (mirror the
    // catalog call sites: md5 over the joined gram string, xxhash64
    // structural over the slice)
    for ((name, h) <- Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
        "md5" -> (g => substring(md5(concat_ws(" ", g)), 1, 16)),
        "xxhash64" -> (g => xxhash64(g)))) {
      // the guarantee is >= 1 common fingerprint per shared span — test
      // at that bound (the catalog queries keep the >= 2 noise cut)
      val pairs = queries.Round4Ops.winnowPairs(docs, h, minShared = 1)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 2L)), s"$name variant missed the planted span")
      assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), s"$name variant false positive")
    }
  }

  test("bucketed pair mining: no false positives, recall >= 0.9 on planted near-dups") {
    import org.apache.spark.sql.functions._
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact in-bucket verification ⇒ every emitted pair must also pass
    // the brute-force threshold cut (precision 1 by construction)
    val brute = pairs(SparkEntry.queries("embed_pair_sim_oracle")(spark, dir))
    val bucketed = pairs(SparkEntry.queries("embed_pair_sim_bucketed")(spark, dir))
    assert(bucketed.subsetOf(brute), "bucketed emitted a pair the exact form rejects")

    // recall at the production design point (~0.95 cosine near-dups):
    // the testdata vectors are isotropic noise (max pair cosine ≈ 0.5),
    // so plant jittered copies (vec_id + 10000) and require the miner
    // to find ≥ 0.9 of them
    val emb = Tables
      .embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    val dups = emb.select(
      (col("vec_id") + 10000L).as("vec_id"),
      transform(
        col("e"),
        (x, i) =>
          x + (pmod(xxhash64(col("vec_id"), i), lit(100L)).cast("double") / 1000.0 - 0.05))
        .as("e"))
    val planted = queries.TextOps
      .pairMineBucketed(emb.unionByName(dups), threshold = 0.95)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = emb.select("vec_id").collect().map(_.getLong(0)).map(id => (id, id + 10000L)).toSet
    val found = truth.intersect(planted)
    assert(found.size >= truth.size * 0.9, s"planted-dup recall ${found.size}/${truth.size} below 0.9")
  }

  test("semantic dedup: kept set has no in-bucket pair above the threshold, and drops happen") {
    import org.apache.spark.sql.functions._
    val kept = SparkEntry.queries("dedup_semantic")(spark, dir)
    val total = Tables.embeddings(spark, dir).count()
    val nKept = kept.count()
    assert(nKept < total, "dedup_semantic dropped nothing — threshold too high for the testdata")
    // keep rule: any in-bucket pair >= tau would have dropped the higher id
    val emb = Tables
      .embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    val withVec = kept.join(emb, Seq("vec_id"))
    val lo = withVec.select(col("bucket"), col("vec_id").as("a"), col("e").as("ea"))
    val hi = withVec.select(col("bucket"), col("vec_id").as("b"), col("e").as("eb"))
    val offenders = lo
      .join(hi, Seq("bucket"))
      .filter(col("a") < col("b"))
      .filter(graft.functions.Registry.cosine(col("ea"), col("eb")) >= 0.30)
      .count()
    assert(offenders == 0, s"$offenders kept in-bucket pairs exceed the dedup threshold")
  }

  test("IVF semantic dedup keeps no probed-list pair above the threshold") {
    // INDEPENDENT invariant on the OUTPUT (not a recomputation of the
    // internal mined set via pairMineBucketed, which could only verify
    // the anti-join wiring): re-derive the probed lists for the KEPT
    // vectors and assert no two kept vectors sharing a probed list are
    // >= threshold — the same shape as the dedup_semantic invariant. A
    // regression in the keep/mining rule that retains a near-dup pair
    // fails this even if the anti-join is wired correctly.
    import org.apache.spark.sql.functions._
    val emb = Tables
      .embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    val kept = queries.TextOps.semanticDedupIvf(emb, threshold = 0.4)
    val total = emb.count()
    val nKept = kept.count()
    assert(nKept < total, "dedup_semantic_ivf dropped nothing — threshold too high for testdata")
    val cents = queries.TextOps.ivfCentroids(emb, 16, 2) // deterministic: same lists
    val probed = queries.TextOps.nearestCentroids(kept, cents, "vec_id", "e", 2)
    val lo = probed.select(col("cent_id"), col("vec_id").as("a"), col("e").as("ea"))
    val hi = probed.select(col("cent_id"), col("vec_id").as("b"), col("e").as("eb"))
    val offenders = lo
      .join(hi, Seq("cent_id"))
      .filter(col("a") < col("b"))
      .filter(graft.functions.Registry.cosine(col("ea"), col("eb")) >= 0.4)
      .count()
    assert(offenders == 0, s"$offenders kept probed-list pairs exceed the dedup threshold")
  }

  test("multimodal decode parses the dims that were encoded into the header bytes") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("multimodal_decode")(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[String]("format")).toSet == Set("png", "gif", "bmp"))
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("width") == 16 + id % 1920, s"doc $id width")
      assert(r.getAs[Long]("height") == 16 + (id * 7) % 1080, s"doc $id height")
      assert(r.getAs[Long]("n_bytes") > 0)
    }
  }

  test("multimodal batch-decode plumbing (the mapPartitions library shape) still runs") {
    // non-catalog since r5 (multimodal_decode is the oracle-verified
    // operator) but a real pixel decoder needs this batch shape — pin it
    val out = queries.TextOps.multimodalStub(spark, dir)
    assert(out.count() > 0)
    assert(out.columns.contains("fake_feature"), out.columns.mkString(","))
  }

  test("normalized dedup folds case/punct/whitespace variants; overlap report counts them") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // three renderings of one article + one distinct doc, across sources
    val planted = Seq(
      (1L, "The  quick, brown fox!", "crawl_a"),
      (2L, "the quick brown fox", "crawl_b"), // same after normalization
      (3L, "THE QUICK   BROWN FOX.", "crawl_a"), // same again
      (4L, "an entirely different document", "crawl_b")
    ).toDF("doc_id", "text", "source")
    val kept = queries.Round5Ops.dedupNormalizedOver(planted).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_variants")).toMap
    assert(kept == Map(1L -> 3L, 4L -> 1L), s"variant folding wrong: $kept")
    val report = queries.Round5Ops.corpusOverlapReportOver(planted).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_duplicated"), r.getAs[Long]("n_cross_source")))
      .toMap
    // crawl_a: docs 1,3 — both duplicated, both collide with crawl_b's doc 2
    // crawl_b: docs 2,4 — doc 2 duplicated cross-source, doc 4 clean
    assert(report == Map("crawl_a" -> ((2L, 2L, 2L)), "crawl_b" -> ((2L, 1L, 1L))), s"report wrong: $report")
    // on the (duplicate-free) testdata both still return full rows
    assert(SparkEntry.queries("dedup_normalized")(spark, dir).count() > 0)
    assert(SparkEntry.queries("corpus_overlap_report")(spark, dir).count() > 0)
  }

  test("bm25 ranks term-dense short docs first; novelty zeroes out planted duplicates") {
    val hits = SparkEntry.queries("bm25_search")(spark, dir).collect()
    assert(hits.length == 20, s"expected top-20, got ${hits.length}")
    val scores = hits.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, "scores not non-increasing")
    assert(scores.head > 0.0)
    // every hit matched at least one of the three query terms
    assert(hits.forall(r => r.getAs[Long]("n_terms") >= 1))

    // a duplicated doc shares ALL its 3-grams with its twin → novelty
    // exactly 0 and flagged; a doc of fresh words scores 1
    import spark.implicits._
    val planted = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // exact twin of 1
      (3L, "zeta eta theta iota kappa lambda")
    ).toDF("doc_id", "text")
    val nov = queries.Round5Ops.docNoveltyOver(planted).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("novelty"), r.getAs[Int]("flagged"))).toMap
    assert(nov(1L) == ((0.0, 1)) && nov(2L) == ((0.0, 1)), s"twins not zero-novelty: $nov")
    assert(nov(3L) == ((1.0, 0)), s"fresh doc not fully novel: $nov")
    assert(SparkEntry.queries("doc_novelty")(spark, dir).count() > 0)
  }

  test("mix weights cap at 3 epochs and effective shares renormalize to 1") {
    val w = SparkEntry.queries("corpus_mix_weights")(spark, dir).collect()
    assert(w.length > 1)
    assert(w.forall(r => r.getAs[Double]("weight") <= 3.0 && r.getAs[Double]("weight") > 0.0))
    val effTot = w.map(_.getAs[Double]("eff_share")).sum
    assert(math.abs(effTot - 1.0) < 1e-4, s"eff shares sum to $effTot")
  }

  test("event anomalies flag exactly the |z| >= 2 hours") {
    val a = SparkEntry.queries("event_anomalies")(spark, dir).collect()
    assert(a.length > 24, "expected many (type, hour) rows")
    assert(a.forall { r =>
      val z = r.getAs[Double]("z")
      (math.abs(z) >= 2.0) == (r.getAs[Int]("flagged") == 1)
    })
    // z-scores center near 0 within each type: their overall mean is small
    val zs = a.map(_.getAs[Double]("z"))
    assert(math.abs(zs.sum / zs.length) < 0.1)
  }

  test("kmeans report partitions all vectors; training tightens clusters") {
    val nVec = graft.Tables.embeddings(spark, dir).count()
    def weightedSim(trained: Boolean) = {
      val rows = queries.Round5Ops.embedKmeansReportWith(spark, dir, trained).collect()
      val n = rows.map(_.getAs[Long]("n_members")).sum
      assert(n == nVec, s"cluster sizes sum to $n, expected $nVec")
      assert(rows.forall { r =>
        val p = r.getAs[Double]("purity"); p > 0.0 && p <= 1.0
      })
      rows.map(r => r.getAs[Long]("n_members") * r.getAs[Double]("mean_sim")).sum / n
    }
    val seeded = weightedSim(trained = false)
    val trained = weightedSim(trained = true)
    assert(trained >= seeded - 1e-9, s"training should not loosen clusters: $trained < $seeded")
  }

  test("corpus recipe composes gates, dedup, decontamination and split in one plan") {
    val card = SparkEntry.queries("corpus_recipe")(spark, dir).collect()
    val bySplit = card.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(bySplit.keySet == Set("train", "val", "test"), s"missing splits: $bySplit")
    val total = bySplit.values.sum
    // split1 hashing targets 14/16 train; binomial noise stays well inside
    val trainShare = bySplit("train").toDouble / total
    assert(trainShare > 0.75 && trainShare < 0.95, s"train share $trainShare")
    // every surviving doc passed the >= 30-word gate
    val tokens = card.map(_.getAs[Long]("n_tokens")).sum
    assert(tokens >= 30L * total, s"$tokens tokens for $total docs breaks the length gate")
  }

  test("near-dup recipe folds a near-duplicate that exact dedup keeps") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // an en-gated 40-word doc (stopword-heavy so lang_id votes en,
    // diverse enough for the 0.3 gate), its near-duplicate with ONE
    // word swapped (distinct normalized hash -> exact dedup keeps it;
    // 3-gram jaccard ~0.92 -> the band join folds it), and a distinct doc
    def enText(tail: String) =
      ("the quick brown fox jumps over a lazy dog and runs to the river in " +
        "morning light while birds sing songs of spring for everyone watching " +
        s"with great joy $tail").trim
    val docsDf = Seq(
      (10L, enText("today friends gathered"), "web"),
      (11L, enText("today friends assembled"), "web"), // near-dup of 10
      (12L, ("a tale of winter nights and frozen lakes is told by elders " +
        "in the old hall where fires burn bright and children listen to " +
        "stories about distant mountains full of wonder"), "web"))
      .toDF("doc_id", "text", "source")
    val gated = queries.Round5Ops.recipeGate(docsDf)
    assert(gated.count() == 3, "test premise: all three docs must pass the gates")
    val kept = queries.Round6Ops.nearDedupDocs(gated)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 12L), s"near-dedup kept $kept")
    // normalization-aware EXACT dedup keeps all three (different words
    // survive normalization) — the near-dup variant is the strictly
    // stronger fold this corpus needs
    assert(queries.Round5Ops.dedupNormalizedOver(docsDf).count() == 3)
    val card = queries.Round6Ops.corpusRecipeNeardupOver(
      graft.Tables.documents(spark, dir)).collect()
    assert(card.map(_.getAs[Long]("n_docs")).sum > 0, "recipe card must keep docs at sf0.001")
  }

  test("q13 histogram partitions every customer exactly once; q4 counts orders once") {
    import org.apache.spark.sql.functions._
    val hist = SparkEntry.queries("q13_custdist")(spark, dir).collect()
    val nCust = Tables.customer(spark, dir).count()
    assert(hist.map(_.getAs[Long]("custdist")).sum == nCust,
      "the outer-join histogram must cover every customer exactly once")
    assert(hist.forall(_.getAs[Long]("custdist") > 0))

    val q4 = SparkEntry.queries("q4_order_priority")(spark, dir).collect()
    val windowOrders = Tables.orders(spark, dir)
      .filter(
        col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
    assert(q4.map(_.getAs[Long]("order_count")).sum <= windowOrders.count(),
      "the EXISTS semi join must count each order at most once")
    assert(q4.nonEmpty && q4.forall(_.getAs[Long]("order_count") > 0))
  }

  test("bpe merge step ranks two-char pairs by corpus-weighted frequency") {
    val pairs = SparkEntry.queries("bpe_merge_step")(spark, dir).collect()
    assert(pairs.length == 20)
    assert(pairs.forall(_.getAs[String]("pair").length == 2))
    val freqs = pairs.map(_.getAs[Long]("freq"))
    assert(freqs.zip(freqs.tail).forall { case (a, b) => a >= b }, "freq must be non-increasing")
  }

  test("inter-event gap count equals events minus (user, type) series") {
    import org.apache.spark.sql.functions._
    val gaps = SparkEntry.queries("inter_event_gaps")(spark, dir).collect()
    // every (user, type) series of n events contributes exactly n-1 gaps
    val ev = Tables.events(spark, dir)
    val expected = ev.count() - ev.select("user_id", "event_type").distinct().count()
    assert(gaps.map(_.getAs[Long]("n_gaps")).sum == expected)
    assert(gaps.forall(r => r.getAs[Double]("p50_s") >= 0 && r.getAs[Double]("mean_s") >= 0))
    assert(gaps.forall(r => r.getAs[Double]("p95_s") >= r.getAs[Double]("p50_s")))
  }

  test("native top-k aggregate equals the window form on skew, ties and short groups") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // one hot user with 50k rows (including score TIES — the id
    // tie-break must match the window's ORDER BY value DESC, id ASC),
    // one user with fewer rows than k, one exactly at k
    val hot = spark.range(0, 50000).select(
      col("id").as("event_id"), lit(1L).as("user_id"), (col("id") % 100).cast("double").as("value"))
    val short = Seq((100000L, 2L, 5.0), (100001L, 3L, 1.0), (100002L, 3L, 1.0), (100003L, 3L, 1.0))
      .toDF("event_id", "user_id", "value")
    val df = hot.unionByName(short)
    val viaAgg = df.groupBy(col("user_id"))
      .agg(graft.functions.Registry.topK(col("value"), col("event_id"), 3).as("top"))
      .select(col("user_id"), explode(col("top")).as("e"))
      .select(col("user_id"), col("e.id").as("event_id"), col("e.score").as("value"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id"))
    val viaWindow = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("user_id"), col("event_id"), col("value"))
    assert(viaAgg.count() == 3 + 1 + 3)
    assert(viaAgg.except(viaWindow).isEmpty && viaWindow.except(viaAgg).isEmpty,
      "native top-k diverged from the window form")
    // the hot user's winners are the smallest ids among the 500 rows
    // tied at the max value 99
    val hotTop = viaAgg.filter(col("user_id") === 1L).orderBy(col("event_id")).collect()
    assert(hotTop.map(_.getAs[Long]("event_id")).toSeq == Seq(99L, 199L, 299L), hotTop.mkString(","))
  }

  test("native session_window matches the islands form except at the exact-gap boundary") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // on real data (no exact 30:00.000 gaps) the two sessionizers agree
    val native = SparkEntry.queries("sessionize_native")(spark, dir).collect()
    val islands = SparkEntry.queries("sessionize")(spark, dir).collect()
    assert(native.length == islands.length)
    assert(
      native.map(r => (r.getLong(0), r.getAs[Long]("session_start_ms"))).toSet ==
        islands.map(r => (r.getLong(0), r.getAs[Long]("session_start_ms"))).toSet)
    // planted EXACT 30-min gap: Spark merges ADJACENT session windows,
    // so a gap of precisely the timeout still merges — the same strict
    // `> gap` split rule as the islands form (pinned, so an upstream
    // semantics change in session_window breaks loudly here)
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val events = Seq(
      (1L, 7L, base, 1.0),
      (2L, 7L, new java.sql.Timestamp(base.getTime + 30 * 60 * 1000), 1.0),
      (3L, 7L, new java.sql.Timestamp(base.getTime + 60 * 60 * 1000 + 1), 1.0))
      .toDF("event_id", "user_id", "ts", "value")
    val nativeSessions = events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .count().count()
    assert(nativeSessions == 2,
      "session_window must merge the exact-gap pair and split the >gap one")
  }

  test("clustering coefficient is the bounded transitivity ratio") {
    val row = SparkEntry.queries("graph_clustering_coeff")(spark, dir).collect().head
    val (t, w, c) =
      (row.getAs[Long]("n_triangles"), row.getAs[Long]("n_wedges"),
        row.getAs[Double]("clustering_coeff"))
    // every triangle closes exactly 3 wedges, so 3t <= w and c in [0, 1]
    assert(3 * t <= w, s"3x$t triangles exceed $w wedges")
    assert(c >= 0.0 && c <= 1.0, s"coefficient $c out of range")
    assert(t == SparkEntry.queries("triangle_count")(spark, dir).collect().head.getLong(0))
  }

  test("applied mix copies stay within the weight's floor/ceil band per source") {
    val weights = SparkEntry.queries("corpus_mix_weights")(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Double]("weight")).toMap
    val card = SparkEntry.queries("corpus_apply_mix")(spark, dir).collect()
    assert(card.nonEmpty)
    card.foreach { r =>
      val (src, in, out) =
        (r.getAs[String]("source"), r.getAs[Long]("docs_in"), r.getAs[Long]("copies_out"))
      val w = weights(src)
      // every doc yields floor(w) or floor(w)+1 copies — the realized
      // epoch rate can only live inside the weight's unit band
      assert(out >= math.floor(w).toLong * in && out <= math.ceil(w).toLong * in,
        s"$src: $out copies for $in docs under weight $w")
      assert(r.getAs[Long]("tokens_out") >= 30L * out, "length gate broke on a resampled doc")
    }
  }

  test("filter audit gate columns agree with the mix report's kept counts") {
    val audit = SparkEntry.queries("doc_filter_audit")(spark, dir).collect()
    assert(audit.length == graft.Tables.documents(spark, dir).count())
    val gateSurvivors = audit.count(r =>
      r.getAs[Int]("lang_ok") == 1 && r.getAs[Int]("len_ok") == 1 &&
        r.getAs[Int]("diversity_ok") == 1)
    // corpus_mix_report applies the identical three gates per source
    val keptDocs = SparkEntry.queries("corpus_mix_report")(spark, dir).collect()
      .map(_.getAs[Long]("kept_docs")).sum
    assert(gateSurvivors.toLong == keptDocs, s"audit $gateSurvivors vs mix report $keptDocs")
    // kept implies every single signal passed
    assert(audit.filter(_.getAs[Int]("kept") == 1).forall(r =>
      Seq("lang_ok", "len_ok", "diversity_ok", "repetition_ok", "perplexity_ok", "novelty_ok")
        .forall(c => r.getAs[Int](c) == 1)))
  }

  test("q18 keeps only orders past the quantity cut, ranked by total price") {
    val rows = SparkEntry.queries("q18_topk_bigagg")(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 100)
    assert(rows.forall(_.getAs[Double]("sum_qty") > 250.0))
    val prices = rows.map(_.getAs[Double]("o_totalprice"))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("wav decode reads audio metadata back out of the payload bytes") {
    val rows = SparkEntry.queries("multimodal_audio")(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("format") == "wav"))
    assert(rows.forall(r => Set(8000L, 16000L, 44100L)(r.getAs[Long]("sample_rate"))))
    assert(rows.forall { r =>
      val expected = r.getAs[Long]("data_bytes") * 8000 /
        (r.getAs[Long]("sample_rate") * r.getAs[Long]("channels") * r.getAs[Long]("bits"))
      r.getAs[Long]("duration_ms") == expected
    })
    // sub-ms clips floor to 0; the longer docs must decode a real duration
    assert(rows.exists(_.getAs[Long]("duration_ms") > 0))
  }

  test("count-min sketch never underestimates and stays within the epsilon bound") {
    val rows = SparkEntry.queries("heavy_hitters_sketch")(spark, dir).collect()
    assert(rows.length == 10)
    // the CMS guarantee: estimate >= exact, always
    assert(rows.forall(r => r.getAs[Long]("est_n") >= r.getAs[Long]("exact_n")))
    // expected overestimate per row counter is N/w; min over d=4 rows
    // stays well under 3x that on any non-adversarial stream
    val n = graft.Tables.events(spark, dir).count()
    val bound = 3.0 * n / 256
    assert(rows.forall(_.getAs[Long]("over") <= bound),
      s"overestimates ${rows.map(_.getAs[Long]("over")).mkString(",")} vs bound $bound")
  }

  test("quantized kNN ranks close to the exact float ranking") {
    def top(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .groupBy(_.getAs[Long]("query_id"))
        .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    val exact = top(SparkEntry.queries("embed_knn")(spark, dir))
    val quant = top(SparkEntry.queries("embed_quantized_knn")(spark, dir))
    exact.foreach { case (q, ids) =>
      val overlap = ids.intersect(quant(q)).size
      assert(overlap >= 7, s"query $q: quantized top-10 recalls only $overlap/10 of the exact top-10")
    }
  }

  test("trained IVF centroids improve the quantization objective over raw seeds") {
    import org.apache.spark.sql.functions._
    val emb = Tables
      .embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    // Lloyd's optimizes how well each vector is represented by its home
    // centroid (here: mean best-cosine). That is the guarantee worth
    // pinning — on isotropic testdata, neighbor recall of trained vs
    // seeded lists is statistical noise, but the objective must improve.
    def meanHomeSim(cents: org.apache.spark.sql.DataFrame): Double =
      emb.crossJoin(broadcast(cents))
        .withColumn("csim", functions.Registry.cosine(col("e"), col("ce")))
        .groupBy(col("vec_id")).agg(max(col("csim")).as("best"))
        .agg(avg(col("best"))).head().getDouble(0)
    val seeded = meanHomeSim(queries.TextOps.seedCentroids(emb, 16))
    val trained = meanHomeSim(queries.TextOps.ivfCentroids(emb, 16, 2))
    assert(trained > seeded, s"trained objective $trained not above seeded $seeded")
    // and the trained IVF search stays a usable ANN: top-3 recall ≥ 0.6
    import org.apache.spark.sql.expressions.Window
    val q = emb.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("e").as("qe"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    val truth = emb
      .join(q, col("vec_id") =!= col("query_id"))
      .withColumn("cos", functions.Registry.cosine(col("qe"), col("e")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("query_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def ivfRecall(probes: Int): Double = {
      val got = queries.TextOps.embedIvfKnnWith(spark, dir, trained = true, probes = probes)
        .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val recall2 = ivfRecall(2)
    assert(recall2 >= 0.6, s"trained IVF top-3 recall $recall2 below floor")
    // more probes = candidate superset = weakly higher recall (the
    // latency-vs-quality knob a deployment turns)
    assert(ivfRecall(4) >= recall2)
  }

  test("persisted IVF index: search equals the retrain form and prunes unprobed lists") {
    import org.apache.spark.sql.functions._
    // byte-identical results: parquet round-trips doubles exactly, so
    // the index search must reproduce the retrain-every-time form
    val fresh = new java.io.File(
      new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft-index-cache"),
      graft.sources.Sources.inputFingerprint(dir, "embeddings", "ivf-index-v1"))
    if (fresh.exists()) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(fresh.toPath).iterator.asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    val indexed = SparkEntry.queries("embed_ivf_knn_indexed")(spark, dir)
    val retrain = SparkEntry.queries("embed_ivf_knn")(spark, dir).collect().toSeq
    assert(indexed.collect().toSeq == retrain)

    // the probe→lists join must prune at the STORAGE level: the lists
    // scan carries a dynamic-pruning partition filter on cent_id
    val planStr = indexed.queryExecution.executedPlan.toString
    assert(planStr.contains("dynamicpruning"),
      s"lists scan must be dynamically partition-pruned on cent_id:\n$planStr")
    // and the EXECUTED scan metric must show the pruning actually
    // fired: files read ≤ the distinct lists the 10 queries probe
    // (re-derived here), never the full 16-partition layout blind
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    val probedLists = queries.TextOps.nearestCentroids(
      emb.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("e").as("qe")),
      spark.read.parquet(new java.io.File(fresh, "centroids").toString)
        .select(col("cent_id").cast("long").as("cent_id"), col("ce")),
      "query_id", "qe", 2)
      .select(col("cent_id")).distinct().count()
    val scanned = graft.tools.Serve.scannedFiles(indexed, "lists")
    assert(scanned > 0 && scanned <= probedLists,
      s"DPP must read only the $probedLists probed list files, scanned=$scanned")
  }

  test("trained centroids survive a parquet round trip (train once, search many)") {
    import org.apache.spark.sql.functions._
    val emb = Tables
      .embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    val cents = queries.TextOps.ivfCentroids(emb, 16, 2)
    val outDir = tempDir("graft_cents")
    try {
      cents.write.mode("overwrite").parquet(outDir.toString)
      val back = spark.read.parquet(outDir.toString)
      // bit-identical centroids → identical inverted lists and search
      val a = cents.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
      val b = back.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
      assert(a.length == b.length && a.zip(b).forall { case (x, y) => x == y })
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(outDir).iterator.asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("iterative ops give identical results under the reliable-checkpoint switch") {
    val default = SparkEntry.queries("dedup_clusters")(spark, dir).collect().toSeq
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try {
      val reliable = SparkEntry.queries("dedup_clusters")(spark, dir).collect().toSeq
      assert(reliable == default)
    } finally spark.conf.unset("spark.graft.checkpoint.reliable")
  }

  test("embed_knn: 10 neighbors per query, self excluded, cosine in [-1,1]") {
    val rows = SparkEntry.queries("embed_knn")(spark, dir).collect()
    assert(rows.length == 50)
    assert(rows.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("vec_id")))
    assert(rows.forall(r => math.abs(r.getAs[Double]("cosine")) <= 1.0 + 1e-9))
  }

  test("minhash candidates are symmetric-free ordered pairs") {
    val rows = SparkEntry.queries("dedup_minhash")(spark, dir).collect()
    assert(rows.forall(r => r.getAs[Long]("a") < r.getAs[Long]("b")))
  }

  test("feed pipeline respects window, per-user cap and limit") {
    val df = SparkEntry.queries("feed_pipeline")(spark, dir)
    val rows = df.collect()
    assert(rows.length <= 100)
    assert(df.groupBy("user_id").count().filter("count > 3").count() == 0)
  }

  test("graph expansions hold their invariants") {
    val moots = SparkEntry.queries("graph_top_moots")(spark, dir)
    assert(moots.groupBy("src").count().filter("count > 5").count() == 0)
    val mutuals = SparkEntry.queries("graph_mutuals")(spark, dir).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
    // follow-backs under src<20 must be symmetric when both ends are <20
    mutuals.filter { case (s, d) => d < 20 }.foreach { case (s, d) =>
      assert(mutuals.contains((d, s)), s"($d,$s) missing for mutual ($s,$d)")
    }
  }

  test("concurrency peak is bounded by the day's active users and exceeds 1 somewhere") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("concurrency_peak")(spark, dir).collect()
    assert(rows.nonEmpty)
    val activeByDay = Tables.events(spark, dir)
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getAs[String]("day") -> r.getAs[Long]("n")).toMap
    rows.foreach { r =>
      val (day, peak) = (r.getAs[String]("day"), r.getAs[Long]("peak"))
      assert(peak >= 1, s"$day: peak below 1")
      assert(peak <= activeByDay.getOrElse(day, 0L),
        s"$day: peak $peak exceeds active users ${activeByDay.get(day)}")
    }
    assert(rows.exists(_.getAs[Long]("peak") > 1), "some day must have overlapping sessions")
  }

  test("funnel stages partition the user base and shrink monotonically") {
    val rows = SparkEntry.queries("funnel_stages")(spark, dir).collect()
      .map(r => r.getAs[Int]("stage") -> r.getAs[Long]("n_users")).toMap
    val allUsers = Tables.events(spark, dir).select("user_id").distinct().count()
    assert(rows.values.sum == allUsers, "stages must partition the user base")
    // deeper stages require the shallower ones: reached(k) is
    // monotonically non-increasing in k
    val reached = (0 to 3).map(k => (k to 3).flatMap(rows.get).sum)
    assert(reached == reached.sorted.reverse, s"funnel widened downstream: $reached")
  }

  test("triangle_count matches a brute-force check at sf0.001") {
    val n = SparkEntry.queries("triangle_count")(spark, dir)
      .head().getAs[Long]("n_triangles")
    // brute-force reference on the small graph
    import org.apache.spark.sql.functions._
    val und = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .select(
        (col("o_custkey") % 150).as("src"),
        ((col("l_suppkey") * 17 + col("l_partkey")) % 150).as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.distinct.sorted
    var brute = 0L
    for (i <- nodes; j <- nodes if j > i && und(( i, j)); k <- nodes if k > j)
      if (und((i, k)) && und((j, k))) brute += 1
    assert(n == brute, s"operator says $n triangles, brute force says $brute")
  }

  test("page_rank holds probability-mass invariants") {
    val rows = SparkEntry.queries("page_rank")(spark, dir).collect()
    assert(rows.nonEmpty)
    val ranks = rows.map(_.getAs[Double]("rank"))
    val n = ranks.length
    ranks.foreach(r => assert(r >= 0.15 / n - 1e-9, "rank below the teleport floor"))
    val mass = ranks.sum
    // dangling nodes leak mass (documented simplification): total mass
    // stays in (teleport floor, 1]
    assert(mass <= 1.0 + 1e-6 && mass > 0.15, s"total mass $mass out of range")
    assert(ranks.max > 1.0 / n, "a non-uniform graph must concentrate rank somewhere")
  }

  test("cluster labels are component minima (never exceed the member id)") {
    val rows = SparkEntry.queries("dedup_clusters")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("cluster") <= r.getAs[Long]("doc_id")))
    // at least one non-trivial cluster must exist in this similar corpus
    assert(rows.exists(r => r.getAs[Long]("cluster") != r.getAs[Long]("doc_id")))
  }

  test("where DSL compiles comparisons and boolean algebra") {
    import graft.pipeline.WhereDsl
    import org.apache.spark.sql.functions.col
    val c = WhereDsl.compile(
      """(a > 1 && b == "x") || !(a <= 0) || a + 2 * 3 >= 7""",
      Map("a" -> col("a"), "b" -> col("b")))
    assert(c.toString.nonEmpty)
    intercept[IllegalArgumentException](WhereDsl.compile("unknown > 1", Map.empty))
    // a missing && must be an error, not a silently truncated filter
    intercept[IllegalArgumentException](
      WhereDsl.compile("a > 1 a < 5", Map("a" -> col("a"))))
  }

  test("stash pop aligns score schemas and per-user limit works pre-score") {
    import graft.pipeline.{Binding, PipelineJson}
    import org.apache.spark.sql.functions.col
    val b = Binding(
      "event_id", "user_id", "ts", "value",
      graft.queries.FeedBlocks.NowMs,
      Map.empty, Map("value" -> col("value")))
    // scored working set unioned with an unscored stash: must not throw
    val scoredPop = PipelineJson.run(
      Tables.events(spark, dir),
      """{"blocks":[
        |  {"type":"input","inputType":"firehose","firehoseSeconds":604800},
        |  {"type":"stash","action":"stash","key":"a"},
        |  {"type":"input","inputType":"firehose","firehoseSeconds":86400},
        |  {"type":"score","scoreType":"add","from":"like_count","normalize":true},
        |  {"type":"stash","action":"pop","key":"a"},
        |  {"type":"limit","count":10}
        |]}""".stripMargin, b)
    assert(scoredPop.count() == 10)
    // posts_per_user before any score block ranks by recency, not a
    // missing score column
    val preScore = PipelineJson.run(
      Tables.events(spark, dir),
      """{"blocks":[
        |  {"type":"input","inputType":"firehose","firehoseSeconds":604800},
        |  {"type":"limit","limitType":"posts_per_user","count":2}
        |]}""".stripMargin, b)
    assert(preScore.groupBy("user_id").count().filter("count > 2").count() == 0)
  }

  test("inverted regex keeps rows with null targets") {
    import spark.implicits._
    import graft.pipeline.KeepRegex
    val df = Seq((1L, "has data"), (2L, null.asInstanceOf[String])).toDF("id", "text")
    val kept = KeepRegex(Seq("text"), "data", caseSensitive = false, invert = true)(df).collect()
    assert(kept.map(_.getLong(0)).toSeq == Seq(2L), "null-text row must survive inversion")
  }

  test("regex treats null targets as empty string (reference semantics)") {
    import spark.implicits._
    import graft.pipeline.KeepRegex
    val df = Seq((1L, "xyz"), (2L, null.asInstanceOf[String])).toDF("id", "text")
    // 'a*' matches "" → the null-text row is KEPT on the non-inverted path
    val kept = KeepRegex(Seq("text"), "a*", caseSensitive = false, invert = false)(df).collect()
    assert(kept.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L), "empty-match pattern must keep null text")
    // and symmetrically DROPPED when inverted
    val inv = KeepRegex(Seq("text"), "a*", caseSensitive = false, invert = true)(df).collect()
    assert(inv.isEmpty, "empty-match pattern inverted must drop null text")
  }

  test("malformed JSON payloads get validation errors, not NPE/MatchError") {
    import graft.pipeline.{Binding, PipelineJson}
    import org.apache.spark.sql.functions.col
    val b = Binding("id", "author", "ts", "value", 0L, Map.empty, Map.empty)
    // each payload starts with an input, so the error is the bad block's
    def run(block: String) = PipelineJson.run(
      Tables.events(spark, dir), s"""{"blocks":[{"type":"input","inputType":"firehose"},$block]}""", b)
    intercept[IllegalArgumentException](run("""{"type":"keep","subject":"x","operator":"=="}"""))
    intercept[IllegalArgumentException](run("""{"type":"remove","subject":"x","operator":"~","value":1}"""))
    intercept[IllegalArgumentException](run("""{"type":"warp"}"""))
    intercept[IllegalArgumentException](PipelineJson.run(
      Tables.events(spark, dir),
      """{"blocks":[{"type":"stash","action":"pop","key":"never_stashed"}]}""",
      b.copy(idCol = "event_id")))
  }

  test("incremental counter merge equals full recompute") {
    import graft.operators.IncrementalCounters._
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, dir)
    val old = ev.filter(col("event_id") < 700)
    val delta = ev.filter(col("event_id") >= 700)
    val merged = merge(countersOf(old, "user_id", "value"), countersOf(delta, "user_id", "value"))
    val full = countersOf(ev, "user_id", "value")
    assert(merged.except(full).count() == 0 && full.except(merged).count() == 0)
  }

  test("observed pipeline reports per-block row counts in one job") {
    import graft.pipeline._
    import org.apache.spark.sql.functions._
    val (df, obs) = FeedPipeline.compileObserved(
      Tables.events(spark, dir),
      Seq(
        KeepCmp("event_type", "==", lit("purchase")),
        KeepCmp("value", ">=", lit(100.0)),
        LimitN(10)))
    df.collect()
    val counts = obs.map { case (name, o) => name -> o.get("rows").asInstanceOf[Long] }
    assert(counts.length == 3)
    val Seq(afterType, afterValue, afterLimit) = counts.map(_._2)
    assert(afterType >= afterValue && afterValue >= afterLimit && afterLimit == 10)
  }

  test("JSON wire payload compiles to the same pipeline as the Scala DSL") {
    val json = SparkEntry.queries("feed_pipeline_json")(spark, dir).collect()
    val dsl = SparkEntry.queries("feed_pipeline")(spark, dir).collect()
    assert(json.length == dsl.length && json.length > 0)
    json.zip(dsl).foreach { case (a, b) => assert(a == b, s"mismatch: $a vs $b") }
  }

  test("as-of join API rejects non-Long key columns upfront") {
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, dir)
    val badKey = ev.select(col("event_id"), col("user_id").cast("int").as("user_id"), col("ts"))
    val err = intercept[IllegalArgumentException] {
      org.apache.spark.sql.graftext.GraftOps
        .asofJoin(badKey, ev.select(col("user_id").as("u"), col("event_id").as("i"), col("ts").as("t")),
          "user_id", "u", "ts", "t", "i")
    }
    assert(err.getMessage.contains("user_id"))
  }

  test("bare native as-of join collects without a Project on top (UnsafeRow contract)") {
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, dir).select(col("event_id"), col("user_id"), col("ts"))
    val anchors = ev.select(col("user_id").as("u"), col("event_id").as("i"), col("ts").as("t"))
    // no .select afterwards: executeCollect casts every row to UnsafeRow
    val rows = org.apache.spark.sql.graftext.GraftOps
      .asofJoin(ev, anchors, "user_id", "u", "ts", "t", "i")
      .collect()
    assert(rows.nonEmpty)
  }

  test("native as-of join agrees with the compositional window form") {
    val nat = SparkEntry.queries("asof_join_native")(spark, dir).collect()
    val comp = SparkEntry.queries("asof_join")(spark, dir).collect()
    assert(nat.length == comp.length && nat.length > 0)
    nat.zip(comp).foreach { case (a, b) => assert(a == b, s"mismatch: $a vs $b") }
  }

  test("time-window predicates push through the ns->ts conversion to the raw scan column") {
    val df = SparkEntry.queries("input_window")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(ts,") && plan.contains("LessThan(ts,"),
      s"window bounds must land in PushedFilters on the raw int64 column:\n$plan")
  }

  test("token-membership filters derive a pushable StringContains prefilter") {
    val df = SparkEntry.queries("input_tags")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("StringContains(text,window)"),
      s"derived prefilter must reach PushedFilters:\n$plan")
    // and the rule must be idempotent across optimizer reruns
    val once = spark.sessionState.optimizer.execute(df.queryExecution.analyzed)
    val twice = spark.sessionState.optimizer.execute(once)
    assert(once.toString == twice.toString)
  }

  test("approx distinct counts stay within 2x the configured rsd of the exact path") {
    def byFlag(key: String, field: String) =
      SparkEntry.queries(key)(spark, dir).collect()
        .map(r => r.getAs[String]("l_returnflag") -> r.getAs[Long](field)).toMap
    for (field <- Seq("n_parts", "n_supps", "n_orders")) {
      val exact = byFlag("distinct_count", field)
      val approx = byFlag("distinct_approx", field)
      exact.foreach { case (k, v) =>
        // rsd = 0.025 ⇒ 2σ bound 5% (HLL error is gaussian-ish in rsd)
        assert(math.abs(approx(k) - v).toDouble / v < 0.05,
          s"$field/$k: approx ${approx(k)} vs exact $v")
      }
    }
  }

  test("gap_fill densifies the full span with zero-filled cells") {
    val rows = SparkEntry.queries("gap_fill")(spark, dir).collect()
    val types = rows.map(_.getAs[String]("event_type")).distinct
    val days = rows.map(_.getAs[String]("day")).distinct
    assert(rows.length == types.length * days.length, "grid must be complete")
    assert(rows.exists(_.getAs[Long]("n") == 0L), "sparse slice must have zero-filled cells")
    rows.filter(_.getAs[Long]("n") == 0L).foreach { r =>
      assert(r.getAs[Double]("total_value") == 0.0)
    }
  }

  test("retention cohorts: week 0 holds every cohort member, later weeks never exceed it") {
    val rows = SparkEntry.queries("retention_cohorts")(spark, dir).collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.getAs[String]("cohort_week"))
    byCohort.foreach { case (cw, rs) =>
      val w0 = rs.find(_.getAs[Long]("week_n") == 0L)
      assert(w0.isDefined, s"cohort $cw missing week 0 (first activity IS week 0)")
      val base = w0.get.getAs[Long]("n_users")
      rs.foreach(r => assert(r.getAs[Long]("n_users") <= base,
        s"cohort $cw week ${r.getAs[Long]("week_n")} exceeds its week-0 population"))
    }
  }

  test("approx percentiles stay within 2% of the exact oracle path") {
    val exact = SparkEntry.queries("percentiles")(spark, dir).collect()
      .map(r => r.getAs[String]("l_returnflag") -> r.getAs[Double]("p50")).toMap
    val approx = SparkEntry.queries("percentiles_approx")(spark, dir).collect()
      .map(r => r.getAs[String]("l_returnflag") -> r.getAs[Double]("p50")).toMap
    exact.foreach { case (k, v) =>
      assert(math.abs(approx(k) - v) / v < 0.02, s"$k: approx ${approx(k)} vs exact $v")
    }
  }

  test("SimHash Aggregator equals the relational 64-sum form") {
    import org.apache.spark.sql.functions._
    import graft.queries.TextOps
    val wordHashes = TextOps.wordHashRows(Tables.documents(spark, dir))
    val viaAggregator = wordHashes
      .groupBy("doc_id")
      .agg(udaf(graft.functions.SimHashAggregator).apply(col("h")).as("simhash"))
    val viaSums = TextOps.simhashFingerprints(wordHashes)
    assert(viaAggregator.except(viaSums).count() == 0 && viaSums.except(viaAggregator).count() == 0)
  }

  test("native dot product matches the interpreted HOF form bit-for-bit") {
    import org.apache.spark.sql.functions._
    GraftSession.tune(spark)
    val df = Tables.embeddings(spark, dir).limit(50).select(
      col("vec_id"),
      graft.functions.Registry.dot(
        col("embedding").cast("array<double>"), col("embedding").cast("array<double>")).as("native"),
      aggregate(
        zip_with(col("embedding").cast("array<double>"), col("embedding").cast("array<double>"),
          (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("hof"))
    assert(df.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("hamming expression (native codegen) computes popcount of xor") {
    import org.apache.spark.sql.functions._
    GraftSession.tune(spark)
    val df = spark.range(1).select(
      graft.functions.Registry.hamming(lit(0xFFL), lit(0x0FL)).as("h"))
    assert(df.head().getLong(0) == 4L)
  }

  test("bloom-pruned join equals the plain join exactly") {
    import org.apache.spark.sql.functions._
    val pruned = SparkEntry.queries("runtime_filtered_join")(spark, dir)
    val plain = Tables.lineitem(spark, dir)
      .join(Tables.supplier(spark, dir).filter(col("s_nationkey") < 5),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("n_lines"))
      .select(col("s_suppkey"), col("s_name"), col("n_lines"))
    val prunedKeys = pruned.select("s_suppkey", "s_name", "n_lines")
    assert(prunedKeys.except(plain).isEmpty && plain.except(prunedKeys).isEmpty,
      "bloom false positives must never change the joined result")
  }

  test("scd2 intervals chain per user with exactly one current row") {
    import org.apache.spark.sql.functions._
    val iv = SparkEntry.queries("scd2_history")(spark, dir)
    // one open (current) interval per user, and it is the LAST one
    val perUser = iv.groupBy("user_id").agg(
      count(lit(1)).as("n"),
      sum(when(col("is_current"), 1L).otherwise(0L)).as("n_open"),
      max(col("valid_from_ms")).as("max_from"),
      max(when(col("is_current"), col("valid_from_ms"))).as("open_from"))
    assert(perUser.filter(col("n_open") =!= 1).count() == 0, "every user has exactly one open interval")
    assert(perUser.filter(col("max_from") =!= col("open_from")).count() == 0,
      "the open interval must be the latest one")
    // closed intervals chain: valid_to equals the next interval's valid_from
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("valid_from_ms"))
    val chained = iv.withColumn("next_from", lead(col("valid_from_ms"), 1).over(w))
    assert(chained.filter(col("valid_to_ms") =!= col("next_from")).count() == 0,
      "intervals must tile the timeline with no gaps or overlaps")
    // consecutive intervals always change the tier (compression worked)
    assert(chained.withColumn("next_tier", lead(col("tier"), 1).over(w))
      .filter(col("next_tier").isNotNull && col("next_tier") === col("tier")).count() == 0,
      "adjacent intervals with the same tier should have been merged")
  }

  test("weighted sample is biased toward larger docs and is deterministic") {
    import org.apache.spark.sql.functions._
    val sample = SparkEntry.queries("corpus_weighted_sample")(spark, dir)
    val sampleMean = sample.agg(avg(col("n_chars"))).head().getDouble(0)
    val corpusMean = Tables.documents(spark, dir).agg(avg(col("n_chars"))).head().getDouble(0)
    assert(sampleMean > corpusMean,
      f"size-weighted sample should skew large: sample $sampleMean%.1f vs corpus $corpusMean%.1f")
    val again = SparkEntry.queries("corpus_weighted_sample")(spark, dir)
    assert(sample.collect().toSeq == again.collect().toSeq, "sample must be reproducible")
  }

  test("pq knn is complete per query, self-free, and beats random recall") {
    val pq = SparkEntry.queries("embed_pq_knn")(spark, dir).collect()
    assert(pq.length == 50, s"expected 5 queries x 10 neighbors, got ${pq.length}")
    val perQuery = pq.groupBy(_.getAs[Long]("query_id")).view.mapValues(_.length).toMap
    assert(perQuery.values.forall(_ == 10) && perQuery.size == 5)
    assert(!pq.exists(r => r.getAs[Long]("query_id") == r.getAs[Long]("vec_id")), "self match leaked")
    // a 16-centroid sampled codebook is lossy, but must still carry
    // signal: random top-10s overlap the exact top-10s ~1 pair in 50
    val exact = SparkEntry.queries("embed_knn")(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val overlap = pq.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
      .count(exact.contains)
    assert(overlap >= 5, s"PQ recall collapsed to chance: $overlap/50 overlap with exact kNN")
  }

  test("trained PQ codebook: complete, self-free, recall >= sampled PQ") {
    import org.apache.spark.sql.functions._
    val exact = SparkEntry.queries("embed_knn")(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    def recall(key: String): Int = SparkEntry.queries(key)(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
      .count(exact.contains)
    val trained = SparkEntry.queries("embed_pq_knn_trained")(spark, dir).collect()
    assert(trained.length == 50, s"expected 5 queries x 10 neighbors, got ${trained.length}")
    assert(!trained.exists(r => r.getAs[Long]("query_id") == r.getAs[Long]("vec_id")))
    // Lloyd's minimizes exactly the quantization error the asymmetric
    // score pays; three rounds over the sampled seed must not lose recall
    val (rt, rs) = (recall("embed_pq_knn_trained"), recall("embed_pq_knn"))
    assert(rt >= rs, s"trained PQ recall $rt/50 below sampled $rs/50")
    // the guarantee Lloyd's actually makes: mean quantization error
    // strictly below the sampled codebook's
    import graft.queries.Round6Ops
    val e = Round6Ops.pqEmb(spark, dir)
    val subs = Round6Ops.pqSubs(e)
    def mse(cb: org.apache.spark.sql.DataFrame): Double = subs
      .join(broadcast(cb), Seq("s"))
      .withColumn("d2",
        graft.functions.Registry.dot(col("v"), col("v"))
          - lit(2.0) * graft.functions.Registry.dot(col("v"), col("c"))
          + graft.functions.Registry.dot(col("c"), col("c")))
      .groupBy(col("vec_id"), col("s")).agg(min(col("d2")).as("d2"))
      .agg(avg(col("d2"))).head().getDouble(0)
    val seed = Round6Ops.pqSampledCodebook(e)
    val (mt, ms) = (mse(Round6Ops.pqTrainCodebook(subs, seed, 3)), mse(seed))
    assert(mt < ms, f"trained codebook MSE $mt%.6f not below sampled $ms%.6f")
  }

  test("incremental scorecard: delta merge equals the full recompute") {
    val inc = SparkEntry.queries("scorecard_incremental")(spark, dir)
    val full = SparkEntry.queries("supplier_scorecard")(spark, dir)
    assert(inc.collect().toSeq == full.collect().toSeq,
      "merge(history, delta) must reproduce the recomputed report exactly")
    // second run folds the same delta over the CACHED history partials
    val again = SparkEntry.queries("scorecard_incremental")(spark, dir)
    assert(again.collect().toSeq == full.collect().toSeq, "refresh must be idempotent")
    // chained day-by-day folds == the single-shot aggregate (the
    // associativity that lets a nightly job fold one day at a time)
    import graft.queries.{DssOps, Round8Ops}
    import org.apache.spark.sql.functions.col
    val li = DssOps.scorecardLi(spark, dir)
    def part(pred: org.apache.spark.sql.Column) = DssOps.scorecardPartials(li.filter(pred))
    val a = org.apache.spark.sql.functions.lit("2000-01-01").cast("timestamp")
    val b = org.apache.spark.sql.functions.lit("2001-01-01").cast("timestamp")
    val chained = Round8Ops.mergeScorecardPartials(
      Round8Ops.mergeScorecardPartials(part(col("o_orderdate") < a),
        part(col("o_orderdate") >= a && col("o_orderdate") < b)),
      part(col("o_orderdate") >= b))
    val oneShot = DssOps.scorecardPartials(li)
    assert(chained.exceptAll(oneShot).isEmpty && oneShot.exceptAll(chained).isEmpty,
      "chained folds must equal the single-shot partials exactly")
  }

  test("scorecard ratios round the way the DuckDB oracle rounds them") {
    // DuckDB rounds a DOUBLE as round(x·1e6)/1e6 on the binary value.
    // Supplier 1's four ratios and 333/640 sit within an ulp of a half
    // at the 7th digit, where Spark's own round (shortest decimal
    // string, HALF_UP) lands on the other side. Expected values are
    // DuckDB's output for the oracle's expressions on these partials.
    import graft.queries.DssOps
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val per = Seq(
      (1L, 640L, 41L, 323L, BigDecimal(323), BigDecimal("1.40")),
      (2L, 640L, 333L, 0L, BigDecimal(317), BigDecimal(0)))
      .toDF("l_suppkey", "n_lines", "n_returned", "n_slow", "rev_d", "disc_d")
      .withColumn("rev_d", col("rev_d").cast(OracleMath.Dec))
      .withColumn("disc_d", col("disc_d").cast(OracleMath.Dec))
    val got = DssOps.scorecardTail(spark, dir, per)
      .select("s_suppkey", "return_rate", "slow_rate", "avg_discount", "rev_share")
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getDouble)).toMap
    assert(got(1L) == Seq(0.064062, 0.504687, 0.002188, 0.504687))
    assert(got(2L) == Seq(0.520312, 0.0, 0.0, 0.495313))
  }

  test("event path trigram counts conserve the per-user event totals") {
    import org.apache.spark.sql.functions._
    val paths = SparkEntry.queries("event_paths")(spark, dir).collect()
    assert(paths.nonEmpty && paths.length <= 20)
    val ns = paths.map(_.getAs[Long]("n")).toSeq
    assert(ns == ns.sortBy(-_), "paths must rank by count desc")
    // every user with k events contributes exactly max(0, k-2) trigrams;
    // the UNLIMITED path histogram must sum to that total
    val expected = Tables.events(spark, dir).groupBy("user_id").count()
      .agg(sum(greatest(col("count") - 2, lit(0L)))).head().getLong(0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val total = Tables.events(spark, dir)
      .withColumn("t1", lag(col("event_type"), 2).over(w))
      .filter(col("t1").isNotNull).count()
    assert(total == expected, s"trigram total $total != expected $expected")
  }

  test("rolling range window accumulates within seven days only") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("rolling_window_range")(spark, dir)
    assert(df.filter(col("w7_n") < 1).count() == 0, "current row always in its own frame")
    assert(df.filter(col("w7_n") > 1).count() > 0, "window never accumulated — frame suspect")
    // a frame can never hold more than the user's total purchases
    val over = df.join(
      df.groupBy("user_id").agg(count(lit(1)).as("tot")), Seq("user_id"))
      .filter(col("w7_n") > col("tot")).count()
    assert(over == 0)
  }

  test("rfm covers every customer once with a near-median split") {
    import org.apache.spark.sql.functions._
    val rfm = SparkEntry.queries("orders_rfm")(spark, dir)
    val nCust = Tables.orders(spark, dir).select("o_custkey").distinct().count()
    assert(rfm.count() == nCust, "one segment row per ordering customer")
    val valid = for (r <- Seq("R", "r"); f <- Seq("F", "f"); m <- Seq("M", "m")) yield r + f + m
    assert(rfm.filter(!col("segment").isin(valid: _*)).count() == 0)
    // median splits put roughly half the customers in each half
    val rHigh = rfm.filter(col("segment").startsWith("R")).count().toDouble / nCust
    assert(rHigh > 0.25 && rHigh < 0.75, s"recency split badly skewed: $rHigh")
  }

  test("degree histogram buckets tile powers of two and conserve users") {
    import org.apache.spark.sql.functions._
    val h = SparkEntry.queries("graph_degree_distribution")(spark, dir).collect()
    assert(h.nonEmpty)
    for (r <- h) {
      val b = r.getAs[Int]("bucket")
      val lo = 1L << (b - 1)
      val hi = (1L << b) - 1
      assert(r.getAs[Long]("min_deg") >= lo && r.getAs[Long]("max_deg") <= hi,
        s"bucket $b holds degrees outside [$lo, $hi]")
    }
    val users = h.map(_.getAs[Long]("n_users")).sum
    assert(users > 0 && users <= 150, s"$users bucketed users exceed the 150-node graph")
  }

  test("q22 finds lapsed well-funded customers in the filtered nations only") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q22_missed_opportunity")(spark, dir).collect()
    assert(rows.nonEmpty, "the lapse cutoff must leave some missed opportunities")
    assert(rows.forall(_.getAs[Int]("c_nationkey") < 10))
    assert(rows.forall(_.getAs[Long]("n_cust") >= 1))
  }

  test("zipf fit covers the whole vocabulary and slopes downward") {
    import org.apache.spark.sql.functions._
    val row = SparkEntry.queries("vocab_zipf_slope")(spark, dir).collect().head
    val vocab = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").select("w").distinct().count()
    assert(row.getAs[Long]("n_words") == math.min(1000L, vocab))
    // frequency falls with rank in any real corpus; the synthetic
    // 31-word vocab gives a shallow slope (a finding in itself: flat
    // log-log slope = templated text), but the sign is invariant
    assert(row.getAs[Double]("zipf_slope") < 0.0, s"non-negative slope: $row")
  }

  test("q16 never counts a blacklisted supplier") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q16_parts_suppliers")(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val nClean = Tables.supplier(spark, dir).filter(col("s_acctbal") >= 0.0).count()
    assert(rows.forall(_.getAs[Long]("supplier_cnt") <= nClean),
      "a profile counts more suppliers than exist outside the blacklist")
  }

  test("mix drift is nonnegative and covers every day after the first") {
    import org.apache.spark.sql.functions._
    val drift = SparkEntry.queries("event_mix_drift")(spark, dir).collect()
    val days = Tables.events(spark, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd")).distinct().count()
    assert(drift.length == days - 1, "one KL row per consecutive-day pair")
    // Gibbs: KL(p||q) >= 0, with equality only at p == q
    assert(drift.forall(_.getAs[Double]("kl_prev") >= 0.0), "negative KL divergence")
  }

  test("q21 sole-late-supplier orders are genuine multi-supplier orders") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q21_waiting_suppliers")(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val waits = rows.map(_.getAs[Long]("numwait")).toSeq
    assert(waits == waits.sortBy(-_), "numwait must be sorted descending")
    assert(rows.map(_.getAs[String]("s_name")).distinct.length == rows.length)
  }

  test("markov rows sum to 1 per cur_type and attribution users conserve") {
    val m = SparkEntry.queries("markov_transitions")(spark, dir).collect()
    assert(m.nonEmpty)
    val byCur = m.groupBy(_.getAs[String]("cur_type"))
    byCur.foreach { case (cur, rows) =>
      val psum = rows.map(_.getAs[Double]("p")).sum
      assert(math.abs(psum - 1.0) < 1e-4, s"P(·|$cur) sums to $psum, not 1")
    }

    val att = SparkEntry.queries("purchase_attribution")(spark, dir).collect()
    val attributed = att.map(_.getAs[Long]("n_users")).sum
    import org.apache.spark.sql.functions.col
    val converters = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase").select("user_id").distinct().count()
    // every attributed user converted; users whose first event IS the
    // purchase have no pre-purchase touch and drop out
    assert(attributed > 0 && attributed <= converters,
      s"$attributed attributed vs $converters converters")
  }

  test("mad anomalies cover the hourly matrix and centroid sims are sane") {
    val mad = SparkEntry.queries("mad_anomalies")(spark, dir).collect()
    val plain = SparkEntry.queries("event_anomalies")(spark, dir).count()
    assert(mad.length.toLong == plain, "robust and plain detectors must score the same matrix")
    assert(mad.forall { r =>
      val f = r.getAs[Int]("flagged")
      (f == 1) == (math.abs(r.getAs[Double]("robust_z")) >= 3.5)
    }, "flag must equal the 3.5 modified-z cut")

    val sims = SparkEntry.queries("label_centroid_sim")(spark, dir).collect()
    val nLabels = Tables.embeddings(spark, dir).select("label").distinct().count()
    assert(sims.length.toLong == nLabels, "one row per label")
    assert(sims.forall { r =>
      val c = r.getAs[Double]("cos_global"); c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9
    }, "cosine outside [-1,1]")
  }

  test("neighbor jaccard stays in (0,1] and pairs are canonical") {
    val j = SparkEntry.queries("graph_neighbor_jaccard")(spark, dir).collect()
    assert(j.nonEmpty && j.length <= 50)
    assert(j.forall(r => r.getAs[Long]("a") < r.getAs[Long]("b")), "pair not canonical a<b")
    assert(j.forall { r =>
      val v = r.getAs[Double]("jaccard"); v > 0.0 && v <= 1.0
    }, "jaccard outside (0,1]")
    val js = j.map(_.getAs[Double]("jaccard")).toSeq
    assert(js == js.sortBy(-_), "top-50 must be jaccard-descending")
  }

  test("dss sweep 3: q8 share bounds, q9 profit matrix, q19 scalar, q20 dominance") {
    val q8 = SparkEntry.queries("q8_market_share")(spark, dir).collect()
    assert(q8.nonEmpty)
    assert(q8.forall { r =>
      val s = r.getAs[Double]("mkt_share"); s >= 0.0 && s <= 1.0
    }, "market share outside [0,1]")
    assert(q8.forall(r => r.getAs[Double]("nation_rev") <= r.getAs[Double]("total_rev")))

    val q9 = SparkEntry.queries("q9_profit_by_nation")(spark, dir)
    val nNations = Tables.nation(spark, dir).count()
    assert(q9.select("n_name").distinct().count() <= nNations)

    val q19 = SparkEntry.queries("q19_disjunctive_join")(spark, dir).collect()
    assert(q19.length == 1 && !q19.head.isNullAt(0), "disjunction matched no rows")

    // dominance is exclusive: at most one supplier can own >1/2 of a part,
    // so the dominated-part count can never exceed the part universe
    val q20 = SparkEntry.queries("q20_dominant_suppliers")(spark, dir).collect()
    val totalDominated = q20.map(_.getAs[Long]("n_parts")).sum
    val nParts = Tables.lineitem(spark, dir).select("l_partkey").distinct().count()
    assert(q20.nonEmpty && totalDominated <= nParts,
      s"$totalDominated dominated parts exceed the $nParts-part universe")
  }

  test("dss sweep 2: q2 per-part minima, q11 subset, q15 max ties, q17 single row") {
    val q2 = SparkEntry.queries("q2_min_cost_supplier")(spark, dir).collect()
    assert(q2.nonEmpty && q2.length <= 50)
    // every part appears with its minimum only: no part may carry two costs
    val byPart = q2.groupBy(_.getAs[Long]("p_partkey"))
    assert(byPart.values.forall(_.map(_.getAs[Double]("unit_cost")).distinct.length == 1),
      "a part surfaced more than one distinct min cost")

    val q11 = SparkEntry.queries("q11_important_parts")(spark, dir)
    val n11 = q11.count()
    val nParts = Tables.lineitem(spark, dir).select("l_partkey").distinct().count()
    assert(n11 > 0 && n11 < nParts, s"threshold must keep a strict subset ($n11 of $nParts)")

    val q15 = SparkEntry.queries("q15_top_supplier")(spark, dir).collect()
    assert(q15.nonEmpty)
    assert(q15.map(_.getAs[Double]("total_rev")).distinct.length == 1,
      "q15 rows must all carry the shared maximum revenue")

    val q17 = SparkEntry.queries("q17_small_quantity")(spark, dir).collect()
    assert(q17.length == 1 && q17.head.getAs[Double]("avg_yearly") > 0.0)
  }

  test("dss sweep: q6 single row, q7 pair-symmetric, q10 top-20, q14 share in band") {
    val q6 = SparkEntry.queries("q6_revenue_delta")(spark, dir).collect()
    assert(q6.length == 1 && q6.head.getAs[Double]("revenue") > 0.0)

    val q7 = SparkEntry.queries("q7_nation_volume")(spark, dir).collect()
    val pairs = q7.map(r => (r.getAs[String]("supp_nation"), r.getAs[String]("cust_nation"))).distinct
    assert(pairs.toSet.subsetOf(
      Set(("NATION_3", "NATION_8"), ("NATION_8", "NATION_3"))), s"rogue pair in $pairs")
    assert(q7.forall(_.getAs[Double]("revenue") > 0.0))

    val q10 = SparkEntry.queries("q10_returned_items")(spark, dir).collect()
    assert(q10.length <= 20 && q10.nonEmpty)
    val revs = q10.map(_.getAs[Double]("revenue")).toSeq
    assert(revs == revs.sortBy(-_), "q10 must rank by revenue descending")

    val q14 = SparkEntry.queries("q14_promo_share")(spark, dir).collect().head
    val share = q14.getAs[Double]("promo_share")
    assert(share >= 0.0 && share <= 100.0, s"promo share $share outside [0,100]")
    assert(q14.getAs[Double]("promo_rev") <= q14.getAs[Double]("total_rev"))
  }

  test("mean6 integer division matches BigDecimal HALF_UP on random and half-case inputs") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // random 6-dp sums (positive and negative) over awkward counts,
    // plus adversarial EXACT half cases (s/n ending in ...5 at 7 dp —
    // the class that made label_centroid_sim diverge at sf0.001)
    val random = (1 to 300).map { _ =>
      (BigDecimal(rnd.nextLong() % 40000000L, 6), 1L + rnd.nextInt(5000))
    }
    val halves = Seq(
      (BigDecimal("0.000005"), 10L), (BigDecimal("-0.000005"), 10L),
      (BigDecimal("1.234565"), 10L), (BigDecimal("12.345005"), 1000L),
      (BigDecimal("-12.345005"), 1000L), (BigDecimal("0.500000"), 1000000L))
    val cases = random.map { case (s, n) => (s, n.toLong) } ++ halves
    val df = cases.map { case (s, n) => (s.bigDecimal, n) }.toDF("s", "n")
      .select(col("s").cast("decimal(38,6)").as("s"), col("n"))
    val got = df
      .select(graft.queries.Round6Ops.mean6(col("s"), col("n")).as("m"))
      .collect().map(_.getDouble(0))
    val want = cases.map { case (s, n) =>
      (s / BigDecimal(n)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    for (((g, w), i) <- got.zip(want).zipWithIndex)
      assert(g == w, s"case $i ${cases(i)}: device $g vs reference $w")
  }

  test("correlation-family outputs stay in [-1,1] and the LTV curve respects cohort bounds") {
    val r24 = SparkEntry.queries("events_autocorr")(spark, dir).collect()
    assert(r24.nonEmpty && r24.forall(r => math.abs(r.getAs[Double]("r24")) <= 1.0))
    val asrt = SparkEntry.queries("graph_assortativity")(spark, dir).collect()
    assert(asrt.length == 1 && math.abs(asrt.head.getAs[Double]("assortativity")) <= 1.0)
    val ltv = SparkEntry.queries("user_cohort_ltv")(spark, dir).collect()
    val byCohort = ltv.groupBy(_.getAs[Long]("cohort_w"))
    for ((_, rows) <- byCohort) {
      val sorted = rows.sortBy(_.getAs[Long]("age"))
      val size0 = sorted.head.getAs[Long]("n_users")
      assert(sorted.head.getAs[Long]("age") == 0L, "every cohort starts at age 0")
      assert(sorted.forall(_.getAs[Long]("n_users") <= size0),
        "no age can have more active users than the cohort's own size")
    }
  }

  test("kcore peel keeps exactly the planted clique and reaches the fixpoint invariant") {
    import spark.implicits._
    // K6 clique (every member has 5 in-clique neighbors) + a pendant
    // path 100-101-102 hanging off node 0: the 3-core is the clique
    // alone, and the path must peel away across rounds (101 starts at
    // degree 2, gains nothing from 100's removal).
    val clique = for { a <- 0 to 5; b <- 0 to 5 if a < b } yield (a.toLong, b.toLong)
    val path = Seq((0L, 100L), (100L, 101L), (101L, 102L))
    val und = (clique ++ path).toDF("a", "b")
    val core = graft.queries.GraphOps.kcoreOver(und, k = 3, rounds = 8).collect()
    assert(core.map(_.getAs[Long]("id")).toSeq == (0L to 5L), s"core was ${core.toSeq}")
    assert(core.forall(_.getAs[Long]("core_deg") == 5L), "clique members keep all 5 edges")
  }

  test("frontier BFS stops at maxHops and gives an unreachable node no row") {
    import spark.implicits._
    // path 0→1→2→3→4→5 with a back edge 3→1 (already settled when
    // reached again), and 9→8 that no seed reaches: from seed 0, node 5
    // sits 5 hops out, one past maxHops = 4
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (3L, 1L), (9L, 8L))
      .toDF("src", "dst")
    def walk(seeds: org.apache.spark.sql.DataFrame): Seq[Seq[Long]] =
      graft.queries.GraphOps.frontierBfs(e, seeds, maxHops = 4).collect()
        .map(r => (0 until r.length).map(r.getLong)).toSeq.sortBy(_.mkString(","))
    assert(walk(Seq(0L).toDF("id")) ==
      Seq(Seq(0L, 0L), Seq(1L, 1L), Seq(2L, 2L), Seq(3L, 3L), Seq(4L, 4L)))
    // a carried seed column walks each seed on its own: seed 4 reaches 5
    // at one hop, while seed 0 still stops at 4
    val bySeed = walk(Seq((0L, 0L), (4L, 4L)).toDF("seed", "id"))
    assert(bySeed.filter(_.head == 4L) == Seq(Seq(4L, 4L, 0L), Seq(4L, 5L, 1L)), s"$bySeed")
    assert(bySeed.filter(_.head == 0L).map(_(1)) == Seq(0L, 1L, 2L, 3L, 4L), s"$bySeed")
  }

  test("personalized PageRank with every node a seed equals PageRank") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 0L), (4L, 2L), (0L, 4L))
      .toDF("src", "dst")
    def ranks(r: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      r.select("id", "rank").as[(Long, Double)].collect().toSeq.sortBy(_._1)
    val uniform = ranks(graft.queries.GraphOps.uniformRanks(e))
    assert(uniform.map(_._1) == (0L to 4L) && uniform.map(_._2).distinct.length > 1, s"$uniform")
    assert(ranks(graft.queries.GraphOps.seededRanks(e, lit(true))) == uniform)
  }

  test("graph_kcore at sf0.01 is a nonempty strict subset with induced degrees >= k") {
    val core = SparkEntry.queries("graph_kcore")(spark, "/root/testdata/sf0.01").collect()
    assert(core.nonEmpty, "20-core must be nonempty at sf0.01")
    assert(core.length < 3810, "20-core must be a strict subset of the 3810 nodes")
    assert(core.forall(_.getAs[Long]("core_deg") >= 20L), "fixpoint: every member keeps >= k")
  }

  test("ewma matches the closed form on a planted two-hour series") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 4 events at hour H, 2 at H+1 → s(H) = w0*4, s(H+1) = w0*2 + w1*4
    // with w0 = 0.3, w1 = 0.21.
    val h = 1700000L * 3600L
    val rows = (Seq.fill(4)(h * 1000L) ++ Seq.fill(2)((h + 3600L) * 1000L))
      .map(ms => ("click", new java.sql.Timestamp(ms)))
    val ev = rows.toDF("event_type", "ts")
    val out = graft.queries.BehaviorOps.ewmaHourlyOver(ev)
      .orderBy(col("hb")).collect()
    assert(out.length == 2)
    assert(math.abs(out(0).getAs[Double]("ewma") - 1.2) < 1e-9, s"s(H) was ${out(0)}")
    assert(math.abs(out(1).getAs[Double]("ewma") - (0.3 * 2 + 0.21 * 4)) < 1e-9,
      s"s(H+1) was ${out(1)}")
  }

  test("boilerplate ngrams surfaces a phrase planted across three docs and not a unique one") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("boilerplate_ngrams")(spark, dir)
    assert(df.filter(col("df") < 3).count() == 0, "df floor must hold")
    val docs = Tables.documents(spark, dir)
    val planted = docs.limit(3)
      .select(col("doc_id"), concat(lit("shared header phrase five words "), col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") > 10).select(col("doc_id"), col("text")))
    val report = graft.queries.Round6Ops.boilerplateNgramsOver(planted, minDf = 3, topK = 100000)
    val hit = report.filter(col("g") === "shared header phrase five words").collect()
    assert(hit.length == 1 && hit.head.getAs[Long]("df") == 3L,
      "planted cross-doc 5-gram must surface with df = 3")
  }

  test("q12_shipmode returns exactly the two filtered modes") {
    val rows = SparkEntry.queries("q12_shipmode")(spark, dir).collect()
    assert(rows.map(_.getAs[String]("shipmode")).toSeq == Seq("MAIL", "SHIP"))
    rows.foreach { r =>
      assert(r.getAs[Long]("high_line_count") > 0 && r.getAs[Long]("low_line_count") > 0)
    }
  }

  test("corpus_diff statuses partition the union of both versions") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("corpus_diff")(spark, dir)
    val statuses = df.select("status").distinct().collect().map(_.getString(0)).toSet
    assert(statuses.subsetOf(Set("added", "removed", "changed", "same")))
    assert(statuses.contains("changed") && statuses.contains("same"))
    val total = df.agg(sum("n_docs")).head().getLong(0)
    val docs = Tables.documents(spark, dir)
    val union = docs
      .filter(col("doc_id") % 11 =!= 3 || col("doc_id") % 13 =!= 5)
      .count()
    assert(total == union, s"diff rows $total must cover the version union $union")
  }

  test("passage_dedup keeps each passage exactly once corpus-wide") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("passage_dedup")(spark, dir)
    assert(df.filter(col("n_kept") > col("n_passages")).count() == 0)
    // global invariant: total kept passages == distinct passages in
    // the corpus (first-occurrence-wins keeps each exactly once)
    val kept = df.agg(sum("n_kept")).head().getLong(0)
    val distinctPassages = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(explode(expr(
        "transform(sequence(0, greatest(cast(ceil(size(ws)/16.0) as int)-1, 0))," +
          " i -> concat_ws(' ', slice(ws, i*16+1, 16)))")).as("p"))
      .filter(col("p") =!= "")
      .select("p").distinct().count()
    assert(kept == distinctPassages,
      s"kept $kept must equal distinct corpus passages $distinctPassages")
  }

  test("seq_pack fills every non-final sequence to exactly 512 tokens") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("seq_pack")(spark, dir).cache()
    try {
      // at most one doc can span a sequence's left boundary
      assert(df.filter(col("n_carried") > 1).count() == 0)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("source", "shard")
      val nonFinal = df
        .withColumn("last_seq", max("seq_id").over(w))
        .filter(col("seq_id") < col("last_seq"))
      assert(nonFinal.filter(col("n_tokens") =!= 512).count() == 0,
        "every non-final sequence must be exactly full")
      // packing conserves tokens: sum over sequences == corpus token count
      val packed = df.agg(sum("n_tokens")).head().getLong(0)
      val corpus = Tables.documents(spark, dir)
        .select(size(filter(split(col("text"), " "), t => t =!= "")).cast("long").as("n"))
        .agg(sum("n")).head().getLong(0)
      assert(packed == corpus, s"packed $packed tokens vs corpus $corpus")
    } finally { df.unpersist(); () }
  }

  test("indexed BM25 equals the corpus-scan form and prunes unqueried buckets") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val fresh = new java.io.File(
      new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft-index-cache"),
      graft.sources.Sources.inputFingerprint(dir, "documents", "bm25-inverted-v1"))
    if (fresh.exists()) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(fresh.toPath).iterator.asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    val indexed = SparkEntry.queries("bm25_indexed")(spark, dir)
    val scan = SparkEntry.queries("bm25_search")(spark, dir).collect().toSeq
    assert(indexed.collect().toSeq == scan,
      "index path must reproduce the corpus-scan BM25 byte-for-byte")
    // the postings scan must carry a STATIC partition filter on the
    // probed buckets — storage-level skip of every unqueried bucket
    val planStr = indexed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(planStr).isDefined,
      s"postings scan must be partition-pruned on bucket:\n$planStr")
    val probed = graft.sources.InvertedIndex.bucketOf(col("token"))
    val nProbed = Seq("vector", "hash", "stream").toDF("token")
      .select(probed).distinct().count().toInt
    val scanned = indexed.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("postings")) =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters).length
    }
    assert(scanned.exists(n => n <= nProbed && n < graft.sources.InvertedIndex.Buckets),
      s"scan must touch only probed buckets ($nProbed), saw $scanned")
  }

  test("graph_distances: seeds at zero, hops bounded, neighbors of seeds at one") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("graph_distances")(spark, dir).cache()
    try {
      assert(df.filter(col("dist") > 4).count() == 0)
      val seedDists = df.filter(col("id") < 3).select("dist").collect().map(_.getLong(0))
      assert(seedDists.nonEmpty && seedDists.forall(_ == 0L), "seed nodes must sit at distance 0")
      // triangle inequality across one edge: no neighbor of a settled
      // node may be more than settled+1 away
      val e = Tables.orders(spark, dir)
        .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
        .select(
          (col("o_custkey") % 150).as("src"),
          ((col("l_suppkey") * 17 + col("l_partkey")) % 150).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      val viol = df.select(col("id").as("src"), col("dist").as("ds"))
        .join(e, Seq("src"))
        .join(df.select(col("id").as("dst"), col("dist").as("dd")), Seq("dst"))
        .filter(col("dd") > col("ds") + 1)
        .count()
      assert(viol == 0, s"$viol edges violate the BFS triangle inequality")
    } finally { df.unpersist(); () }
  }

  test("stratified sample draws at most 20 distinct docs per source") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("corpus_sample_stratified")(spark, dir).cache()
    try {
      assert(df.groupBy("source").count().filter(col("count") > 20).count() == 0)
      assert(df.select("doc_id").distinct().count() == df.count(), "a doc may be drawn once")
      // es_key must be non-increasing down each source's ranks
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("rk")
      val inversions = df
        .withColumn("prev", lag("es_key", 1).over(w))
        .filter(col("prev").isNotNull && col("prev") < col("es_key"))
        .count()
      assert(inversions == 0, "ranks must follow the sampling key")
    } finally { df.unpersist(); () }
  }

  test("interval_join counts each overlapping pair once and keeps an equi join") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("interval_join")(spark, dir)
    // the bucket-exploded form must equal the direct non-equi join
    val iv = Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"), col("o_custkey").as("cust"),
      expr("unix_micros(o_orderdate) div 86400000000").as("st"),
      (expr("unix_micros(o_orderdate) div 86400000000") + col("o_orderkey") % 14 + 1).as("en"))
    val a = iv.select(col("cust"), col("k").as("ka"), col("st").as("sa"), col("en").as("ea"))
    val b = iv.select(col("cust"), col("k").as("kb"), col("st").as("sb"), col("en").as("eb"))
    val direct = a.join(b, Seq("cust"))
      .filter(col("ka") < col("kb") && col("sa") < col("eb") && col("sb") < col("ea"))
      .select(col("cust"), (least(col("ea"), col("eb")) - greatest(col("sa"), col("sb"))).as("ov"))
      .groupBy(col("cust"))
      .agg(count(lit(1)).as("n_pairs"), sum("ov").as("overlap_days"), max("ov").as("max_overlap"))
      .orderBy(col("cust"))
    assert(df.collect().toSeq == direct.collect().toSeq,
      "bucketed count-once join must equal the direct overlap join")
    // and it must PLAN as an equi join — no nested loop, no cartesian
    val planStr = df.queryExecution.executedPlan.toString
    assert(!planStr.contains("NestedLoop") && !planStr.contains("Cartesian"),
      s"interval join must keep an equi component:\n$planStr")
  }

  test("video decode walks the box structure and rejects corrupt magics") {
    import org.apache.spark.sql.functions._
    val ok = SparkEntry.queries("multimodal_video")(spark, dir)
    assert(ok.filter(col("brand") =!= "isom").count() == 0)
    assert(ok.filter(col("duration_s") =!= (col("duration") / col("timescale")).cast("long"))
      .count() == 0)
    // corrupt the ftyp magic: the decoder must DROP the row, not
    // misparse it (skip-on-error, the firehose rule)
    val corrupt = graft.queries.Round9Ops
      .synthVideoPayloads(Tables.documents(spark, dir).limit(5))
      .select(col("doc_id"),
        concat(lit(Array[Byte](0, 0, 0, 20, 0x58, 0x58, 0x58, 0x58)),
          expr("substring(payload, 9)")).as("payload"))
    assert(graft.queries.Round9Ops.decodeVideoMeta(corrupt).count() == 0)
  }

  test("LOCF fill carries the last observed value and leaves leading days null") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("gap_fill_locf")(spark, dir).cache()
    try {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("day")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val annotated = df.withColumn("seen_before", max(col("observed").cast("int")).over(w))
      // null value ⟺ no observation on or before that day
      assert(annotated.filter(
        col("value").isNull && (col("observed") || col("seen_before") === 1)).count() == 0)
      assert(annotated.filter(
        col("value").isNotNull && !col("observed") && coalesce(col("seen_before"), lit(0)) === 0)
        .count() == 0)
      // carried rows repeat the previous row's value
      val carried = df.withColumn("prev", lag("value", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("day")))
        .filter(!col("observed") && col("value").isNotNull)
      assert(carried.filter(col("value") =!= col("prev")).count() == 0,
        "an unobserved day must hold the prior day's value")
    } finally { df.unpersist(); () }
  }

  test("set similarity join emits each qualifying pair once, above threshold") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("set_similarity_join")(spark, dir).cache()
    try {
      assert(df.filter(col("a") >= col("b")).count() == 0, "pairs are ordered a < b")
      assert(df.groupBy("a", "b").count().filter(col("count") > 1).count() == 0)
      assert(df.filter(col("jaccard") < 0.7999).count() == 0, "τ = 0.8 cut must hold")
      // COMPLETENESS against brute force — the r8 sf0.1 sweep caught a
      // hot-bucket cap silently dropping 99% of qualifying pairs; the
      // prefix/length/positional filters must lose NOTHING
      val sets = Tables.documents(spark, dir)
        .select(col("doc_id"), array_distinct(filter(split(col("text"), " "), t => t =!= "")).as("ts"))
        .filter(size(col("ts")) > 0)
      val brute = sets.select(col("doc_id").as("a"), col("ts").as("ta"))
        .crossJoin(sets.select(col("doc_id").as("b"), col("ts").as("tb")))
        .filter(col("a") < col("b"))
        .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
        .withColumn("uni", size(col("ta")) + size(col("tb")) - col("inter"))
        .filter(col("inter") * 5 >= col("uni") * 4)
        .count()
      assert(df.count() == brute,
        s"prefix-filtered join must find every qualifying pair: got ${df.count()} vs brute $brute")
    } finally { df.unpersist(); () }
  }

  test("pack manifest tiles every sequence exactly and agrees with the summary") {
    import org.apache.spark.sql.functions._
    val man = SparkEntry.queries("seq_pack_manifest")(spark, dir)
    // contributions within a sequence tile it: offsets are contiguous
    // from 0 and sum to the summary's n_tokens
    val rebuilt = man.groupBy("source", "shard", "seq_id")
      .agg(
        count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        min("seq_off").as("first_off"),
        max(col("seq_off") + col("n_tok")).as("end_off"))
    assert(rebuilt.filter(col("first_off") =!= 0).count() == 0, "every sequence starts at 0")
    assert(rebuilt.filter(col("end_off") =!= col("n_tokens")).count() == 0,
      "contributions tile with no holes")
    val summary = SparkEntry.queries("seq_pack")(spark, dir)
    val joined = summary.join(rebuilt, Seq("source", "shard", "seq_id"))
    assert(joined.count() == summary.count())
    assert(joined.filter(
      summary("n_docs") =!= rebuilt("n_docs") || summary("n_tokens") =!= rebuilt("n_tokens"))
      .count() == 0, "manifest must agree with the summary aggregate")
  }

  test("growth accounting states sum to the weekly active count") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("growth_accounting")(spark, dir)
    val active = df.filter(col("state").isin("new", "retained", "resurrected"))
      .groupBy("wk").agg(sum("n_users").as("acc"))
    val wau = Tables.events(spark, dir)
      .select(col("user_id"),
        (expr("unix_micros(ts) div 86400000000") / 7L).cast("long").as("wk"))
      .distinct().groupBy("wk").agg(count(lit(1)).as("wau"))
    val bad = active.join(wau, Seq("wk")).filter(col("acc") =!= col("wau")).count()
    assert(bad == 0, "new+retained+resurrected must equal WAU per week")
  }

  test("vocab coverage ranks are monotone in the threshold") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("vocab_coverage")(spark, dir)
      .orderBy("pct").collect()
    assert(rows.length == 4)
    val sizes = rows.map(_.getAs[Int]("vocab_size"))
    assert(sizes.zip(sizes.tail).forall { case (a, b) => a <= b },
      "a higher coverage target cannot need a smaller vocabulary")
    rows.foreach(r => assert(r.getAs[Double]("covered") * 100 >= r.getAs[Int]("pct") - 1e-9))
  }

  test("quality classifier verdict is the sign of its own score") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("doc_quality_classifier")(spark, dir)
    // strict contradictions only: a tiny negative sum legitimately
    // rounds to a 0.0 score while still reading 'drop'
    val bad = df.filter(
      (col("verdict") === "keep" && col("score") < 0) ||
        (col("verdict") === "drop" && col("score") > 0)).count()
    assert(bad == 0, "verdict must agree with the score's sign")
  }

  test("sliding MAU dominates daily DAU and the HLL twin tracks it within 2%") {
    import org.apache.spark.sql.functions._
    val exact = SparkEntry.queries("sliding_mau")(spark, dir)
    val dau = Tables.events(spark, dir)
      .select(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"), col("user_id"))
      .distinct().groupBy("day").agg(count(lit(1)).as("dau"))
    // a trailing-7-day distinct count can never undercut that day's DAU
    assert(exact.join(dau, Seq("day")).filter(col("mau_7d") < col("dau")).count() == 0)
    val approx = SparkEntry.queries("mau_hll_sliding")(spark, dir)
    val j = exact.join(approx, Seq("day"))
    assert(j.count() == exact.count(), "twin must cover the same days")
    val off = j.filter(
      abs(col("mau_approx") - col("mau_7d")) / col("mau_7d") > lit(0.02)).count()
    assert(off == 0, "HLL estimate must stay within 2% of exact on every day")
  }

  test("link dedup keeps the earliest post per canonical URL") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("dedup_by_link")(spark, dir)
    val links = graft.sources.Firehose
      .parsePostRecords(graft.sources.Firehose.synthPostRecords(Tables.events(spark, dir)))
      .select(col("id"), explode(col("links")).as("url"))
      .select(col("id"), lower(regexp_replace(col("url"), "/+$", "")).as("url_canon"))
    // keeper must be a real post carrying that URL, and none earlier exists
    val bad = df.join(links, Seq("url_canon"))
      .groupBy("url_canon", "keeper_id")
      .agg(min(col("id")).as("true_min"))
      .filter(col("keeper_id") =!= col("true_min")).count()
    assert(bad == 0, "keeper must be the minimum (earliest) post id")
  }

  test("source language entropy is bounded by ln of the language count") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("source_lang_entropy")(spark, dir)
    val nl = Tables.documents(spark, dir)
      .groupBy("source").agg(countDistinct(col("lang")).as("n_langs"))
    val bad = df.join(nl, Seq("source"))
      .filter(col("entropy") < -1e-9 || col("entropy") > log(col("n_langs").cast("double")) + 1e-6)
      .count()
    assert(bad == 0, "0 <= H <= ln(|langs|) per source")
  }

  test("cdc_apply drops exactly the tombstone-final keys and keeps the last upsert") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("cdc_apply")(spark, dir)
    val lastOp = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(max_by(col("event_id"), struct(col("ts"), col("event_id"))).as("last_eid"),
        count(lit(1)).as("n"))
    val joined = lastOp.join(df, Seq("user_id"), "left")
    // delete-final keys absent, upsert-final keys present with the full op count
    assert(joined.filter(col("last_eid") % 10 === 0 && col("n_ops").isNotNull).count() == 0)
    val bad = joined.filter(col("last_eid") % 10 =!= 0 &&
      (col("n_ops").isNull || col("n_ops") =!= col("n"))).count()
    assert(bad == 0, "every upsert-final key keeps its full changelog count")
  }

  test("k_anonymity histogram conserves the customer table") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("k_anonymity")(spark, dir)
    val total = df.agg(sum("n_rows")).head().getLong(0)
    assert(total == Tables.customer(spark, dir).count())
    assert(df.filter(col("n_rows") =!= col("group_size") * col("n_groups")).count() == 0)
  }

  test("column histograms tile each column and conserve row counts") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("column_histograms")(spark, dir)
    val n = Tables.lineitem(spark, dir).count()
    val perCol = df.groupBy("column").agg(sum("n").as("tot"))
    assert(perCol.filter(col("tot") =!= n).count() == 0, "every histogram sums to |lineitem|")
    assert(df.filter(col("bin") < 0 || col("bin") > 9).count() == 0)
    assert(df.filter(col("bin_hi") <= col("bin_lo")).count() == 0)
  }

  test("ab_lift_report covers every user exactly once") {
    import org.apache.spark.sql.functions._
    val r = SparkEntry.queries("ab_lift_report")(spark, dir).head()
    val users = Tables.events(spark, dir).select("user_id").distinct().count()
    assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") == users)
    assert(r.getAs[Long]("conv_a") <= r.getAs[Long]("n_a"))
    assert(r.getAs[Long]("conv_b") <= r.getAs[Long]("n_b"))
  }

  test("the seeded-md5 arm puts hand-picked users where md5(exp1:<id>) does") {
    import spark.implicits._
    // the first hex digit of md5("exp1:<id>"), from Python's hashlib:
    // 2→7, 4→6, 7→1 and 10→0 sit below '8'; 1→d, 3→d, 5→f and 6→8 do not
    val arms = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 10L).toDF("user_id")
      .select($"user_id", graft.queries.ExperimentOps.variant.as("arm"))
      .as[(Long, String)].collect().toMap
    assert(arms == Map(2L -> "A", 4L -> "A", 7L -> "A", 10L -> "A",
      1L -> "B", 3L -> "B", 5L -> "B", 6L -> "B"), s"$arms")
  }

  test("the first-purchase frame counts a same-day purchase as day 0 and censors a non-buyer") {
    import spark.implicits._
    def at(day: Int) = java.sql.Timestamp.valueOf(f"2024-03-$day%02d 12:00:00")
    // the data horizon is 03-09. User 2 (arm A) buys on its first day,
    // user 4 (A) three days after its first event (its second purchase
    // changes nothing), user 1 (B) four days after; users 7 (A) and
    // 3 (B) never buy and are censored at the horizon
    val ev = Seq(
      (2L, "view", at(1)), (2L, "purchase", at(1)), (2L, "view", at(5)),
      (4L, "view", at(2)), (4L, "purchase", at(5)), (4L, "purchase", at(9)),
      (1L, "view", at(4)), (1L, "purchase", at(8)),
      (7L, "view", at(3)), (7L, "click", at(6)),
      (3L, "view", at(9))).toDF("user_id", "event_type", "ts")
    val frame = graft.queries.ExperimentOps.firstPurchase(ev)
      .as[(String, Long, Boolean)].collect().toSeq.sortBy(r => (r._1, r._2))
    assert(frame == Seq(("A", 0L, true), ("A", 3L, true), ("A", 6L, false),
      ("B", 0L, false), ("B", 4L, true)), s"$frame")
  }

  test("ab_lift_report rounds a count ratio as DuckDB does: 323/640 reads 0.504687") {
    import spark.implicits._
    // 323/640 is 0.5046875 in decimal, but the double times 1e6 is
    // 504687.49999999994: DuckDB's round gives 0.504687, while Spark's
    // round of the shortest decimal string gives 0.504688
    def md5Hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val (a, b) = (1L to 1400L).partition(id => md5Hex(s"exp1:$id") < "8")
    val users = a.take(640).zipWithIndex.map { case (id, i) => (id, i < 323) } ++
      b.take(10).map(id => (id, id % 2 == 0))
    val ts = java.sql.Timestamp.valueOf("2024-03-01 12:00:00")
    val dir = tempDir("graft_ab_rate").toString
    users.map { case (id, buys) => (id, ts, id, if (buys) "purchase" else "view", 1.0, "") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("ab_lift_report")(spark, dir).head()
    assert(r.getAs[Long]("n_a") == 640L && r.getAs[Long]("conv_a") == 323L, s"$r")
    assert(r.getAs[Double]("rate_a") == 0.504687, s"$r")
  }

  test("theta-sketch audience overlap tracks the exact matrix within 2%") {
    import org.apache.spark.sql.functions._
    val approx = SparkEntry.queries("audience_overlap_sketch")(spark, dir)
    val exact = SparkEntry.queries("user_overlap_matrix")(spark, dir)
    val j = approx.join(exact, Seq("type_a", "type_b"))
    assert(j.count() == exact.count(), "sketch matrix must cover every exact pair")
    val off = j.filter(
      abs(col("users_a_est") - col("n_a")) / col("n_a") > 0.02 ||
        abs(col("users_b_est") - col("n_b")) / col("n_b") > 0.02 ||
        abs(col("overlap_est") - col("n_shared")) / greatest(col("n_shared"), lit(1L)) > 0.02)
      .count()
    assert(off == 0, "every theta estimate within 2% of exact")
  }

  test("bigram table probabilities are ranked and head-bounded") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("word_bigrams")(spark, dir)
    assert(df.groupBy("w1").count().filter(col("count") > 5).count() == 0, "top-5 per head")
    // within a head, rank order must follow count order
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w1")).orderBy(col("rn"))
    val bad = df.withColumn("prev_c", lag(col("c"), 1).over(w))
      .filter(col("prev_c").isNotNull && col("c") > col("prev_c")).count()
    assert(bad == 0, "rank 2 can never outcount rank 1")
    assert(df.filter(col("p") <= 0 || col("p") > 1).count() == 0)
  }

  test("tokenizer fertility stays consistent with token_count totals") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("tokenizer_fertility")(spark, dir)
    val tokTotal = df.agg(sum("tokens")).head().getLong(0)
    val tc = SparkEntry.queries("token_count")(spark, dir)
      .agg(sum("total_bpe_tokens")).head().getLong(0)
    assert(tokTotal == tc, "the lang rollup and the source rollup count the same tokens")
    assert(df.filter(col("fertility") <= 0).count() == 0)
  }

  test("KM survival curve is monotone and anchored on the viewer base") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("conversion_survival")(spark, dir)
      .orderBy("day_off").collect()
    val viewers = Tables.events(spark, dir)
      .filter(col("event_type") === "view").select("user_id").distinct().count()
    assert(rows.head.getAs[Long]("n_at_risk") == viewers,
      "day 0 must put every viewer at risk")
    val surv = rows.map(_.getAs[Double]("km_survival"))
    assert(surv.zip(surv.tail).forall { case (a, b) => b <= a + 1e-9 },
      "survival can never increase")
    val risk = rows.map(_.getAs[Long]("n_at_risk"))
    assert(risk.zip(risk.tail).forall { case (a, b) => b <= a }, "at-risk only shrinks")
  }

  test("winsorized and trimmed means are pulled toward the center") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("winsorized_mean")(spark, dir)
    // clamping/trimming cannot move the mean past the raw extremes'
    // direction flip: all three must stay within the [lo, hi] band of
    // observed values, and trimmed/winsorized within the raw spread
    val bad = df.filter(
      abs(col("mean_winsorized") - col("mean_trimmed")) >
        abs(col("mean_raw")) + abs(col("mean_winsorized")) + abs(col("mean_trimmed")) + 1.0)
      .count()
    assert(bad == 0)
    assert(df.count() == 5)
  }

  test("revenue concentration shares are nested and bounded") {
    import org.apache.spark.sql.functions._
    val r = SparkEntry.queries("revenue_concentration")(spark, dir).head()
    val (t1, t10, t50) = (r.getAs[Double]("top1_share"),
      r.getAs[Double]("top10_share"), r.getAs[Double]("top50_share"))
    assert(t1 <= t10 + 1e-9 && t10 <= t50 + 1e-9, "a wider tier can only carry more")
    assert(t50 <= 1.0 + 1e-9 && t1 >= 0.0)
    // the top 50% by user count must carry at least 50% of revenue
    assert(t50 >= 0.5 - 1e-9, "the upper half cannot carry less than half")
  }

  test("burstiness moments are consistent with the event count") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("events_burstiness")(spark, dir)
    val events = Tables.events(spark, dir).groupBy("event_type").count()
    val bad = df.join(events, Seq("event_type"))
      .filter(abs(col("mean_per_min") * col("total_minutes") - col("count")) > 1.0)
      .count()
    assert(bad == 0, "mean_per_min × minutes ≈ per-type event count")
    assert(df.filter(col("active_minutes") > col("total_minutes")).count() == 0)
  }

  test("rfm migration rows are proper distributions over destinations") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("rfm_migration")(spark, dir)
    val sums = df.groupBy("seg_from").agg(sum("p").as("ps"), sum("n").as("ns"))
    assert(sums.filter(abs(col("ps") - 1.0) > 1e-4).count() == 0,
      "per-source transition probabilities sum to 1")
    val cqs = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 4 + quarter(col("o_orderdate")) - 1).as("q"))
      .distinct().count()
    assert(df.agg(sum("n")).head().getLong(0) == cqs,
      "every customer-quarter transitions exactly once")
  }

  test("truncation coverage is monotone in the cap") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("truncation_coverage")(spark, dir)
      .orderBy("cap").collect()
    val dc = rows.map(_.getAs[Double]("doc_coverage"))
    val tc = rows.map(_.getAs[Double]("token_coverage"))
    assert(dc.zip(dc.tail).forall { case (a, b) => b >= a - 1e-9 })
    assert(tc.zip(tc.tail).forall { case (a, b) => b >= a - 1e-9 })
    assert(tc.last <= 1.0 + 1e-9 && rows.forall(_.getAs[Long]("tokens_retained") <= rows.head.getAs[Long]("total_tokens")))
  }

  test("fk integrity report finds the synthetic star schema intact") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("fk_integrity_report")(spark, dir)
    assert(df.count() == 5, "five audited relations")
    assert(df.filter(col("n_orphans") =!= 0 || col("n_null_fk") =!= 0).count() == 0,
      "the generated star schema must be referentially closed")
    val li = Tables.lineitem(spark, dir).count()
    assert(df.filter(col("relation").startsWith("lineitem"))
      .filter(col("n_rows") =!= li).count() == 0)
  }

  test("sketch profile tracks the exact profile within 2%") {
    import org.apache.spark.sql.functions._
    val sk = SparkEntry.queries("table_profile_sketch")(spark, dir)
      .select(col("column_name"), col("n_distinct_est"), col("n_nulls"), col("null_rate"))
    val exact = SparkEntry.queries("table_profile")(spark, dir)
      .select(col("column_name"), col("n_distinct"),
        col("n_nulls").as("n_nulls_e"), col("null_rate").as("null_rate_e"))
    val j = sk.join(exact, Seq("column_name"))
    assert(j.count() == 3, "shared columns covered")
    assert(j.filter(col("n_nulls") =!= col("n_nulls_e") || col("null_rate") =!= col("null_rate_e"))
      .count() == 0, "null accounting is exact in both")
    val off = j.filter(
      abs(col("n_distinct_est") - col("n_distinct")) /
        greatest(col("n_distinct"), lit(1L)) > 0.02).count()
    assert(off == 0, "HLL distinct within 2% per column")
  }

  test("dedup survivorship drops match the cluster structure") {
    import org.apache.spark.sql.functions._
    val rep = SparkEntry.queries("dedup_survivorship")(spark, dir)
    val clusters = SparkEntry.queries("dedup_clusters")(spark, dir)
    val droppedTotal = clusters.filter(col("doc_id") =!= col("cluster")).count()
    assert(rep.agg(sum("n_dropped")).head().getLong(0) == droppedTotal,
      "every dropped doc lands in exactly one matrix cell")
    assert(rep.filter(col("n_dropped") <= 0).count() == 0)
  }

  test("user feature table covers every user with sane shares") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("user_feature_table")(spark, dir)
    assert(df.count() == Tables.events(spark, dir).select("user_id").distinct().count())
    val bad = df.filter(
      col("weekend_share") < 0 || col("weekend_share") > 1 ||
        col("night_share") < 0 || col("night_share") > 1 ||
        col("active_days") > col("span_d") || col("recency_d") < 0).count()
    assert(bad == 0)
  }

  test("ann recall report covers all four families with sane floors") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("ann_recall_report")(spark, dir)
    assert(df.count() == 4, "four index families reported")
    assert(df.filter(col("hit_rate") < 0 || col("hit_rate") > 1).count() == 0)
    def rate(m: String) =
      df.filter(col("method") === m).head().getAs[Double]("hit_rate")
    // int8 is a near-lossless rescore; IVF probes the true cell half the
    // time at this SF; PQ's sampled codebook is coarse but non-random
    assert(rate("int8_quantized") >= 0.9, "int8 rescoring is near-exact")
    assert(rate("ivf_trained") >= 0.2)
    assert(rate("pq_sampled") >= 0.05)
  }

  test("BPE training merges are complete and frequency-monotone") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("bpe_train")(spark, dir).orderBy("round").collect()
    assert(rows.map(_.getAs[Int]("round")).toSeq == (1 to 8), "all 8 rounds learned a merge")
    // classic BPE property: the best pair's frequency never increases —
    // a pair CREATED by a merge occurs at most as often as that merge did
    val freqs = rows.map(_.getAs[Long]("freq"))
    assert(freqs.zip(freqs.tail).forall { case (a, b) => b <= a },
      "argmax frequency is non-increasing across rounds")
    assert(rows.forall(r => r.getAs[String]("merged") ==
      r.getAs[String]("s1") + r.getAs[String]("s2")))
  }

  test("BPE apply compresses every source and conserves counts") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("bpe_apply_report")(spark, dir)
    // merging can only shorten: tokens <= chars, and 8 real merges must
    // beat the char baseline somewhere
    assert(df.filter(col("n_tokens") > col("n_chars")).count() == 0)
    assert(df.filter(col("chars_per_token") > 1.0).count() > 0,
      "eight merges must compress at least one source")
    val words = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w")).filter(col("w") =!= "").count()
    assert(df.agg(sum("n_words")).head().getLong(0) == words,
      "the per-source histogram conserves the corpus word count")
  }

  test("shard skew report conserves docs and stays near balance") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("shard_skew_report")(spark, dir)
    assert(df.count() == 64, "all 64 shards occupied under a uniform hash")
    assert(df.agg(sum("n_docs")).head().getLong(0) == Tables.documents(spark, dir).count())
    assert(df.filter(col("doc_load_factor") > 2.0).count() == 0,
      "a uniform hash must not produce a 2x-overloaded shard")
  }

  test("orders backlog curve is non-negative and drains to zero") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("orders_backlog")(spark, dir)
    assert(df.filter(col("open_orders") < 0).count() == 0)
    val last = df.orderBy(col("day").desc).head()
    assert(last.getAs[Long]("open_orders") == 0L,
      "after the last ship date every order has closed")
  }

  test("repeat purchase bands partition the customer base") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("repeat_purchase")(spark, dir)
    val total = df.agg(sum("n_customers")).head().getLong(0)
    val buyers = Tables.orders(spark, dir).select("o_custkey").distinct().count()
    assert(total == buyers, "every ordering customer lands in exactly one band")
  }

  test("psi drift shares sum to one per half and terms are non-negative") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("psi_drift")(spark, dir)
    val t = df.agg(
      sum("n_first").as("t1"), sum("n_second").as("t2"),
      min("psi_term").as("minterm")).head()
    val ev = Tables.events(spark, dir).count()
    assert(t.getLong(0) + t.getLong(1) == ev, "the two halves partition the event stream")
    // each PSI term (p2-p1)ln(p2/p1) has matching factor signs
    assert(t.getDouble(2) >= 0.0, "PSI terms are non-negative by construction")
  }

  test("cusum changepoint covers every type and the statistic telescopes to zero") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("cusum_changepoint")(spark, dir)
    val types = Tables.events(spark, dir).select("event_type").distinct().count()
    assert(df.count() == types, "one changepoint row per event type")
    // S_n = n*total - n_days*total = 0, so max|S| at the LAST day would
    // mean a flat series; with real variation the argmax is interior
    assert(df.filter(col("max_abs_cusum") < 0).count() == 0)
  }

  test("window funnel levels are monotone and conserve the user base") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("window_funnel")(spark, dir).cache()
    val users = Tables.events(spark, dir).select("user_id").distinct().count()
    assert(df.agg(sum("n_users")).head().getLong(0) == users,
      "every active user lands in exactly one funnel level")
    assert(df.filter(col("funnel_level") < 0 || col("funnel_level") > 3).count() == 0)
  }

  test("seq patterns count exactly the corpus trigram multiset") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("seq_patterns")(spark, dir)
    assert(df.count() <= 20)
    // total trigrams = sum over users of max(events_u - 2, 0); top-20 of
    // 5^3 possible patterns can't exceed it
    val perUser = Tables.events(spark, dir).groupBy("user_id").count()
      .agg(sum(greatest(col("count") - 2, lit(0)))).head().getLong(0)
    assert(df.agg(sum("n")).head().getLong(0) <= perUser)
  }

  test("seasonal decompose reassembles the series and seasonal terms cancel") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("seasonal_decompose")(spark, dir).cache()
    // trend + seasonal + residual == n_events within rounding
    val bad = df.filter(
      abs(col("trend") + col("seasonal") + col("residual") - col("n_events")) > 1e-4)
    assert(bad.count() == 0, "additive decomposition must reassemble each day")
  }

  test("compaction plan conserves the manifest and fills bins near target") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("compaction_plan")(spark, dir).cache()
    val docs = Tables.documents(spark, dir)
    assert(df.agg(sum("n_docs")).head().getLong(0) == docs.count())
    assert(df.agg(sum("bin_bytes")).head().getLong(0) ==
      docs.agg(sum("n_chars")).head().getLong(0))
    // sequential fill: every bin except possibly the last reaches target
    // (overfill bounded by one shard, underfill only on the tail bin)
    assert(df.filter(col("fill_ratio") <= 0).count() == 0)
  }

  test("corpus mix temperature flattens toward uniform") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("corpus_mix_temperature")(spark, dir).cache()
    // alpha < 1 compresses: small sources upsample (>1), the largest
    // source downsamples (<1); shares renormalize to ~1
    val tot = df.agg(sum("temp_share")).head().getDouble(0)
    assert(math.abs(tot - 1.0) < 1e-3, s"temp shares sum to 1, got $tot")
    val top = df.orderBy(col("byte_share").desc).head()
    val bottom = df.orderBy(col("byte_share").asc).head()
    assert(top.getAs[Double]("upsample") <= 1.0 + 1e-9,
      "the biggest source never upsamples under alpha<1")
    assert(bottom.getAs[Double]("upsample") >= 1.0 - 1e-9,
      "the smallest source never downsamples under alpha<1")
  }

  test("containment pairs subsume the planted exact duplicates") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("dedup_containment")(spark, dir).cache()
    assert(df.filter(col("containment") > 1.0 + 1e-9).count() == 0,
      "containment is a fraction of the smaller gram set")
    // exact-dup pairs (identical text) have containment 1.0 and must
    // all surface (their grams are identical, so no cap can drop them
    // below threshold unless the shared grams are boilerplate-hot)
    val exactPairs = Tables.documents(spark, dir)
      .groupBy(md5(col("text"))).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()
    if (exactPairs > 0)
      assert(df.filter(col("containment") >= 0.9999).count() > 0,
        "planted exact duplicates must appear as containment-1 pairs")
  }

  test("bigram perplexity scores every multi-word doc and orders sharper than unigram") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("doc_perplexity_bigram")(spark, dir).cache()
    val multi = Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ")) >= 2).count()
    assert(df.count() == multi, "every doc with at least one bigram is scored")
    assert(df.filter(col("perplexity") <= 0).count() == 0)
  }

  test("containment fast twin pins planted identical docs at 1 and calibrates to exact") {
    import org.apache.spark.sql.functions._
    val fast = SparkEntry.queries("dedup_containment_fast")(spark, dir).cache()
    // identical text => identical signatures => est_jaccard 1 => C-hat 1
    val idPairs = Tables.documents(spark, dir).alias("x")
      .join(Tables.documents(spark, dir).alias("y"),
        col("x.text") === col("y.text") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
    val missed = idPairs.join(
      fast.filter(col("est_containment") >= 0.9999), Seq("a", "b"), "left_anti").count()
    assert(missed == 0, "identical-text pairs must surface at est containment 1.0")
    // calibration: on pairs the exact op confirms at >= 0.8, the
    // estimate stays within the MinHash half-width for 16 perms
    val exact = SparkEntry.queries("dedup_containment")(spark, dir)
      .select(col("a"), col("b"), col("containment"))
    val joint = fast.join(exact, Seq("a", "b"))
    val drift = joint.agg(max(abs(col("est_containment") - col("containment")))).head()
    if (!drift.isNullAt(0))
      assert(drift.getDouble(0) <= 0.45, s"containment estimate drifted: $drift")
  }

  test("blocking report conserves docs and pair volumes are consistent") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("blocking_report")(spark, dir).cache()
    val docs = Tables.documents(spark, dir).count()
    assert(df.agg(sum("n_docs")).head().getLong(0) == docs)
    assert(df.filter(col("n_pairs") =!= col("n_docs") * (col("n_docs") - 1) / 2).count() == 0)
    val share = df.agg(sum("pair_share")).head().getDouble(0)
    assert(share < 0.5, s"a working blocking key must cut the pair space, got $share")
  }

  test("negative samples never collide with positives and are per-user ranked") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("negative_sampling")(spark, dir).cache()
    val positives = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("user_id"), col("l_partkey").as("part_id"))
      .distinct()
    assert(df.join(positives, Seq("user_id", "part_id")).count() == 0,
      "a negative sample must never be a purchased part")
    val badRank = df.groupBy("user_id")
      .agg(count(lit(1)).as("k"), max("rank").as("mx"))
      .filter(col("k") =!= col("mx") || col("k") > graft.queries.Round11Ops.NegativesPerUser)
    assert(badRank.count() == 0, "ranks are 1..k per user with k <= 4")
  }

  test("vocab overlap covers every source pair exactly once") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("source_vocab_overlap")(spark, dir).cache()
    val s = Tables.documents(spark, dir).select("source").distinct().count()
    assert(df.count() == s * (s - 1) / 2, "one row per unordered source pair")
    assert(df.filter(col("jaccard") < 0 || col("jaccard") > 1).count() == 0)
  }

  test("join cardinality estimates equal the actual equi-join counts") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("join_cardinality_report")(spark, dir).cache()
    // the histogram identity is EXACT for equi-joins: check all three
    val actual = Map(
      "orders_lineitem" -> Tables.orders(spark, dir)
        .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey")).count(),
      "customer_orders" -> Tables.customer(spark, dir)
        .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey")).count(),
      "part_lineitem" -> Tables.part(spark, dir)
        .join(Tables.lineitem(spark, dir), col("p_partkey") === col("l_partkey")).count())
    df.collect().foreach { r =>
      assert(r.getAs[Long]("est_rows") == actual(r.getAs[String]("join_name")),
        s"estimate must be exact for ${r.getAs[String]("join_name")}")
    }
  }

  test("embedding covariance diagonal is non-negative and bounds the off-diagonal") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("embed_covariance")(spark, dir).cache()
    assert(df.count() == 64L * 65 / 2, "full upper triangle of a 64-dim matrix")
    val diag = df.filter(col("i") === col("j"))
    assert(diag.filter(col("cov") < -1e-9).count() == 0, "variances are non-negative")
    // Cauchy-Schwarz: |cov(i,j)| <= sqrt(var_i * var_j)
    val d = diag.select(col("i").as("di"), col("cov").as("v")).cache()
    val viol = df.join(d, col("i") === col("di")).drop("di")
      .withColumnRenamed("v", "vi")
      .join(d, col("j") === col("di")).drop("di")
      .withColumnRenamed("v", "vj")
      .filter(abs(col("cov")) > sqrt(col("vi") * col("vj")) + 1e-6)
    assert(viol.count() == 0, "Cauchy-Schwarz must hold pairwise")
  }

  test("grouping sets levels reconcile: nations roll up to the grand total") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("grouping_sets_report")(spark, dir).cache()
    val grand = df.filter(col("g_n") === 1 && col("g_r") === 1)
    assert(grand.count() == 1, "exactly one grand-total row")
    val total = grand.head().getAs[Long]("n_lines")
    val byNation = df.filter(col("g_n") === 0).agg(sum("n_lines")).head().getLong(0)
    val byRegion = df.filter(col("g_r") === 0 && col("g_n") === 1)
      .agg(sum("n_lines")).head().getLong(0)
    assert(byNation == total && byRegion == total,
      "each grouping-set level partitions the fact rows")
  }

  test("nearest as-of never matches farther than the backward as-of") {
    import org.apache.spark.sql.functions._
    val near = SparkEntry.queries("asof_join_nearest")(spark, dir)
      .select(col("event_id"), col("gap_us"))
    val back = SparkEntry.queries("asof_join")(spark, dir)
      .filter(col("anchor_ts_ms").isNotNull)
      .select(col("event_id"),
        (col("ts_ms") - col("anchor_ts_ms")).as("back_gap_ms"))
    // the backward op reports epoch MILLIS (each side truncates <=999us),
    // so compare with the 2ms truncation slack
    val viol = near.join(back, Seq("event_id"))
      .filter(col("gap_us") > col("back_gap_ms") * 1000 + 2000)
    assert(viol.count() == 0,
      "nearest-direction gap is bounded by the backward-direction gap")
  }

  test("incremental covariance merge equals the one-shot recompute engine-side") {
    val inc = SparkEntry.queries("embed_covariance_incremental")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val full = SparkEntry.queries("embed_covariance")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(inc == full, "delta-merged moments must reproduce the full covariance exactly")
  }

  test("label propagation masks exactly the vec_id mod-5 slice") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("label_propagation_eval")(spark, dir).cache()
    val masked = Tables.embeddings(spark, dir)
      .filter(pmod(col("vec_id"), lit(5)) === 4).count()
    assert(df.agg(sum("n_masked")).head().getLong(0) == masked)
    assert(df.filter(col("recovery_rate") < 0 || col("recovery_rate") > 1).count() == 0)
  }

  test("theil-sen pair counts match the dense calendar") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("theil_sen_trend")(spark, dir).cache()
    // per type, n_pairs = k(k-1)/2 over that type's observed days
    val days = Tables.events(spark, dir)
      .groupBy(col("event_type")).agg(countDistinct(to_date(col("ts"))).as("k"))
    val viol = df.join(days, Seq("event_type"))
      .filter(col("n_pairs") =!= col("k") * (col("k") - 1) / 2)
    assert(viol.count() == 0, "slope pair space is the per-type day-pair triangle")
  }

  test("probe curve recall is monotone and the full sweep is exhaustive") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("ann_probe_curve")(spark, dir)
      .orderBy("probes").collect()
    assert(df.length == 5, "five sweep points")
    val recalls = df.map(_.getAs[Double]("recall_at_3"))
    assert(recalls.sliding(2).forall(p => p(0) <= p(1) + 1e-9),
      s"recall must be monotone in probes: ${recalls.mkString(",")}")
    assert(math.abs(recalls.last - 1.0) < 1e-9,
      "probing every list IS brute force: recall@3 must reach 1.0")
    val scans = df.map(_.getAs[Double]("scan_frac"))
    assert(scans.sliding(2).forall(p => p(0) <= p(1) + 1e-9),
      "scan fraction grows with probes")
  }

  test("hits scores are L1-normalized distributions over the node set") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("graph_hits")(spark, dir).cache()
    val sums = df.agg(sum("authority"), sum("hub")).head()
    assert(math.abs(sums.getDouble(0) - 1.0) < 1e-3, s"authority mass ~1: $sums")
    assert(math.abs(sums.getDouble(1) - 1.0) < 1e-3, s"hub mass ~1: $sums")
    assert(df.filter(col("authority") < 0 || col("hub") < 0).count() == 0)
  }

  test("skyline members are mutually non-dominating and dominate everything else") {
    import org.apache.spark.sql.functions._
    val sky = SparkEntry.queries("skyline_parts")(spark, dir).cache()
    // no skyline member dominates another (frontier property)
    val internal = sky.alias("a").join(sky.alias("b"),
      col("a.p_retailprice") <= col("b.p_retailprice")
        && col("a.p_size") >= col("b.p_size")
        && (col("a.p_retailprice") < col("b.p_retailprice")
          || col("a.p_size") > col("b.p_size")))
    assert(internal.count() == 0, "frontier members must not dominate each other")
    // every non-member is dominated by some skyline member
    val parts = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
    val nonMembers = parts.join(sky.select("p_partkey"), Seq("p_partkey"), "left_anti")
    val undominated = nonMembers.alias("p").join(sky.alias("s"),
      col("s.p_retailprice") <= col("p.p_retailprice")
        && col("s.p_size") >= col("p.p_size")
        && (col("s.p_retailprice") < col("p.p_retailprice")
          || col("s.p_size") > col("p.p_size")), "left_anti")
    assert(undominated.count() == 0, "every excluded part must be dominated")
  }

  test("label noise report partitions the vector set") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("label_noise_report")(spark, dir).cache()
    val vecs = Tables.embeddings(spark, dir).count()
    assert(df.agg(sum("n_vecs")).head().getLong(0) == vecs)
    assert(df.filter(col("noise_rate") < 0 || col("noise_rate") > 1).count() == 0)
    assert(df.filter(col("n_disagree") > col("n_vecs")).count() == 0)
  }

  test("erasure audit conserves every table and cascades lineitem through orders") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("user_erasure_audit")(spark, dir).cache()
    val totals = Map(
      "customer" -> Tables.customer(spark, dir).count(),
      "orders" -> Tables.orders(spark, dir).count(),
      "lineitem" -> Tables.lineitem(spark, dir).count(),
      "events" -> Tables.events(spark, dir).count())
    df.collect().foreach { r =>
      val entity = r.getString(0)
      assert(r.getLong(1) + r.getLong(2) == totals(entity), s"$entity must be conserved")
    }
    // the lineitem delete set must be EXACTLY the deleted orders' lines
    val delOrders = Tables.orders(spark, dir)
      .filter(col("o_custkey") % 13 === 0).select(col("o_orderkey"))
    val cascade = Tables.lineitem(spark, dir)
      .join(delOrders, col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    val reported = df.filter(col("entity") === "lineitem").head().getLong(1)
    assert(reported == cascade, "lineitem cascade must match the FK walk")
  }

  test("dp noisy counts perturb every type within the mechanism's hard bound") {
    import org.apache.spark.sql.functions._
    val noisy = SparkEntry.queries("dp_noisy_counts")(spark, dir)
    val exact = Tables.events(spark, dir).groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val joined = noisy.join(exact, Seq("event_type")).cache()
    assert(joined.count() == exact.count(), "every type must be released")
    // |Lap sample| ≤ b·ln(16^6/0.5): the md5-uniform device can't reach
    // the CDF tails past its 24-bit grid, so the noise is hard-bounded
    val outOfBound = joined
      .filter(abs(col("noisy_count") - col("n").cast("double")) > 17.5).count()
    assert(outOfBound == 0, "noise must respect the 24-bit grid bound")
    // the release must actually perturb (noise is never exactly zero)
    val unperturbed = joined
      .filter(col("noisy_count") === col("n").cast("double")).count()
    assert(unperturbed == 0, "every count must be perturbed")
  }

  test("wilson intervals bracket the rate and stay inside [0,1]") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("wilson_ci_report")(spark, dir).cache()
    assert(df.filter(col("ci_lo") < 0 || col("ci_hi") > 1).count() == 0)
    assert(df.filter(col("ci_lo") > col("rate") || col("rate") > col("ci_hi")).count() == 0)
    // Wilson never collapses: a rate strictly inside (0,1) gets a
    // strictly positive margin on both sides
    val collapsed = df.filter(
      col("rate") > 0 && col("rate") < 1 &&
        (col("ci_lo") === col("rate") || col("ci_hi") === col("rate"))).count()
    assert(collapsed == 0)
  }

  test("holt forecast is linear in the horizon at the fitted trend") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("holt_forecast")(spark, dir).cache()
    val types = Tables.events(spark, dir).select("event_type").distinct().count()
    assert(df.count() == types * 7, "7 horizons per type")
    // forecast(h+1) - forecast(h) = trend (up to the two 6-dp emits)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("h"))
    val nonLinear = df
      .withColumn("step", col("forecast") - lag(col("forecast"), 1).over(w))
      .filter(col("step").isNotNull && abs(col("step") - col("trend")) > 2.1e-6)
      .count()
    assert(nonLinear == 0, "forecast steps must equal the trend")
  }

  test("personalized pagerank mass stays within the teleport budget") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("personalized_pagerank")(spark, dir).cache()
    assert(df.filter(col("ppr") < 0).count() == 0)
    // dangling mass leaks, never appears: total ≤ 1 (+ rounding slack)
    val mass = df.agg(sum(col("ppr"))).head().getDouble(0)
    assert(mass <= 1.0 + 1e-4, s"mass $mass must not exceed 1")
    // every seed keeps at least its own teleport share
    val seeds = df.filter(col("id") < 5).count()
    assert(seeds == 5, "all five seeds must hold positive rank")
  }

  test("kneser-ney rows are proper sub-distributions ranked densely") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("kneser_ney_bigram")(spark, dir).cache()
    assert(df.filter(col("p_kn") <= 0 || col("p_kn") > 1).count() == 0)
    // rn is dense 1..k per head and ordered by p desc
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w1")).orderBy(col("rn"))
    val broken = df
      .withColumn("prev_rn", lag(col("rn"), 1).over(w))
      .withColumn("prev_p", lag(col("p_kn"), 1).over(w))
      .filter(
        (col("prev_rn").isNull && col("rn") =!= 1) ||
          (col("prev_rn").isNotNull && col("rn") =!= col("prev_rn") + 1) ||
          (col("prev_p").isNotNull && col("p_kn") > col("prev_p")))
      .count()
    assert(broken == 0, "ranks must be dense and probability-ordered")
    // the discount moves mass: smoothed top-1 probability never
    // exceeds the raw MLE estimate c/head_n ... plus the backoff term,
    // so it stays strictly below 1 even for deterministic heads
    assert(df.filter(col("c") === col("head_n") && col("p_kn") >= 1.0).count() == 0)
  }

  test("calibration bins cover every doc and gaps reconcile") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("classifier_calibration")(spark, dir).cache()
    val docs = Tables.documents(spark, dir).count()
    assert(df.agg(sum("n")).head().getLong(0) == docs, "every doc lands in a bin")
    assert(df.filter(col("bin") < 0 || col("bin") > 9).count() == 0)
    assert(df.filter(col("frac_pos") < 0 || col("frac_pos") > 1).count() == 0)
    val badGap = df.filter(
      abs(col("gap") - abs(col("mean_conf") - col("frac_pos"))) > 2e-6).count()
    assert(badGap == 0, "gap must equal |mean_conf - frac_pos|")
  }

  test("record linkage scores are the four FS agreement patterns and recall the clean twins") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("record_linkage")(spark, dir).cache()
    // global m/u weights ⇒ at most 4 distinct scores, ordered by the
    // number of agreeing fields (balance dominates: its u is tiny)
    val scores = df.select(col("agree_seg") + col("agree_bal"), col("score"))
      .distinct().collect().map(r => (r.getInt(0), r.getDouble(1)))
    assert(scores.length <= 4)
    val byAgree = scores.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    for { (a, sa) <- byAgree; (b, sb) <- byAgree; if a < b }
      assert(sa.max < sb.min, "more agreements must always outscore fewer")
    // every un-corrupted-balance twin shares its block and must link
    val cleanTwins = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 3 =!= 0).count()
    val recalled = df.filter(col("same_entity") === 1).count()
    assert(recalled >= cleanTwins, "clean twins must all surface")
  }

  test("burrows delta is a positive pairwise table over all source pairs") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("burrows_delta")(spark, dir).cache()
    val k = Tables.documents(spark, dir).select("source").distinct().count()
    assert(df.count() == k * (k - 1) / 2, "one row per unordered source pair")
    assert(df.filter(col("delta") <= 0).count() == 0, "distinct sources differ in style")
    assert(df.filter(col("src_a") >= col("src_b")).count() == 0)
  }

  test("mmr rerank picks the top-relevance first and is more diverse than plain top-5") {
    import org.apache.spark.sql.functions._
    import graft.functions.Registry
    val mmr = SparkEntry.queries("mmr_rerank")(spark, dir).cache()
    assert(mmr.groupBy("query_id").count().filter(col("count") =!= 5).count() == 0)
    assert(mmr.select("query_id", "vec_id").distinct().count() == mmr.count())
    // rank 1 is the plain relevance argmax
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("e"))
      .withColumn("nrm", Registry.l2norm(col("e")))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qnrm"))
    val rel = emb.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("rel", Registry.dot(col("qe"), col("e")) / (col("qnrm") * col("nrm")))
    val top1 = rel.groupBy(col("query_id"))
      .agg(max_by(col("vec_id"), struct(col("rel"), (-col("vec_id")).as("tb"))).as("vec_id"))
    val wrongFirst = mmr.filter(col("rank") === 1)
      .join(top1, Seq("query_id", "vec_id"), "left_anti").count()
    assert(wrongFirst == 0, "rank 1 must be the relevance argmax")
    // diversity: mean pairwise cosine within the MMR picks must not
    // exceed the plain top-5-by-relevance set's
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rel").desc, col("vec_id"))
    def meanPairSim(sel: org.apache.spark.sql.DataFrame): Double = {
      val withE = sel.join(emb, Seq("vec_id"))
      val a = withE.select(col("query_id"), col("vec_id").as("va"),
        col("e").as("ea"), col("nrm").as("na"))
      val b = withE.select(col("query_id"), col("vec_id").as("vb"),
        col("e").as("eb"), col("nrm").as("nb"))
      a.join(b, Seq("query_id")).filter(col("va") < col("vb"))
        .select((Registry.dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("sim"))
        .agg(avg("sim")).head().getDouble(0)
    }
    val plain5 = rel.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("query_id", "vec_id")
    val simMmr = meanPairSim(mmr.select("query_id", "vec_id"))
    val simPlain = meanPairSim(plain5)
    assert(simMmr <= simPlain + 1e-9,
      s"MMR set must be at least as diverse: $simMmr vs $simPlain")
  }

  test("watermark advisor quantiles are ordered and recommend the p99") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("watermark_advisor")(spark, dir).cache()
    assert(df.filter(col("p50_s") > col("p95_s") || col("p95_s") > col("p99_s")
      || col("p99_s") > col("max_s")).count() == 0)
    assert(df.filter(col("recommended_delay_s") =!= col("p99_s")).count() == 0)
    // every arrival after the first contributes one lateness sample
    val expected = Tables.events(spark, dir)
      .groupBy("event_type").agg((count(lit(1)) - 1).as("exp_n"))
    assert(df.join(expected, Seq("event_type"))
      .filter(col("n") =!= col("exp_n")).count() == 0)
  }

  test("bot detection moments are sane and the flag matches its rule") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("bot_detection_report")(spark, dir).cache()
    assert(df.filter(col("gap_cv") < 0).count() == 0)
    assert(df.filter(col("type_entropy") < 0 ||
      col("type_entropy") > math.log(5.0) + 1e-6).count() == 0)
    assert(df.filter(col("n_events") < col("active_hours")).count() == 0)
    val misflagged = df.filter(
      col("flagged") =!=
        (((col("gap_cv") < 0.5) || (col("type_entropy") < 0.7)) && (col("n_events") >= 20)))
      .count()
    assert(misflagged == 0)
  }

  test("holt-winters reassembles level + trend + seasonal per horizon") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("holt_winters_forecast")(spark, dir).cache()
    val types = Tables.events(spark, dir).select("event_type").distinct().count()
    assert(df.count() == types * 7, "7 horizons per type")
    // forecast rounds once; the three components round separately and
    // h multiplies the trend's rounding — the bound is (2 + h/2 + 1)µ
    val broken = df.filter(
      abs(col("forecast") - (col("level") + col("h").cast("double") * col("trend")
        + col("seasonal"))) > 6.1e-6).count()
    assert(broken == 0, "forecast must decompose up to component rounding")
    // the weekly shape is bounded by the observed daily peak
    val peak = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")), col("event_type")).count()
      .agg(max("count")).head().getLong(0).toDouble
    assert(df.filter(abs(col("seasonal")) > peak).count() == 0)
  }

  test("jl projection preserves probe distances within the distortion band") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("embed_jl_projection")(spark, dir).cache()
    assert(df.count() == 30L * 29 / 2, "the full probe half-matrix")
    assert(df.filter(col("d2_orig") <= 0 || col("d2_proj") < 0).count() == 0)
    // pointwise sanity band + unbiasedness of the mean ratio
    assert(df.filter(col("ratio") < 0.1 || col("ratio") > 3.0).count() == 0)
    val meanRatio = df.agg(avg("ratio")).head().getDouble(0)
    assert(meanRatio > 0.7 && meanRatio < 1.3,
      s"E[ratio] must be near 1 (unbiased projection): $meanRatio")
  }

  test("markov attribution removal effects are proper and none is the identity") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("markov_attribution")(spark, dir).cache()
    val none = df.filter(col("removed") === "none").head()
    assert(none.getAs[Double]("removal_effect") == 0.0, "removing nothing removes nothing")
    assert(df.filter(col("conv_prob") < 0 || col("conv_prob") > 1).count() == 0)
    // removing a channel can only LOSE conversion mass (no renormalize)
    val full = none.getAs[Double]("conv_prob")
    assert(df.filter(col("conv_prob") > full + 1e-9).count() == 0)
    assert(df.filter(col("removed") =!= "none" && col("removal_effect") < 0).count() == 0)
    // removing 'view' must hurt: journeys that start there are lost
    assert(df.filter(col("removed") === "view").head().getAs[Double]("removal_effect") > 0)
  }

  test("markov attribution's states are transition ends: a sole-event type adds no variant") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    // user 1: view → purchase; user 3: click → view; user 2's only
    // event is 'ghost', a start that is no transition end, so no state
    def ev(id: Long, user: Long, typ: String) =
      Row(id, new java.sql.Timestamp(1700000000000L + id * 1000L), user, typ, 1.0, null)
    val rows = Seq(ev(1, 1, "view"), ev(2, 1, "purchase"), ev(3, 3, "click"), ev(4, 3, "view"),
      ev(5, 2, "ghost"))
    val tmp = tempDir("graft_markov").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows), StructType.fromDDL(Tables.Ddl("events")))
      .write.parquet(s"$tmp/events.parquet")
    val out = SparkEntry.queries("markov_attribution")(spark, tmp).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    // 3 users start; the view and click starts convert, the ghost start
    // reaches no state. Removing click leaves view's path: conversion
    // falls from 2/3 to 1/3 (effect 0.5). Removing view cuts both.
    assert(out == Seq(("click", 0.333333, 0.5), ("none", 0.666667, 0.0), ("view", 0.0, 1.0)))
  }

  test("sequential monitor boundary decays and cumulative counts are monotone") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("ab_sequential_monitor")(spark, dir).cache()
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("t"))
    val broken = df
      .withColumn("pb", lag(col("boundary"), 1).over(w))
      .withColumn("pn0", lag(col("n0"), 1).over(w))
      .withColumn("pn1", lag(col("n1"), 1).over(w))
      .filter(col("pb").isNotNull &&
        (col("boundary") > col("pb") || col("n0") < col("pn0") || col("n1") < col("pn1")))
      .count()
    assert(broken == 0, "boundary must decay and counts must accumulate")
    // the final boundary is the fixed-horizon 1.96
    val last = df.orderBy(col("t").desc).head()
    assert(math.abs(last.getAs[Double]("boundary") - 1.96) < 1e-9)
    assert(df.filter(col("k0") > col("n0") || col("k1") > col("n1")).count() == 0)
  }

  test("benford audit is a proper digit distribution against the law") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("benford_audit")(spark, dir).cache()
    assert(df.count() == 9)
    assert(math.abs(df.agg(sum("share")).head().getDouble(0) - 1.0) < 1e-4)
    assert(math.abs(df.agg(sum("p_benford")).head().getDouble(0) - 1.0) < 1e-4)
    assert(df.filter(col("chi2_term") < 0).count() == 0)
    val obs = df.agg(sum("obs")).head().getLong(0)
    val priced = Tables.lineitem(spark, dir).filter(col("l_extendedprice") >= 1.0).count()
    assert(obs == priced, "every priced line contributes one digit")
  }

  test("budget select equals the plain greedy running-sum cut") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("corpus_budget_select")(spark, dir).cache()
    assert(df.filter(col("cum_tokens") > 100000).count() == 0)
    // the bucketed two-pass must equal the naive global-window greedy
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ratio").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val naive = graft.queries.Round9Ops.docQualityClassifier(spark, dir)
      .withColumn("ratio", round(col("score") / col("n_tokens").cast("double"), 12))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= 100000)
      .select("doc_id", "cum_tokens")
    assert(df.select("doc_id", "cum_tokens").except(naive).count() == 0)
    assert(naive.except(df.select("doc_id", "cum_tokens")).count() == 0)
  }

  test("t-closeness is a bounded distance over the same classes as l-diversity") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("t_closeness_report")(spark, dir).cache()
    val lDiv = SparkEntry.queries("l_diversity_report")(spark, dir)
    assert(df.count() == lDiv.count(), "same quasi-identifier classes")
    assert(df.filter(col("t") < 0 || col("t") > 1).count() == 0, "TVD is in [0,1]")
    assert(df.filter(col("above_t04") =!= (col("t") > 0.4)).count() == 0)
    // a single-member class is maximally far from the 5-way global mix
    assert(df.filter(col("class_size") === 1 && col("t") < 0.5).count() == 0)
  }

  test("rbo is bounded by set recall and identical rankings score 1") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("rank_rbo_report")(spark, dir).cache()
    assert(df.count() == 5, "one row per probe query")
    assert(df.filter(col("rbo") < 0 || col("rbo") > 1).count() == 0)
    // RBO ≤ overlap share at full depth is NOT generally true, but
    // rbo = 1 requires perfect agreement and overlap10 = 10
    assert(df.filter(col("rbo") > 0.999999 && col("overlap10") =!= 10).count() == 0)
    // int8 keeps the top-10 SET but reshuffles ranks — RBO reads 0.63
    // here where set recall reads 1.0, which is the metric's point
    assert(df.agg(avg("rbo")).head().getDouble(0) > 0.4,
      "int8 ranking should retain substantial rank agreement")
    assert(df.filter(col("rbo") <= 0).count() == 0,
      "full set overlap forces every query's RBO positive")
    // self-check the identity: RBO of a ranking with itself is 1
    val a = graft.queries.TextOps.embedKnn(spark, dir)
      .select(col("query_id"), col("vec_id"), col("rn"))
    val m = a.select(col("query_id"), col("rn").as("depth_in"))
    val ds = spark.range(1, 11).select(col("id").cast("int").as("d"))
    val self = a.select("query_id").distinct().crossJoin(ds)
      .join(m, Seq("query_id"))
      .groupBy(col("query_id"), col("d"))
      .agg(sum(when(col("depth_in") <= col("d"), 1L).otherwise(0L)).as("ov"))
      .filter(col("ov") =!= col("d")).count()
    assert(self == 0, "a ranking overlaps itself fully at every depth")
  }

  test("classifier auc matches a direct pairwise estimate") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("classifier_auc")(spark, dir).cache()
    val row = df.head()
    val auc = row.getAs[Double]("auc")
    assert(auc >= 0 && auc <= 1)
    assert(math.abs(row.getAs[Double]("gini") - (2 * auc - 1)) < 3e-6)
    // brute-force U over the (bounded at sf0.001) pos×neg pair space
    val scored = graft.queries.Round9Ops.docQualityClassifier(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "lang"), Seq("doc_id"))
      .select(col("score"), (col("lang") === "en").as("pos"))
    val pos = scored.filter(col("pos")).select(col("score").as("sp"))
    val neg = scored.filter(!col("pos")).select(col("score").as("sn"))
    val u2 = pos.crossJoin(neg)
      .agg(sum(when(col("sp") > col("sn"), 2L)
        .when(col("sp") === col("sn"), 1L).otherwise(0L))).head().getLong(0)
    val expected = u2.toDouble / (2.0 * row.getAs[Long]("n_pos") * row.getAs[Long]("n_neg"))
    assert(math.abs(auc - expected) < 1e-6, s"histogram AUC $auc vs pairwise $expected")
  }

  test("ks drift test is bounded, conserves counts and flags consistently") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("ks_drift_test")(spark, dir).cache()
    assert(df.count() == 5, "one row per language")
    assert(df.filter(col("ks_d") < 0 || col("ks_d") > 1).count() == 0)
    assert(df.filter(col("d_crit") <= 0).count() == 0)
    assert(df.filter(col("drifted") =!= (col("ks_d") > col("d_crit"))).count() == 0)
    // the two halves partition each language's documents
    val perLang = Tables.documents(spark, dir).groupBy("lang").count()
    val joined = df.join(perLang, Seq("lang"))
      .filter(col("n1") + col("n2") =!= col("count")).count()
    assert(joined == 0, "n1 + n2 must equal the language's doc count")
    // D computed against a driver-side ECDF for one language
    val docs = Tables.documents(spark, dir).filter(col("lang") === "en")
      .select("doc_id", "n_chars").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = docs.map(_._1); val (lo, hi) = (ids.min, ids.max)
    val first = docs.filter { case (id, _) => (id - lo) * 2 <= (hi - lo) }.map(_._2).sorted
    val second = docs.filter { case (id, _) => (id - lo) * 2 > (hi - lo) }.map(_._2).sorted
    val vals = (first ++ second).distinct.sorted
    val dMax = vals.map { v =>
      math.abs(first.count(_ <= v).toDouble / first.length
        - second.count(_ <= v).toDouble / second.length)
    }.max
    val got = df.filter(col("lang") === "en").head().getAs[Double]("ks_d")
    assert(math.abs(got - dMax) < 1e-5, s"engine D $got vs driver ECDF sup $dMax")
  }

  test("token-label MI is non-negative with consistent cells") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("token_label_mi")(spark, dir).cache()
    assert(df.count() > 0 && df.count() <= 50)
    assert(df.filter(col("mi_bits") < -1e-9).count() == 0,
      "mutual information is non-negative up to 6-dp rounding")
    assert(df.filter(col("n11") > col("doc_freq") || col("n11") < 0).count() == 0)
    assert(df.select("token").distinct().count() == df.count())
    // doc_freq never exceeds the corpus size
    val nn = Tables.documents(spark, dir).count()
    assert(df.filter(col("doc_freq") > nn).count() == 0)
  }

  test("spearman rho matches a driver-side midrank computation") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("spearman_len_score")(spark, dir).cache()
    assert(df.count() == Tables.documents(spark, dir).select("source").distinct().count())
    assert(df.filter(col("rho") < -1 || col("rho") > 1).count() == 0)
    val src = df.head().getAs[String]("source")
    val pairs = graft.queries.Round9Ops.docQualityClassifier(spark, dir)
      .select(col("doc_id"), col("score"))
      .join(Tables.documents(spark, dir).filter(col("source") === src)
        .select("doc_id", "n_chars"), Seq("doc_id"))
      .select("n_chars", "score").collect()
      .map(r => (r.getLong(0).toDouble, r.getDouble(1)))
    def midranks(xs: Array[Double]): Array[Double] = {
      val byVal = xs.zipWithIndex.sortBy(_._1)
      val out = new Array[Double](xs.length)
      var i = 0
      while (i < byVal.length) {
        var j = i
        while (j < byVal.length && byVal(j)._1 == byVal(i)._1) j += 1
        val r = (i + 1 + j) / 2.0 // mean of ranks i+1..j
        (i until j).foreach(k => out(byVal(k)._2) = r)
        i = j
      }
      out
    }
    val rx = midranks(pairs.map(_._1)); val ry = midranks(pairs.map(_._2))
    val n = rx.length.toDouble
    val (sx, sy) = (rx.sum, ry.sum)
    val sxy = rx.zip(ry).map { case (a, b) => a * b }.sum
    val sxx = rx.map(a => a * a).sum; val syy = ry.map(a => a * a).sum
    val expected = (n * sxy - sx * sy) / math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    val got = df.filter(col("source") === src).head().getAs[Double]("rho")
    assert(math.abs(got - expected) < 1e-5, s"engine rho $got vs driver midrank rho $expected")
  }

  test("gain curve is monotone and saturates at decile 10") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("gain_capture_curve")(spark, dir).cache()
    assert(df.count() == 10)
    assert(df.filter(col("capture") < 0 || col("capture") > 1.000001).count() == 0)
    val rows = df.orderBy("decile").collect().map(_.getAs[Double]("capture"))
    assert(rows.zip(rows.tail).forall { case (a, b) => b >= a - 1e-9 },
      "cumulative capture must be non-decreasing")
    val last = df.filter(col("decile") === 10).head()
    assert(math.abs(last.getAs[Double]("capture") - 1.0) < 1e-6)
    assert(math.abs(last.getAs[Double]("lift") - 1.0) < 1e-6)
    assert(df.filter(col("lift") <= 0).count() == 0)
  }

  test("cramers v is bounded and counts reconcile per pair") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("cramers_v_matrix")(spark, dir).cache()
    assert(df.count() == 3)
    assert(df.filter(col("cramers_v") < 0 || col("cramers_v") > 1.000001).count() == 0)
    assert(df.filter(col("chi2") < 0 || col("dof") < 1).count() == 0)
    val nDocs = Tables.documents(spark, dir).count()
    assert(df.filter(col("pair") === "doc_lang_x_source").head().getAs[Long]("n") == nDocs)
    val nEv = Tables.events(spark, dir).count()
    assert(df.filter(col("pair") === "event_type_x_dow").head().getAs[Long]("n") == nEv)
  }

  test("forecast backtest scores a full holdout fortnight per type") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("forecast_backtest")(spark, dir).cache()
    assert(df.count() == Tables.events(spark, dir).select("event_type").distinct().count())
    assert(df.filter(col("n_days") =!= 14).count() == 0,
      "the dense calendar guarantees 14 scored days per type")
    assert(df.filter(col("mae_naive") < 0 || col("mae_seasonal") < 0).count() == 0)
    val bad = df.filter(
      (col("winner") === "seasonal" && col("mae_seasonal") >= col("mae_naive"))
        || (col("winner") === "naive" && col("mae_naive") >= col("mae_seasonal"))
        || (col("winner") === "tie" && col("mae_naive") =!= col("mae_seasonal"))).count()
    assert(bad == 0, "winner label must agree with the MAE comparison")
  }

  test("gini matches a driver-side sorted-rank computation") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("gini_report")(spark, dir).cache()
    assert(df.count() == 2)
    assert(df.filter(col("gini") < 0 || col("gini") >= 1).count() == 0)
    val counts = Tables.events(spark, dir).groupBy("user_id").count()
      .collect().map(_.getLong(1).toDouble).sorted
    val n = counts.length
    val num = counts.zipWithIndex.map { case (x, i) => (2 * (i + 1) - n - 1) * x }.sum
    val expected = num / (n * counts.sum)
    val got = df.filter(col("measure") === "event_count").head().getAs[Double]("gini")
    assert(math.abs(got - expected) < 1e-5, s"engine gini $got vs driver $expected")
  }

  test("isotonic calibration matches a sequential PAV sweep") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("isotonic_calibration")(spark, dir).cache()
    val rows = df.orderBy("bin").collect()
    val cal = rows.map(_.getAs[Double]("calibrated"))
    assert(cal.zip(cal.tail).forall { case (a, b) => b >= a - 1e-9 },
      "isotonic output must be non-decreasing")
    assert(cal.forall(c => c >= 0 && c <= 1))
    // classic pool-adjacent-violators on the same (n, k) bins
    case class Blk(var w: Long, var s: Long)
    val blocks = scala.collection.mutable.ArrayBuffer.empty[Blk]
    rows.foreach { r =>
      blocks += Blk(r.getAs[Long]("n"), r.getAs[Long]("k"))
      while (blocks.length > 1 && {
        val a = blocks(blocks.length - 2); val b = blocks.last
        a.s * b.w >= b.s * a.w // rate(a) >= rate(b) → pool
      }) {
        val b = blocks.remove(blocks.length - 1)
        blocks.last.w += b.w; blocks.last.s += b.s
      }
    }
    // expand per-bin: walk blocks against bins by weight
    val perBin = scala.collection.mutable.ArrayBuffer.empty[Double]
    var bi = 0
    blocks.foreach { b =>
      var acc = 0L
      while (acc < b.w) { acc += rows(bi).getAs[Long]("n"); perBin += b.s.toDouble / b.w; bi += 1 }
      assert(acc == b.w, "PAV blocks must align to bin boundaries")
    }
    assert(perBin.length == cal.length)
    cal.zip(perBin).foreach { case (got, exp) =>
      assert(math.abs(got - exp) < 1e-6, s"minimax $got vs sequential PAV $exp")
    }
    // pooled means preserve total positive mass
    val mass = rows.map(r => r.getAs[Long]("n").toDouble).zip(cal).map { case (n, c) => n * c }.sum
    val kTot = rows.map(_.getAs[Long]("k")).sum.toDouble
    assert(math.abs(mass - kTot) < kTot * 1e-5 + 1.0)
  }

  test("neyman allocation shares sum to one and scale with n·sigma") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("neyman_allocation")(spark, dir).cache()
    assert(df.count() == Tables.documents(spark, dir).select("source").distinct().count())
    assert(df.filter(col("sigma") < 0 || col("alloc_share") < 0).count() == 0)
    val total = df.agg(sum("alloc_share")).head().getDouble(0)
    assert(math.abs(total - 1.0) < 1e-4, s"shares sum to $total")
    val chk = df.filter(
      abs(col("alloc_10k") - col("alloc_share") * 10000) > 1.0).count()
    assert(chk == 0, "alloc_10k must be the share scaled to the 10k budget")
  }

  test("power analysis demands fewer samples for bigger lifts") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("power_analysis")(spark, dir).cache()
    assert(df.count() == 20, "5 types x 4 lifts")
    assert(df.filter(col("n_per_arm") <= 0).count() == 0)
    val bad = df.as("a").join(df.as("b"),
      col("a.event_type") === col("b.event_type") && col("a.lift") < col("b.lift")
        && col("a.n_per_arm") <= col("b.n_per_arm")).count()
    assert(bad == 0, "n_per_arm must strictly decrease as the detectable lift grows")
    assert(df.filter(abs(col("p1") - col("p0") * (lit(1.0) + col("lift"))) > 1e-4).count() == 0)
  }

  test("concentration report bounds HHI between 1/n and 1") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("concentration_report")(spark, dir).cache()
    assert(df.count() == 3)
    val bad = df.filter(
      col("hhi") > 1.000001 || col("hhi") * col("n_groups") < 0.999999
        || col("top1_share") * col("n_groups") < 0.999999
        || col("top1_share") > 1.000001).count()
    assert(bad == 0, "HHI ∈ [1/n, 1] and top1 ≥ 1/n")
    // effective_n inverts hhi and can't exceed the group count
    assert(df.filter(abs(col("effective_n") * col("hhi") - 1.0) > 1e-3).count() == 0)
    assert(df.filter(col("effective_n") > col("n_groups") + 0.001).count() == 0)
  }

  test("srm check balances the md5 split and flags consistently") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("ab_srm_check")(spark, dir).cache()
    assert(df.filter(col("day") === "ALL").count() == 1)
    assert(df.filter(col("srm_flag") =!= (abs(col("z_ratio")) > 3.0)).count() == 0)
    // the seeded-md5 device IS a fair coin: the overall split must not SRM
    val all = df.filter(col("day") === "ALL").head()
    assert(!all.getAs[Boolean]("srm_flag"),
      s"md5 50/50 split flagged SRM: ${all.getAs[Double]("z_ratio")}")
    // daily exposures cover every event day plus the rollup row
    val days = Tables.events(spark, dir).select(to_date(col("ts"))).distinct().count()
    assert(df.count() == days + 1)
  }

  test("did lift reconciles with its four cell rates") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("did_lift")(spark, dir).cache()
    val r = df.head()
    val did = (r.getAs[Double]("rate_b_post") - r.getAs[Double]("rate_b_pre")) -
      (r.getAs[Double]("rate_a_post") - r.getAs[Double]("rate_a_pre"))
    assert(math.abs(r.getAs[Double]("did") - did) < 5e-6)
    Seq("rate_a_pre", "rate_a_post", "rate_b_pre", "rate_b_post").foreach { c =>
      val v = r.getAs[Double](c); assert(v >= 0 && v <= 1, s"$c = $v out of [0,1]")
    }
    // no real treatment exists in synthetic data: DiD should be small
    assert(math.abs(r.getAs[Double]("did")) < 0.2)
  }

  test("ndcg is bounded and scores a self-ranking at exactly one") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("ndcg_report")(spark, dir).cache()
    assert(df.count() == 5, "one row per probe query")
    assert(df.filter(col("ndcg") < 0 || col("ndcg") > 1.000001).count() == 0)
    assert(df.filter(col("dcg") <= 0).count() == 0,
      "int8 keeps the top-10 set here, so every retrieved doc carries gain")
    // self-identity: the exact ranking scored against itself is 1.0
    val exact = graft.queries.TextOps.embedKnn(spark, dir)
      .select(col("query_id"), col("rn"))
    val selfDcg = exact
      .select(col("query_id"),
        round((lit(11L) - col("rn")).cast("double") /
          (log(col("rn").cast("double") + 1.0) / log(lit(2.0))), 12).as("t"))
      .groupBy("query_id").agg(sum("t").as("dcg"))
    val idcg = selfDcg.agg(max("dcg")).head().getDouble(0)
    assert(selfDcg.filter(abs(col("dcg") - idcg) > 1e-9).count() == 0,
      "every query's self-DCG equals the ideal DCG")
  }

  test("brier decomposition components reconcile") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("brier_decomposition")(spark, dir).cache()
    val r = df.head()
    val (brier, rel, res, unc) = (r.getAs[Double]("brier"), r.getAs[Double]("reliability"),
      r.getAs[Double]("resolution"), r.getAs[Double]("uncertainty"))
    assert(brier >= 0 && brier <= 1 && rel >= 0 && res >= 0 && unc >= 0 && unc <= 0.25)
    // Murphy identity holds up to the within-bin forecast variance
    // (bins are 0.1 wide, so the residual is bounded by 0.0025)
    assert(math.abs(brier - (rel - res + unc)) < 0.003,
      s"brier $brier vs rel-res+unc ${rel - res + unc}")
    // uncertainty is the base-rate variance of the label itself
    val docs = Tables.documents(spark, dir)
    val p = docs.filter(col("lang") === "en").count().toDouble / docs.count()
    assert(math.abs(unc - p * (1 - p)) < 1e-4)
  }

  test("hill estimator matches a driver-side order-statistic computation") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("hill_tail_index")(spark, dir).cache()
    val r = df.head()
    val k = r.getAs[Number]("k").longValue
    assert(k >= 1 && k <= 100)
    val gamma = r.getAs[Double]("gamma")
    assert(gamma > 0 && math.abs(r.getAs[Double]("alpha") - 1.0 / gamma) < 1e-3 * (1.0 / gamma))
    val xs = Tables.events(spark, dir).groupBy("user_id").count()
      .collect().map(_.getLong(1)).sorted(Ordering[Long].reverse)
    val kk = math.min(100, xs.length - 1)
    assert(k == kk)
    val xk1 = xs(kk).toDouble
    val expected = xs.take(kk).map(x => math.log(x / xk1)).sum / kk
    assert(math.abs(gamma - expected) < 1e-5, s"engine gamma $gamma vs driver $expected")
  }

  test("mann-kendall S matches a driver-side pair count") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("mann_kendall_trend")(spark, dir).cache()
    assert(df.count() == Tables.events(spark, dir).select("event_type").distinct().count())
    assert(df.filter(col("var_s") <= 0).count() == 0)
    val flagged = df.filter(
      (col("trend") === "rising" && (col("z") <= 1.96 || col("s") <= 0))
        || (col("trend") === "falling" && (col("z") >= -1.96 || col("s") >= 0))).count()
    assert(flagged == 0, "trend label must agree with z and the sign of S")
    // brute-force S for one type over the dense calendar
    val t = df.head().getAs[String]("event_type")
    val daily = Tables.events(spark, dir).filter(col("event_type") === t)
      .groupBy(to_date(col("ts")).as("d")).count()
      .collect().map(r => (r.getDate(0).toLocalDate.toEpochDay, r.getLong(1))).toMap
    val days = Tables.events(spark, dir)
      .agg(min(to_date(col("ts"))), max(to_date(col("ts")))).head()
    val (lo, hi) = (days.getDate(0).toLocalDate.toEpochDay, days.getDate(1).toLocalDate.toEpochDay)
    val xs = (lo to hi).map(k => daily.getOrElse(k, 0L)).toArray
    var sPair = 0L
    for (i <- xs.indices; j <- i + 1 until xs.length)
      sPair += java.lang.Long.signum(xs(j) - xs(i))
    val got = df.filter(col("event_type") === t).head().getAs[Long]("s")
    assert(got == sPair, s"engine S $got vs driver pair count $sPair")
  }

  test("heaps points grow monotonically and the fit is consistent") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("heaps_law_fit")(spark, dir).cache()
    assert(df.count() == 10)
    val rows = df.orderBy("p").collect()
    val nt = rows.map(_.getAs[Long]("n_tokens")); val vb = rows.map(_.getAs[Long]("vocab"))
    assert(nt.zip(nt.tail).forall { case (a, b) => b >= a })
    assert(vb.zip(vb.tail).forall { case (a, b) => b >= a })
    // the final prefix covers the whole corpus
    val allTok = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("t")).filter(col("t") =!= "")
    assert(nt.last == allTok.count())
    assert(vb.last == allTok.distinct().count())
    // one beta/k pair repeated on every row
    assert(df.select("beta").distinct().count() == 1)
    assert(df.select("k_coef").distinct().count() == 1)
  }

  test("kappa reconciles with its cells and never exceeds one") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("kappa_agreement")(spark, dir).cache()
    val r = df.head()
    val (n11, n10, n01, n00) = (r.getAs[Long]("n11"), r.getAs[Long]("n10"),
      r.getAs[Long]("n01"), r.getAs[Long]("n00"))
    val n = n11 + n10 + n01 + n00
    assert(n == Tables.documents(spark, dir).count(), "cells partition the corpus")
    val po = (n11 + n00).toDouble / n
    val pe = ((n11 + n10).toDouble * (n11 + n01) + (n01 + n00).toDouble * (n10 + n00)) / (n.toDouble * n)
    assert(math.abs(r.getAs[Double]("p_observed") - po) < 1e-5)
    assert(math.abs(r.getAs[Double]("p_chance") - pe) < 1e-5)
    val kappa = r.getAs[Double]("kappa")
    assert(math.abs(kappa - (po - pe) / (1 - pe)) < 1e-4)
    assert(kappa <= 1.000001 && kappa >= -1.000001)
  }

  test("entropy rate is bounded by the max entropy and matches a driver replay") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("entropy_rate")(spark, dir).cache()
    val r = df.head()
    val h = r.getAs[Double]("entropy_rate_bits")
    val hmax = r.getAs[Double]("max_entropy_bits")
    assert(h >= 0 && h <= hmax + 1e-6, s"H $h must lie in [0, $hmax]")
    assert(math.abs(r.getAs[Double]("predictability") - (1.0 - h / hmax)) < 1e-5)
    // replay from the oracle-verified transition matrix
    val m = SparkEntry.queries("markov_transitions")(spark, dir)
      .select("cur_type", "n").collect()
    val total = m.map(_.getAs[Long]("n")).sum.toDouble
    val rowTot = m.groupBy(_.getString(0)).view.mapValues(_.map(_.getAs[Long]("n")).sum).toMap
    val expected = -m.map { row =>
      val nij = row.getAs[Long]("n").toDouble
      nij / total * (math.log(nij / rowTot(row.getString(0))) / math.log(2.0))
    }.sum
    assert(math.abs(h - expected) < 1e-5, s"engine H $h vs replay $expected")
    assert(r.getAs[Long]("n_transitions") == total.toLong)
  }

  test("cv folds partition the corpus with bounded label skew") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("cv_fold_manifest")(spark, dir).cache()
    assert(df.count() == 5)
    assert(df.agg(sum("n_docs")).head().getLong(0) == Tables.documents(spark, dir).count())
    assert(math.abs(df.agg(sum("size_share")).head().getDouble(0) - 1.0) < 1e-4)
    // the md5 device spreads both size and label evenly
    assert(df.filter(abs(col("size_share") - 0.2) > 0.05).count() == 0,
      "each fold holds roughly a fifth of the corpus")
    // statistical bound: a random fold's rate is within ~4σ of the
    // corpus rate, σ = √(p(1−p)/n_fold)
    val p = df.agg(sum("n_en")).head().getLong(0).toDouble /
      df.agg(sum("n_docs")).head().getLong(0)
    val offenders = df.collect().count { r =>
      val nf = r.getAs[Long]("n_docs").toDouble
      math.abs(r.getAs[Double]("en_share_dev")) > 4 * math.sqrt(p * (1 - p) / nf)
    }
    assert(offenders == 0, "fold label rates stay within 4 sigma of the corpus rate")
  }

  test("dedup sweep is monotone in the threshold") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("dedup_threshold_sweep")(spark, dir).cache()
    assert(df.count() == 6)
    val rows = df.orderBy("threshold").collect()
    val merged = rows.map(_.getAs[Long]("n_merged"))
    assert(merged.zip(merged.tail).forall { case (a, b) => b <= a },
      "raising the cut can only merge fewer pairs")
    assert(rows.map(_.getAs[Long]("n_pairs")).distinct.length == 1,
      "every threshold sees the same probe pair set")
    val nDocs = Tables.documents(spark, dir).count()
    assert(rows.forall(r =>
      r.getAs[Long]("survivors_if_merged") == nDocs - r.getAs[Long]("n_merged")))
  }

  test("seasonal strength stays in [0,1] and reconciles with the components") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("seasonal_strength")(spark, dir).cache()
    val r = df.head()
    val (fs, ft) = (r.getAs[Double]("f_seasonal"), r.getAs[Double]("f_trend"))
    assert(fs >= 0 && fs <= 1 && ft >= 0 && ft <= 1)
    assert(r.getAs[Double]("var_resid") >= 0)
    // replay from the decompose table's columns
    val comp = SparkEntry.queries("seasonal_decompose")(spark, dir)
      .select("trend", "seasonal", "residual").collect()
      .map(x => (x.getDouble(0), x.getDouble(1), x.getDouble(2)))
    def variance(xs: Array[Double]) = {
      val m = xs.sum / xs.length; xs.map(v => (v - m) * (v - m)).sum / xs.length
    }
    val vr = variance(comp.map(_._3))
    val fsExp = math.max(0, 1 - vr / variance(comp.map(c => c._2 + c._3)))
    val ftExp = math.max(0, 1 - vr / variance(comp.map(c => c._1 + c._3)))
    assert(math.abs(fs - fsExp) < 1e-4, s"f_seasonal $fs vs replay $fsExp")
    assert(math.abs(ft - ftExp) < 1e-4, s"f_trend $ft vs replay $ftExp")
    assert(r.getAs[Long]("n_days") == comp.length)
  }

  test("embed outliers carry the largest standardized scores") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("embed_outlier_report")(spark, dir).cache()
    assert(df.count() == 20)
    assert(df.filter(col("score") < 0).count() == 0)
    val scores = df.orderBy(col("score").desc).collect().map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // a standardized sum over 64 dims has expectation ~64: the top-20
    // must sit above the expectation, else they are not outliers
    assert(scores.head > 64.0, s"top outlier score ${scores.head} should exceed E[chi2_64]")
    assert(df.select("vec_id").distinct().count() == 20)
  }

  test("modularity totals conserve and Q stays in its theoretical band") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("graph_modularity")(spark, dir).cache()
    val total = df.filter(col("community") === -1).head()
    val q = total.getAs[Double]("q_term")
    assert(q >= -0.5 && q <= 1.0, s"modularity $q outside [-1/2, 1]")
    val parts = df.filter(col("community") =!= -1).cache()
    assert(parts.agg(sum("n_nodes")).head().getLong(0) == total.getAs[Long]("n_nodes"))
    assert(parts.agg(sum("vol")).head().getLong(0) == total.getAs[Long]("vol"))
    // per-community q terms sum to the total (up to 6-dp emits)
    val sumQ = parts.agg(sum("q_term")).head().getDouble(0)
    assert(math.abs(sumQ - q) < 1e-4 * math.max(1, parts.count()))
    assert(parts.filter(col("conductance") < 0 || col("conductance") > 1.000001).count() == 0)
    assert(parts.filter(col("cut_edges") < 0 || col("cut_edges") > col("vol")).count() == 0)
  }

  test("covariate balance reflects the fair md5 split") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("covariate_balance_smd")(spark, dir).cache()
    assert(df.count() == 4)
    assert(df.filter(col("imbalanced") =!= (abs(col("smd")) > 0.1)).count() == 0)
    // replay one covariate's SMD driver-side
    val pu = Tables.events(spark, dir).groupBy("user_id").count()
      .withColumn("arm",
        when(md5(concat(lit("exp1:"), col("user_id").cast("string"))) < "8", "A").otherwise("B"))
      .collect().map(r => (r.getAs[String]("arm"), r.getAs[Long]("count").toDouble))
    // randomization by hash: SMD stays within sampling noise of zero,
    // SE(SMD) ≈ √(1/nA + 1/nB)
    val nA = pu.count(_._1 == "A").toDouble; val nB = pu.count(_._1 == "B").toDouble
    val bound = 5 * math.sqrt(1 / nA + 1 / nB)
    assert(df.filter(abs(col("smd")) > bound).count() == 0,
      s"the md5 arms are randomized, so |SMD| must stay under $bound")
    def stats(xs: Array[Double]) = {
      val m = xs.sum / xs.length
      (m, xs.map(v => (v - m) * (v - m)).sum / xs.length)
    }
    val (ma, va) = stats(pu.filter(_._1 == "A").map(_._2))
    val (mb, vb) = stats(pu.filter(_._1 == "B").map(_._2))
    val expected = (ma - mb) / math.sqrt((va + vb) / 2)
    val got = df.filter(col("cov") === "n_events").head().getAs[Double]("smd")
    assert(math.abs(got - expected) < 1e-4, s"engine SMD $got vs replay $expected")
  }

  test("cold start shares are monotone and consistent") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("cold_start_coverage")(spark, dir).cache()
    assert(df.count() == 4)
    val rows = df.orderBy("threshold").collect()
    val us = rows.map(_.getAs[Double]("cold_user_share"))
    val es = rows.map(_.getAs[Double]("cold_event_share"))
    assert(us.zip(us.tail).forall { case (a, b) => b >= a - 1e-9 })
    assert(es.zip(es.tail).forall { case (a, b) => b >= a - 1e-9 })
    // cold users carry at most their user share of events (each has < t)
    rows.foreach { r =>
      assert(r.getAs[Double]("cold_event_share") <= r.getAs[Double]("cold_user_share") + 1e-9,
        "below-threshold users cannot carry an above-average event share")
    }
    assert(rows.map(_.getAs[Long]("n_users")).distinct.length == 1)
  }

  test("durbin-watson sits in [0,4] and ties to rho") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("durbin_watson")(spark, dir).cache()
    val r = df.head()
    val dw = r.getAs[Double]("dw")
    assert(dw >= 0 && dw <= 4, s"DW $dw outside [0,4]")
    assert(math.abs(r.getAs[Double]("rho1") - (1 - dw / 2)) < 1e-5)
    // replay from the decompose residuals
    val res = SparkEntry.queries("seasonal_decompose")(spark, dir)
      .orderBy("day").collect().map(_.getAs[Double]("residual"))
    val sd = res.zip(res.tail).map { case (a, b) => (b - a) * (b - a) }.sum
    val ss = res.map(v => v * v).sum
    assert(math.abs(dw - sd / ss) < 1e-4, s"engine DW $dw vs replay ${sd / ss}")
    assert(r.getAs[Long]("n_days") == res.length)
  }

  test("char entropy is bounded by the alphabet size") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("char_entropy_report")(spark, dir).cache()
    assert(df.count() == Tables.documents(spark, dir).select("source").distinct().count())
    val bad = df.collect().count { r =>
      val h = r.getAs[Double]("entropy_bits_per_char")
      val hmax = math.log(r.getAs[Long]("n_distinct").toDouble) / math.log(2.0)
      h < 0 || h > hmax + 1e-6
    }
    assert(bad == 0, "0 <= H <= log2(distinct chars)")
    // character mass reconciles with the documents' total text length
    val totalChars = Tables.documents(spark, dir)
      .agg(sum(length(col("text")))).head().getLong(0)
    assert(df.agg(sum("n_chars")).head().getLong(0) == totalChars)
  }

  test("bloom advisor sizing follows the closed form") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("bloom_sizing_advisor")(spark, dir).cache()
    assert(df.count() == 6)
    // tighter FPR always costs more bits; k ≈ 9.6 bits/key * ln2 at 0.1%
    val byEdge = df.collect().groupBy(_.getAs[String]("edge"))
    byEdge.values.foreach { rows =>
      val m = rows.sortBy(_.getAs[Double]("fpr")).map(_.getAs[Double]("m_bits"))
      assert(m.head > m.last, "0.1% FPR needs more bits than 1%")
    }
    df.collect().foreach { r =>
      val n = r.getAs[Long]("n_keys").toDouble
      val m = -n * math.log(r.getAs[Double]("fpr")) / (math.log(2) * math.log(2))
      assert(math.abs(r.getAs[Double]("m_bits") - m) < 0.51, "closed form must match")
      assert(math.abs(r.getAs[Double]("k_hashes") - m / n * math.log(2)) < 0.02)
    }
  }

  test("watermark loss sweep is monotone in the delay") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("watermark_loss_sweep")(spark, dir).cache()
    assert(df.count() == 25, "5 types x 5 delays")
    val bad = df.as("a").join(df.as("b"),
      col("a.event_type") === col("b.event_type") && col("a.delay_s") < col("b.delay_s")
        && col("a.n_dropped") < col("b.n_dropped")).count()
    assert(bad == 0, "a longer delay can only drop fewer events")
    assert(df.filter(col("n_dropped") > col("n_events")).count() == 0)
    // the sweep's row at the advisor's p99 must drop at most ~1%
    assert(df.filter(col("drop_share") < 0 || col("drop_share") > 1).count() == 0)
  }

  test("position attribution conserves one credit per journey") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("position_attribution")(spark, dir).cache()
    val totalCredit = df.agg(sum("credit")).head().getDouble(0)
    val journeys = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("ts").as("fp_ts"))
      .join(Tables.events(spark, dir), Seq("user_id"))
      .filter(col("ts") < col("fp_ts"))
      .select("user_id").distinct().count()
    assert(math.abs(totalCredit - journeys) < 1e-3 * journeys + 0.01,
      s"credits $totalCredit must sum to one per journey ($journeys)")
    assert(df.filter(col("credit") < 0).count() == 0)
    assert(math.abs(df.agg(sum("credit_share")).head().getDouble(0) - 1.0) < 1e-4)
  }

  test("jarque-bera moments match a driver-side computation") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("jarque_bera_report")(spark, dir).cache()
    assert(df.count() == Tables.documents(spark, dir).select("source").distinct().count())
    assert(df.filter(col("non_normal") =!= (col("jarque_bera") > 5.99)).count() == 0)
    assert(df.filter(col("jarque_bera") < 0).count() == 0)
    val src = df.head().getAs[String]("source")
    val xs = Tables.documents(spark, dir).filter(col("source") === src)
      .select("n_chars").collect().map(_.getLong(0).toDouble)
    val n = xs.length.toDouble
    val mu = xs.sum / n
    val m2 = xs.map(v => (v - mu) * (v - mu)).sum / n
    val m3 = xs.map(v => math.pow(v - mu, 3)).sum / n
    val m4 = xs.map(v => math.pow(v - mu, 4)).sum / n
    val skew = m3 / math.pow(m2, 1.5)
    val kurt = m4 / (m2 * m2) - 3
    val r = df.filter(col("source") === src).head()
    assert(math.abs(r.getAs[Double]("skewness") - skew) < 1e-4)
    assert(math.abs(r.getAs[Double]("excess_kurtosis") - kurt) < 1e-4)
    assert(math.abs(r.getAs[Double]("jarque_bera") - n / 6 * (skew * skew + kurt * kurt / 4)) < 0.01)
  }

  test("cluster size distribution conserves docs and clusters") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("cluster_size_dist")(spark, dir).cache()
    val docsTotal = df.agg(sum("docs_in_size")).head().getLong(0)
    assert(docsTotal == Tables.documents(spark, dir).count(),
      "every doc sits in exactly one cluster")
    assert(math.abs(df.agg(sum("doc_share")).head().getDouble(0) - 1.0) < 1e-4)
    assert(math.abs(df.agg(sum("cluster_share")).head().getDouble(0) - 1.0) < 1e-4)
    assert(df.filter(col("cluster_size") < 1).count() == 0)
    // sizes reconcile with the clusters op itself
    val direct = SparkEntry.queries("dedup_clusters")(spark, dir)
      .groupBy("cluster").count().groupBy("count").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    df.collect().foreach { r =>
      assert(direct(r.getAs[Long]("cluster_size")) == r.getAs[Long]("n_clusters_of_size"))
    }
  }

  test("token burstiness exceeds one for the bursty tail") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("token_burstiness")(spark, dir).cache()
    assert(df.count() == 20)
    assert(df.filter(col("df") < 5).count() == 0)
    assert(df.filter(col("total_occ") < col("df")).count() == 0,
      "total occurrences can't undercut document frequency")
    val scores = df.orderBy(col("vmr").desc).collect().map(_.getAs[Double]("vmr"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    assert(scores.forall(_ >= 0), "VMR of counts is non-negative")
  }

  test("log-odds keyness is antisymmetric in the corpora") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("log_odds_keyness")(spark, dir).cache()
    assert(df.count() == 20)
    assert(df.select("token").distinct().count() == 20)
    // sign agreement: a token overrepresented in A has positive delta and z
    assert(df.filter(col("log_odds") * col("z") < 0).count() == 0,
      "delta and its z-score must share a sign")
    // |z| ranking is what the top-20 was cut on
    val zs = df.orderBy(abs(col("z")).desc).collect().map(r => math.abs(r.getAs[Double]("z")))
    assert(zs.zip(zs.tail).forall { case (a, b) => a >= b })
  }

  test("acf matches a driver-side replay and bounds hold") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("acf_table")(spark, dir).cache()
    assert(df.count() == 14)
    assert(df.filter(col("acf") < -1.000001 || col("acf") > 1.000001).count() == 0)
    assert(df.filter(col("significant") =!= (abs(col("acf")) > col("white_band"))).count() == 0)
    // replay lag-1 and lag-7 from the dense daily series
    val daily = Tables.events(spark, dir).groupBy(to_date(col("ts")).as("d")).count()
      .collect().map(r => (r.getDate(0).toLocalDate.toEpochDay, r.getLong(1))).toMap
    val (lo, hi) = (daily.keys.min, daily.keys.max)
    val xs = (lo to hi).map(k => daily.getOrElse(k, 0L).toDouble).toArray
    val mu = xs.sum / xs.length
    val den = xs.map(v => (v - mu) * (v - mu)).sum
    def acf(l: Int) = (l until xs.length).map(t => (xs(t) - mu) * (xs(t - l) - mu)).sum / den
    Seq(1, 7).foreach { l =>
      val got = df.filter(col("lag") === l).head().getAs[Double]("acf")
      assert(math.abs(got - acf(l)) < 1e-5, s"lag $l: engine $got vs replay ${acf(l)}")
    }
  }

  test("ess efficiency is bounded by one and hit only at uniform weights") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("ess_report")(spark, dir).cache()
    val r = df.head()
    val eff = r.getAs[Double]("efficiency")
    assert(eff > 0 && eff <= 1.000001, s"Kish efficiency $eff must lie in (0,1]")
    assert(r.getAs[Double]("ess_tokens") <= r.getAs[Long]("total_tokens") + 1)
    // replay from the weights table
    val w = SparkEntry.queries("corpus_mix_weights")(spark, dir)
      .select("kept_tokens", "weight").collect()
      .map(x => (x.getAs[Long]("kept_tokens").toDouble, x.getAs[Double]("weight")))
    val sw = w.map { case (t, wt) => t * wt }.sum
    val sw2 = w.map { case (t, wt) => t * wt * wt }.sum
    assert(math.abs(r.getAs[Double]("ess_tokens") - sw * sw / sw2) < 1.0)
  }

  test("attribution window sweep shares sum to one per window") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("attribution_window_sweep")(spark, dir).cache()
    val perWindow = df.groupBy("window_days")
      .agg(sum("share").as("s"), sum("n_users").as("u")).collect()
    assert(perWindow.length == 4)
    perWindow.foreach { r =>
      assert(math.abs(r.getAs[Double]("s") - 1.0) < 1e-4,
        s"window ${r.get(0)} shares sum to ${r.getAs[Double]("s")}")
    }
    // the infinite window reproduces last-touch over the full journey:
    // its user total equals the journey count
    val journeys = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("ts").as("fp_ts"))
      .join(Tables.events(spark, dir), Seq("user_id"))
      .filter(col("ts") < col("fp_ts")).select("user_id").distinct().count()
    val inf = perWindow.find(_.getAs[Number]("window_days").longValue == 9999L).get
    assert(inf.getAs[Long]("u") == journeys)
    // narrower windows can only lose users
    val us = perWindow.sortBy(_.getAs[Number]("window_days").longValue).map(_.getAs[Long]("u"))
    assert(us.zip(us.tail).forall { case (a, b) => a <= b })
  }

  test("emd drift matches a driver-side ECDF integral") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("emd_drift")(spark, dir).cache()
    assert(df.count() == 5)
    assert(df.filter(col("emd_chars") < 0).count() == 0)
    val docs = Tables.documents(spark, dir).filter(col("lang") === "en")
      .select("doc_id", "n_chars").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = docs.map(_._1); val (lo, hi) = (ids.min, ids.max)
    val first = docs.filter { case (id, _) => (id - lo) * 2 <= (hi - lo) }.map(_._2)
    val second = docs.filter { case (id, _) => (id - lo) * 2 > (hi - lo) }.map(_._2)
    val vals = (first ++ second).distinct.sorted
    val emd = vals.zip(vals.tail).map { case (v, vn) =>
      math.abs(first.count(_ <= v).toDouble / first.length
        - second.count(_ <= v).toDouble / second.length) * (vn - v)
    }.sum
    val got = df.filter(col("lang") === "en").head().getAs[Double]("emd_chars")
    assert(math.abs(got - emd) < 1e-5, s"engine EMD $got vs driver $emd")
  }

  test("variance ratios are positive and replayed at q=2") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("variance_ratio_test")(spark, dir).cache()
    assert(df.count() == 3)
    assert(df.filter(col("vr") <= 0).count() == 0)
    val bad = df.filter(
      (col("reading") === "trending" && col("vr") <= 1.2)
        || (col("reading") === "mean_reverting" && col("vr") >= 0.8)
        || (col("reading") === "random_walk_band" && (col("vr") > 1.2 || col("vr") < 0.8))).count()
    assert(bad == 0)
    val daily = Tables.events(spark, dir).groupBy(to_date(col("ts")).as("d")).count()
      .collect().map(r => (r.getDate(0).toLocalDate.toEpochDay, r.getLong(1))).toMap
    val (lo, hi) = (daily.keys.min, daily.keys.max)
    val xs = (lo to hi).map(k => daily.getOrElse(k, 0L).toDouble).toArray
    def variance(v: Array[Double]) = {
      val m = v.sum / v.length; v.map(x => (x - m) * (x - m)).sum / v.length
    }
    val sums2 = xs.sliding(2).map(_.sum).toArray
    val expected = variance(sums2) / (2 * variance(xs))
    val got = df.filter(col("q") === 2).head().getAs[Double]("vr")
    assert(math.abs(got - expected) < 1e-5, s"engine VR(2) $got vs driver $expected")
  }

  test("churn life table conserves users and reads censoring correctly") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("churn_hazard")(spark, dir).cache()
    val users = Tables.events(spark, dir).select("user_id").distinct().count()
    assert(df.agg(sum(col("churned") + col("censored"))).head().getLong(0) == users,
      "every user is either churned or censored exactly once")
    val first = df.orderBy("tenure_week").head()
    assert(first.getAs[Long]("at_risk") == users,
      "the earliest week's risk set is the whole population")
    assert(df.filter(col("hazard") < 0 || col("hazard") > 1).count() == 0)
    val surv = df.orderBy("tenure_week").collect().map(_.getAs[Double]("survival"))
    assert(surv.zip(surv.tail).forall { case (a, b) => b <= a + 1e-9 },
      "survival can only decline")
    // on this synthetic data everyone is active near the horizon: the
    // censoring logic must NOT read that as churn
    val censoredShare = df.agg(sum("censored")).head().getLong(0).toDouble / users
    assert(censoredShare > 0.9, "still-active users are censored, not churned")
  }

  test("session gap sweep breaks monotonically fewer pairs as the gap widens") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("session_gap_sensitivity")(spark, dir).cache()
    assert(df.count() == 3)
    val rows = df.orderBy("gap_s").collect()
    val sessions = rows.map(_.getAs[Long]("n_sessions"))
    assert(sessions.zip(sessions.tail).forall { case (a, b) => b <= a },
      "a wider gap can only merge sessions")
    val users = Tables.events(spark, dir).select("user_id").distinct().count()
    assert(sessions.forall(_ >= users), "each user contributes at least one session")
    val nEvents = Tables.events(spark, dir).count()
    rows.foreach { r =>
      val eps = r.getAs[Double]("events_per_session")
      assert(math.abs(eps - nEvents.toDouble / r.getAs[Long]("n_sessions")) < 1e-4)
    }
    // the 30m row must agree with the sessionize op's session count
    val s30 = SparkEntry.queries("sessionize")(spark, dir).count()
    assert(rows(1).getAs[Long]("n_sessions") == s30,
      s"30m sweep row ${rows(1).getAs[Long]("n_sessions")} vs sessionize $s30")
  }

  test("pii density reconciles with the per-doc scrub counts") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("pii_density_report")(spark, dir).cache()
    assert(df.count() == Tables.documents(spark, dir).select("source").distinct().count())
    // every doc gets exactly one planted email and phone, so densities
    // must be AT LEAST 1000/1k; organic text may add more
    assert(df.filter(col("emails_per_1k") < 1000 || col("phones_per_1k") < 1000).count() == 0)
    assert(df.filter(abs(col("pii_doc_share") - 1.0) > 1e-9).count() == 0,
      "the planting rule touches every document")
    val totalEmails = df.agg(sum("n_emails")).head().getLong(0)
    val scrub = SparkEntry.queries("pii_scrub")(spark, dir)
      .agg(sum("n_emails")).head().getLong(0)
    assert(totalEmails == scrub, "report totals must match the scrub op")
  }

  test("weekend effect matches a driver-side welch z") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("weekend_effect")(spark, dir).cache()
    val r = df.head()
    assert(r.getAs[Boolean]("significant") == (math.abs(r.getAs[Double]("welch_z")) > 1.96))
    val daily = Tables.events(spark, dir)
      .groupBy(floor(unix_timestamp(col("ts")) / 86400).as("ed")).count()
      .collect().map(x => (x.getLong(0), x.getLong(1).toDouble))
    val (we, wd) = daily.partition { case (ed, _) =>
      val dow = ((ed + 4) % 7 + 7) % 7; dow == 6 || dow == 0
    }
    def stats(xs: Array[Double]) = {
      val m = xs.sum / xs.length
      (m, xs.map(v => (v - m) * (v - m)).sum / xs.length, xs.length)
    }
    val (mw, vw, nw) = stats(we.map(_._2)); val (md, vd, nd) = stats(wd.map(_._2))
    val z = (mw - md) / math.sqrt(vw / nw + vd / nd)
    assert(r.getAs[Long]("n_weekend_days") == nw && r.getAs[Long]("n_weekday_days") == nd)
    assert(math.abs(r.getAs[Double]("welch_z") - z) < 1e-3, s"engine z vs replay $z")
  }

  test("pacf matches a driver-side durbin-levinson replay") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("pacf_table")(spark, dir).cache()
    assert(df.count() == 14)
    assert(df.filter(col("significant") =!= (abs(col("pacf")) > col("white_band"))).count() == 0)
    val acf = SparkEntry.queries("acf_table")(spark, dir)
      .orderBy("lag").collect().map(_.getAs[Double]("acf"))
    // classic DL with the op's own 12-dp step rounding
    def r12(x: Double) = BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    var phis = Array(acf(0)); var v = r12(1.0 - acf(0) * acf(0))
    val pacf = scala.collection.mutable.ArrayBuffer(acf(0))
    for (k <- 2 to 14) {
      val dot = phis.zip(acf.slice(0, k - 1).reverse).map { case (a, b) => a * b }.sum
      val pkk = r12((acf(k - 1) - dot) / v)
      phis = phis.zip(phis.reverse).map { case (p, q) => p - pkk * q } :+ pkk
      v = r12(v * (1 - pkk * pkk))
      pacf += pkk
    }
    val got = df.orderBy("lag").collect().map(_.getAs[Double]("pacf"))
    got.zip(pacf).zipWithIndex.foreach { case ((g, e), i) =>
      assert(math.abs(g - e) < 1e-6, s"lag ${i + 1}: engine $g vs DL replay $e")
    }
    // pacf(1) must equal acf(1) by definition
    assert(math.abs(got.head - acf.head) < 1e-9)
  }

  test("ljung-box reconciles with the acf terms") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("ljung_box")(spark, dir).cache()
    val r = df.head()
    assert(r.getAs[Boolean]("reject_whiteness")
      == (r.getAs[Double]("q_stat") > r.getAs[Double]("chi2_cut_5pct")))
    assert(r.getAs[Double]("q_stat") >= 0)
    val n = r.getAs[Number]("n_days").doubleValue
    val acf = SparkEntry.queries("acf_table")(spark, dir)
      .orderBy("lag").collect()
    val q = n * (n + 2) * acf.map { a =>
      val rk = a.getAs[Double]("acf"); rk * rk / (n - a.getAs[Int]("lag"))
    }.sum
    assert(math.abs(r.getAs[Double]("q_stat") - q) < 0.01, s"engine Q vs replay $q")
    // the synthetic volume is near-uniform across days, so the test
    // verdict itself is data-dependent; what must hold is the identity
    // between Q and the ACF it chains on (checked above)
  }

  test("anova reconciles with per-group moments") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("anova_length")(spark, dir).cache()
    val r = df.head()
    assert(r.getAs[Long]("n_groups") == 5)
    val eta = r.getAs[Double]("eta_sq")
    assert(eta >= 0 && eta <= 1)
    assert(r.getAs[Boolean]("significant")
      == (r.getAs[Double]("f_stat") > r.getAs[Double]("f_cut_5pct_df4")))
    val xs = Tables.documents(spark, dir).select("lang", "n_chars").collect()
      .map(x => (x.getString(0), x.getLong(1).toDouble))
    val byLang = xs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val grand = xs.map(_._2).sum / xs.length
    val ssb = byLang.values.map(g => g.length * math.pow(g.sum / g.length - grand, 2)).sum
    val ssw = byLang.values.map(g => { val m = g.sum / g.length; g.map(v => (v - m) * (v - m)).sum }).sum
    val f = (ssb / 4) / (ssw / (xs.length - 5))
    assert(math.abs(r.getAs[Double]("f_stat") - f) < 0.01, s"engine F vs replay $f")
  }

  test("k-anonymity sweep trades utility for anonymity monotonically") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("k_anonymity_sweep")(spark, dir).cache()
    assert(df.count() == 4)
    val rows = df.orderBy("band_width").collect()
    val classes = rows.map(_.getAs[Long]("n_classes"))
    assert(classes.zip(classes.tail).forall { case (a, b) => b <= a },
      "coarser bands can only merge classes")
    val s5 = rows.map(_.getAs[Double]("share_below_k5"))
    assert(s5.zip(s5.tail).forall { case (a, b) => b <= a + 1e-9 },
      "coarser bands can only shrink the sub-k population")
    rows.foreach { r =>
      assert(r.getAs[Double]("share_below_k5") <= r.getAs[Double]("share_below_k10") + 1e-9)
      assert(r.getAs[Long]("min_class") >= 1)
    }
  }

  test("embed drift report covers every dimension and splits the vector set in two") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("embed_drift_report")(spark, dir).cache()
    assert(df.count() == 64, "one row per embedding dimension")
    val vecs = Tables.embeddings(spark, dir).count()
    assert(df.filter(col("n1") + col("n2") =!= vecs).count() == 0,
      "halves must partition the vector set")
    // synthetic vectors are id-stationary: no dimension should show a
    // absurd shift (|z| < 10 is a loose sanity bound, not a tuning)
    assert(df.filter(abs(col("shift_z")) > 10).count() == 0)
  }

  test("edit-distance dedup recovers every planted variant pair") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("dedup_editdist")(spark, dir).cache()
    val planted = Tables.documents(spark, dir)
      .filter(length(col("text")) >= 20 && col("doc_id") % 89 === 0).count()
    assert(planted > 0, "the planting rule must select some docs at sf0.001")
    val recovered = df.filter(col("b") - col("a") === 1000000L)
    assert(recovered.count() == planted,
      "every planted twin shares its block key and sits within distance 2")
    // the mutation touches exactly chars 9-10 of the prefix
    assert(recovered.filter(col("dist") > 2).count() == 0)
    assert(df.filter(col("sim") < 0 || col("sim") > 1).count() == 0)
    assert(df.filter(col("dist") > 6).count() == 0, "threshold respected")
  }

  test("log-rank test conserves users and events and keys the flag off chi2") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("logrank_test")(spark, dir).cache()
    assert(df.count() == 1)
    val r = df.head()
    val users = Tables.events(spark, dir).select("user_id").distinct().count()
    val buyers = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase").select("user_id").distinct().count()
    assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") == users,
      "the hash split must partition the user set")
    assert(r.getAs[Long]("conv_a") + r.getAs[Long]("conv_b") == buyers,
      "every purchasing user contributes exactly one event")
    val e1 = r.getAs[Double]("expected_a")
    assert(e1 >= 0 && e1 <= buyers, "expected events bounded by total events")
    val chi2 = r.getAs[Double]("chi2")
    assert(chi2 >= 0)
    assert(r.getAs[Boolean]("significant") == (chi2 > 3.841))
  }

  test("mann-whitney U matches a brute-force pairwise count") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("mann_whitney_test")(spark, dir).cache()
    assert(df.count() == 1)
    val r = df.head()
    val na = r.getAs[Long]("n_en"); val nb = r.getAs[Long]("n_other")
    val u2 = r.getAs[Long]("u2")
    assert(u2 >= 0 && u2 <= 2 * na * nb, "2U bounded by the pair space")
    assert(r.getAs[Boolean]("significant") == (math.abs(r.getAs[Double]("z")) > 1.96))
    // brute-force 2U over the (bounded at sf0.001) en x other pair space
    val docs = Tables.documents(spark, dir).select(col("n_chars"), col("lang"))
    val en = docs.filter(col("lang") === "en").select(col("n_chars").as("ve"))
    val ot = docs.filter(col("lang") =!= "en").select(col("n_chars").as("vo"))
    val u2Direct = en.crossJoin(ot)
      .agg(sum(when(col("ve") > col("vo"), 2L)
        .when(col("ve") === col("vo"), 1L).otherwise(0L))).head().getLong(0)
    assert(u2 == u2Direct, s"histogram 2U $u2 vs pairwise $u2Direct")
  }

  test("kruskal-wallis rank sums satisfy the total-rank identity") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("kruskal_wallis")(spark, dir).cache()
    assert(df.count() == 1)
    val r = df.head()
    val n = r.getAs[Long]("n_docs")
    assert(n == Tables.documents(spark, dir).count())
    // sum of doubled midrank sums over all groups = N(N+1) exactly
    assert(r.getAs[Long]("r2sum") == n * (n + 1),
      "doubled rank sums must total the full rank mass")
    assert(r.getAs[Long]("n_groups") == Tables.documents(spark, dir)
      .select("lang").distinct().count())
    assert(r.getAs[Double]("h_stat") >= -1e-6)
    assert(r.getAs[Boolean]("significant") ==
      (r.getAs[Double]("h_tie_corrected") > 9.488))
  }

  test("l-diversity classes partition the customers and l is bounded by size") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("l_diversity_report")(spark, dir).cache()
    val total = Tables.customer(spark, dir).count()
    assert(df.agg(sum("class_size")).head().getLong(0) == total)
    assert(df.filter(col("l_distinct") > col("class_size") || col("l_distinct") < 1).count() == 0)
    assert(df.filter(col("l_distinct") > 5).count() == 0, "only five segments exist")
    assert(df.filter(col("below_l3") =!= (col("l_distinct") < 3)).count() == 0)
  }

  test("bigram PMI rows respect the count floor and marginal bounds") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("bigram_pmi")(spark, dir).cache()
    assert(df.count() > 0 && df.count() <= 50)
    assert(df.filter(col("c") < 5).count() == 0, "count floor is 5")
    // a pair's count can never exceed either of its position marginals
    assert(df.filter(col("c") > col("c1") || col("c") > col("c2")).count() == 0)
    // ordering: rounded PMI descending with (w1, w2) tie-break
    val pmis = df.select(col("pmi")).collect().map(_.getDouble(0)).toSeq
    assert(pmis == pmis.sortBy(-_), "rows must be sorted by PMI descending")
  }

  test("contamination gram sweep: flagging is anti-monotone in n") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("contamination_gram_sweep")(spark, dir).cache()
    val rows = df.orderBy(col("n")).collect()
    assert(rows.map(_.getAs[Int]("n")).toSeq == Seq(3, 4, 6, 8))
    // every shared n-gram contains shared shorter grams, so a doc
    // flagged at n is flagged at every smaller n: counts fall as n grows
    val flagged = rows.map(_.getAs[Long]("docs_flagged")).toSeq
    assert(flagged == flagged.sorted.reverse,
      s"docs flagged must be anti-monotone in gram size, got $flagged")
    rows.foreach { r =>
      assert(r.getAs[Long]("docs_flagged") <= r.getAs[Long]("train_docs"))
      assert(r.getAs[Double]("flagged_share") >= 0.0 &&
        r.getAs[Double]("flagged_share") <= 1.0)
    }
  }

  test("packing budget sweep: conservation, monotone truncation, ceil bound") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("packing_budget_sweep")(spark, dir).cache()
    assert(df.select("budget").distinct().count() == 4)
    // kept + lost = total, and the no-split bound holds: min_sequences·L >= kept
    assert(df.filter(col("kept_tokens") > col("total_tokens")).count() == 0)
    assert(df.filter(col("min_sequences") * col("budget") < col("kept_tokens")).count() == 0)
    assert(df.filter((col("min_sequences") - 1) * col("budget") >= col("kept_tokens")).count() == 0,
      "min_sequences must be the exact ceiling")
    // larger budgets can only keep more tokens (per source)
    val viol = df.as("a").join(df.as("b"),
      col("a.source") === col("b.source") && col("a.budget") < col("b.budget"))
      .filter(col("a.kept_tokens") > col("b.kept_tokens"))
      .count()
    assert(viol == 0, "kept tokens must be monotone in the budget")
  }

  test("PCA power iteration: unit loadings, positive lead eigenvalue bounded by trace") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("embed_pca_power")(spark, dir).cache()
    assert(df.count() == 64, "one loading per embedding dim")
    val rows = df.collect()
    val norm2 = rows.map(r => math.pow(r.getAs[Double]("loading"), 2)).sum
    assert(math.abs(norm2 - 1.0) < 1e-3, s"loadings must be unit-norm, got |v|^2=$norm2")
    val lam = rows.head.getAs[Double]("lead_eigenvalue")
    val share = rows.head.getAs[Double]("explained_share")
    assert(lam > 0, "covariance is PSD: the Rayleigh quotient is positive")
    assert(share > 0 && share <= 1.0 + 1e-9, s"eigenvalue cannot exceed the trace, share=$share")
    // all 64 rows carry the same scalar summary
    assert(rows.forall(r => r.getAs[Double]("lead_eigenvalue") == lam))
  }

  test("granger F-test: nested models, SSR_u <= SSR_r, F >= 0, both directions") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("granger_daily")(spark, dir).cache()
    val rows = df.collect()
    assert(rows.map(_.getAs[String]("direction")).toSeq.sorted ==
      Seq("purchase_to_view", "view_to_purchase"))
    rows.foreach { r =>
      val ssrR = r.getAs[Double]("ssr_restricted")
      val ssrU = r.getAs[Double]("ssr_unrestricted")
      // adding a regressor can never worsen an OLS fit (tiny slack for
      // the 6-dp emit rounding)
      assert(ssrU <= ssrR + 1e-5, s"nested-model SSR violated: $ssrU > $ssrR")
      assert(r.getAs[Double]("f_stat") >= -1e-6)
      assert(r.getAs[Boolean]("lagged_signal") == (r.getAs[Double]("f_stat") > 4.0))
      assert(r.getAs[Long]("n") >= 2)
    }
  }

  test("welch t-test: one row per lang pair, symmetric sign, t/d agree in direction") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("welch_t_test")(spark, dir).cache()
    val langs = Tables.documents(spark, dir).select("lang").distinct().count()
    assert(df.count() == langs * (langs - 1) / 2, "one row per unordered pair")
    assert(df.filter(col("lang_a") >= col("lang_b")).count() == 0)
    df.collect().foreach { r =>
      val t = r.getAs[Double]("t_stat")
      val d = r.getAs[Double]("cohens_d")
      // t and Cohen's d share the numerator mean_a - mean_b: same sign
      assert(t * d >= 0, s"t=$t and d=$d must agree in sign")
      val dfW = r.getAs[Double]("df_welch")
      val nA = r.getAs[Long]("n_a"); val nB = r.getAs[Long]("n_b")
      // Welch df is bounded by min(n)-1 below and n_a+n_b-2 above
      assert(dfW >= math.min(nA, nB) - 1 - 1e-6 && dfW <= nA + nB - 2 + 1e-6,
        s"df_welch=$dfW out of [${math.min(nA, nB) - 1}, ${nA + nB - 2}]")
      assert(r.getAs[Boolean]("significant") == (math.abs(t) > 1.96))
    }
  }

  test("OLS regression: R2 in [0,1], t-slope sign matches slope, fit passes the mean point") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("ols_regression")(spark, dir).cache()
    assert(df.count() == 3, "one row per return flag")
    // cross-check against raw moments for one group
    val raw = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "A")
      .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val n = raw.length.toDouble
    val mx = raw.map(_._1).sum / n; val my = raw.map(_._2).sum / n
    val sxx = raw.map(p => (p._1 - mx) * (p._1 - mx)).sum
    val sxy = raw.map(p => (p._1 - mx) * (p._2 - my)).sum
    val want = sxy / sxx
    val got = df.filter(col("l_returnflag") === "A").head().getAs[Double]("slope")
    assert(math.abs(got - want) < 1e-3, s"slope $got vs recomputed $want")
    df.collect().foreach { r =>
      val r2 = r.getAs[Double]("r2")
      assert(r2 >= 0 && r2 <= 1.0 + 1e-9, s"R2=$r2")
      assert(r.getAs[Double]("slope") * r.getAs[Double]("t_slope") >= 0)
      assert(r.getAs[Double]("resid_se") >= 0)
    }
  }

  test("retrieval MRR: one row per query, bounded metrics, overlap matches rank_rbo") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("retrieval_mrr_report")(spark, dir).cache()
    assert(df.count() == 5, "one row per probe query")
    df.collect().foreach { r =>
      val rr = r.getAs[Double]("reciprocal_rank")
      assert(rr >= 0 && rr <= 1.0, s"rr=$rr")
      // rr is 0 or 1/k for integer k <= 10
      assert(rr == 0.0 || math.abs(1.0 / rr - math.round(1.0 / rr)) < 1e-6)
      val p1 = r.getAs[Double]("p_at_1"); val p5 = r.getAs[Double]("p_at_5")
      val p10 = r.getAs[Double]("p_at_10")
      assert(p1 == 0.0 || p1 == 1.0)
      // overlap counts are monotone in depth
      assert(p1 * 1 <= p5 * 5 + 1e-9 && p5 * 5 <= p10 * 10 + 1e-9)
      // a hit at rank 1 in both lists implies rr = 1
      if (p1 == 1.0) assert(rr == 1.0, "exact top-1 at quantized rank 1 must give rr=1")
    }
    // p@10 * 10 must equal rank_rbo_report's overlap10 — same match frame
    val rbo = SparkEntry.queries("rank_rbo_report")(spark, dir)
      .select(col("query_id"), col("overlap10"))
    val viol = df.join(rbo, Seq("query_id"))
      .filter(round(col("p_at_10") * 10).cast("long") =!= col("overlap10"))
      .count()
    assert(viol == 0, "p_at_10*10 must equal rank_rbo overlap10")
  }

  test("SortedTokenDot equals the relational round-12-decimal sum on every doc pair") {
    import org.apache.spark.sql.functions._
    // token-sorted (token, u) arrays for a bounded sample of documents
    val toks = Tables.documents(spark, dir)
      .limit(40)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).cast("double").as("u"))
    val arr = toks.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("token"), col("u")))).as("ts"))
    val pairs = arr.select(col("doc_id").as("a"), col("ts").as("ta"))
      .crossJoin(arr.select(col("doc_id").as("b"), col("ts").as("tb")))
      .filter(col("a") < col("b"))
    val DecA = org.apache.spark.sql.types.DecimalType(30, 12)
    // relational reference: explode-join-aggregate with the same chain
    val rel = toks.select(col("doc_id").as("a"), col("token"), col("u").as("ua"))
      .join(toks.select(col("doc_id").as("b"), col("token"), col("u").as("ub")), Seq("token"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(sum(round(col("ua") * col("ub"), 12).cast(DecA)).as("rel_dot"))
    val nat = pairs.select(col("a"), col("b"),
      graft.functions.Registry.sortedTokenDot(col("ta"), col("tb")).as("nat_dot"))
    val joined = nat.join(rel, Seq("a", "b"), "left")
      .select(col("nat_dot"), coalesce(col("rel_dot"), lit(0).cast(DecA)).as("rel_dot"))
    val viol = joined.filter(col("nat_dot") =!= col("rel_dot")).count()
    assert(viol == 0, "native merge must equal the relational decimal sum pair-for-pair")
    assert(joined.count() > 100, "sample must actually exercise the merge")
  }

  test("roundedUnscaled12 fast path equals the BigDecimal HALF_UP chain on adversarial doubles") {
    // the r10 fast path floors p*1e12 + 0.5 outside a 1e-3 tie guard;
    // this pins bit-equality against the exact chain on (a) dense
    // random unit products, (b) values manufactured AT and NEAR .5
    // ties (the fallback region), (c) representability edge cases
    def exact(p: Double): Long = java.math.BigDecimal.valueOf(p)
      .setScale(12, java.math.RoundingMode.HALF_UP).unscaledValue().longValueExact()
    val rnd = new scala.util.Random(42)
    val dense = Seq.fill(200000)(rnd.nextDouble())
    val ties = (0 until 20000).map(k => (k * 997 + 0.5) / 1e12) // decimal .5 ties at scale 12
    val nearTies = (0 until 20000).flatMap { k =>
      val base = (k * 991 + 0.5) / 1e12
      Seq(base + 1e-16, base - 1e-16, base + 2e-15, base - 2e-15)
    }
    val edges = Seq(0.0, 1.0, 0.999999999999, 1e-13, 4.9e-13, 5e-13, 5.1e-13,
      0.3333333333333333, 2.0 - 1e-12, 1.9999999999995)
    for (p <- dense ++ ties ++ nearTies ++ edges)
      assert(graft.functions.NativeMerges.roundedUnscaled12(p) == exact(p),
        s"fast path diverges from BigDecimal HALF_UP at p=$p")
  }

  test("SortedIntersectCount equals size(array_intersect) on sorted-unique arrays, throws on violations") {
    import org.apache.spark.sql.functions._
    val arr = Tables.documents(spark, dir)
      .limit(60)
      .select(col("doc_id"),
        array_sort(array_distinct(
          filter(split(col("text"), " "), t => t =!= ""))).as("tsl"))
    val pairs = arr.select(col("doc_id").as("a"), col("tsl").as("xa"))
      .crossJoin(arr.select(col("doc_id").as("b"), col("tsl").as("xb")))
      .filter(col("a") < col("b"))
      .select(
        graft.functions.Registry.sortedIntersect(col("xa"), col("xb")).as("nat"),
        size(array_intersect(col("xa"), col("xb"))).as("ref"))
    assert(pairs.filter(col("nat") =!= col("ref")).count() == 0,
      "native two-pointer count must equal array_intersect size pair-for-pair")
    assert(pairs.count() > 100, "sample must actually exercise the merge")
    // the sorted-unique precondition is DETECTED, never silently wrong:
    // an unsorted side and a duplicate element both throw at eval
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    for (bad <- Seq("array('b','a','c')", "array('a','a','b')")) {
      val e = intercept[Exception] {
        spark.sql(s"SELECT graft_sorted_intersect($bad, array('a','b','c'))").collect()
      }
      assert(msgs(e).exists(_.contains("sorted with unique")), s"wrong error for $bad: $e")
    }
    // the element types are checked at analysis: array<int> and mixed
    // string/bigint sides fail there instead of running the wrong merge
    for (bad <- Seq("array(1, 2), array(1, 2)", "array('a', 'b'), array(1L, 2L)",
        "array(1L, 2L), array('a', 'b')")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT graft_sorted_intersect($bad)")
      }
      assert(msgs(e).exists(_.contains("two array<string> or two array<bigint>")),
        s"wrong error for $bad: $e")
    }
    assert(spark.sql("SELECT graft_sorted_intersect(array(1L, 3L), array(1L, 2L, 3L))")
      .head().getInt(0) == 2)
    // the dot's precondition is detected the same way (the out-of-order
    // element must sit inside the merged region to be observable)
    val ed = intercept[Exception] {
      spark.sql("""SELECT graft_sorted_dot(
        array(named_struct('token','b','u',1.0D), named_struct('token','a','u',2.0D),
              named_struct('token','c','u',3.0D)),
        array(named_struct('token','a','u',1.0D), named_struct('token','b','u',2.0D),
              named_struct('token','c','u',3.0D)))""").collect()
    }
    assert(msgs(ed).exists(_.contains("token-sorted with unique")), s"wrong error: $ed")
    // null elements get the DESCRIPTIVE precondition error, not an NPE
    // out of the pointer compare (r9 ADVICE: these are public SQL
    // functions — a null has no sort position, so the precondition
    // extends to non-null and violations must say so)
    val en = intercept[Exception] {
      spark.sql("SELECT graft_sorted_intersect(array('a', cast(null as string), 'c'), " +
        "array('a','b'))").collect()
    }
    assert(msgs(en).exists(_.contains("null array element")), s"wrong error: $en")
    val end = intercept[Exception] {
      spark.sql("""SELECT graft_sorted_dot(
        array(named_struct('token','a','u',1.0D), cast(null as struct<token:string,u:double>)),
        array(named_struct('token','a','u',1.0D), named_struct('token','b','u',2.0D)))""").collect()
    }
    assert(msgs(end).exists(_.contains("null array element")), s"wrong error: $end")
  }

  test("int-token dictionary merges are bit-identical to the string merges under a bijection") {
    import org.apache.spark.sql.functions._
    // the r11 verify paths compare dictionary longs instead of token
    // strings; this pins the exactness argument end-to-end on real
    // corpus vocabulary: map tokens through the SAME injective
    // bucket-rank dictionary the queries build, and require (a) the
    // long intersect to equal the string intersect pair-for-pair and
    // (b) the primitive-array id dot to equal SortedTokenDot's decimal
    // bit-for-bit (same matched set, same roundedUnscaled12 terms,
    // order-free decimal sum)
    val toks = Tables.documents(spark, dir)
      .limit(50)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).cast("double").as("u"))
    val p = 7L // deliberately tiny bucket count: forces deep in-bucket ranks
    val wDict = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bkt")).orderBy(col("token"))
    val dict = toks.select(col("token")).distinct()
      .withColumn("bkt", pmod(xxhash64(col("token")), lit(p)))
      .withColumn("tid", row_number().over(wDict).cast("long") * p + col("bkt"))
      .select(col("token"), col("tid"))
    // injectivity on the actual vocabulary (the proof obligation)
    assert(dict.select(col("tid")).distinct().count() == dict.count(),
      "dictionary must be collision-free")
    val perDoc = toks.join(dict, Seq("token")).groupBy(col("doc_id"))
      .agg(
        array_sort(collect_list(struct(col("token"), col("u")))).as("ts"),
        array_sort(collect_list(col("token"))).as("tsl"),
        array_sort(collect_list(col("tid"))).as("tidl"),
        array_sort(collect_list(struct(col("tid"), col("u")))).as("tp"))
      .select(col("doc_id"), col("ts"), col("tsl"), col("tidl"),
        transform(col("tp"), x => x.getField("tid")).as("tids"),
        transform(col("tp"), x => x.getField("u")).as("us"))
    def side(as: String) = perDoc.select(
      col("doc_id").as(as), col("ts").as(s"ts_$as"), col("tsl").as(s"tsl_$as"),
      col("tidl").as(s"tidl_$as"), col("tids").as(s"tids_$as"), col("us").as(s"us_$as"))
    val pairs = side("a").crossJoin(side("b")).filter(col("a") < col("b"))
      .select(
        graft.functions.Registry.sortedIntersect(col("tsl_a"), col("tsl_b")).as("i_str"),
        graft.functions.Registry.sortedIntersect(col("tidl_a"), col("tidl_b")).as("i_long"),
        graft.functions.Registry.sortedTokenDot(col("ts_a"), col("ts_b")).as("d_str"),
        graft.functions.Registry.sortedIdDot(
          col("tids_a"), col("us_a"), col("tids_b"), col("us_b")).as("d_id"))
    assert(pairs.filter(col("i_str") =!= col("i_long")).count() == 0,
      "long intersect must equal string intersect pair-for-pair")
    assert(pairs.filter(col("d_str") =!= col("d_id")).count() == 0,
      "id dot must equal token dot bit-for-bit pair-for-pair")
    assert(pairs.count() > 100, "sample must actually exercise the merges")
    // precondition detection carries over to the long forms
    def msgs2(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs2(x.getCause))
    // the violation must sit inside the MERGED region to be observable
    // (on-advance detection, same contract as the string form)
    val eL = intercept[Exception] {
      spark.sql("SELECT graft_sorted_intersect(array(3L, 1L, 4L), array(1L, 3L))").collect()
    }
    assert(msgs2(eL).exists(_.contains("sorted with unique")), s"wrong error: $eL")
    val eD = intercept[Exception] {
      spark.sql("SELECT graft_sorted_iddot(array(2L, 1L), array(1.0D, 2.0D), " +
        "array(1L, 2L), array(1.0D, 2.0D))").collect()
    }
    assert(msgs2(eD).exists(_.contains("id-sorted with unique")), s"wrong error: $eD")
    val eA = intercept[Exception] {
      spark.sql("SELECT graft_sorted_iddot(array(1L, 2L), array(1.0D), " +
        "array(1L, 2L), array(1.0D, 2.0D))").collect()
    }
    assert(msgs2(eA).exists(_.contains("element-aligned")), s"wrong error: $eA")
    // ADVICE r10: out-of-domain magnitudes must throw, never wrap. Two
    // distinct loud paths: a single product whose scale-12 unscaled
    // value exceeds Long range throws in the exact BigDecimal fallback
    // (longValueExact), and per-term-representable products whose SUM
    // overflows throw in Math.addExact — both surface as
    // ArithmeticException, never a silently wrong decimal. (2000² = 4e6
    // → 4e18 unscaled fits; three of them cross Long.MAX at the add.)
    val big = "array(2000.0D, 2000.0D, 2000.0D)"
    val eO = intercept[Exception] {
      spark.sql(s"SELECT graft_sorted_iddot(array(1L, 2L, 3L), $big, " +
        s"array(1L, 2L, 3L), $big)").collect()
    }
    assert(msgs2(eO).exists(m => m.toLowerCase.contains("overflow")), s"wrong error: $eO")
    val eO2 = intercept[Exception] {
      spark.sql("SELECT graft_sorted_iddot(array(1L), array(8000000.0D), " +
        "array(1L), array(8000000.0D))").collect()
    }
    assert(msgs2(eO2).exists(m =>
      m.toLowerCase.contains("overflow") || m.contains("out of long range")),
      s"wrong error: $eO2")
    // the string-form dot shares the accumulator contract (ADVICE fix
    // landed in both)
    val eO3 = intercept[Exception] {
      spark.sql("""SELECT graft_sorted_dot(
        array(named_struct('token','a','u',2000.0D), named_struct('token','b','u',2000.0D),
              named_struct('token','c','u',2000.0D)),
        array(named_struct('token','a','u',2000.0D), named_struct('token','b','u',2000.0D),
              named_struct('token','c','u',2000.0D)))""").collect()
    }
    assert(msgs2(eO3).exists(m => m.toLowerCase.contains("overflow")), s"wrong error: $eO3")
  }

  test("Attach co-partitioned path: both similarity joins hash-identical to the broadcast form") {
    // the 100 TB form (doc arrays shuffle-join on each endpoint instead
    // of broadcasting the corpus) must be result-identical; force it
    // with the explicit form override (r10: the auto gate reads
    // driver-side statistics, so forcing by row threshold no longer
    // reaches the decision when no CBO row count exists)
    def rows(q: String) = SparkEntry.queries(q)(spark, dir).collect().toSeq.map(_.toString)
    val base = Map("set_similarity_join" -> rows("set_similarity_join"),
      "tfidf_cosine_join" -> rows("tfidf_cosine_join"))
    spark.conf.set("spark.graft.attach.form", "shuffle")
    try {
      for ((q, expect) <- base)
        assert(rows(q) == expect, s"$q: shuffle-attach form diverged from broadcast form")
    } finally spark.conf.unset("spark.graft.attach.form")
  }

  test("Attach form selection runs no Spark job and broadcasts the cut per-doc side") {
    import org.apache.spark.sql.functions._
    // construction of the heavy queries must be job-free (r9 shipped an
    // eager perDoc.count() inside Attach — an extra job per execution)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // Lineage.cut inside the query constructor legitimately runs jobs;
    // measure only the Attach call itself on a pre-cut relation
    val perDoc = graft.Lineage.cut(
      Tables.documents(spark, dir).select(col("doc_id"),
        array_sort(split(col("text"), " ")).as("tsl")))
    val cand = perDoc.select(col("doc_id").as("a")).crossJoin(
      perDoc.select(col("doc_id").as("b"))).filter(col("a") < col("b")).limit(10)
    spark.sparkContext.addSparkListener(listener)
    try {
      val attached = graft.Attach.arrays(cand, perDoc, "doc_id", Seq("tsl"))
      Thread.sleep(500) // listener bus is async; zero-after-wait is the assertion
      assert(jobs.get() == 0, s"Attach construction ran ${jobs.get()} Spark job(s)")
      // the cut relation is small → the auto gate must pick broadcast
      val phys = attached.queryExecution.executedPlan.toString
      assert(phys.contains("BroadcastHashJoin") || phys.contains("BroadcastNestedLoopJoin"),
        s"small cut per-doc side did not broadcast:\n$phys")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("tfidf cosine join: canonical pairs, bounded cosine, prefix filter is complete") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("tfidf_cosine_join")(spark, dir).cache()
    assert(df.count() > 0, "the near-dup-dense corpus must produce pairs")
    assert(df.filter(col("a") >= col("b")).count() == 0, "pairs are canonical a < b")
    assert(df.groupBy("a", "b").count().filter(col("count") > 1).count() == 0)
    assert(df.filter(col("cosine") < 0.9 || col("cosine") > 1.0 + 1e-6).count() == 0)
    // completeness: the prefix-filtered candidate set must find every
    // pair the unfiltered shared-token join finds (brute force at this SF)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfr = toks.groupBy(col("token")).agg(count(lit(1)).as("dfc"))
    val nd = Tables.documents(spark, dir).count().toDouble
    val w = toks.join(dfr, Seq("token"))
      .select(col("doc_id"), col("token"),
        (col("tf").cast("double") * log(lit(nd) / col("dfc").cast("double"))).as("w"))
    val norms = w.groupBy("doc_id")
      .agg(sqrt(sum(round(col("w") * col("w"), 12).cast("decimal(38,12)")).cast("double")).as("nrm"))
      .filter(col("nrm") > 0)
    val u = w.join(norms, Seq("doc_id"))
      .select(col("doc_id"), col("token"), (col("w") / col("nrm")).as("u"))
    val brute = u.select(col("doc_id").as("a"), col("token"), col("u").as("ua"))
      .join(u.select(col("doc_id").as("b"), col("token"), col("u").as("ub")), Seq("token"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(sum(round(col("ua") * col("ub"), 12).cast("decimal(38,12)")).as("dot"))
      .select(col("a"), col("b"),
        (round(col("dot").cast("double"), 6).cast("double") + lit(0.0)).as("cosine"))
      .filter(col("cosine") >= 0.9)
    assert(df.count() == brute.count(),
      "prefix-filtered join must find exactly the brute-force pair set")
  }

  test("CUPED lift: one row, bounded variance reduction, adjusted means recompute") {
    import org.apache.spark.sql.functions._
    val r = SparkEntry.queries("cuped_lift_report")(spark, dir).head()
    val vr = r.getAs[Double]("var_reduction")
    assert(vr >= 0 && vr <= 1.0 + 1e-9, s"var_reduction=$vr must be rho-squared in [0,1]")
    val na = r.getAs[Long]("n_a").toDouble; val nb = r.getAs[Long]("n_b").toDouble
    val mxp = (na * r.getAs[Double]("pre_mean_a") + nb * r.getAs[Double]("pre_mean_b")) / (na + nb)
    val theta = r.getAs[Double]("theta")
    val adjA = r.getAs[Double]("mean_a") - theta * (r.getAs[Double]("pre_mean_a") - mxp)
    val adjB = r.getAs[Double]("mean_b") - theta * (r.getAs[Double]("pre_mean_b") - mxp)
    assert(math.abs(adjA - r.getAs[Double]("cuped_mean_a")) < 1e-3,
      s"cuped_mean_a ${r.getAs[Double]("cuped_mean_a")} vs recomputed $adjA")
    assert(math.abs(adjB - r.getAs[Double]("cuped_mean_b")) < 1e-3)
    assert(math.abs(r.getAs[Double]("cuped_lift")
      - (r.getAs[Double]("cuped_mean_b") - r.getAs[Double]("cuped_mean_a"))) < 1e-3)
    assert(math.abs(r.getAs[Double]("raw_lift")
      - (r.getAs[Double]("mean_b") - r.getAs[Double]("mean_a"))) < 1e-3)
  }

  test("Mantel-Haenszel: cells partition users, pooled OR inside the stratum OR envelope") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("mantel_haenszel")(spark, dir).cache()
    val rows = df.collect()
    assert(rows.length >= 1 && rows.length <= 3, "one row per occupied activity stratum")
    val users = Tables.events(spark, dir).select("user_id").distinct().count()
    val cellSum = rows.map(r => r.getAs[Long]("conv_b") + r.getAs[Long]("nonconv_b")
      + r.getAs[Long]("conv_a") + r.getAs[Long]("nonconv_a")).sum
    assert(cellSum == users, s"2x2 cells must partition the $users users, got $cellSum")
    val orMh = Option(rows.head.getAs[Any]("or_mh")).map(_.asInstanceOf[Double])
    assert(rows.forall(r =>
      Option(r.getAs[Any]("or_mh")).map(_.asInstanceOf[Double]) == orMh),
      "or_mh constant across rows")
    val stratumOrs = rows.flatMap(r => Option(r.getAs[Any]("or_stratum")).map(_.asInstanceOf[Double]))
    // MH is a weighted average of stratum ORs: when every stratum OR is
    // defined, the pooled estimate must sit inside their envelope
    if (stratumOrs.length == rows.length && orMh.isDefined) {
      assert(orMh.get >= stratumOrs.min - 1e-6 && orMh.get <= stratumOrs.max + 1e-6,
        s"or_mh=${orMh.get} outside [${stratumOrs.min}, ${stratumOrs.max}]")
    }
    stratumOrs.foreach(v => assert(v > 0, "odds ratios are positive when defined"))
  }

  test("CvM drift: same frame as KS, nonneg statistic") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("cvm_drift_test")(spark, dir).cache()
    val ks = SparkEntry.queries("ks_drift_test")(spark, dir)
      .select(col("lang"), col("n1").as("kn1"), col("n2").as("kn2"))
    assert(df.count() == ks.count(), "one row per lang, matching ks_drift_test")
    // identical half-split: n1/n2 must agree with the KS row per lang
    val viol = df.join(ks, Seq("lang"))
      .filter(col("n1") =!= col("kn1") || col("n2") =!= col("kn2")).count()
    assert(viol == 0, "CvM and KS must read the same half-split counts")
    df.collect().foreach { r =>
      assert(r.getAs[Double]("cvm_t") >= 0, "CvM statistic is a sum of squares")
      assert(r.getAs[Boolean]("drifted") == (r.getAs[Double]("cvm_t") > 0.461))
    }
  }

  test("distinct ngram report: counts bounded, totals shrink with n, ratios in (0,1]") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("distinct_ngram_report")(spark, dir).cache()
    val sources = Tables.documents(spark, dir).select("source").distinct().count()
    assert(df.count() == sources * 3, "one row per (source, n in 1..3)")
    df.collect().foreach { r =>
      assert(r.getAs[Long]("distinct_grams") <= r.getAs[Long]("total_grams"))
      val ratio = r.getAs[Double]("distinct_ratio")
      assert(ratio > 0 && ratio <= 1.0, s"ratio=$ratio")
    }
    // per source, total n-grams shrink as n grows (each doc loses n-1 grams)
    val bySource = df.collect().groupBy(_.getAs[String]("source"))
    bySource.values.foreach { rs =>
      val byN = rs.sortBy(_.getAs[Int]("n")).map(_.getAs[Long]("total_grams"))
      assert(byN.zip(byN.tail).forall { case (a, b) => b <= a },
        s"totals must be non-increasing in n: ${byN.mkString(",")}")
    }
  }

  test("spectral power: three candidate periods, nonneg amplitude, one dominant") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("spectral_power")(spark, dir).cache()
    val rows = df.orderBy(col("period")).collect()
    assert(rows.map(_.getAs[Int]("period")).toSeq == Seq(7, 14, 30))
    val tDays = rows.head.getAs[Long]("t_days")
    rows.foreach { r =>
      assert(r.getAs[Long]("t_days") == tDays, "t_days constant")
      assert(r.getAs[Double]("amplitude") >= 0)
      // amplitude is 2*sqrt(A^2+B^2)/T: must match the emitted cos/sin sums to rounding
      val a = r.getAs[Double]("a_cos"); val b = r.getAs[Double]("b_sin")
      val amp = 2.0 * math.sqrt(a * a + b * b) / tDays
      assert(math.abs(amp - r.getAs[Double]("amplitude")) < 1e-3,
        s"amplitude ${r.getAs[Double]("amplitude")} vs recomputed $amp")
    }
    assert(rows.count(_.getAs[Boolean]("dominant")) >= 1, "at least one dominant period")
    val maxAmp = rows.map(_.getAs[Double]("amplitude")).max
    rows.foreach(r =>
      assert(r.getAs[Boolean]("dominant") == (r.getAs[Double]("amplitude") >= maxAmp)))
  }

  test("MAP report: bounded AP, constant MAP equal to the AP mean, hits match MRR p@10") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("map_report")(spark, dir).cache()
    val rows = df.collect()
    assert(rows.length == 5, "one row per probe query")
    rows.foreach { r =>
      val ap = r.getAs[Double]("ap"); val h = r.getAs[Long]("n_hits")
      assert(ap >= 0 && ap <= 1.0 + 1e-9)
      assert(ap <= h / 10.0 + 1e-6, "AP cannot exceed hit share (each precision term <= 1)")
      if (h == 0) assert(ap == 0.0)
    }
    val mapv = rows.head.getAs[Double]("map")
    assert(rows.forall(_.getAs[Double]("map") == mapv), "map constant across rows")
    val mean = rows.map(_.getAs[Double]("ap")).sum / rows.length
    assert(math.abs(mapv - mean) < 1e-5, s"map=$mapv vs mean of aps $mean")
    // n_hits is the same 10-deep overlap retrieval_mrr_report reports as p_at_10
    val mrr = SparkEntry.queries("retrieval_mrr_report")(spark, dir)
      .select(col("query_id"), round(col("p_at_10") * 10).cast("long").as("ov10"))
    val viol = df.join(mrr, Seq("query_id"))
      .filter(col("n_hits") =!= col("ov10")).count()
    assert(viol == 0, "n_hits must equal the MRR report's 10-deep overlap")
  }

  test("Cochran-Armitage: tiers partition users, constant z, flag matches cut") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("cochran_armitage")(spark, dir).cache()
    val rows = df.collect()
    assert(rows.length >= 1 && rows.length <= 3)
    val users = Tables.events(spark, dir).select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_users")).sum == users)
    rows.foreach { r =>
      val share = r.getAs[Double]("heavy_share")
      assert(share >= 0 && share <= 1.0)
      assert(r.getAs[Long]("n_heavy") <= r.getAs[Long]("n_users"))
      assert(r.getAs[Boolean]("significant_trend")
        == (math.abs(r.getAs[Double]("ca_z")) > 1.96))
    }
    val z = rows.head.getAs[Double]("ca_z")
    assert(rows.forall(_.getAs[Double]("ca_z") == z), "trend z constant across tier rows")
    // the z and the raw T statistic must share a sign
    assert(z * rows.head.getAs[Double]("ca_t") >= 0)
  }

  test("delta-method CI: two variants, CI brackets the ratio, constant z_diff") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("delta_method_ci")(spark, dir).cache()
    val rows = df.collect()
    assert(rows.map(_.getAs[String]("variant")).toSeq == Seq("A", "B"))
    rows.foreach { r =>
      val ratio = r.getAs[Double]("ratio")
      assert(ratio > 0, "revenue per purchase is positive")
      assert(r.getAs[Double]("se") >= 0)
      assert(r.getAs[Double]("ci_lo") <= ratio + 1e-9)
      assert(ratio <= r.getAs[Double]("ci_hi") + 1e-9)
      // CI is symmetric around the ratio to rounding
      assert(math.abs((r.getAs[Double]("ci_hi") - ratio) - (ratio - r.getAs[Double]("ci_lo"))) < 1e-4)
    }
    val zd = rows.head.getAs[Double]("z_diff")
    assert(rows.forall(_.getAs[Double]("z_diff") == zd))
  }

  test("c-TF-IDF terms: top-10 per source, contiguous ranks, non-increasing weight") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("ctfidf_terms")(spark, dir).cache()
    val bySource = df.collect().groupBy(_.getAs[String]("source"))
    val sources = Tables.documents(spark, dir).select("source").distinct().count()
    assert(bySource.size == sources, "every source gets a term list")
    bySource.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.length <= 10)
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to sorted.length))
      val ws = sorted.map(_.getAs[Double]("ctfidf"))
      assert(ws.zip(ws.tail).forall { case (a, b) => b <= a + 1e-9 },
        "ctfidf non-increasing in rank")
      assert(sorted.map(_.getAs[String]("token")).distinct.length == sorted.length)
    }
  }

  test("Krippendorff alpha: value marginals count every code, alpha bounded above by 1") {
    import org.apache.spark.sql.functions._
    val r = SparkEntry.queries("krippendorff_alpha")(spark, dir).head()
    val n = Tables.documents(spark, dir).count()
    assert(r.getAs[Long]("codes_keep") + r.getAs[Long]("codes_drop") == 2 * n,
      "two coders assign 2n codes")
    assert(r.getAs[Double]("d_observed") >= 0 && r.getAs[Double]("d_observed") <= 1.0)
    assert(r.getAs[Double]("d_expected") > 0)
    assert(r.getAs[Double]("alpha") <= 1.0 + 1e-9)
    // alpha and kappa correct the same observed agreement: same sign regime
    assert(math.abs(r.getAs[Double]("alpha") - r.getAs[Double]("kappa")) < 0.5,
      "alpha and kappa must be in the same neighborhood on balanced data")
  }

  test("Page-Hinkley: per-day rows, zero start, nonneg statistic, alarm matches lambda") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("page_hinkley")(spark, dir).cache()
    val days = Tables.events(spark, dir).select(to_date(col("ts"))).distinct().count()
    assert(df.count() == days, "one row per active day")
    val rows = df.orderBy(col("day")).collect()
    assert(rows.head.getAs[Double]("ph") == 0.0, "PH starts at zero")
    rows.foreach { r =>
      assert(r.getAs[Double]("ph") >= 0, "U - running min is nonnegative")
      assert(r.getAs[Double]("mean_so_far") > 0)
      assert(r.getAs[Boolean]("alarm") == (r.getAs[Double]("ph") > 5.0))
    }
  }

  test("label separation: labels partition vectors, positive indexes, constant CH/DB") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("label_separation")(spark, dir).cache()
    val rows = df.collect()
    val labels = Tables.embeddings(spark, dir).select("label").distinct().count()
    assert(rows.length == labels, "one row per label")
    val total = Tables.embeddings(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == total)
    rows.foreach { r =>
      assert(r.getAs[Double]("scatter") > 0)
      assert(r.getAs[Double]("worst_ratio") > 0)
    }
    val ch = rows.head.getAs[Double]("ch_index")
    val db = rows.head.getAs[Double]("db_index")
    assert(rows.forall(r => r.getAs[Double]("ch_index") == ch
      && r.getAs[Double]("db_index") == db))
    assert(ch > 0 && db > 0)
    // DB is the mean of the per-label worst ratios (to emit rounding)
    val meanWorst = rows.map(_.getAs[Double]("worst_ratio")).sum / rows.length
    assert(math.abs(db - meanWorst) < 1e-3, s"db=$db vs mean worst $meanWorst")
  }

  test("mixture reweight: weights normalize, direction follows excess loss") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("mixture_reweight_step")(spark, dir).cache()
    val sources = Tables.documents(spark, dir).select("source").distinct().count()
    assert(df.count() == sources, "one row per source")
    val rows = df.collect()
    val sumBase = rows.map(_.getAs[Double]("w_base")).sum
    val sumNew = rows.map(_.getAs[Double]("w_new")).sum
    assert(math.abs(sumBase - 1.0) < 1e-3, s"base weights sum to 1, got $sumBase")
    assert(math.abs(sumNew - 1.0) < 1e-3, s"new weights sum to 1, got $sumNew")
    // the mix-weighted excess must be ~zero by construction
    val wExcess = rows.map(r => r.getAs[Double]("w_base") * r.getAs[Double]("excess")).sum
    assert(math.abs(wExcess) < 1e-2, s"weighted excess $wExcess")
    rows.foreach { r =>
      assert(r.getAs[Double]("w_new") > 0)
      assert(r.getAs[Double]("loss") > 0, "cross-entropy is positive")
      // multiplicative update moves weight toward harder sources; the
      // normalizer shifts all, so compare the RATIO to the excess sign
      // only when the excess is decisive
      val ex = r.getAs[Double]("excess")
      if (ex > 0.05) assert(r.getAs[Double]("w_new") >= r.getAs[Double]("w_base") * 0.999)
      if (ex < -0.05) assert(r.getAs[Double]("w_new") <= r.getAs[Double]("w_base") * 1.001)
    }
  }

  test("HAC mean SE: six lags, Bartlett weights, inflation consistent") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("hac_mean_se")(spark, dir).cache()
    val rows = df.orderBy(col("lag")).collect()
    assert(rows.map(_.getAs[Int]("lag")).toSeq == (0 to 5))
    rows.zipWithIndex.foreach { case (r, k) =>
      assert(math.abs(r.getAs[Double]("bartlett_w") - (1.0 - k / 6.0)) < 1e-3)
    }
    val head = rows.head
    assert(head.getAs[Double]("gamma") > 0, "lag-0 autocovariance is the variance")
    assert(head.getAs[Double]("se_naive") > 0 && head.getAs[Double]("se_hac") > 0)
    assert(math.abs(head.getAs[Double]("inflation")
      - head.getAs[Double]("se_hac") / head.getAs[Double]("se_naive")) < 1e-3)
    // summary columns constant across lag rows
    assert(rows.forall(r => r.getAs[Double]("se_hac") == head.getAs[Double]("se_hac")
      && r.getAs[Long]("t_days") == head.getAs[Long]("t_days")))
  }

  test("lang drift interaction: three effects, correct dfs, nonneg SS and F") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("lang_drift_interaction")(spark, dir).cache()
    val rows = df.orderBy(col("effect")).collect()
    assert(rows.map(_.getAs[String]("effect")).toSeq ==
      Seq("1_lang", "2_half", "3_interaction"))
    val langs = Tables.documents(spark, dir).select("lang").distinct().count()
    assert(rows(0).getAs[Long]("df1") == langs - 1)
    assert(rows(1).getAs[Long]("df1") == 1)
    assert(rows(2).getAs[Long]("df1") == (langs - 1) * 1)
    val df2 = rows.head.getAs[Long]("df2")
    assert(rows.forall(_.getAs[Long]("df2") == df2), "shared error df")
    rows.foreach { r =>
      assert(r.getAs[Double]("ss") >= 0)
      assert(r.getAs[Double]("f_stat") >= 0)
    }
  }

  test("best split stump: one row, gain bounded by parent entropy, sides partition") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("best_split_stump")(spark, dir).cache()
    val rows = df.collect()
    assert(rows.length == 1, "the argmax threshold is unique")
    val r = rows.head
    val docs = Tables.documents(spark, dir).count()
    assert(r.getAs[Long]("n_left") + r.getAs[Long]("n_right") == docs)
    assert(r.getAs[Long]("n_left") > 0 && r.getAs[Long]("n_right") > 0)
    val gain = r.getAs[Double]("gain")
    assert(gain >= 0, "information gain is nonnegative")
    assert(gain <= r.getAs[Double]("parent_entropy") + 1e-9)
    assert(r.getAs[Double]("parent_entropy") <= math.log(2.0) + 1e-9)
    Seq("en_share_left", "en_share_right").foreach { c =>
      val v = r.getAs[Double](c); assert(v >= 0 && v <= 1.0)
    }
  }

  test("graph closeness: per-seed reach inside the merged distance map") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("graph_closeness")(spark, dir).cache()
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 3, "at most the three seeds")
    val merged = SparkEntry.queries("graph_distances")(spark, dir).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("reached") >= 1)
      assert(r.getAs[Long]("eccentricity") >= 1 && r.getAs[Long]("eccentricity") <= 4)
      val c = r.getAs[Double]("closeness")
      assert(c > 0 && c <= 1.0, s"closeness=$c in (0,1]")
      // the merged union map must cover every per-seed ball
      assert(r.getAs[Long]("reached") + 1 <= merged,
        "per-seed reach cannot exceed the union distance map")
    }
  }

  test("good-Turing: conservation of mass shares, p0 = V(1)/N, GT counts track V ratios") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("good_turing_mass")(spark, dir).cache()
    val rows = df.orderBy(col("m")).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val n = rows.head.getAs[Long]("n_tokens")
    val p0 = rows.head.getAs[Double]("p0_unseen")
    assert(p0 >= 0 && p0 < 1.0, s"p0=$p0")
    rows.foreach { r =>
      assert(r.getAs[Long]("vm") > 0)
      // mass share = m*V(m)/N, each in (0,1]; their sum over ALL m is 1,
      // over the m<=10 slice it is at most 1
      val ms = r.getAs[Double]("mass_share")
      assert(ms > 0 && ms <= 1.0 + 1e-9)
      // gt_count = (m+1) V(m+1)/V(m) recomputes from the emitted cells
      val want = (r.getAs[Long]("m") + 1).toDouble * r.getAs[Long]("vm_next") /
        r.getAs[Long]("vm")
      assert(math.abs(r.getAs[Double]("gt_count") - want) < 1e-3)
    }
    assert(rows.map(_.getAs[Double]("mass_share")).sum <= 1.0 + 1e-6)
    // p0 recomputes from the m=1 row when present
    rows.find(_.getAs[Long]("m") == 1L).foreach { r1 =>
      assert(math.abs(p0 - r1.getAs[Long]("vm").toDouble / n) < 1e-3)
    }
  }

  test("capture-recapture: Chapman estimate bounded below by observed union") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("capture_recapture")(spark, dir)
    val r = df.collect().head
    val n1 = r.getAs[Long]("n1"); val n2 = r.getAs[Long]("n2"); val m = r.getAs[Long]("m")
    assert(m <= math.min(n1, n2), "recaptured users are a subset of both windows")
    val nHat = r.getAs[Double]("n_hat")
    // Chapman is consistent: at least max(n1, n2), and sane vs the union
    assert(nHat >= math.max(n1, n2) - 1e-6, s"n_hat=$nHat below max window")
    val union = n1 + n2 - m
    assert(nHat >= union * 0.5, "estimate cannot collapse far below the observed union")
    assert(r.getAs[Double]("se") >= 0)
    val rate = r.getAs[Double]("recapture_rate")
    assert(rate > 0 && rate <= 1.0)
    // all users observed -> the estimate approaches the true population
    val users = Tables.events(spark, dir).select("user_id").distinct().count()
    assert(nHat >= users * 0.8 && nHat <= users * 3.0,
      s"n_hat=$nHat implausible vs $users observed users")
  }

  test("james-stein: shrunk means sit between raw and grand, weights in [0,1]") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("james_stein_means")(spark, dir).cache()
    val langs = Tables.documents(spark, dir).select("lang").distinct().count()
    assert(df.count() == langs)
    df.collect().foreach { r =>
      val w = r.getAs[Double]("shrink_weight")
      assert(w >= 0 && w <= 1.0, s"weight $w")
      val raw = r.getAs[Double]("raw_mean"); val gm = r.getAs[Double]("grand_mean")
      val sh = r.getAs[Double]("shrunk_mean")
      assert(sh >= math.min(raw, gm) - 1e-3 && sh <= math.max(raw, gm) + 1e-3,
        s"shrunk $sh outside [$raw, $gm]")
      // shrinkage recomputes from the emitted pieces
      assert(math.abs(sh - (w * raw + (1 - w) * gm)) < 1e-2)
    }
    // larger groups shrink less: weight is monotone in n when tau2 > 0
    val byN = df.orderBy(col("n")).collect()
    if (byN.head.getAs[Double]("shrink_weight") > 0) {
      byN.sliding(2).foreach { p =>
        assert(p(0).getAs[Double]("shrink_weight") <= p(1).getAs[Double]("shrink_weight") + 1e-6)
      }
    }
  }

  test("conformal interval: coverage honors the 0.9 target on the calibration set") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("conformal_interval")(spark, dir).cache()
    assert(df.count() == 3, "one row per return flag")
    df.collect().foreach { r =>
      assert(r.getAs[Long]("n_calib") > 0)
      assert(r.getAs[Double]("q90_abs_resid") > 0)
      val cov = r.getAs[Double]("coverage")
      // split-conformal guarantee: ~0.9 by construction of the exact
      // quantile — ties push it above, interpolation on a small
      // calibration set can sit one order statistic under
      val slack = 1.0 / math.max(r.getAs[Long]("n_calib").toDouble, 10.0) + 1e-6
      assert(cov >= 0.9 - slack && cov <= 1.0, s"coverage=$cov")
      assert(r.getAs[Double]("slope").abs > 0, "degenerate fit")
    }
    // the fit half and ols_regression's full-data fit agree in
    // MAGNITUDE (a near-zero slope may flip sign between halves — the
    // sampling noise the conformal interval itself prices)
    val ols = SparkEntry.queries("ols_regression")(spark, dir)
      .select(col("l_returnflag"), col("slope").as("full_slope"))
    df.join(ols, Seq("l_returnflag")).collect().foreach { r =>
      val h = r.getAs[Double]("slope"); val f = r.getAs[Double]("full_slope")
      assert(math.abs(h - f) <= math.max(100.0, 2.0 * math.abs(f)),
        s"half-fit slope $h implausibly far from full fit $f")
    }
  }

  test("energy distance: nonneg within/between terms, d2 >= 0, grid identity vs brute force") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("energy_distance")(spark, dir).cache()
    val r = df.collect().head
    val a = r.getAs[Double]("e_between")
    val b = r.getAs[Double]("e_within_weekday"); val c = r.getAs[Double]("e_within_weekend")
    assert(a > 0 && b > 0 && c > 0)
    val d2 = r.getAs[Double]("energy_d2")
    // energy distance is a squared metric: 2A - B - C >= 0 always
    assert(d2 >= -1e-9, s"energy d2=$d2 negative")
    assert(math.abs(d2 - (2 * a - b - c)) < 1e-3, "d2 recomputes from the emitted terms")
    assert(r.getAs[Double]("stat") >= -1e-9)
    // the cumsum identity equals the brute-force pairwise mean on a sample
    val vals = Tables.orders(spark, dir).select(col("o_totalprice")).limit(300)
      .collect().map(_.getDouble(0))
    val n = vals.length
    val brute = (for (i <- 0 until n; j <- 0 until n) yield math.abs(vals(i) - vals(j))).sum / (n.toDouble * n)
    // recompute with the same identity the op uses
    val sorted = vals.sorted
    var acc = 0.0; var prefix = 0.0
    for (i <- sorted.indices) { acc += (2.0 * i - n + 1) * sorted(i) }
    val identity = 2.0 * acc / (n.toDouble * n) // Σ|x-y| = 2Σ(2i-n+1)x_(i) over sorted, /n² for the V-stat
    assert(math.abs(identity - brute) < 1e-6 * math.max(1.0, brute),
      s"cumsum identity $identity vs brute $brute")
  }

  test("gumbel return levels: monotone in horizon, above the fitted mean") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("gumbel_return_levels")(spark, dir).cache()
    val rows = df.orderBy(col("t_weeks")).collect()
    assert(rows.map(_.getAs[Int]("t_weeks")).toSeq == Seq(4, 13, 52))
    assert(rows.map(_.getAs[Long]("n_weeks")).distinct.length == 1)
    val rl = rows.map(_.getAs[Double]("return_level"))
    assert(rl(0) < rl(1) && rl(1) < rl(2), "longer horizon -> higher level")
    rows.foreach { r =>
      assert(r.getAs[Double]("beta") > 0, "scale must be positive")
      // the 4-week return level already exceeds the location mu
      assert(r.getAs[Double]("return_level") > r.getAs[Double]("mu"))
    }
  }

  test("yuen trimmed t: trimmed means inside group ranges, df bounded by welch-like caps") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("yuen_trimmed_t")(spark, dir).cache()
    val r = df.collect().head
    val hA = r.getAs[Long]("h_a"); val hB = r.getAs[Long]("h_b")
    val nA = r.getAs[Long]("n_a"); val nB = r.getAs[Long]("n_b")
    assert(hA >= nA - 2 * (nA / 5) - 1e-9 && hA <= nA)
    assert(hB == nB - 2 * (nB / 5))
    // trimmed mean lies inside the group's observed value range
    val en = Tables.documents(spark, dir).filter(col("lang") === "en")
      .agg(min(col("n_chars")), max(col("n_chars"))).head()
    val tm = r.getAs[Double]("trimmed_mean_en")
    assert(tm >= en.getLong(0) && tm <= en.getLong(1))
    val dfY = r.getAs[Double]("df_yuen")
    assert(dfY >= math.min(hA, hB) - 1 - 1e-6 && dfY <= hA + hB - 2 + 1e-6,
      s"df_yuen=$dfY out of [${math.min(hA, hB) - 1}, ${hA + hB - 2}]")
    // trimmed mean is robust: it differs from the raw mean when tails are asymmetric,
    // but must stay within the winsorized hull — sanity: finite t
    assert(!r.getAs[Double]("t_yuen").isNaN)
  }

  test("js divergence: symmetric-bounded, zero iff identical, matches a hand recompute") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("js_divergence_sources")(spark, dir).cache()
    val sources = Tables.documents(spark, dir).select("source").distinct().count()
    assert(df.count() == sources * (sources - 1) / 2, "one row per source pair")
    df.collect().foreach { r =>
      val js = r.getAs[Double]("js_divergence")
      assert(js >= 0 && js <= math.log(2.0) + 1e-9, s"JS=$js outside [0, ln2]")
      val dist = r.getAs[Double]("js_distance")
      assert(math.abs(dist - math.sqrt(js)) < 1e-3)
      assert(r.getAs[Long]("union_vocab") > 0)
    }
    // hand recompute for the lexicographically first pair
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
      .collect().groupBy(_.getString(0))
    val srcs = toks.keys.toSeq.sorted
    val (sa, sb) = (srcs(0), srcs(1))
    def dist(s: String): Map[String, Double] = {
      val rows = toks(s); val t = rows.map(_.getLong(2)).sum.toDouble
      rows.map(r => r.getString(1) -> r.getLong(2) / t).toMap
    }
    val pa = dist(sa); val pb = dist(sb)
    val keys = pa.keySet ++ pb.keySet
    val want = keys.toSeq.map { k =>
      val p = pa.getOrElse(k, 0.0); val q = pb.getOrElse(k, 0.0); val m = (p + q) / 2
      (if (p > 0) p * math.log(p / m) else 0.0) + (if (q > 0) q * math.log(q / m) else 0.0)
    }.sum / 2
    val got = df.filter(col("src_a") === sa && col("src_b") === sb)
      .head().getAs[Double]("js_divergence")
    assert(math.abs(got - want) < 1e-3, s"JS($sa,$sb)=$got vs recomputed $want")
  }

  test("RMST: bounded by the 30-day horizon, matches a hand-walked KM integral") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("rmst_report")(spark, dir).cache()
    val rows = df.orderBy(col("variant")).collect()
    assert(rows.map(_.getAs[String]("variant")).toSeq == Seq("A", "B"))
    rows.foreach { r =>
      val v = r.getAs[Double]("rmst_30d")
      assert(v > 0 && v <= 30.0 + 1e-9, s"rmst=$v outside (0, 30]")
      assert(r.getAs[Long]("n_events") <= r.getAs[Long]("n_users"))
    }
    // hand-walk the KM integral for variant A from the raw durations
    val perUser = Tables.events(spark, dir).groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("fd"),
        min(when(col("event_type") === "purchase", to_date(col("ts")))).as("pd"))
    val hz = Tables.events(spark, dir).agg(max(to_date(col("ts")))).head().getDate(0)
    val durs = perUser
      .select(col("user_id"), col("fd"), col("pd"))
      .withColumn("va", md5(concat(lit("exp1:"), col("user_id").cast("string"))) < "8")
      .filter(col("va"))
      .select(
        when(col("pd").isNotNull, datediff(col("pd"), col("fd")))
          .otherwise(datediff(lit(hz), col("fd"))).cast("long").as("d"),
        col("pd").isNotNull.as("ev"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    val tau = 30L
    val byDay = durs.groupBy(_._1).map { case (d, xs) =>
      (d, xs.count(_._2).toLong, xs.length.toLong)
    }.toSeq.sortBy(_._1)
    var atRisk = durs.length.toLong
    var surv = 1.0
    var rmst = math.min(byDay.head._1, tau).toDouble // S=1 head segment
    for (((d, dv, tv), idx) <- byDay.zipWithIndex) {
      if (dv > 0) surv *= (1.0 - dv.toDouble / atRisk)
      val tNext = if (idx + 1 < byDay.length) byDay(idx + 1)._1 else tau
      val lo = math.min(d, tau); val hi = math.min(tNext, tau)
      if (hi > lo) rmst += surv * (hi - lo)
      atRisk -= tv
    }
    val got = rows.head.getAs[Double]("rmst_30d")
    assert(math.abs(got - rmst) < 1e-2, s"rmst A: got $got vs hand-walk $rmst")
  }

  test("NB overdispersion: index consistency, Fisher scaling, r null iff underdispersed") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("nb_overdispersion")(spark, dir).cache()
    val types = Tables.events(spark, dir).select("event_type").distinct().count()
    assert(df.count() == types)
    df.collect().foreach { r =>
      val m = r.getAs[Double]("mean_count"); val v = r.getAs[Double]("var_count")
      val idx = r.getAs[Double]("dispersion_index")
      assert(m > 0 && v >= 0)
      assert(math.abs(idx - v / m) < 1e-2, s"index $idx vs $v/$m")
      val n = r.getAs[Long]("n_users")
      assert(math.abs(r.getAs[Double]("fisher_stat") - (n - 1) * idx) < (n - 1) * 1e-3)
      val rSize = Option(r.getAs[java.lang.Double]("nb_size_r"))
      if (v > m + 1e-6) assert(rSize.isDefined && rSize.get > 0)
      if (v < m - 1e-6) assert(rSize.isEmpty, "under-dispersed must emit null r")
    }
  }

  test("off-policy eval: SNIPS inside the reward hull, ESS bounded by n, DR finite") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("offpolicy_eval")(spark, dir).cache()
    assert(df.count() == 4, "one row per user segment")
    val hull = Tables.events(spark, dir).agg(min(col("value")), max(col("value"))).head()
    val (rMin, rMax) = (hull.getDouble(0), hull.getDouble(1))
    df.collect().foreach { r =>
      // SNIPS is a weighted mean of observed rewards: inside the hull
      val sn = r.getAs[Double]("v_snips")
      assert(sn >= rMin - 1e-6 && sn <= rMax + 1e-6, s"snips $sn outside [$rMin, $rMax]")
      val ess = r.getAs[Double]("ess")
      assert(ess > 0 && ess <= r.getAs[Long]("n") + 1e-6, "ESS bounded by n")
      // clipping can only pull the IPS estimate toward zero-weight mass
      assert(r.getAs[Double]("v_ips_clip10").abs <= r.getAs[Double]("v_ips").abs + math.abs(sn) + 1e6)
      assert(!r.getAs[Double]("v_dr").isNaN && !r.getAs[Double]("v_dr").isInfinite)
      assert(!r.getAs[Double]("v_logged").isNaN)
    }
  }

  test("source transfer: full matrix, Gibbs inequality holds, diagonal gap is smoothing-only") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("source_transfer_entropy")(spark, dir).cache()
    val k = Tables.documents(spark, dir).select("source").distinct().count()
    assert(df.count() == k * k, "one row per ordered source pair incl. diagonal")
    df.collect().foreach { r =>
      // Gibbs: cross-entropy under ANY model >= the distribution's own entropy
      assert(r.getAs[Double]("transfer_gap") >= -1e-6,
        s"gap ${r.getAs[Double]("transfer_gap")} violates Gibbs")
      assert(r.getAs[Double]("cross_entropy") > 0)
      assert(r.getAs[Double]("self_entropy") >= 0)
    }
    // the matrix is genuinely asymmetric (the whole point vs JS):
    // at least one ordered pair disagrees with its transpose
    val t = df.select(col("src_train").as("src_eval"), col("src_eval").as("src_train"),
      col("cross_entropy").as("ce_t"))
    val asym = df.join(t, Seq("src_train", "src_eval"))
      .filter(abs(col("cross_entropy") - col("ce_t")) > 1e-6).count()
    assert(asym > 0, "transfer must be directional on a heterogeneous corpus")
  }

  test("smoothing sweep: four k rows, perplexity consistency, constant OOV share") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("smoothing_sweep")(spark, dir).cache()
    val rows = df.orderBy(col("k")).collect()
    assert(rows.map(_.getAs[Double]("k")).toSeq == Seq(0.01, 0.1, 1.0, 10.0))
    assert(rows.map(_.getAs[Double]("oov_share")).distinct.length == 1,
      "OOV share is a property of the split, not of k")
    rows.foreach { r =>
      val ce = r.getAs[Double]("cross_entropy")
      assert(ce > 0)
      assert(math.abs(r.getAs[Double]("perplexity") - math.exp(ce)) <
        math.exp(ce) * 1e-3)
      assert(r.getAs[Long]("vocab") > 0)
    }
  }

  test("vocab budget coverage: monotone in budget, kept types capped, shares bounded") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("vocab_budget_coverage")(spark, dir).cache()
    val rows = df.orderBy(col("budget")).collect()
    assert(rows.map(_.getAs[Int]("budget")).toSeq == Seq(100, 1000, 5000))
    val cov = rows.map(_.getAs[Double]("mass_coverage"))
    assert(cov(0) <= cov(1) + 1e-9 && cov(1) <= cov(2) + 1e-9, "coverage monotone")
    rows.foreach { r =>
      assert(r.getAs[Long]("kept_types") <=
        math.min(r.getAs[Int]("budget").toLong, r.getAs[Long]("gram_types")))
      val c = r.getAs[Double]("mass_coverage")
      assert(c > 0 && c <= 1.0 + 1e-9)
      val miss = r.getAs[Double]("type_miss_share")
      assert(miss >= 0 && miss < 1.0)
      // top-N by mass covers at least its type share of mass
      assert(c + 1e-9 >= r.getAs[Long]("kept_types").toDouble / r.getAs[Long]("gram_types"))
    }
  }

  test("absorption probability: monotone in horizon, purchase absorbs at 1, probabilities bounded") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("absorption_probability")(spark, dir).cache()
    val types = Tables.events(spark, dir).select("event_type").distinct().count()
    assert(df.count() == types, "one row per state")
    val purch = df.filter(col("start_state") === "purchase").head()
    assert(purch.getAs[Double]("p_absorb_2") == 1.0, "absorbing state stays absorbed")
    assert(purch.getAs[Double]("p_absorb_8") == 1.0)
    df.collect().foreach { r =>
      val p2 = r.getAs[Double]("p_absorb_2")
      val p4 = r.getAs[Double]("p_absorb_4")
      val p8 = r.getAs[Double]("p_absorb_8")
      Seq(p2, p4, p8).foreach(p => assert(p >= 0 && p <= 1.0 + 1e-9, s"p=$p"))
      // absorption within k steps is monotone in k
      assert(p2 <= p4 + 1e-9 && p4 <= p8 + 1e-9, s"not monotone: $p2 $p4 $p8")
    }
    // non-purchase states convert with positive probability on this corpus
    assert(df.filter(col("start_state") =!= "purchase")
      .filter(col("p_absorb_8") <= 0).count() == 0)
  }

  test("price elasticity: one row per brand, R2 bounded, slope matches a raw recompute") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("price_elasticity")(spark, dir).cache()
    val brands = Tables.part(spark, dir).select("p_brand").distinct().count()
    assert(df.count() == brands)
    df.collect().foreach { r =>
      val r2 = r.getAs[Double]("r2")
      assert(r2 >= 0 && r2 <= 1.0 + 1e-9, s"r2=$r2")
      assert(r.getAs[Long]("n") > 0)
    }
    // recompute the slope for one brand from raw rows
    val b = df.orderBy(col("p_brand")).head().getAs[String]("p_brand")
    val raw = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).filter(col("p_brand") === b),
        col("l_partkey") === col("p_partkey"))
      .select(log(col("l_extendedprice") / col("l_quantity")).as("x"),
        log(col("l_quantity")).as("y"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val n = raw.length.toDouble
    val mx = raw.map(_._1).sum / n; val my = raw.map(_._2).sum / n
    val want = raw.map(p => (p._1 - mx) * (p._2 - my)).sum /
      raw.map(p => (p._1 - mx) * (p._1 - mx)).sum
    val got = df.filter(col("p_brand") === b).head().getAs[Double]("elasticity")
    assert(math.abs(got - want) < 1e-3, s"slope $got vs recomputed $want")
  }

  test("safety stock: q95 above mean or z consistent, buffer arithmetic holds") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("safety_stock_report")(spark, dir).cache()
    assert(df.count() > 0)
    df.collect().foreach { r =>
      val mean = r.getAs[Double]("mean_weekly")
      val q95 = r.getAs[Double]("q95_weekly")
      val ss = r.getAs[Double]("safety_stock")
      assert(mean > 0 && r.getAs[Double]("sd_weekly") >= 0)
      assert(math.abs(ss - (q95 - mean)) < 1e-2, "buffer = q95 - mean")
      val z = r.getAs[Double]("implied_z")
      assert(math.abs(z - ss / r.getAs[Double]("sd_weekly")) < 2e-2)
      // the 95th percentile cannot sit below the 0th or above plausibility
      assert(q95 >= 0)
      assert(r.getAs[Long]("n_weeks") >= 2, "sd needs two weeks")
    }
  }

  test("binary segmentation: three rows, children inside the root split, root matches cusum scale") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("binary_segmentation")(spark, dir).cache()
    val rows = df.orderBy(col("segment")).collect()
    assert(rows.map(_.getAs[String]("segment")).toSeq ==
      Seq("0_root", "1_left", "2_right"))
    val root = rows(0); val left = rows(1); val right = rows(2)
    val rootDay = root.getAs[String]("cp_day")
    assert(left.getAs[String]("cp_day") <= rootDay,
      "the left child's break sits inside the left half")
    assert(right.getAs[String]("cp_day") > rootDay,
      "the right child's break sits inside the right half")
    assert(left.getAs[Long]("n_days") + right.getAs[Long]("n_days") ==
      root.getAs[Long]("n_days"), "children partition the calendar")
    rows.foreach { r =>
      assert(r.getAs[Long]("max_abs_cusum") >= 0)
      assert(r.getAs[Double]("mean_before") >= 0)
    }
    // the root statistic dominates each child's (computed on a subset
    // with a smaller scale factor is not directly comparable; assert
    // only that the root is positive on this non-constant series)
    assert(root.getAs[Long]("max_abs_cusum") > 0)
  }

  test("funnel latency: two transitions, ordered percentiles, counts match funnel reach") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("funnel_latency")(spark, dir).cache()
    val rows = df.orderBy(col("transition")).collect()
    // a small SF may have no click->purchase sessions at all: rows only
    // exist for transitions with traffic
    assert(rows.nonEmpty && rows.map(_.getAs[String]("transition")).toSet
      .subsetOf(Set("1_view_to_click", "2_click_to_purchase")))
    rows.foreach { r =>
      val p50 = r.getAs[Double]("p50_seconds"); val p90 = r.getAs[Double]("p90_seconds")
      assert(p50 > 0 && p50 <= p90 + 1e-9, s"p50=$p50 p90=$p90")
      assert(r.getAs[Double]("mean_seconds") > 0)
    }
    // transition counts equal the funnel's stage reach (same chain)
    val funnel = SparkEntry.queries("funnel_sessions")(spark, dir).collect()
      .map(r => r.getAs[Int]("stage") -> r.getAs[Long]("n_sessions")).toMap
    val byT = rows.map(r => r.getAs[String]("transition") -> r.getAs[Long]("n_sessions")).toMap
    val reach2 = funnel.getOrElse(2, 0L) + funnel.getOrElse(3, 0L)
    val reach3 = funnel.getOrElse(3, 0L)
    assert(byT.getOrElse("1_view_to_click", 0L) == reach2,
      "view->click sessions equal funnel reach >= stage 2")
    assert(byT.getOrElse("2_click_to_purchase", 0L) == reach3,
      "click->purchase sessions equal funnel reach stage 3")
  }

  test("retention decay fit: negative exponent, bounded R2, fitted near observed week 4") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("retention_decay_fit")(spark, dir).cache()
    val r = df.collect().head
    assert(r.getAs[Long]("n_weeks") >= 3, "needs at least three weeks to fit")
    val a = r.getAs[Double]("decay_exponent")
    // R2 is null when the curve is exactly constant (syy = 0)
    Option(r.getAs[java.lang.Double]("r2")).foreach { r2 =>
      assert(r2 >= 0 && r2 <= 1.0 + 1e-9)
    }
    val fit4 = r.getAs[Double]("fitted_week4"); val obs4 = r.getAs[Double]("observed_week4")
    assert(fit4 > 0 && obs4 > 0 && obs4 <= 1.0)
    // the fit passes through the data's neighborhood: within 5x either way
    assert(fit4 / obs4 < 5.0 && obs4 / fit4 < 5.0, s"fit $fit4 vs obs $obs4")
    // retention shares are <= 1, so the ln-intercept is <= ~0 unless
    // the curve is rising; just require the fit to be finite
    assert(!a.isNaN && !a.isInfinite)
  }

  test("RoundedDistSq equals the exploded relational rounded-term decimal sum") {
    import org.apache.spark.sql.functions._
    // the silhouette argmin device leans on this identity: the native
    // in-row distance must reproduce the (row, dim)-exploded relational
    // chain decimal-for-decimal, or the oracle hash drifts
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), v => v.cast("double")).as("emb"))
      .limit(30)
    val pairs = e.select(col("vec_id").as("a"), col("emb").as("ea"))
      .crossJoin(e.select(col("vec_id").as("b"), col("emb").as("eb")))
      .filter(col("a") < col("b"))
    val native = pairs.select(col("a"), col("b"),
      graft.functions.Registry.roundedDistSq(col("ea"), col("eb")).as("d2"))
    val rel = pairs
      .select(col("a"), col("b"), col("eb"), posexplode(col("ea")).as(Seq("pos", "va")))
      .select(col("a"), col("b"), col("va"), col("eb")(col("pos")).as("vb"))
      .groupBy("a", "b")
      .agg(sum(round((col("va") - col("vb")) * (col("va") - col("vb")), 12)
        .cast(org.apache.spark.sql.types.DecimalType(38, 12))).as("d2r"))
    val joined = native.join(rel, Seq("a", "b"))
    assert(joined.count() > 0)
    assert(joined.filter(col("d2") =!= col("d2r")).count() == 0,
      "native RoundedDistSq diverged from the relational chain")
    // length mismatch yields null, like the DotProduct contract
    val mm = spark.sql(
      "SELECT graft_dist2_dec(array(1.0D, 2.0D), array(1.0D)) AS d").head()
    assert(mm.isNullAt(0), "length mismatch must yield null")
  }

  test("silhouette: bounded scores, labels partition vectors, negatives counted consistently") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("silhouette_report")(spark, dir).cache()
    val labels = Tables.embeddings(spark, dir).select("label").distinct().count()
    assert(df.count() == labels, "one row per label")
    val total = df.agg(sum(col("n_vecs"))).head().getLong(0)
    assert(total == Tables.embeddings(spark, dir).count(), "labels partition the vectors")
    df.collect().foreach { r =>
      val m = r.getAs[Double]("mean_silhouette")
      assert(m >= -1.0 - 1e-9 && m <= 1.0 + 1e-9, s"mean silhouette $m")
      val negShare = r.getAs[Double]("negative_share")
      assert(negShare >= 0 && negShare <= 1.0)
      assert(math.abs(negShare -
        r.getAs[Long]("n_negative").toDouble / r.getAs[Long]("n_vecs")) < 1e-3)
    }
  }

  test("rich club: thresholds nest, density bounded, edges within the member set") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("rich_club_coefficient")(spark, dir).cache()
    val rows = df.orderBy(col("k")).collect()
    assert(rows.map(_.getAs[Long]("k")).toSeq == Seq(2L, 5L, 10L))
    // higher threshold -> fewer (or equal) member nodes and edges
    rows.sliding(2).foreach { p =>
      assert(p(0).getAs[Long]("n_nodes") >= p(1).getAs[Long]("n_nodes"))
      assert(p(0).getAs[Long]("n_edges") >= p(1).getAs[Long]("n_edges"))
    }
    rows.foreach { r =>
      val n = r.getAs[Long]("n_nodes"); val e = r.getAs[Long]("n_edges")
      assert(e <= n * (n - 1) / 2, "edges bounded by the complete graph")
      Option(r.getAs[java.lang.Double]("phi")).foreach { phi =>
        assert(phi >= 0 && phi <= 1.0 + 1e-9, s"phi=$phi")
      }
    }
  }

  test("QQ drift table: nine deciles, monotone quantile columns, gap/ratio consistency") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("qq_drift_table")(spark, dir).cache()
    val rows = df.orderBy(col("decile")).collect()
    assert(rows.map(_.getAs[Double]("decile")).toSeq ==
      Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))
    // quantiles are non-decreasing in the decile within each segment
    val wd = rows.map(_.getAs[Double]("q_weekday")).toSeq
    val we = rows.map(_.getAs[Double]("q_weekend")).toSeq
    assert(wd == wd.sorted, "weekday deciles must be monotone")
    assert(we == we.sorted, "weekend deciles must be monotone")
    rows.foreach { r =>
      val gap = r.getAs[Double]("gap")
      // gap is rounded from the unrounded quantile difference: agree to 1e-3
      assert(math.abs(gap - (r.getAs[Double]("q_weekend") - r.getAs[Double]("q_weekday"))) < 1e-3)
      assert(r.getAs[Double]("ratio") > 0)
    }
  }
}
