package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench harness's clean-state contract (r9): between timed
  * queries every pinned block and cached relation is released, so a
  * query's number never pays for its predecessors' storage. The r8
  * driver bench charged late-catalog rows 6-10× their isolated cost
  * because Lineage.cut localCheckpoint blocks accumulated unreleased
  * across ~780 executions.
  */
class BenchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(cores = 4, shufflePartitions = 4)
  val dir = "/root/testdata/sf0.001"

  test("resetSharedState releases every pinned block and cached relation") {
    import org.apache.spark.sql.functions._
    // run a query that pins blocks via Lineage.cut, and cache a relation
    SparkEntry.queries("page_rank")(spark, dir)
      .write.format("noop").mode("overwrite").save()
    val cached = Tables.documents(spark, dir).cache()
    cached.count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "the fixture must actually pin blocks, or this spec tests nothing")
    Bench.resetSharedState(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "pinned RDD blocks survived the reset")
    assert(spark.sharedState.cacheManager.isEmpty,
      "cached relations survived the reset")
    // queries still run correctly from the clean state (cuts re-pin
    // within their own execution)
    assert(SparkEntry.queries("page_rank")(spark, dir).count() > 0)
  }

  test("runIsolated forks a fresh JVM and returns parseable per-pass samples") {
    // the v4-chunked contract: heavy rows are timed in their own JVM
    // and merged back — this pins the fork + JSON round-trip on a cheap
    // row so a classpath/arg regression fails the suite, not BENCH_r{N}
    val r = Bench.runIsolated(Seq("sort_random"), dir)
    assert(r.isDefined, "fresh-JVM chunk failed (see stderr for the child log path)")
    val samples = r.get("sort_random")
    assert(samples.length == 2, s"expected 2 pass samples, got $samples")
    assert(samples.flatten.nonEmpty && samples.flatten.forall(t => t > 0 && t < 300),
      s"implausible isolated samples: $samples")
  }

  test("runIsolated passes=1 returns exactly one sample (the per-pass heavy fork)") {
    // the r11 heavy-row contract: each measured pass runs in its own
    // virgin JVM (SPARK_GRAFT_PASSES=1 in the child); the parent merges
    // two such runs into the same 2-sample shape as before
    val r = Bench.runIsolated(Seq("sort_topk"), dir, passes = 1)
    assert(r.isDefined, "fresh-JVM 1-pass chunk failed (see stderr for the child log path)")
    val samples = r.get("sort_topk")
    assert(samples.length == 1, s"expected 1 pass sample with passes=1, got $samples")
    assert(samples.flatten.forall(t => t > 0 && t < 300), s"implausible sample: $samples")
  }

  test("the bench output line starts with {\"metric\" and round-trips strict JSON") {
    // r9's line failed the driver's parser and cost round 10 its whole
    // round-over-round comparison (PERF_r10 prev_bench_ok=false): pin
    // the byte-level contract on the renderer, including the awkward
    // corners (a failed row -> null samples + "failed" entry, and a
    // never-sampled row -> [null,null])
    val names = Seq("alpha_ok", "beta_failed", "gamma_missing")
    val samples = Map(
      "alpha_ok" -> Seq(Some(1.2345), Some(0.9876)),
      "beta_failed" -> Seq[Option[Double]](None, None))
    val line = Bench.renderLine(names, samples, Seq("alpha_ok"),
      "2-pass-min/v5-passfork", "/root/testdata/sf0.001")
    assert(line.startsWith("{\"metric\""),
      s"driver tail-capture contract: line must start with {\"metric\" — got ${line.take(30)}")
    assert(!line.contains('\n'), "the output must be ONE line")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.configure(
      com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS, true)
    val root = mapper.readTree(line) // throws on any malformed JSON
    assert(root.get("metric").asText() == "total")
    assert(root.get("unit").asText() == "sec")
    assert(math.abs(root.get("value").asDouble() - 0.988) < 1e-9,
      "total must be the per-query min sum")
    assert(root.get("queries").get("alpha_ok").asDouble() == 0.988)
    assert(root.get("queries").get("beta_failed").isNull,
      "failed rows serialize as null, never a numeric sentinel")
    assert(root.get("failed").toString == "[\"beta_failed\",\"gamma_missing\"]")
    assert(root.get("passes").get("gamma_missing").toString == "[null,null]")
    // a never-sampled row shows one null per pass the run took
    val onePass = mapper.readTree(Bench.renderLine(names, samples, Seq.empty,
      "2-pass-min/v3-cleanstate", "sf0.001", nPasses = 1))
    assert(onePass.get("passes").get("gamma_missing").toString == "[null]")
    assert(root.get("isolated").toString == "[\"alpha_ok\"]")
    assert(root.get("sf").asText() == "/root/testdata/sf0.001")
  }
}
