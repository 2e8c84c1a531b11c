package perfbench

import graft.{Bench, SparkEntry}

/** catalog-slice: a seeded slice of the analytics catalog. Set-up runs
  * every key once on the small tables and writes its output for the
  * oracle check (the warm-up); the window then runs a fixed number of
  * passes over the slice on the large tables through the `noop` sink,
  * with the shared Spark state reset between keys as the graded bench
  * does.
  */
object CatalogWorkload {
  // the JIT settles over about four passes (each pass cost less CPU
  // than the last until then); the metrics take the cheapest
  val Passes = 5

  def run(ctx: Ctx, res: Result): (Double, Double) = {
    val s = ctx.spark
    val keys = Main.strings(ctx.inputs.get("keys"))
    val catalog = SparkEntry.queries
    val small = ctx.inputs.get("small_data").asText()
    val warm = ctx.dir("warmup")
    keys.foreach { k =>
      Bench.resetSharedState(s)
      try catalog(k)(s, small).coalesce(1).write.mode("overwrite").parquet(s"$warm/$k")
      catch { case e: Exception => res.check(ok = false, s"$k warm-up failed: ${e.getMessage}") }
    }
    // the slice's oracles, where tools/check.py looks for them
    val oracles = keys.flatMap(k => SparkEntry.oracleSql.get(k).map(q => s"${Main.jsonStr(k)}:${Main.jsonStr(q)}"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(warm, "oracle_sql.json"), oracles.mkString("{", ",", "}"))
    res.extra("warmup_dir") = Main.jsonStr(warm)
    Main.note("warm-up done")

    Main.window {
      for (_ <- 1 to Passes) {
        var pass, cpu = 0.0
        keys.foreach { k =>
          Bench.resetSharedState(s)
          val (ok, op) = ctx.timed(k) {
            try {
              val df = ctx.tracer.span("queries.build")(catalog(k)(s, ctx.dataDir))
              ctx.tracer.exec(df)(df.write.format("noop").mode("overwrite").save())
              true
            } catch { case e: Exception => res.check(ok = false, s"$k failed: ${e.getMessage}"); false }
          }
          if (ok) res.ops += op
          pass += op.ms / 1000
          cpu += op.cpuMs / 1000
        }
        res.passesS += pass
        res.passesCpuS += cpu
        Main.note(f"pass done: $pass%.2fs")
      }
    }

  }
}
