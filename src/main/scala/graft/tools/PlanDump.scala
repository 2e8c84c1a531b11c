package graft.tools

import graft.{GraftSession, SparkEntry}

/** Write `.explain("formatted")` for one or more catalog queries to
  * files: the plan-shape evidence for a perf change, and the
  * neutrality proof for a refactor.
  *
  *   sbt 'runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...|all> [dir]'
  *
  * `all` dumps every `SparkEntry.queries` key, sorted. Emits
  * <outDir>/<query>_<suffix>.txt containing the formatted plan
  * (pre-execution, AQE initial plan) plus the executed-plan summary
  * counts (exchanges, join strategies, codegen spans) after a noop
  * run, so plan-shape claims are checkable from the files alone.
  * Run-specific numbers are masked (see `mask`), so `diff -r` of two
  * checkouts' dumps shows only real plan changes.
  *
  * A distinct aggregate's `Expand` lists its groups in hash order of
  * their expression ids, and those ids depend on everything that ran
  * earlier in the JVM. So under `all`, each key whose plan holds an
  * `Expand` is dumped again alone, in a fresh JVM: the same output on
  * every run.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val all = args(2) == "all"
    val names =
      if (all) SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(',').filter(_.nonEmpty).toSeq
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    java.nio.file.Files.createDirectories(outDir)
    val spark = GraftSession.local()
    val noCut = sys.env.get("SPARK_GRAFT_NO_CUT").contains("1")
    val expands = names.filter { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val formatted = (if (noCut) "(SPARK_GRAFT_NO_CUT=1: Lineage.cut rendered as identity so " +
        "the full logical chain is visible; the production plan pins each cut)\n" else "") +
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      df.write.format("noop").mode("overwrite").save()
      val executed = df.queryExecution.executedPlan.toString
      def n(sub: String) = executed.sliding(sub.length).count(_ == sub)
      val summary =
        s"== Executed-plan summary (after noop run, AQE final) ==\n" +
          s"Exchange=${n("Exchange")} BroadcastHashJoin=${n("BroadcastHashJoin")} " +
          s"SortMergeJoin=${n("SortMergeJoin")} ShuffledHashJoin=${n("ShuffledHashJoin")} " +
          s"BroadcastNestedLoop=${n("BroadcastNestedLoop")} wscg=${n("*(")}\n"
      java.nio.file.Files.writeString(
        outDir.resolve(s"${name}_$suffix.txt"),
        mask(s"== $name @ $dir ==\n$summary\n$formatted"))
      println(s"[plandump] wrote ${outDir.resolve(s"${name}_$suffix.txt")}")
      formatted.contains("Expand")
    }
    spark.stop()
    if (all) expands.foreach(name => alone(args(0), suffix, name, dir))
  }

  /** Dump one key in a fresh JVM with this JVM's flags and classpath. */
  private def alone(outDir: String, suffix: String, name: String, dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val cmd = Seq(ProcessHandle.current().info().command().get()) ++
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.tools.PlanDump",
        outDir, suffix, name, dir)
    val exit = new ProcessBuilder(cmd.asJava).inheritIO().start().waitFor()
    require(exit == 0, s"PlanDump of $name in a fresh JVM exited $exit")
  }

  /** Blank what differs between two runs of the same plan: expression
    * and subquery ids (`a#12L`, `[id=#34]`), the numbers of lambda
    * variables (`lambda x_7`, drawn from a JVM-wide counter), exchange
    * `plan_id`s, RDD ids, and the GraftSession.scala line that each
    * `Lineage.cut` RDD names as its creation site.
    */
  def mask(plan: String): String =
    plan
      .replaceAll("#\\d+", "#_")
      .replaceAll("lambda (\\w+?)_\\d+#", "lambda $1_#")
      .replaceAll("plan_id=\\d+", "plan_id=_")
      .replaceAll("RDD\\[\\d+\\]", "RDD[_]")
      .replaceAll("GraftSession\\.scala:\\d+", "GraftSession.scala:_")
}
