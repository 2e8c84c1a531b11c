package graft.tools

import graft.{GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ad-hoc profiling entry: time sub-plans of the slow queries to find
  * where wall-clock goes (dev tool, not part of the driver contract).
  */
object Profile {
  def time(name: String)(f: => Long): Unit = {
    val t0 = System.nanoTime()
    val n = f
    println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)")
  }

  /** Stage-by-stage wall-clock of set_similarity_join (r9: the verify
    * went native; this locates the next constant).
    */
  def setsim(spark: SparkSession, dir: String): Unit = {
    val docs = Tables.documents(spark, dir)
    val toks = docs
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("token"))
      .filter(col("token") =!= "")
    val dfr = toks.groupBy(col("token")).agg(count(lit(1)).as("df"))
    def buildPerDoc() = graft.Lineage.cut(toks
      .join(dfr, Seq("token"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("token")))).as("sorted"))
      .select(col("doc_id"),
        transform(col("sorted"), x => x.getField("token")).as("ts"),
        array_sort(transform(col("sorted"), x => x.getField("token"))).as("tsl")))
    // warmup pass
    buildPerDoc().count()
    time("perDoc-build+cut")(buildPerDoc().count())
    val perDoc = buildPerDoc()
    val prefixRows = perDoc
      .select(col("doc_id"), col("ts"), posexplode(col("ts")).as(Seq("pos", "token")))
      .filter(col("pos") < size(col("ts")) - ((size(col("ts")) * 4 + 4) / 5).cast("int") + 1)
      .select(col("token"), col("doc_id"), size(col("ts")).as("n"), col("pos"))
    time("prefix-rows")(prefixRows.count())
    val raw = prefixRows
      .select(col("token"), col("doc_id").as("a"), col("n").as("na"), col("pos").as("pa"))
      .join(prefixRows.select(col("token"), col("doc_id").as("b"), col("n").as("nb"),
        col("pos").as("pb")), Seq("token"))
    time("raw-candidate-join")(raw.count())
    val filtered = raw.filter(col("a") < col("b") &&
      col("na") * 5 >= col("nb") * 4 && col("nb") * 5 >= col("na") * 4 &&
      (lit(1) + least(col("na") - 1 - col("pa"), col("nb") - 1 - col("pb"))) * 9 >=
        (col("na") + col("nb")) * 4)
    time("filtered-candidates")(filtered.count())
    val cand = filtered.select(col("a"), col("b")).dropDuplicates("a", "b")
    time("dedup-pairs")(cand.count())
    val attached = graft.Attach.arrays(cand, perDoc.select(col("doc_id"), col("tsl")), "doc_id", Seq("tsl"))
    time("attach+intersect+emit") {
      attached
        .withColumn("inter", graft.functions.Registry.sortedIntersect(col("tsl_a"), col("tsl_b")))
        .withColumn("uni", size(col("tsl_a")) + size(col("tsl_b")) - col("inter"))
        .filter(col("inter") * 5 >= col("uni") * 4)
        .count()
    }
    time("full-query")(graft.queries.Round9Ops.setSimilarityJoin(spark, dir).count())
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local()
    import graft.queries.TextOps

    if (args.drop(1).headOption.contains("setsim")) { setsim(spark, dir); spark.stop(); return }

    val docs = Tables.documents(spark, dir)
    val words = split(col("text"), " ")
    val sh3 = array_distinct(transform(sequence(lit(0), greatest(size(words) - 3, lit(0))),
      i => concat_ws(" ", element_at(words, i + 1), element_at(words, i + 2), element_at(words, i + 3))))

    // warmup
    docs.select(col("doc_id")).write.format("noop").mode("overwrite").save()

    time("shingle-compute-only")(docs.select(sh3.as("sh")).select(size(col("sh"))).agg(sum("size(sh)")).count())
    time("explode-grams")(docs.select(col("doc_id"), explode(sh3).as("g")).count())
    val grams = docs.select(col("doc_id"), explode(sh3).as("g"))
    time("grams-groupby-size")(grams.groupBy("doc_id").count().count())
    time("grams-selfjoin-shifted") {
      grams.join(grams.select((col("doc_id") - 1).as("doc_id"), col("g")), Seq("doc_id", "g")).count()
    }
    time("md5-min-agg")(grams.groupBy("doc_id").agg(min(md5(col("g")))).count())
    time("minhash-16-via-agg") {
      val base = grams.select(col("doc_id"), xxhash64(col("g")).as("h"))
      base.groupBy("doc_id")
        .agg(min(xxhash64(lit(0), col("h"))).as("m0"),
          (1 until 16).map(i => min(xxhash64(lit(i), col("h"))).as(s"m$i")): _*)
        .count()
    }
    time("full-ngram-jaccard")(TextOps.ngramJaccard(spark, dir).count())
    time("full-doc-fingerprint")(TextOps.docFingerprint(spark, dir).count())

    // native codegen'd DotProduct vs interpreted HOF composition, at
    // pair-mining scale (half-matrix of embeddings)
    val embp = Tables.embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    val lp = embp.select(col("vec_id").as("a"), col("e").as("ea"))
    val rp = embp.select(col("vec_id").as("b"), col("e").as("eb"))
    val pairs = lp.join(broadcast(rp), col("a") < col("b"))
    def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    for (round <- 1 to 3) {
      time(s"dot-native-pairs-$round")(
        pairs.select(graft.functions.Registry.dot(col("ea"), col("eb")).as("d"))
          .agg(sum("d")).count())
      time(s"dot-hof-pairs-$round")(
        pairs.select(hofDot(col("ea"), col("eb")).as("d")).agg(sum("d")).count())
    }

    val li = Tables.lineitem(spark, dir)
    time("rollup-plain-double")(li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")), count(lit(1))).count())
    time("rollup-decimal")(li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(38, 6))), count(lit(1))).count())
    time("percentile-agg")(li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.5)")).count())
    spark.stop()
  }
}
