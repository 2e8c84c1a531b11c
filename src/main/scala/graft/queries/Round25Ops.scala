package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.exact

/** Round-25 operators (repo round 8, continued): the per-point
  * cluster-validity read (simplified silhouette — how many vectors
  * actually sit closer to a FOREIGN label's centroid;
  * label_separation #398 scores labels in aggregate, the silhouette
  * localizes the blame). rich_club_coefficient lives in [[GraphOps]].
  *
  * House rules as Round15–24: exact integer/decimal moments, mirrored
  * double chains, 12-dp-rounded libm terms into order-free
  * DECIMAL(38,12) sums, emits via OracleMath.emit with §6 #5 recovery
  * on oracle ratio emits, bounded outputs, unique sort keys.
  */
object Round25Ops {
  import OracleMath._

  /** #427 silhouette_report — the simplified (centroid-based)
    * silhouette per label: for each vector, a = distance to its own
    * label centroid, b = min distance to any foreign centroid,
    * s = (b−a)/max(a,b) — per label the mean silhouette and the share
    * of NEGATIVE points (vectors literally closer to a foreign
    * centroid: the per-point misassignment count behind
    * label_separation's aggregate CH/DB scores). Centroids are exact
    * decimal means per (label, dim); per-point squared distances are
    * 12-dp-rounded term sums in DECIMAL(38,12) (order-free), the
    * sqrt/ratio chain mirrored. Shape (r10): the ONLY data-sized
    * relations are the n·d centroid explode and the n-row vector
    * scan — the k centroid vectors pack into ONE broadcast row and
    * every per-(vector, centroid) distance is the native
    * [[graft.functions.RoundedDistSq]] computed IN-ROW (r9 shipped an
    * n·d·k exploded frame shuffled through a (vec, label, label2)
    * aggregate: 64× more rows and the audit table's 2.95 x10₂ growth;
    * the decimal term stream is identical, so the oracle hash is
    * unchanged). Exact oracle (range(0,64) explode device).
    */
  def silhouetteReport(s: SparkSession, dir: String): DataFrame = {
    val Dec6 = org.apache.spark.sql.types.DecimalType(38, 6)
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        transform(col("embedding"), v => v.cast("double")).as("emb"))
    // exact decimal mean per (label, dim), packed dim-ordered per label,
    // then ALL k centroids into one broadcastable row (k = |labels| is
    // bounded; the collect order is irrelevant — own-label lookup is a
    // filter, foreign-b is a min)
    val cen = base
      .select(col("label").as("label2"), posexplode(col("emb")).as(Seq("pos", "v")))
      .groupBy(col("label2"), col("pos"))
      .agg((sum(col("v").cast(Dec6)).cast("double") / count(lit(1)).cast("double"))
        .as("c"))
      .groupBy(col("label2"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cemb"))
      .groupBy()
      .agg(collect_list(struct(col("label2"), col("cemb"))).as("cens"))
    val perPoint = base.crossJoin(broadcast(cen))
      .withColumn("dists", transform(col("cens"), cn => struct(
        cn.getField("label2").as("l2"),
        round(sqrt(graft.functions.Registry
          .roundedDistSq(col("emb"), cn.getField("cemb")).cast("double")), 12).as("dist"))))
      .select(col("vec_id"), col("label"),
        get(transform(filter(col("dists"), d => d.getField("l2") === col("label")),
          d => d.getField("dist")), lit(0)).as("a"),
        array_min(transform(filter(col("dists"), d => d.getField("l2") =!= col("label")),
          d => d.getField("dist"))).as("b"))
      .select(col("vec_id"), col("label"),
        when(greatest(col("a"), col("b")) > 0.0,
          round((col("b") - col("a")) / greatest(col("a"), col("b")), 12))
          .otherwise(lit(0.0)).as("sil"))
    perPoint.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("sil").cast(Dec12)).as("ss"),
        sum(when(col("sil") < 0.0, 1L).otherwise(0L)).as("n_negative"))
      .select(
        col("label"), col("n_vecs"),
        emit(col("ss").cast("double") / col("n_vecs").cast("double"), 6)
          .as("mean_silhouette"),
        col("n_negative"),
        emit(col("n_negative").cast("double") / col("n_vecs").cast("double"), 6)
          .as("negative_share"))
      .orderBy(col("label"))
  }

  val silhouetteReportSql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label, pos,
      |    CAST(embedding[pos + 1] AS DOUBLE) AS v
      |  FROM embeddings, range(0, 64) t(pos)
      |), cen AS (
      |  SELECT label AS label2, pos,
      |    CAST(sum(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS c
      |  FROM e GROUP BY 1, 2
      |), d2 AS (
      |  SELECT vec_id, label, label2,
      |    sum(CAST(round((v - c) * (v - c), 12) AS DECIMAL(38,12))) AS d2
      |  FROM e JOIN cen ON e.pos = cen.pos
      |  GROUP BY 1, 2, 3
      |), dist AS (
      |  SELECT vec_id, label, label2, round(sqrt(CAST(d2 AS DOUBLE)), 12) AS dist
      |  FROM d2
      |), per_point AS (
      |  SELECT vec_id, label,
      |    CASE WHEN greatest(a, b) > 0.0 THEN round((b - a) / greatest(a, b), 12)
      |      ELSE 0.0 END AS sil
      |  FROM (
      |    SELECT vec_id, label,
      |      max(CASE WHEN label2 = label THEN dist END) AS a,
      |      min(CASE WHEN label2 <> label THEN dist END) AS b
      |    FROM dist GROUP BY 1, 2
      |  )
      |)
      |SELECT label, count(*) AS n_vecs,
      |  (CAST(round(CAST(CAST(sum(CAST(sil AS DECIMAL(38,12))) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS mean_silhouette,
      |  CAST(sum(CASE WHEN sil < 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
      |  (CAST(round(CAST(CAST(sum(CASE WHEN sil < 0.0 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS negative_share
      |FROM per_point
      |GROUP BY label
      |ORDER BY label""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("silhouette_report", silhouetteReport, silhouetteReportSql))
}
