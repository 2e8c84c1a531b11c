package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.exact

/** Round-25 operators (repo round 8, continued) — two axes: the
  * per-point cluster-validity read (simplified silhouette — how many
  * vectors actually sit closer to a FOREIGN label's centroid;
  * label_separation #398 scores labels in aggregate, the silhouette
  * localizes the blame), and the rich-club coefficient of the
  * interaction graph (do the hubs wire to each other — the
  * centralization read assortativity #? summarizes by correlation
  * and k-core by pruning; the rich club measures hub-to-hub density
  * directly per degree threshold).
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

  /** #428 rich_club_coefficient — do the hubs wire to each other:
    * over the undirected interaction graph (the graph-family
    * synthetic edge set), for each degree threshold k ∈ {2, 5, 10}
    * the node count with degree > k, the edge count among them, and
    * φ(k) = 2·E/(n(n−1)) — the hub-to-hub density
    * (graph_assortativity summarizes degree mixing by ONE
    * correlation; k-core prunes; the rich club reads centralization
    * directly, threshold by threshold). Degrees and edge subsets are
    * exact integer set algebra: undirected edges dedup as (lo, hi)
    * pairs, degrees count distinct neighbors, the per-k membership
    * joins broadcast the bounded degree table. Exact oracle.
    */
  def richClubCoefficient(s: SparkSession, dir: String): DataFrame = {
    val e0 = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(
        (col("o_custkey") % 150).as("src"),
        ((col("l_suppkey") * 17 + col("l_partkey")) % 150).as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val edges = graft.Lineage.cut(e0)
    val deg = edges.select(col("a").as("node"))
      .unionByName(edges.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val degCut = graft.Lineage.cut(deg)
    val ks = Seq(2L, 5L, 10L)
    val grid = degCut.select(col("node"), col("deg"),
      explode(array(ks.map(lit): _*)).as("k"))
      .filter(col("deg") > col("k"))
    val members = graft.Lineage.cut(grid.select(col("k"), col("node")))
    val nk = members.groupBy(col("k")).agg(count(lit(1)).as("n_nodes"))
    val ek = edges
      .join(members.select(col("k"), col("node").as("a")), Seq("a"))
      .join(members.select(col("k").as("k2"), col("node").as("b")), Seq("b"))
      .filter(col("k") === col("k2"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_edges"))
    def d(c: String) = col(c).cast("double")
    nk.join(ek, Seq("k"), "left")
      .select(col("k"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
      .select(col("k"), col("n_nodes"), col("n_edges"),
        emit(when(col("n_nodes") > 1,
          lit(2.0) * d("n_edges") / (d("n_nodes") * (d("n_nodes") - 1.0))), 6)
          .as("phi"))
      .orderBy(col("k"))
  }

  val richClubCoefficientSql: String =
    """WITH e0 AS (
      |  SELECT DISTINCT least(o_custkey % 150, (l_suppkey * 17 + l_partkey) % 150) AS a,
      |    greatest(o_custkey % 150, (l_suppkey * 17 + l_partkey) % 150) AS b
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  WHERE o_custkey % 150 <> (l_suppkey * 17 + l_partkey) % 150
      |), deg AS (
      |  SELECT node, count(*) AS deg FROM (
      |    SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0
      |  ) GROUP BY 1
      |), members AS (
      |  SELECT k, node FROM deg
      |  CROSS JOIN (SELECT CAST(unnest([2, 5, 10]) AS BIGINT) AS k)
      |  WHERE deg > k
      |), nk AS (SELECT k, count(*) AS n_nodes FROM members GROUP BY 1),
      |ek AS (
      |  SELECT ma.k, count(*) AS n_edges
      |  FROM e0
      |  JOIN members ma ON e0.a = ma.node
      |  JOIN members mb ON e0.b = mb.node AND mb.k = ma.k
      |  GROUP BY 1
      |)
      |SELECT nk.k, n_nodes, CAST(coalesce(n_edges, 0) AS BIGINT) AS n_edges,
      |  CASE WHEN n_nodes > 1 THEN
      |    (CAST(round(CAST(2.0 * CAST(coalesce(n_edges, 0) AS DOUBLE)
      |      / (CAST(n_nodes AS DOUBLE) * (CAST(n_nodes AS DOUBLE) - 1.0)) AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0)
      |  END AS phi
      |FROM nk LEFT JOIN ek ON nk.k = ek.k
      |ORDER BY nk.k""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("silhouette_report", silhouetteReport, silhouetteReportSql),
    exact("rich_club_coefficient", richClubCoefficient, richClubCoefficientSql))
}
