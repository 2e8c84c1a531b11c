package graft.queries

import graft.{Key, OracleMath, Tables}
import graft.Key.exact
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Every graph key. The reference's `fetch_list` sources (§2 #48-#53)
  * — following / following-of-following / mutuals (SurrealDB graph
  * traversals, main.rs:3037-3043), skygraph topMoots (weighted edges,
  * main.rs:3077) and community membership (main.rs:3059) —
  * re-expressed as joins over an edge relation, and the graph
  * analytics over the same relations: ranking, communities,
  * distances, cores and degree structure.
  *
  * The edge lists are derived deterministically from the testdata
  * (purchases projected into one user-id space) so both engines build
  * the identical graph. Each device is defined once here, with its
  * oracle twin: the follows graph ([[edges]]), the interaction graph
  * ([[interactions]]), the undirected view ([[undirected]]), the
  * PageRank rounds ([[pageRankRounds]]), the frontier BFS
  * ([[frontierBfs]]) and the k-core peel ([[kcoreOver]]).
  */
object GraphOps {
  import OracleMath._

  /** Deterministic follows-graph: src buys-from dst, both mapped into
    * the 0..149 user space. ~one edge per order line, deduped.
    */
  private def edges(s: SparkSession, dir: String): DataFrame =
    Tables
      .orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(
        (col("o_custkey") % 150).as("src"),
        ((col("l_suppkey") * 17 + col("l_partkey")) % 150).as("dst"))
      .filter(col("src") =!= col("dst"))

  private val edgesSql: String =
    """SELECT o_custkey % 150 AS src, (l_suppkey * 17 + l_partkey) % 150 AS dst
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_custkey % 150 <> (l_suppkey * 17 + l_partkey) % 150""".stripMargin

  /** Interaction graph: the SAME order→supplier purchases projected
    * into a 4000-id space. The %150 follows graph is near-complete
    * (every node would survive any small k-core, and degree
    * correlation is pinned near a constant by density); here degrees
    * spread 1..90 at sf0.01.
    */
  private def interactions(s: SparkSession, dir: String): DataFrame =
    Tables
      .orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(
        ((col("o_custkey") * 31 + col("l_linenumber")) % 4000).as("src"),
        ((col("l_suppkey") * 17 + col("l_partkey")) % 4000).as("dst"))
      .filter(col("src") =!= col("dst"))

  /** [[interactions]]' oracle, as the `e0` CTE. */
  private val interactionsSql: String =
    """e0 AS (
      |  SELECT (o_custkey*31 + l_linenumber) % 4000 AS src,
      |         (l_suppkey*17 + l_partkey) % 4000 AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  WHERE (o_custkey*31 + l_linenumber) % 4000 <> (l_suppkey*17 + l_partkey) % 4000
      |)""".stripMargin

  /** The undirected view of a (src, dst) edge frame: each edge once, as
    * the (a, b) pair with a < b.
    */
  private def undirected(e: DataFrame): DataFrame =
    e.select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** Every node of a (src, dst) edge frame, as `id`. */
  private def nodesOf(e: DataFrame): DataFrame =
    e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()

  /** #48 following: 1-hop out-neighbors of the seed users. */
  def graphFollowing(s: SparkSession, dir: String): DataFrame =
    edges(s, dir)
      .filter(col("src") < 5)
      .select(col("src"), col("dst"))
      .distinct()
      .orderBy(col("src"), col("dst"))

  val graphFollowingSql: String =
    s"""WITH edges AS ($edgesSql)
       |SELECT DISTINCT src, dst FROM edges WHERE src < 5
       |ORDER BY src, dst""".stripMargin

  /** #49 following-of-following: 2-hop expansion (main.rs:3040). Two
    * shuffles on the hop key; distinct collapses the fan-out early.
    */
  def graph2hop(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir)
    val hop1 = e.filter(col("src") < 3).select(col("src"), col("dst").as("mid")).distinct()
    // hop1 sits behind an aggregate, so the size estimate balloons past
    // the broadcast threshold and the planner falls back to a sort-merge
    // join. The pinned broadcast is justified HERE because this query's
    // hop1 is doubly bounded (3 seeds × a 150-node projected graph); a
    // general 2-hop over unbounded fanout should drop the hint and let
    // AQE decide (cf. jaccardPairs)
    broadcast(hop1)
      .join(e.select(col("src").as("mid"), col("dst")).distinct(), "mid")
      .select(col("src"), col("dst"))
      .distinct()
      .orderBy(col("src"), col("dst"))
  }

  val graph2hopSql: String =
    s"""WITH edges AS ($edgesSql),
       |hop1 AS (SELECT DISTINCT src, dst AS mid FROM edges WHERE src < 3),
       |hop2 AS (SELECT DISTINCT src AS mid, dst FROM edges)
       |SELECT DISTINCT h1.src, h2.dst
       |FROM hop1 h1 JOIN hop2 h2 USING (mid)
       |ORDER BY src, dst""".stripMargin

  /** #50 mutuals (main.rs:3043): follow-backs — semi join of the edge
    * set against its own reverse.
    */
  def graphMutuals(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir).distinct()
    e.join(
        e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"),
        "left_semi")
      .filter(col("src") < 20)
      .orderBy(col("src"), col("dst"))
  }

  val graphMutualsSql: String =
    s"""WITH edges AS (SELECT DISTINCT * FROM ($edgesSql))
       |SELECT src, dst FROM edges e
       |WHERE src < 20
       |  AND EXISTS (SELECT 1 FROM edges r WHERE r.src = e.dst AND r.dst = e.src)
       |ORDER BY src, dst""".stripMargin

  /** #51 topMoots (main.rs:3077): weighted edges (interaction counts),
    * top 5 strongest per seed user — per-key top-k over the weighted
    * edge aggregate.
    */
  def graphTopMoots(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("src")).orderBy(col("weight").desc, col("dst"))
    edges(s, dir)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("weight"))
      .filter(col("src") < 10)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("src"), col("dst"), col("weight"), col("rn"))
      .orderBy(col("src"), col("rn"))
  }

  val graphTopMootsSql: String =
    s"""WITH edges AS ($edgesSql),
       |weighted AS (
       |  SELECT src, dst, COUNT(*) AS weight FROM edges
       |  GROUP BY src, dst
       |), ranked AS (
       |  SELECT src, dst, weight,
       |    row_number() OVER (PARTITION BY src ORDER BY weight DESC, dst) AS rn
       |  FROM weighted WHERE src < 10
       |)
       |SELECT src, dst, weight, rn FROM ranked WHERE rn <= 5
       |ORDER BY src, rn""".stripMargin

  /** #52 community membership input (main.rs:3059): nations play the
    * community layer — events authored by members of the seed user's
    * community, aggregated per member. The single-row seed lookup is
    * broadcast; the member set scales with the customer table, so its
    * semi join is hint-free (AQE broadcasts when it is small).
    */
  def communityInput(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val seedNation = cust.filter(col("c_custkey") === 7).select(col("c_nationkey").as("seed_nation"))
    val members = cust
      .join(broadcast(seedNation), col("c_nationkey") === col("seed_nation"))
      .select(col("c_custkey"))
    Tables
      .events(s, dir)
      .join(members, col("user_id") === col("c_custkey"), "left_semi")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), emit(dsum(col("value"))).as("total_value"))
      .orderBy(col("user_id"))
  }

  val communityInputSql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  (CAST(round(SUM(CAST(value AS DECIMAL(38,6))), 4) AS DOUBLE) + 0.0) AS total_value
      |FROM events
      |WHERE user_id IN (
      |  SELECT c_custkey FROM customer
      |  WHERE c_nationkey = (SELECT c_nationkey FROM customer WHERE c_custkey = 7)
      |)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** #53 admin stats (main.rs:690): table cardinalities + key spans in
    * one unioned scan-light pass.
    */
  def adminStats(s: SparkSession, dir: String): DataFrame = {
    def statsOf(name: String, df: DataFrame, keyCol: String): DataFrame =
      df.agg(
        count(lit(1)).as("n_rows"),
        min(col(keyCol)).cast("long").as("min_key"),
        max(col(keyCol)).cast("long").as("max_key"))
        .select(lit(name).as("tbl"), col("n_rows"), col("min_key"), col("max_key"))
    statsOf("customer", Tables.customer(s, dir), "c_custkey")
      .unionByName(statsOf("events", Tables.events(s, dir), "event_id"))
      .unionByName(statsOf("lineitem", Tables.lineitem(s, dir), "l_orderkey"))
      .unionByName(statsOf("orders", Tables.orders(s, dir), "o_orderkey"))
      .orderBy(col("tbl"))
  }

  val adminStatsSql: String =
    """SELECT * FROM (
      |  SELECT 'customer' AS tbl, COUNT(*) AS n_rows,
      |    CAST(MIN(c_custkey) AS BIGINT) AS min_key, CAST(MAX(c_custkey) AS BIGINT) AS max_key FROM customer
      |  UNION ALL
      |  SELECT 'events', COUNT(*), CAST(MIN(event_id) AS BIGINT), CAST(MAX(event_id) AS BIGINT) FROM events
      |  UNION ALL
      |  SELECT 'lineitem', COUNT(*), CAST(MIN(l_orderkey) AS BIGINT), CAST(MAX(l_orderkey) AS BIGINT) FROM lineitem
      |  UNION ALL
      |  SELECT 'orders', COUNT(*), CAST(MIN(o_orderkey) AS BIGINT), CAST(MAX(o_orderkey) AS BIGINT) FROM orders
      |) ORDER BY tbl""".stripMargin

  /** #57 PageRank, 3 fixed iterations (d = 0.85) over the deduped
    * follow graph — the canonical iterative graph op, exact-oracle by
    * construction: per-edge contributions are rounded to 12 dp and
    * summed through DECIMAL (order-independent), each iteration's rank
    * re-rounds to 12 dp, so both engines walk bit-identical values and
    * the DuckDB oracle is the same three iterations unrolled as CTEs.
    * Dangling mass is not redistributed (simplified PageRank) —
    * identical on both sides, documented here. The rounds are
    * [[pageRankRounds]]: O(E) shuffle per round, the node vector never
    * leaves the cluster, and Lineage.cut stops plan re-derivation
    * across rounds (2^iters blow-up otherwise). Final ranking sorts
    * ROUNDED doubles with an id tie-break (the engine-portable rank
    * rule).
    */
  def pageRank(s: SparkSession, dir: String): DataFrame =
    // consumed by nodes/deg AND every round's inflow join: cut once
    uniformRanks(graft.Lineage.cut(edges(s, dir).distinct()))
      .select(col("id"), emit(col("rank"), 6).as("rank"))
      .orderBy(col("rank").desc, col("id"))

  /** page_rank's rounds over a deduped (src, dst) edge frame: start at
    * 1/n, teleport 0.15/n.
    */
  private[graft] def uniformRanks(e: DataFrame): DataFrame = {
    val nodes = nodesOf(e)
    val nRow = nodes.agg(count(lit(1)).as("n")) // single-row broadcast
    pageRankRounds(e, nodes, nRow, lit(1.0) / col("n"), lit(0.15) / col("n"))
  }

  /** personalized_pagerank's rounds: start at 1/|S| and teleport
    * 0.15/|S| on the seed set S, 0 elsewhere.
    */
  private[graft] def seededRanks(e: DataFrame, seed: Column): DataFrame = {
    val nodes = nodesOf(e)
    val seedN = nodes.filter(seed).agg(count(lit(1)).as("ns"))
    pageRankRounds(e, nodes, seedN,
      when(seed, lit(1.0) / col("ns").cast("double")).otherwise(lit(0.0)),
      when(seed, lit(0.15) / col("ns").cast("double")).otherwise(lit(0.0)))
  }

  /** Three synchronous PageRank rounds (d = 0.85) over the deduped edge
    * frame `e`: each round is one edge-key join + one (dst) aggregate,
    * contributions rounded to 12 dp and summed through DECIMAL, and the
    * round's rank re-rounded to 12 dp and cut. `scalar` is the one-row
    * frame whose column `init` and `teleport` read; it rides along in
    * every round's rows.
    */
  private def pageRankRounds(
      e: DataFrame, nodes: DataFrame, scalar: DataFrame,
      init: Column, teleport: Column): DataFrame = {
    val carried = col(scalar.columns.head)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    var r = nodes
      .crossJoin(broadcast(scalar))
      .select(col("id"), init.as("rank"), carried)
    for (_ <- 1 to 3) {
      val inflow = e
        .join(r.select(col("id").as("src"), col("rank")), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst").as("id"), round(col("rank") / col("deg"), 12).cast(Dec12).as("c"))
        .groupBy(col("id"))
        .agg(sum(col("c")).as("inflow"))
      r = graft.Lineage.cut(
        nodes
          .crossJoin(broadcast(scalar))
          .join(inflow, Seq("id"), "left")
          .select(
            col("id"),
            round(
              teleport +
                lit(0.85) * coalesce(col("inflow").cast("double"), lit(0.0)),
              12).as("rank"),
            carried))
    }
    r
  }

  /** The oracle's deduped follows graph `e` and its `nodes`: the CTEs
    * every ranking oracle starts from.
    */
  private val nodesSql: String =
    s"""WITH edges_raw AS ($edgesSql),
       |e AS (SELECT DISTINCT src, dst FROM edges_raw),
       |nodes AS (
       |  SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION SELECT dst AS id FROM e)
       |),""".stripMargin

  /** [[pageRankRounds]]' oracle: rounds i1..i3 from i0. `teleport` is the
    * SQL term ahead of the inflow, with the whitespace that follows it;
    * `scalar` is the one-row CTE it reads.
    */
  private def pageRankRoundsSql(teleport: String, scalar: String): String =
    (1 to 3).map { k =>
      val prev = s"i${k - 1}"
      s"""c$k AS (
         |  SELECT e.dst AS id, CAST(round($prev.rank / deg.deg, 12) AS DECIMAL(38,12)) AS c
         |  FROM e JOIN $prev ON e.src = $prev.id JOIN deg ON e.src = deg.src
         |),
         |i$k AS (
         |  SELECT nodes.id,
         |    round(${teleport}+ 0.85 * coalesce(CAST(t.s AS DOUBLE), 0), 12) AS rank
         |  FROM nodes CROSS JOIN $scalar
         |  LEFT JOIN (SELECT id, sum(c) AS s FROM c$k GROUP BY id) t ON nodes.id = t.id
         |)""".stripMargin
    }.mkString(",\n")

  val pageRankSql: String =
    s"""$nodesSql
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |i0 AS (SELECT id, 1.0 / n.n AS rank FROM nodes CROSS JOIN n),
       |${pageRankRoundsSql("0.15 / n.n ", "n")}
       |SELECT id, (CAST(round(rank, 6) AS DOUBLE) + 0.0) AS rank
       |FROM i3 ORDER BY rank DESC, id""".stripMargin

  /** #308 personalized_pagerank — PageRank with teleport restricted to
    * a SEED set (Haveliwala 2002): the "how relevant is every node to
    * THESE accounts" primitive behind recommendation and
    * trust-propagation reads of the follow graph (graph_distances
    * answers hop-distance from seeds; this answers stationary
    * visit probability). The same [[pageRankRounds]] as #57
    * page_rank, with the teleport term 0.15·[id ∈ S]/|S| replacing
    * 0.15/n. Seeds here: node id < 5 (the graphFollowing seed rule);
    * the seed count is a broadcast-joined one-row relation. Exact
    * oracle: the same three rounds unrolled as CTEs.
    */
  def personalizedPagerank(s: SparkSession, dir: String): DataFrame =
    // consumed by nodes/deg AND every round's inflow join: cut once
    seededRanks(graft.Lineage.cut(edges(s, dir).distinct()), col("id") < 5)
      .select(col("id"), emit(col("rank"), 6).as("ppr"))
      .filter(col("ppr") > 0.0)
      .orderBy(col("ppr").desc, col("id"))

  val personalizedPagerankSql: String =
    s"""$nodesSql
       |ns AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM nodes WHERE id < 5),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |i0 AS (
       |  SELECT id, CASE WHEN id < 5 THEN 1.0 / ns.ns ELSE 0.0 END AS rank
       |  FROM nodes CROSS JOIN ns
       |),
       |${pageRankRoundsSql("CASE WHEN nodes.id < 5 THEN 0.15 / ns.ns ELSE 0.0 END\n      ", "ns")}
       |SELECT id, (CAST(round(rank, 6) AS DOUBLE) + 0.0) AS ppr
       |FROM i3 WHERE round(rank, 6) > 0.0 ORDER BY ppr DESC, id""".stripMargin

  /** #58 triangle count: the clustering metric over the undirected
    * follow graph. Canonical ordered-wedge form — undirect edges to
    * (lo, hi) pairs, join wedges a<b<c, close against the edge set —
    * so each triangle is found exactly once and the join never
    * explodes symmetric duplicates. Scale: two equi-joins on edge
    * keys; the a<b<c ordering bounds wedge fan-out by the
    * smaller-degree endpoint (the standard trick that keeps the
    * shuffle near O(E^1.5) instead of Σdeg²).
    */
  def triangleCount(s: SparkSession, dir: String): DataFrame = {
    val und = undirected(edges(s, dir))
    val wedges = und
      .join(und.select(col("a").as("b"), col("b").as("c")), Seq("b"))
      .filter(col("b") < col("c"))
    wedges
      .join(und.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }

  val triangleCountSql: String =
    s"""WITH edges_raw AS ($edgesSql),
       |und AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges_raw
       |),
       |wedges AS (
       |  SELECT e1.a, e1.b, e2.b AS c
       |  FROM und e1 JOIN und e2 ON e1.b = e2.a WHERE e1.b < e2.b
       |)
       |SELECT count(*) AS n_triangles FROM wedges w
       |WHERE EXISTS (SELECT 1 FROM und WHERE und.a = w.a AND und.b = w.c)""".stripMargin

  /** #58b (r6) global clustering coefficient — how clique-ish the
    * follow graph is: 3·triangles / wedges, the standard transitivity
    * ratio (Watts–Strogatz; the network-health number beside the raw
    * triangle count). Triangles come from the verified #58 ordered
    * enumeration; the wedge count is CLOSED-FORM from degrees
    * (Σ d·(d−1)/2 — one degree agg over the undirected edge set, no
    * wedge materialization), so the whole denominator costs one
    * bounded aggregate and the two single-row sides meet by broadcast.
    */
  def graphClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val und = undirected(edges(s, dir))
    val wedges = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("d"))
      .agg(sum(expr("(d * (d - 1)) div 2")).as("n_wedges"))
    triangleCount(s, dir)
      .crossJoin(broadcast(wedges)) // single row
      .select(
        col("n_triangles"),
        col("n_wedges"),
        when(col("n_wedges") === 0, lit(0.0))
          .otherwise(graft.OracleMath.emit(
            lit(3.0) * col("n_triangles") / col("n_wedges"), 6))
          .as("clustering_coeff"))
  }

  val graphClusteringCoeffSql: String =
    s"""WITH edges_raw AS ($edgesSql),
       |und AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges_raw
       |),
       |deg AS (
       |  SELECT v, count(*) AS d FROM (
       |    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
       |  ) GROUP BY v
       |),
       |w AS (SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS n_wedges FROM deg),
       |wedges AS (
       |  SELECT e1.a, e1.b, e2.b AS c
       |  FROM und e1 JOIN und e2 ON e1.b = e2.a WHERE e1.b < e2.b
       |),
       |t AS (
       |  SELECT count(*) AS n_triangles FROM wedges wg
       |  WHERE EXISTS (SELECT 1 FROM und WHERE und.a = wg.a AND und.b = wg.c)
       |)
       |SELECT n_triangles, n_wedges,
       |  CASE WHEN n_wedges = 0 THEN 0.0
       |       ELSE (CAST(round(3.0 * n_triangles / n_wedges, 6) AS DOUBLE) + 0.0) END AS clustering_coeff
       |FROM t CROSS JOIN w""".stripMargin

  /** #58c (r6) degree distribution — the log2-bucketed out-degree
    * histogram (the first diagnostic anyone runs on a social graph:
    * is it power-law, where does the influencer tail start, what cap
    * do per-key operators need). Bucket = floor(log2(deg))+1 computed
    * as length(bin(deg)) — pure integer/string arithmetic, identical
    * in both engines, no floating log at the bucket boundary. Scale
    * shape: one degree agg on src (map-side combine), one BOUNDED
    * bucket agg (≤ 64 buckets at any input size).
    */
  def graphDegreeDistribution(s: SparkSession, dir: String): DataFrame =
    edges(s, dir)
      .select(col("src"), col("dst"))
      .distinct()
      .groupBy(col("src"))
      .agg(count(lit(1)).as("deg"))
      .groupBy(length(bin(col("deg"))).as("bucket"))
      .agg(
        count(lit(1)).as("n_users"),
        min(col("deg")).as("min_deg"),
        max(col("deg")).as("max_deg"))
      .orderBy(col("bucket"))

  val graphDegreeDistributionSql: String =
    s"""WITH edges AS (SELECT DISTINCT src, dst FROM ($edgesSql)),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)
       |SELECT CAST(length(bin(deg)) AS INT) AS bucket, count(*) AS n_users,
       |  min(deg) AS min_deg, max(deg) AS max_deg
       |FROM deg GROUP BY 1 ORDER BY bucket""".stripMargin

  /** #125 graph_neighbor_jaccard — structural similarity of users by
    * their follow sets: Jaccard |N(a)∩N(b)| / |N(a)∪N(b)| for pairs
    * sharing at least one out-neighbor. The intersection comes from
    * the co-follow self-join on dst — the candidate-pair core, so it
    * runs through [[TextOps.dropHotBuckets]] like every pair join in
    * the repo: a celebrity dst with m followers would emit m²/2 pairs
    * under one key at 100 TB; over the cap the bucket drops with an
    * observe()d count (degrees stay exact — only candidate generation
    * is capped, the documented recall trade). Union sizes come from
    * the per-user degree aggregate joined back on fine keys; the
    * top-50 ranks the ROUNDED jaccard under a total (a, b) tie-break
    * as a TakeOrderedAndProject. The test-SF max in-degree (147) sits
    * far under the default 1000 cap, so the DuckDB oracle is exact.
    */
  def graphNeighborJaccard(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir).distinct()
    val guarded = TextOps.dropHotBuckets(e, Seq("dst"), "jaccard_hot_buckets")
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    guarded.select(col("src").as("a"), col("dst"))
      .join(guarded.select(col("src").as("b"), col("dst")), Seq("dst"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"))
      .join(deg.select(col("src").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("src").as("b"), col("deg").as("deg_b")), Seq("b"))
      .select(
        col("a"), col("b"), col("n_common"),
        emit(col("n_common") / (col("deg_a") + col("deg_b") - col("n_common")), 6)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("a"), col("b"))
      .limit(50)
  }

  val graphNeighborJaccardSql: String =
    s"""WITH e AS (SELECT DISTINCT src, dst FROM ($edgesSql)),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |guarded AS (
       |  -- mirrors the engine's hot-bucket cap (r8, the containment
       |  -- precedent): exactness now holds at ANY SF instead of
       |  -- relying on "the cap never fires at test SFs" — the trap
       |  -- that silently broke set_similarity_join at sf0.1
       |  SELECT src, dst FROM e
       |  QUALIFY count(*) OVER (PARTITION BY dst) <= ${TextOps.PairBucketCap}
       |),
       |p AS (
       |  SELECT e1.src AS a, e2.src AS b, count(*) AS n_common
       |  FROM guarded e1 JOIN guarded e2 ON e1.dst = e2.dst AND e1.src < e2.src
       |  GROUP BY 1, 2
       |)
       |SELECT a, b, n_common,
       |  (CAST(round(n_common / (da.deg + db.deg - n_common), 6) AS DOUBLE) + 0.0) AS jaccard
       |FROM p JOIN deg da ON a = da.src JOIN deg db ON b = db.src
       |ORDER BY jaccard DESC, a, b LIMIT 50""".stripMargin

  /** #128 graph_kcore — the k-core of the interaction graph: the
    * maximal subgraph where every member keeps ≥ k neighbors INSIDE
    * the subgraph (the standard engagement-tier / spam-ring cut,
    * stronger than a raw degree threshold because peripheral
    * followers don't prop each other up). Computed by the textbook
    * peel: drop nodes under degree k, recompute induced degrees,
    * repeat, over the undirected [[interactions]] graph — the 20-core
    * peels away a third of it over 7 rounds at sf0.01.
    *
    * Both engines run a FIXED 8 peel rounds — one past convergence on
    * the oracle data, so the output is the true fixpoint there, and
    * byte-equal across engines at any SF by construction (peeling is
    * idempotent at the fixpoint; extra rounds are no-ops). Scale per
    * round: two semi-joins on the edge keys + one count aggregate —
    * O(E) shuffle, no all-pairs anywhere; [[graft.Lineage.cut]] stops
    * the 2^rounds plan blow-up exactly as in [[pageRank]]. On a real
    * cluster the driver loops until `alive.count()` stabilizes
    * instead of a fixed bound; the fixed bound here is what makes the
    * result a pure deterministic function of the input for the
    * cross-engine hash gate.
    */
  def graphKcore(s: SparkSession, dir: String): DataFrame = {
    // induced() re-reads und every peel round: cut once
    kcoreOver(graft.Lineage.cut(undirected(interactions(s, dir))), k = 20, rounds = 8)
  }

  /** The peel over any undirected (a, b) edge frame — test entry.
    *
    * Early-exits once a round removes nothing: the peel is MONOTONE
    * (alive only ever shrinks, so equal COUNTS imply the equal SET)
    * and IDEMPOTENT at the fixpoint (further rounds are no-ops), so
    * stopping early is output-identical to running all `rounds` — the
    * oracle's fixed-round form and this loop agree by construction.
    * The count() per round is a cheap action on the already-cut
    * (materialized) alive set, and it is exactly what a cluster driver
    * loops on anyway; on dense graphs that converge in 1-2 peels it
    * removes most of the fixed-round cost (14.2 s → ~5 s at sf0.1).
    */
  private[graft] def kcoreOver(und: DataFrame, k: Int, rounds: Int): DataFrame = {
    def induced(alive: DataFrame): DataFrame = und
      .join(alive.select(col("id").as("a")), Seq("a"), "left_semi")
      .join(alive.select(col("id").as("b")), Seq("b"), "left_semi")
    def degrees(live: DataFrame): DataFrame = live
      .select(col("a").as("id"))
      .unionAll(live.select(col("b").as("id")))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("core_deg"))
    var alive = graft.Lineage.cut(
      und.select(col("a").as("id")).union(und.select(col("b").as("id"))).distinct())
    var n = alive.count()
    var i = 0
    var converged = false
    while (i < rounds && !converged) {
      val next = graft.Lineage.cut(
        degrees(induced(alive)).filter(col("core_deg") >= k).select(col("id")))
      val n2 = next.count()
      converged = n2 == n
      alive = next
      n = n2
      i += 1
    }
    degrees(induced(alive)).orderBy(col("id"))
  }

  // MATERIALIZED matters: DuckDB inlines plain CTEs once per
  // reference, so the 8 rounds' 2×-per-round references would re-scan
  // the parquet ~19 times (and run out of file handles before that).
  val graphKcoreSql: String = {
    def round(prev: String, cur: String): String =
      s"""$cur AS MATERIALIZED (
         |  SELECT id FROM (
         |    SELECT u.a AS id FROM und u JOIN $prev x ON u.a = x.id JOIN $prev y ON u.b = y.id
         |    UNION ALL
         |    SELECT u.b AS id FROM und u JOIN $prev x ON u.a = x.id JOIN $prev y ON u.b = y.id
         |  ) GROUP BY id HAVING count(*) >= 20
         |)""".stripMargin
    val rounds = (1 to 8).map(i => round(s"a${i - 1}", s"a$i")).mkString(",\n")
    s"""WITH $interactionsSql,
      |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e0),
      |a0 AS (SELECT DISTINCT id FROM (SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)),
      |""".stripMargin + rounds +
      """,
        |live AS (SELECT u.a, u.b FROM und u JOIN a8 x ON u.a = x.id JOIN a8 y ON u.b = y.id)
        |SELECT id, count(*) AS core_deg
        |FROM (SELECT a AS id FROM live UNION ALL SELECT b AS id FROM live)
        |GROUP BY id ORDER BY id""".stripMargin
  }

  /** #141 graph_assortativity — the degree-correlation coefficient:
    * Pearson r of endpoint degrees over every directed orientation of
    * the undirected edge set (Newman's assortativity; social graphs
    * run positive — hubs befriend hubs — bot farms and star spam run
    * strongly negative, which is why it's an integrity dashboard
    * number), over the undirected [[interactions]] graph like
    * graph_kcore. Shape: one degree agg, two fine-keyed joins to tag
    * both endpoints, then a single-row moment aggregate — every
    * moment (n, Σx, Σy, Σxy, Σx², Σy²) is an exact integer sum, and r
    * is ONE double expression over exact ints (identical IEEE both
    * engines, the zipf-slope device). By edge symmetry Σx=Σy, which
    * the oracle preserves naturally by unioning both orientations.
    */
  def graphAssortativity(s: SparkSession, dir: String): DataFrame = {
    val und = undirected(interactions(s, dir))
    val dirEdges = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
    val deg = dirEdges.groupBy(col("a").as("id")).agg(count(lit(1)).as("d"))
    val pairs = dirEdges
      .join(deg.select(col("id").as("a"), col("d").as("x")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("d").as("y")), Seq("b"))
    // moments and their cross-products run in DECIMAL: with hub
    // degrees at larger SFs, n·Σxy and Σx·Σy overflow a long (ANSI
    // mode would throw mid-bench); 38-digit decimals hold them exactly
    def dsum0(c: Column): Column = sum(c.cast("decimal(38,0)"))
    val m = pairs.agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      dsum0(col("x")).as("sx"),
      dsum0(col("y")).as("sy"),
      dsum0(col("x") * col("y")).as("sxy"),
      dsum0(col("x") * col("x")).as("sxx"),
      dsum0(col("y") * col("y")).as("syy"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den = sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
      sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))
    m.select(
      col("n").cast("long").as("n_directed_edges"),
      when(den === 0.0, lit(0.0)).otherwise(emit(num.cast("double") / den, 6))
        .as("assortativity"))
  }

  val graphAssortativitySql: String =
    s"""WITH $interactionsSql,
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e0),
      |de AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
      |deg AS (SELECT a AS id, count(*) AS d FROM de GROUP BY 1),
      |pairs AS (
      |  SELECT da.d AS x, db.d AS y
      |  FROM de JOIN deg da ON de.a = da.id JOIN deg db ON de.b = db.id
      |),
      |m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
      |    CAST(sum(x * y) AS HUGEINT) AS sxy,
      |    CAST(sum(x * x) AS HUGEINT) AS sxx, CAST(sum(y * y) AS HUGEINT) AS syy
      |  FROM pairs
      |)
      |SELECT CAST(n AS BIGINT) AS n_directed_edges,
      |  CASE WHEN sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
      |            sqrt(CAST(n * syy - sy * sy AS DOUBLE)) = 0 THEN 0.0
      |       ELSE (CAST(round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |         (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
      |          sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS DOUBLE) + 0.0) END AS assortativity
      |FROM m""".stripMargin

  /** #58r graph_reciprocity — the directed-graph health metric beside
    * assortativity (Garlaschelli & Loffredo 2004, "Patterns of Link
    * Reciprocity in Directed Networks"): the fraction of directed
    * edges whose reverse also exists. On a social graph this is the
    * mutual-follow rate — the first number a growth or
    * recommendation team asks for, and graph_mutuals' (#52) global
    * summary form. One distinct edge shuffle + a self semi-join on
    * the reversed key + two single-row aggregates meeting by
    * broadcast; the division rounds through the emit device so both
    * engines emit the identical double.
    */
  def graphReciprocity(s: SparkSession, dir: String): DataFrame = {
    // e is both semi-join sides AND the total: cut once
    val e = graft.Lineage.cut(edges(s, dir).distinct())
    val recip = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"),
      "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(recip.agg(count(lit(1)).as("n_recip"))))
      .select(
        col("n_edges"), col("n_recip"),
        emit(col("n_recip") / col("n_edges"), 6).as("reciprocity"))
  }

  val graphReciprocitySql: String =
    s"""WITH edges AS (SELECT DISTINCT * FROM ($edgesSql)),
       |r AS (
       |  SELECT count(*) AS n_recip FROM edges e
       |  WHERE EXISTS (SELECT 1 FROM edges x WHERE x.src = e.dst AND x.dst = e.src)
       |),
       |t AS (SELECT count(*) AS n_edges FROM edges)
       |SELECT n_edges, n_recip,
       |  (CAST(round(n_recip / n_edges, 6) AS DOUBLE) + 0.0) AS reciprocity
       |FROM t, r""".stripMargin

  /** #302 graph_hits — Kleinberg's HITS (hubs & authorities, 3
    * synchronous iterations, L1-normalized each half-step so the
    * normalizer is an exact DECIMAL sum rather than an L2 sqrt — the
    * documented variant that keeps every cross-row total order-free):
    * a ← Σ_in h, h ← Σ_out a, each divided by its L1 total (exact
    * long→double-free: decimal/decimal via double division of exact
    * sums, round-12 between rounds — the page_rank discipline). Per
    * round: two edge-keyed joins + two fine aggs, O(E) shuffle, a
    * lineage cut per round; the oracle replays the identical rounds
    * as generated CTEs.
    */
  def graphHits(s: SparkSession, dir: String): DataFrame = {
    // e feeds SIX per-round joins + the node roster: cut once or every
    // consumer re-runs the orders⋈lineitem derivation (r9: 6.3 s → the
    // per-round work is then joins over the ≤22k-row pinned edge set)
    val e = graft.Lineage.cut(edges(s, dir).distinct())
    val nodes = nodesOf(e)
    val nRow = nodes.agg(count(lit(1)).as("n"))
    // one L1-normalized half-step: score flows from `from` to `to`
    def flow(score: DataFrame, from: String, to: String): DataFrame = {
      val raw = e.join(score.select(col("id").as(from), col("score")), Seq(from))
        .select(col(to).as("id"), round(col("score"), 12).cast(Dec12).as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("raw"))
      val tot = raw.agg(sum(col("raw")).as("tot"))
      graft.Lineage.cut(raw.crossJoin(broadcast(tot))
        .select(col("id"),
          round(col("raw").cast("double") / col("tot").cast("double"), 12).as("score")))
    }
    val h0 = nodes.crossJoin(broadcast(nRow))
      .select(col("id"), (lit(1.0) / col("n")).as("score"))
    val (a, h) = (1 to 3).foldLeft((h0, h0)) { case ((_, h), _) =>
      val a = flow(h, "src", "dst")
      (a, flow(a, "dst", "src"))
    }
    nodes
      .join(a.select(col("id"), col("score").as("authority")), Seq("id"), "left")
      .join(h.select(col("id"), col("score").as("hub")), Seq("id"), "left")
      .select(
        col("id"),
        emit(coalesce(col("authority"), lit(0.0)), 6).as("authority"),
        emit(coalesce(col("hub"), lit(0.0)), 6).as("hub"))
      .orderBy(col("authority").desc, col("id"))
  }

  val graphHitsSql: String = {
    def round12(x: String) = s"round($x, 12)"
    def iter(k: Int, hPrev: String): (String, String) = {
      val stages =
        s"""araw$k AS (
           |  SELECT e.dst AS id, sum(CAST(${round12(s"$hPrev.score")} AS DECIMAL(38,12))) AS raw
           |  FROM e JOIN $hPrev ON e.src = $hPrev.id GROUP BY 1
           |),
           |a$k AS (
           |  SELECT id, round(CAST(raw AS DOUBLE) / (SELECT CAST(sum(raw) AS DOUBLE) FROM araw$k), 12) AS score
           |  FROM araw$k
           |),
           |hraw$k AS (
           |  SELECT e.src AS id, sum(CAST(${round12(s"a$k.score")} AS DECIMAL(38,12))) AS raw
           |  FROM e JOIN a$k ON e.dst = a$k.id GROUP BY 1
           |),
           |h$k AS (
           |  SELECT id, round(CAST(raw AS DOUBLE) / (SELECT CAST(sum(raw) AS DOUBLE) FROM hraw$k), 12) AS score
           |  FROM hraw$k
           |)""".stripMargin
      (stages, s"h$k")
    }
    val (s1, h1) = iter(1, "h0")
    val (s2, h2) = iter(2, h1)
    val (s3, _) = iter(3, h2)
    s"""$nodesSql
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |h0 AS (SELECT id, 1.0 / n.n AS score FROM nodes CROSS JOIN n),
       |$s1,
       |$s2,
       |$s3
       |SELECT nodes.id AS id,
       |  (CAST(round(coalesce(a3.score, 0), 6) AS DOUBLE) + 0.0) AS authority,
       |  (CAST(round(coalesce(h3.score, 0), 6) AS DOUBLE) + 0.0) AS hub
       |FROM nodes
       |LEFT JOIN a3 ON nodes.id = a3.id
       |LEFT JOIN h3 ON nodes.id = h3.id
       |ORDER BY authority DESC, nodes.id""".stripMargin
  }

  /** #59 label-propagation communities (the classic synchronous mode
    * update): every node adopts its neighbors' most frequent label,
    * ties to the smallest label, two fixed rounds — fully deterministic,
    * so the SQL oracle reproduces it exactly. Each round is one O(E)
    * shuffle (join on the neighbor key + two-phase count) — the shape
    * that scales to billion-edge graphs; no driver-side state.
    */
  def graphCommunities(s: SparkSession, dir: String): DataFrame =
    communityParts(s, dir)._2
      .select(col("node"), col("label").as("community")).orderBy(col("node"))

  /** The label-propagation internals as reusable CUT frames —
    * (symmetric deduped edges, final labels). graph_modularity (r11)
    * consumes these directly instead of re-deriving its own sym cut
    * and re-cutting the already-cut labels through an extra sort: one
    * sym materialization and one labels materialization serve both.
    */
  private def communityParts(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val dedges = edges(s, dir).distinct()
    // three propagation reads of the same edge set: materialize once
    // (Lineage.cut: localCheckpoint locally, reliable checkpoint when
    // spark.graft.checkpoint.reliable=true)
    val sym = graft.Lineage.cut(
      dedges
        .unionByName(dedges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    val labels0 = sym.select(col("src").as("node")).distinct().withColumn("label", col("node"))
    val labels = (1 to 2).foldLeft(labels0) { (labels, _) =>
      val counted = sym
        .join(labels.select(col("node").as("dst"), col("label").as("nl")), "dst")
        .groupBy(col("src"), col("nl"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("src")).orderBy(col("c").desc, col("nl"))
      val mode = counted
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("src").as("node"), col("nl").as("new_label"))
      graft.Lineage.cut( // labels feeds two subtrees next round
        labels
          .join(mode, Seq("node"), "left")
          .select(col("node"), coalesce(col("new_label"), col("label")).as("label")))
    }
    (sym, labels)
  }

  val graphCommunitiesSql: String =
    s"""WITH edges AS ($edgesSql),
       |dedges AS (SELECT DISTINCT src, dst FROM edges),
       |sym AS (SELECT src, dst FROM dedges UNION SELECT dst AS src, src AS dst FROM dedges),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
       |c1 AS (
       |  SELECT s.src, l.label AS nl, COUNT(*) AS c
       |  FROM sym s JOIN l0 l ON l.node = s.dst GROUP BY 1, 2
       |), m1 AS (
       |  SELECT src AS node, nl AS new_label FROM (
       |    SELECT src, nl, row_number() OVER (PARTITION BY src ORDER BY c DESC, nl) AS rn FROM c1
       |  ) WHERE rn = 1
       |), l1 AS (
       |  SELECT l.node, coalesce(m.new_label, l.label) AS label
       |  FROM l0 l LEFT JOIN m1 m USING (node)
       |), c2 AS (
       |  SELECT s.src, l.label AS nl, COUNT(*) AS c
       |  FROM sym s JOIN l1 l ON l.node = s.dst GROUP BY 1, 2
       |), m2 AS (
       |  SELECT src AS node, nl AS new_label FROM (
       |    SELECT src, nl, row_number() OVER (PARTITION BY src ORDER BY c DESC, nl) AS rn FROM c2
       |  ) WHERE rn = 1
       |), l2 AS (
       |  SELECT l.node, coalesce(m.new_label, l.label) AS label
       |  FROM l1 l LEFT JOIN m2 m USING (node)
       |)
       |SELECT node, label AS community FROM l2 ORDER BY node""".stripMargin

  /** #351 graph_modularity — Newman modularity Q and per-community
    * conductance for the label-propagation communities: #59 ships the
    * PARTITION, this ships its QUALITY — the number that says whether
    * those communities are structure or noise (Q≈0 ⇒ no better than
    * random for the degree sequence) plus the per-community cut
    * quality a partitioner/sharding decision reads. Per community
    * vol, intra-edge and cut counts come from two label joins over
    * the O(E) symmetric edge list; Q terms and conductance run on the
    * bounded per-community table, 12-dp rounded into order-free
    * DECIMAL sums; the TOTAL row (community = −1) carries Q. Exact
    * oracle over the communities chain's own verified CTEs.
    */
  def graphModularity(s: SparkSession, dir: String): DataFrame = {
    // r11 (§2.4, verdict item 3 — plan breadth): reuse the communities
    // chain's OWN sym and labels cuts instead of re-deriving a second
    // sym (dedges scan + union + distinct + cut) and re-cutting the
    // already-cut labels through an extra global sort; and read the
    // O(E) labeled-edge join ONCE — perC is the |communities|-bounded
    // frame, so cut THAT, and m2 (= Σ vol, exactly count(*) of joined:
    // every joined row carries a cs) comes from perC, not a second
    // full pass over E. Plan: 42 stages → ~28, two O(E)
    // materializations and one full-agg pass removed.
    val (sym, labelsRaw) = communityParts(s, dir)
    val labels = labelsRaw.select(col("node"), col("label").as("community"))
    val joined = sym // O(E) labeled edges, consumed once by perC
      .join(labels.select(col("node").as("src"), col("community").as("cs")), Seq("src"))
      .join(labels.select(col("node").as("dst"), col("community").as("cd")), Seq("dst"))
    val perC = graft.BoundedTail.leaf(joined.groupBy(col("cs").as("community"))
      .agg(count(lit(1)).as("vol"),
        sum(when(col("cs") === col("cd"), 1L).otherwise(0L)).as("intra2")))
    // m2 = Σ vol over the one-row-per-community leaf (no second pass);
    // nodes, bounded the same way, coalesces to one partition for the
    // join and the total rollup below
    val nodes = labels.groupBy(col("community")).agg(count(lit(1)).as("n_nodes"))
      .coalesce(1)
    val rows = perC.withColumn("m2", sum(col("vol")).over(graft.BoundedTail.allRows))
      .join(nodes.hint("merge"), Seq("community"))
      .select(col("community"), col("n_nodes"), col("vol"),
        (col("vol") - col("intra2")).as("cut_edges"),
        emit(when(least(col("vol"), col("m2") - col("vol")) > 0,
          (col("vol") - col("intra2")).cast("double")
            / least(col("vol"), col("m2") - col("vol")).cast("double"))
          .otherwise(lit(0.0)), 6).as("conductance"),
        round(col("intra2").cast("double") / col("m2").cast("double")
          - (col("vol").cast("double") / col("m2").cast("double"))
            * (col("vol").cast("double") / col("m2").cast("double")), 12).as("qt"))
    val total = rows.agg(sum(col("qt").cast(Dec12)).as("q"),
      sum(col("n_nodes")).as("nn"), sum(col("vol")).as("tv"),
      sum(col("cut_edges")).as("tc"))
      .select(lit(-1L).as("community"), col("nn").as("n_nodes"), col("tv").as("vol"),
        col("tc").as("cut_edges"), lit(null).cast("double").as("conductance"),
        emit(col("q").cast("double"), 6).as("q_term"))
    rows.select(col("community"), col("n_nodes"), col("vol"), col("cut_edges"),
      col("conductance"), emit(col("qt"), 6).as("q_term"))
      .unionByName(total)
      .orderBy(col("community"))
  }

  val graphModularitySql: String =
    s"""WITH comm AS (${graphCommunitiesSql.replace("ORDER BY node", "")}),
       |e0 AS ($edgesSql),
       |dedges AS (SELECT DISTINCT src, dst FROM e0),
       |sym AS (
       |  SELECT src, dst FROM dedges
       |  UNION
       |  SELECT dst AS src, src AS dst FROM dedges
       |),
       |joined AS (
       |  SELECT ls.community AS cs, ld.community AS cd
       |  FROM sym
       |  JOIN comm ls ON sym.src = ls.node
       |  JOIN comm ld ON sym.dst = ld.node
       |),
       |m2 AS (SELECT count(*) AS m2 FROM joined),
       |perc AS (
       |  SELECT cs AS community, count(*) AS vol,
       |    CAST(sum(CASE WHEN cs = cd THEN 1 ELSE 0 END) AS BIGINT) AS intra2
       |  FROM joined GROUP BY 1
       |),
       |nodes AS (SELECT community, count(*) AS n_nodes FROM comm GROUP BY 1),
       |rows0 AS (
       |  SELECT perc.community, n_nodes, vol, vol - intra2 AS cut_edges,
       |    (CAST(round(CASE WHEN least(vol, m2 - vol) > 0
       |      THEN CAST(vol - intra2 AS DOUBLE) / CAST(least(vol, m2 - vol) AS DOUBLE)
       |      ELSE 0.0 END, 6) AS DOUBLE) + 0.0) AS conductance,
       |    round(CAST(intra2 AS DOUBLE) / CAST(m2 AS DOUBLE)
       |      - (CAST(vol AS DOUBLE) / CAST(m2 AS DOUBLE)) * (CAST(vol AS DOUBLE) / CAST(m2 AS DOUBLE)),
       |      12) AS qt
       |  FROM perc JOIN nodes ON perc.community = nodes.community CROSS JOIN m2
       |)
       |SELECT community, n_nodes, vol, cut_edges, conductance,
       |  (CAST(round(qt, 6) AS DOUBLE) + 0.0) AS q_term
       |FROM rows0
       |UNION ALL
       |SELECT -1 AS community, CAST(sum(n_nodes) AS BIGINT) AS n_nodes,
       |  CAST(sum(vol) AS BIGINT) AS vol, CAST(sum(cut_edges) AS BIGINT) AS cut_edges,
       |  NULL AS conductance,
       |  (CAST(round(CAST(sum(CAST(qt AS DECIMAL(38,12))) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS q_term
       |FROM rows0
       |ORDER BY community""".stripMargin

  /** #234 graph_distances — bounded-hop BFS shortest distances from a
    * seed set (the "how far is this account from known-bad seeds"
    * trust query; the reference's graph surface stops at 2 hops,
    * main.rs:3040 — this generalizes to min-distance ≤ 4), by
    * [[frontierBfs]]. State is O(nodes), per-round work
    * O(frontier-adjacent edges) — the BSP shape Pregel runs at 100 TB.
    * Exact oracle: DuckDB recursive CTE (UNION-dedup walk ≤ 4 hops,
    * then min(d) per node).
    */
  def graphDistances(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir).distinct()
    val seeds = e.filter(col("src") < 3).select(col("src").as("id")).distinct()
    frontierBfs(e, seeds, maxHops = 4).orderBy(col("id"))
  }

  /** Frontier BFS over the (src, dst) edge frame `e`, at most `maxHops`
    * hops out from `seeds`. The seeds' last column is `id`; the columns
    * before it (graph_closeness' `seed`) ride along, so each of their
    * values walks on its own. Each hop joins the frontier to `e`
    * (shuffle on the hop key), anti-joins what `dist` already holds
    * and cuts both, so hop N's plan never re-derives hop N-1; the walk
    * stops once the frontier drains. Returns the seeds' columns plus
    * `dist`: each reached node once, at its hop count, and no row for
    * a node left unreached. Whether to cut `e` is the caller's choice.
    */
  private[graft] def frontierBfs(e: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val keys = seeds.columns.toSeq
    val carried = keys.init.map(col)
    var dist = graft.Lineage.cut(seeds.withColumn("dist", lit(0L)))
    var frontier = graft.Lineage.cut(seeds)
    var hop = 1
    var drained = false
    while (hop <= maxHops && !drained) {
      val next = graft.Lineage.cut(
        frontier
          .join(e, col("id") === col("src"))
          .select(carried :+ col("dst").as("id"): _*)
          .distinct()
          .join(dist, keys, "left_anti"))
      drained = next.isEmpty
      if (!drained) {
        dist = graft.Lineage.cut(dist.unionByName(next.withColumn("dist", lit(hop.toLong))))
        frontier = next
      }
      hop += 1
    }
    dist
  }

  /** [[frontierBfs]]' oracle: the recursive UNION walk of at most 4 hops
    * from the nodes src < 3 of the deduped follows graph, carrying
    * `seed` when `bySeed`.
    */
  private def bfsWalkSql(bySeed: Boolean): String = {
    val (cols, seed, carry) =
      if (bySeed) ("seed, id, d", "src AS seed, ", "w.seed, ") else ("id, d", "", "")
    s"""WITH RECURSIVE e AS (
       |  SELECT DISTINCT o_custkey % 150 AS src, (l_suppkey * 17 + l_partkey) % 150 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  WHERE o_custkey % 150 <> (l_suppkey * 17 + l_partkey) % 150
       |), walk($cols) AS (
       |  SELECT DISTINCT ${seed}src AS id, 0 AS d FROM e WHERE src < 3
       |  UNION
       |  SELECT ${carry}e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.id WHERE w.d < 4
       |)""".stripMargin
  }

  val graphDistancesSql: String =
    s"""${bfsWalkSql(bySeed = false)}
       |SELECT id, CAST(min(d) AS BIGINT) AS dist FROM walk GROUP BY id ORDER BY id""".stripMargin

  /** #403 graph_closeness — per-seed closeness centrality over the
    * 4-hop BFS ball: (reached−1)/Σdist (the reach-efficiency read —
    * how CHEAPLY a seed touches its neighborhood), with the reach
    * count and 4-hop eccentricity, for the same seeds and edge set
    * graph_distances (#234) walks: [[frontierBfs]] with the seed
    * carried through (O(E) per hop, never path enumeration). The
    * oracle's recursive CTE dedups by UNION and takes min(dist).
    * Exact oracle.
    */
  def graphCloseness(s: SparkSession, dir: String): DataFrame = {
    // the seeds and every hop read e: cut once
    val e = graft.Lineage.cut(edges(s, dir).distinct())
    val seeds = e.filter(col("src") < 3)
      .select(col("src").as("seed"), col("src").as("id")).distinct()
    frontierBfs(e, seeds, maxHops = 4).groupBy(col("seed"))
      .agg(count(lit(1)).as("reached"), sum(col("dist")).as("sumd"),
        max(col("dist")).as("eccentricity"))
      .select(col("seed"), (col("reached") - 1).as("reached"),
        col("eccentricity"),
        emit((col("reached") - 1).cast("double") / col("sumd").cast("double"), 6)
          .as("closeness"))
      .orderBy(col("seed"))
  }

  val graphClosenessSql: String =
    s"""${bfsWalkSql(bySeed = true)}, md AS (
      |  SELECT seed, id, min(d) AS dist FROM walk GROUP BY 1, 2
      |)
      |SELECT seed, CAST(count(*) - 1 AS BIGINT) AS reached,
      |  CAST(max(dist) AS BIGINT) AS eccentricity,
      |  (CAST(round(CAST(count(*) - 1 AS DOUBLE) / CAST(sum(dist) AS DOUBLE), 6) AS DOUBLE) + 0.0) AS closeness
      |FROM md GROUP BY seed
      |ORDER BY seed""".stripMargin

  /** #428 rich_club_coefficient — do the hubs wire to each other:
    * over the undirected follows graph, for each degree threshold
    * k ∈ {2, 5, 10} the node count with degree > k, the edge count
    * among them, and φ(k) = 2·E/(n(n−1)) — the hub-to-hub density
    * (graph_assortativity summarizes degree mixing by ONE
    * correlation; k-core prunes; the rich club reads centralization
    * directly, threshold by threshold). Degrees and edge subsets are
    * exact integer set algebra: undirected edges dedup as (lo, hi)
    * pairs, degrees count distinct neighbors, the per-k membership
    * joins broadcast the bounded degree table. Exact oracle.
    */
  def richClubCoefficient(s: SparkSession, dir: String): DataFrame = {
    val und = graft.Lineage.cut(undirected(edges(s, dir)))
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val degCut = graft.Lineage.cut(deg)
    val ks = Seq(2L, 5L, 10L)
    val grid = degCut.select(col("node"), col("deg"),
      explode(array(ks.map(lit): _*)).as("k"))
      .filter(col("deg") > col("k"))
    val members = graft.Lineage.cut(grid.select(col("k"), col("node")))
    val nk = members.groupBy(col("k")).agg(count(lit(1)).as("n_nodes"))
    val ek = und
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
    exact("graph_communities", graphCommunities, graphCommunitiesSql),
    exact("graph_modularity", graphModularity, graphModularitySql),
    exact("personalized_pagerank", personalizedPagerank, personalizedPagerankSql),
    exact("graph_distances", graphDistances, graphDistancesSql),
    exact("graph_closeness", graphCloseness, graphClosenessSql),
    exact("rich_club_coefficient", richClubCoefficient, richClubCoefficientSql),
    exact("graph_hits", graphHits, graphHitsSql),
    exact("graph_reciprocity", graphReciprocity, graphReciprocitySql),
    exact("graph_assortativity", graphAssortativity, graphAssortativitySql),
    exact("graph_kcore", graphKcore, graphKcoreSql),
    exact("graph_neighbor_jaccard", graphNeighborJaccard, graphNeighborJaccardSql),
    exact("graph_clustering_coeff", graphClusteringCoeff, graphClusteringCoeffSql),
    exact("graph_degree_distribution", graphDegreeDistribution, graphDegreeDistributionSql),
    exact("graph_following", graphFollowing, graphFollowingSql),
    exact("graph_2hop", graph2hop, graph2hopSql),
    exact("graph_mutuals", graphMutuals, graphMutualsSql),
    exact("graph_top_moots", graphTopMoots, graphTopMootsSql),
    exact("community_input", communityInput, communityInputSql),
    exact("page_rank", pageRank, pageRankSql),
    exact("triangle_count", triangleCount, triangleCountSql),
    exact("admin_stats", adminStats, adminStatsSql))
}
