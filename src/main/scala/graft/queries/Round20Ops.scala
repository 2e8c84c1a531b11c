package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Key, OracleMath, Tables}
import graft.Key.exact

/** Round-20 operators (repo round 8, continued) — three axes the
  * statistics sweep still lacked: the ENERGY two-sample test (all
  * pairwise |x−y| distances, computed exactly in O(n log n) by the
  * sorted-cumulative identity — the modern omnibus alternative where
  * KS/CvM read only vertical CDF gaps), Yuen's trimmed-mean t-test
  * (the robust two-sample inference winsorized_mean #290 reports but
  * never tests), and Jensen–Shannon divergence between source token
  * distributions (the symmetric bounded corpus-mix distance;
  * source_vocab_overlap #300 compares vocabularies as SETS, this
  * compares them as DISTRIBUTIONS). The Gumbel return levels live in
  * [[MonitorOps]].
  *
  * House rules as Round15–19: exact integer/decimal moments
  * (energy's pairwise sums are EXACT decimals end-to-end — no 12-dp
  * rounding anywhere before the final divisions), double chains
  * mirrored token for token, emits via OracleMath.emit with the §6 #5
  * decimal recovery on every oracle ratio emit, bounded outputs,
  * unique sort keys.
  */
object Round20Ops {
  import OracleMath._

  /** #411 energy_distance — Székely's energy two-sample statistic
    * between weekday and weekend order values: D² = 2·E|X−Y| −
    * E|X−X'| − E|Y−Y'| (V-statistic form) with the scaled test
    * statistic nm/(n+m)·D². The energy test is consistent against
    * ANY distributional difference — ks_drift (#314) and cvm (#389)
    * read vertical CDF gaps only. The pairwise-distance sums compute
    * EXACTLY without materializing pairs: on the distinct-value grid
    * with per-sample counts and cumulative (count, sum) prefixes,
    * Σ|a−v| over a ≤ v is v·C(v) − S(v) and over a > v is
    * (S_tot − S(v)) − v·(C_tot − C(v)) — one bounded-grid window, one
    * grid aggregate, ALL in exact integer cents (see the in-body note
    * on why cents beat DECIMAL here), so both engines sum identical
    * integers in any order. Scale: one (value) groupBy, a
    * distinct-value-grid window (documented bounded pattern), a
    * 1-row reduce. Exact oracle.
    */
  def energyDistance(s: SparkSession, dir: String): DataFrame = {
    // integer-CENT arithmetic throughout: prices are exact cents
    // (max |100·p − round(100·p)| ≈ 4e-9 over the whole table), so
    // every per-row term is an exact LONG (bounded ≤ ~2e14 at sf0.1)
    // and only the final grid reduce widens to DECIMAL(38,0). This
    // sidesteps Spark's silent decimal precision-loss promotion —
    // the first DECIMAL(18,6)-based form corrupted the sums where
    // DuckDB's fixed-width arithmetic stayed exact.
    val grid = Tables.orders(s, dir)
      .select(
        when(weekday(col("o_orderdate")) >= 5, lit(1L)).otherwise(lit(0L)).as("isw"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      .groupBy(col("v"))
      .agg(sum(lit(1L) - col("isw")).as("cx"), sum(col("isw")).as("cy"))
    val w = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, 0)
    // cumulative columns MUST NOT collide case-insensitively with the
    // per-value counts: Spark's default resolver treats withColumn("CX")
    // as a REPLACEMENT of cx (this silently swapped the verify sums to
    // cumulative counts and emitted negative "distances" — the spec's
    // brute-force identity check caught it)
    val cum = grid
      .withColumn("cxc", sum(col("cx")).over(w))
      .withColumn("sxc", sum(col("v") * col("cx")).over(w))
      .withColumn("cyc", sum(col("cy")).over(w))
      .withColumn("syc", sum(col("v") * col("cy")).over(w))
    val tot = grid.agg(
      sum(col("cx")).as("tx"), sum(col("v") * col("cx")).as("sxt"),
      sum(col("cy")).as("ty"), sum(col("v") * col("cy")).as("syt"))
    // Σ over the named sample of |a − v|, from the inclusive prefixes
    def absSum(cc: String, ss: String, t: String, st: String): Column =
      col("v") * col(cc) - col(ss) + (col(st) - col(ss)) -
        col("v") * (col(t) - col(cc))
    val sums = cum.crossJoin(broadcast(tot))
      .select(
        (col("cy") * absSum("cxc", "sxc", "tx", "sxt")).cast("decimal(38,0)").as("txy"),
        (col("cx") * absSum("cxc", "sxc", "tx", "sxt")).cast("decimal(38,0)").as("txx"),
        (col("cy") * absSum("cyc", "syc", "ty", "syt")).cast("decimal(38,0)").as("tyy"),
        col("tx").as("TX"), col("ty").as("TY"))
      .groupBy(col("TX"), col("TY"))
      .agg(sum(col("txy")).as("sxy"), sum(col("txx")).as("sxx"),
        sum(col("tyy")).as("syy"))
    def d(c: String) = col(c).cast("double")
    val a = d("sxy") / (d("TX") * d("TY")) / lit(100.0)
    val b = d("sxx") / (d("TX") * d("TX")) / lit(100.0)
    val c0 = d("syy") / (d("TY") * d("TY")) / lit(100.0)
    val d2 = lit(2.0) * a - b - c0
    sums.select(
      col("TX").as("n_weekday"), col("TY").as("n_weekend"),
      emit(a, 4).as("e_between"),
      emit(b, 4).as("e_within_weekday"),
      emit(c0, 4).as("e_within_weekend"),
      emit(d2, 6).as("energy_d2"),
      emit(d("TX") * d("TY") / (d("TX") + d("TY")) * d2, 4).as("stat"))
  }

  val energyDistanceSql: String =
    """WITH grid AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
      |    CAST(sum(CASE WHEN isodow(o_orderdate) >= 6 THEN 0 ELSE 1 END) AS BIGINT) AS cx,
      |    CAST(sum(CASE WHEN isodow(o_orderdate) >= 6 THEN 1 ELSE 0 END) AS BIGINT) AS cy
      |  FROM orders GROUP BY 1
      |), cum AS (
      |  SELECT v, cx, cy,
      |    CAST(sum(cx) OVER (ORDER BY v) AS BIGINT) AS CXc,
      |    CAST(sum(v * cx) OVER (ORDER BY v) AS BIGINT) AS SXc,
      |    CAST(sum(cy) OVER (ORDER BY v) AS BIGINT) AS CYc,
      |    CAST(sum(v * cy) OVER (ORDER BY v) AS BIGINT) AS SYc
      |  FROM grid
      |), tot AS (
      |  SELECT CAST(sum(cx) AS BIGINT) AS TX, CAST(sum(v * cx) AS BIGINT) AS SXt,
      |    CAST(sum(cy) AS BIGINT) AS TY, CAST(sum(v * cy) AS BIGINT) AS SYt
      |  FROM grid
      |), terms AS (
      |  SELECT TX, TY, cx, cy,
      |    v * CXc - SXc + (SXt - SXc) - v * (TX - CXc) AS ax,
      |    v * CYc - SYc + (SYt - SYc) - v * (TY - CYc) AS ay
      |  FROM cum CROSS JOIN tot
      |), sums AS (
      |  SELECT TX, TY,
      |    sum(CAST(cy * ax AS DECIMAL(38,0))) AS sxy,
      |    sum(CAST(cx * ax AS DECIMAL(38,0))) AS sxx,
      |    sum(CAST(cy * ay AS DECIMAL(38,0))) AS syy
      |  FROM terms
      |  GROUP BY TX, TY
      |), f AS (
      |  SELECT TX, TY,
      |    CAST(sxy AS DOUBLE) / (CAST(TX AS DOUBLE) * CAST(TY AS DOUBLE)) / 100.0 AS a,
      |    CAST(sxx AS DOUBLE) / (CAST(TX AS DOUBLE) * CAST(TX AS DOUBLE)) / 100.0 AS b,
      |    CAST(syy AS DOUBLE) / (CAST(TY AS DOUBLE) * CAST(TY AS DOUBLE)) / 100.0 AS c0
      |  FROM sums
      |)
      |SELECT TX AS n_weekday, TY AS n_weekend,
      |  (CAST(round(CAST(a AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS e_between,
      |  (CAST(round(CAST(b AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS e_within_weekday,
      |  (CAST(round(CAST(c0 AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS e_within_weekend,
      |  (CAST(round(CAST(2.0 * a - b - c0 AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS energy_d2,
      |  (CAST(round(CAST(CAST(TX AS DOUBLE) * CAST(TY AS DOUBLE) / (CAST(TX AS DOUBLE) + CAST(TY AS DOUBLE))
      |    * (2.0 * a - b - c0) AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS stat
      |FROM f""".stripMargin

  /** #413 yuen_trimmed_t — Yuen's 20%-trimmed-mean two-sample t (EN vs
    * non-EN document length): trimmed means compared with winsorized
    * variances, t = (mt₁−mt₂)/√(d₁+d₂), dⱼ = SSDwⱼ/(hⱼ(hⱼ−1)),
    * Welch-style df — the outlier-robust inference the
    * winsorized_mean report (#290) describes but never tests (welch_t
    * #382 is the non-robust sibling; a heavy tail drags its mean).
    * NO row-level window: trim boundaries and the trimmed/winsorized
    * moments all come from the distinct-value histogram with rank
    * overlap arithmetic (the mann_whitney device) — per value the
    * trimmed contribution is the overlap of its rank span with
    * [g+1, n−g], winsorization adds g·lo + g·hi analytically; every
    * moment is an exact integer/decimal. g = n div 5 in INTEGER
    * arithmetic in both engines. Scale: one (group, value) aggregate,
    * one bounded-grid window per group, constant algebra. Exact
    * oracle.
    */
  def yuenTrimmedT(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.documents(s, dir)
      .select(when(col("lang") === "en", lit("en")).otherwise(lit("other")).as("grp"),
        col("n_chars").as("v"))
      .groupBy(col("grp"), col("v"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = hist.groupBy(col("grp"))
      .agg(sum(col("c")).as("n"))
      .select(col("grp"), col("n"), expr("n div 5").as("g"))
    val cum = hist
      .withColumn("cb", coalesce(sum(col("c")).over(w), lit(0L)))
      .join(broadcast(tot), Seq("grp"))
    // rank span [cb+1, cb+c] ∩ [g+1, n−g], plus the winsorization
    // boundary values lo = value at rank g+1, hi = value at rank n−g
    val ov = greatest(lit(0L),
      least(col("cb") + col("c"), col("n") - col("g")) - greatest(col("cb"), col("g")))
    val isLo = col("cb") < col("g") + 1 && col("cb") + col("c") >= col("g") + 1
    val isHi = col("cb") < col("n") - col("g") && col("cb") + col("c") >= col("n") - col("g")
    val m = cum.groupBy(col("grp"), col("n"), col("g"))
      .agg(
        sum(dec0(col("v")) * ov).as("ts1"),
        sum(dec0(col("v")) * dec0(col("v")) * ov).as("ts2"),
        max(when(isLo, col("v"))).as("lo"),
        max(when(isHi, col("v"))).as("hi"))
    def d(c: Column) = c.cast("double")
    val h = col("n") - lit(2L) * col("g")
    val tmean = d(col("ts1")) / d(h)
    // winsorized moments: the g low ranks read lo, the g high read hi
    val ws1 = d(col("ts1")) + d(col("g")) * (d(col("lo")) + d(col("hi")))
    val ws2 = d(col("ts2")) + d(col("g")) *
      (d(col("lo")) * d(col("lo")) + d(col("hi")) * d(col("hi")))
    val ssd = ws2 - ws1 * (ws1 / d(col("n")))
    val dj = ssd / (d(h) * (d(h) - 1.0))
    val side = m.select(col("grp"), col("n"), col("g"), h.as("h"),
      tmean.as("tm"), dj.as("dj"))
    def sided(t: String) = side.filter(col("grp") === (if (t == "a") "en" else "other"))
      .select(col("n").as(s"n_$t"), col("h").as(s"h_$t"),
        col("tm").as(s"tm_$t"), col("dj").as(s"dj_$t"))
    broadcast(sided("a")).crossJoin(broadcast(sided("b")))
      .select(
        col("n_a"), col("n_b"), col("h_a"), col("h_b"),
        emit(col("tm_a"), 4).as("trimmed_mean_en"),
        emit(col("tm_b"), 4).as("trimmed_mean_other"),
        emit((col("tm_a") - col("tm_b")) / sqrt(col("dj_a") + col("dj_b")), 4)
          .as("t_yuen"),
        emit((col("dj_a") + col("dj_b")) * (col("dj_a") + col("dj_b")) /
          (col("dj_a") * col("dj_a") / (col("h_a") - 1).cast("double") +
            col("dj_b") * col("dj_b") / (col("h_b") - 1).cast("double")), 2)
          .as("df_yuen"))
  }

  val yuenTrimmedTSql: String =
    """WITH hist AS (
      |  SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS grp,
      |    n_chars AS v, count(*) AS c
      |  FROM documents GROUP BY 1, 2
      |), tot AS (
      |  SELECT grp, CAST(sum(c) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) // 5 AS g
      |  FROM hist GROUP BY 1
      |), cum AS (
      |  SELECT hist.grp, v, c, n, g,
      |    CAST(coalesce(sum(c) OVER (PARTITION BY hist.grp ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
      |  FROM hist JOIN tot ON hist.grp = tot.grp
      |), m AS (
      |  -- v narrows to DECIMAL(14,0) and the rank overlap to (10,0) so
      |  -- every product precision stays <= 38 (DuckDB rejects wider)
      |  SELECT grp, n, g,
      |    sum(CAST(v AS DECIMAL(14,0))
      |      * CAST(greatest(0, least(cb + c, n - g) - greatest(cb, g)) AS DECIMAL(10,0))) AS ts1,
      |    sum(CAST(v AS DECIMAL(14,0)) * CAST(v AS DECIMAL(14,0))
      |      * CAST(greatest(0, least(cb + c, n - g) - greatest(cb, g)) AS DECIMAL(10,0))) AS ts2,
      |    max(CASE WHEN cb < g + 1 AND cb + c >= g + 1 THEN v END) AS lo,
      |    max(CASE WHEN cb < n - g AND cb + c >= n - g THEN v END) AS hi
      |  FROM cum GROUP BY 1, 2, 3
      |), side AS (
      |  SELECT grp, n, g, n - 2 * g AS h,
      |    CAST(ts1 AS DOUBLE) / CAST(n - 2 * g AS DOUBLE) AS tm,
      |    ((CAST(ts2 AS DOUBLE) + CAST(g AS DOUBLE) * (CAST(lo AS DOUBLE) * CAST(lo AS DOUBLE) + CAST(hi AS DOUBLE) * CAST(hi AS DOUBLE)))
      |     - (CAST(ts1 AS DOUBLE) + CAST(g AS DOUBLE) * (CAST(lo AS DOUBLE) + CAST(hi AS DOUBLE)))
      |       * ((CAST(ts1 AS DOUBLE) + CAST(g AS DOUBLE) * (CAST(lo AS DOUBLE) + CAST(hi AS DOUBLE))) / CAST(n AS DOUBLE)))
      |    / (CAST(n - 2 * g AS DOUBLE) * (CAST(n - 2 * g AS DOUBLE) - 1.0)) AS dj
      |  FROM m
      |)
      |SELECT a.n AS n_a, b.n AS n_b, a.h AS h_a, b.h AS h_b,
      |  (CAST(round(CAST(a.tm AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS trimmed_mean_en,
      |  (CAST(round(CAST(b.tm AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS trimmed_mean_other,
      |  (CAST(round(CAST((a.tm - b.tm) / sqrt(a.dj + b.dj) AS DECIMAL(28,14)), 4) AS DOUBLE) + 0.0) AS t_yuen,
      |  (CAST(round(CAST((a.dj + b.dj) * (a.dj + b.dj)
      |    / (a.dj * a.dj / CAST(a.h - 1 AS DOUBLE) + b.dj * b.dj / CAST(b.h - 1 AS DOUBLE)) AS DECIMAL(28,14)), 2) AS DOUBLE) + 0.0) AS df_yuen
      |FROM (SELECT * FROM side WHERE grp = 'en') a
      |CROSS JOIN (SELECT * FROM side WHERE grp = 'other') b""".stripMargin

  /** #414 js_divergence_sources — pairwise Jensen–Shannon divergence
    * between per-source token distributions (and its metric √JS,
    * bounded by √ln2): JS(P,Q) = ½Σp·ln(p/m) + ½Σq·ln(q/m),
    * m = (p+q)/2, with 0·ln0 = 0 — the symmetric, always-finite
    * corpus-mix distance (KL explodes on any token one source lacks;
    * source_vocab_overlap #300 compares vocabularies as sets, this
    * weighs HOW DIFFERENTLY the shared vocabulary is used —
    * corpus-mix QA at the distribution level). Probabilities are
    * exact count ratios; every pairwise term rounds to 12 dp into an
    * order-free DECIMAL(38,12) sum (the markov device). Scale: one
    * tokenize aggregate, then ONE |sources|²/2 × |vocab| grid (the
    * oracle's own shape) filled by two broadcast left joins,
    * |sources|²/2 output rows. Exact oracle.
    */
  def jsDivergenceSources(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
    val cut = graft.Lineage.cut(counts)
    val tots = cut.groupBy(col("source")).agg(sum(col("c")).as("t"))
    val p = graft.Lineage.cut(cut.join(broadcast(tots), Seq("source"))
      .select(col("source"), col("token"),
        (col("c").cast("double") / col("t").cast("double")).as("p")))
    // ONE pair×vocabulary grid (the oracle's own shape) instead of a
    // per-pair frame loop: |sources|²/2 × |vocab| rows, two broadcast
    // left joins — the loop form spent 26 s on scheduling overhead for
    // the same 310-row result
    val pairs = tots.select(col("source").as("src_a"))
      .join(tots.select(col("source").as("src_b")), col("src_a") < col("src_b"))
    val vocab = p.select(col("token")).distinct()
    val all = broadcast(pairs).crossJoin(vocab)
      .join(broadcast(p.select(col("source").as("src_a"), col("token"),
        col("p").as("pa0"))), Seq("src_a", "token"), "left")
      .join(broadcast(p.select(col("source").as("src_b"), col("token"),
        col("p").as("pb0"))), Seq("src_b", "token"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("pa0"), lit(0.0)).as("pa"),
        coalesce(col("pb0"), lit(0.0)).as("pb"))
      .filter(col("pa") > 0.0 || col("pb") > 0.0)
    def term(x: Column, mcol: Column): Column =
      when(x > 0.0, round(x * log(x / mcol), 12).cast(Dec12))
        .otherwise(lit(0).cast(Dec12))
    val mm = (col("pa") + col("pb")) / lit(2.0)
    all
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(term(col("pa"), mm)).as("kla"), sum(term(col("pb"), mm)).as("klb"),
        count(lit(1)).as("union_vocab"))
      .select(
        col("src_a"), col("src_b"), col("union_vocab"),
        emit((col("kla").cast("double") + col("klb").cast("double")) / 2.0, 6)
          .as("js_divergence"),
        emit(sqrt((col("kla").cast("double") + col("klb").cast("double")) / 2.0), 6)
          .as("js_distance"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val jsDivergenceSourcesSql: String =
    """WITH counts AS (
      |  SELECT source, tok AS token, count(*) AS c
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok <> '' GROUP BY 1, 2
      |), tots AS (SELECT source, CAST(sum(c) AS BIGINT) AS t FROM counts GROUP BY 1),
      |p AS (
      |  SELECT counts.source, token, CAST(c AS DOUBLE) / CAST(t AS DOUBLE) AS p
      |  FROM counts JOIN tots ON counts.source = tots.source
      |), pairs AS (SELECT a.source AS src_a, b.source AS src_b
      |  FROM tots a JOIN tots b ON a.source < b.source),
      |grid AS (
      |  SELECT src_a, src_b, token FROM pairs
      |  CROSS JOIN (SELECT DISTINCT token FROM counts)
      |), j AS (
      |  SELECT g.src_a, g.src_b,
      |    coalesce(pa.p, 0.0) AS pa, coalesce(pb.p, 0.0) AS pb
      |  FROM grid g
      |  LEFT JOIN p pa ON pa.source = g.src_a AND pa.token = g.token
      |  LEFT JOIN p pb ON pb.source = g.src_b AND pb.token = g.token
      |  WHERE coalesce(pa.p, 0.0) > 0.0 OR coalesce(pb.p, 0.0) > 0.0
      |), agg AS (
      |  SELECT src_a, src_b, count(*) AS union_vocab,
      |    sum(CASE WHEN pa > 0.0 THEN CAST(round(pa * ln(pa / ((pa + pb) / 2.0)), 12) AS DECIMAL(38,12)) ELSE CAST(0 AS DECIMAL(38,12)) END) AS kla,
      |    sum(CASE WHEN pb > 0.0 THEN CAST(round(pb * ln(pb / ((pa + pb) / 2.0)), 12) AS DECIMAL(38,12)) ELSE CAST(0 AS DECIMAL(38,12)) END) AS klb
      |  FROM j GROUP BY 1, 2
      |)
      |SELECT src_a, src_b, CAST(union_vocab AS BIGINT) AS union_vocab,
      |  (CAST(round(CAST((CAST(kla AS DOUBLE) + CAST(klb AS DOUBLE)) / 2.0 AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS js_divergence,
      |  (CAST(round(CAST(sqrt((CAST(kla AS DOUBLE) + CAST(klb AS DOUBLE)) / 2.0) AS DECIMAL(28,14)), 6) AS DOUBLE) + 0.0) AS js_distance
      |FROM agg
      |ORDER BY src_a, src_b""".stripMargin

  val keys: Seq[Key] = Seq(
    exact("energy_distance", energyDistance, energyDistanceSql),
    exact("yuen_trimmed_t", yuenTrimmedT, yuenTrimmedTSql),
    exact("js_divergence_sources", jsDivergenceSources, jsDivergenceSourcesSql))
}
