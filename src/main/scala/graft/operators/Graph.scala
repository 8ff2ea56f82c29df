package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.OracleSafe
import graft.functions.OracleSafe.{intDiv, intDivSql}

/** Iterative graph analytics over the document near-dup candidate graph —
  * the natural next step after connected components ([[Dedup.dedupClusters]]):
  * PageRank identifies the CENTER of each near-dup family (the doc most
  * linked by candidate pairs), which is a better canonical-pick signal than
  * min-id when clusters are large.
  *
  * Exactness: classic PageRank is float iteration, and float accumulation
  * order differs between engines — so this runs the whole recurrence in
  * '''fixed-point BIGINT''' (scale 10¹²) with floor division at every step
  * ([[graft.functions.OracleSafe.intDiv]]). Both engines compute the
  * identical integers; the cosmetic `score` double is derived once at the
  * boundary from an exactly-representable BIGINT (< 2⁵³).
  *
  * Scale shape: `iters` shuffle rounds over the degree-annotated edge list
  * (materialized once), each a co-partitioned join + map-side-combinable sum —
  * the same O(iters · |E|) profile as label propagation, with nothing
  * data-sized on the driver or broadcast. The vertex-count normalizer
  * rides a broadcast 1-row aggregate, so damping constants are derived
  * from the corpus '''in-plan''' and hold at any n.
  */
object Graph {

  /** Fixed-point scale: ranks are integers in units of 10⁻¹². */
  val Scale = 1000000000000L

  /** PageRank (damping 0.85, `iters` unrolled rounds) over the symmetric
    * LSH candidate graph from [[Dedup.lshCandidates]]. Emits one row per
    * vertex that appears in any candidate pair:
    * (doc_id, rank_fp BIGINT fixed-point, score DOUBLE = rank_fp/10¹²).
    *
    * The recurrence both engines run, all-integer:
    * {{{
    *   init    = Scale div N
    *   base    = (15 * init) div 100
    *   r₀(v)   = init
    *   rᵢ₊₁(v) = base + (85 * Σ_{u→v} (rᵢ(u) div deg(u))) div 100
    * }}}
    * The symmetric edge list guarantees no dangling vertices, so mass only
    * leaks through deterministic flooring — identically in both engines.
    */
  def pagerank(docs: DataFrame, iters: Int = 5,
      numHashes: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    require(iters >= 1, s"pagerank needs at least one iteration, got $iters")
    val s = prSetup(docs, iters, numHashes, rowsPerBand)
    val prK = (1 to iters).foldLeft(s.pr0)((pr, _) => s.step(pr))
    prK.select(col("v").as("doc_id"), col("r").as("rank_fp"),
      (col("r").cast("double") / lit(Scale.toDouble)).as("score"))
  }

  /** The shared PageRank prelude: the initial ranks and the one-round
    * transition. The symmetric edge list, its degree frame and the
    * degree-annotated edges are each `localCheckpoint`ed: the LSH banding
    * join runs once, `deg`, `nV` and `pr0` are cheap re-aggregations of
    * the materialized edges, and every round re-reads the annotated edges.
    * The blocks are released with the query's result.
    */
  private case class PrState(pr0: DataFrame, step: DataFrame => DataFrame)

  private def prSetup(docs: DataFrame, iters: Int,
      numHashes: Int, rowsPerBand: Int): PrState = {
    require(iters >= 1, s"pagerank needs at least one iteration, got $iters")
    val pairs = Dedup.lshCandidates(docs, numHashes, rowsPerBand)
      .select("doc_a", "doc_b")
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg")).localCheckpoint()
    // (src, dst, deg) — re-read every round
    val edgesW = edges.join(deg, Seq("src")).localCheckpoint()
    val nV = deg.agg(count(lit(1)).as("n_v"))
    val init = intDiv(lit(Scale), col("n_v"))
    val base = intDiv(lit(15L) * init, lit(100L))
    val pr0 = deg.crossJoin(broadcast(nV))
      .select(col("src").as("v"), init.as("r"))
    def step(pr: DataFrame): DataFrame =
      edgesW.join(pr.withColumnRenamed("v", "src"), Seq("src"))
        .groupBy(col("dst").as("v"))
        .agg(sum(intDiv(col("r"), col("deg"))).as("contrib"))
        .crossJoin(broadcast(nV))
        .select(col("v"),
          (base + intDiv(lit(85L) * col("contrib"), lit(100L))).as("r"))
    PrState(pr0, step)
  }

  /** Convergence audit for [[pagerank]]: the exact integer L1 residual
    * Σ_v |rᵢ(v) − rᵢ₋₁(v)| after each round i = 1..iters, as
    * (round INT, residual_fp BIGINT). Power iteration contracts the L1
    * error by ~the damping factor (0.85) per round, so residuals must fall
    * geometrically — the evidence that a FIXED iteration count is a
    * principled choice at any scale: the contraction rate is a property of
    * the damping constant, not of the corpus size. All-integer, so both
    * engines report identical residuals; `GraphSpec` asserts the monotone
    * decrease and the q142 oracle row pins the exact values.
    *
    * Plan shape: every round's ranks ride along as COLUMNS of one vertex
    * frame — after each edge-join round the earlier columns are
    * re-attached with a vertex-sized join — so the audit runs the
    * `iters` edge rounds ONCE (plus `iters` cheap vertex joins), not the
    * O(iters²) triangular recomputation that differencing independent
    * round frames would cost. Each round's frame is localCheckpoint'd
    * (vertex-sized, like the component loop's — `propagateLabels`):
    * the fold consumes `acc` twice per level, so without the lineage cut
    * the plan re-executes early rounds 2^i times (measured: 16.6 s vs
    * 2–3 s warm at sf0.1). All residuals then fall out of a single
    * aggregate, unpivoted with `stack`.
    */
  def pagerankResiduals(docs: DataFrame, iters: Int = 5,
      numHashes: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val s = prSetup(docs, iters, numHashes, rowsPerBand)
    val withAll = (1 to iters).foldLeft(
      s.pr0.withColumnRenamed("r", "r0").localCheckpoint()) { (acc, i) =>
        val stepIn = acc.select(col("v"), col(s"r${i - 1}").as("r"))
        s.step(stepIn).withColumnRenamed("r", s"r$i").join(acc, Seq("v"))
          .localCheckpoint()
    }
    val aggs = (1 to iters).map(i =>
      sum(abs(col(s"r$i") - col(s"r${i - 1}"))).as(s"res$i"))
    val stackExpr = (1 to iters).map(i => s"$i, res$i")
      .mkString(s"stack($iters, ", ", ", ") AS (round, residual_fp)")
    withAll.agg(aggs.head, aggs.tail: _*)
      .select(expr(stackExpr))
      .orderBy("round")
  }

  /** Per-vertex triangle statistics over the LSH candidate graph: degree,
    * triangle count, and the local clustering coefficient
    * 2T / (d·(d−1)) — how tightly a document's near-dup neighborhood
    * closes on itself (a high coefficient marks a template FAMILY, a low
    * one a hub page that grazes many unrelated docs).
    *
    * Triangle enumeration uses the canonical-ordering trick: candidate
    * pairs already satisfy doc_a < doc_b, so joining wedges a<b<c and
    * closing with the (a,c) edge counts every triangle exactly once — the
    * standard distributed formulation, cost bounded by Σ deg(v)² (wedge
    * count), never |V|³. The coefficient is one double division of exact
    * BIGINTs; vertices with degree < 2 yield NULL, not 0/0.
    *
    * '''Hub degree cap (`maxDegree`).''' Σ deg² explodes on hub vertices —
    * one 10⁶-degree hub alone contributes 10¹² wedges, which no wedge
    * partitioning survives. So, like the df cap on the n-gram postings
    * ([[Dedup.cappedShingles]]), hubs are excluded EXPLICITLY rather than
    * crashed into: edges touching a vertex with degree > maxDegree do not
    * generate wedges, vertices above the cap report NULL
    * triangles/clustering (excluded, not fake zeros), and triangle counts
    * for surviving vertices omit triangles routed through an excluded hub
    * (their two hub edges are gone). Wedge work is then bounded by
    * 2·|E|·maxDegree — linear in edges for a fixed cap. The default (4096)
    * is far above any degree the banded candidate graph produces on the
    * test corpora (`GraphSpec` pins that the capped and uncapped outputs
    * coincide there), so the cap only bites where it must at scale.
    */
  def triangleStats(docs: DataFrame, numHashes: Int = 16,
      rowsPerBand: Int = 4, maxDegree: Int = 4096): DataFrame =
    triangleStatsFromEdges(
      Dedup.lshCandidates(docs, numHashes, rowsPerBand)
        .select(col("doc_a").as("a"), col("doc_b").as("b")),
      maxDegree)

  /** [[triangleStats]] core over an explicit canonical (a < b) edge list —
    * split out so the hub-cap semantics are unit-testable on synthetic
    * graphs the banding would never produce.
    */
  private[graft] def triangleStatsFromEdges(edges: DataFrame,
      maxDegree: Int): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    val e0 = edges.localCheckpoint()
    val deg = e0.select(col("a").as("v")).union(e0.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("degree")).localCheckpoint()
    val hubs = deg.filter(col("degree") > maxDegree).select("v")
    val e = e0
      .join(hubs.select(col("v").as("a")), Seq("a"), "left_anti")
      .join(hubs.select(col("v").as("b")), Seq("b"), "left_anti")
      .select("a", "b").localCheckpoint()
    val wedges = e.as("e1")
      .join(e.select(col("a").as("wb"), col("b").as("wc")).as("e2"),
        col("e1.b") === col("e2.wb"))
      .select(col("e1.a").as("a"), col("e1.b").as("b"), col("wc").as("c"))
    val tri = wedges.join(
      e.select(col("a").as("ta"), col("b").as("tc")),
      col("a") === col("ta") && col("c") === col("tc"))
      .select("a", "b", "c")
    val triPerV = tri.select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("triangles"))
    deg.join(triPerV, Seq("v"), "left")
      .select(col("v").as("doc_id"), col("degree"),
        when(col("degree") <= maxDegree,
          coalesce(col("triangles"), lit(0L))).as("triangles"))
      .withColumn("clustering",
        when(col("degree") >= 2 && col("degree") <= maxDegree,
          (col("triangles") * 2).cast("double")
            / (col("degree") * (col("degree") - 1)).cast("double")))
  }

  /** DuckDB twin of [[triangleStats]]; embed after `WITH ` and select from
    * `triangle_stats`.
    */
  def triangleStatsSql(numHashes: Int = 16, rowsPerBand: Int = 4,
      maxDegree: Int = 4096): String =
    s"""${Dedup.lshCandidatesSql(numHashes, rowsPerBand)},
       |deg_v AS (
       |  SELECT v, COUNT(*) AS degree
       |  FROM (SELECT doc_a AS v FROM lsh_pairs
       |        UNION ALL SELECT doc_b FROM lsh_pairs) d GROUP BY v),
       |capped_e AS (
       |  SELECT p.doc_a AS a, p.doc_b AS b
       |  FROM lsh_pairs p
       |  JOIN deg_v da ON da.v = p.doc_a AND da.degree <= $maxDegree
       |  JOIN deg_v db ON db.v = p.doc_b AND db.degree <= $maxDegree),
       |tri AS (
       |  SELECT e1.a, e1.b, e2.b AS c
       |  FROM capped_e e1
       |  JOIN capped_e e2 ON e1.b = e2.a
       |  JOIN capped_e e3 ON e3.a = e1.a AND e3.b = e2.b),
       |tri_v AS (
       |  SELECT v, COUNT(*) AS triangles
       |  FROM (SELECT unnest([a, b, c]) AS v FROM tri) u GROUP BY v),
       |triangle_stats AS (
       |  SELECT d.v AS doc_id, d.degree,
       |         CASE WHEN d.degree <= $maxDegree
       |              THEN COALESCE(t.triangles, 0) END AS triangles,
       |         CASE WHEN d.degree >= 2 AND d.degree <= $maxDegree
       |              THEN CAST(COALESCE(t.triangles, 0) * 2 AS DOUBLE)
       |                   / CAST(d.degree * (d.degree - 1) AS DOUBLE)
       |         END AS clustering
       |  FROM deg_v d LEFT JOIN tri_v t ON t.v = d.v)""".stripMargin

  /** DuckDB twin of [[pagerank]] — the same unrolled rounds as chained
    * CTEs; embed after `WITH ` and select from `pagerank`.
    */
  /** Degree assortativity of the LSH candidate graph — the Pearson
    * correlation of endpoint degrees over edges (Newman 2002, "Assortative
    * mixing in networks", PRL 89). Positive: hubs link hubs (a clique-y
    * near-dup family structure); negative: hubs link leaves (template-and-
    * variants). A pipeline reads this one number to know whether breaking
    * up dup families will shatter the graph or just trim leaves.
    *
    * Exactness: all six moments (m, Σx, Σy, Σxy, Σx², Σy²) are BIGINT
    * sums of integer degrees — order-independent — and the correlation is
    * assembled from them with two IEEE sqrt's and one division on
    * identical inputs, so both engines emit the identical double. The
    * symmetric edge list makes x/y moments equal by construction; both are
    * still computed and emitted as a self-check. Degenerate zero-variance
    * graphs yield NULL identically. Intermediates stay in BIGINT while
    * m·deg⁴ < 2⁶³ — beyond that the same plan runs on DECIMAL(38,0).
    *
    * Plan: the edge list and per-vertex degrees are the q122 frames; two
    * vertex-keyed joins attach endpoint degrees and ONE map-side-
    * combinable aggregate produces the single output row.
    */
  def degreeAssortativity(docs: DataFrame,
      numHashes: Int = 16, rowsPerBand: Int = 4): DataFrame =
    assortativityFromPairs(Dedup.lshCandidates(docs, numHashes, rowsPerBand)
      .select("doc_a", "doc_b"))

  /** [[degreeAssortativity]] from an explicit undirected pair list
    * (doc_a, doc_b) — split out so specs can pin the moments on
    * constructed graphs.
    */
  private[graft] def assortativityFromPairs(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val ends = edges
      .join(deg.select(col("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("deg").as("dy")), Seq("dst"))
      .select("dx", "dy")
    val mom = ends.agg(count(lit(1)).as("m"),
      sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
      sum(col("dx") * col("dy")).as("sxy"),
      sum(col("dx") * col("dx")).as("sxx"),
      sum(col("dy") * col("dy")).as("syy"))
    val varx = col("m") * col("sxx") - col("sx") * col("sx")
    val vary = col("m") * col("syy") - col("sy") * col("sy")
    mom.select(col("m"), col("sx"), col("sy"), col("sxy"), col("sxx"), col("syy"),
      when(varx > 0 && vary > 0,
        (col("m") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (sqrt(varx.cast("double")) * sqrt(vary.cast("double"))))
        .as("assortativity"))
  }

  /** DuckDB twin of [[degreeAssortativity]] — identical integer moments
    * and float assembly.
    */
  def degreeAssortativitySql(numHashes: Int = 16, rowsPerBand: Int = 4): String =
    s"""${Dedup.lshCandidatesSql(numHashes, rowsPerBand)},
       |da_edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM lsh_pairs),
       |da_deg AS (SELECT src, COUNT(*) AS deg FROM da_edges GROUP BY src),
       |da_ends AS (
       |  SELECT a.deg AS dx, b.deg AS dy
       |  FROM da_edges e
       |  JOIN da_deg a ON e.src = a.src
       |  JOIN da_deg b ON e.dst = b.src),
       |da_mom AS (
       |  SELECT COUNT(*) AS m,
       |         CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
       |         CAST(SUM(dx * dy) AS BIGINT) AS sxy,
       |         CAST(SUM(dx * dx) AS BIGINT) AS sxx,
       |         CAST(SUM(dy * dy) AS BIGINT) AS syy
       |  FROM da_ends),
       |degree_assortativity AS (
       |  SELECT m, sx, sy, sxy, sxx, syy,
       |         CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0
       |              THEN CAST(m * sxy - sx * sy AS DOUBLE)
       |                   / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
       |                      * sqrt(CAST(m * syy - sy * sy AS DOUBLE)))
       |         END AS assortativity
       |  FROM da_mom)""".stripMargin

  def pagerankSql(iters: Int = 5,
      numHashes: Int = 16, rowsPerBand: Int = 4): String =
    s"""${prSqlPrelude(iters, numHashes, rowsPerBand)},
       |pagerank AS (
       |  SELECT v AS doc_id, r AS rank_fp, CAST(r AS DOUBLE) / 1e12 AS score
       |  FROM pr$iters)""".stripMargin

  /** Everything through `pr<iters>` — shared by [[pagerankSql]] and
    * [[pagerankResidualsSql]].
    */
  private def prSqlPrelude(iters: Int, numHashes: Int, rowsPerBand: Int): String = {
    require(iters >= 1, s"pagerank needs at least one iteration, got $iters")
    val initSql = intDivSql(Scale.toString, "n_v")
    val baseSql = intDivSql(s"15 * $initSql", "100")
    val rounds = (1 to iters).map { i =>
      s"""pr$i AS (
         |  SELECT v, CAST($baseSql + ${intDivSql("85 * contrib", "100")} AS BIGINT) AS r
         |  FROM (SELECT e.dst AS v, CAST(SUM(${intDivSql("p.r", "e.deg")}) AS BIGINT) AS contrib
         |        FROM pr_edges_w e JOIN pr${i - 1} p ON e.src = p.v
         |        GROUP BY e.dst), pr_nv)""".stripMargin
    }.mkString(",\n")
    s"""${Dedup.lshCandidatesSql(numHashes, rowsPerBand)},
       |pr_edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM lsh_pairs),
       |pr_deg AS (SELECT src, COUNT(*) AS deg FROM pr_edges GROUP BY src),
       |pr_edges_w AS (
       |  SELECT e.src, e.dst, d.deg FROM pr_edges e JOIN pr_deg d ON e.src = d.src),
       |pr_nv AS (SELECT COUNT(*) AS n_v FROM pr_deg),
       |pr0 AS (SELECT src AS v, CAST($initSql AS BIGINT) AS r FROM pr_deg, pr_nv),
       |$rounds""".stripMargin
  }

  /** DuckDB twin of [[pagerankResiduals]]; embed after `WITH ` and select
    * from `pagerank_residuals`.
    */
  def pagerankResidualsSql(iters: Int = 5,
      numHashes: Int = 16, rowsPerBand: Int = 4): String = {
    val resids = (1 to iters).map { i =>
      s"""  SELECT $i AS round, CAST(SUM(ABS(a.r - b.r)) AS BIGINT) AS residual_fp
         |  FROM pr$i a JOIN pr${i - 1} b ON a.v = b.v""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""${prSqlPrelude(iters, numHashes, rowsPerBand)},
       |pagerank_residuals AS (
       |$resids)""".stripMargin
  }

  /** q271 — RECURSIVE hierarchy closure by pointer doubling: the
    * `WITH RECURSIVE` shape (org charts, category trees, referral
    * chains) that row-at-a-time engines walk one level per pass. The
    * hierarchy is a deterministic binary-heap forest over the customer
    * keys (`parent = key DIV 2`, key 0 the root), so both engines derive
    * identical edges from the data; the engine resolves every node's
    * (root-distance) with POINTER JUMPING — each round joins the
    * ancestor frame with itself, doubling the known distance, so an
    * n-deep hierarchy needs O(log n) shuffles instead of the recursive
    * CTE's n sequential passes. That round count is the whole 100 TB
    * argument: depth grows logarithmically with rows here, and each
    * round is one equi-join shuffle bounded by |nodes|. Rounds stop at
    * a measured fixpoint (ancestor chain idempotent — roots self-loop
    * at distance 0, making extra rounds no-ops) with a hard bound that
    * fails loudly, the q59 convergence-guard pattern.
    *
    * Output: one row per depth with node count, cent-exact acctbal sum
    * and the key range — the oracle twin IS DuckDB's `WITH RECURSIVE`
    * level-by-level walk, so the equality proves the doubling loop
    * computes exactly the transitive closure.
    */
  def hierarchyClosure(customer: DataFrame): DataFrame = {
    val base = customer.select(col("c_custkey").cast("long").as("v"),
      OracleSafe.quant(col("c_acctbal"), 100).as("cents"))
      .localCheckpoint()
    val root = lit(0L) // keys are 0-based; 0 DIV 2 = 0 is the fixpoint root
    var state = base.select(col("v"),
      when(col("v") === root, col("v"))
        .otherwise(OracleSafe.intDiv(col("v"), lit(2L))).as("a"),
      when(col("v") === root, lit(0L)).otherwise(lit(1L)).as("d"))
      .localCheckpoint()
    var rounds = 0
    var converged = false
    while (!converged && rounds < 12) {
      val anc = state.select(col("v").as("a"), col("a").as("a2"),
        col("d").as("d2"))
      val next = state.join(anc, Seq("a"))
        .select(col("v"), col("a2").as("a"),
          (col("d") + col("d2")).as("d"))
        .localCheckpoint()
      converged = next.join(state, Seq("v", "a", "d"), "left_anti").isEmpty
      state = next
      rounds += 1
    }
    require(converged, s"pointer jumping unconverged after $rounds rounds")
    // COVERAGE GUARD: the inner self-join silently drops any node whose
    // ancestor key has no row (a non-dense / non-0-rooted keyspace), and
    // the one-directional anti-join above would then declare convergence
    // over the survivors. The contract is TOTAL closure over a dense
    // 0-based DIV-2 forest, so enforce it loudly: every input node must
    // still be present, and every fixpoint chain must terminate at the
    // root. Two bounded driver actions, once, after the O(log n) loop.
    val nBase = base.count()
    val nState = state.count()
    require(nState == nBase,
      s"pointer jumping dropped ${nBase - nState} of $nBase nodes — " +
        "keyspace is not a dense 0-based DIV-2 forest")
    require(state.filter(col("a") =!= 0L).isEmpty,
      "converged state has chains not terminating at root 0")
    state.join(base, Seq("v"))
      .groupBy(col("d").as("depth"))
      .agg(count(lit(1)).as("n_nodes"), sum("cents").as("total_cents"),
        min("v").as("min_key"), max("v").as("max_key"))
      .orderBy("depth")
  }

  /** DuckDB twin of [[hierarchyClosure]]: the level-by-level
    * `WITH RECURSIVE` walk from the root down the same DIV-2 forest.
    * NOTE: must be embedded after `WITH RECURSIVE ` (not plain `WITH `).
    */
  def hierarchyClosureSql(): String =
    s"""hc_base AS (
       |  SELECT CAST(c_custkey AS BIGINT) AS v,
       |         ${OracleSafe.quantSql("c_acctbal", 100)} AS cents
       |  FROM customer),
       |hc_walk AS (
       |  SELECT v, CAST(0 AS BIGINT) AS depth FROM hc_base WHERE v = 0
       |  UNION ALL
       |  SELECT b.v, w.depth + 1
       |  FROM hc_base b JOIN hc_walk w ON ${OracleSafe.intDivSql("b.v", "2")} = w.v
       |  WHERE b.v > 0),
       |hierarchy_closure AS (
       |  SELECT w.depth, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |         CAST(SUM(b.cents) AS BIGINT) AS total_cents,
       |         MIN(b.v) AS min_key, MAX(b.v) AS max_key
       |  FROM hc_walk w JOIN hc_base b ON b.v = w.v
       |  GROUP BY w.depth)""".stripMargin
}
