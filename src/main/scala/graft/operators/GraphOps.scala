package graft.operators

import graft.Tables
import graft.functions.VectorFunctions.{cosineSimPrenormed, dotProduct}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over the co-purchase graph (parts connected when they
  * appear in the same order) — the relational twin of the dedup suite's
  * pair machinery: the same explode-a-bounded-group pair generation
  * builds the edges, and the triangle count is two self-joins over the
  * id-oriented edge list. The reference has no graph surface; these are
  * north-star pipeline diagnostics (co-occurrence structure of a corpus)
  * expressed on the TPC-H-ish tables so the oracle can verify them.
  */
object GraphOps {

  /** Per-order distinct part baskets — the bipartite source of the
    * co-purchase graph. ONE shuffle on the order key: `collect_set`
    * dedupes repeated parts inside the aggregation, where a separate
    * `distinct()` before the groupBy would hash-partition the incidence
    * frame twice for the same result (measured: the two-shuffle form was
    * the dominant cost of both graph queries). The set buffer is bounded
    * by basket size — a domain constant (an order has few lines), the
    * exact condition a real pipeline must check before choosing an
    * unbounded grouped collect. */
  private def baskets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy(col("ok")).agg(collect_set(col("pk")).as("parts"))

  /** Unordered co-purchase part pairs with their support (number of
    * orders containing both). Pair generation explodes each order's
    * basket against itself — the basket is the bounded group, so the
    * fanout is Σ |basket|²/2, never corpus-quadratic; one shuffle keys
    * the pairs. This is [[Dedup]]'s inverted-index shape with orders as
    * "grams" — no df-cap needed, see [[baskets]]. */
  private def copurchasePairs(baskets: DataFrame): DataFrame =
    baskets
      .select(explode(col("parts")).as("pa"), col("parts"))
      .select(col("pa"), explode(col("parts")).as("pb"))
      .filter(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("n_orders"))

  /** Q-affinity: top co-purchase part pairs — market-basket / item-item
    * collaborative-filtering affinity, ranked by support with the Jaccard
    * of the two parts' order sets alongside. TakeOrderedAndProject caps
    * the result; the per-part order counts ride a broadcast join (the
    * part dimension is small next to the pair set). */
  def affinity(spark: SparkSession, dir: String): DataFrame = {
    // per-part order counts derive from the SAME basket aggregation as
    // the pairs — the explode is map-side, so the baskets shuffle is paid
    // once and this branch adds only the (small) per-part count shuffle
    val b = baskets(spark, dir).localCheckpoint(true)
    val n = b.select(explode(col("parts")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("n"))
    copurchasePairs(b)
      .join(broadcast(n.select(col("pk").as("pa"), col("n").as("na"))), "pa")
      .join(broadcast(n.select(col("pk").as("pb"), col("n").as("nb"))), "pb")
      .select(col("pa").as("part_a"), col("pb").as("part_b"), col("n_orders"),
        round(col("n_orders").cast("double") /
          (col("na") + col("nb") - col("n_orders")).cast("double"), 6).as("jaccard"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  val affinitySql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |n AS (SELECT pk, COUNT(*) AS n FROM li GROUP BY pk),
      |p AS (SELECT a.pk AS part_a, b.pk AS part_b, COUNT(*) AS n_orders
      |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |      GROUP BY 1, 2)
      |SELECT part_a, part_b, n_orders,
      |  ROUND(n_orders * 1.0 / (na.n + nb.n - n_orders), 6) AS jaccard
      |FROM p JOIN n na ON na.pk = part_a JOIN n nb ON nb.pk = part_b
      |ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin

  /** Minimum co-purchase support for an edge of the triangle graph —
    * thins incidental same-order pairs to repeated affinities. */
  val TriangleMinSupport = 2L

  /** Q-triangles: global triangle count over the support-thresholded
    * co-purchase graph, plus its edge count. Edges are id-oriented
    * (u < v), so each triangle is counted exactly once by the two-hop
    * join `ab ⋈ bc ⋈ ac`; the per-node join fanout is bounded by
    * out-degree under the orientation — the standard distributed triangle
    * shape (degree-ordering is the further refinement when id order
    * correlates with degree; id-orientation already breaks symmetry). */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val edges = copurchasePairs(baskets(spark, dir))
      .filter(col("n_orders") >= TriangleMinSupport)
      .select(col("pa"), col("pb"))
      // two self-joins consume this — materialize once (the resolveClusters
      // localCheckpoint discipline), or the whole basket pipeline runs 3×
      .localCheckpoint(true)
    val tri = edges.as("ab")
      .join(edges.as("bc"), col("ab.pb") === col("bc.pa"))
      .join(edges.as("ac"),
        col("ac.pa") === col("ab.pa") && col("ac.pb") === col("bc.pb"))
      .agg(count(lit(1)).as("n_triangles"))
    edges.agg(count(lit(1)).as("n_edges")).crossJoin(tri)
  }

  val trianglesSql: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e AS (SELECT a.pk AS u, b.pk AS v FROM li a JOIN li b
       |      ON a.ok = b.ok AND a.pk < b.pk
       |      GROUP BY 1, 2 HAVING COUNT(*) >= $TriangleMinSupport)
       |SELECT (SELECT COUNT(*) FROM e) AS n_edges,
       |  (SELECT COUNT(*) FROM e ab JOIN e bc ON ab.v = bc.u
       |     JOIN e ac ON ac.u = ab.u AND ac.v = bc.v) AS n_triangles""".stripMargin

  /** Fixed PageRank iteration count — a constant (not convergence-tested)
    * so the oracle can mirror the exact computation as chained CTEs. */
  val PagerankIters = 3

  /** Q-pagerank: 3 damped PageRank iterations (d = 0.85) over the
    * support-thresholded co-purchase graph, top-20 parts by rank — the
    * canonical iterative-graph workload (importance weighting of corpus
    * items by co-occurrence centrality).
    *
    * Scale shape: one iteration = a BROADCAST join of the edge list with
    * the rank and degree vectors (node-sized — the part catalog, tiny
    * next to the edge list). The broadcast is an EXPLICIT hint sized to
    * this node domain: hints do not auto-degrade, so a deployment whose
    * node vectors outgrow broadcast limits must DROP the hints and let
    * size-based planning pick the shuffle join on `u` (the standard
    * distributed step) — the surrounding plan is unchanged either way.
    * Plus one grouped aggregation on the destination, so the edge list
    * moves only through the dst-keyed shuffle. Edges and degrees are
    * materialized ONCE (`localCheckpoint`, the [[triangles]]/
    * resolveClusters discipline) so the basket pipeline is not re-run per
    * iteration. Per-node neighbor sums are EXACT-DECIMAL (each
    * contribution cast to DECIMAL(38,20) — the q_anomaly moment
    * discipline): the sum is order-free, so it partial-aggregates
    * map-side with an O(1) buffer AND matches the oracle bit-for-bit
    * under any partitioning — strictly better than the earlier
    * collect-and-fold-in-source-order parity trick, whose buffer grew
    * with in-degree. */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    val und = copurchasePairs(baskets(spark, dir))
      .filter(col("n_orders") >= TriangleMinSupport)
      .select(col("pa"), col("pb"))
    val edges = und.select(col("pa").as("u"), col("pb").as("v"))
      .unionByName(und.select(col("pb").as("u"), col("pa").as("v")))
      .localCheckpoint(true)
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    val nDf = deg.agg(count(lit(1)).cast("double").as("n"))
    var pr = deg.crossJoin(broadcast(nDf))
      .select(col("u"), (lit(1.0) / col("n")).as("pr"))
    for (_ <- 1 to PagerankIters) {
      pr = edges.join(broadcast(pr), Seq("u")).join(broadcast(deg), Seq("u"))
        .select(col("v"),
          (col("pr") / col("d").cast("double")).cast("decimal(38,20)").as("c"))
        .groupBy(col("v"))
        .agg(sum(col("c")).cast("double").as("s"))
        .crossJoin(broadcast(nDf))
        .select(col("v").as("u"),
          (lit(0.15) / col("n") + lit(0.85) * col("s")).as("pr"))
    }
    pr.orderBy(col("pr").desc, col("u"))
      .limit(20)
      .select(col("u").as("part"), round(col("pr"), 6).as("pagerank"))
  }

  val pagerankSql: String = {
    def step(prev: String, out: String): String =
      s"""$out AS (SELECT e.v AS u,
         |    0.15 / nn.n + 0.85 *
         |      CAST(SUM(CAST(p.pr / CAST(deg.d AS DOUBLE) AS DECIMAL(38,20))) AS DOUBLE) AS pr
         |  FROM e JOIN $prev p ON p.u = e.u JOIN deg ON deg.u = e.u CROSS JOIN nn
         |  GROUP BY e.v, nn.n)""".stripMargin
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e0 AS (SELECT a.pk AS u, b.pk AS v FROM li a JOIN li b
       |       ON a.ok = b.ok AND a.pk < b.pk
       |       GROUP BY 1, 2 HAVING COUNT(*) >= $TriangleMinSupport),
       |e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
       |deg AS (SELECT u, COUNT(*) AS d FROM e GROUP BY u),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
       |p0 AS (SELECT u, 1.0 / nn.n AS pr FROM deg CROSS JOIN nn),
       |${step("p0", "p1")},
       |${step("p1", "p2")},
       |${step("p2", "p3")}
       |SELECT u AS part, ROUND(pr, 6) AS pagerank
       |FROM p3 ORDER BY pr DESC, u LIMIT 20""".stripMargin
  }

  /** DIRECTED PageRank iterations with dangling-mass redistribution — the
    * general form [[pagerank]]'s symmetrized variant does not need: in a
    * directed graph some nodes have NO out-edges (dangling), and their
    * rank must be redistributed uniformly each step or the total mass
    * leaks (Σpr decays toward the teleport floor and every score is
    * silently wrong). One iteration over edges `(u, v)`:
    *
    *   pr'(x) = 0.15/N + 0.85·( Σ_{u→x} pr(u)/outdeg(u)  +  dm/N )
    *
    * where `dm = Σ_{dangling u} pr(u)` and N counts ALL nodes (either
    * endpoint). Nodes without in-edges keep their teleport+dangling share
    * via the left join (the symmetrized form has no such nodes, so its
    * dst-grouped aggregation alone sufficed).
    *
    * Scale shape per iteration: the rank/degree vectors are node-sized
    * (broadcast via explicit hints sized to this node domain — hints do
    * not auto-degrade, so past broadcast limits a deployment drops them
    * and size-based planning picks the shuffle join on `u`, the standard
    * distributed step), the edge list moves only through the
    * dst-keyed aggregation, the dangling sum is a broadcast anti-join +
    * one scalar, and each sum is exact-DECIMAL (order-free, map-side
    * partials, bit-parity with the oracle under any partitioning). Rank
    * is localCheckpoint-ed per iteration — it feeds both the dangling
    * scalar and the contribution join, so chaining on lineage would
    * double the plan per step. */
  private[operators] def pagerankDirectedIterations(edges: DataFrame,
                                                    iters: Int): DataFrame = {
    val e = edges.localCheckpoint(true)
    val nodes = e.select(col("u").as("id"))
      .unionByName(e.select(col("v").as("id")))
      .distinct().localCheckpoint(true)
    val outdeg = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    val degById = outdeg.withColumnRenamed("u", "id")
    val nDf = nodes.agg(count(lit(1)).cast("double").as("n"))
    var pr = nodes.crossJoin(broadcast(nDf))
      .select(col("id"), (lit(1.0) / col("n")).as("pr"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val dm = pr.join(broadcast(degById), Seq("id"), "left_anti")
        .agg(coalesce(sum(col("pr").cast("decimal(38,20)")),
          lit(0).cast("decimal(38,20)")).cast("double").as("dm"))
      val contrib = e.join(broadcast(pr.withColumnRenamed("id", "u")), Seq("u"))
        .join(broadcast(outdeg), Seq("u"))
        .select(col("v"),
          (col("pr") / col("d").cast("double")).cast("decimal(38,20)").as("c"))
        .groupBy(col("v"))
        .agg(sum(col("c")).cast("double").as("s"))
        .withColumnRenamed("v", "id")
      pr = nodes.join(broadcast(contrib), Seq("id"), "left")
        .crossJoin(broadcast(dm)).crossJoin(broadcast(nDf))
        .select(col("id"),
          (lit(0.15) / col("n") +
            lit(0.85) * (coalesce(col("s"), lit(0.0)) + col("dm") / col("n"))).as("pr"))
        .localCheckpoint(true)
    }
    pr
  }

  /** Q-pagerank-directed: 3 dangling-aware PageRank iterations over the
    * ID-ORIENTED co-purchase graph (each support-thresholded pair becomes
    * one directed edge lower-id → higher-id). The orientation is the same
    * deterministic symmetry-break the triangle count uses, and it
    * guarantees genuinely dangling structure (the highest part id in any
    * connected component has no out-edge), so the dangling-mass term is
    * exercised by the driver's gate on real data — not only by the
    * planted spec graph. */
  def pagerankDirected(spark: SparkSession, dir: String): DataFrame = {
    val edges = copurchasePairs(baskets(spark, dir))
      .filter(col("n_orders") >= TriangleMinSupport)
      .select(col("pa").as("u"), col("pb").as("v"))
    pagerankDirectedIterations(edges, PagerankIters)
      .orderBy(col("pr").desc, col("id"))
      .limit(20)
      .select(col("id").as("part"), round(col("pr"), 6).as("pagerank"))
  }

  val pagerankDirectedSql: String = {
    def step(prev: String, k: Int): String =
      s"""d$k AS (SELECT CAST(COALESCE(SUM(CAST(p.pr AS DECIMAL(38,20))), 0) AS DOUBLE) AS dm
         |  FROM $prev p LEFT JOIN deg ON deg.u = p.id WHERE deg.u IS NULL),
         |c$k AS (SELECT e.v AS id,
         |    CAST(SUM(CAST(p.pr / CAST(deg.d AS DOUBLE) AS DECIMAL(38,20))) AS DOUBLE) AS s
         |  FROM e e JOIN $prev p ON p.id = e.u JOIN deg ON deg.u = e.u
         |  GROUP BY e.v),
         |p$k AS (SELECT n.id,
         |    0.15 / nn.n + 0.85 * (COALESCE(c.s, 0.0) + d.dm / nn.n) AS pr
         |  FROM nodes n LEFT JOIN c$k c ON c.id = n.id
         |  CROSS JOIN d$k d CROSS JOIN nn)""".stripMargin
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e AS (SELECT a.pk AS u, b.pk AS v FROM li a JOIN li b
       |      ON a.ok = b.ok AND a.pk < b.pk
       |      GROUP BY 1, 2 HAVING COUNT(*) >= $TriangleMinSupport),
       |nodes AS (SELECT DISTINCT id FROM
       |  (SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e)),
       |deg AS (SELECT u, COUNT(*) AS d FROM e GROUP BY u),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
       |p0 AS (SELECT id, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
       |${step("p0", 1)},
       |${step("p1", 2)},
       |${step("p2", 3)}
       |SELECT id AS part, ROUND(pr, 6) AS pagerank
       |FROM p3 ORDER BY pr DESC, id LIMIT 20""".stripMargin
  }

  /** Q-knn-graph: OFFLINE k-NN-GRAPH CONSTRUCTION over the whole
    * embedding corpus — the graph-ANN substrate (HNSW-class serving
    * builds on exactly this artifact) and the input of graph-based
    * semantic dedup, the one ANN family the engine lacked (r9 verdict
    * gap #3). Directed per-node top-3 edges come from the existing
    * [[KnnSearch.knnJoinLarge]] LSH-bucketed shape (bucket equi-join, NO
    * broadcast of the corpus-sized query block — the 100 TB contract,
    * plan-asserted in KnnGraphSpec); the emitted GRAPH is the MUTUAL
    * subgraph — undirected edges (src < dst) present in BOTH endpoints'
    * top-3 lists — which is the standard symmetrization that prunes
    * hub-pointing one-way edges before clustering.
    *
    * Scale shape: the directed edge list is k·N rows of (long, long,
    * double) — corpus-LINEAR, localCheckpoint-bounded (the shortlist
    * discipline: k×N edge tuples, never N² and never the vectors
    * themselves); the mutuality test is one self-equi-join on the
    * reversed key, hinted merge so no N-proportional side is ever
    * broadcast. At 100 TB: two shuffles of the k·N edge frame on
    * composite keys — edge-frame-linear, vector-payload-free. */
  private def mutualKnnEdges(spark: SparkSession, dir: String): DataFrame = {
    val edges = KnnSearch.knnJoinLarge(Tables.embeddings(spark, dir), dim = 64, k = 3)
      .select(col("query_id").as("src"), col("vec_id").as("dst"), col("score"))
      .localCheckpoint(eager = true) // k·N (id, id, score) tuples — don't
                                     // run the LSH join once per self-join branch
    val reversed = edges.select(col("src").as("r_src"), col("dst").as("r_dst"))
    edges
      .hint("merge")
      .join(reversed,
        col("src") === col("r_dst") && col("dst") === col("r_src"))
      .filter(col("src") < col("dst"))
      .select(col("src"), col("dst"), col("score"))
  }

  def knnGraph(spark: SparkSession, dir: String): DataFrame =
    mutualKnnEdges(spark, dir).orderBy(col("src"), col("dst"))

  val knnGraphSql: String =
    s"""WITH ${VectorOps.lshRankedEdgesCtes},
       |e AS (SELECT query_id AS src, vec_id AS dst, score FROM ranked WHERE rank <= 3)
       |SELECT a.src, a.dst, a.score
       |FROM e a JOIN e r ON a.src = r.dst AND a.dst = r.src
       |WHERE a.src < a.dst
       |ORDER BY a.src, a.dst""".stripMargin

  /** Q-knn-graph-incr: INCREMENTAL k-NN-GRAPH MAINTENANCE — fold an
    * upserted vector batch into an existing graph without the full
    * corpus×corpus rebuild. The arriving batch (here the vec_id % 50
    * slice, standing in for a streamed upsert) costs:
    *
    *  1. new→corpus: score each new vector against its LSH bucket —
    *     the batch side BROADCASTS (it is batch-sized; contrast
    *     [[graft.operators.KnnSearch.knnJoinLarge]], whose merge hint
    *     exists because neither corpus side fits), so this is one scan
    *     of the bucketed corpus with map-side scoring, |B|-proportional.
    *  2. old-node repair: an old node's top-3 can only change by
    *     admitting a NEW vector, so its candidate set is its STORED
    *     top-3 edges ∪ its scores against the batch (direction 2 of the
    *     same broadcast join) — re-ranking touches k+|B∩bucket|
    *     candidates per node, never the old corpus.
    *  3. new↔new same-bucket pairs (batch-sized self-join).
    *
    * The union re-ranks under the exact knnJoinLarge ordering (rounded
    * score DESC, id), so the merged candidate set provably contains the
    * true bucket-restricted top-3 of the UNION corpus — the incremental
    * result is BIT-IDENTICAL to the full rebuild, which is exactly what
    * the oracle asserts: q_knn_graph_incr is gated on [[knnGraphSql]],
    * the FULL-build oracle. The stored-graph reuse (step 2 reads
    * [[KnnSearch.knnJoinLarge]]'s output for the OLD corpus only, the
    * graph a deployment has persisted) is what makes maintenance
    * |B|-proportional instead of N². */
  /** The |B|-proportional maintenance scan of [[knnGraphIncr]]: score
    * `left` against the BROADCAST batch side within LSH buckets. Exposed
    * un-checkpointed so KnnGraphSpec can assert the broadcast shape on
    * its plan (the checkpointed caller hides it behind the lineage
    * cut). */
  private[operators] def incrMaintenanceScan(left: DataFrame,
                                             nb: DataFrame): DataFrame =
    left.join(broadcast(nb), Seq("bucket"))
      .withColumn("score", KnnSearch.prenormedScore)

  private[operators] def incrBucketed(df: DataFrame): DataFrame =
    KnnSearch.withNorm(df)
      .withColumn("bucket", RandomHyperplaneLsh.bucket(col("embedding"), 64))

  def knnGraphIncr(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables.embeddings(spark, dir)
    val isNew = col("vec_id") % 50 === 0
    val old = all.filter(!isNew)
    val batch = all.filter(isNew)
    // the graph a deployment would have on disk: directed top-3 over the
    // OLD corpus (same construction as q_knn_graph)
    val storedEdges = KnnSearch.knnJoinLarge(old, dim = 64, k = 3)
      .select(col("query_id"), col("vec_id"), col("score"))
      .localCheckpoint(eager = true)
    // bucket the batch ONCE (norms + 64 plane dots per vector) — both
    // the query side and the nn self-join left side project from it
    val bb = incrBucketed(batch).localCheckpoint(eager = true)
    val ob = incrBucketed(old)
    val nb = bb.select(
      col("vec_id").as("q_id"), col("embedding").as("q_embedding"),
      col("vec_norm").as("q_norm"), col("bucket"))
    // one broadcast bucket join yields BOTH directions of old↔new scores
    val crossScores = incrMaintenanceScan(ob, nb)
      .select(col("vec_id").as("o_id"), col("q_id").as("n_id"), col("score"))
      .localCheckpoint(eager = true)
    // new↔new same-bucket pairs (self-join of the batch)
    val nnPairs = incrMaintenanceScan(bb, nb)
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id").as("query_id"), col("vec_id"), col("score"))
    val newCand = crossScores
      .select(col("n_id").as("query_id"), col("o_id").as("vec_id"), col("score"))
      .unionByName(nnPairs)
    val oldCand = storedEdges.unionByName(crossScores
      .select(col("o_id").as("query_id"), col("n_id").as("vec_id"), col("score")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    val edges = newCand.unionByName(oldCand)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id").as("src"), col("vec_id").as("dst"), col("score"))
      .localCheckpoint(eager = true)
    val reversed = edges.select(col("src").as("r_src"), col("dst").as("r_dst"))
    edges
      .hint("merge")
      .join(reversed,
        col("src") === col("r_dst") && col("dst") === col("r_src"))
      .filter(col("src") < col("dst"))
      .select(col("src"), col("dst"), col("score"))
      .orderBy(col("src"), col("dst"))
  }

  /** Edge gate for [[knnGraphClusters]]: a mutual top-k relationship is a
    * NEIGHBORHOOD fact, not a SAMENESS fact — on this corpus mutual
    * scores run from −0.23 to 0.49 (median 0.23 at sf0.01, 0.30 at
    * sf0.1), and clustering over weak edges transitively chains
    * dissimilar vectors into 20–30-hop components (measured: 21
    * propagation rounds at sf0.1 even at a 0.3 gate) — the exact
    * over-merge hazard resolveClusters' contract warns about. The gate is
    * q_dedup_embed's NEAR-DUP threshold — the one bar this engine already
    * defines for "these embeddings are the same content" — which keeps
    * only genuine near-dup edges (8/8/80 at the three SFs), so components
    * are the near-cliques the O(diameter)-round propagation was designed
    * for (2–3 rounds, like the rest of the dedup family). */
  val SemanticEdgeThreshold = 0.4

  /** Q-knn-graph-clusters: GRAPH-BASED SEMANTIC CLUSTERING — the
    * application the k-NN-graph substrate exists for: connected components
    * over the STRONG mutual subgraph (mutual top-3 edges with score ≥
    * [[SemanticEdgeThreshold]]), one representative per component (lowest
    * vec_id, the keep-lowest rule of the whole dedup family). On a corpus
    * with true near-duplicates this IS graph-based semantic dedup (the
    * mutual-edge pruning drops hub-pointing one-way similarities, the
    * threshold keeps transitivity from chaining merely-adjacent
    * neighborhoods). The component machinery is the SHARED
    * [[Dedup.resolveClusters]] min-label propagation — the
    * q_dedup_clusters discipline (iterative propagation on the engine,
    * recursive-CTE transitive closure in the oracle: two different
    * algorithms agreeing on the same components).
    *
    * Scale shape: edges are ≤ the k·N mutual frame (vector-payload-free);
    * each propagation round is two id-sized joins + one groupBy,
    * converging in O(log diameter) rounds (pointer jumping) with
    * per-round localCheckpoint — the q_dedup_clusters bounds, inherited,
    * not re-derived. */
  def knnGraphClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.resolveClusters(
      mutualKnnEdges(spark, dir)
        .filter(col("score") >= SemanticEdgeThreshold)
        .select(col("src").as("doc_a"), col("dst").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("rep"),
        (col("doc_id") === col("rep")).as("keep"))
      .orderBy(col("vec_id"))

  val knnGraphClustersSql: String =
    s"""WITH RECURSIVE
       |${VectorOps.lshRankedEdgesCtes},
       |e0 AS (SELECT query_id AS src, vec_id AS dst, score FROM ranked WHERE rank <= 3),
       |mut AS (SELECT a.src, a.dst FROM e0 a JOIN e0 r
       |        ON a.src = r.dst AND a.dst = r.src
       |        WHERE a.src < a.dst AND a.score >= $SemanticEdgeThreshold),
       |edges AS (SELECT src, dst FROM mut UNION SELECT dst, src FROM mut),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |rep AS (SELECT src AS vec_id, least(src, MIN(dst)) AS rep
       |        FROM reach GROUP BY src)
       |SELECT vec_id, rep, (vec_id = rep) AS keep FROM rep
       |ORDER BY vec_id""".stripMargin

  /** Per-node out-degree of the serving graph. */
  val GraphAnnDegree = 8
  /** Beam width of [[graphAnn]]'s search — nodes expanded per hop. */
  val GraphAnnBeam = 32
  /** Fixed hop count — a constant (not convergence-tested) so the oracle
    * can replay the search as chained CTEs, the [[PagerankIters]]
    * discipline. */
  val GraphAnnHops = 3
  /** Seed-stage coarse probes: how many IVF buckets are exactly scored to
    * form the initial beam. */
  val GraphAnnSeedProbes = 2

  /** Q-graph-ann: GRAPH-ROUTED ANN SERVING — the search path the
    * k-NN-graph substrate exists for (q_knn_graph builds the mutual-edge
    * artifact; this query ANSWERS with a graph, completing the
    * construction/serving pair the IVF and LSH families already have).
    * Two stages, the coarse-route + graph-refine shape of every deployed
    * graph-ANN system (an HNSW upper layer IS a coarse router):
    *
    *  1. ROUTE: exactly score the query's [[GraphAnnSeedProbes]] nearest
    *     IVF buckets (the cheap coarse probe) and keep the top
    *     [[GraphAnnBeam]] as the seed beam.
    *  2. REFINE: for each of [[GraphAnnHops]] hops, expand the beam's
    *     out-edges in the serving graph, exactly score only the NEWLY
    *     reached nodes, fold them into the visited set, and re-take the
    *     beam. The answer is the exact top-10 of everything visited.
    *
    * The serving graph is the per-node top-[[GraphAnnDegree]] edge set
    * of an IVF-bucketed corpus join where the QUERY side carries its
    * top-2 centroid assignments: second-choice membership is what puts
    * CROSS-BUCKET edges in the graph, and those are precisely the edges
    * that recover IVF's boundary losses — a neighbor just across the
    * Voronoi face that nprobe=1 routing cannot see. Navigability is a
    * construction property, not luck: a graph joined on single
    * assignments is a disjoint union of per-bucket subgraphs (beam
    * search can never leave the seed buckets — measured recall@10 0.1 on
    * the LSH single-probe variant of the same idea), while the top-2
    * form measurably lifts recall@10 over the coarse seeds alone. At the
    * round-11 defaults (beam 32, 3 hops, 2 seed probes — chosen by a
    * recall sweep) recall@10 is 0.9 at sf0.001 and 1.0 at sf0.01/sf0.1,
    * gated at ≥0.9 for ALL THREE scale factors in KnnGraphSpec, with a
    * beam-sensitivity spec asserting recall is non-decreasing in beam.
    * The sf0.001 ceiling is graph sparsity, not policy: 600 points give
    * the mutual top-[[GraphAnnDegree]] graph too few cross-Voronoi
    * edges; at larger corpora the same parameters saturate. Like every
    * graph-ANN system the search is approximate: only the visited set is
    * ever exactly scored.
    *
    * Scale shape: construction is the knnJoinLarge discipline on IVF
    * buckets (each side shuffles once on the bucket key, per-bucket-
    * quadratic candidates with a 2× query-side fanout, WindowGroupLimit
    * rank, NO corpus broadcast) producing a degree-bounded (src, dst)
    * edge frame — corpus-linear, vector-payload-free, built offline and
    * amortized across queries. Serving moves only ids and beam-sized
    * frontiers: the seed scan is one probed bucket (the q_ann_ivf_persisted
    * partition-pruning path against a persisted layout), each hop is a
    * beam-sized broadcast against the edge frame plus a pushed-down id
    * semijoin against the vector table (the q_fetch_batch point-lookup
    * shape), so per-hop exact-scoring cost is O(beam·degree) vectors —
    * independent of corpus size. The oracle replays assignment → edges →
    * route → hop-by-hop expansion as chained CTEs (two different
    * executions of the same deterministic search agreeing row-for-row). */
  /** Top-2 centroid assignments per node: rn=1 is the storage bucket
    * (identical to IvfIndex.assign's argmax), rn=2 adds the cross-bucket
    * query-side membership [[graphAnnEdges]]'s navigability comes from. */
  private[operators] def ivfTop2Assignments(spark: SparkSession, dir: String): DataFrame =
    ivfTop2AssignmentsOf(spark, dir, Tables.embeddings(spark, dir))

  /** The same assignment frame over a CALLER-SUPPLIED corpus — the
    * single-feed CDC (q_stream_all_cdc) assigns corpus ∪ arriving twins
    * in one pass so adds are routable the trigger they arrive. */
  private[graft] def ivfTop2AssignmentsOf(spark: SparkSession, dir: String,
                                          corpus: DataFrame): DataFrame = {
    val emb = KnnSearch.withNorm(corpus)
    val cent = VectorOps.seedCentroids(spark, dir)
    val aw = Window.partitionBy(col("vec_id"))
      .orderBy(col("c_score").desc, col("cent_id"))
    emb.crossJoin(broadcast(cent))
      .withColumn("c_score", cosineSimPrenormed(
        dotProduct(col("embedding"), col("c_embedding")),
        col("vec_norm"), col("c_norm")))
      .withColumn("rn", row_number().over(aw))
      .select(col("vec_id"), col("label"), col("embedding"), col("vec_norm"),
        col("cent_id"), col("rn"))
  }

  /** Initialize the persisted serving-graph store a CDC feed maintains —
    * edges partitioned by the src's storage bucket plus the members
    * sidecar, ready for [[applyGraphCdcBatch]] (the reverse sidecar
    * backfills on first use). `member` restricts the initial population
    * (ids that "arrive" later are excluded here and added by the feed). */
  private[graft] def initGraphStore(root: java.nio.file.Path, asgAll: DataFrame,
                                    member: org.apache.spark.sql.Column): Unit =
    graft.sources.WriterLease.withLease(root) {
      val a1 = asgAll.filter(col("rn") === 1)
        .select(col("vec_id").as("src"), col("cent_id").cast("int").as("sbucket"))
      // two disjoint store writes from the same checkpointed assignment
      // frame — overlapped (the members write is tiny but its one-task
      // tail would otherwise serialize after the edge join)
      Par.run(Seq(
        () => graphAnnEdges(asgAll.filter(member))
          .join(a1, Seq("src"))
          .repartition(col("sbucket"))
          .write.partitionBy("sbucket").parquet(root.resolve("edges").toString),
        () => asgAll.filter(member && col("rn") === 1).select(col("vec_id"))
          .coalesce(1).write.parquet(root.resolve("members").toString)),
        parallelism = 2)
    }

  /** The serving graph: per-node top-[[GraphAnnDegree]] directed edges of
    * the IVF-bucketed corpus join, query side carrying its top-2
    * assignments (see [[graphAnn]]'s scaladoc for why top-2 is the
    * navigability property). */
  private[graft] def graphAnnEdges(asg: DataFrame,
                                       degree: Int = GraphAnnDegree): DataFrame =
    graphAnnEdgesFrom(asg.filter(col("rn") === 1), annQside(asg), degree)

  /** Query-side projection of an assignment frame — every node under its
    * top-2 centroid memberships. */
  private def annQside(asg: DataFrame): DataFrame =
    asg.filter(col("rn") <= 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"),
        col("vec_norm").as("q_norm"), col("cent_id"))

  /** The edge join itself, decomposed so maintenance can recompute a
    * SUBSET of query nodes against the full candidate side without
    * duplicating the ranking arithmetic ([[graphAnnUpsert]]). */
  private def graphAnnEdgesFrom(a1: DataFrame, qside: DataFrame,
                                degree: Int): DataFrame = {
    val ew = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    a1
      .hint("merge")
      .join(qside, Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score", KnnSearch.prenormedScore)
      .withColumn("rank", row_number().over(ew))
      .filter(col("rank") <= degree)
      .select(col("query_id").as("src"), col("vec_id").as("dst"))
  }

  /** The hop loop every graph-ANN walk shares (coarse layer descent and
    * fine refinement use ONE implementation, so the visited-set fold and
    * tie-breaks can never desynchronize): expand the current beam's
    * out-edges, exactly score only the NEWLY reached nodes, fold into the
    * visited set, re-take the beam. Per hop the moving pieces are a
    * beam-sized frontier broadcast against the id-pair edge frame and a
    * pushed-down id semijoin to fetch the fresh vectors — O(beam·degree)
    * scored vectors per hop, independent of corpus size. */
  private def beamWalk(edges: DataFrame, emb: DataFrame, visited0: DataFrame,
                       beam: Int, hops: Int,
                       score: DataFrame => DataFrame,
                       excludeId: Long = 0L): DataFrame = {
    var visited = visited0.localCheckpoint(eager = true)
    for (_ <- 1 to hops) {
      val frontier = visited
        .orderBy(col("score").desc, col("vec_id"))
        .limit(beam)
        .select(col("vec_id").as("src"))
      val fresh = edges.join(broadcast(frontier), "src")
        .select(col("dst").as("vec_id")).distinct()
        .filter(col("vec_id") =!= excludeId) // the query node itself
        .join(visited.select(col("vec_id")), Seq("vec_id"), "left_anti")
      visited = visited
        .unionByName(score(emb.join(broadcast(fresh), "vec_id")))
        .localCheckpoint(eager = true)
    }
    visited
  }

  def graphAnn(spark: SparkSession, dir: String,
               beam: Int = GraphAnnBeam, hops: Int = GraphAnnHops,
               seedProbes: Int = GraphAnnSeedProbes): DataFrame =
    graphAnnVisited(spark, dir, beam, hops, seedProbes)
      .orderBy(col("score").desc, col("vec_id")).limit(10)

  /** The full VISITED set of the deterministic beam walk — factored so
    * the plain and the metadata-FILTERED servings share one walk
    * verbatim (same seeds, same hops, same tie-breaks). */
  private def graphAnnVisited(spark: SparkSession, dir: String,
                              beam: Int = GraphAnnBeam,
                              hops: Int = GraphAnnHops,
                              seedProbes: Int = GraphAnnSeedProbes): DataFrame = {
    val emb = KnnSearch.withNorm(Tables.embeddings(spark, dir))
    val cent = VectorOps.seedCentroids(spark, dir)
    val q = broadcast(KnnSearch.withNorm(
      Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding")),
      "q_embedding").withColumnRenamed("vec_norm", "q_norm"))
    def scoreAgainstQuery(rows: DataFrame): DataFrame =
      rows.crossJoin(q)
        .withColumn("score", KnnSearch.prenormedScore)
        .select(col("vec_id"), col("label"), col("score"))
    val asg = ivfTop2Assignments(spark, dir)
    val a1 = asg.filter(col("rn") === 1)
    val edges = graphAnnEdges(asg)
      .localCheckpoint(eager = true) // id-pairs only — built once, walked per hop
    val probe = IvfIndex.probes(cent, q, nprobe = seedProbes)
    val visited0 = scoreAgainstQuery(
      a1.join(broadcast(probe), "cent_id").filter(col("vec_id") =!= 0))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(beam)
    beamWalk(edges, emb, visited0, beam, hops, scoreAgainstQuery)
  }

  /** The predicate the filtered serving restricts results to — a label
    * equality, the metadata-filter shape the reference's platform exposes
    * (Pinecone queries accept a metadata filter; q_knn_filtered is the
    * exact-search twin). */
  val GraphAnnFilterLabel = 3

  /** Q-graph-ann-filtered: METADATA-FILTERED graph-ANN serving — the walk
    * navigates the UNFILTERED graph (pruning edges by predicate would
    * fragment navigability: a filtered-out node still ROUTES the search —
    * the standard filtered-HNSW discipline), and the predicate restricts
    * only the RESULT collection: the top-10 by score among the visited
    * nodes carrying the label. Correctness is exact walk-replay equality
    * — the oracle runs the identical hop-by-hop expansion and applies the
    * identical final predicate — not a recall bound, so the filtered
    * serving inherits every determinism property of q_graph_ann. At low
    * predicate selectivity a deployment widens the beam (the
    * candidate-pool ∝ 1/selectivity rule of filtered ANN search); the
    * dials here stay q_graph_ann's so the two walks are literally the
    * same frame. */
  def graphAnnFiltered(spark: SparkSession, dir: String): DataFrame =
    graphAnnVisited(spark, dir)
      .filter(col("label") === GraphAnnFilterLabel)
      .orderBy(col("score").desc, col("vec_id")).limit(10)

  /** The query-BLOCK walk: [[beamWalk]] keyed by q_id — per-query beams
    * via ranking windows instead of global sort+limit, every hop ONE
    * batched join against the shared edge frame for the whole block.
    * `queries` is the broadcastable block (q_id, q_embedding, q_norm);
    * `visited0` carries (q_id, vec_id, label, score). */
  private def beamWalkBatch(edges: DataFrame, emb: DataFrame,
                            queries: DataFrame, visited0: DataFrame,
                            beam: Int, hops: Int): DataFrame = {
    val fw = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id"))
    var visited = visited0.localCheckpoint(eager = true)
    for (_ <- 1 to hops) {
      val frontier = visited
        .withColumn("fr", row_number().over(fw)).filter(col("fr") <= beam)
        .select(col("q_id"), col("vec_id").as("src"))
      val fresh = edges.join(broadcast(frontier), "src")
        .select(col("q_id"), col("dst").as("vec_id")).distinct()
        .filter(col("vec_id") =!= col("q_id"))
        .join(visited.select(col("q_id"), col("vec_id")),
          Seq("q_id", "vec_id"), "left_anti")
      val freshScored = emb.join(broadcast(fresh), "vec_id")
        .join(broadcast(queries), "q_id")
        .withColumn("score", KnnSearch.prenormedScore)
        .select(col("q_id"), col("vec_id"), col("label"), col("score"))
      visited = visited.unionByName(freshScored).localCheckpoint(eager = true)
    }
    visited
  }

  /** Q-graph-ann-batch: GRAPH-ANN AS A JOIN — per-query top-10 for a
    * whole query block through ONE walk job, completing the family's
    * single/batch pair the way [[IvfIndex]] has q_ann_ivf/q_ann_batch and
    * brute kNN has q_knn/q_knn_join. The offline edge frame is the
    * amortized asset: each hop expands EVERY query's beam with one
    * broadcast join against it (frontier = block × beam ids), one
    * distinct, one anti-join against the per-query visited set, and one
    * fetch-and-score of the block's newly reached (q_id, vec_id) pairs —
    * per-query ranking windows (WindowGroupLimit) replace the single-query
    * sort+limit, so the hop count stays [[GraphAnnHops]] while the block
    * rides the same 6 jobs a single query costs. Seeding is the set-wise
    * probe form of [[graphAnn]]'s: every query's [[GraphAnnSeedProbes]]
    * nearest buckets from ONE block × centroid ranking. Deterministic and
    * fully oracle-replayable (per-q_id windows, materialized round CTEs).
    *
    * Scale shape: the block is metadata-sized (it broadcasts); the walk
    * touches O(block · beam · degree) vectors per hop via pushed-down id
    * semijoins — corpus-independent serving over a corpus-linear offline
    * graph, the batched form a recommendation/dedup pipeline runs
    * nightly over millions of queries by partitioning the block. */
  /** Batch-serving dials, chosen by a tri-SF recall sweep over the BLOCK
    * (the distributional view q_nprobe_tune teaches — the single-query
    * dials measured 0.58 mean recall on the sf0.1 block): a denser
    * degree-[[BatchDegree]] edge frame (the offline build dial — batch
    * serving amortizes it across every query in every block), beam
    * [[BatchBeam]], [[BatchSeedProbes]] seed buckets. Measured mean
    * recall@10: 0.98 / 0.98 / 0.90, gated ≥ 0.9 tri-SF. */
  val BatchDegree = 24
  val BatchBeam = 48
  val BatchSeedProbes = 4

  def graphAnnBatch(spark: SparkSession, dir: String,
                    beam: Int = BatchBeam, hops: Int = GraphAnnHops,
                    seedProbes: Int = BatchSeedProbes,
                    degree: Int = BatchDegree): DataFrame = {
    val emb = KnnSearch.withNorm(Tables.embeddings(spark, dir))
    val cent = VectorOps.seedCentroids(spark, dir)
    val qs = broadcast(KnnSearch.withNorm(
      Tables.embeddings(spark, dir)
        .filter(col("vec_id") % BatchSampleMod === BatchSampleRes)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding")),
      "q_embedding").withColumnRenamed("vec_norm", "q_norm"))
    val pw = Window.partitionBy(col("q_id"))
      .orderBy(col("p_score").desc, col("cent_id"))
    val probes = qs.crossJoin(broadcast(cent))
      .withColumn("p_score", cosineSimPrenormed(
        dotProduct(col("c_embedding"), col("q_embedding")),
        col("c_norm"), col("q_norm")))
      .withColumn("pr", row_number().over(pw)).filter(col("pr") <= seedProbes)
      .select(col("q_id"), col("cent_id"))
    val asg = ivfTop2Assignments(spark, dir)
    val edges = graphAnnEdges(asg, degree).localCheckpoint(eager = true)
    val fw = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id"))
    val visited0 = asg.filter(col("rn") === 1)
      .join(broadcast(probes), "cent_id")
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(qs), "q_id")
      .withColumn("score", KnnSearch.prenormedScore)
      .select(col("q_id"), col("vec_id"), col("label"), col("score"))
      .withColumn("r", row_number().over(fw)).filter(col("r") <= beam)
      .drop("r")
    beamWalkBatch(edges, emb, qs, visited0, beam, hops)
      .withColumn("rank", row_number().over(fw)).filter(col("rank") <= 10)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Deterministic query block for [[graphAnnBatch]]: vec_id ≡ 7
    * (mod 101) — 5 queries at sf0.01, 20 at sf0.1. */
  val BatchSampleMod = 101
  val BatchSampleRes = 7

  val graphAnnBatchSql: String = {
    import VectorSql.{cosine => cos}
    def round_(k: Int): String = {
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      s"""f$k AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY score DESC, vec_id) AS r FROM $prev) WHERE r <= $BatchBeam),
         |n$k AS (SELECT DISTINCT f.q_id, e.dst FROM e JOIN f$k f ON e.src = f.vec_id
         |        WHERE e.dst <> f.q_id AND NOT EXISTS (
         |          SELECT 1 FROM $prev v WHERE v.q_id = f.q_id AND v.vec_id = e.dst)),
         |v$k AS MATERIALIZED (SELECT * FROM $prev UNION ALL
         |        SELECT n.q_id, b2.vec_id, b2.label,
         |          ROUND(${cos("b2.embedding", "q.qe")}, 6) AS score
         |        FROM n$k n JOIN embeddings b2 ON b2.vec_id = n.dst
         |        JOIN qs q ON q.q_id = n.q_id)""".stripMargin
    }
    s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings WHERE vec_id < 16),
       |qs AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
       |       WHERE vec_id % $BatchSampleMod = $BatchSampleRes),
       |asg AS MATERIALIZED (
       |  SELECT e.vec_id, e.label, e.embedding, c.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                       ORDER BY ${cos("e.embedding", "c.ce")} DESC, c.cent_id) AS rn
       |  FROM embeddings e, cent c),
       |a1 AS (SELECT vec_id, label, embedding, cent_id FROM asg WHERE rn = 1),
       |a2 AS (SELECT vec_id, embedding, cent_id FROM asg WHERE rn <= 2),
       |e AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT qa.vec_id AS src, ia.vec_id AS dst,
       |      ROW_NUMBER() OVER (PARTITION BY qa.vec_id
       |                         ORDER BY ROUND(${cos("ia.embedding", "qa.embedding")}, 6) DESC, ia.vec_id) AS rank
       |    FROM a1 ia JOIN a2 qa ON ia.cent_id = qa.cent_id AND ia.vec_id <> qa.vec_id)
       |  WHERE rank <= $BatchDegree),
       |pr AS (SELECT q_id, cent_id FROM (
       |  SELECT q.q_id, c.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY q.q_id
       |                       ORDER BY ${cos("c.ce", "q.qe")} DESC, c.cent_id) AS pr
       |  FROM qs q, cent c) WHERE pr <= $BatchSeedProbes),
       |v0 AS MATERIALIZED (SELECT q_id, vec_id, label, score FROM (
       |  SELECT p.q_id, a.vec_id, a.label,
       |    ROUND(${cos("a.embedding", "q.qe")}, 6) AS score,
       |    ROW_NUMBER() OVER (PARTITION BY p.q_id
       |                       ORDER BY ROUND(${cos("a.embedding", "q.qe")}, 6) DESC, a.vec_id) AS r
       |  FROM a1 a JOIN pr p ON a.cent_id = p.cent_id
       |  JOIN qs q ON q.q_id = p.q_id
       |  WHERE a.vec_id <> p.q_id) WHERE r <= $BatchBeam),
       |${(1 to GraphAnnHops).map(round_).mkString(",\n")}
       |SELECT q_id, vec_id, label, score, rank FROM (
       |  SELECT q_id, vec_id, label, score,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |                       ORDER BY score DESC, vec_id) AS rank
       |  FROM v$GraphAnnHops) WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin
  }

  /** Batch split for [[graphAnnUpsert]]: vec_id ≡ 23 (mod 50) "arrives"
    * as the upsert batch (23 avoids the 16 seed-centroid ids — a centroid
    * cannot arrive after the index it defines). */
  val AnnUpsertMod = 50
  val AnnUpsertRes = 23

  /** Q-graph-ann-upsert: INCREMENTAL MAINTENANCE for the SERVING graph —
    * the last index artifact without a maintenance story (the vector
    * index has q_stream_upsert/q_stream_cdc, the inverted index
    * q_bm25_upsert/q_stream_bm25_upsert, the mutual kNN graph
    * q_knn_graph_incr; the graph-ANN edge frame q_graph_ann/hier/batch
    * serve from had only full rebuilds). On a batch arrival:
    *
    *  1. TOUCHED buckets = the batch nodes' storage (rn=1) assignments —
    *     ≤ #centroids ids, codebook-sized driver metadata (the
    *     q_ann_ivf_persisted probe discipline).
    *  2. AFFECTED queries = batch nodes + any stored node with a touched
    *     bucket among its top-2 memberships — the EXACT invalidation set:
    *     a query node's candidate pool is its top-2 buckets' members, so
    *     an untouched-bucket node's edge list provably cannot change.
    *  3. Recompute edges for affected queries ONLY (one
    *     [[graphAnnEdgesFrom]] pass with the query side semi-joined to
    *     the affected ids — same ranking arithmetic as the build, so the
    *     two paths cannot desynchronize); stored edges of unaffected
    *     queries pass through untouched (anti-join on src).
    *
    * Incremental == full rebuild by construction, and the oracle states
    * exactly that: the full-corpus edge replay. Scale shape: the stored
    * frame moves through one anti-join keyed by src; recomputation is
    * per-bucket-quadratic ONLY in the touched buckets (batch-proportional,
    * not corpus-proportional — the touched-partition discipline every
    * maintenance path in this engine follows). */
  def graphAnnUpsert(spark: SparkSession, dir: String): DataFrame = {
    val isNew = col("vec_id") % AnnUpsertMod === AnnUpsertRes
    val asgFull = ivfTop2Assignments(spark, dir)
    // the edge frame a deployment has on disk: built before the batch
    val stored = graphAnnEdges(asgFull.filter(!isNew))
      .localCheckpoint(eager = true)
    graphAnnApplyUpsert(asgFull, stored,
      asgFull.filter(isNew && col("rn") === 1).select(col("vec_id")))
      .orderBy(col("src"), col("dst"))
  }

  /** The upsert maintenance CORE as a DELTA, parameterized by the
    * post-arrival assignment state and the batch's id frame — shared
    * verbatim by the declared q_graph_ann_upsert and the streaming
    * changelog sink ([[streamGraphCdc]]), so batch and streamed
    * maintenance cannot desynchronize. Returns (dropSrcs — srcs whose
    * stored lists are superseded, fresh — their recomputed lists).
    * `asgState` must cover members ∪ batch. */
  private def upsertDelta(asgState: DataFrame,
                          newIds: DataFrame): (DataFrame, DataFrame) = {
    // ≤16 touched bucket ids — metadata, not data
    val touched = asgState
      .join(broadcast(newIds), Seq("vec_id"))
      .filter(col("rn") === 1)
      .select(col("cent_id")).distinct()
      .collect().map(_.getLong(0)).toIndexedSeq
    val affectedIds = asgState
      .filter(col("rn") <= 2 && col("cent_id").isin(touched: _*))
      .select(col("vec_id"))
      .unionByName(newIds)
      .distinct()
      .withColumnRenamed("vec_id", "query_id")
      .localCheckpoint(eager = true)
    val fresh = graphAnnEdgesFrom(
      asgState.filter(col("rn") === 1),
      annQside(asgState).join(affectedIds, "query_id"),
      GraphAnnDegree)
    (affectedIds.withColumnRenamed("query_id", "src"), fresh)
  }

  private def graphAnnApplyUpsert(asgState: DataFrame, stored: DataFrame,
                                  newIds: DataFrame): DataFrame = {
    val (drop, fresh) = upsertDelta(asgState, newIds)
    stored.join(drop, Seq("src"), "left_anti").unionByName(fresh)
  }

  /** Incremental == rebuild: the oracle is the full-corpus edge replay
    * (the q_knn_graph_incr / q_bm25_upsert discipline). */
  val graphAnnUpsertSql: String = {
    import VectorSql.{cosine => cos}
    s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings WHERE vec_id < 16),
       |asg AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding, c.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                       ORDER BY ${cos("e.embedding", "c.ce")} DESC, c.cent_id) AS rn
       |  FROM embeddings e, cent c),
       |a1 AS (SELECT vec_id, embedding, cent_id FROM asg WHERE rn = 1),
       |a2 AS (SELECT vec_id, embedding, cent_id FROM asg WHERE rn <= 2)
       |SELECT src, dst FROM (
       |  SELECT qa.vec_id AS src, ia.vec_id AS dst,
       |    ROW_NUMBER() OVER (PARTITION BY qa.vec_id
       |                       ORDER BY ROUND(${cos("ia.embedding", "qa.embedding")}, 6) DESC, ia.vec_id) AS rank
       |  FROM a1 ia JOIN a2 qa ON ia.cent_id = qa.cent_id AND ia.vec_id <> qa.vec_id)
       |WHERE rank <= $GraphAnnDegree ORDER BY src, dst""".stripMargin
  }

  /** Delete batch for [[graphAnnDelete]]: vec_id ≡ 31 (mod 50) leaves the
    * corpus (disjoint from the upsert batch's residue; ≥ 16, so a seed
    * centroid never deletes out from under the quantizer it defines —
    * centroid retirement is the rebuild path, as in every IVF system). */
  val AnnDeleteMod = 50
  val AnnDeleteRes = 31

  /** Q-graph-ann-delete: NODE DELETION maintenance for the serving graph —
    * the [[graphAnnUpsert]] story completed for the other direction of
    * churn (a CDC feed carries deletes too). On a delete batch:
    *
    *  1. Dead srcs: stored edge lists of deleted nodes drop (src-keyed
    *     anti-join — id pairs, no vectors).
    *  2. AFFECTED srcs = stored nodes with ≥1 DELETED dst — the EXACT
    *     invalidation set, and tighter than the upsert's bucket-level one:
    *     deletion only REMOVES candidates, and removing a candidate that
    *     never made the top-[[GraphAnnDegree]] list cannot change the
    *     list (relative order of survivors is removal-invariant under the
    *     deterministic score/vec_id tie-break). So exactly the srcs whose
    *     stored list lost a member re-rank; everyone else passes through
    *     bit-identically.
    *  3. Recompute affected srcs through the SAME decomposed build join
    *     ([[graphAnnEdgesFrom]]) with both sides restricted to live
    *     nodes — incremental == rebuild over the reduced corpus is a
    *     construction property, and the oracle states it directly.
    *
    * Scale shape: the affected-set discovery reads the REVERSE-EDGE
    * sidecar ([[writeReverseEdges]]) pruned to the dead nodes' storage
    * buckets — dst-keyed (dst, src) pairs, partitioned by the dst's
    * bucket, so "who points at the dead nodes?" is a partition-pruned
    * metadata read ∝ the batch's bucket footprint, never a scan of the
    * full edge store. The recompute is the per-bucket-quadratic join
    * restricted query-side to the affected srcs — proportional to the
    * deleted nodes' in-degree (graph churn), never the corpus. */
  def graphAnnDelete(spark: SparkSession, dir: String): DataFrame = {
    val isDead = col("vec_id") % AnnDeleteMod === AnnDeleteRes
    val asgFull = ivfTop2Assignments(spark, dir)
    // the edge frame a deployment has on disk: built over the full corpus
    val stored = graphAnnEdges(asgFull).localCheckpoint(eager = true)
    // ... and its reverse sidecar, persisted WITH the edge store
    val root = java.nio.file.Paths.get(graft.Scratch.dir("graph-ann-delete"))
    writeReverseEdges(root, stored, asgFull)
    val deadIds = asgFull.filter(isDead && col("rn") === 1)
      .select(col("vec_id")).localCheckpoint(eager = true)
    val affected = reverseAffectedFrame(spark, root, asgFull, deadIds)
      .localCheckpoint(eager = true)
    graphAnnApplyDelete(asgFull, stored, deadIds, Some(affected))
      .orderBy(col("src"), col("dst"))
  }

  /** Persist the REVERSE-EDGE sidecar: (dst, src) pairs partitioned by
    * the DST's storage bucket — the structure that makes delete-side
    * affected-src discovery a partition-pruned read instead of a full
    * edge-store semi-join (the footprint-sidecar discipline of
    * [[graft.sources.InvertedIndex]], applied to the graph). Written with
    * the edge store, maintained trigger-by-trigger by
    * [[applyGraphCdcBatch]]. */
  private[operators] def writeReverseEdges(root: java.nio.file.Path,
                                           edges: DataFrame,
                                           asg: DataFrame): Unit =
    graft.sources.WriterLease.withLease(root) {
      val a1d = asg.filter(col("rn") === 1)
        .select(col("vec_id").as("dst"), col("cent_id").cast("int").as("dbucket"))
      edges.select(col("src"), col("dst")).join(a1d, Seq("dst"))
        .select(col("dst"), col("src"), col("dbucket"))
        .repartition(col("dbucket"))
        .write.mode("overwrite").partitionBy("dbucket")
        .parquet(root.resolve("redges").toString)
    }

  /** REPAIR for the reverse-edge sidecar: redges are a pure TRANSPOSE of
    * the edge store (re-partitioned by the dst's storage bucket), so
    * recovery from redges drift — the audit's redges_mirror_edges /
    * redges_cover_edges findings — is one re-derivation from the primary
    * (the [[graft.sources.InvertedIndex.rebuildDerived]] contract applied
    * to the graph artifact). `asg` supplies the node → storage-bucket map
    * the primary vector index owns. */
  private[graft] def rebuildRedges(spark: org.apache.spark.sql.SparkSession,
                                   root: java.nio.file.Path,
                                   asg: DataFrame): Unit =
    writeReverseEdges(root,
      spark.read.parquet(root.resolve("edges").toString), asg)

  /** Affected-src discovery from the reverse sidecar: the dead ids'
    * storage buckets are plan-time metadata (≤ #centroids — the probe-
    * selection discipline), the reverse scan prunes to exactly those
    * directories, and the dead-id join is a broadcast of the batch.
    * Exposed for the plan gate (PartitionFilters on dbucket). */
  private[operators] def reverseAffectedFrame(spark: SparkSession,
                                              root: java.nio.file.Path,
                                              asg: DataFrame,
                                              deadIds: DataFrame): DataFrame = {
    val deadBuckets = asg.join(broadcast(deadIds), Seq("vec_id"))
      .filter(col("rn") === 1).select(col("cent_id")).distinct()
      .collect().map(_.getLong(0).toInt).toIndexedSeq
    spark.read.parquet(root.resolve("redges").toString)
      .filter(col("dbucket").isin(deadBuckets: _*))
      .join(broadcast(deadIds.withColumnRenamed("vec_id", "dst")), Seq("dst"))
      .select(col("src")).distinct()
  }

  /** The delete maintenance CORE as a DELTA, shared like
    * [[upsertDelta]]. `asgState` covers the members BEFORE removal (dead
    * included — the recompute side filters them out itself). dropSrcs =
    * dead ∪ affected (srcs that lost a list member). `affectedOpt` lets
    * the caller supply the affected-src set from the reverse-edge
    * sidecar ([[reverseAffectedFrame]] — partition-pruned discovery);
    * absent, discovery falls back to the stored-frame semi-join. */
  private def deleteDelta(asgState: DataFrame, stored: DataFrame,
                          deadIds: DataFrame,
                          affectedOpt: Option[DataFrame] = None)
      : (DataFrame, DataFrame) = {
    val affected = affectedOpt.getOrElse(stored
      .join(broadcast(deadIds.withColumnRenamed("vec_id", "dst")), Seq("dst"))
      .select(col("src")).distinct()
      .localCheckpoint(eager = true))
    val live = asgState
      .join(broadcast(deadIds), Seq("vec_id"), "left_anti")
    val fresh = graphAnnEdgesFrom(
      live.filter(col("rn") === 1),
      annQside(live).join(
        affected.withColumnRenamed("src", "query_id"), "query_id"),
      GraphAnnDegree)
    val drop = affected
      .unionByName(deadIds.withColumnRenamed("vec_id", "src"))
      .distinct()
    (drop, fresh)
  }

  private def graphAnnApplyDelete(asgState: DataFrame, stored: DataFrame,
                                  deadIds: DataFrame,
                                  affectedOpt: Option[DataFrame] = None)
      : DataFrame = {
    val (drop, fresh) = deleteDelta(asgState, stored, deadIds, affectedOpt)
    stored.join(broadcast(drop), Seq("src"), "left_anti").unionByName(fresh)
  }

  /** Incremental == rebuild over the REDUCED corpus: the full-corpus edge
    * replay with the deleted residue filtered at the base (the
    * [[graphAnnUpsertSql]] CTE chain over the surviving nodes — seed
    * centroids all survive by construction). */
  val graphAnnDeleteSql: String = graphAnnUpsertSql.replace(
    "FROM embeddings e, cent c)",
    s"FROM embeddings e, cent c WHERE e.vec_id % $AnnDeleteMod <> $AnnDeleteRes)")

  /** One graph changelog trigger (`op` ∈ {U, D}), against a PERSISTED
    * edge store partitioned by the src's IVF STORAGE bucket — the same
    * partition key the vector index itself uses, so graph churn
    * localizes exactly like vector churn: an edge src→dst exists only
    * between nodes sharing a top-2 bucket, hence every src the batch can
    * affect lives in a bucket adjacent to the batch's memberships, and
    * the rewrite is a touched-bucket dynamic overwrite (the
    * Maintenance.overwritePartitions protocol, emptied dirs removed),
    * never a full-graph rewrite. Deletes apply before adds (the lexical
    * CDC ordering); the whole trigger is idempotent behind a
    * `_stream_commits/<batchId>` marker. The members sidecar (the ids
    * currently in the graph — metadata the primary vector index already
    * holds) swaps whole per trigger like the inverted index's dict. */
  private[graft] def applyGraphCdcBatch(root: java.nio.file.Path,
                                            asgAll: DataFrame,
                                            batch: DataFrame,
                                            batchId: Long): Unit =
    // writer-leased like every other maintenance entry point (the graph
    // store was the lease's last uncovered artifact kind): two CDC
    // maintainers interleaving dynamic overwrites of edges/redges/members
    // is exactly the two-writer hazard the lease refuses
    graft.sources.WriterLease.withLease(root) {
      applyGraphCdcBatchLeased(root, asgAll, batch, batchId)
    }

  private def applyGraphCdcBatchLeased(root: java.nio.file.Path,
                                       asgAll: DataFrame,
                                       batch: DataFrame,
                                       batchId: Long): Unit = {
    import java.nio.file.Files
    val spark = batch.sparkSession
    val commits = root.resolve("_stream_commits")
    Files.createDirectories(commits)
    val marker = commits.resolve(batchId.toString)
    if (Files.exists(marker)) return
    val edgesPath = root.resolve("edges").toString
    val membersPath = root.resolve("members").toString
    var members = spark.read.parquet(membersPath)
    val stored = spark.read.parquet(edgesPath)
    // backfill the reverse sidecar for an edge store persisted before it
    // existed — the one full-store pass, paid once (the InvertedIndex
    // footprint-backfill discipline)
    if (!Files.exists(root.resolve("redges")))
      writeReverseEdges(root, stored, asgAll)
    // in-batch per-key resolution FIRST (the lexical applyCdcBatch
    // discipline): a vec_id carrying both U and D in one micro-batch must
    // take exactly ONE branch — without this the delete branch removed the
    // node and the add branch re-inserted it regardless of feed order.
    // The deterministic tie-break (op hash) picks the same winner on a
    // redelivered retry; feeds that care which op wins within one trigger
    // carry a real version column upstream.
    val resolved = graft.operators.Upsert.lastWriteWins(
        batch.withColumn("version", lit(0L)), Seq("vec_id"), "version",
        tieBreak = Seq(xxhash64(col("op"))))
      .drop("version")
      .localCheckpoint(eager = true)
    val opCounts = resolved.groupBy(col("op")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val deltas = scala.collection.mutable.ArrayBuffer.empty[(DataFrame, DataFrame)]
    if (opCounts.contains("D")) {
      val dead = resolved.filter(col("op") === "D").select(col("vec_id"))
        .join(members, Seq("vec_id"), "left_semi") // only present ids
        .localCheckpoint(eager = true)
      // members is corpus-sized — a plain semi-join, never a broadcast
      // (only the BATCH-sized frames ride broadcast hints here)
      val asgState = asgAll.join(members, Seq("vec_id"), "left_semi")
      // affected-src discovery from the reverse sidecar: partition-pruned
      // to the dead ids' storage buckets, never a full-edge-store semi-join
      val affected = reverseAffectedFrame(spark, root, asgAll, dead)
        .localCheckpoint(eager = true)
      deltas += deleteDelta(asgState, stored, dead, Some(affected))
      members = members.join(broadcast(dead), Seq("vec_id"), "left_anti")
    }
    if (opCounts.collect { case (op, n) if op != "D" => n }.sum > 0) {
      val fresh = resolved.filter(col("op") =!= "D").select(col("vec_id"))
        .join(members, Seq("vec_id"), "left_anti") // redelivered adds are inert
        .localCheckpoint(eager = true)
      members = members.unionByName(fresh).localCheckpoint(eager = true)
      val asgState = asgAll.join(members, Seq("vec_id"), "left_semi")
      deltas += upsertDelta(asgState, fresh)
    }
    // The final membership is materialized BEFORE the delta loop (one
    // checkpoint cuts its dependency on the members files) so its staged
    // write overlaps the edge/reverse rewrites below (Par, guide §2.6) —
    // the three stores are disjoint, and only the store SWAP (two
    // renames, plain fs ops) must wait for the loop, whose delta frames
    // still read the old members files.
    val mem = members.localCheckpoint(eager = true)
    def applyDelta(drop: DataFrame, freshEdges: DataFrame): Unit = {
      // touched partitions = the storage buckets of every changed src —
      // collected as literal metadata (≤ #centroids), the probe-selection
      // discipline; survivors scan only those directories
      val a1 = asgAll.filter(col("rn") === 1)
        .select(col("vec_id").as("src"), col("cent_id").cast("int").as("sbucket"))
      val changed = drop.unionByName(freshEdges.select(col("src"))).distinct()
        .join(a1, Seq("src"))
      val touched = changed.select(col("sbucket")).distinct()
        .collect().map(_.getInt(0)).sorted.toIndexedSeq
      if (touched.nonEmpty) {
        val current = spark.read.parquet(edgesPath)
        // the rows about to be superseded — captured BEFORE the overwrite,
        // they key the reverse sidecar's touched dst-buckets
        val droppedEdges = current.filter(col("sbucket").isin(touched: _*))
          .join(broadcast(drop), Seq("src"))
          .select(col("src"), col("dst"))
          .localCheckpoint(eager = true)
        // forward rewrite and reverse-sidecar rewrite touch disjoint
        // stores and both derive from the checkpointed droppedEdges /
        // delta frames — overlapped jobs (Par, guide §2.6). Delta
        // ITERATIONS stay sequential: the second delta re-reads the
        // edge store the first one rewrote.
        graft.operators.Par.run(Seq(
          () => graft.sources.Maintenance.overwritePartitions(edgesPath,
            "sbucket", touched,
            current
              .filter(col("sbucket").isin(touched: _*))
              .join(broadcast(drop), Seq("src"), "left_anti")
              .select(col("src"), col("dst"), col("sbucket"))
              .unionByName(freshEdges.join(a1, Seq("src"))
                .select(col("src"), col("dst"), col("sbucket")))),
          () => {
            // reverse sidecar follows the edge store: every changed edge's
            // reverse row lives in its DST's bucket, so the rewrite is a
            // dynamic overwrite of the changed edges' dst-buckets — the same
            // ∝-batch bound as the forward rewrite, one partition key over
            val a1d = asgAll.filter(col("rn") === 1)
              .select(col("vec_id").as("dst"), col("cent_id").cast("int").as("dbucket"))
            val revPath = root.resolve("redges").toString
            val revTouched = droppedEdges
              .unionByName(freshEdges.select(col("src"), col("dst")))
              .join(a1d, Seq("dst"))
              .select(col("dbucket")).distinct()
              .collect().map(_.getInt(0)).sorted.toIndexedSeq
            if (revTouched.nonEmpty)
              graft.sources.Maintenance.overwritePartitions(revPath,
                "dbucket", revTouched,
                spark.read.parquet(revPath)
                  .filter(col("dbucket").isin(revTouched: _*))
                  .join(broadcast(drop), Seq("src"), "left_anti")
                  .select(col("dst"), col("src"), col("dbucket"))
                  .unionByName(freshEdges.join(a1d, Seq("dst"))
                    .select(col("dst"), col("src"), col("dbucket"))))
          }),
          parallelism = 2)
      }
    }
    // the staged replace's write step runs the delta loop beside the
    // members stage, so the swap lands only after both finished
    graft.sources.Maintenance.replace(root.resolve("members")) { stage =>
      graft.operators.Par.run(Seq(
        () => deltas.foreach { case (drop, freshEdges) => applyDelta(drop, freshEdges) },
        () => mem.coalesce(1).write.mode("overwrite").parquet(stage)),
        parallelism = 2)
    }
    Files.writeString(marker, "")
  }

  /** Q-stream-graph-cdc: the serving graph maintained from a CHANGELOG
    * STREAM end-to-end — the [[graphAnnUpsert]]/[[graphAnnDelete]] cores
    * (literally the same delta functions) driven by foreachBatch against
    * a persisted, storage-bucket-partitioned edge store: trigger 1
    * delivers the upsert batch (vec_id ≡ [[AnnUpsertRes]] mod 50
    * arrives), trigger 2 the delete batch (≡ [[AnnDeleteRes]] leaves).
    * End state = the full corpus minus the deleted residue, so the
    * oracle is exactly [[graphAnnDeleteSql]] — two micro-batched
    * incremental applications and a from-scratch rebuild over the final
    * corpus must agree edge-for-edge. With this, every index artifact
    * the engine ships has BOTH batch and streaming maintenance: vector
    * index, inverted index, kNN graph, serving graph. */
  def streamGraphCdc(spark: SparkSession, dir: String): DataFrame =
    streamGraphCdcWithRoot(spark, dir)._1

  private[operators] def streamGraphCdcWithRoot(spark: SparkSession, dir: String)
      : (DataFrame, java.nio.file.Path) = {
    import java.nio.file.Paths
    val isNew = col("vec_id") % AnnUpsertMod === AnnUpsertRes
    val isDead = col("vec_id") % AnnDeleteMod === AnnDeleteRes
    // the assignment frame is reused by every trigger — checkpoint once
    val asgAll = ivfTop2Assignments(spark, dir).localCheckpoint(eager = true)
    val root = Paths.get(graft.Scratch.dir("graph-cdc"))
    initGraphStore(root, asgAll, !isNew)
    val b1 = asgAll.filter(isNew && col("rn") === 1)
      .select(col("vec_id")).withColumn("op", lit("U"))
    val b2 = asgAll.filter(isDead && col("rn") === 1)
      .select(col("vec_id")).withColumn("op", lit("D"))
    val staged = graft.Scratch.dir("graph-cdc-in")
    b1.coalesce(1).write.mode("overwrite").parquet(staged)
    graft.streaming.DocStream.stampAscendingMtimes(staged)
    b2.coalesce(1).write.mode("append").parquet(staged)
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", 1).parquet(staged)
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyGraphCdcBatch(root, asgAll, batch, batchId)
      }
      .start()
    try {
      q.processAllAvailable()
      graft.streaming.TriggerStats.record("q_stream_graph_cdc", q)
    } finally q.stop()
    (spark.read.parquet(root.resolve("edges").toString)
      .select(col("src"), col("dst"))
      .orderBy(col("src"), col("dst")), root)
  }

  /** Hierarchy dials for [[graphAnnHier]]: layer membership is
    * DETERMINISTIC id arithmetic (vec_id ≡ 0 mod 8 → layer 1, mod 64 →
    * layer 2 — the geometric level assignment of an HNSW insert without
    * its RNG, so both engines replay it), the coarse walk is narrow
    * (beam 4, degree 4: a router, not a searcher). */
  val HierLayerMod = 8
  val HierTopMod = 64
  val HierDegree = 4
  val HierBeam = 4
  val HierHops = 3

  /** Q-graph-ann-hier: HIERARCHICAL-ENTRY GRAPH ANN — [[graphAnn]] with
    * its IVF bucket-scan seeding replaced by an HNSW-style layer descent,
    * the r11 verdict's optional depth item. The served index needs NO
    * centroid probe at query time:
    *
    *  1. TOP LAYER (every [[HierTopMod]]-th node): exactly score this
    *     N/64-row slice — the bounded entry scan an HNSW top layer is.
    *  2. COARSE DESCENT: greedy [[beamWalk]] (beam [[HierBeam]], degree
    *     [[HierDegree]]) over the LAYER-1 edge graph (the same bucketed
    *     construction as the serving graph, restricted to every
    *     [[HierLayerMod]]-th node) — a router that lands a handful of
    *     layer nodes in the query's neighborhood.
    *  3. REFINE: the identical fine walk as [[graphAnn]], seeded by the
    *     descent's best [[GraphAnnBeam]] nodes instead of two exactly
    *     scanned IVF buckets.
    *
    * Why it matters at scale: [[graphAnn]]'s seed stage scores
    * O(seedProbes·N/16) vectors; here the entry cost is O(N/64) for the
    * top scan plus degree-bounded walk hops — and a production build
    * recurses the layer construction (each layer ~1/8 of the one below,
    * topmost small enough to broadcast) so entry cost becomes logarithmic
    * while serving stays this exact composition. Both walks are ONE
    * implementation ([[beamWalk]]), both edge sets are ONE construction
    * ([[graphAnnEdges]] — per-bucket-quadratic merge join, no corpus
    * broadcast), and the whole search is deterministic: the oracle
    * replays top-scan → 3 coarse rounds → 3 fine rounds as chained
    * (materialized) CTEs. Approximate like every graph-ANN: only the
    * visited set is exactly scored; recall@10 vs brute is gated ≥ 0.9
    * tri-SF in KnnGraphSpec alongside q_graph_ann's. */
  def graphAnnHier(spark: SparkSession, dir: String,
                   beam: Int = GraphAnnBeam, hops: Int = GraphAnnHops,
                   coarseBeam: Int = HierBeam,
                   coarseHops: Int = HierHops): DataFrame = {
    val emb = KnnSearch.withNorm(Tables.embeddings(spark, dir))
    val q = broadcast(KnnSearch.withNorm(
      Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding")),
      "q_embedding").withColumnRenamed("vec_norm", "q_norm"))
    def scoreAgainstQuery(rows: DataFrame): DataFrame =
      rows.crossJoin(q)
        .withColumn("score", KnnSearch.prenormedScore)
        .select(col("vec_id"), col("label"), col("score"))
    val asg = ivfTop2Assignments(spark, dir)
    val layerEdges = graphAnnEdges(
      asg.filter(col("vec_id") % HierLayerMod === 0), degree = HierDegree)
      .localCheckpoint(eager = true)
    val edges = graphAnnEdges(asg).localCheckpoint(eager = true)
    val top0 = scoreAgainstQuery(
      emb.filter(col("vec_id") % HierTopMod === 0 && col("vec_id") =!= 0))
      .orderBy(col("score").desc, col("vec_id")).limit(coarseBeam)
    val coarse = beamWalk(layerEdges, emb, top0, coarseBeam, coarseHops,
      scoreAgainstQuery)
    val seeds = coarse.orderBy(col("score").desc, col("vec_id")).limit(beam)
    beamWalk(edges, emb, seeds, beam, hops, scoreAgainstQuery)
      .orderBy(col("score").desc, col("vec_id")).limit(10)
  }

  val graphAnnHierSql: String = {
    import VectorSql.{cosine => cos}
    def walkRound(edgeCte: String, prev: String, out: String,
                  beam: Int): String =
      s"""${out}f AS (SELECT vec_id FROM $prev ORDER BY score DESC, vec_id LIMIT $beam),
         |${out}n AS (SELECT DISTINCT e.dst FROM $edgeCte e JOIN ${out}f ON e.src = ${out}f.vec_id
         |        WHERE e.dst <> 0 AND e.dst NOT IN (SELECT vec_id FROM $prev)),
         |$out AS MATERIALIZED (SELECT * FROM $prev UNION ALL
         |        SELECT b2.vec_id, b2.label, ROUND(${cos("b2.embedding", "q.qe")}, 6) AS score
         |        FROM embeddings b2, q WHERE b2.vec_id IN (SELECT dst FROM ${out}n))""".stripMargin
    val coarse = (1 to HierHops)
      .map(k => walkRound("le", if (k == 1) "c0" else s"c${k - 1}", s"c$k", HierBeam))
      .mkString(",\n")
    val fine = (1 to GraphAnnHops)
      .map(k => walkRound("e", if (k == 1) "v0" else s"v${k - 1}", s"v$k", GraphAnnBeam))
      .mkString(",\n")
    s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings WHERE vec_id < 16),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |asg AS MATERIALIZED (
       |  SELECT e.vec_id, e.label, e.embedding, c.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                       ORDER BY ${cos("e.embedding", "c.ce")} DESC, c.cent_id) AS rn
       |  FROM embeddings e, cent c),
       |a1 AS (SELECT vec_id, label, embedding, cent_id FROM asg WHERE rn = 1),
       |a2 AS (SELECT vec_id, embedding, cent_id FROM asg WHERE rn <= 2),
       |e AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT qa.vec_id AS src, ia.vec_id AS dst,
       |      ROW_NUMBER() OVER (PARTITION BY qa.vec_id
       |                         ORDER BY ROUND(${cos("ia.embedding", "qa.embedding")}, 6) DESC, ia.vec_id) AS rank
       |    FROM a1 ia JOIN a2 qa ON ia.cent_id = qa.cent_id AND ia.vec_id <> qa.vec_id)
       |  WHERE rank <= $GraphAnnDegree),
       |le AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT qa.vec_id AS src, ia.vec_id AS dst,
       |      ROW_NUMBER() OVER (PARTITION BY qa.vec_id
       |                         ORDER BY ROUND(${cos("ia.embedding", "qa.embedding")}, 6) DESC, ia.vec_id) AS rank
       |    FROM a1 ia JOIN a2 qa ON ia.cent_id = qa.cent_id AND ia.vec_id <> qa.vec_id
       |    WHERE ia.vec_id % $HierLayerMod = 0 AND qa.vec_id % $HierLayerMod = 0)
       |  WHERE rank <= $HierDegree),
       |c0 AS MATERIALIZED (
       |  SELECT b.vec_id, b.label, ROUND(${cos("b.embedding", "q.qe")}, 6) AS score
       |  FROM embeddings b, q WHERE b.vec_id % $HierTopMod = 0 AND b.vec_id <> 0
       |  ORDER BY score DESC, vec_id LIMIT $HierBeam),
       |$coarse,
       |v0 AS MATERIALIZED (SELECT * FROM c$HierHops
       |  ORDER BY score DESC, vec_id LIMIT $GraphAnnBeam),
       |$fine
       |SELECT vec_id, label, score FROM v$GraphAnnHops
       |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
  }

  /** ONE builder for the walk-replay oracle — the filtered variant
    * differs by a single final-collection predicate over the SAME
    * hop-by-hop expansion, so both gates always replay identical walk
    * semantics (the ivfOracleSql builder discipline). */
  private def graphAnnSqlWith(finalPredicate: String): String = {
    import VectorSql.{cosine => cos}
    def round_(prev: String, k: Int): String =
      s"""f$k AS (SELECT vec_id FROM $prev ORDER BY score DESC, vec_id LIMIT $GraphAnnBeam),
         |n$k AS (SELECT DISTINCT e.dst FROM e JOIN f$k ON e.src = f$k.vec_id
         |        WHERE e.dst <> 0 AND e.dst NOT IN (SELECT vec_id FROM $prev)),
         |v$k AS (SELECT * FROM $prev UNION ALL
         |        SELECT b2.vec_id, b2.label, ROUND(${cos("b2.embedding", "q.qe")}, 6) AS score
         |        FROM embeddings b2, q WHERE b2.vec_id IN (SELECT dst FROM n$k))""".stripMargin
    s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings WHERE vec_id < 16),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |asg AS (SELECT e.vec_id, e.label, e.embedding, c.cent_id,
       |          ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                             ORDER BY ${cos("e.embedding", "c.ce")} DESC, c.cent_id) AS rn
       |        FROM embeddings e, cent c),
       |a1 AS (SELECT vec_id, label, embedding, cent_id FROM asg WHERE rn = 1),
       |a2 AS (SELECT vec_id, embedding, cent_id FROM asg WHERE rn <= 2),
       |gsc AS (SELECT qa.vec_id AS src, ia.vec_id AS dst,
       |          ROUND(${cos("ia.embedding", "qa.embedding")}, 6) AS score
       |        FROM a1 ia JOIN a2 qa ON ia.cent_id = qa.cent_id AND ia.vec_id <> qa.vec_id),
       |grk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src
       |                                     ORDER BY score DESC, dst) AS rank
       |        FROM gsc),
       |e AS (SELECT src, dst FROM grk WHERE rank <= $GraphAnnDegree),
       |pr AS (SELECT cent_id FROM cent, q
       |       ORDER BY ${cos("cent.ce", "q.qe")} DESC, cent_id LIMIT $GraphAnnSeedProbes),
       |v0 AS (SELECT a.vec_id, a.label, ROUND(${cos("a.embedding", "q.qe")}, 6) AS score
       |       FROM a1 a JOIN pr USING (cent_id) CROSS JOIN q
       |       WHERE a.vec_id <> 0
       |       ORDER BY score DESC, vec_id LIMIT $GraphAnnBeam),
       |${(1 to GraphAnnHops).map(k => round_(s"v${k - 1}", k)).mkString(",\n")}
       |SELECT vec_id, label, score FROM v$GraphAnnHops$finalPredicate
       |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
  }

  val graphAnnSql: String = graphAnnSqlWith("")

  /** The identical walk replay, results restricted to the filter label. */
  val graphAnnFilteredSql: String =
    graphAnnSqlWith(s" WHERE label = $GraphAnnFilterLabel")

  /** Fixed label-propagation round count — constant so the oracle can
    * unroll the rounds as chained CTEs (the [[PagerankIters]] rule). */
  val LabelPropIters = 3

  /** Q-communities: LABEL-PROPAGATION COMMUNITY DETECTION (Raghavan 2007)
    * over the thresholded co-purchase graph — the coarse content-community
    * map (which item/topic cluster does this belong to?) that corpus
    * curation uses for mixing and dedup scoping, where PageRank gives
    * importance and connected components give only reachability.
    *
    * Synchronous rounds, made DETERMINISTIC (the published algorithm is
    * tie-unstable): every node starts as its own label; each round every
    * node adopts the most frequent label among its neighbors, ties to the
    * LOWEST label. The argmax is the min-struct aggregation
    * ([[IvfIndex.assign]]'s discipline: `min(struct(-count, label))`
    * partial-aggregates map-side — no window, no per-node row sort), and
    * every quantity is integer — the whole run is exact, so the oracle
    * unrolls the identical rounds with ROW_NUMBER tie-breaks.
    *
    * Scale shape per round: join edges against the node-sized label
    * vector (broadcast-hinted here, same degrade-to-shuffle note as
    * [[pagerank]]), then one grouped aggregation keyed by node — the edge
    * list moves through one shuffle per round, O(rounds · |E|) total.
    * Output is the community census (size, representative), #communities
    * rows. */
  def communities(spark: SparkSession, dir: String): DataFrame = {
    val und = copurchasePairs(baskets(spark, dir))
      .filter(col("n_orders") >= TriangleMinSupport)
      .select(col("pa"), col("pb"))
    val edges = und.select(col("pa").as("u"), col("pb").as("v"))
      .unionByName(und.select(col("pb").as("u"), col("pa").as("v")))
      .localCheckpoint(true)
    var lab = edges.select(col("u")).distinct().select(col("u"), col("u").as("lbl"))
    for (_ <- 1 to LabelPropIters) {
      lab = edges
        .join(broadcast(lab.select(col("u").as("v"), col("lbl"))), Seq("v"))
        .groupBy(col("u"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("u"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl"))).as("best"))
        .select(col("u"), col("best.lbl").as("lbl"))
    }
    lab.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"), min(col("u")).as("rep"))
      .orderBy(col("n_members").desc, col("community"))
  }

  val communitiesSql: String = {
    def round_(i: Int): String =
      s"""s$i AS (SELECT e.u, l.lbl, COUNT(*) AS c
         |  FROM e JOIN l${i - 1} l ON l.u = e.v GROUP BY e.u, l.lbl),
         |l$i AS (SELECT u, lbl FROM (
         |    SELECT u, lbl, ROW_NUMBER() OVER (PARTITION BY u
         |                                      ORDER BY c DESC, lbl) AS rn
         |    FROM s$i) WHERE rn = 1)""".stripMargin
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e0 AS (SELECT a.pk AS u, b.pk AS v FROM li a JOIN li b
       |       ON a.ok = b.ok AND a.pk < b.pk
       |       GROUP BY 1, 2 HAVING COUNT(*) >= $TriangleMinSupport),
       |e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
       |l0 AS (SELECT DISTINCT u, u AS lbl FROM e),
       |${round_(1)},
       |${round_(2)},
       |${round_(3)}
       |SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members, MIN(u) AS rep
       |FROM l3 GROUP BY lbl ORDER BY n_members DESC, community""".stripMargin
  }

  /** The SHARED persisted serving-graph store under the per-SF cache —
    * the artifact the CDC/upsert/delete lifecycles maintain, published
    * once so the fleet audit (q_index_audit) covers a real graph the way
    * it covers the inverted/minhash/vector artifacts. Layout: `edges/
    * sbucket=<b>/` (src's IVF storage bucket — the vector index's own
    * partition key), `redges/dbucket=<b>/` (the reverse sidecar), and
    * the flat `members` id list. Marker written LAST; a marker-less
    * residue (killed build) self-heals by wipe+rebuild. */
  private[graft] def ensureGraphStore(spark: SparkSession, dir: String)
      : java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get(
      graft.sources.IndexCatalog.cacheBase(dir), "graph-ann")
    val marker = root.resolve("_graph_index.json")
    if (!Files.exists(marker)) {
      if (Files.exists(root)) graft.sources.Maintenance.deleteRecursively(root)
      Files.createDirectories(root)
      val asgAll = ivfTop2Assignments(spark, dir).localCheckpoint(eager = true)
      initGraphStore(root, asgAll, lit(true))
      writeReverseEdges(root,
        spark.read.parquet(root.resolve("edges").toString), asgAll)
      Files.writeString(marker,
        s"""{"name": "graph-ann", "kind": "graph", "degree": $GraphAnnDegree}""")
    }
    root
  }

  /** Resolved-once graph-ANN SERVING state — the resident pieces a
    * serving tier holds next to the published store (the ServeBench
    * cached-codebook discipline): the persisted edge frame pinned as id
    * pairs, the normed corpus, the storage assignments for seed scans,
    * and the centroid codebook. Resolved before the clock starts; every
    * request then moves only beam-sized frontiers. */
  private[graft] case class GraphServeState(edges: DataFrame, emb: DataFrame,
                                            a1: DataFrame, cent: DataFrame)

  private[graft] def graphServeState(spark: SparkSession, dir: String)
      : GraphServeState = {
    val root = ensureGraphStore(spark, dir)
    val edges = spark.read.parquet(root.resolve("edges").toString)
      .select(col("src"), col("dst")).localCheckpoint(eager = true)
    val asg = ivfTop2Assignments(spark, dir).localCheckpoint(eager = true)
    GraphServeState(
      edges,
      KnnSearch.withNorm(Tables.embeddings(spark, dir))
        .localCheckpoint(eager = true),
      asg.filter(col("rn") === 1).localCheckpoint(eager = true),
      VectorOps.seedCentroids(spark, dir).localCheckpoint(eager = true))
  }

  /** One graph-ANN request against resolved serving state: probe the
    * query's seed buckets, walk the RESIDENT edge frame ([[beamWalk]] —
    * the same hop loop the declared q_graph_ann runs), top-10 of the
    * visited set. This is the multi-job serve shape most likely to
    * convoy under shared-session concurrency — exactly what ServeBench's
    * graphann family measures. */
  private[graft] def graphAnnServeRequest(spark: SparkSession,
                                          state: GraphServeState,
                                          qid: Long, qv: Array[Float],
                                          beam: Int = GraphAnnBeam,
                                          hops: Int = GraphAnnHops,
                                          seedProbes: Int = GraphAnnSeedProbes)
      : DataFrame = {
    import spark.implicits._
    val q = broadcast(KnnSearch.withNorm(
      Seq((qid, qv)).toDF("q_id", "q_embedding"), "q_embedding")
      .withColumnRenamed("vec_norm", "q_norm"))
    def score(rows: DataFrame): DataFrame =
      rows.crossJoin(q)
        .withColumn("score", KnnSearch.prenormedScore)
        .select(col("vec_id"), col("label"), col("score"))
    val probe = IvfIndex.probes(state.cent, q, nprobe = seedProbes)
    val visited0 = score(
      state.a1.join(broadcast(probe), "cent_id")
        .filter(col("vec_id") =!= qid))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(beam)
    beamWalk(state.edges, state.emb, visited0, beam, hops, score,
      excludeId = qid)
      .orderBy(col("score").desc, col("vec_id")).limit(10)
  }

  /** PHYSICAL-LAYER self-audit of a serving-graph store — the fleet
    * audit's graph rows (the r14 verdict's §2.15 gap):
    *  - redges_mirror_edges: the reverse sidecar holds EXACTLY the
    *    (dst, src) transposition of the edge store (redges are a pure
    *    function of edges — drift means a maintenance trigger rewrote
    *    one side's touched buckets and not the other's);
    *  - edge_endpoints_live: every edge endpoint is a live row of the
    *    PRIMARY vector index the graph serves for (`vecIds`) — a dead
    *    endpoint is the delete-half-applied shape (node left the index,
    *    its edges or in-edges survived). */
  private[graft] def auditGraphFrame(spark: SparkSession,
                                     root: java.nio.file.Path,
                                     vecIds: DataFrame): DataFrame = {
    def row(inv: String, violations: org.apache.spark.sql.Column,
            from: DataFrame): DataFrame =
      from.agg(coalesce(violations, lit(0L)).as("violations"))
        .select(lit("graph").as("artifact"), lit(inv).as("invariant"),
          col("violations"))
    val edges = spark.read.parquet(root.resolve("edges").toString)
      .select(col("src"), col("dst"))
    val redges = spark.read.parquet(root.resolve("redges").toString)
      .select(col("src"), col("dst"))
    val mirrorCmp = edges.withColumn("e", lit(1))
      .join(redges.withColumn("r", lit(1)), Seq("src", "dst"), "full_outer")
    val g1 = row("redges_mirror_edges",
      sum(when(col("e").isNull || col("r").isNull, 1L).otherwise(0L)), mirrorCmp)
    val endpoints = edges.select(col("src").as("vec_id"))
      .unionByName(edges.select(col("dst").as("vec_id"))).distinct()
    val g2 = row("edge_endpoints_live", count(lit(1)),
      endpoints.join(vecIds.select(col("vec_id")), Seq("vec_id"), "left_anti"))
    g1.unionByName(g2)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_affinity" -> (affinity _),
    "q_triangles" -> (triangles _),
    "q_communities" -> (communities _),
    "q_pagerank" -> (pagerank _),
    "q_pagerank_directed" -> (pagerankDirected _),
    "q_knn_graph" -> (knnGraph _),
    "q_knn_graph_incr" -> (knnGraphIncr _),
    "q_knn_graph_clusters" -> (knnGraphClusters _),
    "q_graph_ann" -> ((s: SparkSession, d: String) => graphAnn(s, d)),
    "q_graph_ann_filtered" -> (graphAnnFiltered _),
    "q_graph_ann_hier" -> ((s: SparkSession, d: String) => graphAnnHier(s, d)),
    "q_graph_ann_batch" -> ((s: SparkSession, d: String) => graphAnnBatch(s, d)),
    "q_graph_ann_upsert" -> (graphAnnUpsert _),
    "q_graph_ann_delete" -> (graphAnnDelete _),
    "q_stream_graph_cdc" -> (streamGraphCdc _))

  def oracles: Map[String, String] = Map(
    "q_affinity" -> affinitySql,
    "q_triangles" -> trianglesSql,
    "q_communities" -> communitiesSql,
    "q_pagerank" -> pagerankSql,
    "q_pagerank_directed" -> pagerankDirectedSql,
    "q_knn_graph" -> knnGraphSql,
    // the incremental fold must land on the FULL rebuild's exact rows
    "q_knn_graph_incr" -> knnGraphSql,
    "q_knn_graph_clusters" -> knnGraphClustersSql,
    "q_graph_ann" -> graphAnnSql,
    // the same walk replay, one more final-collection predicate
    "q_graph_ann_filtered" -> graphAnnFilteredSql,
    "q_graph_ann_hier" -> graphAnnHierSql,
    "q_graph_ann_batch" -> graphAnnBatchSql,
    "q_graph_ann_upsert" -> graphAnnUpsertSql,
    "q_graph_ann_delete" -> graphAnnDeleteSql,
    // end state = full corpus minus the deleted residue (the upsert batch
    // arrived in trigger 1) — the same reduced-corpus edge replay
    "q_stream_graph_cdc" -> graphAnnDeleteSql)
}
