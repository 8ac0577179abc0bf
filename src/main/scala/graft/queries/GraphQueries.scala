package graft.queries

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Fence, Tables}
import graft.operators.Iterate

/** Graph analytics over the order graph — the iterative-computation family
  * next to connected components (operators/Components) and k-means
  * (operators/KMeans): PageRank as the canonical "joins in a loop" workload
  * plus the degree profile that sizes it.
  *
  * The graph is the bipartite customer↔supplier relation mined from
  * orders ⋈ lineitem (who bought from whom), made symmetric so every node
  * has out-degree ≥ 1 (no dangling-mass special case). Node ids are
  * namespaced arithmetically — customers on even longs (custkey·2),
  * suppliers on odd (suppkey·2+1) — so "kind" is a parity check, not a
  * string column riding through every shuffle.
  *
  * All rank arithmetic is INTEGER: initial mass 1 000 000 per node, each
  * round every node ships floor(mass·85 / (100·deg)) along each out-edge
  * and restarts with 150 000 (the 0.85/0.15 damping as exact integer
  * parts). Floor-division leaks a few units of mass per hop — a documented,
  * deterministic bias that buys BIT-EXACT replay on any engine (DuckDB's
  * `//` is the same floor), the same discipline as KMeans' integer-sum
  * centroids and the PSI monitor's cross-multiplied flags.
  */
object GraphQueries {

  private type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    "graph_pagerank" -> graphPagerank,
    "graph_pagerank_salted" -> graphPagerankSalted,
    "graph_degree_dist" -> graphDegreeDist,
    "graph_triangles" -> graphTriangles,
    "graph_khop" -> graphKhop,
    "graph_pagerank_delta" -> graphPagerankDelta
  )

  /** PageRank CONVERGENCE monitor — per round, the total mass movement
    * Σ|massᵣ − massᵣ₋₁| and how many nodes moved: the signal that tells a
    * long-running rank loop when another iteration stops paying (the same
    * role the fused observe() probe plays for connected components).
    * Each delta is one co-partitioned full-outer join of consecutive
    * mass tables (missing side = restart-only mass 150 000, matching the
    * loop's semantics for nodes with no inbound share yet); integers end
    * to end, so the curve replays exactly through the unrolled CTEs. */
  private val graphPagerankDelta: Q = (s, dir) => {
    import s.implicits._
    val masses = rankMasses(s, dir)
    (1 until masses.size).map { r =>
      masses(r - 1).select($"node", $"mass".as("m_prev"))
        .join(masses(r).select($"node", $"mass".as("m_cur")), Seq("node"), "full_outer")
        .select(abs(coalesce($"m_cur", lit(150000L))
          - coalesce($"m_prev", lit(150000L))).as("d"))
        .agg(lit(r).as("round"), sum($"d").as("sum_abs_delta"),
          sum(when($"d" > 0, 1L).otherwise(0L)).as("n_moved"))
    }.reduce(_ unionByName _).orderBy($"round")
  }

  /** 3-hop BFS reach profile from a deterministic seed (the lowest
    * supplier node): how many nodes first become reachable at each hop —
    * the blast-radius / influence-propagation primitive. Frontier
    * expansion is the scale-correct BFS on Spark: each hop is ONE
    * edge-join of the CURRENT frontier (never the visited set) followed
    * by an anti-join against visited, so per-hop work is O(frontier ·
    * avg-degree) regardless of graph size; [[Iterate.rounds]] cuts the
    * lineage per hop. The oracle unrolls the three hops as EXCEPT-chained
    * CTEs. */
  private val graphKhop: Q = (s, dir) => {
    import s.implicits._
    val e = edges(s, dir).persist()
    val seed = e.filter($"a" % 2 === 1).agg(min($"a")).head().getLong(0)
    val frontiers = Iterate.rounds(Seq(seed).toDF("node"), 3)(khopHopPlan(e, _))
    val counts = 1L +: frontiers.tail.map(_.count()) // hop 0 is the seed
    e.unpersist()
    frontiers.indices.zip(counts).toDF("hop", "n_nodes").orderBy($"hop")
  }

  /** One BFS hop before the lineage cut: expand the last frontier along
    * `e`, drop nodes in any earlier frontier. Visited is the union of the
    * checkpointed frontiers — plan depth O(hops), no eager job of its own.
    * Exposed so PlanAssertionsSpec can pin the hop's join shape. */
  private[graft] def khopHopPlan(e: DataFrame, frontiers: Seq[DataFrame]): DataFrame = {
    import e.sparkSession.implicits._
    e.join(frontiers.last, $"a" === $"node")
      .select($"b".as("node")).distinct()
      .join(frontiers.reduce(_ unionByName _), Seq("node"), "left_anti")
  }

  /** The symmetric customer↔supplier edge list. Distinct collapses the
    * lineitem fan-in (a customer ordering 40 lines from one supplier is ONE
    * edge), so the edge table is bounded by |cust|·|supp| overlap, far
    * below the fact table it derives from.
    *
    * The directed half is `localCheckpoint`ed BEFORE the symmetric union
    * (r17, guide §2.4): Catalyst does no common-subexpression elimination
    * across union branches, so the un-checkpointed form computed the
    * orders⋈lineitem join + distinct once PER BRANCH — `Probe stages` measured
    * the 12 MB parquet join re-running 3× inside one pagerank pass (two
    * union branches + a cache-population race on the persisted union).
    * After the checkpoint the union is a narrow re-read of the
    * materialized half; every consumer (4 keys) inherits the fix. */
  private[graft] def edges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e0 = Tables(s, dir, "orders")
      .join(Tables(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("a"), ($"l_suppkey" * 2 + 1).as("b"))
      .distinct()
      .localCheckpoint()
    e0.union(e0.select($"b".as("a"), $"a".as("b")))
  }

  /** Node-count gate for the rank loops' node-grain broadcasts (VERDICT
    * r17 #1): the degree and per-round mass tables are NODE grain — they
    * grow linearly with the graph, so an unconditional `broadcast()` hint
    * is a driver/executor OOM at the 100 TB brief (billions of nodes)
    * that the planner can no longer avoid. Below the gate the hint is a
    * measured win (the r17 driver verified 2.5–3× on the graph keys);
    * above it the join is left unhinted so the planner/AQE picks a
    * scale-safe shuffle join. Budget: [[graft.Fence.RankBroadcastNodes]]. */
  private[graft] def rankBroadcastGate(s: SparkSession, nodes: Long): Boolean =
    Fence.admits(nodes, Fence.RankBroadcastNodes.read(s))

  /** Node count, degree sum and maximum degree of a degree table. */
  private[graft] final case class DegreeStats(nodes: Long, edges: Long, maxDeg: Long)

  /** The checkpointed (a, deg) out-degree table of an edge list, with its
    * [[DegreeStats]] observed while the checkpoint runs (the fused-probe
    * pattern of [[graft.operators.Components]]) instead of by a separate
    * aggregate job over the table. An empty edge list reads as all zeros. */
  private[graft] def degrees(e: DataFrame): (DataFrame, DegreeStats) = {
    val obs = Observation()
    val deg = e.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .observe(obs, count(lit(1)).as("nodes"),
        coalesce(sum(col("deg")), lit(0L)).as("edges"),
        coalesce(max(col("deg")), lit(0L)).as("max_deg"))
      .localCheckpoint()
    val m = obs.get
    (deg, DegreeStats(m("nodes").asInstanceOf[Long], m("edges").asInstanceOf[Long],
      m("max_deg").asInstanceOf[Long]))
  }

  /** One-time inputs for the rank loops: the symmetric edge list with the
    * SOURCE's out-degree attached at edge grain, plus the node-grain
    * degree table, both checkpointed. With `deg` riding every edge, a
    * rank round is ONE broadcast join (edges ⋈ mass on `a`) + one hash
    * aggregate — the old shape paid a second node-grain mass ⋈ deg join
    * per round AND recomputed the degree aggregation over the full edge
    * list each round because `deg` was never materialized (guide §2.4:
    * two operations keyed the same way share one exchange; here the
    * shared work is hoisted out of the loop entirely). The per-edge
    * share floor((mass·85)/(100·deg)) is byte-identical to the old
    * per-node-then-ship form — same integers, and the DuckDB oracle
    * already computes it per edge. Also returns the [[rankBroadcastGate]]
    * verdict for this graph's node count ([[degrees]]' observed count) so
    * every round's mass join applies the same gate. */
  private def edgesWithDeg(s: SparkSession, dir: String): (DataFrame, DataFrame, Boolean) = {
    val e = edges(s, dir)
    val (deg, stats) = degrees(e)
    val bcast = rankBroadcastGate(s, stats.nodes)
    val ewd = e.join(if (bcast) broadcast(deg) else deg, "a").localCheckpoint()
    (ewd, deg.withColumnRenamed("a", "node"), bcast)
  }

  /** One integer-PageRank round over [[edgesWithDeg]]'s edge table, before
    * the lineage cut: join the (node, mass) table onto the edge grain
    * (broadcast only under [[rankBroadcastGate]]), ship each edge's floor
    * share, sum per receiver, add the restart mass. Exposed so
    * GraphQueriesSpec can pin the join shape on the pre-checkpoint plan
    * (broadcast below the gate, exchange above). */
  private[graft] def rankRoundPlan(ewd: DataFrame, mass: DataFrame,
      bcast: Boolean): DataFrame = {
    import ewd.sparkSession.implicits._
    val m = mass.select($"node".as("a"), $"mass")
    ewd.join(if (bcast) broadcast(m) else m, "a")
      .select($"b", expr("(mass * 85) div (100 * deg)").as("c"))
      .groupBy($"b".as("node"))
      .agg((lit(150000L) + sum($"c")).as("mass"))
  }

  /** The integer-PageRank mass tables m0..m3 (the oracle's CTE names):
    * m0 is the uniform 1 000 000 per node, each later one a
    * [[rankRoundPlan]] round. */
  private def rankMasses(s: SparkSession, dir: String): IndexedSeq[DataFrame] = {
    import s.implicits._
    val (ewd, deg, bcast) = edgesWithDeg(s, dir)
    Iterate.rounds(deg.select($"node", lit(1000000L).as("mass")), 3)(
      states => rankRoundPlan(ewd, states.last, bcast))
  }

  /** The top-10 nodes by mass (deterministic boundary: mass desc, node
    * asc), tagged by kind — the output of all three pagerank keys. */
  private def topRanked(mass: DataFrame): DataFrame = {
    import mass.sparkSession.implicits._
    mass
      .select(when($"node" % 2 === 0, "cust").otherwise("supp").as("kind"),
        $"node", $"mass")
      .orderBy($"mass".desc, $"node")
      .limit(10)
  }

  /** 3-round integer PageRank; output the top-10 nodes by final mass.
    *
    * Per round: one edge-grain join (edges-with-degree ⋈ mass → per-edge
    * share) and one hash aggregate on the receiving node. The edge list
    * is checkpointed once — on a cluster it would be pre-partitioned by
    * src so every round's edge-side shuffle is free. The oracle replays
    * all three rounds as unrolled CTEs with the identical floor
    * arithmetic. */
  private val graphPagerank: Q = (s, dir) => topRanked(rankMasses(s, dir).last)

  /** Salt fan-out for hub edges in [[graphPagerankSalted]]. */
  private val HubSalts = 8

  /** Skew-safe PageRank (VERDICT r10 #4) — BIT-IDENTICAL ranks to
    * [[graphPagerank]] (the oracle is the same unrolled-CTE replay), with
    * the one skew-exposed operation in the loop — the edge-grain join on
    * source node `a` — salted for hub nodes behind a MEASURED trigger.
    *
    * Where the skew actually lives: the receiving-side `groupBy(b)` is
    * already safe (integer SUM combines map-side, so a hot destination
    * contributes ≤ one partial row per map partition to the reduce), and
    * the mass ⋈ degree join is node-grain with unique keys. What a
    * power-law graph serializes is `edges ⋈ share ON a`: every edge of a
    * hot source lands on ONE reducer. [[graft.operators.SaltedJoin]]
    * shards exactly that — hub edges get a per-row salt, hub share rows
    * (a handful, by the trigger) replicate ×[[HubSalts]] — while the
    * cold slice joins unsalted, so the dim-replication tax is paid only
    * on rows that need it.
    *
    * The trigger measures what salting actually fixes: a key is hot only
    * when its edge rows exceed a REDUCER'S share, so hubs are nodes with
    * deg > 2·|e|/P (P = shuffle partitions — the same bucket·P > 2·total
    * convention qa_key_skew flags). An average-degree trigger is the
    * wrong probe: this round MEASURED a Zipf-supplier graph where the
    * hub is 2300× the average degree yet still under 1/64 of the edges
    * (degree is capped by the opposite side's cardinality, and the
    * 40-lines-per-customer fan-out keeps every key below capacity).
    *
    * MEASURED VERDICT (r11, planted extreme hub — half of all edges on
    * one supplier — at hub0.1/hub1/hub10, under default conf, AQE
    * skew-join off, and broadcast off): the salted loop NEVER beat the
    * plain one locally (≈2× slower throughout, e.g. 10.3 s vs 21.6 s at
    * hub10 no-broadcast). The plain step is already skew-immune here —
    * the node-grain share side broadcasts below the 8 MB threshold, the
    * receive-side SUM combines map-side, and past broadcast scale AQE
    * splits the skewed join partition — so the twin-join + salt-column
    * overhead buys nothing under a re-plannable shuffle.
    *
    * PAYOFF DEMONSTRATED (r12, bench/BENCH_hubbucket_r12_01.json and
    * PERF.md "Round 12: salted PageRank"): in the regime this mechanism is
    * FOR — edges pre-BUCKETED by source (so the per-round join is
    * zero-Exchange on the edge side and AQE's OptimizeSkewedJoin has no
    * shuffle to split), rank side past the broadcast threshold — the
    * salted layout (cold edges bucketed by `a`, hub edges bucketed by
    * (`a`, baked salt)) wins once the hub meaningfully exceeds a
    * reducer's share, and its wall stays FLAT as the hub grows while the
    * plain loop scales with the straggler: parity at 3.6× a reducer
    * share (the distinct-edge collapse caps the natural hub corpus
    * there), 1.42× ahead at 10.8×, 2.22× at 16.2× — bit-identical ranks,
    * both layouts plan-asserted exchange-free on every edge side. The
    * capacity trigger here (>2× a reducer share) is therefore
    * conservative-correct: below it salting loses the twin-join
    * constant, past crossover the win grows with hub share unboundedly.
    * Which nodes get salted cannot change the output either way — the
    * union feeds the same commutative integer aggregate. */
  private val graphPagerankSalted: Q = (s, dir) => {
    import s.implicits._
    // edges() is checkpointed at the directed half (r17) — the symmetric
    // union recomputes narrowly from that, so no persist needed here; deg
    // is checkpointed once instead of re-aggregating the edge list in
    // every round's share join (the twin keeps the node-grain share ⋈ deg
    // round shape because SaltedJoin replicates the node-grain share into
    // salt shards — that shape IS the operator under demonstration).
    val e = edges(s, dir)
    val (deg, DegreeStats(_, m, maxd)) = degrees(e)
    val parts = s.conf.get("spark.sql.shuffle.partitions").toLong
    val threshold = graft.operators.SaltedJoin.capacityThreshold(m, parts)
    val useSalt = maxd > threshold
    val hubs = deg.filter($"deg" > threshold).select($"a")
    val (eHot, eCold) =
      if (useSalt)
        (e.join(broadcast(hubs), Seq("a")).persist(),
          e.join(broadcast(hubs), Seq("a"), "left_anti").persist())
      else (null, e)
    val m0 = deg.select($"a".as("node"), lit(1000000L).as("mass"))
    val masses = Iterate.rounds(m0, 3) { states =>
      val share = states.last.join(deg.withColumnRenamed("a", "node"), "node")
        .select($"node".as("a"), expr("(mass * 85) div (100 * deg)").as("c"))
      val contrib =
        if (useSalt)
          eCold.join(share, "a").select($"b", $"c").unionByName(
            graft.operators.SaltedJoin.join(
              eHot, share.join(broadcast(hubs), "a"), Seq("a"), HubSalts)
              .select($"b", $"c"))
        else e.join(share, "a").select($"b", $"c")
      contrib
        .groupBy($"b".as("node"))
        .agg((lit(150000L) + sum($"c")).as("mass"))
    }
    if (useSalt) { eHot.unpersist(); eCold.unpersist() }
    topRanked(masses.last)
  }

  /** Degree histogram of the same graph, split by node kind — the profile
    * that tells you whether a rank/propagation loop needs skew handling
    * (a power-law tail here means salting the hot suppliers). Two hash
    * aggregates; output is O(distinct degrees). */
  private val graphDegreeDist: Q = (s, dir) => {
    import s.implicits._
    edges(s, dir)
      .groupBy($"a").agg(count(lit(1)).as("deg"))
      .select(when($"a" % 2 === 0, "cust").otherwise("supp").as("kind"), $"deg")
      .groupBy($"kind", $"deg")
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy($"kind", $"deg")
  }

  /** Per-node triangle participation in the VERIFIED near-dup pair graph
    * (the minhash-banded, Jaccard-verified edges the dedup family already
    * mines) — the clustering-coefficient signal that tells a dedup
    * pipeline whether its duplicate groups are cliques (true near-dup
    * clusters) or chains (threshold-straddling transitive bridges, the
    * case where component-grain dedup over-merges).
    *
    * Algorithm is the canonical skew-safe one: ORIENT each undirected
    * edge from its lower-(degree, id) endpoint to the higher, so every
    * node's out-degree is O(√m) regardless of how hot a hub is; wedges
    * (two out-edges of one node) then closing-edge lookups are two
    * bounded self-joins instead of the naive deg² explosion on hubs.
    * Edges come from the banded candidate generator (linear in docs by
    * the LSH bound), so the whole key rides the dedup family's scale
    * envelope. Every triangle (u,v,w) credits all three corners. */
  private val graphTriangles: Q = (s, dir) => {
    import s.implicits._
    val e0 = SimilarityQueries.minhashVerifiedPairs(s, dir)
      .select($"doc_a".as("a"), $"doc_b".as("b"))
      .localCheckpoint() // pair generation runs ONCE; three downstream uses
    val deg = e0.select($"a".as("n")).union(e0.select($"b".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("deg"))
    val oriented = e0
      .join(deg.select($"n".as("a"), $"deg".as("dega")), "a")
      .join(deg.select($"n".as("b"), $"deg".as("degb")), "b")
      .select(
        when($"dega" < $"degb" || ($"dega" === $"degb" && $"a" < $"b"), $"a")
          .otherwise($"b").as("src"),
        when($"dega" < $"degb" || ($"dega" === $"degb" && $"a" < $"b"), $"b")
          .otherwise($"a").as("dst"))
    val wedges = oriented.as("o1")
      .join(oriented.as("o2"),
        col("o1.src") === col("o2.src") && col("o1.dst") < col("o2.dst"))
      .select(col("o1.src").as("u"), col("o1.dst").as("v"), col("o2.dst").as("w"))
    // closing edge: e0 is stored a < b and v < w by construction
    val tri = wedges.join(e0, $"v" === $"a" && $"w" === $"b")
      .select($"u", $"v", $"w")
    tri.select(explode(array($"u", $"v", $"w")).as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_triangles"))
      .orderBy($"doc_id")
  }

  private val EdgeCte: String =
    """e0 AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |e AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0)""".stripMargin

  /** Shared by graph_pagerank and graph_pagerank_salted — salting is a
    * physical-plan change only, so both keys grade against the identical
    * unrolled replay. */
  private val PagerankSql: String =
    s"""WITH $EdgeCte,
       |d AS (SELECT a, COUNT(*) AS deg FROM e GROUP BY a),
       |m0 AS (SELECT a AS node, CAST(1000000 AS BIGINT) AS mass FROM d),
       |m1 AS (SELECT e.b AS node,
       |   CAST(150000 + SUM((m0.mass * 85) // (100 * d.deg)) AS BIGINT) AS mass
       |  FROM e JOIN m0 ON e.a = m0.node JOIN d ON e.a = d.a GROUP BY e.b),
       |m2 AS (SELECT e.b AS node,
       |   CAST(150000 + SUM((m1.mass * 85) // (100 * d.deg)) AS BIGINT) AS mass
       |  FROM e JOIN m1 ON e.a = m1.node JOIN d ON e.a = d.a GROUP BY e.b),
       |m3 AS (SELECT e.b AS node,
       |   CAST(150000 + SUM((m2.mass * 85) // (100 * d.deg)) AS BIGINT) AS mass
       |  FROM e JOIN m2 ON e.a = m2.node JOIN d ON e.a = d.a GROUP BY e.b)
       |SELECT CASE WHEN node % 2 = 0 THEN 'cust' ELSE 'supp' END AS kind,
       | node, mass
       |FROM m3 ORDER BY mass DESC, node LIMIT 10""".stripMargin

  def oracle: Map[String, String] = Map(
    "graph_pagerank" -> PagerankSql,
    "graph_pagerank_salted" -> PagerankSql,

    "graph_triangles" ->
      s"""WITH ${SimilarityQueries.shinglesHashCte},
         |${SimilarityQueries.minhashCandCtes},
         |pairs AS (${SimilarityQueries.jaccardVerifySql}),
         |g0 AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
         |dg AS (SELECT n, COUNT(*) AS deg FROM
         |  (SELECT a AS n FROM g0 UNION ALL SELECT b FROM g0) GROUP BY n),
         |og AS (SELECT
         |   CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND g0.a < g0.b)
         |     THEN g0.a ELSE g0.b END AS src,
         |   CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND g0.a < g0.b)
         |     THEN g0.b ELSE g0.a END AS dst
         |  FROM g0 JOIN dg da ON g0.a = da.n JOIN dg db ON g0.b = db.n),
         |tri AS (SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
         |  FROM og o1 JOIN og o2 ON o1.src = o2.src AND o1.dst < o2.dst
         |  JOIN g0 ON g0.a = o1.dst AND g0.b = o2.dst),
         |roles AS (SELECT u AS doc_id FROM tri
         |  UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri)
         |SELECT doc_id, COUNT(*) AS n_triangles
         |FROM roles GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "graph_pagerank_delta" ->
      s"""WITH $EdgeCte,
         |d AS (SELECT a, COUNT(*) AS deg FROM e GROUP BY a),
         |m0 AS (SELECT a AS node, CAST(1000000 AS BIGINT) AS mass FROM d),
         |m1 AS (SELECT e.b AS node,
         |   CAST(150000 + SUM((m0.mass * 85) // (100 * d.deg)) AS BIGINT) AS mass
         |  FROM e JOIN m0 ON e.a = m0.node JOIN d ON e.a = d.a GROUP BY e.b),
         |m2 AS (SELECT e.b AS node,
         |   CAST(150000 + SUM((m1.mass * 85) // (100 * d.deg)) AS BIGINT) AS mass
         |  FROM e JOIN m1 ON e.a = m1.node JOIN d ON e.a = d.a GROUP BY e.b),
         |m3 AS (SELECT e.b AS node,
         |   CAST(150000 + SUM((m2.mass * 85) // (100 * d.deg)) AS BIGINT) AS mass
         |  FROM e JOIN m2 ON e.a = m2.node JOIN d ON e.a = d.a GROUP BY e.b),
         |dd AS (
         | SELECT 1 AS round, abs(COALESCE(m1.mass, 150000) - COALESCE(m0.mass, 150000)) AS dm
         |  FROM m0 FULL OUTER JOIN m1 USING (node)
         | UNION ALL
         | SELECT 2, abs(COALESCE(m2.mass, 150000) - COALESCE(m1.mass, 150000))
         |  FROM m1 FULL OUTER JOIN m2 USING (node)
         | UNION ALL
         | SELECT 3, abs(COALESCE(m3.mass, 150000) - COALESCE(m2.mass, 150000))
         |  FROM m2 FULL OUTER JOIN m3 USING (node))
         |SELECT round, CAST(SUM(dm) AS BIGINT) AS sum_abs_delta,
         | CAST(SUM(CASE WHEN dm > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
         |FROM dd GROUP BY round ORDER BY round""".stripMargin,

    "graph_khop" ->
      s"""WITH $EdgeCte,
         |seed AS (SELECT MIN(a) AS s FROM e WHERE a % 2 = 1),
         |d0 AS (SELECT s AS node FROM seed),
         |d1 AS (SELECT DISTINCT b AS node FROM e JOIN d0 ON e.a = d0.node
         |       EXCEPT SELECT node FROM d0),
         |d2 AS (SELECT DISTINCT b AS node FROM e JOIN d1 ON e.a = d1.node
         |       EXCEPT (SELECT node FROM d0 UNION SELECT node FROM d1)),
         |d3 AS (SELECT DISTINCT b AS node FROM e JOIN d2 ON e.a = d2.node
         |       EXCEPT (SELECT node FROM d0 UNION SELECT node FROM d1
         |               UNION SELECT node FROM d2))
         |SELECT 0 AS hop, COUNT(*) AS n_nodes FROM d0
         |UNION ALL SELECT 1, COUNT(*) FROM d1
         |UNION ALL SELECT 2, COUNT(*) FROM d2
         |UNION ALL SELECT 3, COUNT(*) FROM d3
         |ORDER BY hop""".stripMargin,

    "graph_degree_dist" ->
      s"""WITH $EdgeCte,
         |d AS (SELECT a, COUNT(*) AS deg FROM e GROUP BY a)
         |SELECT CASE WHEN a % 2 = 0 THEN 'cust' ELSE 'supp' END AS kind,
         | deg, COUNT(*) AS n_nodes
         |FROM d GROUP BY 1, 2 ORDER BY kind, deg""".stripMargin
  )
}
