package graft

import org.apache.spark.sql.functions._

import graft.queries.GraphQueries

/** Semantic checks for the graph pack beyond the oracle's value-equality:
  * PageRank's structural invariants (mass floor, parity namespacing,
  * rerun determinism) and the degree profile's conservation law. */
class GraphQueriesSpec extends SparkSpec {

  test("graph_pagerank: every node holds at least the restart mass") {
    val rows = GraphQueries.queries("graph_pagerank")(spark, sfDir).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getAs[Long]("mass") >= 150000L,
        s"node ${r.getAs[Long]("node")} below the integer restart floor")
      val kind = r.getAs[String]("kind")
      val node = r.getAs[Long]("node")
      assert(if (node % 2 == 0) kind == "cust" else kind == "supp",
        s"parity namespacing broken for node $node -> $kind")
    }
  }

  test("graph_pagerank is rerun-deterministic (integer arithmetic)") {
    val a = GraphQueries.queries("graph_pagerank")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val b = GraphQueries.queries("graph_pagerank")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(a == b, "two runs of the integer PageRank diverged")
  }

  test("graph_pagerank_salted: bit-identical to the unsalted loop, here and on a planted hub") {
    val plain = GraphQueries.queries("graph_pagerank")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val salted = GraphQueries.queries("graph_pagerank_salted")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(salted == plain, "salted ranks diverged on the uniform graph")
    // planted hub (ScaleGen hub mode: sparse graph, half of all lines to
    // supplier 0) — the graph where the capacity trigger actually fires
    // and the hub share rows really replicate. The trigger compares hub
    // degree against per-REDUCER capacity 2·|e|/P, so it is evaluated
    // under the production partition width (32), not the 4-core test
    // session's (where 4 fat reducers genuinely don't need salting and
    // the trigger correctly stays off).
    val dir = java.nio.file.Files.createTempDirectory("hubgraph").toString
    graft.sources.ScaleGen.generate(spark, dir, 0.003, seed = 7,
      vocabMode = "hub", only = Some(Set("orders", "lineitem")))
    val s32 = spark.newSession()
    s32.conf.set("spark.sql.shuffle.partitions", "32")
    val p2 = GraphQueries.queries("graph_pagerank")(s32, dir)
      .collect().map(_.toSeq).toSeq
    val s2 = GraphQueries.queries("graph_pagerank_salted")(s32, dir)
      .collect().map(_.toSeq).toSeq
    assert(s2 == p2, "salted ranks diverged on the planted-hub graph")
    // the hub must actually be hot enough to engage the CAPACITY trigger —
    // replicate the operator's own computation: degrees over the SYMMETRIC
    // edge list, hub deg > 2·|e|/P
    val e0 = Tables(spark, dir, "orders")
      .join(Tables(spark, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
    val deg = e0.select(col("a").as("n")).union(e0.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      .agg(max(col("deg")).as("maxd"), sum(col("deg")).as("m"))
      .head()
    assert(deg.getLong(0) > math.max(32L, 2L * deg.getLong(1) / 32L),
      "planted hub did not clear the salting trigger — test lost its point")
  }

  test("rank-round broadcast gate: broadcast below, exchange above a forced-low threshold") {
    // Isolated session with auto-broadcast OFF, so the ONLY way the mass
    // join can broadcast is GraphQueries' explicit hint — which the gate
    // must grant below the node budget and withhold above it (VERDICT r17
    // #1: node-grain broadcasts must not be unconditional at 100 TB).
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s.implicits._
    val ewd = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("a", "b", "deg")
    val mass = Seq((1L, 1000000L), (2L, 1000000L)).toDF("node", "mass")
    def shape(bcast: Boolean): String =
      GraphQueries.rankRoundPlan(ewd, mass, bcast)
        .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val below = shape(bcast = true)
    assert(below.contains("BroadcastHashJoin"),
      s"gated-in round lost its broadcast join:\n$below")
    val above = shape(bcast = false)
    assert(!above.contains("BroadcastExchange"),
      s"gated-out round still broadcasts the node-grain mass table:\n$above")
    assert(above.contains("Exchange"),
      s"gated-out round shows no exchange at all — not a shuffle join:\n$above")
    // the gate itself honors the session envelope
    assert(GraphQueries.rankBroadcastGate(s, 100L))
    s.conf.set("graft.maxRankBroadcastNodes", "99")
    assert(!GraphQueries.rankBroadcastGate(s, 100L))
    // end-to-end: a session forced above the gate (shuffle-join rounds)
    // produces bit-identical ranks — the gate is a physical choice only
    val forced = spark.newSession()
    forced.conf.set("graft.maxRankBroadcastNodes", "1")
    val plain = GraphQueries.queries("graph_pagerank")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val gatedOut = GraphQueries.queries("graph_pagerank")(forced, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(gatedOut == plain, "shuffle-join rounds diverged from broadcast rounds")
  }

  test("the degree checkpoint's observed stats equal aggregates over the table") {
    // the rank-broadcast gate and the salting trigger read these instead
    // of running a count / aggregate job over the checkpointed table
    val (deg, st) = GraphQueries.degrees(GraphQueries.edges(spark, sfDir))
    assert(st.nodes == deg.count())
    val agg = deg.agg(sum(col("deg")), max(col("deg"))).head()
    assert(st.edges == agg.getLong(0) && st.maxDeg == agg.getLong(1))
    val (_, none) = GraphQueries.degrees(GraphQueries.edges(spark, sfDir).limit(0))
    assert(none == GraphQueries.DegreeStats(0L, 0L, 0L))
  }

  test("graph_triangles equals a brute-force count on the collected edge set") {
    val got = GraphQueries.queries("graph_triangles")(spark, sfDir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_triangles")).toMap
    // brute force: adjacency sets over the same verified pair graph
    val pairs = graft.queries.SimilarityQueries.minhashVerifiedPairs(spark, sfDir)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    pairs.foreach { case (a, b) =>
      // count common neighbors above b to credit each triangle once
      (adj(a) intersect adj(b)).filter(c => c > b).foreach { c =>
        Seq(a, b, c).foreach(n => expected(n) += 1L)
      }
    }
    // edges are a<b; a triangle a<b<c is found exactly at its (a,b) edge
    assert(got == expected.toMap, s"engine $got != brute force ${expected.toMap}")
    assert(got.values.sum % 3 == 0, "role credits must be divisible by 3")
  }

  test("graph_khop equals a driver-side BFS from the same seed") {
    val got = GraphQueries.queries("graph_khop")(spark, sfDir).collect()
      .map(r => r.getAs[Int]("hop") -> r.getAs[Long]("n_nodes")).toMap
    val pairs = Tables(spark, sfDir, "orders")
      .join(Tables(spark, sfDir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val seed = pairs.map(_._2).min
    var visited = Set(seed); var frontier = Set(seed)
    val expected = scala.collection.mutable.Map(0 -> 1L)
    (1 to 3).foreach { hop =>
      frontier = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- visited
      expected(hop) = frontier.size.toLong
      visited ++= frontier
    }
    assert(got == expected.toMap, s"engine $got != brute ${expected.toMap}")
  }

  test("graph_pagerank_delta: three rounds, converging mass movement") {
    val rows = GraphQueries.queries("graph_pagerank_delta")(spark, sfDir)
      .collect().sortBy(_.getAs[Int]("round"))
    assert(rows.map(_.getAs[Int]("round")).toSeq == Seq(1, 2, 3))
    rows.foreach { r =>
      assert(r.getAs[Long]("sum_abs_delta") >= 0L)
      assert(r.getAs[Long]("n_moved") >= 0L)
    }
    // round 1 moves the most mass (uniform init is far from the rank);
    // a converging loop never moves MORE total mass later than at start
    val d = rows.map(_.getAs[Long]("sum_abs_delta"))
    assert(d.head >= d.last,
      s"mass movement grew over the loop: ${d.toSeq} — divergence, not convergence")
  }

  test("graph_degree_dist conserves nodes and edge endpoints") {
    val dist = GraphQueries.queries("graph_degree_dist")(spark, sfDir).collect()
    val nNodes = dist.map(_.getAs[Long]("n_nodes")).sum
    val endpoints = dist.map(r => r.getAs[Long]("deg") * r.getAs[Long]("n_nodes")).sum
    // symmetric bipartite graph: every distinct (cust, supp) pair
    // contributes one out-edge on each side
    val pairs = Tables(spark, sfDir, "orders")
      .join(Tables(spark, sfDir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().count()
    assert(endpoints == 2 * pairs,
      s"degree-weighted node count $endpoints != 2x distinct pairs $pairs")
    val nCust = Tables(spark, sfDir, "orders")
      .select(col("o_custkey")).distinct().count()
    assert(nNodes >= nCust, "fewer graph nodes than ordering customers")
  }
}
