package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: hand-computed single iteration on a 3-node graph") {
    // A→B, A→C, B→C, C→A (unit weights); N=3, pr0=1/3, d=0.85
    //   contrib: B ← A/2 = 1/6; C ← A/2 + B = 1/2; A ← C = 1/3
    //   pr1 = 0.05 + 0.85·contrib
    val edges = Seq(("A", "B", 1L), ("A", "C", 1L),
                    ("B", "C", 1L), ("C", "A", 1L))
      .toDF("src", "dst", "w")
    val out = Graph.pageRank(edges, "src", "dst", "w", iters = 1)
      .as[(String, Double)].collect().toMap
    assert(out("A") == 0.333333)
    assert(out("B") == 0.191667)
    assert(out("C") == 0.475)
    // no dangling nodes → mass conserved (up to rounding)
    assert(math.abs(out.values.sum - 1.0) < 1e-5)
  }

  test("pageRank: node without in-links settles at (1-d)/N; dangling mass leaks") {
    val edges = Seq(("A", "B", 1L)).toDF("src", "dst", "w")
    val out = Graph.pageRank(edges, "src", "dst", "w", iters = 1)
      .as[(String, Double)].collect().toMap
    assert(out("A") == 0.075)            // no in-links: (1-0.85)/2
    assert(out("B") == 0.5)              // 0.075 + 0.85 · 0.5
  }

  test("pageRank: multi-iteration matches an independent power iteration") {
    val edgeList = Seq(("A", "C", 2.0), ("B", "C", 1.0), ("C", "A", 1.0),
                       ("A", "B", 1.0), ("B", "A", 1.0))
    val out = Graph.pageRank(edgeList.map { case (s, d, w) => (s, d, w.toLong) }
        .toDF("src", "dst", "w"), "src", "dst", "w", iters = 10)
      .as[(String, Double)].collect().toMap
    // reference: plain in-memory power iteration, same fixed-point form
    val nodes = edgeList.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val outw = edgeList.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var pr = nodes.map(_ -> 1.0 / nodes.size).toMap
    for (_ <- 0 until 10) {
      val contrib = edgeList.groupBy(_._2).view.mapValues(
        _.map(e => pr(e._1) * e._3 / outw(e._1)).sum).toMap
      pr = nodes.map(v =>
        v -> (0.15 / nodes.size + 0.85 * contrib.getOrElse(v, 0.0))).toMap
    }
    nodes.foreach { v =>
      assert(math.abs(out(v) - math.rint(pr(v) * 1e6) / 1e6) <= 1e-6,
        s"$v: ${out(v)} vs ${pr(v)}")
    }
    assert(math.abs(out.values.sum - 1.0) < 1e-5)
  }

  test("pageRank redistributeDangling: mass conserved every round; leaky variant loses it") {
    // B and C are dangling (no out-links) — the crawl-graph shape
    val edges = Seq(("A", "B", 1L), ("A", "C", 1L)).toDF("src", "dst", "w")
    for (iters <- 1 to 3) {
      val sum = Graph.pageRank(edges, "src", "dst", "w", iters = iters,
          redistributeDangling = true)
        .agg(org.apache.spark.sql.functions.sum($"pagerank"))
        .as[Double].head()
      // Σpr = 1 every round (± 6dp output rounding across 3 nodes)
      assert(math.abs(sum - 1.0) < 3e-6, s"iters=$iters: $sum")
    }
    val leaky = Graph.pageRank(edges, "src", "dst", "w", iters = 3)
      .agg(org.apache.spark.sql.functions.sum($"pagerank"))
      .as[Double].head()
    assert(leaky < 0.9) // 2/3 of the mass parks on dangling nodes and decays
    // hand-check one round: pr0 = 1/3 each; dangling mass = 2/3
    //   contrib: B ← A/2, C ← A/2
    //   pr1(A) = 0.05 + 0.85·(0 + (2/3)/3)          = 0.238889
    //   pr1(B) = 0.05 + 0.85·(1/6 + (2/3)/3)        = 0.380556
    val one = Graph.pageRank(edges, "src", "dst", "w", iters = 1,
        redistributeDangling = true)
      .as[(String, Double)].collect().toMap
    assert(one("A") == 0.238889)
    assert(one("B") == 0.380556 && one("C") == 0.380556)
  }

  test("pageRank: weights matter — doubling an edge weight shifts mass") {
    val base = Seq(("A", "B", 1L), ("A", "C", 1L), ("B", "A", 1L),
                   ("C", "A", 1L)).toDF("src", "dst", "w")
    val skew = Seq(("A", "B", 3L), ("A", "C", 1L), ("B", "A", 1L),
                   ("C", "A", 1L)).toDF("src", "dst", "w")
    val b = Graph.pageRank(base, "src", "dst", "w", iters = 3)
      .as[(String, Double)].collect().toMap
    val s = Graph.pageRank(skew, "src", "dst", "w", iters = 3)
      .as[(String, Double)].collect().toMap
    assert(b("B") == b("C"))             // symmetric weights tie
    assert(s("B") > s("C"))              // skewed weight breaks it
  }

  test("personalizedPageRank: mass conserves and concentrates near the seeds") {
    // chain A -> B -> C -> D plus D dangling; seed = A
    val edges = Seq(("A", "B", 1L), ("B", "C", 1L), ("C", "D", 1L))
      .toDF("src", "dst", "w")
    val pr = Graph.personalizedPageRank(edges, "src", "dst", "w",
        seeds = Seq("A"), iters = 8)
      .as[(String, Double)].collect().toMap
    // dangling mass re-enters through the teleport vector: sum = 1
    // (output rounds each node to 6dp -> up to n * 5e-7 of drift)
    assert(math.abs(pr.values.sum - 1.0) < 3e-6)
    // proximity ordering from the seed along the chain
    assert(pr("A") > pr("B") && pr("B") > pr("C") && pr("C") > pr("D"))
    // a node unreachable from the seeds gets (almost) nothing
    val edges2 = edges.union(Seq(("X", "Y", 1L)).toDF("src", "dst", "w"))
    val pr2 = Graph.personalizedPageRank(edges2, "src", "dst", "w",
        seeds = Seq("A"), iters = 8)
      .as[(String, Double)].collect().toMap
    assert(pr2("Y") == 0.0 && pr2("X") == 0.0)
  }

  test("personalizedPageRank rejects empty or duplicate seeds") {
    val edges = Seq(("A", "B", 1L)).toDF("src", "dst", "w")
    intercept[IllegalArgumentException](
      Graph.personalizedPageRank(edges, "src", "dst", "w", Seq.empty))
    intercept[IllegalArgumentException](
      Graph.personalizedPageRank(edges, "src", "dst", "w", Seq("A", "A")))
  }

  test("triangleStats: K4 is fully clustered; a closed star wedge is 3/8") {
    val k4 = (for (u <- 1 to 4; v <- 1 to 4 if u < v) yield (u.toLong, v.toLong))
    val out = Graph.triangleStats(k4.toDF("a", "b"), "a", "b").collect().head
    assert(out.getAs[Long]("n_nodes") == 4L)
    assert(out.getAs[Long]("n_edges") == 6L)
    assert(out.getAs[Long]("n_triangles") == 4L)
    assert(out.getAs[Long]("n_wedges") == 12L)
    assert(out.getAs[Double]("global_cc") == 1.0)
    // star 0-{1,2,3,4} plus the closing edge 1-2: one triangle,
    // wedges C(4,2) + 1 + 1 = 8
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (1L, 2L))
    val s = Graph.triangleStats(star.toDF("a", "b"), "a", "b").collect().head
    assert(s.getAs[Long]("n_triangles") == 1L)
    assert(s.getAs[Long]("n_wedges") == 8L)
    assert(s.getAs[Double]("global_cc") == 0.375)
  }

  test("triangleStats: self-loops, duplicate and reversed edges collapse") {
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 1L), (1L, 2L), (2L, 3L))
    val out = Graph.triangleStats(messy.toDF("a", "b"), "a", "b")
      .collect().head
    assert(out.getAs[Long]("n_edges") == 2L)
    assert(out.getAs[Long]("n_nodes") == 3L)
    assert(out.getAs[Long]("n_triangles") == 0L)
    assert(out.getAs[Long]("n_wedges") == 1L)
    assert(out.getAs[Double]("global_cc") == 0.0)
  }

  test("triangleStatsApprox: p = 1 reproduces the exact census; " +
       "linear stats stay exact at any p") {
    val k4 = (for (u <- 1 to 4; v <- 1 to 4 if u < v) yield (u.toLong, v.toLong))
      .toDF("a", "b")
    val full = Graph.triangleStatsApprox(k4, "a", "b", p = 1.0).collect().head
    assert(full.getAs[Long]("n_nodes") == 4L)
    assert(full.getAs[Long]("n_edges") == 6L)
    assert(full.getAs[Long]("n_edges_sampled") == 6L)
    assert(full.getAs[Double]("n_triangles_est") == 4.0)
    assert(full.getAs[Long]("n_wedges") == 12L)
    assert(full.getAs[Double]("global_cc_est") == 1.0)
    // at p < 1 the EXACT stats (nodes, edges, wedges) still come from
    // the full graph; only the triangle count estimates
    val thin = Graph.triangleStatsApprox(k4, "a", "b", p = 0.5).collect().head
    assert(thin.getAs[Long]("n_nodes") == 4L)
    assert(thin.getAs[Long]("n_edges") == 6L)
    assert(thin.getAs[Long]("n_wedges") == 12L)
    assert(thin.getAs[Long]("n_edges_sampled") <= 6L)
    assert(thin.getAs[Double]("n_triangles_est") >= 0.0)
  }

  test("triangleStatsApprox: the seeded coin is deterministic and " +
       "seed-sensitive; estimate is 1/p^3-scaled") {
    val edges = (for (u <- 1 to 40; v <- 1 to 40 if u < v) yield
      (u.toLong, v.toLong)).toDF("a", "b")
    val r1 = Graph.triangleStatsApprox(edges, "a", "b", p = 0.5,
      seed = "s1").collect().head
    val r2 = Graph.triangleStatsApprox(edges, "a", "b", p = 0.5,
      seed = "s1").collect().head
    assert(r1 == r2) // same seed → bit-identical run-to-run
    val r3 = Graph.triangleStatsApprox(edges, "a", "b", p = 0.5,
      seed = "s2").collect().head
    assert(r1.getAs[Long]("n_edges_sampled") !=
      r3.getAs[Long]("n_edges_sampled") ||
      r1.getAs[Double]("n_triangles_est") !=
      r3.getAs[Double]("n_triangles_est"))
    // K40: T = C(40,3) = 9880; the p=0.5 estimate should land within
    // a few rel-std (~6% here) — use a generous 25% band so the spec
    // never flakes while still catching a missing 1/p^3 scale-up
    // (which would read ~12.5% of exact)
    val est = r1.getAs[Double]("n_triangles_est")
    assert(est > 9880 * 0.75 && est < 9880 * 1.25, est)
    assert(intercept[IllegalArgumentException](
      Graph.triangleStatsApprox(edges, "a", "b", p = 0.0)).getMessage
      .contains("keep probability"))
  }

  test("degreeAssortativity: a star graph is maximally disassortative") {
    val star = (2L to 6L).map(i => (1L, i)).toDF("a", "b")
    val out = Graph.degreeAssortativity(star, "a", "b").collect().head
    assert(out.getAs[Long]("n_nodes") == 6 && out.getAs[Long]("n_edges") == 5)
    assert(out.getAs[Double]("assortativity") == -1.0)
  }

  test("degreeAssortativity: regular graphs have no degree variance -> NULL") {
    // a 4-cycle: every degree 2
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val out = Graph.degreeAssortativity(cyc, "a", "b").collect().head
    assert(out.isNullAt(out.fieldIndex("assortativity")))
  }

  test("degreeAssortativity matches a direct Pearson over directed endpoints") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 4L),
      (1L, 5L), (5L, 6L))
    val deg = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val dir = edges.flatMap(e => Seq((deg(e._1), deg(e._2)),
      (deg(e._2), deg(e._1))))
    val m = dir.size.toLong
    val sx = dir.map(_._1).sum; val sy = dir.map(_._2).sum
    val sxy = dir.map(p => p._1 * p._2).sum
    val sxx = dir.map(p => p._1 * p._1).sum
    val syy = dir.map(p => p._2 * p._2).sum
    val expected = math.rint((m * sxy - sx * sy).toDouble /
      math.sqrt((m * sxx - sx * sx).toDouble * (m * syy - sy * sy).toDouble)
      * 1e6) / 1e6
    val out = Graph.degreeAssortativity(edges.toDF("a", "b"), "a", "b")
      .collect().head
    assert(out.getAs[Double]("assortativity") == expected)
  }

  /** Reference core numbers by literal peeling: repeatedly remove the
    * minimum-degree node; its core = the max min-degree seen so far.
    */
  private def peelCores(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      if (a != b) {
        adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
      }
    }
    val core = scala.collection.mutable.Map.empty[Long, Long]
    var k = 0L
    while (adj.nonEmpty) {
      val (v, ns) = adj.minBy { case (n, s) => (s.size, n) }
      k = math.max(k, ns.size.toLong)
      core(v) = k
      ns.foreach(u => adj.get(u).foreach(_ -= v))
      adj -= v
    }
    core.toMap
  }

  // K5 on nodes 0-4 (core 4), bridge 4-10-11 into the triangle
  // 11-12-13 (core 2 — node 10's both neighbors survive the 2-core,
  // so 10 is core 2 as well), and a pendant 14 off 10 (core 1)
  private val k5Tail = (for (i <- 0L until 5L; j <- (i + 1) until 5L)
    yield (i, j)) ++ Seq((4L, 10L), (10L, 11L), (11L, 12L), (12L, 13L),
    (11L, 13L), (10L, 14L))

  test("kCore matches brute-force peeling: planted K5 clique + tail") {
    val edges = k5Tail
    val expected = peelCores(edges)
    val out = Graph.kCore(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("degree"), r.getAs[Long]("core"))).toMap
    assert(out.keySet == expected.keySet)
    out.foreach { case (n, (deg, c)) =>
      assert(c == expected(n), s"node $n: got $c want ${expected(n)}")
      assert(c <= deg)
    }
    assert(out(0L)._2 == 4 && out(10L)._2 == 2 &&
      out(13L)._2 == 2 && out(14L)._2 == 1)
  }

  /** Rounds of the synchronous h-index iteration (every node
    * recomputed every round) until a round changes nothing, that round
    * included: the frontier iteration runs exactly as many.
    */
  private def hIndexRounds(edges: Seq[(Long, Long)]): Int = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .distinct.groupMap(_._1)(_._2)
    var c = adj.map { case (v, ns) => v -> ns.size.toLong }
    var rounds = 0
    var changed = true
    while (changed) {
      val next = adj.map { case (v, ns) =>
        val ranked = ns.map(c).sorted(Ordering[Long].reverse)
        v -> ranked.zipWithIndex.map { case (x, i) => math.min(x, i + 1L) }.max
      }
      changed = next != c
      c = next
      rounds += 1
    }
    rounds
  }

  test("kCore runs one Spark job per round plus a fixed set-up") {
    // a 12-node path: core 1 everywhere, but the degree-1 ends' news
    // travels inward one node per round
    val path = (0L until 11L).map(i => (i, i + 1))
    val rounds = hIndexRounds(path)
    assert(rounds >= 5)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    Bridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    val cores = try {
      val out = Graph.kCore(path.toDF("a", "b"), "a", "b")
        .as[(Long, Long, Long)].collect()
      Bridge.drainListeners(spark)
      out
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(cores.map(_._3).toSet == Set(1L))
    // set-up: the undirect plan's distinct stage; after the rounds: the
    // collect
    assert(jobs.get <= rounds + 3, s"${jobs.get} jobs for $rounds rounds")
  }

  test("kCoreWithRelease: after checkpoint + release only the checkpoint stays persisted") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (df, release) = Graph.kCoreWithRelease(k5Tail.toDF("a", "b"), "a", "b")
    val cp = df.localCheckpoint(true)
    release()
    val added = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(added.size == 1 && added.values.forall(_.isCheckpointed), added)
    assert(cp.count() == 10)
    assert(cp.schema.map(f => f.name -> f.dataType) ==
      Seq("node" -> LongType, "degree" -> LongType, "core" -> LongType))
  }

  test("kCore that does not converge in maxRounds throws and frees its state") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalStateException](
      Graph.kCore(k5Tail.toDF("a", "b"), "a", "b", maxRounds = 1))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("kCore on a few hundred nodes with nested dense cores equals " +
    "peeling; INT ids stay INT") {
    val rnd = new scala.util.Random(7)
    // 40 nodes at p=0.45 inside 120 at p=0.08 inside 300 at p=0.01
    def p(i: Int, j: Int): Double =
      if (j < 40) 0.45 else if (j < 120) 0.08 else 0.01
    val edges = for (j <- 0 until 300; i <- 0 until j
      if rnd.nextDouble() < p(i, j)) yield (i, j)
    val expected = peelCores(edges.map(e => (e._1.toLong, e._2.toLong)))
    assert(expected.values.toSet.size >= 4, expected.values.toSet)
    val out = Graph.kCore(edges.toDF("a", "b"), "a", "b")
    assert(out.schema("node").dataType == IntegerType)
    assert(out.as[(Int, Long, Long)].collect()
      .map(r => r._1.toLong -> r._3).toMap == expected)
  }

  test("kCore on a random graph equals peeling; duplicate and self " +
    "edges ignored") {
    val rnd = new scala.util.Random(11)
    val edges = (0 until 120).map(_ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong)) ++
      Seq((3L, 3L), (1L, 2L), (1L, 2L)) // self + dup
    val clean = edges.filter(e => e._1 != e._2)
    val expected = peelCores(clean)
    val out = Graph.kCore(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("core"))
      .toMap
    assert(out == expected)
  }
}
