package graft

import graft.operators.Graphs

/** Integer PageRank: exact parity with a driver-side reference loop on
  * a crafted graph, plus mass-conservation and determinism on the
  * fixture graph. */
class GraphsSpec extends SparkSuiteBase {

  test("pageRank matches an exact integer reference implementation") {
    import spark.implicits._
    // 1→3, 2→3, 3→1, 3→2: node 3 is the hub
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 1L), (3L, 2L))
    val got = Graphs.pageRank(edges.toDF("src", "dst"), 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    // driver-side reference: same integer arithmetic, plain Scala
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var r = deg.keys.map(_ -> Graphs.Scale).toMap
    for (_ <- 1 to 5) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _) => r(s) / deg(s) }.sum
      }
      r = contrib.map { case (n, s) =>
        n -> (Graphs.Scale * 15L / 100L + (85L * s) / 100L)
      }
    }
    assert(got === r)
    assert(got(3L) > got(1L) && got(3L) > got(2L), "hub must outrank leaves")
    assert(got(1L) === got(2L), "symmetric leaves rank equally")
  }

  test("triangles: crafted graph with known counts") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles) + pendant 1-5 + disjoint edge 6-7
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L), (6L, 7L))
    val r = Graphs.triangles(edges.toDF("u", "v")).collect()(0)
    assert(r.getAs[Long]("n_nodes") === 7L)
    assert(r.getAs[Long]("n_edges") === 8L)
    // deg = (4,3,3,3,1,1,1) → Σ C(d,2) = 6 + 3·3 = 15
    assert(r.getAs[Long]("n_wedges") === 15L)
    assert(r.getAs[Long]("n_triangles") === 4L)
    assert(r.getAs[Double]("clustering") === 3.0 * 4L / 15L)
  }

  test("triangles: degree-ordered count ≡ brute force on a pseudo-random graph") {
    import spark.implicits._
    // deterministic G(30, p): skewed enough that id-order ≠ degree-order
    val rnd = new scala.util.Random(7)
    val n = 30
    val edges = (for {
      u <- 1 until n; v <- (u + 1) to n if rnd.nextDouble() < 0.25
    } yield (u.toLong, v.toLong)).toVector
    val es = edges.toSet
    val brute = (for {
      a <- 1 to n; b <- (a + 1) to n; c <- (b + 1) to n
      if es((a.toLong, b.toLong)) && es((b.toLong, c.toLong)) && es((a.toLong, c.toLong))
    } yield 1).size.toLong
    val r = Graphs.triangles(edges.toDF("u", "v")).collect()(0)
    assert(r.getAs[Long]("n_triangles") === brute)
    assert(r.getAs[Long]("n_edges") === edges.size.toLong)
  }

  test("degreeDist: handshake identity and triangle-wedge consistency on the fixture") {
    val dist = Graphs.degreeDist(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tri = Graphs.triangles(spark, sf).collect()(0)
    // Σ d·n(d) = 2|E| (handshake lemma)
    assert(dist.map { case (d, n) => d * n }.sum === 2L * tri.getAs[Long]("n_edges"))
    // Σ n(d) = |V|, Σ C(d,2)·n(d) = wedge count — same deg table as triangles
    assert(dist.values.sum === tri.getAs[Long]("n_nodes"))
    assert(dist.map { case (d, n) => d * (d - 1) / 2 * n }.sum ===
      tri.getAs[Long]("n_wedges"))
  }

  test("personalizedPageRank matches an exact integer reference; mass concentrates at seeds") {
    import spark.implicits._
    // hub graph + a far pendant: 1↔3, 2↔3, 3↔4 (seed = 1)
    val edges = Seq((1L, 3L), (3L, 1L), (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L))
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val iters = 5
    val got = Graphs.personalizedPageRank(edges.toDF("src", "dst"), seeds, iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val tp = Graphs.Scale * 15L / 100L
    var r = deg.keys.map(n => n -> (if (n == 1L) Graphs.Scale else 0L)).toMap
    for (_ <- 1 to iters) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _) => r(s) / deg(s) }.sum
      }
      r = r.keys.map { n =>
        n -> ((if (n == 1L) tp else 0L) + 85L * contrib.getOrElse(n, 0L) / 100L)
      }.toMap
    }
    assert(got === r)
    // personalization: the seed and its hub outrank the symmetric far
    // nodes 2 and 4 (which uniform pageRank would rank equal to 1)
    assert(got(1L) > got(2L) && got(3L) > got(2L))
    assert(got(2L) === got(4L), "symmetric non-seeds rank equally")
    assert(got(2L) > 0L, "walk mass reaches 2-hop nodes")
  }

  test("sssp: weighted shortest path beats fewer-hop heavier path; horizon capped") {
    import spark.implicits._
    // 1→2→3 costs 10+10=20 < direct 1→3 at 50 (BFS would pick the
    // 1-hop path; weights must override it). Chain 3→4→5→6→7 puts
    // node 7 at 6 edges from the seed — beyond a 4-round horizon.
    val edges = Seq((1L, 2L, 10L), (2L, 3L, 10L), (1L, 3L, 50L),
      (3L, 4L, 1L), (4L, 5L, 1L), (5L, 6L, 1L), (6L, 7L, 1L))
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val got = Graphs.ssspDistances(edges.toDF("src", "dst", "w"), seeds, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 0L)
    assert(got(2L) === 10L)
    assert(got(3L) === 20L, "2-hop cost-20 path must beat 1-hop cost-50")
    assert(got(4L) === 21L && got(5L) === 22L)
    // within 4 rounds node 6 is only reachable via the ≤4-edge path
    // 1→3→4→5→6 (cost 53); the cheaper 5-edge route (23) is beyond
    // the horizon — documented ≤ rounds-edge semantics
    assert(got(6L) === 53L)
    assert(!got.contains(7L), "node beyond the round horizon is not emitted")
  }

  test("sssp ≡ ≤k-edge relaxation reference on a pseudo-random weighted graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val n = 25
    val edges = (for {
      u <- 1 to n; v <- 1 to n
      if u != v && rnd.nextDouble() < 0.15
    } yield (u.toLong, v.toLong, (rnd.nextInt(9) + 1).toLong)).toVector
    val rounds = 4
    // driver-side DP: d_k(v) = min(d_{k-1}(v), min_u d_{k-1}(u) + w)
    var ref = Map(1L -> 0L)
    for (_ <- 1 to rounds) {
      val relaxed = edges.flatMap { case (u, v, w) =>
        ref.get(u).map(du => v -> (du + w))
      }.groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).min }
      ref = (ref.keySet ++ relaxed.keySet).map { v =>
        v -> math.min(ref.getOrElse(v, Long.MaxValue),
          relaxed.getOrElse(v, Long.MaxValue))
      }.toMap
    }
    val got = Graphs.ssspDistances(edges.toDF("src", "dst", "w"),
        Seq(Tuple1(1L)).toDF("node"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === ref, "frontier BF must equal full ≤k-edge relaxation")
  }

  test("trianglesApprox: keepMod=1 degenerates to the exact count; sampled subset plumbing") {
    import spark.implicits._
    // same K4 + pendant + disjoint edge fixture as the exact test
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L), (6L, 7L)).toDF("u", "v")
    val all = Graphs.trianglesApprox(edges, 1).collect()(0)
    assert(all.getAs[Long]("n_edges_sampled") === 8L)
    assert(all.getAs[Long]("n_triangles_sampled") === 4L)
    assert(all.getAs[Long]("est_triangles") === 4L, "p=1 → estimate ≡ exact")
    // at the real keepMod the sample is a subset and the correction is ×mod³
    val s = Graphs.trianglesApprox(edges, Graphs.TriangleKeepMod).collect()(0)
    val m = Graphs.TriangleKeepMod.toLong
    assert(s.getAs[Long]("n_edges_sampled") <= 8L)
    assert(s.getAs[Long]("est_triangles") ===
      s.getAs[Long]("n_triangles_sampled") * m * m * m)
  }

  test("trianglesApprox on the fixture: deterministic, within ±10% of the exact count") {
    val exact = Graphs.triangles(spark, sf).collect()(0).getAs[Long]("n_triangles")
    val r = Graphs.trianglesApprox(spark, sf).collect()(0)
    val est = r.getAs[Long]("est_triangles")
    // DOULION rel-σ ≈ √((mod³−1)/T) ≈ 2.2% at the fixture's 126k
    // triangles — ±10% is > 4σ, deterministic so never flaky
    assert(math.abs(est - exact).toDouble / exact <= 0.10,
      s"estimate $est vs exact $exact")
    val again = Graphs.trianglesApprox(spark, sf).collect()(0)
    assert(again.getAs[Long]("est_triangles") === est, "FNV coin is deterministic")
  }

  test("labelProp delta rounds ≡ full synchronous recompute on a pseudo-random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val n = 40
    val edges = (for {
      u <- 1 until n; v <- (u + 1) to n if rnd.nextDouble() < 0.12
    } yield (u.toLong, v.toLong)).toVector
    // driver-side reference: FULL sync recompute every round, the
    // pre-delta semantics the frontier form must reproduce bit-exactly
    val nbrs = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (k, es) => k -> es.map(_._2) }
    var ref = nbrs.keys.map(k => k -> k).toMap
    for (_ <- 1 to Graphs.LpaRounds) {
      ref = nbrs.map { case (node, ns) =>
        val counts = ns.groupBy(ref).map { case (l, xs) => l -> xs.size }
        node -> counts.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val got = Graphs.labelProp(edges.toDF("u", "v"), Graphs.LpaRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === ref, "delta-LPA must equal full recompute at every round")
  }

  test("kcore: clique survives, chain and pendants peel away") {
    import spark.implicits._
    // K5 on {1..5} (every degree 4) + a chain 5-6-7-8 + pendant 1-9:
    // at k=3 the chain/pendant peel in ≤3 rounds, the clique is the
    // 3-core (clique degrees stay 4 after the hangers-on are gone)
    val edges = (for { u <- 1 to 5; v <- (u + 1) to 5 } yield (u.toLong, v.toLong)) ++
      Seq((5L, 6L), (6L, 7L), (7L, 8L), (1L, 9L))
    val got = Graphs.kcore(edges.toDF("u", "v"), Graphs.KcoreRounds, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L), s"3-core must be the clique, got $got")
    assert(got.values.toSet === Set(4L), "within-core degrees are the clique degrees")
  }

  test("kcore ≡ driver-side peel reference on a pseudo-random graph, incl. the derived threshold") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val n = 40
    val edges = (for {
      u <- 1 until n; v <- (u + 1) to n if rnd.nextDouble() < 0.2
    } yield (u.toLong, v.toLong)).toVector
    val nbrs = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (kk, es) => kk -> es.map(_._2).toSet }
    // the catalog form's data-derived threshold, reproduced
    val avg = 2L * edges.size / nbrs.size
    val k = (3L * avg / 4L).toInt
    var alive = nbrs.keySet
    for (_ <- 1 to Graphs.KcoreRounds)
      alive = alive.filter(x => nbrs(x).count(alive) >= k)
    val ref = alive.map(x => x -> nbrs(x).count(alive).toLong).toMap
    val got = Graphs.kcore(edges.toDF("u", "v"), Graphs.KcoreRounds, k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === ref, s"k=$k")
    assert(got.nonEmpty && got.size < nbrs.size, "peel must remove SOME nodes and keep some")
  }

  test("labelProp: two cliques with a bridge keep separate communities") {
    import spark.implicits._
    // K4 {1,2,3,4} + K4 {5,6,7,8} + bridge 4-5: density must hold each
    // clique together; connectivity (a CC view) would merge them.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L),
      (7L, 8L), (4L, 5L))
    val got = Graphs.labelProp(edges.toDF("u", "v"), Graphs.LpaRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 8)
    assert(Set(1L, 2L, 3L, 4L).map(got) === Set(1L),
      s"clique A must converge to min label 1, got $got")
    assert(Set(5L, 6L, 7L, 8L).map(got) === Set(5L),
      s"clique B must converge to its own min label 5, got $got")
  }

  test("labelProp on the fixture: deterministic, label set ⊆ node set, fewer communities than nodes") {
    val rows = Graphs.labelProp(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val nodes = rows.map(_._1).toSet
    val labels = rows.map(_._2).toSet
    assert(labels.subsetOf(nodes), "every label is some node's id")
    assert(labels.size < nodes.size, "propagation must merge SOME nodes")
    val again = Graphs.labelProp(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.sortBy(_._1).sameElements(again.sortBy(_._1)))
  }

  test("hits matches an exact integer reference; reinforcement ranks hubs by authority quality") {
    import spark.implicits._
    // hubs 1,2,3 → authorities 10,11,12: 10 is carried by all three
    // hubs, 11 by two, 12 by one; hub 3 points ONLY at the strong
    // authority 10, hub 1 spreads across all three
    val edges = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L), (2L, 11L),
      (3L, 10L))
    val got = Graphs.hits(edges.toDF("src", "dst"), Graphs.HitsRounds)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap

    // driver-side reference: same integer max-norm loop, plain Scala
    var hub = edges.map(_._1).distinct.map(_ -> Graphs.HitsScale).toMap
    var auth = Map.empty[Long, Long]
    def norm(m: Map[Long, Long]): Map[Long, Long] = {
      val mx = m.values.max
      m.map { case (k, v) => k -> v * Graphs.HitsScale / mx }
    }
    for (_ <- 1 to Graphs.HitsRounds) {
      auth = norm(edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map(e => hub(e._1)).sum })
      hub = norm(edges.groupBy(_._1).map { case (s, es) =>
        s -> es.map(e => auth(e._2)).sum })
    }
    val want = hub.map { case (n, v) => ("hub", n) -> v } ++
      auth.map { case (n, v) => ("authority", n) -> v }
    assert(got === want)
    // authority order follows hub support; the strongest scores sit at
    // the max-norm ceiling exactly
    assert(got(("authority", 10L)) === Graphs.HitsScale)
    assert(got(("authority", 10L)) > got(("authority", 11L)))
    assert(got(("authority", 11L)) > got(("authority", 12L)))
    // mutual reinforcement: hub 1 (three authorities incl. weak ones)
    // outranks hub 3 (only the strong one) — degree still dominates —
    // but hub 2 (two strong) outranks hub 3 (one strong)
    assert(got(("hub", 1L)) === Graphs.HitsScale)
    assert(got(("hub", 2L)) > got(("hub", 3L)))
  }

  test("randomWalk ≡ a driver-side reference walk on a crafted graph; every hop is a real edge") {
    import spark.implicits._
    // triangle 1-2-3 plus a pendant 4—1: mixed degrees (deg(1)=3)
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = Graphs.randomWalk(edges, 4).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // driver-side replay with the same scalar fnv/mix chain
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (s, es) => s -> es.map(_._2).distinct.sorted }
    def coin(s: Long, k: Int, u: Long): Long =
      graft.functions.Fnv32a.mix32(graft.functions.Fnv32a.hash(
        s"${s}_${k}_$u".getBytes("UTF-8")))
    for (s <- adj.keys) {
      var cur = s
      assert(got((s, 0L)) === s)
      for (k <- 0 until 4) {
        val ns = adj(cur)
        cur = ns((coin(s, k, cur) % ns.size).toInt)
        assert(got((s, (k + 1).toLong)) === cur,
          s"walk from $s diverges at step ${k + 1}")
      }
    }
    // exactly one row per (start, step): 4 starts × 5 steps
    assert(got.size === 20)
    // coverage sanity: the walks are not all stuck on one node
    assert(got.collect { case ((_, st), n) if st > 0 => n }.toSet.size > 1)
  }

  test("randomWalk on the fixture: one walk per node, every step a valid traversal, deterministic") {
    val out = Graphs.randomWalk(spark, sf)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val starts = rows.filter(_._2 == 0L)
    assert(starts.forall(r => r._1 == r._3), "step 0 is the start node")
    val perStep = rows.groupBy(_._2).view.mapValues(_.length).toMap
    assert(perStep.values.toSet.size === 1, s"ragged steps: $perStep")
    assert(perStep.keySet === (0L to Graphs.RwSteps.toLong).toSet)
    // every consecutive (node -> node) hop exists in the edge list
    val li = graft.sources.Tables(spark, sf, "lineitem")
    val es = li.select((org.apache.spark.sql.functions.col("l_partkey") * 2).as("s"),
        (org.apache.spark.sql.functions.col("l_suppkey") * 2 + 1).as("d"))
      .collect().flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .toSet
    val byWalk = rows.groupBy(_._1).values
    byWalk.foreach { steps =>
      steps.sortBy(_._2).sliding(2).foreach {
        case Array(a, b) => assert(es.contains((a._3, b._3)),
          s"hop ${a._3}→${b._3} is not an edge")
        case _ =>
      }
    }
    val again = Graphs.randomWalk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.sorted.sameElements(again.sorted))
  }

  test("walkPairs: exact skip-gram pairs on crafted trajectories; fixture mass = 14 per walk") {
    import spark.implicits._
    // one hand-written trajectory: 10,20,30,40,50 (steps 0..4)
    val walks = (0 to 4).map(i => (1L, i.toLong, (i + 1) * 10L))
      .toDF("start", "step", "node")
    val got = Graphs.walkPairs(walks, 2).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // center 30 (step 2) sees 10,20,40,50; center 10 sees 20,30 only
    assert(got.keySet.count(_._1 == 30L) === 4)
    assert(got.keySet.filter(_._1 == 10L).map(_._2) === Set(20L, 30L))
    assert(got.values.forall(_ == 1L))
    assert(got.size === 14, "a 5-node walk at window 2 yields 14 ordered pairs")
    // fixture accounting: every full-length walk contributes exactly 14
    val rw = Graphs.randomWalk(spark, sf)
    val nWalks = rw.where(org.apache.spark.sql.functions.col("step") === 0).count()
    val total = Graphs.walkPairs(rw, 2)
      .agg(org.apache.spark.sql.functions.sum("cnt")).collect()(0).getLong(0)
    assert(total === 14L * nWalks)
  }

  test("node2vec ≡ a driver-side reference of the group-major biased walk; In branch provably live") {
    import spark.implicits._
    // two triangles sharing node 1, plus a pendant: real common
    // neighbors, so all three weight groups are exercised
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (1L, 5L), (4L, 5L), (3L, 6L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = Graphs.node2vec(edges, 4).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (s, es) => s -> es.map(_._2).distinct.sorted }
    def mix(s: String): Long =
      graft.functions.Fnv32a.mix32(graft.functions.Fnv32a.hash(s.getBytes("UTF-8")))
    val shardStarts = adj.keys.filter(n =>
      mix(s"n2v_$n") % Graphs.N2vShards == 0).toSeq.sorted
    assert(shardStarts.nonEmpty, "crafted ids must put ≥1 node in shard 0")
    assert(got.keys.map(_._1).toSet === shardStarts.toSet,
      "walks exist exactly for the shard's start nodes")
    var inPicks = 0
    for (s <- shardStarts) {
      assert(got((s, 0L)) === s)
      var prev = s
      var cur = adj(s)((mix(s"${s}_0_$s") % adj(s).size).toInt)
      assert(got((s, 1L)) === cur, s"uniform first step diverges for $s")
      for (k <- 1 until 4) {
        val ns = adj(cur)
        val ins = ns.filter(x => adj(prev).contains(x)) // sorted, prev ∉ (no self-loops)
        val outs = ns.filterNot(x => ins.contains(x) || x == prev)
        val total = Graphs.N2vBack + Graphs.N2vIn * ins.size + Graphs.N2vOut * outs.size
        val r = mix(s"${s}_${k}_${prev}_$cur") % total
        val nxt =
          if (r < Graphs.N2vBack) prev
          else if (r < Graphs.N2vBack + Graphs.N2vIn * ins.size) {
            inPicks += 1
            ins(((r - Graphs.N2vBack) / Graphs.N2vIn).toInt)
          } else
            outs(((r - Graphs.N2vBack - Graphs.N2vIn * ins.size) / Graphs.N2vOut).toInt)
        assert(got((s, (k + 1).toLong)) === nxt,
          s"walk from $s diverges at step ${k + 1}")
        prev = cur; cur = nxt
      }
    }
    // determinism
    val again = Graphs.node2vec(edges, 4).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(again === got)
  }

  test("node2vec on the fixture: valid second-order traversals and a LIVE In group (not the bipartite degeneracy)") {
    import org.apache.spark.sql.functions.col
    val rows = Graphs.node2vec(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // driver-side graph (the sf0.001 projection is small): every hop an edge
    val lp = graft.sources.Tables(spark, sf, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = lp.groupBy(_._1).values
    val es = byOrder.flatMap { g =>
      val ps = g.map(_._2).distinct.toSeq
      for (a <- ps; b <- ps if a != b) yield (a, b)
    }.toSet
    val adj = es.groupBy(_._1).map { case (s, e) => s -> e.map(_._2).toSeq.sorted }
    val byWalk = rows.groupBy(_._1).values
    var inPicks = 0
    byWalk.foreach { steps =>
      val path = steps.sortBy(_._2).map(_._3).toSeq
      path.sliding(2).foreach {
        case Seq(a, b) => assert(es.contains((a, b)), s"hop $a→$b not an edge")
        case _ =>
      }
      // count In-group picks: step k ≥ 2 landing on a COMMON neighbor
      // of prev and cur that is not a return
      path.sliding(3).foreach {
        case Seq(p0, _, p2) if p2 != p0 =>
          if (adj(p0).contains(p2)) inPicks += 1
        case _ =>
      }
    }
    assert(inPicks > 0,
      "the In group never fired — the graph choice has degenerated (bipartite?)")
  }

  test("pageRank on the fixture graph: total mass conserved within floor losses") {
    val rows = Graphs.pageRank(spark, sf).collect().map(_.getLong(1))
    val n = rows.length.toLong
    val total = rows.sum
    // each of the 5 iterations floors away < 1 unit per edge-contribution
    // and < 1 per damping division; mass can only shrink, never grow
    assert(total <= n * Graphs.Scale)
    assert(total > n * Graphs.Scale - n * 5L * 100L,
      s"total $total vs ${n * Graphs.Scale}")
    // deterministic: a second run is bit-identical
    val again = Graphs.pageRank(spark, sf).collect().map(_.getLong(1))
    assert(rows.sorted.sameElements(again.sorted))
  }

  test("iterative loops free superseded cut frames (bounded block-store growth)") {
    // r13: at 100x data the DEAD rounds' localCheckpoint blocks were
    // the k-core slowdown (54 GiB resident, GC thrash) — Engine.free
    // drops each superseded frame once its successor is materialized.
    // Guard the discipline: an iteration leaves O(live frames) persistent
    // RDDs behind, not O(rounds x frames).
    import spark.implicits._
    val edges = (for (i <- 0L until 200L; j <- 1L to 6L) yield (i, (i + j) % 200L))
      .toDF("src", "dst")
    val und = edges.where($"src" < $"dst").toDF("u", "v")
    val before = spark.sparkContext.getPersistentRDDs.size
    val pr = Graphs.pageRank(edges, 5).collect()
    val kc = Graphs.kcore(und, 4, 2).collect()
    val lp = Graphs.labelProp(und, 4).collect()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(pr.nonEmpty && kc.nonEmpty && lp.nonEmpty)
    // 13 rounds of loops ran; without free() each leaves 1-3 frames.
    // Live survivors: the final frame + loop-invariant ed/adj per call.
    assert(after - before <= 9,
      s"persistent RDDs grew $before -> $after; dead iteration frames are leaking")
    // freed frames must not poison the RESULTS of reuse: rerun is identical
    assert(Graphs.pageRank(edges, 5).collect().map(_.getLong(1)).sorted
      .sameElements(pr.map(_.getLong(1)).sorted))
  }
}
