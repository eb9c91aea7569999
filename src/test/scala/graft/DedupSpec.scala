package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.functions.MinHashAggregator

class DedupSpec extends SparkSuiteBase {

  test("dedupExact keeps min doc_id per normalized text and is idempotent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "unique text"),
      (7L, " HELLO\tworld ")).toDF("doc_id", "text")
    val d1 = Dedup.dedupExact(docs)
    assert(d1.select("doc_id").collect().map(_.getLong(0)).sorted === Seq(1L, 3L))
    assert(Dedup.dedupExact(d1).count() === d1.count())
  }

  test("compiled MinHashBandHashes kernel ≡ the 128-min-aggregate reference, bit-for-bit (sf0.001)") {
    // two independently-derived implementations of the same published
    // construction (per-perm min of (a·x+b) mod P, murmur3 band fold)
    // must agree on every (doc, band, hash) row of the fixture corpus
    val docs = graft.sources.Tables(spark, sf, "documents")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val kernel = rows(Dedup.sigBandsFromArrays(Dedup.shingleArrays(docs)))
    val reference = rows(Dedup.sigBandsFromShingles(Dedup.shingles(docs)))
    assert(kernel === reference)
    assert(kernel.nonEmpty)
  }

  test("MinHash-LSH pairs equal exhaustive Jaccard pairs at 0.8 (sf0.001)") {
    val lsh = Dedup.minhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccard(spark, sf)
      .where(col("jac") >= 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact)
  }

  test("ssjoin equals exhaustive Jaccard pairs at 0.8 and emits exact integers (sf0.001)") {
    val got = Dedup.ssjoin(spark, sf).collect()
    val gotPairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccard(spark, sf)
      .where(col("jac") >= 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPairs === exact)
    got.foreach { r =>
      val (inter, na, nb, jm) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(9L * inter >= 4L * (na + nb), s"pair ${(r.getLong(0), r.getLong(1))}")
      assert(inter <= math.min(na, nb))
      assert(jm === 1000000L * inter / (na + nb - inter))
    }
  }

  test("ssjoin boundary: J exactly 4/5 is kept, just below is dropped") {
    import spark.implicits._
    // A: tokens w1..w11 → 9 distinct shingles. B changes only the last
    // token → 8 shared, union 10, J = 0.8 exactly (kept). C changes the
    // last two → 7 shared, union 11, J = 7/11 < 0.8 (dropped).
    val w = (1 to 11).map(i => s"w$i")
    val docs = Seq(
      (1L, w.mkString(" ")),
      (2L, (w.init :+ "xx").mkString(" ")),
      (3L, (w.dropRight(2) ++ Seq("yy", "zz")).mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.ssjoin(docs).collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) === ((1L, 2L)))
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) === ((8L, 9L, 9L)))
    assert(r.getLong(5) === 800000L)
  }

  test("ssjoin prefix filter is lossless on random mutated corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(881)
    for (trial <- 1 to 3) {
      // base docs from a small vocabulary, plus planted near-dups made
      // by light token mutation — a mix of J ≈ 1, borderline, and low
      // long enough that a 1-token mutation stays above J = 0.8
      // ((n−3)/(n+3) ≥ 4/5 needs n ≥ 27 shingles), short ones fall below
      val vocab = Vector.tabulate(40)(i => s"t$i")
      val base = (1 to 12).map { d =>
        (d.toLong, Seq.fill(30 + rnd.nextInt(20))(
          vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val mutated = base.take(6).map { case (d, text) =>
        val ts = text.split(" ").toSeq
        val i = rnd.nextInt(ts.size)
        (100L + d, ts.updated(i, vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val exactDup = base.slice(6, 8).map { case (d, text) => (200L + d, text) }
      val docs = (base ++ mutated ++ exactDup).toDF("doc_id", "text")
      val got = Dedup.ssjoin(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val ref = Dedup.ngramJaccard(docs).where(col("jac") >= 0.8).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === ref, s"trial $trial")
    }
  }

  test("MinHashAggregator: partial+final merge ≡ single-pass fold") {
    val p = 2000000011L
    val pa = Array.tabulate(16)(i => 3L + 7L * i)
    val pb = Array.tabulate(16)(i => 11L + 13L * i)
    val agg = new MinHashAggregator(16, p, pa, pb)
    val xs = (1L to 100L).map(x => (x * 998244353L) % p)
    // single pass
    val single = xs.foldLeft(agg.zero)((b, x) => agg.reduce(b, x))
    // split into 4 partials, merge
    val merged = xs.grouped(25)
      .map(chunk => chunk.foldLeft(agg.zero)((b, x) => agg.reduce(b, x)))
      .reduce((a, b) => agg.merge(a, b))
    assert(single.toSeq === merged.toSeq)
  }

  test("dedupCross: matrix mass equals the pair count; sources canonically ordered; crafted cross pair lands") {
    import spark.implicits._
    // two near-identical docs across sources A/B + an in-source C pair
    // + a unique doc: matrix = {(A,B): 1, (C,C): 1}
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base, "srcA"), (2L, base + " tail", "srcB"),
      (3L, "one two three four five six seven eight nine ten", "srcC"),
      (4L, "one  two three four five six  seven eight nine ten", "srcC"),
      (5L, "completely different words entirely unrelated content here now", "srcA"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.dedupCross(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(("srcA", "srcB") -> 1L, ("srcC", "srcC") -> 1L), s"got $got")
    // fixture accounting: total matrix mass = total verified pair count,
    // and every row is canonically (source_a <= source_b)
    val fx = Dedup.dedupCross(spark, sf).collect()
    assert(fx.map(_.getLong(2)).sum === Dedup.minhashLsh(spark, sf).count())
    assert(fx.forall(r => r.getString(0) <= r.getString(1)))
  }

  test("dup components close the pair relation transitively") {
    import spark.implicits._
    // chain 1-2-3-4-5-6 (diameter 5 → needs multiple propagation
    // rounds) + separate pair (10,11) + a triangle edge (20,21),(21,22)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("da", "db")
    val comps = Dedup.dupComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 6L).map(comps).toSet === Set(1L))
    assert(comps(10L) === 10L && comps(11L) === 10L)
    assert(Seq(20L, 21L, 22L).map(comps).toSet === Set(20L))
  }

  test("dup components converge in log rounds on a long chain (label shortcutting)") {
    import spark.implicits._
    // a 400-node path: diameter 399. Plain min-label propagation needs
    // ~399 rounds; the L(L(v)) shortcut doubles reach per round, so
    // the default maxIter=20 (≥ log₂(399) + slack) must suffice —
    // this is the q_knn_graph regime (mutual-kNN graphs are chains).
    val pairs = (1L until 400L).map(i => (i, i + 1)).toDF("da", "db")
    val comps = Dedup.dupComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.size === 400)
    assert(comps.values.toSet === Set(1L), "whole path is one component")
  }

  test("dup components under the reliable-checkpoint knob: identical output, durable files") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("da", "db")
    val want = Dedup.dupComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-spec").toFile
    try {
      Engine.setReliableCheckpointDir(Some(dir.getAbsolutePath))
      // hold the result DataFrame while asserting on the filesystem:
      // cleanCheckpoints=true lets the ContextCleaner GC-delete files
      // of unreachable checkpointed RDDs, so the file check must run
      // while the final checkpoint is still referenced by `df`
      val df = Dedup.dupComponents(pairs)
      def rddFiles(f: java.io.File): Int =
        Option(f.listFiles()).getOrElse(Array.empty).map { c =>
          (if (c.getName.startsWith("rdd-")) 1 else 0) + rddFiles(c)
        }.sum
      assert(rddFiles(dir) > 0, s"no rdd-* checkpoint dirs under $dir")
      val got = df.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want)
    } finally {
      Engine.setReliableCheckpointDir(None)
      Fs.rmRf(dir)
    }
  }

  test("dup components: the labels broadcast gate gives the same labels on both branches") {
    import spark.implicits._
    val pairs = ((1L until 40L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (200L, 201L))).toDF("da", "db")
    def labels() = Dedup.dupComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    val open = labels()
    spark.conf.set(key, "-1")
    val shut = try labels() finally spark.conf.set(key, prev)
    assert(open === shut)
    assert(open.values.toSet === Set(1L, 100L, 200L))
    assert(open.size === 45)
  }

  test("dup components run ONE Spark job per propagation iteration") {
    import spark.implicits._
    // chain 1..6: min-label needs 5 propagation rounds + 1 no-change
    // round to detect convergence; setup adds 2 jobs (edges + init
    // labels checkpoint). The changed-label count must ride the same
    // job via Observation — the old probe doubled every iteration.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("da", "db")
    // AQE legitimately splits one action into jobs-per-stage, so the
    // honest unit is ACTIONS = distinct SQL execution ids, which the old
    // probe doubled
    val execs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val id = js.properties.getProperty("spark.sql.execution.id")
        if (id != null) execs.add(id)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val comps = Dedup.dupComponents(pairs).collect()
      Thread.sleep(1000) // listener bus is async; let job-start events drain
      val observed = execs.size()
      assert(comps.map(_.getLong(1)).toSet === Set(1L))
      // 2 setup checkpoints + 6 iterations + 1 final collect
      assert(observed <= 9,
        s"$observed actions for 6 iterations — convergence probe is a second action again?")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("simhash: identical docs share hash; pairs are hamming-bounded") {
    val pairs = Dedup.simhashPairs(spark, sf, d = 3).collect()
    pairs.foreach(r => assert(r.getLong(2) <= 3))
    // near-dup corpus pairs (jaccard >= 0.9) should be simhash-close too
    val near = Dedup.ngramJaccard(spark, sf).where(col("jac") >= 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (near.nonEmpty) {
      val ph = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(near.intersect(ph).nonEmpty,
        s"no 0.95-Jaccard pair is simhash-close: $near vs $ph")
    }
  }

  test("blocked embed near-dup is a subset of exact with reported recall") {
    val exact = graft.operators.Dedup.embedNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = graft.operators.Dedup.embedNearDupBlocked(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked.subsetOf(exact))
    if (exact.nonEmpty)
      info(f"blocked recall: ${blocked.size.toDouble / exact.size}%.2f (${blocked.size}/${exact.size})")
  }

  test("grid embed near-dup ≡ exhaustive pairs bit-for-bit, for any block count") {
    val exact = Dedup.embedNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    assert(exact.nonEmpty)
    // even, odd, and degenerate-single block counts — every unordered
    // pair must appear exactly once with a bit-identical cosine
    for (blocks <- Seq(1, 3, 8)) {
      val grid = Dedup.embedNearDupGrid(spark, sf, blocks).collect()
      assert(grid.length === exact.size, s"blocks=$blocks duplicated/lost pairs")
      val set = grid.map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
      assert(set === exact, s"blocks=$blocks pair set differs")
    }
  }

  test("grid embed near-dup plans as an equi-join, not a nested-loop cartesian") {
    val plan = Dedup.embedNearDupGrid(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"grid form still plans a cartesian:\n$plan")
  }

  test("semanticDedup: drop edges are true grid pairs; kept set is within-cluster pair-free") {
    val rows = Dedup.semanticDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    // row conservation: one verdict per corpus vector
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.length.toLong === n)
    assert(rows.map(_._1).distinct.length.toLong === n)
    val grid = Dedup.embedNearDupGrid(spark, sf, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cidOf = rows.map(r => r._1 -> r._2).toMap
    // soundness: every drop points at an earlier KEPT member of the
    // SAME cluster, and the (keeper, dropped) pair is a true cos≥τ
    // pair in the exact all-pairs grid list
    val keptIds = rows.filter(_._3).map(_._1).toSet
    val dropped = rows.filterNot(_._3)
    assert(dropped.nonEmpty, "corpus has near-dups; expected drops")
    dropped.foreach { case (id, cid, _, by) =>
      assert(by >= 0 && by < id, s"$id kept_by $by not earlier")
      assert(keptIds.contains(by), s"$id dropped by non-kept $by")
      assert(cidOf(by) === cid, s"$id keeper $by in other cluster")
      assert(grid.contains((math.min(by, id), math.max(by, id))),
        s"drop edge ($by,$id) not an exact grid pair")
    }
    // completeness within clusters: no two KEPT members of one cluster
    // form a grid pair (the greedy scan would have dropped the later)
    grid.foreach { case (a, b) =>
      assert(!(keptIds.contains(a) && keptIds.contains(b) &&
        cidOf.get(a) === cidOf.get(b)),
        s"kept pair ($a,$b) shares cluster ${cidOf.get(a)} at cos>=tau")
    }
    info(f"kept ${keptIds.size}/${rows.length} " +
      f"(${dropped.length} semantic dups pruned)")
  }

  test("dedupAppend: staged append-then-dedup equals one-shot components at sf") {
    val oneShot = Dedup.dupComponents(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val appended = Dedup.dedupAppend(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(appended === oneShot)
    assert(appended.nonEmpty, "corpus has dup components; parity check is vacuous")
  }

  test("dedupAppend df-form: cross-batch and batch-internal dups all land in one-shot components") {
    import spark.implicits._
    // base: 1≈2 (dup pair), 3 unique; delta: 4≈1 (cross-batch dup,
    // chains into {1,2}), 5≈6 (batch-internal pair), 7 unique
    val t = (s: String) => s + " " + s // ≥3 tokens after duplication
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "completely different content about distributed query engines"
    val c = "a third unrelated document concerning parquet column pruning"
    val d4 = "yet another text on watermark semantics in streaming systems"
    val e5 = "unique closing document about broadcast hash join thresholds"
    val base = Seq(1L -> a, 2L -> (a + " extra"), 3L -> b).toDF("doc_id", "text")
    val delta = Seq(4L -> a, 5L -> c, 6L -> (c + " extra"), 7L -> Seq(d4, e5, t("x")).mkString(" "))
      .toDF("doc_id", "text")
    val incr = Dedup.dedupAppend(base, delta).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = Dedup.dupComponents(
      Dedup.minhashLsh(base.unionByName(delta))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incr === oneShot)
    // the cross-batch dup joined the base component; the batch-internal
    // pair formed its own — both visible in the incremental labels
    val comps = incr.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(comps.values.exists(s => s.contains(4L) && s.contains(1L)),
      s"cross-batch dup 4 not in base component: $comps")
    assert(comps.values.exists(s => s == Set(5L, 6L)),
      s"batch-internal pair {5,6} missing: $comps")
  }

  test("dedupAppend probe broadcasts the batch side (index never shuffles)") {
    val plan = Dedup.appendProbe(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"probe join is not broadcast:\n${plan.take(2000)}")
  }

  test("dedupAppend verify is candidate-bound: no full-corpus documents scan, base shingles from the persisted index") {
    val plan = Dedup.appendProbe(spark, sf).queryExecution.executedPlan.toString
    // every scan of the documents table must be delta-only (pushed
    // doc_id >= cut) — the base side's shingles/bands come from the
    // staged parquet index, never a re-shingle of the corpus
    val docScans = plan.linesIterator
      .filter(_.contains("documents.parquet")).toSeq
    assert(docScans.nonEmpty, s"no documents scan found:\n${plan.take(2000)}")
    docScans.foreach { l =>
      assert(l.contains("GreaterThanOrEqual(doc_id"),
        s"full-corpus documents scan in append probe:\n$l")
    }
    // the persisted shingle-array index is scanned and pruned to
    // candidate docs via a join against the broadcast candidate side.
    // (Identify the scan by the staging-root PREFIX + its column list,
    // not the "/sharr" path suffix: FileScan Location strings truncate
    // at 100 chars and the pid-bearing tmp root can push the suffix
    // past the cut.)
    val idxScans = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("graft-bandidx-")).toSeq
    assert(idxScans.exists(_.contains("sharr#")),
      s"persisted shingle-array index not scanned:\n${plan.take(2000)}")
    // structurally: the index scan is the STREAMED side of a broadcast
    // hash join (the candidates are the build side), never shuffled
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val phys = Dedup.appendProbe(spark, sf).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val probed = phys.collect { case j: BroadcastHashJoinExec =>
      (if (j.buildSide == BuildRight) j.left else j.right).collect {
        case f: FileSourceScanExec if f.output.exists(_.name == "sharr") &&
          f.relation.location.rootPaths.exists(_.toString.contains("graft-bandidx-")) => f
      }
    }.flatten
    assert(probed.nonEmpty,
      s"the array index is not probed by a broadcast candidate join:\n${plan.take(2000)}")
  }

  test("crossCandidates: oversized-batch shuffle fallback yields the same pairs as the broadcast path") {
    import spark.implicits._
    // same band fixture through both gate branches: rows=0 broadcasts,
    // rows above the ~4M ceiling takes the shuffle_hash fallback — the
    // candidate SET must be identical (only the join strategy differs)
    val idx = Seq((1L, 0, 11), (2L, 0, 11), (3L, 1, 22), (4L, 2, 33))
      .toDF("doc_id", "band", "bh")
    val batch = Seq((10L, 0, 11), (11L, 1, 22), (12L, 1, 99))
      .toDF("doc_id", "band", "bh")
    def pairs(rows: Long) =
      Dedup.crossCandidates(idx, batch, rows).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaBroadcast = pairs(0L)
    val viaShuffle = pairs(Long.MaxValue)
    assert(viaBroadcast === Set((1L, 10L), (2L, 10L), (3L, 11L)))
    assert(viaShuffle === viaBroadcast)
    // and the fallback really is a different physical strategy
    val fallbackPlan = Dedup.crossCandidates(idx, batch, Long.MaxValue)
      .queryExecution.executedPlan.toString
    assert(!fallbackPlan.contains("BroadcastHashJoin"),
      s"fallback still broadcasts:\n${fallbackPlan.take(1500)}")
  }

  test("keepBest: longest member is canonical, ties to lower id, singletons self-canonical") {
    import spark.implicits._
    // cluster {1,2,3}: 2 is longest → canonical; cluster {5,6}: tied
    // length → lower id 5; doc 9: singleton
    val docs = Seq((1L, 100L), (2L, 250L), (3L, 80L),
      (5L, 90L), (6L, 90L), (9L, 10L)).toDF("doc_id", "n_chars")
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "comp")
    val got = Dedup.keepBest(docs, comps).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got === Map(
      1L -> ((2L, false)), 2L -> ((2L, true)), 3L -> ((2L, false)),
      5L -> ((5L, true)), 6L -> ((5L, false)), 9L -> ((9L, true))))
  }

  test("keepBest equals a plain-Scala reference on seeded random frames") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val n = 60
      val docs = (1 to n).map(i => (i.toLong, rnd.nextInt(500).toLong))
      // random partition into clusters of 1-4 members
      var id = 1
      val comps = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      while (id <= n) {
        val sz = 1 + rnd.nextInt(4)
        val members = (id until math.min(id + sz, n + 1)).map(_.toLong)
        // only multi-member clusters get component labels (singletons
        // stay unlabeled, as dupComponents leaves non-paired docs)
        if (members.size > 1) members.foreach(m => comps += ((m, members.min)))
        id += sz
      }
      val got = Dedup.keepBest(docs.toDF("doc_id", "n_chars"),
          comps.toSeq.toDF("doc_id", "comp")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq.sorted
      val compOf = comps.toMap
      val chars = docs.toMap
      val want = docs.map { case (d, _) =>
        val c = compOf.getOrElse(d, d)
        val members = docs.collect {
          case (m, _) if compOf.getOrElse(m, m) == c => m }
        val canon = members.maxBy(m => (chars(m), -m))
        (d, canon, d == canon)
      }.sorted
      assert(got === want, s"trial $trial")
    }
  }

  test("semanticDedup greedy-leader semantics on a crafted single-cluster frame") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // vec 1 and 2: identical direction (cos 1); vec 3: orthogonal;
    // vec 4: aligned with 3 → greedy keeps 1, drops 2→1, keeps 3, drops 4→3
    val emb = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(2.0, 0.0)),
      (3L, Array(0.0, 1.0)), (4L, Array(0.0, 3.0)))
      .toDF("vec_id", "embedding")
    val v = emb.withColumn("e", col("embedding"))
      .withColumn("nrm", sqrt(expr(
        "aggregate(e, 0.0d, (a, x) -> a + x * x)")))
      .select(col("vec_id"), col("e"), col("nrm"))
    val got = Dedup.semanticDedup(v, Array(Array(0.0, 0.0)), 0.9).collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(2), if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(got === Map(
      1L -> ((true, -1L)), 2L -> ((false, 1L)),
      3L -> ((true, -1L)), 4L -> ((false, 3L))))
  }

  test("semanticDedup degenerate corpus: collapsed quantizer stays bounded per task") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 2000 near-identical embeddings (pairwise cos ≈ 1) and ONE
    // centroid — the r6 hazard: unbounded, this is a 2000² greedy scan
    // in a single task. With maxCell=100 the cluster hash-splits into
    // 20 cells; every cell's input (== its output group) stays near
    // the cap, and each cell keeps exactly its first member.
    val n = 2000
    val cap = 100
    val emb = (1 to n).map(i => (i.toLong, Array(1.0, 1e-9 * i)))
      .toDF("vec_id", "embedding").repartition(8)
    val v = emb.withColumn("e", col("embedding").cast("array<double>"))
      .withColumn("nrm", sqrt(expr("aggregate(e, 0.0d, (a, x) -> a + x * x)")))
      .select(col("vec_id"), col("e"), col("nrm"))
    val rows = Dedup.semanticDedup(v, Array(Array(0.0, 0.0)), 0.9, cap)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getInt(4)))
    assert(rows.length === n)
    // task-input bound: a cell's member count IS its scan size; the
    // hash split is binomial around csz/nsub ≤ cap, so allow 2× slack
    val cellSizes = rows.groupBy(_._4).view.mapValues(_.length)
    assert(cellSizes.values.max <= 2 * cap,
      s"oversized scan cell: ${cellSizes.maxBy(_._2)}")
    assert(cellSizes.size === math.ceil(n.toDouble / cap).toInt)
    // all-near-identical: each cell keeps exactly its min id, drops the
    // rest onto it (greedy-leader semantics hold per cell)
    rows.groupBy(_._4).foreach { case (cell, members) =>
      val first = members.map(_._1).min
      members.foreach { case (id, keep, by, _) =>
        if (id == first) assert(keep && by === -1L, s"cell $cell leader $id")
        else assert(!keep && by === first, s"cell $cell member $id kept_by $by")
      }
    }
  }

  test("semanticDedupFixed greedy-leader semantics on a crafted single-cluster frame") {
    import spark.implicits._
    // micro-unit twin of the double-form test: 1 and 2 share a
    // direction (cos 1 ≥ 9/10 → drop 2→1); 3 orthogonal (keep);
    // 4 aligned with 3 (drop 4→3)
    val v = Seq(
      (1L, Seq(1000000L, 0L)), (2L, Seq(2000000L, 0L)),
      (3L, Seq(0L, 1000000L)), (4L, Seq(0L, 3000000L)))
      .toDF("vec_id", "e")
    val got = Dedup.semanticDedupFixed(v, Array(Array(0L, 0L)), 9L, 10L, 4096)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(2), if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(got === Map(
      1L -> ((true, -1L)), 2L -> ((false, 1L)),
      3L -> ((true, -1L)), 4L -> ((false, 3L))))
  }

  test("semanticDedupFixed: exact-integer tau boundary (cos == tau drops, just under keeps)") {
    import spark.implicits._
    // e1=(4,3)·1e6 scaled, e2=(4,3)·2e6: cos exactly 1 — and against
    // e3=(3,4): cos = 24/25 = 0.96. With tau = 24/25 the boundary pair
    // DROPS (≥ is inclusive, exactly representable); with
    // tau = 961/1000 (> 0.96) it KEEPS — float arithmetic could not
    // make that cut deterministically
    val v = Seq(
      (1L, Seq(4000000L, 3000000L)),
      (2L, Seq(3000000L, 4000000L))).toDF("vec_id", "e")
    val atTau = Dedup.semanticDedupFixed(v, Array(Array(0L, 0L)), 24L, 25L, 4096)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(atTau === Map(1L -> true, 2L -> false))
    val aboveTau = Dedup.semanticDedupFixed(v, Array(Array(0L, 0L)), 961L, 1000L, 4096)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(aboveTau === Map(1L -> true, 2L -> true))
  }

  test("semanticDedupFixed degenerate corpus: Lehmer-mixed split bounds cells, incl. structured ids") {
    import spark.implicits._
    // 2000 near-identical micro vectors, ONE centroid, cap 100 — the
    // greedy scan must stay bounded per cell whatever the id layout.
    // Two layouts: sequential ids, and STRIDE-20 ids (20, 40, …) — the
    // structured scheme under which a raw `vec_id % nsub` split would
    // put EVERY member in cell 0 (one 2000² task); the Lehmer mix
    // breaks the residue structure
    val cap = 100
    for ((ids, name) <- Seq(
        ((1 to 2000).map(_.toLong), "sequential"),
        ((1 to 2000).map(_ * 20L), "stride-20"))) {
      val n = ids.size
      val v = ids.map(i => (i, Seq(1000000L, i)))
        .toDF("vec_id", "e").repartition(8)
      val rows = Dedup.semanticDedupFixed(v, Array(Array(0L, 0L)), 9L, 10L, cap)
        .collect()
        .map(r => (r.getLong(0), r.getBoolean(2),
          if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))
      assert(rows.length === n, name)
      // task-input bound: a cell's member count IS its scan size; the
      // mixed split is near-uniform — allow 2× slack over the cap
      val cellSizes = rows.groupBy(_._4).view.mapValues(_.length)
      assert(cellSizes.values.max <= 2 * cap,
        s"$name: oversized scan cell: ${cellSizes.maxBy(_._2)}")
      assert(cellSizes.size >= (n / cap) / 2,
        s"$name: split collapsed to ${cellSizes.size} cells")
      // all-near-identical: each cell keeps exactly its min id
      rows.groupBy(_._4).foreach { case (cell, members) =>
        val first = members.map(_._1).min
        members.foreach { case (id, keep, by, _) =>
          if (id == first) assert(keep && by === -1L, s"$name cell $cell leader $id")
          else assert(!keep && by === first, s"$name cell $cell member $id kept_by $by")
        }
      }
    }
  }

  test("semanticDedupFixed on sf: row conservation; drop edges satisfy the integer predicate") {
    val rows = SparkEntry.queries("q_dedup_semantic")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.length.toLong === n)
    assert(rows.map(_._1).distinct.length.toLong === n)
    // driver-side replay of the quantization + predicate: every drop
    // edge must point at an earlier KEPT member of the same (cid, cell)
    // with s > 0 and 25·s² ≥ 4·|a|²·|b|²
    val q = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id",
        "transform(cast(embedding as array<double>), x -> cast(round(x * 1000000) as bigint)) as qe")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def n2(a: Array[Long]): BigInt =
      a.foldLeft(BigInt(0))((acc, x) => acc + BigInt(x) * BigInt(x))
    val info = rows.map(r => r._1 -> r).toMap
    val dropped = rows.filterNot(_._3)
    assert(dropped.nonEmpty, "corpus has semantic dups; expected drops")
    dropped.foreach { case (id, cid, _, by, cell) =>
      assert(by >= 0 && by < id, s"$id kept_by $by not earlier")
      val k = info(by)
      assert(k._3, s"$id dropped by non-kept $by")
      assert(k._2 === cid && k._5 === cell, s"$id keeper $by in other cell")
      val (qa, qb) = (q(id), q(by))
      val s = qa.indices.foldLeft(BigInt(0))((acc, i) => acc + BigInt(qa(i)) * BigInt(qb(i)))
      assert(s > 0 && 25 * s * s >= 4 * n2(qa) * n2(qb),
        s"drop edge ($by,$id) fails the integer cos ≥ 2/5 test")
    }
  }

  test("embedding near-dup: cosine symmetric range and self-free") {
    val rows = Dedup.embedNearDup(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.4 && r.getDouble(2) <= 1.0 + 1e-12)
    }
  }

  test("dedup stats: cluster mass accounts for every document exactly once") {
    val hist = Dedup.dedupStats(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nDocs = graft.sources.Tables(spark, sf, "documents").count()
    assert(hist.map { case (sz, n) => sz * n }.sum === nDocs)
    // histogram agrees with the component table it summarizes
    val compSizes = Dedup.dupComponents(spark, sf).collect()
      .groupBy(_.getLong(1)).map(_._2.length.toLong)
    compSizes.groupBy(identity).foreach { case (sz, cs) =>
      assert(hist(sz) >= cs.size.toLong, s"size-$sz clusters under-counted")
    }
    assert(hist.keys.forall(_ >= 1L) && hist.values.forall(_ > 0L))
  }

  test("containment: a quote inside a long doc scores ~1 forward, low backward") {
    import spark.implicits._
    val quote = "the quick brown fox jumps over the lazy dog"
    val long = s"a very long host document begins here $quote and then " +
      "continues with much more unrelated material about many other " +
      "topics entirely for quite a while longer"
    val docs = Seq((1L, quote), (2L, long), (3L, "nothing shared at all here"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val got = Dedup.containmentPairs(docs, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // all 7 of the quote's 3-gram shingles appear in the host verbatim
    assert(got((1L, 2L)) === 1.0)
    // asymmetry: the host is NOT contained in the quote
    assert(!got.contains((2L, 1L)))
    assert(got.keys.forall { case (s, d) => s != d && !Seq(s, d).contains(3L) })
  }

  test("passageDedup equals a plain-Scala reference on seeded random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vocab = Array("aa", "bb", "cc", "dd") // tiny vocab → real collisions
    val win = 4
    val docs = (1L to 60L).map { id =>
      val n = 3 + rnd.nextInt(14)
      id -> Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val got = Dedup.passageDedup(docs.toDF("doc_id", "text"), win).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // reference: same tokenization, non-overlapping windows, first
    // (doc_id, widx) occurrence canonical
    val passages = docs.flatMap { case (id, text) =>
      val ts = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      (0 until ts.length / win).map(w =>
        (id, w.toLong, ts.slice(w * win, w * win + win).mkString(" ")))
    }
    val firstOf = passages.groupBy(_._3)
      .map { case (p, occ) => p -> occ.map(o => (o._1, o._2)).min }
    val want = passages.groupBy(_._1).map { case (id, ps) =>
      id -> ((ps.size.toLong,
        ps.count(p => firstOf(p._3) == ((p._1, p._2))).toLong))
    }
    assert(got === want)
    assert(got.values.exists(v => v._2 < v._1),
      "the tiny vocab must produce real cross-doc duplicates")
  }

  test("passageDedup: first corpus occurrence is canonical, copies are not") {
    import spark.implicits._
    val block = (1 to 10).map(i => s"tok$i").mkString(" ")     // one passage
    val other = (11 to 20).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      1L -> s"$block $other",          // both passages first here
      2L -> s"$block $block",          // copies doc 1's first passage, twice
      3L -> other,                     // copies doc 1's second passage
      4L -> "short doc").toDF("doc_id", "text")
    val got = Dedup.passageDedup(docs, 10).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) === ((2L, 2L)), "doc 1 owns both passages")
    assert(got(2L) === ((2L, 0L)), "doc 2 is all copies (incl. its self-repeat)")
    assert(got(3L) === ((1L, 0L)), "doc 3's only passage is doc 1's")
    assert(!got.contains(4L), "sub-window docs have no full passage")
  }

  test("boilerplateStrip: df≥3 passages stripped EVERYWHERE (first occurrence too); df=2 kept; tail survives") {
    import spark.implicits._
    val bp = (1 to 10).map(i => s"bp$i").mkString(" ")    // in 3 docs → boilerplate
    val dup = (11 to 20).map(i => s"dp$i").mkString(" ")  // in 2 docs → kept
    val uniq = (21 to 30).map(i => s"uq$i").mkString(" ")
    val docs = Seq(
      1L -> s"$bp $uniq tail1 tail2",   // first occurrence of bp is stripped too
      2L -> s"$dup $bp",
      3L -> s"$bp $dup",
      4L -> "Short  DOC").toDF("doc_id", "text")
    val got = Dedup.boilerplateStrip(docs, 10).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) === ((s"$uniq tail1 tail2", 2L, 1L)),
      "bp stripped from its FIRST occurrence; unique passage + tail kept")
    assert(got(2L) === ((dup, 2L, 1L)))
    assert(got(3L) === ((dup, 2L, 1L)), "df=2 passage kept in both docs")
    assert(got(4L) === (("short doc", 0L, 0L)),
      "sub-window doc passes through as its normalized token stream")
    // accounting: stripped mass = every occurrence of the df≥3 passage
    assert(got.values.map(_._3).sum === 3L)
  }
}
