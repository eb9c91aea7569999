package graft

import graft.operators.Similarity

class SimilaritySpec extends SparkSuiteBase {

  test("codegen vector kernels are BIT-identical to the lambda fold forms") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian()), Array.fill(64)(rnd.nextGaussian()))
    }
    val df = rows.toDF("id", "a", "b")
      .select(col("id"),
        graft.functions.VectorExprs.dot(col("a"), col("b")).as("dot_k"),
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), cast(0.0 as double), (acc, p) -> acc + p)").as("dot_l"),
        graft.functions.VectorExprs.sqDist(col("a"), col("b")).as("d2_k"),
        expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), cast(0.0 as double), (acc, p) -> acc + p)").as("d2_l"))
    df.collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(2)), s"dot bits differ at id ${r.getLong(0)}")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(3)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(4)), s"sqdist bits differ at id ${r.getLong(0)}")
    }
    // ragged vectors are NULL (as the zip_with forms), never a silent
    // truncated-prefix product
    val ragged = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0)))
      .toDF("a", "b")
      .select(graft.functions.VectorExprs.dot(col("a"), col("b")).as("d"))
      .collect()(0)
    assert(ragged.isNullAt(0), "length mismatch must be NULL")
  }

  test("LshSignatures kernel ≡ the declarative per-plane bucket composition, bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(23)
    val rows = (1 to 200).map(i => (i.toLong, Array.fill(64)(rnd.nextGaussian())))
    val df = rows.toDF("vec_id", "e")
    // the max geometry the corpus-size rules can ever ask for
    val (nt, np) = (Similarity.LshTablesMax, Similarity.LshBitsCap)
    val kernel = graft.functions.VectorExprs.lshSignatures(
      col("e"), Similarity.planes, 64, Similarity.LshMaxBits, nt, np)
    val declarative = array((0 until nt).map(t => Similarity.bucketCol(t, np)): _*)
    val bad = df.select(col("vec_id"), kernel.as("k"), declarative.as("d"))
      .where(not(col("k") <=> col("d"))).count()
    assert(bad === 0, "compiled signatures must equal the per-plane when(dot) form")
    // ragged vector → NULL, matching the VectorFold convention
    val ragged = Seq((1L, Array(1.0, 2.0))).toDF("vec_id", "e")
      .select(graft.functions.VectorExprs.lshSignatures(
        col("e"), Similarity.planes, 64, Similarity.LshMaxBits, nt, np).as("k"))
      .collect()(0)
    assert(ragged.isNullAt(0), "wrong-dim vector must be NULL")
  }

  test("NearestLists kernel ≡ array_sort of the declarative (d2, cid) structs, ties to lower cid") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(31)
    def vec(): Array[Long] = Array.fill(64)((rnd.nextGaussian() * 1e6).round)
    // K = 141 — the sf1 geometry where the unrolled struct array
    // overflowed codegen; centroid 7 duplicated as 100 to force d2
    // ties (lower cid must win, as in struct lexicographic order)
    val cents = Array.tabulate(141)(i => if (i == 100) null else vec())
    cents(100) = cents(7).clone()
    val rows = (1 to 300).map(i => (i.toLong, vec()))
    val df = rows.toDF("vec_id", "eq")
    val declarative = array_sort(array(cents.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      struct(graft.functions.VectorExprs.sqDistLong(col("eq"), lit(c)).as("d2"),
        lit(i).as("cid"))
    }: _*))
    for (probes <- Seq(1, 13, 141)) {
      val bad = df.select(
          graft.functions.VectorExprs.nearestLists(col("eq"), cents, probes).as("k"),
          slice(declarative, 1, probes).as("d"))
        .where(not(col("k") <=> col("d"))).count()
      assert(bad === 0, s"kernel order must equal array_sort at nProbe=$probes")
    }
    // ragged vector → NULL
    val ragged = Seq((1L, Array(1L, 2L))).toDF("vec_id", "eq")
      .select(graft.functions.VectorExprs.nearestLists(col("eq"), cents, 5).as("k"))
      .collect()(0)
    assert(ragged.isNullAt(0), "wrong-dim vector must be NULL")
  }

  test("brute-force top-k ranks by cosine with deterministic tie-break") {
    val rows = Similarity.bruteForceTopK(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getLong(3))
      // ranks 1..k, sims non-increasing, no self
      assert(sorted.map(_.getLong(3)).toSeq === (1L to sorted.length))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getDouble(2) >= b.getDouble(2) - 1e-15)
        case _ =>
      }
      assert(!rs.exists(_.getLong(1) == q))
    }
    assert(byQ.size === 10)
  }

  test("IVF top-k: probes nProbe lists, decent recall vs brute force") {
    val brute = Similarity.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(spark, sf).collect()
    ivf.foreach(r => assert(r.getLong(0) != r.getLong(1)))
    val recall = ivf.map(r => (r.getLong(0), r.getLong(1)))
      .count(brute.contains).toDouble / brute.size
    info(f"IVF recall vs brute force: $recall%.2f")
    assert(recall > 0.5, f"IVF recall $recall%.2f unexpectedly low")
  }

  test("indexed IVF ≡ live IVF bit-for-bit; corpus side is a partition-pruned index scan") {
    // result equality is STRONGER than a recall bar: the staged index
    // shares the memoized quantizer and parquet round-trips doubles
    // exactly, so the indexed search inherits ivfTopK's spec'd recall
    // (0.98 on the clustered corpus) by identity
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getLong(3))
    val live = Similarity.ivfTopK(spark, sf).collect().map(key).toSet
    val idx = Similarity.ivfTopKIndexed(spark, sf)
    assert(idx.collect().map(key).toSet === live)
    val plan = idx.queryExecution.executedPlan.toString
    // the probed cids are a STATIC partition filter on the index scan
    assert(plan.contains("PartitionFilters: [cid"),
      s"index scan not partition-pruned:\n$plan")
    // no full-corpus assignment stage: every scan of the raw
    // embeddings table carries the query-batch pushdown (vec_id < 10)
    // — an unfiltered corpus scan would mean per-run re-assignment
    val rawScans = plan.linesIterator.filter(l =>
      l.contains("Scan parquet") && l.contains("embeddings.parquet")).toSeq
    assert(rawScans.nonEmpty, "query-batch scan missing")
    rawScans.foreach(l =>
      assert(l.contains("vec_id") && l.contains("< 10"),
        s"unfiltered corpus scan in indexed plan:\n$l"))
  }

  test("appended index ≡ live search under the base-trained quantizer (no rebuild)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getLong(3))
    val appended = Similarity.ivfTopKAppended(spark, sf).collect().map(key).toSet
    // the quantizer never saw the delta; a live full-corpus search
    // under the SAME centroids is the ground truth the append must hit
    val (_, cents) = Similarity.stagedAppendedIndex(spark, sf)
    val live = Similarity.ivfTopKWithFixed(spark, sf, cents).collect().map(key).toSet
    assert(appended === live)
    // the append really landed as extra files inside existing cid= dirs
    val (path, _) = Similarity.stagedAppendedIndex(spark, sf)
    val dirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cid="))
    assert(dirs.nonEmpty)
    val multiFile = dirs.count(_.listFiles().count(_.getName.endsWith(".parquet")) > 1)
    assert(multiFile > 0, "no cid partition holds an appended file")
    // an append shuffles the delta to its dirs first, so each
    // cid dir holds ≤ 2 files (one base write, one delta) — the file
    // count is independent of writer parallelism; without the shuffle
    // an append fans out to (input partitions × dirs) tiny files
    dirs.foreach { d =>
      val n = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n <= 2, s"${d.getName} holds $n files — delta fan-out returned")
    }
  }

  test("indexed LSH ≡ live LSH bit-for-bit; index scan is partition-pruned") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getLong(3))
    val live = Similarity.lshTopK(spark, sf).collect().map(key).toSet
    val idx = Similarity.lshTopKIndexed(spark, sf)
    assert(idx.collect().map(key).toSet === live)
    val plan = idx.queryExecution.executedPlan.toString
    assert(plan.contains("lsh_index"), s"expected the staged index scan in:\n$plan")
    // probed (t, bgrp) pairs are STATIC partition filters — the search
    // lists only the probed bucket-group dirs, and the live form's
    // full-corpus signature pass does not exist in this plan
    assert(plan.linesIterator.exists(l => l.contains("lsh_index") &&
        l.contains("PartitionFilters: [") && !l.contains("PartitionFilters: []")),
      s"index scan not partition-pruned:\n$plan")
  }

  test("appended LSH ≡ live LSH of the FULL corpus — data-independent planes need no frozen-model caveat") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getLong(3))
    // STRONGER than the IVF/IVFPQ append contracts (those compare
    // against a frozen base-trained model): the hyperplanes are fixed
    // constants, so the appended index must reproduce the plain live
    // search of the full corpus exactly
    val appended = Similarity.lshTopKAppended(spark, sf).collect().map(key).toSet
    val live = Similarity.lshTopK(spark, sf).collect().map(key).toSet
    assert(appended === live)
    // layout contract (r12): the append lands delta files inside the
    // existing (t, bgrp) dirs and the post-append compact folds each
    // dir back to ~one file — the serve path's listing cost must stay
    // flat no matter how many appends the artifact absorbed
    val (path, _, _) = Similarity.stagedAppendedLshIndex(spark, sf)
    val bgrpDirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("t="))
      .flatMap(_.listFiles().filter(f => f.isDirectory && f.getName.startsWith("bgrp=")))
    assert(bgrpDirs.nonEmpty)
    val maxFiles = bgrpDirs.map(_.listFiles().count(_.getName.endsWith(".parquet"))).max
    assert(maxFiles === 1,
      s"post-append compact must leave one file per (t, bgrp) dir, saw $maxFiles")
  }

  test("MMR re-rank: top-1 anchored, selections from the shortlist, scores non-increasing, measurably diverser") {
    val mmr = Similarity.mmrTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val brute = Similarity.bruteForceTopK(spark, sf, Similarity.MmrC).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(1), r.getDouble(2)))
    val cands = brute.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val byQ = mmr.groupBy(_._1)
    assert(byQ.size === 10, "one ranking per query vector")
    // pairwise cosine helper over the raw embeddings
    val vs = graft.sources.Tables(spark, sf, "embeddings").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (vs(a), vs(b))
      var s = 0.0; var sa = 0.0; var sb = 0.0; var i = 0
      while (i < x.length) { s += x(i) * y(i); sa += x(i) * x(i); sb += y(i) * y(i); i += 1 }
      s / math.sqrt(sa * sb)
    }
    def meanPair(ids: Seq[Long]): Double = {
      val ps = for (i <- ids.indices; j <- i + 1 until ids.length) yield cos(ids(i), ids(j))
      ps.sum / ps.length
    }
    var diverser = 0
    byQ.foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to Similarity.MmrK), s"query $qid ranks")
      assert(sorted.map(_._3).distinct.length === Similarity.MmrK, s"query $qid dups")
      assert(sorted.forall(r => cands(qid).contains(r._3)),
        s"query $qid selected outside the top-C shortlist")
      // greedy argmax #1 IS the plain top-1
      val top1 = brute.filter(r => r._1 == qid && r._2 == 1L).head._3
      assert(sorted.head._3 === top1, s"query $qid rank-1 must be the exact top-1")
      // from rank 2 the blended score is provably non-increasing
      sorted.drop(1).sliding(2).foreach {
        case Array(a, b) => assert(b._4 <= a._4 + 1e-12, s"query $qid score order")
        case _ =>
      }
      // the point of the operator: a less self-similar result set than
      // plain top-k (counted, not per-query asserted — a query whose
      // top-k is already diverse legitimately ties)
      val plainK = brute.filter(r => r._1 == qid && r._2 <= Similarity.MmrK).map(_._3).toSeq
      if (meanPair(sorted.map(_._3).toSeq) <= meanPair(plainK) + 1e-12) diverser += 1
    }
    info(s"MMR set no-less-diverse than plain top-k on $diverser/10 queries")
    assert(diverser >= 7, s"MMR failed to diversify: only $diverser/10 queries improved")
  }

  test("filtered ANN: pre-filtered candidates only; exact form ≡ reference; IVF form holds recall") {
    import org.apache.spark.sql.functions.col
    val en = graft.sources.Tables(spark, sf, "documents")
      .where(col("lang") === "en").collect().map(_.getLong(0)).toSet
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val exact = Similarity.filteredTopK(spark, sf).collect()
    // every candidate passes the predicate; 10 per query (enough en docs)
    exact.foreach(r => assert(en.contains(r.getLong(1)), s"non-en candidate $r"))
    assert(exact.groupBy(_.getLong(0)).forall(_._2.length == 10))
    // reference: unfiltered brute force with k = corpus, then filter + re-rank
    val reference = Similarity.bruteForceTopK(spark, sf, k = 100000).collect()
      .filter(r => en.contains(r.getLong(1)))
      .groupBy(_.getLong(0)).iterator.flatMap { case (qid, rows) =>
        rows.sortBy(r => (-r.getDouble(2), r.getLong(1))).take(10)
          .map(r => (qid, r.getLong(1)))
      }.toSet
    assert(exact.map(key).toSet === reference)
    // the IVF composition: approximate, but most filtered neighbors
    // should come from the probed lists at the standard probe fraction
    val ivf = Similarity.ivfFilteredTopK(spark, sf).collect()
    ivf.foreach(r => assert(en.contains(r.getLong(1)), s"non-en IVF candidate $r"))
    val recall = ivf.map(key).count(reference.contains).toDouble / reference.size
    info(f"filtered-IVF recall vs exact filtered: $recall%.2f")
    assert(recall > 0.5, f"filtered-IVF recall $recall%.2f unexpectedly low")
  }

  test("MMR ≡ an independent driver-side greedy reference on seeded random corpora") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    for (seed <- Seq(1, 42)) {
      val rnd = new scala.util.Random(seed)
      val n = 80
      val dim = 16
      val emb = (0 until n).map(i =>
        (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
      val df = emb.toDF("vec_id", "embedding")
      // reference candidates: the same exact top-12 the operator uses
      val cand = Similarity.bruteForceTopK(df, col("vec_id") < 5, k = 12)
        .select(col("qid"), col("vec_id"), col("sim"))
      // reference: plain-Scala greedy over an eagerly computed pairwise
      // matrix (different program shape from the operator's lazy loop)
      val vs = emb.map { case (id, a) => id -> a.map(_.toDouble) }.toMap
      def cos(a: Long, b: Long): Double = {
        val (x, y) = (vs(a), vs(b))
        var s = 0.0; var i = 0
        while (i < x.length) { s += x(i) * y(i); i += 1 }
        var sa = 0.0; var sb = 0.0; i = 0
        while (i < x.length) { sa += x(i) * x(i); sb += y(i) * y(i); i += 1 }
        s / (math.sqrt(sa) * math.sqrt(sb))
      }
      val candRows = cand.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val expect = candRows.groupBy(_._1).flatMap { case (qid, rows) =>
        val cs = rows.sortBy(_._2)
        val sims = cs.map(_._3)
        val ids = cs.map(_._2)
        val m = Array.tabulate(ids.length, ids.length)((i, j) => cos(ids(i), ids(j)))
        val sel = scala.collection.mutable.ArrayBuffer.empty[Int]
        (1 to math.min(8, ids.length)).map { rank =>
          val scores = ids.indices.map { i =>
            if (sel.contains(i)) Double.NegativeInfinity
            else if (sel.isEmpty) sims(i)
            else 0.5 * sims(i) - 0.5 * sel.map(m(i)(_)).max
          }
          val best = scores.indices.maxBy(i => (scores(i), -ids(i).toDouble))
          sel += best
          (qid, rank.toLong, ids(best), scores(best))
        }
      }.toSet
      // the OPERATOR's df form over the synthetic frame
      val got = Similarity.mmrTopK(df, col("vec_id") < 5, c = 12, k = 8)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      // ids and ranks must agree exactly; scores to double precision
      def keys(s: Set[(Long, Long, Long, Double)]) = s.map(t => (t._1, t._2, t._3))
      assert(keys(got) === keys(expect), s"seed $seed selection diverged")
      val eScore = expect.map(t => (t._1, t._2) -> t._4).toMap
      got.foreach { case (q, r, _, sc) =>
        assert(math.abs(sc - eScore((q, r))) < 1e-9, s"seed $seed score ($q, $r)")
      }
    }
  }

  test("quantizer sizing derives from corpus cardinality (code, not prose)") {
    assert(Similarity.ivfK(100) === 10)
    assert(Similarity.ivfK(1000000) === 1000)
    assert(Similarity.ivfK(1) === 4)                 // clamp floor
    assert(Similarity.ivfK(100000000000L) === 4096)  // clamp ceiling
    assert(Similarity.lshPlanes(2048) === 6)         // ceil(log2(2048/32))
    assert(Similarity.lshPlanes(16) === 4)           // clamp floor
    assert(Similarity.lshPlanes(1L << 40) === Similarity.LshBitsCap) // bits-cap clamp (recall guard)
    assert(Similarity.lshPlanes(20000) === Similarity.LshBitsCap)    // sf1-scale hits the cap, not 10 bits
    assert(Similarity.planes.length ===
      Similarity.LshTablesMax * Similarity.LshMaxBits) // pool covers the max table count
    assert(Similarity.lshTables(2000) === Similarity.LshTablesBase)  // gate scales: 6 tables
    assert(Similarity.lshTables(8192) === Similarity.LshTablesBase)  // knee is exclusive
    assert(Similarity.lshTables(20000) === Similarity.LshTablesMax)  // past the bits knee: 12
    // probed corpus fraction stays ~constant as K grows
    for (k <- Seq(10, 100, 1000))
      assert(math.abs(Similarity.ivfNProbe(k).toDouble / k - 0.15) < 0.16)
  }

  test("PQ top-k: compressed codes + shortlist re-rank, decent recall") {
    val brute = Similarity.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(spark, sf).collect()
    pq.foreach(r => assert(r.getLong(0) != r.getLong(1), "no self-match"))
    val recall = pq.map(r => (r.getLong(0), r.getLong(1)))
      .count(brute.contains).toDouble / brute.size
    info(f"PQ recall vs brute force: $recall%.2f")
    // deterministic (fixed-point fits, integer ADC), so this is a fixed
    // number per fixture, not a flaky statistic; 1.00 measured at
    // sf0.001 / 0.94 at sf0.1 with the 64·k shortlist
    assert(recall > 0.8, f"PQ recall $recall%.2f unexpectedly low")
    // the compression claim: every codebook is at most PqK codewords of
    // PqD micro-unit components — codes address 4 bits per subspace
    val books = Similarity.pqCodebooks(spark, sf)
    assert(books.length === Similarity.PqM)
    books.foreach { b =>
      assert(b.length <= Similarity.PqK && b.nonEmpty)
      b.foreach(c => assert(c.length === Similarity.PqD))
    }
  }

  test("staged PQ index: search ≡ live PQ search; scan reads the codes table") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(3))
    val live = Similarity.pqTopK(spark, sf).collect().map(key).toSet
    val idx = Similarity.pqTopKIndexed(spark, sf)
    assert(idx.collect().map(key).toSet === live,
      "indexed PQ search must be bit-identical to the live search")
    // the ADC scan really reads the persisted codes table, not a
    // re-encode of the corpus
    val plan = idx.queryExecution.executedPlan.toString
    assert(plan.contains("pq_index"), s"expected the staged codes scan in:\n$plan")
  }

  test("SQ8 top-k: int8-reconstructed scoring, high recall vs brute force, deterministic") {
    val brute = Similarity.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = Similarity.sqTopK(spark, sf).collect()
    sq.foreach(r => assert(r.getLong(0) != r.getLong(1)))
    val recall = sq.map(r => (r.getLong(0), r.getLong(1)))
      .count(brute.contains).toDouble / brute.size
    info(f"SQ8 recall vs brute force: $recall%.2f")
    // 8-bit affine reconstruction error is ≤ w/2/255 per component
    // (~0.2% of the dim range) — recall should sit far above the
    // codebook-compressed PQ path
    assert(recall > 0.8, f"SQ8 recall $recall%.2f unexpectedly low")
    val again = Similarity.sqTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(again === sq.map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet,
      "SQ path must be deterministic")
  }

  test("BQ word packing: sign bits land in the exact 32-bit words") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // dims 1, 3, 33 positive (1-based) → word 0 bits {0, 2}, word 1 bit {0};
    // zeros and negatives contribute nothing (ties-to-zero)
    val e = Array.fill(64)(-1.0)
    e(0) = 0.5; e(2) = 1e-300; e(32) = 2.0; e(10) = 0.0
    val sig = Similarity.bqSigRows(
        Seq((1L, e)).toDF("vec_id", "embedding")
          .withColumn("e", col("embedding")))
      .collect()(0)
    assert(sig.getLong(1) === ((1L << 0) | (1L << 2)))
    assert(sig.getLong(2) === (1L << 0))
  }

  test("BQ top-k: Hamming shortlist + exact re-rank, decent recall vs brute force") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // seeded corpus LARGE enough that the shortlist (max(640, n/8)) is
    // a strict subset of the corpus — the Hamming rank is actually load-
    // bearing, not an everything-passes degenerate
    val rnd = new scala.util.Random(31)
    val emb = (0L until 2000L).map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val isQ = col("vec_id") < 10
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vec_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = sets(Similarity.bruteForceTopK(emb, isQ, 10))
    val bq = sets(Similarity.bqTopK(emb, isQ, 10))
    val recall = exact.map { case (q, ex) =>
      bq.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
    }.sum / exact.size
    assert(recall >= 0.7, s"BQ recall@10 = $recall")
    // determinism: a second run returns the identical row set
    assert(sets(Similarity.bqTopK(emb, isQ, 10)) === bq)
  }

  test("indexed BQ ≡ live BQ bit-for-bit; scan reads the slim signature table") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getLong(3))
    val live = Similarity.bqTopK(spark, sf).collect().map(key).toSet
    val idx = Similarity.bqTopKIndexed(spark, sf)
    assert(idx.collect().map(key).toSet === live)
    val plan = idx.queryExecution.executedPlan.toString
    assert(plan.contains("bq_index"), s"expected the staged signature scan in:\n$plan")
  }

  test("appended BQ ≡ live BQ of the FULL corpus — sign bits are data-independent") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getLong(3))
    val appended = Similarity.bqTopKAppended(spark, sf).collect().map(key).toSet
    val live = Similarity.bqTopK(spark, sf).collect().map(key).toSet
    assert(appended === live)
    // layout contract (VERDICT r12 #6): the post-append compact folds
    // base + delta down toward the size target BUT never below
    // min(input files, default parallelism) — serve listing cost flat
    // over any number of appends without collapsing scan parallelism
    // to one task (the sf1 3.6× layout artifact)
    val path = Similarity.stagedAppendedBqIndex(spark, sf)
    val files = new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val cores = spark.sparkContext.defaultParallelism
    assert(files >= 1 && files <= cores,
      s"post-append compact must leave [1, $cores] files, saw $files")
  }

  test("IVFPQ top-k: residual codes inside probed lists, decent recall") {
    val brute = Similarity.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = Similarity.ivfpqTopK(spark, sf).collect()
    ivfpq.foreach(r => assert(r.getLong(0) != r.getLong(1), "no self-match"))
    val recall = ivfpq.map(r => (r.getLong(0), r.getLong(1)))
      .count(brute.contains).toDouble / brute.size
    info(f"IVFPQ recall vs brute force: $recall%.2f")
    // list pruning costs recall vs flat PQ (a neighbor in an unprobed
    // list is unreachable) — that's the probe-fraction trade, same as
    // plain IVF's bar
    assert(recall > 0.5, f"IVFPQ recall $recall%.2f unexpectedly low")
    // model shape: coarse quantizer sized by ivfK, residual codebooks
    // by subspace geometry
    val (cents, books) = Similarity.ivfpqModel(spark, sf)
    assert(cents.length === Similarity.ivfK(Similarity.corpusSize(spark, sf)))
    assert(books.length === Similarity.PqM)
    books.foreach(b => assert(b.length <= Similarity.PqK && b.nonEmpty))
  }

  test("staged IVFPQ index: search ≡ live IVFPQ; probed lists partition-pruned; no per-search corpus encode") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(3))
    val live = Similarity.ivfpqTopK(spark, sf).collect().map(key).toSet
    val idx = Similarity.ivfpqTopKIndexed(spark, sf)
    assert(idx.collect().map(key).toSet === live,
      "indexed IVFPQ search must be bit-identical to the live search")
    val plan = idx.queryExecution.executedPlan.toString
    // the ADC side reads the persisted codes table, pruned to probed cids
    assert(plan.contains("ivfpq_index"),
      s"expected the staged codes scan in:\n$plan")
    assert(plan.contains("PartitionFilters: [cid"),
      s"codes scan not partition-pruned:\n$plan")
    // the live form's per-search full-corpus residual-encode stage must
    // be GONE: of the raw embeddings scans that remain, only the
    // shortlist re-rank reads without the query-batch pushdown
    // dedupe by the FileScan suffix: one logical scan can print at
    // several tree positions (exchange reuse), but it scans once
    val rawScans = plan.linesIterator.filter(l =>
      l.contains("Scan parquet") && l.contains("embeddings.parquet"))
      .map(l => l.substring(l.indexOf("FileScan"))).toSeq.distinct
    val unfiltered = rawScans.filterNot(l => l.contains("vec_id") && l.contains("< 10"))
    assert(unfiltered.size <= 1,
      s"per-search corpus encode still present (${unfiltered.size} unfiltered raw scans):\n$plan")
  }

  test("appended IVFPQ index ≡ live search under the frozen base-trained model") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(3))
    val appended = Similarity.ivfpqTopKAppended(spark, sf).collect().map(key).toSet
    // the model (coarse + books) never saw the delta; a live
    // full-corpus IVFPQ search under the SAME frozen model is the
    // ground truth the appended index must hit bit-for-bit
    val (_, cents, books) = Similarity.stagedAppendedIvfpqIndex(spark, sf)
    val live = Similarity.ivfpqTopKWithModel(spark, sf, cents, books)
      .collect().map(key).toSet
    assert(appended === live)
    // the delta really landed as extra files inside existing cid= dirs
    val (path, _, _) = Similarity.stagedAppendedIvfpqIndex(spark, sf)
    val dirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cid="))
    assert(dirs.nonEmpty)
    assert(dirs.exists(_.listFiles().count(_.getName.endsWith(".parquet")) > 1),
      "no cid partition holds an appended file")
  }

  test("IVF recall holds at a SECOND corpus size with derived parameters") {
    val big = "/root/testdata/sf0.1"
    val kSmall = Similarity.ivfK(Similarity.corpusSize(spark, sf))
    val kBig = Similarity.ivfK(Similarity.corpusSize(spark, big))
    assert(kBig > kSmall, "derived K must grow with the corpus")
    val brute = Similarity.bruteForceTopK(spark, big).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(spark, big).collect()
    val recall = ivf.map(r => (r.getLong(0), r.getLong(1)))
      .count(brute.contains).toDouble / brute.size
    info(f"IVF recall at n=${Similarity.corpusSize(spark, big)} (K=$kBig): $recall%.2f")
    assert(recall > 0.5, f"IVF recall $recall%.2f at the larger corpus")
  }

  test("ANN recall >= 0.9 on a CLUSTERED corpus (the regime blocking is built for)") {
    // The fixture embeddings are near-orthogonal random vectors — the
    // HARD regime for any blocking scheme (neighbors are barely closer
    // than strangers). Real embedding corpora are clustered; this pins
    // that the self-derived sizing rules actually shine there, so a
    // sizing regression cannot hide behind the hard fixture.
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val dim = 64; val nClusters = 25; val perCluster = 80 // n = 2000
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = for {
      c <- 0 until nClusters
      i <- 0 until perCluster
    } yield ((c * perCluster + i).toLong,
      centers(c).map(_ + 0.02 * rnd.nextGaussian()))
    val emb = rows.toDF("vec_id", "embedding")
    // one query per cluster for the first 10 clusters
    val isQuery = org.apache.spark.sql.functions.col("vec_id") % perCluster === 0 &&
      org.apache.spark.sql.functions.col("vec_id") < 10L * perCluster
    val brute = Similarity.bruteForceTopK(emb, isQuery, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.size === 100)
    val ivf = Similarity.ivfTopK(emb, isQuery, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ivfRecall = ivf.count(brute.contains).toDouble / brute.size
    info(f"clustered-corpus IVF recall: $ivfRecall%.3f")
    assert(ivfRecall >= 0.9, f"IVF recall $ivfRecall%.3f below 0.9 on clustered data")
    val lsh = Similarity.lshTopK(emb, isQuery, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val lshRecall = lsh.count(brute.contains).toDouble / brute.size
    info(f"clustered-corpus LSH recall: $lshRecall%.3f")
    assert(lshRecall >= 0.9, f"LSH recall $lshRecall%.3f below 0.9 on clustered data")
  }

  test("appended-IVF refresh: shifted append concentrates stale lists; re-fit restores the IVF contract") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // BASE: 2 tight clusters; DELTA (appended later): 6 NEW clusters in
    // directions the base quantizer never saw — the drift scenario the
    // refresh threshold exists for. Ids interleave within each era so
    // fit's k-lowest-id init spans the era's clusters. The appended
    // fraction (1200/2000 = 0.6) crosses AppendRefreshFraction.
    val rnd = new scala.util.Random(11)
    val dim = 64; val per = 200
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian()))
    def mk(cl: Seq[Int], idBase: Long) = for {
      i <- 0 until per; c <- cl.indices
    } yield (idBase + i.toLong * cl.length + c,
      centers(cl(c)).map(_ + 0.35 * rnd.nextGaussian()))
    val base = mk(Seq(0, 1), 0L)
    val delta = mk(Seq(2, 3, 4, 5, 6, 7), 400L)
    val emb = (base ++ delta).toDF("vec_id", "embedding")
    assert(Similarity.appendNeedsRefresh(base.size, delta.size),
      "the scenario must cross the refresh threshold")
    // queries: 12 delta vectors (two per new cluster)
    val isQuery = col("vec_id") >= 400L && col("vec_id") < 412L
    val truth = Similarity.bruteForceTopK(emb, isQuery, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size === 120)
    val k = Similarity.ivfK(2000) // 45 lists, as the catalog would size
    val nProbe = Similarity.ivfNProbe(k)
    def recall(cents: Array[Array[Double]]): Double =
      Similarity.ivfTopKWith(emb, isQuery, cents, 10, nProbe).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .count(truth.contains).toDouble / truth.size
    val staleCents = graft.operators.Clustering.fit(
      base.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e")),
      graft.operators.Clustering.Iters, k)
    val freshCents = graft.operators.Clustering.fit(
      emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e")),
      graft.operators.Clustering.Iters, k)
    // What a stale quantizer actually breaks at scale: vectors from the
    // unseen distribution are near-equidistant to every stale centroid,
    // so the argmin collapses and the WHOLE shifted append funnels into
    // a handful of lists — probing one of them scans a corpus-sized
    // candidate set (the inverted-file contract, candidate work ≈
    // nProbe·n/K, is gone). Recall can survive that collapse (the crowd
    // and its queries share the same list), which is exactly why
    // occupancy — not recall alone — must be the refresh signal.
    def maxListShare(cents: Array[Array[Double]]): Double = {
      val all = (base ++ delta)
      val occ = new Array[Int](cents.length)
      all.foreach { case (_, v) =>
        var bi = 0; var bd = Double.MaxValue
        cents.indices.foreach { ci =>
          var d = 0.0; var j = 0
          while (j < v.length) {
            val t = v(j) - cents(ci)(j); d += t * t; j += 1
          }
          if (d < bd) { bd = d; bi = ci }
        }
        occ(bi) += 1
      }
      occ.max.toDouble / all.size
    }
    val staleShare = maxListShare(staleCents)
    val freshShare = maxListShare(freshCents)
    val staleR = recall(staleCents)
    val freshR = recall(freshCents)
    info(f"stale: recall $staleR%.3f, max-list share $staleShare%.3f; " +
      f"fresh: recall $freshR%.3f, max-list share $freshShare%.3f")
    // refresh restores BOTH halves of the IVF contract: recall ≥ 0.9
    // with bounded per-list occupancy — one NATURAL cluster per list
    // (250/2000 = 0.125) is the fixture's floor; what must not survive
    // is a multi-cluster funnel
    assert(freshR >= 0.9, f"refresh must restore recall, got $freshR%.3f")
    assert(freshShare <= 0.15,
      f"refreshed lists must be balanced, max share $freshShare%.3f")
    // and the stale index demonstrably violates the occupancy bound —
    // the probe-cost blowup the AppendRefreshFraction trigger exists for
    assert(staleShare >= 2 * freshShare,
      f"shifted append must visibly concentrate stale lists " +
        f"(stale $staleShare%.3f vs fresh $freshShare%.3f)")
  }

  test("LSH top-k candidates are a subset ranked identically to brute force") {
    val brute = Similarity.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(spark, sf).collect()
    // every LSH hit is a real vector pair with correct (qid != vec_id)
    lsh.foreach(r => assert(r.getLong(0) != r.getLong(1)))
    // recall is data-dependent; require the mechanism to produce hits
    assert(lsh.nonEmpty, "LSH produced no candidates at all")
    val recall = lsh.map(r => (r.getLong(0), r.getLong(1)))
      .count(brute.contains).toDouble / brute.size
    info(f"LSH recall vs brute force: $recall%.2f")
    // the documented LSH operating floor (VERDICT r10 #5: no silent
    // drift): 6-table radius-1 multi-probe measures 0.85 at sf0.1 and
    // 0.87 at sf1 with the 12-table past-the-knee geometry; the
    // fixture-scale guard sits at 0.7 so a probe/bits/table-sizing
    // regression fails HERE, not in a bench JSON nobody asserts on
    assert(recall >= 0.7, f"LSH recall $recall%.2f under the 0.7 floor")
  }
}
