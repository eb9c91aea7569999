package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.sources.Tables

/** Similarity search over `embeddings.embedding` (SURVEY §2 B20).
  *
  * Reference grounding: the distance math is the K-Means sketch's
  * "coordinate range" partitioning idea (`/root/reference/kmeans.go:14-25`)
  * done properly: brute-force cosine as the exactness baseline, a
  * random-hyperplane LSH bucketing (Charikar, STOC 2002) as the scale
  * path — the IVF analogue being `Clustering`'s centroids as coarse
  * quantizer.
  *
  * Scale notes (100 TB design point):
  *  - brute-force: the query set is tiny and broadcast; the corpus is
  *    scanned once, partition-parallel; top-k per query is a window over
  *    k·P candidate rows, never a global sort of all scores. Norms are
  *    computed once per vector, not per (query, vector) pair.
  *  - LSH: [[lshTables]] INDEPENDENT signed-hyperplane tables
  *    (OR-construction — the standard LSH amplification, Indyk-Motwani
  *    / Charikar), each `lshPlanes(n)` ≈ log₂(n/32) bits over its own
  *    slice of the seeded plane pool; a query probes, per table, its
  *    own bucket plus every single-bit flip (multi-probe), and the
  *    candidate set is the UNION across tables, dedup'd before
  *    scoring. A single table at ~2% probe fraction measured
  *    recall@10 = 0.22 at sf0.1 — the OR across 4 coarser tables
  *    lifts the per-neighbor hit probability to 1 − (1 − p₁)⁴ at a
  *    probed fraction (~4·9/256 ≈ 14%) comparable to IVF's 15%.
  *    Exactness traded for a bounded candidate set; recall is
  *    property-tested against the brute-force baseline and recorded
  *    per bench round (`lsh_recall_at_10`).
  *  - both structures SIZE THEMSELVES from the corpus row count
  *    (`ivfK` ≈ √n lists with nProbe ≈ 0.15·K, `lshPlanes` ≈
  *    log₂(n/32) per table) — the sizing rules are code, not
  *    comments, and the recall property is tested at two corpus
  *    sizes.
  */
object Similarity {

  /** Embedding vectors with the L2 norm pre-computed once per vector
    * (fold order matches the DuckDB oracle's list_reduce exactly).
    * Shared with Dedup's embedding near-dup operators. */
  private[operators] def vecs(spark: SparkSession, dir: String): DataFrame =
    vecs(Tables(spark, dir, "embeddings"))

  /** df form: expects (vec_id: Long, embedding: Array[Float|Double]).
    * The norm kernel is the codegen'd [[graft.functions.DotF64]] —
    * Σx·x left-fold, bit-identical to the `aggregate` form it replaced
    * and to the oracle's list_reduce. */
  private[operators] def vecs(emb: DataFrame): DataFrame =
    emb
      .withColumn("e", col("embedding").cast("array<double>"))
      .withColumn("nrm",
        sqrt(graft.functions.VectorExprs.dot(col("e"), col("e"))))
      .select(col("vec_id"), col("e"), col("nrm"))

  /** `vecs` plus the micro-unit quantized vector `eq` (the q_kmeans
    * FpScale convention) — quantizer distances run on `eq` in EXACT
    * integer arithmetic, scoring runs on the original doubles. The
    * quantization is identical to `Clustering.qvecs`, so the IVF
    * coarse quantizer and q_kmeans share one fixed-point convention. */
  private def vecsQ(spark: SparkSession, dir: String): DataFrame =
    vecsQ(Tables(spark, dir, "embeddings"))

  private def vecsQ(emb: DataFrame): DataFrame =
    vecs(emb).withColumn("eq",
      transform(col("e"),
        x => round(x * lit(Clustering.FpScale)).cast(LongType)))

  /** Cosine between the aliased sides — codegen'd dot product, fold
    * order identical to the oracle's list_reduce (bit-parity). On the
    * n·k pair joins this kernel IS the profile; the interpreted
    * `aggregate(zip_with(..))` lambda was ~10× slower. */
  private def cosCol: Column =
    graft.functions.VectorExprs.dot(col("q.e"), col("c.e")) /
      (col("q.nrm") * col("c.nrm"))

  /** The catalog query batch: the first 10 vectors. ONE definition —
    * the brute-force / IVF / indexed / LSH forms and the appended-index
    * parity spec all share it, so the sets can never drift apart. */
  private[graft] def QueryVecs: Column = col("vec_id") < 10

  /** B20 q_simsearch: exact cosine top-k (k=10) for the query vectors
    * vec_id < 10 over the whole corpus (self excluded). */
  def bruteForceTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    bruteForceTopK(Tables(spark, dir, "embeddings"), QueryVecs, k)

  /** df form: `isQuery` selects the query vectors out of `emb`. */
  def bruteForceTopK(emb: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val v = vecs(emb)
    val q = v.where(isQuery)
    val scored = broadcast(q).as("q").join(v.as("c"),
        col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("qid"), col("c.vec_id").as("vec_id"),
        cosCol.as("sim"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast(LongType))
      .where(col("rn") <= k)
  }

  // ---- MMR diversity re-rank (q_simsearch_mmr): retrieval's dedup
  // step — plain top-k returns near-duplicate neighbors (a training-
  // data retrieval that surfaces 10 copies of the same boilerplate is
  // worse than 10 diverse matches). Maximal Marginal Relevance
  // (Carbonell & Goldstein, SIGIR 1998) greedily picks
  //   argmax λ·sim(q, d) − (1 − λ)·max_{s ∈ selected} sim(d, s)
  // λ = 1/2 EXACTLY (both terms scale by 0.5 — a power of two, so
  // every float multiply is exact and the DuckDB replay is
  // bit-identical; a 0.7 would round differently per engine).
  //
  // Scale shape: candidates per query are the bounded top-[[MmrC]]
  // shortlist; the greedy loop is INHERENTLY sequential per query, so
  // it runs executor-side in a typed flatMapGroups over the
  // (qid → candidates) groups — each group is ≤ MmrC vectors, no
  // driver collect, queries parallelize across executors. The catalog
  // form draws candidates from the exact brute-force top-C so the
  // oracle replays end-to-end; a deployment swaps in any ANN
  // shortlist (IVF/PQ/LSH above) without touching the re-rank.

  /** Candidate-shortlist width feeding the greedy MMR selection. */
  val MmrC = 30
  /** Final diversity-ranked size. */
  val MmrK = 10

  def mmrTopK(spark: SparkSession, dir: String, c: Int = MmrC,
              k: Int = MmrK): DataFrame =
    mmrTopK(Tables(spark, dir, "embeddings"), QueryVecs, c, k)

  /** df form: expects (vec_id, embedding); candidates come from the
    * exact brute-force top-`c` of the same frame. */
  def mmrTopK(emb: DataFrame, isQuery: Column, c: Int, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cand = bruteForceTopK(emb, isQuery, c)
      .select(col("qid"), col("vec_id"), col("sim"))
    val withVec = cand.join(vecs(emb), "vec_id")
      .select(col("qid"), col("vec_id"), col("sim"), col("e"), col("nrm"))
      .as[(Long, Long, Double, Seq[Double], Double)]
    withVec.groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        // deterministic base order: ascending vec_id (ties in every
        // argmax below resolve to the LOWEST vec_id, oracle-mirrored)
        val cs = it.toArray.sortBy(_._2)
        def dot(a: Seq[Double], b: Seq[Double]): Double = {
          var s = 0.0; var i = 0
          while (i < a.length) { s += a(i) * b(i); i += 1 } // left fold ≡ list_reduce
          s
        }
        val n = cs.length
        val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
        val maxSel = Array.fill(n)(Double.NegativeInfinity)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
        var rank = 1L
        while (rank <= math.min(k, n)) {
          var best = -1
          var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < n) {
            if (!selected.contains(i)) {
              val score =
                if (selected.isEmpty) cs(i)._3
                else 0.5 * cs(i)._3 - 0.5 * maxSel(i)
              if (score > bestScore) { bestScore = score; best = i }
            }
            i += 1
          }
          selected += best
          out += ((qid, rank, cs(best)._2, bestScore))
          var j = 0
          while (j < n) { // refresh each candidate's max-sim-to-selected
            if (!selected.contains(j)) {
              val s = dot(cs(j)._4, cs(best)._4) / (cs(j)._5 * cs(best)._5)
              if (s > maxSel(j)) maxSel(j) = s
            }
            j += 1
          }
          rank += 1
        }
        out.iterator
      }
      .toDF("qid", "rank", "vec_id", "score")
  }

  // ---- quantizer sizing (IMPLEMENTED, not prose): both ANN structures
  // derive their parameters from the corpus size n, so the same code is
  // correctly sized at sf0.001 and at 100 TB. The row count is one
  // parquet-metadata count, memoized per (dir, data fingerprint).

  private val sizeCache =
    new scala.collection.concurrent.TrieMap[(String, String), Long]()

  /** Corpus cardinality of `embeddings` under `dir` (memoized). */
  def corpusSize(spark: SparkSession, dir: String): Long =
    sizeCache.getOrElseUpdate((dir, graft.Fs.tableFingerprint(dir, "embeddings")),
      Tables(spark, dir, "embeddings").count())

  /** IVF list count ≈ √n (the standard inverted-file sizing: per-query
    * work nProbe·n/K + K centroid distances is minimized at K ∝ √n),
    * clamped to keep the quantizer fit sane at tiny/huge corpora. */
  def ivfK(n: Long): Int =
    math.max(4, math.min(4096, math.round(math.sqrt(n.toDouble)).toInt))

  /** Probe count scales WITH K so the probed corpus fraction
    * (≈ nProbe/K ≈ 15%) — and therefore recall — stays roughly constant
    * as the corpus grows; property-tested at two corpus sizes. */
  def ivfNProbe(k: Int): Int = math.max(3, math.round(0.15 * k).toInt)

  /** Independent hyperplane tables (OR-construction). Each table is an
    * AND of `lshPlanes(n)` sign bits (precision); the OR across tables
    * is the recall amplifier — a true neighbor only needs to share a
    * (multi-probed) bucket in ONE of them. History: 1 table = 0.22
    * recall@10 at sf0.1; 4 tables at radius-1 multi-probe = 0.73
    * (per-table hit ≈ 0.28, so 1−0.72⁴); round 11 raises to 6 for a
    * predicted 1−0.72⁶ ≈ 0.86 at ~1.5× the candidate budget — still an
    * IVF-comparable probed fraction, and the ONLY knob that lifts the
    * recall ceiling without touching per-table precision (more bits
    * would shrink buckets; radius-2 probing would square the probe
    * count). Tables 0–3 read the identical seeded plane slices as
    * before (the pool extends; existing slices are unchanged). */
  val LshTablesBase = 6
  /** Table count past the [[LshBitsCap]] occupancy knee. Once bits are
    * capped, per-table hit probability is FIXED (p^LshBitsCap), so the
    * only recall lever left is the OR across tables: the sf1 run
    * measured per-table hit ≈ 0.14 at 8 bits, so 6 tables → 0.60
    * recall and 12 → ~0.84. Tables cost linearly (build rows, probe
    * count) — the standard LSH scale spend. */
  val LshTablesMax = 12
  /** n-aware table count: [[LshTablesBase]] while log₂(n/TargetBucket)
    * fits under [[LshBitsCap]] (bits still absorb growth), doubling to
    * [[LshTablesMax]] past the 2^cap·TargetBucket ≈ 8k knee where bits
    * freeze and recall must come from more tables. Gate scales
    * (sf0.01/sf0.1) sit below the knee → 6 tables, unchanged results;
    * the DuckDB oracle replays the same CASE. */
  def lshTables(n: Long): Int =
    if (n > (TargetBucket.toLong << LshBitsCap)) LshTablesMax else LshTablesBase
  /** Per-table plane-pool stride (pool = LshTablesMax · LshMaxBits
    * planes; table t's bit i reads plane t·LshMaxBits + i). Pool
    * GEOMETRY only — the bits actually hashed are capped by
    * [[LshBitsCap]] below. */
  val LshMaxBits = 12
  /** Cap on bits actually hashed per table. The sf1 scale-proof run
    * measured recall@10 collapsing 0.73 → 0.30 when log₂(n/32) pushed
    * the code to 10 bits: per-table hit probability is p^bits, so
    * every extra bit multiplies the miss rate — bits must NOT grow
    * with n. Past 2^8·32 ≈ 8k vectors, occupancy (and thus candidate
    * fraction) grows linearly instead; the scale counter is MORE
    * TABLES (recall) + IVF-style partition pruning of the band index
    * (cost), not more bits. sf0.01/sf0.1 compute 4/6 bits — below the
    * cap — so gate-scale buckets and oracles are bit-identical. */
  val LshBitsCap = 8
  /** Per-table target bucket occupancy. Coarser than the old
    * single-table 16: with [[lshTables]] tables OR'd the candidate
    * budget multiplies by ~L, so each table affords wider buckets —
    * and p^b per-table hit probability rises accordingly. */
  val TargetBucket = 32

  /** Hyperplane count PER TABLE ≈ log₂(n / TargetBucket): each plane
    * halves expected bucket occupancy, so this holds occupancy near
    * [[TargetBucket]] vectors up to the [[LshBitsCap]] clamp; past
    * 2^8·32 ≈ 8k vectors occupancy grows linearly — the standard LSH
    * trade, countered by more tables, not more bits (see the
    * [[LshBitsCap]] scaladoc for the measured recall cliff). */
  def lshPlanes(n: Long): Int =
    math.max(4, math.min(LshBitsCap,
      math.ceil(math.log(math.max(1.0, n.toDouble / TargetBucket)) / math.log(2.0)).toInt))

  // Deterministic random hyperplanes (seed 7) in R^64 — a fixed pool of
  // LshTablesMax·LshMaxBits; table t's bit i reads plane t·LshMaxBits + i
  // (disjoint slices → independent tables, since pool entries are iid).
  // The pool covers LshTablesMax so growing the ACTIVE table count
  // never re-draws planes: fills are sequential, so tables 0-5 read
  // the identical slices at every n (gate-scale bit-parity).
  // private[graft]: the DuckDB oracle inlines these as exact
  // round-trip double literals.
  private[graft] val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(LshTablesMax * LshMaxBits)(Array.fill(64)(rnd.nextGaussian()))
  }

  /** ONE compiled kernel for the whole signature array — see
    * [[graft.functions.LshSignatures]] (bit-identical to the
    * per-plane `bucketCol` composition, spec-asserted; constant
    * bytecode at any table count, so 12 tables stay inside
    * whole-stage codegen instead of tripping the 64 KB Janino limit
    * that the unrolled `array(when(dot..))` form hits). */
  private def signaturesCol(nTables: Int, nPlanes: Int): Column =
    graft.functions.VectorExprs.lshSignatures(
      col("e"), planes, 64, LshMaxBits, nTables, nPlanes)

  /** nPlanes-bit signed-hyperplane bucket id of table `t` over vector
    * column `e`: bit i = sign of ⟨plane_{t·LshMaxBits+i}, e⟩
    * (codegen'd dot kernel, same fold order as the oracle's
    * list_reduce → identical buckets). Retained as the DECLARATIVE
    * reference form: the spec asserts [[signaturesCol]] reproduces it
    * bit-for-bit. */
  private[graft] def bucketCol(t: Int, nPlanes: Int): Column =
    (0 until nPlanes).map { i =>
      when(graft.functions.VectorExprs.dot(
        lit(planes(t * LshMaxBits + i)), col("e")) > 0,
        lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** IVF (inverted-file) approximate top-k: `Clustering.fitFixed`'s
    * K-Means centroids act as the coarse quantizer; each corpus vector
    * lives in its nearest centroid's inverted list, and a query scans
    * only the `nProbe` nearest lists — the candidate set is ~nProbe/K
    * of the corpus. The standard ANN scale shape (quantizer state is
    * k·64 longs; lists are just a `cid` column, so "probing a list" is
    * a broadcast-joined filter, partition-parallel). The quantizer and
    * all list/probe decisions are FIXED-POINT (micro-unit BIGINT, the
    * q_kmeans convention): "approximate" means approximate-vs-brute-
    * force, not nondeterministic — given the corpus, every assignment
    * and probe is bit-reproducible, which is what lets the DuckDB
    * oracle replay the whole search (quantization moves a list
    * boundary by ≤5e-7 per component — noise at quantizer granularity,
    * recall is property-tested vs `bruteForceTopK` either way). */
  def ivfTopK(spark: SparkSession, dir: String, k: Int = 10, nProbe: Int = 0): DataFrame = {
    val lists = ivfK(corpusSize(spark, dir))          // K ≈ √n lists
    val probes = if (nProbe > 0) nProbe else ivfNProbe(lists)
    ivfBodyQ(vecsQ(spark, dir), QueryVecs, k, probes,
      ivfCentsFixed(spark, dir, lists))
  }

  /** Memoizing fixed-point quantizer fit at K lists (the `fitFixed`
    * cache keys on (dir, iters, k, fingerprint) so kmeans' K=10 fit
    * and the IVF K≈√n fit coexist). */
  private def ivfCentsFixed(spark: SparkSession, dir: String, lists: Int): Array[Array[Long]] =
    Clustering.fitFixed(spark, dir, Clustering.Iters, lists)

  /** df form: expects (vec_id, embedding); sizes its quantizer from the
    * corpus count and fits it on the spot (the catalog form memoizes). */
  def ivfTopK(emb: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val v = vecsQ(emb)
    val lists = ivfK(v.count())
    ivfBodyQ(v, isQuery, k, ivfNProbe(lists),
      Clustering.fitFixed(v.select(col("vec_id"), col("eq").as("e")),
        Clustering.Iters, lists))
  }

  // ---- FILTERED ANN (q_simsearch_filtered / q_simsearch_ivf_filtered):
  // predicate + vector search in one query — "nearest English documents"
  // — the staple every production vector store grew (Vespa/Qdrant-style
  // filtered search). Semantics here are PRE-FILTERING: the candidate
  // corpus is restricted by a semi-join BEFORE scoring/top-k, so the
  // result always carries k true matches (post-filtering an unfiltered
  // top-k can starve — all k neighbors fail the predicate). The metadata
  // side stays a separate table joined on vec_id = doc_id: the scan is
  // column-pruned to (doc_id, lang) and the semi-join is the standard
  // shuffle-or-broadcast the optimizer already picks; at 100 TB the
  // filter never widens the vector rows. The IVF form composes the
  // filter with the probed-list search — same memoized quantizer, same
  // probe math as q_simsearch_ivf, candidates = probed ∩ allowed.

  /** The catalog predicate: documents whose lang = 'en' (doc_id ≡
    * vec_id row-for-row in the fixture corpus). */
  private def allowedIds(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents").where(col("lang") === "en")
      .select(col("doc_id").as("vec_id"))

  /** North-star q_simsearch_filtered: exact filtered top-k — queries
    * unrestricted, candidates pre-filtered. */
  def filteredTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val v = vecs(spark, dir)
    val q = v.where(QueryVecs)
    val c = v.join(allowedIds(spark, dir), Seq("vec_id"), "left_semi")
    val scored = broadcast(q).as("q").join(c.as("c"),
        col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("qid"), col("c.vec_id").as("vec_id"),
        cosCol.as("sim"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast(LongType))
      .where(col("rn") <= k)
  }

  /** North-star q_simsearch_ivf_filtered: the IVF search with the
    * candidate lists pre-filtered — same quantizer/probe math as
    * q_simsearch_ivf, so the filter composes with (not replaces) the
    * approximate search; recall caveat: with a selective predicate the
    * probed lists hold fewer allowed members, the standard
    * filtered-ANN trade (production engines widen nProbe as
    * selectivity drops — here the probe count is the explicit knob). */
  def ivfFilteredTopK(spark: SparkSession, dir: String, k: Int = 10,
                      nProbe: Int = 0): DataFrame = {
    val lists = ivfK(corpusSize(spark, dir))
    val probes = if (nProbe > 0) nProbe else ivfNProbe(lists)
    ivfBodyQ(vecsQ(spark, dir), QueryVecs, k, probes,
      ivfCentsFixed(spark, dir, lists),
      corpusFilter = Some(allowedIds(spark, dir)))
  }

  /** Quantized-quantizer search body: list assignment and probe
    * ranking on `eq` (exact BIGINT d2, ties to the lower cid via
    * struct order), cosine scoring on the original doubles (the
    * list_reduce-parity kernel proven by q_simsearch's oracle). */
  private def ivfBodyQ(v: DataFrame, isQuery: Column, k: Int, probes: Int,
                       cents: Array[Array[Long]],
                       corpusFilter: Option[DataFrame] = None): DataFrame = {
    val cv0 = v
      .withColumn("ds", graft.functions.VectorExprs.nearestLists(col("eq"), cents, 1))
      .withColumn("cid", col("ds")(0).getField("cid")).drop("ds", "eq")
    // filtered-ANN pre-filter: candidates semi-joined to the allowed id
    // set BEFORE scoring (queries stay unrestricted)
    val cv = corpusFilter.fold(cv0)(f => cv0.join(f, Seq("vec_id"), "left_semi"))
    val q = v.where(isQuery)
      .withColumn("ds", graft.functions.VectorExprs.nearestLists(col("eq"), cents, probes))
      .withColumn("probe", explode(expr("transform(ds, s -> s.cid)")))
      .drop("ds", "eq")
    val scored = broadcast(q).as("q").join(cv.as("c"),
        col("q.probe") === col("c.cid") && col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("qid"), col("c.vec_id").as("vec_id"),
        cosCol.as("sim"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast(LongType))
      .where(col("rn") <= k)
  }

  /** Float-quantizer search body — retained as the seam the
    * centroid-drift refresh spec measures stale-vs-fresh recall on
    * (externally supplied double centroids). */
  private def ivfBody(v: DataFrame, isQuery: Column, k: Int, probes: Int,
                      cents: Array[Array[Double]]): DataFrame = {
    val ds = Clustering.distStructs(cents)
    // distances to all centroids, sorted: [0] = own list, [0..probes) = probes
    def withDists(df: DataFrame): DataFrame =
      df.withColumn("ds", array_sort(array(ds: _*)))
    val cv = withDists(v)
      .withColumn("cid", col("ds")(0).getField("cid")).drop("ds")
    val q = withDists(v.where(isQuery))
      .withColumn("probe", explode(expr(s"transform(slice(ds, 1, $probes), s -> s.cid)")))
      .drop("ds")
    val scored = broadcast(q).as("q").join(cv.as("c"),
        col("q.probe") === col("c.cid") && col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("qid"), col("c.vec_id").as("vec_id"),
        cosCol.as("sim"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast(LongType))
      .where(col("rn") <= k)
  }

  // ---- persisted IVF index (VERDICT r5 #1): `ivfTopK` re-assigns the
  // whole corpus to centroids on EVERY invocation — at 100 TB that is a
  // full-corpus scan × K distance kernels per query batch. The indexed
  // form stages the assignment ONCE as a cid-partitioned parquet layout
  // (the Sinks writePartitioned machinery), so probing a list becomes a
  // partition-pruned directory read: scan cost ∝ lists PROBED
  // (nProbe/K ≈ 15% of the corpus), not lists existing, and the
  // assignment cost is paid once per corpus version, amortized over
  // every subsequent query batch.

  /** Memoized staged index, keyed (dir, data fingerprint): path of the
    * cid-partitioned corpus + the centroids that defined it (quantizer
    * state k·64 micro-unit longs — bounded driver memory). */
  private val indexCache =
    new scala.collection.concurrent.TrieMap[(String, String), (String, Array[Array[Long]])]()

  /** Drop the memoized index metadata so the NEXT call re-stages.
    * CONTRACT: materialize any previously returned indexed/appended
    * search DataFrame before clearing — re-staging overwrites the
    * stable root in place, so un-collected plans built against the old
    * file listing would hit FileNotFoundException on evaluation. */
  def clearIndexCache(): Unit = {
    indexCache.clear(); appendCache.clear(); pqIndexCache.clear()
    ivfpqIndexCache.clear(); ivfpqAppendCache.clear()
  }

  /** Drop the memoized PQ / IVFPQ models (codebooks + centroids) —
    * model memos in the bench taxonomy (a warm hit would replace the
    * fit compute), cleared wherever the K-Means fit cache is. */
  def clearPqCache(): Unit = { pqCache.clear(); ivfpqCache.clear() }

  /** Per-artifact clears for the bench's min-of-2 build timings
    * (VERDICT r9 #1): each build metric cold-starts ONLY its own
    * artifact — the aggregate [[clearIndexCache]] would also
    * invalidate sibling indices already measured (and deliberately
    * left warm for the matrix's consumer rows). */
  def clearIvfIndexCache(): Unit = indexCache.clear()
  def clearIvfAppendCache(): Unit = appendCache.clear()
  def clearPqIndexCache(): Unit = pqIndexCache.clear()
  def clearIvfpqModelCache(): Unit = ivfpqCache.clear()
  def clearIvfpqIndexCache(): Unit = ivfpqIndexCache.clear()
  def clearIvfpqAppendCache(): Unit = ivfpqAppendCache.clear()

  private[graft] def stagedIvfIndex(spark: SparkSession, dir: String): (String, Array[Array[Long]]) =
    indexCache.getOrElseUpdate((dir, graft.Fs.tableFingerprint(dir, "embeddings")), {
      val lists = ivfK(corpusSize(spark, dir))
      val cents = ivfCentsFixed(spark, dir, lists)
      val assigned = vecsQ(spark, dir)
        .withColumn("best", element_at(graft.functions.VectorExprs.nearestLists(col("eq"), cents, 1), 1))
        .withColumn("cid", col("best.cid")).drop("best", "eq")
      val root = new java.io.File(stableRoot(dir), "ivf_index")
      graft.sources.Sinks.writePartitioned(
        assigned, root.getAbsolutePath, Seq("cid"), Seq("vec_id"))
      (root.getAbsolutePath, cents)
    })

  /** North-star q_simsearch_ivf_indexed: IVF search over the PERSISTED
    * index. Identical search semantics to `ivfTopK` (same memoized
    * quantizer, same probe sizing, parquet round-trips doubles
    * bit-exactly → identical results), but the corpus side is a read
    * of the staged cid-partitioned table with the probed list ids
    * inlined as a static `cid IN (…)` predicate — the scan's
    * PartitionFilters prune the directory listing to the ≤ nQueries ×
    * nProbe probed lists, and NO full-corpus assignment stage exists
    * in the plan. The probed-cid union is bounded driver state
    * (ints), same pattern as the centroid array itself. */
  def ivfTopKIndexed(spark: SparkSession, dir: String, k: Int = 10,
                     nProbe: Int = 0): DataFrame = {
    val (path, cents) = stagedIvfIndex(spark, dir)
    searchIndex(spark, dir, path, cents, k, nProbe)
  }

  private def searchIndex(spark: SparkSession, dir: String, path: String,
                          cents: Array[Array[Long]], k: Int,
                          nProbe: Int): DataFrame = {
    val probes = if (nProbe > 0) nProbe else ivfNProbe(cents.length)
    // query batch: derives probe lists from the tiny centroid array —
    // the only corpus touch is the pushed-filter vec_id < 10 read
    val q = vecsQ(spark, dir).where(QueryVecs)
      .withColumn("dsrt", graft.functions.VectorExprs.nearestLists(col("eq"), cents, probes))
      .withColumn("probe", explode(expr("transform(dsrt, s -> s.cid)")))
      .drop("dsrt", "eq")
    val probeCids = q.select(col("probe")).distinct().collect()
      .map(_.getInt(0).asInstanceOf[AnyRef])
    val corpus = spark.read.parquet(path)
      .where(col("cid").isin(probeCids: _*)) // static PartitionFilters
    val scored = broadcast(q).as("q").join(corpus.as("c"),
        col("q.probe") === col("c.cid") && col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("qid"), col("c.vec_id").as("vec_id"),
        cosCol.as("sim"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast(LongType))
      .where(col("rn") <= k)
  }

  /** North-star q_simsearch_ivf_append: INCREMENTAL index maintenance.
    * A real 100 TB corpus is not static — new batches arrive after the
    * index is built, and rebuilding per batch would cost a full-corpus
    * assignment each time. The quantizer is trained on the BASE corpus
    * only (the first ~90% of vectors — it genuinely never sees the
    * delta, as in a real pipeline where the quantizer predates the
    * batch), the base index is staged from it, and the late batch is
    * assigned with that existing quantizer and appended into its
    * `cid=…` directories — existing partitions are never rewritten and
    * the append cost is |delta| × K distance kernels. Searches over
    * the appended index are BIT-IDENTICAL to a LIVE search of the full
    * corpus under the same quantizer (same centroids ⇒ same assignment
    * of every vector; spec-asserted via ivfTopKWithFixed, and the
    * DuckDB oracle replays the base-only fit). Centroid drift
    * from accumulated appends is the operator's documented refresh
    * trigger: re-fit + rebuild when the appended fraction gets large. */
  def ivfTopKAppended(spark: SparkSession, dir: String, k: Int = 10,
                      nProbe: Int = 0): DataFrame = {
    val (path, cents) = stagedAppendedIndex(spark, dir)
    searchIndex(spark, dir, path, cents, k, nProbe)
  }

  /** Test seam: live (unstaged) IVF search under externally-supplied
    * FIXED-POINT centroids — what the appended index must agree with. */
  private[graft] def ivfTopKWithFixed(spark: SparkSession, dir: String,
                                      cents: Array[Array[Long]], k: Int = 10,
                                      nProbe: Int = 0): DataFrame = {
    val probes = if (nProbe > 0) nProbe else ivfNProbe(cents.length)
    ivfBodyQ(vecsQ(spark, dir), QueryVecs, k, probes, cents)
  }

  /** df-form of the seam: search `emb` under external centroids — the
    * surface the centroid-drift refresh spec measures stale-vs-fresh
    * recall on. */
  private[graft] def ivfTopKWith(emb: DataFrame, isQuery: Column,
                                 cents: Array[Array[Double]], k: Int,
                                 nProbe: Int): DataFrame =
    ivfBody(vecs(emb), isQuery, k, nProbe, cents)

  /** Centroid-drift refresh trigger (VERDICT r7 #7), as CODE: a
    * base-trained quantizer stays valid only while the appended
    * fraction is bounded. Vectors from a SHIFTED append are
    * near-equidistant to every stale centroid, so the assignment
    * argmin collapses and the new mass funnels into a handful of lists
    * — the inverted-file cost contract (candidate work ≈ nProbe·n/K)
    * silently becomes corpus-linear, even while recall looks fine
    * because the crowd and its queries share the same overloaded list
    * (measured in the refresh spec: stale max-list share ~0.3+ vs
    * ~0.05 refreshed). Past this appended fraction the index is
    * REBUILT under a fresh full-corpus fit instead of appending into
    * stale lists. 0.5 is the standard rebuild heuristic (amortizes one
    * full re-fit + restage against at least a doubling of the corpus —
    * the same geometric-doubling argument as dynamic arrays); corpora
    * with known drift refresh earlier. */
  val AppendRefreshFraction = 0.5

  def appendNeedsRefresh(baseRows: Long, appendedRows: Long): Boolean =
    appendedRows.toDouble / math.max(1L, baseRows + appendedRows).toDouble >
      AppendRefreshFraction

  private val appendCache =
    new scala.collection.concurrent.TrieMap[(String, String), (String, Array[Array[Long]])]()

  private[graft] def stagedAppendedIndex(spark: SparkSession, dir: String): (String, Array[Array[Long]]) =
    appendCache.getOrElseUpdate((dir, graft.Fs.tableFingerprint(dir, "embeddings")), {
      val n = corpusSize(spark, dir)
      val cut = n - math.max(1L, n / 10) // last ~10% of IDS arrive "late"
      val v = vecsQ(spark, dir)
      // quantizer trained on the base only — the delta does not exist
      // yet; degenerate corpora whose base slice is empty fall back to
      // a full fit (zero centroids would break the assignment kernel),
      // and a batch past the refresh threshold takes the REBUILD path
      // (fresh full-corpus fit) instead of appending into stale lists.
      // The refresh fraction uses COUNTED base rows, not the id
      // threshold: `cut` is an id cutoff, and with sparse ids the two
      // diverge arbitrarily (ids 0..9 ∪ 5000.. would make cut≈900
      // claim a 10% append while 99% of the rows are actually late).
      val baseRows = v.where(col("vec_id") < cut).count()
      val baseFit =
        if (appendNeedsRefresh(baseRows, n - baseRows)) Array.empty[Array[Long]]
        else Clustering.fitFixed(
          v.where(col("vec_id") < cut).select(col("vec_id"), col("eq").as("e")),
          Clustering.Iters, ivfK(n))
      val cents =
        if (baseFit.nonEmpty) baseFit
        else Clustering.fitFixed(v.select(col("vec_id"), col("eq").as("e")),
          Clustering.Iters, ivfK(n))
      def assigned(df: DataFrame): DataFrame = df
        .withColumn("best", element_at(graft.functions.VectorExprs.nearestLists(col("eq"), cents, 1), 1))
        .withColumn("cid", col("best.cid")).drop("best", "eq")
      val root = new java.io.File(stableRoot(dir), "ivf_index_inc")
      graft.sources.Sinks.writePartitioned(
        assigned(v.where(col("vec_id") < cut)),
        root.getAbsolutePath, Seq("cid"), Seq("vec_id"))
      graft.sources.Sinks.appendPartitioned(
        assigned(v.where(col("vec_id") >= cut)),
        root.getAbsolutePath, Seq("cid"), Seq("vec_id"))
      (root.getAbsolutePath, cents)
    })

  /** One staging root per (dir, fingerprint), SURVIVING cache clears:
    * re-staging overwrites in place instead of accumulating a fresh
    * full-corpus copy (and shutdown hook) per bench run. */
  private val rootCache =
    new scala.collection.concurrent.TrieMap[(String, String), java.io.File]()
  private def stableRoot(dir: String): java.io.File =
    rootCache.getOrElseUpdate((dir, graft.Fs.tableFingerprint(dir, "embeddings")),
      graft.Engine.workDir("graft-ivf-"))

  /** North-star q_simsearch_lsh: approximate top-k via multi-table
    * hyperplane LSH — [[lshTables]] independent tables (OR-construction)
    * each probed at its own bucket plus every single-bit flip.
    * Approximate vs brute force, but fully deterministic given the
    * seeded plane pool — oracle-replayed in DuckDB (inlined plane
    * literals); recall vs `bruteForceTopK` is property-tested and
    * recorded per bench round. */
  def lshTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val n = corpusSize(spark, dir)
    lshBody(vecs(spark, dir), QueryVecs, lshPlanes(n), lshTables(n), k)
  }

  /** df form: expects (vec_id, embedding); plane count derived from the
    * corpus count. */
  def lshTopK(emb: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val v = vecs(emb)
    val n = v.count()
    lshBody(v, isQuery, lshPlanes(n), lshTables(n), k)
  }

  // ---- staged / appended LSH index (q_simsearch_lsh_indexed/_append):
  // the staged-artifact lifecycle of the IVF/PQ/IVFPQ family, completed
  // for the hash-based member. The persisted artifact is the SLIM
  // (vec_id, t, bucket) table — 3 ints per (vector, table), never the
  // vectors — laid out in (t, bgrp) partition dirs so a search's probe
  // set prunes the directory listing statically. What staging buys at
  // scale: the live form's corpus signature pass (L·bits codegen'd dot
  // products over EVERY vector, per search) disappears — a search
  // computes signatures for the QUERY batch only, reads the ≤
  // nQueries·L·(bits+1) probed bucket groups, and touches raw
  // embeddings once, for candidate scoring. Unlike IVF/PQ there is NO
  // frozen-model caveat on the appended form: the hyperplanes are
  // data-independent constants, so delta rows are the rows a one-shot
  // staging would produce and appended-index searches are bit-identical
  // to live searches of the full corpus — by construction, not by a
  // frozen-fit convention.

  /** Partition-key width CEILING for the staged layout: dirs are
    * (t, bucket pmod g) — bounds the directory count at L·64 regardless
    * of the per-table bit budget (2^12 buckets would otherwise mean 16k
    * tiny dirs) while probe pruning still skips ≥ (1 − probes/g) of
    * listings per table. */
  val LshBucketGroupsMax = 64

  /** CORPUS-AWARE group count (VERDICT r11 #6): at n·L total index rows
    * over L·g dirs, a too-fine grouping makes the artifact METADATA-
    * bound — the sf1 run measured the delta append's 768 one-file dirs
    * at 5.5 s of commit/listing against 0.5 s of compute. Target
    * ≥ ~16k index rows (≈ 100 KB of 3-int parquet) per directory:
    * g = clamp(n/16k, 8, 64). Pruning SHARPENS as the corpus grows
    * (9 probes read 9/g of a table's rows) — exactly when it matters —
    * and the metadata floor stays bounded when it doesn't. Layout-only:
    * candidate selection still matches the exact `bucket`, so staged ≡
    * live results at any g. */
  def lshBucketGroups(n: Long): Int =
    math.max(8, math.min(LshBucketGroupsMax, (n / 16384L).toInt))

  private val lshIndexCache =
    new scala.collection.concurrent.TrieMap[(String, String), (String, Int, Int)]()
  private val lshAppendCache =
    new scala.collection.concurrent.TrieMap[(String, String), (String, Int, Int)]()
  def clearLshIndexCache(): Unit = lshIndexCache.clear()
  def clearLshAppendCache(): Unit = lshAppendCache.clear()

  /** The slim index rows: (vec_id, t, bucket, bgrp) via the SAME
    * codegen sign-bit expression the live search uses — one source, so
    * staged buckets cannot drift from live buckets. */
  private def lshIndexRows(v: DataFrame, nPlanes: Int,
                           nTables: Int, groups: Int): DataFrame =
    v.withColumn("buckets", signaturesCol(nTables, nPlanes))
      .select(col("vec_id"), posexplode(col("buckets")).as(Seq("t", "bucket")))
      .withColumn("bgrp", pmod(col("bucket"), lit(groups)))

  private[graft] def stagedLshIndex(spark: SparkSession, dir: String): (String, Int, Int) =
    lshIndexCache.getOrElseUpdate((dir, graft.Fs.tableFingerprint(dir, "embeddings")), {
      val n = corpusSize(spark, dir)
      val (np, nt) = (lshPlanes(n), lshTables(n))
      val root = new java.io.File(stableRoot(dir), "lsh_index")
      graft.sources.Sinks.writePartitioned(
        lshIndexRows(vecs(spark, dir), np, nt, lshBucketGroups(n)),
        root.getAbsolutePath, Seq("t", "bgrp"), Seq("vec_id"))
      (root.getAbsolutePath, np, nt)
    })

  /** Base staged once, the late decile's rows appended into the same
    * (t, bgrp) dirs, then the touched dirs COMPACTED in one job
    * (VERDICT r11 #6): each append lands one extra file per dir, so an
    * append-maintained index accretes files linearly in appends — the
    * post-append compact folds them back to ~one file per dir, keeping
    * the serve path's listing cost flat no matter how many appends the
    * artifact has absorbed. Plane count sizes from the FULL corpus
    * count (the ivfK convention) so base and delta hash under
    * identical geometry. */
  private[graft] def stagedAppendedLshIndex(spark: SparkSession, dir: String): (String, Int, Int) =
    lshAppendCache.getOrElseUpdate((dir, graft.Fs.tableFingerprint(dir, "embeddings")), {
      val n = corpusSize(spark, dir)
      val cut = n - math.max(1L, n / 10)
      val (np, nt) = (lshPlanes(n), lshTables(n))
      val v = vecs(spark, dir)
      val root = new java.io.File(stableRoot(dir), "lsh_index_inc")
      graft.sources.Sinks.writePartitioned(
        lshIndexRows(v.where(col("vec_id") < cut), np, nt, lshBucketGroups(n)),
        root.getAbsolutePath, Seq("t", "bgrp"), Seq("vec_id"))
      graft.sources.Sinks.appendPartitioned(
        lshIndexRows(v.where(col("vec_id") >= cut), np, nt, lshBucketGroups(n)),
        root.getAbsolutePath, Seq("t", "bgrp"), Seq("vec_id"))
      graft.sources.Sinks.compactPartitioned(spark, root.getAbsolutePath,
        Seq("t", "bgrp"), Seq("vec_id"))
      (root.getAbsolutePath, np, nt)
    })

  /** North-star q_simsearch_lsh_indexed: the multi-table search served
    * from the persisted slim index — results ≡ live [[lshTopK]]
    * bit-for-bit (integer buckets round-trip parquet exactly; scoring
    * reads the same raw embeddings both ways). */
  def lshTopKIndexed(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val (path, np, nt) = stagedLshIndex(spark, dir)
    lshSearchIndex(spark, dir, path, np, nt, k)
  }

  /** North-star q_simsearch_lsh_append: served from the append-
    * maintained index; ≡ live search of the full corpus by
    * construction (data-independent planes — see the block comment). */
  def lshTopKAppended(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val (path, np, nt) = stagedAppendedLshIndex(spark, dir)
    lshSearchIndex(spark, dir, path, np, nt, k)
  }

  private def lshSearchIndex(spark: SparkSession, dir: String, path: String,
                             np: Int, nt: Int, k: Int): DataFrame = {
    val v = vecs(spark, dir)
    val qp = lshQueryProbes(v, QueryVecs, np, nt)
    // bounded probe ledger (≤ nQueries·L·(bits+1) int pairs) inlined as
    // static PartitionFilters — the stagedIvfIndex probed-cid pattern
    val pairs = qp.select(col("t"), col("probe")).distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    // foldLeft(lit(false)), not reduce: an empty probe set (no query
    // vectors in the corpus) must degrade to an empty scan, not throw.
    val groups = lshBucketGroups(corpusSize(spark, dir))
    val pfilter = pairs.groupBy(_._1).map { case (t, ps) =>
      col("t") === lit(t) && col("bgrp").isin(
        ps.map(p => math.floorMod(p._2, groups).asInstanceOf[AnyRef])
          .distinct.toSeq: _*)
    }.foldLeft(lit(false))(_ || _)
    val corpus = spark.read.parquet(path).where(pfilter)
    val cand = broadcast(qp).as("q")
      .join(corpus.as("c"),
        col("q.t") === col("c.t") && col("q.probe") === col("c.bucket") &&
          col("q.qid") =!= col("c.vec_id"))
      .select(col("q.qid"), col("c.vec_id"))
      .distinct()
    lshScoreTail(v, QueryVecs, cand, k)
  }

  // ---- Product quantization (q_simsearch_pq) ----

  /** PQ geometry: 64-dim embeddings split into [[PqM]] subspaces of
    * [[PqD]] dims; each subspace gets a [[PqK]]-codeword codebook
    * (Jégou-Douze-Schmid, "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011). A corpus vector compresses to M 4-bit codes
    * — 4 bytes instead of 512 (the reason PQ is THE 100 TB ANN memory
    * story: 100 TB of fp32 embeddings become ~0.8 TB of codes that fit
    * in cluster RAM; full vectors are only touched for the shortlist). */
  val PqM = 8
  val PqD = 8
  val PqK = 16
  /** Lloyd rounds per subspace codebook — 8-dim/16-centroid fits
    * converge fast, and each round is replayed as a CTE block in the
    * DuckDB oracle (8 subspaces × PqIters chains), so this also bounds
    * oracle size. */
  val PqIters = 4
  /** ADC shortlist floor before exact re-rank. 64·k: with 4-bit codes
    * (PqK = 16) the ADC rank is coarse — a true neighbor routinely
    * sits at ADC rank 100+ — and the re-rank join is bounded by
    * nQueries·shortlist rows (tiny, broadcast), so a wide shortlist
    * buys recall (flat-PQ recall@10 measured 0.63 at 8·k → 0.94 at
    * 64·k, sf0.1) at near-zero cost: the expensive part, the ADC
    * scan, is unchanged. */
  def pqShortlistFloor(k: Int): Int = 64 * k

  /** Corpus-aware ADC shortlist width: max(64·k, n/8). ADC rank
    * inversions grow ~linearly with the number of competitors, so a
    * FIXED shortlist is a shrinking fraction of the corpus and flat-PQ
    * recall decays with n — the sf1 scale-proof run measured 0.72 at
    * 640/20000 = 3.2% vs 0.94 at 640/2000 = 32%. Holding the fraction
    * at ≥ 1/8 pins recall; the re-rank join stays nQueries·(n/8) rows
    * (broadcast-sized). This is flat PQ's honest role: it prunes
    * MEMORY 32×, not candidate count — the candidate-count pruner at
    * 100 TB is IVFPQ, whose shortlist is already bounded by the probed
    * lists (~nProbe/K of the corpus) before this width applies.
    * Gate-scale parity: n/8 < 640 for n ≤ 5120, so sf0.01/sf0.1
    * results and oracles are unchanged. */
  def pqShortlist(k: Int, n: Long): Long =
    math.max(pqShortlistFloor(k).toLong, n / 8L)

  private val pqCache =
    new scala.collection.concurrent.TrieMap[(String, String), Array[Array[Array[Long]]]]()

  /** Per-subspace fixed-point codebooks [subspace][code][dim], memoized
    * per (dir, data fingerprint). Each fit is `Clustering.fitFixed` on
    * the micro-unit subvectors — deterministic init (first PqK corpus
    * vectors), integer Lloyd, so the codebooks are bit-reproducible in
    * any engine (the q_kmeans / IVF convention). */
  private[graft] def pqCodebooks(spark: SparkSession, dir: String): Array[Array[Array[Long]]] =
    pqCache.getOrElseUpdate((dir, graft.Fs.tableFingerprint(dir, "embeddings")),
      fitSubspaceBooks(vecsQ(spark, dir).select(col("vec_id"), col("eq")), "eq"))

  /** Fit the [[PqM]] subspace codebooks CONCURRENTLY — each fit is an
    * independent driver-round Lloyd loop over a narrow projection, and
    * at small per-job cost the wall clock is dominated by job-round
    * overhead, so 8 interleaved job streams ≈ one fit's latency.
    * Results are independent of interleaving (each fit only reads its
    * own projection). */
  private def fitSubspaceBooks(v: DataFrame, src: String): Array[Array[Array[Long]]] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(
      Future.sequence((0 until PqM).toList.map { s =>
        Future(Clustering.fitFixed(
          v.select(col("vec_id"), slice(col(src), s * PqD + 1, PqD).as("e")),
          PqIters, PqK))
      }), Duration.Inf).toArray
  }

  /** q_simsearch_pq: PQ + asymmetric-distance shortlist + exact
    * re-rank. Corpus vectors are encoded once into M codes; a query
    * builds a LUT of exact-integer partial distances to every codeword
    * (M·K BIGINTs), scores EVERY code tuple by 8 array lookups
    * (map-side, no shuffle — ADC never touches a full corpus vector),
    * shortlists the best `pqShortlist(k)` by (pqd2, vec_id), and
    * re-ranks only that shortlist with the exact double cosine (the
    * fold-parity kernel proven by q_simsearch's oracle). Every
    * pre-cosine step is integer — fits, codes, LUTs, shortlist ranking
    * — so the DuckDB oracle replays the whole search bit-for-bit. */
  def pqTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val books = pqCodebooks(spark, dir)
    val v = vecsQ(spark, dir)
    val enc = v.select(col("vec_id"), pqCodesCol(books, "eq").as("codes"))
    val q = v.where(QueryVecs)
      .select(col("vec_id").as("qid"), pqLutCol(books, "eq").as("lut"))
    val scored = broadcast(q).join(enc, col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), pqAdcCol(books).as("pqd2"))
    pqRerank(v, scored, k, corpusSize(spark, dir))
  }

  /** Codes column: nearest codeword per subspace over the micro-unit
    * source column, ties to the lower code — ONE compiled M·K·D pass
    * ([[graft.functions.PqEncodeCodes]]; r16). Bit-identical to
    * [[pqCodesColDeclarative]] (spec-asserted), which it replaced: the
    * declarative form materialized 128 slice+struct expressions per
    * row and dominated every live encode-per-serve PQ/IVFPQ row. */
  private[graft] def pqCodesCol(books: Array[Array[Array[Long]]], src: String): Column =
    graft.functions.VectorExprs.pqEncodeCodes(col(src), books)

  /** The pre-r16 declarative encode — kept ONLY as the parity oracle
    * for the kernel spec (PqEncodeSpec asserts bit-equality on the
    * fixture and seeded random vectors, including d2 ties). */
  private[graft] def pqCodesColDeclarative(books: Array[Array[Array[Long]]],
      src: String): Column =
    array((0 until PqM).map { s =>
      val ds = books(s).zipWithIndex.map { case (c, i) =>
        struct(graft.functions.VectorExprs.sqDistLong(
          slice(col(src), s * PqD + 1, PqD), lit(c)).as("d2"),
          lit(i).as("code"))
      }.toSeq
      array_min(array(ds: _*)).getField("code")
    }: _*)

  /** Query LUT: flat subspace-major array of partial squared distances
    * to every codeword (books may be ragged below PqK on tiny corpora,
    * hence offset-based layout — see [[pqAdcCol]]). */
  private def pqLutCol(books: Array[Array[Array[Long]]], src: String): Column =
    array((for {
      s <- 0 until PqM
      c <- books(s).indices
    } yield graft.functions.VectorExprs.sqDistLong(
      slice(col(src), s * PqD + 1, PqD), lit(books(s)(c)))): _*)

  /** ADC score `lut` × `codes`: 8 literal-offset lookups,
    * codegen-friendly (no lambda; element_at is 1-based in both Spark
    * and DuckDB). */
  private def pqAdcCol(books: Array[Array[Array[Long]]]): Column = {
    val offs = books.scanLeft(0)(_ + _.length)
    (0 until PqM).map { s =>
      expr(s"element_at(lut, ${offs(s) + 1} + element_at(codes, ${s + 1}))")
    }.reduce(_ + _)
  }

  /** Shortlist `pqShortlist(k, n)` rows per query by (pqd2, vec_id),
    * then exact-cosine re-rank on the original doubles. `n` is the
    * corpus cardinality (drives the corpus-aware shortlist width). */
  private def pqRerank(v: DataFrame, scored: DataFrame, k: Int, n: Long,
                       isQuery: Column = QueryVecs): DataFrame = {
    val wS = Window.partitionBy("qid").orderBy(asc("pqd2"), asc("vec_id"))
    val short = scored.withColumn("srn", row_number().over(wS))
      .where(col("srn") <= pqShortlist(k, n))
      .select(col("qid"), col("vec_id").as("cand"))
    val qv = v.where(isQuery)
      .select(col("vec_id").as("qqid"), col("e"), col("nrm"))
    val rr = v.as("c")
      .join(broadcast(short), col("c.vec_id") === col("cand"))
      .join(broadcast(qv).as("q"), col("qid") === col("qqid"))
      .select(col("qid"), col("cand").as("vec_id"), cosCol.as("sim"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))
    rr.withColumn("rn", row_number().over(w).cast(LongType))
      .where(col("rn") <= k)
  }

  private val pqIndexCache = new scala.collection.concurrent.TrieMap[
    (String, String), (String, Array[Array[Array[Long]]])]()

  /** Staged PQ index: the corpus encoded ONCE into its (vec_id, codes)
    * table — 8 small ints per vector, the compact artifact a real
    * deployment persists and serves many searches from — plus the
    * codebooks that defined it (M·K·D longs, bounded driver state,
    * stored beside the path so a later model-memo clear cannot desync
    * codes from codebooks). Sorted by vec_id so row-group stats stay
    * selective for id-ranged maintenance reads. */
  private[graft] def stagedPqIndex(spark: SparkSession, dir: String): (String, Array[Array[Array[Long]]]) =
    pqIndexCache.getOrElseUpdate((dir, graft.Fs.tableFingerprint(dir, "embeddings")), {
      val books = pqCodebooks(spark, dir)
      val enc = vecsQ(spark, dir)
        .select(col("vec_id"), pqCodesCol(books, "eq").as("codes"))
      val root = new java.io.File(stableRoot(dir), "pq_index")
      enc.repartitionByRange(col("vec_id"))
        .sortWithinPartitions("vec_id")
        .write.mode("overwrite").parquet(root.getAbsolutePath)
      (root.getAbsolutePath, books)
    })

  /** q_simsearch_pq_indexed: PQ search over the persisted codes table —
    * encode-once/search-many. The scan touches ONLY the 8-small-ints
    * codes table (at 100 TB of embeddings that is the ~0.8 TB artifact
    * that fits in cluster RAM); full vectors are read for the query
    * batch and the shortlist re-rank alone. Results ≡ the live
    * [[pqTopK]] bit-for-bit (same codebooks ⇒ same codes; parquet
    * round-trips longs/ints exactly) — spec-asserted, and the DuckDB
    * oracle is shared verbatim with q_simsearch_pq. */
  def pqTopKIndexed(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val (path, books) = stagedPqIndex(spark, dir)
    val enc = spark.read.parquet(path)
    val v = vecsQ(spark, dir)
    val q = v.where(QueryVecs)
      .select(col("vec_id").as("qid"), pqLutCol(books, "eq").as("lut"))
    val scored = broadcast(q).join(enc, col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), pqAdcCol(books).as("pqd2"))
    pqRerank(v, scored, k, corpusSize(spark, dir))
  }

  // ---- IVF + residual PQ (q_simsearch_ivfpq) ----

  private val ivfpqCache = new scala.collection.concurrent.TrieMap[
    (String, String), (Array[Array[Long]], Array[Array[Array[Long]]])]()

  /** Tiny centroid table (cid, cent) for broadcast residual joins —
    * quantizer state is K·64 longs, bounded driver memory. */
  private def centsDf(spark: SparkSession, cents: Array[Array[Long]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c) }.toSeq.toDF("cid", "cent")
  }

  /** IVFPQ model: the IVF coarse quantizer (ivfK(n) lists, shared with
    * q_simsearch_ivf via the fitFixed memo) plus per-subspace codebooks
    * trained on the RESIDUALS eq − centroid(cid) — residuals are far
    * more compressible than raw vectors (Jégou et al. §IV), and since
    * both terms are micro-unit longs the residual stays exact-integer. */
  private[graft] def ivfpqModel(spark: SparkSession, dir: String): (Array[Array[Long]], Array[Array[Array[Long]]]) =
    ivfpqCache.getOrElseUpdate((dir, graft.Fs.tableFingerprint(dir, "embeddings")), {
      val cents = ivfCentsFixed(spark, dir, ivfK(corpusSize(spark, dir)))
      // localCheckpoint: the residual projection feeds 8 concurrent
      // codebook fits; without it each fit would re-run the assignment
      // (K distance kernels over the corpus) behind its narrow slice
      val resid = residuals(vecsQ(spark, dir), centsDf(spark, cents), cents)
        .select(col("vec_id"), col("rq")).localCheckpoint()
      (cents, fitSubspaceBooks(resid, "rq"))
    })

  /** Attach the nearest-list cid and the exact-integer residual
    * `rq = eq − cent(cid)` to each vector of `v`. */
  private def residuals(v: DataFrame, cdf: DataFrame,
                        cents: Array[Array[Long]]): DataFrame =
    v.withColumn("ds", graft.functions.VectorExprs.nearestLists(col("eq"), cents, 1))
      .withColumn("cid", col("ds")(0).getField("cid")).drop("ds")
      .join(broadcast(cdf), "cid")
      .withColumn("rq", expr("zip_with(eq, cent, (a, b) -> a - b)"))
      .drop("cent")

  /** q_simsearch_ivfpq: the production large-scale ANN shape (FAISS
    * IVFPQ) — IVF list pruning composed with residual-PQ compression.
    * The corpus stores (cid, 8 codes) per vector; a query probes its
    * nProbe nearest lists and builds ONE residual LUT per probed list
    * (the residual differs per list), ADC-scores only vectors in probed
    * lists (≈ nProbe/K of the corpus — unlike flat PQ, which scans all
    * codes), shortlists by exact-integer (pqd2, vec_id), and re-ranks
    * with the exact double cosine. At 100 TB: lists prune I/O, codes
    * prune memory 128×, full vectors are touched for shortlist·k rows
    * only. All pre-cosine arithmetic is integer → the DuckDB oracle
    * replays the search bit-for-bit. */
  def ivfpqTopK(spark: SparkSession, dir: String, k: Int = 10,
                nProbe: Int = 0): DataFrame = {
    // ONE live-search body ([[ivfpqTopKWithModel]]) under the memoized
    // model — the appended-index bit-identity spec and this query's
    // oracle therefore pin the SAME code path
    val (cents, books) = ivfpqModel(spark, dir)
    ivfpqTopKWithModel(spark, dir, cents, books, k, nProbe)
  }

  /** Query batch for the IVFPQ forms: one row per probed list carrying
    * that list's residual LUT — ONE definition, so the live and
    * indexed searches (whose bit-identity the shared oracle and the
    * staged≡live spec rely on) cannot drift apart. */
  private def ivfpqProbeLuts(v: DataFrame, cdf: DataFrame,
      cents: Array[Array[Long]], books: Array[Array[Array[Long]]],
      probes: Int): DataFrame =
    v.where(QueryVecs)
      .withColumn("ds", graft.functions.VectorExprs.nearestLists(col("eq"), cents, probes))
      .withColumn("cid", explode(expr("transform(ds, s -> s.cid)")))
      .drop("ds")
      .join(broadcast(cdf), "cid")
      .withColumn("rq", expr("zip_with(eq, cent, (a, b) -> a - b)"))
      .select(col("vec_id").as("qid"), col("cid").as("probe"),
        pqLutCol(books, "rq").as("lut"))

  private val ivfpqIndexCache = new scala.collection.concurrent.TrieMap[
    (String, String), (String, Array[Array[Long]], Array[Array[Array[Long]]])]()

  /** Staged IVFPQ index: the corpus encoded ONCE as (vec_id, codes)
    * rows laid out in `cid=…` partition directories — the artifact a
    * real deployment serves from (FAISS's IndexIVFPQ on disk). The
    * live [[ivfpqTopK]] recomputes the residual + codes of EVERY
    * corpus vector per search (a full-corpus scan × K distance kernels
    * × M code argmins — at 100 TB that is the dominant cost, paid per
    * query batch); staging pays it once per corpus version, and the
    * partition layout turns "probe a list" into a pruned directory
    * read, so a search touches ≈ nProbe/K of the CODES (8 small ints
    * per vector), full vectors only for the query batch + shortlist.
    * Centroids and codebooks are stored beside the path so a later
    * model-memo clear cannot desync codes from the model. */
  private[graft] def stagedIvfpqIndex(spark: SparkSession, dir: String): (String, Array[Array[Long]], Array[Array[Array[Long]]]) =
    ivfpqIndexCache.getOrElseUpdate((dir, graft.Fs.tableFingerprint(dir, "embeddings")), {
      val (cents, books) = ivfpqModel(spark, dir)
      val enc = residuals(vecsQ(spark, dir), centsDf(spark, cents), cents)
        .select(col("vec_id"), col("cid"), pqCodesCol(books, "rq").as("codes"))
      val root = new java.io.File(stableRoot(dir), "ivfpq_index")
      graft.sources.Sinks.writePartitioned(
        enc, root.getAbsolutePath, Seq("cid"), Seq("vec_id"))
      (root.getAbsolutePath, cents, books)
    })

  /** q_simsearch_ivfpq_indexed: IVFPQ search served from the persisted
    * codes index — the [[ivfTopKIndexed]] partition-pruning story
    * composed with PQ compression. The probed cids are inlined as a
    * static `cid IN (…)` predicate (bounded driver state: ≤ nQueries ×
    * nProbe ints), so the scan's PartitionFilters prune the directory
    * listing to the probed lists and NO residual-encode stage touches
    * the corpus at search time. Same memoized model as the live form
    * (same centroids ⇒ same codes ⇒ same integer ADC ranks; parquet
    * round-trips ints exactly) ⇒ results are bit-identical to
    * [[ivfpqTopK]] — spec-asserted, and the DuckDB oracle is shared
    * verbatim with q_simsearch_ivfpq. */
  def ivfpqTopKIndexed(spark: SparkSession, dir: String, k: Int = 10,
                       nProbe: Int = 0): DataFrame = {
    val (path, cents, books) = stagedIvfpqIndex(spark, dir)
    ivfpqServe(spark, dir, path, cents, books, k, nProbe)
  }

  /** ONE serve path over a persisted IVFPQ codes index — shared by the
    * one-shot staged index and the appended index, so the two cannot
    * drift. The probed cids are a static PartitionFilter; the query
    * batch derives from the pushed-filter vec_id < 10 read alone. */
  private def ivfpqServe(spark: SparkSession, dir: String, path: String,
      cents: Array[Array[Long]], books: Array[Array[Array[Long]]],
      k: Int, nProbe: Int): DataFrame = {
    val probes = if (nProbe > 0) nProbe else ivfNProbe(cents.length)
    val v = vecsQ(spark, dir)
    val q = ivfpqProbeLuts(v, centsDf(spark, cents), cents, books, probes)
    val probeCids = q.select(col("probe")).distinct().collect()
      .map(_.getInt(0).asInstanceOf[AnyRef])
    val enc = spark.read.parquet(path)
      .where(col("cid").isin(probeCids: _*)) // static PartitionFilters
    val scored = broadcast(q).join(enc,
        col("probe") === col("cid") && col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), pqAdcCol(books).as("pqd2"))
    pqRerank(v, scored, k, corpusSize(spark, dir))
  }

  private val ivfpqAppendCache = new scala.collection.concurrent.TrieMap[
    (String, String), (String, Array[Array[Long]], Array[Array[Array[Long]]])]()

  /** INCREMENTAL IVFPQ index maintenance (the [[ivfTopKAppended]]
    * story composed with PQ): the whole model — coarse quantizer AND
    * residual codebooks — is trained on the BASE corpus only (the
    * first ~90% of vectors; the model genuinely never sees the delta,
    * as in a real pipeline where the model predates the batch), the
    * base codes are staged, and the late batch is ENCODED UNDER THE
    * FROZEN MODEL and appended into its cid= directories — base
    * partitions never rewritten, append cost |delta| × (K distance
    * kernels + M code argmins). Searches over the appended index are
    * BIT-IDENTICAL to a live full-corpus IVFPQ search under the same
    * frozen model (same cents ⇒ same assignment, same books ⇒ same
    * codes; spec-asserted via [[ivfpqTopKWithModel]]), and the DuckDB
    * oracle replays the base-only fits. A batch past
    * [[AppendRefreshFraction]] takes the REBUILD path (fresh
    * full-corpus model), the [[stagedAppendedIndex]] convention. */
  private[graft] def stagedAppendedIvfpqIndex(spark: SparkSession, dir: String): (String, Array[Array[Long]], Array[Array[Array[Long]]]) =
    ivfpqAppendCache.getOrElseUpdate((dir, graft.Fs.tableFingerprint(dir, "embeddings")), {
      val n = corpusSize(spark, dir)
      val cut = n - math.max(1L, n / 10)
      val v = vecsQ(spark, dir)
      val base = v.where(col("vec_id") < cut)
      val baseRows = base.count()
      // refresh branch: mirrors the stagedAppendedIndex convention —
      // past the fraction the index REBUILDS under a full-corpus model
      // (one-shot write, no append). The oracle always replays the
      // base-only fit; with the ~10% arrival cut this branch is
      // reachable only on a degenerate ≤1-row corpus (cut = 0), where
      // the operator contract, not the oracle, governs — the same
      // documented convention as ivf_append.
      val refresh = appendNeedsRefresh(baseRows, n - baseRows)
      val fitSrc = if (refresh) v else base
      val cents = Clustering.fitFixed(
        fitSrc.select(col("vec_id"), col("eq").as("e")),
        Clustering.Iters, ivfK(n))
      val cdf = centsDf(spark, cents)
      // keep cid beside the residual: the SAME checkpointed table feeds
      // the 8 codebook fits AND the base encode — the coarse assignment
      // (K distance kernels over ~90% of the corpus) runs once, not
      // twice per build
      val resid = residuals(fitSrc, cdf, cents)
        .select(col("vec_id"), col("cid"), col("rq")).localCheckpoint()
      val books = fitSubspaceBooks(resid.select(col("vec_id"), col("rq")), "rq")
      val fitEnc = resid
        .select(col("vec_id"), col("cid"), pqCodesCol(books, "rq").as("codes"))
      val root = new java.io.File(stableRoot(dir), "ivfpq_index_inc")
      graft.sources.Sinks.writePartitioned(
        fitEnc, root.getAbsolutePath, Seq("cid"), Seq("vec_id"))
      if (!refresh)
        graft.sources.Sinks.appendPartitioned(
          residuals(v.where(col("vec_id") >= cut), cdf, cents)
            .select(col("vec_id"), col("cid"), pqCodesCol(books, "rq").as("codes")),
          root.getAbsolutePath, Seq("cid"), Seq("vec_id"))
      (root.getAbsolutePath, cents, books)
    })

  /** q_simsearch_ivfpq_append: search over the incrementally
    * maintained IVFPQ index ([[stagedAppendedIvfpqIndex]]), served by
    * the same pruned path as the one-shot index. */
  def ivfpqTopKAppended(spark: SparkSession, dir: String, k: Int = 10,
                        nProbe: Int = 0): DataFrame = {
    val (path, cents, books) = stagedAppendedIvfpqIndex(spark, dir)
    ivfpqServe(spark, dir, path, cents, books, k, nProbe)
  }

  /** Test seam: live (unstaged) IVFPQ search under an externally
    * supplied frozen model — what the appended index must agree with
    * bit-for-bit. */
  private[graft] def ivfpqTopKWithModel(spark: SparkSession, dir: String,
      cents: Array[Array[Long]], books: Array[Array[Array[Long]]],
      k: Int = 10, nProbe: Int = 0): DataFrame = {
    val probes = if (nProbe > 0) nProbe else ivfNProbe(cents.length)
    val v = vecsQ(spark, dir)
    val cdf = centsDf(spark, cents)
    val enc = residuals(v, cdf, cents)
      .select(col("vec_id"), col("cid"), pqCodesCol(books, "rq").as("codes"))
    val q = ivfpqProbeLuts(v, cdf, cents, books, probes)
    val scored = broadcast(q).join(enc,
        col("probe") === col("cid") && col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), pqAdcCol(books).as("pqd2"))
    pqRerank(v, scored, k, corpusSize(spark, dir))
  }

  // ---- Scalar quantization (q_simsearch_sq): the third compression
  // point on the ANN memory/recall curve — IVF prunes WHAT is scored,
  // PQ compresses 128× with codebooks, SQ8 compresses 4× with NO
  // codebooks: one affine (lo, width) pair per dimension maps each
  // micro-unit component to an 8-bit level. Cheaper to build (one
  // min/max scan — no Lloyd fits), cheaper to decode (two integer ops
  // per component), higher fidelity per vector than PQ; the standard
  // first rung before PQ is warranted (FAISS SQ8 / Lucene int8 HNSW).
  // All arithmetic is exact-integer → DuckDB replays the search.

  /** SQ8 quantization levels (codes 0..255). */
  val SqLevels = 255L

  private val sqCache =
    new scala.collection.concurrent.TrieMap[(String, String), (Array[Long], Array[Long])]()
  def clearSqCache(): Unit = sqCache.clear()

  /** The SQ "model": per-dimension (lo, width = max(1, hi−lo)) over
    * the micro-unit corpus — 2·dims longs of driver state from ONE
    * min/max scan, memoized per (dir, data fingerprint). */
  private[graft] def sqStats(spark: SparkSession, dir: String): (Array[Long], Array[Long]) =
    sqCache.getOrElseUpdate((dir, graft.Fs.tableFingerprint(dir, "embeddings")),
      sqFit(vecsQ(spark, dir)))

  /** One min/max scan → the per-dim (lo, width) model. */
  private def sqFit(v: DataFrame): (Array[Long], Array[Long]) = {
    val d = Dims
    val row = v.agg(
      array((0 until d).map(i => min(col("eq")(i))): _*).as("lo"),
      array((0 until d).map(i => max(col("eq")(i))): _*).as("hi")).head()
    val lo = row.getSeq[Long](0).toArray
    val hi = row.getSeq[Long](1).toArray
    (lo, hi.lazyZip(lo).map((h, l) => math.max(1L, h - l)).toArray)
  }

  /** Embedding dimensionality of the harness corpus (the PQ geometry
    * PqM·PqD and the LSH plane table already fix it). */
  private[graft] val Dims: Int = PqM * PqD

  private def sqlArr(xs: Array[Long]): String =
    xs.mkString("array(", "L,", "L)")

  /** 8-bit codes: code_d = (x_d − lo_d)·255 div w_d ∈ [0, 255] —
    * x ≥ lo (lo is the corpus min) keeps every operand non-negative,
    * so Spark's truncating div ≡ DuckDB's flooring //. */
  private def sqCodesCol(lo: Array[Long], w: Array[Long]): Column =
    expr(s"transform(eq, (x, i) -> CAST((x - element_at(${sqlArr(lo)}, i + 1)) * $SqLevels" +
      s" div element_at(${sqlArr(w)}, i + 1) AS INT))")

  /** Dequantized reconstruction (micro-unit scale): xhat_d = lo_d +
    * round(code_d·w_d / 255) as the exact integer (2·c·w + 255) div
    * 510 — the Lloyd-oracle rounding convention, non-negative
    * operands again. */
  private def sqDecodeCol(lo: Array[Long], w: Array[Long]): Column =
    expr(s"transform(codes, (c, i) -> element_at(${sqlArr(lo)}, i + 1) +" +
      s" (2 * CAST(c AS BIGINT) * element_at(${sqlArr(w)}, i + 1) + $SqLevels)" +
      s" div (2 * $SqLevels))")

  /** q_simsearch_sq: asymmetric SQ8 search — the query keeps its exact
    * micro-unit vector, the corpus is scored from its decoded 8-bit
    * reconstruction (exact-integer d2 via the codegen kernel), the
    * shortlist re-ranks with the exact double cosine (shared
    * [[pqRerank]]). Encode→decode runs here to keep the query
    * self-contained; a deployment persists the codes table exactly
    * like [[stagedPqIndex]] (64 bytes/vector vs 256 fp32). */
  def sqTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val (lo, w) = sqStats(spark, dir)
    sqBody(vecsQ(spark, dir), QueryVecs, k, lo, w, corpusSize(spark, dir))
  }

  /** df form: expects (vec_id, embedding) with the harness's 64-dim
    * vectors; fits the min/max model on the spot (the catalog form
    * memoizes it). */
  def sqTopK(emb: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val v = vecsQ(emb)
    val (lo, w) = sqFit(v)
    sqBody(v, isQuery, k, lo, w, v.count())
  }

  private def sqBody(v: DataFrame, isQuery: Column, k: Int,
                     lo: Array[Long], w: Array[Long], n: Long): DataFrame = {
    val enc = v.select(col("vec_id"), sqCodesCol(lo, w).as("codes"))
      .withColumn("xhat", sqDecodeCol(lo, w)).drop("codes")
    val q = v.where(isQuery)
      .select(col("vec_id").as("qid"), col("eq").as("qeq"))
    val scored = broadcast(q).join(enc, col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        graft.functions.VectorExprs.sqDistLong(col("qeq"), col("xhat")).as("pqd2"))
    pqRerank(v, scored, k, n, isQuery)
  }

  // ---- Binary quantization (q_simsearch_bq): the far end of the ANN
  // compression curve — ONE BIT per dimension (64-dim fp32 → 8 bytes
  // of signature, 32× below the raw floats; the first-stage filter of
  // modern vector stores: 100 TB of fp32 embeddings become ~3 TB of
  // sign bits that fit in cluster RAM and scan at memory bandwidth).
  // bit_d = [x_d > 0] — a sign TEST, no float arithmetic, and NO
  // corpus statistics (unlike SQ's min/max or PQ's codebooks), so like
  // the LSH hyperplanes the code is data-independent: appended index
  // rows ≡ one-shot rows bit-for-bit, no frozen-model caveat. Hamming
  // distance between signatures approximates angular distance (BQ IS
  // 1-bit-per-plane LSH with the coordinate axes as the planes — but
  // scanned, not bucketed, so recall has no bucketing cliff); the
  // corpus-aware [[pqShortlist]] + exact-cosine re-rank turns the
  // coarse rank into recall, the PQ/SQ discipline. The scan kernel is
  // XOR + POPCNT per word — codegen'd builtins in Spark, replayable in
  // DuckDB, so the whole search oracle-replays exactly.

  /** Signature words: 32 bits per BIGINT word (not 64 — the packed
    * word stays far below 2⁶³ so the ORACLE can build the identical
    * word from a plain sum of shifted literals; XOR/POPCNT don't care
    * how many of a word's bits are in use). */
  private[graft] val BqWords: Int = (Dims + 31) / 32

  /** Word `w` of the sign signature: OR of 1<<i over the positive
    * dims of the word's 32-dim slice (ties-to-zero: x = 0 → bit 0 —
    * exact in both engines, it is a comparison, not arithmetic). */
  private def bqWordCol(w: Int): Column =
    expr(s"aggregate(transform(slice(e, ${w * 32 + 1}, 32), " +
      s"(x, i) -> IF(x > 0D, shiftleft(1L, i), 0L)), 0L, (a, b) -> a | b)")

  /** (vec_id, s0..s{W−1}) signature rows over a [[vecs]] frame — the
    * ONE signature definition shared by the live, staged, and appended
    * forms (they cannot drift). */
  private[graft] def bqSigRows(v: DataFrame): DataFrame =
    v.select(col("vec_id") +:
      (0 until BqWords).map(w => bqWordCol(w).as(s"s$w")): _*)

  /** q_simsearch_bq: live BQ search — one signature pass over the
    * corpus, Hamming scan (XOR + POPCNT per word, flat columns so the
    * whole scan codegens), corpus-aware shortlist by (hamming,
    * vec_id), exact-cosine re-rank (shared [[pqRerank]]). */
  def bqTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val v = vecs(spark, dir)
    bqBody(v, bqSigRows(v), bqSigRows(v.where(QueryVecs)), k,
      corpusSize(spark, dir), QueryVecs)
  }

  /** df form: expects (vec_id, embedding). */
  def bqTopK(emb: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val v = vecs(emb)
    bqBody(v, bqSigRows(v), bqSigRows(v.where(isQuery)), k, v.count(), isQuery)
  }

  /** Search core. `qSigs` is the QUERY batch's signature rows,
    * computed query-side from the raw vectors ([[bqSigRows]] — a pure
    * per-row function, so it costs one pass over the tiny batch and
    * never requires the queries to be present in `sigs`); `sigs` is
    * the corpus signature table (live pass or persisted artifact). */
  private def bqBody(v: DataFrame, sigs: DataFrame, qSigs: DataFrame,
                     k: Int, n: Long, isQuery: Column): DataFrame = {
    val q = qSigs
      .select(col("vec_id").as("qid") +:
        (0 until BqWords).map(w => col(s"s$w").as(s"q$w")): _*)
    val hamming = (0 until BqWords)
      .map(w => bit_count(col(s"q$w").bitwiseXOR(col(s"s$w"))).cast(LongType))
      .reduce(_ + _)
    val scored = broadcast(q).join(sigs, col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), hamming.as("pqd2"))
    pqRerank(v, scored, k, n, isQuery)
  }

  private val bqIndexCache =
    new scala.collection.concurrent.TrieMap[(String, String), String]()
  private val bqAppendCache =
    new scala.collection.concurrent.TrieMap[(String, String), String]()
  def clearBqIndexCache(): Unit = bqIndexCache.clear()
  def clearBqAppendCache(): Unit = bqAppendCache.clear()

  /** Staged BQ index: the corpus signatures persisted ONCE as the flat
    * (vec_id, s0..s{W−1}) table. A search computes signatures for the
    * QUERY batch only and Hamming-scans the slim artifact — the scan
    * IS the design: sign bits are small enough to scan whole at memory
    * bandwidth, so BQ needs no partition geometry at all (no lists, no
    * buckets, no recall knee — the simplest maintenance story in the
    * family). Sorted by vec_id for id-ranged maintenance reads. */
  private[graft] def stagedBqIndex(spark: SparkSession, dir: String): String =
    bqIndexCache.getOrElseUpdate((dir, graft.Fs.tableFingerprint(dir, "embeddings")), {
      val root = new java.io.File(stableRoot(dir), "bq_index")
      bqSigRows(vecs(spark, dir))
        .repartitionByRange(col("vec_id")).sortWithinPartitions("vec_id")
        .write.mode("overwrite").parquet(root.getAbsolutePath)
      root.getAbsolutePath
    })

  /** Append-maintained BQ index: base staged over the early ids, the
    * late decile's signatures appended as one delta file, the flat dir
    * compacted in one job (the [[stagedAppendedLshIndex]] layout
    * contract). Sign bits are data-independent ⇒ delta rows ≡ one-shot
    * rows ⇒ appended searches ≡ live full-corpus searches bit-for-bit
    * — the LSH argument, without even a plane pool. */
  private[graft] def stagedAppendedBqIndex(spark: SparkSession, dir: String): String =
    bqAppendCache.getOrElseUpdate((dir, graft.Fs.tableFingerprint(dir, "embeddings")), {
      val n = corpusSize(spark, dir)
      val cut = n - math.max(1L, n / 10)
      val v = vecs(spark, dir)
      val root = new java.io.File(stableRoot(dir), "bq_index_inc")
      graft.Fs.rmRf(root)
      bqSigRows(v.where(col("vec_id") < cut))
        .repartitionByRange(col("vec_id")).sortWithinPartitions("vec_id")
        .write.mode("overwrite").parquet(root.getAbsolutePath)
      bqSigRows(v.where(col("vec_id") >= cut))
        .coalesce(1).sortWithinPartitions("vec_id")
        .write.mode("append").parquet(root.getAbsolutePath)
      graft.sources.Sinks.compact(spark, root.getAbsolutePath)
      root.getAbsolutePath
    })

  /** q_simsearch_bq_indexed: served from the persisted signature table
    * — ≡ live [[bqTopK]] bit-for-bit (integer words round-trip parquet
    * exactly; the re-rank reads the same raw embeddings both ways). */
  def bqTopKIndexed(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    bqSearchIndex(spark, dir, stagedBqIndex(spark, dir), k)

  /** q_simsearch_bq_append: served from the append-maintained table;
    * ≡ live search of the full corpus by construction. */
  def bqTopKAppended(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    bqSearchIndex(spark, dir, stagedAppendedBqIndex(spark, dir), k)

  /** Staged-artifact search: query signatures are computed from the
    * raw query vectors (ADVICE r12 — the artifact need not contain the
    * query batch; a novel query vector searches correctly), the corpus
    * side reads the persisted signature table. */
  private def bqSearchIndex(spark: SparkSession, dir: String,
                            path: String, k: Int): DataFrame = {
    val v = vecs(spark, dir)
    bqBody(v, spark.read.parquet(path), bqSigRows(v.where(QueryVecs)), k,
      corpusSize(spark, dir), QueryVecs)
  }

  // ---- kNN join (q_knn_join / q_knn_join_blocked): every corpus
  // vector ↔ its k nearest neighbors, not just a small query batch.
  // The all-pairs retrieval primitive behind dedup-by-retrieval,
  // mutual-kNN graph clustering, and hard-negative mining. The exact
  // form is inherently O(n²) score work — it exists as the correctness
  // baseline and is shaped so the SHUFFLE is not quadratic (bounded
  // top-k partial aggregation, block-replicated join, never a
  // broadcast of the corpus); the blocked form prunes the score work
  // itself with the IVF quantizer (≈ nProbe/K of the pairs).

  /** Neighbors per vector in the catalog kNN-join queries. */
  val KnnK = 5

  /** Grid dimension for the exact form's 2-D block join: the pair
    * space splits into B×B independent cells (candidates hash into B
    * blocks AND replicate across the B query blocks; queries
    * symmetrically), so the join fans out to B² tasks while the
    * shuffle stays 2·n·B rows. Sized from cluster parallelism the way
    * ivfK sizes from corpus cardinality: B ≈ √(2·cores) keeps ~2 cells
    * per core at any cluster size — a 1-D blocking (join key = the
    * candidate block alone) would cap the stage at B tasks no matter
    * how many executors exist. */
  private[graft] def knnGrid(spark: SparkSession): Int =
    math.max(2, math.round(math.sqrt(2.0 * spark.sparkContext.defaultParallelism)).toInt)

  /** Rank a (qid, vec_id, sim) score stream to per-qid top-k via the
    * bounded [[graft.functions.TopKByScore]] partial aggregator: each
    * map partition contributes ≤ k entries per qid to the exchange
    * (n·k rows shuffle, not the full scored stream — the reason the
    * exact kNN join's shuffle is linear even though its score work is
    * quadratic). The aggregator's comparator treats ±0.0 as equal
    * (SQL double ordering), so ties fall to the id in both engines. */
  private[graft] def topkRank(scored: DataFrame, k: Int): DataFrame = {
    val tk = udaf(new graft.functions.TopKByScore(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
    scored.groupBy("qid")
      .agg(tk(col("sim"), col("vec_id")).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col._2").as("vec_id"), col("col._1").as("sim"),
        (col("pos") + 1).cast(LongType).as("rn"))
  }

  /** q_knn_join: exact cosine kNN self-join. 2-D block-grid
    * shuffle-hash join ([[knnGrid]]): each side hashes into its own B
    * blocks and replicates across the other side's, so every (query
    * block, candidate block) cell is one bounded independent task —
    * B² -way parallelism, 2·n·B shuffle rows, NO corpus broadcast, no
    * cartesian task explosion; the post-score exchange is n·k via
    * [[topkRank]]. The O(n²) kernel work is the definition of
    * exactness — [[knnJoinBlocked]] is the scale path. */
  def knnJoin(spark: SparkSession, dir: String, k: Int = KnnK): DataFrame =
    knnJoinExact(vecs(spark, dir), k, knnGrid(spark))

  /** df form: expects (vec_id, embedding); grid sized from the
    * session's parallelism. */
  def knnJoin(emb: DataFrame, k: Int): DataFrame =
    knnJoinExact(vecs(emb), k, knnGrid(emb.sparkSession))

  private[graft] def knnJoinExact(v: DataFrame, k: Int, b: Int): DataFrame = {
    val grid = lit((0 until b).toArray)
    val c = v.withColumn("cblk", pmod(col("vec_id"), lit(b)).cast("int"))
      .withColumn("qblk", explode(grid))
    val q = v.withColumn("qblk", pmod(col("vec_id"), lit(b)).cast("int"))
      .withColumn("cblk", explode(grid))
    val scored = q.as("q").join(c.as("c").hint("shuffle_hash"),
        col("q.qblk") === col("c.qblk") && col("q.cblk") === col("c.cblk") &&
          col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("qid"), col("c.vec_id").as("vec_id"),
        cosCol.as("sim"))
    topkRank(scored, k)
  }

  /** q_knn_join_blocked: the IVF-pruned kNN join — every vector probes
    * its nProbe nearest lists and scores only those lists' members,
    * ≈ nProbe/K of the exact pair work. Unlike the query-batch searches
    * there is no broadcast side (the "query" set IS the corpus): the
    * probe-exploded corpus shuffle-hash joins the assigned corpus on
    * cid — K keys, list-sized build rows — and top-k rides the same
    * n·k partial-agg exchange. Fixed-point quantizer (the shared
    * fitFixed convention) → every probe decision is bit-reproducible
    * and the DuckDB oracle replays the whole join. */
  /** Probe fraction for the corpus-wide blocked kNN JOIN — deliberately
    * wider than the query-batch searches' 0.15: here EVERY vector is a
    * query, so the population includes the vectors sitting on list
    * boundaries that a 10-query batch rarely samples, and corpus-wide
    * recall@5 pays for each of them. 0.30·K doubles the candidate work
    * (still ≈ 30% of the exact join's pair space) and lifts measured
    * recall@5 0.55 → 0.75 (measured, sf0.1 fixture). */
  val KnnJoinProbeFraction = 0.30
  def knnJoinProbes(lists: Int): Int =
    math.max(3, math.round(KnnJoinProbeFraction * lists).toInt)

  def knnJoinBlocked(spark: SparkSession, dir: String, k: Int = KnnK,
                     nProbe: Int = 0): DataFrame = {
    val lists = ivfK(corpusSize(spark, dir))
    val probes = if (nProbe > 0) nProbe else knnJoinProbes(lists)
    val v = vecsQ(spark, dir)
    val cents = ivfCentsFixed(spark, dir, lists)
    val cv = v
      .withColumn("ds", graft.functions.VectorExprs.nearestLists(col("eq"), cents, 1))
      .withColumn("cid", col("ds")(0).getField("cid")).drop("ds", "eq")
    val qv = v
      .withColumn("ds", graft.functions.VectorExprs.nearestLists(col("eq"), cents, probes))
      .withColumn("probe", explode(expr("transform(ds, s -> s.cid)")))
      .drop("ds", "eq")
    val scored = qv.as("q").join(cv.as("c").hint("shuffle_hash"),
        col("q.probe") === col("c.cid") && col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("qid"), col("c.vec_id").as("vec_id"),
        cosCol.as("sim"))
    topkRank(scored, k)
  }

  /** q_knn_graph: mutual-kNN communities — the standard graph step on
    * top of a kNN join (near-dup community detection, corpus
    * clustering for curriculum/dedup decisions): an undirected edge
    * (a,b) exists iff b ∈ knn(a) AND a ∈ knn(b) (mutuality prunes the
    * asymmetric hub edges a raw kNN digraph is full of), then
    * connected components label every vector; vectors with no mutual
    * edge are their own singleton community.
    *
    * Composition, not new machinery: [[knnJoin]] supplies edges
    * (grid-blocked, n·k output), the mutuality check is a left-semi
    * self-join on the k·n edge list, and [[Dedup.dupComponents]] —
    * the HCC min-label loop the dedup family already trusts — closes
    * the relation. Everything after the kNN join is bounded by the
    * EDGE list (≤ n·k rows), never the corpus × corpus pair space. */
  def knnGraph(spark: SparkSession, dir: String, k: Int = KnnK,
               blocked: Boolean = false): DataFrame = {
    // `blocked = true` swaps in the IVF-pruned join — the 100 TB form
    // (the exact join's pair space is quadratic; the graph machinery
    // downstream is identical either way). The declared q_knn_graph
    // stays on the exact join so the oracle pins the full pipeline;
    // the blocked composition is spec'd against it.
    val knnDf = if (blocked) knnJoinBlocked(spark, dir, k)
                else knnServe(spark, dir, k)
    knnGraphBody(vecs(spark, dir), knnDf)
  }

  /** df form over the exact join: expects (vec_id, embedding). */
  def knnGraph(emb: DataFrame, k: Int): DataFrame =
    knnGraphBody(vecs(emb), knnJoin(emb, k))

  /** Staged exact-kNN artifact depth: top-10 covers every consumer
    * (the k = 5 users read a rank prefix — [[topkRank]]'s (sim DESC,
    * vec_id) order is total, so top-5 IS rows rn ≤ 5 of top-10). */
  val KnnStageK = 10

  private val knnCache =
    new scala.collection.concurrent.TrieMap[(String, String), (String, Unit)]()

  def clearKnnCache(): Unit = knnCache.clear()

  /** The exact kNN top-[[KnnStageK]] edge list staged as a parquet
    * artifact, memoized per (dir, data fingerprint) — the kNN GRAPH as
    * a standing table, which is how a 100 TB corpus serves it: the
    * quadratic-work join is paid once per corpus version
    * (billed by the live q_knn_join row — identical computation), and
    * the five downstream consumers (classification, communities, NDCG,
    * confusion, link prediction) read bounded n·k rows instead of each
    * re-running the join. */
  private[operators] def stagedKnn(spark: SparkSession, dir: String): String = {
    val (root, _) = Staging.stage(knnCache, dir, "embeddings", "graft-knn-") { root =>
      knnJoinExact(vecs(spark, dir), KnnStageK, knnGrid(spark))
        .write.mode("overwrite").parquet(s"$root/knn")
    }
    s"$root/knn"
  }

  /** Serve (qid, vec_id, sim, rn ≤ k) from the staged artifact. */
  private[operators] def knnServe(spark: SparkSession, dir: String, k: Int): DataFrame = {
    require(k <= KnnStageK, s"staged kNN depth is $KnnStageK, asked $k")
    spark.read.parquet(stagedKnn(spark, dir)).where(col("rn") <= k.toLong)
  }

  /** The mutual-kNN edge list (da < db) from a kNN join's output —
    * [[knnGraphBody]]'s edge stage, shared with [[linkPredict]]. */
  private[graft] def mutualEdges(knnDf: DataFrame): DataFrame = {
    val knn = knnDf.select(col("qid").as("da"), col("vec_id").as("db"))
    knn.where(col("da") < col("db"))
      .join(knn.select(col("db").as("da"), col("da").as("db")),
        Seq("da", "db"), "left_semi")
  }

  /** q_link_predict: common-neighbor link prediction over the
    * mutual-kNN graph (Liben-Nowell & Kleinberg, "The link-prediction
    * problem for social networks", CIKM 2003) — which near-dup /
    * similarity edges are MISSING: for every non-adjacent pair with at
    * least one shared neighbor, the common-neighbor count and the
    * neighborhood-Jaccard score 10⁶·|Γa∩Γb| div (|Γa|+|Γb|−|Γa∩Γb|),
    * both exact integers.
    *
    * Shape at scale: candidates come from the 2-hop wedge join
    * (edges ⋈ edges on the shared endpoint — Σ deg² wedges, the
    * standard triangle/wedge bound, never all-pairs), de-adjacencied
    * by an anti-join against the edge list; degrees are one |E|-row
    * aggregate. Everything is bounded by the kNN graph (≤ n·k edges),
    * never the corpus pair space. */
  // Declared forms of the five kNN consumers serve the staged artifact
  // ([[stagedKnn]]) — identical rows to the live join, paid once.
  def linkPredict(spark: SparkSession, dir: String, k: Int = KnnK): DataFrame =
    linkPredictBody(mutualEdges(knnServe(spark, dir, k)))

  /** df form over an explicit undirected (da < db) edge list. */
  private[graft] def linkPredictBody(mutual: DataFrame): DataFrame = {
    val ed = mutual.unionAll(
      mutual.select(col("db").as("da"), col("da").as("db"))) // both directions
    val deg = ed.groupBy(col("da").as("node")).agg(count(lit(1)).as("deg"))
    // wedges: x —n— y with x < y, then drop existing edges
    val cand = ed.as("l").join(ed.as("r"),
        col("l.db") === col("r.db") && col("l.da") < col("r.da"))
      .groupBy(col("l.da").as("da"), col("r.da").as("db"))
      .agg(count(lit(1)).as("cn"))
      .join(mutual, Seq("da", "db"), "left_anti")
    cand
      .join(deg.select(col("node").as("da"), col("deg").as("dega")), "da")
      .join(deg.select(col("node").as("db"), col("deg").as("degb")), "db")
      .select(col("da"), col("db"), col("cn"),
        expr("(1000000 * cn) div (dega + degb - cn)").as("jacc_micro"))
  }

  private def knnGraphBody(v: DataFrame, knnDf: DataFrame): DataFrame = {
    val mutual = mutualEdges(knnDf)
    val comps = Dedup.dupComponents(mutual)
      .select(col("doc_id").as("vec_id"), col("comp"))
    v.select(col("vec_id"))
      .join(comps, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("comp"), col("vec_id")).as("comp"))
  }

  /** q_knn_classify: leave-one-out kNN majority-vote classification of
    * every corpus vector against the `label` column — the standard
    * label-quality / weak-supervision audit (does the embedding space
    * agree with the labels?) and the simplest classifier a labeled
    * embedding table supports. Pure composition: [[knnJoin]] supplies
    * each vector's k neighbors (its oracle already pins the tie-broken
    * top-k), neighbor labels vote, ties break (votes desc, label asc)
    * — a total order, so the prediction is deterministic and the
    * DuckDB oracle replays the whole chain.
    *
    * Shape at scale: everything after the kNN join is bounded by the
    * n·k edge list — one (qid, label) partial/final count, a
    * per-qid window over ≤ |labels| vote rows, one broadcast-sized
    * join back to the labels. The join itself is the scale knob:
    * the declared form rides the exact grid join (the oracle pins the
    * full pipeline); at 100 TB swap in [[knnJoinBlocked]] — the
    * classifier body is identical either way (spec-checked). */
  def knnClassify(spark: SparkSession, dir: String, k: Int = KnnK,
                  blocked: Boolean = false): DataFrame = {
    val lab = Tables(spark, dir, "embeddings").select("vec_id", "label")
    val knnDf = if (blocked) knnJoinBlocked(spark, dir, k)
                else knnServe(spark, dir, k)
    knnClassifyBody(lab, knnDf)
  }

  /** df form over the exact join: expects (vec_id, embedding, label). */
  def knnClassify(emb: DataFrame, k: Int): DataFrame =
    knnClassifyBody(emb.select("vec_id", "label"), knnJoin(emb, k))

  private def knnClassifyBody(lab: DataFrame, knnDf: DataFrame): DataFrame = {
    val votes = knnDf
      .join(lab.select(col("vec_id").as("nid"), col("label").as("nlabel")),
        col("vec_id") === col("nid"))
      .groupBy("qid", "nlabel")
      .agg(count(lit(1)).as("votes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("votes").desc, col("nlabel").asc)
    val pred = votes
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("qid").as("vec_id"), col("nlabel").as("predicted"),
        col("votes"))
    lab.join(pred, "vec_id")
      .select(col("vec_id"), col("label"), col("predicted"), col("votes"),
        (col("label") === col("predicted")).as("correct"))
  }

  /** Multi-table LSH search body. Shape at scale:
    *  1. corpus pass computes the L per-table buckets per vector ONCE
    *     (codegen'd sign bits), then unpivots to a SLIM (vec_id, t,
    *     bucket) table — 3 ints per (vector, table), never the vectors;
    *  2. the query probe set (qid, t, probe) is tiny (nQueries · L ·
    *     (bits+1) rows) and broadcast into an equi-join on (t, bucket)
    *     — per-key fanout is bucket occupancy ≈ [[TargetBucket]];
    *  3. candidate PAIRS dedup across tables BEFORE any cosine —
    *     the union-of-tables never scores a pair twice;
    *  4. vectors re-enter only for the deduped candidates (broadcast
    *     pair list against the corpus scan), then the usual per-query
    *     top-k window over bounded candidate rows. */
  private def lshBody(vin: DataFrame, isQuery: Column, nPlanes: Int,
                      nTables: Int, k: Int): DataFrame = {
    val v = vin.withColumn("buckets", signaturesCol(nTables, nPlanes))
    // slim (vec_id, t, bucket) corpus index — one row per (vector, table)
    val cb = v.select(col("vec_id"),
      posexplode(col("buckets")).as(Seq("t", "bucket")))
    val qp = lshQueryProbes(vin, isQuery, nPlanes, nTables)
    val cand = broadcast(qp).as("q")
      .join(cb.as("c"),
        col("q.t") === col("c.t") && col("q.probe") === col("c.bucket") &&
          col("q.qid") =!= col("c.vec_id"))
      .select(col("q.qid"), col("c.vec_id"))
      .distinct()
    lshScoreTail(vin, isQuery, cand, k)
  }

  /** Per-query probe rows (qid, t, probe): the query batch's buckets
    * (the ONE bucketCol expression) plus every single-bit flip per
    * table — shared by the live and indexed search forms. */
  private def lshQueryProbes(v: DataFrame, isQuery: Column,
                             nPlanes: Int, nTables: Int): DataFrame =
    v.where(isQuery)
      .withColumn("buckets", signaturesCol(nTables, nPlanes))
      .select(col("vec_id").as("qid"),
        posexplode(col("buckets")).as(Seq("t", "bucket")))
      .withColumn("probe", explode(expr(
        s"""array_union(array(bucket),
           |  transform(sequence(0, ${nPlanes - 1}),
           |    i -> cast(bucket ^ shiftleft(1, i) as int)))""".stripMargin)))
      .select(col("qid"), col("t"), col("probe"))

  /** Cosine scoring + per-query top-k over DEDUPED candidate pairs —
    * vectors re-enter only here (broadcast pair list against the raw
    * embedding scan), shared by the live and indexed search forms. */
  private def lshScoreTail(v: DataFrame, isQuery: Column, cand: DataFrame,
                           k: Int): DataFrame = {
    val qv = v.where(isQuery).select(col("vec_id").as("qid"),
      col("e").as("qe"), col("nrm").as("qnrm"))
    val scored = broadcast(cand.join(broadcast(qv), "qid"))
      .join(v.select(col("vec_id"), col("e"), col("nrm")), "vec_id")
      .select(col("qid"), col("vec_id"),
        (graft.functions.VectorExprs.dot(col("qe"), col("e")) /
          (col("qnrm") * col("nrm"))).as("sim"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast(LongType))
      .where(col("rn") <= k)
  }
}
