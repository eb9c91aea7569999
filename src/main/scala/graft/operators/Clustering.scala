package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Artifacts
import graft.sources.Tables

/** K-Means clustering over `embeddings` (SURVEY §2 B21) — the proper
  * completion of the reference's unfinished sketch
  * (`/root/reference/kmeans.go:5-25`, "each Map runs K-Means locally,
  * reducers merge coordinate ranges", unimplemented per `README.md:12`).
  *
  * Spark-first Lloyd's algorithm:
  *  - assignment: centroids are a tiny driver-side array broadcast as a
  *    literal into one per-row expression (array_min over (dist², cid)
  *    structs) — no join, no shuffle, whole corpus scanned once per
  *    iteration;
  *  - update: posexplode to (cid, dim, value) then partial/final avg —
  *    one narrow shuffle of k·64 running sums per partition, NOT the
  *    vectors themselves (map-side combine does the heavy lifting);
  *  - the k·64-double centroid state lives on the driver between
  *    iterations — constant-size regardless of corpus scale.
  *
  * Determinism: init = the k lowest vec_ids; ties in assignment break to
  * the lower cid (struct ordering); centroid components are rounded to
  * 9 decimals each iteration so double-summation order cannot leak into
  * the result across runs/partitionings.
  */
object Clustering {

  val K = 10
  val Iters = 8

  private def vecs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))

  /** Per-centroid (d2, cid) struct columns over the vector column `e` —
    * the distance kernel is the codegen'd [[graft.functions.SqDistF64]]
    * (same left-fold order as the `aggregate(zip_with(..))` form it
    * replaced, so distances are bit-identical); shared by the
    * assignment pass, IVF search and blocked embed-dedup. */
  private[operators] def distStructs(cs: Array[Array[Double]]): Seq[org.apache.spark.sql.Column] =
    cs.zipWithIndex.map { case (c, i) =>
      struct(graft.functions.VectorExprs.sqDist(col("e"), lit(c)).as("d2"),
        lit(i).as("cid"))
    }.toSeq

  /** One assignment pass: adds `cid` (nearest centroid by L2²) and
    * `d2` (its squared distance). */
  private[operators] def assign(v: DataFrame, cs: Array[Array[Double]]): DataFrame =
    v.withColumn("best", array_min(array(distStructs(cs): _*)))
      .select(col("vec_id"), col("e"),
        col("best.cid").as("cid"), col("best.d2").as("d2"))

  /** Lloyd's K-Means driver loop: returns the fitted centroids (k·64
    * doubles of driver state — constant in corpus size). Also the coarse
    * quantizer for `Similarity.ivfTopK`. */
  def fit(spark: SparkSession, dir: String, iters: Int = Iters,
          k: Int = K): Array[Array[Double]] =
    // deterministic per (dir, iters, k, data fingerprint) → safe to
    // memoize; without this a Verify run re-fits for q_kmeans,
    // q_simsearch_ivf and the blocked embed-dedup (3× the most expensive
    // driver loop). The memo goes stale when the table is regenerated in
    // place (Fs fingerprint).
    Artifacts.memo(Artifacts.Model, "kmeans", dir, "embeddings", iters, k)(
      fit(vecs(spark, dir), iters, k))

  /** df form: expects (vec_id: Long, e: Array[Double]); not memoized. */
  def fit(vectors: DataFrame, iters: Int): Array[Array[Double]] =
    fit(vectors, iters, K)

  def fit(vectors: DataFrame, iters: Int, k: Int): Array[Array[Double]] = {
    val v = vectors.cache()
    var cs: Array[Array[Double]] = v.orderBy("vec_id").limit(k)
      .collect().map(_.getSeq[Double](1).toArray)
    for (_ <- 1 to iters) {
      // one shuffle per iteration: partial sums of (cid, dim) on the map
      // side, k·64 rows collected straight to the driver (no second
      // aggregation round-trip)
      val upd = assign(v, cs)
        .select(col("cid"), posexplode(col("e")))
        .groupBy("cid", "pos").agg(avg("col").as("m"))
        .collect()
      val next = cs.clone().map(_.clone())
      upd.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = BigDecimal(r.getDouble(2))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      cs = next
    }
    v.unpersist()
    cs
  }

  /** Lloyd's K-Means, fixed iteration count, deterministic init (lowest
    * vec_ids). Returns the final assignment (vec_id, cid, d2). */
  def kmeansAssign(spark: SparkSession, dir: String, iters: Int = Iters): DataFrame =
    assign(vecs(spark, dir), fit(spark, dir, iters))
      .select(col("vec_id"), col("cid"), col("d2"))

  /** df form: expects (vec_id: Long, e: Array[Double]). */
  def kmeansAssign(vectors: DataFrame, iters: Int): DataFrame =
    assign(vectors, fit(vectors, iters))
      .select(col("vec_id"), col("cid"), col("d2"))

  // ── Fixed-point Lloyd's (the declared, ORACLE-EXACT q_kmeans) ──────
  //
  // The double-precision loop above is deterministic for Spark
  // re-runs, but its per-(cid, dim) mean is an UNORDERED double sum —
  // a DuckDB oracle recomputing it differs by ~1e-13 before the
  // 9-decimal rounding, and across 8 iterations × k·64 rounding
  // decisions a boundary straddle (then assignment flip) is
  // near-certain. So the declared query runs Lloyd's in MICRO-UNIT
  // INTEGER arithmetic (the q_pagerank pattern): components quantized
  // to round(x·10⁶) once up front, distances and sums exact BIGINTs
  // (reassociation-proof — no fold-order contract needed), centroid
  // means rounded half-away-from-zero by an exact integer formula.
  // Every step is bit-reproducible in any engine; the oracle unrolls
  // the loop as chained CTEs. Quantization error (≤ 5e-7 per
  // component) is noise at clustering granularity.
  //
  // Scale bound: per-(cid, dim) sums overflow signed 64-bit only past
  // ~9e18 micro-units ≈ 9e12 members per cluster; beyond that the
  // same loop runs on DECIMAL sums.

  /** Micro-unit scale: 1e6 (components ≲ 2 in magnitude ⇒ |xi| ≲ 2e6). */
  val FpScale = 1e6

  private[operators] def qvecs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => round(x * lit(FpScale)).cast(LongType)).as("e"))

  private[operators] def distStructsL(cs: Array[Array[Long]]): Seq[org.apache.spark.sql.Column] =
    cs.zipWithIndex.map { case (c, i) =>
      struct(graft.functions.VectorExprs.sqDistLong(col("e"), lit(c)).as("d2"),
        lit(i).as("cid"))
    }.toSeq

  private[operators] def assignFixed(v: DataFrame, cs: Array[Array[Long]]): DataFrame =
    v.withColumn("best",
        element_at(graft.functions.VectorExprs.nearestLists(col("e"), cs, 1), 1))
      .select(col("vec_id"), col("e"),
        col("best.cid").as("cid"), col("best.d2").as("d2"))

  /** round-half-away-from-zero(s / n) in exact integer arithmetic
    * (mirrored verbatim by the oracle's CASE; n ≥ 1). */
  private def roundDiv(s: Long, n: Long): Long =
    if (s >= 0) (2 * s + n) / (2 * n) else -((2 * -s + n) / (2 * n))

  /** Fixed-point Lloyd's fit: same init (k lowest vec_ids), same
    * tie-break (lower cid), same empty-cluster rule (carry the previous
    * centroid) as the double loop — but exact at every step. */
  def fitFixed(spark: SparkSession, dir: String, iters: Int = Iters,
               k: Int = K): Array[Array[Long]] =
    Artifacts.memo(Artifacts.Model, "kmeansfixed", dir, "embeddings", iters, k)(
      fitFixed(qvecs(spark, dir), iters, k))

  /** df form: expects (vec_id: Long, e: Array[Long] micro-units); not
    * memoized. Also the IVF coarse-quantizer fit (`Similarity`), where
    * exactness makes the whole ANN search DuckDB-replayable. */
  def fitFixed(vectors: DataFrame, iters: Int, k: Int): Array[Array[Long]] = {
    val v = vectors.cache()
    var cs: Array[Array[Long]] = v.orderBy("vec_id").limit(k)
      .collect().map(_.getSeq[Long](1).toArray)
    for (_ <- 1 to iters) {
      val upd = assignFixed(v, cs)
        .select(col("cid"), posexplode(col("e")))
        .groupBy("cid", "pos")
        .agg(sum("col").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cs.clone().map(_.clone())
      upd.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = roundDiv(r.getLong(2), r.getLong(3))
      }
      cs = next
    }
    v.unpersist()
    cs
  }

  /** B21 q_kmeans: cluster cardinalities + within-cluster inertia after
    * `Iters` fixed-point Lloyd iterations. Inertia converts the exact
    * BIGINT micro² sum back to real units with ONE double division —
    * bit-identical cross-engine, so the DuckDB oracle (the loop
    * unrolled as chained CTEs) hash-matches exactly. */
  def kmeansSummary(spark: SparkSession, dir: String): DataFrame =
    assignFixed(qvecs(spark, dir), fitFixed(spark, dir))
      .groupBy(col("cid").cast(LongType).as("cid"))
      .agg(count(lit(1)).as("n"),
        (sum("d2").cast("double") / lit(FpScale * FpScale)).as("inertia"))
      .orderBy("cid")

  /** q_embed_centroid: per-label mean embedding — the supervised twin
    * of the K-Means update step (class prototypes: mean-pooled
    * category vectors for nearest-centroid classification, cluster
    * summaries, drift baselines). One explode of the vector column to
    * (label, dim) grain and ONE partial/final aggregation — the
    * per-group key space is |labels|·dims regardless of corpus size,
    * so the shuffle carries sketches, never vectors. Emitted at
    * (label, dim) grain: reassembling arrays would force a second
    * per-label collect and make the result column unsortable for the
    * hash gate. Mean is rounded to 4 decimals (the float sums
    * reassociate across partitions; rounding is the documented
    * convention for cross-engine double aggregates). */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .select(col("label").cast(LongType).as("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "e")))
      .groupBy(col("label"), (col("pos") + 1).cast(LongType).as("dim"))
      // + 0.0 normalizes IEEE negative zero out of the rounded mean
      // (the q_scalar_array hash-divergence fix, same pattern)
      .agg(count(lit(1)).as("n"), (round(avg("e"), 4) + lit(0.0)).as("mean_e"))

  /** q_nearest_centroid: nearest-prototype classification confusion
    * matrix — every vector assigned to its closest label centroid
    * (Rocchio/nearest-class-mean classification), tallied against the
    * true label. The self-evaluation a labeled corpus gets for free:
    * how separable are the classes under their own prototypes?
    *
    * Shape: the centroid table (|labels|·dims rows — 640 here) is
    * BROADCAST onto the exploded (vec, dim) grain, per-(vec, label)
    * squared distances come from one partial/final sum, and the
    * argmin is `min(struct(d2, label))` — lexicographic struct order
    * gives a deterministic label-asc tie-break, mirrored by the
    * oracle's ORDER BY d2, cand. Centroids enter the distance at
    * their ROUNDED (4-decimal) values — exact doubles on both
    * engines, so the only cross-engine float hazard is the unordered
    * d2 summation (≈1e-15 relative), which cannot flip an argmin
    * between genuinely separated classes. Nothing driver-side, no
    * k·n² pair materialization — cost is |vectors|·dims·|labels|
    * multiply-adds, embarrassingly parallel. */
  def nearestCentroid(spark: SparkSession, dir: String): DataFrame = {
    val cent = labelCentroids(spark, dir)
      .select(col("label").as("cand"), col("dim"), col("mean_e").as("c"))
    val ex = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label").cast(LongType).as("true_label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("true_label"),
        (col("pos") + 1).cast(LongType).as("dim"), col("x"))
    ex.join(broadcast(cent), "dim")
      .groupBy("vec_id", "true_label", "cand")
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("d2"))
      .groupBy("vec_id", "true_label")
      .agg(min(struct(col("d2"), col("cand"))).as("m"))
      .select(col("true_label"), col("m.cand").as("pred_label"))
      .groupBy("true_label", "pred_label")
      .agg(count(lit(1)).as("n"))
  }

  // ---- q_pca_power: the FIRST PRINCIPAL DIRECTION of the embedding
  // corpus by fixed-point power iteration — the linear-algebra operator
  // class (matvec as aggregation) beside the Lloyd loop. v_{t+1} ∝
  // Xᵀ(X·v_t): one pass computes every s_i = ⟨x_i, v⟩ (64 codegen'd
  // multiply-adds, whole-stage), the transpose pass sums x_id·s_i per
  // dimension (posexplode + partial/final sum — the kmeans update
  // shape), and the driver renormalizes 64 longs. Renormalization is
  // MAX-norm, not L2: power iteration converges under any positive
  // rescaling, and max-norm needs no sqrt — every step stays exact
  // integer, so the DuckDB oracle unrolls the loop as chained CTEs and
  // hash-matches bit-for-bit (the q_kmeans convention).
  //
  // Scale bounds (documented, like the Lloyd sums): s_i ≤ dims·X·F
  // (X = max |component| micro-units, F = FpScale) ≈ 3e14, downscaled
  // by F before the transpose so per-dim sums stay ≤ n·X·s' ≈ 8e18 at
  // n = 5e3 — past ~10⁴ vectors shift the s-downscale one decade
  // (range traded for precision, one constant).

  /** Power-iteration rounds (same count as the Lloyd loop). */
  val PcaIters = 8

  def pcaPowerFixed(spark: SparkSession, dir: String,
                    iters: Int = PcaIters): Array[Long] =
    Artifacts.memo(Artifacts.Model, "pca", dir, "embeddings", iters)(
      pcaPowerFixed(qvecs(spark, dir), iters))

  /** df form: expects (vec_id, e: Array[Long] micro-units). Driver
    * state is ONE 64-long vector per round. */
  def pcaPowerFixed(vectors: DataFrame, iters: Int): Array[Long] = {
    val v = vectors.cache()
    val dims = v.select(size(col("e"))).head().getInt(0)
    var c = Array.fill(dims)(FpScale.toLong) // deterministic all-ones init
    val f = FpScale.toLong
    for (_ <- 1 to iters) {
      // s_i = roundDiv(⟨x_i, v⟩, F): 64 codegen multiply-adds per row,
      // the sign-safe rounding CASE mirrored verbatim by the oracle
      val dot = (0 until dims).map(d => col("e")(d) * lit(c(d))).reduce(_ + _)
      val w = v.withColumn("dotv", dot)
        .withColumn("s", expr(s"CASE WHEN dotv >= 0 THEN (2 * dotv + $f) div ${2 * f}" +
          s" ELSE -((2 * -dotv + $f) div ${2 * f}) END"))
        .select(posexplode(col("e")), col("s"))
        .groupBy("pos").agg(sum(col("col") * col("s")).as("w"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val wArr = (0 until dims).map(d => w.getOrElse(d, 0L)).toArray
      val m = math.max(1L, wArr.map(math.abs).max)
      val md = math.max(1L, roundDiv(m, FpScale.toLong))
      c = wArr.map(roundDiv(_, md))
    }
    v.unpersist()
    c
  }

  /** q_pca_power: the learned direction as (dim, c) rows — 64-row
    * output, the bounded artifact a feature pipeline persists. */
  def pcaPower(spark: SparkSession, dir: String): DataFrame = {
    val c = pcaPowerFixed(spark, dir)
    val s = spark
    import s.implicits._
    c.zipWithIndex.map { case (x, d) => (d.toLong, x) }.toSeq
      .toDF("dim", "c").orderBy("dim")
  }

  /** q_pca_project: every vector's scalar coordinate along the learned
    * direction — the model artifact IN USE (dimensionality reduction /
    * drift scoring / stratified sampling key). One codegen pass: 64
    * multiply-adds + the sign-safe rounded downscale per row; the
    * direction is [[pcaPowerFixed]]'s memoized 64 longs, broadcast as
    * literals. proj is micro-unit scale (⟨x, v⟩ / F). */
  def pcaProject(spark: SparkSession, dir: String): DataFrame = {
    val c = pcaPowerFixed(spark, dir)
    val f = FpScale.toLong
    val dot = c.indices.map(d => col("e")(d) * lit(c(d))).reduce(_ + _)
    qvecs(spark, dir)
      .withColumn("dotv", dot)
      .select(col("vec_id"),
        expr(s"CASE WHEN dotv >= 0 THEN (2 * dotv + $f) div ${2 * f}" +
          s" ELSE -((2 * -dotv + $f) div ${2 * f}) END").as("proj"))
  }

  // ---- q_pca_deflate: the SECOND principal direction via deflation —
  // the step that shows the fixed-point matvec-as-aggregation pattern
  // GENERALIZES to a top-k component loop (VERDICT r9 #5). Deflation
  // is the exact projection removal, not the loose x − (proj·v)/F
  // (max-norm v has ⟨v,v⟩ anywhere in [F², 64F²], so dividing by F²
  // over-removes by up to 64× and leaves a v-component that power
  // iteration re-amplifies): with s = roundDiv(⟨x, v⟩, F) (the
  // pcaProject scalar) and vvf = max(1, roundDiv(⟨v,v⟩, F)),
  //   x′_d = x_d − roundDiv(s · v_d, vvf)
  // ≈ x − (⟨x,v⟩/⟨v,v⟩)·v to one rounding each — all integer, so the
  // oracle doubles the CTE chain and hash-matches bit-for-bit.
  //
  // Bounds: |s| ≤ ~3e8 (the documented s-bound / F), |v_d| ≤ ~F ⇒
  // |s·v_d| ≤ ~3e14 ≪ 2⁶³; vvf ≤ 64F²/F ≈ 6.4e7; the correction is
  // micro-unit scale, so x′ keeps the power chain's documented range.
  // Residual v-leakage from the two roundings is ≤ ~1 micro-unit per
  // component — the planted-two-direction spec confirms iteration
  // converges to the true second direction, |cos| = 1.0.

  /** Deflated corpus (vec_id, e): each vector minus its component
    * along the FIRST learned direction, exact integer arithmetic. */
  private[graft] def pcaDeflatedVecs(vectors: DataFrame,
                                     c1: Array[Long]): DataFrame = {
    val f = FpScale.toLong
    val vv = c1.map(x => x * x).sum // ≤ 64·F² ≈ 6.4e13, no overflow
    val vvf = math.max(1L, roundDiv(vv, f))
    val dot = c1.indices.map(d => col("e")(d) * lit(c1(d))).reduce(_ + _)
    vectors
      .withColumn("dotv", dot)
      .withColumn("s", expr(
        s"CASE WHEN dotv >= 0 THEN (2 * dotv + $f) div ${2 * f}" +
          s" ELSE -((2 * -dotv + $f) div ${2 * f}) END"))
      .select(col("vec_id"), array(c1.indices.map { d =>
        val p = s"(s * ${c1(d)}L)"
        col("e")(d) - expr(
          s"CASE WHEN $p >= 0 THEN (2 * $p + $vvf) div ${2 * vvf}" +
            s" ELSE -((2 * -$p + $vvf) div ${2 * vvf}) END")
      }: _*).as("e"))
  }

  def pcaDeflateFixed(spark: SparkSession, dir: String,
                      iters: Int = PcaIters): Array[Long] =
    Artifacts.memo(Artifacts.Model, "pcadeflate", dir, "embeddings", iters)(
      pcaPowerFixed(pcaDeflatedVecs(qvecs(spark, dir),
        pcaPowerFixed(spark, dir, iters)), iters))

  /** q_pca_deflate: the second principal direction as (dim, c) rows —
    * same 64-row artifact shape as [[pcaPower]]. */
  def pcaDeflate(spark: SparkSession, dir: String): DataFrame = {
    val c = pcaDeflateFixed(spark, dir)
    val s = spark
    import s.implicits._
    c.zipWithIndex.map { case (x, d) => (d.toLong, x) }.toSeq
      .toDF("dim", "c").orderBy("dim")
  }

  /** Components returned by [[pcaTopK]]. */
  val PcaK = 3

  /** q_pca_topk: the deflation step LOOPED — the top-k principal
    * directions by chain → deflate → chain → deflate → chain. Each
    * deflation is the exact-integer projection removal of
    * [[pcaDeflatedVecs]] against the latest learned direction, applied
    * to the ALREADY-deflated corpus, so direction j is learned on a
    * corpus with components 1..j−1 removed — the classic deflated
    * power method, every step integer and oracle-unrollable. By
    * construction component 2 of this loop IS [[pcaDeflateFixed]]'s
    * output (spec-asserted). Output (comp, dim, c): k·dims rows, the
    * bounded multi-component model artifact. */
  def pcaTopKFixed(spark: SparkSession, dir: String, k: Int = PcaK,
                   iters: Int = PcaIters): Array[Array[Long]] =
    Artifacts.memo(Artifacts.Model, "pcatopk", dir, "embeddings", k, iters) {
      val comps = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
      var vs = qvecs(spark, dir)
      for (c <- 0 until k) {
        val cc = pcaPowerFixed(vs, iters)
        comps += cc
        if (c < k - 1) vs = pcaDeflatedVecs(vs, cc)
      }
      comps.toArray
    }

  def pcaTopK(spark: SparkSession, dir: String): DataFrame = {
    val cs = pcaTopKFixed(spark, dir)
    val s = spark
    import s.implicits._
    cs.zipWithIndex.flatMap { case (c, j) =>
      c.zipWithIndex.map { case (x, d) => (j.toLong, d.toLong, x) }
    }.toSeq.toDF("comp", "dim", "c").orderBy("comp", "dim")
  }

  /** Output dimensionality of [[jlProject]]. */
  val JlDims = 16

  /** q_jl_project: Johnson–Lindenstrauss random projection — the
    * DATA-INDEPENDENT dimensionality reduction beside the learned PCA
    * family: y_j = ⟨g_j, x⟩ for [[JlDims]] fixed Gaussian directions
    * (Indyk & Motwani, STOC 1998; the dense-Gaussian JL map), drawn
    * from [[Similarity.planes]]' seeded pool — ONE plane convention
    * across LSH bucketing and JL projection, so the two can't drift
    * and the oracle replays both the same way (inlined exact double
    * literals, identical left-fold order ⇒ bit parity).
    *
    * Why beside PCA: PCA needs a fitted model (a driver round per
    * power iteration) and captures variance; JL needs NO pass over the
    * data, preserves pairwise distances within (1 ± ε) whp (spec
    * measures the distortion), and is the standard first move at
    * 100 TB — shrink 64-d to 16-d in the scan projection itself
    * (16 codegen'd dot kernels, no shuffle, no state), e.g. to feed
    * the blocked-kNN grid or cut ANN memory 4×. Scaling by 1/√d is
    * left to the consumer (a constant — distances all scale together).
    *
    * Output long-form (vec_id, dim ∈ [0, d), y) — the per-dimension
    * rows the oracle hash-compares. */
  def jlProject(spark: SparkSession, dir: String): DataFrame =
    jlProject(Tables(spark, dir, "embeddings"), JlDims)

  /** df form: expects (vec_id: Long, embedding: Array[Float|Double]);
    * `d` ≤ the seeded pool size (LshTablesMax · LshMaxBits = 144). */
  def jlProject(emb: DataFrame, d: Int): DataFrame = {
    require(d <= Similarity.planes.length, s"d=$d exceeds the plane pool")
    val ycols = (0 until d).map { j =>
      graft.functions.VectorExprs.dot(lit(Similarity.planes(j)), col("e"))
    }
    emb.withColumn("e", col("embedding").cast("array<double>"))
      .select(col("vec_id"), posexplode(array(ycols: _*)))
      .select(col("vec_id"), col("pos").cast(LongType).as("dim"),
        col("col").as("y"))
  }

  // ---------------------------------------------------------------------
  // q_dbscan: density-based clustering
  // ---------------------------------------------------------------------

  /** Neighborhood predicate: cosine ≥ eps. 0.35 sits in the fixture's
    * planted-near-dup tail ABOVE the percolation threshold (at 0.3 the
    * ε-graph's avg degree ~3.7 merges everything into one giant
    * component; at 0.35 the sf0.01 corpus splits into 38 clusters with
    * 142 core / 122 border / 236 noise — the regime DBSCAN exists
    * for). */
  val DbscanEps = 0.35

  /** Minimum ε-neighborhood size INCLUDING the point itself (the KDD
    * paper's |N_ε(p)| ≥ minPts convention). */
  val DbscanMinPts = 3

  /** q_dbscan: DBSCAN over the embedding space (Ester, Kriegel, Sander
    * & Xu, KDD 1996) with cosine similarity ≥ [[DbscanEps]] as the
    * neighborhood predicate — the density-based complement of the
    * K-Means family: clusters of arbitrary shape, an explicit NOISE
    * verdict, no k chosen up front. On a training corpus this is the
    * "find the organic near-dup blobs and the isolated junk" pass.
    *
    * Made deterministic (classic DBSCAN's border assignment is
    * scan-order-dependent): clusters are connected components of the
    * CORE-CORE ε-graph labeled by min core vec_id ([[Dedup.dupComponents]]
    * — the HCC loop the dedup family trusts), and a border point joins
    * the MINIMUM cluster label among its core neighbors. Every decision
    * is then a pure function of the ε-graph, so the DuckDB oracle
    * replays the whole chain (pairs → degrees → cores → recursive
    * closure → border min-join).
    *
    * Shape at scale: the ε-edge list comes from the exact 2-D block
    * grid join ([[Dedup.embedNearDupGrid]] — B² bounded cells, 2·n·B
    * shuffle rows, no broadcast of the corpus); everything after is
    * bounded by the EDGE list: one degree count, two semi-joins, the
    * log-round component loop, one border min-aggregate. At 100 TB the
    * edge generation is the knob — swap in the IVF-blocked pair finder
    * ([[Dedup.embedNearDupBlocked]]) exactly as the kNN family does;
    * the clustering body is identical. */
  def dbscan(spark: SparkSession, dir: String): DataFrame =
    dbscanBody(Similarity.vecs(spark, dir))

  /** df form: expects (vec_id: Long, embedding: Array[Float|Double]). */
  def dbscan(emb: DataFrame, eps: Double = DbscanEps,
             minPts: Int = DbscanMinPts): DataFrame =
    dbscanBody(Similarity.vecs(emb), eps, minPts)

  private def dbscanBody(v: DataFrame, eps: Double = DbscanEps,
                         minPts: Int = DbscanMinPts): DataFrame = {
    // the ε-edge list is the expensive stage (grid join over the
    // embeddings) and has THREE consumer subtrees that materialize in
    // separate jobs (the CC loop's first round, the degree/border
    // aggregates, the core semi-joins) — cut it so the grid join runs
    // once per serve, not once per consumer job
    val pairs = graft.Engine.cut(
      Dedup.embedNearDupGrid(v, blocks = 8, tau = eps)
        .select("va", "vb"))
    val edges = pairs.unionAll(
      pairs.select(col("vb").as("va"), col("va").as("vb")))
    // |N_ε(p)| = undirected neighbors + the point itself
    val deg = edges.groupBy(col("va").as("vec_id"))
      .agg(count(lit(1)).as("nbrs"))
    val core = v.select("vec_id")
      .join(deg, Seq("vec_id"), "left")
      .select(col("vec_id"),
        (coalesce(col("nbrs"), lit(0L)) + 1L >= minPts.toLong).as("is_core"))
    val coreIds = core.where(col("is_core")).select("vec_id")
    val coreEdges = pairs
      .join(coreIds.select(col("vec_id").as("va")), Seq("va"), "left_semi")
      .join(coreIds.select(col("vec_id").as("vb")), Seq("vb"), "left_semi")
    val comps = Dedup.dupComponents(
      coreEdges.select(col("va").as("da"), col("vb").as("db")))
    // a core point with no core neighbor is still a (singleton) cluster
    val coreComp = coreIds
      .join(comps.select(col("doc_id").as("vec_id"), col("comp")),
        Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("comp"), col("vec_id")).as("cluster"))
    // border: non-core with ≥ 1 core ε-neighbor → min neighbor cluster
    val borderAssign = edges
      .join(coreComp.select(col("vec_id").as("vb"), col("cluster")), "vb")
      .groupBy(col("va").as("vec_id")).agg(min("cluster").as("bcluster"))
    core
      .join(coreComp, Seq("vec_id"), "left")
      .join(borderAssign, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("is_core"), lit("core"))
          .when(col("bcluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("cluster"),
          when(!col("is_core"), col("bcluster")),
          lit(-1L)).as("cluster"))
  }
}
