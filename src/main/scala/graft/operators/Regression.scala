package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Artifacts
import graft.sources.Tables

/** Fixed-point LINEAR REGRESSION via sufficient statistics — the
  * classic "supervised learning as one aggregation" shape (Dean &
  * Ghemawat, OSDI 2004 §4 lists machine learning over sufficient
  * statistics among the canonical MapReduce applications; the same
  * pattern every Spark MLlib linear fit uses underneath): ONE
  * partial/final aggregation pass computes the 9 normal-equation sums
  * (XᵀX, Xᵀy for 2 features + intercept), the driver solves the 3×3
  * system EXACTLY by integer Cramer's rule in BigInt, and the learned
  * coefficients replay bit-for-bit in DuckDB (HUGEINT arithmetic ≡
  * BigInt; same sign-safe round-half-away division as the kmeans/PCA
  * family).
  *
  * The catalog task: predict a document's whitespace token count from
  * (n_chars, letter-'e' count) — the tokens-per-char shape a curation
  * pipeline fits to flag tokenizer drift / anomalous documents.
  *
  * Scale shape: the data pass is ONE codegen scan → 9-long partial
  * aggregate per partition → one final row to the driver (bounded
  * state, the k-centroid pattern); prediction is a codegen projection
  * with the 3 coefficients inlined as literals. Sum bounds: each sum
  * ≤ n·max(x)² — past ~9e18 (n ≈ 1e11 docs at 1e4 chars) the same
  * pass runs on DECIMAL sums, the documented Lloyd-sum convention. */
object Regression {

  /** Coefficient scale (micro-units, the q_kmeans FpScale convention). */
  val F = 1000000L

  /** Feature/label rows: x1 = n_chars, x2 = letter-'e' count, y = token
    * count (a GENUINELY noisy linear relationship — unlike a space
    * count, which this corpus ties to the label exactly) — integer string ops with exact DuckDB twins. */
  private def feats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("n_chars").cast("long").as("x1"),
      (length(col("text")) - length(replace(col("text"), lit("e"), lit(""))))
        .cast("long").as("x2"),
      size(filter(split(col("text"), " "), w => length(w) > 0))
        .cast("long").as("y"))

  /** round-half-away-from-zero(s / n) in BigInt (n > 0) — the
    * roundDiv CASE the whole fixed-point family uses, evaluated
    * exactly so the driver solve matches DuckDB's HUGEINT replay. */
  private def roundDivB(s: BigInt, n: BigInt): BigInt =
    if (s >= 0) (2 * s + n) / (2 * n) else -((2 * -s + n) / (2 * n))

  /** The fit: one aggregation pass → BigInt Cramer solve → 3 exact
    * micro-unit coefficients (β₀ + β₁·x1 + β₂·x2). */
  def fitFixed(spark: SparkSession, dir: String): Array[Long] =
    Artifacts.memo(Artifacts.Model, "linregfit", dir, "documents")(
      fitFixed(feats(Tables(spark, dir, "documents"))))

  /** The 9 normal-equation sums as one aggregated row — the
    * SUFFICIENT STATISTICS of the fit, and the whole reason the
    * incremental form below is exact: sums of disjoint slices ADD. */
  private def sums(f: DataFrame): DataFrame =
    f.agg(
      count(lit(1)).as("n"),
      sum("x1").as("sx1"), sum("x2").as("sx2"),
      sum(col("x1") * col("x1")).as("sx11"),
      sum(col("x1") * col("x2")).as("sx12"),
      sum(col("x2") * col("x2")).as("sx22"),
      sum("y").as("sy"),
      sum(col("x1") * col("y")).as("sx1y"),
      sum(col("x2") * col("y")).as("sx2y"))

  /** df form: expects (x1, x2, y) long columns. */
  private[graft] def fitFixed(f: DataFrame): Array[Long] =
    solve(sums(f).head())

  /** Per-batch sufficient statistics of an arbitrary documents frame —
    * the increment a streaming fold banks (9 columns, 1 row). */
  private[graft] def suffStats(docs: DataFrame): DataFrame = sums(feats(docs))

  /** Re-aggregate stacked statistics rows (state ∪ increment) — exact
    * integer addition, shared by the append and streaming folds. */
  private[graft] def addStats(stacked: DataFrame): DataFrame =
    stacked.agg(sum("n").as("n"),
      sum("sx1").as("sx1"), sum("sx2").as("sx2"),
      sum("sx11").as("sx11"), sum("sx12").as("sx12"), sum("sx22").as("sx22"),
      sum("sy").as("sy"), sum("sx1y").as("sx1y"), sum("sx2y").as("sx2y"))

  private[graft] def solveRow(spark: SparkSession,
                              r: org.apache.spark.sql.Row): DataFrame =
    betaRows(spark, solve(r))

  private def solve(r: org.apache.spark.sql.Row): Array[Long] = {
    val Seq(n, sx1, sx2, sx11, sx12, sx22, sy, sx1y, sx2y) =
      (0 until 9).map(i => BigInt(r.getLong(i)))
    // A = [[n, sx1, sx2], [sx1, sx11, sx12], [sx2, sx12, sx22]], b = [sy, sx1y, sx2y]
    def det3(a: Array[Array[BigInt]]): BigInt =
      a(0)(0) * (a(1)(1) * a(2)(2) - a(1)(2) * a(2)(1)) -
        a(0)(1) * (a(1)(0) * a(2)(2) - a(1)(2) * a(2)(0)) +
        a(0)(2) * (a(1)(0) * a(2)(1) - a(1)(1) * a(2)(0))
    val a = Array(Array(n, sx1, sx2), Array(sx1, sx11, sx12), Array(sx2, sx12, sx22))
    val b = Array(sy, sx1y, sx2y)
    val det = det3(a)
    require(det != 0, "degenerate design matrix (collinear features): no unique least-squares fit")
    // Cramer: β_j = det(A with column j := b) / det(A), scaled to F —
    // sign-safe rounding against |det| with the sign re-applied, so
    // the result is round-half-away of the true rational either way
    (0 until 3).map { j =>
      val aj = a.map(_.clone())
      (0 until 3).foreach(i => aj(i)(j) = b(i))
      val num = F * det3(aj) * det.signum
      val beta = roundDivB(num, det.abs)
      assert(beta.isValidLong, s"coefficient $j out of Long range: $beta")
      beta.toLong
    }.toArray
  }

  /** q_linreg: the learned coefficients as (j, beta_fp) rows — the
    * 3-row model artifact (the q_pca_power output convention). */
  def linreg(spark: SparkSession, dir: String): DataFrame =
    betaRows(spark, fitFixed(spark, dir))

  private def betaRows(spark: SparkSession, betas: Array[Long]): DataFrame = {
    val s = spark
    import s.implicits._
    betas.zipWithIndex.map { case (v, j) => (j.toLong, v) }.toSeq
      .toDF("j", "beta_fp").orderBy("j")
  }

  // ---- q_linreg_append: MODEL REFRESH WITHOUT A FULL PASS — the
  // payoff of fitting via sufficient statistics. The base slice's 9
  // sums are staged once; an arriving batch contributes its own 9
  // sums (one |delta|-sized scan), and because sums of disjoint
  // slices ADD in exact integers, the merged statistics — and
  // therefore the Cramer solve — are BIT-IDENTICAL to a from-scratch
  // full-corpus fit. No frozen-model caveat, no approximation: this
  // is the strongest form of incremental maintenance an operator can
  // have, and it is exactly why large-scale pipelines keep linear
  // models' XᵀX/Xᵀy around instead of the fitted coefficients alone.

  /** Base-slice sufficient statistics staged as a 1-row parquet;
    * returns (root, id cutoff). */
  private[graft] def stagedSumsState(spark: SparkSession, dir: String): (String, Long) =
    Artifacts.staged(Artifacts.Index, "linregstate", dir, "documents") { root =>
      val cut = Staging.lateCut(Staging.rows(spark, dir, "documents"))
      sums(feats(Tables(spark, dir, "documents").where(col("doc_id") < cut)))
        .write.mode("overwrite").parquet(s"$root/state")
      cut
    }

  /** q_linreg_append: coefficients from staged-state ∪ delta sums —
    * ≡ the one-shot q_linreg bit-for-bit (exact integer addition of
    * disjoint slices' statistics), so the two share one oracle. The
    * refresh bills ONE pushed-filter delta scan plus a 9-column add. */
  def linregAppended(spark: SparkSession, dir: String): DataFrame = {
    val (root, cut) = stagedSumsState(spark, dir)
    val delta = sums(feats(
      Tables(spark, dir, "documents").where(col("doc_id") >= cut)))
    val merged = addStats(
      spark.read.parquet(s"$root/state").unionByName(delta)).head()
    betaRows(spark, solve(merged))
  }

  /** q_linreg_grouped: ONE MODEL PER GROUP in a single pass — the
    * "thousands of models" shape (per-language token-rate fits here):
    * the same 9 sufficient statistics aggregated BY LANG, then the 3×3
    * Cramer solve evaluated as COLUMN ARITHMETIC in DECIMAL(38,0) —
    * no driver loop, no per-group job; a million groups cost one
    * partial/final aggregation plus a projection. The per-group solve
    * is the exact same rational as [[linreg]]'s BigInt solve (the
    * sign-safe round-half-away division, F-scaled), replayed in
    * HUGEINT by the oracle.
    *
    * Exactness band (narrower than the single-model BigInt path, which
    * is why q_linreg keeps the driver solve): determinant terms are
    * triple products of sums, so they stay inside the 38-digit
    * decimals while n_g·max(x)² ≲ 2·10¹² per group (~10⁴–10⁵ docs per
    * group at these feature magnitudes); past that, rescale features
    * (chars in hundreds) — the standard conditioning move — or fall
    * back to per-group BigInt solves over the collected |groups|-row
    * ledger. Degenerate groups (collinear features, det = 0) are
    * excluded rather than served. */
  def linregGrouped(spark: SparkSession, dir: String): DataFrame =
    linregGrouped(Tables(spark, dir, "documents"))

  /** df form: expects (doc_id, text, n_chars, lang). */
  def linregGrouped(docs: DataFrame): DataFrame = {
    val d = "decimal(38,0)"
    val g = feats(docs.where(col("lang").isNotNull))
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy("lang")
      .agg(
        count(lit(1)).cast(d).as("n"),
        sum("x1").cast(d).as("sx1"), sum("x2").cast(d).as("sx2"),
        sum(col("x1") * col("x1")).cast(d).as("sx11"),
        sum(col("x1") * col("x2")).cast(d).as("sx12"),
        sum(col("x2") * col("x2")).cast(d).as("sx22"),
        sum("y").cast(d).as("sy"),
        sum(col("x1") * col("y")).cast(d).as("sx1y"),
        sum(col("x2") * col("y")).cast(d).as("sx2y"))
    // det3 over A = [[n,sx1,sx2],[sx1,sx11,sx12],[sx2,sx12,sx22]] with
    // column j replaced by b = [sy,sx1y,sx2y] — spelled once as text
    // shared (modulo CAST dialect) with the oracle
    def det(c0: (String, String, String), c1: (String, String, String),
            c2: (String, String, String)): String =
      s"(${c0._1} * (${c1._2} * ${c2._3} - ${c1._3} * ${c2._2}) - " +
        s"${c0._2} * (${c1._1} * ${c2._3} - ${c1._3} * ${c2._1}) + " +
        s"${c0._3} * (${c1._1} * ${c2._2} - ${c1._2} * ${c2._1}))"
    val a0 = ("n", "sx1", "sx2"); val a1 = ("sx1", "sx11", "sx12")
    val a2 = ("sx2", "sx12", "sx22")
    val b  = ("sy", "sx1y", "sx2y")
    def rep(c: (String, String, String), j: Int, v: String) = j match {
      case 0 => (v, c._2, c._3); case 1 => (c._1, v, c._3); case _ => (c._1, c._2, v)
    }
    val detA = det(a0, a1, a2)
    def beta(j: Int): String = {
      val dj = det(rep(a0, j, b._1), rep(a1, j, b._2), rep(a2, j, b._3))
      // round-half-away of F·detj/det, sign-safe against |det|
      s"""CASE WHEN ($detA) = 0 THEN NULL ELSE
         |  (CASE WHEN (cast($F as $d) * ($dj) * (CASE WHEN ($detA) < 0 THEN -1 ELSE 1 END)) >= 0
         |        THEN (2 * (cast($F as $d) * ($dj) * (CASE WHEN ($detA) < 0 THEN -1 ELSE 1 END)) + abs($detA)) div (2 * abs($detA))
         |        ELSE -((2 * -(cast($F as $d) * ($dj) * (CASE WHEN ($detA) < 0 THEN -1 ELSE 1 END)) + abs($detA)) div (2 * abs($detA)))
         |   END) END""".stripMargin
    }
    g.select(col("lang") +: (0 until 3).map(j =>
        expr(beta(j)).cast("long").as(s"b$j")): _*)
      .where(col("b0").isNotNull)
      .select(col("lang"), posexplode(array(col("b0"), col("b1"), col("b2"))))
      .select(col("lang"), col("pos").cast("long").as("j"),
        col("col").as("beta_fp"))
  }

  /** q_linreg_predict: the model IN USE — per doc, the exact
    * micro-unit prediction ŷ_fp = β₀ + β₁·x1 + β₂·x2 (no division —
    * exact integers end to end) and the residual y·F − ŷ_fp, the
    * anomaly score a curation pipeline thresholds on. One codegen
    * pass, coefficients inlined as literals. */
  def linregPredict(spark: SparkSession, dir: String): DataFrame = {
    val b = fitFixed(spark, dir)
    feats(Tables(spark, dir, "documents"))
      .select(col("doc_id"), col("y"),
        (lit(b(0)) + lit(b(1)) * col("x1") + lit(b(2)) * col("x2")).as("yhat_fp"))
      .withColumn("resid_fp", col("y") * lit(F) - col("yhat_fp"))
  }
}
