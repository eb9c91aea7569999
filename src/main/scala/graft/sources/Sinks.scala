package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Artifacts

/** Write-path layout control (SURVEY §2 A7 generalized to the 100 TB
  * design point). The reference's sink is one text file per reducer
  * (`/root/reference/test.go:46-49,66-70`); at scale the sink's FILE
  * LAYOUT is a first-class performance concern:
  *
  *  - partition directories bound what later queries must list/scan
  *    (partition pruning is a file-listing operation);
  *  - sorting within files gives parquet min/max row-group statistics
  *    their selectivity (skip row groups, not just files);
  *  - file size caps keep single files splittable and listings cheap —
  *    and the dual problem, too MANY small files, is the classic
  *    long-running-pipeline pathology that compaction repairs.
  */
object Sinks {

  /** Partitioned, statistics-friendly parquet write: directory layout by
    * `partitionCols`, rows sorted by `sortCols` WITHIN each output file
    * (parquet row-group min/max stats become selective), at most
    * `maxRecordsPerFile` rows per file. The in-file sort leads with the
    * partition columns: the partitioned writer requires that ordering
    * and would otherwise insert its OWN per-partition sort (double work,
    * and the layout would rest on that sort's stability). The rows are
    * shuffled to their partition dirs FIRST, which is what an index
    * DELTA needs under `mode = "append"`: each append lands ONE file
    * per touched dir. Without the repartition, every writer input partition opens a
    * file in every dir it has a row for — an append fans out to
    * (input partitions × dirs) tiny files, which is both the measured
    * sf1 lsh-append slowdown (32 × 768 file opens) and, compounded
    * per batch, the small-files death of a 100 TB append-maintained
    * index. Row content is untouched — readers see identical data. */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String], sortCols: Seq[String],
                       maxRecordsPerFile: Long = 1000000L,
                       mode: String = "overwrite"): Unit =
    df.repartition(partitionCols.map(col): _*)
      .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      .write.mode(mode)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Stage a month-partitioned copy of `orders` (directory layout
    * `o_month=yyyy-MM/`, rows sorted by o_orderkey within files) via
    * `writePartitioned`; memoized per (dir, data fingerprint). */
  private[graft] def stagedMonthlyOrders(spark: SparkSession, dir: String): String =
    Artifacts.memo(Artifacts.Input, "monthly", dir, "orders") {
      val root = new java.io.File(graft.Engine.workDir("graft-part-"), "orders_monthly")
      writePartitioned(
        graft.sources.Tables(spark, dir, "orders")
          .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM")),
        root.getAbsolutePath, Seq("o_month"), Seq("o_orderkey"))
      root.getAbsolutePath
    }

  /** q_partition_prune: one month of orders read back from the
    * partitioned layout. The month predicate is a PARTITION filter — at
    * planning time it prunes the file listing to the one `o_month=…`
    * directory, so the scan never opens the other ~79 months' files
    * (`.explain` shows it under PartitionFilters, not PushedFilters).
    * At 100 TB this is the difference between listing one directory and
    * scanning the fleet: pruning cost scales with partitions SELECTED,
    * not partitions EXISTING. Oracle: the same month filtered from the
    * original un-partitioned table (the staged copy holds bit-identical
    * doubles — parquet round-trips are exact). */
  def partitionPruned(spark: SparkSession, dir: String,
                      month: String = "1995-03"): DataFrame =
    spark.read.parquet(stagedMonthlyOrders(spark, dir))
      .where(col("o_month") === month)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_month"))

  /** q_dpp: DYNAMIC partition pruning — the runtime twin of
    * q_partition_prune. There the pruning predicate is a literal in the
    * query text; here it exists only as a FILTER ON A DIMENSION table
    * (calendar months of 1995-Q1), so no static pruner can see which
    * fact partitions matter. Catalyst's DPP rule turns the dim side of
    * the broadcast join into a `dynamicpruningexpression` PARTITION
    * filter on the month-partitioned fact scan: the broadcast that the
    * join needs anyway is reused to enumerate the surviving months, and
    * the fact side lists/opens only those directories at execution time
    * (plan-spec-asserted). This is THE mechanism that makes star-schema
    * queries over a 100 TB date-partitioned fact table scan three
    * months instead of eighty. The quarter column is derived with
    * integer arithmetic shared verbatim with the oracle. */
  def dppJoin(spark: SparkSession, dir: String,
              quarter: String = "1995-Q1"): DataFrame = {
    val fact = spark.read.parquet(stagedMonthlyOrders(spark, dir))
    val dim = graft.sources.Tables(spark, dir, "orders")
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("m_month"))
      .distinct()
      .withColumn("m_quarter", expr(
        "concat(substring(m_month, 1, 4), '-Q', " +
          "(cast(substring(m_month, 6, 2) as int) - 1) div 3 + 1)"))
    fact
      .join(dim.where(col("m_quarter") === quarter),
        col("o_month") === col("m_month"))
      .groupBy("o_month")
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("sum_price"))
  }

  /** Z-order (Morton) interleave of two non-negative integer columns as
    * a pure codegen Column: bit b of `x` lands at bit 2b, bit b of `y`
    * at 2b+1, so sorting by the result clusters rows that are close in
    * BOTH dimensions. `bits` bounds the per-column key domain (2²¹ here;
    * a wider domain raises the knob — 31+31 still fits a long). */
  def zValue(x: Column, y: Column, bits: Int = 21): Column =
    (0 until bits).map { b =>
      shiftleft(shiftright(x, b).bitwiseAND(lit(1L)), 2 * b)
        .bitwiseOR(shiftleft(shiftright(y, b).bitwiseAND(lit(1L)), 2 * b + 1))
    }.reduce(_ bitwiseOR _)

  /** Multi-dimensional clustering for row-group/file skipping: rewrite
    * `df` range-partitioned AND sorted by the Z-value of (`colA`,
    * `colB`), one file per partition. A single-column sort makes
    * parquet min/max statistics selective for THAT column only — every
    * file spans the full range of the second column, so a predicate on
    * it skips nothing. Z-ordering bounds BOTH columns' span per file
    * (each file covers a square-ish tile of the key plane), which is
    * what lets a 100 TB scan skip row groups for either predicate —
    * the OPTIMIZE ZORDER pattern of the lakehouse table formats.
    *
    * Both columns are first normalized to a COMMON `bits`-wide domain
    * (min-max scaled, monotone integer arithmetic): raw interleaving of
    * unequal-width domains degenerates to a single-column sort — the
    * wider column owns every high bit. Min-max assumes value uniformity
    * (true for the synthetic keys); under heavy value skew, production
    * systems rank-normalize with SAMPLED range-bucket ids instead, the
    * same idea with quantile edges. The one `agg(min,max)` job is a
    * write-side scan; `repartitionByRange` samples the z-distribution,
    * so tiles stay row-balanced either way. */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    numFiles: Int, bits: Int = 12): Unit = {
    val mm = df.agg(min(col(colA)).cast("long"), max(col(colA)).cast("long"),
      min(col(colB)).cast("long"), max(col(colB)).cast("long")).head()
    require(!mm.isNullAt(0), "cannot z-order an empty frame")
    // integer `div` (Column `/` is double division — lossy for wide keys)
    def scaled(c: String, lo: Long, hi: Long): Column =
      expr(s"((cast($c as bigint) - ${lo}L) * ${1L << bits}L) div ${hi - lo + 1}L")
    df.withColumn("_z", zValue(
        scaled(colA, mm.getLong(0), mm.getLong(1)),
        scaled(colB, mm.getLong(2), mm.getLong(3)), bits))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** q_zorder: two-dimensional selective read over a Z-ordered staged
    * copy of lineitem (clustered on (l_suppkey, l_partkey)); either
    * predicate alone — or both, as here — maps to a handful of z-tiles,
    * so row-group stats skip the rest of the table. Oracle: the same
    * filter over the original layout. */
  def zorderRead(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(stagedZOrderedLineitem(spark, dir))
      .where(col("l_suppkey") < 10L && col("l_partkey") < 200L)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        col("l_partkey"), col("l_quantity"))

  private[graft] def stagedZOrderedLineitem(spark: SparkSession, dir: String): String =
    Artifacts.memo(Artifacts.Input, "zorder", dir, "lineitem") {
      val root = new java.io.File(graft.Engine.workDir("graft-zorder-"), "lineitem_z")
      writeZOrdered(
        graft.sources.Tables(spark, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_suppkey", "l_partkey", "l_quantity"),
        root.getAbsolutePath, "l_suppkey", "l_partkey", numFiles = 16)
      root.getAbsolutePath
    }

  /** Build a z-ordered artifact that then ACCEPTED a raw append: the
    * base slice (l_orderkey below the top-decile cut) is clustered,
    * the delta slice is appended AS-IS — the cheap-ingest half of the
    * lakehouse cycle. Raw delta files span the whole key plane, so
    * row-group pruning degrades on the appended fraction (measured in
    * the spec); correctness never does (layout is an access path). */
  private[graft] def buildAppendedZ(spark: SparkSession, dir: String, path: String): Unit = {
    val li = graft.sources.Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_suppkey", "l_partkey", "l_quantity")
    val maxKey = li.agg(max("l_orderkey")).head().getLong(0) // 1 driver row
    val cut = graft.operators.Staging.lateCut(maxKey)
    writeZOrdered(li.where(col("l_orderkey") < cut), path,
      "l_suppkey", "l_partkey", numFiles = 16)
    li.where(col("l_orderkey") >= cut)
      .coalesce(2).write.mode("append").parquet(path)
  }

  /** OPTIMIZE ZORDER: re-cluster a parquet directory in place —
    * rewrite z-ordered into a sibling, then the [[rewriteInPlace]]
    * two-rename swap. At 100 TB this runs per partition directory on an
    * append-fraction trigger — the same amortization contract as the
    * IVF index's centroid-drift refresh. */
  private[graft] def optimizeZOrdered(spark: SparkSession, path: String,
      colA: String, colB: String, numFiles: Int): Unit =
    rewriteInPlace(path, "optimize")(
      writeZOrdered(spark.read.parquet(path), _, colA, colB, numFiles))

  /** q_zorder_optimize: the full lakehouse layout lifecycle — cluster,
    * raw-append, re-cluster — then the same selective read as
    * q_zorder. Results equal the original-layout filter at EVERY stage
    * (shared oracle); what optimize restores is the per-file span
    * bound, spec-asserted via parquet footers on the pre/post layouts. */
  def zorderOptimizeRead(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(stagedOptimizedLineitem(spark, dir))
      .where(col("l_suppkey") < 10L && col("l_partkey") < 200L)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        col("l_partkey"), col("l_quantity"))

  private[graft] def stagedOptimizedLineitem(spark: SparkSession, dir: String): String =
    Artifacts.memo(Artifacts.Input, "zoptimize", dir, "lineitem") {
      val root = new java.io.File(graft.Engine.workDir("graft-zoptimize-"), "lineitem_zo")
      buildAppendedZ(spark, dir, root.getAbsolutePath)
      optimizeZOrdered(spark, root.getAbsolutePath, "l_suppkey", "l_partkey", 16)
      root.getAbsolutePath
    }

  /** Small-file compaction: rewrite a parquet directory into
    * ~`targetBytes`-sized files (computed from the CURRENT on-disk
    * size, so it adapts to compression ratios). Returns the new file
    * count. Stages into a sibling directory then swaps — never holds
    * the data in memory and never reads a directory it is overwriting.
    * At 100 TB this runs per-partition-directory, bounded by the
    * partitions touched since the last compaction.
    *
    * Parallelism floor (VERDICT r12 #6): the output never folds below
    * min(input data files, default parallelism) files — a small
    * artifact compacted to ONE file serves every downstream scan as
    * ONE task (q_simsearch_bq_append measured 3.6× at sf1 exactly
    * because the whole sf1 signature table collapsed into a single
    * ~5 MB scan task). Small-file OVERHEAD is already bounded by the
    * input count (compaction only merges), so the floor costs nothing:
    * file count only ever shrinks toward the size target, stopping at
    * whatever still keeps every core busy. */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024): Int = {
    // leaf directories only: compacting a partitioned ROOT would read
    // the partition columns as data and rewrite without the directory
    // layout — silently destroying partition pruning
    val partDirs = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.contains("="))
    require(partDirs.isEmpty,
      s"compact() operates on leaf directories; $path contains partition " +
        s"directories (${partDirs.take(3).map(_.getName).mkString(", ")}…) — " +
        "compact each partition directory instead")
    val totalBytes = walkBytes(new java.io.File(path))
    val inFiles = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val floor = math.min(math.max(1, inFiles),
      spark.sparkContext.defaultParallelism)
    val nFiles = math.max(floor,
      math.ceil(totalBytes.toDouble / targetBytes).toInt)
    rewriteInPlace(path, "compact")(
      spark.read.parquet(path).repartition(nFiles).write.mode("overwrite").parquet(_))
    nFiles
  }

  /** Partitioned sibling of [[compact]]: fold a partition-directory
    * tree (e.g. the appended LSH index's (t,bgrp) dirs) back to ~one
    * file per directory in ONE Spark job — a per-leaf-dir [[compact]]
    * loop would pay a full job's scheduling floor per directory (768
    * dirs = 768 jobs). The rewrite re-shuffles on the partition
    * columns (each dir's rows land in exactly one task → one file),
    * re-sorts within files so the row-group statistics survive, stages
    * into a sibling directory and swaps via two renames — same crash
    * contract as [[compact]]: data is always intact at `path` or
    * `.compact-old`. At 100 TB: filter the read to the partitions
    * touched since the last compaction and republish just those with
    * [[overwritePartitionsDynamic]] instead of the whole-root swap. */
  def compactPartitioned(spark: SparkSession, path: String,
                         partitionCols: Seq[String], sortCols: Seq[String],
                         maxRecordsPerFile: Long = 1000000L): Unit =
    rewriteInPlace(path, "compact")(writePartitioned(spark.read.parquet(path), _,
      partitionCols, sortCols, maxRecordsPerFile))

  /** Rewrite the directory at `path` through `write` into the sibling
    * `<path>.<tag>-tmp`, then swap it in by two renames, never
    * delete-before-move: a crash leaves the data intact at `path` or at
    * `<path>.<tag>-old` (plus the new copy at `-tmp`), never a
    * half-deleted directory. */
  private def rewriteInPlace(path: String, tag: String)(write: String => Unit): Unit = {
    val base = path.stripSuffix("/")
    val (tmp, trash) = (s"$base.$tag-tmp", s"$base.$tag-old")
    write(tmp)
    graft.Fs.rmRf(new java.io.File(trash)) // stale leftover from a crash
    java.nio.file.Files.move(java.nio.file.Paths.get(path),
      java.nio.file.Paths.get(trash))
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
      java.nio.file.Paths.get(path))
    graft.Fs.rmRf(new java.io.File(trash))
  }

  /** Dynamic partition overwrite: republish EXACTLY the partitions
    * present in `updates`, leaving every other partition's files
    * physically untouched (mode "static" would wipe the whole table
    * root first — the classic footgun this helper scopes away). The
    * conf is set for the single write and restored. */
  def overwritePartitionsDynamic(updates: DataFrame, path: String,
                                 partitionCol: String): Unit = {
    val spark = updates.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try updates.write.mode("overwrite").partitionBy(partitionCol)
      .parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** q_partition_overwrite: the incremental-republish write path — a
    * late-data correction rewrites ONE month of a partitioned table
    * in place (dynamic partition overwrite), all other months'
    * files untouched (spec-asserted on file identity). The staged
    * republish applies a deterministic correction (+1000.0 to
    * 1995-03 prices), so the oracle — the original table with the
    * same CASE applied — verifies the overwrite actually replaced
    * the partition's data rather than duplicating or missing it.
    * This is the backfill primitive of a 100 TB date-partitioned
    * lake: cost scales with the partitions REPUBLISHED, and
    * downstream readers see partition-level atomicity (a directory
    * swaps at commit). */
  def partitionOverwriteRead(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(stagedRepublishedOrders(spark, dir))
      .groupBy("o_month")
      .agg(count(lit(1)).as("cnt"),
        round(sum("o_totalprice"), 2).as("sum_price"))

  private[graft] def stagedRepublishedOrders(spark: SparkSession, dir: String): String =
    Artifacts.memo(Artifacts.Input, "republish", dir, "orders") {
      val root = new java.io.File(graft.Engine.workDir("graft-republish-"), "orders_rp")
      val path = root.getAbsolutePath
      val withMonth = graft.sources.Tables(spark, dir, "orders")
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      writePartitioned(withMonth, path, Seq("o_month"), Seq("o_orderkey"))
      overwritePartitionsDynamic(
        withMonth.where(col("o_month") === "1995-03")
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0),
        path, "o_month")
      path
    }

  /** q_compact: the small-file pathology and its repair, end-to-end —
    * documents staged SHATTERED (64 files for a few hundred rows, the
    * layout a long-running incremental pipeline accretes), compacted by
    * `compact()` into ~target-sized files, then read back with a
    * per-row digest. The oracle reads the ORIGINAL table, so the
    * hash-match proves the rewrite is byte-faithful — the property that
    * lets a 100 TB pipeline compact continuously without re-validating
    * data. The spec asserts the file count actually collapsed; this
    * declared query asserts the data didn't change. */
  def compactRead(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(stagedCompactedDocuments(spark, dir))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(encode(col("text"), "UTF-8")).as("digest"))

  private[graft] def stagedCompactedDocuments(spark: SparkSession, dir: String): String =
    Artifacts.memo(Artifacts.Input, "compact", dir, "documents") {
      val root = new java.io.File(graft.Engine.workDir("graft-compact-"), "documents_c")
      val path = root.getAbsolutePath
      graft.sources.Tables(spark, dir, "documents")
        .repartition(64) // deliberately shattered: the "before" layout
        .write.mode("overwrite").parquet(path)
      compact(spark, path)
      path
    }

  private def walkBytes(f: java.io.File): Long =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).map(walkBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length
    else 0L
}
