package graft

import org.apache.spark.sql.SparkSession

/** Central session tuning for the engine. Applied by Verify/Bench/tests so
  * every entry point runs with the same scale-oriented defaults.
  *
  * Design notes (100 TB mindset, tested on local[N]):
  *  - AQE on: runtime partition coalescing + skew-join splitting replace
  *    hand-tuned shuffle partition counts at scale.
  *  - `spark.sql.icu.caseMappings.enabled=false`: Spark 4's ICU-backed
  *    lower/upper builds a 1.1M-codepoint title-case table on first use
  *    (CollationAwareUTF8String static init) and evaluates case ops through
  *    ICU per row. The JVM/UTF8String ASCII-optimized path is ~10× faster
  *    in the hot loop and matches the DuckDB oracle's `lower` on this
  *    corpus; flip it back on only for locale-sensitive corpora.
  */
object Engine {

  /** Degree-of-parallelism knobs, env-overridable in one place (the
    * code used to hardcode them per call site).
    *
    * Batch shuffle partitions: set from SPARK_GRAFT_CPUS (= one
    * partition per core locally; AQE coalesces small ones at runtime).
    * At 100 TB: size so post-filter partitions land near
    * spark.sql.files.maxPartitionBytes (~128-256 MiB) — e.g. a 10 TB
    * shuffle wants ~40-80k partitions, then let AQE coalesce; skew is
    * handled by AQE skew-join + the Skew.* salting operators, not by
    * raising the global count. */

  /** Streaming state-store partition count (each stateful operator's
    * state is hash-split this many ways, FROZEN into the checkpoint at
    * first query start). Local default 8: micro-batches are small and
    * every batch pays task + state-commit overhead per partition per
    * stateful stage, so fewer partitions is faster. At 100 TB/day:
    * size to LIVE STATE volume, not batch size — target ≲ 1-2 GiB of
    * RocksDB state per partition (1 TB live state → 512-1024
    * partitions), and overprovision for growth: changing the count
    * later means a new checkpoint and a state rebuild.
    * Override: SPARK_GRAFT_STREAM_PARTITIONS. */
  def streamStatePartitions: Int =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "8").toInt

  /** Reliable-checkpoint knob for iterative operators.
    *
    * `localCheckpoint()` cuts lineage by caching blocks on executors —
    * fast, but NON-RELIABLE: lose an executor mid-run and the blocks
    * are gone with no lineage to recompute them, so a 20-iteration
    * connected-components pass restarts from zero. On a long-lived
    * cluster with real node churn, set SPARK_GRAFT_CHECKPOINT_DIR to a
    * durable path (HDFS/object store; locally any disk dir) and every
    * iterative operator (pageRank, dupComponents, BPE, triangles)
    * routes its per-round lineage cuts through
    * `sparkContext.setCheckpointDir` + reliable `checkpoint()` instead.
    * Default (unset): localCheckpoint — the right call for local mode
    * and short-lived jobs, where the extra write+read round-trip per
    * iteration buys nothing. */
  def reliableCheckpointDir: Option[String] =
    ckptOverride.orElse(sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")).filter(_.nonEmpty)

  /** Test seam: force/clear the reliable dir without re-execing the JVM. */
  @volatile private var ckptOverride: Option[String] = None
  private[graft] def setReliableCheckpointDir(dir: Option[String]): Unit =
    ckptOverride = dir

  /** The reliable dir `cut` last applied via setCheckpointDir — NOT a
    * substring probe of sc.getCheckpointDir (which is UUID-suffixed and
    * could be a stale/foreign path that merely contains the knob value). */
  @volatile private var ckptDirApplied: Option[String] = None

  /** Lineage cut for iterative operators — localCheckpoint by default,
    * reliable checkpoint when [[reliableCheckpointDir]] is set. Both
    * are eager, so call sites are behavior-identical either way.
    * Superseded iteration checkpoints are GC-cleaned
    * (`spark.cleaner.referenceTracking.cleanCheckpoints` in
    * [[configure]]) so a 20-round loop does not leave 20 full copies
    * of its working set in the durable store. */
  def cut[T](ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] =
    reliableCheckpointDir match {
      case Some(dir) =>
        val sc = ds.sparkSession.sparkContext
        // re-apply when the knob changed OR the context is fresh (a
        // recreated SparkContext loses its checkpoint dir while the
        // JVM-global flag would still claim it was applied)
        if (!ckptDirApplied.contains(dir) || sc.getCheckpointDir.isEmpty) {
          sc.setCheckpointDir(dir)
          ckptDirApplied = Some(dir)
        }
        ds.checkpoint()
      case None => ds.localCheckpoint()
    }

  /** Free the block-store copy behind a DEAD [[cut]] frame. Iterative
    * operators REPLACE a frame every round; without this, each round's
    * localCheckpoint blocks stay pinned until session end, and on a
    * 100× corpus the dead rounds accumulate into heap pressure and
    * GC/eviction stalls (the r13 sf10 k-core probe measured exactly
    * that; the r12 matrix "GC stall context artifacts" were the same
    * mechanism). Call ONLY on frames no later computation can touch —
    * cut() is eager, so once the successor frame is materialized the
    * predecessor's blocks are unreachable by construction; freeing a
    * frame that something still references would fail that job with a
    * missing-checkpoint-block error (loud, never wrong results).
    * No-op for reliable checkpoints (GC-cleaned via
    * `cleanCheckpoints`, see [[cut]]) and for non-LogicalRDD plans. */
  def free(ds: org.apache.spark.sql.Dataset[_]): Unit =
    ds.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Read one observed metric off a [[cut]]-materialized frame.
    * `Dataset.observe` metrics ride the SAME job that materializes the
    * checkpoint (verified: localCheckpoint delivers them), so iterative
    * convergence probes (kcore min-degree, LPA changed-count) cost no
    * extra job. Defensive contract: cut() is eager, so by the time the
    * caller asks, the metric is normally already delivered and `get`
    * returns immediately; if a future execution path ever materializes
    * without firing the listener, the bounded wait returns None and the
    * caller falls back to its explicit probe job instead of hanging.
    * None also for a NULL metric value (e.g. min over zero rows).
    *
    * The wait is SHORT (the fallback probe it guards costs well under a
    * second — a 60 s wait per round would stall a 20-round serve ~20
    * minutes, worse than the per-round probe it replaced), and a first
    * miss latches `delivered = false` so every later round skips
    * straight to the fallback with only a token re-check wait. */
  def observedLong(obs: org.apache.spark.sql.Observation, key: String,
      timeoutMs: Long = 2000L): Option[Long] = {
    @volatile var r: Option[Map[String, Any]] = None
    val t = new Thread(() => r = scala.util.Try(obs.get).toOption)
    t.setDaemon(true)
    t.start()
    t.join(if (observeDelivered) timeoutMs else 100L)
    if (r.isEmpty) observeDelivered = false
    r.flatMap(_.get(key)).flatMap(Option(_))
      .map(_.asInstanceOf[Number].longValue)
  }

  /** Latched false after the first [[observedLong]] miss on this JVM —
    * if one materialization path failed to deliver observe metrics,
    * later rounds should not each re-pay the full wait. */
  @volatile private var observeDelivered = true

  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cpus)
      // shuffle/spill block codec (guide §2.3: "no universal answer —
      // measure"). Parameterised so the array-heavy shuffles (node2vec
      // walk state) can be A/B'd without a code change. The default is
      // lz4, Spark's own default; no codec A/B is recorded (the r16
      // ledger names this knob but holds no measurement of it). At
      // 100 TB on a thinner network, measure with the same env knob.
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      // events.parquet stores ts as TIMESTAMP(NANOS) which the vectorized
      // reader rejects; read as epoch-nanos long, converted in Tables.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ObjectHashAggregate (collect_list & friends) falls back to the
      // SORT-based path after only 128 distinct keys per partition by
      // default — the node2vec adjacency build (200k keys of ~120-long
      // arrays) measured 19 s in that fallback vs ~4 s hashed.
      //
      // Heap-sizing guard for the session-wide raise (ADVICE r12 — the
      // threshold counts KEYS, not bytes, so the raise is only safe if
      // per-key buffers are bounded): every object-hash aggregate in
      // this catalog has OUTPUT-BOUNDED buffers — adjacency arrays
      // (≤ max degree longs), per-doc token/span/passage lists
      // (≤ doc length), capped postings (TopKByScore) — so a
      // partition's hash map is bounded by that partition's RESULT
      // size: ≤ (rows/partitions) · avg row ≈ hundreds of MB here vs
      // ~4 GiB heap per local[32] task slot (and executors on a real
      // cluster size the same way: output must fit to be written at
      // all). An aggregate whose keys exceed 128k/partition STILL
      // falls back to the spilling sort path, so unbounded-cardinality
      // inputs degrade, never OOM. New operators with per-key buffers
      // NOT bounded by their emitted output (e.g. collect_list folded
      // to a scalar) must not rely on this raise — use a bounded
      // partial aggregator (TopKByScore) instead.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      // reliable checkpoints (Engine.cut knob): delete a round's rdd-*
      // files once its RDD is GC'd — without this every iteration of a
      // checkpointed loop leaves a full copy in the durable store
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      // `file:` scheme only: Hadoop's local filesystem without its shell
      // fallbacks (see ForkFreeRawLocalFileSystem). FileSystem and
      // FileContext each resolve their own key; both keep the checksum
      // layer. Hadoop's FileSystem cache ignores the impl class, so a
      // `file:` FileSystem fetched earlier with a plain Configuration
      // keeps the stock class for this JVM.
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)

  /** Standard local session for mains and tests. Scratch space (shuffle
    * spills, streaming checkpoints) goes to tmpfs when available. The
    * disk is not what streaming commits wait on: on a 4-core host with
    * an ext4 virtio disk, q_stream_tumbling at sf0.1 took the same time
    * with scratch on disk and on /dev/shm, both with Hadoop's stock
    * local filesystem and with the fork-free one. The per-batch cost of
    * checkpoint, state-store and sink commits was a `chmod`/`readlink`
    * process per local-filesystem call, which `configure`'s fork-free
    * `file:` filesystem removes.
    *
    * Guard rails (a RAM-backed spill dir must not eat the heap's lunch):
    *  - opt-out via SPARK_GRAFT_TMPFS=0;
    *  - only used when /dev/shm has ≥ 16 GiB usable — a larger-than-
    *    memory run falls back to disk spill rather than exhausting RAM;
    *  - scoped per-process (graft-tmp-<pid>) and removed by a shutdown
    *    hook; stale dirs of dead processes are swept at startup. The
    *    JVM-global `java.io.tmpdir` is NOT mutated — streaming
    *    checkpoints get an explicit `spark.sql.streaming
    *    .checkpointLocation` instead. */
  def session(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val builder = SparkSession.builder().master(s"local[$cpus]")
    scratchDir().foreach { dir =>
      builder.config("spark.local.dir", dir.getAbsolutePath)
      builder.config("spark.sql.streaming.checkpointLocation",
        new java.io.File(dir, "ckpt").getAbsolutePath)
    }
    val spark = configure(builder, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Unique scratch subdirectory (tmpfs when available, else the system
    * temp dir), removed by a shutdown hook — harness working space for
    * streaming sinks/checkpoints and staged inputs. */
  def workDir(prefix: String): java.io.File = {
    val dir = scratchDir() match {
      case Some(root) =>
        java.nio.file.Files.createTempDirectory(root.toPath, prefix).toFile
      case None =>
        java.nio.file.Files.createTempDirectory(prefix).toFile
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => Fs.rmRf(dir)))
    dir
  }

  private val MinTmpfsBytes = 16L * 1024 * 1024 * 1024

  @volatile private var scratch: Option[java.io.File] = None

  /** Per-process tmpfs scratch dir, or None when disabled/too small. */
  private def scratchDir(): Option[java.io.File] = synchronized {
    if (scratch.isDefined) scratch
    else {
      val shm = new java.io.File("/dev/shm")
      val enabled = sys.env.getOrElse("SPARK_GRAFT_TMPFS", "1") != "0"
      if (!enabled || !shm.isDirectory || shm.getUsableSpace < MinTmpfsBytes) None
      else {
        // sweep scratch left by dead JVMs (driver runs many rounds)
        Option(shm.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith("graft-tmp")).foreach { old =>
            val pid = old.getName.stripPrefix("graft-tmp-")
            val alive = pid.toLongOption
              .exists(p => ProcessHandle.of(p).isPresent)
            if (!alive) Fs.rmRf(old)
          }
        val dir = new java.io.File(shm,
          s"graft-tmp-${ProcessHandle.current().pid()}")
        if (dir.isDirectory || dir.mkdirs()) {
          Runtime.getRuntime.addShutdownHook(new Thread(() => Fs.rmRf(dir)))
          scratch = Some(dir)
        }
        scratch
      }
    }
  }
}
