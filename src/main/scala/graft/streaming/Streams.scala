package graft.streaming

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Artifacts
import graft.sources.Tables

/** Structured Streaming surface (SURVEY §2 B23–B25): tumbling, sliding
  * and session windows, watermarks, and stateful dedup over the `events`
  * table.
  *
  * The reference is batch-only; this is capability closure. Its
  * grounding: the master re-queues tasks on worker failure
  * (`/root/reference/mp/master.go:316,358`) giving at-least-once
  * delivery — exactly what `dropDuplicatesWithinWatermark` repairs.
  *
  * Harness: each query runs a REAL streaming query over a FILE source —
  * the events table is staged once per sf-dir as a handful of
  * time-ordered parquet files, and the query reads them with
  * `maxFilesPerTrigger=1`, one micro-batch per file. The feed's last
  * real file also carries one far-future sentinel row: rows of that
  * file are judged for lateness against the PREVIOUS batch's
  * watermark, so no real row is dropped, and the watermark the
  * sentinel sets flushes every real window in the one no-data batch
  * that follows — through every stage of a chain of stateful
  * operators, since the watermark propagates per operator within a
  * batch. The file feed is the production shape (readStream over
  * arriving files): the scan is distributed and task binaries stay
  * small — the previous MemoryStream feed embedded the whole collected
  * table (~3.5 MiB at sf0.1) in every task it shipped. Because files are
  * staged in event-time order, nothing real is ever late, so the
  * streaming result equals the batch aggregation — which is what the
  * DuckDB oracle checks. Late/out-of-order behavior (actual drops) is
  * covered by ScalaTest with crafted MemoryStream sequences, where a
  * batch oracle cannot reach.
  *
  * Scale notes: state per key is bounded by the watermark horizon;
  * micro-batch shuffles use 8 partitions (each is one state-store
  * commit per stateful operator per batch; a production job sizes this
  * to state volume). Results flow through a checkpointed parquet FILE sink
  * and are read back as a lazy batch scan over its commit log — nothing,
  * input or output, ever materializes on the driver.
  */
object Streams {

  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                event_type: String, value: Double)

  /** Real chunks per event feed: 2 data batches (the sentinel rides in
    * the last real file) + 1 watermark-flush batch ⇒ 3 micro-batches
    * for a single-advance query — enough to exercise cross-batch state
    * and watermark advancement while keeping the per-micro-batch fixed
    * cost off the bench's critical path. */
  val NumChunks = 2
  private val Sentinel = "__sentinel"

  private val EvSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Exact event-time in MICROseconds (`Timestamp.getTime` alone
    * truncates to millis; the fixture — and the DuckDB oracle's
    * comparisons — carry micros, so gap/order decisions must too). */
  private[streaming] def tsMicros(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def events(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))

  /** Stage the events table as a time-ordered file feed:
    * `NumChunks` parquet files split on the event-time midpoint, then
    * (optionally) a duplicates file re-sending the newest 100 events
    * (within the watermark horizon — exercises at-least-once repair).
    * The far-future sentinel row is FOLDED into the last of those
    * files (chunk 1, or the duplicates file), so the feed costs no
    * batch of its own for it. File mtimes are set strictly increasing —
    * FileStreamSource processes files in mtime order, so arrival order
    * is event-time order and nothing real is late. An empty table
    * still feeds the sentinel, so every query yields an empty result
    * WITH its schema. Memoized per (dir, dupes, data fingerprint). */
  private def staged(spark: SparkSession, dir: String, withDupes: Boolean): File =
    Artifacts.memo(Artifacts.Input, "stream", dir, "events", withDupes) {
      val ev = events(spark, dir)
      val mm = ev.agg(min("ts").as("lo"), max("ts").as("hi")).head()
      val (loMs, hiMs) =
        if (mm.isNullAt(0)) (0L, 0L)
        else (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
      val midMs = loMs + (hiMs - loMs) / 2
      val root = graft.Engine.workDir("graft-stream-")
      val base = System.currentTimeMillis()
      var seq = 0
      def writeOne(df: DataFrame): Unit = {
        writeFeedChunk(df, root, f"ev-$seq%03d", base + seq * 10000L)
        seq += 1
      }
      val realFiles =
        Seq(ev.where(col("ts") <= lit(new java.sql.Timestamp(midMs))),
          ev.where(col("ts") > lit(new java.sql.Timestamp(midMs)))) ++
          (if (withDupes) Seq(ev.orderBy(desc("ts"), desc("event_id")).limit(100))
           else Nil)
      // Sentinel far enough ahead that watermark (= sentinel − max delay,
      // 10 min) passes every real window's END, including the last
      // session's last-event + 5 min gap. event_id/user −1 and type
      // `Sentinel`, which every query's sentinel exclusion matches.
      import spark.implicits._
      val sentinel = Seq(Ev(-1L, new java.sql.Timestamp(hiMs + 30 * 60 * 1000L),
        -1L, Sentinel, 0.0)).toDS().toDF()
      realFiles.init.foreach(writeOne)
      writeOne(realFiles.last.unionByName(sentinel))
      root
    }

  /** Run `build` as a streaming query over the staged file feed, through
    * a CHECKPOINTED PARQUET FILE SINK (the production shape: exactly-once
    * via the sink's _spark_metadata commit log), and hand back a lazy
    * batch scan of the sink — no result row ever materializes on the
    * driver. The batch read honors the commit log (MetadataLogFileIndex),
    * so an interrupted epoch is never visible; the explicit schema covers
    * the empty-result case (no data files to infer from). */
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  private val RetainKey = "spark.sql.streaming.maxBatchesToRetainInMemory"

  /** Set per-query streaming confs (frozen at query start), run `body`
    * (which must call `start()`), restore. `transformWithState` requires
    * the RocksDB state store provider. */
  private def withStreamConfs[T](spark: SparkSession, rocksdb: Boolean)(body: => T): T = {
    // State partition count is frozen at query start from
    // spark.sql.shuffle.partitions. Micro-batches here are small, and
    // every batch (including the final watermark-flush batch) pays
    // per-partition task + state-commit overhead across the stateful
    // stages — 8 partitions cuts that ~4× at local scale. A production
    // job sizes this to state volume, not to the batch.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevProv = spark.conf.getOption(ProviderKey)
    val prevRetain = spark.conf.getOption(RetainKey)
    spark.conf.set("spark.sql.shuffle.partitions",
      graft.Engine.streamStatePartitions.toString)
    // One state version in memory, not Spark's default 2. With the
    // sentinel folded into the last data file, the version committed
    // just before the flush holds the WHOLE live state, and each
    // stopped query's HDFS-backed provider keeps its retained versions
    // on the heap until the 60 s maintenance pass unloads it. Every
    // batch here reads only the version the previous batch committed,
    // so a second cached version is never read.
    spark.conf.set(RetainKey, "1")
    if (rocksdb) spark.conf.set(ProviderKey, RocksDbProvider)
    try body
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevRetain match {
        case Some(v) => spark.conf.set(RetainKey, v)
        case None => spark.conf.unset(RetainKey)
      }
      if (rocksdb) prevProv match {
        case Some(v) => spark.conf.set(ProviderKey, v)
        case None => spark.conf.unset(ProviderKey)
      }
    }
  }

  private def run(spark: SparkSession, dir: String, withDupes: Boolean,
                  build: DataFrame => DataFrame,
                  rocksdb: Boolean = false): DataFrame = {
    val feed = staged(spark, dir, withDupes)
    val root = graft.Engine.workDir("graft-sink-")
    val data = new File(root, "data")
    val ckpt = new File(root, "ckpt")
    val (q, schema) = withStreamConfs(spark, rocksdb) {
      val result = build(
        spark.readStream.schema(EvSchema).option("maxFilesPerTrigger", "1")
          .parquet(feed.getAbsolutePath))
      (result.writeStream.format("parquet")
        .option("path", data.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode("append")
        .start(), result.schema)
    }
    try q.processAllAvailable() finally q.stop()
    spark.read.schema(schema).parquet(data.getAbsolutePath)
  }

  /** The UPDATE-mode twin of `run` for operators that emit per-batch
    * running state (`transformWithState` trackers): the file sink is
    * append-only, so emissions flow through `foreachBatch`, each batch
    * appended to one parquet directory tagged with its batch id. The
    * caller reduces the emission log to final state with
    * `max_by(…, batch_seq)` — deterministic even under an at-least-once
    * replay, because a replayed batch appends identical rows with the
    * same batch_seq. */
  private def runUpdate(spark: SparkSession, dir: String,
                        build: Dataset[Ev] => DataFrame): DataFrame = {
    import spark.implicits._
    val feed = staged(spark, dir, withDupes = false)
    val root = graft.Engine.workDir("graft-upd-")
    val data = new File(root, "data")
    var outSchema: StructType = null
    val q = withStreamConfs(spark, rocksdb = true) {
      val result = build(
        spark.readStream.schema(EvSchema).option("maxFilesPerTrigger", "1")
          .parquet(feed.getAbsolutePath).as[Ev])
      outSchema = result.schema.add("batch_seq", LongType)
      result.writeStream
        .outputMode("update")
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          batch.withColumn("batch_seq", lit(batchId))
            .write.mode("append").parquet(data.getAbsolutePath)
          ()
        }
        .option("checkpointLocation", new File(root, "ckpt").getAbsolutePath)
        .start()
    }
    try q.processAllAvailable() finally q.stop()
    spark.read.schema(outSchema).parquet(data.getAbsolutePath)
  }

  /** q_stream_upsert: INCREMENTAL CDC materialization — the
    * `foreachBatch` merge loop that keeps a queryable "latest record
    * per key" table continuously up to date (the streaming twin of
    * `Relational.cdcCompact`; in production this is MERGE INTO a
    * transactional table). Each micro-batch is compacted to one
    * candidate row per key (`max_by` on the (ts, event_id) order — an
    * associative merge, so state ∪ batch re-compacted equals compacting
    * the whole history), then merged with the previous snapshot into a
    * NEW versioned snapshot directory named by the batch id:
    * write-once-then-republish, the snapshot-isolation pattern of the
    * table formats. `foreachBatch` is at-least-once — naming the
    * snapshot by batch id makes replay IDEMPOTENT (a replayed batch
    * rebuilds the same version from the same predecessor instead of
    * double-counting). Snapshot size is #distinct keys, not #events:
    * the merge cost per batch is bounded by live key cardinality. */
  def upsert(spark: SparkSession, dir: String): DataFrame = {
    val feed = staged(spark, dir, withDupes = false)
    val root = graft.Engine.workDir("graft-upsert-")
    def snapDir(batchId: Long): File = new File(root, f"state-b$batchId%06d")
    def latestSnapBefore(batchId: Long): Option[File] =
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("state-b") &&
          f.getName.stripPrefix("state-b").toLong < batchId &&
          new File(f, "_SUCCESS").exists())
        .sortBy(_.getName).lastOption
    val stateSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("n_versions", LongType),
      StructField("last_type", StringType), StructField("last_value", DoubleType),
      StructField("ts", TimestampType), StructField("event_id", LongType)))
    def compact(df: DataFrame): DataFrame =
      df.groupBy("user_id")
        .agg(sum("n_versions").as("n_versions"),
          max_by(struct(col("last_type"), col("last_value"), col("ts"),
            col("event_id")), struct(col("ts"), col("event_id"))).as("l"))
        .select(col("user_id"), col("n_versions"), col("l.last_type"),
          col("l.last_value"), col("l.ts"), col("l.event_id"))

    val q = withStreamConfs(spark, rocksdb = false) {
      spark.readStream.schema(EvSchema).option("maxFilesPerTrigger", "1")
        .parquet(feed.getAbsolutePath)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val asState = batch.select(col("user_id"), lit(1L).as("n_versions"),
            col("event_type").as("last_type"), col("value").as("last_value"),
            col("ts"), col("event_id"))
          val merged = latestSnapBefore(batchId) match {
            case Some(prev) =>
              compact(asState.unionByName(
                batch.sparkSession.read.schema(stateSchema)
                  .parquet(prev.getAbsolutePath)))
            case None => compact(asState)
          }
          merged.write.mode("overwrite").parquet(snapDir(batchId).getAbsolutePath)
          ()
        }
        .option("checkpointLocation",
          new File(root, "ckpt").getAbsolutePath)
        .start()
    }
    try q.processAllAvailable() finally q.stop()
    val last = latestSnapBefore(Long.MaxValue)
      .getOrElse(sys.error("stream produced no snapshot"))
    spark.read.schema(stateSchema).parquet(last.getAbsolutePath)
      .where(col("user_id") =!= -1L) // the watermark sentinel's key
      .select("user_id", "n_versions", "last_type", "last_value")
  }

  /** B23 q_stream_tumbling: per-minute tumbling count + value sum per
    * event type, 2-minute watermark, append mode. */
  def tumbling(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, withDupes = false, ds =>
      ds.withWatermark("ts", "2 minutes")
        .groupBy(window(col("ts"), "1 minute"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sval"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
          col("event_type"), col("cnt"), col("sval")))
      .where(col("event_type") =!= Sentinel)

  /** B24a q_stream_sliding: 2-minute windows sliding by 1 minute. */
  def sliding(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, withDupes = false, ds =>
      ds.withWatermark("ts", "2 minutes")
        .groupBy(window(col("ts"), "2 minutes", "1 minute"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
          col("event_type"), col("cnt")))
      .where(col("event_type") =!= Sentinel)

  /** B24b q_stream_session: 5-minute-gap session windows per user
    * (session end = last event + gap, end-exclusive merge). */
  def session(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, withDupes = false, ds =>
      ds.withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("s_start"),
          date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("s_end"),
          col("cnt")))
      .where(col("user_id") =!= -1L)

  /** q_stream_topevent: CHAINED stateful aggregations — per 1-minute
    * window, the top event type by count, computed as windowed counts
    * feeding a SECOND windowed aggregation in the same streaming query
    * (multiple stateful operators in append mode, SPARK-40925 — before
    * Spark 3.4 this required two jobs with an intermediate sink). The
    * second aggregate re-windows ON THE WINDOW COLUMN (`window(col
    * ("window"), …)`), so both operators share watermark-driven
    * finalization: a window's counts emit when the watermark passes,
    * and the top-pick for that window finalizes in the same cascade.
    * The pick is `max(struct(cnt, event_type))` — lexicographic struct
    * order makes count ties break deterministically toward the larger
    * type name, matching the oracle's ORDER BY cnt DESC, type DESC.
    * State is bounded on both levels: live windows × types, then live
    * windows.
    *
    * The sentinel exclusion MUST be a predicate on the aggregate
    * RESULT (`top_type`), not on the grouping column between the
    * aggregates: a deterministic filter on a grouping key is pushed by
    * Catalyst through the aggregate AND below EventTimeWatermark into
    * the scan (same trap as `streamJoinOuter`'s one-sided filter) —
    * the sentinel rows would never reach the watermark tracker and the
    * final windows of BOTH stages would never flush. A filter on the
    * `max()` output cannot push below the aggregate, so sentinel rows
    * advance the watermark, flow through both stages as their own
    * isolated far-future windows, and only their finished window rows
    * are dropped. One watermark advance is enough for the chain: the
    * watermark propagates per stateful operator within a batch, so the
    * flush batch that emits the last real window from stage 1 also
    * passes it through stage 2 and finalizes it there. */
  def topEvent(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, withDupes = false, ds =>
      ds.withWatermark("ts", "2 minutes")
        .groupBy(window(col("ts"), "1 minute"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(window(col("window"), "1 minute"))
        .agg(max(struct(col("cnt"), col("event_type"))).as("top"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
          col("top.event_type").as("top_type"),
          col("top.cnt").as("top_cnt"))
        .where(col("top_type") =!= Sentinel))

  /** q_stream_ohlc: streaming tick→bar resampling — the live twin of
    * `Events.ohlcBars`: 5-minute OHLC bars per event type maintained
    * incrementally with watermark-driven finalization. open/close are
    * `min_by`/`max_by` over the total (ts, event_id) order INSIDE the
    * streaming aggregate — per-window state is one candidate row per
    * aggregate, not the ticks, so a bar holding 10⁹ ticks still costs
    * O(1) state. Append mode: a bar emits exactly once, when the
    * watermark passes its end — the metrics/market pipeline that backs
    * live dashboards without reprocessing. */
  def streamOhlc(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, withDupes = false, ds =>
      ds.withWatermark("ts", "2 minutes")
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(
          min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
          count(lit(1)).as("n_ticks"),
          // integer-cents accumulation — see Events.ohlcBars
          (sum(round(col("value") * 100).cast("long")) / 100.0).as("volume"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
          col("event_type"), col("open"), col("high"), col("low"),
          col("close"), col("n_ticks"), col("volume")))
      .where(col("event_type") =!= Sentinel)

  /** Stream-stream interval join (q_stream_join): each purchase joined
    * to the same user's clicks in the preceding 10 minutes. Both sides
    * carry watermarks and the join condition bounds event-time distance,
    * so join state is evicted as the watermark advances — the canonical
    * bounded-state stream-stream join. Inner append-mode emissions equal
    * the batch interval join, which is what the oracle checks. */
  def streamJoin(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, withDupes = false, ds => {
      val clicks = ds.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_uid"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "2 minutes")
      val purchases = ds.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_uid"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "2 minutes")
      purchases.join(clicks,
        col("p_uid") === col("c_uid") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
          col("c_ts") <= col("p_ts"))
        .select(col("purchase_id"), col("click_id"), col("p_uid").as("user_id"))
    })

  /** q_stream_outer: LEFT OUTER stream-stream join — the completion of
    * the streaming join family (inner interval: q_stream_join; stream-
    * static: q_stream_enrich). Same user/interval condition as the
    * inner join, but a purchase with NO qualifying click must still
    * emit, null-extended — and in a stream that answer is only safe
    * once the watermark has passed the purchase's whole match window
    * (a qualifying click can arrive until then). Matched pairs emit on
    * match; null-extensions emit exactly once, at watermark expiry of
    * the join state — the mechanism that makes "purchases without a
    * preceding click" (attribution gaps, orphan detection) computable
    * on an unbounded stream with bounded state.
    *
    * The watermark is taken BEFORE the event-type filters (unlike the
    * inner join, where it only governs state eviction): the sentinel
    * row must advance BOTH sides' event time or the final unmatched
    * purchases would sit in state forever awaiting a click that cannot
    * come. Oracle: the batch LEFT JOIN — streamed emissions must equal
    * it exactly, which pins both no-duplicate-emission and
    * no-lost-null-extension. */
  def streamJoinOuter(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, withDupes = false, ds => {
      val wm = ds.withWatermark("ts", "2 minutes")
      // The sentinel must SURVIVE both side filters: Catalyst pushes a
      // deterministic filter BELOW the EventTimeWatermark node (it does
      // not reference ts), so a filter dropping the sentinel would keep
      // it from the watermark tracker — both sides' watermark would
      // freeze at (real max − delay) and the final purchases'
      // null-extensions would never flush. (The inner join can afford
      // to lose it: matches emit immediately, the watermark only
      // bounds state there.)
      val clicks = wm.where(col("event_type").isin("click", Sentinel))
        .select(col("event_id").as("click_id"), col("user_id").as("c_uid"),
          col("ts").as("c_ts"))
      val purchases = wm.where(col("event_type").isin("purchase", Sentinel))
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_uid"),
          col("ts").as("p_ts"))
      purchases.join(clicks,
        col("p_uid") === col("c_uid") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
          col("c_ts") <= col("p_ts"),
        "left_outer")
        // the sentinel pair (same user −1, same instant) joins to
        // itself; remove it with a predicate over BOTH sides' columns —
        // a one-sided `purchase_id != -1` would itself be pushed below
        // the watermark node and re-freeze it
        .where(coalesce(col("click_id"), col("purchase_id")) =!= -1L)
        .select(col("purchase_id"), col("click_id"), col("p_uid").as("user_id"))
    })

  /** q_stream_enrich: STREAM-STATIC enrichment join — the arriving
    * event stream joined per-micro-batch against a static dimension
    * table (customer → market segment), then window-aggregated by the
    * ENRICHED key. The standard "decorate the firehose with reference
    * data" shape: the static side is broadcast (re-resolved each
    * micro-batch, no state store involvement — stream-static joins are
    * stateless), so at 100 TB/day of events the only streaming state is
    * the window aggregation's, and the dim can be swapped under the
    * running query by republishing its path. The watermark is taken
    * BEFORE the join: the sentinel advances event time even though an
    * inner join drops its row. */
  def enrich(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    run(spark, dir, withDupes = false, ds =>
      ds.withWatermark("ts", "2 minutes")
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy(window(col("ts"), "1 minute"), col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sval"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
          col("c_mktsegment"), col("cnt"), col("sval")))
  }

  /** Custom keyed state beyond the built-ins (B25's
    * `flatMapGroupsWithState` path): a per-user running event counter
    * with an event-time timeout — the shape for arbitrary user state
    * machines (sessionization with custom logic, CDC upserts, feature
    * accumulation). Emits one (user_id, running count, batch count) row
    * per user per micro-batch. Used by StreamingSpec; not a driver query
    * (incremental emissions have no batch-SQL equivalent). */
  def userCounter(spark: SparkSession, events: Dataset[Ev]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, (Long, Long, Int)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[Long]) =>
          val batch = rows.size
          val total = state.getOption.getOrElse(0L) + batch
          state.update(total)
          state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 60 * 60 * 1000L)
          Iterator((uid, total, batch))
      }
      .toDF("user_id", "total_events", "batch_events")
  }

  /** Per-user running spend tracker on Spark 4's `transformWithState`
    * arbitrary-state API (the successor to `flatMapGroupsWithState`:
    * named state variables, TTL, timers, RocksDB-backed). Emits one
    * (user_id, running value total, batch event count) row per user per
    * micro-batch. Requires the RocksDB state store provider (set by the
    * caller/spec); spec-checked — incremental emissions have no
    * batch-SQL equivalent. */
  class SpendTracker extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, Ev, (Long, Double, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var total: ValueState[Double] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      total = getHandle.getValueState[Double]("total",
        org.apache.spark.sql.Encoders.scalaDouble, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 tv: TimerValues): Iterator[(Long, Double, Long)] = {
      var n = 0L
      var s = 0.0
      rows.foreach { e => n += 1; s += e.value }
      val t = (if (total.exists()) total.get() else 0.0) + s
      total.update(t)
      Iterator((key, t, n))
    }
  }

  def spendTotals(spark: SparkSession, events: Dataset[Ev]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.user_id)
      .transformWithState(new SpendTracker, TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "total_value", "batch_events")
  }

  /** The MAP-state path of `transformWithState` (completing the state
    * API family beside `SpendTracker`'s ValueState and
    * `SessionCloser`'s timers): a per-user running count PER EVENT
    * TYPE in a single keyed `MapState` — the point is that sub-keys
    * (types) are read/updated INDIVIDUALLY against the store, not by
    * rewriting one blob value per batch (with RocksDB each map entry
    * is its own store key; a ValueState[Map[…]] would deserialize and
    * rewrite the whole map every time a single type ticks). Emits the
    * updated (user, type, running) rows each batch. */
  class TypeCounter extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, Ev, (Long, String, Long)] {
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TTLConfig, TimeMode, TimerValues}
    @transient private var perType: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      perType = getHandle.getMapState[String, Long]("perType",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 tv: TimerValues): Iterator[(Long, String, Long)] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { e =>
        val prev = if (perType.containsKey(e.event_type))
          perType.getValue(e.event_type) else 0L
        perType.updateValue(e.event_type, prev + 1L)
        touched += e.event_type
      }
      touched.iterator.map(t => (key, t, perType.getValue(t)))
    }
  }

  def typeCounts(spark: SparkSession, events: Dataset[Ev]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.user_id)
      .transformWithState(new TypeCounter, TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "event_type", "running")
  }

  /** The LIST-state path of `transformWithState` (the last state type
    * beside ValueState/MapState/timers): each user's most recent `cap`
    * event ids, oldest-first — the "recent user actions" feature every
    * online model reads. `appendValue` is an O(1) store append (no
    * read-modify-write of the whole list on the hot path); the cap is
    * enforced by trimming only when the batch actually overflows it.
    * Emits each user's current window once per batch touched. */
  class RecentN(cap: Int) extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, Ev, (Long, Seq[Long])] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TTLConfig, TimeMode, TimerValues}
    @transient private var recent: ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      recent = getHandle.getListState[Long]("recent",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 tv: TimerValues): Iterator[(Long, Seq[Long])] = {
      // events within a batch arrive in partition order; impose the
      // deterministic (ts, event_id) order (exact micros) before appending
      val incoming = rows.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id))
      incoming.foreach(e => recent.appendValue(e.event_id))
      val all = recent.get().toSeq
      if (all.length > cap) {
        val trimmed = all.takeRight(cap)
        recent.put(trimmed.toArray)
        Iterator((key, trimmed))
      } else Iterator((key, all))
    }
  }

  def recentEvents(spark: SparkSession, events: Dataset[Ev],
                   cap: Int = 3): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.user_id)
      .transformWithState(new RecentN(cap), TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "recent_ids")
  }

  /** The timer path of `transformWithState`: a custom sessionizer that
    * emits ONLY when a per-user event-time timer expires (no events for
    * `gapMs` past the watermark), then clears its state — the arbitrary-
    * logic analogue of `session_window` where the close action can be
    * any user code (flush to a store, emit a summary, trigger a job). */
  class SessionCloser(gapMs: Long) extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, Ev, (Long, Long)] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, TTLConfig, TimeMode, TimerValues}
    private val gapUs = gapMs * 1000L
    /** PENDING sessions (startUs, endUs, count), exact micros. A list,
      * not a single running session: a coarse micro-batch can hold
      * several sessions' worth of one user's events, and none may be
      * EMITTED before the watermark passes its end + gap — an eagerly
      * emitted session could not merge with a late-but-within-watermark
      * bridging event that arrives in a later batch (the session_window
      * merge rule). Pending count per user is bounded by the user's
      * sessions inside the watermark horizon. */
    @transient private var sessions: ListState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sessions = getHandle.getListState[(Long, Long, Long)]("sessions",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong), TTLConfig.NONE)
    /** Timers are millisecond-granular; +1 ms puts the expiry strictly
      * after the micro-exact session end (delays the close by ≤ 1 ms of
      * watermark, never changes which events merge). */
    private def timerMsFor(endUs: Long): Long =
      math.floorDiv(endUs + gapUs, 1000L) + 1L
    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 tv: TimerValues): Iterator[(Long, Long)] = {
      // sweep-merge pending sessions + incoming events in start order:
      // batch gap-and-islands generalized to intervals (an event at
      // EXACTLY end + gap merges — Windows.sessionize's strict-> rule;
      // an event bridging two pending sessions merges them both)
      val all = (sessions.get().map(s => (s._1, s._2, s._3)) ++
        rows.map { e => val t = tsMicros(e.ts); (t, t, 1L) })
        .toSeq.sortBy(s => (s._1, s._2))
      val merged = all.foldLeft(List.empty[(Long, Long, Long)]) {
        case (h :: tail, s) if s._1 <= h._2 + gapUs =>
          (h._1, math.max(h._2, s._2), h._3 + s._3) :: tail
        case (acc, s) => s :: acc
      }.reverse
      sessions.put(merged.toArray)
      // ONE timer per USER — armed at the earliest pending close. The
      // original form registered one timer per pending SESSION, making
      // the timer column family session-grain: at 100× events (~5M
      // pending sessions over 150k users) each batch deleted and
      // re-registered ~10M timers (~75M RocksDB ops, 85 s batches) and
      // the sentinel flush expired 4.9M timers one handler call each.
      // User-grain timers make that 150k. Which session's close the
      // timer names is irrelevant: the expiry handler closes every
      // session due by the WATERMARK and re-arms for the next close,
      // so each close still lands in the same micro-batch as before
      // (a session is due iff the earliest one is).
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      if (merged.nonEmpty)
        getHandle.registerTimer(merged.iterator.map(s => timerMsFor(s._2)).min)
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[(Long, Long)] = {
      // the watermark advanced past the earliest pending close: close
      // EVERY session whose end + gap lies at/before the watermark
      // (not merely the fired expiry — later-closing sessions the same
      // advance made due must not wait a batch), then re-arm for the
      // earliest still-open close. Post-emission merges are impossible
      // by construction: a bridging event for an emitted session would
      // have ts <= end + gap < watermark and is dropped as late before
      // reaching the processor.
      val wm = math.max(tv.getCurrentWatermarkInMs(), info.getExpiryTimeInMs())
      val (closed, open) = sessions.get().toSeq.partition(s => timerMsFor(s._2) <= wm)
      if (closed.nonEmpty) {
        if (open.isEmpty) sessions.clear() else sessions.put(open.toArray)
      }
      if (open.nonEmpty) {
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(open.iterator.map(s => timerMsFor(s._2)).min)
      }
      closed.sortBy(_._1).iterator.map(s => (key, s._3))
    }
  }

  def sessionClose(spark: SparkSession, events: Dataset[Ev],
                   gapMs: Long = 5 * 60 * 1000L): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .withWatermark("ts", "1 minute")
      .groupByKey(_.user_id)
      .transformWithState(new SessionCloser(gapMs), TimeMode.EventTime(),
        OutputMode.Append())
      .toDF("user_id", "n_events")
  }

  // ── Driver-facing oracle queries over the transformWithState family ──
  // Each runs the stateful operator as a REAL streaming query over the
  // staged file feed; the Update-mode trackers reduce their per-batch
  // emission log to final state with max_by(…, batch_seq), which a batch
  // aggregation over the same events must reproduce exactly.

  /** q_stream_spend: per-user running spend (`SpendTracker`, named
    * ValueState on RocksDB) — the final emission per user equals the
    * grouped sum over all events. Rounded to 2 decimals: the stream
    * accumulates in arrival order, the oracle in scan order. */
  def spendFinal(spark: SparkSession, dir: String): DataFrame =
    runUpdate(spark, dir, ev => spendTotals(spark, ev))
      .groupBy("user_id")
      .agg(max_by(col("total_value"), col("batch_seq")).as("t"))
      .where(col("user_id") =!= -1L)
      .select(col("user_id"), round(col("t"), 2).as("total_value"))

  /** q_stream_typecounts: per-(user, type) running counts (`TypeCounter`,
    * MapState sub-keys updated individually) — final state ≡ GROUP BY
    * user, type COUNT(*). Integer counts, exact. */
  def typeCountsFinal(spark: SparkSession, dir: String): DataFrame =
    runUpdate(spark, dir, ev => typeCounts(spark, ev))
      .groupBy("user_id", "event_type")
      .agg(max_by(col("running"), col("batch_seq")).as("cnt"))
      .where(col("user_id") =!= -1L)

  /** q_stream_recent: each user's last-3 event ids (`RecentN`, capped
    * ListState) — final window ≡ the batch top-3 by (ts, event_id),
    * oldest-first, emitted as a CSV string for engine-portable compare. */
  def recentFinal(spark: SparkSession, dir: String): DataFrame =
    runUpdate(spark, dir, ev => recentEvents(spark, ev, cap = 3))
      .groupBy("user_id")
      .agg(max_by(col("recent_ids"), col("batch_seq")).as("r"))
      .where(col("user_id") =!= -1L)
      .select(col("user_id"),
        array_join(col("r").cast("array<string>"), ",").as("recent_csv"))

  /** q_stream_usersession: custom timer-driven sessionization
    * (`SessionCloser`) — emitted (user, session size) rows equal batch
    * gap-and-islands sessionization with the same strict-gap rule
    * (`Windows.sessionize` / q_sessionize's oracle shape). */
  def userSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    run(spark, dir, withDupes = false,
      df => sessionClose(spark, df.as[Ev]), rocksdb = true)
      .where(col("user_id") =!= -1L)
  }

  /** B25 q_stream_dedup: stateful dedup on event_id within the
    * watermark. The feed appends a file that re-sends the newest 100
    * events (duplicates within the watermark horizon) and carries the
    * sentinel — all are suppressed, so the output equals the original
    * distinct stream. */
  def dedup(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, withDupes = true, ds =>
      ds.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("event_type")))
      .where(col("event_type") =!= Sentinel)
      .select(col("event_id"))

  // ---- streaming fold into the incremental family's state shape: the
  // KAPPA bridge. q_incr_wordcount maintains the flagship count over a
  // batch append; this maintains it over a STREAM of document files —
  // the same fold body (TextOps.wordCountPartials ∪ state, re-summed)
  // applied per micro-batch.

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** ONE definition of the feed-file convention (single part file per
    * chunk, %03d-ordered names, strictly-increasing mtimes spaced for
    * coarse-mtime filesystems — FileStreamSource processes in mtime
    * order), shared by the events feed and the documents feed. */
  private def writeFeedChunk(df: DataFrame, root: File, name: String,
      mtime: Long): Unit = {
    val stage = new File(root, s"stage-$name")
    df.repartition(1).write.mode("overwrite").parquet(stage.getAbsolutePath)
    stage.listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .foreach { part =>
        val dest = new File(root, s"$name.parquet")
        Files.move(part.toPath, dest.toPath)
        dest.setLastModified(mtime)
      }
    stage.listFiles().foreach(_.delete()); stage.delete()
  }

  /** Stage the documents table as an id-ordered file feed of
    * [[NumChunks]] + 2 parquet files (mtime-ordered, one micro-batch
    * each) — an arriving-crawl shape; no sentinel needed (the fold is
    * not watermark-gated; processAllAvailable drains the feed). */
  private def stagedDocFeed(spark: SparkSession, dir: String): File =
    Artifacts.memo(Artifacts.Input, "docfeed", dir, "documents") {
      val docs = Tables(spark, dir, "documents")
      val chunks = NumChunks + 2
      // Chunk boundaries are id QUANTILES, not count-derived id
      // thresholds: a sparse/offset id space (e.g. the replicated
      // sf10 fixtures, ids stamped cp·10⁸) leaves count-range chunks
      // empty and SILENTLY DROPS every id past the last range — the
      // sf10 probe's feed carried 5k of 500k docs. Approximate
      // boundaries are fine: the streamed result only needs id-ordered
      // arrival with full coverage (first-arrival-wins is invariant to
      // where the chunk cuts fall), which open-ended first/last ranges
      // guarantee for ANY id distribution.
      val quantiles = docs.stat.approxQuantile("doc_id",
        (1 until chunks).map(_.toDouble / chunks).toArray, 0.001)
      // empty corpus → approxQuantile returns NO values: route everything
      // (i.e. nothing) through chunk 0 so the feed still has its full
      // mtime-ordered file sequence and the empty-schema contract holds
      val bounds =
        if (quantiles.length == chunks - 1) quantiles.map(_.toLong)
        else Array.fill(chunks - 1)(Long.MaxValue)
      val root = graft.Engine.workDir("graft-docfeed-")
      val base = System.currentTimeMillis()
      (0 until chunks).foreach { i =>
        val aboveLo =
          if (i == 0) lit(true) else col("doc_id") > lit(bounds(i - 1))
        val atOrBelowHi =
          if (i == chunks - 1) lit(true) else col("doc_id") <= lit(bounds(i))
        writeFeedChunk(docs.where(aboveLo && atOrBelowHi),
          root, f"doc-$i%03d", base + i * 10000L)
      }
      root
    }

  /** q_stream_neardup: ONLINE near-duplicate detection over the
    * arriving crawl — each micro-batch of documents is checked against
    * everything seen so far (and against itself) with the SAME
    * MinHash-band machinery the batch dedup family trusts, then its
    * band rows and doc-grain shingle arrays are appended to the
    * persisted index so
    * the next batch probes an index that includes this one. Per doc:
    * `dup_of` = the smallest earlier-arriving doc whose verified
    * Jaccard ≥ 0.8, NULL (keep) if none — "first arrival wins", the
    * online filter a crawl-ingest pipeline actually runs.
    *
    * Batch-equivalence: band rows are per-doc pure functions
    * (dedupAppend's property), so the union of per-batch band tables
    * equals the one-shot band table, the streamed candidate set equals
    * the one-shot candidate set regardless of chunking, and the final
    * result is exactly "min J≥0.8 partner below me, else NULL" over
    * the whole corpus — the DuckDB oracle is the exhaustive-pairs CTE
    * with a left join, no stream replay needed.
    *
    * Scale shape per batch: |batch| shingling + ONE compiled-kernel
    * signature expression ([[graft.operators.Dedup.sigBandsFromArrays]]
    * — no 128-column aggregate replanned per micro-batch, VERDICT r12
    * #3); the index probe is
    * [[graft.operators.Dedup.crossCandidates]] (batch side broadcast
    * under the size gate, index streamed map-side, never shuffled);
    * verification is candidate-pair-broadcast against the persisted
    * DOC-GRAIN shingle-array index ([[graft.operators.Dedup
    * .verifyCandidatesArrays]] — exact Jaccard via one codegen'd
    * array_intersect per pair, no shingle-row shuffle, no corpus
    * re-shingle; the verify + result join run as ONE job, attacking
    * the measured per-batch job-count floor); state writes are
    * batch-id-named overwrites (at-least-once redelivery repairs by
    * idempotence, the q_stream_upsert convention). */
  def streamNearDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val feed = stagedDocFeed(spark, dir)
    val stateRoot = graft.Engine.workDir("graft-sndstate-")
    val resDir = new File(stateRoot, "res")
    val ckpt = new File(stateRoot, "ckpt").getAbsolutePath
    val q = spark.readStream.schema(DocSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(feed.getAbsolutePath)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        nearDupBatch(spark, stateRoot, batch.toDF(), batchId)
      }
      .start()
    try q.processAllAvailable() finally {
      q.stop()
      // drop the accumulator with the stream: the state dirs are
      // one-shot temps, and the entry pins checkpoint blocks otherwise
      nearDupAcc.remove(stateRoot.getAbsolutePath)
    }
    val res = batchParts(resDir)
    if (res.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("doc_id", LongType),
          StructField("dup_of", LongType),
          StructField("keep", org.apache.spark.sql.types.BooleanType))))
    else spark.read.parquet(res.toIndexedSeq: _*)
  }

  /** Batch-N directory listing, strictly below `below`: an
    * at-least-once REPLAY of batch N must probe exactly the pre-N
    * state — its own batch-N directories may already exist from the
    * crashed first attempt, and including them would emit every
    * within-batch pair twice and double-count this batch's shingle
    * rows in the Jaccard verify (inflated, wrong dup decisions). */
  private def batchParts(d: File, below: Long = Long.MaxValue): Array[String] =
    if (d.exists())
      d.listFiles().filter { f =>
        val n = f.getName.stripPrefix("batch-")
        f.isDirectory && n.nonEmpty && n.forall(_.isDigit) && n.toLong < below
      }.map(_.getAbsolutePath)
    else Array.empty

  /** Per-stream accumulator over the APPEND-ONLY band/shingle index
    * (VERDICT r11 #5): `upTo` = the index holds exactly batches
    * < upTo, as lineage-cut frames whose blocks live in the session —
    * so batch N probes batch N−1's accumulated blocks plus nothing,
    * instead of re-listing and re-footer-reading every persisted
    * batch-* directory per micro-batch (the 13-batch run paid that
    * fixed cost 13 times). The parquet dirs REMAIN the durable truth:
    * a replayed/out-of-order batch id misses the `upTo` check and
    * falls back to the disk listing (strictly-below-batchId, the
    * at-least-once contract), then repairs the accumulator. At 100 TB
    * the same structure holds with the frames swapped for cached FILE
    * LISTINGS (the data wouldn't fit block storage, but the metadata
    * — the actual per-batch fixed cost at scale — still would). */
  private case class NearDupAcc(upTo: Long, bands: DataFrame, shingles: DataFrame)
  private val nearDupAcc =
    new scala.collection.concurrent.TrieMap[String, NearDupAcc]()

  /** One micro-batch of the online near-dup filter, extracted so the
    * replay-idempotence contract is a TESTABLE pure function of
    * (pre-batchId state under `stateRoot`, `batch`): probe prior
    * index, verify candidates, write the batch verdicts and the
    * batch's own index rows — all to batch-id-named directories whose
    * overwrite repairs at-least-once redelivery. */
  private[graft] def nearDupBatch(spark: SparkSession, stateRoot: File,
      b0: DataFrame, batchId: Long): Unit = {
    import graft.operators.Dedup
    val bandsDir = new File(stateRoot, "bands")
    val shDir = new File(stateRoot, "shingles")
    val resDir = new File(stateRoot, "res")
    // the batch feeds signatures, shingles, and the result join —
    // pin it once instead of re-reading the feed file per consumer
    val b = b0.localCheckpoint()
    val nBatch = b.count()
    // ONE shingle pass per batch, pinned at DOC grain (round 13): the
    // array form feeds the compiled signature kernel directly (one
    // MinHashBandHashes expression — no 128-column aggregate to replan
    // per micro-batch, VERDICT r12 #3) and explodes once for the
    // verify (via allSh), the parquet append, and the accumulator
    // shingle state lives at DOC grain end-to-end (round 13): the
    // array form feeds the compiled signature kernel (ONE
    // MinHashBandHashes expression — no 128-column aggregate to replan
    // per micro-batch), the persisted index (arrays are the index
    // format — smaller rows, same information), and the
    // array_intersect verify; nothing ever explodes to shingle rows
    val batchArr = Dedup.shingleArrays(b).localCheckpoint()
    val batchBands = Dedup.sigBandsFromArrays(batchArr).localCheckpoint()
    // the batch's OWN index dirs can be written concurrently with the
    // probe/verify: every pre-batchId reader (the accumulator, and the
    // strictly-below listing on the replay path) excludes batch-N dirs
    // by construction, so the overlap is invisible to correctness
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val bandsDst = new File(bandsDir, s"batch-$batchId").getAbsolutePath
    val shDst = new File(shDir, s"batch-$batchId").getAbsolutePath
    val idxWrites = Seq(
      Future(batchBands.write.mode("overwrite").parquet(bandsDst)),
      Future(batchArr.write.mode("overwrite").parquet(shDst)))
    // prior index: the warm accumulator when it matches this batch id
    // exactly; the persisted batch-* dirs otherwise (first batch of a
    // restarted/replayed stream — disk is the truth, strictly below
    // batchId per the replay contract documented on batchParts)
    val key = stateRoot.getAbsolutePath
    val prior: Option[(DataFrame, DataFrame)] =
      nearDupAcc.get(key).filter(_.upTo == batchId) match {
        case Some(acc) => Some((acc.bands, acc.shingles))
        case None =>
          val pb = batchParts(bandsDir, batchId)
          val ps = batchParts(shDir, batchId)
          if (pb.isEmpty) None
          else Some((spark.read.parquet(pb.toIndexedSeq: _*),
            spark.read.parquet(ps.toIndexedSeq: _*)))
      }
    // candidates: against the persisted index (cross) + within-batch
    // (self) — disjoint pair spaces, no dedupe needed
    val cands =
      prior.map { case (pBands, _) =>
        Dedup.crossCandidates(pBands, batchBands, nBatch * Dedup.Bands)
      }.getOrElse(spark.emptyDataset[(Long, Long)](
        org.apache.spark.sql.Encoders.product[(Long, Long)])
        .toDF("da", "db"))
      .unionAll(Dedup.lshCandidates(batchBands))
    val allArr = prior.map(_._2.unionByName(batchArr)).getOrElse(batchArr)
    val pairs = Dedup.verifyCandidatesArrays(allArr, cands, 0.8)
    val dup = pairs.groupBy(col("db").as("doc_id"))
      .agg(min(col("da")).as("dup_of"))
    b.select(col("doc_id")).join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"),
        col("dup_of").isNull.as("keep"))
      .write.mode("overwrite")
      .parquet(new File(resDir, s"batch-$batchId").getAbsolutePath)
    idxWrites.foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
    // accumulator = prior ∪ this batch, now valid for batch id + 1
    // (shingle state accumulates at DOC grain — array frames)
    val nb = prior.map(_._1.unionAll(batchBands)).getOrElse(batchBands)
    val ns = prior.map(_._2.unionByName(batchArr)).getOrElse(batchArr)
    nearDupAcc.put(key, NearDupAcc(batchId + 1, nb, ns))
  }

  /** q_stream_wordcount: each micro-batch folds its word partials into
    * the persisted vocabulary state — state_N = fold(state_{N−1},
    * partials(batch_N)), written to a BATCH-ID-NAMED directory so
    * foreachBatch's at-least-once redelivery is repaired by overwrite
    * idempotence (the q_stream_upsert convention). The final state is
    * the full corpus count exactly (associative integer partials —
    * shared q_wordcount oracle); per batch the work is |batch|
    * tokenization + a vocabulary-grain merge, and no corpus-sized
    * collection ever exists anywhere. */
  def streamWordCount(spark: SparkSession, dir: String): DataFrame = {
    val feed = stagedDocFeed(spark, dir)
    val stateRoot = graft.Engine.workDir("graft-swcstate-")
    val ckpt = new File(stateRoot, "ckpt").getAbsolutePath
    @volatile var last = -1L
    val q = spark.readStream.schema(DocSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(feed.getAbsolutePath)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val cur = graft.operators.TextOps.wordCountPartials(batch.toDF())
        val prev = new File(stateRoot, s"state-${batchId - 1}")
        val merged =
          if (prev.exists())
            spark.read.parquet(prev.getAbsolutePath).unionByName(cur)
              .groupBy("word").agg(sum("cnt").as("cnt"))
          else cur
        merged.write.mode("overwrite")
          .parquet(new File(stateRoot, s"state-$batchId").getAbsolutePath)
        last = math.max(last, batchId)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    if (last < 0)
      // zero micro-batches (empty corpus): empty result WITH schema,
      // the same contract as the event-feed queries' sentinel rule
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("word", StringType),
          StructField("cnt", LongType))))
    else
      spark.read.parquet(new File(stateRoot, s"state-$last").getAbsolutePath)
        .orderBy("word")
  }

  /** q_stream_anomaly: the prospective 3σ detector
    * ([[graft.operators.Events.anomalies]]) run ONLINE — per-type
    * (n, S, S2) state carried across micro-batches, each batch judged
    * against state + its own intra-batch prefix and then folded in
    * (batch-id-named overwrite idempotence, the q_stream_wordcount
    * convention). The batch form's per-type window scan is inherently
    * sequential over the type's whole history; this is the shape that
    * replaces it at scale — per-batch cost is |batch| + a |types|-row
    * state add, and history is never re-scanned or re-sorted.
    *
    * Streamed ≡ batch EXACTLY, not just in the limit: the feed chunks
    * on the event-time midpoint (strict ts split) and the intra-batch
    * prefix window orders by the same (ts, event_id) total order, so
    * (state + batch prefix) at each row equals the full-history prefix
    * — and the flag predicate is the SHARED
    * [[graft.operators.Events.anomalyFlag]] over exact integer sums.
    * Oracle: q_anomaly's, verbatim. */
  def streamAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val feed = staged(spark, dir, withDupes = false)
    val stateRoot = graft.Engine.workDir("graft-sanom-")
    val ckpt = new File(stateRoot, "ckpt").getAbsolutePath
    @volatile var last = -1L
    val q = spark.readStream.schema(EvSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(feed.getAbsolutePath)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val ev = batch.toDF()
          .where(col("event_type") =!= Sentinel && col("value").isNotNull)
          .select(col("event_id"), col("ts"), col("event_type"),
            round(col("value") * 100).cast("long").as("cents"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy(col("ts"), col("event_id"))
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val pfx = ev
          .withColumn("bn", count(col("cents")).over(w))
          .withColumn("bs", coalesce(sum(col("cents")).over(w), lit(0L)))
          .withColumn("bs2",
            coalesce(sum(col("cents") * col("cents")).over(w), lit(0L)))
        val prev = new File(stateRoot, s"state-${batchId - 1}")
        val withState =
          if (prev.exists())
            pfx.join(spark.read.parquet(prev.getAbsolutePath),
                Seq("event_type"), "left")
              .select(pfx.columns.toIndexedSeq.map(col) :+
                (col("bn") + coalesce(col("pn"), lit(0L))).as("n") :+
                (col("bs") + coalesce(col("ps"), lit(0L))).as("s") :+
                (col("bs2") + coalesce(col("ps2"), lit(0L))).as("s2"): _*)
          else pfx.withColumn("n", col("bn")).withColumn("s", col("bs"))
            .withColumn("s2", col("bs2"))
        withState.select(col("event_id"), col("event_type"), col("cents"),
            col("n").as("n_prior"),
            graft.operators.Events.anomalyFlag(
              col("n"), col("cents"), col("s"), col("s2")).as("is_anomaly"))
          .repartition(1).write.mode("overwrite")
          .parquet(new File(stateRoot, s"flags-$batchId").getAbsolutePath)
        // fold the WHOLE batch into the carried per-type state
        val tot = ev.groupBy("event_type").agg(
          count(col("cents")).as("pn"), sum(col("cents")).as("ps"),
          sum(col("cents") * col("cents")).as("ps2"))
        val merged =
          if (prev.exists())
            spark.read.parquet(prev.getAbsolutePath).unionByName(tot)
              .groupBy("event_type").agg(sum("pn").as("pn"),
                sum("ps").as("ps"), sum("ps2").as("ps2"))
          else tot
        merged.write.mode("overwrite")
          .parquet(new File(stateRoot, s"state-$batchId").getAbsolutePath)
        last = math.max(last, batchId)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    if (last < 0)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("event_id", LongType),
          StructField("event_type", StringType),
          StructField("cents", LongType), StructField("n_prior", LongType),
          StructField("is_anomaly", BooleanType))))
    else
      spark.read.parquet((0L to last).map(b =>
        new File(stateRoot, s"flags-$b").getAbsolutePath): _*)
  }

  /** q_stream_kmv: per-type distinct-user cardinality maintained
    * ONLINE — the KMV sketch ([[graft.operators.Sketches]]) as
    * streaming state: each micro-batch is sketched, merged into the
    * persisted ≤ K-long per-type state (batch-id-named overwrite
    * idempotence), and the final state projects the same estimate the
    * batch form computes. Per-batch cost is |batch| + a |types|·K
    * merge; the value domain is never stored or re-scanned — the
    * sketch IS the state, which is the entire point of KMV at stream
    * scale.
    *
    * Streamed ≡ batch EXACTLY (not approximately): min-k of a set is
    * associative and IDEMPOTENT, so any chunking — including
    * at-least-once re-delivery of a whole batch — lands on the
    * identical sketch, and the shared projection emits the identical
    * estimate. Oracle: q_kmv_distinct's, verbatim. */
  def streamKmv(spark: SparkSession, dir: String): DataFrame = {
    val feed = staged(spark, dir, withDupes = false)
    val stateRoot = graft.Engine.workDir("graft-skmv-")
    val ckpt = new File(stateRoot, "ckpt").getAbsolutePath
    @volatile var last = -1L
    val q = spark.readStream.schema(EvSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(feed.getAbsolutePath)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val ev = batch.toDF().where(col("event_type") =!= Sentinel)
          .select(col("event_type"), col("user_id"))
        val cur = graft.operators.Sketches.kmvSketches(ev)
        val prev = new File(stateRoot, s"state-${batchId - 1}")
        val merged =
          if (prev.exists())
            graft.operators.Sketches.mergeSketches(
              spark.read.parquet(prev.getAbsolutePath).unionByName(cur))
          else cur
        merged.write.mode("overwrite")
          .parquet(new File(stateRoot, s"state-$batchId").getAbsolutePath)
        last = math.max(last, batchId)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    if (last < 0)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("event_type", StringType),
          StructField("n_sketch", LongType),
          StructField("kth_hash", LongType),
          StructField("est_distinct", LongType))))
    else
      graft.operators.Sketches.kmvProject(
        spark.read.parquet(
          new File(stateRoot, s"state-$last").getAbsolutePath))
  }

  /** q_stream_linreg: the sufficient-statistics fold STREAMED — each
    * micro-batch contributes its 9 normal-equation sums and the
    * persisted 1-row state adds them (state_N = state_{N−1} +
    * stats(batch_N), batch-id-named overwrite idempotence, the
    * q_stream_wordcount convention). Because the statistics are exact
    * associative integer sums, the final state equals the full-corpus
    * statistics regardless of chunking, and the Cramer solve over it
    * IS the batch q_linreg bit-for-bit (shared oracle) — the
    * streaming face of the q_linreg_append refresh: a model kept
    * CURRENT against an arriving corpus with per-batch cost |batch| +
    * one 9-column add, no retraining pass anywhere. */
  def streamLinreg(spark: SparkSession, dir: String): DataFrame = {
    val feed = stagedDocFeed(spark, dir)
    val stateRoot = graft.Engine.workDir("graft-slrstate-")
    val ckpt = new File(stateRoot, "ckpt").getAbsolutePath
    @volatile var last = -1L
    val q = spark.readStream.schema(DocSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(feed.getAbsolutePath)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val cur = graft.operators.Regression.suffStats(batch.toDF())
        val prev = new File(stateRoot, s"state-${batchId - 1}")
        val merged =
          if (prev.exists())
            graft.operators.Regression.addStats(
              spark.read.parquet(prev.getAbsolutePath).unionByName(cur))
          else cur
        merged.write.mode("overwrite")
          .parquet(new File(stateRoot, s"state-$batchId").getAbsolutePath)
        last = math.max(last, batchId)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    if (last < 0)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("j", LongType),
          StructField("beta_fp", LongType))))
    else
      graft.operators.Regression.solveRow(spark,
        spark.read.parquet(
          new File(stateRoot, s"state-$last").getAbsolutePath).head())
  }
}
