package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streams.Ev

/** Shared fault switch for the failure-injection spec: a JVM-global
  * `@volatile` the injected map closure reads on every row — works in
  * local mode because driver and executors share the JVM. */
object CrashFlag { @volatile var armed = false }

/** Streaming semantics a batch oracle cannot check: true late-data
  * dropping and within-watermark dedup, via crafted MemoryStream
  * sequences (SURVEY §5.4). */
class StreamingSpec extends SparkSuiteBase {

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:$sec%02d")

  test("tumbling window with watermark drops a too-late row") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[Ev]
    val name = "late_test_sink"
    val q = source.toDS()
      .withWatermark("ts", "2 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(date_format(col("window.start"), "HH:mm").as("w"),
        col("event_type"), col("cnt"))
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try {
      // batch 1: two events at 10:00, one at 10:01
      source.addData(Seq(
        Ev(1, ts(0, 10), 1, "x", 1.0), Ev(2, ts(0, 40), 1, "x", 1.0),
        Ev(3, ts(1, 10), 1, "x", 1.0)))
      q.processAllAvailable()
      // batch 2: advance watermark far past 10:00 (wm = 10:20 - 2min)
      source.addData(Seq(Ev(4, ts(20, 0), 1, "x", 1.0)))
      q.processAllAvailable()
      // batch 3: a LATE event for 10:00 — must be dropped, and a live one
      source.addData(Seq(Ev(5, ts(0, 50), 1, "x", 99.0),
        Ev(6, ts(21, 0), 1, "x", 1.0)))
      q.processAllAvailable()
      // batch 4: flush remaining windows
      source.addData(Seq(Ev(7, ts(59, 0), 1, "x", 1.0)))
      q.processAllAvailable()
      val got = spark.table(name).collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(got("10:00") === 2L, "late row was not dropped")
      assert(got("10:01") === 1L)
    } finally q.stop()
  }

  test("session window: gap-boundary event MERGES (session end inclusive)") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[Ev]
    val name = "session_edge_sink"
    val q = source.toDS()
      .withWatermark("ts", "1 minute")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(date_format(col("session_window.start"), "HH:mm").as("s"),
        date_format(col("session_window.end"), "HH:mm").as("e"), col("cnt"))
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try {
      // gaps: exactly 5 min (merges — end inclusive), 5min1s (splits)
      source.addData(Seq(Ev(1, ts(0), 1, "x", 1.0), Ev(2, ts(5), 1, "x", 1.0),
        Ev(3, ts(10, 1), 1, "x", 1.0)))
      q.processAllAvailable()
      source.addData(Seq(Ev(4, ts(59), 1, "x", 1.0))) // flush watermark
      q.processAllAvailable()
      val got = spark.table(name).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got.contains(("10:00", "10:10", 2L)), s"got $got")
      assert(got.contains(("10:10", "10:15", 1L)), s"got $got")
    } finally q.stop()
  }

  test("flatMapGroupsWithState: running per-user counter across batches") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[Ev]
    val name = "fmgws_test_sink"
    val q = graft.streaming.Streams.userCounter(spark, source.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try {
      source.addData(Seq(Ev(1, ts(0), 7, "x", 1.0), Ev(2, ts(1), 7, "x", 1.0),
        Ev(3, ts(1), 8, "x", 1.0)))
      q.processAllAvailable()
      source.addData(Seq(Ev(4, ts(2), 7, "x", 1.0)))
      q.processAllAvailable()
      val rows = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      // user 7: batch1 total 2, batch2 total 3 (state carried across)
      assert(rows.contains((7L, 2L, 2)))
      assert(rows.contains((7L, 3L, 1)))
      assert(rows.contains((8L, 1L, 1)))
    } finally q.stop()
  }

  /** transformWithState requires the RocksDB state store. The conf is
    * set INSIDE the try so a failure anywhere (even query start) cannot
    * leak the provider into the shared session's later tests. */
  private def withRocksDB[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      body
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("transformWithState: RocksDB-backed running spend across batches") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDB {
    val source = MemoryStream[Ev]
    val name = "tws_test_sink"
    val q = graft.streaming.Streams.spendTotals(spark, source.toDS())
      .writeStream.format("memory").queryName(name).outputMode("update")
      .start()
    try {
      source.addData(Seq(Ev(1, ts(0), 7, "x", 2.5), Ev(2, ts(1), 7, "x", 1.5),
        Ev(3, ts(1), 8, "x", 4.0)))
      q.processAllAvailable()
      source.addData(Seq(Ev(4, ts(2), 7, "x", 6.0)))
      q.processAllAvailable()
      val rows = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      // user 7: batch1 total 4.0 over 2 events; batch2 total 10.0 — the
      // named ValueState carried across batches
      assert(rows.contains((7L, 4.0, 2L)), s"got ${rows.toSeq}")
      assert(rows.contains((7L, 10.0, 1L)), s"got ${rows.toSeq}")
      assert(rows.contains((8L, 4.0, 1L)), s"got ${rows.toSeq}")
    } finally q.stop()
    }
  }

  test("transformWithState MapState: per-type sub-keys update independently across batches") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDB {
    val source = MemoryStream[Ev]
    val name = "mapstate_test_sink"
    val q = graft.streaming.Streams.typeCounts(spark, source.toDS())
      .writeStream.format("memory").queryName(name).outputMode("update")
      .start()
    try {
      source.addData(Seq(Ev(1, ts(0), 7, "view", 1.0), Ev(2, ts(1), 7, "view", 1.0),
        Ev(3, ts(1), 7, "click", 1.0), Ev(4, ts(1), 8, "view", 1.0)))
      q.processAllAvailable()
      // only user 7's click ticks — its view count must NOT re-emit or reset
      source.addData(Seq(Ev(5, ts(2), 7, "click", 1.0)))
      q.processAllAvailable()
      val rows = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(rows.contains((7L, "view", 2L)))
      assert(rows.contains((7L, "click", 1L)), "batch-1 click emission")
      assert(rows.contains((7L, "click", 2L)), "batch-2 ticked the click sub-key only")
      assert(rows.contains((8L, "view", 1L)))
      // batch 2 emitted exactly ONE row (the touched sub-key), proving
      // untouched map entries are neither rewritten nor re-emitted
      assert(rows.count { case (u, t, _) => u == 7L && t == "view" } === 1)
    } finally q.stop()
    }
  }

  test("transformWithState ListState: capped recent-N window slides across batches") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDB {
    val source = MemoryStream[Ev]
    val name = "liststate_test_sink"
    val q = graft.streaming.Streams.recentEvents(spark, source.toDS(), cap = 3)
      .writeStream.format("memory").queryName(name).outputMode("update")
      .start()
    try {
      source.addData(Seq(Ev(1, ts(0), 7, "x", 1.0), Ev(2, ts(1), 7, "x", 1.0)))
      q.processAllAvailable()
      source.addData(Seq(Ev(3, ts(2), 7, "x", 1.0), Ev(4, ts(3), 7, "x", 1.0)))
      q.processAllAvailable()
      val rows = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
      // batch 1: under the cap → [1, 2]; batch 2: state carried, capped
      // to the LATEST 3 → [2, 3, 4] (oldest id 1 evicted)
      assert(rows.contains((7L, Seq(1L, 2L))), s"got ${rows.toSeq}")
      assert(rows.contains((7L, Seq(2L, 3L, 4L))), s"got ${rows.toSeq}")
    } finally q.stop()
    }
  }

  test("transformWithState timers: session closes only after the gap expires") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDB {
    val source = MemoryStream[Ev]
    val name = "timer_test_sink"
    val q = graft.streaming.Streams.sessionClose(spark, source.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try {
      // user 7: three events within the 5-min gap
      source.addData(Seq(Ev(1, ts(0), 7, "x", 1.0), Ev(2, ts(2), 7, "x", 1.0),
        Ev(3, ts(4), 7, "x", 1.0)))
      q.processAllAvailable()
      assert(spark.table(name).isEmpty, "session must not close early")
      // advance the watermark far past last + gap → timer fires
      source.addData(Seq(Ev(4, ts(30), 8, "x", 1.0)))
      q.processAllAvailable()
      source.addData(Seq(Ev(5, ts(59), 8, "x", 1.0)))
      q.processAllAvailable()
      val rows = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows.contains((7L, 3L)), s"got $rows")
    } finally q.stop()
    }
  }

  test("transformWithState timers: intra-batch gap splits sessions like batch sessionize") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDB {
    val source = MemoryStream[Ev]
    val name = "timer_gapsplit_sink"
    val q = graft.streaming.Streams.sessionClose(spark, source.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try {
      // ONE coarse batch holding THREE of user 7's sessions (gaps of
      // 15 min and 20 min inside the batch): the timer alone cannot see
      // them — the gap-aware input path must close the first two
      // immediately, sizes 2 and 1
      source.addData(Seq(
        Ev(1, ts(0), 7, "x", 1.0), Ev(2, ts(3), 7, "x", 1.0),
        Ev(3, ts(18), 7, "x", 1.0),
        Ev(4, ts(38), 7, "x", 1.0), Ev(5, ts(39), 7, "x", 1.0)))
      q.processAllAvailable()
      val early = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(early.sorted === Seq((7L, 1L), (7L, 2L)),
        s"two sessions must close on intra-batch gaps, got $early")
      // advance the watermark past 10:39 + gap → the third closes via timer
      source.addData(Seq(Ev(6, ts(59), 8, "x", 1.0)))
      q.processAllAvailable()
      val all = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(all === Seq((7L, 1L), (7L, 2L), (7L, 2L)),
        s"final session (2 events) must close via the timer, got $all")
    } finally q.stop()
    }
  }

  test("transformWithState timers: a late BRIDGING event merges two pending sessions") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDB {
    val source = MemoryStream[Ev]
    val name = "timer_bridge_sink"
    val q = graft.streaming.Streams.sessionClose(spark, source.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try {
      // batch 1: 10:00:00 and 10:05:30 — a 5.5-min gap splits them into
      // TWO pending sessions; neither may emit yet (watermark 10:04:30)
      source.addData(Seq(Ev(1, ts(0), 7, "x", 1.0), Ev(2, ts(5, 30), 7, "x", 1.0)))
      q.processAllAvailable()
      assert(spark.table(name).isEmpty,
        "a pending session must not emit before the watermark passes its close")
      // batch 2: LATE but within-watermark 10:04:50 bridges both
      // sessions (4:50 from the first, 0:40 from the second) → ONE
      // merged session of 3 — exactly what batch sessionize computes
      source.addData(Seq(Ev(3, ts(4, 50), 7, "x", 1.0)))
      q.processAllAvailable()
      // flush
      source.addData(Seq(Ev(4, ts(59), 8, "x", 1.0)))
      q.processAllAvailable()
      val u7 = spark.table(name).collect()
        .filter(_.getLong(0) == 7L).map(_.getLong(1)).toSeq
      assert(u7 === Seq(3L),
        s"bridged sessions must merge into one 3-event session, got $u7")
    } finally q.stop()
    }
  }

  test("transformWithState timers: a late within-watermark batch never splits the session") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDB {
    val source = MemoryStream[Ev]
    val name = "timer_late_sink"
    val q = graft.streaming.Streams.sessionClose(spark, source.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try {
      // batch 1: user 7 at 10:00 and 10:04 → session end candidate 10:09
      source.addData(Seq(Ev(1, ts(0), 7, "x", 1.0), Ev(2, ts(4), 7, "x", 1.0)))
      q.processAllAvailable()
      // batch 2: LATE but within-watermark event at 10:03:30 — must not
      // pull the timer earlier than 10:09
      source.addData(Seq(Ev(3, ts(3, 30), 7, "x", 1.0)))
      q.processAllAvailable()
      // batch 3: another user advances the watermark to 10:08:45
      source.addData(Seq(Ev(4, ts(9, 45), 8, "x", 1.0)))
      q.processAllAvailable()
      // batch 4: user 7 again at 10:08:50 — still within gap of 10:04
      source.addData(Seq(Ev(5, ts(8, 50), 7, "x", 1.0)))
      q.processAllAvailable()
      // flush everything
      source.addData(Seq(Ev(6, ts(59), 9, "x", 1.0)))
      q.processAllAvailable()
      val u7 = spark.table(name).collect()
        .filter(_.getLong(0) == 7L).map(_.getLong(1)).toSeq
      assert(u7 === Seq(4L),
        s"user 7 must close as ONE 4-event session, got $u7")
    } finally q.stop()
    }
  }

  test("file sink: checkpointed parquet write with AvailableNow equals batch") {
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.file.Files
    // production write path: stream the events table into a parquet sink
    // with its own checkpoint, one shot via AvailableNow
    val evs = graft.sources.Tables(spark, sf, "events")
      .select("event_id", "event_type", "value")
    val srcDir = Files.createTempDirectory("graft_fsrc").toFile.getAbsolutePath
    val outDir = Files.createTempDirectory("graft_fsink").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("graft_fck").toFile.getAbsolutePath
    evs.write.mode("overwrite").parquet(srcDir)
    val q = spark.readStream.schema(evs.schema).parquet(srcDir)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val back = spark.read.parquet(outDir)
    assert(back.count() === evs.count())
    assert(back.schema === evs.schema)
    // restart with the same checkpoint: nothing new → no duplicates
    val q2 = spark.readStream.schema(evs.schema).parquet(srcDir)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    assert(spark.read.parquet(outDir).count() === evs.count(),
      "checkpoint must make the restart a no-op (exactly-once)")
  }

  test("failure injection: a mid-batch crash leaves the interrupted epoch invisible; restart replays exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = graft.Engine.workDir("graft-crash-")
    val data = new java.io.File(root, "data")
    val ckpt = new java.io.File(root, "ckpt")
    val source = MemoryStream[Ev]
    CrashFlag.armed = true
    // the poisoned row's task throws AFTER a beat, so sibling tasks of
    // the same epoch finish and write their data files first — exactly
    // the torn-epoch state the _spark_metadata commit log must hide
    def start() = source.toDS()
      .repartition(4, col("user_id"))
      .map { e =>
        if (CrashFlag.armed && e.value == 666.0) {
          Thread.sleep(500)
          throw new RuntimeException("injected mid-batch task failure")
        }
        e
      }
      .select("event_id", "user_id", "value")
      .writeStream.format("parquet")
      .option("path", data.getAbsolutePath)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .outputMode("append").start()

    // epoch 1: clean
    source.addData(Seq(Ev(1, ts(0), 1, "x", 1.0), Ev(2, ts(1), 2, "x", 2.0),
      Ev(3, ts(2), 3, "x", 3.0)))
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(data.getAbsolutePath).count() === 3L)

    // epoch 2: poisoned → the query must DIE mid-batch
    source.addData(Seq(Ev(4, ts(3), 4, "x", 4.0), Ev(5, ts(4), 5, "x", 5.0),
      Ev(6, ts(5), 6, "x", 666.0), Ev(7, ts(6), 7, "x", 7.0)))
    val q2 = start()
    try { q2.processAllAvailable() } catch { case _: Throwable => () }
    assert(q2.exception.isDefined, "the injected failure must kill the query")
    q2.stop()

    // the torn epoch is INVISIBLE: a commit-log-honoring read returns
    // exactly the committed rows, even though orphan data files of the
    // interrupted epoch may sit in the directory
    val committed = spark.read.parquet(data.getAbsolutePath)
    assert(committed.count() === 3L,
      "uncommitted epoch rows must not be visible through _spark_metadata")
    assert(committed.select("event_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 3L))

    // restart with the fault cleared: the interrupted epoch replays
    // from the checkpoint EXACTLY ONCE — every event visible once, no
    // duplicates from the torn first attempt
    CrashFlag.armed = false
    val q3 = start()
    q3.processAllAvailable(); q3.stop()
    val fin = spark.read.parquet(data.getAbsolutePath)
    assert(fin.count() === 7L, "replayed epoch must append exactly once")
    assert(fin.select("event_id").distinct().count() === 7L,
      "no event may be duplicated by the replay")
  }

  test("stream-static enrich equals the batch join+agg; no join state") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.Streams.enrich(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    val batch = graft.sources.Tables(spark, sf, "events")
      .join(graft.sources.Tables(spark, sf, "customer"),
        col("user_id") === col("c_custkey"))
      .groupBy(date_format(date_trunc("minute", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("wstart"), col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sval"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(streamed === batch)
  }

  test("foreachBatch upsert converges to the one-shot batch compaction") {
    val streamed = graft.streaming.Streams.upsert(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getDouble(3))))
      .toMap
    val batch = graft.operators.Relational.cdcCompact(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getDouble(3))))
      .toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("left-outer stream-stream join: null-extensions flushed, total equals batch left join") {
    import org.apache.spark.sql.functions._
    val got = graft.streaming.Streams.streamJoinOuter(spark, sf).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2))).toSet
    val ev = graft.sources.Tables(spark, sf, "events")
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_uid"),
        col("ts").as("p_ts"))
    val c = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_uid"),
        col("ts").as("c_ts"))
    val want = p.join(c,
        col("p_uid") === col("c_uid") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
          col("c_ts") <= col("p_ts"), "left_outer")
      .select(col("purchase_id"), col("click_id"), col("p_uid")).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2))).toSet
    assert(got === want)
    assert(got.exists(_._2.isEmpty),
      "fixture must exercise the watermark-flushed null-extension path")
  }

  test("dropDuplicatesWithinWatermark suppresses within-horizon dupes") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[Ev]
    val name = "dedup_test_sink"
    val q = source.toDS()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"))
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try {
      source.addData(Seq(Ev(1, ts(0), 1, "x", 1.0), Ev(2, ts(1), 1, "x", 1.0)))
      q.processAllAvailable()
      // same ids re-sent within the watermark → suppressed
      source.addData(Seq(Ev(1, ts(2), 1, "x", 1.0), Ev(2, ts(3), 1, "x", 1.0),
        Ev(3, ts(4), 1, "x", 1.0)))
      q.processAllAvailable()
      val ids = spark.table(name).collect().map(_.getLong(0)).sorted
      assert(ids === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("checkpoint resume: windowed state survives a query restart (phase-split counts)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.file.Files
    val src = Files.createTempDirectory("graft_rsrc").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_rout").toFile.getAbsolutePath
    val ck = Files.createTempDirectory("graft_rck").toFile.getAbsolutePath
    import spark.implicits._
    val t0 = 1700000000000000L // μs
    def writeBatch(rows: Seq[(Long, Long)]): Unit =
      rows.toDF("event_id", "us")
        .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
        .repartition(1).write.mode("append").parquet(src)
    def run(): Unit = {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      val q = spark.readStream.schema(schema).parquet(src)
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "1 minute"))
        .agg(count(lit(1)).as("cnt"))
        .select(date_format(col("window.start"), "HH:mm").as("w"), col("cnt"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    // phase 1: 3 rows in window W1, 2 in W2 — watermark stays below both
    // window ends, so EVERYTHING is still in the state store at stop
    writeBatch(Seq((1L, t0), (2L, t0 + 1000000L), (3L, t0 + 2000000L),
      (4L, t0 + 60000000L), (5L, t0 + 61000000L)))
    run()
    // phase 2: 3 more W2 rows + a far-future flusher, then RESTART from
    // the same checkpoint. W2's final count must merge phase-1 state (2)
    // with phase-2 arrivals (3) — a lost state store would report 3.
    writeBatch(Seq((6L, t0 + 62000000L), (7L, t0 + 63000000L),
      (8L, t0 + 64000000L), (99L, t0 + 3600000000L)))
    run()
    val got = spark.read.parquet(out).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val w1 = new java.text.SimpleDateFormat("HH:mm") {
      { setTimeZone(java.util.TimeZone.getTimeZone("UTC")) }
    }.format(new java.util.Date(t0 / 1000L))
    assert(got.values.sum === 8L, s"windows: $got")
    assert(got(w1) === 3L, s"W1 count: $got")
    assert(got.filterNot(_._1 == w1).values.toSeq.sorted === Seq(5L),
      s"W2 must merge pre- and post-restart rows exactly once: $got")
  }

  test("chained stateful aggs (topEvent) equal batch, INCLUDING the final window") {
    import org.apache.spark.sql.functions._
    val (rows, nBatches) =
      withBatchCount(graft.streaming.Streams.topEvent(spark, sf).collect())
    val streamed = rows
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val batch = graft.sources.Tables(spark, sf, "events")
      .groupBy(date_format(date_trunc("minute", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("wstart"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("wstart")
      .agg(max(struct(col("cnt"), col("event_type"))).as("top"))
      .select(col("wstart"), col("top.event_type").as("t"), col("top.cnt").as("c"))
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(streamed === batch)
    // the final window is the last to flush through BOTH stages: the
    // one watermark advance of the folded sentinel must carry it out of
    // stage 2 in the same flush batch that emits it from stage 1
    val lastW = batch.keys.max
    assert(streamed.contains(lastW), s"final window $lastW missing — " +
      "second-stage flush regression")
    // 2 data batches (the sentinel rides in the last) + 1 flush batch
    assert(nBatches === 3, "topevent: micro-batches")
  }

  test("streamed word-count fold ≡ the batch flagship count (kappa bridge, multi-batch)") {
    val streamed = graft.streaming.Streams.streamWordCount(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = graft.operators.TextOps.wordCount(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed === batch,
      "per-micro-batch state folds must land on the full corpus count")
  }

  test("streamed near-dup filter ≡ batch first-arrival-wins over the exhaustive pair set") {
    val streamed = graft.streaming.Streams.streamNearDup(spark, sf).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2)))
      .toSet
    // batch truth: exhaustive verified J >= 0.8 pairs, dup_of = min
    // earlier partner — chunking must be invisible (per-doc band purity)
    val pairs = graft.operators.Dedup.minhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val minPartner = pairs.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    val docs = graft.sources.Tables(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val batch = docs.map { id =>
      (id, minPartner.get(id), !minPartner.contains(id))
    }.toSet
    assert(streamed === batch,
      "online filter must equal the batch pair-graph semantics")
    // the filter actually fires on the fixture (it contains near-dups)
    assert(streamed.exists(!_._3), "expected at least one dropped doc")
  }

  test("near-dup batch body is replay-idempotent: a redelivered batch reproduces its first verdicts") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables(spark, sf, "documents")
    val n = docs.count()
    val per = math.max(1L, n / 3)
    def slice(i: Int) = docs.where(
      col("doc_id") >= i * per && (if (i == 2) col("doc_id") >= i * per
                                   else col("doc_id") < (i + 1) * per))
    def readRes(root: java.io.File, b: Int) =
      spark.read.parquet(new java.io.File(root, s"res/batch-$b").getAbsolutePath)
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    // clean run: batches 0, 1, 2
    val clean = java.nio.file.Files.createTempDirectory("graft-sndclean-").toFile
    (0 to 2).foreach(i => graft.streaming.Streams.nearDupBatch(spark, clean, slice(i), i))
    // redelivered run: batch 1 crashes AFTER its state writes landed and
    // is delivered again (at-least-once) before batch 2 proceeds
    val redel = java.nio.file.Files.createTempDirectory("graft-sndredel-").toFile
    graft.streaming.Streams.nearDupBatch(spark, redel, slice(0), 0)
    graft.streaming.Streams.nearDupBatch(spark, redel, slice(1), 1)
    graft.streaming.Streams.nearDupBatch(spark, redel, slice(1), 1) // replay
    graft.streaming.Streams.nearDupBatch(spark, redel, slice(2), 2)
    (0 to 2).foreach { b =>
      assert(readRes(redel, b) === readRes(clean, b),
        s"batch $b verdicts must be unaffected by the batch-1 redelivery")
    }
    graft.Fs.rmRf(clean); graft.Fs.rmRf(redel)
  }

  test("streamed word-count on an empty corpus: empty result WITH schema, no crash") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-emptycorpus-")
      .toFile.getAbsolutePath
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = graft.streaming.Streams.streamWordCount(spark, dir)
    assert(out.columns.toSeq === Seq("word", "cnt"))
    assert(out.count() === 0)
  }

  test("streamed anomaly detector ≡ the batch prospective window, row for row") {
    // strict ts-split feed + shared integer flag predicate -> the
    // per-batch (state + intra-batch prefix) fold must reproduce the
    // batch window EXACTLY, including every boolean verdict
    val streamed = graft.streaming.Streams.streamAnomaly(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    val batch = graft.operators.Events.anomalies(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streamed KMV sketch ≡ the batch sketch, estimate and all") {
    val streamed = graft.streaming.Streams.streamKmv(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = graft.operators.Sketches.kmvDistinct(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  /** Run `body` and count the micro-batches of every streaming query it
    * started, from a StreamingQueryListener: distinct (run, batch id)
    * pairs whose progress has an addBatch phase (data and no-data
    * batches both do; idle progress events do not). Waits for each
    * query's terminated event: the listener bus delivers a query's
    * events in order, so no progress event is missed. */
  private def withBatchCount[T](body: => T): (T, Int) = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    val started, done = scala.collection.mutable.Set[java.util.UUID]()
    val batches = scala.collection.mutable.Set[(java.util.UUID, Long)]()
    val l = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit =
        synchronized { started += e.runId }
      def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
        if (e.progress.durationMs.containsKey("addBatch"))
          batches += ((e.progress.runId, e.progress.batchId))
      }
      def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        synchronized { done += e.runId }
    }
    spark.streams.addListener(l)
    try {
      val out = body
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (l.synchronized(started.isEmpty || !started.subsetOf(done)) &&
          System.nanoTime() < deadline) Thread.sleep(20)
      assert(l.synchronized(started.nonEmpty && started.subsetOf(done)),
        "streaming query events did not arrive")
      (out, l.synchronized(batches.size))
    } finally spark.streams.removeListener(l)
  }

  private def rowStrings(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("folded sentinel: tumbling/sliding/session/dedup ≡ batch oracles, in the audited micro-batch counts") {
    import org.apache.spark.sql.expressions.Window
    import graft.streaming.Streams
    val ev = graft.sources.Tables(spark, sf, "events")
    val fmt = "yyyy-MM-dd HH:mm:ss"
    val minute = date_trunc("minute", col("ts"))
    // the batch forms of the DuckDB oracles
    val tumbling = ev.groupBy(date_format(minute, fmt).as("wstart"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sval"))
    val sliding = ev.withColumn("i", explode(array(lit(0L), lit(1L))))
      .groupBy(date_format(timestamp_seconds(
          unix_seconds(minute) - col("i") * 60L), fmt).as("wstart"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val gapUs = 5L * 60 * 1000000
    val byUser = Window.partitionBy("user_id").orderBy("us")
    val session = ev.select(col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag("us", 1).over(byUser))
      // strict > : an event at EXACTLY prev + gap merges
      .withColumn("brk", when(col("prev").isNull ||
        col("us") - col("prev") > gapUs, 1L).otherwise(0L))
      .withColumn("sid", sum("brk").over(byUser.rowsBetween(
        Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min("us").as("lo"), max("us").as("hi"), count(lit(1)).as("cnt"))
      .select(col("user_id"),
        date_format(timestamp_micros(col("lo")), fmt).as("s_start"),
        date_format(timestamp_micros(col("hi") + gapUs), fmt).as("s_end"),
        col("cnt"))
    val dedup = ev.select("event_id")
    // 2 data batches (the sentinel rides in the last) + 1 flush batch;
    // dedup's duplicates file is one more data batch
    val cases = Seq(
      ("tumbling", () => Streams.tumbling(spark, sf), tumbling, 3),
      ("sliding", () => Streams.sliding(spark, sf), sliding, 3),
      ("session", () => Streams.session(spark, sf), session, 3),
      ("dedup", () => Streams.dedup(spark, sf), dedup, 4))
    for ((name, stream, batch, wantBatches) <- cases) {
      val (got, n) = withBatchCount(rowStrings(stream()))
      val want = rowStrings(batch)
      assert(want.nonEmpty, s"$name: fixture must produce rows")
      assert(got === want, s"$name: streamed result must equal the batch oracle")
      assert(n === wantBatches, s"$name: micro-batches")
    }
  }

  test("empty events table: tumbling and dedup return an empty result WITH schema") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-emptyevents-")
      .toFile.getAbsolutePath
    Seq.empty[Ev].toDS().write.parquet(s"$dir/events.parquet")
    val tumbling = graft.streaming.Streams.tumbling(spark, dir)
    assert(tumbling.columns.toSeq === Seq("wstart", "event_type", "cnt", "sval"))
    assert(tumbling.count() === 0)
    val dedup = graft.streaming.Streams.dedup(spark, dir)
    assert(dedup.columns.toSeq === Seq("event_id"))
    assert(dedup.count() === 0)
    graft.Fs.rmRf(new java.io.File(dir))
  }
}
