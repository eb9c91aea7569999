package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{Engine, SparkEntry}
import graft.operators.{Dedup, GraphIndex, Graphs, Incremental, Similarity, TextOps}

/** Closed-loop benchmark client. One thread calls an operation, waits for
  * its complete result, then calls the next; the engine is reached only
  * through `Engine.session`, `SparkEntry.queries` and the staged-artifact
  * builders. `run.py` launches one JVM per run and turns `result.json`
  * into metrics.
  *
  * A run: session start; for `artifact_build_serve` the cold build of
  * every artifact family; an untimed warm-up cycle that executes every op
  * of the workload once on the measured corpus (class loading, code
  * generation, input staging and the engine's in-process memos happen
  * here); then whole timed cycles of the same ops, each in a seeded order,
  * until `--seconds` have been spent in operations. Everything before the
  * first timed op is set-up. Each op writes its complete result as
  * parquet to `<out>/results/<op>`, which the oracle check reads back.
  *
  * With `--trace 1` the layer collector is attached for the whole run;
  * the counters come from the timed cycles, the executions the untraced
  * runs time, and the build phase is kept apart.
  *
  * Usage: Harness --workload W --data DIR --seed N --seconds S
  *   --trace 0|1 --out DIR
  */
object Harness {

  /** Artifact families and the public builder that stages each one. */
  val Builds: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "ivf" -> Similarity.stagedIvfIndex,
    "pq" -> Similarity.stagedPqIndex,
    "ivfpq" -> Similarity.stagedIvfpqIndex,
    "lsh" -> Similarity.stagedLshIndex,
    "bq" -> Similarity.stagedBqIndex,
    "winnow" -> TextOps.stagedWinnowIndex,
    "dedup_band" -> Dedup.stagedBandIndex,
    "postings" -> TextOps.stagedPostings,
    "graph" -> GraphIndex.stagedGraph,
    "agg_state" -> Incremental.stagedAggState,
    "index_state" -> Incremental.stagedIndexState)

  val AnnServes: Seq[String] =
    Seq("ivf", "pq", "ivfpq", "lsh", "bq").map(f => s"q_simsearch_${f}_indexed")
  val GraphServes: Seq[String] = Seq("q_kcore", "q_walk_pairs")
  val Appends: Seq[String] = Seq("q_dedup_append", "q_incr_agg", "q_incr_inverted")
  val ServeOps: Seq[String] = AnnServes ++ Seq("q_index_lookup") ++ GraphServes ++ Appends

  /** One query per streaming shape: event-time windows, dedup state and
    * the documents feed. Each costs seconds of fixed per-batch work, so
    * the full streaming catalog does not fit a run. */
  val StreamOps: Seq[String] = Seq("q_stream_tumbling", "q_stream_dedup", "q_stream_wordcount")

  /** The exact top-10 the ANN serves are scored against; run once after
    * the timed window, never timed. */
  val ExactTopK = "q_simsearch"

  final case class Workload(ops: Seq[String], builds: Boolean, untimed: Seq[String] = Nil)

  val Workloads: Map[String, Workload] = Map(
    "artifact_build_serve" -> Workload(ServeOps, builds = true, untimed = Seq(ExactTopK)),
    "stream_replay" -> Workload(StreamOps, builds = false))

  /** One op execution; cycle 0 is the untimed warm-up. */
  final case class Sample(id: Int, name: String, cycle: Int, startNs: Long,
      endNs: Long, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads(opt("workload"))
    val data = new File(opt("data")).getAbsolutePath
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val out = new File(opt("out"))
    val results = new File(out, "results")
    val nproc = Runtime.getRuntime.availableProcessors

    val tSession = System.nanoTime()
    val spark = Engine.session(nproc.toString)
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val sc = spark.sparkContext
    val collector = new Collector(nproc)
    if (trace) {
      sc.addSparkListener(collector)
      spark.listenerManager.register(collector.queries)
      spark.streams.addListener(collector.streams)
    }
    val errors = mutable.LinkedHashMap[String, String]()
    /** Run one op to its complete result, written as parquet: the output
      * the oracle check reads back. */
    def execute(name: String, to: File): Either[Throwable, Unit] =
      try {
        SparkEntry.queries(name)(spark, data).write.mode("overwrite").parquet(to.getPath)
        Right(())
      } catch { case NonFatal(e) => Left(e) }

    // cold build of every artifact family, each through its public builder
    val buildS = mutable.LinkedHashMap[String, Double]()
    if (wl.builds) {
      collector.phase = "build"
      for ((family, build) <- Builds) {
        val t = System.nanoTime()
        try build(spark, data)
        catch { case NonFatal(e) => errors(s"build:$family") = msg(e) }
        buildS(family) = (System.nanoTime() - t) / 1e9
      }
      if (trace) drain(spark)
      collector.phase = ""
    }
    val stagedBytes = if (wl.builds) treeBytes(new File(System.getProperty("java.io.tmpdir"))) else 0L

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    // the old generation: the heap the run retains, not short-lived garbage
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Old"))
    var gc0 = 0L
    val samples = mutable.ArrayBuffer[Sample]()
    val kcoreRounds = mutable.ArrayBuffer[Int]()
    var busyNs = 0L
    var cycle = 0
    var id = 0
    var setupS = 0.0
    while (cycle < 2 || busyNs < seconds * 1e9) {
      if (cycle == 1) {
        // the warm-up is over: the timed window starts here
        setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
        heapPools.foreach(_.resetPeakUsage())
        gc0 = gcBeans.map(_.getCollectionTime).sum
      }
      for (name <- new scala.util.Random(seed * 1000003L + cycle).shuffle(wl.ops)) {
        collector.op = id
        sc.setJobGroup(s"perfbench-op-$id", name, interruptOnCancel = false)
        val t0 = System.nanoTime()
        val res = execute(name, new File(results, name))
        val t1 = System.nanoTime()
        sc.clearJobGroup()
        if (cycle > 0) busyNs += t1 - t0
        samples += Sample(id, name, cycle, t0, t1, res.isRight)
        res.left.foreach(e => errors.getOrElseUpdate(name, msg(e)))
        if (trace) {
          if (cycle > 0 && name == "q_kcore") kcoreRounds += Graphs.lastKcoreRounds
          drain(spark) // every event of this op is attributed before the next starts
        }
        id += 1
      }
      cycle += 1
    }
    val timedCycles = cycle - 1
    val gcS = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1e3
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val peakRssMb = vmHwmMb()
    // what the engine still holds after a full collection (memos, cached
    // artifacts, stored blocks), apart from garbage the collector let pile
    // up. Spark frees shuffles and broadcasts from a cleaner thread once
    // the collector has found them unreachable, hence the second pass.
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    for (name <- wl.untimed)
      execute(name, new File(results, name)).left.foreach(e => errors(name) = msg(e))
    spark.stop()

    val timed = samples.filter(_.cycle > 0).toSeq
    val t00 = timed.head.startNs
    val warmupS = samples.filter(_.cycle == 0).map(s => (s.endNs - s.startNs) / 1e9).sum
    val j = new Json
    j.num("session_start_s", sessionS).num("setup_s", setupS).num("warmup_s", warmupS)
      .num("cycles", timedCycles).num("nproc", nproc).num("peak_rss_mb", peakRssMb)
      .num("retained_heap_mb", retainedMb)
      .obj("build_s", buildS.toSeq)
      .obj("errors", errors.toSeq.map { case (k, v) => k -> Json.str(v) }, raw = true)
      .arr("samples", samples.toSeq.map(s => Json.arr(Seq(Json.str(s.name), s.cycle.toString,
        f"${(s.startNs - t00) / 1e9}%.6f", f"${(s.endNs - t00) / 1e9}%.6f", s.ok.toString))))
    if (trace) {
      j.obj("layers", collector.layers(timed, timedCycles,
        AnnServes.toSet, GraphServes.toSet, Appends.toSet) ++ Seq(
        "engine.session_start_s" -> sessionS,
        "jvm.gc_s" -> gcS / timedCycles,
        "jvm.heap_peak_mb" -> heapPeakMb,
        "graphs.kcore_rounds" -> mean(kcoreRounds.toSeq.map(_.toDouble)),
        "staging.bytes_on_disk" -> stagedBytes.toDouble,
        "staging.build_s" -> buildS.values.sum) ++
        Builds.map { case (f, _) => s"staging.build_s.$f" -> buildS.getOrElse(f, 0.0) })
      Files.writeString(Paths.get(out.getPath, "spans.jsonl"), collector.spans(t00, timed))
    }
    Files.writeString(Paths.get(out.getPath, "result.json"), j.render)
    val checked = (wl.ops ++ wl.untimed).toSet
    Files.writeString(Paths.get(out.getPath, "oracle_sql.json"), Json.obj(
      SparkEntry.oracleSql.toSeq.filter(kv => checked(kv._1)).map { case (k, v) => k -> Json.str(v) }))
    // The engine registers a shutdown-hook thread per scratch directory, and
    // running them all takes tens of seconds. run.py deletes this run's
    // whole java.io.tmpdir, so skip them.
    Runtime.getRuntime.halt(0)
  }

  def msg(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Block until the listener bus has delivered every posted event. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else if (f.isFile) f.length() else 0L
}

/** Minimal JSON writer for the harness output. */
final class Json {
  private val fields = mutable.ArrayBuffer[String]()
  private def add(k: String, v: String): Json = { fields += s"${Json.str(k)}:$v"; this }
  def num(k: String, v: Double): Json = add(k, Json.num(v))
  def obj(k: String, kv: Seq[(String, Any)], raw: Boolean = false): Json =
    add(k, Json.obj(kv.map { case (a, b) => a -> (if (raw) b.toString else Json.num(b.asInstanceOf[Double])) }))
  def arr(k: String, xs: Seq[String]): Json = add(k, Json.arr(xs))
  def render: String = fields.mkString("{", ",", "}")
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
