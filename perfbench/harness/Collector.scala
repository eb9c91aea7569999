package graft.perfbench

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanLike, InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters gathered from outside the engine, through Spark's
  * public listener APIs. Every event is charged to one key: the op id
  * from the job group the harness sets (`perfbench-op-<id>`), else the op
  * running when the event is delivered — the harness drains the listener
  * bus after each op of a traced run, so jobs started on other threads (streaming
  * micro-batches, staged-build pools) land on the right op. Key -1 is the
  * artifact build phase.
  */
final class Collector(nproc: Int) extends SparkListener {
  @volatile var op: Int = -1
  @volatile var phase: String = ""
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()

  final class Acc {
    var jobs, stages, tasks = 0L
    var cpuNs, runMs, gcMs, inBytes, inRows, outBytes = 0L
    var shReadBytes, fetchWaitMs, shWriteBytes, shWriteRecs, spillBytes = 0L
    var planMs, scans, files, exchanges, wscgNodes, planNodes = 0L
    var partsRead, partsTotal, scanRows = 0L
    var skew = 0.0
    val jobSpans = mutable.ArrayBuffer[(Int, Long, Long)]()
    var queries, batches = 0L
    var startupMs, triggerMs, addBatchMs, getBatchMs, latestOffsetMs = 0L
    var planningMs, walMs, commitMs, stateCommitMs, dropped = 0L
    val stateRows = mutable.Map[String, Long]()
    val stateMem = mutable.Map[String, Long]()
    val batchSpans = mutable.ArrayBuffer[(String, Long, Long)]()
  }

  private val accs = mutable.Map[Int, Acc]()
  private def acc(key: Int): Acc = synchronized(accs.getOrElseUpdate(key, new Acc))
  private def current: Int = if (phase == "build") -1 else op

  private val stageKey = mutable.Map[Int, Int]()
  private val jobStart = mutable.Map[Int, (Int, Long)]()
  private val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val key = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("perfbench-op-")).map(_.stripPrefix("perfbench-op-").toInt)
      .filter(_ => phase != "build").getOrElse(current)
    jobStart(e.jobId) = (key, e.time)
    e.stageIds.foreach(stageKey(_) = key)
    acc(key).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (key, t0) => acc(key).jobSpans += ((e.jobId, t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null) taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val a = acc(stageKey.getOrElse(si.stageId, current))
    a.stages += 1
    a.tasks += si.numTasks
    taskMs.remove(si.stageId).filter(_.size >= 2).foreach { ds =>
      val sorted = ds.sorted
      val med = sorted(sorted.size / 2)
      if (med > 0) a.skew = math.max(a.skew, sorted.last.toDouble / med)
    }
    val m = si.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.inBytes += m.inputMetrics.bytesRead
      a.inRows += m.inputMetrics.recordsRead
      a.outBytes += m.outputMetrics.bytesWritten
      a.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shWriteRecs += m.shuffleWriteMetrics.recordsWritten
      a.spillBytes += m.diskBytesSpilled
    }
  }

  /** Plan-level counters of every action: planning phases, scans,
    * exchanges, and the share of operators compiled by whole-stage codegen. */
  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Collector.this.synchronized {
        val a = acc(current)
        a.planMs += Seq("analysis", "optimization", "planning")
          .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
        val all = Collector.nodes(qe.executedPlan)
        all.foreach {
          case s: FileSourceScanLike =>
            def metric(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
            a.scans += 1
            a.files += metric("numFiles")
            a.scanRows += metric("numOutputRows")
            if (s.relation.partitionSchema.nonEmpty) s.relation.location match {
              case idx: PartitioningAwareFileIndex =>
                a.partsRead += metric("numPartitions")
                a.partsTotal += idx.partitionSpec().partitions.size
              case _ =>
            }
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => a.exchanges += 1
          case w: WholeStageCodegenExec => a.wscgNodes += Collector.codegenned(w.child)
          case _ =>
        }
        a.planNodes += all.count {
          case _: WholeStageCodegenExec | _: InputAdapter => false
          case _ => true
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Micro-batch counters of every streaming query. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    private val started = mutable.Map[String, Long]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Collector.this.synchronized {
        started(e.runId.toString) = Instant.parse(e.timestamp).toEpochMilli
        acc(current).queries += 1
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Collector.this.synchronized {
        val p = e.progress
        val a = acc(current)
        val run = p.runId.toString
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
        val t0 = Instant.parse(p.timestamp).toEpochMilli
        started.remove(run).foreach(s => a.startupMs += t0 - s)
        a.batches += 1
        a.triggerMs += d("triggerExecution")
        a.addBatchMs += d("addBatch")
        a.getBatchMs += d("getBatch")
        a.latestOffsetMs += d("latestOffset")
        a.planningMs += d("queryPlanning")
        a.walMs += d("walCommit")
        a.commitMs += d("commitOffsets")
        val ops = p.stateOperators.toSeq
        a.stateCommitMs += ops.map(_.commitTimeMs).sum
        a.dropped += ops.map(_.numRowsDroppedByWatermark).sum
        a.stateRows(run) = ops.map(_.numRowsTotal).sum
        a.stateMem(run) = ops.map(_.memoryUsedBytes).sum
        a.batchSpans += ((s"${p.name}#${p.batchId}", t0, t0 + d("triggerExecution")))
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def wallMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  /** Layer metrics over the timed op samples: work counters per pass
    * (one execution of every op), times and ratios per op. */
  def layers(timed: Seq[Harness.Sample], passes: Int, ann: Set[String],
      graph: Set[String], appends: Set[String]): Seq[(String, Double)] = synchronized {
    val byOp = timed.map(s => s -> accs.getOrElse(s.id, new Acc))
    val as = byOp.map(_._2)
    val n = math.max(timed.size, 1).toDouble
    val pass = math.max(passes, 1).toDouble
    def total(f: Acc => Long, which: Seq[Acc] = as): Double = which.map(f).sum.toDouble
    def of(names: Set[String]) = byOp.collect { case (s, a) if names(s.name) => a }
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val wallS = timed.map(s => (s.endNs - s.startNs) / 1e9)
    val selfS = byOp.map { case (s, a) =>
      val (lo, hi) = (wallMs(s.startNs), wallMs(s.endNs))
      val spans = a.jobSpans.map { case (_, b, e) => (math.max(b.toDouble, lo), math.min(e.toDouble, hi)) }
        .filter { case (b, e) => e > b }.sortBy(_._1)
      var covered = 0.0
      var reach = lo
      spans.foreach { case (b, e) =>
        if (e > reach) { covered += e - math.max(b, reach); reach = e }
      }
      ((hi - lo) - covered) / 1e3
    }
    val skews = as.map(_.skew).filter(_ > 0).sorted
    val q = total(_.queries)
    val build = accs.getOrElse(-1, new Acc)
    Seq(
      "engine.plan_s" -> total(_.planMs) / 1e3 / n,
      "engine.driver_self_s" -> selfS.sum / n,
      "engine.jobs_per_op" -> total(_.jobs) / n,
      "engine.stages_per_op" -> total(_.stages) / n,
      "engine.wscg_coverage" -> ratio(total(_.wscgNodes), total(_.planNodes)),
      "sources.input_bytes" -> total(_.inBytes) / pass,
      "sources.input_rows" -> total(_.inRows) / pass,
      "sources.files_read" -> total(_.files) / pass,
      "sources.scans_per_op" -> total(_.scans) / n,
      "operators.cpu_s" -> total(_.cpuNs) / 1e9 / pass,
      "operators.run_s" -> total(_.runMs) / 1e3 / pass,
      "operators.gc_s" -> total(_.gcMs) / 1e3 / pass,
      "operators.tasks" -> total(_.tasks) / pass,
      "operators.exchange_count" -> total(_.exchanges) / pass,
      "operators.shuffle_write_bytes" -> total(_.shWriteBytes) / pass,
      "operators.shuffle_read_bytes" -> total(_.shReadBytes) / pass,
      "operators.shuffle_records" -> total(_.shWriteRecs) / pass,
      "operators.fetch_wait_s" -> total(_.fetchWaitMs) / 1e3 / pass,
      "operators.spill_bytes" -> total(_.spillBytes) / pass,
      "operators.slot_busy_frac" -> ratio(total(_.runMs) / 1e3, wallS.sum * nproc),
      "operators.task_skew" -> (if (skews.isEmpty) 0.0 else skews(skews.size / 2)),
      "staging.bytes_written" -> build.outBytes.toDouble,
      "staging.jobs" -> build.jobs.toDouble,
      "similarity.partitions_read_frac" ->
        ratio(total(_.partsRead, of(ann)), total(_.partsTotal, of(ann))),
      "similarity.rows_scanned" -> total(_.scanRows, of(ann)) / pass,
      "graphs.jobs_per_serve" -> ratio(total(_.jobs, of(graph)), of(graph).size),
      "append.input_bytes" -> total(_.inBytes, of(appends)) / pass,
      "append.bytes_written" -> total(_.outBytes, of(appends)) / pass,
      "streams.batches_per_query" -> ratio(total(_.batches), q),
      "streams.startup_s" -> ratio(total(_.startupMs) / 1e3, q),
      "streams.trigger_s" -> ratio(total(_.triggerMs) / 1e3, q),
      "streams.add_batch_s" -> ratio(total(_.addBatchMs) / 1e3, q),
      "streams.get_batch_s" -> ratio(total(_.getBatchMs) / 1e3, q),
      "streams.latest_offset_s" -> ratio(total(_.latestOffsetMs) / 1e3, q),
      "streams.query_planning_s" -> ratio(total(_.planningMs) / 1e3, q),
      "streams.wal_commit_s" -> ratio(total(_.walMs) / 1e3, q),
      "streams.commit_offsets_s" -> ratio(total(_.commitMs) / 1e3, q),
      "streams.state_rows" -> ratio(as.map(_.stateRows.values.sum).sum.toDouble, q),
      "streams.state_mem_bytes" -> ratio(as.map(_.stateMem.values.sum).sum.toDouble, q),
      "streams.state_commit_s" -> ratio(total(_.stateCommitMs) / 1e3, q),
      "streams.rows_dropped_by_watermark" -> ratio(total(_.dropped), q))
  }

  /** One JSON span per line: every timed op, its Spark jobs and its
    * streaming micro-batches, in seconds from the first timed op. */
  def spans(t00: Long, samples: Seq[Harness.Sample]): String = synchronized {
    val base = wallMs(t00)
    def sec(ms: Double) = f"${(ms - base) / 1e3}%.6f"
    def span(name: String, start: String, end: String, parent: String, op: Int) =
      Json.obj(Seq("name" -> Json.str(name), "start" -> start, "end" -> end,
        "parent" -> parent, "op" -> op.toString))
    val out = new StringBuilder
    samples.foreach { s =>
      val opSpan = s"op-${s.id}"
      out ++= span(s.name, sec(wallMs(s.startNs)), sec(wallMs(s.endNs)), "null", s.id) += '\n'
      accs.get(s.id).foreach { a =>
        a.jobSpans.foreach { case (j, b, e) =>
          out ++= span(s"job-$j", sec(b.toDouble), sec(e.toDouble), Json.str(opSpan), s.id) += '\n'
        }
        a.batchSpans.foreach { case (name, b, e) =>
          out ++= span(s"batch-$name", sec(b.toDouble), sec(e.toDouble), Json.str(opSpan), s.id) += '\n'
        }
      }
    }
    out.toString
  }
}

object Collector {
  /** Every node of an executed plan, through adaptive wrappers, query
    * stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Operators compiled into one whole-stage-codegen function. */
  def codegenned(p: SparkPlan): Long = p match {
    case _: InputAdapter => 0L
    case other => 1L + other.children.map(codegenned).sum
  }
}
