package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.Artifacts
import graft.sources.{Sinks, Tables}

/** Shared scaffolding for staged-artifact builds (the artifacts
  * themselves are memoized by [[graft.Artifacts]]): the arrival policy
  * of the appended forms, the row count it cuts, the on-disk layouts
  * and the one write path the index families stage through. A family
  * supplies its model (if it has one), its row function and its
  * layout; its one-shot and appended artifacts differ only in the
  * [[Arrival]] they are staged under. */
private[graft] object Staging {

  /** The arrival policy of every appended artifact: of a key space of
    * size `n`, keys below the cut are the base and the last ~10% (at
    * least one key) arrive late. */
  def lateCut(n: Long): Long = n - math.max(1L, n / 10)

  /** Row count of `table` under `dir`: one count job per data
    * fingerprint, shared by every builder that sizes or cuts by it. */
  def rows(spark: SparkSession, dir: String, table: String): Long =
    Artifacts.memo(Artifacts.Input, "corpussize", dir, table, table)(
      Tables(spark, dir, table).count())

  /** Which rows of a source a build writes at once. */
  sealed trait Arrival {
    /** The source's slices in write order: the first is staged, each
      * later one appended. */
    def slices(src: DataFrame): Seq[DataFrame]
  }

  /** Every row in one write. */
  case object OneShot extends Arrival {
    def slices(src: DataFrame): Seq[DataFrame] = Seq(src)
  }

  /** Rows whose `id` is below `cut` are the base; the rest arrive late,
    * as one append. */
  final case class Late(id: String, cut: Long) extends Arrival {
    def base: Column = col(id) < cut
    def slices(src: DataFrame): Seq[DataFrame] = Seq(src.where(base), src.where(!base))
  }

  /** [[OneShot]], or for an appended build the late decile of `table`'s
    * dense `id` keys ([[lateCut]] of its row count). */
  def arrival(spark: SparkSession, dir: String, table: String, id: String,
      appended: Boolean): Arrival =
    if (appended) Late(id, lateCut(rows(spark, dir, table))) else OneShot

  /** How a staged artifact lays its rows out on disk. Mode "overwrite"
    * stages the base; "append" lands a delta as ONE file per touched
    * directory, so an append never fans out to (input partitions ×
    * directories) small files. A `compacted` layout folds each
    * directory back to ~one file after an append. */
  sealed trait Layout {
    def compacted: Boolean
    def write(df: DataFrame, path: String, mode: String): Unit
    def compact(spark: SparkSession, path: String): Unit
  }

  /** A directory per value of `by`, rows sorted by `sortBy` within each
    * file ([[Sinks.writePartitioned]]). */
  final case class Partitioned(by: Seq[String], sortBy: Seq[String],
      compacted: Boolean = false) extends Layout {
    def write(df: DataFrame, path: String, mode: String): Unit =
      Sinks.writePartitioned(df, path, by, sortBy, mode = mode)
    def compact(spark: SparkSession, path: String): Unit =
      Sinks.compactPartitioned(spark, path, by, sortBy)
  }

  /** One flat directory, range-partitioned and sorted on `key`, so
    * row-group statistics stay selective for key-ranged reads. */
  final case class Ranged(key: String, compacted: Boolean = false) extends Layout {
    def write(df: DataFrame, path: String, mode: String): Unit =
      (if (mode == "append") df.coalesce(1) else df.repartitionByRange(col(key)))
        .sortWithinPartitions(key)
        .write.mode(mode).parquet(path)
    def compact(spark: SparkSession, path: String): Unit = {
      Sinks.compact(spark, path); ()
    }
  }

  /** Stage `parts` into `root` in `layout`: the first as the base, each
    * later one appended, then the compaction a compacted layout asks
    * for once something was appended. */
  def stage(spark: SparkSession, root: String, layout: Layout,
      parts: Seq[DataFrame]): Unit = {
    layout.write(parts.head, root, "overwrite")
    parts.tail.foreach(layout.write(_, root, "append"))
    if (layout.compacted && parts.size > 1) layout.compact(spark, root)
  }

  /** Dedicated pool for overlapped staged-artifact write jobs (guide
    * §2.6). Each submitted job parks one pool thread for its whole
    * Spark action, so the pool is sized to the job count at the call
    * site — concurrent staged builds each get their own pool and
    * cannot starve one another (they used to share the fixed-size
    * `ExecutionContext.Implicits.global`). Failure semantics: every
    * sibling is DRAINED before the first failure propagates — a build
    * must never abandon its root while background writes are still
    * landing in it — and the pool is always shut down. */
  private[graft] final class JobPool(threads: Int) {
    private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    private val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    private val fs =
      scala.collection.mutable.ArrayBuffer[scala.concurrent.Future[Unit]]()
    private var drained: Option[List[scala.util.Try[Unit]]] = None

    def submit(job: => Unit): Unit =
      synchronized { fs += scala.concurrent.Future(job)(ec) }

    /** Block until every submitted job finished, shut the pool down,
      * rethrow the first failure (in submission order). */
    def await(): Unit = drain().foreach(_.get)

    /** [[await]] without rethrowing — for `finally` blocks on an
      * already-failing path (so a job failure cannot mask the primary
      * exception). Idempotent with await(). */
    def drainQuiet(): Unit = { drain(); () }

    private def drain(): List[scala.util.Try[Unit]] = synchronized {
      drained.getOrElse {
        val rs = fs.toList.map(f => scala.util.Try(
          scala.concurrent.Await.result(
            f, scala.concurrent.duration.Duration.Inf)))
        pool.shutdown()
        drained = Some(rs)
        rs
      }
    }
  }
}
