package graft.operators

/** Shared scaffolding for staged-artifact builds (the artifacts
  * themselves are memoized by [[graft.Artifacts]]). */
private[graft] object Staging {
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
