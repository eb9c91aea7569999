package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.operators.Graphs

/** Job-count guard for the iterative serves: every Spark job is one
  * scheduling barrier (tens of ms on a small host), so a serve's cost
  * floor is its job count. Counted with a `SparkListener` around one
  * warm serve written as parquet — the way a client consumes it. */
class ServeJobsSpec extends SparkSuiteBase {

  /** Jobs started while `name` is served warm and written out. */
  private def servedJobs(name: String): Int = {
    val out = java.nio.file.Files.createTempDirectory("graft-servejobs").toFile
    def serve(): Unit = SparkEntry.queries(name)(spark, sf)
      .write.mode("overwrite").parquet(out.getPath)
    val jobs = new AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    try {
      serve() // builds the staged artifacts the serve reads
      Thread.sleep(1000) // the listener bus is async: drain the warm-up's events
      spark.sparkContext.addSparkListener(listener)
      try {
        serve()
        Thread.sleep(1000)
      } finally spark.sparkContext.removeSparkListener(listener)
      jobs.get()
    } finally Fs.rmRf(out)
  }

  test("catalog q_kcore serves in at most 2 jobs per peel round + 4") {
    val n = servedJobs("q_kcore")
    info(s"q_kcore: $n jobs")
    assert(n <= 2 * Graphs.KcoreRounds + 4, s"q_kcore ran $n jobs")
  }

  test("q_dedup_append serves in at most 24 jobs") {
    val n = servedJobs("q_dedup_append")
    info(s"q_dedup_append: $n jobs")
    assert(n <= 24, s"q_dedup_append ran $n jobs")
  }
}
