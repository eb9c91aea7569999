package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{Clustering, Regression, Similarity, TextOps}

/** The artifact registry's contract: one build per key under racing
  * callers, failures not cached, a fresh root per staged build (so a
  * plan built before a rebuild still runs), and clears by kind. */
class ArtifactsSpec extends SparkSuiteBase {

  /** Run `f` on 8 threads released together; their results in order. */
  private def race[A](f: => A): Seq[A] = {
    val pool = Executors.newFixedThreadPool(8)
    val go = new CountDownLatch(1)
    try {
      val fs = (1 to 8).map(_ => pool.submit(new Callable[A] {
        def call(): A = { go.await(); f }
      }))
      go.countDown()
      fs.map(_.get)
    } finally pool.shutdown()
  }

  /** Directories under this JVM's scratch root whose name starts with
    * `prefix`. */
  private def scratchDirs(prefix: String): Set[String] = {
    val root = Engine.workDir("spec-probe-").getParentFile
    root.listFiles().map(_.getName).filter(_.startsWith(prefix)).toSet
  }

  test("single flight: 8 racing callers of one key run the build once") {
    val builds = new AtomicInteger
    try {
      val got = race(Artifacts.memo(Artifacts.Model, "specrace", sf, "documents") {
        builds.incrementAndGet()
        Thread.sleep(200)
        new Object
      })
      assert(builds.get === 1)
      assert(got.forall(_ eq got.head), "every caller gets the one built value")
    } finally Artifacts.clear("specrace")
  }

  test("single flight: a real staged builder called from 8 threads leaves one new root") {
    Artifacts.clear("postings")
    val before = scratchDirs("graft-postings-")
    val got = race(TextOps.stagedPostings(spark, sf))
    val added = scratchDirs("graft-postings-") -- before
    assert(added.size === 1, s"new postings roots: $added")
    assert(got.distinct.size === 1)
    assert(new java.io.File(got.head._1).getName === added.head)
  }

  test("a build that throws is not cached; the next call builds again") {
    var calls = 0
    try {
      intercept[IllegalStateException] {
        Artifacts.memo(Artifacts.Model, "specfail", sf, "documents") {
          calls += 1
          throw new IllegalStateException("boom")
        }
      }
      assert(Artifacts.entries("specfail").isEmpty)
      val v = Artifacts.memo(Artifacts.Model, "specfail", sf, "documents") { calls += 1; 7 }
      assert(v === 7 && calls === 2)
      assert(Artifacts.memo(Artifacts.Model, "specfail", sf, "documents") { calls += 1; 8 } === 7)
      assert(calls === 2, "a successful build is cached")
    } finally Artifacts.clear("specfail")
  }

  test("plans built before clear(Index) and a rebuild still evaluate to the same rows") {
    val ivf = SparkEntry.queries("q_simsearch_ivf_indexed")(spark, sf)
    val bq = SparkEntry.queries("q_simsearch_bq_append")(spark, sf)
    val ivfRoot = Similarity.stagedIvfIndex(spark, sf)._1
    val bqRoot = Similarity.stagedAppendedBqIndex(spark, sf)
    Artifacts.clear(Artifacts.Index)
    val ivf2 = SparkEntry.queries("q_simsearch_ivf_indexed")(spark, sf)
    val bq2 = SparkEntry.queries("q_simsearch_bq_append")(spark, sf)
    assert(Similarity.stagedIvfIndex(spark, sf)._1 !== ivfRoot, "the IVF index was rebuilt")
    assert(Similarity.stagedAppendedBqIndex(spark, sf) !== bqRoot, "the BQ index was rebuilt")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val (ivfOld, bqOld) = (rows(ivf), rows(bq))
    assert(ivfOld.nonEmpty && bqOld.nonEmpty)
    assert(ivfOld.toSet === rows(ivf2).toSet)
    assert(bqOld.toSet === rows(bq2).toSet)
  }

  test("clear by kind: Model and Index entries rebuild, Input entries survive") {
    val fit0 = Regression.fitFixed(spark, sf)
    val pca0 = Clustering.pcaPowerFixed(spark, sf)
    val sums0 = Regression.stagedSumsState(spark, sf)._1
    val dl0 = TextOps.stagedDocLens(spark, sf)._1
    val monthly0 = graft.sources.Sinks.stagedMonthlyOrders(spark, sf)
    Similarity.corpusSize(spark, sf)
    assert(Regression.fitFixed(spark, sf) eq fit0, "a warm call is a memo hit")

    Artifacts.clear(Artifacts.Model)
    val fit1 = Regression.fitFixed(spark, sf)
    val pca1 = Clustering.pcaPowerFixed(spark, sf)
    assert((fit1 ne fit0) && (pca1 ne pca0), "Model entries rebuild")
    assert(fit1.toSeq === fit0.toSeq && pca1.toSeq === pca0.toSeq)
    assert(Regression.stagedSumsState(spark, sf)._1 === sums0, "clear(Model) keeps Index entries")

    Artifacts.clear(Artifacts.Index)
    assert(Regression.stagedSumsState(spark, sf)._1 !== sums0, "Index entries rebuild")
    assert(TextOps.stagedDocLens(spark, sf)._1 !== dl0, "the BM25 doc-length sidecar rebuilds")
    assert(Regression.fitFixed(spark, sf) eq fit1, "clear(Index) keeps Model entries")

    assert(graft.sources.Sinks.stagedMonthlyOrders(spark, sf) === monthly0,
      "Input entries survive both clears")
    assert(Artifacts.entries("corpussize").nonEmpty)
  }
}
