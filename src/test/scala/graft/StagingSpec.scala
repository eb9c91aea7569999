package graft

import org.apache.spark.sql.functions.col

import graft.operators.{Similarity, Staging, TextOps}

/** The one staging path: the arrival cut, and for every data-independent
  * index family an appended artifact that holds exactly the one-shot
  * artifact's rows (the same multiset, not just the rows the search
  * specs happen to probe). */
class StagingSpec extends SparkSuiteBase {

  private val sf01 = "/root/testdata/sf0.01"

  test("lateCut: the last ~10% of keys arrive late, at least one, without overflow") {
    assert(Staging.lateCut(1L) === 0L)
    assert(Staging.lateCut(9L) === 8L)
    assert(Staging.lateCut(10L) === 9L)
    assert(Staging.lateCut(11L) === 10L)
    assert(Staging.lateCut(Long.MaxValue) === 8301034833169298227L)
  }

  /** (family, one-shot root, appended root). */
  private val families: Seq[(String, () => String, () => String)] = Seq(
    ("lsh", () => Similarity.stagedLshIndex(spark, sf01)._1,
      () => Similarity.stagedAppendedLshIndex(spark, sf01)._1),
    ("bq", () => Similarity.stagedBqIndex(spark, sf01),
      () => Similarity.stagedAppendedBqIndex(spark, sf01)),
    ("winnow", () => TextOps.stagedWinnowIndex(spark, sf01),
      () => TextOps.stagedAppendedWinnowIndex(spark, sf01)),
    ("postings", () => TextOps.stagedPostings(spark, sf01)._1,
      () => TextOps.stagedAppendedPostings(spark, sf01)._1),
    ("bm25 doc-lengths", () => TextOps.stagedDocLens(spark, sf01)._1,
      () => TextOps.stagedAppendedDocLens(spark, sf01)._1))

  for ((family, oneShot, appended) <- families)
    test(s"appended $family artifact holds the one-shot artifact's row multiset (sf0.01)") {
      def read(root: String) = {
        val df = spark.read.parquet(root)
        df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
      }
      val (a, b) = (read(oneShot()), read(appended()))
      assert(a.columns.toSeq === b.columns.toSeq)
      val n = a.count()
      assert(n > 0, s"empty $family artifact")
      assert(b.count() === n)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$family: appended rows differ from the one-shot rows")
    }
}
