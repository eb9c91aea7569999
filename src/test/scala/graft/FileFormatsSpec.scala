package graft

import org.apache.spark.sql.functions._
import graft.sources.{FileFormats, Tables}
import graft.operators.TextOps

/** Foreign-format round trips: the staged text/CSV/JSON copy must
  * reproduce the parquet-derived result EXACTLY (bit-identical doubles —
  * the writers emit round-trippable decimal forms) and the staged files
  * must stay splittable (no compression extension). */
class FileFormatsSpec extends SparkSuiteBase {

  test("text round trip: word count over staged .txt equals parquet word count") {
    val fromText = FileFormats.textWordCount(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fromParquet = TextOps.wordCount(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromText === fromParquet)
  }

  test("csv round trip: group-sum over staged CSV equals parquet group-sum") {
    val fromCsv = FileFormats.csvGroupSum(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    val fromParquet = Tables(spark, sf, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    assert(fromCsv === fromParquet)
  }

  test("json round trip: status rollup over staged JSON equals parquet rollup") {
    val fromJson = FileFormats.jsonGroupSum(spark, sf)
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val fromParquet = Tables(spark, sf, "orders")
      .groupBy("o_orderstatus")
      .agg(round(sum("o_totalprice"), 2).as("sum_price"), count(lit(1)).as("cnt"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(fromJson === fromParquet)
  }

  test("xml round trip: supplier rollup over staged XML equals parquet rollup") {
    // s_nationkey is INT in parquet but declared LONG in the XML read
    // schema — normalize through Number for the comparison
    val key = (r: org.apache.spark.sql.Row) => r.get(0).asInstanceOf[Number].longValue
    val fromXml = FileFormats.xmlGroupSum(spark, sf).collect()
      .map(r => key(r) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val fromParquet = Tables(spark, sf, "supplier")
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("cnt"), round(sum("s_acctbal"), 2).as("sum_bal"))
      .collect()
      .map(r => key(r) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(fromXml === fromParquet)
    assert(fromXml.values.map(_._1).sum === Tables(spark, sf, "supplier").count())
  }

  test("orc round trip: brand rollup equals parquet; ORC scan keeps pushdown") {
    import org.apache.spark.sql.functions._
    val got = FileFormats.orcGroupSum(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val want = graft.sources.Tables(spark, sf, "part")
      .groupBy("p_brand")
      .agg(round(sum("p_retailprice"), 2), count(lit(1))).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(got === want && got.nonEmpty)
    // columnar: a filtered read over the staged ORC pushes the predicate
    val orcDir = Artifacts.entries("formatcopy").collectFirst {
      case (Seq(_, "orc"), d: String) => d
    }.get
    val plan = spark.read.orc(orcDir).where(col("p_partkey") === 1L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("p_partkey"),
      s"ORC should accept predicate pushdown:\n$plan")
  }

  test("quarantine: corrupt lines routed to _corrupt_record, good rows parsed intact") {
    val rows = FileFormats.quarantine(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    val events = graft.sources.Tables(spark, sf, "events")
    val nCorrupt = events.where(org.apache.spark.sql.functions.col("event_id") % 97 === 0L).count()
    assert(rows("quarantined")._1 === nCorrupt)
    assert(rows("quarantined")._3 === 0L, "corrupt rows must not leak parsed fields")
    assert(rows("parsed")._1 === events.count() - nCorrupt)
    assert(nCorrupt > 0L, "fixture must exercise the corrupt path")
  }

  test("staged files are uncompressed (splittable) and memoized per fingerprint") {
    // force all three stagings, then inspect the staged directories
    FileFormats.textWordCount(spark, sf).collect()
    FileFormats.csvGroupSum(spark, sf).collect()
    FileFormats.jsonGroupSum(spark, sf).collect()
    // row-format stagings only: the schema-evolution staging ("evolve")
    // shares this memo but is parquet (splittable WITH compression), and
    // the binaryFile staging ("bin") is one whole file per doc (not a
    // Spark-writer part-file layout), so neither rule applies to them
    def rowFmtDirs = Artifacts.entries("formatcopy").collect {
      case (Seq(_, fmt), d: String) if fmt != "evolve" && fmt != "bin" => d
    }.toSet
    val dirs = rowFmtDirs
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val files = new java.io.File(d).listFiles().filter(_.getName.startsWith("part-"))
      assert(files.nonEmpty, s"no part files in $d")
      files.foreach(f => assert(!f.getName.endsWith(".gz") && !f.getName.endsWith(".zst"),
        s"compressed (unsplittable) staged file: ${f.getName}"))
    }
    // memoization: a second call must not re-stage (same resolved path)
    FileFormats.textWordCount(spark, sf).collect()
    assert(rowFmtDirs === dirs)
  }
}
