package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Source/sink surface (SURVEY §2 A1/A7): the reference reads text lines
  * (`/root/reference/test.go:16-25`) and writes text files
  * (`test.go:46-49,66-70`); the engine generalizes to text/CSV/JSON
  * round-trips and partitioned parquet with partition pruning. */
class SourcesSinksSpec extends SparkSuiteBase {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  test("text source: line-oriented record model (A1)") {
    val dir = tmp("graft_text")
    import spark.implicits._
    Seq("a", "b", "a").toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    val back = graft.sources.Tables.textLines(spark, dir)
    assert(back.count() === 3)
    assert(back.groupBy("value").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("a" -> 2L, "b" -> 1L))
  }

  test("csv + json round-trips preserve rows and schema") {
    val docs = graft.sources.Tables(spark, sf, "documents")
      .select("doc_id", "lang", "n_chars")
    val n = docs.count()
    val csvDir = tmp("graft_csv")
    docs.write.mode("overwrite").option("header", "true").csv(csvDir)
    val csvBack = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(csvDir)
    assert(csvBack.count() === n)
    assert(csvBack.columns.toSet === docs.columns.toSet)
    val jsonDir = tmp("graft_json")
    docs.write.mode("overwrite").json(jsonDir)
    assert(spark.read.json(jsonDir).count() === n)
  }

  test("orc round-trip preserves rows, schema and pushes filters") {
    val docs = graft.sources.Tables(spark, sf, "documents")
      .select("doc_id", "lang", "n_chars")
    val dir = tmp("graft_orc")
    docs.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() === docs.count())
    assert(back.schema === docs.schema)
    // columnar source: predicate reaches the ORC scan like parquet
    val plan = back.where(col("doc_id") === 7L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("doc_id"),
      s"plan:\n$plan")
  }

  test("sinks: partitioned+sorted layout and small-file compaction") {
    import graft.sources.Sinks
    val docs = graft.sources.Tables(spark, sf, "documents")
      .select("doc_id", "lang", "n_chars")
    val dir = tmp("graft_sink")
    Sinks.writePartitioned(docs, dir, Seq("lang"), Seq("doc_id"))
    val back = spark.read.parquet(dir)
    assert(back.count() === docs.count())
    // directory layout per partition value
    val langDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("lang=")).map(_.getName).toSet
    val langs = docs.select("lang").distinct().collect().map(_.getString(0))
      .map(l => s"lang=$l").toSet
    assert(langDirs === langs)

    // fragment a copy into many small files, then compact to few
    val frag = tmp("graft_frag")
    docs.repartition(32).write.mode("overwrite").parquet(frag)
    def parts(p: String) = new java.io.File(p).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts(frag) === 32)
    val n = Sinks.compact(spark, frag)
    assert(parts(frag) === n && n < 32)
    assert(spark.read.parquet(frag).count() === docs.count())

    // a partitioned ROOT is refused (flattening would kill pruning);
    // its leaf directories compact fine
    val e = intercept[IllegalArgumentException](Sinks.compact(spark, dir))
    assert(e.getMessage.contains("partition"))
    val leaf = new java.io.File(dir).listFiles()
      .find(_.getName.startsWith("lang=")).get.getAbsolutePath
    val before = spark.read.parquet(leaf).count()
    Sinks.compact(spark, leaf)
    assert(spark.read.parquet(leaf).count() === before)
  }

  test("compactPartitioned: appended partition tree folds to one file per dir, byte-faithful, layout intact") {
    import graft.sources.Sinks
    val docs = graft.sources.Tables(spark, sf, "documents")
      .select("doc_id", "lang", "n_chars")
    val dir = tmp("graft_cpart")
    // base + two appends: every lang dir accretes three files
    Sinks.writePartitioned(docs, dir, Seq("lang"), Seq("doc_id"))
    Sinks.writePartitioned(docs.where(col("doc_id") % 2 === 0), dir, Seq("lang"), Seq("doc_id"), mode = "append")
    Sinks.writePartitioned(docs.where(col("doc_id") % 2 === 1), dir, Seq("lang"), Seq("doc_id"), mode = "append")
    def langDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("lang="))
    def fileCounts = langDirs.map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(fileCounts.max > 1, "appends must accrete files for the test to mean anything")
    val before = spark.read.parquet(dir).groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("doc_id").as("s"), sum("n_chars").as("c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    Sinks.compactPartitioned(spark, dir, Seq("lang"), Seq("doc_id"))
    assert(fileCounts.max === 1, "compact must leave one file per partition dir")
    val after = spark.read.parquet(dir).groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("doc_id").as("s"), sum("n_chars").as("c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(after === before, "compaction must not change the data")
    // no staging residue: the swap cleans its tmp/trash siblings
    assert(!new java.io.File(dir + ".compact-tmp").exists())
    assert(!new java.io.File(dir + ".compact-old").exists())
  }

  test("q_dpp: fact scan carries a dynamicpruning PARTITION filter") {
    val df = graft.sources.Sinks.dppJoin(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic partition pruning subquery on the fact scan:\n$plan")
    // and the pruning is on the PARTITION column, not a data filter
    assert(plan.contains("o_month"), s"pruning should key on o_month:\n$plan")
    // result ≡ statically filtering the same three months
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = graft.sources.Tables(spark, sf, "orders")
      .withColumn("m", date_format(col("o_orderdate"), "yyyy-MM"))
      .where(col("m").isin("1995-01", "1995-02", "1995-03"))
      .groupBy("m").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("schema evolution: pre-evolution rows read the added column as NULL") {
    val rows = graft.sources.FileFormats.schemaEvolution(spark, sf).collect()
    val pre = rows.filter(_.getString(1) == "pre-schema")
    val post = rows.filter(_.getString(1) != "pre-schema")
    assert(pre.nonEmpty && post.nonEmpty, "both schema generations must surface")
    val nOrders = graft.sources.Tables(spark, sf, "orders").count()
    assert(rows.map(_.getLong(2)).sum === nOrders, "no row lost in the evolution read")
  }

  test("q_zorder: declared query equals the same filter over the original layout") {
    val got = graft.sources.Sinks.zorderRead(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    val want = graft.sources.Tables(spark, sf, "lineitem")
      .where(col("l_suppkey") < 10L && col("l_partkey") < 200L)
      .select("l_orderkey", "l_linenumber", "l_suppkey", "l_partkey", "l_quantity")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("z-order bounds BOTH columns' per-file span; a linear sort only one") {
    import graft.sources.Sinks
    // per-file min/max span of `c`, averaged over files, as a fraction
    // of the global span — the quantity parquet row-group skipping
    // feeds on (smaller span ⇒ more predicates can skip the file)
    def avgSpanFrac(dir: String, c: String): Double = {
      val files = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      val spans = files.map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min(col(c)).cast("double"), max(col(c)).cast("double")).head()
        r.getDouble(1) - r.getDouble(0)
      }
      val g = spark.read.parquet(dir)
        .agg(min(col(c)).cast("double"), max(col(c)).cast("double")).head()
      val global = math.max(1.0, g.getDouble(1) - g.getDouble(0))
      spans.sum / spans.length / global
    }
    val base = graft.sources.Tables(spark, sf, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_suppkey", "l_partkey", "l_quantity")
    val zDir = Sinks.stagedZOrderedLineitem(spark, sf)
    val linDir = tmp("graft_linear_sort")
    base.repartitionByRange(16, col("l_suppkey"))
      .sortWithinPartitions("l_suppkey")
      .write.mode("overwrite").parquet(linDir)
    // linear layout: secondary column spans ~the whole domain per file
    assert(avgSpanFrac(linDir, "l_partkey") > 0.8,
      "expected near-global partkey span under a suppkey-only sort")
    // z-order layout: BOTH dimensions bounded well below the global span
    val zSupp = avgSpanFrac(zDir, "l_suppkey")
    val zPart = avgSpanFrac(zDir, "l_partkey")
    assert(zSupp < 0.6, s"suppkey span fraction $zSupp not bounded")
    assert(zPart < 0.6, s"partkey span fraction $zPart not bounded")
  }

  test("OPTIMIZE cycle: raw append degrades per-file span bounds; re-cluster restores them") {
    import graft.sources.Sinks
    // files whose per-file span of `c` covers >90% of the global span —
    // the files row-group skipping can never skip
    def fullSpanFiles(dirPath: String, c: String): Int = {
      val files = new java.io.File(dirPath).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      val g = spark.read.parquet(dirPath)
        .agg(min(col(c)).cast("double"), max(col(c)).cast("double")).head()
      val global = math.max(1.0, g.getDouble(1) - g.getDouble(0))
      files.count { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min(col(c)).cast("double"), max(col(c)).cast("double")).head()
        (r.getDouble(1) - r.getDouble(0)) / global > 0.9
      }
    }
    def results(path: String) = spark.read.parquet(path)
      .where(col("l_suppkey") < 10L && col("l_partkey") < 200L)
      .collect().map(_.toSeq.toList).sortBy(_.toString)
    val reference = graft.sources.Tables(spark, sf, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_suppkey", "l_partkey", "l_quantity")
      .where(col("l_suppkey") < 10L && col("l_partkey") < 200L)
      .collect().map(_.toSeq.toList).sortBy(_.toString)
    val path = tmp("graft_zopt_cycle")
    Sinks.buildAppendedZ(spark, sf, path)
    assert(results(path) === reference, "correctness must survive the raw append")
    val preFull = fullSpanFiles(path, "l_partkey")
    assert(preFull >= 1,
      s"the raw delta file(s) should span ~the whole partkey domain, found $preFull")
    Sinks.optimizeZOrdered(spark, path, "l_suppkey", "l_partkey", 16)
    assert(results(path) === reference, "correctness must survive the re-cluster")
    val postFull = fullSpanFiles(path, "l_partkey")
    assert(postFull < preFull,
      s"re-clustering must shrink the unskippable file set: $preFull -> $postFull")
  }

  test("q_partition_prune: declared query equals direct filter, prunes at listing") {
    import graft.sources.Sinks
    val got = Sinks.partitionPruned(spark, sf, month = "1995-03")
    // partition filter in the plan — pruning is a file-listing operation,
    // and the month predicate must NOT appear as a pushed data filter
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("o_month"),
      s"plan:\n$plan")
    val want = graft.sources.Tables(spark, sf, "orders")
      .where(date_format(col("o_orderdate"), "yyyy-MM") === "1995-03")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val gotSet = got.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotSet === want)
    assert(got.select("o_month").distinct().collect().map(_.getString(0)).toSeq
      === Seq("1995-03"))
  }

  test("partitioned parquet write prunes partitions at read (scale path)") {
    val dir = tmp("graft_part")
    graft.sources.Tables(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
    val back = spark.read.parquet(dir).where(col("l_returnflag") === "R")
    val plan = back.queryExecution.executedPlan.toString
    // partition filter, not a data filter: pruning happens at file listing
    assert(plan.contains("PartitionFilters") && plan.contains("l_returnflag"),
      s"plan:\n$plan")
    val want = graft.sources.Tables(spark, sf, "lineitem")
      .where(col("l_returnflag") === "R").count()
    assert(back.count() === want)
  }

  test("dynamic partition overwrite touches ONLY the republished partition's files") {
    import org.apache.spark.sql.functions._
    val dir = tmp("graft_republish")
    val withMonth = graft.sources.Tables(spark, sf, "orders")
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
    graft.sources.Sinks.writePartitioned(withMonth, dir, Seq("o_month"), Seq("o_orderkey"))
    def fileSet(): Map[String, Set[String]] =
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("o_month="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    val before = fileSet()
    val target = before.keys.head
    val month = target.stripPrefix("o_month=")
    graft.sources.Sinks.overwritePartitionsDynamic(
      withMonth.where(col("o_month") === month)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0),
      dir, "o_month")
    val after = fileSet()
    assert(after.keySet === before.keySet, "no partition directory added/lost")
    assert(after(target) !== before(target), "republished partition must have new files")
    (before.keySet - target).foreach { p =>
      assert(after(p) === before(p), s"untouched partition $p was rewritten")
    }
    // values: republished month corrected, one other month unchanged
    val back = spark.read.parquet(dir)
    val wantTarget = withMonth.where(col("o_month") === month)
      .agg(round(sum(col("o_totalprice") + 1000.0), 2)).head().getDouble(0)
    val gotTarget = back.where(col("o_month") === month)
      .agg(round(sum("o_totalprice"), 2)).head().getDouble(0)
    assert(gotTarget === wantTarget)
  }

  test("compactRead: shattered layout collapses to few files, data byte-faithful") {
    val staged = graft.sources.Sinks.stagedCompactedDocuments(spark, sf)
    val files = Option(new java.io.File(staged).listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
    assert(files >= 1 && files <= 4,
      s"64 staged files should compact to ~1, got $files")
    val got = graft.sources.Sinks.compactRead(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    val want = graft.sources.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(encode(col("text"), "UTF-8")).as("digest"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    assert(got === want)
  }

  test("binaryFile ingest: per-doc files round-trip byte-identical (md5 + length)") {
    val got = graft.sources.FileFormats.binaryChecksums(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val want = graft.sources.Tables(spark, sf, "documents")
      .select(col("doc_id"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
        md5(encode(col("text"), "UTF-8")).as("md5"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }
}
