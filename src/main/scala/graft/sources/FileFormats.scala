package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Non-parquet source formats: line-oriented text, CSV, JSON.
  *
  * The reference engine's ONLY input format is line-oriented text files
  * (`/root/reference/test.go:16-25` — one record per line, fed to the
  * mapper); CSV/JSON are the interchange formats every real pipeline
  * ingests before it ever has parquet. Each declared query here stages a
  * copy of a parquet table in the foreign format (memoized per data
  * fingerprint, like the bucketed/partitioned catalogs), reads it back
  * through the format's own reader, and runs an aggregation whose oracle
  * is the ORIGINAL parquet table — so the round trip (write → read →
  * compute) is what's being verified, not just the reader.
  *
  * Scale notes: all three readers are splittable as staged here
  * (uncompressed text/CSV/JSON split by HDFS block; a gzip'd file would
  * NOT split — one task per file, the classic ingest bottleneck) and all
  * are schema-explicit on read: `inferSchema`/schema inference reads the
  * data TWICE (a full extra pass at 100 TB) and can mis-type columns on
  * dirty data, so the engine always passes an explicit `StructType`.
  * Column pruning still applies (the parsers skip unrequested fields);
  * predicate pushdown does not (row formats have no statistics) — which
  * is exactly why `Pipeline`-style jobs land parquet first and why these
  * sources exist at the EDGE of the engine, not the middle.
  */
object FileFormats {

  private def staged(dir: String, table: String, fmt: String)
                    (write: java.io.File => Unit): String =
    graft.Artifacts.memo(graft.Artifacts.Input, "formatcopy", dir, table, table, fmt) {
      val root = new java.io.File(graft.Engine.workDir(s"graft-$fmt-"), s"${table}_$fmt")
      write(root)
      root.getAbsolutePath
    }

  /** q_source_text: the reference's flagship workload on the reference's
    * native format — word count over LINE-ORIENTED TEXT FILES
    * (`/root/reference/test.go:13-71`), not parquet. The documents table
    * is staged as plain `.txt` (one document per line — document texts
    * are single-line by construction, asserted at stage time) and read
    * back with `spark.read.text`, so the tokenizer consumes exactly what
    * a file-based corpus drop would contain. Oracle: the same word count
    * over the parquet `documents` table — the round trip must preserve
    * the token multiset exactly. */
  def textWordCount(spark: SparkSession, dir: String): DataFrame = {
    val path = staged(dir, "documents", "txt") { root =>
      val docs = Tables(spark, dir, "documents")
      // a text with an embedded newline would silently become two records
      val broken = docs.where(col("text").contains("\n") || col("text").contains("\r")).count()
      require(broken == 0L, s"$broken document(s) contain newlines; text staging would split them")
      docs.select("text").write.mode("overwrite").text(root.getAbsolutePath)
    }
    graft.operators.TextOps.wordCount(
      Tables.textLines(spark, path).select(col("value").as("text")))
  }

  /** q_source_csv: lineitem's quantity rollup through a CSV round trip.
    * Doubles survive exactly: Spark's CSV writer emits the shortest
    * decimal form that parses back to the same IEEE-754 bits (Java
    * `Double.toString` contract), and the reader parses with standard
    * semantics — so sums over the read-back frame are bit-identical to
    * sums over parquet. Schema is explicit (see object doc). */
  def csvGroupSum(spark: SparkSession, dir: String): DataFrame = {
    val path = staged(dir, "lineitem", "csv") { root =>
      Tables(spark, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus")
        .write.mode("overwrite").option("header", "true").csv(root.getAbsolutePath)
    }
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_linenumber", LongType),
      StructField("l_quantity", DoubleType), StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType)))
    spark.read.schema(schema).option("header", "true").csv(path)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("cnt"))
  }

  /** q_source_json: orders' status rollup through a JSON-lines round
    * trip (one object per line — the splittable layout; a single
    * top-level array would parse in one task). Explicit schema on read;
    * doubles round-trip exactly as in CSV. */
  def jsonGroupSum(spark: SparkSession, dir: String): DataFrame = {
    val path = staged(dir, "orders", "json") { root =>
      Tables(spark, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .write.mode("overwrite").json(root.getAbsolutePath)
    }
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_totalprice", DoubleType), StructField("o_orderstatus", StringType)))
    spark.read.schema(schema).json(path)
      .groupBy("o_orderstatus")
      .agg(round(sum("o_totalprice"), 2).as("sum_price"), count(lit(1)).as("cnt"))
  }

  /** q_source_orc: the part table's brand rollup through an ORC round
    * trip — the OTHER columnar format (the Hive-lineage counterpart of
    * parquet). Unlike the row formats above, ORC keeps column pruning
    * AND predicate pushdown (stripe/row-group min-max statistics), so
    * it is a first-class lake format, not just an ingest edge; the
    * engine reads it with the same declarative scan and Catalyst
    * treatment as parquet. Doubles round-trip bit-exactly (columnar
    * binary encoding, no decimal re-parse at all). */
  def orcGroupSum(spark: SparkSession, dir: String): DataFrame = {
    val path = staged(dir, "part", "orc") { root =>
      Tables(spark, dir, "part")
        .select("p_partkey", "p_brand", "p_retailprice")
        .write.mode("overwrite").orc(root.getAbsolutePath)
    }
    spark.read.orc(path)
      .groupBy("p_brand")
      .agg(round(sum("p_retailprice"), 2).as("sum_price"),
        count(lit(1)).as("cnt"))
  }

  /** q_quarantine: corrupt-record QUARANTINE — the data-quality gate of
    * every real ingest: a feed where some lines are malformed must
    * neither crash the job (FAILFAST) nor silently drop rows
    * (DROPMALFORMED), but route bad records to a side channel for
    * inspection/replay. Events are staged as JSON-lines with every
    * (event_id % 97 == 0) line deliberately truncated mid-object; the
    * PERMISSIVE reader parses good lines against the explicit schema
    * and lands each bad line's RAW TEXT in `_corrupt_record`. The
    * declared result audits both sides — parsed-row aggregate + corrupt
    * count — and its oracle derives the same split from the ORIGINAL
    * parquet table by the corruption rule, so "quarantined exactly the
    * broken lines, parsed everything else intact" is hash-verified.
    * Per-row parse, embarrassingly parallel; the quarantine column adds
    * no shuffle. */
  def quarantine(spark: SparkSession, dir: String): DataFrame = {
    val path = staged(dir, "events", "quarantine") { root =>
      Tables(spark, dir, "events")
        .select(when(col("event_id") % 97 === 0L,
            concat(lit("{\"event_id\":"), col("event_id"), lit(",OOPS")))
          .otherwise(to_json(struct(col("event_id"), col("user_id"), col("value"))))
          .as("value"))
        .write.mode("overwrite").text(root.getAbsolutePath)
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("value", DoubleType), StructField("_corrupt_record", StringType)))
    val parsed = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
    parsed
      .select(when(col("_corrupt_record").isNull, "parsed")
          .otherwise("quarantined").as("state"),
        col("user_id"), col("value"))
      .groupBy("state")
      .agg(count(lit(1)).as("cnt"),
        coalesce(round(sum("value"), 2), lit(0.0)).as("sum_v"),
        countDistinct("user_id").as("n_users"))
  }

  /** q_schema_evolution: ADDITIVE schema evolution across parquet
    * batches — the long-lived-pipeline reality that table layouts grow
    * columns over time and history is never rewritten. Orders are staged
    * as two generations under one root: v1 (even orderkeys) without
    * `o_orderpriority`, v2 (odd orderkeys) with it. Reading the root
    * with `mergeSchema` unions the schemas; v1 rows surface the new
    * column as NULL, normalized here via coalesce to a sentinel. The
    * aggregation's oracle is the ORIGINAL table with the same
    * even/odd-conditional priority — so the evolution semantics (old
    * rows really read as NULL, new rows keep their values) are
    * hash-verified, not just "it didn't crash". Scale notes: additive
    * evolution is free at read time (a missing column materializes as
    * NULL per row group, no data rewrite), but `mergeSchema` reconciles
    * FOOTERS of all files — a metadata pass a 100 TB lake amortizes by
    * recording the merged schema once in a catalog/metastore and pinning
    * `spark.read.schema(...)`; the per-file NULL-fill mechanism this
    * query verifies is the same either way. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val path = staged(dir, "orders", "evolve") { root =>
      val o = Tables(spark, dir, "orders")
      o.where(col("o_orderkey") % 2 === 0L)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite").parquet(new java.io.File(root, "v1").getAbsolutePath)
      o.where(col("o_orderkey") % 2 =!= 0L)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").parquet(new java.io.File(root, "v2").getAbsolutePath)
    }
    spark.read.option("mergeSchema", "true")
      .parquet(s"$path/v1", s"$path/v2")
      .groupBy(col("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("pre-schema")).as("prio"))
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("sum_price"))
  }

  /** q_source_xml: the supplier rollup through an XML round trip —
    * Spark 4 ships the (formerly spark-xml) XML source built in:
    * `write.xml` emits one `<row>` element per record under a root tag,
    * `read.xml(rowTag)` parses them back against an EXPLICIT schema
    * (same inference rule as CSV/JSON: never infer — an extra full pass
    * and type drift on dirty data). The reader is splittable on the row
    * tag like the other row formats staged uncompressed. Doubles
    * round-trip exactly for the same reason as CSV (shortest-form
    * decimal emit, standard parse). XML is the slowest row format per
    * byte (tag overhead + full parse) — it lives at the ingest EDGE
    * (B2B feeds, legacy exports), never mid-pipeline. */
  def xmlGroupSum(spark: SparkSession, dir: String): DataFrame = {
    val path = staged(dir, "supplier", "xml") { root =>
      Tables(spark, dir, "supplier")
        .select("s_suppkey", "s_nationkey", "s_acctbal")
        .write.mode("overwrite").option("rowTag", "row")
        .xml(root.getAbsolutePath)
    }
    val schema = StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_nationkey", LongType),
      StructField("s_acctbal", DoubleType)))
    spark.read.schema(schema).option("rowTag", "row").xml(path)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("cnt"), round(sum("s_acctbal"), 2).as("sum_bal"))
  }

  /** q_source_binary: whole-file BINARY ingest — the multimodal
    * entrance (`spark.read.format("binaryFile")`), how images / audio /
    * PDFs actually arrive before anything has schema: one row per FILE
    * with (path, length, content: binary). Documents are staged as one
    * `<doc_id>.bin` file each (UTF-8 bytes of the text, written by a
    * foreachPartition — no driver funnel). NOTE the staging is
    * local-mode-only: executors write `java.io.File`s under a
    * driver-chosen path, which lands on one filesystem only because
    * driver and executors share this host. A distributed deployment
    * stages media through a Spark writer or onto a shared filesystem
    * (HDFS/S3) instead — the READ side (binaryFile) is unchanged
    * there. Files are read back whole-file, the doc id recovered from
    * the file name, and each content checksummed. The oracle computes byte length + MD5 from
    * the ORIGINAL table's text, so the round trip proves BYTE
    * fidelity, not just row counts — exactly the ingest contract
    * `operators.Multimodal` builds on (its payloads are these binary
    * columns).
    *
    * Scale notes: binaryFile is NOT splittable (a file is one row —
    * fine: media files are the unit of work) and caps file size at
    * `spark.sql.sources.binaryFile.maxLength`; the many-small-files
    * regime staged here is deliberately the pathological one —
    * `Sinks.compact` is this engine's answer once payloads are in a
    * table. Filters on (path, length, modificationTime) push down to
    * file listing; `content` is only materialized for selected rows. */
  def binaryChecksums(spark: SparkSession, dir: String): DataFrame = {
    val path = staged(dir, "documents", "bin") { root =>
      root.mkdirs()
      val target = root.getAbsolutePath
      Tables(spark, dir, "documents").select("doc_id", "text")
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          rows.foreach { r =>
            val f = new java.io.File(target, s"${r.getLong(0)}.bin")
            val out = new java.io.FileOutputStream(f)
            try out.write(r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            finally out.close()
          }
        }
    }
    spark.read.format("binaryFile").load(path)
      .select(
        regexp_extract(col("path"), "([0-9]+)\\.bin$", 1).cast(LongType).as("doc_id"),
        col("length").as("n_bytes"),
        md5(col("content")).as("md5"))
  }
}
