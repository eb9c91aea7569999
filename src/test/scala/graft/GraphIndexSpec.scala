package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The staged co-purchase graph artifact (round 13): every table the
  * catalog graph queries serve must be bit-identical to the inline
  * lineitem derivation it replaced — longs and long arrays round-trip
  * parquet exactly, so staged ≡ live is an identity, pinned here
  * against fresh inline derivations (not against the staged tables
  * themselves). */
class GraphIndexSpec extends SparkSuiteBase {
  import graft.operators.{GraphIndex, Graphs}

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  private def li = graft.sources.Tables(spark, sf, "lineitem")

  test("artifact layout: all staged graph tables exist under one root") {
    val root = GraphIndex.stagedGraph(spark, sf)
    for (t <- Seq("op", "proj", "stats", "proja", "projadj", "bip", "bipd",
        "bipw", "sp", "walks"))
      assert(new java.io.File(root, t).isDirectory, s"missing staged table $t")
  }

  test("staged bip/proj/sp edge sets ≡ inline lineitem derivations") {
    val fwd = li.select((col("l_partkey") * 2).cast("long").as("src"),
      (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
    val bipInline = fwd.unionAll(
      fwd.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    assert(rows(GraphIndex.bip(spark, sf)) === rows(bipInline))

    val lp = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    val projInline = lp.select(col("ok"), col("p").as("u"))
      .join(lp.select(col("ok"), col("p").as("v")), "ok")
      .where(col("u") < col("v")).select("u", "v").distinct()
    assert(rows(GraphIndex.proj(spark, sf)) === rows(projInline))

    val spInline = li.select(col("l_suppkey").as("src"),
      col("l_partkey").as("dst")).distinct()
    assert(rows(GraphIndex.supPart(spark, sf)) === rows(spInline))
  }

  test("bucketed bipd/proja ≡ their inline derivations (row identity)") {
    val bip = GraphIndex.bip(spark, sf)
    val bipdInline = bip.join(
      bip.groupBy("src").agg(count(lit(1)).as("d")), "src")
      .select("src", "dst", "d")
    assert(rows(GraphIndex.bipDegreed(spark, sf).select("src", "dst", "d"))
      === rows(bipdInline))
    val proj = GraphIndex.proj(spark, sf)
    val projaInline = proj.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(proj.select(col("v").as("src"), col("u").as("dst")))
    val proja = GraphIndex.projEdges(spark, sf)
    assert(rows(proja) === rows(projaInline))
    // raw node ids, the same fixed width as every other graph table
    assert(proja.schema.map(f => f.name -> f.dataType.sql) ===
      Seq("src" -> "BIGINT", "dst" -> "BIGINT"))
  }

  test("bucket count: the sidecar, the file names' bucket ids and the building session's shuffle partitions agree") {
    val root = GraphIndex.stagedGraph(spark, sf)
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val BucketId = """.*_(\d{5})\.c\d{3}.*\.parquet""".r
    for (t <- Seq("proja", "projadj", "bipd")) {
      val dir = new java.io.File(root, t)
      val sidecar = java.nio.file.Files.readString(
        new java.io.File(dir, "_graft_buckets").toPath).trim.toInt
      val ids = dir.listFiles().map(_.getName).collect {
        case BucketId(id) => id.toInt
      }.toSet
      assert(sidecar === width, t)
      assert(ids === (0 until sidecar).toSet, s"$t bucket files: $ids")
    }
  }

  test("a bucketed root without its bucket-count sidecar fails loudly") {
    val root = GraphIndex.stagedGraph(spark, sf)
    val bare = java.nio.file.Files.createTempDirectory("graft-nosidecar").toFile
    try {
      val dst = new java.io.File(bare, "proja")
      dst.mkdirs()
      new java.io.File(root, "proja").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.copy(f.toPath, new java.io.File(dst, f.getName).toPath))
      val e = intercept[IllegalStateException](
        GraphIndex.bucketedTable(spark, bare.getAbsolutePath, "proja",
          "src BIGINT, dst BIGINT"))
      assert(e.getMessage.contains("sidecar"))
    } finally Fs.rmRf(bare)
  }

  test("bucketed artifact: round-1 join and degree agg plan exchange-free on the edge side") {
    // the pageRank round-1 shape: bucketed |E| scan ⋈ V-grain ranks
    // derived from the same scan — NO Exchange anywhere (VERDICT r13
    // #1: the per-serve |E| repartition is gone; the layout is paid
    // once at artifact build)
    val ed = GraphIndex.bipDegreed(spark, sf)
    val ranks = ed.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1L).as("r"))
    val join = ed.join(ranks.hint("shuffle_hash"), col("src") === col("node"))
    val jPlan = join.queryExecution.executedPlan.toString
    assert(!jPlan.contains("Exchange"),
      s"bucketed round-1 join still exchanges:\n$jPlan")
    // the kcore/degreeDist round-1 shape: per-src degree agg on the
    // bucketed adjacency — partial+final with no exchange between
    val deg = GraphIndex.projEdges(spark, sf)
      .groupBy("src").agg(count(lit(1)).as("d"))
    val dPlan = deg.queryExecution.executedPlan.toString
    assert(!dPlan.contains("Exchange"),
      s"bucketed degree agg still exchanges:\n$dPlan")
  }

  test("bucketed projadj ≡ inline CSR rows; step join plans exchange-free on the adj side") {
    val proj = GraphIndex.proj(spark, sf)
    val inline = proj.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(proj.select(col("v").as("src"), col("u").as("dst")))
      .groupBy("src").agg(sort_array(collect_list(col("dst"))).as("ns"))
    assert(rows(GraphIndex.projAdj(spark, sf)
        .select(col("src"), col("ns").cast("string")))
      === rows(inline.select(col("src"), col("ns").cast("string"))))
    // the node2vec step shape: bucketed CSR scan ⋈ V-grain frontier
    // derived from the same scan — no Exchange anywhere (the array
    // payloads never re-shuffle per hop)
    val adj = GraphIndex.projAdj(spark, sf)
    val frontier = adj.select(col("src").as("node")).distinct()
    val join = adj.as("a").hint("shuffle_hash")
      .join(frontier, col("a.src") === col("node"))
    val plan = join.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed projadj step join still exchanges:\n$plan")
  }

  test("staged stats match inline counts; kcore serves the same k") {
    val (n, m) = GraphIndex.projStats(spark, sf)
    val proj = GraphIndex.proj(spark, sf)
    assert(m === proj.count())
    assert(n === proj.select(col("u").as("x"))
      .unionAll(proj.select(col("v").as("x"))).distinct().count())
    // the memo's pair is the on-disk stats row
    val r = spark.read.parquet(s"${GraphIndex.stagedGraph(spark, sf)}/stats").head()
    assert((r.getAs[Long]("n"), r.getAs[Long]("m")) === ((n, m)))
  }

  test("staged walk corpus ≡ randomWalk df-form over inline edges") {
    val fwd = li.select((col("l_partkey") * 2).cast("long").as("src"),
      (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
    val bipInline = fwd.unionAll(
      fwd.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    val inline = Graphs.randomWalk(bipInline, Graphs.RwSteps)
    assert(rows(GraphIndex.walks(spark, sf)) === rows(inline))
  }

  test("catalog kcore/labelProp over the artifact ≡ df forms over inline edges") {
    val lp = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    val projInline = lp.select(col("ok"), col("p").as("u"))
      .join(lp.select(col("ok"), col("p").as("v")), "ok")
      .where(col("u") < col("v")).select("u", "v").distinct()
    val m = projInline.count()
    val n = projInline.select(col("u").as("x"))
      .unionAll(projInline.select(col("v").as("x"))).distinct().count()
    val k = (3L * (2L * m / n) / 4L).toInt
    assert(rows(Graphs.kcore(spark, sf)) ===
      rows(Graphs.kcore(projInline, Graphs.KcoreRounds, k)))
    assert(rows(Graphs.labelProp(spark, sf)) ===
      rows(Graphs.labelProp(projInline, Graphs.LpaRounds)))
    // degreeDist serves from the same staged adjacency
    assert(rows(Graphs.degreeDist(spark, sf)) ===
      rows(Graphs.degreeDist(projInline)))
    // early-exit telemetry was populated by the runs above
    assert(Graphs.lastKcoreRounds >= 0 && Graphs.lastKcoreRounds <= Graphs.KcoreRounds)
    assert(Graphs.lastLpaRounds >= 0 && Graphs.lastLpaRounds <= Graphs.LpaRounds)
  }
}
