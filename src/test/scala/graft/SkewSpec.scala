package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew

class SkewSpec extends SparkSuiteBase {

  test("salted join equals plain join on a skewed key distribution") {
    import spark.implicits._
    // hot key: 9000 of 10000 rows share key 1
    val fact = spark.range(10000)
      .select(when(col("id") < 9000, 1L).otherwise(col("id")).as("k"),
        col("id").as("v"))
    val dim = Seq((1L, "hot"), (9500L, "cold"), (9999L, "cold2"))
      .toDF("k", "name")
    val plain = fact.join(dim, Seq("k"), "inner")
      .groupBy("name").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val salted = Skew.saltedJoin(fact, dim, "k", salts = 8)
      .groupBy("name").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(salted === plain)
    assert(plain("hot")._1 === 9000L)
  }

  test("q_skew_join equals the plain fact-dim join rollup") {
    val plain = graft.sources.Tables(spark, sf, "lineitem")
      .select(col("l_suppkey").as("s_suppkey"), col("l_quantity"))
      .join(graft.sources.Tables(spark, sf, "supplier")
        .select(col("s_suppkey"), col("s_nationkey").cast("long").as("s_nationkey")),
        Seq("s_suppkey"), "inner")
      .groupBy("s_nationkey")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val salted = Skew.skewedJoin(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(salted === plain)
  }

  test("salted aggregation equals direct aggregation") {
    import spark.implicits._
    val df = spark.range(5000)
      .select((col("id") % 3).as("k"), col("id").cast("double").as("v"))
    val direct = df.groupBy("k")
      .agg(sum("v").as("sum_v"), count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val salted = Skew.saltedSumCount(df, "k", "v", salts = 8)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(salted.keySet === direct.keySet)
    salted.foreach { case (k, (s, c)) =>
      assert(c === direct(k)._2)
      assert(math.abs(s - direct(k)._1) < 1e-6)
    }
  }

  /** Ranks from the skew-sliced path joined to plain window ranks, plus
    * the number of distinct window keys the `heavy` rows got. */
  private def slicedVsPlain(df: org.apache.spark.sql.DataFrame,
      heavy: org.apache.spark.sql.Column): (Long, Long, Long) = {
    import org.apache.spark.sql.expressions.Window
    val heavyKeys = graft.operators.Relational.skewSliced(df, 16).get
      .where(heavy).select("slc", "hg", "sub").distinct().count()
    val ranked = graft.operators.Relational.groupedRanks(df, 16)
      .select(col("grp"), col("id"), col("rk"))
    val want = df.withColumn("rk_ref", row_number()
      .over(Window.partitionBy("grp").orderBy("x", "id")).cast("long"))
    val joined = ranked.join(want, Seq("grp", "id"))
    (joined.count(), joined.where(col("rk") =!= col("rk_ref")).count(),
      heavyKeys)
  }

  test("skew slices: adjacent BIGINT heavies at 2^53 and 2^53+1 rank exactly") {
    // 2^53 and 2^53+1 are one and the same DOUBLE. approx_percentile
    // carries BIGINT as DOUBLE, so the sketch reports both as 2^53:
    // only that value is sub-split by id, and 2^53+1 must still rank
    // exactly right after it
    val p53 = 1L << 53
    val df = spark.range(10000L).select(lit("g").as("grp"), col("id"),
      when(pmod(col("id"), lit(5L)) < 3L, lit(p53 + 1))
        .when(pmod(col("id"), lit(5L)) === 3L, lit(p53))
        .otherwise(col("id")).as("x"))
    val (n, bad, keys) = slicedVsPlain(df, col("x") === lit(p53))
    assert(n === 10000L)
    assert(bad === 0L, "sliced ranks must equal plain window ranks")
    assert(keys > 1, s"heavy 2^53 must sub-split by id, got $keys keys")
  }

  test("skew slices: NaN as a heavy DOUBLE value ranks last, exactly") {
    // Spark orders NaN above every number and treats NaN = NaN; a
    // heavy NaN must get its own split window keys at the END of the
    // order, and the ranks must equal the plain window's
    val df = spark.range(10000L).select(lit("g").as("grp"), col("id"),
      when(pmod(col("id"), lit(5L)) < 3L, lit(Double.NaN))
        .otherwise(col("id").cast("double") * 0.5).as("x"))
    val (n, bad, keys) = slicedVsPlain(df, isnan(col("x")))
    assert(n === 10000L)
    assert(bad === 0L, "sliced ranks must equal plain window ranks")
    assert(keys > 1, s"heavy NaN must sub-split by id, got $keys keys")
  }

  test("skew slices: DOUBLE values spanning more than Double.MaxValue slice linearly, exactly") {
    // -1e308 .. 1e308: hi - lo overflows to +Inf, so a span computed
    // from it would put every row in one slice (or fail the cast)
    val df = spark.range(10001L).select(lit("g").as("grp"), col("id"),
      ((col("id") - 5000L).cast("double") * 2e304).as("x"))
    val (n, bad, keys) = slicedVsPlain(df, lit(true))
    assert(n === 10001L)
    assert(bad === 0L, "sliced ranks must equal plain window ranks")
    assert(keys >= 8, s"finite values must spread over the slices, got $keys keys")
  }

  test("skew slices: BIGINT values spanning Long.MinValue to Long.MaxValue slice linearly, exactly") {
    // hi - lo and x - lo both overflow a Long here, which fails the
    // slice key under ANSI mode if either is computed
    val df = spark.range(10001L).select(lit("g").as("grp"), col("id"),
      when(col("id") === 0L, lit(Long.MinValue))
        .when(col("id") === 10000L, lit(Long.MaxValue))
        .otherwise((col("id") - 5000L) * 900000000000000L).as("x"))
    val (n, bad, keys) = slicedVsPlain(df, lit(true))
    assert(n === 10001L)
    assert(bad === 0L, "sliced ranks must equal plain window ranks")
    assert(keys >= 8, s"values must spread over the slices, got $keys keys")
  }
}
