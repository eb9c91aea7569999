package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Artifacts
import graft.sources.Tables

/** Join surface (SURVEY §2 B7–B10 + as-of).
  *
  * Reference grounding: the reduce-side join is the canonical MapReduce
  * composition over the reference's arbitrary Map/Reduce contract
  * (`/root/reference/mp/worker.go:14-17`) — mapper tags rows by source
  * table keyed on the join key, reducer merges per key. Spark-first that
  * is a declarative `join` and the planner picks the physical strategy.
  *
  * Scale notes (100 TB design point):
  *  - fact ⋈ fact (orders ⋈ lineitem, orders ⋈ customer) → shuffle on the
  *    key (sort-merge or shuffled-hash, AQE decides); both sides prune
  *    columns before the exchange so shuffled bytes are the projection,
  *    not the table.
  *  - fact ⋈ dim (nation/region, O(10..100) rows) → `broadcast()` hint:
  *    zero shuffle of the fact side, dim replicated to executors.
  *  - semi/anti joins ship only the key column of the probe side and
  *    stop at first match — never materialize the pair.
  *  - the as-of join deliberately avoids join+filter+argmax (an
  *    exploding inequality join); it is the union+window formulation:
  *    one shuffle on the partition key, one per-partition sort, zero row
  *    amplification — the shape that survives 100× scale-up.
  */
object Joins {

  /** B7 q_join_inner: fact ⋈ fact equi-join on custkey (shuffle join). */
  def innerJoin(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val customer = Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"))
    orders.join(customer, col("o_custkey") === col("c_custkey"), "inner")
      .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
        round(col("o_totalprice"), 2).as("price"))
  }

  /** B8 q_join_broadcast: fact ⋈ dim ⋈ dim with explicit broadcast of the
    * small sides — no shuffle of customer. */
  def broadcastJoin(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    val nation = Tables(spark, dir, "nation")
    val region = Tables(spark, dir, "region")
    customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("cnt"), round(sum("c_acctbal"), 2).as("bal"))
  }

  /** B9 q_join_semi_anti: existence joins — customers with ≥1 order
    * (left_semi) vs none (left_anti), reported as tagged counts. */
  def semiAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables(spark, dir, "customer").select(col("c_custkey"))
    val orderKeys = Tables(spark, dir, "orders").select(col("o_custkey"))
    def cnt(tag: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("cnt")).select(lit(tag).as("op"), col("cnt"))
    val semi = customer.join(orderKeys,
      col("c_custkey") === col("o_custkey"), "left_semi")
    val anti = customer.join(orderKeys,
      col("c_custkey") === col("o_custkey"), "left_anti")
    cnt("semi", semi).unionAll(cnt("anti", anti))
  }

  /** B9b q_join_outer: full-outer join classified into match classes —
    * the null-extension semantics left/right/full add over inner. The
    * orders side is pre-aggregated to one row per customer BEFORE the
    * join (at 100 TB: join cardinality = |customers|, not |orders|). */
  def outerJoin(spark: SparkSession, dir: String): DataFrame = {
    // both sides restricted so all three match classes are non-empty
    // (every customer has orders in the fixture, so the unrestricted
    // full-outer degenerates to 'both')
    val c = Tables(spark, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val o = Tables(spark, dir, "orders")
      .where(col("o_orderstatus") === "F")
      .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        when(col("c_custkey").isNotNull && col("o_custkey").isNotNull, "both")
          .when(col("o_custkey").isNull, "customer_only")
          .otherwise("order_only").as("op"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .groupBy("op")
      .agg(count(lit(1)).as("cnt"), sum("n_orders").as("sum_orders"))
  }

  /** B10 q_join_theta: equi key + theta residual (`l_shipdate >
    * o_orderdate`) — planner keeps the equi part as the join key and
    * applies the inequality as a post-join residual, so this stays a
    * hash/merge join, not a nested-loop. */
  def thetaJoin(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"))
    val lineitem = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"), col("l_returnflag"))
    orders.join(lineitem,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Range/band join (q_join_range): events bucketed into value bands by
    * an interval dimension. The band table is tiny → broadcast
    * nested-loop with a BETWEEN predicate: each probe row tests B bands,
    * O(B) per row with no shuffle — the right shape when the interval
    * side is small. (If both sides were large: bin to equi-keys first.) */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(
      ("low", 0.0, 25.0), ("mid", 25.0, 50.0),
      ("high", 50.0, 75.0), ("top", 75.0, 1e9))
      .toDF("band", "lo", "hi")
    Tables(spark, dir, "events")
      .join(broadcast(bands),
        col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_v"))
  }

  /** q_join_interval: large×large interval join WITHOUT an equi key —
    * purchases paired with clicks at most 60 s apart, any user. The
    * declarative form (`|t_p − t_c| ≤ w`) would plan as a broadcast
    * nested-loop — O(n·m) pair tests, the non-broadcastable scale
    * killer (q_join_range's BNLJ is fine only because its build side
    * is 4 rows). This is the BINNED form, the standard MapReduce
    * interval-join decomposition (DeWitt et al.'s band-join bucketing;
    * the same trick Spark's own range-join hints apply): time is cut
    * into bins of the window width, the probe side replicates to its
    * bin ±1 (constant ×3 fan-out — every candidate within ±w lies in
    * those bins), the build side lands in exactly ONE bin, and the
    * join becomes a shuffle-hash EQUI-join on bin with the exact
    * predicate as a residual filter. Each qualifying pair matches in
    * exactly one bin (the build row's), so no post-join dedup is
    * needed. Cost: O((n·3 + m) shuffle + true-pair tests) — survives
    * 100× where the nested loop is quadratic. Timestamps compare in
    * exact integer MICROseconds (no float epoch, no truncation
    * divergence vs the oracle). */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame =
    intervalJoin(Tables(spark, dir, "events"), 60000000L)

  /** df form: expects events(event_id, ts, event_type); `wUs` is the
    * pairing half-window in microseconds (also the bin width). */
  def intervalJoin(events: DataFrame, wUs: Long): DataFrame = {
    val p = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
        unix_micros(col("ts")).as("p_us"))
      .withColumn("b", expr(s"p_us div $wUs"))
      .select(col("p_id"), col("p_ts"), col("p_us"),
        explode(array(col("b") - 1, col("b"), col("b") + 1)).as("bin"))
    val c = events.where(col("event_type") === "click")
      .select(col("event_id").as("c_id"), unix_micros(col("ts")).as("c_us"))
      .withColumn("bin", expr(s"c_us div $wUs"))
    p.join(c, "bin")
      .where(abs(col("p_us") - col("c_us")) <= wUs)
      .groupBy(to_date(col("p_ts")).as("day"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct("p_id").as("n_purchases"),
        countDistinct("c_id").as("n_clicks"))
  }

  /** B7c q_join_bucketed: the ZERO-SHUFFLE repeated-join path — both
    * sides written bucketed AND sorted on the join key, so the join
    * plans with no Exchange and no Sort on either side. At 100 TB this
    * converts the dominant per-query shuffle of every join on that key
    * into a one-time layout cost at write time (the lakehouse pattern
    * for a fact table joined daily on the same key).
    *
    * The bucketed copies are staged once per (dir, data fingerprint)
    * into the session catalog with explicit scratch-dir locations
    * (nothing lands in the process cwd); the join itself — the measured
    * part — is `spark.table ⋈ spark.table`. The aggregation after the
    * join shuffles its 5 result groups, which is the correct place for
    * the plan's only exchange. (A per-task Sort of each bucket's rows
    * remains: Spark 3+ drops bucket sortBy propagation unless the
    * legacy bucketedTableScan.outputOrdering conf is set, SPARK-28632 —
    * the shuffle, not the local sort, is the 100 TB cost.) */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (ot, ct) = stagedBuckets(spark, dir)
    // merge hint: this query DEMONSTRATES the bucketed sort-merge path —
    // without it AQE would broadcast the small side at test scale and the
    // bucketing layout would sit unused
    spark.table(ot).join(spark.table(ct).hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("sum_price"))
  }

  /** q_join_fuzzy: approximate string self-join (entity resolution /
    * record linkage) — all pairs of customer names within Levenshtein
    * distance 1, WITHOUT the n² comparison. Candidate generation is the
    * deletion neighborhood (FastSS — Bocek et al., "Fast Similarity
    * Search in Large Dictionaries", 2007; SymSpell popularized it): two
    * strings at edit distance ≤ 1 always share a member of each other's
    * {self} ∪ {one-char deletions} set (a substitution pair shares the
    * deletion AT the differing position; an insert/delete pair shares
    * the shorter string itself), so an equi-join on the variant finds
    * every true pair, and an exact `levenshtein` check discards the
    * false candidates. Shape at scale: (len+1) variants per name
    * shuffle-join on the variant key — linear in corpus size like
    * MinHash-LSH, with exact verification map-side after the join; the
    * naive cross join it replaces is the same wall q_dedup_embed's
    * grid decomposition avoids. Capped to c_custkey < 500 on both
    * sides so the ORACLE's exhaustive n² check stays bounded at every
    * sf (the engine-side index has no such need). */
  def fuzzyJoin(spark: SparkSession, dir: String): DataFrame =
    fuzzyJoin(Tables(spark, dir, "customer")
      .where(col("c_custkey") < 500L)
      .select(col("c_custkey").as("id"), lower(col("c_name")).as("name")), 1)

  /** df form: expects (id: Long, name: String); `maxDist` ∈ {0, 1}
    * (the deletion-neighborhood depth here is 1). */
  def fuzzyJoin(names: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist <= 1, "deletion neighborhood staged for distance <= 1")
    val variants = names.select(col("id"), col("name"),
        explode(expr(
          """array_union(array(name),
            |  transform(sequence(1, length(name)),
            |    i -> concat(substring(name, 1, i - 1),
            |                substring(name, i + 1, length(name)))))""".stripMargin))
          .as("v"))
      .select(col("id"), col("name"), col("v"))
    val cand = variants.as("a")
      .join(variants.as("b"),
        col("a.v") === col("b.v") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.name").as("na"), col("b.name").as("nb"))
      .distinct()
    cand
      .where(levenshtein(col("na"), col("nb")) <= maxDist)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("na"), col("nb")).cast("long").as("dist"))
  }

  /** q_join_bloom: runtime BLOOM-FILTER semi-join reduction — the
    * 100 TB shuffle-reduction path for a SELECTIVE dim filter feeding a
    * shuffle join. Catalyst's `InjectRuntimeFilter` builds a bloom
    * filter from the filtered dim keys as a subquery and applies it to
    * the fact side BEFORE the fact rows shuffle: rows that cannot
    * possibly join are dropped map-side at the scan, so shuffle volume
    * tracks the dim filter's selectivity instead of the fact table's
    * size. Complements q_dpp (which prunes whole PARTITIONS via the
    * same join; the bloom filter prunes ROWS when the fact is not
    * partitioned by the join key).
    *
    * The rule's size thresholds are production-tuned for real clusters;
    * they are temporarily scoped here (and restored) so the injection
    * happens at test scale too — the optimized plan is forced inside
    * the scope, so the bloom filter is baked into the cached logical
    * plan (plan-spec-asserted) while later physical planning runs under
    * the session's normal settings. */
  def bloomJoin(spark: SparkSession, dir: String): DataFrame = {
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = Tables(spark, dir, "lineitem")
        .select(col("l_suppkey"), col("l_quantity"))
      val dim = Tables(spark, dir, "supplier")
        .where(col("s_acctbal") > 5000.0) // selective at test scale (1/10 suppliers)
        .select(col("s_suppkey"), col("s_nationkey"))
      val out = fact.join(dim, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey").cast("long").as("s_nationkey"))
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("cnt"))
      out.queryExecution.optimizedPlan // freeze the injection in-scope
      out
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** q_entity_resolve: end-to-end entity resolution — the fuzzy-pair
    * index composed with connected components (exactly how `Pipeline.
    * curate` composes MinHash pairs with components for documents, here
    * for ENTITIES): deletion-neighborhood candidate pairs at edit
    * distance ≤ 1 → transitive closure → every record mapped to its
    * cluster's canonical (minimum) id, singletons to themselves. The
    * master-data "golden record" assignment. Scale shape: the pair
    * graph is tiny relative to the record count (only near-duplicates
    * edge), so the CC loop runs on a graph orders of magnitude smaller
    * than the corpus; the final assignment is one broadcast left join.
    * Oracle: exhaustive pairwise Levenshtein + recursive closure. */
  def entityResolve(spark: SparkSession, dir: String): DataFrame = {
    val capped = Tables(spark, dir, "customer")
      .where(col("c_custkey") < 500L)
      .select(col("c_custkey").as("id"), lower(col("c_name")).as("name"))
    entityResolve(capped)
  }

  /** df form: expects (id: Long, name: String). */
  def entityResolve(names: DataFrame): DataFrame = {
    val pairs = fuzzyJoin(names, 1)
      .select(col("id_a").as("da"), col("id_b").as("db"))
    // dupComponents labels its node column doc_id (document-dedup home)
    val comp = Dedup.dupComponents(pairs)
    names.join(broadcast(comp), col("id") === col("doc_id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("canon"))
  }

  /** Bucket count for the staged co-located join tables. Local default
    * 8 (env SPARK_GRAFT_BUCKETS); at 100 TB size so one bucket ≈ one
    * task's worth of data (~128-256 MiB post-compression — e.g. a
    * 10 TB fact → ~40-80k buckets), keep it a power of two so the two
    * sides' counts stay coalescible multiples, and remember the count
    * is part of the TABLE layout: both join sides must be bucketed by
    * the same number (or an integer multiple) for the exchange-free
    * plan, and changing it means rewriting the table. */
  def bucketCount: Int = sys.env.getOrElse("SPARK_GRAFT_BUCKETS", "8").toInt

  /** Stage bucketed+sorted copies of orders/customer on o_custkey /
    * c_custkey (`bucketCount` buckets) as catalog tables; memoized per
    * (dir, data fingerprint of BOTH staged tables — fingerprinting only
    * one would serve a stale copy of the other after an in-place
    * regen). */
  private[graft] def stagedBuckets(spark: SparkSession, dir: String): (String, String) = {
    val fp = graft.Fs.tableFingerprint(dir, "orders") + "|" +
      graft.Fs.tableFingerprint(dir, "customer")
    Artifacts.memo(Artifacts.Input, "buckets", dir, "orders", fp) {
      val tag = Integer.toHexString((dir + fp).hashCode)
      val root = graft.Engine.workDir("graft-bkt-")
      def stage(table: String, cols: Seq[String], key: String): String = {
        val name = s"graft_${table}_b$tag"
        if (!spark.catalog.tableExists(name)) {
          // repartition on the bucket key first (same Murmur3 mapping as
          // the bucket spec) → exactly ONE file per bucket; Spark only
          // propagates the sortBy ordering (eliding the join's Sort) for
          // single-file buckets
          Tables(spark, dir, table).select(cols.map(col): _*)
            .repartition(bucketCount, col(key))
            .write.bucketBy(bucketCount, key).sortBy(key)
            .option("path", new java.io.File(root, name).getAbsolutePath)
            .mode("overwrite").saveAsTable(name)
        }
        name
      }
      (stage("orders", Seq("o_orderkey", "o_custkey", "o_totalprice"), "o_custkey"),
        stage("customer", Seq("c_custkey", "c_mktsegment"), "c_custkey"))
    }
  }

  /** As-of join (q_join_asof): for each event, the most recent order of
    * the same customer at-or-before the event time.
    *
    * Union+window formulation: tag both sides, sort within customer by
    * (time, side-priority), carry the last seen order key forward. One
    * shuffle + one sort, no row amplification — unlike the naive
    * `join(ts >= date) → groupBy argmax` which explodes quadratically
    * on active customers at 100 TB. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders").select(
      col("o_custkey").as("uid"), col("o_orderdate").as("t"),
      col("o_orderkey").as("ok"), lit(null: java.lang.Long).as("event_id"))
    val events = Tables(spark, dir, "events").select(
      col("user_id").as("uid"), col("ts").as("t"),
      lit(null: java.lang.Long).cast(LongType).as("ok"), col("event_id"))
    // Orders sort before events at identical t (isEvent 0 < 1) → "<=".
    val tagged = orders.withColumn("is_event", lit(0))
      .unionByName(events.withColumn("is_event", lit(1)))
    val w = Window.partitionBy("uid")
      .orderBy(col("t"), col("is_event"), col("ok"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_order", last(col("ok"), ignoreNulls = true).over(w))
      .where(col("is_event") === 1)
      .select(col("event_id"), col("uid").as("user_id"),
        col("last_order").as("o_orderkey"))
  }
}
