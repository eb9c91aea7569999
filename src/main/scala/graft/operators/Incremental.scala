package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Artifacts
import graft.sources.Tables

/** Incremental aggregate maintenance (q_incr_agg): a persisted
  * partial-aggregate state merged with an append batch — the
  * materialized-view-maintenance shape that completes graft's
  * incremental family (q_dedup_append maintains the dup graph,
  * q_simsearch_ivf_append the ANN index, this the rollup itself).
  *
  * Reference grounding: the reference's whole pipeline is one batch
  * word-count (`/root/reference/test.go:13-81`) — rerun from scratch
  * per corpus version. The incremental form is the same partial/final
  * aggregation split the reference's combiner implements per task
  * (`mp/worker.go`), persisted ACROSS runs: commutative partials
  * (sum/count over exact integer cents) are stored per group, an
  * appended batch contributes only ITS partials, and the merge is a
  * groups-sized re-aggregation.
  *
  * 100 TB story: the refreshed rollup costs |delta| scan + |groups|
  * state rows — never a base-fact re-scan. The state artifact is the
  * aggregate itself (months × statuses: thousands of rows at any
  * corpus size), so the merge job is trivially small; the delta scan
  * carries a pushed `o_orderdate >= cut` predicate so parquet
  * row-group stats skip the historical files entirely (the spec
  * asserts both properties on the executed plan).
  *
  * Exactness: partials are BIGINT cent sums and counts (the proven
  * `round(x*100) AS BIGINT` convention) — associative and
  * commutative, so state ∪ delta re-aggregated is bit-identical to
  * the full recompute the DuckDB oracle runs.
  */
object Incremental {

  /** The append window: orders dated within this many days of the
    * corpus max arrive "late" — the state genuinely never sees them
    * (the stagedBandIndex / stagedAppendedIndex arrival convention,
    * expressed in event time as a warehouse rollup would). */
  val DeltaDays = 90

  /** The shared event-time cut over orders (max date − [[DeltaDays]]) —
    * stagedAggState, stagedTopkState and Relational.mergeUpsert must
    * use the SAME arrival convention, so it is defined once
    * ([[Relational.ordersDeltaCut]]). */
  private def ordersCut(spark: SparkSession, dir: String): java.sql.Timestamp =
    Relational.ordersDeltaCut(spark, dir)

  /** The TopKByScore udaf wiring, shared by the state build and the
    * fold path so the two cannot drift. */
  private[graft] def tkUdaf(k: Int) =
    org.apache.spark.sql.functions.udaf(
      new graft.functions.TopKByScore(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())

  /** Monthly (month, o_orderstatus) partials over `df`: exact cent
    * sums + counts. ONE definition feeds state staging, the delta
    * batch, and the merge, so the partial shape cannot drift. */
  private def partials(df: DataFrame): DataFrame =
    df.groupBy(
        to_date(date_trunc("month", col("o_orderdate"))).as("month"),
        col("o_orderstatus"))
      .agg(
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"),
        count(lit(1)).as("cnt"))

  /** Staged partial-aggregate state for the base slice (orders older
    * than max(o_orderdate) − [[DeltaDays]]), memoized per (dir, data
    * fingerprint); returns (root, cut). Staging cost is one base scan,
    * paid once per corpus version and amortized over every refresh —
    * exactly the index-staging contract of the other incremental
    * operators. */
  private[graft] def stagedAggState(spark: SparkSession, dir: String): (String, java.sql.Timestamp) =
    Artifacts.staged(Artifacts.Index, "aggstate", dir, "orders") { root =>
      val cut = ordersCut(spark, dir)
      partials(Tables(spark, dir, "orders").where(col("o_orderdate") < lit(cut)))
        .write.mode("overwrite").parquet(s"$root/state")
      cut
    }

  /** State ∪ delta partials, re-aggregated — ONE body serves the read
    * path ([[incrAgg]]) and the state-update path ([[advanceState]]),
    * so the two can never drift. */
  private def merged(spark: SparkSession, statePath: String,
                     delta: DataFrame): DataFrame =
    foldBatch(spark.read.parquet(statePath), delta)

  private def deltaRows(spark: SparkSession, dir: String,
                        cut: java.sql.Timestamp): DataFrame =
    Tables(spark, dir, "orders").where(col("o_orderdate") >= lit(cut))

  /** q_incr_agg: the maintained rollup — persisted state ∪ the append
    * batch's partials, re-aggregated. Equal to the full group-by
    * bit-for-bit (BIGINT partials), which is what the oracle checks;
    * the PLAN is what the operator is about: the only orders scan
    * carries the pushed delta predicate. */
  def incrAgg(spark: SparkSession, dir: String): DataFrame = {
    val (root, cut) = stagedAggState(spark, dir)
    merged(spark, s"$root/state", deltaRows(spark, dir, cut))
  }

  /** One state-fold generation over arbitrary frames: current state
    * (at final grain) ∪ the batch's partials, re-aggregated. Exposed
    * for the multi-generation spec: partials are associative AND the
    * fold is, so state·D1 then ·D2 ≡ state·(D1∪D2) ≡ full recompute —
    * the property that makes arbitrary refresh cadences safe. */
  private[graft] def foldBatch(state: DataFrame, batch: DataFrame): DataFrame =
    state.unionByName(partials(batch))
      .groupBy("month", "o_orderstatus")
      .agg(sum("total_cents").as("total_cents"), sum("cnt").as("cnt"))

  // ---- incremental word count: the reference's FLAGSHIP pipeline
  // (scan → tokenize → count, `/root/reference/test.go:13-81`),
  // maintained instead of rerun — the most direct "switch from the
  // reference" statement the incremental family can make: its word
  // count reruns over the whole corpus per version; graft folds the
  // appended docs' counts into persisted state. Same arrival cut as
  // the dedup/ANN incrementals (last ~10% of doc ids arrive late).

  /** Word-count partials: q_wordcount's own aggregation body (shared
    * definition — TextOps.wordCountPartials — so the tokenizer cannot
    * drift between the incremental claim and the flagship count). */
  private def wcPartials(docs: DataFrame): DataFrame =
    TextOps.wordCountPartials(docs)

  /** Staged word-count state over the base docs (doc_id < cut),
    * memoized per (dir, data fingerprint); returns (root, cut). */
  private[graft] def stagedWordState(spark: SparkSession, dir: String): (String, Long) =
    Artifacts.staged(Artifacts.Index, "wcstate", dir, "documents") { root =>
      val cut = Staging.lateCut(Staging.rows(spark, dir, "documents"))
      wcPartials(Tables(spark, dir, "documents").where(col("doc_id") < cut))
        .write.mode("overwrite").parquet(s"$root/state")
      cut
    }

  /** q_incr_wordcount: persisted counts ∪ the appended batch's counts —
    * ≡ the full q_wordcount bit-for-bit (integer counts are
    * associative); the only documents scan carries the pushed delta
    * predicate. The vocabulary-sized state is the shuffle-heavy half
    * of word count already paid; a batch costs |delta| tokenization +
    * a vocab-grain merge. */
  def incrWordCount(spark: SparkSession, dir: String): DataFrame = {
    val (root, cut) = stagedWordState(spark, dir)
    val delta = Tables(spark, dir, "documents").where(col("doc_id") >= cut)
    spark.read.parquet(s"$root/state")
      .unionByName(wcPartials(delta))
      .groupBy("word")
      .agg(sum("cnt").as("cnt"))
      .orderBy("word")
  }

  // ---- incremental inverted index: maintain the SEARCH artifact.
  // The posting-list cap is what makes this fold: df/total_tf are sum
  // partials, and the bounded ascending-id list merges associatively
  // (smallest-cap of a union ≡ smallest-cap of the two sides'
  // smallest-caps — TopKByScore's own merge law), so an appended batch
  // folds into the persisted per-term rows for |delta| tokenization +
  // a vocabulary-grain merge. At 100 TB: the index never rebuilds; a
  // crawl increment costs its own size.

  /** Staged per-term index partials over the base docs (doc_id < cut),
    * memoized per (dir, data fingerprint); returns (root, cut). */
  private[graft] def stagedIndexState(spark: SparkSession, dir: String): (String, Long) =
    Artifacts.staged(Artifacts.Index, "idxstate", dir, "documents") { root =>
      val cut = Staging.lateCut(Staging.rows(spark, dir, "documents"))
      TextOps.indexPartials(Tables(spark, dir, "documents").where(col("doc_id") < cut))
        .write.mode("overwrite").parquet(s"$root/state")
      cut
    }

  /** q_incr_inverted: persisted index partials ∪ the appended batch's
    * partials, folded per term — ≡ the one-shot q_inverted_index
    * bit-for-bit (shared oracle): base and delta doc sets are disjoint
    * by the id cut, so df/tf sums are exact and the capped-list merge
    * law gives the global smallest-cap postings. The per-term fold is
    * a bounded sort over ≤ 2·cap ids (the collect_list sees at most
    * one state row + one delta row per term). */
  def incrInverted(spark: SparkSession, dir: String): DataFrame = {
    val (root, cut) = stagedIndexState(spark, dir)
    val delta = Tables(spark, dir, "documents").where(col("doc_id") >= cut)
    TextOps.finishIndex(
      foldIndex(spark.read.parquet(s"$root/state"), TextOps.indexPartials(delta)))
  }

  /** Index-state advance (the update half, mirroring [[advanceState]]):
    * fold the append batch's partials into the persisted per-term rows
    * and stage-and-swap publish. Same fold body as the read path, so
    * after the advance the index is servable from the state artifact
    * alone — spec'd ≡ the one-shot index. Returns the advanced path. */
  private[graft] def advanceIndexState(spark: SparkSession, dir: String): String = {
    val (root, cut) = stagedIndexState(spark, dir)
    val delta = Tables(spark, dir, "documents").where(col("doc_id") >= cut)
    val next = s"$root/state_advanced"
    foldIndex(spark.read.parquet(s"$root/state"), TextOps.indexPartials(delta))
      .write.mode("overwrite").parquet(next)
    next
  }

  /** One index-fold generation over per-term partial frames (exposed
    * for the crafted merge-law spec): sum df/tf, merge the two capped
    * ascending lists and re-cap — a bounded per-term sort over ≤ 2·cap
    * ids (collect_list sees ≤ 1 row per side per term). */
  private[graft] def foldIndex(state: DataFrame, batchPartials: DataFrame): DataFrame =
    state.unionByName(batchPartials)
      .groupBy("word")
      .agg(
        sum("df").as("df"),
        sum("total_tf").as("total_tf"),
        slice(array_sort(flatten(collect_list("postings"))),
          1, TextOps.PostingsCap).as("postings"))

  // ---- incremental top-k per group: maintained RANKED state (the
  // leaderboard shape). TopKByScore buffers merge associatively under
  // (score DESC, id ASC), so per-group capped lists persisted as state
  // fold with an appended batch's lists by simply re-aggregating the
  // exploded union through the SAME aggregator — ≤ 2k rows per group
  // enter the fold, and the result is the full-corpus top-k exactly.
  // At 100 TB: a month's billions of orders never re-rank; a batch
  // costs its own scan + a groups-sized merge.

  /** Per-month capped top-k partials over `df` — q_group_topk's
    * aggregation body (same aggregator, same k), minus the explode. */
  private def topkPartials(df: DataFrame, k: Int): DataFrame =
    df.groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("month"))
      .agg(tkUdaf(k)(col("o_totalprice"), col("o_orderkey")).as("top"))

  /** Staged top-k state over the base orders slice (same DeltaDays
    * event-time cut as the rollup state — [[ordersCut]]). */
  private[graft] def stagedTopkState(spark: SparkSession, dir: String): (String, java.sql.Timestamp) =
    Artifacts.staged(Artifacts.Index, "topkstate", dir, "orders") { root =>
      val cut = ordersCut(spark, dir)
      topkPartials(Tables(spark, dir, "orders")
          .where(col("o_orderdate") < lit(cut)), TopkK)
        .write.mode("overwrite").parquet(s"$root/state")
      cut
    }

  /** ONE k for the pair — q_group_topk's constant. */
  def TopkK: Int = Relational.GroupTopkK

  /** q_incr_topk: persisted per-month top-k lists folded with the
    * append batch's lists — the fold explodes both sides' ≤ k entries
    * and re-aggregates through the same TopKByScore (its merge is
    * associative, so ANY fold tree lands on the full-corpus top-k) —
    * ≡ q_group_topk bit-for-bit, shared oracle. The only orders scan
    * carries the pushed delta-date predicate. */
  def incrTopk(spark: SparkSession, dir: String): DataFrame = {
    val (root, cut) = stagedTopkState(spark, dir)
    val delta = Tables(spark, dir, "orders").where(col("o_orderdate") >= lit(cut))
    val tk = tkUdaf(TopkK)
    spark.read.parquet(s"$root/state")
      .unionByName(topkPartials(delta, TopkK))
      .select(col("month"), explode(col("top")).as("e"))
      .groupBy("month")
      .agg(tk(col("e._1"), col("e._2")).as("top"))
      .select(col("month"), posexplode(col("top")))
      .select(col("month"), col("col._2").as("o_orderkey"),
        col("col._1").as("o_totalprice"),
        (col("pos") + 1).cast("long").as("rn"))
  }

  // ---- incremental distinct count: MERGEABLE SKETCH state. The
  // rollup/wordcount incrementals fold exact partials; COUNT(DISTINCT)
  // has no bounded exact partial (the partial IS the key set), which
  // is precisely why sketches exist — the HLL register table
  // (q_approx_distinct_det's per-(group, bucket) MAX(rho)) is a
  // constant-size state whose merge is an idempotent max, so an
  // appended batch folds in for |delta| scan + |groups|·m state rows
  // and the estimate is BIT-IDENTICAL to the full-corpus sketch.
  // This is the 100 TB maintenance story for distinct counts: the
  // state is groups × 256 small ints at any corpus size.

  /** Staged HLL register state over the base slice (l_orderkey below
    * the top-decile cut — the key-space arrival convention of the doc
    * incrementals, expressed on the lineitem fact), memoized per
    * (dir, data fingerprint); returns (root, cut). */
  private[graft] def stagedHllState(spark: SparkSession, dir: String): (String, Long) =
    Artifacts.staged(Artifacts.Index, "hllstate", dir, "lineitem") { root =>
      val li = Tables(spark, dir, "lineitem")
      val maxKey = li.agg(max("l_orderkey")).head().getLong(0) // 1 driver row
      val cut = Staging.lateCut(maxKey)
      Relational.hllRegisters(li.where(col("l_orderkey") < cut))
        .write.mode("overwrite").parquet(s"$root/state")
      cut
    }

  /** q_incr_distinct: persisted registers max-merged with the append
    * batch's registers, then the shared raw-HLL estimator — ≡ the full
    * q_approx_distinct_det bit-for-bit (max is associative/idempotent,
    * so ANY refresh cadence, including re-folding an overlapping
    * batch, lands on the same registers); shares its DuckDB oracle.
    * The only lineitem scan carries the pushed delta-key predicate. */
  def incrDistinct(spark: SparkSession, dir: String): DataFrame = {
    val (root, cut) = stagedHllState(spark, dir)
    val delta = Tables(spark, dir, "lineitem").where(col("l_orderkey") >= cut)
    val regs = spark.read.parquet(s"$root/state")
      .unionByName(Relational.hllRegisters(delta))
      .groupBy("l_returnflag", "bucket")
      .agg(max("mj").as("mj"))
    Relational.hllEstimate(regs)
  }

  /** The state-UPDATE half of the maintenance cycle: fold the append
    * batch into the persisted state and publish the advanced state
    * (stage-and-swap into a sibling path — readers of the old state
    * are never torn). Same merged body as the read path, so the
    * advance also never re-scans base facts; after it, the rollup is
    * servable from the state artifact alone. Returns the advanced
    * state's path. */
  private[graft] def advanceState(spark: SparkSession, dir: String): String = {
    val (root, cut) = stagedAggState(spark, dir)
    val next = s"$root/state_advanced"
    merged(spark, s"$root/state", deltaRows(spark, dir, cut))
      .write.mode("overwrite").parquet(next)
    next
  }

  // ---- incremental JOIN-view maintenance: the delta-join identity.
  // The rollups above maintain single-table aggregates; the classic
  // materialized view is an AGGREGATED JOIN, and its refresh is the
  // three-term delta expansion
  //   Δ(A ⋈ B) = ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB
  // (Blakeley-Larson-Tompa, "Efficiently updating materialized
  // views", SIGMOD 1986). Both inputs here genuinely append on
  // INDEPENDENT clocks — orders by o_orderdate, lineitems by
  // l_shipdate (an old order's line can ship late) — so all three
  // terms are non-empty and none can be elided by an arrival
  // convention.

  /** Monthly revenue partials over any (orders-slice ⋈ lineitem-slice):
    * exact revenue cents per line (the pinned
    * round(price·(1−disc)·100) double chain both engines share) +
    * line counts, at month grain. ONE definition feeds the state
    * build and all three delta terms. */
  private def joinPartials(ords: DataFrame, lines: DataFrame): DataFrame =
    ords.join(lines, col("o_orderkey") === col("l_orderkey"))
      .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("month"))
      .agg(
        sum(expr(
          "cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"))
          .as("revenue_cents"),
        count(lit(1)).as("n_lines"))

  private def ordCols(df: DataFrame): DataFrame =
    df.select("o_orderkey", "o_orderdate")
  private def lineCols(df: DataFrame): DataFrame =
    df.select("l_orderkey", "l_extendedprice", "l_discount", "l_shipdate")

  /** The lineitem arrival cut (max l_shipdate − [[DeltaDays]]) — the
    * SECOND clock, independent of [[Relational.ordersDeltaCut]]. */
  private[graft] def lineitemDeltaCut(spark: SparkSession, dir: String): java.sql.Timestamp = {
    val maxD = Tables(spark, dir, "lineitem")
      .agg(max("l_shipdate")).head().getTimestamp(0) // 1 driver row
    java.sql.Timestamp.valueOf(
      maxD.toLocalDateTime.minusDays(DeltaDays.toLong))
  }

  /** Staged view state: partials over BASE ⋈ BASE (both sides strictly
    * before their cuts) — the one full join, paid once per corpus
    * version. */
  private[graft] def stagedJoinState(spark: SparkSession, dir: String): (String, (java.sql.Timestamp, java.sql.Timestamp)) =
    Artifacts.staged(Artifacts.Index, "joinstate", dir, "orders") { root =>
      val cutO = Relational.ordersDeltaCut(spark, dir)
      val cutL = lineitemDeltaCut(spark, dir)
      val baseO = ordCols(Tables(spark, dir, "orders")
        .where(col("o_orderdate") < lit(cutO)))
      val baseL = lineCols(Tables(spark, dir, "lineitem")
        .where(col("l_shipdate") < lit(cutL)))
      joinPartials(baseO, baseL).write.mode("overwrite").parquet(s"$root/state")
      (cutO, cutL)
    }

  /** q_incr_join: the maintained join view — persisted BASE⋈BASE
    * partials ∪ the three delta terms, re-aggregated; ≡ the full
    * orders⋈lineitem monthly-revenue rollup bit-for-bit (BIGINT cent
    * partials are associative), which is what the oracle checks.
    *
    * The PLAN is the operator's point: each cross term joins a BASE
    * scan against a BROADCAST delta (ΔA into the lineitem scan, ΔB
    * into the orders scan, Δ⋈Δ wholly delta-sized), so base facts are
    * scanned with pushed date predicates but NEVER shuffled, and no
    * base⋈base work recurs — refresh cost is the two base scans +
    * O(|Δ|) join work, vs the full join the recompute pays. Past
    * broadcast size the deltas fall back to shuffle-hash joins of
    * delta-row volume: still never a base⋈base shuffle. (At 100 TB
    * one also buckets both base tables on the join key — then the
    * base scans themselves prune to the delta's buckets.) */
  def incrJoin(spark: SparkSession, dir: String): DataFrame = {
    val (root, (cutO, cutL)) = stagedJoinState(spark, dir)
    val ords = Tables(spark, dir, "orders")
    val lines = Tables(spark, dir, "lineitem")
    val baseO = ordCols(ords.where(col("o_orderdate") < lit(cutO)))
    val baseL = lineCols(lines.where(col("l_shipdate") < lit(cutL)))
    val dO = ordCols(ords.where(col("o_orderdate") >= lit(cutO)))
    val dL = lineCols(lines.where(col("l_shipdate") >= lit(cutL)))
    spark.read.parquet(s"$root/state")
      .unionByName(joinPartials(broadcast(dO), baseL))
      .unionByName(joinPartials(baseO, broadcast(dL)))
      .unionByName(joinPartials(broadcast(dO), dL))
      .groupBy("month")
      .agg(sum("revenue_cents").as("revenue_cents"),
        sum("n_lines").as("n_lines"))
  }
}
