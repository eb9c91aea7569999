package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Benchmark main: runs the headline SparkEntry queries (min-of-N,
  * warmed, memo-cleared — the per-round bar) PLUS a single-run
  * full-matrix sweep of every declared query (regression telemetry) on
  * SPARK_GRAFT_SF_DIR and prints the headline JSON line {"metric":"total"...}
  * as the LAST stdout line (matrix timings on their own earlier line, and
  * both mirrored to ./bench_last.json, so a stdout tail capture of any
  * length still yields a parseable headline). Each query is
  * forced end-to-end with a noop-format write (materializes every output
  * column; `count()` would let Catalyst prune the computed columns away and
  * under-measure). Each query gets ONE untimed warmup before its timed
  * runs, and the Model and Index artifacts (`Artifacts.clear` by kind)
  * are cleared before every timed run — min-of-N measures steady-state
  * compute, never a cache hit or a cold-JIT stall. A failed query reports value -1 and is
  * listed in the "failed" array (stderr alone would be discarded by the
  * documented 2>/dev/null invocation).
  *
  * Each query is timed `Runs` times and the MINIMUM is reported: this host
  * has a measured 2–3× global run-to-run variance (transient external load
  * — whole benches slow down uniformly; see BASELINE.md), and min-of-N is
  * the standard estimator for the code's intrinsic cost under noisy
  * multi-tenancy. Both runs are full end-to-end materializations of the
  * same plan. The JSON carries `runs_per_query`/`agg`/`n_queries` so any
  * change of basis between rounds is detectable downstream.
  */
object Bench {

  /** Representative subset across scan/agg/join/window/dedup/similarity/
    * clustering/text/streaming — the per-round scoreboard. Full coverage
    * correctness runs through Verify, not here. */
  val headline: Seq[String] = Seq(
    "q_wordcount", "q_scan_project", "q_filter", "q_group_sum", "q_distinct",
    "q_join_inner", "q_join_broadcast", "q_window_rank", "q_sort_limit",
    "q_dedup_exact", "q_dedup_minhash", "q_simsearch", "q_kmeans",
    "q_text_stats", "q_stream_tumbling")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session()

    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // SPARK_GRAFT_BENCH_EXTRA: comma-separated extra query names timed
    // on the same min-of-N basis as the headline — the sf1 scale-proof
    // run uses it to time the nominated family rows (q_ssjoin,
    // q_knn_join_blocked) without dragging the full matrix to sf1.
    // Extras are reported under their own "extra" key and EXCLUDED from
    // the headline total (ADVICE r11): the total stays comparable
    // between runs with and without the env var.
    val extra = sys.env.get("SPARK_GRAFT_BENCH_EXTRA")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)
    val headlinePicked = headline.filter(SparkEntry.queries.contains)
    val picked = (headline ++ extra).distinct.filter(SparkEntry.queries.contains)

    // Steady-state basis (VERDICT r3 #3/#4):
    //  - ONE untimed warmup per query before its timed runs — JIT/codegen
    //    compilation, parquet footer cache, and one-time INPUT staging
    //    (the streaming file feed) are not billed to run 1; without it
    //    min-of-N can report a cold-JVM stall as the query's cost.
    //  - memoized artifacts are cleared by kind (`Artifacts.Kind`), split
    //    by what a warm hit MEANS (ADVICE r7):
    //    - Model (K-Means fits, PQ/IVFPQ/SQ models, BPE merges, PCA,
    //      linreg fit): a warm hit replaces the row's compute with a
    //      cache read and MASKS regressions — cleared before every
    //      headline run and before every matrix rerun;
    //    - Index (staged indices, the dup-component closure, incremental
    //      states): the one-time build is billed by the lifecycle
    //      splits below, and a consumer row probing a warm index still
    //      executes its full query — the amortized steady state a
    //      standing corpus serves. Cleared before every headline run;
    //      the matrix rerun does NOT clear them, so an index-consumer
    //      row reports the consumer path, not a re-staging;
    //    - Input (stream feeds, layout and format copies): input data,
    //      like the testdata parquet itself — never cleared; every timed
    //      run still executes the complete query over it.
    val Runs = 2
    var failed = List.empty[String]
    var degraded = List.empty[String]
    val results = picked.map { name =>
      def runOnce(): Unit = force(SparkEntry.queries(name)(spark, sfDir))
      var warmupOk = true
      try runOnce() catch { case NonFatal(e) =>
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
        warmupOk = false
      }
      var best = Double.MaxValue
      var aborted = !warmupOk
      var r = 0
      while (!aborted && r < Runs) {
        Artifacts.clear(Artifacts.Model)
        Artifacts.clear(Artifacts.Index)
        val t0 = System.nanoTime()
        try {
          runOnce()
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        } catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name run ${r + 1} failed: ${e.getMessage}")
          aborted = true
        }
        r += 1
      }
      // a transient failure on a LATER run keeps the valid earlier
      // measurement but is flagged in "degraded" (basis = min-of-fewer
      // runs); only a query with zero successful runs is "failed"
      if (best == Double.MaxValue) { failed ::= name; name -> -1.0 }
      else { if (aborted) degraded ::= name; name -> best }
    }
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // Lifecycle basis (VERDICT r9 #1): the build/search splits get the
    // SAME min-of-N estimator as the headline — a single `timed(...)`
    // on a host with a 2-3× noise band cannot distinguish a stall from
    // a regression (r9's 11.4 s pq_search / 15.8 s ivfpq_append_build
    // were exactly that ambiguity). `pre` runs before EACH timed run:
    // for a BUILD metric it is that artifact's own clear by name (so
    // both runs do the full cold build — per-artifact clears, not the
    // per-kind ones, so sibling artifacts stay warm for the matrix);
    // for a SEARCH metric it is a no-op (both runs probe the warm
    // artifact — the amortized steady state). No separate warmup: by
    // the time the lifecycle blocks run, the headline loop has fully
    // warmed JIT/codegen/footer caches, and a build's first run IS the
    // measurement target, not a throwaway.
    val LifecycleRuns = 2
    def timedN(pre: => Unit)(f: => Unit): Double = {
      var best = Double.MaxValue
      var r = 0
      while (r < LifecycleRuns) {
        pre
        best = math.min(best, timed(f))
        r += 1
      }
      best
    }
    /** One lifecycle step: its (key, value) rows. */
    type Step = () => Seq[(String, Double)]
    // per-round ANN quality guard (VERDICT r7 #4): recall@10 of every
    // ANN path vs the exact brute-force result, measured on every bench
    // run so a quantizer/probe-sizing change that silently degrades
    // recall shows up in the round JSON. Result sets are nQueries × k
    // rows — driver-side compare is trivially bounded. The ONE
    // brute-force run is shared by every recall row below.
    def topk(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, sfDir).select("qid", "vec_id")
        .collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact: Map[Long, Set[Long]] =
      try topk("q_simsearch") catch { case NonFatal(e) =>
        System.err.println(s"[bench] exact topk failed: ${e.getMessage}")
        Map.empty
      }
    def recall(name: String, key: String): Step = () =>
      if (exact.isEmpty) Seq.empty   // no denominator → omit, not a fake 0.0
      else Seq(key ->
        (try {
          val ann = topk(name)
          exact.map { case (q, ex) =>
            ann.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
          }.sum / exact.size
        } catch { case NonFatal(_) => -1.0 }))
    // Lifecycle splits (VERDICT r6 #4: the r6 matrix billed the one-time
    // IVF fit + staging to the first ivf query it ran, a 17.6 s "query"
    // that is really a build): one table, run by one loop. A BUILD row's
    // `pre` is its clear by name; a SERVE row probes the warm artifact.
    // Memos are left WARM, so the matrix rows below bill the consumer
    // path, not a re-staging. Each block is one failure domain: a
    // throwing step drops that block's rows, runs its `restore`, and
    // nothing else.
    def build(key: String, clear: => Unit)(f: => Any): Step =
      () => Seq(key -> timedN(clear)(f))
    def serve(key: String, query: String): Step =
      () => Seq(key -> timedN(())(force(SparkEntry.queries(query)(spark, sfDir))))
    final case class Block(group: String, label: String, steps: Seq[Step],
        restore: () => Unit = () => ())
    import graft.operators.{Clustering, Dedup, GraphIndex, Graphs, Incremental,
      Pipeline, Similarity, TextOps}
    val lifecycle = Seq(
      // IVF (VERDICT r6 #4): build = quantizer fit + index staging
      Block("ivf_lifecycle", "ivf lifecycle split", Seq(
        build("ivf_indexed_build_sec", Artifacts.clear("kmeans", "kmeansfixed", "ivf_index"))(
          Similarity.stagedIvfIndex(spark, sfDir)),
        serve("ivf_indexed_search_sec", "q_simsearch_ivf_indexed"),
        build("ivf_append_build_sec", Artifacts.clear("ivf_index_inc"))(
          Similarity.stagedAppendedIndex(spark, sfDir)),
        serve("ivf_append_search_sec", "q_simsearch_ivf_append"),
        recall("q_simsearch_ivf_indexed", "ivf_recall_at_10"),
        recall("q_simsearch_ivf_append", "ivf_append_recall_at_10"))),
      // PQ: build = subspace codebook fits; the recall rows guard every
      // quantizer the same way
      Block("pq_lifecycle", "pq lifecycle split", Seq(
        build("pq_build_sec", Artifacts.clear("pqbooks", "ivfpqmodel"))(
          Similarity.pqCodebooks(spark, sfDir)),
        serve("pq_search_sec", "q_simsearch_pq"),
        recall("q_simsearch_pq", "pq_recall_at_10"),
        recall("q_simsearch_sq", "sq_recall_at_10"),
        recall("q_simsearch_lsh", "lsh_recall_at_10"))),
      // staged flat-PQ codes over the warm codebooks: encode + write only
      Block("pq_lifecycle", "staged-pq-index lifecycle", Seq(
        build("pq_index_build_sec", Artifacts.clear("pq_index"))(
          Similarity.stagedPqIndex(spark, sfDir)),
        serve("pq_index_search_sec", "q_simsearch_pq_indexed"))),
      // IVFPQ model: the coarse fit is cleared only here, right before
      // the build that re-warms it; if the block aborts, `restore`
      // re-warms it so the matrix ivf rows keep their basis. The flat-PQ
      // books stay warm.
      Block("pq_lifecycle", "ivfpq model lifecycle", Seq(
        build("ivfpq_build_sec", Artifacts.clear("kmeans", "kmeansfixed", "ivfpqmodel"))(
          Similarity.ivfpqModel(spark, sfDir)),
        serve("ivfpq_search_sec", "q_simsearch_ivfpq"),
        recall("q_simsearch_ivfpq", "ivfpq_recall_at_10")),
        restore = () =>
          try Clustering.fitFixed(spark, sfDir, Clustering.Iters,
            Similarity.ivfK(Similarity.corpusSize(spark, sfDir)))
          catch { case NonFatal(_) => () }),
      Block("pq_lifecycle", "ivfpq staged-index lifecycle", Seq(
        build("ivfpq_index_build_sec", Artifacts.clear("ivfpq_index"))(
          Similarity.stagedIvfpqIndex(spark, sfDir)),
        serve("ivfpq_index_search_sec", "q_simsearch_ivfpq_indexed"))),
      // the append path fits its own base model: fit + base encode + append
      Block("pq_lifecycle", "ivfpq append lifecycle", Seq(
        build("ivfpq_append_build_sec", Artifacts.clear("ivfpq_index_inc"))(
          Similarity.stagedAppendedIvfpqIndex(spark, sfDir)),
        serve("ivfpq_append_search_sec", "q_simsearch_ivfpq_append"))),
      Block("lsh_lifecycle", "lsh lifecycle", Seq(
        build("lsh_index_build_sec", Artifacts.clear("lsh_index"))(
          Similarity.stagedLshIndex(spark, sfDir)),
        serve("lsh_index_search_sec", "q_simsearch_lsh_indexed"),
        build("lsh_append_build_sec", Artifacts.clear("lsh_index_inc"))(
          Similarity.stagedAppendedLshIndex(spark, sfDir)),
        serve("lsh_append_search_sec", "q_simsearch_lsh_append"))),
      Block("bq_lifecycle", "bq lifecycle", Seq(
        build("bq_index_build_sec", Artifacts.clear("bq_index"))(
          Similarity.stagedBqIndex(spark, sfDir)),
        serve("bq_index_search_sec", "q_simsearch_bq_indexed"),
        build("bq_append_build_sec", Artifacts.clear("bq_index_inc"))(
          Similarity.stagedAppendedBqIndex(spark, sfDir)),
        serve("bq_append_search_sec", "q_simsearch_bq_append"),
        recall("q_simsearch_bq", "bq_recall_at_10"))),
      // winnow, plus the stats-grain serve (VERDICT r12 #4) over the warm
      // artifact and its doc-length sidecar
      Block("winnow_lifecycle", "winnow lifecycle", Seq(
        build("winnow_index_build_sec", Artifacts.clear("winnowidx"))(
          TextOps.stagedWinnowIndex(spark, sfDir)),
        serve("winnow_index_search_sec", "q_winnow_dups_indexed"),
        build("winnow_append_build_sec", Artifacts.clear("winnowinc"))(
          TextOps.stagedAppendedWinnowIndex(spark, sfDir)),
        serve("winnow_append_search_sec", "q_winnow_dups_append"),
        build("doclen_build_sec", Artifacts.clear("doccharlen"))(
          TextOps.stagedDocCharLens(spark, sfDir)),
        serve("winnow_stats_serve_sec", "q_winnow_stats_indexed"))),
      // dedup band index: inc = probe + verify + CC over the warm index
      Block("dedup_lifecycle", "dedup lifecycle split", Seq(
        build("dedup_append_build_sec", Artifacts.clear("bandidx", "dedupcc"))(
          Dedup.stagedBandIndex(spark, sfDir)),
        serve("dedup_append_inc_sec", "q_dedup_append"))),
      Block("web_lifecycle", "web-append lifecycle split", Seq(
        build("web_append_build_sec", Artifacts.clear("webstate"))(
          Pipeline.stagedWebState(spark, sfDir)),
        serve("web_append_inc_sec", "q_pipeline_web_append"))),
      // dup-component closure (VERDICT r11 #4): dupComponents ends in an
      // eager lineage cut, so the call IS the materialization
      Block("dedup_lifecycle", "dedup-cc lifecycle split", Seq(
        build("dedup_cc_build_sec", Artifacts.clear("dedupcc"))(
          Dedup.dupComponents(spark, sfDir)),
        serve("dedup_cc_serve_sec", "q_dedup_cc"))),
      Block("incr_lifecycle", "incr-agg lifecycle split", Seq(
        build("incr_agg_build_sec", Artifacts.clear("aggstate"))(
          Incremental.stagedAggState(spark, sfDir)),
        serve("incr_agg_merge_sec", "q_incr_agg"))),
      Block("incr_lifecycle", "incr-index lifecycle split", Seq(
        build("incr_idx_build_sec", Artifacts.clear("idxstate"))(
          Incremental.stagedIndexState(spark, sfDir)),
        serve("incr_idx_merge_sec", "q_incr_inverted"))),
      Block("incr_lifecycle", "postings lifecycle split", Seq(
        build("postings_build_sec", Artifacts.clear("postings"))(
          TextOps.stagedPostings(spark, sfDir)),
        serve("index_lookup_sec", "q_index_lookup"))),
      // co-purchase graph (VERDICT r12 #1): one lineitem pass; serves
      // report the realized early-exit rounds (VERDICT r12 #5)
      Block("graph_lifecycle", "graph lifecycle", Seq(
        build("graph_build_sec", Artifacts.clear("graph"))(
          GraphIndex.stagedGraph(spark, sfDir)),
        serve("walk_pairs_serve_sec", "q_walk_pairs"),
        serve("kcore_serve_sec", "q_kcore"),
        serve("label_prop_serve_sec", "q_label_prop"),
        serve("pagerank_serve_sec", "q_pagerank"),
        serve("ppr_serve_sec", "q_ppr"),
        () => Seq(
          "kcore_rounds_realized" -> Graphs.lastKcoreRounds.toDouble,
          "lpa_rounds_realized" -> Graphs.lastLpaRounds.toDouble))))
    val lifecycleRows: Seq[(String, Seq[(String, Double)])] = lifecycle.map { b =>
      b.group -> (try b.steps.flatMap(_()) catch { case NonFatal(e) =>
        System.err.println(s"[bench] ${b.label} failed: ${e.getMessage}")
        b.restore()
        Seq.empty
      })
    }

    // kNN-join quality guard (the q_knn_join_blocked analogue of the
    // ANN recall rows): corpus-wide recall of the IVF-blocked join vs
    // the exact join — n·k pairs, so the driver-side compare stays
    // bounded at any bench SF.
    val knnRecall: Seq[(String, Double)] =
      try {
        def pairs(name: String): Set[(Long, Long)] =
          SparkEntry.queries(name)(spark, sfDir).select("qid", "vec_id")
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val exactP = pairs("q_knn_join")
        Seq("knn_blocked_recall_at_5" ->
          pairs("q_knn_join_blocked").intersect(exactP).size.toDouble / exactP.size)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] knn recall failed: ${e.getMessage}")
        Seq.empty
      }

    // FULL-MATRIX scope (VERDICT r4 #3): one untimed-bar single run of
    // EVERY declared query, timings persisted per query — so a
    // regression in a non-headline query (e.g. the pre-fix 11.7 s
    // q_recursive) surfaces in the round's JSON instead of by accident.
    // Basis differs from the headline on purpose: no warmup, one run,
    // shared memos (first consumer of the K-Means fit pays for it, as
    // in a Verify pass) — compare per-query DELTAS across rounds, not
    // absolute values against the headline bar. Disable with
    // SPARK_GRAFT_MATRIX=0.
    //
    // Adaptive re-run (VERDICT r6 #4): this host stalls 2-3× under
    // transient external load, and a single-run matrix cannot tell a
    // stall from a regression (r6's q_stream_typecounts 3.4→11.6 s was
    // a stall). Any row whose single run exceeds the threshold is run
    // once more and the MINIMUM reported — cheap (only slow rows pay)
    // and exactly the rows where a stall misleads. The Model artifacts
    // are CLEARED before the rerun (ADVICE r7): without that, a
    // memoized row's rerun is a cache hit and min() reports cache-hit
    // time, masking real regressions in q_dedup_cc/q_kmeans/ivf rows.
    // With the model-memo clear, both runs are genuine computations: a
    // memo-warm first run stays the row's (documented,
    // first-consumer-pays) basis via min(); a memo-cold stalled first
    // run gets an honest cold rerun. Index artifacts stay warm (see
    // the kinds above): an index-consumer row keeps measuring the
    // consumer path, with the build billed by the lifecycle split.
    // Cost: later rows that would have ridden a cleared model memo
    // re-pay it once — bounded by one extra build per rerun.
    val RerunThresholdSec = 2.0
    var mFailed = List.empty[String]
    var mReruns = 0
    val matrix: Seq[(String, Double)] =
      if (sys.env.getOrElse("SPARK_GRAFT_MATRIX", "1") == "0") Seq.empty
      else SparkEntry.queries.keys.toSeq.sorted.map { name =>
        try {
          def once(): Double = timed(force(SparkEntry.queries(name)(spark, sfDir)))
          val t1 = once()
          val t = if (t1 > RerunThresholdSec) {
            mReruns += 1
            Artifacts.clear(Artifacts.Model)
            math.min(t1, once())
          } else t1
          name -> t
        } catch { case NonFatal(e) =>
          // NonFatal only (VM errors like OOM abort the whole bench —
          // continuing in a corrupted JVM would print misleading timings)
          System.err.println(s"[bench] matrix $name failed: ${e.getMessage}")
          mFailed ::= name
          name -> -1.0
        }
      }

    def obj(xs: Seq[(String, Double)]) =
      xs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val (headRes, extraRes) =
      results.partition { case (n, _) => headlinePicked.contains(n) }
    // failed/degraded/n_queries are headline-scoped like value/queries:
    // an extra's failure must not mark the headline basis as broken, and
    // n_queries stays comparable across runs with and without extras.
    val (headFailed, extraFailed) = failed.partition(headlinePicked.contains)
    val (headDegraded, extraDegraded) =
      degraded.partition(headlinePicked.contains)
    val qs = obj(headRes)
    val total = headRes.collect { case (_, v) if v >= 0 => v }.sum
    val mTotal = matrix.collect { case (_, v) if v >= 0 => v }.sum
    // one JSON object per group, in first-run order
    val lifecycleJson = lifecycle.map(_.group).distinct.map { g =>
      s""""$g":${obj(lifecycleRows.collect { case (`g`, xs) => xs }.flatten)}"""
    }.mkString(",")
    def arr(xs: List[String]) =
      xs.reverse.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Truncation-proofing (VERDICT r5 #5): the driver tail-captures stdout,
    // so the ~12 KB matrix object gets its own line printed FIRST and the
    // compact headline line (the contract's "one JSON line") goes LAST —
    // a tail capture of any length that includes the final line parses.
    // Both lines are also mirrored to bench_last.json in the CWD.
    val matrixLine = s"""{"metric":"matrix","scope":"matrix","matrix":${obj(matrix)},"matrix_total":$mTotal,"matrix_failed":${arr(mFailed)},"matrix_n":${matrix.count(_._2 >= 0)},"matrix_runs_per_query":1,"matrix_rerun_threshold_sec":$RerunThresholdSec,"matrix_rerun_n":$mReruns,"sf":"$sfDir"}"""
    val headlineLine = s"""{"metric":"total","value":$total,"unit":"sec","scope":"headline","queries":$qs,"extra":${obj(extraRes)},"extra_failed":${arr(extraFailed)},"extra_degraded":${arr(extraDegraded)},"failed":${arr(headFailed)},"degraded":${arr(headDegraded)},"n_queries":${headRes.count(_._2 >= 0)},"runs_per_query":$Runs,"warmup_per_query":1,"memo_cleared_between_runs":true,"agg":"min","lifecycle_runs":$LifecycleRuns,"lifecycle_agg":"min",$lifecycleJson,"knn_recall":${obj(knnRecall)},"matrix_total":$mTotal,"matrix_failed":${arr(mFailed)},"matrix_n":${matrix.count(_._2 >= 0)},"sf":"$sfDir"}"""
    try {
      val w = new java.io.PrintWriter("bench_last.json", "UTF-8")
      try { w.println(matrixLine); w.println(headlineLine) } finally w.close()
    } catch { case NonFatal(_) => () } // file mirror is best-effort
    if (matrix.nonEmpty) println(matrixLine)
    println(headlineLine)
    spark.stop()
  }
}
