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
    // IVF index lifecycle split (VERDICT r6 #4): the r6 matrix billed
    // the one-time quantizer fit + full index staging to the first ivf
    // query it ran (a 17.6 s "query" that is really a build). Time the
    // two phases separately — build = fit + stage from cold caches,
    // search = the probe query over the warm index (the amortized
    // steady state a real pipeline sees) — and leave the memos WARM so
    // the matrix rows below also measure search, not staging.
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
    // per-round ANN quality guard (VERDICT r7 #4): recall@10 of every
    // ANN path vs the exact brute-force result, measured on every bench
    // run so a quantizer/probe-sizing change that silently degrades
    // recall shows up in the round JSON. Result sets are nQueries × k
    // rows — driver-side compare is trivially bounded. Helpers (and the
    // ONE brute-force run) are shared by the ivf and pq lifecycle
    // blocks below.
    def topk(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, sfDir).select("qid", "vec_id")
        .collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact: Map[Long, Set[Long]] =
      try topk("q_simsearch") catch { case NonFatal(e) =>
        System.err.println(s"[bench] exact topk failed: ${e.getMessage}")
        Map.empty
      }
    def recall(name: String): Seq[(String, Double)] =
      if (exact.isEmpty) Seq.empty   // no denominator → omit, not a fake 0.0
      else Seq(s"${name.stripPrefix("q_simsearch_")}_recall_at_10" ->
        (try {
          val ann = topk(name)
          exact.map { case (q, ex) =>
            ann.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
          }.sum / exact.size
        } catch { case NonFatal(_) => -1.0 }))
    val ivfLifecycle: Seq[(String, Double)] =
      try {
        val bIdx = timedN(Artifacts.clear("kmeans", "kmeansfixed", "ivf_index"))(
          graft.operators.Similarity.stagedIvfIndex(spark, sfDir))
        val sIdx = timedN(())(force(SparkEntry.queries("q_simsearch_ivf_indexed")(spark, sfDir)))
        val bApp = timedN(Artifacts.clear("ivf_index_inc"))(
          graft.operators.Similarity.stagedAppendedIndex(spark, sfDir))
        val sApp = timedN(())(force(SparkEntry.queries("q_simsearch_ivf_append")(spark, sfDir)))
        Seq("ivf_indexed_build_sec" -> bIdx, "ivf_indexed_search_sec" -> sIdx,
          "ivf_append_build_sec" -> bApp, "ivf_append_search_sec" -> sApp) ++
          recall("q_simsearch_ivf_indexed").map { case (_, v) => "ivf_recall_at_10" -> v } ++
          recall("q_simsearch_ivf_append").map { case (_, v) => "ivf_append_recall_at_10" -> v }
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] ivf lifecycle split failed: ${e.getMessage}")
        Seq.empty
      }

    // PQ model lifecycle split (the codebook analogue of the ivf index
    // split): build = subspace codebook fits (plus the coarse fit for
    // ivfpq) from cold caches, search = the encode+ADC+re-rank query
    // over the warm model. Model memos left warm so the matrix rows
    // below bill the consumer path; the matrix RERUN clears them (they
    // are model memos), so a rerun re-pays one fit — documented cost.
    // Recall rows guard quantizer changes the same way the ivf rows do.
    val pqLifecycle: Seq[(String, Double)] =
      try {
        val bPq = timedN(Artifacts.clear("pqbooks", "ivfpqmodel"))(
          graft.operators.Similarity.pqCodebooks(spark, sfDir))
        val sPq = timedN(())(force(SparkEntry.queries("q_simsearch_pq")(spark, sfDir)))
        Seq("pq_build_sec" -> bPq, "pq_search_sec" -> sPq) ++
          recall("q_simsearch_pq") ++
          recall("q_simsearch_sq") ++ recall("q_simsearch_lsh")
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] pq lifecycle split failed: ${e.getMessage}")
        Seq.empty
      }

    // Staged flat-PQ codes table in its OWN try (ADVICE r10): a
    // staged-index failure must not discard the pq_build/pq_search
    // metrics already measured above. Rides the warm codebooks:
    // build bills encode+partitioned-write only.
    val pqIndexLifecycle: Seq[(String, Double)] =
      try {
        val bPqIdx = timedN(Artifacts.clear("pq_index"))(
          graft.operators.Similarity.stagedPqIndex(spark, sfDir))
        val sPqIdx = timedN(())(force(SparkEntry.queries("q_simsearch_pq_indexed")(spark, sfDir)))
        Seq("pq_index_build_sec" -> bPqIdx, "pq_index_search_sec" -> sPqIdx)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] staged-pq-index lifecycle failed: ${e.getMessage}")
        Seq.empty
      }

    // IVFPQ model lifecycle, its OWN try. The coarse fit is cleared
    // ONLY here, immediately before the build that re-warms it, so
    // ivfpq build bills fit+codebooks on BOTH runs; the catch restores
    // the memo if this step aborts (the ivf lifecycle above left it
    // warm on purpose — the matrix ivf rows must not silently change
    // basis on this failure path). Only "ivfpqmodel" is cleared, not
    // the flat-PQ books measured above — they stay warm, the contract
    // the matrix pq rows rely on.
    val ivfpqModelLifecycle: Seq[(String, Double)] =
      try {
        val bIvfpq = timedN(Artifacts.clear("kmeans", "kmeansfixed", "ivfpqmodel"))(
          graft.operators.Similarity.ivfpqModel(spark, sfDir))
        val sIvfpq = timedN(())(force(SparkEntry.queries("q_simsearch_ivfpq")(spark, sfDir)))
        Seq("ivfpq_build_sec" -> bIvfpq, "ivfpq_search_sec" -> sIvfpq) ++
          recall("q_simsearch_ivfpq")
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] ivfpq model lifecycle failed: ${e.getMessage}")
        try graft.operators.Clustering.fitFixed(spark, sfDir,
          graft.operators.Clustering.Iters,
          graft.operators.Similarity.ivfK(
            graft.operators.Similarity.corpusSize(spark, sfDir)))
        catch { case NonFatal(_) => () }
        Seq.empty
      }

    // Staged-IVFPQ index build/search in its OWN try (ADVICE r9): a
    // failure in the staged-index path must not discard the six
    // PQ/IVFPQ metrics already measured above. Rides the warm ivfpq
    // model: build bills the one-time encode+partitioned-write, search
    // the pruned serve path (the per-query-batch cost a deployment
    // actually pays).
    val ivfpqIndexLifecycle: Seq[(String, Double)] =
      try {
        val bIvfpqIdx = timedN(Artifacts.clear("ivfpq_index"))(
          graft.operators.Similarity.stagedIvfpqIndex(spark, sfDir))
        val sIvfpqIdx = timedN(())(force(SparkEntry.queries("q_simsearch_ivfpq_indexed")(spark, sfDir)))
        Seq("ivfpq_index_build_sec" -> bIvfpqIdx,
          "ivfpq_index_search_sec" -> sIvfpqIdx)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] ivfpq staged-index lifecycle failed: ${e.getMessage}")
        Seq.empty
      }

    // Incremental IVFPQ build/search — its OWN try so a failure here
    // cannot discard the eight PQ/IVFPQ metrics measured above (the
    // append path uses an independent base-fit model; build bills
    // base-model fit + base encode + delta append, search the pruned
    // serve path).
    val ivfpqAppendLifecycle: Seq[(String, Double)] =
      try {
        val bApp = timedN(Artifacts.clear("ivfpq_index_inc"))(
          graft.operators.Similarity.stagedAppendedIvfpqIndex(spark, sfDir))
        val sApp = timedN(())(force(SparkEntry.queries("q_simsearch_ivfpq_append")(spark, sfDir)))
        Seq("ivfpq_append_build_sec" -> bApp, "ivfpq_append_search_sec" -> sApp)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] ivfpq append lifecycle failed: ${e.getMessage}")
        Seq.empty
      }

    // Staged/appended LSH index lifecycle (round 10, its own try):
    // build = the one-time corpus signature pass + partitioned write;
    // search = query-batch signatures + pruned bucket-group reads +
    // candidate scoring (no corpus signature pass — the staging win).
    val lshLifecycle: Seq[(String, Double)] =
      try {
        val bIdx = timedN(Artifacts.clear("lsh_index"))(
          graft.operators.Similarity.stagedLshIndex(spark, sfDir))
        val sIdx = timedN(())(force(SparkEntry.queries("q_simsearch_lsh_indexed")(spark, sfDir)))
        val bApp = timedN(Artifacts.clear("lsh_index_inc"))(
          graft.operators.Similarity.stagedAppendedLshIndex(spark, sfDir))
        val sApp = timedN(())(force(SparkEntry.queries("q_simsearch_lsh_append")(spark, sfDir)))
        Seq("lsh_index_build_sec" -> bIdx, "lsh_index_search_sec" -> sIdx,
          "lsh_append_build_sec" -> bApp, "lsh_append_search_sec" -> sApp)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] lsh lifecycle failed: ${e.getMessage}")
        Seq.empty
      }

    // Staged/appended BQ signature index (round 12, its own try):
    // build = the one-time corpus sign-bit pass + slim flat write
    // (8·W bytes/vector); search = query signatures + Hamming scan of
    // the artifact + exact re-rank (no corpus signature pass). The
    // recall row guards the Hamming shortlist the same way the
    // pq/sq/lsh rows guard theirs.
    val bqLifecycle: Seq[(String, Double)] =
      try {
        val bIdx = timedN(Artifacts.clear("bq_index"))(
          graft.operators.Similarity.stagedBqIndex(spark, sfDir))
        val sIdx = timedN(())(force(SparkEntry.queries("q_simsearch_bq_indexed")(spark, sfDir)))
        val bApp = timedN(Artifacts.clear("bq_index_inc"))(
          graft.operators.Similarity.stagedAppendedBqIndex(spark, sfDir))
        val sApp = timedN(())(force(SparkEntry.queries("q_simsearch_bq_append")(spark, sfDir)))
        Seq("bq_index_build_sec" -> bIdx, "bq_index_search_sec" -> sIdx,
          "bq_append_build_sec" -> bApp, "bq_append_search_sec" -> sApp) ++
          recall("q_simsearch_bq")
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] bq lifecycle failed: ${e.getMessage}")
        Seq.empty
      }

    // Staged/appended winnow substring index (round 10, its own try):
    // build = the one-time corpus fingerprint pass + partitioned
    // write; serve = the dup-pair query over the artifact (no corpus
    // fingerprint pass, no documents scan — the staging win).
    val winnowLifecycle: Seq[(String, Double)] =
      try {
        val bIdx = timedN(Artifacts.clear("winnowidx"))(
          graft.operators.TextOps.stagedWinnowIndex(spark, sfDir))
        val sIdx = timedN(())(force(SparkEntry.queries("q_winnow_dups_indexed")(spark, sfDir)))
        val bApp = timedN(Artifacts.clear("winnowinc"))(
          graft.operators.TextOps.stagedAppendedWinnowIndex(spark, sfDir))
        val sApp = timedN(())(force(SparkEntry.queries("q_winnow_dups_append")(spark, sfDir)))
        // stats-grain serve (VERDICT r12 #4): per-doc coverage from the
        // warm artifact + the doc-length sidecar — the ≤~10 s answer to
        // "how duplicated is each doc" beside the pair-mass-bound serve
        val bLen = timedN(Artifacts.clear("doccharlen"))(
          graft.operators.TextOps.stagedDocCharLens(spark, sfDir))
        val sStats = timedN(())(force(SparkEntry.queries("q_winnow_stats_indexed")(spark, sfDir)))
        Seq("winnow_index_build_sec" -> bIdx, "winnow_index_search_sec" -> sIdx,
          "winnow_append_build_sec" -> bApp, "winnow_append_search_sec" -> sApp,
          "doclen_build_sec" -> bLen, "winnow_stats_serve_sec" -> sStats)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] winnow lifecycle failed: ${e.getMessage}")
        Seq.empty
      }

    // Dedup band-index lifecycle split (the q_dedup_append analogue of
    // the ivf split above): build = one-time base band/shingle/pair
    // staging from cold caches; inc = the incremental batch path over
    // the warm index (probe + verify + CC — the amortized per-batch
    // cost a daily-ingest pipeline pays). Memos left WARM so the
    // matrix row below measures the incremental path, not staging.
    val dedupLifecycle: Seq[(String, Double)] =
      try {
        val bBand = timedN(Artifacts.clear("bandidx", "dedupcc"))(
          graft.operators.Dedup.stagedBandIndex(spark, sfDir))
        val sInc = timedN(())(force(SparkEntry.queries("q_dedup_append")(spark, sfDir)))
        Seq("dedup_append_build_sec" -> bBand, "dedup_append_inc_sec" -> sInc)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] dedup lifecycle split failed: ${e.getMessage}")
        Seq.empty
      }

    // Web-curation chain lifecycle split (round 15, the
    // q_pipeline_web_append analogue of the dedup split above): build =
    // one-time base stage-flag + band/shingle/pair/contamination-index
    // staging from a cold cache; inc = the weekly-increment path over
    // the warm artifacts (|delta| text work + index probes + id-grain
    // ledger algebra).
    val webLifecycle: Seq[(String, Double)] =
      try {
        val bWeb = timedN(Artifacts.clear("webstate"))(
          graft.operators.Pipeline.stagedWebState(spark, sfDir))
        val sWeb = timedN(())(
          force(SparkEntry.queries("q_pipeline_web_append")(spark, sfDir)))
        Seq("web_append_build_sec" -> bWeb, "web_append_inc_sec" -> sWeb)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] web-append lifecycle split failed: ${e.getMessage}")
        Seq.empty
      }

    // Dup-component closure lifecycle (VERDICT r11 #4): build = the
    // MinHash + LSH + exact-verify + CC propagation from a cold memo —
    // billed once, like an ANN index build (dupComponents ends in an
    // eager lineage cut, so the call IS the materialization); serve =
    // the q_dedup_cc consumer row over the warm closure. The memo is
    // left warm and matrix reruns do not clear it (it is an Index
    // artifact), so the four consumer rows (cc/stats/keep_best/
    // split_leakage) bill serve cost regardless of matrix ordering —
    // the r11 "keep_best rides its alphabetical predecessor" artifact.
    val dedupCcLifecycle: Seq[(String, Double)] =
      try {
        val bCc = timedN(Artifacts.clear("dedupcc"))(
          graft.operators.Dedup.dupComponents(spark, sfDir))
        val sCc = timedN(())(force(SparkEntry.queries("q_dedup_cc")(spark, sfDir)))
        Seq("dedup_cc_build_sec" -> bCc, "dedup_cc_serve_sec" -> sCc)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] dedup-cc lifecycle split failed: ${e.getMessage}")
        Seq.empty
      }

    // Incremental-aggregate lifecycle split (the q_incr_agg analogue):
    // build = one-time base partial-agg state staging from a cold
    // cache; merge = the state∪delta re-aggregation over the warm
    // state (the amortized per-refresh cost). Memo left WARM for the
    // matrix row, same contract as the other staged artifacts.
    val incrLifecycle: Seq[(String, Double)] =
      try {
        val bState = timedN(Artifacts.clear("aggstate"))(
          graft.operators.Incremental.stagedAggState(spark, sfDir))
        val sMerge = timedN(())(force(SparkEntry.queries("q_incr_agg")(spark, sfDir)))
        Seq("incr_agg_build_sec" -> bState, "incr_agg_merge_sec" -> sMerge)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] incr-agg lifecycle split failed: ${e.getMessage}")
        Seq.empty
      }

    // Same split for the maintained inverted index and the staged
    // postings artifact (each its OWN try, so a failure here never
    // discards the incr-agg timings already measured above): build =
    // one-time staging, serve = the amortized per-refresh merge /
    // per-query pruned lookup.
    val idxLifecycle: Seq[(String, Double)] =
      (try {
        val bIdx = timedN(Artifacts.clear("idxstate"))(
          graft.operators.Incremental.stagedIndexState(spark, sfDir))
        val sIdx = timedN(())(force(SparkEntry.queries("q_incr_inverted")(spark, sfDir)))
        Seq("incr_idx_build_sec" -> bIdx, "incr_idx_merge_sec" -> sIdx)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] incr-index lifecycle split failed: ${e.getMessage}")
        Seq.empty
      }) ++ (try {
        val bPost = timedN(Artifacts.clear("postings"))(
          graft.operators.TextOps.stagedPostings(spark, sfDir))
        val sLook = timedN(())(force(SparkEntry.queries("q_index_lookup")(spark, sfDir)))
        Seq("postings_build_sec" -> bPost, "index_lookup_sec" -> sLook)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] postings lifecycle split failed: ${e.getMessage}")
        Seq.empty
      })

    // Staged co-purchase graph lifecycle (VERDICT r12 #1): build = ONE
    // lineitem pass fanned into edge lists + CSR adjacency + the walk
    // corpus + stats, from a cold memo — the once-per-corpus-version
    // ingest job; serves = representative consumers over the warm
    // artifact (walk_pairs was the measured re-derivation victim at
    // 4.6× per decade; kcore/label_prop also report their REALIZED
    // early-exit round counts, VERDICT r12 #5).
    val graphLifecycle: Seq[(String, Double)] =
      try {
        val bG = timedN(Artifacts.clear("graph"))(
          graft.operators.GraphIndex.stagedGraph(spark, sfDir))
        val sWp = timedN(())(force(SparkEntry.queries("q_walk_pairs")(spark, sfDir)))
        val sKc = timedN(())(force(SparkEntry.queries("q_kcore")(spark, sfDir)))
        val sLp = timedN(())(force(SparkEntry.queries("q_label_prop")(spark, sfDir)))
        // the round-14 bucketed-serve beneficiaries: per-round telemetry
        // of the exchange-free iteration cores over the warm artifact
        val sPr = timedN(())(force(SparkEntry.queries("q_pagerank")(spark, sfDir)))
        val sPpr = timedN(())(force(SparkEntry.queries("q_ppr")(spark, sfDir)))
        Seq("graph_build_sec" -> bG,
          "walk_pairs_serve_sec" -> sWp,
          "kcore_serve_sec" -> sKc,
          "label_prop_serve_sec" -> sLp,
          "pagerank_serve_sec" -> sPr,
          "ppr_serve_sec" -> sPpr,
          "kcore_rounds_realized" -> graft.operators.Graphs.lastKcoreRounds.toDouble,
          "lpa_rounds_realized" -> graft.operators.Graphs.lastLpaRounds.toDouble)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] graph lifecycle failed: ${e.getMessage}")
        Seq.empty
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
    def arr(xs: List[String]) =
      xs.reverse.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Truncation-proofing (VERDICT r5 #5): the driver tail-captures stdout,
    // so the ~12 KB matrix object gets its own line printed FIRST and the
    // compact headline line (the contract's "one JSON line") goes LAST —
    // a tail capture of any length that includes the final line parses.
    // Both lines are also mirrored to bench_last.json in the CWD.
    val matrixLine = s"""{"metric":"matrix","scope":"matrix","matrix":${obj(matrix)},"matrix_total":$mTotal,"matrix_failed":${arr(mFailed)},"matrix_n":${matrix.count(_._2 >= 0)},"matrix_runs_per_query":1,"matrix_rerun_threshold_sec":$RerunThresholdSec,"matrix_rerun_n":$mReruns,"sf":"$sfDir"}"""
    val headlineLine = s"""{"metric":"total","value":$total,"unit":"sec","scope":"headline","queries":$qs,"extra":${obj(extraRes)},"extra_failed":${arr(extraFailed)},"extra_degraded":${arr(extraDegraded)},"failed":${arr(headFailed)},"degraded":${arr(headDegraded)},"n_queries":${headRes.count(_._2 >= 0)},"runs_per_query":$Runs,"warmup_per_query":1,"memo_cleared_between_runs":true,"agg":"min","lifecycle_runs":$LifecycleRuns,"lifecycle_agg":"min","ivf_lifecycle":${obj(ivfLifecycle)},"pq_lifecycle":${obj(pqLifecycle ++ pqIndexLifecycle ++ ivfpqModelLifecycle ++ ivfpqIndexLifecycle ++ ivfpqAppendLifecycle)},"lsh_lifecycle":${obj(lshLifecycle)},"bq_lifecycle":${obj(bqLifecycle)},"winnow_lifecycle":${obj(winnowLifecycle)},"dedup_lifecycle":${obj(dedupLifecycle ++ dedupCcLifecycle)},"web_lifecycle":${obj(webLifecycle)},"incr_lifecycle":${obj(incrLifecycle ++ idxLifecycle)},"graph_lifecycle":${obj(graphLifecycle)},"knn_recall":${obj(knnRecall)},"matrix_total":$mTotal,"matrix_failed":${arr(mFailed)},"matrix_n":${matrix.count(_._2 >= 0)},"sf":"$sfDir"}"""
    try {
      val w = new java.io.PrintWriter("bench_last.json", "UTF-8")
      try { w.println(matrixLine); w.println(headlineLine) } finally w.close()
    } catch { case NonFatal(_) => () } // file mirror is best-effort
    if (matrix.nonEmpty) println(matrixLine)
    println(headlineLine)
    spark.stop()
  }
}
