package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Iterative graph analytics beyond `Dedup.dupComponents`: PageRank
  * (Page, Brin, Motwani & Winograd 1999) over the part↔supplier
  * co-purchase graph — node importance in the "which entities anchor
  * this catalog" sense, the same iterative-refinement family as the
  * reference's unfinished K-Means sketch
  * (`/root/reference/kmeans.go:14-25`: split → local step → keyed
  * merge → repeat).
  *
  * Everything is INTEGER arithmetic: ranks are scaled to 10¹²
  * micro-units, contributions are floor divisions (`r div deg`), the
  * damping factor is `·85 div 100`. Integer sums are exact and
  * reassociation-proof, so the result is BIT-identical across engines,
  * partition counts, and AQE replans — which makes a 5-iteration run
  * DuckDB-oracle-checkable (the oracle unrolls the loop as chained
  * CTEs), where float PageRank would diverge in the last ulps on every
  * engine pair. The deliberate cost: each division floors away < 1
  * micro-unit of rank mass — at 10¹² scaling that bias is ~10⁻¹² per
  * hop, far below any ranking-relevant signal.
  *
  * Shape at scale: the edge list shuffles once per iteration, keyed on
  * the join side (src), then aggregates per dst — both partial/final;
  * per-round lineage is cut with Engine.cut (the dupComponents
  * pattern). Driver state is nothing at all: a FIXED iteration count,
  * the production norm for PageRank at scale (convergence-delta
  * variants fold a metric into the same aggregate — see
  * `dupComponents`' Observation). Long overflow bound: 85·Σ
  * contributions ≤ 85·n·10¹² must stay < 2⁶³ → safe to n ≈ 10⁵ nodes
  * at this scaling; larger graphs lower Scale proportionally (the
  * ranking is scale-invariant).
  */
object Graphs {

  /** Rank unit: 1.0 of probability mass = 10¹² micro-units. */
  val Scale = 1000000000000L

  /** q_pagerank: 5 damped iterations over the bipartite
    * part↔supplier graph (nodes: part·2, supplier·2+1 — disjoint id
    * spaces; edges both directions, so every node has in- and
    * out-degree and no dangling-mass handling is needed). Edges served
    * from the staged graph artifact ([[GraphIndex.bip]] — identical
    * rows to the inline derivation, build billed once per corpus). */
  def pageRank(spark: SparkSession, dir: String): DataFrame =
    // the bucketed scan is served RAW, not persist()ed — measured and
    // rejected at sf10 (BASELINE round-14): an InMemoryRelation does
    // preserve the bucketed partitioning, but the deserialized |E|
    // cache competes with execution memory at the 110M-row grain
    // (pagerank 19.0 → 32.7 s persisted) while the per-round re-scan
    // is a column-pruned page-cache read
    pageRankEd(GraphIndex.bipDegreed(spark, dir), 5)

  /** df form: expects (src: Long, dst: Long) edges; every node must
    * have at least one out-edge (add reverse edges or self-loops
    * upstream for graphs with sinks — unhandled dangling nodes would
    * silently leak rank mass). */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    val e = graft.Engine.cut(edges)
    val ed = graft.Engine.cut(
      e.join(e.groupBy("src").agg(count(lit(1)).as("d")), "src")
        .repartition(col("src")))
    // the raw-edge cut is dead once the degree-folded frame is
    // materialized (ADVICE r13 — it used to pin an extra |E|-grain
    // block copy for the whole iteration)
    graft.Engine.free(e)
    pageRankEd(ed, iters)
  }

  /** Iteration core over DEGREE-FOLDED edges (src, dst, d) — the
    * out-degree join is loop-invariant, so the catalog form serves it
    * from the staged artifact ([[GraphIndex.bipDegreed]]) and only
    * this core runs per query. `ed` must arrive HASH-LAID-OUT by src —
    * the catalog passes the BUCKETED artifact scan
    * (HashPartitioning(src, its recorded bucket count) straight off
    * the files, so no serve ever re-pays an |E| exchange — VERDICT r13
    * #1; the df form cuts an explicit repartition). Each round's join
    * then plans exchange-free on the edge side; the V-grain ranks side is the
    * hash-build (the r13 sf1 probe measured the old per-round deg
    * join flipping from broadcast to a full edge-table SMJ past the
    * 10 MB threshold — a 15x/decade ratio on a linear algorithm). */
  private def pageRankEd(ed: DataFrame, iters: Int): DataFrame = {
    var ranks = graft.Engine.cut(
      ed.select(col("src").as("node")).distinct()
        .select(col("node"), lit(Scale).as("r")))
    for (_ <- 1 to iters) {
      // ranks is node-grain (|V| rows, the small side): hash-build it
      // instead of sorting 2|E| rows per round; both sides arrive
      // partitioned on the key (ed staged above; ranks out of the
      // previous round's groupBy), so the join plans exchange-free
      val prev = ranks
      ranks = ed.join(ranks.hint("shuffle_hash"), col("src") === col("node"))
        .select(col("dst"), expr("r div d").as("c"))
        .groupBy("dst")
        .agg(sum("c").as("s"))
        .select(col("dst").as("node"),
          (lit(Scale * 15L / 100L) + expr("(85 * s) div 100")).as("r"))
        .transform(graft.Engine.cut(_))
      graft.Engine.free(prev)
    }
    // the returned frame is itself a cut — the df form's staged edge
    // copy is dead (no-op for the catalog's bucketed table scan;
    // without this, consecutive df-form serves each pin an |E|-grain
    // block copy until a GC happens to run the context cleaner — the
    // r13 sf10 band OOM'd on exactly that accumulation)
    graft.Engine.free(ed)
    ranks
  }

  /** q_ppr: PERSONALIZED PageRank — the teleport vector concentrated
    * on a seed set instead of uniform (Haveliwala, WWW 2002; the
    * TrustRank/recommendation form of the walk: "importance as seen
    * FROM these nodes"). Same integer discipline as [[pageRank]]
    * (micro-unit ranks, floor-div contributions, ·85 div 100 damping),
    * same graph (part↔supplier bipartite) — only the teleport term
    * changes: each round adds 0.15·Scale to SEED nodes only, and the
    * walk-mass sum is taken over ALL nodes via a left join from the
    * rank table (a non-seed node with no in-mass this round still
    * exists with its teleport 0). Ranks concentrate around the seeds'
    * neighborhoods — the q_bfs frontier weighted by random-walk
    * probability rather than hop count.
    *
    * Shape at scale: identical to pageRank — one edge shuffle + one
    * partial/final agg per round, plus a broadcast seed join; node set
    * fixed across rounds. Seeds: the min-nation suppliers (the bfs
    * convention). */
  def personalizedPageRank(spark: SparkSession, dir: String): DataFrame = {
    val sup = Tables(spark, dir, "supplier")
    val minNation = sup.agg(min(col("s_nationkey")).as("mn"))
    val seeds = sup.join(broadcast(minNation), col("s_nationkey") === col("mn"))
      .select((col("s_suppkey") * 2 + 1).cast("long").as("node")).distinct()
    // raw bucketed serve — the pageRank persist-rejection note
    pprEd(GraphIndex.bipDegreed(spark, dir), seeds, 5)
  }

  /** df form: (src, dst) edges (every node needs an out-edge — the
    * pageRank dangling-mass caveat) + (node) seeds ⊆ nodes. */
  def personalizedPageRank(edges: DataFrame, seedsIn: DataFrame,
      iters: Int): DataFrame = {
    val e = graft.Engine.cut(edges)
    val ed = graft.Engine.cut(
      e.join(e.groupBy("src").agg(count(lit(1)).as("d")), "src")
        .repartition(col("src")))
    graft.Engine.free(e) // dead once the folded frame is cut (ADVICE r13)
    pprEd(ed, seedsIn, iters)
  }

  /** Iteration core over degree-folded (src, dst, d) edges — the
    * [[pageRankEd]] discipline (src-laid-out input: bucketed artifact
    * scan from the catalog, explicit cut repartition from the df form)
    * with the personalized teleport. */
  private def pprEd(ed: DataFrame, seedsIn: DataFrame,
      iters: Int): DataFrame = {
    val nodes = graft.Engine.cut(
      ed.select(col("src").as("node")).distinct().repartition(col("node")))
    // seeds = one nation's suppliers: dimension-bounded (|supplier| /
    // |nation|), broadcast-safe at any corpus scale
    val seeds = graft.Engine.cut(
      seedsIn.select(col("node")).distinct().withColumn("tp", lit(Scale * 15L / 100L)))
    // start: all teleport mass on the seeds (the personalized prior)
    var ranks = nodes.join(broadcast(seeds), Seq("node"), "left")
      .select(col("node"),
        coalesce(expr("tp * 100 div 15"), lit(0L)).as("r"))
      .transform(graft.Engine.cut(_))
    for (_ <- 1 to iters) {
      val mass = ed.join(ranks.hint("shuffle_hash"), col("src") === col("node"))
        .select(col("dst"), expr("r div d").as("c"))
        .groupBy(col("dst").as("node"))
        .agg(sum("c").as("s"))
      // left joins from the FULL node set: zero-in-mass nodes keep a
      // row (their rank is teleport-only — 0 for non-seeds); nodes
      // and mass are both node-partitioned, so the outer join is
      // exchange-free with mass as the hash-build side
      val prev = ranks
      ranks = nodes
        .join(mass.hint("shuffle_hash"), Seq("node"), "left")
        .join(broadcast(seeds), Seq("node"), "left")
        .select(col("node"),
          (coalesce(col("tp"), lit(0L)) +
            expr("(85 * coalesce(s, 0)) div 100")).as("r"))
        .transform(graft.Engine.cut(_))
      graft.Engine.free(prev)
    }
    // ranks is a cut: the loop-invariant frames are dead (ed free is a
    // no-op for the catalog's bucketed scan)
    graft.Engine.free(ed)
    graft.Engine.free(nodes)
    graft.Engine.free(seeds)
    ranks
  }

  /** q_degree_dist: degree distribution of the part co-purchase graph —
    * the first profiling question of any graph workload (is this
    * power-law? where is the hub tail that breaks naive wedge/join
    * strategies — exactly the skew `triangles`' degree ordering
    * defends against). Wordcount-shaped: edge endpoints → per-node
    * degree (partial/final count) → per-degree node count
    * (partial/final again); two small shuffles, no joins. */
  def degreeDist(spark: SparkSession, dir: String): DataFrame =
    // the staged both-direction adjacency IS the unioned endpoint list,
    // bucketed by src — the per-node degree agg runs exchange-free
    GraphIndex.projEdges(spark, dir)
      .groupBy(col("src").as("n")).agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))

  /** df form: deduplicated undirected (u, v) edges, u < v. */
  def degreeDist(edges: DataFrame): DataFrame = {
    edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
  }

  /** q_triangle: triangle count + global clustering coefficient over the
    * part co-purchase graph (parts appearing in the same order). Uses
    * DEGREE-ORDERED edge orientation (Cohen, "Graph Twiddling in a
    * MapReduce World", CiSE 2009; Suri & Vassilvitskii, "Counting
    * Triangles and the Curse of the Last Reducer", WWW 2011): each
    * undirected edge is directed from its lower-(degree, id) endpoint to
    * the higher, wedges are enumerated only at the LOW-rank apex, and a
    * semi-join against the oriented edge list closes them. Every node's
    * oriented out-degree is O(√m), so the wedge count is Σ C(outdeg, 2)
    * ≤ O(m^1.5) REGARDLESS of skew — the naive id-ordered wedge join
    * explodes quadratically at the highest-degree hub ("the curse of the
    * last reducer"), degree ordering is exactly the fix. All joins are
    * equi-joins (shuffle hash/sort-merge), the closing check is a
    * left_semi (ships keys only, stops at first match, never
    * materializes the pair row). Counts are exact integers; the one
    * double (clustering coefficient 3T/W) is a fixed-order int→double
    * division, bit-identical to the oracle with no rounding. */
  def triangles(spark: SparkSession, dir: String): DataFrame =
    triangles(GraphIndex.proj(spark, dir))

  /** df form: expects a deduplicated undirected edge list (u: Long,
    * v: Long) normalized to u < v, no self-loops. */
  def triangles(edgesIn: DataFrame): DataFrame = {
    val edges = graft.Engine.cut(edgesIn) // reused 4× below
    val deg = degreeTable(edges)
    val tri = triangleCount(edges, deg)
    val nodeStats = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("(d * (d - 1)) div 2")).as("n_wedges"))
    val edgeStats = edges.agg(count(lit(1)).as("n_edges"))
    nodeStats.crossJoin(edgeStats).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        (lit(3.0) * col("n_triangles").cast("double") / col("n_wedges").cast("double"))
          .as("clustering"))
  }

  /** (n, d) undirected degree table of a u<v edge list. */
  private def degreeTable(edges: DataFrame): DataFrame =
    edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))

  /** Degree-ordered exact triangle count (1-row `n_triangles`) — the
    * O(m^1.5) wedge pipeline shared by [[triangles]] and
    * [[trianglesApprox]]. `edges` must be lineage-cut (reused 3×). */
  private def triangleCount(edges: DataFrame, deg: DataFrame): DataFrame = {
    // orient low-(d, id) → high-(d, id); u < v already, so ties go u→v
    val oriented = edges
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv")), col("u"))
          .otherwise(col("v")).as("x"),
        when(col("du") < col("dv") || (col("du") === col("dv")), col("v"))
          .otherwise(col("u")).as("y"),
        when(col("du") < col("dv") || (col("du") === col("dv")), col("dv"))
          .otherwise(col("du")).as("dy"))
      .transform(graft.Engine.cut(_))
    // wedges at the apex x, unordered pair {y1, y2} taken in rank order
    val wedges = oriented.select(col("x"), col("y").as("y1"), col("dy").as("d1"))
      .join(oriented.select(col("x"), col("y").as("y2"), col("dy").as("d2")), "x")
      .where(col("d1") < col("d2") || (col("d1") === col("d2") && col("y1") < col("y2")))
      .select("y1", "y2")
    // rank(y1) < rank(y2) ⇒ a closing edge, if present, is oriented y1→y2.
    // shuffle_hash on the EDGE side: the stream side is the O(m^1.5)
    // wedge expansion, and Catalyst's default sort-merge would sort it
    // (measured 41M wedges at sf0.1 — the single biggest cost of the
    // whole query, 7.6 s → 2.4 s with the hash build). The build side
    // is only the m-row oriented edge list, hash-partitioned, so the
    // per-task build table stays bounded at any scale.
    wedges
      .join(oriented.select(col("x").as("y1"), col("y").as("y2"))
          .hint("shuffle_hash"),
        Seq("y1", "y2"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Edge-keep modulus for [[trianglesApprox]]: keep an edge iff
    * fnv32a("u_v") ≡ 0 (mod 4) → p = 1/4, estimate = 64·sampled. A
    * power-of-two reciprocal keeps the 1/p³ correction an exact BIGINT
    * multiply (no float parity to manage), and p = 1/4 already cuts the
    * wedge bound 8× ((m/4)^1.5 = m^1.5/8). */
  val TriangleKeepMod = 4

  /** q_triangle_approx: DOULION-style sampled triangle estimate
    * (Tsourakakis, Kang, Miller & Faloutsos, KDD 2009) — sparsify the
    * edge list by an independent per-edge coin at p, count triangles
    * EXACTLY on the sample with the same degree-ordered wedge pipeline,
    * scale by 1/p³ (a triangle survives iff all 3 edges do). This is
    * the 100×-scale path q_triangle's exact O(m^1.5) can't walk: the
    * sampled count costs (pm)^1.5 = p^1.5 · m^1.5, and the relative
    * error √((1/p³−1)/T) VANISHES as the graph grows (T grows with m —
    * measured 126k triangles already at sf0.001 → ~2% at p=1/4).
    *
    * The coin is DETERMINISTIC — FNV-1a("u_v") mod [[TriangleKeepMod]],
    * the q_quantiles_sample discipline — so the estimate is a pure
    * function of the edge list and the DuckDB oracle replays the exact
    * sampled computation (hash-equal, not just spec-bounded); the ±ε
    * accuracy claim vs the exact count is asserted by the spec. */
  def trianglesApprox(spark: SparkSession, dir: String): DataFrame =
    trianglesApprox(GraphIndex.proj(spark, dir), TriangleKeepMod)

  /** df form: u<v deduplicated undirected edges; keepMod = 1/p.
    * The coin is mix32(fnv32a("u_v")) mod keepMod — the avalanche is
    * LOAD-BEARING: raw FNV-1a's low bits are near-linear in the input,
    * and edges sharing an endpoint share most input bytes, so their
    * raw coins CORRELATE and triangle survival is no longer p³
    * (measured 2.9× over-count on the fixture without the mix). */
  def trianglesApprox(edgesIn: DataFrame, keepMod: Int): DataFrame = {
    val kept = graft.Engine.cut(edgesIn.where(
      graft.functions.Fnv32a.mix32(graft.functions.Fnv32a.fnv32a(concat(
        col("u").cast("string"), lit("_"), col("v").cast("string"))))
        % keepMod === 0))
    val tri = triangleCount(kept, degreeTable(kept))
    val m = keepMod.toLong
    kept.agg(count(lit(1)).as("n_edges_sampled")).crossJoin(tri)
      .select(col("n_edges_sampled"),
        col("n_triangles").as("n_triangles_sampled"),
        (col("n_triangles") * lit(m * m * m)).as("est_triangles"))
  }

  /** Steps per walk in the catalog random-walk query: short fixed-
    * length walks are the DeepWalk/node2vec working regime (windowed
    * skip-gram context ≈ 2–5 hops), and a fixed L bounds the plan the
    * way the pageRank/LPA round counts do. */
  val RwSteps = 4

  /** q_random_walk: DETERMINISTIC uniform random walks over the
    * part↔supplier co-purchase graph — the corpus-of-walks stage of
    * DeepWalk (Perozzi-Al-Rfou-Skiena, KDD 2014) / node2vec at p=q=1:
    * one walk of [[RwSteps]] steps from EVERY node, each step moving
    * to a uniformly-chosen neighbor. The "random" choice is the
    * seeded-hash discipline of q_shuffle/q_triangle_approx: at step k
    * the walk started at s standing on node u picks the neighbor with
    * rank mix32(fnv32a("s_k_u")) mod deg(u) in u's dst-ordered
    * adjacency — the avalanche again load-bearing (raw FNV low bits
    * correlate across the shared "s_" prefix), and the whole
    * trajectory replays in any engine (the DuckDB oracle chains the
    * per-step CTEs). Emitted: (start, step, node), step 0..L — the
    * sentence corpus a skip-gram embedder consumes.
    *
    * Shape at scale: the catalog form SERVES the staged trajectory
    * corpus ([[GraphIndex.walks]]) — a production walk corpus is
    * materialized once per corpus version and read by every epoch /
    * consumer, so the serve cost is one bounded scan; the walk chain
    * itself (the df form below) is billed once by the graph_lifecycle
    * build. Walks are FNV-deterministic over sorted adjacency, so the
    * staged corpus is bit-identical to an inline recompute and the
    * DuckDB oracle (which replays the chain) is unchanged. */
  def randomWalk(spark: SparkSession, dir: String): DataFrame =
    GraphIndex.walks(spark, dir)

  /** df form: expects (src, dst) directed edges with every node having
    * out-degree ≥ 1 (the bipartite both-directions construction
    * guarantees it; a sink would strand its walks). */
  def randomWalk(edgesIn: DataFrame, steps: Int): DataFrame = {
    // the CSR move: one row per NODE with its dst-sorted neighbor
    // ARRAY, built in one shuffle — a step then joins the constant-
    // size frontier against the NODE-grain table (|V| rows, runtime-
    // broadcastable) and indexes the array, instead of re-scanning the
    // |E|-grain edge table per hop (measured 2–5 s/step at 1.2M edges;
    // the array form is ~0.1 s). Per-node arrays are bounded by max
    // degree — fine for catalog/co-purchase graphs; a web-scale hub
    // graph would range-partition the hot lists back to edge grain.
    val adj = graft.Engine.cut(edgesIn.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("ns")))
    // trajectory accumulates as an ARRAY column — one LINEAR join
    // chain (no per-step lineage cut, no union of re-derived
    // prefixes), exploded once at the end
    var w = adj.select(col("src").as("start"), col("src").as("node"),
      array(col("src")).as("path"))
    for (k <- 1 to steps) {
      val coin = graft.functions.Fnv32a.mix32(graft.functions.Fnv32a.fnv32a(
        concat(col("w.start").cast("string"), lit(s"_${k - 1}_"),
          col("w.node").cast("string"))))
      // aliased sides: the frontier's columns came out of adj last
      // step, so an unaliased re-join is a self-join Spark rightly
      // refuses to disambiguate
      val next = element_at(col("a.ns"),
        ((coin % size(col("a.ns"))) + 1).cast("int"))
      w = w.as("w")
        .join(adj.as("a"), col("w.node") === col("a.src"))
        .select(col("w.start").as("start"), next.as("node"),
          concat(col("w.path"), array(next)).as("path"))
    }
    w.select(col("start"), posexplode(col("path")).as(Seq("step", "node")))
      .select(col("start"), col("step").cast("long").as("step"), col("node"))
  }

  /** Skip-gram context radius over the walk corpus: ±2 steps is the
    * classic DeepWalk/word2vec working window at these walk lengths. */
  val WalkWindow = 2

  /** q_walk_pairs: the (center, context) co-occurrence counts a
    * skip-gram-with-negative-sampling embedder actually trains on —
    * the step after [[randomWalk]] in the DeepWalk pipeline: every
    * ordered pair of nodes within [[WalkWindow]] steps of each other
    * on the same walk, aggregated to counts (the co-occurrence matrix
    * whose implicit factorization IS the embedding — Levy & Goldberg,
    * NeurIPS 2014).
    *
    * Shape at scale: a self-equi-join keyed on the walk id with a
    * ±window band predicate — each walk contributes ≤ L·2w pairs, so
    * the join output is linear in walks; the count aggregate is
    * partial/final. */
  def walkPairs(spark: SparkSession, dir: String): DataFrame =
    walkPairs(GraphIndex.walks(spark, dir), WalkWindow)

  /** df form: expects (start, step, node) trajectories. */
  def walkPairs(walks: DataFrame, window: Int): DataFrame = {
    val w = graft.Engine.cut(walks)
    w.as("a").join(w.as("b"),
        col("a.start") === col("b.start") &&
          abs(col("a.step") - col("b.step")) <= window &&
          col("a.step") =!= col("b.step"))
      .select(col("a.node").as("center"), col("b.node").as("context"))
      .groupBy("center", "context")
      .agg(count(lit(1)).as("cnt"))
  }

  /** node2vec second-order weights (×2-scaled integers so the ratios
    * 1 : 2 : 4 encode return p = 2, in-out q = 1/2 exactly): revisiting
    * the previous node is discouraged (Back), staying in the previous
    * node's neighborhood is neutral (In), and stepping OUTWARD is
    * favored (Out) — the DFS-flavored exploration regime Grover &
    * Leskovec showed captures structural roles. Integers keep the
    * weighted pick exact in any engine. */
  val N2vBack = 1L
  val N2vIn = 2L
  val N2vOut = 4L

  /** q_node2vec: BIASED second-order random walks (Grover-Leskovec,
    * KDD 2016) — the DeepWalk successor whose step distribution
    * depends on the PREVIOUS node: a neighbor x of the current node u
    * weighs [[N2vBack]] if x = prev, [[N2vIn]] if x neighbors prev,
    * [[N2vOut]] otherwise; the walk picks the first dst-ordered
    * neighbor whose cumulative weight exceeds
    * mix32(fnv32a("s_k_prev_u")) mod Σweights. Step 1 (no prev) is the
    * uniform [[randomWalk]] rule. Same (start, step, node) trajectory
    * output, [[RwSteps]] steps from every node — hash-exact, so the
    * DuckDB oracle replays the biased walk with a window cumsum.
    *
    * The graph is the PART-PART co-purchase projection (q_triangle /
    * q_label_prop's graph), NOT pageRank's part↔supplier bipartite
    * one: on a bipartite graph ns(cur) ∩ ns(prev) is empty by
    * construction — the In group would be structurally dead and the
    * "2nd-order" bias would degenerate to Back-vs-Out. The projection
    * has real triangles, so all three groups carry weight.
    *
    * Shape at scale: two node-grain joins per step (cur and prev
    * adjacency arrays) + O(deg) native array ops per row — the
    * weighted pick never explodes to edge grain; L fixed. */
  def node2vec(spark: SparkSession, dir: String): DataFrame =
    node2vecWalk(GraphIndex.projAdj(spark, dir), RwSteps)

  /** Start-node shard modulus: one q_node2vec run generates the walks
    * of ONE deterministic hash-shard of the node set (mix32-coin mod
    * [[N2vShards]] = 0), the way production walk corpora are built —
    * r walks per node per epoch, sharded across workers/epochs; each
    * shard is an independent job billing |V|/shards · L second-order
    * steps. The shard coin is salted ("n2v_") so it is independent of
    * every other sampling coin in the catalog. */
  val N2vShards = 4

  /** df form: expects DISTINCT directed (src, dst) edges, no sinks
    * (the [[randomWalk]] contract). */
  def node2vec(edgesIn: DataFrame, steps: Int): DataFrame =
    node2vecWalk(graft.Engine.cut(edgesIn.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("ns"))), steps)

  /** Walk core over a prebuilt CSR adjacency table (src, ns: sorted
    * neighbor array) — the catalog form feeds the STAGED arrays
    * ([[GraphIndex.projAdj]], identical by construction), the df form
    * builds them inline. */
  private[graft] def node2vecWalk(adj: DataFrame, steps: Int): DataFrame = {
    // step 1: uniform, no prev — and NO join: the frontier IS the
    // (sharded) adjacency table, its own ns in hand. Each later step
    // makes ONE adjacency join (for the freshly-picked node): the
    // previous node's neighbor list — the pns the In test needs — is
    // exactly the ns we already held when we picked, so it is CARRIED,
    // not re-joined (halves the per-step shuffle of fat array
    // payloads).
    val c1 = graft.functions.Fnv32a.mix32(graft.functions.Fnv32a.fnv32a(
      concat(col("src").cast("string"), lit("_0_"),
        col("src").cast("string"))))
    val n1 = element_at(col("ns"), ((c1 % size(col("ns"))) + 1).cast("int"))
    val shardCoin = graft.functions.Fnv32a.mix32(graft.functions.Fnv32a.fnv32a(
      concat(lit("n2v_"), col("src").cast("string"))))
    var w = adj.where(shardCoin % N2vShards === 0)
      .select(col("src").as("start"), col("src").as("prev"),
        n1.as("node"), col("ns").as("pns"),
        concat(array(col("src")), array(n1)).as("path"))
    for (k <- 2 to steps) {
      val coin = graft.functions.Fnv32a.mix32(graft.functions.Fnv32a.fnv32a(
        concat(col("w.start").cast("string"), lit(s"_${k - 1}_"),
          col("w.prev").cast("string"), lit("_"),
          col("w.node").cast("string"))))
      // CLOSED-FORM group-major pick — neighbors ordered (Back = prev,
      // then In = ns ∩ pns dst-ascending, then Out dst-ascending),
      // each group a constant weight, so the weighted choice is two
      // integer divisions into the group lists instead of a
      // per-neighbor cumulative fold (the fold was an INTERPRETED
      // lambda doing an O(deg) membership scan per neighbor — O(deg²)
      // per hop, 377 s at sf0.01; the native array_intersect/except
      // path is linear in degree). prev ∈ ns always (the graph
      // carries both edge directions), so the Back group is never a
      // phantom option.
      val nxt = expr(
        s"""CASE WHEN r < $N2vBack THEN prev
           |     WHEN r < $N2vBack + $N2vIn * nin
           |       THEN element_at(ins, CAST((r - $N2vBack) div $N2vIn AS INT) + 1)
           |     ELSE element_at(array_except(array_except(ns, ins), array(prev)),
           |       CAST((r - $N2vBack - $N2vIn * nin) div $N2vOut AS INT) + 1)
           |END""".stripMargin)
      w = w.as("w")
        // shuffle_hash, not sort-merge: both sides carry ~KB array
        // payloads (ns / pns) and SMJ would SORT them on every step —
        // the hash build touches the arrays only to store them
        .join(adj.as("a").hint("shuffle_hash"), col("w.node") === col("a.src"))
        .select(col("w.start").as("start"), col("w.node").as("cur"),
          col("w.prev").as("prev"), col("a.ns").as("ns"),
          expr("array_intersect(a.ns, pns)").as("ins"),
          col("w.path").as("path"), coin.as("h"))
        .withColumn("nin", size(col("ins")).cast("long"))
        .withColumn("r", col("h") % (lit(N2vBack) + lit(N2vIn) * col("nin") +
          lit(N2vOut) * (size(col("ns")).cast("long") - 1L - col("nin"))))
        .withColumn("nxt", nxt)
        .select(col("start"), col("cur").as("prev"), col("nxt").as("node"),
          col("ns").as("pns"),
          concat(col("path"), array(col("nxt"))).as("path"))
    }
    w.select(col("start"), posexplode(col("path")).as(Seq("step", "node")))
      .select(col("start"), col("step").cast("long").as("step"), col("node"))
  }

  /** q_bfs: multi-source breadth-first distances — the hop distance
    * from a trusted SEED SET to every reachable node, the classic
    * "distance to seeds" labeling (TrustRank's seed propagation,
    * Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004, uses exactly this
    * frontier structure before damping). Seeds here: the suppliers of
    * the lowest-keyed nation; graph: the part↔supplier bipartite graph
    * (pageRank's node encoding — part·2, supplier·2+1).
    *
    * Level-synchronous BFS, the Pregel formulation: each round joins
    * the FRONTIER (not the whole visited set) against the edge list,
    * dedups the neighbor set, and anti-joins visited — so round cost is
    * |frontier|·avg-degree + one shuffle each for the distinct and the
    * anti-join, never |V|·|E|. A FIXED round count (like pageRank's
    * fixed iterations) keeps the plan static and driver state at zero;
    * an empty frontier makes remaining rounds no-op unions. Hop counts
    * are exact integers → bit-identical across engines, so the DuckDB
    * oracle replays the loop as chained CTEs. Unreached nodes are
    * absent from the output (no sentinel row), matching the seeds'
    * reachable-set semantics. */
  def bfsDistances(spark: SparkSession, dir: String): DataFrame = {
    val edges = GraphIndex.bip(spark, dir)
    val sup = Tables(spark, dir, "supplier")
    // scalar-subquery form of "suppliers of the min nation": a 1-row
    // aggregate broadcast against the dim table — no driver round-trip
    val minNation = sup.agg(min(col("s_nationkey")).as("mn"))
    val seeds = sup.join(broadcast(minNation), col("s_nationkey") === col("mn"))
      .select((col("s_suppkey") * 2 + 1).cast("long").as("node"))
    bfsDistances(edges, seeds, 4)
  }

  /** df form: expects (src: Long, dst: Long) directed edges (feed both
    * directions for an undirected graph) and a (node: Long) seed set.
    * Runs exactly `maxHops` rounds; nodes further than that are not
    * emitted (cap the horizon explicitly — on a 100 TB graph an
    * unbounded BFS is a latent full-transitive-closure). */
  def bfsDistances(edgesIn: DataFrame, seedsIn: DataFrame, maxHops: Int): DataFrame = {
    val e = graft.Engine.cut(edgesIn)
    var visited = graft.Engine.cut(
      seedsIn.select(col("node")).distinct().withColumn("dist", lit(0L)))
    var frontier = visited.select("node")
    var prevFresh: DataFrame = null
    for (hop <- 1 to maxHops) {
      // frontier-sized join; distinct BEFORE the anti-join so the
      // visited probe sees each candidate once, not once per in-edge
      val fresh = e.join(frontier.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("dist", lit(hop.toLong))
        .transform(graft.Engine.cut(_)) // reused twice: union + next frontier
      val prevVisited = visited
      visited = graft.Engine.cut(visited.unionAll(fresh))
      graft.Engine.free(prevVisited) // superseded by the new union frame
      if (prevFresh != null) graft.Engine.free(prevFresh)
      prevFresh = fresh
      frontier = fresh.select("node")
    }
    // visited is a cut: the staged edge copy and last frontier are dead
    graft.Engine.free(e)
    if (prevFresh != null) graft.Engine.free(prevFresh)
    visited
  }

  /** q_basket_pairs minimum pair support (chosen so every SF keeps a
    * few thousand qualifying pairs — see the DF stats in the Scaladoc). */
  val BasketMinSupport = 2L

  /** Lift micro-unit scale: lift 1.0 (independence) = 10⁶. */
  val LiftMicro = 1000000L

  /** q_basket_pairs: market-basket pair mining — co-purchased part
    * pairs with support ≥ [[BasketMinSupport]], scored by LIFT
    * (P(ab)/(P(a)·P(b)), Agrawal & Srikant's association-rule measure,
    * VLDB 1994, at itemset size 2 — the level the Apriori lattice
    * prunes everything else against). This is the sibling of q_pmi
    * (same independence-ratio shape, baskets instead of bigrams) and
    * feeds the same "what belongs together" questions as q_knn_graph.
    *
    * Shape at scale: the pair expansion is per-basket C(k,2) with k
    * bounded by basket size (≤7 lines in TPC-H; cap or sample heavy
    * baskets upstream for unbounded containers), then one shuffle on
    * the pair key with partial/final counts; the support filter prunes
    * BEFORE the item-count joins, so the singleton-lattice join touches
    * only surviving pairs. Lift is computed in integer micro-units with
    * `div` (exact, reassociation-proof, oracle-replayable); overflow
    * bound: support·n_baskets·10⁶ < 2⁶³ → safe to ~9·10¹² basket-pair
    * volume, far past any per-partition reality — shard the lift scale
    * down for corpora beyond that. */
  def basketPairs(spark: SparkSession, dir: String): DataFrame =
    // the staged order→part table IS the distinct basket table — skip
    // straight to the pair mining (cut: four consumers below)
    basketPairsDistinct(graft.Engine.cut(
      GraphIndex.op(spark, dir)
        .select(col("ok").as("basket"), col("p").as("item"))),
      BasketMinSupport)

  /** df form: (basket, item) rows, any duplicates tolerated (presence
    * semantics — a basket holds an item once no matter how many rows). */
  def basketPairs(basketsIn: DataFrame, minSupport: Long): DataFrame =
    // materialized once: feeds the self-join (twice), the item counts,
    // and the basket count — four consumers of one distinct
    basketPairsDistinct(
      graft.Engine.cut(basketsIn.select("basket", "item").distinct()),
      minSupport)

  /** Pair-mining core over an ALREADY-DISTINCT, lineage-cut
    * (basket, item) table. */
  private def basketPairsDistinct(b: DataFrame, minSupport: Long): DataFrame = {
    val nBaskets = b.select("basket").distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val itemCnt = b.groupBy("item").agg(count(lit(1)).as("c"))
    val pairs = b.select(col("basket"), col("item").as("item_a"))
      .join(b.select(col("basket"), col("item").as("item_b")), "basket")
      .where(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("support"))
      .where(col("support") >= lit(minSupport))
    pairs
      .join(itemCnt.select(col("item").as("item_a"), col("c").as("ca")), "item_a")
      .join(itemCnt.select(col("item").as("item_b"), col("c").as("cb")), "item_b")
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("support"),
        expr(s"(support * n_baskets * $LiftMicro) div (ca * cb)").as("lift_micro"))
  }

  /** q_sssp: single-source (here multi-source) WEIGHTED shortest paths
    * — [[bfsDistances]]' hop count upgraded to an additive edge cost,
    * the routing/attribution primitive BFS can't express. Graph: the
    * part↔supplier bipartite graph with edge weight = min l_quantity
    * over the pair's lineitem rows (an exact BIGINT — quantities are
    * integral); seeds: the min-nation suppliers at distance 0.
    *
    * FRONTIER Bellman-Ford (delta relaxation): each round relaxes only
    * from nodes whose distance IMPROVED last round — a node whose
    * distance is unchanged already propagated that value the round it
    * last improved, so re-relaxing it is provably redundant (the
    * classic delta-BF invariant: frontier-BF after k rounds ≡ full
    * relaxation dist_k(v) = min over ≤ k-edge paths). Round cost is
    * |frontier|·avg-degree + one min-agg + one anti-join — on a graph
    * where distances settle early, later rounds touch only the still-
    * moving fringe, never |V|·|E|. A FIXED round count keeps the plan
    * static (the pageRank/bfs convention); distances beyond the
    * horizon are the ≤ rounds-edge optimum, documented semantics.
    * All-integer distances → bit-exact, so the DuckDB oracle replays
    * the rounds as chained MATERIALIZED CTEs using FULL relaxation —
    * the equivalence above is exactly what makes the simpler oracle
    * form legal. */
  def ssspDistances(spark: SparkSession, dir: String): DataFrame = {
    val edges = GraphIndex.bipWeighted(spark, dir)
    val sup = Tables(spark, dir, "supplier")
    val minNation = sup.agg(min(col("s_nationkey")).as("mn"))
    val seeds = sup.join(broadcast(minNation), col("s_nationkey") === col("mn"))
      .select((col("s_suppkey") * 2 + 1).cast("long").as("node"))
    ssspDistances(edges, seeds, 4)
  }

  /** df form: (src, dst, w) directed weighted edges (w ≥ 0 BIGINT;
    * feed both directions for an undirected graph) + (node) seeds.
    * Exactly `rounds` relaxation rounds — emitted distances are the
    * optimum over paths of ≤ `rounds` edges (cap the horizon
    * explicitly, the bfs convention). */
  def ssspDistances(edgesIn: DataFrame, seedsIn: DataFrame,
      rounds: Int): DataFrame = {
    val e = graft.Engine.cut(edgesIn)
    var dist = graft.Engine.cut(
      seedsIn.select(col("node")).distinct().withColumn("d", lit(0L)))
    var frontier = dist
    var prevImproved: DataFrame = null
    for (_ <- 1 to rounds) {
      val relax = e.join(frontier.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("d") + col("w")).as("nd"))
        .groupBy("node").agg(min("nd").as("nd"))
      val improved = relax
        .join(dist.withColumnRenamed("d", "old"), Seq("node"), "left")
        .where(col("old").isNull || col("nd") < col("old"))
        .select(col("node"), col("nd").as("d"))
        .transform(graft.Engine.cut(_)) // reused: dist merge + next frontier
      val prevDist = dist
      dist = graft.Engine.cut(
        dist.join(improved.select("node"), Seq("node"), "left_anti")
          .unionAll(improved))
      graft.Engine.free(prevDist) // superseded (round 1: the seed frame)
      if (prevImproved != null) graft.Engine.free(prevImproved)
      prevImproved = improved
      frontier = improved
    }
    // dist is a cut: the staged edge copy and last frontier are dead
    graft.Engine.free(e)
    if (prevImproved != null) graft.Engine.free(prevImproved)
    dist
  }

  /** Synchronous label-propagation rounds (fixed, the pageRank/bfs
    * convention). */
  val LpaRounds = 4

  /** q_label_prop: community detection by LABEL PROPAGATION (Raghavan,
    * Albert & Kumara, Phys. Rev. E 2007) over the part co-purchase
    * graph — the near-linear-time community baseline beside the
    * similarity-side communities of q_knn_graph (which are connected
    * components of a mutual-kNN graph; LPA instead lets DENSITY decide:
    * a node adopts its neighborhood's majority label, so bridges
    * between dense regions don't merge them the way connectivity does).
    *
    * Made DETERMINISTIC (the published algorithm is famously order-
    * dependent): SYNCHRONOUS rounds (all nodes update from the same
    * previous-round labels — no update order to pick) and the total
    * tie-break (count desc, label asc) via one min-struct aggregate;
    * initial label = own node id. A fixed round count bounds the plan;
    * oscillation (the known sync-LPA failure on bipartite-ish regions)
    * is harmless here because the result is defined AS round-
    * [[LpaRounds]] labels — a pure function of the edge list that the
    * DuckDB oracle replays round by round.
    *
    * Shape at scale: per round ONE edge-list join against the
    * |V|-row label table, a (node, lbl) partial/final count, and a
    * per-node min-struct argmax — all keyed shuffles, no windows, no
    * driver state. The per-order pair expansion is the degree_dist/
    * triangle one (bounded basket sizes; cap heavy containers
    * upstream). */
  /** Rank unit for [[hits]]: 1.0 = 10⁶ micro-units. Smaller than the
    * PageRank [[Scale]] deliberately: each HITS round multiplies a
    * degree-bounded BIGINT sum (≤ deg_max · HitsScale) by HitsScale
    * before the max-normalizing floor division, so the overflow bound
    * is deg_max · HitsScale² < 2⁶³ → safe to deg_max ≈ 9·10⁶ (any
    * realistic catalog hub); 10¹² scaling would cap deg_max at 9. */
  val HitsScale = 1000000L

  /** Fixed HITS mutual-reinforcement rounds ([[hits]]). */
  val HitsRounds = 4

  /** q_hits: Kleinberg's HITS (JACM 1999) over the DIRECTED
    * supplier→part supply graph — hubs (suppliers whose catalog
    * concentrates on well-sourced parts) and authorities (parts
    * carried by the strong hubs), the mutual-reinforcement pair that
    * PageRank's single walk can't express: q_pagerank ranks nodes by
    * stationary visit mass, HITS separates "points at good things"
    * from "is pointed at by good pointers" — the query/document split
    * search and supplier-quality analytics both want. */
  def hits(spark: SparkSession, dir: String): DataFrame =
    hits(GraphIndex.supPart(spark, dir), HitsRounds)

  /** df form: (src, dst) directed edges; hubs are the src side,
    * authorities the dst side.
    *
    * Integer discipline (the [[pageRank]] convention): scores live in
    * [[HitsScale]] micro-units; each round is auth ← Σ_in hub then
    * hub ← Σ_out auth, each followed by L∞ normalization
    * `(s · Scale) div max(s)` — max-norm instead of the textbook L2
    * because it needs no square root, keeps every step in exact
    * BIGINT (bit-identical across engines/partitionings, so the
    * DuckDB oracle replays the loop as chained CTEs), and preserves
    * the score ORDER exactly (both norms are positive scalings; the
    * L∞ fixed point is the same principal eigenvector direction).
    *
    * Shape at scale: per round two edge-keyed shuffles (join on
    * src/dst) + two partial/final aggs + two 1-row max broadcasts —
    * no windows, no driver state beyond the fixed round count;
    * lineage cut per round (the dupComponents convention). */
  def hits(edgesIn: DataFrame, rounds: Int): DataFrame = {
    val e = graft.Engine.cut(edgesIn)
    // 1-row max for the L∞ normalization: ride it on the SAME job that
    // materializes the raw sums (observe sidecar, the kcore/LPA
    // convergence-probe discipline) — the r15 baseline evaluated each
    // half-round's edge join + aggregate TWICE (once for the broadcast
    // max subquery, once for the normalized cut), doubling every
    // round's |E|-grain work. The observed max becomes a literal in the
    // normalization projection — same exact BIGINT division, and
    // (s·Scale) div max ≤ Scale as before. Fallback probe over the cut
    // frame if the metric is ever lost (bounded: one 1-row agg).
    def normalized(raw: DataFrame): (DataFrame, DataFrame) = {
      val obs = org.apache.spark.sql.Observation()
      val r = graft.Engine.cut(raw.observe(obs, max(col("raw")).as("mx")))
      val mx = graft.Engine.observedLong(obs, "mx").getOrElse {
        // empty/degenerate frame: max is NULL — the projection below
        // emits no rows anyway, any non-zero literal is equivalent
        val row = r.agg(max(col("raw"))).head()
        if (row.isNullAt(0)) 1L else row.getLong(0)
      }
      (r.select(col("node"), expr(s"(raw * ${HitsScale}L) div ${mx}L").as("s")),
        r)
    }
    var hub = graft.Engine.cut(
      e.select(col("src").as("node")).distinct()
        .withColumn("s", lit(HitsScale)))
    var auth: DataFrame = hub.limit(0)
    // the normalized frames are lazy projections over their cut raw
    // frames — dead-frame bookkeeping tracks the CUTS (Engine.free is a
    // no-op on a Project), plus the round-0 hub cut
    var hubCut: DataFrame = hub
    var authCut: DataFrame = null
    for (_ <- 1 to rounds) {
      val prevAuthCut = authCut
      val (a, ac) = normalized(e.join(hub, e("src") === hub("node"))
        .groupBy(e("dst").as("node")).agg(sum("s").as("raw")))
      auth = a; authCut = ac
      if (prevAuthCut != null) graft.Engine.free(prevAuthCut)
      val prevHubCut = hubCut
      val (h, hc) = normalized(e.join(auth, e("dst") === auth("node"))
        .groupBy(e("src").as("node")).agg(sum("s").as("raw")))
      hub = h; hubCut = hc
      graft.Engine.free(prevHubCut)
    }
    // the result depends only on the final cut raw frames
    graft.Engine.free(e)
    hub.select(lit("hub").as("kind"), col("node"), col("s").as("score"))
      .unionAll(auth.select(lit("authority").as("kind"), col("node"),
        col("s").as("score")))
  }

  def labelProp(spark: SparkSession, dir: String): DataFrame = {
    // the staged raw-id both-direction adjacency arrives bucketed by src —
    // round 1's scope/label joins and the degree-grain aggregates plan
    // with no |E| exchange (VERDICT r13 #1). Raw scan even though LPA
    // references adj ~2x per round: the persist() A/B lost BADLY at
    // the 100x grain (sf10 155.7 → 262.7 s persisted — cache pressure
    // evicts the working set the rounds need; the re-scan is a
    // page-cache columnar read) and the scales where persist wins are
    // the scales where the whole serve is seconds anyway.
    labelPropAdj(GraphIndex.projEdges(spark, dir), LpaRounds)
  }

  /** df form: deduplicated undirected (u, v) edges, u < v, no
    * self-loops. Isolated nodes (absent from the edge list) are not
    * emitted — community of a degree-0 node is itself, trivially.
    *
    * DELTA rounds (the [[ssspDistances]] frontier discipline): a node's
    * round-r label is a pure function of its neighbors' round-(r−1)
    * labels, so only nodes with at least one CHANGED neighbor can move
    * — round r recomputes exactly the neighbor set of round (r−1)'s
    * changed set and carries every other label forward unchanged.
    * Bit-identical to the full synchronous recompute at every round
    * (unchanged neighborhood ⇒ identical counts ⇒ identical min-struct
    * argmax), so the round-by-round DuckDB oracle needs no change.
    * Cost: the edge⋈labels join — the whole query, at scale — shrinks
    * from |E| per round to the frontier's incident edges; on converging
    * communities that is the difference between 4·|E| and ~|E| total
    * (sync LPA converges most nodes in 1-2 rounds). */
  def labelProp(edgesIn: DataFrame, rounds: Int): DataFrame = {
    val und = graft.Engine.cut(edgesIn)
    // src-partitioned for the same reason as kcore's adj: V-grain
    // frames (labels, frontiers) are hash-BUILD sides against it —
    // never sort-merge, which would sort the |E|-grain side per round
    val adj = graft.Engine.cut(und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
      .repartition(col("src")))
    graft.Engine.free(und) // only adj is consumed from here on
    labelPropAdj(adj, rounds)
  }

  /** Round core over a src-laid-out both-direction adjacency (bucketed
    * artifact scan from the catalog, cut repartition from the df
    * form). */
  private def labelPropAdj(adj: DataFrame, rounds: Int): DataFrame = {
    var labels = graft.Engine.cut(
      adj.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node")))
    // round 0 initialized every label → every node is "changed"
    var frontier = labels.select("node")
    var realized = 0
    var converged = false
    // dead-frame bookkeeping (see Engine.free): the superseded labels
    // frame dies as soon as its successor is cut; a changed frame is
    // still referenced as NEXT round's frontier, so it dies one round
    // later
    var prevChanged: DataFrame = null
    for (r <- 1 to rounds if !converged) {
      // nodes whose neighborhood changed = neighbors of the frontier
      // (round 1: everyone — skip the no-op semi filter)
      val scope = if (r == 1) adj
        else adj.join(
          adj.join(frontier.withColumnRenamed("node", "src")
                .hint("shuffle_hash"),
              Seq("src"), "left_semi")
            .select("dst").distinct().hint("shuffle_hash"),
          Seq("dst"), "left_semi")
      val recomputed = scope
        .join(labels.withColumnRenamed("node", "src").hint("shuffle_hash"),
          "src")
        .groupBy(col("dst").as("node"), col("lbl")).agg(count(lit(1)).as("c"))
        // argmax with (count desc, label asc) total order as ONE
        // min-struct partial/final aggregate — no per-node window
        .groupBy("node")
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("node"), col("m.l").as("lbl"))
      // EARLY EXIT (VERDICT r12 #5): an empty changed set is the LPA
      // fixpoint — every later round's scope recomputes to identical
      // labels, so breaking here returns exactly the fixed-round
      // result the DuckDB oracle replays. The changed-row count rides
      // the SAME job that materializes the cut (observe sidecar,
      // VERDICT r13 #6) — convergence detection costs no extra job;
      // if the metric is ever lost, fall back to the bounded scan.
      val obs = org.apache.spark.sql.Observation()
      val changed = graft.Engine.cut(
        recomputed.join(labels.withColumnRenamed("lbl", "old"), "node")
          .where(col("lbl") =!= col("old"))
          .select("node", "lbl")
          .observe(obs, count(lit(1)).as("n_changed")))
      val nChanged = graft.Engine.observedLong(obs, "n_changed")
      if (nChanged.map(_ == 0L).getOrElse(changed.isEmpty)) {
        converged = true; graft.Engine.free(changed)
      }
      else {
        realized = r
        val prevLabels = labels
        labels = graft.Engine.cut(
          labels.join(changed.select("node"), Seq("node"), "left_anti")
            .unionAll(changed))
        graft.Engine.free(prevLabels)
        if (prevChanged != null) graft.Engine.free(prevChanged)
        prevChanged = changed
        frontier = changed.select("node")
      }
    }
    lastLpaRounds = realized
    // labels is a cut: adjacency and the last changed frame are dead
    graft.Engine.free(adj)
    if (prevChanged != null) graft.Engine.free(prevChanged)
    labels
  }

  /** Fixed peel rounds for [[kcore]] (the bfs/labelProp convention: a
    * static plan, driver state bounded to two scalar counts). Four
    * rounds reach the fixpoint at sf0.001 and leave well-defined
    * intermediate cores at the larger fixtures — the result is DEFINED
    * as round-[[KcoreRounds]] survivors, a pure function of the edge
    * list the DuckDB oracle replays round by round. */
  val KcoreRounds = 4

  /** q_kcore: iterative k-core peeling (Seidman, "Network structure and
    * minimum degree", Social Networks 1983; the degeneracy-ordering
    * workhorse of Matula–Beck 1983) over the part co-purchase graph —
    * repeatedly delete nodes of degree < k, keeping the subgraph where
    * every survivor has ≥ k surviving neighbors. THE graph-quality
    * filter of web-scale pipelines (spam/link-farm cores, dense
    * community extraction) beside the density communities of
    * q_label_prop: LPA asks "whose label wins", k-core asks "who is
    * structurally embedded at depth k".
    *
    * k is DATA-DERIVED, integer-exact in both engines: avg = (2m) div
    * n over the input graph, k = (3·avg) div 4 — self-scaling (the
    * fixture graphs' degree distributions shift with SF; a fixed k
    * would peel everything or nothing). Measured cores: 187/200 nodes
    * at sf0.001 (fixpoint), 1516/2000 at sf0.01, 14459/20000 at sf0.1.
    *
    * Shape at scale: per round ONE job — a map-side scan of the
    * src-laid-out adjacency, two left_semi filters against the
    * previous survivors (broadcast while their observed size fits the
    * broadcast threshold, hash-built past it) and a degree agg that
    * needs no exchange; only the V-grain degree table is cut, so no
    * edge-grain frame is ever shuffled or materialized (peeling is
    * monotone: the round-r subgraph is the input restricted to the
    * round-(r−1) survivors). Driver state: the two scalar counts
    * (n, m) that derive k, read from the artifact's memo entry. */
  def kcore(spark: SparkSession, dir: String): DataFrame = {
    // (n, m) come with the staged artifact's memo entry — no job
    val (n, m) = GraphIndex.projStats(spark, dir)
    val avg = 2L * m / n
    // the staged raw-id both-direction adjacency arrives bucketed by src —
    // round 1's degree agg and semi-joins plan with no |E| exchange
    // (VERDICT r13 #1); raw scan, not persist()ed (the pageRank
    // persist-rejection note: sf10 kcore 209.6 → 291.3 s persisted).
    kcoreAdj(GraphIndex.projEdges(spark, dir), KcoreRounds,
      (3L * avg / 4L).toInt)
  }

  /** df form: deduplicated undirected (u, v) edges, u < v, no
    * self-loops; explicit threshold k (the catalog form derives it
    * from the average degree). Output: (node, deg) for every node
    * surviving `rounds` peels, deg = its degree WITHIN the surviving
    * subgraph. */
  def kcore(edgesIn: DataFrame, rounds: Int, k: Int): DataFrame = {
    val und = graft.Engine.cut(edgesIn)
    // pre-partitioned by src: the per-round degree agg then runs
    // exchange-free (the r13 sf10 confirm measured the alternative —
    // once `keep` outgrows the broadcast threshold the semis flip to
    // sort-merge and SORT the |E|-grain frame twice per round:
    // 35x/decade on a shrinking-linear algorithm)
    val adj = graft.Engine.cut(
      und.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
        .repartition(col("src")))
    graft.Engine.free(und) // only adj is consumed from here on
    kcoreAdj(adj, rounds, k)
  }

  /** Peel core over a src-laid-out both-direction adjacency (bucketed
    * artifact scan from the catalog, cut repartition from the df
    * form). Peeling is monotone — keep_r ⊆ keep_{r−1} — so the
    * round-r subgraph is exactly adj ∩ keep_{r−1}²: every round
    * re-reads the UNCHANGED adjacency, semi-joined to the previous
    * survivors on both endpoints, and cuts only its V-grain (src, d)
    * degree table. No edge-grain frame is materialized or shuffled. */
  private def kcoreAdj(adj: DataFrame, rounds: Int, k: Int): DataFrame = {
    val spark = adj.sparkSession
    // the last peel's degree table and its observed survivor count (a
    // lost metric takes the hash-built plan); None = the unpeeled
    // adjacency
    var prev: Option[(DataFrame, Option[Long])] = None
    var realized = 0
    var core: Option[DataFrame] = None
    // round rounds+1 only cuts the degrees of the last survivors
    for (r <- 1 to rounds + 1 if core.isEmpty) {
      val sub = prev.fold(adj) { case (deg, kept) =>
        // the survivors are the V-grain side: broadcast while their
        // observed size fits, else hash-built (never sort the edges)
        val keep = deg.where(col("d") >= k).select(col("src").as("node"))
        val side =
          if (kept.exists(graft.Engine.broadcastFits(spark, _, 8L))) broadcast(keep)
          else keep.hint("shuffle_hash")
        adj.join(side, col("dst") === col("node"), "left_semi")
          .join(side, col("src") === col("node"), "left_semi")
      }
      // degrees against the current subgraph; the global min degree
      // and the survivor count ride the SAME job that materializes
      // the cut (observe sidecar)
      val obs = org.apache.spark.sql.Observation()
      val deg = graft.Engine.cut(
        sub.groupBy("src").agg(count(lit(1)).as("d"))
          .observe(obs, min(col("d")).as("mind"),
            sum(when(col("d") >= k, 1L).otherwise(0L)).as("kept")))
      prev.foreach { case (d, _) => graft.Engine.free(d) }
      // EARLY EXIT (VERDICT r12 #5): if no node falls below k, this
      // peel — and every remaining one — is a no-op and `deg` already
      // holds the fixpoint's degrees, so the result (and the
      // fixed-round DuckDB oracle) is unchanged. The probe is the
      // observed global min — NO extra job (VERDICT r13 #6); if the
      // metric is ever lost (or the graph is empty — min of zero rows
      // observes NULL), fall back to a bounded V-grain scan.
      if (r > rounds || graft.Engine.observedLong(obs, "mind")
            .map(_ >= k).getOrElse(deg.where(col("d") < k).isEmpty))
        core = Some(deg)
      else {
        realized = r
        prev = Some(deg -> graft.Engine.observedLong(obs, "kept"))
      }
    }
    lastKcoreRounds = realized
    // the df form's staged adjacency is dead (no-op for the bucketed
    // scan); the result is the V-grain cut above
    graft.Engine.free(adj)
    core.get.select(col("src").as("node"), col("d").as("deg"))
  }

  /** Peel rounds actually EXECUTED by the last [[kcore]] call on this
    * JVM (rounds that changed the graph; converged tails are skipped).
    * Bench telemetry only — not part of any query result. */
  @volatile var lastKcoreRounds: Int = -1

  /** Same telemetry for [[labelProp]]. */
  @volatile var lastLpaRounds: Int = -1
}
