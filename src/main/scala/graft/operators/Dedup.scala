package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.sources.Tables

/** Deduplication suite over `documents` / `embeddings` (SURVEY §2
  * B18–B19 + north-star: exact, n-gram Jaccard, MinHash+LSH, SimHash,
  * embedding-cosine near-dup).
  *
  * Reference grounding: dedup-by-key is the reference's `map[string]int`
  * accumulation pattern (`/root/reference/test.go:15`) lifted to
  * document granularity.
  *
  * Algorithms (published): MinHash resemblance sketches — Broder, "On the
  * resemblance and containment of documents" (SEQUENCES 1997); LSH
  * banding — Indyk & Motwani (STOC 1998) / ch.3 of Leskovec-Rajaraman-
  * Ullman, "Mining of Massive Datasets"; SimHash — Charikar, "Similarity
  * estimation techniques from rounding algorithms" (STOC 2002), applied
  * to near-dup web corpora in Manku-Jain-Sarma (WWW 2007).
  *
  * Scale notes (100 TB design point):
  *  - exact dedup = hash-groupBy on a 128-bit digest of normalized text:
  *    one shuffle of (digest, doc_id), never the text itself.
  *  - n-gram Jaccard uses an inverted-index self-join (shingle →
  *    doc-list): pairs are generated only for docs sharing a shingle —
  *    no all-pairs blowup; the shingle explode is linear in corpus size.
  *  - MinHash+LSH is the sub-quadratic path: fixed-width signatures
  *    (128 perms) per doc, banded (32×4) so only same-band-bucket docs
  *    meet in the candidate join; candidates are exact-verified. At
  *    J≥0.8 the miss probability per qualifying pair is
  *    (1 − 0.8⁴)³² ≈ 5·10⁻⁸ — the driver-visible output equals the
  *    exhaustive SQL oracle with overwhelming probability.
  *  - SimHash packs a document into one 60-bit word; near-dup pairs at
  *    hamming ≤ d collide in ≥1 of d+1 bands (pigeonhole) → banded
  *    self-join with recall exactly 1, no all-pairs.
  *  - embedding near-dup pre-computes norms once per vector, then only
  *    the dot product is evaluated per candidate pair.
  */
object Dedup {

  /** Normalized text: lowercase, trim, collapse whitespace runs.
    * (`WsRunSqlLit`: Spark SQL literals unescape backslashes.) */
  private val NormSql =
    s"regexp_replace(trim(lower(text)), '${TextOps.WsRunSqlLit}', ' ')"

  /** B18 q_dedup_exact: group by md5(normalized text) — digest, kept
    * (minimum) doc_id, and copy count per distinct content. */
  def exactGroups(spark: SparkSession, dir: String): DataFrame =
    exactGroups(Tables(spark, dir, "documents"))

  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(expr(NormSql)).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("copies"))

  /** The actual dedup operator: one surviving row per distinct normalized
    * text (min doc_id wins). Used by tests; `exactGroups` is its
    * driver-checkable projection. */
  def dedupExact(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(expr(NormSql))).orderBy(col("doc_id"))
    docs.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Distinct (doc_id, shingle-hash) pairs — the inverted index both
    * Jaccard variants build on. The 3-token shingle is hashed to 64 bits
    * IN the projection, so only (long, long) rows ever shuffle — never
    * shingle text (at 100 TB the distinct+join traffic is the cost; a
    * 64-bit hash keeps set sizes/intersections exact up to a ~2⁻⁶⁴
    * birthday term). */
  private[graft] def shingles(docs: DataFrame): DataFrame =
    docs
      .withColumn("ts", expr(TextOps.TokensSql))
      .where(size(col("ts")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ts) - 2),
          |  i -> xxhash64(concat(element_at(ts, i), ' ', element_at(ts, i + 1),
          |                       ' ', element_at(ts, i + 2))))""".stripMargin))
        .as("shingle"))
      .distinct()

  /** [[shingles]] at DOC grain: (doc_id, sharr) with sharr the doc's
    * distinct shingle set as an array — same per-doc sets as the
    * exploded form (array_distinct ≡ the row distinct keyed by doc_id;
    * shingle order is irrelevant to every consumer: min-hash
    * signatures are order-free, and the exploded view re-derives from
    * the same array). One tokenization pass feeds BOTH the signature
    * kernel ([[sigBandsFromArrays]], which wants the array) and the
    * verify/index paths (which explode it) — the online per-batch
    * shape of [[graft.streaming.Streams]]' near-dup. Per-doc array
    * size is bounded by doc length (the shingle set of one document),
    * the usual doc-grain bound. */
  private[graft] def shingleArrays(docs: DataFrame): DataFrame =
    docs
      .withColumn("ts", expr(TextOps.TokensSql))
      .where(size(col("ts")) >= 3)
      .select(col("doc_id"), expr(
        """array_distinct(transform(sequence(1, size(ts) - 2),
          |  i -> xxhash64(concat(element_at(ts, i), ' ', element_at(ts, i + 1),
          |                       ' ', element_at(ts, i + 2)))))""".stripMargin)
        .as("sharr"))

  /** Shared exact-Jaccard scoring: given the (doc_id, shingle) index and
    * candidate intersection counts keyed (da, db, inter), attach set
    * sizes and keep pairs with J ≥ tau. */
  private def scorePairs(sh: DataFrame, inter: DataFrame, tau: Double): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    inter
      .join(sizes.select(col("doc_id"), col("n").as("na")), col("da") === col("doc_id")).drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n").as("nb")), col("db") === col("doc_id")).drop("doc_id")
      .withColumn("jac",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jac") >= tau)
      .select(col("da"), col("db"), col("jac"))
  }

  /** Exact-Jaccard pairs at/above `tau` from an inverted-index self-join
    * (shared-shingle pairs only — no all-pairs). The shingle subtree is
    * deliberately NOT .cache()d despite its 3 consumers: measured, the
    * InMemoryRelation's inflated size stats flip AQE's broadcast
    * decisions and cost ~4× overall (28 s vs 7 s at sf0.1); the
    * recompute is cheap codegen'd scan+explode. At real 100 TB scale,
    * persist the shingle index to a TABLE (storage, not executor
    * memory) instead. */
  private def jaccardPairs(docs: DataFrame, tau: Double): DataFrame = {
    val sh = shingles(docs)
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
    scorePairs(sh, inter, tau)
  }

  /** B19a q_dedup_ngram: exhaustive n-gram-Jaccard near-dup pairs
    * (J ≥ 0.5) via the inverted index. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccard(Tables(spark, dir, "documents"))

  def ngramJaccard(docs: DataFrame): DataFrame = jaccardPairs(docs, 0.5)

  /** q_dedup_contain: ASYMMETRIC containment pairs — `C(A→B) =
    * |A∩B|/|A| ≥ tau` means most of document A's shingles appear in B
    * (Broder's containment measure, "On the resemblance and containment
    * of documents", SEQUENCES 1997). This is the signal symmetric
    * Jaccard structurally cannot give: a short document quoted inside a
    * long one has tiny J (the union is dominated by the long doc) but
    * containment ≈ 1 — the quote/excerpt/subset detector of a curation
    * pipeline, where near-dup J-pairs miss partial copies entirely.
    *
    * Same inverted-index shape as `jaccardPairs` (shared-shingle
    * candidate pairs only, never all-pairs — identical 100 TB
    * argument); each unordered candidate pair is scored in BOTH
    * directions, so the output is directed: (src, dst, cont) with
    * src's coverage by dst. */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables(spark, dir, "documents"), 0.6)

  def containmentPairs(docs: DataFrame, tau: Double): DataFrame = {
    val sh = shingles(docs)
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val sized = inter
      .join(sizes.select(col("doc_id"), col("n").as("na")),
        col("da") === col("doc_id")).drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n").as("nb")),
        col("db") === col("doc_id")).drop("doc_id")
    val fwd = sized.select(col("da").as("src"), col("db").as("dst"),
      (col("inter").cast("double") / col("na")).as("cont"))
    val rev = sized.select(col("db").as("src"), col("da").as("dst"),
      (col("inter").cast("double") / col("nb")).as("cont"))
    fwd.unionAll(rev).where(col("cont") >= tau)
  }

  // MinHash parameters: 128 permutations h_i(x) = (a_i·x + b_i) mod P
  // banded as 32 bands × 4 rows. Seeded deterministically.
  private val MinhashP = 2000000011L
  private val NumPerm = 128
  private[graft] val Bands = 32
  private val (permA, permB) = {
    val rnd = new scala.util.Random(42)
    (Array.fill(NumPerm)(1L + rnd.nextLong(MinhashP - 1)),
      Array.fill(NumPerm)(rnd.nextLong(MinhashP)))
  }

  /** B19 q_dedup_minhash: MinHash signatures → LSH banding → candidate
    * pairs → exact-Jaccard verification at J ≥ 0.8. Output is identical
    * to the exhaustive oracle whp (see class doc); the LSH path is what
    * survives 100 TB, the verification keeps it exact. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLsh(Tables(spark, dir, "documents"))

  // Measured and rejected (round 8): localCheckpoint'ing the band
  // table before the self-join halves the signature COMPUTE but made
  // q_dedup_minhash ~20% slower relative at sf0.1 — on local[32] the
  // redundant sides overlap on idle cores while the eager
  // materialization serializes. A standing corpus persists the band
  // index to a TABLE instead (stagedBandIndex) — the real 100 TB shape.
  def minhashLsh(docs: DataFrame): DataFrame =
    verifyCandidates(docs, lshCandidates(sigBands(docs)), 0.8)

  /** Per-document LSH band hashes (doc_id, band, bh) — the unit of the
    * banded index. A document's band row depends only on ITS shingles
    * (signatures under the fixed seeded permutations), never on the
    * rest of the corpus — the property `dedupAppend` relies on: bands
    * computed for a late batch equal the bands a one-shot run would
    * compute.
    *
    * Signature: per doc, per-permutation min over shingles — expressed
    * as 128 independent codegen'd min() aggregates over fixed-width
    * longs (pure HashAggregate with map-side combine: the shuffle
    * carries one 128-long row per (partition, doc), never the
    * shingles). An object-buffer Aggregator here trips the
    * ObjectHashAggregate sort-based fallback past 128 groups and
    * serializes its buffer per row; plain min() columns stay in
    * whole-stage codegen. (MinHashAggregator remains the typed-API
    * form of the same fold — see functions/.) Banding: murmur3 of each
    * band's 4 min-columns (codegen'd), unpivoted to (doc, band, bh).
    *
    * NOT cached — see jaccardPairs: the cache's size stats break AQE's
    * broadcast planning and measure ~4× slower than recomputing. */
  private[graft] def sigBands(docs: DataFrame): DataFrame =
    sigBandsFromArrays(shingleArrays(docs))

  /** [[sigBands]] from a (doc_id, sharr) shingle-ARRAY table — the
    * compiled kernel path (round 13): ONE
    * [[graft.functions.MinHashBandHashes]] expression computes all 128
    * mins + 32 band murmurs per doc in a generated loop, replacing the
    * 128-column min() aggregate + banding projection. Values are
    * bit-identical (same long arithmetic, same murmur3 fold — pinned
    * by spec against [[sigBandsFromShingles]]); the win is PLAN size:
    * the signature stage is one expression instead of ~160, which is
    * the per-micro-batch Catalyst replanning cost q_stream_neardup
    * pays 13 times per run (VERDICT r12 #3), and no wide aggregation
    * buffer ships through the shuffle at all (the doc grain already
    * holds the whole set). */
  private[graft] def sigBandsFromArrays(arr: DataFrame): DataFrame =
    arr.select(col("doc_id"),
        posexplode(graft.functions.MinHashBandHashes.of(
          col("sharr"), permA, permB, MinhashP, NumPerm / Bands)))
      .toDF("doc_id", "band", "bh")

  /** REFERENCE form of the signature+banding math over exploded
    * (doc_id, shingle) rows — 128 codegen'd min() aggregates + murmur3
    * band columns. Kept as the independently-derived twin that pins
    * [[sigBandsFromArrays]]' kernel bit-for-bit in the spec (two
    * implementations of the published MinHash construction agreeing
    * beats one implementation trusted twice). */
  private[graft] def sigBandsFromShingles(sh0: DataFrame): DataFrame = {
    val sh = sh0
      // shingle hash reduced mod P (so a·x+b stays in signed-64 range)
      .withColumn("sx", pmod(col("shingle"), lit(MinhashP)))
    val minCols = (0 until NumPerm).map(i =>
      min(pmod(col("sx") * permA(i) + permB(i), lit(MinhashP))).as(s"m$i"))
    val sigs = sh.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
    val bandCols = (0 until Bands).map(b =>
      hash((b * 4 until b * 4 + 4).map(i => col(s"m$i")): _*).as(s"b$b"))
    sigs.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"), posexplode(array((0 until Bands).map(b => col(s"b$b")): _*)))
      .toDF("doc_id", "band", "bh")
  }

  /** Candidate pairs from one band table: same (band, bh) bucket →
    * candidate, each unordered pair once. */
  private[graft] def lshCandidates(bands: DataFrame): DataFrame =
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()

  /** Broadcast ceiling for the batch band table in `crossCandidates`
    * (ADVICE r7): broadcasting the batch side is the right plan while
    * the batch is small — one map-side scan of the index, no index
    * shuffle — but the hint is a driver/executor-memory contract, and
    * "delta ≈ 10% of the corpus × Bands rows" grows without bound. Past
    * ~4M (doc_id, band, bh) rows (~100 MB serialized) the build side
    * must shuffle instead: the fallback hash-joins BOTH sides on
    * (band, bh) — the index then shuffles as 16-byte band rows, still
    * never as documents or signatures. */
  private val BroadcastBandRowLimit: Long = 4L << 20

  /** Candidate pairs BETWEEN a persisted band index and a new batch's
    * bands. `newBandRows` (≈ |delta docs| × Bands, known from staging
    * metadata — no extra count job) gates the plan: small batches
    * broadcast, so the index is streamed map-side — one scan of the
    * index per batch, no index shuffle; oversized batches fall back to
    * a shuffled hash join (see [[BroadcastBandRowLimit]]).
    * Canonical (da < db) ordering via least/greatest (with the id
    * contract — index ids below batch ids — da is always the indexed
    * doc, but the form stays correct for any id layout). */
  private[graft] def crossCandidates(indexBands: DataFrame, newBands: DataFrame,
                                     newBandRows: Long): DataFrame = {
    val batchSide =
      if (newBandRows <= BroadcastBandRowLimit) broadcast(newBands.as("y"))
      else newBands.as("y").hint("shuffle_hash")
    indexBands.as("x").join(batchSide,
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("da"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("db"))
      .distinct()
  }

  /** Exact-Jaccard verification of candidate pairs against the corpus
    * shingle index: false positives from banding are removed, so the
    * output is the TRUE J ≥ tau subset of the candidates. */
  private def verifyCandidates(docs: DataFrame, cands: DataFrame,
                               tau: Double): DataFrame = {
    val sh = shingles(docs)
    val inter = cands
      .join(sh.select(col("doc_id").as("da"), col("shingle")), "da")
      .join(sh.select(col("doc_id").as("db"), col("shingle")), Seq("db", "shingle"))
      .groupBy("da", "db").agg(count(lit(1)).as("inter"))
    scorePairs(sh, inter, tau)
  }

  /** Exact-Jaccard verification against an EXPLICIT shingle table
    * (persisted base index ∪ freshly-shingled delta) instead of
    * re-shingling documents (VERDICT r7 #1): the candidate doc-id list
    * (bounded by the new pairs — tiny next to the corpus) is
    * broadcast-semi-joined onto the shingle table first, so everything
    * downstream of the index scan — the intersection join, the size
    * aggregate, the scoring — is |candidate docs|-bound, and the
    * append path never recomputes full-corpus shingles. Pruning by DOC
    * keeps every candidate's shingle set complete, so sizes,
    * intersections, and the output are identical to `verifyCandidates`
    * over the same documents. */
  /** Exact-Jaccard verification of candidate pairs against a DOC-GRAIN
    * shingle-ARRAY table (round 13, the online path's verify): the
    * candidate pair set is broadcast against TWO map-side scans of the
    * array table (da side, then db side), and the intersection is one
    * codegen'd `array_intersect` per pair — no shingle-row shuffle, no
    * per-pair count aggregate, no separate size lookups, so the whole
    * verify + downstream result join executes as ONE job (the
    * per-micro-batch job COUNT was q_stream_neardup's measured floor,
    * VERDICT r12 #3). Bit parity with [[verifyCandidatesIndexed]]:
    * per-doc arrays are distinct sets, so |array_intersect| equals the
    * exploded intersection count, sizes equal the group counts, and
    * the double division has identical long operands.
    *
    * The broadcast side is the CANDIDATE PAIR set (+ the da-side
    * arrays on the second join) — bounded by the per-batch band
    * collisions (the [[crossCandidates]] gate), the same contract as
    * the band-table broadcast; an unbounded-candidate caller should
    * use the exploded-row verify instead. */
  private[graft] def verifyCandidatesArrays(arr: DataFrame, cands: DataFrame,
                                            tau: Double): DataFrame = {
    val withA = arr.join(broadcast(cands), col("doc_id") === col("da"))
      .select(col("da"), col("db"), col("sharr").as("sa"))
    arr.join(broadcast(withA), col("doc_id") === col("db"))
      .select(col("da"), col("db"),
        size(array_intersect(col("sa"), col("sharr"))).cast("long").as("inter"),
        size(col("sa")).cast("long").as("na"),
        size(col("sharr")).cast("long").as("nb"))
      .withColumn("jac",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jac") >= tau)
      .select(col("da"), col("db"), col("jac"))
  }

  private[graft] def verifyCandidatesIndexed(sh: DataFrame, cands: DataFrame,
                                      tau: Double,
                                      materializePruned: Boolean = false): DataFrame = {
    val candIds = cands.select(col("da").as("doc_id"))
      .unionAll(cands.select(col("db").as("doc_id"))).distinct()
    val pruned0 = sh.join(broadcast(candIds), Seq("doc_id"), "left_semi")
    // the pruned shingle table has 4 consumers (both sides of the
    // intersection join + both size lookups in scorePairs); in the
    // executed path it is materialized ONCE — bounded by candidate
    // docs — instead of re-running the scan+semi-join per consumer
    val pruned = if (materializePruned) pruned0.localCheckpoint() else pruned0
    val inter = cands
      .join(pruned.select(col("doc_id").as("da"), col("shingle")), "da")
      .join(pruned.select(col("doc_id").as("db"), col("shingle")), Seq("db", "shingle"))
      .groupBy("da", "db").agg(count(lit(1)).as("inter"))
    scorePairs(pruned, inter, tau)
  }

  /** Per-token 60-bit hash: the first 15 hex digits of md5 — computable
    * identically in DuckDB (hex fold), unlike xxhash64. */
  private val TokHashSql = "cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)"

  /** B19b q_dedup_simhash: 60-bit SimHash per document. Classic
    * construction: per bit position j, sum token-frequency-weighted ±1
    * according to bit j of the token hash; simhash bit j = sign of the
    * sum. Emitted per-doc (pair matching at hamming ≤ d is a banded
    * self-join with guaranteed recall — see `simhashPairs`). */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhash(Tables(spark, dir, "documents"))

  def simhash(docs: DataFrame): DataFrame = {
    val tokCnt = docs
      .select(col("doc_id"), explode(expr(TextOps.TokensSql)).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .withColumn("th", expr(TokHashSql))
    tokCnt
      .select(col("doc_id"), col("cnt"), col("th"),
        explode(expr("sequence(0, 59)")).as("j"))
      .withColumn("contrib",
        col("cnt") * (expr("shiftright(th, j) & 1") * 2 - 1))
      .groupBy("doc_id", "j")
      .agg(sum("contrib").as("s"))
      .groupBy("doc_id")
      .agg(sum(when(col("s") > 0, expr("shiftleft(cast(1 as bigint), j)"))
        .otherwise(lit(0L))).as("simhash"))
  }

  /** SimHash near-dup pairs at hamming distance ≤ d via (d+1)-band LSH:
    * any pair within d differing bits shares ≥1 intact band (pigeonhole),
    * so banding has recall exactly 1 — never an all-pairs join. */
  def simhashPairs(spark: SparkSession, dir: String, d: Int = 3): DataFrame =
    simhashPairs(Tables(spark, dir, "documents"), d)

  def simhashPairs(docs: DataFrame, d: Int): DataFrame = {
    val nb = d + 1
    val width = 60 / nb
    val sh = simhash(docs)
    val bands = sh.select(col("doc_id"), col("simhash"),
        posexplode(expr(
          s"transform(sequence(0, ${nb - 1}), b -> shiftright(simhash, b * $width) & ${(1L << width) - 1})")))
      .toDF("doc_id", "simhash", "band", "bh")
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
        expr("bit_count(x.simhash ^ y.simhash)").cast(LongType).as("hamming"))
      .distinct()
      .where(col("hamming") <= d)
  }

  /** Exhaustive embedding-cosine near-duplicate pairs (cos ≥ 0.4) as a
    * direct theta self-join — the spec baseline for the grid/blocked
    * forms below. Plans as a BroadcastNestedLoopJoin: fine at spec
    * scale, deliberately NOT the declared driver query (see
    * `embedNearDupGrid`). */
  def embedNearDup(spark: SparkSession, dir: String): DataFrame = {
    val v = Similarity.vecs(spark, dir)
    v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        (graft.functions.VectorExprs.dot(col("a.e"), col("b.e"))
          / (col("a.nrm") * col("b.nrm"))).as("cos"))
      .where(col("cos") >= 0.4)
  }

  /** North-star q_dedup_embed (declared form): the SAME exact pair set,
    * produced scale-safely by a block-grid self-join — the blocked
    * cross-product decomposition of distributed matrix multiply applied
    * to pair generation.
    *
    * Why not candidate pruning here: this corpus's qualifying pairs sit
    * at cos 0.4–0.6 on near-orthogonal unit vectors (no similarity gap),
    * where NO metric blocking scheme can prune and stay exact — measured
    * K-Means cell recall is 0.35–0.51 single-probe / 0.73–0.85 two-probe
    * (see `embedNearDupBlocked`, kept as the approximate fast path). An
    * exact τ this permissive is intrinsically all-pairs COMPUTE; what
    * must NOT be all-pairs is the plan shape. A single nested-loop join
    * broadcasts the corpus and runs O(n²) work in O(n/P) tasks; the grid
    * splits it into `blocks·(blocks+1)/2` equi-join cells — each task
    * holds two blocks (n/blocks rows each), shuffle volume is
    * (blocks+1)·n rows, and parallelism/memory are tuned by one knob.
    *
    * Grid: vector with g = vec_id mod B sits on side A of cells
    * (g, j≥g) and side B of cells (i≤g, g); cell equality is a plain
    * two-column equi-join key. Every unordered pair meets in exactly one
    * cell (for i<j via the unique (gᵃ,gᵇ) ordering; for i=j via the
    * vec_id guard), so no distinct is needed and the cosine kernel +
    * fold order — hence the output hash — are identical to the
    * exhaustive form. */
  def embedNearDupGrid(spark: SparkSession, dir: String, blocks: Int = 8,
                       tau: Double = 0.4): DataFrame =
    embedNearDupGrid(Similarity.vecs(spark, dir), blocks, tau)

  /** df form: expects (vec_id: Long, e: Array[Double], nrm: Double) as
    * produced by `Similarity.vecs`. */
  def embedNearDupGrid(v: DataFrame, blocks: Int, tau: Double): DataFrame = {
    val bHi = lit((blocks - 1).toLong)
    val a = v.select(col("vec_id").as("ia"), col("e").as("ea"), col("nrm").as("na"))
      .withColumn("gi", pmod(col("ia"), lit(blocks.toLong)))
      .withColumn("gj", explode(sequence(col("gi"), bHi)))
    val b = v.select(col("vec_id").as("ib"), col("e").as("eb"), col("nrm").as("nb"))
      .withColumn("cj", pmod(col("ib"), lit(blocks.toLong)))
      .withColumn("ci", explode(sequence(lit(0L), col("cj"))))
    a.join(b, col("gi") === col("ci") && col("gj") === col("cj"))
      // diagonal cells see both orderings of a pair; off-diagonal exactly one
      .where(col("gi") =!= col("gj") || col("ia") < col("ib"))
      // per-element products and the norm product commute bit-exactly, so
      // side order never changes the double: hash-identical to the oracle
      .select(least(col("ia"), col("ib")).as("va"),
        greatest(col("ia"), col("ib")).as("vb"),
        (graft.functions.VectorExprs.dot(col("ea"), col("eb"))
          / (col("na") * col("nb"))).as("cos"))
      .where(col("cos") >= tau)
  }

  /** q_dedup_semantic: SemDeDup-style cluster-then-prune semantic
    * deduplication (Abbas et al., "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication", 2023 — the
    * published recipe for pretraining-corpus semantic dedup). K-Means
    * clusters the embedding space (quantizer shared with — and
    * memoized by — the IVF search path, K ≈ √n), then WITHIN each
    * cluster members are scanned in vec_id order and dropped when
    * their cosine to an earlier-KEPT member is ≥ τ; the survivor set
    * carries no within-cluster near-dup pair.
    *
    * Scale shape: never an all-pairs stage — candidate pairs exist
    * only inside a cluster, so the quadratic kernel runs on ~√n-sized
    * member lists in K independent tasks (the whole point of
    * clustering first; at 100 TB size `k` so clusters hold ~1-10k
    * members). The greedy scan is sequential PER CELL by design
    * (each decision depends on earlier keeps — the leader-clustering
    * semantics), and the cosine kernel is the same left-fold as the
    * exact grid dedup, so every drop edge is bit-verifiable against
    * `embedNearDupGrid`'s pair list. Declared rows-only (cluster
    * boundaries make the result quantizer-dependent); spec'd against
    * the exact grid pairs at the same τ.
    *
    * Degenerate-cluster bound (VERDICT r6 #3): a collapsed quantizer
    * (near-identical embeddings — exactly the corpora one semantically
    * dedups) can put most of the corpus in ONE cluster, turning the
    * within-cluster kernel into all-pairs in a single task. So the
    * scan unit is a CELL, not a cluster: clusters whose member count
    * exceeds `maxCell` are hash-split into ⌈size/maxCell⌉ sub-cells
    * (deterministic murmur3 of vec_id — no per-cluster sort, which
    * would itself funnel the skewed key into one task), and the greedy
    * scan runs per cell. Expected cell size ≤ maxCell with binomial
    * concentration (±O(√maxCell) whp), so the kernel is bounded by
    * construction; healthy clusters (size ≤ maxCell) keep exactly the
    * classic SemDeDup semantics in one cell. Cross-cell near-dups
    * inside an oversized cluster are deliberately tolerated — the same
    * boundary approximation SemDeDup already accepts BETWEEN clusters.
    * The cluster sizes come from one extra aggregation pass over the
    * assignment (the K-row count table broadcasts back); at 100 TB
    * persist the assignment once instead of computing it twice. */
  def semanticDedup(spark: SparkSession, dir: String, tau: Double = 0.4): DataFrame = {
    val k = Similarity.ivfK(Similarity.corpusSize(spark, dir)) // memoized count
    semanticDedup(Similarity.vecs(spark, dir), Clustering.fit(spark, dir, k = k), tau)
  }

  /** df form at the default cell bound. */
  def semanticDedup(v: DataFrame, cents: Array[Array[Double]],
                    tau: Double): DataFrame =
    semanticDedup(v, cents, tau, 4096)

  /** df form: expects (vec_id, e, nrm) as produced by
    * `Similarity.vecs`, plus fitted centroids. `maxCell` bounds the
    * greedy-scan task input (see above). */
  def semanticDedup(v: DataFrame, cents: Array[Array[Double]],
                    tau: Double, maxCell: Int): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    val assigned = v
      .withColumn("best", array_min(array(Clustering.distStructs(cents): _*)))
      .select(col("vec_id"), col("e"), col("nrm"), col("best.cid").as("cid"))
    // cluster occupancy: ≤ |centroids| rows — broadcasts back onto the
    // assignment to derive each cluster's sub-cell count
    val counts = assigned.groupBy("cid").agg(count(lit(1)).as("csz"))
    assigned.join(broadcast(counts), "cid")
      .withColumn("nsub",
        ceil(col("csz").cast("double") / lit(maxCell.toDouble)).cast("int"))
      .withColumn("cell",
        when(col("nsub") <= 1, lit(0))
          .otherwise(pmod(hash(col("vec_id")), col("nsub"))))
      .select(col("vec_id"), col("e"), col("nrm"), col("cid"), col("cell"))
      .as[(Long, Seq[Double], Double, Int, Int)]
      .groupByKey(t => (t._4, t._5))
      .flatMapGroups { (key: (Int, Int), it: Iterator[(Long, Seq[Double], Double, Int, Int)]) =>
        val (cid, cell) = key
        val ms = it.map { case (id, e, nrm, _, _) => (id, e.toArray, nrm) }
          .toArray.sortBy(_._1)
        val kept =
          scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Double)]
        ms.iterator.map { case (id, ea, nrm) =>
          // first earlier-kept member at cos ≥ τ claims this one; the
          // dot is the same left-fold as VectorExprs.dot (bit-parity
          // with the exact grid pair list)
          var keeper = -1L
          val ki = kept.iterator
          while (keeper < 0L && ki.hasNext) {
            val (kid, ke, knrm) = ki.next()
            var s = 0.0
            var i = 0
            while (i < ea.length) { s += ea(i) * ke(i); i += 1 }
            if (s / (nrm * knrm) >= tau) keeper = kid
          }
          if (keeper < 0L) {
            kept += ((id, ea, nrm))
            (id, cid, true, None: Option[Long], cell)
          } else (id, cid, false, Some(keeper), cell)
        }
      }
      .toDF("vec_id", "cid", "keep", "kept_by", "cell")
      .orderBy("vec_id")
  }

  // ── ORACLE-EXACT semantic dedup (VERDICT r7 #3) ────────────────────
  //
  // `semanticDedup` above is the SemDeDup recipe with double cosines
  // and a murmur3 cell split — deterministic for Spark, but not
  // replayable in another engine (float fold order, engine-specific
  // hash). The DECLARED q_dedup_semantic is this fixed-point twin,
  // bit-reproducible anywhere (the q_kmeans pattern):
  //  - embeddings quantized once to micro-units (round(x·10⁶) BIGINT);
  //  - the quantizer is `Clustering.fitFixed` (exact-integer Lloyd,
  //    already oracle-unrolled for q_kmeans) at K = ivfK(n);
  //  - oversized clusters split by a twice-iterated Lehmer/MINSTD mix
  //    of the id — cell = (id mod P)·48271² [mod P between steps] mod
  //    nsub with P = 2³¹−1 (see CellMixP/CellMixA) — deterministic,
  //    engine-agnostic integer arithmetic (no murmur3 in SQL) that
  //    breaks the residue structure a plain id-mod split would
  //    inherit from structured id schemes (stride-20 ids would land
  //    every member in ONE sub-cell under a raw mod; spec'd);
  //  - the greedy drop test `cos ≥ τ` runs in EXACT integers: with
  //    τ = num/den, cos(a,b) ≥ τ ⇔ s > 0 ∧ den²·s² ≥ num²·|a|²·|b|²
  //    where s = Σaᵢbᵢ over micro-units — no sqrt, no division, no
  //    fold-order contract. The DuckDB oracle replays the whole thing:
  //    the Lloyd chain as chained CTEs, the per-cell greedy scan as a
  //    recursive CTE stepping one member rank per iteration with the
  //    kept-so-far set carried as list columns.
  // Same 100 TB shape as `semanticDedup`: bounded cells, K tasks,
  // never all-pairs. Σaᵢbᵢ fits a signed 64-bit long while components
  // stay under ~3.8e8 micro-units (|x| ≲ 380) at 64 dims — any real
  // embedding is orders of magnitude inside that; the τ comparison
  // itself runs in BigInt (s² overflows long).

  /** Lehmer/MINSTD cell-split mix (Park–Miller minimal standard
    * generator step, applied TWICE): P = 2³¹−1 (prime), multiplier
    * 48271. One step is not enough — id·48271 stays below P for ids
    * under ~44k, so small structured ids (stride 20, stride 2…) keep
    * their residue pattern verbatim; the second step multiplies a
    * value ≥ 48271 and always wraps mod P, destroying the stride. Each
    * product fits signed 64-bit ((P−1)·48271 ≈ 1.0e14), so Spark and
    * DuckDB compute the mix exactly. */
  private[graft] val CellMixP = 2147483647L
  private[graft] val CellMixA = 48271L

  /** Catalog form — the declared q_dedup_semantic. τ = 0.4 = 2/5. */
  def semanticDedupFixed(spark: SparkSession, dir: String): DataFrame = {
    val k = Similarity.ivfK(Similarity.corpusSize(spark, dir))
    semanticDedupFixed(Clustering.qvecs(spark, dir),
      Clustering.fitFixed(spark, dir, Clustering.Iters, k), 2L, 5L, 4096)
  }

  /** df form: expects (vec_id: Long, e: Array[Long]) micro-unit vectors
    * plus fitted integer centroids; τ = tauNum/tauDen. */
  private[graft] def semanticDedupFixed(v: DataFrame, cents: Array[Array[Long]],
                                        tauNum: Long, tauDen: Long,
                                        maxCell: Int): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    val assigned = Clustering.assignFixed(v, cents)
      .select(col("vec_id"), col("e"), col("cid"))
    val counts = assigned.groupBy("cid").agg(count(lit(1)).as("csz"))
    val num2 = BigInt(tauNum) * BigInt(tauNum)
    val den2 = BigInt(tauDen) * BigInt(tauDen)
    assigned.join(broadcast(counts), "cid")
      .withColumn("nsub",
        greatest(lit(1L), ceil(col("csz").cast("double") / lit(maxCell.toDouble))))
      .withColumn("cell",
        (pmod(col("vec_id"), lit(CellMixP)) * lit(CellMixA) % lit(CellMixP)
          * lit(CellMixA) % lit(CellMixP) % col("nsub")).cast("int"))
      .select(col("vec_id"), col("e"), col("cid"), col("cell"))
      .as[(Long, Seq[Long], Int, Int)]
      .groupByKey(t => (t._3, t._4))
      .flatMapGroups { (key: (Int, Int), it: Iterator[(Long, Seq[Long], Int, Int)]) =>
        val (cid, cell) = key
        val ms = it.map { case (id, e, _, _) => (id, e.toArray) }
          .toArray.sortBy(_._1)
        val kept =
          scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long], Long)]
        ms.iterator.map { case (id, qa) =>
          var na2 = 0L
          var i = 0
          while (i < qa.length) { na2 += qa(i) * qa(i); i += 1 }
          var keeper = -1L
          val ki = kept.iterator
          while (keeper < 0L && ki.hasNext) {
            val (kid, kq, kn2) = ki.next()
            var s = 0L
            var j = 0
            while (j < qa.length) { s += qa(j) * kq(j); j += 1 }
            if (s > 0L &&
                den2 * BigInt(s) * BigInt(s) >= num2 * BigInt(na2) * BigInt(kn2))
              keeper = kid
          }
          if (keeper < 0L) {
            kept += ((id, qa, na2))
            (id, cid.toLong, true, None: Option[Long], cell.toLong)
          } else (id, cid.toLong, false, Some(keeper), cell.toLong)
        }
      }
      .toDF("vec_id", "cid", "keep", "kept_by", "cell")
      .orderBy("vec_id")
  }

  /** q_dedup_cc: connected components over the near-dup pair graph —
    * transitive dup clustering. A pair list alone under-deduplicates: if
    * A≈B and B≈C but A̸≈C, keeping "the lower id of each pair" keeps A
    * and C. Components close the relation; the canonical doc per
    * component is its minimum id.
    *
    * Algorithm: iterative min-label propagation (the classic MapReduce
    * connected-components loop — Kang et al.'s HCC in PEGASUS, ICDM
    * 2009 — which is the reference's programming model done declaratively)
    * WITH label shortcutting: each round every node adopts the min of
    * its own label, its neighbors' labels, AND its label's label
    * (L(L(v)) — the pointer-doubling step of Shiloach-Vishkin, the
    * star-contraction idea in Kiveris et al., SoCC 2014). Plain
    * propagation needs diameter rounds — fatal on chain-shaped
    * components (a mutual-kNN graph, q_knn_graph, builds exactly
    * those); the shortcut hop doubles propagation distance per round,
    * so rounds ≈ log₂(diameter). Each round is two joins + one
    * partial/final min-agg, lineage cut per round with Engine.cut
    * (reliable-checkpoint knob: SPARK_GRAFT_CHECKPOINT_DIR). The
    * shortcut preserves the invariant that L(v) names a node of v's
    * own component (initially L(v)=v; both the neighbor pull and the
    * L(L(v)) hop stay inside the component), so the fixpoint —
    * nothing changed — is exactly "every node holds its component
    * min". Driver state is one Boolean (converged?). The dup GRAPH
    * (pairs) is orders of magnitude smaller than the corpus at any
    * scale. */
  def dupComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col("da").as("u"), col("db").as("v"))
      .unionAll(pairs.select(col("db").as("u"), col("da").as("v")))
      .transform(graft.Engine.cut(_))
    var labels = edges.select(col("u").as("node")).distinct()
      .withColumn("comp", col("node"))
      .transform(graft.Engine.cut(_))
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      // Convergence rides the SAME action as the propagation: each node's
      // previous label is carried through the min-agg (every node has
      // exactly one self row), and an Observation (CollectMetrics) counts
      // changed labels during the lineage-cut materialization — one
      // Spark job per iteration. (The previous probe was a second full
      // left_semi join job per round.)
      val obs = org.apache.spark.sql.Observation()
      // L(L(v)) shortcut rows: v adopts its label's label. comp values
      // are always node ids present in `labels` (see invariant above),
      // so the self-join hits every row. Round 1 skips it: labels are
      // still the identity (comp = node), so the hop join would emit
      // exactly the self rows the third union leg already carries —
      // one join job saved per CC call (r15; result unchanged by the
      // identity argument).
      val hopLegs =
        if (it == 0) Nil
        else Seq(labels.as("a")
          .join(labels.select(col("node").as("ln"), col("comp").as("lc")),
            col("a.comp") === col("ln"))
          .select(col("a.node").as("u"), col("lc").as("comp"),
            lit(0L).as("own")))
      val next = (edges.join(labels, col("v") === col("node"))
        .select(col("u"), col("comp"), lit(0L).as("own")) +:
        hopLegs).reduce(_.unionAll(_))
        .unionAll(labels.select(col("node").as("u"), col("comp"),
          lit(1L).as("own")))
        .groupBy(col("u").as("n2"))
        .agg(min("comp").as("c2"),
          max(when(col("own") === 1L, col("comp"))).as("prev"))
        .observe(obs,
          sum(when(col("c2") =!= col("prev"), 1L).otherwise(0L)).as("changed"))
        .select(col("n2").as("node"), col("c2").as("comp"))
        .transform(graft.Engine.cut(_))
      converged = Option(obs.get("changed"))
        .forall(_.asInstanceOf[Long] == 0L)
      labels = next
      it += 1
    }
    // fail loudly rather than return silently-wrong labels: iterations
    // needed ≈ component diameter, so a hit here means pathologically
    // chained dups — raise maxIter, don't trust partial propagation
    if (!converged) throw new IllegalStateException(
      s"dupComponents did not converge in $maxIter iterations; " +
        "raise maxIter (propagation rounds ~ dup-component diameter)")
    labels.select(col("node").as("doc_id"), col("comp"))
  }

  /** Catalog form over the MinHash-LSH pairs (J ≥ 0.8). Memoized per
    * (dir, data fingerprint): a curation run computes components ONCE
    * and every consumer (q_dedup_cc, q_dedup_stats, q_dedup_keep_best)
    * reads the same materialized labels — the returned frame is backed
    * by the CC loop's final lineage cut, so repeated actions replay
    * cached blocks, not the propagation loop. Session-scoped (the
    * backing blocks die with the SparkContext); cleared by the bench
    * between timed runs. */
  private val compCache =
    new scala.collection.concurrent.TrieMap[(String, String), DataFrame]()

  def clearComponentCache(): Unit = compCache.clear()

  def dupComponents(spark: SparkSession, dir: String): DataFrame =
    compCache.getOrElseUpdate((dir, graft.Fs.tableFingerprint(dir, "documents")),
      dupComponents(minhashLsh(Tables(spark, dir, "documents"))))

  // ---- incremental dedup of an appended batch (VERDICT r6 #5): the
  // catalog `dupComponents` recomputes MinHash + LSH + CC over the
  // WHOLE corpus per run — a daily-ingest pipeline cannot pay a full
  // 128-permutation signature pass over 100 TB because 1% of it is
  // new. The amortized shape (the curation twin of
  // `Similarity.stagedAppendedIndex`): persist the base corpus's BAND
  // INDEX and verified pair list once; per batch, compute signatures
  // for the |delta| new docs only, probe them against the persisted
  // bands (batch side broadcast → ONE map-side scan of the index, no
  // index shuffle), LSH the batch against itself, exact-verify only
  // the new candidates, and union the new pairs into the label
  // propagation. Per-batch cost ∝ |delta| signatures + one index scan
  // + |new candidates| verifications — never a base re-signature.
  //
  // Append-then-dedup ≡ one-shot dedup EXACTLY (not just whp): a
  // document's band rows are a pure function of its own shingles
  // (`sigBands`), so base-band ∪ batch-band buckets equal the one-shot
  // buckets, the candidate union (base×base persisted, base×delta
  // probed, delta×delta batch-local) equals the one-shot candidate
  // set, and the shared exact verification removes the same false
  // positives — hence q_dedup_append carries q_dedup_cc's ORACLE
  // verbatim (recursive closure over exhaustive J ≥ 0.8 pairs of the
  // full corpus). Spec'd additionally via the df-form parity seam.
  //
  // The verification stage joins candidates against the SHINGLE INDEX
  // persisted beside the bands (plus the delta's freshly-computed
  // shingles), so per-batch verify cost is |candidate docs|-bound —
  // the append path never re-shingles the corpus (VERDICT r7 #1).

  private val bandIdxCache =
    new scala.collection.concurrent.TrieMap[(String, String), (String, Long, Long)]()

  def clearBandIndexCache(): Unit = bandIdxCache.clear()

  /** Staged base-corpus band index + SHINGLE index + verified base pair
    * list, memoized per (dir, data fingerprint); returns (root, cut,
    * deltaDocs). The base/batch split mirrors
    * `Similarity.stagedAppendedIndex`: the last ~10% of doc ids arrive
    * "late" — the index genuinely never sees them. The shingle index
    * rides beside the bands so the per-batch exact-verify stage joins
    * candidates against it instead of re-shingling the corpus;
    * range-layout on doc_id gives every file/row-group tight min/max
    * stats, so at 100 TB the candidate semi-join reads only the index
    * slices holding candidate docs. */
  private[graft] def stagedBandIndex(spark: SparkSession, dir: String): (String, Long, Long) =
    bandIdxCache.getOrElseUpdate((dir, graft.Fs.tableFingerprint(dir, "documents")), {
      val docs = Tables(spark, dir, "documents")
      val n = docs.count()
      val cut = n - math.max(1L, n / 10)
      val base = docs.where(col("doc_id") < cut)
      // the broadcast gate needs the delta ROW count, not the id
      // threshold — with sparse doc ids the two diverge arbitrarily
      // (the Similarity.stagedAppendedIndex refresh-fraction fix, same
      // class); counted once here, carried in the staging metadata
      val baseRows = base.count()
      val root = graft.Engine.workDir("graft-bandidx-").getAbsolutePath
      // three independent artifact writes — overlap them (guide §2.6)
      // so each job's task tail back-fills the others' idle cores;
      // dedicated drained pool per [[Staging.JobPool]]
      locally {
        val pool = new Staging.JobPool(3)
        try {
          pool.submit {
            sigBands(base).write.mode("overwrite").parquet(s"$root/bands")
          }
          pool.submit {
            shingles(base).repartitionByRange(col("doc_id"))
              .sortWithinPartitions("doc_id")
              .write.mode("overwrite").parquet(s"$root/shingles")
          }
          pool.submit {
            minhashLsh(base).write.mode("overwrite").parquet(s"$root/pairs")
          }
          pool.await()
        } finally pool.drainQuiet()
      }
      (root, cut, n - baseRows)
    })

  /** The batch probe: verified new pairs (delta×base ∪ delta×delta)
    * from the persisted band index — the plan the scale argument is
    * about (batch bands broadcast below the size gate; index scanned
    * map-side, no index shuffle; verification candidate-bound via the
    * persisted shingle index — the only documents scans in the plan
    * are the delta's), exposed for the plan spec because
    * `dedupAppend`'s returned labels sit behind the CC loop's lineage
    * cuts.
    *
    * ONE body, two modes (so the spec'd plan cannot drift from the
    * executed one): `exec = false` (the plan-spec surface) keeps the
    * dataflow fully declarative; `exec = true` (what `dedupAppend`
    * runs) materializes the bounded intermediates once via
    * localCheckpoint — the bpeEncode multi-consumer pattern, with
    * accurate sizes for AQE unlike .cache()'s inflated stats. Left
    * declarative, the shared subtrees re-evaluate per consumer (the
    * delta band table feeds the cross probe plus both sides of the
    * batch-local self-join; candidate/pruned tables fan out 2-4×
    * each), multiplying to ~12 delta re-signatures per run — measured
    * 12.4 s vs ~4 s at sf0.1. Checkpointed sizes are all batch- or
    * dup-graph-bounded: |delta|·32 band rows, candidate pairs,
    * candidate docs' shingles. */
  private[graft] def appendProbe(spark: SparkSession, dir: String,
                                 exec: Boolean = false): DataFrame = {
    val (root, cut, deltaDocs) = stagedBandIndex(spark, dir)
    val mat: DataFrame => DataFrame =
      if (exec) df => df.localCheckpoint() else identity
    val docs = Tables(spark, dir, "documents")
    val delta = docs.where(col("doc_id") >= cut)
    val deltaBands = mat(sigBands(delta))
    val newCands = mat(crossCandidates(spark.read.parquet(s"$root/bands"),
        deltaBands, deltaDocs * Bands)
      .unionAll(lshCandidates(deltaBands))) // disjoint pair spaces: no distinct
    verifyCandidatesIndexed(
      spark.read.parquet(s"$root/shingles").unionByName(shingles(delta)),
      newCands, 0.8, materializePruned = exec)
  }

  /** North-star q_dedup_append: connected components of the dup graph,
    * maintained INCREMENTALLY over an appended batch (see block comment
    * above). Output ≡ q_dedup_cc bit-for-bit. */
  def dedupAppend(spark: SparkSession, dir: String): DataFrame = {
    val (root, _, _) = stagedBandIndex(spark, dir)
    dupComponents(spark.read.parquet(s"$root/pairs")
      .unionAll(appendProbe(spark, dir, exec = true)))
  }

  /** df-form parity seam (no persistence): incremental components from
    * an explicit (base, delta) split — what the staged catalog form
    * must agree with, and the spec's crafted-corpus surface. Routes
    * through the same indexed-verify code path as `appendProbe` (the
    * shingle table here is computed, not persisted — the seam proves
    * SEMANTICS, the staged form proves the plan). */
  private[graft] def dedupAppend(base: DataFrame, delta: DataFrame): DataFrame = {
    val baseBands = sigBands(base)
    val deltaBands = sigBands(delta)
    val basePairs = verifyCandidates(base, lshCandidates(baseBands), 0.8)
    // spec-scale seam: always broadcast (0 ≤ gate) rather than paying
    // an eager count() job on an arbitrary caller frame at
    // plan-construction time — the STAGED path owns the size gate,
    // with the batch size known from staging metadata
    val newCands = crossCandidates(baseBands, deltaBands, 0L)
      .unionAll(lshCandidates(deltaBands))
    val newPairs = verifyCandidatesIndexed(
      shingles(base).unionByName(shingles(delta)), newCands, 0.8)
    dupComponents(basePairs.unionAll(newPairs))
  }

  /** q_dedup_stats: duplicate-cluster size distribution — the QA view
    * of a dedup run (how much of the corpus is duplicated, and is it
    * many small pairs or a few giant boilerplate clusters? a heavy
    * tail here usually means a template/boilerplate source, not true
    * duplication — exactly what a curation team audits before
    * dropping data). Composes `dupComponents`: per-component sizes,
    * then a size histogram, plus singleton accounting from the corpus
    * count (docs in no pair are singletons and never enter the label
    * propagation). Output grain is |distinct sizes| — tiny at any
    * corpus scale.
    *
    * Oracle equivalence is PROBABILISTIC, as for q_dedup_minhash: the
    * pair set comes from MinHash-LSH banding (32×4) while the DuckDB
    * oracle derives components from exhaustive Jaccard ≥ 0.8 pairs —
    * equal whp because a qualifying pair escapes all 32 bands with
    * probability ≤ (1−0.8⁴)³² ≈ 2e-9 (and the exact-verify join removes
    * all false positives). On an adversarial corpus with ~10⁶+
    * qualifying pairs the histogram could diverge; re-derive the
    * oracle from the LSH pair set if that regime matters. */
  def dedupStats(spark: SparkSession, dir: String): DataFrame = {
    val nDocs = Tables(spark, dir, "documents").count()
    val sizes = dupComponents(spark, dir)
      .groupBy("comp").agg(count(lit(1)).as("sz"))
    val hist = sizes.groupBy("sz").agg(count(lit(1)).as("n_clusters"))
    val nInPairs = sizes.agg(sum("sz")).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    hist.unionAll(
      hist.sparkSession.range(1).select(
        lit(1L).as("sz"), lit(nDocs - nInPairs).as("n_clusters")))
      .groupBy("sz").agg(sum("n_clusters").as("n_clusters"))
      .where(col("n_clusters") > 0L)
  }

  /** q_dedup_cross: the SOURCE×SOURCE contamination matrix — verified
    * near-dup pair counts per unordered source pair, the audit a
    * multi-source corpus runs BEFORE mixing (Dolma/RedPajama-style
    * recipes dedup per source then ask which source pairs overlap:
    * heavy off-diagonal mass means one source mirrors another —
    * double-counted content and, if one source feeds eval sets,
    * train/test contamination; heavy diagonal means within-source
    * boilerplate the per-source dedup should have caught). Composes
    * the trusted MinHash-LSH verified pairs with a slim
    * (doc_id, source) projection — two broadcast-sized joins after the
    * pair mining; output grain ≤ |sources|², tiny at any corpus scale.
    * Oracle equivalence probabilistic exactly as q_dedup_minhash
    * (exhaustive-pairs CTE vs banding; miss prob ≤ 2e-9/pair). */
  def dedupCross(spark: SparkSession, dir: String): DataFrame =
    dedupCross(Tables(spark, dir, "documents"))

  def dedupCross(docs: DataFrame): DataFrame = {
    val pairs = minhashLsh(docs)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("da"), col("source").as("sa")), "da")
      .join(src.select(col("doc_id").as("db"), col("source").as("sb")), "db")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** q_dedup_keep_best: QUALITY-AWARE canonical selection — within each
    * dup cluster keep the highest-quality member (here: longest
    * `n_chars`, ties to the lower doc_id) instead of blindly keeping
    * the minimum id. This is the curation policy real pipelines want:
    * boilerplate-stripped short copies lose to the fullest version of
    * the content. Composes `dupComponents` over the MinHash-LSH pair
    * graph; docs in no pair are their own canonical. The argmax is a
    * partial/final `max_by(doc_id, struct(n_chars, -doc_id))` — no
    * window over the corpus, so a giant boilerplate cluster never
    * funnels into one task; the oracle mirrors it with a
    * `row_number() OVER (ORDER BY n_chars DESC, doc_id)` pick.
    * Output: (doc_id, canonical_id, is_canonical) at corpus grain. */
  def keepBest(spark: SparkSession, dir: String): DataFrame =
    keepBest(Tables(spark, dir, "documents").select("doc_id", "n_chars"),
      dupComponents(spark, dir)) // same pair source as q_dedup_cc/q_dedup_stats

  /** df form: expects docs (doc_id, n_chars) and component labels
    * (doc_id, comp) covering the docs that are in any dup pair. */
  def keepBest(docs: DataFrame, comps: DataFrame): DataFrame = {
    val labeled = docs
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("comp"), col("doc_id")).as("comp"))
    val best = labeled.groupBy("comp")
      .agg(max_by(col("doc_id"),
        struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("canonical_id"))
    labeled.join(best, "comp")
      .select(col("doc_id"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** q_passage_dedup: sub-document duplicate-passage detection — the
    * passage/line-level dedup of the C4/CCNet/RefinedWeb recipes (at
    * web scale most duplication is REPEATED SPANS — boilerplate,
    * navigation, license blurbs — inside otherwise-distinct pages, so
    * doc-level dedup misses it). Each document is cut into
    * non-overlapping `win`-token passages; a passage is canonical at
    * its first corpus occurrence (lowest (doc_id, widx)) and a
    * duplicate everywhere else. Emitted per document: passage count
    * and surviving (canonical) count — the retention ledger a curation
    * run audits before rewriting text.
    *
    * Scale shape: passages shuffle as 128-bit digests (md5), never as
    * text — the groupBy key and the verify join carry 32 hex chars per
    * `win` tokens; the canonical pick is a partial/final min(struct)
    * aggregate, so a passage repeated 10⁹ times shuffles one candidate
    * per input partition, not 10⁹ rows. No window over the passage
    * key (the boilerplate passage IS the skew key). */
  def passageDedup(spark: SparkSession, dir: String, win: Int = 10): DataFrame =
    passageDedup(Tables(spark, dir, "documents"), win)

  /** df form: expects (doc_id: Long, text: String). */
  def passageDedup(docs: DataFrame, win: Int): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val p = docs
      .select(col("doc_id"), expr(graft.operators.TextOps.TokensSql).as("ts"))
      .select(col("doc_id"), posexplode(
        // the CASE guards short docs: sequence(0, -1) would DESCEND
        expr(s"CASE WHEN size(ts) >= $win THEN" +
          s" transform(sequence(0, cast(size(ts) / $win as int) - 1)," +
          s" w -> concat_ws(' ', slice(ts, w * $win + 1, $win)))" +
          s" ELSE cast(array() as array<string>) END"))
        .as(Seq("widx", "passage")))
      .select(col("doc_id"), col("widx").cast(LongType).as("widx"),
        md5(col("passage")).as("ph"))
    val first = p.groupBy("ph")
      .agg(min(struct(col("doc_id"), col("widx"))).as("f"))
    p.join(first, "ph")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("f.doc_id") === col("doc_id") &&
          col("f.widx") === col("widx"), 1L).otherwise(0L)).as("kept_passages"))
  }

  /** Minimum DISTINCT-document frequency for a passage to count as
    * boilerplate: ≥ 3 documents is the published C4 shape (its
    * three-sentence-span rule) and the df distribution is scale-stable
    * on the fixtures (strip set 9/7/45 passages at sf0.001/0.01/0.1 —
    * nonzero and small at every scale; at web scale the rule is
    * applied per shard with the same absolute threshold). */
  val BoilerplateDf = 3L

  /** q_boilerplate: boilerplate REMOVAL — the corpus-rewrite step
    * [[passageDedup]] only audits. A passage (the same non-overlapping
    * `win`-token unit) occurring in ≥ [[BoilerplateDf]] DISTINCT
    * documents is boilerplate — navigation, license blurbs, cookie
    * banners — and is stripped from EVERY document including its first
    * occurrence (the C4/CCNet rule; passage dedup keeps first
    * occurrences, boilerplate removal keeps none). Emitted per doc:
    * the rebuilt token text (kept passages in order + the sub-window
    * tail, whitespace-normalized by the tokens() convention), passage
    * count, and stripped count — the cleaned corpus a curation
    * pipeline feeds downstream.
    *
    * Scale shape: passages shuffle as md5 digests; the boilerplate set
    * is df-thresholded and TINY relative to the corpus (high-df mass
    * concentrates on few distinct passages — Zipf), so the strip is a
    * broadcast anti-join; the text rebuild is a per-doc sort over that
    * doc's own kept passages (bounded by doc length), never a corpus
    * window. */
  def boilerplateStrip(spark: SparkSession, dir: String, win: Int = 10): DataFrame =
    boilerplateStrip(Tables(spark, dir, "documents"), win)

  /** df form: expects (doc_id: Long, text: String). */
  def boilerplateStrip(docs: DataFrame, win: Int): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val t = docs.select(col("doc_id"),
      expr(graft.operators.TextOps.TokensSql).as("ts"))
    val p = t
      .select(col("doc_id"), posexplode(
        expr(s"CASE WHEN size(ts) >= $win THEN" +
          s" transform(sequence(0, cast(size(ts) / $win as int) - 1)," +
          s" w -> concat_ws(' ', slice(ts, w * $win + 1, $win)))" +
          s" ELSE cast(array() as array<string>) END"))
        .as(Seq("widx", "passage")))
      .select(col("doc_id"), col("widx").cast(LongType).as("widx"),
        col("passage"), md5(col("passage")).as("ph"))
    val bp = p.groupBy("ph")
      .agg(countDistinct(col("doc_id")).as("df"))
      .where(col("df") >= BoilerplateDf)
      .select("ph")
    // no explicit broadcast hint (ADVICE r12): the df≥3 set is tiny on
    // Zipf-shaped corpora, but that is data-dependent — a template-heavy
    // corpus could blow a forced broadcast. AQE sees the aggregated
    // side's real runtime size and broadcasts exactly when it fits.
    val kept = p.join(bp, Seq("ph"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(widx, passage)))," +
            " s -> s.passage)"), " ").as("body"))
    t.select(col("doc_id"),
        expr(s"cast(size(ts) div $win as bigint)").as("n_passages"),
        expr(s"concat_ws(' ', slice(ts, (size(ts) div $win) * $win + 1," +
          s" size(ts) - (size(ts) div $win) * $win))").as("tail"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        trim(concat_ws(" ", coalesce(col("body"), lit("")), col("tail")))
          .as("clean_text"),
        col("n_passages"),
        (col("n_passages") - coalesce(col("n_kept"), lit(0L))).as("n_stripped"))
  }

  /** Materialized transitive near-dedup of a corpus: drop every
    * non-canonical member of every near-dup component (MinHash-LSH
    * pairs closed by `dupComponents`), keep everything else untouched.
    * The drop set is tiny relative to the corpus → broadcast anti-join. */
  def dedupNear(docs: DataFrame): DataFrame = {
    val drop = dupComponents(minhashLsh(docs))
      .where(col("doc_id") =!= col("comp"))
      .select("doc_id")
    docs.join(broadcast(drop), Seq("doc_id"), "left_anti")
  }

  /** The approximate fast path of embedding near-dup: candidate pairs
    * only where the two vectors' nearest-2 K-Means cells intersect
    * (IVF coarse quantizer from `Clustering.fit`, two-probe). The pair
    * join is equi on `cid` — O(Σ listᵢ²) instead of O(n²) — with
    * sub-quadratic cost, but recall < 1 on weakly-similar pairs:
    * measured on this corpus at τ=0.4, single-probe recovers 0.35–0.51
    * of the exact pairs and two-probe 0.73–0.85 (qualifying pairs sit on
    * near-orthogonal vectors with no similarity gap, so cell boundaries
    * cut through them). That is why the DECLARED q_dedup_embed is the
    * exact `embedNearDupGrid`; this form is the knob a 100 TB user turns
    * when an approximate pair set is acceptable — recall is
    * property-tested vs the exact operator, and rises with τ (tight
    * near-dups co-cluster). */
  def embedNearDupBlocked(spark: SparkSession, dir: String, tau: Double = 0.4): DataFrame = {
    val k = Similarity.ivfK(Similarity.corpusSize(spark, dir))
    val ds = Clustering.distStructs(Clustering.fit(spark, dir, k = k))
    val v = Similarity.vecs(spark, dir)
      .withColumn("cells", array(ds: _*))
      // nearest-2 cells per vector (two-probe): explode to 2 rows
      .withColumn("cid", explode(expr(
        "transform(slice(array_sort(cells), 1, 2), s -> s.cid)")))
      .select(col("vec_id"), col("e"), col("nrm"), col("cid"))
    v.as("a").join(v.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        (graft.functions.VectorExprs.dot(col("a.e"), col("b.e"))
          / (col("a.nrm") * col("b.nrm"))).as("cos"))
      .where(col("cos") >= tau)
      // a pair sharing both probe cells appears twice with bit-identical cos
      .distinct()
  }

  // ---------------------------------------------------------------------
  // q_ssjoin: EXACT set-similarity self-join via prefix filtering
  // ---------------------------------------------------------------------

  /** q_ssjoin: EXACT shingle-set similarity self-join at J ≥ 4/5 via
    * prefix filtering — the deterministic counterpart of
    * [[minhashLsh]]: same semantics (3-token shingle sets, Jaccard ≥
    * 0.8, each qualifying unordered pair once), but the candidate
    * filter is LOSSLESS, so the output is the exact pair set by
    * construction, not merely with overwhelming probability.
    * The algorithm is the MapReduce set-similarity join of Vernica,
    * Carey & Li (SIGMOD 2010), built on the prefix-filtering principle
    * (Chaudhuri, Ganti & Kaushik, ICDE 2006; Bayardo, Ma & Srikant,
    * WWW 2007; Xiao et al., WWW 2008).
    *
    * Why the filter is lossless at τ = 4/5: J(a,b) ≥ τ forces
    * (i) 5·min(na,nb) ≥ 4·max(na,nb) (since J ≤ min/max — the length
    * filter), and (ii) |a∩b| ≥ τ/(1+τ)·(na+nb) ≥ ⌈τ·na⌉ and ≥ ⌈τ·nb⌉
    * (substituting (i)). By the prefix-filtering lemma, two sets with
    * overlap ≥ o must share a token inside their (size − o + 1)-prefixes
    * under ANY global token order — so prefixes of length
    * n − ⌈4n/5⌉ + 1 (ceil as the exact integer (4n+4) div 5) MUST
    * intersect for every qualifying pair. Candidates are verified with
    * exact integer counts; the acceptance predicate 9·inter ≥ 4·(na+nb)
    * is the integer form of J ≥ 4/5, so no float enters any decision.
    *
    * Shape at scale (the reason this beats the brute inverted-index
    * join): the global order is RAREST-FIRST (df asc), so prefix
    * tokens are each document's lowest-df shingles — the candidate
    * join's per-key fanout is the low-df tail of the shingle
    * distribution, not the full posting lists. The prefix keeps only
    * ~(1−τ) of each document's tokens (~20% of index rows at τ=4/5;
    * measured on the fixture: 5.5k of 26k shingle rows, and the 25
    * candidates were exactly the 25 true pairs — zero wasted
    * verifications). Verification is |candidate docs|-bound via the
    * same broadcast-semi-join pruning as [[verifyCandidatesIndexed]].
    * Output: (da, db, inter, na, nb, jacc_micro) — all BIGINT, the
    * Jaccard reported as exact micro-units ((10⁶·i) div u). */
  def ssjoin(spark: SparkSession, dir: String): DataFrame =
    ssjoin(Tables(spark, dir, "documents"))

  def ssjoin(docs: DataFrame): DataFrame = {
    // the shingle table has FIVE consumers downstream (dfreq, the
    // prefix join, the pruned semi, and the two intersection sides) —
    // without the cut the tokenize+explode+distinct derivation re-ran
    // per consumer wherever consumers materialize in separate jobs
    // (same-window min-of-3 A/B at sf0.1: 4.2 → 3.4 s). Each cut frame
    // is freed as soon as its last consumer is materialized (the
    // dupComponents dead-frame discipline).
    val sh = graft.Engine.cut(shingles(docs))
    val (pairs, prefix) = ssjoinCandidates(sh)
    val cands = graft.Engine.cut(pairs)
    graft.Engine.free(prefix) // dead: the pair cut materialized it away
    val out = ssjoinVerify(sh, cands)
    graft.Engine.free(sh) // dead: verify materialized its pruned slice
    // `cands` and verify's candidate-bound `pruned` slice stay alive by
    // necessity: the returned (lazy) plan reads both when the caller
    // materializes it. Both are candidate-volume-bound, not corpus-
    // bound, and die with the session like any serve-output lineage.
    out
  }

  /** Lossless candidate pairs from the rarest-first prefix index:
    * prefix rows meet on the shingle, the integer length filter prunes
    * incompatible sizes at candidate time. One window exchange
    * (doc_id) computes rank and set size together; the df lookup is
    * the (shingle → df) join that IS the algorithm's "sort by global
    * token frequency" step. */
  private[graft] def ssjoinCandidates(sh: DataFrame): (DataFrame, DataFrame) = {
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df"), col("shingle"))
    val wN = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val prefix = sh.join(dfreq, "shingle")
      .withColumn("rn", row_number().over(wDoc))
      .withColumn("n", count(lit(1)).over(wN))
      // p(n) = n − ⌈4n/5⌉ + 1; ceil(4n/5) = (4n+4) div 5 exactly
      // (non-negative operands, so div ≡ floor in both engines)
      .where(col("rn") <= col("n") - expr("(4 * n + 4) div 5") + 1)
      .select(col("doc_id"), col("shingle"), col("n"))
      .transform(graft.Engine.cut(_)) // self-joined below: one window
                                      // pass, not two. Returned as the
                                      // second element so the caller can
                                      // Engine.free it once the pair
                                      // result is cut-materialized.
    val pairs = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id") &&
          lit(5L) * least(col("a.n"), col("b.n")) >=
            lit(4L) * greatest(col("a.n"), col("b.n")))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    (pairs, prefix)
  }

  /** Exact integer verification: candidate-doc-pruned shingle index →
    * intersection counts → the integer acceptance predicate. Same
    * |candidate docs|-bound discipline as [[verifyCandidatesIndexed]],
    * but the emitted row is the all-BIGINT (inter, na, nb, jacc_micro)
    * form — no double division anywhere. */
  private def ssjoinVerify(sh: DataFrame, cands: DataFrame): DataFrame = {
    val candIds = cands.select(col("da").as("doc_id"))
      .unionAll(cands.select(col("db").as("doc_id"))).distinct()
    // three consumers (sizes + both intersection sides): materialize
    // the candidate-bound slice once instead of re-probing `sh` per
    // consumer
    val pruned = graft.Engine.cut(
      sh.join(broadcast(candIds), Seq("doc_id"), "left_semi"))
    val sizes = pruned.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cands
      .join(pruned.select(col("doc_id").as("da"), col("shingle")), "da")
      .join(pruned.select(col("doc_id").as("db"), col("shingle")),
        Seq("db", "shingle"))
      .groupBy("da", "db").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .where(lit(9L) * col("inter") >= lit(4L) * (col("na") + col("nb")))
      .select(col("da"), col("db"), col("inter"), col("na"), col("nb"),
        expr("(1000000 * inter) div (na + nb - inter)").as("jacc_micro"))
  }
}
