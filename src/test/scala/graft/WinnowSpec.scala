package graft

import org.apache.spark.sql.functions._
import graft.functions.WinnowFp
import graft.operators.TextOps

class WinnowSpec extends SparkSuiteBase {

  /** Plain-Scala reference: the paper's definition, no rolling hash,
    * no deque — O(n·K·W), trusted by inspection. */
  private def refWinnow(text: String): Set[(Int, Long)] = {
    val P = 1000000007L
    val t = text.toLowerCase
    val codes = t.codePoints().toArray.map(_.toLong)
    val g = codes.length - WinnowFp.K + 1
    if (g <= 0) return Set.empty
    val hs = (0 until g).map { i =>
      codes.slice(i, i + WinnowFp.K).foldLeft(0L)((a, c) => (a * 31 + c) % P)
    }
    val windows =
      if (g < WinnowFp.W) Seq(0 until g)
      else (0 to g - WinnowFp.W).map(j => j until j + WinnowFp.W)
    windows.map { win =>
      val m = win.map(hs).min
      val p = win.filter(i => hs(i) == m).max // rightmost tie
      (p + 1, hs(p))
    }.toSet
  }

  test("WinnowFp expression ≡ the paper-definition reference on random and crafted strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val crafted = Seq(
      "", "short",
      "abcdefghijklmnopqrst",               // exactly K = 20 chars: one gram
      "abcdefghijklmnopqrstu",              // K + 1 chars: two grams, one window
      "aaaaaaaaaaaaaaaaaaaa",               // all-equal hashes → rightmost ties
      "The quick brown fox jumps over the lazy dog",
      "abcabcabcabcabcabcabc")              // periodic text
    val random = (1 to 40).map(_ =>
      (1 to (1 + rnd.nextInt(150))).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString)
    val rows = (crafted ++ random).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val got = rows.toDF("doc_id", "text")
      .select(col("doc_id"), explode(WinnowFp.of(lower(col("text")))).as("enc"))
      .select(col("doc_id"),
        expr(s"cast(enc div ${WinnowFp.Enc} as int)").as("pos"),
        expr(s"enc % ${WinnowFp.Enc}").as("fp"))
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getInt(1), r.getLong(2))).toSet).toMap
    rows.foreach { case (id, t) =>
      assert(got.getOrElse(id, Set.empty) === refWinnow(t),
        s"winnow mismatch for '$t'")
    }
  }

  test("q_winnow: fixed-density selection; every fingerprint re-hashes to its gram") {
    val rows = TextOps.winnow(spark, sf).collect()
    assert(rows.nonEmpty)
    // density: winnowing keeps ~2/(W+1) of positions — allow wide slack
    // but catch both extremes (keeping everything / nearly nothing)
    val texts = graft.sources.Tables(spark, sf, "documents")
      .select(col("doc_id"), lower(col("text")).as("t")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val totalChars = texts.values.map(_.length).sum
    val density = rows.length.toDouble / totalChars
    info(f"winnow density: $density%.3f (theory ≈ ${2.0 / (WinnowFp.W + 1)}%.3f)")
    assert(density > 0.05 && density < 0.5)
    // each selected (pos, fp) must re-hash to the recorded fingerprint
    val P = 1000000007L
    rows.take(500).foreach { r =>
      val (id, pos, fp) = (r.getLong(0), r.getLong(1).toInt, r.getLong(2))
      val gram = texts(id).substring(pos - 1, pos - 1 + WinnowFp.K)
      val h = gram.codePoints().toArray.foldLeft(0L)((a, c) => (a * 31 + c) % P)
      assert(h === fp, s"doc $id pos $pos gram '$gram'")
    }
  }

  test("the detection guarantee: docs sharing a ≥ K+W−1 substring share a verified gram") {
    import spark.implicits._
    val shared = "zqxjk wvbnm pfzqx jkwvb nmpfz qxjkw" // 35 chars ≥ K+W−1, unusual — no accidental overlap
    val docs = Seq(
      (1L, s"first document ${shared} with plenty of surrounding words"),
      (2L, s"completely different tail but ${shared} appears here too"),
      (3L, "no overlap with anything else at all here")).toDF("doc_id", "text")
    val dups = TextOps.winnowDups(docs).collect()
    val pairSet = dups.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet.contains((1L, 2L)),
      s"guaranteed pair (1,2) missing from ${pairSet.mkString(",")}")
    assert(dups.filter(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
      .head.getLong(2) >= 1)
    assert(!pairSet.exists(p => p._1 == 3L || p._2 == 3L),
      "doc 3 shares no 35-char substring and must not pair")
  }

  test("q_winnow_spans: shared regions merge into maximal per-doc spans") {
    import spark.implicits._
    val shared = "zqxjk wvbnm pfzqx jkwvb nmpfz qxjkw extra tail padding words" // ≥ 35 chars
    val docs = Seq(
      (1L, s"leading unique words then ${shared} and a unique ending"),
      (2L, s"other preface text here ${shared} different close"),
      (3L, "entirely unshared content with no duplicated phrases at all")).toDF("doc_id", "text")
    val spans = TextOps.winnowSpans(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // docs 1 and 2 each get at least one span; doc 3 none
    assert(spans.exists(_._1 == 1L) && spans.exists(_._1 == 2L))
    assert(!spans.exists(_._1 == 3L), s"unique doc must have no spans: ${spans.mkString(",")}")
    // the doc-1 span set covers the shared text's selected grams as ONE
    // contiguous island (the shared block is contiguous in the doc)
    val d1 = spans.filter(_._1 == 1L)
    assert(d1.length === 1, s"shared block must merge to one span: ${d1.mkString(",")}")
    val t1 = s"leading unique words then ${shared} and a unique ending".toLowerCase
    val (start, end) = (d1.head._2.toInt, d1.head._3.toInt)
    val sharedStart = t1.indexOf(shared.toLowerCase) + 1
    assert(start >= sharedStart && end <= sharedStart + shared.length - 1 + WinnowFp.K,
      s"span [$start,$end] must sit inside the shared block [${sharedStart},${sharedStart + shared.length - 1}]")
    spans.foreach { case (_, s0, e0, l0) => assert(l0 === e0 - s0 + 1 && l0 >= WinnowFp.K) }
  }

  test("q_winnow_spans on the fixture: well-formed, non-overlapping per doc") {
    val spans = TextOps.winnowSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.nonEmpty)
    spans.groupBy(_._1).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._2 > a._3 + 1, s"spans must be maximal: $a, $b")
        case _ =>
      }
    }
    spans.foreach { case (_, s0, e0, l0) =>
      assert(s0 >= 1 && l0 === e0 - s0 + 1 && l0 >= WinnowFp.K)
    }
    info(s"fixture duplicated spans: ${spans.length}")
  }

  test("q_winnow_stats: dup coverage consistent with spans; every doc reported") {
    val stats = TextOps.winnowStats(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val nDocs = graft.sources.Tables(spark, sf, "documents").count()
    assert(stats.size === nDocs, "one row per document, span-free docs included")
    val spanSum = TextOps.winnowSpans(spark, sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(3)).sum).toMap
    stats.foreach { case (id, (n, dup, frac)) =>
      assert(dup === spanSum.getOrElse(id, 0L), s"doc $id coverage mismatch")
      assert(dup <= n, s"doc $id coverage exceeds length")
      if (n > 0) assert(math.abs(frac - dup.toDouble / n) < 1e-12)
    }
    assert(stats.values.exists(_._2 > 0), "fixture contains duplicated regions")
  }

  test("q_winnow_dups on the fixture: pairs verified, symmetric-free, df-capped") {
    val dups = TextOps.winnowDups(spark, sf).collect()
    dups.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs must be da < db")
      assert(r.getLong(2) >= 1)
    }
    info(s"fixture dup pairs: ${dups.length}")
  }

  test("q_winnow_cut: keep-first-occurrence — the earliest doc keeps its text, later copies lose the block") {
    import spark.implicits._
    val shared = "zqxjk wvbnm pfzqx jkwvb nmpfz qxjkw extra tail padding words" // ≥ 35 chars
    val docs = Seq(
      (1L, s"leading unique words then ${shared} and a unique ending"),
      (2L, s"other preface text here ${shared} different close"),
      (3L, "entirely unshared content with no duplicated phrases at all")).toDF("doc_id", "text")
    val cut = TextOps.winnowCut(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(cut.size === 3, "one row per document")
    // doc 1 is the min doc_id on every shared gram: loses nothing
    val t1 = s"leading unique words then ${shared} and a unique ending".toLowerCase
    assert(cut(1L)._1 === 0L && cut(1L)._3 === t1, "first occurrence must keep its text")
    // doc 2 loses the duplicated region (and only a region: clean_len + removed = n)
    val t2 = s"other preface text here ${shared} different close".toLowerCase
    val (rem2, len2, clean2) = cut(2L)
    assert(rem2 > 0L, "second occurrence must lose the shared block")
    assert(len2 === t2.length - rem2)
    assert(clean2.length.toLong === len2)
    assert(!clean2.contains(shared.toLowerCase), "shared block must be excised")
    // the cut text is the original minus contiguous regions: a subsequence
    def isSubseq(s: String, of: String): Boolean = {
      var i = 0
      of.foreach { c => if (i < s.length && s(i) == c) i += 1 }
      i == s.length
    }
    assert(isSubseq(clean2, t2))
    // doc 3 shares nothing: untouched
    assert(cut(3L)._1 === 0L &&
      cut(3L)._3 === "entirely unshared content with no duplicated phrases at all")
  }

  test("q_winnow_cut on the fixture: reconciles with q_winnow_stats coverage") {
    val stats = TextOps.winnowStats(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val cut = TextOps.winnowCut(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(cut.size === stats.size, "both faces report every document")
    cut.foreach { case (id, (removed, cleanLen, text)) =>
      val (n, dupChars) = stats(id)
      // cut positions are a SUBSET of duplicated positions (keeper
      // occurrences stay), so removal never exceeds measured coverage
      assert(removed <= dupChars, s"doc $id removed $removed > dup_chars $dupChars")
      assert(cleanLen === n - removed, s"doc $id length bookkeeping")
      assert(text.length.toLong === cleanLen)
      if (dupChars == 0) assert(removed === 0L, s"doc $id has no duplicated text")
    }
    val totRemoved = cut.values.map(_._1).sum
    val totDup = stats.values.map(_._2).sum
    assert(totRemoved > 0, "fixture contains non-first duplicated regions")
    assert(totRemoved < totDup, "keep-first must keep at least one copy somewhere")
    info(s"fixture: removed $totRemoved of $totDup duplicated chars (keep-first)")
  }

  test("indexed/appended winnow serves ≡ live q_winnow_dups; serve plan never touches documents") {
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val live = TextOps.winnowDups(spark, sf).collect().map(key).toSet
    val idx = TextOps.winnowDupsIndexed(spark, sf)
    assert(idx.collect().map(key).toSet === live)
    // the gram TEXT is a stored artifact column, so the serve reads
    // ONLY the index — the codegen fingerprint pass over the corpus
    // and the documents scan both vanish from the plan
    val plan = idx.queryExecution.executedPlan.toString
    assert(plan.contains("graft-winnowidx-"), s"expected the staged index scan in:\n$plan")
    assert(!plan.contains("documents.parquet"),
      s"indexed serve must not scan the documents table:\n$plan")
    // append-maintained: the fingerprint is a per-doc pure function,
    // so the appended artifact serves the SAME pairs bit-for-bit
    val app = TextOps.winnowDupsAppended(spark, sf)
    assert(app.collect().map(key).toSet === live)
    val root = TextOps.stagedAppendedWinnowIndex(spark, sf)
    val fgrpDirs = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("fgrp="))
    assert(fgrpDirs.nonEmpty)
    assert(fgrpDirs.count(_.listFiles().count(_.getName.endsWith(".parquet")) > 1) > 0,
      "no fgrp partition holds an appended file")
  }

  test("q_winnow_cut edge cases: empty doc, sub-gram doc, fully-duplicated doc, three-way copies") {
    import spark.implicits._
    val block = "zqxjk wvbnm pfzqx jkwvb nmpfz qxjkw pads" // 40 chars ≥ 35
    val docs = Seq(
      (1L, ""),                      // empty: untouched, zero removed
      (2L, "tiny"),                  // shorter than one K-gram: no selection possible
      (3L, block),                   // first occurrence: keeps everything
      (4L, block),                   // identical copy: fully excised
      (5L, block)                    // third copy: also fully excised
    ).toDF("doc_id", "text")
    val cut = TextOps.winnowCut(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(cut.size === 5, "every document reported, including selection-free ones")
    assert(cut(1L) === ((0L, 0L, "")))
    assert(cut(2L) === ((0L, 4L, "tiny")))
    assert(cut(3L)._1 === 0L && cut(3L)._3 === block.toLowerCase,
      "keeper copy must survive intact")
    for (id <- Seq(4L, 5L)) {
      val (removed, cleanLen, text) = cut(id)
      // the whole doc is one duplicated region (every selected gram is
      // shared with doc 3): clean text may keep at most the sub-span
      // tails the fixed-density sketch does not cover
      assert(removed > 0L, s"doc $id kept a full duplicate")
      assert(cleanLen === block.length - removed)
      assert(text.length.toLong === cleanLen)
      assert(!text.contains(block.toLowerCase.substring(0, WinnowFp.K)),
        s"doc $id still contains a duplicated gram")
    }
  }

  test("q_winnow_spans / q_winnow_cut plans: distinct and islands window share ONE doc_id exchange") {
    // the old shape shuffled (doc_id, pos) for the distinct and then
    // doc_id again for the window; the explicit repartition makes the
    // distinct reuse the window's doc_id exchange (subset partitioning
    // satisfies the grouping's ClusteredDistribution)
    def exchanges(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val plan = df.queryExecution.executedPlan.toString
      // doc_id-ONLY partitionings (next token is the partition count);
      // the (doc_id, fp, gram) distinct upstream is a different key
      ("hashpartitioning\\(doc_id[^)]*,\\s*pos".r.findAllIn(plan).length,
        "hashpartitioning\\(doc_id#\\d+L?, \\d+\\)".r.findAllIn(plan).length)
    }
    val (sp, sd) = exchanges(TextOps.winnowSpans(spark, sf))
    assert(sp === 0, "(doc_id, pos) exchange survived in winnowSpans")
    assert(sd === 1, s"winnowSpans wants exactly one doc_id exchange, got $sd")
    // winnowCut additionally joins the documents table on doc_id — that
    // side's exchange is legitimate at scale (never broadcast a
    // corpus-sized span table), so the bound is ≤ 2, not 1
    val (cp, cd) = exchanges(TextOps.winnowCut(spark, sf))
    assert(cp === 0, "(doc_id, pos) exchange survived in winnowCut")
    assert(cd >= 1 && cd <= 2, s"winnowCut doc_id exchanges out of band: $cd")
  }
}
