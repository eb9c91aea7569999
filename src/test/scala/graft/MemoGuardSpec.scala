package graft

import org.scalatest.funsuite.AnyFunSuite

/** No memo lives outside [[Artifacts]]: a `TrieMap` or a
  * `getOrElseUpdate` in the main sources is a hand-rolled memo, which
  * the bench's clears by kind would never see. Two maps are not artifact
  * memos and stay: the per-session table catalog in `Tables` (a
  * `WeakHashMap` of sessions, so a stopped session is collectable) and
  * the per-run near-dup stream accumulator in `Streams`. */
class MemoGuardSpec extends AnyFunSuite {

  private def mainSources: Seq[java.io.File] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (no ${root.getAbsolutePath})")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root)
  }

  private val allowed: Seq[(String, String)] = Seq(
    "Tables.scala" -> "TrieMap[(String, String),",
    "Streams.scala" -> "TrieMap[String, NearDupAcc]")

  test("main sources hold no TrieMap or getOrElseUpdate memo outside Artifacts") {
    val hits = for {
      f <- mainSources if f.getName != "Artifacts.scala"
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String]).zipWithIndex
      if line.contains("TrieMap") || line.contains("getOrElseUpdate")
      if !allowed.exists { case (file, text) => f.getName == file && line.contains(text) }
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("memos outside Artifacts:\n", "\n", ""))
  }

  /** A name passed to `Artifacts.clear` that no memo carries clears
    * nothing, silently: a misspelt lifecycle clear would time a warm hit
    * as a cold build. */
  test("every name passed to Artifacts.clear is the name of an Artifacts.memo or staged call") {
    val src = mainSources
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      .mkString("\n")
    val literal = "\"([^\"]+)\"".r
    def literals(args: String): Iterator[String] = literal.findAllMatchIn(args).map(_.group(1))
    // the name argument: a literal, or one literal per branch of an if
    val named = """Artifacts\.(?:memo|staged)\([^,]+,\s*((?:if \([^)]*\) )?"[^"]+"(?: else "[^"]+")?)""".r
      .findAllMatchIn(src).flatMap(m => literals(m.group(1))).toSet
    val cleared = """Artifacts\.clear\(([^)]*)\)""".r
      .findAllMatchIn(src).flatMap(m => literals(m.group(1))).toSeq.distinct
    assert(named.contains("ivf_index") && named.contains("lsh_index_inc"), named)
    assert(cleared.nonEmpty, "no Artifacts.clear by name found")
    val unknown = cleared.filterNot(named)
    assert(unknown.isEmpty, unknown.mkString("cleared names no memo carries: ", ", ", ""))
  }
}
