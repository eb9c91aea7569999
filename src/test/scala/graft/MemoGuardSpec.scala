package graft

import org.scalatest.funsuite.AnyFunSuite

/** No memo lives outside [[Artifacts]]: a `TrieMap` or a
  * `getOrElseUpdate` in the main sources is a hand-rolled memo, which
  * the bench's clears by kind would never see. Two maps are not artifact
  * memos and stay: the per-session table catalog in `Tables` (a
  * `WeakHashMap` of sessions, so a stopped session is collectable) and
  * the per-run near-dup stream accumulator in `Streams`. */
class MemoGuardSpec extends AnyFunSuite {

  private val allowed: Seq[(String, String)] = Seq(
    "Tables.scala" -> "TrieMap[(String, String),",
    "Streams.scala" -> "TrieMap[String, NearDupAcc]")

  test("main sources hold no TrieMap or getOrElseUpdate memo outside Artifacts") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (no ${root.getAbsolutePath})")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val hits = for {
      f <- walk(root) if f.getName != "Artifacts.scala"
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String]).zipWithIndex
      if line.contains("TrieMap") || line.contains("getOrElseUpdate")
      if !allowed.exists { case (file, text) => f.getName == file && line.contains(text) }
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("memos outside Artifacts:\n", "\n", ""))
  }
}
