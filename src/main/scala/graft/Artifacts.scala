package graft

import scala.jdk.CollectionConverters._

/** The one registry of memoized artifacts: every value the engine
  * computes once per corpus version (fitted models, staged indices,
  * incremental states, staged input copies) lives here, keyed by
  * (name, dir, params, data fingerprint of the source table). A change
  * to the table's files changes the fingerprint, so a stale entry is
  * never served.
  *
  *  - Single flight: each key has one cell, locked while its build
  *    runs, so racing callers build it once. The build runs outside any
  *    map update, so a build may itself call other memos (the IVF index
  *    asks for the k-means fit, which asks for the corpus size).
  *  - Failures are not cached: a build that throws leaves the cell
  *    empty and the next caller builds again.
  *  - Staged builds ([[staged]]) get a fresh [[Engine.workDir]] root
  *    each time, so a rebuild never rewrites files that a plan built
  *    before it still lists. Old roots go when the JVM exits.
  *
  * [[clear]] by [[Kind]] is how the bench keeps timed runs from being
  * cache hits; clearing by name cold-starts a single artifact.
  */
object Artifacts {

  sealed trait Kind
  /** Fitted models and result memos (k-means, PQ codebooks, BPE merges,
    * PCA, linreg fit): a warm hit replaces a query's compute. */
  case object Model extends Kind
  /** Staged indices and incremental states: a warm hit still runs the
    * consumer's full serve path; the build is billed on its own. */
  case object Index extends Kind
  /** Staged inputs (stream feeds, layout and format copies, corpus
    * counts): input data, never cleared. */
  case object Input extends Kind

  private final case class Key(name: String, dir: String, params: Seq[Any],
      fingerprint: String)
  private final class Cell(val kind: Kind) { var value: Option[Any] = None }
  private val cells = new java.util.concurrent.ConcurrentHashMap[Key, Cell]()

  /** The value of `build` for (name, dir, params) and the current
    * contents of `table` under `dir`, built once until cleared. Params
    * must compare by value (numbers, strings, booleans). */
  def memo[A](kind: Kind, name: String, dir: String, table: String,
      params: Any*)(build: => A): A = {
    val key = Key(name, dir, params, Fs.tableFingerprint(dir, table))
    val cell = cells.computeIfAbsent(key, _ => new Cell(kind))
    cell.synchronized {
      cell.value match {
        case Some(v) => v.asInstanceOf[A]
        case None =>
          val v = build
          cell.value = Some(v)
          v
      }
    }
  }

  /** [[memo]] for an artifact written to disk: `build` writes under a
    * fresh root and returns its metadata; the entry is (root, metadata). */
  def staged[A](kind: Kind, name: String, dir: String, table: String,
      params: Any*)(build: String => A): (String, A) =
    memo(kind, name, dir, table, params: _*) {
      val root = Engine.workDir(s"graft-$name-").getAbsolutePath
      (root, build(root))
    }

  /** The built entries named `name`, as (params, value): what a spec
    * inspects to find a staged root. */
  private[graft] def entries(name: String): Seq[(Seq[Any], Any)] =
    cells.asScala.toSeq.collect { case (k, c) if k.name == name =>
      c.synchronized(c.value).map(k.params -> _)
    }.flatten

  /** Drop every entry of `kind`; the next call of each rebuilds. */
  def clear(kind: Kind): Unit = { cells.values.removeIf(_.kind == kind); () }

  /** Drop every entry with one of `names`. */
  def clear(names: String*): Unit = { cells.keySet.removeIf(k => names.contains(k.name)); () }
}
