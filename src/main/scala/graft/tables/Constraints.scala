package graft.tables

import org.apache.hadoop.fs.{FileSystem, Path}

/** CHECK constraints of either table format: `_constraints` holds one
  * `name\tpredicate` line per constraint. Callers hold the commit lock
  * for `add`/`drop`. */
private[tables] object Constraints {

  private def file(root: String) = new Path(root, "_constraints")

  def read(f: FileSystem, root: String): Map[String, String] =
    MetaIO.read(f, file(root)).fold(Map.empty[String, String]) { txt =>
      txt.linesIterator.filter(_.nonEmpty).map { l =>
        val Array(n, p) = l.split("\t", 2); n -> p
      }.toMap
    }

  private def write(f: FileSystem, root: String, cs: Map[String, String]): Unit =
    MetaIO.replace(f, file(root),
      cs.toSeq.sortBy(_._1).map { case (n, p) => s"$n\t$p" }.mkString("\n"))

  /** Persist `name -> predicate` once `violations` (rows of the live
    * snapshot breaking it) is 0 — Delta semantics: a violating snapshot
    * rejects the constraint, not the data. */
  def add(f: FileSystem, root: String, name: String, predicate: String)
      (violations: => Long): Unit = {
    require(!name.contains("\t") && !name.contains("\n") &&
      !predicate.contains("\t") && !predicate.contains("\n"),
      "constraint name/predicate must not contain tabs or newlines")
    val bad = violations
    if (bad > 0) throw new IllegalArgumentException(
      s"CONSTRAINT_VIOLATION: cannot add CHECK $name ($predicate) — " +
        s"$bad existing row(s) violate it")
    write(f, root, read(f, root) + (name -> predicate))
  }

  def drop(f: FileSystem, root: String, name: String): Unit =
    write(f, root, read(f, root) - name)
}
