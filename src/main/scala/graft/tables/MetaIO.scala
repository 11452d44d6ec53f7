package graft.tables

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one crash-safe replace for small metadata files: table pointers
  * (`_current`), CHECK constraints, txn markers, CDC watermarks, CDF
  * consumer checkpoints, view specs and version vectors, stream schemas.
  *
  * Protocol for `replace(p, text)`: the text is first written whole
  * under a unique `p.part.<id>`, so every name a reader looks at appears
  * complete.
  *  - `p` absent (a first write): `rename(part, p)` is the commit point.
  *  - `p` exists: rename the part to the fixed sibling `p.next`,
  *    `delete(p)`, `rename(p.next, p)`. The delete is the commit point:
  *    from then on a reader that finds `p` missing reads `p.next`.
  * A rename that does not land fails by name. A crash after the commit
  * point leaves only `p.next`; the next replace supersedes it.
  *
  * One writer per file at a time (every caller holds the table's commit
  * lock, the view's lock, or owns the file); readers need no lock and
  * never move `p.next`, so a stalled reader cannot move a later replace's
  * file over `p`.
  *
  * The older writers staged in `p.tmp`, which MetaIO never writes. A
  * `p.tmp` beside a missing `p` is a crash after their commit point: a
  * reader moves it into place. Beside an existing `p` it is a crash
  * before it, and the next replace deletes it. Each replace settles a
  * `p.tmp` before it writes, so a reader stalled before its move finds
  * the name gone instead of moving an old text over a newer `p`.
  *
  * `read` rides out a concurrent replace. On checksummed filesystems
  * (Hadoop LocalFileSystem wraps every file with a `.crc` sidecar) a
  * rename moves the data file and its sidecar in TWO steps, so a
  * cross-process reader can see new data against the old checksum and
  * get a ChecksumException — transient by construction (the data file
  * itself moves atomically), so it is retried, not surfaced. Found by the
  * two-JVM contention spec: a worker reading `_current` mid-flip died
  * with `ChecksumException ... at 0`.
  */
private[graft] object MetaIO {

  private def sibling(p: Path, suffix: String) = new Path(p.getParent, p.getName + suffix)

  private def slurp(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** The local FS reports a missing source by throwing, not by false. */
  private def rename(f: FileSystem, from: Path, to: Path): Boolean =
    try f.rename(from, to) catch { case _: java.io.FileNotFoundException => false }

  /** Replace `p`'s content with `text` (protocol above). `midFlip` runs
    * right after the commit point — a fault-injection seam. */
  def replace(f: FileSystem, p: Path, text: String,
      midFlip: () => Unit = () => ()): Unit = {
    def move(from: Path, to: Path): Unit =
      if (!rename(f, from, to))
        throw new IllegalStateException(s"MetaIO: replace of $p failed: rename from $from did not land")
    val older = sibling(p, ".tmp")
    if (f.exists(older)) { if (f.exists(p)) f.delete(older, false) else rename(f, older, p) }
    val part = sibling(p, s".part.${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(part, false)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    if (f.exists(p)) {
      val next = sibling(p, ".next")
      f.delete(next, false) // a replace that crashed before its commit point
      move(part, next)
      f.delete(p, false)
      midFlip()
      move(next, p)
    } else {
      move(part, p)
      midFlip()
    }
  }

  /** Read a small file as UTF-8. When `p` is missing, an older writer's
    * `p.tmp` is moved into place, and a `p.next` (a replace past its
    * commit point: crashed, or mid-flip right now) is read as it stands;
    * the next replace heals it. None only when none of them exists. A
    * persistent ChecksumException (real corruption) still surfaces. */
  def read(f: FileSystem, p: Path, attempts: Int = 12): Option[String] = {
    val next = sibling(p, ".next")
    val older = sibling(p, ".tmp")
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try {
        if (f.exists(p)) return Some(slurp(f, p))
        if (f.exists(older)) rename(f, older, p)
        val staged = if (f.exists(next)) Some(slurp(f, next)) else None
        // `p` back means a move or flip landed meanwhile, and a `p.next`
        // just read may be a later replace's, not yet committed: go round
        if (!f.exists(p)) return staged
      } catch {
        case e @ (_: org.apache.hadoop.fs.ChecksumException |
                  _: java.io.FileNotFoundException |
                  _: java.io.EOFException) =>
          last = e
          Thread.sleep(5L + i * 10)
      }
      i += 1
    }
    throw new IllegalStateException(
      s"MetaIO: $p unreadable after $attempts attempts (not a transient flip)", last)
  }

  /** The version a `_current` pointer names. Besides `p.tmp`, a crash
    * mid-flip under the older protocol left `_current.tmp.<v>`;
    * its version dir and manifest were complete (they precede the flip),
    * so reading the table as empty would let the next writer reclaim
    * live version dirs. The highest such tmp is adopted and renamed over
    * the pointer. That rename cannot clobber a newer pointer: the name is
    * per-version, and every writer reads the pointer, consuming the tmp,
    * before it replaces it, so a stalled adopter finds its source gone.
    * The directory is listed only when the pointer is absent. */
  def readPointer(f: FileSystem, pointer: Path): Option[Int] =
    read(f, pointer).map(_.trim.toInt).orElse {
      val dir = pointer.getParent
      val prefix = pointer.getName + ".tmp."
      val vs =
        if (!f.exists(dir)) Array.empty[Int]
        else f.listStatus(dir).map(_.getPath.getName).collect {
          case n if n.startsWith(prefix) && n.length > prefix.length &&
              n.drop(prefix.length).forall(_.isDigit) => n.drop(prefix.length).toInt
        }
      vs.maxOption.map { v =>
        rename(f, new Path(dir, prefix + v), pointer) // best-effort heal
        v
      }
    }
}
