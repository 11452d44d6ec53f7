package graft.tables

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StringType, TimestampType}

/** Per-file min/max column stats manifest — the Delta-style data-skipping
  * metadata each data dir of both table formats carries ([[DirIndex]]).
  *
  * Format: one line per file, `path\tcol:tag:...` entries per stats column.
  *   - numeric/timestamp/date: `col:n:<minDouble>:<maxDouble>`
  *     (timestamps as epoch micros, dates as epoch days)
  *   - string: `col:s:<b64 minPrefix>:<b64 maxPrefix>:<maxTruncated 0|1>`
  *     (UTF-8 prefixes truncated [[StrPrefixLen]] chars past the min/max
  *     common prefix, capped at [[MaxStrPrefixLen]]; a truncated max
  *     prunes against its prefix-successor so skipping stays a superset)
  */
private[tables] object StatsManifest {

  /** Stats prefix length for string columns (Delta uses 32 too). */
  val StrPrefixLen = 32

  /** Adaptive-prefix cap: a file whose min/max share a long common prefix
    * (URL corpora — "https://example.com/…") records StrPrefixLen chars
    * BEYOND the shared prefix, up to this bound, so the stored range
    * actually separates files instead of collapsing to the shared prefix.
    * Past the cap the entries degrade to identical prefixes — a correct
    * superset, just no pruning. */
  val MaxStrPrefixLen = 256

  private def b64(s: String) =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String) =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  /** Smallest string greater than every string that starts with `p`:
    * increment the last incrementable char, dropping any U+FFFF tail.
    * None when no finite successor exists (all U+FFFF) — caller must keep
    * the file. */
  def prefixSuccessor(p: String): Option[String] = {
    val trimmed = p.reverse.dropWhile(_ == '\uFFFF').reverse
    if (trimmed.isEmpty) None
    else Some(trimmed.init + (trimmed.last + 1).toChar)
  }

  /** Dump manifest lines (also a re-pointed index's, and the other
    * line-per-entry metadata files).
    *
    * Written tmp-then-rename, NOT truncate-in-place: ANALYZE backfills
    * sidecars on LIVE batch dirs while readers (DML discovery, pruned
    * reads) may be probing them — a reader catching a half-written
    * manifest would silently exclude the unlisted files (a WRONG prune),
    * whereas the rename's transient missing-file window just reads as
    * "no stats" and keeps everything (superset guarantee). */
  def writeLines(fs: FileSystem, out: Path, body: Seq[String]): Unit = {
    val tmp = new Path(out.getParent, out.getName + s".tmp.${java.util.UUID.randomUUID().toString.take(8)}")
    val o = fs.create(tmp, true)
    try o.write(body.mkString("\n").getBytes("UTF-8")) finally o.close()
    if (fs.exists(out)) fs.delete(out, false)
    if (!fs.rename(tmp, out))
      throw new java.io.IOException(s"StatsManifest: rename $tmp -> $out failed")
  }

  /** The stats columns a manifest covers (parsed from its first line). */
  def statsColumns(ls: Vector[String]): Seq[String] =
    ls.headOption.toSeq.flatMap(_.split("\t").drop(1).map(_.split(":", 2)(0)))

  /** Scan `snap` (one extra pass over the immutable just-written files) and
    * write the per-file stats manifest for `statsCols` to `out`. */
  def write(snap: DataFrame, statsCols: Seq[String], fs: FileSystem, out: Path): Unit = {
    val isStr = statsCols.map(c =>
      c -> snap.schema(c).dataType.isInstanceOf[StringType]).toMap
    def toD(c: String) = snap.schema(c).dataType match {
      case TimestampType => unix_micros(col(c)).cast("double")
      // NTZ wall time → ZONE-FREE micros, assembled from the wall-clock
      // fields (date / hour / minute / fractional second — all zone-free
      // on NTZ). An NTZ literal in a predicate folds to zone-free wall
      // micros, so quantizing through a session-zone cast would shift the
      // stored bounds by the zone offset in any non-UTC session and a
      // range predicate could WRONGLY prune files holding matching rows.
      // Exact up to 2026-era micros (~1.8e15 ≪ 2^53).
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_date(col(c).cast(DateType)).cast("double") * 86400000000.0 +
          hour(col(c)).cast("double") * 3600000000.0 +
          minute(col(c)).cast("double") * 60000000.0 +
          date_part(lit("SECOND"), col(c)).cast("double") * 1000000.0
      case DateType     => unix_date(col(c)).cast("double")
      case _            => col(c).cast("double")
    }
    val aggs = statsCols.flatMap { c =>
      val src = if (isStr(c)) col(c) else toD(c)
      Seq(min(src).as(s"min__$c"), max(src).as(s"max__$c"))
    }
    val rows = snap.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val body = rows.map { r =>
      val file = r.getString(0)
      val stats = statsCols.zipWithIndex.map { case (c, i) =>
        if (isStr(c)) {
          val mn = r.getString(1 + 2 * i); val mx = r.getString(2 + 2 * i)
          // adaptive prefix: cut StrPrefixLen chars past the min/max's
          // common prefix (capped), so a boundary falling inside a long
          // shared prefix still separates files
          val common = mn.zip(mx).segmentLength { case (a, b) => a == b }
          val cut = math.min(common + StrPrefixLen, MaxStrPrefixLen)
          val mxTrunc = if (mx.length > cut) 1 else 0
          s"$c:s:${b64(mn.take(cut))}:${b64(mx.take(cut))}:$mxTrunc"
        } else s"$c:n:${r.getDouble(1 + 2 * i)}:${r.getDouble(2 + 2 * i)}"
      }.mkString("\t")
      s"$file\t$stats"
    }
    writeLines(fs, out, body.toSeq)
  }

  /** Manifest lines at `path`, or None when no manifest was written. */
  def readLines(fs: FileSystem, path: Path): Option[Vector[String]] = {
    if (!fs.exists(path)) return None
    val in = fs.open(path)
    try Some(scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector)
    finally in.close()
  }

  /** Can a `col:s:…` stats entry's recorded [min,max] prefix range
    * intersect [lo,hi] (either side optionally unbounded)? Skip iff the
    * file's max < lo or the file's min > hi. A stored min prefix is ≤ the
    * true min, so `mn > hi` is safe; a truncated max needs its
    * prefix-successor as the bound (no successor → cannot skip on max). */
  def stringEntryIntersects(parts: Array[String],
      lo: Option[String], hi: Option[String]): Boolean = {
    val mn = unb64(parts(2)); val mx = unb64(parts(3)); val mxTrunc = parts(4) == "1"
    val maxBelowLo = lo.exists { l =>
      if (!mxTrunc) mx < l
      else prefixSuccessor(mx).exists(_ <= l)
    }
    val minAboveHi = hi.exists(h => mn > h)
    !(maxBelowLo || minAboveHi)
  }
}
