package graft.tables

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import org.apache.spark.util.sketch.BloomFilter

/** Per-file Bloom filter index — the point-lookup complement to
  * [[StatsManifest]]'s min/max skipping (the Delta "bloom filter index" /
  * Iceberg parquet-bloom analog, kept in a sidecar the way the stats
  * manifest is).
  *
  * Min/max skipping only helps when the file layout is clustered on the
  * probed column; a 100 TB table has ONE clustering order, and every other
  * high-cardinality column (user_id, order id, document id…) sees min/max
  * ranges that span the whole domain in every file. A per-file Bloom
  * filter answers "might file F contain key k?" regardless of layout, so a
  * point lookup schedules O(1 + fpp·files) scan tasks instead of all of
  * them.
  *
  * Build cost: one extra pass over the just-written immutable snapshot,
  * distributed — each task builds the filters for the files whose rows it
  * holds (`input_file_name` grouping) and WRITES each file's filter
  * sidecar itself; only sidecar path strings travel to the driver for the
  * manifest write. Filter bytes never aggregate at the driver — at 100 TB
  * (millions of files × KBs of filter) a collect-then-write manifest
  * would be a driver-memory cliff.
  *
  * Layout: `out/` is a directory —
  * `_MANIFEST`: a `cols=<csv>` header line (the indexed columns — lets
  * re-ANALYZE coverage checks stay metadata-only) then one line per data
  * file, `path\tsidecarName`;
  * `part-<sha1(path)>.bloom`: that file's filters,
  * `path\tcol:kind:b64(bloomBytes)` per indexed column, kind ∈ {l (hashed
  * as long), s (hashed as UTF-8 string)}. Files with no live rows for a
  * column still get an (empty) filter, so lookup pruning stays a superset
  * guarantee; a file missing from the manifest, or an unreadable sidecar,
  * is always kept.
  */
private[graft] object BloomIndex {

  /** Minimal serializable Hadoop-conf carrier (the standard Writable
    * round-trip) so executor tasks can open the snapshot's filesystem. */
  private class SerConf(@transient var value: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  private def b64(b: Array[Byte]) = java.util.Base64.getEncoder.encodeToString(b)
  private def unb64(s: String) = java.util.Base64.getDecoder.decode(s)

  private def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos); bos.toByteArray
  }

  private def sidecarName(file: String): String =
    "part-" + java.security.MessageDigest.getInstance("SHA-1")
      .digest(file.getBytes("UTF-8")).map("%02x".format(_)).mkString + ".bloom"

  /** Canonical hashable bits of a double: −0.0 folds to 0.0 (SQL equality
    * treats them equal) and `doubleToLongBits` canonicalizes NaN — build
    * and probe sides must agree bit-for-bit. */
  private[tables] def canonBits(v: Double): Long =
    java.lang.Double.doubleToLongBits(if (v == 0.0) 0.0 else v)

  /** Build per-file Bloom filters over `bloomCols` of `snap` (a freshly
    * written snapshot directory read) and write the sidecar DIRECTORY at
    * `out`. Integral columns hash as longs ("l"), fractional/decimal
    * columns as canonical double bits ("d" — decimals via their double
    * rendering: two decimals colliding in double only widens the filter,
    * and an equal probe always lands on the same bits), everything else
    * as strings ("s"). Each task writes its files' sidecars; the driver
    * sees paths only. */
  def write(snap: DataFrame, bloomCols: Seq[String], fpp: Double,
      fs: FileSystem, out: Path): Unit = {
    val kinds = bloomCols.map { c =>
      c -> (snap.schema(c).dataType match {
        case LongType | IntegerType | ShortType | ByteType => "l"
        case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType |
             _: org.apache.spark.sql.types.DecimalType    => "d"
        case _                                             => "s"
      })
    }
    val proj = snap.select(input_file_name().as("__file") +:
      kinds.map { case (c, k) =>
        if (k == "l") col(c).cast("long").as(c)
        else if (k == "d") col(c).cast("double").as(c)
        else col(c).cast("string").as(c)
      }: _*)
    fs.mkdirs(out)
    val dirStr = out.toString
    val conf = new SerConf(fs.getConf)
    val manifestLines = proj
      .groupByKey(_.getString(0))(Encoders.STRING)
      .mapGroups { (file, rows) =>
        // buffer the (narrow, key-only) rows once: BloomFilter.create needs
        // the item count up front, and a file's keys fit where its sort did
        val buf = rows.toArray
        val entries = kinds.zipWithIndex.map { case ((c, k), i) =>
          val bf = BloomFilter.create(math.max(buf.count(!_.isNullAt(i + 1)), 1L), fpp)
          buf.foreach { r =>
            if (!r.isNullAt(i + 1)) {
              if (k == "l") bf.putLong(r.getLong(i + 1))
              else if (k == "d") bf.putLong(canonBits(r.getDouble(i + 1)))
              else bf.putString(r.getString(i + 1))
            }
          }
          s"$c:$k:${b64(serialize(bf))}"
        }
        // the filter bytes stop HERE, in the task: deterministic sidecar
        // name + idempotent overwrite make retries safe. tmp-then-rename
        // (not truncate-in-place) so a concurrent probe during an ANALYZE
        // rebuild on a live dir never reads a torn filter blob — a
        // transient missing sidecar just keeps the file (superset).
        val name = sidecarName(file)
        val p = new Path(dirStr, name)
        val f = p.getFileSystem(conf.value)
        val tmp = new Path(dirStr, name + s".tmp.${java.util.UUID.randomUUID().toString.take(8)}")
        val o = f.create(tmp, true)
        try o.write((file +: entries).mkString("\t").getBytes("UTF-8"))
        finally o.close()
        if (f.exists(p)) f.delete(p, false)
        if (!f.rename(tmp, p))
          throw new java.io.IOException(s"BloomIndex: rename $tmp -> $p failed")
        s"$file\t$name"
      }(Encoders.STRING)
      .collect() // O(files) short strings — never filter bytes
    // atomic swap for the same live-dir-rebuild reason as the sidecars
    StatsManifest.writeLines(fs, new Path(out, "_MANIFEST"),
      s"cols=${bloomCols.mkString(",")}" +: manifestLines.toSeq)
  }

  /** The columns an index at `dir` covers (its `cols=` manifest header);
    * None when no index (or a pre-header one) exists — the coverage probe
    * behind `ANALYZE … INCREMENTAL`. */
  def indexedColumns(fs: FileSystem, dir: Path): Option[Seq[String]] =
    StatsManifest.readLines(fs, new Path(dir, "_MANIFEST"))
      .flatMap(_.headOption.filter(l => l.startsWith("cols=") && !l.contains("\t")))
      .map(_.stripPrefix("cols=").split(",").map(_.trim).filter(_.nonEmpty).toSeq)

  /** Probe-IO counter (reads of sidecars, blobs, and probe manifests) —
    * the observable the consolidation pin asserts on: a consolidated dir
    * probe costs O(1) reads, a per-file one O(files). Test-only. */
  private[graft] val probeReads = new java.util.concurrent.atomic.AtomicLong

  /** Parallelize the per-file sidecar reads: a probe opens one small
    * sidecar per data file (≤ numBuckets per batch dir) — sequential
    * driver IO would grow linearly with bucket count (4096 at 100 TB),
    * a thread-pooled read keeps the probe latency near-flat. */
  private def parProbe(manifest: Vector[String])(keep: Array[String] => Boolean): Vector[String] = {
    import scala.collection.parallel.CollectionConverters._
    manifest.par.map(_.split("\t", 2))
      .filter(parts => parts.length == 2 && keep(parts))
      .map(_(0)).seq.toVector
  }

  /** Accessor from a manifest's sidecar REF (`<sidecarName>` or
    * `@<blob>:<off>:<len>`) to that file's entry line. Per-file sidecars
    * read individually (under parProbe's thread pool); every referenced
    * blob is read ONCE here — the O(dirs)-not-O(files) probe IO the
    * consolidated layout exists for. Unavailable bytes → None (probe
    * keeps the file, superset guarantee — e.g. a probe racing a
    * consolidation's sidecar reap with the pre-swap manifest). */
  private def entryReader(fs: FileSystem, dir: Path,
      manifest: Vector[String]): String => Option[String] = {
    val blobNames = manifest.flatMap { l =>
      val p = l.split("\t", 2)
      if (p.length == 2 && p(1).startsWith("@")) Some(p(1).drop(1).split(":", 3)(0))
      else None
    }.distinct
    val blobs: Map[String, Array[Byte]] = blobNames.flatMap { n =>
      try {
        val in = fs.open(new Path(dir, n))
        try {
          probeReads.incrementAndGet()
          val bos = new ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 64 * 1024, false)
          Some(n -> bos.toByteArray)
        } finally in.close()
      } catch { case _: java.io.IOException => None }
    }.toMap
    ref =>
      if (ref.startsWith("@")) {
        val Array(n, o, len) = ref.drop(1).split(":", 3)
        blobs.get(n).flatMap { b =>
          val off = o.toLong.toInt
          val l = len.toInt
          if (off >= 0 && l >= 0 && off + l <= b.length)
            Some(new String(b, off, l, "UTF-8"))
          else None
        }
      } else {
        probeReads.incrementAndGet()
        StatsManifest.readLines(fs, new Path(dir, ref)).flatMap(_.headOption)
      }
  }

  /** The index at `dir`, its manifest and blobs read at most ONCE however
    * many questions a planning or DML pass asks of it — every
    * point-constrained column of a predicate and the DML candidate pass
    * share the reads. */
  final class Probe(fs: FileSystem, dir: Path) {
    private lazy val manifest: Option[Vector[String]] =
      StatsManifest.readLines(fs, new Path(dir, "_MANIFEST"))
        .map { m => probeReads.incrementAndGet(); m }
    private lazy val reader = manifest.map(entryReader(fs, dir, _))

    /** The data files the index LISTS (None = no index) — what a probe
      * needs to distinguish "provably absent" from "never indexed": files
      * outside this set must always be kept (superset guarantee). */
    lazy val indexedFiles: Option[Set[String]] = manifest.map(
      _.collect { case l if l.contains("\t") => l.split("\t", 2)(0) }.toSet)

    /** Files whose filter for `column` might contain ANY of the point
      * values (the IN-list / OR-of-equalities probe), PER VALUE and
      * coercion-aware: each value converts to the filter's hash kind when
      * the conversion provably preserves SQL-equality semantics, proves
      * absence when no stored value of the kind can equal it, and KEEPS
      * the file when neither holds — so a mixed-kind IN-list still prunes
      * on its convertible items instead of degrading to a full scan. An
      * empty constraint (an unsatisfiable conjunction) prunes every
      * indexed file. None = no index at `dir`. */
    def filesMightContainAny(column: String, longs: Set[Long], strs: Set[String],
        dbls: Set[Double] = Set.empty): Option[Vector[String]] =
      for (m <- manifest; read <- reader) yield parProbe(m) { parts =>
        val entry = read(parts(1))
          .flatMap(_.split("\t").drop(1).find(_.startsWith(s"$column:")))
        entry.forall { e =>
          val Array(_, kind, blob) = e.split(":", 3)
          lazy val bf = BloomFilter.readFrom(new ByteArrayInputStream(unb64(blob)))
          def might(v: Any): Boolean = mightMatch(kind, bf, v)
          longs.exists(might) || strs.exists(might) || dbls.exists(might)
        }
      }
  }

  /** Consolidate a per-file sidecar directory into ONE blob file plus an
    * offset-indexed manifest (`path\t@<blob>:<off>:<len>`), cutting probe
    * IO from O(files) small reads to O(1) per dir — the maintenance-time
    * complement of the distributed per-file write path (which must never
    * aggregate filter bytes anywhere, driver included; consolidation is a
    * sequential driver stream over an immutable dir, paid once and
    * amortized over every future probe). Idempotent; a probe racing the
    * swap with the OLD manifest finds reaped sidecars and keeps those
    * files (superset). No-op when no index or already consolidated. */
  def consolidate(fs: FileSystem, dir: Path): Unit = {
    val mPath = new Path(dir, "_MANIFEST")
    val lines = StatsManifest.readLines(fs, mPath).getOrElse(return)
    val (headers, entries) = lines.partition(l => !l.contains("\t"))
    if (entries.isEmpty || entries.forall(_.split("\t", 2)(1).startsWith("@"))) return
    val reader = entryReader(fs, dir, lines)
    val blobName = s"_BLOB.${java.util.UUID.randomUUID().toString.take(8)}"
    val tmp = new Path(dir, blobName + ".tmp")
    val out = fs.create(tmp, true)
    val newEntries = Vector.newBuilder[String]
    val reaped = Vector.newBuilder[Path]
    var off = 0L
    try entries.foreach { l =>
      val Array(path, ref) = l.split("\t", 2)
      reader(ref) match {
        case None => newEntries += l // unreadable sidecar: keep the old ref
        case Some(line) =>
          val b = line.getBytes("UTF-8")
          out.write(b)
          newEntries += s"$path\t@$blobName:$off:${b.length}"
          off += b.length
          if (!ref.startsWith("@")) reaped += new Path(dir, ref)
      }
    } finally out.close()
    if (!fs.rename(tmp, new Path(dir, blobName)))
      throw new java.io.IOException(s"BloomIndex: blob rename failed in $dir")
    val finalEntries = newEntries.result()
    StatsManifest.writeLines(fs, mPath, headers ++ finalEntries)
    // reap AFTER the manifest swap: a racing probe on the old manifest at
    // worst keeps the affected files
    reaped.result().foreach(p => fs.delete(p, false))
    // sweep stale blobs from earlier consolidations — but NEVER one a kept
    // entry still references (an unreadable-here sidecar keeps its old
    // `@blob` ref; deleting that blob would orphan the ref permanently).
    // Crashed consolidations' `.tmp` leftovers reap too.
    val stillRef: Set[String] = finalEntries.flatMap { l =>
      val p = l.split("\t", 2)
      if (p.length == 2 && p(1).startsWith("@")) Some(p(1).drop(1).split(":", 3)(0))
      else None
    }.toSet
    fs.listStatus(dir).map(_.getPath).foreach { p =>
      val n = p.getName
      if (n.startsWith("_BLOB.") && !stillRef.contains(n) && n != blobName)
        fs.delete(p, false)
    }
  }

  /** Could a row hashed under `kind` SQL-equal `value`? Per kind:
    *  - "l" (integral rows): longs probe directly; a double matches only
    *    its exact integral long (|v| < 2^53 — at and above, SEVERAL longs
    *    round to the same double under Spark's comparison coercion, so
    *    keep; non-integral/non-finite can equal no long → provably
    *    absent); a string probes its integer form, else its numeric value
    *    under the same double rule, and a string that is not a number at
    *    all casts to NULL in the comparison → absent.
    *  - "d" (fractional rows): doubles/longs probe canonical bits — NaN
    *    INCLUDED: Spark SQL defines NaN = NaN as TRUE (unlike IEEE), and
    *    the build side hashed stored NaNs to the same canonical bits;
    *    strings probe their parsed value and keep the file when
    *    unparseable HERE (Spark's cast accepts forms like 'infinity' that
    *    Double.parseDouble rejects — absence is only claimed when the
    *    probe provably covers the coercion).
    *  - "s" (string rows): strings probe directly; numeric values keep
    *    the file (a numeric literal matches every string RENDERING that
    *    casts to it — '05' = 5 — which no finite probe set covers).
    *  - unknown kinds keep the file. */
  private def mightMatch(kind: String,
      bf: => BloomFilter, value: Any): Boolean = {
    val MaxExactLong = 1L << 53
    def dblOnLongKind(v: Double): Boolean =
      if (v.isNaN || v.isInfinite) false
      else if (v != math.rint(v)) false
      else if (math.abs(v) >= MaxExactLong) true
      else bf.mightContainLong(v.toLong)
    def parsed(s: String): Option[Double] =
      try Some(java.lang.Double.parseDouble(s.trim))
      catch { case _: NumberFormatException => None }
    (kind, value) match {
      case ("l", l: Long)   => bf.mightContainLong(l)
      case ("l", d: Double) => dblOnLongKind(d)
      case ("l", s: String) =>
        BucketedSnapshotTable.integerLiteral(s) match {
          case Some(l) => bf.mightContainLong(l)
          case None    => parsed(s).fold(false)(dblOnLongKind)
        }
      case ("d", d: Double) => bf.mightContainLong(canonBits(d))
      case ("d", l: Long)   => bf.mightContainLong(canonBits(l.toDouble))
      case ("d", s: String) =>
        parsed(s).forall(v => bf.mightContainLong(canonBits(v)))
      case ("s", s: String) => bf.mightContainString(s)
      case ("s", _)         => true
      case _                => true
    }
  }
}
