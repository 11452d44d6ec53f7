package graft.tables

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, expr, lit}

import graft.cdc.ScdMerge
import BucketedSnapshotTable.BucketEntry

/** One committed version of a table of either format: `_manifest_v<N>`,
  * written whole inside the commit's critical section before the pointer
  * flip, and never rewritten once the pointer has reached it.
  * {{{
  *   name=value             // header: format and layout, index columns,
  *   txn:<app>=<batch>      //   the exactly-once ledger, carried forward
  *   <entry>\t<fields>      // one line per entry
  * }}}
  * Bucketed entries are `bucket\tbatchDir\tcontentV` under a `numBuckets=`
  * header. Plain ones, under `format=plain`, are `dir\t_v<N>` (a data dir
  * read whole), `file\t<uri>\t<bytes>` (one file of a dir compaction kept
  * only partly) and `tomb\t_tomb_v<N>\t<bytes>` (a tombstone dir that
  * applies; it holds the keys deleted at N).
  *
  * Readable versions are those in [floor, live]. The `_current` pointer
  * bounds the top, so a crashed writer's higher manifest is never seen
  * (the next commit overwrites it). `_floor`, recorded by VACUUM through
  * [[MetaIO]], bounds the bottom. Manifests are never deleted.
  */
private[tables] final case class Manifest(root: String, version: Int,
    header: Vector[(String, String)], lines: Vector[String]) {
  private lazy val fields = header.toMap
  def get(k: String): Option[String] = fields.get(k)
  def list(k: String): Seq[String] = get(k).toSeq.flatMap(Manifest.csv)
  lazy val txns: Map[String, Long] = header.collect {
    case (k, b) if k.startsWith("txn:") => k.stripPrefix("txn:") -> b.trim.toLong
  }.toMap
  /** Does the ledger already record batch `txn` (or a later one)? */
  def applied(txn: Option[(String, Long)]): Boolean =
    txn.exists { case (q, b) => txns.get(q).exists(_ >= b) }
  def plain: Boolean = get("format").contains("plain")

  /** Bucketed entries, bucket → (batch dir, content version). A 2-field
    * line (written before contentV existed) takes its dir's version. */
  lazy val buckets: Map[Int, BucketEntry] = lines.map { l =>
    l.split("\t", 3) match {
      case Array(b, dir, cv) => b.toInt -> BucketEntry(dir, cv.toInt)
      case Array(b, dir) => b.toInt -> BucketEntry(dir,
        dir.stripPrefix("_batch_v").toIntOption.getOrElse(Int.MaxValue))
      case _ => throw new IllegalStateException(
        s"BucketedSnapshotTable $root: corrupt manifest entry '$l' in version $version")
    }
  }.toMap
  def bucketDirs: Map[Int, String] = buckets.map { case (b, e) => b -> e.dir }

  /** Plain entries. */
  lazy val entries: Manifest.Plain = {
    val fs = lines.map(_.split("\t"))
    def sized(kind: String) = fs.collect { case Array(`kind`, x, n) => x -> n.toLong }
    Manifest.Plain(fs.collect { case Array("dir", d) => d }, sized("file"), sized("tomb"))
  }

  /** Every dir (relative to the root) this version reads. */
  def dirs: Set[String] =
    if (plain) (entries.dirs ++ entries.files.flatMap(f => Manifest.dirOf(f._1)) ++
      entries.tombs.map(_._1)).toSet
    else buckets.values.map(_.dir).toSet
}

private[tables] object Manifest {
  def path(root: String, v: Int) = new Path(root, s"_manifest_v$v")
  def floorPath(root: String) = new Path(root, "_floor")
  private val Name = "_manifest_v(\\d+)".r
  /** Dirs VACUUM reaps once no retained manifest reads them. */
  val DataDir = "_(?:v|tomb_v|batch_v)(\\d+)".r

  def csv(s: String): Seq[String] = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** The `_v<N>` dir a plain data file lives in (its innermost such segment). */
  def dirOf(uri: String): Option[String] = uri.split('/').reverseIterator.find(_.matches("_v\\d+"))

  /** A plain version's entries (layout in [[Manifest]]). */
  final case class Plain(dirs: Seq[String], files: Seq[(String, Long)], tombs: Seq[(String, Long)]) {
    def lines: Seq[String] = dirs.map(d => s"dir\t$d") ++
      files.map { case (u, n) => s"file\t$u\t$n" } ++ tombs.map { case (d, n) => s"tomb\t$d\t$n" }
  }

  def empty(root: String) = Manifest(root, 0, Vector.empty, Vector.empty)

  def read(f: FileSystem, root: String, v: Int): Manifest =
    if (v == 0) empty(root)
    else {
      val in = f.open(path(root, v))
      val ls = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
        finally in.close()
      val (h, rest) = ls.span(l => l.contains("=") && !l.contains("\t"))
      Manifest(root, v, h.map { l => val Array(k, x) = l.split("=", 2); k -> x },
        rest.filter(_.nonEmpty))
    }

  def write(f: FileSystem, root: String, v: Int, header: Seq[String], lines: Seq[String]): Unit = {
    val out = f.create(path(root, v), true)
    try out.write((header ++ lines).mkString("\n").getBytes("UTF-8")) finally out.close()
  }

  def txnLines(txns: Map[String, Long]): Seq[String] =
    txns.toSeq.sortBy(_._1).map { case (q, b) => s"txn:$q=$b" }

  /** The live manifest, None for an empty root. */
  def live(f: FileSystem, root: String): Option[Manifest] =
    MetaIO.readPointer(f, new Path(root, "_current")).map { v =>
      requireManifest(f, root, v)
      read(f, root, v)
    }

  /** Plain roots written before the manifest described a version with
    * `_files_v<N>` lists, `_txn_<app>_v<N>` markers and `_gone_v<N>`
    * markers. They are refused, not read. */
  def requireManifest(f: FileSystem, root: String, v: Int): Unit =
    if (!f.exists(path(root, v))) throw new IllegalStateException(
      s"LEGACY_TABLE_ROOT: $root has no manifest for its live version $v — a plain " +
        "table written in the old layout (_v<N> dirs with _files_v/_txn_/_gone_v " +
        "files) is no longer supported; rewrite its rows into a new root")

  def floor(f: FileSystem, root: String): Int =
    MetaIO.read(f, floorPath(root)).fold(1)(_.trim.toInt)

  /** (version, commit time) of every manifest file, by its mtime. */
  def committed(f: FileSystem, root: String): Seq[(Int, Long)] =
    f.listStatus(new Path(root)).toSeq.flatMap { st =>
      st.getPath.getName match {
        case Name(n) => Some(n.toInt -> st.getModificationTime)
        case _ => None
      }
    }
}

/** What both table formats do the same way over their manifests: the
  * pointer, time travel, the retained-version window, the exactly-once
  * ledger, CHECK constraints, change-feed consumption and VACUUM. */
abstract class VersionedTable private[tables] (val root: String, commitStaleMs: Long) {
  /** The format's name in error messages. */
  protected def kind: String

  protected def fs(spark: SparkSession): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  protected val pointer = new Path(root, "_current")

  /** Test-only fault injection (no-op in production): invoked at the
    * format's named commit steps so crash specs can kill a writer between
    * any two of them. */
  private[tables] var onStep: String => Unit = _ => ()

  @volatile private var modern = false

  /** Lock-free: [[MetaIO.readPointer]] rides out a concurrent flip and
    * adopts a crashed one's tmp. The first call on a root refuses a
    * legacy plain root. */
  def currentVersion(spark: SparkSession): Option[Int] = {
    val v = MetaIO.readPointer(fs(spark), pointer)
    if (!modern) v.foreach { x => Manifest.requireManifest(fs(spark), root, x); modern = true }
    v
  }

  def exists(spark: SparkSession): Boolean = currentVersion(spark).isDefined

  protected def liveVersion(spark: SparkSession): Int = currentVersion(spark).getOrElse(
    throw new IllegalStateException(s"$kind $root has no committed version"))

  private[tables] def manifestAt(spark: SparkSession, v: Int): Manifest =
    Manifest.read(fs(spark), root, v)

  def read(spark: SparkSession): DataFrame

  def readVersion(spark: SparkSession, version: Int): DataFrame

  /** Raise unless `v` is readable: committed and not below the floor. */
  protected def requireVersion(spark: SparkSession, v: Int): Unit = {
    val live = currentVersion(spark).getOrElse(0)
    if (v < 1 || v > live) throw new IllegalArgumentException(
      s"$kind $root: version $v does not exist (never committed)")
    if (v < live && v < Manifest.floor(fs(spark), root)) throw new IllegalArgumentException(
      s"$kind $root: version $v was vacuumed")
  }

  /** The readable versions, oldest first. */
  protected def retainedVersions(spark: SparkSession): Seq[Int] =
    currentVersion(spark).fold(Seq.empty[Int])(Manifest.floor(fs(spark), root) to _)

  /** Timestamp time travel (Delta `TIMESTAMP AS OF`): the newest readable
    * version whose manifest was written at or before `tsMillis` (written
    * once, inside its commit, so its mtime is the commit time). Raises if
    * every readable version is newer. */
  def versionAt(spark: SparkSession, tsMillis: Long): Int = {
    val retained = retainedVersions(spark).toSet
    Manifest.committed(fs(spark), root)
      .collect { case (v, t) if retained(v) && t <= tsMillis => v }
      .maxOption.getOrElse(throw new IllegalArgumentException(
        s"$kind $root: no version committed at or before " +
          s"${java.time.Instant.ofEpochMilli(tsMillis)} (earliest retained is newer)"))
  }

  /** [[readVersion]] at the newest version committed ≤ `tsMillis`. */
  def readTimestamp(spark: SparkSession, tsMillis: Long): DataFrame =
    readVersion(spark, versionAt(spark, tsMillis))

  /** The highest batch id the live manifest's exactly-once ledger records
    * for `queryId` (None = never applied) — the committed progress marker
    * a crashed writer recovers from. */
  def appliedTxn(spark: SparkSession, queryId: String): Option[Long] =
    currentVersion(spark).flatMap(appliedTxnAt(spark, queryId, _))

  /** The ledger entry for `queryId` as of a SPECIFIC committed version —
    * lets a reader pin a (state version, ledger value) pair atomically
    * instead of racing two head reads against a concurrent commit. */
  private[graft] def appliedTxnAt(spark: SparkSession, queryId: String,
      version: Int): Option[Long] =
    manifestAt(spark, version).txns.get(queryId)

  /** Latest committed version whose ledger entry for `queryId` is at most
    * `value` (absent counts as 0) — the replay-pinned read point for a
    * multi-table consumer recovering from a crash AFTER this table's own
    * commit landed but BEFORE a downstream commit did. Manifests outlive
    * VACUUM, so a pin below the floor is still found, and reading it
    * raises the vacuumed-version error. O(versions-scanned) header reads,
    * crash paths only. */
  private[graft] def versionWithTxnAtMost(spark: SparkSession, queryId: String,
      value: Long): Option[Int] = {
    val cur = currentVersion(spark).getOrElse(return None)
    (cur to 1 by -1).find(v => appliedTxnAt(spark, queryId, v).getOrElse(0L) <= value)
  }

  // ── CHECK constraints (Delta semantics) ────────────────────────────────
  // Stored by [[Constraints]], validated against the VISIBLE table on add,
  // enforced inline in every staging write via assert_true-in-filter
  // (fused into the write plan — no second scan). NULL predicate results
  // violate (CHECK must prove the row); tombstone state rows (`__DELETED`)
  // are exempt: a CHECK constrains the data a reader can see.

  /** Active CHECK constraints, name → SQL predicate. */
  def constraints(spark: SparkSession): Map[String, String] =
    Constraints.read(fs(spark), root)

  /** Add a CHECK constraint: the visible snapshot is validated first (one
    * distributed count — a violating snapshot rejects the constraint, not
    * the data), then every later write is checked inline. DDL serializes
    * under the commit lock. */
  def addConstraint(spark: SparkSession, name: String, predicate: String): Unit = {
    val f = fs(spark)
    CommitLock.withLockHandle(f, root, commitStaleMs) { _ =>
      Constraints.add(f, root, name, predicate)(
        if (!exists(spark)) 0L
        else ScdMerge.scd1Current(read(spark))
          .filter(!coalesce(expr(predicate), lit(false))).count())
    }
  }

  /** Drop a CHECK constraint (no-op if absent). */
  def dropConstraint(spark: SparkSession, name: String): Unit = {
    val f = fs(spark)
    CommitLock.withLockHandle(f, root, commitStaleMs)(_ => Constraints.drop(f, root, name))
  }

  /** `df`, raising CONSTRAINT_VIOLATION on the first visible row that
    * breaks an active CHECK when the write consuming it scans it. */
  protected def enforceConstraints(spark: SparkSession, df: DataFrame): DataFrame =
    constraints(spark).foldLeft(df) { case (d, (name, pred)) =>
      val exempt =
        if (d.columns.contains(ScdMerge.DeletedCol)) coalesce(col(ScdMerge.DeletedCol), lit(false))
        else lit(false)
      d.filter(org.apache.spark.sql.functions.assert_true(
        exempt || coalesce(expr(pred), lit(false)),
        lit(s"CONSTRAINT_VIOLATION: CHECK $name ($pred) failed")).isNull)
    }

  /** Union per-dir relations to the name-union schema (first-seen type
    * wins, absent columns null-fill) — how dirs written across a schema
    * change read as one table. */
  protected def unionEvolving(parts: Seq[DataFrame]): DataFrame = {
    val allCols = scala.collection.mutable.LinkedHashMap
      .empty[String, org.apache.spark.sql.types.DataType]
    parts.foreach(_.schema.foreach(fld =>
      if (!allCols.contains(fld.name)) allCols(fld.name) = fld.dataType))
    parts.map { p =>
      p.select(allCols.toSeq.map { case (n, dt) =>
        if (p.columns.contains(n)) col(n).cast(dt).as(n)
        else lit(null).cast(dt).as(n)
      }: _*)
    }.reduce(_ unionByName _)
  }

  /** Incremental CDF consumption: process everything committed since the
    * consumer's checkpoint as ONE `diff(last, live)` window over visible
    * rows, then advance the checkpoint — only after `fn` returns, so a
    * crashed consumer re-reads the same window (at-least-once; pair with
    * a txn ledger downstream for exactly-once). The first call is the
    * bootstrap: every visible row arrives as `insert`. `fn` gets the
    * window's (fromVersion, toVersion), fromVersion = 0 on the bootstrap.
    * Returns the version the checkpoint now records. */
  protected def consume(spark: SparkSession, checkpointFile: String,
      withChangedColumns: Boolean, diff: (Int, Int) => DataFrame)
      (fn: (DataFrame, Int, Int) => Unit): Int = {
    val f = fs(spark)
    val ckPath = new Path(checkpointFile)
    val live = liveVersion(spark)
    val last = MetaIO.read(f, ckPath).map(_.trim.toInt).getOrElse(0)
    if (live > last) {
      val feed =
        if (last == 0) {
          val base = ScdMerge.scd1Current(read(spark)).withColumn("_change_type", lit("insert"))
          if (withChangedColumns) base.withColumn("_changed_columns", lit("")) else base
        } else diff(last, live)
      fn(feed, last, live)
      MetaIO.replace(f, ckPath, live.toString)
    }
    math.max(live, last)
  }

  /** EXACTLY-ONCE incremental mirror into a bucketed `target`: consume
    * this table's change feed since `checkpointFile` and merge each window
    * into `target`, stamped into its txn ledger as (`cdf:<consumerId>`,
    * toVersion) in the same manifest commit that applies it — the ledger,
    * not the checkpoint file, is the progress marker. Every call first
    * HEALS the checkpoint from the ledger: a consumer that crashed after
    * its merge landed but before its checkpoint advanced resumes from the
    * version the ledger proves applied. (Resuming from the stale
    * checkpoint would be wrong, not just wasteful: a key changed in the
    * crashed window and REVERTED before the retry diffs as unchanged over
    * the wider window.) Rows arrive carrying `__cdf_seq` = the source
    * version (monotone across windows); deletes flow as tombstones. Read
    * the mirror with SNAPSHOT / [[ScdMerge.scd1Current]]. Returns the
    * checkpointed source version. */
  protected def applyChanges(spark: SparkSession, checkpointFile: String,
      target: BucketedSnapshotTable, consumerId: String, diff: (Int, Int) => DataFrame): Int = {
    val f = fs(spark)
    val ckPath = new Path(checkpointFile)
    val applied = target.appliedTxn(spark, s"cdf:$consumerId").getOrElse(0L).toInt
    if (applied > MetaIO.read(f, ckPath).map(_.trim.toInt).getOrElse(0))
      MetaIO.replace(f, ckPath, applied.toString)
    consume(spark, checkpointFile, withChangedColumns = false, diff) { (feed, _, toV) =>
      val upd = feed
        .withColumn(ScdMerge.DeletedCol, col("_change_type") === "delete")
        .drop("_change_type")
        .withColumn("__cdf_seq", lit(toV.toLong))
      target.scd1Merge(spark, upd, "__cdf_seq", Nil,
        applyAsDeletes = Some(col(ScdMerge.DeletedCol)),
        txn = Some((s"cdf:$consumerId", toV.toLong)))
    }
  }

  /** A `_staging_*` dir VACUUM may reap. */
  protected def reapable(f: FileSystem, staging: FileStatus): Boolean

  /** VACUUM: keep the `keep` newest versions readable. The oldest kept
    * version is recorded once as the floor (below it every version raises
    * the vacuumed error), then every data and tombstone dir no manifest
    * in [floor, live] reads is deleted, with the `_staging_*` orphans the
    * format's rule reaps. Dirs above the live version are a concurrent or
    * crashed writer's, and stay. */
  protected def vacuumKeeping(spark: SparkSession, keep: Int): Unit = {
    require(keep >= 1, s"vacuum keep must be >= 1 (got $keep): keep=0 would delete the live version")
    val f = fs(spark)
    val live = currentVersion(spark).getOrElse(return)
    val was = Manifest.floor(f, root)
    val floor = math.max(was, live - keep + 1)
    if (floor > was) MetaIO.replace(f, Manifest.floorPath(root), floor.toString)
    val read = (floor to live).flatMap(manifestAt(spark, _).dirs).toSet
    f.listStatus(new Path(root)).foreach { st =>
      val reap = st.getPath.getName match {
        case n @ Manifest.DataDir(num) => num.toInt <= live && !read(n)
        // per-version index files of an older plain layout: nothing reads them
        case n if n.startsWith("_stats_v") || n.startsWith("_bloom_v") => true
        case n => n.startsWith("_staging_") && reapable(f, st)
      }
      if (reap) f.delete(st.getPath, true)
    }
    // reaped dirs make cached listings of old versions stale
    BucketedSnapshotTable.invalidateListings(root)
  }
}
