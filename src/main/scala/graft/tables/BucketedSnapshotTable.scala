package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.ScdMerge

/** Hash-bucketed snapshot table: the 100 TB form of [[SnapshotTable]].
  *
  * A plain snapshot commit rewrites the whole table on every SCD merge —
  * fine for the reference's 5 small dims (daily job,
  * spotify_dab.job.yml:7-11), wrong at 100 TB where a daily batch touches
  * a fraction of keys. Here rows are hash-partitioned into `numBuckets`
  * buckets by business key, and a merge:
  *
  *   1. computes the batch's affected bucket set (≤ numBuckets ints of
  *      driver-side metadata — same order as Delta's file-listing state);
  *   2. reads ONLY those buckets' current data (directory-pruned scan);
  *   3. runs the [[graft.cdc.ScdMerge]] algebra over that slice;
  *   4. writes the merged buckets as ONE hive-partitioned job under
  *      `_batch_v<N>/__bucket=<b>/`;
  *   5. commits a new manifest mapping touched buckets to the new batch
  *      dir and carrying every untouched bucket over BY REFERENCE.
  *
  * So merge IO is O(affected buckets), never O(table). With 4096 buckets
  * and a batch touching 1% of the key space, 99% of a 100 TB table is
  * untouched bytes referenced by the next manifest, exactly like Delta/
  * Iceberg rewrite-by-file. Reads stay a plain multi-dir parquet scan
  * (vectorized, pushdown intact), and equi-joins/groupBys on the bucket
  * keys see a stable hash layout.
  *
  * Layout:
  * {{{
  *   root/_current                      // one line: live version
  *   root/<version manifest N>          // header + bucket→(batchDir, contentV), [[Manifest]]
  *   root/_batch_v<N>/__bucket=<b>/...  // immutable bucket snapshots
  *   root/_batch_v<N>/_stats, _bloom/   // the dir's index ([[DirIndex]])
  * }}}
  * The version listing, time travel, the txn ledger, CHECK constraints,
  * change-feed consumption and VACUUM are [[VersionedTable]]'s, shared
  * with the plain format.
  *
  * Commit protocol — ONE path: every data commit (merge, DML, two-phase
  * SCD1, compaction) stages under `_staging_*` through `stageBatch`, then
  * renames + writes the manifest + flips the pointer through
  * `lockedCommit`'s [[CommitLock]] critical section; writers differ only
  * in the ENTRY RULE applied to the manifest found under the lock. Merges
  * are optimistic read-modify-write — a merge that loses the commit race
  * REBASES when the intervening commits left its affected buckets'
  * entries unmoved (disjoint writers each stage once), and otherwise
  * recomputes against the fresh state and retries, so racing writers all
  * land and none is lost. Compaction re-points only unmoved buckets.
  *
  * Reference semantics carried over: SCD1 = FactStream.py:12-21, SCD2 =
  * DimUser.py:20-29 (via [[ScdMerge]]).
  */
final class BucketedSnapshotTable(
    root: String,
    val numBuckets: Int,
    val keys: Seq[String],
    val statsCols: Seq[String] = Nil,
    /** Columns carrying a per-batch [[BloomIndex]] sidecar: the point-
      * lookup complement to `statsCols`' min/max ranges. On a 100 TB table
      * clustered by the bucket keys, every OTHER high-cardinality column's
      * [min,max] spans the whole domain in every file — range stats prune
      * nothing for `WHERE order_id = k`. A per-file Bloom filter answers
      * membership regardless of layout, so predicate DML / point reads on
      * non-key columns touch O(1 + fpp·files) files instead of O(table). */
    val bloomCols: Seq[String] = Nil,
    /** Lock staleness window (test hook: shrink so paused-writer/steal
      * schedules run in test time; production default [[CommitLock.StaleMs]]). */
    commitStaleMs: Long = CommitLock.StaleMs) extends VersionedTable(root, commitStaleMs) {

  require(numBuckets > 0, "numBuckets must be positive")

  protected def kind = "BucketedSnapshotTable"

  val BucketCol = "__bucket"

  /** Deterministic bucket id of a row (Murmur3 over the business keys —
    * consistent with Spark's own `hash`/shuffle hashing). */
  def bucketExpr: Column = pmod(hash(keys.map(col): _*), lit(numBuckets))

  // commit steps named to onStep: "staged", "renamed", "manifest_file",
  // "mid_flip", "committed"; "compact_staged", "analyze_built"

  /** bucket id → batch dir name (relative to root) for the live version. */
  def manifest(spark: SparkSession): Map[Int, String] =
    manifestAt(spark, currentVersion(spark).getOrElse(0)).bucketDirs

  import BucketedSnapshotTable.BucketEntry

  /** Header fields of the live manifest (numBuckets, keys when present) —
    * lets path-only consumers (the SQL MERGE router) reconstruct and
    * VALIDATE the table identity instead of silently mis-bucketing. */
  def manifestHeader(spark: SparkSession): Map[String, String] =
    manifestAt(spark, currentVersion(spark).getOrElse(0)).header.toMap

  /** Write version `v`'s manifest over `prev` (the version it follows) and
    * flip the pointer to it. */
  private def writeManifest(spark: SparkSession, v: Int, prev: Manifest,
      m: Map[Int, BucketEntry], txns: Map[String, Long],
      dirSchemas: Map[String, String] = Map.empty): Unit = {
    val f = fs(spark)
    // indexed-column headers are TABLE properties, not writer properties: a
    // writer constructed without statsCols/bloomCols (a maintenance job, a
    // default-routed merge) must not erase what ANALYZE recorded — inherit
    // the previous header's columns when this instance carries none
    val effStats = if (statsCols.nonEmpty) statsCols else prev.list("statsCols")
    val effBloom = if (bloomCols.nonEmpty) bloomCols else prev.list("bloomCols")
    // keys inherit the same way, and an empty key set OMITS the header
    // entirely: a metadata-only commit over a pre-r7 manifest (no keys
    // header) must not write `keys=`, which layoutOf would read back as
    // Some(Nil) — consumers rely on the None-vs-Some(Nil) distinction to
    // raise the explicit "manifest records no bucket keys" error instead
    // of silently proceeding with empty bucket keys.
    val effKeys = if (keys.nonEmpty) keys else prev.list("keys")
    // per-batch-dir FILE schemas (r14): recorded at commit time so
    // planning (readIndexed) never reads a parquet footer per batch dir —
    // O(1) metadata instead of O(dirs) IO on a many-dir table. Lines for
    // dirs this manifest no longer references are dropped (bounded
    // growth); dirs committed before the feature simply lack a line and
    // fall back to one footer read each.
    val liveDirs = m.values.map(_.dir).toSet
    val inherited = prev.header.collect {
      case (k, ddl) if k.startsWith("schema:") &&
          liveDirs(k.stripPrefix("schema:")) => k.stripPrefix("schema:") -> ddl
    }.toMap
    val schemaLines = (inherited ++ dirSchemas.filter(e => liveDirs(e._1)))
      .toSeq.sortBy(_._1).map { case (d, ddl) => s"schema:$d=$ddl" }
    val header = Seq(s"numBuckets=$numBuckets") ++
      (if (effKeys.isEmpty) Nil else Seq(s"keys=${effKeys.mkString(",")}")) ++
      (if (effStats.isEmpty) Nil else Seq(s"statsCols=${effStats.mkString(",")}")) ++
      (if (effBloom.isEmpty) Nil else Seq(s"bloomCols=${effBloom.mkString(",")}")) ++
      Manifest.txnLines(txns) ++ schemaLines
    Manifest.write(f, root, v, header,
      m.toSeq.sortBy(_._1).map { case (b, e) => s"$b\t${e.dir}\t${e.contentV}" })
    onStep("manifest_file")
    MetaIO.replace(f, pointer, v.toString, () => onStep("mid_flip"))
  }

  /** Read a subset of buckets (directory-pruned: only the named bucket
    * dirs are listed/scanned). `None` = all live buckets.
    *
    * SCHEMA EVOLUTION across batch dirs (the `appendEvolving`/mergeSchema
    * read semantics): batches written across a schema change resolve to
    * the UNION schema by name — oldest batch's type wins per column,
    * absent columns null-fill — so a merge whose algebra adds or omits
    * columns commits O(affected buckets) like any other, never a uniform
    * whole-table migration. */
  private def readBuckets(spark: SparkSession, wanted: Option[Set[Int]]): Option[DataFrame] =
    fromManifest(spark, manifest(spark), wanted)

  private def fromManifest(spark: SparkSession, m: Map[Int, String],
      wanted: Option[Set[Int]]): Option[DataFrame] = {
    val picked = wanted.map(w => m.filter { case (b, _) => w(b) }).getOrElse(m)
    if (picked.isEmpty) None
    else {
      // group by batch dir so each dir is one relation with basePath set
      // (keeps __bucket as a partition column); deterministic batch order
      // so first-seen column types are stable
      val parts = picked.groupBy(_._2).toSeq
        .sortBy { case (dir, _) => dir.stripPrefix("_batch_v").toIntOption.getOrElse(0) }
        .map { case (dir, entries) =>
          spark.read
            .option("basePath", s"$root/$dir")
            .parquet(entries.keys.toSeq.sorted.map(b => s"$root/$dir/$BucketCol=$b"): _*)
        }
      Some(unionEvolving(parts))
    }
  }

  /** Version `v`'s VISIBLE relation schema from ONE representative bucket
    * per batch dir (schema evolution is per write job = per dir, so one
    * bucket carries the dir's schema) — O(dirs) planning instead of the
    * full read's O(buckets) listing. What a streaming source / consumer
    * that only needs the shape should call. */
  private[graft] def versionSchema(spark: SparkSession,
      v: Int): org.apache.spark.sql.types.StructType = {
    val m = manifestAt(spark, v).bucketDirs
    val onePerDir: Map[Int, String] =
      m.groupBy(_._2).map { case (dir, entries) => entries.keys.min -> dir }
    fromManifest(spark, onePerDir, None)
      .map(df => ScdMerge.scd1Current(df.drop(BucketCol)).schema)
      .getOrElse(throw new IllegalStateException(
        s"BucketedSnapshotTable $root: version $v is empty"))
  }

  /** Full-table read (all buckets, internal bucket column dropped). */
  def read(spark: SparkSession): DataFrame =
    readBuckets(spark, None)
      .getOrElse(throw new IllegalStateException(s"BucketedSnapshotTable $root is empty"))
      .drop(BucketCol)

  /** Point lookup by business key — the bucketed format's answer to the
    * plain table's Bloom index: the probed keys hash to their buckets
    * driver-side (metadata only), and ONLY those bucket dirs are scanned
    * before the semi-join. A single-key lookup on a 4096-bucket 100 TB
    * table scans 1/4096th of it regardless of layout or clustering.
    * `keyRows` carries the bucket-key columns, matched by name. */
  def readKeys(spark: SparkSession, keyRows: DataFrame): DataFrame =
    readKeysWithBuckets(spark, keyRows)._1

  /** [[readKeys]] that also RETURNS the probed bucket set (r15, job
    * fusion): a maintenance coordinator whose subsequent merge upserts
    * EXACTLY the same key set hands it back via `knownBuckets` instead of
    * paying a second identical probe job — the MV refresh ran the probe
    * twice per table (point read + merge bucket discovery) otherwise. */
  private[graft] def readKeysWithBuckets(spark: SparkSession,
      keyRows: DataFrame): (DataFrame, Set[Int]) = {
    val probe = keyRows.select(keys.map(col): _*).distinct()
    val wanted = probe.select(bucketExpr.as("__b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val df = readBuckets(spark, Some(wanted)) match {
      case None     => read(spark).limit(0) // schema-preserving empty relation
      case Some(d) => d.drop(BucketCol).join(probe, keys, "left_semi")
    }
    (df, wanted)
  }

  /** [[readKeys]] pinned to manifest `version`: the bucket file list
    * resolves from THAT version's manifest, so a concurrent commit
    * landing between the caller's version capture and this read cannot
    * shift the read forward — what an incremental-view leg needs when it
    * RECORDS the version it joined (reading a newer state than recorded
    * would double-apply that window on the next refresh). */
  def readKeysAt(spark: SparkSession, keyRows: DataFrame, version: Int): DataFrame = {
    val probe = keyRows.select(keys.map(col): _*).distinct()
    val wanted = probe.select(bucketExpr.as("__b"))
      .distinct().collect().map(_.getInt(0)).toSet
    fromManifest(spark, manifestAt(spark, version).bucketDirs, Some(wanted)) match {
      case None     => readVersion(spark, version).limit(0)
      case Some(df) => df.drop(BucketCol).join(probe, keys, "left_semi")
    }
  }

  /** Time travel: read manifest version `version` — any version not below
    * the [[vacuum]] floor reads exactly as it was committed; a vacuumed
    * version raises (same contract as the plain table). */
  def readVersion(spark: SparkSession, version: Int): DataFrame = {
    requireVersion(spark, version)
    fromManifest(spark, manifestAt(spark, version).bucketDirs, None)
      .getOrElse(throw new IllegalStateException(
        s"BucketedSnapshotTable $root: version $version is empty"))
      .drop(BucketCol)
  }

  /** DESCRIBE HISTORY analog: one row per readable version — version,
    * visible rows, files, bytes, is_live. */
  def history(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val f = fs(spark)
    val live = currentVersion(spark).getOrElse(0)
    retainedVersions(spark).map { v =>
      val m = manifestAt(spark, v).bucketDirs
      val files = m.toSeq.flatMap { case (b, dir) => parquetIn(f, new Path(s"$root/$dir/$BucketCol=$b")) }
      val rows = fromManifest(spark, m, None).map(_.count()).getOrElse(0L)
      (v, rows, files.size.toLong, files.map(_.getLen).sum, v == live)
    }.toDF("version", "n_rows", "n_files", "bytes", "is_live")
  }

  /** The parquet files of one bucket dir (none when it is absent). */
  private def parquetIn(f: org.apache.hadoop.fs.FileSystem, p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    try f.listStatus(p).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
    catch { case _: java.io.FileNotFoundException => Nil }

  /** Change data feed between two committed versions, MANIFEST-PRUNED:
    * the two versions' manifests (driver-side metadata, ≤ numBuckets
    * entries each) name which buckets point at different batch dirs — a
    * bucket carried over by reference between `fromV` and `toV` CANNOT
    * contain a change, so only the differing buckets are read and
    * diffed. On a 100 TB table where a day's merges touched 1% of
    * buckets, the CDF job reads ~1% of two versions, never the table.
    *
    * Output contract is [[SnapshotTable.changes]]'s ([[ChangeFeed]]):
    * `_change_type` ∈ {insert, delete, update}, update rows carry new
    * values, delete rows old ones, optional `_changed_columns`
    * attribution. The diff runs over the VISIBLE rows (SCD tombstone
    * state filtered via [[ScdMerge.scd1Current]]), so a key tombstoned
    * by a delete flow between the versions reports `delete` — the event
    * a CDC consumer needs, not the bookkeeping row that encodes it. */
  def changes(spark: SparkSession, fromV: Int, toV: Int,
      withChangedColumns: Boolean = false,
      withPreimage: Boolean = false): DataFrame = {
    require(fromV < toV,
      s"BucketedSnapshotTable $root: changes needs fromV < toV (got $fromV, $toV)")
    def checked(v: Int): Map[Int, BucketEntry] = {
      requireVersion(spark, v)
      manifestAt(spark, v).buckets
    }
    val eFrom = checked(fromV)
    val eTo = checked(toV)
    // metadata-only pruning on the CONTENT version: a bucket whose content
    // last changed at the same commit in both manifests is byte-identical
    // even if maintenance moved its bytes to a new batch dir in between —
    // so a change-feed window spanning an OPTIMIZE still reads only the
    // buckets a merge actually touched
    val changed = (eFrom.keySet ++ eTo.keySet)
      .filter(b => BucketedSnapshotTable.contentDiffers(eFrom.get(b), eTo.get(b)))
    val mFrom = eFrom.map { case (b, e) => b -> e.dir }
    val mTo = eTo.map { case (b, e) => b -> e.dir }
    // schema donor for an empty side (e.g. fromV before the key range
    // existed, or a fully-deleted toV): footer-only read, no data scan
    lazy val schemaOnly: DataFrame =
      fromManifest(spark, mTo, None).orElse(fromManifest(spark, mFrom, None))
        .map(df => ScdMerge.scd1Current(df.drop(BucketCol)).limit(0))
        .getOrElse(throw new IllegalStateException(
          s"BucketedSnapshotTable $root: versions $fromV and $toV are both empty"))
    def visible(m: Map[Int, String]): DataFrame =
      fromManifest(spark, m, Some(changed))
        .map(df => ScdMerge.scd1Current(df.drop(BucketCol)))
        .getOrElse(schemaOnly)
    ChangeFeed.diff(visible(mFrom), visible(mTo), keys, withChangedColumns,
      withPreimage)
  }

  /** Metadata-only: the buckets whose CONTENT changed between two committed
    * versions — exactly what [[changes]] will read. Exposed for the pruning
    * assertions (spec pins that an OPTIMIZE between the versions does not
    * inflate this set). */
  private[graft] def changedBuckets(spark: SparkSession, fromV: Int, toV: Int): Set[Int] = {
    val eFrom = manifestAt(spark, fromV).buckets
    val eTo = manifestAt(spark, toV).buckets
    (eFrom.keySet ++ eTo.keySet)
      .filter(b => BucketedSnapshotTable.contentDiffers(eFrom.get(b), eTo.get(b)))
  }

  /** Incremental CDF consumption (the consumer side of [[changes]],
    * [[VersionedTable.consume]]): every change committed since this
    * consumer's checkpoint in ONE manifest-pruned diff — the
    * downstream-incremental-refresh loop (feed a materialized aggregate,
    * mirror to a search index, …) without the consumer ever re-scanning
    * the table. */
  def consumeChanges(spark: SparkSession, checkpointFile: String,
      withChangedColumns: Boolean = false)(fn: DataFrame => Unit): Int =
    consumeChangesVersioned(spark, checkpointFile, withChangedColumns) {
      (feed, _, _) => fn(feed)
    }

  /** [[consumeChanges]] with the window's (fromVersion, toVersion) handed
    * to the consumer — what an exactly-once apply needs to stamp its txn
    * ledger entry (fromVersion = 0 on the bootstrap call). */
  def consumeChangesVersioned(spark: SparkSession, checkpointFile: String,
      withChangedColumns: Boolean = false)(fn: (DataFrame, Int, Int) => Unit): Int =
    consume(spark, checkpointFile, withChangedColumns,
      changes(spark, _, _, withChangedColumns))(fn)

  /** EXACTLY-ONCE incremental mirror into another bucketed table
    * ([[VersionedTable.applyChanges]]): a downstream copy (different
    * bucket count, different cluster, a serving mirror) kept in sync
    * without ever re-scanning the source. */
  def applyChangesTo(spark: SparkSession, checkpointFile: String,
      target: BucketedSnapshotTable, consumerId: String): Int =
    applyChanges(spark, checkpointFile, target, consumerId, changes(spark, _, _))

  /** SCD Type 1 merge (last-write-wins upsert, FactStream.py:12-21
    * semantics). Returns the set of bucket ids rewritten. */
  def scd1Merge(spark: SparkSession, updates: DataFrame, seqCol: String,
      tieBreak: Seq[Column] = Nil,
      applyAsDeletes: Option[Column] = None,
      txn: Option[(String, Long)] = None,
      knownBuckets: Option[Set[Int]] = None): Set[Int] =
    merge(spark, updates, (cur, upd) =>
      ScdMerge.scd1Upsert(cur, upd, keys, seqCol, tieBreak, applyAsDeletes), txn,
      knownBuckets)

  /** SCD Type 2 merge (full version history, DimUser.py:20-29 semantics).
    * Returns the set of bucket ids rewritten.
    *
    * `applyAsDeletes` (tombstone semantics — see [[ScdMerge.scd2Merge]]):
    * a delete-enabled merge on a table written without deletes commits
    * O(affected buckets) like any other — the stored schema gains
    * `__DELETED` only in the rewritten batch dirs, and [[readBuckets]]'s
    * union-schema resolution null-fills it for untouched buckets (the
    * merge algebra coalesces null → false). No migration commit. */
  def scd2Merge(spark: SparkSession, updates: DataFrame, seqCol: String,
      tieBreak: Seq[Column] = Nil,
      applyAsDeletes: Option[Column] = None,
      txn: Option[(String, Long)] = None): Set[Int] =
    merge(spark, updates, (cur, upd) =>
      ScdMerge.scd2Merge(cur, upd, keys, seqCol, tieBreak, Nil, applyAsDeletes), txn)

  /** Copy-on-write UPDATE (the Delta UPDATE shape on the bucketed format):
    * rewrite ONLY the buckets containing rows matching `pred`, with every
    * SET expression evaluated against the PRE-update row (simultaneous
    * assignment, `SET a = b, b = a` swaps). Returns (buckets rewritten,
    * rows updated).
    *
    * Scale shape: finding the affected buckets is one column-pruned scan
    * of `pred`'s columns + the bucket partition column (the same touched-
    * file discovery Delta's UPDATE runs); the rewrite IO is then O(matched
    * buckets), never O(table). Bucket KEY columns cannot be SET — the row
    * would belong in a different bucket (that is a delete + merge, not an
    * update). */
  def update(spark: SparkSession, pred: Column,
      sets: Seq[(String, Column)]): (Set[Int], Long) = {
    val badKeys = sets.map(_._1).filter(keys.contains)
    require(badKeys.isEmpty,
      s"BucketedSnapshotTable $root: UPDATE may not modify bucket key column(s) " +
        s"${badKeys.mkString(",")} — the row would be mis-bucketed; model a key " +
        "change as delete + merge")
    require(sets.nonEmpty, "UPDATE needs at least one SET assignment")
    rewriteMatching(spark, pred) { df =>
      val unknown = sets.map(_._1).filterNot(df.columns.contains)
      require(unknown.isEmpty,
        s"BucketedSnapshotTable $root: UPDATE SET on unknown column(s) ${unknown.mkString(",")}")
      // ONE projection over the original row: all SET right-hand sides see
      // pre-update values (SQL simultaneous-assignment semantics)
      df.select(df.columns.map { c =>
        sets.collectFirst { case (n, e) if n == c =>
          when(pred, e).otherwise(col(c)).as(c)
        }.getOrElse(col(c))
      }: _*)
    }
  }

  /** Copy-on-write DELETE FROM: rewrite only the buckets containing rows
    * matching `pred`, dropping those rows. Returns (buckets rewritten,
    * rows deleted). A bucket whose every row matches writes no dir and
    * leaves the manifest. NULL predicate results keep the row (SQL DELETE
    * removes only rows where the predicate is TRUE). */
  def delete(spark: SparkSession, pred: Column): (Set[Int], Long) =
    rewriteMatching(spark, pred)(_.filter(!coalesce(pred, lit(false))))

  /** Conservative conjunctive [lo,hi] bounds per column, extracted from a
    * predicate's (unanalyzed) Catalyst expression — the driver-side range
    * analysis feeding [[statsCandidates]]. Only shapes whose bounds are
    * PROVABLY implied by the predicate contribute: `col <cmp> literal`
    * comparisons (either operand order) on numeric/date/timestamp columns
    * (string columns take the [[predStrBounds]] path against prefix stats),
    * conjoined by AND. Anything else (OR, NOT, functions, unanalyzable
    * conjuncts) contributes nothing — an AND-conjunct can only narrow the
    * match set, so ignoring one keeps the candidate set a superset.
    * Literal values quantize exactly as [[StatsManifest]] records them
    * (timestamps → epoch micros, dates → epoch days, numerics → double). */
  private[graft] def predBounds(pred: Column): Map[String, (Double, Double)] =
    predAllBounds(pred)._1

  /** String-column analog of [[predBounds]]: conservative [lo,hi] prefix
    * bounds (None = unbounded side), matched against the b64 prefix stats
    * [[StatsManifest]] records for string columns. */
  private[graft] def predStrBounds(pred: Column): Map[String, (Option[String], Option[String])] =
    predAllBounds(pred)._2

  /** Point-equality sets per column (`c = lit`, `c IN (lits)`, and ORs of
    * those), extracted for the Bloom-sidecar membership probe. Only
    * values representable in an index hash kind (integral → long,
    * string) contribute — anything else drops the column's constraint. */
  private[graft] def predPointSets(pred: Column): Map[String, BucketedSnapshotTable.PointSet] =
    predAllBounds(pred)._3

  private type NumB = Map[String, (Double, Double)]
  private type StrB = Map[String, (Option[String], Option[String])]
  private type PtB  = Map[String, BucketedSnapshotTable.PointSet]

  private def predAllBounds(pred: Column): (NumB, StrB, PtB) =
    BucketedSnapshotTable.extractBounds(
      org.apache.spark.sql.GraftColumnBridge.catalystExpression(pred))

  /** Stats-manifest pre-filter for predicate DML discovery (the bucketed
    * analog of Delta's data-skipping on UPDATE/DELETE): buckets whose every
    * file's recorded [min,max] for some bounded stats column lies outside
    * the predicate's extracted range CANNOT contain a match, so the
    * discovery scan skips them. The per-file verdict (stats ranges and
    * Bloom membership) is [[PruningFileIndex.dirKeep]], the one the read
    * path uses. Returns None when the predicate yields no
    * usable bounds (scan everything, the pre-r9 behavior); a batch dir
    * without a stats manifest keeps all its buckets — pruning is always a
    * superset guarantee, and the row-level filter still applies. */
  private[graft] def statsCandidates(spark: SparkSession, m: Map[Int, String],
      pred: Column): Option[Set[Int]] = {
    val (allN, allS, allP) = predAllBounds(pred)
    val nBounds = allN.filter { case (c, _) => statsCols.contains(c) }
    val sBounds = allS.filter { case (c, _) => statsCols.contains(c) }
    val pSets   = allP.filter { case (c, _) => bloomCols.contains(c) }
    // BUCKET-KEY pruning needs no sidecars at all: when every bucket key
    // carries a point constraint, the candidate buckets are the literal
    // tuples' hash targets (keyBuckets, one footer read for the key
    // types) — `UPDATE … WHERE key = k` discovers O(1) buckets on a bare
    // table, the DML twin of the q315 read path.
    val byKey: Option[Set[Int]] =
      if (keys.isEmpty || !keys.forall(allP.contains)) None
      else m.headOption.flatMap { case (b, dir) =>
        val rep = s"$root/$dir/$BucketCol=$b"
        (try Some(spark.read.parquet(rep).schema)
         catch { case _: Exception => None })
          .flatMap(keyBuckets(_, allP))
      }
    if (nBounds.isEmpty && sBounds.isEmpty && pSets.isEmpty) return byKey
    val f = fs(spark)
    def norm(p: String) = new Path(p).toUri.getPath
    // per batch dir: the files its sidecars list (no bucket-dir listing),
    // judged by the read path's per-file verdict. No usable metadata keeps
    // the batch's buckets; a bucket no sidecar lists is kept too.
    val sidecarCands = Some(m.groupBy(_._2).flatMap { case (dir, entries) =>
      val stats = StatsManifest.readLines(f, DirIndex.statsPath(batchDir(dir)))
      val bloom = new BloomIndex.Probe(f, DirIndex.bloomPath(batchDir(dir)))
      PruningFileIndex.dirKeep(stats, bloom, nBounds, sBounds, pSets) match {
        case None => entries.keys
        case Some(keep) =>
          val listed = (stats.toSeq.flatten.map(_.split("\t")(0)) ++
            bloom.indexedFiles.toSeq.flatten).map(norm)
          val byBucketDir = listed.groupBy(p => new Path(p).getParent.toUri.getPath)
          entries.keys.filter(b =>
            byBucketDir.get(norm(s"$root/$dir/$BucketCol=$b")).forall(_.exists(keep)))
      }
    }.toSet)
    // both analyses are supersets of the matching buckets → intersect
    (sidecarCands, byKey) match {
      case (Some(a), Some(b)) => Some(a intersect b)
      case (a, b)             => a.orElse(b)
    }
  }

  /** Shared copy-on-write loop for [[update]]/[[delete]]: per attempt,
    * discover the buckets holding `pred` matches (one job: per-bucket
    * match counts, ≤ numBuckets rows of driver metadata), rewrite those
    * buckets through `transform`, and commit. Recomputed from fresh state
    * on a lost commit race.
    *
    * Discovery is stats-pruned when the predicate carries range bounds on
    * a stats column ([[statsCandidates]]): on a table whose batches carry
    * per-file stats, `UPDATE … WHERE ts >= <recent>` scans only the
    * buckets whose files can hold such rows — O(recent data), not
    * O(table). The commit-race rebase rule stays the strict
    * `wholeTableRead` one (identical manifests required): a moved entry in
    * a NON-candidate bucket could hold new rows the stats snapshot this
    * attempt read never covered. */
  private def rewriteMatching(spark: SparkSession, pred: Column)
      (transform: DataFrame => DataFrame): (Set[Int], Long) = {
    var matched = 0L
    val touched = commitLoop(spark, wholeTableRead = true) { () =>
      val cand = statsCandidates(spark, manifest(spark), pred)
      readBuckets(spark, cand).flatMap { scanned =>
        val hits = scanned.filter(pred).groupBy(col(BucketCol)).count().collect()
        matched = hits.map(_.getLong(1)).sum
        val affected = hits.map(_.getInt(0)).toSet
        if (affected.isEmpty) None
        else Some((affected, transform(readBuckets(spark, Some(affected)).get)))
      }
    }
    (touched, matched)
  }

  private def merge(spark: SparkSession, updates: DataFrame,
      algebra: (Option[DataFrame], DataFrame) => DataFrame,
      txn: Option[(String, Long)] = None,
      knownBuckets: Option[Set[Int]] = None): Set[Int] = {
    // cheap replay short-circuit: a micro-batch the exactly-once ledger
    // already records skips before reading or staging anything (the
    // authoritative check re-runs inside the commit lock)
    if (txn.isDefined && manifestAt(spark, currentVersion(spark).getOrElse(0)).applied(txn))
      return Set.empty
    val upd = updates.withColumn(BucketCol, bucketExpr)
    // driver-side metadata: at most numBuckets ints — NOT row data.
    // `knownBuckets` (r15, job fusion): a coordinator that already probed
    // EXACTLY this batch's key set (readKeysWithBuckets) skips the probe
    // job. Contract: it must be the batch keys' true bucket set under
    // THIS table's bucketExpr — a subset would stage rows the manifest
    // then never references (silent row loss).
    val updBuckets = knownBuckets.getOrElse(upd.select(BucketCol).distinct()
      .collect().map(_.getInt(0)).toSet)
    if (updBuckets.isEmpty) return Set.empty
    commitLoop(spark, txn = txn) { () =>
      Some((updBuckets, algebra(readBuckets(spark, Some(updBuckets)), upd)))
    }
  }

  /** The optimistic read-modify-write commit loop shared by merges and
    * copy-on-write DML: `stage` reads CURRENT state and returns (affected
    * buckets, their rewritten content carrying [[BucketCol]]), or None for
    * a no-op. Stages against the version it read; a lost race REBASES the
    * staged batch when the intervening commits left its affected buckets'
    * entries unmoved, else recomputes from fresh state — racing writers on
    * a shared table all land, serialized by the commit lock, none lost.
    * `txn` = (queryId, batchId) exactly-once ledger entry: a batch the
    * manifest header already records is a clean no-op (checked cheaply
    * before staging by [[merge]] and authoritatively inside the lock). */
  private def commitLoop(spark: SparkSession, wholeTableRead: Boolean = false,
      txn: Option[(String, Long)] = None)
      (stage: () => Option[(Set[Int], DataFrame)]): Set[Int] = {
    var attempt = 0
    while (true) {
      val v0 = currentVersion(spark).getOrElse(0)
      // manifest AT v0 (immutable once written): the rebase check below
      // compares the affected buckets' entries against it
      val m0 = manifestAt(spark, v0)
      val (affected, merged) = stage() match {
        case None => return Set.empty
        case Some(x) => x
      }
      val staged = stageBatch(spark, enforceConstraints(spark, merged), v0, m0)
      lockedCommit(spark, staged, txn)(rebase(affected, m0.buckets, wholeTableRead)) match {
        case Some(committed) => return if (committed.isEmpty) Set.empty else affected
        case None => ()
      }
      attempt += 1
      if (attempt > 12) throw new java.util.ConcurrentModificationException(
        s"BucketedSnapshotTable $root: merge lost the commit race 12 times — giving up")
      // jittered backoff so N symmetric racers don't re-stage in lockstep
      // (each loser pays a full re-stage; desynchronizing them lets one
      // winner land per staging window instead of all colliding again)
      Thread.sleep(math.min(50L * attempt, 500L) +
        java.util.concurrent.ThreadLocalRandom.current().nextLong(50))
    }
    throw new IllegalStateException("unreachable")
  }

  /** The DATA half of a commit: write `merged` under a fresh `_staging_*`
    * dir (invisible — no manifest references it) and compute its sidecar
    * inputs. Runnable outside, and concurrently with, any lock — two
    * tables' staging writes may overlap. `v0`/`m0` = the version and
    * manifest the batch was computed from (the entry rule's base);
    * `sortWithin` sorts each bucket's file on those columns. */
  private def stageBatch(spark: SparkSession, merged: DataFrame, v0: Int,
      m0: Manifest, sortWithin: Seq[String] = Nil)
      : BucketedSnapshotTable.StagedBatch = {
    val f = fs(spark)
    val staging = s"_staging_${java.util.UUID.randomUUID().toString.take(12)}"
    // repartition on the bucket id so each bucket dir gets ONE writer task
    // (one file), not shufflePartitions × buckets stragglers — at scale a
    // bucket is exactly one task's output, and the shuffle is the same
    // key-hash the merge already clustered on
    val shaped = merged.repartition(col(BucketCol))
    (if (sortWithin.isEmpty) shaped
     else shaped.sortWithinPartitions((BucketCol +: sortWithin).map(col): _*))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(BucketCol)
      .parquet(s"$root/$staging")
    onStep("staged")
    // a batch whose every row was tombstoned away stages NO parquet
    // (only _SUCCESS) — nothing to index, and reading it for stats
    // would fail schema inference
    val stagedHasData = f.listStatus(new Path(s"$root/$staging"))
      .exists(_.getPath.getName.startsWith(s"$BucketCol="))
    // the batch's index is built INSIDE the staging dir, so the rename
    // carries it and the locked section only re-points its file paths.
    // Index columns come from the writer OR, per kind, the ones the
    // manifest header records (ANALYZE's): a maintenance writer or a
    // default-routed merge keeps the index fresh per commit
    if (stagedHasData) DirIndex.build(f, batchDir(staging), SnapshotTable.readDir(spark,
      s"$root/$staging"), DirIndex.effective(statsCols, bloomCols,
        (m0.list("statsCols"), m0.list("bloomCols"))), BucketedSnapshotTable.BloomFpp)
    // the staged FILE schema (bucket partition column excluded), recorded
    // in the manifest header at commit so planning skips the footer read
    val stagedSchema =
      if (!stagedHasData) None
      else Some(BucketedSnapshotTable.schemaDdl(merged.schema, BucketCol))
    BucketedSnapshotTable.StagedBatch(staging, v0, m0, stagedSchema)
  }

  /** The merge/DML entry rule for [[lockedCommit]] — DISJOINT-WRITER
    * REBASE: a lost version race invalidates the staged batch only if an
    * intervening commit moved one of its affected buckets' entries;
    * otherwise the staged bytes still rewrite those buckets' current state
    * and commit on the fresh manifest, each at the commit's own version.
    * Predicate DML (`wholeTableRead`) scanned the whole table for its
    * affected set, so ANY moved entry could hide rows its predicate never
    * saw — it rebases only onto an identical manifest. */
  private def rebase(affected: Set[Int], m0: Map[Int, BucketEntry],
      wholeTableRead: Boolean)(mCur: Map[Int, BucketEntry], next: Int)
      : Option[Map[Int, Int]] =
    if (if (wholeTableRead) mCur == m0 else affected.forall(b => mCur.get(b) == m0.get(b)))
      Some(affected.iterator.map(_ -> next).toMap)
    else None

  /** The LOCKED metadata half of every data commit: rename + index
    * repoint + manifest + pointer flip, all metadata-sized. `rule` maps
    * the manifest found under the lock and the claimed version to the
    * buckets this commit REPLACES, each with its new entry's contentV —
    * None = lost the race unrebasably (staging deleted, the caller
    * restages). Staged buckets the rule leaves out are dropped with their
    * sidecar lines. Returns Some(Some(version)) on commit, Some(None) when
    * the txn ledger already records the batch, None on a lost race. */
  private def lockedCommit(spark: SparkSession,
      s: BucketedSnapshotTable.StagedBatch, txn: Option[(String, Long)])
      (rule: (Map[Int, BucketEntry], Int) => Option[Map[Int, Int]])
      : Option[Option[Int]] = {
    val f = fs(spark)
    val stagingPath = new Path(s"$root/${s.dir}")
    CommitLock.withLockHandle(f, root, commitStaleMs) { lockH =>
      val cur = currentVersion(spark).getOrElse(0)
      // parsed once: the ledger check, the rule and the next manifest's
      // inherited header all read it
      val mCur = if (cur == s.v0) s.m0 else manifestAt(spark, cur)
      val next = cur + 1
      // authoritative exactly-once check, inside the critical section: a
      // racing restart of the same stream that committed this batch
      // first makes ours a clean no-op
      if (mCur.applied(txn)) { f.delete(stagingPath, true); Some(None) }
      else rule(mCur.buckets, next) match {
        case None => f.delete(stagingPath, true); None
        case Some(replaced) =>
          val batchDir = s"_batch_v$next"
          // a crashed writer may have left an orphan _batch_v<next> (it
          // died between rename and pointer flip): unreachable — claiming
          // the version purges it, else our rename would nest into it
          val batchPath = new Path(s"$root/$batchDir")
          if (f.exists(batchPath)) f.delete(batchPath, true)
          if (!f.rename(stagingPath, batchPath))
            throw new IllegalStateException(s"BucketedSnapshotTable $root: staging rename failed")
          onStep("renamed")
          // A bucket whose merged content is EMPTY (every key tombstoned
          // by a delete flow) writes no partition dir — its manifest entry
          // must be REMOVED, not pointed at a missing path. A staged
          // bucket the rule leaves out is stale, unreferenced output.
          val written = f.listStatus(batchPath).map(_.getPath.getName)
            .collect { case n if n.startsWith(s"$BucketCol=") =>
              n.stripPrefix(s"$BucketCol=").toInt }.toSet
          val dropped = written -- replaced.keySet
          dropped.foreach(b => f.delete(new Path(batchPath, s"$BucketCol=$b"), true))
          DirIndex.repoint(f, batchPath, s.dir,
            line => !dropped.exists(b => line.contains(s"/$batchDir/$BucketCol=$b/")))
          lockH.check() // paused-holder guard: abort rather than double-flip
          writeManifest(spark, next, mCur,
            (mCur.buckets -- replaced.keySet) ++ replaced.collect {
              case (b, contentV) if written(b) => b -> BucketEntry(batchDir, contentV)
            },
            mCur.txns ++ txn, // the exactly-once ledger carries forward
            s.schema.map(batchDir -> _).toMap)
          onStep("committed")
          Some(Some(next))
      }
    }
  }

  /** TWO-PHASE SCD1 merge for multi-table coordinators (the MV refresh,
    * whose aux and main state commits were the measured ~half of every
    * refresh when run strictly in sequence): this stages everything up to
    * — and including — the staging write and sidecar computation, the
    * expensive DATA half, WITHOUT committing. A coordinator can therefore
    * stage several tables' batches CONCURRENTLY (independent Spark jobs,
    * independent table roots) and then [[commitStagedScd1]] them in its
    * required order with only metadata work (rename + manifest + flip)
    * between the pointer flips.
    *
    * Crash semantics are unchanged by construction: a staged batch is a
    * randomly-named `_staging_*` dir no manifest references — invisible
    * to every reader and reaped by vacuum — so this API changes WHEN the
    * data bytes are written, never when they become visible. The caller's
    * commit ORDER (the MV's aux-strictly-before-main rule that the
    * aux-ahead replay pinning proves) is exactly the order of its
    * commitStagedScd1 calls.
    *
    * Returns None when there is nothing to do (empty update batch, or the
    * exactly-once ledger already records `txn` — same no-ops as
    * [[scd1Merge]]). */
  private[graft] def stageScd1Merge(spark: SparkSession, updates: DataFrame,
      seqCol: String, applyAsDeletes: Option[Column] = None,
      txn: Option[(String, Long)] = None,
      knownBuckets: Option[Set[Int]] = None)
      : Option[BucketedSnapshotTable.StagedScd1] = {
    val v0 = currentVersion(spark).getOrElse(0)
    val m0 = manifestAt(spark, v0)
    if (m0.applied(txn)) return None
    val upd = updates.withColumn(BucketCol, bucketExpr)
    // knownBuckets: see [[merge]] — the coordinator's probe result for
    // EXACTLY this batch's key set; skips one probe job per merge
    val updBuckets = knownBuckets.getOrElse(upd.select(BucketCol).distinct()
      .collect().map(_.getInt(0)).toSet)
    if (updBuckets.isEmpty) return None
    // read the affected buckets AT v0 — the same manifest the rebase check
    // compares against, so read state ≡ rebase base by construction
    val merged = ScdMerge.scd1Upsert(
      fromManifest(spark, m0.bucketDirs, Some(updBuckets)),
      upd, keys, seqCol, Nil, applyAsDeletes)
    Some(BucketedSnapshotTable.StagedScd1(
      stageBatch(spark, enforceConstraints(spark, merged), v0, m0),
      updBuckets, updates, seqCol, applyAsDeletes, txn))
  }

  /** Commit a [[stageScd1Merge]] batch. The metadata-sized happy path; a
    * staged batch that lost the commit race unrebasably (another writer
    * moved one of its buckets — cannot happen under a coordinator that
    * serializes refreshes, kept for safety) falls back to the standard
    * re-staging merge loop. Returns the buckets rewritten. */
  private[graft] def commitStagedScd1(spark: SparkSession,
      h: BucketedSnapshotTable.StagedScd1): Set[Int] =
    lockedCommit(spark, h.batch, h.txn)(
        rebase(h.affected, h.batch.m0.buckets, wholeTableRead = false)) match {
      case Some(committed) => if (committed.isEmpty) Set.empty else h.affected
      case None =>
        scd1Merge(spark, h.updates, h.seqCol, Nil, h.applyAsDeletes, h.txn)
    }

  // ── Per-batch index (SCD-merge × data-skipping composition) ──────────
  //
  // The bucket layout prunes by KEY; each immutable batch dir's own index
  // ([[DirIndex]]) prunes by VALUE, and buckets carried over by reference
  // keep their old batch's index — no rewrite, no rescan.

  private def batchDir(dir: String) = new Path(s"$root/$dir")

  /** Pruning-aware read — the general SNAPSHOT relation: a plain parquet
    * scan whose FILE LISTING goes through [[PruningFileIndex]], so ANY
    * predicate Catalyst pushes into the scan (a later `.filter`, a SQL
    * WHERE over `SNAPSHOT '<root>'`, a join's pushed equality) prunes the
    * scheduled files through the per-batch stats AND Bloom sidecars at
    * planning time — the same per-file verdict ([[PruningFileIndex.dirKeep]])
    * the predicate-DML pre-filter uses. Superset guarantee
    * throughout: the row filter still runs on the survivors.
    *
    * Falls back to the union-cast read when batch dirs disagree on a
    * column's TYPE (such evolved tables need per-dir casts a
    * single-schema parquet relation cannot express; add/drop-column
    * evolution stays on the fast path — missing columns null-fill in the
    * reader). `version` = time travel over that manifest. */
  def readIndexed(spark: SparkSession, version: Option[Int] = None): DataFrame = {
    val f = fs(spark)
    // the floor, not a per-dir probe, decides readability — and only for
    // time travel: the live version is always readable
    version.foreach(requireVersion(spark, _))
    val v = version.getOrElse(liveVersion(spark))
    val m = manifestAt(spark, v)
    val entries = m.buckets
    def fallback = version.map(readVersion(spark, _)).getOrElse(read(spark))
    if (entries.isEmpty) return fallback // uniform empty-table errors
    val byDir = liveFilesByDir(spark, v, entries)
    // per-dir FILE schemas: from the manifest header when recorded at
    // commit (r14 — zero footer IO at planning), else one footer probe
    // per legacy dir (instrumented; superset of the old behavior)
    val recorded: Map[String, org.apache.spark.sql.types.StructType] =
      m.header.collect {
        case (k, ddl) if k.startsWith("schema:") =>
          k.stripPrefix("schema:") -> BucketedSnapshotTable.parseSchemaDdl(ddl)
      }.toMap
    val withSchemas: Seq[(String, Seq[org.apache.hadoop.fs.FileStatus],
        org.apache.spark.sql.types.StructType)] =
      byDir.collect { case (dir, fls) if fls.nonEmpty =>
        (dir, fls, recorded.getOrElse(dir, {
          BucketedSnapshotTable.schemaProbes.incrementAndGet()
          spark.read.parquet(fls.head.getPath.toString).schema
        }))
      }
    if (withSchemas.isEmpty) return fallback // no listable data files
    PruningFileIndex.unionSchemaOf(withSchemas.map(_._3)) match {
      case Some(schema) =>
        PruningFileIndex.relation(spark, withSchemas.flatMap(_._2), schema,
          keepFor(f, byDir, Some(schema)))
      case None =>
        // TYPE-EVOLVED table (a column's type widened between batch dirs):
        // one pruning relation PER TYPE-GROUP of dirs instead of giving up
        // — each group keeps planning-time stats/Bloom/bucket-key file
        // skipping, and the groups union to the name-union schema with
        // exactly the fallback read's semantics (oldest dir's type wins
        // per column, absent columns null-fill; byDir is oldest-first, so
        // group order preserves it). Pre-r13 this fell back to an
        // InMemoryFileIndex over EVERY live file: the 100× soak's MV
        // dim-trickle legs paid an O(files) listing + full fact scan for
        // a fixture whose sequence column was int in old batches and
        // long in new ones.
        import org.apache.spark.sql.types.{DataType, StructField, StructType}
        val groups = scala.collection.mutable.ArrayBuffer.empty[(
          scala.collection.mutable.LinkedHashMap[String, DataType],
          scala.collection.mutable.ArrayBuffer[(String, Seq[org.apache.hadoop.fs.FileStatus])])]
        withSchemas.foreach { case (dir, fls, s) =>
          groups.find { case (acc, _) =>
            s.forall(f2 => acc.get(f2.name).forall(_ == f2.dataType))
          } match {
            case Some((acc, ds)) =>
              s.foreach(f2 =>
                if (!acc.contains(f2.name)) acc(f2.name) = f2.dataType)
              ds += ((dir, fls))
            case None =>
              val acc = scala.collection.mutable.LinkedHashMap
                .empty[String, DataType]
              s.foreach(f2 => acc(f2.name) = f2.dataType)
              groups += ((acc,
                scala.collection.mutable.ArrayBuffer((dir, fls))))
          }
        }
        val parts = groups.toSeq.map { case (acc, ds) =>
          val gSchema = StructType(acc.toSeq.map { case (n, dt) =>
            StructField(n, dt, nullable = true) })
          val gByDir = ds.toSeq
          PruningFileIndex.relation(spark, gByDir.flatMap(_._2), gSchema,
            keepFor(f, gByDir, Some(gSchema)))
        }
        if (parts.isEmpty) fallback else unionEvolving(parts)
    }
  }

  /** (dir, its live buckets' data files) for a manifest's entries, oldest
    * batch first (stable first-seen column types, like the union read).
    * MEMOIZED per (root, version, manifest mtime): the listed file set is
    * immutable once committed, so a hot table's repeated planning pays
    * one listing per commit, not one per call. */
  private def liveFilesByDir(spark: SparkSession, v: Int,
      entries: Map[Int, BucketEntry])
      : Seq[(String, Seq[org.apache.hadoop.fs.FileStatus])] = {
    val f = fs(spark)
    val mtime =
      try f.getFileStatus(Manifest.path(root, v)).getModificationTime
      catch { case _: java.io.IOException => -1L }
    BucketedSnapshotTable.cachedListing((root, v, mtime), () =>
      entries.groupBy(_._2.dir).toSeq
        .sortBy { case (dir, _) => dir.stripPrefix("_batch_v").toIntOption.getOrElse(0) }
        .map { case (dir, es) =>
          dir -> es.keys.toSeq.sorted.flatMap { b =>
            BucketedSnapshotTable.listingCalls.incrementAndGet()
            parquetIn(f, new Path(s"$root/$dir/$BucketCol=$b"))
          }
        })
  }

  /** The [[PruningFileIndex]] keep-callback over this table's per-batch
    * sidecars AND the bucket layout itself: extract constraints once per
    * planning call, build one dir-level keep predicate per batch dir
    * ([[PruningFileIndex.dirKeep]]), and — when every bucket KEY carries a
    * point constraint — keep only the files of the hash-candidate buckets
    * ([[keyBuckets]]: pure metadata, the read-side SQL twin of
    * [[readKeys]]' O(1/numBuckets) lookup). No extracted constraints (or
    * an unknown file) → keep everything. */
  private def keepFor(f: org.apache.hadoop.fs.FileSystem,
      byDir: Seq[(String, Seq[org.apache.hadoop.fs.FileStatus])],
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      (preds: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : String => Boolean = {
    val (nB, sB, pS) = BucketedSnapshotTable.extractBounds(
      preds.reduce(org.apache.spark.sql.catalyst.expressions.And))
    if (nB.isEmpty && sB.isEmpty && pS.isEmpty) (_: String) => true
    else {
      val fileDir: Map[String, String] = byDir.flatMap { case (dir, fls) =>
        fls.map(st => st.getPath.toUri.getPath -> dir)
      }.toMap
      val dirKeep = DirIndex.keep(f, byDir.map { case (dir, _) => dir -> batchDir(dir) },
        fileDir.get, nB, sB, pS)
      val wantedBuckets: Option[Set[Int]] =
        schema.flatMap(sc => keyBuckets(sc, pS))
      val fileBucket: Map[String, Int] = byDir.flatMap { case (_, fls) =>
        fls.flatMap { st =>
          val p = st.getPath.toUri.getPath
          s"$BucketCol=(\\d+)/".r.findFirstMatchIn(p)
            .map(m => p -> m.group(1).toInt)
        }
      }.toMap
      (p: String) =>
        wantedBuckets.forall(bs => fileBucket.get(p).forall(bs.contains)) && dirKeep(p)
    }
  }

  /** Candidate bucket ids when EVERY bucket key carries a point
    * constraint: the driver-side replay of [[bucketExpr]]'s Murmur3 hash
    * over the literal tuples (cross product of the per-key value sets — a
    * superset of the true tuples, so the bucket set is a superset of the
    * buckets matching rows can live in). Values convert to each key
    * column's STORED type with the same coercion-soundness rules the
    * Bloom probe uses: a value provably unable to equal any stored value
    * contributes nothing; a value whose equality class cannot be
    * enumerated driver-side (fractional-or-huge renderings on an integral
    * key, numeric literals on a string key, exotic key types) makes the
    * whole analysis bail to None — skipping is always a superset
    * guarantee. */
  private def keyBuckets(schema: org.apache.spark.sql.types.StructType,
      pS: Map[String, BucketedSnapshotTable.PointSet]): Option[Set[Int]] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    if (keys.isEmpty) return None
    val perKey: Seq[Seq[(Any, DataType)]] = keys.map { k =>
      val dt = schema.find(_.name == k).map(_.dataType).getOrElse(return None)
      val pts = pS.getOrElse(k, return None)
      dt match {
        case LongType =>
          pts.longInterpretation.getOrElse(return None).toSeq.map(v => (v: Any, dt))
        case IntegerType =>
          pts.longInterpretation.getOrElse(return None).toSeq
            .filter(v => v >= Int.MinValue && v <= Int.MaxValue)
            .map(v => (v.toInt: Any, dt))
        case ShortType =>
          pts.longInterpretation.getOrElse(return None).toSeq
            .filter(v => v >= Short.MinValue && v <= Short.MaxValue)
            .map(v => (v.toShort: Any, dt))
        case StringType =>
          // sound only when the string set alone is complete: a numeric
          // literal matches every string RENDERING that casts to it
          // ('05' = 5), which no finite probe set covers
          if (pts.dbls.nonEmpty || pts.longs.nonEmpty) return None
          pts.strs.toSeq.map(v => (v: Any, dt))
        case _ => return None
      }
    }
    if (perKey.exists(_.isEmpty)) return Some(Set.empty) // unsatisfiable
    val tuples = perKey.foldLeft(Seq(Seq.empty[(Any, DataType)])) { (acc, vs) =>
      acc.flatMap(t => vs.map(t :+ _))
    }
    if (tuples.size > 1024) return None // cap the cross-product blowup
    Some(tuples.map { t =>
      val h = Murmur3Hash(t.map { case (v, dt) => Literal.create(v, dt) }, 42)
        .eval(null).asInstanceOf[Int]
      ((h % numBuckets) + numBuckets) % numBuckets
    }.toSet)
  }

  /** Metadata-only (never schedules a scan): of the live version's data
    * files, how many survive read-side skipping under `pred` — the
    * scale-independent pin gate queries `require` on. (kept, total). */
  def pruneStats(spark: SparkSession, pred: Column): (Int, Int) = {
    val v = liveVersion(spark)
    val byDir = liveFilesByDir(spark, v, manifestAt(spark, v).buckets)
    val all = byDir.flatMap(_._2).map(_.getPath.toUri.getPath)
    val reps = byDir.flatMap(_._2.headOption).map(_.getPath.toString)
    val schema = PruningFileIndex.unionSchema(spark, reps)
    val k = keepFor(fs(spark), byDir, schema)(Seq(
      org.apache.spark.sql.GraftColumnBridge.catalystExpression(pred)))
    (all.count(k), all.size)
  }

  /** ANALYZE: backfill per-batch file stats for THIS instance's
    * `statsCols` over every batch dir the live manifest reaches, then
    * commit a metadata-only version whose header records the stats
    * columns — after which [[readIndexed]] and the predicate-DML stats
    * pre-filter work on data written before stats existed (or with a
    * different column set). One column-pruned scan per batch dir, no data
    * rewrite: the batch dirs are immutable, only their index
    * ([[DirIndex.backfill]]) and the manifest header change. Returns the
    * committed version. */
  def analyze(spark: SparkSession, onlyMissing: Boolean = false): Int = {
    require(statsCols.nonEmpty || bloomCols.nonEmpty,
      s"BucketedSnapshotTable $root: analyze needs statsCols or bloomCols — " +
        "construct the table (or run ANALYZE … STATS/BLOOM (…)) with the columns to index")
    val f = fs(spark)
    // The O(table) sidecar build runs OUTSIDE the commit lock: batch dirs
    // are immutable, so sidecars computed unlocked can never be stale, and
    // holding the lock for a full backfill would block every writer for
    // the ANALYZE duration (and invite a stale-lock steal that wastes the
    // whole run) — the locked critical section stays metadata-sized, the
    // invariant every other commit path here keeps.
    val cur0 = liveVersion(spark)
    // per batch dir, its LIVE buckets read explicitly (`__bucket=…`
    // children are underscore-hidden from a directory-level read)
    manifestAt(spark, cur0).buckets.groupBy(_._2.dir).foreach { case (dir, es) =>
      DirIndex.backfill(f, batchDir(dir), spark.read.option("basePath", s"$root/$dir")
          .parquet(es.keys.toSeq.sorted.map(b => s"$root/$dir/$BucketCol=$b"): _*),
        statsCols, bloomCols, BucketedSnapshotTable.BloomFpp, onlyMissing)
    }
    onStep("analyze_built")
    CommitLock.withLockHandle(f, root, commitStaleMs) { lockH =>
      // re-read under the lock: commits that raced the unlocked build keep
      // their (newer) entries; their dirs simply lack sidecars until the
      // next ANALYZE … INCREMENTAL — absent sidecars keep all files, the
      // standing superset guarantee.
      val cur = currentVersion(spark).getOrElse(cur0)
      val mc = manifestAt(spark, cur)
      lockH.check()
      // metadata-only commit: same entries, same contentV (no content
      // changed — the CDF must not re-read anything), header now carries
      // statsCols so path-only consumers (SQL DML routing) see them
      writeManifest(spark, cur + 1, mc, mc.buckets, mc.txns)
      cur + 1
    }
  }

  /** Rewrite every bucket into the same batch dir (small-file compaction
    * after many incremental merges). Bucket layout is preserved, so
    * subsequent merges still prune.
    *
    * MAINTENANCE NEVER BLOCKS INGESTION: compaction is content-preserving
    * per bucket, so a merge landing while the compaction job ran does not
    * abort it — inside the commit lock, buckets whose manifest entry
    * MOVED since the compaction read simply keep the merge's (newer)
    * entry and their stale compacted output is dropped; only unmoved
    * buckets re-point at the compacted dir. The commit is always
    * consistent: every bucket shows either its compacted bytes (equal
    * content) or the newer merge's bytes. Returns the committed version. */
  def compact(spark: SparkSession, clusterBy: Seq[String] = Nil): Int = {
    val v0 = currentVersion(spark).getOrElse(0)
    val m0 = manifestAt(spark, v0)
    fromManifest(spark, m0.bucketDirs, None).fold(v0) { df =>
      // clusterBy: sort WITHIN each bucket's file so parquet row-group
      // min/max become selective on those columns (the bucket layout is
      // the file-level index; this is the row-group-level one). No CHECK
      // pass: compaction rewrites content that already committed
      val staged = stageBatch(spark, df, v0, m0, clusterBy)
      onStep("compact_staged")
      // entries moved by intervening merges win; a bucket DELETED since
      // the read stays deleted. Re-pointed buckets KEEP their contentV
      // (compaction is content-preserving), so a change-feed window
      // spanning this commit still prunes them as unchanged
      lockedCommit(spark, staged, None) { (mCur, _) =>
        Some(m0.buckets.collect { case (b, e) if mCur.get(b).contains(e) => b -> e.contentV })
      }.flatten.get
    }
  }

  /** VACUUM ([[VersionedTable.vacuumKeeping]]): KEEP 1 = live only, KEEP
    * n keeps the last n versions readable; a vacuumed version raises the
    * travel error. Also clears `_staging_*` orphans from crashed writers —
    * do not run vacuum concurrently with active writers (the standard
    * vacuum contract). */
  def vacuum(spark: SparkSession, keepVersions: Int = 1): Unit = vacuumKeeping(spark, keepVersions)

  protected def reapable(f: org.apache.hadoop.fs.FileSystem,
      staging: org.apache.hadoop.fs.FileStatus): Boolean = true
}

object BucketedSnapshotTable {

  /** A schema's compact DDL for the manifest header, `partitionCol`
    * (the internal bucket column) excluded and nullability normalized to
    * true — planning compares dataTypes only, and the union reads treat
    * every column nullable anyway. */
  private[tables] def schemaDdl(schema: org.apache.spark.sql.types.StructType,
      partitionCol: String): String =
    org.apache.spark.sql.types.StructType(
      schema.fields.toSeq.filterNot(_.name == partitionCol)
        .map(f => org.apache.spark.sql.types.StructField(
          f.name, f.dataType, nullable = true))).toDDL

  private[tables] def parseSchemaDdl(ddl: String)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(ddl)

  /** Driver-side memo of a committed version's live-file listing, keyed
    * (root, version, manifest mtime): a version's file set is immutable
    * once committed, so repeated planning over a hot table costs ONE
    * listing per commit instead of one per planning call (the r13 soak's
    * suspected O(dirs) planning term on many-dir tables). The mtime key
    * self-invalidates if a crashed writer's orphan manifest is rewritten
    * under the same number; VACUUM invalidates its root explicitly. */
  private val listingCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Long), Seq[(String, Seq[org.apache.hadoop.fs.FileStatus])]]()

  /** Instrumentation: FS directory LISTINGS performed by [[liveFilesByDir]]
    * cache misses (spec-pinned: a second planning of the same version
    * performs zero). */
  private[tables] val listingCalls = new java.util.concurrent.atomic.AtomicLong

  /** Instrumentation: parquet FOOTER schema probes performed by
    * [[readIndexed]] for dirs whose manifest lacks a recorded schema
    * (spec-pinned: zero for tables written since schemas were recorded). */
  private[tables] val schemaProbes = new java.util.concurrent.atomic.AtomicLong

  private[tables] def cachedListing(key: (String, Int, Long),
      compute: () => Seq[(String, Seq[org.apache.hadoop.fs.FileStatus])])
      : Seq[(String, Seq[org.apache.hadoop.fs.FileStatus])] = {
    val hit = listingCache.get(key)
    if (hit != null) hit
    else {
      val v = compute()
      if (listingCache.size > 256) listingCache.clear() // crude bound; re-warms in one call
      listingCache.put(key, v)
      v
    }
  }

  private[tables] def invalidateListings(root: String): Unit = {
    val it = listingCache.keySet.iterator
    while (it.hasNext) if (it.next()._1 == root) it.remove()
  }

  /** One manifest entry: the batch dir holding the bucket's bytes, plus
    * the commit version at which the bucket's CONTENT last changed.
    * `contentV` survives content-preserving rewrites (compaction moves a
    * bucket to a new dir but carries its contentV), so the change feed can
    * prune "did this bucket change between v_a and v_b?" on metadata even
    * across an OPTIMIZE boundary — dir comparison alone would report every
    * bucket moved. Manifests written before contentV existed (2-field
    * lines) fall back to the dir's own batch version, which is always ≥
    * the true content version — a conservative over-approximation that
    * reads more buckets, never misses a change. */
  private[tables] final case class BucketEntry(dir: String, contentV: Int)

  /** A fully staged (but uncommitted) SCD1 merge — the handle between the
    * two-phase [[BucketedSnapshotTable.stageScd1Merge]] (data half) and
    * [[BucketedSnapshotTable.commitStagedScd1]] (locked metadata half).
    * Carries the original merge inputs so a lost commit race can fall
    * back to the standard re-staging loop. */
  private[graft] final case class StagedScd1(
      private[tables] val batch: StagedBatch,
      private[tables] val affected: Set[Int],
      private[tables] val updates: org.apache.spark.sql.DataFrame,
      private[tables] val seqCol: String,
      private[tables] val applyAsDeletes: Option[org.apache.spark.sql.Column],
      private[tables] val txn: Option[(String, Long)])

  /** A `stageBatch` result: staging dir name (its index inside it), the
    * version (and its manifest) the batch was computed from, FILE schema
    * DDL (None = no data files). */
  private[tables] final case class StagedBatch(dir: String, v0: Int,
      m0: Manifest, schema: Option[String])

  /** Did a bucket's CONTENT change between two manifest entries? Normally
    * a contentV comparison, with one guard: the legacy 2-field-manifest
    * fallback maps any batch dir whose name does not parse as
    * `_batch_v<N>` to the Int.MaxValue sentinel — two DIFFERENT
    * unparseable dirs would then compare equal and silently drop a
    * changed bucket from the feed. When either side carries the sentinel,
    * the dir string itself must also match (same dir = same immutable
    * bytes — still a sound "unchanged"; different dirs = conservative
    * over-read, the behavior the fallback promises). */
  private[tables] def contentDiffers(a: Option[BucketEntry],
      b: Option[BucketEntry]): Boolean = (a, b) match {
    case (Some(x), Some(y)) if x.contentV == Int.MaxValue || y.contentV == Int.MaxValue =>
      x.contentV != y.contentV || x.dir != y.dir
    case (x, y) => x.map(_.contentV) != y.map(_.contentV)
  }

  /** False-positive probability for per-batch Bloom sidecars: at 1% a
    * point probe over N files schedules ~1 + N/100 scan tasks; sidecar
    * size stays ~1.2 KB per 1k distinct keys per file. */
  val BloomFpp = 0.01

  /** A `column ∈ {values}` point constraint extracted from a predicate —
    * each literal recorded under its OWN kind (provenance preserved, so a
    * numeric-shaped string still prunes string-hashed filters); integral
    * values probe the long-hashed filters, strings the string-hashed
    * ones, doubles (and decimals, via their double rendering) the
    * canonical-bits-hashed "d" kind. Probes convert per filter kind with
    * coercion-aware rules, and a value that cannot be soundly evaluated
    * against a kind keeps the file (see
    * [[BloomIndex.Probe.filesMightContainAny]]). */
  private[graft] final case class PointSet(longs: Set[Long], strs: Set[String],
      dbls: Set[Double] = Set.empty) {

    /** The values of this set interpreted as the LONGS they could
      * SQL-equal under coercion, when that set is enumerable: raw longs,
      * exact small integral doubles, integer-shaped strings, and numeric
      * strings whose parsed value is an exact small integral; a
      * non-numeric string or non-integral double can equal no long and
      * contributes nothing. None when some value's long-equality class
      * cannot be enumerated (an integral magnitude at or past 2^53, where
      * several longs share one double rendering). Feeds the conjunction
      * algebra and the bucket-key hash replay. */
    def longInterpretation: Option[Set[Long]] = {
      val MaxExact = 1L << 53
      def fromD(v: Double): Option[Option[Long]] = // outer None = bail
        if (v.isNaN || v.isInfinite || v != math.rint(v)) Some(None)
        else if (math.abs(v) >= MaxExact) None
        else Some(Some(v.toLong))
      val viaD = dbls.toSeq.map(fromD)
      val viaS = strs.toSeq.map { s =>
        BucketedSnapshotTable.integerLiteral(s) match {
          case Some(l) => (Some(Some(l)): Option[Option[Long]])
          case None =>
            try fromD(java.lang.Double.parseDouble(s.trim))
            catch { case _: NumberFormatException => Some(None) }
        }
      }
      if ((viaD ++ viaS).contains(None)) None
      else Some(longs ++ (viaD ++ viaS).flatten.flatten)
    }
  }

  /** A string that is exactly an (optionally signed) integer in Long
    * range — the only strings whose long-kind coercion target is known
    * driver-side. Anything else ('1.0', '1e0', non-numeric) stays
    * string-kind only; the probe keeps such files (superset). */
  private[graft] def integerLiteral(s: String): Option[Long] = {
    val t = s.trim
    if (t.nonEmpty && t.matches("[+-]?\\d+")) t.toLongOption else None
  }

  private type NumB = Map[String, (Double, Double)]
  private type StrB = Map[String, (Option[String], Option[String])]
  private type PtB  = Map[String, PointSet]

  /** Conservative data-skipping constraints extracted from a predicate's
    * Catalyst expression tree: per-column numeric [lo,hi] bounds, string
    * prefix bounds, and point-equality sets — the one driver-side analysis
    * feeding BOTH the predicate-DML discovery pre-filter and the
    * read-side pruning file index. Handles the typed comparison nodes
    * (SQL text / analyzed plans: AttributeReference + foldable literals)
    * and the Column-DSL `UnresolvedFunction` encoding. Anything it cannot
    * prove contributes nothing — skipping is always a superset
    * guarantee. */
  private[graft] def extractBounds(
      e: org.apache.spark.sql.catalyst.expressions.Expression): (NumB, StrB, PtB) = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    def attr(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.name)
      case a: AttributeReference  => Some(a.name)
      // analysis widens the column to meet a wider literal (`oid = 1.5`
      // becomes `CAST(oid AS DOUBLE) = 1.5`). A widening numeric cast keeps
      // order and SQL equality, and the stats hold the column as a double,
      // so the constraint is the column's, as in the unanalyzed form.
      case c: Cast if c.child.isInstanceOf[AttributeReference] &&
          widens(c.child.dataType, c.dataType) => attr(c.child)
      case _ => None
    }
    def widens(from: org.apache.spark.sql.types.DataType,
        to: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      (from, to) match {
        case (_: NumericType, DoubleType) => true
        case (ByteType | ShortType | IntegerType, LongType) => true
        case (ByteType | ShortType, IntegerType) => true
        case _ => false
      }
    }
    def folded(e0: Expression): Option[Any] = {
      val e = e0 match {
        // a Cast(literal, timestamp/date) from the Column API carries no
        // timezone yet (the analyzer normally injects it) — stamp the
        // session zone so the literal folds, matching what analysis does
        case c: Cast if !c.resolved && c.childrenResolved =>
          c.withTimeZone(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
        case x => x
      }
      // ANSI mode makes a malformed foldable cast THROW on eval (the query
      // itself will raise the same error at constant folding, before any
      // scan) — bounds extraction must stay total and just learn nothing
      if (e.resolved && e.foldable)
        try Option(e.eval(null)) catch { case _: Exception => None }
      else None
    }
    def litD(e: Expression): Option[Double] = folded(e).collect {
      case n: Number => n.doubleValue
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
    }
    def litS(e: Expression): Option[String] = folded(e).collect {
      case s: String => s
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
    }
    def litL(e: Expression): Option[Long] = folded(e).collect {
      case b: Byte  => b.toLong
      case s: Short => s.toLong
      case i: Int   => i.toLong
      case l: Long  => l
    }
    // fractional literals for the "d" bloom kind: doubles as-is, floats by
    // exact widening, decimals via their double rendering (the same
    // conversion the index build applies to the column, so a stored value
    // equal to the literal always hashes to the same canonical bits)
    def litDbl(e: Expression): Option[Double] = folded(e).collect {
      case d: Double => d
      case f: Float  => f.toDouble
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
    }
    import BucketedSnapshotTable.PointSet
    val NegInf = Double.NegativeInfinity
    val PosInf = Double.PositiveInfinity
    def mergeN(a: NumB, b: NumB): NumB =
      (a.keySet ++ b.keySet).map { c =>
        val (alo, ahi) = a.getOrElse(c, (NegInf, PosInf))
        val (blo, bhi) = b.getOrElse(c, (NegInf, PosInf))
        c -> (math.max(alo, blo), math.min(ahi, bhi))
      }.toMap
    def mergeS(a: StrB, b: StrB): StrB =
      (a.keySet ++ b.keySet).map { c =>
        val (alo, ahi) = a.getOrElse(c, (None, None))
        val (blo, bhi) = b.getOrElse(c, (None, None))
        val lo = (alo.toSeq ++ blo.toSeq).maxOption
        val hi = (ahi.toSeq ++ bhi.toSeq).minOption
        c -> (lo, hi)
      }.toMap
    // AND on point sets: the column must satisfy both constraints →
    // member-wise intersection (two IN-lists conjoin to their overlap; an
    // empty overlap is unsatisfiable and prunes every indexed file).
    // Intersection is only sound WITHIN a hash kind both sides populate:
    // Spark coerces cast-compatible literals of different kinds to the
    // same value (`c = 1 AND c = '1'` holds on an int column), so
    // intersecting a longs-only side against a strs-only side would
    // collapse a satisfiable conjunction to the empty set — safe alone
    // (empty keeps all files) but WRONG under OR, where mergeOr would
    // union the empty set away and claim {other branch} complete. For a
    // kind only one side populates, that side's values carry through
    // verbatim: the column's value must satisfy both constraints, so
    // either side alone is a sound over-approximation.
    def mergeP(a: PtB, b: PtB): PtB =
      (a.keySet ++ b.keySet).map { c =>
        c -> ((a.get(c), b.get(c)) match {
          case (Some(x), Some(y)) => PointSet.and(x, y)
          case (x, y)             => x.orElse(y).get
        })
      }.toMap
    def merge(a: (NumB, StrB, PtB), b: (NumB, StrB, PtB)): (NumB, StrB, PtB) =
      (mergeN(a._1, b._1), mergeS(a._2, b._2), mergeP(a._3, b._3))
    // OR is sound only for columns BOTH branches constrain (a row can
    // satisfy the other branch without touching this column otherwise):
    // ranges take the hull, point sets the union; single-side columns drop
    def mergeOr(a: (NumB, StrB, PtB), b: (NumB, StrB, PtB)): (NumB, StrB, PtB) = {
      val n = (a._1.keySet intersect b._1.keySet).map { c =>
        val (alo, ahi) = a._1(c); val (blo, bhi) = b._1(c)
        c -> (math.min(alo, blo), math.max(ahi, bhi))
      }.toMap
      val s = (a._2.keySet intersect b._2.keySet).map { c =>
        val (alo, ahi) = a._2(c); val (blo, bhi) = b._2(c)
        val lo = for (x <- alo; y <- blo) yield if (x < y) x else y
        val hi = for (x <- ahi; y <- bhi) yield if (x > y) x else y
        c -> (lo, hi)
      }.filter { case (_, (lo, hi)) => lo.isDefined || hi.isDefined }.toMap
      val p = (a._3.keySet intersect b._3.keySet).map { c =>
        val x = a._3(c); val y = b._3(c)
        c -> PointSet(x.longs ++ y.longs, x.strs ++ y.strs, x.dbls ++ y.dbls)
      }.toMap
      (n, s, p)
    }
    val empty: (NumB, StrB, PtB) = (Map.empty, Map.empty, Map.empty)
    def oneN(c: Option[String], v: Option[Double],
        f: Double => (Double, Double)): NumB =
      (for (cc <- c; vv <- v) yield Map(cc -> f(vv))).getOrElse(Map.empty)
    def oneS(c: Option[String], v: Option[String],
        f: String => (Option[String], Option[String])): StrB =
      (for (cc <- c; vv <- v) yield Map(cc -> f(vv))).getOrElse(Map.empty)
    // a single `c ∈ {values}` point constraint: each literal lands in the
    // set of its OWN kind (provenance preserved — a numeric-shaped string
    // stays a string, so an 's'-kind Bloom probe still prunes on it);
    // cross-kind coercion is handled where it is sound to do so: at probe
    // time per filter kind (BloomIndex.mightMatch) and in the conjunction
    // algebra via the enumerable long interpretation (PointSet.and).
    def onePts(c: Option[String], items: Seq[Expression]): PtB =
      c match {
        case Some(cc) if items.nonEmpty =>
          val vs = items.map(e => (litL(e), litS(e), litDbl(e)))
          if (vs.forall { case (l, s, d) => l.isDefined || s.isDefined || d.isDefined })
            Map(cc -> PointSet(vs.flatMap(_._1).toSet, vs.flatMap(_._2).toSet,
              vs.flatMap(_._3).toSet))
          else Map.empty
        case _ => Map.empty
      }
    // two comparison encodings reach us unanalyzed: SQL text parses to the
    // typed nodes (GreaterThanOrEqual, …); the Column DSL converts to
    // UnresolvedFunction("and" | ">=" | …) calls — handle both
    def cmp(name: String, l: Expression, r: Expression): (NumB, StrB, PtB) = name match {
      case "=" | "==" =>
        (oneN(attr(l), litD(r), v => (v, v)) ++ oneN(attr(r), litD(l), v => (v, v)),
         oneS(attr(l), litS(r), v => (Some(v), Some(v))) ++
           oneS(attr(r), litS(l), v => (Some(v), Some(v))),
         (if (attr(l).isDefined) onePts(attr(l), Seq(r)) else Map.empty[String, PointSet]) ++
           (if (attr(r).isDefined) onePts(attr(r), Seq(l)) else Map.empty[String, PointSet]))
      case ">" | ">=" =>
        (oneN(attr(l), litD(r), v => (v, PosInf)) ++ oneN(attr(r), litD(l), v => (NegInf, v)),
         oneS(attr(l), litS(r), v => (Some(v), None)) ++
           oneS(attr(r), litS(l), v => (None, Some(v))),
         Map.empty)
      case "<" | "<=" =>
        (oneN(attr(l), litD(r), v => (NegInf, v)) ++ oneN(attr(r), litD(l), v => (v, PosInf)),
         oneS(attr(l), litS(r), v => (None, Some(v))) ++
           oneS(attr(r), litS(l), v => (Some(v), None)),
         Map.empty)
      case _ => empty
    }
    // IN-list: the column lies in [min(items), max(items)] — usable only
    // when EVERY item folds (a non-literal item could lie anywhere)
    def inB(l: Expression, items: Seq[Expression]): (NumB, StrB, PtB) =
      attr(l) match {
        case None => empty
        case Some(c) =>
          val ds = items.map(litD)
          val ss = items.map(litS)
          (if (items.nonEmpty && ds.forall(_.isDefined))
             Map(c -> ((ds.flatten.min, ds.flatten.max))) else Map.empty[String, (Double, Double)],
           if (items.nonEmpty && ss.forall(_.isDefined))
             Map(c -> ((Some(ss.flatten.min), Some(ss.flatten.max)))) else Map.empty[String, (Option[String], Option[String])],
           onePts(Some(c), items))
      }
    // `col LIKE 'p%'` / startswith(col, 'p'): the column lies in the
    // inclusive prefix range [p, prefixSuccessor(p)] against the string
    // stats — the successor is EXCLUSIVE semantically, so using it as an
    // inclusive hi only ever keeps an extra boundary file (superset). A
    // pattern with any other wildcard/escape contributes nothing.
    def prefixB(l: Expression, p: String): (NumB, StrB, PtB) =
      attr(l) match {
        case Some(c) if p.nonEmpty =>
          (Map.empty, Map(c -> ((Some(p), StatsManifest.prefixSuccessor(p)))), Map.empty)
        case _ => empty
      }
    def likeB(l: Expression, pattern: Expression): (NumB, StrB, PtB) =
      litS(pattern) match {
        case Some(pat) =>
          val i = pat.indexWhere(ch => ch == '%' || ch == '_' || ch == '\\')
          if (i > 0 && pat.substring(i) == "%") prefixB(l, pat.substring(0, i))
          else empty
        case None => empty
      }
    // the optimizer rewrites IN-lists past spark.sql.optimizer.
    // inSetConversionThreshold (default 10) into InSet with INTERNAL
    // values — without this case an 11-key serving lookup would silently
    // lose every pruning path a 10-key one has. Re-literalize and reuse
    // the IN analysis; NULL never equals and drops.
    def inSetB(l: Expression, hset: Set[Any]): (NumB, StrB, PtB) = {
      def external(v: Any): Any = v match {
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        case d: org.apache.spark.sql.types.Decimal       => d.toJavaBigDecimal
        case x => x
      }
      try inB(l, hset.toSeq.filter(_ != null).map(v => Literal(external(v))))
      catch { case _: RuntimeException => empty } // unliteralizable value kind
    }
    def walk(e: Expression): (NumB, StrB, PtB) = e match {
      case And(l, r)                => merge(walk(l), walk(r))
      case Or(l, r)                 => mergeOr(walk(l), walk(r))
      case EqualTo(l, r)            => cmp("=", l, r)
      case EqualNullSafe(l, r)      => cmp("=", l, r)
      case GreaterThan(l, r)        => cmp(">", l, r)
      case GreaterThanOrEqual(l, r) => cmp(">=", l, r)
      case LessThan(l, r)           => cmp("<", l, r)
      case LessThanOrEqual(l, r)    => cmp("<=", l, r)
      case In(l, items)             => inB(l, items)
      case InSet(l, hset)           => inSetB(l, hset)
      case StartsWith(l, r)         => litS(r).map(prefixB(l, _)).getOrElse(empty)
      case Like(l, r, '\\')         => likeB(l, r)
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        (f.nameParts.last.toLowerCase, f.arguments) match {
          case ("and", Seq(l, r))          => merge(walk(l), walk(r))
          case ("or", Seq(l, r))           => mergeOr(walk(l), walk(r))
          case ("in", l +: items)          => inB(l, items)
          case ("startswith", Seq(l, r))   => litS(r).map(prefixB(l, _)).getOrElse(empty)
          case ("like", Seq(l, r))         => likeB(l, r)
          case (n, Seq(l, r))              => cmp(n, l, r)
          case _                           => empty
        }
      case _ => empty
    }
    walk(e)
  }

  private[graft] object PointSet {
    /** Conjunction of two point constraints on the same column. The LONG
      * kind intersects the sides' enumerable long INTERPRETATIONS (raw
      * longs plus every cross-kind literal's long-equality class), so
      * coerce-equal literals of different kinds (`c = 1 AND c = '1'`)
      * conjoin to their true overlap instead of a false "unsatisfiable",
      * while `c IN (1,'2') AND c IN (2,'1')` still tightens to {1,2}; a
      * side whose interpretation is not enumerable falls back to the
      * carry rule (union — either side alone over-approximates). Strings
      * and doubles intersect when both sides populate the kind, else
      * carry (their cross-kind equality classes are not enumerable: '05'
      * = 5 has unbounded renderings). */
    def and(x: PointSet, y: PointSet): PointSet = {
      val longs = (x.longInterpretation, y.longInterpretation) match {
        case (Some(a), Some(b)) => a intersect b
        case _                  => x.longs ++ y.longs
      }
      PointSet(
        longs,
        if (x.strs.nonEmpty && y.strs.nonEmpty) x.strs intersect y.strs
        else x.strs ++ y.strs,
        if (x.dbls.nonEmpty && y.dbls.nonEmpty) x.dbls intersect y.dbls
        else x.dbls ++ y.dbls)
    }
  }

  /** Identity of a bucketed table as recorded in its manifest header:
    * bucket count, bucket keys (absent on pre-r7 manifests that did not
    * record them), and stats columns (absent when the table carries no
    * per-batch stats). */
  final case class Layout(numBuckets: Int, keys: Option[Seq[String]],
      statsCols: Seq[String], bloomCols: Seq[String] = Nil)

  /** Probe `root` for a bucketed-table layout: Some(layout) when its LIVE
    * manifest is a bucketed one — the path-only table detection the SQL
    * DML router uses; None for an empty root or a plain table. A
    * manifest whose `numBuckets` is missing or non-numeric fails with a
    * descriptive error (truncated/corrupt manifest) instead of a bare
    * NumberFormatException. */
  def layoutOf(spark: SparkSession, root: String): Option[Layout] =
    Manifest.live(new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration), root)
      .filterNot(_.plain).map { m =>
        val nb = m.get("numBuckets").flatMap(_.trim.toIntOption).filter(_ > 0)
          .getOrElse(throw new IllegalStateException(
            s"BucketedSnapshotTable $root: the manifest of version ${m.version} has no " +
              s"parseable numBuckets header (headers: ${m.header.map(_._1).sorted.mkString(",")}) " +
              "— truncated or corrupt manifest"))
        Layout(nb, m.get("keys").map(Manifest.csv), m.list("statsCols"), m.list("bloomCols"))
      }
}
