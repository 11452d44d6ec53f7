package graft.tables

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** The data-skipping index of ONE immutable data dir, kept inside it — the
  * one sidecar layout of both table formats:
  * {{{
  *   <dir>/part-*.parquet   // the dir's data files (plain `_v<N>`, bucketed `_batch_v<N>`)
  *   <dir>/_stats           // per-file min/max lines ([[StatsManifest]])
  *   <dir>/_bloom/          // per-file Bloom filters, consolidated ([[BloomIndex]])
  * }}}
  * Both names are underscore-hidden from Spark's directory reads. A writer
  * builds the index in its `_staging_*` dir with no lock held; the commit's
  * rename carries it into place and [[repoint]] fixes its file paths before
  * the pointer flip, so no commit writes index files after its flip. Files
  * kept by reference keep their dir's index; files no index lists are
  * always kept (pruning is a superset guarantee).
  */
private[tables] object DirIndex {
  def statsPath(dir: Path): Path = new Path(dir, "_stats")
  def bloomPath(dir: Path): Path = new Path(dir, "_bloom")

  /** Index the data files of `dir` (read as `snap`) over the requested
    * (stats, Bloom) columns it holds: min/max stats lines, and a Bloom
    * sidecar collapsed into one offset-indexed blob (probe IO O(1) per
    * dir). Columns a dir lacks (written before a schema evolution) are
    * skipped. */
  def build(f: FileSystem, dir: Path, snap: => DataFrame,
      cols: (Seq[String], Seq[String]), fpp: Double): Unit = if (cols._1.nonEmpty || cols._2.nonEmpty) {
    val (statsCols, bloomCols) = cols
    val df = snap
    val stats = statsCols.filter(df.columns.contains)
    val bloom = bloomCols.filter(df.columns.contains)
    if (stats.nonEmpty) StatsManifest.write(df, stats, f, statsPath(dir))
    if (bloom.nonEmpty) {
      BloomIndex.write(df, bloom, fpp, f, bloomPath(dir))
      BloomIndex.consolidate(f, bloomPath(dir))
    }
  }

  /** ANALYZE's per-dir step: (re)build the kinds of `dir`'s index whose
    * requested columns it does not cover yet (`onlyMissing`; immutable dirs
    * never hold a stale index), or every requested kind. */
  def backfill(f: FileSystem, dir: Path, snap: => DataFrame, statsCols: Seq[String],
      bloomCols: Seq[String], fpp: Double, onlyMissing: Boolean): Unit = {
    val (hs, hb) = if (onlyMissing) recorded(f, Seq(dir)) else (Nil, Nil)
    def todo(want: Seq[String], have: Seq[String]) =
      if (onlyMissing && want.forall(have.contains)) Nil else want
    build(f, dir, snap, (todo(statsCols, hs), todo(bloomCols, hb)), fpp)
  }

  /** Re-point the index a rename moved from the `staging` dir to `dir`: its
    * file paths name the staging dir (the Bloom blobs are path-agnostic),
    * and entries `kept` rejects (a commit's dropped buckets) go. */
  def repoint(f: FileSystem, dir: Path, staging: String,
      kept: String => Boolean = _ => true): Unit =
    Seq(statsPath(dir), new Path(bloomPath(dir), "_MANIFEST")).foreach { p =>
      StatsManifest.readLines(f, p).foreach { ls =>
        StatsManifest.writeLines(f, p, ls.map(_.replace(s"/$staging/", s"/${dir.getName}/"))
          .filter(l => !l.contains("\t") || kept(l)))
      }
    }

  /** The (stats, Bloom) columns EVERY one of `dirs` records — the index
    * that covers all their files; nothing for no dirs. A `_stats` listing
    * no file (an empty write) names no columns and constrains nothing. */
  def recorded(f: FileSystem, dirs: Seq[Path]): (Seq[String], Seq[String]) = {
    def all(cs: Seq[Seq[String]]) = cs.reduceOption((a, b) => a.filter(b.contains)).getOrElse(Nil)
    val stats = dirs.map(d => StatsManifest.readLines(f, statsPath(d))).filterNot(_.exists(_.isEmpty))
    (all(stats.map(_.map(StatsManifest.statsColumns).getOrElse(Nil))),
      all(dirs.map(d => BloomIndex.indexedColumns(f, bloomPath(d)).getOrElse(Nil))))
  }

  /** The columns a commit indexes, per kind: the writer's own, else the
    * ones the table records (`recorded`, read only when a kind needs it) —
    * index columns are table metadata, so a writer constructed without
    * them keeps the index fresh instead of leaving its dir unindexed. */
  def effective(statsCols: Seq[String], bloomCols: Seq[String],
      recorded: => (Seq[String], Seq[String])): (Seq[String], Seq[String]) = {
    lazy val r = recorded
    (if (statsCols.nonEmpty) statsCols else r._1, if (bloomCols.nonEmpty) bloomCols else r._2)
  }

  /** One keep predicate over the files of several dirs: each dir's verdict
    * ([[PruningFileIndex.dirKeep]], its stats and one Bloom probe read once
    * per call) judges the files `dirOf` maps to it; a file of no listed dir,
    * or of a dir without a usable index, is kept. */
  def keep[D](f: FileSystem, dirs: Seq[(D, Path)], dirOf: String => Option[D],
      nB: Map[String, (Double, Double)], sB: Map[String, (Option[String], Option[String])],
      pS: Map[String, BucketedSnapshotTable.PointSet]): String => Boolean = {
    val perDir: Map[D, String => Boolean] = dirs.flatMap { case (d, dir) =>
      PruningFileIndex.dirKeep(StatsManifest.readLines(f, statsPath(dir)),
        new BloomIndex.Probe(f, bloomPath(dir)), nB, sB, pS).map(d -> _)
    }.toMap
    p => dirOf(p).flatMap(perDir.get).forall(_(p))
  }
}
