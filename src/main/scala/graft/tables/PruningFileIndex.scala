package graft.tables

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Data-skipping [[FileIndex]] over a committed snapshot's immutable file
  * set — the read-side twin of the predicate-DML discovery pre-filter, and
  * the same integration point Delta uses for its data skipping: Catalyst
  * pushes a query's data filters into `listFiles`, so ANY predicate over
  * the relation (a later `.filter`, a SQL WHERE over `SNAPSHOT '<root>'`,
  * a join's pushed-down equality) prunes the scheduled file list through
  * the table's stats/Bloom sidecars automatically. [[PruningFileIndex.dirKeep]]
  * is the one per-file skipping verdict: reads use it here, predicate DML
  * discovery (`BucketedSnapshotTable.statsCandidates`) over the sidecars'
  * own file lists. On a 100 TB table the planner lists O(matching files),
  * never O(table).
  *
  * `keep` receives the pushed data filters and returns a predicate over
  * NORMALIZED (scheme-less) file paths; it must be a superset guarantee —
  * the row-level filter still runs on top. With no pushed filters every
  * file is listed (a full scan is a full scan).
  *
  * Hive-partitioned snapshots (r11): `groups` carries one entry per
  * partition-value tuple and `partitionSchema` its typed layout — Catalyst
  * then routes partition-column predicates into `listFiles` as
  * `partitionFilters`, evaluated here against each group's value row
  * BEFORE the sidecar keep runs, so directory pruning and stats/Bloom
  * skipping compose: `WHERE p = 7 AND d > x` schedules only partition 7's
  * files whose stats admit `d > x`.
  */
private[graft] final class PruningFileIndex(
    groups: Seq[(InternalRow, Seq[FileStatus])],
    override val partitionSchema: StructType,
    keep: Seq[Expression] => String => Boolean) extends FileIndex {

  def this(files: Seq[FileStatus], keep: Seq[Expression] => String => Boolean) =
    this(Seq((InternalRow.empty, files)), StructType(Nil), keep)

  private def norm(p: Path): String = p.toUri.getPath

  private def allFiles: Seq[FileStatus] = groups.flatMap(_._2)

  override def rootPaths: Seq[Path] = allFiles.map(_.getPath.getParent).distinct

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // hive-style partition pruning first: evaluate the pushed partition
    // filters against each group's partition-value row (the standard
    // PartitioningAwareFileIndex binding — by name into our own schema)
    val prunedGroups =
      if (partitionFilters.isEmpty || partitionSchema.isEmpty) groups
      else {
        import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Predicate}
        val bound = Predicate.createInterpreted(partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = partitionSchema.indexWhere(_.name == a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
        bound.initialize(0)
        groups.filter { case (row, _) => bound.eval(row) }
      }
    // then stats/Bloom data skipping within the surviving partitions
    val k: Option[String => Boolean] =
      if (dataFilters.isEmpty) None else Some(keep(dataFilters))
    prunedGroups.map { case (row, fs) =>
      val kept = k match {
        case None     => fs
        case Some(kp) => fs.filter(f => kp(norm(f.getPath)))
      }
      PartitionDirectory(row, kept.map(FileStatusWithMetadata(_, Map.empty)))
    }
  }

  override def inputFiles: Array[String] = allFiles.map(_.getPath.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = allFiles.map(_.getLen).sum
}

private[graft] object PruningFileIndex {

  import BucketedSnapshotTable.PointSet
  private type NumB = Map[String, (Double, Double)]
  private type StrB = Map[String, (Option[String], Option[String])]
  private type PtB  = Map[String, PointSet]

  private def norm(p: String): String = new Path(p).toUri.getPath

  /** Wrap `files` (one immutable committed snapshot, schema `schema`) as a
    * DataFrame whose parquet scan lists files through [[PruningFileIndex]].
    * Plain vectorized parquet relation otherwise — pushdown, column
    * pruning and whole-stage codegen all intact. */
  def relation(spark: SparkSession, files: Seq[FileStatus], schema: StructType,
      keep: Seq[Expression] => String => Boolean): DataFrame = {
    val rel = HadoopFsRelation(
      new PruningFileIndex(files, keep),
      partitionSchema = StructType(Nil),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
    org.apache.spark.sql.GraftColumnBridge.ofRows(spark, LogicalRelation(rel, false))
  }

  /** Partition-aware variant: `groups` = (partition-value row, files) per
    * distinct partition tuple, `partSchema` their typed layout,
    * `dataSchema` the FILE schema (partition columns excluded — they live
    * only in directory names). The relation's output is data columns then
    * partition columns, exactly like Spark's own partitioned parquet
    * read. */
  def partitionedRelation(spark: SparkSession,
      groups: Seq[(InternalRow, Seq[FileStatus])],
      partSchema: StructType, dataSchema: StructType,
      keep: Seq[Expression] => String => Boolean): DataFrame = {
    val rel = HadoopFsRelation(
      new PruningFileIndex(groups, partSchema, keep),
      partitionSchema = partSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
    org.apache.spark.sql.GraftColumnBridge.ofRows(spark, LogicalRelation(rel, false))
  }

  /** Reverse of Spark's `escapePathName` (`%xx` hex escapes in `k=v`
    * directory segments). */
  def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          Character.digit(s.charAt(i + 1), 16) >= 0 &&
          Character.digit(s.charAt(i + 2), 16) >= 0) {
        sb.append((Character.digit(s.charAt(i + 1), 16) * 16 +
          Character.digit(s.charAt(i + 2), 16)).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private val HiveNull = "__HIVE_DEFAULT_PARTITION__"
  private val DateRe = """\d{4}-\d{2}-\d{2}""".r

  /** Infer ONE partition column's type from every raw directory value —
    * the common subset of Spark's own inference (int, long, double, date,
    * else string), so the relation types match what the per-dir basePath
    * fallback read would produce. */
  def inferPartitionType(values: Iterable[String])
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    val vs = values.filterNot(_ == HiveNull)
    if (vs.isEmpty) StringType
    else if (vs.forall(_.toIntOption.isDefined)) IntegerType
    else if (vs.forall(_.toLongOption.isDefined)) LongType
    else if (vs.forall(_.toDoubleOption.isDefined)) DoubleType
    else if (vs.forall(v => DateRe.matches(v) &&
      scala.util.Try(java.time.LocalDate.parse(v)).isSuccess)) DateType
    else StringType
  }

  /** A raw directory value as the INTERNAL representation of `dt` (what a
    * `PartitionDirectory` row must hold). */
  def internalPartitionValue(raw: String,
      dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    if (raw == HiveNull) null
    else dt match {
      case IntegerType => raw.toInt
      case LongType    => raw.toLong
      case DoubleType  => raw.toDouble
      case DateType    => java.time.LocalDate.parse(raw).toEpochDay.toInt
      case _ => org.apache.spark.unsafe.types.UTF8String.fromString(raw)
    }
  }

  /** Union-by-name schema across representative files (one per immutable
    * write job — files of one job share a schema). First-seen type wins
    * like the manifest union read; None when two representatives DISAGREE
    * on a column's type — such evolved tables need the cast-aligned union
    * read, not a single-schema parquet relation (the caller falls back). */
  /** Footer-schema memo for REPRESENTATIVE files: committed data files
    * are immutable (vacuum deletes whole dirs, never rewrites bytes), so
    * a rep's schema never changes — repeated planning over the same
    * version dirs reads each footer ONCE per JVM, not once per call
    * (the plain-table twin of the bucketed manifest-recorded schemas). */
  private val repSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private def repSchema(spark: SparkSession, rep: String): StructType = {
    val hit = repSchemaCache.get(rep)
    if (hit != null) hit
    else {
      val s = spark.read.parquet(rep).schema
      if (repSchemaCache.size > 4096) repSchemaCache.clear() // crude bound
      repSchemaCache.put(rep, s)
      s
    }
  }

  def unionSchema(spark: SparkSession, reps: Seq[String]): Option[StructType] =
    unionSchemaOf(reps.map(repSchema(spark, _)))

  /** Same union over ALREADY-KNOWN per-dir schemas (r14: the manifest
    * records them at commit, so planning does no footer IO). */
  def unionSchemaOf(schemas: Seq[StructType]): Option[StructType] = {
    val fields = scala.collection.mutable.LinkedHashMap
      .empty[String, org.apache.spark.sql.types.DataType]
    schemas.foreach { s =>
      for (fld <- s) fields.get(fld.name) match {
        case None => fields(fld.name) = fld.dataType
        case Some(dt) => if (dt != fld.dataType) return None
      }
    }
    Some(StructType(fields.toSeq.map { case (n, dt) =>
      org.apache.spark.sql.types.StructField(n, dt, nullable = true)
    }))
  }

  /** Keep-predicate (over normalized paths) for ONE immutable dir's
    * sidecars under the extracted constraints: range stats verdicts per
    * listed file, Bloom membership per point-constrained column (all
    * columns share `bloom`'s one read of the dir's index), all
    * conjoined. Files the sidecars do not list are ALWAYS kept, as is
    * everything when no usable metadata exists (None) — superset
    * guarantee, the row filter runs regardless. */
  def dirKeep(statsLines: Option[Vector[String]], bloom: BloomIndex.Probe,
      nB: NumB, sB: StrB, pS: PtB): Option[String => Boolean] = {
    val rangeKeep: Option[String => Boolean] =
      if (nB.isEmpty && sB.isEmpty) None
      else statsLines.map { lines =>
        val verdict: Map[String, Boolean] = lines.map { l =>
          val parts = l.split("\t")
          val ents = parts.drop(1)
          val pass = nB.forall { case (c, (lo, hi)) =>
            ents.find(_.startsWith(s"$c:n:")) match {
              case None => true
              case Some(s) =>
                val Array(_, _, mn, mx) = s.split(":", 4)
                !(mx.toDouble < lo || mn.toDouble > hi)
            }
          } && sB.forall { case (c, (lo, hi)) =>
            ents.find(_.startsWith(s"$c:s:")) match {
              case None => true
              case Some(s) => StatsManifest.stringEntryIntersects(s.split(":", 5), lo, hi)
            }
          }
          norm(parts(0)) -> pass
        }.toMap
        p => verdict.getOrElse(p, true)
      }
    val bloomKeep: Option[String => Boolean] = {
      lazy val listedN = bloom.indexedFiles.map(_.map(norm))
      val perCol: Seq[String => Boolean] = pS.toSeq.flatMap { case (c, pts) =>
        for {
          listed <- listedN
          pass <- bloom.filesMightContainAny(c, pts.longs, pts.strs, pts.dbls)
        } yield {
          val passN = pass.map(norm).toSet
          (p: String) => !listed.contains(p) || passN(p)
        }
      }
      if (perCol.isEmpty) None else Some(p => perCol.forall(_(p)))
    }
    (rangeKeep, bloomKeep) match {
      case (Some(a), Some(b)) => Some(p => a(p) && b(p))
      case (a, b)             => a.orElse(b)
    }
  }
}
