package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._

import graft.tables.SnapshotTable

/** Maintenance-DDL + DML parser extension — the `injectParser` surface of
  * [[graft.GraftExtensions]] (SURVEY §4 extension point (c); the Delta
  * `OPTIMIZE` / `VACUUM` / `DESCRIBE HISTORY` / `MERGE` / `UPDATE` /
  * `DELETE` / time-travel SQL forms, which the reference's maintenance
  * notebooks run as cell SQL). Statements over [[SnapshotTable]] paths:
  *
  * {{{
  *   OPTIMIZE '<table root>' [TARGET <bytes>] [CLUSTER BY (c…)]
  *     [ZORDER BY (c…)]      -- multi-dimensional clustering rewrite
  *   VACUUM '<table root>' [KEEP <n>]
  *   CREATE MATERIALIZED VIEW '<mv>' ON '<src>' [KEYS (k…)] GROUP BY (g…)
  *     AGG (count(*)|count(c)|sum(c)|avg(c)|min(c)|max(c) AS alias, …)
  *     [WITH RESCAN] [INTO <n> BUCKETS]  -- min/max need WITH RESCAN
  *   REFRESH MATERIALIZED VIEW '<mv>'     -- O(changed groups), exactly-once
  *   MATERIALIZED VIEW '<mv>'             -- query the maintained rollup
  *   DESCRIBE MATERIALIZED VIEW '<mv>'    -- spec + last applied version
  *   DESCRIBE HISTORY '<table root>'
  *   DESCRIBE DETAIL '<table root>'
  *   MERGE INTO '<table root>' USING <view> ON KEYS (k1[, k2…])
  *     SEQUENCE BY <col> [SCD TYPE 1|2] [DELETE WHEN <predicate>]
  *   UPDATE '<table root>' SET c = <expr>[, …] WHERE <predicate>
  *   DELETE FROM '<table root>' WHERE <predicate>
  *   INSERT INTO '<table root>' FROM <view> [EVOLVE]
  *   SNAPSHOT '<table root>' [VERSION AS OF <n> | TIMESTAMP AS OF '<ts>']
  *     [WHERE <predicate>]   -- file-skipping read: stats+Bloom sidecars
  *                           -- prune the scan's file list at planning time
  *   CHANGES '<table root>' FROM <v> TO <v> [ON KEYS (…)] [WITH COLUMNS]
  *     [WITH PREIMAGE]   -- updates as update_preimage + update_postimage
  *   CHANGES '<table root>' SINCE TIMESTAMP '<ts>' [ON KEYS (…)] [WITH COLUMNS]
  *     [WITH PREIMAGE]
  *   CREATE TABLE '<root>' [BUCKETED BY (k…) INTO <n> BUCKETS SEQUENCE BY c]
  *     [PARTITIONED BY (p…)] [STATS (s…)] [BLOOM (b…)] AS <query>
  *   ANALYZE '<root>' [STATS (c1[, c2…])] [BLOOM (c1[, c2…])] [INCREMENTAL]
  *   APPLY CHANGES INTO '<dst>' FROM '<src>' USING CHECKPOINT '<ck>'
  *     AS <id> [ON KEYS (…)] [INTO <n> BUCKETS]
  * }}}
  *
  * MERGE is DLT auto-CDC semantics — SCD TYPE 1 (default,
  * [[graft.cdc.ScdMerge.scd1Upsert]]: sequence-ordered last-write-wins
  * per key) or SCD TYPE 2 ([[graft.cdc.ScdMerge.scd2Merge]]: full
  * `__START_AT`/`__END_AT` version chains); `DELETE WHEN` rows are
  * sequence-ordered tombstones in either type. UPDATE and DELETE FROM are
  * copy-on-write DML: on a plain snapshot root UPDATE commits a full
  * rewritten snapshot (carrying the table's hive partitioning and stats
  * manifest forward) and DELETE appends key tombstones (O(matched rows));
  * on a BUCKETED root ([[graft.tables.BucketedSnapshotTable]], detected by
  * its live manifest's header) both rewrite ONLY the buckets containing matches —
  * the O(affected)/100 TB path. All SET expressions evaluate against the
  * PRE-update row (simultaneous assignment: `SET a = b, b = a` swaps).
  * SNAPSHOT is a query (time travel when VERSION AS OF is given) returning
  * the VISIBLE table: persisted `__DELETED` tombstone state rows are
  * filtered and the bookkeeping column dropped. Everything else delegates
  * verbatim to Spark's parser, so the extension is purely additive.
  * Commands execute driver-side through the same table code the
  * programmatic API uses — the parser is syntax, not a second
  * implementation.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  private val Optimize =
    """(?is)\s*OPTIMIZE\s+'([^']+)'(?:\s+TARGET\s+(\d+))?(?:\s+CLUSTER\s+BY\s*\(([^)]+)\))?(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*""".r
  private val Vacuum =
    """(?is)\s*VACUUM\s+'([^']+)'(?:\s+KEEP\s+(\d+))?\s*;?\s*""".r
  private val History =
    """(?is)\s*DESCRIBE\s+HISTORY\s+'([^']+)'\s*;?\s*""".r
  private val Detail =
    """(?is)\s*DESCRIBE\s+DETAIL\s+'([^']+)'\s*;?\s*""".r
  private val Merge =
    """(?is)\s*MERGE\s+INTO\s+'([^']+)'\s+USING\s+([\w.]+)\s+ON\s+KEYS\s*\(([^)]+)\)\s+SEQUENCE\s+BY\s+(\w+)(?:\s+SCD\s+TYPE\s+([12]))?(?:\s+DELETE\s+WHEN\s+(.+?))?\s*;?\s*""".r
  private val Update =
    """(?is)\s*UPDATE\s+'([^']+)'\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*""".r
  private val Delete =
    """(?is)\s*DELETE\s+FROM\s+'([^']+)'\s+WHERE\s+(.+?)\s*;?\s*""".r
  private val Snapshot =
    """(?is)\s*SNAPSHOT\s+'([^']+)'(?:\s+VERSION\s+AS\s+OF\s+(\d+)|\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?(?:\s+WHERE\s+(.+?))?\s*;?\s*""".r
  private val Insert =
    """(?is)\s*INSERT\s+INTO\s+'([^']+)'\s+FROM\s+([\w.]+)(\s+EVOLVE)?\s*;?\s*""".r
  private val Changes =
    """(?is)\s*CHANGES\s+'([^']+)'\s+FROM\s+(\d+)\s+TO\s+(\d+)(?:\s+ON\s+KEYS\s*\(([^)]+)\))?(\s+WITH\s+COLUMNS)?(\s+WITH\s+PREIMAGE)?\s*;?\s*""".r
  private val ChangesSince =
    """(?is)\s*CHANGES\s+'([^']+)'\s+SINCE\s+TIMESTAMP\s+'([^']+)'(?:\s+ON\s+KEYS\s*\(([^)]+)\))?(\s+WITH\s+COLUMNS)?(\s+WITH\s+PREIMAGE)?\s*;?\s*""".r
  private val Restore =
    """(?is)\s*RESTORE\s+'([^']+)'\s+TO\s+VERSION\s+(\d+)\s*;?\s*""".r
  private val ApplyChanges =
    """(?is)\s*APPLY\s+CHANGES\s+INTO\s+'([^']+)'\s+FROM\s+'([^']+)'\s+USING\s+CHECKPOINT\s+'([^']+)'\s+AS\s+(\w+)(?:\s+ON\s+KEYS\s*\(([^)]+)\))?(?:\s+INTO\s+(\d+)\s+BUCKETS)?\s*;?\s*""".r
  private val CreateTableAs =
    """(?is)\s*CREATE\s+TABLE\s+'([^']+)'(?:\s+BUCKETED\s+BY\s*\(([^)]+)\)\s+INTO\s+(\d+)\s+BUCKETS\s+SEQUENCE\s+BY\s+(\w+))?(?:\s+PARTITIONED\s+BY\s*\(([^)]+)\))?(?:\s+STATS\s*\(([^)]+)\))?(?:\s+BLOOM\s*\(([^)]+)\))?\s+AS\s+(.+?)\s*;?\s*""".r
  private val Analyze =
    """(?is)\s*ANALYZE\s+'([^']+)'(?:\s+STATS\s*\(([^)]+)\))?(?:\s+BLOOM\s*\(([^)]+)\))?(\s+INCREMENTAL)?\s*;?\s*""".r
  // GROUP BY captures non-greedily to `) AGG` so DERIVED dim items with
  // nested parens parse: GROUP BY (g, month(o_orderdate) AS m) AGG (…)
  private val CreateMv =
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+'([^']+)'\s+ON\s+'([^']+)'(?:\s+KEYS\s*\(([^)]+)\))?\s+GROUP\s+BY\s*\((.+?)\)\s+AGG\s*\((.+?)\)(\s+WITH\s+RESCAN)?(?:\s+INTO\s+(\d+)\s+BUCKETS)?\s*;?\s*""".r
  private val CreateMjv =
    """(?is)\s*CREATE\s+MATERIALIZED\s+JOIN\s+VIEW\s+'([^']+)'\s+FACT\s+'([^']+)'(?:\s+KEYS\s*\(([^)]+)\))?\s+DIM\s+'([^']+)'(?:\s+KEYS\s*\(([^)]+)\))?\s+ON\s*\(([^)]+)\)\s+GROUP\s+BY\s*\((.+?)\)\s+AGG\s*\((.+?)\)(?:\s+INTO\s+(\d+)\s+BUCKETS)?\s*;?\s*""".r
  private val RefreshMjv =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+JOIN\s+VIEW\s+'([^']+)'\s*;?\s*""".r
  private val DescribeMjv =
    """(?is)\s*DESCRIBE\s+MATERIALIZED\s+JOIN\s+VIEW\s+'([^']+)'\s*;?\s*""".r
  private val CreateMsv =
    """(?is)\s*CREATE\s+MATERIALIZED\s+STAR\s+VIEW\s+'([^']+)'\s+FACT\s+'([^']+)'(?:\s+KEYS\s*\(([^)]+)\))?((?:\s+DIM\s+'[^']+'(?:\s+KEYS\s*\([^)]+\))?\s+ON\s*\([^)]+\))+)\s+GROUP\s+BY\s*\((.+?)\)\s+AGG\s*\((.+?)\)(?:\s+INTO\s+(\d+)\s+BUCKETS)?\s*;?\s*""".r
  private val MsvDimItem =
    """(?is)DIM\s+'([^']+)'(?:\s+KEYS\s*\(([^)]+)\))?\s+ON\s*\(([^)]+)\)""".r
  private val RefreshMsv =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+STAR\s+VIEW\s+'([^']+)'\s*;?\s*""".r
  private val DescribeMsv =
    """(?is)\s*DESCRIBE\s+MATERIALIZED\s+STAR\s+VIEW\s+'([^']+)'\s*;?\s*""".r
  private val DescribeMv =
    """(?is)\s*DESCRIBE\s+MATERIALIZED\s+VIEW\s+'([^']+)'\s*;?\s*""".r
  private val RefreshMv =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+'([^']+)'\s*;?\s*""".r
  private val QueryMv =
    """(?is)\s*MATERIALIZED\s+VIEW\s+'([^']+)'\s*;?\s*""".r
  private val AlterMvRewrite =
    """(?is)\s*ALTER\s+MATERIALIZED\s+(?:(?:JOIN|STAR)\s+)?VIEW\s+'([^']+)'\s+(ENABLE|DISABLE)\s+REWRITE\s*;?\s*""".r
  private val VacuumMv =
    """(?is)\s*VACUUM\s+MATERIALIZED\s+(?:(?:JOIN|STAR)\s+)?VIEW\s+'([^']+)'(?:\s+KEEP\s+(\d+))?\s*;?\s*""".r
  private val AddConstraint =
    """(?is)\s*ALTER\s+TABLE\s+'([^']+)'\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*;?\s*""".r
  private val DropConstraint =
    """(?is)\s*ALTER\s+TABLE\s+'([^']+)'\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*""".r

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case Optimize(path, target, cluster, zorder) =>
      OptimizeSnapshotCommand(path,
        Option(target).map(_.toLong).getOrElse(128L << 20),
        Option(cluster).toSeq
          .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)),
        Option(zorder).toSeq
          .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)))
    case Vacuum(path, keep) =>
      VacuumSnapshotCommand(path, Option(keep).map(_.toInt).getOrElse(2))
    case History(path) =>
      DescribeHistoryCommand(path)
    case Detail(path) =>
      DescribeDetailCommand(path)
    case Merge(path, view, keys, seqCol, scdType, deleteWhen) =>
      MergeSnapshotCommand(path, view,
        keys.split(",").map(_.trim).filter(_.nonEmpty).toSeq, seqCol,
        Option(deleteWhen).map(_.trim),
        Option(scdType).map(_.trim.toInt).getOrElse(1))
    case Update(path, setList, pred) =>
      UpdateSnapshotCommand(path, splitTopLevel(setList).map { a =>
        val Array(c, e) = a.split("=", 2)
        (c.trim, e.trim)
      }, pred.trim)
    case Delete(path, pred) =>
      DeleteSnapshotCommand(path, pred.trim)
    case Insert(path, view, evolve) =>
      InsertSnapshotCommand(path, view, evolve != null)
    case Restore(path, version) =>
      RestoreSnapshotCommand(path, version.toInt)
    case CreateTableAs(path, bKeys, nBuckets, seqCol, partCols, stats, bloom, query) =>
      def csv(s: String) = Option(s).toSeq
        .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      CreateTableAsCommand(path, csv(bKeys),
        Option(nBuckets).map(_.toInt), Option(seqCol),
        csv(partCols), csv(stats), query.trim, csv(bloom))
    case Analyze(path, cols, bloomCols, incr) =>
      def csvOf(s: String) = Option(s).toSeq
        .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      AnalyzeSnapshotCommand(path, csvOf(cols), csvOf(bloomCols), incr != null)
    case ApplyChanges(dst, src, ck, consumer, onKeys, buckets) =>
      ApplyChangesCommand(dst, src, ck, consumer,
        Option(onKeys).toSeq
          .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)),
        Option(buckets).map(_.toInt))
    case AddConstraint(path, name, pred) =>
      AlterConstraintCommand(path, name, Some(pred.trim))
    case DropConstraint(path, name) =>
      AlterConstraintCommand(path, name, None)
    case Snapshot(path, version, asOfTs, where) =>
      // a QUERY, not a command: time-travel read as a logical plan. The
      // VISIBLE table: SCD tombstone state rows (persisted for cross-batch
      // out-of-order protection) are filtered and __DELETED dropped —
      // scd1Current is a pass-through for tables without delete flows.
      // The relation lists its files through the PRUNING file index
      // (readIndexed), so the WHERE here — and any predicate a wrapping
      // query pushes down later — skips files via the table's stats/Bloom
      // sidecars at planning time, not just rows at execution time.
      val spark = SparkSession.active
      val tsMillis = Option(asOfTs).map(parseTsMillis)
      val raw = graft.tables.BucketedSnapshotTable.layoutOf(spark, path) match {
        case Some(l) =>
          val bt = DmlRouting.table(spark, path, l)
          val ver = Option(version).map(_.toInt)
            .orElse(tsMillis.map(bt.versionAt(spark, _)))
          bt.readIndexed(spark, ver)
        case None =>
          val t = new SnapshotTable(path)
          val ver = Option(version).map(_.toInt)
            .orElse(tsMillis.map(t.versionAt(spark, _)))
          t.readIndexed(spark, ver)
      }
      val visible = graft.cdc.ScdMerge.scd1Current(raw)
      Option(where).map(w =>
          visible.filter(org.apache.spark.sql.functions.expr(w.trim)))
        .getOrElse(visible)
        .queryExecution.logical
    case CreateMjv(mv, fact, factKeys, dim, dimKeys, joinKeys, groupBy, aggList, buckets) =>
      def split(s: String) = Option(s).toSeq
        .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      val items = GraftSqlParser.parseGroupItems(groupBy,
        "CREATE MATERIALIZED JOIN VIEW")
      CreateMaterializedJoinViewCommand(mv, fact, split(factKeys), dim,
        split(dimKeys), split(joinKeys), items.map(_._1),
        GraftSqlParser.parseAggList(aggList), Option(buckets).map(_.toInt),
        derived = items.collect { case (n, Some(e)) => (n, e) })
    case RefreshMjv(mv) =>
      RefreshMaterializedJoinViewCommand(mv)
    case DescribeMjv(mv) =>
      DescribeMaterializedJoinViewCommand(mv)
    case CreateMsv(mv, fact, factKeys, dimBlob, groupBy, aggList, buckets) =>
      def split(s: String) = Option(s).toSeq
        .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      val dims = MsvDimItem.findAllMatchIn(dimBlob).map { m =>
        graft.tables.MaterializedStarAggView.Dim(
          m.group(1), split(m.group(2)), split(m.group(3)))
      }.toSeq
      val items = GraftSqlParser.parseGroupItems(groupBy,
        "CREATE MATERIALIZED STAR VIEW")
      CreateMaterializedStarViewCommand(mv, fact, split(factKeys), dims,
        items.map(_._1), GraftSqlParser.parseAggList(aggList),
        Option(buckets).map(_.toInt),
        derived = items.collect { case (n, Some(e)) => (n, e) })
    case RefreshMsv(mv) =>
      RefreshMaterializedStarViewCommand(mv)
    case DescribeMsv(mv) =>
      DescribeMaterializedStarViewCommand(mv)
    case CreateMv(mv, src, keysOpt, groupBy, aggList, rescan, buckets) =>
      // group items: plain column names, or `expr AS alias` derived dims
      val items = GraftSqlParser.parseGroupItems(groupBy,
        "CREATE MATERIALIZED VIEW")
      CreateMaterializedViewCommand(mv, src,
        Option(keysOpt).toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)),
        items.map(_._1),
        GraftSqlParser.parseAggList(aggList),
        Option(buckets).map(_.toInt), rescan != null,
        derived = items.collect { case (n, Some(e)) => (n, e) })
    case DescribeMv(mv) =>
      DescribeMaterializedViewCommand(mv)
    case RefreshMv(mv) =>
      RefreshMaterializedViewCommand(mv)
    case AlterMvRewrite(mv, action) =>
      AlterMaterializedViewRewriteCommand(mv, action.equalsIgnoreCase("ENABLE"))
    case VacuumMv(mv, keep) =>
      VacuumMaterializedViewCommand(mv, Option(keep).map(_.toInt).getOrElse(2))
    case QueryMv(mv) =>
      // one query form for every view kind — dispatch on the spec file
      val sp = SparkSession.active
      graft.tables.openView(sp, mv).read(sp).queryExecution.logical
    case Changes(path, fromV, toV, keysOpt, withCols, withPre) =>
      changesPlan(path, Right((fromV.toInt, toV.toInt)), Option(keysOpt),
        withCols != null, withPre != null)
    case ChangesSince(path, ts, keysOpt, withCols, withPre) =>
      changesPlan(path, Left(parseTsMillis(ts)), Option(keysOpt),
        withCols != null, withPre != null)
    case _ => delegate.parsePlan(sqlText)
  }

  /** The CHANGES query (Delta `table_changes` analog): the derived change
    * feed between two committed versions, or — `SINCE TIMESTAMP` — from
    * the newest version committed at or before the instant to the live
    * version (an empty, schema-correct feed when nothing changed since).
    * Bucketed roots take their keys from the manifest header and prune to
    * the buckets whose CONTENT changed — CDF IO is O(changed buckets) on
    * the 100 TB format; plain roots diff the two snapshots and REQUIRE
    * ON KEYS. */
  private def changesPlan(path: String, window: Either[Long, (Int, Int)],
      askedKeys0: Option[String], attribution: Boolean,
      preimage: Boolean): LogicalPlan = {
    val spark = SparkSession.active
    val askedKeys = askedKeys0
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def emptyFeed(visible: org.apache.spark.sql.DataFrame) = {
      val base = visible.limit(0)
        .withColumn("_change_type", org.apache.spark.sql.functions.lit(""))
      if (attribution)
        base.withColumn("_changed_columns", org.apache.spark.sql.functions.lit(""))
      else base
    }
    val df = DmlRouting.bucketed(spark, path) match {
      case Some(l) =>
        (askedKeys, l.keys) match {
          case (Some(a), Some(stored)) => require(a == stored,
            s"CHANGES $path: ON KEYS (${a.mkString(",")}) does not match the " +
              s"table's bucket keys (${stored.mkString(",")})")
          case _ => ()
        }
        val keys = l.keys.orElse(askedKeys).getOrElse(throw new IllegalArgumentException(
          s"CHANGES $path: manifest records no bucket keys — give ON KEYS (…)"))
        val bt = new graft.tables.BucketedSnapshotTable(path, l.numBuckets, keys)
        val (fromV, toV) = window match {
          case Right(w) => w
          case Left(ts) => (bt.versionAt(spark, ts),
            bt.currentVersion(spark).getOrElse(0))
        }
        if (fromV >= toV)
          emptyFeed(graft.cdc.ScdMerge.scd1Current(bt.read(spark)))
        else bt.changes(spark, fromV, toV, attribution, preimage)
      case None =>
        val keys = askedKeys.getOrElse(throw new IllegalArgumentException(
          s"CHANGES $path: plain snapshot roots need ON KEYS (…) — the table " +
            "format does not record business keys"))
        val t = new SnapshotTable(path)
        val (fromV, toV) = window match {
          case Right(w) => w
          case Left(ts) => (t.versionAt(spark, ts),
            t.currentVersion(spark).getOrElse(0))
        }
        if (fromV >= toV)
          emptyFeed(graft.cdc.ScdMerge.scd1Current(t.read(spark)))
        else t.changes(spark, keys, fromV, toV, attribution, preimage)
    }
    df.queryExecution.logical
  }

  /** `TIMESTAMP AS OF` literal → epoch millis (UTC when no zone given):
    * `yyyy-MM-dd HH:mm:ss[.SSS]`, `yyyy-MM-dd`, or full ISO-8601. */
  private def parseTsMillis(s: String): Long = {
    val t = s.trim
    try java.time.Instant.parse(t).toEpochMilli
    catch { case _: Exception =>
      try java.time.LocalDateTime
        .parse(t.replace(' ', 'T'))
        .atZone(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
      catch { case _: Exception =>
        java.time.LocalDate.parse(t).atStartOfDay(java.time.ZoneOffset.UTC)
          .toInstant.toEpochMilli
      }
    }
  }

  /** Split on commas at paren/quote depth 0 — `SET a = f(x, y), b = 2`
    * must not split inside the call. */
  private def splitTopLevel(s: String): Seq[String] =
    GraftSqlParser.splitTopLevel(s)

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
}

/** `OPTIMIZE '<root>' [TARGET <bytes>]` → [[SnapshotTable.optimizeCompact]]
  * (plain roots: bin-pack small files, O(small files) IO) or
  * [[graft.tables.BucketedSnapshotTable.compact]] (bucketed roots: unify
  * each bucket's incremental batch files; TARGET is not applicable —
  * bucket granularity is the layout). Returns the new live version. */
case class OptimizeSnapshotCommand(path: String, targetBytes: Long,
    clusterBy: Seq[String] = Nil, zorderBy: Seq[String] = Nil)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "OPTIMIZE: CLUSTER BY and ZORDER BY are mutually exclusive")
    DmlRouting.bucketed(spark, path) match {
      case Some(l) =>
        require(zorderBy.isEmpty,
          s"OPTIMIZE $path: ZORDER BY is a plain-snapshot rewrite; the " +
            "bucketed format clusters within buckets via CLUSTER BY")
        Seq(Row(DmlRouting.table(spark, path, l).compact(spark, clusterBy)))
      case None if zorderBy.nonEmpty =>
        Seq(Row(new SnapshotTable(path)
          .zorderRewrite(spark, zorderBy, targetBytes)))
      case None =>
        Seq(Row(new SnapshotTable(path)
          .optimizeCompact(spark, targetBytes, clusterBy)))
    }
  }
}

/** `VACUUM '<root>' [KEEP <n>]` → [[SnapshotTable.vacuum]] (plain) or
  * [[graft.tables.BucketedSnapshotTable.vacuum]] (bucketed) — both keep
  * the newest `n` versions readable for time travel and reap batch
  * dirs/staging orphans unreachable from them. */
case class VacuumSnapshotCommand(path: String, keep: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("kept_versions", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    DmlRouting.bucketed(spark, path) match {
      case Some(l) => DmlRouting.table(spark, path, l).vacuum(spark, keep)
      case None    => new SnapshotTable(path).vacuum(spark, keep)
    }
    Seq(Row(keep))
  }
}

/** Shared root-detection for the DML commands: a root whose live manifest
  * is a bucketed one is a [[graft.tables.BucketedSnapshotTable]] and DML
  * routes to its O(affected buckets) rewrite paths; anything else is a
  * plain [[SnapshotTable]]. Header parsing (and its corrupt-manifest
  * errors) live in [[graft.tables.BucketedSnapshotTable.layoutOf]]. */
private[sql] object DmlRouting {
  def bucketed(spark: SparkSession, path: String)
      : Option[graft.tables.BucketedSnapshotTable.Layout] =
    graft.tables.BucketedSnapshotTable.layoutOf(spark, path)

  def table(spark: SparkSession, path: String,
      l: graft.tables.BucketedSnapshotTable.Layout,
      keys: Seq[String] = Nil): graft.tables.BucketedSnapshotTable =
    new graft.tables.BucketedSnapshotTable(path, l.numBuckets,
      l.keys.getOrElse(keys), l.statsCols, l.bloomCols)

  def warnNoKeys(path: String, what: String): Unit =
    org.apache.log4j.Logger.getLogger(getClass).warn(
      s"$what $path: manifest records no bucket keys (pre-r7 table) — " +
        "key validation skipped; rewrite the table to record its keys")
}

/** `MERGE INTO '<root>' USING <view> ON KEYS (…) SEQUENCE BY <col>
  * [SCD TYPE 1|2] [DELETE WHEN <pred>]` → the auto-CDC merge algebra over
  * the live snapshot + atomic commit: [[graft.cdc.ScdMerge.scd1Upsert]]
  * (type 1, default) or [[graft.cdc.ScdMerge.scd2Merge]] (type 2, full
  * version chains). A root with a bucketed live manifest (a
  * [[graft.tables.BucketedSnapshotTable]]) routes to the bucketed merge
  * instead — affected-buckets-only rewrite, with the layout read from the
  * manifest header and ON KEYS validated against the recorded bucket keys
  * (a mismatch would silently mis-bucket; a pre-r7 manifest without the
  * keys header logs a warning). Returns (version, n_rows) where n_rows
  * counts VISIBLE rows (tombstone state rows excluded). */
case class MergeSnapshotCommand(path: String, view: String, keys: Seq[String],
    seqCol: String, deleteWhen: Option[String], scdType: Int = 1)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("n_rows", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val updates = spark.table(view)
    val del = deleteWhen.map(org.apache.spark.sql.functions.expr)
    DmlRouting.bucketed(spark, path) match {
      case Some(l) =>
        val bt = DmlRouting.table(spark, path, l, keys)
        // keys recorded in the manifest header (since r7) must match ON
        // KEYS — merging with different keys would silently mis-bucket
        l.keys match {
          case Some(stored) =>
            require(stored == keys,
              s"MERGE INTO $path: ON KEYS (${keys.mkString(",")}) does not match " +
                s"the table's bucket keys (${stored.mkString(",")})")
          case None => DmlRouting.warnNoKeys(path, "MERGE INTO")
        }
        if (scdType == 2) bt.scd2Merge(spark, updates, seqCol, Nil, del)
        else bt.scd1Merge(spark, updates, seqCol, Nil, del)
        Seq(Row(bt.currentVersion(spark).getOrElse(0),
          graft.cdc.ScdMerge.scd1Current(bt.read(spark)).count()))
      case None =>
        val t = new SnapshotTable(path)
        val merged =
          if (scdType == 2) graft.cdc.ScdMerge.scd2Merge(
            t.readOption(spark), updates, keys, seqCol, Nil, Nil, del)
          else graft.cdc.ScdMerge.scd1Upsert(
            t.readOption(spark), updates, keys, seqCol, Nil, del)
        val v = t.write(spark, merged)
        Seq(Row(v, graft.cdc.ScdMerge.scd1Current(t.read(spark)).count()))
    }
  }
}

/** `UPDATE '<root>' SET … WHERE <pred>` → copy-on-write: matched rows
  * rewritten atomically (the Delta UPDATE shape — readers flip between
  * complete versions, never see a half-updated table). All SET right-hand
  * sides evaluate against the PRE-update row in one projection
  * (simultaneous assignment — `SET a = b, b = a` swaps, SQL semantics).
  * Plain roots commit a full rewritten snapshot carrying the table's hive
  * partitioning and stats manifest forward; bucketed roots rewrite ONLY
  * the buckets containing matches ([[graft.tables.BucketedSnapshotTable
  * .update]] — the O(affected) path the 100 TB format exists for). */
case class UpdateSnapshotCommand(path: String, sets: Seq[(String, String)],
    pred: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("n_updated", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, expr, when => sqlWhen}
    val p = expr(pred)
    val setExprs = sets.map { case (c, e) => c -> expr(e) }
    DmlRouting.bucketed(spark, path) match {
      case Some(l) =>
        if (l.keys.isEmpty) DmlRouting.warnNoKeys(path, "UPDATE")
        val bt = DmlRouting.table(spark, path, l)
        val (_, n) = bt.update(spark, p, setExprs)
        Seq(Row(bt.currentVersion(spark).getOrElse(0), n))
      case None =>
        val t = new SnapshotTable(path)
        val cur = t.read(spark)
        val n = cur.filter(p).count()
        // one projection over the original row: simultaneous SET semantics
        val updated = cur.select(cur.columns.map { c =>
          setExprs.collectFirst { case (nm, e) if nm == c =>
            sqlWhen(p, e).otherwise(col(c)).as(c)
          }.getOrElse(col(c))
        }: _*)
        // carry the physical layout forward: hive partitioning survives
        // the rewrite (a table property, not one version's); the write
        // indexes the columns the live version records by itself
        val v = t.write(spark, updated, t.partitionColumns(spark))
        Seq(Row(v, n))
    }
  }
}

/** `DELETE FROM '<root>' WHERE <pred>` — plain roots commit a VERSIONED
  * tombstone batch for the matched rows
  * ([[SnapshotTable.deleteKeysVersioned]]): O(matched) IO, no table
  * rewrite (the deletion-vector analog), data files carried by reference
  * into a new version so time travel keeps the rows and CDF windows
  * report the deletes; bucketed roots rewrite only the buckets containing
  * matches ([[graft.tables.BucketedSnapshotTable.delete]]). Returns the
  * number of deleted rows. */
case class DeleteSnapshotCommand(path: String, pred: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("n_deleted", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val p = org.apache.spark.sql.functions.expr(pred)
    DmlRouting.bucketed(spark, path) match {
      case Some(l) =>
        val bt = DmlRouting.table(spark, path, l)
        val (_, n) = bt.delete(spark, p)
        Seq(Row(n))
      case None =>
        val t = new SnapshotTable(path)
        val doomed = t.read(spark).filter(p)
        val n = doomed.count()
        if (n > 0) t.deleteKeysVersioned(spark, doomed)
        Seq(Row(n))
    }
  }
}

/** `INSERT INTO '<root>' FROM <view> [EVOLVE]` → transactional append of
  * the view's rows to a plain snapshot root: O(increment) manifest append
  * (never a snapshot rewrite), constraints checked inline. `EVOLVE`
  * routes through [[SnapshotTable.appendEvolving]] (mergeSchema
  * semantics: new columns join the union schema, absent columns
  * null-fill). A BUCKETED root refuses with a named error — its state is
  * a keyed SCD mapping, so unkeyed appends have no meaning there; use
  * `MERGE INTO … ON KEYS` instead. */
case class InsertSnapshotCommand(path: String, view: String, evolve: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("n_inserted", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    require(DmlRouting.bucketed(spark, path).isEmpty,
      s"INSERT INTO $path: the root is a bucketed SCD table (keyed state) — " +
        "plain appends would bypass the merge algebra; use MERGE INTO … ON KEYS")
    val t = new SnapshotTable(path)
    val rows = spark.table(view)
    val n = rows.count()
    val v = if (evolve) t.appendEvolving(spark, rows) else t.append(spark, rows)
    Seq(Row(v, n))
  }
}

/** `ALTER TABLE '<root>' ADD CONSTRAINT <name> CHECK (<pred>)` /
  * `… DROP CONSTRAINT <name>` → [[SnapshotTable.addConstraint]] (Delta
  * semantics: the existing snapshot is validated first, then every
  * subsequent write is checked inline) / [[SnapshotTable.dropConstraint]].
  * Bucketed roots route to the bucketed table's own constraint store,
  * enforced inline in every merge/DML staging write. */
case class AlterConstraintCommand(path: String, name: String,
    predicate: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("n_constraints", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    DmlRouting.bucketed(spark, path) match {
      case Some(l) =>
        val bt = DmlRouting.table(spark, path, l)
        predicate match {
          case Some(p) => bt.addConstraint(spark, name, p)
          case None    => bt.dropConstraint(spark, name)
        }
        Seq(Row(bt.constraints(spark).size))
      case None =>
        val t = new SnapshotTable(path)
        predicate match {
          case Some(p) => t.addConstraint(spark, name, p)
          case None    => t.dropConstraint(spark, name)
        }
        Seq(Row(t.constraints(spark).size))
    }
}

/** `RESTORE '<root>' TO VERSION <n>` → [[SnapshotTable.restore]]: commit
  * a NEW version with the older content — history only moves forward. */
case class RestoreSnapshotCommand(path: String, version: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(new SnapshotTable(path).restore(spark, version)))
}

/** `DESCRIBE DETAIL '<root>'` (Delta analog): ONE metadata row describing
  * the table's identity and physical layout — format (snapshot/bucketed),
  * live version, bucket count + keys (bucketed), partition + stats
  * columns, active constraint count, and live file count/bytes. All
  * driver-side metadata reads (manifest headers, file listings) — no data
  * scan. */
case class DescribeDetailCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("num_buckets", IntegerType, nullable = true)(),
    AttributeReference("bucket_keys", StringType, nullable = true)(),
    AttributeReference("partition_cols", StringType, nullable = true)(),
    AttributeReference("stats_cols", StringType, nullable = true)(),
    AttributeReference("bloom_cols", StringType, nullable = true)(),
    AttributeReference("n_constraints", IntegerType, nullable = false)(),
    AttributeReference("n_files", LongType, nullable = false)(),
    AttributeReference("bytes", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    def sizeOf(files: Seq[String]): Long = files.map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(hconf).getFileStatus(hp).getLen
    }.sum
    DmlRouting.bucketed(spark, path) match {
      case Some(l) =>
        val bt = DmlRouting.table(spark, path, l)
        val files = bt.read(spark).inputFiles.toSeq
        Seq(Row("bucketed", bt.currentVersion(spark).getOrElse(0),
          l.numBuckets, l.keys.map(_.mkString(",")).orNull, null,
          if (l.statsCols.isEmpty) null else l.statsCols.mkString(","),
          if (l.bloomCols.isEmpty) null else l.bloomCols.mkString(","),
          bt.constraints(spark).size, files.size.toLong, sizeOf(files)))
      case None =>
        val t = new SnapshotTable(path)
        val files = t.read(spark).inputFiles.toSeq
        val parts = t.partitionColumns(spark)
        val (stats, bloom) = t.indexColumns(spark)
        Seq(Row("snapshot", t.currentVersion(spark).getOrElse(0), null, null,
          if (parts.isEmpty) null else parts.mkString(","),
          if (stats.isEmpty) null else stats.mkString(","),
          if (bloom.isEmpty) null else bloom.mkString(","),
          t.constraints(spark).size, files.size.toLong, sizeOf(files)))
    }
  }
}

/** `CREATE TABLE '<root>' [BUCKETED BY (k…) INTO n BUCKETS SEQUENCE BY c]
  * [PARTITIONED BY (p…)] [STATS (s…)] AS <query>` — CTAS for both
  * formats. The bucketed form seeds the 100 TB SCD table from a query:
  * the initial load runs through the same [[graft.cdc.ScdMerge]] algebra
  * every later `MERGE INTO` uses (so the query output must carry the
  * SEQUENCE BY column), and the manifest header records numBuckets /
  * keys / statsCols for path-only consumers. The plain form commits a v1
  * snapshot with optional hive partitioning and a stats manifest.
  * Refuses an existing root (CTAS creates; RESTORE/DML mutate). */
case class CreateTableAsCommand(path: String, bucketKeys: Seq[String],
    numBuckets: Option[Int], seqCol: Option[String],
    partitionCols: Seq[String], statsCols: Seq[String], query: String,
    bloomCols: Seq[String] = Nil)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("n_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    require(DmlRouting.bucketed(spark, path).isEmpty &&
      !new SnapshotTable(path).exists(spark),
      s"CREATE TABLE $path: the root already holds a table — CTAS creates; " +
        "use MERGE/INSERT/UPDATE to change an existing table")
    val df = spark.sql(query)
    if (bucketKeys.nonEmpty) {
      require(partitionCols.isEmpty,
        s"CREATE TABLE $path: BUCKETED BY and PARTITIONED BY are exclusive — " +
          "the bucket hash IS the bucketed format's layout")
      val bt = new graft.tables.BucketedSnapshotTable(path,
        numBuckets.get, bucketKeys, statsCols, bloomCols)
      bt.scd1Merge(spark, df, seqCol.get)
      Seq(Row(bt.currentVersion(spark).getOrElse(0),
        graft.cdc.ScdMerge.scd1Current(bt.read(spark)).count()))
    } else {
      val t = new SnapshotTable(path)
      val v = t.writeIndexed(spark, df, statsCols, bloomCols, partitionByCols = partitionCols)
      Seq(Row(v, t.read(spark).count()))
    }
  }
}

/** `APPLY CHANGES INTO '<dst>' FROM '<src>' USING CHECKPOINT '<ck>' AS
  * <consumerId> [ON KEYS (…)] [INTO <n> BUCKETS]` — the DLT apply-changes
  * consumer loop as one SQL statement: consume the source table's change
  * feed since the checkpoint and merge it EXACTLY-ONCE into the bucketed
  * target (`applyChangesTo` — the target's txn ledger is the committed
  * progress marker and heals the checkpoint). Bucketed sources derive the
  * manifest-pruned feed and carry their keys; PLAIN sources (reference
  * dims) need `ON KEYS` and diff full snapshots per window — O(dim), the
  * honest cost on that format. A missing target is created with the
  * source's keys (bucket count from `INTO n BUCKETS`, else the source's,
  * else 64); an existing target must agree on keys. Returns
  * (source_version consumed, target_version). */
case class ApplyChangesCommand(dst: String, src: String, checkpoint: String,
    consumerId: String, onKeys: Seq[String] = Nil,
    buckets: Option[Int] = None) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("source_version", IntegerType, nullable = false)(),
    AttributeReference("target_version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val srcLayout = DmlRouting.bucketed(spark, src)
    val keys = srcLayout match {
      case Some(sl) =>
        val stored = sl.keys.getOrElse(throw new IllegalArgumentException(
          s"APPLY CHANGES: source $src records no bucket keys (pre-r7 manifest)"))
        require(onKeys.isEmpty || onKeys == stored,
          s"APPLY CHANGES: ON KEYS (${onKeys.mkString(",")}) does not match " +
            s"source $src's bucket keys (${stored.mkString(",")})")
        stored
      case None =>
        require(onKeys.nonEmpty,
          s"APPLY CHANGES: plain source $src needs ON KEYS (…) — the plain " +
            "format does not record business keys")
        onKeys
    }
    val t = DmlRouting.bucketed(spark, dst) match {
      case Some(dl) =>
        dl.keys.foreach(stored => require(stored == keys,
          s"APPLY CHANGES: target $dst bucket keys (${stored.mkString(",")}) " +
            s"differ from the source's (${keys.mkString(",")})"))
        DmlRouting.table(spark, dst, dl, keys)
      case None =>
        new graft.tables.BucketedSnapshotTable(dst,
          buckets.orElse(srcLayout.map(_.numBuckets)).getOrElse(64), keys)
    }
    val v = srcLayout match {
      case Some(sl) =>
        new graft.tables.BucketedSnapshotTable(src, sl.numBuckets, keys)
          .applyChangesTo(spark, checkpoint, t, consumerId)
      case None =>
        new SnapshotTable(src).applyChangesTo(spark, keys, checkpoint, t, consumerId)
    }
    Seq(Row(v, t.currentVersion(spark).getOrElse(0)))
  }
}

/** `ANALYZE '<root>' [STATS (c…)] [BLOOM (c…)] [INCREMENTAL]` — backfill
  * data-skipping metadata for data already on disk: STATS builds min/max
  * range stats, BLOOM per-file Bloom filters (the point-lookup complement
  * for high-cardinality non-key columns whose ranges span the domain).
  * Both formats index every data dir the live version reaches, inside
  * the dir ([[graft.tables.DirIndex]]); plain roots commit no version
  * ([[SnapshotTable.analyze]]), bucketed roots commit a metadata-only one
  * recording the indexed columns in the manifest header — after which
  * range reads AND the predicate-DML pre-filter prune on tables written
  * before the index existed. INCREMENTAL skips dirs whose index already
  * covers the requested columns (immutable dirs → never stale), making
  * re-ANALYZE O(new dirs). One column-pruned scan per analyzed dir; no
  * rewrite. */
case class AnalyzeSnapshotCommand(path: String, cols: Seq[String],
    bloomCols: Seq[String] = Nil, onlyMissing: Boolean = false)
    extends LeafRunnableCommand {
  require(cols.nonEmpty || bloomCols.nonEmpty,
    s"ANALYZE $path: give STATS (…) and/or BLOOM (…) columns")
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("stats_cols", StringType, nullable = false)(),
    AttributeReference("bloom_cols", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    DmlRouting.bucketed(spark, path) match {
      case Some(l) =>
        val bt = new graft.tables.BucketedSnapshotTable(path, l.numBuckets,
          l.keys.getOrElse(Nil), cols, bloomCols)
        Seq(Row(bt.analyze(spark, onlyMissing),
          cols.mkString(","), bloomCols.mkString(",")))
      case None =>
        val t = new SnapshotTable(path)
        t.analyze(spark, cols, bloomCols, onlyMissing)
        Seq(Row(t.currentVersion(spark).getOrElse(0),
          cols.mkString(","), bloomCols.mkString(",")))
    }
}

/** `DESCRIBE HISTORY '<root>'` → [[SnapshotTable.history]] rows, or
  * [[graft.tables.BucketedSnapshotTable.history]] for bucketed roots
  * (has_tombstones reports false — the bucketed format materializes
  * deletes into its batch rewrites instead of pending sidecars). */
case class DescribeHistoryCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("n_rows", LongType, nullable = false)(),
    AttributeReference("n_files", LongType, nullable = false)(),
    AttributeReference("bytes", LongType, nullable = false)(),
    AttributeReference("has_tombstones", BooleanType, nullable = false)(),
    AttributeReference("is_live", BooleanType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    DmlRouting.bucketed(spark, path) match {
      case Some(l) =>
        DmlRouting.table(spark, path, l).history(spark).collect().toSeq
          .map(r => Row(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
            false, r.getBoolean(4)))
      case None => new SnapshotTable(path).history(spark).collect().toSeq
    }
}

object GraftSqlParser {
  private[sql] def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var inStr = false; var start = 0
    s.zipWithIndex.foreach { case (ch, i) =>
      ch match {
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr => depth -= 1
        case ',' if !inStr && depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ => ()
      }
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Index of the LAST top-level ` AS ` token (case-insensitive, outside
    * parens and string literals) — the alias split point for a derived-dim
    * GROUP BY item. Splitting on the last occurrence keeps expressions
    * containing ' AS ' inside nested casts or string literals intact
    * (`cast(x AS int) AS b` aliases to `b`, not `int) AS b`). */
  private def lastTopLevelAs(s: String): Int = {
    var depth = 0; var inStr = false; var last = -1; var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '\'') inStr = !inStr
      else if (!inStr && ch == '(') depth += 1
      else if (!inStr && ch == ')') depth -= 1
      else if (!inStr && depth == 0 && (ch == 'A' || ch == 'a') &&
          i + 1 < s.length &&
          (s.charAt(i + 1) == 'S' || s.charAt(i + 1) == 's') &&
          i > 0 && s.charAt(i - 1).isWhitespace &&
          (i + 2 >= s.length || s.charAt(i + 2).isWhitespace))
        last = i
      i += 1
    }
    last
  }

  private val BareIdent = "[A-Za-z_][A-Za-z0-9_]*"

  /** GROUP BY items for the materialized-view DDL family: each item is a
    * bare column name, or `<expr> AS <alias>` declaring a DERIVED dim.
    * An expression WITHOUT an alias rejects HERE with a usable message —
    * letting it through as a column literally named "month(dt)" would
    * surface later as a baffling unresolved-attribute error at REFRESH.
    * Returns (column name, Some(expr) when derived). */
  private[sql] def parseGroupItems(s: String, what: String)
      : Seq[(String, Option[String])] =
    splitTopLevel(s).map { item0 =>
      val item = item0.trim
      if (item.matches(BareIdent)) (item, None)
      else {
        val i = lastTopLevelAs(item)
        require(i > 0,
          s"$what: GROUP BY item '$item' is an expression without an alias" +
            " — write `<expr> AS <name>` to declare a derived dim, or use" +
            " a bare column name")
        val e = item.substring(0, i).trim
        val n = item.substring(i + 2).trim
        require(n.matches(BareIdent),
          s"$what: derived-dim alias '$n' in GROUP BY item '$item' must be" +
            " a bare identifier")
        require(e.nonEmpty, s"$what: empty expression in GROUP BY item '$item'")
        (n, Some(e))
      }
    }

  private val AggItem =
    """(?is)\s*(count|sum|avg|min|max|var_samp|var_pop|stddev_samp|stddev_pop)\s*\(\s*(\*|\w+)\s*\)\s+AS\s+(\w+)\s*""".r
  private val DistinctItem =
    """(?is)\s*count\s*\(\s*distinct\s+(\w+)\s*\)\s+AS\s+(\w+)\s*""".r

  /** `count(*) AS n, count(distinct c) AS dc, sum(x) AS sx, avg(y) AS ay,
    * min(z) AS mz` → typed agg specs (min/max additionally need WITH
    * RESCAN — enforced at create). */
  private[sql] def parseAggList(s: String): Seq[graft.tables.MaterializedAggView.Agg] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map {
      case DistinctItem(c, as) =>
        graft.tables.MaterializedAggView.Agg("count_distinct", Some(c), as)
      case AggItem(fn, "*", as) =>
        graft.tables.MaterializedAggView.Agg(fn.toLowerCase, None, as)
      case AggItem(fn, c, as) =>
        graft.tables.MaterializedAggView.Agg(fn.toLowerCase, Some(c), as)
      case other => throw new IllegalArgumentException(
        s"CREATE MATERIALIZED VIEW: cannot parse aggregate '$other' — " +
          "expected count(*)/count(c)/count(distinct c)/sum(c)/avg(c)/" +
          "min(c)/max(c) AS alias")
    }
}

/** `CREATE MATERIALIZED VIEW '<mv>' ON '<src>' [KEYS (k…)] GROUP BY (g…)
  * AGG (count(*) AS n, sum(x) AS sx…) [INTO <n> BUCKETS]` — declare an
  * incrementally-maintained aggregate over a snapshot table
  * ([[graft.tables.MaterializedAggView]]). No data moves until REFRESH. */
case class CreateMaterializedViewCommand(mv: String, src: String,
    keys: Seq[String], groupBy: Seq[String],
    aggs: Seq[graft.tables.MaterializedAggView.Agg],
    buckets: Option[Int], allowRescan: Boolean = false,
    derived: Seq[(String, String)] = Nil)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("mv", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    graft.tables.MaterializedAggView.create(spark, mv, src, keys, groupBy,
      aggs, buckets.getOrElse(16), allowRescan, derived)
    Seq(Row(mv))
  }
}

/** `CREATE MATERIALIZED JOIN VIEW '<mv>' FACT '<fact>' [KEYS (k…)]
  * DIM '<dim>' [KEYS (k…)] ON (jk…) GROUP BY (g…) AGG (count(*) AS n,
  * sum(x) AS sx…) [INTO <n> BUCKETS]` — declare an incrementally-
  * maintained aggregate over `fact ⋈ dim` — a one-dimension star view
  * ([[graft.tables.MaterializedStarAggView]]). No data moves until
  * REFRESH. */
case class CreateMaterializedJoinViewCommand(mv: String, fact: String,
    factKeys: Seq[String], dim: String, dimKeys: Seq[String],
    joinKeys: Seq[String], groupBy: Seq[String],
    aggs: Seq[graft.tables.MaterializedAggView.Agg],
    buckets: Option[Int],
    derived: Seq[(String, String)] = Nil) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("mv", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    graft.tables.MaterializedJoinAggView.create(spark, mv, fact, factKeys,
      dim, dimKeys, joinKeys, groupBy, aggs, buckets.getOrElse(16), derived)
    Seq(Row(mv))
  }
}

/** `REFRESH MATERIALIZED JOIN VIEW '<mv>'` — fold BOTH sources' change
  * feeds since the last refresh into the view's bucketed state via the
  * delta-join identity (O(deltas + pruned lookups), exactly-once via the
  * star view's numbered version-vector ledger). A root with more than
  * one dimension fails by name before any work. */
case class RefreshMaterializedJoinViewCommand(mv: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("fact_version", IntegerType, nullable = false)(),
    AttributeReference("dim_version", IntegerType, nullable = false)(),
    AttributeReference("buckets_rewritten", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = new graft.tables.MaterializedJoinAggView(mv)
    graft.tables.MaterializedJoinAggView.dimOf(v.spec(spark), mv)
    val (Seq(f, d), touched) = v.refresh(spark)
    Seq(Row(f, d, touched.size))
  }
}

/** `CREATE MATERIALIZED STAR VIEW '<mv>' FACT '<fact>' [KEYS (k…)]
  * DIM '<d1>' [KEYS (k…)] ON (jk…) DIM '<d2>' … GROUP BY (g…)
  * AGG (…) [INTO <n> BUCKETS]` — declare an incrementally-maintained
  * aggregate over `fact ⋈ dim1 ⋈ … ⋈ dimN`
  * ([[graft.tables.MaterializedStarAggView]]). */
case class CreateMaterializedStarViewCommand(mv: String, fact: String,
    factKeys: Seq[String], dims: Seq[graft.tables.MaterializedStarAggView.Dim],
    groupBy: Seq[String], aggs: Seq[graft.tables.MaterializedAggView.Agg],
    buckets: Option[Int],
    derived: Seq[(String, String)] = Nil) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("mv", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    graft.tables.MaterializedStarAggView.create(spark, mv, fact, factKeys,
      dims, groupBy, aggs, buckets.getOrElse(16), derived)
    Seq(Row(mv))
  }
}

/** `REFRESH MATERIALIZED STAR VIEW '<mv>'` — fold every source's window
  * since the last refresh through the telescoping delta identity.
  * Returns the applied version vector (fact, dims…) and the state
  * buckets rewritten. */
case class RefreshMaterializedStarViewCommand(mv: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("versions", StringType, nullable = false)(),
    AttributeReference("buckets_rewritten", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (vec, touched) = new graft.tables.MaterializedStarAggView(mv).refresh(spark)
    Seq(Row(vec.mkString(","), touched.size))
  }
}

/** `DESCRIBE MATERIALIZED STAR VIEW '<mv>'` — the star view's metadata:
  * fact root, each dim's (root, join keys), grouping, aggregates, state
  * bucket count, refresh number, and the applied version vector. */
case class DescribeMaterializedStarViewCommand(mv: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("fact", StringType, nullable = false)(),
    AttributeReference("dims", StringType, nullable = false)(),
    AttributeReference("group_by", StringType, nullable = false)(),
    AttributeReference("aggs", StringType, nullable = false)(),
    AttributeReference("num_buckets", IntegerType, nullable = false)(),
    AttributeReference("refresh_number", LongType, nullable = false)(),
    AttributeReference("applied_versions", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = new graft.tables.MaterializedStarAggView(mv)
    val sp = v.spec(spark)
    val (n, vec) = v.lastApplied(spark)
    // derived dims render inline in group_by as `expr AS name` — the same
    // syntax CREATE accepted, so DESCRIBE round-trips the DDL
    val derivedOf = sp.derived.toMap
    val groupRendered = sp.groupBy.map(g =>
      derivedOf.get(g).map(e => s"$e AS $g").getOrElse(g))
    Seq(Row(sp.factRoot,
      sp.dims.map(d => s"${d.root} ON (${d.join.mkString(",")})").mkString("; "),
      groupRendered.mkString(","), sp.aggs.map(_.render).mkString(","),
      sp.numBuckets, n, vec.mkString(",")))
  }
}

/** `DESCRIBE MATERIALIZED JOIN VIEW '<mv>'` — the join view's metadata
  * row: both source roots, join keys, grouping, declared aggregates,
  * state bucket count, and the (fact, dim) versions last applied. A root
  * with more than one dimension fails by name. */
case class DescribeMaterializedJoinViewCommand(mv: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("fact", StringType, nullable = false)(),
    AttributeReference("dim", StringType, nullable = false)(),
    AttributeReference("join_keys", StringType, nullable = false)(),
    AttributeReference("group_by", StringType, nullable = false)(),
    AttributeReference("aggs", StringType, nullable = false)(),
    AttributeReference("num_buckets", IntegerType, nullable = false)(),
    AttributeReference("fact_version", IntegerType, nullable = false)(),
    AttributeReference("dim_version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = new graft.tables.MaterializedJoinAggView(mv)
    val sp = v.spec(spark)
    val dim = graft.tables.MaterializedJoinAggView.dimOf(sp, mv)
    val Seq(f, d) = v.lastApplied(spark)._2
    // derived dims render inline in group_by as `expr AS name` — the same
    // syntax CREATE accepted, so DESCRIBE round-trips the DDL
    val derivedOf = sp.derived.toMap
    val groupRendered = sp.groupBy.map(g =>
      derivedOf.get(g).map(e => s"$e AS $g").getOrElse(g))
    Seq(Row(sp.factRoot, dim.root, dim.join.mkString(","),
      groupRendered.mkString(","), sp.aggs.map(_.render).mkString(","),
      sp.numBuckets, f, d))
  }
}

/** `DESCRIBE MATERIALIZED VIEW '<mv>'` — the view's metadata row: source
  * root, business keys, grouping, declared aggregates, state bucket
  * count, and the last source version the ledger records as applied. */
case class DescribeMaterializedViewCommand(mv: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("source", StringType, nullable = false)(),
    AttributeReference("source_keys", StringType, nullable = false)(),
    AttributeReference("group_by", StringType, nullable = false)(),
    AttributeReference("aggs", StringType, nullable = false)(),
    AttributeReference("num_buckets", IntegerType, nullable = false)(),
    AttributeReference("last_applied_version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = new graft.tables.MaterializedAggView(mv)
    val sp = v.spec(spark)
    // derived dims render inline in group_by as `expr AS name` — the
    // same syntax CREATE accepted, so DESCRIBE round-trips the DDL
    val derivedOf = sp.derived.toMap
    val groupRendered = sp.groupBy.map(g =>
      derivedOf.get(g).map(e => s"$e AS $g").getOrElse(g))
    Seq(Row(sp.sourceRoot, sp.sourceKeys.mkString(","), groupRendered.mkString(","),
      sp.aggs.map(_.render).mkString(","), sp.numBuckets, v.lastApplied(spark)))
  }
}

/** `ALTER MATERIALIZED [JOIN|STAR] VIEW '<mv>' ENABLE|DISABLE REWRITE` —
  * turn TRANSPARENT query routing to the view's maintained state on or
  * off (the Scala `registerRewrite`/`unregisterRewrite` surface through
  * SQL). Kind-agnostic like the query form: dispatches on the view's
  * spec file, so the JOIN/STAR keyword is documentation, not dispatch.
  * Registration is driver-local (the optimizer rule's registry), so
  * ENABLE applies to this process — re-run it per session, as with any
  * session-scoped planner state. */
case class AlterMaterializedViewRewriteCommand(mv: String, enable: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("mv", StringType, nullable = false)(),
    AttributeReference("rewrite", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = graft.tables.openView(spark, mv)
    if (enable) v.registerRewrite(spark) else v.unregisterRewrite(spark)
    Seq(Row(mv, if (enable) "enabled" else "disabled"))
  }
}

/** `VACUUM MATERIALIZED [JOIN|STAR] VIEW '<mv>' [KEEP n]` — reclaim the
  * version history refresh commits accumulate in the view's state (and
  * count-distinct aux) tables. Kind-agnostic dispatch like the query
  * form. Aux tables always keep ≥2 versions (the crash-replay pin's
  * lookback); not concurrent with an active refresher. */
case class VacuumMaterializedViewCommand(mv: String, keep: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("mv", StringType, nullable = false)(),
    AttributeReference("kept_versions", IntegerType, nullable = false)(),
    AttributeReference("kept_aux_versions", IntegerType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] = {
    // friendly validation (the state table's own require would surface as
    // an internal invariant message); report the ACTUAL retention the
    // vacuum applied — max(keep, 2) per aux table, NULL when the view has
    // no aux tables (no distinct aggregates) so nothing is overstated
    if (keep < 1) throw new IllegalArgumentException(
      s"VACUUM MATERIALIZED VIEW: KEEP must be >= 1 (the live version " +
        s"cannot be reclaimed), got $keep")
    val auxKept = graft.tables.openView(spark, mv).vacuum(spark, keep)
    Seq(Row(mv, keep, auxKept.map(Int.box).orNull))
  }
}

/** `REFRESH MATERIALIZED VIEW '<mv>'` — fold the source's change feed
  * since the last refresh into the view's bucketed state (O(changed
  * groups), exactly-once via the state table's txn ledger). Returns the
  * source version applied and how many state buckets were rewritten. */
case class RefreshMaterializedViewCommand(mv: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("source_version", IntegerType, nullable = false)(),
    AttributeReference("buckets_rewritten", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (v, touched) = new graft.tables.MaterializedAggView(mv).refresh(spark)
    Seq(Row(v, touched.size))
  }
}
