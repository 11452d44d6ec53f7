package graft.tables

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The spec fields every view kind records (see [[MaterializedAggView.Spec]]
  * and [[MaterializedStarAggView.Spec]]). */
trait ViewSpec {
  def groupBy: Seq[String]
  def aggs: Seq[MaterializedAggView.Agg]
  def numBuckets: Int
  /** Null-mask encoding, recorded at create time: state written by a
    * pre-mask build has neither the `__mv_nulls` key column nor its bucket
    * hashing, and keeps the legacy layout and non-null group contract. */
  def nullMask: Boolean
  def derived: Seq[(String, String)]
}

/** What every incrementally maintained aggregate view shares: the spec
  * file, the bucketed state and count-distinct aux tables, the
  * fold-and-commit of one signed refresh window, the user read, the
  * routing wiring and vacuum. A kind ([[MaterializedAggView]] over one
  * table, [[MaterializedStarAggView]] over a fact and its dimensions)
  * builds its window, decides the crash-replay window, keeps its ledger
  * and names its routing shape. [[graft.tables.openView]] opens a root as
  * the kind its spec file names. */
abstract class MaterializedView(val root: String) {
  import MaterializedAggView._

  type SpecT <: ViewSpec
  /** What a refresh reports as applied: the source version, or the
    * version vector of a star view. */
  type Applied

  def spec(spark: SparkSession): SpecT

  /** Spec file name under the root, and the state ledger's txn id. */
  protected def specFile: String
  protected def txnId: String

  /** The view as named in errors. */
  protected def what: String = s"${getClass.getSimpleName} $root"

  protected def fs(spark: SparkSession): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Fault-injection hook for crash-recovery specs (same pattern as
    * [[BucketedSnapshotTable.onStep]]): called between the aux-table and
    * main-state commits of a refresh. */
  private[tables] var onStep: String => Unit = _ => ()

  /** Runs when the spec file is missing, before the refusal. */
  protected def onMissingSpec(f: FileSystem): Unit = ()

  /** The spec file's `key=value` lines (split on the first `=`). */
  protected final class SpecLines(kv: Map[String, String]) {
    def need(k: String): String = kv.getOrElse(k,
      throw new IllegalArgumentException(s"$what: $specFile lacks $k"))
    def list(k: String): Seq[String] =
      kv.getOrElse(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    def groupBy: Seq[String] = list("groupBy")
    def aggs: Seq[Agg] = list("aggs").map(Agg.parse)
    def numBuckets: Int = kv.getOrElse("numBuckets", "16").toInt
    def nullMask: Boolean = kv.get("nullMask").contains("1")
    def derived: Seq[(String, String)] = derivedOf(kv, groupBy)
  }

  protected def specLines(spark: SparkSession): SpecLines = {
    val f = fs(spark)
    val text = MetaIO.read(f, new Path(root, specFile)).getOrElse {
      onMissingSpec(f)
      throw new IllegalArgumentException(s"$what: no $specFile spec")
    }
    new SpecLines(text.linesIterator.map(_.trim).filter(_.nonEmpty).map { l =>
      val i = l.indexOf('=')
      require(i > 0, s"$what: malformed $specFile line '$l'")
      l.take(i) -> l.drop(i + 1)
    }.toMap)
  }

  /** State business keys: the group columns plus the null mask (see
    * [[MaterializedAggView.NullsCol]]) — every internal key join, bucket
    * probe, and merge runs null-free over these. */
  private def groupKeys(sp: ViewSpec): Seq[String] =
    if (sp.nullMask) sp.groupBy :+ NullsCol else sp.groupBy

  protected def state(sp: ViewSpec) =
    new BucketedSnapshotTable(s"$root/state", sp.numBuckets, groupKeys(sp))

  /** Auxiliary occurrence-count table for one `count(distinct c)`
    * aggregate: keyed (and bucketed) by (groupKeys…, value) so a
    * refresh's changed pairs prune to their buckets exactly like the
    * main state. */
  private def auxState(sp: ViewSpec, as: String) =
    new BucketedSnapshotTable(s"$root/dstate_$as", sp.numBuckets,
      groupKeys(sp) :+ ValCol)

  private def distinctAggs(sp: ViewSpec): Seq[Agg] =
    sp.aggs.filter(_.fn == "count_distinct")

  /** Ledger values of the aux tables that committed a refresh the main
    * state (at `lastTxn`) never saw: a crash between the two commits. */
  protected def auxAhead(spark: SparkSession, sp: ViewSpec, lastTxn: Long): Seq[Long] =
    distinctAggs(sp).flatMap { a =>
      val dst = auxState(sp, a.as)
      if (!dst.exists(spark)) None
      else dst.appliedTxn(spark, txnId).filter(_ > lastTxn)
    }

  private def decoded(sp: ViewSpec, df: DataFrame): DataFrame =
    if (sp.nullMask) decodeNulls(df, sp.groupBy) else df

  /** Fold everything the sources committed since the last refresh into
    * the state; returns (what is now applied, state buckets rewritten —
    * those holding CHANGED groups only, the scale pin).
    *
    * Refreshes SERIALIZE on the view root's commit lock: two racing
    * refreshers would otherwise both read the same ledger base and the
    * later merge would fold a window the state already holds —
    * double-counting the overlap. Under the lock the loser re-reads the
    * ledger and folds only the remainder. A holder paused past the
    * staleness bound is stolen from; it re-verifies ownership
    * immediately before its first irreversible mutation and aborts with
    * `ConcurrentModificationException` instead of double-committing. */
  def refresh(spark: SparkSession): (Applied, Set[Int]) =
    CommitLock.withHeartbeatLock(fs(spark), root)(h => refreshLocked(spark, h))

  protected def refreshLocked(spark: SparkSession,
      lock: CommitLock.Handle): (Applied, Set[Int])

  /** Fold one signed refresh window into the state and commit it; returns
    * the state buckets rewritten. `window` holds source-shaped rows with
    * derived dims computed; `sign` is its ±1 column. The state merge and
    * every aux merge are stamped `txnValue`; `lastTxn` is the main state's
    * last applied ledger value (0 = bootstrap). `rescanSource` is the
    * source visible at the window's end, which min/max RESCAN aggregates
    * recompute the changed groups from. `beforeCommit` runs after every
    * aux commit and the lock check, right before the main commit. */
  protected def foldAndCommit(spark: SparkSession, sp: ViewSpec,
      window: DataFrame, sign: Column, txnValue: Long, lastTxn: Long,
      lock: CommitLock.Handle, rescanSource: Option[() => DataFrame] = None,
      beforeCommit: () => Unit = () => ()): Set[Int] = {
    val st = state(sp)
    // null-mask encoding: from here on every group-key operation is
    // null-free over (groupBy…, __mv_nulls). A measure column that is
    // ALSO a nullable group column would be encoded away — its RAW
    // values are shadowed first and every aggregation reads the shadow
    // (SQL aggregates over g in `SELECT g, count(g) … GROUP BY g` see
    // NULLs, not the stand-in)
    val gk = groupKeys(sp)
    val overlap: Set[String] =
      if (sp.nullMask) sp.aggs.flatMap(_.col).toSet.intersect(sp.groupBy.toSet)
      else Set.empty
    def shadowCol(m: String) = s"__mv_raw_$m"
    def mcol(m: String): String = if (overlap(m)) shadowCol(m) else m
    def encoded(df: DataFrame): DataFrame =
      if (sp.nullMask) encodeNulls(
        overlap.foldLeft(df)((d, m) => d.withColumn(shadowCol(m), col(m))), sp.groupBy)
      else df
    val feed0 = encoded(window)
    // EXACTLY-ONE-distinct views (the dominant shape) take the ONE-PASS
    // fold: both maintenance grains derive from a single (group, value)-
    // grain base aggregation of the feed (onePassDeltas), so the feed is
    // scanned once and needs no pin of its own. Multi-distinct views keep
    // the per-agg pair passes and pin the O(changed) window diff so each
    // consumer doesn't re-derive it (NOT on a bootstrap: the bootstrap
    // feed is the FULL source, and materializing it costs more than the
    // ≤(1 + #distinct aggs) recomputations)
    val dcAggs = distinctAggs(sp)
    val onePass = dcAggs.size == 1
    val feed =
      if (!onePass && lastTxn != 0 && dcAggs.nonEmpty) feed0.transform(Pin(_))
      else feed0

    // one shuffle on the group key: the shared fold algebra (deltaAggsFor)
    val accTypes = accumulatorTypes(sp.aggs, feed.schema)
    val sqTypes = sumSqTypes(sp.aggs, feed.schema)
    val deltaAggs: Seq[Column] =
      deltaAggsFor(sp.aggs, mcol, sign, accTypes, sqTypes, feed.schema)
    val (delta0, preparedPairs): (DataFrame, Option[DataFrame]) =
      if (onePass) {
        val (d0, pp) = onePassDeltas(feed, sign, gk,
          mcol(dcAggs.head.col.get), deltaAggs, sumTypesOf(accTypes, sqTypes))
        (d0, Some(pp))
      } else
        (feed.groupBy(gk.map(col): _*).agg(deltaAggs.head, deltaAggs.tail: _*),
          None)

    // count(distinct c): per-(group, value) signed occurrence deltas →
    // aux-table transitions → a distinct-count delta ONLY where an
    // occurrence count crosses zero. The transition frame is eagerly
    // pinned BEFORE the aux merge so the delta the main state folds is
    // derived from the PRE-merge aux state; the aux merge itself is
    // txn-stamped with the same ledger value, so any crash/replay
    // interleaving re-derives the identical delta. The aux COMMITS run
    // on [[auxEc]] CONCURRENTLY with the main-side fold and staging
    // below: the only ordering the crash matrix needs is "every aux
    // commit completes before the main commit", enforced by the Await
    // before it.
    val dcPrepared: Seq[(DataFrame, () => Unit)] = dcAggs.map { a =>
      foldDistinct(spark, auxState(sp, a.as), feed, sign, gk,
        mcol(a.col.get), txnId, txnValue, lastTxn, dcCol(a.as),
        beforeMerge = () => lock.check(),
        afterMerge = () => onStep(s"aux-merged:${a.as}"),
        prepared = preparedPairs)
    }
    val auxFuts = dcPrepared.map { case (_, commit) =>
      scala.concurrent.Future(commit())(auxEc) }
    // dc-delta groups ⊆ feed groups (both derive from the feed), so a
    // left join is complete; absent → 0 in the generic fold below.
    // Pinned: the grouped delta is consumed by THREE actions downstream
    // (the state's bucket-pruned key probe, the merge's bucket discovery,
    // and the state write) — without the pin each re-executes the whole
    // O(changed) window diff; the checkpoint is O(changed groups) rows
    val delta = dcPrepared.map(_._1).foldLeft(delta0)((d, dd) => d.join(dd, gk, "left"))
      .transform(Pin(_))
    // null group keys the state machinery cannot represent fail loudly
    // here instead of silently dropping through the key-equality merges
    // (legacy specs: all group columns; mask specs: stand-in-less types)
    requireNoUnguardedNullGroups(delta, sp.nullMask, sp.groupBy, what)

    val accCols: Seq[(String, DataType)] = accColsFor(sp.aggs, accTypes, sqTypes)

    // STAGE the main-state merge (the expensive data half) while the aux
    // commits are still in flight on auxEc, then serialize only the
    // metadata commits: every aux commit completes strictly before the
    // main pointer flip. The finally-Await guarantees no aux commit is
    // ever in flight past this frame on ANY exit path: an orphan aux
    // commit landing after a successor refresher read the ledger could
    // evade the aux-ahead replay pin.
    val stagedMain: Option[BucketedSnapshotTable.StagedScd1] = try {
      // current state of ONLY the changed groups: bucket-pruned point read.
      // The probe's bucket set is REUSED by the staged merge below (r15
      // job fusion): the upserts are a left join of the delta — same gk
      // value set, hence the same buckets — so the merge's own probe job
      // is redundant.
      var deltaBuckets: Option[Set[Int]] = None
      val cur: DataFrame =
        if (!st.exists(spark)) {
          val fields = gk.map(g => delta.schema(g)) ++
            accCols.map { case (n, t) => StructField(n, t, nullable = true) }
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], StructType(fields))
        } else {
          val (df, w) = st.readKeysWithBuckets(spark, delta.select(gk.map(col): _*))
          deltaBuckets = Some(w)
          graft.cdc.ScdMerge.scd1Current(df)
            .select((gk ++ accCols.map(_._1)).map(col): _*)
        }

      val curA = cur.select(gk.map(col) ++
        accCols.map { case (n, _) => col(n).as(s"__cur_$n") }: _*)
      val folded = accCols.foldLeft(delta.join(curA, gk, "left")) { case (df, (n, t)) =>
        df.withColumn(n,
          (coalesce(col(s"__cur_$n").cast(t), lit(0).cast(t)) +
            coalesce(col(n).cast(t), lit(0).cast(t))).cast(t))
      }.select((gk ++ accCols.map(_._1)).map(col): _*)

      // min/max are NOT invertible — the opt-in RESCAN mode recomputes them
      // from the source for EXACTLY the changed groups (one semi-joined
      // grouped scan of the source per refresh: the documented extra cost
      // class the caller accepted at create); the source side is encoded so
      // the semi-join and regrouping run null-free like everything else
      val rescans = sp.aggs.filter(a => a.fn == "min" || a.fn == "max")
      val withMm =
        if (rescans.isEmpty) folded
        else {
          val aggsR = rescans.map { a =>
            (if (a.fn == "min") min(col(mcol(a.col.get))) else max(col(mcol(a.col.get))))
              .as(mmCol(a.fn, a.as))
          }
          val rs = encoded(rescanSource.get())
            .join(folded.select(gk.map(col): _*), gk, "left_semi")
            .groupBy(gk.map(col): _*).agg(aggsR.head, aggsR.tail: _*)
          folded.join(rs, gk, "left")
        }
      // pinned: the merge executes its updates plan twice (bucket-probe
      // collect + staging write), and this plan carries the state
      // readKeys scan — O(changed groups) rows, cheap to pin
      val upserts = withMm.withColumn(SeqCol, lit(txnValue)).transform(Pin(_))
      st.stageScd1Merge(spark, upserts, SeqCol,
        applyAsDeletes = Some(col(NCol) === 0L),
        txn = Some((txnId, txnValue)),
        knownBuckets = deltaBuckets)
    } finally auxFuts.foreach(fu =>
      scala.concurrent.Await.ready(fu, scala.concurrent.duration.Duration.Inf))
    // surface any aux-commit failure BEFORE the main commit (instant: the
    // futures are complete)
    auxFuts.foreach(fu =>
      scala.concurrent.Await.result(fu, scala.concurrent.duration.Duration.Inf))
    lock.check() // abort rather than double-commit if the lock was stolen
    beforeCommit()
    stagedMain match {
      case Some(h) => st.commitStagedScd1(spark, h)
      case None => Set.empty[Int] // empty window / ledger-replayed batch
    }
  }

  /** The view's USER-FACING rows: group columns + one column per declared
    * aggregate (avg as DOUBLE, SQL null semantics — count-0 sums and avgs
    * read back null like a recompute would). */
  def read(spark: SparkSession): DataFrame = {
    val sp = spec(spark)
    decoded(sp, graft.cdc.ScdMerge.scd1Current(state(sp).read(spark)))
      .select(sp.groupBy.map(col) ++ readOutputs(sp.aggs): _*)
  }

  /** The (state provider, per-measure pair providers) pair registerRewrite
    * wires. The state provider pins (state version, ledger value)
    * ATOMICALLY per query — the rollup frame reads that pinned version and
    * each distinct-measure pair provider reads its aux table AS OF the
    * pinned ledger value — so one routed query never mixes two view
    * versions even when a refresh commits between the state and pair
    * reads. The pin is THREAD-LOCAL: the optimizer calls the provider and
    * then the distinct providers on the query's own planning thread, so
    * two concurrently-optimizing queries each read their own pin — a
    * shared cell would let query B's provider call re-pin between A's two
    * reads and hand A a mixed-version result. Pair relations select the
    * FULL state keys (incl. the null mask) and decode, so null groups
    * round-trip through routing. */
  private[tables] def routingProviders(spark: SparkSession)
      : (() => DataFrame, Map[String, () => DataFrame]) = {
    val sp = spec(spark)
    val st = state(sp)
    val pinnedTxn = ThreadLocal.withInitial[java.lang.Long](() => 0L)
    val provider: () => DataFrame = () => {
      val v = st.currentVersion(spark).getOrElse(throw new IllegalStateException(
        s"materialized view state ${st.root}: no committed version — REFRESH first"))
      pinnedTxn.set(Long.box(st.appliedTxnAt(spark, txnId, v).getOrElse(0L)))
      // ROLLUP-PARTIAL format (`__cnt`, `__sum_<measure>`, `__nn_<measure>`
      // keyed by the group columns), what AggRollupRewrite consumes
      decoded(sp, graft.cdc.ScdMerge.scd1Current(st.readVersion(spark, v)))
        .select(rollupColumns(sp.aggs, sp.groupBy): _*)
    }
    val distincts: Map[String, () => DataFrame] =
      distinctAggs(sp).groupBy(_.col.get).map { case (m, as) =>
        m -> (() => decoded(sp, auxPairs(spark, auxState(sp, as.head.as),
          pinnedTxn.get.longValue, txnId, groupKeys(sp))))
      }
    (provider, distincts)
  }

  /** Register TRANSPARENT routing: an `Aggregate` over the view's sources
    * whose grouping ⊆ the view's GROUP BY and whose aggregates are covered
    * is rewritten by the optimizer to read this view's state instead, with
    * NO query change. The provider re-reads the live state per query, so
    * a REFRESH is visible immediately; answers are exact as of the last
    * refresh (the usual materialized-view staleness contract).
    * Count-distinct measures also register their live pair relations, so
    * COUNT(DISTINCT m) routes at COARSER groupings too. Derived dims are
    * resolved against the kind's source namespace once, normalized for
    * structural matching. */
  def registerRewrite(spark: SparkSession): Unit = {
    val sp = spec(spark)
    val measures = sp.aggs.filterNot(a => a.fn == "count" && a.col.isEmpty)
      .flatMap(_.col).distinct
    val (provider, distincts) = routingProviders(spark)
    val derivedExprs =
      if (sp.derived.isEmpty) Map.empty[String, org.apache.spark.sql.catalyst.expressions.Expression]
      else derivedNamespace(spark, sp).fold(
        Map.empty[String, org.apache.spark.sql.catalyst.expressions.Expression])(
        resolveDerivedDims(spark, _, sp.derived, what))
    route(spark, sp, measures, provider, distincts, derivedExprs)
  }

  /** The schema a derived dim's expression resolves in; None while a
    * source is still empty (the provider refuses anyway). */
  protected def derivedNamespace(spark: SparkSession, sp: SpecT): Option[StructType]

  /** Hand the wiring to the kind's routing registry. */
  protected def route(spark: SparkSession, sp: SpecT, measures: Seq[String],
      provider: () => DataFrame, distincts: Map[String, () => DataFrame],
      derivedExprs: Map[String, org.apache.spark.sql.catalyst.expressions.Expression]): Unit

  /** Remove this view's transparent routing (SQL `ALTER MATERIALIZED …
    * VIEW … DISABLE REWRITE`); queries read the base tables again. */
  def unregisterRewrite(spark: SparkSession): Unit

  /** Reclaim storage: every refresh commits a new version of the state
    * (and aux) tables. Vacuums the state table to `keep` versions and
    * each count-distinct aux table to at least 2 — the crash-replay pin
    * reads the aux AS OF the last fully-applied refresh, at most one
    * version behind the aux head. Standard vacuum contract: not
    * concurrent with an active refresher. Returns the aux retention
    * applied — None when the view has no materialized aux tables, so
    * callers never claim a retention that was not exercised. */
  def vacuum(spark: SparkSession, keep: Int = 2): Option[Int] = {
    val sp = spec(spark)
    state(sp).vacuum(spark, keep)
    val auxes = distinctAggs(sp).map(a => auxState(sp, a.as)).filter(_.exists(spark))
    auxes.foreach(_.vacuum(spark, math.max(keep, 2)))
    if (auxes.isEmpty) None else Some(math.max(keep, 2))
  }
}

object MaterializedView {
  import MaterializedAggView.{Agg, VarFns}

  /** The aggregate functions a view can maintain. */
  private[tables] val AllFns: Set[String] =
    Set("count", "sum", "avg", "min", "max", "count_distinct") ++ VarFns
  /** The ones maintained from a change feed alone (min/max need RESCAN). */
  private[tables] val InvertibleFns: Set[String] = AllFns -- Set("min", "max")

  /** Declare a view: the create-time checks every kind shares, then the
    * spec write (no data moves until the first refresh). `noun` words the
    * checks' errors, `fnError` the error for an aggregate outside
    * `fns`; `underLock` runs kind checks under the view's lock. */
  private[tables] def createSpec(spark: SparkSession, root: String,
      specFile: String, kind: String, noun: String, kindLines: Seq[String],
      groupBy: Seq[String], aggs: Seq[Agg], numBuckets: Int,
      derived: Seq[(String, String)], fns: Set[String], fnError: String => String,
      underLock: FileSystem => Unit = _ => ()): Unit = {
    require(groupBy.nonEmpty, s"$noun needs GROUP BY columns")
    MaterializedAggView.validateDerived(groupBy, aggs, derived)
    require(groupBy.size <= 63, "the null mask is a 64-bit bitmask — at " +
      "most 63 GROUP BY columns")
    require(!(groupBy ++ aggs.flatMap(_.col)).exists(_.startsWith("__mv_")),
      "column names starting with __mv_ are reserved for view bookkeeping")
    require(aggs.nonEmpty, s"$noun needs at least one aggregate")
    aggs.foreach { a =>
      require(fns(a.fn), fnError(a.fn))
      require(a.fn == "count" || a.col.nonEmpty, s"${a.fn} needs a column")
    }
    require(aggs.map(_.as).distinct.size == aggs.size, "duplicate aggregate aliases")
    val content = (kindLines ++ Seq(
      s"groupBy=${groupBy.mkString(",")}",
      s"aggs=${aggs.map(_.render).mkString(",")}",
      s"numBuckets=$numBuckets",
      "nullMask=1") ++
      derived.map { case (n, e) => s"derived.$n=$e" }).mkString("", "\n", "\n")
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(root, specFile)
    // the view's lock makes the exists check and the write one step:
    // of two concurrent CREATEs exactly one writes the spec
    CommitLock.withLock(f, root) {
      underLock(f)
      if (f.exists(p)) throw new IllegalArgumentException(s"$kind $root already exists")
      MetaIO.replace(f, p, content)
    }
  }
}
