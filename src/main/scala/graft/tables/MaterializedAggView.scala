package graft.tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incrementally-maintained materialized AGGREGATE view — the engine's
  * answer to the reference's gold-layer aggregations (DLT materialized
  * views, ref 4_gold notebooks: nightly full `GROUP BY` recomputes) at 100 TB
  * scale: each refresh consumes the SOURCE table's change feed with
  * preimages and folds signed deltas into a bucketed state table, so
  * refresh cost is O(changed groups), never O(source) — a day's merges
  * touching 1% of a 100 TB fact table refresh its revenue rollup by
  * reading 1% of two versions plus the affected state buckets.
  *
  * Supported aggregates (purely additive, hence exactly invertible under
  * the preimage feed): `count(*)`, `count(c)`, `sum(c)`, `avg(c)`
  * (maintained as sum+count; read back as DOUBLE), and — r11 —
  * `count(distinct c)`, maintained EXACTLY via an auxiliary per-(group,
  * value) occurrence-count table bucketed alongside the state: each
  * refresh folds signed occurrence deltas into the aux table and emits a
  * distinct-count delta only for values whose count crosses zero, so the
  * refresh stays O(changed (group,value) pairs) and survives retractions
  * (a value reappearing after deletion counts again — HLL-style sketches
  * cannot do this). Non-invertible aggregates (`min(c)`, `max(c)`) need
  * the opt-in RESCAN mode
  * (`allowRescan` / SQL `WITH RESCAN`): each refresh recomputes them from
  * the source for exactly the changed groups — one semi-joined grouped
  * scan of the source per refresh, a cost class the caller accepts
  * explicitly (the additive aggregates never touch the source).
  *
  * Exactly-once: refresh progress lives in the STATE table's own
  * transaction ledger (`txn:mv=<sourceVersion>` in its manifest header),
  * committed atomically with the delta merge — a crash between commit and
  * any external bookkeeping cannot double-count, and a replayed refresh
  * of an already-applied window is a no-op. Retention contract: source
  * versions between two refreshes must outlive the refresh lag (same
  * `VACUUM … KEEP` rule as any CDF consumer).
  *
  * Sum exactness: integral sums accumulate as LONG (Spark `sum(long)`
  * semantics incl. overflow), decimals as DECIMAL(p+10, s) — both exact
  * under any delta order. DOUBLE measures accumulate as double and may
  * differ from a full recompute in final ulps (the usual floating-sum
  * order caveat); route money through decimal, as the engine does
  * elsewhere.
  *
  * NULL group keys are SUPPORTED (r11b) with SQL GROUP BY semantics:
  * the engine's bucketed business keys must be non-null (the Delta
  * MERGE key contract), so nullable group values are ENCODED at the
  * state boundary — stored as a per-type zero with a bit set in the
  * `__mv_nulls` mask key column — and DECODED back to nulls on every
  * read (including the transparent-routing relations). Every internal
  * key join, bucket probe, and merge runs null-free over
  * (groupBy…, mask). Nullable group columns of exotic types without a
  * zero stand-in (arrays, binary, …) keep the legacy non-null contract.
  */
final class MaterializedAggView(root: String) extends MaterializedView(root) {
  import MaterializedAggView._

  type SpecT = Spec
  /** The source version applied. */
  type Applied = Int

  protected def specFile = "_mv"
  protected def txnId = TxnId

  def spec(spark: SparkSession): Spec = {
    val kv = specLines(spark)
    Spec(kv.need("sourceRoot"), kv.list("sourceKeys"), kv.groupBy, kv.aggs,
      kv.numBuckets, kv.nullMask, kv.derived)
  }

  private def feedOf(spark: SparkSession, sp: Spec) =
    graft.streaming.ChangeFeedSource.adapter(spark, Map(
      "path" -> sp.sourceRoot) ++
      (if (sp.sourceKeys.nonEmpty) Map("keys" -> sp.sourceKeys.mkString(",")) else Map.empty))

  /** Source version the state table's ledger records as applied (0 =
    * never refreshed). */
  def lastApplied(spark: SparkSession): Int =
    state(spec(spark)).appliedTxn(spark, TxnId).map(_.toInt).getOrElse(0)

  protected def refreshLocked(spark: SparkSession, lock: CommitLock.Handle): (Int, Set[Int]) = {
    val sp = spec(spark)
    val lastV = state(sp).appliedTxn(spark, TxnId).map(_.toInt).getOrElse(0)
    val feedable = feedOf(spark, sp)
    val liveV = feedable.currentVersion.getOrElse(return (lastV, Set.empty))
    // crash-replay window pinning: if a distinct agg's aux table committed
    // a refresh the MAIN state never saw, the replay must cover EXACTLY
    // that crashed window. Extending it to the live head would fold the
    // NET (lastV, live] delta while the aux keeps per-pair occurrence
    // counts from the crashed merge — a pair whose change REVERTED
    // between the crash and the replay would keep its crashed count
    // forever (its later zero-crossing then never fires). The remainder
    // (crashedV, live] folds in an ordinary second pass below.
    val crashedV = auxAhead(spark, sp, lastV)
    val srcV = if (crashedV.nonEmpty) crashedV.max.toInt else liveV
    if (srcV <= lastV) return (lastV, Set.empty)

    val feedRaw =
      if (lastV == 0) feedable.visibleAt(srcV).withColumn("_change_type", lit("insert"))
      else feedable.feed(lastV, srcV, withColumns = false, withPreimage = true)
    // derived dims compute on the raw window BEFORE any encoding: a
    // preimage row derives the same value its insert did, so retraction
    // algebra is untouched — a derived dim is just another group column
    val touched = foldAndCommit(spark, sp, applyDerived(feedRaw, sp.derived, what),
      when(col("_change_type").isin("insert", "update_postimage"), lit(1L))
        .otherwise(lit(-1L)),
      srcV.toLong, lastV.toLong, lock,
      rescanSource = Some(() => applyDerived(feedable.visibleAt(srcV), sp.derived, what)))
    if (srcV < liveV) {
      // the pinned replay stopped at the crashed window's end — fold the
      // rest of the history in an ordinary pass (same lock: the view
      // lock is not reentrant, and the remainder belongs to this holder)
      val (v2, t2) = refreshLocked(spark, lock)
      (v2, touched ++ t2)
    } else (srcV, touched)
  }

  /** Routing covers any `Aggregate` over the SOURCE table's snapshot
    * relation — a kilobyte-scale read in place of a fact-table scan.
    * Derived dims resolve against the live source schema. */
  protected def derivedNamespace(spark: SparkSession, sp: Spec): Option[StructType] = {
    val feedable = feedOf(spark, sp)
    feedable.currentVersion.map(v => feedable.visibleAt(v).schema)
  }

  protected def route(spark: SparkSession, sp: Spec, measures: Seq[String],
      provider: () => DataFrame, distincts: Map[String, () => DataFrame],
      derivedExprs: Map[String, org.apache.spark.sql.catalyst.expressions.Expression]): Unit =
    graft.plans.AggRollupRewrite.registerView(spark, sp.sourceRoot,
      sp.groupBy, measures, provider, distincts, derivedExprs)

  def unregisterRewrite(spark: SparkSession): Unit =
    graft.plans.AggRollupRewrite.unregisterView(spec(spark).sourceRoot)
}

object MaterializedAggView {
  private[tables] val NCol = "__mv_n"
  private[tables] val SeqCol = "__mv_v"
  private val TxnId = "mv"

  /** Bitmask state-key column recording which group columns were NULL in
    * the source row (bit i = group column i). SQL GROUP BY groups null
    * keys, but the engine's bucketed business keys (like Delta MERGE
    * keys) must be non-null — so the single-table view ENCODES at the
    * state boundary: nullable group values are stored as a per-type zero
    * with the mask bit set, every internal key join/probe runs null-free
    * over (groupBy…, mask), and reads DECODE the nulls back. Two groups
    * that collide on the zero value stay distinct state keys (their
    * masks differ). */
  private[tables] val NullsCol = "__mv_nulls"

  /** The stand-in stored for a NULL group value of this type (the mask
    * bit is what distinguishes it from a real zero). None = type has no
    * safe stand-in; nullable group columns of such types keep the legacy
    * non-null contract. */
  private def zeroLitOpt(dt: DataType): Option[Column] = dt match {
    case StringType => Some(lit(""))
    case BooleanType => Some(lit(false))
    case _: NumericType => Some(lit(0).cast(dt))
    case DateType => Some(lit(java.sql.Date.valueOf("1970-01-01")))
    case TimestampType =>
      Some(lit(java.sql.Timestamp.from(java.time.Instant.EPOCH)))
    case _ => None
  }

  /** Compute a spec's DERIVED dimension columns on a source-shaped frame
    * (refresh windows, rescan bases): one `withColumn(name, expr)` per
    * declared derived dim. Fails loudly on a name collision with a source
    * column — silently shadowing one would change fold semantics — and on
    * a non-deterministic or evaluation-time-dependent expression: the
    * retraction algebra requires a preimage row to derive EXACTLY the
    * value its insert did, and `datediff(current_date(), dt)` (or
    * rand()) computes a different value per refresh window, silently
    * corrupting routed group state. */
  private[tables] def applyDerived(df: DataFrame,
      derived: Seq[(String, String)], what: String): DataFrame =
    derived.foldLeft(df) { case (d, (n, e)) =>
      require(!d.columns.contains(n),
        s"$what: derived dim '$n' collides with a source column")
      requireStableDim(
        resolvedExprOf(d.select(expr(e).as(n))), n, e, what)
      d.withColumn(n, expr(e))
    }

  /** The analyzed expression under a single-projection frame's alias. */
  private def resolvedExprOf(projected: DataFrame)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    projected.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
      .projectList.head
      .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Alias].child

  /** Reject derived-dim expressions whose value depends on WHEN they are
    * evaluated: non-deterministic nodes (rand, uuid, …) and the
    * evaluation-clock family (current_date/current_timestamp/now/
    * localtimestamp/current_timezone), which Catalyst marks deterministic
    * but each refresh resolves to a different instant — either breaks the
    * preimage-derives-the-same-value invariant the fold algebra rests on. */
  private[tables] def requireStableDim(
      resolved: org.apache.spark.sql.catalyst.expressions.Expression,
      n: String, e: String, what: String): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{CurrentDate, CurrentTimestampLike, CurrentTimeZone, LocalTimestamp}
    require(resolved.deterministic,
      s"$what: derived dim '$n' = '$e' is non-deterministic — each refresh " +
        "would derive different values and retractions would not cancel")
    require(!resolved.exists {
      case _: CurrentDate | _: CurrentTimestampLike | _: CurrentTimeZone |
          _: LocalTimestamp => true
      case _ => false
    }, s"$what: derived dim '$n' = '$e' depends on the evaluation clock " +
      "(current_date/current_timestamp/now/localtimestamp) — a preimage row " +
      "must derive the same value its insert did; derive the age/bucket at " +
      "query time over a stable stored dim instead")
  }

  /** Resolve each declared derived expression against `schema` (an empty
    * frame — analysis only, no IO) and NORMALIZE it for the structural
    * grouping-expression match ([[graft.plans.AggRollupRewrite.normalizeDim]]).
    * Shared by both view engines' `registerRewrite`: the single-table
    * kind resolves over the source schema, join/star over the JOINED
    * column set (fact columns ++ each dim's non-key columns), which is
    * exactly the namespace a query's grouping expression resolves in. */
  private[tables] def resolveDerivedDims(spark: SparkSession,
      schema: StructType, derived: Seq[(String, String)], what: String)
      : Map[String, org.apache.spark.sql.catalyst.expressions.Expression] =
    if (derived.isEmpty) Map.empty
    else {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      derived.map { case (n, eStr) =>
        val resolved = resolvedExprOf(empty.select(expr(eStr).as(n)))
        requireStableDim(resolved, n, eStr, what)
        n -> graft.plans.AggRollupRewrite.normalizeDim(resolved)
      }.toMap
    }

  /** Create-time derived-dim validation shared by both view engines
    * (the fold/spec machinery is kind-agnostic, so the contract is too). */
  private[tables] def validateDerived(groupBy: Seq[String], aggs: Seq[Agg],
      derived: Seq[(String, String)]): Unit = {
    derived.foreach { case (n, e) =>
      require(groupBy.contains(n),
        s"derived dim '$n' must appear in the GROUP BY column list")
      require(e.trim.nonEmpty, s"derived dim '$n' needs a non-empty expression")
      // spec lines split on the FIRST '=', so '=' inside the expression is
      // fine; only newlines would break the line-oriented encoding
      require(!e.contains("\n"),
        s"derived dim '$n': expression may not contain newlines")
      require(!aggs.flatMap(_.col).contains(n),
        s"derived dim '$n' cannot also be a measure column")
    }
    require(derived.map(_._1).distinct.size == derived.size,
      "duplicate derived dim names")
  }

  /** Spec-file `derived.<name>=<expr>` lines, ordered by groupBy position
    * — the shared read side of the derived-dim DDL encoding. */
  private[tables] def derivedOf(kv: Map[String, String],
      groupBy: Seq[String]): Seq[(String, String)] =
    kv.toSeq.collect {
      case (k, v) if k.startsWith("derived.") => k.stripPrefix("derived.") -> v
    }.sortBy { case (n, _) => groupBy.indexOf(n) }

  /** Replace NULL group values with their typed stand-ins and append the
    * [[NullsCol]] bitmask — the state-boundary encoding. Non-nullable
    * (or stand-in-less) columns pass through with a 0 bit. */
  private[tables] def encodeNulls(df: DataFrame, groupBy: Seq[String]): DataFrame = {
    val bits = groupBy.zipWithIndex.map { case (g, i) =>
      val f = df.schema(g)
      if (!f.nullable) lit(0L)
      else zeroLitOpt(f.dataType) match {
        case Some(_) => when(col(g).isNull, lit(1L << i)).otherwise(0L)
        case None => lit(0L)
      }
    }
    val withMask = df.withColumn(NullsCol, bits.reduce(_ + _))
    groupBy.foldLeft(withMask) { (d, g) =>
      val f = df.schema(g)
      if (!f.nullable) d
      else zeroLitOpt(f.dataType) match {
        case Some(z) => d.withColumn(g, coalesce(col(g), z))
        case None => d
      }
    }
  }

  /** Fail LOUDLY on null group keys that the state machinery would
    * otherwise silently drop through its key-equality merges/probes —
    * a routed query would return answers missing that group. Applies to
    * ALL group columns of a legacy (pre-mask) spec, and — even on mask
    * specs — to nullable group columns whose type has no stand-in
    * (array/map/binary/struct…; [[encodeNulls]] passes their NULLs
    * through untouched). Cheap: `df` is the checkpointed O(changed
    * groups) grouped delta, and the probe is skipped entirely when no
    * column is at risk (every maskable spec with standard types). */
  private[tables] def requireNoUnguardedNullGroups(df: DataFrame,
      nullMask: Boolean, groupBy: Seq[String], what: String): Unit = {
    val unguarded: Seq[String] =
      if (!nullMask) groupBy
      else groupBy.filter { g =>
        val f = df.schema(g)
        f.nullable && zeroLitOpt(f.dataType).isEmpty
      }
    if (unguarded.nonEmpty)
      require(df.filter(unguarded.map(col(_).isNull).reduce(_ || _))
          .limit(1).count() == 0L,
        s"$what: NULL group-key values in this refresh window — " +
          (if (!nullMask)
            "this legacy (pre-null-mask) view requires non-null GROUP BY " +
              "columns (derive coalesce(g, '<none>') upstream, or recreate " +
              "the view, which enables null-group support)"
          else
            s"group column(s) ${unguarded.mkString(", ")} have types with " +
              "no null stand-in (array/map/binary/struct), which the " +
              "null-mask encoding cannot represent — derive a maskable " +
              "(e.g. string) group key upstream"))
  }

  /** Restore the NULLs [[encodeNulls]] replaced and drop the mask. */
  private[tables] def decodeNulls(df: DataFrame, groupBy: Seq[String]): DataFrame =
    groupBy.zipWithIndex.foldLeft(df) { case (d, (g, i)) =>
      d.withColumn(g,
        when(col(NullsCol).bitwiseAND(lit(1L << i)) =!= 0L, lit(null))
          .otherwise(col(g)))
    }.drop(NullsCol)
  private[tables] val ValCol = "__mv_val"
  private[tables] val VcCol = "__mv_vc"
  private val DvcCol = "__mv_dvc"
  private val VcNewCol = "__mv_vc_new"
  private def nnCol(as: String) = s"__mv_nn_$as"
  private def sumCol(as: String) = s"__mv_sum_$as"
  private def sumSqCol(as: String) = s"__mv_sumsq_$as"
  private[tables] def mmCol(fn: String, as: String) = s"__mv_${fn}_$as"
  private[tables] def dcCol(as: String) = s"__mv_dc_$as"

  final case class Agg(fn: String, col: Option[String], as: String) {
    def render: String = s"$fn:${col.getOrElse("*")}:$as"
  }
  object Agg {
    private[tables] def parse(s: String): Agg = s.split(":") match {
      case Array(fn, "*", as) => Agg(fn, None, as)
      case Array(fn, c, as)   => Agg(fn, Some(c), as)
      case _ => throw new IllegalArgumentException(s"malformed agg spec '$s'")
    }
  }

  final case class Spec(sourceRoot: String, sourceKeys: Seq[String],
      groupBy: Seq[String], aggs: Seq[Agg], numBuckets: Int,
      nullMask: Boolean = true,
      /** DERIVED dimension columns (r13): (state column name, SQL expr
        * over the SOURCE row) — `month(o_orderdate) AS m` declared in the
        * view DDL. Computed on every refresh window before the fold and
        * maintained exactly like any group column; the transparent
        * routing matches a query grouping by the same expression tree
        * (the single most common dashboard rollup shape). Names appear
        * in `groupBy` like any other dim. */
      derived: Seq[(String, String)] = Nil) extends ViewSpec

  /** Dedicated daemon pool for aux-table merges that run CONCURRENTLY
    * with the main-state fold (see [[foldDistinct]]'s commit thunk): the
    * aux staging write and the main-side staging/compute are independent
    * Spark jobs over independent table roots, and running them in
    * sequence was the measured ~half of every count-distinct refresh
    * (NOTES_r12: two staging writes ≈ 3 s of a 6.4 s refresh). Unbounded
    * cached pool is fine — a refresh holds at most #distinct-aggs tasks. */
  private[tables] val auxEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-mv-aux"); t.setDaemon(true); t
      }))

  /** Fold ONE count-distinct measure's signed pair deltas into its aux
    * occurrence table and return (per-group distinct-count delta, the
    * aux COMMIT as a deferred thunk) — the shared core of exact
    * retractable COUNT(DISTINCT) for every view kind. The transition
    * frame (and hence the returned dc delta) derives from the PRE-merge
    * aux state and is pinned eagerly, so the caller may run the commit
    * thunk CONCURRENTLY with its own main-side fold — the only ordering
    * obligation is that every aux thunk COMPLETES before the main state
    * commits (the aux-ahead crash matrix covers any subset of aux tables
    * committed at a crash: all of one refresh's aux commits stamp the
    * same `txnValue`, and the replay pins each committed-ahead aux
    * independently).
    *
    * `feed` is the view's signed delta relation (single-table change
    * feed or a joined delta), `sign` its ±1 column; `txnValue` stamps
    * the aux merge (the view's ledger value for this refresh) and
    * `lastTxn` is the MAIN state's last applied ledger value — when the
    * aux table committed AHEAD of it (a crash between the two commits),
    * the current pairs are re-read at the aux version the ledger pins to
    * `lastTxn`, so the replayed transitions match what the crashed run
    * derived. `beforeMerge` runs immediately before the aux merge (lock
    * re-check), `afterMerge` right after (fault-injection hook); both
    * run inside the thunk, on its thread. */
  private[tables] def foldDistinct(spark: SparkSession,
      dst: BucketedSnapshotTable, feed: DataFrame, sign: Column,
      groupBy: Seq[String], valueCol: String, txnId: String,
      txnValue: Long, lastTxn: Long, dcName: String,
      beforeMerge: () => Unit, afterMerge: () => Unit,
      prepared: Option[DataFrame] = None): (DataFrame, () => Unit) = {
    val keyCols = groupBy :+ ValCol
    // pinned at (group, value) grain — small — because THREE consumers
    // read it (the bucket probe, possibly the crash semi-join, and the
    // transition join); this also caps re-execution of an UNPINNED feed
    // (a bootstrap's full join) at once per distinct agg. A caller that
    // already derived the pair grain in its ONE-PASS base ([[onePassDeltas]])
    // hands it in `prepared` — checkpoint-backed there, so no second feed
    // scan and no second pin here.
    val pairDelta = prepared.getOrElse(feed.filter(col(valueCol).isNotNull)
      .groupBy((groupBy.map(col) :+ col(valueCol).as(ValCol)): _*)
      .agg(sum(sign).as(DvcCol))
      .transform(Pin(_)))
    def emptyAux = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(keyCols.map(n => pairDelta.schema(n)) :+
        StructField(VcCol, LongType, nullable = true)))
    // r15 job fusion: the normal-path probe's bucket set is reused by the
    // commit's merge (auxUp = a left join of pairDelta — same key set)
    var pairBuckets: Option[Set[Int]] = None
    val curAux: DataFrame =
      if (!dst.exists(spark)) emptyAux
      else {
        val applied = dst.appliedTxn(spark, txnId).getOrElse(0L)
        val raw =
          if (applied <= lastTxn) {
            // normal path: bucket-pruned point read of the changed pairs
            val (df, w) = dst.readKeysWithBuckets(spark,
              pairDelta.select(keyCols.map(col): _*))
            pairBuckets = Some(w)
            df
          } else {
            // crash replay: this aux table already committed the target
            // but the main state did not — re-read it as of the last
            // fully applied refresh so the recomputed transitions match
            // what the crashed run derived (rare path; pays a version read)
            dst.versionWithTxnAtMost(spark, txnId, lastTxn) match {
              case None => emptyAux
              case Some(pin) => dst.readVersion(spark, pin)
                .join(pairDelta.select(keyCols.map(col): _*).distinct(),
                  keyCols, "left_semi")
            }
          }
        graft.cdc.ScdMerge.scd1Current(raw)
          .select(keyCols.map(col) :+ col(VcCol): _*)
      }
    val trans = pairDelta.join(curAux, keyCols, "left")
      .withColumn(VcNewCol, coalesce(col(VcCol), lit(0L)) + col(DvcCol))
      .transform(Pin(_))
    val auxUp = trans.select(keyCols.map(col) ++
      Seq(col(VcNewCol).as(VcCol), lit(txnValue).as(SeqCol)): _*)
    val commit = () => {
      beforeMerge()
      dst.scd1Merge(spark, auxUp, SeqCol,
        applyAsDeletes = Some(col(VcCol) === 0L),
        txn = Some((txnId, txnValue)),
        knownBuckets = pairBuckets)
      afterMerge()
    }
    (trans.groupBy(groupBy.map(col): _*)
      .agg(sum((col(VcNewCol) > 0).cast(LongType) -
        (coalesce(col(VcCol), lit(0L)) > 0).cast(LongType)).as(dcName)),
      commit)
  }

  /** ONE pass over the signed feed producing BOTH maintenance grains when
    * the view has exactly one count-distinct aggregate — the dominant
    * shape, and the one the old two-pass layout (group-grain delta + a
    * separate (group, value)-grain pair delta) charged a second full feed
    * scan + shuffle for. The BASE frame aggregates every additive measure
    * partial at the (group…, value) grain and is the single pinned
    * artifact; the group-grain delta RE-AGGREGATES the checkpointed base
    * (O(changed pairs) rows, no feed re-scan — exact for long/decimal
    * partials, same double-sum nondeterminism class as any regrouped
    * sum), and the pair delta is a filter+projection of it (its signed
    * count IS the base's [[NCol]] partial at this grain).
    *
    * Returns (group-grain delta ≡ the old `delta0`, pair delta ≡ the old
    * `foldDistinct` internal frame — pass it via `prepared`). */
  private[tables] def onePassDeltas(feed: DataFrame, sign: Column,
      gk: Seq[String], valueCol: String, deltaAggs: Seq[Column],
      sumTypes: Map[String, DataType]): (DataFrame, DataFrame) = {
    val base = feed
      .groupBy((gk.map(col) :+ col(valueCol).as(ValCol)): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
      .transform(Pin(_))
    val aggOuts = base.columns.filterNot(c => gk.contains(c) || c == ValCol)
    val reAggs: Seq[Column] = aggOuts.toSeq.map { c =>
      sumTypes.get(c) match {
        case Some(t) => sum(col(c)).cast(t).as(c) // decimal widening back to acc type
        case None => sum(col(c)).as(c)            // long partials re-sum exactly
      }
    }
    val delta0 = base.groupBy(gk.map(col): _*).agg(reAggs.head, reAggs.tail: _*)
    val pair = base.filter(col(ValCol).isNotNull)
      .select(gk.map(col) :+ col(ValCol) :+ col(NCol).as(DvcCol): _*)
    (delta0, pair)
  }

  /** [[onePassDeltas]]' sum-accumulator type map: re-aggregated decimal
    * partials must cast back to the accumulator type the state stores. */
  private[tables] def sumTypesOf(accTypes: Map[String, DataType],
      sqTypes: Map[String, DataType] = Map.empty): Map[String, DataType] =
    accTypes.map { case (as, t) => sumCol(as) -> t } ++
      sqTypes.map { case (as, t) => sumSqCol(as) -> t }

  /** One count-distinct measure's live (groupBy…, value) PAIR relation in
    * routing format (value as [[graft.plans.AggRollupRewrite.DistinctValCol]]),
    * read PINNED to the main state's applied refresh when the aux table
    * committed ahead of it — shared by every view kind's rewrite
    * registration. */
  private[tables] def auxPairs(spark: SparkSession, dst: BucketedSnapshotTable,
      mainTxn: Long, txnId: String, groupBy: Seq[String]): DataFrame = {
    // Pin ONE aux head version and derive both the branch decision and the
    // fast-path read from it: `appliedTxn` + `read` were two separate head
    // reads, and a refresh committing the aux between them handed a routed
    // query pair counts NEWER than the pinned rollup state — the exact
    // mixed-version read routingProviders closes for the main state
    // (COUNT(DISTINCT) could exceed COUNT(*) in one query).
    val headV = dst.currentVersion(spark)
    val auxV = headV.flatMap(v => dst.appliedTxnAt(spark, txnId, v)).getOrElse(0L)
    val raw =
      if (auxV <= mainTxn) headV match {
        case Some(v) => dst.readVersion(spark, v)
        case None => dst.read(spark) // nonexistent aux: same loud failure as before
      }
      else dst.versionWithTxnAtMost(spark, txnId, mainTxn) match {
        case Some(pin) => dst.readVersion(spark, pin)
        case None => dst.read(spark).filter(lit(false)) // aux exists, main
          // never applied: no pairs are visible yet
      }
    graft.cdc.ScdMerge.scd1Current(raw).filter(col(VcCol) > 0L)
      .select(groupBy.map(col) :+
        col(ValCol).as(graft.plans.AggRollupRewrite.DistinctValCol): _*)
  }

  /** Variance-family aggregates (r12): maintained EXACTLY via sum +
    * sum-of-squares partials — both additive and retractable, the same
    * cost class as sum. The final value is a deterministic double
    * derivation from exact partials: `(Σx² − (Σx)²/n) / (n − ddof)`. */
  private[tables] val VarFns =
    Set("var_samp", "var_pop", "stddev_samp", "stddev_pop")

  // ── ONE copy of the per-aggregate fold algebra, shared by all three
  //    view kinds (single/join/star) — a semantics fix here reaches every
  //    kind at once. min/max contribute nothing to the delta/accumulator
  //    sets (the single-table view RESCANS them; join/star reject them at
  //    create); count(*) rides NCol.

  /** Apply a ±1 sign to an exact partial by NEGATION, never by
    * multiplication: `decimal × long(sign)` goes through Spark's decimal
    * multiply typing, whose allowPrecisionLoss adjustment clamps the
    * result scale to min(scale, 6) — a measure with scale ≥ 4 would have
    * its Σx² partial (scale 2s) silently rounded before the cast back to
    * the accumulator type, breaking the documented exact-square contract.
    * Decimal negation is exact in the operand's own type. */
  private def signed(x: Column, sign: Column): Column =
    when(sign > 0, x).otherwise(-x)

  /** Signed delta columns for one refresh window: NCol first, then per
    * agg its nn/sum/sumsq partials. `mcol` maps a measure to its shadowed
    * raw column when it is also a nullable group column. */
  private[tables] def deltaAggsFor(aggs: Seq[Agg], mcol: String => String,
      sign: Column, accTypes: Map[String, DataType],
      sqTypes: Map[String, DataType], schema: StructType): Seq[Column] =
    sum(sign).as(NCol) +: aggs.flatMap { a =>
      a.fn match {
        case "count" if a.col.isEmpty => Nil // count(*) rides NCol
        case "count" => Seq(
          sum(when(col(mcol(a.col.get)).isNotNull, sign).otherwise(0L)).as(nnCol(a.as)))
        case "count_distinct" => Nil // maintained via the aux table
        case "min" | "max" => Nil // non-invertible: rescanned (single-table)
        case fn if VarFns(fn) =>
          // variance family: Σx and Σx² partials, both EXACT (decimal)
          // hence retractable without drift. The square multiplies in the
          // measure's NATURAL decimal type ((p,s)×(p,s) → (2p+1,2s), exact
          // for p ≤ 18 — squaring in the already-widened (38,2s) type
          // would trip Spark's precision-loss scale reduction) and
          // integrals go through DECIMAL(19,0) (a long's square overflows
          // long); only then widen to the accumulator type.
          val c = mcol(a.col.get)
          val t = accTypes(a.as)
          val t2 = sqTypes(a.as)
          val sqBase: Column = schema(c).dataType match {
            case _: DecimalType => col(c)
            case _: FloatType | _: DoubleType => col(c).cast(DoubleType)
            case _ => col(c).cast(DecimalType(19, 0))
          }
          val sq = (sqBase * sqBase).cast(t2)
          Seq(
            sum(when(col(c).isNotNull, sign).otherwise(0L)).as(nnCol(a.as)),
            sum(when(col(c).isNotNull, signed(col(c).cast(t), sign)).otherwise(lit(null)))
              .cast(t).as(sumCol(a.as)),
            sum(when(col(c).isNotNull, signed(sq, sign).cast(t2)).otherwise(lit(null)))
              .cast(t2).as(sumSqCol(a.as)))
        case "sum" | "avg" =>
          val c = mcol(a.col.get)
          val t = accTypes(a.as)
          Seq(
            sum(when(col(c).isNotNull, sign).otherwise(0L)).as(nnCol(a.as)),
            sum(when(col(c).isNotNull, signed(col(c).cast(t), sign)).otherwise(lit(null)))
              .cast(t).as(sumCol(a.as)))
        case other => throw new IllegalArgumentException(
          s"unsupported aggregate '$other' in maintenance fold")
      }
    }

  /** Accumulator (state) columns per agg, NCol first — the fold target. */
  private[tables] def accColsFor(aggs: Seq[Agg],
      accTypes: Map[String, DataType],
      sqTypes: Map[String, DataType]): Seq[(String, DataType)] =
    (NCol, LongType) +: aggs.flatMap { a =>
      a.fn match {
        case "count" if a.col.isEmpty => Nil
        case "count" => Seq(nnCol(a.as) -> LongType)
        case "count_distinct" => Seq(dcCol(a.as) -> LongType)
        case "min" | "max" => Nil
        case fn if VarFns(fn) =>
          Seq(nnCol(a.as) -> LongType, sumCol(a.as) -> accTypes(a.as),
            sumSqCol(a.as) -> sqTypes(a.as))
        case _ => Seq(nnCol(a.as) -> LongType, sumCol(a.as) -> accTypes(a.as))
      }
    }

  /** User-facing read outputs per agg (SQL null semantics everywhere:
    * count-0 sums/avgs read back NULL, var_samp needs n>1, var_pop n>0). */
  private[tables] def readOutputs(aggs: Seq[Agg]): Seq[Column] = aggs.map { a =>
    a.fn match {
      case "count" if a.col.isEmpty => col(NCol).as(a.as)
      case "count" => col(nnCol(a.as)).as(a.as)
      case "count_distinct" => col(dcCol(a.as)).as(a.as)
      case "min" | "max" => col(mmCol(a.fn, a.as)).as(a.as)
      case "sum" => when(col(nnCol(a.as)) > 0, col(sumCol(a.as))).as(a.as)
      case "avg" => when(col(nnCol(a.as)) > 0,
        col(sumCol(a.as)).cast(DoubleType) / col(nnCol(a.as))).as(a.as)
      case fn if VarFns(fn) =>
        // deterministic double derivation from EXACT partials:
        // (Σx² − (Σx)²/n) / (n − ddof); clamped at 0 against float
        // cancellation; NULL below the SQL row minimum
        val nn = col(nnCol(a.as)).cast(DoubleType)
        val sm = col(sumCol(a.as)).cast(DoubleType)
        val sq = col(sumSqCol(a.as)).cast(DoubleType)
        val pop = fn.endsWith("_pop")
        val v = greatest(
          (sq - sm * sm / nn) / (if (pop) nn else nn - 1.0), lit(0.0))
        val minN = if (pop) 0 else 1
        when(col(nnCol(a.as)) > minN,
          if (fn.startsWith("stddev")) sqrt(v) else v).as(a.as)
    }
  }

  /** Routing rollup-format columns (group cols + `__cnt` + per-measure
    * partials) — what [[graft.plans.AggRollupRewrite]] consumes. Measure
    * names are SOURCE column names; when several declared aggregates
    * cover one measure, the first one's accumulators win (identical by
    * construction). Sum partials expose NULL (not the accumulator's 0)
    * for all-null groups — SQL SUM semantics the rewrite re-sums. */
  private[tables] def rollupColumns(aggs: Seq[Agg],
      groupBy: Seq[String]): Seq[Column] = {
    val perMeasure = aggs.filter(a => a.fn == "sum" || a.fn == "avg")
      .groupBy(_.col.get).map { case (m, as) => m -> as.head.as }
    val nnOnly = aggs.filter(a => a.fn == "count" && a.col.nonEmpty)
      .filterNot(a => perMeasure.contains(a.col.get))
      .groupBy(_.col.get).map { case (m, as) => m -> as.head.as }
    val mm = aggs.filter(a => a.fn == "min" || a.fn == "max")
      .groupBy(a => (a.fn, a.col.get)).map { case ((fn, m), as) => (fn, m, as.head.as) }
    val dcs = aggs.filter(_.fn == "count_distinct")
      .groupBy(_.col.get).map { case (m, as) => m -> as.head.as }
    // variance measures expose __sumsq_ always, plus __sum_/__nn_ when no
    // sum/avg/count(c) aggregate over the same measure already does
    val vars = aggs.filter(a => VarFns(a.fn))
      .groupBy(_.col.get).map { case (m, as) => m -> as.head.as }
    groupBy.map(col) ++
      Seq(col(NCol).as("__cnt")) ++
      perMeasure.toSeq.flatMap { case (m, as) => Seq(
        when(col(nnCol(as)) > 0, col(sumCol(as))).as(s"__sum_$m"),
        col(nnCol(as)).as(s"__nn_$m"))
      } ++
      nnOnly.toSeq.map { case (m, as) => col(nnCol(as)).as(s"__nn_$m") } ++
      mm.toSeq.map { case (fn, m, as) => col(mmCol(fn, as)).as(s"__${fn}_$m") } ++
      dcs.toSeq.map { case (m, as) => col(dcCol(as)).as(s"__dc_$m") } ++
      vars.toSeq.flatMap { case (m, as) =>
        Seq(when(col(nnCol(as)) > 0, col(sumSqCol(as))).as(s"__sumsq_$m")) ++
          (if (perMeasure.contains(m)) Nil
           else Seq(when(col(nnCol(as)) > 0, col(sumCol(as))).as(s"__sum_$m"))) ++
          (if (perMeasure.contains(m) || nnOnly.contains(m)) Nil
           else Seq(col(nnCol(as)).as(s"__nn_$m")))
      }
  }

  /** Oracle-contract guard for variance gate FIXTURES (not an engine
    * limit): DuckDB casts its int128 Σx² numerator to double via
    * int128→double, which DOUBLE-ROUNDS above 2⁵³, while Spark's
    * BigDecimal path rounds once — a 1-ulp divergence that would surface
    * as a silent oracle hash flake. The engine's partials are exact
    * either way; this guard makes a fixture that drifts over the bound
    * fail LOUDLY at build time instead (NOTES_r12 §7 / q336). */
  def requireVarianceOracleSafe(df: DataFrame, groupBy: Seq[String],
      measure: String): Unit = {
    val g = df.groupBy(groupBy.map(col): _*)
      .agg(sum(col(measure) * col(measure)).as("__sq"))
      .agg(max(abs(col("__sq")))).head()
    if (!g.isNullAt(0)) {
      val m = g.getDecimal(0)
      require(m.unscaledValue().bitLength() <= 53,
        s"variance oracle contract: max |Σ($measure)²| numerator " +
          s"${m.unscaledValue()} reaches 2^53 — DuckDB's int128→double cast " +
          "double-rounds above it while Spark rounds once (1-ulp oracle " +
          "divergence); shrink the fixture measure (e.g. `% 1000`)")
    }
  }

  /** Accumulator type for one additive measure: exact for integrals
    * (LONG) and decimals (DECIMAL(p+10, s) — Spark's own sum widening);
    * double for floats. ONE copy shared by both view engines — a
    * widening fix here reaches every kind. */
  private[tables] def accumulatorType(fn: String, colName: String,
      dt: DataType): DataType = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType => LongType
    case d: DecimalType => DecimalType(math.min(38, d.precision + 10), d.scale)
    case _: FloatType | _: DoubleType => DoubleType
    case other => throw new IllegalArgumentException(
      s"$fn($colName): unsupported measure type $other")
  }

  /** Sum-of-SQUARES accumulator type for a variance measure: exact
    * decimals where the square stays exact (integrals → DECIMAL(38,0),
    * decimals with p ≤ 18 → DECIMAL(38, 2s) — the square's natural scale),
    * double for floats. Exactness is what makes the partials retractable
    * without drift: update+delete refreshes reproduce a recompute's
    * partials bit for bit. */
  private[tables] def sumSqType(fn: String, colName: String,
      dt: DataType): DataType = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType =>
      DecimalType(38, 0) // x² of a long overflows long; exact in 38 digits
    case d: DecimalType =>
      require(d.precision <= 18,
        s"$fn($colName): variance over DECIMAL(p > 18) cannot keep an exact " +
          "square partial (2p+1 > 38) — cast the measure down first")
      DecimalType(38, math.min(18, 2 * d.scale))
    case _: FloatType | _: DoubleType => DoubleType
    case other => throw new IllegalArgumentException(
      s"$fn($colName): unsupported measure type $other")
  }

  /** Accumulator type per agg output (see [[accumulatorType]]) — sum/avg
    * AND the variance family (whose Σx partial uses the same widening). */
  private[tables] def accumulatorTypes(aggs: Seq[Agg],
      feedSchema: StructType): Map[String, DataType] =
    aggs.collect {
      case a if a.fn == "sum" || a.fn == "avg" || VarFns(a.fn) =>
        val c = a.col.getOrElse(throw new IllegalArgumentException(
          s"${a.fn} needs a column"))
        a.as -> accumulatorType(a.fn, c, feedSchema(c).dataType)
    }.toMap

  /** Σx² accumulator type per variance agg output (see [[sumSqType]]). */
  private[tables] def sumSqTypes(aggs: Seq[Agg],
      feedSchema: StructType): Map[String, DataType] =
    aggs.collect {
      case a if VarFns(a.fn) =>
        val c = a.col.get
        a.as -> sumSqType(a.fn, c, feedSchema(c).dataType)
    }.toMap

  /** Declare the view: persist the spec (no data moves until the first
    * [[MaterializedAggView.refresh]]). Rejects non-invertible aggregates
    * unless `allowRescan`. */
  def create(spark: SparkSession, root: String, sourceRoot: String,
      sourceKeys: Seq[String], groupBy: Seq[String], aggs: Seq[Agg],
      numBuckets: Int = 16, allowRescan: Boolean = false,
      derived: Seq[(String, String)] = Nil): MaterializedAggView = {
    MaterializedView.createSpec(spark, root, "_mv", "MaterializedAggView",
      "materialized view",
      Seq(s"sourceRoot=$sourceRoot", s"sourceKeys=${sourceKeys.mkString(",")}"),
      groupBy, aggs, numBuckets, derived,
      if (allowRescan) MaterializedView.AllFns else MaterializedView.InvertibleFns,
      fn =>
        if (!MaterializedView.AllFns(fn)) s"unsupported aggregate '$fn'"
        else s"'$fn' is not invertible and cannot be maintained from the " +
          "change feed alone — opt into WITH RESCAN (each refresh then " +
          "recomputes min/max for the changed groups from the source)")
    new MaterializedAggView(root)
  }
}
