package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incrementally-maintained aggregate over a STAR join — one fact table
  * inner-joined to N dimensions, each on its own equi-keys. A join view
  * ([[MaterializedJoinAggView]], `CREATE MATERIALIZED JOIN VIEW`) is the
  * N = 1 case: same engine, same state layout, same routing. The
  * telescoping delta identity: replacing one factor at a time, left to
  * right,
  *
  * {{{
  * F'D1'…Dn' − F D1…Dn  =  ΔF⋈D1'⋈…⋈Dn'
  *                       + F⋈ΔD1⋈D2'⋈…⋈Dn'
  *                       + F⋈D1⋈ΔD2⋈D3'⋈…⋈Dn'
  *                       + …
  *                       + F⋈D1⋈…⋈D(n−1)⋈ΔDn
  * }}}
  *
  * (unprimed = version as of the LAST refresh, primed = the version this
  * refresh applies; exactly one Δ factor per leg, so each joined row's
  * sign is that delta row's sign). Cost shape per refresh:
  *
  *  - the ΔF leg is O(fact delta) + one bucket-pruned point lookup per
  *    dim (dims are bucketed by their join keys, their natural layout);
  *  - each ΔDi leg reads the OLD fact through the pruning file index
  *    with an IN-list on Di's changed join keys (stats/Bloom skipping),
  *    then point-looks-up the other dims for the surviving rows' keys —
  *    dim changes are rare and narrow at 100 TB, and this is what makes
  *    a dimension attribute flip move every joined fact row between
  *    groups with NO fact recompute, N-way.
  *
  * The signed joined delta folds into a bucketed state table exactly
  * like the sibling views: O(changed groups) state IO.
  *
  * Exactly-once with N+1 source versions (too many to pack into one
  * ledger long): each refresh is numbered. The refresh FIRST overwrites
  * `_applied_<n+1>` (the version vector it is about to apply), THEN
  * merges with `txn:mvs=<n+1>` — the vector file is only trusted once
  * the ledger names it, so a crash between the two leaves a stale
  * `_applied_<n+1>` that the next attempt simply overwrites, and a
  * replayed refresh of a committed number no-ops on the ledger. The
  * recovery base is always `_applied_<appliedTxn>`, written by the run
  * that committed it and never touched since.
  *
  * Contracts: additive aggregates plus `count(distinct c)` (the shared
  * aux occurrence fold over the star's signed joined delta; the
  * crashed-window vector is recorded in `_applied_aux_<n>` BEFORE any aux
  * merge so replays pin exactly), non-null JOIN keys (they drive the
  * pruned point reads) with NULL group keys supported via the shared
  * null-mask encoding (legacy pre-mask specs keep the non-null group
  * contract and fail loudly on violation), distinct column names across
  * sides apart from join keys, `VACUUM … KEEP` ≥ refresh lag on every
  * source. min/max stay out: they would need rescans over the join, a
  * cost class [[MaterializedAggView]]'s single-table RESCAN mode prices
  * but a join cannot bound. Refreshes
  * SERIALIZE on the view root's commit lock: two racing refreshes would
  * both claim number n+1, and the loser's vector overwrite could
  * mislabel the winner's committed window — under the lock the loser
  * re-reads the ledger and claims n+2 over the remainder. A holder
  * stolen from while paused (presumed dead) aborts before writing its
  * vector instead of clobbering the stealer's.
  */
final class MaterializedStarAggView(val root: String) {
  import MaterializedAggView.{Agg, NCol, SeqCol}
  import MaterializedStarAggView._

  private def fs(spark: SparkSession) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def specPath = new Path(root, "_mvs")

  def spec(spark: SparkSession): Spec = {
    val f = fs(spark)
    val lines = MetaIO.read(f, specPath).getOrElse {
      refuseLegacyJoinRoot(f, root)
      throw new IllegalArgumentException(s"MaterializedStarAggView $root: no _mvs spec")
    }.linesIterator.map(_.trim).filter(_.nonEmpty).toVector
    val kv = lines.map { l =>
      val i = l.indexOf('=')
      require(i > 0, s"MaterializedStarAggView $root: malformed _mvs line '$l'")
      l.take(i) -> l.drop(i + 1)
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(
      s"MaterializedStarAggView $root: _mvs lacks $k"))
    def list(k: String) = kv.getOrElse(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val n = need("dims").toInt
    val dims = (0 until n).map { i =>
      Dim(need(s"dim$i.root"), list(s"dim$i.keys"), list(s"dim$i.join"))
    }
    val groupBy = list("groupBy")
    Spec(need("factRoot"), list("factKeys"), dims, groupBy,
      list("aggs").map(Agg.parse), kv.getOrElse("numBuckets", "16").toInt,
      nullMask = kv.get("nullMask").contains("1"),
      derived = MaterializedAggView.derivedOf(kv, groupBy))
  }

  /** State business keys: group columns plus the null-mask when the spec
    * records it (see [[MaterializedAggView.NullsCol]]). */
  private def groupKeys(sp: Spec): Seq[String] =
    if (sp.nullMask) sp.groupBy :+ MaterializedAggView.NullsCol else sp.groupBy

  private def state(sp: Spec) =
    new BucketedSnapshotTable(s"$root/state", sp.numBuckets, groupKeys(sp))

  /** Auxiliary occurrence table for one `count(distinct c)` over the
    * star result — the shared pair-count shape (see
    * [[MaterializedAggView.foldDistinct]]). */
  private def auxState(sp: Spec, as: String) =
    new BucketedSnapshotTable(s"$root/dstate_$as", sp.numBuckets,
      groupKeys(sp) :+ MaterializedAggView.ValCol)

  /** Fault-injection hook for crash-recovery specs: called between the
    * aux and main commits. */
  private[tables] var onStep: String => Unit = _ => ()

  private def feedOf(spark: SparkSession, tableRoot: String, keys: Seq[String]) =
    graft.streaming.ChangeFeedSource.adapter(spark, Map("path" -> tableRoot) ++
      (if (keys.nonEmpty) Map("keys" -> keys.mkString(",")) else Map.empty))

  /** (refresh number, version vector fact +: dims) last applied. */
  def lastApplied(spark: SparkSession): (Long, Seq[Int]) = {
    val sp = spec(spark)
    state(sp).appliedTxn(spark, TxnId) match {
      case None => (0L, Seq.fill(sp.dims.size + 1)(0))
      case Some(n) => (n, readVector(spark, n))
    }
  }

  private def vectorPath(n: Long) = new Path(root, s"_applied_$n")

  /** The version vector a count-distinct refresh is ABOUT to fold,
    * written (under the view lock) BEFORE the aux merges: a crash between
    * an aux commit and the main commit must replay EXACTLY this window —
    * the main `_applied_<n>` is only written next to the main merge, so
    * the aux vector is the crashed window's only durable record. */
  private def auxVectorPath(n: Long) = new Path(root, s"_applied_aux_$n")

  private def readVector(spark: SparkSession, p: Path): Seq[Int] =
    MetaIO.read(fs(spark), p).getOrElse(throw new IllegalStateException(
      s"MaterializedStarAggView $root: version vector $p missing"))
      .trim.split(",").map(_.trim.toInt).toSeq

  private def readVector(spark: SparkSession, n: Long): Seq[Int] =
    readVector(spark, vectorPath(n))

  // a stale vector from a crashed attempt is re-derived, never trusted
  private def writeVector(spark: SparkSession, p: Path, vs: Seq[Int]): Unit =
    MetaIO.replace(fs(spark), p, vs.mkString(","))

  /** Fold every source's window since the last refresh into the state;
    * returns (version vector now applied, state buckets rewritten).
    * Serialized on the view root's commit lock (see class doc). */
  def refresh(spark: SparkSession): (Seq[Int], Set[Int]) =
    CommitLock.withHeartbeatLock(fs(spark), root)(h => refreshLocked(spark, h))

  private def refreshLocked(spark: SparkSession,
      lock: CommitLock.Handle): (Seq[Int], Set[Int]) = {
    val sp = spec(spark)
    val st = state(sp)
    val (lastN, lastVec) = lastApplied(spark)
    val ff = feedOf(spark, sp.factRoot, sp.factKeys)
    val dfs = sp.dims.map(d => feedOf(spark, d.root, d.keys))
    val liveVec: Seq[Int] =
      (ff +: dfs).map(_.currentVersion.getOrElse(return (lastVec, Set.empty)))
    if (liveVec.zip(lastVec).forall { case (a, b) => a <= b })
      return (lastVec, Set.empty)
    val (lastFV, lastDVs) = (lastVec.head, lastVec.tail)
    val nextN = lastN + 1

    // crash-replay window pinning: if a distinct agg's aux table already
    // committed refresh number n+1 but the MAIN state did not, replay
    // EXACTLY the vector the crashed run recorded in `_applied_aux_<n+1>`
    // (written under the lock BEFORE any aux merge) — folding a longer
    // net window against the crashed aux counts would freeze any pair
    // whose change reverted in between. The remainder folds in a second
    // pass below.
    val crashed = sp.aggs.filter(_.fn == "count_distinct").exists { a =>
      val dst = auxState(sp, a.as)
      dst.exists(spark) && dst.appliedTxn(spark, TxnId).exists(_ > lastN)
    }
    val applyVec: Seq[Int] =
      if (crashed) readVector(spark, auxVectorPath(nextN))
      else liveVec.zip(lastVec).map { case (a, b) => math.max(a, b) }
    val (effFV, effDVs) = (applyVec.head, applyVec.tail)

    val sign = when(col("_change_type").isin("insert", "update_postimage"), lit(1L))
      .otherwise(lit(-1L))
    val bookkeeping = Seq("_change_type", "_changed_columns")
    def feedWindow(fd: graft.streaming.ChangeFeedSource.Feedable,
        fromV: Int, toV: Int): DataFrame = {
      val w =
        if (fromV == 0) fd.visibleAt(toV).withColumn("_change_type", lit("insert"))
        else fd.feed(fromV, toV, withColumns = false, withPreimage = true)
      w.withColumn(SignCol, sign).drop(bookkeeping: _*)
    }

    /** Dim i visible at version `v`, restricted to `keyRows` when given —
      * a bucket-pruned point read PINNED to `v`'s manifest when the dim
      * is bucketed by its join keys (never the live manifest: the vector
      * records `v`, and a concurrent dim commit landing mid-read would
      * otherwise double-apply its window on the next refresh), else a
      * version-pinned semi-join. */
    def dimAt(i: Int, v: Int, keyRows: Option[DataFrame]): DataFrame = {
      val d = sp.dims(i)
      val raw = BucketedSnapshotTable.layoutOf(spark, d.root) match {
        case Some(l) if l.keys.contains(d.join) && keyRows.isDefined =>
          new BucketedSnapshotTable(d.root, l.numBuckets, d.join)
            .readKeysAt(spark, keyRows.get, v)
        case Some(l) =>
          val bt = new BucketedSnapshotTable(d.root, l.numBuckets,
            l.keys.getOrElse(d.join))
          val base = bt.readVersion(spark, v)
          keyRows.map(k => base.join(k, d.join, "left_semi")).getOrElse(base)
        case None =>
          val base = new SnapshotTable(d.root).readVersion(spark, v)
          keyRows.map(k => base.join(k, d.join, "left_semi")).getOrElse(base)
      }
      graft.cdc.ScdMerge.scd1Current(raw)
    }

    /** The fact visible AS OF `v`, restricted to the changed join keys of
      * dim `i` — IN-list through the pruning file index when narrow. */
    def factAt(v: Int, joinKeys: Seq[String], changedKeys: DataFrame): DataFrame = {
      val asOf = BucketedSnapshotTable.layoutOf(spark, sp.factRoot) match {
        case Some(l) => new BucketedSnapshotTable(sp.factRoot, l.numBuckets,
          l.keys.getOrElse(sp.factKeys)).readIndexed(spark, Some(v))
        case None => new SnapshotTable(sp.factRoot).readIndexed(spark, Some(v))
      }
      val visible = graft.cdc.ScdMerge.scd1Current(asOf)
      if (joinKeys.size == 1) {
        val vals = changedKeys.limit(MaxInlineKeys + 1).collect().map(_.get(0))
        if (vals.length <= MaxInlineKeys)
          return visible.filter(col(joinKeys.head).isInCollection(vals.toSeq))
      }
      visible.join(broadcast(changedKeys), joinKeys, "left_semi")
    }

    val n = sp.dims.size
    // ── leg 0: ΔF ⋈ D1' ⋈ … ⋈ Dn'
    val leg0: Option[DataFrame] =
      if (effFV <= lastFV) None
      else {
        // pinned: each dim's bucket-hash probe is an eager action, so an
        // unpinned window diff would re-execute once per dim plus once in
        // the legs plan (bootstrap skips the probes AND the pin — its
        // feed is O(table) and consumed exactly once)
        val fd0 = feedWindow(ff, lastFV, effFV)
        val fd = if (lastFV == 0) fd0 else fd0.transform(Pin(_))
        val joined = (0 until n).foldLeft(fd) { (acc, i) =>
          val dimNow =
            if (lastFV == 0) dimAt(i, effDVs(i), None) // bootstrap: full join
            else dimAt(i, effDVs(i),
              Some(acc.select(sp.dims(i).join.map(col): _*).distinct()))
          acc.join(dimNow, sp.dims(i).join)
        }
        Some(joined)
      }

    // ── leg i (1-based over dims): F ⋈ D1 ⋈ … ⋈ D(i−1) ⋈ ΔDi ⋈ D(i+1)' ⋈ … ⋈ Dn'
    val dimLegs: Seq[DataFrame] = (0 until n).flatMap { i =>
      if (effDVs(i) <= lastDVs(i) || lastFV == 0) None // bootstrap rode leg 0
      else {
        // pinned: consumed by the IN-list collect, the other dims'
        // probes, and the legs plan — three executions otherwise
        val dd = feedWindow(dfs(i), lastDVs(i), effDVs(i)).transform(Pin(_))
        val changed = dd.select(sp.dims(i).join.map(col): _*).distinct()
        val factOld = factAt(lastFV, sp.dims(i).join, changed)
        val withDelta = factOld.join(dd, sp.dims(i).join)
        val joined = (0 until n).filter(_ != i).foldLeft(withDelta) { (acc, k) =>
          val v = if (k < i) lastDVs(k) else effDVs(k)
          val dk = dimAt(k, v,
            Some(acc.select(sp.dims(k).join.map(col): _*).distinct()))
          acc.join(dk, sp.dims(k).join)
        }
        Some(joined)
      }
    }

    val legs = leg0.toSeq ++ dimLegs
    if (legs.isEmpty) return (lastVec, Set.empty)
    // project each leg to exactly the columns the fold needs BEFORE the
    // union — several dims may carry same-named bookkeeping columns
    // (each SCD dim has its own sequence column), which is fine inside a
    // join but an ambiguity error in a union. Derived dims (r14) compute
    // on each JOINED leg first — a preimage-joined row derives the same
    // value its insert did — and then ride the projection like any other
    // group column.
    val need = (sp.groupBy ++ sp.aggs.flatMap(_.col) :+ SignCol).distinct
    val deltaRaw = legs
      .map(MaterializedAggView.applyDerived(_, sp.derived,
        s"MaterializedStarAggView $root"))
      .map(_.select(need.map(col): _*)).reduce(_.unionByName(_))
    // null-mask encoding on the JOINED delta: group columns are plain
    // data columns until the fold, so the single-table view's state-
    // boundary encoding applies unchanged — nullable group values store
    // as typed stand-ins + the `__mv_nulls` mask key, measures that ARE
    // nullable group columns aggregate shadowed raw values, and every
    // key operation below runs null-free over (groupBy…, mask)
    val gk = groupKeys(sp)
    val overlap: Set[String] =
      if (sp.nullMask) sp.aggs.flatMap(_.col).toSet.intersect(sp.groupBy.toSet)
      else Set.empty
    def shadowCol(m: String) = s"__mv_raw_$m"
    def mcol(m: String): String = if (overlap(m)) shadowCol(m) else m
    val delta0 =
      if (sp.nullMask)
        MaterializedAggView.encodeNulls(
          overlap.foldLeft(deltaRaw)((d, m) => d.withColumn(shadowCol(m), col(m))),
          sp.groupBy)
      else deltaRaw
    // EXACTLY-ONE-distinct views take the ONE-PASS fold (onePassDeltas):
    // both maintenance grains derive from one (group, value)-grain base
    // aggregation, so the star legs run once with no delta pin of their
    // own. Multi-distinct views keep the per-agg pair passes and pin the
    // joined delta so the legs run once, not per consumer — NOT on a
    // bootstrap, where the delta is the FULL star join
    val distinctAggs = sp.aggs.filter(_.fn == "count_distinct")
    val hasDistinct = distinctAggs.nonEmpty
    val onePass = distinctAggs.size == 1
    val delta =
      if (!onePass && hasDistinct && lastN != 0L) delta0.transform(Pin(_))
      else delta0

    // ── additive fold: the shared algebra (one copy for all view kinds)
    val s = col(SignCol)
    val accTypes = MaterializedAggView.accumulatorTypes(sp.aggs, delta.schema)
    val sqTypes = MaterializedAggView.sumSqTypes(sp.aggs, delta.schema)
    val deltaAggs: Seq[Column] = MaterializedAggView.deltaAggsFor(
      sp.aggs, mcol, s, accTypes, sqTypes, delta.schema)
    val (grouped0, preparedPairs): (DataFrame, Option[DataFrame]) =
      if (onePass) {
        val (d0, pp) = MaterializedAggView.onePassDeltas(delta, s, gk,
          mcol(distinctAggs.head.col.get), deltaAggs,
          MaterializedAggView.sumTypesOf(accTypes, sqTypes))
        (d0, Some(pp))
      } else
        (delta.groupBy(gk.map(col): _*).agg(deltaAggs.head, deltaAggs.tail: _*),
          None)

    // count(distinct c) over the star result: record the window's vector
    // FIRST (under the lock — the crashed-replay pin; the one-pass base
    // checkpoint above is pure compute, no commit), then run the shared
    // pair-count fold per distinct agg
    if (hasDistinct && !crashed) {
      lock.check()
      writeVector(spark, auxVectorPath(nextN), applyVec)
    }
    val dcPrepared: Seq[(DataFrame, () => Unit)] =
      distinctAggs.map { a =>
        MaterializedAggView.foldDistinct(spark, auxState(sp, a.as), delta,
          col(SignCol), gk, mcol(a.col.get), TxnId, nextN, lastN,
          MaterializedAggView.dcCol(a.as),
          beforeMerge = () => lock.check(),
          afterMerge = () => onStep(s"aux-merged:${a.as}"),
          prepared = preparedPairs)
      }
    // aux COMMITS run on auxEc concurrently with the main-side fold below
    // (see MaterializedAggView.refreshLocked; the `_applied_aux_<n>`
    // vector was already written ABOVE, before any aux commit can land,
    // so the crashed-window pin still precedes every aux merge)
    val auxFuts = dcPrepared.map { case (_, c) =>
      scala.concurrent.Future(c())(MaterializedAggView.auxEc) }
    // dc-delta groups ⊆ delta groups (both derive from the joined delta)
    val grouped = dcPrepared.map(_._1).foldLeft(grouped0)((d, dd) => d.join(dd, gk, "left"))
      .transform(Pin(_)) // three downstream actions re-run the legs otherwise
    // null group keys the state machinery cannot represent fail LOUDLY
    // rather than silently dropping through the key-equality merges below
    // (legacy pre-mask specs: all group columns; mask specs: stand-in-less
    // types the encoding passes through)
    MaterializedAggView.requireNoUnguardedNullGroups(grouped, sp.nullMask,
      sp.groupBy, s"MaterializedStarAggView $root")

    val accCols: Seq[(String, DataType)] =
      MaterializedAggView.accColsFor(sp.aggs, accTypes, sqTypes)
    // STAGE the main merge while the aux commits are in flight (finally-
    // Await: no aux commit may outlive this frame on any exit path — see
    // MaterializedAggView.refreshLocked for the orphan-commit race)
    val stagedMain: Option[BucketedSnapshotTable.StagedScd1] = try {
      // probe bucket set reused by the staged merge (r15 job fusion —
      // the upserts are a left join of `grouped`, same gk value set)
      var groupedBuckets: Option[Set[Int]] = None
      val cur: DataFrame =
        if (!st.exists(spark)) {
          val fields = gk.map(g => grouped.schema(g)) ++
            accCols.map { case (nm, t) => StructField(nm, t, nullable = true) }
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], StructType(fields))
        } else {
          val (df, w) = st.readKeysWithBuckets(spark, grouped.select(gk.map(col): _*))
          groupedBuckets = Some(w)
          graft.cdc.ScdMerge.scd1Current(df)
            .select((gk ++ accCols.map(_._1)).map(col): _*)
        }
      val curA = cur.select(gk.map(col) ++
        accCols.map { case (nm, _) => col(nm).as(s"__cur_$nm") }: _*)
      val folded = accCols.foldLeft(grouped.join(curA, gk, "left")) {
        case (d, (nm, t)) =>
          d.withColumn(nm,
            (coalesce(col(s"__cur_$nm").cast(t), lit(0).cast(t)) +
              coalesce(col(nm).cast(t), lit(0).cast(t))).cast(t))
      }.select((gk ++ accCols.map(_._1)).map(col): _*)
      // pinned: the merge executes its updates plan twice (bucket-probe
      // collect + staging write) — O(changed groups) rows
      val upserts = folded.withColumn(SeqCol, lit(nextN))
        .transform(Pin(_))
      st.stageScd1Merge(spark, upserts, SeqCol,
        applyAsDeletes = Some(col(NCol) === 0L),
        txn = Some((TxnId, nextN)),
        knownBuckets = groupedBuckets)
    } finally auxFuts.foreach(fu =>
      scala.concurrent.Await.ready(fu, scala.concurrent.duration.Duration.Inf))
    auxFuts.foreach(fu =>
      scala.concurrent.Await.result(fu, scala.concurrent.duration.Duration.Inf))

    // ── numbered commit: vector file first, ledger names it atomically
    //    with the merge
    lock.check() // abort before the vector write if the lock was stolen
    writeVector(spark, vectorPath(nextN), applyVec)
    val touched = stagedMain match {
      case Some(h) => st.commitStagedScd1(spark, h)
      case None => Set.empty[Int] // empty window / ledger-replayed batch
    }
    if (applyVec.zip(liveVec).exists { case (a, l) => a < l }) {
      // the pinned replay stopped at the crashed window's end — fold the
      // rest of the history in an ordinary pass under the same lock
      val (v2, t2) = refreshLocked(spark, lock)
      (v2, touched ++ t2)
    } else (applyVec, touched)
  }

  /** The state in rollup-partial format — what the transparent
    * [[graft.plans.AggRollupRewrite]] star routing consumes. */
  private def rollupFormat(spark: SparkSession, version: Int): DataFrame = {
    val sp = spec(spark)
    val raw0 = graft.cdc.ScdMerge.scd1Current(state(sp).readVersion(spark, version))
    val raw =
      if (sp.nullMask) MaterializedAggView.decodeNulls(raw0, sp.groupBy) else raw0
    raw.select(MaterializedAggView.rollupColumns(sp.aggs, sp.groupBy): _*)
  }


  /** Register TRANSPARENT routing: any `Aggregate` over the inner
    * equi-join of the fact and ALL the dims on exactly the view's
    * per-dim keys, whose grouping ⊆ the view's GROUP BY and whose
    * aggregates are covered, rewrites to read this view's state — the
    * star dashboard query answered without touching the fact. Exact as
    * of the last applied version vector (the usual staleness contract). */
  def registerRewrite(spark: SparkSession): Unit = {
    val sp = spec(spark)
    val measures = sp.aggs.filterNot(a => a.fn == "count" && a.col.isEmpty)
      .flatMap(_.col).distinct
    // shared wiring: per-query (state version, ledger value) pin + pair
    // relations for coarse-grain COUNT(DISTINCT) routing (decoded when
    // the spec carries the null mask)
    val (provider, distincts) = MaterializedAggView.rewriteProviders(spark,
      state(sp), TxnId, sp.aggs, as => auxState(sp, as), groupKeys(sp),
      v => rollupFormat(spark, v),
      if (sp.nullMask) df => MaterializedAggView.decodeNulls(df, sp.groupBy)
      else identity)
    // derived dims (r14): resolved against the STAR's joined namespace
    // (fact columns ++ each dim's additional columns)
    val derivedExprs = starSchema(spark, sp) match {
      case None => Map.empty[String,
        org.apache.spark.sql.catalyst.expressions.Expression]
      case Some(sc) => MaterializedAggView.resolveDerivedDims(spark, sc,
        sp.derived, s"MaterializedStarAggView $root")
    }
    graft.plans.AggRollupRewrite.registerStarView(spark, sp.factRoot,
      sp.dims.map(d => d.root -> d.join), sp.groupBy, measures,
      provider, distincts, derivedExprs)
  }

  /** The star join's output schema (fact columns, then each dim's columns
    * not already present) — the derived-dim resolution namespace. None
    * when any source is still empty. */
  private def starSchema(spark: SparkSession, sp: Spec): Option[StructType] = {
    if (sp.derived.isEmpty) return None
    val feeds = feedOf(spark, sp.factRoot, sp.factKeys) +:
      sp.dims.map(d => feedOf(spark, d.root, d.keys))
    val schemas = feeds.map(f2 => f2.currentVersion match {
      case None => return None
      case Some(v) => f2.visibleAt(v).schema
    })
    val acc = scala.collection.mutable.LinkedHashMap
      .empty[String, org.apache.spark.sql.types.StructField]
    schemas.foreach(_.fields.foreach(f2 =>
      if (!acc.contains(f2.name)) acc(f2.name) = f2))
    Some(StructType(acc.values.toSeq))
  }

  /** Remove this view's transparent routing (SQL `ALTER MATERIALIZED
    * STAR VIEW … DISABLE REWRITE`). */
  def unregisterRewrite(spark: SparkSession): Unit = {
    val sp = spec(spark)
    graft.plans.AggRollupRewrite.unregisterStarView(sp.factRoot, sp.dims.map(_.root))
  }

  /** Reclaim storage accumulated by refresh commits — state table to
    * `keep` versions, count-distinct aux tables to at least 2 (the
    * crash-replay pin needs at most one version of lookback; see
    * [[MaterializedAggView.vacuum]]). The numbered `_applied_<n>` vector
    * files are metadata-sized and kept as the refresh history record.
    * Returns the aux retention applied (None = no aux tables). */
  def vacuum(spark: SparkSession, keep: Int = 2): Option[Int] = {
    val sp = spec(spark)
    MaterializedAggView.vacuumView(spark, state(sp), sp.aggs,
      as => auxState(sp, as), keep)
  }

  /** Group columns + one column per declared aggregate (avg as DOUBLE,
    * SQL null semantics). */
  def read(spark: SparkSession): DataFrame = {
    val sp = spec(spark)
    val raw0 = graft.cdc.ScdMerge.scd1Current(state(sp).read(spark))
    val raw =
      if (sp.nullMask) MaterializedAggView.decodeNulls(raw0, sp.groupBy) else raw0
    val outs: Seq[Column] = MaterializedAggView.readOutputs(sp.aggs)
    raw.select(sp.groupBy.map(col) ++ outs: _*)
  }
}

object MaterializedStarAggView {
  import MaterializedAggView.Agg

  private val TxnId = "mvs"
  private val SignCol = "__mvs_sign"
  private val MaxInlineKeys = 1000

  /** Join views written before they became one-dimension star views kept
    * a `_mvj` spec and a packed two-version ledger. They are refused, not
    * converted: the state rebuilds from the sources on the bootstrap
    * refresh of a re-created view. */
  private def refuseLegacyJoinRoot(f: org.apache.hadoop.fs.FileSystem, root: String): Unit =
    if (f.exists(new Path(root, "_mvj")))
      throw new IllegalArgumentException(s"MaterializedStarAggView $root: a legacy " +
        "join-view root (_mvj spec, packed ledger) is no longer supported — delete " +
        "the directory and re-create the view with CREATE MATERIALIZED JOIN VIEW; " +
        "its state rebuilds on the first refresh")

  /** One dimension: table root, its CDF business keys (empty = from the
    * bucketed manifest), and the equi-join keys shared with the fact. */
  final case class Dim(root: String, keys: Seq[String], join: Seq[String])

  final case class Spec(factRoot: String, factKeys: Seq[String],
      dims: Seq[Dim], groupBy: Seq[String], aggs: Seq[Agg], numBuckets: Int,
      nullMask: Boolean = true,
      /** DERIVED dimension columns (r14) over the STAR-joined row — see
        * [[MaterializedAggView.Spec.derived]]. */
      derived: Seq[(String, String)] = Nil)

  /** Declare the view (no data moves until the first refresh). */
  def create(spark: SparkSession, root: String,
      factRoot: String, factKeys: Seq[String], dims: Seq[Dim],
      groupBy: Seq[String], aggs: Seq[Agg],
      numBuckets: Int = 16,
      derived: Seq[(String, String)] = Nil): MaterializedStarAggView = {
    require(dims.nonEmpty, "star view needs at least one dimension")
    dims.foreach(d => require(d.join.nonEmpty,
      s"star view dim ${d.root}: join keys required"))
    require(groupBy.nonEmpty, "star view needs GROUP BY columns")
    MaterializedAggView.validateDerived(groupBy, aggs, derived)
    derived.foreach { case (n, _) =>
      require(!dims.exists(_.join.contains(n)),
        s"derived dim '$n' collides with a join key") }
    require(groupBy.size <= 63, "the null mask is a 64-bit bitmask — at " +
      "most 63 GROUP BY columns")
    require(!(groupBy ++ aggs.flatMap(_.col)).exists(_.startsWith("__mv_")),
      "column names starting with __mv_ are reserved for view bookkeeping")
    require(aggs.nonEmpty, "star view needs at least one aggregate")
    aggs.foreach { a =>
      require((Set("count", "sum", "avg", "count_distinct") ++
        MaterializedAggView.VarFns)(a.fn),
        s"star views maintain additive and count-distinct aggregates — '${a.fn}' is not")
      require(a.fn == "count" || a.col.nonEmpty, s"${a.fn} needs a column")
    }
    require(aggs.map(_.as).distinct.size == aggs.size, "duplicate aggregate aliases")
    val mv = new MaterializedStarAggView(root)
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(root, "_mvs")
    val dimLines = dims.zipWithIndex.flatMap { case (d, i) => Seq(
      s"dim$i.root=${d.root}",
      s"dim$i.keys=${d.keys.mkString(",")}",
      s"dim$i.join=${d.join.mkString(",")}")
    }
    val content = (Seq(
      s"factRoot=$factRoot",
      s"factKeys=${factKeys.mkString(",")}",
      s"dims=${dims.size}") ++ dimLines ++ Seq(
      s"groupBy=${groupBy.mkString(",")}",
      s"aggs=${aggs.map(_.render).mkString(",")}",
      s"numBuckets=$numBuckets",
      "nullMask=1") ++
      derived.map { case (n, e) => s"derived.$n=$e" }).mkString("", "\n", "\n")
    CommitLock.withLock(f, root) { // see MaterializedAggView.create
      refuseLegacyJoinRoot(f, root)
      if (f.exists(p))
        throw new IllegalArgumentException(s"MaterializedStarAggView $root already exists")
      MetaIO.replace(f, p, content)
    }
    mv
  }
}

/** A join view is a one-dimension star view: `CREATE MATERIALIZED JOIN
  * VIEW` builds the same spec, state and numbered `_applied_<n>` ledger,
  * so its refresh vector is `Seq(factVersion, dimVersion)`. The type is
  * the alias in the `graft.tables` package object; this object keeps the
  * two-table `create` signature. */
object MaterializedJoinAggView {
  def create(spark: SparkSession, root: String,
      factRoot: String, factKeys: Seq[String],
      dimRoot: String, dimKeys: Seq[String],
      joinKeys: Seq[String], groupBy: Seq[String],
      aggs: Seq[MaterializedAggView.Agg],
      numBuckets: Int = 16,
      derived: Seq[(String, String)] = Nil): MaterializedJoinAggView =
    MaterializedStarAggView.create(spark, root, factRoot, factKeys,
      Seq(MaterializedStarAggView.Dim(dimRoot, dimKeys, joinKeys)), groupBy, aggs,
      numBuckets, derived)

  /** The single dimension of a join view's spec. A star root with more
    * dimensions fails by name: the JOIN VIEW SQL surface reports one fact
    * and one dim version. */
  def dimOf(sp: MaterializedStarAggView.Spec, root: String): MaterializedStarAggView.Dim =
    sp.dims match {
      case Seq(d) => d
      case ds => throw new IllegalArgumentException(s"MaterializedJoinAggView $root: " +
        s"a star view with ${ds.size} dimensions is not a join view — use the " +
        "MATERIALIZED STAR VIEW commands")
    }
}
