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
final class MaterializedStarAggView(root: String) extends MaterializedView(root) {
  import MaterializedStarAggView._

  type SpecT = Spec
  /** The version vector applied, fact first. */
  type Applied = Seq[Int]

  protected def specFile = "_mvs"
  protected def txnId = TxnId

  override protected def onMissingSpec(f: org.apache.hadoop.fs.FileSystem): Unit =
    refuseLegacyJoinRoot(f, root)

  def spec(spark: SparkSession): Spec = {
    val kv = specLines(spark)
    val dims = (0 until kv.need("dims").toInt).map { i =>
      Dim(kv.need(s"dim$i.root"), kv.list(s"dim$i.keys"), kv.list(s"dim$i.join"))
    }
    Spec(kv.need("factRoot"), kv.list("factKeys"), dims, kv.groupBy, kv.aggs,
      kv.numBuckets, kv.nullMask, kv.derived)
  }

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
      s"$what: version vector $p missing"))
      .trim.split(",").map(_.trim.toInt).toSeq

  private def readVector(spark: SparkSession, n: Long): Seq[Int] =
    readVector(spark, vectorPath(n))

  // a stale vector from a crashed attempt is re-derived, never trusted
  private def writeVector(spark: SparkSession, p: Path, vs: Seq[Int]): Unit =
    MetaIO.replace(fs(spark), p, vs.mkString(","))

  protected def refreshLocked(spark: SparkSession,
      lock: CommitLock.Handle): (Seq[Int], Set[Int]) = {
    val sp = spec(spark)
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
    val crashed = auxAhead(spark, sp, lastN).nonEmpty
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
    val delta = legs
      .map(MaterializedAggView.applyDerived(_, sp.derived, what))
      .map(_.select(need.map(col): _*)).reduce(_.unionByName(_))
    // count(distinct c) over the star result: record the window's vector
    // under the lock BEFORE any aux merge can land (the crashed-replay pin)
    if (sp.aggs.exists(_.fn == "count_distinct") && !crashed) {
      lock.check()
      writeVector(spark, auxVectorPath(nextN), applyVec)
    }
    // numbered commit: the vector file is written after the aux commits
    // and the lock check, and the ledger names it atomically with the
    // merge
    val touched = foldAndCommit(spark, sp, delta, col(SignCol), nextN, lastN, lock,
      beforeCommit = () => writeVector(spark, vectorPath(nextN), applyVec))
    if (applyVec.zip(liveVec).exists { case (a, l) => a < l }) {
      // the pinned replay stopped at the crashed window's end — fold the
      // rest of the history in an ordinary pass under the same lock
      val (v2, t2) = refreshLocked(spark, lock)
      (v2, touched ++ t2)
    } else (applyVec, touched)
  }

  /** Routing covers any `Aggregate` over the inner equi-join of the fact
    * and ALL the dims on exactly the view's per-dim keys — the star
    * dashboard query answered without touching the fact. */
  protected def route(spark: SparkSession, sp: Spec, measures: Seq[String],
      provider: () => DataFrame, distincts: Map[String, () => DataFrame],
      derivedExprs: Map[String, org.apache.spark.sql.catalyst.expressions.Expression]): Unit =
    graft.plans.AggRollupRewrite.registerStarView(spark, sp.factRoot,
      sp.dims.map(d => d.root -> d.join), sp.groupBy, measures,
      provider, distincts, derivedExprs)

  /** The star join's output schema (fact columns, then each dim's columns
    * not already present) — the derived-dim resolution namespace. */
  protected def derivedNamespace(spark: SparkSession, sp: Spec): Option[StructType] = {
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

  def unregisterRewrite(spark: SparkSession): Unit = {
    val sp = spec(spark)
    graft.plans.AggRollupRewrite.unregisterStarView(sp.factRoot, sp.dims.map(_.root))
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
      derived: Seq[(String, String)] = Nil) extends ViewSpec

  /** Declare the view (no data moves until the first refresh). */
  def create(spark: SparkSession, root: String,
      factRoot: String, factKeys: Seq[String], dims: Seq[Dim],
      groupBy: Seq[String], aggs: Seq[Agg],
      numBuckets: Int = 16,
      derived: Seq[(String, String)] = Nil): MaterializedStarAggView = {
    require(dims.nonEmpty, "star view needs at least one dimension")
    dims.foreach(d => require(d.join.nonEmpty,
      s"star view dim ${d.root}: join keys required"))
    derived.foreach { case (n, _) =>
      require(!dims.exists(_.join.contains(n)),
        s"derived dim '$n' collides with a join key") }
    val dimLines = dims.zipWithIndex.flatMap { case (d, i) => Seq(
      s"dim$i.root=${d.root}",
      s"dim$i.keys=${d.keys.mkString(",")}",
      s"dim$i.join=${d.join.mkString(",")}")
    }
    MaterializedView.createSpec(spark, root, "_mvs", "MaterializedStarAggView",
      "star view",
      Seq(s"factRoot=$factRoot", s"factKeys=${factKeys.mkString(",")}",
        s"dims=${dims.size}") ++ dimLines,
      groupBy, aggs, numBuckets, derived, MaterializedView.InvertibleFns,
      fn => s"star views maintain additive and count-distinct aggregates — '$fn' is not",
      underLock = refuseLegacyJoinRoot(_, root))
    new MaterializedStarAggView(root)
  }
}

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
