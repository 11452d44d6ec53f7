package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, CaseWhen, Cast, Divide, EqualTo, Expression, GreaterThan, Greatest, Literal, Multiply, NamedExpression, Sqrt, Subtract}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, StddevPop, StddevSamp, Sum, VariancePop, VarianceSamp}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.DoubleType

/** Materialized-aggregate routing — the engine's materialized-view rewrite.
  *
  * A rollup table (built once by [[buildRollup]]) stores, per dimension
  * tuple, the mergeable partial state of every measure: `__cnt`,
  * `__sum_<m>`, `__min_<m>`, `__max_<m>`. This optimizer rule then rewrites
  * any `Aggregate` whose
  *
  *  - scan is the registered base table (direct or under a pruning Project),
  *  - grouping columns are a subset of the rollup's dimensions, and
  *  - aggregates are SUM / MIN / MAX / COUNT(*) / AVG over rollup measures
  *    (undistinct, unfiltered)
  *
  * to read the rollup instead: SUM→SUM(__sum), MIN→MIN(__min),
  * MAX→MAX(__max), COUNT(*)→SUM(__cnt), AVG→SUM(__sum)/SUM(__cnt) — exact
  * answers (not approximations) because these aggregates are decomposable.
  * Output exprIds and dataTypes are preserved, so parent operators are
  * untouched. Queries that don't match (extra filters, uncovered measures,
  * DISTINCT) are left alone.
  *
  * Why this matters at 100 TB: dashboard-grain aggregates (the reference's
  * gold views, SURVEY §2.10) re-scan the fact table on every refresh. A
  * rollup at the (dims) grain is ~|distinct dims| rows — the rewrite turns
  * a full-table scan into a kilobyte read, and staying a *rule* (rather
  * than a view users must name) means existing queries speed up unchanged,
  * exactly like Databricks' materialized-view incremental rewrite.
  *
  * Registration is driver-local (a rule object cannot hold per-session
  * state; same pattern as the conf guard on [[ApproxDistinctRewrite]]).
  */
object AggRollupRewrite extends Rule[LogicalPlan] {

  final case class Rollup(spark: SparkSession, provider: () => DataFrame,
      dims: Seq[String], measures: Seq[String],
      distincts: Map[String, () => DataFrame] = Map.empty,
      /** DERIVED dimension columns (r13): view-maintained expression dims
        * (`month(o_orderdate) AS m`), keyed by state column name, valued
        * by the [[normalizeDim]]-normalized RESOLVED expression over the
        * source — a query grouping by the same expression tree routes to
        * the derived column. */
      derivedDims: Map[String, Expression] = Map.empty)

  /** Name-normalize a resolved expression for derived-dim matching:
    * attribute references become case-folded unresolved names, so two
    * resolutions of the same expression text over the same source compare
    * STRUCTURALLY equal regardless of exprIds. Conservative by
    * construction — any cosmetic mismatch (extra casts, different
    * function rendering) simply refuses the rewrite. */
  def normalizeDim(e: Expression): Expression = e.transform {
    case al: Alias => al.child
    case a: AttributeReference =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
        Seq(a.name.toLowerCase(java.util.Locale.ROOT)))
  }

  /** The derived-dim state column a grouping EXPRESSION matches, if any. */
  private def derivedNameOf(e: Expression, r: Rollup): Option[String] =
    if (r.derivedDims.isEmpty) None
    else {
      val n = normalizeDim(e)
      r.derivedDims.collectFirst { case (name, ne) if ne == n => name }
    }

  /** Replace derived-dim expression SUBTREES in a filter conjunct with
    * synthetic references to the derived state column — `WHERE
    * month(o_orderdate) = 3` becomes a dimension-only predicate over `m`
    * that the usual dim-filter pushdown then applies to the rollup
    * (exact: the derived column is computed from the same expression, so
    * filtering rows by the expression ≡ filtering groups by the column). */
  private def substDerived(e: Expression, r: Rollup): Expression =
    if (r.derivedDims.isEmpty) e
    else e.transformUp {
      case s if derivedNameOf(s, r).isDefined =>
        AttributeReference(derivedNameOf(s, r).get, s.dataType)()
    }

  /** `a` sits under an unbroken NULL-INTOLERANT chain inside `e`: a null
    * `a` makes `e` evaluate to null, and a Filter drops null results —
    * so `e` (as a conjunct) rejects every row where `a` is null. */
  private def nullIntolerantPath(e: Expression, a: AttributeReference): Boolean =
    e match {
      case att: AttributeReference => att.exprId == a.exprId
      case other if other.nullIntolerant =>
        other.children.exists(nullIntolerantPath(_, a))
      case _ => false
    }

  /** Classify a scan's raw filter conjuncts against a rollup: substitute
    * derived-dim subtrees, then DROP `IsNotNull(raw input)` conjuncts the
    * optimizer inferred from a null-intolerant derived-dim predicate —
    * `WHERE month(dt) = 2` arrives as `isnotnull(dt) AND month(dt) = 2`,
    * and the applied `m = 2` already rejects every dt-null row (those
    * rows land in the m-null group, and `null = 2` is not TRUE). Sound
    * only when the implying conjunct is itself APPLIED (dim-only after
    * substitution) and rejects nulls of `a` through a null-intolerant
    * path. Everything else passes through for the caller's dimOnly check. */
  private def classifyFilters(fs0: Seq[Expression], r: Rollup): Seq[Expression] = {
    if (r.derivedDims.isEmpty) return fs0
    val subst = fs0.map(e => e -> substDerived(e, r))
    subst.collect {
      case (org.apache.spark.sql.catalyst.expressions.IsNotNull(a: AttributeReference), _)
          if !r.dims.contains(a.name) &&
            subst.exists { case (orig, sub) =>
              !orig.isInstanceOf[org.apache.spark.sql.catalyst.expressions.IsNotNull] &&
                nullIntolerantPath(orig, a) && dimOnly(sub, r.dims)
            } =>
        None // implied by an applied conjunct — dropped
      case (_, sub) => Some(sub)
    }.flatten
  }

  /** Column name every distinct-pair provider must use for the VALUE
    * column (alongside the rollup's dim columns): one row per live
    * (dims…, value) pair with at least one occurrence. */
  val DistinctValCol = "__dval"

  private val registry = TrieMap.empty[String, Rollup]

  private def canon(p: String): String = new Path(p).toUri.getPath

  /** Point queries over `basePath` at the rollup stored at `rollupPath`. */
  def register(spark: SparkSession, basePath: String, rollupPath: String,
      dims: Seq[String], measures: Seq[String]): Unit =
    registry.put(canon(basePath),
      Rollup(spark, () => spark.read.parquet(rollupPath), dims, measures))

  /** Point queries over `basePath` at a LIVE rollup-format relation (r11:
    * the incrementally-maintained [[graft.tables.MaterializedAggView]]
    * registers its state this way — the provider re-reads the view's
    * current state per query, so a REFRESH is visible immediately). The
    * provided frame must carry the dims plus `__cnt` and, per covered
    * measure, `__sum_<m>`/`__nn_<m>` (and optionally `__min_/__max_`) —
    * aggregates whose partial is absent simply do not rewrite.
    *
    * `distincts` maps a measure to a live (dims…, [[DistinctValCol]])
    * PAIR relation — one row per distinct (group, value) with a live
    * occurrence — enabling exact `COUNT(DISTINCT m)` at COARSER
    * groupings than the rollup's own grain: the per-group `__dc_`
    * partial is not re-aggregable across merged groups (a value present
    * in several subsumed groups would double-count), but counting
    * distinct values over the pair relation grouped coarser is exact,
    * and the pair relation is O(distinct pairs) — the aux occurrence
    * table a count-distinct view already maintains, never the source. */
  def registerView(spark: SparkSession, basePath: String, dims: Seq[String],
      measures: Seq[String], provider: () => DataFrame,
      distincts: Map[String, () => DataFrame] = Map.empty,
      derivedDims: Map[String, Expression] = Map.empty): Unit =
    registry.put(canon(basePath),
      Rollup(spark, provider, dims, measures, distincts, derivedDims))

  /** Remove the routing for `basePath` (SQL `ALTER MATERIALIZED VIEW …
    * DISABLE REWRITE`); queries fall back to the base table. */
  def unregisterView(basePath: String): Unit =
    registry.remove(canon(basePath))

  /** Star-rollup registration: the fact root, each dim's (root, join
    * keys), and the live rollup (its dims are the view's GROUP BY). */
  final case class StarRollup(rollup: Rollup, factRoot: String,
      dims: Seq[(String, Seq[String])])

  /** Keyed by (fact root, dim roots in declared order), canonicalized:
    * several star (and one-dimension join) views over one fact coexist,
    * each answering the queries over its own dims. */
  private val starRegistry = TrieMap.empty[(String, Seq[String]), StarRollup]

  /** Point aggregates over the INNER equi-join of fact and ALL the dims
    * (each on its own keys) at a LIVE star-rollup relation — the
    * incrementally-maintained [[graft.tables.MaterializedStarAggView]]
    * (and so every join view, its one-dimension case) registers its
    * state this way. Same partial format (and `distincts` pair-relation
    * + `derivedDims` expression-matching contracts) as [[registerView]]. */
  def registerStarView(spark: SparkSession, factRoot: String,
      dims: Seq[(String, Seq[String])], groupBy: Seq[String],
      measures: Seq[String], provider: () => DataFrame,
      distincts: Map[String, () => DataFrame] = Map.empty,
      derivedDims: Map[String, Expression] = Map.empty): Unit =
    starRegistry.put((canon(factRoot), dims.map(d => canon(d._1))),
      StarRollup(Rollup(spark, provider, groupBy, measures, distincts, derivedDims),
        factRoot, dims))

  /** Remove the star routing for the (fact, dims) pair; other views over
    * the same fact keep routing. */
  def unregisterStarView(factRoot: String, dimRoots: Seq[String]): Unit =
    starRegistry.remove((canon(factRoot), dimRoots.map(canon)))

  def clear(): Unit = { registry.clear(); starRegistry.clear() }

  /** Build + write the rollup table for `base` (one full scan, once):
    * per dims-tuple `__cnt` and per-measure sum/min/max partials. Measures
    * keep their column types — pre-cast money columns to DECIMAL in `base`
    * if exact re-aggregation is required. */
  def buildRollup(base: DataFrame, rollupPath: String,
      dims: Seq[String], measures: Seq[String]): Unit = {
    import org.apache.spark.sql.functions._
    val aggs = count(lit(1)).as("__cnt") +:
      measures.flatMap(m => Seq(
        sum(col(m)).as(s"__sum_$m"), count(col(m)).as(s"__nn_$m"),
        min(col(m)).as(s"__min_$m"), max(col(m)).as(s"__max_$m")))
    base.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .coalesce(1).write.mode("overwrite").parquet(rollupPath)
  }

  /** Incremental maintenance: fold an append-only `delta` batch into the
    * stored rollup by MERGING partials (cnt+cnt, sum+sum, min∧min, max∨max)
    * — refresh cost is O(delta + |rollup|), the base table is never
    * rescanned. Exactly the decomposability that lets [[apply]] answer
    * from partials also keeps them maintainable. (Deletes/updates need a
    * base recompute of affected dim groups — out of scope for append-only
    * fact tables, the reference's ingest pattern.) */
  def refreshRollup(spark: SparkSession, delta: DataFrame, rollupPath: String,
      dims: Seq[String], measures: Seq[String]): Unit = {
    import org.apache.spark.sql.functions._
    val tmp = rollupPath + "__delta_tmp"
    buildRollup(delta, tmp, dims, measures)
    // materialize old partials off the files we are about to overwrite;
    // re-summed partials cast back to the STORED partial types. A rollup
    // written BEFORE the `__nn_` partial existed merges without it (and
    // simply keeps not rewriting AVG/COUNT(c)) — backfilling nn from a
    // delta alone would be silently wrong, so the legacy column set wins.
    val old = spark.read.parquet(rollupPath).localCheckpoint()
    val nnOf = measures.filter(m => old.columns.contains(s"__nn_$m"))
    val deltaDf = spark.read.parquet(tmp)
      .drop(measures.filterNot(nnOf.contains).map(m => s"__nn_$m"): _*)
    val merged = old.unionByName(deltaDf)
      .groupBy(dims.map(col): _*)
      .agg(sum(col("__cnt")).cast("long").as("__cnt"),
        measures.flatMap(m => Seq(
          sum(col(s"__sum_$m")).cast(old.schema(s"__sum_$m").dataType).as(s"__sum_$m")) ++
          (if (nnOf.contains(m)) Seq(sum(col(s"__nn_$m")).cast("long").as(s"__nn_$m")) else Nil) ++
          Seq(
            min(col(s"__min_$m")).as(s"__min_$m"),
            max(col(s"__max_$m")).as(s"__max_$m"))): _*)
    merged.coalesce(1).write.mode("overwrite").parquet(rollupPath)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (registry.isEmpty && starRegistry.isEmpty) plan
    else plan.transform {
      case agg @ Aggregate(groupings, aggExprs, child, _) =>
        rewriteAggregate(agg, groupings, aggExprs, child).getOrElse(agg)
    }

  /** Try every registered rollup kind against one Aggregate — the shared
    * body of the optimizer rule and the analyzer-stage filtered-distinct
    * entry ([[applyFilteredDistinct]]). Tried twice when the child is a
    * grouping-extraction Project: Spark's PullOutGroupingExpressions
    * rewrites `GROUP BY month(d)` into `GROUP BY _groupingexpression`
    * over a Project computing it, so the expression the derived-dim
    * matcher needs is one Project below — [[inlineGroupingProject]]
    * substitutes it back. */
  private def rewriteAggregate(agg: Aggregate, groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression], child: LogicalPlan): Option[LogicalPlan] = {
    def attempt(gs: Seq[Expression], as: Seq[NamedExpression],
        c: LogicalPlan): Option[LogicalPlan] =
      baseScanOf(c).orElse(starScanOf(c)).flatMap { case (r, fs) =>
        rewrite(agg, gs, as, r, fs) }
    attempt(groupings, aggExprs, child).orElse {
      inlineGroupingProject(groupings, aggExprs, child) match {
        case Some((g2, a2, c2)) => attempt(g2, a2, c2)
        case None => None
      }
    }
  }

  /** Undo a grouping-extraction Project for matching purposes: when the
    * Aggregate's child is a Project whose alias entries are deterministic
    * computed columns (PullOutGroupingExpressions' `_groupingexpression`
    * shape), substitute each alias's expression back into the groupings
    * and output expressions and drop to the Project's child. Refusal-safe:
    * if the substituted shapes match nothing, the rewrite declines as
    * usual. */
  private def inlineGroupingProject(groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression], child: LogicalPlan)
      : Option[(Seq[Expression], Seq[NamedExpression], LogicalPlan)] = child match {
    case Project(pl, gc) if pl.exists(_.isInstanceOf[Alias]) &&
        pl.forall(p => p.isInstanceOf[Attribute] || p.isInstanceOf[Alias]) =>
      val subst = pl.collect { case al: Alias => al.exprId -> al.child }.toMap
      if (!subst.values.forall(_.deterministic)) None
      else {
        val g2 = groupings.map(_.transform {
          case a: AttributeReference if subst.contains(a.exprId) => subst(a.exprId)
        })
        val a2 = aggExprs.map {
          case a: AttributeReference if subst.contains(a.exprId) =>
            Alias(subst(a.exprId), a.name)(exprId = a.exprId)
          case ne => ne.transform {
            case a: AttributeReference if subst.contains(a.exprId) => subst(a.exprId)
          }.asInstanceOf[NamedExpression]
        }
        Some((g2, a2, gc))
      }
    case _ => None
  }

  /** Analyzer-stage (post-hoc resolution) entry for the ONE shape the
    * optimizer rule can never see: an AggregateExpression combining
    * FILTER and DISTINCT. Spark's RewriteDistinctAggregates expands
    * filtered-distinct aggregates into projection + two-phase plans
    * BEFORE any injected optimizer rule runs, so by optimization time the
    * original shape is gone — `COUNT(DISTINCT user) FILTER (WHERE
    * region = 'EU')`, a standard dashboard tile, re-scanned the base
    * through r12. The ANALYZED plan still carries the original shape;
    * this entry applies the SAME rewrite there ([[rewriteExact]] answers
    * it at the view's own grain — a dim-only FILTER selects whole groups,
    * so the filtered `__dc_` re-aggregation is exact — and
    * [[rewriteViaFrames]] at coarser grains via per-slot gated pair
    * aggregations). Narrowly scoped: fires ONLY on Aggregates carrying a
    * filtered-distinct aggregate; every other query keeps the optimizer-
    * stage path (identical behavior, post-pushdown shapes). */
  private[graft] def applyFilteredDistinct(plan: LogicalPlan): LogicalPlan =
    if (registry.isEmpty && starRegistry.isEmpty) plan
    else plan.transform {
      case agg @ Aggregate(groupings, aggExprs, child, _)
          if aggExprs.exists(_.exists {
            case ae: AggregateExpression => ae.isDistinct && ae.filter.isDefined
            case _ => false
          }) =>
        rewriteAggregate(agg, groupings, aggExprs, child).getOrElse(agg)
    }

  /** The measure attribute under a variance aggregate — possibly beneath
    * the implicit `cast(x as double)` the analyzer inserts for non-double
    * inputs (the partials are maintained over the RAW measure; the
    * double derivation matches to float tolerance either way). */
  private object MeasureAttr {
    def unapply(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference => Some(a)
      case c: Cast if c.dataType == DoubleType =>
        c.child match { case a: AttributeReference => Some(a); case _ => None }
      case _ => None
    }
  }

  /** A conjunct that may be APPLIED to the rollup instead of refusing
    * the rewrite: deterministic, subquery-free, and referencing ONLY the
    * rollup's dimension columns — the rollup partitions rows exactly by
    * dimension tuples, so filtering rows by a dimension-only predicate is
    * the same set as filtering rollup groups by it. This is the shape of
    * nearly every dashboard query (`WHERE region = 'EU' GROUP BY month`),
    * so without it the routing would only ever serve unfiltered rollups. */
  private def dimOnly(e: Expression, dims: Seq[String]): Boolean =
    e.deterministic &&
      !e.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]) &&
      e.references.forall(a => dims.contains(a.name))

  /** One relation leaf of an inner-join tree: its scan root paths and its
    * output attribute set (for opposite-leg verification). */
  private final case class TreeLeaf(roots: List[Path],
      out: org.apache.spark.sql.catalyst.expressions.AttributeSet)

  /** Walk an INNER equi-join TREE: attribute-only Projects are
    * transparent; visible-rows tombstone filters are CONSUMED (and
    * required over any leaf relation that carries `__DELETED` — a raw
    * tombstone-inclusive scan refuses); every other filter conjunct is
    * collected RAW for the caller to classify (dimension-only → applied
    * to the rollup, inferred isnotnull(join key) → tolerated, anything
    * else → refuse). Returns (leaves, all equality conjuncts, raw
    * filter conjuncts). */
  private def collectJoinTree(p: LogicalPlan,
      covered: Set[org.apache.spark.sql.catalyst.expressions.ExprId] = Set.empty)
      : Option[(Seq[TreeLeaf], Seq[Expression], Seq[Expression])] = p match {
    case Project(pl, gc) if pl.forall(_.isInstanceOf[Attribute]) =>
      collectJoinTree(gc, covered)
    // analyzer-stage plans wrap FROM subqueries (the SNAPSHOT form) in
    // SubqueryAlias; transparent — it renames nothing the walkers read
    case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
      collectJoinTree(s.child, covered)
    case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
      val (rest, newCovered) = consumeTombstones(f.condition, covered)
      collectJoinTree(f.child, newCovered)
        .map { case (ls, es, raw) => (ls, es, raw ++ rest) }
    case Join(l, r, Inner, Some(cond), _) =>
      for {
        (ll, le, lraw) <- collectJoinTree(l, covered)
        (rl, re, rraw) <- collectJoinTree(r, covered)
      } yield (ll ++ rl, le ++ re ++ splitConjunctsShared(cond), lraw ++ rraw)
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation if coveredLeaf(lr, covered) =>
        Some((Seq(TreeLeaf(fs.location.rootPaths.toList, lr.outputSet)), Nil, Nil))
      case _ => None
    }
    case _ => None
  }

  private def visibleRowsFilterShared(e: Expression): Boolean = e match {
    case org.apache.spark.sql.catalyst.expressions.Not(inner) => inner match {
      case org.apache.spark.sql.catalyst.expressions.Coalesce(
          Seq(a: AttributeReference, Literal(false, _))) =>
        a.name == graft.cdc.ScdMerge.DeletedCol
      case a: AttributeReference => a.name == graft.cdc.ScdMerge.DeletedCol
      case _ => false
    }
    case _ => false
  }

  private def splitConjunctsShared(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConjunctsShared(l) ++ splitConjunctsShared(r)
    case other => Seq(other)
  }

  /** ONE copy of the filter-consumption rule both scan walkers
    * share (a change to the tolerated set must reach every routing path
    * at once): tombstone visible-rows conjuncts are CONSUMED and mark
    * the `__DELETED` attributes they reference as covered; everything
    * else returns raw for the caller to classify. */
  private def consumeTombstones(condition: Expression,
      covered: Set[org.apache.spark.sql.catalyst.expressions.ExprId])
      : (Seq[Expression], Set[org.apache.spark.sql.catalyst.expressions.ExprId]) = {
    val (tomb, rest) = splitConjunctsShared(condition).partition(visibleRowsFilterShared)
    (rest, covered ++ tomb.flatMap(_.references
      .filter(_.name == graft.cdc.ScdMerge.DeletedCol).map(_.exprId)))
  }

  /** A leaf relation carrying `__DELETED` with no covering tombstone
    * filter above it is a RAW (tombstone-inclusive) scan whose answer
    * genuinely differs from the visible-rows state — refuse. */
  private def coveredLeaf(lr: LogicalRelation,
      covered: Set[org.apache.spark.sql.catalyst.expressions.ExprId]): Boolean =
    !lr.output.exists(a =>
      a.name == graft.cdc.ScdMerge.DeletedCol && !covered(a.exprId))

  /** Ancestor walk across engine-internal segments only (see [[lookup]]). */
  private def underRoot(paths: List[Path], root: String): Boolean =
    paths.nonEmpty && paths.forall { p =>
      var cur = p; var hit = false; var internal = true
      while (cur != null && !hit && internal) {
        hit = canon(cur.toString) == root
        if (!hit) {
          val seg = cur.getName
          internal = seg.startsWith("_") || seg.contains("=")
        }
        cur = cur.getParent
      }
      hit
    }

  /** The registered star rollup, if `child` is exactly the inner
    * equi-join of the registered fact and ALL its dims on exactly the
    * registered per-dim keys: one leaf per source, a bijection from the
    * remaining leaves to the dims by root, and per (dim, key) exactly
    * one same-named equality whose operands span THAT dim's leaf and a
    * different leaf. Extra leaves, missing dims, extra conditions, or a
    * user filter refuse — the rollup stores full star inner-join group
    * totals and nothing else. */
  private def starScanOf(child: LogicalPlan)
      : Option[(Rollup, Seq[Expression])] = {
    if (starRegistry.isEmpty) return None
    val (leaves, conds, raw) = collectJoinTree(child).getOrElse(return None)
    if (leaves.size < 2) return None
    starRegistry.values.collectFirst(Function.unlift { st =>
      // raw leg/tree conjuncts: dimension-only predicates will be applied
      // to the rollup (derived-dim subtrees substitute to their state
      // columns first); anything else must be an inferred isnotnull(key)
      val (dimFs, rest) = classifyFilters(raw, st.rollup)
        .partition(dimOnly(_, st.rollup.dims))
      val nnOpt: Option[Set[String]] = {
        val xs = rest.map {
          case org.apache.spark.sql.catalyst.expressions.IsNotNull(
            a: AttributeReference) => Some(a.name)
          case _ => None
        }
        if (xs.forall(_.isDefined)) Some(xs.flatten.toSet) else None
      }
      val matches = nnOpt.exists { nn =>
      val factLeafIdx = leaves.indices.filter(i => underRoot(leaves(i).roots, canon(st.factRoot)))
      leaves.size == st.dims.size + 1 &&
      factLeafIdx.size == 1 && {
        val remaining = leaves.indices.filterNot(_ == factLeafIdx.head)
        val assignment: Option[Map[Int, Int]] = { // dim index -> leaf index
          val pairs = st.dims.zipWithIndex.map { case ((droot, _), di) =>
            di -> remaining.filter(i => underRoot(leaves(i).roots, canon(droot)))
          }
          // greedy bijection (dims with one candidate first); roots are
          // distinct tables in practice, so ambiguity means refusal
          if (pairs.exists(_._2.isEmpty)) None
          else {
            val chosen = scala.collection.mutable.Map.empty[Int, Int]
            val used = scala.collection.mutable.Set.empty[Int]
            val ordered = pairs.sortBy(_._2.size)
            val ok = ordered.forall { case (di, cands) =>
              cands.find(!used(_)) match {
                case Some(c) => chosen(di) = c; used += c; true
                case None => false
              }
            }
            if (ok) Some(chosen.toMap) else None
          }
        }
        assignment.exists { asg =>
          val allKeys = st.dims.flatMap(_._2).toSet
          val expected = st.dims.map(_._2.size).sum
          val factOut = leaves(factLeafIdx.head).out
          conds.size == expected &&
          nn.subsetOf(allKeys) &&
          // each (dim, key) slot: exactly one same-named equality whose
          // operands span THAT dim's leaf and the FACT leaf — a dim-to-dim
          // equality (snowflake chain) must NOT satisfy a slot: a
          // snowflaked dim may carry a same-named column whose values
          // differ from the fact's, and `d1.k = d2.k` says nothing about
          // `fact.k = d2.k` unless d1.k is itself equated with fact.k,
          // which a registered star never requires. Conservative refusal:
          // only the canonical star shape routes.
          st.dims.zipWithIndex.forall { case ((_, keys), di) =>
            val dimOut = leaves(asg(di)).out
            keys.forall { k =>
              conds.count {
                case EqualTo(a: AttributeReference, b: AttributeReference) =>
                  a.name == k && b.name == k &&
                    ((dimOut.contains(a) && factOut.contains(b)) ||
                      (dimOut.contains(b) && factOut.contains(a)))
                case _ => false
              } == 1
            }
          } &&
          // every condition is consumed by some (dim, key) slot: fact on
          // one side, a registered key name on both
          conds.forall {
            case EqualTo(a: AttributeReference, b: AttributeReference) =>
              a.name == b.name && allKeys.contains(a.name) &&
                (factOut.contains(a) || factOut.contains(b))
            case _ => false
          }
        }
      }
      }
      if (matches) Some((st.rollup, dimFs)) else None
    })
  }

  /** Registry hit for a scan path: exact, or an ANCESTOR directory — a
    * SNAPSHOT relation's root paths are the table's version dirs
    * (`<root>/_v<N>` / `<root>/_batch_v<N>`, moving per commit), while
    * the registration is the stable table root. The walk only crosses
    * ENGINE-INTERNAL segments (underscore-prefixed version/batch dirs and
    * `k=v` hive partition dirs): a DIFFERENT table physically nested
    * under a registered root (`<root>/daily`, an MV's `<root>/state`)
    * must never resolve to the parent's rollup. */
  private def lookup(p: Path): Option[Rollup] = {
    var cur: Path = p
    var internal = true
    while (cur != null && internal) {
      val hit = registry.get(canon(cur.toString))
      if (hit.isDefined) return hit
      val seg = cur.getName
      internal = seg.startsWith("_") || seg.contains("=")
      cur = cur.getParent
    }
    None
  }

  /** The registered rollup, if `child` is a scan of a registered base
    * table (optionally under column-pruning Projects and Filters), plus
    * the dimension-only filter conjuncts to apply to the rollup. Multi-dir
    * scans (a manifest referencing several version dirs) match when every
    * dir resolves to the SAME registration.
    *
    * Filter handling: the visible-rows tombstone conjunct is CONSUMED
    * (the state corresponds to visible rows) and marks the `__DELETED`
    * attribute it references as covered; any other conjunct is collected
    * and verified dimension-only after the registry lookup. A relation
    * that CARRIES a `__DELETED` column with no covering tombstone filter
    * refuses — that query aggregates RAW rows (tombstones included),
    * which is not what the state answers. */
  private def baseScanOf(child: LogicalPlan): Option[(Rollup, Seq[Expression])] = {
    def walk(p: LogicalPlan, acc: Seq[Expression],
        covered: Set[org.apache.spark.sql.catalyst.expressions.ExprId])
        : Option[(Rollup, Seq[Expression])] = p match {
      case Project(pl, gc) if pl.forall(_.isInstanceOf[Attribute]) =>
        walk(gc, acc, covered)
      case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        walk(s.child, acc, covered)
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        val (rest, newCovered) = consumeTombstones(f.condition, covered)
        walk(f.child, acc ++ rest, newCovered)
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: HadoopFsRelation if coveredLeaf(lr, covered) =>
            val hits = fs.location.rootPaths.toList.map(lookup)
            hits match {
              case Nil => None
              case h :: t if h.isDefined && t.forall(_ == h) => h.map(r => (r, acc))
              case _ => None
            }
          case _ => None
        }
      case _ => None
    }
    walk(child, Nil, Set.empty)
      .map { case (r, fs) => (r, classifyFilters(fs, r)) }
      .filter { case (r, fs) => fs.forall(dimOnly(_, r.dims)) }
  }

  private def rewrite(agg: Aggregate, groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression], r: Rollup,
      filters: Seq[Expression] = Nil): Option[LogicalPlan] =
    rewriteExact(agg, groupings, aggExprs, r, filters)
      .orElse(rewriteViaFrames(agg, groupings, aggExprs, r, filters))

  /** Expression-level rewrite over the single rollup relation — every
    * result aggregate becomes a re-aggregation of a stored partial;
    * dimension-only `filters` are re-anchored onto the rollup's
    * attributes and applied below the re-aggregation (the rollup
    * partitions rows exactly by dimension tuples, so the filtered rows
    * are exactly the filtered groups' rows). COUNT(DISTINCT) is
    * coverable here only at the rollup's own grain (the `__dc_`
    * partial); coarser distinct groupings fall through to
    * [[rewriteViaFrames]]. */
  private def rewriteExact(agg: Aggregate, groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression], r: Rollup,
      filters: Seq[Expression]): Option[LogicalPlan] = {
    // plain attribute groupings match by name; EXPRESSION groupings match
    // a registered derived dim's normalized tree (GROUP BY month(d) over
    // a view declared GROUP BY (month(d) AS m) routes to state column m);
    // anything else refuses
    val groupNames = groupings.map {
      case a: AttributeReference => a.name
      case e => derivedNameOf(e, r).getOrElse(return None)
    }
    if (!groupNames.forall(r.dims.contains)) return None

    // a fresh analyzed read of the rollup (new exprIds per use)
    val rollupPlan = r.provider().queryExecution.analyzed
    val out = rollupPlan.output.map(a => a.name -> a).toMap

    // dimension-only filters re-anchor onto the rollup's attributes by
    // name and apply BELOW the re-aggregation
    if (!filters.forall(_.references.forall(a => out.contains(a.name)))) return None
    val source: LogicalPlan =
      if (filters.isEmpty) rollupPlan
      else org.apache.spark.sql.catalyst.plans.logical.Filter(
        filters.map(_.transform { case a: AttributeReference => out(a.name) })
          .reduce(org.apache.spark.sql.catalyst.expressions.And(_, _)),
        rollupPlan)

    def partial(kind: String, m: String): Option[Attribute] =
      if (r.measures.contains(m)) out.get(s"__${kind}_$m") else None

    // Per-aggregate `FILTER (WHERE p)` clauses route when p is a
    // DIMENSION-ONLY predicate (the WHERE-clause pushdown's argument,
    // per aggregate: the rollup partitions rows exactly by dimension
    // tuples, so filtering rows by p ≡ filtering rollup groups by p, and
    // the re-anchored FILTER on the re-aggregation selects exactly those
    // groups' partials). Measure/key filters refuse as before.
    def okFilter(fOpt: Option[Expression]): Boolean = fOpt.forall(e =>
      dimOnly(e, r.dims) && e.references.forall(a => out.contains(a.name)))
    def reanchored(fOpt: Option[Expression]): Option[Expression] =
      fOpt.map(_.transform { case a: AttributeReference => out(a.name) })

    // A COUNT whose re-summed partial sees no rows yields NULL where
    // SQL's COUNT is 0 — over an empty/filtered-out rollup on a GLOBAL
    // aggregate, and within any group whose rows a FILTER clause
    // excludes entirely
    def zeroWhen(e: Expression, filtered: Boolean): Expression =
      if (groupings.nonEmpty && !filtered) e
      else org.apache.spark.sql.catalyst.expressions.Coalesce(
        Seq(e, Literal(0L)))

    // rebuild each result expression against the rollup partials, keeping
    // the original name + exprId (+ dataType, via cast) so parents resolve
    val rebuilt = aggExprs.map {
      case a: AttributeReference if groupNames.contains(a.name) =>
        Alias(out(a.name), a.name)(exprId = a.exprId)
      case al @ Alias(childExpr, name) =>
        def rebuildAgg(ae: AggregateExpression): Option[Expression] = ae match {
          // COUNT(DISTINCT m) from the exact `__dc_` partial — ONLY at the
          // rollup's own grain: distinct counts are not re-aggregable
          // across merged groups (SUM(__dc) over a coarser grouping would
          // double-count values present in several subsumed groups)
          case AggregateExpression(Count(Seq(s: AttributeReference)), _, true, fOpt, _)
              if groupNames.toSet == r.dims.toSet && okFilter(fOpt) =>
            partial("dc", s.name).map(p =>
              zeroWhen(ae.copy(aggregateFunction = Sum(p), isDistinct = false,
                filter = reanchored(fOpt)), fOpt.nonEmpty))
          case AggregateExpression(f, _, false, fOpt, _) if okFilter(fOpt) =>
            val rf = reanchored(fOpt)
            f match {
            case Sum(s: AttributeReference, _) =>
              partial("sum", s.name).map(p =>
                ae.copy(aggregateFunction = Sum(p), filter = rf))
            case Min(s: AttributeReference) =>
              partial("min", s.name).map(p =>
                ae.copy(aggregateFunction = Min(p), filter = rf))
            case Max(s: AttributeReference) =>
              partial("max", s.name).map(p =>
                ae.copy(aggregateFunction = Max(p), filter = rf))
            case c: Count if c.children.forall(_.isInstanceOf[Literal]) =>
              Some(zeroWhen(ae.copy(aggregateFunction = Sum(out("__cnt")),
                filter = rf), fOpt.nonEmpty))
            case c @ Count(Seq(s: AttributeReference)) =>
              partial("nn", s.name).map(p =>
                zeroWhen(ae.copy(aggregateFunction = Sum(p), filter = rf),
                  fOpt.nonEmpty))
            case Average(s: AttributeReference, _) if s.dataType == DoubleType =>
              // divide by the NON-NULL count partial — `__cnt` would be
              // wrong the moment the measure has nulls (SQL avg ignores
              // them); rollups lacking `__nn_` simply do not rewrite AVG
              // TWO rebuilt aggregates inside one result expression: each
              // needs its OWN resultId — `ae.copy` keeps the original's,
              // and duplicate resultIds make the physical agg bind both
              // operands to the same slot (sum/sum ≡ 1.0)
              for (su <- partial("sum", s.name); nn <- partial("nn", s.name))
                yield Divide(
                  ae.copy(aggregateFunction = Sum(su), filter = rf,
                    resultId = NamedExpression.newExprId),
                  Cast(ae.copy(aggregateFunction = Sum(nn), filter = rf,
                    resultId = NamedExpression.newExprId), DoubleType))
            // variance family (r12): re-aggregable from the EXACT Σx/Σx²/n
            // partials a variance view maintains — the same deterministic
            // derivation the view's read() uses, so a routed answer equals
            // a view read (and a recompute to float-derivation tolerance).
            // MeasureAttr unwraps the implicit decimal→double input cast
            // the analyzer inserts under variance aggregates.
            case VarianceSamp(MeasureAttr(s), _) =>
              rebuildVar(ae, s.name, pop = false, std = false)
            case VariancePop(MeasureAttr(s), _) =>
              rebuildVar(ae, s.name, pop = true, std = false)
            case StddevSamp(MeasureAttr(s), _) =>
              rebuildVar(ae, s.name, pop = false, std = true)
            case StddevPop(MeasureAttr(s), _) =>
              rebuildVar(ae, s.name, pop = true, std = true)
            case _ => None
          }
          case _ => None
        }
        // `ae` is passed from the already-matched arm in rebuildAgg —
        // re-deriving it from childExpr here was a latent MatchError for
        // any future call path (variance under arithmetic, say)
        def rebuildVar(ae: AggregateExpression, m: String,
            pop: Boolean, std: Boolean): Option[Expression] = {
          val rf = reanchored(ae.filter)
          for (su <- partial("sum", m); nn <- partial("nn", m);
               sq <- partial("sumsq", m)) yield {
            def sumOf(p: Attribute): Expression =
              Cast(ae.copy(aggregateFunction = Sum(p), filter = rf,
                resultId = NamedExpression.newExprId), DoubleType)
            val n = sumOf(nn); val s1 = sumOf(su); val s2 = sumOf(sq)
            val divisor: Expression = if (pop) n else Subtract(n, Literal(1.0))
            val raw = Divide(Subtract(s2, Divide(Multiply(s1, s1), n)), divisor)
            val clamped = Greatest(Seq(raw, Literal(0.0)))
            val body: Expression = if (std) Sqrt(clamped) else clamped
            CaseWhen(Seq((GreaterThan(n, Literal(if (pop) 0.0 else 1.0)), body)),
              None)
          }
        }
        val newChild: Expression = childExpr match {
          case a: AttributeReference if groupNames.contains(a.name) => out(a.name)
          case ae: AggregateExpression => rebuildAgg(ae).getOrElse(return None)
          case c: Cast if c.child.isInstanceOf[AggregateExpression] =>
            rebuildAgg(c.child.asInstanceOf[AggregateExpression]) match {
              case Some(inner) => c.withNewChildren(Seq(inner))
              case None => return None
            }
          // a grouping EXPRESSION's output slot: read the derived column
          case e if derivedNameOf(e, r).exists(n =>
              groupNames.contains(n) && out.contains(n)) =>
            out(derivedNameOf(e, r).get)
          case _ => return None
        }
        val typed = if (newChild.dataType == al.dataType) newChild
          else Cast(newChild, al.dataType)
        Alias(typed, name)(exprId = al.exprId)
      case _ => return None
    }
    val newGroupings = groupNames.map(out(_))
    Some(Aggregate(newGroupings, rebuilt, source))
  }

  /** Frame-composed rewrite for queries the single-relation partial
    * rebuild cannot express — today: exact `COUNT(DISTINCT m)` at a
    * grouping COARSER than the rollup's grain. The additive aggregates
    * re-aggregate the rollup partials grouped by the query's (coarser)
    * keys; each distinct measure aggregates its registered PAIR relation
    * (one row per live (dims…, value) — the aux occurrence table a
    * count-distinct view maintains) with `countDistinct(value)` at the
    * same coarser keys; the per-measure frames left-join the additive
    * frame on the group keys (pair groups ⊆ state groups: both fold the
    * same feed, and an all-null-measure group has state rows but no
    * pairs — its distinct count is 0, SQL's answer for an empty set).
    * Everything is O(|rollup| + |distinct pairs|), never the source. The
    * rewritten plan keeps the original output names/exprIds/types via a
    * final Project, so parents are untouched. */
  private def rewriteViaFrames(agg: Aggregate, groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression], r: Rollup,
      filters: Seq[Expression]): Option[LogicalPlan] = {
    if (r.distincts.isEmpty) return None
    // GLOBAL (no GROUP BY) aggregates route too (r12): `groupBy()` frames
    // return exactly ONE row even over an empty input — SQL's global-
    // aggregate shape — and the single-row frames compose by cross join;
    // COUNT outputs coalesce to 0 below (SQL's empty-input answer, the
    // q332 pattern)
    val groupNames = groupings.map {
      case a: AttributeReference => a.name
      case e => derivedNameOf(e, r).getOrElse(return None) // derived dims route here too
    }
    if (!groupNames.forall(r.dims.contains)) return None
    // cheap pre-check BEFORE materializing the provider (spec + manifest
    // IO): this path only exists for registered count-distinct measures —
    // the common non-distinct query must not pay a second provider read
    // after rewriteExact already declined
    val anyRegisteredDistinct = aggExprs.exists {
      case Alias(childExpr, _) =>
        val ae = childExpr match {
          case e: AggregateExpression => Some(e)
          case c: Cast if c.child.isInstanceOf[AggregateExpression] =>
            Some(c.child.asInstanceOf[AggregateExpression])
          case _ => None
        }
        ae.exists(e => e.isDistinct && (e.aggregateFunction match {
          case Count(Seq(s: AttributeReference)) => r.distincts.contains(s.name)
          case _ => false
        }))
      case _ => false
    }
    if (!anyRegisteredDistinct) return None

    import org.apache.spark.sql.functions.{col => fc, sum => fsum, min => fmin,
      max => fmax, countDistinct, when => fwhen, coalesce => fcoalesce, lit}
    import org.apache.spark.sql.Column
    // dimension-only filters apply to BOTH frames (state and pair
    // relations carry the dim columns); re-anchor by bare name so the
    // fresh frames' analyzer resolves them
    def applyFilters(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      filters.foldLeft(df)((d, e) => d.filter(
        org.apache.spark.sql.GraftColumnBridge.column(e.transform {
          case a: AttributeReference =>
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(a.name))
        })))
    val state = applyFilters(r.provider())
    val stateCols = state.columns.toSet
    def partialName(kind: String, m: String): Option[String] = {
      val n = s"__${kind}_$m"
      if (r.measures.contains(m) && stateCols(n)) Some(n) else None
    }

    // per output: the additive agg columns it needs (aliased fresh) and
    // the final select column; distinct measures collect slots — one
    // shared slot per unfiltered measure, one per filtered occurrence
    // (each filter gates its own pair aggregation)
    val additive = scala.collection.mutable.ArrayBuffer.empty[Column]
    val distinctSlots =
      scala.collection.mutable.ArrayBuffer.empty[(String, Option[Column], String)]
    var sawDistinct = false
    var i = 0
    def fresh(): String = { i += 1; s"__rw_$i" }

    // per-aggregate FILTER (WHERE p): a dimension-only p filters WHOLE
    // rollup groups, so a filtered partial re-aggregation is expressed by
    // nulling the partial outside p (`sum(when(p, partial))` — SQL
    // aggregates skip nulls) and, for the pair relation, nulling the
    // value (`countDistinct(when(p, value))`). Measure/key filters refuse.
    def filterCol(ae: AggregateExpression): Option[Option[Column]] = ae.filter match {
      case None => Some(None)
      case Some(e) if dimOnly(e, r.dims) =>
        Some(Some(org.apache.spark.sql.GraftColumnBridge.column(e.transform {
          case a: AttributeReference =>
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(a.name))
        })))
      case _ => None
    }
    // COUNT-shaped outputs answer 0 (never NULL) when their filter — or
    // an empty global input — leaves no rows, matching SQL
    def zeroCoalesced(c: Column, counts: Boolean, filtered: Boolean): Column =
      if (counts && (filtered || groupNames.isEmpty)) fcoalesce(c, lit(0L)) else c

    def additiveOf(ae: AggregateExpression): Option[Column] = {
      val fOpt = filterCol(ae).getOrElse(return None)
      def gated(c: Column): Column = fOpt.map(f => fwhen(f, c)).getOrElse(c)
      ae.aggregateFunction match {
        case _ if ae.isDistinct => ae.aggregateFunction match {
          case Count(Seq(s: AttributeReference)) if r.distincts.contains(s.name) =>
            sawDistinct = true
            val slot = fOpt match {
              case None =>
                distinctSlots.collectFirst {
                  case (m, None, n) if m == s.name => n
                }.getOrElse {
                  val n = s"__rwd_${distinctSlots.size}"
                  distinctSlots += ((s.name, None, n)); n
                }
              case some =>
                val n = s"__rwd_${distinctSlots.size}"
                distinctSlots += ((s.name, some, n)); n
            }
            Some(fcoalesce(fc(slot), lit(0L)))
          case _ => None
        }
        case Sum(s: AttributeReference, _) =>
          partialName("sum", s.name).map { p =>
            val t = fresh(); additive += fsum(gated(fc(p))).as(t); fc(t)
          }
        case Min(s: AttributeReference) =>
          partialName("min", s.name).map { p =>
            val t = fresh(); additive += fmin(gated(fc(p))).as(t); fc(t)
          }
        case Max(s: AttributeReference) =>
          partialName("max", s.name).map { p =>
            val t = fresh(); additive += fmax(gated(fc(p))).as(t); fc(t)
          }
        case c: Count if c.children.forall(_.isInstanceOf[Literal]) =>
          val t = fresh(); additive += fsum(gated(fc("__cnt"))).as(t)
          Some(zeroCoalesced(fc(t), counts = true, filtered = fOpt.nonEmpty))
        case Count(Seq(s: AttributeReference)) =>
          partialName("nn", s.name).map { p =>
            val t = fresh(); additive += fsum(gated(fc(p))).as(t)
            zeroCoalesced(fc(t), counts = true, filtered = fOpt.nonEmpty)
          }
        case Average(s: AttributeReference, _) if s.dataType == DoubleType =>
          for (su <- partialName("sum", s.name); nn <- partialName("nn", s.name))
            yield {
              val t1 = fresh(); val t2 = fresh()
              additive += fsum(gated(fc(su))).as(t1)
              additive += fsum(gated(fc(nn))).as(t2)
              fwhen(fc(t2) > 0, fc(t1).cast(DoubleType) / fc(t2))
            }
        case _ => None
      }
    }

    val outs: Seq[Column] = aggExprs.map {
      case a: AttributeReference if groupNames.contains(a.name) => fc(a.name)
      case al @ Alias(childExpr, _) =>
        val c: Column = childExpr match {
          case a: AttributeReference if groupNames.contains(a.name) => fc(a.name)
          case ae: AggregateExpression => additiveOf(ae).getOrElse(return None)
          case cst: Cast if cst.child.isInstanceOf[AggregateExpression] =>
            additiveOf(cst.child.asInstanceOf[AggregateExpression])
              .getOrElse(return None)
          case e if derivedNameOf(e, r).exists(groupNames.contains) =>
            fc(derivedNameOf(e, r).get) // grouping expression → derived column
          case _ => return None
        }
        c
      case _ => return None
    }.zipWithIndex.map { case (c, idx) => c.as(s"__o_$idx") }
    if (!sawDistinct) return None // additive-only queries stay on rewriteExact

    // the anchor frame: one row per group, and exactly ONE row for a
    // global aggregate even over an empty state (SQL's global-aggregate
    // shape). It is an aggregation, never a distinct(): this rule runs
    // after the optimizer has replaced Deduplicate nodes, so a new one
    // fails to plan. A distinct-only query aggregates an unused anchor.
    val aggsSeq = if (additive.nonEmpty) additive.toSeq else Seq(fsum(fc("__cnt")).as(fresh()))
    val aDf = state.groupBy(groupNames.map(fc): _*).agg(aggsSeq.head, aggsSeq.tail: _*)
    // one pair-frame read + one aggregation per distinct MEASURE, carrying
    // every slot (unfiltered + each filtered occurrence) in one agg
    val byMeasure: Seq[(String, Seq[(Option[Column], String)])] =
      distinctSlots.map(_._1).distinct.toSeq.map(m =>
        m -> distinctSlots.toSeq.collect { case (`m`, f, n) => (f, n) })
    val joined = byMeasure.foldLeft(aDf) { case (acc, (m, slots)) =>
      val pairs = applyFilters(r.distincts(m)())
      val aggs = slots.map { case (f, n) =>
        countDistinct(
          f.map(fcol => fwhen(fcol, fc(DistinctValCol))).getOrElse(fc(DistinctValCol))
        ).as(n)
      }
      val b = pairs.groupBy(groupNames.map(fc): _*).agg(aggs.head, aggs.tail: _*)
      if (groupNames.isEmpty) acc.crossJoin(b) // both single-row
      else {
        // NULL-SAFE join: SQL GROUP BY groups null keys, and views encode/
        // decode them — a plain usingColumns join would drop the null
        // group's pair counts on the floor
        val cond = groupNames.map(n => acc(n) <=> b(n)).reduce(_ && _)
        groupNames.foldLeft(acc.join(b, cond, "left"))((d, n) => d.drop(b(n)))
      }
    }
    val plan = joined.select(outs: _*).queryExecution.analyzed
    val projections = aggExprs.zip(plan.output).map { case (orig, att) =>
      val typed: Expression =
        if (att.dataType == orig.dataType) att else Cast(att, orig.dataType)
      Alias(typed, orig.name)(exprId = orig.exprId)
    }
    Some(Project(projections, plan))
  }
}
