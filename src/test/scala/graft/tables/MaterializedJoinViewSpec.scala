package graft.tables

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Incrementally-maintained join-aggregate views (one-dimension star
  * views): every refresh must leave the view EQUAL to a full recompute of
  * `fact ⋈ dim GROUP BY … AGG …` over both tables' visible rows, while
  * reading only the deltas (plus pruned lookups) and rewriting only the
  * state buckets holding changed groups. */
class MaterializedJoinViewSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString
  private val agg = MaterializedAggView.Agg

  /** fact(k, jk, x) ⋈ dim(jk, g) → GROUP BY g: count(*), sum(x). */
  private def recompute(fact: SnapshotTable, dim: BucketedSnapshotTable)
      : Set[(String, Long, Option[Long])] =
    graft.cdc.ScdMerge.scd1Current(fact.read(spark))
      .join(graft.cdc.ScdMerge.scd1Current(dim.read(spark)), Seq("jk"))
      .groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("sx"))
      .as[(String, Long, Option[Long])].collect().toSet

  private def rows(mv: MaterializedJoinAggView): Set[(String, Long, Option[Long])] =
    mv.read(spark).as[(String, Long, Option[Long])].collect().toSet

  test("fact and dim deltas both fold exactly; groups move when a dim attribute changes") {
    val work = tmp("mvj")
    val fact = new SnapshotTable(s"$work/fact")
    val dim = new BucketedSnapshotTable(s"$work/dim", 4, Seq("jk"))
    fact.write(spark, Seq((1, 10L, 5L), (2, 10L, 7L), (3, 20L, 11L))
      .toDF("k", "jk", "x"))
    dim.scd1Merge(spark, Seq((10L, 1L, "red"), (20L, 1L, "blue"))
      .toDF("jk", "seq", "g"), "seq")
    val mv = MaterializedJoinAggView.create(spark, s"$work/mv",
      s"$work/fact", Seq("k"), s"$work/dim", Nil, Seq("jk"), Seq("g"),
      Seq(agg("count", None, "n"), agg("sum", Some("x"), "sx")), numBuckets = 8)

    val (vec1, _) = mv.refresh(spark)
    assert(vec1 == Seq(1, 1) && rows(mv) == recompute(fact, dim))
    assert(rows(mv) == Set(("red", 2L, Some(12L)), ("blue", 1L, Some(11L))))

    // ── leg 1: fact-side update + insert + delete in one window
    fact.write(spark, Seq((1, 10L, 6L), (3, 20L, 11L), (4, 20L, 1L)).toDF("k", "jk", "x"))
    mv.refresh(spark)
    assert(rows(mv) == recompute(fact, dim))
    assert(rows(mv) == Set(("red", 1L, Some(6L)), ("blue", 2L, Some(12L))))

    // ── leg 2: a dim attribute changes — every joined fact row must MOVE
    //    group without any fact-side change ("red" dies, "crimson" born)
    dim.scd1Merge(spark, Seq((10L, 2L, "crimson")).toDF("jk", "seq", "g"), "seq")
    mv.refresh(spark)
    assert(rows(mv) == recompute(fact, dim))
    assert(rows(mv).exists(_._1 == "crimson") && !rows(mv).exists(_._1 == "red"))

    // ── both sides change in ONE refresh window (the ΔF⋈ΔD cross term):
    //    new fact rows under a NEW dim key must count exactly once
    fact.write(spark, Seq((1, 10L, 6L), (3, 20L, 11L), (4, 20L, 1L), (5, 30L, 100L))
      .toDF("k", "jk", "x"))
    dim.scd1Merge(spark, Seq((30L, 3L, "green")).toDF("jk", "seq", "g"), "seq")
    mv.refresh(spark)
    assert(rows(mv) == recompute(fact, dim))
    assert(rows(mv).exists(r => r._1 == "green" && r._2 == 1L && r._3 == Some(100L)))
  }

  test("late-arriving dim: unmatched fact rows appear when their dim row lands") {
    val work = tmp("mvjl")
    val fact = new SnapshotTable(s"$work/fact")
    val dim = new BucketedSnapshotTable(s"$work/dim", 4, Seq("jk"))
    fact.write(spark, Seq((1, 10L, 5L), (2, 99L, 7L)).toDF("k", "jk", "x"))
    dim.scd1Merge(spark, Seq((10L, 1L, "red")).toDF("jk", "seq", "g"), "seq")
    val mv = MaterializedJoinAggView.create(spark, s"$work/mv",
      s"$work/fact", Seq("k"), s"$work/dim", Nil, Seq("jk"), Seq("g"),
      Seq(agg("count", None, "n"), agg("sum", Some("x"), "sx")), numBuckets = 4)
    mv.refresh(spark)
    // key 99 has no dim row: inner-join semantics, it contributes nothing
    assert(rows(mv) == Set(("red", 1L, Some(5L))))
    // …until its dim row arrives — leg 2 joins the OLD fact to the dim
    // delta and the orphan surfaces, no fact-side change required
    dim.scd1Merge(spark, Seq((99L, 2L, "late")).toDF("jk", "seq", "g"), "seq")
    mv.refresh(spark)
    assert(rows(mv) == recompute(fact, dim))
    assert(rows(mv).exists(r => r._1 == "late" && r._3 == Some(7L)))
  }

  test("exactly-once: no-op refreshes; replayed windows do not double-count") {
    val work = tmp("mvje")
    val fact = new SnapshotTable(s"$work/fact")
    val dim = new BucketedSnapshotTable(s"$work/dim", 4, Seq("jk"))
    fact.write(spark, Seq((1, 10L, 5L)).toDF("k", "jk", "x"))
    dim.scd1Merge(spark, Seq((10L, 1L, "red")).toDF("jk", "seq", "g"), "seq")
    val mv = MaterializedJoinAggView.create(spark, s"$work/mv",
      s"$work/fact", Seq("k"), s"$work/dim", Nil, Seq("jk"), Seq("g"),
      Seq(agg("sum", Some("x"), "sx")), numBuckets = 4)
    mv.refresh(spark)
    val once = rows0(mv)
    val (vec, touched) = mv.refresh(spark)
    assert(vec == Seq(1, 1) && touched.isEmpty && rows0(mv) == once)
    assert(mv.lastApplied(spark)._2 == Seq(1, 1))
  }

  private def rows0(mv: MaterializedJoinAggView): Set[(String, Option[Long])] =
    mv.read(spark).as[(String, Option[Long])].collect().toSet

  test("SQL surface: CREATE / REFRESH MATERIALIZED JOIN VIEW and the query form") {
    val work = tmp("mvjs")
    def sql(q: String) = org.apache.spark.sql.GraftColumnBridge.graftSql(spark, q)
    val fact = new SnapshotTable(s"$work/fact")
    val dim = new BucketedSnapshotTable(s"$work/dim", 4, Seq("jk"))
    fact.write(spark, Seq((1, 10L, 5L), (2, 20L, 7L)).toDF("k", "jk", "x"))
    dim.scd1Merge(spark, Seq((10L, 1L, "red"), (20L, 1L, "blue"))
      .toDF("jk", "seq", "g"), "seq")
    sql(s"CREATE MATERIALIZED JOIN VIEW '$work/mv' FACT '$work/fact' KEYS (k) " +
      s"DIM '$work/dim' ON (jk) GROUP BY (g) " +
      "AGG (count(*) AS n, sum(x) AS sx) INTO 4 BUCKETS").collect()
    val r = sql(s"REFRESH MATERIALIZED JOIN VIEW '$work/mv'").collect().head
    assert(r.getInt(0) == 1 && r.getInt(1) == 1 && r.getInt(2) > 0, r.toString)
    val got = sql(s"MATERIALIZED VIEW '$work/mv'")
      .as[(String, Long, Option[Long])].collect().toSet
    assert(got == Set(("red", 1L, Some(5L)), ("blue", 1L, Some(7L))), got.toString)
    val d = sql(s"DESCRIBE MATERIALIZED JOIN VIEW '$work/mv'").collect().head
    assert(d.getString(0) == s"$work/fact" && d.getString(2) == "jk" &&
      d.getString(4) == "count:*:n,sum:x:sx" &&
      d.getInt(6) == 1 && d.getInt(7) == 1, d.toString)
    // non-additive aggregates are rejected with a named error
    val e = intercept[IllegalArgumentException] {
      sql(s"CREATE MATERIALIZED JOIN VIEW '$work/mv2' FACT '$work/fact' KEYS (k) " +
        s"DIM '$work/dim' ON (jk) GROUP BY (g) AGG (min(x) AS mn)").collect()
    }
    assert(e.getMessage.contains("additive"))
  }

  test("transparent join routing: aggregate over fact⋈dim reads the view state") {
    val work = tmp("mvjr")
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, spark)
    val fact = new SnapshotTable(s"$work/fact")
    val dim = new BucketedSnapshotTable(s"$work/dim", 4, Seq("jk"))
    fact.write(spark, Seq((1, 10L, 5L), (2, 10L, 7L), (3, 20L, 11L)).toDF("k", "jk", "x"))
    dim.scd1Merge(spark, Seq((10L, 1L, "red", "r1"), (20L, 1L, "blue", "r2"))
      .toDF("jk", "seq", "g", "h"), "seq")
    val mv = MaterializedJoinAggView.create(spark, s"$work/mv",
      s"$work/fact", Seq("k"), s"$work/dim", Nil, Seq("jk"), Seq("g", "h"),
      Seq(agg("count", None, "n"), agg("sum", Some("x"), "sx")), numBuckets = 4)
    mv.refresh(spark)
    try {
      mv.registerRewrite(spark)
      def joined = fact.readIndexed(spark)
        .join(graft.cdc.ScdMerge.scd1Current(dim.readIndexed(spark)), Seq("jk"))
      // own grain routes
      val own = joined.groupBy(col("g"), col("h"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      val planO = own.queryExecution.optimizedPlan.toString
      assert(planO.contains("__sum_x") && !planO.contains("/fact/_v"),
        s"own grain must route off the fact scan:\n$planO")
      assert(own.as[(String, String, Long, Long)].collect().toSet ==
        Set(("red", "r1", 2L, 12L), ("blue", "r2", 1L, 11L)))
      // a COARSER grain routes too — sums/counts re-aggregate
      val coarse = joined.groupBy(col("g")).agg(sum(col("x")).as("sx"))
      val planC = coarse.queryExecution.optimizedPlan.toString
      assert(planC.contains("__sum_x"), s"coarser grain must route:\n$planC")
      assert(coarse.as[(String, Long)].collect().toSet ==
        Set(("red", 12L), ("blue", 11L)))
      // REFRESH is visible through the same transparent query
      fact.write(spark, Seq((1, 10L, 5L), (2, 10L, 8L), (3, 20L, 11L)).toDF("k", "jk", "x"))
      mv.refresh(spark)
      assert(coarse.as[(String, Long)].collect().toSet ==
        Set(("red", 13L), ("blue", 11L)))
      // an extra filter must NOT route (the rollup has no row detail)
      val filtered = joined.filter(col("x") > 6).groupBy(col("g"))
        .agg(sum(col("x")).as("sx"))
      assert(!filtered.queryExecution.optimizedPlan.toString.contains("__sum_x"))
      assert(filtered.as[(String, Long)].collect().toSet ==
        Set(("red", 8L), ("blue", 11L)))
      // an OUTER join must not route either (the state is inner-join)
      val outer = fact.readIndexed(spark)
        .join(graft.cdc.ScdMerge.scd1Current(dim.readIndexed(spark)), Seq("jk"), "left")
        .groupBy(col("g")).agg(sum(col("x")).as("sx"))
      assert(!outer.queryExecution.optimizedPlan.toString.contains("__sum_x"))
      // a TAUTOLOGICAL condition (both operands from the fact leg) is a
      // cross join in disguise: names alone would pass the key check, so
      // the matcher must require the operands to come from opposite legs
      val fdf = fact.readIndexed(spark)
      val ddf = graft.cdc.ScdMerge.scd1Current(dim.readIndexed(spark))
        .withColumnRenamed("jk", "djk")
      val cross = fdf.join(ddf, fdf("jk") === fdf("jk"))
        .groupBy(col("g")).agg(sum(col("x")).as("sx"))
      assert(!cross.queryExecution.optimizedPlan.toString.contains("__sum_x"),
        "same-leg equality must not route")
    } finally graft.plans.AggRollupRewrite.clear()
  }

  test("count(distinct c) over the join: exact under fact deletes, dim moves, resurrection") {
    val work = tmp("mvjdc")
    val fact = new SnapshotTable(s"$work/fact")
    val dim = new BucketedSnapshotTable(s"$work/dim", 4, Seq("jk"))
    // red holds values {X (k1,k2), Y (k3)}; blue holds {X (k4)}
    fact.write(spark, Seq((1, 10L, "X"), (2, 10L, "X"), (3, 10L, "Y"), (4, 20L, "X"))
      .toDF("k", "jk", "v"))
    dim.scd1Merge(spark, Seq((10L, 1L, "red"), (20L, 1L, "blue"))
      .toDF("jk", "seq", "g"), "seq")
    val mv = MaterializedJoinAggView.create(spark, s"$work/mv",
      s"$work/fact", Seq("k"), s"$work/dim", Nil, Seq("jk"), Seq("g"),
      Seq(agg("count", None, "n"), agg("count_distinct", Some("v"), "dv")),
      numBuckets = 4)
    def want = graft.cdc.ScdMerge.scd1Current(fact.read(spark))
      .join(graft.cdc.ScdMerge.scd1Current(dim.read(spark)), Seq("jk"))
      .groupBy("g").agg(count(lit(1)).as("n"), countDistinct(col("v")).as("dv"))
      .as[(String, Long, Long)].collect().toSet
    def got = mv.read(spark).as[(String, Long, Long)].collect().toSet
    mv.refresh(spark)
    assert(got == want && got == Set(("red", 3L, 2L), ("blue", 1L, 1L)), got.toString)
    // drop ONE of red's two X holders: occurrence 2→1, distinct unchanged
    fact.write(spark, Seq((2, 10L, "X"), (3, 10L, "Y"), (4, 20L, "X")).toDF("k", "jk", "v"))
    mv.refresh(spark)
    assert(got == want && got.exists(r => r._1 == "red" && r._3 == 2L), got.toString)
    // drop the LAST X holder in red: the distinct count falls
    fact.write(spark, Seq((3, 10L, "Y"), (4, 20L, "X")).toDF("k", "jk", "v"))
    mv.refresh(spark)
    assert(got == want && got.exists(r => r._1 == "red" && r._3 == 1L), got.toString)
    // dim flip: jk 20 moves blue → red, so X RESURRECTS in red via the
    // DIM leg (no fact change) and blue's group dies entirely
    dim.scd1Merge(spark, Seq((20L, 2L, "red")).toDF("jk", "seq", "g"), "seq")
    mv.refresh(spark)
    assert(got == want && got == Set(("red", 2L, 2L)), got.toString)
    // cross-window: a new fact row under a NEW dim key in ONE refresh
    // (the ΔF⋈ΔD cross term) must fold its pair exactly once
    fact.write(spark, Seq((3, 10L, "Y"), (4, 20L, "X"), (5, 30L, "Y")).toDF("k", "jk", "v"))
    dim.scd1Merge(spark, Seq((30L, 3L, "red")).toDF("jk", "seq", "g"), "seq")
    mv.refresh(spark)
    assert(got == want && got == Set(("red", 3L, 2L)), got.toString)
  }

  test("count(distinct c): a crash between the aux and main commits heals on replay") {
    val work = tmp("mvjdcc")
    val fact = new SnapshotTable(s"$work/fact")
    val dim = new BucketedSnapshotTable(s"$work/dim", 4, Seq("jk"))
    fact.write(spark, Seq((1, 10L, "X"), (2, 10L, "Y")).toDF("k", "jk", "v"))
    dim.scd1Merge(spark, Seq((10L, 1L, "red")).toDF("jk", "seq", "g"), "seq")
    val mv = MaterializedJoinAggView.create(spark, s"$work/mv",
      s"$work/fact", Seq("k"), s"$work/dim", Nil, Seq("jk"), Seq("g"),
      Seq(agg("count_distinct", Some("v"), "dv")), numBuckets = 4)
    mv.refresh(spark)
    // Y disappears; the refresh CRASHES after the aux occurrence commit
    // (window vector fact=2,dim=1) but before the main state commit
    fact.write(spark, Seq((1, 10L, "X")).toDF("k", "jk", "v"))
    TestHooks.onMsvStep(mv, s => if (s.startsWith("aux-merged")) sys.error("boom"))
    intercept[RuntimeException] { mv.refresh(spark) }
    TestHooks.onMsvStep(mv, _ => ())
    assert(mv.lastApplied(spark)._2 == Seq(1, 1))
    // the source ADVANCES past the crash: Y REVERTS before the replay —
    // the replay must fold EXACTLY the crashed window against the pinned
    // aux base, then the remainder in a second pass (folding the net
    // window would freeze Y's crashed count forever)
    fact.write(spark, Seq((1, 10L, "X"), (2, 10L, "Y")).toDF("k", "jk", "v"))
    mv.refresh(spark)
    def got = mv.read(spark).as[(String, Long)].collect().toSet
    assert(got == Set(("red", 2L)), got.toString)
    assert(mv.lastApplied(spark)._2 == Seq(3, 1))
    // aux truly healed: Y vanishing and returning round-trips exactly
    fact.write(spark, Seq((1, 10L, "X")).toDF("k", "jk", "v"))
    mv.refresh(spark)
    assert(got == Set(("red", 1L)), got.toString)
    fact.write(spark, Seq((1, 10L, "X"), (9, 10L, "Y")).toDF("k", "jk", "v"))
    mv.refresh(spark)
    assert(got == Set(("red", 2L)), got.toString)
  }

  test("join-view count(distinct) routes at own grain (__dc) and coarser (pairs)") {
    val work = tmp("mvjdcr")
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, spark)
    val fact = new SnapshotTable(s"$work/fact")
    val dim = new BucketedSnapshotTable(s"$work/dim", 4, Seq("jk"))
    fact.write(spark, Seq((1, 10L, "X"), (2, 10L, "Y"), (3, 20L, "X"))
      .toDF("k", "jk", "v"))
    dim.scd1Merge(spark, Seq((10L, 1L, "red", "r1"), (20L, 1L, "red", "r2"))
      .toDF("jk", "seq", "g", "h"), "seq")
    val mv = MaterializedJoinAggView.create(spark, s"$work/mv",
      s"$work/fact", Seq("k"), s"$work/dim", Nil, Seq("jk"), Seq("g", "h"),
      Seq(agg("count", None, "n"), agg("count_distinct", Some("v"), "dv")),
      numBuckets = 4)
    mv.refresh(spark)
    try {
      mv.registerRewrite(spark)
      def joined = fact.readIndexed(spark)
        .join(graft.cdc.ScdMerge.scd1Current(dim.readIndexed(spark)), Seq("jk"))
      // own grain: the __dc_ partial answers directly
      val own = joined.groupBy(col("g"), col("h")).agg(countDistinct(col("v")).as("dv"))
      val planO = own.queryExecution.optimizedPlan.toString
      assert(planO.contains("__dc_v") && !planO.contains("/fact/_v"),
        s"own-grain distinct must route:\n$planO")
      assert(own.as[(String, String, Long)].collect().toSet ==
        Set(("red", "r1", 2L), ("red", "r2", 1L)))
      // coarser grain: exact via the aux PAIR relation (X spans both
      // subsumed groups and must count ONCE) — still never the fact
      val coarse = joined.groupBy(col("g"))
        .agg(count(lit(1)).as("n"), countDistinct(col("v")).as("dv"))
      val planC = coarse.queryExecution.optimizedPlan.toString
      assert(planC.contains("__dval") && !planC.contains("sum(__dc") &&
        !planC.contains("/fact/_v"),
        s"coarse distinct must read the pair relation, not the fact:\n$planC")
      assert(coarse.as[(String, Long, Long)].collect().toSet == Set(("red", 3L, 2L)))
    } finally graft.plans.AggRollupRewrite.clear()
  }

  test("dimension-only filters on a join query route; key/measure filters refuse") {
    val work = tmp("mvjfilt")
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, spark)
    val fact = new SnapshotTable(s"$work/fact")
    val dim = new BucketedSnapshotTable(s"$work/dim", 4, Seq("jk"))
    fact.write(spark, Seq((1, 10L, 5L), (2, 10L, 7L), (3, 20L, 11L)).toDF("k", "jk", "x"))
    dim.scd1Merge(spark, Seq((10L, 1L, "red", "r1"), (20L, 1L, "blue", "r2"))
      .toDF("jk", "seq", "g", "h"), "seq")
    val mv = MaterializedJoinAggView.create(spark, s"$work/mv",
      s"$work/fact", Seq("k"), s"$work/dim", Nil, Seq("jk"), Seq("g", "h"),
      Seq(agg("count", None, "n"), agg("sum", Some("x"), "sx")), numBuckets = 4)
    mv.refresh(spark)
    try {
      mv.registerRewrite(spark)
      def joined = fact.readIndexed(spark)
        .join(graft.cdc.ScdMerge.scd1Current(dim.readIndexed(spark)), Seq("jk"))
      // a filter on a GROUP dimension routes — applied to the rollup
      val q1 = joined.filter(col("g") === "red").groupBy(col("h"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      val p1 = q1.queryExecution.optimizedPlan.toString
      assert(p1.contains("__sum_x") && !p1.contains("/fact/_v"),
        s"dim-filtered join query must route:\n$p1")
      assert(q1.as[(String, Long, Long)].collect().toSet == Set(("r1", 2L, 12L)))
      // a filter on the JOIN KEY (not a group column) must refuse
      val q2 = joined.filter(col("jk") === 10L).groupBy(col("g"))
        .agg(sum(col("x")).as("sx"))
      assert(!q2.queryExecution.optimizedPlan.toString.contains("__sum_x"),
        "join-key-filtered query must stay on the base")
      assert(q2.as[(String, Long)].collect().toSet == Set(("red", 12L)))
      // a filter on a MEASURE must refuse
      val q3 = joined.filter(col("x") > 6).groupBy(col("g")).agg(sum(col("x")).as("sx"))
      assert(!q3.queryExecution.optimizedPlan.toString.contains("__sum_x"))
      assert(q3.as[(String, Long)].collect().toSet == Set(("red", 7L), ("blue", 11L)))
    } finally graft.plans.AggRollupRewrite.clear()
  }

  test("NULL dim group keys fold exactly; a legacy pre-mask spec fails loudly") {
    val work = tmp("mvjnull")
    val fact = new SnapshotTable(s"$work/fact")
    val dim = new BucketedSnapshotTable(s"$work/dim", 4, Seq("jk"))
    fact.write(spark, Seq((1, 10L, 5L), (2, 20L, 7L), (3, 20L, 11L))
      .toDF("k", "jk", "x"))
    // dim row 20 carries a NULL group attribute — the inner join keeps
    // its fact rows, so the NULL group must fold with SQL semantics
    dim.scd1Merge(spark, Seq((10L, 1L, "red"), (20L, 1L, null))
      .toDF("jk", "seq", "g"), "seq")
    val mv = MaterializedJoinAggView.create(spark, s"$work/mv",
      s"$work/fact", Seq("k"), s"$work/dim", Nil, Seq("jk"), Seq("g"),
      Seq(agg("count", None, "n"), agg("sum", Some("x"), "sx"),
        agg("count_distinct", Some("g"), "dg")), numBuckets = 4)
    mv.refresh(spark)
    def got = mv.read(spark).as[(Option[String], Long, Option[Long], Long)]
      .collect().toSet
    // count(distinct g) over the null group is 0 — the stand-in must
    // never leak into the measure aggregation
    assert(got == Set((Some("red"), 1L, Some(5L), 1L), (None, 2L, Some(18L), 0L)),
      got.toString)
    // the null group MOVES when the dim attribute flips (leg 2), and a
    // real group moves INTO null the other way
    dim.scd1Merge(spark, Seq((20L, 2L, "blue"), (10L, 2L, null))
      .toDF("jk", "seq", "g"), "seq")
    mv.refresh(spark)
    assert(got == Set((Some("blue"), 2L, Some(18L), 1L), (None, 1L, Some(5L), 0L)),
      got.toString)
    // a LEGACY (pre-mask) one-dimension spec keeps the non-null contract
    // and refuses
    new java.io.File(s"$work/mv2").mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/mv2/_mvs"),
      s"factRoot=$work/fact\nfactKeys=k\ndims=1\ndim0.root=$work/dim\n" +
        "dim0.keys=\ndim0.join=jk\ngroupBy=g\naggs=sum:x:sx\nnumBuckets=4\n")
    val legacy = new MaterializedJoinAggView(s"$work/mv2")
    val e = intercept[IllegalArgumentException] { legacy.refresh(spark) }
    assert(e.getMessage.contains("NULL group-key"), e.getMessage)
  }

  test("a legacy _mvj join-view root is refused by name, never converted") {
    val work = tmp("mvjlegacy")
    def sql(q: String) = org.apache.spark.sql.GraftColumnBridge.graftSql(spark, q)
    val fact = new SnapshotTable(s"$work/fact")
    val dim = new BucketedSnapshotTable(s"$work/dim", 4, Seq("jk"))
    fact.write(spark, Seq((1, 10L, 5L)).toDF("k", "jk", "x"))
    dim.scd1Merge(spark, Seq((10L, 1L, "red")).toDF("jk", "seq", "g"), "seq")
    new java.io.File(s"$work/mv").mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/mv/_mvj"),
      s"factRoot=$work/fact\nfactKeys=k\ndimRoot=$work/dim\ndimKeys=\n" +
        "joinKeys=jk\ngroupBy=g\naggs=sum:x:sx\nnumBuckets=4\nnullMask=1\n")
    def refused(e: Throwable): Unit = assert(
      e.getMessage.contains(s"$work/mv") &&
        e.getMessage.contains("re-create the view with CREATE MATERIALIZED JOIN VIEW"),
      e.getMessage)
    refused(intercept[IllegalArgumentException] {
      new MaterializedJoinAggView(s"$work/mv").refresh(spark) })
    // the kind-agnostic surfaces open it as a star view and refuse too
    refused(intercept[IllegalArgumentException] {
      sql(s"MATERIALIZED VIEW '$work/mv'").collect() })
    refused(intercept[IllegalArgumentException] {
      sql(s"VACUUM MATERIALIZED JOIN VIEW '$work/mv'").collect() })
    // CREATE over the legacy root refuses rather than stacking a new spec
    refused(intercept[IllegalArgumentException] {
      MaterializedJoinAggView.create(spark, s"$work/mv", s"$work/fact", Seq("k"),
        s"$work/dim", Nil, Seq("jk"), Seq("g"), Seq(agg("sum", Some("x"), "sx")))
    })
    assert(!new java.io.File(s"$work/mv/_mvs").exists())
  }

  test("refresh rewrites only the buckets holding changed groups") {
    val work = tmp("mvjb")
    val fact = new SnapshotTable(s"$work/fact")
    val dim = new BucketedSnapshotTable(s"$work/dim", 8, Seq("jk"))
    val base = (1 to 512).map(i => (i, (i % 64).toLong, i.toLong))
    fact.write(spark, base.toDF("k", "jk", "x"))
    dim.scd1Merge(spark, (0 until 64).map(j => (j.toLong, 1L, s"g$j"))
      .toDF("jk", "seq", "g"), "seq")
    val mv = MaterializedJoinAggView.create(spark, s"$work/mv",
      s"$work/fact", Seq("k"), s"$work/dim", Nil, Seq("jk"), Seq("g"),
      Seq(agg("sum", Some("x"), "sx")), numBuckets = 32)
    val (_, boot) = mv.refresh(spark)
    assert(boot.size >= 24)
    // one fact key changes → one group changes → ≲ a couple of buckets
    fact.write(spark, (base.filterNot(_._1 == 7) :+ ((7, 7L, 999L))).toDF("k", "jk", "x"))
    val (_, touched) = mv.refresh(spark)
    assert(touched.size <= 2, s"expected O(changed groups) buckets, got ${touched.size}")
    assert(rows0(mv) == graft.cdc.ScdMerge.scd1Current(fact.read(spark))
      .join(graft.cdc.ScdMerge.scd1Current(dim.read(spark)), Seq("jk"))
      .groupBy("g").agg(sum("x").as("sx"))
      .as[(String, Option[Long])].collect().toSet)
  }
  test("var_samp over the JOIN result: exact partials through a dim flip ≡ recompute") {
    val work = java.nio.file.Files.createTempDirectory("mvjvar").toString
    val fact = new SnapshotTable(s"$work/fact")
    val dim = new BucketedSnapshotTable(s"$work/dim", 4, Seq("jk"))
    fact.write(spark, Seq((1, 10L, "3.25"), (2, 10L, "7.75"), (3, 20L, "4.00"),
        (4, 20L, "9.50"), (5, 20L, "2.25"))
      .toDF("k", "jk", "p0").withColumn("x", col("p0").cast("decimal(18,2)"))
      .drop("p0"))
    dim.scd1Merge(spark, Seq((10L, 1L, "red"), (20L, 1L, "blue"))
      .toDF("jk", "seq", "g"), "seq")
    val mv = MaterializedJoinAggView.create(spark, s"$work/mv",
      s"$work/fact", Seq("k"), s"$work/dim", Nil, Seq("jk"), Seq("g"),
      Seq(agg("count", None, "n"), agg("var_samp", Some("x"), "vx"),
        agg("stddev_pop", Some("x"), "sx")), numBuckets = 4)
    mv.refresh(spark)
    def recompute: Map[String, (Long, Option[Double], Option[Double])] = {
      val j = graft.cdc.ScdMerge.scd1Current(fact.read(spark))
        .join(graft.cdc.ScdMerge.scd1Current(dim.read(spark)), Seq("jk"))
      j.groupBy("g").agg(count(lit(1)).as("n"), var_samp(col("x")).as("vx"),
          stddev_pop(col("x")).as("sx"))
        .as[(String, Long, Option[Double], Option[Double])]
        .collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    }
    def got: Map[String, (Long, Option[Double], Option[Double])] =
      mv.read(spark).as[(String, Long, Option[Double], Option[Double])]
        .collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    def assertClose(): Unit = {
      val w = recompute; val g = got
      assert(g.keySet == w.keySet, s"$g vs $w")
      g.foreach { case (k, (n, vx, sx)) =>
        assert(n == w(k)._1, s"$k n")
        Seq((vx, w(k)._2, "var"), (sx, w(k)._3, "stddev")).foreach {
          case (Some(a), Some(b), what) =>
            assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)), s"$k $what: $a vs $b")
          case (a, b, what) => assert(a.isEmpty == b.isEmpty, s"$k $what: $a vs $b")
        }
      }
    }
    assertClose()
    // a dim flip MOVES jk=10's rows between groups: the Σx/Σx² partials
    // retract from 'red' and fold into 'blue' exactly
    dim.scd1Merge(spark, Seq((10L, 2L, "blue")).toDF("jk", "seq", "g"), "seq")
    mv.refresh(spark)
    assertClose()
    assert(got.keySet == Set("blue"), got.toString)
  }

  test("derived dims over the joined row: maintained, moved by date flips, routed (r14)") {
    val work = tmp("mvjd")
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, spark)
    def sql(q: String) = org.apache.spark.sql.GraftColumnBridge.graftSql(spark, q)
    val fact = new SnapshotTable(s"$work/fact")
    val dim = new BucketedSnapshotTable(s"$work/dim", 4, Seq("jk"))
    def d(s: String) = java.sql.Date.valueOf(s)
    fact.write(spark, Seq((1, 10L, d("2024-01-05"), 5L),
      (2, 10L, d("2024-02-03"), 7L), (3, 20L, d("2024-01-20"), 11L))
      .toDF("k", "jk", "dt", "x"))
    dim.scd1Merge(spark, Seq((10L, 1L, "red"), (20L, 1L, "blue"))
      .toDF("jk", "seq", "g"), "seq")
    sql(s"CREATE MATERIALIZED JOIN VIEW '$work/mv' FACT '$work/fact' KEYS (k) " +
      s"DIM '$work/dim' ON (jk) GROUP BY (g, month(dt) AS m) " +
      "AGG (count(*) AS n, sum(x) AS sx) INTO 8 BUCKETS").collect()
    sql(s"REFRESH MATERIALIZED JOIN VIEW '$work/mv'").collect()
    val mv = new MaterializedJoinAggView(s"$work/mv")
    // DESCRIBE round-trips the derived-dim DDL syntax
    val desc = sql(s"DESCRIBE MATERIALIZED JOIN VIEW '$work/mv'").collect().head
    assert(desc.getString(3) == "g,month(dt) AS m", desc.toString)
    def recomputeD: Set[(String, Int, Long, Option[Long])] =
      graft.cdc.ScdMerge.scd1Current(fact.read(spark))
        .join(graft.cdc.ScdMerge.scd1Current(dim.read(spark)), Seq("jk"))
        .groupBy(col("g"), month(col("dt")).as("m"))
        .agg(count(lit(1)).as("n"), sum("x").as("sx"))
        .as[(String, Int, Long, Option[Long])].collect().toSet
    def gotD: Set[(String, Int, Long, Option[Long])] =
      mv.read(spark).as[(String, Int, Long, Option[Long])].collect().toSet
    assert(gotD == recomputeD)
    assert(gotD == Set(("red", 1, 1L, Some(5L)), ("red", 2, 1L, Some(7L)),
      ("blue", 1, 1L, Some(11L))))
    // a FACT date flip moves k=1 between derived month groups: the
    // preimage-joined row retracts month 1, the postimage adds month 2
    fact.write(spark, Seq((1, 10L, d("2024-02-07"), 5L),
      (2, 10L, d("2024-02-03"), 7L), (3, 20L, d("2024-01-20"), 11L))
      .toDF("k", "jk", "dt", "x"))
    mv.refresh(spark)
    assert(gotD == recomputeD)
    assert(gotD == Set(("red", 2, 2L, Some(12L)), ("blue", 1, 1L, Some(11L))))
    // a DIM attribute flip still moves every joined row between groups
    // with the derived dim in the grain (leg 2 computes it identically)
    dim.scd1Merge(spark, Seq((10L, 2L, "crimson")).toDF("jk", "seq", "g"), "seq")
    mv.refresh(spark)
    assert(gotD == recomputeD)
    assert(gotD.exists(_._1 == "crimson") && !gotD.exists(_._1 == "red"))
    try {
      mv.registerRewrite(spark)
      val base = fact.readIndexed(spark)
        .join(graft.cdc.ScdMerge.scd1Current(dim.readIndexed(spark)), Seq("jk"))
      val q = base.groupBy(col("g"), month(col("dt")).as("m"))
        .agg(count(lit(1)).as("n"), sum("x").as("sx"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("__sum_x") && !plan.contains("/fact/_v"),
        s"GROUP BY month(dt) over the join must route:\n$plan")
      assert(q.as[(String, Int, Long, Option[Long])].collect().toSet == recomputeD)
      // WHERE over the derived expression routes as a dim filter
      val qw = fact.readIndexed(spark).filter(month(col("dt")) === 2)
        .join(graft.cdc.ScdMerge.scd1Current(dim.readIndexed(spark)), Seq("jk"))
        .groupBy(col("g")).agg(sum("x").as("sx"))
      val pw = qw.queryExecution.optimizedPlan.toString
      assert(pw.contains("__sum_x") && !pw.contains("/fact/_v"),
        s"WHERE month(dt) = 2 over the join must route:\n$pw")
      assert(qw.as[(String, Option[Long])].collect().toSet ==
        Set(("crimson", Some(12L))))
      // refusal: a non-matching expression stays on the base
      val qy = base.groupBy(year(col("dt")).as("y")).agg(count(lit(1)).as("n"))
      assert(!qy.queryExecution.optimizedPlan.toString.contains("__cnt"),
        "year(dt) must refuse — the join view maintains month(dt)")
    } finally graft.plans.AggRollupRewrite.clear()
  }

}
