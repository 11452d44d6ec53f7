package graft.tables

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Incremental materialized aggregate views: every refresh must leave the
  * view EQUAL to a full GROUP BY recompute of the source's visible rows,
  * while rewriting only the state buckets holding changed groups. */
class MaterializedViewSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def sql(q: String): DataFrame =
    org.apache.spark.sql.GraftColumnBridge.graftSql(spark, q)

  /** Full recompute of what the MV must equal. */
  private def recompute(src: SnapshotTable): Set[(String, Long, Option[Long])] =
    src.read(spark).groupBy("g")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"))
      .as[(String, Long, Option[Long])].collect().toSet

  private def mvRows(mv: MaterializedAggView): Set[(String, Long, Option[Long])] =
    mv.read(spark).as[(String, Long, Option[Long])].collect().toSet

  test("refresh folds inserts/updates/deletes; equals full recompute at every step") {
    val work = tmp("mv")
    val src = new SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, "a", 10L), (2, "a", 20L), (3, "b", 30L)).toDF("k", "g", "x"))
    val mv = MaterializedAggView.create(spark, s"$work/mv", s"$work/src",
      sourceKeys = Seq("k"), groupBy = Seq("g"),
      aggs = Seq(MaterializedAggView.Agg("count", None, "n"),
        MaterializedAggView.Agg("sum", Some("x"), "sx")), numBuckets = 8)

    val (v1, _) = mv.refresh(spark)
    assert(v1 == 1 && mvRows(mv) == recompute(src))
    assert(mvRows(mv) == Set(("a", 2L, Some(30L)), ("b", 1L, Some(30L))))

    // update key 2 (a: 20→25), move key 3 from b to a, insert key 4 in c
    src.write(spark, Seq((1, "a", 10L), (2, "a", 25L), (3, "a", 30L), (4, "c", 40L))
      .toDF("k", "g", "x"))
    val (v2, _) = mv.refresh(spark)
    assert(v2 == 2 && mvRows(mv) == recompute(src))
    // group b's count hit 0 → its row is GONE, not a zero row
    assert(!mvRows(mv).exists(_._1 == "b"))

    // delete everything in c, resurrect b
    src.write(spark, Seq((1, "a", 10L), (2, "a", 25L), (3, "a", 30L), (5, "b", 50L))
      .toDF("k", "g", "x"))
    val (v3, _) = mv.refresh(spark)
    assert(v3 == 3 && mvRows(mv) == recompute(src))
    assert(mvRows(mv).exists(_._1 == "b") && !mvRows(mv).exists(_._1 == "c"))
  }

  test("refresh is exactly-once: replays and no-ops do not double-count") {
    val work = tmp("mv2")
    val src = new SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, "a", 10L), (2, "b", 20L)).toDF("k", "g", "x"))
    val mv = MaterializedAggView.create(spark, s"$work/mv", s"$work/src",
      Seq("k"), Seq("g"), Seq(MaterializedAggView.Agg("sum", Some("x"), "sx")), 4)
    mv.refresh(spark)
    val once = mvRows0(mv)
    // no new source version → no-op; state version unchanged
    val stV = new BucketedSnapshotTable(s"$work/mv/state", 4, Seq("g"))
      .currentVersion(spark)
    val (v, touched) = mv.refresh(spark)
    assert(v == 1 && touched.isEmpty && mvRows0(mv) == once)
    assert(new BucketedSnapshotTable(s"$work/mv/state", 4, Seq("g"))
      .currentVersion(spark) == stV)
    assert(mv.lastApplied(spark) == 1)
  }

  private def mvRows0(mv: MaterializedAggView): Set[(String, Option[Long])] =
    mv.read(spark).as[(String, Option[Long])].collect().toSet

  test("avg and count(c) honor SQL null semantics incrementally") {
    val work = tmp("mv3")
    val src = new SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, "a", Some(10L)), (2, "a", None), (3, "b", None))
      .toDF("k", "g", "x"))
    val mv = MaterializedAggView.create(spark, s"$work/mv", s"$work/src",
      Seq("k"), Seq("g"),
      Seq(MaterializedAggView.Agg("count", Some("x"), "nn"),
        MaterializedAggView.Agg("avg", Some("x"), "ax")), 4)
    mv.refresh(spark)
    val got = mv.read(spark).as[(String, Long, Option[Double])].collect().toSet
    // b has ONLY null measures: count(x)=0, avg(x)=NULL — like a recompute
    assert(got == Set(("a", 1L, Some(10.0)), ("b", 0L, None)), got.toString)
    // the null measure gains a value
    src.write(spark, Seq((1, "a", Some(10L)), (2, "a", Some(30L)), (3, "b", None))
      .toDF("k", "g", "x"))
    mv.refresh(spark)
    val got2 = mv.read(spark).as[(String, Long, Option[Double])].collect().toSet
    assert(got2 == Set(("a", 2L, Some(20.0)), ("b", 0L, None)), got2.toString)
  }

  test("refresh rewrites only the buckets holding changed groups") {
    val work = tmp("mv4")
    val src = new SnapshotTable(s"$work/src")
    val base = (1 to 512).map(i => (i, s"g${i % 64}", i.toLong))
    src.write(spark, base.toDF("k", "g", "x"))
    val mv = MaterializedAggView.create(spark, s"$work/mv", s"$work/src",
      Seq("k"), Seq("g"), Seq(MaterializedAggView.Agg("sum", Some("x"), "sx")), 32)
    val (_, bootTouched) = mv.refresh(spark)
    assert(bootTouched.size >= 24) // bootstrap touches ~every bucket, once
    // one key changes → one group changes → ≲ a couple of buckets rewrite
    src.write(spark, (base.filterNot(_._1 == 7) :+ ((7, "g7", 999L))).toDF("k", "g", "x"))
    val (_, touched) = mv.refresh(spark)
    assert(touched.size <= 2, s"expected O(changed groups) buckets, got ${touched.size}")
    assert(mvRows0b(mv) == src.read(spark).groupBy("g").agg(sum("x").as("sx"))
      .as[(String, Option[Long])].collect().toSet)
  }

  private def mvRows0b(mv: MaterializedAggView): Set[(String, Option[Long])] =
    mv.read(spark).as[(String, Option[Long])].collect().toSet

  test("SQL surface: CREATE / REFRESH / query forms round-trip") {
    val work = tmp("mv5")
    val src = new SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, "a", 10L), (2, "a", 20L), (3, "b", 30L)).toDF("k", "g", "x"))
    sql(s"CREATE MATERIALIZED VIEW '$work/mv' ON '$work/src' KEYS (k) " +
      "GROUP BY (g) AGG (count(*) AS n, sum(x) AS sx) INTO 8 BUCKETS").collect()
    val r = sql(s"REFRESH MATERIALIZED VIEW '$work/mv'").collect().head
    assert(r.getInt(0) == 1 && r.getInt(1) > 0)
    val got = sql(s"MATERIALIZED VIEW '$work/mv'")
      .as[(String, Long, Option[Long])].collect().toSet
    assert(got == Set(("a", 2L, Some(30L)), ("b", 1L, Some(30L))), got.toString)
    // DESCRIBE form surfaces the spec + applied version
    val d = sql(s"DESCRIBE MATERIALIZED VIEW '$work/mv'").collect().head
    assert(d.getString(0) == s"$work/src" && d.getString(2) == "g" &&
      d.getString(3) == "count:*:n,sum:x:sx" && d.getInt(5) == 1, d.toString)
    // min/max rejected with a named error
    val e = intercept[IllegalArgumentException] {
      sql(s"CREATE MATERIALIZED VIEW '$work/mv6' ON '$work/src' KEYS (k) " +
        "GROUP BY (g) AGG (min(x) AS mn)").collect()
    }
    assert(e.getMessage.contains("invertible"))
  }

  test("min/max WITH RESCAN: recomputed for changed groups only, exact under deletes") {
    val work = tmp("mvmm")
    val src = new SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, "a", 10L), (2, "a", 50L), (3, "b", 30L)).toDF("k", "g", "x"))
    sql(s"CREATE MATERIALIZED VIEW '$work/mv' ON '$work/src' KEYS (k) " +
      "GROUP BY (g) AGG (count(*) AS n, min(x) AS mn, max(x) AS mx) " +
      "WITH RESCAN INTO 8 BUCKETS").collect()
    val mv = new MaterializedAggView(s"$work/mv")
    mv.refresh(spark)
    def rows = mv.read(spark).as[(String, Long, Long, Long)].collect().toSet
    assert(rows == Set(("a", 2L, 10L, 50L), ("b", 1L, 30L, 30L)), rows.toString)
    // delete the group maximum: a pure retraction an additive fold cannot
    // answer — the rescan must find the NEW max among survivors
    src.write(spark, Seq((1, "a", 10L), (3, "b", 30L), (4, "b", 7L)).toDF("k", "g", "x"))
    mv.refresh(spark)
    assert(rows == Set(("a", 1L, 10L, 10L), ("b", 2L, 7L, 30L)), rows.toString)
    // min without RESCAN refuses with a named error
    val e = intercept[IllegalArgumentException] {
      sql(s"CREATE MATERIALIZED VIEW '$work/mv2' ON '$work/src' KEYS (k) " +
        "GROUP BY (g) AGG (min(x) AS mn)").collect()
    }
    assert(e.getMessage.contains("RESCAN"))
  }

  test("count(distinct c): exact under inserts, updates, deletes, and resurrection") {
    val work = tmp("mvdc")
    val src = new SnapshotTable(s"$work/src")
    // group a holds values {X, X, Y}; group b holds {Z}
    src.write(spark, Seq((1, "a", "X"), (2, "a", "X"), (3, "a", "Y"), (4, "b", "Z"))
      .toDF("k", "g", "v"))
    val mv = MaterializedAggView.create(spark, s"$work/mv", s"$work/src",
      Seq("k"), Seq("g"),
      Seq(MaterializedAggView.Agg("count", None, "n"),
        MaterializedAggView.Agg("count_distinct", Some("v"), "dv")), 8)
    def rows = mv.read(spark).as[(String, Long, Long)].collect().toSet
    def want = src.read(spark).groupBy("g")
      .agg(count(lit(1)).as("n"), countDistinct(col("v")).as("dv"))
      .as[(String, Long, Long)].collect().toSet
    mv.refresh(spark)
    assert(rows == want && rows == Set(("a", 3L, 2L), ("b", 1L, 1L)), rows.toString)

    // drop ONE of the two X holders: the distinct count must NOT change
    // (occurrence count 2 → 1, never crossing zero)
    src.write(spark, Seq((2, "a", "X"), (3, "a", "Y"), (4, "b", "Z")).toDF("k", "g", "v"))
    mv.refresh(spark)
    assert(rows == want && rows.exists(r => r._1 == "a" && r._3 == 2L), rows.toString)

    // drop the LAST X holder: now the distinct count falls
    src.write(spark, Seq((3, "a", "Y"), (4, "b", "Z")).toDF("k", "g", "v"))
    mv.refresh(spark)
    assert(rows == want && rows.exists(r => r._1 == "a" && r._3 == 1L), rows.toString)

    // X RESURRECTS in group a (an HLL sketch could never re-count this),
    // and key 3's value flips Y→W (one retraction + one addition)
    src.write(spark, Seq((3, "a", "W"), (4, "b", "Z"), (5, "a", "X")).toDF("k", "g", "v"))
    mv.refresh(spark)
    assert(rows == want && rows.exists(r => r._1 == "a" && r._3 == 2L), rows.toString)

    // nulls never count: a group of only-null values reads 0
    src.write(spark, Seq((3, "a", "W"), (4, "b", null), (5, "a", "X")).toDF("k", "g", "v"))
    mv.refresh(spark)
    assert(rows == want && rows.exists(r => r._1 == "b" && r._3 == 0L), rows.toString)
  }

  test("count(distinct c): a crash between the aux and main commits heals on replay") {
    val work = tmp("mvdcc")
    val src = new SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, "a", "X"), (2, "a", "Y"), (3, "b", "Z")).toDF("k", "g", "v"))
    val mv = MaterializedAggView.create(spark, s"$work/mv", s"$work/src",
      Seq("k"), Seq("g"),
      Seq(MaterializedAggView.Agg("count_distinct", Some("v"), "dv")), 4)
    mv.refresh(spark)
    // value Y disappears, W appears — then the refresh CRASHES after the
    // aux occurrence table committed but before the main state did
    src.write(spark, Seq((1, "a", "X"), (2, "a", "W"), (3, "b", "Z")).toDF("k", "g", "v"))
    TestHooks.onMvStep(mv, s => if (s.startsWith("aux-merged")) sys.error("boom"))
    intercept[RuntimeException] { mv.refresh(spark) }
    TestHooks.onMvStep(mv, _ => ())
    // main state is still at v1's answer; the aux table is ahead
    assert(mv.lastApplied(spark) == 1)
    // the replayed refresh must re-derive the SAME delta from the
    // ledger-pinned aux version (reading the aux head would see the
    // post-crash counts and emit a zero delta — the drift this pin kills)
    mv.refresh(spark)
    val got = mv.read(spark).as[(String, Long)].collect().toSet
    assert(got == Set(("a", 2L), ("b", 1L)), got.toString)
    assert(mv.lastApplied(spark) == 2)
  }

  test("count(distinct c): a replay whose source ADVANCED past the crash pins its window") {
    val work = tmp("mvdca")
    val src = new SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, "a", "X")).toDF("k", "g", "v")) // v1
    val mv = MaterializedAggView.create(spark, s"$work/mv", s"$work/src",
      Seq("k"), Seq("g"),
      Seq(MaterializedAggView.Agg("count_distinct", Some("v"), "dv")), 4)
    mv.refresh(spark)
    // v2 inserts a NEW value Y; the refresh crashes after the aux commit
    src.write(spark, Seq((1, "a", "X"), (2, "a", "Y")).toDF("k", "g", "v"))
    TestHooks.onMvStep(mv, s => if (s.startsWith("aux-merged")) sys.error("boom"))
    intercept[RuntimeException] { mv.refresh(spark) }
    TestHooks.onMvStep(mv, _ => ())
    // v3 REVERTS v2 before the replay runs: the NET (v1, v3] window never
    // mentions Y, but the crashed aux commit recorded Y's count=1 — a
    // replay folding straight to v3 would keep that stale count forever
    src.write(spark, Seq((1, "a", "X")).toDF("k", "g", "v"))
    mv.refresh(spark)
    def rows = mv.read(spark).as[(String, Long)].collect().toSet
    assert(rows == Set(("a", 1L)), rows.toString)
    assert(mv.lastApplied(spark) == 3)
    // …and the aux state is truly healed: Y re-appearing then vanishing
    // again must round-trip exactly (a stale count=1 would break this)
    src.write(spark, Seq((1, "a", "X"), (3, "a", "Y")).toDF("k", "g", "v"))
    mv.refresh(spark)
    assert(rows == Set(("a", 2L)), rows.toString)
    src.write(spark, Seq((1, "a", "X")).toDF("k", "g", "v"))
    mv.refresh(spark)
    assert(rows == Set(("a", 1L)), rows.toString)
  }

  test("count(distinct c) through SQL; transparent routing at own AND coarser grains") {
    val work = tmp("mvdcs")
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, spark)
    val src = new SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, "a", "r1", "X"), (2, "a", "r1", "Y"), (3, "a", "r2", "X"),
      (4, "b", "r1", "X")).toDF("k", "g", "h", "v"))
    sql(s"CREATE MATERIALIZED VIEW '$work/mv' ON '$work/src' KEYS (k) " +
      "GROUP BY (g, h) AGG (count(*) AS n, count(distinct v) AS dv) INTO 4 BUCKETS")
      .collect()
    sql(s"REFRESH MATERIALIZED VIEW '$work/mv'").collect()
    val mv = new MaterializedAggView(s"$work/mv")
    val got = sql(s"MATERIALIZED VIEW '$work/mv'")
      .as[(String, String, Long, Long)].collect().toSet
    assert(got == Set(("a", "r1", 2L, 2L), ("a", "r2", 1L, 1L), ("b", "r1", 1L, 1L)),
      got.toString)
    val d = sql(s"DESCRIBE MATERIALIZED VIEW '$work/mv'").collect().head
    assert(d.getString(3) == "count:*:n,count_distinct:v:dv", d.toString)
    try {
      mv.registerRewrite(spark)
      // at the MV's own grain the rewrite may answer from the __dc_ partial
      val exact = src.readIndexed(spark).groupBy(col("g"), col("h"))
        .agg(countDistinct(col("v")).as("dv"))
      val planE = exact.queryExecution.optimizedPlan.toString
      assert(planE.contains("__dc_v"), s"own-grain distinct must route:\n$planE")
      assert(exact.as[(String, String, Long)].collect().toSet ==
        Set(("a", "r1", 2L), ("a", "r2", 1L), ("b", "r1", 1L)))
      // at a COARSER grain the __dc_ partial is NOT re-aggregable (summing
      // per-grain distinct counts would double-count X across (a,r1) and
      // (a,r2)) — the rewrite instead counts distinct values over the aux
      // PAIR relation grouped coarser: exact, still never the source
      val coarse = src.readIndexed(spark).groupBy(col("g"))
        .agg(count(lit(1)).as("n"), countDistinct(col("v")).as("dv"))
      val planC = coarse.queryExecution.optimizedPlan.toString
      assert(!planC.contains("sum(__dc_v"), s"coarse grain must not sum __dc:\n$planC")
      assert(planC.contains("__dval"), s"coarse distinct must read the pair relation:\n$planC")
      assert(!planC.contains("/src/_v"), s"coarse distinct must not scan the source:\n$planC")
      assert(coarse.as[(String, Long, Long)].collect().toSet ==
        Set(("a", 3L, 2L), ("b", 1L, 1L)))
      // …and stays exact after a refresh that removes a value's last holder
      src.write(spark, Seq((1, "a", "r1", "X"), (3, "a", "r2", "X"),
        (4, "b", "r1", "X")).toDF("k", "g", "h", "v")) // Y's only row gone
      sql(s"REFRESH MATERIALIZED VIEW '$work/mv'").collect()
      assert(coarse.as[(String, Long, Long)].collect().toSet ==
        Set(("a", 2L, 1L), ("b", 1L, 1L)))
    } finally graft.plans.AggRollupRewrite.clear()
  }

  test("global (no GROUP BY) count(distinct) ROUTES and answers 0 over an empty state") {
    val work = tmp("mvglob")
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, spark)
    val src = new SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, "a", "X"), (2, "a", "Y"), (3, "b", "X"))
      .toDF("k", "g", "v"))
    val mv = MaterializedAggView.create(spark, s"$work/mv", s"$work/src",
      Seq("k"), Seq("g"),
      Seq(MaterializedAggView.Agg("count", None, "n"),
        MaterializedAggView.Agg("count_distinct", Some("v"), "dv")), 4)
    mv.refresh(spark)
    try {
      mv.registerRewrite(spark)
      // a GLOBAL aggregate routes through the pair relation (r12): the
      // groupBy() frames return exactly one row even over an empty input
      val q = src.readIndexed(spark)
        .agg(countDistinct(col("v")).as("dv"), count(lit(1)).as("n"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("__dval") && !plan.contains("/src/_v"),
        s"global count(distinct) must route via the pair relation:\n$plan")
      assert(q.as[(Long, Long)].collect().toSeq == Seq((2L, 3L)))
      // everything deleted: the state has zero live rows — SQL's answer
      // is still exactly one row with count 0
      src.write(spark, Seq.empty[(Int, String, String)].toDF("k", "g", "v"))
      mv.refresh(spark)
      val z = src.readIndexed(spark).agg(countDistinct(col("v")).as("dv"),
        count(lit(1)).as("n"))
      assert(!z.queryExecution.optimizedPlan.toString.contains("/src/_v"),
        "the empty-state global aggregate must still route")
      assert(z.as[(Long, Long)].collect().toSeq == Seq((0L, 0L)))
    } finally graft.plans.AggRollupRewrite.clear()
  }

  test("a COUNT(DISTINCT)-only query routes at a coarser grain and globally") {
    val work = tmp("mvdconly")
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, spark)
    val src = new SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, "a", "r1", "X"), (2, "a", "r2", "X"), (3, "a", "r2", "Y"),
      (4, "b", "r1", "Z")).toDF("k", "g", "h", "v"))
    val mv = MaterializedAggView.create(spark, s"$work/mv", s"$work/src",
      Seq("k"), Seq("g", "h"),
      Seq(MaterializedAggView.Agg("count_distinct", Some("v"), "dv")), 4)
    mv.refresh(spark)
    // no additive output at all: the rewrite's anchor frame carries only
    // the grouping, the pair relation supplies every output column
    def coarse = src.readIndexed(spark).groupBy(col("g"))
      .agg(countDistinct(col("v")).as("dv"))
    def global = src.readIndexed(spark).agg(countDistinct(col("v")).as("dv"))
    val wantCoarse = coarse.as[(String, Long)].collect().toSet
    val wantGlobal = global.as[Long].collect().toSeq
    assert(wantCoarse == Set(("a", 2L), ("b", 1L)) && wantGlobal == Seq(3L))
    try {
      mv.registerRewrite(spark)
      for (q <- Seq(coarse, global)) {
        val plan = q.queryExecution.optimizedPlan.toString
        assert(plan.contains("__dval") && !plan.contains("/src/_v"),
          s"distinct-only query must route via the pair relation:\n$plan")
      }
      assert(coarse.as[(String, Long)].collect().toSet == wantCoarse)
      assert(global.as[Long].collect().toSeq == wantGlobal)
    } finally graft.plans.AggRollupRewrite.clear()
  }

  test("FILTER (WHERE dim-pred) aggregates route; measure/key filters refuse") {
    val work = tmp("mvaggfilt")
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, spark)
    val src = new SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, "a", "r1", 10L, "X"), (2, "a", "r2", 20L, "Y"),
      (3, "b", "r1", 40L, "X"), (4, "b", "r1", 5L, "X"))
      .toDF("k", "g", "h", "x", "v"))
    val mv = MaterializedAggView.create(spark, s"$work/mv", s"$work/src",
      Seq("k"), Seq("g", "h"),
      Seq(MaterializedAggView.Agg("count", None, "n"),
        MaterializedAggView.Agg("sum", Some("x"), "sx"),
        MaterializedAggView.Agg("count_distinct", Some("v"), "dv")), 4)
    mv.refresh(spark)
    try {
      mv.registerRewrite(spark)
      import org.apache.spark.sql.functions.expr
      // filtered + unfiltered aggregates in one SELECT, at a coarser
      // grain with a plain distinct — all routed (FILTER (WHERE …) is
      // SQL-only syntax; expr() parses it into AggregateExpression.filter)
      val q = src.readIndexed(spark).groupBy(col("g"))
        .agg(count(lit(1)).as("n"),
          expr("count(*) FILTER (WHERE h = 'r1')").as("n_r1"),
          expr("sum(x) FILTER (WHERE h = 'r1')").as("sx_r1"),
          countDistinct(col("v")).as("dv"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("__dval") && !plan.contains("/src/_v"),
        s"FILTER(dim-pred) aggregates must route:\n$plan")
      assert(q.as[(String, Long, Long, Option[Long], Long)].collect().toSet ==
        Set(("a", 2L, 1L, Some(10L), 2L), ("b", 2L, 2L, Some(45L), 1L)))
      // a FILTERED DISTINCT is pre-expanded by RewriteDistinctAggregates
      // before any injected OPTIMIZER rule runs, so on this late-adopted
      // session it stays on the base (and answers correctly) — pinned,
      // because late adoption has no analyzer seam
      val qfd = src.readIndexed(spark).groupBy(col("g"))
        .agg(expr("count(DISTINCT v) FILTER (WHERE h = 'r2')").as("dv_r2"))
      assert(!qfd.queryExecution.optimizedPlan.toString.contains("__dval"),
        "filtered distinct stays on the base under late-adopted extensions " +
          "(no analyzer seam)")
      assert(qfd.as[(String, Long)].collect().toSet ==
        Set(("a", 1L), ("b", 0L)))
      // …but with BUILD-TIME extensions (spark.sql.extensions — here a
      // derived sibling session), the analyzer-stage rule routes it (r13):
      // at analysis the plan still carries the pre-expansion shape
      val s2 = org.apache.spark.sql.GraftColumnBridge.sessionWithExtensions(spark, ext)
      s2.conf.set("spark.sql.shuffle.partitions", "4")
      val t2 = new SnapshotTable(s"$work/src")
      val qfd2 = t2.readIndexed(s2).groupBy(col("g"))
        .agg(expr("count(DISTINCT v) FILTER (WHERE h = 'r2')").as("dv_r2"),
          count(lit(1)).as("n"))
      val pfd2 = qfd2.queryExecution.optimizedPlan.toString
      assert(pfd2.contains("__dval") && !pfd2.contains("/src/_v"),
        s"FILTER + DISTINCT must route under build-time extensions:\n$pfd2")
      assert(qfd2.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet == Set(("a", 1L, 2L), ("b", 0L, 2L)))
      // measure/key filters refuse on the analyzer path too
      val qfd3 = t2.readIndexed(s2).groupBy(col("g"))
        .agg(expr("count(DISTINCT v) FILTER (WHERE x > 15)").as("dv"))
      assert(!qfd3.queryExecution.optimizedPlan.toString.contains("__dval"),
        "measure-filtered distinct must refuse on the analyzer path")
      assert(qfd3.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("a", 1L), ("b", 1L)))
      // exact-grain FILTER (no coarsening) routes via the partial rebuild
      val qe = src.readIndexed(spark).groupBy(col("g"), col("h"))
        .agg(expr("sum(x) FILTER (WHERE h <> 'r2')").as("sx"),
          expr("count(*) FILTER (WHERE g = 'a')").as("na"))
      assert(!qe.queryExecution.optimizedPlan.toString.contains("/src/_v"),
        "exact-grain FILTER(dim-pred) must route")
      assert(qe.as[(String, String, Option[Long], Long)].collect().toSet ==
        Set(("a", "r1", Some(10L), 1L), ("a", "r2", None, 1L),
          ("b", "r1", Some(45L), 0L)))
      // a MEASURE filter must refuse (scan the base)
      val qm = src.readIndexed(spark).groupBy(col("g"))
        .agg(expr("count(*) FILTER (WHERE x > 15)").as("n"))
      assert(!qm.queryExecution.optimizedPlan.toString.contains("__cnt"),
        "measure filters must stay on the base")
      assert(qm.as[(String, Long)].collect().toSet == Set(("a", 1L), ("b", 1L)))
      // a KEY filter must refuse too
      val qk = src.readIndexed(spark).groupBy(col("g"))
        .agg(expr("count(DISTINCT v) FILTER (WHERE k > 2)").as("dv"))
      assert(!qk.queryExecution.optimizedPlan.toString.contains("__dval"),
        "key filters must stay on the base")
      assert(qk.as[(String, Long)].collect().toSet == Set(("a", 0L), ("b", 1L)))
    } finally graft.plans.AggRollupRewrite.clear()
  }

  test("dimension-only filters route: applied to the rollup, not the source") {
    val work = tmp("mvfilt")
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, spark)
    val src = new SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, "a", "r1", "X", 10L), (2, "a", "r1", "Y", 20L),
      (3, "a", "r2", "X", 5L), (4, "b", "r1", "X", 7L))
      .toDF("k", "g", "h", "v", "x"))
    val mv = MaterializedAggView.create(spark, s"$work/mv", s"$work/src",
      Seq("k"), Seq("g", "h"),
      Seq(MaterializedAggView.Agg("count", None, "n"),
        MaterializedAggView.Agg("sum", Some("x"), "sx"),
        MaterializedAggView.Agg("count_distinct", Some("v"), "dv")), 4)
    mv.refresh(spark)
    try {
      mv.registerRewrite(spark)
      def base = src.readIndexed(spark)
      // dim filter + coarser grouping: additive partials filtered AND the
      // distinct pair relation filtered — never the source
      val q1 = base.filter(col("h") === "r1").groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          countDistinct(col("v")).as("dv"))
      val p1 = q1.queryExecution.optimizedPlan.toString
      assert(!p1.contains("/src/_v") && p1.contains("__dval"),
        s"dim-filtered distinct query must route:\n$p1")
      assert(q1.as[(String, Long, Long, Long)].collect().toSet ==
        Set(("a", 2L, 30L, 2L), ("b", 1L, 7L, 1L)))
      // GLOBAL aggregate with a dim filter: routes through the exact path
      // and answers ONE row — 0 when the filter matches nothing
      val q2 = base.filter(col("g") === "a").agg(count(lit(1)).as("n"))
      assert(!q2.queryExecution.optimizedPlan.toString.contains("/src/_v"))
      assert(q2.as[Long].collect().toSeq == Seq(3L))
      val q3 = base.filter(col("g") === "zzz").agg(count(lit(1)).as("n"))
      assert(!q3.queryExecution.optimizedPlan.toString.contains("/src/_v"))
      assert(q3.as[Long].collect().toSeq == Seq(0L),
        "a fully filtered-out GLOBAL count must answer 0, not null or no rows")
      // a filter on a MEASURE column must refuse (the rollup has no rows)
      val q4 = base.filter(col("x") > 6).groupBy(col("g")).agg(count(lit(1)).as("n"))
      assert(!q4.queryExecution.optimizedPlan.toString.contains("__cnt"),
        "measure-filtered queries must stay on the base")
      assert(q4.as[(String, Long)].collect().toSet == Set(("a", 2L), ("b", 1L)))
    } finally graft.plans.AggRollupRewrite.clear()
  }

  test("raw (tombstone-inclusive) scans of an SCD source never route") {
    val work = tmp("mvraw")
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, spark)
    val src = new BucketedSnapshotTable(s"$work/src", 4, Seq("k"))
    src.scd1Merge(spark, Seq((1, 1L, "a", 10L), (2, 1L, "a", 20L), (3, 1L, "b", 30L))
      .toDF("k", "seq", "g", "x"), "seq")
    // delete key 2: the table now carries a persistent __DELETED tombstone
    src.scd1Merge(spark, Seq((2, 2L, "a", 20L)).toDF("k", "seq", "g", "x"), "seq",
      applyAsDeletes = Some(lit(true)))
    val mv = MaterializedAggView.create(spark, s"$work/mv", s"$work/src",
      Nil, Seq("g"), Seq(MaterializedAggView.Agg("count", None, "n")), 4)
    mv.refresh(spark)
    try {
      mv.registerRewrite(spark)
      // the VISIBLE read (tombstone-filtered) routes — the state is
      // exactly the visible rows
      val vis = graft.cdc.ScdMerge.scd1Current(src.readIndexed(spark))
        .groupBy(col("g")).agg(count(lit(1)).as("n"))
      assert(vis.queryExecution.optimizedPlan.toString.contains("__cnt"),
        "visible read must route")
      assert(vis.as[(String, Long)].collect().toSet == Set(("a", 1L), ("b", 1L)))
      // the RAW read (tombstones INCLUDED) must NOT route: its answer
      // genuinely differs from the visible-rows state
      val raw = src.readIndexed(spark).groupBy(col("g")).agg(count(lit(1)).as("n"))
      assert(!raw.queryExecution.optimizedPlan.toString.contains("__cnt"),
        "raw tombstone-inclusive read must not route")
      assert(raw.as[(String, Long)].collect().toSet == Set(("a", 2L), ("b", 1L)))
    } finally graft.plans.AggRollupRewrite.clear()
  }

  test("NULL group keys: SQL GROUP BY semantics through refresh, read, and routing") {
    val work = tmp("mvnullg")
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, spark)
    val src = new SnapshotTable(s"$work/src")
    // group keys g AND h are nullable; (null, null), (null, "r1") and
    // ("a", null) are all DISTINCT SQL groups
    def df(rows: Seq[(Int, String, String, String, java.lang.Long)]) =
      rows.toDF("k", "g", "h", "v", "x")
    src.write(spark, df(Seq((1, "a", "r1", "X", 10L), (2, null, "r1", "Y", 20L),
      (3, null, null, "X", 5L), (4, "a", null, "X", 7L), (5, null, "r1", "Y", 1L))))
    val mv = MaterializedAggView.create(spark, s"$work/mv", s"$work/src",
      Seq("k"), Seq("g", "h"),
      Seq(MaterializedAggView.Agg("count", None, "n"),
        MaterializedAggView.Agg("sum", Some("x"), "sx"),
        MaterializedAggView.Agg("count_distinct", Some("v"), "dv"),
        MaterializedAggView.Agg("min", Some("x"), "mn")), 8, allowRescan = true)
    def want = src.read(spark).groupBy("g", "h")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        countDistinct(col("v")).as("dv"), min("x").as("mn"))
      .as[(Option[String], Option[String], Long, Option[Long], Long, Option[Long])]
      .collect().toSet
    def got = mv.read(spark)
      .as[(Option[String], Option[String], Long, Option[Long], Long, Option[Long])]
      .collect().toSet
    mv.refresh(spark)
    assert(got == want, s"bootstrap: $got vs $want")
    assert(got.exists(r => r._1.isEmpty && r._2.isEmpty), "null-null group present")
    // update inside the (null, r1) group; delete the (null, null) group's
    // only row; move a row INTO a null group
    src.write(spark, df(Seq((1, "a", "r1", "X", 10L), (2, null, "r1", "Z", 25L),
      (4, "a", null, "X", 7L), (5, null, "r1", "Y", 1L), (6, null, "r1", "Y", 3L))))
    mv.refresh(spark)
    assert(got == want, s"incremental: $got vs $want")
    assert(!got.exists(r => r._1.isEmpty && r._2.isEmpty), "null-null group tombstoned")
    // the (null, null) group RESURRECTS
    src.write(spark, df(Seq((1, "a", "r1", "X", 10L), (2, null, "r1", "Z", 25L),
      (4, "a", null, "X", 7L), (5, null, "r1", "Y", 1L), (6, null, "r1", "Y", 3L),
      (7, null, null, "W", 99L))))
    mv.refresh(spark)
    assert(got == want, s"resurrection: $got vs $want")
    try {
      mv.registerRewrite(spark)
      // coarse grouping over the nullable dim: the null group must carry
      // its counts AND its distinct count through the null-safe pair join
      val q = src.readIndexed(spark).groupBy(col("g"))
        .agg(count(lit(1)).as("n"), countDistinct(col("v")).as("dv"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("__dval") && !plan.contains("/src/_v"),
        s"nullable-dim coarse distinct must route:\n$plan")
      assert(q.as[(Option[String], Long, Long)].collect().toSet ==
        Set((Some("a"), 2L, 1L), (None, 4L, 3L)))
      // an IS NULL dimension filter is dimension-only → routes
      val qn = src.readIndexed(spark).filter(col("g").isNull)
        .agg(count(lit(1)).as("n"))
      assert(!qn.queryExecution.optimizedPlan.toString.contains("/src/_v"))
      assert(qn.as[Long].head() == 4L)
    } finally graft.plans.AggRollupRewrite.clear()
  }

  test("a measure that IS a nullable group column aggregates raw values, not stand-ins") {
    val work = tmp("mvselfm")
    val src = new SnapshotTable(s"$work/src")
    // SELECT g, count(g), count(distinct g), min(g) … GROUP BY g — the
    // encoded stand-in must never leak into the aggregates: for the null
    // group SQL says count(g)=0, count(distinct g)=0, min(g)=NULL
    src.write(spark, Seq((1, "a"), (2, "a"), (3, null), (4, null))
      .toDF("k", "g"))
    val mv = MaterializedAggView.create(spark, s"$work/mv", s"$work/src",
      Seq("k"), Seq("g"),
      Seq(MaterializedAggView.Agg("count", None, "n"),
        MaterializedAggView.Agg("count", Some("g"), "cg"),
        MaterializedAggView.Agg("count_distinct", Some("g"), "dg"),
        MaterializedAggView.Agg("min", Some("g"), "mg")), 4, allowRescan = true)
    mv.refresh(spark)
    def got = mv.read(spark)
      .as[(Option[String], Long, Long, Long, Option[String])].collect().toSet
    assert(got == Set((Some("a"), 2L, 2L, 1L, Some("a")), (None, 2L, 0L, 0L, None)),
      got.toString)
    // and incrementally: the null group shrinks, the real group grows
    src.write(spark, Seq((1, "a"), (2, "a"), (3, null), (5, "b")).toDF("k", "g"))
    mv.refresh(spark)
    assert(got == Set((Some("a"), 2L, 2L, 1L, Some("a")),
      (Some("b"), 1L, 1L, 1L, Some("b")), (None, 1L, 0L, 0L, None)), got.toString)
  }

  test("a legacy (pre-mask) spec keeps its recorded layout and still refreshes") {
    val work = tmp("mvlegacy")
    val src = new SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, "a", 10L), (2, "b", 20L)).toDF("k", "g", "x"))
    // hand-write an OLD _mv spec (no nullMask line): state must be keyed
    // and bucketed by groupBy alone, with no __mv_nulls column anywhere
    new java.io.File(s"$work/mv").mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/mv/_mv"),
      s"sourceRoot=$work/src\nsourceKeys=k\ngroupBy=g\naggs=sum:x:sx\nnumBuckets=4\n")
    val mv = new MaterializedAggView(s"$work/mv")
    mv.refresh(spark)
    val stateCols = new BucketedSnapshotTable(s"$work/mv/state", 4, Seq("g"))
      .read(spark).columns.toSet
    assert(!stateCols.contains(MaterializedAggView.NullsCol),
      s"legacy layout must not grow a mask column: $stateCols")
    src.write(spark, Seq((1, "a", 11L), (2, "b", 20L)).toDF("k", "g", "x"))
    mv.refresh(spark)
    assert(mv.read(spark).as[(String, Option[Long])].collect().toSet ==
      Set(("a", Some(11L)), ("b", Some(20L))))
  }

  test("legacy single-table spec fails loudly on a NULL group key (no silent drop)") {
    val work = tmp("mvlegnull")
    val src = new SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, "a", 10L), (2, null, 20L)).toDF("k", "g", "x"))
    // hand-write an OLD _mv spec (no nullMask line) — its key-equality
    // merges would silently drop the null group; the probe must refuse
    new java.io.File(s"$work/mv").mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/mv/_mv"),
      s"sourceRoot=$work/src\nsourceKeys=k\ngroupBy=g\naggs=sum:x:sx\nnumBuckets=4\n")
    val e = intercept[IllegalArgumentException] {
      new MaterializedAggView(s"$work/mv").refresh(spark)
    }
    assert(e.getMessage.contains("NULL group-key"), e.getMessage)
  }

  test("mask spec fails loudly on a NULL group of a stand-in-less type (array)") {
    val work = tmp("mvarrnull")
    val src = new SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, Seq("t1"), 10L), (2, null, 20L))
      .toDF("k", "tags", "x"))
    val mv = MaterializedAggView.create(spark, s"$work/mv", s"$work/src",
      Seq("k"), Seq("tags"), Seq(MaterializedAggView.Agg("sum", Some("x"), "sx")), 4)
    // the null-mask encoding has no stand-in for array<string>: a NULL
    // group would pass straight into the bucketed business key and vanish
    // from key-equality joins — it must refuse instead
    val e = intercept[IllegalArgumentException] { mv.refresh(spark) }
    assert(e.getMessage.contains("no null stand-in"), e.getMessage)
    // with the null row gone, the same view refreshes fine
    src.write(spark, Seq((1, Seq("t1"), 10L), (2, Seq("t2"), 20L))
      .toDF("k", "tags", "x"))
    mv.refresh(spark)
    assert(mv.read(spark).as[(Seq[String], Option[Long])].collect().toSet ==
      Set((Seq("t1"), Some(10L)), (Seq("t2"), Some(20L))))
  }

  test("var_samp/stddev maintained via exact Σx/Σx² partials ≡ recompute through update+delete; routing rewrites") {
    val work = tmp("mvvar")
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, spark)
    val src = new SnapshotTable(s"$work/src")
    def price(v: String) = new java.math.BigDecimal(v)
    src.write(spark, Seq((1, "a", "10.25"), (2, "a", "20.75"), (3, "a", "14.00"),
        (4, "b", "7.50"), (5, "b", "9.00"), (6, "c", "3.00"))
      .toDF("k", "g", "p0").withColumn("x", col("p0").cast("decimal(18,2)"))
      .drop("p0"))
    sql(s"CREATE MATERIALIZED VIEW '$work/mv' ON '$work/src' KEYS (k) " +
      "GROUP BY (g) AGG (count(*) AS n, var_samp(x) AS vx, " +
      "stddev_samp(x) AS sx, var_pop(x) AS vpx) INTO 4 BUCKETS").collect()
    val mv = new MaterializedAggView(s"$work/mv")
    mv.refresh(spark)
    def recompute: Map[String, (Long, Option[Double], Option[Double], Option[Double])] =
      src.read(spark).groupBy("g")
        .agg(count(lit(1)).as("n"), var_samp(col("x")).as("vx"),
          stddev_samp(col("x")).as("sx"), var_pop(col("x")).as("vpx"))
        .as[(String, Long, Option[Double], Option[Double], Option[Double])]
        .collect().map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    def viewRows: Map[String, (Long, Option[Double], Option[Double], Option[Double])] =
      mv.read(spark)
        .as[(String, Long, Option[Double], Option[Double], Option[Double])]
        .collect().map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    def assertClose(): Unit = {
      val want = recompute; val got = viewRows
      assert(got.keySet == want.keySet, s"groups: $got vs $want")
      got.foreach { case (g, (n, vx, sx, vpx)) =>
        val (wn, wvx, wsx, wvpx) = want(g)
        assert(n == wn, s"$g count")
        def close(a: Option[Double], b: Option[Double], what: String): Unit =
          (a, b) match {
            case (None, None) => ()
            case (Some(x), Some(y)) =>
              assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)),
                s"$g $what: $x vs $y")
            case _ => fail(s"$g $what nullability: $a vs $b")
          }
        close(vx, wvx, "var_samp"); close(sx, wsx, "stddev_samp")
        close(vpx, wvpx, "var_pop")
      }
    }
    assertClose()
    // single-row group c: var_samp NULL, var_pop 0 — pinned via recompute
    assert(viewRows("c")._2.isEmpty && viewRows("c")._4.contains(0.0))
    // UPDATE one group's values and DELETE another in one window: the
    // exact Σx/Σx² partials retract without drift
    src.write(spark, Seq((1, "a", "11.00"), (2, "a", "20.75"), (3, "a", "99.99"),
        (6, "c", "3.00"), (7, "c", "4.50"))
      .toDF("k", "g", "p0").withColumn("x", col("p0").cast("decimal(18,2)"))
      .drop("p0"))
    mv.refresh(spark)
    assertClose()
    // routing: var_samp/stddev over the base rewrite to the partials
    try {
      mv.registerRewrite(spark)
      val q = src.readIndexed(spark).groupBy(col("g"))
        .agg(var_samp(col("x").cast("double")).as("vx"),
          stddev_samp(col("x").cast("double")).as("sx"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("__sumsq_x") && !plan.contains("/src/_v"),
        s"variance must route to the Σx² partial:\n$plan")
      val got = q.as[(String, Option[Double], Option[Double])].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val want = recompute
      got.foreach { case (g, (vx, sx)) =>
        assert(math.abs(vx.getOrElse(Double.NaN) - want(g)._2.getOrElse(Double.NaN))
          <= 1e-9 || (vx.isEmpty && want(g)._2.isEmpty), s"$g routed var")
        assert(math.abs(sx.getOrElse(Double.NaN) - want(g)._3.getOrElse(Double.NaN))
          <= 1e-9 || (sx.isEmpty && want(g)._3.isEmpty), s"$g routed stddev")
      }
    } finally graft.plans.AggRollupRewrite.clear()
  }

  test("racing refreshers serialize on the view lock: no window double-folds") {
    val work = tmp("mvrace")
    val src = new SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, "a", 10L), (2, "b", 20L)).toDF("k", "g", "x"))
    val mv = MaterializedAggView.create(spark, s"$work/mv", s"$work/src",
      Seq("k"), Seq("g"), Seq(MaterializedAggView.Agg("sum", Some("x"), "sx")), 4)
    mv.refresh(spark)
    // two more source versions land; MANY refreshers race over them. The
    // unserialized failure mode: refresher A reads ledger base v1, a
    // source commit lands, refresher B also reads base v1 but folds a
    // LONGER window with a HIGHER txn value — B's merge is not a no-op,
    // and the overlap double-counts. Under the view lock each refresher
    // re-reads the ledger and folds only the remainder.
    src.write(spark, Seq((1, "a", 11L), (2, "b", 20L), (3, "a", 5L)).toDF("k", "g", "x"))
    src.write(spark, Seq((1, "a", 11L), (2, "b", 21L), (3, "a", 5L), (4, "c", 7L))
      .toDF("k", "g", "x"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val tasks = (1 to 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = { mv.refresh(spark); () }
        })
      }
      tasks.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(mvRows0(mv) == Set(("a", Some(16L)), ("b", Some(21L)), ("c", Some(7L))),
      mvRows0(mv).toString)
    assert(mv.lastApplied(spark) == 3)
  }

  test("routing answers NULL (not the accumulator's 0) for an all-null-measure SUM") {
    val work = tmp("mvnull")
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, spark)
    val src = new SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, "a", Some(10L)), (2, "b", None), (3, "b", None))
      .toDF("k", "g", "x"))
    val mv = MaterializedAggView.create(spark, s"$work/mv", s"$work/src",
      Seq("k"), Seq("g"), Seq(MaterializedAggView.Agg("sum", Some("x"), "sx")), 4)
    mv.refresh(spark)
    try {
      mv.registerRewrite(spark)
      val q = src.readIndexed(spark).groupBy(col("g")).agg(sum(col("x")).as("sx"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("__sum_x") && !plan.contains("/src/_v"),
        s"must route to the MV state:\n$plan")
      // group b has ONLY null measures: SQL SUM is NULL; the raw LONG
      // accumulator holds 0 — the rollup format must expose NULL
      val got = q.as[(String, Option[Long])].collect().toSet
      assert(got == Set(("a", Some(10L)), ("b", None)), got.toString)
    } finally graft.plans.AggRollupRewrite.clear()
  }

  test("ALTER MATERIALIZED VIEW ENABLE/DISABLE REWRITE through SQL") {
    val work = tmp("mvalter")
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, spark)
    val src = new SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, "a", 10L), (2, "a", 20L), (3, "b", 30L)).toDF("k", "g", "x"))
    sql(s"CREATE MATERIALIZED VIEW '$work/mv' ON '$work/src' KEYS (k) " +
      "GROUP BY (g) AGG (count(*) AS n, sum(x) AS sx) INTO 4 BUCKETS").collect()
    sql(s"REFRESH MATERIALIZED VIEW '$work/mv'").collect()
    try {
      val on = sql(s"ALTER MATERIALIZED VIEW '$work/mv' ENABLE REWRITE").collect().head
      assert(on.getString(1) == "enabled")
      def q = src.readIndexed(spark).groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      assert(q.queryExecution.optimizedPlan.toString.contains("__cnt"),
        "ENABLE REWRITE must register the routing")
      assert(q.as[(String, Long, Option[Long])].collect().toSet ==
        Set(("a", 2L, Some(30L)), ("b", 1L, Some(30L))))
      val off = sql(s"ALTER MATERIALIZED VIEW '$work/mv' DISABLE REWRITE").collect().head
      assert(off.getString(1) == "disabled")
      assert(!q.queryExecution.optimizedPlan.toString.contains("__cnt"),
        "DISABLE REWRITE must unregister the routing")
      assert(q.as[(String, Long, Option[Long])].collect().toSet ==
        Set(("a", 2L, Some(30L)), ("b", 1L, Some(30L))))
    } finally graft.plans.AggRollupRewrite.clear()
  }

  test("derived dims: GROUP BY month(d) routes via the view's derived column") {
    val work = tmp("mvderiv")
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, spark)
    val src = new SnapshotTable(s"$work/src")
    def d(s: String) = java.sql.Date.valueOf(s)
    src.write(spark, Seq((1, d("2024-01-05"), 10L), (2, d("2024-01-20"), 20L),
      (3, d("2024-02-01"), 30L)).toDF("k", "dt", "x"))
    sql(s"CREATE MATERIALIZED VIEW '$work/mv' ON '$work/src' KEYS (k) " +
      "GROUP BY (month(dt) AS m) AGG (count(*) AS n, sum(x) AS sx) INTO 4 BUCKETS")
      .collect()
    sql(s"REFRESH MATERIALIZED VIEW '$work/mv'").collect()
    val mv = new MaterializedAggView(s"$work/mv")
    // DESCRIBE round-trips the derived-dim DDL syntax
    val desc = sql(s"DESCRIBE MATERIALIZED VIEW '$work/mv'").collect().head
    assert(desc.getString(2) == "month(dt) AS m", desc.toString)
    // the derived column is maintained like any dim: reads carry it
    assert(mv.read(spark).as[(Int, Long, Option[Long])].collect().toSet ==
      Set((1, 2L, Some(30L)), (2, 1L, Some(30L))))
    // incremental window MOVES a row between derived groups (date flip)
    src.write(spark, Seq((1, d("2024-02-07"), 10L), (2, d("2024-01-20"), 20L),
      (3, d("2024-02-01"), 30L)).toDF("k", "dt", "x"))
    mv.refresh(spark)
    assert(mv.read(spark).as[(Int, Long, Option[Long])].collect().toSet ==
      Set((1, 1L, Some(20L)), (2, 2L, Some(40L))))
    try {
      mv.registerRewrite(spark)
      // a query grouping by the SAME expression routes to the derived dim
      val q = src.readIndexed(spark).groupBy(month($"dt").as("m"))
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("__sum_x") && !plan.contains("/src/_v"),
        s"GROUP BY month(dt) must route:\n$plan")
      assert(q.as[(Int, Long, Option[Long])].collect().toSet ==
        Set((1, 1L, Some(20L)), (2, 2L, Some(40L))))
      // a WHERE over the derived EXPRESSION routes too: the matched
      // subtree substitutes to the derived column, then the usual
      // dim-filter pushdown applies it to the rollup
      val qw = src.readIndexed(spark).filter(month($"dt") === 2)
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"))
      val pw = qw.queryExecution.optimizedPlan.toString
      assert(pw.contains("__sum_x") && !pw.contains("/src/_v"),
        s"WHERE month(dt) = 2 must route as a derived-dim filter:\n$pw")
      assert(qw.as[(Long, Option[Long])].collect().toSeq == Seq((2L, Some(40L))))
      // refusal pins: a different expression, and a raw-column grouping,
      // must both stay on the base
      val qy = src.readIndexed(spark).groupBy(year($"dt").as("y"))
        .agg(count(lit(1)).as("n"))
      assert(!qy.queryExecution.optimizedPlan.toString.contains("__cnt"),
        "year(dt) must refuse — the view maintains month(dt)")
      val qr = src.readIndexed(spark).groupBy($"dt").agg(count(lit(1)).as("n"))
      assert(!qr.queryExecution.optimizedPlan.toString.contains("__cnt"),
        "grouping by the raw column must refuse")
    } finally graft.plans.AggRollupRewrite.clear()
  }

  test("derived dims reject evaluation-clock and non-deterministic expressions (r14)") {
    val work = tmp("mvdet")
    val src = new SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, java.sql.Date.valueOf("2024-01-05"), 10L))
      .toDF("k", "dt", "x"))
    // a clock-dependent dim is Catalyst-deterministic but each refresh
    // resolves it at a different instant — the preimage would no longer
    // derive its insert's value and routed group state silently corrupts
    sql(s"CREATE MATERIALIZED VIEW '$work/mv' ON '$work/src' KEYS (k) " +
      "GROUP BY (datediff(current_date(), dt) AS age) AGG (count(*) AS n) " +
      "INTO 4 BUCKETS").collect()
    val e1 = intercept[IllegalArgumentException] {
      new MaterializedAggView(s"$work/mv").refresh(spark)
    }
    assert(e1.getMessage.contains("evaluation clock"), e1.getMessage)
    // a non-deterministic dim rejects with its own message
    sql(s"CREATE MATERIALIZED VIEW '$work/mv2' ON '$work/src' KEYS (k) " +
      "GROUP BY (CAST(rand() * 10 AS INT) AS b) AGG (count(*) AS n) " +
      "INTO 4 BUCKETS").collect()
    val e2 = intercept[IllegalArgumentException] {
      new MaterializedAggView(s"$work/mv2").refresh(spark)
    }
    assert(e2.getMessage.contains("non-deterministic"), e2.getMessage)
    // the JOIN/STAR kinds share the same guard at create→refresh
    val dim = new BucketedSnapshotTable(s"$work/dim", 4, Seq("k"))
    dim.scd1Merge(spark, Seq((1, 1L, "g")).toDF("k", "seq", "g"), "seq")
    sql(s"CREATE MATERIALIZED JOIN VIEW '$work/mvj' FACT '$work/src' KEYS (k) " +
      s"DIM '$work/dim' ON (k) GROUP BY (g, datediff(current_date(), dt) AS age) " +
      "AGG (count(*) AS n) INTO 4 BUCKETS").collect()
    val e3 = intercept[IllegalArgumentException] {
      new MaterializedJoinAggView(s"$work/mvj").refresh(spark)
    }
    assert(e3.getMessage.contains("evaluation clock"), e3.getMessage)
  }

  test("GROUP BY item parsing: unaliased expressions reject at parse; last-AS split (r14)") {
    val work = tmp("mvgpi")
    val src = new SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, java.sql.Date.valueOf("2024-01-05"), 10L))
      .toDF("k", "dt", "x"))
    // an expression without an alias would otherwise become a groupBy
    // column literally named "month(dt)" and fail bafflingly at REFRESH
    val e = intercept[IllegalArgumentException] {
      sql(s"CREATE MATERIALIZED VIEW '$work/mv' ON '$work/src' KEYS (k) " +
        "GROUP BY (month(dt)) AGG (count(*) AS n) INTO 4 BUCKETS").collect()
    }
    assert(e.getMessage.contains("without an alias"), e.getMessage)
    // ' AS ' inside the expression (a cast) must not confuse the alias
    // split: the LAST top-level AS wins
    sql(s"CREATE MATERIALIZED VIEW '$work/mv' ON '$work/src' KEYS (k) " +
      "GROUP BY (CAST(x AS INT) AS b) AGG (count(*) AS n) INTO 4 BUCKETS")
      .collect()
    sql(s"REFRESH MATERIALIZED VIEW '$work/mv'").collect()
    val got = new MaterializedAggView(s"$work/mv").read(spark)
      .as[(Int, Long)].collect().toSet
    assert(got == Set((10, 1L)), got.toString)
    val desc = sql(s"DESCRIBE MATERIALIZED VIEW '$work/mv'").collect().head
    assert(desc.getString(2) == "CAST(x AS INT) AS b", desc.toString)
  }

  test("q335 pin: pair provider reads AS OF the provider's pinned txn " +
      "even when a refresh commits between the two reads (empty state)") {
    val work = tmp("mvpin")
    val src = new SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, "a", "X"), (2, "b", "Y")).toDF("k", "g", "v"))
    val mv = MaterializedAggView.create(spark, s"$work/mv", s"$work/src",
      Seq("k"), Seq("g"),
      Seq(MaterializedAggView.Agg("count", None, "n"),
        MaterializedAggView.Agg("count_distinct", Some("v"), "dv")), 4)
    mv.refresh(spark)
    // empty the source: the state commits a version with ZERO live rows
    src.write(spark, Seq.empty[(Int, String, String)].toDF("k", "g", "v"))
    mv.refresh(spark)
    val (provider, distincts) = mv.routingProviders(spark)
    // pin on THIS thread: empty state
    val pinned = provider()
    assert(pinned.count() == 0, "the pinned state must be empty")
    // a refresh commits NEW rows between the provider pin and the pair
    // read — the aux head moves ahead of the pinned txn
    src.write(spark, Seq((10, "a", "Z"), (11, "a", "W")).toDF("k", "g", "v"))
    mv.refresh(spark)
    val pairs = distincts("v")()
    assert(pairs.count() == 0,
      "the pair provider must read AS OF the pinned (empty) refresh, not the aux head")
    // a FRESH pin sees the new state — the pin is per provider() call
    assert(provider().count() == 1 && distincts("v")().count() == 2)
  }

  test("variance oracle-bound guard: a fixture measure whose Σx² numerator " +
      "reaches 2^53 fails loudly (DuckDB double-rounds above it)") {
    val safe = Seq((1, "a", new java.math.BigDecimal("999.99")),
      (2, "a", new java.math.BigDecimal("12.50"))).toDF("k", "g", "price")
      .select($"k", $"g", $"price".cast("decimal(18,2)").as("price"))
    MaterializedAggView.requireVarianceOracleSafe(safe, Seq("g"), "price") // ok
    // one 10^8 value: its square's scale-4 numerator is 10^20 >> 2^53
    val hot = Seq((1, "a", new java.math.BigDecimal("100000000.00")))
      .toDF("k", "g", "price")
      .select($"k", $"g", $"price".cast("decimal(18,2)").as("price"))
    val e = intercept[IllegalArgumentException] {
      MaterializedAggView.requireVarianceOracleSafe(hot, Seq("g"), "price")
    }
    assert(e.getMessage.contains("2^53"), e.getMessage)
  }

  test("VACUUM MATERIALIZED VIEW reclaims refresh history; refreshes continue") {
    val work = tmp("mvvac")
    val src = new SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, "a", "X"), (2, "b", "Y")).toDF("k", "g", "v"))
    sql(s"CREATE MATERIALIZED VIEW '$work/mv' ON '$work/src' KEYS (k) " +
      "GROUP BY (g) AGG (count(*) AS n, count(distinct v) AS dv) INTO 4 BUCKETS")
      .collect()
    val mv = new MaterializedAggView(s"$work/mv")
    // several refresh cycles: each commits a new state + aux version
    (2 to 5).foreach { i =>
      src.write(spark, Seq((1, "a", s"X$i"), (2, "b", "Y"), (i * 10, "a", "Z"))
        .toDF("k", "g", "v"))
      mv.refresh(spark)
    }
    def batchDirs(p: String) = new java.io.File(p).list()
      .count(_.startsWith("_batch_v"))
    val before = batchDirs(s"$work/mv/state")
    assert(before >= 4, s"expected accumulated versions, got $before")
    // KEEP < 1 is a friendly validation error, not an internal require
    val bad = intercept[IllegalArgumentException] {
      sql(s"VACUUM MATERIALIZED VIEW '$work/mv' KEEP 0").collect()
    }
    assert(bad.getMessage.contains("KEEP must be >= 1"), bad.getMessage)
    val r = sql(s"VACUUM MATERIALIZED VIEW '$work/mv' KEEP 2").collect().head
    assert(r.getInt(1) == 2)
    // aux retention is reported honestly: max(keep, 2) for the crash pin
    assert(r.getInt(2) == 2)
    // …and a view with NO aux tables (no distinct aggregates) reports NULL
    // aux retention rather than claiming one that was never exercised
    val src2 = new SnapshotTable(s"$work/src2")
    src2.write(spark, Seq((1, "a", 10L)).toDF("k", "g", "x"))
    sql(s"CREATE MATERIALIZED VIEW '$work/mv2' ON '$work/src2' KEYS (k) " +
      "GROUP BY (g) AGG (sum(x) AS sx) INTO 2 BUCKETS").collect()
    sql(s"REFRESH MATERIALIZED VIEW '$work/mv2'").collect()
    val r2 = sql(s"VACUUM MATERIALIZED VIEW '$work/mv2' KEEP 2").collect().head
    assert(r2.isNullAt(2), s"plain view must report NULL aux retention, got $r2")
    assert(batchDirs(s"$work/mv/state") < before,
      "vacuum must reclaim state batch dirs")
    // the view still answers, and the NEXT refresh still folds exactly
    def got = mv.read(spark).as[(String, Long, Long)].collect().toSet
    assert(got == Set(("a", 2L, 2L), ("b", 1L, 1L)), got.toString)
    src.write(spark, Seq((2, "b", "Y"), (50, "a", "Z")).toDF("k", "g", "v"))
    mv.refresh(spark)
    assert(got == Set(("a", 1L, 1L), ("b", 1L, 1L)), got.toString)
  }

  test("bucketed source: MV rides the manifest-pruned feed, keys from manifest") {
    val work = tmp("mv7")
    val src = new BucketedSnapshotTable(s"$work/src", 8, Seq("k"))
    src.scd1Merge(spark, Seq((1, 1L, "a", 10L), (2, 1L, "a", 20L), (3, 1L, "b", 30L))
      .toDF("k", "seq", "g", "x"), "seq")
    val mv = MaterializedAggView.create(spark, s"$work/mv", s"$work/src",
      sourceKeys = Nil, groupBy = Seq("g"),
      aggs = Seq(MaterializedAggView.Agg("sum", Some("x"), "sx")), numBuckets = 4)
    mv.refresh(spark)
    src.scd1Merge(spark, Seq((2, 2L, "a", 25L)).toDF("k", "seq", "g", "x"), "seq")
    mv.refresh(spark)
    val got = mv.read(spark).as[(String, Option[Long])].collect().toSet
    assert(got == Set(("a", Some(35L)), ("b", Some(30L))), got.toString)
  }

  // r15: the refresh intermediates' compute-once pin defaults to
  // localCheckpoint (non-replicated blocks — a local-mode/retryable
  // assumption); spark.graft.pin.mode=reliable|persist are the
  // cluster-safe modes and must fold byte-identically. The multi-distinct
  // shape exercises every pin site (feed, transition frames, delta).
  test("pin modes: reliable and persist refreshes equal the local default") {
    for (mode <- Seq("reliable", "persist")) {
      val work = tmp(s"mvpin$mode")
      val src = new SnapshotTable(s"$work/src")
      src.write(spark, Seq((1, "a", 10L, "u"), (2, "a", 20L, "v"), (3, "b", 30L, "u"))
        .toDF("k", "g", "x", "y"))
      val mv = MaterializedAggView.create(spark, s"$work/mv", s"$work/src",
        sourceKeys = Seq("k"), groupBy = Seq("g"),
        aggs = Seq(MaterializedAggView.Agg("count", None, "n"),
          MaterializedAggView.Agg("sum", Some("x"), "sx"),
          MaterializedAggView.Agg("count_distinct", Some("x"), "dx"),
          MaterializedAggView.Agg("count_distinct", Some("y"), "dy")), 8)
      if (mode == "reliable") spark.sparkContext.setCheckpointDir(s"$work/ck")
      spark.conf.set("spark.graft.pin.mode", mode)
      try {
        mv.refresh(spark)
        // update, group move, delete, insert — both distinct aux paths fold
        src.write(spark, Seq((1, "a", 11L, "u"), (3, "a", 30L, "w"), (4, "c", 40L, "u"))
          .toDF("k", "g", "x", "y"))
        val (v2, _) = mv.refresh(spark)
        val got = mv.read(spark).as[(String, Long, Option[Long], Long, Long)]
          .collect().toSet
        val want = src.read(spark).groupBy("g")
          .agg(count(lit(1)).as("n"), sum("x").as("sx"),
            countDistinct($"x").as("dx"), countDistinct($"y").as("dy"))
          .as[(String, Long, Option[Long], Long, Long)].collect().toSet
        assert(v2 == 2 && got == want, s"mode=$mode: $got != $want")
      } finally spark.conf.unset("spark.graft.pin.mode")
    }
    val bad = intercept[RuntimeException] {
      spark.conf.set("spark.graft.pin.mode", "never")
      try Pin(Seq((1, "a")).toDF("k", "g"))
      finally spark.conf.unset("spark.graft.pin.mode")
    }
    assert(bad.getMessage.contains("pin.mode"))
  }

  test("two concurrent CREATEs on one root: one spec lands, the other fails as existing") {
    val work = tmp("mvrace")
    (1 to 4).foreach { round =>
      val groups = Seq("g", "h")
      val out = MaterializedViewSpec.raceAll(groups.map(g => () =>
        MaterializedAggView.create(spark, s"$work/mv$round", s"$work/src",
          Seq("k"), Seq(g), Seq(MaterializedAggView.Agg("count", None, "n")))))
      val won = out.zip(groups).collect { case (Right(mv), g) => (mv, g) }
      assert(won.size == 1, out)
      assert(won.head._1.spec(spark).groupBy == Seq(won.head._2))
      assert(MaterializedViewSpec.lostAsExisting(out), out)
    }
  }
}

object MaterializedViewSpec {
  /** Run `bodies` on their own threads, released together. */
  def raceAll[T](bodies: Seq[() => T]): Seq[Either[Throwable, T]] = {
    val start = new java.util.concurrent.CountDownLatch(1)
    val out = new Array[Either[Throwable, T]](bodies.size)
    val ts = bodies.zipWithIndex.map { case (b, i) =>
      new Thread(() => { start.await(); out(i) = scala.util.Try(b()).toEither })
    }
    ts.foreach(_.start()); start.countDown(); ts.foreach(_.join())
    out.toSeq
  }

  def lostAsExisting(out: Seq[Either[Throwable, _]]): Boolean =
    out.collect { case Left(e) => e }.forall(e =>
      e.isInstanceOf[IllegalArgumentException] && e.getMessage.contains("already exists"))
}
