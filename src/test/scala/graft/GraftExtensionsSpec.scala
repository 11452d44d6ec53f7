package graft

import org.apache.spark.sql.{GraftColumnBridge, SparkSessionExtensions}
import org.scalatest.funsuite.AnyFunSuite

/** The spark.sql.extensions entry point: strategy + function injection. */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("GraftExtensions injects AsOfJoinStrategy and the vec_dot SQL function") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftColumnBridge.applyExtensions(ext, spark)

    // strategy is live in the session planner
    assert(spark.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))

    // vec_dot resolves through the session function registry (SQL path)
    val d = spark.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .as[Double].head()
    assert(d == 11.0)

    // the injected strategy plans an as-of join end to end
    val trades = Seq((1, 10, "t1"), (1, 20, "t2")).toDF("k", "t", "trade")
    val quotes = Seq((1, 5, 99.0), (1, 15, 101.0)).toDF("qk", "qt", "px")
    val out = graft.plans.AsOfJoin.asofJoin(trades, quotes, "k", "qk", "t", "qt")
      .select($"trade", $"px").collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(out == Set(("t1", 99.0), ("t2", 101.0)))

    // topk_pairs resolves through SQL too (k must be a literal)
    Seq((1L, 10.0), (2L, 30.0), (3L, 20.0)).toDF("id", "v")
      .createOrReplaceTempView("v_topk")
    val top = spark.sql(
      "SELECT topk_pairs(v, id, 2) AS t FROM v_topk")
      .selectExpr("inline(t)").as[(Double, Long)].collect().toSeq
    assert(top == Seq((30.0, 2L), (20.0, 3L)))
  }

  test("sessionWithExtensions reflection seam: constructor resolves, SharedState " +
      "shared, derived session routes FILTER+DISTINCT (r14 jar-bump pin)") {
    // the 6-arg classic.SparkSession constructor is found REFLECTIVELY —
    // a Spark upgrade that changes its arity must fail THIS spec at CI
    // time, not a user session at runtime
    val ctor = Class.forName("org.apache.spark.sql.classic.SparkSession")
      .getDeclaredConstructors.find(_.getParameterCount == 6)
    assert(ctor.isDefined,
      "classic.SparkSession no longer has a 6-arg constructor — update " +
        "GraftColumnBridge.sessionWithExtensions for this Spark version")
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val s2 = GraftColumnBridge.sessionWithExtensions(spark, ext)
    // the derived session SHARES the parent's SharedState (same catalog,
    // same cache manager) — a fresh builder session would not
    assert(s2.sharedState eq spark.sharedState,
      "derived session must share the parent's SharedState")
    assert(s2.sparkContext eq spark.sparkContext)
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    // and it routes a FILTER+DISTINCT query through the analyzer-stage
    // rule (the one seam late adoption cannot reach)
    val work = java.nio.file.Files.createTempDirectory("swext").toString
    val src = new graft.tables.SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, "a", "x"), (2, "a", "y"), (3, "b", "x"))
      .toDF("k", "g", "v"))
    GraftColumnBridge.graftSql(spark,
      s"CREATE MATERIALIZED VIEW '$work/mv' ON '$work/src' KEYS (k) " +
        "GROUP BY (g) AGG (count(*) AS n, count(distinct v) AS dv) " +
        "INTO 4 BUCKETS").collect()
    GraftColumnBridge.graftSql(spark,
      s"REFRESH MATERIALIZED VIEW '$work/mv'").collect()
    try {
      new graft.tables.MaterializedAggView(s"$work/mv").registerRewrite(s2)
      import org.apache.spark.sql.functions.{count, expr, lit}
      val q = src.readIndexed(s2).groupBy("g")
        .agg(count(lit(1)).as("n"),
          expr("count(DISTINCT v) FILTER (WHERE g = 'a')").as("dva"))
      val plan = q.queryExecution.optimizedPlan.toString
      // own-grain queries route via the exact __dc_ partial; coarser ones
      // via the __dval pair relation — either proves the analyzer seam
      assert((plan.contains("__dc_") || plan.contains("__dval")) &&
          !plan.contains("/src/_v"),
        s"the derived session must route FILTER+DISTINCT:\n$plan")
      val got = q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set(("a", 2L, 2L), ("b", 1L, 0L)), got.toString)
    } finally graft.plans.AggRollupRewrite.clear()
  }

  test("AggRollupRewrite: a DIFFERENT table nested under a registered root never routes") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftColumnBridge.applyExtensions(ext, spark)
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("rollupnest").toString
    Seq(("a", 10L), ("a", 20L), ("b", 5L)).toDF("g", "x")
      .write.parquet(s"$work/base")
    val base = spark.read.parquet(s"$work/base")
    graft.plans.AggRollupRewrite.buildRollup(base, s"$work/rollup", Seq("g"), Seq("x"))
    graft.plans.AggRollupRewrite.register(spark, s"$work/base", s"$work/rollup",
      Seq("g"), Seq("x"))
    try {
      // a user table that happens to live INSIDE the registered root, with
      // the same column names but different data — the ancestor walk must
      // stop at its non-engine segment instead of serving the parent's
      // rollup (only underscore version dirs and k=v partition dirs are
      // transparent)
      Seq(("a", 1000L)).toDF("g", "x").write.parquet(s"$work/base/daily")
      val q = spark.read.parquet(s"$work/base/daily")
        .groupBy($"g").agg(sum($"x").as("sx"))
      assert(!q.queryExecution.optimizedPlan.toString.contains("__sum_x"),
        q.queryExecution.optimizedPlan.toString)
      assert(q.as[(String, Long)].collect().toSet == Set(("a", 1000L)))
    } finally graft.plans.AggRollupRewrite.clear()
  }

  test("AggRollupRewrite.refreshRollup: a legacy rollup without __nn partials still merges") {
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("rolluplegacy").toString
    val base = Seq(("a", 10L), ("b", 5L)).toDF("g", "x")
    graft.plans.AggRollupRewrite.buildRollup(base, s"$work/rollup", Seq("g"), Seq("x"))
    // simulate a rollup persisted BEFORE the __nn_ partial existed
    val legacy = spark.read.parquet(s"$work/rollup").drop("__nn_x")
    legacy.coalesce(1).write.mode("overwrite").parquet(s"$work/legacy")
    graft.plans.AggRollupRewrite.refreshRollup(spark,
      Seq(("a", 30L), ("c", 7L)).toDF("g", "x"), s"$work/legacy", Seq("g"), Seq("x"))
    val got = spark.read.parquet(s"$work/legacy")
      .select($"g", $"__cnt", $"__sum_x", $"__min_x", $"__max_x")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(("a", 2L, 40L, 10L, 30L), ("b", 1L, 5L, 5L, 5L),
      ("c", 1L, 7L, 7L, 7L)), got.toString)
    // …and the merged rollup still has NO __nn column (backfilling it
    // from a delta alone would be silently wrong)
    assert(!spark.read.parquet(s"$work/legacy").columns.contains("__nn_x"))
  }

  test("AggRollupRewrite: covered aggregates route to the rollup; uncovered stay on base") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftColumnBridge.applyExtensions(ext, spark)
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("rollup").toString

    // base fact table: money pre-cast to DECIMAL so sum-of-sums is exact
    graft.tables.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select($"l_returnflag", $"l_linestatus",
        $"l_extendedprice".cast("decimal(18,2)").as("price"), $"l_quantity")
      .write.mode("overwrite").parquet(s"$work/base")
    val base = spark.read.parquet(s"$work/base")
    graft.plans.AggRollupRewrite.buildRollup(base, s"$work/rollup",
      Seq("l_returnflag", "l_linestatus"), Seq("price", "l_quantity"))
    graft.plans.AggRollupRewrite.register(spark, s"$work/base", s"$work/rollup",
      Seq("l_returnflag", "l_linestatus"), Seq("price", "l_quantity"))
    try {
      def q = spark.read.parquet(s"$work/base")
        .groupBy($"l_returnflag")
        .agg(sum($"price").as("total"), max($"l_quantity").as("mx"),
          count(lit(1)).as("n"), avg($"l_quantity").as("mean"))

      // plan aggregates the rollup partials, not the base rows
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("__sum_price") && optimized.contains("__cnt"), optimized)

      // answers are exact vs direct aggregation over the base
      graft.plans.AggRollupRewrite.clear()
      val want = q.orderBy($"l_returnflag")
        .as[(String, java.math.BigDecimal, Double, Long, Double)].collect()
      graft.plans.AggRollupRewrite.register(spark, s"$work/base", s"$work/rollup",
        Seq("l_returnflag", "l_linestatus"), Seq("price", "l_quantity"))
      val got = q.orderBy($"l_returnflag")
        .as[(String, java.math.BigDecimal, Double, Long, Double)].collect()
      assert(got.length == want.length)
      got.zip(want).foreach { case ((f1, s1, m1, n1, a1), (f2, s2, m2, n2, a2)) =>
        assert(f1 == f2 && s1.compareTo(s2) == 0 && m1 == m2 && n1 == n2)
        assert(math.abs(a1 - a2) < 1e-9, s"$f1 avg $a1 vs $a2")
      }

      // uncovered measure (a column the rollup lacks) → untouched plan
      val miss = spark.read.parquet(s"$work/base")
        .groupBy($"l_returnflag").agg(countDistinct($"l_quantity").as("d"))
      assert(!miss.queryExecution.optimizedPlan.toString.contains("__cnt"))

      // grouping outside the rollup dims → untouched plan
      val wide = base.groupBy($"l_quantity").agg(sum($"price").as("t"))
      assert(!wide.queryExecution.optimizedPlan.toString.contains("__sum"))
    } finally graft.plans.AggRollupRewrite.clear()
  }

  test("AggRollupRewrite.refreshRollup: merging a delta ≡ rebuilding from scratch") {
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("rollupref").toString
    val li = graft.tables.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select($"l_orderkey", $"l_returnflag",
        $"l_extendedprice".cast("decimal(18,2)").as("price"), $"l_quantity")
    val dims = Seq("l_returnflag"); val ms = Seq("price", "l_quantity")

    graft.plans.AggRollupRewrite.buildRollup(
      li.filter($"l_orderkey" % 2 === 0), s"$work/incr", dims, ms)
    graft.plans.AggRollupRewrite.refreshRollup(
      spark, li.filter($"l_orderkey" % 2 === 1), s"$work/incr", dims, ms)
    graft.plans.AggRollupRewrite.buildRollup(li, s"$work/full", dims, ms)

    val a = spark.read.parquet(s"$work/incr")
    val b = spark.read.parquet(s"$work/full")
    assert(a.schema == b.schema, s"${a.schema} vs ${b.schema}")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("MaterializedAggView.registerRewrite: transparent routing, null-correct AVG, refresh visibility") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftColumnBridge.applyExtensions(ext, spark)
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("mvroute").toString
    val src = new graft.tables.SnapshotTable(s"$work/src")
    // group b has a NULL measure — routed AVG must divide by the non-null
    // count, not the group row count
    src.write(spark, Seq((1, "a", Some(10.0)), (2, "a", Some(30.0)), (3, "b", None),
      (4, "b", Some(8.0))).toDF("k", "g", "x"))
    val mv = graft.tables.MaterializedAggView.create(spark, s"$work/mv",
      s"$work/src", Seq("k"), Seq("g"),
      Seq(graft.tables.MaterializedAggView.Agg("count", None, "n"),
        graft.tables.MaterializedAggView.Agg("avg", Some("x"), "ax")), 4)
    mv.refresh(spark)
    mv.registerRewrite(spark)
    try {
      def q = src.readIndexed(spark).groupBy($"g")
        .agg(count(lit(1)).as("n"), count($"x").as("nn"), avg($"x").as("ax"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("__nn_x") && !plan.contains("/src/_v"), plan)
      val got = q.orderBy($"g").as[(String, Long, Long, Double)].collect().toSeq
      assert(got == Seq(("a", 2L, 2L, 20.0), ("b", 2L, 1L, 8.0)), got.toString)

      // an uncovered aggregate leaves the WHOLE query on the base
      val miss = src.readIndexed(spark).groupBy($"g").agg(max($"x").as("mx"))
      assert(!miss.queryExecution.optimizedPlan.toString.contains("__"),
        miss.queryExecution.optimizedPlan.toString)

      // refresh visibility: the same transparent query sees the new commit
      src.write(spark, Seq((1, "a", Some(10.0)), (2, "a", Some(30.0)), (3, "b", None),
        (4, "b", Some(8.0)), (5, "b", Some(2.0))).toDF("k", "g", "x"))
      mv.refresh(spark)
      val got2 = q.orderBy($"g").as[(String, Long, Long, Double)].collect().toSeq
      assert(got2 == Seq(("a", 2L, 2L, 20.0), ("b", 3L, 2L, 5.0)), got2.toString)
    } finally graft.plans.AggRollupRewrite.clear()
  }

  test("ApproxDistinctRewrite: COUNT(DISTINCT) becomes HLL++ only when opted in") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftColumnBridge.applyExtensions(ext, spark)
    import org.apache.spark.sql.functions._

    val df = graft.tables.Tables.orders(spark, "/root/testdata/sf0.001")
      .groupBy($"o_orderpriority").agg(countDistinct($"o_custkey").as("n"))
    val exact = df.orderBy($"o_orderpriority").as[(String, Long)].collect()

    // default off: plan keeps the exact distinct aggregate
    assert(!df.queryExecution.optimizedPlan.toString.contains("approx_count_distinct"))

    spark.conf.set(graft.plans.ApproxDistinctRewrite.ConfKey, "true")
    try {
      // fresh DataFrame ⇒ fresh QueryExecution picks the conf change up
      val rewritten = graft.tables.Tables.orders(spark, "/root/testdata/sf0.001")
        .groupBy($"o_orderpriority").agg(countDistinct($"o_custkey").as("n"))
      assert(rewritten.queryExecution.optimizedPlan.toString.contains("approx_count_distinct"),
        rewritten.queryExecution.optimizedPlan.toString.take(1000))
      val est = rewritten.orderBy($"o_orderpriority").as[(String, Long)].collect()
      exact.zip(est).foreach { case ((p1, n1), (p2, n2)) =>
        assert(p1 == p2)
        assert(math.abs(n1 - n2) <= math.max(2, (0.15 * n1).toLong), s"$p1: exact $n1 vs est $n2")
      }
    } finally spark.conf.unset(graft.plans.ApproxDistinctRewrite.ConfKey)
  }

  test("JoinEliminationRewrite: untouched unique dim drops; references/inner/unregistered stay") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftColumnBridge.applyExtensions(ext, spark)
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    graft.plans.JoinEliminationRewrite.register(spark, s"$dir/customer.parquet", "c_custkey")
    try {
      val o = graft.tables.Tables.orders(spark, dir)
      val c = graft.tables.Tables.customer(spark, dir)

      def joined = o.join(c, o("o_custkey") === c("c_custkey"), "left_outer")

      // eliminated: no customer column referenced
      val q1 = joined.select(o("o_orderkey"), o("o_totalprice"))
      assert(!q1.queryExecution.optimizedPlan.toString.contains("Join"),
        q1.queryExecution.optimizedPlan.toString.take(800))
      // results identical to the unjoined projection
      assert(q1.count() == o.count())
      assert(q1.collect().toSet ==
        o.select("o_orderkey", "o_totalprice").collect().toSet)

      // kept: a dimension column is read
      val q2 = joined.select(o("o_orderkey"), c("c_mktsegment"))
      assert(q2.queryExecution.optimizedPlan.toString.contains("Join"))

      // kept: inner join (elimination needs referential integrity there)
      val q3 = o.join(c, o("o_custkey") === c("c_custkey"))
        .select(o("o_orderkey"))
      assert(q3.queryExecution.optimizedPlan.toString.contains("Join"))

      // kept: join key not registered unique
      val q4 = o.join(c, o("o_custkey") === c("c_nationkey"), "left_outer")
        .select(o("o_orderkey"))
      assert(q4.queryExecution.optimizedPlan.toString.contains("Join"))
    } finally graft.plans.JoinEliminationRewrite.clear()
  }

  test("GraftSqlParser DML: MERGE INTO (DELETE WHEN) / UPDATE / DELETE FROM / SNAPSHOT time travel") {
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("sqldml").toString
    val t = new graft.tables.SnapshotTable(s"$work/t")
    def sqlRun(q: String) = GraftColumnBridge.graftSql(spark, q)

    t.write(spark, Seq((1L, 10.0, 1L), (2L, 20.0, 1L), (3L, 30.0, 1L))
      .toDF("k", "v", "op_seq"))
    // MERGE: update k=1 (newer seq), tombstone k=2, insert k=4, STALE row
    // for k=3 (op_seq 0 loses to the stored 1)
    Seq((1L, 11.0, 2L), (2L, 0.0, 2L), (4L, 40.0, 2L), (3L, 99.0, 0L))
      .toDF("k", "v", "op_seq").createOrReplaceTempView("dml_batch")
    sqlRun(s"MERGE INTO '${t.root}' USING dml_batch ON KEYS (k) " +
      "SEQUENCE BY op_seq DELETE WHEN v = 0.0").collect()
    // visible table via scd1Current (the stored STATE keeps k=2's tombstone)
    def visible() = graft.cdc.ScdMerge.scd1Current(t.read(spark))
    assert(visible().select("k", "v").as[(Long, Double)].collect().toSet ==
      Set((1L, 11.0), (3L, 30.0), (4L, 40.0)))
    assert(t.read(spark).filter($"k" === 2).count() == 1,
      "tombstone state row must persist for out-of-order protection")

    // UPDATE with a function call in SET (top-level comma splitter) — and
    // it must be atomic: a new version, not an in-place mutation
    sqlRun(s"UPDATE '${t.root}' SET v = v + greatest(1.0, 2.0), op_seq = 3 " +
      "WHERE k <= 3").collect()
    assert(visible().select("k", "v").as[(Long, Double)].collect().toSet ==
      Set((1L, 13.0), (3L, 32.0), (4L, 40.0)))

    // DELETE FROM tombstones, no rewrite
    val nDel = sqlRun(s"DELETE FROM '${t.root}' WHERE v > 35.0").as[Long].head()
    assert(nDel == 1)
    assert(visible().select("k").as[Long].collect().toSet == Set(1L, 3L))

    // SNAPSHOT is a query; VERSION AS OF sees pre-DML history
    assert(sqlRun(s"SNAPSHOT '${t.root}'").count() == 2)
    assert(sqlRun(s"SNAPSHOT '${t.root}' VERSION AS OF 1").count() == 3)

    // DELETE FROM commits a VERSIONED tombstone batch (r10): the prior
    // version still shows the row, the files were never rewritten
    assert(sqlRun(s"SNAPSHOT '${t.root}' VERSION AS OF 3").count() == 3,
      "the pre-delete version must still show the deleted row")

    // RESTORE commits a NEW version with the old content (history intact)
    val rv = sqlRun(s"RESTORE '${t.root}' TO VERSION 1").as[Int].head()
    assert(t.read(spark).select("k", "v").as[(Long, Double)].collect().toSet ==
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    // v1 write, v2 merge, v3 update, v4 the versioned DELETE FROM — so the
    // restore commits v5
    assert(t.currentVersion(spark).contains(rv) && rv == 5)
  }

  test("GraftSqlParser ALTER TABLE ADD/DROP CONSTRAINT: validated on add, enforced on write") {
    val work = java.nio.file.Files.createTempDirectory("sqlcons").toString
    val t = new graft.tables.SnapshotTable(s"$work/t")
    t.write(spark, Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"))
    def sqlRun(q: String) = GraftColumnBridge.graftSql(spark, q)
    // existing rows pass → constraint lands
    assert(sqlRun(s"ALTER TABLE '$work/t' ADD CONSTRAINT v_pos CHECK (v > 0)")
      .as[Int].head() == 1)
    // a violating batch is rejected at write time
    val e = intercept[Exception](t.append(spark, Seq((3L, -1.0)).toDF("k", "v")))
    assert(e.getMessage == null || e.toString.contains("CONSTRAINT") ||
      e.getCause != null) // surfaced through the task failure chain
    assert(t.read(spark).count() == 2)
    // a constraint the existing data violates is itself rejected
    intercept[IllegalArgumentException](
      sqlRun(s"ALTER TABLE '$work/t' ADD CONSTRAINT v_big CHECK (v > 15)").collect())
    // drop → violating batch lands
    assert(sqlRun(s"ALTER TABLE '$work/t' DROP CONSTRAINT v_pos").as[Int].head() == 0)
    t.append(spark, Seq((3L, -1.0)).toDF("k", "v").coalesce(1))
    assert(t.read(spark).count() == 3)
  }

  test("GraftSqlParser MERGE INTO routes to a BUCKETED table root (affected buckets only)") {
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("sqlbmerge").toString
    val bt = new graft.tables.BucketedSnapshotTable(s"$work/t", 8, Seq("k"))
    bt.scd1Merge(spark, Seq((1L, 1L, "a"), (2L, 1L, "b"), (17L, 1L, "q"))
      .toDF("k", "op_seq", "v"), "op_seq")
    Seq((1L, 2L, "a2"), (2L, 2L, "DEAD"), (42L, 2L, "new"))
      .toDF("k", "op_seq", "v").createOrReplaceTempView("bmerge_batch")
    def sqlRun(q: String) = GraftColumnBridge.graftSql(spark, q)
    val out = sqlRun(s"MERGE INTO '$work/t' USING bmerge_batch ON KEYS (k) " +
      "SEQUENCE BY op_seq DELETE WHEN v = 'DEAD'").as[(Int, Long)].head()
    assert(out._2 == 3) // 1 updated + 17 untouched + 42 inserted; 2 deleted
    assert(graft.cdc.ScdMerge.scd1Current(bt.read(spark))
      .select("k", "v").as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (17L, "q"), (42L, "new")))
    // wrong ON KEYS must fail loudly (manifest header records the bucket
    // keys), never silently mis-bucket
    val e = intercept[Exception](
      sqlRun(s"MERGE INTO '$work/t' USING bmerge_batch ON KEYS (v) " +
        "SEQUENCE BY op_seq").collect())
    assert(e.getMessage.contains("bucket keys"), e.getMessage)
  }

  test("GraftSqlParser INSERT INTO: transactional append, EVOLVE for new columns, bucketed root refused") {
    val work = java.nio.file.Files.createTempDirectory("sqlins").toString
    val t = new graft.tables.SnapshotTable(s"$work/t")
    t.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    Seq((3L, "c")).toDF("k", "v").createOrReplaceTempView("ins_plain")
    Seq((4L, "d", 9.5)).toDF("k", "v", "score").createOrReplaceTempView("ins_evo")
    def sqlRun(q: String) = GraftColumnBridge.graftSql(spark, q)
    val r1 = sqlRun(s"INSERT INTO '$work/t' FROM ins_plain").as[(Int, Long)].head()
    assert(r1 == ((2, 1L)))
    // without EVOLVE, a new column is a schema error (append contract)
    intercept[Exception](sqlRun(s"INSERT INTO '$work/t' FROM ins_evo").collect())
    sqlRun(s"INSERT INTO '$work/t' FROM ins_evo EVOLVE").collect()
    val got = t.read(spark).select("k", "v", "score")
      .as[(Long, String, Option[Double])].collect().toSet
    assert(got == Set((1L, "a", None), (2L, "b", None), (3L, "c", None),
      (4L, "d", Some(9.5))))
    // bucketed roots refuse: their state is keyed SCD, appends bypass it
    val bt = new graft.tables.BucketedSnapshotTable(s"$work/b", 4, Seq("k"))
    bt.scd1Merge(spark, Seq((1L, 1L, "x")).toDF("k", "op_seq", "v"), "op_seq")
    val e = intercept[Exception](
      sqlRun(s"INSERT INTO '$work/b' FROM ins_plain").collect())
    assert(e.getMessage.contains("MERGE INTO"), e.getMessage)
  }

  test("GraftSqlParser CTAS + ANALYZE: create both formats from SQL, backfill stats on legacy data") {
    val work = java.nio.file.Files.createTempDirectory("sqlctas").toString
    def sqlRun(q: String) = GraftColumnBridge.graftSql(spark, q)
    Seq((1L, 1L, "a", 10.0), (2L, 1L, "b", 20.0), (3L, 1L, "c", 30.0))
      .toDF("k", "op_seq", "v", "d").createOrReplaceTempView("ctas_src")

    // bucketed CTAS: layout lands in the manifest header, MERGE works on it
    sqlRun(s"CREATE TABLE '$work/b' BUCKETED BY (k) INTO 4 BUCKETS " +
      "SEQUENCE BY op_seq STATS (d) AS SELECT * FROM ctas_src").collect()
    val l = graft.tables.BucketedSnapshotTable.layoutOf(spark, s"$work/b").get
    assert(l.numBuckets == 4 && l.keys.contains(Seq("k")) && l.statsCols == Seq("d"))
    Seq((2L, 2L, "B", 21.0)).toDF("k", "op_seq", "v", "d")
      .createOrReplaceTempView("ctas_b2")
    sqlRun(s"MERGE INTO '$work/b' USING ctas_b2 ON KEYS (k) SEQUENCE BY op_seq").collect()
    assert(sqlRun(s"SNAPSHOT '$work/b'").select("k", "v").as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "B"), (3L, "c")))

    // plain CTAS with partitioning
    sqlRun(s"CREATE TABLE '$work/p' PARTITIONED BY (v) AS SELECT * FROM ctas_src").collect()
    assert(new graft.tables.SnapshotTable(s"$work/p").partitionColumns(spark) == Seq("v"))
    assert(sqlRun(s"SNAPSHOT '$work/p'").count() == 3)

    // BLOOM clause (r10): the index lands with the CTAS on both formats
    sqlRun(s"CREATE TABLE '$work/bb' BUCKETED BY (k) INTO 4 BUCKETS " +
      "SEQUENCE BY op_seq BLOOM (v) AS SELECT * FROM ctas_src").collect()
    assert(graft.tables.BucketedSnapshotTable.layoutOf(spark, s"$work/bb")
      .get.bloomCols == Seq("v"))
    sqlRun(s"CREATE TABLE '$work/pb' BLOOM (v) AS SELECT * FROM ctas_src").collect()
    assert(sqlRun(s"SNAPSHOT '$work/pb' WHERE v = 'b'").count() == 1)

    // an existing root refuses CTAS (both formats)
    assert(intercept[Exception](sqlRun(s"CREATE TABLE '$work/b' BUCKETED BY (k) " +
      "INTO 4 BUCKETS SEQUENCE BY op_seq AS SELECT * FROM ctas_src").collect())
      .getMessage.contains("already holds"))
    assert(intercept[Exception](
      sqlRun(s"CREATE TABLE '$work/p' AS SELECT * FROM ctas_src").collect())
      .getMessage.contains("already holds"))

    // ANALYZE backfill: a stats-less bucketed table gains per-batch stats
    // + the header record, and the DML pre-filter starts pruning
    val bt = new graft.tables.BucketedSnapshotTable(s"$work/nb", 8, Seq("k"))
    bt.scd1Merge(spark, (1L to 80L).map(i => (i, 1L, 1.0)).toDF("k", "op_seq", "d"), "op_seq")
    val hot = bt.scd1Merge(spark, Seq((3L, 2L, 9.0)).toDF("k", "op_seq", "d"), "op_seq")
    assert(graft.tables.BucketedSnapshotTable.layoutOf(spark, s"$work/nb").get.statsCols.isEmpty)
    sqlRun(s"ANALYZE '$work/nb' STATS (d)").collect()
    val l2 = graft.tables.BucketedSnapshotTable.layoutOf(spark, s"$work/nb").get
    assert(l2.statsCols == Seq("d"))
    val bt2 = new graft.tables.BucketedSnapshotTable(s"$work/nb", 8, Seq("k"), l2.statsCols)
    assert(bt2.statsCandidates(spark, bt2.manifest(spark), $"d" >= 5.0) == Some(hot))
    // the metadata-only analyze commit must not inflate the change feed
    val v = bt2.currentVersion(spark).get
    assert(bt2.changedBuckets(spark, v - 1, v).isEmpty)

    // INCREMENTAL re-ANALYZE is O(new batches): a later stats-less merge
    // gains a sidecar while already-covered dirs are untouched (immutable
    // batch dirs → their existing stats cannot be stale)
    bt.scd1Merge(spark, Seq((7L, 2L, 42.0)).toDF("k", "op_seq", "d"), "op_seq")
    val oldStats = new java.io.File(s"$work/nb/_batch_v1/_stats")
    val mtimeBefore = oldStats.lastModified()
    Thread.sleep(20)
    sqlRun(s"ANALYZE '$work/nb' STATS (d) INCREMENTAL").collect()
    assert(oldStats.lastModified() == mtimeBefore,
      "covered dirs must be skipped by INCREMENTAL")
    val bt3 = new graft.tables.BucketedSnapshotTable(s"$work/nb", 8, Seq("k"), Seq("d"))
    assert(bt3.statsCandidates(spark, bt3.manifest(spark), $"d" >= 40.0)
      .exists(_.nonEmpty), "the new batch's backfilled stats must prune")

    // ANALYZE BLOOM on a PLAIN root backfills the live version's per-file
    // bloom sidecar: the point lookup prunes to fewer files and stays exact
    val pt = new graft.tables.SnapshotTable(s"$work/pb")
    pt.write(spark, (1L to 64L).map(i => (i, s"u$i")).toDF("k", "v")
      .repartition(8))
    sqlRun(s"ANALYZE '$work/pb' BLOOM (k)").collect()
    val full = pt.read(spark).inputFiles.length
    val pruned = pt.readIndexed(spark).filter($"k" === 7L)
    val kept = graft.ScannedFiles.scannedFiles(pruned)
    assert(kept < full, s"plain bloom backfill must prune ($kept of $full)")
    assert(pruned.count() == 1)
    // bare ANALYZE with neither STATS nor BLOOM refuses
    assert(intercept[Exception](sqlRun(s"ANALYZE '$work/pb'").collect())
      .getMessage.contains("STATS"))
  }

  test("GraftSqlParser APPLY CHANGES INTO: bootstrap creates target, windows consume, mismatches refuse") {
    val work = java.nio.file.Files.createTempDirectory("sqlapply").toString
    def sqlRun(q: String) = GraftColumnBridge.graftSql(spark, q)
    val src = new graft.tables.BucketedSnapshotTable(s"$work/s", 8, Seq("k"))
    src.scd1Merge(spark, Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("k", "op_seq", "v"), "op_seq")
    val stmt = s"APPLY CHANGES INTO '$work/d' FROM '$work/s' " +
      s"USING CHECKPOINT '$work/ck' AS m"
    assert(sqlRun(stmt).as[(Int, Int)].head() == ((1, 1))) // bootstrap creates d
    src.scd1Merge(spark, Seq((2L, 2L, "B"), (3L, 2L, "c")).toDF("k", "op_seq", "v"), "op_seq")
    sqlRun(stmt).collect()
    assert(sqlRun(s"SNAPSHOT '$work/d'").select("k", "v").as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "B"), (3L, "c")))
    // replay is a no-op; target version stands
    val (sv, tv) = sqlRun(stmt).as[(Int, Int)].head()
    assert(sv == 2 && tv == 2)
    // a plain source works WITH ON KEYS (dims live in plain snapshots):
    // bootstrap, then a window diffing two full snapshots
    val p = new graft.tables.SnapshotTable(s"$work/p")
    p.write(spark, Seq((1L, "x"), (2L, "y")).toDF("k", "v"))
    val plainStmt = s"APPLY CHANGES INTO '$work/d2' FROM '$work/p' " +
      s"USING CHECKPOINT '$work/ck2' AS m ON KEYS (k) INTO 4 BUCKETS"
    sqlRun(plainStmt).collect()
    p.write(spark, Seq((1L, "x"), (2L, "Y2"), (3L, "z")).toDF("k", "v"))
    sqlRun(plainStmt).collect()
    assert(sqlRun(s"SNAPSHOT '$work/d2'").select("k", "v").as[(Long, String)]
      .collect().toSet == Set((1L, "x"), (2L, "Y2"), (3L, "z")))
    // …but without ON KEYS it refuses (the plain format records no keys)
    assert(intercept[Exception](sqlRun(s"APPLY CHANGES INTO '$work/d3' FROM " +
      s"'$work/p' USING CHECKPOINT '$work/ck3' AS m").collect())
      .getMessage.contains("ON KEYS"))
    // a target with different keys refuses
    val other = new graft.tables.BucketedSnapshotTable(s"$work/o", 8, Seq("z"))
    other.scd1Merge(spark, Seq((1L, 1L)).toDF("z", "op_seq"), "op_seq")
    assert(intercept[Exception](sqlRun(s"APPLY CHANGES INTO '$work/o' FROM " +
      s"'$work/s' USING CHECKPOINT '$work/ck3' AS m").collect())
      .getMessage.contains("keys"))
  }

  test("GraftSqlParser CHANGES SINCE TIMESTAMP: window from the instant's version to live") {
    val work = java.nio.file.Files.createTempDirectory("sqlcdfts").toString
    def sqlRun(q: String) = GraftColumnBridge.graftSql(spark, q)
    val t = new graft.tables.BucketedSnapshotTable(s"$work/t", 8, Seq("k"))
    t.scd1Merge(spark, Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("k", "op_seq", "v"), "op_seq")
    Thread.sleep(15)
    val mid = System.currentTimeMillis()
    Thread.sleep(15)
    t.scd1Merge(spark, Seq((2L, 2L, "B"), (3L, 2L, "c")).toDF("k", "op_seq", "v"), "op_seq")
    val midIso = java.time.Instant.ofEpochMilli(mid).toString
    val got = sqlRun(s"CHANGES '$work/t' SINCE TIMESTAMP '$midIso'")
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(got == Set((2L, "update"), (3L, "insert")))
    // an instant after the last commit yields an EMPTY, schema-correct feed
    Thread.sleep(15)
    val now = java.time.Instant.ofEpochMilli(System.currentTimeMillis()).toString
    val empty = sqlRun(s"CHANGES '$work/t' SINCE TIMESTAMP '$now' WITH COLUMNS")
    assert(empty.count() == 0)
    assert(empty.columns.toSet == Set("k", "op_seq", "v", "_change_type", "_changed_columns"))
  }

  test("GraftSqlParser SNAPSHOT TIMESTAMP AS OF: newest version committed at or before the instant") {
    val work = java.nio.file.Files.createTempDirectory("sqlts").toString
    def sqlRun(q: String) = GraftColumnBridge.graftSql(spark, q)
    def iso(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString
    // plain root
    val t = new graft.tables.SnapshotTable(s"$work/t")
    t.write(spark, Seq((1L, "v1")).toDF("k", "v"))
    Thread.sleep(30)
    val betweenPlain = System.currentTimeMillis()
    Thread.sleep(30)
    t.write(spark, Seq((1L, "v2")).toDF("k", "v"))
    assert(sqlRun(s"SNAPSHOT '$work/t' TIMESTAMP AS OF '${iso(betweenPlain)}'")
      .select("v").as[String].head() == "v1")
    assert(sqlRun(s"SNAPSHOT '$work/t' TIMESTAMP AS OF " +
      s"'${iso(System.currentTimeMillis())}'").select("v").as[String].head() == "v2")
    intercept[Exception](sqlRun(
      s"SNAPSHOT '$work/t' TIMESTAMP AS OF '2000-01-01'").collect())
    // bucketed root (manifest mtime is the commit time)
    val bt = new graft.tables.BucketedSnapshotTable(s"$work/b", 4, Seq("k"))
    bt.scd1Merge(spark, Seq((1L, 1L, "b1")).toDF("k", "op_seq", "v"), "op_seq")
    Thread.sleep(30)
    val betweenB = System.currentTimeMillis()
    Thread.sleep(30)
    bt.scd1Merge(spark, Seq((1L, 2L, "b2")).toDF("k", "op_seq", "v"), "op_seq")
    assert(sqlRun(s"SNAPSHOT '$work/b' TIMESTAMP AS OF '${iso(betweenB)}'")
      .select("v").as[String].head() == "b1")
    // the space-separated literal form parses too
    assert(sqlRun(s"SNAPSHOT '$work/b' TIMESTAMP AS OF '2099-12-31 23:59:59'")
      .select("v").as[String].head() == "b2")
  }

  test("GraftSqlParser: OPTIMIZE/VACUUM/DESCRIBE HISTORY route to table ops; other SQL delegates") {
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("sqlddl").toString
    val t = new graft.tables.SnapshotTable(s"$work/t")
    t.writeWithStats(spark,
      spark.range(5000).toDF("k").withColumn("x", sha2($"k".cast("string"), 256)),
      Seq("k"), clusterBy = Seq("k"), clusterPartitions = 2)
    (0 until 3).foreach { i =>
      t.append(spark, spark.range(5000 + i * 10, 5010 + i * 10).toDF("k")
        .withColumn("x", sha2($"k".cast("string"), 256)).coalesce(1))
    }
    def sqlRun(q: String) = GraftColumnBridge.graftSql(spark, q)

    // DESCRIBE HISTORY: one row per retained version
    assert(sqlRun(s"DESCRIBE HISTORY '${t.root}'").count() == 4)

    // OPTIMIZE returns the new version; small files packed
    val before = t.read(spark).inputFiles.length
    val v = sqlRun(s"OPTIMIZE '${t.root}' TARGET 100000").as[Int].head()
    assert(v == 5)
    assert(t.read(spark).inputFiles.length < before)
    assert(t.read(spark).count() == 5030)

    // OPTIMIZE … CLUSTER BY (r10): the packed small files land range-
    // clustered, so the carried stats stay selective on the column
    (0 until 2).foreach { i =>
      t.append(spark, spark.range(9000 + i * 10, 9010 + i * 10).toDF("k")
        .withColumn("x", sha2($"k".cast("string"), 256)).coalesce(1))
    }
    val v2 = sqlRun(s"OPTIMIZE '${t.root}' TARGET 100000 CLUSTER BY (k)")
      .as[Int].head()
    assert(v2 > v && t.read(spark).count() == 5050)
    val (keptC, allC) = t.pruneStats(spark, $"k" >= 9000)
    assert(keptC > 0 && keptC < allC,
      s"clustered OPTIMIZE must keep range stats selective: $keptC of $allC")

    // bad statements near-miss the grammar → delegate → normal ParseException
    intercept[Exception](sqlRun(s"OPTIMIZE UNQUOTED_PATH EXTRA"))

    // VACUUM drops old versions, keeps manifest-referenced dirs readable
    sqlRun(s"VACUUM '${t.root}' KEEP 1").collect()
    assert(t.read(spark).count() == 5050)
    assert(sqlRun(s"DESCRIBE HISTORY '${t.root}'").count() == 1)

    // plain SQL flows through the delegate untouched
    assert(sqlRun("SELECT 40 + 2 AS v").as[Int].head() == 42)

    // full injection path: a session built withExtensions parses the DDL
    // through plain spark.sql (fresh session on the shared context)
    val prev = spark
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    org.apache.spark.sql.SparkSession.clearActiveSession()
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .withExtensions(new GraftExtensions).getOrCreate()
      assert(s2.sql(s"DESCRIBE HISTORY '${t.root}'").count() == 1)
      assert(s2.sql("SELECT 1 AS one").count() == 1)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(
        prev.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
      org.apache.spark.sql.SparkSession.setActiveSession(
        prev.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    }
  }
}
