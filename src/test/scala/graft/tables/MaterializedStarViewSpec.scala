package graft.tables

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Star views: fact ⋈ dim1 ⋈ dim2 GROUP BY, maintained from all three
  * change feeds via the telescoping delta identity. Every refresh must
  * equal a full recompute of the join over all sources' visible rows. */
class MaterializedStarViewSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString
  private val agg = MaterializedAggView.Agg
  private val dim = MaterializedStarAggView.Dim

  /** fact(k, jk1, jk2, x) ⋈ d1(jk1, c) ⋈ d2(jk2, r) GROUP BY (c, r). */
  private def recompute(fact: SnapshotTable, d1: BucketedSnapshotTable,
      d2: BucketedSnapshotTable): Set[(String, String, Long, Option[Long])] =
    graft.cdc.ScdMerge.scd1Current(fact.read(spark))
      .join(graft.cdc.ScdMerge.scd1Current(d1.read(spark)), Seq("jk1"))
      .join(graft.cdc.ScdMerge.scd1Current(d2.read(spark)), Seq("jk2"))
      .groupBy("c", "r").agg(count(lit(1)).as("n"), sum("x").as("sx"))
      .as[(String, String, Long, Option[Long])].collect().toSet

  private def rows(mv: MaterializedStarAggView)
      : Set[(String, String, Long, Option[Long])] =
    mv.read(spark).as[(String, String, Long, Option[Long])].collect().toSet

  test("fact and BOTH dim deltas fold exactly through the telescoping identity") {
    val work = tmp("mvs")
    val fact = new SnapshotTable(s"$work/fact")
    val d1 = new BucketedSnapshotTable(s"$work/d1", 4, Seq("jk1"))
    val d2 = new BucketedSnapshotTable(s"$work/d2", 4, Seq("jk2"))
    fact.write(spark, Seq((1, 10L, 100L, 5L), (2, 10L, 200L, 7L), (3, 20L, 100L, 11L))
      .toDF("k", "jk1", "jk2", "x"))
    d1.scd1Merge(spark, Seq((10L, 1L, "red"), (20L, 1L, "blue"))
      .toDF("jk1", "seq", "c"), "seq")
    d2.scd1Merge(spark, Seq((100L, 1L, "eu"), (200L, 1L, "us"))
      .toDF("jk2", "seq", "r"), "seq")
    val mv = MaterializedStarAggView.create(spark, s"$work/mv",
      s"$work/fact", Seq("k"),
      Seq(dim(s"$work/d1", Nil, Seq("jk1")), dim(s"$work/d2", Nil, Seq("jk2"))),
      Seq("c", "r"),
      Seq(agg("count", None, "n"), agg("sum", Some("x"), "sx")), numBuckets = 8)

    val (vec1, _) = mv.refresh(spark)
    assert(vec1 == Seq(1, 1, 1) && rows(mv) == recompute(fact, d1, d2))
    assert(rows(mv) == Set(("red", "eu", 1L, Some(5L)), ("red", "us", 1L, Some(7L)),
      ("blue", "eu", 1L, Some(11L))))

    // fact-side window: update + insert + delete
    fact.write(spark, Seq((1, 10L, 100L, 6L), (3, 20L, 100L, 11L), (4, 20L, 200L, 1L))
      .toDF("k", "jk1", "jk2", "x"))
    mv.refresh(spark)
    assert(rows(mv) == recompute(fact, d1, d2))

    // dim1 attribute flips: every joined row moves (c) groups, dim2 untouched
    d1.scd1Merge(spark, Seq((10L, 2L, "crimson")).toDF("jk1", "seq", "c"), "seq")
    mv.refresh(spark)
    assert(rows(mv) == recompute(fact, d1, d2))
    assert(rows(mv).exists(_._1 == "crimson") && !rows(mv).exists(_._1 == "red"))

    // dim2 attribute flips in the SAME window as a fact change AND a dim1
    // change — all three telescoping legs fire at once, no double count
    fact.write(spark, Seq((1, 10L, 100L, 6L), (3, 20L, 100L, 11L), (4, 20L, 200L, 1L),
      (5, 30L, 200L, 50L)).toDF("k", "jk1", "jk2", "x"))
    d1.scd1Merge(spark, Seq((30L, 3L, "green")).toDF("jk1", "seq", "c"), "seq")
    d2.scd1Merge(spark, Seq((200L, 2L, "apac")).toDF("jk2", "seq", "r"), "seq")
    mv.refresh(spark)
    assert(rows(mv) == recompute(fact, d1, d2))
    assert(rows(mv).exists(r => r._1 == "green" && r._2 == "apac" &&
      r._4 == Some(50L)))
    assert(!rows(mv).exists(_._2 == "us"))
  }

  test("exactly-once across the numbered vector ledger; no-ops; replay") {
    val work = tmp("mvse")
    val fact = new SnapshotTable(s"$work/fact")
    val d1 = new BucketedSnapshotTable(s"$work/d1", 4, Seq("jk1"))
    fact.write(spark, Seq((1, 10L, 5L)).toDF("k", "jk1", "x"))
    d1.scd1Merge(spark, Seq((10L, 1L, "red")).toDF("jk1", "seq", "c"), "seq")
    val mv = MaterializedStarAggView.create(spark, s"$work/mv",
      s"$work/fact", Seq("k"), Seq(dim(s"$work/d1", Nil, Seq("jk1"))),
      Seq("c"), Seq(agg("sum", Some("x"), "sx")), numBuckets = 4)
    mv.refresh(spark)
    val once = mv.read(spark).as[(String, Option[Long])].collect().toSet
    assert(once == Set(("red", Some(5L))))
    val (vec, touched) = mv.refresh(spark)
    assert(vec == Seq(1, 1) && touched.isEmpty)
    assert(mv.lastApplied(spark) == ((1L, Seq(1, 1))))
    assert(mv.read(spark).as[(String, Option[Long])].collect().toSet == once)
    // one more window, then the applied vector advances with refresh #2
    fact.write(spark, Seq((1, 10L, 9L)).toDF("k", "jk1", "x"))
    mv.refresh(spark)
    assert(mv.lastApplied(spark) == ((2L, Seq(2, 1))))
    assert(mv.read(spark).as[(String, Option[Long])].collect().toSet ==
      Set(("red", Some(9L))))
  }

  test("transparent star routing: aggregate over fact⋈d1⋈d2 reads the view state") {
    val work = tmp("mvsr")
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, spark)
    val fact = new SnapshotTable(s"$work/fact")
    val d1 = new BucketedSnapshotTable(s"$work/d1", 4, Seq("jk1"))
    val d2 = new BucketedSnapshotTable(s"$work/d2", 4, Seq("jk2"))
    fact.write(spark, Seq((1, 10L, 100L, 5L), (2, 10L, 200L, 7L), (3, 20L, 100L, 11L))
      .toDF("k", "jk1", "jk2", "x"))
    d1.scd1Merge(spark, Seq((10L, 1L, "red"), (20L, 1L, "blue"))
      .toDF("jk1", "seq", "c"), "seq")
    d2.scd1Merge(spark, Seq((100L, 1L, "eu"), (200L, 1L, "us"))
      .toDF("jk2", "seq", "r"), "seq")
    val mv = MaterializedStarAggView.create(spark, s"$work/mv",
      s"$work/fact", Seq("k"),
      Seq(dim(s"$work/d1", Nil, Seq("jk1")), dim(s"$work/d2", Nil, Seq("jk2"))),
      Seq("c", "r"),
      Seq(agg("count", None, "n"), agg("sum", Some("x"), "sx")), numBuckets = 4)
    mv.refresh(spark)
    try {
      mv.registerRewrite(spark)
      def joined = fact.readIndexed(spark)
        .join(graft.cdc.ScdMerge.scd1Current(d1.readIndexed(spark)), Seq("jk1"))
        .join(graft.cdc.ScdMerge.scd1Current(d2.readIndexed(spark)), Seq("jk2"))
      // own grain routes off the fact scan
      val own = joined.groupBy(col("c"), col("r"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      val planO = own.queryExecution.optimizedPlan.toString
      assert(planO.contains("__sum_x") && !planO.contains("/fact/_v"), planO)
      assert(own.as[(String, String, Long, Long)].collect().toSet ==
        Set(("red", "eu", 1L, 5L), ("red", "us", 1L, 7L), ("blue", "eu", 1L, 11L)))
      // a coarser grain (one dim's attribute) routes and re-aggregates
      val coarse = joined.groupBy(col("c")).agg(sum(col("x")).as("sx"))
      assert(coarse.queryExecution.optimizedPlan.toString.contains("__sum_x"))
      assert(coarse.as[(String, Long)].collect().toSet ==
        Set(("red", 12L), ("blue", 11L)))
      // a PARTIAL star (one dim missing) must NOT route: its rows differ
      // (no inner-join restriction through d2)
      val partial = fact.readIndexed(spark)
        .join(graft.cdc.ScdMerge.scd1Current(d1.readIndexed(spark)), Seq("jk1"))
        .groupBy(col("c")).agg(sum(col("x")).as("sx"))
      assert(!partial.queryExecution.optimizedPlan.toString.contains("__sum_x"))
      // an extra filter refuses too
      val filtered = joined.filter(col("x") > 6)
        .groupBy(col("c")).agg(sum(col("x")).as("sx"))
      assert(!filtered.queryExecution.optimizedPlan.toString.contains("__sum_x"))
      assert(filtered.as[(String, Long)].collect().toSet ==
        Set(("red", 7L), ("blue", 11L)))
      // a SNOWFLAKE chain must refuse: d1 carries its own jk2 column
      // whose values DIFFER from the fact's — joining d2 through d1's
      // copy is a different relation than the registered star, so
      // routing it to the view state would be silently wrong
      val d1Snow = graft.cdc.ScdMerge.scd1Current(d1.readIndexed(spark))
        .withColumn("jk2", when(col("jk1") === 10L, lit(200L)).otherwise(lit(100L)))
      val fdf = fact.readIndexed(spark).drop("jk2")
      val snow = fdf.join(d1Snow, Seq("jk1"))
        .join(graft.cdc.ScdMerge.scd1Current(d2.readIndexed(spark)), Seq("jk2"))
        .groupBy(col("c"), col("r")).agg(sum(col("x")).as("sx"))
      val planS = snow.queryExecution.optimizedPlan.toString
      assert(!planS.contains("__sum_x"), s"snowflake chain must not route:\n$planS")
      // …and the base answer (through d1's jk2) genuinely differs from
      // the star view's rows — the refusal is what keeps it correct
      val got = snow.as[(String, String, Long)].collect().toSet
      assert(got == Set(("red", "us", 12L), ("blue", "eu", 11L)), got.toString)
    } finally graft.plans.AggRollupRewrite.clear()
  }

  test("SQL surface: CREATE / REFRESH / DESCRIBE MATERIALIZED STAR VIEW round-trip") {
    val work = tmp("mvssql")
    def sql(q: String) = org.apache.spark.sql.GraftColumnBridge.graftSql(spark, q)
    val fact = new SnapshotTable(s"$work/fact")
    val d1 = new BucketedSnapshotTable(s"$work/d1", 4, Seq("jk1"))
    val d2 = new BucketedSnapshotTable(s"$work/d2", 4, Seq("jk2"))
    fact.write(spark, Seq((1, 10L, 100L, 5L), (2, 20L, 100L, 7L))
      .toDF("k", "jk1", "jk2", "x"))
    d1.scd1Merge(spark, Seq((10L, 1L, "red"), (20L, 1L, "blue"))
      .toDF("jk1", "seq", "c"), "seq")
    d2.scd1Merge(spark, Seq((100L, 1L, "eu")).toDF("jk2", "seq", "r"), "seq")
    sql(s"CREATE MATERIALIZED STAR VIEW '$work/mv' FACT '$work/fact' KEYS (k) " +
      s"DIM '$work/d1' ON (jk1) DIM '$work/d2' ON (jk2) GROUP BY (c, r) " +
      "AGG (count(*) AS n, sum(x) AS sx) INTO 4 BUCKETS").collect()
    val r = sql(s"REFRESH MATERIALIZED STAR VIEW '$work/mv'").collect().head
    assert(r.getString(0) == "1,1,1" && r.getInt(1) > 0, r.toString)
    val got = sql(s"MATERIALIZED VIEW '$work/mv'")
      .as[(String, String, Long, Option[Long])].collect().toSet
    assert(got == Set(("red", "eu", 1L, Some(5L)), ("blue", "eu", 1L, Some(7L))),
      got.toString)
    val d = sql(s"DESCRIBE MATERIALIZED STAR VIEW '$work/mv'").collect().head
    assert(d.getString(0) == s"$work/fact" &&
      d.getString(1) == s"$work/d1 ON (jk1); $work/d2 ON (jk2)" &&
      d.getString(3) == "count:*:n,sum:x:sx" &&
      d.getLong(5) == 1L && d.getString(6) == "1,1,1", d.toString)
    // the JOIN VIEW surface reports one fact and one dim version: on a
    // two-dimension root it fails by name, and REFRESH does no work first
    Seq("REFRESH", "DESCRIBE").foreach { verb =>
      val ej = intercept[IllegalArgumentException] {
        sql(s"$verb MATERIALIZED JOIN VIEW '$work/mv'").collect()
      }
      assert(ej.getMessage.contains("2 dimensions is not a join view"), ej.getMessage)
    }
    // non-additive aggregates refuse with a named error
    val e = intercept[IllegalArgumentException] {
      sql(s"CREATE MATERIALIZED STAR VIEW '$work/mv2' FACT '$work/fact' KEYS (k) " +
        s"DIM '$work/d1' ON (jk1) GROUP BY (c) AGG (min(x) AS mn)").collect()
    }
    assert(e.getMessage.contains("additive"))
  }

  test("two star views over one fact with different dims each route; DISABLE REWRITE is per view") {
    val work = tmp("mvs2")
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, spark)
    def sql(q: String) = org.apache.spark.sql.GraftColumnBridge.graftSql(spark, q)
    val fact = new SnapshotTable(s"$work/fact")
    val da = new BucketedSnapshotTable(s"$work/da", 4, Seq("ja"))
    val db = new BucketedSnapshotTable(s"$work/db", 4, Seq("jb"))
    fact.write(spark, Seq((1, 10L, 100L, 5L), (2, 10L, 200L, 7L), (3, 20L, 100L, 11L))
      .toDF("k", "ja", "jb", "x"))
    da.scd1Merge(spark, Seq((10L, 1L, "red"), (20L, 1L, "blue"))
      .toDF("ja", "seq", "c"), "seq")
    db.scd1Merge(spark, Seq((100L, 1L, "eu"), (200L, 1L, "us"))
      .toDF("jb", "seq", "r"), "seq")
    val mvA = MaterializedStarAggView.create(spark, s"$work/mva", s"$work/fact",
      Seq("k"), Seq(dim(s"$work/da", Nil, Seq("ja"))), Seq("c"),
      Seq(agg("sum", Some("x"), "sx")), numBuckets = 4)
    val mvB = MaterializedStarAggView.create(spark, s"$work/mvb", s"$work/fact",
      Seq("k"), Seq(dim(s"$work/db", Nil, Seq("jb"))), Seq("r"),
      Seq(agg("sum", Some("x"), "sx")), numBuckets = 4)
    mvA.refresh(spark); mvB.refresh(spark)
    try {
      mvA.registerRewrite(spark); mvB.registerRewrite(spark)
      def qa = fact.readIndexed(spark)
        .join(graft.cdc.ScdMerge.scd1Current(da.readIndexed(spark)), Seq("ja"))
        .groupBy(col("c")).agg(sum(col("x")).as("sx"))
      def qb = fact.readIndexed(spark)
        .join(graft.cdc.ScdMerge.scd1Current(db.readIndexed(spark)), Seq("jb"))
        .groupBy(col("r")).agg(sum(col("x")).as("sx"))
      // each query groups by its own view's only dimension column, so a
      // plan reading view partials can only be reading that view
      def routed(q: org.apache.spark.sql.DataFrame): Boolean = {
        val p = q.queryExecution.optimizedPlan.toString
        p.contains("__sum_x") && !p.contains("/fact/_v")
      }
      assert(routed(qa), qa.queryExecution.optimizedPlan.toString)
      assert(routed(qb), qb.queryExecution.optimizedPlan.toString)
      assert(qa.as[(String, Long)].collect().toSet == Set(("red", 12L), ("blue", 11L)))
      assert(qb.as[(String, Long)].collect().toSet == Set(("eu", 16L), ("us", 7L)))
      // disabling one view's routing removes only its own entry
      sql(s"ALTER MATERIALIZED STAR VIEW '$work/mva' DISABLE REWRITE").collect()
      assert(!routed(qa) && routed(qb))
      assert(qa.as[(String, Long)].collect().toSet == Set(("red", 12L), ("blue", 11L)))
    } finally graft.plans.AggRollupRewrite.clear()
  }

  test("count(distinct c) over the star: exact through all three telescoping legs") {
    val work = tmp("mvsdc")
    val fact = new SnapshotTable(s"$work/fact")
    val d1 = new BucketedSnapshotTable(s"$work/d1", 4, Seq("jk1"))
    val d2 = new BucketedSnapshotTable(s"$work/d2", 4, Seq("jk2"))
    // (c=red, r=eu) holds values {X, X, Y}; (red, us) holds {X}
    fact.write(spark, Seq((1, 10L, 100L, "X"), (2, 10L, 100L, "X"),
      (3, 10L, 100L, "Y"), (4, 10L, 200L, "X")).toDF("k", "jk1", "jk2", "v"))
    d1.scd1Merge(spark, Seq((10L, 1L, "red")).toDF("jk1", "seq", "c"), "seq")
    d2.scd1Merge(spark, Seq((100L, 1L, "eu"), (200L, 1L, "us"))
      .toDF("jk2", "seq", "r"), "seq")
    val mv = MaterializedStarAggView.create(spark, s"$work/mv",
      s"$work/fact", Seq("k"),
      Seq(dim(s"$work/d1", Nil, Seq("jk1")), dim(s"$work/d2", Nil, Seq("jk2"))),
      Seq("c", "r"),
      Seq(agg("count", None, "n"), agg("count_distinct", Some("v"), "dv")),
      numBuckets = 8)
    def want = graft.cdc.ScdMerge.scd1Current(fact.read(spark))
      .join(graft.cdc.ScdMerge.scd1Current(d1.read(spark)), Seq("jk1"))
      .join(graft.cdc.ScdMerge.scd1Current(d2.read(spark)), Seq("jk2"))
      .groupBy("c", "r").agg(count(lit(1)).as("n"), countDistinct(col("v")).as("dv"))
      .as[(String, String, Long, Long)].collect().toSet
    def got = mv.read(spark).as[(String, String, Long, Long)].collect().toSet
    mv.refresh(spark)
    assert(got == want &&
      got == Set(("red", "eu", 3L, 2L), ("red", "us", 1L, 1L)), got.toString)
    // fact leg: drop one X holder in (red, eu) — distinct unchanged; then
    // the last one — distinct falls
    fact.write(spark, Seq((2, 10L, 100L, "X"), (3, 10L, 100L, "Y"),
      (4, 10L, 200L, "X")).toDF("k", "jk1", "jk2", "v"))
    mv.refresh(spark)
    assert(got == want && got.exists(r => r._2 == "eu" && r._4 == 2L), got.toString)
    fact.write(spark, Seq((3, 10L, 100L, "Y"), (4, 10L, 200L, "X"))
      .toDF("k", "jk1", "jk2", "v"))
    mv.refresh(spark)
    assert(got == want && got.exists(r => r._2 == "eu" && r._4 == 1L), got.toString)
    // dim2 leg: region us → eu merges the groups' value sets (X moves
    // into eu where it had just died — resurrection via a DIM leg)
    d2.scd1Merge(spark, Seq((200L, 2L, "eu")).toDF("jk2", "seq", "r"), "seq")
    mv.refresh(spark)
    assert(got == want && got == Set(("red", "eu", 2L, 2L)), got.toString)
    // all three legs in ONE window: new fact value under a new dim1 key
    // plus a dim2 flip back — the telescoping pairing must count once
    fact.write(spark, Seq((3, 10L, 100L, "Y"), (4, 10L, 200L, "X"),
      (5, 30L, 100L, "Z")).toDF("k", "jk1", "jk2", "v"))
    d1.scd1Merge(spark, Seq((30L, 2L, "red")).toDF("jk1", "seq", "c"), "seq")
    d2.scd1Merge(spark, Seq((200L, 3L, "us")).toDF("jk2", "seq", "r"), "seq")
    mv.refresh(spark)
    assert(got == want &&
      got == Set(("red", "eu", 2L, 2L), ("red", "us", 1L, 1L)), got.toString)
  }

  test("count(distinct c): a crash between the aux and main commits heals on replay") {
    val work = tmp("mvsdcc")
    val fact = new SnapshotTable(s"$work/fact")
    val d1 = new BucketedSnapshotTable(s"$work/d1", 4, Seq("jk1"))
    fact.write(spark, Seq((1, 10L, "X"), (2, 10L, "Y")).toDF("k", "jk1", "v"))
    d1.scd1Merge(spark, Seq((10L, 1L, "red")).toDF("jk1", "seq", "c"), "seq")
    val mv = MaterializedStarAggView.create(spark, s"$work/mv",
      s"$work/fact", Seq("k"), Seq(dim(s"$work/d1", Nil, Seq("jk1"))),
      Seq("c"), Seq(agg("count_distinct", Some("v"), "dv")), numBuckets = 4)
    mv.refresh(spark)
    // Y disappears; the refresh CRASHES after the aux commit (refresh
    // number 2) but before the main state commit — the window's vector
    // survives only in `_applied_aux_2`
    fact.write(spark, Seq((1, 10L, "X")).toDF("k", "jk1", "v"))
    mv.onStep = s => if (s.startsWith("aux-merged")) sys.error("boom")
    intercept[RuntimeException] { mv.refresh(spark) }
    mv.onStep = _ => ()
    assert(mv.lastApplied(spark)._1 == 1L)
    // the sources ADVANCE past the crash: Y reverts before the replay —
    // the replay must fold EXACTLY the aux-recorded vector first, then
    // the remainder as refresh number 3
    fact.write(spark, Seq((1, 10L, "X"), (2, 10L, "Y")).toDF("k", "jk1", "v"))
    val (vec, _) = mv.refresh(spark)
    assert(vec == Seq(3, 1), vec.toString)
    def got = mv.read(spark).as[(String, Long)].collect().toSet
    assert(got == Set(("red", 2L)), got.toString)
    assert(mv.lastApplied(spark) == ((3L, Seq(3, 1))))
    // aux truly healed: Y vanishing and returning round-trips exactly
    fact.write(spark, Seq((1, 10L, "X")).toDF("k", "jk1", "v"))
    mv.refresh(spark)
    assert(got == Set(("red", 1L)), got.toString)
    fact.write(spark, Seq((1, 10L, "X"), (9, 10L, "Y")).toDF("k", "jk1", "v"))
    mv.refresh(spark)
    assert(got == Set(("red", 2L)), got.toString)
  }

  test("NULL group keys fold exactly through the star's telescoping legs") {
    val work = tmp("mvsnull")
    val fact = new SnapshotTable(s"$work/fact")
    val d1 = new BucketedSnapshotTable(s"$work/d1", 4, Seq("jk1"))
    val d2 = new BucketedSnapshotTable(s"$work/d2", 4, Seq("jk2"))
    fact.write(spark, Seq((1, 10L, 100L, 5L), (2, 20L, 100L, 7L), (3, 20L, 200L, 9L))
      .toDF("k", "jk1", "jk2", "x"))
    // d1 row 20 carries a NULL group attr; d2 row 200 does too — the
    // (null, eu), (red, eu) and (null, null) groups are all distinct
    d1.scd1Merge(spark, Seq((10L, 1L, "red"), (20L, 1L, null))
      .toDF("jk1", "seq", "c"), "seq")
    d2.scd1Merge(spark, Seq((100L, 1L, "eu"), (200L, 1L, null))
      .toDF("jk2", "seq", "r"), "seq")
    val mv = MaterializedStarAggView.create(spark, s"$work/mv",
      s"$work/fact", Seq("k"),
      Seq(dim(s"$work/d1", Nil, Seq("jk1")), dim(s"$work/d2", Nil, Seq("jk2"))),
      Seq("c", "r"), Seq(agg("count", None, "n"), agg("sum", Some("x"), "sx")),
      numBuckets = 8)
    def want = graft.cdc.ScdMerge.scd1Current(fact.read(spark))
      .join(graft.cdc.ScdMerge.scd1Current(d1.read(spark)), Seq("jk1"))
      .join(graft.cdc.ScdMerge.scd1Current(d2.read(spark)), Seq("jk2"))
      .groupBy("c", "r").agg(count(lit(1)).as("n"), sum("x").as("sx"))
      .as[(Option[String], Option[String], Long, Option[Long])].collect().toSet
    def got = mv.read(spark)
      .as[(Option[String], Option[String], Long, Option[Long])].collect().toSet
    mv.refresh(spark)
    assert(got == want && got == Set((Some("red"), Some("eu"), 1L, Some(5L)),
      (None, Some("eu"), 1L, Some(7L)), (None, None, 1L, Some(9L))), got.toString)
    // a dim flip MOVES rows out of the null group (ΔD1 leg)
    d1.scd1Merge(spark, Seq((20L, 2L, "blue")).toDF("jk1", "seq", "c"), "seq")
    mv.refresh(spark)
    assert(got == want && !got.exists(r => r._1.isEmpty), got.toString)
    // …and a fact change lands in a surviving null-r group (ΔF leg)
    fact.write(spark, Seq((1, 10L, 100L, 5L), (2, 20L, 100L, 7L),
      (3, 20L, 200L, 9L), (4, 10L, 200L, 50L)).toDF("k", "jk1", "jk2", "x"))
    mv.refresh(spark)
    assert(got == want && got.exists(r => r._1 == Some("red") && r._2.isEmpty),
      got.toString)
  }

  test("refresh rewrites only the buckets holding changed groups") {
    val work = tmp("mvsb")
    val fact = new SnapshotTable(s"$work/fact")
    val d1 = new BucketedSnapshotTable(s"$work/d1", 8, Seq("jk1"))
    val d2 = new BucketedSnapshotTable(s"$work/d2", 8, Seq("jk2"))
    val base = (1 to 512).map(i => (i, (i % 64).toLong, (i % 16).toLong, i.toLong))
    fact.write(spark, base.toDF("k", "jk1", "jk2", "x"))
    d1.scd1Merge(spark, (0 until 64).map(j => (j.toLong, 1L, s"c$j"))
      .toDF("jk1", "seq", "c"), "seq")
    d2.scd1Merge(spark, (0 until 16).map(j => (j.toLong, 1L, s"r$j"))
      .toDF("jk2", "seq", "r"), "seq")
    val mv = MaterializedStarAggView.create(spark, s"$work/mv",
      s"$work/fact", Seq("k"),
      Seq(dim(s"$work/d1", Nil, Seq("jk1")), dim(s"$work/d2", Nil, Seq("jk2"))),
      Seq("c", "r"), Seq(agg("sum", Some("x"), "sx")), numBuckets = 32)
    val (_, boot) = mv.refresh(spark)
    assert(boot.size >= 24)
    // one fact key changes → one (c, r) group → ≲ a couple of buckets
    fact.write(spark, (base.filterNot(_._1 == 7) :+ ((7, 7L, 7L, 999L)))
      .toDF("k", "jk1", "jk2", "x"))
    val (_, touched) = mv.refresh(spark)
    assert(touched.size <= 2, s"expected O(changed groups) buckets, got ${touched.size}")
    assert(rows0(mv) == graft.cdc.ScdMerge.scd1Current(fact.read(spark))
      .join(graft.cdc.ScdMerge.scd1Current(d1.read(spark)), Seq("jk1"))
      .join(graft.cdc.ScdMerge.scd1Current(d2.read(spark)), Seq("jk2"))
      .groupBy("c", "r").agg(sum("x").as("sx"))
      .as[(String, String, Option[Long])].collect().toSet)
  }

  private def rows0(mv: MaterializedStarAggView)
      : Set[(String, String, Option[Long])] =
    mv.read(spark).as[(String, String, Option[Long])].collect().toSet

  test("derived dims over the star row: maintained through every leg, routed (r14)") {
    val work = tmp("mvsd")
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, spark)
    def sql(q: String) = org.apache.spark.sql.GraftColumnBridge.graftSql(spark, q)
    val fact = new SnapshotTable(s"$work/fact")
    val d1 = new BucketedSnapshotTable(s"$work/d1", 4, Seq("jk1"))
    val d2 = new BucketedSnapshotTable(s"$work/d2", 4, Seq("jk2"))
    def d(s: String) = java.sql.Date.valueOf(s)
    fact.write(spark, Seq((1, 10L, 100L, d("2024-01-05"), 5L),
      (2, 10L, 200L, d("2024-02-03"), 7L), (3, 20L, 100L, d("2024-01-20"), 11L))
      .toDF("k", "jk1", "jk2", "dt", "x"))
    d1.scd1Merge(spark, Seq((10L, 1L, "red"), (20L, 1L, "blue"))
      .toDF("jk1", "seq", "c"), "seq")
    d2.scd1Merge(spark, Seq((100L, 1L, "eu"), (200L, 1L, "us"))
      .toDF("jk2", "seq", "r"), "seq")
    sql(s"CREATE MATERIALIZED STAR VIEW '$work/mv' FACT '$work/fact' KEYS (k) " +
      s"DIM '$work/d1' ON (jk1) DIM '$work/d2' ON (jk2) " +
      "GROUP BY (c, month(dt) AS m) AGG (count(*) AS n, sum(x) AS sx) " +
      "INTO 8 BUCKETS").collect()
    sql(s"REFRESH MATERIALIZED STAR VIEW '$work/mv'").collect()
    val mv = new MaterializedStarAggView(s"$work/mv")
    // DESCRIBE round-trips the derived-dim DDL syntax
    val desc = sql(s"DESCRIBE MATERIALIZED STAR VIEW '$work/mv'").collect().head
    assert(desc.getString(2) == "c,month(dt) AS m", desc.toString)
    def recomputeD: Set[(String, Int, Long, Option[Long])] =
      graft.cdc.ScdMerge.scd1Current(fact.read(spark))
        .join(graft.cdc.ScdMerge.scd1Current(d1.read(spark)), Seq("jk1"))
        .join(graft.cdc.ScdMerge.scd1Current(d2.read(spark)), Seq("jk2"))
        .groupBy(col("c"), month(col("dt")).as("m"))
        .agg(count(lit(1)).as("n"), sum("x").as("sx"))
        .as[(String, Int, Long, Option[Long])].collect().toSet
    def gotD: Set[(String, Int, Long, Option[Long])] =
      mv.read(spark).as[(String, Int, Long, Option[Long])].collect().toSet
    assert(gotD == recomputeD)
    // leg 0: a fact date flip moves k=1 between derived month groups
    fact.write(spark, Seq((1, 10L, 100L, d("2024-02-07"), 5L),
      (2, 10L, 200L, d("2024-02-03"), 7L), (3, 20L, 100L, d("2024-01-20"), 11L))
      .toDF("k", "jk1", "jk2", "dt", "x"))
    mv.refresh(spark)
    assert(gotD == recomputeD)
    assert(gotD == Set(("red", 2, 2L, Some(12L)), ("blue", 1, 1L, Some(11L))))
    // a dim leg: every joined row moves groups, the derived dim rides
    // the leg's fact-side date column identically
    d1.scd1Merge(spark, Seq((10L, 2L, "crimson")).toDF("jk1", "seq", "c"), "seq")
    mv.refresh(spark)
    assert(gotD == recomputeD)
    assert(gotD.exists(_._1 == "crimson") && !gotD.exists(_._1 == "red"))
    try {
      mv.registerRewrite(spark)
      val base = fact.readIndexed(spark)
        .join(graft.cdc.ScdMerge.scd1Current(d1.readIndexed(spark)), Seq("jk1"))
        .join(graft.cdc.ScdMerge.scd1Current(d2.readIndexed(spark)), Seq("jk2"))
      val q = base.groupBy(col("c"), month(col("dt")).as("m"))
        .agg(count(lit(1)).as("n"), sum("x").as("sx"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("__sum_x") && !plan.contains("/fact/_v"),
        s"GROUP BY month(dt) over the star must route:\n$plan")
      assert(q.as[(String, Int, Long, Option[Long])].collect().toSet == recomputeD)
      val qy = base.groupBy(year(col("dt")).as("y")).agg(count(lit(1)).as("n"))
      assert(!qy.queryExecution.optimizedPlan.toString.contains("__cnt"),
        "year(dt) must refuse — the star view maintains month(dt)")
    } finally graft.plans.AggRollupRewrite.clear()
  }

  test("two concurrent star CREATEs on one root: one spec lands, the other fails as existing") {
    val work = tmp("mvsrace")
    (1 to 4).foreach { round =>
      val groups = Seq("c", "r")
      val out = MaterializedViewSpec.raceAll(groups.map(g => () =>
        MaterializedStarAggView.create(spark, s"$work/mv$round", s"$work/fact",
          Seq("k"), Seq(dim(s"$work/d1", Nil, Seq("jk1"))), Seq(g),
          Seq(agg("count", None, "n")))))
      val won = out.zip(groups).collect { case (Right(mv), g) => (mv, g) }
      assert(won.size == 1, out)
      assert(won.head._1.spec(spark).groupBy == Seq(won.head._2))
      assert(MaterializedViewSpec.lostAsExisting(out), out)
    }
  }
}
