package graft.tables

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Refresh cost guard: the number of Spark jobs one incremental refresh
  * runs, per view kind, may not grow. Each bound is the count measured at
  * commit fb03835 (before the two view kinds shared one fold); a change
  * that adds a job to the refresh path fails here instead of showing up
  * only as a slower benchmark round. */
class RefreshCostSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString
  private val agg = MaterializedAggView.Agg

  private val Marker = "refresh-cost-marker"

  /** Jobs started while `body` runs. Listener events arrive
    * asynchronously but in order, so a marker job run after `body` and
    * seen by the listener means every job of `body` has been counted. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val marks = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == Marker))
          marks.incrementAndGet()
        else jobs.incrementAndGet()
    }
    def drain(): Unit = {
      val m = marks.get
      spark.sparkContext.setJobDescription(Marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (marks.get == m && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marks.get > m, "listener never saw the marker job")
    }
    spark.sparkContext.addSparkListener(l)
    try {
      drain()
      val j0 = jobs.get
      body
      drain()
      jobs.get - j0
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("one incremental refresh of a single-table sum + count(distinct) view") {
    val work = tmp("mvcost")
    val src = new SnapshotTable(s"$work/src")
    src.write(spark, Seq((1, "a", 10L, "X"), (2, "a", 20L, "Y"), (3, "b", 30L, "X"))
      .toDF("k", "g", "x", "v"))
    val mv = MaterializedAggView.create(spark, s"$work/mv", s"$work/src",
      Seq("k"), Seq("g"),
      Seq(agg("sum", Some("x"), "sx"), agg("count_distinct", Some("v"), "dv")), 4)
    mv.refresh(spark)
    src.write(spark, Seq((1, "a", 11L, "X"), (3, "b", 30L, "Z"), (4, "c", 40L, "X"))
      .toDF("k", "g", "x", "v"))
    val n = jobsOf { mv.refresh(spark) }
    assert(mv.lastApplied(spark) == 2)
    info(s"$n jobs")
    assert(n <= SingleTableJobs, s"$n jobs, at most $SingleTableJobs")
  }

  test("one incremental refresh of a one-dimension star sum + count(distinct) view") {
    val work = tmp("mvscost")
    val fact = new SnapshotTable(s"$work/fact")
    val d1 = new BucketedSnapshotTable(s"$work/d1", 4, Seq("jk1"))
    fact.write(spark, Seq((1, 10L, 5L, "X"), (2, 10L, 7L, "Y"), (3, 20L, 11L, "X"))
      .toDF("k", "jk1", "x", "v"))
    d1.scd1Merge(spark, Seq((10L, 1L, "red"), (20L, 1L, "blue"))
      .toDF("jk1", "seq", "c"), "seq")
    val mv = MaterializedStarAggView.create(spark, s"$work/mv",
      s"$work/fact", Seq("k"),
      Seq(MaterializedStarAggView.Dim(s"$work/d1", Nil, Seq("jk1"))), Seq("c"),
      Seq(agg("sum", Some("x"), "sx"), agg("count_distinct", Some("v"), "dv")), 4)
    mv.refresh(spark)
    fact.write(spark, Seq((1, 10L, 6L, "X"), (3, 20L, 11L, "Z"), (4, 20L, 1L, "X"))
      .toDF("k", "jk1", "x", "v"))
    val n = jobsOf { mv.refresh(spark) }
    assert(mv.lastApplied(spark)._1 == 2L)
    info(s"$n jobs")
    assert(n <= StarJobs, s"$n jobs, at most $StarJobs")
  }

  private val SingleTableJobs = 41
  private val StarJobs = 49
}
