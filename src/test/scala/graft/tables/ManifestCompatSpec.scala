package graft.tables

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Version-layer behavior that holds for both table formats and reads
  * only public surfaces: a crashed writer's uncommitted version stays
  * invisible to time travel, history and SQL routing; a bucketed
  * table's manifest bytes are pinned; tombstones are carried by
  * reference. */
class ManifestCompatSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  private def tmp(name: String) =
    s"${java.nio.file.Files.createTempDirectory(name)}/t"

  private final class Boom extends RuntimeException("injected crash")

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Time travel, history and readVersion see exactly [1, live]. */
  private def onlyCommitted(live: Int, versionAt: Long => Int,
      history: => Seq[Int], readVersion: Int => Unit): Unit = {
    assert(versionAt(System.currentTimeMillis()) == live,
      "TIMESTAMP AS OF now must resolve to the live version")
    assert(history.max == live, s"history lists an uncommitted version: $history")
    intercept[IllegalArgumentException](readVersion(live + 1))
  }

  test("plain: a commit killed after its carry step is invisible to time travel and history") {
    val t = new SnapshotTable(tmp("pcarried"))
    t.write(spark, Seq((1L, "a")).toDF("k", "x"))
    t.append(spark, Seq((2L, "b")).toDF("k", "x"))
    TestHooks.onStep(t)(s => if (s == "carried") throw new Boom)
    intercept[Boom](t.append(spark, Seq((3L, "c")).toDF("k", "x")))
    TestHooks.onStep(t)(_ => ())
    assert(t.currentVersion(spark).contains(2))
    onlyCommitted(2, t.versionAt(spark, _),
      t.history(spark).select("version").as[Int].collect().toSeq,
      v => t.readVersion(spark, v))
    assert(t.readTimestamp(spark, System.currentTimeMillis()).count() == 2)
  }

  test("bucketed: a merge killed after its manifest file is invisible to time travel, history and routing") {
    val root = tmp("bmanifest")
    val t = new BucketedSnapshotTable(root, numBuckets = 4, keys = Seq("k"))
    t.scd1Merge(spark, Seq((1L, 1L, "a")).toDF("k", "seq", "v"), "seq")
    t.scd1Merge(spark, Seq((2L, 1L, "b")).toDF("k", "seq", "v"), "seq")
    TestHooks.onStep(t, s => if (s == "manifest_file") throw new Boom)
    intercept[Boom](t.scd1Merge(spark, Seq((3L, 1L, "c")).toDF("k", "seq", "v"), "seq"))
    TestHooks.onStep(t, _ => ())
    assert(t.currentVersion(spark).contains(2))
    onlyCommitted(2, t.versionAt(spark, _),
      t.history(spark).select("version").as[Int].collect().toSeq,
      v => t.readVersion(spark, v))
    assert(t.readTimestamp(spark, System.currentTimeMillis()).count() == 2)
    // a torn manifest above the live version (no numBuckets line) does not
    // change what the SQL router sees
    val out = fs(root).create(new Path(root, "_manifest_v3"), true)
    try out.write("keys=k\n0\t_batch_v3\t3".getBytes("UTF-8")) finally out.close()
    assert(BucketedSnapshotTable.layoutOf(spark, root).map(_.numBuckets).contains(4))
  }

  test("bucketed manifest bytes: two merges and an ANALYZE write the pinned text") {
    val root = tmp("bgolden")
    val t = new BucketedSnapshotTable(root, numBuckets = 4, keys = Seq("k"))
    t.scd1Merge(spark, (1 to 4).map(i => (i.toLong, 1L, i * 10L)).toDF("k", "seq", "d"), "seq")
    t.scd1Merge(spark, Seq((1L, 2L, 11L), (5L, 1L, 50L)).toDF("k", "seq", "d"), "seq",
      txn = Some(("q", 7L)))
    new BucketedSnapshotTable(root, 4, Nil, statsCols = Seq("d")).analyze(spark)
    def text(v: Int) = {
      val in = fs(root).open(new Path(root, s"_manifest_v$v"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    assert(text(3) == Golden, s"manifest v3:\n${text(3)}")
  }

  private val Golden = Seq(
    "numBuckets=4",
    "keys=k",
    "statsCols=d",
    "txn:q=7",
    "schema:_batch_v1=k BIGINT,seq BIGINT,d BIGINT",
    "schema:_batch_v2=k BIGINT,seq BIGINT,d BIGINT",
    "0\t_batch_v2\t2",
    "1\t_batch_v2\t2",
    "3\t_batch_v1\t1").mkString("\n")

  test("tombstones are carried by reference: five appends after one delete leave one tombstone dir") {
    val t = new SnapshotTable(tmp("tombref"))
    t.write(spark, (1L to 4L).map(k => (k, "a")).toDF("k", "x"))
    t.deleteKeysVersioned(spark, Seq(2L).toDF("k"))
    (5L to 9L).foreach(k => t.append(spark, Seq((k, "b")).toDF("k", "x")))
    val tombs = new java.io.File(t.root).list().filter(_.startsWith("_tomb_v"))
    assert(tombs.toSeq == Seq("_tomb_v2"), tombs.toSeq)
    assert(t.read(spark).select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 4L, 5L, 6L, 7L, 8L, 9L))
    assert(t.readVersion(spark, 1).count() == 4)
  }
}
