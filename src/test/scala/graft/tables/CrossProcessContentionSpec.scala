package graft.tables

import org.scalatest.funsuite.AnyFunSuite

/** Cross-PROCESS commit contention (VERDICT r5 #3): two separate JVMs —
  * this test's SparkSession and a forked [[ContentionWorker]] process —
  * race `append` commits on one SnapshotTable root. In-process thread
  * schedules (CommitLockSpec, SnapshotTableProps) can't exercise this:
  * the per-root JVM monitor that backstops LocalFileSystem's
  * check-then-act `create(overwrite=false)` does not exist across
  * processes, so the `_lock` file protocol (token read-back + conditional
  * steal) is the ONLY serialization — exactly a real two-driver
  * deployment. Asserts one winner per version and no lost update.
  */
class CrossProcessContentionSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  private val N = 6 // commits per side

  /** Fork a ContentionWorker JVM on `root`/`sync` in `mode`, run `body`
    * (the parent's half of the race) once the handshake completes, and
    * assert the child exits 0. */
  private def raceAgainstChild(root: String, sync: String, mode: String)
      (body: => Unit): Unit = {
    // child JVM: same classpath as this forked test JVM; the add-opens set
    // Spark 4 needs on JDK 17 (mirrors build.sbt's jdk17AddOpens)
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(
      s"${System.getProperty("java.home")}/bin/java", "-Xmx3g",
      "-Dspark.ui.enabled=false") ++ addOpens ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.tables.ContentionWorker", root, sync, "B", N.toString, mode)
    val child = new ProcessBuilder(cmd: _*).inheritIO().start()
    try {
      // handshake: wait for the child's session, then release both sides
      val ready = java.nio.file.Paths.get(sync, "ready_B")
      val deadline = System.currentTimeMillis() + 120000
      while (!java.nio.file.Files.exists(ready)) {
        assert(System.currentTimeMillis() < deadline, "child session never came up")
        assert(child.isAlive, "child died before ready")
        Thread.sleep(50)
      }
      java.nio.file.Files.createFile(java.nio.file.Paths.get(sync, "go"))

      body

      assert(child.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
        "child did not finish")
      assert(child.exitValue() == 0, s"child failed with ${child.exitValue()}")
    } finally if (child.isAlive) child.destroyForcibly()
  }

  test("two JVMs racing appendTxn: linear history, one winner per version, no lost update") {
    val work = java.nio.file.Files.createTempDirectory("xproc").toString
    val root = s"$work/t"
    val sync = s"$work/sync"
    new java.io.File(sync).mkdirs()

    val t = new SnapshotTable(root)
    t.write(spark, Seq(("seed", 0)).toDF("worker", "seq")) // v1

    raceAgainstChild(root, sync, "append") {
      for (seq <- 1 to N)
        t.append(spark, Seq(("A", seq)).toDF("worker", "seq"))
    }

    // no lost update: every one of the 2N+1 committed rows is present once
    val rows = t.read(spark).as[(String, Int)].collect().toSeq.sorted
    val expected = (("seed", 0) +: (1 to N).flatMap(s => Seq(("A", s), ("B", s)))).sorted
    assert(rows == expected, s"lost/duplicated commits: $rows")

    // linear history: exactly one version per commit, each readable with
    // monotonically growing row count (one winner per version, no gaps)
    assert(t.currentVersion(spark) == Some(2 * N + 1))
    val sizes = (1 to 2 * N + 1).map(v => t.readVersion(spark, v).count())
    assert(sizes == (1 to 2 * N + 1).map(_.toLong),
      s"non-linear version history: $sizes")
  }

  test("reader JVM during append+compact: every read resolves a complete committed snapshot") {
    // VERDICT r6 #5: CrossProcessContentionSpec raced writers; a READER
    // resolving `_current` mid-compaction across processes was untested.
    // The child JVM reads in a tight loop (pointer resolve + manifest
    // resolve + full scan + prefix-completeness check) while this JVM
    // interleaves appends with optimizeCompact (the q228 path, which
    // rewrites small files and re-references the rest in its manifest).
    // The child exits 0 only if every read saw the seed row, a gapless
    // append prefix, and a never-shrinking row count.
    val work = java.nio.file.Files.createTempDirectory("xprocr").toString
    val root = s"$work/t"
    val sync = s"$work/sync"
    new java.io.File(sync).mkdirs()

    val t = new SnapshotTable(root)
    t.write(spark, Seq(("seed", 0)).toDF("worker", "seq")) // v1

    raceAgainstChild(root, sync, "read") {
      for (seq <- 1 to N) {
        t.append(spark, Seq(("A", seq)).toDF("worker", "seq"))
        // compact every other commit: bin-packs ALL files so far (they are
        // tiny), so readers keep crossing fresh manifests mid-flight
        if (seq % 2 == 0) t.optimizeCompact(spark, targetBytes = 1L << 20)
      }
      java.nio.file.Files.createFile(java.nio.file.Paths.get(sync, "done"))
    }

    // final state intact after the read storm
    val rows = t.read(spark).as[(String, Int)].collect().toSeq.sorted
    assert(rows == (("seed", 0) +: (1 to N).map(("A", _))).sorted, rows.toString)
  }

  test("two JVMs racing scd1Merge on a bucketed table: all merges land, shared key LWW by op_seq") {
    val work = java.nio.file.Files.createTempDirectory("xprocm").toString
    val root = s"$work/t"
    val sync = s"$work/sync"
    new java.io.File(sync).mkdirs()

    // the parent stamps even op_seq (2i), the child odd (2i-1): whatever
    // the cross-process interleaving, last-write-wins resolves the shared
    // key by op_seq, so the final state is deterministic
    val t = new BucketedSnapshotTable(root, 8, Seq("k"))
    raceAgainstChild(root, sync, "merge") {
      for (i <- 1 to N)
        t.scd1Merge(spark,
          Seq((s"A-$i", 2 * i), ("shared", 2 * i)).toDF("k", "op_seq"), "op_seq")
    }

    // no lost merge: every per-side key present exactly once at its own
    // op_seq; the shared key carries the global max (parent's final stamp)
    val rows = t.read(spark).as[(String, Int)].collect().toMap
    assert(rows.size == 2 * N + 1, s"lost merges: $rows")
    for (i <- 1 to N) {
      assert(rows(s"A-$i") == 2 * i)
      assert(rows(s"B-$i") == 2 * i - 1)
    }
    assert(rows("shared") == 2 * N, s"shared key must resolve to max op_seq: $rows")

    // linear history: 2N merge commits, one manifest version each
    assert(t.currentVersion(spark) == Some(2 * N))
  }
}
