package graft.tables

import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, FilterFileSystem, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

/** The crash-safe metadata replace every small metadata file goes
  * through: stage the text whole, delete the target (the commit point),
  * rename; a reader reads `<name>.next` when the target is missing and
  * moves only an older writer's `<name>.tmp` into place. */
class MetaIOSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  private def dir(): Path =
    new Path(java.nio.file.Files.createTempDirectory("metaio").toString)

  private def fsOf(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def put(f: FileSystem, p: Path, text: String): Unit = {
    val out = f.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** Names in `d`, checksum sidecars excluded. */
  private def names(f: FileSystem, d: Path): Set[String] =
    f.listStatus(d).map(_.getPath.getName).filterNot(_.endsWith(".crc")).toSet

  test("replace round-trips a first write and an overwrite, leaving no tmp behind") {
    val d = dir(); val f = fsOf(d); val p = new Path(d, "meta")
    assert(MetaIO.read(f, p).isEmpty)
    MetaIO.replace(f, p, "one")
    assert(MetaIO.read(f, p).contains("one"))
    MetaIO.replace(f, p, "two\nlines")
    assert(MetaIO.read(f, p).contains("two\nlines"))
    assert(names(f, d) == Set("meta"))
  }

  test("a missing target adopts an older writer's tmp; a crash past the commit point reads as committed") {
    val d = dir(); val f = fsOf(d); val p = new Path(d, "meta")
    // the older writers staged in `<name>.tmp`: a crash after their
    // commit point left only it, and a read moves it into place
    put(f, new Path(d, "meta.tmp"), "leftover")
    assert(MetaIO.read(f, p).contains("leftover"))
    assert(names(f, d) == Set("meta"))
    // a crash after this protocol's commit point (the delete) leaves only
    // `meta.next`: read as it stands, healed by the next replace
    intercept[ArithmeticException](MetaIO.replace(f, p, "new", () => throw new ArithmeticException))
    assert(!f.exists(p) && f.exists(new Path(d, "meta.next")))
    assert(MetaIO.read(f, p).contains("new"))
    assert(names(f, d) == Set("meta.next"), "a reader never moves meta.next")
    MetaIO.replace(f, p, "healed")
    assert(MetaIO.read(f, p).contains("healed"))
    // a first write commits by its one rename: a crash right after it
    // leaves the whole text
    val q = new Path(d, "first")
    intercept[ArithmeticException](MetaIO.replace(f, q, "v1", () => throw new ArithmeticException))
    assert(MetaIO.read(f, q).contains("v1"))
  }

  test("stale tmps are ignored while the target exists, and the next replace removes them") {
    val d = dir(); val f = fsOf(d); val p = new Path(d, "meta")
    MetaIO.replace(f, p, "live")
    // crashes before the commit point, under the older and this protocol
    put(f, new Path(d, "meta.tmp"), "stale")
    put(f, new Path(d, "meta.next"), "stale")
    assert(MetaIO.read(f, p).contains("live"))
    MetaIO.replace(f, p, "next")
    assert(MetaIO.read(f, p).contains("next"))
    assert(names(f, d) == Set("meta"))
  }

  test("a reader mid-flip sees the new text; a rename that does not land fails by name") {
    val d = dir(); val f = fsOf(d); val p = new Path(d, "meta")
    MetaIO.replace(f, p, "v1")
    MetaIO.replace(f, p, "v2", () => assert(MetaIO.read(f, p).contains("v2")))
    assert(MetaIO.read(f, p).contains("v2"))
    val e = intercept[IllegalStateException] {
      MetaIO.replace(f, p, "v3", () => f.delete(new Path(d, "meta.next"), false))
    }
    assert(e.getMessage.contains(p.toString), e.getMessage)
  }

  /** `under` with a hook run before each `open`, `delete` and `rename`. */
  private class Hooked(under: FileSystem, onOpen: Path => Unit = _ => (),
      onDelete: Path => Unit = _ => (), onRename: Path => Unit = _ => ())
      extends FilterFileSystem(under) {
    override def open(p: Path, bufferSize: Int): FSDataInputStream = {
      onOpen(p); super.open(p, bufferSize)
    }
    override def delete(p: Path, recursive: Boolean): Boolean = {
      onDelete(p); super.delete(p, recursive)
    }
    override def rename(src: Path, dst: Path): Boolean = {
      onRename(src); super.rename(src, dst)
    }
  }

  /** A reader whose filesystem renames over an existing file, as POSIX
    * does (the checksummed local FS refuses): a reader that moved a file
    * at the wrong moment would clobber the target. The reader pauses
    * when it first opens or renames the file named `pauseOn`. */
  private def pausedReader(p: Path, pauseOn: String)
      : (Thread, java.util.concurrent.CountDownLatch, java.util.concurrent.CountDownLatch,
        () => Option[String]) = {
    val paused, resume = new java.util.concurrent.CountDownLatch(1)
    @volatile var seen: Option[String] = None
    val raw = new RawLocalFileSystem()
    raw.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val hook: Path => Unit = q => if (q.getName == pauseOn) { paused.countDown(); resume.await() }
    val r = new Hooked(raw, onOpen = hook, onRename = hook)
    (new Thread(() => seen = MetaIO.read(r, p)), paused, resume, () => seen)
  }

  test("a reader paused before reading meta.next never takes a later replace's text") {
    val d = dir(); val f = fsOf(d); val p = new Path(d, "meta")
    MetaIO.replace(f, p, "1")
    val (reader, paused, resume, seen) = pausedReader(p, "meta.next")
    // writer A: the reader finds the target missing mid-flip and pauses
    // before reading A's `meta.next`; A's rename then lands
    MetaIO.replace(f, p, "2", () => { reader.start(); paused.await() })
    // writer B: its `meta.next` is in place and the target still holds
    // "2"; the reader resumes right before B's commit point and finishes
    MetaIO.replace(new Hooked(f, onDelete = q => if (q.getName == "meta") {
      resume.countDown(); reader.join()
    }), p, "3")
    assert(seen().contains("2"), "read a replace that had not committed")
    assert(MetaIO.read(f, p).contains("3"))
    assert(names(f, d) == Set("meta"))
  }

  test("a reader paused before moving an older writer's tmp never moves it over a later replace") {
    val d = dir(); val f = fsOf(d); val p = new Path(d, "meta")
    put(f, new Path(d, "meta.tmp"), "old")
    val (reader, paused, resume, seen) = pausedReader(p, "meta.tmp")
    reader.start(); paused.await()
    MetaIO.replace(f, p, "new")
    resume.countDown(); reader.join()
    assert(seen().contains("new"))
    assert(MetaIO.read(f, p).contains("new"))
    assert(names(f, d) == Set("meta"))
  }

  test("a CDF consumer whose checkpoint exists only as its tmp resumes from that version") {
    val d = dir(); val f = fsOf(d)
    val t = new BucketedSnapshotTable(new Path(d, "t").toString, numBuckets = 2, keys = Seq("k"))
    t.scd1Merge(spark, Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("k", "seq", "v"), "seq")
    val ck = new Path(d, "ck")
    assert(t.consumeChanges(spark, ck.toString)(_ => ()) == 1)
    t.scd1Merge(spark, Seq((2L, 2L, "b2")).toDF("k", "seq", "v"), "seq")
    f.rename(ck, new Path(d, "ck.tmp")) // crash mid-replace of the checkpoint
    var window = (-1, -1)
    var rows = 0L
    assert(t.consumeChangesVersioned(spark, ck.toString) { (feed, from, to) =>
      window = (from, to); rows = feed.filter($"_change_type" === "insert").count()
    } == 2)
    assert(window == ((1, 2)), "re-bootstrapped instead of resuming")
    assert(rows == 0)
    assert(MetaIO.read(f, ck).contains("2"))
  }
}
