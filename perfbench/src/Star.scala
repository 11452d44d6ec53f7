package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.ScdMerge
import graft.ingest.TableSpec
import graft.ops.Expectation
import graft.pipeline.{Medallion, MedallionTable}
import graft.tables.{BucketedSnapshotTable, MaterializedAggView, MaterializedJoinAggView}

/** One medallion deployment of the benchmark's star in its own work dir:
  * source landing, the engine's pipeline (`Medallion.run`), the two
  * incrementally maintained views with routing, and the DataFrame reads
  * the dashboard issues. Only the engine's public entry points are used. */
final class Star(spark: SparkSession, val work: String, seed: Long, sizes: Gen.Sizes) {

  val gen = new Gen(seed, sizes)
  val med = new Medallion(work)
  private val sourceDir = s"$work/source"
  private val stageDir = s"$work/stage"

  val tables: Seq[MedallionTable] = Seq(
    MedallionTable(TableSpec("tpch", "lineitem", "l_updated_at"),
      keys = Seq("orderkey", "linenumber"), scdType = 1, numBuckets = 4),
    MedallionTable(TableSpec("tpch", "orders", "o_updated_at"),
      keys = Seq("orderkey"), scdType = 1, numBuckets = 2),
    MedallionTable(TableSpec("tpch", "customer", "updated_at"),
      keys = Seq("custkey"), scdType = 2, numBuckets = 2,
      expectations = Seq(Expectation("segment_not_null", "segment IS NOT NULL"))),
    // silver only, like the reference's DimArtist
    MedallionTable(TableSpec("tpch", "supplier", "updated_at"),
      keys = Seq("suppkey"), scdType = 1, goldEnabled = false))

  private def gold(name: String): BucketedSnapshotTable = {
    val t = tables.find(_.spec.table == name).get
    new BucketedSnapshotTable(s"${med.goldDir}/$name", t.numBuckets, t.keys)
  }
  val fact = gold("lineitem")
  val orders = gold("orders")
  val customer = gold("customer")
  def goldTables: Seq[BucketedSnapshotTable] = Seq(fact, orders, customer)

  val mvFactRoot = s"$work/mv/lineitem_by_mode"
  val mvJoinRoot = s"$work/mv/lineitem_orders_by_priority"
  lazy val mvFact = new MaterializedAggView(mvFactRoot)
  lazy val mvJoin = new MaterializedJoinAggView(mvJoinRoot)

  /** round → (fact version after it, oracle (count, sum(price)) then). */
  val versions = mutable.LinkedHashMap.empty[Int, (Int, (Long, Long))]

  /** Write an increment as one parquet file per table under the staging
    * dir (not yet visible to the pipeline: [[land]] moves it into the
    * source). Written with parquet-mr directly, not through Spark, so
    * staging runs no Spark job. */
  def stage(inc: Increment): Unit = {
    def put(name: String, rows: Seq[Product]): Unit =
      Star.writeParquet(spark.sparkContext.hadoopConfiguration,
        s"$stageDir/${inc.round}/$name/part-0.parquet", name, rows)
    put("lineitem", inc.allLines)
    put("orders", inc.orders)
    put("customer", inc.customers)
    put("supplier", inc.suppliers)
  }

  /** The increment lands at the source: one rename per staged file.
    * Returns the bytes landed. */
  def land(round: Int): Long = {
    var bytes = 0L
    tables.map(_.spec.table).foreach { name =>
      val to = Paths.get(s"$sourceDir/$name")
      Files.createDirectories(to)
      val files = Files.list(Paths.get(s"$stageDir/$round/$name"))
      try files.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).zipWithIndex.foreach {
          case (f, i) =>
            bytes += Files.size(f)
            Files.move(f, to.resolve(f"r$round%05d-$i.parquet"), StandardCopyOption.ATOMIC_MOVE)
        } finally files.close()
    }
    Bench.deleteTree(Paths.get(s"$stageDir/$round"))
    bytes
  }

  def runTs(round: Int): String = f"r$round%05d"

  def medallion(round: Int): Unit =
    med.run(spark, tables, t => s"$sourceDir/$t", runTs(round))

  def createViews(): Unit = {
    val agg = MaterializedAggView.Agg
    MaterializedAggView.create(spark, mvFactRoot, fact.root, Nil,
      Seq("shipmode", "returnflag"),
      Seq(agg("count", None, "n"), agg("sum", Some("price"), "revenue"),
        agg("count_distinct", Some("partkey"), "parts")), numBuckets = 2)
    MaterializedJoinAggView.create(spark, mvJoinRoot, fact.root, Nil, orders.root, Nil,
      Seq("orderkey"), Seq("orderpriority"),
      Seq(agg("count", None, "n"), agg("sum", Some("price"), "revenue")), numBuckets = 2)
  }

  def registerRouting(): Unit = { mvFact.registerRewrite(spark); mvJoin.registerRewrite(spark) }

  /** Whether an optimized plan reads a view's state (rollup partial or
    * distinct-pair columns) instead of gold. */
  def routed(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    Star.ViewColumn.findFirstIn(plan.toString).isDefined

  // ── reads ────────────────────────────────────────────────────────────

  def factDf: DataFrame = ScdMerge.scd1Current(fact.readIndexed(spark))
  def ordersDf: DataFrame = ScdMerge.scd1Current(orders.readIndexed(spark))

  /** The round's routed query: the single-table view at its own grain. */
  def viewGrainQuery(mode: Option[String]): DataFrame = {
    val f = mode.fold(factDf)(m => factDf.filter(col("shipmode") === m))
    f.groupBy("shipmode", "returnflag").agg(count(lit(1)).as("n"),
      sum("price").as("revenue"), countDistinct("partkey").as("parts"))
  }

  /** Fact ⋈ orders at the join view's grain. */
  def joinQuery: DataFrame = factDf.join(ordersDf, "orderkey").groupBy("orderpriority")
    .agg(count(lit(1)).as("n"), sum("price").as("revenue"))

  /** round → the oracle's live fact lines then, by orderkey. */
  val snapshots = mutable.HashMap.empty[Int, Map[Long, Iterable[LineRow]]]

  def record(round: Int): Unit = {
    versions(round) = (fact.currentVersion(spark).get, gen.factTotals)
    snapshots(round) = gen.lines.values.groupBy(_.orderkey)
  }

  /** Bytes of the gold fact's files on disk and of those the live
    * manifest references. */
  def factBytes(): (Long, Long) = {
    val root = Paths.get(fact.root)
    val all = Bench.files(root)
    val live = fact.manifest(spark).toSeq.flatMap { case (b, dir) =>
      val p = root.resolve(dir).resolve(s"__bucket=$b")
      if (Files.isDirectory(p)) Bench.files(p).filter(_._1.endsWith(".parquet")) else Nil
    }
    (all.map(_._2).sum, live.map(_._2).sum)
  }
}

object Star {
  private val ViewColumn = "__(cnt|dval|dc_|sum_|nn_)".r

  /** Case-class rows as a parquet file, typed as Spark's encoders would
    * type them: primitives required, strings and timestamps (UTC micros)
    * optional. */
  def writeParquet(conf: org.apache.hadoop.conf.Configuration, path: String, name: String,
      rows: Seq[Product]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.ParquetFileWriter
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    require(rows.nonEmpty, s"empty $name increment")
    val head = rows.head
    val fields = head.productElementNames.map { n =>
      head.getClass.getDeclaredField(n).getType match {
        case java.lang.Long.TYPE => s"required int64 $n;"
        case java.lang.Integer.TYPE => s"required int32 $n;"
        case c if c == classOf[String] => s"optional binary $n (STRING);"
        case c if c == classOf[java.sql.Timestamp] => s"optional int64 $n (TIMESTAMP(MICROS,true));"
      }
    }
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType(s"message $name { ${fields.mkString(" ")} }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path)).withConf(conf)
      .withType(schema).withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = groups.newGroup()
      r.productElementNames.zip(r.productIterator).foreach {
        case (_, null) => ()
        case (n, v: Long) => g.append(n, v)
        case (n, v: Int) => g.append(n, v)
        case (n, v: String) => g.append(n, v)
        case (n, v: java.sql.Timestamp) => g.append(n, v.getTime * 1000L)
        case (n, v) => throw new IllegalArgumentException(s"$name.$n: unsupported $v")
      }
      w.write(g)
    } finally w.close()
  }

  /** Normalized, order-free answer rows: numbers compare by value. */
  def canon(rows: Array[Row]): Vector[String] =
    rows.toVector.map(_.toSeq.map {
      case n: java.lang.Number => BigDecimal(n.toString).bigDecimal.stripTrailingZeros.toPlainString
      case null => "null"
      case x => x.toString
    }.mkString("|")).sorted
}
