package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DataType, StringType, StructType}

import graft.tables.MetaIO

/** Streaming file ingestion with schema persistence + rescue — the
  * Autoloader surface the reference's silver layer uses
  * (silver_Dimensions.py:25-29: `cloudFiles` + `schemaLocation` +
  * `schemaEvolutionMode=rescue`), built on Spark's own file stream source,
  * which is exactly the mechanism Autoloader wraps (SURVEY.md §2.1 S3).
  *
  *  - C1: `Trigger.AvailableNow` — drain all new files, then stop (the
  *    modern form of the reference's `trigger(once=True)`).
  *  - C2: the file-source checkpoint gives exactly-once file tracking;
  *    re-running never reprocesses consumed bronze files.
  *  - C3: first run infers the schema from the files present and persists
  *    it to `schemaDir/schema.json`; later runs read with the persisted
  *    schema and pack any *new* columns into a `_rescued_data` JSON string
  *    column instead of failing (rescue mode). We deliberately normalize
  *    the reference's quirks: no misspelled option fallback, and schema
  *    dir ≠ checkpoint dir (SURVEY §7.4).
  *
  * Scale: file listing + schema live on the driver once per trigger; data
  * flows through executors with the vectorized parquet reader. For very
  * large directories, `maxFilesPerTrigger` bounds per-batch work.
  */
object AutoIngest {

  case class Config(
      sourceDir: String,
      schemaDir: String,
      checkpointDir: String,
      rescue: Boolean = true,
      maxFilesPerTrigger: Option[Int] = None,
      failAndEvolve: Boolean = false)

  /** The Autoloader-default (`addNewColumns`) evolution signal: the stream
    * failed BEFORE consuming anything because new columns appeared; the
    * persisted schema has already been evolved, so a restart proceeds with
    * the new columns — the fail/evolve/restart cycle the reference's
    * default-mode streams run (silver_Dimensions.py:109-110, the misspelled
    * option makes `rescue` fall back to this mode — SURVEY §1.3 quirk). */
  final class SchemaEvolvedException(val newColumns: Seq[String])
    extends RuntimeException(
      s"schema evolved: new columns ${newColumns.mkString(", ")} persisted; restart the stream")

  private def schemaFile(spark: SparkSession, cfg: Config) = {
    val file = new Path(cfg.schemaDir, "schema.json")
    (file.getFileSystem(spark.sparkContext.hadoopConfiguration), file)
  }

  /** The persisted schema if one exists. */
  private def persistedSchema(spark: SparkSession, cfg: Config): Option[StructType] = {
    val (fs, file) = schemaFile(spark, cfg)
    MetaIO.read(fs, file).map(DataType.fromJson(_).asInstanceOf[StructType])
  }

  /** Load the persisted schema, inferring + persisting on first contact.
    * Inference merges ALL files' footers (a one-footer sample would miss
    * columns only some files carry — the exact rescue case). */
  def loadOrInferSchema(spark: SparkSession, cfg: Config): StructType =
    persistedSchema(spark, cfg).getOrElse {
      val inferred = spark.read.option("mergeSchema", "true").parquet(cfg.sourceDir).schema
      persistSchema(spark, cfg, inferred)
      inferred
    }

  private def persistSchema(spark: SparkSession, cfg: Config, schema: StructType): Unit = {
    val (fs, file) = schemaFile(spark, cfg)
    MetaIO.replace(fs, file, schema.json)
  }

  /** S3 — open the incremental file stream over `sourceDir`, with rescue
    * handling for columns that appeared after the schema was persisted —
    * or, with `failAndEvolve`, the Autoloader-default cycle: persist the
    * evolved schema and throw before the stream starts (nothing consumed,
    * so no data loss), succeed on restart with the new columns typed. */
  def readStream(spark: SparkSession, cfg: Config): DataFrame = {
    // Rescue probe: what do the files actually carry right now?
    // mergeSchema=true — a single-footer sample would miss columns that
    // only newer files carry (exactly the rescue case). At FIRST contact
    // the freshly-inferred schema IS that probe (same mergeSchema read),
    // so the footer pass runs once, not twice, per fresh stream.
    val (persisted, extras) = persistedSchema(spark, cfg) match {
      case Some(p) =>
        val actual = spark.read.option("mergeSchema", "true").parquet(cfg.sourceDir).schema
        (p, actual.fields.filterNot(f => p.fieldNames.contains(f.name)))
      case None =>
        val inferred = spark.read.option("mergeSchema", "true").parquet(cfg.sourceDir).schema
        persistSchema(spark, cfg, inferred)
        (inferred, Array.empty[org.apache.spark.sql.types.StructField])
    }

    if (cfg.failAndEvolve && extras.nonEmpty) {
      persistSchema(spark, cfg, StructType(persisted.fields ++ extras))
      throw new SchemaEvolvedException(extras.toSeq.map(_.name))
    }

    val readSchema = StructType(persisted.fields ++ extras)
    val reader = spark.readStream.schema(readSchema)
    val withOpts = cfg.maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n)).getOrElse(reader)
    val raw = withOpts.parquet(cfg.sourceDir)

    if (cfg.failAndEvolve || !cfg.rescue) raw
    else if (extras.isEmpty) raw.withColumn("_rescued_data", lit(null).cast(StringType))
    else raw
      .withColumn("_rescued_data", to_json(struct(extras.toSeq.map(f => col(f.name)): _*)))
      .drop(extras.toSeq.map(_.name): _*)
  }

  /** K3/C1 — run one drain-and-stop append into a parquet sink. Blocks
    * until the trigger completes; idempotent across reruns via the
    * checkpoint. Returns the sink path. */
  def appendOnce(df: DataFrame, sinkPath: String, checkpointDir: String): String = {
    val q = df.writeStream
      .format("parquet")
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .option("path", sinkPath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    sinkPath
  }

  /** C4/C5 plumbing — run one drain-and-stop pass delivering each
    * micro-batch to `fn` (used by the gold SCD sinks). */
  def foreachBatchOnce(df: DataFrame, checkpointDir: String)(
      fn: (DataFrame, Long) => Unit): Unit = {
    val q = df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(fn)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
