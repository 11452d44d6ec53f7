package graft.gold

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.cdc.ScdMerge
import graft.ops.{Expectation, Expectations}
import graft.streaming.AutoIngest
import graft.tables.SnapshotTable

/** Declarative gold-layer registry + runner — the DLT surface the
  * reference's gold layer uses (K4/C9): `create_streaming_table` +
  * `create_auto_cdc_flow` + expectations, executed in dependency order
  * with retries (readme.md:121-122 "checkpointing, retries, lineage").
  *
  * Each [[GoldTable]] is one declared streaming target: a silver source
  * directory feeds a `foreachBatch` SCD merge into a [[SnapshotTable]].
  */
case class GoldTable(
    name: String,
    silverPath: String,
    keys: Seq[String],
    sequenceBy: String,
    scdType: Int, // 1 (fact, DimUser FactStream.py:17) or 2 (dims, DimUser.py:27)
    expectations: Seq[Expectation] = Nil,
    tieBreak: Seq[Column] = Nil,
    dependsOn: Seq[String] = Nil,
    // DLT `apply_as_deletes` analog: batch rows matching this predicate
    // are sequence-ordered tombstones (SCD1 removes the key, SCD2 stores
    // a __DELETED version closing the chain — see ScdMerge). Plain
    // snapshot targets only.
    applyAsDeletes: Option[Column] = None,
    // > 0 ⇒ the target is a hash-bucketed snapshot (merge rewrites only
    // affected buckets — the 100 TB path; see BucketedSnapshotTable).
    // 0 ⇒ plain whole-snapshot commits (reference-scale parity).
    numBuckets: Int = 0,
    // When set, the stage streams from this CATALOG NAME via
    // `spark.readStream.table` — the reference's DLT source form
    // (`spark.readStream.table("...silver...")`, DimUser.py:10) — with the
    // schema resolved by the catalog. When None, it streams from
    // `silverPath` directly (schema-inference + rescue path).
    silverTable: Option[String] = None)

/** A MATERIALIZED VIEW maintained DECLARATIVELY by the pipeline — the
  * reference's gold tables are declaratively maintained DLT objects
  * (Databrick/spotify_dab/src/gold/dlt/transformations/DimUser.py:7-29);
  * this node gives the engine's incrementally-maintained views the same
  * lifecycle: declare once, and every `runOnce` pass REFRESHES the view
  * (O(changed groups), exactly-once via its own ledger) after its
  * dependency tables have merged, in the same DAG order with the same
  * retry wrapper. `root` names an EXISTING view of any kind
  * (single/join/star — dispatched on its spec file, like the SQL
  * surface); `dependsOn` names the pipeline nodes whose outputs the
  * view's sources read. `registerRewrite` additionally (re-)registers
  * transparent routing after each refresh, so dashboard queries route
  * the moment the pass completes. */
case class GoldView(
    name: String,
    root: String,
    dependsOn: Seq[String] = Nil,
    registerRewrite: Boolean = false)

final class GoldPipeline(goldDir: String, checkpointRoot: String) {

  private var registry = Vector.empty[GoldTable]
  private var viewRegistry = Vector.empty[GoldView]

  def declare(t: GoldTable): this.type = { registry :+= t; this }

  /** Declare a materialized view as a pipeline node (see [[GoldView]]). */
  def declareView(v: GoldView): this.type = { viewRegistry :+= v; this }

  def tables: Seq[GoldTable] = registry

  def views: Seq[GoldView] = viewRegistry

  def snapshot(name: String) = new SnapshotTable(s"$goldDir/$name")

  def bucketedSnapshot(t: GoldTable) =
    new graft.tables.BucketedSnapshotTable(s"$goldDir/${t.name}", t.numBuckets, t.keys)

  /** Read the live gold table regardless of its storage form. */
  def readTable(spark: SparkSession, name: String): DataFrame = {
    val t = registry.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"gold table $name not declared"))
    if (t.numBuckets > 0) bucketedSnapshot(t).read(spark)
    else snapshot(name).read(spark)
  }

  /** Kahn topo order over `dependsOn`, TABLES and VIEWS in one namespace
    * (C9 — DLT resolves the DAG for us; here it is explicit and
    * deterministic): a view refreshes strictly after every node it
    * depends on ran this pass. */
  private def topoOrder: Seq[Either[GoldTable, GoldView]] = {
    val byName: Map[String, Either[GoldTable, GoldView]] =
      (registry.map(t => t.name -> Left(t)) ++
        viewRegistry.map(v => v.name -> Right(v))).toMap
    require(byName.size == registry.size + viewRegistry.size,
      "gold DAG: duplicate node name across tables/views")
    val visited = scala.collection.mutable.LinkedHashSet.empty[String]
    def visit(n: String, path: List[String]): Unit = {
      if (path.contains(n)) throw new IllegalStateException(s"gold DAG cycle: ${(n :: path).reverse.mkString(" -> ")}")
      if (!visited.contains(n)) {
        byName(n).fold(_.dependsOn, _.dependsOn).foreach(visit(_, n :: path))
        visited += n
      }
    }
    (registry.map(_.name) ++ viewRegistry.map(_.name)).foreach(visit(_, Nil))
    visited.toSeq.map(byName)
  }

  /** Run one AvailableNow pass over every declared node in DAG order:
    * tables stream expectations → SCD merge → atomic snapshot commit;
    * declared materialized views REFRESH incrementally after their
    * dependencies (and re-register transparent routing when asked).
    * Retries: each node gets `maxRetries` fresh attempts (the stream
    * checkpoint / the view's exactly-once ledger make a retry resume,
    * not reprocess). */
  /** Fault-injection seam for pipeline crash/retry gates: invoked with
    * the node's name immediately before each run ATTEMPT (inside the
    * retry wrapper) — a hook that throws simulates a failure landing
    * between two nodes' refreshes; with retries exhausted the pass
    * aborts mid-DAG, and the NEXT `runOnce` must converge through the
    * stages' own idempotency (stream checkpoints / view ledgers). */
  private[graft] var onNode: String => Unit = _ => ()

  def runOnce(spark: SparkSession, maxRetries: Int = 2): Unit = {
    topoOrder.foreach { node =>
      val name = node.fold(_.name, _.name)
      var attempt = 0
      var done = false
      while (!done) {
        try {
          onNode(name)
          node.fold(runTable(spark, _), refreshView(spark, _)); done = true
        }
        catch {
          case e: Exception if attempt < maxRetries =>
            attempt += 1
            org.apache.log4j.Logger.getLogger(getClass)
              .warn(s"gold $name: attempt $attempt failed (${e.getMessage}); retrying")
        }
      }
    }
  }

  /** One declarative maintenance step for a [[GoldView]]: incremental
    * refresh (kind dispatched on the spec file), then optional routing
    * (re-)registration. Idempotent — a replayed pass no-ops on the
    * view's ledger, the same property the table stages get from their
    * stream checkpoints. */
  private def refreshView(spark: SparkSession, v: GoldView): Unit = {
    val x = graft.tables.openView(spark, v.root)
    x.refresh(spark)
    if (v.registerRewrite) x.registerRewrite(spark)
  }

  private def runTable(spark: SparkSession, t: GoldTable): Unit = {
    val cfg = AutoIngest.Config(
      sourceDir = t.silverPath,
      schemaDir = s"$checkpointRoot/${t.name}/_schema",
      checkpointDir = s"$checkpointRoot/${t.name}/_checkpoint",
      rescue = false)
    // S4 API parity: a declared catalog name streams via readStream.table
    // (catalog-resolved schema); otherwise the directory path streams with
    // schema inference + rescue.
    val source = t.silverTable match {
      case Some(name) => spark.readStream.table(name)
      case None       => AutoIngest.readStream(spark, cfg)
    }
    // Expectations are attached to the *streaming* DataFrame (not inside
    // foreachBatch) so their observe() metrics surface through
    // StreamingQueryListener.observedMetrics per micro-batch — the DLT
    // expectations-UI analog (C6).
    val stream = Expectations.expectAllOrDrop(
      source, t.expectations, s"quality_${t.name}")
    if (t.numBuckets > 0) {
      // bucketed target: the merge itself prunes to affected buckets
      // (delete flows included — the schema-evolving bucket read
      // null-fills __DELETED for untouched buckets, no migration commit)
      val target = bucketedSnapshot(t)
      AutoIngest.foreachBatchOnce(stream, cfg.checkpointDir) { (clean, _) =>
        if (t.scdType == 2)
          target.scd2Merge(spark, clean, t.sequenceBy, t.tieBreak, t.applyAsDeletes)
        else
          target.scd1Merge(spark, clean, t.sequenceBy, t.tieBreak, t.applyAsDeletes)
        ()
      }
    } else {
      val target = snapshot(t.name)
      AutoIngest.foreachBatchOnce(stream, cfg.checkpointDir) { (clean, _) =>
        val merged =
          if (t.scdType == 2)
            ScdMerge.scd2Merge(target.readOption(spark), clean, t.keys,
              t.sequenceBy, t.tieBreak, Nil, t.applyAsDeletes)
          else
            ScdMerge.scd1Upsert(target.readOption(spark), clean, t.keys,
              t.sequenceBy, t.tieBreak, t.applyAsDeletes)
        target.write(spark, merged)
      }
    }
  }
}
