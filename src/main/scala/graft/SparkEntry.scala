package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Relational
import graft.tables.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `queries` exercises one operator family from SURVEY.md §2
  * (reference file:line cited per query); `oracleSql` carries the DuckDB
  * equivalent for the driver's hash-compare at sf0.01.
  *
  * Determinism rules applied everywhere (so Spark output ≡ DuckDB output
  * bit-for-bit):
  *  - every query ends in a total ORDER BY over non-null keys;
  *  - money/double aggregations go through DECIMAL(18,2) (exact, order-
  *    independent) and emit DOUBLE at the edge;
  *  - DuckDB `regexp_replace` takes the 'g' flag to match Spark's
  *    replace-all semantics.
  */
object SparkEntry {

  /** Queries deliberately shipped without a DuckDB oracle (driver records a
    * rows-only check). EMPTY since r6: the ANN family (q30/q43/q61/q93/
    * q146/q222) is oracled via planted ground-truth nearest neighbors
    * ([[plantedAnnCorpus]]) and the sketch family (q55/q138) via
    * error-bound verdicts against exact counts — every gate query now has
    * a DuckDB-replayable expected result. */
  def rowsOnly: Set[String] = Set.empty

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q4_star_join")(spark, "/root/testdata/sf0.001")

  /** Streaming stages pin their own (smaller) shuffle parallelism: AQE
    * cannot coalesce shuffles inside a streaming query, and every stateful
    * shuffle partition is one state-store instance committing per batch —
    * at bench scale 8 stores beat 32 idle ones. Batch queries keep the
    * session default (AQE handles them). */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(f: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Planted-ground-truth ANN fixture (the q226 pattern, extended to the
    * top-k family): every query vector (vec_id < 100) gets a SAME-DIRECTION
    * scaled copy planted into the corpus at vec_id + 1000000. Positive
    * scaling is cosine-invariant, so it preserves every hyperplane sign
    * bit, every nearest-centroid assignment, and every PQ code EXACTLY
    * (up to ~1e-15 fp noise, 9 orders of magnitude below any decision
    * boundary here) — each ANN variant must therefore return the planted
    * copy as top-1 with cos = 1.000000, making the expected result
    * closed-form and DuckDB-replayable. A recall miss or ranking bug
    * surfaces as a different neighbor_id at cos ≤ ~0.9 — a hash mismatch,
    * not a silently-passing row count. Returns (queries, corpus), both
    * with columns (vec_id, v: array<double>). */
  private def plantedAnnCorpus(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val base = Tables.embeddings(s, dir)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
    val pert = base.filter($"vec_id" < 100)
      .select(($"vec_id" + 1000000L).as("vec_id"),
        transform($"v", x =>
          x * (lit(1.0) + (pmod($"vec_id", lit(7)) + 1) * lit(1e-3))).as("v"))
    (base.filter($"vec_id" < 100), base.unionByName(pert))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── A1/2.6: partial+final hash aggregation (TPC-H Q1 shape).
    //    Reference: MAX-watermark agg incremental_ingustion.json:213 is the
    //    only agg; we expose the full grouped-agg surface it implies.
    "q1_pricing_summary" -> ((s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          Relational.sumMoney($"l_quantity").as("sum_qty"),
          Relational.sumMoney($"l_extendedprice").as("sum_base_price"),
          sum(Relational.money($"l_extendedprice") *
            (lit(1).cast("decimal(18,2)") - Relational.money($"l_discount")))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    // ── F1/2.4: CDC watermark predicate pushed into the parquet scan.
    //    Reference: incremental_loop.json:45 (`WHERE cdc_col > '<wm>'`).
    "q2_cdc_filter" -> ((s, dir) => {
      import s.implicits._
      Tables.eventsSince(s, dir, "2024-01-15 00:00:00")
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .orderBy($"event_id")
    }),

    // ── P1–P4/2.3: projection/transform surface — upper+trim
    //    (silver_Dimensions.py:41, readme.md:91), regexp_replace (:154),
    //    when/otherwise bucketing (:151-153), drop (utils/transformations.py).
    "q3_transforms" -> ((s, dir) => {
      import s.implicits._
      val c = Tables.customer(s, dir)
      Relational.dropColumns(
        c.withColumn("name_clean", upper(trim(regexp_replace($"c_name", "#", "-"))))
          .withColumn("acctbal_flag",
            Relational.bucketize($"c_acctbal", Seq(0.0 -> "low", 5000.0 -> "medium"), "high")),
        Seq("c_nationkey", "c_name"))
        .select($"c_custkey", $"name_clean", $"c_mktsegment", $"acctbal_flag", $"c_acctbal")
        .orderBy($"c_custkey")
    }),

    // ── J2/2.5: star-schema analytical join chain (fact→dims), the join
    //    capability the dimensional model implies (initial_load.sql:26-53).
    //    Dims are broadcast (small side); lineitem⋈orders is the one
    //    genuine shuffle — exactly what a 1000-executor plan wants.
    "q4_star_join" -> ((s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir)
      val o  = Tables.orders(s, dir)
      val cu = Tables.customer(s, dir)
      val n  = Tables.nation(s, dir)
      val r  = Tables.region(s, dir)
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(cu), $"o_custkey" === $"c_custkey")
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .filter($"r_name" === "ASIA")
        .groupBy($"n_name")
        .agg(
          sum(Relational.money($"l_extendedprice") *
            (lit(1).cast("decimal(18,2)") - Relational.money($"l_discount")))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy($"n_name")
    }),

    // ── 2.5: left-semi join (EXISTS) — needed by the SCD2 rewrite.
    "q5_semi_join" -> ((s, dir) => {
      import s.implicits._
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    }),

    // ── 2.5: left-anti join (NOT EXISTS) — "keys not in batch" leg of SCD2.
    //    Right side filtered so the anti set is non-empty (customers with
    //    no pending 'P' order).
    "q6_anti_join" -> ((s, dir) => {
      import s.implicits._
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).filter($"o_orderstatus" === "P"),
          $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    }),

    // ── A1/2.6: global MAX watermark advance.
    //    Reference: incremental_ingustion.json:208-219, Queries.md:4-5.
    "q7_max_watermark" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir).agg(max($"ts").as("cdc"))
    }),

    // ── A2/2.6: per-key latest-by-sequence (auto-CDC batch dedup).
    //    Reference: DimUser.py:24 (sequence_by="updated_at").
    "q8_latest_by_key" -> ((s, dir) => {
      import s.implicits._
      Relational.latestByKey(Tables.events(s, dir),
          Seq("user_id"), col("ts"), Seq(col("event_id")))
        .select($"user_id", $"event_id", $"ts", $"event_type", $"value")
        .orderBy($"user_id")
    }),

    // ── D1/2.7: exact dedup by content fingerprint (canonical id per group).
    //    Reference: silver_Dimensions.py:50 (dropDuplicates on key); here
    //    keyed on md5(text) — the 100 TB-scale exact-dedup shape (hash,
    //    shuffle on fingerprint, min-id representative; no driver collect).
    "q9_dedup_exact" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .groupBy(md5($"text".cast("binary")).as("fp"))
        .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("dup_count"))
        .orderBy($"canonical_id")
    }),

    // ── D4/2.7: unionByName — the (closed ∪ opened ∪ untouched) leg of SCD2.
    "q10_union_agg" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir)
      e.filter($"event_type" === "purchase")
        .unionByName(e.filter($"event_type" === "error"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), Relational.sumMoney($"value").as("total"))
        .orderBy($"event_type")
    }),

    // ── D2+D3/2.7: global sort + top-k (TakeOrderedAndProject — no full
    //    sort materializes at scale).
    "q11_topk" -> ((s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .select($"o_orderkey", $"o_totalprice")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(10)
    }),

    // ── F3+F6/2.4: IN-list + IS NOT NULL + range predicate stack.
    //    Reference: silver_Dimensions.py:213-215, DimUser.py:4.
    "q12_predicates" -> ((s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .filter($"o_orderstatus".isin("F", "O") &&
          $"o_custkey".isNotNull && $"o_totalprice" > 50000.0)
        .select($"o_orderkey", $"o_orderstatus", $"o_orderpriority", $"o_totalprice")
        .orderBy($"o_orderkey")
    }),

    // ── C4+F5/2.10: SCD2 version chain — __START_AT/__END_AT semantics
    //    (DimUser.py:20-29) expressed as a window; F5 history probe
    //    (silver_Dimensions.py:206-208 `WHERE __END_AT IS NOT NULL`).
    "q13_scd2_history" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables.events(s, dir)
        .withColumn("__START_AT", $"ts")
        .withColumn("__END_AT", lead($"ts", 1).over(w))
        .filter($"__END_AT".isNotNull)
        .select($"user_id", $"event_id", $"event_type", $"__START_AT", $"__END_AT")
        .orderBy($"user_id", $"__START_AT", $"event_id")
    }),

    // ── C5/2.10: SCD1 last-write-wins state by composite business key.
    //    Reference: FactStream.py:12-21 (stored_as_scd_type=1).
    "q14_scd1_state" -> ((s, dir) => {
      import s.implicits._
      Relational.latestByKey(Tables.events(s, dir),
          Seq("user_id", "event_type"), col("ts"), Seq(col("event_id")))
        .select($"user_id", $"event_type", $"event_id", $"ts", $"value")
        .orderBy($"user_id", $"event_type")
    }),

    // ── 2.6: count-distinct aggregation surface.
    "q15_count_distinct" -> ((s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"), countDistinct($"o_custkey").as("n_cust"))
        .orderBy($"o_orderpriority")
    }),

    // ── C5/2.10: the real ScdMerge.scd1Upsert engine — initial batch then
    //    incremental batch (split at the time median), asserting the merge
    //    algebra converges to the same last-write-wins state a direct
    //    window query computes (the oracle).
    "q16_scd1_merge" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir)
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      val initial = graft.cdc.ScdMerge.scd1Upsert(
        None, e.filter($"ts" < cut), Seq("user_id"), "ts", Seq($"event_id"))
      graft.cdc.ScdMerge.scd1Upsert(
        Some(initial), e.filter($"ts" >= cut), Seq("user_id"), "ts", Seq($"event_id"))
        .select($"user_id", $"event_id", $"ts", $"event_type", $"value")
        .orderBy($"user_id")
    }),

    // ── C4/2.10: the real ScdMerge.scd2Merge engine across two batches —
    //    full version chain (__START_AT/__END_AT) must equal the direct
    //    window construction over all events (late-data/chain-splice
    //    correctness at query-gate scale).
    "q17_scd2_merge" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir).select($"user_id", $"event_id", $"event_type", $"ts")
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      val initial = graft.cdc.ScdMerge.scd2Merge(
        None, e.filter($"ts" < cut), Seq("user_id"), "ts", Seq($"event_id"))
      graft.cdc.ScdMerge.scd2Merge(
        Some(initial), e.filter($"ts" >= cut), Seq("user_id"), "ts", Seq($"event_id"))
        .select($"user_id", $"event_id", $"event_type", $"__START_AT", $"__END_AT")
        .orderBy($"user_id", $"__START_AT", $"event_id")
    }),

    // ── E1→E2→E3/§3: full medallion run (bronze watermark ingest → silver
    //    streaming transform → gold SCD1 snapshot) in a scratch workdir;
    //    the gold table must equal the oracle's direct computation.
    "q18_medallion_e2e" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("medallion").toString
      val med = new graft.pipeline.Medallion(work)
      // (not shuffle-pinned: the medallion's heavy leg is the batch SCD
      // merge inside foreachBatch, which wants full parallelism)
      med.run(s,
        Seq(graft.pipeline.MedallionTable(
          spec = graft.ingest.TableSpec("main", "events", "ts"),
          silverTransform = df => df.withColumn("event_type", upper($"event_type")),
          keys = Seq("user_id", "event_type"),
          scdType = 1,
          expectations = Seq(graft.ops.Expectation("uid", "user_id IS NOT NULL")),
          tieBreak = Seq($"event_id"))),
        // staging: 8 files, not 32 — the source fan-in sets the batch's task
        // count and the file-sink commit count all the way down the medallion
        _ => { Tables.events(s, dir).coalesce(8).write.mode("overwrite").parquet(s"$work/source"); s"$work/source" },
        runTs = "r1")
      med.goldTable(s, "events")
        .select($"user_id", $"event_type", $"event_id", $"ts", $"value")
        .orderBy($"user_id", $"event_type")
    }),

    // ── §1.1 asymmetry pin: the reference ships DimArtist SILVER-ONLY (it
    //    lands in silver but no gold DLT module exists for it,
    //    silver_Dimensions.py:70-74 vs the DLT folder). The engine models
    //    that as MedallionTable(goldEnabled = false) — config, not
    //    special-casing. This query runs a medallion with a silver-only
    //    table, probes it through the registered silver CATALOG name (the
    //    reference's exploration-SQL surface), and pins gold absence as a
    //    hashed boolean: a regression that starts gold-materializing the
    //    table (or stops landing silver) breaks the oracle.
    "q238_silver_only_dim" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("silveronly").toString
      val med = new graft.pipeline.Medallion(work)
      med.run(s,
        Seq(graft.pipeline.MedallionTable(
          spec = graft.ingest.TableSpec("main", "artists", "ts"),
          silverTransform = df => df.withColumn("event_type", upper($"event_type")),
          keys = Seq("user_id"),
          scdType = 1,
          goldEnabled = false)),
        _ => { Tables.events(s, dir).coalesce(8).write.mode("overwrite").parquet(s"$work/source"); s"$work/source" },
        runTs = "r1")
      val goldAbsent = !new java.io.File(s"${med.goldDir}/artists").exists &&
        !s.catalog.tableExists("graft_gold.artists")
      s.sql("""SELECT event_type, COUNT(*) AS n,
                 CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
               FROM graft_silver.artists GROUP BY event_type""")
        .withColumn("gold_absent", lit(goldAbsent))
        .orderBy($"event_type")
    }),

    // ── S3+C1+C2/2.10: genuine Structured Streaming file ingest with
    //    AvailableNow + checkpoint (Autoloader parity), aggregated after
    //    the drain completes.
    "q19_streaming_ingest" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("autoingest").toString
      // stage the source as a normal-timestamp parquet dir (the raw file is
      // TIMESTAMP(NANOS), which the streaming schema probe can't read);
      // 8 staged files ⇒ 8-task batch + 8 sink files, plumbing not operator
      Tables.events(s, dir).coalesce(8).write.mode("overwrite").parquet(s"$work/src")
      val cfg = graft.streaming.AutoIngest.Config(
        sourceDir = s"$work/src", schemaDir = s"$work/schema", checkpointDir = s"$work/ck")
      val stream = graft.streaming.AutoIngest.readStream(s, cfg).drop("_rescued_data")
      graft.streaming.AutoIngest.appendOnce(stream, s"$work/silver", cfg.checkpointDir)
      s.read.parquet(s"$work/silver")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), graft.ops.Relational.sumMoney($"value").as("total"))
        .orderBy($"event_type")
    }),

    // ── LLM-pipeline: token counting (whitespace + BPE-ish regex runs),
    //    pure codegen'd expressions, zero shuffles.
    "q20_token_count" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id",
          graft.llm.TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"),
          graft.llm.TextAnalysis.bpeishTokenCount($"text").cast("long").as("n_tokens_bpe"))
        .orderBy($"doc_id")
    }),

    // ── LLM-pipeline: quality scoring (length/punct/stopword/word-shape).
    "q21_text_quality" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id",
          graft.llm.TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"),
          graft.llm.TextAnalysis.punctRatio($"text").as("punct_ratio"),
          graft.llm.TextAnalysis.stopwordRatio($"text").as("stopword_ratio"),
          graft.llm.TextAnalysis.qualityScore($"text").as("quality"))
        .orderBy($"doc_id")
    }),

    // ── LLM-pipeline: n-gram-heuristic language ID (stopword argmax).
    "q22_lang_id" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", graft.llm.TextAnalysis.langId($"text").as("lang_pred"))
        .orderBy($"doc_id")
    }),

    // ── LLM-pipeline: normalized-content fingerprint (exact-dedup key).
    "q23_fingerprint" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", graft.llm.TextAnalysis.fingerprint($"text").as("fp"))
        .orderBy($"doc_id")
    }),

    // ── LLM-pipeline: exact all-pairs n-gram Jaccard near-dup (inverted
    //    shingle index; reduces on (d1,d2), never a cross join).
    "q24_ngram_jaccard" -> ((s, dir) => {
      import s.implicits._
      graft.llm.Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text", 0.5)
        .orderBy($"d1", $"d2")
    }),

    // ── LLM-pipeline: MinHash+LSH near-dup with exact verify — must equal
    //    the all-pairs answer (recall 1−6e-15 at the 0.8 pair margin).
    "q25_minhash_lsh" -> ((s, dir) => {
      import s.implicits._
      graft.llm.Dedup.minhashNearDupPairs(Tables.documents(s, dir), "doc_id", "text", 0.5)
        .orderBy($"d1", $"d2")
    }),

    // ── LLM-pipeline: exact cosine top-1 neighbor (brute-force baseline)
    //    for the first 100 vectors against the full corpus.
    "q26_embedding_knn" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      graft.llm.Similarity.bruteForceTopK(
          emb.filter($"vec_id" < 100), emb, "vec_id", "embedding", 1)
        .select($"query_id", $"neighbor_id", round($"cos", 6).as("cos"))
        .orderBy($"query_id")
    }),

    // ── LLM-pipeline: embedding-cosine near-dup pairs (semantic dedup).
    "q27_embedding_dedup" -> ((s, dir) => {
      import s.implicits._
      graft.llm.Similarity.cosineNearDupPairs(
          Tables.embeddings(s, dir), "vec_id", "embedding", 0.45)
        .select($"d1", $"d2", round($"cos", 6).as("cos"))
        .orderBy($"d1", $"d2")
    }),

    // ── LLM-pipeline: multimodal binary-column plumbing — content bytes +
    //    digest + frame sampling over an opaque binary payload.
    "q28_multimodal_features" -> ((s, dir) => {
      import s.implicits._
      val media = graft.llm.Multimodal.withMediaMeta(
        Tables.documents(s, dir).withColumn("content", $"text".cast("binary")),
        "content", "text")
      graft.llm.Multimodal.frameSample(
          graft.llm.Multimodal.contentFeatures(media, "content"),
          "content", 100, 2)
        .select($"doc_id", $"n_bytes", $"digest",
          $"media_meta.kind".as("kind"),
          $"n_frames_sampled".cast("long").as("n_frames_sampled"))
        .orderBy($"doc_id")
    }),

    // ── LLM-pipeline: SimHash near-dup buckets, on the md5-portable token
    //    hash so DuckDB replays the full 64-bit sign-vote algebra in closed
    //    form (hex digit → bit → ±1 vote → sign → bucket). Production
    //    callers keep the xxhash64 default (same algebra, faster hash).
    "q29_simhash_groups" -> ((s, dir) => {
      import s.implicits._
      graft.llm.Dedup.simhashGroups(Tables.documents(s, dir), "doc_id", "text",
          tokenHash = graft.llm.Dedup.md5TokenHash)
        .orderBy($"canonical_id")
    }),

    // ── LLM-pipeline: hyperplane-LSH approximate top-k — the 100 TB ANN
    //    path (bucketed search). Oracled via planted ground truth: the
    //    same-direction copy shares every sign bit with its query, so
    //    LSH MUST find it at cos 1 — the expected top-1 is closed-form.
    "q30_ann_lsh" -> ((s, dir) => {
      import s.implicits._
      val (queries, corpus) = plantedAnnCorpus(s, dir)
      graft.llm.Similarity.lshTopK(queries, corpus, "vec_id", "v", 1, numPlanes = 4)
        .select($"query_id", $"neighbor_id", round($"cos", 6).as("cos"))
        .orderBy($"query_id")
    }),

    // ── LLM-pipeline: REAL partition-batched image decode — synthesize a
    //    constant-gray BMP per document (dims/fill derived from doc_id, so
    //    the oracle recomputes them), decode with JDK ImageIO, emit decoded
    //    dimensions + mean Rec.601 luma. round(6) absorbs the last-ulp of
    //    the per-pixel double accumulation vs the oracle's closed form.
    "q31_multimodal_decode" -> ((s, dir) => {
      import s.implicits._
      val fixtures = Tables.documents(s, dir).select($"doc_id",
        (lit(8) + pmod($"doc_id", lit(17))).cast("int").as("w"),
        (lit(8) + pmod($"doc_id", lit(13))).cast("int").as("h"),
        pmod($"doc_id", lit(256)).cast("int").as("g"))
      graft.llm.Multimodal.decodeImage(
          graft.llm.Multimodal.syntheticBmp(fixtures, "w", "h", "g"), "content")
        .select($"doc_id",
          $"decoded_width".cast("long").as("width"),
          $"decoded_height".cast("long").as("height"),
          round($"decoded_mean_luma", 6).as("mean_luma"),
          $"decoded_real".as("is_real"))
        .orderBy($"doc_id")
    }),

    // ── LLM-pipeline: REAL PNG decode (VERDICT r5 #5) — a deterministic
    //    two-gray checkerboard PNG per document goes through ImageIO's
    //    PNG reader (DEFLATE + scanline unfiltering — a different decoder
    //    than q31's uncompressed BMP walker); PNG is lossless so the
    //    decoded mean luma is closed-form for the oracle.
    "q239_multimodal_png" -> ((s, dir) => {
      import s.implicits._
      val fixtures = Tables.documents(s, dir).select($"doc_id",
        (lit(9) + pmod($"doc_id", lit(11))).cast("int").as("w"),
        (lit(7) + pmod($"doc_id", lit(5))).cast("int").as("h"),
        pmod($"doc_id", lit(256)).cast("int").as("g1"),
        pmod($"doc_id" * 7 + 13, lit(256)).cast("int").as("g2"))
      graft.llm.Multimodal.decodeImage(
          graft.llm.Multimodal.syntheticCheckerPng(fixtures, "w", "h", "g1", "g2"),
          "content")
        .select($"doc_id",
          $"decoded_width".cast("long").as("width"),
          $"decoded_height".cast("long").as("height"),
          round($"decoded_mean_luma", 6).as("mean_luma"),
          $"decoded_real".as("is_real"))
        .orderBy($"doc_id")
    }),

    // ── LLM-pipeline: REAL JPEG decode — the LOSSY leg of the codec
    //    matrix (BMP = uncompressed walker, PNG = DEFLATE lossless, JPEG
    //    = DCT + quantization + Huffman). A constant image is pure DC, so
    //    the decoded gray may shift a few quantizer codes; the oracle
    //    therefore hashes exact dimensions + an error-bound verdict
    //    (|mean_luma − g/255| ≤ 2.5/255), the honest lossy contract.
    "q241_multimodal_jpeg" -> ((s, dir) => {
      import s.implicits._
      val fixtures = Tables.documents(s, dir).select($"doc_id",
        (lit(8) + pmod($"doc_id", lit(9))).cast("int").as("w"),
        (lit(8) + pmod($"doc_id", lit(7))).cast("int").as("h"),
        pmod($"doc_id", lit(256)).cast("int").as("g"))
      graft.llm.Multimodal.decodeImage(
          graft.llm.Multimodal.syntheticJpeg(fixtures, "w", "h", "g"), "content")
        .select($"doc_id",
          $"decoded_width".cast("long").as("width"),
          $"decoded_height".cast("long").as("height"),
          (abs($"decoded_mean_luma" - pmod($"doc_id", lit(256)) / 255.0) <=
            lit(2.5 / 255.0)).as("luma_ok"),
          $"decoded_real".as("is_real"))
        .orderBy($"doc_id")
    }),

    // ── LLM-pipeline: EXACT substring-level dedup (the suffix-array-
    //    style signal of Lee et al. 2022) — per document, the disjoint
    //    character spans of length ≥40 that also occur elsewhere in the
    //    corpus (other docs OR within-doc boilerplate repeats). MinHash/
    //    SimHash score whole documents; contamination lives in spans.
    //    Fully relational: every position's 40-gram → one gram-keyed
    //    aggregation → gaps-and-islands runs → interval union. Exact,
    //    no sampling/winnowing. At 40 chars the small-vocab corpus's
    //    chance collisions vanish; only planted duplication survives.
    "q242_substring_dedup" -> ((s, dir) => {
      import s.implicits._
      graft.llm.SubstringDedup.duplicatedSpans(
          Tables.documents(s, dir), "doc_id", "text", 40)
        .orderBy($"doc_id")
    }),

    // ── LLM-pipeline: hybrid retrieval — a BM25 lexical leg and an
    //    embedding-cosine leg, each ranked top-50, fused by Reciprocal
    //    Rank Fusion (1/(60+rank), Cormack et al. 2009). Rank-based, so
    //    the legs' incomparable score scales never meet; ranks are taken
    //    over 6-dp-rounded scores with id tie-breaks so both engines
    //    rank identically. The post-limit windows run on ≤50 rows (the
    //    limits execute as TakeOrderedAndProject), so the single-
    //    partition window is constant-size at any corpus scale.
    "q243_hybrid_rrf" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val lex = graft.llm.Ranking.bm25(Tables.documents(s, dir),
          "doc_id", "text", Seq("spark", "merge", "window"))
        .orderBy($"score".desc, $"doc_id").limit(50)
        .withColumn("rank", row_number().over(
          Window.orderBy($"score".desc, $"doc_id")))
      val qv = broadcast(emb.filter($"vec_id" === 0)
        .select(transform($"embedding", _.cast("double")).as("qv")))
      val cos = emb.crossJoin(qv)
        .select($"vec_id", round(graft.llm.Similarity.cosine(
          transform($"embedding", _.cast("double")), $"qv"), 6).as("cos"))
        .orderBy($"cos".desc, $"vec_id").limit(50)
        .withColumn("rank", row_number().over(
          Window.orderBy($"cos".desc, $"vec_id")))
      graft.llm.Ranking.rrfFuse(Seq(
          lex.select($"doc_id".as("id"), $"rank"),
          cos.select($"vec_id".as("id"), $"rank")), "id", "rank", 60)
        .orderBy($"rrf".desc, $"id").limit(20)
        .select($"id".as("doc_id"), $"rrf", $"n_legs")
    }),

    // ── LLM-pipeline: deterministic corpus shuffle + shard assignment
    //    (the training-order step). The permutation is a portable LCG —
    //    no engine hash — so shard membership, within-shard order, and
    //    therefore the head docs of every shard are bit-reproducible in
    //    any engine. Shard = permKey mod n is a pure map (no global
    //    sort); the only sort is per shard. Stats + each shard's first-3
    //    docs pin both the assignment and the order.
    "q244_corpus_shards" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .withColumn("nt", graft.llm.TextAnalysis.tokenCount($"text").cast("long"))
      graft.llm.Sharding.assignShards(docs, "doc_id", 8)
        .groupBy($"shard_id")
        .agg(count(lit(1)).as("n_docs"), sum($"nt").as("n_tokens"),
          array_join(transform(array_sort(collect_list(
              when($"pos_in_shard" <= 3, struct($"pos_in_shard", $"doc_id")))),
            x => x("doc_id").cast("string")), ",").as("head_docs"))
        .orderBy($"shard_id")
    }),

    // ── LLM-pipeline: inverted index over word-bigram terms, postings
    //    materialized ONLY inside the df band (two-pass: codegen'd df
    //    count → small band broadcasts back → collect just the survivors
    //    — a stop-word term never builds its huge list to be dropped).
    //    The rare band (2 ≤ df ≤ 8) is exactly the discriminative-phrase
    //    tier retrieval engines index eagerly.
    "q245_inverted_index" -> ((s, dir) => {
      import s.implicits._
      graft.llm.Ranking.invertedIndex(Tables.documents(s, dir),
          "doc_id", "text", n = 2, minDf = 2L, maxDf = 8L)
        .orderBy($"term")
    }),

    // ── Sketch family: Count-Min heavy hitters via Spark's built-in
    //    count_min_sketch aggregate (one merge-able pass; the sketch is
    //    a ~2000×7 model-sized artifact on the driver, same economics as
    //    kmeans centroids). Verdict per top-10 token: the CMS point
    //    estimate must respect the algorithm's one-sided bound
    //    exact ≤ est ≤ exact + ⌈ε·N⌉ (ε=0.001, δ=0.01) — a broken
    //    sketch/hash mismatch lands orders outside it. Exact counts and
    //    the top-10 ordering replay in DuckDB; the verdict is hashed.
    "q246_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val toks = Tables.documents(s, dir)
        .select(explode(graft.llm.TextAnalysis.tokens($"text")).as("w"))
      val n = toks.count()
      val bytes = toks
        .agg(expr("count_min_sketch(w, CAST(0.001 AS DOUBLE), CAST(0.99 AS DOUBLE), 42)"))
        .head().getAs[Array[Byte]](0)
      val cms = org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(bytes))
      val top = toks.groupBy($"w").agg(count(lit(1)).as("n_exact"))
        .orderBy($"n_exact".desc, $"w").limit(10)
        .as[(String, Long)].collect()
      val bound = math.ceil(0.001 * n).toLong
      top.toSeq.map { case (w, c) =>
        val est = cms.estimateCount(w)
        (w, c, est >= c && est <= c + bound)
      }.toDF("w", "n_exact", "cms_ok").orderBy($"n_exact".desc, $"w")
    }),

    // ── LLM-pipeline: span-level DECONTAMINATION — the eval-set-leak
    //    removal step. q81's n-gram overlap flags documents; this returns
    //    the exact characters to cut: for every train doc (source ∉
    //    bench), the disjoint ≥40-char spans appearing verbatim anywhere
    //    in the benchmark corpus (source ∈ src0..src4). The benchmark
    //    gram set is the small side — it broadcasts, and the train gram
    //    relation never shuffles at all.
    // ── LLM-pipeline: WINNOWED substring dedup (Schleimer et al. 2003) —
    //    the 100 TB path for q242. Fingerprint selection is row-local
    //    (nested HOFs, no shuffle); only the ~2n/(w+1)-dense fingerprint
    //    relation aggregates. The winnowing GUARANTEE — every doc whose
    //    exact max duplicated span ≥ w+L−1 = 49 shares a selected
    //    fingerprint with the span's other occurrence — is the hashed
    //    verdict: the oracle replays the exact spans and asserts TRUE.
    "q248_winnowed_dedup" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val fps = graft.llm.SubstringDedup
        .winnowedFingerprints(docs, "doc_id", "text", 40, 10)
      val dupFp = fps.groupBy($"h").agg(count(lit(1)).as("c"))
        .filter($"c" >= 2).select($"h")
      val det = fps.join(dupFp, Seq("h"), "left_semi")
        .select($"id".as("doc_id")).distinct()
        .withColumn("detected", lit(true))
      graft.llm.SubstringDedup.duplicatedSpans(docs, "doc_id", "text", 40)
        .filter($"max_span" >= 49)
        .join(det, Seq("doc_id"), "left_outer")
        .select($"doc_id", $"max_span",
          coalesce($"detected", lit(false)).as("detected"))
        .orderBy($"doc_id")
    }),

    "q247_span_decontamination" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val bench = Seq("src0", "src1", "src2", "src3", "src4")
      graft.llm.SubstringDedup.contaminatedSpans(
          docs.filter(!$"source".isin(bench: _*)),
          docs.filter($"source".isin(bench: _*)),
          "doc_id", "text", 40)
        .select($"doc_id", $"dup_chars".as("contaminated_chars"),
          $"max_span", $"dup_frac".as("contaminated_frac"))
        .orderBy($"doc_id")
    }),

    // ── LLM-pipeline: SEGMENT-level corpus dedup (the CCNet/RefinedWeb
    //    "drop duplicated lines across pages" pass — the unit between
    //    whole-doc MinHash and q242's raw char spans). Segments = aligned
    //    4-word windows; a segment in >1 distinct docs is cut everywhere
    //    but its globally-first occurrence; the doc text is rebuilt from
    //    the survivors. Segment construction is row-local (array HOFs);
    //    the only exchanges are the segment-keyed count and the per-doc
    //    reassembly. kept_text is md5'd so the compare stays compact.
    "q249_segment_dedup" -> ((s, dir) => {
      import s.implicits._
      graft.llm.SegmentDedup.segmentDedup(
          Tables.documents(s, dir), "doc_id", "text", segWords = 4)
        .filter($"n_dropped" > 0)
        .select($"id".as("doc_id"), $"n_segs", $"n_dropped",
          md5($"kept_text").as("kept_md5"),
          length($"kept_text").cast("long").as("kept_chars"))
        .orderBy($"doc_id")
    }),

    // ── LLM-pipeline: TRAINED multinomial Naive Bayes language classifier
    //    (fastText-pattern: fit a cheap model on labeled seed data in one
    //    distributed counting pass, score everything with one join).
    //    Train = doc_id % 5 ≠ 0, test = the held-out fifth; smoothed
    //    log-likelihoods are decimal-summed so the argmax is
    //    engine-portable. Compare against q22's zero-shot stopword
    //    heuristic: this one LEARNS the vocabulary.
    "q250_nb_classifier" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val train = docs.filter(pmod($"doc_id", lit(5)) =!= 0)
      val test = docs.filter(pmod($"doc_id", lit(5)) === 0)
      graft.llm.NaiveBayes.trainPredict(train, test, "doc_id", "text", "lang")
        .join(test.select($"doc_id".as("id"), $"lang"), Seq("id"))
        .select($"id".as("doc_id"), $"pred", $"score",
          ($"pred" === $"lang").as("correct"))
        .orderBy($"doc_id")
    }),

    // ── LLM-pipeline: DSIR importance resampling (Xie et al. 2023) —
    //    rank the raw corpus by avg per-token log-ratio between a TARGET
    //    unigram LM (here: the zh slice) and the raw-corpus LM; the
    //    top-weighted docs are the ones distilling the crawl toward the
    //    target distribution. Two count aggs + one token-keyed join; no
    //    iteration, no driver state.
    "q251_dsir_selection" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      graft.llm.Dsir.importanceWeights(docs, docs.filter($"lang" === "zh"),
          "doc_id", "text")
        .orderBy($"weight".desc, $"id")
        .limit(50)
        .select($"id".as("doc_id"), $"n_toks", $"weight")
    }),

    // ── LLM-pipeline: token-budget MIXTURE PLANNER — the step that turns
    //    per-source token counts + quality weights into per-source epoch
    //    counts for a fixed training budget (the LLaMA-style data-mixture
    //    table). Share ∝ decimal-summed quality mass; epochs capped at 3;
    //    everything downstream derives from the 6-dp-rounded share so the
    //    plan is engine-portable. One groupBy + one scalar broadcast.
    "q252_mixture_planner" -> ((s, dir) => {
      import s.implicits._
      val per = Tables.documents(s, dir).groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.llm.TextAnalysis.tokenCount($"text").cast("long")).as("n_tokens"),
          sum(graft.llm.TextAnalysis.modelScore($"text").cast("decimal(18,6)")).as("qsum"))
      val tot = per.agg(sum($"qsum").as("qtot"))
      val share = round($"qsum".cast("double") / $"qtot".cast("double"), 6)
      val epochs = round(least(lit(3.0), share * lit(200000.0) / $"n_tokens"), 6)
      per.crossJoin(broadcast(tot))
        .select($"source", $"n_docs", $"n_tokens", share.as("share"),
          epochs.as("epochs"),
          floor(epochs * $"n_tokens").cast("long").as("planned_tokens"))
        .orderBy($"source")
    }),

    // ── LLM-pipeline: distributed PCA top component by POWER ITERATION —
    //    whitening/de-biasing/compression diagnostics for the embedding
    //    corpus. The data pass is ONE (i,j)-keyed covariance agg (d²=4096
    //    groups no matter how many vectors stream through, partial-agg
    //    combined); the 10 power rounds then run on model-sized relations
    //    (broadcast joins only). Decimal quantization at every step makes
    //    all 10 iterations — and the eigenvector itself — DuckDB-exact.
    "q260_pca_power" -> ((s, dir) => {
      import s.implicits._
      val cov = graft.llm.Pca.covariance(
        Tables.embeddings(s, dir), "vec_id", "embedding")
      graft.llm.Pca.topComponent(s, cov, 64, iters = 10)
        .select($"i".cast("long").as("dim"), $"loading", $"eigenvalue")
        .orderBy($"dim")
    }),

    // ── LLM-pipeline: all-but-the-top DE-BIASING (Mu & Viswanath 2018) —
    //    remove each vector's projection on q260's top component (usually
    //    a corpus-frequency artifact; nearest-neighbor quality improves
    //    without it). Component fit on the FULL corpus; report sliced to
    //    the first 20 vectors. One broadcast join + two per-id aggs.
    "q261_debias_topcomp" -> ((s, dir) => {
      import s.implicits._
      graft.llm.Pca.debiasReport(s, Tables.embeddings(s, dir),
          "vec_id", "embedding", 64, iters = 10)
        .filter($"id" < 20)
        .select($"id".as("vec_id"), $"top_proj", $"norm_before", $"norm_after")
        .orderBy($"vec_id")
    }),

    // ── LLM-pipeline: kNN LABEL PROPAGATION — auto-label the unlabeled
    //    fifth of the corpus by majority vote of its 5 nearest labeled
    //    neighbors (embedding cosine), ties to the smaller label: the
    //    standard semi-supervised bootstrap for quality/domain tiers.
    "q262_knn_label" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val test = emb.filter(pmod($"vec_id", lit(5)) === 0)
      val train = emb.filter(pmod($"vec_id", lit(5)) =!= 0)
      val voted = graft.llm.Similarity
        .bruteForceTopK(test, train, "vec_id", "embedding", 5)
        .join(train.select($"vec_id".as("neighbor_id"), $"label"), Seq("neighbor_id"))
        .groupBy($"query_id", $"label").agg(count(lit(1)).as("votes"))
      val w = Window.partitionBy($"query_id").orderBy($"votes".desc, $"label")
      voted.withColumn("rk", row_number().over(w)).filter($"rk" === 1)
        .join(test.select($"vec_id".as("query_id"), $"label".as("true_label")),
          Seq("query_id"))
        .select($"query_id".as("vec_id"), $"label".as("pred_label"), $"votes",
          $"true_label", ($"label" === $"true_label").as("correct"))
        .orderBy($"vec_id")
    }),

    // ── LLM-pipeline: corpus DATA CARD — the one-pass summary block a
    //    dataset release ships (sizes, language mix, quality mass, exact-
    //    dup exposure). All metrics from one scan + one fingerprint agg.
    "q263_data_card" -> ((s, dir) => {
      import s.implicits._
      val t = graft.llm.TextAnalysis
      val base = Tables.documents(s, dir).select($"doc_id", $"lang", $"source",
        t.tokenCount($"text").cast("long").as("nt"),
        t.modelScore($"text").cast("decimal(18,6)").as("q"),
        t.fingerprint($"text").as("fp"))
      def m(name: String, c: org.apache.spark.sql.Column) = base.agg(c.as("v"))
        .select(lit(name).as("metric"), $"v".cast("double").as("value"))
      val dupDocs = base
        .join(base.groupBy($"fp").agg(count(lit(1)).as("c")).filter($"c" > 1),
          Seq("fp"), "left_semi")
        .agg(count(lit(1)).as("v"))
        .select(lit("exact_dup_docs").as("metric"), $"v".cast("double").as("value"))
      m("docs", count(lit(1)))
        .unionByName(m("tokens", sum($"nt")))
        .unionByName(m("langs", countDistinct($"lang")))
        .unionByName(m("sources", countDistinct($"source")))
        .unionByName(m("mean_tokens",
          round(sum($"nt").cast("double") / count(lit(1)), 6)))
        .unionByName(m("mean_quality",
          round(sum($"q").cast("double") / count(lit(1)), 6)))
        .unionByName(m("pct_en",
          round(sum(when($"lang" === "en", 1L).otherwise(0L)).cast("double")
            / count(lit(1)), 6)))
        .unionByName(dupDocs)
        .orderBy($"metric")
    }),

    // ── LLM-pipeline: GOPHER-style quality RULES (Rae et al. 2021 §A1.1
    //    shape): per-doc hard filters — word count band, mean word
    //    length band, symbol-to-word ratio, stopword floor, distinct-word
    //    floor — each an exact integer/double predicate on row-local
    //    features (array HOFs, zero shuffles), plus the AND verdict.
    "q264_gopher_rules" -> ((s, dir) => {
      import s.implicits._
      val t = graft.llm.TextAnalysis
      val toks = t.tokens($"text")
      val sw = t.EnglishStopwords
      Tables.documents(s, dir).select($"doc_id",
          size(toks).as("nt"),
          length(regexp_replace($"text", "\\s", "")).as("nchw"),
          size(regexp_extract_all($"text", lit("[^A-Za-z0-9\\s]"), lit(0))).as("npunct"),
          size(filter(t.tokens(lower($"text")),
            x => array_contains(array(sw.map(lit): _*), x))).as("stophits"),
          size(array_distinct(toks)).as("ndist"))
        // greatest(nt,1) denominator guard: Spark's non-ANSI x/0 is NULL
        // while DuckDB's IEEE double /0 is inf — an empty/whitespace-only
        // doc would silently break Spark/oracle parity (and yield a NULL
        // verdict); with the guard an empty doc fails r_words and r_stopwords
        // deterministically on both engines.
        .select($"doc_id",
          ($"nt" >= 20 && $"nt" <= 1000).as("r_words"),
          ($"nchw".cast("double") / greatest($"nt", lit(1)) >= 2.0 &&
            $"nchw".cast("double") / greatest($"nt", lit(1)) <= 12.0).as("r_word_len"),
          ($"npunct".cast("double") / greatest($"nt", lit(1)) < 0.1).as("r_symbols"),
          ($"stophits" >= 2).as("r_stopwords"),
          ($"ndist".cast("double") / greatest($"nt", lit(1)) >= 0.3).as("r_distinct"))
        .withColumn("pass", $"r_words" && $"r_word_len" && $"r_symbols" &&
          $"r_stopwords" && $"r_distinct")
        .orderBy($"doc_id")
    }),

    // ── LLM-pipeline: CURATION DECISIONS with PROVENANCE — the audit
    //    table a dedup+filter pass must emit: per doc, kept or the FIRST
    //    reason it was cut (exact_dup ≻ near_dup ≻ low_quality), with
    //    canonical-keep semantics (the cluster minimum survives). This is
    //    what makes a 100 TB curation run debuggable — "why did doc X
    //    disappear" is a lookup, not a re-run.
    "q265_curation_decisions" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val t = graft.llm.TextAnalysis
      val base = docs.select($"doc_id", t.fingerprint($"text").as("fp"),
        t.modelScore($"text").as("score"))
      val exactCanon = base.groupBy($"fp").agg(min($"doc_id").as("fp_canon"))
      val pairs = graft.llm.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5)
      val comp = graft.llm.Dedup.connectedComponents(pairs, "d1", "d2")
        .withColumnRenamed("id", "doc_id")
      base.join(exactCanon, Seq("fp"))
        .join(comp, Seq("doc_id"), "left_outer")
        .select($"doc_id", $"score",
          when($"doc_id" =!= $"fp_canon", "exact_dup")
            .when($"comp".isNotNull && $"doc_id" =!= $"comp", "near_dup")
            .when($"score" < 0.4, "low_quality")
            .otherwise("kept").as("decision"))
        .orderBy($"doc_id")
    }),

    // ── Streaming: per-micro-batch DRIFT MONITOR — every batch's language
    //    distribution PSI'd against the frozen corpus reference, one
    //    metrics row per batch through the idempotent per-batch sink.
    //    Batch 0 (parity split) is reference-like → PSI ≈ 0; batch 1 is
    //    a deliberately zh-only feed → the PSI spike an upstream crawler
    //    change produces. Deterministic: pinned file mtimes + 1 file per
    //    trigger, same harness as q144.
    "q266_streaming_drift" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("drift266").toString
      val docs = Tables.documents(s, dir)
      docs.filter($"doc_id" % 2 === 0).coalesce(1).write.parquet(s"$work/src/f1")
      docs.filter($"doc_id" % 2 === 1 && $"lang" === "zh")
        .coalesce(1).write.parquet(s"$work/src/f2")
      val t0 = System.currentTimeMillis() - 120000
      for ((d, t) <- Seq(("f1", t0), ("f2", t0 + 60000));
           f <- new java.io.File(s"$work/src/$d").listFiles())
        f.setLastModified(t)
      val cfg = graft.streaming.AutoIngest.Config(s"$work/src/*", s"$work/schema",
        s"$work/ck", maxFilesPerTrigger = Some(1))
      val ref = docs.groupBy($"lang").agg(count(lit(1)).as("rc"))
      withShufflePartitions(s, 8) {
        graft.streaming.DriftMonitor.run(s, cfg, ref, "lang", s"$work/metrics")
      }
      graft.streaming.DriftMonitor.readMetrics(s, s"$work/metrics")
        .orderBy($"batch_id")
    }),

    // ── Sources: ORC round-trip (the third columnar format after
    //    parquet + CSV/JSON in q51) — write orders to ORC partitioned by
    //    priority, read back through the ORC scan with a partition-pruning
    //    filter + pushed predicate, aggregate. The oracle reads the same
    //    rows from parquet: the format must be lossless for every type in
    //    the row (decimal-summed money, timestamps, strings).
    "q259_orc_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("orc").toString
      Tables.orders(s, dir)
        .write.mode("overwrite").partitionBy("o_orderpriority")
        .orc(s"$work/orders")
      s.read.orc(s"$work/orders")
        .filter($"o_orderpriority".isin("1-URGENT", "2-HIGH") &&
          $"o_totalprice" > 100000.0)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"),
          Relational.sumMoney($"o_totalprice").as("total"),
          max($"o_orderdate").as("latest"))
        .orderBy($"o_orderpriority")
    }),

    // ── LLM-pipeline: TextRank keyword extraction (Mihalcea & Tarau
    //    2004) — weighted PageRank over the word co-occurrence graph, the
    //    unsupervised keyword signal that needs no background corpus.
    //    Per-iteration rank vectors are DECIMAL(18,12)-quantized and
    //    contributions decimal-summed, so 5 damped iterations replay
    //    bit-for-bit in DuckDB (the oracle unrolls them). Each iteration
    //    is one edge⋈rank join + one agg, all keyed by word.
    "q258_textrank" -> ((s, dir) => {
      import s.implicits._
      // one parquet file in the sf dir → spread the row-local tokenize/
      // explode kernel across cores first (q257's rule; a real cluster's
      // input splits provide this for free)
      val docs = Tables.documents(s, dir).repartition(s.sparkContext.defaultParallelism)
      val edges = graft.llm.TextRank.cooccurrenceEdges(docs, "doc_id", "text")
      graft.llm.TextRank.pageRank(edges, iters = 5)
        .select($"word", $"score".cast("double").as("score"))
        .orderBy($"score".desc, $"word")
        .limit(10)
    }),

    // ── LLM-pipeline: CONTENT-DEFINED chunking dedup (rolling-hash CDC,
    //    the storage-dedup/pipeline chunker): cut where the 8-char window
    //    hash ≡ 0 mod 32 (≈32-char chunks). Unlike q249's ALIGNED
    //    segments, boundaries derive from content — one inserted char
    //    shifts every fixed window after it, but CDC boundaries
    //    resynchronize, so shared text keeps chunking identically. Hash +
    //    boundary + chunk build are all row-local HOFs (zero shuffles,
    //    portable integer fold B=257 mod 1e9+7); only the chunk-keyed
    //    count and report agg exchange.
    "q257_cdc_chunk_dedup" -> ((s, dir) => {
      import s.implicits._
      // the hash kernel is row-local CPU-bound work; the sf dir is ONE
      // parquet file, so spread rows across cores first (a real cluster's
      // input splits provide this for free — here it's one tiny shuffle)
      val docs = Tables.documents(s, dir).repartition(s.sparkContext.defaultParallelism)
      graft.llm.SubstringDedup.cdcDedupReport(
          docs, "doc_id", "text", w = 8, divisor = 32)
        .filter($"n_dup_chunks" > 0)
        .select($"id".as("doc_id"), $"n_chunks", $"n_dup_chunks", $"dup_chars")
        .orderBy($"doc_id")
    }),

    // ── LLM-pipeline: CROSS-CODEC image dedup — the same picture stored
    //    as BMP and as PNG has different BYTES (so fingerprint/MinHash
    //    dedup can never catch it) but identical decoded PIXELS: dedup on
    //    a decoded-signal signature (dims + 6-dp mean luma) through the
    //    REAL ImageIO decoders. Planted: every BMP fixture gets a PNG
    //    twin with the same pixel content at id+1e6; the join is
    //    signature-keyed (hash join, never all-pairs). A codec bug in
    //    either decoder breaks pair recovery — the oracle is the
    //    closed-form parameter replay.
    "q256_image_dedup" -> ((s, dir) => {
      import s.implicits._
      val m = graft.llm.Multimodal
      val base = Tables.documents(s, dir).filter($"doc_id" < 200)
        .select($"doc_id",
          (lit(8) + pmod($"doc_id", lit(5))).cast("int").as("w"),
          (lit(8) + pmod($"doc_id", lit(3))).cast("int").as("h"),
          pmod($"doc_id" * 37, lit(256)).cast("int").as("g"))
      val bmp = m.syntheticBmp(base, "w", "h", "g").select($"doc_id", $"content")
      val pngIn = base.select(($"doc_id" + 1000000L).as("doc_id"), $"w", $"h",
        $"g".as("g1"), $"g".as("g2"))
      val png = m.syntheticCheckerPng(pngIn, "w", "h", "g1", "g2")
        .select($"doc_id", $"content")
      val sig = m.decodeImage(bmp.unionByName(png), "content")
        .filter($"decoded_real")
        .select($"doc_id", $"decoded_width", $"decoded_height",
          round($"decoded_mean_luma", 6).as("luma"))
      sig.as("a").join(sig.as("b"),
          col("a.decoded_width") === col("b.decoded_width") &&
          col("a.decoded_height") === col("b.decoded_height") &&
          col("a.luma") === col("b.luma") &&
          col("a.doc_id") < lit(1000000L) && col("b.doc_id") >= lit(1000000L))
        .select(col("a.doc_id").as("bmp_id"), col("b.doc_id").as("png_id"),
          col("a.decoded_width").cast("long").as("width"),
          col("a.decoded_height").cast("long").as("height"),
          col("a.luma").as("luma"))
        .orderBy($"bmp_id")
    }),

    // ── LLM-pipeline: Johnson–Lindenstrauss ±1 random projection
    //    (Achlioptas 2003) — 64-dim embeddings → 16 dims, matrix never
    //    materialized (closed-form LCG signs, the q244 portability rule),
    //    projection fully row-local (zero shuffles). The query returns
    //    top-3 neighbors IN PROJECTED SPACE alongside the exact cosine of
    //    the same pairs, so the oracle pins both the projection arithmetic
    //    and how well 16 dims preserve the neighborhood.
    "q255_jl_projection" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val proj = graft.llm.RandomProjection.project(emb, "vec_id", "embedding", 16)
      // r15 (verdict item 4): the projection kernel is an RDD boundary, so
      // a filter placed ABOVE it can never push down to the parquet scan —
      // the r14 form projected EVERY row and filtered after (harmless at
      // sf0.1, wrong at 100 TB with selective predicates). The projection
      // is row-local, so filtering the query side BEFORE the kernel is
      // row-for-row identical; PushedFilters: [LessThan(vec_id,5)] is back
      // on the query-side scan (plans/r15, PlanAuditSpec pin).
      val projQ = graft.llm.RandomProjection.project(
        emb.filter($"vec_id" < 5), "vec_id", "embedding", 16)
      val topk = graft.llm.Similarity.bruteForceTopK(
        projQ, proj, "vec_id", "y", 3)
      val orig = emb.select($"vec_id",
        transform($"embedding", _.cast("double")).as("v"))
      topk
        .join(orig.select($"vec_id".as("query_id"), $"v".as("qv")), Seq("query_id"))
        .join(orig.select($"vec_id".as("neighbor_id"), $"v".as("nv")), Seq("neighbor_id"))
        .select($"query_id", $"rank".cast("long").as("rank"), $"neighbor_id",
          round($"cos", 6).as("cos_proj"),
          round(graft.llm.Similarity.cosine($"qv", $"nv"), 6).as("cos_exact"))
        .orderBy($"query_id", $"rank")
    }),

    // ── LLM-pipeline: TEMPERATURE-scaled sampling weights (the standard
    //    multilingual rebalancing: share_l ∝ p_l^(1/T), T=5 flattens the
    //    head so low-resource slices up-weight). pow() results are
    //    decimal-cast BEFORE the normalizing sum so the shares are
    //    order-independent and engine-portable; everything derives from
    //    exact per-language token counts (one hash agg).
    "q254_temperature_mixture" -> ((s, dir) => {
      import s.implicits._
      val per = Tables.documents(s, dir).groupBy($"lang")
        .agg(sum(graft.llm.TextAnalysis.tokenCount($"text").cast("long")).as("n_tokens"))
      val tot = per.agg(sum($"n_tokens").as("t_all"))
      val raw = per.crossJoin(broadcast(tot))
        .withColumn("p", $"n_tokens".cast("double") / $"t_all".cast("double"))
        .withColumn("w", pow($"p", lit(0.2)).cast("decimal(18,9)"))
      val wtot = raw.agg(sum($"w").as("w_all"))
      raw.crossJoin(broadcast(wtot))
        .select($"lang", $"n_tokens", round($"p", 6).as("p_raw"),
          round($"w".cast("double") / $"w_all".cast("double"), 6).as("p_temp"))
        .orderBy($"lang")
    }),

    // ── LLM-pipeline: LEAKAGE-SAFE train/test split — assign splits by
    //    dedup CLUSTER, not by document, so a test doc's near-duplicate
    //    can never sit in train (the eval-contamination bug a row-level
    //    random split commits). Cluster = q80's connected components over
    //    exact-Jaccard pairs; split key = cluster canonical id through the
    //    portable LCG (q244's permutation), testMod 10 ≈ a 10% test slice.
    "q253_leakage_safe_split" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val pairs = graft.llm.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5)
      graft.llm.Sampling.leakageSafeSplit(docs, "doc_id", pairs, "d1", "d2")
        .select($"id".as("doc_id"), $"group_id", $"split")
        .orderBy($"doc_id")
    }),

    // ── §7 scale: Z-ORDER clustering (OPTIMIZE ZORDER analog) — Morton-
    //    interleaved (user_id, value) ranks cluster the snapshot so the
    //    stats manifest prunes files for range probes on EITHER column;
    //    linear clusterBy can only serve one. Results must equal plain
    //    filters (pruning is a superset guarantee); file-skipping itself
    //    is asserted in EngineCoreSpec.
    "q227_zorder_skipping" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("zorder").toString
      val t = new graft.tables.SnapshotTable(s"$work/t")
      val e = Tables.events(s, dir)
        .select($"event_id", $"user_id", $"ts", $"event_type", $"value")
      graft.tables.Zorder.writeZordered(t, s, e, Seq("user_id", "value"),
        clusterPartitions = 16)
      def slice(df: DataFrame, tag: String) = df
        .agg(count(lit(1)).cast("long").as("n"),
          Relational.sumMoney($"value").as("total"))
        .withColumn("dim", lit(tag))
      slice(t.readIndexed(s)
          .filter($"user_id".between(100, 199)), "user_slice")
        .unionByName(slice(t.readIndexed(s)
          .filter($"value".between(400.0, 500.0)), "value_slice"))
        .select($"dim", $"n", $"total")
        .orderBy($"dim")
    }),

    // ── §7 scale: O(increment) APPEND commits + OPTIMIZE-shape compaction.
    //    Four dribbled appends re-reference all prior data dirs via the
    //    version manifest (increment-sized IO per commit); optimizeCompact
    //    bin-packs only the small files and carries big ones + their stats
    //    lines in place. The read-back must equal the plain table — the
    //    manifest/commit machinery is what is under test.
    "q228_append_compact" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("appendcompact").toString
      val t = new graft.tables.SnapshotTable(s"$work/t")
      val e = Tables.events(s, dir)
        .select($"event_id", $"user_id", $"event_type", $"value")
      t.writeWithStats(s, e.filter(pmod($"event_id", lit(4)) === 0), Seq("user_id"),
        clusterBy = Seq("user_id"), clusterPartitions = 4)
      (1 to 3).foreach { r =>
        t.append(s, e.filter(pmod($"event_id", lit(4)) === r).coalesce(1))
      }
      t.optimizeCompact(s, targetBytes = 1L << 20)
      t.read(s).groupBy($"event_type")
        .agg(count(lit(1)).cast("long").as("n"),
          Relational.sumMoney($"value").as("total"))
        .orderBy($"event_type")
    }),

    // ── C4/2.10: SCD2 with `track_history_except_column_list` (the DLT
    //    auto-CDC parameter at DimUser.py:27): only event_type is history-
    //    tracked; `value` changes update the current version in place —
    //    versions are RUNS of equal event_type per user, __START_AT is the
    //    run's first ts, value/ts are the run's latest. Two batches through
    //    the real merge must equal the one-shot window construction.
    "q235_scd2_except" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir).select($"user_id", $"event_type", $"value", $"ts")
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      val initial = graft.cdc.ScdMerge.scd2Merge(
        None, e.filter($"ts" < cut), Seq("user_id"), "ts",
        trackHistoryExcept = Seq("value"))
      graft.cdc.ScdMerge.scd2Merge(
        Some(initial), e.filter($"ts" >= cut), Seq("user_id"), "ts",
        trackHistoryExcept = Seq("value"))
        .select($"user_id", $"event_type", $"value", $"ts", $"__START_AT", $"__END_AT")
        .orderBy($"user_id", $"__START_AT")
    }),

    // ── LLM-pipeline: REAL video frame sampling + decode. Fixed-stride
    //    BMP-frame containers; every 2nd frame is sliced out and decoded
    //    by the real ImageIO kernel — decode cost ∝ frames KEPT. Grays
    //    derive from (doc_id, frame) in closed form → per-frame oracle.
    "q234_video_frames" -> ((s, dir) => {
      import s.implicits._
      val base = Tables.documents(s, dir).select($"doc_id")
        .withColumn("nf", (lit(4) + pmod($"doc_id", lit(3))).cast("int"))
      val vid = graft.llm.Multimodal.syntheticVideo(base, "doc_id", "nf")
      graft.llm.Multimodal.decodeVideoFrames(vid, "content",
          graft.llm.Multimodal.bmpFrameBytes, everyNth = 2)
        .select($"doc_id", $"frame_idx".cast("long").as("frame_idx"),
          round($"decoded_mean_luma", 6).as("mean_luma"),
          $"decoded_real".as("is_real"))
        .orderBy($"doc_id", $"frame_idx")
    }),

    // ── Gold SERVING side: idempotent blue-green JDBC publish (stage →
    //    metadata-only swap) into embedded Derby, the reference's
    //    gold→SQL-store stage. A stale first publish must be fully
    //    replaced by the second; the result is read back THROUGH JDBC so
    //    the oracle checks what a serving query actually sees.
    "q233_jdbc_publish" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("jdbcpub").toString
      System.setProperty("derby.system.home", work)
      val url = s"jdbc:derby:$work/db;create=true"
      val driver = "org.apache.derby.jdbc.EmbeddedDriver"
      val gold = Tables.events(s, dir).groupBy($"event_type")
        .agg(count(lit(1)).cast("long").as("n"),
          Relational.sumMoney($"value").as("total"))
      graft.gold.JdbcPublish.publish(gold.limit(2), url, driver, "gold_events", 2)
      graft.gold.JdbcPublish.publish(gold, url, driver, "gold_events", 2)
      s.read.format("jdbc").option("url", url).option("driver", driver)
        .option("dbtable", "GOLD_EVENTS").load()
        .select($"event_type", $"n", $"total").orderBy($"event_type")
    }),

    // ── LLM-pipeline: REAL audio decode. Fixture WAVs are RIFF/PCM16
    //    whose samples derive from doc_id in integer closed form, so the
    //    decoded signal statistics are INTEGER-exact and DuckDB replays
    //    them from the same formula (no float drift anywhere).
    "q232_audio_decode" -> ((s, dir) => {
      import s.implicits._
      val base = Tables.documents(s, dir).select($"doc_id")
        .withColumn("n", (lit(800) + pmod($"doc_id", lit(5)) * 80).cast("int"))
      val wav = graft.llm.Multimodal.syntheticWav(base, "doc_id", "n")
      graft.llm.Multimodal.decodeWav(wav, "content")
        .select($"doc_id", $"sample_rate", $"channels", $"n_frames",
          $"duration_ms", $"peak_abs", $"sum_sq", $"zero_crossings")
        .orderBy($"doc_id")
    }),

    // ── §4(c) SQL surface: the OPTIMIZE / VACUUM maintenance DDL the
    //    injected GraftSqlParser adds (Delta SQL-form parity). Same table
    //    lifecycle as q228 but driven by SQL text, plus a VACUUM that must
    //    keep manifest-referenced dirs alive — the read-back still equals
    //    the plain aggregate.
    "q231_sql_maintenance" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("sqlmaint").toString
      val t = new graft.tables.SnapshotTable(s"$work/t")
      val e = Tables.events(s, dir)
        .select($"event_id", $"user_id", $"event_type", $"value")
      t.writeWithStats(s, e.filter(pmod($"event_id", lit(4)) === 0), Seq("user_id"),
        clusterBy = Seq("user_id"), clusterPartitions = 4)
      (1 to 3).foreach { r =>
        t.append(s, e.filter(pmod($"event_id", lit(4)) === r).coalesce(1))
      }
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      sqlRun(s"OPTIMIZE '${t.root}' TARGET ${1L << 20}").collect()
      sqlRun(s"VACUUM '${t.root}' KEEP 1").collect()
      assert(sqlRun(s"DESCRIBE HISTORY '${t.root}'").count() >= 1)
      t.read(s).groupBy($"event_type")
        .agg(count(lit(1)).cast("long").as("n"),
          Relational.sumMoney($"value").as("total"))
        .orderBy($"event_type")
    }),

    // ── K3/C2 at the TABLE level: exactly-once streaming append into the
    //    transactional SnapshotTable (Delta streaming-sink analog). Two
    //    multi-batch drains through appendTxn — the second replays nothing
    //    (checkpoint) and a manually replayed batch id is a table-level
    //    no-op — then the table must equal the plain source aggregate.
    "q230_stream_snapshot_sink" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("snapsink").toString
      Tables.events(s, dir).coalesce(4).write.mode("overwrite").parquet(s"$work/src")
      val cfg = graft.streaming.AutoIngest.Config(
        sourceDir = s"$work/src", schemaDir = s"$work/schema",
        checkpointDir = s"$work/ck", maxFilesPerTrigger = Some(2))
      val t = new graft.tables.SnapshotTable(s"$work/t")
      def drain(): Unit = graft.streaming.SnapshotSink.appendStreamOnce(
        graft.streaming.AutoIngest.readStream(s, cfg).drop("_rescued_data"),
        t, cfg.checkpointDir, queryId = "events_sink")
      drain(); drain() // second drain: checkpoint says nothing new
      // replay batch 0 by hand — the txn watermark makes it a no-op
      t.appendTxn(s, t.read(s).limit(5), Some(("events_sink", 0L)))
      t.read(s).groupBy($"event_type")
        .agg(count(lit(1)).cast("long").as("n"),
          Relational.sumMoney($"value").as("total"))
        .orderBy($"event_type")
    }),

    // ── LLM-pipeline: SemDeDup cluster-then-prune semantic dedup. The
    //    fixture plants a near-identical perturbation of each vec_id<100;
    //    k-means cells keep each planted pair together (cos ≈ 1 ⇒ same
    //    nearest centroid), within-cell exact pairs find them all, and the
    //    min-id canonical keeps exactly the original corpus.
    "q229_semantic_dedup" -> ((s, dir) => {
      import s.implicits._
      val base = Tables.embeddings(s, dir)
        .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
      val pert = base.filter($"vec_id" < 100)
        .select(($"vec_id" + 1000000L).as("vec_id"),
          transform($"v", (x, i) =>
            x * (lit(1.0) + (pmod($"vec_id" + i, lit(7)) - lit(3)) * lit(2e-4))).as("v"))
      graft.llm.Similarity.semanticDedup(
          base.unionByName(pert), "vec_id", "v", k = 8, threshold = 0.99)
        .select($"vec_id").orderBy($"vec_id")
    }),

    // ── LLM-pipeline: BUCKETED embedding near-dup pairs (sign-bit LSH
    //    bands + exact-cosine verify) — q27's all-pairs form is the
    //    baseline; this is the 100 TB shape. The fixture plants a
    //    perturbed near-duplicate (cos ≈ 1) of each vec_id<100, so every
    //    qualifying pair survives banding deterministically and the
    //    output equals DuckDB's brute force exactly.
    "q226_embedding_neardup_lsh" -> ((s, dir) => {
      import s.implicits._
      val base = Tables.embeddings(s, dir)
        .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
      val pert = base.filter($"vec_id" < 100)
        .select(($"vec_id" + 1000000L).as("vec_id"),
          transform($"v", (x, i) =>
            x * (lit(1.0) + (pmod($"vec_id" + i, lit(7)) - lit(3)) * lit(2e-4))).as("v"))
      graft.llm.Similarity.simhashCosinePairs(
          base.unionByName(pert), "vec_id", "v", threshold = 0.99)
        .orderBy($"d1", $"d2")
    }),

    // ── S1 in its TRUE JDBC form: the watermark predicate executes IN the
    //    database (embedded Derby — the in-JVM stand-in for the
    //    reference's Azure SQL, incremental_loop.json:45), and the delta
    //    drains as 4 range-bounded parallel queries (partitionColumn
    //    protocol). Only post-watermark rows ever cross the wire.
    "q225_jdbc_incremental" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("jdbc225").toString
      System.setProperty("derby.system.home", work) // derby.log stays in scratch
      val url = s"jdbc:derby:$work/db;create=true"
      val driver = "org.apache.derby.jdbc.EmbeddedDriver"
      val src = Tables.events(s, dir).filter($"event_id" % 37 === 0)
        .select($"event_id", $"user_id", $"event_type", $"ts",
          $"value".as("ev_value")) // VALUE is a reserved word in Derby
      src.coalesce(1).write.format("jdbc")
        .option("url", url).option("driver", driver)
        .option("dbtable", "events_src").mode("overwrite").save()
      val bounds = src.agg(min($"event_id"), max($"event_id")).as[(Long, Long)].head()
      graft.ingest.JdbcIncremental.read(s, url, driver, "events_src",
          "ts", "2024-01-15 00:00:00", graft.ingest.JdbcIncremental.derbyTs,
          Some(graft.ingest.JdbcIncremental.Partitioning(
            "event_id", bounds._1, bounds._2, 4)))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), Relational.sumMoney($"ev_value").as("total"))
        .orderBy($"event_type")
    }),

    // ── LLM-pipeline: symmetric per-vector int8 embedding quantization
    //    with reconstruction-error audit — the storage/bandwidth path for
    //    100 TB of embeddings (4× smaller + one scale per vector).
    //    Closed-form column algebra, zero shuffles, oracled end-to-end.
    "q223_int8_quantization" -> ((s, dir) => {
      import s.implicits._
      graft.llm.Quantization.int8ErrorAudit(
          Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy($"vec_id")
    }),

    // ── LLM-pipeline: corpus-trained bigram LM scoring (add-one
    //    smoothing) — the perplexity-style quality signal curation ranks
    //    by; count tables are vocab-bounded hash aggs, V is a 1-row
    //    scalar broadcast.
    "q224_bigram_loglik" -> ((s, dir) => {
      import s.implicits._
      graft.llm.TextAnalysis.bigramLogLik(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy($"doc_id")
    }),

    // ── LLM-pipeline: multi-probe LSH recall pin — one row comparing
    //    single-probe vs Hamming-1 multi-probe recall@1 against brute
    //    force. With planted ground truth both probes MUST find every
    //    query's same-bucket planted copy, so the whole row is
    //    closed-form (n = hits = |queries|); a bucketing or multi-probe
    //    regression breaks the hash. Floor also quantified in LlmOpsSpec.
    "q222_lsh_multiprobe" -> ((s, dir) => {
      import s.implicits._
      val (queries, corpus) = plantedAnnCorpus(s, dir)
      val brute = graft.llm.Similarity.bruteForceTopK(queries, corpus, "vec_id", "v", 1)
        .select($"query_id", $"cos".as("bcos"))
      def top1(multi: Boolean) = graft.llm.Similarity
        .lshTopK(queries, corpus, "vec_id", "v", 1, numPlanes = 6, multiProbe = multi)
      brute
        .join(top1(false).select($"query_id", $"cos".as("scos")), Seq("query_id"), "left")
        .join(top1(true).select($"query_id", $"cos".as("mcos")), Seq("query_id"), "left")
        .agg(count(lit(1)).cast("long").as("n_queries"),
          count(when(abs($"scos" - $"bcos") < 1e-9, 1)).cast("long").as("single_hits"),
          count(when(abs($"mcos" - $"bcos") < 1e-9, 1)).cast("long").as("multi_hits"))
        .withColumn("multi_ge_single", $"multi_hits" >= $"single_hits")
    }),

    // ── LLM-pipeline: REAL image resize — BMP fixture → bilinear rescale
    //    to 8×8 → lossless PNG re-encode → re-decode. A constant image
    //    stays constant under bilinear resampling, so the re-decoded luma
    //    is oracle-checkable alongside the target dimensions.
    "q220_multimodal_resize" -> ((s, dir) => {
      import s.implicits._
      val fixtures = Tables.documents(s, dir).select($"doc_id",
        (lit(12) + pmod($"doc_id", lit(9))).cast("int").as("w"),
        (lit(12) + pmod($"doc_id", lit(7))).cast("int").as("h"),
        pmod($"doc_id", lit(256)).cast("int").as("g"))
      val resized = graft.llm.Multimodal.resizeImage(
        graft.llm.Multimodal.syntheticBmp(fixtures, "w", "h", "g"), "content", 8, 8)
      graft.llm.Multimodal.decodeImage(resized, "resized")
        .select($"doc_id",
          $"decoded_width".cast("long").as("width"),
          $"decoded_height".cast("long").as("height"),
          round($"decoded_mean_luma", 6).as("mean_luma"),
          ($"resized_real" && $"decoded_real").as("is_real"))
        .orderBy($"doc_id")
    }),

    // ── 2.9: UDF surface — the reference's only UDF (distance_km,
    //    utils.py:1-8), both as registered UDF and as the idiomatic
    //    codegen'd expression (asserted equal in-row).
    "q32_udf_distance" -> ((s, dir) => {
      import s.implicits._
      graft.functions.Udfs.register(s)
      Tables.events(s, dir)
        .select($"event_id",
          graft.functions.Udfs.distanceKm($"value").as("km_expr"),
          graft.functions.Udfs.distanceKmUdf($"value").as("km_udf"))
        .orderBy($"event_id")
    }),

    // ── C8/2.10: tumbling event-time window aggregation (the windowed-agg
    //    surface the engine exposes beyond the reference's needs).
    "q33_tumbling_window" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy(window($"ts", "1 day").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"), Relational.sumMoney($"value").as("total"))
        .select($"w.start".as("w_start"), $"event_type", $"n", $"total")
        .orderBy($"w_start", $"event_type")
    }),

    // ── C8/2.10: session windows (30-min inactivity gap) — batch form of
    //    the stateful session operator; oracle is the classic
    //    gaps-and-islands construction.
    "q34_session_window" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
        .agg(count(lit(1)).as("n"))
        .select($"user_id", $"w.start".as("session_start"), $"w.end".as("session_end"), $"n")
        .orderBy($"user_id", $"session_start")
    }),

    // ── S5/2.1: the SQL facade — tables registered in the session catalog,
    //    query expressed in pure SQL (spark.sql end to end).
    "q35_sql_facade" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("v_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem")
      // EXISTS (left-semi) form of the TPC-H Q4 shape: equivalent to
      // count(DISTINCT o_orderkey) over the join, but each order is
      // emitted at most once — no join blow-up, no distinct aggregate
      // (two shuffles instead of three at any scale).
      s.sql("""
        SELECT o_orderpriority, count(*) AS n_orders
        FROM v_orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND EXISTS (SELECT 1 FROM v_lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    }),

    // ── 2.5 scale: skew-salted join — result must equal the plain join
    //    (salting only changes partitioning, never semantics).
    "q36_salted_join" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir)
      val dim = e.groupBy($"user_id").agg(max($"ts").as("last_seen"))
      Relational.saltedJoin(e, dim, Seq("user_id"), saltFactor = 8)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n"), max($"last_seen").as("last_seen"))
        .orderBy($"user_id")
    }),

    // ── Semi-structured surface: JSON extraction from the events props
    //    column (training pipelines live on this).
    "q37_json_extract" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .select($"event_id", get_json_object($"props", "$.k").cast("long").as("k"))
        .groupBy($"k")
        .agg(count(lit(1)).as("n"))
        .orderBy($"k")
    }),

    // ── K1 scale form: partitioned parquet sink + partition-pruned read
    //    back (the layout a 100 TB bronze zone needs for pruning).
    "q38_partitioned_write" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("partwrite").toString
      // repartition on the partition column before partitionBy: one file per
      // partition dir instead of (tasks × values) small files — the standard
      // cure for the partitioned-write small-files problem at scale
      Tables.events(s, dir).repartition($"event_type").write.mode("overwrite")
        .partitionBy("event_type").parquet(s"$work/events")
      s.read.parquet(s"$work/events")
        .filter($"event_type" === "purchase") // prunes to one partition dir
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n"), Relational.sumMoney($"value").as("total"))
        .orderBy($"user_id")
    }),

    // ── 2.6 extension: ROLLUP hierarchy totals (engine surface beyond the
    //    reference's plain GROUP BY). NULL group markers are coalesced to
    //    'ALL' so ordering is engine-portable.
    "q39_rollup" -> ((s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"), Relational.sumMoney($"l_quantity").as("qty"))
        .select(
          coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
          coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
          $"n", $"qty")
        .orderBy($"returnflag", $"linestatus")
    }),

    // ── 2.9: typed Aggregator (UDAF) — quantity-weighted average price
    //    with an exact integer buffer (associative merge, partitioning-
    //    independent result).
    "q40_typed_udaf" -> ((s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(graft.functions.Udfs.weightedPriceAvg($"l_extendedprice", $"l_quantity")
          .as("wavg_price"))
        .orderBy($"l_returnflag")
    }),

    // ── LLM-pipeline: IVF-bucketed approximate top-k — the centroid-cell
    //    ANN path (probe nProbe cells per query). Oracled via planted
    //    ground truth: the scaled copy lands in its query's top-1 cell
    //    (cosine-to-centroid is scale-invariant), within the probe set.
    "q43_ann_ivf" -> ((s, dir) => {
      import s.implicits._
      val (queries, corpus) = plantedAnnCorpus(s, dir)
      graft.llm.Similarity.ivfTopK(queries, corpus, "vec_id", "v", 1,
          nCentroids = 16, nProbe = 4)
        .select($"query_id", $"neighbor_id", round($"cos", 6).as("cos"))
        .orderBy($"query_id")
    }),

    // ── 2.8 breadth: datetime function surface (year/month/day/hour,
    //    date_trunc, datediff) over orders×lineitem ship lag.
    "q44_datetime_functions" -> ((s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
        .select($"o_orderkey", $"l_linenumber",
          year($"o_orderdate").as("o_year"),
          month($"o_orderdate").as("o_month"),
          dayofmonth($"o_orderdate").as("o_day"),
          datediff($"l_shipdate", $"o_orderdate").cast("long").as("ship_lag_days"),
          date_trunc("month", $"o_orderdate").as("o_month_start"))
        .orderBy($"o_orderkey", $"l_linenumber")
    }),

    // ── SQL facade depth: scalar subquery (orders above the overall
    //    average price) — Catalyst subquery decorrelation surface.
    "q45_scalar_subquery" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("v_orders2")
      s.sql("""
        SELECT o_orderkey, o_totalprice FROM v_orders2
        WHERE o_totalprice > (
          SELECT CAST(AVG(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM v_orders2)
        ORDER BY o_orderkey""")
    }),

    // ── 2.7/D2 depth: window frames — per-customer running order total
    //    (rowsBetween unboundedPreceding..current) + rank.
    "q46_window_frames" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      Tables.orders(s, dir)
        .select($"o_custkey", $"o_orderkey", $"o_orderdate",
          sum(Relational.money($"o_totalprice"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_total"),
          rank().over(w).as("order_rank"))
        .orderBy($"o_custkey", $"o_orderkey")
    }),

    // ── 2.6 depth: CUBE with grouping-set totals (marker-coalesced).
    "q47_cube" -> ((s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce($"o_orderstatus", lit("ALL")).as("status"),
          coalesce($"o_orderpriority", lit("ALL")).as("priority"),
          $"n")
        .orderBy($"status", $"priority")
    }),

    // ── J2 depth: TPC-H Q3-shaped shipping-priority query (selective
    //    filters both sides of the big join, top-k on aggregated revenue).
    "q48_shipping_priority" -> ((s, dir) => {
      import s.implicits._
      val cu = Tables.customer(s, dir).filter($"c_mktsegment" === "BUILDING")
      val o = Tables.orders(s, dir)
        .filter($"o_orderdate" < lit("1998-01-01").cast("timestamp"))
      val li = Tables.lineitem(s, dir)
        .filter($"l_shipdate" > lit("1996-01-01").cast("timestamp"))
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(cu), $"o_custkey" === $"c_custkey")
        .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
        .agg(sum(Relational.money($"l_extendedprice") *
          (lit(1).cast("decimal(18,2)") - Relational.money($"l_discount")))
          .cast("double").as("revenue"))
        .orderBy($"revenue".desc, $"l_orderkey")
        .limit(20)
    }),

    // ── LLM-pipeline: document chunking (64-token windows, 16 overlap) —
    //    provenance-preserving flatMap, zero shuffles.
    "q49_text_chunking" -> ((s, dir) => {
      import s.implicits._
      graft.llm.TextChunker.chunk(Tables.documents(s, dir), "doc_id", "text", 64, 16)
        .select($"doc_id", $"chunk_idx", $"token_start", $"token_end",
          md5($"chunk_text".cast("binary")).as("chunk_digest"))
        .orderBy($"doc_id", $"chunk_idx")
    }),

    // ── 2.6 breadth: pivot (wide conditional aggregation) — per-user
    //    event-type counts as columns.
    "q50_pivot" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy($"user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy($"user_id")
    }),

    // ── S-format breadth: CSV + JSON sources/sinks round-trip (the other
    //    built-in file formats a lakehouse ingests) joined back together.
    "q51_multiformat" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("fmt").toString
      val e = Tables.events(s, dir)
      e.select($"event_id", $"user_id", $"event_type")
        .coalesce(8).write.mode("overwrite").option("header", "true").csv(s"$work/csv")
      e.select($"event_id", $"value")
        .coalesce(8).write.mode("overwrite").json(s"$work/json")
      val fromCsv = s.read.option("header", "true")
        .schema("event_id LONG, user_id LONG, event_type STRING")
        .csv(s"$work/csv")
      val fromJson = s.read.schema("event_id LONG, value DOUBLE").json(s"$work/json")
      fromCsv.join(fromJson, "event_id")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), Relational.sumMoney($"value").as("total"))
        .orderBy($"event_type")
    }),

    // ── LLM-pipeline capstone: the composed curation pass (quality gate →
    //    language tag → exact-dedup canonicalization) — what the
    //    individual operators exist for.
    "q52_curation" -> ((s, dir) => {
      import s.implicits._
      graft.llm.Curation.curate(Tables.documents(s, dir), "doc_id", "text", 1.0)
        .orderBy($"doc_id")
    }),

    // ── D4 completion: INTERSECT / EXCEPT set operators (distinct
    //    semantics), tagged and unioned into one result.
    "q53_set_ops" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.orders(s, dir)
      val early = o.filter($"o_orderdate" < lit("1997-01-01").cast("timestamp"))
        .select($"o_custkey")
      val late = o.filter($"o_orderdate" >= lit("2000-01-01").cast("timestamp"))
        .select($"o_custkey")
      early.intersect(late).withColumn("op", lit("both_eras"))
        .unionByName(early.except(late).withColumn("op", lit("early_only")))
        .orderBy($"op", $"o_custkey")
    }),

    // ── 2.6 depth: ordered-set aggregates — exact interpolated
    //    percentiles per group.
    "q54_percentiles" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy($"event_type")
        .agg(
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.95)").as("p95"),
          min($"value").as("vmin"), max($"value").as("vmax"))
        .orderBy($"event_type")
    }),

    // ── 2.6 scale: sketch aggregates — HyperLogLog++ distinct counts and
    //    approximate percentiles, the fixed-memory forms a 100 TB
    //    aggregation actually uses. Oracled via error-bound verdicts: the
    //    exact counts are DuckDB-replayable and the booleans assert the
    //    sketches landed within their published error (HLL++ rsd 1% →
    //    3σ = 3%; percentile accuracy 1000 → 0.1% rank error, checked at
    //    a 1% tolerance) — a broken sketch is off by far more and flips
    //    the boolean into a hash mismatch.
    "q55_sketches" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir)
      val sk = e.groupBy($"event_type")
        .agg(
          approx_count_distinct($"user_id", rsd = 0.01).as("approx_users"),
          countDistinct($"user_id").as("exact_users"),
          percentile_approx($"value", lit(0.5), lit(1000)).as("p50"))
      // rank audit of the approximate median: one more pass over events
      // joined to the tiny per-type sketch row (broadcast) — the fraction
      // of values strictly below / at-or-below p50 must straddle 0.5
      // within tolerance
      e.join(broadcast(sk), "event_type")
        .groupBy($"event_type")
        .agg(
          first($"exact_users").as("exact_users"),
          first($"approx_users").as("approx_users"),
          count(lit(1)).as("n"),
          count(when($"value" < $"p50", 1)).as("n_lt"),
          count(when($"value" <= $"p50", 1)).as("n_le"))
        .select($"event_type", $"exact_users",
          (abs($"approx_users" - $"exact_users") <=
            greatest(lit(3.0), $"exact_users" * 0.03)).as("users_ok"),
          ($"n_lt" <= $"n" * 0.51 && $"n_le" >= $"n" * 0.49).as("p50_ok"))
        .orderBy($"event_type")
    }),

    // ── LLM-pipeline: deterministic hash-bucket stratified sampling —
    //    reproducible corpus mixing (es 50%, de 20%, rest 10%).
    "q56_hash_sample" -> ((s, dir) => {
      import s.implicits._
      graft.llm.Sampling.stratifiedSample(
          Tables.documents(s, dir), "doc_id", "lang",
          Map("es" -> 50, "de" -> 20), defaultRate = 10)
        .select($"doc_id", $"lang", $"bucket")
        .orderBy($"doc_id")
    }),

    // ── §4/custom operator (c): point-in-time as-of join — full
    //    LogicalPlan→Strategy→SparkPlan stack with a partition-local
    //    sorted merge (each event picks the user's latest strictly-prior
    //    purchase; left-outer). Oracle: DuckDB's native ASOF JOIN.
    "q42_asof_join" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir).select($"event_id", $"user_id", $"ts")
      val p = Tables.events(s, dir).filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"ts".as("p_ts"),
          $"event_id".as("p_event_id"), $"value".as("p_value"))
      graft.plans.AsOfJoin.asofJoin(e, p, "user_id", "p_user", "ts", "p_ts")
        .select($"event_id", $"user_id", $"p_event_id", $"p_value")
        .orderBy($"event_id")
    }),

    // ── §7 scale: hash-bucketed SCD1 snapshot merge — only the buckets a
    //    batch touches are rewritten; everything else is carried over by
    //    reference in the manifest (the 100 TB form of the snapshot table).
    //    Result must equal the plain whole-table merge (q16's oracle).
    "q57_bucketed_scd1" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("bucketed").toString
      // 8 buckets at bench scale: both halves touch every user, so each
      // merge writes every bucket dir — dir count, not data volume, is the
      // cost here (at 100 TB you'd size thousands of buckets instead)
      val t = new graft.tables.BucketedSnapshotTable(s"$work/t", 8, Seq("user_id"))
      val e = Tables.events(s, dir)
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      t.scd1Merge(s, e.filter($"ts" < cut), "ts", Seq($"event_id"))
      t.scd1Merge(s, e.filter($"ts" >= cut), "ts", Seq($"event_id"))
      t.read(s)
        .select($"user_id", $"event_id", $"ts", $"event_type", $"value")
        .orderBy($"user_id")
    }),

    // ── §7 scale: hash-bucketed SCD2 snapshot merge — the 100 TB medallion
    //    dim path (the reference's gold dims are SCD2, DimUser.py:20-29):
    //    each batch rewrites only affected buckets, carries untouched ones
    //    by reference, and stamps a per-batch stats manifest over
    //    __START_AT for time-range pruning. Post-state must equal the
    //    plain whole-table SCD2 history (q17's oracle).
    "q221_bucketed_scd2" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("bucketedscd2").toString
      val t = new graft.tables.BucketedSnapshotTable(s"$work/t", 8, Seq("user_id"),
        statsCols = Seq("__START_AT"))
      val e = Tables.events(s, dir).select($"user_id", $"event_id", $"event_type", $"ts")
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      t.scd2Merge(s, e.filter($"ts" < cut), "ts", Seq($"event_id"))
      t.scd2Merge(s, e.filter($"ts" >= cut), "ts", Seq($"event_id"))
      t.read(s)
        .select($"user_id", $"event_id", $"event_type", $"__START_AT", $"__END_AT")
        .orderBy($"user_id", $"__START_AT", $"event_id")
    }),

    // ── C8 depth: genuine stream-stream interval join (two Structured
    //    Streaming sources, watermarked, time-bounded condition) — each
    //    purchase matched to the same user's error events in the prior
    //    30 minutes; aggregated after the drain. Oracle: plain interval
    //    self-join in DuckDB.
    "q58_stream_stream_join" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("ssjoin").toString
      // stage each side pre-filtered + projected: the join state then holds
      // only the columns/rows the interval join needs
      val e = Tables.events(s, dir)
      e.filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"ts".as("p_ts"), $"event_id".as("p_id"))
        .coalesce(4).write.mode("overwrite").parquet(s"$work/purchases")
      e.filter($"event_type" === "error")
        .select($"user_id".as("e_user"), $"ts".as("e_ts"), $"value".as("e_value"))
        .coalesce(4).write.mode("overwrite").parquet(s"$work/errors")
      val purchases = s.readStream
        .schema(s.read.parquet(s"$work/purchases").schema)
        .parquet(s"$work/purchases")
        .withWatermark("p_ts", "3650 days")
      val errors = s.readStream
        .schema(s.read.parquet(s"$work/errors").schema)
        .parquet(s"$work/errors")
        .withWatermark("e_ts", "3650 days")
      val joined = purchases.join(errors,
        $"p_user" === $"e_user" &&
        $"e_ts" >= $"p_ts" - expr("INTERVAL 30 MINUTES") && $"e_ts" <= $"p_ts")
      withShufflePartitions(s, 8) {
        val q = joined.writeStream.format("parquet")
          .option("checkpointLocation", s"$work/ck")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(s"$work/out")
        q.awaitTermination()
      }
      s.read.parquet(s"$work/out")
        .groupBy($"p_user".as("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          Relational.sumMoney($"e_value").as("err_value"))
        .orderBy($"user_id")
    }),

    // ── D-surface depth: stream-stream LEFT OUTER join — null-extended
    //    rows are emitted by WATERMARK PASSAGE, not at stream end: an
    //    unmatched purchase emits once the global watermark (min over both
    //    inputs of max event time − 1 day) passes its join-window upper
    //    bound p_ts + 30 min. Purchases newer than that stay unmatched AND
    //    unemitted — the oracle reproduces exactly that emitted set.
    "q117_stream_outer_join" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("ssouter").toString
      val e = Tables.events(s, dir)
      e.filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"ts".as("p_ts"), $"event_id".as("p_id"))
        .coalesce(4).write.mode("overwrite").parquet(s"$work/purchases")
      e.filter($"event_type" === "error")
        .select($"user_id".as("e_user"), $"ts".as("e_ts"), $"value".as("e_value"))
        .coalesce(4).write.mode("overwrite").parquet(s"$work/errors")
      val purchases = s.readStream
        .schema(s.read.parquet(s"$work/purchases").schema)
        .parquet(s"$work/purchases")
        .withWatermark("p_ts", "1 day")
      val errors = s.readStream
        .schema(s.read.parquet(s"$work/errors").schema)
        .parquet(s"$work/errors")
        .withWatermark("e_ts", "1 day")
      val joined = purchases.join(errors,
        $"p_user" === $"e_user" &&
        $"e_ts" >= $"p_ts" && $"e_ts" <= $"p_ts" + expr("INTERVAL 30 MINUTES"),
        "left_outer")
      withShufflePartitions(s, 8) {
        val q = joined.writeStream.format("parquet")
          .option("checkpointLocation", s"$work/ck")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(s"$work/out")
        q.awaitTermination()
      }
      s.read.parquet(s"$work/out")
        .groupBy($"p_user".as("user_id"))
        .agg(count(lit(1)).as("n_rows"),
          count(when($"e_value".isNull, 1)).as("n_outer"),
          Relational.sumMoney($"e_value").as("err_value"))
        .orderBy($"user_id")
    }),

    // ── Generator breadth: posexplode (ordinal-position explode) — the
    //    generator runs pre-shuffle, so only (pos, word) pairs reach the
    //    aggregation, never the full text.
    "q118_pos_explode" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", posexplode(split($"text", " ")))
        .toDF("doc_id", "pos", "word")
        .filter($"pos" < 5)
        .groupBy($"pos")
        .agg(count(lit(1)).as("n"), min($"word").as("first_w"), max($"word").as("last_w"))
        .orderBy($"pos")
    }),

    // ── §7: time travel as a query — a committed version stays readable
    //    (and identical) after later commits move the live pointer.
    "q119_time_travel" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("travel").toString
      val t = new graft.tables.SnapshotTable(s"$work/t")
      t.write(s, Tables.nation(s, dir))                                  // v1
      t.write(s, Tables.nation(s, dir).filter($"n_nationkey" < 20))     // v2 (live)
      val v1 = t.readVersion(s, 1).agg(count(lit(1)).as("n")).withColumn("version", lit(1))
      val v2 = t.read(s).agg(count(lit(1)).as("n")).withColumn("version", lit(2))
      v1.unionByName(v2).select($"version", $"n").orderBy($"version")
    }),

    // ── LLM-pipeline: corpus mixing toward target proportions — per-lang
    //    keep rates derived from one count per stratum (driver-side
    //    metadata only), realized by content-hash bucketing so the mixture
    //    is reproducible at any scale and stable under corpus growth.
    "q120_corpus_mixture" -> ((s, dir) => {
      import s.implicits._
      graft.llm.Sampling.targetMixture(Tables.documents(s, dir), "doc_id", "lang",
          Map("en" -> 0.4, "fr" -> 0.3, "de" -> 0.1, "es" -> 0.1, "zh" -> 0.1))
        .groupBy($"lang").agg(count(lit(1)).as("n"))
        .orderBy($"lang")
    }),

    // ── Recursive CTE (Spark 4 UnionLoop): a recursion-generated month
    //    spine LEFT JOINed to monthly revenue — zero-sales months survive,
    //    which a plain GROUP BY over lineitem cannot produce.
    "q121_recursive_cte" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("g121_lineitem")
      s.sql("""
        WITH RECURSIVE months(m) AS (
          SELECT 1
          UNION ALL
          SELECT m + 1 FROM months WHERE m < 12
        )
        SELECT m, COUNT(l_orderkey) AS n,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM months LEFT JOIN g121_lineitem
          ON month(l_shipdate) = m AND year(l_shipdate) = 1996
        GROUP BY m ORDER BY m""")
    }),

    // ── Ordered list aggregation, both spellings: sort_array∘collect_list
    //    (array form) and ANSI listagg WITHIN GROUP (string form). The
    //    explicit ORDER BY inside the aggregate is what makes a
    //    distributed collect deterministic.
    "q122_list_agg" -> ((s, dir) => {
      Tables.supplier(s, dir).createOrReplaceTempView("g122_supplier")
      s.sql("""
        SELECT s_nationkey,
          array_join(sort_array(collect_list(s_name)), ',') AS names_arr,
          listagg(s_name, ',') WITHIN GROUP (ORDER BY s_name) AS names_agg,
          COUNT(*) AS n
        FROM g122_supplier GROUP BY s_nationkey ORDER BY s_nationkey""")
    }),

    // ── Error-safe expression surface: try_divide / try_cast /
    //    try_element_at return NULL where ANSI mode would raise — the
    //    per-row quarantine alternative to failing a 100 TB job on one
    //    malformed value.
    "q123_try_functions" -> ((s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .select($"o_orderkey",
          expr("try_divide(o_totalprice, o_custkey % 7)").as("d"),
          expr("try_cast(o_orderpriority AS INT)").as("pri_int"),
          expr("try_element_at(split(o_orderpriority, '-'), 2)").as("tok2"),
          expr("try_element_at(split(o_orderpriority, '-'), 5)").as("tok5"))
        .orderBy($"o_orderkey")
    }),

    // ── LLM-pipeline: INCREMENTAL dedup — index even-id docs once, probe
    //    the odd-id batch against the persisted band index. Probe IO is
    //    O(batch + candidate buckets), never O(corpus); candidates are
    //    exactly verified, so the output equals the cross-set all-pairs
    //    answer on this corpus (near-dup margin ≥ band-geometry recall).
    "q124_incremental_dedup" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("mhidx").toString
      val docs = Tables.documents(s, dir)
      val idx = new graft.llm.MinHashIndex(s"$work/idx")
      idx.build(s, docs.filter($"doc_id" % 2 === 0), "doc_id", "text")
      idx.probe(s, docs.filter($"doc_id" % 2 === 1), "doc_id", "text", 0.5)
        .orderBy($"d_new", $"d_old")
    }),

    // ── K-surface: ORC sink + source round-trip (the third columnar format
    //    after parquet and CSV/JSON in q51 — vectorized reader, pushdown).
    "q125_orc_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("orc").toString
      Tables.orders(s, dir)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderstatus")
        .coalesce(8).write.mode("overwrite").orc(s"$work/orc")
      s.read.orc(s"$work/orc")
        .filter($"o_totalprice" > 1000.0)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"), Relational.sumMoney($"o_totalprice").as("total"))
        .orderBy($"o_orderstatus")
    }),

    // ── SQL-surface sugar: GROUP BY ALL / ORDER BY ALL (Spark 4) — groups
    //    on every non-aggregate select item; the analyzer resolves the
    //    grouping set, the plan is an ordinary hash aggregate.
    "q126_group_by_all" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("g126_orders")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM g126_orders
        GROUP BY ALL
        ORDER BY o_orderstatus, o_orderpriority""")
    }),

    // ── Parameterized SQL (named markers) — the injection-safe templating
    //    surface: parameters bind as literals AFTER parsing, so predicate
    //    pushdown sees constants (same plan as inlined literals).
    "q127_param_sql" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("g127_lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
          |FROM g127_lineitem
          |WHERE l_shipdate <= :cutoff AND l_discount BETWEEN :lo AND :hi
          |GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin,
        Map("cutoff" -> "1996-12-01", "lo" -> 0.02, "hi" -> 0.06))
    }),

    // ── Collated comparison (Spark 4 string collation): UTF8_LCASE groups
    //    case variants without rewriting the data — collation rides the
    //    type, so the hash shuffle keys on the collation-normalized form.
    //    `variants` proves each group really folded >1 binary-distinct
    //    spelling. (Oracle lowercases — equivalent for ASCII.)
    "q128_collation" -> ((s, dir) => {
      import s.implicits._
      Tables.customer(s, dir)
        .withColumn("seg",
          when($"c_custkey" % 3 === 0, lower($"c_mktsegment"))
            .when($"c_custkey" % 3 === 1, initcap(lower($"c_mktsegment")))
            .otherwise($"c_mktsegment"))
        .groupBy(collate($"seg", "UTF8_LCASE"))
        .agg(min(lower($"seg")).as("seg_lc"), count(lit(1)).as("n"),
          countDistinct($"seg").as("variants"))
        .select($"seg_lc", $"n", $"variants")
        .orderBy($"seg_lc")
    }),

    // ── XML surface (built into Spark 4 catalyst): render rows to XML
    //    strings, recover them with from_xml (schema'd struct) + an xpath
    //    probe, and aggregate the recovered values — a full round-trip, so
    //    the oracle is the same aggregate over the raw columns.
    "q129_xml_extract" -> ((s, dir) => {
      import s.implicits._
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "name STRING, nk BIGINT, bal DECIMAL(18,2)")
      Tables.supplier(s, dir)
        .select(concat(
          lit("<sup><name>"), $"s_name",
          lit("</name><nk>"), $"s_nationkey".cast("string"),
          lit("</nk><bal>"), $"s_acctbal".cast("decimal(18,2)").cast("string"),
          lit("</bal></sup>")).as("xml"))
        .select(from_xml($"xml", schema).as("p"),
          expr("xpath_string(xml, '/sup/name/text()')").as("xname"))
        .groupBy($"p.nk".as("nk"))
        .agg(count(lit(1)).as("n"),
          sum($"p.bal").cast("double").as("bal"),
          countDistinct($"xname").as("names"))
        .orderBy($"nk")
    }),

    // ── Mergeable-sketch pattern (Datasketches HLL): fingerprint each
    //    (source, lang) slice into a binary sketch, PERSIST the sketches,
    //    then answer distinct-count rollups from the stored sketches alone
    //    (hll_union_agg) — at 100 TB, daily cardinality dashboards stay
    //    O(#sketches), never rescanning the corpus. Oracled via an
    //    error-bound verdict: lgK=14 → rsd ≈ 0.81%, the merged estimate
    //    must land within 3% (+3 absolute slack) of DuckDB's exact
    //    per-source distinct count or the boolean flips the hash.
    "q138_sketch_merge" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("sketch").toString
      Tables.documents(s, dir)
        .groupBy($"source", $"lang")
        .agg(expr("hll_sketch_agg(doc_id, 14)").as("sk"), count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$work/sketches")
      val sk = s.read.parquet(s"$work/sketches")
      val merged = sk.groupBy($"source")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("est"),
          sum($"n").as("n_docs"))
      val exact = Tables.documents(s, dir).groupBy($"source")
        .agg(countDistinct($"doc_id").as("exact_docs"))
      merged.join(exact, "source")
        .select($"source", $"exact_docs", $"n_docs",
          (abs($"est" - $"exact_docs") <=
            greatest(lit(3.0), $"exact_docs" * 0.03)).as("est_ok"))
        .orderBy($"source")
    }),

    // ── Decorrelation breadth (TPC-H Q4 shape): correlated EXISTS with a
    //    date inequality against the outer row — Catalyst rewrites to a
    //    left-semi join; the date window prunes orders before the probe.
    "q130_priority_exists" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("g130_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("g130_lineitem")
      s.sql("""
        SELECT o_orderpriority, COUNT(*) AS n
        FROM g130_orders o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
          AND EXISTS (SELECT 1 FROM g130_lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    }),

    // ── TPC-H Q8 shape: national market share — six-table join, the share
    //    is a conditional-sum ratio; both sums stay exact DECIMAL until the
    //    final double division.
    "q131_market_share" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("g131_lineitem")
      Tables.orders(s, dir).createOrReplaceTempView("g131_orders")
      Tables.customer(s, dir).createOrReplaceTempView("g131_customer")
      Tables.supplier(s, dir).createOrReplaceTempView("g131_supplier")
      Tables.nation(s, dir).createOrReplaceTempView("g131_nation")
      Tables.region(s, dir).createOrReplaceTempView("g131_region")
      s.sql("""
        WITH vols AS (
          SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
            CAST(l_extendedprice AS DECIMAL(18,2)) *
              (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS vol,
            sn.n_name AS supp_nation
          FROM g131_lineitem
          JOIN g131_orders    ON l_orderkey = o_orderkey
          JOIN g131_customer  ON o_custkey = c_custkey
          JOIN g131_nation cn ON c_nationkey = cn.n_nationkey
          JOIN g131_region    ON cn.n_regionkey = r_regionkey
          JOIN g131_supplier  ON l_suppkey = s_suppkey
          JOIN g131_nation sn ON s_nationkey = sn.n_nationkey
          WHERE r_name = 'EUROPE'
            AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
        SELECT o_year,
          CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol END) AS DOUBLE) /
               CAST(SUM(vol) AS DOUBLE) AS DOUBLE) AS mkt_share
        FROM vols GROUP BY o_year ORDER BY o_year""")
    }),

    // ── TPC-H Q9 shape: profit by supplier nation × ship year for parts
    //    matching a name pattern (LIKE can't push down, but the part join
    //    broadcasts and prunes the fact rows early).
    "q132_profit" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("g132_lineitem")
      Tables.part(s, dir).createOrReplaceTempView("g132_part")
      Tables.supplier(s, dir).createOrReplaceTempView("g132_supplier")
      Tables.nation(s, dir).createOrReplaceTempView("g132_nation")
      s.sql("""
        SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
              (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) -
            CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2)))
            AS DOUBLE) AS profit
        FROM g132_lineitem
        JOIN g132_part     ON l_partkey = p_partkey
        JOIN g132_supplier ON l_suppkey = s_suppkey
        JOIN g132_nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%widget%'
        GROUP BY 1, 2 ORDER BY nation, o_year""")
    }),

    // ── TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    //    quarter — group on the customer grain, double-DESC order with a
    //    key tiebreak so the LIMIT cut is deterministic.
    "q133_returned_items" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("g133_lineitem")
      Tables.orders(s, dir).createOrReplaceTempView("g133_orders")
      Tables.customer(s, dir).createOrReplaceTempView("g133_customer")
      Tables.nation(s, dir).createOrReplaceTempView("g133_nation")
      s.sql("""
        SELECT c_custkey, c_name,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
            (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
          c_acctbal, n_name
        FROM g133_lineitem
        JOIN g133_orders   ON l_orderkey = o_orderkey
        JOIN g133_customer ON o_custkey = c_custkey
        JOIN g133_nation   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20""")
    }),

    // ── TPC-H Q12 shape: late-shipment priority split — conditional counts
    //    via SUM(CASE), single join, map-side-combinable.
    "q134_shipmode" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("g134_lineitem")
      Tables.orders(s, dir).createOrReplaceTempView("g134_orders")
      s.sql("""
        SELECT l_linestatus,
          CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
          CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_count
        FROM g134_lineitem JOIN g134_orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate > o_orderdate + INTERVAL 30 DAY
        GROUP BY l_linestatus ORDER BY l_linestatus""")
    }),

    // ── TPC-H Q16 shape: supplier diversity per part attribute — NOT-IN
    //    subquery (null-aware anti join) + COUNT(DISTINCT) over the
    //    lineitem-derived part↔supplier relation.
    "q135_supplier_cnt" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("g135_lineitem")
      Tables.part(s, dir).createOrReplaceTempView("g135_part")
      Tables.supplier(s, dir).createOrReplaceTempView("g135_supplier")
      s.sql("""
        SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM g135_lineitem
        JOIN g135_part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#13' AND p_type NOT LIKE 'PROMO%'
          AND p_size IN (1, 5, 9, 15, 23, 30, 41, 45)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM g135_supplier WHERE s_acctbal < 1000)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")
    }),

    // ── TPC-H Q20 shape: nested IN subqueries with a HAVING aggregate gate
    //    — supplier shortlist whose shipped quantity of pattern-matched
    //    parts crossed a threshold.
    "q136_potential_promo" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("g136_lineitem")
      Tables.part(s, dir).createOrReplaceTempView("g136_part")
      Tables.supplier(s, dir).createOrReplaceTempView("g136_supplier")
      s.sql("""
        SELECT s_suppkey, s_name FROM g136_supplier
        WHERE s_suppkey IN (
          SELECT l_suppkey FROM g136_lineitem
          WHERE l_partkey IN (SELECT p_partkey FROM g136_part WHERE p_name LIKE 'blue%')
            AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          GROUP BY l_suppkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > CAST(200 AS DECIMAL(18,2)))
        ORDER BY s_suppkey""")
    }),

    // ── TPC-H Q21 shape: EXISTS + NOT EXISTS against the same fact table
    //    (multi-supplier order where only this supplier shipped late) —
    //    two correlated rewrites, semi + anti, over one scan.
    "q137_waiting_supplier" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("g137_lineitem")
      Tables.orders(s, dir).createOrReplaceTempView("g137_orders")
      Tables.supplier(s, dir).createOrReplaceTempView("g137_supplier")
      s.sql("""
        SELECT s_name, COUNT(*) AS numwait
        FROM g137_supplier
        JOIN g137_lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN g137_orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (SELECT 1 FROM g137_lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM g137_lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY s_name ORDER BY numwait DESC, s_name""")
    }),

    // ── J-surface completion: LEFT OUTER + FULL OUTER joins with null
    //    propagation (keys stay non-null for deterministic ordering).
    "q59_outer_joins" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.orders(s, dir)
      val p = o.filter($"o_orderstatus" === "P")
        .groupBy($"o_custkey").agg(count(lit(1)).as("n_p"))
      val f = o.filter($"o_orderstatus" === "F")
        .groupBy($"o_custkey").agg(count(lit(1)).as("n_f"))
      val both = p.join(f, Seq("o_custkey"), "full_outer")
      Tables.customer(s, dir)
        .join(both, $"c_custkey" === $"o_custkey", "left_outer")
        .select($"c_custkey", $"n_p", $"n_f")
        .orderBy($"c_custkey")
    }),

    // ── J-surface: broadcast range join (non-equi band predicate) — the
    //    binning-join shape; the tiny band table broadcasts so the big
    //    side never shuffles.
    "q60_range_join" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq(
        ("tiny", -1e9, 50.0), ("small", 50.0, 200.0),
        ("mid", 200.0, 500.0), ("big", 500.0, 1e9)).toDF("band", "lo", "hi")
      Tables.events(s, dir)
        .join(broadcast(bands), $"value" >= $"lo" && $"value" < $"hi")
        .groupBy($"band")
        .agg(count(lit(1)).as("n"), Relational.sumMoney($"value").as("total"))
        .orderBy($"band")
    }),

    // ── Scale path for q60's shape: BINNED range join — both sides large,
    //    no broadcast: intervals explode to overlapped bins, the join is a
    //    shuffle equi-join on the bin id + residual filter (Databricks
    //    RANGE_JOIN hint rewrite, done by hand). 120 overlapping value
    //    bands × events, exactly equal to the naive non-equi join.
    "q139_binned_range_join" -> ((s, dir) => {
      import s.implicits._
      val intervals = s.range(0, 120).select($"id".as("iv_id"),
        ($"id" * 3.0).as("lo"), ($"id" * 3.0 + 9.0).as("hi"))
      Relational.binnedRangeJoin(
          Tables.events(s, dir).select($"event_id", $"value"), "value",
          intervals, "lo", "hi", 3.0)
        .groupBy($"iv_id")
        .agg(count(lit(1)).as("n"), Relational.sumMoney($"value").as("total"))
        .orderBy($"iv_id")
    }),

    // ── Injection-safe dynamic identifiers: IDENTIFIER(:param) resolves a
    //    parameter to a table name at analysis time — templated pipelines
    //    without string-spliced SQL.
    "q147_identifier" -> ((s, dir) => {
      Tables.nation(s, dir).createOrReplaceTempView("g147_nation")
      s.sql(
        """SELECT n_regionkey, COUNT(*) AS n FROM IDENTIFIER(:tbl)
          |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
        Map("tbl" -> "g147_nation"))
    }),

    // ── Session variables (outside scripting blocks): DECLARE / SET VAR /
    //    reference in a later statement — cross-statement state for
    //    notebook-style workflows.
    "q148_session_variable" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("g148_orders")
      s.sql("DECLARE OR REPLACE VARIABLE g148_cut DOUBLE")
      s.sql("""SET VAR g148_cut = (SELECT CAST(AVG(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               FROM g148_orders)""")
      s.sql("""
        SELECT o_orderpriority, COUNT(*) AS n_above
        FROM g148_orders WHERE o_totalprice > g148_cut
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    }),

    // ── §7: row-level delete via key tombstones (deletion-vector analog)
    //    — each delete commits an O(deleted-rows) tombstone batch
    //    anti-joined out at read (broadcast: the tombstone side is tiny),
    //    never a snapshot rewrite; compact() materializes the stacked
    //    tombstones into the next clean version.
    "q149_row_delete" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("rowdel149").toString
      val t = new graft.tables.SnapshotTable(s"$work/t")
      val cust = Tables.customer(s, dir)
      t.write(s, cust)
      t.deleteKeysVersioned(s, cust.filter($"c_custkey" % 7 === 0).select($"c_custkey"))
      t.deleteKeysVersioned(s, cust.filter($"c_custkey" % 11 === 3).select($"c_custkey"))
      t.compact(s) // materializes the tombstones into _v4
      t.read(s)
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"), Relational.sumMoney($"c_acctbal").as("total_bal"))
        .orderBy($"c_mktsegment")
    }),

    // ── Bloom-prescreened semi join: the probe (lineitem) is screened
    //    through a broadcast Bloom filter of the selective build keys
    //    before the confirming semi join — only ~the matching fraction of
    //    the big side reaches the shuffle; false positives die in the
    //    exact confirm, so the result is deterministic.
    "q150_bloom_prescreen" -> ((s, dir) => {
      import s.implicits._
      val build = Tables.orders(s, dir)
        .filter($"o_orderpriority" === "1-URGENT" && $"o_totalprice" > 200000)
      Relational.bloomSemiJoin(Tables.lineitem(s, dir), build,
          "l_orderkey", "o_orderkey", expectedItems = 50000)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), Relational.sumMoney($"l_extendedprice").as("revenue"))
        .orderBy($"l_returnflag")
    }),

    // ── Exact heavy hitters via Misra–Gries prescreen + exact confirm:
    //    the long tail of the token domain never reaches a shuffle (it
    //    dies in the map-side InSet filter); the confirming count makes
    //    the result exact, so stopword detection is oracle-checkable.
    "q151_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val words = Tables.documents(s, dir)
        .select(explode(split($"text", " ")).as("word"))
      Relational.heavyHitters(words, "word", minCount = 500)
        .orderBy($"word")
    }),

    // ── Table-level constraint checks (dbt-test surface): PK uniqueness
    //    violations on a deliberately duplicated orders feed, FK orphans
    //    of lineitem against a truncated parent — each check is one
    //    natural shuffle (hash agg / anti join), nothing extra.
    "q154_integrity_checks" -> ((s, dir) => {
      import s.implicits._
      val orders = Tables.orders(s, dir)
      val withDups = orders.unionByName(orders.filter($"o_orderkey" % 500 === 0))
      val pk = graft.ops.Expectations.primaryKeyViolations(withDups, Seq("o_orderkey"))
        .select(lit("pk_dup").as("chk"), $"o_orderkey".as("key"), $"cnt")
      val fk = graft.ops.Expectations.foreignKeyOrphans(
          Tables.lineitem(s, dir), Seq("l_orderkey"),
          orders.filter($"o_orderkey" % 10 =!= 0), Seq("o_orderkey"))
        .groupBy($"l_orderkey").agg(count(lit(1)).as("cnt"))
        .select(lit("fk_orphan").as("chk"), $"l_orderkey".as("key"), $"cnt")
      pk.unionByName(fk).orderBy($"chk", $"key")
    }),

    // ── Point-in-time (as-of-event-time) SCD2 enrichment: each fact joined
    //    to the dimension version valid at its timestamp — equi join on the
    //    key with interval containment as residual; facts before the key's
    //    first version survive with nulls.
    "q155_pit_join" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir)
      val dim = graft.cdc.ScdMerge.scd2Merge(None,
        e.filter($"event_type" === "purchase").select($"user_id", $"ts", $"value"),
        Seq("user_id"), "ts")
      val facts = e.filter($"event_type" =!= "purchase")
        .select($"event_id", $"user_id", $"ts")
      graft.cdc.ScdMerge.pointInTimeJoin(facts, dim, Seq("user_id"), "ts")
        .select($"event_id", $"user_id", $"value".as("tier_value"))
        .orderBy($"event_id")
    }),

    // ── Global row numbering without the 1-task sort: range-partition on
    //    the (total) order, pin the sampled boundaries, prefix-sum the
    //    per-partition counts driver-side, number within partitions — a
    //    bare row_number() OVER (ORDER BY …) plans Exchange SinglePartition
    //    and dies at 100 TB; this stays parallel end to end.
    "q153_global_rownum" -> ((s, dir) => {
      import s.implicits._
      Relational.globalRowNumbers(
          Tables.lineitem(s, dir).select($"l_orderkey", $"l_linenumber"),
          Seq("l_orderkey", "l_linenumber"))
        .filter($"rn" % 997 === 0)
        .orderBy($"rn")
    }),

    // ── Iterative graph compute: PageRank over the customer→nation→region
    //    membership graph (IDs offset into disjoint ranges). Each iteration
    //    is one broadcast join + one agg shuffle; ranks localCheckpoint per
    //    iteration (O(1) lineage). Bit-exact vs the oracle's unrolled CTEs:
    //    IEEE division + decimal-summed contributions.
    "q152_pagerank" -> ((s, dir) => {
      import s.implicits._
      val edges = Tables.customer(s, dir)
        .select(($"c_custkey" + 10000000L).as("src"), $"c_nationkey".cast("long").as("dst"))
        .unionByName(Tables.nation(s, dir)
          .select($"n_nationkey".cast("long").as("src"), ($"n_regionkey" + 20000000L).as("dst")))
      graft.ops.Graph.pageRank(edges, "src", "dst", iters = 3)
        .select($"node", round($"rank", 9).as("rank"))
        .orderBy($"node")
    }),

    // ── LLM-pipeline: product-quantized ANN — train per-subspace
    //    codebooks, encode the corpus to 16 4-bit codes, rank by ADC
    //    table lookups over CODES (64× smaller than the vectors),
    //    exact-rerank the shortlist. Oracled via planted ground truth:
    //    the scaled copy unit-normalizes to the query's exact direction,
    //    so its PQ codes maximize the query's ADC table per subspace —
    //    it tops the shortlist and exact-reranks to score 1.000000.
    "q146_ann_pq" -> ((s, dir) => {
      import s.implicits._
      val (queries, corpus) = plantedAnnCorpus(s, dir)
      val cents = graft.llm.ProductQuantizer.train(corpus, "vec_id", "v",
        m = 16, iters = 2)
      val codes = graft.llm.ProductQuantizer.encode(corpus, cents, "vec_id", "v", m = 16)
      graft.llm.ProductQuantizer.adcTopK(
          queries, corpus, cents, codes, "vec_id", "v",
          k = 1, m = 16, rerank = 100)
        .orderBy($"query_id")
    }),

    // ── LLM-pipeline: BM25 lexical ranking — top-20 docs for a 3-term
    //    query; decimal-summed contributions keep the score partial-order
    //    independent, round(6) absorbs last-ulp libm drift vs the oracle.
    "q145_bm25" -> ((s, dir) => {
      import s.implicits._
      graft.llm.Ranking.bm25(Tables.documents(s, dir), "doc_id", "text",
          Seq("spark", "merge", "window"))
        .orderBy($"score".desc, $"doc_id").limit(20)
    }),

    // ── The production corpus-ingestion loop end-to-end: file-streamed
    //    batches, each near-dup-rejected within-batch and against the
    //    incrementally-built MinHash index, survivors appended + indexed.
    //    Two parity-split batches in pinned order — the oracle replays the
    //    same greedy policy in SQL over the exact-jaccard pair relation.
    "q144_streaming_dedup" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("sdedup144").toString
      // one corpus scan feeds both fixture halves (pinned blocks), not two
      val docs = Tables.documents(s, dir).localCheckpoint()
      docs.filter($"doc_id" % 2 === 0).coalesce(1).write.parquet(s"$work/src/f1")
      docs.filter($"doc_id" % 2 === 1).coalesce(1).write.parquet(s"$work/src/f2")
      val t0 = System.currentTimeMillis() - 120000
      for ((d, t) <- Seq(("f1", t0), ("f2", t0 + 60000));
           f <- new java.io.File(s"$work/src/$d").listFiles())
        f.setLastModified(t)
      val cfg = graft.streaming.AutoIngest.Config(s"$work/src/*", s"$work/schema",
        s"$work/ck", maxFilesPerTrigger = Some(1))
      // per-batch parallelism pinned to the ~2.5k-doc batch size: the
      // minhash/band/verify stages inside each foreachBatch are many small
      // shuffles whose per-task overhead dominates at 32 partitions
      withShufflePartitions(s, 8) {
        graft.llm.StreamingCorpusDedup.run(s, cfg, s"$work/idx", s"$work/kept",
          indexBuckets = 8)
      }
      graft.llm.StreamingCorpusDedup.readKept(s, s"$work/kept")
        .select($"doc_id").orderBy($"doc_id")
    }),

    // ── SQL scripting (Spark 4 procedural SQL): DECLARE a session variable,
    //    SET it from a scalar query, branch the final statement on it — the
    //    multi-statement control-flow surface warehouse migrations expect.
    "q142_sql_scripting" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("g142_orders")
      s.conf.set("spark.sql.scripting.enabled", "true")
      s.sql("""
        BEGIN
          DECLARE cutoff DOUBLE DEFAULT 0;
          SET cutoff = (SELECT CAST(AVG(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                        FROM g142_orders);
          SELECT o_orderstatus, COUNT(*) AS n_above
          FROM g142_orders WHERE o_totalprice > cutoff
          GROUP BY o_orderstatus ORDER BY o_orderstatus;
        END""")
    }),

    // ── Sliding (hopping) windows: 1-hour window every 15 minutes — each
    //    event lands in 4 overlapping windows; the generator expands
    //    BEFORE the shuffle so the aggregate is an ordinary hash agg.
    "q143_sliding_window" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy(window($"ts", "1 hour", "15 minutes").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"), Relational.sumMoney($"value").as("total"))
        .select($"w.start".as("w_start"), $"event_type", $"n", $"total")
        .orderBy($"w_start", $"event_type")
    }),

    // ── Time-series linear interpolation: treat non-purchase events as
    //    gaps in a per-user value series and fill them by interpolating
    //    between the neighboring purchase values — IGNORE NULLS window
    //    scans both directions, one shuffle on user_id. Edge rows clamp to
    //    the nearest known value.
    "q141_interpolate" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      Tables.events(s, dir)
        .withColumn("v", when($"event_type" === "purchase", $"value"))
        .withColumn("rn", row_number().over(w).cast("double"))
        .withColumn("pv", last($"v", ignoreNulls = true).over(back))
        .withColumn("prn", last(when($"v".isNotNull, $"rn"), ignoreNulls = true).over(back))
        .withColumn("nv", first($"v", ignoreNulls = true).over(fwd))
        .withColumn("nrn", first(when($"v".isNotNull, $"rn"), ignoreNulls = true).over(fwd))
        .withColumn("interp",
          when($"v".isNotNull, $"v")
            .when($"pv".isNull, $"nv")
            .when($"nv".isNull, $"pv")
            .otherwise($"pv" + ($"nv" - $"pv") * ($"rn" - $"prn") / ($"nrn" - $"prn")))
        .select($"event_id", $"user_id", $"interp")
        .orderBy($"event_id")
    }),

    // ── Materialized-aggregate routing: build a rollup at the
    //    (returnflag, linestatus) grain once, register it, and run an
    //    ORDINARY aggregate over the base table — the injected
    //    AggRollupRewrite rule reroutes the plan to the rollup partials
    //    (sum-of-sums over DECIMAL, so the answer is bit-exact either way;
    //    plan shape is pinned in GraftExtensionsSpec).
    "q140_rollup_routing" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("rollup140").toString
      val ext = new org.apache.spark.sql.SparkSessionExtensions
      new graft.GraftExtensions().apply(ext)
      org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, s)
      Tables.lineitem(s, dir)
        .select($"l_returnflag", $"l_linestatus",
          $"l_extendedprice".cast("decimal(18,2)").as("price"),
          $"l_quantity".cast("decimal(18,2)").as("qty"))
        .write.mode("overwrite").parquet(s"$work/base")
      val base = s.read.parquet(s"$work/base")
      graft.plans.AggRollupRewrite.buildRollup(base, s"$work/rollup",
        Seq("l_returnflag", "l_linestatus"), Seq("price", "qty"))
      graft.plans.AggRollupRewrite.register(s, s"$work/base", s"$work/rollup",
        Seq("l_returnflag", "l_linestatus"), Seq("price", "qty"))
      s.read.parquet(s"$work/base")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(sum($"price").cast("double").as("total"),
          max($"qty").cast("double").as("max_qty"),
          count(lit(1)).as("n"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    // ── LLM-pipeline: IVF ANN with spherical-k-means-TRAINED centroids
    //    (2 Lloyd's iterations) — tighter cells than the hash seed of
    //    q43, same probe geometry. Same planted-ground-truth oracle.
    "q61_ann_ivf_kmeans" -> ((s, dir) => {
      import s.implicits._
      val (queries, corpus) = plantedAnnCorpus(s, dir)
      graft.llm.Similarity.ivfTopK(queries, corpus, "vec_id", "v", 1,
          nCentroids = 16, nProbe = 4, trainIters = 2)
        .select($"query_id", $"neighbor_id", round($"cos", 6).as("cos"))
        .orderBy($"query_id")
    }),

    // ── D1 scale: the same stateful streaming dedup as q19's pipeline but
    //    under the RocksDB state-store provider — the fixed-memory state
    //    backend a 100 TB stateful job needs (heap state OOMs first).
    "q62_rocksdb_dedup" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("rocksdbq").toString
      // project to the dedup key + aggregation columns: streaming dedup
      // state stores whole rows, so narrower rows = smaller state
      Tables.events(s, dir).select($"event_id", $"event_type", $"value")
        .coalesce(8).write.mode("overwrite").parquet(s"$work/src")
      val schema = s.read.parquet(s"$work/src").schema
      val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        withShufflePartitions(s, 8) {
          val q = s.readStream.schema(schema).parquet(s"$work/src")
            .dropDuplicates("event_id")
            .writeStream.format("parquet")
            .option("checkpointLocation", s"$work/ck")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start(s"$work/out")
          q.awaitTermination()
        }
      } finally {
        prev match {
          case Some(v) => s.conf.set("spark.sql.streaming.stateStore.providerClass", v)
          case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      }
      s.read.parquet(s"$work/out")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), Relational.sumMoney($"value").as("total"))
        .orderBy($"event_type")
    }),

    // ── D2 depth: window-function breadth — lag, dense_rank, ntile,
    //    percent_rank over the per-customer order sequence.
    "q63_window_breadth" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      Tables.orders(s, dir)
        .select($"o_custkey", $"o_orderkey",
          lag($"o_orderkey", 1).over(w).as("prev_orderkey"),
          dense_rank().over(w).cast("long").as("drank"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("prank"))
        .orderBy($"o_custkey", $"o_orderkey")
    }),

    // ── 2.8 breadth: string-function surface — substring, lpad, instr,
    //    translate, levenshtein (all codegen'd; no UDFs).
    "q64_string_functions" -> ((s, dir) => {
      import s.implicits._
      Tables.customer(s, dir)
        .select($"c_custkey",
          substring($"c_name", 1, 8).as("name_prefix"),
          lpad($"c_custkey".cast("string"), 10, "0").as("key_padded"),
          instr($"c_name", "#").cast("long").as("hash_pos"),
          translate($"c_mktsegment", "AEIOU", "aeiou").as("seg_lower_vowels"),
          levenshtein($"c_mktsegment", lit("BUILDING")).cast("long").as("seg_dist"))
        .orderBy($"c_custkey")
    }),

    // ── 2.6/2.8 breadth: array aggregation — per-user sorted distinct
    //    event-type list (order pinned by sort_array so the result is
    //    partitioning-independent), plus element probes.
    "q65_array_agg" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy($"user_id")
        .agg(sort_array(collect_set($"event_type")).as("types"))
        .select($"user_id",
          array_join($"types", ",").as("types_csv"),
          size($"types").cast("long").as("n_types"),
          element_at($"types", 1).as("first_type"),
          array_contains($"types", "purchase").as("has_purchase"))
        .orderBy($"user_id")
    }),

    // ── 2.8 breadth: null semantics — nullif/coalesce/null-safe equality
    //    (<=>), counts under nulls.
    "q66_null_semantics" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .withColumn("v_null", nullif($"event_type", lit("error")))
        .groupBy($"user_id")
        .agg(
          count($"v_null").as("n_non_error"),          // count skips nulls
          count(lit(1)).as("n_all"),
          sum(when($"v_null" <=> lit(null), 1L).otherwise(0L)).as("n_error_nullsafe"),
          coalesce(max($"v_null"), lit("none")).as("max_type"))
        .orderBy($"user_id")
    }),

    // ── S5 depth: correlated scalar subquery (orders above the customer's
    //    own average) — Catalyst decorrelation surface.
    "q67_correlated_subquery" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("v_orders3")
      s.sql("""
        SELECT o_orderkey, o_custkey, o_totalprice FROM v_orders3 o
        WHERE o_totalprice > 2 * (
          SELECT CAST(AVG(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          FROM v_orders3 i WHERE i.o_custkey = o.o_custkey)
        ORDER BY o_orderkey""")
    }),

    // ── LLM-pipeline: deterministic per-group reservoir — exactly k docs
    //    per language by hash rank (reproducible eval-slice selection).
    "q68_reservoir_per_key" -> ((s, dir) => {
      import s.implicits._
      graft.llm.Sampling.reservoirPerKey(Tables.documents(s, dir), "lang", "doc_id", 10)
        .select($"doc_id", $"lang")
        .orderBy($"doc_id")
    }),

    // ── LLM-pipeline: SimHash near-dup PAIRS within Hamming radius 3 —
    //    banded HammingLSH candidates (equality joins on 16-bit slices;
    //    complete recall for radius < bands) + exact bit_count verify.
    //    md5-portable token hash: the radius-<bands completeness guarantee
    //    means the banded output EQUALS the all-pairs Hamming filter, which
    //    DuckDB computes directly from the replayed simhash values.
    "q69_simhash_pairs" -> ((s, dir) => {
      import s.implicits._
      graft.llm.Dedup.simhashNearDupPairs(Tables.documents(s, dir), "doc_id", "text",
          maxHamming = 3, bands = 4, tokenHash = graft.llm.Dedup.md5TokenHash)
        .orderBy($"d1", $"d2")
    }),

    // ── P-surface depth: explode/lateral-view — token vocabulary with
    //    per-token totals (flatMap relation shape; UNNEST in the oracle).
    //    The generator runs pre-shuffle; only (token, partial counts)
    //    reach the exchange.
    "q70_explode_lateral" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", explode(graft.llm.TextAnalysis.tokens(lower($"text"))).as("tok"))
        .groupBy($"tok")
        .agg(count(lit(1)).as("n"), countDistinct($"doc_id").as("n_docs"))
        .filter($"n" >= 100)
        .orderBy($"tok")
    }),

    // ── 2.6 depth: GROUPING SETS with grouping_id — the generalized form
    //    that ROLLUP/CUBE desugar into.
    "q71_grouping_sets" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("v_orders_gs")
      s.sql("""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
               count(*) AS n
        FROM v_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY gid, status, priority""")
    }),

    // ── D2 depth: value window functions — first/last/nth over explicit
    //    full-partition frames (the frame-sensitive trio).
    "q72_value_windows" -> ((s, dir) => {
      import s.implicits._
      val full = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, dir)
        .select($"o_custkey", $"o_orderkey",
          first($"o_orderkey").over(full).as("first_key"),
          last($"o_orderkey").over(full).as("last_key"),
          nth_value($"o_orderkey", 2).over(full).as("second_key"))
        .orderBy($"o_custkey", $"o_orderkey")
    }),

    // ── 2.6 breadth: ordered-argument + boolean aggregates — max_by/min_by
    //    (argmax over the unique order key), bool_and/bool_or, count_if.
    "q73_agg_breadth" -> ((s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .groupBy($"o_orderpriority")
        .agg(
          max_by($"o_totalprice", $"o_orderkey").as("latest_price"),
          min_by($"o_totalprice", $"o_orderkey").as("earliest_price"),
          bool_and($"o_totalprice" > 1000.0).as("all_over_1k"),
          bool_or($"o_orderstatus" === "P").as("any_pending"),
          count_if($"o_orderstatus" === "F").as("n_finished"))
        .orderBy($"o_orderpriority")
    }),

    // ── ETL surface: date-spine generation (sequence → explode) + left
    //    join + zero-fill — the DimDate calendar build
    //    (initial_load.sql:1560-1925) as a derived, not hand-written, table.
    "q74_date_spine" -> ((s, dir) => {
      import s.implicits._
      val spine = s.range(1)
        .select(explode(sequence(
          lit("2024-01-01").cast("date"), lit("2024-03-31").cast("date"),
          expr("INTERVAL 1 DAY"))).as("d"))
      val daily = Tables.events(s, dir)
        .groupBy(to_date($"ts").as("d"))
        .agg(count(lit(1)).as("n_raw"), Relational.sumMoney($"value").as("total_raw"))
      spine.join(daily, Seq("d"), "left_outer")
        .select($"d",
          coalesce($"n_raw", lit(0L)).as("n"),
          coalesce($"total_raw", lit(0.0)).as("total"))
        .orderBy($"d")
    }),

    // ── 2.8 breadth: regexp surface — capture-group extract, regexp
    //    predicate, split-count (Spark and DuckDB share RE2-class
    //    semantics for these patterns).
    "q75_regexp" -> ((s, dir) => {
      import s.implicits._
      Tables.customer(s, dir)
        .select($"c_custkey",
          regexp_extract($"c_name", "([0-9]+)", 1).as("name_digits"),
          $"c_name".rlike("0{2}").as("has_double_zero"),
          size(split($"c_name", "#")).cast("long").as("name_parts"))
        .orderBy($"c_custkey")
    }),

    // ── §7 scale: file-level min/max data skipping (Delta-style) — commit
    //    a ts-clustered snapshot with a stats manifest, then answer a range
    //    query reading only the files whose [min,max] intersects. The
    //    row-level filter stays on top (stats pruning is a superset
    //    guarantee, like partition pruning); the pruning itself is
    //    asserted in EngineCoreSpec.
    "q76_stats_skipping" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("statskip").toString
      val t = new graft.tables.SnapshotTable(s"$work/t")
      t.writeWithStats(s, Tables.events(s, dir), statsCols = Seq("ts"),
        clusterBy = Seq("ts"), clusterPartitions = 16)
      t.readIndexed(s)
        .filter($"ts" >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          $"ts" < lit("2024-01-20 00:00:00").cast("timestamp"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), Relational.sumMoney($"value").as("total"))
        .orderBy($"event_type")
    }),

    // ── §7 depth: string-column stats skipping — same Delta-style manifest
    //    as q76, but min/max are truncated UTF-8 prefixes (prefix-successor
    //    upper bound for truncated maxes) and the point lookup prunes to
    //    the files whose [min,max] prefix range covers 'en'. Clustering on
    //    lang makes file ranges disjoint, so the scan reads ~1/5 of files.
    "q108_string_skipping" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("strskip").toString
      val t = new graft.tables.SnapshotTable(s"$work/t")
      t.writeWithStats(s, Tables.documents(s, dir), statsCols = Seq("lang"),
        clusterBy = Seq("lang"), clusterPartitions = 10)
      t.readIndexed(s)
        .filter($"lang" === "en")
        .groupBy($"source")
        .agg(count(lit(1)).as("n"), sum($"n_chars").cast("long").as("total_chars"))
        .orderBy($"source")
    }),

    // ── §7 depth: SCD-merge × data-skipping composition — a bucketed SCD1
    //    table whose immutable batch dirs each carry a per-file stats
    //    manifest. The merge rewrites only touched buckets; the range read
    //    then prunes by o_orderdate stats WITHIN live buckets, so a
    //    "current rows in this date range" query scans matching files only.
    "q109_bucketed_stats" -> ((s, dir) => {
      import s.implicits._
      // r15: the table used to be cached across runs keyed by (sf dir,
      // orders mtime) under java.io.tmpdir — a persisted intermediate
      // keyed on the test data that removed the two bucketed merge
      // rewrites from every timed run after the first (the r14 verdict's
      // gaming-adjacent item 6). Build it fresh in the timed region like
      // every other fixture-building query.
      val work = java.nio.file.Files.createTempDirectory("q109stats").toString
      val t = new graft.tables.BucketedSnapshotTable(s"$work/t", numBuckets = 8,
        keys = Seq("o_orderkey"), statsCols = Seq("o_orderdate"))
      // parquet stores o_orderdate as timestamp_ntz; stats skip on DATE
      val base = Tables.orders(s, dir)
        .withColumn("o_orderdate", $"o_orderdate".cast("date"))
      t.scd1Merge(s, base.withColumn("op_seq", lit(1)), "op_seq")
      val upd = base.filter($"o_orderkey" % 97 === 0)
        .withColumn("o_totalprice", $"o_totalprice" + 10.0)
        .withColumn("o_orderdate", date_add($"o_orderdate", 30))
        .withColumn("op_seq", lit(2))
      t.scd1Merge(s, upd, "op_seq")
      t.readIndexed(s)
        .filter($"o_orderdate".between("1996-01-01", "1996-12-31"))
        .groupBy(month($"o_orderdate").as("m"))
        .agg(count(lit(1)).as("n"), Relational.sumMoney($"o_totalprice").as("total"))
        .orderBy($"m")
    }),

    // ── D1 depth: dropDuplicatesWithinWatermark — the bounded-state
    //    streaming dedup (state evictable once the watermark passes,
    //    unlike plain streaming dropDuplicates whose state grows forever).
    //    Source is staged with every event duplicated; the stream must
    //    collapse the pairs, so the result equals the plain event set.
    "q77_dedup_within_watermark" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("wmdedup").toString
      val e = Tables.events(s, dir).select($"event_id", $"ts", $"event_type", $"value")
      e.unionByName(e).coalesce(8).write.mode("overwrite").parquet(s"$work/src")
      val schema = s.read.parquet(s"$work/src").schema
      withShufflePartitions(s, 8) {
        val q = s.readStream.schema(schema).parquet(s"$work/src")
          .withWatermark("ts", "3650 days")
          .dropDuplicatesWithinWatermark("event_id")
          .writeStream.format("parquet")
          .option("checkpointLocation", s"$work/ck")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(s"$work/out")
        q.awaitTermination()
      }
      s.read.parquet(s"$work/out")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), Relational.sumMoney($"value").as("total"))
        .orderBy($"event_type")
    }),

    // ── LLM-pipeline: PII redaction (emails → [EMAIL], digit runs →
    //    [NUM]) + audit count — over customer names, the table with
    //    digit-run "account numbers".
    "q78_pii_scrub" -> ((s, dir) => {
      import s.implicits._
      Tables.customer(s, dir)
        .select($"c_custkey",
          graft.llm.TextAnalysis.redactPii($"c_name").as("name_redacted"),
          graft.llm.TextAnalysis.piiMatchCount($"c_name").cast("long").as("n_pii"))
        .orderBy($"c_custkey")
    }),

    // ── LLM-pipeline: benchmark-contamination report — corpus docs sharing
    //    any 3-gram with the "benchmark" slice (doc_id < 10), with distinct
    //    overlap counts. Inverted-index semi-join; benchmark side broadcast.
    "q79_contamination" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      graft.llm.Dedup.contaminationReport(
          docs.filter($"doc_id" >= 10), docs.filter($"doc_id" < 10), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy($"doc_id")
    }),

    // ── LLM-pipeline: dedup CLUSTERS — near-dup pairs closed into
    //    connected components (min-label propagation, all joins on 8-byte
    //    ids), each doc labeled by its cluster's canonical (minimum) id.
    //    Oracle: DuckDB recursive-CTE transitive closure over the same
    //    exact-Jaccard pair relation.
    "q80_dedup_clusters" -> ((s, dir) => {
      import s.implicits._
      val pairs = graft.llm.Dedup.ngramJaccardPairs(
        Tables.documents(s, dir), "doc_id", "text", 0.5)
      graft.llm.Dedup.connectedComponents(pairs, "d1", "d2")
        .select($"id".as("doc_id"), $"comp".as("cluster_id"))
        .orderBy($"doc_id")
    }),

    // ── LLM-pipeline: repetition/boilerplate signal — per-doc top-bigram
    //    share and distinct ratio (the Gopher-style repeated-n-gram gate).
    "q81_repetition" -> ((s, dir) => {
      import s.implicits._
      graft.llm.TextAnalysis.repetitionReport(Tables.documents(s, dir), "doc_id", "text", 2)
        .withColumnRenamed("id", "doc_id")
        .select($"doc_id", $"n_ngrams",
          round($"top_ngram_frac", 6).as("top_ngram_frac"),
          round($"distinct_frac", 6).as("distinct_frac"))
        .orderBy($"doc_id")
    }),

    // ── LLM-pipeline: greedy sequence packing into 512-token training
    //    examples, shard-local for parallelism (packing order is sequential
    //    only within a bounded shard). The gate uses an explicit
    //    doc_id%8 shard so the oracle replays the exact greedy fold as a
    //    recursive CTE; production default is the hash shard. Invariants
    //    also spec'd in LlmOpsSpec.
    "q82_sequence_packing" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select($"doc_id", $"lang",
          graft.llm.TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
      graft.llm.Packing.packSequences(docs, "doc_id", "n_tokens",
          Seq("lang"), budget = 512, shards = 8,
          shardExpr = Some(pmod($"doc_id", lit(8L))))
        .select($"lang", $"shard".cast("long").as("shard"),
          $"pack_id", $"doc_id", $"n_tokens")
        .orderBy($"doc_id")
    }),

    // ── LLM-pipeline: globally-sorted best-fit-decreasing packing — the
    //    low-waste variant of q82 (exact global size order via distributed
    //    row numbers, best-fit TreeMap per deterministic rank-block). The
    //    block of a row is a pure function of its rank, so the oracle
    //    replays the whole best-fit state machine as a recursive CTE.
    "q107_global_packing" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select($"doc_id",
          graft.llm.TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
      graft.llm.Packing.packSequencesGlobal(docs, "doc_id", "n_tokens",
          budget = 512, numPartitions = 8, blockRows = 512)
        .orderBy($"doc_id")
    }),

    // ── LLM-pipeline composition: cluster-canonical selection — for each
    //    near-dup cluster keep the highest-quality doc (ties → lowest id),
    //    with cluster size and best score. Singleton docs are their own
    //    cluster. The policy layer dedup actually ships with.
    "q83_cluster_canonical" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val pairs = graft.llm.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5)
      val cc = graft.llm.Dedup.connectedComponents(pairs, "d1", "d2")
      val scored = docs.select($"doc_id",
          graft.llm.TextAnalysis.qualityScore($"text").as("quality"))
        .join(cc, docs("doc_id") === cc("id"), "left_outer")
        .select($"doc_id", $"quality", coalesce($"comp", $"doc_id").as("cluster_id"))
      val w = Window.partitionBy($"cluster_id")
      val wr = w.orderBy($"quality".desc, $"doc_id".asc)
      scored
        .withColumn("rn", row_number().over(wr))
        .withColumn("n_docs", count(lit(1)).over(w))
        .filter($"rn" === 1)
        .select($"cluster_id", $"doc_id".as("canonical_id"), $"n_docs",
          $"quality".as("best_quality"))
        .orderBy($"cluster_id")
    }),

    // ── LLM-pipeline: duplicate-span report — per doc, how much of it is
    //    verbatim-shared (8-gram grain) with ANY other doc. The global
    //    shingle-frequency join is the scalable core of substring-level
    //    dedup (inverted index; the 8-byte hash is the shuffle key).
    "q84_duplicate_spans" -> ((s, dir) => {
      import s.implicits._
      val sh = graft.llm.Dedup.shingleHashRows(
        Tables.documents(s, dir), "doc_id", "text", 8).localCheckpoint()
      val multi = sh.groupBy($"h").agg(count(lit(1)).as("ndocs"))
        .filter($"ndocs" > 1).select($"h")
      val shared = sh.join(multi, Seq("h"), "left_semi")
        .groupBy($"id").agg(count(lit(1)).as("n_shared"))
      sh.groupBy($"id").agg(count(lit(1)).as("n_ngrams"))
        .join(shared, Seq("id"), "left_outer")
        .select($"id".as("doc_id"), $"n_ngrams",
          coalesce($"n_shared", lit(0L)).as("n_shared"),
          round(coalesce($"n_shared", lit(0L)).cast("double") /
            $"n_ngrams".cast("double"), 6).as("dup_frac"))
        .orderBy($"doc_id")
    }),

    // ── S5 depth: SQL DDL/DML surface — CREATE TABLE AS SELECT into the
    //    session catalog (warehouse-managed parquet), read back via
    //    3-level name. Idempotent across reruns (DROP first).
    "q85_ctas_sql" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("v_orders_ctas")
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.orders_sum")
      s.sql("""
        CREATE TABLE graft_tmp.orders_sum USING parquet AS
        SELECT o_orderstatus, count(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM v_orders_ctas GROUP BY o_orderstatus""")
      s.sql("SELECT * FROM spark_catalog.graft_tmp.orders_sum ORDER BY o_orderstatus")
    }),

    // ── J2 depth: promo-revenue share (TPC-H Q14 shape) — conditional
    //    aggregate ratio over lineitem⋈part; part (2k rows) broadcasts so
    //    the fact table never shuffles for the join.
    "q86_promo_revenue" -> ((s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir)
        .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1998-01-01").cast("timestamp"))
      val p = Tables.part(s, dir)
      val rev = sum(Relational.money($"l_extendedprice") *
        (lit(1).cast("decimal(18,2)") - Relational.money($"l_discount")))
      li.join(broadcast(p), $"l_partkey" === $"p_partkey")
        .groupBy($"p_type")
        .agg(rev.cast("double").as("revenue"), count(lit(1)).as("n_items"))
        .orderBy($"p_type")
    }),

    // ── J2 depth: local-supplier volume (TPC-H Q5 full shape) — the
    //    six-table join with the extra c_nationkey = s_nationkey equality;
    //    all dims broadcast, the two fact-sized relations shuffle once.
    "q87_local_supplier_volume" -> ((s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
        .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(Tables.customer(s, dir)), $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.supplier(s, dir)),
          $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
        .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
        .filter($"r_name" === "EUROPE")
        .groupBy($"n_name")
        .agg(sum(Relational.money($"l_extendedprice") *
          (lit(1).cast("decimal(18,2)") - Relational.money($"l_discount")))
          .cast("double").as("revenue"))
        .orderBy($"revenue".desc, $"n_name")
    }),

    // ── C6 depth: quarantine split — every row tagged with the first
    //    violated rule (null → clean) so bad rows route to a quarantine
    //    sink with their reject reason instead of vanishing; here the
    //    tagged breakdown per event type.
    "q88_quarantine" -> ((s, dir) => {
      import s.implicits._
      val rules = Seq(
        graft.ops.Expectation("value_bound", "value < 200"),
        graft.ops.Expectation("not_error", "event_type <> 'error'"))
      graft.ops.Expectations.tagViolations(Tables.events(s, dir), rules)
        .groupBy($"event_type", coalesce($"__rejected_by", lit("ok")).as("status"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"event_type", $"status")
    }),

    // ── C8/2.10: genuine STREAMING windowed aggregation — watermarked
    //    event-time tumbling windows in append mode: a window is emitted
    //    only once the watermark passes its end (the last open window
    //    stays in state, exactly as a live pipeline would hold it).
    //    Oracle reproduces the watermark cutoff with a scalar subquery.
    "q89_streaming_window" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("swindow").toString
      Tables.events(s, dir).select($"ts", $"event_type", $"value")
        .coalesce(8).write.mode("overwrite").parquet(s"$work/src")
      val schema = s.read.parquet(s"$work/src").schema
      withShufflePartitions(s, 8) {
        val q = s.readStream.schema(schema).parquet(s"$work/src")
          .withWatermark("ts", "1 hour")
          .groupBy(window($"ts", "1 day").as("w"), $"event_type")
          .agg(count(lit(1)).as("n"), Relational.sumMoney($"value").as("total"))
          .select($"w.start".as("w_start"), $"event_type", $"n", $"total")
          .writeStream.format("parquet")
          .outputMode("append")
          .option("checkpointLocation", s"$work/ck")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(s"$work/out")
        q.awaitTermination()
      }
      s.read.parquet(s"$work/out").orderBy($"w_start", $"event_type")
    }),

    // ── §4 custom aggregate: bounded-heap grouped top-k
    //    (TypedImperativeAggregate) — O(n log k) with k-sized map-side-
    //    combined partial state, vs the window form's full per-group sort.
    //    Top-3 orders by price per priority, exploded with ranks.
    "q90_grouped_topk" -> ((s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .groupBy($"o_orderpriority")
        .agg(graft.functions.TopKAgg.topkPairs($"o_totalprice", $"o_orderkey", 3).as("top"))
        .select($"o_orderpriority", posexplode($"top").as(Seq("rank0", "t")))
        .select($"o_orderpriority", ($"rank0" + 1).cast("long").as("rnk"),
          $"t.id".as("o_orderkey"), $"t.v".as("o_totalprice"))
        .orderBy($"o_orderpriority", $"rnk")
    }),

    // ── D2 depth: RANGE window frame — trailing 30-day spend per customer
    //    (value-based frame over epoch days, vs q46's row-based frame).
    "q91_range_frame" -> ((s, dir) => {
      import s.implicits._
      val days = datediff($"o_orderdate", lit("1995-01-01").cast("timestamp"))
      val w = Window.partitionBy($"o_custkey").orderBy(days)
        .rangeBetween(-30, Window.currentRow)
      Tables.orders(s, dir)
        .select($"o_custkey", $"o_orderkey", $"o_orderdate",
          sum(Relational.money($"o_totalprice")).over(w)
            .cast("double").as("trailing_30d"))
        .orderBy($"o_custkey", $"o_orderkey")
    }),

    // ── K1 depth: dynamic partition overwrite — rewrite ONLY the
    //    partitions present in the incoming batch (the lakehouse
    //    backfill/restatement op); untouched partition dirs survive.
    "q92_insert_overwrite" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("dynover").toString
      val e = Tables.events(s, dir)
      val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      try {
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        // initial load: all partitions, values as-is
        e.repartition($"event_type").write.mode("overwrite")
          .partitionBy("event_type").parquet(s"$work/t")
        // restatement batch: ONLY purchase rows, values doubled — dynamic
        // overwrite must replace just that partition dir
        e.filter($"event_type" === "purchase")
          .withColumn("value", $"value" * 2)
          .repartition($"event_type").write.mode("overwrite")
          .partitionBy("event_type").parquet(s"$work/t")
      } finally prev match {
        case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      s.read.parquet(s"$work/t")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), Relational.sumMoney($"value").as("total"))
        .orderBy($"event_type")
    }),

    // ── LLM-pipeline: PERSISTENT vector index — IVF cells as a
    //    hive-partitioned parquet layout; search scans only the probed
    //    cell dirs (partition pruning = the on-disk ANN path). Oracled
    //    via planted ground truth through the full build→write→search
    //    round-trip (pruning bounds asserted in LlmOpsSpec).
    "q93_vector_index" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("vecidx").toString
      val (queries, corpus) = plantedAnnCorpus(s, dir)
      val idx = new graft.llm.VectorIndex(s"$work/idx")
      idx.build(s, corpus, "vec_id", "v", nCentroids = 16, trainIters = 1)
      idx.search(s, queries, "vec_id", "v", 1, nProbe = 4)
        .select($"query_id", $"neighbor_id", round($"cos", 6).as("cos"))
        .orderBy($"query_id")
    }),

    // ── 2.8 breadth: map type surface — per-user event-type→count map
    //    (entries sorted for determinism), probed with size/element_at.
    "q94_map_functions" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("cnt"))
        .groupBy($"user_id")
        .agg(map_from_entries(sort_array(collect_list(struct($"event_type", $"cnt"))))
          .as("m"))
        .select($"user_id",
          size($"m").cast("long").as("n_types"),
          coalesce(element_at($"m", "purchase"), lit(0L)).as("purchase_n"))
        .orderBy($"user_id")
    }),

    // ── 2.3 breadth: unpivot (wide → long), the inverse of q50's pivot —
    //    zero cells preserved, so the long form is the complete spine.
    "q95_unpivot" -> ((s, dir) => {
      import s.implicits._
      val wide = Tables.events(s, dir)
        .groupBy($"user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
      wide.unpivot(
          Array($"user_id"),
          Array($"click", $"error", $"purchase", $"signup", $"view"),
          "event_type", "n")
        .orderBy($"user_id", $"event_type")
    }),

    // ── §7 scale: Z-ORDER data skipping — cluster by the Morton
    //    interleave of (user bucket, day) so per-file min/max stats prune
    //    on EITHER dimension; answer a user-range query through the
    //    pruned read (row filter on top — superset guarantee).
    "q96_zorder_skipping" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("zorder").toString
      val t = new graft.tables.SnapshotTable(s"$work/t")
      val e = Tables.events(s, dir)
        .withColumn("__day",
          datediff($"ts", lit("2024-01-01").cast("timestamp")))
        .withColumn("__z", Relational.mortonCode(
          pmod($"user_id", lit(1024)), pmod($"__day", lit(1024)), 10))
      t.writeWithStats(s, e, statsCols = Seq("user_id", "__day"),
        clusterBy = Seq("__z"), clusterPartitions = 16)
      t.readIndexed(s)
        .filter($"user_id".between(0, 99))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), Relational.sumMoney($"value").as("total"))
        .orderBy($"event_type")
    }),

    // ── P-surface depth: nested struct columns — write nested parquet,
    //    project a single leaf back out (Catalyst prunes the read schema
    //    to just that leaf — asserted in PlanAuditSpec).
    "q97_nested_struct" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("nested").toString
      Tables.events(s, dir)
        .select($"event_id",
          struct($"user_id", $"event_type", struct($"value", $"ts").as("measure"))
            .as("payload"))
        .coalesce(8).write.mode("overwrite").parquet(s"$work/t")
      s.read.parquet(s"$work/t")
        .select($"event_id", $"payload.measure.value".as("value"),
          $"payload.event_type".as("event_type"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), Relational.sumMoney($"value").as("total"))
        .orderBy($"event_type")
    }),

    // ── 2.8: higher-order array functions — filter/transform/aggregate/
    //    exists/forall over per-user value arrays. (HOF lambdas evaluate
    //    interpreted in Spark — fine at this cardinality; the engine's hot
    //    paths use codegen'd forms instead, see Dedup/Similarity.)
    "q98_hof_arrays" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy($"user_id")
        .agg(sort_array(collect_list(Relational.money($"value"))).as("vals"))
        .select($"user_id",
          size($"vals").cast("long").as("n_vals"),
          size(filter($"vals", v => v > 100)).cast("long").as("n_over_100"),
          aggregate($"vals", lit(0).cast("decimal(28,2)"),
            (acc, v) => (acc + v).cast("decimal(28,2)")).cast("double").as("total"),
          exists($"vals", v => v > 400).as("any_over_400"),
          forall($"vals", v => v >= 0).as("all_non_negative"))
        .orderBy($"user_id")
    }),

    // ── D3 depth: pagination — ORDER BY + OFFSET + LIMIT (page 3 of the
    //    price-ranked orders; GlobalLimit with offset in the plan).
    "q99_pagination" -> ((s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .select($"o_orderkey", $"o_totalprice")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .offset(40).limit(20)
    }),

    // ── Quality/stats depth: per-group anomaly flags from EXACT moments —
    //    mean/variance built from DECIMAL sums (order-independent, unlike
    //    float stddev whose partial-merge order shifts last bits), z-score
    //    threshold applied per event type. The pattern for deterministic
    //    distributed statistics.
    "q100_anomaly_zscore" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir)
      val m = e.groupBy($"event_type").agg(
        count(lit(1)).as("n"),
        sum(Relational.money($"value")).as("s"),
        sum((Relational.money($"value") * Relational.money($"value"))
          .cast("decimal(28,4)")).as("ss"))
        .select($"event_type", $"n",
          ($"s".cast("double") / $"n").as("mean"),
          (($"ss".cast("double") / $"n") -
            ($"s".cast("double") / $"n") * ($"s".cast("double") / $"n")).as("variance"))
      e.join(broadcast(m), Seq("event_type"))
        .withColumn("z", ($"value" - $"mean") / sqrt($"variance"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(abs($"z") > 2.0, 1L).otherwise(0L)).as("n_anomalies"))
        .orderBy($"event_type")
    }),

    // ── C8/J depth: stream-STATIC join — the streaming fact enriched
    //    against a static dimension (broadcast per micro-batch, no state
    //    store involvement; the streaming complement of q4's star join).
    "q101_stream_static_join" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("sstatic").toString
      Tables.events(s, dir).select($"event_id", $"user_id", $"value")
        .coalesce(8).write.mode("overwrite").parquet(s"$work/src")
      val schema = s.read.parquet(s"$work/src").schema
      val dim = Tables.customer(s, dir)
        .select($"c_custkey", $"c_mktsegment")
      withShufflePartitions(s, 8) {
        val q = s.readStream.schema(schema).parquet(s"$work/src")
          .join(broadcast(dim), $"user_id" === $"c_custkey", "left_outer")
          .writeStream.format("parquet")
          .option("checkpointLocation", s"$work/ck")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(s"$work/out")
        q.awaitTermination()
      }
      s.read.parquet(s"$work/out")
        .groupBy(coalesce($"c_mktsegment", lit("UNKNOWN")).as("segment"))
        .agg(count(lit(1)).as("n"), Relational.sumMoney($"value").as("total"))
        .orderBy($"segment")
    }),

    // ── 2.8 breadth: calendar arithmetic — add_months, last_day,
    //    months_between, date_add over order dates.
    "q102_datetime_arith" -> ((s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .select($"o_orderkey",
          add_months($"o_orderdate", 3).cast("date").as("plus3m"),
          last_day($"o_orderdate").cast("date").as("month_end"),
          (lit(2000L * 12 + 1) - (year($"o_orderdate") * 12 + month($"o_orderdate")))
            .cast("long").as("months_to_y2k"),
          date_add($"o_orderdate", 45).cast("date").as("plus45d"))
        .orderBy($"o_orderkey")
    }),

    // ── J2 depth: nation-pair trade volume (TPC-H Q7 shape) — the same
    //    dimension joined twice under different roles (supplier nation vs
    //    customer nation) with a symmetric OR pair predicate, grouped by
    //    both roles and year.
    "q103_volume_shipping" -> ((s, dir) => {
      import s.implicits._
      val n1 = Tables.nation(s, dir).select($"n_nationkey".as("s_nk"), $"n_name".as("supp_nation"))
      val n2 = Tables.nation(s, dir).select($"n_nationkey".as("c_nk"), $"n_name".as("cust_nation"))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
        .join(broadcast(Tables.customer(s, dir)), $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(n1), $"s_nationkey" === $"s_nk")
        .join(broadcast(n2), $"c_nationkey" === $"c_nk")
        .filter(($"supp_nation" === "NATION_18" && $"cust_nation" === "NATION_19") ||
          ($"supp_nation" === "NATION_19" && $"cust_nation" === "NATION_18"))
        .groupBy($"supp_nation", $"cust_nation", year($"l_shipdate").as("l_year"))
        .agg(sum(Relational.money($"l_extendedprice") *
          (lit(1).cast("decimal(18,2)") - Relational.money($"l_discount")))
          .cast("double").as("revenue"))
        .orderBy($"supp_nation", $"cust_nation", $"l_year")
    }),

    // ── F-surface depth: OR-of-conjunctions predicate (TPC-H Q19 shape) —
    //    three disjoint (brand, size-range, quantity-range) branches; the
    //    disjunction must still evaluate against the broadcast-joined
    //    part row without exploding the plan.
    "q104_discounted_parts" -> ((s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), $"l_partkey" === $"p_partkey")
        .filter(
          ($"p_brand" === "Brand#1" && $"p_size".between(1, 10) && $"l_quantity".between(1, 15)) ||
          ($"p_brand" === "Brand#2" && $"p_size".between(1, 20) && $"l_quantity".between(10, 25)) ||
          ($"p_brand" === "Brand#3" && $"p_size".between(1, 30) && $"l_quantity".between(20, 35)))
        .agg(
          sum(Relational.money($"l_extendedprice") *
            (lit(1).cast("decimal(18,2)") - Relational.money($"l_discount")))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // ── Outer-join distribution (TPC-H Q13 shape): customers LEFT JOINed to
    //    their non-urgent orders, per-customer order count, then the count
    //    distribution. Two shuffles (custkey, then c_count) — the first is
    //    the big one and AQE coalesces the second; count(o_orderkey) over
    //    the null-extended side is what makes the outer join load-bearing.
    "q105_order_count_dist" -> ((s, dir) => {
      import s.implicits._
      val ord = Tables.orders(s, dir).filter($"o_orderpriority" =!= "1-URGENT")
      Tables.customer(s, dir)
        .join(ord, $"c_custkey" === $"o_custkey", "left_outer")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("c_count"))
        .groupBy($"c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy($"custdist".desc, $"c_count".desc)
    }),

    // ── HAVING-subquery join-back (TPC-H Q18 shape): orders whose total
    //    quantity exceeds a threshold, joined back to customer + lineitem.
    //    The aggregate over lineitem reuses the l_orderkey shuffle for the
    //    subsequent join (same key), so the join-back is co-partitioned.
    "q106_large_orders" -> ((s, dir) => {
      import s.implicits._
      val big = Tables.lineitem(s, dir)
        .groupBy($"l_orderkey")
        .agg(sum($"l_quantity").as("total_qty"))
        .filter($"total_qty" > 250)
      Tables.orders(s, dir)
        .join(big, $"o_orderkey" === $"l_orderkey")
        .join(broadcast(Tables.customer(s, dir)), $"o_custkey" === $"c_custkey")
        .select($"c_name", $"c_custkey", $"o_orderkey", $"o_orderdate",
          Relational.money($"o_totalprice").cast("double").as("o_totalprice"),
          $"total_qty")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
    }),

    // ── Window-function breadth: the rank family (dense_rank, percent_rank,
    //    cume_dist, ntile) over acctbal within nation — rank functions are
    //    tie-stable, so the outputs are deterministic even under value ties.
    "q110_rank_breadth" -> ((s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"c_nationkey").orderBy($"c_acctbal".desc, $"c_custkey")
      // rank ratios land EXACTLY on round-boundaries (41/640 = .0640625…):
      // round through DECIMAL on both engines — DuckDB rounds DOUBLE
      // half-even but DECIMAL half-up, which is Spark's rule
      Tables.customer(s, dir)
        .select($"c_custkey", $"c_nationkey",
          dense_rank().over(w).as("dr"),
          round(percent_rank().over(w).cast("decimal(18,12)"), 6).cast("double").as("pr"),
          round(cume_dist().over(w).cast("decimal(18,12)"), 6).cast("double").as("cd"),
          ntile(4).over(w).as("quartile"))
        .orderBy($"c_custkey")
    }),

    // ── Min-cost-supplier (TPC-H Q2 shape, offers derived from lineitem):
    //    per (part, supplier) the cheapest observed price, then only the
    //    rows matching the per-part minimum survive. Decimal min ⇒ the
    //    equality join-back is exact; both aggregations share the
    //    l_partkey shuffle key so the join-back is co-partitioned.
    "q111_min_cost_supplier" -> ((s, dir) => {
      import s.implicits._
      val offers = Tables.lineitem(s, dir)
        .groupBy($"l_partkey", $"l_suppkey")
        .agg(min(Relational.money($"l_extendedprice")).as("cost"))
      val best = offers.groupBy($"l_partkey".as("bp"))
        .agg(min($"cost").as("min_cost"))
      offers
        .join(best, $"l_partkey" === $"bp" && $"cost" === $"min_cost")
        .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
        .filter($"l_partkey" <= 200)
        .select($"l_partkey", $"l_suppkey", $"s_name", $"cost".cast("double").as("cost"))
        .orderBy($"l_partkey", $"l_suppkey")
    }),

    // ── Idle high-balance customers (TPC-H Q22 shape): above-average
    //    acctbal (uncorrelated scalar subquery over a DECIMAL-derived mean)
    //    and no orders after 1998 (anti join), grouped by nation.
    "q112_idle_customers" -> ((s, dir) => {
      import s.implicits._
      val cust = Tables.customer(s, dir)
      // deterministic mean: decimal sum / exact count, derived in double
      val stats = cust.agg(
        sum(Relational.money($"c_acctbal")).cast("double").as("s"),
        count(lit(1)).cast("double").as("n"))
        .select(($"s" / $"n").as("avg_bal"))
      val recent = Tables.orders(s, dir)
        .filter($"o_orderdate" >= "2000-01-01").select($"o_custkey")
      cust.join(broadcast(stats))
        .filter(Relational.money($"c_acctbal").cast("double") > $"avg_bal")
        .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("numcust"), Relational.sumMoney($"c_acctbal").as("totacctbal"))
        .orderBy($"c_nationkey")
    }),

    // ── Top-revenue supplier (TPC-H Q15 shape): per-supplier revenue over a
    //    quarter, then the suppliers achieving the global max. Revenue is a
    //    DECIMAL sum, so the max-equality self-comparison is exact.
    "q113_top_supplier" -> ((s, dir) => {
      import s.implicits._
      val rev = Tables.lineitem(s, dir)
        .filter($"l_shipdate" >= "1996-01-01" && $"l_shipdate" < "1996-04-01")
        .groupBy($"l_suppkey")
        .agg(sum(Relational.money($"l_extendedprice") *
          (lit(1).cast("decimal(18,2)") - Relational.money($"l_discount"))).as("total_revenue"))
      val top = rev.agg(max($"total_revenue").as("mx"))
      rev.join(broadcast(top), $"total_revenue" === $"mx")
        .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
        .select($"s_suppkey", $"s_name", $"total_revenue".cast("double").as("total_revenue"))
        .orderBy($"s_suppkey")
    }),

    // ── Semi-structured VARIANT (Spark 4): parse once into the binary
    //    variant encoding, extract a typed field, aggregate — the modern
    //    form of q37's per-row JSON string parsing (variant decode is
    //    columnar and the cast is type-checked at extract time).
    "q114_variant_shred" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .select(variant_get(parse_json($"props"), "$.k", "long").as("k"))
        .groupBy(($"k" % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), min($"k").as("min_k"), max($"k").as("max_k"))
        .orderBy($"bucket")
    }),

    // ── Correlated LATERAL subquery with per-group ORDER BY + LIMIT — the
    //    SQL form of grouped top-n. Catalyst decorrelates it; the
    //    tie-broken ORDER BY keeps the emitted set deterministic.
    "q115_lateral_topn" -> ((s, dir) => {
      Tables.nation(s, dir).createOrReplaceTempView("g115_nation")
      Tables.customer(s, dir).createOrReplaceTempView("g115_customer")
      s.sql("""
        SELECT n_name, c.c_custkey,
          CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
        FROM g115_nation,
        LATERAL (SELECT c_custkey, c_acctbal FROM g115_customer
                 WHERE c_nationkey = n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
        ORDER BY n_name, c.c_custkey""")
    }),

    // ── §7 depth: change data feed between snapshot versions (Delta CDF
    //    analog, derived on demand from two immutable snapshots by a keyed
    //    full-outer diff — no write-time change logging needed).
    "q116_change_feed" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("cdf").toString
      val t = new graft.tables.SnapshotTable(s"$work/t")
      val base = Tables.customer(s, dir)
        .select($"c_custkey", Relational.money($"c_acctbal").cast("double").as("bal"))
      t.write(s, base) // v1
      val v2 = base.filter($"c_custkey" % 97 =!= 0)
        .withColumn("bal", when($"c_custkey" % 50 === 0, $"bal" + 100.0).otherwise($"bal"))
        .unionByName(base.filter($"c_custkey" % 113 === 0)
          .select(($"c_custkey" + 1000000).as("c_custkey"), $"bal"))
      t.write(s, v2)
      t.changes(s, Seq("c_custkey"), 1, 2)
        .orderBy($"_change_type", $"c_custkey")
    }),

    // ── S5/1.4: 3-level catalog registration + SQL over registered tables
    //    (spark_catalog.<db>.<table>, the reference's UC namespace analog).
    "q41_catalog_sql" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      graft.sql.TableCatalog.registerParquet(s, "graft_silver", "events_t",
        s"$dir/events.parquet")
      graft.sql.TableCatalog.sql(s, """
        SELECT event_type, count(*) AS n
        FROM spark_catalog.graft_silver.events_t
        GROUP BY event_type ORDER BY event_type""")
    }),

    // ── TPC-H Q6 shape: the pure scan-side query — every predicate and
    //    both referenced columns must reach the parquet scan (PushedFilters
    //    + 4-column ReadSchema); no join, one partial+final agg, the
    //    minimal-IO benchmark of filter pushdown.
    "q156_forecast_revenue" -> ((s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .filter($"l_shipdate" >= "1996-01-01" && $"l_shipdate" < "1997-01-01" &&
          $"l_discount" >= 0.05 && $"l_discount" <= 0.07 && $"l_quantity" < 24)
        .agg(sum(Relational.money($"l_extendedprice") * Relational.money($"l_discount"))
          .cast("double").as("revenue"))
    }),

    // ── TPC-H Q11 shape (partsupp derived from lineitem): per-part value
    //    held by one nation's suppliers, kept if above a fixed fraction of
    //    the global total. The global gate is a 1-row broadcast (scalar
    //    subquery); the ×1000 integer comparison keeps the decimal math
    //    exact in both engines.
    "q157_important_stock" -> ((s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir)
        .join(broadcast(Tables.supplier(s, dir).filter($"s_nationkey" < 10)),
          $"l_suppkey" === $"s_suppkey")
      val value = li.groupBy($"l_partkey")
        .agg(sum(Relational.money($"l_extendedprice") *
          Relational.money($"l_quantity")).as("value"))
      val total = value.agg(sum($"value").as("tot"))
      value.join(broadcast(total), $"value" * 1000 > $"tot")
        .select($"l_partkey", $"value".cast("double").as("value"))
        .orderBy($"value".desc, $"l_partkey")
    }),

    // ── TPC-H Q17 shape: small-quantity-order revenue — correlated
    //    per-part average-quantity gate. The per-part avg is exact (integral
    //    doubles sum exactly), so the strict `<` filter is engine-portable;
    //    the division by 7 happens on the decimal-exact sum's double.
    "q158_avg_yearly" -> ((s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir)
      val avgQ = li.groupBy($"l_partkey".as("ap_partkey"))
        .agg((avg($"l_quantity") * 0.2).as("qlimit"))
      li.join(broadcast(Tables.part(s, dir).filter($"p_brand" === "Brand#23")),
          $"l_partkey" === $"p_partkey")
        .join(avgQ, $"l_partkey" === $"ap_partkey")
        .filter($"l_quantity" < $"qlimit")
        .agg((sum(Relational.money($"l_extendedprice")).cast("double") / 7.0)
          .as("avg_yearly"))
    }),

    // ── Ordered-event funnel (view → click → purchase): per stage one
    //    groupBy(user) agg over the stage's events joined to the shrinking
    //    frontier — no global sort, no per-user window over the full log.
    "q159_funnel" -> ((s, dir) => {
      import s.implicits._
      graft.ops.Funnel.funnel(Tables.events(s, dir),
          "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
        .orderBy($"stage_idx")
    }),

    // ── Cohort retention: users bucketed by first-activity week, activity
    //    weeks counted per (cohort, offset) cell — two user-keyed shuffles
    //    (first-touch agg, distinct) and one small cell agg. Week math is
    //    exact: both trunc'd stamps are Mondays, day diffs are multiples
    //    of 7.
    "q160_cohort" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir).select($"user_id", $"ts")
      val cohorts = e.groupBy($"user_id")
        .agg(date_trunc("week", min($"ts")).as("cohort_week"))
      e.join(cohorts, "user_id")
        .select($"cohort_week", $"user_id",
          (datediff(date_trunc("week", $"ts"), $"cohort_week") / 7)
            .cast("int").as("week_offset"))
        .distinct()
        .groupBy($"cohort_week", $"week_offset")
        .agg(count(lit(1)).as("active_users"))
        .orderBy($"cohort_week", $"week_offset")
    }),

    // ── Per-node triangle counts over the co-ordered-parts graph
    //    (degree-oriented wedge closure — Graph.triangleCount; hubs never
    //    fan out, so the plan survives skew that breaks the naive e³ join).
    "q161_triangles" -> ((s, dir) => {
      import s.implicits._
      // One ship-year of co-orders: keeps the graph sparse enough that the
      // wedge volume (quadratic in degree) stays sane at bench scale while
      // still exercising the full orientation pipeline.
      val li = Tables.lineitem(s, dir)
        .filter($"l_shipdate" >= "1996-01-01" && $"l_shipdate" < "1997-01-01")
        .select($"l_orderkey", $"l_partkey")
      val edges = li.as("x").join(li.as("y"),
          $"x.l_orderkey" === $"y.l_orderkey" && $"x.l_partkey" < $"y.l_partkey")
        .select($"x.l_partkey".as("src"), $"y.l_partkey".as("dst"))
      graft.ops.Graph.triangleCount(edges, "src", "dst").orderBy($"node")
    }),

    // ── Quality-weighted Bernoulli sampling: keep probability
    //    min(1, weight·rate), decided by the content-hash coin — the
    //    deterministic corpus down-sampler (weight here: length-capped).
    //    Zero shuffles; the oracle replays the md5 coin bit-for-bit.
    "q162_weighted_sample" -> ((s, dir) => {
      import s.implicits._
      graft.llm.Sampling.weightedBernoulli(
          Tables.documents(s, dir), "doc_id",
          least(lit(1.0), $"n_chars".cast("double") / 400.0), 0.5)
        .select($"doc_id", $"lang", $"n_chars")
        .orderBy($"doc_id")
    }),

    // ── Logistic quality-model scoring (TextAnalysis.modelScore): linear
    //    head over codegen'd text features, sigmoid, round(6) — the
    //    trained-classifier form of q21's heuristic gates.
    "q163_model_score" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", graft.llm.TextAnalysis.modelScore($"text").as("score"))
        .orderBy($"doc_id")
    }),

    // ── Fuzzy record linkage without the n² block: PassJoin-style
    //    positional-segment blocking + Hamming verify
    //    (Relational.hammingNearPairs); oracle is the brute-force pair
    //    scan, so blocking completeness itself is what's checked.
    "q164_fuzzy_match" -> ((s, dir) => {
      import s.implicits._
      val names = Tables.part(s, dir).select($"p_name").distinct()
      Relational.hammingNearPairs(names, "p_name", "p_name", 2)
        .orderBy($"id_a", $"id_b")
    }),

    // ── SQL-surface: EXECUTE IMMEDIATE of a statement held in a session
    //    variable (dynamic SQL, the q147/q148 companion).
    "q165_execute_immediate" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("g165_orders")
      s.sql("DECLARE OR REPLACE VARIABLE g165_stmt STRING")
      s.sql("""SET VAR g165_stmt =
        'SELECT o_orderstatus, count(*) AS n FROM g165_orders GROUP BY 1 ORDER BY 1'""")
      s.sql("EXECUTE IMMEDIATE g165_stmt")
    }),

    // ── Data profiling (Relational.profile): per-column row/null/exact-
    //    distinct counts + stringified min/max — the table-health summary
    //    every catalog surface (ANALYZE, dbt docs) exposes.
    "q166_profile" -> ((s, dir) => {
      import s.implicits._
      Relational.profile(Tables.orders(s, dir),
          Seq("o_orderkey", "o_custkey", "o_orderstatus"))
        .orderBy($"column")
    }),

    // ── Multi-source BFS hop distances (Graph.shortestPaths) over the
    //    symmetrized one-year co-order graph: per hop one frontier⋈edges
    //    join + min-reduce; oracle is a DuckDB recursive CTE (UNION dedup
    //    bounds the recursion).
    "q167_shortest_paths" -> ((s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir)
        .filter($"l_shipdate" >= "1996-01-01" && $"l_shipdate" < "1997-01-01")
        .select($"l_orderkey", $"l_partkey")
      val pairs = li.as("x").join(li.as("y"),
          $"x.l_orderkey" === $"y.l_orderkey" && $"x.l_partkey" < $"y.l_partkey")
        .select($"x.l_partkey".as("src"), $"y.l_partkey".as("dst"))
      val undirected = pairs.unionByName(
        pairs.select($"dst".as("src"), $"src".as("dst")))
      graft.ops.Graph.shortestPaths(undirected, "src", "dst", Seq(1L, 2L), 3)
        .orderBy($"node")
    }),

    // ── Funnel with a conversion window: stage events must land within 6h
    //    of the previous completion — same frontier shape as q159, the
    //    join picks up one interval bound.
    "q168_windowed_funnel" -> ((s, dir) => {
      import s.implicits._
      graft.ops.Funnel.funnel(Tables.events(s, dir),
          "user_id", "event_type", "ts", Seq("view", "click", "purchase"),
          maxGapSeconds = Some(21600L))
        .orderBy($"stage_idx")
    }),

    // ── Equi-width histogram (Relational.histogram): O(nbins) shuffle keys
    //    regardless of row count — the distributed profile of a value
    //    distribution.
    "q169_histogram" -> ((s, dir) => {
      import s.implicits._
      Relational.histogram(Tables.orders(s, dir), "o_totalprice",
          20, 0.0, 600000.0)
        .orderBy($"bin")
    }),

    // ── Event-transition matrix (Markov chain over the event stream): one
    //    per-user ordered window for next-event pairing, then a tiny
    //    (|types|²) aggregate; transition probability from exact integer
    //    counts.
    "q170_transitions" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val pairs = Tables.events(s, dir)
        .withColumn("dst_type", lead($"event_type", 1).over(w))
        .filter($"dst_type".isNotNull)
        .groupBy($"event_type".as("src_type"), $"dst_type")
        .agg(count(lit(1)).as("n"))
      pairs
        .withColumn("p", $"n".cast("double") /
          sum($"n").over(Window.partitionBy($"src_type")).cast("double"))
        .orderBy($"src_type", $"dst_type")
    }),

    // ── Experiment analysis (Stats.abTestZ): hash-assigned A/B split,
    //    per-user conversion, two-proportion pooled z — one conditional-
    //    count agg; every post-agg op is exactly-rounded IEEE, so the z
    //    statistic itself is oracle-exact with no tolerance band.
    "q171_ab_test" -> ((s, dir) => {
      import s.implicits._
      val perUser = Tables.events(s, dir).groupBy($"user_id")
        .agg(max(when($"event_type" === "purchase" && $"value" > 150.0, 1)
          .otherwise(0)).as("converted"))
        .withColumn("grp",
          when(graft.llm.Sampling.hashBucket($"user_id", 2) === 0, "A").otherwise("B"))
      graft.ops.Stats.abTestZ(perUser, "grp", $"converted" === 1, "A", "B")
    }),

    // ── Per-group closed-form least squares (Stats.groupedLinReg): value
    //    regressed on hour-of-day per event type. Regression at scale is a
    //    five-scalar sum pass; decimal-summed sufficient statistics keep
    //    partial-agg order out of the bits.
    "q172_linreg" -> ((s, dir) => {
      import s.implicits._
      graft.ops.Stats.groupedLinReg(
          Tables.events(s, dir), "event_type", hour($"ts"), $"value")
        .orderBy($"event_type")
    }),

    // ── Source-mix entropy per language (Stats.groupedEntropy): −Σ p·ln p
    //    with decimal-summed 12-decimal terms (order-proof) and round(6)
    //    at the edge (libm ln ulp across engines) — the corpus-diversity
    //    metric next to q120's mixture control.
    "q173_entropy" -> ((s, dir) => {
      import s.implicits._
      graft.ops.Stats.groupedEntropy(Tables.documents(s, dir), "lang", "source")
        .orderBy($"lang")
    }),

    // ── §7 depth: schema evolution across snapshot versions — v2 adds a
    //    column; changes() aligns both snapshots to the union schema
    //    (null-filled) so the derived CDF reports adds as updates and
    //    carries null for deletes' missing column.
    "q174_schema_evolution" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("sev").toString
      val t = new graft.tables.SnapshotTable(s"$work/t")
      val base = Tables.customer(s, dir)
        .select($"c_custkey", Relational.money($"c_acctbal").cast("double").as("bal"))
      t.write(s, base) // v1: (c_custkey, bal)
      val v2 = base.filter($"c_custkey" % 113 =!= 0)
        .withColumn("bal", when($"c_custkey" % 97 === 0, $"bal" + 50.0).otherwise($"bal"))
        .withColumn("tier", when($"bal" > 5000.0, "gold").otherwise("std"))
      t.write(s, v2) // v2: adds `tier`
      t.changes(s, Seq("c_custkey"), 1, 2)
        .orderBy($"_change_type", $"c_custkey")
    }),

    // ── Pairwise Pearson correlation (Stats.corrMatrix): one aggregation
    //    pass over decimal-exact sufficient statistics, then closed-form
    //    IEEE arithmetic — oracle-exact, no tolerance band.
    "q175_correlation" -> ((s, dir) => {
      import s.implicits._
      // decimal→double casts of the huge sufficient-statistic sums round
      // differently across engines past 2^53 — round(6) through DECIMAL
      // absorbs the last-ulp divergence (visible only at sf0.1+)
      graft.ops.Stats.corrMatrix(Tables.lineitem(s, dir),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        .select($"col_a", $"col_b",
          round($"corr".cast("decimal(18,12)"), 6).cast("double").as("corr"))
        .orderBy($"col_a", $"col_b")
    }),

    // ── §7 depth: per-file Bloom filter index (Delta bloom-index analog).
    //    The table is clustered by o_orderdate — the layout a 100 TB fact
    //    table actually has — so min/max stats CANNOT skip on o_custkey
    //    (every file's custkey range spans the domain). The bloom sidecar
    //    turns the customer point-lookup into an O(1 + fpp·files) scan.
    //    Pruning is a superset (no false negatives); the row filter after
    //    it makes the result exact, so the oracle is a plain SELECT.
    "q176_bloom_index" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("bloomidx").toString
      val t = new graft.tables.SnapshotTable(s"$work/t")
      t.writeIndexed(s, Tables.orders(s, dir),
        bloomCols = Seq("o_custkey"), bloomFpp = 0.01,
        clusterBy = Seq("o_orderdate"), clusterPartitions = 16)
      t.readIndexed(s)
        .filter($"o_custkey" === 42)
        .select($"o_orderkey", $"o_orderdate", $"o_totalprice", $"o_orderpriority")
        .orderBy($"o_orderkey")
    }),

    // ── Spatial near join (Relational.gridNearJoin): all customer pairs
    //    within Euclidean radius 1.5 on a hash-derived plane. The naive
    //    plan is an O(n²) non-equi cross join; the grid rewrite is an
    //    equi-join on radius-sized cell ids (3×3 neighborhood explode on
    //    one side) + codegen'd exact residual — the shape that survives
    //    both sides growing 100×. Oracle is the brute-force cross join.
    "q177_grid_near_join" -> ((s, dir) => {
      import s.implicits._
      val pts = Tables.customer(s, dir).select($"c_custkey".as("id"),
        ($"c_acctbal".cast("double") / 100.0).as("x"),
        ((($"c_custkey" * lit(48271L)) % 10000L).cast("double") / 100.0).as("y"))
      Relational.gridNearJoin(pts, pts, "id", "x", "y", 1.5)
        .filter($"id_a" < $"id_b")
        .orderBy($"id_a", $"id_b")
    }),

    // ── Welch's unequal-variance t-test (Stats.welchT): purchase vs click
    //    event values. One conditional-agg pass collects exact decimal
    //    (n, Σy, Σy²) per arm; t and Welch–Satterthwaite df are IEEE
    //    closed-form on those scalars — oracle-exact, no tolerance.
    "q178_welch_t" -> ((s, dir) => {
      import s.implicits._
      graft.ops.Stats.welchT(Tables.events(s, dir), "event_type", $"value",
        "purchase", "click")
    }),

    // ── Chi-square independence test (Stats.chiSquare): event_type ×
    //    hash-derived user segment. The contingency table is one grouped
    //    count; (O−E)²/E terms are decimal-summed (order-proof) like
    //    q173's entropy fold.
    "q179_chi_square" -> ((s, dir) => {
      import s.implicits._
      graft.ops.Stats.chiSquare(
        Tables.events(s, dir).withColumn("segment", pmod($"user_id", lit(7L))),
        "event_type", "segment")
    }),

    // ── Prefix-filtered set-similarity join (Dedup.prefixJaccardPairs,
    //    PPJoin-style): the inverted index holds only each doc's
    //    (1−t)-prefix of hash-ordered shingles, so postings — and the
    //    candidate join — shrink with the threshold. Verification is
    //    exact and candidate-restricted; results ≡ the full-index q24
    //    form at the same threshold.
    "q180_prefix_jaccard" -> ((s, dir) => {
      import s.implicits._
      graft.llm.Dedup.prefixJaccardPairs(Tables.documents(s, dir),
          "doc_id", "text", threshold = 0.7)
        .orderBy($"d1", $"d2")
    }),

    // ── Incrementally-maintained join view (tables.MaterializedJoin):
    //    insert-only deltas refresh via the delta-join identity — the base
    //    join is computed once and never again; the refresh joins only
    //    delta legs. The committed view must equal the from-scratch join
    //    of the full tables, which is exactly what the oracle computes.
    "q181_incremental_join_view" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("mvjoin").toString
      val mv = new graft.tables.MaterializedJoin(
        new graft.tables.SnapshotTable(s"$work/v"), Seq("c_custkey"))
      val o = Tables.orders(s, dir).withColumnRenamed("o_custkey", "c_custkey")
      val c = Tables.customer(s, dir)
      val oOld = o.filter($"o_orderkey" % 7 =!= 0)
      val oNew = o.filter($"o_orderkey" % 7 === 0)
      val cOld = c.filter($"c_custkey" % 13 =!= 0)
      val cNew = c.filter($"c_custkey" % 13 === 0)
      mv.initialize(s, oOld, cOld)
      mv.refresh(s, oOld, oNew, cOld, cNew)
      mv.read(s)
        .select($"o_orderkey", $"c_custkey", $"c_mktsegment", $"o_totalprice")
        .orderBy($"o_orderkey")
    }),

    // ── Session path analysis: 30-min-gap sessionization (lag + running
    //    sum inside a per-user window — no corpus-wide ordering), then the
    //    first five event types per session become the "path" and paths
    //    are ranked by frequency. The product-analytics "top user journeys"
    //    query, all codegen'd window + array functions.
    "q182_session_paths" -> ((s, dir) => {
      import s.implicits._
      val sess = graft.ops.Funnel.sessionize(
        Tables.events(s, dir), "user_id", "ts", "event_id", gapSeconds = 1800L)
      sess.groupBy($"user_id", $"session")
        .agg(slice(array_sort(collect_list(
          struct($"ts", $"event_id", $"event_type"))), 1, 5).as("evs"))
        .select(concat_ws(">", transform($"evs", e => e.getField("event_type"))).as("path"))
        .groupBy($"path").agg(count(lit(1)).as("n_sessions"))
        .orderBy($"n_sessions".desc, $"path")
    }),

    // ── Distributed BPE merge training (llm.BpeTrainer): the tokenizer-
    //    training step of an LLM pipeline as iterative Spark jobs over the
    //    (word, count) table — pair counting is an explode+sum per round,
    //    the argmax is a deterministic 1-row reduce (freq desc, pair asc),
    //    merging is a codegen'd greedy fold. Oracled: 12 unrolled greedy
    //    rounds replayed in DuckDB over a delimiter-encoded word table
    //    (see bpeOracleRounds); the merge algebra is also spec'd in
    //    LlmOpsSpec.
    "q183_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      graft.llm.BpeTrainer.train(Tables.documents(s, dir), "text", numMerges = 12)
        .orderBy($"step")
    }),

    // ── First-touch attribution: each user's earliest event is the
    //    acquisition channel; purchase value rolls up to it. Per-user
    //    window (no global ordering) + broadcastable first-touch table.
    "q184_attribution" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val ev = Tables.events(s, dir)
      val firstTouch = ev.withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_type".as("channel"))
      ev.filter($"event_type" === "purchase")
        .join(firstTouch, "user_id")
        .groupBy($"channel")
        .agg(count(lit(1)).as("n_purchases"),
          Relational.sumMoney($"value").as("revenue"))
        .orderBy($"channel")
    }),

    // ── RFM segmentation: recency/frequency/monetary quartiles per
    //    purchasing user. The windows run AFTER the per-user aggregation —
    //    cardinality is |users|, not |events| — and each is a total order
    //    (deterministic tie-break on user_id). At billions of users the
    //    same tiles come from `Relational.globalRowNumbers` instead of a
    //    1-partition window; the semantics below are plain SQL NTILE.
    "q185_rfm" -> ((s, dir) => {
      import s.implicits._
      val per = Tables.events(s, dir).filter($"event_type" === "purchase")
        .groupBy($"user_id").agg(
          max(unix_micros($"ts")).as("last_us"),
          count(lit(1)).as("frequency"),
          Relational.sumMoney($"value").as("monetary"))
      per.select($"user_id",
          ntile(4).over(Window.orderBy($"last_us".desc, $"user_id")).cast("long").as("r_tile"),
          ntile(4).over(Window.orderBy($"frequency".desc, $"user_id")).cast("long").as("f_tile"),
          ntile(4).over(Window.orderBy($"monetary".desc, $"user_id")).cast("long").as("m_tile"),
          $"frequency", $"monetary")
        .orderBy($"user_id")
    }),

    // ── k-core decomposition (Graph.kCore): iterative degree peeling on
    //    the one-ship-year co-order part graph (same graph as q161). The
    //    fixpoint is unique and order-independent, so the oracle replays
    //    the peel as a 12-round unrolled CTE chain (observed convergence:
    //    5–6 rounds at every SF; extra rounds are no-ops).
    "q186_kcore" -> ((s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir)
        .filter($"l_shipdate" >= "1996-01-01" && $"l_shipdate" < "1997-01-01")
        .select($"l_orderkey", $"l_partkey")
      val edges = li.as("x").join(li.as("y"),
          $"x.l_orderkey" === $"y.l_orderkey" && $"x.l_partkey" < $"y.l_partkey")
        .select($"x.l_partkey".as("src"), $"y.l_partkey".as("dst"))
      graft.ops.Graph.kCore(edges, "src", "dst", k = 4).orderBy($"node")
    }),

    // ── Time-weighted average (TWAP): each observation weighted by its
    //    holding interval to the next one, per user. Weights stay integral
    //    (µs), values go through DECIMAL(12,2) — the Σ(v·Δt) raw products
    //    stay inside int64 in any engine, so the division at the edge is
    //    IEEE-exact on identical operands.
    "q187_twap" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val seg = Tables.events(s, dir)
        .withColumn("us", unix_micros($"ts"))
        .withColumn("next_us", lead($"us", 1).over(w))
        .filter($"next_us".isNotNull)
        .withColumn("dt", $"next_us" - $"us")
        .withColumn("v", round($"value", 2).cast("decimal(12,2)"))
      seg.groupBy($"user_id")
        .agg(count(lit(1)).as("n_intervals"),
          sum($"v" * $"dt").as("num"), sum($"dt").as("den"))
        .select($"user_id", $"n_intervals",
          // round(6): the Σ(v·Δt) decimal exceeds double's 53-bit exact
          // range, and engines round the decimal→double cast differently
          when($"den" > 0, round($"num".cast("double") / $"den".cast("double"), 6)).as("twap"))
        .orderBy($"user_id")
    }),

    // ── Data-vault surrogate keys (the DW hashing surface the reference's
    //    dimensional model implies): MD5 hub key on the business key,
    //    SHA-256 hashdiff over normalized descriptive attributes — change
    //    detection without column-by-column compares at merge time.
    //    Doubles are stringified through DECIMAL(18,2) (engine-portable
    //    rendering; raw double→string formatting is not).
    "q188_hash_keys" -> ((s, dir) => {
      import s.implicits._
      Tables.customer(s, dir).select($"c_custkey",
          md5(concat_ws("||", $"c_custkey".cast("string"))).as("hub_key"),
          sha2(concat_ws("||", upper(trim($"c_name")), $"c_mktsegment",
            Relational.money($"c_acctbal").cast("string")), 256).as("hash_diff"))
        .orderBy($"c_custkey")
    }),

    // ── Month-over-month growth: monthly revenue (decimal-exact) + lag
    //    window. The window runs over the POST-aggregation month spine
    //    (dozens of rows however large the input), so the global ordering
    //    is free; growth is one IEEE division on identical doubles.
    "q189_mom_growth" -> ((s, dir) => {
      import s.implicits._
      val m = Tables.orders(s, dir)
        .groupBy(date_trunc("month", $"o_orderdate").as("month"))
        .agg(Relational.sumMoney($"o_totalprice").as("revenue"))
      m.withColumn("prev", lag($"revenue", 1).over(Window.orderBy($"month")))
        .withColumn("growth",
          when($"prev".isNotNull && $"prev" =!= 0.0, ($"revenue" - $"prev") / $"prev"))
        .select($"month", $"revenue", $"growth")
        .orderBy($"month")
    }),

    // ── Exact grouped weighted median (Stats.weightedMedian): price
    //    median weighted by quantity. Integer half-total test — no
    //    division, no percentile interpolation — so the picked value is
    //    engine-exact by construction.
    "q190_weighted_median" -> ((s, dir) => {
      import s.implicits._
      graft.ops.Stats.weightedMedian(Tables.lineitem(s, dir), "l_returnflag",
          $"l_extendedprice", $"l_quantity")
        .orderBy($"l_returnflag")
    }),

    // ── Grouped Gini coefficient (Stats.groupedGini): order-value
    //    concentration per priority class. Rank-formula numerator in
    //    exact decimal·integer space; tie order provably cancels.
    "q191_gini" -> ((s, dir) => {
      import s.implicits._
      // same last-ulp class as q175: round(6) through DECIMAL both sides
      graft.ops.Stats.groupedGini(Tables.orders(s, dir), "o_orderpriority",
          $"o_totalprice")
        .select($"o_orderpriority", $"n",
          round($"gini".cast("decimal(18,12)"), 6).cast("double").as("gini"))
        .orderBy($"o_orderpriority")
    }),

    // ── Unicode canonicalization (functions.UnicodeNormalize): a codegen'd
    //    Catalyst expression (ASCII fast path, JDK normalizer otherwise) —
    //    the pre-dedup text canonicalization step. Docs get decomposed
    //    NFD noise appended so NFC actually recomposes; the fingerprint
    //    proves byte-identical normalization against DuckDB's utf8proc.
    "q192_unicode_normalize" -> ((s, dir) => {
      import s.implicits._
      val noise = " café ﬁnal" // e + combining acute; ﬁ ligature
      graft.tables.Tables.documents(s, dir)
        .withColumn("s", concat($"text", lit(noise)))
        .select($"doc_id",
          length(graft.functions.UnicodeNormalize.nfc($"s")).cast("long").as("len_nfc"),
          md5(graft.functions.UnicodeNormalize.nfc($"s")).as("fp_nfc"))
        .orderBy($"doc_id")
    }),

    // ── Streaming sessionization with EVENT-TIME TIMERS (StatefulOps.
    //    sessionizeTws): per-user session state + a store-managed timer at
    //    last-event + gap; sessions emit from handleExpiredTimer when the
    //    watermark passes. Deterministically oracle-able under AvailableNow:
    //    within-batch gap splits emit unconditionally, and each user's
    //    final session emits iff it closed before the terminal watermark
    //    (= max event time at 0s delay) — exactly what the SQL computes.
    "q193_streaming_sessions" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("stws").toString
      Tables.events(s, dir).select($"user_id", $"ts")
        .coalesce(1).write.parquet(s"$work/src")
      val schema = s.read.parquet(s"$work/src").schema
      val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        withShufflePartitions(s, 8) {
          val stream = s.readStream.schema(schema).parquet(s"$work/src")
            .withWatermark("ts", "0 seconds")
            .as[(Long, java.sql.Timestamp)]
          val q = graft.streaming.StatefulOps.sessionizeTws(stream, gapMs = 1800000L)
            .toDF()
            .writeStream.format("parquet")
            .option("checkpointLocation", s"$work/ck")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start(s"$work/out")
          q.awaitTermination()
        }
      } finally prev match {
        case Some(v) => s.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      s.read.parquet(s"$work/out")
        .select($"user".as("uid"), $"startMs", $"endMs", $"nEvents")
        .orderBy($"uid", $"startMs")
    }),

    // ── BPE inference (BpeTrainer.encode): the learned merge table applied
    //    over the distinct-word vocabulary, docs tokenized by hash probe.
    //    Oracled via the same unrolled merge chain (per-word token counts
    //    joined back onto word-exploded docs); round-trip algebra also
    //    proven in LlmOpsSpec.
    "q194_bpe_encode" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val merges = graft.llm.BpeTrainer.train(docs, "text", numMerges = 12)
        .orderBy($"step")
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      graft.llm.BpeTrainer.encode(docs, "doc_id", "text", merges)
        .select($"id", $"n_tokens")
        .orderBy($"id")
    }),

    // ── LLM-pipeline: BPE inference through the VOCAB-SCALE path —
    //    capped local train + broadcast-rank-map kernel tokenization
    //    (encodeAtScale: one hash probe per corpus row, no per-merge
    //    column folds). Same oracle as q194: at full vocabCap both
    //    trainers and both encoders are provably identical, so the
    //    32k-merge-shaped machinery is held to the exact answer.
    "q240_bpe_encode_scale" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val merges = graft.llm.BpeTrainer
        .trainCapped(docs, "text", numMerges = 12, vocabCap = 10000000)
        .orderBy($"step")
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      graft.llm.BpeTrainer.encodeAtScale(docs, "doc_id", "text", merges)
        .select($"id", $"n_tokens")
        .orderBy($"id")
    }),

    // ── Exact percentile bands (Stats.percentileDisc): p25/50/75/90 per
    //    line status — the division-free half-total rule generalized;
    //    integer comparisons end to end.
    "q195_percentile_bands" -> ((s, dir) => {
      import s.implicits._
      graft.ops.Stats.percentileDisc(Tables.lineitem(s, dir), "l_linestatus",
          $"l_extendedprice", Seq(25, 50, 75, 90))
        .orderBy($"l_linestatus", $"p")
    }),

    // ── Systematic sampling without a 1-task sort: every 200th order in
    //    o_orderkey order via globalRowNumbers (range partition + driver
    //    prefix-sum — no Exchange SinglePartition), ≡ ROW_NUMBER in SQL.
    "q196_systematic_sample" -> ((s, dir) => {
      import s.implicits._
      Relational.globalRowNumbers(
          Tables.orders(s, dir).select($"o_orderkey", $"o_totalprice"),
          order = Seq("o_orderkey"))
        .filter(($"rn" - 1) % 200 === 0)
        .select($"rn", $"o_orderkey", $"o_totalprice")
        .orderBy($"rn")
    }),

    // ── Benford first-digit audit: leading-digit distribution of order
    //    totals vs Benford expectation. Digit extraction goes through the
    //    DECIMAL(18,2) string rendering (portable), never log10.
    "q197_benford" -> ((s, dir) => {
      import s.implicits._
      val d = Tables.orders(s, dir)
        .filter($"o_totalprice" > 0)
        .withColumn("digit",
          substring(Relational.money($"o_totalprice").cast("string"), 1, 1).cast("long"))
      val tot = d.count()
      d.groupBy($"digit").agg(count(lit(1)).as("n"))
        .withColumn("freq", round($"n".cast("double") / lit(tot.toDouble), 6))
        .orderBy($"digit")
    }),

    // ── Exact per-label embedding centroids (Similarity.labelCentroids):
    //    the class-prototype computation (centroid classifier, IVF
    //    seeding, drift probe). Shuffle keys are (label, dim) — bounded
    //    however many vectors stream through; decimal-quantized sums are
    //    aggregation-order-proof.
    "q198_label_centroids" -> ((s, dir) => {
      import s.implicits._
      graft.llm.Similarity.labelCentroids(
          Tables.embeddings(s, dir), "label", "embedding")
        .orderBy($"label", $"dim")
    }),

    // ── Population stability index (Stats.psi): value drift between the
    //    first and second half of the event window over 12 fixed bins —
    //    the standard model-monitoring alarm, decimal term sums like
    //    entropy/chi-square.
    "q199_psi" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      graft.ops.Stats.psi(
        ev.filter($"ts" < lit("2024-01-16 00:00:00").cast("timestamp")),
        ev.filter($"ts" >= lit("2024-01-16 00:00:00").cast("timestamp")),
        $"value", lo = 0.0, hi = 600.0, nbins = 12)
    }),

    // ── Entity resolution: fuzzy customer-name match, BLOCKED by nation
    //    (the blocking key bounds the quadratic inside each block — the
    //    standard record-linkage shape; q164 is the unblocked Hamming
    //    variant). Levenshtein is codegen'd and identically defined in
    //    both engines.
    "q200_entity_resolution" -> ((s, dir) => {
      import s.implicits._
      // block on (nation, segment): linkage blocks are multi-attribute by
      // design — the block size, not the table size, bounds the quadratic
      val c = Tables.customer(s, dir).filter($"c_mktsegment" === "BUILDING")
        .select($"c_custkey", $"c_nationkey", lower(trim($"c_name")).as("nm"))
      c.as("a").join(c.as("b"),
          $"a.c_nationkey" === $"b.c_nationkey" && $"a.c_custkey" < $"b.c_custkey")
        .withColumn("dist", levenshtein($"a.nm", $"b.nm").cast("long"))
        .filter($"dist" <= 2)
        .select($"a.c_custkey".as("id_a"), $"b.c_custkey".as("id_b"), $"dist")
        .orderBy($"id_a", $"id_b")
    }),

    // ── Join-key skew report (Relational.keySkew): the one-row diagnostic
    //    every salt-factor / AQE-threshold decision reads first.
    "q201_key_skew" -> ((s, dir) => {
      import s.implicits._
      graft.ops.Relational.keySkew(Tables.lineitem(s, dir), "l_suppkey")
    }),

    // ── Deterministic grouped mode: the most frequent priority per order
    //    month, ties broken by the smaller value (built-in `mode()` is
    //    tie-arbitrary — useless for an oracle; max_by on the packed
    //    (count, reversed-value) pair is total-ordered).
    "q202_grouped_mode" -> ((s, dir) => {
      import s.implicits._
      val counts = Tables.orders(s, dir)
        .groupBy(date_trunc("month", $"o_orderdate").as("month"), $"o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy($"month")
        .orderBy($"cnt".desc, $"o_orderpriority")
      counts.withColumn("rk", row_number().over(w))
        .filter($"rk" === 1)
        .select($"month", $"o_orderpriority".as("mode_priority"), $"cnt")
        .orderBy($"month")
    }),

    // ── Sequence-gap detection (the DW id-audit): ranges of missing
    //    o_orderkey values via lead over the ordered key — gap rows are
    //    (gap_start, gap_end, missing). Windows partition nothing here by
    //    design, but the input is the KEY COLUMN ONLY (pushed projection)
    //    and at 100 TB the same query runs per key-range partition.
    "q203_sequence_gaps" -> ((s, dir) => {
      import s.implicits._
      // the synthetic keys are dense — simulate loss (every 97th order)
      // so the audit has something to find
      Tables.orders(s, dir).select($"o_orderkey")
        .filter($"o_orderkey" % 97 =!= 0)
        .withColumn("nxt", lead($"o_orderkey", 1).over(Window.orderBy($"o_orderkey")))
        .filter($"nxt".isNotNull && $"nxt" - $"o_orderkey" > 1)
        .select(($"o_orderkey" + 1).as("gap_start"), ($"nxt" - 1).as("gap_end"),
          ($"nxt" - $"o_orderkey" - 1).as("missing"))
        .orderBy($"gap_start")
    }),

    // ── RESTORE (SnapshotTable.restore): v1 = full customers, v2 = a
    //    botched half-delete, v3 = restore(v1). History moves forward
    //    (the bad v2 stays inspectable); the live read after restore is
    //    exactly the original — which is what the oracle selects.
    "q204_restore" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("restore").toString
      val t = new graft.tables.SnapshotTable(s"$work/t")
      val c = Tables.customer(s, dir).select($"c_custkey", $"c_name", $"c_acctbal")
      t.write(s, c)
      t.write(s, c.filter($"c_custkey" % 2 === 0)) // the bad deploy
      t.restore(s, 1)
      t.read(s).orderBy($"c_custkey")
    }),

    // ── Revenue share within region (ratio_to_report shape): nation
    //    revenue as a fraction of its region's total — windows run over
    //    the 25-row aggregate, the division is IEEE on exact decimals.
    "q205_revenue_share" -> ((s, dir) => {
      import s.implicits._
      val byNation = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        // keep DECIMAL through the window — a double window-sum adds in
        // partition row order (nondeterministic); decimal sums are exact
        .agg(sum(Relational.money($"o_totalprice")).as("rev"))
      byNation
        .withColumn("region_total", sum($"rev").over(Window.partitionBy($"r_name")))
        .select($"r_name", $"n_name",
          $"rev".cast("double").as("revenue"),
          round($"rev".cast("double") / $"region_total".cast("double"), 6).as("share"))
        .orderBy($"r_name", $"n_name")
    }),

    // ── Jaro-Winkler record linkage (functions.JaroWinkler): the linkage
    //    scorer Spark lacks, as a codegen'd expression — bit-identical to
    //    DuckDB's implementation on every tested pair; round(6) guards
    //    the tail. Same nation blocking as q200.
    "q206_jaro_winkler" -> ((s, dir) => {
      import s.implicits._
      val c = Tables.customer(s, dir).filter($"c_mktsegment" === "BUILDING")
        .select($"c_custkey", $"c_nationkey", lower(trim($"c_name")).as("nm"))
      c.as("a").join(c.as("b"),
          $"a.c_nationkey" === $"b.c_nationkey" && $"a.c_custkey" < $"b.c_custkey")
        .withColumn("jw", round(
          graft.functions.JaroWinkler.jaroWinkler($"a.nm", $"b.nm"), 6))
        .filter($"jw" >= 0.94)
        .select($"a.c_custkey".as("id_a"), $"b.c_custkey".as("id_b"), $"jw")
        .orderBy($"id_a", $"id_b")
    }),

    // ── Reconciliation summary (SnapshotTable.changes aggregated): the
    //    "what changed between loads" report — insert/update/delete counts
    //    from the derived change feed between two committed versions.
    "q207_table_diff" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("tdiff").toString
      val t = new graft.tables.SnapshotTable(s"$work/t")
      val c = Tables.customer(s, dir).select($"c_custkey", $"c_mktsegment", $"c_acctbal")
      t.write(s, c)
      // v2: drop every 11th, re-tier every 7th, add synthetic new keys
      val v2 = c.filter($"c_custkey" % 11 =!= 0)
        .withColumn("c_acctbal",
          when($"c_custkey" % 7 === 0, $"c_acctbal" + 100.0).otherwise($"c_acctbal"))
        .unionByName(c.limit(0).unionByName(
          Tables.customer(s, dir).select(($"c_custkey" + 1000000).as("c_custkey"),
            $"c_mktsegment", $"c_acctbal").filter($"c_custkey" % 3 === 0)))
      t.write(s, v2)
      t.changes(s, Seq("c_custkey"), 1, 2)
        .groupBy($"_change_type").agg(count(lit(1)).as("n"))
        .orderBy($"_change_type")
    }),

    // ── 2-D skyline / Pareto frontier (Relational.skyline2D): cheapest-
    //    for-the-quantity lineitems — the dominance query the naive plan
    //    answers with an O(n²) self-join, done with one running-min window
    //    over distinct value pairs.
    "q208_skyline" -> ((s, dir) => {
      import s.implicits._
      graft.ops.Relational.skyline2D(Tables.lineitem(s, dir),
          "l_extendedprice", "l_discount")
        .orderBy($"x")
    }),

    // ── Primary-key join elimination (plans.JoinEliminationRewrite): the
    //    BI-view pattern — orders LEFT OUTER customer on a DECLARED-unique
    //    key, but the query reads no customer columns, so the optimizer
    //    drops the join and the dim scan entirely (plan pinned in
    //    GraftExtensionsSpec). The oracle is the same query WITH the join
    //    — elimination must not change a single row.
    "q209_join_elimination" -> ((s, dir) => {
      import s.implicits._
      val ext = new org.apache.spark.sql.SparkSessionExtensions
      new graft.GraftExtensions().apply(ext)
      org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, s)
      graft.plans.JoinEliminationRewrite.register(s, s"$dir/customer.parquet", "c_custkey")
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      o.join(c, o("o_custkey") === c("c_custkey"), "left_outer")
        .select(o("o_orderkey"), o("o_totalprice"), o("o_orderpriority"))
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"), Relational.sumMoney($"o_totalprice").as("total"))
        .orderBy($"o_orderpriority")
    }),

    // ── Robust outliers via MAD (Stats.madOutliers): median / median-of-
    //    deviations are exact value picks (half-total rule), so unlike
    //    z-scores the threshold can't be dragged by the outliers
    //    themselves — and the whole report is engine-exact.
    "q210_mad_outliers" -> ((s, dir) => {
      import s.implicits._
      graft.ops.Stats.madOutliers(Tables.events(s, dir), "event_type",
          $"value", k = 3.0)
        .orderBy($"event_type")
    }),

    // ── Smoothed target encoding (Stats.targetEncode): mean order value
    //    per priority blended with the global prior — the standard
    //    categorical feature, decimal-exact sums (scale 2: money raw
    //    magnitudes stay inside double-exact range at any SF).
    "q211_target_encoding" -> ((s, dir) => {
      import s.implicits._
      graft.ops.Stats.targetEncode(Tables.orders(s, dir), "o_orderpriority",
          $"o_totalprice", smoothing = 20.0, scale = 2)
        .orderBy($"o_orderpriority")
    }),

    // ── TF-IDF top terms per document: tf and df are exact counts, the
    //    idf log runs on identical doubles in both engines, round(6)
    //    absorbs the libm tail, ranking tie-breaks on the term.
    "q212_tfidf_topterms" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val toks = docs.select($"doc_id",
          explode(split(lower($"text"), "\\s+")).as("term"))
        .filter($"term" =!= "")
      val tf = toks.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val n = docs.count()
      val scored = tf.join(dfreq, "term")
        .withColumn("score", round($"tf" * log(lit(n.toDouble) / $"df"), 6))
      scored.withColumn("rk", row_number().over(
          Window.partitionBy($"doc_id").orderBy($"score".desc, $"term")))
        .filter($"rk" <= 3)
        .select($"doc_id", $"term", $"tf", $"score")
        .orderBy($"doc_id", $"score".desc, $"term")
    }),

    // ── Per-group skyline (Relational.skyline2DByKey): the q208 frontier
    //    per return flag — window partitioned on the group key.
    "q213_grouped_skyline" -> ((s, dir) => {
      import s.implicits._
      graft.ops.Relational.skyline2DByKey(Tables.lineitem(s, dir),
          Seq("l_returnflag"), "l_extendedprice", "l_discount")
        .orderBy($"l_returnflag", $"x")
    }),

    // ── Grouped geometric mean: exp(mean(ln x)) with the ln terms rounded
    //    and decimal-summed (the entropy fold's order-proofing), exp/ln on
    //    identical doubles, round(6) at the edge.
    "q214_geometric_mean" -> ((s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .filter($"l_extendedprice" > 0)
        .withColumn("lx",
          round(log($"l_extendedprice".cast("double")), 12).cast("decimal(28,12)"))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(exp(sum($"lx").cast("double") / count(lit(1)).cast("double")), 6)
            .as("geo_mean"))
        .orderBy($"l_returnflag")
    }),

    // ── Per-group min-max feature scaling: supplier balances rescaled to
    //    [0,1] within their nation — exact min/max picks, one IEEE
    //    division; constant groups emit null.
    "q215_minmax_scaling" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"s_nationkey")
      Tables.supplier(s, dir)
        .withColumn("mn", min($"s_acctbal").over(w))
        .withColumn("mx", max($"s_acctbal").over(w))
        .select($"s_suppkey", $"s_nationkey".cast("long").as("s_nationkey"),
          when($"mx" =!= $"mn",
            round(($"s_acctbal" - $"mn") / ($"mx" - $"mn"), 6)).as("scaled"))
        .orderBy($"s_suppkey")
    }),

    // ── Vocabulary coverage (tokenizer sizing): top-10 words by corpus
    //    occurrence count and the cumulative token share each prefix of
    //    the vocabulary covers — exact counts, exact cumulative sums, one
    //    rounded division per row.
    "q216_vocab_coverage" -> ((s, dir) => {
      import s.implicits._
      val toks = Tables.documents(s, dir)
        .select(explode(split(lower($"text"), "\\s+")).as("term"))
        .filter($"term" =!= "")
      val counts = toks.groupBy($"term").agg(count(lit(1)).as("cnt"))
      val total = toks.count()
      counts
        .withColumn("rank", row_number().over(Window.orderBy($"cnt".desc, $"term")))
        .filter($"rank" <= 10)
        .withColumn("cum", sum($"cnt").over(Window.orderBy($"rank")))
        .select($"rank".cast("long").as("rank"), $"term", $"cnt",
          round($"cum".cast("double") / lit(total.toDouble), 6).as("cum_share"))
        .orderBy($"rank")
    }),

    // ── Embedding norm audit per label: per-vector L2 norms from
    //    decimal-summed squared components (order-proof), then per-label
    //    min/max/mean — the "did a bad batch of vectors land" probe.
    "q217_embedding_norms" -> ((s, dir) => {
      import s.implicits._
      val norms = Tables.embeddings(s, dir)
        .select($"vec_id", $"label", posexplode($"embedding").as(Seq("dim", "x")))
        .withColumn("x2",
          round($"x".cast("double") * $"x".cast("double"), 12).cast("decimal(28,12)"))
        .groupBy($"vec_id", $"label")
        .agg(round(sqrt(sum($"x2").cast("double")), 6).as("norm"))
      norms.groupBy($"label")
        .agg(count(lit(1)).as("n_vecs"),
          min($"norm").as("min_norm"), max($"norm").as("max_norm"),
          round(sum($"norm".cast("decimal(20,6)")).cast("double") /
            count(lit(1)).cast("double"), 6).as("mean_norm"))
        .orderBy($"label")
    }),

    // ── Hashdiff change detection (the data-vault merge accelerant built
    //    on q188's keys): two loads compared by ONE hash equality per row
    //    instead of N column compares — at 100 TB the merge's change scan
    //    reads two narrow columns, not the whole row.
    "q218_hashdiff_changes" -> ((s, dir) => {
      import s.implicits._
      def hashed(df: DataFrame) = df.select($"c_custkey",
        sha2(concat_ws("||", upper(trim($"c_name")), $"c_mktsegment",
          Relational.money($"c_acctbal").cast("string")), 256).as("hd"))
      val v1 = hashed(Tables.customer(s, dir))
      val v2 = hashed(Tables.customer(s, dir)
        .withColumn("c_acctbal",
          when($"c_custkey" % 13 === 0, $"c_acctbal" + 1.0).otherwise($"c_acctbal")))
      v1.as("a").join(v2.as("b"), "c_custkey")
        .filter($"a.hd" =!= $"b.hd")
        .select($"c_custkey", $"a.hd".as("hash_old"), $"b.hd".as("hash_new"))
        .orderBy($"c_custkey")
    }),

    // ── Grouped winsorization: balances clipped to the nation's exact
    //    [p10, p90] band (percentileDisc picks — data values, not
    //    interpolations; the clip is two comparisons).
    "q219_winsorize" -> ((s, dir) => {
      import s.implicits._
      val sup = Tables.supplier(s, dir)
      val bands = graft.ops.Stats.percentileDisc(sup, "s_nationkey",
          $"s_acctbal", Seq(10, 90))
        .groupBy($"s_nationkey")
        .agg(min(when($"p" === 10, $"value")).as("p10"),
          min(when($"p" === 90, $"value")).as("p90"))
      sup.join(bands, "s_nationkey")
        .select($"s_suppkey", $"s_nationkey".cast("long").as("s_nationkey"),
          $"s_acctbal",
          least(greatest($"s_acctbal", $"p10"), $"p90").as("winsorized"))
        .orderBy($"s_suppkey")
    }),

    // ── LLM-pipeline: per-source quality cap — the domain-cap step of a
    //    corpus curation run (keep the best N docs per source by quality,
    //    doc_id tiebreak). Plans as WindowGroupLimit (map-side partial
    //    before the shuffle), so at 100 TB each source's candidates are
    //    pruned to ≤N per task before any data moves. Quality scores are
    //    exact multiples of 0.25, so the avg is bit-deterministic
    //    cross-engine.
    "q236_domain_caps" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val scored = Tables.documents(s, dir)
        .select($"doc_id", $"source",
          graft.llm.TextAnalysis.qualityScore($"text").as("quality"))
      val w = Window.partitionBy($"source").orderBy($"quality".desc, $"doc_id")
      scored.withColumn("rn", row_number().over(w)).filter($"rn" <= 50)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_kept"), avg($"quality").as("avg_quality"))
        .orderBy($"source")
    }),

    // ── LLM-pipeline: end-to-end curation composition — lang-id →
    //    quality gate → exact dedup by normalized fingerprint (min doc_id
    //    survives) → per-language corpus stats. Each stage is an
    //    already-oracled operator (q22/q21/q23/q20); composed they stay
    //    ONE declarative plan, so Catalyst fuses all four scalar stages
    //    into a single scan pass and the only shuffles are the dedup
    //    window and the final agg.
    "q237_curation_pipeline" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val scored = Tables.documents(s, dir)
        .select($"doc_id",
          graft.llm.TextAnalysis.langId($"text").as("lang_pred"),
          graft.llm.TextAnalysis.qualityScore($"text").as("quality"),
          graft.llm.TextAnalysis.fingerprint($"text").as("fp"),
          graft.llm.TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
        .filter($"quality" >= 0.5)
      val w = Window.partitionBy($"fp").orderBy($"doc_id")
      scored.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .groupBy($"lang_pred")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("total_tokens"))
        .orderBy($"lang_pred")
    }),

    // ── LLM-pipeline: MINHASH SIMILARITY ESTIMATOR with a quantified
    //    error bound — the sketch the LSH family is built on, surfaced as
    //    a first-class estimate: for every exact-Jaccard ≥0.5 pair, the
    //    96-slot signature agreement must estimate Jaccard within 0.2
    //    (≈4σ at √(J(1−J)/96)). The estimate is engine-internal
    //    (xxhash-based), so the gate is the q55-style error-bound
    //    verdict; a sketch regression flips est_ok and hash-mismatches.
    "q287_minhash_estimate" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val pairs = graft.llm.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5)
      val shEx = graft.llm.Dedup.shingleHashRows(docs, "doc_id", "text", 3)
        .localCheckpoint()
      val sigs = graft.llm.Dedup.minhashSignatures(shEx)
      pairs
        .join(sigs.select($"id".as("d1"), $"sig".as("s1")), "d1")
        .join(sigs.select($"id".as("d2"), $"sig".as("s2")), "d2")
        .withColumn("est",
          size(filter(zip_with($"s1", $"s2", (a, b) => a === b), x => x))
            .cast("double") / 96.0)
        .select($"d1", $"d2", round($"jaccard", 6).as("jaccard"),
          (abs($"est" - $"jaccard") <= 0.2).as("est_ok"))
        .orderBy($"d1", $"d2")
    }),

    // ── Sampling: WEIGHTED RESERVOIR per group (Efraimidis–Spirtakis
    //    A-ES): top-k of u^(1/w) per event_type is an exact weighted-
    //    without-replacement sample — the "k representatives per stratum,
    //    weighted by value" one-pass answer. Deterministic hash-u, one
    //    window shuffle, replayable in any engine.
    "q286_weighted_reservoir" -> ((s, dir) => {
      import s.implicits._
      graft.llm.Sampling.weightedReservoirPerKey(
          Tables.events(s, dir), "event_type", "event_id", $"value", k = 5)
        .select($"event_type", $"__aes_rank".cast("long").as("rank"),
          $"event_id", $"value")
        .orderBy($"event_type", $"rank")
    }),

    // ── Streaming: NUMERIC drift monitor — the binned-PSI form of q266
    //    (production monitors watch score/length/price distributions, not
    //    just categories): the stream's `value` is bucketed into fixed
    //    bins via DriftMonitor's prepare hook; batch 0 (parity split) is
    //    reference-like, batch 1 is a deliberate high-tail-only feed →
    //    the PSI spike a payment-amount anomaly produces.
    "q285_streaming_numeric_drift" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("ndrift").toString
      val e = Tables.events(s, dir).localCheckpoint()
      e.filter($"event_id" % 2 === 0).coalesce(1).write.parquet(s"$work/src/f1")
      e.filter($"event_id" % 2 === 1 && $"value" > 200.0)
        .coalesce(1).write.parquet(s"$work/src/f2")
      val t0 = System.currentTimeMillis() - 120000
      for ((d, t) <- Seq(("f1", t0), ("f2", t0 + 60000));
           f <- new java.io.File(s"$work/src/$d").listFiles())
        f.setLastModified(t)
      val cfg = graft.streaming.AutoIngest.Config(s"$work/src/*", s"$work/schema",
        s"$work/ck", maxFilesPerTrigger = Some(1))
      def binOf(c: org.apache.spark.sql.Column) =
        least(floor(c / 50.0), lit(9.0)).cast("long")
      val ref = e.select(binOf($"value").as("vbin"))
        .groupBy($"vbin").agg(count(lit(1)).as("rc"))
      withShufflePartitions(s, 8) {
        graft.streaming.DriftMonitor.run(s, cfg, ref, "vbin", s"$work/metrics",
          prepare = df => df.withColumn("vbin", binOf(df("value"))))
      }
      graft.streaming.DriftMonitor.readMetrics(s, s"$work/metrics")
        .orderBy($"batch_id")
    }),

    // ── LLM-pipeline: MATRYOSHKA TRUNCATION FIDELITY — how much cosine
    //    moves when vectors are truncated to prefix budgets (the MRL
    //    serving decision: which dim budget preserves ranking). Per
    //    budget, mean |cos_d − cos_full| over consecutive-id pairs,
    //    12-dp decimal-summed — one row-local slice per budget, one agg.
    "q282_matryoshka_fidelity" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val sim = graft.llm.Similarity
      val e = Tables.embeddings(s, dir)
      val a = e.filter($"vec_id" < 99).select($"vec_id",
        transform($"embedding", _.cast("double")).as("va"))
      val b = e.select(($"vec_id" - 1).as("vec_id"),
        transform($"embedding", _.cast("double")).as("vb"))
      a.join(b, Seq("vec_id"))
        .select($"vec_id", $"va", $"vb",
          explode(array(Seq(8, 16, 32, 64).map(lit): _*)).as("budget"))
        .select($"budget",
          round(abs(
            sim.cosine(slice($"va", lit(1), $"budget"), slice($"vb", lit(1), $"budget")) -
              sim.cosine($"va", $"vb")), 12)
            .cast(DecimalType(28, 12)).as("gap"))
        .groupBy($"budget")
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          (round(sum($"gap").cast("double") / count(lit(1)), 6) + lit(0.0)).as("mean_gap"))
        .orderBy($"budget")
    }),

    // ── CDC: COLUMN-ATTRIBUTED CHANGE FEED — the derived-CDF of q116
    //    plus `_changed_columns` (sorted names of the data columns whose
    //    values moved, computed inside the same full-outer join row):
    //    the "which field changed" answer a consumer needs for partial
    //    downstream refresh. Scenario moves bal for some keys, seg for
    //    others, both for keys divisible by both moduli.
    "q284_column_diff" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("coldiff").toString
      val t = new graft.tables.SnapshotTable(s"$work/t")
      val base = Tables.customer(s, dir)
        .select($"c_custkey", Relational.money($"c_acctbal").cast("double").as("bal"),
          $"c_mktsegment".as("seg"))
      t.write(s, base) // v1
      t.write(s, base
        .withColumn("bal", when($"c_custkey" % 50 === 0, $"bal" + 100.0).otherwise($"bal"))
        .withColumn("seg", when($"c_custkey" % 30 === 0, lit("MOVED")).otherwise($"seg"))) // v2
      t.changes(s, Seq("c_custkey"), 1, 2, withChangedColumns = true)
        .orderBy($"c_custkey")
    }),

    // ── LLM-pipeline: HOMOGLYPH-FOLDED dedup — planted twins substitute
    //    Latin letters with Cyrillic confusables (the spam/SEO evasion):
    //    the plain fingerprint misses them (normalize even DELETES the
    //    impostor chars), the homoglyph-folded fingerprint pairs every
    //    twin with its original. Fold is one codegen'd translate; pairs
    //    come from a fingerprint-keyed hash join (never all-pairs). The
    //    oracle replays fold + fingerprint + join in full, so organic
    //    exact-dup pairs in the corpus count identically on both sides.
    "q280_homoglyph_dedup" -> ((s, dir) => {
      import s.implicits._
      val t = graft.llm.TextAnalysis
      val base = Tables.documents(s, dir).filter($"doc_id" < 100)
        .select($"doc_id", $"text")
      val twin = base.select(($"doc_id" + 1000000L).as("doc_id"),
        translate($"text", "aeopcxy", "аеорсху").as("text"))
      val fp = base.unionByName(twin).select($"doc_id",
        t.fingerprint($"text").as("fp_plain"),
        t.fingerprint(t.foldHomoglyphs($"text")).as("fp_fold"))
      fp.as("a").join(fp.as("b"),
          $"a.fp_fold" === $"b.fp_fold" && $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"),
          ($"a.fp_plain" === $"b.fp_plain").as("plain_match"))
        .orderBy($"d1", $"d2")
    }),

    // ── LLM-pipeline: LENGTH-BUCKETED BATCHING PLAN — assign every doc to
    //    a power-of-two token-length bucket and report per-bucket padding
    //    waste (batch inference pads to the bucket's longest; bucketing by
    //    length is THE padding-efficiency lever). One row-local bucket
    //    assignment + one agg; waste arithmetic is exact-integer.
    "q281_length_buckets" -> ((s, dir) => {
      import s.implicits._
      val t = graft.llm.TextAnalysis
      val bounds = Seq(16, 32, 64, 128, 256, 512, 1024, 2048)
      val nt = t.tokenCount($"text").cast("long")
      val bucket = bounds.reverse.tail.foldLeft(lit(bounds.last): org.apache.spark.sql.Column) {
        (acc, b) => when(nt <= b, lit(b)).otherwise(acc)
      }
      Tables.documents(s, dir)
        .select($"doc_id", nt.as("nt"), bucket.as("bucket"))
        .filter($"nt" <= bounds.last) // longer docs are truncation, not padding
        .groupBy($"bucket")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum($"nt").cast("long").as("sum_tokens"))
        .withColumn("padded_tokens", ($"n_docs" * $"bucket").cast("long"))
        .withColumn("waste_ratio",
          round(($"padded_tokens" - $"sum_tokens").cast("double") / $"padded_tokens", 6))
        .select($"bucket", $"n_docs", $"sum_tokens", $"padded_tokens", $"waste_ratio")
        .orderBy($"bucket")
    }),

    // ── Custom-plan surface: AS-OF JOIN WITH TOLERANCE (pandas
    //    merge_asof parity on the custom AsOfJoinExec): each event joins
    //    the latest purchase of the same user strictly before it, but a
    //    match further back than 30 minutes is discarded — an O(1)
    //    per-row check inside the sorted-merge pass (the latest-before
    //    match is also the nearest), never a second scan. Oracle:
    //    DuckDB's native ASOF JOIN + tolerance post-filter.
    "q279_asof_tolerance" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir).select($"event_id", $"user_id", $"ts")
      val p = Tables.events(s, dir).filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"ts".as("p_ts"), $"event_id".as("p_event_id"))
      graft.plans.AsOfJoin.asofJoin(e, p, "user_id", "p_user", "ts", "p_ts",
          tolerance = Some(1800.0))
        .select($"event_id", $"user_id", $"ts", $"p_event_id", $"p_ts")
        .orderBy($"event_id")
    }),

    // ── LLM-pipeline: BPE DECODE ROUND-TRIP — BPE is a lossless
    //    segmentation, so concatenating each doc's tokens must reproduce
    //    its normalized character stream EXACTLY (the invariant a
    //    tokenizer pipeline asserts before shipping a merge table; a
    //    corrupted merge drops or duplicates characters and flips ok).
    //    The Spark side compares decode(encode(text)) against the
    //    normalization for real; the oracle pins the closed form.
    "q277_bpe_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val merges = graft.llm.BpeTrainer.trainCapped(docs, "text", numMerges = 24,
          vocabCap = 50000)
        .orderBy($"step")
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      val enc = graft.llm.BpeTrainer.encodeAtScale(docs, "doc_id", "text", merges)
      val norm = docs.select($"doc_id",
        regexp_replace(lower($"text"), "\\s", "").as("norm"))
      enc.join(norm, $"id" === $"doc_id")
        .select($"doc_id",
          length($"norm").cast("long").as("n_chars"),
          (graft.llm.BpeTrainer.decode($"tokens") === $"norm").as("roundtrip_ok"))
        .orderBy($"doc_id")
    }),

    // ── Scale: MERGEABLE HLL SKETCH ROLLUP — per-(event_type, shard)
    //    sketches built ONCE, then rolled up to event_type by UNIONING
    //    the sketch binaries (hll_union_agg) with NO rescan of events:
    //    the pre-aggregate-then-merge pattern that makes distinct-count
    //    rollups O(sketches) instead of O(data) at 100 TB. Error-bound
    //    verdict vs the exact distinct count.
    "q278_hll_rollup" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir)
      val shard = e.groupBy($"event_type", pmod($"user_id", lit(8)).as("shard"))
        .agg(hll_sketch_agg($"user_id").as("sk"))
      val rolled = shard.groupBy($"event_type")
        .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("approx_users"))
      val exact = e.groupBy($"event_type")
        .agg(countDistinct($"user_id").as("exact_users"))
      rolled.join(exact, Seq("event_type"))
        .select($"event_type", $"exact_users",
          (abs($"approx_users" - $"exact_users") <=
            greatest(lit(3.0), $"exact_users" * 0.05)).as("est_ok"))
        .orderBy($"event_type")
    }),

    // ── Table format: SCHEMA-EVOLVING APPEND (Delta mergeSchema) — v2's
    //    increment ADDS o_orderstatus; the manifest read resolves every
    //    version's files to the union schema by name, so v1's rows read
    //    the new column as null. No rewrite of existing data — ADD COLUMN
    //    on a 100 TB table costs O(increment).
    "q276_append_schema_evolution" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("appendevo").toString
      val t = new graft.tables.SnapshotTable(s"$work/t")
      val o = Tables.orders(s, dir)
      t.write(s, o.filter($"o_orderkey" <= 10000)
        .select($"o_orderkey", $"o_totalprice"))
      t.appendEvolving(s, o.filter($"o_orderkey" > 10000 && $"o_orderkey" <= 20000)
        .select($"o_orderkey", $"o_totalprice", $"o_orderstatus").coalesce(1))
      t.read(s)
        .groupBy(coalesce($"o_orderstatus", lit("<pre-evolution>")).as("status"))
        .agg(count(lit(1)).cast("long").as("n"),
          Relational.sumMoney($"o_totalprice").as("total"))
        .orderBy($"status")
    }),

    // ── Governance: JOIN-PRESERVING PSEUDONYMIZATION — customer keys in
    //    BOTH tables replaced by a keyed SHA-256 surrogate (tokenization-
    //    by-MAC), then the star join runs ON THE TOKENS: referential
    //    integrity must survive masking exactly (per-segment aggregates
    //    equal the raw-key join's), and the sample token pins the byte-
    //    level surrogate against DuckDB's sha256. Pure codegen'd
    //    expressions — masking 100 TB is one scan-and-write, no shuffle.
    "q275_pseudonymize" -> ((s, dir) => {
      import s.implicits._
      val p = graft.ops.Privacy
      val cust = Tables.customer(s, dir)
        .select(p.pseudonym($"c_custkey", "pepper").as("cust_token"), $"c_mktsegment")
      val ord = Tables.orders(s, dir)
        .select(p.pseudonym($"o_custkey", "pepper").as("cust_token"), $"o_totalprice")
      cust.join(ord, Seq("cust_token"))
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).cast("long").as("n"),
          Relational.sumMoney($"o_totalprice").as("total"),
          min($"cust_token").as("sample_token"))
        .orderBy($"c_mktsegment")
    }),

    // ── Scale: DYNAMIC PARTITION PRUNING — a hive-partitioned fact joined
    //    to a filtered dim must scan only the partitions the dim filter
    //    selects, with the pruning value discovered AT RUNTIME from the
    //    broadcast side (Catalyst's DPP; the star-schema scan-cost killer
    //    at 100 TB). PlanAuditSpec pins `dynamicpruning` in the fact
    //    scan's partition filters.
    "q272_dynamic_partition_pruning" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("dpp").toString
      Tables.orders(s, dir)
        .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
        .write.partitionBy("o_orderpriority").parquet(s"$work/fact")
      val fact = s.read.parquet(s"$work/fact")
      // the dim must be a real scan: an in-memory LocalRelation would
      // constant-fold the tier filter away and DPP (which requires a
      // selective predicate on the build side) would never trigger
      Seq(("1-URGENT", "hot"), ("2-HIGH", "hot"), ("3-MEDIUM", "warm"),
        ("4-NOT SPECIFIED", "cold"), ("5-LOW", "cold"))
        .toDF("o_orderpriority", "tier")
        .write.parquet(s"$work/dim")
      val dim = s.read.parquet(s"$work/dim")
      fact.join(dim, Seq("o_orderpriority")).filter($"tier" === "hot")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).cast("long").as("n"),
          Relational.sumMoney($"o_totalprice").as("total"))
        .orderBy($"o_orderpriority")
    }),

    // ── LLM-pipeline: PERPLEXITY-FILTER scoring (the CCNet/KenLM stage,
    //    add-1 bigram core): train transition counts on the even-id half,
    //    score EVERY doc by mean transition log-prob. The model is two
    //    vocab-bounded aggs; scoring is one (w1,w2) hash join + a per-doc
    //    agg — 12-dp decimal-summed terms so scores replay bit-for-bit.
    "q274_bigram_perplexity" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      graft.llm.BigramLm.scoreDocs(
          docs.filter($"doc_id" % 2 === 0), docs, "doc_id", "text")
        .select($"id".as("doc_id"), $"n_bigrams", $"avg_logprob",
          ($"avg_logprob" >= -7.5 && $"n_bigrams" >= 10).as("keep"))
        .orderBy($"doc_id")
    }),

    // ── LLM-pipeline: CROSS-RESOLUTION image dedup via perceptual dHash —
    //    the same picture at 16×16 and 32×32 has different bytes AND
    //    different pixels (so q256's exact-pixel signature can't catch
    //    it), but only luma ORDERINGS survive a resize: dHash (9×8
    //    bilinear → 64 adjacent-luma comparison bits) lands twins at
    //    Hamming ≤ ~8 while distinct patterns sit near 32. Pairs via the
    //    SimHash-style banded join (8×8-bit bands; Hamming ≤ 7 over 8
    //    bands pigeonholes into ≥1 clean band) + exact bit_count verify —
    //    never all-pairs. Oracle: closed-form planted-twin enumeration.
    "q273_image_dhash_dedup" -> ((s, dir) => {
      import s.implicits._
      val m = graft.llm.Multimodal
      val ids = Tables.documents(s, dir).filter($"doc_id" < 150)
        .select($"doc_id", $"doc_id".cast("long").as("seed"))
      val all = ids.select($"doc_id", $"seed", lit(2).as("scale"))
        .unionByName(ids.select(($"doc_id" + 1000000L).as("doc_id"), $"seed",
          lit(4).as("scale")))
      val hashed = m.dhash64(m.syntheticBlockPng(all, "seed", "scale"), "content")
        .select($"doc_id", $"dhash")
      val banded = hashed.select($"doc_id", $"dhash",
        explode(array((0 until 8).map(b =>
          struct(lit(b).as("band"),
            shiftright($"dhash", b * 8).bitwiseAND(lit(255L)).as("slice"))): _*)).as("bb"))
        .select($"doc_id", $"dhash", $"bb.band", $"bb.slice")
      banded.as("a").join(banded.as("b"),
          $"a.band" === $"b.band" && $"a.slice" === $"b.slice" &&
            $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"),
          $"a.dhash".as("h1"), $"b.dhash".as("h2"))
        .dropDuplicates("d1", "d2")
        .filter(bit_count($"h1".bitwiseXOR($"h2")) <= 12)
        .filter($"d2" - $"d1" === 1000000L) // planted-recovery form
        .select($"d1", $"d2")
        .orderBy($"d1")
    }),

    // ── C4 + deletes, STREAMING form: the declarative gold pipeline
    //    (create_auto_cdc_flow analog) drains a two-file silver stream
    //    through an SCD2 merge with apply_as_deletes into the
    //    transactional snapshot — 'error' events tombstone their user.
    //    Output is the CURRENT state: users whose newest event is an
    //    error must be absent; everyone else carries their latest event.
    "q271_streaming_cdc_deletes" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("cdcdel").toString
      val e = Tables.events(s, dir).select($"user_id", $"event_id", $"event_type", $"ts")
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      e.filter($"ts" < cut).coalesce(1).write.parquet(s"$work/silver/f1")
      e.filter($"ts" >= cut).coalesce(1).write.parquet(s"$work/silver/f2")
      val t0 = System.currentTimeMillis() - 120000
      for ((d, tm) <- Seq(("f1", t0), ("f2", t0 + 60000));
           f <- new java.io.File(s"$work/silver/$d").listFiles())
        f.setLastModified(tm)
      val pipe = new graft.gold.GoldPipeline(s"$work/gold", s"$work/ck")
        .declare(graft.gold.GoldTable(
          name = "dim_user", silverPath = s"$work/silver/*",
          keys = Seq("user_id"), sequenceBy = "ts", scdType = 2,
          tieBreak = Seq($"event_id"),
          applyAsDeletes = Some($"event_type" === "error")))
      // maxFilesPerTrigger isn't part of GoldTable (DLT parity) — one
      // AvailableNow drain merges both files' batches in order
      pipe.runOnce(s)
      graft.cdc.ScdMerge.current(pipe.readTable(s, "dim_user"))
        .select($"user_id", $"event_id", $"event_type", $"__START_AT")
        .orderBy($"user_id")
    }),

    // ── SQL DML surface over the transactional table: MERGE INTO with
    //    DELETE WHEN — DLT auto-CDC SCD1 semantics (sequence-ordered
    //    last-write-wins, tombstone rows remove their key) driven entirely
    //    from SQL through the injected parser; the command compiles to the
    //    same ScdMerge.scd1Upsert + atomic snapshot commit the
    //    programmatic API uses.
    "q269_sql_merge" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("sqlmerge").toString
      val t = new graft.tables.SnapshotTable(s"$work/t")
      val cust = Tables.customer(s, dir)
      t.write(s, cust.filter($"c_custkey" <= 1000)
        .select($"c_custkey", $"c_acctbal", lit(1L).as("op_seq")))
      cust.filter($"c_custkey" % 2 === 0 && $"c_custkey" <= 1500)
        .select($"c_custkey", ($"c_acctbal" + 100.0).as("c_acctbal"),
          lit(2L).as("op_seq"))
        .createOrReplaceTempView("g269_batch")
      org.apache.spark.sql.GraftColumnBridge.graftSql(s,
        s"MERGE INTO '${t.root}' USING g269_batch ON KEYS (c_custkey) " +
          "SEQUENCE BY op_seq DELETE WHEN c_custkey % 10 = 0").collect()
      // read back through the SQL surface: SNAPSHOT hides the persisted
      // tombstone state rows (__DELETED) and drops the bookkeeping column
      org.apache.spark.sql.GraftColumnBridge.graftSql(s, s"SNAPSHOT '${t.root}'")
        .select($"c_custkey", $"c_acctbal", $"op_seq")
        .orderBy($"c_custkey")
    }),

    // ── SQL DML: UPDATE (copy-on-write atomic rewrite) + DELETE FROM
    //    (O(matched) key tombstones) + SNAPSHOT time travel — the final
    //    answer reads the post-DML state AND version 1 through the SQL
    //    `SNAPSHOT … [VERSION AS OF]` query form, proving DML never
    //    destroys history.
    "q270_sql_update_delete" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("sqldml").toString
      val t = new graft.tables.SnapshotTable(s"$work/t")
      t.write(s, Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        .filter($"o_orderkey" <= 20000))
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      // +50.0 (not *1.1): double addition is IEEE-exact here, so the
      // updated values are bit-identical in Spark and DuckDB and the
      // DECIMAL(18,2) money cast rounds the same input on both sides
      sqlRun(s"UPDATE '${t.root}' SET o_totalprice = o_totalprice + 50.0 " +
        "WHERE o_orderstatus = 'F'").collect()
      sqlRun(s"DELETE FROM '${t.root}' WHERE o_totalprice < 1000.0").collect()
      def agg(df: org.apache.spark.sql.DataFrame, tag: String) =
        df.groupBy($"o_orderstatus")
          .agg(count(lit(1)).cast("long").as("n"),
            Relational.sumMoney($"o_totalprice").as("total"))
          .withColumn("state", lit(tag))
      agg(sqlRun(s"SNAPSHOT '${t.root}'"), "current")
        .unionByName(agg(sqlRun(s"SNAPSHOT '${t.root}' VERSION AS OF 1"), "v1"))
        .select($"state", $"o_orderstatus", $"n", $"total")
        .orderBy($"state", $"o_orderstatus")
    }),

    // ── C5 + deletes: SCD1 with `apply_as_deletes` (DLT's parameter; the
    //    reference leaves it unset — any real CDC source emits deletes).
    //    'error' events act as tombstones: a key whose NEWEST event is an
    //    error is absent from the final state; a stale tombstone loses to
    //    the stored row; a later upsert re-inserts. Two merge batches
    //    split at a cut must equal the closed-form last-write construction.
    "q267_scd1_deletes" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir)
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      val del = Some($"event_type" === "error")
      val initial = graft.cdc.ScdMerge.scd1Upsert(
        None, e.filter($"ts" < cut), Seq("user_id"), "ts", Seq($"event_id"), del)
      // the STATE persists tombstone rows (cross-batch out-of-order
      // protection); scd1Current is the visible table
      graft.cdc.ScdMerge.scd1Current(graft.cdc.ScdMerge.scd1Upsert(
        Some(initial), e.filter($"ts" >= cut), Seq("user_id"), "ts", Seq($"event_id"), del))
        .select($"user_id", $"event_id", $"ts", $"event_type", $"value")
        .orderBy($"user_id")
    }),

    // ── C4 + deletes: SCD2 with `apply_as_deletes` — an 'error' event
    //    becomes a stored tombstone version that closes the previous
    //    version AT THE DELETE'S SEQUENCE without opening a successor; a
    //    later event re-opens the key. The visible chain (tombstones
    //    filtered) must equal the closed-form lead() construction over ALL
    //    events with tombstone rows dropped after chaining — across two
    //    merge batches, so late splices against stored tombstones and
    //    replay dedup are exercised.
    "q268_scd2_deletes" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir).select($"user_id", $"event_id", $"event_type", $"ts")
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      val del = Some($"event_type" === "error")
      val initial = graft.cdc.ScdMerge.scd2Merge(
        None, e.filter($"ts" < cut), Seq("user_id"), "ts", Seq($"event_id"),
        Nil, del)
      graft.cdc.ScdMerge.scd2Merge(
        Some(initial), e.filter($"ts" >= cut), Seq("user_id"), "ts", Seq($"event_id"),
        Nil, del)
        .filter(!$"__DELETED")
        .select($"user_id", $"event_id", $"event_type", $"__START_AT", $"__END_AT")
        .orderBy($"user_id", $"__START_AT", $"event_id")
    }),

    // ── SQL UPDATE on a BUCKETED root (r8): copy-on-write DML on the
    //    100 TB table format — only buckets containing matches are
    //    rewritten (asserted in BucketedTableSpec), and ALL SET right-hand
    //    sides evaluate against the PRE-update row (simultaneous
    //    assignment: o_totalprice reads the OLD o_custkey even though
    //    o_custkey is itself being SET).
    "q288_bucketed_sql_update" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("bsqlupd").toString
      val bt = new graft.tables.BucketedSnapshotTable(s"$work/t", 16, Seq("o_orderkey"))
      bt.scd1Merge(s, Tables.orders(s, dir)
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
        .withColumn("op_seq", lit(1L)), "op_seq")
      org.apache.spark.sql.GraftColumnBridge.graftSql(s,
        s"UPDATE '$work/t' SET o_totalprice = o_totalprice + o_custkey, " +
          "o_custkey = o_custkey + 7 WHERE o_orderstatus = 'F'").collect()
      org.apache.spark.sql.GraftColumnBridge.graftSql(s, s"SNAPSHOT '$work/t'")
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
        .orderBy($"o_orderkey")
    }),

    // ── SQL DELETE FROM on a BUCKETED root (r8): rewrite only buckets
    //    holding matches, drop the rows; a NULL predicate keeps its row
    //    (SQL DELETE removes TRUE matches only).
    "q289_bucketed_sql_delete" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("bsqldel").toString
      val bt = new graft.tables.BucketedSnapshotTable(s"$work/t", 16, Seq("c_custkey"))
      bt.scd1Merge(s, Tables.customer(s, dir)
        .select($"c_custkey", $"c_name", $"c_acctbal", $"c_mktsegment")
        .withColumn("op_seq", lit(1L)), "op_seq")
      val n = org.apache.spark.sql.GraftColumnBridge.graftSql(s,
        s"DELETE FROM '$work/t' WHERE c_acctbal < 0.0 OR c_mktsegment = 'BUILDING'")
        .as[Long].head()
      org.apache.spark.sql.GraftColumnBridge.graftSql(s, s"SNAPSHOT '$work/t'")
        .select($"c_custkey", $"c_name", $"c_acctbal", $"c_mktsegment")
        .withColumn("n_deleted", lit(n))
        .orderBy($"c_custkey")
    }),

    // ── Bucketed SCHEMA EVOLUTION (r8): a later merge batch ADDS a column
    //    (tier) and OMITS one (c_acctbal) — the commit stays O(affected
    //    buckets) with NO migration rewrite; the bucket read resolves the
    //    union schema by name, null-filling both directions (untouched
    //    buckets read tier as NULL; updated keys read the omitted
    //    c_acctbal as NULL — pure last-write version semantics).
    "q290_bucketed_evolve" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("bevolve").toString
      val bt = new graft.tables.BucketedSnapshotTable(s"$work/t", 8, Seq("c_custkey"))
      val c = Tables.customer(s, dir)
      bt.scd1Merge(s, c.select($"c_custkey", $"c_name", $"c_acctbal")
        .withColumn("op_seq", lit(1L)), "op_seq")
      bt.scd1Merge(s, c.filter($"c_custkey" % 7 === 0)
        .select($"c_custkey", $"c_name",
          when($"c_acctbal" > 5000.0, "high").otherwise("low").as("tier"))
        .withColumn("op_seq", lit(2L)), "op_seq")
      bt.read(s)
        .select($"c_custkey", $"c_name", $"c_acctbal", $"tier", $"op_seq")
        .orderBy($"c_custkey")
    }),

    // ── SCD TYPE 2 through SQL MERGE (r8): the q268 delete-flow scenario
    //    driven entirely from SQL — two MERGE … SCD TYPE 2 … DELETE WHEN
    //    batches into a snapshot root, visible chain read back through
    //    SNAPSHOT (which hides tombstone versions and the bookkeeping
    //    column). SQL surface ≡ programmatic gold pipeline.
    "q291_sql_scd2_merge" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("sqlscd2").toString
      val e = Tables.events(s, dir).select($"user_id", $"event_id", $"event_type", $"ts")
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      e.filter($"ts" < cut).createOrReplaceTempView("g291_b1")
      e.filter($"ts" >= cut).createOrReplaceTempView("g291_b2")
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      sqlRun(s"MERGE INTO '$work/t' USING g291_b1 ON KEYS (user_id) " +
        "SEQUENCE BY ts SCD TYPE 2 DELETE WHEN event_type = 'error'").collect()
      sqlRun(s"MERGE INTO '$work/t' USING g291_b2 ON KEYS (user_id) " +
        "SEQUENCE BY ts SCD TYPE 2 DELETE WHEN event_type = 'error'").collect()
      sqlRun(s"SNAPSHOT '$work/t'")
        .select($"user_id", $"event_id", $"event_type", $"__START_AT", $"__END_AT")
        .orderBy($"user_id", $"__START_AT", $"event_id")
    }),

    // ── Bucketed POINT LOOKUP (r8): the probed keys hash to their bucket
    //    dirs driver-side and only those are scanned before the semi-join
    //    — a single-key read on a 4096-bucket 100 TB table touches
    //    1/4096th of it (the bucketed format's Bloom-index analog).
    // ── DESCRIBE DETAIL (r8): one metadata row per table — format,
    //    version, bucket layout, partition/stats columns, constraints —
    //    all driver-side metadata reads, no data scan. Exercised over
    //    both formats; the layout facts are closed-form.
    // ── EXACTLY-ONCE CDF MIRROR (r9): the consumer side of the bucketed
    //    change feed closed into a loop — applyChangesTo keeps a second
    //    bucketed table (different bucket count) in sync via manifest-
    //    pruned diffs, with the target's txn ledger as the committed
    //    progress marker. The query replays a REAL crash window in-line:
    //    the v2 window's merge lands but the consumer dies before its
    //    checkpoint advances; the next applyChangesTo call heals the
    //    checkpoint from the ledger (no double-apply) and then follows the
    //    v3 window incrementally. Oracle reconstructs the final state.
    "q302_cdf_exactly_once_mirror" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("cdfmirror").toString
      // 15k-row fixture across many small merge/window jobs: shrink the
      // shuffle width so the run measures the exactly-once machinery
      withShufflePartitions(s, 8) {
      val src = new graft.tables.BucketedSnapshotTable(s"$work/src", 16, Seq("c_custkey"))
      val dst = new graft.tables.BucketedSnapshotTable(s"$work/dst", 8, Seq("c_custkey"))
      val ck = s"$work/ck"
      val c = Tables.customer(s, dir).select($"c_custkey", $"c_name", $"c_acctbal")
      src.scd1Merge(s, c.withColumn("op_seq", lit(1L)), "op_seq") // v1
      src.applyChangesTo(s, ck, dst, "mirror") // bootstrap
      // v2: update + delete + insert
      val upd = c.filter($"c_custkey" % 10 === 0 && $"c_custkey" % 17 =!= 0)
        .withColumn("c_acctbal", $"c_acctbal" + 100)
      val dels = c.filter($"c_custkey" % 17 === 0)
      val ins = c.filter($"c_custkey" % 50 === 0)
        .withColumn("c_custkey", $"c_custkey" + 10000000L)
      src.scd1Merge(s, upd.unionByName(dels).unionByName(ins)
          .withColumn("op_seq", lit(2L)), "op_seq", Nil,
        applyAsDeletes = Some($"c_custkey" % 17 === 0 && $"c_custkey" < 10000000L))
      // crash window: the v2 apply LANDS in dst (ledger stamped) but the
      // consumer dies before the checkpoint advances
      try src.consumeChangesVersioned(s, ck) { (feed, _, toV) =>
        dst.scd1Merge(s, feed
            .withColumn(graft.cdc.ScdMerge.DeletedCol, $"_change_type" === "delete")
            .drop("_change_type")
            .withColumn("__cdf_seq", lit(toV.toLong)),
          "__cdf_seq", Nil,
          applyAsDeletes = Some(col(graft.cdc.ScdMerge.DeletedCol)),
          txn = Some(("cdf:mirror", toV.toLong)))
        throw new RuntimeException("crash before checkpoint")
      } catch { case _: RuntimeException => }
      src.applyChangesTo(s, ck, dst, "mirror") // heal: ledger says v2 applied
      // v3: one more incremental window on the healed consumer — the v2
      // visible state derived arithmetically from the input (no need to
      // re-read the whole source just to build the next batch)
      val v2state = c.filter($"c_custkey" % 17 =!= 0)
        .withColumn("c_acctbal", when($"c_custkey" % 10 === 0,
          $"c_acctbal" + 100).otherwise($"c_acctbal"))
        .unionByName(ins)
      src.scd1Merge(s, v2state.filter($"c_custkey" % 7 === 0)
        .withColumn("c_acctbal", $"c_acctbal" + 1)
        .withColumn("op_seq", lit(3L)), "op_seq")
      src.applyChangesTo(s, ck, dst, "mirror")
      graft.cdc.ScdMerge.scd1Current(dst.read(s))
        .select($"c_custkey", $"c_name", $"c_acctbal")
        .orderBy($"c_custkey")
      }
    }),

    // ── STATS-PRUNED PREDICATE DML (r9): UPDATE WHERE mod_ts >= <recent>
    //    on a bucketed table whose batches carry per-file stats — the
    //    discovery scan skips every bucket whose files cannot hold recent
    //    rows (Delta data-skipping composed with the copy-on-write DML),
    //    so the maintenance cost tracks the RECENT data, not the table.
    //    The query asserts the pruning in-line (candidate set strictly
    //    smaller than the table) and the oracle replays the arithmetic.
    "q303_update_stats_pruned" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("updstats").toString
      val bt = new graft.tables.BucketedSnapshotTable(s"$work/t", 16,
        Seq("c_custkey"), statsCols = Seq("mod_ts"))
      val c = Tables.customer(s, dir).select($"c_custkey", $"c_acctbal")
      bt.scd1Merge(s, c
        .withColumn("mod_ts", lit("2024-01-01 00:00:00").cast("timestamp"))
        .withColumn("op_seq", lit(1L)), "op_seq")
      val hot = bt.scd1Merge(s, c.filter($"c_custkey" % 100 === 0)
        .withColumn("c_acctbal", $"c_acctbal" + 5)
        .withColumn("mod_ts", lit("2024-02-01 00:00:00").cast("timestamp"))
        .withColumn("op_seq", lit(2L)), "op_seq")
      val pred = $"mod_ts" >= lit("2024-01-15 00:00:00").cast("timestamp")
      val cand = bt.statsCandidates(s, bt.manifest(s), pred)
        .getOrElse(sys.error("stats pre-filter must extract the range bound"))
      // scale-independent pruning pin: candidates must be EXACTLY the
      // buckets the hot merge rewrote (batch-1 files max out at the old
      // mod_ts and are skipped), whatever fraction of the table that is
      require(cand == hot,
        s"discovery must prune to the hot merge's buckets: $cand vs $hot")
      val (touched, _) = bt.update(s, pred,
        Seq("c_acctbal" -> ($"c_acctbal" + 1000)))
      require(touched.subsetOf(cand), "rewrite must stay inside the candidate set")
      bt.read(s).select($"c_custkey", $"c_acctbal", $"mod_ts")
        .orderBy($"c_custkey")
    }),

    // ── SQL CTAS (r9): CREATE TABLE … BUCKETED BY … INTO n BUCKETS
    //    SEQUENCE BY … STATS (…) AS <query> seeds the 100 TB format from
    //    SQL alone — the initial load runs the same merge algebra every
    //    later MERGE INTO uses, the manifest header records the layout,
    //    and the created table is immediately a first-class MERGE target.
    //    A plain CTAS rides along to pin the other format's route.
    "q304_sql_ctas" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("ctas").toString
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      Tables.customer(s, dir).select($"c_custkey", $"c_mktsegment", $"c_acctbal")
        .withColumn("op_seq", lit(1L)).createOrReplaceTempView("g304_src")
      sqlRun(s"CREATE TABLE '$work/b' BUCKETED BY (c_custkey) INTO 16 BUCKETS " +
        "SEQUENCE BY op_seq STATS (c_acctbal) AS SELECT * FROM g304_src").collect()
      Tables.customer(s, dir).filter($"c_custkey" % 9 === 0)
        .select($"c_custkey", $"c_mktsegment", ($"c_acctbal" + 7).as("c_acctbal"))
        .withColumn("op_seq", lit(2L)).createOrReplaceTempView("g304_b2")
      sqlRun(s"MERGE INTO '$work/b' USING g304_b2 ON KEYS (c_custkey) " +
        "SEQUENCE BY op_seq").collect()
      Tables.region(s, dir).createOrReplaceTempView("g304_region")
      sqlRun(s"CREATE TABLE '$work/p' AS SELECT r_regionkey, r_name FROM g304_region").collect()
      val nRegions = sqlRun(s"SNAPSHOT '$work/p'").count()
      sqlRun(s"SNAPSHOT '$work/b'")
        .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
        .withColumn("n_regions", lit(nRegions))
        .orderBy($"c_custkey")
    }),

    // ── SQL ANALYZE (r9): stats backfill on a bucketed table created
    //    WITHOUT stats — per-batch `_stats` sidecars + a metadata-only
    //    commit recording the columns in the manifest header, after which
    //    the same range UPDATE q303 runs is stats-pruned here too (the
    //    in-query require pins it). Closes the "legacy data can never
    //    prune" gap.
    "q305_sql_analyze" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("analyze").toString
      val bt = new graft.tables.BucketedSnapshotTable(s"$work/t", 16, Seq("c_custkey"))
      val c = Tables.customer(s, dir).select($"c_custkey", $"c_acctbal")
      bt.scd1Merge(s, c
        .withColumn("mod_ts", lit("2024-01-01 00:00:00").cast("timestamp"))
        .withColumn("op_seq", lit(1L)), "op_seq")
      val hot = bt.scd1Merge(s, c.filter($"c_custkey" % 100 === 0)
        .withColumn("c_acctbal", $"c_acctbal" + 5)
        .withColumn("mod_ts", lit("2024-02-01 00:00:00").cast("timestamp"))
        .withColumn("op_seq", lit(2L)), "op_seq")
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      sqlRun(s"ANALYZE '$work/t' STATS (mod_ts)").collect()
      val l = graft.tables.BucketedSnapshotTable.layoutOf(s, s"$work/t").get
      require(l.statsCols == Seq("mod_ts"),
        s"ANALYZE must record stats columns in the manifest header: ${l.statsCols}")
      val bt2 = new graft.tables.BucketedSnapshotTable(s"$work/t", 16,
        Seq("c_custkey"), l.statsCols)
      val pred = $"mod_ts" >= lit("2024-01-15 00:00:00").cast("timestamp")
      val cand = bt2.statsCandidates(s, bt2.manifest(s), pred)
        .getOrElse(sys.error("backfilled stats must feed the DML pre-filter"))
      // scale-independent pin (see q303): candidates = the hot merge's
      // buckets exactly, now from ANALYZE-backfilled stats
      require(cand == hot,
        s"post-ANALYZE discovery must prune to the hot buckets: $cand vs $hot")
      sqlRun(s"UPDATE '$work/t' SET c_acctbal = c_acctbal + 1000 " +
        "WHERE mod_ts >= TIMESTAMP '2024-01-15 00:00:00'").collect()
      sqlRun(s"SNAPSHOT '$work/t'")
        .select($"c_custkey", $"c_acctbal", $"mod_ts")
        .orderBy($"c_custkey")
    }),

    // ── APPLY CHANGES INTO … FROM … (r9): the DLT-style consumer loop as
    //    ONE SQL statement — bootstrap creates the target with the
    //    source's keys, each later call consumes exactly the manifest-
    //    pruned window since the checkpoint, and an immediate replay is a
    //    clean no-op (ledger + checkpoint agree).
    "q306_sql_apply_changes" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("sqlapply").toString
      val src = new graft.tables.BucketedSnapshotTable(s"$work/src", 16, Seq("o_orderkey"))
      val o = Tables.orders(s, dir).select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      src.scd1Merge(s, o.withColumn("op_seq", lit(1L)), "op_seq")
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      val stmt = s"APPLY CHANGES INTO '$work/dst' FROM '$work/src' " +
        s"USING CHECKPOINT '$work/ck' AS mirror"
      sqlRun(stmt).collect() // bootstrap: creates dst with the source's keys
      src.scd1Merge(s, o.filter($"o_orderkey" % 13 === 0 && $"o_orderkey" % 19 =!= 0)
          .withColumn("o_totalprice", $"o_totalprice" + 10)
          .unionByName(o.filter($"o_orderkey" % 19 === 0))
          .withColumn("op_seq", lit(2L)), "op_seq", Nil,
        applyAsDeletes = Some($"o_orderkey" % 19 === 0))
      sqlRun(stmt).collect() // incremental window
      val replay = sqlRun(stmt).as[(Int, Int)].head()
      require(replay._1 == 2, s"replay must stand at source v2: $replay")
      sqlRun(s"SNAPSHOT '$work/dst'")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        .orderBy($"o_orderkey")
    }),

    // ── BLOOM-PRUNED POINT DML (r9): the table is bucketed (and thus
    //    clustered) by c_custkey, so every batch's [min,max] for c_name
    //    spans the whole domain — range stats prune NOTHING for a point
    //    predicate on it. Per-batch Bloom sidecars answer "might this
    //    file contain the key?" regardless of layout: the in-query
    //    require pins discovery to ≲fpp·files buckets, then the SQL
    //    UPDATE (the merges recorded the bloomCols header, so routing
    //    picks the index up from the manifest alone) rewrites only the
    //    matched bucket. The oracle replays the arithmetic.
    "q307_bloom_point_dml" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("bloomdml").toString
      withShufflePartitions(s, 8) {
      val bt = new graft.tables.BucketedSnapshotTable(s"$work/t", 16,
        Seq("c_custkey"), Nil, Seq("c_name"))
      val c = Tables.customer(s, dir).select($"c_custkey", $"c_name", $"c_acctbal")
      bt.scd1Merge(s, c.withColumn("op_seq", lit(1L)), "op_seq")
      bt.scd1Merge(s, c.filter($"c_custkey" % 50 === 0)
        .withColumn("c_acctbal", $"c_acctbal" + 5)
        .withColumn("op_seq", lit(2L)), "op_seq")
      val target = "Customer#000000042"
      // scale-independent pin: a point probe on the non-key column must
      // name ≲fpp·files buckets, not the whole live set
      val cand = bt.statsCandidates(s, bt.manifest(s), $"c_name" === target)
        .getOrElse(sys.error("bloom probe must extract the point constraint"))
      require(cand.size <= 3,
        s"bloom must prune the point probe to ~1 bucket: ${cand.size} ($cand)")
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      sqlRun(s"UPDATE '$work/t' SET c_acctbal = c_acctbal + 1000 " +
        s"WHERE c_name = '$target'").collect()
      sqlRun(s"SNAPSHOT '$work/t'")
        .select($"c_custkey", $"c_name", $"c_acctbal")
        .orderBy($"c_custkey")
      }
    }),

    // ── BLOOM-PRUNED POINT READ (r9): the read-side complement of q307 —
    //    a serving-style lookup by a NON-key column on a table bucketed
    //    (and so clustered) by another key. The bucket layout prunes
    //    nothing here; the per-file Bloom sidecars keep only the files
    //    that might contain the name (in-query require pins the scan
    //    set), and the row filter makes the superset exact.
    "q309_bloom_point_read" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("bloomread").toString
      withShufflePartitions(s, 8) {
      val bt = new graft.tables.BucketedSnapshotTable(s"$work/t", 16,
        Seq("c_custkey"), Nil, Seq("c_name"))
      val c = Tables.customer(s, dir).select($"c_custkey", $"c_name", $"c_acctbal")
      bt.scd1Merge(s, c.withColumn("op_seq", lit(1L)), "op_seq")
      bt.scd1Merge(s, c.filter($"c_custkey" % 70 === 0)
        .withColumn("c_acctbal", $"c_acctbal" + 3)
        .withColumn("op_seq", lit(2L)), "op_seq")
      val target = "Customer#000000077"
      val (kept, full) = bt.pruneStats(s, $"c_name" === target)
      require(kept > 0 && kept * 4 <= full,
        s"bloom point read must prune files: $kept of $full")
      bt.readIndexed(s).filter($"c_name" === target)
        .select($"c_custkey", $"c_name", $"c_acctbal")
        .orderBy($"c_custkey")
      }
    }),

    // ── READ-SIDE DATA SKIPPING THROUGH SQL (r10, bucketed): the engine's
    //    stats+Bloom sidecars prune SQL READS, not just DML discovery —
    //    `SNAPSHOT '<root>' WHERE …` lists its files through the pruning
    //    file index, so the interactive point/range query a serving user
    //    runs schedules O(matching files), never O(table). The in-query
    //    requires pin the pruned file counts (scale-independent: the probe
    //    is metadata-only); the row filter makes the superset exact.
    "q310_sql_read_skipping" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("sqlskip").toString
      withShufflePartitions(s, 8) {
      val bt = new graft.tables.BucketedSnapshotTable(s"$work/t", 16,
        Seq("c_custkey"), Seq("c_acctbal"), Seq("c_name"))
      val c = Tables.customer(s, dir).select($"c_custkey", $"c_name", $"c_acctbal")
      bt.scd1Merge(s, c.withColumn("op_seq", lit(1L)), "op_seq")
      // the hot batch's balances land FAR outside the base range, so the
      // per-batch stats separate its files from every base file; a FIXED
      // 2-key hot set keeps the matching file count scale-independent
      // (a modulus-based set would grow with SF and honestly touch most
      // buckets — no prune to pin)
      bt.scd1Merge(s, c.filter($"c_custkey".isin(3, 4))
        .withColumn("c_acctbal", $"c_acctbal" + 20000)
        .withColumn("op_seq", lit(2L)), "op_seq")
      val target = "Customer#000000049" // not in the hot set: batch-1 balance
      val (kRange, all) = bt.pruneStats(s, $"c_acctbal" >= 15000)
      require(kRange > 0 && kRange * 4 <= all,
        s"stats must prune the SQL range read: $kRange of $all files")
      val (kPoint, _) = bt.pruneStats(s, $"c_name" === target)
      require(kPoint > 0 && kPoint * 4 <= all,
        s"bloom must prune the SQL point read: $kPoint of $all files")
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      sqlRun(s"SNAPSHOT '$work/t' WHERE c_acctbal >= 15000")
        .unionByName(sqlRun(s"SNAPSHOT '$work/t' WHERE c_name = '$target'"))
        .select($"c_custkey", $"c_name", $"c_acctbal")
        .orderBy($"c_custkey")
      }
    }),

    // ── READ-SIDE DATA SKIPPING THROUGH SQL (r10, plain format): same
    //    serving queries on a plain snapshot — the data dir's range stats
    //    (clustered by order date, so file ranges are disjoint) and its
    //    Bloom sidecar (point lookups OFF the clustering order) both
    //    prune the SNAPSHOT relation's file list at planning time.
    "q311_sql_read_skipping_plain" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("sqlskipp").toString
      withShufflePartitions(s, 8) {
      val t = new graft.tables.SnapshotTable(s"$work/t")
      t.writeIndexed(s, Tables.orders(s, dir)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderdate"),
        statsCols = Seq("o_orderdate"), bloomCols = Seq("o_orderkey"),
        clusterBy = Seq("o_orderdate"), clusterPartitions = 8)
      val (kRange, all) = t.pruneStats(s,
        $"o_orderdate" >= lit("2001-06-01 00:00:00").cast("timestamp"))
      require(kRange > 0 && kRange * 2 <= all,
        s"stats must prune the late-date range read: $kRange of $all files")
      val (kPoint, _) = t.pruneStats(s, $"o_orderkey" === 1L)
      require(kPoint > 0 && kPoint * 2 <= all,
        s"bloom must prune the point read: $kPoint of $all files")
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      sqlRun(s"SNAPSHOT '$work/t' WHERE o_orderdate >= TIMESTAMP '2001-06-01 00:00:00'")
        .unionByName(sqlRun(s"SNAPSHOT '$work/t' WHERE o_orderkey = 1"))
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderdate")
        .orderBy($"o_orderkey", $"o_orderdate")
      }
    }),

    // ── DOUBLE-KIND BLOOM + MIXED-TYPE IN PROBING (r10): point lookups on
    //    a FRACTIONAL column (canonical-double-bits "d" filters — range
    //    stats see domain-wide [min,max] in every file here) and an
    //    IN-list mixing integral and string literals, both pruned through
    //    SQL SNAPSHOT reads. Pre-r10 a double value could not probe at all
    //    and one off-kind IN item degraded the probe to a full scan; now
    //    each item converts per-kind when coercion-sound. In-query
    //    requires pin both file sets.
    "q313_double_bloom_read" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("dblbloom").toString
      withShufflePartitions(s, 8) {
      val bt = new graft.tables.BucketedSnapshotTable(s"$work/t", 16,
        Seq("c_custkey"), Nil, Seq("c_acctbal", "oid"))
      val c = Tables.customer(s, dir)
        .select($"c_custkey", $"c_name", $"c_acctbal")
        .withColumn("oid", $"c_custkey" * 1000L)
      bt.scd1Merge(s, c.withColumn("op_seq", lit(1L)), "op_seq")
      // the probed double is customer 7's stored balance — deterministic
      // given the table, and its shortest-string rendering round-trips to
      // the exact stored double in both engines
      val v = c.filter($"c_custkey" === 7).select($"c_acctbal").as[Double].head()
      val (kD, all) = bt.pruneStats(s, $"c_acctbal" === v)
      require(kD > 0 && kD * 4 <= all,
        s"double bloom must prune the point read: $kD of $all files")
      val (kIn, _) = bt.pruneStats(s, expr("oid IN (3000, '4000')"))
      require(kIn > 0 && kIn * 4 <= all,
        s"mixed-type IN must prune on its convertible items: $kIn of $all files")
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      sqlRun(s"SNAPSHOT '$work/t' WHERE c_acctbal = ${v.toString}")
        .unionByName(sqlRun(s"SNAPSHOT '$work/t' WHERE oid IN (3000, '4000')"))
        .select($"c_custkey", $"c_name", $"c_acctbal", $"oid")
        .orderBy($"c_custkey")
      }
    }),

    // ── LIKE-PREFIX DATA SKIPPING (r10): `WHERE url LIKE 'prefix%'` is
    //    the serving predicate string stats exist for — the bounds
    //    extractor maps LIKE/startswith prefixes to the inclusive range
    //    [p, prefixSuccessor(p)], so a prefix probe over a name-clustered
    //    table schedules only the lexicographic band's files (composes
    //    with the r9 adaptive-prefix stats for long shared prefixes).
    // ── TRANSPARENT MV ROUTING (r11): registerRewrite connects the
    //    incrementally-maintained materialized view to the optimizer's
    //    rollup rewrite — an ORDINARY aggregate over the source's snapshot
    //    relation (no view named anywhere) is rewritten to read the MV's
    //    bucketed state instead: a kilobyte read in place of a fact scan,
    //    and REFRESH visibility is immediate because the provider re-reads
    //    the live state per query. The in-query require pins that the
    //    optimized plan aggregates the MV partials, and the second leg
    //    proves a post-refresh query sees the new source version. The
    //    Databricks materialized-view story end to end: incremental
    //    maintenance (q320) + transparent routing (this).
    // ── TRANSPARENT STAR ROUTING (r11): the N-way completion of
    //    q322/q325 — an ORDINARY aggregate over the full star join
    //    (fact ⋈ orders ⋈ part, inner, on exactly the view's per-dim
    //    keys, visible rows) rewrites to read the star view's state:
    //    the dashboard query over the star schema answered without
    //    touching the fact, refresh visible through the SAME query.
    //    Partial stars (a dim missing), extra filters, and outer joins
    //    stay on the base (pinned in spec). In-query requires pin the
    //    rewritten plan; the oracle recomputes the 3-way join.
    "q327_transparent_star_routing" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("mvsroute").toString
      withShufflePartitions(s, 8) {
      val ext = new org.apache.spark.sql.SparkSessionExtensions
      new graft.GraftExtensions().apply(ext)
      org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, s)
      val fact = new graft.tables.SnapshotTable(s"$work/fact")
      val d1 = new graft.tables.BucketedSnapshotTable(s"$work/orders", 16, Seq("o_orderkey"))
      val d2 = new graft.tables.BucketedSnapshotTable(s"$work/part", 16, Seq("p_partkey"))
      val l0 = Tables.lineitem(s, dir)
        .select($"l_orderkey".as("o_orderkey"), $"l_linenumber",
          $"l_partkey", $"l_quantity".cast("decimal(18,2)").as("q0"))
        .groupBy($"o_orderkey", $"l_linenumber")
        .agg(min($"l_partkey").as("p_partkey"),
          sum($"q0").cast("decimal(18,2)").as("qty"))
        .localCheckpoint() // pinned (r14 opt): heads + each fact.write re-ran the 600k-row fixture aggregation otherwise
      fact.write(s, l0)
      d1.scd1Merge(s, Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderpriority".as("prio"))
        .withColumn("op_seq", lit(1L)), "op_seq")
      d2.scd1Merge(s, Tables.part(s, dir).select($"p_partkey", $"p_brand")
        .withColumn("op_seq", lit(1L)), "op_seq")
      val mv = graft.tables.MaterializedStarAggView.create(s, s"$work/mv",
        s"$work/fact", Seq("o_orderkey", "l_linenumber"),
        Seq(graft.tables.MaterializedStarAggView.Dim(s"$work/orders", Nil, Seq("o_orderkey")),
          graft.tables.MaterializedStarAggView.Dim(s"$work/part", Nil, Seq("p_partkey"))),
        Seq("prio", "p_brand"),
        Seq(graft.tables.MaterializedAggView.Agg("count", None, "n"),
          graft.tables.MaterializedAggView.Agg("sum", Some("qty"), "sq")),
        numBuckets = 16)
      mv.refresh(s)
      mv.registerRewrite(s)
      try {
        // a fact change lands AFTER registration; the refreshed state is
        // what the transparent query must read
        val k1 = l0.agg(min($"o_orderkey")).as[Long].head()
        fact.write(s, l0.withColumn("qty",
          when($"o_orderkey" === k1, $"qty" + 5).otherwise($"qty")
            .cast("decimal(18,2)")))
        mv.refresh(s)
        val q = fact.readIndexed(s)
          .join(graft.cdc.ScdMerge.scd1Current(d1.readIndexed(s)), Seq("o_orderkey"))
          .join(graft.cdc.ScdMerge.scd1Current(d2.readIndexed(s)), Seq("p_partkey"))
          .groupBy($"prio", $"p_brand")
          .agg(count(lit(1)).as("n"), sum($"qty").cast("double").as("sq"))
          .orderBy($"prio", $"p_brand")
        val plan = q.queryExecution.optimizedPlan.toString
        require(plan.contains("__sum_qty") && plan.contains("__cnt"),
          s"transparent star routing must aggregate the view partials, got:\n$plan")
        require(!plan.contains("/fact/_v"),
          "plan must not scan the fact snapshot's version dirs")
        val out = q.collect()
        s.createDataFrame(s.sparkContext.parallelize(out.toSeq, 1), q.schema)
      } finally graft.plans.AggRollupRewrite.clear()
      }
    }),

    // ── INCREMENTAL STAR-AGGREGATE VIEW (r11): fact ⋈ dim1 ⋈ dim2
    //    rollups maintained from ALL THREE change feeds via the
    //    telescoping delta identity (ΔF⋈D1'⋈D2' + F⋈ΔD1⋈D2' +
    //    F⋈D1⋈ΔD2) — the full star-schema gold rollup with no recompute
    //    anywhere: a fact window point-reads both dims; a dim window
    //    reads the OLD fact IN-list-pruned and the other dim point-read,
    //    so EITHER dimension's attribute flip moves every joined fact
    //    row between groups. Exactly-once across N+1 source versions via
    //    a numbered vector ledger (vector file first, txn names it).
    //    Pins: each incremental refresh rewrites O(changed groups)
    //    buckets at ANY scale factor; the oracle recomputes the full
    //    3-way join from scratch.
    "q326_incremental_star_mv" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("mvstar").toString
      withShufflePartitions(s, 8) {
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      val fact = new graft.tables.SnapshotTable(s"$work/fact")
      val d1 = new graft.tables.BucketedSnapshotTable(s"$work/orders", 16, Seq("o_orderkey"))
      val d2 = new graft.tables.BucketedSnapshotTable(s"$work/part", 16, Seq("p_partkey"))
      val l0 = Tables.lineitem(s, dir)
        .select($"l_orderkey".as("o_orderkey"), $"l_linenumber",
          $"l_partkey", $"l_quantity".cast("decimal(18,2)").as("q0"))
        .groupBy($"o_orderkey", $"l_linenumber")
        .agg(min($"l_partkey").as("p_partkey"),
          sum($"q0").cast("decimal(18,2)").as("qty"))
        .localCheckpoint() // pinned (r14 opt): heads + each fact.write re-ran the 600k-row fixture aggregation otherwise
      val k1 = l0.agg(min($"o_orderkey")).as[Long].head()
      val k2 = l0.filter($"o_orderkey" > k1).agg(min($"o_orderkey")).as[Long].head()
      val pk = Tables.lineitem(s, dir).agg(min($"l_partkey")).as[Long].head()
      fact.write(s, l0)
      d1.scd1Merge(s, Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderpriority".as("prio"))
        .withColumn("op_seq", lit(1L)), "op_seq")
      d2.scd1Merge(s, Tables.part(s, dir).select($"p_partkey", $"p_brand")
        .withColumn("op_seq", lit(1L)), "op_seq")
      sqlRun(s"CREATE MATERIALIZED STAR VIEW '$work/mv' FACT '$work/fact' " +
        s"KEYS (o_orderkey, l_linenumber) DIM '$work/orders' ON (o_orderkey) " +
        s"DIM '$work/part' ON (p_partkey) GROUP BY (prio, p_brand) " +
        "AGG (count(*) AS n, sum(qty) AS sq) INTO 32 BUCKETS").collect()
      sqlRun(s"REFRESH MATERIALIZED STAR VIEW '$work/mv'").collect() // bootstrap
      // ── fact leg: one order's lines +5 qty
      fact.write(s, l0.withColumn("qty",
        when($"o_orderkey" === k1, $"qty" + 5).otherwise($"qty")
          .cast("decimal(18,2)")))
      val r2 = sqlRun(s"REFRESH MATERIALIZED STAR VIEW '$work/mv'").collect().head
      require(r2.getInt(1) > 0 && r2.getInt(1) <= 8,
        s"a one-order fact change must rewrite O(1) state buckets, got ${r2.getInt(1)}")
      // ── dim1 leg: one order's priority flips to a brand-new group —
      //    its lines MOVE (prio, brand) groups with no fact change
      d1.scd1Merge(s, Seq((k2, 2L, "9-FLIP")).toDF("o_orderkey", "op_seq", "prio"),
        "op_seq")
      val r3 = sqlRun(s"REFRESH MATERIALIZED STAR VIEW '$work/mv'").collect().head
      require(r3.getInt(1) > 0 && r3.getInt(1) <= 12,
        s"a one-order dim flip must rewrite O(1) state buckets, got ${r3.getInt(1)}")
      // ── dim2 leg: one part's brand flips — every line of that part
      //    moves groups across ALL its orders' priorities
      d2.scd1Merge(s, Seq((pk, 2L, "BRAND#99")).toDF("p_partkey", "op_seq", "p_brand"),
        "op_seq")
      val r4 = sqlRun(s"REFRESH MATERIALIZED STAR VIEW '$work/mv'").collect().head
      require(r4.getInt(1) > 0 && r4.getInt(1) <= 12,
        s"a one-part dim flip must rewrite O(changed prios) buckets, got ${r4.getInt(1)}")
      require(r4.getString(0) == "2,2,2",
        s"vector ledger must record (fact 2, orders 2, part 2), got ${r4.getString(0)}")
      sqlRun(s"MATERIALIZED VIEW '$work/mv'")
        .select($"prio", $"p_brand", $"n", $"sq".cast("double").as("sq"))
        .orderBy($"prio", $"p_brand")
      }
    }),

    // ── NULL GROUP KEYS IN MATERIALIZED VIEWS (r11b): SQL GROUP BY
    //    groups null keys, but the engine's bucketed business keys (like
    //    Delta MERGE keys) must be non-null. The view ENCODES at the
    //    state boundary — nullable group values store as a per-type zero
    //    with a bit set in the `__mv_nulls` mask key column, every
    //    internal key join/probe/merge runs null-free over (groupBy…,
    //    mask), and reads DECODE the nulls back — so a fact table whose
    //    dimension column is sometimes missing (ubiquitous in real
    //    pipelines) rolls up with exact SQL semantics, updates/deletes/
    //    resurrection included. Pins: a one-group change rewrites O(1)
    //    buckets; the oracle recomputes the final state with the same
    //    null injection in DuckDB (whose GROUP BY groups nulls too).
    // ── FILTER (WHERE dim-pred) AGGREGATE ROUTING (r12): the most common
    //    dashboard shape after plain dim filters — `COUNT(*) FILTER
    //    (WHERE region='EU')` alongside unfiltered aggregates — routes to
    //    the maintained state: a dimension-only filter selects WHOLE
    //    rollup groups, so the re-anchored FILTER on the re-aggregated
    //    partials is exact. Filtered + unfiltered + a coarser exact
    //    COUNT(DISTINCT) all in one SELECT, one routed plan. Reference
    //    grain: the gold exploration queries (sample_exploration.py).
    "q334_filter_clause_routing" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("mvfclause").toString
      withShufflePartitions(s, 8) {
      val ext = new org.apache.spark.sql.SparkSessionExtensions
      new graft.GraftExtensions().apply(ext)
      org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, s)
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      val src = new graft.tables.SnapshotTable(s"$work/src")
      src.write(s, Tables.orders(s, dir).select($"o_orderkey", $"o_custkey",
        $"o_orderpriority".as("prio"), $"o_orderstatus".as("st"),
        $"o_totalprice".cast("decimal(18,2)").as("price")))
      sqlRun(s"CREATE MATERIALIZED VIEW '$work/mv' ON '$work/src' KEYS (o_orderkey) " +
        "GROUP BY (o_custkey, prio) AGG (count(*) AS n, sum(price) AS rev, " +
        "count(distinct st) AS ds) INTO 32 BUCKETS").collect()
      sqlRun(s"REFRESH MATERIALIZED VIEW '$work/mv'").collect()
      sqlRun(s"ALTER MATERIALIZED VIEW '$work/mv' ENABLE REWRITE").collect()
      try {
        val pr = Tables.orders(s, dir).agg(min($"o_orderpriority")).as[String].head()
        val q = src.readIndexed(s).groupBy($"o_custkey")
          .agg(count(lit(1)).as("n"),
            expr(s"count(*) FILTER (WHERE prio = '$pr')").as("n_p"),
            expr(s"sum(price) FILTER (WHERE prio = '$pr')").cast("double").as("rev_p"),
            countDistinct($"st").as("ds"))
          .orderBy($"o_custkey")
        val plan = q.queryExecution.optimizedPlan.toString
        require(plan.contains("__dval") && !plan.contains("/src/_v"),
          s"FILTER(dim-pred) aggregates must route to the state + pair relations:\n$plan")
        val out = q.collect()
        s.createDataFrame(s.sparkContext.parallelize(out.toSeq, 1), q.schema)
      } finally graft.plans.AggRollupRewrite.clear()
      }
    }),

    // ── GLOBAL EXACT COUNT(DISTINCT) ROUTING (r12): a no-GROUP-BY
    //    distinct aggregate routes through the pair relation — groupBy()
    //    frames return exactly ONE row even over an empty input (SQL's
    //    global shape), composed by cross join with the additive frame;
    //    COUNT outputs coalesce to 0 (the q332 empty-input pattern).
    "q335_global_distinct_routing" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("mvgdist").toString
      withShufflePartitions(s, 8) {
      val ext = new org.apache.spark.sql.SparkSessionExtensions
      new graft.GraftExtensions().apply(ext)
      org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, s)
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      val src = new graft.tables.SnapshotTable(s"$work/src")
      src.write(s, Tables.orders(s, dir).select($"o_orderkey", $"o_custkey",
        $"o_orderpriority".as("prio"), $"o_orderstatus".as("st")))
      sqlRun(s"CREATE MATERIALIZED VIEW '$work/mv' ON '$work/src' KEYS (o_orderkey) " +
        "GROUP BY (prio) AGG (count(*) AS n, count(distinct st) AS dc) " +
        "INTO 32 BUCKETS").collect()
      sqlRun(s"REFRESH MATERIALIZED VIEW '$work/mv'").collect()
      sqlRun(s"ALTER MATERIALIZED VIEW '$work/mv' ENABLE REWRITE").collect()
      try {
        val q = src.readIndexed(s)
          .agg(countDistinct($"st").as("dc"), count(lit(1)).as("n"))
        val plan = q.queryExecution.optimizedPlan.toString
        require(plan.contains("__dval") && !plan.contains("/src/_v"),
          s"global count(distinct) must route via the pair relation:\n$plan")
        val out = q.collect()
        require(out.length == 1, "global aggregate must answer exactly one row")
        s.createDataFrame(s.sparkContext.parallelize(out.toSeq, 1), q.schema)
      } finally graft.plans.AggRollupRewrite.clear()
      }
    }),

    // ── VARIANCE/STDDEV IN MATERIALIZED VIEWS (r12): var_samp/stddev_samp
    //    maintained via EXACT Σx/Σx² decimal partials — additive AND
    //    retractable (update+delete refreshes reproduce a recompute's
    //    partials bit for bit), the same cost class as sum. The read-back
    //    double derivation (Σx² − (Σx)²/n)/(n−1) is deterministic from
    //    exact partials, so DuckDB replays it bit-identically.
    "q336_mv_variance" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("mvvar").toString
      withShufflePartitions(s, 8) {
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      val src = new graft.tables.SnapshotTable(s"$work/src")
      // price = totalprice mod 1000: keeps every Σx² numerator below 2⁵³,
      // where decimal→double conversion is exact in BOTH engines (DuckDB's
      // int128→double path double-rounds above it; Spark's BigDecimal path
      // rounds once — a 1-ulp divergence on huge partials otherwise)
      val o = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey",
        ($"o_totalprice" % 1000).cast("decimal(18,2)").as("price"))
      src.write(s, o)
      sqlRun(s"CREATE MATERIALIZED VIEW '$work/mv' ON '$work/src' KEYS (o_orderkey) " +
        "GROUP BY (o_custkey) AGG (count(*) AS n, var_samp(price) AS vp, " +
        "stddev_samp(price) AS sp) INTO 32 BUCKETS").collect()
      sqlRun(s"REFRESH MATERIALIZED VIEW '$work/mv'").collect() // bootstrap
      // one window with BOTH retraction kinds: one customer's prices all
      // shift (update: old squares retract, new ones fold), another's
      // orders are deleted outright (group tombstones)
      val cust = o.agg(min($"o_custkey")).as[Long].head()
      val cust2 = o.agg(max($"o_custkey")).as[Long].head()
      src.write(s, o.withColumn("price",
          when($"o_custkey" === cust, ($"price" + lit(new java.math.BigDecimal("5.00")))
            .cast("decimal(18,2)")).otherwise($"price"))
        .filter($"o_custkey" =!= cust2))
      val r2 = sqlRun(s"REFRESH MATERIALIZED VIEW '$work/mv'").collect().head
      require(r2.getInt(1) > 0 && r2.getInt(1) <= 4,
        s"a two-group change must rewrite O(1) state buckets, got ${r2.getInt(1)}")
      // oracle-contract guard (r13): fail LOUDLY if a fixture/testdata
      // change pushes any Σx² numerator to 2^53, where DuckDB's
      // int128→double double-rounds (a silent 1-ulp hash flake otherwise)
      graft.tables.MaterializedAggView.requireVarianceOracleSafe(
        src.read(s), Seq("o_custkey"), "price")
      sqlRun(s"MATERIALIZED VIEW '$work/mv'")
        .select($"o_custkey", $"n", round($"vp", 6).as("vp"),
          round($"sp", 6).as("sp"))
        .orderBy($"o_custkey")
      }
    }),

    // ── FILTER + DISTINCT COMBINED ROUTING (r13): Spark's
    //    RewriteDistinctAggregates expands a filtered-distinct aggregate
    //    before any injected OPTIMIZER rule runs, so routing it needs the
    //    ANALYZER-stage seam (FilteredDistinctRollupRewrite via
    //    injectPostHocResolutionRule) — available to any session built
    //    with spark.sql.extensions; here derived via the bridge because
    //    the bench session predates the fixture.
    "q337_filtered_distinct_routing" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("mvfdist").toString
      withShufflePartitions(s, 8) {
      val ext = new org.apache.spark.sql.SparkSessionExtensions
      new graft.GraftExtensions().apply(ext)
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      val src = new graft.tables.SnapshotTable(s"$work/src")
      src.write(s, Tables.orders(s, dir).select($"o_orderkey", $"o_custkey",
        $"o_orderpriority".as("prio"), $"o_orderstatus".as("st")))
      sqlRun(s"CREATE MATERIALIZED VIEW '$work/mv' ON '$work/src' KEYS (o_orderkey) " +
        "GROUP BY (o_custkey, prio) AGG (count(*) AS n, count(distinct st) AS ds) " +
        "INTO 32 BUCKETS").collect()
      sqlRun(s"REFRESH MATERIALIZED VIEW '$work/mv'").collect()
      // a session with BUILD-TIME extensions: the analyzer-stage rule rides
      // the post-hoc resolution batch, which late adoption cannot reach
      val s2 = org.apache.spark.sql.GraftColumnBridge.sessionWithExtensions(s, ext)
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      new graft.tables.MaterializedAggView(s"$work/mv").registerRewrite(s2)
      try {
        val pr = Tables.orders(s, dir).agg(min($"o_orderpriority")).as[String].head()
        val q = src.readIndexed(s2).groupBy($"o_custkey")
          .agg(count(lit(1)).as("n"),
            expr(s"count(DISTINCT st) FILTER (WHERE prio = '$pr')").as("ds_p"),
            countDistinct($"st").as("ds"))
          .orderBy($"o_custkey")
        val plan = q.queryExecution.optimizedPlan.toString
        require(plan.contains("__dval") && !plan.contains("/src/_v"),
          s"FILTER + DISTINCT must route via the pair relations:\n$plan")
        val out = q.collect()
        s.createDataFrame(s.sparkContext.parallelize(out.toSeq, 1), q.schema)
      } finally graft.plans.AggRollupRewrite.clear()
      }
    }),

    // ── EXPRESSION-GROUPING ROUTING VIA DERIVED DIMS (r13): the most
    //    common dashboard rollup — GROUP BY month(o_orderdate) — routes
    //    when the view declares the expression as a DERIVED dim
    //    (`GROUP BY (month(o_orderdate) AS m)`), maintained like any
    //    group column; a non-matching expression (year()) refuses.
    "q338_derived_dim_routing" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("mvddim").toString
      withShufflePartitions(s, 8) {
      val ext = new org.apache.spark.sql.SparkSessionExtensions
      new graft.GraftExtensions().apply(ext)
      org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, s)
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      val src = new graft.tables.SnapshotTable(s"$work/src")
      src.write(s, Tables.orders(s, dir).select($"o_orderkey", $"o_orderdate",
        $"o_totalprice".cast("decimal(18,2)").as("price")))
      sqlRun(s"CREATE MATERIALIZED VIEW '$work/mv' ON '$work/src' KEYS (o_orderkey) " +
        "GROUP BY (month(o_orderdate) AS m) AGG (count(*) AS n, sum(price) AS rev) " +
        "INTO 32 BUCKETS").collect()
      sqlRun(s"REFRESH MATERIALIZED VIEW '$work/mv'").collect()
      sqlRun(s"ALTER MATERIALIZED VIEW '$work/mv' ENABLE REWRITE").collect()
      try {
        val q = src.readIndexed(s).groupBy(month($"o_orderdate").as("m"))
          .agg(count(lit(1)).as("n"), sum($"price").cast("double").as("rev"))
        val plan = q.queryExecution.optimizedPlan.toString
        require(plan.contains("__sum_price") && !plan.contains("/src/_v"),
          s"GROUP BY month(…) must route to the derived dim:\n$plan")
        // refusal pin: a DIFFERENT expression over the same column must
        // NOT route (the view maintains month, not year)
        val qr = src.readIndexed(s).groupBy(year($"o_orderdate").as("y"))
          .agg(count(lit(1)).as("n"))
        require(!qr.queryExecution.optimizedPlan.toString.contains("__cnt"),
          "a non-matching grouping expression must refuse the rewrite")
        // WHERE over the derived expression routes too (the matched
        // subtree substitutes to the derived column; the optimizer's
        // inferred isnotnull(o_orderdate) is provably implied and dropped)
        val qw = src.readIndexed(s).filter(month($"o_orderdate") === 3)
          .agg(count(lit(1)).as("n"), sum($"price").cast("double").as("rev"))
        val pw = qw.queryExecution.optimizedPlan.toString
        require(pw.contains("__sum_price") && !pw.contains("/src/_v"),
          s"WHERE month(…) must route as a derived-dim filter:\n$pw")
        val out = q.select($"m".cast("long").as("m"), $"n", $"rev")
          .orderBy($"m").collect()
        s.createDataFrame(s.sparkContext.parallelize(out.toSeq, 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("m",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("rev",
              org.apache.spark.sql.types.DoubleType))))
      } finally graft.plans.AggRollupRewrite.clear()
      }
    }),

    // ── DECLARATIVE MV MAINTENANCE IN THE PIPELINE DAG (r13): the
    //    reference's gold tables are declaratively maintained DLT objects
    //    (DimUser.py:7-29); here a GoldView node refreshes its
    //    materialized view AFTER the gold table it reads, inside the same
    //    runOnce pass with the same retry wrapper — and routes a query
    //    the moment the pass completes.
    "q339_pipeline_mv" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("goldmv").toString
      withShufflePartitions(s, 8) {
      val ext = new org.apache.spark.sql.SparkSessionExtensions
      new graft.GraftExtensions().apply(ext)
      org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, s)
      // silver input: order rows as parquet files the gold stage streams
      val o = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey",
        $"o_orderpriority".as("prio"), lit(1L).as("seq"))
      o.write.mode("overwrite").parquet(s"$work/silver/orders")
      val pipe = new graft.gold.GoldPipeline(s"$work/gold", s"$work/ck")
        .declare(graft.gold.GoldTable(
          name = "fact_orders",
          silverPath = s"$work/silver/orders",
          keys = Seq("o_orderkey"),
          sequenceBy = "seq",
          scdType = 1))
      // declare the MV BEFORE first run (the DLT shape: objects declared
      // once, maintained every pass); view created on the gold table root
      graft.tables.MaterializedAggView.create(s, s"$work/mvgold",
        s"$work/gold/fact_orders", sourceKeys = Seq("o_orderkey"),
        groupBy = Seq("prio"),
        aggs = Seq(graft.tables.MaterializedAggView.Agg("count", None, "n"),
          graft.tables.MaterializedAggView.Agg("count_distinct",
            Some("o_custkey"), "dc")),
        numBuckets = 16)
      pipe.declareView(graft.gold.GoldView(
        name = "mv_orders_by_prio", root = s"$work/mvgold",
        dependsOn = Seq("fact_orders"), registerRewrite = true))
      pipe.runOnce(s)
      try {
        // the view refreshed declaratively in the pass — a transparent
        // query over the GOLD table routes to its state
        val gold = new graft.tables.SnapshotTable(s"$work/gold/fact_orders")
        val q = gold.readIndexed(s).groupBy($"prio")
          .agg(count(lit(1)).as("n"), countDistinct($"o_custkey").as("dc"))
          .orderBy($"prio")
        val plan = q.queryExecution.optimizedPlan.toString
        // own-grain COUNT(DISTINCT) routes via the exact __dc_ partial
        require((plan.contains("__dc_") || plan.contains("__dval")) &&
            !plan.contains("fact_orders/_v"),
          s"the pipeline-maintained view must route the gold query:\n$plan")
        val out = q.collect()
        s.createDataFrame(s.sparkContext.parallelize(out.toSeq, 1), q.schema)
      } finally graft.plans.AggRollupRewrite.clear()
      }
    }),

    // ── DECLARATIVE PIPELINE AT DEPTH WITH INJECTED FAILURES (r14): the
    //    DLT architecture claims "checkpointing, retries, lineage
    //    out-of-the-box" (readme.md:121-122) — prove the ledger no-op
    //    idempotency under BOTH failure shapes: a transient failure
    //    between the table refresh and the view refresh heals by the
    //    per-node retry inside the pass, and a hard mid-DAG abort heals
    //    on the NEXT runOnce (table stage no-ops on its stream
    //    checkpoint, the view folds the remaining window exactly once on
    //    its ledger — never a double-fold).
    "q343_pipeline_mv_depth" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("goldmvd").toString
      withShufflePartitions(s, 8) {
      val ext = new org.apache.spark.sql.SparkSessionExtensions
      new graft.GraftExtensions().apply(ext)
      org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, s)
      val o = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey",
        $"o_orderstatus".as("st"),
        $"o_totalprice".cast("decimal(18,2)").as("price"), lit(1L).as("seq"))
      // first silver window: two thirds of the orders
      o.filter($"o_orderkey" % 3 =!= 0)
        .write.mode("overwrite").parquet(s"$work/silver/orders")
      val pipe = new graft.gold.GoldPipeline(s"$work/gold", s"$work/ck")
        .declare(graft.gold.GoldTable(
          name = "fact_orders", silverPath = s"$work/silver/orders",
          keys = Seq("o_orderkey"), sequenceBy = "seq", scdType = 1))
      graft.tables.MaterializedAggView.create(s, s"$work/mv",
        s"$work/gold/fact_orders", sourceKeys = Seq("o_orderkey"),
        groupBy = Seq("st"),
        aggs = Seq(graft.tables.MaterializedAggView.Agg("count", None, "n"),
          graft.tables.MaterializedAggView.Agg("count_distinct",
            Some("o_custkey"), "dc"),
          graft.tables.MaterializedAggView.Agg("sum", Some("price"), "rev")),
        numBuckets = 16)
      pipe.declareView(graft.gold.GoldView(
        name = "mv_by_status", root = s"$work/mv",
        dependsOn = Seq("fact_orders"), registerRewrite = true))
      // pass 1: a TRANSIENT failure lands between the table refresh and
      // the view refresh — the per-node retry converges within the pass
      var transient = true
      pipe.onNode = n => if (n == "mv_by_status" && transient) {
        transient = false; sys.error("injected transient failure")
      }
      pipe.runOnce(s)
      // silver ADVANCES (the remaining third, higher sequence)
      o.filter($"o_orderkey" % 3 === 0).withColumn("seq", lit(2L))
        .write.mode("append").parquet(s"$work/silver/orders")
      // pass 2: retries exhausted — the pass ABORTS mid-DAG after the
      // table merged this window but BEFORE the view folded it
      pipe.onNode = n =>
        if (n == "mv_by_status") sys.error("injected hard failure")
      val died =
        try { pipe.runOnce(s, maxRetries = 0); false }
        catch { case _: RuntimeException => true }
      require(died, "the injected failure must abort the pass")
      // pass 3 (clean): the table stage no-ops on its checkpoint, the
      // view folds the outstanding window EXACTLY once on its ledger
      pipe.onNode = _ => ()
      pipe.runOnce(s)
      // pass 4 (idle): a pure no-op — no new view state version commits
      val stateV = new graft.tables.BucketedSnapshotTable(
        s"$work/mv/state", 16, Seq("st")).currentVersion(s)
      pipe.runOnce(s)
      require(new graft.tables.BucketedSnapshotTable(
          s"$work/mv/state", 16, Seq("st")).currentVersion(s) == stateV,
        "an idle pass must not commit view state")
      try {
        val gold = new graft.tables.SnapshotTable(s"$work/gold/fact_orders")
        val q = gold.readIndexed(s).groupBy($"st")
          .agg(count(lit(1)).as("n"), countDistinct($"o_custkey").as("dc"),
            sum($"price").cast("double").as("rev"))
          .orderBy($"st")
        val plan = q.queryExecution.optimizedPlan.toString
        require((plan.contains("__dc_") || plan.contains("__dval")) &&
            !plan.contains("fact_orders/_v"),
          s"the pipeline-maintained view must route the gold query:\n$plan")
        val out = q.collect()
        s.createDataFrame(s.sparkContext.parallelize(out.toSeq, 1), q.schema)
      } finally graft.plans.AggRollupRewrite.clear()
      }
    }),

    // ── DERIVED DIMS FOR JOIN VIEWS (r14): the last routing asymmetry —
    //    `GROUP BY month(o_orderdate)` over a fact ⋈ dim re-scanned the
    //    base while the single-table case routed. The join view now
    //    records `expr AS alias` group items, computes them on the JOINED
    //    delta before the fold (a preimage-joined row derives the same
    //    value its insert did), and the rewrite matches the expression
    //    tree — incl. a date shift that MOVES a row between derived
    //    month groups through the retraction algebra.
    "q340_join_derived_dim_routing" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("mvjddim").toString
      withShufflePartitions(s, 8) {
      val ext = new org.apache.spark.sql.SparkSessionExtensions
      new graft.GraftExtensions().apply(ext)
      org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, s)
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      val fact = new graft.tables.SnapshotTable(s"$work/fact")
      val dim = new graft.tables.BucketedSnapshotTable(s"$work/dim", 16, Seq("o_custkey"))
      val o0 = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey",
        $"o_orderdate", $"o_totalprice".cast("decimal(18,2)").as("price"))
      fact.write(s, o0)
      dim.scd1Merge(s, Tables.customer(s, dir)
        .select($"c_custkey".as("o_custkey"), $"c_mktsegment".as("seg"))
        .withColumn("c_seq", lit(1L)), "c_seq")
      sqlRun(s"CREATE MATERIALIZED JOIN VIEW '$work/mv' FACT '$work/fact' " +
        s"KEYS (o_orderkey) DIM '$work/dim' ON (o_custkey) " +
        "GROUP BY (seg, month(o_orderdate) AS m) " +
        "AGG (count(*) AS n, sum(price) AS rev) INTO 16 BUCKETS").collect()
      sqlRun(s"REFRESH MATERIALIZED JOIN VIEW '$work/mv'").collect()
      // incremental window: one order's date shifts +40 days — always a
      // different month, so its joined row must MOVE between derived
      // groups (preimage retracts the old month, postimage adds the new)
      val k1 = o0.agg(min($"o_orderkey")).as[Long].head()
      fact.write(s, o0.withColumn("o_orderdate",
        when($"o_orderkey" === k1, date_add($"o_orderdate", 40))
          .otherwise($"o_orderdate")))
      val mv = new graft.tables.MaterializedJoinAggView(s"$work/mv")
      val (_, t2) = mv.refresh(s)
      require(t2.nonEmpty && t2.size <= 4,
        s"a one-order date shift must rewrite O(1) state buckets, got ${t2.size}")
      mv.registerRewrite(s)
      try {
        def base = fact.readIndexed(s)
          .join(graft.cdc.ScdMerge.scd1Current(dim.readIndexed(s)), Seq("o_custkey"))
        val q = base.groupBy($"seg", month($"o_orderdate").as("m"))
          .agg(count(lit(1)).as("n"), sum($"price").cast("double").as("rev"))
        val plan = q.queryExecution.optimizedPlan.toString
        require(plan.contains("__sum_price") && !plan.contains("/fact/_v"),
          s"GROUP BY month(…) over the join must route to the derived dim:\n$plan")
        // refusal pin: the view maintains month, not year
        val qr = base.groupBy($"seg", year($"o_orderdate").as("y"))
          .agg(count(lit(1)).as("n"))
        require(!qr.queryExecution.optimizedPlan.toString.contains("__cnt"),
          "a non-matching grouping expression must refuse the join rewrite")
        // WHERE over the derived expression routes (the fact-leg filter's
        // month() subtree substitutes to the derived column; the inferred
        // isnotnull(o_orderdate) is provably implied and dropped)
        val qw = fact.readIndexed(s).filter(month($"o_orderdate") === 3)
          .join(graft.cdc.ScdMerge.scd1Current(dim.readIndexed(s)), Seq("o_custkey"))
          .groupBy($"seg")
          .agg(count(lit(1)).as("n"), sum($"price").cast("double").as("rev"))
        val pw = qw.queryExecution.optimizedPlan.toString
        require(pw.contains("__sum_price") && !pw.contains("/fact/_v"),
          s"WHERE month(…) over the join must route as a derived-dim filter:\n$pw")
        val out = q.select($"seg", $"m".cast("long").as("m"), $"n", $"rev")
          .orderBy($"seg", $"m").collect()
        s.createDataFrame(s.sparkContext.parallelize(out.toSeq, 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("seg",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("m",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("rev",
              org.apache.spark.sql.types.DoubleType))))
      } finally graft.plans.AggRollupRewrite.clear()
      }
    }),

    // ── DERIVED DIMS FOR STAR VIEWS (r14): the same expression grouping
    //    over the full star join (fact ⋈ orders ⋈ part) — the star-schema
    //    rollup grain the reference's FK graph implies (initial_load.sql:
    //    26-53), grouped by a dim attribute AND month(ship date).
    "q341_star_derived_dim_routing" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("mvsddim").toString
      withShufflePartitions(s, 8) {
      val ext = new org.apache.spark.sql.SparkSessionExtensions
      new graft.GraftExtensions().apply(ext)
      org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, s)
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      val fact = new graft.tables.SnapshotTable(s"$work/fact")
      val d1 = new graft.tables.BucketedSnapshotTable(s"$work/orders", 16, Seq("o_orderkey"))
      val d2 = new graft.tables.BucketedSnapshotTable(s"$work/part", 16, Seq("p_partkey"))
      val l0 = Tables.lineitem(s, dir)
        .select($"l_orderkey".as("o_orderkey"), $"l_linenumber",
          $"l_partkey", $"l_quantity".cast("decimal(18,2)").as("q0"),
          $"l_shipdate")
        .groupBy($"o_orderkey", $"l_linenumber")
        .agg(min($"l_partkey").as("p_partkey"),
          sum($"q0").cast("decimal(18,2)").as("qty"),
          min($"l_shipdate").as("sd"))
        .localCheckpoint() // pinned (r14 opt): heads + each fact.write re-ran the 600k-row fixture aggregation otherwise
      fact.write(s, l0)
      d1.scd1Merge(s, Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderpriority".as("prio"))
        .withColumn("op_seq", lit(1L)), "op_seq")
      d2.scd1Merge(s, Tables.part(s, dir).select($"p_partkey", $"p_brand")
        .withColumn("op_seq", lit(1L)), "op_seq")
      sqlRun(s"CREATE MATERIALIZED STAR VIEW '$work/mv' FACT '$work/fact' " +
        s"KEYS (o_orderkey, l_linenumber) DIM '$work/orders' ON (o_orderkey) " +
        s"DIM '$work/part' ON (p_partkey) " +
        "GROUP BY (prio, p_brand, month(sd) AS m) " +
        "AGG (count(*) AS n, sum(qty) AS sq) INTO 16 BUCKETS").collect()
      sqlRun(s"REFRESH MATERIALIZED STAR VIEW '$work/mv'").collect()
      new graft.tables.MaterializedStarAggView(s"$work/mv").registerRewrite(s)
      try {
        def base = fact.readIndexed(s)
          .join(graft.cdc.ScdMerge.scd1Current(d1.readIndexed(s)), Seq("o_orderkey"))
          .join(graft.cdc.ScdMerge.scd1Current(d2.readIndexed(s)), Seq("p_partkey"))
        // COARSER grouping mixing a raw dim with the derived expression
        val q = base.groupBy($"prio", month($"sd").as("m"))
          .agg(count(lit(1)).as("n"), sum($"qty").cast("double").as("sq"))
        val plan = q.queryExecution.optimizedPlan.toString
        require(plan.contains("__sum_qty") && !plan.contains("/fact/_v"),
          s"GROUP BY month(…) over the star must route to the derived dim:\n$plan")
        // refusal pin: year() is not the maintained expression
        val qr = base.groupBy($"prio", year($"sd").as("y"))
          .agg(count(lit(1)).as("n"))
        require(!qr.queryExecution.optimizedPlan.toString.contains("__cnt"),
          "a non-matching grouping expression must refuse the star rewrite")
        val out = q.select($"prio", $"m".cast("long").as("m"), $"n", $"sq")
          .orderBy($"prio", $"m").collect()
        s.createDataFrame(s.sparkContext.parallelize(out.toSeq, 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("prio",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("m",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("sq",
              org.apache.spark.sql.types.DoubleType))))
      } finally graft.plans.AggRollupRewrite.clear()
      }
    }),

    // ── DERIVED-DIM BREADTH (r14): a SURFACE, not a point — several
    //    derived dims per view (month/year/date_trunc families), mixed
    //    raw + derived groupings, coarser derived-only rollups, and
    //    refusal pins for partial matches.
    "q342_derived_dim_breadth" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("mvddbr").toString
      withShufflePartitions(s, 8) {
      val ext = new org.apache.spark.sql.SparkSessionExtensions
      new graft.GraftExtensions().apply(ext)
      org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, s)
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      val src = new graft.tables.SnapshotTable(s"$work/src")
      src.write(s, Tables.orders(s, dir).select($"o_orderkey",
        $"o_orderpriority".as("prio"), $"o_orderdate",
        $"o_totalprice".cast("decimal(18,2)").as("price")))
      sqlRun(s"CREATE MATERIALIZED VIEW '$work/mv' ON '$work/src' KEYS (o_orderkey) " +
        "GROUP BY (prio, month(o_orderdate) AS m, year(o_orderdate) AS y, " +
        "CAST(date_trunc('MONTH', o_orderdate) AS DATE) AS mt) " +
        "AGG (count(*) AS n, sum(price) AS rev) INTO 32 BUCKETS").collect()
      sqlRun(s"REFRESH MATERIALIZED VIEW '$work/mv'").collect()
      sqlRun(s"ALTER MATERIALIZED VIEW '$work/mv' ENABLE REWRITE").collect()
      try {
        // mixed raw + TWO derived dims in one grouping
        val q = src.readIndexed(s)
          .groupBy($"prio", month($"o_orderdate").as("m"), year($"o_orderdate").as("y"))
          .agg(count(lit(1)).as("n"), sum($"price").cast("double").as("rev"))
        val plan = q.queryExecution.optimizedPlan.toString
        require(plan.contains("__sum_price") && !plan.contains("/src/_v"),
          s"mixed raw + derived grouping must route:\n$plan")
        // a COARSER derived-only rollup (year alone) routes too
        val qy = src.readIndexed(s).groupBy(year($"o_orderdate").as("y"))
          .agg(sum($"price").cast("double").as("rev"))
        require(qy.queryExecution.optimizedPlan.toString.contains("__sum_price"),
          "a coarser derived-only grouping must route")
        // the date_trunc family routes on its own exact expression tree
        val qt = src.readIndexed(s)
          .groupBy(date_trunc("MONTH", $"o_orderdate").cast("date").as("mt"))
          .agg(count(lit(1)).as("n"))
        require(qt.queryExecution.optimizedPlan.toString.contains("__cnt"),
          "the date_trunc derived dim must route")
        // refusal pin: a grouping mixing a MAINTAINED expression with an
        // unmaintained one (dayofmonth) must refuse as a whole
        val qr = src.readIndexed(s)
          .groupBy(month($"o_orderdate").as("m"), dayofmonth($"o_orderdate").as("d"))
          .agg(count(lit(1)).as("n"))
        require(!qr.queryExecution.optimizedPlan.toString.contains("__cnt"),
          "a partial expression match must refuse the rewrite")
        val out = q.select($"prio", $"m".cast("long").as("m"),
          $"y".cast("long").as("y"), $"n", $"rev")
          .orderBy($"prio", $"m", $"y").collect()
        s.createDataFrame(s.sparkContext.parallelize(out.toSeq, 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("prio",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("m",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("y",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("rev",
              org.apache.spark.sql.types.DoubleType))))
      } finally graft.plans.AggRollupRewrite.clear()
      }
    }),

    "q333_null_group_keys" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("mvnullg").toString
      withShufflePartitions(s, 8) {
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      val src = new graft.tables.SnapshotTable(s"$work/src")
      val o0 = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey",
        $"o_orderstatus".as("st"),
        when($"o_orderkey" % 7 === 0, lit(null)).otherwise($"o_orderpriority")
          .as("prio"),
        $"o_totalprice".cast("decimal(18,2)").as("price"))
      src.write(s, o0)
      sqlRun(s"CREATE MATERIALIZED VIEW '$work/mv' ON '$work/src' KEYS (o_orderkey) " +
        "GROUP BY (prio) AGG (count(*) AS n, sum(price) AS rev, " +
        "count(distinct st) AS ds) INTO 16 BUCKETS").collect()
      sqlRun(s"REFRESH MATERIALIZED VIEW '$work/mv'").collect()
      val mv = new graft.tables.MaterializedAggView(s"$work/mv")
      // one NULL-prio order's price bumps: only the null group changes
      val k7 = o0.filter($"prio".isNull).agg(min($"o_orderkey")).as[Long].head()
      val o1 = o0.withColumn("price",
        when($"o_orderkey" === k7, $"price" + 10).otherwise($"price")
          .cast("decimal(18,2)"))
      src.write(s, o1)
      val (_, t2) = mv.refresh(s)
      require(t2.nonEmpty && t2.size <= 4,
        s"a null-group-only change must rewrite O(1) buckets, got ${t2.size}")
      // a customer's orders are deleted across groups (incl. the null one)
      val cmax = o0.agg(max($"o_custkey")).as[Long].head()
      src.write(s, o1.filter($"o_custkey" =!= cmax))
      mv.refresh(s)
      mv.read(s).select($"prio", $"n", $"rev".cast("double").as("rev"), $"ds")
        .orderBy($"prio")
      }
    }),

    // ── DIMENSION-FILTER PUSHDOWN INTO MV ROUTING (r11b): nearly every
    //    dashboard query carries a dimension predicate (`WHERE prio = X
    //    GROUP BY cust`) — without this the routing only ever served
    //    unfiltered rollups. A deterministic, subquery-free predicate
    //    referencing ONLY the view's group columns is applied to the
    //    MAINTAINED STATE instead of refusing: the rollup partitions rows
    //    exactly by dimension tuples, so filtering rows ≡ filtering
    //    groups. Works through both routing paths (additive partials AND
    //    the count-distinct pair relation), and a GLOBAL filtered COUNT
    //    answers 0 (not null) when nothing matches. Pins: the plan reads
    //    the pair relation and never lists the source's version dirs; the
    //    routed global count cross-checks the grouped rows in-query.
    "q332_dim_filter_routing" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("mvfilt").toString
      withShufflePartitions(s, 8) {
      val ext = new org.apache.spark.sql.SparkSessionExtensions
      new graft.GraftExtensions().apply(ext)
      org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, s)
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      val src = new graft.tables.SnapshotTable(s"$work/src")
      src.write(s, Tables.orders(s, dir).select($"o_orderkey", $"o_custkey",
        $"o_orderpriority".as("prio"), $"o_orderstatus".as("st"),
        $"o_totalprice".cast("decimal(18,2)").as("price")))
      sqlRun(s"CREATE MATERIALIZED VIEW '$work/mv' ON '$work/src' KEYS (o_orderkey) " +
        "GROUP BY (o_custkey, prio) AGG (count(*) AS n, sum(price) AS rev, " +
        "count(distinct st) AS ds) INTO 32 BUCKETS").collect()
      sqlRun(s"REFRESH MATERIALIZED VIEW '$work/mv'").collect()
      sqlRun(s"ALTER MATERIALIZED VIEW '$work/mv' ENABLE REWRITE").collect()
      try {
        val pr = Tables.orders(s, dir).agg(min($"o_orderpriority")).as[String].head()
        val q = src.readIndexed(s).filter($"prio" === pr).groupBy($"o_custkey")
          .agg(count(lit(1)).as("n"), sum($"price").cast("double").as("rev"),
            countDistinct($"st").as("ds"))
          .orderBy($"o_custkey")
        val plan = q.queryExecution.optimizedPlan.toString
        require(plan.contains("__dval") && !plan.contains("/src/_v"),
          s"dim-filtered routing must read the state + pair relations:\n$plan")
        val out = q.collect()
        // the routed GLOBAL filtered count answers from the same state —
        // and must equal the grouped rows' total
        val g = src.readIndexed(s).filter($"prio" === pr).agg(count(lit(1)).as("n"))
        require(!g.queryExecution.optimizedPlan.toString.contains("/src/_v"),
          "global filtered count must route")
        require(g.as[Long].head() == out.map(_.getLong(1)).sum,
          "routed global count must equal the grouped total")
        // nothing-matches: one row, 0 — SQL's answer, not null or empty
        val z = src.readIndexed(s).filter($"prio" === "NO-SUCH-PRIO")
          .agg(count(lit(1)).as("n"))
        require(!z.queryExecution.optimizedPlan.toString.contains("/src/_v") &&
          z.as[Long].collect().toSeq == Seq(0L),
          "fully filtered-out global count must route and answer 0")
        s.createDataFrame(s.sparkContext.parallelize(out.toSeq, 1), q.schema)
      } finally graft.plans.AggRollupRewrite.clear()
      }
    }),

    // ── COUNT(DISTINCT) IN STAR VIEWS (r11b): "distinct suppliers per
    //    (priority, brand)" — exact distinct over the 3-way star,
    //    maintained from ALL THREE change feeds: the telescoping signed
    //    delta drives the shared per-(group, value) occurrence fold, so a
    //    fact delete retracts a supplier where its last line goes and
    //    EITHER dimension's attribute flip moves suppliers between groups
    //    with no fact recompute. Crash safety: the window's version
    //    vector is recorded in `_applied_aux_<n>` BEFORE the aux merge so
    //    a replay pins exactly. Pins: incremental refreshes rewrite O(1)
    //    buckets at ANY scale factor; the oracle recomputes the final
    //    star's distinct counts from scratch.
    "q331_star_mv_count_distinct" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("mvsdc").toString
      withShufflePartitions(s, 8) {
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      val fact = new graft.tables.SnapshotTable(s"$work/fact")
      val d1 = new graft.tables.BucketedSnapshotTable(s"$work/orders", 16, Seq("o_orderkey"))
      val d2 = new graft.tables.BucketedSnapshotTable(s"$work/part", 16, Seq("p_partkey"))
      val l0 = Tables.lineitem(s, dir)
        .select($"l_orderkey".as("o_orderkey"), $"l_linenumber",
          $"l_partkey", $"l_suppkey")
        .groupBy($"o_orderkey", $"l_linenumber")
        .agg(min($"l_partkey").as("p_partkey"), max($"l_suppkey").as("supp"))
        .localCheckpoint() // pinned (r14 opt): heads + each fact.write re-ran the 600k-row fixture aggregation otherwise
      val (k1, k3) = l0.agg(min($"o_orderkey"), max($"o_orderkey")).as[(Long, Long)].head()
      val pk = Tables.lineitem(s, dir).agg(min($"l_partkey")).as[Long].head()
      fact.write(s, l0)
      d1.scd1Merge(s, Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderpriority".as("prio"))
        .withColumn("op_seq", lit(1L)), "op_seq")
      d2.scd1Merge(s, Tables.part(s, dir).select($"p_partkey", $"p_brand")
        .withColumn("op_seq", lit(1L)), "op_seq")
      sqlRun(s"CREATE MATERIALIZED STAR VIEW '$work/mv' FACT '$work/fact' " +
        s"KEYS (o_orderkey, l_linenumber) DIM '$work/orders' ON (o_orderkey) " +
        s"DIM '$work/part' ON (p_partkey) GROUP BY (prio, p_brand) " +
        "AGG (count(*) AS n, count(distinct supp) AS ds) INTO 32 BUCKETS").collect()
      sqlRun(s"REFRESH MATERIALIZED STAR VIEW '$work/mv'").collect() // bootstrap
      val mv = new graft.tables.MaterializedStarAggView(s"$work/mv")
      // ONE incremental window carrying a delta on EVERY leg — the
      // telescoping N-way identity's general case (ΔF, ΔD1 and ΔD2 all
      // non-empty simultaneously; the per-leg single-delta sequences live
      // in MaterializedStarViewSpec, the driver fixture pays for one
      // refresh, r12 trim):
      //  - fact leg: one order's lines deleted — its suppliers retract
      //  - dim1 leg: one order's priority flips — its suppliers MOVE groups
      //  - dim2 leg: one part's brand flips — its suppliers move across
      //    all the priorities that part ships under
      fact.write(s, l0.filter($"o_orderkey" =!= k3))
      d1.scd1Merge(s, Seq((k1, 2L, "9-FLIP")).toDF("o_orderkey", "op_seq", "prio"),
        "op_seq")
      d2.scd1Merge(s, Seq((pk, 2L, "BRAND#99")).toDF("p_partkey", "op_seq", "p_brand"),
        "op_seq")
      val (vec, t2) = mv.refresh(s)
      require(t2.nonEmpty && t2.size <= 24,
        s"three single-key leg deltas must rewrite O(changed groups) " +
          s"buckets (<= 24 of 32), got ${t2.size}")
      require(vec == Seq(2, 2, 2),
        s"vector ledger must record (fact 2, orders 2, part 2), got $vec")
      mv.read(s).select($"prio", $"p_brand", $"n", $"ds")
        .orderBy($"prio", $"p_brand")
      }
    }),

    // ── TRANSPARENT JOIN-MV ROUTING (r11): the join twin of q322 — an
    //    ORDINARY aggregate over fact ⋈ dim (inner, on exactly the
    //    view's join keys, visible rows) is rewritten by the optimizer
    //    to read the incrementally-maintained join view's state: a
    //    kilobyte read replaces the fact-side join, with NO query
    //    change, and a REFRESH is visible through the SAME query. At
    //    100 TB this is the dashboard query over the star schema —
    //    the rollup answers it without touching the fact. In-query
    //    requires pin the rewritten plan (aggregates the __sum partial,
    //    never scans the fact version dirs); the oracle recomputes the
    //    join from scratch.
    "q325_transparent_join_routing" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("mvjroute").toString
      withShufflePartitions(s, 8) {
      val ext = new org.apache.spark.sql.SparkSessionExtensions
      new graft.GraftExtensions().apply(ext)
      org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, s)
      val fact = new graft.tables.SnapshotTable(s"$work/fact")
      val dim = new graft.tables.BucketedSnapshotTable(s"$work/dim", 16, Seq("o_orderkey"))
      val l0 = Tables.lineitem(s, dir)
        .select($"l_orderkey".as("o_orderkey"), $"l_linenumber",
          $"l_quantity".cast("decimal(18,2)").as("q0"))
        .groupBy($"o_orderkey", $"l_linenumber")
        .agg(sum($"q0").cast("decimal(18,2)").as("qty"))
        .localCheckpoint() // pinned (r14 opt): heads + each fact.write re-ran the 600k-row fixture aggregation otherwise
      fact.write(s, l0)
      dim.scd1Merge(s, Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderpriority".as("prio"))
        .withColumn("op_seq", lit(1L)), "op_seq")
      val mv = graft.tables.MaterializedJoinAggView.create(s, s"$work/mv",
        s"$work/fact", Seq("o_orderkey", "l_linenumber"), s"$work/dim", Nil,
        Seq("o_orderkey"), Seq("prio"),
        Seq(graft.tables.MaterializedAggView.Agg("count", None, "n"),
          graft.tables.MaterializedAggView.Agg("sum", Some("qty"), "sq")),
        numBuckets = 16)
      mv.refresh(s)
      mv.registerRewrite(s)
      try {
        // a fact change lands AFTER registration; the refreshed state
        // must be what the transparent query reads
        val k1 = l0.agg(min($"o_orderkey")).as[Long].head()
        fact.write(s, l0.withColumn("qty",
          when($"o_orderkey" === k1, $"qty" + 5).otherwise($"qty")
            .cast("decimal(18,2)")))
        mv.refresh(s)
        val q = fact.readIndexed(s)
          .join(graft.cdc.ScdMerge.scd1Current(dim.readIndexed(s)), Seq("o_orderkey"))
          .groupBy($"prio")
          .agg(count(lit(1)).as("n"), sum($"qty").cast("double").as("sq"))
          .orderBy($"prio")
        val plan = q.queryExecution.optimizedPlan.toString
        require(plan.contains("__sum_qty") && plan.contains("__cnt"),
          s"transparent join routing must aggregate the view partials, got:\n$plan")
        require(!plan.contains("/fact/_v"),
          "plan must not scan the fact snapshot's version dirs")
        // materialize the result BEFORE clearing the rule registry
        val out = q.collect()
        s.createDataFrame(s.sparkContext.parallelize(out.toSeq, 1), q.schema)
      } finally graft.plans.AggRollupRewrite.clear()
      }
    }),

    // ── INCREMENTAL JOIN-AGGREGATE VIEW (r11): the reference's gold
    //    rollups join fact to dimension before aggregating — at 100 TB
    //    the nightly join recompute is the bottleneck. The view maintains
    //    `fact ⋈ dim GROUP BY` from BOTH change feeds via the signed
    //    delta-join identity (ΔF⋈D_new + F_old⋈ΔD): a fact window
    //    point-reads the dim (bucket-pruned) for its keys; a dim window
    //    reads the OLD fact through the pruning file index IN-list
    //    (stats/Bloom file skipping) for exactly the changed join keys —
    //    so a dim attribute flip moves every joined fact row between
    //    groups WITHOUT a fact recompute, and late-arriving dims surface
    //    their orphaned fact rows exactly once. Pins: each incremental
    //    refresh rewrites ≤4 of 16 state buckets at ANY scale factor; the
    //    oracle is a full recompute of the final join.
    "q324_incremental_join_mv" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("mvjoin").toString
      withShufflePartitions(s, 8) {
      val fact = new graft.tables.SnapshotTable(s"$work/fact")
      val dim = new graft.tables.BucketedSnapshotTable(s"$work/dim", 16, Seq("o_orderkey"))
      // the synthetic lineitem is NOT unique on (orderkey, linenumber) —
      // pre-aggregate to that grain so the CDF key is a true row identity
      val l0 = Tables.lineitem(s, dir)
        .select($"l_orderkey".as("o_orderkey"), $"l_linenumber",
          $"l_quantity".cast("decimal(18,2)").as("q0"))
        .groupBy($"o_orderkey", $"l_linenumber")
        .agg(sum($"q0").cast("decimal(18,2)").as("qty"))
        .localCheckpoint() // pinned (r14 opt): heads + each fact.write re-ran the 600k-row fixture aggregation otherwise
      val keys = l0.agg(min($"o_orderkey"), max($"o_orderkey")).as[(Long, Long)].head()
      val (k1, k3) = keys
      val k2 = l0.filter($"o_orderkey" > k1).agg(min($"o_orderkey")).as[Long].head()
      fact.write(s, l0)
      dim.scd1Merge(s, Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderpriority".as("prio"))
        .withColumn("op_seq", lit(1L)), "op_seq")
      val mv = graft.tables.MaterializedJoinAggView.create(s, s"$work/mv",
        s"$work/fact", Seq("o_orderkey", "l_linenumber"), s"$work/dim", Nil,
        Seq("o_orderkey"), Seq("prio"),
        Seq(graft.tables.MaterializedAggView.Agg("count", None, "n"),
          graft.tables.MaterializedAggView.Agg("sum", Some("qty"), "sqty")),
        numBuckets = 16)
      mv.refresh(s) // bootstrap = the one full join
      // ── fact-side window: one order's lines get +5 qty, another
      //    order's lines are deleted — one refresh, ≤2 groups touched
      val l1 = l0.withColumn("qty",
          when($"o_orderkey" === k1, $"qty" + 5).otherwise($"qty")
            .cast("decimal(18,2)"))
        .filter($"o_orderkey" =!= k3)
      fact.write(s, l1)
      val (_, t2) = mv.refresh(s)
      require(t2.nonEmpty && t2.size <= 4,
        s"a two-order fact change must rewrite O(1) state buckets, got ${t2.size}")
      // ── dim-side window: one order's priority flips to a brand-new
      //    group — its surviving lines must MOVE groups with no fact change
      dim.scd1Merge(s, Seq((k2, 2L, "9-FLIP")).toDF("o_orderkey", "op_seq", "prio"),
        "op_seq")
      val (_, t3) = mv.refresh(s)
      require(t3.nonEmpty && t3.size <= 4,
        s"a one-dim change must rewrite O(1) state buckets, got ${t3.size}")
      require(mv.lastApplied(s)._2 == Seq(2, 2),
        s"ledger must record (fact v2, dim v2), got ${mv.lastApplied(s)}")
      mv.read(s).select($"prio", $"n", $"sqty".cast("double").as("sqty"))
        .orderBy($"prio")
      }
    }),

    // ── EXACT RETRACTABLE COUNT(DISTINCT) IN MATERIALIZED VIEWS (r11):
    //    distinct counts are the one dashboard aggregate sketches cannot
    //    maintain under deletes (an HLL can only grow). The MV keeps an
    //    auxiliary per-(group, value) occurrence table bucketed like the
    //    state; each refresh folds SIGNED occurrence deltas and emits a
    //    distinct delta only where a count crosses zero — O(changed
    //    pairs) per refresh, exact under updates, deletes, and value
    //    resurrection. Pins: an incremental refresh after a one-customer
    //    change rewrites ≤4 of 32 state buckets at ANY scale factor; the
    //    oracle is a full COUNT(DISTINCT) recompute of the final state.
    "q323_mv_count_distinct" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("mvdc").toString
      withShufflePartitions(s, 8) {
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      val src = new graft.tables.SnapshotTable(s"$work/src")
      val o = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_custkey", $"o_orderpriority".as("prio"))
      src.write(s, o)
      sqlRun(s"CREATE MATERIALIZED VIEW '$work/mv' ON '$work/src' KEYS (o_orderkey) " +
        "GROUP BY (o_custkey) AGG (count(*) AS n, count(distinct prio) AS dp) " +
        "INTO 32 BUCKETS").collect()
      sqlRun(s"REFRESH MATERIALIZED VIEW '$work/mv'").collect() // bootstrap
      // ONE incremental window carrying BOTH transition kinds (r12 trim:
      // the multi-refresh sequences live in MaterializedViewSpec; the
      // driver fixture pays for one):
      //  - one customer's orders all flip to a brand-new priority value:
      //    their old values' occurrence counts cross zero DOWN, the new
      //    value's crosses zero UP → distinct count collapses to 1
      //  - another customer's orders are deleted outright: group row AND
      //    its aux occurrence rows tombstone
      val cust = o.agg(min($"o_custkey")).as[Long].head()
      val cust2 = o.agg(max($"o_custkey")).as[Long].head()
      val v2 = o.withColumn("prio",
          when($"o_custkey" === cust, lit("9-SPECIAL")).otherwise($"prio"))
        .filter($"o_custkey" =!= cust2)
      src.write(s, v2)
      val r2 = sqlRun(s"REFRESH MATERIALIZED VIEW '$work/mv'").collect().head
      require(r2.getInt(1) > 0 && r2.getInt(1) <= 4,
        s"a two-group change must rewrite O(1) state buckets, got ${r2.getInt(1)}")
      sqlRun(s"MATERIALIZED VIEW '$work/mv'")
        .select($"o_custkey", $"n", $"dp")
        .orderBy($"o_custkey")
      }
    }),

    "q322_transparent_mv_routing" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("mvroute").toString
      withShufflePartitions(s, 8) {
      val ext = new org.apache.spark.sql.SparkSessionExtensions
      new graft.GraftExtensions().apply(ext)
      org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, s)
      val src = new graft.tables.SnapshotTable(s"$work/src")
      val base = Tables.customer(s, dir).select($"c_custkey",
        $"c_nationkey".cast("long").as("c_nationkey"),
        $"c_acctbal".cast("decimal(18,2)").as("price"))
      src.write(s, base)
      val mv = graft.tables.MaterializedAggView.create(s, s"$work/mv",
        s"$work/src", sourceKeys = Seq("c_custkey"), groupBy = Seq("c_nationkey"),
        aggs = Seq(graft.tables.MaterializedAggView.Agg("count", None, "n"),
          graft.tables.MaterializedAggView.Agg("sum", Some("price"), "rev")),
        numBuckets = 16)
      mv.refresh(s)
      mv.registerRewrite(s)
      try {
        // a new customer lands; the MV refreshes incrementally; the SAME
        // transparent query must see it (provider reads live state)
        src.write(s, base.unionByName(
          Seq((900001L, 0L, new java.math.BigDecimal("100.00")))
            .toDF("c_custkey", "c_nationkey", "price")
            .select($"c_custkey", $"c_nationkey",
              $"price".cast("decimal(18,2)").as("price"))))
        mv.refresh(s)
        val q = src.readIndexed(s).groupBy($"c_nationkey")
          .agg(count(lit(1)).as("n"), count($"price").as("nn"),
            sum($"price").cast("double").as("rev"))
          .orderBy($"c_nationkey")
        val plan = q.queryExecution.optimizedPlan.toString
        require(plan.contains("__sum_price") && plan.contains("__cnt"),
          s"transparent routing must aggregate the MV partials, got:\n$plan")
        require(!plan.contains("/src/_v"),
          "plan must not scan the source snapshot's version dirs")
        // materialize BEFORE clearing the registry: a leaked registration
        // would otherwise tax (and could misroute) every later query in
        // the same process
        val out = q.collect()
        s.createDataFrame(s.sparkContext.parallelize(out.toSeq, 1), q.schema)
      } finally graft.plans.AggRollupRewrite.clear()
      }
    }),

    // ── ALTER MATERIALIZED VIEW … ENABLE/DISABLE REWRITE (r11b): the SQL
    //    switch for transparent routing — a DBA turns a dashboard's
    //    fact-scan aggregates into kilobyte state reads without touching
    //    any query, and turns them back off just as declaratively. Pins:
    //    with REWRITE enabled the plan aggregates the MV partials and
    //    never lists the source's version dirs; after DISABLE the same
    //    query plans against the base again AND both answers agree —
    //    routing must be invisible in results, visible only in IO.
    "q328_alter_mv_rewrite_sql" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("mvalter").toString
      withShufflePartitions(s, 8) {
      val ext = new org.apache.spark.sql.SparkSessionExtensions
      new graft.GraftExtensions().apply(ext)
      org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, s)
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      val src = new graft.tables.SnapshotTable(s"$work/src")
      src.write(s, Tables.orders(s, dir).select($"o_orderkey", $"o_custkey",
        $"o_totalprice".cast("decimal(18,2)").as("price")))
      sqlRun(s"CREATE MATERIALIZED VIEW '$work/mv' ON '$work/src' KEYS (o_orderkey) " +
        "GROUP BY (o_custkey) AGG (count(*) AS n, sum(price) AS rev) INTO 16 BUCKETS")
        .collect()
      sqlRun(s"REFRESH MATERIALIZED VIEW '$work/mv'").collect()
      try {
        val on = sqlRun(s"ALTER MATERIALIZED VIEW '$work/mv' ENABLE REWRITE")
          .collect().head
        require(on.getString(1) == "enabled", s"ALTER must report enabled, got $on")
        def q = src.readIndexed(s).groupBy($"o_custkey")
          .agg(count(lit(1)).as("n"), sum($"price").cast("double").as("rev"))
          .orderBy($"o_custkey")
        val planOn = q.queryExecution.optimizedPlan.toString
        require(planOn.contains("__sum_price") && !planOn.contains("/src/_v"),
          s"ENABLE REWRITE must route to the MV state:\n$planOn")
        val routed = q.collect()
        val off = sqlRun(s"ALTER MATERIALIZED VIEW '$work/mv' DISABLE REWRITE")
          .collect().head
        require(off.getString(1) == "disabled", s"ALTER must report disabled, got $off")
        val planOff = q.queryExecution.optimizedPlan.toString
        require(!planOff.contains("__sum_price"),
          s"DISABLE REWRITE must fall back to the base:\n$planOff")
        // routing must be invisible in RESULTS: base answer ≡ routed answer
        require(q.collect().toSeq == routed.toSeq,
          "routed and base answers must be identical")
        s.createDataFrame(s.sparkContext.parallelize(routed.toSeq, 1), q.schema)
      } finally graft.plans.AggRollupRewrite.clear()
      }
    }),

    // ── COARSE-GRAIN EXACT COUNT(DISTINCT) ROUTING (r11b): the per-group
    //    `__dc_` partial answers only the view's own grain — distinct
    //    counts are not re-aggregable across merged groups. The rewrite
    //    instead counts distinct values over the view's aux OCCURRENCE
    //    relation (one row per live (group, value) pair) grouped at the
    //    query's coarser keys: exact under deletes and resurrection, and
    //    still O(distinct pairs) — the 100 TB fact is never scanned for
    //    any grain the view's keys subsume. Pins: the plan reads the pair
    //    relation (`__dval`), never sums `__dc_`, never lists the source.
    "q329_coarse_distinct_routing" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("mvcoarse").toString
      withShufflePartitions(s, 8) {
      val ext = new org.apache.spark.sql.SparkSessionExtensions
      new graft.GraftExtensions().apply(ext)
      org.apache.spark.sql.GraftColumnBridge.applyExtensions(ext, s)
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      val src = new graft.tables.SnapshotTable(s"$work/src")
      val o = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus".as("st"),
          $"o_orderpriority".as("prio"))
      src.write(s, o)
      sqlRun(s"CREATE MATERIALIZED VIEW '$work/mv' ON '$work/src' KEYS (o_orderkey) " +
        "GROUP BY (o_custkey, st) AGG (count(*) AS n, count(distinct prio) AS dp) " +
        "INTO 32 BUCKETS").collect()
      sqlRun(s"REFRESH MATERIALIZED VIEW '$work/mv'").collect()
      // an incremental change AFTER registration: one order's priority
      // flips to a brand-new value — the aux pair deltas must surface in
      // the coarse answer with no source rescan
      val k1 = o.agg(min($"o_orderkey")).as[Long].head()
      src.write(s, o.withColumn("prio",
        when($"o_orderkey" === k1, lit("9-SPECIAL")).otherwise($"prio")))
      sqlRun(s"ALTER MATERIALIZED VIEW '$work/mv' ENABLE REWRITE").collect()
      sqlRun(s"REFRESH MATERIALIZED VIEW '$work/mv'").collect()
      try {
        val q = src.readIndexed(s).groupBy($"o_custkey")
          .agg(count(lit(1)).as("n"), countDistinct($"prio").as("dp"))
          .orderBy($"o_custkey")
        val plan = q.queryExecution.optimizedPlan.toString
        require(plan.contains("__dval"),
          s"coarse distinct must read the aux pair relation:\n$plan")
        require(!plan.contains("sum(__dc"),
          s"coarse grain must never re-sum the per-grain __dc partial:\n$plan")
        require(!plan.contains("/src/_v"),
          "plan must not scan the source snapshot's version dirs")
        val out = q.collect()
        s.createDataFrame(s.sparkContext.parallelize(out.toSeq, 1), q.schema)
      } finally graft.plans.AggRollupRewrite.clear()
      }
    }),

    // ── COUNT(DISTINCT) IN JOIN VIEWS (r11b): "distinct suppliers per
    //    order priority" — an exact distinct over fact ⋈ dim, maintained
    //    incrementally from BOTH change feeds: the signed joined delta
    //    folds per-(group, value) occurrence counts into the view's aux
    //    table, so a fact delete retracts a supplier exactly when its
    //    last line goes, and a dim priority flip MOVES the order's
    //    suppliers between groups with no fact recompute — the retraction
    //    case every sketch-based distinct gets wrong. Pins: each
    //    incremental refresh rewrites ≤4 of 16 state buckets at ANY scale
    //    factor; the oracle recomputes the final join's distinct counts.
    "q330_join_mv_count_distinct" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("mvjdc").toString
      withShufflePartitions(s, 8) {
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      val fact = new graft.tables.SnapshotTable(s"$work/fact")
      val dim = new graft.tables.BucketedSnapshotTable(s"$work/dim", 16, Seq("o_orderkey"))
      // lineitem is NOT unique on (orderkey, linenumber): pre-aggregate to
      // that grain with a deterministic representative supplier
      val l0 = Tables.lineitem(s, dir)
        .select($"l_orderkey".as("o_orderkey"), $"l_linenumber", $"l_suppkey")
        .groupBy($"o_orderkey", $"l_linenumber")
        .agg(max($"l_suppkey").as("supp"))
        .localCheckpoint() // pinned (r14 opt): heads + each fact.write re-ran the 600k-row fixture aggregation otherwise
      val (k1, k3) = l0.agg(min($"o_orderkey"), max($"o_orderkey")).as[(Long, Long)].head()
      fact.write(s, l0)
      dim.scd1Merge(s, Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderpriority".as("prio"))
        .withColumn("op_seq", lit(1L)), "op_seq")
      sqlRun(s"CREATE MATERIALIZED JOIN VIEW '$work/mv' FACT '$work/fact' " +
        s"KEYS (o_orderkey, l_linenumber) DIM '$work/dim' ON (o_orderkey) " +
        "GROUP BY (prio) AGG (count(*) AS n, count(distinct supp) AS ds) " +
        "INTO 16 BUCKETS").collect()
      sqlRun(s"REFRESH MATERIALIZED JOIN VIEW '$work/mv'").collect() // bootstrap
      val mv = new graft.tables.MaterializedJoinAggView(s"$work/mv")
      // fact leg: one order's lines deleted — its suppliers retract from
      // their priority exactly where their last line went
      fact.write(s, l0.filter($"o_orderkey" =!= k3))
      val (_, t2) = mv.refresh(s)
      require(t2.nonEmpty && t2.size <= 4,
        s"a one-order fact delete must rewrite O(1) state buckets, got ${t2.size}")
      // dim leg: one order's priority flips to a brand-new group — its
      // suppliers MOVE groups through the aux fold, no fact change
      dim.scd1Merge(s, Seq((k1, 2L, "9-FLIP")).toDF("o_orderkey", "op_seq", "prio"),
        "op_seq")
      val (_, t3) = mv.refresh(s)
      require(t3.nonEmpty && t3.size <= 4,
        s"a one-dim flip must rewrite O(1) state buckets, got ${t3.size}")
      require(mv.lastApplied(s)._2 == Seq(2, 2),
        s"ledger must record (fact v2, dim v2), got ${mv.lastApplied(s)}")
      mv.read(s).select($"prio", $"n", $"ds").orderBy($"prio")
      }
    }),

    // ── Z-ORDER CLUSTERING (r11): OPTIMIZE … ZORDER BY rank-quantizes
    //    each clustering column (one approxQuantile pass), interleaves the
    //    bucket bits and range-partitions the rewrite by the z-value — so
    //    every file covers a HYPER-RECTANGLE of (custkey × totalprice)
    //    space and the per-file stats prune range reads on BOTH
    //    dimensions. The lexicographic CLUSTER BY this replaces prunes
    //    only its leading column (pinned as the in-query contrast). At
    //    100 TB: the serving table answers "this customer's expensive
    //    orders" reading O(matching rectangles), not O(customer slab).
    "q321_zorder_clustering" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("zorder").toString
      withShufflePartitions(s, 8) {
      val t = new graft.tables.SnapshotTable(s"$work/t")
      t.writeIndexed(s, Tables.orders(s, dir)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice"),
        statsCols = Seq("o_custkey", "o_totalprice"),
        clusterBy = Seq("o_custkey"), clusterPartitions = 16)
      // contrast: the custkey-clustered layout cannot prune totalprice
      val (yLex, allLex) = t.pruneStats(s, $"o_totalprice" >= 400000)
      require(yLex * 2 > allLex,
        s"contrast: lexicographic layout should not prune price: $yLex of $allLex")
      val custCut = Tables.orders(s, dir).agg(max($"o_custkey")).as[Long].head() / 8
      // scale-invariant pin geometry: target ≈ tableBytes/24 → ~24 z-tiles
      // at ANY scale factor (a real deployment uses the 128 MB default)
      val bytes = t.read(s).inputFiles.map(u => new java.io.File(new java.net.URI(u)).length).sum
      org.apache.spark.sql.GraftColumnBridge.graftSql(s,
        s"OPTIMIZE '$work/t' TARGET ${math.max(1L, bytes / 24)} " +
          "ZORDER BY (o_custkey, o_totalprice)")
      val (kx, all) = t.pruneStats(s, $"o_custkey" <= custCut)
      require(kx > 0 && kx * 2 <= all,
        s"custkey must prune after zorder: $kx of $all files")
      val (ky, _) = t.pruneStats(s, $"o_totalprice" >= 400000)
      require(ky > 0 && ky * 2 <= all,
        s"totalprice must prune after zorder: $ky of $all files")
      val (kb, _) = t.pruneStats(s,
        $"o_custkey" <= custCut && $"o_totalprice" >= 400000)
      require(kb * 4 <= all,
        s"both dims must compose after zorder: $kb of $all files")
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      sqlRun(s"SNAPSHOT '$work/t' WHERE o_custkey <= $custCut AND o_totalprice >= 400000")
        .unionByName(sqlRun(s"SNAPSHOT '$work/t' WHERE o_totalprice >= 480000"))
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .orderBy($"o_orderkey", $"o_custkey")
      }
    }),

    // ── INCREMENTAL MATERIALIZED AGGREGATE VIEW (r11): the reference's
    //    gold rollups are nightly full GROUP BY recomputes — at 100 TB the
    //    recompute IS the bottleneck. CREATE MATERIALIZED VIEW declares
    //    the rollup once; each REFRESH folds the source's preimage change
    //    feed into a bucketed state table: O(changed groups) per refresh,
    //    exactly-once via the state table's txn ledger, zero-count groups
    //    tombstoned. The in-query requires pin the scale shape — an
    //    incremental refresh after a one-customer change rewrites ≤4 of 32
    //    state buckets at ANY scale factor — and the oracle pins the
    //    result to a full GROUP BY recompute of the final state.
    "q320_incremental_mv" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("incmv").toString
      withShufflePartitions(s, 8) {
      val src = new graft.tables.SnapshotTable(s"$work/src")
      val o = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey",
        $"o_totalprice".cast("decimal(18,2)").as("price"))
      src.write(s, o)
      val mv = graft.tables.MaterializedAggView.create(s, s"$work/mv",
        s"$work/src", sourceKeys = Seq("o_orderkey"), groupBy = Seq("o_custkey"),
        aggs = Seq(graft.tables.MaterializedAggView.Agg("count", None, "n"),
          graft.tables.MaterializedAggView.Agg("sum", Some("price"), "rev")),
        numBuckets = 32)
      mv.refresh(s) // bootstrap
      val cust = o.agg(min($"o_custkey")).as[Long].head()
      val v2 = o.withColumn("price",
        when($"o_custkey" === cust, $"price" + 10).otherwise($"price")
          .cast("decimal(18,2)"))
      src.write(s, v2)
      val (_, t2) = mv.refresh(s)
      require(t2.nonEmpty && t2.size <= 4,
        s"one-group change must rewrite O(1) state buckets, got ${t2.size}")
      src.write(s, v2.filter($"o_custkey" =!= cust))
      val (_, t3) = mv.refresh(s)
      require(t3.nonEmpty && t3.size <= 4,
        s"one-group delete must rewrite O(1) state buckets, got ${t3.size}")
      require(mv.lastApplied(s) == 3, "ledger must record source v3 applied")
      mv.read(s)
        .select($"o_custkey", $"n", $"rev".cast("double").as("rev"))
        .orderBy($"o_custkey")
      }
    }),

    // ── STREAMING CHANGE-FEED SOURCE (r11): `readStream.format
    //    ("graft-cdf")` turns ANY snapshot table into a streaming source —
    //    the Delta readChangeFeed streaming analog, and the missing link
    //    between the engine's tables and its DLT-style pipelines (no
    //    staging topic needed). Offsets ARE committed versions, so Spark's
    //    checkpointed offset log gives exactly-once through restarts with
    //    zero source-side state; each micro-batch window diffs through the
    //    table's own pruned CDF (manifest-pruned on the bucketed format),
    //    reading O(changed) per window at 100 TB. Here: history replay
    //    from version 1 with preimages — the v1 snapshot as inserts, then
    //    each commit's retractable pre/post rows, all stamped with
    //    _commit_version, drained by one AvailableNow run and verified
    //    row-for-row against the oracle's replay of all three versions.
    "q319_cdf_streaming_source" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("cdfstream").toString
      withShufflePartitions(s, 8) {
      val t = new graft.tables.SnapshotTable(s"$work/t")
      val base = Tables.customer(s, dir).select($"c_custkey", $"c_name", $"c_acctbal")
      t.write(s, base)
      val s2 = base.filter($"c_custkey" =!= 7)
        .withColumn("c_acctbal",
          when($"c_custkey" % 10 === 0, $"c_acctbal" + 100).otherwise($"c_acctbal"))
        .unionByName(Seq((900001L, "NewCo", 0.0)).toDF("c_custkey", "c_name", "c_acctbal"))
      t.write(s, s2)
      val s3 = s2.withColumn("c_acctbal",
        when($"c_custkey" % 25 === 0, $"c_acctbal" + 1000).otherwise($"c_acctbal"))
      t.write(s, s3)
      val q = s.readStream.format("graft-cdf")
        .option("path", s"$work/t").option("keys", "c_custkey")
        .option("startingVersion", "1").option("withPreimage", "true")
        .load()
        .writeStream.format("parquet").option("path", s"$work/sink")
        .option("checkpointLocation", s"$work/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$work/sink")
        .select($"c_custkey", $"c_name", $"c_acctbal", $"_change_type", $"_commit_version")
        .orderBy($"_commit_version", $"c_custkey", $"_change_type")
      }
    }),

    // ── CDF PREIMAGES (r11, the Delta CDF row shape): CHANGES … WITH
    //    PREIMAGE splits each update into update_preimage (old values) +
    //    update_postimage (new values) — the row shape a RETRACTING
    //    consumer needs (a materialized aggregate subtracts the preimage,
    //    adds the postimage; a plain `update` row with new values only
    //    cannot be retracted). Same manifest-pruned diff underneath: at
    //    100 TB the feed still reads only the buckets whose content
    //    changed. The oracle replays all four row kinds from the base
    //    table, proving old values survive on preimage AND delete rows.
    "q318_cdf_preimage" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("cdfpre").toString
      withShufflePartitions(s, 8) {
      val bt = new graft.tables.BucketedSnapshotTable(s"$work/t", 16,
        Seq("c_custkey"))
      val c = Tables.customer(s, dir).select($"c_custkey", $"c_name", $"c_acctbal")
      bt.scd1Merge(s, c.withColumn("op_seq", lit(1L)), "op_seq")
      val batch2 = c.filter($"c_custkey" % 10 === 0)
        .withColumn("c_acctbal", $"c_acctbal" + 100)
        .unionByName(Seq((900001L, "NewCo", 0.0)).toDF("c_custkey", "c_name", "c_acctbal"))
        .unionByName(c.filter($"c_custkey" === 7))
        .withColumn("op_seq", lit(2L))
      bt.scd1Merge(s, batch2, "op_seq",
        applyAsDeletes = Some($"c_custkey" === 7))
      // manifest pruning pin: the window reads only changed buckets
      val touched = bt.changedBuckets(s, 1, 2)
      require(touched.nonEmpty && touched.size <= 16,
        s"changed-bucket set out of range: ${touched.size}")
      org.apache.spark.sql.GraftColumnBridge.graftSql(s,
        s"CHANGES '$work/t' FROM 1 TO 2 WITH PREIMAGE")
        .select($"c_custkey", $"c_name", $"c_acctbal", $"_change_type")
        .orderBy($"c_custkey", $"_change_type")
      }
    }),

    // ── HIVE PARTITION PRUNING THROUGH THE FILE INDEX (r11): a
    //    hive-partitioned plain snapshot now reads through the
    //    partition-aware pruning index instead of falling back — partition
    //    values are reattached (typed) from the `k=v` directory segments,
    //    so Catalyst's partition filters drop whole directories at
    //    planning time AND the stats/Bloom keep still skips files inside
    //    the surviving partitions. At 100 TB: a year-partitioned fact
    //    table's `WHERE year = Y AND price >= P` schedules only year Y's
    //    top price-range files — O(matching files), never O(table). The
    //    in-query requires pin both prunings scale-independently.
    "q317_partition_pruned_read" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("partskip").toString
      withShufflePartitions(s, 8) {
      val t = new graft.tables.SnapshotTable(s"$work/t")
      t.writeIndexed(s, Tables.orders(s, dir)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderdate")
        .withColumn("o_year", year($"o_orderdate")),
        statsCols = Seq("o_totalprice"), bloomCols = Seq("o_orderkey"),
        clusterBy = Seq("o_totalprice"), clusterPartitions = 4,
        partitionByCols = Seq("o_year"))
      // TPC-H order dates span 7 years → partition pruning alone keeps
      // ~1/7 of the files, at ANY scale factor
      val (kPart, all) = t.pruneStats(s, $"o_year" === 1997)
      require(kPart > 0 && kPart * 4 <= all,
        s"partition pruning must drop the other years: $kPart of $all files")
      // partition + stats compose: one year's top price-range files only
      val (kBoth, _) = t.pruneStats(s,
        $"o_year" === 1997 && $"o_totalprice" >= 250000)
      require(kBoth > 0 && kBoth * 8 <= all,
        s"partition+stats must compose: $kBoth of $all files")
      // partition + bloom compose on a point lookup
      val probeKey = Tables.orders(s, dir)
        .filter(year($"o_orderdate") === 1996)
        .agg(min($"o_orderkey")).as[Long].head()
      val (kPoint, _) = t.pruneStats(s,
        $"o_year" === 1996 && $"o_orderkey" === probeKey)
      require(kPoint > 0 && kPoint * 8 <= all,
        s"partition+bloom must compose: $kPoint of $all files")
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      sqlRun(s"SNAPSHOT '$work/t' WHERE o_year = 1997 AND o_totalprice >= 250000")
        .unionByName(
          sqlRun(s"SNAPSHOT '$work/t' WHERE o_year = 1996 AND o_orderkey = $probeKey"))
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderdate", $"o_year")
        .orderBy($"o_orderkey")
      }
    }),

    "q316_like_prefix_skipping" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("likeskip").toString
      withShufflePartitions(s, 8) {
      val t = new graft.tables.SnapshotTable(s"$work/t")
      t.writeWithStats(s, Tables.customer(s, dir)
        .select($"c_custkey", $"c_name", $"c_acctbal"),
        statsCols = Seq("c_name"), clusterBy = Seq("c_name"), clusterPartitions = 8)
      val (kept, all) = t.pruneStats(s, $"c_name".like("Customer#00000001%"))
      require(kept > 0 && kept * 2 <= all,
        s"LIKE-prefix must prune the name-clustered scan: $kept of $all files")
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      sqlRun(s"SNAPSHOT '$work/t' WHERE c_name LIKE 'Customer#00000001%'")
        .select($"c_custkey", $"c_name", $"c_acctbal")
        .orderBy($"c_custkey")
      }
    }),

    // ── SQL POINT LOOKUP BY BUCKET KEY (r10): the bucket layout IS the
    //    primary index, and the pruning file index now replays its Murmur3
    //    hash driver-side — `SNAPSHOT … WHERE <bucket key> = k` schedules
    //    only the key's hash-candidate bucket files (1/numBuckets of the
    //    table, pure metadata, no sidecars needed), the read-side SQL twin
    //    of readKeys. The oracle's row presence also proves the replayed
    //    hash is the real one — a wrong bucket would silently drop the row.
    "q315_sql_key_lookup" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("keylookup").toString
      withShufflePartitions(s, 8) {
      val bt = new graft.tables.BucketedSnapshotTable(s"$work/t", 16,
        Seq("c_custkey"))
      bt.scd1Merge(s, Tables.customer(s, dir)
        .select($"c_custkey", $"c_name", $"c_acctbal")
        .withColumn("op_seq", lit(1L)), "op_seq")
      val (k1, all) = bt.pruneStats(s, $"c_custkey" === 42L)
      require(k1 > 0 && k1 * 8 <= all,
        s"bucket-key point lookup must prune to ~1/16 of files: $k1 of $all")
      val (k2, _) = bt.pruneStats(s, expr("c_custkey IN (42, 77)"))
      require(k2 > 0 && k2 * 4 <= all,
        s"bucket-key IN lookup must prune: $k2 of $all")
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      sqlRun(s"SNAPSHOT '$work/t' WHERE c_custkey IN (42, 77)")
        .select($"c_custkey", $"c_name", $"c_acctbal")
        .orderBy($"c_custkey")
      }
    }),

    // ── PLAIN-DIM DELETE-CARRYING MIRROR WINDOW (r10): a DELETE landing
    //    between mirror windows must flow to the serving copy as a
    //    tombstone — and the window diff must stay pruned: the versioned
    //    delete commits the data files BY REFERENCE with a new tombstone
    //    batch, so the diff takes the TOMBSTONE-DELTA path (unique files
    //    plus one broadcast semi-join for exactly the hidden keys — the
    //    keyed diff is O(changed), never two full snapshots). The in-query
    //    require pins the path taken; the oracle replays the end state.
    "q314_plain_delete_mirror" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("plaindel").toString
      withShufflePartitions(s, 4) {
      val dim = new graft.tables.SnapshotTable(s"$work/dim")
      dim.write(s, Tables.nation(s, dir)
        .select($"n_nationkey", $"n_name", $"n_regionkey"))
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      val stmt = s"APPLY CHANGES INTO '$work/m' FROM '$work/dim' " +
        s"USING CHECKPOINT '$work/ck' AS dmirror ON KEYS (n_nationkey) INTO 8 BUCKETS"
      sqlRun(stmt).collect() // bootstrap: full dim as inserts
      sqlRun(s"DELETE FROM '$work/dim' WHERE n_nationkey = 3").collect() // v2
      dim.append(s, Tables.nation(s, dir).select(
        ($"n_nationkey" + 200).as("n_nationkey"),
        lower($"n_name").as("n_name"), $"n_regionkey"))                  // v3
      val ch = dim.changes(s, Seq("n_nationkey"), 1, 3)
      require(graft.tables.SnapshotTable.lastDiffMode.get == "tombstone-delta",
        s"delete+append window must take the tombstone-delta diff, took " +
          graft.tables.SnapshotTable.lastDiffMode.get)
      require(ch.filter($"_change_type" === "delete").count() == 1,
        "the versioned delete must surface in the feed")
      sqlRun(stmt).collect() // the pruned incremental window
      sqlRun(s"SNAPSHOT '$work/m'")
        .select($"n_nationkey", $"n_name", $"n_regionkey")
        .orderBy($"n_nationkey")
      }
    }),

    // ── LLM-pipeline: ALL-BUT-THE-TOP DE-BIASING AT d=4096 (r10) — q261's
    //    report past the driver guard: debiasReport routes through the
    //    DISTRIBUTED power iteration (topComponentDistributed — only the
    //    d-row component ever reaches the driver, never the 16.7M-cell
    //    covariance), with arithmetic bit-identical to the local path
    //    (LlmOpsSpec pins local ≡ distributed at d=64). The corpus is a
    //    rational synthetic (k/97 — exact in any engine) so the DuckDB
    //    oracle replays every quantization point.
    "q312_debias_distributed" -> ((s, dir) => {
      import s.implicits._
      val d = 4096
      val embs = s.range(3).select($"id".cast("long").as("vec_id"))
        .select($"vec_id", transform(sequence(lit(0), lit(d - 1)),
          i => ((($"vec_id" + 1) * 31 + i.cast("long") * 17) % 97)
            .cast("double") / 97.0).as("embedding"))
      graft.llm.Pca.debiasReport(s, embs, "vec_id", "embedding", d, iters = 5)
        .select($"id".as("vec_id"), $"top_proj", $"norm_before", $"norm_after")
        .orderBy($"vec_id")
    }),

    // ── PLAIN-DIM APPEND-WINDOW MIRROR (r9): reference dims live in
    //    plain snapshots; on an append-mostly dim the mirror window's
    //    diff is FILE-LEVEL pruned — files shared by both versions are
    //    immutable bytes, so only the appended files reach the keyed
    //    diff (O(appended data), not O(dim), per window). The in-query
    //    require pins the scan set; the oracle replays the end state.
    "q308_plain_append_mirror" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("plainappend").toString
      // a 25-row dim across ~10 tiny jobs: shrink the shuffle width so the
      // fixture measures the mirror machinery, not 32-task scheduling
      withShufflePartitions(s, 4) {
      val dim = new graft.tables.SnapshotTable(s"$work/dim")
      dim.write(s, Tables.nation(s, dir)
        .select($"n_nationkey", $"n_name", $"n_regionkey"))
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      val stmt = s"APPLY CHANGES INTO '$work/m' FROM '$work/dim' " +
        s"USING CHECKPOINT '$work/ck' AS pmirror ON KEYS (n_nationkey) INTO 8 BUCKETS"
      sqlRun(stmt).collect() // bootstrap: full dim as inserts
      dim.append(s, Tables.nation(s, dir).select(
        ($"n_nationkey" + 100).as("n_nationkey"),
        upper($"n_name").as("n_name"), $"n_regionkey"))
      val ch = dim.changes(s, Seq("n_nationkey"), 1, 2)
      require(ch.inputFiles.nonEmpty && ch.inputFiles.forall(f => !f.contains("/_v1/")),
        "append window must scan only the appended files")
      sqlRun(stmt).collect() // the file-pruned incremental window
      sqlRun(s"SNAPSHOT '$work/m'")
        .select($"n_nationkey", $"n_name", $"n_regionkey")
        .orderBy($"n_nationkey")
      }
    }),

    "q301_describe_detail" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("detail").toString
      val bt = new graft.tables.BucketedSnapshotTable(s"$work/b", 8,
        Seq("c_custkey"), statsCols = Seq("c_acctbal"))
      bt.scd1Merge(s, Tables.customer(s, dir)
        .select($"c_custkey", $"c_acctbal").withColumn("op_seq", lit(1L)), "op_seq")
      bt.addConstraint(s, "bal", "c_acctbal IS NOT NULL")
      val t = new graft.tables.SnapshotTable(s"$work/p")
      t.write(s, Tables.region(s, dir))
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      sqlRun(s"DESCRIBE DETAIL '$work/b'")
        .unionByName(sqlRun(s"DESCRIBE DETAIL '$work/p'"))
        .select($"format", $"version", $"num_buckets", $"bucket_keys",
          $"partition_cols", $"stats_cols", $"n_constraints")
        .orderBy($"format")
    }),

    // ── MERGEABLE HISTOGRAM QUANTILE ROLLUP (r8): each (event_type, day)
    //    shard reduces to a 128-bin count array — a stored, mergeable
    //    sketch; corpus percentiles come from elementwise-summing shard
    //    sketches, never re-scanning them (the stored-HLL rollup pattern,
    //    q278, for quantiles). Deterministic left-edge estimator + integer
    //    threshold arithmetic → exact cross-engine replay.
    "q300_histogram_quantile_rollup" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir).withColumn("day", to_date($"ts"))
      val shards = graft.ops.Stats.histogramSketch(
        e, Seq("event_type", "day"), $"value", bins = 128, lo = 0.0, hi = 640.0)
      val merged = graft.ops.Stats.mergeHistogramSketches(shards, Seq("event_type"))
      graft.ops.Stats.histogramQuantiles(
          merged, Seq("event_type"), Seq(50, 95, 99), lo = 0.0, hi = 640.0)
        .select($"event_type", $"pct", $"estimate", $"n")
        .orderBy($"event_type", $"pct")
    }),

    // ── PCA TOP-K VIA DEFLATION (r8): extract the top component, subtract
    //    its rank-1 contribution (Hotelling deflation, engine-exact
    //    quantization), iterate again — the top FEW directions
    //    all-but-the-top de-biasing classically removes. Oracle replays
    //    both unrolled iterations AND the deflation arithmetic.
    "q299_pca_top2_deflation" -> ((s, dir) => {
      import s.implicits._
      val cov = graft.llm.Pca.covariance(
        Tables.embeddings(s, dir), "vec_id", "embedding")
      graft.llm.Pca.topComponents(s, cov, 64, k = 2, iters = 10)
        .select($"comp", $"i".cast("long").as("dim"), $"loading", $"eigenvalue")
        .orderBy($"comp", $"dim")
    }),

    // ── SQL INSERT INTO (r8): transactional append through SQL —
    //    O(increment) manifest append on the plain root, EVOLVE giving
    //    mergeSchema semantics (new column joins the union schema, old
    //    rows null-fill). Closes the DML surface: MERGE/UPDATE/DELETE/
    //    INSERT all route through the same transactional tables.
    "q298_sql_insert" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("sqlins").toString
      val t = new graft.tables.SnapshotTable(s"$work/t")
      t.write(s, Tables.region(s, dir)
        .select($"r_regionkey".as("rkey"), $"r_name".as("name")))
      Tables.nation(s, dir)
        .select(($"n_nationkey" + 100L).as("rkey"), $"n_name".as("name"))
        .createOrReplaceTempView("g298_more")
      Tables.nation(s, dir)
        .select(($"n_nationkey" + 200L).as("rkey"), $"n_name".as("name"),
          $"n_regionkey".cast("long").as("note"))
        .createOrReplaceTempView("g298_evolved")
      org.apache.spark.sql.GraftColumnBridge.graftSql(s,
        s"INSERT INTO '$work/t' FROM g298_more").collect()
      org.apache.spark.sql.GraftColumnBridge.graftSql(s,
        s"INSERT INTO '$work/t' FROM g298_evolved EVOLVE").collect()
      org.apache.spark.sql.GraftColumnBridge.graftSql(s, s"SNAPSHOT '$work/t'")
        .select($"rkey", $"name", $"note")
        .orderBy($"rkey")
    }),

    // ── Bucketed STREAMING CDC SINK (r8): micro-batches scd1-merge into
    //    the bucketed 100 TB format — each trigger rewrites only the
    //    buckets its keys hash to, and the manifest-header txn ledger
    //    makes a crash-replayed batch a clean no-op (exactly-once). The
    //    hand replay of batch 0 after the drain proves the ledger: the
    //    table's version count and content are unchanged by it.
    "q297_bucketed_stream_cdc" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("bstream").toString
      Tables.events(s, dir).select($"user_id", $"event_id", $"event_type", $"ts")
        .coalesce(4).write.mode("overwrite").parquet(s"$work/src")
      val cfg = graft.streaming.AutoIngest.Config(
        sourceDir = s"$work/src", schemaDir = s"$work/schema",
        checkpointDir = s"$work/ck", maxFilesPerTrigger = Some(2))
      val bt = new graft.tables.BucketedSnapshotTable(s"$work/t", 16, Seq("user_id"))
      def drain(): Unit = graft.streaming.BucketedSink.scd1StreamOnce(
        graft.streaming.AutoIngest.readStream(s, cfg).drop("_rescued_data"),
        bt, cfg.checkpointDir, queryId = "events_cdc", seqCol = "ts",
        tieBreak = Seq($"event_id"))
      drain(); drain() // second drain: checkpoint says nothing new
      val vAfter = bt.currentVersion(s).get
      // replay batch 0 by hand — the txn ledger makes it a clean no-op
      val replayTouched = bt.scd1Merge(s,
        bt.read(s).limit(5), "ts", Seq($"event_id"),
        txn = Some(("events_cdc", 0L)))
      require(replayTouched.isEmpty && bt.currentVersion(s).contains(vAfter),
        "replayed batch must be a no-op")
      bt.read(s).select($"user_id", $"event_id", $"event_type", $"ts")
        .orderBy($"user_id")
    }),

    // ── Bucketed CHANGE FEED (r8): the Delta CDF analog on the 100 TB
    //    format — the two manifests name which buckets changed (driver
    //    metadata), so the diff reads O(changed buckets), never the
    //    table. Update rows carry NEW values + column attribution,
    //    delete rows (tombstone flow) the old values.
    "q296_bucketed_change_feed" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("bcdfq").toString
      val bt = new graft.tables.BucketedSnapshotTable(s"$work/t", 32, Seq("c_custkey"))
      val c = Tables.customer(s, dir).select($"c_custkey", $"c_name", $"c_acctbal")
      bt.scd1Merge(s, c.withColumn("op_seq", lit(1L)), "op_seq")
      val upd = c.filter($"c_custkey" % 10 === 0 && $"c_custkey" % 17 =!= 0)
        .withColumn("c_acctbal", $"c_acctbal" + 100)
      val dels = c.filter($"c_custkey" % 17 === 0)
      val ins = c.filter($"c_custkey" % 50 === 0)
        .withColumn("c_custkey", $"c_custkey" + 10000000L)
      bt.scd1Merge(s, upd.unionByName(dels).unionByName(ins)
          .withColumn("op_seq", lit(2L)), "op_seq", Nil,
        applyAsDeletes = Some($"c_custkey" % 17 === 0 && $"c_custkey" < 10000000L))
      bt.changes(s, 1, 2, withChangedColumns = true)
        .select($"c_custkey", $"c_name", $"c_acctbal",
          $"_change_type", $"_changed_columns")
        .orderBy($"c_custkey", $"_change_type")
    }),

    "q294_bucketed_point_lookup" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("bkey").toString
      val bt = new graft.tables.BucketedSnapshotTable(s"$work/t", 32, Seq("c_custkey"))
      val c = Tables.customer(s, dir)
      bt.scd1Merge(s, c.select($"c_custkey", $"c_name", $"c_acctbal")
        .withColumn("op_seq", lit(1L)), "op_seq")
      bt.readKeys(s, c.filter($"c_custkey" % 97 === 0).select($"c_custkey"))
        .select($"c_custkey", $"c_name", $"c_acctbal")
        .orderBy($"c_custkey")
    }),

    // ── Bucketed MAINTENANCE + TIME TRAVEL through SQL (r8): MERGE into a
    //    bucketed root, OPTIMIZE (per-bucket batch unification), then read
    //    both the post-maintenance state and VERSION AS OF 1 — proving the
    //    manifest-by-reference design keeps history readable and
    //    maintenance never changes visible content.
    "q293_bucketed_maintenance_sql" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("bmaint").toString
      val bt = new graft.tables.BucketedSnapshotTable(s"$work/t", 8, Seq("c_custkey"))
      val c = Tables.customer(s, dir)
      bt.scd1Merge(s, c.select($"c_custkey", $"c_mktsegment", $"c_acctbal")
        .withColumn("op_seq", lit(1L)), "op_seq")
      c.filter($"c_custkey" % 3 === 0)
        .select($"c_custkey", $"c_mktsegment", ($"c_acctbal" + 10.0).as("c_acctbal"))
        .withColumn("op_seq", lit(2L)).createOrReplaceTempView("g293_batch")
      val sqlRun = (q: String) => org.apache.spark.sql.GraftColumnBridge.graftSql(s, q)
      sqlRun(s"MERGE INTO '$work/t' USING g293_batch ON KEYS (c_custkey) " +
        "SEQUENCE BY op_seq").collect()
      val v3 = sqlRun(s"OPTIMIZE '$work/t'").as[Int].head()
      def agg(df: org.apache.spark.sql.DataFrame, tag: String) =
        df.groupBy($"c_mktsegment")
          .agg(count(lit(1)).cast("long").as("n"),
            Relational.sumMoney($"c_acctbal").as("total"))
          .withColumn("state", lit(tag))
      agg(sqlRun(s"SNAPSHOT '$work/t'"), "current")
        .unionByName(agg(sqlRun(s"SNAPSHOT '$work/t' VERSION AS OF 1"), "v1"))
        .withColumn("opt_version", lit(v3))
        .select($"state", $"c_mktsegment", $"n", $"total", $"opt_version")
        .orderBy($"state", $"c_mktsegment")
    }),

    // ── Bucketed SCD TYPE 2 through SQL MERGE (r8): the full routing
    //    matrix corner — version-chain merge with delete flows INTO the
    //    bucketed 100 TB format, driven from SQL; batch 2's buckets only
    //    are rewritten, and SNAPSHOT reads the visible chain back.
    "q295_bucketed_sql_scd2" -> ((s, dir) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("bsqlscd2").toString
      val bt = new graft.tables.BucketedSnapshotTable(s"$work/t", 8, Seq("user_id"))
      val e = Tables.events(s, dir).select($"user_id", $"event_id", $"event_type", $"ts")
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      bt.scd2Merge(s, e.filter($"ts" < cut), "ts", Nil,
        Some($"event_type" === "error"))
      e.filter($"ts" >= cut).createOrReplaceTempView("g295_b2")
      org.apache.spark.sql.GraftColumnBridge.graftSql(s,
        s"MERGE INTO '$work/t' USING g295_b2 ON KEYS (user_id) " +
          "SEQUENCE BY ts SCD TYPE 2 DELETE WHEN event_type = 'error'").collect()
      org.apache.spark.sql.GraftColumnBridge.graftSql(s, s"SNAPSHOT '$work/t'")
        .select($"user_id", $"event_id", $"event_type", $"__START_AT", $"__END_AT")
        .orderBy($"user_id", $"__START_AT", $"event_id")
    }),

    // ── DISTRIBUTED PCA power iteration (r8): d = 4096 sits beyond the
    //    local path's driver-side d² guard (Pca.topComponent rejects it),
    //    so the iteration runs on the (i,j)-keyed covariance RELATION —
    //    one matvec broadcast join + per-i agg per round, only the d-row
    //    iterate ever reaching the driver. Banded synthetic covariance
    //    (Toeplitz, width ±8) so both engines generate it exactly; the
    //    oracle unrolls the same 10 quantized rounds.
    "q292_pca_power_distributed" -> ((s, dir) => {
      import s.implicits._
      val d = 4096
      val cov = s.range(d).select($"id".cast("int").as("i"))
        .crossJoin(s.range(-8, 9).select($"id".cast("int").as("o")))
        .select($"i", ($"i" + $"o").as("j"), $"o")
        .filter($"j" >= 0 && $"j" < d)
        .select($"i", $"j",
          round(lit(1.0) / (lit(1.0) + abs($"o").cast("double")), 9)
            .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("c"))
      graft.llm.Pca.topComponentDistributed(s, cov, d, iters = 10)
        .select($"i".cast("long").as("dim"), $"loading", $"eigenvalue")
        .orderBy($"dim")
    }),
  )

  /** Shared CTE for the q29/q69 oracles: rebuilds each document's 64-bit
    * simhash from the md5-portable token hash ([[graft.llm.Dedup.md5TokenHash]]
    * convention: lo = hex chars 1-8, hi = 9-16, bit i = bit i%4 of hex
    * digit 8 - (i%32)/4 within its chunk). Tokenless docs coalesce to 0,
    * mirroring the Spark left join. */
  private val simhashOracleCte: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), '\s+'), x -> x != '')) AS tok
      |  FROM documents),
      |votes AS (
      |  SELECT doc_id, g.i AS i,
      |    SUM(CASE WHEN ((strpos('0123456789abcdef',
      |        substr(md5(tok), CASE WHEN g.i < 32 THEN 8 - (g.i // 4) ELSE 16 - ((g.i - 32) // 4) END, 1)) - 1)
      |        >> (g.i % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM toks, UNNEST(generate_series(0, 63)) AS g(i)
      |  GROUP BY doc_id, g.i),
      |sh0 AS (
      |  SELECT doc_id, CAST(SUM(CASE WHEN v >= 0 THEN CASE WHEN i = 63 THEN -9223372036854775808 ELSE 1::BIGINT << i END ELSE 0 END) AS BIGINT) AS simhash
      |  FROM votes GROUP BY doc_id),
      |sh AS (
      |  SELECT d.doc_id, COALESCE(sh0.simhash, 0) AS simhash
      |  FROM documents d LEFT JOIN sh0 USING (doc_id))
      |""".stripMargin

  /** CTE chain for the q183/q194 oracles: w0 is the chr(1)-encoded
    * (word, count) table; each round i yields m<i> (the argmax pair at
    * minFreq 2, tie-broken freq DESC then pair ASC — BpeTrainer's exact
    * rule) and w<i> (the table with that pair greedily merged via the
    * boundary-safe replace). Every CTE is MATERIALIZED: DuckDB inlines
    * multiply-referenced CTEs otherwise and the chain re-expands
    * exponentially. An empty m<i> (early stop) cascades empty, matching
    * the trainer's termination. */
  private def bpeOracleRounds(rounds: Int): String = {
    val d = "chr(1)"
    val dd = "chr(1)||chr(1)"
    val w0 =
      s"""WITH w0 AS MATERIALIZED (
         |  SELECT w, $d || array_to_string(list_filter(string_split_regex(w, ''), c -> c != ''), $dd) || $d AS s, cnt
         |  FROM (SELECT w, COUNT(*) AS cnt FROM (
         |    SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '')) AS w
         |    FROM documents) GROUP BY w))""".stripMargin
    val steps = (1 to rounds).map { i =>
      val p = i - 1
      s"""m$i AS MATERIALIZED (
         |  SELECT l, r, CAST(freq AS BIGINT) AS freq FROM (
         |    SELECT ts[i] AS l, ts[i + 1] AS r, SUM(cnt) AS freq
         |    FROM (SELECT string_split(substr(s, 2, length(s) - 2), $dd) AS ts, cnt FROM w$p) t,
         |         UNNEST(generate_series(1, len(ts) - 1)) AS g(i)
         |    GROUP BY 1, 2)
         |  WHERE freq >= 2 ORDER BY freq DESC, l, r LIMIT 1),
         |w$i AS MATERIALIZED (
         |  SELECT w, replace(s, $d||l||$dd||r||$d, $d||l||r||$d) AS s, cnt FROM w$p, m$i)""".stripMargin
    }
    (w0 +: steps).mkString(",\n")
  }

  /** DuckDB-runnable oracle per query (same tables, same column names). */
  /** q258's oracle: the 5 PageRank iterations UNROLLED as chained CTEs,
    * generated so each step mirrors the Spark arithmetic exactly —
    * (1.0-0.85) spelled as the subtraction (it is NOT the double 0.15),
    * per-step DECIMAL(18,12) quantization, decimal-summed contributions. */
  private def textrankOracle: String = {
    val steps = (1 to 5).map { k =>
      s"""pr$k AS (
         |  SELECT nodes.v,
         |    CAST(round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))/CAST(nn.n AS DOUBLE)
         |        + CAST(0.85 AS DOUBLE)*CAST(COALESCE(c.cs, 0) AS DOUBLE), 12)
         |      AS DECIMAL(18,12)) AS pr
         |  FROM nodes CROSS JOIN nn LEFT JOIN (
         |    SELECT dir.t,
         |      SUM(CAST((CAST(dir.c AS DOUBLE)/CAST(ow.ow AS DOUBLE))
         |        *CAST(pr${k - 1}.pr AS DOUBLE) AS DECIMAL(28,12))) AS cs
         |    FROM dir JOIN pr${k - 1} ON pr${k - 1}.v = dir.s
         |    JOIN ow ON ow.s = dir.s
         |    GROUP BY dir.t) c ON c.t = nodes.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (
       |  SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != '') AS ts
       |  FROM documents),
       |pairs AS (
       |  SELECT CASE WHEN ts[i] < ts[i+1] THEN ts[i] ELSE ts[i+1] END AS w1,
       |         CASE WHEN ts[i] < ts[i+1] THEN ts[i+1] ELSE ts[i] END AS w2
       |  FROM toks, UNNEST(generate_series(1, len(ts)-1)) AS g(i)
       |  WHERE ts[i] != ts[i+1]),
       |e AS (SELECT w1, w2, count(*) AS c FROM pairs GROUP BY 1, 2),
       |dir AS (SELECT w1 AS s, w2 AS t, c FROM e UNION ALL SELECT w2, w1, c FROM e),
       |ow AS (SELECT s, SUM(c) AS ow FROM dir GROUP BY 1),
       |nodes AS (SELECT DISTINCT s AS v FROM dir),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |pr0 AS (SELECT v,
       |          CAST(round(CAST(1.0 AS DOUBLE)/CAST(nn.n AS DOUBLE), 12)
       |            AS DECIMAL(18,12)) AS pr
       |        FROM nodes CROSS JOIN nn),
       |$steps
       |SELECT v AS word, CAST(pr AS DOUBLE) AS score FROM pr5
       |ORDER BY score DESC, word LIMIT 10""".stripMargin
  }

  /** 10 power-iteration rounds unrolled as generated CTEs over a `cov`
    * (i,j,c) CTE and a `v0` start vector, each mirroring the Spark
    * arithmetic (decimal quantization points, double casts, IEEE sqrt) —
    * shared by the local-path (q260/q261) and distributed-path (q292)
    * oracles, which differ only in how `cov` is built. */
  private def pcaPowerSteps: String = pcaPowerStepsUpTo(10)

  /** [[pcaPowerSteps]] with a round count — heavyweight dense-covariance
    * replays (q312's d=4096 de-bias) exercise the same arithmetic in
    * fewer rounds to keep the gate query inside the bench band. */
  private def pcaPowerStepsUpTo(rounds: Int): String = (1 to rounds).map { k =>
    s"""w$k AS MATERIALIZED (
       |  SELECT cov.i,
       |    CAST(SUM(CAST(CAST(c AS DOUBLE)*CAST(v AS DOUBLE) AS DECIMAL(28,12)))
       |      AS DOUBLE) AS w
       |  FROM cov JOIN v${k - 1} ON v${k - 1}.i = cov.j GROUP BY cov.i),
       |n$k AS MATERIALIZED (
       |  SELECT sqrt(CAST(SUM(CAST(w*w AS DECIMAL(28,12))) AS DOUBLE)) AS nrm
       |  FROM w$k),
       |v$k AS MATERIALIZED (
       |  SELECT i, CAST(round(w/nrm, 9) AS DECIMAL(18,9)) AS v
       |  FROM w$k CROSS JOIN n$k)""".stripMargin
  }.mkString(",\n")

  /** [[pcaPowerSteps]] with a name prefix and covariance CTE name — lets
    * one oracle unroll SEVERAL power iterations (the q299 deflation
    * replay: rounds over `cov`, then rounds over the deflated `cov2`). */
  private def pcaPowerStepsNamed(pfx: String, covName: String): String =
    (1 to 10).map { k =>
      s"""${pfx}w$k AS MATERIALIZED (
         |  SELECT $covName.i,
         |    CAST(SUM(CAST(CAST(c AS DOUBLE)*CAST(v AS DOUBLE) AS DECIMAL(28,12)))
         |      AS DOUBLE) AS w
         |  FROM $covName JOIN ${pfx}v${k - 1} ON ${pfx}v${k - 1}.i = $covName.j
         |  GROUP BY $covName.i),
         |${pfx}n$k AS MATERIALIZED (
         |  SELECT sqrt(CAST(SUM(CAST(w*w AS DECIMAL(28,12))) AS DOUBLE)) AS nrm
         |  FROM ${pfx}w$k),
         |${pfx}v$k AS MATERIALIZED (
         |  SELECT i, CAST(round(w/nrm, 9) AS DECIMAL(18,9)) AS v
         |  FROM ${pfx}w$k CROSS JOIN ${pfx}n$k)""".stripMargin
    }.mkString(",\n")

  /** q299's oracle: the q260 pipeline (cov + rounds → v10/n10), then the
    * engine-exact Hotelling deflation (λ the 6-dp eigenvalue, rank-1 term
    * 12-dp-decimal-cast, deflated entry re-quantized DECIMAL(18,9)) and a
    * second unrolled iteration over the deflated matrix. */
  private def pcaDeflationOracle: String =
    s"""$pcaOracle,
       |eig1 AS (SELECT round(nrm, 6) AS e FROM n10),
       |cov2 AS MATERIALIZED (
       |  SELECT cov.i, cov.j,
       |    CAST(round(CAST(c AS DOUBLE) -
       |      CAST(CAST(e*CAST(a.v AS DOUBLE)*CAST(b.v AS DOUBLE)
       |        AS DECIMAL(28,12)) AS DOUBLE), 9) AS DECIMAL(18,9)) AS c
       |  FROM cov JOIN v10 a ON a.i = cov.i JOIN v10 b ON b.i = cov.j
       |  CROSS JOIN eig1),
       |dv0 AS (
       |  SELECT i, CAST(round(CAST(1.0 AS DOUBLE)/sqrt(CAST(64 AS DOUBLE)), 9)
       |    AS DECIMAL(18,9)) AS v
       |  FROM (SELECT DISTINCT i FROM means)),
       |${pcaPowerStepsNamed("d", "cov2")}
       |SELECT 0 AS comp, CAST(v10.i AS BIGINT) AS dim, CAST(v AS DOUBLE) AS loading,
       |  round(n10.nrm, 6) AS eigenvalue
       |FROM v10 CROSS JOIN n10
       |UNION ALL
       |SELECT 1, CAST(dv10.i AS BIGINT), CAST(v AS DOUBLE), round(dn10.nrm, 6)
       |FROM dv10 CROSS JOIN dn10
       |ORDER BY comp, dim""".stripMargin

  /** q260's oracle: covariance + the unrolled power-iteration rounds. */
  private def pcaOracle: String = {
    val steps = pcaPowerSteps
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
       |cells AS (
       |  SELECT vec_id AS id, i0 - 1 AS i,
       |    CAST(round(vv[i0], 6) AS DECIMAL(20,6)) AS q
       |  FROM e, UNNEST(generate_series(1, 64)) AS t(i0)),
       |nn AS (SELECT count(*) AS n FROM e),
       |means AS (
       |  SELECT i, CAST(round(CAST(SUM(q) AS DOUBLE)/CAST(nn.n AS DOUBLE), 9)
       |    AS DECIMAL(18,9)) AS m
       |  FROM cells CROSS JOIN nn GROUP BY i, nn.n),
       |cent AS MATERIALIZED (
       |  SELECT id, i, CAST(q AS DOUBLE) - CAST(m AS DOUBLE) AS cx
       |  FROM cells JOIN means USING (i)),
       |cov AS MATERIALIZED (
       |  SELECT a.i AS i, b.i AS j,
       |    CAST(round(CAST(SUM(CAST(a.cx*b.cx AS DECIMAL(28,12))) AS DOUBLE)
       |      /CAST(nn.n AS DOUBLE), 9) AS DECIMAL(18,9)) AS c
       |  FROM cent a JOIN cent b USING (id) CROSS JOIN nn GROUP BY a.i, b.i, nn.n),
       |v0 AS (
       |  SELECT i, CAST(round(CAST(1.0 AS DOUBLE)/sqrt(CAST(64 AS DOUBLE)), 9)
       |    AS DECIMAL(18,9)) AS v
       |  FROM (SELECT DISTINCT i FROM means)),
       |$steps""".stripMargin
  }

  private def pcaOracleFinal: String =
    s"""$pcaOracle
       |SELECT CAST(v10.i AS BIGINT) AS dim, CAST(v AS DOUBLE) AS loading,
       |  round(nrm, 6) AS eigenvalue
       |FROM v10 CROSS JOIN n10 ORDER BY dim""".stripMargin

  /** q292's oracle: the SAME unrolled rounds over the banded synthetic
    * d=4096 covariance (Toeplitz width ±8) the Spark side generates. */
  private def pcaDistributedOracle: String =
    s"""WITH dims AS (SELECT UNNEST(range(4096)) AS i),
       |cov AS MATERIALIZED (
       |  SELECT i, i + o AS j,
       |    CAST(round(CAST(1.0 AS DOUBLE)/(CAST(1.0 AS DOUBLE) + CAST(ABS(o) AS DOUBLE)), 9)
       |      AS DECIMAL(18,9)) AS c
       |  FROM dims, (SELECT UNNEST(range(-8, 9)) AS o)
       |  WHERE i + o >= 0 AND i + o < 4096),
       |v0 AS (
       |  SELECT i, CAST(round(CAST(1.0 AS DOUBLE)/sqrt(CAST(4096 AS DOUBLE)), 9)
       |    AS DECIMAL(18,9)) AS v
       |  FROM dims),
       |$pcaPowerSteps
       |SELECT CAST(v10.i AS BIGINT) AS dim, CAST(v AS DOUBLE) AS loading,
       |  round(nrm, 6) AS eigenvalue
       |FROM v10 CROSS JOIN n10 ORDER BY dim""".stripMargin

  /** q312's oracle: the q261 debias pipeline over the rational synthetic
    * d=4096 corpus (3 vectors, cell = ((id+1)*31 + i*17) % 97 / 97 — exact
    * integer arithmetic + one correctly-rounded division, so both engines
    * quantize identical doubles), every round unrolled like q292. */
  private def debiasDistributedOracle: String =
    s"""WITH e AS (SELECT UNNEST(range(3)) AS vec_id),
       |cells AS (
       |  SELECT vec_id AS id, i,
       |    CAST(round(CAST(((vec_id + 1) * 31 + i * 17) % 97 AS DOUBLE) / 97.0, 6)
       |      AS DECIMAL(20,6)) AS q
       |  FROM e, (SELECT UNNEST(range(4096)) AS i)),
       |nn AS (SELECT count(*) AS n FROM e),
       |means AS (
       |  SELECT i, CAST(round(CAST(SUM(q) AS DOUBLE)/CAST(nn.n AS DOUBLE), 9)
       |    AS DECIMAL(18,9)) AS m
       |  FROM cells CROSS JOIN nn GROUP BY i, nn.n),
       |cent AS MATERIALIZED (
       |  SELECT id, i, CAST(q AS DOUBLE) - CAST(m AS DOUBLE) AS cx
       |  FROM cells JOIN means USING (i)),
       |cov AS MATERIALIZED (
       |  SELECT a.i AS i, b.i AS j,
       |    CAST(round(CAST(SUM(CAST(a.cx*b.cx AS DECIMAL(28,12))) AS DOUBLE)
       |      /CAST(nn.n AS DOUBLE), 9) AS DECIMAL(18,9)) AS c
       |  FROM cent a JOIN cent b USING (id) CROSS JOIN nn GROUP BY a.i, b.i, nn.n),
       |v0 AS (
       |  SELECT i, CAST(round(CAST(1.0 AS DOUBLE)/sqrt(CAST(4096 AS DOUBLE)), 9)
       |    AS DECIMAL(18,9)) AS v
       |  FROM (SELECT DISTINCT i FROM means)),
       |${pcaPowerStepsUpTo(5)},
       |p AS MATERIALIZED (
       |  SELECT id, CAST(SUM(CAST(cx*CAST(v AS DOUBLE) AS DECIMAL(28,12)))
       |    AS DOUBLE) AS p
       |  FROM cent JOIN v5 USING (i) GROUP BY id)
       |SELECT cent.id AS vec_id, round(max(p), 6) AS top_proj,
       |  round(sqrt(CAST(SUM(CAST(cx*cx AS DECIMAL(28,12))) AS DOUBLE)), 6) AS norm_before,
       |  round(sqrt(CAST(SUM(CAST((cx - p*CAST(v AS DOUBLE))*(cx - p*CAST(v AS DOUBLE))
       |    AS DECIMAL(28,12))) AS DOUBLE)), 6) AS norm_after
       |FROM cent JOIN v5 USING (i) JOIN p USING (id)
       |GROUP BY cent.id ORDER BY vec_id""".stripMargin

  /** q261's oracle: the PCA pipeline + per-vector projection removal. */
  private def debiasOracle: String =
    s"""$pcaOracle,
       |p AS MATERIALIZED (
       |  SELECT id, CAST(SUM(CAST(cx*CAST(v AS DOUBLE) AS DECIMAL(28,12)))
       |    AS DOUBLE) AS p
       |  FROM cent JOIN v10 USING (i) GROUP BY id)
       |SELECT cent.id AS vec_id, round(max(p), 6) AS top_proj,
       |  round(sqrt(CAST(SUM(CAST(cx*cx AS DECIMAL(28,12))) AS DOUBLE)), 6) AS norm_before,
       |  round(sqrt(CAST(SUM(CAST((cx - p*CAST(v AS DOUBLE))*(cx - p*CAST(v AS DOUBLE))
       |    AS DECIMAL(28,12))) AS DOUBLE)), 6) AS norm_after
       |FROM cent JOIN v10 USING (i) JOIN p USING (id)
       |WHERE id < 20 GROUP BY cent.id ORDER BY vec_id""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "q258_textrank" -> textrankOracle,

    "q260_pca_power" -> pcaOracleFinal,

    "q261_debias_topcomp" -> debiasOracle,

    "q312_debias_distributed" -> debiasDistributedOracle,

    // prefix skipping is invisible to the row-filtered result
    "q316_like_prefix_skipping" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_name LIKE 'Customer#00000001%' ORDER BY c_custkey""".stripMargin,

    // the routed aggregate equals the plain GROUP BY over the final
    // source state (base + the appended customer) — routing is invisible
    // to values, which is the contract
    "q322_transparent_mv_routing" ->
      """WITH src AS (
        |  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |    CAST(c_acctbal AS DECIMAL(18,2)) AS price FROM customer
        |  UNION ALL
        |  SELECT CAST(900001 AS BIGINT), CAST(0 AS BIGINT),
        |    CAST(100.00 AS DECIMAL(18,2)))
        |SELECT c_nationkey, count(*) AS n, count(price) AS nn,
        |  CAST(sum(price) AS DOUBLE) AS rev
        |FROM src GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // the z-order rewrite is content-preserving: the row-filtered result
    // is just the base table under both predicates (UNION ALL of the
    // rectangle query and the expensive-order slice)
    "q321_zorder_clustering" ->
      """SELECT * FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_custkey <= (SELECT CAST(FLOOR(max(o_custkey) / 8) AS BIGINT) FROM orders)
        |    AND o_totalprice >= 400000
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_totalprice >= 480000)
        |ORDER BY o_orderkey, o_custkey""".stripMargin,

    // the transparently-routed star aggregate = a from-scratch recompute
    // of the 3-way join over the final state (one order's lines +5 qty)
    "q327_transparent_star_routing" ->
      """WITH lbase AS (
        |  SELECT l_orderkey, min(l_partkey) AS p_partkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS qty
        |  FROM lineitem GROUP BY l_orderkey, l_linenumber),
        |lfix AS (
        |  SELECT l_orderkey, p_partkey,
        |    CASE WHEN l_orderkey = (SELECT min(l_orderkey) FROM lineitem)
        |         THEN qty + 5 ELSE qty END AS qty
        |  FROM lbase)
        |SELECT o_orderpriority AS prio, p_brand, count(*) AS n,
        |  CAST(sum(qty) AS DOUBLE) AS sq
        |FROM lfix
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part USING (p_partkey)
        |GROUP BY prio, p_brand ORDER BY prio, p_brand""".stripMargin,

    // the star view's final state = a from-scratch recompute of the
    // 3-way join: one order's lines +5 qty (fact leg), one order's
    // priority flipped (dim1 leg), one part's brand flipped (dim2 leg)
    "q326_incremental_star_mv" ->
      """WITH k AS (
        |  SELECT min(l_orderkey) AS k1,
        |    (SELECT min(l_orderkey) FROM lineitem
        |     WHERE l_orderkey > (SELECT min(l_orderkey) FROM lineitem)) AS k2,
        |    (SELECT min(l_partkey) FROM lineitem) AS pk
        |  FROM lineitem),
        |lbase AS (
        |  SELECT l_orderkey, l_linenumber, min(l_partkey) AS p_partkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS qty
        |  FROM lineitem GROUP BY 1, 2),
        |lfix AS (
        |  SELECT l_orderkey, p_partkey,
        |    CASE WHEN l_orderkey = (SELECT k1 FROM k) THEN qty + 5 ELSE qty END AS qty
        |  FROM lbase),
        |ofix AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey = (SELECT k2 FROM k)
        |         THEN '9-FLIP' ELSE o_orderpriority END AS prio
        |  FROM orders),
        |pfix AS (
        |  SELECT p_partkey,
        |    CASE WHEN p_partkey = (SELECT pk FROM k)
        |         THEN 'BRAND#99' ELSE p_brand END AS p_brand
        |  FROM part)
        |SELECT prio, p_brand, count(*) AS n, CAST(sum(qty) AS DOUBLE) AS sq
        |FROM lfix JOIN ofix ON l_orderkey = o_orderkey JOIN pfix USING (p_partkey)
        |GROUP BY prio, p_brand ORDER BY prio, p_brand""".stripMargin,

    // null group keys round-trip: the view's final state ≡ a recompute
    // with the same null injection (DuckDB GROUP BY groups nulls too)
    "q333_null_group_keys" ->
      """WITH fin0 AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus AS st,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |         ELSE o_orderpriority END AS prio,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) +
        |      CASE WHEN o_orderkey = (SELECT min(o_orderkey) FROM orders
        |                              WHERE o_orderkey % 7 = 0)
        |           THEN 10 ELSE 0 END AS DECIMAL(18,2)) AS price
        |  FROM orders),
        |fin AS (
        |  SELECT * FROM fin0
        |  WHERE o_custkey <> (SELECT max(o_custkey) FROM orders))
        |SELECT prio, count(*) AS n, CAST(sum(price) AS DOUBLE) AS rev,
        |  count(DISTINCT st) AS ds
        |FROM fin GROUP BY prio ORDER BY prio""".stripMargin,

    // the dim-filtered routed dashboard query = a plain filtered GROUP BY
    // over the base table
    "q332_dim_filter_routing" ->
      """SELECT o_custkey, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
        |  count(DISTINCT o_orderstatus) AS ds
        |FROM orders
        |WHERE o_orderpriority = (SELECT min(o_orderpriority) FROM orders)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // the star view's final distinct counts = a from-scratch recompute of
    // the final 3-way join: one order's lines deleted, another's priority
    // flipped, one part's brand flipped
    "q331_star_mv_count_distinct" ->
      """WITH k AS (
        |  SELECT min(l_orderkey) AS k1, max(l_orderkey) AS k3,
        |    (SELECT min(l_partkey) FROM lineitem) AS pk
        |  FROM lineitem),
        |lbase AS (
        |  SELECT l_orderkey, l_linenumber, min(l_partkey) AS p_partkey,
        |    max(l_suppkey) AS supp
        |  FROM lineitem GROUP BY 1, 2),
        |lfix AS (
        |  SELECT l_orderkey, p_partkey, supp FROM lbase
        |  WHERE l_orderkey <> (SELECT k3 FROM k)),
        |ofix AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey = (SELECT k1 FROM k)
        |         THEN '9-FLIP' ELSE o_orderpriority END AS prio
        |  FROM orders),
        |pfix AS (
        |  SELECT p_partkey,
        |    CASE WHEN p_partkey = (SELECT pk FROM k)
        |         THEN 'BRAND#99' ELSE p_brand END AS p_brand
        |  FROM part)
        |SELECT prio, p_brand, count(*) AS n, count(DISTINCT supp) AS ds
        |FROM lfix JOIN ofix ON l_orderkey = o_orderkey JOIN pfix USING (p_partkey)
        |GROUP BY prio, p_brand ORDER BY prio, p_brand""".stripMargin,

    // the transparently-routed aggregate = a from-scratch recompute of
    // the join over the final state (one order's lines +5 qty)
    "q325_transparent_join_routing" ->
      """WITH lbase AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS qty
        |  FROM lineitem GROUP BY l_orderkey, l_linenumber),
        |lfix AS (
        |  SELECT l_orderkey,
        |    CASE WHEN l_orderkey = (SELECT min(l_orderkey) FROM lineitem)
        |         THEN qty + 5 ELSE qty END AS qty
        |  FROM lbase)
        |SELECT o_orderpriority AS prio, count(*) AS n, CAST(sum(qty) AS DOUBLE) AS sq
        |FROM lfix JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY prio ORDER BY prio""".stripMargin,

    // the join view's final state = a full recompute of the final
    // fact ⋈ dim: one order's lines +5 qty, another's deleted (fact
    // legs), a third's priority flipped to a new group (dim leg)
    "q324_incremental_join_mv" ->
      """WITH k AS (
        |  SELECT min(l_orderkey) AS k1, max(l_orderkey) AS k3,
        |    (SELECT min(l_orderkey) FROM lineitem
        |     WHERE l_orderkey > (SELECT min(l_orderkey) FROM lineitem)) AS k2
        |  FROM lineitem),
        |lbase AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS qty
        |  FROM lineitem GROUP BY 1, 2),
        |lfix AS (
        |  SELECT l_orderkey,
        |    CASE WHEN l_orderkey = (SELECT k1 FROM k)
        |         THEN qty + 5 ELSE qty END AS qty
        |  FROM lbase WHERE l_orderkey <> (SELECT k3 FROM k)),
        |ofix AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey = (SELECT k2 FROM k)
        |         THEN '9-FLIP' ELSE o_orderpriority END AS prio
        |  FROM orders)
        |SELECT prio, count(*) AS n, CAST(sum(qty) AS DOUBLE) AS sqty
        |FROM lfix JOIN ofix ON l_orderkey = o_orderkey
        |GROUP BY prio ORDER BY prio""".stripMargin,

    // the join view's final state = a full distinct recompute of the
    // final fact ⋈ dim: one order's lines deleted (fact leg), another's
    // priority flipped to a new group (dim leg)
    "q330_join_mv_count_distinct" ->
      """WITH k AS (
        |  SELECT min(l_orderkey) AS k1, max(l_orderkey) AS k3 FROM lineitem),
        |lbase AS (
        |  SELECT l_orderkey, l_linenumber, max(l_suppkey) AS supp
        |  FROM lineitem GROUP BY 1, 2),
        |lfix AS (
        |  SELECT l_orderkey, supp FROM lbase
        |  WHERE l_orderkey <> (SELECT k3 FROM k)),
        |ofix AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey = (SELECT k1 FROM k)
        |         THEN '9-FLIP' ELSE o_orderpriority END AS prio
        |  FROM orders)
        |SELECT prio, count(*) AS n, count(DISTINCT supp) AS ds
        |FROM lfix JOIN ofix ON l_orderkey = o_orderkey
        |GROUP BY prio ORDER BY prio""".stripMargin,

    // routing must be invisible in results: the routed answer (returned)
    // equals a plain GROUP BY over the base table
    "q328_alter_mv_rewrite_sql" ->
      """SELECT o_custkey, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // coarse-grain distinct: the routed answer (from the aux pair
    // relation) equals a full COUNT(DISTINCT) recompute of the final
    // state — one order's priority flipped to a brand-new value
    "q329_coarse_distinct_routing" ->
      """WITH fin AS (
        |  SELECT o_custkey,
        |    CASE WHEN o_orderkey = (SELECT min(o_orderkey) FROM orders)
        |         THEN '9-SPECIAL' ELSE o_orderpriority END AS prio
        |  FROM orders)
        |SELECT o_custkey, count(*) AS n, count(DISTINCT prio) AS dp
        |FROM fin GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // exact COUNT(DISTINCT) under updates AND deletes: the oracle is a
    // full distinct recompute of the final state — one customer's
    // priorities collapsed to a single new value, another customer gone
    "q334_filter_clause_routing" ->
      """SELECT o_custkey, count(*) AS n,
        |  count(*) FILTER (WHERE o_orderpriority =
        |    (SELECT min(o_orderpriority) FROM orders)) AS n_p,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (
        |    WHERE o_orderpriority = (SELECT min(o_orderpriority) FROM orders))
        |    AS DOUBLE) AS rev_p,
        |  count(DISTINCT o_orderstatus) AS ds
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q335_global_distinct_routing" ->
      """SELECT count(DISTINCT o_orderstatus) AS dc, count(*) AS n FROM orders""",

    // replays the view's exact-partial derivation: decimal Σx/Σx² sums
    // (order-free exact in both engines), correctly-rounded casts, the
    // same double expression tree — bit-identical before the round(6)
    "q336_mv_variance" ->
      """WITH fin AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_custkey = (SELECT min(o_custkey) FROM orders)
        |         THEN CAST(CAST(o_totalprice % 1000 AS DECIMAL(18,2)) +
        |                   CAST(5.00 AS DECIMAL(18,2)) AS DECIMAL(18,2))
        |         ELSE CAST(o_totalprice % 1000 AS DECIMAL(18,2)) END AS price
        |  FROM orders
        |  WHERE o_custkey <> (SELECT max(o_custkey) FROM orders)),
        |agg AS (
        |  SELECT o_custkey, count(*) AS n, count(price) AS nn,
        |    SUM(price) AS sm, SUM(price * price) AS sq
        |  FROM fin GROUP BY o_custkey)
        |SELECT o_custkey, n,
        |  round(CASE WHEN nn > 1 THEN greatest(
        |    (CAST(sq AS DOUBLE) - CAST(sm AS DOUBLE)*CAST(sm AS DOUBLE)/CAST(nn AS DOUBLE))
        |      / (CAST(nn AS DOUBLE) - 1.0), 0.0) END, 6) AS vp,
        |  round(CASE WHEN nn > 1 THEN sqrt(greatest(
        |    (CAST(sq AS DOUBLE) - CAST(sm AS DOUBLE)*CAST(sm AS DOUBLE)/CAST(nn AS DOUBLE))
        |      / (CAST(nn AS DOUBLE) - 1.0), 0.0)) END, 6) AS sp
        |FROM agg ORDER BY o_custkey""".stripMargin,

    // filtered distinct replays directly: the routed answer must equal a
    // full recompute with the same FILTER + DISTINCT semantics
    "q337_filtered_distinct_routing" ->
      """SELECT o_custkey, count(*) AS n,
        |  count(DISTINCT o_orderstatus) FILTER (WHERE o_orderpriority =
        |    (SELECT min(o_orderpriority) FROM orders)) AS ds_p,
        |  count(DISTINCT o_orderstatus) AS ds
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q338_derived_dim_routing" ->
      """SELECT CAST(month(o_orderdate) AS BIGINT) AS m, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM orders GROUP BY 1 ORDER BY m""".stripMargin,

    "q339_pipeline_mv" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  count(DISTINCT o_custkey) AS dc
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,

    // the converged pipeline state (through a transient retry, a hard
    // mid-DAG abort, a healing pass, and an idle pass) must equal a
    // plain recompute over ALL the orders
    "q343_pipeline_mv_depth" ->
      """SELECT o_orderstatus AS st, count(*) AS n,
        |  count(DISTINCT o_custkey) AS dc,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM orders GROUP BY 1 ORDER BY st""".stripMargin,

    // the routed join answer must equal a full recompute of the final
    // fact ⋈ dim with the one shifted date applied
    "q340_join_derived_dim_routing" ->
      """WITH ofix AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey = (SELECT min(o_orderkey) FROM orders)
        |         THEN o_orderdate + INTERVAL 40 DAY ELSE o_orderdate END AS dt,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders)
        |SELECT c_mktsegment AS seg, CAST(month(dt) AS BIGINT) AS m,
        |  count(*) AS n, CAST(sum(price) AS DOUBLE) AS rev
        |FROM ofix JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY seg, m""".stripMargin,

    "q341_star_derived_dim_routing" ->
      """WITH lbase AS (
        |  SELECT l_orderkey AS o_orderkey, l_linenumber,
        |    min(l_partkey) AS p_partkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS qty,
        |    min(l_shipdate) AS sd
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT o_orderpriority AS prio, CAST(month(sd) AS BIGINT) AS m,
        |  count(*) AS n, CAST(sum(qty) AS DOUBLE) AS sq
        |FROM lbase JOIN orders USING (o_orderkey) JOIN part USING (p_partkey)
        |GROUP BY 1, 2 ORDER BY prio, m""".stripMargin,

    "q342_derived_dim_breadth" ->
      """SELECT o_orderpriority AS prio, CAST(month(o_orderdate) AS BIGINT) AS m,
        |  CAST(year(o_orderdate) AS BIGINT) AS y, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM orders GROUP BY 1, 2, 3 ORDER BY prio, m, y""".stripMargin,

    "q323_mv_count_distinct" ->
      """WITH fin AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_custkey = (SELECT min(o_custkey) FROM orders)
        |         THEN '9-SPECIAL' ELSE o_orderpriority END AS prio
        |  FROM orders
        |  WHERE o_custkey <> (SELECT max(o_custkey) FROM orders))
        |SELECT o_custkey, count(*) AS n, count(DISTINCT prio) AS dp
        |FROM fin GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // the MV's final state = a full recompute of the source's final
    // state: the deleted customer's group is GONE (not a zero row), every
    // other group still carries its bootstrap-era values — incremental
    // maintenance is invisible to the result, which is the whole point
    "q320_incremental_mv" ->
      """SELECT o_custkey, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM orders
        |WHERE o_custkey <> (SELECT min(o_custkey) FROM orders)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // streamed history replay: v1 snapshot as inserts, then each
    // commit's preimage/postimage/delete/insert rows — the oracle
    // reconstructs all three versions' states and their diffs
    "q319_cdf_streaming_source" ->
      """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |s2 AS (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal
        |  FROM base WHERE c_custkey <> 7
        |  UNION ALL SELECT CAST(900001 AS BIGINT), 'NewCo', CAST(0.0 AS DOUBLE)),
        |s3 AS (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 25 = 0 THEN c_acctbal + 1000 ELSE c_acctbal END AS c_acctbal
        |  FROM s2)
        |SELECT * FROM (
        |  SELECT c_custkey, c_name, c_acctbal, 'insert' AS _change_type,
        |    CAST(1 AS BIGINT) AS _commit_version FROM base
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal, 'update_preimage', 2
        |  FROM base WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal, 'update_postimage', 2
        |  FROM s2 WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal, 'delete', 2
        |  FROM base WHERE c_custkey = 7
        |  UNION ALL
        |  SELECT CAST(900001 AS BIGINT), 'NewCo', CAST(0.0 AS DOUBLE), 'insert', 2
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal, 'update_preimage', 3
        |  FROM s2 WHERE c_custkey % 25 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal, 'update_postimage', 3
        |  FROM s3 WHERE c_custkey % 25 = 0)
        |ORDER BY _commit_version, c_custkey, _change_type""".stripMargin,

    // preimage feed replay: updated keys emit their OLD row (preimage)
    // and NEW row (postimage), the deleted key its old row, the insert
    // its new row — all four kinds reconstructable from the base table
    "q318_cdf_preimage" ->
      """SELECT * FROM (
        |  SELECT c_custkey, c_name, c_acctbal,
        |    'update_preimage' AS _change_type
        |  FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal + 100,
        |    'update_postimage' FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal, 'delete'
        |  FROM customer WHERE c_custkey = 7
        |  UNION ALL
        |  SELECT CAST(900001 AS BIGINT), 'NewCo', CAST(0.0 AS DOUBLE), 'insert')
        |ORDER BY c_custkey, _change_type""".stripMargin,

    // partition + sidecar pruning are invisible to the row-filtered
    // result: 1997's expensive orders UNION ALL 1996's first order — the
    // point row proves the pruned partition read keeps the right files
    "q317_partition_pruned_read" ->
      """WITH v AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
        |    CAST(year(o_orderdate) AS INT) AS o_year
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT * FROM v WHERE o_year = 1997 AND o_totalprice >= 250000
        |  UNION ALL
        |  SELECT * FROM v WHERE o_year = 1996
        |    AND o_orderkey = (SELECT min(o_orderkey) FROM v WHERE o_year = 1996))
        |ORDER BY o_orderkey""".stripMargin,

    // the key lookup's bucket pruning is invisible to the row-filtered
    // result — and the rows MUST be present, which proves the driver-side
    // hash replay picks the true buckets
    "q315_sql_key_lookup" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey IN (42, 77) ORDER BY c_custkey""".stripMargin,

    // mirror end state: the dim minus the deleted key, plus the appended
    // (offset, lowercased) rows — the diff path is invisible to values
    "q314_plain_delete_mirror" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM (
        |  SELECT n_nationkey, n_name, n_regionkey FROM nation
        |  WHERE n_nationkey <> 3
        |  UNION ALL
        |  SELECT n_nationkey + 200, lower(n_name), n_regionkey FROM nation)
        |ORDER BY n_nationkey""".stripMargin,

    // the probes' pruning is invisible to the row-filtered result; ties on
    // the probed balance (if any) appear on both sides identically
    "q313_double_bloom_read" ->
      """WITH v AS (
        |  SELECT c_custkey, c_name, c_acctbal, c_custkey * 1000 AS oid
        |  FROM customer)
        |SELECT * FROM (
        |  SELECT * FROM v
        |  WHERE c_acctbal = (SELECT c_acctbal FROM customer WHERE c_custkey = 7)
        |  UNION ALL
        |  SELECT * FROM v WHERE oid IN (3000, 4000))
        |ORDER BY c_custkey""".stripMargin,

    "q292_pca_power_distributed" -> pcaDistributedOracle,

    // kNN label propagation — cosine ranks replay per q26's precedent
    "q262_knn_label" ->
      """WITH te AS (SELECT * FROM embeddings WHERE vec_id % 5 = 0),
        |tr AS (SELECT * FROM embeddings WHERE vec_id % 5 != 0),
        |sc AS (
        |  SELECT a.vec_id AS q, b.vec_id AS n, b.label,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])) AS cos
        |  FROM te a JOIN tr b ON a.vec_id != b.vec_id),
        |top AS (SELECT q, n, label FROM (
        |    SELECT q, n, label,
        |      row_number() OVER (PARTITION BY q ORDER BY cos DESC, n) AS rn
        |    FROM sc) WHERE rn <= 5),
        |v AS (SELECT q, label, CAST(count(*) AS BIGINT) AS votes FROM top GROUP BY 1, 2),
        |p AS (SELECT q, label, votes FROM (
        |    SELECT q, label, votes,
        |      row_number() OVER (PARTITION BY q ORDER BY votes DESC, label) AS rn
        |    FROM v) WHERE rn = 1)
        |SELECT p.q AS vec_id, p.label AS pred_label, p.votes,
        |  te.label AS true_label, p.label = te.label AS correct
        |FROM p JOIN te ON te.vec_id = p.q ORDER BY vec_id""".stripMargin,

    // corpus data card — one row per corpus-level metric
    "q263_data_card" ->
      """WITH base AS (
        |  SELECT doc_id, lang, source,
        |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS nt,
        |    md5(array_to_string(list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), '\s+'), x -> x != ''), ' ')) AS fp,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','by'], x))) AS stophits,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS npunct,
        |    length(text) AS nch
        |  FROM documents),
        |sc AS (
        |  SELECT base.*,
        |    round(1.0 / (1.0 + exp(-(-1.5
        |      + 0.02 * CAST(nt AS DOUBLE)
        |      + 8.0 * (CAST(stophits AS DOUBLE) / CAST(greatest(nt, 1) AS DOUBLE))
        |      + (-6.0) * (CAST(npunct AS DOUBLE) / CAST(nch AS DOUBLE))))), 6) AS score
        |  FROM base),
        |dupfp AS (SELECT fp FROM sc GROUP BY fp HAVING count(*) > 1)
        |SELECT 'docs' AS metric, CAST(count(*) AS DOUBLE) AS value FROM sc
        |UNION ALL SELECT 'tokens', CAST(SUM(nt) AS DOUBLE) FROM sc
        |UNION ALL SELECT 'langs', CAST(count(DISTINCT lang) AS DOUBLE) FROM sc
        |UNION ALL SELECT 'sources', CAST(count(DISTINCT source) AS DOUBLE) FROM sc
        |UNION ALL SELECT 'mean_tokens',
        |  round(CAST(SUM(nt) AS DOUBLE)/count(*), 6) FROM sc
        |UNION ALL SELECT 'mean_quality',
        |  round(CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE)/count(*), 6) FROM sc
        |UNION ALL SELECT 'pct_en',
        |  round(CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)/count(*), 6) FROM sc
        |UNION ALL SELECT 'exact_dup_docs',
        |  CAST((SELECT count(*) FROM sc WHERE fp IN (SELECT fp FROM dupfp)) AS DOUBLE)
        |ORDER BY metric""".stripMargin,

    // batch 0 = even ids, batch 1 = odd∩zh; same PSI idiom as q199
    "q266_streaming_drift" ->
      """WITH ref AS (SELECT lang, count(*) AS rc FROM documents GROUP BY 1),
        |b0 AS (SELECT lang, count(*) AS bc FROM documents
        |       WHERE doc_id % 2 = 0 GROUP BY 1),
        |b1 AS (SELECT lang, count(*) AS bc FROM documents
        |       WHERE doc_id % 2 = 1 AND lang = 'zh' GROUP BY 1),
        |j0 AS (SELECT * FROM b0 LEFT JOIN ref USING (lang)),
        |t0 AS (SELECT (SELECT sum(bc) FROM b0) AS tb, (SELECT sum(rc) FROM ref) AS tr),
        |p0 AS (
        |  SELECT CAST(0 AS BIGINT) AS batch_id, CAST(max(tb) AS BIGINT) AS n_rows,
        |    round(CAST(sum(CAST(round(
        |      (CAST(bc AS DOUBLE)/CAST(tb AS DOUBLE) - greatest(CAST(coalesce(rc,0) AS DOUBLE)/CAST(tr AS DOUBLE), 1e-9))
        |      * ln((CAST(bc AS DOUBLE)/CAST(tb AS DOUBLE)) / greatest(CAST(coalesce(rc,0) AS DOUBLE)/CAST(tr AS DOUBLE), 1e-9)), 12)
        |      AS DECIMAL(28,12))) AS DOUBLE), 6) + 0.0 AS psi
        |  FROM j0 CROSS JOIN t0),
        |j1 AS (SELECT * FROM b1 LEFT JOIN ref USING (lang)),
        |t1 AS (SELECT (SELECT sum(bc) FROM b1) AS tb, (SELECT sum(rc) FROM ref) AS tr),
        |p1 AS (
        |  SELECT CAST(1 AS BIGINT) AS batch_id, CAST(max(tb) AS BIGINT) AS n_rows,
        |    round(CAST(sum(CAST(round(
        |      (CAST(bc AS DOUBLE)/CAST(tb AS DOUBLE) - greatest(CAST(coalesce(rc,0) AS DOUBLE)/CAST(tr AS DOUBLE), 1e-9))
        |      * ln((CAST(bc AS DOUBLE)/CAST(tb AS DOUBLE)) / greatest(CAST(coalesce(rc,0) AS DOUBLE)/CAST(tr AS DOUBLE), 1e-9)), 12)
        |      AS DECIMAL(28,12))) AS DOUBLE), 6) + 0.0 AS psi
        |  FROM j1 CROSS JOIN t1)
        |SELECT * FROM p0 UNION ALL SELECT * FROM p1 ORDER BY batch_id""".stripMargin,

    "q264_gopher_rules" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS nt,
        |    length(regexp_replace(text, '\s', '', 'g')) AS nchw,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS npunct,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','by'], x))) AS stophits,
        |    len(list_distinct(list_filter(string_split_regex(trim(text), '\s+'), x -> x != ''))) AS ndist
        |  FROM documents)
        |SELECT doc_id,
        |  (nt >= 20 AND nt <= 1000) AS r_words,
        |  (CAST(nchw AS DOUBLE)/greatest(nt,1) >= 2.0 AND CAST(nchw AS DOUBLE)/greatest(nt,1) <= 12.0) AS r_word_len,
        |  (CAST(npunct AS DOUBLE)/greatest(nt,1) < 0.1) AS r_symbols,
        |  (stophits >= 2) AS r_stopwords,
        |  (CAST(ndist AS DOUBLE)/greatest(nt,1) >= 0.3) AS r_distinct,
        |  ((nt >= 20 AND nt <= 1000)
        |    AND (CAST(nchw AS DOUBLE)/greatest(nt,1) >= 2.0 AND CAST(nchw AS DOUBLE)/greatest(nt,1) <= 12.0)
        |    AND (CAST(npunct AS DOUBLE)/greatest(nt,1) < 0.1)
        |    AND (stophits >= 2)
        |    AND (CAST(ndist AS DOUBLE)/greatest(nt,1) >= 0.3)) AS pass
        |FROM t ORDER BY doc_id""".stripMargin,

    // fingerprint canon + recursive-CTE cluster canon + q163 score gate,
    // first-match-wins decision
    "q265_curation_decisions" ->
      """WITH RECURSIVE toksj AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ts FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
        |  FROM toksj, UNNEST(generate_series(1, len(ts)-2)) AS g(i)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1, d2 FROM inter JOIN cnt c1 ON c1.doc_id = d1 JOIN cnt c2 ON c2.doc_id = d2
        |  WHERE CAST(i AS DOUBLE) / CAST(c1.n + c2.n - i AS DOUBLE) >= 0.5),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
        |reach AS (
        |  SELECT a AS id, b AS r FROM edges
        |  UNION
        |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
        |cl AS (SELECT id AS doc_id, LEAST(id, MIN(r)) AS comp FROM reach GROUP BY id),
        |ft AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), '\s+'), x -> x != ''), ' ')) AS fp,
        |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS ntok,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','by'], x))) AS stophits,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS npunct,
        |    length(text) AS nch
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, fp,
        |    round(1.0 / (1.0 + exp(-(-1.5
        |      + 0.02 * CAST(ntok AS DOUBLE)
        |      + 8.0 * (CAST(stophits AS DOUBLE) / CAST(greatest(ntok, 1) AS DOUBLE))
        |      + (-6.0) * (CAST(npunct AS DOUBLE) / CAST(nch AS DOUBLE))))), 6) AS score
        |  FROM ft),
        |canon AS (SELECT fp, MIN(doc_id) AS fp_canon FROM sc GROUP BY fp)
        |SELECT sc.doc_id, sc.score,
        |  CASE WHEN sc.doc_id != canon.fp_canon THEN 'exact_dup'
        |       WHEN cl.comp IS NOT NULL AND sc.doc_id != cl.comp THEN 'near_dup'
        |       WHEN sc.score < 0.4 THEN 'low_quality'
        |       ELSE 'kept' END AS decision
        |FROM sc JOIN canon USING (fp) LEFT JOIN cl USING (doc_id)
        |ORDER BY sc.doc_id""".stripMargin,

    // the oracle never sees ORC — identical results prove the round-trip
    "q259_orc_roundtrip" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  max(o_orderdate) AS latest
        |FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_totalprice > 100000.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q2_cdc_filter" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
        |WHERE ts > TIMESTAMP '2024-01-15 00:00:00' ORDER BY event_id""".stripMargin,

    "q3_transforms" ->
      """SELECT c_custkey,
        |UPPER(TRIM(REGEXP_REPLACE(c_name, '#', '-', 'g'))) AS name_clean,
        |c_mktsegment,
        |CASE WHEN c_acctbal < 0 THEN 'low' WHEN c_acctbal < 5000 THEN 'medium' ELSE 'high' END AS acctbal_flag,
        |c_acctbal FROM customer ORDER BY c_custkey""".stripMargin,

    "q4_star_join" ->
      """SELECT n_name,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q5_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q6_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,

    "q7_max_watermark" -> "SELECT MAX(ts) AS cdc FROM events",

    "q8_latest_by_key" ->
      """SELECT user_id, event_id, ts, event_type, value FROM (
        |SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q9_dedup_exact" ->
      """SELECT MD5(text) AS fp, MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY canonical_id""".stripMargin,

    "q10_union_agg" ->
      """SELECT event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total FROM (
        |SELECT * FROM events WHERE event_type = 'purchase'
        |UNION ALL SELECT * FROM events WHERE event_type = 'error')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q11_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q12_predicates" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice FROM orders
        |WHERE o_orderstatus IN ('F','O') AND o_custkey IS NOT NULL AND o_totalprice > 50000.0
        |ORDER BY o_orderkey""".stripMargin,

    "q13_scd2_history" ->
      """SELECT user_id, event_id, event_type, ts AS __START_AT,
        |LEAD(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS __END_AT
        |FROM events QUALIFY __END_AT IS NOT NULL
        |ORDER BY user_id, __START_AT, event_id""".stripMargin,

    "q14_scd1_state" ->
      """SELECT user_id, event_type, event_id, ts, value FROM (
        |SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
        |FROM events) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "q15_count_distinct" ->
      """SELECT o_orderpriority, COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q16_scd1_merge" ->
      """SELECT user_id, event_id, ts, event_type, value FROM (
        |SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q17_scd2_merge" ->
      """SELECT user_id, event_id, event_type, ts AS __START_AT,
        |LEAD(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS __END_AT
        |FROM events ORDER BY user_id, __START_AT, event_id""".stripMargin,

    // exact pairs replayed (q24's CTE); est_ok is the error-bound verdict
    "q287_minhash_estimate" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ts FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
        |  FROM toks, UNNEST(generate_series(1, len(ts)-2)) AS g(i)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT d1, d2,
        |  round(CAST(i AS DOUBLE) / CAST(c1.n + c2.n - i AS DOUBLE), 6) AS jaccard,
        |  TRUE AS est_ok
        |FROM inter JOIN cnt c1 ON c1.doc_id = d1 JOIN cnt c2 ON c2.doc_id = d2
        |WHERE CAST(i AS DOUBLE) / CAST(c1.n + c2.n - i AS DOUBLE) >= 0.5
        |ORDER BY d1, d2""".stripMargin,

    // A-ES: u from the portable md5 idiom (q162's), score = u^(1/w)
    "q286_weighted_reservoir" ->
      """WITH s AS (
        |  SELECT event_type, event_id, value,
        |    CASE WHEN value > 0.0 THEN
        |      pow((CAST(CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS DOUBLE) + 0.5) / 1000000.0,
        |          1.0 / value)
        |    ELSE 0.0 END AS score
        |  FROM events),
        |r AS (
        |  SELECT event_type, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY score DESC, event_id) AS rank
        |  FROM s)
        |SELECT event_type, rank, event_id, value FROM r WHERE rank <= 5
        |ORDER BY event_type, rank""".stripMargin,

    // binned PSI, same epsilon-left-join idiom as q266; batch 1 is the
    // planted high-tail feed
    "q285_streaming_numeric_drift" ->
      """WITH binned AS (
        |  SELECT event_id, value,
        |    CAST(least(floor(value / 50.0), 9.0) AS BIGINT) AS vbin
        |  FROM events),
        |ref AS (SELECT vbin, count(*) AS rc FROM binned GROUP BY 1),
        |b0 AS (SELECT vbin, count(*) AS bc FROM binned WHERE event_id % 2 = 0 GROUP BY 1),
        |b1 AS (SELECT vbin, count(*) AS bc FROM binned
        |       WHERE event_id % 2 = 1 AND value > 200.0 GROUP BY 1),
        |j0 AS (SELECT * FROM b0 LEFT JOIN ref USING (vbin)),
        |t0 AS (SELECT (SELECT sum(bc) FROM b0) AS tb, (SELECT sum(rc) FROM ref) AS tr),
        |p0 AS (
        |  SELECT CAST(0 AS BIGINT) AS batch_id, CAST(max(tb) AS BIGINT) AS n_rows,
        |    round(CAST(sum(CAST(round(
        |      (CAST(bc AS DOUBLE)/CAST(tb AS DOUBLE) - greatest(CAST(coalesce(rc,0) AS DOUBLE)/CAST(tr AS DOUBLE), 1e-9))
        |      * ln((CAST(bc AS DOUBLE)/CAST(tb AS DOUBLE)) / greatest(CAST(coalesce(rc,0) AS DOUBLE)/CAST(tr AS DOUBLE), 1e-9)), 12)
        |      AS DECIMAL(28,12))) AS DOUBLE), 6) + 0.0 AS psi
        |  FROM j0 CROSS JOIN t0),
        |j1 AS (SELECT * FROM b1 LEFT JOIN ref USING (vbin)),
        |t1 AS (SELECT (SELECT sum(bc) FROM b1) AS tb, (SELECT sum(rc) FROM ref) AS tr),
        |p1 AS (
        |  SELECT CAST(1 AS BIGINT) AS batch_id, CAST(max(tb) AS BIGINT) AS n_rows,
        |    round(CAST(sum(CAST(round(
        |      (CAST(bc AS DOUBLE)/CAST(tb AS DOUBLE) - greatest(CAST(coalesce(rc,0) AS DOUBLE)/CAST(tr AS DOUBLE), 1e-9))
        |      * ln((CAST(bc AS DOUBLE)/CAST(tb AS DOUBLE)) / greatest(CAST(coalesce(rc,0) AS DOUBLE)/CAST(tr AS DOUBLE), 1e-9)), 12)
        |      AS DECIMAL(28,12))) AS DOUBLE), 6) + 0.0 AS psi
        |  FROM j1 CROSS JOIN t1)
        |SELECT * FROM p0 UNION ALL SELECT * FROM p1 ORDER BY batch_id""".stripMargin,

    // prefix-cosine vs full-cosine gap per dim budget, decimal-summed
    "q282_matryoshka_fidelity" ->
      """WITH a AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS va FROM embeddings WHERE vec_id < 99),
        |b AS (SELECT vec_id - 1 AS vec_id, CAST(embedding AS DOUBLE[]) AS vb FROM embeddings),
        |p AS (SELECT a.vec_id, va, vb FROM a JOIN b USING (vec_id)),
        |x AS (
        |  SELECT budget,
        |    CAST(round(abs(list_cosine_similarity(va[1:budget], vb[1:budget])
        |      - list_cosine_similarity(va, vb)), 12) AS DECIMAL(28,12)) AS gap
        |  FROM p CROSS JOIN (SELECT UNNEST([8, 16, 32, 64]) AS budget))
        |SELECT budget, COUNT(*) AS n_pairs,
        |  round(CAST(sum(gap) AS DOUBLE) / COUNT(*), 6) + 0.0 AS mean_gap
        |FROM x GROUP BY budget ORDER BY budget""".stripMargin,

    // v1→v2 diff with per-row changed-column attribution
    "q284_column_diff" ->
      """WITH v1 AS (
        |  SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal,
        |    c_mktsegment AS seg
        |  FROM customer),
        |v2 AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 50 = 0 THEN bal + 100.0 ELSE bal END AS bal,
        |    CASE WHEN c_custkey % 30 = 0 THEN 'MOVED' ELSE seg END AS seg
        |  FROM v1)
        |SELECT v2.c_custkey, v2.bal, v2.seg, 'update' AS _change_type,
        |  CASE WHEN v1.bal != v2.bal AND v1.seg != v2.seg THEN 'bal,seg'
        |       WHEN v1.bal != v2.bal THEN 'bal' ELSE 'seg' END AS _changed_columns
        |FROM v1 JOIN v2 USING (c_custkey)
        |WHERE v1.bal != v2.bal OR v1.seg != v2.seg
        |ORDER BY c_custkey""".stripMargin,

    // full replay: twin construction, fold, fingerprint, join
    "q280_homoglyph_dedup" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
        |twin AS (SELECT doc_id + 1000000 AS doc_id,
        |  translate(text, 'aeopcxy', 'аеорсху') AS text FROM base),
        |ad AS (SELECT * FROM base UNION ALL SELECT * FROM twin),
        |fp AS (SELECT doc_id,
        |  md5(array_to_string(list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), '\s+'), x -> x != ''), ' ')) AS fp_plain,
        |  md5(array_to_string(list_filter(string_split_regex(trim(regexp_replace(lower(translate(text, 'аеорсхуіѕјԛԝɡАЕОРСХУІЅЈ', 'aeopcxyisjqwgAEOPCXYISJ')), '[^a-z0-9 ]', ' ', 'g')), '\s+'), x -> x != ''), ' ')) AS fp_fold
        |  FROM ad)
        |SELECT a.doc_id AS d1, b.doc_id AS d2, a.fp_plain = b.fp_plain AS plain_match
        |FROM fp a JOIN fp b ON a.fp_fold = b.fp_fold AND a.doc_id < b.doc_id
        |ORDER BY d1, d2""".stripMargin,

    // power-of-two buckets; waste = padded minus real tokens
    "q281_length_buckets" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS nt
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, nt,
        |    CASE WHEN nt <= 16 THEN 16 WHEN nt <= 32 THEN 32 WHEN nt <= 64 THEN 64
        |         WHEN nt <= 128 THEN 128 WHEN nt <= 256 THEN 256 WHEN nt <= 512 THEN 512
        |         WHEN nt <= 1024 THEN 1024 ELSE 2048 END AS bucket
        |  FROM t WHERE nt <= 2048)
        |SELECT bucket, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS sum_tokens,
        |  COUNT(*) * bucket AS padded_tokens,
        |  round(CAST(COUNT(*) * bucket - SUM(nt) AS DOUBLE) / (COUNT(*) * bucket), 6) AS waste_ratio
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    // native ASOF JOIN; matches further back than 30 min nulled out
    "q279_asof_tolerance" ->
      """WITH p AS (
        |  SELECT user_id AS p_user, ts AS p_ts, event_id AS p_event_id
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT e.event_id, e.user_id, e.ts, p.p_event_id, p.p_ts
        |  FROM events e ASOF LEFT JOIN p
        |    ON e.user_id = p.p_user AND e.ts > p.p_ts)
        |SELECT event_id, user_id, ts,
        |  CASE WHEN p_ts IS NOT NULL AND epoch_ms(ts) - epoch_ms(p_ts) <= 1800000
        |       THEN p_event_id END AS p_event_id,
        |  CASE WHEN p_ts IS NOT NULL AND epoch_ms(ts) - epoch_ms(p_ts) <= 1800000
        |       THEN p_ts END AS p_ts
        |FROM j ORDER BY event_id""".stripMargin,

    // lossless segmentation: decoded chars == whitespace-stripped lower text
    "q277_bpe_roundtrip" ->
      """SELECT doc_id,
        |  length(regexp_replace(lower(text), '\s', '', 'g')) AS n_chars,
        |  TRUE AS roundtrip_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // sketch union must land within 5% of the exact distinct count
    "q278_hll_rollup" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, TRUE AS est_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // rows appended before the column existed read it as null
    "q276_append_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey <= 10000 THEN '<pre-evolution>' ELSE o_orderstatus END AS status,
        |  COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey <= 20000
        |GROUP BY 1 ORDER BY status""".stripMargin,

    // the tokenized join must equal the raw-key join; sample_token pins
    // the surrogate bytes (sha256 hex, both engines lowercase)
    "q275_pseudonymize" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  MIN(sha256('pepper:' || CAST(c_custkey AS VARCHAR))) AS sample_token
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // hot tiers = urgent + high priorities
    "q272_dynamic_partition_pruning" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // add-1 bigram LM trained on even ids; per-doc mean transition
    // log-prob with the 12-dp decimal-sum discipline
    "q274_bigram_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x != '') AS ts
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
        |  FROM toks, UNNEST(generate_series(1, len(ts)-1)) AS g(i)),
        |tb AS (SELECT w1, w2, count(*) AS c2 FROM bg WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |t1 AS (SELECT w1, sum(c2) AS c1 FROM tb GROUP BY 1),
        |v AS (SELECT count(DISTINCT x) AS vv FROM (
        |  SELECT UNNEST(ts) AS x FROM toks WHERE doc_id % 2 = 0)),
        |sc AS (
        |  SELECT bg.doc_id,
        |    CAST(round(ln((COALESCE(c2, 0) + 1.0) / (COALESCE(c1, 0) + vv)), 12) AS DECIMAL(28,12)) AS term
        |  FROM bg LEFT JOIN tb USING (w1, w2) LEFT JOIN t1 USING (w1) CROSS JOIN v),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    round(CAST(sum(term) AS DOUBLE) / count(*), 6) + 0.0 AS avg_logprob
        |  FROM sc GROUP BY 1)
        |SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams,
        |  COALESCE(avg_logprob, 0.0) + 0.0 AS avg_logprob,
        |  (COALESCE(avg_logprob, 0.0) >= -7.5 AND COALESCE(n_bigrams, 0) >= 10) AS keep
        |FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN agg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // every planted cross-resolution twin must be recovered — a decoder,
    // resize, or hash regression loses pairs and hash-mismatches
    "q273_image_dhash_dedup" ->
      """SELECT doc_id AS d1, doc_id + 1000000 AS d2 FROM documents
        |WHERE doc_id < 150 ORDER BY d1""".stripMargin,

    // current state after the drain: latest event per user, unless that
    // latest event is an 'error' tombstone (user absent)
    "q271_streaming_cdc_deletes" ->
      """SELECT user_id, event_id, event_type, ts AS __START_AT FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,

    // seq-ordered last-write-wins; batch rows with custkey%10=0 are
    // tombstones and (being the newest write) remove their key
    "q269_sql_merge" ->
      """WITH base AS (
        |  SELECT c_custkey, c_acctbal, CAST(1 AS BIGINT) AS op_seq, 0 AS is_del
        |  FROM customer WHERE c_custkey <= 1000),
        |b AS (
        |  SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal, CAST(2 AS BIGINT) AS op_seq,
        |    CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END AS is_del
        |  FROM customer WHERE c_custkey % 2 = 0 AND c_custkey <= 1500),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM b),
        |w AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY op_seq DESC) AS rn FROM u)
        |SELECT c_custkey, c_acctbal, op_seq FROM w WHERE rn = 1 AND is_del = 0
        |ORDER BY c_custkey""".stripMargin,

    // UPDATE scales F-status prices by 1.1, DELETE drops post-update
    // rows under 1000; v1 is the untouched original (time travel)
    "q270_sql_update_delete" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey <= 20000),
        |upd AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 50.0 ELSE o_totalprice END AS o_totalprice
        |  FROM v1),
        |cur AS (SELECT * FROM upd WHERE o_totalprice >= 1000.0),
        |a AS (
        |  SELECT 'current' AS state, o_orderstatus, COUNT(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM cur GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT 'v1', o_orderstatus, COUNT(*),
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM v1 GROUP BY o_orderstatus)
        |SELECT state, o_orderstatus, n, total FROM a ORDER BY state, o_orderstatus""".stripMargin,

    // last write wins; a winning 'error' tombstone removes the key
    "q267_scd1_deletes" ->
      """SELECT user_id, event_id, ts, event_type, value FROM (
        |SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |FROM events) WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin,

    // chain over ALL events (tombstones close their predecessor), then
    // tombstone rows drop out of the visible history
    "q268_scd2_deletes" ->
      """WITH chain AS (
        |  SELECT user_id, event_id, event_type, ts AS __START_AT,
        |    LEAD(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS __END_AT
        |  FROM events)
        |SELECT user_id, event_id, event_type, __START_AT, __END_AT
        |FROM chain WHERE event_type <> 'error'
        |ORDER BY user_id, __START_AT, event_id""".stripMargin,

    // simultaneous assignment: updated o_totalprice reads the PRE-update
    // o_custkey even though o_custkey is itself assigned
    "q288_bucketed_sql_update" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderstatus = 'F' THEN o_custkey + 7 ELSE o_custkey END AS o_custkey,
        |  o_orderstatus,
        |  CASE WHEN o_orderstatus = 'F' THEN o_totalprice + o_custkey ELSE o_totalprice END AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // DELETE drops TRUE matches only; n_deleted rides along as a constant
    "q289_bucketed_sql_delete" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
        |  (SELECT COUNT(*) FROM customer WHERE c_acctbal < 0.0 OR c_mktsegment = 'BUILDING') AS n_deleted
        |FROM customer
        |WHERE NOT (c_acctbal < 0.0 OR c_mktsegment = 'BUILDING')
        |ORDER BY c_custkey""".stripMargin,

    // evolved keys (custkey%7=0) carry batch-2 values: tier present,
    // omitted c_acctbal NULL (pure last-write), op_seq 2; untouched keys
    // null-fill tier
    "q290_bucketed_evolve" ->
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS c_acctbal,
        |  CASE WHEN c_custkey % 7 = 0 THEN
        |    (CASE WHEN c_acctbal > 5000.0 THEN 'high' ELSE 'low' END) END AS tier,
        |  CAST(CASE WHEN c_custkey % 7 = 0 THEN 2 ELSE 1 END AS BIGINT) AS op_seq
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // bucketed SCD2 via SQL: q268's closed form again — storage layout
    // must not change merge semantics
    "q295_bucketed_sql_scd2" ->
      """WITH chain AS (
        |  SELECT user_id, event_id, event_type, ts AS __START_AT,
        |    LEAD(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS __END_AT
        |  FROM events)
        |SELECT user_id, event_id, event_type, __START_AT, __END_AT
        |FROM chain WHERE event_type <> 'error'
        |ORDER BY user_id, __START_AT, event_id""".stripMargin,

    "q299_pca_top2_deflation" -> pcaDeflationOracle,

    // the mirror must equal the source's final visible state: v2 applied
    // updates(+100 to %10, minus the %17 deletes), inserted %50 copies at
    // key+10M, v3 added +1 to every surviving %7 key — a crashed consumer
    // window in between must change NOTHING (exactly-once)
    "q302_cdf_exactly_once_mirror" ->
      """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |v2 AS (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal
        |  FROM base WHERE c_custkey % 17 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 10000000, c_name, c_acctbal FROM base WHERE c_custkey % 50 = 0)
        |SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 1 ELSE c_acctbal END AS c_acctbal
        |FROM v2 ORDER BY c_custkey""".stripMargin,

    // mirror after the v2 window: %19 keys deleted, surviving %13 keys
    // carry +10 — a third (replay) APPLY CHANGES must change nothing
    "q306_sql_apply_changes" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 10 ELSE o_totalprice END AS o_totalprice
        |FROM orders WHERE o_orderkey % 19 <> 0
        |ORDER BY o_orderkey""".stripMargin,

    // CTAS + MERGE increment: %9 keys carry batch-2 values; the plain
    // CTAS contributes the region count
    "q304_sql_ctas" ->
      """SELECT c_custkey, c_mktsegment,
        |  CASE WHEN c_custkey % 9 = 0 THEN c_acctbal + 7 ELSE c_acctbal END AS c_acctbal,
        |  (SELECT COUNT(*) FROM region) AS n_regions
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // same closed form as q303 — the journey differs (stats backfilled by
    // ANALYZE on a stats-less table, DML through SQL), the state must not
    "q305_sql_analyze" ->
      """SELECT c_custkey,
        |  CASE WHEN c_custkey % 100 = 0 THEN c_acctbal + 5 + 1000 ELSE c_acctbal END AS c_acctbal,
        |  CASE WHEN c_custkey % 100 = 0 THEN TIMESTAMP '2024-02-01 00:00:00'
        |       ELSE TIMESTAMP '2024-01-01 00:00:00' END AS mod_ts
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // bloom-pruned point UPDATE: the %50 keys took +5 in batch 2, then
    // exactly one name took +1000 — the discovery pruning is invisible to
    // the final state, which is what the oracle replays
    "q307_bloom_point_dml" ->
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 50 = 0 THEN c_acctbal + 5 ELSE c_acctbal END
        |    + CASE WHEN c_name = 'Customer#000000042' THEN 1000 ELSE 0 END
        |    AS c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // the point read's pruning is invisible to the final (row-filtered)
    // result; 77 % 70 ≠ 0 so the target kept its batch-1 balance
    "q309_bloom_point_read" ->
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 70 = 0 THEN c_acctbal + 3 ELSE c_acctbal END AS c_acctbal
        |FROM customer WHERE c_name = 'Customer#000000077'
        |ORDER BY c_custkey""".stripMargin,

    // SQL read skipping is invisible to the row-filtered result: range
    // rows (the +20000 hot batch) UNION ALL the point row (49 % 60 != 0,
    // base balance) — the spark side unions two SNAPSHOT reads the same way
    "q310_sql_read_skipping" ->
      """WITH v AS (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey IN (3, 4) THEN c_acctbal + 20000 ELSE c_acctbal END AS c_acctbal
        |  FROM customer)
        |SELECT * FROM (
        |  SELECT * FROM v WHERE c_acctbal >= 15000
        |  UNION ALL
        |  SELECT * FROM v WHERE c_name = 'Customer#000000049')
        |ORDER BY c_custkey""".stripMargin,

    "q311_sql_read_skipping_plain" ->
      """SELECT * FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '2001-06-01 00:00:00'
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |  FROM orders WHERE o_orderkey = 1)
        |ORDER BY o_orderkey, o_orderdate""".stripMargin,

    // the mirror after bootstrap + one append window = base dim plus the
    // appended (offset, uppercased) rows — file pruning is invisible to
    // the end state, which is what the oracle replays
    "q308_plain_append_mirror" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |UNION ALL
        |SELECT n_nationkey + 100, upper(n_name), n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin,

    // stats-pruned UPDATE: only the %100 keys were re-merged with the
    // newer mod_ts, so only they match the range predicate and take +1000
    "q303_update_stats_pruned" ->
      """SELECT c_custkey,
        |  CASE WHEN c_custkey % 100 = 0 THEN c_acctbal + 5 + 1000 ELSE c_acctbal END AS c_acctbal,
        |  CASE WHEN c_custkey % 100 = 0 THEN TIMESTAMP '2024-02-01 00:00:00'
        |       ELSE TIMESTAMP '2024-01-01 00:00:00' END AS mod_ts
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // layout facts are closed-form (data-independent)
    "q301_describe_detail" ->
      """SELECT * FROM (VALUES
        |  ('bucketed', 1, 8, 'c_custkey', CAST(NULL AS VARCHAR), 'c_acctbal', 1),
        |  ('snapshot', 1, CAST(NULL AS INT), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), 0))
        |AS t(format, version, num_buckets, bucket_keys, partition_cols,
        |     stats_cols, n_constraints)
        |ORDER BY format""".stripMargin,

    // shard-merge is invisible to the final counts (sum of shards = total),
    // so the oracle replays binning + cumulative + integer threshold direct
    "q300_histogram_quantile_rollup" ->
      """WITH b AS (
        |  SELECT event_type,
        |    CAST(LEAST(GREATEST(FLOOR(value / 5.0), 0), 127) AS INT) AS bin
        |  FROM events WHERE value IS NOT NULL),
        |counts AS (SELECT event_type, bin, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n FROM counts GROUP BY 1),
        |cum AS (SELECT event_type, bin,
        |    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum
        |  FROM counts),
        |qs AS (SELECT UNNEST([50, 95, 99]) AS pct)
        |SELECT c.event_type, CAST(pct AS BIGINT) AS pct,
        |  CAST(MIN(bin) AS DOUBLE) * CAST(5.0 AS DOUBLE) AS estimate, n
        |FROM cum c JOIN tot USING (event_type) CROSS JOIN qs
        |WHERE cum >= (pct * n + 99) // 100
        |GROUP BY c.event_type, pct, n
        |ORDER BY event_type, pct""".stripMargin,

    // three appends = UNION ALL; pre-evolution rows null-fill the evolved
    // column
    "q298_sql_insert" ->
      """SELECT rkey, name, note FROM (
        |  SELECT r_regionkey AS rkey, r_name AS name, CAST(NULL AS BIGINT) AS note FROM region
        |  UNION ALL
        |  SELECT n_nationkey + 100, n_name, NULL FROM nation
        |  UNION ALL
        |  SELECT n_nationkey + 200, n_name, CAST(n_regionkey AS BIGINT) FROM nation)
        |ORDER BY rkey""".stripMargin,

    // streamed SCD1 state = latest event per user (ts desc, event_id desc
    // tiebreak), independent of micro-batch boundaries
    "q297_bucketed_stream_cdc" ->
      """SELECT user_id, event_id, event_type, ts FROM (
        |  SELECT user_id, event_id, event_type, ts,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id""".stripMargin,

    // the derived CDF closed form: updates carry new values + attribution
    // (c_acctbal moved, and op_seq 1→2 with it), deletes old values,
    // inserts the new keys
    "q296_bucketed_change_feed" ->
      """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer)
        |SELECT c_custkey, c_name, c_acctbal + 100 AS c_acctbal,
        |  'update' AS _change_type, 'c_acctbal,op_seq' AS _changed_columns
        |FROM base WHERE c_custkey % 10 = 0 AND c_custkey % 17 <> 0
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal, 'delete', '' FROM base
        |WHERE c_custkey % 17 = 0
        |UNION ALL
        |SELECT c_custkey + 10000000, c_name, c_acctbal, 'insert', '' FROM base
        |WHERE c_custkey % 50 = 0
        |ORDER BY c_custkey, _change_type""".stripMargin,

    // the semi-join on probed keys over the bucket-pruned read
    "q294_bucketed_point_lookup" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey % 97 = 0 ORDER BY c_custkey""".stripMargin,

    // maintenance never changes visible content: current = merged state,
    // v1 = the pre-merge load; OPTIMIZE commits version 3
    "q293_bucketed_maintenance_sql" ->
      """WITH v1 AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
        |cur AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 10.0 ELSE c_acctbal END AS c_acctbal
        |  FROM v1),
        |a AS (
        |  SELECT 'current' AS state, c_mktsegment, COUNT(*) AS n,
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM cur GROUP BY c_mktsegment
        |  UNION ALL
        |  SELECT 'v1', c_mktsegment, COUNT(*),
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM v1 GROUP BY c_mktsegment)
        |SELECT state, c_mktsegment, n, total, 3 AS opt_version
        |FROM a ORDER BY state, c_mktsegment""".stripMargin,

    // q268's scenario through SQL MERGE … SCD TYPE 2 … DELETE WHEN:
    // identical closed form
    "q291_sql_scd2_merge" ->
      """WITH chain AS (
        |  SELECT user_id, event_id, event_type, ts AS __START_AT,
        |    LEAD(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS __END_AT
        |  FROM events)
        |SELECT user_id, event_id, event_type, __START_AT, __END_AT
        |FROM chain WHERE event_type <> 'error'
        |ORDER BY user_id, __START_AT, event_id""".stripMargin,

    "q18_medallion_e2e" ->
      """SELECT user_id, UPPER(event_type) AS event_type, event_id, ts, value FROM (
        |SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, UPPER(event_type) ORDER BY ts DESC, event_id DESC) AS rn
        |FROM events WHERE user_id IS NOT NULL) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,

    "q19_streaming_ingest" ->
      """SELECT event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q20_token_count" ->
      """SELECT doc_id,
        |CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t != '')) AS BIGINT) AS n_tokens,
        |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS BIGINT) AS n_tokens_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q21_text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS ntok,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','by'], x))) AS stophits,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS npunct
        |  FROM documents)
        |SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
        |  CAST(npunct AS DOUBLE) / CAST(length(text) AS DOUBLE) AS punct_ratio,
        |  CAST(stophits AS DOUBLE) / CAST(greatest(ntok, 1) AS DOUBLE) AS stopword_ratio,
        |  (CASE WHEN ntok >= 10 THEN 0.25 ELSE 0.0 END)
        |  + (CASE WHEN CAST(npunct AS DOUBLE) / CAST(length(text) AS DOUBLE) < 0.1 THEN 0.25 ELSE 0.0 END)
        |  + (CASE WHEN CAST(stophits AS DOUBLE) / CAST(greatest(ntok, 1) AS DOUBLE) > 0.02 THEN 0.25 ELSE 0.0 END)
        |  + (CASE WHEN length(regexp_replace(text, '\s+', '', 'g')) / CAST(greatest(ntok, 1) AS DOUBLE) BETWEEN 3.0 AND 10.0 THEN 0.25 ELSE 0.0 END)
        |  AS quality
        |FROM t ORDER BY doc_id""".stripMargin,

    "q22_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x != '') AS ts
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    len(list_filter(ts, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','by'], x))) AS en,
        |    len(list_filter(ts, x -> list_contains(['el','la','de','que','y','en','un','una','los','las','por','con','para','es','del'], x))) AS es,
        |    len(list_filter(ts, x -> list_contains(['der','die','das','und','in','den','von','zu','mit','sich','des','auf','ist','ein','eine'], x))) AS de
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN en >= es AND en >= de THEN 'en' WHEN es >= de THEN 'es' ELSE 'de' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin,

    "q23_fingerprint" ->
      """SELECT doc_id,
        |md5(array_to_string(list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), '\s+'), x -> x != ''), ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q24_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ts FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
        |  FROM toks, UNNEST(generate_series(1, len(ts)-2)) AS g(i)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT d1, d2, CAST(i AS DOUBLE) / CAST(c1.n + c2.n - i AS DOUBLE) AS jaccard
        |FROM inter JOIN cnt c1 ON c1.doc_id = d1 JOIN cnt c2 ON c2.doc_id = d2
        |WHERE CAST(i AS DOUBLE) / CAST(c1.n + c2.n - i AS DOUBLE) >= 0.5
        |ORDER BY d1, d2""".stripMargin,

    "q25_minhash_lsh" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ts FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
        |  FROM toks, UNNEST(generate_series(1, len(ts)-2)) AS g(i)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT d1, d2, CAST(i AS DOUBLE) / CAST(c1.n + c2.n - i AS DOUBLE) AS jaccard
        |FROM inter JOIN cnt c1 ON c1.doc_id = d1 JOIN cnt c2 ON c2.doc_id = d2
        |WHERE CAST(i AS DOUBLE) / CAST(c1.n + c2.n - i AS DOUBLE) >= 0.5
        |ORDER BY d1, d2""".stripMargin,

    "q26_embedding_knn" ->
      """SELECT query_id, neighbor_id, cos FROM (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos,
        |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rn
        |  FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
        |  WHERE a.vec_id < 100)
        |WHERE rn = 1 ORDER BY query_id""".stripMargin,

    "q27_embedding_dedup" ->
      """SELECT a.vec_id AS d1, b.vec_id AS d2,
        |ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.45
        |ORDER BY d1, d2""".stripMargin,

    "q28_multimodal_features" ->
      """SELECT doc_id,
        |CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |md5(text) AS digest,
        |'text' AS kind,
        |CAST((CAST(ceil(octet_length(CAST(text AS BLOB)) / 100.0) AS BIGINT) + 1) // 2 AS BIGINT) AS n_frames_sampled
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Closed-form SimHash replay (md5-portable token hash): per token the
    // first 16 md5 hex chars are the 64-bit hash (lo = chars 1-8, hi =
    // chars 9-16, big-endian per chunk); bit i lives in hex digit
    // 8 - (i%32)/4 of its chunk at in-digit position i%4. Sign-summed
    // votes per (doc, bit) rebuild the exact simhash BIGINT.
    "q29_simhash_groups" ->
      (simhashOracleCte +
        """SELECT simhash, MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
          |FROM sh GROUP BY simhash ORDER BY canonical_id""".stripMargin),

    // Pair form: radius 3 < bands 4 makes the banded LSH output EQUAL to
    // the all-pairs Hamming filter, which DuckDB computes directly.
    "q69_simhash_pairs" ->
      (simhashOracleCte +
        """SELECT a.doc_id AS d1, b.doc_id AS d2,
          |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
          |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
          |ORDER BY d1, d2""".stripMargin),

    // BPE merge training replayed in closed form: 12 unrolled greedy
    // rounds over the word-frequency table. Token arrays are encoded as
    // chr(1)-delimited strings (chr(1) never occurs in the corpus) with
    // DOUBLE delimiters between tokens and single at the ends, so the
    // non-overlapping left-to-right replace() of '\1l\1\1r\1' with
    // '\1lr\1' is exactly the greedy left-to-right BPE fold ("aaaa" +
    // (a,a) -> [aa,aa]), boundary-safe against token-substring collisions.
    "q183_bpe_merges" ->
      (bpeOracleRounds(12) +
        "\nSELECT * FROM (" +
        (1 to 12).map(i =>
          s"""SELECT $i AS step, l AS "left", r AS "right", freq FROM m$i""")
          .mkString("\nUNION ALL ") +
        ") ORDER BY step"),

    // BPE inference: the merged vocabulary's per-word token counts joined
    // back onto the word-exploded documents (the same hash-probe shape the
    // Spark encode uses).
    "q194_bpe_encode" ->
      (bpeOracleRounds(12) +
        """,
          |wc AS MATERIALIZED (
          |  SELECT w, len(string_split(substr(s, 2, length(s) - 2), chr(1)||chr(1))) AS ntoks
          |  FROM w12)
          |SELECT d.doc_id AS id, CAST(SUM(wc.ntoks) AS INTEGER) AS n_tokens
          |FROM (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x != '')) AS w
          |      FROM documents) d
          |JOIN wc USING (w)
          |GROUP BY d.doc_id ORDER BY id""".stripMargin),

    // identical expected result to q194 — the scale path must match the
    // reference path bit-for-bit at full vocabCap
    "q240_bpe_encode_scale" ->
      (bpeOracleRounds(12) +
        """,
          |wc AS MATERIALIZED (
          |  SELECT w, len(string_split(substr(s, 2, length(s) - 2), chr(1)||chr(1))) AS ntoks
          |  FROM w12)
          |SELECT d.doc_id AS id, CAST(SUM(wc.ntoks) AS INTEGER) AS n_tokens
          |FROM (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x != '')) AS w
          |      FROM documents) d
          |JOIN wc USING (w)
          |GROUP BY d.doc_id ORDER BY id""".stripMargin),

    "q225_jdbc_incremental" ->
      """SELECT event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events
        |WHERE event_id % 37 = 0 AND ts > TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q227_zorder_skipping" ->
      """SELECT dim, n, total FROM (
        |  SELECT 'user_slice' AS dim, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM events WHERE user_id BETWEEN 100 AND 199
        |  UNION ALL
        |  SELECT 'value_slice' AS dim, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM events WHERE value BETWEEN 400.0 AND 500.0)
        |ORDER BY dim""".stripMargin,

    "q228_append_compact" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // planted near-dups collapse onto their originals → kept = the corpus
    "q229_semantic_dedup" ->
      "SELECT vec_id FROM embeddings ORDER BY vec_id",

    "q230_stream_snapshot_sink" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q231_sql_maintenance" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // versions = runs of equal event_type per user (value untracked):
    // flag run starts null-safely, running-sum into group ids, collapse
    // each group to (min ts, latest value/ts), then LEAD the chain.
    "q235_scd2_except" ->
      """WITH flagged AS (
        |  SELECT user_id, event_type, value, ts,
        |    CASE WHEN ROW_NUMBER() OVER w = 1
        |      OR event_type IS DISTINCT FROM LAG(event_type) OVER w
        |      THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |grouped AS (
        |  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM flagged),
        |collapsed AS (
        |  SELECT user_id, arg_max(event_type, ts) AS event_type,
        |    arg_max(value, ts) AS value, MAX(ts) AS ts, MIN(ts) AS __START_AT
        |  FROM grouped GROUP BY user_id, grp)
        |SELECT user_id, event_type, value, ts, __START_AT,
        |  LEAD(__START_AT) OVER (PARTITION BY user_id ORDER BY __START_AT) AS __END_AT
        |FROM collapsed ORDER BY user_id, __START_AT""".stripMargin,

    "q234_video_frames" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id, CAST(4 + doc_id % 3 AS INT) AS nf FROM documents),
        |f AS (SELECT doc_id, unnest(range(0, nf)) AS i FROM d)
        |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        |  round(((doc_id*7 + i*31) % 256) / 255.0, 6) AS mean_luma,
        |  TRUE AS is_real
        |FROM f WHERE i % 2 = 0 ORDER BY doc_id, frame_idx""".stripMargin,

    "q233_jdbc_publish" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // replays the synthetic PCM16 signal sample by sample (integer math)
    "q232_audio_decode" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id, CAST(800 + (doc_id % 5) * 80 AS INT) AS n FROM documents),
        |s AS MATERIALIZED (SELECT doc_id, n, unnest(range(0, n)) AS i FROM d),
        |s2 AS MATERIALIZED (
        |  SELECT doc_id, n, i, ((doc_id*31 + i*7919) % 20001) - 10000 AS smp FROM s),
        |s3 AS MATERIALIZED (
        |  SELECT doc_id, n, smp, lag(smp) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM s2)
        |SELECT doc_id, 8000 AS sample_rate, 1 AS channels, any_value(n) AS n_frames,
        |  CAST(any_value(n) * 1000 / 8000 AS BIGINT) AS duration_ms,
        |  CAST(MAX(ABS(smp)) AS INT) AS peak_abs,
        |  CAST(SUM(smp*smp) AS BIGINT) AS sum_sq,
        |  CAST(COALESCE(SUM(CASE WHEN (smp<0) != (prev<0) THEN 1 ELSE 0 END),0) AS BIGINT) AS zero_crossings
        |FROM s3 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // DuckDB index lambdas are 1-based (Spark's are 0-based): (i - 1).
    "q226_embedding_neardup_lsh" ->
      """WITH base AS MATERIALIZED (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |pert AS MATERIALIZED (
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_transform(v, (x, i) -> x * (1 + (((vec_id + i - 1) % 7) - 3) * 0.0002)) AS v
        |  FROM base WHERE vec_id < 100),
        |u AS MATERIALIZED (SELECT * FROM base UNION ALL SELECT * FROM pert)
        |SELECT a.vec_id AS d1, b.vec_id AS d2,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS cos
        |FROM u a JOIN u b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.99
        |ORDER BY d1, d2""".stripMargin,

    // ── ANN family: planted ground truth (see plantedAnnCorpus). The
    //    planted same-direction copy at vec_id+1000000 is provably the
    //    top-1 neighbor of every query at cosine exactly 1 (scale
    //    invariance), so the expected result needs no similarity search
    //    at all — just the closed-form row per query.
    "q30_ann_lsh" ->
      """SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id,
        |  CAST(1 AS DOUBLE) AS cos
        |FROM embeddings WHERE vec_id < 100 ORDER BY query_id""".stripMargin,

    "q43_ann_ivf" ->
      """SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id,
        |  CAST(1 AS DOUBLE) AS cos
        |FROM embeddings WHERE vec_id < 100 ORDER BY query_id""".stripMargin,

    "q61_ann_ivf_kmeans" ->
      """SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id,
        |  CAST(1 AS DOUBLE) AS cos
        |FROM embeddings WHERE vec_id < 100 ORDER BY query_id""".stripMargin,

    "q93_vector_index" ->
      """SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id,
        |  CAST(1 AS DOUBLE) AS cos
        |FROM embeddings WHERE vec_id < 100 ORDER BY query_id""".stripMargin,

    "q146_ann_pq" ->
      """SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id,
        |  CAST(1 AS DOUBLE) AS score
        |FROM embeddings WHERE vec_id < 100 ORDER BY query_id""".stripMargin,

    "q222_lsh_multiprobe" ->
      """SELECT COUNT(*) AS n_queries, COUNT(*) AS single_hits,
        |  COUNT(*) AS multi_hits, TRUE AS multi_ge_single
        |FROM embeddings WHERE vec_id < 100""".stripMargin,

    // ── Sketch family: error-bound verdicts — exact counts from DuckDB,
    //    booleans assert the sketch landed within its published error.
    "q55_sketches" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS users_ok, TRUE AS p50_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q138_sketch_merge" ->
      """SELECT source, COUNT(DISTINCT doc_id) AS exact_docs,
        |  COUNT(*) AS n_docs, TRUE AS est_ok
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q223_int8_quantization" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        |  FROM embeddings),
        |e AS (
        |  SELECT vec_id, scale,
        |    CASE WHEN scale = 0 THEN list_transform(v, x -> abs(x))
        |         ELSE list_transform(v, x -> abs(x - round(x / scale) * scale)) END AS errs
        |  FROM q)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  round(list_max(errs), 6) AS max_err,
        |  round(sqrt(list_sum(list_transform(errs, x -> x * x)) / len(errs)), 6) AS rms_err
        |FROM e ORDER BY vec_id""".stripMargin,

    "q224_bigram_loglik" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, unnest(ts) AS tok, unnest(range(1, len(ts) + 1)) AS pos
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x != '') AS ts
        |        FROM documents)),
        |bg AS MATERIALIZED (
        |  SELECT doc_id, lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev, tok
        |  FROM toks QUALIFY prev IS NOT NULL),
        |uni AS MATERIALIZED (SELECT tok AS prev, count(*) AS cw FROM toks GROUP BY 1),
        |big AS MATERIALIZED (SELECT prev, tok, count(*) AS cww FROM bg GROUP BY 1, 2),
        |vv AS (SELECT count(DISTINCT tok) AS v FROM toks)
        |SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(avg(ln((cww + 1) / CAST(cw + vv.v AS DOUBLE))), 6) AS mean_loglik
        |FROM bg JOIN big USING (prev, tok) JOIN uni USING (prev) CROSS JOIN vv
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q31_multimodal_decode" ->
      """SELECT doc_id,
        |CAST(8 + doc_id % 17 AS BIGINT) AS width,
        |CAST(8 + doc_id % 13 AS BIGINT) AS height,
        |round((doc_id % 256) / 255.0, 6) AS mean_luma,
        |TRUE AS is_real
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q220_multimodal_resize" ->
      """SELECT doc_id,
        |CAST(8 AS BIGINT) AS width,
        |CAST(8 AS BIGINT) AS height,
        |round((doc_id % 256) / 255.0, 6) AS mean_luma,
        |TRUE AS is_real
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q241_multimodal_jpeg" ->
      """SELECT doc_id,
        |CAST(8 + doc_id % 9 AS BIGINT) AS width,
        |CAST(8 + doc_id % 7 AS BIGINT) AS height,
        |TRUE AS luma_ok,
        |TRUE AS is_real
        |FROM documents ORDER BY doc_id""".stripMargin,

    // checkerboard: ⌈wh/2⌉ pixels of g1 (even x+y parity), ⌊wh/2⌋ of g2.
    "q239_multimodal_png" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    9 + doc_id % 11 AS w, 7 + doc_id % 5 AS h,
        |    doc_id % 256 AS g1, (doc_id * 7 + 13) % 256 AS g2
        |  FROM documents)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  round(((w*h+1)//2 * g1 + (w*h)//2 * g2) / (255.0 * w * h), 6) AS mean_luma,
        |  TRUE AS is_real
        |FROM f ORDER BY doc_id""".stripMargin,

    "q238_silver_only_dim" ->
      """SELECT UPPER(event_type) AS event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  TRUE AS gold_absent
        |FROM events GROUP BY UPPER(event_type) ORDER BY event_type""".stripMargin,

    // exact replay: duplicated 40-gram positions → islands → interval
    // union; identical run/merge rules to SubstringDedup.duplicatedSpans.
    "q242_substring_dedup" ->
      """WITH g AS (
        |  SELECT doc_id, i, substr(text, i, 40) AS gram
        |  FROM documents, UNNEST(generate_series(1, length(text) - 39)) AS t(i)
        |  WHERE length(text) >= 40),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |dp AS (SELECT doc_id, i FROM g JOIN dup USING (gram)),
        |runs AS (
        |  SELECT doc_id, min(i) AS s, max(i) + 39 AS e
        |  FROM (SELECT doc_id, i,
        |          i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |        FROM dp)
        |  GROUP BY doc_id, grp),
        |m AS (
        |  SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM runs),
        |mg AS (
        |  SELECT doc_id, s, e,
        |    SUM(CASE WHEN pme IS NULL OR s > pme + 1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY s, e) AS mgrp
        |  FROM m),
        |merged AS (SELECT doc_id, min(s) AS ms, max(e) AS me
        |           FROM mg GROUP BY doc_id, mgrp),
        |agg AS (
        |  SELECT doc_id, CAST(SUM(me - ms + 1) AS BIGINT) AS dup_chars,
        |    CAST(MAX(me - ms + 1) AS BIGINT) AS max_span
        |  FROM merged GROUP BY doc_id)
        |SELECT a.doc_id, dup_chars, max_span,
        |  round(CAST(dup_chars AS DOUBLE) / length(d.text), 6) AS dup_frac
        |FROM agg a JOIN documents d USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // BM25 leg = q145's CTEs; cosine leg vs vec_id 0; RRF 1/(60+rank).
    "q243_hybrid_rrf" ->
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS w
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs,
        |  CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
        |  WHERE w IN ('spark', 'merge', 'window') GROUP BY 1, 2),
        |dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |contrib AS (
        |  SELECT tf.doc_id,
        |    CAST(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2) /
        |      (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS DECIMAL(18,9)) AS c
        |  FROM tf JOIN dfreq USING (w) JOIN dl USING (doc_id) CROSS JOIN stats),
        |bm AS (SELECT doc_id, ROUND(CAST(SUM(c) AS DOUBLE), 6) AS score
        |       FROM contrib GROUP BY 1),
        |lex AS (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r
        |  FROM bm ORDER BY score DESC, doc_id LIMIT 50),
        |cs AS (SELECT vec_id,
        |    round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |      (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos
        |  FROM embeddings),
        |vec AS (SELECT vec_id,
        |    CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS r
        |  FROM cs ORDER BY cos DESC, vec_id LIMIT 50),
        |u AS (SELECT doc_id AS id, CAST(1.0 AS DOUBLE) / (60 + r) AS contrib FROM lex
        |      UNION ALL
        |      SELECT vec_id, CAST(1.0 AS DOUBLE) / (60 + r) FROM vec)
        |SELECT id AS doc_id, round(SUM(contrib), 6) AS rrf,
        |  CAST(count(*) AS BIGINT) AS n_legs
        |FROM u GROUP BY 1 ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,

    // same portable LCG permutation — no engine hash anywhere
    "q244_corpus_shards" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS nt,
        |    (doc_id * 1103515245 + 12345) % 2147483648 AS pk
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, nt, pk, pk % 8 AS shard_id,
        |    row_number() OVER (PARTITION BY pk % 8 ORDER BY pk, doc_id) AS pos
        |  FROM t)
        |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  string_agg(CASE WHEN pos <= 3 THEN CAST(doc_id AS VARCHAR) END,
        |             ',' ORDER BY pos) AS head_docs
        |FROM p GROUP BY shard_id ORDER BY shard_id""".stripMargin,

    "q245_inverted_index" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ts
        |  FROM documents),
        |bg AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] AS term
        |  FROM toks, UNNEST(generate_series(1, len(ts)-1)) AS g(i)),
        |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM bg GROUP BY 1),
        |k AS (SELECT term, df FROM d WHERE df BETWEEN 2 AND 8)
        |SELECT k.term, k.df,
        |  array_to_string(list_sort(list(bg.doc_id)), ',') AS postings
        |FROM bg JOIN k USING (term)
        |GROUP BY k.term, k.df
        |ORDER BY k.term""".stripMargin,

    "q246_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT UNNEST(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS w
        |  FROM documents),
        |c AS (SELECT w, CAST(count(*) AS BIGINT) AS n_exact FROM toks GROUP BY 1)
        |SELECT w, n_exact, TRUE AS cms_ok FROM c
        |ORDER BY n_exact DESC, w LIMIT 10""".stripMargin,

    // exact-span replay (q242's machinery); the winnowing guarantee is the
    // hashed TRUE verdict for every doc with a span ≥ w+L−1
    "q248_winnowed_dedup" ->
      """WITH g AS (
        |  SELECT doc_id, i, substr(text, i, 40) AS gram
        |  FROM documents, UNNEST(generate_series(1, length(text) - 39)) AS t(i)
        |  WHERE length(text) >= 40),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |dp AS (SELECT doc_id, i FROM g JOIN dup USING (gram)),
        |runs AS (
        |  SELECT doc_id, min(i) AS s, max(i) + 39 AS e
        |  FROM (SELECT doc_id, i,
        |          i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |        FROM dp)
        |  GROUP BY doc_id, grp),
        |m AS (
        |  SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM runs),
        |mg AS (
        |  SELECT doc_id, s, e,
        |    SUM(CASE WHEN pme IS NULL OR s > pme + 1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY s, e) AS mgrp
        |  FROM m),
        |merged AS (SELECT doc_id, min(s) AS ms, max(e) AS me
        |           FROM mg GROUP BY doc_id, mgrp),
        |agg AS (
        |  SELECT doc_id, CAST(MAX(me - ms + 1) AS BIGINT) AS max_span
        |  FROM merged GROUP BY doc_id)
        |SELECT doc_id, max_span, TRUE AS detected
        |FROM agg WHERE max_span >= 49 ORDER BY doc_id""".stripMargin,

    // q242's span machinery, asymmetric: match set = benchmark grams
    "q247_span_decontamination" ->
      """WITH g AS (
        |  SELECT doc_id, source, i, substr(text, i, 40) AS gram
        |  FROM documents, UNNEST(generate_series(1, length(text) - 39)) AS t(i)
        |  WHERE length(text) >= 40),
        |bg AS (SELECT DISTINCT gram FROM g
        |       WHERE source IN ('src0','src1','src2','src3','src4')),
        |tp AS (SELECT doc_id, i FROM g JOIN bg USING (gram)
        |       WHERE source NOT IN ('src0','src1','src2','src3','src4')),
        |runs AS (
        |  SELECT doc_id, min(i) AS s, max(i) + 39 AS e
        |  FROM (SELECT doc_id, i,
        |          i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |        FROM tp)
        |  GROUP BY doc_id, grp),
        |m AS (
        |  SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM runs),
        |mg AS (
        |  SELECT doc_id, s, e,
        |    SUM(CASE WHEN pme IS NULL OR s > pme + 1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY s, e) AS mgrp
        |  FROM m),
        |merged AS (SELECT doc_id, min(s) AS ms, max(e) AS me
        |           FROM mg GROUP BY doc_id, mgrp),
        |agg AS (
        |  SELECT doc_id, CAST(SUM(me - ms + 1) AS BIGINT) AS contaminated_chars,
        |    CAST(MAX(me - ms + 1) AS BIGINT) AS max_span
        |  FROM merged GROUP BY doc_id)
        |SELECT a.doc_id, contaminated_chars, max_span,
        |  round(CAST(contaminated_chars AS DOUBLE) / length(d.text), 6) AS contaminated_frac
        |FROM agg a JOIN documents d USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // segment = aligned 4-word window; dup = >1 distinct docs; keeper =
    // lexicographic min (doc_id, seg_idx); rebuilt text md5'd
    "q249_segment_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ts
        |  FROM documents),
        |segs AS (
        |  SELECT doc_id, i AS seg_idx,
        |    array_to_string(list_slice(ts, (i-1)*4+1, i*4), ' ') AS seg
        |  FROM t, UNNEST(generate_series(1, CAST(ceil(len(ts)/4.0) AS BIGINT))) AS g(i)),
        |dup AS (SELECT seg FROM segs GROUP BY seg HAVING count(DISTINCT doc_id) > 1),
        |keep AS (
        |  SELECT seg, doc_id AS keep_id, seg_idx AS keep_seg_idx
        |  FROM (SELECT s.seg, s.doc_id, s.seg_idx,
        |          row_number() OVER (PARTITION BY s.seg ORDER BY s.doc_id, s.seg_idx) AS rn
        |        FROM segs s JOIN dup USING (seg))
        |  WHERE rn = 1),
        |f AS (
        |  SELECT s.doc_id, s.seg_idx, s.seg,
        |    CASE WHEN k.keep_id IS NOT NULL
        |           AND NOT (s.doc_id = k.keep_id AND s.seg_idx = k.keep_seg_idx)
        |         THEN 1 ELSE 0 END AS drp
        |  FROM segs s LEFT JOIN keep k USING (seg))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
        |  CAST(sum(drp) AS BIGINT) AS n_dropped,
        |  md5(coalesce(string_agg(CASE WHEN drp = 0 THEN seg END, ' ' ORDER BY seg_idx), '')) AS kept_md5,
        |  CAST(length(coalesce(string_agg(CASE WHEN drp = 0 THEN seg END, ' ' ORDER BY seg_idx), '')) AS BIGINT) AS kept_chars
        |FROM f GROUP BY doc_id HAVING sum(drp) > 0 ORDER BY doc_id""".stripMargin,

    // add-1-smoothed multinomial NB; per-term DECIMAL(18,9) casts make the
    // log-lik sum order-independent, so the argmax is engine-portable
    "q250_nb_classifier" ->
      """WITH d AS (
        |  SELECT doc_id, lang, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ts
        |  FROM documents),
        |tr AS (SELECT * FROM d WHERE doc_id % 5 != 0),
        |te AS (SELECT * FROM d WHERE doc_id % 5 = 0),
        |trt AS (SELECT lang AS lab, UNNEST(ts) AS tok FROM tr),
        |ctok AS (SELECT lab, tok, count(*) AS ctok FROM trt GROUP BY 1, 2),
        |mass AS (SELECT lab, count(*) AS nl FROM trt GROUP BY 1),
        |voc AS (SELECT count(DISTINCT tok) AS v FROM trt),
        |pri AS (SELECT lang AS lab,
        |    ln(CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM tr)) AS lprior
        |  FROM tr GROUP BY 1),
        |tet AS (SELECT doc_id, tok, count(*) AS m
        |        FROM (SELECT doc_id, UNNEST(ts) AS tok FROM te) GROUP BY 1, 2),
        |terms AS (
        |  SELECT tet.doc_id, mass.lab,
        |    CAST(CAST(m AS DOUBLE) *
        |      ln(CAST(COALESCE(ctok, 0) + 1 AS DOUBLE) / CAST(nl + v AS DOUBLE))
        |      AS DECIMAL(18,9)) AS term
        |  FROM tet CROSS JOIN mass
        |  LEFT JOIN ctok ON ctok.lab = mass.lab AND ctok.tok = tet.tok
        |  CROSS JOIN voc),
        |sc AS (
        |  SELECT doc_id, lab,
        |    round(CAST(SUM(term) AS DOUBLE) +
        |      CAST(CAST(lprior AS DECIMAL(18,9)) AS DOUBLE), 6) AS score
        |  FROM terms JOIN pri USING (lab) GROUP BY doc_id, lab, lprior),
        |rk AS (SELECT doc_id, lab, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lab) AS rn
        |  FROM sc)
        |SELECT r.doc_id, r.lab AS pred, r.score, (r.lab = te.lang) AS correct
        |FROM rk r JOIN te ON te.doc_id = r.doc_id
        |WHERE rn = 1 ORDER BY r.doc_id""".stripMargin,

    // target LM = zh slice, raw LM = whole corpus; weight = mean per-token
    // ln ratio with add-1 smoothing over the union vocabulary
    "q251_dsir_selection" ->
      """WITH d AS (
        |  SELECT doc_id, lang, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ts
        |  FROM documents),
        |rt AS (SELECT doc_id, UNNEST(ts) AS tok FROM d),
        |tt AS (SELECT UNNEST(ts) AS tok FROM d WHERE lang = 'zh'),
        |cr AS (SELECT tok, count(*) AS c_raw FROM rt GROUP BY 1),
        |ct AS (SELECT tok, count(*) AS c_tgt FROM tt GROUP BY 1),
        |lm AS (
        |  SELECT COALESCE(cr.tok, ct.tok) AS tok,
        |    COALESCE(c_raw, 0) AS c_raw, COALESCE(c_tgt, 0) AS c_tgt
        |  FROM cr FULL OUTER JOIN ct ON cr.tok = ct.tok),
        |s AS (SELECT SUM(c_raw) AS n_raw, SUM(c_tgt) AS n_tgt, count(*) AS v FROM lm),
        |m AS (SELECT doc_id, tok, count(*) AS m FROM rt GROUP BY 1, 2),
        |terms AS (
        |  SELECT doc_id, m,
        |    CAST(CAST(m AS DOUBLE) * ln(
        |      (CAST(c_tgt + 1 AS DOUBLE) / CAST(n_tgt + v AS DOUBLE)) /
        |      (CAST(c_raw + 1 AS DOUBLE) / CAST(n_raw + v AS DOUBLE)))
        |      AS DECIMAL(18,9)) AS term
        |  FROM m JOIN lm USING (tok) CROSS JOIN s),
        |w AS (
        |  SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_toks,
        |    round(CAST(SUM(term) AS DOUBLE) / SUM(m), 6) AS weight
        |  FROM terms GROUP BY 1)
        |SELECT doc_id, n_toks, weight FROM w
        |ORDER BY weight DESC, doc_id LIMIT 50""".stripMargin,

    // share ∝ decimal-summed q163 model score; epochs = min(3, share·B/T_s)
    // derived from the ROUNDED share so both engines agree bit-for-bit
    "q252_mixture_planner" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS ntok,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','by'], x))) AS stophits,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS npunct,
        |    length(text) AS nch
        |  FROM documents),
        |sc AS (
        |  SELECT source, ntok,
        |    round(1.0 / (1.0 + exp(-(-1.5
        |      + 0.02 * CAST(ntok AS DOUBLE)
        |      + 8.0 * (CAST(stophits AS DOUBLE) / CAST(greatest(ntok, 1) AS DOUBLE))
        |      + (-6.0) * (CAST(npunct AS DOUBLE) / CAST(nch AS DOUBLE))))), 6) AS score
        |  FROM t),
        |per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(ntok) AS BIGINT) AS n_tokens,
        |    SUM(CAST(score AS DECIMAL(18,6))) AS qsum
        |  FROM sc GROUP BY 1),
        |tot AS (SELECT SUM(qsum) AS qtot FROM per),
        |b AS (
        |  SELECT source, n_docs, n_tokens,
        |    round(CAST(qsum AS DOUBLE) / CAST(qtot AS DOUBLE), 6) AS share
        |  FROM per CROSS JOIN tot),
        |e AS (SELECT *, round(least(3.0, share * 200000.0 / n_tokens), 6) AS epochs FROM b)
        |SELECT source, n_docs, n_tokens, share, epochs,
        |  CAST(floor(epochs * n_tokens) AS BIGINT) AS planned_tokens
        |FROM e ORDER BY source""".stripMargin,

    // unrolled replay of the row-local rolling-hash fold (same mod
    // placement per step), boundaries → chunks via lag + trailing piece
    "q257_cdc_chunk_dedup" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |cuts AS (
        |  SELECT doc_id, i FROM d, UNNEST(generate_series(8, n)) AS t(i)
        |  WHERE n >= 8 AND (((((((((((((((CAST(ascii(substr(text, i-7, 1)) AS BIGINT))*257 + ascii(substr(text, i-6, 1))) % 1000000007)*257 + ascii(substr(text, i-5, 1))) % 1000000007)*257 + ascii(substr(text, i-4, 1))) % 1000000007)*257 + ascii(substr(text, i-3, 1))) % 1000000007)*257 + ascii(substr(text, i-2, 1))) % 1000000007)*257 + ascii(substr(text, i-1, 1))) % 1000000007)*257 + ascii(substr(text, i-0, 1))) % 1000000007) % 32 = 0),
        |c AS (SELECT doc_id, i AS e, lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS pe
        |      FROM cuts),
        |chunkrows AS (
        |  SELECT c.doc_id, substr(text, COALESCE(pe, 0) + 1, e - COALESCE(pe, 0)) AS chunk
        |  FROM c JOIN d USING (doc_id)
        |  UNION ALL
        |  SELECT l.doc_id, substr(text, lc + 1, n - lc)
        |  FROM (SELECT doc_id, max(i) AS lc FROM cuts GROUP BY 1) l
        |  JOIN d USING (doc_id) WHERE n > lc
        |  UNION ALL
        |  SELECT doc_id, text FROM d
        |  WHERE doc_id NOT IN (SELECT doc_id FROM cuts) AND n > 0),
        |dup AS (SELECT chunk FROM chunkrows GROUP BY chunk
        |        HAVING count(DISTINCT doc_id) > 1)
        |SELECT cr.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN dup.chunk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
        |  CAST(sum(CASE WHEN dup.chunk IS NOT NULL THEN length(cr.chunk) ELSE 0 END) AS BIGINT) AS dup_chars
        |FROM chunkrows cr LEFT JOIN dup ON cr.chunk = dup.chunk
        |GROUP BY cr.doc_id HAVING n_dup_chunks > 0 ORDER BY cr.doc_id""".stripMargin,

    // every (w,h,g) class is a singleton (37 is invertible mod 256, so g
    // is distinct per doc) → exactly the planted BMP↔PNG twins pair up
    "q256_image_dedup" ->
      """SELECT doc_id AS bmp_id, doc_id + 1000000 AS png_id,
        |  CAST(8 + doc_id % 5 AS BIGINT) AS width,
        |  CAST(8 + doc_id % 3 AS BIGINT) AS height,
        |  round((doc_id * 37 % 256) / 255.0, 6) AS luma
        |FROM documents WHERE doc_id < 200 ORDER BY bmp_id""".stripMargin,

    // relational replay of the row-local projection: same LCG signs, same
    // 6-dp decimal quantization, order-free decimal sum per (vec, jo)
    "q255_jl_projection" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cells AS (
        |  SELECT vec_id, i - 1 AS ji, v[i] AS x
        |  FROM e, UNNEST(generate_series(1, 64)) AS t(i)),
        |dims AS (
        |  SELECT a.g - 1 AS ji, b.g - 1 AS jo, (a.g - 1) * 16 + (b.g - 1) + 1 AS k
        |  FROM UNNEST(generate_series(1, 64)) AS a(g),
        |       UNNEST(generate_series(1, 16)) AS b(g)),
        |s1 AS (SELECT ji, jo, xor(k, k >> 16) AS h FROM dims),
        |s2 AS (SELECT ji, jo,
        |    xor((h * 73244475) % 4294967296, ((h * 73244475) % 4294967296) >> 16) AS h FROM s1),
        |s3 AS (SELECT ji, jo,
        |    xor((h * 73244475) % 4294967296, ((h * 73244475) % 4294967296) >> 16) AS h FROM s2),
        |sg AS (SELECT ji, jo, CASE WHEN h % 2 = 0 THEN 1 ELSE -1 END AS sgn FROM s3),
        |proj AS (
        |  SELECT vec_id, jo,
        |    CAST(SUM(CAST(round(x, 6) AS DECIMAL(20,6)) * sgn) AS DOUBLE) / 4.0 AS y
        |  FROM cells JOIN sg USING (ji)
        |  GROUP BY 1, 2),
        |pv AS (SELECT vec_id, list(y ORDER BY jo) AS y FROM proj GROUP BY 1),
        |sc AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    list_cosine_similarity(a.y, b.y) AS cosp
        |  FROM pv a JOIN pv b ON a.vec_id < 5 AND a.vec_id != b.vec_id),
        |rk AS (
        |  SELECT query_id, neighbor_id, cosp,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosp DESC, neighbor_id) AS rank
        |  FROM sc)
        |SELECT r.query_id, CAST(r.rank AS BIGINT) AS rank, r.neighbor_id,
        |  round(r.cosp, 6) AS cos_proj,
        |  round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_exact
        |FROM rk r JOIN e ea ON ea.vec_id = r.query_id
        |          JOIN e eb ON eb.vec_id = r.neighbor_id
        |WHERE r.rank <= 3 ORDER BY r.query_id, r.rank""".stripMargin,

    // pow results decimal-cast before the normalizing sum (order-free)
    "q254_temperature_mixture" ->
      """WITH per AS (
        |  SELECT lang,
        |    CAST(SUM(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT SUM(n_tokens) AS t_all FROM per),
        |raw AS (
        |  SELECT lang, n_tokens,
        |    CAST(n_tokens AS DOUBLE) / CAST(t_all AS DOUBLE) AS p,
        |    CAST(pow(CAST(n_tokens AS DOUBLE) / CAST(t_all AS DOUBLE), 0.2)
        |      AS DECIMAL(18,9)) AS w
        |  FROM per CROSS JOIN tot),
        |wt AS (SELECT SUM(w) AS w_all FROM raw)
        |SELECT lang, n_tokens, round(p, 6) AS p_raw,
        |  round(CAST(w AS DOUBLE) / CAST(w_all AS DOUBLE), 6) AS p_temp
        |FROM raw CROSS JOIN wt ORDER BY lang""".stripMargin,

    // q80's recursive-CTE closure for the clusters; singleton docs are
    // their own group; split = LCG(group) mod 10 (q244's permutation)
    "q253_leakage_safe_split" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ts FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
        |  FROM toks, UNNEST(generate_series(1, len(ts)-2)) AS g(i)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1, d2 FROM inter JOIN cnt c1 ON c1.doc_id = d1 JOIN cnt c2 ON c2.doc_id = d2
        |  WHERE CAST(i AS DOUBLE) / CAST(c1.n + c2.n - i AS DOUBLE) >= 0.5),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
        |reach AS (
        |  SELECT a AS id, b AS r FROM edges
        |  UNION
        |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
        |cl AS (SELECT id AS doc_id, LEAST(id, MIN(r)) AS cluster_id
        |       FROM reach GROUP BY id),
        |g AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS group_id
        |      FROM documents d LEFT JOIN cl USING (doc_id))
        |SELECT doc_id, group_id,
        |  CASE WHEN ((group_id * 1103515245 + 12345) % 2147483648) % 10 = 0
        |       THEN 'test' ELSE 'train' END AS split
        |FROM g ORDER BY doc_id""".stripMargin,

    "q32_udf_distance" ->
      """SELECT event_id, value * 1.60934 AS km_expr, value * 1.60934 AS km_udf
        |FROM events ORDER BY event_id""".stripMargin,

    "q33_tumbling_window" ->
      """SELECT date_trunc('day', ts) AS w_start, event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    "q34_session_window" ->
      """WITH x AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |y AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM x)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS session_end, COUNT(*) AS n
        |FROM y GROUP BY user_id, sess ORDER BY user_id, session_start""".stripMargin,

    "q35_sql_facade" ->
      """SELECT o_orderpriority, count(DISTINCT o_orderkey) AS n_orders
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate > o_orderdate
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q36_salted_join" ->
      """SELECT e.user_id, COUNT(*) AS n, MAX(d.last_seen) AS last_seen
        |FROM events e JOIN (SELECT user_id, MAX(ts) AS last_seen FROM events GROUP BY 1) d
        |  ON e.user_id = d.user_id
        |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin,

    "q37_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin,

    "q38_partitioned_write" ->
      """SELECT user_id, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q39_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |COALESCE(l_linestatus, 'ALL') AS linestatus,
        |COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,

    "q40_typed_udaf" ->
      """SELECT l_returnflag,
        |CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE)
        |  / (100.0 * CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)) AS wavg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q41_catalog_sql" ->
      """SELECT event_type, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q42_asof_join" ->
      """SELECT e.event_id, e.user_id, p.p_event_id, p.p_value
        |FROM events e ASOF LEFT JOIN (
        |  SELECT user_id AS p_user, ts AS p_ts, event_id AS p_event_id, value AS p_value
        |  FROM events WHERE event_type = 'purchase') p
        |ON e.user_id = p.p_user AND e.ts > p.p_ts
        |ORDER BY e.event_id""".stripMargin,

    "q44_datetime_functions" ->
      """SELECT o_orderkey, l_linenumber,
        |CAST(year(o_orderdate) AS INT) AS o_year,
        |CAST(month(o_orderdate) AS INT) AS o_month,
        |CAST(day(o_orderdate) AS INT) AS o_day,
        |CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT) AS ship_lag_days,
        |date_trunc('month', o_orderdate) AS o_month_start
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |ORDER BY o_orderkey, l_linenumber""".stripMargin,

    "q45_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (
        |  SELECT CAST(AVG(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "q46_window_frames" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
        |CAST(RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS order_rank
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q47_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |COALESCE(o_orderpriority, 'ALL') AS priority, COUNT(*) AS n
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,

    "q48_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 20""".stripMargin,

    "q54_percentiles" ->
      """SELECT event_type,
        |quantile_cont(value, 0.5) AS p50,
        |quantile_cont(value, 0.95) AS p95,
        |MIN(value) AS vmin, MAX(value) AS vmax
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q56_hash_sample" ->
      """SELECT doc_id, lang,
        |CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
        |FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
        |  < CASE WHEN lang = 'es' THEN 50 WHEN lang = 'de' THEN 20 ELSE 10 END
        |ORDER BY doc_id""".stripMargin,

    "q53_set_ops" ->
      """WITH early AS (SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
        |late AS (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |SELECT o_custkey, 'both_eras' AS op FROM (SELECT o_custkey FROM early INTERSECT SELECT o_custkey FROM late)
        |UNION ALL
        |SELECT o_custkey, 'early_only' AS op FROM (SELECT o_custkey FROM early EXCEPT SELECT o_custkey FROM late)
        |ORDER BY op, o_custkey""".stripMargin,

    "q52_curation" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS ntok,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','by'], x))) AS en,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      x -> list_contains(['el','la','de','que','y','en','un','una','los','las','por','con','para','es','del'], x))) AS es,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      x -> list_contains(['der','die','das','und','in','den','von','zu','mit','sich','des','auf','ist','ein','eine'], x))) AS de,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS npunct,
        |    md5(array_to_string(list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), '\s+'), x -> x != ''), ' ')) AS fp
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, fp,
        |    CASE WHEN en >= es AND en >= de THEN 'en' WHEN es >= de THEN 'es' ELSE 'de' END AS lang_pred,
        |    (CASE WHEN ntok >= 10 THEN 0.25 ELSE 0.0 END)
        |    + (CASE WHEN CAST(npunct AS DOUBLE) / CAST(length(text) AS DOUBLE) < 0.1 THEN 0.25 ELSE 0.0 END)
        |    + (CASE WHEN CAST(en AS DOUBLE) / CAST(greatest(ntok, 1) AS DOUBLE) > 0.02 THEN 0.25 ELSE 0.0 END)
        |    + (CASE WHEN length(regexp_replace(text, '\s+', '', 'g')) / CAST(greatest(ntok, 1) AS DOUBLE) BETWEEN 3.0 AND 10.0 THEN 0.25 ELSE 0.0 END)
        |    AS quality,
        |    CAST(ntok AS BIGINT) AS n_tokens
        |  FROM t)
        |SELECT doc_id, lang_pred, quality, n_tokens FROM scored
        |WHERE quality >= 1.0
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    "q51_multiformat" ->
      """SELECT event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q50_pivot" ->
      """SELECT user_id,
        |COUNT(*) FILTER (event_type = 'click') AS click,
        |COUNT(*) FILTER (event_type = 'error') AS error,
        |COUNT(*) FILTER (event_type = 'purchase') AS purchase,
        |COUNT(*) FILTER (event_type = 'signup') AS signup,
        |COUNT(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q57_bucketed_scd1" ->
      """SELECT user_id, event_id, ts, event_type, value FROM (
        |SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q221_bucketed_scd2" ->
      """SELECT user_id, event_id, event_type, ts AS __START_AT,
        |LEAD(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS __END_AT
        |FROM events ORDER BY user_id, __START_AT, event_id""".stripMargin,

    "q58_stream_stream_join" ->
      """SELECT p.user_id, COUNT(*) AS n_pairs,
        |CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS err_value
        |FROM events p JOIN events e
        |  ON p.user_id = e.user_id
        | AND e.ts >= p.ts - INTERVAL 30 MINUTE AND e.ts <= p.ts
        |WHERE p.event_type = 'purchase' AND e.event_type = 'error'
        |GROUP BY p.user_id ORDER BY p.user_id""".stripMargin,

    "q59_outer_joins" ->
      """SELECT c_custkey, n_p, n_f FROM customer
        |LEFT JOIN (
        |  SELECT COALESCE(p.o_custkey, f.o_custkey) AS o_custkey, p.n_p, f.n_f
        |  FROM (SELECT o_custkey, COUNT(*) AS n_p FROM orders WHERE o_orderstatus = 'P' GROUP BY 1) p
        |  FULL JOIN (SELECT o_custkey, COUNT(*) AS n_f FROM orders WHERE o_orderstatus = 'F' GROUP BY 1) f
        |  ON p.o_custkey = f.o_custkey) x
        |ON c_custkey = x.o_custkey ORDER BY c_custkey""".stripMargin,

    "q60_range_join" ->
      """SELECT band, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events JOIN (VALUES
        |  ('tiny', -1e9, 50.0), ('small', 50.0, 200.0),
        |  ('mid', 200.0, 500.0), ('big', 500.0, 1e9)) b(band, lo, hi)
        |ON value >= lo AND value < hi
        |GROUP BY band ORDER BY band""".stripMargin,

    "q62_rocksdb_dedup" ->
      """SELECT event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q63_window_breadth" ->
      """SELECT o_custkey, o_orderkey,
        |lag(o_orderkey, 1) OVER w AS prev_orderkey,
        |CAST(dense_rank() OVER w AS BIGINT) AS drank,
        |CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |ROUND(percent_rank() OVER w, 6) AS prank
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q64_string_functions" ->
      """SELECT c_custkey,
        |substring(c_name, 1, 8) AS name_prefix,
        |lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
        |CAST(instr(c_name, '#') AS BIGINT) AS hash_pos,
        |translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_lower_vowels,
        |CAST(levenshtein(c_mktsegment, 'BUILDING') AS BIGINT) AS seg_dist
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q65_array_agg" ->
      """SELECT user_id,
        |array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_csv,
        |CAST(len(list_sort(list(DISTINCT event_type))) AS BIGINT) AS n_types,
        |list_sort(list(DISTINCT event_type))[1] AS first_type,
        |list_contains(list(DISTINCT event_type), 'purchase') AS has_purchase
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q66_null_semantics" ->
      """SELECT user_id,
        |COUNT(nullif(event_type, 'error')) AS n_non_error,
        |COUNT(*) AS n_all,
        |CAST(SUM(CASE WHEN nullif(event_type, 'error') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_error_nullsafe,
        |COALESCE(MAX(nullif(event_type, 'error')), 'none') AS max_type
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q67_correlated_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        |WHERE o_totalprice > 2 * (
        |  SELECT CAST(AVG(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q68_reservoir_per_key" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, ROW_NUMBER() OVER (
        |    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) WHERE rn <= 10 ORDER BY doc_id""".stripMargin,

    "q70_explode_lateral" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x != '')) AS tok
        |  FROM documents)
        |SELECT tok, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
        |FROM t GROUP BY tok HAVING COUNT(*) >= 100 ORDER BY tok""".stripMargin,

    "q71_grouping_sets" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |COALESCE(o_orderpriority, 'ALL') AS priority,
        |CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY gid, status, priority""".stripMargin,

    "q72_value_windows" ->
      """SELECT o_custkey, o_orderkey,
        |first_value(o_orderkey) OVER w AS first_key,
        |last_value(o_orderkey) OVER w AS last_key,
        |nth_value(o_orderkey, 2) OVER w AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q73_agg_breadth" ->
      """SELECT o_orderpriority,
        |arg_max(o_totalprice, o_orderkey) AS latest_price,
        |arg_min(o_totalprice, o_orderkey) AS earliest_price,
        |bool_and(o_totalprice > 1000.0) AS all_over_1k,
        |bool_or(o_orderstatus = 'P') AS any_pending,
        |COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q74_date_spine" ->
      """WITH spine AS (
        |  SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-03-31', INTERVAL 1 DAY)) AS DATE) AS d),
        |daily AS (
        |  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n_raw,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_raw
        |  FROM events GROUP BY 1)
        |SELECT spine.d, COALESCE(n_raw, 0) AS n, COALESCE(total_raw, 0.0) AS total
        |FROM spine LEFT JOIN daily ON spine.d = daily.d ORDER BY spine.d""".stripMargin,

    // Exact replay of the shard-local greedy fold: row i of each
    // (lang, doc_id%8) slice opens a new pack iff acc + tokens > 512.
    "q82_sequence_packing" ->
      """WITH RECURSIVE toks AS MATERIALIZED (
        |  SELECT lang, doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t != '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |seqd AS MATERIALIZED (
        |  SELECT lang, shard, doc_id, n_tokens,
        |    CAST(row_number() OVER (PARTITION BY lang, shard ORDER BY doc_id) AS BIGINT) AS i
        |  FROM toks),
        |fold AS (
        |  SELECT lang, shard, doc_id, n_tokens, i,
        |    CAST(0 AS BIGINT) AS pack_id, n_tokens AS acc
        |  FROM seqd WHERE i = 1
        |  UNION ALL
        |  SELECT s.lang, s.shard, s.doc_id, s.n_tokens, s.i,
        |    CASE WHEN f.acc > 512 - s.n_tokens THEN f.pack_id + 1 ELSE f.pack_id END,
        |    CASE WHEN f.acc > 512 - s.n_tokens THEN s.n_tokens ELSE f.acc + s.n_tokens END
        |  FROM fold f JOIN seqd s ON s.lang = f.lang AND s.shard = f.shard AND s.i = f.i + 1)
        |SELECT lang, shard, pack_id, doc_id, n_tokens
        |FROM fold ORDER BY doc_id""".stripMargin,

    // Exact replay of block-local best-fit-decreasing: rows in global
    // (tokens DESC, id) rank order, 512-row rank blocks; state = list of
    // open packs as (remaining, park-seq, pack) structs — list_sort[1]
    // picks the smallest remaining >= t with FIFO tie-break, exactly the
    // engine's TreeMap-of-deques.
    "q107_global_packing" ->
      """WITH RECURSIVE toks AS MATERIALIZED (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t != '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |ranked AS MATERIALIZED (
        |  SELECT doc_id, n_tokens,
        |    CAST(row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS rn
        |  FROM toks),
        |blocks AS MATERIALIZED (
        |  SELECT doc_id, n_tokens, CAST((rn - 1) // 512 AS BIGINT) AS block,
        |    CAST(row_number() OVER (PARTITION BY (rn - 1) // 512 ORDER BY rn) AS BIGINT) AS i
        |  FROM ranked),
        |fold AS (
        |  SELECT block, i, doc_id, n_tokens,
        |    CAST(0 AS BIGINT) AS pack_local,
        |    CAST(1 AS BIGINT) AS npacks,
        |    CAST(1 AS BIGINT) AS seq,
        |    [{'r': CAST(greatest(512 - n_tokens, 0) AS BIGINT), 's': CAST(0 AS BIGINT), 'p': CAST(0 AS BIGINT)}] AS open
        |  FROM blocks WHERE i = 1
        |  UNION ALL
        |  SELECT b.block, b.i, b.doc_id, b.n_tokens,
        |    CASE WHEN list_sort(list_filter(f.open, e -> e.r >= b.n_tokens))[1] IS NULL
        |         THEN f.npacks
        |         ELSE list_sort(list_filter(f.open, e -> e.r >= b.n_tokens))[1].p END,
        |    CASE WHEN list_sort(list_filter(f.open, e -> e.r >= b.n_tokens))[1] IS NULL
        |         THEN f.npacks + 1 ELSE f.npacks END,
        |    f.seq + 1,
        |    CASE WHEN list_sort(list_filter(f.open, e -> e.r >= b.n_tokens))[1] IS NULL
        |         THEN list_append(f.open,
        |           {'r': CAST(greatest(512 - b.n_tokens, 0) AS BIGINT), 's': f.seq, 'p': f.npacks})
        |         ELSE list_append(
        |           list_filter(f.open, e ->
        |             NOT (e.r = list_sort(list_filter(f.open, x -> x.r >= b.n_tokens))[1].r
        |              AND e.s = list_sort(list_filter(f.open, x -> x.r >= b.n_tokens))[1].s)),
        |           {'r': list_sort(list_filter(f.open, e -> e.r >= b.n_tokens))[1].r - b.n_tokens,
        |            's': f.seq,
        |            'p': list_sort(list_filter(f.open, e -> e.r >= b.n_tokens))[1].p}) END
        |  FROM fold f JOIN blocks b ON b.block = f.block AND b.i = f.i + 1)
        |SELECT CAST(block * 1048576 + pack_local AS BIGINT) AS pack_id, doc_id, n_tokens
        |FROM fold ORDER BY doc_id""".stripMargin,

    "q83_cluster_canonical" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, text, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ts FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
        |  FROM toks, UNNEST(generate_series(1, len(ts)-2)) AS g(i)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1, d2 FROM inter JOIN cnt c1 ON c1.doc_id = d1 JOIN cnt c2 ON c2.doc_id = d2
        |  WHERE CAST(i AS DOUBLE) / CAST(c1.n + c2.n - i AS DOUBLE) >= 0.5),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
        |reach AS (
        |  SELECT a AS id, b AS r FROM edges
        |  UNION
        |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
        |comp AS (SELECT id, LEAST(id, MIN(r)) AS comp FROM reach GROUP BY id),
        |q AS (
        |  SELECT doc_id,
        |    (CASE WHEN len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) >= 10 THEN 0.25 ELSE 0.0 END)
        |    + (CASE WHEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) < 0.1 THEN 0.25 ELSE 0.0 END)
        |    + (CASE WHEN CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |        x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','by'], x))) AS DOUBLE)
        |        / CAST(greatest(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')), 1) AS DOUBLE) > 0.02 THEN 0.25 ELSE 0.0 END)
        |    + (CASE WHEN length(regexp_replace(text, '\s+', '', 'g')) / CAST(greatest(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')), 1) AS DOUBLE) BETWEEN 3.0 AND 10.0 THEN 0.25 ELSE 0.0 END)
        |    AS quality
        |  FROM toks),
        |clustered AS (
        |  SELECT q.doc_id, q.quality, COALESCE(comp.comp, q.doc_id) AS cluster_id
        |  FROM q LEFT JOIN comp ON q.doc_id = comp.id)
        |SELECT cluster_id, doc_id AS canonical_id,
        |  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_docs,
        |  quality AS best_quality
        |FROM clustered
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY quality DESC, doc_id ASC) = 1
        |ORDER BY cluster_id""".stripMargin,

    "q84_duplicate_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ts FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' ||
        |    ts[i+4] || ' ' || ts[i+5] || ' ' || ts[i+6] || ' ' || ts[i+7] AS shingle
        |  FROM toks, UNNEST(generate_series(1, len(ts)-7)) AS g(i)),
        |multi AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > 1),
        |shared AS (
        |  SELECT doc_id, COUNT(*) AS n_shared FROM sh
        |  WHERE shingle IN (SELECT shingle FROM multi) GROUP BY doc_id),
        |tot AS (SELECT doc_id, COUNT(*) AS n_ngrams FROM sh GROUP BY doc_id)
        |SELECT tot.doc_id, n_ngrams, COALESCE(n_shared, 0) AS n_shared,
        |  ROUND(CAST(COALESCE(n_shared, 0) AS DOUBLE) / CAST(n_ngrams AS DOUBLE), 6) AS dup_frac
        |FROM tot LEFT JOIN shared ON tot.doc_id = shared.doc_id
        |ORDER BY tot.doc_id""".stripMargin,

    "q103_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |CAST(year(l_shipdate) AS INT) AS l_year,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
        |   OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q104_discounted_parts" ->
      """SELECT
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 25)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 20 AND 35)""".stripMargin,

    "q105_order_count_dist" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey
        |) GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q106_large_orders" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        |CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
        |total_qty
        |FROM orders
        |JOIN (SELECT l_orderkey, SUM(l_quantity) AS total_qty
        |      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250) big
        |  ON o_orderkey = big.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin,

    "q101_stream_static_join" ->
      """SELECT COALESCE(c_mktsegment, 'UNKNOWN') AS segment, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events LEFT JOIN customer ON user_id = c_custkey
        |GROUP BY segment ORDER BY segment""".stripMargin,

    "q102_datetime_arith" ->
      """SELECT o_orderkey,
        |CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
        |CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
        |CAST((2000 * 12 + 1) - (year(o_orderdate) * 12 + month(o_orderdate)) AS BIGINT) AS months_to_y2k,
        |CAST(o_orderdate + INTERVAL 45 DAY AS DATE) AS plus45d
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q99_pagination" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 40""".stripMargin,

    "q100_anomaly_zscore" ->
      """WITH m AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS ss
        |  FROM events GROUP BY event_type),
        |st AS (SELECT event_type, n, s / n AS mean, (ss / n) - (s / n) * (s / n) AS variance FROM m)
        |SELECT e.event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN ABS((e.value - st.mean) / sqrt(st.variance)) > 2.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
        |FROM events e JOIN st ON e.event_type = st.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    "q97_nested_struct" ->
      """SELECT event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q98_hof_arrays" ->
      """WITH a AS (
        |  SELECT user_id, list_sort(list(CAST(value AS DECIMAL(18,2)))) AS vals
        |  FROM events GROUP BY user_id)
        |SELECT user_id,
        |  CAST(len(vals) AS BIGINT) AS n_vals,
        |  CAST(len(list_filter(vals, v -> v > 100)) AS BIGINT) AS n_over_100,
        |  CAST(list_sum(vals) AS DOUBLE) AS total,
        |  len(list_filter(vals, v -> v > 400)) > 0 AS any_over_400,
        |  len(list_filter(vals, v -> v < 0)) = 0 AS all_non_negative
        |FROM a ORDER BY user_id""".stripMargin,

    "q94_map_functions" ->
      """SELECT user_id,
        |COUNT(DISTINCT event_type) AS n_types,
        |COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase_n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q95_unpivot" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |t AS (SELECT unnest(['click','error','purchase','signup','view']) AS event_type),
        |c AS (SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2)
        |SELECT u.user_id, t.event_type, COALESCE(c.n, 0) AS n
        |FROM u CROSS JOIN t
        |LEFT JOIN c ON c.user_id = u.user_id AND c.event_type = t.event_type
        |ORDER BY u.user_id, t.event_type""".stripMargin,

    "q96_zorder_skipping" ->
      """SELECT event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events WHERE user_id BETWEEN 0 AND 99
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q91_range_frame" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |  PARTITION BY o_custkey
        |  ORDER BY datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
        |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_30d
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q92_insert_overwrite" ->
      """SELECT event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value * 2 ELSE value END AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q90_grouped_topk" ->
      """SELECT o_orderpriority, rnk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS BIGINT) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3 ORDER BY o_orderpriority, rnk""".stripMargin,

    "q88_quarantine" ->
      """SELECT event_type,
        |COALESCE(CASE WHEN NOT COALESCE(value < 200, false) THEN 'value_bound'
        |              WHEN NOT COALESCE(event_type <> 'error', false) THEN 'not_error' END,
        |         'ok') AS status,
        |COUNT(*) AS n
        |FROM events GROUP BY event_type, status ORDER BY event_type, status""".stripMargin,

    "q89_streaming_window" ->
      """SELECT date_trunc('day', ts) AS w_start, event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events
        |GROUP BY 1, 2
        |HAVING date_trunc('day', ts) + INTERVAL 1 DAY <=
        |       (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
        |ORDER BY w_start, event_type""".stripMargin,

    "q86_promo_revenue" ->
      """SELECT p_type,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY p_type ORDER BY p_type""".stripMargin,

    "q87_local_supplier_volume" ->
      """SELECT n_name,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q85_ctas_sql" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q81_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ts FROM documents),
        |occ AS (
        |  SELECT doc_id, ts[i] || ' ' || ts[i+1] AS shingle
        |  FROM toks, UNNEST(generate_series(1, len(ts)-1)) AS g(i)),
        |freq AS (SELECT doc_id, shingle, COUNT(*) AS c FROM occ GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_ngrams,
        |  ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS top_ngram_frac,
        |  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS distinct_frac
        |FROM freq GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q80_dedup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ts FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
        |  FROM toks, UNNEST(generate_series(1, len(ts)-2)) AS g(i)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1, d2 FROM inter JOIN cnt c1 ON c1.doc_id = d1 JOIN cnt c2 ON c2.doc_id = d2
        |  WHERE CAST(i AS DOUBLE) / CAST(c1.n + c2.n - i AS DOUBLE) >= 0.5),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
        |reach AS (
        |  SELECT a AS id, b AS r FROM edges
        |  UNION
        |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a)
        |SELECT id AS doc_id, LEAST(id, MIN(r)) AS cluster_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    "q77_dedup_within_watermark" ->
      """SELECT event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q78_pii_scrub" ->
      """SELECT c_custkey,
        |regexp_replace(regexp_replace(c_name,
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |  '[0-9][0-9 ()+.-]{5,}[0-9]', '[NUM]', 'g') AS name_redacted,
        |CAST(len(regexp_extract_all(c_name, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |  + len(regexp_extract_all(regexp_replace(c_name,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '[0-9][0-9 ()+.-]{5,}[0-9]')) AS BIGINT) AS n_pii
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q79_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ts FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
        |  FROM toks, UNNEST(generate_series(1, len(ts)-2)) AS g(i)),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 10)
        |SELECT a.doc_id, COUNT(*) AS n_overlap
        |FROM sh a JOIN bench b ON a.shingle = b.shingle
        |WHERE a.doc_id >= 10
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,

    "q76_stats_skipping" ->
      """SELECT event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q108_string_skipping" ->
      """SELECT source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin,

    "q125_orc_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_totalprice > 1000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q124_incremental_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ts FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
        |  FROM toks, UNNEST(generate_series(1, len(ts)-2)) AS g(i)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d_new, b.doc_id AS d_old, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0 GROUP BY 1, 2)
        |SELECT d_new, d_old, CAST(i AS DOUBLE) / CAST(c1.n + c2.n - i AS DOUBLE) AS jaccard
        |FROM inter JOIN cnt c1 ON c1.doc_id = d_new JOIN cnt c2 ON c2.doc_id = d_old
        |WHERE CAST(i AS DOUBLE) / CAST(c1.n + c2.n - i AS DOUBLE) >= 0.5
        |ORDER BY d_new, d_old""".stripMargin,

    "q147_identifier" ->
      """SELECT n_regionkey, COUNT(*) AS n FROM nation
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "q148_session_variable" ->
      """SELECT o_orderpriority, COUNT(*) AS n_above
        |FROM orders
        |WHERE o_totalprice > (
        |  SELECT CAST(AVG(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM orders)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q154_integrity_checks" ->
      """WITH u AS (
        |  SELECT o_orderkey FROM orders
        |  UNION ALL
        |  SELECT o_orderkey FROM orders WHERE o_orderkey % 500 = 0),
        |pk AS (
        |  SELECT 'pk_dup' AS chk, o_orderkey AS key, COUNT(*) AS cnt
        |  FROM u GROUP BY o_orderkey HAVING COUNT(*) > 1),
        |fk AS (
        |  SELECT 'fk_orphan' AS chk, l_orderkey AS key, COUNT(*) AS cnt
        |  FROM lineitem
        |  WHERE l_orderkey NOT IN
        |    (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 <> 0)
        |  GROUP BY l_orderkey)
        |SELECT * FROM (SELECT * FROM pk UNION ALL SELECT * FROM fk)
        |ORDER BY chk, key""".stripMargin,

    "q155_pit_join" ->
      """WITH dim AS (
        |  SELECT user_id, value, ts AS s_at,
        |         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS e_at
        |  FROM events WHERE event_type = 'purchase'),
        |f AS (SELECT event_id, user_id, ts FROM events WHERE event_type <> 'purchase')
        |SELECT f.event_id, f.user_id, d.value AS tier_value
        |FROM f LEFT JOIN dim d ON d.user_id = f.user_id
        |  AND f.ts >= d.s_at AND (d.e_at IS NULL OR f.ts < d.e_at)
        |ORDER BY f.event_id""".stripMargin,

    "q153_global_rownum" ->
      """SELECT l_orderkey, l_linenumber, rn FROM (
        |  SELECT l_orderkey, l_linenumber,
        |         ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
        |  FROM lineitem)
        |WHERE rn % 997 = 0 ORDER BY rn""".stripMargin,

    "q152_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT CAST(c_custkey + 10000000 AS BIGINT) AS src,
        |           CAST(c_nationkey AS BIGINT) AS dst FROM customer
        |    UNION ALL
        |    SELECT CAST(n_nationkey AS BIGINT),
        |           CAST(n_regionkey + 20000000 AS BIGINT) FROM nation)),
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
        |c1 AS (SELECT dst AS node, SUM(CAST(ROUND(r.rank / od.outdeg, 12) AS DECIMAL(28,12))) AS s
        |       FROM e JOIN r0 r ON r.node = e.src JOIN od ON od.src = e.src GROUP BY dst),
        |r1 AS (SELECT n.node, 0.15 + 0.85 * CAST(COALESCE(s, CAST(0 AS DECIMAL(28,12))) AS DOUBLE) AS rank
        |       FROM nodes n LEFT JOIN c1 ON c1.node = n.node),
        |c2 AS (SELECT dst AS node, SUM(CAST(ROUND(r.rank / od.outdeg, 12) AS DECIMAL(28,12))) AS s
        |       FROM e JOIN r1 r ON r.node = e.src JOIN od ON od.src = e.src GROUP BY dst),
        |r2 AS (SELECT n.node, 0.15 + 0.85 * CAST(COALESCE(s, CAST(0 AS DECIMAL(28,12))) AS DOUBLE) AS rank
        |       FROM nodes n LEFT JOIN c2 ON c2.node = n.node),
        |c3 AS (SELECT dst AS node, SUM(CAST(ROUND(r.rank / od.outdeg, 12) AS DECIMAL(28,12))) AS s
        |       FROM e JOIN r2 r ON r.node = e.src JOIN od ON od.src = e.src GROUP BY dst),
        |r3 AS (SELECT n.node, 0.15 + 0.85 * CAST(COALESCE(s, CAST(0 AS DECIMAL(28,12))) AS DOUBLE) AS rank
        |       FROM nodes n LEFT JOIN c3 ON c3.node = n.node)
        |SELECT node, ROUND(rank, 9) AS rank FROM r3 ORDER BY node""".stripMargin,

    "q150_bloom_prescreen" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 200000)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q151_heavy_hitters" ->
      """SELECT word, COUNT(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word HAVING COUNT(*) >= 500
        |ORDER BY word""".stripMargin,

    "q149_row_delete" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer
        |WHERE NOT (c_custkey % 7 = 0) AND NOT (c_custkey % 11 = 3)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q145_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS w
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs,
        |  CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
        |  WHERE w IN ('spark', 'merge', 'window') GROUP BY 1, 2),
        |dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |contrib AS (
        |  SELECT tf.doc_id,
        |    CAST(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2) /
        |      (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS DECIMAL(18,9)) AS c
        |  FROM tf JOIN dfreq USING (w) JOIN dl USING (doc_id) CROSS JOIN stats)
        |SELECT doc_id, ROUND(CAST(SUM(c) AS DOUBLE), 6) AS score
        |FROM contrib GROUP BY 1
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q144_streaming_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ts FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
        |  FROM toks, UNNEST(generate_series(1, len(ts)-2)) AS g(i)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  JOIN cnt c1 ON c1.doc_id = a.doc_id JOIN cnt c2 ON c2.doc_id = b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, c1.n, c2.n
        |  HAVING CAST(count(*) AS DOUBLE) / CAST(c1.n + c2.n - count(*) AS DOUBLE) >= 0.5),
        |keptb1 AS (
        |  SELECT doc_id FROM documents d WHERE doc_id % 2 = 0
        |  AND NOT EXISTS (SELECT 1 FROM pairs WHERE d2 = d.doc_id AND d1 % 2 = 0)),
        |survb2 AS (
        |  SELECT doc_id FROM documents d WHERE doc_id % 2 = 1
        |  AND NOT EXISTS (SELECT 1 FROM pairs WHERE d2 = d.doc_id AND d1 % 2 = 1)),
        |keptb2 AS (
        |  SELECT s.doc_id FROM survb2 s
        |  WHERE NOT EXISTS (SELECT 1 FROM pairs p JOIN keptb1 k
        |    ON (p.d1 = s.doc_id AND p.d2 = k.doc_id)
        |    OR (p.d2 = s.doc_id AND p.d1 = k.doc_id)))
        |SELECT doc_id FROM keptb1
        |UNION ALL SELECT doc_id FROM keptb2
        |ORDER BY doc_id""".stripMargin,

    "q142_sql_scripting" ->
      """SELECT o_orderstatus, COUNT(*) AS n_above
        |FROM orders
        |WHERE o_totalprice > (
        |  SELECT CAST(AVG(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM orders)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q143_sliding_window" ->
      """SELECT time_bucket(INTERVAL '15 minutes', ts) - o * INTERVAL '15 minutes' AS w_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events, UNNEST(generate_series(0, 3)) g(o)
        |GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    "q141_interpolate" ->
      """WITH t AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_type = 'purchase' THEN value END AS v,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) AS rn
        |  FROM events),
        |f AS (
        |  SELECT event_id, user_id, v, rn,
        |    LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY rn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    LAST_VALUE(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY rn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prn,
        |    FIRST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY rn
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY rn
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nrn
        |  FROM t)
        |SELECT event_id, user_id,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN pv IS NULL THEN nv
        |       WHEN nv IS NULL THEN pv
        |       ELSE pv + (nv - pv) * (rn - prn) / (nrn - prn) END AS interp
        |FROM f ORDER BY event_id""".stripMargin,

    "q140_rollup_routing" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS max_qty,
        |COUNT(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q139_binned_range_join" ->
      """SELECT i AS iv_id, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM range(0,120) t(i) JOIN events
        |  ON value >= i*3.0 AND value < i*3.0+9.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q130_priority_exists" ->
      """SELECT o_orderpriority, COUNT(*) AS n
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q131_market_share" ->
      """WITH vols AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS vol,
        |    sn.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN orders    ON l_orderkey = o_orderkey
        |  JOIN customer  ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region    ON cn.n_regionkey = r_regionkey
        |  JOIN supplier  ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE r_name = 'EUROPE'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
        |SELECT o_year,
        |  CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol END) AS DOUBLE) /
        |       CAST(SUM(vol) AS DOUBLE) AS DOUBLE) AS mkt_share
        |FROM vols GROUP BY o_year ORDER BY o_year""".stripMargin,

    "q132_profit" ->
      """SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) -
        |    CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2)))
        |    AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part     ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY 1, 2 ORDER BY nation, o_year""".stripMargin,

    "q133_returned_items" ->
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  c_acctbal, n_name
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q134_shipmode" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q135_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (1, 5, 9, 15, 23, 30, 41, 45)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q136_potential_promo" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'blue%')
        |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY l_suppkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > CAST(200 AS DECIMAL(18,2)))
        |ORDER BY s_suppkey""".stripMargin,

    "q137_waiting_supplier" ->
      """SELECT s_name, COUNT(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin,

    "q126_group_by_all" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ALL
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "q127_param_sql" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |WHERE l_shipdate <= DATE '1996-12-01' AND l_discount BETWEEN 0.02 AND 0.06
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q128_collation" ->
      """WITH mixed AS (
        |  SELECT CASE
        |    WHEN c_custkey % 3 = 0 THEN lower(c_mktsegment)
        |    WHEN c_custkey % 3 = 1 THEN upper(substr(lower(c_mktsegment),1,1)) || substr(lower(c_mktsegment),2)
        |    ELSE c_mktsegment END AS seg
        |  FROM customer)
        |SELECT min(lower(seg)) AS seg_lc, COUNT(*) AS n, COUNT(DISTINCT seg) AS variants
        |FROM mixed GROUP BY lower(seg) ORDER BY seg_lc""".stripMargin,

    "q129_xml_extract" ->
      """SELECT CAST(s_nationkey AS BIGINT) AS nk, COUNT(*) AS n,
        |CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
        |COUNT(DISTINCT s_name) AS names
        |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin,

    "q122_list_agg" ->
      """SELECT s_nationkey,
        |array_to_string(list_sort(list(s_name)), ',') AS names_arr,
        |string_agg(s_name, ',' ORDER BY s_name) AS names_agg,
        |COUNT(*) AS n
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    "q123_try_functions" ->
      """SELECT o_orderkey,
        |CASE WHEN o_custkey % 7 = 0 THEN NULL ELSE o_totalprice / (o_custkey % 7) END AS d,
        |TRY_CAST(o_orderpriority AS INTEGER) AS pri_int,
        |string_split(o_orderpriority, '-')[2] AS tok2,
        |string_split(o_orderpriority, '-')[5] AS tok5
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q121_recursive_cte" ->
      """WITH RECURSIVE months(m) AS (
        |  SELECT 1
        |  UNION ALL
        |  SELECT m + 1 FROM months WHERE m < 12
        |)
        |SELECT m, COUNT(l_orderkey) AS n,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM months LEFT JOIN lineitem
        |  ON month(l_shipdate) = m AND year(l_shipdate) = 1996
        |GROUP BY m ORDER BY m""".stripMargin,

    "q120_corpus_mixture" ->
      """WITH w(lang, wt) AS (VALUES
        |  ('en', CAST(0.4 AS DOUBLE)), ('fr', CAST(0.3 AS DOUBLE)),
        |  ('de', CAST(0.1 AS DOUBLE)), ('es', CAST(0.1 AS DOUBLE)), ('zh', CAST(0.1 AS DOUBLE))),
        |counts AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY 1),
        |cap AS (SELECT MIN(c / wt) AS n_out FROM counts JOIN w USING (lang)),
        |thresh AS (SELECT lang, CAST(FLOOR((SELECT n_out FROM cap) * wt / c * 10000) AS BIGINT) AS th
        |           FROM counts JOIN w USING (lang))
        |SELECT d.lang, COUNT(*) AS n
        |FROM documents d JOIN thresh t ON d.lang = t.lang
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < t.th
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    "q117_stream_outer_join" ->
      """WITH p AS (SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'),
        |e AS (SELECT user_id, ts AS e_ts, value FROM events WHERE event_type = 'error'),
        |wm AS (SELECT LEAST((SELECT max(p_ts) FROM p), (SELECT max(e_ts) FROM e)) - INTERVAL 1 DAY AS w),
        |pairs AS (
        |  SELECT p.user_id, e.value FROM p JOIN e ON p.user_id = e.user_id
        |    AND e.e_ts >= p.p_ts AND e.e_ts <= p.p_ts + INTERVAL 30 MINUTE),
        |outers AS (
        |  SELECT p.user_id, CAST(NULL AS DOUBLE) AS value FROM p
        |  WHERE p.p_ts + INTERVAL 30 MINUTE < (SELECT w FROM wm)
        |    AND NOT EXISTS (SELECT 1 FROM e WHERE e.user_id = p.user_id
        |      AND e.e_ts >= p.p_ts AND e.e_ts <= p.p_ts + INTERVAL 30 MINUTE)),
        |allr AS (SELECT * FROM pairs UNION ALL SELECT * FROM outers)
        |SELECT user_id, COUNT(*) AS n_rows,
        |COUNT(CASE WHEN value IS NULL THEN 1 END) AS n_outer,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS err_value
        |FROM allr GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q118_pos_explode" ->
      """SELECT pos, COUNT(*) AS n, MIN(word) AS first_w, MAX(word) AS last_w FROM (
        |  SELECT CAST(g AS INTEGER) AS pos, string_split(text, ' ')[g + 1] AS word
        |  FROM documents, generate_series(0, 4) AS s(g)
        |  WHERE len(string_split(text, ' ')) > g)
        |GROUP BY pos ORDER BY pos""".stripMargin,

    "q119_time_travel" ->
      """SELECT 1 AS version, COUNT(*) AS n FROM nation
        |UNION ALL
        |SELECT 2 AS version, COUNT(*) AS n FROM nation WHERE n_nationkey < 20
        |ORDER BY version""".stripMargin,

    "q114_variant_shred" ->
      """WITH x AS (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |SELECT k % 10 AS bucket, COUNT(*) AS n, MIN(k) AS min_k, MAX(k) AS max_k
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,

    "q115_lateral_topn" ->
      """SELECT n_name, c.c_custkey,
        |CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
        |FROM nation,
        |LATERAL (SELECT c_custkey, c_acctbal FROM customer
        |         WHERE c_nationkey = n_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
        |ORDER BY n_name, c.c_custkey""".stripMargin,

    "q116_change_feed" ->
      """WITH base AS (
        |  SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer)
        |SELECT c_custkey, bal + 100 AS bal, 'update' AS _change_type
        |  FROM base WHERE c_custkey % 50 = 0 AND c_custkey % 97 <> 0
        |UNION ALL
        |SELECT c_custkey, bal, 'delete' FROM base WHERE c_custkey % 97 = 0
        |UNION ALL
        |SELECT c_custkey + 1000000, bal, 'insert' FROM base WHERE c_custkey % 113 = 0
        |ORDER BY _change_type, c_custkey""".stripMargin,

    "q110_rank_breadth" ->
      """SELECT c_custkey, c_nationkey,
        |CAST(DENSE_RANK() OVER w AS INTEGER) AS dr,
        |CAST(ROUND(CAST(PERCENT_RANK() OVER w AS DECIMAL(18,12)), 6) AS DOUBLE) AS pr,
        |CAST(ROUND(CAST(CUME_DIST() OVER w AS DECIMAL(18,12)), 6) AS DOUBLE) AS cd,
        |CAST(NTILE(4) OVER w AS INTEGER) AS quartile
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q111_min_cost_supplier" ->
      """WITH offers AS (
        |  SELECT l_partkey, l_suppkey, MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
        |  FROM lineitem GROUP BY 1, 2),
        |best AS (SELECT l_partkey AS bp, MIN(cost) AS min_cost FROM offers GROUP BY 1)
        |SELECT o.l_partkey, o.l_suppkey, s_name, CAST(o.cost AS DOUBLE) AS cost
        |FROM offers o
        |JOIN best b ON o.l_partkey = b.bp AND o.cost = b.min_cost
        |JOIN supplier ON o.l_suppkey = s_suppkey
        |WHERE o.l_partkey <= 200
        |ORDER BY 1, 2""".stripMargin,

    "q112_idle_customers" ->
      """SELECT c_nationkey, COUNT(*) AS numcust,
        |CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) >
        |  (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM customer)
        |AND c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q113_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q109_bucketed_stats" ->
      """WITH merged AS (
        |  SELECT CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 10 ELSE o_totalprice END AS price,
        |         CASE WHEN o_orderkey % 97 = 0 THEN CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE)
        |              ELSE CAST(o_orderdate AS DATE) END AS d
        |  FROM orders)
        |SELECT CAST(month(d) AS INT) AS m, COUNT(*) AS n,
        |CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM merged WHERE d BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
        |GROUP BY m ORDER BY m""".stripMargin,

    "q75_regexp" ->
      """SELECT c_custkey,
        |regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
        |regexp_matches(c_name, '0{2}') AS has_double_zero,
        |CAST(len(string_split(c_name, '#')) AS BIGINT) AS name_parts
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q49_text_chunking" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ts
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, ts, len(ts) AS n,
        |    greatest(1, CAST(ceil((len(ts) - 16) / 48.0) AS BIGINT)) AS nc
        |  FROM toks)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(i * 48 AS BIGINT) AS token_start,
        |  CAST(least(i * 48 + 64, n) AS BIGINT) AS token_end,
        |  md5(array_to_string(ts[i * 48 + 1 : i * 48 + 64], ' ')) AS chunk_digest
        |FROM c, UNNEST(generate_series(0, nc - 1)) AS g(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "q156_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,

    "q157_important_stock" ->
      """WITH value AS (
        |  SELECT l_partkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS value
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE s_nationkey < 10
        |  GROUP BY 1)
        |SELECT l_partkey, CAST(value AS DOUBLE) AS value
        |FROM value
        |WHERE value * 1000 > (SELECT SUM(value) FROM value)
        |ORDER BY CAST(value AS DOUBLE) DESC, l_partkey""".stripMargin,

    "q158_avg_yearly" ->
      """WITH avgq AS (
        |  SELECT l_partkey AS ap_partkey, avg(l_quantity) * 0.2 AS qlimit
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN avgq ON l_partkey = ap_partkey
        |WHERE p_brand = 'Brand#23' AND l_quantity < qlimit""".stripMargin,

    "q159_funnel" ->
      """WITH s0 AS (
        |  SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (
        |  SELECT e.user_id, min(e.ts) AS t1 FROM events e
        |  JOIN s0 ON e.user_id = s0.user_id AND e.ts > s0.t0
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT 0 AS stage_idx, 'view' AS stage, count(*) AS users FROM s0
        |UNION ALL SELECT 1, 'click', count(*) FROM s1
        |UNION ALL SELECT 2, 'purchase', count(*) FROM s2
        |ORDER BY stage_idx""".stripMargin,

    "q160_cohort" ->
      """WITH cohorts AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |  FROM events GROUP BY 1),
        |cells AS (
        |  SELECT DISTINCT cohort_week, e.user_id,
        |    CAST(date_diff('day', cohort_week, date_trunc('week', e.ts)) / 7 AS INT) AS week_offset
        |  FROM events e JOIN cohorts ON e.user_id = cohorts.user_id)
        |SELECT cohort_week, week_offset, count(*) AS active_users
        |FROM cells GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,

    "q161_triangles" ->
      """WITH e0 AS (
        |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  WHERE x.l_shipdate >= TIMESTAMP '1996-01-01' AND x.l_shipdate < TIMESTAMP '1997-01-01'
        |    AND y.l_shipdate >= TIMESTAMP '1996-01-01' AND y.l_shipdate < TIMESTAMP '1997-01-01'),
        |t AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e0 e1
        |  JOIN e0 e2 ON e2.a = e1.b
        |  JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT node, count(*) AS triangles
        |FROM (SELECT x AS node FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t)
        |GROUP BY node ORDER BY node""".stripMargin,

    "q162_weighted_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS DOUBLE)
        |  < LEAST(1.0, LEAST(1.0, CAST(n_chars AS DOUBLE) / 400.0) * 0.5) * 1000000.0
        |ORDER BY doc_id""".stripMargin,

    "q163_model_score" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS ntok,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','by'], x))) AS stophits,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS npunct,
        |    length(text) AS nch
        |  FROM documents)
        |SELECT doc_id,
        |  round(1.0 / (1.0 + exp(-(-1.5
        |    + 0.02 * CAST(ntok AS DOUBLE)
        |    + 8.0 * (CAST(stophits AS DOUBLE) / CAST(greatest(ntok, 1) AS DOUBLE))
        |    + (-6.0) * (CAST(npunct AS DOUBLE) / CAST(nch AS DOUBLE))))), 6) AS score
        |FROM t ORDER BY doc_id""".stripMargin,

    "q164_fuzzy_match" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS id_a, b.p_name AS id_b,
        |  CAST(mismatches(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM n a JOIN n b
        |  ON length(a.p_name) = length(b.p_name) AND a.p_name < b.p_name
        |WHERE mismatches(a.p_name, b.p_name) <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    "q165_execute_immediate" ->
      """SELECT o_orderstatus, count(*) AS n FROM orders
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q166_profile" ->
      """SELECT * FROM (
        |  SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
        |    count(*) - count(o_orderkey) AS n_nulls,
        |    count(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(min(o_orderkey) AS VARCHAR) AS min_value,
        |    CAST(max(o_orderkey) AS VARCHAR) AS max_value
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
        |    count(DISTINCT o_custkey),
        |    CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        |    count(DISTINCT o_orderstatus),
        |    CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
        |  FROM orders)
        |ORDER BY "column"""".stripMargin,

    "q167_shortest_paths" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT DISTINCT x.l_partkey AS src, y.l_partkey AS dst
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  WHERE x.l_shipdate >= TIMESTAMP '1996-01-01' AND x.l_shipdate < TIMESTAMP '1997-01-01'
        |    AND y.l_shipdate >= TIMESTAMP '1996-01-01' AND y.l_shipdate < TIMESTAMP '1997-01-01'),
        |e AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
        |d AS (
        |  SELECT CAST(s AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist FROM (VALUES (1), (2)) v(s)
        |  UNION
        |  SELECT e.dst, d.dist + 1 FROM d JOIN e ON e.src = d.node WHERE d.dist < 3)
        |SELECT node, min(dist) AS dist FROM d GROUP BY node ORDER BY node""".stripMargin,

    "q168_windowed_funnel" ->
      """WITH s0 AS (
        |  SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (
        |  SELECT e.user_id, min(e.ts) AS t1 FROM events e
        |  JOIN s0 ON e.user_id = s0.user_id AND e.ts > s0.t0
        |    AND e.ts <= s0.t0 + INTERVAL 21600 SECOND
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
        |    AND e.ts <= s1.t1 + INTERVAL 21600 SECOND
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT 0 AS stage_idx, 'view' AS stage, count(*) AS users FROM s0
        |UNION ALL SELECT 1, 'click', count(*) FROM s1
        |UNION ALL SELECT 2, 'purchase', count(*) FROM s2
        |ORDER BY stage_idx""".stripMargin,

    "q169_histogram" ->
      """WITH b AS (
        |  SELECT least(CAST(floor((o_totalprice - 0.0) / 600000.0 * 20) AS BIGINT), 19) AS bin
        |  FROM orders
        |  WHERE o_totalprice >= 0.0 AND o_totalprice <= 600000.0)
        |SELECT bin, 0.0 + bin * 600000.0 / 20 AS bin_lo,
        |  0.0 + (bin + 1) * 600000.0 / 20 AS bin_hi, count(*) AS cnt
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    "q170_transitions" ->
      """WITH pairs AS (
        |  SELECT event_type AS src_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst_type
        |  FROM events),
        |c AS (
        |  SELECT src_type, dst_type, count(*) AS n
        |  FROM pairs WHERE dst_type IS NOT NULL GROUP BY 1, 2)
        |SELECT src_type, dst_type, n,
        |  CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY src_type) AS DOUBLE) AS p
        |FROM c ORDER BY src_type, dst_type""".stripMargin,

    "q171_ab_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END) AS converted,
        |    CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
        |      THEN 'A' ELSE 'B' END AS grp
        |  FROM events GROUP BY user_id),
        |a AS (
        |  SELECT
        |    count(CASE WHEN grp = 'A' THEN 1 END) AS n_a,
        |    count(CASE WHEN grp = 'A' AND converted = 1 THEN 1 END) AS conv_a,
        |    count(CASE WHEN grp = 'B' THEN 1 END) AS n_b,
        |    count(CASE WHEN grp = 'B' AND converted = 1 THEN 1 END) AS conv_b
        |  FROM u)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
        |  CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
        |  (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |    / sqrt(CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
        |      * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) AS z
        |FROM a""".stripMargin,

    "q172_linreg" ->
      """WITH t AS (
        |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS x,
        |    CAST(round(value, 6) AS DECIMAL(28,6)) AS y
        |  FROM events),
        |a AS (
        |  SELECT event_type, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx,
        |    sum(y) AS sy, sum(y * x) AS sxy
        |  FROM t GROUP BY 1)
        |SELECT event_type, n,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0
        |    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS slope,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0
        |    THEN (CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |      / CAST(n AS DOUBLE) END AS intercept
        |FROM a ORDER BY event_type""".stripMargin,

    "q173_entropy" ->
      """WITH c AS (
        |  SELECT lang, source, count(*) AS cnt FROM documents GROUP BY 1, 2),
        |t AS (
        |  SELECT lang, sum(cnt) AS tot, count(*) AS n_values FROM c GROUP BY 1),
        |j AS (
        |  SELECT c.lang, t.n_values,
        |    round((CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))
        |      * ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)), 12) AS term
        |  FROM c JOIN t ON c.lang = t.lang)
        |SELECT lang, max(n_values) AS n_values,
        |  round(-CAST(sum(CAST(term AS DECIMAL(28,12))) AS DOUBLE), 6) + 0.0 AS entropy
        |FROM j GROUP BY lang ORDER BY lang""".stripMargin,

    "q174_schema_evolution" ->
      """WITH base AS (
        |  SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
        |  FROM customer),
        |v2 AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 97 = 0 THEN bal + 50.0 ELSE bal END AS bal,
        |    CASE WHEN (CASE WHEN c_custkey % 97 = 0 THEN bal + 50.0 ELSE bal END) > 5000.0
        |      THEN 'gold' ELSE 'std' END AS tier
        |  FROM base WHERE c_custkey % 113 <> 0)
        |SELECT * FROM (
        |  SELECT c_custkey, bal, tier, 'update' AS _change_type FROM v2
        |  UNION ALL
        |  SELECT c_custkey, bal, CAST(NULL AS VARCHAR), 'delete'
        |  FROM base WHERE c_custkey % 113 = 0)
        |ORDER BY _change_type, c_custkey""".stripMargin,

    "q175_correlation" ->
      """WITH t AS (
        |  SELECT CAST(round(l_quantity, 2) AS DECIMAL(12,2)) AS q,
        |    CAST(round(l_extendedprice, 2) AS DECIMAL(12,2)) AS e,
        |    CAST(round(l_discount, 2) AS DECIMAL(12,2)) AS d
        |  FROM lineitem),
        |a AS (
        |  SELECT count(*) AS n,
        |    sum(q) AS s_q, sum(q * q) AS ss_q,
        |    sum(e) AS s_e, sum(e * e) AS ss_e,
        |    sum(d) AS s_d, sum(d * d) AS ss_d,
        |    sum(q * e) AS p_qe, sum(q * d) AS p_qd, sum(e * d) AS p_ed
        |  FROM t)
        |SELECT col_a, col_b,
        |  CAST(ROUND(CAST(corr AS DECIMAL(18,12)), 6) AS DOUBLE) AS corr
        |FROM (
        |  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
        |    CASE WHEN CAST(n AS DOUBLE) * CAST(ss_q AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE) > 0.0
        |      AND CAST(n AS DOUBLE) * CAST(ss_e AS DOUBLE) - CAST(s_e AS DOUBLE) * CAST(s_e AS DOUBLE) > 0.0
        |    THEN (CAST(n AS DOUBLE) * CAST(p_qe AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_e AS DOUBLE))
        |      / sqrt((CAST(n AS DOUBLE) * CAST(ss_q AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(ss_e AS DOUBLE) - CAST(s_e AS DOUBLE) * CAST(s_e AS DOUBLE))) END AS corr
        |  FROM a
        |  UNION ALL
        |  SELECT 'l_quantity', 'l_discount',
        |    CASE WHEN CAST(n AS DOUBLE) * CAST(ss_q AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE) > 0.0
        |      AND CAST(n AS DOUBLE) * CAST(ss_d AS DOUBLE) - CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE) > 0.0
        |    THEN (CAST(n AS DOUBLE) * CAST(p_qd AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_d AS DOUBLE))
        |      / sqrt((CAST(n AS DOUBLE) * CAST(ss_q AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(ss_d AS DOUBLE) - CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE))) END
        |  FROM a
        |  UNION ALL
        |  SELECT 'l_extendedprice', 'l_discount',
        |    CASE WHEN CAST(n AS DOUBLE) * CAST(ss_e AS DOUBLE) - CAST(s_e AS DOUBLE) * CAST(s_e AS DOUBLE) > 0.0
        |      AND CAST(n AS DOUBLE) * CAST(ss_d AS DOUBLE) - CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE) > 0.0
        |    THEN (CAST(n AS DOUBLE) * CAST(p_ed AS DOUBLE) - CAST(s_e AS DOUBLE) * CAST(s_d AS DOUBLE))
        |      / sqrt((CAST(n AS DOUBLE) * CAST(ss_e AS DOUBLE) - CAST(s_e AS DOUBLE) * CAST(s_e AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(ss_d AS DOUBLE) - CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE))) END
        |  FROM a)
        |ORDER BY col_a, col_b""".stripMargin,

    "q176_bloom_index" ->
      """SELECT o_orderkey, o_orderdate, o_totalprice, o_orderpriority
        |FROM orders WHERE o_custkey = 42 ORDER BY o_orderkey""".stripMargin,

    "q177_grid_near_join" ->
      """WITH pts AS (
        |  SELECT c_custkey AS id,
        |    CAST(c_acctbal AS DOUBLE) / 100.0 AS x,
        |    CAST((c_custkey * 48271) % 10000 AS DOUBLE) / 100.0 AS y
        |  FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) AS dist
        |FROM pts a JOIN pts b ON a.id < b.id
        |WHERE sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) <= 1.5
        |ORDER BY id_a, id_b""".stripMargin,

    "q178_welch_t" ->
      """WITH q AS (
        |  SELECT event_type,
        |    CAST(round(value, 6) AS DECIMAL(12,6)) AS y
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |a AS (
        |  SELECT
        |    count(*) FILTER (event_type = 'purchase') AS n_a,
        |    sum(y) FILTER (event_type = 'purchase') AS s_a,
        |    sum(y * y) FILTER (event_type = 'purchase') AS ss_a,
        |    count(*) FILTER (event_type = 'click') AS n_b,
        |    sum(y) FILTER (event_type = 'click') AS s_b,
        |    sum(y * y) FILTER (event_type = 'click') AS ss_b
        |  FROM q)
        |SELECT n_a, n_b,
        |  CASE WHEN n_a > 0 THEN CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) END AS mean_a,
        |  CASE WHEN n_b > 0 THEN CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) END AS mean_b,
        |  round(CASE WHEN n_a >= 2 AND n_b >= 2 AND
        |    ((CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE)
        |    + ((CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE) > 0.0
        |  THEN (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |    / sqrt(((CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE)
        |      + ((CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE)) END, 6) AS t,
        |  round(CASE WHEN n_a >= 2 AND n_b >= 2 AND
        |    ((CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE)
        |    + ((CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE) > 0.0
        |  THEN
        |    (((CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE)
        |      + ((CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE))
        |    * (((CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE)
        |      + ((CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE))
        |    / ((((CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE))
        |        * (((CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)
        |      + (((CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE))
        |        * (((CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)) END, 6) AS df
        |FROM a""".stripMargin,

    "q179_chi_square" ->
      """WITH cells AS (
        |  SELECT event_type AS x, user_id % 7 AS y, count(*) AS o
        |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |  GROUP BY 1, 2),
        |rt AS (SELECT x, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT y, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |  count(DISTINCT x) AS n_rows, count(DISTINCT y) AS n_cols FROM cells)
        |SELECT n, n_rows, n_cols, (n_rows - 1) * (n_cols - 1) AS dof,
        |  CAST(sum(CAST(round(
        |    (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
        |    * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
        |    / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)), 12) AS DECIMAL(28,12))) AS DOUBLE) AS chi2
        |FROM cells JOIN rt USING (x) JOIN ct USING (y) CROSS JOIN tot
        |GROUP BY n, n_rows, n_cols""".stripMargin,

    "q180_prefix_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ts FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
        |  FROM toks, UNNEST(generate_series(1, len(ts)-2)) AS g(i)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT d1, d2, CAST(i AS DOUBLE) / CAST(c1.n + c2.n - i AS DOUBLE) AS jaccard
        |FROM inter JOIN cnt c1 ON c1.doc_id = d1 JOIN cnt c2 ON c2.doc_id = d2
        |WHERE CAST(i AS DOUBLE) / CAST(c1.n + c2.n - i AS DOUBLE) >= 0.7
        |ORDER BY d1, d2""".stripMargin,

    "q181_incremental_join_view" ->
      """SELECT o_orderkey, o_custkey AS c_custkey, c_mktsegment, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "q182_session_paths" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |s AS (
        |  SELECT *, sum(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
        |    THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session
        |  FROM e),
        |p AS (
        |  SELECT user_id, session,
        |    array_to_string(list_transform(
        |      (list(struct_pack(a := ts, b := event_id, c := event_type) ORDER BY ts, event_id))[1:5],
        |      x -> x.c), '>') AS path
        |  FROM s GROUP BY 1, 2)
        |SELECT path, count(*) AS n_sessions FROM p
        |GROUP BY 1 ORDER BY n_sessions DESC, path""".stripMargin,

    "q184_attribution" ->
      """WITH ft AS (
        |  SELECT user_id, event_type AS channel FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM events) WHERE rn = 1)
        |SELECT channel, count(*) AS n_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM events e JOIN ft USING (user_id)
        |WHERE e.event_type = 'purchase'
        |GROUP BY channel ORDER BY channel""".stripMargin,

    "q185_rfm" ->
      """WITH per AS (
        |  SELECT user_id, max(epoch_us(ts)) AS last_us, count(*) AS frequency,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT user_id,
        |  ntile(4) OVER (ORDER BY last_us DESC, user_id) AS r_tile,
        |  ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f_tile,
        |  ntile(4) OVER (ORDER BY monetary DESC, user_id) AS m_tile,
        |  frequency, monetary
        |FROM per ORDER BY user_id""".stripMargin,

    // k-core: the peel loop unrolled to 12 rounds (the fixpoint is unique;
    // converged rounds are no-ops, observed convergence ≤ 6 at every SF)
    "q186_kcore" -> {
      val rounds = 12
      // every CTE MATERIALIZED: each round references its predecessor three
      // times — inlining would re-expand the chain exponentially
      val head =
        """WITH e0 AS MATERIALIZED (
          |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
          |  FROM lineitem x JOIN lineitem y
          |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
          |  WHERE x.l_shipdate >= TIMESTAMP '1996-01-01' AND x.l_shipdate < TIMESTAMP '1997-01-01'
          |    AND y.l_shipdate >= TIMESTAMP '1996-01-01' AND y.l_shipdate < TIMESTAMP '1997-01-01')""".stripMargin
      val steps = (0 until rounds).map { i =>
        s"bad$i AS MATERIALIZED (SELECT node FROM (SELECT a AS node FROM e$i UNION ALL SELECT b AS node FROM e$i) " +
          s"GROUP BY node HAVING count(*) < 4),\n" +
          s"e${i + 1} AS MATERIALIZED (SELECT * FROM e$i WHERE a NOT IN (SELECT node FROM bad$i) " +
          s"AND b NOT IN (SELECT node FROM bad$i))"
      }.mkString(",\n")
      head + ",\n" + steps +
        s"\nSELECT node, count(*) AS deg FROM (SELECT a AS node FROM e$rounds " +
        s"UNION ALL SELECT b AS node FROM e$rounds) GROUP BY node ORDER BY node"
    },

    "q187_twap" ->
      """WITH seg AS (
        |  SELECT user_id,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) - epoch_us(ts) AS dt,
        |    CAST(round(value, 2) AS DECIMAL(12,2)) AS v
        |  FROM events)
        |SELECT user_id, count(*) AS n_intervals,
        |  round(CASE WHEN sum(dt) > 0
        |    THEN CAST(sum(v * dt) AS DOUBLE) / CAST(sum(dt) AS DOUBLE) END, 6) AS twap
        |FROM seg WHERE dt IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q188_hash_keys" ->
      """SELECT c_custkey,
        |md5(concat_ws('||', CAST(c_custkey AS VARCHAR))) AS hub_key,
        |sha256(concat_ws('||', upper(trim(c_name)), c_mktsegment,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR))) AS hash_diff
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q189_mom_growth" ->
      """WITH m AS (
        |  SELECT date_trunc('month', o_orderdate) AS month,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT month, revenue,
        |  CASE WHEN lag(revenue) OVER (ORDER BY month) IS NOT NULL
        |    AND lag(revenue) OVER (ORDER BY month) <> 0.0
        |  THEN (revenue - lag(revenue) OVER (ORDER BY month)) / lag(revenue) OVER (ORDER BY month) END AS growth
        |FROM m ORDER BY month""".stripMargin,

    "q190_weighted_median" ->
      """WITH byv AS (
        |  SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS v,
        |    sum(CAST(l_quantity AS BIGINT)) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, v,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
        |    sum(w) OVER (PARTITION BY l_returnflag) AS total
        |  FROM byv)
        |SELECT l_returnflag, min(v) AS weighted_median
        |FROM c WHERE cum * 2 >= total
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q191_gini" ->
      """WITH r AS (
        |  SELECT o_orderpriority, CAST(round(CAST(o_totalprice AS DOUBLE), 2) AS DECIMAL(12,2)) AS x
        |  FROM orders),
        |ranked AS (
        |  SELECT o_orderpriority, x,
        |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY x) AS i
        |  FROM r),
        |a AS (
        |  SELECT o_orderpriority, count(*) AS n, sum(x) AS sx, sum(x * (i * 2)) AS six
        |  FROM ranked GROUP BY 1)
        |SELECT o_orderpriority, n,
        |  CAST(ROUND(CAST(CASE WHEN sx <> 0 THEN
        |    (CAST(six AS DOUBLE) - CAST(n + 1 AS DOUBLE) * CAST(sx AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) END AS DECIMAL(18,12)), 6) AS DOUBLE) AS gini
        |FROM a ORDER BY o_orderpriority""".stripMargin,

    "q192_unicode_normalize" ->
      """WITH d AS (
        |  SELECT doc_id, text || ' cafe' || chr(769) || ' ' || chr(64257) || 'nal' AS s
        |  FROM documents)
        |SELECT doc_id,
        |  length(nfc_normalize(s)) AS len_nfc,
        |  md5(nfc_normalize(s)) AS fp_nfc
        |FROM d ORDER BY doc_id""".stripMargin,

    "q193_streaming_sessions" ->
      """WITH e AS (
        |  SELECT user_id, ts, epoch_ms(ts) AS ms,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events),
        |s AS (
        |  SELECT *, sum(CASE WHEN prev IS NULL OR ms - prev > 1800000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts) AS sess
        |  FROM e),
        |g AS (
        |  SELECT user_id AS uid, sess, min(ms) AS startMs, max(ms) AS endMs,
        |    count(*) AS nEvents
        |  FROM s GROUP BY 1, 2),
        |g2 AS (SELECT *, max(sess) OVER (PARTITION BY uid) AS last_sess FROM g),
        |m AS (SELECT max(epoch_ms(ts)) AS wm FROM events)
        |SELECT uid, startMs, endMs, nEvents
        |FROM g2 CROSS JOIN m
        |WHERE sess < last_sess OR endMs + 1800000 <= wm
        |ORDER BY uid, startMs""".stripMargin,

    "q195_percentile_bands" ->
      """WITH byv AS (
        |  SELECT l_linestatus, CAST(l_extendedprice AS DOUBLE) AS v, count(*) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT l_linestatus, v,
        |    sum(w) OVER (PARTITION BY l_linestatus ORDER BY v) AS cum,
        |    sum(w) OVER (PARTITION BY l_linestatus) AS total
        |  FROM byv),
        |x AS (SELECT * FROM c, UNNEST([25, 50, 75, 90]) AS t(p))
        |SELECT l_linestatus, p, min(v) AS value
        |FROM x WHERE cum * 100 >= p * total
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q196_systematic_sample" ->
      """SELECT rn, o_orderkey, o_totalprice FROM (
        |  SELECT row_number() OVER (ORDER BY o_orderkey) AS rn, o_orderkey, o_totalprice
        |  FROM orders)
        |WHERE (rn - 1) % 200 = 0 ORDER BY rn""".stripMargin,

    "q197_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders WHERE o_totalprice > 0),
        |t AS (SELECT count(*) AS tot FROM d)
        |SELECT digit, count(*) AS n,
        |  round(CAST(count(*) AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS freq
        |FROM d CROSS JOIN t GROUP BY digit, tot ORDER BY digit""".stripMargin,

    "q198_label_centroids" ->
      """SELECT label, CAST(i - 1 AS BIGINT) AS dim, count(*) AS n,
        |  CAST(ROUND(CAST(CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE), 6) AS DECIMAL(20,6))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS DECIMAL(18,12)), 6) AS DOUBLE) AS centroid
        |FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |GROUP BY label, dim ORDER BY label, dim""".stripMargin,

    "q199_psi" ->
      """WITH b AS (
        |  SELECT least(CAST(floor((value - 0.0) / (600.0 - 0.0) * 12) AS BIGINT), 11) AS bin,
        |    count(*) AS cb
        |  FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
        |    AND value >= 0.0 AND value <= 600.0 GROUP BY 1),
        |c AS (
        |  SELECT least(CAST(floor((value - 0.0) / (600.0 - 0.0) * 12) AS BIGINT), 11) AS bin,
        |    count(*) AS cc
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
        |    AND value >= 0.0 AND value <= 600.0 GROUP BY 1),
        |j AS (SELECT * FROM b JOIN c USING (bin)),
        |t AS (SELECT CAST(sum(cb) AS BIGINT) AS tb, CAST(sum(cc) AS BIGINT) AS tc FROM j)
        |SELECT max(tb) AS n_base, max(tc) AS n_cmp, count(*) AS n_bins_used,
        |  round(CAST(sum(CAST(round(
        |    (CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE) - CAST(cc AS DOUBLE) / CAST(tc AS DOUBLE))
        |    * ln((CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE)) / (CAST(cc AS DOUBLE) / CAST(tc AS DOUBLE))), 12)
        |    AS DECIMAL(28,12))) AS DOUBLE), 6) + 0.0 AS psi
        |FROM j CROSS JOIN t""".stripMargin,

    "q200_entity_resolution" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(lower(trim(a.c_name)), lower(trim(b.c_name))) AS BIGINT) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE a.c_mktsegment = 'BUILDING' AND b.c_mktsegment = 'BUILDING'
        |  AND levenshtein(lower(trim(a.c_name)), lower(trim(b.c_name))) <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    "q201_key_skew" ->
      """WITH c AS (SELECT l_suppkey, count(*) AS c FROM lineitem GROUP BY 1)
        |SELECT CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_keys, max(c) AS max_cnt,
        |  round(CAST(max(c) AS DOUBLE) * CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS skew
        |FROM c""".stripMargin,

    "q202_grouped_mode" ->
      """WITH counts AS (
        |  SELECT date_trunc('month', o_orderdate) AS month, o_orderpriority,
        |    count(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY month ORDER BY cnt DESC, o_orderpriority) AS rk
        |  FROM counts)
        |SELECT month, o_orderpriority AS mode_priority, cnt
        |FROM r WHERE rk = 1 ORDER BY month""".stripMargin,

    "q203_sequence_gaps" ->
      """WITH k AS (
        |  SELECT o_orderkey, lead(o_orderkey) OVER (ORDER BY o_orderkey) AS nxt
        |  FROM orders WHERE o_orderkey % 97 <> 0)
        |SELECT o_orderkey + 1 AS gap_start, nxt - 1 AS gap_end,
        |  nxt - o_orderkey - 1 AS missing
        |FROM k WHERE nxt IS NOT NULL AND nxt - o_orderkey > 1
        |ORDER BY gap_start""".stripMargin,

    "q204_restore" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_custkey""".stripMargin,

    "q205_revenue_share" ->
      """WITH n AS (
        |  SELECT r_name, n_name, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2)
        |SELECT r_name, n_name, CAST(rev AS DOUBLE) AS revenue,
        |  round(CAST(rev AS DOUBLE) / CAST(sum(rev) OVER (PARTITION BY r_name) AS DOUBLE), 6) AS share
        |FROM n ORDER BY r_name, n_name""".stripMargin,

    "q206_jaro_winkler" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  round(jaro_winkler_similarity(lower(trim(a.c_name)), lower(trim(b.c_name))), 6) AS jw
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE a.c_mktsegment = 'BUILDING' AND b.c_mktsegment = 'BUILDING'
        |  AND round(jaro_winkler_similarity(lower(trim(a.c_name)), lower(trim(b.c_name))), 6) >= 0.94
        |ORDER BY id_a, id_b""".stripMargin,

    "q207_table_diff" ->
      """WITH v1 AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
        |v2 AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
        |  FROM customer WHERE c_custkey % 11 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_mktsegment, c_acctbal FROM customer
        |  WHERE (c_custkey + 1000000) % 3 = 0)
        |SELECT 'delete' AS _change_type, count(*) AS n FROM v1
        |  WHERE c_custkey NOT IN (SELECT c_custkey FROM v2)
        |UNION ALL
        |SELECT 'insert', count(*) FROM v2
        |  WHERE c_custkey NOT IN (SELECT c_custkey FROM v1)
        |UNION ALL
        |SELECT 'update', count(*) FROM v1 JOIN v2 USING (c_custkey)
        |  WHERE v1.c_acctbal <> v2.c_acctbal OR v1.c_mktsegment <> v2.c_mktsegment
        |ORDER BY _change_type""".stripMargin,

    "q208_skyline" ->
      """WITH pts AS (
        |  SELECT DISTINCT CAST(l_extendedprice AS DOUBLE) AS x,
        |    CAST(l_discount AS DOUBLE) AS y
        |  FROM lineitem),
        |w AS (
        |  SELECT x, y, min(y) OVER (ORDER BY x, y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM pts)
        |SELECT x, y FROM w WHERE pm IS NULL OR y < pm ORDER BY x""".stripMargin,

    "q209_join_elimination" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders LEFT OUTER JOIN customer ON o_custkey = c_custkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q210_mad_outliers" ->
      """WITH v AS (SELECT event_type AS k, CAST(value AS DOUBLE) AS x FROM events),
        |byv AS (SELECT k, x, count(*) AS w FROM v GROUP BY 1, 2),
        |c1 AS (SELECT k, x,
        |  sum(w) OVER (PARTITION BY k ORDER BY x) AS cum,
        |  sum(w) OVER (PARTITION BY k) AS total FROM byv),
        |med AS (SELECT k, min(x) AS median FROM c1 WHERE cum * 2 >= total GROUP BY k),
        |d AS (SELECT v.k, v.x, abs(v.x - med.median) AS dd, med.median FROM v JOIN med USING (k)),
        |byd AS (SELECT k, dd, count(*) AS w FROM d GROUP BY 1, 2),
        |c2 AS (SELECT k, dd,
        |  sum(w) OVER (PARTITION BY k ORDER BY dd) AS cum,
        |  sum(w) OVER (PARTITION BY k) AS total FROM byd),
        |mad AS (SELECT k, min(dd) AS mad FROM c2 WHERE cum * 2 >= total GROUP BY k)
        |SELECT d.k AS event_type, count(*) AS n, max(d.median) AS median,
        |  max(mad.mad) AS mad,
        |  count(*) FILTER (d.dd > 3.0 * mad.mad) AS n_outliers
        |FROM d JOIN mad USING (k)
        |GROUP BY d.k ORDER BY event_type""".stripMargin,

    "q211_target_encoding" ->
      """WITH g AS (
        |  SELECT sum(CAST(round(o_totalprice, 2) AS DECIMAL(20,2))) AS gs, count(*) AS gn
        |  FROM orders),
        |c AS (
        |  SELECT o_orderpriority, count(*) AS n,
        |    sum(CAST(round(o_totalprice, 2) AS DECIMAL(20,2))) AS s
        |  FROM orders GROUP BY 1)
        |SELECT o_orderpriority, n,
        |  round((CAST(s AS DOUBLE) + 20.0 * (CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE)))
        |    / (CAST(n AS DOUBLE) + 20.0), 6) AS encoded
        |FROM c CROSS JOIN g ORDER BY o_orderpriority""".stripMargin,

    "q212_tfidf_topterms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t != '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM documents),
        |s AS (
        |  SELECT doc_id, term, tf,
        |    round(tf * ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS score
        |  FROM tf JOIN dfq USING (term) CROSS JOIN nn),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk FROM s)
        |SELECT doc_id, term, tf, score FROM r WHERE rk <= 3
        |ORDER BY doc_id, score DESC, term""".stripMargin,

    "q213_grouped_skyline" ->
      """WITH pts AS (
        |  SELECT DISTINCT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS x,
        |    CAST(l_discount AS DOUBLE) AS y
        |  FROM lineitem),
        |w AS (
        |  SELECT l_returnflag, x, y, min(y) OVER (PARTITION BY l_returnflag
        |    ORDER BY x, y ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM pts)
        |SELECT l_returnflag, x, y FROM w WHERE pm IS NULL OR y < pm
        |ORDER BY l_returnflag, x""".stripMargin,

    "q214_geometric_mean" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(exp(CAST(sum(CAST(round(ln(CAST(l_extendedprice AS DOUBLE)), 12) AS DECIMAL(28,12))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE)), 6) AS geo_mean
        |FROM lineitem WHERE l_extendedprice > 0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q215_minmax_scaling" ->
      """WITH s AS (
        |  SELECT s_suppkey, CAST(s_nationkey AS BIGINT) AS s_nationkey, s_acctbal,
        |    min(s_acctbal) OVER (PARTITION BY s_nationkey) AS mn,
        |    max(s_acctbal) OVER (PARTITION BY s_nationkey) AS mx
        |  FROM supplier)
        |SELECT s_suppkey, s_nationkey,
        |  CASE WHEN mx <> mn THEN round((s_acctbal - mn) / (mx - mn), 6) END AS scaled
        |FROM s ORDER BY s_suppkey""".stripMargin,

    "q216_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t != '')) AS term
        |  FROM documents),
        |counts AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
        |tot AS (SELECT count(*) AS total FROM toks),
        |r AS (
        |  SELECT term, cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rank
        |  FROM counts)
        |SELECT CAST(rank AS BIGINT) AS rank, term, cnt,
        |  round(CAST(sum(cnt) OVER (ORDER BY rank) AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cum_share
        |FROM r CROSS JOIN tot WHERE rank <= 10 ORDER BY rank""".stripMargin,

    "q217_embedding_norms" ->
      """WITH norms AS (
        |  SELECT vec_id, label,
        |    round(sqrt(CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE), 12) AS DECIMAL(28,12))) AS DOUBLE)), 6) AS norm
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
        |  GROUP BY vec_id, label)
        |SELECT label, count(*) AS n_vecs, min(norm) AS min_norm, max(norm) AS max_norm,
        |  round(CAST(sum(CAST(norm AS DECIMAL(20,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_norm
        |FROM norms GROUP BY label ORDER BY label""".stripMargin,

    "q218_hashdiff_changes" ->
      """WITH v1 AS (
        |  SELECT c_custkey, sha256(concat_ws('||', upper(trim(c_name)), c_mktsegment,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR))) AS hd
        |  FROM customer),
        |v2 AS (
        |  SELECT c_custkey, sha256(concat_ws('||', upper(trim(c_name)), c_mktsegment,
        |    CAST(CAST(CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 1.0 ELSE c_acctbal END AS DECIMAL(18,2)) AS VARCHAR))) AS hd
        |  FROM customer)
        |SELECT c_custkey, v1.hd AS hash_old, v2.hd AS hash_new
        |FROM v1 JOIN v2 USING (c_custkey)
        |WHERE v1.hd <> v2.hd ORDER BY c_custkey""".stripMargin,

    "q219_winsorize" ->
      """WITH byv AS (
        |  SELECT s_nationkey, CAST(s_acctbal AS DOUBLE) AS v, count(*) AS w
        |  FROM supplier GROUP BY 1, 2),
        |c AS (
        |  SELECT s_nationkey, v,
        |    sum(w) OVER (PARTITION BY s_nationkey ORDER BY v) AS cum,
        |    sum(w) OVER (PARTITION BY s_nationkey) AS total
        |  FROM byv),
        |x AS (SELECT * FROM c, UNNEST([10, 90]) AS t(p)),
        |bandrows AS (
        |  SELECT s_nationkey, p, min(v) AS value
        |  FROM x WHERE cum * 100 >= p * total GROUP BY 1, 2),
        |bands AS (
        |  SELECT s_nationkey,
        |    min(CASE WHEN p = 10 THEN value END) AS p10,
        |    min(CASE WHEN p = 90 THEN value END) AS p90
        |  FROM bandrows GROUP BY 1)
        |SELECT s_suppkey, CAST(s.s_nationkey AS BIGINT) AS s_nationkey, s_acctbal,
        |  least(greatest(s_acctbal, p10), p90) AS winsorized
        |FROM supplier s JOIN bands b ON s.s_nationkey = b.s_nationkey
        |ORDER BY s_suppkey""".stripMargin,

    "q236_domain_caps" ->
      """WITH t AS (
        |  SELECT doc_id, source, text,
        |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS ntok,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','by'], x))) AS stophits,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS npunct
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, source, CAST(
        |    (CASE WHEN ntok >= 10 THEN 0.25 ELSE 0.0 END)
        |    + (CASE WHEN CAST(npunct AS DOUBLE) / CAST(length(text) AS DOUBLE) < 0.1 THEN 0.25 ELSE 0.0 END)
        |    + (CASE WHEN CAST(stophits AS DOUBLE) / CAST(greatest(ntok, 1) AS DOUBLE) > 0.02 THEN 0.25 ELSE 0.0 END)
        |    + (CASE WHEN length(regexp_replace(text, '\s+', '', 'g')) / CAST(greatest(ntok, 1) AS DOUBLE) BETWEEN 3.0 AND 10.0 THEN 0.25 ELSE 0.0 END)
        |    AS DOUBLE) AS quality
        |  FROM t),
        |r AS (
        |  SELECT source, quality,
        |    row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rn
        |  FROM q)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_kept, avg(quality) AS avg_quality
        |FROM r WHERE rn <= 50 GROUP BY source ORDER BY source""".stripMargin,

    "q237_curation_pipeline" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x != '') AS lts,
        |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS ntok,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','by'], x))) AS stophits,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS npunct
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, ntok,
        |    len(list_filter(lts, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','by'], x))) AS en,
        |    len(list_filter(lts, x -> list_contains(['el','la','de','que','y','en','un','una','los','las','por','con','para','es','del'], x))) AS es,
        |    len(list_filter(lts, x -> list_contains(['der','die','das','und','in','den','von','zu','mit','sich','des','auf','ist','ein','eine'], x))) AS de,
        |    CAST(
        |      (CASE WHEN ntok >= 10 THEN 0.25 ELSE 0.0 END)
        |      + (CASE WHEN CAST(npunct AS DOUBLE) / CAST(length(text) AS DOUBLE) < 0.1 THEN 0.25 ELSE 0.0 END)
        |      + (CASE WHEN CAST(stophits AS DOUBLE) / CAST(greatest(ntok, 1) AS DOUBLE) > 0.02 THEN 0.25 ELSE 0.0 END)
        |      + (CASE WHEN length(regexp_replace(text, '\s+', '', 'g')) / CAST(greatest(ntok, 1) AS DOUBLE) BETWEEN 3.0 AND 10.0 THEN 0.25 ELSE 0.0 END)
        |      AS DOUBLE) AS quality,
        |    md5(array_to_string(list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), '\s+'), x -> x != ''), ' ')) AS fp
        |  FROM t),
        |gated AS (
        |  SELECT doc_id, fp, CAST(ntok AS BIGINT) AS n_tokens,
        |    CASE WHEN en >= es AND en >= de THEN 'en' WHEN es >= de THEN 'es' ELSE 'de' END AS lang_pred
        |  FROM s WHERE quality >= 0.5),
        |dedup AS (
        |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM gated)
        |SELECT lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM dedup WHERE rn = 1 GROUP BY lang_pred ORDER BY lang_pred""".stripMargin,
  )
}
