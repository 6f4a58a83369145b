package graft.sources

import graft.Ckpt.BarrierOps
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Overlap, Tables}
import graft.operators.{Dedup, TextPipeline}

/** Materialized storage layer: how graft tables are laid out on disk
  * so downstream queries don't pay shuffles.
  *
  * - `materializeGraph` writes chunks + mentions BUCKETED by doc_id
  *   (sorted within buckets): a chunk⋈mention join then plans with NO
  *   Exchange on either side — at 100 TB this is the difference
  *   between a join that moves nothing and one that moves everything.
  *   (SourcesSpec asserts the Exchange-free plan.)
  * - `writePartitioned` writes documents partitioned by lang:
  *   language-filtered scans prune whole directories
  *   (PartitionFilters, zero I/O for other languages).
  * - CSV/JSON round-trips cover the interchange formats.
  */
object Catalog {

  val Buckets = 16

  /** Drop a managed table AND clear a stale location (a previously
    * interrupted run may have left the directory without the catalog
    * entry).
    */
  private[graft] def dropManaged(spark: SparkSession, t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // the warehouse dir is the LOWERCASED identifier (Spark lowercases
    // managed-table names) — the raw name would miss the leftover on a
    // case-sensitive filesystem and re-fail with LOCATION_ALREADY_EXISTS
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      t.toLowerCase)
    if (loc.exists()) rmTree(loc)
  }

  /** Recursive delete shared by every local-cleanup path. */
  private[graft] def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }

  /** Write chunks + mentions as bucketed, sorted tables.
    *
    * Round 11: both tables derive from ONE checkpointed chunked-words
    * pass (the explode + offset window used to run once per table),
    * and the two independent writes run overlapped from a 2-thread
    * pool (guide §2.6 — the second write's tasks back-fill executors
    * the first write's tail leaves idle; job-description/thread
    * isolation is Spark's documented concurrent-jobs model).
    */
  def materializeGraph(spark: SparkSession, dir: String,
      chunksTable: String = "graft_chunks",
      mentionsTable: String = "graft_mentions"): Unit = {
    Seq(chunksTable, mentionsTable).foreach(dropManaged(spark, _))
    val words = TextPipeline
      .withChunkId(TextPipeline.wordsOf(Tables.documents(spark, dir)))
      .barrier()
    // unpersist once both writes land (or fail): the exploded-words
    // frame is only an ingest intermediate — without this it stays
    // pinned in executor storage through the amortized query segment
    // that follows (which reads the bucketed tables, not words)
    try Overlap.all(Seq(
      () => TextPipeline.chunksOfWords(words)
        .write.mode(SaveMode.Overwrite)
        .bucketBy(Buckets, "doc_id").sortBy("doc_id", "chunk_id")
        .saveAsTable(chunksTable),
      () => TextPipeline.mentionsOfWords(words)
        .write.mode(SaveMode.Overwrite)
        .bucketBy(Buckets, "doc_id").sortBy("doc_id", "chunk_id")
        .saveAsTable(mentionsTable))): Unit
    finally words.unpersist(blocking = false): Unit
  }

  /** Incremental graph ingest — the materialized-graph counterpart of
    * mergeVectors: a batch of NEW documents appends its chunk and
    * mention rows to the standing bucketed tables. Chunks/mentions
    * are pure per-doc functions of text, so batch-derived rows are
    * byte-identical to what a full rebuild would produce for those
    * doc_ids — no quantizer/codebook subtleties, just bucketed
    * appends; per-batch cost is the text pipeline over the batch
    * alone, independent of standing-table size.
    *
    * batch: (doc_id, text, …) rows whose doc_ids are not already in
    * the tables (caller contract, same as mergeDocuments).
    */
  def mergeGraph(spark: SparkSession, batch: DataFrame,
      chunksTable: String = "graft_chunks",
      mentionsTable: String = "graft_mentions"): Unit = {
    mergeChunks(spark, batch, chunksTable)
    mergeMentions(spark, batch, mentionsTable)
  }

  /** Chunk-table half of mergeGraph — exposed separately so a
    * replay-safe ingester can screen EACH standing table against its
    * own doc_id set (the two appends are not atomic; see
    * EventStream.ingestGraphBatch).
    */
  def mergeChunks(spark: SparkSession, batch: DataFrame,
      chunksTable: String = "graft_chunks"): Unit = {
    healSwap(spark, chunksTable)
    TextPipeline.chunksOf(batch)
      .write.mode(SaveMode.Append)
      .bucketBy(Buckets, "doc_id").sortBy("doc_id", "chunk_id")
      .saveAsTable(chunksTable)
  }

  /** Mention-table half of mergeGraph (same contract as mergeChunks). */
  def mergeMentions(spark: SparkSession, batch: DataFrame,
      mentionsTable: String = "graft_mentions"): Unit = {
    healSwap(spark, mentionsTable)
    TextPipeline.mentionsOf(batch)
      .write.mode(SaveMode.Append)
      .bucketBy(Buckets, "doc_id").sortBy("doc_id", "chunk_id")
      .saveAsTable(mentionsTable)
  }

  /** Write the dedup family's per-doc shingle sets as a bucketed,
    * sorted table — the ingest-once half of the amortized dedup path
    * (Dedup.MaterializedConf switches the family's reads onto it).
    * Bucketed by doc_id so the verification joins that re-attach
    * shingle sets to candidate pairs scan a pre-partitioned layout;
    * the text→shingle pass runs once per ingest instead of once per
    * dedup query.
    */
  def materializeShingles(spark: SparkSession, dir: String,
      table: String = "graft_shingles"): Unit = {
    dropManaged(spark, table)
    Dedup.shingleTable(spark, dir)
      .write.mode(SaveMode.Overwrite)
      .bucketBy(Buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(table)
  }

  /** Incremental shingle ingest — mergeGraph's counterpart for the
    * dedup family's standing table (same contract: NEW doc_ids only,
    * batch-sized cost, bucketed append).
    */
  def mergeShingles(spark: SparkSession, batch: DataFrame,
      table: String = "graft_shingles"): Unit = {
    healSwap(spark, table)
    Dedup.shinglesOf(batch)
      .write.mode(SaveMode.Append)
      .bucketBy(Buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(table)
  }

  /** Small-file compaction for a standing bucketed table: every
    * merge* append lands one file set per batch, so a
    * continuously-ingesting deployment accumulates files per bucket
    * until scan/open overhead dominates (the classic streaming-sink
    * pathology). Rewrites the table into a fresh single-file-set
    * bucket layout via stage-then-swap: the rewrite lands in
    * <table>_compacting, the old table drops only AFTER the rewrite
    * succeeded, and the rename is a catalog op — readers of the old
    * table are never exposed to a half-written layout. Contents,
    * bucket spec, and sort order are preserved (spec-pinned), so
    * every co-located join/prune property survives compaction.
    */
  def compactStandingTable(spark: SparkSession, table: String,
      bucketCol: String, sortCols: Seq[String]): Unit = {
    healSwap(spark, table)
    require(spark.catalog.tableExists(table), s"no such table: $table")
    stageThenSwap(spark, table, spark.table(table), bucketCol, sortCols)
  }

  /** The crash-ordered swap shared by every standing-table compactor:
    * the rewrite lands in <table>_compacting, the live name is
    * RENAMED aside (never dropped while the replacement is pending),
    * the rewrite takes the live name, and only then does the retired
    * copy drop. A crash at any point leaves either the live table or
    * a recoverable sibling that [[healSwap]] adopts — the previous
    * drop-then-rename order had a window where a crash left NO table,
    * and the next merge*'s Append silently re-created it empty
    * (corpus fork).
    */
  private def stageThenSwap(spark: SparkSession, table: String,
      df: DataFrame, bucketCol: String, sortCols: Seq[String]): Unit = {
    val tmp = s"${table}_compacting"
    val retired = s"${table}_retired"
    dropManaged(spark, tmp)
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(Buckets, bucketCol)
      .sortBy(sortCols.head, sortCols.tail: _*)
      .saveAsTable(tmp)
    dropManaged(spark, retired)
    spark.sql(s"ALTER TABLE $table RENAME TO $retired")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    dropManaged(spark, retired)
  }

  /** Adopt whichever side an interrupted [[stageThenSwap]] left
    * behind: if the live name is missing, a completed `_compacting`
    * rewrite wins (it holds the full contents), else the `_retired`
    * original is restored. Called by the compactors and every merge*
    * entry point so an Append can never re-create a swapped-away
    * table as empty.
    */
  private[graft] def healSwap(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      val tmp = s"${table}_compacting"
      val retired = s"${table}_retired"
      if (spark.catalog.tableExists(tmp))
        spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
      else if (spark.catalog.tableExists(retired))
        spark.sql(s"ALTER TABLE $retired RENAME TO $table")
    }

  /** Squash-compaction for the standing ANF register table:
    * mergeAnfDocs appends register-improvement generations per
    * (hop, node, reg) — dominated rows are read-repaired away by
    * anfRegsAt at query time but still cost scan I/O forever.
    * Rewrites each hop layer's max-merged view through the same
    * stage-then-swap as compactStandingTable (readers of the old
    * table never see a half-written layout). Unlike the generic
    * compactor this DROPS dominated rows — sound because anfRegsAt's
    * max-merge IS the read contract (spec-pinned: layers and served
    * estimates identical across the squash).
    */
  def compactAnfRegs(spark: SparkSession,
      regsTable: String = "graft_anf_regs"): Unit = {
    healSwap(spark, regsTable)
    require(spark.catalog.tableExists(regsTable), s"no such table: $regsTable")
    // ONE scan + one shuffle: the per-hop max IS a grouped max over
    // (hop, node, reg) — a per-hop anfRegsAt loop would re-scan the
    // (large, generation-accumulated) table once per hop
    val squashed = spark.table(regsTable)
      .groupBy("hop", "node", "reg").agg(max("mrho").as("mrho"))
      .select("hop", "node", "reg", "mrho")
    stageThenSwap(spark, regsTable, squashed, "node", Seq("node", "reg"))
  }

  /** Compact all ANN/graph/shingle/ANF standing tables that exist —
    * the periodic maintenance pass after a run of incremental merges.
    */
  def compactStandingTables(spark: SparkSession): Unit = {
    val specs = Seq(
      ("graft_ivf", "cid", Seq("cid", "vec_id")),
      ("graft_pq_codes", "vec_id", Seq("vec_id", "m")),
      ("graft_sq8", "vec_id", Seq("vec_id")),
      ("graft_bsig", "vec_id", Seq("vec_id")),
      ("graft_chunks", "doc_id", Seq("doc_id", "chunk_id")),
      ("graft_mentions", "doc_id", Seq("doc_id", "chunk_id")),
      ("graft_shingles", "doc_id", Seq("doc_id")),
      ("graft_anf_edges", "src", Seq("src", "dst")))
    specs.foreach { case (t, b, s) =>
      if (spark.catalog.tableExists(t)) compactStandingTable(spark, t, b, s)
    }
    // the register table gets the SQUASHING compactor (dominated
    // generations are dropped, not just re-filed)
    if (spark.catalog.tableExists("graft_anf_regs"))
      compactAnfRegs(spark)
  }

  /** Write the standing ANN artifacts — the IVF serving index
    * (cell-bucketed so a probe's cell scan is bucket-local), the PQ
    * code table (vec_id-bucketed for the members↔codes join), and the
    * trained PQ codebook (M·K rows, broadcast at query time) — the
    * three tables a FAISS-style deployment computes once at ingest.
    * Similarity.MaterializedConf switches the ANN family's reads onto
    * them: per-query work drops to probe-pick + cell scan + ADC
    * lookups, with assignment and codebook training fully amortized.
    */
  def materializeAnn(spark: SparkSession, dir: String,
      ivfTable: String = "graft_ivf",
      codesTable: String = "graft_pq_codes",
      codebookTable: String = "graft_pq_codebook",
      centroidsTable: String = "graft_ivf_centroids",
      sq8Table: String = "graft_sq8",
      bsigTable: String = "graft_bsig"): Unit = {
    import graft.operators.Similarity
    Seq(ivfTable, codesTable, codebookTable, centroidsTable,
        sq8Table, bsigTable)
      .foreach(dropManaged(spark, _))
    // ONE pinned vector frame feeds every artifact (previously four
    // independent vectors() scans re-ran the screen per table);
    // unpersisted once the writes settle (same reason as
    // materializeGraph's words frame)
    val e = Similarity.vectors(spark, dir).barrier()
    try {
    // Round 11: the four independent write CHAINS — {sq8}, {binary
    // sigs}, {centroids → IVF index}, {PQ codebook → PQ codes} — run
    // overlapped (guide §2.6). Within-chain order is preserved (the
    // serving index still assigns against the JUST-WRITTEN pinned
    // centroid table — the FAISS train-once contract; codes still
    // encode under the just-trained codebook), but no chain waits for
    // an unrelated one's write tail.
    Overlap.all(Seq(
      // the quantized serving twins: int8 codes + 8-byte sign words,
      // per-vector pure encodes (round 8 — q_ann_sq8 / q_ann_binary
      // read these instead of re-encoding the corpus per query)
      () => Similarity.sq8Codes(e)
        .write.mode(SaveMode.Overwrite)
        .bucketBy(Buckets, "vec_id").sortBy("vec_id")
        .saveAsTable(sq8Table),
      () => Similarity.binSigs(e)
        .write.mode(SaveMode.Overwrite)
        .bucketBy(Buckets, "vec_id").sortBy("vec_id")
        .saveAsTable(bsigTable),
      // the coarse quantizer is its OWN artifact (as in FAISS): k-means
      // TRAINED once at build time (Similarity.ivfCentroids) and pinned,
      // so later mergeVectors batches assign against the same centroids
      // the standing index was built under — quantizer drift is the
      // caller's retrain-policy decision, never an accident.
      () => {
        Similarity.ivfCentroids(spark, dir)
          .write.mode(SaveMode.Overwrite).saveAsTable(centroidsTable)
        Similarity.assignToCells(e, spark.table(centroidsTable))
          .join(e.select("vec_id", "v", "nrm"), "vec_id")
          .select("cid", "vec_id", "v", "nrm")
          .write.mode(SaveMode.Overwrite)
          .bucketBy(Buckets, "cid").sortBy("cid", "vec_id")
          .saveAsTable(ivfTable)
      },
      () => {
        val subs = Similarity.pqSubspaces(e)
        val cb = Similarity.pqTrainCodebook(subs)
        cb.write.mode(SaveMode.Overwrite).saveAsTable(codebookTable)
        Similarity.pqEncode(subs, cb)
          .write.mode(SaveMode.Overwrite)
          .bucketBy(Buckets, "vec_id").sortBy("vec_id", "m")
          .saveAsTable(codesTable)
      })): Unit
    } finally e.unpersist(blocking = false): Unit
  }

  /** Incremental ANN ingest — FAISS add() semantics: new vectors join
    * the standing index WITHOUT retraining anything. The coarse
    * quantizer stays the PINNED centroid table materializeAnn wrote
    * (never re-derived from data, so batches can't pollute it), the
    * PQ codebook stays the trained table, and the
    * batch appends as bucketed files alongside the existing ones —
    * per-batch cost is batch_size·K assignment dot products plus
    * batch_size·M code argmins, independent of standing-index size.
    * Quantizer drift is the retrain-policy decision (FAISS leaves it
    * to the caller too); materializeAnn is the full rebuild.
    *
    * batch: (vec_id, embedding, …) rows whose vec_ids are not already
    * indexed (caller contract, same as mergeDocuments' key ownership).
    */
  def mergeVectors(spark: SparkSession, batch: DataFrame,
      ivfTable: String = "graft_ivf",
      codesTable: String = "graft_pq_codes",
      codebookTable: String = "graft_pq_codebook",
      centroidsTable: String = "graft_ivf_centroids",
      sq8Table: String = "graft_sq8",
      bsigTable: String = "graft_bsig"): Unit = {
    import graft.operators.Similarity
    // same bootstrap contract as mergeAnfDocs: a missing quantizer
    // inside a streaming foreachBatch must name the build step, not
    // retry-loop on TABLE_OR_VIEW_NOT_FOUND
    require(spark.catalog.tableExists(centroidsTable) &&
        spark.catalog.tableExists(codebookTable),
      s"standing ANN tables $centroidsTable/$codebookTable missing — " +
        "run materializeAnn once before merging batches")
    Seq(ivfTable, codesTable, sq8Table, bsigTable)
      .foreach(healSwap(spark, _))
    val e = Similarity.prepVectors(batch).barrier(false)
    val cents = spark.table(centroidsTable)
    Similarity.assignToCells(e, cents)
      .join(e.select("vec_id", "v", "nrm"), "vec_id")
      .select("cid", "vec_id", "v", "nrm")
      .write.mode(SaveMode.Append)
      .bucketBy(Buckets, "cid").sortBy("cid", "vec_id")
      .saveAsTable(ivfTable)
    Similarity.pqEncode(Similarity.pqSubspaces(e), spark.table(codebookTable))
      .write.mode(SaveMode.Append)
      .bucketBy(Buckets, "vec_id").sortBy("vec_id", "m")
      .saveAsTable(codesTable)
    // sq8 and binary codes are per-vector pure functions — incremental
    // encode == rebuild for the batch rows, no pinned state involved
    if (spark.catalog.tableExists(sq8Table))
      Similarity.sq8Codes(e)
        .write.mode(SaveMode.Append)
        .bucketBy(Buckets, "vec_id").sortBy("vec_id")
        .saveAsTable(sq8Table)
    if (spark.catalog.tableExists(bsigTable))
      Similarity.binSigs(e)
        .write.mode(SaveMode.Append)
        .bucketBy(Buckets, "vec_id").sortBy("vec_id")
        .saveAsTable(bsigTable)
  }

  /** Standing HyperANF artifact: the per-hop register layers
    * (hop, node, reg, mrho) plus the dedup'd unweighted edge set the
    * layers were propagated over — distance-distribution serving
    * (effective diameter, reach curves) becomes a register-table
    * aggregate with NO BFS at query time (anfEstimates), and new
    * documents maintain the layers incrementally (mergeAnfDocs)
    * instead of recomputing V×m×hops register state per ingest.
    * Register layout and propagation are exactly qAnfHll's
    * (Analytics.anfRegInit / the full-propagation recurrence the
    * OperatorsSpec replay pins).
    */
  def materializeAnf(spark: SparkSession, dir: String,
      regsTable: String = "graft_anf_regs",
      edgesTable: String = "graft_anf_edges"): Unit = {
    import graft.graph.Analytics
    Seq(regsTable, edgesTable).foreach(dropManaged(spark, _))
    val e = Analytics.edges(spark, dir).select("src", "dst").distinct()
      .barrier()
    e.write.mode(SaveMode.Overwrite)
      .bucketBy(Buckets, "src").sortBy("src", "dst")
      .saveAsTable(edgesTable)
    var regs = Analytics
      .anfRegInit(e.select(col("src").as("node")).distinct())
      .barrier()
    def layer(r: DataFrame, hop: Int): DataFrame =
      r.select(lit(hop).as("hop"), col("node"), col("reg"), col("mrho"))
    layer(regs, 0).write.mode(SaveMode.Overwrite)
      .bucketBy(Buckets, "node").sortBy("node", "reg")
      .saveAsTable(regsTable)
    for (h <- 1 to Analytics.AnfHops) {
      val prop = regs.withColumnRenamed("node", "src").join(e, "src")
        .select(col("dst").as("node"), col("reg"), col("mrho"))
      regs = regs.unionByName(prop)
        .groupBy("node", "reg").agg(max("mrho").as("mrho"))
        .barrier()
      layer(regs, h).write.mode(SaveMode.Append)
        .bucketBy(Buckets, "node").sortBy("node", "reg")
        .saveAsTable(regsTable)
    }
  }

  /** Read-repair view of one register layer: mergeAnfDocs appends
    * register IMPROVEMENTS as new generations, so readers take the
    * per-(node, reg) max — the HLL union is the same max, which is
    * why append-only maintenance is sound here.
    */
  def anfRegsAt(spark: SparkSession, hop: Int,
      regsTable: String = "graft_anf_regs"): DataFrame =
    spark.table(regsTable).filter(col("hop") === hop)
      .groupBy("node", "reg").agg(max("mrho").as("mrho"))

  /** Serving-shape neighborhood function from the standing registers:
    * per-hop estimates with no BFS at query time (spec-pinned equal
    * to qAnfHll's output on the same corpus).
    */
  def anfEstimates(spark: SparkSession,
      regsTable: String = "graft_anf_regs"): DataFrame = {
    import graft.graph.Analytics
    // ONE scan of the (generation-accumulated) register table: the
    // read-repair max and the per-hop estimates ride a single
    // hop-grouped plan — a per-hop anfRegsAt loop re-scanned the
    // table once per hop on exactly the hot serving path. The static
    // hop frame keeps the AnfHops+1-row contract on an edge-free
    // corpus (a grouped agg emits nothing for absent hops).
    import spark.implicits._
    val est = Analytics.anfEstByHop(
      spark.table(regsTable)
        .groupBy("hop", "node", "reg").agg(max("mrho").as("mrho")))
    (0 to Analytics.AnfHops).map(_.toLong).toDF("hop")
      .join(est, Seq("hop"), "left")
      .select(col("hop"),
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("nf_milli"), lit(0L)).as("nf_milli"),
        round(coalesce(col("nf_milli"), lit(0L)) / lit(1000.0), 3).as("nf_est"))
      .orderBy("hop")
  }

  /** Incremental HyperANF ingest: a NEW-doc batch's co-occurrence
    * edges join the standing register layers WITHOUT a rebuild.
    * Additions are the monotone direction of the register
    * max-lattice, so bounded delta rounds land on exactly the rebuilt
    * fixpoint (spec-pinned set-equal): new nodes seed hop 0, then
    * each hop absorbs (a) the batch's cone at the previous hop
    * crossing ALL edges, (b) the previous hop's full layer crossing
    * ALL of the batch's edges (standing or not — using only
    * never-seen edges here would leave term (b) empty on a
    * crash-replay whose edges already landed), and (c) the cone
    * itself (the r_h ⊇ r_{h-1} invariant) — everything else is
    * dominated by the old fixpoint and never moves. Appended rows are register
    * improvements only, so per-batch cost follows the affected
    * neighborhood, not the corpus. Edge DELETIONS are a rebuild
    * (sketches cannot unmerge — the FAISS remove() contract).
    */
  def mergeAnfDocs(spark: SparkSession, batch: DataFrame,
      regsTable: String = "graft_anf_regs",
      edgesTable: String = "graft_anf_edges"): Unit = {
    import graft.graph.Analytics
    // explicit bootstrap precondition: inside a streaming foreachBatch
    // a raw TABLE_OR_VIEW_NOT_FOUND would kill the query into an
    // unbounded retry loop with an error naming a table, not the
    // missing build step
    Seq(edgesTable, regsTable).foreach(healSwap(spark, _))
    require(spark.catalog.tableExists(edgesTable) &&
        spark.catalog.tableExists(regsTable),
      s"standing ANF tables $edgesTable/$regsTable missing — " +
        "run materializeAnf once before merging batches")
    // eager: pinned BEFORE the edge append below rewrites the table
    // the anti-join reads
    val batchEdges = Analytics.edgesOf(batch).barrier()
    if (batchEdges.isEmpty) return
    val newEdges = batchEdges
      .join(spark.table(edgesTable), Seq("src", "dst"), "left_anti")
      .barrier()
    if (!newEdges.isEmpty)
      newEdges.write.mode(SaveMode.Append)
        .bucketBy(Buckets, "src").sortBy("src", "dst")
        .saveAsTable(edgesTable)
    // Propagation walks the batch's TOUCHED CONE — every (node, reg)
    // candidate derivable from the batch's nodes at each hop, carried
    // at its CURRENT table value — rather than the smaller
    // improved-rows-only (systolic) seed. The cone recurrence is a
    // pure function of (standing tables, batchEdges), so a replay
    // after a crash at ANY point (between the edge append and any
    // layer append, or mid-layers) recomputes the same cone against
    // the healed-so-far state and fills exactly what is missing; the
    // systolic seed is cheaper but loses improvement flows across OLD
    // edges when a replay finds earlier layers already appended —
    // correctness over the smaller join. A fully-applied replay
    // appends nothing (every candidate dominated): the merge is
    // idempotent WITHOUT a ledger (the streaming twin adds one only
    // to bound the wasted cone walk).
    // lazy on purpose: nothing mutates edgesTable after the append
    // above, and an eager checkpoint would pin the FULL corpus edge
    // list into block storage on every micro-batch of the streaming
    // twin — four bucketed disk scans are the cheaper read
    val allEdges = spark.table(edgesTable).select("src", "dst")
    def layer(r: DataFrame, hop: Int): DataFrame =
      r.select(lit(hop).as("hop"), col("node"), col("reg"), col("mrho"))
    def appendLayer(r: DataFrame, hop: Int): Unit =
      if (!r.isEmpty)
        layer(r, hop).write.mode(SaveMode.Append)
          .bucketBy(Buckets, "node").sortBy("node", "reg")
          .saveAsTable(regsTable)
    // hop 0: registers for nodes layer 0 does not know yet (eager
    // before its own append)
    val batchNodes = batchEdges.select(col("src").as("node")).distinct()
      .barrier()
    val newNodes = batchNodes
      .join(anfRegsAt(spark, 0, regsTable).select("node").distinct(),
        Seq("node"), "left_anti")
    appendLayer(Analytics.anfRegInit(newNodes).barrier(), 0)
    // cone at hop 0 = the batch nodes' (post-append) layer-0 rows
    var touched = anfRegsAt(spark, 0, regsTable)
      .join(batchNodes, Seq("node"))
      .barrier()
    for (h <- 1 to Analytics.AnfHops) {
      // post-append view: r_{h-1}_new = old layer ∪ its improvements
      val prevFull = anfRegsAt(spark, h - 1, regsTable)
      val cand = touched
        .unionByName(touched.withColumnRenamed("node", "src")
          .join(allEdges, "src")
          .select(col("dst").as("node"), col("reg"), col("mrho")))
        .unionByName(prevFull.withColumnRenamed("node", "src")
          .join(batchEdges, "src")
          .select(col("dst").as("node"), col("reg"), col("mrho")))
        .groupBy("node", "reg").agg(max("mrho").as("mrho"))
        .barrier() // eager before this layer's append
      val improved = cand
        .join(anfRegsAt(spark, h, regsTable).withColumnRenamed("mrho", "old"),
          Seq("node", "reg"), "left")
        .filter(col("old").isNull || col("mrho") > col("old"))
        .select("node", "reg", "mrho")
        .barrier()
      appendLayer(improved, h)
      touched = cand
    }
  }

  /** The co-located join over the bucketed tables: both per-doc
    * aggregations AND the join run on the bucket layout, so nothing
    * shuffles on doc_id (join keys must equal the bucket spec —
    * partial-key matches are rejected by the planner).
    */
  def bucketedJoin(spark: SparkSession,
      chunksTable: String = "graft_chunks",
      mentionsTable: String = "graft_mentions"): DataFrame = {
    val cstats = spark.table(chunksTable)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(length(col("chunk_text"))).as("total_chars"))
    val mstats = spark.table(mentionsTable)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_mentions"))
    cstats.join(mstats, "doc_id")
  }

  /** Z-order clustered layout: documents sorted by the Morton
    * interleave of (n_chars, doc_id) — `functions.ZOrder64` — then
    * range-partitioned into nFiles on the z-value. Rows close in BOTH
    * dimensions land in the same file, so every file's parquet footer
    * carries a tight min/max on BOTH columns and a 2-D predicate
    * prunes at the file/row-group level (a single-column sort can
    * only tighten one column's footers). This is the lakehouse
    * OPTIMIZE ZORDER layout expressed with stock Spark machinery:
    * one native expression + repartitionByRange + sortWithinPartitions
    * — the range partitioner's sample pass is the only extra cost,
    * and nothing here is local-mode-specific (at 100 TB, nFiles
    * scales with corpus bytes / target file size).
    */
  /** The z-clustered documents DataFrame (one output file per range
    * partition) — exposed so callers can route the SAME layout through
    * any sink: a plain parquet write (writeZOrdered) or a snapshot
    * commit (where re-reading an already-written copy would let the
    * scan bin-pack the small files together and coarsen the layout).
    */
  def zOrderedDocuments(spark: SparkSession, dir: String,
      nFiles: Int = 8): DataFrame = {
    import graft.functions.ZOrder64.zorder64
    Tables.documents(spark, dir)
      .withColumn("zv", zorder64(col("n_chars"), col("doc_id")))
      .repartitionByRange(nFiles, col("zv"))
      .sortWithinPartitions("zv")
      .drop("zv")
  }

  def writeZOrdered(spark: SparkSession, dir: String, outPath: String,
      nFiles: Int = 8): Unit =
    zOrderedDocuments(spark, dir, nFiles)
      .write.mode(SaveMode.Overwrite).parquet(outPath)

  /** 2-D box scan over the z-ordered layout (ORACLE-CHECKED): commit
    * the clustered copy as a MANIFEST SNAPSHOT, read it back through
    * manifest-level stats pruning under a predicate on both
    * clustering columns, and return the matching rows — hash-equal to
    * the same filter on the original table proves the whole path
    * (layout transform → stats collection → manifest pruning →
    * residual filter) is lossless and filter-correct. ZOrderSpec
    * separately proves the locality claims (fewer files than a
    * hash-scattered layout; pruned set ⊇ the truly-touched set and
    * strictly smaller than the snapshot).
    */
  def qZOrderScan(spark: SparkSession, dir: String): DataFrame = {
    // per-process path: two JVMs running this query against the same
    // sf dir must not Overwrite each other's copy mid-scan (litter is
    // bounded at one dir per process; vacuum keeps one live version)
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_zorder_${ProcessHandle.current().pid()}_${new java.io.File(dir).getName}").getPath
    val v = snapshotCommit(spark, zOrderedDocuments(spark, dir), out)
    vacuumSnapshots(out, keep = 1)
    readSnapshotPruned(spark, out,
        Map("doc_id" -> (100L, 299L), "n_chars" -> (100L, 300L)), version = v)
      .filter(col("doc_id").between(100, 299) &&
        col("n_chars").between(100, 300))
      .select(col("doc_id"), col("n_chars"), col("lang"),
        md5(col("text")).as("text_md5"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q_zorder_scan" -> (qZOrderScan _))

  val oracles: Map[String, String] = Map(
    "q_zorder_scan" ->
      """SELECT doc_id, n_chars, lang, md5(text) AS text_md5
        |FROM documents
        |WHERE doc_id BETWEEN 100 AND 299 AND n_chars BETWEEN 100 AND 300""".stripMargin)

  /** Documents partitioned by lang → per-language directory pruning. */
  def writePartitioned(spark: SparkSession, dir: String, outPath: String): Unit =
    Tables.documents(spark, dir)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("lang")
      .parquet(outPath)

  def readLang(spark: SparkSession, outPath: String, lang: String): DataFrame =
    spark.read.parquet(outPath).filter(col("lang") === lang)

  // ---- MERGE-style incremental ingest ---------------------------------

  val MergeBuckets = 16

  private def bucketed(df: DataFrame, keyCol: String): DataFrame =
    df.withColumn("bucket", pmod(hash(col(keyCol)), lit(MergeBuckets)))

  /** Seed the upsert-able layout: rows hash-bucketed by key into
    * `bucket=N` partition directories.
    */
  def initMerged(spark: SparkSession, df: DataFrame, path: String,
      keyCol: String = "doc_id"): Unit =
    bucketed(df, keyCol).write.mode(SaveMode.Overwrite)
      .partitionBy("bucket").parquet(path)

  /** Incremental MERGE by natural key — the relational form of the
    * reference's idempotent Neo4j `MERGE` re-crawl (graph.py:44-131):
    * re-ingesting a batch is a no-op, a changed row wins over the
    * stored one, new keys append.
    *
    * Scale shape (the path that actually runs daily at 100 TB):
    *   1. the update batch is hash-bucketed on the key;
    *   2. ONLY the touched `bucket=N` partitions of the base are read
    *      (partition pruning — the other (MergeBuckets−1)/MergeBuckets
    *      of the corpus is never opened);
    *   3. base∪updates compact per key (newest generation wins) — one
    *      key shuffle over the touched slice only;
    *   4. compacted buckets land in a staging dir and are swapped in
    *      with O(#buckets) directory renames — base is never read and
    *      overwritten in the same job.
    * Precondition (as with MERGE on a unique uid): one row per key
    * within a batch.
    */
  def mergeDocuments(spark: SparkSession, path: String, updates: DataFrame,
      keyCol: String = "doc_id"): Unit = {
    import org.apache.spark.sql.expressions.Window
    val up = bucketed(updates, keyCol).withColumn("gen", lit(1))
    val touched = up.select("bucket").distinct().collect().map(_.getInt(0))
    val base = spark.read.parquet(path)
      .filter(col("bucket").isin(touched.map(Integer.valueOf).toSeq: _*))
      .withColumn("gen", lit(0))
    val w = Window.partitionBy(keyCol).orderBy(col("gen").desc)
    val compacted = base.unionByName(up.select(base.columns.map(col).toSeq: _*))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "gen")
    val stage = path + ".staging"
    compacted.write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(stage)
    // commit: per-bucket directory swap (metadata ops, not data I/O)
    touched.foreach { b =>
      val dst = new java.io.File(path, s"bucket=$b")
      val src = new java.io.File(stage, s"bucket=$b")
      if (dst.exists()) rmTree(dst)
      require(src.renameTo(dst), s"failed to commit bucket $b")
    }
    rmTree(new java.io.File(stage))
    // drop the cached file listing — subsequent reads must see the
    // swapped bucket directories, not the pre-merge file names
    spark.catalog.refreshByPath(path)
  }

  def readMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop("bucket")

  // ---- Manifest-based snapshot isolation ------------------------------

  /** Snapshot commit (the Iceberg-style core, minus the catalog
    * service): data files are staged under `data/v{N}/` (deterministic
    * — a retry of a crashed commit overwrites its own strays; see the
    * single-writer note below), then made visible by writing
    * `v{N}.manifest` (the file list) and
    * flipping the tiny `_latest` pointer file LAST via atomic rename.
    * A reader pins whatever manifest the pointer named when its scan
    * was constructed, so it is immune to concurrent commits and can
    * never observe a half-written table — a failed writer leaves only
    * invisible stray files (no pointer flip, no manifest). Old
    * versions stay readable (time travel) until [[vacuumSnapshots]].
    * At 100 TB this is the difference between "replace the table"
    * being a multi-hour window of readers seeing mixed state and a
    * single metadata flip; the commit cost is O(#files) manifest
    * lines + one rename, independent of data volume.
    *
    * `overwrite = false` appends: the new manifest lists the previous
    * version's files plus the staged ones (data files are immutable
    * and shared across versions). Single-writer-at-a-time, like any
    * manifest table without a locking catalog service in front.
    */
  /** Columns per-file min/max stats are collected for at commit time
    * (manifest-level pruning; see [[readSnapshotPruned]]).
    */
  val StatColumns: Seq[String] = Seq("doc_id", "n_chars", "lang")

  def snapshotCommit(spark: SparkSession, df: DataFrame, path: String,
      overwrite: Boolean = true): Int = {
    val root = new java.io.File(path)
    root.mkdirs()
    val prev = latestVersion(path)
    val version = prev + 1
    val stage = new java.io.File(root, f"data/v$version%05d")
    df.write.mode(SaveMode.Overwrite).parquet(stage.getPath)
    val staged = Option(stage.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getPath).sorted
    // Per-file min/max stats for the manifest (the Iceberg/Delta
    // move): ONE pass over the staged files grouped by
    // input_file_name, so a box query can prune at MANIFEST level —
    // at 100 TB parquet-footer pruning still pays a listing + footer
    // read per file; the manifest answers from metadata alone. The
    // collect is manifest-sized (O(#files) — the same bound as the
    // manifest write itself). Manifest line: path [\t col \t min \t
    // max]*; columns with NULL or separator-carrying extremes are
    // simply omitted (absent stats → never pruned, always safe).
    val statCols = df.columns.filter(StatColumns.contains)
    val statsOf: Map[String, Seq[String]] =
      if (statCols.isEmpty) Map.empty
      else {
        val aggs = statCols.flatMap(c => Seq(
          min(col(c)).cast("string").as(s"mn_$c"),
          max(col(c)).cast("string").as(s"mx_$c")))
        spark.read.parquet(stage.getPath)
          .groupBy(input_file_name().as("f"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
          .map { r =>
            // input_file_name is a URI (file:///…); staged paths are
            // plain absolute paths — normalize through URI
            val raw = r.getString(0)
            val p = try new java.net.URI(raw).getPath catch {
              case _: Exception => raw.stripPrefix("file:")
            }
            val triples = statCols.zipWithIndex.flatMap { case (c, i) =>
              (Option(r.getString(1 + 2 * i)), Option(r.getString(2 + 2 * i))) match {
                case (Some(mn), Some(mx))
                    if !(mn + mx).exists(ch => ch == '\t' || ch == '\n') =>
                  Seq(c, mn, mx)
                case _ => Seq.empty
              }
            }
            p -> triples.toSeq
          }.toMap
      }
    val stagedLines = staged.map(p =>
      (p +: statsOf.getOrElse(p, Seq.empty)).mkString("\t"))
    val carried =
      if (overwrite || prev == 0) Seq.empty
      else manifestLines(path, prev)
    val manifest = new java.io.File(root, s"v$version.manifest")
    java.nio.file.Files.write(manifest.toPath,
      (carried ++ stagedLines).mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the commit point: readers see the new version only after this
    // rename (atomic on POSIX; object stores use a conditional put)
    val tmp = new java.io.File(root, "_latest.tmp")
    java.nio.file.Files.write(tmp.toPath,
      version.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(root, "_latest").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    version
  }

  def latestVersion(path: String): Int = {
    val p = new java.io.File(path, "_latest")
    if (p.exists())
      new String(java.nio.file.Files.readAllBytes(p.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim.toInt
    else 0
  }

  private def manifestLines(path: String, version: Int): Seq[String] = {
    val m = new java.io.File(path, s"v$version.manifest")
    require(m.exists(), s"no manifest for version $version at $path")
    new String(java.nio.file.Files.readAllBytes(m.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).toSeq
  }

  /** One manifest entry: the data file plus its per-column (min, max)
    * stats (absent for pre-stats manifests or skipped columns).
    */
  case class ManifestEntry(path: String, stats: Map[String, (String, String)])

  private def manifestEntries(path: String, version: Int): Seq[ManifestEntry] =
    manifestLines(path, version).map { line =>
      val fields = line.split("\t", -1)
      ManifestEntry(fields.head,
        fields.drop(1).grouped(3).collect {
          case Array(c, mn, mx) => c -> (mn, mx)
        }.toMap)
    }

  private def manifestFiles(path: String, version: Int): Seq[String] =
    manifestEntries(path, version).map(_.path)

  /** Manifest-level file pruning: keep only files whose stats can
    * match `ranges` (numeric inclusive [lo, hi] per column) and `eqs`
    * (string equality; lexicographic min/max containment). Files
    * without stats for a referenced column are kept — absence of
    * evidence never prunes. Returns (surviving files, total files).
    * Composes with [[writeZOrdered]]: committing the z-ordered layout
    * gives every file a tight box in (doc_id, n_chars), so a box
    * query opens only the files its box overlaps — the scan plan
    * never even lists the rest (they are dropped before
    * spark.read.parquet is constructed).
    */
  def prunedSnapshotFiles(path: String, ranges: Map[String, (Long, Long)],
      eqs: Map[String, String] = Map.empty,
      version: Int = -1): (Seq[String], Int) = {
    val latest = latestVersion(path)
    val v = if (version > 0) version else latest
    require(v > 0, s"no committed snapshot at $path")
    // same committed-versions-only contract as readSnapshot: a stray
    // manifest from a writer that died before its pointer flip is not
    // readable state (a commit retry rewrites its files underneath)
    require(v <= latest,
      s"version $v at $path is not committed (latest is $latest)")
    val entries = manifestEntries(path, v)
    def liveFor(e: ManifestEntry): Boolean = {
      val numOk = ranges.forall { case (c, (lo, hi)) =>
        e.stats.get(c).forall { case (mn, mx) =>
          // toDoubleOption, not toLong: decimal-string stats ("7.5")
          // must still prune numerically — the toLong version threw
          // and kept every file for non-integer numeric columns
          (mn.toDoubleOption, mx.toDoubleOption) match {
            case (Some(a), Some(b)) => !(b < lo || a > hi)
            case _ => true // unknown → keep
          }
        }
      }
      // numeric-looking stats compare as numbers (lexicographic "7" >
      // "30" would wrongly prune a file containing doc_id 7) — for
      // ANY numeric encoding, integer or decimal. Lexicographic
      // containment applies only when bounds AND value are all
      // non-numeric (true string columns, whose stats really are
      // lexicographic min/max); a mixed case has no sound compare, so
      // it keeps the file — absence of evidence never prunes.
      val eqOk = eqs.forall { case (c, value) =>
        e.stats.get(c).forall { case (mn, mx) =>
          (mn.toDoubleOption, mx.toDoubleOption, value.toDoubleOption) match {
            case (Some(a), Some(b), Some(v)) => a <= v && v <= b
            case (None, None, None) => mn <= value && value <= mx
            case _ => true
          }
        }
      }
      numOk && eqOk
    }
    (entries.filter(liveFor).map(_.path), entries.size)
  }

  /** Read a snapshot with manifest-level pruning applied. The pruning
    * is a FILE-SELECTION step only — callers still apply their row
    * filter (pruning keeps any file that could match; the residual
    * filter drops the rest of its rows).
    */
  def readSnapshotPruned(spark: SparkSession, path: String,
      ranges: Map[String, (Long, Long)],
      eqs: Map[String, String] = Map.empty,
      version: Int = -1): DataFrame = {
    val (files, _) = prunedSnapshotFiles(path, ranges, eqs, version)
    if (files.isEmpty)
      readSnapshot(spark, path, version).limit(0)
    else spark.read.parquet(files: _*)
  }

  /** Read a snapshot: the given version, or the committed latest. The
    * file list is resolved HERE, at scan construction — concurrent
    * commits after this call cannot change what this DataFrame reads.
    * Explicit versions must be committed: a stray manifest from a
    * writer that died before its pointer flip is not readable state.
    */
  def readSnapshot(spark: SparkSession, path: String,
      version: Int = -1): DataFrame = {
    val latest = latestVersion(path)
    val v = if (version > 0) version else latest
    require(v > 0, s"no committed snapshot at $path")
    require(v <= latest,
      s"version $v at $path is not committed (latest is $latest)")
    spark.read.parquet(manifestFiles(path, v): _*)
  }

  /** Drop all versions older than the newest `keep`, deleting data
    * files no surviving manifest references (immutable files are
    * shared across versions, so reference counting is the file-set
    * union). Run OUTSIDE any reader's pin window (the usual
    * retention-period contract).
    */
  def vacuumSnapshots(path: String, keep: Int = 1): Unit = {
    // keep=0 would compute live=∅ and delete the committed version's
    // files while _latest still points at it — unrecoverable
    require(keep >= 1, s"vacuum must keep at least the live version (keep=$keep)")
    val latest = latestVersion(path)
    val cut = latest - keep + 1
    if (cut <= 1) return
    def manifestExists(v: Int) =
      new java.io.File(path, s"v$v.manifest").exists()
    // a prior, tighter vacuum may already have dropped manifests
    // inside this retention window — only surviving ones define live
    val live = (cut to latest).filter(manifestExists)
      .flatMap(v => manifestFiles(path, v)).toSet
    (1 until cut).filter(manifestExists).foreach { v =>
      val dirs = scala.collection.mutable.Set.empty[java.io.File]
      manifestFiles(path, v).filterNot(live.contains).foreach { f =>
        val file = new java.io.File(f)
        dirs += file.getParentFile
        file.delete(); ()
      }
      // reclaim the staging dirs too: once no parquet survives, drop
      // the write markers (_SUCCESS, .crc checksums) and the empty
      // dir itself — otherwise every overwritten version leaves
      // listing litter
      dirs.foreach { d =>
        val left = Option(d.listFiles()).getOrElse(Array.empty)
        if (!left.exists(_.getName.endsWith(".parquet"))) {
          left.filter(_.isFile).foreach(f => { f.delete(); () })
          d.delete(); ()
        }
      }
      new java.io.File(path, s"v$v.manifest").delete(); ()
    }
  }

  /** CSV round-trip (header + explicit schema on read). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def readCsv(spark: SparkSession, path: String, schemaDdl: String): DataFrame =
    spark.read.option("header", "true").schema(schemaDdl).csv(path)

  /** JSON-lines round-trip. */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  def readJson(spark: SparkSession, path: String, schemaDdl: String): DataFrame =
    spark.read.schema(schemaDdl).json(path)

  /** ORC round-trip — the other columnar interchange format warehouses
    * hand over (schema travels in the file, like parquet).
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Small-file compaction (the OPTIMIZE housekeeping pass): rewrite a
    * parquet directory into ceil(bytes / targetBytes) files (≥ 1).
    * Streaming sinks and incremental MERGE batches fragment a table
    * into thousands of KB-sized files; at 100 TB the scan's task
    * count — and the NameNode/listing pressure — follows the file
    * count, so compaction is the difference between a scan with
    * right-sized splits and one with a million 50 KB tasks. The
    * rewrite goes through a temp dir then an atomic-ish swap so a
    * concurrent reader never sees a half-written table; row content
    * is byte-preserved (spec asserts identical rows, fewer files).
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    val dir = new java.io.File(path)
    // flat parquet dirs only: rewriting a partitioned/bucketed layout
    // (lang=…/ or bucket=…/ subdirectories) through a flat
    // read-repartition-write would silently destroy the layout the
    // pruning and MERGE paths depend on — refuse instead
    val subdirs = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !f.getName.startsWith("_"))
    require(subdirs.isEmpty,
      s"compact() is for flat parquet dirs; $path has partition/bucket " +
        s"subdirectories (${subdirs.take(3).map(_.getName).mkString(", ")}…) — " +
        "compact each leaf directory instead")
    def dataFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
    val bytes = dataFiles(dir).map(_.length()).sum
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
    val tmp = path.stripSuffix("/") + ".compact_tmp"
    spark.read.parquet(path)
      .repartition(nFiles.toInt)
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    // move-aside swap, not delete-then-rename: the table is only ever
    // absent for the instant between two renames (metadata ops), and a
    // failed second rename leaves the original intact at .compact_old
    // instead of the table existing only in the tmp dir
    val old = new java.io.File(path.stripSuffix("/") + ".compact_old")
    rmTree(old)
    require(dir.renameTo(old), s"compaction move-aside failed for $path")
    val ok = new java.io.File(tmp).renameTo(dir)
    if (!ok) {
      // restore — the original data is still whole at .compact_old; if
      // the restore rename ALSO fails, say where the data actually is
      // instead of asserting a restore that didn't happen
      val restored = old.renameTo(dir)
      require(ok, s"compaction swap failed for $path (original " +
        s"${if (restored) "restored" else s"left at $old"})")
    }
    rmTree(old)
    nFiles
  }

  /** Write the graftdocs line format (doc_id \t lang \t source \t
    * text — the TextDocSource DSv2 connector's input). Tabs/newlines
    * inside text are squashed to spaces: the format is line-framed.
    * String columns are coalesced to '' — concat_ws silently SKIPS
    * NULL inputs, and a <4-field line would then be dropped by the
    * reader, silently losing the row on a round-trip.
    */
  def writeTextDocs(df: DataFrame, path: String, nFiles: Int = 3): Unit = {
    import org.apache.spark.sql.functions._
    // doc_id coalesces too: concat_ws SKIPS a NULL key, emitting a
    // 3-field line the reader's line framing drops SILENTLY — an
    // empty first field instead flows through the connector's
    // explicit malformed-skip policy (observable), not the framing
    df.select(concat_ws("\t",
        coalesce(col("doc_id").cast("string"), lit("")),
        coalesce(col("lang"), lit("")), coalesce(col("source"), lit("")),
        regexp_replace(coalesce(col("text"), lit("")), "[\\t\\n\\r]", " ")).as("value"))
      .repartition(nFiles)
      .write.mode(SaveMode.Overwrite).text(path)
  }
}
