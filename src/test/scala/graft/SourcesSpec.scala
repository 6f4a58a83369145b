package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.jobsDuring
import graft.sources.Catalog

class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("schema memo: an unchanged table reads without a schema-inference job") {
    Tables.documents(spark, TestSpark.sf)
    assert(jobsDuring(Tables.documents(spark, TestSpark.sf)) == 0,
      "a repeated read of an unchanged table must not infer its schema again")
    // the memoized read is the same relation an inferring read builds
    assert(Tables.documents(spark, TestSpark.sf).schema ==
      spark.read.parquet(s"${TestSpark.sf}/documents.parquet").schema)
  }

  test("schema memo: a rewritten table shows its new column on the next read") {
    val d = Files.createTempDirectory("graft_memo").toString
    val docs = Tables.documents(spark, TestSpark.sf).limit(5)
    docs.write.parquet(s"$d/documents.parquet")
    assert(!Tables.documents(spark, d).columns.contains("extra"))
    docs.withColumn("extra", lit(1)).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val reread = Tables.documents(spark, d)
    assert(reread.columns.contains("extra"), s"stale schema after rewrite: ${reread.columns.toSeq}")
    assert(reread.filter(col("extra") === 1).count() == 5)
  }

  test("schema memo: toggling a parquet-reading conf infers the schema again") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val old = spark.conf.get(key)
    Tables.events(spark, TestSpark.sf)
    try {
      assert(jobsDuring(Tables.table(spark, TestSpark.sf, "events")) == 0)
      spark.conf.set(key, "false")
      assert(jobsDuring(Tables.table(spark, TestSpark.sf, "events")) > 0,
        s"toggling $key must re-infer the events schema")
      spark.conf.set(key, old)
      assert(jobsDuring(Tables.table(spark, TestSpark.sf, "events")) > 0)
      assert(jobsDuring(Tables.events(spark, TestSpark.sf)) == 0)
    } finally spark.conf.set(key, old)
  }

  test("bucketed tables join without an Exchange on the join keys") {
    Catalog.materializeGraph(spark, TestSpark.sf)
    // force the sort-merge path so bucket co-location (not broadcast)
    // is what avoids the shuffle
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Catalog.bucketedJoin(spark)
      df.collect() // finalize AQE
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed aggregations + join must not shuffle at all:\n$plan")
      assert(df.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("materialized-graph indirection serves identical rows from the bucketed tables") {
    import graft.operators.TextPipeline
    val pipeline = TextPipeline.qMentions(spark, TestSpark.sf).collect().map(_.toSeq)
    Catalog.materializeGraph(spark, TestSpark.sf)
    spark.conf.set(TextPipeline.MaterializedConf, TestSpark.sf)
    try {
      val df = TextPipeline.qMentions(spark, TestSpark.sf)
      // the plan must scan the table, not rebuild the word pipeline
      assert(df.queryExecution.optimizedPlan.toString.contains("graft_mentions"),
        "expected the bucketed table scan")
      assert(df.collect().map(_.toSeq).sameElements(pipeline))
      // dir-keyed: a different sf dir must NOT be served the tables
      val other = TextPipeline.mentions(spark, "/root/testdata/sf0.01")
      assert(!other.queryExecution.optimizedPlan.toString.contains("graft_mentions"),
        "stale materialization served for the wrong dir")
    } finally spark.conf.unset(TextPipeline.MaterializedConf)
  }

  test("materialized-shingles indirection serves identical dedup results") {
    import graft.operators.Dedup
    val cold = Dedup.qDedupMinhash(spark, TestSpark.sf).collect().map(_.toSeq)
    val coldEst = Dedup.qMinhashEst(spark, TestSpark.sf).collect().map(_.toSeq)
    Catalog.materializeShingles(spark, TestSpark.sf)
    spark.conf.set(Dedup.MaterializedConf, TestSpark.sf)
    try {
      val df = Dedup.qDedupMinhash(spark, TestSpark.sf)
      // the plan must scan the bucketed table, not re-shingle the text
      assert(df.queryExecution.optimizedPlan.toString.contains("graft_shingles"),
        "expected the bucketed shingle-table scan")
      assert(df.collect().map(_.toSeq).sameElements(cold))
      assert(Dedup.qMinhashEst(spark, TestSpark.sf)
        .collect().map(_.toSeq).sameElements(coldEst))
      // dir-keyed: a different sf dir must NOT be served the table
      val other = Dedup.qDedupMinhash(spark, "/root/testdata/sf0.01")
      assert(!other.queryExecution.optimizedPlan.toString.contains("graft_shingles"),
        "stale shingle materialization served for the wrong dir")
    } finally spark.conf.unset(Dedup.MaterializedConf)
  }

  test("materialized-ANN indirection serves identical results across the family") {
    import graft.operators.Similarity
    val family = Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)](
      "q_ann_ivf" -> (Similarity.qAnnIvf _),
      "q_knn_join_ivf" -> (Similarity.qKnnJoinIvf _),
      "q_ann_pq" -> (Similarity.qAnnPq _),
      "q_ann_ivfpq" -> (Similarity.qAnnIvfPq _),
      "q_ann_sq8" -> (Similarity.qAnnSq8 _),
      "q_ann_binary" -> (Similarity.qAnnBinary _))
    val cold = family.map { case (n, fn) =>
      n -> fn(spark, TestSpark.sf).collect().map(_.toSeq).toSeq }.toMap
    Catalog.materializeAnn(spark, TestSpark.sf)
    spark.conf.set(Similarity.MaterializedConf, TestSpark.sf)
    try {
      family.foreach { case (n, fn) =>
        val df = fn(spark, TestSpark.sf)
        val plan = df.queryExecution.optimizedPlan.toString
        // every plan must probe the standing index, not re-derive it
        val table =
          if (n.contains("sq8")) "graft_sq8"
          else if (n.contains("binary")) "graft_bsig"
          else if (n.contains("pq")) "graft_pq_codes"
          else "graft_ivf"
        assert(plan.contains(table), s"$n: expected a $table scan")
        assert(df.collect().map(_.toSeq).toSeq == cold(n), s"$n: amortized ≠ cold")
      }
      // dir-keyed: a different sf dir must NOT be served the tables
      val other = Similarity.qAnnIvf(spark, "/root/testdata/sf0.01")
      assert(!other.queryExecution.optimizedPlan.toString.contains("graft_ivf"),
        "stale ANN materialization served for the wrong dir")
    } finally spark.conf.unset(Similarity.MaterializedConf)
  }

  test("incomplete standing ANN pairs fail loudly instead of silently retraining") {
    import graft.operators.Similarity
    // the materializeAnn crash window: the conf points at the dir but
    // only ONE of quantizer/index (or codes/codebook) survived — a
    // silent in-plan retrain would serve mergeVectors-ingested rows
    // from a different quantizer than the standing index (ADVICE r8)
    Catalog.materializeAnn(spark, TestSpark.sf)
    spark.conf.set(Similarity.MaterializedConf, TestSpark.sf)
    try {
      spark.sql("DROP TABLE graft_ivf")
      val e1 = intercept[IllegalStateException] {
        Similarity.qAnnIvf(spark, TestSpark.sf).collect()
      }
      assert(e1.getMessage.contains("materializeAnn"),
        "the error must name the rebuild step")
      spark.sql("DROP TABLE graft_pq_codebook")
      val e2 = intercept[IllegalStateException] {
        Similarity.qAnnPq(spark, TestSpark.sf).collect()
      }
      assert(e2.getMessage.contains("materializeAnn"))
      // with the conf pointing elsewhere the same tables are simply
      // ignored — the in-plan path serves (no false positives)
      spark.conf.unset(Similarity.MaterializedConf)
      assert(Similarity.qAnnIvf(spark, TestSpark.sf).collect().nonEmpty)
    } finally {
      spark.conf.unset(Similarity.MaterializedConf)
      // restore the complete standing state for later suites
      Catalog.materializeAnn(spark, TestSpark.sf)
    }
  }

  test("mergeVectors: incremental adds assign against the PINNED quantizer") {
    import graft.operators.Similarity
    val sf = TestSpark.sf
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
    // held out AFTER the PQ codebook's bounded seed window would still
    // exist; the trained coarse quantizer makes old-dir != full-dir
    // training by design — FAISS add() semantics pin the BUILD-time
    // artifacts, so every comparison below is against the pinned
    // tables, never a full-dir retrain
    val isNew = col("vec_id") % 7 === 3
    val oldDir = Files.createTempDirectory("graft_annmerge").toString
    all.filter(!isNew).write.mode("overwrite")
      .parquet(s"$oldDir/embeddings.parquet")
    Catalog.materializeAnn(spark, oldDir)
    val pinnedCents = spark.table("graft_ivf_centroids")
      .collect().map(_.getLong(0)).sorted.toSeq
    val before = spark.table("graft_ivf").count()
    Catalog.mergeVectors(spark, all.filter(isNew))
    // every usable vector is indexed exactly once
    val merged = spark.table("graft_ivf")
    assert(merged.count() == all.count() && merged.count() > before)
    assert(merged.select("vec_id").distinct().count() == merged.count())
    // 0) the merge did NOT retrain: centroid table is byte-identical
    assert(spark.table("graft_ivf_centroids")
      .collect().map(_.getLong(0)).sorted.toSeq == pinnedCents,
      "mergeVectors must never touch the pinned quantizer")
    // 1) the merged IVF table == assignment of the FULL corpus against
    // the PINNED centroids (incremental add ≡ batch assign, same
    // quantizer)
    val full = Similarity.assignToCells(
        Similarity.vectors(spark, sf), spark.table("graft_ivf_centroids"))
      .select("cid", "vec_id")
    val got = merged.select("cid", "vec_id")
    assert(got.except(full).isEmpty && full.except(got).isEmpty,
      "incremental assignment diverged from pinned-quantizer batch assignment")
    // 2) batch codes use the STANDING codebook (no retrain)
    val wantCodes = Similarity.pqEncode(
      Similarity.pqSubspaces(Similarity.vectors(spark, sf)),
      spark.table("graft_pq_codebook"))
    val gotCodes = spark.table("graft_pq_codes")
    assert(gotCodes.count() == wantCodes.count())
    assert(gotCodes.except(wantCodes).isEmpty,
      "merged codes diverged from standing-codebook encoding")
    // 2b) sq8 / binary codes are per-vector pure: merged tables equal
    // a full re-encode of the whole corpus
    val wantSq8 = Similarity.sq8Codes(Similarity.vectors(spark, sf))
    assert(spark.table("graft_sq8").except(wantSq8).isEmpty &&
      wantSq8.except(spark.table("graft_sq8")).isEmpty,
      "merged sq8 codes diverged from a full re-encode")
    val wantBsig = Similarity.binSigs(Similarity.vectors(spark, sf))
    assert(spark.table("graft_bsig").except(wantBsig).isEmpty &&
      wantBsig.except(spark.table("graft_bsig")).isEmpty,
      "merged binary sigs diverged from a full re-encode")
    // 3) end-to-end: serving the merged index probes the standing
    // tables AND the pinned centroids (probe picks must use the SAME
    // quantizer the cells were assigned under, not an in-plan retrain)
    spark.conf.set(Similarity.MaterializedConf, sf)
    try {
      val served = Similarity.qAnnIvf(spark, sf)
      val plan = served.queryExecution.optimizedPlan.toString
      assert(plan.contains("graft_ivf"))
      assert(plan.contains("graft_ivf_centroids"),
        "probe pick must read the pinned quantizer when serving a standing index")
      val rows = served.collect()
      assert(rows.length == Similarity.KnnK)
      // served neighbors' cells are consistent: each result's cid is
      // the cell the standing index assigned that vector to
      val cellOf = merged.select("vec_id", "cid").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      rows.foreach(r => assert(cellOf(r.getLong(0)) == r.getLong(1)))
    } finally spark.conf.unset(Similarity.MaterializedConf)
  }

  test("mergeGraph/mergeShingles: incremental adds equal a full rebuild") {
    import graft.operators.{Dedup, TextPipeline}
    val sf = TestSpark.sf
    val all = spark.read.parquet(s"$sf/documents.parquet")
    val isNew = col("doc_id") % 5 === 2
    val oldDir = Files.createTempDirectory("graft_gmerge").toString
    all.filter(!isNew).write.mode("overwrite")
      .parquet(s"$oldDir/documents.parquet")
    Catalog.materializeGraph(spark, oldDir)
    Catalog.materializeShingles(spark, oldDir)
    Catalog.mergeGraph(spark, all.filter(isNew))
    Catalog.mergeShingles(spark, all.filter(isNew))
    // chunks/mentions/shingles are pure per-doc functions, so the
    // merged tables must EQUAL the full rebuild row-for-row
    val wantChunks = TextPipeline.chunks(spark, sf)
    val gotChunks = spark.table("graft_chunks")
    assert(gotChunks.count() == wantChunks.count())
    assert(gotChunks.except(wantChunks).isEmpty &&
      wantChunks.except(gotChunks).isEmpty, "chunks diverged")
    val wantMentions = TextPipeline.mentions(spark, sf)
    val gotMentions = spark.table("graft_mentions")
    assert(gotMentions.except(wantMentions).isEmpty &&
      wantMentions.except(gotMentions).isEmpty, "mentions diverged")
    assert(spark.table("graft_shingles")
      .except(Dedup.shingleTable(spark, sf)).isEmpty, "shingles diverged")
    // end-to-end: a graph query served from the merged tables answers
    // identically to the cold full-corpus plan
    val cold = graft.graph.Analytics.qCooccur(spark, sf)
      .collect().map(_.toSeq).toSeq
    spark.conf.set(TextPipeline.MaterializedConf, sf)
    try {
      val served = graft.graph.Analytics.qCooccur(spark, sf)
      assert(served.queryExecution.optimizedPlan.toString.contains("graft_mentions"))
      assert(served.collect().map(_.toSeq).toSeq == cold,
        "merged graph tables served different co-occurrence edges")
    } finally spark.conf.unset(TextPipeline.MaterializedConf)
  }

  test("mergeAnfDocs: incremental register maintenance equals a full rebuild") {
    import graft.graph.Analytics
    val sf = TestSpark.sf
    val all = spark.read.parquet(s"$sf/documents.parquet")
    val isNew = col("doc_id") % 5 === 2
    val oldDir = Files.createTempDirectory("graft_anfmerge").toString
    all.filter(!isNew).write.mode("overwrite")
      .parquet(s"$oldDir/documents.parquet")
    Catalog.materializeAnf(spark, oldDir)
    Catalog.mergeAnfDocs(spark, all.filter(isNew))
    // at-least-once replay: a second merge of the same batch walks
    // the same cone, finds every candidate dominated, appends nothing
    val regRowsOnce = spark.table("graft_anf_regs").count()
    Catalog.mergeAnfDocs(spark, all.filter(isNew))
    assert(spark.table("graft_anf_regs").count() == regRowsOnce,
      "replayed merge appended rows — the cone walk must be idempotent")
    // rebuild from the full corpus into separate tables — the merge
    // must have landed on exactly this fixpoint (max-lattice
    // monotonicity: additions only ever raise registers)
    Catalog.materializeAnf(spark, sf,
      regsTable = "graft_anf_regs_rb", edgesTable = "graft_anf_edges_rb")
    val gotE = spark.table("graft_anf_edges").select("src", "dst")
    val wantE = spark.table("graft_anf_edges_rb").select("src", "dst")
    assert(gotE.except(wantE).isEmpty && wantE.except(gotE).isEmpty,
      "standing edge set diverged from the rebuild")
    (0 to Analytics.AnfHops).foreach { h =>
      val got = Catalog.anfRegsAt(spark, h)
      val want = Catalog.anfRegsAt(spark, h, "graft_anf_regs_rb")
      assert(got.except(want).isEmpty && want.except(got).isEmpty,
        s"hop-$h register layer diverged from the rebuild")
    }
    // serving: the standing-register estimates answer exactly what
    // the BFS query computes cold on the full corpus
    val served = Catalog.anfEstimates(spark).collect().map(_.toSeq).toSeq
    val cold = Analytics.qAnfHll(spark, sf).collect().map(_.toSeq).toSeq
    assert(served == cold,
      "standing-register estimates diverged from qAnfHll")
    // squash-compaction: dominated generations from the merge are
    // dropped, every layer and the served estimates are unchanged
    val rowsBefore = spark.table("graft_anf_regs").count()
    Catalog.compactAnfRegs(spark)
    val rowsAfter = spark.table("graft_anf_regs").count()
    assert(rowsAfter <= rowsBefore,
      "squash compaction must never grow the register table")
    (0 to Analytics.AnfHops).foreach { h =>
      val got = Catalog.anfRegsAt(spark, h)
      val want = Catalog.anfRegsAt(spark, h, "graft_anf_regs_rb")
      assert(got.except(want).isEmpty && want.except(got).isEmpty,
        s"hop-$h register layer changed across the squash")
      // post-squash each layer holds exactly its max-merged view
      assert(spark.table("graft_anf_regs")
        .filter(col("hop") === h).count() == want.count(),
        s"hop-$h still carries dominated generations after the squash")
    }
    assert(Catalog.anfEstimates(spark).collect().map(_.toSeq).toSeq == cold,
      "served estimates changed across the squash")
  }

  test("healSwap adopts an interrupted compaction swap instead of forking the corpus") {
    import spark.implicits._
    val sf = TestSpark.sf
    Catalog.materializeShingles(spark, sf)
    val before = spark.table("graft_shingles").count()
    assert(before > 0)
    // crash window A: live name renamed aside, replacement not in
    // place — the old drop-then-rename order left NO table here and
    // the next Append silently re-created it empty
    spark.sql("DROP TABLE IF EXISTS graft_shingles_retired")
    spark.sql("ALTER TABLE graft_shingles RENAME TO graft_shingles_retired")
    Catalog.compactStandingTable(spark, "graft_shingles", "doc_id", Seq("doc_id"))
    assert(spark.table("graft_shingles").count() == before,
      "compactor must adopt the retired original, not fail or fork")
    // crash window B: a COMPLETED rewrite sits at _compacting and the
    // live name is gone — a merge must adopt it before appending
    spark.sql("DROP TABLE IF EXISTS graft_shingles_compacting")
    spark.sql("ALTER TABLE graft_shingles RENAME TO graft_shingles_compacting")
    val batch = Seq((990001L, "alpha beta alpha beta spark group news",
        "en", "s", 38L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Catalog.mergeShingles(spark, batch)
    val after = spark.table("graft_shingles").count()
    assert(after >= before,
      s"merge after adoption lost rows: $after < $before")
    assert(spark.table("graft_shingles")
      .filter(col("doc_id") === 990001L).count() > 0,
      "the batch itself must have appended")
  }

  test("compaction shrinks merge-accumulated files and preserves contents + layout") {
    import graft.operators.TextPipeline
    val sf = TestSpark.sf
    val all = spark.read.parquet(s"$sf/documents.parquet")
    val oldDir = Files.createTempDirectory("graft_compact").toString
    all.filter(col("doc_id") % 3 === 0).write.mode("overwrite")
      .parquet(s"$oldDir/documents.parquet")
    Catalog.materializeGraph(spark, oldDir)
    Catalog.mergeGraph(spark, all.filter(col("doc_id") % 3 === 1))
    Catalog.mergeGraph(spark, all.filter(col("doc_id") % 3 === 2))
    def files(t: String): Int = {
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      Option(loc.listFiles()).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    }
    val before = files("graft_chunks")
    assert(before > Catalog.Buckets, s"expected >1 file set, got $before")
    val want = spark.table("graft_chunks").collect().map(_.toSeq).toSet
    Catalog.compactStandingTables(spark)
    val after = files("graft_chunks")
    assert(after < before, s"compaction did not shrink: $before -> $after")
    assert(spark.table("graft_chunks").collect().map(_.toSeq).toSet == want,
      "compaction changed table contents")
    // the rewritten table is still the bucketed layout chunks() serves
    assert(spark.table("graft_chunks").count() ==
      TextPipeline.chunks(spark, sf).count())
  }

  test("lang-partitioned write prunes partitions on read") {
    val out = Files.createTempDirectory("graft_part").toString
    Catalog.writePartitioned(spark, TestSpark.sf, out)
    val de = Catalog.readLang(spark, out, "de")
    val plan = de.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"),
      s"expected partition pruning:\n$plan")
    val expected = Tables.documents(spark, TestSpark.sf)
      .filter(col("lang") === "de").count()
    assert(de.count() == expected)
  }

  test("mergeDocuments: MERGE-semantics upsert, idempotent, touches only dirty buckets") {
    val path = Files.createTempDirectory("graft_merge").toString
    val docs = Tables.documents(spark, TestSpark.sf)
    Catalog.initMerged(spark, docs, path)
    val before = Catalog.readMerged(spark, path).count()

    val changed = docs.filter(col("doc_id") < 3)
      .withColumn("text", lit("updated text"))
    val added = docs.filter(col("doc_id") < 2)
      .withColumn("doc_id", col("doc_id") + 1000000)
    val batch = changed.unionByName(added)

    // record file listings of buckets the batch does NOT touch
    val touched = batch
      .withColumn("bucket", pmod(hash(col("doc_id")), lit(Catalog.MergeBuckets)))
      .select("bucket").distinct().collect().map(_.getInt(0)).toSet
    def listing(b: Int): Seq[String] = {
      val d = new java.io.File(path, s"bucket=$b")
      Option(d.listFiles()).map(_.map(f => f.getName + ":" + f.length).toSeq.sorted)
        .getOrElse(Seq.empty)
    }
    val untouched = (0 until Catalog.MergeBuckets).filterNot(touched)
    val prior = untouched.map(b => b -> listing(b)).toMap

    Catalog.mergeDocuments(spark, path, batch)
    val after = Catalog.readMerged(spark, path)
    assert(after.count() == before + 2, "new keys append")
    assert(after.filter(col("doc_id") === 1).select("text").head().getString(0)
      == "updated text", "changed key wins over stored row")
    assert(after.filter(col("doc_id") === 1000000).count() == 1)
    // clean buckets' files must be byte-identical (never rewritten)
    untouched.foreach(b => assert(listing(b) == prior(b), s"bucket $b was rewritten"))

    val afterChars = after.select(sum(length(col("text")))).head().getLong(0)

    // idempotent re-ingest: same batch again changes nothing
    Catalog.mergeDocuments(spark, path, batch)
    val again = Catalog.readMerged(spark, path)
    assert(again.count() == before + 2)
    assert(again.select(sum(length(col("text")))).head().getLong(0) == afterChars)
  }

  test("csv round-trip preserves the quality table") {
    val out = Files.createTempDirectory("graft_csv").toString
    val orig = operators.TextAnalysis.qTokenCount(spark, TestSpark.sf)
    Catalog.writeCsv(orig, out)
    val back = Catalog.readCsv(spark, out,
      "doc_id BIGINT, n_ws_tokens BIGINT, n_bpe_tokens BIGINT, n_chars BIGINT")
    assert(back.except(orig).count() == 0 && orig.except(back).count() == 0)
  }

  test("json round-trip preserves the lang-id table") {
    val out = Files.createTempDirectory("graft_json").toString
    val orig = operators.TextAnalysis.qLangId(spark, TestSpark.sf)
    Catalog.writeJson(orig, out)
    val back = Catalog.readJson(spark, out,
      "doc_id BIGINT, pred_lang STRING, en_hits INT, de_hits INT, es_hits INT, fr_hits INT")
    assert(back.except(orig).count() == 0 && orig.except(back).count() == 0)
  }

  test("graftdocs DSv2 source: round-trip, pruned scan, pushed lang filter") {
    val docs = Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "lang", "source", "text")
    val out = Files.createTempDirectory("graft_docsrc").toString
    Catalog.writeTextDocs(docs, out)
    val back = spark.read.format("graftdocs").load(out)
    // full round-trip through the connector
    assert(back.count() == docs.count())
    assert(back.except(docs).count() == 0 && docs.except(back).count() == 0)
    // column pruning reaches the scan: the leaf node outputs ONLY the
    // selected column (text is never materialized)
    val pruned = back.select("doc_id")
    val leaf = pruned.queryExecution.executedPlan.collectLeaves().head
    assert(leaf.output.map(_.name) == Seq("doc_id"),
      s"scan not pruned: ${leaf.output.map(_.name)}")
    // filter pushdown: the scan advertises the pushed filter and the
    // result matches the un-pushed reference
    val filtered = back.filter(col("lang") === "en")
    val p = filtered.queryExecution.executedPlan.toString
    assert(p.contains("EqualTo(lang,en)"), s"lang filter not pushed:\n$p")
    assert(filtered.count() == docs.filter(col("lang") === "en").count())
    // multiple input partitions (one per file) — the parallelism contract
    assert(back.rdd.getNumPartitions >= 2)
  }

  test("graftdocs DSv2 write: overwrite round-trip through the connector's own writer") {
    val docs = Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "lang", "source", "text")
    val out = Files.createTempDirectory("graft_docsink").toString
    // write twice in overwrite mode: the second commit must replace,
    // not append (truncate happens at commit, after staging)
    docs.limit(3).repartition(2).write.format("graftdocs").mode("overwrite").save(out)
    docs.repartition(3).write.format("graftdocs").mode("overwrite").save(out)
    val back = spark.read.format("graftdocs").load(out)
    assert(back.count() == docs.count())
    assert(back.except(docs).count() == 0 && docs.except(back).count() == 0)
    // no uncommitted temp files left behind
    val strays = new java.io.File(out).listFiles().filter(_.getName.endsWith(".tmp"))
    assert(strays.isEmpty, s"uncommitted temp files: ${strays.mkString(", ")}")
  }

  test("graftdocs malformed input: one skip policy; NULL columns round-trip as ''") {
    // a NULL text/lang/source must NOT shrink the line below 4 fields
    // (concat_ws skips NULLs) — the row survives the round-trip as ''
    val out = Files.createTempDirectory("graft_docnull").toString
    val withNull = spark.sql(
      "SELECT 1L AS doc_id, CAST(NULL AS STRING) AS lang, 'src1' AS source, " +
        "CAST(NULL AS STRING) AS text " +
        "UNION ALL SELECT 2L, 'en', 'src2', 'hello world'")
    Catalog.writeTextDocs(withNull, out, nFiles = 1)
    val back = spark.read.format("graftdocs").load(out)
    assert(back.count() == 2, "NULL-column row lost on round-trip")
    val r1 = back.filter(col("doc_id") === 1L).head()
    assert(r1.getAs[String]("lang") == "" && r1.getAs[String]("text") == "")
    // short lines and non-numeric doc_id are both skipped (neither
    // kills the task); well-formed neighbors still read
    val f = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-")).head
    val w = new java.io.PrintWriter(new java.io.FileWriter(f, true))
    w.println("short\tline"); w.println("not_a_number\ten\tsrc\tbody"); w.close()
    assert(spark.read.format("graftdocs").load(out).count() == 2)
  }

  test("graftdocs overwrite commit keeps old data until new files are in place") {
    // the commit protocol renames winners first, deletes stale files
    // last — so the pre-existing part file must still exist alongside
    // freshly staged (not yet renamed) tmp files. Simulated directly
    // against the BatchWrite: stage a tmp, commit, check ordering is
    // observable as "old deleted only because commit fully succeeded".
    val out = Files.createTempDirectory("graft_doccommit").toString
    val docs = Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "lang", "source", "text").limit(4)
    docs.write.format("graftdocs").mode("overwrite").save(out)
    val oldFiles = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName).toSet
    assert(oldFiles.nonEmpty)
    // failed commit (rename of a nonexistent stage file) must leave
    // the old generation untouched
    val bw = new sources.TextDocBatchWrite(out, docs.schema, true)
    intercept[java.io.IOException] {
      bw.commit(Array(sources.TextDocCommit(s"$out/part-99999-42.txt.tmp")))
    }
    val survivors = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName).toSet
    assert(survivors == oldFiles, "failed overwrite commit destroyed old data")
    // successful overwrite replaces the generation
    docs.write.format("graftdocs").mode("overwrite").save(out)
    val back = spark.read.format("graftdocs").load(out)
    assert(back.count() == 4)
  }

  test("graftdocs DSv2 aggregate pushdown: COUNT(*) collapses into the scan") {
    val docs = Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "lang", "source", "text")
    val out = Files.createTempDirectory("graft_doccnt").toString
    Catalog.writeTextDocs(docs, out)
    val back = spark.read.format("graftdocs").load(out)
    val counted = back.groupBy().count()
    val p = counted.queryExecution.executedPlan.toString
    assert(p.contains("PushedAggregates=[COUNT(*)]"), s"count not pushed:\n$p")
    assert(counted.collect().head.getLong(0) == docs.count())
    // composes with the pushed lang filter: count only matching rows
    val filtered = back.filter(col("lang") === "en").groupBy().count()
    val pf = filtered.queryExecution.executedPlan.toString
    assert(pf.contains("PushedAggregates=[COUNT(*)]") && pf.contains("EqualTo(lang,en)"),
      s"filter+count not both pushed:\n$pf")
    assert(filtered.collect().head.getLong(0) ==
      docs.filter(col("lang") === "en").count())
  }

  test("orc round-trip preserves the documents table") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val out = Files.createTempDirectory("graft_orc").toString + "/t"
    Catalog.writeOrc(docs, out)
    val back = Catalog.readOrc(spark, out)
    assert(back.schema == docs.schema)
    assert(back.except(docs).count() == 0 && docs.except(back).count() == 0)
  }

  test("compaction refuses a partitioned layout instead of flattening it") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val out = Files.createTempDirectory("graft_compact_part").toString + "/t"
    docs.write.partitionBy("lang").parquet(out)
    val e = intercept[IllegalArgumentException] {
      Catalog.compact(spark, out)
    }
    assert(e.getMessage.contains("flat parquet dirs"))
    // the layout is untouched: per-language pruning still works
    assert(spark.read.parquet(out).filter(col("lang") === "en").count() ==
      docs.filter(col("lang") === "en").count())
  }

  test("compaction shrinks a fragmented table to the byte-budget file count, rows intact") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val out = Files.createTempDirectory("graft_compact").toString + "/t"
    // fragment: one file per partition, 40 partitions of a 500-row table
    docs.repartition(40).write.parquet(out)
    def parquetFiles() = new java.io.File(out).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val before = parquetFiles().length
    assert(before >= 30, s"fixture not fragmented: $before files")
    val want = docs.collect().toSet
    // huge byte budget → everything compacts into ONE file
    val n = Catalog.compact(spark, out)
    assert(n == 1L, s"expected 1 output file, planned $n")
    assert(parquetFiles().length == 1,
      s"expected 1 parquet file after compaction, got ${parquetFiles().length}")
    val after = spark.read.parquet(out).collect().toSet
    assert(after == want, "compaction must preserve rows exactly")
  }

  test("snapshot commits isolate readers, time-travel, and survive a crashed writer") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_snap").toString + "/t"
    val v1rows = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "s")
    val v1 = Catalog.snapshotCommit(spark, v1rows, path)
    assert(v1 == 1 && Catalog.latestVersion(path) == 1)
    // reader pins v1 at scan construction...
    val pinned = Catalog.readSnapshot(spark, path)
    // ...then a concurrent overwrite commits v2
    val v2rows = Seq((3L, "gamma")).toDF("id", "s")
    assert(Catalog.snapshotCommit(spark, v2rows, path) == 2)
    assert(pinned.collect().map(_.getLong(0)).sorted.sameElements(Array(1L, 2L)),
      "pinned reader must still see v1 after the v2 commit")
    assert(Catalog.readSnapshot(spark, path).collect()
      .map(_.getLong(0)).sameElements(Array(3L)), "fresh reader sees v2")
    // time travel
    assert(Catalog.readSnapshot(spark, path, version = 1).count() == 2)
    // append commit: v3 = v2 ∪ batch (immutable files shared)
    val v3rows = Seq((4L, "delta")).toDF("id", "s")
    assert(Catalog.snapshotCommit(spark, v3rows, path, overwrite = false) == 3)
    assert(Catalog.readSnapshot(spark, path).collect()
      .map(_.getLong(0)).sorted.sameElements(Array(3L, 4L)))
    // crashed writer: staged data AND a manifest, but NO pointer
    // flip — readers are unaffected until the commit point, and the
    // uncommitted version cannot be time-traveled into either
    Seq((99L, "stray")).toDF("id", "s").write
      .parquet(s"$path/data/v00099")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/v99.manifest"),
      new java.io.File(s"$path/data/v00099").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath).mkString("\n"))
    assert(Catalog.latestVersion(path) == 3)
    assert(Catalog.readSnapshot(spark, path).collect()
      .map(_.getLong(0)).sorted.sameElements(Array(3L, 4L)))
    val uncommitted = intercept[IllegalArgumentException] {
      Catalog.readSnapshot(spark, path, version = 99)
    }
    assert(uncommitted.getMessage.contains("not committed"))
    // vacuum to the newest version only: v1's files go, v3 still reads
    Catalog.vacuumSnapshots(path, keep = 1)
    assert(Catalog.readSnapshot(spark, path).collect()
      .map(_.getLong(0)).sorted.sameElements(Array(3L, 4L)))
    val e = intercept[IllegalArgumentException] {
      Catalog.readSnapshot(spark, path, version = 1).collect()
    }
    assert(e.getMessage.contains("no manifest"),
      "vacuumed version must be explicitly gone, not silently empty")
  }

  test("vacuum is re-entrant across retention windows and reclaims staging litter") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_snap_vac").toString + "/t"
    (1 to 3).foreach { i =>
      Catalog.snapshotCommit(spark, Seq((i.toLong, s"v$i")).toDF("id", "s"), path)
    }
    // tight vacuum drops v1/v2's manifests
    Catalog.vacuumSnapshots(path, keep = 1)
    Catalog.snapshotCommit(spark, Seq((4L, "v4")).toDF("id", "s"), path)
    // a LARGER retention window than the previous vacuum now spans
    // already-dropped versions — must skip them, not crash
    Catalog.vacuumSnapshots(path, keep = 3)
    assert(Catalog.readSnapshot(spark, path).collect().map(_.getLong(0))
      .sameElements(Array(4L)))
    assert(Catalog.readSnapshot(spark, path, version = 3).count() == 1)
    // vacuumed versions leave NO litter: no empty staging dir, no
    // _SUCCESS marker, no manifest
    val d1 = new java.io.File(s"$path/data/v00001")
    assert(!d1.exists(), s"vacuum must remove the reclaimed staging dir $d1")
    assert(!new java.io.File(s"$path/v1.manifest").exists())
  }
}
