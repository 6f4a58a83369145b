package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** 100 TB-readiness: real corpora contain NULL text, empty strings,
  * whitespace-only rows, and exotic unicode. Every operator that
  * takes a documents dir must survive them — no exceptions, no NaN
  * rows — because at scale these rows WILL appear and a single
  * throwing task fails the stage. The driver's synthetic tables are
  * clean, so this fixture injects the dirt deliberately.
  */
class DirtyDataSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val dir: String = DirtyData.dir

  private def runs(name: String)(df: => org.apache.spark.sql.DataFrame): Unit =
    test(s"$name survives null/empty/unicode documents") {
      val out = df.collect() // force full execution
      assert(out != null)
    }

  runs("q_token_count")(operators.TextAnalysis.qTokenCount(spark, dir))
  runs("q_lang_id")(operators.TextAnalysis.qLangId(spark, dir))
  runs("q_quality")(operators.TextAnalysis.qQuality(spark, dir))
  runs("q_corpus_stats")(operators.TextAnalysis.qCorpusStats(spark, dir))
  runs("q_dedup_exact")(operators.Dedup.qDedupExact(spark, dir))
  runs("q_chunk")(operators.TextPipeline.qChunk(spark, dir))
  runs("q_source_entropy")(operators.Curation.qSourceEntropy(spark, dir))
  runs("q_token_gini")(operators.Curation.qTokenGini(spark, dir))
  runs("q_filter_pipeline")(operators.Curation.qFilterPipeline(spark, dir))
  runs("q_fingerprint")(operators.TextAnalysis.qFingerprint(spark, dir))
  runs("weighted_sample")(operators.Training.weightedSample(spark, dir, 3))
  runs("cms_estimate")(operators.Sketches.cmsEstimate(spark, dir))

  runs("q_repetition")(operators.TextAnalysis.qRepetition(spark, dir))
  runs("q_readability")(operators.TextAnalysis.qReadability(spark, dir))
  runs("q_unigram_lm")(operators.TextAnalysis.qUnigramLm(spark, dir))
  runs("q_bigram_lm")(operators.TextAnalysis.qBigramLm(spark, dir))
  runs("q_zipf_fit")(operators.TextAnalysis.qZipfFit(spark, dir))
  runs("q_vocab_topk")(operators.TextAnalysis.qVocabTopk(spark, dir))
  runs("q_sentences")(operators.TextPipeline.qSentences(spark, dir))
  runs("q_chunk_fold")(operators.TextPipeline.qChunkFold(spark, dir))
  runs("q_entities")(operators.TextPipeline.qEntities(spark, dir))
  runs("q_dedup_minhash")(operators.Dedup.qDedupMinhash(spark, dir))
  runs("q_dedup_lines")(operators.Dedup.qDedupLines(spark, dir))
  runs("q_dedup_ngram")(operators.Dedup.qDedupNgram(spark, dir))
  runs("q_pii_scrub")(operators.TextAnalysis.qPiiScrub(spark, dir))
  runs("q_length_hist")(operators.Curation.qLengthHist(spark, dir))
  runs("q_source_report")(operators.Curation.qSourceReport(spark, dir))
  runs("q_tokenize_subword")(operators.Tokenize.qTokenizeSubword(spark, dir))
  runs("q_stratified_sample")(operators.Training.qStratifiedSample(spark, dir))
  runs("q_heavy_hitters")(operators.Sketches.qHeavyHitters(spark, dir))

  runs("q_media_features")(multimodal.Media.qMediaFeatures(spark, dir))
  runs("q_media_frames")(multimodal.Media.qMediaFrames(spark, dir))
  runs("q_media_manifest")(multimodal.Media.qMediaManifest(spark, dir))
  runs("q_media_phash")(multimodal.Media.qMediaPhash(spark, dir))
  runs("q_media_resize")(multimodal.Media.qMediaResize(spark, dir))

  runs("q_zorder_scan")(sources.Catalog.qZOrderScan(spark, dir))
  runs("q_bootstrap_ci")(operators.Training.qBootstrapCi(spark, dir))
  runs("q_winnow")(operators.Dedup.qWinnow(spark, dir))
  runs("q_dedup_cdc")(operators.Dedup.qDedupCdc(spark, dir))
  runs("q_entity_trends")(graph.Analytics.qEntityTrends(spark, dir))

  runs("q_graph_summary")(graph.Analytics.qGraphSummary(spark, dir))
  runs("q_cooccur")(graph.Analytics.qCooccur(spark, dir))
  runs("q_pagerank")(graph.Analytics.qPagerank(spark, dir))
  runs("q_anf")(graph.Analytics.qAnf(spark, dir))
  runs("q_anf_hll")(graph.Analytics.qAnfHll(spark, dir))

  test("mergeAnfDocs survives a null/empty/unicode document batch") {
    sources.Catalog.materializeAnf(spark, dir,
      regsTable = "graft_anf_regs_dirty", edgesTable = "graft_anf_edges_dirty")
    // merging the SAME dirty corpus back is the worst case: every
    // edge already standing, all cone candidates dominated
    sources.Catalog.mergeAnfDocs(spark,
      graft.Tables.documents(spark, dir),
      regsTable = "graft_anf_regs_dirty", edgesTable = "graft_anf_edges_dirty")
    val est = sources.Catalog.anfEstimates(spark, "graft_anf_regs_dirty")
      .collect()
    assert(est.length == graph.Analytics.AnfHops + 1)
  }
  runs("q_louvain")(graph.Analytics.qLouvain(spark, dir))
  runs("q_wsp")(graph.Analytics.qWeightedShortestPath(spark, dir))
  runs("q_node2vec")(graph.Analytics.qNode2vec(spark, dir))
  runs("q_katz")(graph.Analytics.qKatz(spark, dir))
  runs("q_components")(graph.Analytics.qComponents(spark, dir))
  runs("q_pagerank_weighted")(graph.Analytics.qPagerankWeighted(spark, dir))
  runs("q_ppr")(graph.Analytics.qPagerankPersonalized(spark, dir))
  runs("q_shortest_path")(graph.Analytics.qShortestPath(spark, dir))
  runs("q_lpa_communities")(graph.Analytics.qLpaCommunities(spark, dir))
  runs("q_kcore")(graph.Analytics.qKcore(spark, dir))
  runs("q_closeness")(graph.Analytics.qCloseness(spark, dir))
  runs("q_betweenness")(graph.Analytics.qBetweenness(spark, dir))
  runs("q_dedup_clusters")(operators.Dedup.qDedupClusters(spark, dir))
  runs("q_graph_nodes")(graph.NewsGraph.qGraphNodes(spark, dir))
  runs("cypher MATCH over dirty docs")(cypher.CypherLite.run(spark, dir,
    "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "RETURN a.doc_id AS doc_id, count(c) AS n ORDER BY doc_id"))
  runs("cypher weighted shortestPath over dirty docs")(
    cypher.CypherLite.run(spark, dir, cypher.CypherLite.ExWsp))
  runs("cypher allShortestPaths over dirty docs")(
    cypher.CypherLite.run(spark, dir, cypher.CypherLite.ExAsp))
  // round-9 forms: anchors absent from the dirty corpus → empty
  // results, never a throwing task; the fulltext CALL scores whatever
  // person names the dirt yields (unicode included)
  runs("cypher witness shortestPath over dirty docs")(
    cypher.CypherLite.run(spark, dir, cypher.CypherLite.ExSpPath))
  runs("cypher allShortestPaths witness set over dirty docs")(
    cypher.CypherLite.run(spark, dir, cypher.CypherLite.ExAspPaths))
  runs("cypher fulltext CALL over dirty docs")(
    cypher.CypherLite.run(spark, dir, cypher.CypherLite.ExFt))
  runs("cypher temporal range over dirty docs")(
    cypher.CypherLite.run(spark, dir, cypher.CypherLite.Ex31))
  // round-10 forms: concat NULL-poisons instead of throwing;
  // existential bodies over dirt yield empty/unfiltered rows, never a
  // throwing task; the weighted witness's anchors are absent → empty;
  // the vector CALL screens null/short/zero/NaN vectors at the
  // vectors() choke point and expands whatever survives
  runs("cypher concat RETURN over dirty docs")(
    cypher.CypherLite.run(spark, dir, cypher.CypherLite.Ex32))
  runs("cypher EXISTS subqueries over dirty docs")(
    cypher.CypherLite.run(spark, dir, cypher.CypherLite.Ex33))
  runs("cypher weighted witness path over dirty docs")(
    cypher.CypherLite.run(spark, dir, cypher.CypherLite.ExWspPath))
  runs("cypher vector CALL over dirty docs and vectors")(
    cypher.CypherLite.run(spark, dir, cypher.CypherLite.ExVec))
  runs("cypher COUNT subqueries over dirty docs")(
    cypher.CypherLite.run(spark, dir, cypher.CypherLite.Ex34))
  runs("cypher stage-level EXISTS over dirty docs")(
    cypher.CypherLite.run(spark, dir, cypher.CypherLite.Ex35))
  // round-11 forms: the hybrid composition's keyword leg scores
  // whatever chunk text the dirt yields (possibly zero hits → the
  // vector leg alone survives the fusion); filtered/multi-type
  // var-length expansion over absent anchors is empty, never a
  // throwing task; the bare path value renders only a closed witness
  runs("cypher hybrid CALL over dirty docs and vectors")(
    cypher.CypherLite.run(spark, dir, cypher.CypherLite.ExHybrid))
  runs("cypher filtered var-length over dirty docs")(
    cypher.CypherLite.run(spark, dir, cypher.CypherLite.Ex41))
  runs("cypher multi-type var-length over dirty docs")(
    cypher.CypherLite.run(spark, dir, cypher.CypherLite.Ex42))
  runs("cypher bare RETURN p over dirty docs")(
    cypher.CypherLite.run(spark, dir, cypher.CypherLite.Ex43))
  runs("cypher bare-pattern subqueries over dirty docs")(
    cypher.CypherLite.run(spark, dir, cypher.CypherLite.Ex44))
  runs("cypher zero-length var-hops over dirty docs")(
    cypher.CypherLite.run(spark, dir, cypher.CypherLite.Ex45))
  runs("cypher ordinary-MATCH path values over dirty docs")(
    cypher.CypherLite.run(spark, dir, cypher.CypherLite.Ex46))
  runs("q_dedup_simhash_topk")(operators.Dedup.qDedupSimhashTopk(spark, dir))
  runs("q_rag_context")(graph.NewsGraph.qRagContext(spark, dir))

  test("no node for a NULL key: Source and Person skip the NULL source") {
    def rows(q: String) = cypher.CypherLite.run(spark, dir, q).collect().toSeq
    // sources a, b, c and one NULL: three Source nodes, each counted once
    assert(rows("MATCH (s:Source) RETURN count(s) AS n, count(*) AS m")
      .map(r => (r.getLong(0), r.getLong(1))) == Seq((3L, 3L)))
    Seq("Source", "Person").foreach { l =>
      val uids = rows(s"MATCH (v:$l) RETURN v.uid AS uid")
      assert(uids.nonEmpty && uids.forall(!_.isNullAt(0)), s"$l: $uids")
    }
    val ft = rows("CALL db.index.fulltext.queryNodes('PersonName', 'a~0.8', {limit: 1000}) " +
      "YIELD node, score RETURN node.uid AS uid, node.name AS name, labels(node)[0] AS label, score")
    assert(ft.nonEmpty && ft.forall(!_.isNullAt(0)), s"fulltext: $ft")
    val nodes = graph.NewsGraph.qGraphNodes(spark, dir).select("uid").collect()
    assert(nodes.nonEmpty && nodes.forall(!_.isNullAt(0)), "q_graph_nodes has a NULL uid")
  }

  test("exact dedup still pairs the surviving identical docs") {
    val d = operators.Dedup.qDedupExact(spark, dir)
    // docs 1 and 7 are byte-identical; the dirt must not break that
    assert(d.filter(col("doc_id").isin(1L, 7L)).count() >= 1)
  }

  test("BPE survives a word that fully merges mid-training") {
    // a hyper-frequent 2-char token chains (q,</w>) then (z,q</w>) in
    // two rounds and becomes a SINGLE symbol — the remaining rounds
    // must skip it (Spark's sequence(1, 0) descends, so an unguarded
    // pair builder probes element_at(syms, 2) on the 1-element array
    // and throws; DuckDB's generate_series(1, 0) is empty)
    val d = java.nio.file.Files.createTempDirectory("graft_bpe").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true),
      StructField("lang", StringType, nullable = true),
      StructField("source", StringType, nullable = true),
      StructField("n_chars", LongType, nullable = false)))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    val t = "zq zq zq zq zq zq zq zq alpha beta gamma delta"
    rows.add(org.apache.spark.sql.Row(1L, t, "en", "a", t.length.toLong))
    spark.createDataFrame(rows, schema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val merges = operators.Tokenize.qBpeTrain(spark, d).collect()
    assert(merges.length == operators.Tokenize.BpeRounds)
    val merged = merges.map(_.getAs[String]("merged"))
    assert(merged.take(2).toSeq == Seq("q</w>", "zq</w>"),
      s"unexpected first merges: ${merged.toSeq}")
    // rounds 3+ keep training on the still-splittable words
    assert(merged.drop(2).forall(m => !m.contains("zq</w>")))
  }
}

/** The dirty fixture, shared with the specs that replay its graph. */
object DirtyData {
  /** A documents dir with NULL, empty, whitespace-only and unicode
    * rows, and dirty embeddings beside it.
    */
  lazy val dir: String = {
    val spark = TestSpark.spark
    val d = java.nio.file.Files.createTempDirectory("graft_dirty").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true),
      StructField("lang", StringType, nullable = true),
      StructField("source", StringType, nullable = true),
      StructField("n_chars", LongType, nullable = false)))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    def add(id: Long, t: String, l: String, s: String): Unit =
      rows.add(org.apache.spark.sql.Row(id, t,
        l, s, if (t == null) 0L else t.length.toLong))
    add(1L, "a perfectly ordinary document about spark clusters", "en", "a")
    add(2L, null, "en", "a")               // NULL text
    add(3L, "", "en", "b")                 // empty
    add(4L, "   ", "en", "b")              // whitespace only
    add(5L, "émoji 🎉 naïve Ωmega ﬃ", "de", "c") // unicode
    add(6L, "repeated repeated repeated repeated", null, null) // null keys
    add(7L, "a perfectly ordinary document about spark clusters", "en", "c")
    spark.createDataFrame(rows, schema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    // dirty embeddings beside the dirty documents (round 10): the
    // vector CALL expands its top-k seed through BOTH tables, so its
    // dirty row needs vectors here — null / empty / wrong-dim / zero /
    // NaN rows that the vectors() choke point must screen
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = true), nullable = true),
      StructField("label", org.apache.spark.sql.types.IntegerType, nullable = false)))
    val em = new java.util.ArrayList[org.apache.spark.sql.Row]()
    def vec(id: Long, v: Seq[Float], l: Int): Unit =
      em.add(org.apache.spark.sql.Row(id, v, l))
    vec(0L, Seq.tabulate(operators.Similarity.Dim)(i => (i % 7).toFloat / 7f), 0)
    vec(1L, Seq.tabulate(operators.Similarity.Dim)(i => (i % 5).toFloat / 5f), 1)
    vec(2L, null, 0)                       // NULL embedding
    vec(3L, Seq.empty[Float], 1)           // empty vector
    vec(4L, Seq(1f, 2f, 3f), 0)            // wrong dimension
    vec(5L, Seq.tabulate(operators.Similarity.Dim)(_ => 0f), 1) // zero norm
    vec(6L, Seq.tabulate(operators.Similarity.Dim)(
      i => if (i == 0) Float.NaN else 0.5f), 0) // NaN component
    spark.createDataFrame(em, embSchema)
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }
}
