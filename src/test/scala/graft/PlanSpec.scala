package graft

import org.apache.spark.sql.functions.{array, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Relational, Similarity, TextPipeline}

/** Physical-plan audits: the properties that make these plans survive
  * a 100× scale-up — filter/column pushdown to parquet, broadcast of
  * dimension sides, whole-stage codegen — asserted so regressions in
  * plan shape fail CI, not the cluster.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1_agg pushes the shipdate filter and prunes columns at the scan") {
    val p = plan(Relational.q1Agg(spark, TestSpark.sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushdown:\n$p")
    assert(!p.contains("l_orderkey"), "pruned column still read")
  }

  test("q3_join broadcasts the dimension side (no shuffle of lineitem)") {
    val p = plan(Relational.q3Join(spark, TestSpark.sf))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("gazetteer NER join is a broadcast join") {
    val p = plan(TextPipeline.mentions(spark, TestSpark.sf))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast gazetteer:\n$p")
  }

  test("cosine top-k is TakeOrdered (no full sort shuffle)") {
    val p = plan(Similarity.qCosineTopk(spark, TestSpark.sf))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$p")
  }

  test("filtered vector search pushes lang to the scan; prunes partitions on the partitioned layout") {
    val p = plan(Similarity.qCosineTopkFiltered(spark, TestSpark.sf))
    assert(p.contains("EqualTo(lang,en)"), s"lang filter not pushed to scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$p")
    // same operator over the lang-partitioned layout → directory pruning
    val out = java.nio.file.Files.createTempDirectory("graft_part").toString
    sources.Catalog.writePartitioned(spark, TestSpark.sf, out)
    val pp = plan(Similarity.cosineTopkFiltered(spark, TestSpark.sf,
      sources.Catalog.readLang(spark, out, Similarity.FilterLang)))
    assert(pp.contains("PartitionFilters: [isnotnull(lang"),
      s"expected partition pruning:\n$pp")
  }

  test("scan of documents for token counting reads only needed columns") {
    val p = plan(operators.TextAnalysis.qTokenCount(spark, TestSpark.sf))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"expected 2-column read schema:\n$p")
  }

  test("dedup candidate joins are banded equi-joins — no cartesian product") {
    val qs = Seq[(String, org.apache.spark.sql.DataFrame)](
      "simhash" -> operators.Dedup.qDedupSimhash(spark, TestSpark.sf),
      "simhash64" -> operators.Dedup.qDedupSimhash64(spark, TestSpark.sf),
      "embedding" -> operators.Dedup.qDedupEmbedding(spark, TestSpark.sf))
    for ((name, df) <- qs) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name has a NL join:\n$p")
    }
  }

  test("global top-k paths are TakeOrdered, not a full-data rank window") {
    val qs = Seq[(String, org.apache.spark.sql.DataFrame)](
      "q_top_users" -> operators.Events.qTopUsers(spark, TestSpark.sf),
      "q_ann_lsh" -> Similarity.qAnnLsh(spark, TestSpark.sf),
      "q_ann_ivf" -> Similarity.qAnnIvf(spark, TestSpark.sf),
      "q_vocab_topk" -> operators.TextAnalysis.qVocabTopk(spark, TestSpark.sf))
    for ((name, df) <- qs)
      assert(plan(df).contains("TakeOrderedAndProject"),
        s"$name lost its TakeOrdered plan:\n${plan(df)}")
  }

  test("knn join per-group top-k runs through TopKPerGroupExec") {
    val p = plan(Similarity.qKnnJoin(spark, TestSpark.sf))
    assert(p.contains("TopKPerGroup"), s"expected TopKPerGroupExec:\n$p")
  }

  test("relational anchors run inside whole-stage codegen") {
    val df = Relational.q1Agg(spark, TestSpark.sf)
    df.collect() // AQE finalizes the plan only on execution
    val p = plan(df)
    // '*(n)' is the WholeStageCodegen marker in the finalized AQE plan
    assert(p.contains("*("), s"expected codegen spans:\n$p")
  }

  test("IVF assignment is a map-side-combined aggregate, not a per-vector window") {
    val p = plan(Similarity.qAnnIvf(spark, TestSpark.sf))
    assert(p.contains("partial_max_by"),
      s"expected map-side max_by partial aggregation:\n$p")
    // the only Window is the k-row rank ABOVE TakeOrdered (tree prints
    // top-down, so its index must precede the TakeOrdered line); no
    // window ever sees the full candidate set
    val wins = "Window".r.findAllMatchIn(p).map(_.start).toSeq
    assert(wins.size <= 1 && wins.forall(_ < p.indexOf("TakeOrderedAndProject")),
      s"unexpected window below the top-k take:\n$p")
  }

  test("range join is a bucketized equi-join, never a nested-loop band join") {
    val p = plan(operators.Events.qRangeJoin(spark, TestSpark.sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"band predicate must ride an equi-join on bucket:\n$p")
  }

  test("decontamination joins the benchmark-sized eval grams as a broadcast side") {
    val p = plan(operators.Curation.qDecontaminate(spark, TestSpark.sf))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast eval-gram join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"gram overlap must be an equi-join:\n$p")
  }

  test("domain mix broadcasts per-source totals; selection is a narrow pass") {
    val p = plan(operators.Training.qDomainMix(spark, TestSpark.sf))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast totals join:\n$p")
  }

  test("unigram LM folds the corpus total in as a broadcast, not a driver scalar") {
    val p = plan(operators.TextAnalysis.qUnigramLm(spark, TestSpark.sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected 1-row broadcast total:\n$p")
  }

  test("substring dedup shuffles hash keys only — no cartesian, 2-column scan") {
    val p = plan(operators.Dedup.qDedupSubstring(spark, TestSpark.sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span marking must be an equi-join on the gram hash:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"expected 2-column read schema:\n$p")
  }

  test("bloom decontamination prunes with might_contain before the exact join") {
    val df = operators.Curation.qBloomDecontaminate(spark, TestSpark.sf)
    val p = plan(df)
    assert(p.contains("might_contain"), s"expected BloomFilterMightContain filter:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected exact confirm join:\n$p")
    // identical verdicts to the exact-only variant (bloom FPs must die
    // in the confirm join; FNs are impossible)
    val exact = operators.Curation.qDecontaminate(spark, TestSpark.sf)
      .collect().map(_.toSeq).toSeq
    assert(df.collect().map(_.toSeq).toSeq == exact)
  }

  /** The driver-side (uid, score) seed of the vector and hybrid CALLs. */
  private val LocalSeed = """LocalTableScan \[uid#\d+, score#\d+\]""".r

  test("vector CALL: TakeOrdered seed, no cartesian in the expansion") {
    // the probe crossJoin(broadcast(1 row)) is the accepted
    // BroadcastNestedLoop probe shape (qCosineTopk's); the k-row leg
    // must rank through TakeOrdered. The CALL collects that leg and
    // seeds the suffix from a local relation, so the CALL's own plan
    // scans a LocalTableScan and its CONTAINS/PUBLISHED expansion must
    // stay equi-join — no CartesianProduct anywhere
    val leg = plan(Similarity.vectorQueryTopk(spark, TestSpark.sf, 5))
    assert(leg.contains("TakeOrderedAndProject"), s"vector leg not TakeOrdered:\n$leg")
    val p = plan(cypher.CypherLite.run(spark, TestSpark.sf,
      cypher.CypherLite.ExVec))
    assert(LocalSeed.findFirstIn(p).nonEmpty, s"suffix not seeded from a local relation:\n$p")
    assert(!p.contains("CartesianProduct"), s"vector CALL has a cartesian:\n$p")
  }

  test("hybrid CALL and round-11 cypher plans: TakeOrdered legs, equi-join only") {
    // hybrid: both legs rank through TakeOrdered (the vector leg is
    // asserted above; the keyword leg is the chunkText BM25 top-k);
    // the CALL fuses them on the driver and seeds the suffix from a
    // local relation, whose expansion stays equi-join
    val kw = plan(cypher.CypherLite.textIndexTopk(spark, TestSpark.sf,
      cypher.CypherLite.GraphMeta.ftIndexes("chunktext"), Seq("spark", "join", "fast"), 5))
    assert(kw.contains("TakeOrderedAndProject"), s"keyword leg not TakeOrdered:\n$kw")
    val ph = plan(cypher.CypherLite.run(spark, TestSpark.sf,
      cypher.CypherLite.ExHybrid))
    assert(LocalSeed.findFirstIn(ph).nonEmpty, s"suffix not seeded from a local relation:\n$ph")
    assert(!ph.contains("CartesianProduct"), s"hybrid CALL has a cartesian:\n$ph")
    // per-hop-filtered + multi-type var-length expansions and the
    // path-value render: equi-joins only, no NL joins beyond the
    // broadcast pair lookup
    for ((name, q) <- Seq("ex41" -> cypher.CypherLite.Ex41,
        "ex42" -> cypher.CypherLite.Ex42, "ex43" -> cypher.CypherLite.Ex43)) {
      val p = plan(cypher.CypherLite.run(spark, TestSpark.sf, q))
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian:\n$p")
    }
  }

  test("edge-row binds: no Source or entity node-table aggregate in ex2 or the vector CALL") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    // the node table of a key-derived label is a distinct over its one
    // key column (a document's source, a mention's name)
    def keyDistincts(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case a: Aggregate if a.groupingExpressions.size == 1 =>
          a.groupingExpressions.head.references.map(_.name).mkString(",")
      }.filter(Set("source", "name"))
    for ((name, q) <- Seq("ex2" -> cypher.CypherLite.Ex2, "vector" -> cypher.CypherLite.ExVec)) {
      val df = cypher.CypherLite.run(spark, TestSpark.sf, q)
      assert(keyDistincts(df).isEmpty,
        s"$name still aggregates a node table:\n${df.queryExecution.optimizedPlan}")
    }
  }

  test("an entity-name IN filter still reaches the standing mentions scan") {
    import graft.operators.TextPipeline
    sources.Catalog.materializeGraph(spark, TestSpark.sf)
    spark.conf.set(TextPipeline.MaterializedConf, TestSpark.sf)
    try {
      // ex1: o:Person binds from the MENTIONS edge row, its name read
      // off the edge's name column
      val p = plan(cypher.CypherLite.run(spark, TestSpark.sf, cypher.CypherLite.Ex1))
      val scans = p.linesIterator.filter(l => l.contains("graft_mentions") &&
        l.contains("PushedFilters")).toSeq
      assert(scans.nonEmpty, s"no mentions scan:\n$p")
      assert(scans.forall(_.contains("In(name, [customer,line customer])")),
        s"name IN not pushed into every mentions scan:\n${scans.mkString("\n")}")
    } finally spark.conf.unset(TextPipeline.MaterializedConf)
  }

  test("RRF legs are TakeOrdered pools; fusion never windows the corpus") {
    val p = plan(operators.Retrieval.qRrf(spark, TestSpark.sf))
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered legs:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("triangle/shortest-path/containment/var-length plans stay equi-join only") {
    val qs = Seq[(String, org.apache.spark.sql.DataFrame)](
      "triangles" -> graph.Analytics.qTriangles(spark, TestSpark.sf),
      "shortest_path" -> graph.Analytics.qShortestPath(spark, TestSpark.sf),
      "containment" -> operators.Dedup.qDedupContainment(spark, TestSpark.sf),
      "kcore" -> graph.Analytics.qKcore(spark, TestSpark.sf),
      "dedup_incremental" -> operators.Dedup.qDedupIncremental(spark, TestSpark.sf),
      "cypher_ex14" -> cypher.CypherLite.run(spark, TestSpark.sf, cypher.CypherLite.Ex14))
    for ((name, df) <- qs) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name has a NL join:\n$p")
    }
  }

  test("doc similarity scores a broadcast probe batch and ranks through the heap operator") {
    val p = plan(operators.Retrieval.qDocSimilarity(spark, TestSpark.sf))
    assert(p.contains("TopKPerGroup"), s"per-probe top-k not through the heap:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"probe batch not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus side got sort-merged:\n$p")
  }

  test("heavy hitters recount joins candidates as a broadcast; total rides broadcast too") {
    val p = plan(operators.Sketches.qHeavyHitters(spark, TestSpark.sf))
    assert(p.contains("BroadcastHashJoin"), s"candidate semi-join not broadcast:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row total not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"token stream got sort-merged:\n$p")
  }

  test("shard export windows per shard, never a global single-partition sort") {
    val p = plan(operators.Training.qShardExport(spark, TestSpark.sf))
    assert(p.contains("hashpartitioning(shard"),
      s"rank window not partitioned by shard:\n$p")
    assert(!p.contains("SinglePartition"),
      s"single-partition exchange in the rank path:\n$p")
  }

  test("TopKRewriteRule replaces the discarded-rank window with the heap operator") {
    val df = Relational.qTopnAuto(spark, TestSpark.sf)
    val p = plan(df)
    assert(p.contains("TopKPerGroup"), s"rule did not fire:\n$p")
    assert(!p.contains("Window"), s"window survived the rewrite:\n$p")
    // rank kept in the output → the rule must NOT fire
    val kept = plan(Relational.qTopnPerGroup(spark, TestSpark.sf))
    assert(kept.contains("Window") && !kept.contains("TopKPerGroup"),
      s"rule misfired on a rank-keeping query:\n$kept")
    // same rows as the window formulation (modulo the rank column)
    val viaWindow = Relational.qTopnPerGroup(spark, TestSpark.sf)
      .select("o_custkey", "o_orderkey").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaHeap = df.select("o_custkey", "o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaHeap == viaWindow)
  }

  test("pack_sequences prefix sum is two-level: no corpus window keyed on lang alone") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val df = operators.Training.qPackSequences(spark, TestSpark.sf)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "expected window operators in the plan")
    val partKeys = wins.map(w =>
      w.partitionSpec.flatMap(_.references.map(_.name)).toSet)
    // the corpus-sized prefix sum must partition on (lang, bkt)...
    assert(partKeys.exists(_ == Set("lang", "bkt")),
      s"missing (lang, bkt) window; got partitions: $partKeys")
    // ...and any lang-only window must sit above an Aggregate (its
    // input is the ≤PackBuckets-row bucket-totals table, not the corpus)
    wins.filter(w => w.partitionSpec.flatMap(_.references.map(_.name)).toSet == Set("lang"))
      .foreach { w =>
        assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
          s"lang-only window over non-aggregated input:\n$w")
      }
    // offsets ride a broadcast join back onto the corpus
    assert(plan(df).contains("BroadcastHashJoin"),
      s"bucket offsets not broadcast:\n${plan(df)}")
  }

  test("round-4 operators: no cartesian pair formation; broadcast model state") {
    // semdedup: candidate pairs are (cluster ∧ LSH-bucket)-blocked
    // equi-joins; the only broadcast-NLJ-shaped thing anywhere is the
    // k-row centroid table
    val sd = plan(operators.Dedup.qSemdedup(spark, TestSpark.sf))
    assert(!sd.contains("CartesianProduct"), s"semdedup has a cartesian:\n$sd")
    // dsir: both LMs ride back as broadcasts; the per-doc score join
    // must not sort-merge the 1024-row LM table
    val dw = plan(operators.Training.qDsirWeights(spark, TestSpark.sf))
    assert(dw.contains("BroadcastHashJoin"), s"LM table not broadcast:\n$dw")
    assert(!dw.contains("CartesianProduct"), s"dsir has a cartesian:\n$dw")
    // line dedup: boilerplate mark is an equi-join on the hash
    val dl = plan(operators.Dedup.qDedupLines(spark, TestSpark.sf))
    assert(!dl.contains("CartesianProduct") && !dl.contains("BroadcastNestedLoopJoin"),
      s"line mark must be an equi-join:\n$dl")
    // LPA: per-round vote joins are equi-joins on the entity key
    val lp = plan(graph.Analytics.qLpaCommunities(spark, TestSpark.sf))
    assert(!lp.contains("CartesianProduct") && !lp.contains("BroadcastNestedLoopJoin"),
      s"LPA votes must ride equi-joins:\n$lp")
    // quality classifier: single narrow pass — nothing to join at all
    val qc = plan(operators.TextAnalysis.qQualityClassifier(spark, TestSpark.sf))
    assert(!qc.contains("Join"), s"classifier should be join-free:\n$qc")
  }

  test("late round-4 operators: pruned ADC scoring, aggregate-sized mixture math") {
    // ivfpq: the probe restriction and the ADC lookup table arrive as
    // broadcast equi-joins; nothing unbounded is crossed (the only NLJ
    // shapes are the broadcast centroid/query-scalar crosses)
    val pq = plan(operators.Similarity.qAnnIvfPq(spark, TestSpark.sf))
    assert(pq.contains("BroadcastHashJoin"), s"ADC/probe tables not broadcast:\n$pq")
    assert(!pq.contains("CartesianProduct"), s"ivfpq has a cartesian:\n$pq")
    // temperature mix: corpus collapses to #sources rows before any
    // math; the 1-row totals ride a broadcast cross
    val mt = plan(operators.Training.qMixTemperature(spark, TestSpark.sf))
    assert(!mt.contains("CartesianProduct"), s"mix has a cartesian:\n$mt")
    // source report: the dup signal joins 16-byte md5 keys — an
    // equi-join, never a pair-forming NLJ
    val sr = plan(operators.Curation.qSourceReport(spark, TestSpark.sf))
    assert(!sr.contains("CartesianProduct") && !sr.contains("BroadcastNestedLoopJoin"),
      s"source report must stay equi-join:\n$sr")
    // fertility: the same single segmentation pass as the tokenizer
    // queries, then a rollup — no pair formation anywhere
    val tf = plan(operators.Tokenize.qTokenFertility(spark, TestSpark.sf))
    assert(!tf.contains("CartesianProduct"), s"fertility has a cartesian:\n$tf")
    // kmeans: every round's assignment crosses the corpus ONLY with
    // the broadcast K-row centroid table; recentering shuffles (k,
    // dim) means, never vectors — no true cartesian anywhere
    val km = plan(operators.Training.qKmeans(spark, TestSpark.sf))
    assert(!km.contains("CartesianProduct"), s"kmeans has a cartesian:\n$km")
    // ann recall: the audit adds only K-row joins on top of the four
    // methods' own (already-pinned) plans
    val rc = plan(operators.Similarity.qAnnRecall(spark, TestSpark.sf))
    assert(!rc.contains("CartesianProduct"), s"recall audit has a cartesian:\n$rc")
    // cube: all four grouping sets expand BEFORE one exchange (Expand
    // under a partial aggregate), not four scans
    val cb = plan(operators.Relational.qCube(spark, TestSpark.sf))
    assert(cb.contains("Expand"), s"cube should expand grouping sets:\n$cb")
    assert(!cb.contains("Union"), s"cube must be one pass, not unioned scans:\n$cb")
    // modularity: endpoint-community joins are equi-joins; the only
    // broadcast-NLJ is the 1-row total-weight cross
    val md = plan(graph.Analytics.qModularity(spark, TestSpark.sf))
    assert(!md.contains("CartesianProduct"), s"modularity has a cartesian:\n$md")
    // proto filter: per-cluster threshold is an aggregate broadcast
    // back, never a cluster-sized rank window
    val pf = plan(operators.Dedup.qProtoFilter(spark, TestSpark.sf))
    assert(!pf.contains("Window"), s"proto filter must not rank-window:\n$pf")
    // gram novelty: DF join on md5 keys — equi-join only
    val nv = plan(operators.Curation.qGramNovelty(spark, TestSpark.sf))
    assert(!nv.contains("CartesianProduct") && !nv.contains("BroadcastNestedLoopJoin"),
      s"novelty must stay equi-join:\n$nv")
    // training export: the packing windows keep the two-level shape —
    // the corpus window is bucket-keyed, never a single global key
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val te = operators.Training.qTrainingExport(spark, TestSpark.sf)
    val teParts = te.queryExecution.optimizedPlan
      .collect { case w: LWindow => w.partitionSpec.flatMap(_.references.map(_.name)).toSet }
    assert(teParts.exists(_ == Set("bkt")),
      s"missing bucket-keyed corpus window; got: $teParts")
    // URL dedup: one narrow projection + a hash shuffle on the
    // canonical-URL key — no join at all (cheapest dedup tier)
    val du = plan(operators.Dedup.qDedupUrl(spark, TestSpark.sf))
    assert(!du.contains("Join"), s"url dedup must be join-free:\n$du")
    // walks: every hop is an equi-join on the node key; no cartesian
    val wk = plan(graph.Analytics.qWalks(spark, TestSpark.sf))
    assert(!wk.contains("CartesianProduct") && !wk.contains("BroadcastNestedLoopJoin"),
      s"walks must stay equi-join:\n$wk")
    // BPE: the only corpus-sized shuffle is the vocabulary collapse;
    // per-round cross is the broadcast 1-row best pair (BNLJ), never
    // a true cartesian
    val bp = plan(operators.Tokenize.qBpeTrain(spark, TestSpark.sf))
    assert(!bp.contains("CartesianProduct"), s"bpe has a cartesian:\n$bp")
    // power iteration: the only cross is the broadcast 1-row w frame;
    // never a true cartesian, never a corpus-sized window
    val pc = plan(operators.Training.qTopComponent(spark, TestSpark.sf))
    assert(!pc.contains("CartesianProduct") && !pc.contains("Window"),
      s"power iteration must stay broadcast + agg:\n$pc")
    // neighbor sampling: both fanout picks are TopKPerGroup heaps,
    // never a rank window over a hub's neighbor list
    val ns = plan(graph.Analytics.qNeighborSample(spark, TestSpark.sf))
    assert(!ns.contains("Window"), s"neighbor sample must not rank-window:\n$ns")
    assert(ns.contains("TopKPerGroup"), s"neighbor sample should use the heap op:\n$ns")
    // betweenness: BFS layers and dependency passes are equi-joins
    val bt = plan(graph.Analytics.qBetweenness(spark, TestSpark.sf))
    assert(!bt.contains("CartesianProduct") && !bt.contains("BroadcastNestedLoopJoin"),
      s"betweenness must stay equi-join:\n$bt")
    // RAG context: the global top-RagK rides TakeOrdered; the dedup/
    // budget/pos windows run after it (bounded input)
    val rg = plan(graph.NewsGraph.qRagContext(spark, TestSpark.sf))
    assert(rg.contains("TakeOrderedAndProject"),
      s"rag context top-k must be TakeOrdered:\n$rg")
    assert(!rg.contains("CartesianProduct"), s"rag context has a cartesian:\n$rg")
  }

  test("round-6 additions: heap top-k, broadcast stats, pruned scans") {
    // hard negatives: per-query top-k through the heap operator; the
    // probe side is broadcast (no cartesian pair formation)
    val hn = plan(Similarity.qHardNegatives(spark, TestSpark.sf))
    assert(hn.contains("TopKPerGroup"),
      s"hard negatives must rank through the heap operator:\n$hn")
    assert(!hn.contains("CartesianProduct"), s"hard negatives cartesian:\n$hn")
    // PMI: gazetteer-bounded entity-count tables join as broadcasts;
    // the top-N is TakeOrdered, never a global rank window
    val pm = plan(graph.Analytics.qPmiCooccur(spark, TestSpark.sf))
    assert(pm.contains("BroadcastHashJoin"),
      s"PMI entity counts must broadcast:\n$pm")
    assert(!pm.contains("CartesianProduct"), s"PMI cartesian:\n$pm")
    assert(pm.contains("TakeOrderedAndProject"),
      s"PMI top-N must be TakeOrdered:\n$pm")
    // NDCG: scoring feeds the heap operator; windows only after it
    val nd = plan(Similarity.qNdcg(spark, TestSpark.sf))
    assert(nd.contains("TopKPerGroup"),
      s"ndcg ranking must go through the heap operator:\n$nd")
    assert(!nd.contains("CartesianProduct"), s"ndcg cartesian:\n$nd")
    // PRF: the pseudo-relevant pool is TakeOrdered and joins back as
    // a broadcast; expansion never windows the corpus
    val pr = plan(operators.Retrieval.qPrfExpansion(spark, TestSpark.sf))
    assert(pr.contains("TakeOrderedAndProject"),
      s"PRF pool must be TakeOrdered:\n$pr")
    assert(pr.contains("BroadcastHashJoin"),
      s"PRF pool must broadcast into the TF aggregate:\n$pr")
    assert(!pr.contains("CartesianProduct"), s"PRF cartesian:\n$pr")
    // cluster purity: struct-min majority pick (no rank window over
    // cells), no cartesian anywhere in the Lloyd chain
    val cp = plan(operators.Training.qClusterPurity(spark, TestSpark.sf))
    assert(!cp.contains("CartesianProduct"), s"purity cartesian:\n$cp")
    assert(!cp.contains("row_number"), s"purity must not rank-window:\n$cp")
    // histogram/drift: 2-3 column pruned scans, no cartesian
    val lh = plan(operators.Curation.qLengthHist(spark, TestSpark.sf))
    assert(lh.contains("ReadSchema: struct<source:string,n_chars:bigint>"),
      s"length hist must scan only (source, n_chars):\n$lh")
    val dr = plan(operators.Curation.qDriftReport(spark, TestSpark.sf))
    assert(dr.contains("ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>"),
      s"drift report must scan only (doc_id, source, n_chars):\n$dr")
    assert(!dr.contains("CartesianProduct"), s"drift report cartesian:\n$dr")
  }

  test("late round-6 operators: heap minima, expand-once sets, equi-join wedges") {
    // KMV: per-type k-minima through the heap operator, never a
    // distinct-hash rank window
    val km = plan(operators.Sketches.qKmvDistinct(spark, TestSpark.sf))
    assert(km.contains("TopKPerGroup"),
      s"KMV minima must go through the heap operator:\n$km")
    assert(!km.contains("CartesianProduct"), s"KMV cartesian:\n$km")
    // grouping sets: ONE Expand node, one partial-agg exchange chain —
    // never a union of three aggregations
    val gs = plan(Relational.qGroupingSets(spark, TestSpark.sf))
    assert("\\bExpand\\b".r.findAllIn(gs).size == 1,
      s"grouping sets must expand once:\n$gs")
    assert(!gs.contains("Union"), s"grouping sets must not union:\n$gs")
    // edge support / truss peel: equi-join wedges only
    val es = plan(graph.Analytics.qEdgeSupport(spark, TestSpark.sf))
    assert(!es.contains("CartesianProduct") && !es.contains("BroadcastNestedLoop"),
      s"edge support must stay equi-join:\n$es")
    // passage rank: best-per-doc through the heap, global cut is
    // TakeOrdered — no rank window anywhere
    val pg = plan(operators.Retrieval.qPassageRank(spark, TestSpark.sf))
    assert(pg.contains("TopKPerGroup"),
      s"passage rank must pick best-per-doc through the heap:\n$pg")
    assert(pg.contains("TakeOrderedAndProject"),
      s"passage rank global cut must be TakeOrdered:\n$pg")
    // DAU/WAU: the trailing window runs on the deduped day×user set
    // against a broadcast day list — raw events are never range-joined
    val da = plan(operators.Events.qDauStickiness(spark, TestSpark.sf))
    assert(!da.contains("CartesianProduct"), s"dau cartesian:\n$da")
    assert(da.contains("BroadcastNestedLoopJoin")
      || da.contains("BroadcastHashJoin"),
      s"dau day list must broadcast:\n$da")
  }

  test("concentration triad: broadcast rollups, post-agg windows, equi-join moments") {
    // entropy: the per-lang rollup joins back as a broadcast; the
    // only corpus exchange is the (lang, source) partial agg
    val sy = plan(operators.Curation.qSourceEntropy(spark, TestSpark.sf))
    assert(sy.contains("BroadcastHashJoin"),
      s"per-lang rollup must broadcast:\n$sy")
    assert(!sy.contains("CartesianProduct"), s"entropy cartesian:\n$sy")
    assert(sy.contains("ReadSchema: struct<text:string,lang:string,source:string>")
      || sy.contains("ReadSchema: struct<lang:string,text:string,source:string>"),
      s"entropy must read only lang/source/text:\n$sy")
    // gini: windows must run over the per-source aggregate (post-agg,
    // domain-bounded), never over the documents scan — exactly one
    // corpus-side exchange (the source partial agg); every join of
    // the tiny moment rows is a broadcast
    val tg = plan(operators.Curation.qTokenGini(spark, TestSpark.sf))
    assert(!tg.contains("CartesianProduct"), s"gini cartesian:\n$tg")
    assert("BroadcastNestedLoopJoin".r.findAllIn(tg).size >= 2,
      s"gini single-row joins must broadcast:\n$tg")
    // assortativity: endpoint-degree joins stay equi-joins — no
    // cartesian, no nested-loop join anywhere (the upstream text
    // pipeline's per-doc chunking window is shared and bounded)
    val ay = plan(graph.Analytics.qAssortativity(spark, TestSpark.sf))
    assert(!ay.contains("CartesianProduct")
      && !ay.contains("BroadcastNestedLoop"),
      s"assortativity must stay equi-join:\n$ay")
  }

  test("native functions are SQL-callable through the registry (extensions surface)") {
    graft.plans.GraftExtensions.installFunctions(spark)
    val viaSql = spark.sql(
      "SELECT cosine_sim(array(3.0d, 4.0d), array(4.0d, 3.0d)) AS c, " +
        "simhash64(array('alpha', 'beta', 'gamma')) AS s").head()
    // identical to the Column-API path of the same expressions
    val viaCol = spark.range(1).select(
      graft.functions.CosineSim.cosine_sim(
        array(lit(3.0), lit(4.0)), array(lit(4.0), lit(3.0))).as("c"),
      graft.functions.SimHash64.simhash64(
        array(lit("alpha"), lit("beta"), lit("gamma"))).as("s")).head()
    assert(viaSql.getDouble(0) == viaCol.getDouble(0))
    assert(viaSql.getLong(1) == viaCol.getLong(1))
    val desc = spark.sql("DESCRIBE FUNCTION cosine_sim")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("cosine_sim"), desc)
    // the full native surface answers from plain SQL, matching the
    // Column API bit-for-bit
    val sql2 = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp, " +
        "sq_dist(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS sd, " +
        "size(chunk_fold('a b c d e', 100)) AS nch, " +
        "size(word_shingles(array('a', 'b', 'c'), 2)) AS ns, " +
        "size(word_ngrams(array('a', 'b', 'c'), 2)) AS ng, " +
        "size(distinct_gram_md5(array('a', 'b', 'a', 'b'), 2)) AS dg, " +
        "size(minhash_sig(array('x', 'y'), 16)) AS mh, " +
        "sorted_field(array(struct(2, 'b'), struct(1, 'a')), 1) AS sf, " +
        "size(winnow_fps(array('a','b','c','d','e','f','g'), 3, 4)) AS wf, " +
        "zorder64(5L, 3L) AS zv")
      .head()
    assert(sql2.getDouble(0) == 11.0)
    assert(sql2.getDouble(1) == 8.0)
    assert(sql2.getInt(2) == 1)  // whole text fits one 100-char chunk
    assert(sql2.getInt(3) == 2 && sql2.getInt(4) == 2)
    assert(sql2.getInt(5) == 2)  // "a b","b a" distinct
    assert(sql2.getInt(6) == 16)
    assert(sql2.getSeq[String](7) == Seq("a", "b"))
    // 5 gram hashes → 2 windows of 4 → 1-2 distinct mins, never 0
    assert(sql2.getInt(8) >= 1 && sql2.getInt(8) <= 2)
    // interleave(0b101, 0b011) = even bits 1,0,1 + odd bits 1,1,0 = 0b011011
    assert(sql2.getLong(9) == graft.functions.ZOrder64.compute(5L, 3L))
    assert(sql2.getLong(9) == 27L)
  }

  test("skew report and embed outliers take their top-K, never a global rank") {
    for (df <- Seq(operators.Relational.qSkewReport(spark, TestSpark.sf),
        operators.Training.qEmbedOutliers(spark, TestSpark.sf))) {
      val p = plan(df)
      assert(p.contains("TakeOrderedAndProject"),
        s"global top-k must be TakeOrdered:\n$p")
      // the only Window is the k-row rank above the take
      val wins = "Window".r.findAllMatchIn(p).map(_.start).toSeq
      assert(wins.size <= 1 && wins.forall(_ < p.indexOf("TakeOrderedAndProject")),
        s"window below the top-k take:\n$p")
    }
  }

  test("chunk dedup shuffles 16-byte hashes — chunk text stays map-side") {
    val p = plan(operators.TextPipeline.qChunkDedup(spark, TestSpark.sf))
    // text is consumed by the md5 projection BEFORE the exchange: no
    // occurrence of the text column may appear after the first shuffle
    val ex = p.indexOf("Exchange")
    assert(ex >= 0, s"expected one hash exchange:\n$p")
    assert(!p.substring(ex).contains("chunk_text"),
      s"chunk text must not cross the exchange:\n$p")
  }

  test("kmv overlap's pairwise stage joins sketch rows as broadcasts") {
    val p = plan(operators.Sketches.qKmvOverlap(spark, TestSpark.sf))
    assert(p.contains("BroadcastExchange"),
      s"expected broadcast sketch-row joins:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian on raw data:\n$p")
  }

  // every shuffle's output attribute set, walked from the tree (the
  // printed plan is root-first, so "after the first Exchange" in TEXT
  // includes upstream stages and cannot pin what crosses the wire)
  private def shuffleCols(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def walk(p: SparkPlan): Seq[Seq[String]] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case e: ShuffleExchangeExec =>
        e.output.map(_.name).toSeq +: p.children.flatMap(walk)
      case _ => p.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  test("winnow pairs via equi-join on fingerprints — no cartesian, no text on the wire") {
    val df = operators.Dedup.qWinnow(spark, TestSpark.sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in winnow:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"NL join in winnow:\n$p")
    val shuffled = shuffleCols(df)
    assert(shuffled.nonEmpty)
    assert(shuffled.forall(cols => !cols.contains("text") && !cols.contains("words")),
      s"document text crossed a shuffle: $shuffled")
  }

  test("cdc dedup reads only doc_id+text and ships hashes, not chunk text") {
    val df = operators.Dedup.qDedupCdc(spark, TestSpark.sf)
    val p = plan(df)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"expected 2-column read schema:\n$p")
    val shuffled = shuffleCols(df)
    assert(shuffled.nonEmpty)
    assert(shuffled.forall(cols => !cols.contains("text") && !cols.contains("words")),
      s"document/chunk text crossed a shuffle: $shuffled")
  }

  test("entity trends ends in TakeOrdered — no corpus-sized rank window") {
    val p = plan(graph.Analytics.qEntityTrends(spark, TestSpark.sf))
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$p")
  }

  test("fulltext CALL is TakeOrdered over the name dim — never a full sort") {
    val p = plan(cypher.CypherLite.run(spark, TestSpark.sf, cypher.CypherLite.ExFt))
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in fulltext plan:\n$p")
  }

  test("capped pair twins rank through the heap operator, not a corpus window") {
    for (df <- Seq(operators.Dedup.qDedupSimhashTopk(spark, TestSpark.sf),
      operators.Dedup.qDedupEmbeddingTopk(spark, TestSpark.sf))) {
      val p = plan(df)
      assert(p.contains("TopKPerGroup"), s"expected heap cut:\n$p")
      // the only window left runs AFTER the heap cut (≤K rows/doc):
      // in the top-down plan print the Window node sits ABOVE the
      // heap exec it consumes — the pair stream itself never hits a
      // rank window
      assert(!p.contains("Window") ||
        p.indexOf("Window") < p.indexOf("TopKPerGroup"),
        s"window must consume the heap's output, not the pair stream:\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian in capped twin:\n$p")
    }
  }

  test("EXISTS subqueries plan as LeftSemi/LeftAnti — never fan-out or cartesian") {
    val p = plan(cypher.CypherLite.run(spark, TestSpark.sf, cypher.CypherLite.Ex33))
    assert(p.contains("LeftSemi"), s"expected a LeftSemi existential join:\n$p")
    assert(p.contains("LeftAnti"), s"expected a LeftAnti for NOT EXISTS:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in EXISTS plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"NL join in EXISTS plan:\n$p")
  }

  test("COUNT subqueries plan as grouped LeftOuter joins — no fan-out, no cartesian") {
    for (q <- Seq(cypher.CypherLite.Ex34, cypher.CypherLite.Ex36)) {
      val p = plan(cypher.CypherLite.run(spark, TestSpark.sf, q))
      // the grouped body (one row per shared binding) left-outer
      // joins in — multiplicities can only come from the outer side
      assert(p.contains("LeftOuter"), s"expected grouped LeftOuter:\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian in COUNT plan:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"NL join in COUNT plan:\n$p")
    }
  }
}
