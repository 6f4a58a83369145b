package graft.operators

import graft.Ckpt.BarrierOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Vector similarity search (ref embedding.py cos_sim,
  * vector_index.ipynb vector/hybrid/retrieval-query search).
  *
  * Cosine is pure `zip_with`/`aggregate` HOFs over double-cast arrays
  * — codegen'd, no UDF, deterministic left-to-right fold so the DuckDB
  * oracle (same fold) matches bit-for-bit before rounding.
  *
  * Scale: query vectors are a broadcast side (a handful of rows);
  * brute-force top-k is one narrow pass + a k-row ordered take. The
  * IVF variant is the 100 TB path: K centroids broadcast, each vector
  * assigned map-side, probes touch nprobe/K of the data.
  */
object Similarity {

  val TopK = 20
  val KnnK = 10
  val IvfK = 16           // coarse-quantizer cells (nlist)
  val IvfProbes = 6       // probed cells per query (nprobe)
  val IvfIters = 5        // Lloyd rounds for the coarse quantizer
  val IvfTrainSample = 4096 // vec_id cap bounding the training sample

  /** dot(a,b) — native generated loop (arrays must be double); the
    * accumulation order matches the portable HOF twin (CosineSimSpec)
    * bit-for-bit, so every oracle is unchanged.
    */
  def dotCol(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot_product(a, b)

  def normCol(a: Column): Column =
    sqrt(graft.functions.DotProduct.dot_product(a, a))

  def cosineCol(a: Column, b: Column): Column =
    dotCol(a, b) / (normCol(a) * normCol(b))

  /** dot-product fold in DuckDB SQL (a, b are double-list expressions). */
  def dotDuckSql(a: String, b: String): String =
    s"""list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i]))"""

  /** The same fold in DuckDB SQL (a, b are double-list expressions). */
  def cosineDuckSql(a: String, b: String): String =
    s"""(list_sum(list_transform(generate_series(1, len($a)),
       |   i -> $a[i] * $b[i]))
       | / (sqrt(list_sum(list_transform($a, x -> x * x)))
       |  * sqrt(list_sum(list_transform($b, x -> x * x)))))""".stripMargin.replace("\n", " ")

  /** embeddings with double-cast vectors. Unusable rows — NULL/empty
    * embeddings, zero vectors, NaN components — are screened HERE,
    * the one choke point every vector operator reads through: a zero
    * norm would turn the cosine into an ANSI DIVIDE_BY_ZERO task
    * failure, and at 100 TB such rows always exist (DirtyEventsSpec
    * pins the degrade-don't-throw contract). The driver's synthetic
    * embeddings are all usable, so every oracle is unchanged.
    */
  def vectors(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      // wrong-dimension rows are screened WITH the null/zero/NaN ones:
      // under ANSI a short vector reaching pqSubspaces' element_at(v,
      // Dim) is a TASK FAILURE, not a null — and at 100 TB such rows
      // exist (the HOF paths only degrade because zip_with null-pads)
      .filter(col("embedding").isNotNull && size(col("embedding")) === Dim)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", normCol(col("v")))
      .filter(col("nrm") > 0 && !isnan(col("nrm")))

  private val VecSql =
    """e AS (SELECT vec_id, label,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings)""".stripMargin

  /** The deterministic probe vector: embedding of vec_id = 0. */
  private def queryVec(spark: SparkSession, dir: String): DataFrame =
    vectors(spark, dir).filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qnrm"))

  /** Amortized-ANN indirection (same contract as Dedup./TextPipeline.
    * MaterializedConf): when set to the sf dir AND Catalog.
    * materializeAnn's tables exist, the ANN family reads the standing
    * IVF serving index and PQ code/codebook tables instead of
    * re-deriving assignment + codebook training per query — the
    * "encode at ingest, probe at serving" shape every production
    * vector index runs (FAISS stores exactly these three artifacts).
    */
  val MaterializedConf = "spark.graft.materializedAnnDir"

  private def materialized(spark: SparkSession, dir: String, table: String): Boolean =
    spark.conf.getOption(MaterializedConf).contains(dir) &&
      spark.catalog.tableExists(table)

  /** (centroids, index) resolved TOGETHER — both from the standing
    * tables or both derived in-plan from ONE training. FAISS
    * semantics: serving must probe the SAME centroids the index was
    * assigned under, or probe picks and cell membership silently
    * disagree. Per-table checks (the previous shape) could mix a
    * pinned quantizer with a freshly-trained index when
    * materializeAnn crashed between its writes; and the in-plan path
    * now trains ONCE and assigns under those centroids
    * (ivfServingIndex used to retrain its own copy, doubling the
    * driver-side k-means per query and holding correctness together
    * only by training determinism).
    */
  /** True when the amortized conf points at `dir` AND the standing
    * IVF pair is COMPLETE. A conf that matches with only ONE of the
    * two tables present (the materializeAnn crash window) FAILS
    * LOUDLY instead of silently retraining in-plan: the silent
    * fallback would serve vectors added via mergeVectors from a
    * DIFFERENT quantizer than the standing index they were encoded
    * under — they'd simply disappear from ANN serving until someone
    * noticed. Same contract as mergeVectors' bootstrap require.
    */
  private def pairServed(spark: SparkSession, dir: String,
      tblA: String, tblB: String, what: String): Boolean = {
    val confMatches = spark.conf.getOption(MaterializedConf).contains(dir)
    val haveA = spark.catalog.tableExists(tblA)
    val haveB = spark.catalog.tableExists(tblB)
    if (confMatches && haveA != haveB)
      throw new IllegalStateException(
        "amortized ANN serving is configured " +
          s"($MaterializedConf=$dir) but the standing $what pair is " +
          s"incomplete ($tblA=$haveA, $tblB=$haveB) — a crashed " +
          "materializeAnn leaves this state; rerun " +
          "Catalog.materializeAnn to restore the pair atomically " +
          "(silent in-plan retraining would serve mergeVectors-" +
          "ingested vectors from a different artifact than the " +
          "standing one)")
    confMatches && haveA && haveB
  }

  private def ivfPairServed(spark: SparkSession, dir: String): Boolean =
    pairServed(spark, dir, "graft_ivf_centroids", "graft_ivf", "IVF quantizer+index")

  private def ivfCk(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    if (ivfPairServed(spark, dir))
      (spark.table("graft_ivf_centroids"), spark.table("graft_ivf"))
    else {
      val cents = ivfCentroids(spark, dir).barrier(false)
      (cents, ivfServingIndex(spark, dir, cents))
    }

  /** (cid, cv, cnrm) only — for consumers that never touch cell
    * membership (the serving probe pick). Same pinned-when-
    * materialized rule, including the incomplete-pair guard.
    */
  private def ivfCentsCk(spark: SparkSession, dir: String): DataFrame =
    if (ivfPairServed(spark, dir))
      spark.table("graft_ivf_centroids")
    else ivfCentroids(spark, dir)

  /** ((vec_id, m, code), (m, k, c0, c1)) — stored PQ codes + trained
    * codebook when materialized, else trained/encoded in-plan. Same
    * incomplete-pair guard as the IVF side: codes decoded under a
    * codebook they were not encoded with are garbage, so a conf that
    * matches with only one table present fails loudly.
    */
  private def pqIndexCk(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    if (pairServed(spark, dir, "graft_pq_codes", "graft_pq_codebook",
        "PQ codes+codebook"))
      (spark.table("graft_pq_codes"), spark.table("graft_pq_codebook"))
    else {
      val subs = pqSubspaces(vectors(spark, dir))
      val cb = pqTrainCodebook(subs)
      (pqEncode(subs, cb), cb)
    }

  private val QVecSql = "q AS (SELECT v AS qv FROM e WHERE vec_id = 0)"

  /** The ONE broadcast-probe scored scan both brute-force top-ks cut
    * from (review finding: the serving seed used to duplicate this
    * pipeline verbatim — a scoring change would have had to land
    * twice or the serving path silently diverges).
    */
  private def scoredScan(spark: SparkSession, dir: String): DataFrame =
    vectors(spark, dir)
      .crossJoin(broadcast(queryVec(spark, dir)))
      .filter(col("vec_id") =!= 0)
      .withColumn("score", round(dotCol(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))

  /** Brute-force cosine top-k against the probe vector. */
  def qCosineTopk(spark: SparkSession, dir: String): DataFrame =
    scoredScan(spark, dir)
      .select("vec_id", "label", "score")
      .orderBy(col("score").desc, col("vec_id"))
      .limit(TopK)

  /** Top-k (doc_id, score) by cosine against the deterministic probe —
    * the serving seed for CypherLite's vector-CALL compilation
    * (db.index.vector.queryNodes, round 10). The synthetic corpus
    * embeds one vector per document (embeddings.vec_id =
    * documents.doc_id, the same mapping qCosineTopkFiltered serves);
    * the caller attaches the score to the document's representative
    * chunk. Same scoredScan as qCosineTopk + TakeOrdered.
    */
  def vectorQueryTopk(spark: SparkSession, dir: String, k: Int): DataFrame =
    scoredScan(spark, dir)
      .select(col("vec_id").as("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  val FilterLang = "en"

  /** Filtered vector search (vector_index.ipynb passes a metadata
    * `filter` to similarity_search): restrict candidates by article
    * language BEFORE scoring. The predicate reaches the documents
    * scan — PushedFilters on flat parquet, PartitionFilters (whole
    * directories never read) when the corpus is laid out via
    * Catalog.writePartitioned — so the scored set shrinks at the
    * source instead of post-hoc. `docs` is pluggable so the same
    * operator runs on either layout.
    */
  def cosineTopkFiltered(spark: SparkSession, dir: String, docs: DataFrame): DataFrame =
    vectors(spark, dir)
      .join(docs.select(col("doc_id"), col("lang")), col("vec_id") === col("doc_id"))
      .crossJoin(broadcast(queryVec(spark, dir)))
      .filter(col("vec_id") =!= 0)
      .withColumn("score", round(dotCol(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))
      .select("vec_id", "lang", "score")
      .orderBy(col("score").desc, col("vec_id"))
      .limit(TopK)

  def qCosineTopkFiltered(spark: SparkSession, dir: String): DataFrame =
    cosineTopkFiltered(spark, dir,
      Tables.documents(spark, dir).filter(col("lang") === FilterLang))

  /** k-NN join: top-k neighbors for each of 5 query vectors.
    *
    * Per-query top-k goes through the custom TopKPerGroup operator
    * (partial map-side heaps → cluster exchange → final heap), NOT a
    * `Window.partitionBy(query_id)` — the window plan funnels ALL N
    * candidates of a query into one partition; the heap plan shuffles
    * ≤ k rows per query per input partition. The rank window after it
    * only ever sees ≤ k rows per query.
    */
  def qKnnJoin(spark: SparkSession, dir: String): DataFrame = {
    val queries = vectors(spark, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val cands = vectors(spark, dir).filter(col("vec_id") >= 5)
    val scored = cands.crossJoin(broadcast(queries))
      .withColumn("score", round(dotCol(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))
      .select("query_id", "vec_id", "score")
    val top = graft.plans.TopKPerGroup.topK(scored, KnnK,
      Seq("query_id"), orderCol = "score", tieCol = "vec_id")
    top.withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))))
      .select("query_id", "vec_id", "score", "rk")
      .orderBy("query_id", "rk")
  }

  /** Hard-negative mining for contrastive training data: for each
    * query vector, the top-KnnK nearest candidates whose label
    * DIFFERS from the query's — the near-miss negatives a retrieval /
    * embedding trainer pairs with each anchor (easy random negatives
    * teach nothing; the highest-scoring wrong-label neighbors carry
    * the gradient). Same probe-broadcast + TopKPerGroup heap shape as
    * qKnnJoin; the label inequality rides the broadcast join
    * condition so wrong-label candidates die before scoring ships.
    */
  def qHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val qs = vectors(spark, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("nrm").as("qnrm"))
    val cands = vectors(spark, dir).filter(col("vec_id") >= 5)
    val scored = cands.crossJoin(broadcast(qs))
      .filter(col("label") =!= col("qlabel"))
      .withColumn("score", round(dotCol(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))
      .select("query_id", "vec_id", "label", "score")
    val top = graft.plans.TopKPerGroup.topK(scored, KnnK,
      Seq("query_id"), orderCol = "score", tieCol = "vec_id")
    top.withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))))
      .select("query_id", "vec_id", "label", "score", "rk")
      .orderBy("query_id", "rk")
  }

  /** Ranking-quality audit: NDCG@KnnK of the cosine ranking for each
    * probe query, with binary relevance = label agreement — the
    * retrieval-side companion of q_ann_recall (recall audits the
    * index approximation; NDCG audits whether the SCORING puts the
    * right things on top). Per-rank gains 1/log2(rk+1) ride the
    * integer micro-grid so group sums are order-immune; the ideal DCG
    * unrolls as a bounded sequence fold (min(n_rel, K) terms).
    *
    * Scale shape: one broadcast-probe scoring pass (shared with
    * qKnnJoin) feeds both the corpus-wide relevant count (map-side-
    * combined conditional sum) and the TopKPerGroup heap; every
    * window after the heap sees ≤ K rows per query.
    */
  def qNdcg(spark: SparkSession, dir: String): DataFrame = {
    val qs = vectors(spark, dir).filter(col("vec_id") < ProbeBatch)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = vectors(spark, dir).filter(col("vec_id") >= ProbeBatch)
      .crossJoin(broadcast(qs))
      .withColumn("score", round(dotCol(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))
      .select("query_id", "qlabel", "vec_id", "label", "score")
    val nRel = scored.groupBy("query_id")
      .agg(sum(when(col("label") === col("qlabel"), 1L).otherwise(0L)).as("n_rel"))
    val ranked = graft.plans.TopKPerGroup.topK(scored, KnnK,
        Seq("query_id"), orderCol = "score", tieCol = "vec_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))))
    val gain = round(lit(1e6) / log2(col("rk") + 1)).cast("long")
    val dcg = ranked.groupBy("query_id")
      .agg(sum(when(col("label") === col("qlabel"), gain).otherwise(0L)).as("dcg_micro"))
    dcg.join(nRel, "query_id")
      .withColumn("idcg_micro", when(col("n_rel") > 0, aggregate(
        transform(sequence(lit(1L), least(col("n_rel"), lit(KnnK.toLong))),
          i => round(lit(1e6) / log2(i + 1)).cast("long")),
        lit(0L), (acc, x) => acc + x)).otherwise(lit(0L)))
      .withColumn("ndcg", when(col("idcg_micro") > 0,
        round(col("dcg_micro") / col("idcg_micro").cast("double"), 6))
        .otherwise(lit(0.0)))
      .select("query_id", "n_rel", "dcg_micro", "idcg_micro", "ndcg")
      .orderBy("query_id")
  }

  /** Retrieval-eval companion to qNdcg: MRR and hit-count@K per
    * probe query. First-relevant rank and hits come from ONE
    * aggregate over the same heap-ranked top-K (TopKPerGroup bounds
    * the shuffle to K rows per query; no corpus-sized window), and
    * the reciprocal rank is an exact integer micro value — the
    * rank-quality number a retrieval pipeline trends per release.
    */
  def qMrr(spark: SparkSession, dir: String): DataFrame = {
    val qs = vectors(spark, dir).filter(col("vec_id") < ProbeBatch)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = vectors(spark, dir).filter(col("vec_id") >= ProbeBatch)
      .crossJoin(broadcast(qs))
      .withColumn("score",
        round(dotCol(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))
      .select("query_id", "qlabel", "vec_id", "label", "score")
    val ranked = graft.plans.TopKPerGroup.topK(scored, KnnK,
        Seq("query_id"), orderCol = "score", tieCol = "vec_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))))
    ranked.groupBy("query_id")
      .agg(min(when(col("label") === col("qlabel"), col("rk"))).as("fr"),
        sum(when(col("label") === col("qlabel"), 1L).otherwise(0L)).as("hits"))
      .withColumn("rr_micro",
        when(col("fr").isNotNull, expr("1000000 div fr")).otherwise(lit(0L)))
      .select(col("query_id"),
        coalesce(col("fr"), lit(0)).cast("long").as("first_rel"),
        col("hits"), col("rr_micro"))
      .orderBy("query_id")
  }

  val HybridTerms: Seq[String] = Seq("spark", "join", "fast")

  /** Hybrid retrieval: 0.6·cosine + 0.4·keyword-coverage
    * (vector_index.ipynb hybrid search re-expression; keyword side is
    * term-coverage over the doc's token set instead of a Lucene score).
    */
  def qHybridSearch(spark: SparkSession, dir: String): DataFrame = {
    val kw = Tables.documents(spark, dir)
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"),
        (size(filter(array_distinct(col("words")),
          w => w.isin(HybridTerms.map(lit): _*)))
          / lit(HybridTerms.size.toDouble)).as("kw_score"))
    vectors(spark, dir)
      .join(kw, col("vec_id") === col("doc_id"))
      .crossJoin(broadcast(queryVec(spark, dir)))
      .filter(col("vec_id") =!= 0)
      .withColumn("score", round(
        lit(0.6) * (dotCol(col("v"), col("qv")) / (col("nrm") * col("qnrm"))) + lit(0.4) * col("kw_score"), 6))
      .select("doc_id", "score")
      .orderBy(col("score").desc, col("doc_id"))
      .limit(TopK)
  }

  val MmrK = 5         // diversified picks
  val MmrLambdaX10 = 7 // λ = 0.7, carried as ×10 integer weights

  /** Maximal Marginal Relevance (Carbonell & Goldstein 1998) — the
    * diversified re-rank a RAG serving layer applies after top-k
    * retrieval so the context window isn't k copies of the same
    * passage: greedily pick argmax λ·sim(q,d) − (1−λ)·max_{s∈S}
    * sim(d,s) for MmrK rounds.
    *
    * Cross-engine float discipline: every cosine is rounded to 6
    * decimals then lifted to an integer micro-grid, and the MMR score
    * is pure BIGINT arithmetic (7·qs − 3·maxsim, the ×10 λ weights) —
    * greedy argmax ties break on vec_id, so both engines walk the
    * identical selection sequence. BIGINT headroom is
    * data-INdependent: |cosine micro| ≤ 10⁶, so |mmr| ≤ 10·10⁶.
    *
    * Scale shape: the expensive part is the top-TopK retrieval, which
    * is the existing TakeOrdered path over one corpus scan; everything
    * after runs on the TopK-row candidate set (checkpointed once) —
    * the pairwise sim matrix is TopK², and each greedy round is a
    * candidate-set-sized join, independent of corpus size. The oracle
    * unrolls the same MmrK rounds as chained CTEs.
    */
  def qMmr(spark: SparkSession, dir: String): DataFrame = {
    def micro(c: Column): Column = round(round(c, 6) * 1e6).cast("long")
    val cand = vectors(spark, dir)
      .crossJoin(broadcast(queryVec(spark, dir)))
      .filter(col("vec_id") =!= 0)
      .withColumn("qs", micro(dotCol(col("v"), col("qv")) / (col("nrm") * col("qnrm"))))
      .orderBy(col("qs").desc, col("vec_id"))
      .limit(TopK)
      .select("vec_id", "v", "nrm", "qs")
      .barrier(false) // TopK rows: feeds the sim matrix + every greedy round
    val sim = cand.select(col("vec_id").as("a"), col("v").as("va"), col("nrm").as("na"))
      .crossJoin(broadcast(
        cand.select(col("vec_id").as("b"), col("v").as("vb"), col("nrm").as("nb"))))
      .filter(col("a") =!= col("b"))
      .withColumn("s", micro(dotCol(col("va"), col("vb")) / (col("na") * col("nb"))))
      .select("a", "b", "s")
      .barrier(false) // ≤ TopK² rows, re-read each round
    var sel = cand
      .orderBy(col("qs").desc, col("vec_id")).limit(1)
      .select(col("vec_id"), (lit(MmrLambdaX10) * col("qs")).as("mmr"),
        lit(1).as("rk"))
    for (r <- 2 to MmrK) {
      val pen = sim.join(sel.select(col("vec_id").as("b")), "b")
        .groupBy("a").agg(max(col("s")).as("pen"))
      val next = cand
        .join(sel.select("vec_id"), Seq("vec_id"), "left_anti")
        .join(pen, col("vec_id") === col("a"))
        .withColumn("mmr",
          lit(MmrLambdaX10) * col("qs") - lit(10 - MmrLambdaX10) * col("pen"))
        .orderBy(col("mmr").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("mmr"), lit(r).as("rk"))
      // barrier each round: sel is referenced THREE times building the
      // next round (union, pen join, anti-join) — uncheckpointed, the
      // final plan holds ~3^(MmrK-1) copies of the round-1 subtree and
      // plan size explodes with any MmrK increase
      sel = sel.unionByName(next).barrier(false)
    }
    sel.select("rk", "vec_id", "mmr").orderBy("rk")
  }

  /** Graph-expansion retrieval (vector_index.ipynb retrieval_query):
    * top-5 chunks by cosine, expanded to article + source metadata.
    */
  def qExpandRetrieval(spark: SparkSession, dir: String): DataFrame =
    vectors(spark, dir)
      .crossJoin(broadcast(queryVec(spark, dir)))
      .filter(col("vec_id") =!= 0)
      // native fused expression (graft.functions.CosineSim) — fold
      // order matches the HOF path, so the oracle value is unchanged
      .withColumn("score", round(
        graft.functions.CosineSim.cosine_sim(col("v"), col("qv")), 6))
      .join(Tables.documents(spark, dir), col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("score"),
        concat(lit("Title: doc "), col("doc_id"), lit(" ["), col("source"), lit("]"),
          lit(" Text: "), substring(col("text"), 1, 60)).as("text_out"),
        col("source"), col("lang"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(5)

  /** K-MEANS-TRAINED coarse quantizer (FAISS IndexIVF's first stage),
    * the round-8 recall fix: the former deterministic centroid pick
    * (every 97th corpus vector) made cells essentially random slices,
    * so multi-probe recall was just the COVERAGE fraction
    * (nprobe/nlist; measured 0.49 mean at 33% coverage). Trained
    * centroids align cells with what structure the corpus has —
    * measured mean recall@10 0.90/0.94 (sf0.01/sf0.1) at 31% coverage
    * vs 0.49/0.60 untrained at equal coverage.
    *
    * Training runs DRIVER-SIDE over a bounded deterministic sample
    * (vec_id < IvfTrainSample), exactly like pqTrainCodebook — the
    * FAISS train-on-sample pattern; 5 corpus passes for a 16-row
    * table is the wrong plan at any scale. All arithmetic lives on
    * the integer micro-grid (components ×10⁶ as BIGINT; squared-L2
    * assignment sums are exact BIGINTs; centroid update is the
    * truncating per-dimension mean), so the DuckDB oracle replays
    * training bit-equal as unrolled CTEs (ivfTrainCteSql). Init:
    * the IvfK smallest-vec_id sample vectors, ties impossible (ids
    * unique); assignment ties → smallest cid. Empty cells keep their
    * previous centroid.
    *
    * nlist here is a fixed audit-scale constant; at production scale
    * nlist grows ~√n (a build-time knob stored with the index — see
    * Catalog.materializeAnn) and nprobe stays the serving-time
    * recall/cost dial.
    */
  private[graft] def ivfTrainCentroids(spark: SparkSession, dir: String): Array[Array[Long]] = {
    val sample = vectors(spark, dir).filter(col("vec_id") < IvfTrainSample)
      .select(col("vec_id"),
        transform(col("v"), x => round(x * 1e6).cast("long")).as("mv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    val pts = sample.map(_._2)
    val kEff = math.min(IvfK, pts.length)
    val cents = Array.tabulate(kEff)(k => pts(k).clone())
    var it = 0
    while (it < IvfIters) {
      val sums = Array.fill(kEff)(new Array[Long](Dim))
      val n = new Array[Long](kEff)
      pts.foreach { p =>
        var best = 0; var bestD = Long.MaxValue
        var k = 0
        while (k < kEff) {
          var d = 0L; var i = 0
          val c = cents(k)
          while (i < Dim) { val dx = p(i) - c(i); d += dx * dx; i += 1 }
          if (d < bestD) { bestD = d; best = k } // strict < : ties → smallest cid
          k += 1
        }
        val s = sums(best); var i = 0
        while (i < Dim) { s(i) += p(i); i += 1 }
        n(best) += 1
      }
      var k = 0
      while (k < kEff) {
        if (n(k) > 0) { // empty cell keeps its previous centroid
          var i = 0
          while (i < Dim) { cents(k)(i) = sums(k)(i) / n(k); i += 1 }
        }
        k += 1
      }
      it += 1
    }
    cents
  }

  /** (cid, cv, cnrm): the trained centroid table every IVF path
    * probes — 16 literal rows riding the plan (broadcast-sized by
    * construction, like FAISS's in-RAM coarse quantizer). Zero-norm
    * centroids are screened in BOTH engines (a degenerate all-zero
    * mean would put ±Inf/NaN into the probe ordering).
    */
  def ivfCentroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ivfTrainCentroids(spark, dir).zipWithIndex.toSeq
      .map { case (c, k) => (k.toLong, c.toSeq) }
      .toDF("cid", "c")
      .select(col("cid"), transform(col("c"), x => x / lit(1e6)).as("cv"))
      .withColumn("cnrm", normCol(col("cv")))
      .filter(col("cnrm") > 0)
  }

  /** IVF-style ANN: vectors assigned to the nearest of the IvfK
    * TRAINED centroids; the query probes the IvfProbes nearest cells.
    */
  def qAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    // the standing index carries the assignment (map-side-combined
    // max_by per vector when derived in-plan — see ivfServingIndex;
    // a bucketed table scan when the amortized indirection is active)
    val (cents, idx) = ivfCk(spark, dir)
    // probe pick + final top-k: TakeOrdered (orderBy+limit), never a
    // global window over the candidate set — the centroid list and the
    // probed cells both grow with the corpus
    val probed = cents.crossJoin(broadcast(queryVec(spark, dir)))
      .withColumn("qcos", dotCol(col("cv"), col("qv")) / (col("cnrm") * col("qnrm")))
      .orderBy(col("qcos").desc, col("cid"))
      .limit(IvfProbes)
      .select("cid")
    // the probe filter lands on the index scan — only the nprobe/K of
    // the corpus that lives in probed cells is ever scored
    val scored = idx.join(probed, "cid")
      .crossJoin(broadcast(queryVec(spark, dir)))
      .filter(col("vec_id") =!= 0)
      .withColumn("score", round(dotCol(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))
    TopKUtil.globalTopK(scored, KnnK, "vec_id", col("score").desc, col("vec_id"))
      .select("vec_id", "cid", "score", "rk")
      .orderBy("rk")
  }

  /** The standing IVF serving index (cid, vec_id, v, nrm) — what
    * ingest materializes once and serving probes forever: every
    * corpus vector under its assigned cell. The streaming retrieval
    * twin (EventStream.annProbeStream) joins this stream-static on
    * cid, exactly like the dedup screens probe their standing
    * band/hash indexes.
    */
  def ivfServingIndex(spark: SparkSession, dir: String): DataFrame =
    ivfServingIndex(spark, dir, ivfCentroids(spark, dir))

  /** Index build against an EXPLICIT centroid table — the form every
    * internal caller uses so training happens exactly once per plan
    * (Catalog.materializeAnn passes its just-written table; ivfCk
    * passes its single in-plan training).
    */
  def ivfServingIndex(spark: SparkSession, dir: String,
      cents: DataFrame): DataFrame = {
    val e = vectors(spark, dir)
    assignToCells(e, cents)
      .join(e.select("vec_id", "v", "nrm"), "vec_id")
      .select("cid", "vec_id", "v", "nrm")
  }

  /** Nearest-cell assignment (vec_id, cid) against an explicit
    * centroid table — map-side-combined max_by per vector: the
    * broadcast cross keeps a vector's K centroid rows in its input
    * partition, so the partial aggregate collapses them locally and
    * the exchange carries ONE narrow (vec_id, cid) row per vector.
    * Tie-break: highest cosine, then lowest centroid id. Shared by
    * the full index build and Catalog.mergeVectors' incremental adds
    * (which pin the ORIGINAL centroid set — FAISS add() semantics).
    */
  private[graft] def assignToCells(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .withColumn("ccos", dotCol(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .groupBy("vec_id")
      .agg(max_by(col("cid"), struct(col("ccos"), -col("cid"))).as("cid"))

  /** The same usability screen as [[vectors]] for an arbitrary
    * (vec_id, embedding, …) batch — the ingest-side prep
    * Catalog.mergeVectors runs on arriving vectors.
    */
  private[graft] def prepVectors(batch: DataFrame): DataFrame =
    batch.filter(col("embedding").isNotNull && size(col("embedding")) === Dim)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", normCol(col("v")))
      .filter(col("nrm") > 0 && !isnan(col("nrm")))

  /** The IVF centroid table as ONE row carrying an array of (cid, cv,
    * cnrm) structs — the in-RAM centroid table every vector-search
    * query server holds (FAISS keeps exactly this). Broadcast against
    * an arriving query stream, it makes the probe pick a stateless
    * per-row HOF computation: no stream state, no aggregate before
    * the cell join.
    */
  def ivfCentroidArray(spark: SparkSession, dir: String): DataFrame =
    ivfCentsCk(spark, dir) // pinned when serving a standing index
      .agg(collect_list(struct(col("cid"), col("cv"), col("cnrm"))).as("cents"))

  /** Batch ANN retrieval — the RAG serving shape at scale: every query
    * vector probes its IvfProbes nearest IVF cells and scores ONLY the
    * vectors assigned there, so per-query cost is nprobe/K of the
    * corpus (qKnnJoin's exact crossJoin is the recall baseline this
    * trades against). All three per-group top-k steps — probe pick and
    * final neighbors — run through the TopKPerGroup heap, never a
    * query-sized window; the query batch and centroid table are
    * broadcast sides.
    */
  def qKnnJoinIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = vectors(spark, dir)
    val (cents, idx) = ivfCk(spark, dir)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val centScores = cents.crossJoin(broadcast(queries))
      .withColumn("qcos", dotCol(col("cv"), col("qv")) / (col("cnrm") * col("qnrm")))
      .select("query_id", "cid", "qcos")
    val probed = graft.plans.TopKPerGroup.topK(centScores, IvfProbes,
        Seq("query_id"), orderCol = "qcos", tieCol = "cid")
      .select("query_id", "cid")
    val scored = idx.join(probed, "cid")
      .filter(col("vec_id") >= 5)
      .join(broadcast(queries), "query_id")
      .withColumn("score", round(dotCol(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))
      .select("query_id", "vec_id", "score")
    val top = graft.plans.TopKPerGroup.topK(scored, KnnK,
      Seq("query_id"), orderCol = "score", tieCol = "vec_id")
    top.withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))))
      .select("query_id", "vec_id", "score", "rk")
      .orderBy("query_id", "rk")
  }

  // ---- product quantization ANN ----------------------------------------
  val PqM = 32      // subspaces
  val PqSubDim = 2  // dims per subspace (PqM * PqSubDim = Dim)
  val PqK = 16      // codewords per subspace
  val PqStride = 31 // k-means INIT: codeword k seeded from vec_id = 31k
  val PqIters = 5   // Lloyd rounds refining the sampled init
  val PqTrainSample = 4096 // vec_id cap bounding the training sample

  private def sqDist(a: Column, b: Column): Column =
    graft.functions.SqDist.sq_dist(a, b)

  /** (vec_id, m, x0, x1): the M 2-dim subvectors of each vector, with
    * components on the integer micro grid (round(x·1e6) as BIGINT).
    * Everything downstream — k-means training, encoding, ADC — is pure
    * integer arithmetic, so sums are associative and no distributed
    * summation order can flip a codeword or a distance across engines.
    */
  private[graft] def pqSubspaces(e: DataFrame): DataFrame = {
    def mic(c: Column) = round(c * 1e6).cast("long")
    e.select(col("vec_id"), posexplode(array((0 until PqM).map(m =>
        struct(mic(element_at(col("v"), m * PqSubDim + 1)).as("x0"),
          mic(element_at(col("v"), m * PqSubDim + 2)).as("x1"))): _*))
        .as(Seq("m", "s")))
      .select(col("vec_id"), col("m"),
        col("s.x0").as("x0"), col("s.x1").as("x1"))
  }

  /** Integer squared distance between a subvector (x0,x1) and a
    * codeword (c0,c1) — micro² units.
    */
  private def d2Col: Column =
    (col("x0") - col("c0")) * (col("x0") - col("c0")) +
      (col("x1") - col("c1")) * (col("x1") - col("c1"))

  /** K-means-trained PQ codebook (m, k, c0, c1): Lloyd's algorithm
    * from a deterministic sampled init (subvectors of vec_id = 31k),
    * PqIters rounds of argmin assignment + integer centroid update.
    * Data-sampled codewords alone left recall@10 at 0.3-0.4 on this
    * near-orthogonal corpus (round-6 audit); training the codebook —
    * what FAISS does — is what buys servable recall (0.8 at the gate
    * SF; residual IVF-PQ encoding was prototyped too and measured
    * WORSE here, 0.4, because ~6 near-orthogonal centroids leave
    * residuals as spread as the vectors; see SURVEY §6).
    *
    * Training runs IN-MEMORY over a bounded deterministic sample
    * (vec_id < PqTrainSample → ≤ PqTrainSample·M subvector tuples,
    * ~3 MB) — the FAISS design: codebooks train on a sample, never the
    * corpus, because 5 corpus passes for a 512-row table is the wrong
    * plan at any scale. The collect is the bounded-sample seam (same
    * policy as the HITS scalar): its size is a constant, not a
    * function of corpus size. A first distributed-Lloyd draft (5
    * in-plan rounds) was measured 8× slower (9.5 s vs 1.2 s solo at
    * sf0.1) with all the time in per-round job+codegen overhead.
    *
    * Cross-engine discipline: all-integer arithmetic; the centroid
    * update is the bare TRUNCATING mean Σx div n — JVM `/`, Spark
    * `div` and DuckDB `//` all truncate toward zero (DuckDB probed:
    * -7//2 = -3), so the identical formula is bit-equal across
    * engines for any sign, no shift needed. Ties → smallest k;
    * empty clusters keep their previous codeword. The DuckDB oracle
    * replays training verbatim as unrolled CTEs (pqCteSql).
    */
  private[graft] def pqTrainCodebook(subs: DataFrame): DataFrame = {
    val spark = subs.sparkSession
    val sample = subs.filter(col("vec_id") < PqTrainSample)
      .select("vec_id", "m", "x0", "x1").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val byM = sample.groupBy(_._2)
    val out = Seq.newBuilder[(Int, Int, Long, Long)]
    var m = 0
    while (m < PqM) {
      val pts = byM.getOrElse(m, Array.empty[(Long, Int, Long, Long)])
      if (pts.nonEmpty) {
        // codeword k seeds from the k-th id in (seed-rule-first,
        // ascending) order: on a DENSE id space this is exactly the
        // historical vec_id == k·PqStride rule; on sparse/filtered id
        // spaces (the production norm) it degrades to the smallest
        // available ids — and to FEWER than PqK codewords on tiny
        // samples — instead of crashing the build. The oracle's cb0
        // replays the same ordering (row_number over the same sort).
        val ordered = pts.sortBy(p => (p._1 % PqStride != 0, p._1))
        val kEff = math.min(PqK, ordered.length)
        val c0 = new Array[Long](kEff); val c1 = new Array[Long](kEff)
        var k = 0
        while (k < kEff) { c0(k) = ordered(k)._3; c1(k) = ordered(k)._4; k += 1 }
        var it = 0
        while (it < PqIters) {
          val s0 = new Array[Long](kEff); val s1 = new Array[Long](kEff)
          val n = new Array[Long](kEff)
          pts.foreach { case (_, _, x0, x1) =>
            var best = 0; var bestD = Long.MaxValue
            var j = 0
            while (j < kEff) {
              val dx = x0 - c0(j); val dy = x1 - c1(j)
              val d = dx * dx + dy * dy
              if (d < bestD) { bestD = d; best = j } // strict < : ties → smallest j
              j += 1
            }
            s0(best) += x0; s1(best) += x1; n(best) += 1
          }
          var j = 0
          while (j < kEff) {
            if (n(j) > 0) { // empty cluster keeps its previous codeword
              // plain truncating mean, NO shift: JVM `/` and DuckDB
              // `//` BOTH truncate toward zero (probed: -7//2 = -3 in
              // DuckDB), so the bare formula is bit-equal across
              // engines for ANY sign — the former +1e6 shift guarded
              // against a flooring `//` DuckDB doesn't have (ADVICE
              // r7's premise), and Math.floorDiv diverges on negative
              // sums (measured: adc_dist drift at the sf0.01 gate).
              c0(j) = s0(j) / n(j)
              c1(j) = s1(j) / n(j)
            }
            j += 1
          }
          it += 1
        }
        k = 0
        while (k < kEff) { out += ((m, k, c0(k), c1(k))); k += 1 }
      }
      m += 1
    }
    import spark.implicits._
    out.result().toDF("m", "k", "c0", "c1")
  }

  /** (vec_id, m, code): argmin-distance codeword per subspace against
    * the trained codebook (ties → smallest k), via map-side-combined
    * max_by. Spec-visible.
    */
  private[graft] def pqEncode(subs: DataFrame, cb: DataFrame): DataFrame =
    subs.join(broadcast(cb), "m")
      .withColumn("d2", d2Col)
      .groupBy("vec_id", "m")
      .agg(max_by(col("k"), struct(-col("d2"), -col("k"))).as("code"))

  /** Product-quantization ANN — the 100 TB vector-search design: each
    * vector is encoded as M=32 nibble codes (16 bytes vs 256 raw), and
    * query scoring is ADC: the query's 512 codeword distances are
    * computed ONCE, then every vector's approximate distance is a sum
    * of M integer table lookups — no full-vector arithmetic per
    * candidate. Codebook is k-means-trained in-plan (pqTrainCodebook);
    * ADC sums are exact BIGINTs, independent of summation order.
    */
  def qAnnPq(spark: SparkSession, dir: String): DataFrame = {
    val e = vectors(spark, dir)
    val (enc, cb) = pqIndexCk(spark, dir)
    val qd = cb.join(broadcast(pqSubspaces(e.filter(col("vec_id") === 0))
        .select(col("m"), col("x0"), col("x1"))), "m")
      .withColumn("qmicro", d2Col)
      .select(col("m"), col("k").as("code"), col("qmicro"))
    val adc = enc.join(broadcast(qd), Seq("m", "code"))
      .groupBy("vec_id").agg(sum("qmicro").as("adc_micro"))
      .filter(col("vec_id") =!= 0)
    TopKUtil.globalTopK(adc, KnnK, "vec_id", col("adc_micro"), col("vec_id"))
      .select(col("vec_id"),
        round(col("adc_micro") / lit(1e12), 6).as("adc_dist"), col("rk"))
      .orderBy("rk")
  }

  /** IVF-PQ ANN — the two quantizers composed, which is the actual
    * billion-vector serving design (FAISS IVFPQ): the IVF coarse
    * quantizer prunes the corpus to the query's IvfProbes nearest
    * cells, and ADC scores ONLY those cells' members from their
    * 16-byte k-means-trained PQ codes — per-query cost is
    * (nprobe/K)·corpus table lookups, with no full-vector arithmetic
    * after the probe pick. This is the no-residual flavor BY
    * MEASUREMENT, not omission: residual encoding (codebook on
    * v − centroid, per-cell ADC tables) was prototyped and halved
    * recall here (0.4 vs 0.8) — with ~6 near-orthogonal centroids the
    * residuals stay as spread as the vectors while the codebook loses
    * the benefit of training on the raw distribution.
    *
    * Scale shape: centroids, codebook, and the query's 512-entry ADC
    * table are all broadcast; in production the IVF assignment and PQ
    * codes are computed once at ingest and stored (here both derive
    * in-plan from the same deterministic rules as q_ann_ivf /
    * q_ann_pq, so the oracle can replay them); the probed-member
    * restriction lands BEFORE the ADC join, so the only corpus-sized
    * work after pruning is a sum of M=32 integer lookups per surviving
    * vector. Same integer ADC discipline as q_ann_pq — sums are
    * order-independent across engines.
    */
  def qAnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val e = vectors(spark, dir)
    val (cents, ivfIdx) = ivfCk(spark, dir)
    val probed = cents.crossJoin(broadcast(queryVec(spark, dir)))
      .withColumn("qcos", dotCol(col("cv"), col("qv")) / (col("cnrm") * col("qnrm")))
      .orderBy(col("qcos").desc, col("cid"))
      .limit(IvfProbes)
      .select("cid")
    // probed-cell membership first: the ADC join only ever sees the
    // nprobe/K fraction of the corpus that survives the coarse prune
    val members = ivfIdx.select("cid", "vec_id")
      .join(probed, "cid").filter(col("vec_id") =!= 0)
    val (enc, cb) = pqIndexCk(spark, dir)
    val qd = cb.join(broadcast(pqSubspaces(e.filter(col("vec_id") === 0))
        .select(col("m"), col("x0"), col("x1"))), "m")
      .withColumn("qmicro", d2Col)
      .select(col("m"), col("k").as("code"), col("qmicro"))
    val adc = enc.join(members, "vec_id")
      .join(broadcast(qd), Seq("m", "code"))
      .groupBy("vec_id", "cid").agg(sum("qmicro").as("adc_micro"))
    TopKUtil.globalTopK(adc, KnnK, "vec_id", col("adc_micro"), col("vec_id"))
      .select(col("vec_id"), col("cid"),
        round(col("adc_micro") / lit(1e12), 6).as("adc_dist"), col("rk"))
      .orderBy("rk")
  }

  /** Exact re-rank shortlist width, as a multiple of KnnK. */
  val RefineFactor = 4

  /** IVF-PQ with an exact re-ranking stage (FAISS IndexRefine): the
    * ADC pass keeps a SHORTLIST of RefineFactor·K candidates instead
    * of K, then ONLY those ids fetch their full vectors and re-score
    * with the true cosine — the standard production recipe for
    * recovering the recall PQ's 16-byte codes give up, at a bounded
    * extra cost (RefineFactor·K point-lookups per query, independent
    * of corpus size; the shortlist rides a broadcast against one
    * vector scan, and the codes table never carries full vectors).
    * With RefineFactor→∞ this IS qAnnIvf (exact within probed cells),
    * so recall is capped by the coarse quantizer — the audit row
    * (q_ann_recall `ivfpq_refine`) shows where this lands between
    * `ivfpq` and `ivf`.
    */
  def qAnnIvfPqRefine(spark: SparkSession, dir: String): DataFrame = {
    val e = vectors(spark, dir)
    val (cents, ivfIdx) = ivfCk(spark, dir)
    val probed = cents.crossJoin(broadcast(queryVec(spark, dir)))
      .withColumn("qcos", dotCol(col("cv"), col("qv")) / (col("cnrm") * col("qnrm")))
      .orderBy(col("qcos").desc, col("cid"))
      .limit(IvfProbes)
      .select("cid")
    val members = ivfIdx.select("cid", "vec_id")
      .join(probed, "cid").filter(col("vec_id") =!= 0)
    val (enc, cb) = pqIndexCk(spark, dir)
    val qd = cb.join(broadcast(pqSubspaces(e.filter(col("vec_id") === 0))
        .select(col("m"), col("x0"), col("x1"))), "m")
      .withColumn("qmicro", d2Col)
      .select(col("m"), col("k").as("code"), col("qmicro"))
    val adc = enc.join(members, "vec_id")
      .join(broadcast(qd), Seq("m", "code"))
      .groupBy("vec_id", "cid").agg(sum("qmicro").as("adc_micro"))
    val shortlist = TopKUtil.globalTopK(adc, KnnK * RefineFactor,
        "vec_id", col("adc_micro"), col("vec_id"))
      .select("vec_id", "cid")
    // exact re-rank: the tiny shortlist broadcasts against ONE vector
    // scan — full-vector arithmetic happens RefineFactor·K times total
    val rescored = e.join(broadcast(shortlist), "vec_id")
      .crossJoin(broadcast(queryVec(spark, dir)))
      .withColumn("score",
        round(dotCol(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))
    TopKUtil.globalTopK(rescored, KnnK, "vec_id", col("score").desc, col("vec_id"))
      .select("vec_id", "cid", "score", "rk")
      .orderBy("rk")
  }

  /** Probe-batch width for the recall/ranking audits: a serving claim
    * needs recall over MANY queries, not one — recall@10 = 1.0 on a
    * single probe is thin evidence (round-7 verdict). The batch is the
    * first ProbeBatch corpus vectors (deterministic, so the oracle
    * replays it); candidates are vec_id ≥ ProbeBatch (a probe never
    * retrieves itself, qKnnJoin's convention).
    */
  val ProbeBatch = 16

  /** (query_id, qv, qnrm): the deterministic audit probe batch. */
  private def probeBatch(spark: SparkSession, dir: String): DataFrame =
    vectors(spark, dir).filter(col("vec_id") < ProbeBatch)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))

  private def topkPerQuery(scored: DataFrame): DataFrame =
    graft.plans.TopKPerGroup.topK(scored, KnnK,
        Seq("query_id"), orderCol = "score", tieCol = "vec_id")
      .select("query_id", "vec_id")

  /** Per-probe ADC lookup tables (query_id, m, code, qmicro):
    * ProbeBatch·M·K rows — the batch of 16 "query distance tables"
    * a PQ server computes per incoming query, broadcast as one unit.
    */
  private def adcTablesBatch(spark: SparkSession, dir: String, cb: DataFrame): DataFrame = {
    val qsubs = pqSubspaces(vectors(spark, dir).filter(col("vec_id") < ProbeBatch))
      .select(col("vec_id").as("query_id"), col("m"), col("x0"), col("x1"))
    cb.join(broadcast(qsubs), "m")
      .withColumn("qmicro", d2Col)
      .select(col("query_id"), col("m"), col("k").as("code"), col("qmicro"))
  }

  private def adcTopk(adc: DataFrame, k: Int): DataFrame =
    graft.plans.TopKPerGroup.topK(
        adc.withColumn("nadc", -col("adc_micro")), k,
        Seq("query_id"), orderCol = "nadc", tieCol = "vec_id")
      .select("query_id", "vec_id")

  /** Multi-probe LSH top-K (qAnnLsh's shape over the audit batch). */
  /** The LSH candidate-then-score serving scaffold shared by the
    * recall audit's lsh leg and qLshTune's per-layout legs: corpus
    * rows carrying per-table signature columns are screened by the
    * layout's HIT RULE against the probe batch's signatures,
    * survivors cosine-score, each probe keeps its top-k. ONE
    * definition so the audit rows and the serving shape cannot
    * silently diverge — the hit rule is the only degree of freedom,
    * which makes the deliberate multi-probe (Hamming ≤ LshProbeHd)
    * vs exact-bucket difference between the two consumers explicit.
    */
  private def lshCandidateTopk(sigs: DataFrame, sigCols: Seq[String],
      hitFor: (Column, Column) => Column): DataFrame = {
    val qsigs = sigs.filter(col("vec_id") < ProbeBatch).select(
      (Seq(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm")) ++
        sigCols.map(c => col(c).as(s"q$c"))): _*)
    val anyHit = sigCols.map(c => hitFor(col(c), col(s"q$c"))).reduce(_ || _)
    topkPerQuery(sigs.filter(col("vec_id") >= ProbeBatch)
      .crossJoin(broadcast(qsigs))
      .filter(anyHit)
      .withColumn("score",
        round(dotCol(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))
      .select("query_id", "vec_id", "score"))
  }

  private def lshTopkBatch(spark: SparkSession, dir: String): DataFrame = {
    var e = vectors(spark, dir)
    (0 until LshTables).foreach { t =>
      e = e.withColumn(s"sig$t", lshSigCol(col("v"), t))
    }
    lshCandidateTopk(e, (0 until LshTables).map(t => s"sig$t"),
      (s, q) => bit_count(s.bitwiseXOR(q)) <= LshProbeHd)
  }

  /** Planted-cluster audit corpus parameters (shared with
    * Amplify.clusteredEmbeddings' callers and ClusteredRecallSpec).
    */
  val ClusteredN = 2000L
  val ClusteredC = 32

  /** The recall audit on the planted-cluster corpus — deliberately
    * SF-INDEPENDENT (the `dir` argument is unused): the driver's
    * synthetic embeddings are isotropic (neighbor label-coherence ≈
    * chance), so recall measured on them is coverage-bound by
    * construction; this key measures the same seven serving paths on
    * a corpus where true neighbors exist (Amplify.clusteredEmbeddings
    * — deterministic integer-grid clusters, written once per JVM
    * tmpdir) and is what makes "the index finds planted neighbors"
    * an ORACLE-CHECKED claim rather than a spec note. The DuckDB
    * twin regenerates the identical corpus from the same integer
    * formula (exact FLOAT-representable values), then replays the
    * full audit.
    */
  def qAnnRecallClustered(spark: SparkSession, dir: String): DataFrame = {
    // Cache key carries EVERY fixture parameter (N, C, Dim — a stale
    // fixture written under a different Dim would be silently screened
    // out by vectors(), quietly changing the audit), and the write
    // goes to a unique temp dir then renames into place so a
    // concurrent JVM sharing java.io.tmpdir can never read a
    // half-written fixture behind an earlier writer's _SUCCESS.
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-clustered-$ClusteredN-$ClusteredC-$Dim")
    def complete(d: java.io.File): Boolean =
      new java.io.File(d, "embeddings.parquet/_SUCCESS").exists()
    if (!complete(base)) {
      val tmp = new java.io.File(base.getParentFile,
        s"${base.getName}.tmp-${java.util.UUID.randomUUID()}")
      def deleteRec(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(deleteRec))
        f.delete()
      }
      graft.Amplify.writeClustered(spark, tmp.getAbsolutePath, ClusteredN, ClusteredC)
      if (!complete(base)) { // a concurrent writer may have finished first
        // Move any stale half-written fixture ASIDE atomically instead
        // of deleting it in place (r10 advice): the incompleteness
        // re-check runs immediately before the rename, and the slow
        // recursive delete then works on a private path — so a
        // concurrent writer completing base in the window costs at
        // most one redundant (identical, deterministic) rebuild, and
        // base is never observable half-deleted by a lazy reader.
        val stale = new java.io.File(base.getParentFile,
          s"${base.getName}.stale-${java.util.UUID.randomUUID()}")
        if (base.exists() && !complete(base) && base.renameTo(stale))
          deleteRec(stale)
        if (!tmp.renameTo(base))
          require(complete(base),
            s"clustered-recall fixture rename lost the race AND $base is " +
              "incomplete — remove the directory and rerun")
      }
      deleteRec(tmp) // no-op when the rename won
    }
    qAnnRecall(spark, base.getAbsolutePath)
  }

  /** ANN recall audit — MULTI-PROBE recall@K of every approximate
    * index against the per-probe exact brute-force top-K: ProbeBatch
    * deterministic probes run through each method's batched serving
    * shape, reporting per-method MEAN and MIN recall (the min is the
    * tail a single-probe audit can never see; round-7's single probe
    * reported 1.0s that said nothing about serving arbitrary queries).
    *
    * Scale shape: the corpus-side work (assignment, codebook, sigs)
    * is probe-count-independent AND shared — the centroid training,
    * the cell assignment, the PQ codebook/codes, the probe picks and
    * the per-probe ADC tables are each built ONCE and checkpointed,
    * then every leg that needs them reads the shared table (the first
    * cut re-derived them per leg: three k-means trainings + two
    * codebook trainings + two assignment passes per audit run).
    * Per-probe additions are broadcast probe picks, ADC-table joins
    * and TopKPerGroup heaps — each bounded by ProbeBatch·K rows after
    * its heap. The mean divides by the ACTUAL probe count, so a
    * screened-out probe shrinks the denominator identically in both
    * engines.
    */
  def qAnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val qs = probeBatch(spark, dir)
      .barrier(false) // ProbeBatch rows; every leg broadcasts it
    val (cents0, idx0) = ivfCk(spark, dir)
    val cents = cents0
      .barrier(false) // IvfK rows; ONE k-means training
    val idx = idx0
      .barrier(false) // ONE assignment pass; ivf + ivfpq legs
    val (enc0, cb) = pqIndexCk(spark, dir) // ONE codebook training
    val enc = enc0.barrier(false)  // pq + ivfpq legs
    val qd = adcTablesBatch(spark, dir, cb)
      .barrier(false) // ProbeBatch·M·K rows
    val probed = graft.plans.TopKPerGroup.topK(
        cents.crossJoin(broadcast(qs))
          .withColumn("qcos",
            dotCol(col("cv"), col("qv")) / (col("cnrm") * col("qnrm")))
          .select("query_id", "cid", "qcos"),
        IvfProbes, Seq("query_id"), orderCol = "qcos", tieCol = "cid")
      .select("query_id", "cid")
      .barrier(false) // ProbeBatch·IvfProbes rows; two legs
    def score(df: DataFrame): DataFrame = df
      .withColumn("score",
        round(dotCol(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))
      .select("query_id", "vec_id", "score")
    val exact = topkPerQuery(score(
        vectors(spark, dir).filter(col("vec_id") >= ProbeBatch)
          .crossJoin(broadcast(qs))))
      .barrier(false) // ProbeBatch·K rows; joined by all five methods
    val ivfK = topkPerQuery(score(idx.join(probed, "cid")
      .filter(col("vec_id") >= ProbeBatch)
      .join(broadcast(qs), "query_id")))
    val pqAdc = enc.filter(col("vec_id") >= ProbeBatch)
      .join(broadcast(qd), Seq("m", "code"))
      .groupBy("query_id", "vec_id").agg(sum("qmicro").as("adc_micro"))
    val members = idx.select("cid", "vec_id").join(probed, "cid")
      .filter(col("vec_id") >= ProbeBatch).select("query_id", "vec_id")
    val cellAdc = enc.join(members, "vec_id")
      .join(broadcast(qd), Seq("query_id", "m", "code"))
      .groupBy("query_id", "vec_id").agg(sum("qmicro").as("adc_micro"))
      .barrier(false) // read by the ivfpq top-k AND the refine shortlist
    val refineK = topkPerQuery(score(vectors(spark, dir)
      .join(broadcast(adcTopk(cellAdc, KnnK * RefineFactor)), "vec_id")
      .join(broadcast(qs), "query_id")))
    // sq8 leg: flat int8 scan per probe (qAnnSq8's shape)
    val q8 = sq8Ck(spark, dir).barrier(false)
    val q8p = q8.filter(col("vec_id") < ProbeBatch)
      .select(col("vec_id").as("query_id"),
        col("qv8").as("pv8"), col("qnrm8").as("pnrm8"))
    val sq8K = topkPerQuery(q8.filter(col("vec_id") >= ProbeBatch)
      .crossJoin(broadcast(q8p))
      .withColumn("score", round(
        intDot(col("qv8"), col("pv8")) / (col("qnrm8") * col("pnrm8")), 6))
      .select("query_id", "vec_id", "score"))
    // binary leg: per-probe Hamming shortlist + exact re-rank
    val sigB = binSigCk(spark, dir).barrier(false)
    val bqp = sigB.filter(col("vec_id") < ProbeBatch)
      .select(col("vec_id").as("query_id"),
        col("blo").as("qlo"), col("bhi").as("qhi"))
    val hamB = sigB.filter(col("vec_id") >= ProbeBatch)
      .crossJoin(broadcast(bqp))
      .withColumn("nhd", -(bit_count(col("blo").bitwiseXOR(col("qlo"))) +
        bit_count(col("bhi").bitwiseXOR(col("qhi")))).cast("long"))
      .select("query_id", "vec_id", "nhd")
    val bShort = graft.plans.TopKPerGroup.topK(hamB, KnnK * RefineFactor,
        Seq("query_id"), orderCol = "nhd", tieCol = "vec_id")
      .select("query_id", "vec_id")
    val binK = topkPerQuery(score(vectors(spark, dir)
      .join(broadcast(bShort), "vec_id")
      .join(broadcast(qs), "query_id")))
    val probeIds = qs.select("query_id")
    def statsOf(method: String, ann: DataFrame): DataFrame = {
      val hits = ann.join(exact, Seq("query_id", "vec_id"))
        .groupBy("query_id").agg(count(lit(1)).as("h"))
      probeIds.join(hits, Seq("query_id"), "left")
        .select(coalesce(col("h"), lit(0L)).as("h"))
        .agg(sum("h").as("th"), min("h").as("mh"), count(lit(1)).as("np"))
        .select(lit(method).as("method"),
          round(col("th") / (col("np") * lit(KnnK.toDouble)), 6).as("mean_recall"),
          round(col("mh") / lit(KnnK.toDouble), 6).as("min_recall"))
    }
    Seq(
      "binary" -> binK,
      "ivf" -> ivfK,
      "ivfpq" -> adcTopk(cellAdc, KnnK),
      "ivfpq_refine" -> refineK,
      "lsh" -> lshTopkBatch(spark, dir),
      "pq" -> adcTopk(pqAdc, KnnK),
      "sq8" -> sq8K)
      .map { case (m, df) => statsOf(m, df) }
      .reduce(_ unionByName _)
      .orderBy("method")
  }

  // ---- signed-random-projection LSH ANN --------------------------------
  val LshBits = 8
  val LshTables = 4
  /** Multi-probe radius: a vector is a candidate if its signature is
    * within this Hamming distance of the query's in ANY table
    * (Lv et al. 2007, multi-probe LSH). At per-bit agreement p ≈ 0.62
    * (this adversarial corpus) exact-bucket probability is p^8 ≈ 2%
    * per table and recall@10 measured 0.0; allowing hd ≤ 1 probes the
    * 8 neighboring buckets too (p^8 + 8·p^7(1−p) ≈ 10%/table) and
    * buys recall without more tables or a bigger index.
    */
  val LshProbeHd = 1
  val Dim = 64

  /** Deterministic pseudo-random hyperplanes (LshTables·LshBits of
    * them): w(j)(i) derived from md5(i#j) — computed once here and
    * embedded as literals in BOTH the Spark plan and the oracle SQL
    * (no per-row hashing). Table t uses planes t·8 .. t·8+7.
    */
  lazy val Hyperplanes: Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(LshTables * LshBits, Dim) { (j, i) =>
      val d = md.digest(s"$i#$j".getBytes("UTF-8"))
      md.reset()
      var h = 0L
      var b = 0
      while (b < 4) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      ((h % 1001L) - 500L) / 500.0
    }
  }

  /** SRP bucket id over an explicit plane list: bit j = sign(v·plane(planes(j))).
    * Public so Dedup can regroup the same 32 hyperplanes into more,
    * narrower tables (higher-recall blocking) without new constants.
    */
  def srpSigCol(v: Column, planes: Seq[Int]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      val wLit = array(Hyperplanes(p).map(lit): _*)
      when(aggregate(zip_with(v, wLit, (x, wi) => x * wi),
        lit(0.0), (acc, x) => acc + x) > 0, 1 << j).otherwise(0)
    }.reduce(_ + _)

  /** The same buckets through the native fused expression
    * (graft.functions.SrpSig): all planes of a table in one generated
    * loop instead of a zip_with+aggregate fold (two array allocations)
    * per plane. Bit-identical to srpSigCol — same left-to-right
    * accumulation — which the spec asserts over the full corpus; the
    * hot paths (LSH ANN, embedding dedup blocking) use this one.
    */
  def srpSigNative(v: Column, planes: Seq[Int]): Column =
    graft.functions.SrpSig.srp_sig(v, planes.map(Hyperplanes(_)).toArray)

  /** The same bucket id in DuckDB SQL (identical sign fold → identical buckets). */
  def srpSigSql(v: String, planes: Seq[Int]): String = {
    val terms = planes.zipWithIndex.map { case (p, j) =>
      val wList = Hyperplanes(p).mkString("[", ", ", "]")
      s"""CASE WHEN list_sum(list_transform(generate_series(1, $Dim),
         |  i -> $v[i] * ($wList)[i])) > 0 THEN ${1 << j} ELSE 0 END""".stripMargin
    }
    terms.mkString("(", " + ", ")")
  }

  private def lshSigCol(v: Column, table: Int): Column =
    srpSigNative(v, table * LshBits until (table + 1) * LshBits)

  private def lshSigSql(v: String, table: Int): String =
    srpSigSql(v, table * LshBits until (table + 1) * LshBits)

  /** Signed-random-projection LSH ANN: LshTables independent hash
    * tables of LshBits hyperplane signs each; a vector is a candidate
    * if it shares the query's bucket in ANY table (the standard
    * multi-table recall mechanism). This corpus is adversarial for
    * LSH (max cosine ≈ 0.37 → per-bit agreement only ~0.62), which is
    * exactly why the multi-table structure matters; IVF remains the
    * higher-recall scale path here.
    */
  def qAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    var e = vectors(spark, dir)
    (0 until LshTables).foreach { t =>
      e = e.withColumn(s"sig$t", lshSigCol(col("v"), t))
    }
    val q = e.filter(col("vec_id") === 0).select(
      (Seq(col("v").as("qv"), col("nrm").as("qnrm")) ++
        (0 until LshTables).map(t => col(s"sig$t").as(s"qsig$t"))): _*)
    val anyTableHit = (0 until LshTables)
      .map(t => bit_count(col(s"sig$t")
        .bitwiseXOR(col(s"qsig$t"))) <= LshProbeHd)
      .reduce(_ || _)
    // top-k over the candidate set via TakeOrdered — the bucket-hit
    // candidates grow with the corpus, so no global rank window here
    val scored = e.crossJoin(broadcast(q))
      .filter(anyTableHit && col("vec_id") =!= 0)
      .withColumn("score", round(dotCol(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))
    TopKUtil.globalTopK(scored, KnnK, "vec_id", col("score").desc, col("vec_id"))
      .select("vec_id", "score", "rk")
      .orderBy("rk")
  }

  // ---- scalar + binary quantization ANN ---------------------------------

  /** Int8 SCALAR-QUANTIZATION ANN (FAISS IndexScalarQuantizer SQ8 —
    * the 4× storage cut between flat floats and PQ codes): every
    * vector is per-vector max-abs quantized to int8 components
    * (q_quantize_embeddings' exact rule), and query scoring is the
    * EXACT BIGINT dot of the two code arrays normalized by the code
    * norms — an integer-exact cosine approximation whose only floats
    * are per-row (sqrt + one division), so no distributed order can
    * perturb a score. |code| ≤ 127 ⇒ |dot| ≤ Dim·127² ≈ 10⁶ — BIGINT
    * headroom is data-independent.
    */
  def qAnnSq8(spark: SparkSession, dir: String): DataFrame = {
    val q8 = sq8Ck(spark, dir)
    val probe = q8.filter(col("vec_id") === 0)
      .select(col("qv8").as("pv8"), col("qnrm8").as("pnrm8"))
    val scored = q8.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .withColumn("score", round(
        intDot(col("qv8"), col("pv8")) / (col("qnrm8") * col("pnrm8")), 6))
    TopKUtil.globalTopK(scored, KnnK, "vec_id", col("score").desc, col("vec_id"))
      .select("vec_id", "score", "rk")
      .orderBy("rk")
  }

  /** Standing SQ8 code table when materialized, else encoded in-plan. */
  private def sq8Ck(spark: SparkSession, dir: String): DataFrame =
    if (materialized(spark, dir, "graft_sq8")) spark.table("graft_sq8")
    else sq8Codes(vectors(spark, dir))

  /** Standing sign-bit table when materialized, else derived in-plan. */
  private def binSigCk(spark: SparkSession, dir: String): DataFrame =
    if (materialized(spark, dir, "graft_bsig")) spark.table("graft_bsig")
    else binSigs(vectors(spark, dir))

  /** (vec_id, blo, bhi): the 8-byte binary index rows — what
    * materializeAnn stores and mergeVectors appends.
    */
  private[graft] def binSigs(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      signBitsCol(col("v"), 0, Dim / 2).as("blo"),
      signBitsCol(col("v"), Dim / 2, Dim).as("bhi"))

  /** (vec_id, qv8: array<long> of int8 codes, qnrm8): per-vector
    * max-abs int8 quantization — the ingest-side encode of the SQ8
    * index (shares q_quantize_embeddings' rule and NaN/zero screen).
    */
  private[graft] def sq8Codes(e: DataFrame): DataFrame =
    e.withColumn("maxabs",
        aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x))))
      .filter(col("maxabs") > 0 && !isnan(col("maxabs")))
      .withColumn("qv8",
        transform(col("v"), x => round(x * lit(127.0) / col("maxabs")).cast("long")))
      .withColumn("qnrm8",
        sqrt(aggregate(col("qv8"), lit(0L), (a, x) => a + x * x).cast("double")))
      .select("vec_id", "qv8", "qnrm8")

  /** Exact BIGINT dot of two integer code arrays. */
  private def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** BINARY (1-bit) quantization ANN with exact re-rank — the
    * 64-bits-per-vector extreme of the storage/recall trade (the
    * binary-embedding serving recipe: Hamming distance over sign
    * bits prunes the corpus, then a RefineFactor·K shortlist fetches
    * full vectors for true-cosine re-ranking, exactly like
    * qAnnIvfPqRefine's refine stage). The signature is TWO 32-bit
    * sign words (bit i = v[i] > 0) — split so neither engine ever
    * shifts into a BIGINT's sign bit (DuckDB raises on 1<<63); the
    * per-bit powers are PRECOMPUTED literals, so no shift operator
    * exists in either plan. Hamming = bit_count(xor(lo)) +
    * bit_count(xor(hi)), an exact integer.
    */
  def qAnnBinary(spark: SparkSession, dir: String): DataFrame = {
    val sig = binSigCk(spark, dir)
    val qsig = sig.filter(col("vec_id") === 0)
      .select(col("blo").as("qlo"), col("bhi").as("qhi"))
    val ham = sig.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qsig))
      .withColumn("hd",
        (bit_count(col("blo").bitwiseXOR(col("qlo"))) +
          bit_count(col("bhi").bitwiseXOR(col("qhi")))).cast("long"))
    val shortlist = TopKUtil.globalTopK(ham, KnnK * RefineFactor,
        "vec_id", col("hd"), col("vec_id"))
      .select("vec_id", "hd")
    // exact re-rank: RefineFactor·K full-vector cosines total
    val rescored = vectors(spark, dir).join(broadcast(shortlist), "vec_id")
      .crossJoin(broadcast(queryVec(spark, dir)))
      .withColumn("score",
        round(dotCol(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))
    TopKUtil.globalTopK(rescored, KnnK, "vec_id", col("score").desc, col("vec_id"))
      .select("vec_id", "hd", "score", "rk")
      .orderBy("rk")
  }

  /** Sign-bit word over dims [from, until): Σ (v[i] > 0)·2^(i−from),
    * powers as Scala-side literals (never an engine shift).
    */
  private def signBitsCol(v: Column, from: Int, until: Int): Column =
    (from until until).map(i =>
      when(element_at(v, i + 1) > 0, lit(1L << (i - from))).otherwise(lit(0L)))
      .reduce(_ + _)

  /** The same sign word in DuckDB SQL. */
  private def signBitsSql(v: String, from: Int, until: Int): String =
    (from until until).map(i =>
      s"CASE WHEN $v[${i + 1}] > 0 THEN CAST(${1L << (i - from)} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString("(", " + ", ")")

  /** The LSH design grid q_lsh_tune sweeps: ways to regroup the 32
    * deterministic hyperplanes into (tables × bits) layouts. More
    * bits/table → smaller buckets → fewer candidate pairs but lower
    * per-table collision probability; more tables buys recall back at
    * index-size cost. The sweep MEASURES both sides of that trade on
    * the actual corpus.
    */
  val LshLayouts: Seq[(Int, Int)] = Seq((1, 32), (2, 16), (4, 8), (8, 4))

  /** LSH layout tuner — the design-space sweep an operator runs
    * BEFORE committing a 100 TB blocking configuration: for each
    * (tables × bits) regrouping of the same 32 hyperplanes, the
    * EXACT candidate-pair load (Σ_buckets c·(c−1)/2 — the verify-join
    * bill the layout would generate) and the measured mean recall@K
    * over the ProbeBatch audit probes (exact-bucket match in any
    * table → exact-cosine top-K vs the brute-force baseline). Pure
    * integer bucket counts + the audit's recall machinery, so the
    * oracle replays every layout verbatim; complements
    * q_lsh_bucket_stats (which profiles the ONE configured layout).
    *
    * Scale shape: per layout, one narrow sig projection (the 32
    * plane dots are shared work), a bucket-count rollup, and the
    * probe-batch join — nothing pairwise ever materializes; the pair
    * LOAD is computed from bucket sizes, not by emitting pairs.
    */
  def qLshTune(spark: SparkSession, dir: String): DataFrame = {
    val e = vectors(spark, dir).barrier(false)
    val qs = probeBatch(spark, dir).barrier(false)
    val exact = topkPerQuery(
        e.filter(col("vec_id") >= ProbeBatch)
          .crossJoin(broadcast(qs))
          .withColumn("score",
            round(dotCol(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))
          .select("query_id", "vec_id", "score"))
      .barrier(false) // joined by every layout's recall leg
    val probeIds = qs.select("query_id")
    LshLayouts.map { case (nt, bits) =>
      var sigs = e
      (0 until nt).foreach { t =>
        sigs = sigs.withColumn(s"s$t",
          srpSigNative(col("v"), t * bits until (t + 1) * bits))
      }
      sigs = sigs.barrier(false) // read by the load AND recall legs
      val load = (0 until nt).map(t =>
          sigs.groupBy(col(s"s$t").as("sig")).agg(count(lit(1)).as("c"))
            .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).as("p")))
        .reduce(_ unionByName _)
        .agg(sum("p").as("cand_pairs"))
      // exact-bucket hit rule (vs the recall audit's multi-probe
      // Hamming rule) — the one degree of freedom in the shared
      // scaffold, by design
      val topk = lshCandidateTopk(sigs, (0 until nt).map(t => s"s$t"),
        (s, q) => s === q)
      val hits = topk.join(exact, Seq("query_id", "vec_id"))
        .groupBy("query_id").agg(count(lit(1)).as("h"))
      val rec = probeIds.join(hits, Seq("query_id"), "left")
        .select(coalesce(col("h"), lit(0L)).as("h"))
        .agg(sum("h").as("th"), count(lit(1)).as("np"))
        .select(round(col("th") / (col("np") * lit(KnnK.toDouble)), 6)
          .as("mean_recall"))
      load.crossJoin(rec)
        .select(lit(nt).as("n_tables"), lit(bits).as("bits"),
          col("cand_pairs"), col("mean_recall"))
    }.reduce(_ unionByName _)
      .orderBy("n_tables")
  }

  val RangeTheta = 0.2

  /** Radius (range) search: every corpus vector within cosine ≥
    * RangeTheta of the probe — the "all sufficiently-similar items"
    * complement of top-k (dedup-screen and recall-first retrieval both
    * want the full ball, not a fixed k). Exact one-pass scan with the
    * probe broadcast; the threshold compares the same round(·,6)
    * score both engines compute, so the ball boundary is identical.
    * At 100 TB the same operator runs behind the IVF partition prune
    * (qAnnIvf's nprobe cells) or the SRP band prefilter
    * (qNeardupCandidates) — the exact scan here is the semantics
    * baseline those candidate generators are audited against, and the
    * result is candidate-set-sized, never corpus-sized.
    */
  def qRangeSearch(spark: SparkSession, dir: String): DataFrame =
    vectors(spark, dir)
      .crossJoin(broadcast(queryVec(spark, dir)))
      .filter(col("vec_id") =!= 0)
      .withColumn("score", round(dotCol(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))
      .filter(col("score") >= RangeTheta)
      .select("vec_id", "label", "score")
      .orderBy(col("score").desc, col("vec_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_range_search" -> qRangeSearch,
    "q_lsh_tune" -> qLshTune,
    "q_ann_sq8" -> qAnnSq8,
    "q_ann_binary" -> qAnnBinary,
    "q_ann_pq" -> qAnnPq,
    "q_ann_ivfpq" -> qAnnIvfPq,
    "q_ann_ivfpq_refine" -> qAnnIvfPqRefine,
    "q_ann_recall" -> qAnnRecall,
    "q_ann_recall_clustered" -> qAnnRecallClustered,
    "q_ann_lsh" -> qAnnLsh,
    "q_cosine_topk" -> qCosineTopk,
    "q_cosine_topk_filtered" -> qCosineTopkFiltered,
    "q_mmr" -> qMmr,
    "q_knn_join" -> qKnnJoin,
    "q_hard_negatives" -> qHardNegatives,
    "q_ndcg" -> qNdcg,
    "q_mrr" -> qMrr,
    "q_knn_join_ivf" -> qKnnJoinIvf,
    "q_hybrid_search" -> qHybridSearch,
    "q_expand_retrieval" -> qExpandRetrieval,
    "q_ann_ivf" -> qAnnIvf)

  private def cos(a: String, b: String) = cosineDuckSql(a, b)

  /** Coarse-quantizer k-means training unrolled as CTEs — bit-equal
    * replay of [[ivfTrainCentroids]]: micro-int sample (ivts),
    * smallest-id init (ivc0), IvfIters rounds of integer squared-L2
    * argmin assignment (iva\$i; ties → smallest cid) + per-dimension
    * truncating-mean update via unnested dims (ivu\$i; empty cells
    * keep their centroid), ending in the SAME `cents (cid, cv)` shape
    * the old deterministic pick produced. Shared by every IVF oracle.
    */
  private def ivfTrainCteSql: String = {
    val d2 = s"list_sum(list_transform(generate_series(1, $Dim), " +
      "d -> (t.mv[d]-c.c[d])*(t.mv[d]-c.c[d])))"
    val iters = (1 to IvfIters).map { i =>
      s"""iva$i AS MATERIALIZED (
         |  SELECT vec_id, cid, mv FROM (
         |    SELECT t.vec_id, c.cid, t.mv,
         |      row_number() OVER (PARTITION BY t.vec_id ORDER BY $d2, c.cid) AS rn
         |    FROM ivts t CROSS JOIN ivc${i - 1} c)
         |  WHERE rn = 1),
         |ivu$i AS MATERIALIZED (
         |  SELECT cid, list(u ORDER BY dim) AS c FROM (
         |    SELECT a.cid, d.dim, CAST(sum(a.mv[d.dim]) // count(*) AS BIGINT) AS u
         |    FROM iva$i a CROSS JOIN (SELECT unnest(generate_series(1, $Dim)) AS dim) d
         |    GROUP BY a.cid, d.dim)
         |  GROUP BY cid),
         |ivc$i AS MATERIALIZED (
         |  SELECT p.cid, coalesce(u.c, p.c) AS c
         |  FROM ivc${i - 1} p LEFT JOIN ivu$i u ON u.cid = p.cid)""".stripMargin
    }.mkString(",\n")
    s"""ivts AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(v, x -> CAST(round(x * 1000000) AS BIGINT)) AS mv
       |  FROM e WHERE vec_id < $IvfTrainSample),
       |ivc0 AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, mv AS c
       |  FROM (SELECT vec_id, mv FROM ivts ORDER BY vec_id LIMIT $IvfK)),
       |$iters,
       |cents AS MATERIALIZED (
       |  SELECT cid, list_transform(c, x -> x / 1000000.0) AS cv
       |  FROM ivc$IvfIters
       |  WHERE sqrt(list_sum(list_transform(c, x -> (x/1000000.0)*(x/1000000.0)))) > 0)""".stripMargin
  }

  /** PQ k-means training + encode + query-ADC-table CTEs (shared by
    * the q_ann_pq and q_ann_ivfpq oracles — identical codebooks, codes
    * and integer distances). The PqIters Lloyd rounds are unrolled:
    * a{i} is the argmin assignment against cb{i-1}, cb{i} the integer
    * truncating-mean update (sum // count — DuckDB `//` truncates
    * toward zero exactly like JVM `/`) with empty clusters keeping
    * their old codeword — exactly pqTrainCodebook's plan.
    */
  private def pqCteSql: String = {
    val d2 = "(s.x0-c.c0)*(s.x0-c.c0)+(s.x1-c.c1)*(s.x1-c.c1)"
    val iters = (1 to PqIters).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT vec_id, m, k, x0, x1 FROM (
         |    SELECT s.vec_id, s.m, c.k, s.x0, s.x1,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY $d2, c.k) AS rn
         |    FROM tr s JOIN cb${i - 1} c ON s.m = c.m)
         |  WHERE rn = 1),
         |cb$i AS MATERIALIZED (
         |  SELECT c.m, c.k,
         |    CAST(coalesce(u.u0, c.c0) AS BIGINT) AS c0,
         |    CAST(coalesce(u.u1, c.c1) AS BIGINT) AS c1
         |  FROM cb${i - 1} c LEFT JOIN (
         |    SELECT m, k,
         |      CAST(sum(x0) // count(*) AS BIGINT) AS u0,
         |      CAST(sum(x1) // count(*) AS BIGINT) AS u1
         |    FROM a$i GROUP BY m, k) u ON c.m = u.m AND c.k = u.k)""".stripMargin
    }.mkString(",\n")
    s"""sub AS MATERIALIZED (
       |  SELECT vec_id, m,
       |    CAST(round(v[$PqSubDim*m+1]*1000000) AS BIGINT) AS x0,
       |    CAST(round(v[$PqSubDim*m+2]*1000000) AS BIGINT) AS x1
       |  FROM e, (SELECT unnest(generate_series(0, ${PqM - 1})) AS m)),
       |tr AS MATERIALIZED (SELECT * FROM sub WHERE vec_id < $PqTrainSample),
       |cb0 AS MATERIALIZED (
       |  SELECT m, k, c0, c1 FROM (
       |    SELECT m, CAST(row_number() OVER (PARTITION BY m
       |        ORDER BY (vec_id % $PqStride <> 0), vec_id) - 1 AS INT) AS k,
       |      x0 AS c0, x1 AS c1
       |    FROM tr)
       |  WHERE k < $PqK),
       |$iters,
       |enc AS MATERIALIZED (
       |  SELECT vec_id, m, k AS code FROM (
       |    SELECT s.vec_id, s.m, c.k,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY $d2, c.k) AS rn
       |    FROM sub s JOIN cb$PqIters c ON s.m = c.m)
       |  WHERE rn = 1),
       |qd AS (
       |  SELECT c.m, c.k AS code, CAST($d2 AS BIGINT) AS qmicro
       |  FROM cb$PqIters c JOIN sub s ON s.m = c.m AND s.vec_id = 0)""".stripMargin
  }

  /** The multi-probe audit replayed in full: per-probe exact top-K,
    * then each method's batched serving shape as partitioned
    * row_number windows over the SAME deterministic probe set —
    * per-method mean/min recall from identical integer hit counts.
    */
  /** DuckDB twin of Amplify.clusteredEmbeddings: the identical
    * integer-grid formula regenerated in SQL (every value is an
    * integer |x| ≤ 34, exactly representable as FLOAT, so the
    * written-parquet path and this generated path are bit-equal).
    */
  private def clusteredVecSql: String =
    s"""e AS MATERIALIZED (
       |  SELECT i AS vec_id, CAST(i % $ClusteredC AS INT) AS label,
       |    list_transform(generate_series(0, ${Dim - 1}), d ->
       |      CAST(((((i % $ClusteredC) * 37 + d) * ((i % $ClusteredC) + d * 41 + 7)) % 97 % 9 - 4) * 8
       |        + ((i * 13 + d * 7) % 5 - 2) AS DOUBLE)) AS v
       |  FROM range($ClusteredN) t(i))""".stripMargin

  private def annRecallSql: String = annRecallSqlFor(VecSql)

  private def annRecallSqlFor(vecCte: String): String = {
    val d2 = "(s.x0-c.c0)*(s.x0-c.c0)+(s.x1-c.c1)*(s.x1-c.c1)"
    def adcTopkCte(name: String, src: String, k: Int) =
      s"""$name AS MATERIALIZED (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY adc_micro, vec_id) AS rk
         |    FROM $src) WHERE rk <= $k)""".stripMargin
    def leg(m: String, t: String) =
      s"""SELECT '$m' AS method,
         |  round(sum(h) / (count(*) * ${KnnK}.0), 6) AS mean_recall,
         |  round(min(h) / ${KnnK}.0, 6) AS min_recall
         |FROM (
         |  SELECT q.query_id, coalesce(hh.h, 0) AS h
         |  FROM (SELECT query_id FROM qs) q
         |  LEFT JOIN (SELECT query_id, count(*) AS h
         |    FROM $t JOIN ex USING (query_id, vec_id) GROUP BY query_id) hh
         |  USING (query_id))""".stripMargin
    val legs = Seq("ivf" -> "ivfk", "ivfpq" -> "ivfpqk",
        "ivfpq_refine" -> "refk", "lsh" -> "lshk", "pq" -> "pqk",
        "sq8" -> "sq8k", "binary" -> "bink")
      .map { case (m, t) => leg(m, t) }.mkString("\nUNION ALL\n")
    val sigCols = (0 until LshTables)
      .map(t => s"${lshSigSql("v", t)} AS sig$t").mkString(",\n    ")
    val qCols = (0 until LshTables).map(t => s"sig$t AS qsig$t").mkString(", ")
    val hit = (0 until LshTables)
      .map(t => s"bit_count(xor(s.sig$t, qsig$t)) <= $LshProbeHd")
      .mkString(" OR ")
    s"""WITH $vecCte,
       |qs AS MATERIALIZED (
       |  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $ProbeBatch),
       |ex AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT qs.query_id, e.vec_id,
       |      row_number() OVER (PARTITION BY qs.query_id
       |        ORDER BY round(${cos("e.v", "qv")}, 6) DESC, e.vec_id) AS rk
       |    FROM e CROSS JOIN qs WHERE e.vec_id >= $ProbeBatch)
       |  WHERE rk <= $KnnK),
       |$ivfTrainCteSql,
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cos("e.v", "c.cv")} DESC, c.cid) AS rn
       |    FROM e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |probedb AS MATERIALIZED (
       |  SELECT query_id, cid FROM (
       |    SELECT query_id, c.cid, row_number() OVER (PARTITION BY query_id
       |      ORDER BY ${cos("c.cv", "qv")} DESC, c.cid) AS rn
       |    FROM cents c CROSS JOIN qs)
       |  WHERE rn <= $IvfProbes),
       |ivfk AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT p.query_id, a.vec_id,
       |      row_number() OVER (PARTITION BY p.query_id
       |        ORDER BY round(${cos("e.v", "qv")}, 6) DESC, a.vec_id) AS rk
       |    FROM assigned a JOIN probedb p USING (cid)
       |    JOIN e ON e.vec_id = a.vec_id
       |    JOIN qs ON qs.query_id = p.query_id
       |    WHERE a.vec_id >= $ProbeBatch)
       |  WHERE rk <= $KnnK),
       |$pqCteSql,
       |qdb AS MATERIALIZED (
       |  SELECT s.vec_id AS query_id, c.m, c.k AS code, CAST($d2 AS BIGINT) AS qmicro
       |  FROM cb$PqIters c JOIN sub s ON s.m = c.m AND s.vec_id < $ProbeBatch),
       |adcb AS MATERIALIZED (
       |  SELECT qdb.query_id, enc.vec_id, CAST(sum(qmicro) AS BIGINT) AS adc_micro
       |  FROM enc JOIN qdb ON enc.m = qdb.m AND enc.code = qdb.code
       |  WHERE enc.vec_id >= $ProbeBatch GROUP BY qdb.query_id, enc.vec_id),
       |${adcTopkCte("pqk", "adcb", KnnK)},
       |adcc AS MATERIALIZED (
       |  SELECT p.query_id, enc.vec_id, CAST(sum(qmicro) AS BIGINT) AS adc_micro
       |  FROM assigned a JOIN probedb p USING (cid)
       |  JOIN enc ON enc.vec_id = a.vec_id
       |  JOIN qdb ON qdb.query_id = p.query_id
       |    AND enc.m = qdb.m AND enc.code = qdb.code
       |  WHERE a.vec_id >= $ProbeBatch
       |  GROUP BY p.query_id, enc.vec_id),
       |${adcTopkCte("ivfpqk", "adcc", KnnK)},
       |${adcTopkCte("shortl", "adcc", KnnK * RefineFactor)},
       |refk AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT s.query_id, s.vec_id,
       |      row_number() OVER (PARTITION BY s.query_id
       |        ORDER BY round(${cos("e.v", "qv")}, 6) DESC, s.vec_id) AS rk
       |    FROM shortl s JOIN e ON e.vec_id = s.vec_id
       |    JOIN qs ON qs.query_id = s.query_id)
       |  WHERE rk <= $KnnK),
       |sigs AS MATERIALIZED (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
       |    $sigCols
       |  FROM e),
       |qsig AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, $qCols
       |  FROM sigs WHERE vec_id < $ProbeBatch),
       |lshk AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.query_id, s.vec_id,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        round(${dotDuckSql("s.v", "qv")} / (s.nrm * qnrm), 6) DESC,
       |        s.vec_id) AS rk
       |    FROM sigs s CROSS JOIN qsig q
       |    WHERE ($hit) AND s.vec_id >= $ProbeBatch)
       |  WHERE rk <= $KnnK),
       |$sq8CteSql,
       |q8p AS (SELECT vec_id AS query_id, qv8 AS pv8, qnrm8 AS pnrm8
       |  FROM q8n WHERE vec_id < $ProbeBatch),
       |sq8k AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT p.query_id, n.vec_id,
       |      row_number() OVER (PARTITION BY p.query_id ORDER BY
       |        round(${intDotSql("n.qv8", "p.pv8")} / (n.qnrm8 * p.pnrm8), 6) DESC,
       |        n.vec_id) AS rk
       |    FROM q8n n CROSS JOIN q8p p WHERE n.vec_id >= $ProbeBatch)
       |  WHERE rk <= $KnnK),
       |$binSigCteSql,
       |bqp AS (SELECT vec_id AS query_id, blo AS qlo, bhi AS qhi
       |  FROM bsg WHERE vec_id < $ProbeBatch),
       |bsl AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.query_id, s.vec_id,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        bit_count(xor(s.blo, qlo)) + bit_count(xor(s.bhi, qhi)),
       |        s.vec_id) AS rk
       |    FROM bsg s CROSS JOIN bqp q WHERE s.vec_id >= $ProbeBatch)
       |  WHERE rk <= ${KnnK * RefineFactor}),
       |bink AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT s.query_id, s.vec_id,
       |      row_number() OVER (PARTITION BY s.query_id
       |        ORDER BY round(${cos("e.v", "qv")}, 6) DESC, s.vec_id) AS rk
       |    FROM bsl s JOIN e ON e.vec_id = s.vec_id
       |    JOIN qs ON qs.query_id = s.query_id)
       |  WHERE rk <= $KnnK)
       |SELECT method, mean_recall, min_recall FROM (
       |$legs
       |) ORDER BY method""".stripMargin
  }

  /** MMR oracle: the MmrK greedy rounds unrolled as chained CTEs —
    * identical integer micro-grid arithmetic, identical tie-breaks.
    */
  private def mmrSql: String = {
    val rounds = (2 to MmrK).map { r =>
      val prev = (1 until r).map(i => s"SELECT vec_id FROM s$i").mkString(" UNION ALL ")
      s"""s$r AS (
         |  SELECT c.vec_id,
         |    CAST($MmrLambdaX10 * c.qs - ${10 - MmrLambdaX10} * p.pen AS BIGINT) AS mmr,
         |    $r AS rk
         |  FROM cand c JOIN (
         |    SELECT a, max(s) AS pen FROM sim WHERE b IN ($prev) GROUP BY a) p
         |    ON c.vec_id = p.a
         |  WHERE c.vec_id NOT IN ($prev)
         |  ORDER BY mmr DESC, c.vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val sels = (1 to MmrK).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
    s"""WITH $VecSql, $QVecSql,
       |cand AS MATERIALIZED (
       |  SELECT vec_id, v,
       |    CAST(round(round(${cos("v", "qv")}, 6) * 1000000) AS BIGINT) AS qs
       |  FROM e, q WHERE vec_id <> 0
       |  ORDER BY qs DESC, vec_id LIMIT $TopK),
       |sim AS MATERIALIZED (
       |  SELECT ca.vec_id AS a, cb.vec_id AS b,
       |    CAST(round(round(${cos("ca.v", "cb.v")}, 6) * 1000000) AS BIGINT) AS s
       |  FROM cand ca JOIN cand cb ON ca.vec_id <> cb.vec_id),
       |s1 AS (SELECT vec_id, CAST($MmrLambdaX10 * qs AS BIGINT) AS mmr, 1 AS rk
       |  FROM cand ORDER BY qs DESC, vec_id LIMIT 1),
       |$rounds
       |SELECT rk, vec_id, mmr FROM ($sels) ORDER BY rk""".stripMargin
  }

  /** Int8 code + code-norm CTEs shared by the q_ann_sq8 oracle and
    * the recall audit's sq8 leg (q8n: vec_id, qv8, qnrm8).
    */
  private def sq8CteSql: String =
    s"""q8c AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(v, x -> CAST(round(x * 127.0 / maxabs) AS BIGINT)) AS qv8
       |  FROM (SELECT vec_id, v,
       |      list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e)
       |  WHERE maxabs > 0 AND NOT isnan(maxabs)),
       |q8n AS MATERIALIZED (
       |  SELECT vec_id, qv8,
       |    sqrt(CAST(list_sum(list_transform(qv8, x -> x * x)) AS DOUBLE)) AS qnrm8
       |  FROM q8c)""".stripMargin

  private def intDotSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, $Dim), i -> $a[i] * $b[i]))"

  /** Sign-word CTE (bsg: vec_id, v, nrm, blo, bhi) shared by the
    * q_ann_binary oracle and the recall audit's binary leg.
    */
  private def binSigCteSql: String =
    s"""bsg AS MATERIALIZED (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
       |    ${signBitsSql("v", 0, Dim / 2)} AS blo,
       |    ${signBitsSql("v", Dim / 2, Dim)} AS bhi
       |  FROM e)""".stripMargin

  /** Every layout replayed verbatim: shared probe-exact baseline, then
    * per-layout sig projection, bucket-size pair load, exact-bucket
    * candidate recall — identical integer arithmetic throughout.
    */
  private def lshTuneSql: String = {
    val blocks = LshLayouts.map { case (nt, bits) =>
      val sigCols = (0 until nt)
        .map(t => s"${srpSigSql("v", t * bits until (t + 1) * bits)} AS s$t")
        .mkString(",\n    ")
      val qCols = (0 until nt).map(t => s"s$t AS qs$t").mkString(", ")
      val hit = (0 until nt).map(t => s"s.s$t = qs$t").mkString(" OR ")
      val perTable = (0 until nt).map(t =>
        s"""SELECT CAST(coalesce(sum(c * (c - 1) // 2), 0) AS BIGINT) AS p
           |    FROM (SELECT s$t, count(*) AS c FROM sg$nt GROUP BY s$t)""".stripMargin)
        .mkString("\n    UNION ALL ")
      s"""sg$nt AS MATERIALIZED (
         |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
         |    $sigCols
         |  FROM e),
         |ld$nt AS (SELECT CAST(sum(p) AS BIGINT) AS cand_pairs FROM (
         |    $perTable)),
         |qsg$nt AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, $qCols
         |  FROM sg$nt WHERE vec_id < $ProbeBatch),
         |tk$nt AS MATERIALIZED (
         |  SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, s.vec_id,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY
         |        round(${dotDuckSql("s.v", "qv")} / (s.nrm * qnrm), 6) DESC,
         |        s.vec_id) AS rk
         |    FROM sg$nt s CROSS JOIN qsg$nt q
         |    WHERE ($hit) AND s.vec_id >= $ProbeBatch)
         |  WHERE rk <= $KnnK),
         |rc$nt AS (
         |  SELECT round(sum(h) / (count(*) * ${KnnK}.0), 6) AS mean_recall FROM (
         |    SELECT q.query_id, coalesce(hh.h, 0) AS h
         |    FROM (SELECT query_id FROM qb) q
         |    LEFT JOIN (SELECT query_id, count(*) AS h
         |      FROM tk$nt JOIN ex USING (query_id, vec_id) GROUP BY query_id) hh
         |    USING (query_id)))""".stripMargin
    }.mkString(",\n")
    val rows = LshLayouts.map { case (nt, bits) =>
      s"""SELECT $nt AS n_tables, $bits AS bits,
         |  (SELECT cand_pairs FROM ld$nt) AS cand_pairs,
         |  (SELECT mean_recall FROM rc$nt) AS mean_recall""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $VecSql,
       |qb AS (SELECT vec_id AS query_id FROM e WHERE vec_id < $ProbeBatch),
       |ex AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.query_id, e.vec_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(${cos("e.v", "qv")}, 6) DESC, e.vec_id) AS rk
       |    FROM e CROSS JOIN (SELECT vec_id AS query_id, v AS qv FROM e
       |      WHERE vec_id < $ProbeBatch) q
       |    WHERE e.vec_id >= $ProbeBatch)
       |  WHERE rk <= $KnnK),
       |$blocks
       |SELECT n_tables, bits, cand_pairs, mean_recall FROM (
       |$rows
       |) ORDER BY n_tables""".stripMargin
  }

  private val baseOracles: Map[String, String] = Map(
    "q_mmr" -> mmrSql,
    "q_lsh_tune" -> lshTuneSql,
    "q_ann_sq8" ->
      s"""WITH $VecSql,
         |$sq8CteSql,
         |p AS (SELECT qv8 AS pv8, qnrm8 AS pnrm8 FROM q8n WHERE vec_id = 0)
         |SELECT vec_id, score, rk FROM (
         |  SELECT n.vec_id,
         |    round(${intDotSql("n.qv8", "pv8")} / (n.qnrm8 * pnrm8), 6) AS score,
         |    row_number() OVER (ORDER BY
         |      round(${intDotSql("n.qv8", "pv8")} / (n.qnrm8 * pnrm8), 6) DESC,
         |      n.vec_id) AS rk
         |  FROM q8n n CROSS JOIN p WHERE n.vec_id <> 0)
         |WHERE rk <= $KnnK ORDER BY rk""".stripMargin,
    "q_ann_binary" ->
      s"""WITH $VecSql,
         |$binSigCteSql,
         |p AS (SELECT v AS qv, nrm AS qnrm, blo AS qlo, bhi AS qhi
         |  FROM bsg WHERE vec_id = 0),
         |hm AS MATERIALIZED (
         |  SELECT s.vec_id,
         |    CAST(bit_count(xor(s.blo, qlo)) + bit_count(xor(s.bhi, qhi)) AS BIGINT) AS hd
         |  FROM bsg s CROSS JOIN p WHERE s.vec_id <> 0),
         |sl AS (SELECT vec_id, hd FROM (
         |    SELECT vec_id, hd, row_number() OVER (ORDER BY hd, vec_id) AS rk
         |    FROM hm)
         |  WHERE rk <= ${KnnK * RefineFactor})
         |SELECT vec_id, hd, score, rk FROM (
         |  SELECT s.vec_id, s.hd, round(${cos("e.v", "qv")}, 6) AS score,
         |    row_number() OVER (
         |      ORDER BY round(${cos("e.v", "qv")}, 6) DESC, s.vec_id) AS rk
         |  FROM sl s JOIN e ON e.vec_id = s.vec_id CROSS JOIN p)
         |WHERE rk <= $KnnK ORDER BY rk""".stripMargin,
    "q_ann_ivfpq" ->
      s"""WITH $VecSql, $QVecSql,
         |$ivfTrainCteSql,
         |assigned AS MATERIALIZED (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cos("e.v", "c.cv")} DESC, c.cid) AS rn
         |    FROM e CROSS JOIN cents c)
         |  WHERE rn = 1),
         |probed AS (
         |  SELECT cid FROM (
         |    SELECT c.cid, row_number() OVER (
         |      ORDER BY ${cos("c.cv", "qv")} DESC, c.cid) AS rn
         |    FROM cents c CROSS JOIN q)
         |  WHERE rn <= $IvfProbes),
         |$pqCteSql,
         |adc AS (
         |  SELECT enc.vec_id, a.cid, CAST(sum(qmicro) AS BIGINT) AS adc_micro
         |  FROM enc JOIN assigned a ON enc.vec_id = a.vec_id
         |  JOIN probed p ON a.cid = p.cid
         |  JOIN qd ON enc.m = qd.m AND enc.code = qd.code
         |  WHERE enc.vec_id <> 0 GROUP BY enc.vec_id, a.cid)
         |SELECT vec_id, cid, round(adc_micro / 1000000000000.0, 6) AS adc_dist, rk FROM (
         |  SELECT vec_id, cid, adc_micro,
         |    row_number() OVER (ORDER BY adc_micro, vec_id) AS rk
         |  FROM adc)
         |WHERE rk <= $KnnK ORDER BY rk""".stripMargin,
    "q_ann_ivfpq_refine" ->
      s"""WITH $VecSql, $QVecSql,
         |$ivfTrainCteSql,
         |assigned AS MATERIALIZED (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cos("e.v", "c.cv")} DESC, c.cid) AS rn
         |    FROM e CROSS JOIN cents c)
         |  WHERE rn = 1),
         |probed AS (
         |  SELECT cid FROM (
         |    SELECT c.cid, row_number() OVER (
         |      ORDER BY ${cos("c.cv", "qv")} DESC, c.cid) AS rn
         |    FROM cents c CROSS JOIN q)
         |  WHERE rn <= $IvfProbes),
         |$pqCteSql,
         |adc AS (
         |  SELECT enc.vec_id, a.cid, CAST(sum(qmicro) AS BIGINT) AS adc_micro
         |  FROM enc JOIN assigned a ON enc.vec_id = a.vec_id
         |  JOIN probed p ON a.cid = p.cid
         |  JOIN qd ON enc.m = qd.m AND enc.code = qd.code
         |  WHERE enc.vec_id <> 0 GROUP BY enc.vec_id, a.cid),
         |shortlist AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (ORDER BY adc_micro, vec_id) AS rk
         |    FROM adc)
         |  WHERE rk <= ${KnnK * RefineFactor})
         |SELECT vec_id, cid, score, rk FROM (
         |  SELECT s.vec_id, s.cid, round(${cos("e.v", "qv")}, 6) AS score,
         |    row_number() OVER (
         |      ORDER BY round(${cos("e.v", "qv")}, 6) DESC, s.vec_id) AS rk
         |  FROM shortlist s JOIN e ON e.vec_id = s.vec_id CROSS JOIN q)
         |WHERE rk <= $KnnK ORDER BY rk""".stripMargin,
    "q_ann_pq" ->
      s"""WITH $VecSql,
         |$pqCteSql,
         |adc AS (
         |  SELECT enc.vec_id, CAST(sum(qmicro) AS BIGINT) AS adc_micro
         |  FROM enc JOIN qd ON enc.m = qd.m AND enc.code = qd.code
         |  WHERE enc.vec_id <> 0 GROUP BY enc.vec_id)
         |SELECT vec_id, round(adc_micro / 1000000000000.0, 6) AS adc_dist, rk FROM (
         |  SELECT vec_id, adc_micro,
         |    row_number() OVER (ORDER BY adc_micro, vec_id) AS rk
         |  FROM adc)
         |WHERE rk <= $KnnK ORDER BY rk""".stripMargin,
    "q_ann_lsh" -> {
      val sigCols = (0 until LshTables)
        .map(t => s"${lshSigSql("v", t)} AS sig$t").mkString(",\n    ")
      val qCols = (0 until LshTables).map(t => s"sig$t AS qsig$t").mkString(", ")
      val hit = (0 until LshTables)
        .map(t => s"bit_count(xor(s.sig$t, qsig$t)) <= $LshProbeHd")
        .mkString(" OR ")
      s"""WITH $VecSql,
         |sigs AS MATERIALIZED (
         |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
         |    $sigCols
         |  FROM e),
         |q AS (SELECT v AS qv, nrm AS qnrm, $qCols FROM sigs WHERE vec_id = 0)
         |SELECT vec_id, score, rk FROM (
         |  SELECT s.vec_id,
         |    round(${dotDuckSql("s.v", "qv")} / (s.nrm * qnrm), 6) AS score,
         |    row_number() OVER (ORDER BY
         |      round(${dotDuckSql("s.v", "qv")} / (s.nrm * qnrm), 6) DESC,
         |      s.vec_id) AS rk
         |  FROM sigs s CROSS JOIN q
         |  WHERE ($hit) AND s.vec_id <> 0)
         |WHERE rk <= $KnnK ORDER BY rk""".stripMargin
    },
    "q_cosine_topk" ->
      s"""WITH $VecSql, $QVecSql
         |SELECT vec_id, label, round(${cos("v", "qv")}, 6) AS score
         |FROM e CROSS JOIN q WHERE vec_id <> 0
         |ORDER BY score DESC, vec_id LIMIT $TopK""".stripMargin,
    "q_range_search" ->
      s"""WITH $VecSql, $QVecSql
         |SELECT vec_id, label, score FROM (
         |  SELECT vec_id, label, round(${cos("v", "qv")}, 6) AS score
         |  FROM e CROSS JOIN q WHERE vec_id <> 0)
         |WHERE score >= $RangeTheta
         |ORDER BY score DESC, vec_id""".stripMargin,
    "q_cosine_topk_filtered" ->
      s"""WITH $VecSql, $QVecSql
         |SELECT vec_id, lang, round(${cos("v", "qv")}, 6) AS score
         |FROM e JOIN documents d ON vec_id = d.doc_id CROSS JOIN q
         |WHERE d.lang = '$FilterLang' AND vec_id <> 0
         |ORDER BY score DESC, vec_id LIMIT $TopK""".stripMargin,
    "q_knn_join" ->
      s"""WITH $VecSql,
         |qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |scored AS (
         |  SELECT query_id, vec_id, round(${cos("v", "qv")}, 6) AS score
         |  FROM e CROSS JOIN qs WHERE vec_id >= 5)
         |SELECT query_id, vec_id, score, rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, vec_id) AS rk FROM scored)
         |WHERE rk <= $KnnK ORDER BY query_id, rk""".stripMargin,
    "q_ndcg" ->
      s"""WITH $VecSql,
         |qs AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
         |  FROM e WHERE vec_id < $ProbeBatch),
         |scored AS MATERIALIZED (
         |  SELECT query_id, qlabel, e.vec_id, e.label,
         |    round(${cos("v", "qv")}, 6) AS score
         |  FROM e CROSS JOIN qs WHERE e.vec_id >= $ProbeBatch),
         |nrel AS (SELECT query_id,
         |    CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_rel
         |  FROM scored GROUP BY query_id),
         |ranked AS (SELECT query_id, label, qlabel,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id) AS rk
         |  FROM scored),
         |dcg AS (SELECT query_id,
         |    CAST(sum(CASE WHEN label = qlabel
         |      THEN CAST(round(1000000 / log2(rk + 1)) AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS dcg_micro
         |  FROM ranked WHERE rk <= $KnnK GROUP BY query_id),
         |base AS (SELECT d.query_id, n_rel, dcg_micro,
         |    CASE WHEN n_rel > 0 THEN CAST(list_sum(list_transform(
         |      generate_series(1, least(n_rel, $KnnK)),
         |      i -> CAST(round(1000000 / log2(i + 1)) AS BIGINT))) AS BIGINT)
         |    ELSE 0 END AS idcg_micro
         |  FROM dcg d JOIN nrel USING (query_id))
         |SELECT query_id, n_rel, dcg_micro, idcg_micro,
         |  round(CASE WHEN idcg_micro > 0
         |    THEN dcg_micro / CAST(idcg_micro AS DOUBLE) ELSE 0.0 END, 6) AS ndcg
         |FROM base ORDER BY query_id""".stripMargin,
    "q_mrr" ->
      s"""WITH $VecSql,
         |qs AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
         |  FROM e WHERE vec_id < $ProbeBatch),
         |scored AS MATERIALIZED (
         |  SELECT query_id, qlabel, e.vec_id, e.label,
         |    round(${cos("v", "qv")}, 6) AS score
         |  FROM e CROSS JOIN qs WHERE e.vec_id >= $ProbeBatch),
         |ranked AS (SELECT query_id, label, qlabel,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT query_id,
         |  CAST(coalesce(min(CASE WHEN label = qlabel THEN rk END), 0) AS BIGINT)
         |    AS first_rel,
         |  CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
         |    AS hits,
         |  CAST(CASE WHEN min(CASE WHEN label = qlabel THEN rk END) IS NOT NULL
         |    THEN 1000000 // min(CASE WHEN label = qlabel THEN rk END)
         |    ELSE 0 END AS BIGINT) AS rr_micro
         |FROM ranked WHERE rk <= $KnnK GROUP BY query_id
         |ORDER BY query_id""".stripMargin,
    "q_hard_negatives" ->
      s"""WITH $VecSql,
         |qs AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
         |  FROM e WHERE vec_id < 5),
         |scored AS (
         |  SELECT query_id, e.vec_id, e.label,
         |    round(${cos("v", "qv")}, 6) AS score
         |  FROM e CROSS JOIN qs
         |  WHERE e.vec_id >= 5 AND e.label <> qlabel)
         |SELECT query_id, vec_id, label, score, rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, vec_id) AS rk FROM scored)
         |WHERE rk <= $KnnK ORDER BY query_id, rk""".stripMargin,
    "q_knn_join_ivf" ->
      s"""WITH $VecSql,
         |$ivfTrainCteSql,
         |assigned AS MATERIALIZED (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cos("e.v", "c.cv")} DESC, c.cid) AS rn
         |    FROM e CROSS JOIN cents c)
         |  WHERE rn = 1),
         |qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |probed AS (
         |  SELECT query_id, cid FROM (
         |    SELECT query_id, c.cid, row_number() OVER (PARTITION BY query_id
         |      ORDER BY ${cos("c.cv", "qv")} DESC, c.cid) AS rn
         |    FROM cents c CROSS JOIN qs)
         |  WHERE rn <= $IvfProbes),
         |scored AS (
         |  SELECT p.query_id, a.vec_id, round(${cos("e.v", "qv")}, 6) AS score
         |  FROM assigned a JOIN probed p USING (cid)
         |  JOIN e ON e.vec_id = a.vec_id
         |  JOIN qs ON qs.query_id = p.query_id
         |  WHERE a.vec_id >= 5)
         |SELECT query_id, vec_id, score, rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, vec_id) AS rk FROM scored)
         |WHERE rk <= $KnnK ORDER BY query_id, rk""".stripMargin,
    "q_hybrid_search" ->
      s"""WITH $VecSql, $QVecSql,
         |kw AS (
         |  SELECT doc_id, len(list_filter(list_distinct(string_split(text, ' ')),
         |    w -> w IN (${HybridTerms.map(t => s"'$t'").mkString(",")})))
         |    / ${HybridTerms.size}.0 AS kw_score
         |  FROM documents)
         |SELECT doc_id,
         |  round(0.6 * ${cos("v", "qv")} + 0.4 * kw_score, 6) AS score
         |FROM e JOIN kw ON vec_id = doc_id CROSS JOIN q
         |WHERE vec_id <> 0
         |ORDER BY score DESC, doc_id LIMIT $TopK""".stripMargin,
    "q_expand_retrieval" ->
      s"""WITH $VecSql, $QVecSql
         |SELECT vec_id, round(${cos("v", "qv")}, 6) AS score,
         |  'Title: doc ' || doc_id || ' [' || source || ']' ||
         |    ' Text: ' || substr(text, 1, 60) AS text_out,
         |  source, lang
         |FROM e CROSS JOIN q
         |JOIN documents ON vec_id = doc_id
         |WHERE vec_id <> 0
         |ORDER BY score DESC, vec_id LIMIT 5""".stripMargin,
    "q_ann_ivf" ->
      s"""WITH $VecSql, $QVecSql,
         |$ivfTrainCteSql,
         |assigned AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT e.vec_id, e.v, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cos("e.v", "c.cv")} DESC, c.cid) AS rn
         |    FROM e CROSS JOIN cents c)
         |  WHERE rn = 1),
         |probed AS (
         |  SELECT cid FROM (
         |    SELECT c.cid, row_number() OVER (
         |      ORDER BY ${cos("c.cv", "qv")} DESC, c.cid) AS rn
         |    FROM cents c CROSS JOIN q)
         |  WHERE rn <= $IvfProbes)
         |SELECT vec_id, cid, score, rk FROM (
         |  SELECT a.vec_id, a.cid, round(${cos("a.v", "qv")}, 6) AS score,
         |    row_number() OVER (ORDER BY round(${cos("a.v", "qv")}, 6) DESC, a.vec_id) AS rk
         |  FROM assigned a JOIN probed USING (cid) CROSS JOIN q
         |  WHERE a.vec_id <> 0)
         |WHERE rk <= $KnnK ORDER BY rk""".stripMargin)

  val oracles: Map[String, String] =
    baseOracles +
      ("q_ann_recall" -> annRecallSql) +
      ("q_ann_recall_clustered" -> annRecallSqlFor(clusteredVecSql))
}
