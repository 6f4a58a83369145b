package graft.graph

import graft.Ckpt.BarrierOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.operators.TextPipeline

/** The property-graph model + the reference's Cypher query surface.
  *
  * Node/edge tables (ref graph.py:28-131, schema.py): Article ≡
  * documents row, Chunk via TextPipeline.chunks, Source ≡ documents.
  * source dim, Person/Organization/Location via gazetteer mentions;
  * edges CONTAINS / MENTIONS / PUBLISHED are implicit joins on the
  * same keys, so a "graph traversal" is a join pipeline Catalyst can
  * reorder and broadcast — the Spark-native answer to Cypher MATCH.
  *
  * Scale: node/edge builders are one scan + one doc_id shuffle; the
  * Cypher-example queries are entity-filtered joins where the entity
  * side is tiny (broadcast) and the fact side streams.
  */
object NewsGraph {

  private def entityNodeLabel(c: org.apache.spark.sql.Column) =
    when(c === "person", "Person")
      .when(c === "organization", "Organization")
      .otherwise("Location")

  private val EntityNodeLabelSql =
    "CASE label WHEN 'person' THEN 'Person' WHEN 'organization' THEN 'Organization' ELSE 'Location' END"

  /** Fulltext candidate score — the ONE scoring rule behind every
    * fuzzy entity lookup (qEntityCandidates, qRagContext's resolution
    * stage, and CypherLite's compiled `CALL db.index.fulltext
    * .queryNodes` form): 0.5·token-set Jaccard + 0.5·(1 − normalized
    * Levenshtein), rounded to 6 decimals. The token component models
    * Lucene's per-word fuzzy AND query (reference utils.py:51-61),
    * the edit component its ~0.8 per-word fuzziness. Shared so the
    * CALL compilation can never drift from the q_entity_candidates
    * semantics it stands in for.
    */
  def fulltextScore(probe: org.apache.spark.sql.Column,
                    name: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val pTok = array_distinct(split(probe, " "))
    val nTok = array_distinct(split(name, " "))
    round(
      lit(0.5) * (size(array_intersect(pTok, nTok)) /
        size(array_union(pTok, nTok)).cast("double")) +
      lit(0.5) * (lit(1.0) - levenshtein(probe, name) /
        greatest(length(probe), length(name)).cast("double")), 6)
  }

  /** Article topics (ref graph.py merge_article_topics / HAS_TOPIC):
    * the synthetic corpus has no topic field, so the topic is derived
    * deterministically as the entity label with the most mentions in
    * the doc (ties → alphabetical). Authors (ref crawler.py:44:
    * `authors = article.authors or [source.publisher]`) fall back to
    * the publisher — faithfully reproduced: author ≡ source.
    */
  def qArticleTopics(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("n").desc, col("label"))
    TextPipeline.mentions(spark, dir)
      .groupBy("doc_id", "label")
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("label").as("topic"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source").as("author")), "doc_id")
      .orderBy("doc_id")
  }

  val ArticleTopicsSql: String =
    """topics AS MATERIALIZED (
      |  SELECT doc_id, label AS topic FROM (
      |    SELECT doc_id, label, row_number() OVER (PARTITION BY doc_id
      |      ORDER BY count(*) DESC, label) AS rn
      |    FROM mentions GROUP BY doc_id, label)
      |  WHERE rn = 1)""".stripMargin

  /** All graph nodes: (uid, label, name) — ref graph.py:28-95 node
    * creation; uids are deterministic natural keys, not random
    * (generate_short_uid is driver-side randomness we must not keep).
    */
  def qGraphNodes(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nullStr = lit(null).cast("string")
    val nullLong = lit(null).cast("long")
    // labels without a property column carry typed NULLs — the sparse
    // relational encoding of heterogeneous node properties
    def bare(df: DataFrame): DataFrame = df.select(
      col("uid"), col("label"), col("name"),
      nullStr.as("title"), nullStr.as("publishing_date"), nullStr.as("url"),
      nullStr.as("type"),
      nullStr.as("category"), nullLong.as("section"), nullLong.as("position"))
    val articles = docs.select(
      concat(lit("Article:"), col("doc_id")).as("uid"),
      lit("Article").as("label"),
      col("doc_id").cast("string").as("name"),
      Props.title(col("text")).as("title"),
      Props.publishingDate(col("doc_id")).as("publishing_date"),
      Props.url(col("doc_id"), col("source")).as("url"),
      nullStr.as("type"),
      nullStr.as("category"), nullLong.as("section"), nullLong.as("position"))
    val chunkNodes = TextPipeline.chunks(spark, dir).select(
      concat(lit("Chunk:"), col("doc_id"), lit(":"), col("chunk_id")).as("uid"),
      lit("Chunk").as("label"),
      col("chunk_id").cast("string").as("name"),
      nullStr.as("title"), nullStr.as("publishing_date"), nullStr.as("url"),
      nullStr.as("type"),
      Props.category(col("chunk_id")).as("category"),
      Props.section(col("chunk_id")).as("section"),
      col("chunk_id").cast("long").as("position"))
    // Source carries type + url (graph.py:74 name/type/url); like
    // Person below, no node for a NULL source (Neo4j makes none)
    val sourceKeys = docs.select(col("source")).filter(col("source").isNotNull).distinct()
    val sources = sourceKeys.select(
      concat(lit("Source:"), col("source")).as("uid"),
      lit("Source").as("label"),
      col("source").as("name"),
      nullStr.as("title"), nullStr.as("publishing_date"),
      Props.sourceUrl(col("source")).as("url"),
      Props.sourceType(col("source")).as("type"),
      nullStr.as("category"), nullLong.as("section"), nullLong.as("position"))
    val entities = bare(TextPipeline.mentions(spark, dir)
      .select(col("name"), entityNodeLabel(col("label")).as("label")).distinct()
      .select(concat(col("label"), lit(":"), col("name")).as("uid"),
        col("label"), col("name")))
    // authors ≡ publisher fallback (crawler.py:44), labeled Person
    val authors = bare(sourceKeys.select(
      concat(lit("Person:"), col("source")).as("uid"),
      lit("Person").as("label"), col("source").as("name")))
    val topics = bare(qArticleTopics(spark, dir).select(col("topic")).distinct()
      .select(concat(lit("Topic:"), col("topic")).as("uid"),
        lit("Topic").as("label"), col("topic").as("name")))
    articles.unionByName(chunkNodes).unionByName(sources)
      .unionByName(entities).unionByName(authors).unionByName(topics)
      .orderBy("uid")
  }

  /** Schema introspection: label/edge cardinalities — the summary the
    * reference feeds the LLM as `db.graph.schema` (chat.py:18).
    *
    * One pipeline build: `chunks` and `mentions` are lazy plans, and
    * referencing them from several count branches re-executes the
    * whole text pipeline per branch (this query used to rebuild it
    * ~4×, incl. qArticleTopics' own mentions). Key-pruned
    * localCheckpoints compute each exactly once; the 12 cardinalities
    * below are derived from the shared frames, and topics is rebuilt
    * here from the checkpointed mentions rather than via
    * qArticleTopics (whose documents-join columns the counts don't
    * need).
    */
  def qGraphSchema(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val chunks = TextPipeline.chunks(spark, dir)
      .select("doc_id", "chunk_id").barrier()
    val mentions = TextPipeline.mentions(spark, dir)
      .select("doc_id", "label", "name").barrier()
    // Person = gazetteer persons ∪ author-persons (publisher fallback)
    val personNames = mentions.filter(col("label") === "person")
      .select(col("name")).union(docs.select(col("source")).filter(col("source").isNotNull))
      .distinct()
    val wTop = Window.partitionBy("doc_id").orderBy(col("n").desc, col("label"))
    val topics = mentions.groupBy("doc_id", "label")
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("label").as("topic"))
    val nodeCounts = Seq(
      docs.select(lit("node").as("kind"), lit("Article").as("label"), count(lit(1)).as("cnt")),
      chunks.select(lit("node").as("kind"), lit("Chunk").as("label"), count(lit(1)).as("cnt")),
      docs.select(col("source")).filter(col("source").isNotNull).distinct()
        .select(lit("node").as("kind"), lit("Source").as("label"), count(lit(1)).as("cnt")),
      personNames.select(lit("node").as("kind"), lit("Person").as("label"), count(lit(1)).as("cnt")),
      mentions.filter(col("label") =!= "person")
        .select(col("name"), entityNodeLabel(col("label")).as("elabel")).distinct()
        .groupBy(col("elabel").as("label"))
        .agg(count(lit(1)).as("cnt")).select(lit("node").as("kind"), col("label"), col("cnt")),
      topics.select(col("topic")).distinct()
        .select(lit("node").as("kind"), lit("Topic").as("label"), count(lit(1)).as("cnt")),
      chunks.select(lit("rel").as("kind"), lit("CONTAINS").as("label"), count(lit(1)).as("cnt")),
      mentions.select(lit("rel").as("kind"), lit("MENTIONS").as("label"), count(lit(1)).as("cnt")),
      docs.select(lit("rel").as("kind"), lit("PUBLISHED").as("label"), count(lit(1)).as("cnt")),
      docs.select(lit("rel").as("kind"), lit("AUTHORED").as("label"), count(lit(1)).as("cnt")),
      topics.select(lit("rel").as("kind"), lit("HAS_TOPIC").as("label"), count(lit(1)).as("cnt")))
    nodeCounts.reduce(_ unionByName _).orderBy("kind", "label")
  }

  /** Cypher example 1 (chat.py:24-26): DISTINCT articles mentioning
    * any of the given entity names, LIMIT 10.
    */
  def qArticlesMentioning(spark: SparkSession, dir: String): DataFrame =
    TextPipeline.mentions(spark, dir)
      .filter(col("name").isin("customer", "spark"))
      .select("doc_id").distinct()
      .join(Tables.documents(spark, dir).select("doc_id", "source"), "doc_id")
      .orderBy("doc_id").limit(10)

  /** Cypher example 2 (chat.py:28-30): count of DISTINCT sources
    * publishing an article that mentions the entity.
    */
  def qSourcesMentioning(spark: SparkSession, dir: String): DataFrame =
    TextPipeline.mentions(spark, dir)
      .filter(col("name") === "spark")
      .select("doc_id").distinct()
      .join(Tables.documents(spark, dir).select("doc_id", "source"), "doc_id")
      .agg(countDistinct(col("source")).as("n_sources"))

  /** Cypher example 3 (chat.py:32-34): UNION of chunks mentioning
    * either entity, LIMIT 10.
    */
  def qChunksByEntities(spark: SparkSession, dir: String): DataFrame = {
    val chunks = TextPipeline.chunks(spark, dir)
    val m = TextPipeline.mentions(spark, dir)
    val hitKeys = m.filter(col("name") === "customer")
      .select("doc_id", "chunk_id")
      .union(m.filter(col("name") === "spark").select("doc_id", "chunk_id"))
      .distinct()
    chunks.join(hitKeys, Seq("doc_id", "chunk_id"))
      .select("doc_id", "chunk_id", "chunk_text")
      .orderBy("doc_id", "chunk_id").limit(10)
  }

  /** Candidate probes for fuzzy entity lookup (graph.py:148-168):
    * stand-in for the Lucene fulltext index. Score = 0.5·token-set
    * Jaccard + 0.5·(1 − normalized Levenshtein): the token component
    * models Lucene's per-word fuzzy AND query (utils.py:51-61), the
    * edit component its ~0.8 per-word fuzziness. Top-10 per probe
    * (per_entity_limit=10, graph.py:140) through the TopKPerGroup
    * heap operator — the entity-name dim grows with the corpus, so no
    * corpus-sized rank window here; the rank window after it sees ≤10
    * rows per probe.
    *
    * Label-scoped, as in the reference: each probe carries its GLiNER
    * label and queries a PER-LABEL index (graph.py:143
    * `f"{entity.label}Name"`), so a Person probe can never match a
    * Location — the cross join is an equi-join on label, which also
    * shrinks the scored set ~3×.
    */
  val CandidateProbes: Seq[(String, String)] = Seq(
    "custmer" -> "Person", "sprak" -> "Organization", "windw" -> "Location",
    "tble grp" -> "Organization", "spark grp" -> "Organization",
    "line custmer" -> "Person")

  val CandidateLimit = 10

  def qEntityCandidates(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val probes = CandidateProbes.toDF("probe", "plabel")
    val names = TextPipeline.mentions(spark, dir)
      .select(col("name"), entityNodeLabel(col("label")).as("label")).distinct()
    val scored = names.join(broadcast(probes), col("label") === col("plabel"))
      .withColumn("score", fulltextScore(col("probe"), col("name")))
      .select("probe", "name", "label", "score")
    val top = graft.plans.TopKPerGroup.topK(
      scored, CandidateLimit, Seq("probe"), orderCol = "score", tieCol = "name")
    top.withColumn("rk", row_number().over(
        Window.partitionBy("probe").orderBy(col("score").desc, col("name"))))
      .select("probe", "name", "label", "score", "rk")
      .orderBy("probe", "rk")
  }

  val RagProbes: Seq[(String, String)] = Seq(
    "custmer" -> "Person", "sprak" -> "Organization")
  val RagK = 12       // retrieved chunks before dedup/budget
  val RagBudget = 220 // context token budget

  /** The chat.py serving path as ONE Catalyst plan — what
    * generate_cypher_query + answer_question do per user question,
    * minus the LLM calls: (1) fuzzy-resolve the question's entity
    * probes against the per-label index to their best stored name
    * (graph.py:140-168); (2) retrieve chunks MENTIONS-ing any resolved
    * entity, ranked by how many they hit (chat.py's generated
    * match); (3) drop exact-duplicate chunk texts; (4) cut to the
    * context token budget by exclusive prefix sum in rank order; (5)
    * format each surviving record with its Article metadata the way
    * map_records_to_context does (chat.py:96-101).
    *
    * Scale shape: resolution is the candidate equi-join (label-scoped,
    * probe side broadcast); retrieval is one mentions join keyed on
    * the resolved names (broadcast) + a chunk-key aggregation; the
    * global top-RagK goes through TakeOrdered, and every window after
    * it runs on ≤ RagK rows under the TopKUtil constant-key
    * convention. Chunk text leaves its scan only for the RagK
    * survivors — the corpus-sized shuffles carry (doc_id, chunk_id)
    * and 16-byte hashes.
    */
  def qRagContext(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = TextPipeline.mentions(spark, dir)
    // (1) resolve probes → best stored entity name per probe
    val probes = RagProbes.toDF("probe", "plabel")
    val names = m.select(col("name"), entityNodeLabel(col("label")).as("label")).distinct()
    val scored = names.join(broadcast(probes), col("label") === col("plabel"))
      .withColumn("score", fulltextScore(col("probe"), col("name")))
    val resolved = graft.plans.TopKPerGroup.topK(
        scored.select("probe", "name", "score"), 1,
        Seq("probe"), orderCol = "score", tieCol = "name")
      .select("name").distinct()
    // (2) retrieve + rank: chunks hitting any resolved entity
    val hits = m.join(broadcast(resolved), "name")
      .groupBy("doc_id", "chunk_id")
      .agg(countDistinct(col("name")).as("n_hits"))
    val ranked = graft.operators.TopKUtil.globalTopK(
      hits.join(TextPipeline.chunks(spark, dir), Seq("doc_id", "chunk_id"))
        .withColumn("ck", col("doc_id") * 10000 + col("chunk_id"))
        .select("ck", "doc_id", "chunk_id", "n_hits", "chunk_text", "n_words"),
      RagK, "ck", col("n_hits").desc, col("doc_id"), col("chunk_id"))
    // (3) exact-dup screen + (4) budget cut — both over ≤ RagK rows
    val k1 = pmod(col("ck"), lit(1))
    val deduped = ranked
      .withColumn("dn", row_number().over(
        Window.partitionBy(md5(col("chunk_text"))).orderBy("rk")))
      .filter(col("dn") === 1)
    val kept = deduped
      .withColumn("cum", coalesce(sum(col("n_words")).over(
        Window.partitionBy(k1).orderBy("rk")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("cum") < RagBudget)
      .withColumn("pos", row_number().over(Window.partitionBy(k1).orderBy("rk")))
    // (5) join Article metadata, format the context record
    kept.join(Tables.documents(spark, dir), "doc_id")
      .select(col("pos"), col("doc_id"), col("chunk_id"),
        col("n_hits"), col("n_words").as("n_tokens"),
        concat(lit("title: "), Props.title(col("text")),
          lit(" | date: "), Props.publishingDate(col("doc_id")),
          lit(" | url: "), Props.url(col("doc_id"), col("source")),
          lit(" | source: "), col("source"),
          lit(" | text: "), col("chunk_text")).as("context"))
      .orderBy("pos")
  }

  /** Chunks grouped per article (graph.py:142-148) for doc_id < 10;
    * chunk list flattened to a join-stable string.
    */
  def qChunksFromArticles(spark: SparkSession, dir: String): DataFrame =
    TextPipeline.chunks(spark, dir)
      .filter(col("doc_id") < 10)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        concat_ws(" | ", graft.functions.SortedField.sorted_field(
          collect_list(struct(col("chunk_id"), col("chunk_text"))), 1)).as("chunks_text"))
      .orderBy("doc_id")

  val ErTau = 0.5      // token-set Jaccard merge threshold
  val ErMaxTokDf = 20  // blocking-token document frequency cap (stop guard)

  /** Entity resolution: merge near-duplicate entity NAMES into one
    * canonical graph node per real-world entity — the graph-hygiene
    * pass the reference's per-label fuzzy index exists to serve
    * (graph.py:140-168 resolves query probes against stored names;
    * this resolves the stored names against each other). Same-label
    * names sharing a non-stop token pair up, token-set Jaccard ≥
    * ErTau verifies, and each name adopts the most-mentioned member
    * of its match set (ties → lexicographic min) as canonical.
    *
    * Scale shape: runs on the ENTITY DIM (≪ corpus), but still
    * engineered like a dedup: token blocking with a DF cap (a stop
    * token shared by 10⁵ entity names would otherwise form 10¹⁰
    * pairs), pair verification on short token arrays, and the
    * canonical pick as a struct-min aggregate — no rank window, no
    * all-pairs. One-hop resolution (no transitive closure): the
    * canonical of a name is decided by its own match set, which is
    * what keeps the operator a single bounded join chain.
    */
  def qEntityResolution(spark: SparkSession, dir: String): DataFrame = {
    val ents = TextPipeline.mentions(spark, dir)
      .groupBy(col("name"), col("label"))
      .agg(count(lit(1)).cast("long").as("n_mentions"))
      .barrier(false) // entity dim; read by blocking, scoring, and the report
    val toks = ents.select(col("name"), col("label"),
      explode(array_distinct(split(col("name"), " "))).as("tok"))
    val tokDf = toks.groupBy("tok", "label").agg(count(lit(1)).as("dfc"))
    val keep = toks.join(tokDf.filter(col("dfc") <= ErMaxTokDf)
      .select("tok", "label"), Seq("tok", "label"))
    val cand = keep.select(col("label"), col("tok"), col("name").as("name_a"))
      .join(keep.select(col("label"), col("tok"), col("name").as("name_b")),
        Seq("label", "tok"))
      .filter(col("name_a") < col("name_b"))
      .select("label", "name_a", "name_b")
      .distinct()
    val ver = cand
      .withColumn("sa", array_distinct(split(col("name_a"), " ")))
      .withColumn("sb", array_distinct(split(col("name_b"), " ")))
      .withColumn("i", size(array_intersect(col("sa"), col("sb"))).cast("double"))
      .filter(col("i") / (size(col("sa")) + size(col("sb")) - col("i")) >= ErTau)
      .select("label", "name_a", "name_b")
    val sym = ver.select(col("label"), col("name_a").as("name"), col("name_b").as("partner"))
      .unionByName(ver.select(col("label"), col("name_b").as("name"),
        col("name_a").as("partner")))
      .unionByName(ents.select(col("label"), col("name"), col("name").as("partner")))
    val canon = sym
      .join(ents.select(col("label"), col("name").as("partner"),
        col("n_mentions").as("pm")), Seq("label", "partner"))
      .groupBy("label", "name")
      .agg(min(struct((-col("pm")).as("np"), col("partner").as("p"))).as("b"))
      .select(col("label"), col("name"), col("b.p").as("canonical"))
    ents.join(canon, Seq("label", "name"))
      .select(col("name"), col("label"), col("n_mentions"), col("canonical"),
        (col("canonical") =!= col("name")).as("merged"))
      .orderBy("label", "name")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_entity_resolution" -> qEntityResolution,
    "q_article_topics" -> qArticleTopics,
    "q_graph_nodes" -> qGraphNodes,
    "q_graph_schema" -> qGraphSchema,
    "q_articles_mentioning" -> qArticlesMentioning,
    "q_sources_mentioning" -> qSourcesMentioning,
    "q_chunks_by_entities" -> qChunksByEntities,
    "q_entity_candidates" -> qEntityCandidates,
    "q_rag_context" -> qRagContext,
    "q_chunks_from_articles" -> qChunksFromArticles)

  private val P = TextPipeline.PipelineSql
  private val M = TextPipeline.MentionsSql

  val oracles: Map[String, String] = Map(
    "q_entity_resolution" ->
      s"""WITH $M,
         |ents AS MATERIALIZED (
         |  SELECT name, label, count(*) AS n_mentions
         |  FROM mentions GROUP BY name, label),
         |toks AS MATERIALIZED (
         |  SELECT name, label, unnest(list_distinct(string_split(name, ' '))) AS tok
         |  FROM ents),
         |tdf AS (SELECT tok, label, count(*) AS dfc FROM toks GROUP BY tok, label),
         |keep AS (SELECT t.* FROM toks t JOIN tdf USING (tok, label)
         |  WHERE dfc <= $ErMaxTokDf),
         |cand AS (
         |  SELECT DISTINCT a.label, a.name AS name_a, b.name AS name_b
         |  FROM keep a JOIN keep b
         |    ON a.tok = b.tok AND a.label = b.label AND a.name < b.name),
         |ver AS MATERIALIZED (
         |  SELECT label, name_a, name_b FROM (
         |    SELECT label, name_a, name_b,
         |      CAST(len(list_intersect(list_distinct(string_split(name_a, ' ')),
         |        list_distinct(string_split(name_b, ' ')))) AS DOUBLE) AS i,
         |      len(list_distinct(string_split(name_a, ' '))) AS la,
         |      len(list_distinct(string_split(name_b, ' '))) AS lb
         |    FROM cand)
         |  WHERE i / (la + lb - i) >= $ErTau),
         |sym AS (
         |  SELECT label, name_a AS name, name_b AS partner FROM ver
         |  UNION ALL SELECT label, name_b, name_a FROM ver
         |  UNION ALL SELECT label, name, name FROM ents),
         |sc AS MATERIALIZED (
         |  SELECT s.label, s.name, s.partner, e.n_mentions AS pm
         |  FROM sym s JOIN ents e ON e.name = s.partner AND e.label = s.label),
         |canon AS (
         |  SELECT label, name, min(partner) AS canonical FROM (
         |    SELECT label, name, partner, pm,
         |      max(pm) OVER (PARTITION BY label, name) AS mx FROM sc)
         |  WHERE pm = mx GROUP BY label, name)
         |SELECT e.name, e.label, CAST(e.n_mentions AS BIGINT) AS n_mentions,
         |  c.canonical, (c.canonical <> e.name) AS merged
         |FROM ents e JOIN canon c ON c.name = e.name AND c.label = e.label
         |ORDER BY e.label, e.name""".stripMargin,
    "q_article_topics" ->
      s"""WITH $M,
         |$ArticleTopicsSql
         |SELECT t.doc_id, t.topic, d.source AS author
         |FROM topics t JOIN documents d ON t.doc_id = d.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    "q_graph_nodes" ->
      s"""WITH $P,
         |$ArticleTopicsSql,
         |nodes AS (
         |  SELECT 'Article:' || doc_id AS uid, 'Article' AS label,
         |    CAST(doc_id AS VARCHAR) AS name,
         |    ${Props.TitleSql} AS title,
         |    ${Props.PublishingDateSql} AS publishing_date,
         |    ${Props.UrlSql} AS url,
         |    CAST(NULL AS VARCHAR) AS type,
         |    CAST(NULL AS VARCHAR) AS category,
         |    CAST(NULL AS BIGINT) AS section,
         |    CAST(NULL AS BIGINT) AS position
         |  FROM documents
         |  UNION ALL
         |  SELECT 'Chunk:' || doc_id || ':' || chunk_id, 'Chunk',
         |    CAST(chunk_id AS VARCHAR), NULL, NULL, NULL, NULL,
         |    ${Props.CategorySql}, ${Props.SectionSql},
         |    CAST(chunk_id AS BIGINT)
         |  FROM chunks
         |  UNION ALL
         |  SELECT 'Source:' || source, 'Source', source,
         |    NULL, NULL, ${Props.SourceUrlSql}, ${Props.SourceTypeSql},
         |    NULL, NULL, NULL
         |  FROM (SELECT DISTINCT source FROM documents WHERE source IS NOT NULL)
         |  UNION ALL
         |  SELECT el || ':' || name, el, name,
         |    NULL, NULL, NULL, NULL, NULL, NULL, NULL
         |  FROM (
         |    SELECT DISTINCT name, $EntityNodeLabelSql AS el FROM mentions)
         |  UNION ALL
         |  SELECT 'Person:' || source, 'Person', source,
         |    NULL, NULL, NULL, NULL, NULL, NULL, NULL
         |  FROM (SELECT DISTINCT source FROM documents WHERE source IS NOT NULL)
         |  UNION ALL
         |  SELECT 'Topic:' || topic, 'Topic', topic,
         |    NULL, NULL, NULL, NULL, NULL, NULL, NULL
         |  FROM (SELECT DISTINCT topic FROM topics))
         |SELECT uid, label, name, title, publishing_date, url, type,
         |  category, section, position
         |FROM nodes ORDER BY uid""".stripMargin,
    "q_graph_schema" ->
      s"""WITH $P,
         |$ArticleTopicsSql
         |SELECT 'node' AS kind, 'Article' AS label, count(*) AS cnt FROM documents
         |UNION ALL SELECT 'node', 'Chunk', count(*) FROM chunks
         |UNION ALL SELECT 'node', 'Source', count(DISTINCT source) FROM documents
         |UNION ALL SELECT 'node', 'Person', count(*) FROM (
         |  SELECT name FROM mentions WHERE label = 'person'
         |  UNION SELECT source FROM documents WHERE source IS NOT NULL)
         |UNION ALL SELECT 'node', el, count(*) FROM
         |  (SELECT DISTINCT name, $EntityNodeLabelSql AS el FROM mentions
         |   WHERE label <> 'person') GROUP BY el
         |UNION ALL SELECT 'node', 'Topic', count(DISTINCT topic) FROM topics
         |UNION ALL SELECT 'rel', 'CONTAINS', count(*) FROM chunks
         |UNION ALL SELECT 'rel', 'MENTIONS', count(*) FROM mentions
         |UNION ALL SELECT 'rel', 'PUBLISHED', count(*) FROM documents
         |UNION ALL SELECT 'rel', 'AUTHORED', count(*) FROM documents
         |UNION ALL SELECT 'rel', 'HAS_TOPIC', count(*) FROM topics
         |ORDER BY kind, label""".stripMargin,
    "q_articles_mentioning" ->
      s"""WITH $M
         |SELECT doc_id, source FROM (
         |  SELECT DISTINCT doc_id FROM mentions WHERE name IN ('customer','spark'))
         |JOIN documents USING (doc_id)
         |ORDER BY doc_id LIMIT 10""".stripMargin,
    "q_sources_mentioning" ->
      s"""WITH $M
         |SELECT count(DISTINCT source) AS n_sources FROM (
         |  SELECT DISTINCT doc_id FROM mentions WHERE name = 'spark')
         |JOIN documents USING (doc_id)""".stripMargin,
    "q_chunks_by_entities" ->
      s"""WITH $P,
         |hitkeys AS (
         |  SELECT DISTINCT doc_id, chunk_id FROM mentions WHERE name = 'customer'
         |  UNION
         |  SELECT DISTINCT doc_id, chunk_id FROM mentions WHERE name = 'spark')
         |SELECT doc_id, chunk_id, chunk_text
         |FROM chunks JOIN hitkeys USING (doc_id, chunk_id)
         |ORDER BY doc_id, chunk_id LIMIT 10""".stripMargin,
    "q_rag_context" ->
      s"""WITH $P,
         |probes(probe, plabel) AS (VALUES ${RagProbes.map { case (p, l) => s"('$p','$l')" }.mkString(", ")}),
         |names AS (SELECT DISTINCT name, $EntityNodeLabelSql AS label FROM mentions),
         |scored AS (
         |  SELECT probe, name,
         |    round(
         |      0.5 * (len(list_filter(list_distinct(string_split(probe, ' ')),
         |          w -> list_contains(list_distinct(string_split(name, ' ')), w)))
         |        / CAST(len(list_distinct(list_concat(string_split(probe, ' '),
         |            string_split(name, ' ')))) AS DOUBLE))
         |    + 0.5 * (1.0 - levenshtein(probe, name) /
         |        CAST(greatest(length(probe), length(name)) AS DOUBLE)), 6) AS score
         |  FROM names JOIN probes ON label = plabel),
         |resolved AS MATERIALIZED (
         |  SELECT DISTINCT name FROM (
         |    SELECT name, row_number() OVER (PARTITION BY probe
         |      ORDER BY score DESC, name) AS rk FROM scored)
         |  WHERE rk = 1),
         |rh AS (
         |  SELECT m.doc_id, m.chunk_id, count(DISTINCT m.name) AS n_hits
         |  FROM mentions m JOIN resolved r ON m.name = r.name
         |  GROUP BY m.doc_id, m.chunk_id),
         |ranked AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT h.doc_id, h.chunk_id, h.n_hits, c.chunk_text,
         |      CAST(c.n_words AS BIGINT) AS n_words,
         |      row_number() OVER (ORDER BY h.n_hits DESC, h.doc_id, h.chunk_id) AS rk
         |    FROM rh h JOIN chunks c USING (doc_id, chunk_id))
         |  WHERE rk <= $RagK),
         |dd AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY md5(chunk_text)
         |      ORDER BY rk) AS dn FROM ranked)
         |  WHERE dn = 1),
         |kept AS (
         |  SELECT *, row_number() OVER (ORDER BY rk) AS pos FROM (
         |    SELECT *, coalesce(sum(n_words) OVER (ORDER BY rk
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |    FROM dd)
         |  WHERE cum < $RagBudget)
         |SELECT pos, doc_id, chunk_id, n_hits, n_words AS n_tokens,
         |  'title: ' || ${Props.TitleSql} ||
         |  ' | date: ' || ${Props.PublishingDateSql} ||
         |  ' | url: ' || ${Props.UrlSql} ||
         |  ' | source: ' || source || ' | text: ' || chunk_text AS context
         |FROM kept JOIN documents USING (doc_id)
         |ORDER BY pos""".stripMargin,
    "q_entity_candidates" ->
      s"""WITH $M,
         |probes(probe, plabel) AS (VALUES ${CandidateProbes.map { case (p, l) => s"('$p','$l')" }.mkString(", ")}),
         |names AS (SELECT DISTINCT name, $EntityNodeLabelSql AS label FROM mentions),
         |scored AS (
         |  SELECT probe, name, label,
         |    round(
         |      0.5 * (len(list_filter(list_distinct(string_split(probe, ' ')),
         |          w -> list_contains(list_distinct(string_split(name, ' ')), w)))
         |        / CAST(len(list_distinct(list_concat(string_split(probe, ' '),
         |            string_split(name, ' ')))) AS DOUBLE))
         |    + 0.5 * (1.0 - levenshtein(probe, name) /
         |        CAST(greatest(length(probe), length(name)) AS DOUBLE)), 6) AS score
         |  FROM names JOIN probes ON label = plabel)
         |SELECT probe, name, label, score, rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY probe
         |    ORDER BY score DESC, name) AS rk FROM scored)
         |WHERE rk <= $CandidateLimit ORDER BY probe, rk""".stripMargin,
    "q_chunks_from_articles" ->
      s"""WITH ${TextPipeline.ChunksSql}
         |SELECT doc_id, count(*) AS n_chunks,
         |  string_agg(chunk_text, ' | ' ORDER BY chunk_id) AS chunks_text
         |FROM chunks WHERE doc_id < 10
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
