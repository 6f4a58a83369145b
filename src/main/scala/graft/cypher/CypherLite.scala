package graft.cypher

import graft.Ckpt.BarrierOps
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.util.matching.Regex

import graft.{Overlap, Tables}
import graft.graph.{Loops, NewsGraph, Props}
import graft.operators.TextPipeline

/** CypherLite: a compiler for the linear-path Cypher subset that the
  * reference's LLM emits (chat.py CYPHER_GENERATION_TEMPLATE examples
  * 1-3) onto DataFrame join pipelines.
  *
  * Supported grammar (one line, case-sensitive keywords):
  *   query      := [unwind] match [where] [with] return [orderby] [skip] [limit]
  *                 | query UNION [ALL] query  -- UNION dedups, ALL
  *                   keeps duplicates (mixing the two forms throws)
  *   unwind     := UNWIND ['a','b',...] AS alias  -- literal list; the
  *                 alias joins via a WHERE `v.prop = alias` predicate
  *                 (broadcast relation, one output row per list match)
  *   match      := MATCH [p =] pattern (, pattern)*
  *                 [OPTIONAL MATCH pattern (, pattern)*]*  -- left-
  *                 outer hops anchored on a bound variable; `p =`
  *                 (round 11) binds the FIRST fixed-shape pattern as
  *                 a path variable: RETURN p renders the interleaved
  *                 node-rel path value, length(p)/nodes(p) the hop
  *                 count / uid sequence — all pure column
  *                 expressions (var-length hops refuse; the
  *                 shortestPath forms own those)
  *   pattern    := (v[:Label])(-[[r]:REL[|REL2...][*a..b]]->(v[:Label]))*
  *                 -- bare (v) re-binds a variable labeled in another
  *                 pattern, or (if labeled nowhere) binds uid-only
  *                 from the edge column; r binds the relationship
  *                 (r.prop readable: MENTIONS start_pos/n_tokens/
  *                 n_mentions, CO_OCCURS weight; type(r) always);
  *                 :A|B is the multi-type union; *a..b is a
  *                 variable-length hop (0 <= a <= b <= 3; a=0 is the
  *                 self-inclusive neighborhood, requiring a bound
  *                 start) with Cypher semantics: one output row PER
  *                 PATH, and a relationship may not repeat within a
  *                 path.
  *                 Round 11: :A|B composes with *a..b (per-step type
  *                 union), and `-[r:R*a..b]->` binds r as the path's
  *                 relationship LIST — readable ONLY through per-edge
  *                 WHERE filters (`r.prop <op> n` shorthand or
  *                 `ALL(x IN r WHERE x.prop <op> n)`), which apply to
  *                 the edge table BEFORE expansion; projecting r, or
  *                 combining a variable with a multi-type var-length
  *                 hop, refuses loudly
  *   where      := WHERE term (AND term)*
  *   term       := pred (OR pred)*        -- AND binds tighter (Cypher)
  *   pred       := v.prop IN ['a','b'] | v.prop = 'a'
  *                 | v.prop <> 'a' | v.prop < n ...
  *                 | v.prop CONTAINS|STARTS WITH|ENDS WITH 'a'
  *                 | toLower(v.prop) CONTAINS|STARTS WITH|ENDS WITH|=|<> 'a'
  *                 | v.prop =~ 'regex'  -- anchored (Cypher semantics)
  *                 | v.prop <|<=|>|>= 'str'  -- lexicographic (the
  *                   ISO-date-string range idiom)
  *                 | [exists(](v)-[:REL]->(:Label [{prop:'x'}])[)]
  *                 | EXISTS { (v)-[:REL]->(:Label [{prop:'x'}]) }
  *                   -- semi-join (fn or Neo4j-5 brace form);
  *                   top-level AND conjunct only
  *                 | [NOT] EXISTS { MATCH pattern (, pattern)*
  *                   [WHERE term (AND term)*] }  -- FULL existential
  *                   subquery (round 10): body compiles as its own
  *                   pipeline, correlated by shared variable names,
  *                   semi/anti-joined; top-level AND conjunct only.
  *                   Round 11: the MATCH keyword is optional (the
  *                   Neo4j-5 bare-pattern shorthand) for EXISTS and
  *                   COUNT bodies alike, in WHERE gates and RETURN
  *                   items — multi-hop, WHERE-carrying, and
  *                   var-length bodies included; the round-9
  *                   single-hop inline-prop forms keep their
  *                   dedicated semi/anti fast path
  *                 | COUNT { MATCH … [WHERE …] } <op> n  -- COUNT
  *                   subquery comparison (round 10): grouped body
  *                   count LEFT OUTER joined (absent → 0), filtered;
  *                   top-level AND conjunct of a WHERE (head or WITH
  *                   stage). Also a RETURN item: COUNT { MATCH … }
  *                   [AS x] — a per-row scalar, grouping key beside
  *                   aggregates
  *                 | size((v)-[:R]->([:Label])) [<op> n]  -- the
  *                   Neo4j-4 pattern-count spelling; same CountSub
  *                   compilation (WHERE gate and RETURN item forms)
  *                 | NOT pred  -- plain boolean negation (numeric <>
  *                   also accepted directly: v.prop <> n)
  *                 | NOT (v)-[:REL]->(:Label [{prop:'x'}])  -- anti-join;
  *                   top-level AND conjunct only
  *                 | v[.prop] IS [NOT] NULL  -- bare v checks its uid;
  *                   the OPTIONAL MATCH anti-join idiom
  *   with       := (WITH DISTINCT v
  *                 | WITH witem (, witem)* [WHERE term (AND term)*]
  *                   [ORDER BY key [ASC|DESC] (, …)*] [LIMIT n]
  *                   [MATCH pattern (, pattern)* [WHERE term …]]
  *                   -- the two-phase expand: fresh variables only,
  *                   joined back on a `v.prop = alias` equality
  *                   (without one the stage is a refused cartesian))*
  *                 -- pipeline stages CHAIN: each WITH re-groups the
  *                 previous stage's output; bare aliases introduced by
  *                 one stage are grouping vars / aggregate inputs /
  *                 predicates of later stages; a stage's WHERE is
  *                 Cypher's HAVING; ORDER BY+LIMIT is the mid-pipeline
  *                 top-N (compiled as TakeOrdered, never a full sort)
  *   witem      := v | v.prop [AS alias] | count/collect/sum as in
  *                 item (sum over a carried alias: sum(n) AS total)
  *   return     := RETURN [DISTINCT] item (, item)*
  *   item       := type(r) [AS alias] | labels(v) [AS alias]
  *                 | CASE WHEN pred THEN lit ... [ELSE lit] END [AS a]
  *                 | v.prop [AS alias]
  *                 | count([DISTINCT] v[.prop]|*) [AS alias]
  *                 | size(collect([DISTINCT] v[.prop])) [AS alias]
  *                   -- ≡ count (collect skips nulls)
  *                 | coalesce(v.prop, 'd'|n) [AS alias]  -- OPTIONAL
  *                   MATCH null-fill; groups like a plain prop
  *                 | collect([DISTINCT] v[.prop]) [AS alias]
  *                 | min/max/avg(v[.prop]) [AS alias]  -- avg rounded
  *                   to 6 decimals (summation-order determinism)
  *                 | v{.prop, key: w.prop, ...} [AS alias]  -- map
  *                   projection, emitted as a compact JSON string
  *                 | 'lit' + v.prop + ... [AS alias]  -- string
  *                   concatenation (round 10); literals carry \n/\t
  *                   escapes, props concatenate as strings; groups
  *                   like a plain prop
  *                 -- aggregates group implicitly by the plain props
  *   orderby    := ORDER BY key [ASC|DESC] (, key [ASC|DESC])*
  *                 where key := v.prop | bare-alias | count(…) |
  *                 sum(…) | min/max/avg(…) | size(collect(…)) --
  *                 aggregate keys resolve to the matching RETURN
  *                 aggregate; unrecognized keys throw (never silently
  *                 unsorted)
  *   skip       := SKIP n   -- after ORDER BY, before LIMIT (pagination)
  *   limit      := LIMIT n
  *
  * Outside the linear grammar, `run` dispatches in order: the CALL
  * forms, the path front, then the linear grammar.
  *   - CALL db.index.fulltext.queryNodes(idx, q, {limit:k}) YIELD
  *     node, score RETURN … — the reference serving loop's literal
  *     entity lookup (runFulltext, round 9); round 11 extends idx to
  *     the TEXT indexes chunkText/articleTitle (BM25 scoring,
  *     GraphMeta.ftIndexes)
  *   - CALL db.index.vector.queryNodes(idx, k, $embedding) YIELD node,
  *     score WITH node AS v, score MATCH … — the vector retrieval
  *     (runVector, round 10)
  *   - CALL { vector CALL … UNION fulltext CALL … } WITH node,
  *     max(score) … — the literal HYBRID retrieval composition
  *     langchain issues for search_type='hybrid' (runHybrid, round 11)
  *   - the path front: every `MATCH p = shortestPath(…)` or
  *     `MATCH p = allShortestPaths(…)` text parses (parsePathCall) into
  *     one PathCall — `(a:L {name:'x'})-[:R*1..hi]-(b:L {name:'y'})`
  *     plus RETURN items `f(p) AS alias` or a bare `p` — or throws.
  *     compilePath checks the path variable, the bounds and wlength's
  *     relationship once, then takes the kernel by the function and
  *     the set of item functions; columns follow the written RETURN
  *     order. Any other set throws, listing the supported ones:
  *
  *     | function         | items                         | kernel                                  |
  *     | ---------------- | ----------------------------- | --------------------------------------- |
  *     | shortestPath     | length                        | Loops.relaxMin, unit length             |
  *     | shortestPath     | wlength                       | Loops.relaxMin, cost 1000000 div weight |
  *     | shortestPath     | length, nodes                 | witnessPathOn                           |
  *     | shortestPath     | p                             | spPathValue over witnessPathArr         |
  *     | shortestPath     | wlength, nodes, relationships | weightedWitnessOn                       |
  *     | allShortestPaths | length, count                 | aspCount: bfsFrom(countPaths = true)    |
  *     | allShortestPaths | length, count, nodes          | aspPathsOn                              |
  *
  *   - date(…)/datetime(…) predicate wrappers unwrap to the
  *     equivalent ISO-string compare (unwrapTemporal, round 9)
  *
  * The LLM that *writes* the Cypher stays external (as in the
  * reference); this module is the engine that executes it. Each edge
  * hop is an equi-join on uid keys — Catalyst broadcasts the tiny
  * entity side and reorders freely, which is exactly why the graph is
  * stored relationally. A variable the hop reaches then joins its node
  * table, unless that join cannot change the result; it binds from
  * the edge row (uid, plus the properties that are functions of its
  * key) when (1) its label is the hop's fixed endpoint label, (2) that
  * label's node table is unique per uid and holds every endpoint its
  * edges emit, and (3) every property the query reads of it derives
  * from the key (or, for Chunk, none is read). Article always joins: a
  * repeated doc_id repeats its uid, and the join keeps that
  * multiplicity. See GraphMeta.rowProps and compile's rowBound.
  */
object CypherLite {

  // ---------- graph schema: node + edge tables ----------

  /** Node table for a label: `uid` + properties. */
  def nodes(spark: SparkSession, dir: String, label: String): DataFrame = label match {
    case "Article" =>
      // reference property names (graph.py:31-42): title,
      // publishing_date, language, url — derived via Props; `lang`
      // kept as a legacy alias
      Tables.documents(spark, dir).select(
        concat(lit("Article:"), col("doc_id")).as("uid"),
        col("doc_id"), col("source"), col("lang"),
        col("lang").as("language"),
        Props.title(col("text")).as("title"),
        Props.publishingDate(col("doc_id")).as("publishing_date"),
        Props.url(col("doc_id"), col("source")).as("url"))
    case "Chunk" =>
      // schema.py:17-32: text, category, section, position
      TextPipeline.chunks(spark, dir).select(
        concat(lit("Chunk:"), col("doc_id"), lit(":"), col("chunk_id")).as("uid"),
        col("chunk_text").as("text"),
        col("chunk_id").as("position"),
        Props.category(col("chunk_id")).as("category"),
        Props.section(col("chunk_id")).as("section"))
    case "Source" =>
      // graph.py:74: Source carries name + type + url — without them
      // an LLM-written `WHERE s.type = 'news_map'` / `RETURN s.url`
      // cannot run; derived from the name via GraphMeta.rowProps
      keyNodes(label, Tables.documents(spark, dir).select(col("source")))
    case "Person" =>
      // gazetteer persons ∪ author-persons (publisher fallback,
      // crawler.py:44) — both carry the Person label in the reference
      keyNodes(label, TextPipeline.mentions(spark, dir)
        .filter(col("label") === "person").select(col("name"))
        .union(Tables.documents(spark, dir).select(col("source"))))
    case "Organization" | "Location" =>
      keyNodes(label, TextPipeline.mentions(spark, dir)
        .filter(col("label") === label.toLowerCase).select(col("name")))
    case "Topic" =>
      keyNodes(label, NewsGraph.qArticleTopics(spark, dir).select(col("topic")))
    case "Entity" =>
      // label-agnostic entity view — the node set of the CO_OCCURS graph
      keyNodes(label, TextPipeline.mentions(spark, dir).select(col("name")))
    case other => throw new IllegalArgumentException(s"unknown node label $other")
  }

  /** The node table of a label whose properties all derive from its
    * key: one row per distinct non-NULL key (the one column of `keys`;
    * Neo4j makes no node for a NULL key), its uid `<label>:<key>` and
    * GraphMeta.rowProps' properties.
    */
  private def keyNodes(label: String, keys: DataFrame): DataFrame = {
    val k = col(keys.columns.head)
    keys.filter(k.isNotNull).distinct().select(concat(lit(s"$label:"), k).as("uid") +:
      GraphMeta.rowProps(label).map { case (p, f) => f(k).as(p) }: _*)
  }

  /** Edge table for a relationship type: (src_uid, dst_uid).
    * dstLabel disambiguates MENTIONS (entity label in the uid).
    */
  def edges(spark: SparkSession, dir: String, rel: String, dstLabel: String): DataFrame =
    keyedEdges(spark, dir, rel, dstLabel).select("src_uid", "dst_uid")

  /** edges() plus the raw key of each endpoint whose label derives
    * properties from it (GraphMeta.rowProps) — `src_key` / `dst_key`,
    * the value after the uid's `<label>:` prefix. A hop that binds an
    * endpoint from its edge row reads those properties off the key
    * column, so a filter on them still reaches the scan.
    */
  private def keyedEdges(spark: SparkSession, dir: String, rel: String,
      dstLabel: String): DataFrame = rel match {
    case "CONTAINS" =>
      TextPipeline.chunks(spark, dir).select(
        concat(lit("Article:"), col("doc_id")).as("src_uid"),
        concat(lit("Chunk:"), col("doc_id"), lit(":"), col("chunk_id")).as("dst_uid"))
    case "MENTIONS" =>
      // deduplicated on the name, not the uid: the uid is the name
      // under a fixed prefix, and the name is the shorter key
      TextPipeline.mentions(spark, dir)
        .filter(col("label") === dstLabel.toLowerCase)
        .select(
          concat(lit("Chunk:"), col("doc_id"), lit(":"), col("chunk_id")).as("src_uid"),
          col("name").as("dst_key"))
        .distinct()
        .select(col("src_uid"), concat(lit(s"$dstLabel:"), col("dst_key")).as("dst_uid"),
          col("dst_key"))
    case "PUBLISHED" =>
      Tables.documents(spark, dir).select(
        concat(lit("Source:"), col("source")).as("src_uid"),
        concat(lit("Article:"), col("doc_id")).as("dst_uid"),
        col("source").as("src_key"))
    case "AUTHORED" =>
      Tables.documents(spark, dir).select(
        concat(lit("Person:"), col("source")).as("src_uid"),
        concat(lit("Article:"), col("doc_id")).as("dst_uid"),
        col("source").as("src_key"))
    case "HAS_TOPIC" =>
      NewsGraph.qArticleTopics(spark, dir).select(
        concat(lit("Article:"), col("doc_id")).as("src_uid"),
        concat(lit("Topic:"), col("topic")).as("dst_uid"),
        col("topic").as("dst_key"))
    case "CO_OCCURS" =>
      // undirected co-mention graph (Analytics.cooccur), stored as the
      // both-direction edge list so `->` traversal is undirected
      graft.graph.Analytics.edges(spark, dir).select(
        concat(lit("Entity:"), col("src")).as("src_uid"),
        concat(lit("Entity:"), col("dst")).as("dst_uid"),
        col("src").as("src_key"), col("dst").as("dst_key"))
    case other => throw new IllegalArgumentException(s"unknown relationship $other")
  }

  /** Edge table WITH relationship properties + a `type` tag, for hops
    * that bind a relationship variable (`-[r:R]->` … `r.weight`).
    * Property-bearing relationships:
    *   - MENTIONS: start_pos / n_tokens / n_mentions — the mention
    *     positions graph.py:96-131 merges onto the edge, aggregated to
    *     one edge per (chunk, entity) so the edge SET matches the
    *     plain table exactly (first span position, total span tokens,
    *     span count);
    *   - CO_OCCURS: weight (co-mention count, Analytics.cooccur) —
    *     "how strongly are X and Y connected".
    * Every other type carries just the tag (type(r) stays readable).
    * Endpoint key columns ride as in keyedEdges.
    */
  def edgesWithProps(spark: SparkSession, dir: String, rel: String,
      dstLabel: Option[String]): DataFrame = rel match {
    case "MENTIONS" =>
      val lbl = dstLabel.getOrElse(throw new IllegalArgumentException(
        "MENTIONS needs a labeled destination"))
      TextPipeline.mentions(spark, dir)
        .filter(col("label") === lbl.toLowerCase)
        .groupBy(col("doc_id"), col("chunk_id"), col("name"))
        .agg(min(col("start_pos")).as("start_pos"),
          sum(col("n_tokens")).as("n_tokens"),
          count(lit(1)).as("n_mentions"))
        .select(
          concat(lit("Chunk:"), col("doc_id"), lit(":"), col("chunk_id")).as("src_uid"),
          concat(lit(lbl), lit(":"), col("name")).as("dst_uid"),
          col("name").as("dst_key"),
          lit("MENTIONS").as("type"),
          col("start_pos"), col("n_tokens"), col("n_mentions"))
    case "CO_OCCURS" =>
      graft.graph.Analytics.edges(spark, dir).select(
        concat(lit("Entity:"), col("src")).as("src_uid"),
        concat(lit("Entity:"), col("dst")).as("dst_uid"),
        col("src").as("src_key"), col("dst").as("dst_key"),
        lit("CO_OCCURS").as("type"), col("weight"))
    case other =>
      keyedEdges(spark, dir, other, dstLabel.getOrElse(""))
        .withColumn("type", lit(other))
  }

  /** Variable-length expansion `*lo..hi` of an edge table, unrolled to
    * a union of fixed-length compositions — one row per PATH (Cypher's
    * row semantics), with Cypher's relationship-uniqueness rule
    * encoded as midpoint inequalities. Bounded hi (≤3) keeps the
    * unrolled plan a fixed join chain the optimizer can reorder; each
    * composition is an equi-join on a midpoint uid, and the 3-hop leg
    * EXTENDS the shared 2-hop frame instead of recomposing it.
    *
    * SCOPE: the uniqueness inequalities assume a SYMMETRIC (both-
    * direction) self-loop-free edge layer — true for CO_OCCURS, and
    * vacuous for the bipartite rels (their compositions are empty).
    * A future cyclic DIRECTED relationship would need e1≠e3 tracked
    * as edge identity, not endpoint inequality: Cypher allows a→b→a
    * over two distinct directed rels, which dst≠origin wrongly drops.
    *
    * `seed` (the already-bound-and-filtered source frontier, when the
    * hop starts at a bound variable) restricts the FIRST leg of every
    * composition BEFORE composing — expansion is O(frontier·deg^L)
    * instead of O(E^L). Without it an anchored `(e {name:'x'})-[*1..2]`
    * would enumerate every 2-path in the graph and throw all but the
    * seed's away at the final join (Neo4j anchors the same way through
    * its label/property index).
    */
  private def varLenExpand(e0: DataFrame, lo: Int, hi: Int,
      seed: Option[DataFrame]): DataFrame = {
    require(lo >= 0 && lo <= hi && hi <= 3, s"unsupported var-length bounds *$lo..$hi")
    if (lo == 0) {
      // `*0..b` (round 11): the ZERO-length leg binds the node to
      // itself (Neo4j's "within b hops, including the node"). It
      // exists only relative to an already-matched source set, so the
      // hop must start at a bound variable — the identity pairs come
      // from the seed frontier, and any per-edge filters are vacuous
      // over the empty relationship list (ALL() on [] is true).
      val s = seed.getOrElse(throw new IllegalArgumentException(
        "*0.. var-length hops must start at a bound variable " +
          "(the zero-length leg binds the matched node to itself)"))
      val id = s.select(col("src_uid"), col("src_uid").as("dst_uid"))
      return if (hi == 0) id else id.unionByName(varLenExpand(e0, 1, hi, seed))
    }
    // The edge table is referenced by several plan branches below
    // (seeded first leg, the legs of each composition); without
    // a barrier each reference re-executes the whole upstream pipeline
    // (mentions → co-occur for CO_OCCURS). Round 11: the barrier is
    // EAGER exactly when the table is referenced from more than one
    // branch of the final union (hi ≥ 2) — a lazy checkpoint's first
    // materialization happens INSIDE the consuming job, where the
    // union's branches run as concurrent stages and each computes the
    // un-materialized pipeline for itself (measured on q_cypher_ex41:
    // ~16 s of task CPU for a plan whose edge build costs ~5 s once).
    // 1-hop-only expansions keep the lazy barrier: single reference,
    // no extra job.
    val e0c = if (hi >= 2) e0.barrier() else e0.barrier(false)
    val e0s = seed.fold(e0c)(s => e0c.join(s, Seq("src_uid"), "left_semi"))
    // the far end's columns (dst_uid, and dst_key when the hop binds
    // its far end from the edge row) ride every leg as m2_* midpoints
    val far = e0.columns.filter(_.startsWith("dst_")).toSeq
    def farAt(from: String, to: String) =
      far.map(c => col(c.replaceFirst("dst_", from)).as(c.replaceFirst("dst_", to)))
    // the 2-hop frame (midpoint retained) is shared by legs 2 and 3 —
    // lazy val, so *1..1 never builds it; eager ONLY when both legs
    // actually read it (lo ≤ 2 AND hi = 3 — for *3..3 leg 3 is the
    // sole consumer and eagerness would pay an extra job for nothing),
    // same shared-branch rule as e0c
    lazy val hop2 = e0s.select(col("src_uid"), col("dst_uid").as("m1_uid"))
      .join(e0c.select(col("src_uid").as("m1_uid") +: farAt("dst_", "m2_"): _*), "m1_uid")
      .filter(col("m2_uid") =!= col("src_uid"))
      .barrier(lo <= 2 && hi == 3)
    val legs = (lo to hi).map {
      case 1 => e0s
      case 2 => hop2.select(col("src_uid") +: farAt("m2_", "dst_"): _*)
      // length-3 relationship-uniqueness (Cypher: a rel may not repeat
      // in a path) reduces to two inequalities because the edge table
      // carries no self-loops: e2≠e1 ⇔ m2≠src, e3≠e2 ⇔ dst≠m1, and
      // e3=e1 would force m2=src (already excluded)
      case 3 => hop2
        .join(e0c.select(col("src_uid").as("m2_uid") +: far.map(col): _*), "m2_uid")
        .filter(col("dst_uid") =!= col("m1_uid"))
        .select(("src_uid" +: far).map(col): _*)
    }
    legs.reduce(_ unionByName _)
  }

  // ---------- AST ----------

  /** label=None is a re-binding of a variable labeled elsewhere in the
    * MATCH (Cypher's `(c)` in a second comma-pattern) — or, when no
    * pattern labels it at all, a uid-only variable whose rows come
    * entirely from the edge table (the `(a)-[r:A|B]->(x)` idiom).
    */
  case class NodePat(v: String, label: Option[String],
    inlineProp: Option[(String, String)] = None)
  /** One relationship hop: `-[r:R]->` binds variable r (its properties
    * and type(r) become readable), `[:A|B]` matches any of the listed
    * types (Cypher multi-type union), `<-[:R]-` is reversed, varLen =
    * Some((lo, hi)) for `-[:R*lo..hi]->`.
    */
  case class RelPat(variable: Option[String], types: Seq[String],
    reversed: Boolean, varLen: Option[(Int, Int)])
  case class PathPat(nodes: Seq[NodePat], rels: Seq[RelPat])
  sealed trait Pred
  case class InPred(v: String, prop: String, values: Seq[String]) extends Pred
  case class EqPred(v: String, prop: String, value: String) extends Pred
  /** `v.prop = alias` — RHS is a bare column (an UNWIND alias). */
  case class EqColPred(v: String, prop: String, ref: String) extends Pred
  /** `v.prop <> 'x'` — Cypher inequality (null-safe: NULL props drop). */
  case class NeqPred(v: String, prop: String, value: String) extends Pred
  /** `v.prop CONTAINS|STARTS WITH|ENDS WITH 'x'` — Cypher string
    * predicates (the fuzzy-ish filters LLM-written entity queries
    * lean on).
    */
  case class StrPred(v: String, prop: String, op: String, value: String) extends Pred
  /** `toLower(v.prop) CONTAINS|STARTS WITH|ENDS WITH|=|<> 'x'` — the
    * case-insensitive matching idiom LLM-written queries emit
    * constantly; compiled as lower(col) against the literal as
    * written (the caller lowercases the literal, as Cypher users do).
    */
  case class LowerPred(v: String, prop: String, op: String, value: String) extends Pred
  /** `v.prop =~ 'regex'` — Cypher regex predicate, compiled to rlike
    * (Spark's Java-regex find-anywhere... both sides are Java regex
    * dialects; rlike is unanchored while Cypher `=~` is anchored, so
    * the pattern is wrapped in ^…$ to keep Cypher semantics).
    */
  case class RegexPred(v: String, prop: String, pattern: String) extends Pred
  /** `v.prop >= 'str'` — lexicographic string comparison, the idiom
    * LLMs emit for date-string ranges (`a.publishing_date >=
    * '2024-01-01'`; ISO-8601 orders correctly as text).
    */
  case class StrCmpPred(v: String, prop: String, op: String,
    value: String) extends Pred
  /** Positive pattern predicate `(v)-[:REL]->(:Label [{prop:'x'}])`,
    * bare or `exists(...)`-wrapped — Cypher's "has such an edge",
    * compiled as a LEFT SEMI join (the dual of [[NotPatPred]]'s
    * anti-join); top-level AND conjunct only, like its dual.
    */
  case class ExistsPatPred(v: String, rel: String, dstLabel: String,
    dstProp: Option[(String, String)]) extends Pred
  /** `NOT (v)-[:REL]->(:Label [{prop:'x'}])` — negative pattern
    * predicate (Cypher's "has no such edge"), compiled as a LEFT ANTI
    * join of the bound rows against the hop — the anti-join shape of
    * "articles that do NOT mention X". Top-level AND conjuncts only.
    */
  case class NotPatPred(v: String, rel: String, dstLabel: String,
    dstProp: Option[(String, String)]) extends Pred
  /** `[NOT] EXISTS { MATCH <patterns> [WHERE <preds>] }` — the FULL
    * Neo4j-5 existential subquery (round 10; the braces previously
    * accepted only bare-pattern bodies). The body compiles as its own
    * join pipeline and the outer rows LEFT SEMI (or ANTI) join it on
    * the variables the body shares with the outer MATCH — Cypher's
    * correlation-by-name scoping. Top-level AND conjunct of the head
    * WHERE or of a WITH-stage WHERE (the correlated variable must be
    * carried through the stage); body variables must be named (the
    * MATCH grammar).
    */
  case class ExistsSubPred(paths: Seq[PathPat], preds: Seq[Pred],
    negated: Boolean) extends Pred
  /** `COUNT { MATCH <patterns> [WHERE <preds>] } <op> n` — the
    * Neo4j-5 COUNT subquery as a WHERE comparison ("articles with at
    * least 4 chunks"). The body compiles like [[ExistsSubPred]]'s,
    * grouped to a per-shared-binding match count, LEFT OUTER joined
    * (absent → 0), and filtered — one row per outer row, never a
    * fan-out. Top-level AND conjunct of the head WHERE or of a
    * WITH-stage WHERE.
    */
  case class CountSubPred(paths: Seq[PathPat], preds: Seq[Pred],
    op: String, n: Long) extends Pred
  /** `v [IS NOT NULL | IS NULL]` / `v.prop IS [NOT] NULL` — the
    * OPTIONAL-MATCH anti-join idiom (`OPTIONAL MATCH …(p) WHERE p IS
    * NULL`). A bare variable checks its uid column. Like every WHERE
    * pred in this subset, it applies AFTER all pattern joins — which
    * is exactly what makes the idiom work on optional hops.
    */
  case class IsNullPred(v: String, prop: Option[String], negated: Boolean) extends Pred
  case class NumPred(v: String, prop: String, op: String, value: Long) extends Pred
  /** Disjunction of simple comparisons (`x = 'a' OR x = 'b'`). AND
    * binds tighter in Cypher; this subset allows OR only between
    * simple predicates inside one AND-conjunct (no parens), which is
    * the shape LLM-generated queries use.
    */
  case class OrPred(preds: Seq[Pred]) extends Pred
  /** `NOT <simple-pred>` — plain boolean negation (the pattern form
    * stays [[NotPatPred]]'s anti-join; this wraps everything else an
    * LLM writes as `NOT a.lang = 'de'`).
    */
  case class NotPred(p: Pred) extends Pred
  sealed trait RetItem
  case class PropItem(v: String, prop: String, alias: Option[String] = None) extends RetItem
  /** count(v) / count(v.prop) / count(*) / count(DISTINCT …) — prop
    * form counts non-null property values (Cypher semantics; also the
    * compile target of `size(collect(…))`, which is count by
    * definition since collect skips nulls).
    */
  case class CountItem(v: String, distinct: Boolean = false,
    alias: Option[String] = None, prop: Option[String] = None) extends RetItem
  /** collect(v) gathers node uids, collect(v.prop) gathers values;
    * flattened to a sorted ' | '-joined string (Neo4j's list order is
    * unspecified, so the sorted form is the deterministic analogue).
    */
  case class CollectItem(v: String, prop: Option[String] = None,
    alias: Option[String] = None, distinct: Boolean = false) extends RetItem
  /** Property-map projection `v{.p1, key: w.p2}` (vector_index.ipynb
    * retrieval query's `chunk{.position, ..., date: a.publishing_date}`)
    * — compiles to a compact JSON string (to_json over a struct; the
    * same construct in DuckDB emits byte-identical JSON).
    * entries: output key -> (variable, property).
    */
  case class MapItem(v: String, entries: Seq[(String, (String, String))],
    alias: Option[String] = None) extends RetItem
  /** String concatenation `'lit' + v.prop + …` (round 10) — the
    * reference retrieval_query's presentation shape
    * (vector_index.ipynb retrieval_query cell: `'Title: ' + a.title +
    * '\nText: ' + chunk.text as text`) and the single most common
    * LLM-emitted presentation idiom. Parts are single-quoted string
    * literals (\n/\t/\\/\' escapes unwrapped — Cypher string-literal
    * semantics) or v.prop references cast to string; at least one
    * part must be a literal (all-prop `+` would be Cypher arithmetic,
    * which this engine refuses rather than guesses). Groups like a
    * plain prop when aggregates sit alongside.
    */
  case class ConcatItem(parts: Seq[Either[String, (String, String)]],
    alias: Option[String] = None) extends RetItem
  /** Bare column reference (an alias introduced by a WITH stage). */
  case class BareItem(name: String, alias: Option[String] = None) extends RetItem
  /** `length(p)` / `nodes(p)` over an ordinary linear-MATCH path
    * variable (round 11): both compile to expressions over the
    * already-bound uid columns — length is the pattern's constant
    * hop count, nodes the '->'-joined uid sequence (the witness
    * rendering convention). The whole-path projection (`RETURN p`)
    * rides BareItem, resolved against Query.pathVar at compile.
    */
  case class PathFnItem(fn: String, v: String,
    alias: Option[String] = None) extends RetItem
  /** `COUNT { MATCH … [WHERE …] } [AS alias]` as a RETURN item — a
    * PER-ROW subquery scalar (Neo4j 5), NOT an aggregate: the body's
    * grouped match count LEFT OUTER joins in before projection
    * (absent → 0); alongside aggregates it becomes a grouping key
    * exactly like a plain prop. `idx` is the item's position in the
    * RETURN list — it names the private join column, so two COUNT
    * items never collide. asBool = the `RETURN EXISTS { … } AS flag`
    * spelling: the same machinery projected as count > 0.
    */
  case class CountSubItem(paths: Seq[PathPat], preds: Seq[Pred],
    alias: Option[String] = None, idx: Int = 0,
    asBool: Boolean = false) extends RetItem
  /** `type(r)` — the relationship type of a bound rel variable (reads
    * the `r_type` tag the hop compiler attaches; the idiom that makes
    * multi-type `[:A|B]` hops distinguishable).
    */
  case class TypeItem(r: String, alias: Option[String] = None) extends RetItem
  /** `labels(v)` — the node's label list. Variables are single-labeled
    * in this subset, so it compiles to a literal rendered in Neo4j's
    * list shape (`["Person"]`).
    */
  case class LabelsItem(v: String, alias: Option[String] = None) extends RetItem
  /** `CASE WHEN pred THEN lit … [ELSE lit] END [AS alias]` — the
    * literal-result conditional LLMs emit for bucketing (`CASE WHEN
    * r.n_tokens >= 2 THEN 'multiword' ELSE 'single' END`). Conditions
    * are the same simple predicates WHERE accepts; results are string
    * or integer literals (all branches one kind). Groups like a plain
    * prop when aggregates sit alongside.
    */
  case class CaseItem(whens: Seq[(Pred, String)], elseVal: Option[String],
    numeric: Boolean, alias: Option[String] = None) extends RetItem
  /** `coalesce(v.prop, 'default'|n)` — the OPTIONAL MATCH null-fill
    * idiom (`RETURN coalesce(t.name, 'untagged')`). Groups like a
    * plain prop when aggregates sit alongside.
    */
  case class CoalesceItem(v: String, prop: String, default: Column,
    alias: Option[String] = None) extends RetItem
  /** Numeric predicate on a bare WITH alias (`n_chunks >= 3`). */
  case class BarePred(name: String, op: String, value: Long) extends Pred
  /** sum(name) / sum(v.prop) — re-aggregation of a value carried out
    * of an earlier WITH stage (prop=None: bare alias).
    */
  case class SumItem(v: String, prop: Option[String] = None,
    alias: Option[String] = None) extends RetItem
  /** min/max/avg(v.prop) — the remaining scalar aggregates of the
    * Cypher read surface; avg is rounded to 6 decimals so distributed
    * float summation order can't drift from the oracle.
    */
  case class AggFnItem(fn: String, v: String, prop: Option[String] = None,
    alias: Option[String] = None) extends RetItem
  sealed trait WithStage
  /** `WITH DISTINCT v` — dedup on one carried variable. */
  case class WithDistinct(v: String) extends WithStage
  /** A `WITH` pipeline stage (Cypher's HAVING idiom): carried
    * variables + aggregates with implicit grouping, then an optional
    * post-aggregation WHERE. `vars` keep ALL their node columns (the
    * grouping key is the full column set — functionally dependent on
    * the uid, so semantics match grouping by the node); a var that is
    * a bare alias from an earlier stage carries that single column.
    */
  case class WithClause(vars: Seq[String], items: Seq[RetItem], preds: Seq[Pred],
    orderBy: Seq[(RetItem, Boolean)] = Seq.empty, // WITH … ORDER BY … (top-N stage)
    limit: Option[Int] = None)                    // … LIMIT n
    extends WithStage
  /** `MATCH pattern [WHERE …]` AFTER a WITH stage — the two-phase
    * shape ("top-N entities, THEN expand around them"). The new
    * patterns bind FRESH variables and join back to the carried stage
    * output through at least one `v.prop = <carried alias>` equality
    * in the WHERE (the equality IS the join condition — without one
    * the stage would be a cartesian product and compile refuses).
    */
  case class WithMatch(paths: Seq[PathPat], preds: Seq[Pred]) extends WithStage
  /** optPaths: OPTIONAL MATCH patterns — compiled as left-outer hops
    * (unmatched variables surface as NULL uids/props, so count(v)
    * naturally counts matches and skips the misses — Cypher
    * semantics).
    */
  case class Query(paths: Seq[PathPat], optPaths: Seq[PathPat],
    where: Seq[Pred],
    stages: Seq[WithStage],
    retDistinct: Boolean, ret: Seq[RetItem],
    orderBy: Seq[(RetItem, Boolean)], // (key, descending)
    limit: Option[Int],
    unwind: Option[(Seq[String], String)] = None, // UNWIND [...] AS alias
    skip: Option[Int] = None, // SKIP n (applies after ORDER BY, before LIMIT)
    pathVar: Option[String] = None) // MATCH p = <first path> (round 11)

  // ---------- parser (regex-token recursive descent) ----------

  private val NodeRe =
    """\(\s*(\w+)\s*(?::\s*(\w+))?\s*(?:\{\s*(\w+)\s*:\s*'([^']*)'\s*\})?\s*\)""".r
  private val RelRe =
    ("""(<-|-)\s*\[\s*(\w+)?\s*:\s*(\w+(?:\s*\|\s*\w+)*)\s*""" +
      """(?:\*\s*(\d+)\s*\.\.\s*(\d+))?\s*\]\s*(->|-)""").r
  private val CountRe =
    """(?i)count\(\s*(DISTINCT\s+)?(\*|\w+)(?:\.(\w+))?\s*\)(?:\s+AS\s+(\w+))?""".r
  /** `size(collect([DISTINCT] v[.prop]))` — the list-length idiom LLMs
    * emit instead of count(); collect skips nulls, so it IS count.
    */
  private val SizeCollectRe =
    """(?i)size\(\s*collect\(\s*(DISTINCT\s+)?(\w+)(?:\.(\w+))?\s*\)\s*\)(?:\s+AS\s+(\w+))?""".r

  /** ORDER BY key list (after the ORDER keyword, `BY` included or
    * not): props, bare aliases, or inline aggregates — shared by the
    * final ORDER BY and the WITH-stage top-N clause. Unrecognized
    * keys THROW (a silently dropped key would return right rows in
    * the wrong order, the worst failure mode for a compiled surface).
    */
  private def parseOrderKeys(src: String): Seq[(RetItem, Boolean)] =
    // \b: only the standalone BY keyword — a first key that merely
    // STARTS with "by" (alias `bytes`) must not be mangled (ADVICE r7)
    src.replaceAll("(?i)^\\s*BY\\b", "").split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq.map { raw =>
        val desc = raw.matches("(?is).*\\bDESC\\s*$")
        val s = raw.replaceAll("(?i)\\s+(ASC|DESC)\\s*$", "").trim
        val key: RetItem = s match {
          case SizeCollectRe(distinct, v, prop, alias) =>
            sizeCollect(distinct, v, prop, alias)
          case CountRe(distinct, v, prop, alias) =>
            CountItem(v, distinct != null, Option(alias), Option(prop))
          case SumRe(v, prop, alias) =>
            SumItem(v, Option(prop), Option(alias))
          case AggFnRe(fn, v, prop, alias) =>
            AggFnItem(fn.toLowerCase, v, Option(prop), Option(alias))
          // inline pattern-count sort key (`ORDER BY size((a)-[:R]->())
          // DESC`) — resolves against the structurally-matching RETURN
          // item, like inline aggregates
          case SizePatItemRe(inner, alias) =>
            CountSubItem(parseSizePattern(inner), Seq.empty, Option(alias))
          case ss if ss.matches("""\w+\.\w+""") =>
            val Array(v, p) = ss.split("\\."); PropItem(v, p)
          case ss if ss.matches("""\w+""") =>
            PropItem("", ss) // bare WITH alias
          case other => throw new IllegalArgumentException(
            s"unsupported ORDER BY key: $other")
        }
        key -> desc
      }

  /** size(collect(…)) rewrites to count with a size_collect default
    * name (regex groups arrive as nullable Java strings).
    */
  private def sizeCollect(distinct: String, v: String, prop: String,
      alias: String): CountItem =
    CountItem(v, distinct != null,
      Some(Option(alias).getOrElse(
        s"size_collect_$v${Option(prop).fold("")("_" + _)}")),
      Option(prop))
  private val CoalesceRe =
    ("""(?i)coalesce\(\s*(\w+)\.(\w+)\s*,\s*(?:'([^']*)'|(\d+))\s*\)""" +
      """(?:\s+(?i:AS)\s+(\w+))?""").r
  private val CollectRe =
    """(?i)collect\(\s*(DISTINCT\s+)?(\w+)(?:\.(\w+))?\s*\)(?:\s+AS\s+(\w+))?""".r
  private val SumRe =
    """(?i)sum\(\s*(\w+)(?:\.(\w+))?\s*\)(?:\s+AS\s+(\w+))?""".r
  private val AggFnRe =
    """(?i)(min|max|avg)\(\s*(\w+)(?:\.(\w+))?\s*\)(?:\s+AS\s+(\w+))?""".r
  private val PropRe = """(\w+)\.(\w+)(?:\s+(?i:AS)\s+(\w+))?""".r
  private val MapRe = """(\w+)\s*\{([^}]*)\}(?:\s+(?i:AS)\s+(\w+))?""".r
  private val BareNameRe = """(\w+)(?:\s+(?i:AS)\s+(\w+))?""".r
  private val TypeRe = """(?i)type\(\s*(\w+)\s*\)(?:\s+AS\s+(\w+))?""".r
  private val PathFnRe =
    """(?i)(length|nodes)\(\s*(\w+)\s*\)(?:\s+AS\s+(\w+))?""".r
  private val LabelsRe = """(?i)labels\(\s*(\w+)\s*\)(?:\s+AS\s+(\w+))?""".r
  private val CaseRe = """(?is)CASE\s+(.*?\bEND)(?:\s+AS\s+(\w+))?""".r

  /** Parse a CASE body (`WHEN pred THEN lit … [ELSE lit] END`). */
  private def parseCase(body: String, alias: Option[String]): CaseItem = {
    val core = body.replaceAll("(?is)\\s*\\bEND\\s*$", "")
    val elseRe = """(?is)(.*)\bELSE\b(.*)""".r
    val (whensPart, elseRaw) = core match {
      case elseRe(w, e) => (w, Some(e.trim))
      case _ => (core, None)
    }
    val rawWhens = whensPart.split("(?i)\\bWHEN\\b").map(_.trim)
      .filter(_.nonEmpty).toSeq
    require(rawWhens.nonEmpty, s"CASE without WHEN: $body")
    val whens = rawWhens.map { wt =>
      val parts = wt.split("(?i)\\bTHEN\\b").map(_.trim)
      require(parts.length == 2, s"malformed WHEN…THEN in CASE: $wt")
      (parseSimplePred(parts(0)), parts(1))
    }
    val allVals = whens.map(_._2) ++ elseRaw
    val numeric = allVals.forall(_.matches("""\d+"""))
    require(numeric || allVals.forall(_.matches("""'[^']*'""")),
      s"CASE results must be all-integer or all-string literals: $allVals")
    def strip(s: String) = s.stripPrefix("'").stripSuffix("'")
    CaseItem(whens.map { case (p, v) => (p, strip(v)) },
      elseRaw.map(strip), numeric, alias)
  }

  /** Split on commas at brace/paren depth 0 outside single-quoted
    * literals (map projections and count()/collect() carry commas of
    * their own; concat literals may carry commas, braces, parens).
    */
  /** Same-length copy of `s` with every character INSIDE a
    * single-quoted literal replaced by '_' (quotes kept) — the
    * keyword/brace scanners search THIS, so literal text like
    * 'meeting with {someone}' can never fake a WITH keyword or an
    * unbalanced brace, while every match offset stays valid in the
    * original string. A quote escaped as \' inside a literal does
    * not close it (matching unescapeCypher).
    */
  private def maskLiterals(s: String): String = {
    val out = s.toCharArray
    var inQ = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ && c == '\\' && i + 1 < s.length) {
        // an escape PAIR inside a literal is content, consumed as a
        // unit (mirroring unescapeCypher) — the former single-char
        // lookbehind misread the second backslash of 'path\\' as
        // escaping the closing quote, leaving the literal open and
        // masking the rest of the query (r10 advice)
        out(i) = '_'; out(i + 1) = '_'; i += 2
      } else {
        if (c == '\'') inQ = !inQ
        else if (inQ) out(i) = '_'
        i += 1
      }
    }
    new String(out)
  }

  /** Split on `sep` at brace/paren depth 0 outside single-quoted
    * literals. Escape pairs inside a literal are consumed as units,
    * the same two-state scan as maskLiterals — so `'a\\'` closes and
    * `'a\''` stays open, exactly where unescapeCypher says they do.
    */
  private def splitDepth0(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var inQ = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ && c == '\\' && i + 1 < s.length) {
        cur.append(c).append(s.charAt(i + 1)); i += 2
      } else {
        c match {
          case '\'' => inQ = !inQ; cur.append(c)
          case '{' | '(' if !inQ => depth += 1; cur.append(c)
          case '}' | ')' if !inQ => depth -= 1; cur.append(c)
          case x if x == sep && depth == 0 && !inQ =>
            out += cur.result(); cur.clear()
          case _ => cur.append(c)
        }
        i += 1
      }
    }
    out += cur.result()
    out.result()
  }

  private def splitTop(s: String): Seq[String] =
    splitDepth0(s, ',').map(_.trim).filter(_.nonEmpty)

  /** Split on `+` at depth 0 outside single-quoted literals — the
    * concat-item part splitter (see [[ConcatItem]]).
    */
  private def splitPlus(s: String): Seq[String] =
    splitDepth0(s, '+').map(_.trim)

  /** Cypher string-literal escapes: the reference's retrieval_query
    * carries a literal `\n` (two characters in the query TEXT) that
    * Neo4j unescapes to a newline in the VALUE. Unknown escapes pass
    * through verbatim (Cypher leaves them alone too).
    */
  private def unescapeCypher(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '\'' => sb.append('\''); i += 2
          case _ => sb.append('\\'); i += 1
        }
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  private val ConcatLitRe = """(?s)^'(.*)'$""".r
  private val ConcatPropRe = """^(\w+)\.(\w+)$""".r
  /** `COUNT { MATCH … } [AS alias]` as a whole RETURN item (splitTop
    * is brace-aware, so the item arrives intact). Greedy `.*` + the
    * closing `\}` backtracks over inline-map braces correctly because
    * the body's braces are balanced.
    */
  private val CountSubItemRe =
    """(?is)^COUNT\s*\{\s*((?:MATCH\b|\().*)\}\s*(?:AS\s+(\w+))?\s*$""".r
  /** `EXISTS { MATCH … } [AS flag]` as a RETURN item — the boolean
    * per-row spelling, sharing CountSubItem's machinery (count > 0).
    * Both item forms also take the Neo4j-5 BARE-pattern body (round
    * 11, no MATCH keyword) — normalized by subItemBody.
    */
  private val ExistsSubItemRe =
    """(?is)^EXISTS\s*\{\s*((?:MATCH\b|\().*)\}\s*(?:AS\s+(\w+))?\s*$""".r

  /** Normalize a subquery RETURN-item body: a bare-pattern body gets
    * its implicit MATCH (Neo4j-5 shorthand).
    */
  private def subItemBody(body: String): String = {
    val b = body.trim
    if (b.startsWith("(")) "MATCH " + b else b
  }

  /** `size((a)-[:R]->())` — the Neo4j-4 pattern-count spelling that
    * COUNT {} replaced, still the most common form in LLM training
    * data; compiles to the same CountSub machinery. Anonymous nodes
    * (`()` / `(:Label [{…}])`) get fresh `__szN` variables so
    * parsePath's named-node grammar takes the pattern whole (both
    * arrow directions, inline props).
    */
  private val SizePatItemRe =
    """(?is)^size\(\s*(\(.*\))\s*\)(?:\s+AS\s+(\w+))?\s*$""".r
  private val SizePatCmpRe =
    """(?is)^size\(\s*(\(.*\))\s*\)\s*(<=|>=|<>|<|>|=)\s*(\d+)$""".r

  private def parseSizePattern(inner: String): Seq[PathPat] = {
    var n = 0
    val named = """\(\s*\)|\(\s*:""".r.replaceAllIn(inner, m => {
      n += 1
      if (m.matched.endsWith(":")) s"(__sz$n:" else s"(__sz$n)"
    })
    Seq(parsePath(named))
  }

  /** Parse a RETURN item with ≥2 top-level `+`-joined parts into a
    * [[ConcatItem]]; None when the item carries no top-level `+`
    * (so the ordinary item regexes get it). A `+` item whose parts
    * are not literal/prop shaped THROWS — `+` has no other meaning in
    * this subset, so falling through would mis-parse it.
    */
  private def parseConcat(raw: String): Option[RetItem] = {
    val parts0 = splitPlus(raw)
    if (parts0.size < 2) return None
    def part(s: String): Option[Either[String, (String, String)]] = s match {
      // the literal body must not contain an UNESCAPED quote: a stray
      // match like «'a' AS x + 'b'» must not silently re-literalize —
      // but \' (which unescapeCypher unwraps) is legitimate content
      case ConcatLitRe(l) if !l.matches("""(?s).*(?<!\\)'.*""") =>
        Some(Left(unescapeCypher(l)))
      case ConcatPropRe(v, p) => Some(Right((v, p)))
      case _ => None
    }
    val aliasRe = """(?is)^(.*\S)\s+AS\s+(\w+)$""".r
    val (lastRaw, alias) = parts0.last match {
      case aliasRe(c, a) if part(c.trim).isDefined => (c.trim, Some(a))
      case other => (other, None)
    }
    val parts = (parts0.init :+ lastRaw).map(s => part(s).getOrElse(
      throw new IllegalArgumentException(
        s"unsupported concat part '$s' (expected a string literal or v.prop)")))
    require(parts.exists(_.isLeft),
      s"all-property '+' is Cypher arithmetic, which this subset does not " +
        s"compile — concat needs at least one string literal: $raw")
    Some(ConcatItem(parts, alias))
  }

  /** Split on UNION / UNION ALL at the top level (literal-masked —
    * a string value carrying 'union' must not split the query) and
    * parse each branch; returns the branches and whether ALL was
    * used. Before round 10 `UNION ALL` silently parsed as plain
    * UNION with the `ALL` dropped — dedup semantics applied where
    * Cypher keeps duplicates, a silent wrong answer. Mixing UNION
    * and UNION ALL in one query is not Cypher (Neo4j refuses too).
    */
  def parseBranches(cypher: String): (Seq[Query], Boolean) = {
    val masked = maskLiterals(cypher)
    val sepRe = "(?i)\\bUNION(\\s+ALL)?\\b".r
    val seps = sepRe.findAllMatchIn(masked).toSeq
    val alls = seps.map(_.group(1) != null)
    require(alls.distinct.size <= 1,
      "mixing UNION and UNION ALL in one query is not Cypher")
    val starts = 0 +: seps.map(_.end)
    val ends = seps.map(_.start) :+ cypher.length
    val branches = starts.zip(ends).map { case (s, e) => cypher.substring(s, e).trim }
    (branches.map(parseOne), alls.headOption.getOrElse(false))
  }

  def parse(cypher: String): Seq[Query] = parseBranches(cypher)._1

  private def parsePath(p: String): PathPat = {
    val nodes = NodeRe.findAllMatchIn(p).map(m =>
      NodePat(m.group(1), Option(m.group(2)),
        Option(m.group(3)).map(pn => pn -> m.group(4)))).toSeq
    val rels = RelRe.findAllMatchIn(p).map { m =>
      val reversed = m.group(1) == "<-"
      require(reversed != (m.group(6) == "->"),
        s"ambiguous arrow in: ${m.matched}")
      val varLen = Option(m.group(4)).map(lo => (lo.toInt, m.group(5).toInt))
      val types = m.group(3).split("\\|").map(_.trim).toSeq
      val relVar = Option(m.group(2))
      // round 11: a relationship variable on a SINGLE-type var-length
      // hop is legal (its WHERE predicates filter every traversed
      // edge; see the hop-filter routing in compile), and multi-type
      // var-length hops expand over the per-step type union — but the
      // combination stays refused: r would range over edges of mixed
      // property schemas, so r.prop has no single meaning
      require(relVar.isEmpty || types.size == 1 || varLen.isEmpty,
        s"relationship variable on a multi-type var-length hop is unsupported: ${m.matched}")
      RelPat(relVar, types, reversed, varLen)
    }.toSeq
    require(nodes.size == rels.size + 1, s"path shape mismatch in: $p")
    PathPat(nodes, rels)
  }

  /** Temporal wrappers (round 9): `date(v.prop) >= date('2024-01-02')`
    * and `datetime(…)` unwrap to the plain lexicographic string
    * compare — provably equivalent for the stored format (Article
    * publishing_date is a pure 'YYYY-MM-DD' string, where
    * lexicographic = chronological and date() is the identity).
    * Neo4j-trained LLMs emit these constantly for "articles from last
    * week"; before this they failed to parse. Literals must be
    * date-only ISO: a time component would compare midnight-extended
    * against date-only stored values and silently diverge from Neo4j
    * semantics, so it throws instead.
    */
  private val DateFnLit = """(?i)\b(?:datetime|date)\(\s*'([^']*)'\s*\)""".r
  private val DateFnProp = """(?i)\b(?:datetime|date)\(\s*(\w+\.\w+)\s*\)""".r

  /** The schema's date-carrying string properties — the ONLY ones
    * date()/datetime() may wrap (see unwrapTemporal). Reads the
    * shared schema-metadata object (round 11): new temporal
    * properties register in GraphMeta, one place.
    */
  private def DateProps = GraphMeta.dateProps

  private def unwrapTemporal(w: String): String = {
    val w1 = DateFnLit.replaceAllIn(w, mm => {
      val lit = mm.group(1)
      require(lit.matches("""\d{4}-\d{2}-\d{2}"""),
        s"temporal literal '$lit' must be a date-only ISO string " +
          "(YYYY-MM-DD) — time components would diverge from the " +
          "stored date-only format under string comparison")
      Regex.quoteReplacement(s"'$lit'")
    })
    DateFnProp.replaceAllIn(w1, mm => {
      val prop = mm.group(1)
      // the unwrap is provably sound ONLY for date-carrying string
      // properties; date(a.title) is a Neo4j type error, and silently
      // compiling it to a lexicographic title compare would return
      // wrong rows — throw instead (the same loud-fail discipline the
      // literal side applies to time components). WHITELIST, not a
      // name heuristic (r9 ADVICE): a substring check would wrongly
      // accept 'update_notes' and wrongly refuse a date-typed
      // property not named *date*. publishing_date is the one
      // date-carrying node property in the schema (graph.py:31-42);
      // extend this set when the property metadata grows.
      require(DateProps.contains(prop.split("\\.")(1)),
        s"date()/datetime() on non-temporal property '$prop' — only " +
          s"the date-carrying properties ${DateProps.mkString(", ")} compile")
      Regex.quoteReplacement(prop)
    })
  }

  /** The round-9 bare-pattern single-hop shapes, shared by
    * parseSimplePred's regexes and extractSubqueries' legacy test
    * (a brace body matching one of these keeps its dedicated
    * semi/anti compilation; anything else `(`-shaped compiles
    * through the FULL subquery machinery — round 11).
    */
  private val PatBodyStr = """\(\s*(\w+)\s*\)\s*-\s*\[\s*:\s*(\w+)\s*\]\s*->""" +
    """\s*\(\s*:(\w+)\s*(?:\{\s*(\w+)\s*:\s*'([^']*)'\s*\})?\s*\)"""
  private val VarPatBodyStr =
    """\(\s*(\w+)\s*\)\s*-\s*\[\s*:\s*(\w+)\s*\]\s*->\s*\(\s*(\w+)\s*\)"""

  private def parseSimplePred(w0: String): Pred = {
    val w = unwrapTemporal(w0)
    val inRe = """(\w+)\.(\w+)\s+IN\s+\[([^\]]*)\]""".r
    val eqRe = """(\w+)\.(\w+)\s*=\s*'([^']*)'""".r
    val neqRe = """(\w+)\.(\w+)\s*<>\s*'([^']*)'""".r
    val strRe = """(?i)(\w+)\.(\w+)\s+(CONTAINS|STARTS\s+WITH|ENDS\s+WITH)\s+'([^']*)'""".r
    val patBody = PatBodyStr
    val notPatRe = (s"(?i)NOT\\s+$patBody").r
    val existsPatRe = (s"(?i)exists\\(\\s*$patBody\\s*\\)").r
    // NOT exists((v)-[:R]->(:L)) ≡ NOT (v)-[:R]->(:L) — must resolve
    // to the anti-join BEFORE notSimpleRe wraps it in a NotPred the
    // column compiler rightly rejects for pattern predicates
    val notExistsPatRe = (s"(?i)NOT\\s+exists\\(\\s*$patBody\\s*\\)").r
    // Neo4j-5 existential subquery braces (round 9): `EXISTS {
    // (v)-[:R]->(:L)} ` — the form newer Neo4j-trained LLMs emit;
    // identical semi/anti-join semantics as the exists() function
    // (the bare-pattern body, no embedded MATCH — a braced MATCH
    // keyword would collide with the stage slicer)
    val existsBraceRe = (s"(?i)EXISTS\\s*\\{\\s*$patBody\\s*\\}").r
    val notExistsBraceRe = (s"(?i)NOT\\s+EXISTS\\s*\\{\\s*$patBody\\s*\\}").r
    val barePatRe = patBody.r
    // var-to-var pattern predicates (round 10): `[NOT] (v)-[:R]->(w)`
    // with BOTH endpoints bound — the open-triangle / link-prediction
    // gate ("co-occurs with a co-occurrer but not directly"). Maps
    // onto the EXISTS-subquery semi/anti machinery, correlated on
    // both uids.
    val varPatBody = VarPatBodyStr
    val notVarPatRe = (s"(?i)NOT\\s+$varPatBody").r
    val notExistsVarPatRe = (s"(?i)NOT\\s+exists\\(\\s*$varPatBody\\s*\\)").r
    val existsVarPatRe = (s"(?i)exists\\(\\s*$varPatBody\\s*\\)").r
    val bareVarPatRe = varPatBody.r
    def varPat(v: String, rel: String, w: String, negated: Boolean): Pred =
      ExistsSubPred(Seq(PathPat(
        Seq(NodePat(v, None), NodePat(w, None)),
        Seq(RelPat(None, Seq(rel), reversed = false, None)))), Seq.empty, negated)
    val isNullRe = """(?i)(\w+)(?:\.(\w+))?\s+IS\s+(NOT\s+)?NULL""".r
    val strCmpRe = """(\w+)\.(\w+)\s*(<=|>=|<|>)\s*'([^']*)'""".r
    val numRe = """(\w+)\.(\w+)\s*(<=|>=|<>|<|>|=)\s*(\d+)""".r
    val bareRe = """(\w+)\s*(<=|>=|<>|<|>|=)\s*(\d+)""".r
    val eqColRe = """(\w+)\.(\w+)\s*=\s*(\w+)""".r // RHS is a bare alias (UNWIND)
    val lowerRe = ("""(?i)toLower\(\s*(\w+)\.(\w+)\s*\)\s*""" +
      """(CONTAINS|STARTS\s+WITH|ENDS\s+WITH|=|<>)\s*'([^']*)'""").r
    val regexRe = """(\w+)\.(\w+)\s*=~\s*'([^']*)'""".r
    val notSimpleRe = """(?is)NOT\s+(.*)""".r
    // `ALL(x IN r WHERE x.prop <op> n)` — the proper Cypher spelling
    // of a per-edge filter on a var-length relationship list (round
    // 11); normalizes to the same NumPred as the `r.prop <op> n`
    // shorthand LLMs emit, and the compile routes both onto the hop's
    // edge table BEFORE expansion (see the var-length hop filters)
    val allInRe =
      """(?i)ALL\(\s*(\w+)\s+IN\s+(\w+)\s+WHERE\s+(\w+)\.(\w+)\s*(<=|>=|<>|<|>|=)\s*(\d+)\s*\)""".r
    w.trim match {
      case allInRe(x, r, x2, prop, op, nv) =>
        require(x == x2,
          s"ALL() predicate must test its own iteration variable: $x vs $x2")
        NumPred(r, prop, op, nv.toLong)
      case lowerRe(v, p, op, value) =>
        LowerPred(v, p, op.toUpperCase.replaceAll("\\s+", " "), value)
      case regexRe(v, p, pat) => RegexPred(v, p, pat)
      // size((v)-[:R]->()) <op> n — the Neo4j-4 pattern-count gate;
      // same CountSub compilation as COUNT { MATCH … } <op> n
      case SizePatCmpRe(inner, op, nv) =>
        CountSubPred(parseSizePattern(inner), Seq.empty, op, nv.toLong)
      case notExistsPatRe(v, rel, lbl, prop, value) =>
        NotPatPred(v, rel, lbl, Option(prop).map(_ -> value))
      case notExistsBraceRe(v, rel, lbl, prop, value) =>
        NotPatPred(v, rel, lbl, Option(prop).map(_ -> value))
      case notPatRe(v, rel, lbl, prop, value) =>
        NotPatPred(v, rel, lbl, Option(prop).map(_ -> value))
      case notExistsVarPatRe(v, rel, w) => varPat(v, rel, w, negated = true)
      case notVarPatRe(v, rel, w) => varPat(v, rel, w, negated = true)
      case notSimpleRe(rest) => NotPred(parseSimplePred(rest))
      case existsPatRe(v, rel, lbl, prop, value) =>
        ExistsPatPred(v, rel, lbl, Option(prop).map(_ -> value))
      case existsBraceRe(v, rel, lbl, prop, value) =>
        ExistsPatPred(v, rel, lbl, Option(prop).map(_ -> value))
      case barePatRe(v, rel, lbl, prop, value) =>
        ExistsPatPred(v, rel, lbl, Option(prop).map(_ -> value))
      case existsVarPatRe(v, rel, w) => varPat(v, rel, w, negated = false)
      case bareVarPatRe(v, rel, w) => varPat(v, rel, w, negated = false)
      case strCmpRe(v, p, op, value) => StrCmpPred(v, p, op, value)
      case isNullRe(v, prop, not) =>
        IsNullPred(v, Option(prop), not != null)
      case inRe(v, p, vals) =>
        InPred(v, p, vals.split(",").map(_.trim.stripPrefix("'").stripSuffix("'")).toSeq)
      case eqRe(v, p, value) => EqPred(v, p, value)
      case neqRe(v, p, value) => NeqPred(v, p, value)
      case strRe(v, p, op, value) =>
        StrPred(v, p, op.toUpperCase.replaceAll("\\s+", " "), value)
      case numRe(v, p, op, value) => NumPred(v, p, op, value.toLong)
      case bareRe(n, op, value) => BarePred(n, op, value.toLong)
      case eqColRe(v, p, ref) => EqColPred(v, p, ref)
      case other => throw new IllegalArgumentException(s"unsupported WHERE: $other")
    }
  }

  /** Parse a `MATCH <patterns> [WHERE <preds>]` subquery body (the
    * shared grammar of EXISTS {} and COUNT {}). RETURN inside throws
    * (Neo4j discards an existential projection anyway; for COUNT it
    * would change what is counted); WITH pipelines inside throw too
    * (they would have already collided with the outer stage slicer —
    * loud beats mangled). Body WHEREs recurse through parsePreds, so
    * nested subqueries compile.
    */
  private def parseSubBody(body: String): (Seq[PathPat], Seq[Pred]) = {
    // keyword checks run on the LITERAL-MASKED text ('meeting with X'
    // must not read as a WITH pipeline), with STARTS/ENDS WITH string
    // operators removed first (any run of spaces — the lookbehind
    // trick can't span variable whitespace)
    val checked = maskLiterals(body).replaceAll("(?i)\\b(STARTS|ENDS)\\s+WITH\\b", "")
    require(!checked.matches("(?is).*\\bRETURN\\b.*"),
      s"RETURN inside a {{ MATCH }} subquery is not compiled: $body")
    require(!checked.matches("(?is).*\\bWITH\\b.*"),
      s"WITH pipelines inside a {{ MATCH }} subquery are not compiled: $body")
    val afterMatch = body.replaceFirst("(?is)^MATCH\\b", "").trim
    val (patPart, predPart) =
      "(?i)\\bWHERE\\b".r.findFirstMatchIn(maskLiterals(afterMatch)) match {
        case Some(w) =>
          (afterMatch.substring(0, w.start), Some(afterMatch.substring(w.end)))
        case None => (afterMatch, None)
      }
    val paths = patPart.split(",\\s*(?=\\()").map(_.trim)
      .filter(_.nonEmpty).map(parsePath).toSeq
    require(paths.nonEmpty, s"{{ MATCH }} subquery body has no pattern: $body")
    (paths, predPart.toSeq.flatMap(parsePreds))
  }

  /** Extract every `[NOT] EXISTS { MATCH … }` / `COUNT { MATCH … }`
    * FULL subquery from a WHERE string (round 10), replacing each
    * with a `__EXSUB<i>__` / `__CNTSUB<i>__` token so the AND/OR
    * conjunct splitters cannot slice inside the braces (the body's
    * own WHERE may carry AND/OR). Brace matching is a linear depth
    * scan — bodies contain `{prop: 'x'}` inline-map braces. EXISTS
    * brace bodies WITHOUT a leading MATCH keyword are left in place
    * for the bare-pattern single-hop regexes in parseSimplePred
    * (round 9's form — unchanged); a COUNT body must start with
    * MATCH.
    */
  private val SubOpenRe = """(?is)\b(NOT\s+)?(EXISTS|COUNT)\s*\{""".r

  private def extractSubqueries(ws: String): (String, Map[String, Pred],
      Map[String, (Seq[PathPat], Seq[Pred])]) = {
    val out = new StringBuilder
    val exSubs = Map.newBuilder[String, Pred]
    val cntSubs = Map.newBuilder[String, (Seq[PathPat], Seq[Pred])]
    var rest = ws
    var n = 0
    // keyword find + brace depth both run on the literal-masked text
    // (same offsets): '{' inside a string value must not open a level
    var masked = maskLiterals(rest)
    var m = SubOpenRe.findFirstMatchIn(masked)
    while (m.isDefined) {
      val mm = m.get
      var depth = 1
      var j = mm.end
      while (depth > 0 && j < masked.length) {
        masked.charAt(j) match {
          case '{' => depth += 1
          case '}' => depth -= 1
          case _ => ()
        }
        j += 1
      }
      require(depth == 0, s"unbalanced subquery braces in: $ws")
      val body = rest.substring(mm.end, j - 1).trim
      val isCount = mm.group(2).equalsIgnoreCase("COUNT")
      // Bare-pattern brace bodies (round 11): Neo4j 5 allows
      // `COUNT { (a)-[:R]->(c) }` / `EXISTS { (a)-[:R]->(c) WHERE … }`
      // with no MATCH keyword — the form LLMs emit most. A body that
      // matches the round-9 single-hop shapes keeps its dedicated
      // semi/anti fast path (left in place for parseSimplePred);
      // everything else `(`-shaped compiles as an implicit MATCH
      // through the FULL subquery machinery. COUNT always rewrites
      // (it never had a legacy path — it used to refuse).
      val legacy = !isCount && body.startsWith("(") &&
        (body.matches(s"(?s)^$PatBodyStr$$") ||
          body.matches(s"(?s)^$VarPatBodyStr$$"))
      val bodyNorm =
        if (body.matches("(?is)^MATCH\\b.*")) Some(body)
        else if (body.startsWith("(") && !legacy) Some("MATCH " + body)
        else None
      bodyNorm match {
        case Some(b) =>
          require(!(isCount && mm.group(1) != null),
            s"NOT COUNT {{ … }} is not a boolean — compare the count instead: $ws")
          val (paths, preds) = parseSubBody(b)
          val tok = if (isCount) s"__CNTSUB${n}__" else s"__EXSUB${n}__"
          if (isCount) cntSubs += tok -> ((paths, preds))
          else exSubs += tok -> ExistsSubPred(paths, preds, mm.group(1) != null)
          out.append(rest.substring(0, mm.start)).append(tok)
          n += 1
        case None =>
          require(!isCount, s"COUNT {{ }} body must be a MATCH or a pattern: $body")
          out.append(rest.substring(0, j))
      }
      rest = rest.substring(j)
      masked = maskLiterals(rest)
      m = SubOpenRe.findFirstMatchIn(masked)
    }
    out.append(rest)
    (out.toString, exSubs.result(), cntSubs.result())
  }

  private val CntCmpRe = """(__CNTSUB\d+__)\s*(<=|>=|<>|<|>|=)\s*(\d+)""".r

  /** First occurrence of keyword `kw` at brace depth 0 — the
    * stage-slicer's MATCH finder must not fire on a MATCH inside an
    * EXISTS/COUNT subquery body (round 10: subqueries are legal in
    * WITH-stage WHEREs, so stage bodies can carry braced MATCHes).
    */
  private def topLevelKw(s: String, kw: String): Option[Regex.Match] = {
    val masked = maskLiterals(s)
    ("(?i)\\b" + kw + "\\b").r.findAllMatchIn(masked).find { m =>
      val pre = masked.substring(0, m.start)
      pre.count(_ == '{') == pre.count(_ == '}')
    }
  }

  /** AND-conjunction of terms; a term may be an OR-disjunction of
    * simple predicates (Cypher precedence: AND binds tighter). IN
    * lists never contain AND/OR so the flat splits are safe. FULL
    * EXISTS/COUNT subqueries are tokenized out first (their body
    * WHERE may carry AND/OR) and resolved at the disjunct level.
    */
  /** Split `s` on \s+<kw>\s+ boundaries found in the LITERAL-MASKED
    * text, slicing the ORIGINAL by offset — a string value containing
    * ' AND ' / ' OR ' (e.g. CONTAINS 'salt AND pepper') must not be
    * cut mid-literal (r10 advice: this was the one splitter the
    * literal-masking discipline missed).
    */
  private def splitKw(s: String, kw: String): Seq[String] = {
    val masked = maskLiterals(s)
    val ms = ("(?i)\\s+" + kw + "\\s+").r.findAllMatchIn(masked).toSeq
    val starts = 0 +: ms.map(_.end)
    val ends = ms.map(_.start) :+ s.length
    starts.zip(ends).map { case (a, b) => s.substring(a, b) }
  }

  private def parsePreds(ws0: String): Seq[Pred] = {
    val (ws, exSubs, cntSubs) = extractSubqueries(ws0)
    splitKw(ws, "AND").map(_.trim).map { w =>
      val disjuncts = splitKw(w, "OR").map(_.trim).map {
        case d if exSubs.contains(d) => exSubs(d)
        case CntCmpRe(tok, op, nv) =>
          val (paths, preds) = cntSubs.getOrElse(tok,
            throw new IllegalArgumentException(s"unknown subquery token $tok"))
          CountSubPred(paths, preds, op, nv.toLong)
        case d => parseSimplePred(d)
      }.toSeq
      if (disjuncts.size == 1) disjuncts.head else OrPred(disjuncts)
    }.toSeq
  }

  private def parseOne(q0raw: String): Query = {
    // Leading UNWIND ['a','b'] AS x — the literal-list parameter shape
    // of LLM-generated batch lookups (graph.py's ingest UNWINDs rows
    // the same way). The alias becomes a joinable column; the rest of
    // the query parses unchanged.
    val unwindRe = """(?is)^\s*UNWIND\s*\[([^\]]*)\]\s+AS\s+(\w+)\s+(.*)""".r
    val (q0, unwind) = q0raw match {
      case unwindRe(vals, alias, rest) =>
        (rest, Some(vals.split(",").map(_.trim.stripPrefix("'").stripSuffix("'")).toSeq -> alias))
      case _ => (q0raw, None)
    }
    // Slice positionally at WITH/RETURN boundaries first (a WHERE can
    // appear both before a WITH and inside every WITH stage, so
    // keyword slicing alone is ambiguous). Each WITH starts a new
    // pipeline stage; the RETURN terminates the chain.
    // `STARTS WITH` / `ENDS WITH` string predicates contain the WITH
    // keyword — the lookbehinds keep them out of the stage slicing.
    // All keyword scans run on the LITERAL-MASKED text (same offsets
    // as q0): a string value like 'meeting with {x} return' must
    // never slice a stage, end a section, or unbalance a brace.
    val q0m = maskLiterals(q0)
    val withMs = "(?i)(?<!STARTS\\s)(?<!ENDS\\s)\\bWITH\\b".r.findAllMatchIn(q0m).toSeq
    val retStart = "(?i)\\bRETURN\\b".r.findFirstMatchIn(q0m).map(_.start)
    val head = q0.substring(0,
      withMs.headOption.map(_.start).orElse(retStart).getOrElse(q0.length))
    def section(src: String, start: String, enders: Seq[String]): Option[String] = {
      val srcM = maskLiterals(src)
      val si = ("(?i)\\b" + start + "\\b").r.findFirstMatchIn(srcM).map(_.end)
      si.map { s =>
        val ends = enders.flatMap(e => ("(?i)\\b" + e + "\\b").r.findFirstMatchIn(srcM.substring(s)).map(_.start + s))
        src.substring(s, if (ends.isEmpty) src.length else ends.min).trim
      }
    }
    val matchS = section(head, "MATCH", Seq("WHERE")).getOrElse(
      throw new IllegalArgumentException(s"no MATCH in: $q0"))
    // OPTIONAL MATCH clauses follow the required patterns; note
    // section("MATCH") matched the FIRST \bMATCH\b, so the optional
    // clauses are still inside matchS — split them off first
    val optSplit = matchS.split("(?i)OPTIONAL\\s+MATCH")
    def parsePaths(s: String): Seq[PathPat] =
      s.split(",\\s*(?=\\()").map(_.trim).filter(_.nonEmpty)
        .map(parsePath).toSeq
    // `MATCH p = (a)-[:R]->(b)…` (round 11): the path variable binds
    // the FIRST required pattern; length(p)/nodes(p)/bare p compile
    // as expressions over its already-bound uid columns. Var-length
    // hops refuse (midpoints are not materialized per row — the
    // shortestPath() forms own those).
    val pvRe = """(?s)^\s*(\w+)\s*=\s*(\(.*)$""".r
    val (headMatch, pathVar) = optSplit.head match {
      case pvRe(pv, rest) => (rest, Some(pv))
      case other => (other, None)
    }
    val paths = parsePaths(headMatch)
    pathVar.foreach { pv =>
      require(paths.head.rels.nonEmpty,
        s"path variable $pv needs at least one relationship hop")
      require(paths.head.rels.forall(_.varLen.isEmpty),
        s"path variable $pv over a var-length hop is only supported " +
          "through the shortestPath()/allShortestPaths() forms")
    }
    val optPaths = optSplit.tail.toSeq.flatMap(parsePaths)

    val where: Seq[Pred] =
      section(head, "WHERE", Seq.empty).toSeq.flatMap(parsePreds)

    // stage bodies: text between each WITH and the next WITH/RETURN
    val stageBodies = withMs.zipWithIndex.map { case (m, i) =>
      val end = withMs.lift(i + 1).map(_.start)
        .orElse(retStart)
        .getOrElse(throw new IllegalArgumentException(s"no RETURN after WITH in: $q0"))
      q0.substring(m.end, end).trim
    }
    val stages: Seq[WithStage] = stageBodies.flatMap { b0 =>
      // `WITH … MATCH pattern [WHERE …]` — a post-aggregation MATCH
      // (the two-phase expand) splits off as its own stage; the WITH
      // items/ORDER/LIMIT parse from the text before the MATCH. The
      // finder is brace-depth-aware: a MATCH inside an EXISTS/COUNT
      // subquery body in the stage's WHERE must not split the stage.
      val mM = topLevelKw(b0, "MATCH")
      val (b, matchStage) = mM match {
        case Some(m) =>
          val right = b0.substring(m.end)
          val (patPart, predPart) =
            "(?i)\\bWHERE\\b".r.findFirstMatchIn(maskLiterals(right)) match {
            case Some(w) => (right.substring(0, w.start), Some(right.substring(w.end)))
            case None => (right, None)
          }
          (b0.substring(0, m.start).trim,
            Seq(WithMatch(parsePaths(patPart),
              predPart.toSeq.flatMap(parsePreds))))
        case None => (b0, Seq.empty[WithStage])
      }
      val withStage: WithStage =
      if (b.matches("(?is)\\s*DISTINCT\\s+\\w+\\s*"))
        WithDistinct(b.replaceAll("(?i)DISTINCT", "").trim)
      else {
        // WITH … [WHERE …] [ORDER BY …] [LIMIT n] — the mid-pipeline
        // top-N stage ("top 5 orgs by count, THEN …"); slice the tail
        // clauses off right-to-left before the items/WHERE split
        val liM = "(?i)\\bLIMIT\\b".r.findFirstMatchIn(maskLiterals(b))
        val (bNoLimit, stageLimit) = liM match {
          case Some(m) => (b.substring(0, m.start),
            Some(b.substring(m.end).trim.toInt))
          case None => (b, None)
        }
        val obM = "(?i)\\bORDER\\s+BY\\b".r.findFirstMatchIn(maskLiterals(bNoLimit))
        val (bCore, stageOrder) = obM match {
          case Some(m) => (bNoLimit.substring(0, m.start),
            parseOrderKeys(bNoLimit.substring(m.end)))
          case None => (bNoLimit, Seq.empty[(RetItem, Boolean)])
        }
        val (itemsPart, predPart) =
          "(?i)\\bWHERE\\b".r.findFirstMatchIn(maskLiterals(bCore)) match {
          case Some(m) => (bCore.substring(0, m.start), Some(bCore.substring(m.end)))
          case None => (bCore, None)
        }
        val vars = Seq.newBuilder[String]
        val items = Seq.newBuilder[RetItem]
        splitTop(itemsPart).foreach {
          case SizeCollectRe(distinct, v, prop, alias) =>
            items += sizeCollect(distinct, v, prop, alias)
          case CountRe(distinct, v, prop, alias) =>
            items += CountItem(v, distinct != null, Option(alias), Option(prop))
          case CollectRe(distinct, v, prop, alias) =>
            items += CollectItem(v, Option(prop), Option(alias), distinct != null)
          case SumRe(v, prop, alias) =>
            items += SumItem(v, Option(prop), Option(alias))
          case PropRe(v, p, alias) => items += PropItem(v, p, Option(alias))
          case bare if bare.matches("""\w+""") => vars += bare
          case other => throw new IllegalArgumentException(s"unsupported WITH item: $other")
        }
        WithClause(vars.result(), items.result(),
          predPart.toSeq.flatMap(parsePreds), stageOrder, stageLimit)
      }
      withStage +: matchStage
    }
    // slice from RETURN itself (not the last WITH's end): a stage's
    // own ORDER BY/LIMIT must not be mistaken for the final ones
    val retSrc = retStart.map(q0.substring).getOrElse(q0)
    val retS = section(retSrc, "RETURN", Seq("ORDER", "SKIP", "LIMIT")).getOrElse(
      throw new IllegalArgumentException(s"no RETURN in: $q0"))
    val retDistinct = retS.matches("(?is)\\s*DISTINCT\\b.*")
    // concat items are tried FIRST (a top-level `+` has no other
    // meaning in this subset, and the per-part alias regexes below
    // would otherwise mis-slice `'lit' + v.prop AS x`)
    val items0 = splitTop(retS.replaceAll("(?i)^\\s*DISTINCT", "")).map {
      raw0 => parseConcat(raw0).getOrElse(raw0 match {
      case CountSubItemRe(body, alias) =>
        val (ps, prs) = parseSubBody(subItemBody(body))
        CountSubItem(ps, prs, Option(alias))
      case ExistsSubItemRe(body, alias) =>
        val (ps, prs) = parseSubBody(subItemBody(body))
        CountSubItem(ps, prs, Option(alias), asBool = true)
      case SizePatItemRe(inner, alias) =>
        CountSubItem(parseSizePattern(inner), Seq.empty, Option(alias))
      case SizeCollectRe(distinct, v, prop, alias) =>
        sizeCollect(distinct, v, prop, alias)
      case CountRe(distinct, v, prop, alias) =>
        CountItem(v, distinct != null, Option(alias), Option(prop))
      case CollectRe(distinct, v, prop, alias) =>
        CollectItem(v, Option(prop), Option(alias), distinct != null)
      case SumRe(v, prop, alias) =>
        SumItem(v, Option(prop), Option(alias))
      case AggFnRe(fn, v, prop, alias) =>
        AggFnItem(fn.toLowerCase, v, Option(prop), Option(alias))
      case CoalesceRe(v, p, strDef, numDef, alias) =>
        val default = if (strDef != null) lit(strDef) else lit(numDef.toLong)
        CoalesceItem(v, p, default, Option(alias))
      case CaseRe(body, alias) => parseCase(body, Option(alias))
      case TypeRe(r, alias) => TypeItem(r, Option(alias))
      case LabelsRe(v, alias) => LabelsItem(v, Option(alias))
      case MapRe(v, body, alias) =>
        val dotRe = """\.(\w+)""".r
        val kvRe = """(\w+)\s*:\s*(\w+)\.(\w+)""".r
        val entries = body.split(",").map(_.trim).filter(_.nonEmpty).map {
          case dotRe(p) => p -> (v, p)
          case kvRe(k, w, p) => k -> (w, p)
          case other => throw new IllegalArgumentException(s"unsupported map entry: $other")
        }.toSeq
        MapItem(v, entries, Option(alias))
      case PathFnRe(fn, v, alias) => PathFnItem(fn.toLowerCase, v, Option(alias))
      case PropRe(v, p, alias) => PropItem(v, p, Option(alias))
      case BareNameRe(n, alias) => BareItem(n, Option(alias))
      case other => throw new IllegalArgumentException(s"unsupported RETURN item: $other")
    })
    }
    // COUNT {} items take their RETURN-list position as idx — it
    // names their private join column, so two COUNT items never share
    val items = items0.zipWithIndex.map {
      case (c: CountSubItem, i) => c.copy(idx = i)
      case (it, _) => it
    }
    // ORDER BY keys: props, bare aliases, or INLINE AGGREGATES
    // (`ORDER BY count(c) DESC`) — the latter resolve against the
    // structurally-matching RETURN aggregate at compile time. An
    // unrecognized key THROWS: silently dropping it would return
    // correctly-valued rows in the wrong order, the worst failure mode
    // for a compiled query surface.
    val orderBy = section(retSrc, "ORDER", Seq("SKIP", "LIMIT")).toSeq
      .flatMap(parseOrderKeys)
    val skip = section(retSrc, "SKIP", Seq("LIMIT")).map(_.trim.toInt)
    val limit = section(retSrc, "LIMIT", Seq.empty).map(_.trim.toInt)
    Query(paths, optPaths, where, stages, retDistinct, items, orderBy, limit,
      unwind, skip, pathVar)
  }

  // ---------- compiler ----------

  /** The fixed endpoint labels of the bipartite relationship types —
    * the label-inference table for UNLABELED variables whose
    * properties are read (round 10): the reference retrieval_query
    * writes `(chunk)<-[:CONTAINS]-(a)<-[:PUBLISHED]-(s)` with no
    * labels and reads a.title / s.name, exactly as Neo4j resolves
    * props from the store regardless of pattern labels. MENTIONS is
    * absent deliberately — its destination label is genuinely
    * ambiguous (Person/Organization/Location) and must be written.
    */
  private val EdgeSchema: Map[String, (String, String)] = GraphMeta.edgeEnds

  /** The compiled graph's schema metadata in ONE object (round 11,
    * per the r10 verdict): relationship endpoints (label inference),
    * the date-carrying string properties date()/datetime() may wrap,
    * and the fulltext indexes the CALL surface serves — previously
    * three unrelated private vals, so a schema change had three
    * places to miss. New node properties / indexes extend the
    * compiled surface here and nowhere else; the loud-fail paths
    * (unknown index, non-temporal date() target) read these same
    * tables, so they stay loud by construction.
    */
  private[graft] object GraphMeta {
    /** src/dst labels of the single-destination relationship types;
      * MENTIONS is absent deliberately — its destination label is
      * genuinely ambiguous (Person/Organization/Location) and must
      * be written in the pattern.
      */
    val edgeEnds: Map[String, (String, String)] = Map(
      "CONTAINS" -> ("Article", "Chunk"),
      "PUBLISHED" -> ("Source", "Article"),
      "AUTHORED" -> ("Person", "Article"),
      "HAS_TOPIC" -> ("Article", "Topic"),
      "CO_OCCURS" -> ("Entity", "Entity"))

    /** The fixed (src, dst) labels of a hop of type `rel`: edgeEnds, or
      * for MENTIONS the Chunk source and the written destination label.
      */
    def hopEnds(rel: String, dstLabel: Option[String]): Option[(String, String)] =
      if (rel == "MENTIONS") dstLabel.map("Chunk" -> _) else edgeEnds.get(rel)

    /** The labels whose node table is unique per uid and holds every
      * endpoint their edges emit, each with the properties that are
      * functions of the uid's key (the value after `<label>:`). A
      * variable of such a label, reached by a hop whose fixed endpoint
      * label it carries, binds from the edge row when the query reads
      * no other property of it (CypherLite.compile). Chunk derives no
      * property, so it binds that way only when none is read. Article
      * is absent: a repeated doc_id repeats its uid, and the node
      * join's row multiplicity must survive.
      */
    val rowProps: Map[String, Seq[(String, Column => Column)]] = {
      val name = Seq("name" -> ((k: Column) => k))
      Map(
        "Source" -> (name ++ Seq("type" -> Props.sourceType _, "url" -> Props.sourceUrl _)),
        "Person" -> name, "Organization" -> name, "Location" -> name,
        "Topic" -> name, "Entity" -> name,
        "Chunk" -> Nil)
    }

    /** Date-carrying string properties — the ONLY ones
      * date()/datetime() may wrap (see unwrapTemporal; a WHITELIST,
      * not a name heuristic — r9 advice). publishing_date is the one
      * date-carrying node property in the schema (graph.py:31-42).
      */
    val dateProps: Set[String] = Set("publishing_date")

    /** One fulltext index: the label it spans, the scored property,
      * and the scoring family — NameFuzzy for short name props
      * (q_entity_candidates' Jaccard+Levenshtein stand-in for
      * Lucene's fuzzy `word~0.8 AND …` ranking), TextBm25 for
      * document-length text props (the BM25 stand-in for Lucene's
      * ranked keyword search — the hybrid retrieval's keyword leg).
      */
    sealed trait FtKind
    case object NameFuzzy extends FtKind
    case object TextBm25 extends FtKind
    final case class FtIndex(label: String, prop: String, kind: FtKind)

    /** Index names lowercased: the creation side writes `personName`
      * while the lookup passes `PersonName` (graph.py:143) — Lucene
      * matches as given, so accept both casings. chunkText /
      * articleTitle are the reference's TEXT indexes (graph.py:203-207,
      * `{label.lower()}{prop.title()}`) — round 11 extends the CALL
      * surface to them, which is what lets the literal hybrid
      * retrieval composition compile.
      */
    val ftIndexes: Map[String, FtIndex] = Map(
      "personname" -> FtIndex("Person", "name", NameFuzzy),
      "organizationname" -> FtIndex("Organization", "name", NameFuzzy),
      "locationname" -> FtIndex("Location", "name", NameFuzzy),
      "sourcename" -> FtIndex("Source", "name", NameFuzzy),
      "topicname" -> FtIndex("Topic", "name", NameFuzzy),
      "chunktext" -> FtIndex("Chunk", "text", TextBm25),
      "articletitle" -> FtIndex("Article", "title", TextBm25))
  }

  /** Variables referenced with a non-uid property anywhere in the
    * query — the ones label inference must resolve. A var referenced
    * ONLY by uid (or not at all) keeps its cheap uid-only edge-column
    * binding, so no pre-round-10 plan changes shape.
    */
  private def propVars(q: Query): Set[String] = propReads(q).map(_._1)

  /** The (variable, property) pairs the query reads, uid excluded. */
  private def propReads(q: Query): Set[(String, String)] = {
    def fromPred(p: Pred): Seq[(String, String)] = p match {
      case InPred(v, pr, _) => Seq(v -> pr)
      case EqPred(v, pr, _) => Seq(v -> pr)
      case EqColPred(v, pr, _) => Seq(v -> pr)
      case NeqPred(v, pr, _) => Seq(v -> pr)
      case StrPred(v, pr, _, _) => Seq(v -> pr)
      case LowerPred(v, pr, _, _) => Seq(v -> pr)
      case RegexPred(v, pr, _) => Seq(v -> pr)
      case StrCmpPred(v, pr, _, _) => Seq(v -> pr)
      case NumPred(v, pr, _, _) => Seq(v -> pr)
      case IsNullPred(v, pr, _) => pr.map(v -> _).toSeq
      case OrPred(ps) => ps.flatMap(fromPred)
      case NotPred(p0) => fromPred(p0)
      case _ => Nil
    }
    def fromItem(it: RetItem): Seq[(String, String)] = it match {
      case PropItem(v, p, _) => Seq(v -> p)
      case MapItem(_, entries, _) => entries.map(_._2).toSeq
      case ConcatItem(parts, _) => parts.collect { case Right(wp) => wp }
      case CountItem(v, _, _, Some(p)) => Seq(v -> p)
      case CollectItem(v, Some(p), _, _) => Seq(v -> p)
      case SumItem(v, Some(p), _) => Seq(v -> p)
      case AggFnItem(_, v, Some(p), _) => Seq(v -> p)
      case CoalesceItem(v, p, _, _) => Seq(v -> p)
      case CaseItem(whens, _, _, _) => whens.flatMap(w => fromPred(w._1))
      case _ => Nil
    }
    val stageItems = q.stages.flatMap {
      case wc: WithClause => wc.items ++ wc.orderBy.map(_._1)
      case _ => Nil
    }
    val stagePreds = q.stages.flatMap {
      case wc: WithClause => wc.preds
      case wm: WithMatch => wm.preds
      case _ => Nil
    }
    ((q.where ++ stagePreds).flatMap(fromPred) ++
      (q.ret ++ stageItems ++ q.orderBy.map(_._1)).flatMap(fromItem))
      .filter(_._2 != "uid").toSet
  }

  /** Compile one parsed query to a DataFrame plan. Node columns are
    * prefixed `<var>_`; each hop joins the edge table then the next
    * node table, or binds the next variable from the edge row where
    * the node join adds nothing (rowBound). Comma-patterns extend the
    * same join pipeline through their shared variables (each hop must
    * touch an already-bound variable — no cartesian pattern products).
    */
  def compile(spark: SparkSession, dir: String, q: Query): DataFrame =
    compile(spark, dir, q, None)

  /** preSeed: an externally-built relation pre-binding ONE variable
    * (var name, its node label, a DataFrame whose node columns are
    * `<var>_*` plus any carried bare columns like `score`) — the
    * CALL-procedure composition hook (retrievalSuffix composes the
    * vector/hybrid top-k seed with the retrieval_query suffix through
    * it).
    */
  private def compile(spark: SparkSession, dir: String, q: Query,
      preSeed: Option[(String, String, DataFrame)]): DataFrame = {
    val stageMatchPaths = q.stages.collect { case wm: WithMatch => wm.paths }.flatten
    // a post-WITH MATCH binds FRESH variables (re-binding a head var
    // after aggregation destroyed its columns would silently resolve
    // against the stale labelOf entry)
    val headVars = (q.paths ++ q.optPaths).flatMap(_.nodes).map(_.v).toSet
    val clash = stageMatchPaths.flatMap(_.nodes).map(_.v).toSet.intersect(headVars)
    require(clash.isEmpty,
      s"post-WITH MATCH must use fresh variables; reused: ${clash.mkString(", ")}")
    val allNodes = (q.paths ++ q.optPaths ++ stageMatchPaths).flatMap(_.nodes)
    // Label inference (round 10): a prop-referenced var left unlabeled
    // in every pattern takes the fixed endpoint label of a single-type
    // hop it sits on (EdgeSchema). Before this, such vars were
    // uid-only-bound and their prop reads failed loudly — inference
    // only makes previously-refused queries run, never changes a
    // working plan. Explicit labels and the preSeed var's label win.
    val needProps = propVars(q)
    val inferred: Map[String, String] =
      (q.paths ++ q.optPaths ++ stageMatchPaths).flatMap { path =>
        path.rels.zipWithIndex.flatMap { case (rp, i) =>
          if (rp.types.size != 1) Nil
          else EdgeSchema.get(rp.types.head).toSeq.flatMap { case (srcL, dstL) =>
            val here = path.nodes(i)
            val next = path.nodes(i + 1)
            val (srcV, dstV) = if (rp.reversed) (next.v, here.v) else (here.v, next.v)
            Seq(srcV -> srcL, dstV -> dstL)
          }
        }
      }.filter { case (v, _) => needProps.contains(v) }.toMap
    val labelOf: Map[String, String] =
      inferred ++ preSeed.map(s => s._1 -> s._2).toMap ++
        allNodes.flatMap(n => n.label.map(n.v -> _)).toMap
    def nodeDf(v: String): DataFrame = {
      val lbl = labelOf.getOrElse(v,
        throw new IllegalArgumentException(s"variable $v is never labeled in MATCH"))
      val d = nodes(spark, dir, lbl)
      d.columns.foldLeft(d)((acc, c) => acc.withColumnRenamed(c, s"${v}_$c"))
    }
    var df: DataFrame = preSeed.map(_._3).orNull
    var bound = preSeed.fold(Set.empty[String])(s => Set(s._1))
    // inline {prop:'v'} filters apply AT BIND TIME, not after all the
    // joins: the predicate reaches the node scan, and every subsequent
    // hop expands only the filtered frontier (load-bearing for the
    // seed-anchored var-length expansion below)
    val inlineOf: Map[String, (String, String)] =
      allNodes.flatMap(n => n.inlineProp.map(n.v -> _)).toMap
    // Var-length relationship filters (round 11): `-[r:CO_OCCURS*1..2]->`
    // with `WHERE r.weight >= k` (or the proper `ALL(x IN r WHERE …)`)
    // filters EVERY traversed edge — r binds a LIST of relationships
    // in Cypher, so per-edge predicates are the only readable form.
    // The filters route onto the hop's edge table BEFORE varLenExpand
    // (expansion then runs on the filtered, usually much sparser edge
    // layer — at scale this is the difference between expanding the
    // strong subgraph and expanding everything to filter after), and
    // the variable is NOT projectable downstream (no single r.prop
    // value exists for a multi-edge path).
    val varLenRelVars: Set[String] =
      (q.paths ++ q.optPaths ++ stageMatchPaths).flatMap(_.rels)
        .filter(r => r.varLen.isDefined && r.variable.isDefined)
        .flatMap(_.variable).toSet
    def refsVarLenRel(p: Pred): Boolean = p match {
      case NumPred(v, _, _, _) => varLenRelVars.contains(v)
      case EqPred(v, _, _) => varLenRelVars.contains(v)
      case NeqPred(v, _, _) => varLenRelVars.contains(v)
      case StrPred(v, _, _, _) => varLenRelVars.contains(v)
      case StrCmpPred(v, _, _, _) => varLenRelVars.contains(v)
      case LowerPred(v, _, _, _) => varLenRelVars.contains(v)
      case RegexPred(v, _, _) => varLenRelVars.contains(v)
      case InPred(v, _, _) => varLenRelVars.contains(v)
      case IsNullPred(v, _, _) => varLenRelVars.contains(v)
      case EqColPred(v, _, _) => varLenRelVars.contains(v)
      case OrPred(ps) => ps.exists(refsVarLenRel)
      case NotPred(p0) => refsVarLenRel(p0)
      case _ => false
    }
    val (vlPreds, wherePreds) = q.where.partition(refsVarLenRel)
    val hopFilters: Map[String, Seq[NumPred]] = vlPreds.map {
      case np: NumPred => np
      case other => throw new IllegalArgumentException(
        s"only numeric r.prop comparisons (or ALL(x IN r WHERE x.prop <op> n)) " +
          s"can filter a var-length relationship variable: $other")
    }.groupBy(_.v)
    require(!q.stages.flatMap {
        case wc: WithClause => wc.preds
        case wm: WithMatch => wm.preds
        case _ => Nil
      }.exists(refsVarLenRel),
      "var-length relationship filters must live in the head WHERE " +
        "(the relationship list does not survive a WITH stage)")
    locally {
      def itemRefs(it: RetItem): Seq[String] = it match {
        case PropItem(v, _, _) => Seq(v)
        case TypeItem(r, _) => Seq(r)
        case CountItem(v, _, _, _) => Seq(v)
        case CollectItem(v, _, _, _) => Seq(v)
        case SumItem(v, _, _) => Seq(v)
        case AggFnItem(_, v, _, _) => Seq(v)
        case CoalesceItem(v, _, _, _) => Seq(v)
        case MapItem(v, entries, _) => v +: entries.map(_._2._1).toSeq
        case ConcatItem(parts, _) => parts.collect { case Right((w, _)) => w }
        case _ => Nil
      }
      val stageItems = q.stages.flatMap {
        case wc: WithClause => wc.items
        case _ => Nil
      }
      val projected = (q.ret ++ stageItems).flatMap(itemRefs).toSet
        .intersect(varLenRelVars)
      require(projected.isEmpty,
        s"var-length relationship variables are not projectable " +
          s"(a path binds a LIST of relationships): ${projected.mkString(", ")} " +
          "— filter with r.prop in WHERE instead")
    }
    /** Bind `v` by joining its node table (with its inline `{prop:…}`
      * filter applied at the scan), or uid-only when it is labeled
      * nowhere. A variable reached by a hop skips this join and binds
      * from the edge row — its uid, and its key-derived properties off
      * the edge's raw key column — when the join cannot change the
      * result (rowBound):
      *   1. its written or inferred label is the hop's fixed endpoint
      *      label (GraphMeta.hopEnds), so a wrong label still joins
      *      and still returns no row;
      *   2. that label's node table is unique per uid and holds every
      *      endpoint its edges emit (GraphMeta.rowProps), so the join
      *      neither drops nor repeats a row — except NULL uids, which
      *      the edge-row bind filters out as the inner join did;
      *   3. every property the query reads of it derives from the key
      *      (Source name/type/url, the entity and Topic names), or it
      *      is a Chunk and no Chunk property is read.
      * Article always joins: a repeated doc_id repeats its uid, and
      * the join's row multiplicity must survive.
      */
    def bind(v: String, joinType: String = "inner"): Unit = if (!bound.contains(v)) {
      if (df != null && !labelOf.contains(v) && !inlineOf.contains(v)) {
        // uid-only variable (`(x)` labeled nowhere): its rows come
        // entirely from the edge column — there is no node table to
        // join, and none is needed (the edge type fixes the node set)
        bound += v
      } else {
        val nd = inlineOf.get(v).fold(nodeDf(v)) { case (prop, value) =>
          nodeDf(v).filter(col(s"${v}_$prop") === value)
        }
        df = if (df == null) nd else df.join(nd, Seq(s"${v}_uid"), joinType)
        bound += v
      }
    }
    val reads: Map[String, Set[String]] = propReads(q).groupMap(_._1)(_._2)
    /** The endpoints of hop `rp` (src → dst) that bind from its edge
      * row under bind's three rules, as (side, variable) with side
      * "src" or "dst". Only a new variable without an inline filter
      * qualifies; multi-type hops keep every join; a var-length hop
      * binds only its far end this way, and only with no zero-length
      * leg (that leg's row is the seed's, not an edge's).
      */
    def rowBound(rp: RelPat, srcV: String, dstV: String): Seq[(String, String)] =
      if (rp.types.size != 1 || srcV == dstV) Nil
      else GraphMeta.hopEnds(rp.types.head, labelOf.get(dstV)).toSeq.flatMap {
        case (srcL, dstL) => Seq(("src", srcV, srcL), ("dst", dstV, dstL)).collect {
          case (side, v, l) if !bound.contains(v) && !inlineOf.contains(v) &&
              labelOf.get(v).contains(l) &&
              GraphMeta.rowProps.get(l).exists(p =>
                reads.getOrElse(v, Set.empty).subsetOf(p.map(_._1).toSet)) &&
              rp.varLen.forall { case (lo, _) => side == "dst" && lo >= 1 } =>
            side -> v
        }
      }
    /** Walk a pattern list, joining each hop. outer=true (OPTIONAL
      * MATCH): edge and node joins are left_outer, so unmatched rows
      * survive with NULL uids/props — Cypher's optional semantics.
      * A first path whose head binds from its first hop's edge row
      * (rowBound) starts the frame at that edge table.
      */
    def processPaths(pathSeq: Seq[PathPat], outer: Boolean): Unit = {
      val joinType = if (outer) "left_outer" else "inner"
      // forward: here -R-> next; reversed: next -R-> here
      def hopVars(path: PathPat, i: Int): (String, String) =
        if (path.rels(i).reversed) (path.nodes(i + 1).v, path.nodes(i).v)
        else (path.nodes(i).v, path.nodes(i + 1).v)
      pathSeq.foreach { path =>
        val headFromRow = df == null && path.rels.nonEmpty && {
          val (srcV, dstV) = hopVars(path, 0)
          rowBound(path.rels.head, srcV, dstV).exists(_._2 == path.nodes.head.v)
        }
        if ((df == null && !headFromRow) || path.rels.isEmpty) {
          require(df == null || bound.contains(path.nodes.head.v),
            s"pattern starting at ${path.nodes.head.v} is disconnected (cartesian product)")
          require(!outer || bound.contains(path.nodes.head.v),
            s"OPTIONAL MATCH must start at a bound variable, not ${path.nodes.head.v}")
          bind(path.nodes.head.v)
        }
        path.rels.zipWithIndex.foreach { case (rp, i) =>
          val here = path.nodes(i)
          val next = path.nodes(i + 1)
          val (srcV, dstV) = hopVars(path, i)
          val dstLbl = labelOf.get(dstV)
          def plainEdge(t: String): DataFrame =
            keyedEdges(spark, dir, t, dstLbl.getOrElse(
              if (t == "MENTIONS")
                throw new IllegalArgumentException(
                  s"variable $dstV is never labeled in MATCH (MENTIONS needs a label)")
              else ""))
          val base: DataFrame =
            if (rp.types.size > 1)
              // multi-type `[:A|B]`: union of the per-type edge tables
              // with the type tag riding (read via type(r))
              rp.types.map(t => plainEdge(t)
                  .select(col("src_uid"), col("dst_uid"), lit(t).as("type")))
                .reduce(_ unionByName _)
            else if (rp.variable.isDefined)
              edgesWithProps(spark, dir, rp.types.head, dstLbl)
            else plainEdge(rp.types.head)
          val fromRow = rowBound(rp, srcV, dstV)
          val ends = Seq("src_uid", "dst_uid") ++
            fromRow.map(_._1 + "_key").filter(base.columns.contains)
          val expanded = rp.varLen.fold(base) { case (lo, hi) =>
            val seed = if (df != null && bound.contains(srcV))
              Some(df.select(col(s"${srcV}_uid").as("src_uid")).distinct())
            else None
            // per-edge filters on the bound relationship variable
            // apply to the edge TABLE, before any composition — every
            // traversed edge satisfies them (Cypher's ALL(x IN r …));
            // expansion then runs on the filtered layer. The edge
            // table is projected to its endpoints either way: a
            // var-length row has no single rel-property value, and
            // varLenExpand's leg union needs uniform columns (the
            // multi-type union carries a type tag that must not ride).
            val filtered = rp.variable.fold(base) { rv =>
              hopFilters.getOrElse(rv, Seq.empty).foldLeft(base) { (acc, np) =>
                require(acc.columns.contains(np.prop),
                  s"relationship ${rp.types.mkString("|")} has no property " +
                    s"'${np.prop}' to filter $rv on")
                acc.filter(cmp(col(np.prop), np.op, np.value))
              }
            }
            varLenExpand(filtered.select(ends.map(col): _*), lo, hi, seed)
          }
          // a bound relationship variable prefixes every non-endpoint
          // column (`r_weight`, `r_type`) so r.prop / type(r) compile
          // like node properties; without one the extras are dropped.
          // An endpoint bound from the edge row takes its key-derived
          // properties from the key column (NULL-guarded under OPTIONAL
          // MATCH; an inner hop drops its NULL endpoints, as the node
          // join did); every other key column is dropped.
          val endCols = Set("src_uid", "dst_uid", "src_key", "dst_key")
          val rels = rp.variable.toSeq.flatMap(rv =>
            expanded.columns.filterNot(endCols).map(c => col(c).as(s"${rv}_$c")))
          val props = fromRow.flatMap { case (side, v) =>
            val uid = col(s"${side}_uid")
            GraphMeta.rowProps(labelOf(v)).map { case (p, f) =>
              val c = f(col(s"${side}_key"))
              (if (outer) when(uid.isNotNull, c) else c).as(s"${v}_$p")
            }
          }
          val nonNull = if (outer) Nil else fromRow.map(r => col(s"${r._1}_uid").isNotNull)
          val e = nonNull.foldLeft(expanded)(_ filter _)
            .select(Seq(col("src_uid").as(s"${srcV}_uid"),
              col("dst_uid").as(s"${dstV}_uid")) ++ rels ++ props: _*)
          val newVars = Seq(here.v, next.v).filterNot(bound.contains)
          require(!outer || newVars.forall(v => !inlineOf.contains(v)),
            "inline property filters on OPTIONAL MATCH variables are unsupported " +
              "(a post-join filter would delete the unmatched rows)")
          val joinKeys = Seq(here.v, next.v).filter(bound.contains).map(v => s"${v}_uid")
          require(joinKeys.nonEmpty || df == null,
            s"hop ${here.v}-[:${rp.types.mkString("|")}]-${next.v} is disconnected from bound variables $bound")
          df = if (df == null) e else df.join(e, joinKeys, joinType)
          bound ++= fromRow.map(_._2)
          newVars.foreach(bind(_, joinType))
        }
      }
    }
    processPaths(q.paths, outer = false)
    processPaths(q.optPaths, outer = true)
    def cmp(c: Column, op: String, value: Long): Column = op match {
      case "<" => c < value
      case "<=" => c <= value
      case ">" => c > value
      case ">=" => c >= value
      case "=" => c === value
      case "<>" => c =!= value
    }
    /** Compile a `{ MATCH … [WHERE …] }` subquery body into its own
      * pipeline frame (one row PER MATCH, so COUNT can aggregate it
      * and EXISTS can semi-join it), projected to the uid columns of
      * the variables shared with the outer MATCH — Cypher's
      * correlation-by-name. Anchoring: a body path whose written head
      * is an unlabeled SHARED var but whose tail carries a label is
      * REVERSED, so the pipeline binds from the (small) labeled node
      * table and the shared var rides uid-only on its edge column —
      * the outer rows are already label-filtered, so re-joining the
      * outer var's often corpus-sized node table inside the body
      * would be pure waste at scale. Outer labels are inherited only
      * where the body genuinely needs a node table: its anchor (the
      * first path's head), prop-referenced vars, and MENTIONS
      * destinations (that edge table is stored label-partitioned).
      */
    def subFrame(paths0: Seq[PathPat], preds: Seq[Pred],
        avail: String => Boolean = bound.contains): (DataFrame, Seq[String]) = {
      val paths1 = paths0.map { p =>
        if (p.rels.nonEmpty && p.nodes.head.label.isEmpty &&
            avail(p.nodes.head.v) && p.nodes.last.label.isDefined)
          PathPat(p.nodes.reverse,
            p.rels.reverse.map(r => r.copy(reversed = !r.reversed)))
        else p
      }
      val shared = paths1.flatMap(_.nodes.map(_.v)).distinct.filter(avail)
      require(shared.nonEmpty,
        "a { MATCH … } subquery must share a variable with the outer MATCH " +
          "(an uncorrelated subquery gate would be a cartesian product)")
      val draft = Query(paths = paths1, optPaths = Seq.empty, where = preds,
        stages = Seq.empty, retDistinct = false,
        ret = shared.map(v => PropItem(v, "uid", Some(s"${v}_uid"))),
        orderBy = Seq.empty, limit = None)
      val mentionsDsts = paths1.flatMap(p => p.rels.zipWithIndex.collect {
        case (rp, i) if rp.types == Seq("MENTIONS") =>
          if (rp.reversed) p.nodes(i).v else p.nodes(i + 1).v
      }).toSet
      val needLabel = propVars(draft) ++ mentionsDsts + paths1.head.nodes.head.v
      val paths = paths1.map(p => p.copy(nodes = p.nodes.map(nd =>
        if (nd.label.isEmpty && needLabel.contains(nd.v) && labelOf.contains(nd.v))
          nd.copy(label = Some(labelOf(nd.v)))
        else nd)))
      (compile(spark, dir, draft.copy(paths = paths)), shared.map(v => s"${v}_uid"))
    }
    def predCol(p: Pred): Column = p match {
      case InPred(v, pr, vals) => col(s"${v}_$pr").isin(vals.map(lit): _*)
      case EqPred(v, pr, value) => col(s"${v}_$pr") === value
      case EqColPred(v, pr, ref) => col(s"${v}_$pr") === col(ref)
      case NeqPred(v, pr, value) => col(s"${v}_$pr") =!= value
      case StrPred(v, pr, op, value) => op match {
        case "CONTAINS" => col(s"${v}_$pr").contains(value)
        case "STARTS WITH" => col(s"${v}_$pr").startsWith(value)
        case "ENDS WITH" => col(s"${v}_$pr").endsWith(value)
      }
      case LowerPred(v, pr, op, value) =>
        val c = lower(col(s"${v}_$pr"))
        op match {
          case "CONTAINS" => c.contains(value)
          case "STARTS WITH" => c.startsWith(value)
          case "ENDS WITH" => c.endsWith(value)
          case "=" => c === value
          case "<>" => c =!= value
        }
      case RegexPred(v, pr, pat) => col(s"${v}_$pr").rlike(s"^(?:$pat)$$")
      case NumPred(v, pr, op, value) => cmp(col(s"${v}_$pr"), op, value)
      case BarePred(n, op, value) => cmp(col(n), op, value)
      case IsNullPred(v, prop, negated) =>
        val c = col(s"${v}_${prop.getOrElse("uid")}")
        if (negated) c.isNotNull else c.isNull
      case OrPred(ps) => ps.map(predCol).reduce(_ || _)
      case NotPred(p) => !predCol(p)
      case StrCmpPred(v, pr, op, value) =>
        val c = col(s"${v}_$pr")
        op match {
          case "<" => c < value
          case "<=" => c <= value
          case ">" => c > value
          case ">=" => c >= value
        }
      case _: NotPatPred => throw new IllegalArgumentException(
        "NOT (pattern) is only supported as a top-level AND conjunct")
      case _: ExistsPatPred => throw new IllegalArgumentException(
        "(pattern) predicates are only supported as top-level AND conjuncts")
      case _: ExistsSubPred => throw new IllegalArgumentException(
        "EXISTS { MATCH … } subqueries are only supported as top-level AND conjuncts")
      case _: CountSubPred => throw new IllegalArgumentException(
        "COUNT { MATCH … } comparisons are only supported as top-level " +
          "AND conjuncts of a WHERE")
    }
    // UNWIND: the literal list becomes a tiny broadcast relation; the
    // WHERE predicates referencing its alias are the join condition
    // (each list element fans out its matching rows — Cypher's row
    // semantics), the rest stay ordinary filters.
    // wherePreds, not q.where: the var-length relationship filters
    // were consumed by the hop expansion above
    val (uwPreds, restPreds) = q.unwind match {
      case Some((_, alias)) => wherePreds.partition {
        case EqColPred(_, _, ref) => ref == alias
        case _ => false
      }
      case None => (Seq.empty[Pred], wherePreds)
    }
    q.unwind.foreach { case (vals, alias) =>
      require(uwPreds.nonEmpty, s"UNWIND alias $alias is never referenced in WHERE")
      val uw = spark.createDataset(vals)(org.apache.spark.sql.Encoders.STRING).toDF(alias)
      df = df.join(broadcast(uw), uwPreds.map(predCol).reduce(_ && _))
    }
    restPreds.foreach {
      // negative pattern: LEFT ANTI join the bound rows against the
      // hop's source side (dst prop/label filters applied before the
      // distinct, so the anti side stays edge-sized, never row-sized)
      case NotPatPred(v, rel, dstLabel, dstProp) =>
        require(bound.contains(v), s"NOT pattern references unbound variable $v")
        val e = edges(spark, dir, rel, dstLabel)
        val hop = dstProp.fold(e) { case (p, value) =>
          e.join(nodes(spark, dir, dstLabel).filter(col(p) === value)
            .select(col("uid").as("dst_uid")), "dst_uid")
        }
        df = df.join(hop.select(col("src_uid").as(s"${v}_uid")).distinct(),
          Seq(s"${v}_uid"), "left_anti")
      // positive pattern: the dual shape — LEFT SEMI against the same
      // edge-sized hop side (never a fan-out join: exists() must not
      // multiply rows the way a MATCH hop would)
      case ExistsPatPred(v, rel, dstLabel, dstProp) =>
        require(bound.contains(v), s"exists pattern references unbound variable $v")
        val e = edges(spark, dir, rel, dstLabel)
        val hop = dstProp.fold(e) { case (p, value) =>
          e.join(nodes(spark, dir, dstLabel).filter(col(p) === value)
            .select(col("uid").as("dst_uid")), "dst_uid")
        }
        df = df.join(hop.select(col("src_uid").as(s"${v}_uid")).distinct(),
          Seq(s"${v}_uid"), "left_semi")
      // FULL existential subquery (round 10): the body compiles as
      // its own join pipeline — the SAME compile, recursively —
      // projected to the uid columns of the variables it shares with
      // the outer MATCH (Cypher correlation-by-name), and the outer
      // rows LEFT SEMI (EXISTS) or LEFT ANTI (NOT EXISTS) join it.
      // Semi/anti never fan out, so outer multiplicity matches Neo4j
      // exactly regardless of how many body matches exist; the body
      // frame is edge-sized (its own hops filter it), never
      // outer-row-sized. Shared vars the body leaves unlabeled
      // inherit the OUTER label — same variable, same node.
      case ExistsSubPred(paths0, preds, negated) =>
        val (body, keys) = subFrame(paths0, preds)
        df = df.join(body, keys, if (negated) "left_anti" else "left_semi")
      // COUNT subquery comparison: the body's grouped match count
      // LEFT OUTER joins in (absent → 0) and the comparison filters —
      // the grouped side is one row per shared binding, so the join
      // never fans out
      case CountSubPred(paths0, preds, op, n) =>
        val (body, keys) = subFrame(paths0, preds)
        df = df.join(body.groupBy(keys.map(col): _*)
            .agg(count(lit(1)).as("__cntsub_w")), keys, "left_outer")
          .filter(cmp(coalesce(col("__cntsub_w"), lit(0L)), op, n))
          .drop("__cntsub_w")
      case p => df = df.filter(predCol(p))
    }
    // ordinary-MATCH path variable (round 11): the bound pattern's
    // structure, resolved for length(p)/nodes(p)/bare-p items
    def pathOf(v: String): PathPat = {
      require(q.pathVar.contains(v),
        s"$v is not a bound path variable (write MATCH $v = (…)…)")
      q.paths.head
    }
    def pathValueCol(p0: PathPat): Column = {
      val parts = Seq(lit("("), col(s"${p0.nodes.head.v}_uid"), lit(")")) ++
        p0.rels.zipWithIndex.flatMap { case (rp, i) =>
          val t = rp.types.mkString("|")
          val open = if (rp.reversed) s"<-[:$t]-(" else s"-[:$t]->("
          Seq(lit(open), col(s"${p0.nodes(i + 1).v}_uid"), lit(")"))
        }
      concat(parts: _*)
    }
    def outName(it: RetItem): String = it match {
      case PropItem(v, p, a) => a.getOrElse(s"${v}_$p")
      case CountItem("*", _, a, _) => a.getOrElse("count_all")
      case CountItem(v, _, a, p) =>
        a.getOrElse(p.fold(s"count_$v")(pp => s"count_${v}_$pp"))
      case CoalesceItem(v, p, _, a) => a.getOrElse(s"coalesce_${v}_$p")
      case CollectItem(v, p, a, _) =>
        a.getOrElse(p.fold(s"collect_$v")(pp => s"collect_${v}_$pp"))
      case SumItem(v, p, a) =>
        a.getOrElse(p.fold(s"sum_$v")(pp => s"sum_${v}_$pp"))
      case AggFnItem(fn, v, p, a) =>
        a.getOrElse(p.fold(s"${fn}_$v")(pp => s"${fn}_${v}_$pp"))
      case MapItem(v, _, a) => a.getOrElse(s"${v}_map")
      case ConcatItem(_, a) => a.getOrElse("concat")
      case CountSubItem(_, _, a, i, asBool) =>
        a.getOrElse(if (asBool) s"exists_sub$i" else s"count_sub$i")
      case BareItem(n, a) => a.getOrElse(n)
      case PathFnItem(fn, v, a) => a.getOrElse(s"${fn}_$v")
      case TypeItem(r, a) => a.getOrElse(s"type_$r")
      case LabelsItem(v, a) => a.getOrElse(s"labels_$v")
      case CaseItem(_, _, _, a) => a.getOrElse("case_when")
    }
    def itemCol(it: RetItem): Column = it match {
      case PropItem(v, p, _) => col(s"${v}_$p").as(outName(it))
      case CoalesceItem(v, p, default, _) =>
        coalesce(col(s"${v}_$p"), default).as(outName(it))
      case MapItem(_, entries, _) =>
        to_json(struct(entries.map { case (k, (w, p)) =>
          col(s"${w}_$p").as(k) }: _*)).as(outName(it))
      case ConcatItem(parts, _) =>
        // props cast to string (Cypher's string + int concatenates);
        // NULL poisons the whole value on both engines
        concat(parts.map {
          case Left(l) => lit(l)
          case Right((w, p)) => col(s"${w}_$p").cast("string")
        }: _*).as(outName(it))
      case c: CountSubItem =>
        // the grouped body count was LEFT OUTER joined in before
        // projection (see the q.ret pass below); absent → 0; the
        // EXISTS spelling projects the boolean count > 0
        val cnt = coalesce(col(s"__cntsub_${c.idx}"), lit(0L))
        (if (c.asBool) cnt > 0 else cnt).as(outName(it))
      case BareItem(n, _) if q.pathVar.contains(n) =>
        // whole-path projection: Neo4j's interleaved node-rel path
        // value over the pattern's constant shape — pure column
        // concatenation, no extra joins
        pathValueCol(pathOf(n)).as(outName(it))
      case BareItem(n, _) => col(n).as(outName(it))
      case PathFnItem(fn, v, _) =>
        val p0 = pathOf(v)
        (fn match {
          case "length" => lit(p0.rels.size.toLong)
          case "nodes" =>
            concat_ws("->", p0.nodes.map(n => col(s"${n.v}_uid")): _*)
        }).as(outName(it))
      case TypeItem(r, _) => col(s"${r}_type").as(outName(it))
      case LabelsItem(v, _) =>
        val lbl = labelOf.getOrElse(v, throw new IllegalArgumentException(
          s"labels($v): variable $v is never labeled in MATCH"))
        lit(s"""["$lbl"]""").as(outName(it))
      case CaseItem(whens, elseVal, numeric, _) =>
        def l(s: String): Column = if (numeric) lit(s.toLong) else lit(s)
        val chained = whens.tail.foldLeft(
          when(predCol(whens.head._1), l(whens.head._2))) {
          case (acc, (p, v)) => acc.when(predCol(p), l(v))
        }
        elseVal.fold(chained)(v => chained.otherwise(l(v))).as(outName(it))
      case other => throw new IllegalArgumentException(
        s"aggregate item $other outside aggregation context")
    }
    // count(v)/collect(v) aggregate the node's uid; a variable with no
    // `v_uid` column is a bare alias carried out of an earlier WITH
    // stage, aggregated directly (`sum(n_chunks)`).
    def varCol(v: String, prop: Option[String]): Column = prop match {
      case Some(p) => col(s"${v}_$p")
      case None if df.columns.contains(s"${v}_uid") => col(s"${v}_uid")
      case None => col(v)
    }
    def aggCol(it: RetItem): Option[Column] = it match {
      case it @ CountItem("*", distinct, _, _) =>
        require(!distinct, "count(DISTINCT *) is not Cypher")
        Some(count(lit(1)).as(outName(it)))
      case it @ CountItem(v, distinct, _, prop) =>
        val c = varCol(v, prop)
        Some((if (distinct) countDistinct(c) else count(c)).as(outName(it)))
      case it @ CollectItem(v, prop, _, distinct) =>
        val arr = collect_list(varCol(v, prop).cast("string"))
        Some(concat_ws(" | ",
          array_sort(if (distinct) array_distinct(arr) else arr)).as(outName(it)))
      case it @ SumItem(v, prop, _) =>
        Some(sum(varCol(v, prop)).as(outName(it)))
      case it @ AggFnItem(fn, v, prop, _) =>
        val c = varCol(v, prop)
        Some((fn match {
          case "min" => min(c)
          case "max" => max(c)
          case "avg" => round(avg(c), 6)
        }).as(outName(it)))
      case _ => None
    }
    // ORDER BY key → output column resolution, shared by WITH-stage
    // top-N clauses and the final ORDER BY: a prop/bare key resolves
    // to the (possibly aliased) output column; an aggregate key
    // resolves to the structurally-matching aggregate item (the sort
    // runs AFTER the aggregation, so a non-emitted aggregate has no
    // column to sort on — loud error, not a guess)
    def resolveOrder(keys: Seq[(RetItem, Boolean)], items: Seq[RetItem]): Seq[Column] = {
      def anonItem(it: RetItem): RetItem = it match {
        case c: CountItem => c.copy(alias = None)
        case c: SumItem => c.copy(alias = None)
        case c: AggFnItem => c.copy(alias = None)
        // idx is the item's RETURN position — an ORDER BY key parsed
        // standalone carries the default 0, so strip both for the
        // structural match
        case c: CountSubItem => c.copy(alias = None, idx = 0)
        case other => other
      }
      keys.map { case (o, desc) =>
        val name = o match {
          case p: PropItem =>
            items.collectFirst {
              case PropItem(v, pp, Some(a)) if v == p.v && pp == p.prop => a
              case BareItem(n, Some(a)) if p.v.isEmpty && n == p.prop => a
            }.getOrElse(if (p.v.isEmpty) p.prop else s"${p.v}_${p.prop}")
          case agg =>
            items.collectFirst {
              case it if anonItem(it) == anonItem(agg) => outName(it)
            }.getOrElse(throw new IllegalArgumentException(
              s"ORDER BY aggregate has no matching RETURN item: $agg"))
        }
        if (desc) col(name).desc else col(name)
      }
    }
    // WITH pipeline stages, in order: DISTINCT-dedup, or implicit
    // grouping over carried vars (their full column sets when node
    // variables — functionally dependent on the uid — or the single
    // column when a bare alias from an earlier stage) + plain props,
    // then the post-aggregation WHERE (Cypher's HAVING), then the
    // stage's own ORDER BY + LIMIT (the mid-pipeline top-N — compiled
    // as orderBy+limit, which Spark plans as TakeOrdered, never a
    // full sort)
    q.stages.foreach {
      case wm: WithMatch =>
        // two-phase expand: compile the fresh patterns as their own
        // join pipeline (the SAME hop machinery — df/bound swap out
        // for the sub-build), then join back to the carried stage
        // output on the `v.prop = <carried alias>` equalities; the
        // carried side is tiny post-aggregation (top-N), so Catalyst
        // broadcasts it into the pattern scan
        val carried = df
        df = null
        val boundBefore = bound
        bound = Set.empty
        processPaths(wm.paths, outer = false)
        val sub = df
        bound = bound ++ boundBefore
        val (eqJoins, rest) = wm.preds.partition {
          case EqColPred(_, _, ref) => carried.columns.contains(ref)
          case _ => false
        }
        require(eqJoins.nonEmpty,
          "post-WITH MATCH must join back via v.prop = <carried alias> " +
            "(otherwise the stage is a cartesian product)")
        val cond = eqJoins.map { case EqColPred(v, p, ref) =>
          sub(s"${v}_$p") === carried(ref)
          case p => throw new IllegalStateException(s"non-equality join pred: $p")
        }.reduce(_ && _)
        df = carried.join(sub, cond)
        rest.foreach(p => df = df.filter(predCol(p)))
      case WithDistinct(v) =>
        df = df.select(df.columns.filter(_.startsWith(s"${v}_")).map(col).toSeq: _*).distinct()
      case wc: WithClause =>
        val aggs = wc.items.flatMap(aggCol)
        val keys: Seq[Column] =
          wc.vars.flatMap { v =>
            val pref = df.columns.filter(_.startsWith(s"${v}_"))
            if (pref.nonEmpty) pref.toSeq.map(col)
            else if (df.columns.contains(v)) Seq(col(v))
            else throw new IllegalArgumentException(s"unknown WITH variable $v")
          } ++ wc.items.collect { case it: PropItem => itemCol(it) }
        df =
          if (aggs.isEmpty) df.select(keys: _*)
          else if (keys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
          else df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
        // stage-level EXISTS/COUNT subqueries (round 10): legal in a
        // WITH WHERE when the correlated variable was carried through
        // the stage (its `v_uid` columns survive the aggregation) —
        // "top articles, now only those that mention X". The post-agg
        // frame is small, so Catalyst broadcasts it into the body's
        // semi/anti/grouped join.
        val (subPreds, plainPreds) = wc.preds.partition {
          case _: ExistsSubPred | _: CountSubPred => true
          case _ => false
        }
        plainPreds.foreach(p => df = df.filter(predCol(p)))
        subPreds.foreach {
          case ExistsSubPred(ps, prs, neg) =>
            val (body, jk) = subFrame(ps, prs,
              v => df.columns.contains(s"${v}_uid"))
            df = df.join(body, jk, if (neg) "left_anti" else "left_semi")
          case CountSubPred(ps, prs, op, n) =>
            val (body, jk) = subFrame(ps, prs,
              v => df.columns.contains(s"${v}_uid"))
            df = df.join(body.groupBy(jk.map(col): _*)
                .agg(count(lit(1)).as("__cntsub_s")), jk, "left_outer")
              .filter(cmp(coalesce(col("__cntsub_s"), lit(0L)), op, n))
              .drop("__cntsub_s")
          case _ => ()
        }
        if (wc.orderBy.nonEmpty)
          df = df.orderBy(resolveOrder(wc.orderBy, wc.items): _*)
        wc.limit.foreach(n => df = df.limit(n))
    }
    // COUNT { MATCH … } RETURN items (round 10): each body's grouped
    // match count joins in as a PER-ROW scalar column before the
    // projection/grouping (Neo4j semantics: a subquery expression,
    // not an aggregate — alongside aggregates it becomes a grouping
    // key like any plain prop). The grouped side is one row per
    // shared binding, so the join never fans out.
    q.ret.foreach {
      case it: CountSubItem =>
        // correlate on the columns that actually SURVIVED the WITH
        // pipeline, not the head-pattern bound set — a head var a
        // stage aggregated away must not resolve (Neo4j would treat
        // it as fresh; we refuse loudly via subFrame's shared check)
        val (body, keys) = subFrame(it.paths, it.preds,
          v => df.columns.contains(s"${v}_uid"))
        df = df.join(body.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as(s"__cntsub_${it.idx}")), keys, "left_outer")
      case _ => ()
    }
    val aggExprs: Seq[Column] = q.ret.flatMap(aggCol)
    if (aggExprs.nonEmpty) {
      // Cypher's implicit grouping: plain props (and map projections /
      // WITH aliases) alongside aggregates become the grouping keys
      val keys = q.ret.collect {
        case it: PropItem => itemCol(it)
        case it: MapItem => itemCol(it)
        case it: ConcatItem => itemCol(it)
        case it: CountSubItem => itemCol(it)
        case it: BareItem => itemCol(it)
        case it: PathFnItem => itemCol(it)
        case it: CoalesceItem => itemCol(it)
        case it: TypeItem => itemCol(it)
        case it: LabelsItem => itemCol(it)
        case it: CaseItem => itemCol(it)
      }
      df = if (keys.isEmpty) df.agg(aggExprs.head, aggExprs.tail: _*)
        else df.groupBy(keys: _*).agg(aggExprs.head, aggExprs.tail: _*)
      df = df.select(q.ret.map(it => col(outName(it))): _*)
    } else {
      df = df.select(q.ret.map(itemCol): _*)
      if (q.retDistinct) df = df.distinct()
    }
    if (q.orderBy.nonEmpty)
      df = df.orderBy(resolveOrder(q.orderBy, q.ret): _*)
    // SKIP compiles to Dataset.offset — with LIMIT it lands as one
    // GlobalLimit(skip+limit)/offset pair in the plan, so the sort
    // above still runs as TakeOrdered(skip+limit), never a full sort
    q.skip.foreach(n => df = df.offset(n))
    q.limit.foreach(n => df = df.limit(n))
    df
  }

  // ---------- the CALL forms ----------

  /** The two CALL heads, each written once and composed into
    * VecCallRe, FtRe and HybridRe. The vector head's groups are
    * (index, k, parameter); the fulltext head's are (index, query,
    * optional limit). Both end at `YIELD node, score `.
    */
  private val VecHead =
    """CALL\s+db\.index\.vector\.queryNodes\(\s*'([^']+)'\s*,\s*(\d+)\s*,\s*\$(\w+)\s*\)\s+""" +
      """YIELD\s+node\s*,\s*score\s+"""
  private val FtHead =
    """CALL\s+db\.index\.fulltext\.queryNodes\(\s*'([^']+)'\s*,\s*'([^']+)'\s*""" +
      """(?:,\s*\{\s*limit\s*:\s*(\d+)\s*\})?\s*\)\s+YIELD\s+node\s*,\s*score\s+"""

  // ---------- CALL db.index.vector.queryNodes (round 10) ----------

  /** The literal vector-retrieval query the reference serves EVERY
    * question with: langchain's Neo4jVector composes `CALL
    * db.index.vector.queryNodes($index, $k, $embedding) YIELD node,
    * score` with the user's retrieval_query suffix
    * (vector_index.ipynb retrieval_query cell) — the vector twin of
    * the round-9 fulltext CALL. The $embedding parameter stays a
    * PARAMETER in the query text (exactly what Neo4j receives — the
    * binding is driver-side) and resolves to the engine's
    * deterministic probe (the vec_id-0 embedding, the same probe
    * every vector operator serves); k inlines as the literal the
    * driver substitutes (similarity_search(k=5)). The suffix after
    * `WITH node AS <v>, score` compiles through the ORDINARY
    * grammar with <v> pre-bound to the scored top-k seed, so any
    * retrieval_query a user writes composes — not just the
    * reference's.
    */
  private val VecCallRe =
    ("(?is)^" + VecHead + """WITH\s+node\s+AS\s+(\w+)\s*,\s*score\s+(MATCH\s.*)$""").r

  /** The vector CALL's arguments, checked once for the vector and
    * hybrid forms: the index, k ∈ [1, 1000] and the `$embedding`
    * parameter. Returns k.
    */
  private def vectorK(index: String, k: String, param: String): Int = {
    require(index.equalsIgnoreCase("chunkEmbedding"),
      s"unknown vector index '$index' (the reference creates chunkEmbedding)")
    require(param == "embedding",
      s"unknown vector parameter $$$param — the serving loop binds $$embedding")
    k.toIntOption.filter(n => n >= 1 && n <= 1000)
      .getOrElse(throw new IllegalArgumentException(s"unsupported vector top-k $k"))
  }

  /** Compiles the vector CALL: brute-force cosine top-k against the
    * probe (Similarity.vectorQueryTopk — broadcast probe + TakeOrdered,
    * the same plan qCosineTopk serves), collected on the driver and
    * attached to each document's representative chunk (the synthetic
    * corpus embeds one vector per document; the Chunk-label node the
    * reference's chunkEmbedding index holds), then the
    * retrieval_query suffix compiled over that k-row seed
    * (retrievalSuffix). Output order is Neo4jVector's score-descending
    * with remaining columns as the deterministic tiebreak.
    */
  private def runVector(spark: SparkSession, dir: String, m: Regex.Match): DataFrame =
    retrievalSuffix(spark, dir, vectorLeg(spark, dir, vectorK(m.group(1), m.group(2), m.group(3))),
      m.group(4), m.group(5))

  /** The vector CALL's top-k as (representative chunk uid, score),
    * score-descending — k rows, collected on the driver.
    */
  private def vectorLeg(spark: SparkSession, dir: String, k: Int): Seq[(String, Double)] =
    graft.operators.Similarity.vectorQueryTopk(spark, dir, k).collect().toSeq.map(r =>
      (if (r.isNullAt(0)) null else s"Chunk:${r.getLong(0)}:0", r.getDouble(1)))

  /** The retrieval_query suffix over a driver-side seed: `seed`'s
    * (uid, score) rows become a local relation broadcast-joined to the
    * Chunk node table, bound to `v`, and the suffix compiles through
    * the ORDINARY grammar with that binding — so any retrieval_query a
    * user writes composes, not just the reference's. The vector and
    * hybrid CALLs share this one seed shape, so they compile the same
    * suffix plan (and reuse its generated classes).
    */
  private def retrievalSuffix(spark: SparkSession, dir: String,
      seed: Seq[(String, Double)], v: String, suffix: String): DataFrame = {
    val chunk = nodes(spark, dir, "Chunk")
    val local = spark.createDataFrame(
      java.util.Arrays.asList(seed.map { case (u, s) => Row(u, s) }: _*), SeedSchema)
    val bound = broadcast(local).join(chunk, Seq("uid"))
      .select(chunk.columns.map(c => col(c).as(s"${v}_$c")).toSeq :+ col("score"): _*)
    val out = compile(spark, dir, parseOne(suffix.trim), Some((v, "Chunk", bound)))
    require(out.columns.contains("score"),
      "a vector or hybrid CALL's RETURN must carry score through (Neo4jVector reads it)")
    // the seed holds at most k ≤ 1000 rows and the client receives all
    // of them: one partition sorted in place, not a range-partitioned
    // global sort (whose bounds need their own sampling job)
    out.repartition(1).sortWithinPartitions(col("score").desc +:
      out.columns.filterNot(_ == "score").map(col).toSeq: _*)
  }

  private val SeedSchema = StructType(Seq(
    StructField("uid", StringType), StructField("score", DoubleType)))

  // ---------- CALL db.index.fulltext.queryNodes (round 9) ----------

  /** The literal entity-lookup query the reference's serving loop
    * issues before EVERY question (graph.py:158-166, taken verbatim
    * from the langchain neo4j-semantic template) — with the bound
    * parameters inlined the way the driver substitutes them:
    * `CALL db.index.fulltext.queryNodes('<index>', '<w>~0.8 AND …',
    * {limit: k}) YIELD node, score RETURN node.uid AS uid,
    * node.<prop> AS <alias>, labels(node)[0] AS label, score`. The
    * third argument is optional (Neo4j defaults to unlimited; the
    * reference always passes limit=10). Round 11: the projected
    * property generalizes from `name` so the TEXT indexes
    * (chunkText/articleTitle) can serve the same CALL — the property
    * must be the one the index scores (anything else would imply a
    * second node read the CALL does not perform).
    */
  private val FtRe =
    ("(?i)^" + FtHead +
      """RETURN\s+node\.uid\s+AS\s+uid\s*,\s*node\.(\w+)\s+AS\s+(\w+)\s*,\s*""" +
      """labels\(node\)\[0\]\s+AS\s+label\s*,\s*score$""").r

  /** One fulltext term: `word~threshold` (generate_full_text_query,
    * utils.py:51-61 appends ~0.8 to every word and joins with AND).
    */
  private val FtTermRe = """^(.+?)~(0?\.\d+|1(?:\.0+)?)$""".r

  /** Resolve a fulltext index name against the schema metadata —
    * unknown names refuse loudly, listing what exists.
    */
  private def ftIndex(name: String): GraphMeta.FtIndex =
    GraphMeta.ftIndexes.getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(
        s"unknown fulltext index '$name' (expected one of " +
          s"${GraphMeta.ftIndexes.keys.toSeq.sorted.mkString(", ")})"))

  /** Parse a fulltext query string into plain words: fuzzy
    * `word~0.8 AND …` terms (the entity-lookup format
    * generate_full_text_query emits) unwrap to their words; for TEXT
    * indexes a plain whitespace query (the format langchain's hybrid
    * keyword leg passes through remove_lucene_chars) is also legal.
    * Name indexes REQUIRE the fuzzy form — a plain string there is
    * the serving loop miscomposing its own template, worth refusing.
    */
  private def ftWords(idx: GraphMeta.FtIndex, q: String): Seq[String] = {
    val words = q.split("""(?i)\s+AND\s+""").toSeq.map {
      case FtTermRe(w, _) => w.trim
      case t if idx.kind == GraphMeta.TextBm25 => t.trim
      case t => throw new IllegalArgumentException(
        s"fulltext term '$t' is not of the word~threshold form")
    }.flatMap(_.split("\\s+")).filter(_.nonEmpty)
    require(words.nonEmpty, "empty fulltext query")
    words
  }

  /** BM25 top-`limit` of a TEXT index's nodes for `words` — the
    * Lucene stand-in on document-length properties (same k1/b and
    * formula as q_passage_rank, over the index's node table). Output:
    * (uid, score) — the caller joins the text back for projection, so
    * document text never rides a shuffle.
    *
    * Two passes over the node table, however many words: one global
    * aggregate returns the corpus statistics (node count, average
    * length, each distinct query word's document frequency) as one
    * driver row; one scan then scores every node as a fixed-order sum
    * over the words, with those statistics as literals, keeps the nodes
    * with at least one hit and cuts the global top through TakeOrdered.
    * No posting stream is exploded, grouped or joined, so the keyword
    * leg costs the aggregate's two jobs plus the TakeOrdered one.
    *
    * Scores are per uid. A Chunk uid is unique by construction (one
    * chunk per (doc_id, chunk_id) group). Any other label's node table
    * repeats a uid when its source repeats a key, so its aggregate
    * counts distinct uids; if a uid does repeat, the scan merges term
    * frequencies per (uid, length) and sums the scores per uid.
    */
  private[graft] def textIndexTopk(spark: SparkSession, dir: String,
      idx: GraphMeta.FtIndex, words: Seq[String], limit: Int): DataFrame = {
    import graft.operators.Retrieval.{Bm25B, Bm25K1}
    val qw = words.distinct
    val tf = qw.indices.map(i => s"tf$i")
    val toks = split(col(idx.prop), " ")
    val nd = nodes(spark, dir, idx.label)
      .select(col("uid") +: size(toks).cast("double").as("dl") +:
        qw.zip(tf).map { case (w, t) => size(filter(toks, _ === lit(w))).as(t) }: _*)
    val hit = tf.map(t => col(t) > 0)
    val keyed = idx.label == "Chunk"
    val st = nd.agg(count(lit(1)).cast("double"), avg(col("dl")) +:
        (if (keyed) hit.map(count_if)
         else hit.map(h => countDistinct(when(h, col("uid")))) :+
           (count(lit(1)) =!= countDistinct(col("uid")))): _*)
      .first()
    val repeats = !keyed && st.getBoolean(2 + qw.size)
    def term(i: Int): Column = {
      val df = lit(st.getLong(2 + i))
      log((lit(st.getDouble(0)) - df + 0.5) / (df + 0.5) + 1.0) *
        (col(tf(i)) * (Bm25K1 + 1.0)) /
        (col(tf(i)) + lit(Bm25K1)
          * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / lit(st.get(1))))
    }
    val hits = nd.filter(hit.reduce(_ || _))
    val tfSums = tf.map(t => sum(t).as(t))
    val perDl = if (repeats) hits.groupBy("uid", "dl").agg(tfSums.head, tfSums.tail: _*)
      else hits
    val scored = perDl.select(col("uid"), qw.indices.map(term).reduce(_ + _).as("s"))
    val perUid = if (repeats) scored.groupBy("uid").agg(sum("s").as("s")) else scored
    perUid.select(col("uid"), round(col("s"), 6).as("score"))
      .orderBy(col("score").desc, col("uid"))
      .limit(limit)
  }

  /** Compiles the fulltext CALL. Name indexes score through
    * q_entity_candidates' scoring (NewsGraph.fulltextScore — 0.5·token
    * Jaccard + 0.5·(1 − normalized Levenshtein), the stand-in for
    * Lucene's per-word fuzzy AND ranking): reconstruct the probe from
    * the fuzzy terms, score every node of the index's label, keep the
    * global top-`limit` by (score DESC, name, uid) — TakeOrdered over
    * the label's name dimension, never a sort of it. TEXT indexes
    * (round 11) score through textIndexTopk's BM25 with (score DESC,
    * uid) determinism. Both are deterministic where Lucene's tie-order
    * is not: the oracle replays the order exactly.
    */
  private def runFulltext(spark: SparkSession, dir: String, m: Regex.Match): DataFrame = {
    val idx = ftIndex(m.group(1))
    require(m.group(4) == idx.prop,
      s"RETURN node.${m.group(4)} does not read the '${m.group(1)}' " +
        s"index's scored property '${idx.prop}'")
    val alias = m.group(5)
    val words = ftWords(idx, m.group(2))
    val limit = Option(m.group(3)).map(_.toInt).getOrElse(10)
    idx.kind match {
      case GraphMeta.NameFuzzy =>
        val probe = words.mkString(" ")
        nodes(spark, dir, idx.label)
          .select(col("uid"), col("name").as(alias),
            lit(idx.label).as("label"),
            NewsGraph.fulltextScore(lit(probe), col("name")).as("score"))
          .orderBy(col("score").desc, col(alias), col("uid"))
          .limit(limit)
      case GraphMeta.TextBm25 =>
        val top = textIndexTopk(spark, dir, idx, words, limit)
        val nd = nodes(spark, dir, idx.label)
          .select(col("uid"), col(idx.prop).as(alias))
        broadcast(top).join(nd, "uid")
          .select(col("uid"), col(alias), lit(idx.label).as("label"), col("score"))
          .orderBy(col("score").desc, col("uid"))
    }
  }

  // ---------- the literal HYBRID retrieval composition (round 11) ----------

  /** The query langchain's Neo4jVector issues for EVERY
    * `search_type='hybrid'` search (the reference's hybrid cell,
    * vector_index.ipynb): a CALL {} subquery UNIONing the vector CALL
    * and the keyword CALL, each leg's scores divided by the LEG MAX
    * (collect → max → UNWIND — max-score normalization, so the two
    * scorers' scales become comparable), deduplicated per node by
    * max(score), cut to the top k, then composed with the user's
    * retrieval_query suffix exactly like the pure-vector path.
    * Parameters inlined as the driver binds them; $embedding stays
    * the parameter name.
    */
  private val HybridRe = {
    val leg = """WITH\s+collect\(\{\s*node\s*:\s*node\s*,\s*score\s*:\s*score\s*\}\)\s+AS\s+nodes""" +
      """\s*,\s*max\(score\)\s+AS\s+max\s+UNWIND\s+nodes\s+AS\s+n\s+""" +
      """RETURN\s+n\.node\s+AS\s+node\s*,\s*\(n\.score\s*/\s*max\)\s+AS\s+score"""
    ("""(?is)^CALL\s*\{\s*""" + VecHead + leg + """\s+UNION\s+""" + FtHead + leg + """\s*\}\s*""" +
      """WITH\s+node\s*,\s*max\(score\)\s+AS\s+score\s+ORDER\s+BY\s+score\s+DESC\s+LIMIT\s+(\d+)\s+""" +
      """WITH\s+node\s+AS\s+(\w+)\s*,\s*score\s+(MATCH\s.*)$""").r
  }

  /** Compiles the hybrid composition: the vector leg is the SAME
    * serving seed as runVector (vectorLeg — Similarity.vectorQueryTopk,
    * broadcast probe + TakeOrdered); the keyword leg is the TEXT-index
    * BM25 top-k (textIndexTopk over the chunkText index — the Lucene
    * stand-in the r10 verdict asked to open to this CALL). Both legs
    * are collected on the driver (≤ k and ≤ limit rows) and fused
    * there (fuseLegs); the fused top-k seeds the retrieval suffix
    * exactly like the pure-vector path. Determinism where Neo4j leaves
    * ties unspecified: per-leg tiebreaks ride the leg top-ks, fusion
    * breaks ties by (score DESC, uid), and the suffix output orders
    * score-descending with the remaining columns as tiebreak —
    * exactly what the oracle replays.
    */
  private def runHybrid(spark: SparkSession, dir: String, m: Regex.Match): DataFrame = {
    val k = vectorK(m.group(1), m.group(2), m.group(3))
    val kwIdx = ftIndex(m.group(4))
    require(kwIdx.kind == GraphMeta.TextBm25 && kwIdx.label == "Chunk",
      s"hybrid keyword leg needs a TEXT index over Chunk nodes, not '${m.group(4)}'")
    val words = ftWords(kwIdx, m.group(5))
    val kwLimit = Option(m.group(6)).map(_.toInt).getOrElse(k)
    val fusedK = m.group(7).toInt
    // the legs are independent reads: collect them overlapped
    val legs = Overlap.all(Seq(
      () => vectorLeg(spark, dir, k),
      () => textIndexTopk(spark, dir, kwIdx, words, kwLimit).collect().toSeq
        .map(r => (r.getString(0), r.getDouble(1)))))
    retrievalSuffix(spark, dir, fuseLegs(legs, fusedK), m.group(8), m.group(9))
  }

  /** Max-score fusion of the hybrid legs, in driver code with the
    * arithmetic of the Spark plan it replaces: each leg's scores are
    * divided by the leg max and rounded like Spark's `round(x, 6)` on a
    * double (HALF_UP on the decimal string); the legs are reduced per
    * uid by max; the top `k` survive by (score DESC, uid ASC) in
    * Spark's orderings — doubles with NaN largest and ±0 equal, strings
    * by UTF-8 bytes with NULL first. A leg whose max is 0 raises
    * [DIVIDE_BY_ZERO], as the ANSI division did; an empty leg adds
    * nothing.
    */
  private[graft] def fuseLegs(legs: Seq[Seq[(String, Double)]], k: Int): Seq[(String, Double)] = {
    def cmpScore(a: Double, b: Double): Int = if (a == b) 0 else java.lang.Double.compare(a, b)
    def cmpUid(a: String, b: String): Int =
      if (a == null || b == null) (if (a == null) 0 else 1) - (if (b == null) 0 else 1)
      else UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
    def round6(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    def maxOf(a: Double, b: Double): Double = if (cmpScore(a, b) >= 0) a else b
    val scored = legs.filter(_.nonEmpty).flatMap { leg =>
      val mx = leg.map(_._2).reduce(maxOf)
      if (mx == 0.0) throw org.apache.spark.sql.graft.shims.divideByZero()
      leg.map { case (u, s) => (u, round6(s / mx)) }
    }
    scored.groupMapReduce(_._1)(_._2)(maxOf).toSeq
      .sortWith { case ((ua, sa), (ub, sb)) =>
        val c = cmpScore(sb, sa)
        if (c != 0) c < 0 else cmpUid(ua, ub) < 0
      }
      .take(k)
  }

  // ---------- the path-function front (shortestPath / allShortestPaths) ----------

  /** One RETURN item of a path call: `fn(v) AS alias`, or a bare `v`
    * (fn None; the column is named after it). `key` is the item as the
    * kernel table writes it, on the path variable `p`.
    */
  private[graft] final case class PathItem(fn: Option[String], v: String, alias: String) {
    def key: String = fn.fold("p")(f => s"$f(p)")
  }

  /** A parsed `MATCH p = fn((a:L {name:'x'})-[:R*lo..hi]-(b:L
    * {name:'y'})) RETURN items`: the one head every path form shares,
    * with the RETURN items in written order.
    */
  private[graft] final case class PathCall(fn: String, pathVar: String,
      srcLabel: String, srcName: String, rel: String, lo: Int, hi: Int,
      dstLabel: String, dstName: String, items: Seq[PathItem]) {
    def srcUid: String = s"$srcLabel:$srcName"
    def dstUid: String = s"$dstLabel:$dstName"
  }

  private val PathClaimRe = """^MATCH\s+\w+\s*=\s*(shortestPath|allShortestPaths)\(""".r
  private val PathCallRe =
    ("""(?s)^MATCH\s+(\w+)\s*=\s*(?:shortestPath|allShortestPaths)\(\(\w+:(\w+)\s*\{name:\s*'([^']*)'\}\)""" +
      """-\[:(\w+)\*(\d+)\.\.(\d+)\]-\(\w+:(\w+)\s*\{name:\s*'([^']*)'\}\)\)\s+RETURN\s+(.*)$""").r
  private val PathItemRe = """^(\w+)\(\s*(\w+)\s*\)(?:\s+(?i:AS)\s+(\w+))?$""".r

  /** Parse a path-function query, without Spark. None when the text's
    * MATCH is not `p = shortestPath(` or `p = allShortestPaths(`; for
    * those it returns the PathCall or throws an IllegalArgumentException
    * that names the function and what it could not read.
    */
  private[graft] def parsePathCall(cypher: String): Option[PathCall] =
    PathClaimRe.findPrefixMatchOf(cypher).map(_.group(1)).map { fn =>
      def fail(what: String) = throw new IllegalArgumentException(s"$fn: $what")
      cypher match {
        case PathCallRe(p, srcLabel, srcName, rel, lo, hi, dstLabel, dstName, ret) =>
          def bound(b: String) = b.toIntOption.getOrElse(fail(s"unreadable bound $b in *$lo..$hi"))
          val items = splitTop(ret).map {
            case PathItemRe(f, v, alias) =>
              if (alias == null) fail(s"RETURN $f($v) needs an alias (AS name)")
              PathItem(Some(f), v, alias)
            case v if v.matches("""\w+""") => PathItem(None, v, v)
            case item => fail(s"unsupported RETURN item '$item'")
          }
          PathCall(fn, p, srcLabel, srcName, rel, bound(lo), bound(hi), dstLabel, dstName, items)
        case _ => fail(s"unsupported pattern; expected MATCH p = $fn((a:Label " +
          "{name:'x'})-[:REL*1..hi]-(b:Label {name:'y'})) RETURN …")
      }
    }

  /** A path kernel: the frame one path call compiles to and, per item
    * key, the column that item returns.
    */
  private type PathKernel = (SparkSession, String, PathCall) => (DataFrame, Map[String, Column])

  /** One row of the kernel table: a path function, the set of item
    * keys its RETURN holds, and the kernel that serves them.
    */
  private final case class PathForm(fn: String, items: Set[String], kernel: PathKernel)

  /** `RETURN length(p)` / `RETURN wlength(p)` — Neo4j's shortest-path
    * function between two anchored nodes, the "how are X and Y
    * connected" primitive graph-RAG asks constantly. Undirected hop
    * syntax (`-…-`): the stored edge tables are both-direction.
    *
    * Compiled as bounded BFS (Loops.relaxMin, the loop qShortestPath
    * runs — min distances only tighten, hi rounds), seeded at the
    * a-anchor, then filtered to the b-anchor with the minimum path
    * length — NOT the var-length path unroll: shortestPath needs only
    * the distance, so enumerating every path (deg^hi of them) to keep
    * one would be the wrong plan at any scale; frontier BFS carries
    * one row per reached node. No row when b is unreachable within hi
    * (Cypher returns no match). hi beyond the unroll's *..2 bound is
    * fine here for the same reason.
    *
    * `wlength(p)` is the WEIGHTED shortest path: minimum path COST over
    * the reciprocal-weight edge length 1000000 div weight (stronger tie
    * → shorter edge — qWeightedShortestPath's exact cost rule), relaxed
    * by `hi` Bellman-Ford rounds of the same loop. Neo4j reaches this
    * through GDS Dijkstra; CypherLite exposes it as wlength() on the
    * shortestPath pattern so "how STRONGLY are X and Y connected"
    * composes with the r.weight property. Only the weighted
    * relationship supports it (pathKernel checks).
    *
    * An edge list within Loops.DriverMaxEdges relaxes on the driver
    * ([[uidDistances]]). A larger one cuts the loop state with eager
    * barriers: the first read of a lazily cut state can run inside a
    * broadcast exchange while adaptive execution submits a map stage
    * over the same RDD, and that pair once deadlocked the DAG
    * scheduler on the checkpoint's lock.
    */
  private def spDistance(weighted: Boolean): PathKernel = (spark, dir, c) => {
    val e = if (!weighted) edges(spark, dir, c.rel, c.dstLabel)
      else edgesWithProps(spark, dir, c.rel, None)
        .selectExpr("src_uid", "dst_uid", "1000000 div weight AS cost")
    val atDst = col("node") === c.dstUid
    (uidDistances(c.srcUid, c.hi, weighted)(e.barrier(false))
      .filter(if (weighted) atDst else atDst && col("dist") >= c.lo),
      Map((if (weighted) "wlength(p)" else "length(p)") -> col("dist")))
  }

  /** (node, dist BIGINT) from `seed` within `rounds` relaxations over a
    * barriered (src_uid, dst_uid) edge list of unit hops or, when
    * `weighted`, a (src_uid, dst_uid, cost) one.
    */
  private[graft] def uidDistances(seed: String, rounds: Int, weighted: Boolean) = Loops.Plans(
    local = (spark, rows) => Loops.frame(spark, "node STRING, dist BIGINT",
      Loops.relaxMinLocal(rows.map(r => (r.getString(0), r.getString(1),
        if (weighted) r.getLong(2) else 1L)), seed, rounds).map { case (n, d) => Row(n, d) }),
    distributed = e => Loops.relaxMin(e, "src_uid", "dst_uid", seed, zero = lit(0L),
      len = if (weighted) col("cost") else lit(1L), rounds = rounds, every = 3, eager = true))

  /** Bare `RETURN p` (round 11) — the whole-path projection: Neo4j's
    * interleaved node-relationship path value, the last witness form
    * a graph-RAG answer renderer requests ("show the connection,
    * edges and all"). Rendered as
    * `(uid)-[:REL{weight:w}]->(uid)-…` — by construction the exact
    * composition of nodes(p) (the witness node sequence, canonical
    * lexicographic-min predecessors) and relationships(p) (the
    * per-step rel tokens, weight riding for the weighted
    * relationship) — CypherLiteSpec pins that identity against the
    * decomposed forms. Weightless relationships render `-[:REL]->`.
    *
    * Compiled as the SAME witness BFS as nodes(p) (witnessPathArr —
    * frontier-delta layers + canonical min-pred walk-back), then one
    * broadcast join of the ≤hi consecutive node pairs against the
    * property edge table for the relationship tokens, re-assembled in
    * step order. The pair join broadcasts the (≤hi)-row pair side
    * against one edge scan — never a path enumeration, and the render
    * work is O(path length).
    */
  private def spPathValue: PathKernel = (spark, dir, c) => {
    val wp = witnessPathArr(spark, edges(spark, dir, c.rel, c.dstLabel), c.srcUid, c.dstUid, c.lo, c.hi)
      .barrier(false) // ≤1 row; the pair explode + head render read it
    val pairs = wp.select(posexplode(expr(
        "transform(sequence(0, int(size(path)) - 2), " +
          "i -> struct(path[i] AS a, path[i + 1] AS b))")).as(Seq("pos", "st")))
      .select(col("pos"), col("st.a").as("a"), col("st.b").as("b"))
    val segs = if (c.rel == "CO_OCCURS")
        edgesWithProps(spark, dir, c.rel, None)
          .select(col("src_uid").as("a"), col("dst_uid").as("b"), col("weight"))
          .join(broadcast(pairs), Seq("a", "b"))
          .select(col("pos"), concat(lit(s"-[:${c.rel}{weight:"),
            col("weight").cast("string"), lit("}]->("), col("b"), lit(")")).as("seg"))
      else pairs.select(col("pos"), concat(lit(s"-[:${c.rel}]->("), col("b"), lit(")")).as("seg"))
    val tail = segs.agg(concat_ws("",
      transform(array_sort(collect_list(struct(col("pos"), col("seg")))),
        s => s.getField("seg"))).as("tail"))
    (wp.select(concat(lit("("), element_at(col("path"), 1), lit(")")).as("head"))
      .crossJoin(broadcast(tail)),
      Map("p" -> concat(col("head"), col("tail"))))
  }

  /** The seven path forms, keyed by the function and the set of item
    * keys; the header of this file lists them.
    */
  private val PathForms: Seq[PathForm] = Seq(
    PathForm("shortestPath", Set("length(p)"), spDistance(weighted = false)),
    PathForm("shortestPath", Set("wlength(p)"), spDistance(weighted = true)),
    PathForm("shortestPath", Set("length(p)", "nodes(p)"), (spark, dir, c) =>
      (witnessPathOn(spark, edges(spark, dir, c.rel, c.dstLabel), c.srcUid, c.dstUid, c.lo, c.hi),
        Map("length(p)" -> col("len"), "nodes(p)" -> col("path")))),
    PathForm("shortestPath", Set("p"), spPathValue),
    PathForm("shortestPath", Set("wlength(p)", "nodes(p)", "relationships(p)"), (spark, dir, c) =>
      (weightedWitnessOn(spark,
        edgesWithProps(spark, dir, c.rel, None).select("src_uid", "dst_uid", "weight"),
        c.rel, c.srcUid, c.dstUid, c.hi),
        Map("wlength(p)" -> col("wcost"), "nodes(p)" -> col("path"),
          "relationships(p)" -> col("rels")))),
    PathForm("allShortestPaths", Set("length(p)", "count(p)"), (spark, dir, c) =>
      (bfsFrom(spark, edges(spark, dir, c.rel, c.dstLabel).barrier(false), c.srcUid, c.hi,
          countPaths = true)
        .filter(col("node") === c.dstUid && col("dist") >= c.lo && col("dist") <= c.hi),
        Map("length(p)" -> col("dist").cast("long"), "count(p)" -> col("cnt")))),
    PathForm("allShortestPaths", Set("length(p)", "count(p)", "nodes(p)"), (spark, dir, c) =>
      (aspPathsOn(spark, edges(spark, dir, c.rel, c.dstLabel), c.srcUid, c.dstUid, c.lo, c.hi),
        Map("length(p)" -> col("len"), "count(p)" -> col("n_paths"), "nodes(p)" -> col("path")))))

  /** The kernel for a parsed path call, after the front's checks — each
    * made once: every item reads the path variable; the bounds `*lo..hi`
    * have a minimal length of 1 (Neo4j rejects anything but 0 or 1 for
    * these functions, and the BFS keeps only each node's minimum
    * distance, so a filter on `lo > 1` would silently drop endpoints
    * closer than `lo`) and at most 8 hops; wlength reads a weighted
    * relationship. Runs no Spark; an unsupported item set names the
    * function and lists the supported ones.
    */
  private[graft] def pathKernel(c: PathCall): PathKernel = {
    def fail(what: String) = throw new IllegalArgumentException(s"${c.fn}: $what")
    c.items.find(_.v != c.pathVar).foreach(i => fail(
      s"RETURN ${i.fn.fold(i.v)(f => s"$f(${i.v})")} must reference the path variable ${c.pathVar}"))
    if (c.lo != 1 || c.hi < 1 || c.hi > 8) fail(s"unsupported bounds *${c.lo}..${c.hi} " +
      "(the minimal length must be 1, the maximal 1 to 8)")
    if (c.items.exists(_.fn.contains("wlength")) && c.rel != "CO_OCCURS")
      fail(s"wlength needs a weighted relationship, not ${c.rel}")
    def set(keys: Set[String]) = keys.mkString("{", ", ", "}")
    val keys = c.items.map(_.key).toSet
    PathForms.find(f => f.fn == c.fn && f.items == keys).map(_.kernel).getOrElse(
      fail(s"RETURN ${set(keys)} is not supported; the supported item sets are " +
        PathForms.filter(_.fn == c.fn).map(f => set(f.items)).mkString(", ")))
  }

  /** Compiles a parsed path call: its kernel's frame, projected to the
    * items in written order under their aliases.
    */
  private def compilePath(spark: SparkSession, dir: String, c: PathCall): DataFrame = {
    val (df, cols) = pathKernel(c)(spark, dir, c)
    df.select(c.items.map(i => cols(i.key).as(i.alias)): _*)
  }

  /** `shortestPath … RETURN length(p) AS l, nodes(p) AS path` — the
    * WITNESS form (round 9): the "SHOW me how X and Y are connected"
    * answer a graph-RAG context actually renders, where length() alone
    * only said how far. Cypher returns SOME shortest path; CypherLite
    * pins the canonical lexicographic-min witness so the oracle can
    * replay it cross-engine: every node's predecessor is its
    * minimal-uid neighbor one BFS layer closer to the seed, and the
    * path walks those predecessors back from the target.
    *
    * Scale shape: the BFS is the layered frontier loop (bfsFrom — one
    * equi-join + anti-join per round); predecessors come from ONE extra
    * edge join against the settled distance table (min aggregate —
    * never a path enumeration, deg^hi of which would be the wrong plan
    * anywhere); the walk-back is `hi` 1-row⋈V lookups on the
    * checkpointed predecessor table. nodes(p) renders as the
    * '->'-joined uid string (the engine's array-valued collect
    * convention).
    *
    * This core takes an explicit both-direction edge table, so
    * PropertySpec can drive it over GENERATED graphs (the fixed corpus
    * can't produce tie/disconnection shapes on demand). Output: (len:
    * long, path: '->'-joined uid string). The bounds are the caller's
    * to check (pathKernel).
    */
  private[graft] def witnessPathOn(spark: SparkSession, e0: DataFrame,
      srcUid: String, dstUid: String, lo: Int, hi: Int): DataFrame =
    witnessPathArr(spark, e0, srcUid, dstUid, lo, hi)
      .select(col("len"), concat_ws("->", col("path")).as("path"))

  /** witnessPathOn's core with the node sequence still an ARRAY —
    * the whole-path projection (bare `RETURN p`, round 11) needs the
    * elements to interleave relationship tokens between.
    */
  private def witnessPathArr(spark: SparkSession, e0: DataFrame,
      srcUid: String, dstUid: String, lo: Int, hi: Int): DataFrame = {
    val e = e0.barrier(false)
    // Frontier + anti-join BFS (round 10, per the r9 verdict): the
    // previous shape re-unioned and re-aggregated the ENTIRE settled
    // dist table per round (Σ|settled_i|·deg); the layered BFS expands
    // only the newly-reached frontier (Σ|frontier_i|·deg) — for
    // unit-cost BFS a node's first-reach layer IS its min distance, so
    // the tables are identical by construction.
    // (the BFS result is already checkpointed; the cast is lazy)
    val dist = bfsFrom(spark, e, srcUid, hi, countPaths = false)
      .select(col("node"), col("dist").cast("long").as("dist"))
    // Canonical predecessor: the minimal-uid neighbor one layer
    // closer. A BFS layer's frontier is exactly the dist=i-1 set, so
    // this post-hoc join equals carrying min-pred through the loop —
    // and costs one edge join instead of per-round state.
    val byDist = dist.select(col("node").as("sn"), col("dist").as("sd"))
    val preds = dist.join(e, dist("node") === e("dst_uid"))
      .join(byDist, col("src_uid") === col("sn") && col("sd") === col("dist") - 1L)
      .groupBy(col("node")).agg(min(col("src_uid")).as("pred"))
      .barrier(false)
    var w = dist.filter(col("node") === dstUid && col("dist") >= lo)
      .select(col("dist").as("len"), col("node").as("cur"),
        array(col("node")).as("path"))
    for (s <- 1 to hi) {
      // fresh column names per step: re-joining one DataFrame
      // instance in a loop leaves ambiguous/stale references
      val lk = preds.select(col("node").as(s"pn$s"), col("pred").as(s"pp$s"))
      w = w.join(lk, w("cur") === col(s"pn$s"), "left")
        .select(col("len"),
          coalesce(col(s"pp$s"), col("cur")).as("cur"),
          when(col(s"pp$s").isNotNull,
            concat(array(col(s"pp$s")), col("path")))
            .otherwise(col("path")).as("path"))
    }
    w.select(col("len"), col("path"))
  }

  /** `shortestPath … RETURN wlength(p) AS c, nodes(p) AS path,
    * relationships(p) AS rels` — the WEIGHTED witness (round 10): "how
    * STRONGLY are X and Y connected, step by step". The wcost is
    * exactly wlength's (same Bellman-Ford min over the
    * reciprocal-weight cost 1000000 div weight); the witness is pinned
    * canonical so the oracle replays it: each node's final predecessor
    * is the min (cost, pred-uid) candidate across all relaxations —
    * carried IN-LOOP as a struct-min (unlike the unit-cost witness, a
    * post-hoc "one layer closer" join does not exist for costs:
    * hop-bounded Bellman-Ford tables need not satisfy the optimality
    * equation edge-wise). relationships(p) renders each traversed edge
    * with its weight riding (`REL{weight:w}->…`), so the spec can prove
    * the weights' reciprocal costs sum to wcost.
    *
    * This core takes an explicit (src_uid, dst_uid, weight) edge table
    * — package-visible for PropertySpec's generated-graph battery.
    * Output: (wcost: long, path: '->'-joined
    * uids, rels: '->'-joined `rel{weight:w}` tokens). One row when dst
    * is reachable within hi relaxation rounds AND the canonical pred
    * chain closes within hi steps; empty otherwise (Cypher's no-match).
    *
    * Scale shape: the relaxation is the SAME one-equi-join-per-round
    * loop as wlength() with a 3-column struct-min instead of a plain
    * min (pred + edge weight ride the aggregate — never a path
    * enumeration); the walk-back is hi 1-row⋈V lookups. The edge
    * list and the loop state are cut by eager barriers (see
    * spDistance): no read inside a later plan is a lazy checkpoint's
    * first fill.
    */
  private[graft] def weightedWitnessOn(spark: SparkSession, e0: DataFrame,
      rel: String, srcUid: String, dstUid: String, hi: Int): DataFrame = {
    val e = e0.selectExpr("src_uid", "dst_uid", "weight",
        "1000000 div weight AS cost")
      .barrier()
    val dist0 = spark.range(1)
      .select(lit(srcUid).as("node"), lit(0L).as("dist"),
        lit(null).cast("string").as("pred"), lit(null).cast("long").as("pw"))
    val dist = Loops.iterate(dist0, hi, every = 3, eager = true) { dist =>
      val relaxed = dist.join(e, dist("node") === e("src_uid"))
        .select(col("dst_uid").as("node"), (col("dist") + col("cost")).as("dist"),
          dist("node").as("pred"), col("weight").as("pw"))
      // canonical rule: min (cost, pred-uid) — pw rides determined by
      // (pred, node), so the third field never decides; the seed row
      // (0, null, null) always wins its node on the first field
      dist.unionByName(relaxed)
        .groupBy("node")
        .agg(min(struct(col("dist"), col("pred"), col("pw"))).as("s"))
        .select(col("node"), col("s.dist").as("dist"),
          col("s.pred").as("pred"), col("s.pw").as("pw"))
    }
    var w = dist.filter(col("node") === dstUid && col("dist") > 0L)
      .select(col("dist").as("wcost"), col("node").as("cur"),
        array(col("node")).as("path"),
        array().cast("array<bigint>").as("wts"))
    for (s <- 1 to hi) {
      // fresh column names per step (stale-reference loop hygiene)
      val lk = dist.select(col("node").as(s"pn$s"), col("pred").as(s"pp$s"),
        col("pw").as(s"pw$s"))
      w = w.join(lk, w("cur") === col(s"pn$s"), "left")
        .select(col("wcost"),
          coalesce(col(s"pp$s"), col("cur")).as("cur"),
          when(col(s"pp$s").isNotNull,
            concat(array(col(s"pp$s")), col("path")))
            .otherwise(col("path")).as("path"),
          when(col(s"pp$s").isNotNull,
            concat(array(col(s"pw$s")), col("wts")))
            .otherwise(col("wts")).as("wts"))
    }
    w.filter(col("cur") === srcUid) // pred chain closed at the seed
      .select(col("wcost"),
        concat_ws("->", col("path")).as("path"),
        concat_ws("->", transform(col("wts"),
          x => concat(lit(s"$rel{weight:"), x.cast("string"), lit("}"))))
          .as("rels"))
  }

  /** `allShortestPaths … RETURN length(p) AS l, count(p) AS n` — how
    * many distinct shortest paths join the anchors (Neo4j's
    * allShortestPaths, consumed through the aggregate the LLM idiom
    * wraps around it: "how many ways are X and Y connected?") — is this
    * loop with countPaths, filtered to the target. Frontier i carries,
    * per node first reached at depth i, the number of depth-i paths
    * from the seed; settled nodes leave the frontier, so a node's count
    * is finalized in the one layer that reaches it. One equi-join +
    * map-side-combined sum + anti-join per round — never a path
    * enumeration (deg^hi paths would be the wrong plan at any scale;
    * the count table carries one row per node).
    *
    * Layered BFS from `seed` over a (src_uid, dst_uid) edge table: one
    * row per node first reached within `hi` hops, with its layer `dist`
    * and, when `countPaths`, its σ shortest-path count `cnt` (the sum
    * of its predecessors' counts — the recurrence betweenness uses).
    * The scalar and witness-set allShortestPaths forms run this one
    * loop, so their (length, count) pairs match by construction; the
    * dist-only form skips the per-layer sum and keeps a distinct
    * frontier.
    */
  private def bfsFrom(spark: SparkSession, e: DataFrame, seed: String, hi: Int,
      countPaths: Boolean): DataFrame = {
    val cnt = if (countPaths) Seq(col("cnt")) else Nil
    val l0 = spark.range(1)
      .select(lit(seed).as("node") +: (if (countPaths) Seq(lit(1L).as("cnt")) else Nil): _*)
    val reached0 = l0.select(col("node") +: lit(0).as("dist") +: cnt: _*).barrier(false)
    Loops.layeredBfs(l0, reached0, Seq("node"), hi)(
      { frontier =>
        val hop = frontier.join(e, frontier("node") === e("src_uid"))
        if (countPaths) hop.groupBy(col("dst_uid").as("node")).agg(sum(col("cnt")).as("cnt"))
        else hop.select(col("dst_uid").as("node")).distinct()
      },
      (layer, i) => layer.select(col("node") +: lit(i).as("dist") +: cnt: _*))
      .visited.last
  }

  /** Witness cap for the allShortestPaths node-sequence form: the
    * path COUNT between two well-connected hubs grows combinatorially
    * with the DAG's branching, so emitting every witness is the same
    * unbounded-output trap the capped dedup twins close — the bounded
    * form returns the [[AspPathCap]] lexicographically-smallest
    * witnesses plus the EXACT total count, so nothing is silently
    * lost.
    */
  val AspPathCap = 5

  /** `allShortestPaths … RETURN length(p) AS l, count(p) AS n,
    * nodes(p) AS path` — the witness-SET form (round 9, composing the
    * round-8 path counting with the round-9 witness discipline): one
    * row per returned witness, carrying the shared (length,
    * exact-count) pair.
    *
    * Enumeration would be deg^hi paths — the wrong plan at any scale.
    * Instead: forward BFS (dist + σ path counts) and reverse BFS
    * (dist only) shrink the edge set to the shortest-path DAG (edge
    * (u,v) survives iff distF(u) + 1 + distR(v) = L), then a partial-
    * path frontier expands layer by layer, cut to the
    * [[AspPathCap]] lexicographically-smallest prefixes per layer
    * (array-wise compare — element order, NOT joined-string order,
    * which space-carrying names would break). Same-layer prefixes
    * order all their completions, so the per-layer cut is exact: the
    * kept K completions ARE the K smallest witnesses. Work per layer
    * is ≤ cap·branching rows; the DAG filter guarantees every kept
    * prefix completes (no dead ends).
    *
    * This core takes an explicit both-direction edge table —
    * package-visible for PropertySpec's generated-graph battery.
    * Output: (len: long, n_paths: long, path: '->'-joined string),
    * ≤ AspPathCap rows in canonical (array-wise) order. The bounds are
    * the caller's to check (pathKernel).
    */
  private[graft] def aspPathsOn(spark: SparkSession, e0: DataFrame,
      srcUid: String, dstUid: String, lo: Int, hi: Int): DataFrame = {
    val e = e0.barrier(false)
    // forward: first-reach layer + σ path counts (the SAME loop the
    // scalar form runs — their (length, count) must match by
    // contract); reverse: layers only, the DAG filter needs no counts
    val fw = bfsFrom(spark, e, srcUid, hi, countPaths = true)
    val rv = bfsFrom(spark, e, dstUid, hi, countPaths = false)
    // the (L, n_paths) pair — empty when dst is unreachable in hi
    val lrow = fw.filter(col("node") === dstUid &&
        col("dist") >= lo && col("dist") <= hi)
      .select(col("dist").as("l"), col("cnt").as("n"))
      .barrier(false)
    // shortest-path DAG: distF(u) + 1 + distR(v) = L
    val dag = e
      .join(fw.select(col("node").as("src_uid"), col("dist").as("du")), "src_uid")
      .join(rv.select(col("node").as("dst_uid"), col("dist").as("rv_d")), "dst_uid")
      .join(broadcast(lrow), col("du") + 1 + col("rv_d") === col("l"))
      .select(col("src_uid").as("u"), col("dst_uid").as("v"), col("du"))
      .barrier(false) // read by every expansion layer
    var w = lrow.select(lit(srcUid).as("cur"),
      array(lit(srcUid)).as("path"), lit(0).as("d"))
    for (i <- 1 to hi) {
      // completed witnesses pass through (dst has no outgoing DAG
      // edges — du(dst) = L never satisfies du + 1 + rdv = L)
      val dagI = dag.filter(col("du") === i - 1)
        .select(col("u").as("cur"), col("v"))
      // broadcast the ≤cap-row frontier: on round 1 the join key is a
      // folded literal (the seed), which Catalyst rewrites to a
      // condition-less join — without the hint that plans as a
      // CartesianProduct (the node type the smoke guard forbids);
      // with it, a broadcast nested-loop over the filtered DAG layer
      val ext = broadcast(w.filter(col("cur") =!= dstUid))
        .join(dagI, "cur")
        .select(col("v").as("cur"),
          concat(col("path"), array(col("v"))).as("path"), lit(i).as("d"))
      w = w.filter(col("cur") === dstUid).unionByName(ext)
        .orderBy(col("path")).limit(AspPathCap) // per-layer prefix cut
    }
    w.filter(col("cur") === dstUid)
      .crossJoin(broadcast(lrow))
      .orderBy(col("path")) // array-wise — the canonical witness order
      .select(col("l").cast("long").as("len"),
        col("n").as("n_paths"),
        concat_ws("->", col("path")).as("path"))
  }

  /** Parse + compile: the CALL forms, then the path front, then the
    * linear grammar (UNION = distinct union of branch plans).
    */
  def run(spark: SparkSession, dir: String, cypher: String): DataFrame = {
    val text = cypher.trim
    HybridRe.findFirstMatchIn(text).map(runHybrid(spark, dir, _))
      .orElse(VecCallRe.findFirstMatchIn(text).map(runVector(spark, dir, _)))
      .orElse(FtRe.findFirstMatchIn(text).map(runFulltext(spark, dir, _)))
      .orElse(parsePathCall(text).map(compilePath(spark, dir, _)))
      .getOrElse {
        val (qs, all) = parseBranches(cypher)
        val u = qs.map(q => compile(spark, dir, q)).reduce(_ union _)
        // Cypher: UNION dedups, UNION ALL keeps duplicates
        if (all || qs.size == 1) u else u.distinct()
      }
  }

  // ---------- driver-contract queries (the chat.py examples) ----------

  val Ex1: String =
    "MATCH (a:Article)-[:CONTAINS]->(c:Chunk)-[:MENTIONS]->(o:Person) " +
      "WHERE o.name IN ['customer', 'line customer'] " +
      "RETURN DISTINCT a.uid, a.title ORDER BY a.uid LIMIT 10"

  val Ex2: String =
    "MATCH (s:Source)-[:PUBLISHED]->(a:Article)-[:CONTAINS]->(c:Chunk)-[:MENTIONS]->(o:Organization) " +
      "WHERE o.name IN ['spark group'] WITH DISTINCT s RETURN count(s)"

  val Ex3: String =
    "MATCH (c:Chunk)-[:MENTIONS]->(o:Location) WHERE o.name = 'row window' " +
      "RETURN c.uid, c.text ORDER BY c.uid LIMIT 10"

  /** Reverse arrow + inline property pattern (AUTHORED is
    * publisher-fallback authorship, crawler.py:44).
    */
  val Ex4: String =
    "MATCH (a:Article)<-[:AUTHORED]-(p:Person {name: 'src3'}) " +
      "RETURN a.uid, a.lang ORDER BY a.uid LIMIT 10"

  /** count(DISTINCT …) over a HAS_TOPIC hop. */
  val Ex5: String =
    "MATCH (a:Article)-[:HAS_TOPIC]->(t:Topic {name: 'organization'}) " +
      "RETURN count(DISTINCT a)"

  /** Numeric predicate over an article property. */
  val Ex6: String =
    "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) WHERE a.doc_id < 5 " +
      "RETURN a.uid, c.uid ORDER BY a.uid, c.uid LIMIT 20"

  /** collect() with implicit grouping + AS aliases — the reference's
    * get_chunks_from_article_ids (graph.py:131-135) compiled, not
    * hand-built.
    */
  val Ex7: String =
    "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WHERE a.uid IN ['Article:1', 'Article:3', 'Article:7'] " +
      "RETURN a.uid AS article_id, collect(c) AS chunks ORDER BY a.uid"

  /** Comma-separated multi-pattern MATCH (shared variable c) + OR. */
  val Ex8: String =
    "MATCH (a:Article)-[:CONTAINS]->(c:Chunk), (c)-[:MENTIONS]->(o:Location) " +
      "WHERE o.name = 'row' OR o.name = 'column window' " +
      "RETURN DISTINCT a.uid, c.position, o.name " +
      "ORDER BY a.uid, c.position, o.name LIMIT 15"

  /** Property-map projection — the RETURN shape of the reference's
    * vector-retrieval query (vector_index.ipynb:111: `chunk{.position,
    * .section, .category, date: a.publishing_date, url: a.url,
    * source: s.name}`), compiled over the PUBLISHED/CONTAINS chain.
    */
  val Ex9: String =
    "MATCH (s:Source)-[:PUBLISHED]->(a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WHERE a.doc_id < 3 " +
      "RETURN c.uid, c{.position, .section, .category, date: a.publishing_date, " +
      "url: a.url, source: s.name} AS metadata " +
      "ORDER BY c.uid"

  /** WITH-aggregation chaining (`WITH a, count(c) AS n WHERE n >= k`)
    * — the HAVING idiom of graph.py-style per-article rollups.
    */
  val Ex10: String =
    "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WITH a, count(c) AS n_chunks WHERE n_chunks >= 3 " +
      "RETURN a.uid, n_chunks ORDER BY a.uid LIMIT 10"

  /** Multi-stage WITH pipeline: per-article chunk counts re-aggregated
    * per source (`sum` over a carried alias), HAVING on the second
    * stage — the two-hop rollup shape (graph.py's per-article stats
    * rolled up to publishers) that needs true WITH chaining.
    */
  val Ex11: String =
    "MATCH (s:Source)-[:PUBLISHED]->(a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WITH s, a, count(c) AS n_chunks " +
      "WITH s, count(a) AS n_articles, sum(n_chunks) AS total_chunks " +
      "WHERE n_articles >= 2 " +
      "RETURN s.name, n_articles, total_chunks ORDER BY s.name LIMIT 10"

  /** Property aliasing inside WITH (`p.name AS author`) with the bare
    * alias re-used as the NEXT stage's grouping variable, and ORDER BY
    * over bare aliases.
    */
  val Ex12: String =
    "MATCH (p:Person)-[:AUTHORED]->(a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WITH p.name AS author, a, count(c) AS n " +
      "WITH author, sum(n) AS total WHERE total >= 5 " +
      "RETURN author, total ORDER BY total, author LIMIT 10"

  /** ORDER BY … DESC over an aggregated alias — the "most mentioned
    * entities" leaderboard shape every LLM-generated retrieval query
    * uses.
    */
  val Ex13: String =
    "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
      "WITH o.name AS org, count(c) AS n " +
      "RETURN org, n ORDER BY n DESC, org LIMIT 5"

  /** Variable-length path — the graph-RAG neighborhood expansion
    * (expand a seed entity to everything within 2 co-mention hops;
    * the compiled twin of q_expand_retrieval's hand-built walk).
    * n_paths counts PATHS, not endpoints — Cypher row semantics.
    */
  val Ex14: String =
    "MATCH (e:Entity {name: 'spark group'})-[:CO_OCCURS*1..2]->(o:Entity) " +
      "RETURN o.name, count(o) AS n_paths ORDER BY o.name"

  /** OPTIONAL MATCH — outer-join semantics: every chunk appears, with
    * count(o) = 0 where no person is mentioned (count skips NULLs).
    */
  val Ex15: String =
    "MATCH (c:Chunk) OPTIONAL MATCH (c)-[:MENTIONS]->(o:Person) " +
      "RETURN c.uid, count(o) AS n_persons ORDER BY c.uid LIMIT 20"

  /** UNWIND — the literal-list batch-lookup shape (the read-side twin
    * of graph.py's `UNWIND $rows` ingest pattern): each seed fans out
    * to its per-entity chunk-mention count in one compiled plan, the
    * list riding as a broadcast relation joined on the alias.
    */
  val Ex16: String =
    "UNWIND ['spark', 'group', 'table'] AS seed " +
      "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) WHERE o.name = seed " +
      "RETURN seed, count(c) AS n_chunks ORDER BY seed"

  /** Source node properties (graph.py:74 name/type/url): filter on the
    * crawl-channel type, return the site URL — the query shape the
    * Source property set exists for.
    */
  val Ex17: String =
    "MATCH (s:Source)-[:PUBLISHED]->(a:Article) WHERE s.type = 'rss' " +
      "RETURN s.name, s.url, count(a) AS n_articles ORDER BY s.name"

  /** String predicates — CONTAINS / STARTS WITH on node properties,
    * the fuzzy-ish filter shape LLM-written entity queries lean on
    * ("organizations whose name starts with…", "chunks that talk
    * about…").
    */
  val Ex18: String =
    "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
      "WHERE o.name STARTS WITH 'spark' AND c.text CONTAINS 'table' " +
      "RETURN o.name, count(c) AS n_chunks ORDER BY o.name"

  /** min/max/avg scalar aggregates with Cypher's implicit grouping —
    * per-article chunk-position stats (the "document shape profile"
    * projection).
    */
  val Ex19: String =
    "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "RETURN a.uid, min(c.position) AS first_pos, max(c.position) AS last_pos, " +
      "avg(c.position) AS avg_pos ORDER BY a.uid LIMIT 10"

  /** Negative pattern — chunks with NO person mention, counted per
    * article (the "find the un-annotated remainder" anti-join shape;
    * complements Ex15's OPTIONAL MATCH zero-count view of the same
    * relationship).
    */
  val Ex20: String =
    "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WHERE NOT (c)-[:MENTIONS]->(:Person) " +
      "RETURN a.uid, count(c) AS n_plain ORDER BY a.uid LIMIT 15"

  /** The OPTIONAL MATCH + IS NULL anti-join idiom: per organization,
    * how many of its mentioning chunks carry NO person mention (the
    * "entity coverage without attribution" view — same relationship
    * as Ex20 but anchored through a second bound pattern).
    */
  val Ex21: String =
    "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
      "OPTIONAL MATCH (c)-[:MENTIONS]->(p:Person) " +
      "WHERE p IS NULL " +
      "RETURN o.name, count(c) AS n_chunks ORDER BY o.name"

  /** SKIP — the pagination idiom (page 2 of Ex13's mention
    * leaderboard): ORDER BY + SKIP + LIMIT compile to one
    * TakeOrdered(skip+limit) prefix plus an offset, never a full sort.
    */
  val Ex22: String =
    "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
      "WITH o.name AS org, count(c) AS n " +
      "RETURN org, n ORDER BY n DESC, org SKIP 3 LIMIT 5"

  /** shortestPath between two anchored entities (the "how are X and Y
    * connected" graph-RAG primitive; target verified present at every
    * generated scale factor).
    */
  val Ex23: String =
    "MATCH p = shortestPath((a:Entity {name:'spark group'})" +
      "-[:CO_OCCURS*1..4]-(b:Entity {name:'column column'})) " +
      "RETURN length(p) AS len"

  /** WEIGHTED shortest path (round 8) — "how STRONGLY are X and Y
    * connected": wlength(p) minimizes the reciprocal-weight cost sum
    * over CO_OCCURS (qWeightedShortestPath's exact cost rule), the
    * path-function composition of the r.weight property ex24 exposed.
    */
  val ExWsp: String =
    "MATCH p = shortestPath((a:Entity {name:'spark group'})" +
      "-[:CO_OCCURS*1..6]-(b:Entity {name:'column column'})) " +
      "RETURN wlength(p) AS wcost"

  /** allShortestPaths (round 8) — "how many ways are X and Y
    * connected": shortest hop distance + the count of distinct
    * shortest paths, by layered path-counting BFS.
    */
  val ExAsp: String =
    "MATCH p = allShortestPaths((a:Entity {name:'spark group'})" +
      "-[:CO_OCCURS*1..4]-(b:Entity {name:'column column'})) " +
      "RETURN length(p) AS len, count(p) AS n_paths"

  /** The witness-SET form of ExAsp (round 9) — "SHOW me the ways X
    * and Y are connected": the AspPathCap lexicographically-smallest
    * shortest paths, each row carrying the shared (length,
    * exact-count) pair so the cap loses no information.
    */
  val ExAspPaths: String =
    "MATCH p = allShortestPaths((a:Entity {name:'spark group'})" +
      "-[:CO_OCCURS*1..4]-(b:Entity {name:'column column'})) " +
      "RETURN length(p) AS len, count(p) AS n_paths, nodes(p) AS path"

  /** The weighted witness composition of ExWsp (round 10) — "how
    * STRONGLY are X and Y connected, STEP BY STEP": wlength's minimum
    * reciprocal-weight cost, the node sequence of the canonical
    * min-cost path, and the edge sequence with each co-occurrence
    * weight riding (relationships(p) — the form that finally reads
    * r.weight through a path function).
    */
  val ExWspPath: String =
    "MATCH p = shortestPath((a:Entity {name:'spark group'})" +
      "-[:CO_OCCURS*1..6]-(b:Entity {name:'column column'})) " +
      "RETURN wlength(p) AS wcost, nodes(p) AS path, relationships(p) AS rels"

  /** Relationship variable + property — the co-occurrence weight made
    * readable through the compiled path (`-[r:CO_OCCURS]->` …
    * `r.weight`): "how STRONGLY is X connected", the graph-RAG
    * follow-up to plain neighborhood expansion that the MENTIONS/
    * CO_OCCURS property sets existed for but no query could read.
    */
  val Ex24: String =
    "MATCH (e:Entity {name: 'spark group'})-[r:CO_OCCURS]->(o:Entity) " +
      "WHERE r.weight >= 2 " +
      "RETURN o.name, r.weight AS weight ORDER BY weight DESC, o.name LIMIT 10"

  /** Multi-type hop `[:A|B]` + `type(r)` + an unlabeled uid-only
    * destination — the "what does this article link to, by edge kind"
    * profile. The union rides the type tag; `(x)` binds from the edge
    * column alone (no node table join — the edge type fixes the set).
    */
  val Ex25: String =
    "MATCH (a:Article)-[r:CONTAINS|HAS_TOPIC]->(x) " +
      "RETURN a.uid, type(r) AS rel_type, count(x) AS n " +
      "ORDER BY a.uid, rel_type LIMIT 12"

  /** labels() + CASE WHEN over relationship properties — mention-span
    * shape buckets (the MENTIONS edge's merged positions, graph.py:
    * 96-131, finally read: multiword spans vs single tokens, with the
    * earliest span position per bucket).
    */
  val Ex26: String =
    "MATCH (c:Chunk)-[r:MENTIONS]->(p:Person) " +
      "RETURN labels(p) AS lbls, " +
      "CASE WHEN r.n_tokens >= 2 THEN 'multiword' ELSE 'single' END AS span_kind, " +
      "count(c) AS n_edges, min(r.start_pos) AS first_pos " +
      "ORDER BY span_kind"

  /** ORDER BY an INLINE aggregate (round 7) — `ORDER BY count(c)
    * DESC` with the aggregate aliased in RETURN, the leaderboard shape
    * LLMs actually emit (they alias for the output column but repeat
    * the aggregate in the sort key). Resolves to the matching RETURN
    * aggregate's column; before round 7 this key was SILENTLY DROPPED
    * (right rows, wrong order) — the parser now throws on any
    * unrecognized ORDER BY key.
    */
  val Ex27: String =
    "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
      "RETURN o.name, count(c) AS n_chunks " +
      "ORDER BY count(c) DESC, o.name LIMIT 10"

  /** collect(DISTINCT …) + size(collect(DISTINCT …)) (round 7) — the
    * per-article entity rollup with its cardinality, sorted by the
    * size() aggregate inline. size(collect(x)) compiles to count(x)
    * (collect skips nulls, so they are the same number).
    */
  val Ex28: String =
    "MATCH (a:Article)-[:CONTAINS]->(c:Chunk)-[:MENTIONS]->(o:Organization) " +
      "RETURN a.uid, collect(DISTINCT o.name) AS orgs, " +
      "size(collect(DISTINCT o.name)) AS n_orgs " +
      "ORDER BY size(collect(DISTINCT o.name)) DESC, a.uid LIMIT 10"

  /** Mid-pipeline top-N (round 7) — `WITH … ORDER BY … LIMIT n` then
    * RETURN re-sorted: "the 5 most-mentioned organizations,
    * alphabetically" — the two-phase shape LLMs emit whenever the
    * question combines a leaderboard with a differently-ordered
    * presentation (or further matching). The stage compiles to
    * orderBy+limit (TakeOrdered — never a full sort), and the final
    * ORDER BY runs over the 5 surviving rows.
    */
  val Ex29: String =
    "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
      "WITH o.name AS org, count(c) AS n ORDER BY n DESC, org LIMIT 5 " +
      "RETURN org, n ORDER BY org"

  /** Two-phase MATCH (round 7) — `MATCH … WITH …top-N… MATCH … WHERE
    * v.prop = alias RETURN …`: aggregate to a leaderboard, then
    * EXPAND around the survivors with a second pattern — the
    * "top entities, now show me their articles" shape that is the
    * whole point of graph-RAG retrieval. The second MATCH binds fresh
    * variables and joins back on the carried alias; the carried side
    * is 3 rows, so it broadcasts into the pattern scan.
    */
  val Ex30: String =
    "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
      "WITH o.name AS org, count(c) AS n ORDER BY n DESC, org LIMIT 3 " +
      "MATCH (a:Article)-[:CONTAINS]->(c2:Chunk)-[:MENTIONS]->(o2:Organization) " +
      "WHERE o2.name = org " +
      "RETURN org, n, count(DISTINCT a) AS n_articles ORDER BY org"

  /** Temporal predicate wrappers (round 9) — "articles from that
    * January week": `date()` on both sides, compiled to the
    * lexicographic ISO-string compare it is provably equivalent to
    * for the stored date-only format (see unwrapTemporal). The shape
    * Neo4j-trained LLMs emit for every time-scoped question.
    */
  val Ex31: String =
    "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WHERE date(a.publishing_date) >= date('2024-01-02') " +
      "AND date(a.publishing_date) < date('2024-01-09') " +
      "RETURN a.uid, a.publishing_date, count(c) AS n_chunks " +
      "ORDER BY a.uid LIMIT 15"

  /** String-concatenation RETURN items (round 10) — the reference
    * retrieval_query's presentation shape (vector_index.ipynb:
    * `'Title: ' + a.title + '\nText: ' + chunk.text as text`) as a
    * standalone grammar row: literal parts carry Cypher escapes (the
    * `\n` below is two characters in the query text, a newline in the
    * value — exactly what Neo4j does), property parts concatenate as
    * strings.
    */
  val Ex32: String =
    "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) WHERE a.doc_id < 5 " +
      "RETURN a.uid, c.position, " +
      "'Title: ' + a.title + '\\nText: ' + c.text AS header " +
      "ORDER BY a.uid, c.position LIMIT 12"

  /** FULL existential subqueries (round 10) — `[NOT] EXISTS { MATCH …
    * [WHERE …] }` with a real body (Neo4j-5 syntax; round 9's braces
    * accepted only bare single-hop patterns): articles' chunks that
    * mention a 'group'-named organization but no person at all. The
    * positive body carries a WHERE no inline `{prop: 'x'}` equality
    * can express (CONTAINS); the negative body is a plain hop. Both
    * compile to semi/anti joins — never fan-out joins, so the outer
    * row count is unchanged by body multiplicity, exactly Neo4j's
    * existential semantics.
    */
  val Ex33: String =
    "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WHERE EXISTS { MATCH (c)-[:MENTIONS]->(o:Organization) WHERE o.name CONTAINS 'group' } " +
      "AND NOT EXISTS { MATCH (c)-[:MENTIONS]->(p:Person) } " +
      "RETURN a.uid, count(c) AS n_chunks ORDER BY a.uid LIMIT 15"

  /** COUNT subqueries (round 10) — Neo4j-5's replacement for the
    * deprecated `size((a)-->())` pattern-count, and the shape LLMs
    * emit for every "at least N" question: a WHERE comparison gate
    * AND a per-row RETURN scalar (NOT an aggregate — beside
    * aggregates it would group like a plain prop). Both compile to
    * grouped LEFT OUTER joins of the body pipeline (absent → 0);
    * neither can fan out.
    */
  val Ex34: String =
    "MATCH (a:Article) " +
      "WHERE COUNT { MATCH (a)-[:CONTAINS]->(c:Chunk) } >= 4 " +
      "RETURN a.uid, COUNT { MATCH (a)-[:HAS_TOPIC]->(t:Topic) } AS n_topics " +
      "ORDER BY a.uid LIMIT 12"

  /** The Neo4j-4 pattern-count spelling (round 10) — `size((a)-[:R]->
    * ())` in WHERE and RETURN: byte-for-byte the same semantics as
    * Ex34's COUNT {} (the oracle IS Ex34's), through the same grouped
    * left-outer joins. Anonymous endpoints get fresh variables.
    */
  val Ex36: String =
    "MATCH (a:Article) " +
      "WHERE size((a)-[:CONTAINS]->()) >= 4 " +
      "RETURN a.uid, size((a)-[:HAS_TOPIC]->()) AS n_topics " +
      "ORDER BY a.uid LIMIT 12"

  /** Var-to-var pattern predicate (round 10) — `NOT (e1)-[:CO_OCCURS]
    * ->(e3)` with both endpoints bound: the OPEN-TRIANGLE gate, i.e.
    * link-prediction candidates ("co-occurs with a co-occurrer of X
    * but never with X directly" — exactly the common-neighbors
    * candidate set q_link_prediction scores). Compiles through the
    * EXISTS-subquery machinery, anti-joined on BOTH uids.
    */
  val Ex37: String =
    "MATCH (e1:Entity {name: 'spark group'})-[:CO_OCCURS]->(e2:Entity)" +
      "-[:CO_OCCURS]->(e3:Entity) " +
      "WHERE NOT (e1)-[:CO_OCCURS]->(e3) AND e3.name <> 'spark group' " +
      "RETURN DISTINCT e3.name ORDER BY e3.name LIMIT 10"

  /** Weighted open triangles (round 10) — relationship-variable
    * predicates INSIDE a subquery body: entities two STRONG hops from
    * the anchor with no strong direct edge ("strongly implied but
    * unobserved links" — q_link_prediction's candidate set with edge
    * strength respected). The body binds `[r3:CO_OCCURS]` through
    * edgesWithProps and filters r3.weight before the anti join.
    */
  val Ex38: String =
    "MATCH (e1:Entity {name: 'spark group'})-[r1:CO_OCCURS]->(e2:Entity)" +
      "-[r2:CO_OCCURS]->(e3:Entity) " +
      "WHERE r1.weight >= 2 AND r2.weight >= 2 AND e3.name <> 'spark group' " +
      "AND NOT EXISTS { MATCH (e1)-[r3:CO_OCCURS]->(e3) WHERE r3.weight >= 2 } " +
      "RETURN DISTINCT e3.name ORDER BY e3.name LIMIT 10"

  /** `RETURN EXISTS { … } AS flag` (round 10) — the boolean per-row
    * projection of an existential ("does this article mention any
    * person, as a COLUMN"), through the CountSubItem machinery as
    * count > 0. The two-hop body anchors at the Person table after
    * reversal; a and c ride uid-only on their edges.
    */
  val Ex39: String =
    "MATCH (a:Article) " +
      "RETURN a.uid, " +
      "EXISTS { MATCH (a)-[:CONTAINS]->(c:Chunk)-[:MENTIONS]->(p:Person) } AS has_person " +
      "ORDER BY a.uid LIMIT 15"

  /** UNION ALL (round 10) — duplicate-KEEPING branch union: chunks
    * matching either screen, once per (branch, entity) match. Before
    * this the `ALL` silently dropped and dedup semantics applied — a
    * silent wrong answer for any LLM-emitted UNION ALL. A chunk
    * mentioning BOTH a 'group' org and a 'row' location keeps both
    * rows here; plain UNION would collapse them.
    */
  val Ex40: String =
    "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
      "WHERE o.name CONTAINS 'group' RETURN c.uid AS uid " +
      "UNION ALL " +
      "MATCH (c:Chunk)-[:MENTIONS]->(l:Location) " +
      "WHERE l.name CONTAINS 'row' RETURN c.uid AS uid"

  /** Relationship variable on a var-length hop (round 11) — the
    * weighted neighborhood expansion LLMs emit: entities within two
    * STRONG co-occurrence hops of the anchor, where `ALL(x IN r WHERE
    * x.weight >= 2)` filters EVERY traversed edge (r binds a LIST on
    * a var-length hop; the `r.weight >= 2` shorthand parses to the
    * same per-hop filter — CypherLiteSpec pins the equivalence). The
    * filter applies to the edge table BEFORE expansion, so the BFS
    * walks only the strong subgraph.
    */
  val Ex41: String =
    "MATCH (e1:Entity {name: 'spark group'})-[r:CO_OCCURS*1..2]->(e2:Entity) " +
      "WHERE ALL(x IN r WHERE x.weight >= 2) AND e2.name <> 'spark group' " +
      "RETURN DISTINCT e2.name ORDER BY e2.name LIMIT 15"

  /** Multi-type var-length hop (round 11) — `[:PUBLISHED|CONTAINS*1..2]`
    * expands over the per-step type UNION: everything src3 published,
    * down to the chunks of those articles (1-hop = its articles via
    * PUBLISHED; 2-hop = PUBLISHED∘CONTAINS chunks — the CONTAINS
    * first leg is empty from a Source, which is exactly the union
    * semantics). x rides uid-only off the edge columns.
    */
  val Ex42: String =
    "MATCH (s:Source {name: 'src3'})-[:PUBLISHED|CONTAINS*1..2]->(x) " +
      "RETURN x.uid AS uid ORDER BY uid LIMIT 20"

  /** Path variables on an ordinary linear MATCH (round 11): `MATCH
    * p = (s)-[:R]->(a)-[:R2]->(c) RETURN p, length(p)` — the
    * whole-path projection and path functions over a FIXED-shape
    * pattern (no shortestPath needed): length is the pattern's
    * constant hop count, nodes/p are concatenations of the bound uid
    * columns — zero extra joins, zero shuffles beyond the MATCH
    * itself. Var-length hops refuse (those belong to the
    * shortestPath forms, where the engine materializes a witness).
    */
  val Ex46: String =
    "MATCH p = (s:Source {name: 'src3'})-[:PUBLISHED]->(a:Article)" +
      "-[:CONTAINS]->(c:Chunk) " +
      "RETURN p, length(p) AS len ORDER BY p LIMIT 12"

  /** Zero-length var-hops (round 11): `*0..b` — "within b hops,
    * INCLUDING the node itself" (the self-inclusive neighborhood
    * LLMs reach for with `*0..2`). The zero leg is the seed
    * frontier's identity pairs; 1..b legs are the ordinary unrolled
    * compositions. Per-path row semantics throughout (no DISTINCT —
    * the identity row rides beside every 1-hop and 2-hop path row).
    */
  val Ex45: String =
    "MATCH (e1:Entity {name: 'spark group'})-[:CO_OCCURS*0..2]->(e2:Entity) " +
      "RETURN e2.name ORDER BY e2.name LIMIT 15"

  /** BARE-pattern subquery bodies (round 11) — the Neo4j-5 shorthand
    * LLMs emit most: `COUNT { (a)-[:R]->(c) }` / `EXISTS { (a)-[:R]
    * ->(t) WHERE … }` with NO MATCH keyword. Multi-hop COUNT gate +
    * single-hop-with-WHERE EXISTS item, both through the full
    * subquery machinery with an implicit MATCH (the round-9
    * single-hop inline-prop forms keep their dedicated fast path).
    */
  val Ex44: String =
    "MATCH (a:Article) " +
      "WHERE COUNT { (a)-[:CONTAINS]->(c:Chunk)-[:MENTIONS]->(p:Person) } >= 2 " +
      "RETURN a.uid, " +
      "EXISTS { (a)-[:HAS_TOPIC]->(t:Topic) WHERE t.name = 'organization' } AS has_org " +
      "ORDER BY a.uid LIMIT 12"

  /** Stage-level subqueries (round 10) — EXISTS in a WITH-stage WHERE:
    * aggregate first ("articles with ≥3 chunks"), THEN keep only the
    * survivors whose article carries the organization topic — the
    * rollup-then-screen shape that needs a post-aggregation
    * existential, not a head predicate (filtering the head would
    * change the counts). The brace-depth-aware stage slicer keeps the
    * body's MATCH out of the two-phase-expand splitter.
    */
  val Ex35: String =
    "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WITH a, count(c) AS n_chunks " +
      "WHERE n_chunks >= 3 AND " +
      "EXISTS { MATCH (a)-[:HAS_TOPIC]->(t:Topic {name: 'organization'}) } " +
      "RETURN a.uid, n_chunks ORDER BY a.uid LIMIT 10"

  /** The reference serving loop's literal entity-lookup CALL
    * (graph.py:158-166) with the parameters inlined exactly as
    * get_entity_candidates binds them: index = f"{label}Name"
    * (graph.py:143), fulltext_query = generate_full_text_query("line
    * custmer") = "line~0.8 AND custmer~0.8" (utils.py:51-61), limit =
    * per_entity_limit = 10 (graph.py:140). The probe is shared with
    * CandidateProbes so CypherLiteSpec can pin parity with
    * q_entity_candidates' scoring.
    */
  val ExFt: String =
    "CALL db.index.fulltext.queryNodes('PersonName', 'line~0.8 AND custmer~0.8', " +
      "{limit: 10}) YIELD node, score " +
      "RETURN node.uid AS uid, node.name AS name, labels(node)[0] AS label, score"

  /** The reference's literal production retrieval query (round 10):
    * the CALL langchain's Neo4jVector issues for EVERY vector search,
    * composed with the user's retrieval_query suffix exactly as
    * vector_index.ipynb's retrieval_query cell writes it (string
    * concatenation, the `\n` escape, the unlabeled CONTAINS/PUBLISHED
    * expansion, the map-projection metadata). k = 5
    * (similarity_search(k=5)); $embedding stays the parameter name
    * the driver binds.
    */
  val ExVec: String =
    "CALL db.index.vector.queryNodes('chunkEmbedding', 5, $embedding) " +
      "YIELD node, score " +
      "WITH node as chunk, score " +
      "MATCH (chunk)<-[:CONTAINS]-(a)<-[:PUBLISHED]-(s) " +
      "WITH chunk, score, a, s " +
      "RETURN 'Title: ' + a.title + '\\nText: ' + chunk.text as text, score, " +
      "chunk{.position, .section, .category, date: a.publishing_date, " +
      "url:a.url, source: s.name} as metadata"

  /** The literal HYBRID retrieval query (round 11): what langchain's
    * Neo4jVector issues for `search_type='hybrid',
    * keyword_index_name='chunkText'` (the reference's hybrid cell,
    * vector_index.ipynb) — the CALL {} union of the vector CALL and
    * the chunkText keyword CALL with per-leg max-score normalization
    * and max-fusion dedup, composed with the same retrieval_query
    * suffix as ExVec. Parameters inlined as the driver binds them
    * (k = 5, the fixed query string); $embedding stays a parameter.
    */
  val ExHybrid: String =
    "CALL { " +
      "CALL db.index.vector.queryNodes('chunkEmbedding', 5, $embedding) " +
      "YIELD node, score " +
      "WITH collect({node: node, score: score}) AS nodes, max(score) AS max " +
      "UNWIND nodes AS n " +
      "RETURN n.node AS node, (n.score / max) AS score " +
      "UNION " +
      "CALL db.index.fulltext.queryNodes('chunkText', 'spark join fast', {limit: 5}) " +
      "YIELD node, score " +
      "WITH collect({node: node, score: score}) AS nodes, max(score) AS max " +
      "UNWIND nodes AS n " +
      "RETURN n.node AS node, (n.score / max) AS score " +
      "} " +
      "WITH node, max(score) AS score ORDER BY score DESC LIMIT 5 " +
      "WITH node AS chunk, score " +
      "MATCH (chunk)<-[:CONTAINS]-(a)<-[:PUBLISHED]-(s) " +
      "WITH chunk, score, a, s " +
      "RETURN 'Title: ' + a.title + '\\nText: ' + chunk.text as text, score, " +
      "chunk{.position, .section, .category, date: a.publishing_date, " +
      "url:a.url, source: s.name} as metadata"

  /** The witness form of Ex23 — "SHOW me how X and Y are connected":
    * the actual node sequence of one canonical shortest path (see
    * witnessPathOn for the lexicographic-min determinism rule).
    */
  val ExSpPath: String =
    "MATCH p = shortestPath((a:Entity {name:'spark group'})" +
      "-[:CO_OCCURS*1..4]-(b:Entity {name:'column column'})) " +
      "RETURN length(p) AS len, nodes(p) AS path"

  /** Bare `RETURN p` on the SAME anchors as ExSpPath (round 11) —
    * the whole interleaved path value; CypherLiteSpec pins p ≡
    * nodes(p) ∘ relationships(p) against the decomposed twins.
    */
  val Ex43: String =
    "MATCH p = shortestPath((a:Entity {name:'spark group'})" +
      "-[:CO_OCCURS*1..4]-(b:Entity {name:'column column'})) " +
      "RETURN p"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cypher_fulltext" -> ((s, d) => run(s, d, ExFt)),
    "q_cypher_path" -> ((s, d) => run(s, d, ExSpPath)),
    "q_cypher_ex31" -> ((s, d) => run(s, d, Ex31)),
    "q_cypher_ex32" -> ((s, d) => run(s, d, Ex32)),
    "q_cypher_ex33" -> ((s, d) => run(s, d, Ex33)),
    "q_cypher_ex34" -> ((s, d) => run(s, d, Ex34)),
    "q_cypher_ex35" -> ((s, d) => run(s, d, Ex35)),
    "q_cypher_ex36" -> ((s, d) => run(s, d, Ex36)),
    "q_cypher_ex37" -> ((s, d) => run(s, d, Ex37)),
    "q_cypher_ex38" -> ((s, d) => run(s, d, Ex38)),
    "q_cypher_ex39" -> ((s, d) => run(s, d, Ex39)),
    "q_cypher_ex40" -> ((s, d) => run(s, d, Ex40)),
    "q_cypher_ex41" -> ((s, d) => run(s, d, Ex41)),
    "q_cypher_ex42" -> ((s, d) => run(s, d, Ex42)),
    "q_cypher_ex43" -> ((s, d) => run(s, d, Ex43)),
    "q_cypher_ex44" -> ((s, d) => run(s, d, Ex44)),
    "q_cypher_ex45" -> ((s, d) => run(s, d, Ex45)),
    "q_cypher_ex46" -> ((s, d) => run(s, d, Ex46)),
    "q_cypher_vector" -> ((s, d) => run(s, d, ExVec)),
    "q_cypher_hybrid" -> ((s, d) => run(s, d, ExHybrid)),
    "q_cypher_wpath" -> ((s, d) => run(s, d, ExWspPath)),
    "q_cypher_asp_paths" -> ((s, d) => run(s, d, ExAspPaths)),
    "q_cypher_ex30" -> ((s, d) => run(s, d, Ex30)),
    "q_cypher_ex29" -> ((s, d) => run(s, d, Ex29)),
    "q_cypher_ex27" -> ((s, d) => run(s, d, Ex27)),
    "q_cypher_ex28" -> ((s, d) => run(s, d, Ex28)),
    "q_cypher_ex24" -> ((s, d) => run(s, d, Ex24)),
    "q_cypher_ex25" -> ((s, d) => run(s, d, Ex25)),
    "q_cypher_ex26" -> ((s, d) => run(s, d, Ex26)),
    "q_cypher_sp" -> ((s, d) => run(s, d, Ex23)),
    "q_cypher_wsp" -> ((s, d) => run(s, d, ExWsp)),
    "q_cypher_asp" -> ((s, d) => run(s, d, ExAsp)),
    "q_cypher_ex22" -> ((s, d) => run(s, d, Ex22)),
    "q_cypher_ex21" -> ((s, d) => run(s, d, Ex21)),
    "q_cypher_ex20" -> ((s, d) => run(s, d, Ex20)),
    "q_cypher_ex18" -> ((s, d) => run(s, d, Ex18)),
    "q_cypher_ex19" -> ((s, d) => run(s, d, Ex19)),
    "q_cypher_ex17" -> ((s, d) => run(s, d, Ex17)),
    "q_cypher_ex16" -> ((s, d) => run(s, d, Ex16)),
    "q_cypher_ex15" -> ((s, d) => run(s, d, Ex15)),
    "q_cypher_ex14" -> ((s, d) => run(s, d, Ex14)),
    "q_cypher_ex13" -> ((s, d) => run(s, d, Ex13)),
    "q_cypher_ex11" -> ((s, d) => run(s, d, Ex11)),
    "q_cypher_ex12" -> ((s, d) => run(s, d, Ex12)),
    "q_cypher_ex10" -> ((s, d) => run(s, d, Ex10)),
    "q_cypher_ex6" -> ((s, d) => run(s, d, Ex6)),
    "q_cypher_ex1" -> ((s, d) => run(s, d, Ex1)),
    "q_cypher_ex2" -> ((s, d) => run(s, d, Ex2)),
    "q_cypher_ex3" -> ((s, d) => run(s, d, Ex3)),
    "q_cypher_ex4" -> ((s, d) => run(s, d, Ex4)),
    "q_cypher_ex5" -> ((s, d) => run(s, d, Ex5)),
    "q_cypher_ex7" -> ((s, d) => run(s, d, Ex7)),
    "q_cypher_ex8" -> ((s, d) => run(s, d, Ex8)),
    "q_cypher_ex9" -> ((s, d) => run(s, d, Ex9)))

  private val M = TextPipeline.MentionsSql
  private val P = TextPipeline.PipelineSql

  /** Shared by q_cypher_ex34 (COUNT {} spelling) and q_cypher_ex36
    * (size((pattern)) spelling) — the two forms compile to the same
    * grouped left-outer joins, so one oracle checks both.
    */
  private val CountSubOracleSql: String =
    s"""WITH $P,
       |${NewsGraph.ArticleTopicsSql},
       |cc AS (SELECT doc_id, count(*) AS nch FROM chunks GROUP BY doc_id),
       |tc AS (SELECT doc_id, count(*) AS nt FROM topics GROUP BY doc_id)
       |SELECT 'Article:' || cc.doc_id AS a_uid,
       |  CAST(COALESCE(tc.nt, 0) AS BIGINT) AS n_topics
       |FROM cc LEFT JOIN tc ON tc.doc_id = cc.doc_id
       |WHERE cc.nch >= 4
       |ORDER BY a_uid LIMIT 12""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_cypher_hybrid" -> {
      import graft.operators.Retrieval.{Bm25B, Bm25K1}
      s"""WITH ${TextPipeline.ChunksSql},
         |e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |top AS MATERIALIZED (
         |  SELECT vec_id AS doc_id,
         |    round(${graft.operators.Similarity.cosineDuckSql("v", "qv")}, 6) AS score
         |  FROM e CROSS JOIN q WHERE vec_id <> 0
         |  ORDER BY score DESC, vec_id LIMIT 5),
         |vleg AS (SELECT 'Chunk:' || doc_id || ':0' AS uid,
         |  round(score / (SELECT max(score) FROM top), 6) AS score FROM top),
         |cs AS MATERIALIZED (SELECT doc_id, chunk_id, chunk_text,
         |  CAST(len(string_split(chunk_text, ' ')) AS DOUBLE) AS dl FROM chunks),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_d, avg(dl) AS avgdl FROM cs),
         |ctf AS MATERIALIZED (
         |  SELECT doc_id, chunk_id, dl, word, count(*) AS tf
         |  FROM (SELECT doc_id, chunk_id, dl,
         |      unnest(string_split(chunk_text, ' ')) AS word FROM cs)
         |  WHERE word IN ('spark', 'join', 'fast')
         |  GROUP BY doc_id, chunk_id, dl, word),
         |cdf AS (SELECT word, count(*) AS dfreq FROM ctf GROUP BY word),
         |sc AS MATERIALIZED (
         |  SELECT doc_id, chunk_id,
         |    round(sum(
         |      ln(((SELECT n_d FROM st) - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
         |      * (tf * ${Bm25K1 + 1.0}) /
         |        (tf + $Bm25K1 * (1.0 - $Bm25B
         |          + $Bm25B * dl / (SELECT avgdl FROM st)))), 6) AS bm25
         |  FROM ctf JOIN cdf USING (word)
         |  GROUP BY doc_id, chunk_id),
         |ktop AS MATERIALIZED (
         |  SELECT 'Chunk:' || doc_id || ':' || chunk_id AS uid, bm25
         |  FROM sc ORDER BY bm25 DESC, uid LIMIT 5),
         |kleg AS (SELECT uid,
         |  round(bm25 / (SELECT max(bm25) FROM ktop), 6) AS score FROM ktop),
         |fused AS MATERIALIZED (
         |  SELECT uid, max(score) AS score
         |  FROM (SELECT * FROM vleg UNION ALL SELECT * FROM kleg)
         |  GROUP BY uid ORDER BY score DESC, uid LIMIT 5),
         |arts AS (SELECT doc_id, ${Props.TitleSql} AS title,
         |  ${Props.PublishingDateSql} AS publishing_date,
         |  ${Props.UrlSql} AS url, source FROM documents)
         |SELECT 'Title: ' || a.title || chr(10) || 'Text: ' || c.chunk_text AS text,
         |  f.score,
         |  to_json({position: c.chunk_id,
         |    section: ${Props.SectionSql},
         |    category: ${Props.CategorySql},
         |    date: a.publishing_date, url: a.url, source: a.source}) AS metadata
         |FROM fused f
         |JOIN chunks c ON 'Chunk:' || c.doc_id || ':' || c.chunk_id = f.uid
         |JOIN arts a ON a.doc_id = c.doc_id
         |ORDER BY f.score DESC, text, metadata""".stripMargin
    },
    "q_cypher_vector" ->
      s"""WITH ${TextPipeline.ChunksSql},
         |e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |top AS MATERIALIZED (
         |  SELECT vec_id AS doc_id,
         |    round(${graft.operators.Similarity.cosineDuckSql("v", "qv")}, 6) AS score
         |  FROM e CROSS JOIN q WHERE vec_id <> 0
         |  ORDER BY score DESC, vec_id LIMIT 5),
         |arts AS (SELECT doc_id, ${Props.TitleSql} AS title,
         |  ${Props.PublishingDateSql} AS publishing_date,
         |  ${Props.UrlSql} AS url, source FROM documents)
         |SELECT 'Title: ' || a.title || chr(10) || 'Text: ' || c.chunk_text AS text,
         |  t.score,
         |  to_json({position: c.chunk_id,
         |    section: ${Props.SectionSql},
         |    category: ${Props.CategorySql},
         |    date: a.publishing_date, url: a.url, source: a.source}) AS metadata
         |FROM top t
         |JOIN arts a ON a.doc_id = t.doc_id
         |JOIN chunks c ON c.doc_id = t.doc_id AND c.chunk_id = 0
         |ORDER BY t.score DESC, text, metadata""".stripMargin,
    "q_cypher_ex32" ->
      s"""WITH ${TextPipeline.ChunksSql},
         |arts AS (SELECT doc_id, ${Props.TitleSql} AS title
         |  FROM documents WHERE doc_id < 5)
         |SELECT 'Article:' || a.doc_id AS a_uid, c.chunk_id AS c_position,
         |  'Title: ' || a.title || chr(10) || 'Text: ' || c.chunk_text AS header
         |FROM arts a JOIN chunks c ON c.doc_id = a.doc_id
         |ORDER BY a_uid, c_position LIMIT 12""".stripMargin,
    "q_cypher_ex40" ->
      s"""WITH $M,
         |a AS (SELECT DISTINCT doc_id, chunk_id, name FROM mentions
         |  WHERE label = 'organization' AND name LIKE '%group%'),
         |b AS (SELECT DISTINCT doc_id, chunk_id, name FROM mentions
         |  WHERE label = 'location' AND name LIKE '%row%')
         |SELECT 'Chunk:' || doc_id || ':' || chunk_id AS uid FROM a
         |UNION ALL
         |SELECT 'Chunk:' || doc_id || ':' || chunk_id AS uid FROM b
         |ORDER BY uid""".stripMargin,
    "q_cypher_ex46" ->
      s"""WITH ${TextPipeline.ChunksSql}
         |SELECT '(Source:src3)-[:PUBLISHED]->(Article:' || d.doc_id ||
         |    ')-[:CONTAINS]->(Chunk:' || c.doc_id || ':' || c.chunk_id || ')' AS p,
         |  CAST(2 AS BIGINT) AS len
         |FROM documents d JOIN chunks c ON c.doc_id = d.doc_id
         |WHERE d.source = 'src3'
         |ORDER BY p LIMIT 12""".stripMargin,
    "q_cypher_ex45" ->
      s"""WITH ${graft.graph.Analytics.CooccurSql}
         |SELECT name AS e2_name FROM (
         |  SELECT 'spark group' AS name
         |  UNION ALL
         |  SELECT dst FROM edges WHERE src = 'spark group'
         |  UNION ALL
         |  SELECT e2.dst FROM edges e1 JOIN edges e2 ON e2.src = e1.dst
         |  WHERE e1.src = 'spark group' AND e2.dst <> 'spark group')
         |ORDER BY e2_name LIMIT 15""".stripMargin,
    "q_cypher_ex44" ->
      s"""WITH $P,
         |${NewsGraph.ArticleTopicsSql},
         |pc AS (SELECT doc_id, count(*) AS n FROM (
         |  SELECT DISTINCT doc_id, chunk_id, name FROM mentions
         |  WHERE label = 'person') GROUP BY doc_id),
         |org AS (SELECT DISTINCT doc_id FROM topics
         |  WHERE topic = 'organization')
         |SELECT 'Article:' || pc.doc_id AS a_uid,
         |  (org.doc_id IS NOT NULL) AS has_org
         |FROM pc LEFT JOIN org ON org.doc_id = pc.doc_id
         |WHERE pc.n >= 2
         |ORDER BY a_uid LIMIT 12""".stripMargin,
    "q_cypher_ex41" ->
      s"""WITH ${graft.graph.Analytics.CooccurSql},
         |w AS MATERIALIZED (
         |  SELECT src, dst FROM edges WHERE weight >= 2),
         |h1 AS (SELECT dst FROM w WHERE src = 'spark group'),
         |h2 AS (SELECT e2.dst FROM w e1 JOIN w e2 ON e2.src = e1.dst
         |  WHERE e1.src = 'spark group' AND e2.dst <> 'spark group')
         |SELECT DISTINCT dst AS e2_name
         |FROM (SELECT dst FROM h1 UNION ALL SELECT dst FROM h2)
         |WHERE dst <> 'spark group'
         |ORDER BY e2_name LIMIT 15""".stripMargin,
    "q_cypher_ex42" ->
      s"""WITH ${TextPipeline.ChunksSql},
         |h1 AS (SELECT 'Article:' || doc_id AS uid FROM documents
         |  WHERE source = 'src3'),
         |h2 AS (SELECT 'Chunk:' || c.doc_id || ':' || c.chunk_id AS uid
         |  FROM documents d JOIN chunks c ON c.doc_id = d.doc_id
         |  WHERE d.source = 'src3')
         |SELECT uid FROM (SELECT uid FROM h1 UNION ALL SELECT uid FROM h2)
         |ORDER BY uid LIMIT 20""".stripMargin,
    "q_cypher_ex39" ->
      s"""WITH $M,
         |pc AS (SELECT DISTINCT doc_id FROM mentions WHERE label = 'person')
         |SELECT 'Article:' || d.doc_id AS a_uid,
         |  (pc.doc_id IS NOT NULL) AS has_person
         |FROM documents d LEFT JOIN pc ON pc.doc_id = d.doc_id
         |ORDER BY a_uid LIMIT 15""".stripMargin,
    "q_cypher_ex38" ->
      s"""WITH ${graft.graph.Analytics.CooccurSql},
         |s AS MATERIALIZED (
         |  SELECT DISTINCT dst FROM edges
         |  WHERE src = 'spark group' AND weight >= 2)
         |SELECT DISTINCT e.dst AS e3_name
         |FROM s JOIN edges e ON e.src = s.dst AND e.weight >= 2
         |WHERE e.dst <> 'spark group'
         |  AND e.dst NOT IN (
         |    SELECT dst FROM edges
         |    WHERE src = 'spark group' AND weight >= 2)
         |ORDER BY e3_name LIMIT 10""".stripMargin,
    "q_cypher_ex37" ->
      s"""WITH ${graft.graph.Analytics.CooccurSql},
         |n1 AS MATERIALIZED (
         |  SELECT DISTINCT dst FROM edges WHERE src = 'spark group')
         |SELECT DISTINCT e.dst AS e3_name
         |FROM n1 JOIN edges e ON e.src = n1.dst
         |WHERE e.dst <> 'spark group'
         |  AND e.dst NOT IN (SELECT dst FROM n1)
         |ORDER BY e3_name LIMIT 10""".stripMargin,
    "q_cypher_ex35" ->
      s"""WITH $P,
         |${NewsGraph.ArticleTopicsSql},
         |cc AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY doc_id),
         |org AS (SELECT DISTINCT doc_id FROM topics WHERE topic = 'organization')
         |SELECT 'Article:' || cc.doc_id AS a_uid, cc.n_chunks
         |FROM cc JOIN org ON org.doc_id = cc.doc_id
         |WHERE cc.n_chunks >= 3
         |ORDER BY a_uid LIMIT 10""".stripMargin,
    "q_cypher_ex34" -> CountSubOracleSql,
    // size((a)-[:R]->()) is the Neo4j-4 spelling of Ex34's COUNT {}
    // — provably the same query, so it replays the SAME oracle
    "q_cypher_ex36" -> CountSubOracleSql,
    "q_cypher_ex33" ->
      s"""WITH $M,
         |org_c AS (
         |  SELECT DISTINCT doc_id, chunk_id FROM mentions
         |  WHERE label = 'organization' AND name LIKE '%group%'),
         |per_c AS (
         |  SELECT DISTINCT doc_id, chunk_id FROM mentions
         |  WHERE label = 'person')
         |SELECT 'Article:' || o.doc_id AS a_uid, count(*) AS n_chunks
         |FROM org_c o
         |WHERE NOT EXISTS (SELECT 1 FROM per_c p
         |  WHERE p.doc_id = o.doc_id AND p.chunk_id = o.chunk_id)
         |GROUP BY o.doc_id
         |ORDER BY a_uid LIMIT 15""".stripMargin,
    "q_cypher_ex31" ->
      s"""WITH ${TextPipeline.ChunksSql},
         |arts AS (
         |  SELECT doc_id, ${Props.PublishingDateSql} AS pd FROM documents
         |  WHERE ${Props.PublishingDateSql} >= '2024-01-02'
         |    AND ${Props.PublishingDateSql} < '2024-01-09')
         |SELECT 'Article:' || a.doc_id AS a_uid, a.pd AS a_publishing_date,
         |  count(*) AS n_chunks
         |FROM arts a JOIN chunks c ON c.doc_id = a.doc_id
         |GROUP BY a.doc_id, a.pd
         |ORDER BY a_uid LIMIT 15""".stripMargin,
    "q_cypher_fulltext" ->
      s"""WITH $M,
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT name FROM (
         |    SELECT name FROM mentions WHERE label = 'person'
         |    UNION
         |    SELECT DISTINCT source AS name FROM documents WHERE source IS NOT NULL))
         |SELECT 'Person:' || name AS uid, name, 'Person' AS label,
         |  round(
         |    0.5 * (len(list_filter(list_distinct(string_split('line custmer', ' ')),
         |        w -> list_contains(list_distinct(string_split(name, ' ')), w)))
         |      / CAST(len(list_distinct(list_concat(string_split('line custmer', ' '),
         |          string_split(name, ' ')))) AS DOUBLE))
         |  + 0.5 * (1.0 - levenshtein('line custmer', name) /
         |      CAST(greatest(length('line custmer'), length(name)) AS DOUBLE)), 6) AS score
         |FROM cand
         |ORDER BY score DESC, name, uid LIMIT 10""".stripMargin,
    "q_cypher_ex30" ->
      s"""WITH $M,
         |edges AS (
         |  SELECT DISTINCT doc_id, chunk_id, name
         |  FROM mentions WHERE label = 'organization'),
         |top3 AS (
         |  SELECT name AS org, count(*) AS n
         |  FROM edges GROUP BY name
         |  ORDER BY n DESC, org LIMIT 3)
         |SELECT org, n, count(DISTINCT e.doc_id) AS n_articles
         |FROM top3 t JOIN edges e ON e.name = t.org
         |GROUP BY org, n ORDER BY org""".stripMargin,
    "q_cypher_ex29" ->
      s"""WITH $M,
         |edges AS (
         |  SELECT DISTINCT doc_id, chunk_id, name
         |  FROM mentions WHERE label = 'organization'),
         |top5 AS (
         |  SELECT name AS org, count(*) AS n
         |  FROM edges GROUP BY name
         |  ORDER BY n DESC, org LIMIT 5)
         |SELECT org, n FROM top5 ORDER BY org""".stripMargin,
    "q_cypher_ex27" ->
      s"""WITH $M,
         |edges AS (
         |  SELECT DISTINCT doc_id, chunk_id, name
         |  FROM mentions WHERE label = 'organization')
         |SELECT name AS o_name, count(*) AS n_chunks
         |FROM edges GROUP BY name
         |ORDER BY n_chunks DESC, o_name LIMIT 10""".stripMargin,
    "q_cypher_ex28" ->
      s"""WITH $M,
         |edges AS (
         |  SELECT DISTINCT doc_id, chunk_id, name
         |  FROM mentions WHERE label = 'organization')
         |SELECT 'Article:' || doc_id AS a_uid,
         |  string_agg(DISTINCT name, ' | ' ORDER BY name) AS orgs,
         |  count(DISTINCT name) AS n_orgs
         |FROM edges GROUP BY doc_id
         |ORDER BY n_orgs DESC, a_uid LIMIT 10""".stripMargin,
    "q_cypher_ex24" ->
      s"""WITH ${graft.graph.Analytics.CooccurSql}
         |SELECT dst AS o_name, weight FROM edges
         |WHERE src = 'spark group' AND weight >= 2
         |ORDER BY weight DESC, o_name LIMIT 10""".stripMargin,
    "q_cypher_ex25" ->
      s"""WITH $P,
         |${NewsGraph.ArticleTopicsSql},
         |u AS (
         |  SELECT doc_id, 'CONTAINS' AS rel_type FROM chunks
         |  UNION ALL
         |  SELECT doc_id, 'HAS_TOPIC' AS rel_type FROM topics)
         |SELECT 'Article:' || doc_id AS a_uid, rel_type, count(*) AS n
         |FROM u GROUP BY doc_id, rel_type
         |ORDER BY a_uid, rel_type LIMIT 12""".stripMargin,
    "q_cypher_ex26" ->
      s"""WITH $M,
         |pe AS (
         |  SELECT doc_id, chunk_id, name,
         |    min(start_pos) AS start_pos,
         |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |  FROM mentions WHERE label = 'person'
         |  GROUP BY doc_id, chunk_id, name)
         |SELECT '["Person"]' AS lbls,
         |  CASE WHEN n_tokens >= 2 THEN 'multiword' ELSE 'single' END AS span_kind,
         |  count(*) AS n_edges, min(start_pos) AS first_pos
         |FROM pe GROUP BY span_kind ORDER BY span_kind""".stripMargin,
    "q_cypher_sp" -> {
      val hops = 4
      val iters = (1 to hops).map { i =>
        val prev = s"d${i - 1}"
        s"""d$i AS MATERIALIZED (
           |  SELECT node, min(dist) AS dist FROM (
           |    SELECT node, dist FROM $prev
           |    UNION ALL
           |    SELECT e.dst AS node, p.dist + 1 AS dist
           |    FROM $prev p JOIN edges e ON p.node = e.src)
           |  GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${graft.graph.Analytics.CooccurSql},
         |d0 AS (SELECT 'spark group' AS node, CAST(0 AS BIGINT) AS dist),
         |$iters
         |SELECT CAST(dist AS BIGINT) AS len FROM d$hops
         |WHERE node = 'column column' AND dist >= 1""".stripMargin
    },
    "q_cypher_ex43" -> {
      // the q_cypher_path oracle's BFS + min-pred walk, then the
      // interleaved path value: consecutive walk pairs (non-null
      // prefix of the reversed pred chain) join the weighted edge
      // list for the rel tokens, assembled in step order
      val hops = 4
      val iters = (1 to hops).map { i =>
        val prev = s"d${i - 1}"
        s"""d$i AS MATERIALIZED (
           |  SELECT node, min(dist) AS dist FROM (
           |    SELECT node, dist FROM $prev
           |    UNION ALL
           |    SELECT e.dst AS node, p.dist + 1 AS dist
           |    FROM $prev p JOIN edges e ON p.node = e.src)
           |  GROUP BY node)""".stripMargin
      }.mkString(",\n")
      val walk = (1 to hops).map { s =>
        val prevCol = if (s == 1) "n0" else s"p${s - 1}"
        s"""s$s AS (SELECT s${s - 1}.*,
           |  (SELECT min(pred) FROM pr WHERE pr.node = s${s - 1}.$prevCol) AS p$s
           |  FROM s${s - 1})""".stripMargin
      }.mkString(",\n")
      val steps = (hops to 1 by -1).map { s =>
        val b = if (s == 1) "n0" else s"p${s - 1}"
        s"SELECT ${hops - s + 1} AS i, p$s AS a, $b AS b FROM s$hops WHERE p$s IS NOT NULL"
      }.mkString("\n  UNION ALL ")
      val headN = (hops to 1 by -1).map(s => s"p$s").mkString(", ")
      s"""WITH ${graft.graph.Analytics.CooccurSql},
         |d0 AS (SELECT 'spark group' AS node, CAST(0 AS BIGINT) AS dist),
         |$iters,
         |pr AS MATERIALIZED (
         |  SELECT d.node, min(e.src) AS pred
         |  FROM d$hops d JOIN edges e ON e.dst = d.node
         |  JOIN d$hops s ON s.node = e.src AND s.dist = d.dist - 1
         |  GROUP BY d.node),
         |s0 AS (SELECT node AS n0 FROM d$hops
         |  WHERE node = 'column column' AND dist >= 1),
         |$walk,
         |steps AS (
         |  $steps)
         |SELECT '(Entity:' || coalesce($headN, n0) || ')' || string_agg(
         |  '-[:CO_OCCURS{weight:' || e.weight || '}]->(Entity:' || st.b || ')',
         |  '' ORDER BY st.i) AS p
         |FROM s$hops, steps st JOIN edges e ON e.src = st.a AND e.dst = st.b
         |GROUP BY coalesce($headN, n0)""".stripMargin
    },
    "q_cypher_path" -> {
      // q_cypher_sp's layered BFS + the canonical min-pred witness:
      // pred(n) = min src among n's neighbors one layer closer; the
      // walk-back is unrolled as `hops` correlated scalar lookups
      // (NULL-correlated rows yield NULL — the walk stops at the
      // seed, whose pred row does not exist).
      val hops = 4
      val iters = (1 to hops).map { i =>
        val prev = s"d${i - 1}"
        s"""d$i AS MATERIALIZED (
           |  SELECT node, min(dist) AS dist FROM (
           |    SELECT node, dist FROM $prev
           |    UNION ALL
           |    SELECT e.dst AS node, p.dist + 1 AS dist
           |    FROM $prev p JOIN edges e ON p.node = e.src)
           |  GROUP BY node)""".stripMargin
      }.mkString(",\n")
      val walk = (1 to hops).map { s =>
        val prevCol = if (s == 1) "n0" else s"p${s - 1}"
        s"""s$s AS (SELECT s${s - 1}.*,
           |  (SELECT min(pred) FROM pr WHERE pr.node = s${s - 1}.$prevCol) AS p$s
           |  FROM s${s - 1})""".stripMargin
      }.mkString(",\n")
      val rev = (hops to 1 by -1).map(s => s"p$s").mkString(", ")
      s"""WITH ${graft.graph.Analytics.CooccurSql},
         |d0 AS (SELECT 'spark group' AS node, CAST(0 AS BIGINT) AS dist),
         |$iters,
         |pr AS MATERIALIZED (
         |  SELECT d.node, min(e.src) AS pred
         |  FROM d$hops d JOIN edges e ON e.dst = d.node
         |  JOIN d$hops s ON s.node = e.src AND s.dist = d.dist - 1
         |  GROUP BY d.node),
         |s0 AS (SELECT CAST(dist AS BIGINT) AS len, node AS n0 FROM d$hops
         |  WHERE node = 'column column' AND dist >= 1),
         |$walk
         |SELECT len,
         |  array_to_string(list_transform(
         |    list_filter([$rev, n0], x -> x IS NOT NULL),
         |    x -> 'Entity:' || x), '->') AS path
         |FROM s$hops""".stripMargin
    },
    "q_cypher_wpath" -> {
      // the wsp oracle's Bellman-Ford rounds with the canonical
      // (cost, pred) struct-min carried per round (row_number over
      // dist, pred, pw — NULLS FIRST matching Spark's null-first
      // struct ordering; only the seed row carries nulls and its
      // dist 0 decides alone), then the walk-back unrolled as
      // correlated pred/pw lookups exactly like the q_cypher_path
      // oracle
      val rounds = 6
      val iters = (1 to rounds).map { i =>
        val prev = s"w${i - 1}"
        s"""w$i AS MATERIALIZED (
           |  SELECT node, dist, pred, pw FROM (
           |    SELECT node, dist, pred, pw, row_number() OVER (
           |      PARTITION BY node
           |      ORDER BY dist, pred NULLS FIRST, pw NULLS FIRST) AS rn
           |    FROM (
           |      SELECT node, dist, pred, pw FROM $prev
           |      UNION ALL
           |      SELECT e.dst AS node, p.dist + e.cost AS dist,
           |        p.node AS pred, e.weight AS pw
           |      FROM $prev p JOIN ec e ON p.node = e.src))
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val walk = (1 to rounds).map { s =>
        val prevCol = if (s == 1) "n0" else s"p${s - 1}"
        s"""s$s AS (SELECT s${s - 1}.*,
           |  (SELECT pred FROM w$rounds d WHERE d.node = s${s - 1}.$prevCol) AS p$s,
           |  (SELECT pw FROM w$rounds d WHERE d.node = s${s - 1}.$prevCol) AS g$s
           |  FROM s${s - 1})""".stripMargin
      }.mkString(",\n")
      val revN = (rounds to 1 by -1).map(s => s"p$s").mkString(", ")
      val revG = (rounds to 1 by -1).map(s => s"g$s").mkString(", ")
      s"""WITH ${graft.graph.Analytics.CooccurSql},
         |ec AS MATERIALIZED (
         |  SELECT src, dst, weight, 1000000 // weight AS cost FROM edges),
         |w0 AS (SELECT 'spark group' AS node, CAST(0 AS BIGINT) AS dist,
         |  CAST(NULL AS VARCHAR) AS pred, CAST(NULL AS BIGINT) AS pw),
         |$iters,
         |s0 AS (SELECT CAST(dist AS BIGINT) AS wcost, node AS n0 FROM w$rounds
         |  WHERE node = 'column column' AND dist > 0),
         |$walk
         |SELECT wcost,
         |  array_to_string(list_transform(
         |    list_filter([$revN, n0], x -> x IS NOT NULL),
         |    x -> 'Entity:' || x), '->') AS path,
         |  array_to_string(list_transform(
         |    list_filter([$revG], x -> x IS NOT NULL),
         |    x -> 'CO_OCCURS{weight:' || x || '}'), '->') AS rels
         |FROM s$rounds
         |-- the engine emits a row only when the pred walk CLOSES at
         |-- the seed within the hop bound (weightedWitnessOn filters
         |-- cur = src; PropertySpec pins unclosed ⇒ empty) — replay
         |-- that: once the chain reaches the seed every later pred is
         |-- NULL, so membership is exactly closure
         |WHERE list_contains(list_filter([$revN], x -> x IS NOT NULL),
         |  'spark group')""".stripMargin
    },
    "q_cypher_wsp" -> {
      // qWsp's Bellman-Ford CTEs, selected down to the anchored target
      val rounds = 6
      val iters = (1 to rounds).map { i =>
        val prev = s"w${i - 1}"
        s"""w$i AS MATERIALIZED (
           |  SELECT node, min(dist) AS dist FROM (
           |    SELECT node, dist FROM $prev
           |    UNION ALL
           |    SELECT e.dst AS node, p.dist + e.cost AS dist
           |    FROM $prev p JOIN ec e ON p.node = e.src)
           |  GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${graft.graph.Analytics.CooccurSql},
         |ec AS MATERIALIZED (
         |  SELECT src, dst, 1000000 // weight AS cost FROM edges),
         |w0 AS (SELECT 'spark group' AS node, CAST(0 AS BIGINT) AS dist),
         |$iters
         |SELECT CAST(dist AS BIGINT) AS wcost FROM w$rounds
         |WHERE node = 'column column'""".stripMargin
    },
    "q_cypher_asp" -> {
      // layered path-counting BFS unrolled: frontier f_i carries the
      // number of depth-i shortest paths per first-reached node
      val hops = 4
      val iters = (1 to hops).map { i =>
        val prev = i - 1
        s"""f$i AS MATERIALIZED (
           |  SELECT e.dst AS node, CAST(sum(f.cnt) AS BIGINT) AS cnt
           |  FROM f$prev f JOIN edges e ON f.node = e.src
           |  WHERE e.dst NOT IN (SELECT node FROM s$prev)
           |  GROUP BY e.dst),
           |s$i AS MATERIALIZED (
           |  SELECT node FROM s$prev UNION ALL SELECT node FROM f$i)""".stripMargin
      }.mkString(",\n")
      val hits = (1 to hops)
        .map(i => s"SELECT $i AS dist, cnt FROM f$i WHERE node = 'column column'")
        .mkString(" UNION ALL ")
      s"""WITH ${graft.graph.Analytics.CooccurSql},
         |f0 AS (SELECT 'spark group' AS node, CAST(1 AS BIGINT) AS cnt),
         |s0 AS (SELECT node FROM f0),
         |$iters,
         |r AS ($hits)
         |SELECT CAST(dist AS BIGINT) AS len, cnt AS n_paths FROM r
         |WHERE dist >= 1 ORDER BY dist LIMIT 1""".stripMargin
    },
    "q_cypher_asp_paths" -> {
      // forward dist+σ-count CTEs (the asp oracle's), a reverse
      // min-dist BFS, the shortest-path DAG filter, then NAIVE path
      // enumeration over the DAG (oracle-side only — the engine keeps
      // the per-layer lexicographic-prefix cut) ordered by the node
      // list and cut to the cap
      val hops = 4
      val fwd = (1 to hops).map { i =>
        val prev = i - 1
        s"""f$i AS MATERIALIZED (
           |  SELECT e.dst AS node, CAST(sum(f.cnt) AS BIGINT) AS cnt
           |  FROM f$prev f JOIN edges e ON f.node = e.src
           |  WHERE e.dst NOT IN (SELECT node FROM s$prev)
           |  GROUP BY e.dst),
           |s$i AS MATERIALIZED (
           |  SELECT node FROM s$prev UNION ALL SELECT node FROM f$i)""".stripMargin
      }.mkString(",\n")
      val rev = (1 to hops).map { i =>
        val prev = s"r${i - 1}"
        s"""r$i AS MATERIALIZED (
           |  SELECT node, min(dist) AS dist FROM (
           |    SELECT node, dist FROM $prev
           |    UNION ALL
           |    SELECT e.dst AS node, p.dist + 1 AS dist
           |    FROM $prev p JOIN edges e ON p.node = e.src)
           |  GROUP BY node)""".stripMargin
      }.mkString(",\n")
      val fd = (1 to hops).map(i => s"SELECT node, $i AS dist FROM f$i")
        .mkString(" UNION ALL ")
      val hits = (1 to hops)
        .map(i => s"SELECT $i AS dist, cnt FROM f$i WHERE node = 'column column'")
        .mkString(" UNION ALL ")
      val walk = (1 to hops).map { i =>
        s"""p$i AS (
           |  SELECT list_append(p.path, g.v) AS path, g.v AS cur, $i AS d
           |  FROM p${i - 1} p JOIN dag g ON g.u = p.cur AND g.du = p.d
           |  WHERE p.cur <> 'column column'
           |  UNION ALL
           |  SELECT path, cur, d FROM p${i - 1} WHERE cur = 'column column')""".stripMargin
      }.mkString(",\n")
      s"""WITH ${graft.graph.Analytics.CooccurSql},
         |f0 AS (SELECT 'spark group' AS node, CAST(1 AS BIGINT) AS cnt),
         |s0 AS (SELECT node FROM f0),
         |$fwd,
         |r0 AS (SELECT 'column column' AS node, 0 AS dist),
         |$rev,
         |fd AS MATERIALIZED (SELECT node, 0 AS dist FROM f0 UNION ALL $fd),
         |lrow AS MATERIALIZED (
         |  SELECT CAST(dist AS BIGINT) AS l, cnt AS n FROM ($hits)
         |  WHERE dist >= 1 ORDER BY dist LIMIT 1),
         |dag AS MATERIALIZED (
         |  SELECT e.src AS u, e.dst AS v, fu.dist AS du
         |  FROM edges e
         |  JOIN fd fu ON fu.node = e.src
         |  JOIN r$hops rv ON rv.node = e.dst, lrow
         |  WHERE fu.dist + 1 + rv.dist = lrow.l),
         |p0 AS (SELECT ['spark group'] AS path, 'spark group' AS cur, 0 AS d FROM lrow),
         |$walk
         |SELECT len, n_paths, path FROM (
         |  SELECT lrow.l AS len, lrow.n AS n_paths,
         |    array_to_string(list_transform(p.path, x -> 'Entity:' || x), '->') AS path,
         |    p.path AS plist
         |  FROM p$hops p, lrow WHERE p.cur = 'column column')
         |ORDER BY plist LIMIT $AspPathCap""".stripMargin
    },
    "q_cypher_ex21" ->
      s"""WITH $M,
         |oe AS (SELECT DISTINCT doc_id, chunk_id, name FROM mentions
         |  WHERE label = 'organization'),
         |pe AS (SELECT DISTINCT doc_id, chunk_id FROM mentions
         |  WHERE label = 'person')
         |SELECT oe.name AS o_name, count(*) AS n_chunks
         |FROM oe LEFT JOIN pe
         |  ON oe.doc_id = pe.doc_id AND oe.chunk_id = pe.chunk_id
         |WHERE pe.doc_id IS NULL
         |GROUP BY oe.name ORDER BY o_name""".stripMargin,
    "q_cypher_ex20" ->
      s"""WITH $P,
         |pm AS (SELECT DISTINCT doc_id, chunk_id FROM mentions
         |  WHERE label = 'person')
         |SELECT 'Article:' || c.doc_id AS a_uid, count(*) AS n_plain
         |FROM chunks c LEFT JOIN pm
         |  ON c.doc_id = pm.doc_id AND c.chunk_id = pm.chunk_id
         |WHERE pm.doc_id IS NULL
         |GROUP BY c.doc_id ORDER BY a_uid LIMIT 15""".stripMargin,
    "q_cypher_ex18" ->
      s"""WITH $P,
         |edges AS (SELECT DISTINCT doc_id, chunk_id, name
         |  FROM mentions WHERE label = 'organization' AND name LIKE 'spark%')
         |SELECT e.name AS o_name, count(*) AS n_chunks
         |FROM edges e JOIN chunks c USING (doc_id, chunk_id)
         |WHERE c.chunk_text LIKE '%table%'
         |GROUP BY e.name ORDER BY o_name""".stripMargin,
    "q_cypher_ex19" ->
      s"""WITH ${TextPipeline.ChunksSql}
         |SELECT 'Article:' || doc_id AS a_uid,
         |  min(chunk_id) AS first_pos, max(chunk_id) AS last_pos,
         |  round(avg(chunk_id), 6) AS avg_pos
         |FROM chunks GROUP BY doc_id ORDER BY a_uid LIMIT 10""".stripMargin,
    "q_cypher_ex17" ->
      s"""SELECT source AS s_name, ${Props.SourceUrlSql} AS s_url,
         |  count(*) AS n_articles
         |FROM documents
         |WHERE ${Props.SourceTypeSql} = 'rss'
         |GROUP BY source ORDER BY s_name""".stripMargin,
    "q_cypher_ex16" ->
      s"""WITH $M,
         |edges AS (SELECT DISTINCT doc_id, chunk_id, name
         |  FROM mentions WHERE label = 'organization'),
         |seeds AS (SELECT unnest(['spark', 'group', 'table']) AS seed)
         |SELECT seed, count(*) AS n_chunks
         |FROM edges JOIN seeds ON name = seed
         |GROUP BY seed ORDER BY seed""".stripMargin,
    "q_cypher_ex15" ->
      s"""WITH $P,
         |pm AS (SELECT DISTINCT doc_id, chunk_id, name
         |  FROM mentions WHERE label = 'person')
         |SELECT 'Chunk:' || c.doc_id || ':' || c.chunk_id AS c_uid,
         |  count(pm.name) AS n_persons
         |FROM chunks c LEFT JOIN pm USING (doc_id, chunk_id)
         |GROUP BY 1 ORDER BY c_uid LIMIT 20""".stripMargin,
    "q_cypher_ex14" ->
      s"""WITH ${graft.graph.Analytics.CooccurSql},
         |l1 AS (SELECT dst FROM edges WHERE src = 'spark group'),
         |l2 AS (SELECT b.dst FROM edges a JOIN edges b ON a.dst = b.src
         |  WHERE a.src = 'spark group' AND b.dst <> 'spark group'),
         |p AS (SELECT dst FROM l1 UNION ALL SELECT dst FROM l2)
         |SELECT dst AS o_name, count(*) AS n_paths
         |FROM p GROUP BY dst ORDER BY o_name""".stripMargin,
    "q_cypher_ex13" ->
      s"""WITH $M,
         |edges AS (
         |  SELECT DISTINCT doc_id, chunk_id, name
         |  FROM mentions WHERE label = 'organization')
         |SELECT name AS org, count(*) AS n
         |FROM edges GROUP BY name
         |ORDER BY n DESC, org LIMIT 5""".stripMargin,
    "q_cypher_ex22" ->
      s"""WITH $M,
         |edges AS (
         |  SELECT DISTINCT doc_id, chunk_id, name
         |  FROM mentions WHERE label = 'organization')
         |SELECT name AS org, count(*) AS n
         |FROM edges GROUP BY name
         |ORDER BY n DESC, org LIMIT 5 OFFSET 3""".stripMargin,
    "q_cypher_ex11" ->
      s"""WITH ${TextPipeline.ChunksSql},
         |st1 AS (SELECT d.source, c.doc_id, count(*) AS n_chunks
         |  FROM chunks c JOIN documents d ON c.doc_id = d.doc_id
         |  GROUP BY d.source, c.doc_id),
         |st2 AS (SELECT source, count(*) AS n_articles,
         |    CAST(sum(n_chunks) AS BIGINT) AS total_chunks
         |  FROM st1 GROUP BY source HAVING count(*) >= 2)
         |SELECT source AS s_name, n_articles, total_chunks
         |FROM st2 ORDER BY s_name LIMIT 10""".stripMargin,
    "q_cypher_ex12" ->
      s"""WITH ${TextPipeline.ChunksSql},
         |st1 AS (SELECT d.source AS author, c.doc_id, count(*) AS n
         |  FROM chunks c JOIN documents d ON c.doc_id = d.doc_id
         |  GROUP BY d.source, c.doc_id),
         |st2 AS (SELECT author, CAST(sum(n) AS BIGINT) AS total
         |  FROM st1 GROUP BY author HAVING CAST(sum(n) AS BIGINT) >= 5)
         |SELECT author, total FROM st2 ORDER BY total, author LIMIT 10""".stripMargin,
    "q_cypher_ex10" ->
      s"""WITH ${TextPipeline.ChunksSql}
         |SELECT 'Article:' || doc_id AS a_uid, count(*) AS n_chunks
         |FROM chunks GROUP BY doc_id HAVING count(*) >= 3
         |ORDER BY a_uid LIMIT 10""".stripMargin,
    "q_cypher_ex6" ->
      s"""WITH ${TextPipeline.ChunksSql}
         |SELECT 'Article:' || doc_id AS a_uid,
         |  'Chunk:' || doc_id || ':' || chunk_id AS c_uid
         |FROM chunks WHERE doc_id < 5
         |ORDER BY a_uid, c_uid LIMIT 20""".stripMargin,
    "q_cypher_ex1" ->
      s"""WITH $M
         |SELECT DISTINCT 'Article:' || m.doc_id AS a_uid,
         |  ${Props.TitleSql} AS a_title
         |FROM mentions m JOIN documents d ON m.doc_id = d.doc_id
         |WHERE m.label = 'person' AND m.name IN ('customer', 'line customer')
         |ORDER BY a_uid LIMIT 10""".stripMargin,
    "q_cypher_ex2" ->
      s"""WITH $M
         |SELECT count(*) AS count_s FROM (
         |  SELECT DISTINCT d.source
         |  FROM mentions m JOIN documents d ON m.doc_id = d.doc_id
         |  WHERE m.label = 'organization' AND m.name = 'spark group')""".stripMargin,
    "q_cypher_ex4" ->
      """SELECT 'Article:' || doc_id AS a_uid, lang AS a_lang
        |FROM documents WHERE source = 'src3'
        |ORDER BY a_uid LIMIT 10""".stripMargin,
    "q_cypher_ex5" ->
      s"""WITH $M,
         |${graft.graph.NewsGraph.ArticleTopicsSql}
         |SELECT count(DISTINCT doc_id) AS count_a
         |FROM topics WHERE topic = 'organization'""".stripMargin,
    "q_cypher_ex7" ->
      s"""WITH ${TextPipeline.ChunksSql}
         |SELECT 'Article:' || doc_id AS article_id,
         |  string_agg('Chunk:' || doc_id || ':' || chunk_id, ' | '
         |    ORDER BY 'Chunk:' || doc_id || ':' || chunk_id) AS chunks
         |FROM chunks
         |WHERE 'Article:' || doc_id IN ('Article:1', 'Article:3', 'Article:7')
         |GROUP BY doc_id
         |ORDER BY article_id""".stripMargin,
    "q_cypher_ex9" ->
      s"""WITH ${TextPipeline.ChunksSql},
         |arts AS (SELECT doc_id, ${Props.PublishingDateSql} AS publishing_date,
         |  ${Props.UrlSql} AS url, source FROM documents)
         |SELECT 'Chunk:' || c.doc_id || ':' || c.chunk_id AS c_uid,
         |  to_json({position: c.chunk_id,
         |    section: ${Props.SectionSql},
         |    category: ${Props.CategorySql},
         |    date: a.publishing_date, url: a.url, source: a.source}) AS metadata
         |FROM chunks c JOIN arts a ON c.doc_id = a.doc_id
         |WHERE c.doc_id < 3
         |ORDER BY c_uid""".stripMargin,
    "q_cypher_ex8" ->
      s"""WITH $M
         |SELECT DISTINCT 'Article:' || doc_id AS a_uid,
         |  chunk_id AS c_position, name AS o_name
         |FROM mentions
         |WHERE label = 'location' AND (name = 'row' OR name = 'column window')
         |ORDER BY a_uid, c_position, o_name LIMIT 15""".stripMargin,
    "q_cypher_ex3" ->
      s"""WITH $P
         |SELECT DISTINCT 'Chunk:' || c.doc_id || ':' || c.chunk_id AS c_uid,
         |  c.chunk_text AS c_text
         |FROM chunks c JOIN mentions m
         |  ON m.doc_id = c.doc_id AND m.chunk_id = c.chunk_id
         |WHERE m.label = 'location' AND m.name = 'row window'
         |ORDER BY c_uid LIMIT 10""".stripMargin)
}
