package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

import graft.cypher.CypherLite
import graft.cypher.CypherLite._

class CypherLiteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("shortestPath compiles to BFS and returns the true hop distance") {
    val got = CypherLite.run(spark, TestSpark.sf, Ex23).collect()
    assert(got.length == 1, s"expected one path row, got ${got.toSeq}")
    val len = got(0).getAs[Long]("len")
    // cross-check against the standalone BFS operator from the same seed
    val want = graft.graph.Analytics.qShortestPath(spark, TestSpark.sf)
      .filter(col("name") === "column column").collect()
    assert(want.nonEmpty && want(0).getAs[Int]("dist").toLong == len,
      s"cypher len=$len vs BFS ${want.toSeq}")
  }

  test("wlength shortestPath matches the standalone weighted-SP operator") {
    val got = CypherLite.run(spark, TestSpark.sf, ExWsp).collect()
    assert(got.length == 1, s"expected one path row, got ${got.toSeq}")
    val wcost = got(0).getAs[Long]("wcost")
    // parity with qWeightedShortestPath (same seed, same cost rule,
    // same round count) at the anchored target
    val want = graft.graph.Analytics.qWeightedShortestPath(spark, TestSpark.sf)
      .filter(col("name") === "column column").collect()
    assert(want.nonEmpty && want(0).getAs[Long]("wdist") == wcost,
      s"cypher wcost=$wcost vs qWsp ${want.toSeq}")
    // a weighted cost is never below cheapest-edge × hop distance and
    // the hop-count path exists wherever the weighted one does
    assert(wcost > 0)
  }

  test("allShortestPaths counts every minimal path, at the BFS distance") {
    val got = CypherLite.run(spark, TestSpark.sf, ExAsp).collect()
    assert(got.length == 1, s"expected one row, got ${got.toSeq}")
    val (len, n) = (got(0).getAs[Long]("len"), got(0).getAs[Long]("n_paths"))
    // distance agrees with the plain shortestPath compile
    val sp = CypherLite.run(spark, TestSpark.sf, Ex23).head().getAs[Long]("len")
    assert(len == sp, s"asp len=$len vs sp len=$sp")
    assert(n >= 1)
    // exact count cross-check: enumerate len-hop paths over the
    // collected edge list (tiny at this SF)
    val adj = graft.graph.Analytics.edges(spark, TestSpark.sf)
      .select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def countPaths(from: String, to: String, k: Long): Long =
      if (k == 0) { if (from == to) 1L else 0L }
      else adj.getOrElse(from, Array.empty[String])
        .map(countPaths(_, to, k - 1)).sum
    // shortest-path count = #walks of exactly `len` hops that end at
    // the target AND never reach it earlier; at minimal length every
    // such walk is a shortest path (a walk can't revisit the target
    // before `len` — that would be a shorter path)
    assert(countPaths("spark group", "column column", len) == n,
      s"asp count $n != enumerated ${countPaths("spark group", "column column", len)}")
  }

  test("shortestPath to an unreachable node returns no row (Cypher semantics)") {
    val q = "MATCH p = shortestPath((a:Entity {name:'spark group'})" +
      "-[:CO_OCCURS*1..4]-(b:Entity {name:'no such entity xyz'})) " +
      "RETURN length(p) AS len"
    assert(CypherLite.run(spark, TestSpark.sf, q).count() == 0)
  }

  test("path functions refuse a minimal length above 1 instead of returning no row") {
    // an entity adjacent to the seed: its shortest path has length 1,
    // so `*2..4` has no answer the min-distance BFS could give
    val nbr = CypherLite.run(spark, TestSpark.sf,
      "MATCH (a:Entity {name: 'spark group'})-[:CO_OCCURS]->(b:Entity) " +
        "RETURN b.name AS name ORDER BY name LIMIT 1").head().getString(0)
    val pattern = s"(a:Entity {name:'spark group'})-[:CO_OCCURS*2..4]-(b:Entity {name:'$nbr'})"
    val near = CypherLite.run(spark, TestSpark.sf,
      s"MATCH p = shortestPath(${pattern.replace("*2..4", "*1..4")}) RETURN length(p) AS len")
    assert(near.collect().map(_.getLong(0)).toSeq == Seq(1L))
    Seq(
      s"MATCH p = shortestPath($pattern) RETURN length(p) AS len",
      s"MATCH p = shortestPath($pattern) RETURN length(p) AS len, nodes(p) AS path",
      s"MATCH p = shortestPath($pattern) RETURN p",
      s"MATCH p = shortestPath($pattern) RETURN wlength(p) AS wcost",
      s"MATCH p = allShortestPaths($pattern) RETURN length(p) AS len, count(p) AS n",
      s"MATCH p = allShortestPaths($pattern) " +
        "RETURN length(p) AS len, count(p) AS n, nodes(p) AS path").foreach { q =>
      val e = intercept[IllegalArgumentException](CypherLite.run(spark, TestSpark.sf, q).collect())
      assert(e.getMessage.contains("*2..4") && e.getMessage.contains("hortestPath"), e.getMessage)
    }
  }

  test("path front: reversed RETURN items give the canonical rows in the written column order") {
    // the single-item forms (Ex23, ExWsp, Ex43) reverse to their own text
    Seq(ExSpPath, ExWspPath, ExAsp, ExAspPaths).foreach { q =>
      val at = q.lastIndexOf("RETURN ") + "RETURN ".length
      val items = q.substring(at).split(", ").toSeq
      val reversed = CypherLite.run(spark, TestSpark.sf, q.take(at) + items.reverse.mkString(", "))
      assert(reversed.columns.toSeq == items.reverse.map(_.split(" ").last), q)
      val canonical = CypherLite.run(spark, TestSpark.sf, q)
      val got = reversed.select(canonical.columns.toSeq.map(col): _*).collect().toSeq
      val want = canonical.collect().toSeq
      assert(want.nonEmpty && got == want, s"$q\n  got  $got\n  want $want")
    }
  }

  test("path front: an unsupported item set or a non-path variable names the function") {
    val head = "((a:Entity {name:'spark group'})-[:CO_OCCURS*1..4]-(b:Entity {name:'column column'})) "
    Seq(
      s"MATCH p = shortestPath$head RETURN count(p) AS n" -> "shortestPath",
      s"MATCH p = allShortestPaths$head RETURN nodes(p) AS path" -> "allShortestPaths",
      s"MATCH p = shortestPath$head RETURN length(q) AS l" -> "shortestPath").foreach {
      case (q, fn) =>
        val e = intercept[IllegalArgumentException](CypherLite.run(spark, TestSpark.sf, q))
        assert(e.getMessage.startsWith(s"$fn:"), e.getMessage)
    }
  }

  test("exists pattern semi-join complements the NOT-pattern anti-join") {
    val total = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk) RETURN count(c) AS n").head().getLong(0)
    val without = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk) WHERE NOT (c)-[:MENTIONS]->(:Person) " +
        "RETURN count(c) AS n").head().getLong(0)
    val withP = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk) WHERE exists((c)-[:MENTIONS]->(:Person)) " +
        "RETURN count(c) AS n").head().getLong(0)
    assert(withP + without == total && withP > 0)
    // the bare-pattern spelling is the same predicate
    val bare = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk) WHERE (c)-[:MENTIONS]->(:Person) " +
        "RETURN count(c) AS n").head().getLong(0)
    assert(bare == withP)
    // semi-join must NOT fan out rows the way a MATCH hop does
    val hopRows = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk)-[:MENTIONS]->(p:Person) RETURN count(c) AS n")
      .head().getLong(0)
    assert(hopRows >= withP)
    // NOT exists((c)-[...]) — the two grammar forms composed — must be
    // the same anti-join as the bare NOT pattern, not a compile error
    val notExists = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk) WHERE NOT exists((c)-[:MENTIONS]->(:Person)) " +
        "RETURN count(c) AS n").head().getLong(0)
    assert(notExists == without)
  }

  test("count(*) counts rows, bare and per-group") {
    val n = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk) RETURN count(*) AS n").head().getLong(0)
    val nv = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk) RETURN count(c) AS n").head().getLong(0)
    assert(n == nv && n > 0)
    val grouped = CypherLite.run(spark, TestSpark.sf,
      "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
        "RETURN a.doc_id AS doc_id, count(*) AS n ORDER BY doc_id")
    val viaVar = CypherLite.run(spark, TestSpark.sf,
      "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
        "RETURN a.doc_id AS doc_id, count(c) AS n ORDER BY doc_id")
    assert(grouped.collect().toSeq == viaVar.collect().toSeq)
  }

  test("string inequality is lexicographic — the ISO-date range idiom") {
    val cutoff = CypherLite.nodes(spark, TestSpark.sf, "Article")
      .orderBy("publishing_date").select("publishing_date")
      .collect().map(_.getString(0)).distinct.apply(1)
    val got = CypherLite.run(spark, TestSpark.sf,
      s"MATCH (a:Article) WHERE a.publishing_date >= '$cutoff' " +
        "RETURN count(a) AS n").head().getLong(0)
    val want = CypherLite.nodes(spark, TestSpark.sf, "Article")
      .filter(col("publishing_date") >= cutoff).count()
    assert(got == want && got > 0)
    val below = CypherLite.run(spark, TestSpark.sf,
      s"MATCH (a:Article) WHERE a.publishing_date < '$cutoff' " +
        "RETURN count(a) AS n").head().getLong(0)
    assert(got + below ==
      CypherLite.nodes(spark, TestSpark.sf, "Article").count())
  }

  test("coalesce null-fills the OPTIONAL MATCH misses and groups correctly") {
    val df = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk) OPTIONAL MATCH (c)-[:MENTIONS]->(p:Person) " +
        "RETURN coalesce(p.name, 'nobody') AS who, count(c) AS n " +
        "ORDER BY who")
    val rows = df.collect()
    assert(rows.forall(_.getString(0) != null))
    val misses = rows.filter(_.getString(0) == "nobody").map(_.getLong(1)).sum
    val without = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk) WHERE NOT (c)-[:MENTIONS]->(:Person) " +
        "RETURN count(c) AS n").head().getLong(0)
    assert(misses == without, s"coalesce misses=$misses anti-join=$without")
  }

  test("plain NOT negation and numeric <> complement their positives") {
    val total = CypherLite.run(spark, TestSpark.sf,
      "MATCH (a:Article) RETURN count(*) AS n").head().getLong(0)
    val en = CypherLite.run(spark, TestSpark.sf,
      "MATCH (a:Article) WHERE a.lang = 'en' RETURN count(*) AS n")
      .head().getLong(0)
    val notEn = CypherLite.run(spark, TestSpark.sf,
      "MATCH (a:Article) WHERE NOT a.lang = 'en' RETURN count(*) AS n")
      .head().getLong(0)
    assert(en + notEn == total && en > 0 && notEn > 0)
    val neq = CypherLite.run(spark, TestSpark.sf,
      "MATCH (a:Article) WHERE a.doc_id <> 3 RETURN count(*) AS n")
      .head().getLong(0)
    assert(neq == total - 1)
    // NOT distributes over a parenthes-free OR disjunct the Cypher
    // way: AND binds tighter, so each conjunct negates independently
    val both = CypherLite.run(spark, TestSpark.sf,
      "MATCH (a:Article) WHERE NOT a.lang = 'en' AND a.doc_id <> 3 " +
        "RETURN count(*) AS n").head().getLong(0)
    assert(both <= notEn && both >= notEn - 1)
  }

  test("toLower predicate matches case-insensitively, exact vs lower(col)") {
    val q = "MATCH (e:Entity) WHERE toLower(e.name) CONTAINS 'spark' " +
      "RETURN e.name AS name ORDER BY e.name"
    val got = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.getString(0)).toSeq
    val want = CypherLite.nodes(spark, TestSpark.sf, "Entity")
      .filter(org.apache.spark.sql.functions.lower(col("name")).contains("spark"))
      .select("name")
      .orderBy("name").collect().map(_.getString(0)).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("=~ regex predicate is anchored like Cypher, not find-anywhere") {
    // anchored: 'spark.*' must NOT match names merely containing
    // spark mid-string
    val q = "MATCH (e:Entity) WHERE e.name =~ 'spark.*' " +
      "RETURN e.name AS name ORDER BY e.name"
    val got = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.getString(0)).toSeq
    assert(got.nonEmpty && got.forall(_.startsWith("spark")))
    val anyContains = CypherLite.nodes(spark, TestSpark.sf, "Entity")
      .filter(col("name").contains("spark") && !col("name").startsWith("spark"))
      .count()
    val withMid = CypherLite.run(spark, TestSpark.sf,
      "MATCH (e:Entity) WHERE e.name =~ '.*spark.*' RETURN e.name AS name")
      .count()
    assert(withMid == got.size + anyContains,
      "anchored vs wrapped patterns must differ by the mid-string matches")
  }

  test("STARTS WITH predicate coexists with a WITH pipeline stage (slicer hazard)") {
    // `STARTS WITH` contains the WITH keyword: the stage slicer must
    // not cut the query there
    val q = "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
      "WHERE o.name STARTS WITH 'spark' " +
      "WITH o, count(c) AS n WHERE n >= 1 " +
      "RETURN o.name, n ORDER BY o.name"
    val df = CypherLite.run(spark, TestSpark.sf, q)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(0).startsWith("spark")))
    // string predicates agree with the equivalent explicit filter
    val expect = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
        "RETURN o.name, count(c) AS n ORDER BY o.name")
      .filter(col("o_name").startsWith("spark")).collect()
    assert(rows.toSeq == expect.toSeq)
  }

  test("CONTAINS and ENDS WITH filter node properties") {
    val c = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
        "WHERE o.name ENDS WITH 'group' RETURN o.name, count(c) AS n ORDER BY o.name")
      .collect()
    assert(c.nonEmpty && c.forall(_.getString(0).endsWith("group")))
    val ct = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
        "WHERE o.name CONTAINS 'park' RETURN o.name, count(c) AS n ORDER BY o.name")
      .collect()
    assert(ct.nonEmpty && ct.forall(_.getString(0).contains("park")))
  }

  test("NOT (pattern) anti-join complements the OPTIONAL MATCH zero-count view") {
    import org.apache.spark.sql.functions.sum
    // chunks with no person mention via NOT pattern...
    val anti = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk) WHERE NOT (c)-[:MENTIONS]->(:Person) " +
        "RETURN count(c) AS n").head().getLong(0)
    // ...must equal the Ex15-style zero-count rows over ALL chunks
    val viaOpt = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk) OPTIONAL MATCH (c)-[:MENTIONS]->(p:Person) " +
        "WITH c, count(p) AS n_p RETURN c.uid, n_p")
      .filter(col("n_p") === 0).count()
    assert(anti == viaOpt, s"anti $anti vs optional-zero $viaOpt")
    assert(anti > 0, "corpus must contain person-free chunks")
    // dst property filter narrows the anti side: excluding chunks that
    // mention ONE person keeps at least as many rows as excluding all
    val one = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk) WHERE NOT (c)-[:MENTIONS]->(:Person {name: 'customer'}) " +
        "RETURN count(c) AS n").head().getLong(0)
    assert(one >= anti)
  }

  test("IS NULL / IS NOT NULL partition the optional hop exactly") {
    val base = "MATCH (c:Chunk) OPTIONAL MATCH (c)-[:MENTIONS]->(p:Person) "
    val nul = CypherLite.run(spark, TestSpark.sf,
      base + "WHERE p IS NULL RETURN count(c) AS n").head().getLong(0)
    val notNul = CypherLite.run(spark, TestSpark.sf,
      base + "WHERE p IS NOT NULL RETURN count(c) AS n").head().getLong(0)
    val all = CypherLite.run(spark, TestSpark.sf,
      base + "RETURN count(c) AS n").head().getLong(0)
    assert(nul + notNul == all,
      s"IS NULL ($nul) + IS NOT NULL ($notNul) must partition all rows ($all)")
    assert(nul > 0 && notNul > 0)
    // property form: a property-null check on the optional variable
    // agrees with the bare-variable uid check
    val propNul = CypherLite.run(spark, TestSpark.sf,
      base + "WHERE p.name IS NULL RETURN count(c) AS n").head().getLong(0)
    assert(propNul == nul)
  }

  test("min/max/avg aggregate with implicit grouping") {
    val rows = CypherLite.run(spark, TestSpark.sf, Ex19).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mn, mx, avg) = (r.getInt(1), r.getInt(2), r.getDouble(3))
      assert(mn <= mx && avg >= mn && avg <= mx,
        s"inconsistent stats: min=$mn max=$mx avg=$avg")
    }
  }

  test("parses a linear path with WHERE IN and LIMIT") {
    val Seq(q) = parse(Ex1)
    assert(q.paths.head.nodes.flatMap(_.label) == Seq("Article", "Chunk", "Person"))
    assert(q.paths.head.rels ==
      Seq(CypherLite.RelPat(None, Seq("CONTAINS"), reversed = false, None),
        CypherLite.RelPat(None, Seq("MENTIONS"), reversed = false, None)))
    assert(q.where.contains(InPred("o", "name", Seq("customer", "line customer"))))
    assert(q.retDistinct && q.limit.contains(10))
  }

  test("parses WITH DISTINCT + count()") {
    val Seq(q) = parse(Ex2)
    assert(q.stages == Seq(WithDistinct("s")))
    assert(q.ret == Seq(CountItem("s")))
  }

  test("UNION compiles to a distinct union (chat.py example 3 shape)") {
    val cypher =
      "MATCH (c:Chunk)-[:MENTIONS]->(o:Location) WHERE o.name = 'row window' RETURN c.uid " +
        "UNION MATCH (c:Chunk)-[:MENTIONS]->(o:Person) WHERE o.name = 'line customer' RETURN c.uid"
    val df = CypherLite.run(spark, TestSpark.sf, cypher)
    val n = df.count()
    assert(n > 0)
    assert(df.distinct().count() == n, "UNION must deduplicate")
  }

  test("unknown label fails loudly") {
    intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "MATCH (x:Nope) RETURN x.uid")
    }
  }

  test("all five examples return rows (incl. reverse arrow + inline prop)") {
    Seq(Ex1, Ex2, Ex3, Ex4, Ex5).foreach { c =>
      assert(CypherLite.run(spark, TestSpark.sf, c).count() > 0)
    }
  }

  test("AND-chained predicates conjoin (string + numeric)") {
    val df = CypherLite.run(spark, TestSpark.sf,
      "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
        "WHERE a.lang = 'en' AND a.doc_id < 50 RETURN a.uid, c.uid")
    val n = df.count()
    assert(n > 0)
    val langOnly = CypherLite.run(spark, TestSpark.sf,
      "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) WHERE a.lang = 'en' RETURN a.uid, c.uid")
    assert(n < langOnly.count(), "conjunction must be more selective")
  }

  test("collect() groups implicitly by the plain return props (graph.py:135)") {
    val Seq(q) = parse(Ex7)
    assert(q.ret == Seq(PropItem("a", "uid", Some("article_id")),
      CollectItem("c", None, Some("chunks"))))
    val rows = CypherLite.run(spark, TestSpark.sf, Ex7).collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getString(1).contains(" | ")), "chunks flatten sorted-joined")
    assert(rows.map(_.getString(0)).sorted.sameElements(
      Array("Article:1", "Article:3", "Article:7")))
  }

  test("multi-pattern MATCH joins on the shared variable; OR disjoins") {
    val Seq(q) = parse(Ex8)
    assert(q.paths.size == 2)
    assert(q.paths(1).nodes.head == NodePat("c", None, None))
    assert(q.where.head.isInstanceOf[OrPred])
    val multi = CypherLite.run(spark, TestSpark.sf, Ex8)
    // the same query as one linear path must give identical rows
    val linear = CypherLite.run(spark, TestSpark.sf,
      "MATCH (a:Article)-[:CONTAINS]->(c:Chunk)-[:MENTIONS]->(o:Location) " +
        "WHERE o.name = 'row' OR o.name = 'column window' " +
        "RETURN DISTINCT a.uid, c.position, o.name " +
        "ORDER BY a.uid, c.position, o.name LIMIT 15")
    assert(multi.collect().toSeq == linear.collect().toSeq)
    assert(multi.count() > 0)
  }

  test("OR widens selectivity vs a single disjunct") {
    val both = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk)-[:MENTIONS]->(o:Location) " +
        "WHERE o.name = 'row' OR o.name = 'window' RETURN DISTINCT c.uid")
    val one = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk)-[:MENTIONS]->(o:Location) " +
        "WHERE o.name = 'row' RETURN DISTINCT c.uid")
    assert(both.count() >= one.count())
    assert(both.count() > 0)
  }

  test("property-map projection compiles to a JSON metadata column (retrieval query)") {
    val Seq(q) = parse(Ex9)
    val Some(m) = q.ret.collectFirst { case m: MapItem => m }
    assert(m.entries == Seq(
      "position" -> ("c", "position"), "section" -> ("c", "section"),
      "category" -> ("c", "category"), "date" -> ("a", "publishing_date"),
      "url" -> ("a", "url"), "source" -> ("s", "name")))
    val rows = CypherLite.run(spark, TestSpark.sf, Ex9).collect()
    assert(rows.nonEmpty)
    val meta = rows.head.getString(1)
    assert(meta.startsWith("""{"position":"""), meta)
    assert(meta.contains(""""category":"headline""""), meta)
    assert(meta.contains(""""url":"https://"""), meta)
  }

  test("WITH aggregation stage filters like HAVING and carries the variable") {
    val Seq(q) = parse(Ex10)
    val Seq(wc: WithClause) = q.stages
    assert(wc.vars == Seq("a"))
    assert(wc.items == Seq(CountItem("c", false, Some("n_chunks"))))
    assert(wc.preds == Seq(BarePred("n_chunks", ">=", 3)))
    val rows = CypherLite.run(spark, TestSpark.sf, Ex10).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) >= 3))
    // unfiltered variant must be a superset
    val all = CypherLite.run(spark, TestSpark.sf,
      "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
        "WITH a, count(c) AS n_chunks RETURN a.uid, n_chunks").count()
    assert(all >= rows.length)
  }

  test("article/chunk nodes expose reference metadata properties") {
    val a = CypherLite.nodes(spark, TestSpark.sf, "Article")
    assert(Seq("title", "publishing_date", "language", "url").forall(a.columns.contains))
    val r = a.orderBy("doc_id").select("title", "publishing_date", "url").head()
    assert(r.getString(0).nonEmpty)
    assert(r.getString(1).matches("""\d{4}-\d{2}-\d{2}"""))
    assert(r.getString(2).startsWith("https://"))
    val c = CypherLite.nodes(spark, TestSpark.sf, "Chunk")
    val cats = c.select("category").distinct().collect().map(_.getString(0)).toSet
    assert(cats.subsetOf(Set("headline", "summary", "paragraph")))
    assert(c.filter(col("position") === 0 && col("category") =!= "headline").count() == 0)
  }

  test("Ex1 returns article titles (chat.py:26 a.title)") {
    val df = CypherLite.run(spark, TestSpark.sf, Ex1)
    assert(df.columns.toSeq == Seq("a_uid", "a_title"))
    assert(df.count() > 0)
  }

  test("reverse arrow binds direction correctly") {
    val fwd = CypherLite.run(spark, TestSpark.sf,
      "MATCH (p:Person {name: 'src3'})-[:AUTHORED]->(a:Article) RETURN a.uid")
    val rev = CypherLite.run(spark, TestSpark.sf,
      "MATCH (a:Article)<-[:AUTHORED]-(p:Person {name: 'src3'}) RETURN a.uid")
    assert(fwd.except(rev).count() == 0 && rev.except(fwd).count() == 0)
  }

  test("multi-stage WITH chains re-aggregate carried aliases (Ex11)") {
    val Seq(q) = parse(Ex11)
    assert(q.stages.size == 2)
    val Seq(s1: WithClause, s2: WithClause) = q.stages
    assert(s1.vars == Seq("s", "a") &&
      s1.items == Seq(CountItem("c", false, Some("n_chunks"))))
    assert(s2.vars == Seq("s") && s2.items == Seq(
      CountItem("a", false, Some("n_articles")),
      SumItem("n_chunks", None, Some("total_chunks"))))
    assert(s2.preds == Seq(BarePred("n_articles", ">=", 2)))
    val rows = CypherLite.run(spark, TestSpark.sf, Ex11).collect()
    assert(rows.nonEmpty)
    // per-source totals must equal the directly-computed chunk counts
    val direct = CypherLite.run(spark, TestSpark.sf,
      "MATCH (s:Source)-[:PUBLISHED]->(a:Article)-[:CONTAINS]->(c:Chunk) " +
        "RETURN s.name, count(c) AS total_chunks ORDER BY s.name LIMIT 10")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(direct(r.getString(0)) == r.getLong(2),
        s"two-stage rollup for ${r.getString(0)}")
    }
  }

  test("SKIP paginates: Ex22 is rows 4..8 of the unskipped leaderboard") {
    val Seq(q) = parse(Ex22)
    assert(q.skip.contains(3) && q.limit.contains(5))
    val full = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
        "WITH o.name AS org, count(c) AS n " +
        "RETURN org, n ORDER BY n DESC, org LIMIT 8").collect().toSeq
    val page = CypherLite.run(spark, TestSpark.sf, Ex22).collect().toSeq
    assert(page == full.drop(3), s"expected page 2; got $page vs $full")
  }

  test("ORDER BY key starting with the letters 'by' is not mangled (ADVICE r7)") {
    // the BY-keyword stripper must use a word boundary: an alias named
    // `bytes` used to be rewritten to `tes` and fail resolution
    val rows = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
        "WITH o.name AS org, count(c) AS bytes " +
        "RETURN org, bytes ORDER BY bytes DESC, org LIMIT 5").collect()
    assert(rows.nonEmpty)
    val pairs = rows.map(r => (-r.getLong(1), r.getString(0)))
    assert(pairs.sameElements(pairs.sortBy(identity)),
      "must sort by the 'bytes' alias, descending")
  }

  test("ORDER BY DESC sorts descending with ascending tiebreak (Ex13)") {
    val Seq(q) = parse(Ex13)
    assert(q.orderBy == Seq(PropItem("", "n") -> true, PropItem("", "org") -> false))
    val rows = CypherLite.run(spark, TestSpark.sf, Ex13).collect()
    assert(rows.nonEmpty && rows.length <= 5)
    val pairs = rows.map(r => (-r.getLong(1), r.getString(0)))
    assert(pairs.sameElements(pairs.sortBy(identity)), "descending count order")
  }

  test("WITH property alias becomes the next stage's grouping variable (Ex12)") {
    val rows = CypherLite.run(spark, TestSpark.sf, Ex12).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) >= 5))
    // ORDER BY total, author holds
    val pairs = rows.map(r => (r.getLong(1), r.getString(0)))
    assert(pairs.sameElements(pairs.sortBy(identity)))
  }

  test("OPTIONAL MATCH keeps unmatched rows with zero counts (Ex15)") {
    val Seq(q) = parse(Ex15)
    assert(q.paths.map(_.nodes.map(_.v)) == Seq(Seq("c")))
    assert(q.optPaths.map(_.nodes.map(_.v)) == Seq(Seq("c", "o")))
    val rows = CypherLite.run(spark, TestSpark.sf, Ex15).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.size == 20)
    // the required MATCH alone must yield the same chunk set (outer
    // join never drops rows) and some chunk must have zero persons
    val allChunks = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk) RETURN c.uid ORDER BY c.uid LIMIT 20")
      .collect().map(_.getString(0)).toSet
    assert(rows.keySet == allChunks)
    assert(rows.values.exists(_ == 0), "need a zero-count fixture chunk")
    assert(rows.values.exists(_ > 0))
  }

  test("variable-length hop counts paths with relationship uniqueness (Ex14)") {
    val Seq(q) = parse(Ex14)
    assert(q.paths.head.rels ==
      Seq(CypherLite.RelPat(None, Seq("CO_OCCURS"), reversed = false, Some((1, 2)))))
    val got = CypherLite.run(spark, TestSpark.sf, Ex14).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    // in-memory reference: adjacency from the co-occurrence edge list
    val adj = graft.graph.Analytics.edges(spark, TestSpark.sf)
      .select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val seed = "spark group"
    val l1 = adj.getOrElse(seed, Seq.empty)
    val l2 = l1.flatMap(m => adj.getOrElse(m, Seq.empty)).filter(_ != seed)
    val want = (l1 ++ l2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == want, s"path counts diverge: got ${got.size} want ${want.size} names")
    // the seed itself never appears (a 2-path back reuses its edge)
    assert(!got.contains(seed))
  }

  test("<> predicate excludes exactly the matching rows") {
    val all = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) RETURN o.name, count(c) AS n")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val excluded = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) WHERE o.name <> 'spark' " +
        "RETURN o.name, count(c) AS n")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(all.contains("spark"))
    assert(excluded == all - "spark")
  }

  test("UNWIND fans a literal list out through the match (Ex16)") {
    val Seq(q) = parse(Ex16)
    assert(q.unwind == Some(Seq("spark", "group", "table") -> "seed"))
    val got = CypherLite.run(spark, TestSpark.sf, Ex16).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set("spark", "group", "table"))
    // each count equals the single-seed compiled query's answer
    got.foreach { case (seed, n) =>
      val solo = CypherLite.run(spark, TestSpark.sf,
        s"MATCH (c:Chunk)-[:MENTIONS]->(o:Organization {name: '$seed'}) " +
          "RETURN count(c) AS n_chunks").collect()
      assert(solo.head.getLong(0) == n, s"$seed: $n vs ${solo.head.getLong(0)}")
    }
  }

  test("relationship variable parses and exposes edge properties (Ex24)") {
    val Seq(q) = parse(Ex24)
    assert(q.paths.head.rels ==
      Seq(CypherLite.RelPat(Some("r"), Seq("CO_OCCURS"), reversed = false, None)))
    assert(q.where.contains(NumPred("r", "weight", ">=", 2)))
    // weights read through the compiled path equal the co-occurrence
    // edge list's — the property round-trips, not just the topology
    val got = CypherLite.run(spark, TestSpark.sf, Ex24).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(got.nonEmpty)
    val want = graft.graph.Analytics.edges(spark, TestSpark.sf)
      .filter(col("src") === "spark group" && col("weight") >= 2).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    got.foreach { case (name, w) =>
      assert(want.get(name).contains(w), s"weight for $name: $w vs ${want.get(name)}")
    }
  }

  test("multi-type hop unions edge tables and type(r) tags the branch (Ex25)") {
    val Seq(q) = parse(Ex25)
    assert(q.paths.head.rels == Seq(CypherLite.RelPat(Some("r"),
      Seq("CONTAINS", "HAS_TOPIC"), reversed = false, None)))
    assert(q.paths.head.nodes.last.label.isEmpty, "x is uid-only")
    val got = CypherLite.run(spark, TestSpark.sf, Ex25).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.keys.map(_._2).toSet.subsetOf(Set("CONTAINS", "HAS_TOPIC")))
    // per-branch counts match the single-type compiled queries
    got.collect { case ((uid, "CONTAINS"), n) =>
      val solo = CypherLite.run(spark, TestSpark.sf,
        s"MATCH (a:Article)-[:CONTAINS]->(c:Chunk) WHERE a.uid = '$uid' " +
          "RETURN count(c) AS n").head().getLong(0)
      assert(solo == n, s"$uid CONTAINS: $n vs $solo")
    }
  }

  test("labels() literal and CASE WHEN bucketing over rel properties (Ex26)") {
    val rows = CypherLite.run(spark, TestSpark.sf, Ex26).collect()
    assert(rows.nonEmpty && rows.forall(_.getString(0) == """["Person"]"""))
    val kinds = rows.map(_.getString(1)).toSet
    assert(kinds.subsetOf(Set("multiword", "single")))
    // bucket counts recomputed from the property-bearing edge table
    val pe = CypherLite.edgesWithProps(spark, TestSpark.sf, "MENTIONS", Some("Person"))
      .collect().map(r => (r.getAs[Long]("n_tokens"), r.getAs[Int]("start_pos")))
    val wantMulti = pe.count(_._1 >= 2).toLong
    val wantSingle = pe.count(_._1 < 2).toLong
    val gotMap = rows.map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(gotMap.getOrElse("multiword", 0L) == wantMulti)
    assert(gotMap.getOrElse("single", 0L) == wantSingle)
  }

  test("numeric CASE branches and ELSE-less CASE null-fill compile") {
    val n = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk)-[r:MENTIONS]->(p:Person) " +
        "RETURN CASE WHEN r.n_tokens >= 2 THEN 1 ELSE 0 END AS is_multi, " +
        "count(c) AS n ORDER BY is_multi").collect()
    assert(n.map(_.getLong(0)).toSet.subsetOf(Set(0L, 1L)))
    val noElse = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk)-[r:MENTIONS]->(p:Person) " +
        "RETURN CASE WHEN r.n_tokens >= 2 THEN 'multi' END AS k, count(c) AS n " +
        "ORDER BY k").collect()
    // unmatched rows fall to NULL (Cypher CASE without ELSE)
    assert(noElse.exists(_.isNullAt(0)) || noElse.forall(!_.isNullAt(0)))
  }

  test("two-phase MATCH expands around the carried top-N (Ex30)") {
    val rows = CypherLite.run(spark, TestSpark.sf, Ex30).collect()
    assert(rows.length == 3)
    // recompute each org's distinct-article count independently
    rows.foreach { r =>
      val (org, nArt) = (r.getString(0), r.getLong(2))
      val want = CypherLite.run(spark, TestSpark.sf,
        "MATCH (a:Article)-[:CONTAINS]->(c:Chunk)-[:MENTIONS]->" +
          s"(o:Organization {name: '$org'}) " +
          "RETURN count(DISTINCT a) AS n").head().getLong(0)
      assert(nArt == want, s"$org: $nArt != $want")
    }
    // reusing a head variable in the second MATCH is refused loudly
    val e1 = intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
          "WITH o.name AS org, count(c) AS n " +
          "MATCH (c)-[:MENTIONS]->(p:Person) " +
          "WHERE p.name = org RETURN org, count(p) AS np")
    }
    assert(e1.getMessage.contains("fresh variables"))
    // a second MATCH with no join-back equality is a refused cartesian
    val e2 = intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
          "WITH o.name AS org, count(c) AS n " +
          "MATCH (a:Article)-[:CONTAINS]->(c2:Chunk) " +
          "RETURN org, count(a) AS na")
    }
    assert(e2.getMessage.contains("join back"))
  }

  test("WITH … ORDER BY … LIMIT is a mid-pipeline top-N (Ex29)") {
    val rows = CypherLite.run(spark, TestSpark.sf, Ex29).collect()
    assert(rows.length == 5)
    // alphabetical presentation of the top-5-by-count set
    val orgs = rows.map(_.getString(0))
    assert(orgs.sameElements(orgs.sorted))
    // the kept set IS the count-leaderboard head (recompute it)
    val lead = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
        "WITH o.name AS org, count(c) AS n " +
        "RETURN org, n ORDER BY n DESC, org LIMIT 5").collect()
      .map(_.getString(0)).toSet
    assert(orgs.toSet == lead)
    // a stage LIMIT must not be mistaken for the final LIMIT: the
    // final ORDER BY org ran (not the stage's ORDER BY n DESC)
    val ns = rows.map(_.getLong(1))
    assert(!ns.sameElements(ns.sorted.reverse) || orgs.sameElements(orgs.sorted))
  }

  test("ORDER BY an inline aggregate resolves to the RETURN aggregate (Ex27)") {
    val inline = CypherLite.run(spark, TestSpark.sf, Ex27).collect()
    assert(inline.nonEmpty)
    // the aliased-sort spelling is the same query
    val aliased = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
        "RETURN o.name, count(c) AS n_chunks " +
        "ORDER BY n_chunks DESC, o.name LIMIT 10").collect()
    assert(inline.map(_.toSeq).toSeq == aliased.map(_.toSeq).toSeq)
    // descending order actually holds
    val ns = inline.map(_.getAs[Long]("n_chunks"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
  }

  test("unrecognized ORDER BY keys throw instead of silently unsorting") {
    val e = intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "MATCH (c:Chunk) RETURN c.uid ORDER BY c.uid + 1")
    }
    assert(e.getMessage.contains("ORDER BY"))
    // an aggregate key with no matching RETURN aggregate is also loud
    val e2 = intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
          "RETURN o.name ORDER BY count(c) DESC").collect()
    }
    assert(e2.getMessage.contains("no matching RETURN"))
  }

  test("collect(DISTINCT) dedupes and size(collect(DISTINCT)) is its count (Ex28)") {
    val rows = CypherLite.run(spark, TestSpark.sf, Ex28).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val orgs = r.getAs[String]("orgs").split(" \\| ").toSeq
      assert(orgs.distinct == orgs, s"collect(DISTINCT) kept dups: $orgs")
      assert(orgs.length.toLong == r.getAs[Long]("n_orgs"),
        s"size(collect(DISTINCT)) != list length in $r")
    }
    // descending by n_orgs with a_uid tiebreak
    val key = rows.map(r => (-r.getAs[Long]("n_orgs"), r.getAs[String]("a_uid")))
    assert(key.sameElements(key.sorted))
    // non-distinct collect on the same match keeps duplicates
    val plain = CypherLite.run(spark, TestSpark.sf,
      "MATCH (a:Article)-[:CONTAINS]->(c:Chunk)-[:MENTIONS]->(o:Organization) " +
        "RETURN a.uid, collect(o.name) AS orgs, count(o) AS n " +
        "ORDER BY n DESC, a.uid LIMIT 5").collect()
    assert(plain.exists { r =>
      val os = r.getAs[String]("orgs").split(" \\| ").toSeq
      os.distinct.length < os.length
    }, "expected at least one article with a repeated org mention")
    // count(v.prop) counts non-null property values like count(v)
    val byProp = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
        "RETURN count(o.name) AS n").head().getLong(0)
    val byVar = CypherLite.run(spark, TestSpark.sf,
      "MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
        "RETURN count(o) AS n").head().getLong(0)
    assert(byProp == byVar && byProp > 0)
  }

  test("*1..3 var-length hop: per-path rows with relationship uniqueness") {
    val seed = "spark group"
    val got = CypherLite.run(spark, TestSpark.sf,
      s"MATCH (e:Entity {name: '$seed'})-[:CO_OCCURS*1..3]->(o:Entity) " +
        "RETURN o.name AS name, count(*) AS n_paths ORDER BY name")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // driver replay: enumerate length-1..3 walks from the seed with
    // no repeated UNDIRECTED edge (Cypher relationship uniqueness)
    val edges = graft.graph.Analytics.edges(spark, TestSpark.sf)
      .select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val adj: Map[String, Seq[String]] =
      edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSeq }
    def und(a: String, b: String): (String, String) =
      if (a < b) (a, b) else (b, a)
    val counts = collection.mutable.Map.empty[String, Long]
    def walk(node: String, used: Set[(String, String)], depth: Int): Unit = {
      if (depth > 0)
        counts(node) = counts.getOrElse(node, 0L) + 1L
      if (depth < 3)
        adj.getOrElse(node, Seq.empty).foreach { nxt =>
          val e = und(node, nxt)
          if (!used(e)) walk(nxt, used + e, depth + 1)
        }
    }
    walk(seed, Set.empty, 0)
    assert(got == counts.toMap,
      s"per-path counts diverged: ${got.toSeq.sorted.take(5)}... vs " +
        s"${counts.toSeq.sorted.take(5)}...")
    assert(got.nonEmpty && got.values.exists(_ > 1),
      "fixture must produce multi-path targets or the test is vacuous")
  }

  // ---------- temporal predicate wrappers (round 9) ----------

  test("date() wrappers compile to the equivalent string compare (Ex31)") {
    val got = CypherLite.run(spark, TestSpark.sf, Ex31).collect()
    // the unwrapped twin — provably equivalent for the date-only
    // stored format (lexicographic = chronological)
    val want = CypherLite.run(spark, TestSpark.sf,
      "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
        "WHERE a.publishing_date >= '2024-01-02' " +
        "AND a.publishing_date < '2024-01-09' " +
        "RETURN a.uid, a.publishing_date, count(c) AS n_chunks " +
        "ORDER BY a.uid LIMIT 15").collect()
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq,
      "date() form must equal the plain string-compare form")
    assert(got.nonEmpty, "fixture must have articles in the window")
    got.foreach { r =>
      val pd = r.getAs[String]("a_publishing_date")
      assert(pd >= "2024-01-02" && pd < "2024-01-09", s"out of range: $pd")
    }
  }

  // ---------- weighted witness (round 10) ----------

  test("weighted witness: real edges, weights sum to wcost, wcost equals wlength") {
    val got = CypherLite.run(spark, TestSpark.sf, ExWspPath).collect()
    assert(got.length == 1, s"expected one weighted witness row, got ${got.toSeq}")
    val wcost = got(0).getAs[Long]("wcost")
    val path = got(0).getAs[String]("path").split("->").toSeq
    val rels = got(0).getAs[String]("rels")
    assert(path.head == "Entity:spark group" && path.last == "Entity:column column",
      s"wrong endpoints: $path")
    val wRe = """CO_OCCURS\{weight:(\d+)\}""".r
    val weights = wRe.findAllMatchIn(rels).map(_.group(1).toLong).toSeq
    assert(weights.length == path.length - 1,
      s"${weights.length} rels for ${path.length} nodes")
    // the weights' reciprocal costs sum to exactly the wlength cost
    assert(weights.map(1000000L / _).sum == wcost,
      s"edge costs ${weights.map(1000000L / _)} do not sum to $wcost")
    // wcost equals the scalar wlength compile (same anchors, same hi)
    val scalar = CypherLite.run(spark, TestSpark.sf, ExWsp).collect()
    assert(scalar.length == 1 && scalar(0).getAs[Long]("wcost") == wcost,
      "weighted witness cost diverged from the scalar wlength form")
    // every traversed edge exists in the property edge table WITH the
    // reported weight
    val ew = CypherLite.edgesWithProps(spark, TestSpark.sf, "CO_OCCURS", None)
      .collect().map(r => (r.getAs[String]("src_uid"), r.getAs[String]("dst_uid")) ->
        r.getAs[Long]("weight")).toMap
    path.sliding(2).zip(weights.iterator).foreach { case (Seq(u, v), w) =>
      assert(ew.get((u, v)).contains(w) || ew.get((v, u)).contains(w),
        s"witness edge $u->$v with weight $w not in the edge table")
    }
  }

  // ---------- vector CALL (round 10) ----------

  test("the literal vector-retrieval serving query matches q_expand_retrieval") {
    val got = CypherLite.run(spark, TestSpark.sf, ExVec).collect()
    assert(got.length == 5, s"k=5 seed must survive the expansion, got ${got.length}")
    // same probe, same k, same scoring: the CALL's (doc, score) set
    // must equal the expand-retrieval top-5 — the suffix only adds
    // presentation (doc recovered from the metadata url)
    val docRe = """articles/(\d+)""".r
    val gotPairs = got.map { r =>
      val doc = docRe.findFirstMatchIn(r.getAs[String]("metadata")).get.group(1).toLong
      (doc, r.getAs[Double]("score"))
    }.toSet
    val want = graft.operators.Similarity.qExpandRetrieval(spark, TestSpark.sf)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("score"))).toSet
    assert(gotPairs == want, s"vector CALL diverged from expand retrieval:\n$gotPairs\n$want")
    // presentation: 'Title: ' + title + REAL newline + 'Text: ' + text
    got.foreach { r =>
      val t = r.getAs[String]("text")
      assert(t.startsWith("Title: ") && t.contains("\nText: "), s"bad header: $t")
      val meta = r.getAs[String]("metadata")
      Seq("position", "section", "category", "date", "url", "source").foreach(k =>
        assert(meta.contains(s""""$k""""), s"metadata missing $k: $meta"))
    }
  }

  test("vector CALL: unknown index / parameter / dropped score fail loudly") {
    intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        ExVec.replace("chunkEmbedding", "bogusIndex"))
    }
    intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        ExVec.replace("$embedding", "$query_vector"))
    }
    intercept[IllegalArgumentException] {
      // a retrieval_query that drops score breaks the Neo4jVector
      // contract (it reads score) — refuse instead of guessing order
      CypherLite.run(spark, TestSpark.sf,
        "CALL db.index.vector.queryNodes('chunkEmbedding', 5, $embedding) " +
          "YIELD node, score WITH node AS chunk, score " +
          "MATCH (chunk)<-[:CONTAINS]-(a) RETURN a.uid")
    }
  }

  // ---------- string-concat RETURN items (round 10) ----------

  test("concat items compile (Ex32) and match the concat-free twin") {
    val got = CypherLite.run(spark, TestSpark.sf, Ex32).collect()
    assert(got.nonEmpty, "fixture must produce rows")
    // the twin fetches the parts separately; the header is rebuilt in
    // Scala — proving the compiled concat (including the \n escape)
    // against plain-prop retrieval the suite already trusts
    val twin = CypherLite.run(spark, TestSpark.sf,
      "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) WHERE a.doc_id < 5 " +
        "RETURN a.uid, c.position, a.title, c.text " +
        "ORDER BY a.uid, c.position LIMIT 12").collect()
    assert(got.length == twin.length)
    got.zip(twin).foreach { case (g, t) =>
      assert(g.getAs[String]("a_uid") == t.getAs[String]("a_uid"))
      assert(g.getAs[String]("header") ==
        s"Title: ${t.getAs[String]("a_title")}\nText: ${t.getAs[String]("c_text")}",
        "compiled concat must equal the hand-built header (with a REAL newline)")
    }
  }

  test("all-property '+' (Cypher arithmetic) is refused loudly") {
    intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
          "RETURN a.doc_id + c.position AS x LIMIT 1")
    }
  }

  test("temporal literals with time components throw instead of diverging") {
    intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
          "WHERE datetime(a.publishing_date) >= datetime('2024-01-02T00:00:00') " +
          "RETURN a.uid, count(c) AS n ORDER BY a.uid")
    }
  }

  test("EXISTS { pattern } braces compile to the same semi/anti-joins as exists()") {
    // Neo4j-5 existential subquery syntax — newer LLMs emit the
    // braced form; both spellings must produce identical plans/rows
    def rows(q: String) = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.toSeq).toSeq
    val fn = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WHERE exists((c)-[:MENTIONS]->(:Person)) " +
      "RETURN a.uid, count(c) AS n ORDER BY a.uid")
    val br = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WHERE EXISTS { (c)-[:MENTIONS]->(:Person) } " +
      "RETURN a.uid, count(c) AS n ORDER BY a.uid")
    assert(fn.nonEmpty && fn == br, "braced EXISTS diverged from exists()")
    val nfn = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WHERE NOT exists((c)-[:MENTIONS]->(:Person)) " +
      "RETURN a.uid, count(c) AS n ORDER BY a.uid")
    val nbr = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WHERE NOT EXISTS { (c)-[:MENTIONS]->(:Person) } " +
      "RETURN a.uid, count(c) AS n ORDER BY a.uid")
    assert(nfn.nonEmpty && nfn == nbr, "braced NOT EXISTS diverged")
  }

  test("EXISTS { MATCH … } full subquery: parity with the bare-brace form") {
    def rows(q: String) = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.toSeq).toSeq
    // a full body carrying only the label filter must equal the
    // round-9 bare-pattern brace form — same semi/anti semantics
    val full = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WHERE EXISTS { MATCH (c)-[:MENTIONS]->(p:Person) } " +
      "RETURN a.uid, count(c) AS n ORDER BY a.uid")
    val bare = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WHERE EXISTS { (c)-[:MENTIONS]->(:Person) } " +
      "RETURN a.uid, count(c) AS n ORDER BY a.uid")
    assert(full.nonEmpty && full == bare,
      "full-body EXISTS diverged from the bare-pattern brace form")
    val nfull = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WHERE NOT EXISTS { MATCH (c)-[:MENTIONS]->(p:Person) } " +
      "RETURN a.uid, count(c) AS n ORDER BY a.uid")
    val nbare = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WHERE NOT EXISTS { (c)-[:MENTIONS]->(:Person) } " +
      "RETURN a.uid, count(c) AS n ORDER BY a.uid")
    assert(nfull.nonEmpty && nfull == nbare,
      "full-body NOT EXISTS diverged from the bare-pattern brace form")
  }

  test("EXISTS { MATCH … WHERE … } body predicate: no fan-out, semi-join semantics") {
    def rows(q: String) = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.toSeq).toSeq
    // the existential form must count each chunk ONCE however many
    // 'group' orgs it mentions — i.e. equal the count(DISTINCT c) of
    // the fan-out MATCH twin (Neo4j's existential semantics)
    val ex = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WHERE EXISTS { MATCH (c)-[:MENTIONS]->(o:Organization) " +
      "WHERE o.name CONTAINS 'group' } " +
      "RETURN a.uid, count(c) AS n ORDER BY a.uid")
    val twin = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk)" +
      "-[:MENTIONS]->(o:Organization) " +
      "WHERE o.name CONTAINS 'group' " +
      "RETURN a.uid, count(DISTINCT c) AS n ORDER BY a.uid")
    assert(ex.nonEmpty && ex == twin,
      s"existential body-WHERE diverged from the DISTINCT fan-out twin: $ex vs $twin")
  }

  test("nested EXISTS subqueries compile recursively with inherited labels") {
    def rows(q: String) = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.toSeq).toSeq
    // chunks mentioning an org that NO position>=3 chunk mentions —
    // the inner body leaves o unlabeled (inherits Organization) and
    // correlates through the middle pipeline, two levels deep
    val got = rows("MATCH (c:Chunk) " +
      "WHERE EXISTS { MATCH (c)-[:MENTIONS]->(o:Organization) " +
      "WHERE NOT EXISTS { MATCH (d:Chunk)-[:MENTIONS]->(o) " +
      "WHERE d.position >= 3 } } " +
      "RETURN c.uid ORDER BY c.uid").map(_.head.toString)
    // expected, assembled from primitive queries + set algebra
    val pairs = rows("MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
      "RETURN DISTINCT c.uid, o.name ORDER BY c.uid, o.name")
      .map(r => (r(0).toString, r(1).toString))
    val banned = rows("MATCH (d:Chunk)-[:MENTIONS]->(o:Organization) " +
      "WHERE d.position >= 3 RETURN DISTINCT o.name ORDER BY o.name")
      .map(_.head.toString).toSet
    val want = pairs.filterNot(p => banned.contains(p._2))
      .map(_._1).distinct.sorted
    assert(banned.nonEmpty, "vacuous fixture: no banned orgs")
    assert(got == want, s"nested EXISTS diverged: got $got want $want")
    assert(got.size < pairs.map(_._1).distinct.size,
      "vacuous fixture: inner NOT EXISTS filtered nothing")
  }

  test("COUNT { MATCH … } gate: parity with the WITH-count HAVING twin") {
    def rows(q: String) = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.toSeq).toSeq
    val sub = rows("MATCH (a:Article) " +
      "WHERE COUNT { MATCH (a)-[:CONTAINS]->(c:Chunk) } >= 3 " +
      "RETURN a.uid ORDER BY a.uid")
    val twin = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WITH a, count(c) AS n WHERE n >= 3 " +
      "RETURN a.uid ORDER BY a.uid")
    assert(sub.nonEmpty && sub == twin,
      s"COUNT{} gate diverged from the WITH-count twin: $sub vs $twin")
  }

  test("COUNT { } RETURN item: per-row scalar, zero-filled, grouping key beside aggregates") {
    def rows(q: String) = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.toSeq).toSeq
    val item = rows("MATCH (a:Article) " +
      "RETURN a.uid, COUNT { MATCH (a)-[:CONTAINS]->(c:Chunk) } AS n " +
      "ORDER BY a.uid")
    val agg = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "RETURN a.uid, count(c) AS n ORDER BY a.uid")
    val itemMap = item.map(r => r(0) -> r(1)).toMap
    assert(agg.nonEmpty && agg.forall(r => itemMap(r(0)) == r(1)),
      "per-row COUNT{} diverged from the aggregate twin on matched articles")
    // the subquery item keeps zero-match rows the MATCH twin drops
    assert(item.size >= agg.size)
    assert(item.forall(r => r(1).asInstanceOf[Long] >= 0L))
    // beside an aggregate it groups like a plain prop — one row per
    // article, not a fan-out
    val mixed = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "RETURN a.uid, COUNT { MATCH (a)-[:HAS_TOPIC]->(t:Topic) } AS nt, " +
      "count(c) AS nch ORDER BY a.uid")
    assert(mixed.nonEmpty && mixed.map(_.head).distinct.size == mixed.size,
      "COUNT{} beside count(c) must group per article")
  }

  test("COUNT { } loud failures: NOT, OR placement, non-MATCH body") {
    val ex34 = CypherLite.run(spark, TestSpark.sf, Ex34)
    assert(ex34.collect().nonEmpty)
    intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "MATCH (a:Article) WHERE NOT COUNT { MATCH (a)-[:CONTAINS]->(c:Chunk) } " +
          "RETURN a.uid ORDER BY a.uid")
    }
    intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "MATCH (a:Article) WHERE a.doc_id < 2 OR " +
          "COUNT { MATCH (a)-[:CONTAINS]->(c:Chunk) } >= 3 " +
          "RETURN a.uid ORDER BY a.uid").collect()
    }
    intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "MATCH (a:Article) WHERE COUNT { (a)-[:CONTAINS]->(:Chunk) } >= 3 " +
          "RETURN a.uid ORDER BY a.uid")
    }
  }

  test("stage-level EXISTS/COUNT: post-aggregation screens match their head twins") {
    def rows(q: String) = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.toSeq).toSeq
    // the HAS_TOPIC existential never fans out, so screening before
    // or after the count aggregation is provably the same query —
    // the stage form must equal the head form row-for-row
    val stage = rows(CypherLite.Ex35)
    val head = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WHERE EXISTS { MATCH (a)-[:HAS_TOPIC]->(t:Topic {name: 'organization'}) } " +
      "WITH a, count(c) AS n_chunks WHERE n_chunks >= 3 " +
      "RETURN a.uid, n_chunks ORDER BY a.uid LIMIT 10")
    assert(stage.nonEmpty && stage == head,
      s"stage EXISTS diverged from the head twin: $stage vs $head")
    // stage COUNT >= 1 ≡ stage EXISTS
    val cnt = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WITH a, count(c) AS n_chunks " +
      "WHERE n_chunks >= 3 AND " +
      "COUNT { MATCH (a)-[:HAS_TOPIC]->(t:Topic {name: 'organization'}) } >= 1 " +
      "RETURN a.uid, n_chunks ORDER BY a.uid LIMIT 10")
    assert(cnt == stage, s"stage COUNT>=1 diverged from stage EXISTS: $cnt")
    // stage NOT EXISTS is the complement on the aggregated frame
    val neg = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WITH a, count(c) AS n_chunks " +
      "WHERE n_chunks >= 3 AND " +
      "NOT EXISTS { MATCH (a)-[:HAS_TOPIC]->(t:Topic {name: 'organization'}) } " +
      "RETURN a.uid, n_chunks ORDER BY a.uid")
    val all = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WITH a, count(c) AS n_chunks WHERE n_chunks >= 3 " +
      "RETURN a.uid, n_chunks ORDER BY a.uid")
    assert(neg.map(_.head).toSet.intersect(stage.map(_.head).toSet).isEmpty)
    assert(neg.size + rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WITH a, count(c) AS n_chunks " +
      "WHERE n_chunks >= 3 AND " +
      "EXISTS { MATCH (a)-[:HAS_TOPIC]->(t:Topic {name: 'organization'}) } " +
      "RETURN a.uid, n_chunks ORDER BY a.uid").size == all.size)
    // a stage subquery on a variable NOT carried through the stage
    // throws (its uid columns did not survive the aggregation)
    intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
          "WITH a.uid AS uid, count(c) AS n WHERE n >= 3 AND " +
          "EXISTS { MATCH (a)-[:HAS_TOPIC]->(t:Topic) } " +
          "RETURN uid, n ORDER BY uid").collect()
    }
  }

  test("size((pattern)) is row-identical to its COUNT {} twin, both forms") {
    def rows(q: String) = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.toSeq).toSeq
    val sz = rows(CypherLite.Ex36)
    val cs = rows(CypherLite.Ex34)
    assert(sz.nonEmpty && sz == cs,
      s"size((pattern)) diverged from COUNT {{}}: $sz vs $cs")
    // labeled anonymous endpoint + reversed arrow through parsePath
    val lbl = rows("MATCH (c:Chunk) " +
      "WHERE size((c)-[:MENTIONS]->(:Person)) >= 1 " +
      "RETURN c.uid ORDER BY c.uid")
    val ex = rows("MATCH (c:Chunk) " +
      "WHERE EXISTS { MATCH (c)-[:MENTIONS]->(p:Person) } " +
      "RETURN c.uid ORDER BY c.uid")
    assert(lbl.nonEmpty && lbl == ex,
      "size((c)-[:MENTIONS]->(:Person)) >= 1 must equal the EXISTS form")
    val rev = rows("MATCH (a:Article) " +
      "RETURN a.uid, size((a)<-[:PUBLISHED]-(:Source)) AS n_pub " +
      "ORDER BY a.uid LIMIT 8")
    assert(rev.nonEmpty && rev.forall(_.last.asInstanceOf[Long] == 1L),
      s"every article has exactly one publisher: $rev")
    // inline pattern-count sort key resolves against the RETURN item
    val inline = rows("MATCH (a:Article) " +
      "RETURN a.uid, size((a)-[:CONTAINS]->()) AS n " +
      "ORDER BY size((a)-[:CONTAINS]->()) DESC, a.uid LIMIT 6")
    val viaAlias = rows("MATCH (a:Article) " +
      "RETURN a.uid, size((a)-[:CONTAINS]->()) AS n " +
      "ORDER BY n DESC, a.uid LIMIT 6")
    assert(inline.nonEmpty && inline == viaAlias,
      "inline size() sort key diverged from the alias spelling")
  }

  test("var-to-var pattern predicates partition the triangle: bare/exists()/NOT forms") {
    def rows(q: String): Seq[String] = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.get(0).toString).toSeq
    val base = "MATCH (e1:Entity {name: 'spark group'})-[:CO_OCCURS]->(e2:Entity)" +
      "-[:CO_OCCURS]->(e3:Entity) WHERE e3.name <> 'spark group' "
    val ret = "RETURN DISTINCT e3.name ORDER BY e3.name"
    val all = rows(base + ret)
    val open = rows(base.replace("WHERE ",
      "WHERE NOT (e1)-[:CO_OCCURS]->(e3) AND ") + ret)
    val closed = rows(base.replace("WHERE ",
      "WHERE (e1)-[:CO_OCCURS]->(e3) AND ") + ret)
    assert(open.nonEmpty && closed.nonEmpty, s"vacuous fixture: $open / $closed")
    assert((open ++ closed).sorted == all.sorted,
      "NOT pattern and its positive twin must partition the candidates")
    assert(open.toSet.intersect(closed.toSet).isEmpty)
    val exq = rows(base.replace("WHERE ",
      "WHERE exists((e1)-[:CO_OCCURS]->(e3)) AND ") + ret)
    assert(exq == closed, "exists((v)-[:R]->(w)) diverged from the bare form")
  }

  test("rel-var predicates inside subquery bodies: weighted triangle gate") {
    def rows(q: String): Seq[String] = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.get(0).toString).toSeq
    val weighted = rows(CypherLite.Ex38)
    // the weight-blind variant from Ex37 must be a SUBSET relation:
    // raising the bar on r1/r2 shrinks candidates; dropping the body
    // weight filter shrinks the survivor set (more direct edges count)
    val blind = rows(CypherLite.Ex37)
    assert(weighted.nonEmpty, "vacuous fixture: no strong open triangles")
    // independently recompute from the property edge list
    val edges = graft.graph.Analytics.edges(spark, TestSpark.sf)
      .collect().map(r => (r.getAs[String]("src"), r.getAs[String]("dst"),
        r.getAs[Long]("weight")))
    val strong = edges.filter(_._3 >= 2)
    val n1 = strong.filter(_._1 == "spark group").map(_._2).toSet
    val want = strong.filter(e => n1.contains(e._1)).map(_._2)
      .filter(d => d != "spark group" && !n1.contains(d))
      .distinct.sorted.take(10).toSeq
    assert(weighted == want,
      s"weighted triangle gate diverged from the edge-list recompute: $weighted vs $want")
    assert(blind.nonEmpty) // and the weight-blind twin still runs
  }

  test("randomized subquery battery: EXISTS/NOT/COUNT-op gates match set-algebra recomputes") {
    // 36 generated gate shapes (3 labels × {no pred, CONTAINS s} ×
    // {EXISTS, NOT EXISTS, COUNT >=1/>=2/=0/<2}) evaluated two ways:
    // the compiled subquery vs Scala set algebra over primitive
    // queries — every branch of the body compiler (reversal, label
    // inheritance, semi/anti, grouped-count coalesce) crosses here
    def rows(q: String) = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.toSeq).toSeq
    val contains = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "RETURN a.uid, c.uid ORDER BY a.uid, c.uid")
      .map(r => (r(0).toString, r(1).toString))
    val mentions: Map[String, Seq[(String, String)]] =
      Seq("Organization", "Person", "Location").map { lbl =>
        lbl -> rows(s"MATCH (c:Chunk)-[:MENTIONS]->(x:$lbl) " +
          "RETURN DISTINCT c.uid, x.name ORDER BY c.uid, x.name")
          .map(r => (r(0).toString, r(1).toString))
      }.toMap
    val subs = Seq(None, Some("group"), Some("line"))
    val gates: Seq[(String, Long => Boolean)] = Seq(
      ("EXISTS { MATCH (c)-[:MENTIONS]->(x:%L)%W }", _ >= 1),
      ("NOT EXISTS { MATCH (c)-[:MENTIONS]->(x:%L)%W }", _ == 0),
      ("COUNT { MATCH (c)-[:MENTIONS]->(x:%L)%W } >= 2", _ >= 2),
      ("COUNT { MATCH (c)-[:MENTIONS]->(x:%L)%W } = 0", _ == 0),
      ("COUNT { MATCH (c)-[:MENTIONS]->(x:%L)%W } < 2", _ < 2))
    var nonTrivial = 0
    for {
      lbl <- Seq("Organization", "Person", "Location")
      sub <- subs
      (tmpl, keep) <- gates
    } {
      val wtxt = sub.fold("")(s => s" WHERE x.name CONTAINS '$s'")
      val gate = tmpl.replace("%L", lbl).replace("%W", wtxt)
      val got = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
        s"WHERE $gate RETURN a.uid, c.uid ORDER BY a.uid, c.uid")
        .map(r => (r(0).toString, r(1).toString))
      val cnt: Map[String, Long] = mentions(lbl)
        .filter(p => sub.forall(p._2.contains))
        .groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val want = contains.filter(p => keep(cnt.getOrElse(p._2, 0L)))
      assert(got == want,
        s"[$lbl/$sub/$gate] compiled=${got.size} rows, recompute=${want.size}")
      if (want.nonEmpty && want.size < contains.size) nonTrivial += 1
    }
    assert(nonTrivial >= 10, s"battery too vacuous: only $nonTrivial non-trivial gates")
  }

  test("string literals cannot fake keywords or braces (masked scanners)") {
    def rows(q: String) = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.toSeq).toSeq
    // a literal carrying WITH / RETURN / MATCH / { } must parse as
    // VALUE text, not as clause structure (review finding: the brace
    // scan and keyword checks used to read inside literals)
    val trap = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WHERE EXISTS { MATCH (c)-[:MENTIONS]->(o:Organization) " +
      "WHERE o.name CONTAINS 'meeting with {return' } " +
      "RETURN a.uid ORDER BY a.uid")
    assert(trap.isEmpty, "no org name contains the trap literal")
    // the same body with a REAL match must still work after masking
    val real = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WHERE EXISTS { MATCH (c)-[:MENTIONS]->(o:Organization) " +
      "WHERE o.name CONTAINS 'group' } " +
      "RETURN a.uid, count(c) AS n ORDER BY a.uid")
    assert(real.nonEmpty)
    // head-WHERE literal with clause keywords; result must equal the
    // trap-free twin (the filter matches nothing OR'd in)
    val twin = rows("MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
      "WHERE o.name CONTAINS 'group' OR o.name = 'with return match limit' " +
      "RETURN DISTINCT o.name ORDER BY o.name")
    val base = rows("MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
      "WHERE o.name CONTAINS 'group' " +
      "RETURN DISTINCT o.name ORDER BY o.name")
    assert(twin == base, s"keyword-bearing literal changed the parse: $twin vs $base")
    // escaped apostrophe inside a concat literal compiles and unwraps
    val apos = rows("MATCH (a:Article) WHERE a.doc_id < 2 " +
      "RETURN 'it\\'s: ' + a.uid AS t ORDER BY t")
    assert(apos.nonEmpty && apos.forall(_.head.toString.startsWith("it's: ")),
      s"escaped apostrophe mis-unwrapped: $apos")
  }

  test("var-length relationship filters: ALL() ≡ shorthand ≡ filtered-edge recompute") {
    def rows(q: String): Seq[String] = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.get(0).toString).toSeq
    val allForm = rows(CypherLite.Ex41)
    val shorthand = rows(
      "MATCH (e1:Entity {name: 'spark group'})-[r:CO_OCCURS*1..2]->(e2:Entity) " +
        "WHERE r.weight >= 2 AND e2.name <> 'spark group' " +
        "RETURN DISTINCT e2.name ORDER BY e2.name LIMIT 15")
    assert(allForm == shorthand,
      "ALL(x IN r WHERE …) and the r.prop shorthand must compile identically")
    // independent recompute over the weight-filtered edge list
    val edges = graft.graph.Analytics.edges(spark, TestSpark.sf)
      .collect().map(r => (r.getAs[String]("src"), r.getAs[String]("dst"),
        r.getAs[Long]("weight")))
    val strong = edges.filter(_._3 >= 2)
    val h1 = strong.filter(_._1 == "spark group").map(_._2).toSet
    val h2 = strong.filter(e => h1.contains(e._1)).map(_._2).toSet - "spark group"
    val want = (h1 ++ h2 - "spark group").toSeq.sorted.take(15)
    assert(allForm == want,
      s"per-hop-filtered expansion diverged from the edge-list recompute: $allForm vs $want")
    assert(allForm.nonEmpty)
    // non-vacuity: the filter must actually prune vs the unfiltered hop
    val unfNames = rows(
      "MATCH (e1:Entity {name: 'spark group'})-[:CO_OCCURS*1..2]->(e2:Entity) " +
        "WHERE e2.name <> 'spark group' RETURN DISTINCT e2.name ORDER BY e2.name")
    val fNames = rows(
      "MATCH (e1:Entity {name: 'spark group'})-[r:CO_OCCURS*1..2]->(e2:Entity) " +
        "WHERE r.weight >= 2 AND e2.name <> 'spark group' " +
        "RETURN DISTINCT e2.name ORDER BY e2.name")
    assert(fNames.toSet.subsetOf(unfNames.toSet) && fNames.size < unfNames.size,
      s"vacuous fixture: filtering on weight must prune (${fNames.size} vs ${unfNames.size})")
    // refusals stay loud: projection, multi-type+variable, OR-mixing
    intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "MATCH (e1:Entity {name: 'spark group'})-[r:CO_OCCURS*1..2]->(e2:Entity) " +
          "RETURN e2.name, r.weight ORDER BY e2.name")
    }
    intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "MATCH (a:Article)-[r:CONTAINS|HAS_TOPIC*1..2]->(x) RETURN x.uid AS u")
    }
    intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "MATCH (e1:Entity {name: 'spark group'})-[r:CO_OCCURS*1..2]->(e2:Entity) " +
          "WHERE r.weight >= 2 OR e2.name = 'row' RETURN DISTINCT e2.name")
    }
  }

  test("multi-type var-length: per-step union ≡ single-type composition twins") {
    def rows(q: String): Seq[String] = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.get(0).toString).toSeq
    val got = rows(CypherLite.Ex42)
    val arts = rows("MATCH (s:Source {name: 'src3'})-[:PUBLISHED]->(a:Article) " +
      "RETURN a.uid ORDER BY a.uid")
    val chunks = rows("MATCH (s:Source {name: 'src3'})-[:PUBLISHED]->(a:Article)" +
      "-[:CONTAINS]->(c:Chunk) RETURN c.uid ORDER BY c.uid")
    assert(arts.nonEmpty && chunks.nonEmpty, "vacuous fixture: both legs must match")
    val want = (arts ++ chunks).sorted.take(20)
    assert(got == want,
      s"multi-type expansion diverged from the single-type union: $got vs $want")
  }

  test("bare RETURN p: identity with the nodes(p)/relationships decomposition") {
    val p = CypherLite.run(spark, TestSpark.sf, CypherLite.Ex43)
      .collect().map(_.getString(0)).toSeq
    assert(p.size == 1, s"one witness path expected: $p")
    val sp = CypherLite.run(spark, TestSpark.sf, CypherLite.ExSpPath).collect().head
    val wNodes = sp.getAs[String]("path").split("->").toSeq
    // node sequence is EXACTLY the canonical witness
    val pNodes = """\(([^)]+)\)""".r.findAllMatchIn(p.head).map(_.group(1)).toSeq
    assert(pNodes == wNodes,
      s"path-value nodes diverged from nodes(p): $pNodes vs $wNodes")
    // relationship tokens carry the true edge weights, one per step
    val ws = """-\[:CO_OCCURS\{weight:(\d+)\}\]->""".r
      .findAllMatchIn(p.head).map(_.group(1).toLong).toSeq
    assert(ws.size == wNodes.size - 1, s"one rel token per step: ${p.head}")
    val ew = graft.graph.Analytics.edges(spark, TestSpark.sf)
      .collect().map(r => (r.getAs[String]("src"), r.getAs[String]("dst")) ->
        r.getAs[Long]("weight")).toMap
    def bare(u: String) = u.stripPrefix("Entity:")
    wNodes.sliding(2).zip(ws.iterator).foreach { case (Seq(a, b), w) =>
      assert(ew((bare(a), bare(b))) == w,
        s"weight token $w does not match the $a->$b edge")
    }
  }

  test("hybrid CALL: fusion replays from the two serving legs; text indexes serve the CALL") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = CypherLite.run(spark, TestSpark.sf, CypherLite.ExHybrid).collect()
    assert(out.length == 5 && out.forall(_.getAs[String]("text").startsWith("Title: ")))
    val scores = out.map(_.getAs[Double]("score")).toSeq
    assert(scores == scores.sorted.reverse, "hybrid output must be score-descending")
    assert(math.abs(scores.head - 1.0) < 1e-9,
      s"max-score normalization pins the top fused score at 1.0: $scores")
    // vector leg: the shared serving seed; keyword leg: the standalone
    // chunkText CALL (round 11's text-index surface) — fuse them
    // independently and the hybrid's score column must replay exactly
    val vec = graft.operators.Similarity.vectorQueryTopk(spark, TestSpark.sf, 5)
      .collect().map(r => (s"Chunk:${r.get(0)}:0", r.getAs[Double]("score")))
    val vmax = vec.map(_._2).max
    val vleg = vec.map { case (u, s) => (u, r6(s / vmax)) }
    val kwRows = CypherLite.run(spark, TestSpark.sf,
      "CALL db.index.fulltext.queryNodes('chunkText', 'spark join fast', {limit: 5}) " +
        "YIELD node, score RETURN node.uid AS uid, node.text AS text, " +
        "labels(node)[0] AS label, score").collect()
    assert(kwRows.nonEmpty && kwRows.forall(_.getAs[String]("label") == "Chunk"))
    val kw = kwRows.map(r => (r.getAs[String]("uid"), r.getAs[Double]("score")))
    val kmax = kw.map(_._2).max
    val kleg = kw.map { case (u, s) => (u, r6(s / kmax)) }
    val fused = (vleg ++ kleg).groupBy(_._1).view.mapValues(_.map(_._2).max)
      .toSeq.sortBy { case (u, s) => (-s, u) }.take(5)
    assert(scores == fused.map(_._2),
      s"hybrid fusion diverged from the independent leg replay: $scores vs $fused")
    // the articleTitle index serves the same CALL shape
    val at = CypherLite.run(spark, TestSpark.sf,
      "CALL db.index.fulltext.queryNodes('articleTitle', 'spark', {limit: 3}) " +
        "YIELD node, score RETURN node.uid AS uid, node.title AS title, " +
        "labels(node)[0] AS label, score").collect()
    assert(at.forall(_.getAs[String]("label") == "Article"))
    // schema-driven refusals stay loud
    intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "CALL db.index.fulltext.queryNodes('chunkBody', 'x', {limit: 3}) " +
          "YIELD node, score RETURN node.uid AS uid, node.text AS text, " +
          "labels(node)[0] AS label, score")
    }
    intercept[IllegalArgumentException] {
      // projecting a property the index does not score
      CypherLite.run(spark, TestSpark.sf,
        "CALL db.index.fulltext.queryNodes('chunkText', 'x', {limit: 3}) " +
          "YIELD node, score RETURN node.uid AS uid, node.name AS name, " +
          "labels(node)[0] AS label, score")
    }
  }

  // ---------- hybrid fusion edge cases ----------

  /** A documents + embeddings dir with one short chunk per document;
    * `axes` maps each vec_id to the unit axes its embedding sums (the
    * probe, vec 0, is axis 0 — so the cosine scores are chosen here).
    */
  private def hybridDir(axes: Map[Long, Seq[Int]]): String = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val d = java.nio.file.Files.createTempDirectory("graft_hybrid").toString
    val docs = Seq((0L, "probe document", "s0"), (1L, "graph join plans", "s1"),
      (2L, "window functions", "s1"), (3L, "graph graph graph", "s2"),
      (10L, "broadcast hints", "s2"), (11L, "graph of sources", "s0"))
    spark.createDataFrame(java.util.Arrays.asList(docs.map { case (id, t, src) =>
        Row(id, t, "en", src, t.length.toLong) }: _*),
      StructType(Seq(StructField("doc_id", LongType, false), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType, false))))
      .write.parquet(s"$d/documents.parquet")
    spark.createDataFrame(java.util.Arrays.asList(axes.toSeq.sortBy(_._1).map { case (id, as) =>
        Row(id, Seq.tabulate(graft.operators.Similarity.Dim)(i => as.count(_ == i).toFloat), 0) }: _*),
      StructType(Seq(StructField("vec_id", LongType, false),
        StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType, false))))
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  /** The hybrid composition with vector top-`k`, a 3-hit keyword leg
    * and a fused LIMIT, projecting each fused chunk's uid and score.
    */
  private def hybridQuery(k: Int, keywords: String, fusedK: Int): String = {
    def leg(call: String) = s"$call YIELD node, score " +
      "WITH collect({node: node, score: score}) AS nodes, max(score) AS max " +
      "UNWIND nodes AS n RETURN n.node AS node, (n.score / max) AS score"
    "CALL { " +
      leg(s"CALL db.index.vector.queryNodes('chunkEmbedding', $k, $$embedding)") + " UNION " +
      leg(s"CALL db.index.fulltext.queryNodes('chunkText', '$keywords', {limit: 3})") +
      s" } WITH node, max(score) AS score ORDER BY score DESC LIMIT $fusedK " +
      "WITH node AS chunk, score MATCH (chunk)<-[:CONTAINS]-(a) RETURN chunk.uid AS uid, score"
  }

  test("hybrid CALL: fusion edge cases give the rows of the Spark fusion plan") {
    // cosine vs the axis-0 probe: docs 1, 2, 10 tie at 0.707107 (2 and
    // 10 identical), doc 3 scores 0.447214, doc 11 is orthogonal; BM25
    // for 'graph' ranks doc 3 over docs 1 and 11 (tied). Expected rows
    // are those the Spark plan (union → max per uid → TakeOrdered by
    // score DESC, uid) returns on this fixture.
    val d = hybridDir(Map(0L -> Seq(0), 1L -> Seq(0, 1), 2L -> Seq(0, 2),
      10L -> Seq(0, 2), 3L -> Seq(0, 1, 1), 11L -> Seq(1)))
    def rows(kw: String, fusedK: Int) = CypherLite.run(spark, d, hybridQuery(3, kw, fusedK))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    // exact ties cut by uid in string order: "Chunk:10:0" < "Chunk:1:0"
    // < "Chunk:2:0" < "Chunk:3:0", so doc 3 (keyword top, 1.0) misses
    // the cut that numeric order would have kept it in
    assert(rows("graph", 3) == Seq("Chunk:10:0" -> 1.0, "Chunk:1:0" -> 1.0, "Chunk:2:0" -> 1.0))
    assert(rows("graph", 2) == Seq("Chunk:10:0" -> 1.0, "Chunk:1:0" -> 1.0))
    // doc 1 is in both legs: its vector 1.0 beats its keyword 0.613445
    assert(rows("graph", 5) == Seq("Chunk:10:0" -> 1.0, "Chunk:1:0" -> 1.0,
      "Chunk:2:0" -> 1.0, "Chunk:3:0" -> 1.0, "Chunk:11:0" -> 0.613445))
    // a keyword leg with no hits: the vector leg alone fuses
    assert(rows("zebra", 3) == Seq("Chunk:10:0" -> 1.0, "Chunk:1:0" -> 1.0, "Chunk:2:0" -> 1.0))
  }

  private def condition(e: Throwable): String = e match {
    case t: org.apache.spark.SparkThrowable => t.getCondition
    case _ => null
  }

  test("hybrid CALL: a leg whose max is 0 fails with DIVIDE_BY_ZERO, never NaN rows") {
    // every vector orthogonal to the probe: the vector leg's max is 0,
    // and `n.score / max` is an ANSI division by zero
    val d = hybridDir(Map(0L -> Seq(0), 1L -> Seq(1), 2L -> Seq(2),
      10L -> Seq(3), 3L -> Seq(4), 11L -> Seq(5)))
    val e = intercept[ArithmeticException] {
      CypherLite.run(spark, d, hybridQuery(3, "graph", 3)).collect()
    }
    assert(condition(e) == "DIVIDE_BY_ZERO", e.getMessage)
  }

  test("hybrid fusion: driver-side fuseLegs replays the Spark fusion plan") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{broadcast, max, round}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("uid", StringType), StructField("score", DoubleType)))
    // the Spark plan the driver-side fusion replaces, verbatim
    def sparkFusion(legs: Seq[Seq[(String, Double)]], k: Int): Seq[(String, Double)] =
      legs.map { leg =>
        val df = spark.createDataFrame(
          java.util.Arrays.asList(leg.map { case (u, sc) => Row(u, sc) }: _*), schema)
        df.crossJoin(broadcast(df.agg(max(col("score")).as("mx"))))
          .select(col("uid"), round(col("score") / col("mx"), 6).as("score"))
      }.reduce(_ unionByName _)
        .groupBy("uid").agg(max(col("score")).as("score"))
        .orderBy(col("score").desc, col("uid")).limit(k)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val cases = Seq(
      // empty keyword leg
      Seq(Seq("Chunk:1:0" -> 0.9, "Chunk:2:0" -> 0.3), Seq.empty),
      // overlap: max wins; uid ties in string (UTF-8 byte) order
      Seq(Seq("Chunk:1:0" -> 0.5, "Chunk:10:0" -> 0.5, "Chunk:2:0" -> 0.25),
        Seq("Chunk:2:0" -> 7.0, "Chunk:1:0" -> 3.5, "é" -> 7.0, "z" -> 7.0,
          "\uD83C\uDF89" -> 7.0, "\uFF21" -> 7.0)),
      // HALF_UP at the 6th place, negative scores and a negative max
      Seq(Seq("a" -> 1.0, "b" -> 0.0000025, "c" -> 0.1234565, "d" -> -0.5),
        Seq("e" -> -2.0, "f" -> -3.0, "g" -> -6.0000015)),
      // a NULL uid sorts first among ties
      Seq(Seq("b" -> 1.0, (null: String) -> 2.0), Seq("a" -> 4.0)))
    for (legs <- cases; k <- Seq(1, 3, 10))
      assert(CypherLite.fuseLegs(legs, k) == sparkFusion(legs, k), s"k=$k legs=$legs")
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 5) {
      def leg(n: Int) = Seq.fill(n)(s"Chunk:${rnd.nextInt(12)}:0" -> rnd.nextInt(4) / 3.0)
        .groupBy(_._1).map(_._2.head).toSeq :+ ("top" -> 1.5)
      val legs = Seq(leg(6), leg(6))
      assert(CypherLite.fuseLegs(legs, 5) == sparkFusion(legs, 5), s"legs=$legs")
    }
    // a zero leg max: both raise DIVIDE_BY_ZERO
    val zero = Seq(Seq("a" -> 0.0, "b" -> -1.0), Seq("c" -> 2.0))
    for (run <- Seq(() => CypherLite.fuseLegs(zero, 3), () => sparkFusion(zero, 3))) {
      val e = intercept[ArithmeticException](run())
      assert(condition(e) == "DIVIDE_BY_ZERO", e.getMessage)
    }
  }

  // ---------- BM25 keyword top-k: one-scan plan vs the multi-stage twin ----------

  /** A documents-only dir (the TEXT indexes read nothing else). */
  private def docsDir(docs: Seq[(Long, String)]): String =
    docsDirOf(docs.map { case (id, t) => (id, t, "s") })

  /** A documents-only dir with each document's source given. */
  private def docsDirOf(docs: Seq[(Long, String, String)]): String = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val d = java.nio.file.Files.createTempDirectory("graft_bm25").toString
    spark.createDataFrame(java.util.Arrays.asList(docs.map { case (id, t, src) =>
        Row(id, t, "en", src, if (t == null) 0L else t.length.toLong) }: _*),
      StructType(Seq(StructField("doc_id", LongType, false), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType, false))))
      .write.parquet(s"$d/documents.parquet")
    d
  }

  /** A repeated doc_id repeats the Article uid (once with the same
    * text, once with another); its chunks merge into one uid.
    */
  private lazy val repeatsDir = docsDir(Seq(1L -> "graph join plans",
    1L -> "graph join plans", 2L -> "graph plans", 2L -> "window graph graph", 3L -> "join"))

  test("BM25 keyword top-k: the one-scan plan returns the multi-stage plan's rows") {
    def topk(f: (org.apache.spark.sql.SparkSession, String, GraphMeta.FtIndex, Seq[String], Int) =>
        org.apache.spark.sql.DataFrame, dir: String, idx: String, words: Seq[String], limit: Int) =
      f(spark, dir, GraphMeta.ftIndexes(idx), words, limit).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
    // every word of each doc sits in its one chunk and its title
    val every = docsDir(Seq(1L -> "graph join plans", 2L -> "graph window",
      3L -> "broadcast graph hints graph", 4L -> "graph"))
    // DirtyDataSpec's documents: NULL, empty, whitespace-only, unicode,
    // a repeated word, and two documents with the same text
    val dirty = docsDir(Seq(1L -> "a perfectly ordinary document about spark clusters",
      2L -> null, 3L -> "", 4L -> "   ", 5L -> "émoji 🎉 naïve Ωmega ﬃ",
      6L -> "repeated repeated repeated repeated",
      7L -> "a perfectly ordinary document about spark clusters"))
    val repeats = repeatsDir
    val cases = Seq(
      TestSpark.sf -> Seq("spark", "join", "fast"),
      TestSpark.sf -> Seq("spark", "spark", "join", "join"), // duplicate query words
      TestSpark.sf -> Seq("zebra", "spark"),  // a word absent from the corpus
      TestSpark.sf -> Seq("zebra"),           // every word absent
      every -> Seq("graph"),                  // a word in every chunk and title
      every -> Seq("graph", "join", "window"),
      dirty -> Seq("repeated", "émoji", "🎉", "ﬃ", "clusters"),
      dirty -> Seq("spark", "ordinary"),
      repeats -> Seq("graph", "join", "window"),
      repeats -> Seq("plans"))
    var nonEmpty = 0
    // limit 1000 exceeds every case's match count
    for ((dir, words) <- cases; idx <- Seq("chunktext", "articletitle"); limit <- Seq(2, 1000)) {
      val got = topk(CypherLite.textIndexTopk, dir, idx, words, limit)
      val want = topk(CypherLiteSpec.textIndexTopkStaged, dir, idx, words, limit)
      assert(got == want, s"$idx $words limit $limit on $dir")
      if (got.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty >= 30, s"only $nonEmpty cases had a match")
  }

  // ---------- edge-row binding: the rows of the explicit node joins ----------

  /** DirtyDataSpec's documents (NULL, empty, whitespace-only and
    * unicode text, a NULL source), plus entity-dense documents under
    * an empty, a unicode and a NULL source and a doc_id repeated under
    * two sources.
    */
  private lazy val dirtyGraphDir = docsDirOf(Seq(
    (1L, "a perfectly ordinary document about spark clusters", "a"),
    (2L, null, "a"), (3L, "", "b"), (4L, "   ", "b"),
    (5L, "émoji 🎉 naïve Ωmega ﬃ", "c"),
    (6L, "repeated repeated repeated repeated", null),
    (7L, "a perfectly ordinary document about spark clusters", "c"),
    (8L, "customer value spark group row window", ""),
    (9L, "line customer table part window column", "ünï 🎉 src"),
    (10L, "group row value customer", null),
    (11L, "spark table row line", "a"), (11L, "column part customer", "b")))

  /** `(x:srcL)-[:rel]->(y:dstL)`, where `v` ("x" or "y") is the
    * endpoint whose binding is under test.
    */
  private case class RowHop(rel: String, srcL: String, dstL: String, v: String) {
    def label: String = if (v == "x") srcL else dstL
    def other: String = if (v == "x") "y" else "x"
    def otherLabel: String = if (v == "x") dstL else srcL
    def pattern: String = s"(x:$srcL)-[:$rel]->(y:$dstL)"
    // OPTIONAL MATCH starts at the bound other endpoint
    def optPattern: String =
      if (v == "x") s"(y)<-[:$rel]-(x:$srcL)" else s"(x)-[:$rel]->(y:$dstL)"
  }

  private def nodesAs(dir: String, label: String, v: String) = {
    val n = CypherLite.nodes(spark, dir, label)
    n.select(n.columns.map(c => col(c).as(s"${v}_$c")).toSeq: _*)
  }

  private def collectMaps(df: org.apache.spark.sql.DataFrame): Seq[Map[String, Any]] =
    df.collect().map(r => r.getValuesMap[Any](r.schema.fieldNames)).toSeq

  /** `(vars(0):labels(0))-[:rels(0)]->(vars(1):labels(1))…` (each rel
    * a type union) with every node table joined explicitly on its uid.
    */
  private def joinedRows(dir: String, vars: Seq[String], labels: Seq[String],
      rels: Seq[Seq[String]], extra: Seq[org.apache.spark.sql.Column] = Nil)
      : Seq[Map[String, Any]] = {
    val df = rels.indices.foldLeft(nodesAs(dir, labels(0), vars(0))) { (acc, i) =>
      val e = rels(i).map(r => CypherLite.edges(spark, dir, r, labels(i + 1))).reduce(_ union _)
      acc.join(e.select(col("src_uid").as(s"${vars(i)}_uid"),
          col("dst_uid").as(s"${vars(i + 1)}_uid")), s"${vars(i)}_uid")
        .join(nodesAs(dir, labels(i + 1), vars(i + 1)), s"${vars(i + 1)}_uid")
    }
    collectMaps(df.select(col("*") +: extra: _*))
  }

  /** OPTIONAL MATCH of hop `h` from every node of its other endpoint:
    * edge and node tables left-outer joined explicitly.
    */
  private def optionalRows(dir: String, h: RowHop): Seq[Map[String, Any]] = {
    val e = CypherLite.edges(spark, dir, h.rel, h.dstL)
      .select(col("src_uid").as("x_uid"), col("dst_uid").as("y_uid"))
    collectMaps(nodesAs(dir, h.otherLabel, h.other)
      .join(e, Seq(s"${h.other}_uid"), "left_outer")
      .join(nodesAs(dir, h.label, h.v), Seq(s"${h.v}_uid"), "left_outer"))
  }

  private def sortedRows(rows: Seq[Seq[Any]]): Seq[Seq[String]] =
    rows.map(_.map(String.valueOf)).sortBy(_.mkString("\u0001"))

  test("edge-row binding returns the rows of the explicit node-table joins") {
    import org.apache.spark.sql.functions.{struct, to_json}
    val hops = Seq(
      RowHop("PUBLISHED", "Source", "Article", "x"),
      RowHop("AUTHORED", "Person", "Article", "x"),
      RowHop("MENTIONS", "Chunk", "Person", "y"),
      RowHop("MENTIONS", "Chunk", "Organization", "y"),
      RowHop("MENTIONS", "Chunk", "Location", "y"),
      RowHop("MENTIONS", "Chunk", "Person", "x"),
      RowHop("CONTAINS", "Article", "Chunk", "y"),
      RowHop("HAS_TOPIC", "Article", "Topic", "y"),
      RowHop("CO_OCCURS", "Entity", "Entity", "y"))
    def rows(dir: String, q: String): Seq[Seq[String]] =
      sortedRows(CypherLite.run(spark, dir, q).collect().map(_.toSeq).toSeq)
    // (query, rows, expected rows) per fixture; the fixtures run
    // concurrently, each on its own thread, since the queries are tiny
    def cases(dir: String) = hops.flatMap { h =>
      val v = h.v
      val props = CypherLite.nodes(spark, dir, h.label).columns.filterNot(_ == "uid").toSeq
      val mapExpr = to_json(struct(props.map(p => col(s"${v}_$p").as(p)): _*)).as("__map")
      val f = joinedRows(dir, Seq("x", "y"), Seq(h.srcL, h.dstL), Seq(Seq(h.rel)),
        extra = Seq(mapExpr))
      val o = optionalRows(dir, h)
      def uid(r: Map[String, Any]) = r(s"${v}_uid")
      // each key-derived property on its own (a Chunk property read
      // keeps the Chunk join, which the map and OPTIONAL forms cover)
      val byProp = props.filter(_ => h.label != "Chunk").map(p =>
        s"MATCH ${h.pattern} RETURN x.uid, y.uid, $v.$p" ->
          f.map(r => Seq(r("x_uid"), r("y_uid"), r(s"${v}_$p"))))
      val forms = Seq(
        s"MATCH ${h.pattern} RETURN x.uid, y.uid" -> f.map(r => Seq(r("x_uid"), r("y_uid"))),
        s"MATCH ${h.pattern} WITH DISTINCT $v RETURN count($v) AS n" ->
          Seq(Seq(f.map(r => r.filter(_._1.startsWith(s"${v}_")))
            .distinct.count(uid(_) != null).toLong)),
        s"MATCH ${h.pattern} RETURN count($v) AS n" -> Seq(Seq(f.count(uid(_) != null).toLong)),
        s"MATCH ${h.pattern} RETURN labels($v) AS l, $v.uid" ->
          f.map(r => Seq(s"""["${h.label}"]""", uid(r))),
        s"MATCH ${h.pattern} RETURN $v{${props.map("." + _).mkString(", ")}} AS m" ->
          f.map(r => Seq(r("__map"))),
        s"MATCH (${h.other}:${h.otherLabel}) OPTIONAL MATCH ${h.optPattern} " +
          s"RETURN ${h.other}.uid, $v.uid" ->
          o.map(r => Seq(r(s"${h.other}_uid"), uid(r))),
        s"MATCH (${h.other}:${h.otherLabel}) OPTIONAL MATCH ${h.optPattern} " +
          s"RETURN ${h.other}.uid, ${(s"$v.uid" +: props.map(p => s"$v.$p")).mkString(", ")}" ->
          o.map(r => r(s"${h.other}_uid") +: uid(r) +: props.map(p => r(s"${v}_$p"))))
      (byProp ++ forms).map { case (q, want) => (s"$q on $dir", rows(dir, q), sortedRows(want)) }
    }
    val checked = Overlap.all(Seq(TestSpark.sf, dirtyGraphDir, repeatsDir)
      .map(dir => () => cases(dir))).flatten
    for ((what, got, want) <- checked) assert(got == want, what)
    val nonEmpty = checked.count { case (_, got, _) => got.nonEmpty && got != Seq(Seq("0")) }
    assert(nonEmpty >= 120, s"only $nonEmpty cases returned rows")
    // a chain that binds its head, Chunk and entity from edge rows and
    // joins Article, on every fixture
    for (dir <- Seq(TestSpark.sf, dirtyGraphDir, repeatsDir)) {
      val q = "MATCH (s:Source)-[:PUBLISHED]->(a:Article)-[:CONTAINS]->(c:Chunk)" +
        "-[:MENTIONS]->(o:Organization) RETURN s.uid, s.name, s.type, s.url, a.uid, a.url, c.uid, o.name"
      val want = joinedRows(dir, Seq("s", "a", "c", "o"),
        Seq("Source", "Article", "Chunk", "Organization"),
        Seq(Seq("PUBLISHED"), Seq("CONTAINS"), Seq("MENTIONS")))
        .map(r => Seq("s_uid", "s_name", "s_type", "s_url", "a_uid", "a_url", "c_uid", "o_name")
          .map(r(_)))
      assert(rows(dir, q) == sortedRows(want), s"chain on $dir")
    }
    // a wrong written label keeps its node join, so it still matches
    // nothing, where the right label matches
    val wrong = Seq(
      "(x:Person)-[:PUBLISHED]->(y:Article)" -> "(x:Source)-[:PUBLISHED]->(y:Article)",
      "(x:Source)-[:AUTHORED]->(y:Article)" -> "(x:Person)-[:AUTHORED]->(y:Article)",
      "(x:Topic)-[:MENTIONS]->(y:Person)" -> "(x:Chunk)-[:MENTIONS]->(y:Person)",
      "(x:Article)-[:CONTAINS]->(y:Entity)" -> "(x:Article)-[:CONTAINS]->(y:Chunk)",
      "(x:Article)-[:HAS_TOPIC]->(y:Source)" -> "(x:Article)-[:HAS_TOPIC]->(y:Topic)",
      "(x:Entity)-[:CO_OCCURS]->(y:Person)" -> "(x:Entity)-[:CO_OCCURS]->(y:Entity)")
    for ((bad, good) <- wrong) {
      assert(rows(TestSpark.sf, s"MATCH $bad RETURN x.uid, y.uid").isEmpty, bad)
      assert(rows(TestSpark.sf, s"MATCH $good RETURN x.uid, y.uid").nonEmpty, good)
    }
    // a mixed-type hop keeps its joins
    for (dir <- Seq(TestSpark.sf, dirtyGraphDir); dst <- Seq("Topic", "Chunk")) {
      val want = joinedRows(dir, Seq("x", "y"), Seq("Article", dst),
        Seq(Seq("CONTAINS", "HAS_TOPIC"))).map(r => Seq(r("x_uid"), r("y_uid")))
      assert(rows(dir, s"MATCH (x:Article)-[:CONTAINS|HAS_TOPIC]->(y:$dst) RETURN x.uid, y.uid")
        == sortedRows(want), s"mixed hop to $dst on $dir")
    }
    // Article keeps its join: a doc_id repeated in the documents
    // repeats both its PUBLISHED edge and its node row, so Article:1
    // meets its source 2 × 2 times
    val rep = rows(repeatsDir, "MATCH (s:Source)-[:PUBLISHED]->(a:Article) RETURN s.name, a.uid")
    assert(rep.count(_ == Seq("s", "Article:1")) == 4, s"Article repeats lost: $rep")
  }

  test("path variables on ordinary MATCH: p ≡ uid composition; length is the hop count") {
    def rows(q: String) = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.toSeq).toSeq
    val got = rows(CypherLite.Ex46)
    assert(got.nonEmpty && got.forall(_.last == 2L), "length(p) is the constant hop count")
    // the path value decomposes to the plain uid projection
    val twin = rows("MATCH (s:Source {name: 'src3'})-[:PUBLISHED]->(a:Article)" +
      "-[:CONTAINS]->(c:Chunk) RETURN s.uid, a.uid, c.uid")
      .map(r => s"(${r(0)})-[:PUBLISHED]->(${r(1)})-[:CONTAINS]->(${r(2)})")
      .sorted.take(12)
    assert(got.map(_.head.toString) == twin,
      s"path value diverged from the uid composition: ${got.map(_.head)} vs $twin")
    // nodes(p) is the '->'-joined uid sequence
    val nd = rows("MATCH p = (s:Source {name: 'src3'})-[:PUBLISHED]->(a:Article)" +
      "-[:CONTAINS]->(c:Chunk) RETURN nodes(p) AS ns, s.uid, a.uid, c.uid LIMIT 5")
    assert(nd.nonEmpty && nd.forall(r =>
      r.head == s"${r(1)}->${r(2)}->${r(3)}"), s"nodes(p) mis-rendered: $nd")
    // reversed arrows render in pattern direction
    val rev = rows("MATCH p = (a:Article)<-[:AUTHORED]-(x:Person {name: 'src3'}) " +
      "RETURN p ORDER BY p LIMIT 3").map(_.head.toString)
    assert(rev.nonEmpty && rev.forall(s =>
      s.matches("""\(Article:\d+\)<-\[:AUTHORED\]-\(Person:src3\)""")),
      s"reversed hop mis-rendered: $rev")
    // refusals: var-length path vars and unknown path functions
    intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "MATCH p = (e1:Entity {name: 'spark group'})-[:CO_OCCURS*1..2]->(e2:Entity) " +
          "RETURN p LIMIT 3").collect()
    }
    intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "MATCH p = (a:Article)<-[:AUTHORED]-(x:Person {name: 'src3'}) " +
          "RETURN length(q) AS l LIMIT 3").collect()
    }
  }

  test("*0..b zero-length var-hops: identity ∪ *1..b; unanchored refuses") {
    def rows(q: String): Seq[String] = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.get(0).toString).toSeq
    val zero = rows(CypherLite.Ex45)
    val oneTwo = rows(
      "MATCH (e1:Entity {name: 'spark group'})-[:CO_OCCURS*1..2]->(e2:Entity) " +
        "RETURN e2.name ORDER BY e2.name")
    // per-path multiset: *0..2 = the anchor itself + every *1..2 path
    val want = ("spark group" +: oneTwo).sorted.take(15)
    assert(zero == want, s"*0..2 diverged from identity ∪ *1..2: $zero vs $want")
    // degenerate *0..0: exactly the anchor, nothing else
    assert(rows("MATCH (e1:Entity {name: 'spark group'})-[:CO_OCCURS*0..0]->(e2:Entity) " +
      "RETURN e2.name") == Seq("spark group"),
      "*0..0 must bind the matched node to itself and nothing else")
    // per-edge filters are vacuous on the identity leg (ALL() over [])
    val strong = rows(
      "MATCH (e1:Entity {name: 'spark group'})-[r:CO_OCCURS*0..1]->(e2:Entity) " +
        "WHERE ALL(x IN r WHERE x.weight >= 2) " +
        "RETURN e2.name ORDER BY e2.name")
    assert(strong.contains("spark group"),
      "the anchor survives a per-edge filter (empty relationship list)")
    val strong1 = rows(
      "MATCH (e1:Entity {name: 'spark group'})-[r:CO_OCCURS*1..1]->(e2:Entity) " +
        "WHERE ALL(x IN r WHERE x.weight >= 2) " +
        "RETURN e2.name ORDER BY e2.name")
    assert(strong == ("spark group" +: strong1).sorted)
    // a *0.. hop whose SOURCE is unbound (reversed hop into an
    // edge-only variable) has no node set to be identical to — refuse
    intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "MATCH (e2:Entity {name: 'spark group'})<-[:CO_OCCURS*0..1]-(x) " +
          "RETURN count(*) AS n").collect()
    }
  }

  test("bare-pattern subquery bodies ≡ their MATCH-spelled twins") {
    def rows(q: String) = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.toSeq).toSeq
    // the flagship: bare multi-hop COUNT gate + bare EXISTS-with-WHERE item
    val bare = rows(CypherLite.Ex44)
    val spelled = rows(
      "MATCH (a:Article) " +
        "WHERE COUNT { MATCH (a)-[:CONTAINS]->(c:Chunk)-[:MENTIONS]->(p:Person) } >= 2 " +
        "RETURN a.uid, " +
        "EXISTS { MATCH (a)-[:HAS_TOPIC]->(t:Topic) WHERE t.name = 'organization' } AS has_org " +
        "ORDER BY a.uid LIMIT 12")
    assert(bare.nonEmpty && bare == spelled,
      s"bare-pattern bodies diverged from the MATCH spelling: $bare vs $spelled")
    assert(bare.exists(_.last == true) && bare.exists(_.last == false),
      s"vacuous fixture: has_org must vary: $bare")
    // bare var-length body (NO MATCH keyword) ≡ the MATCH spelling
    val vb = rows("MATCH (e1:Entity {name: 'spark group'})-[:CO_OCCURS]->(e2:Entity)" +
      "-[:CO_OCCURS]->(e3:Entity) " +
      "WHERE EXISTS { (e1)-[:CO_OCCURS*1..2]->(e3) } " +
      "RETURN DISTINCT e3.name ORDER BY e3.name")
    val vm = rows("MATCH (e1:Entity {name: 'spark group'})-[:CO_OCCURS]->(e2:Entity)" +
      "-[:CO_OCCURS]->(e3:Entity) " +
      "WHERE EXISTS { MATCH (e1)-[:CO_OCCURS*1..2]->(e3) } " +
      "RETURN DISTINCT e3.name ORDER BY e3.name")
    assert(vb.nonEmpty && vb == vm)
    // the round-9 single-hop inline-prop brace form keeps its fast
    // path AND its answer (gate vs gate twin)
    val legacy = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WHERE EXISTS { (c)-[:MENTIONS]->(:Organization) } " +
      "RETURN DISTINCT a.uid ORDER BY a.uid")
    val full = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WHERE EXISTS { (c)-[:MENTIONS]->(o:Organization) } " +
      "RETURN DISTINCT a.uid ORDER BY a.uid")
    assert(legacy.nonEmpty && legacy == full,
      "legacy single-hop brace and full-machinery bare body must agree")
  }

  test("escape pairs and literal AND/OR: two-state scanning (r10 advice)") {
    def rows(q: String) = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.toSeq).toSeq
    // a literal ENDING in an escaped backslash ('path\\') closes where
    // unescapeCypher says it does — the former single-char lookbehind
    // read the second backslash as escaping the quote and masked out
    // the rest of the query (loud misparse, now a correct parse)
    val bs = rows("MATCH (a:Article) WHERE a.doc_id < 2 " +
      "RETURN 'path\\\\' + a.uid AS t ORDER BY t")
    assert(bs.nonEmpty && bs.forall(_.head.toString.startsWith("path\\Article:")),
      s"trailing escaped backslash mis-scanned: $bs")
    // … and the item COMMA after such a literal still splits (splitTop)
    val bs2 = rows("MATCH (a:Article) WHERE a.doc_id < 2 " +
      "RETURN 'p\\\\' + a.uid AS t, a.doc_id AS d ORDER BY t")
    assert(bs2.nonEmpty && bs2.forall(_.size == 2))
    // … and a WHERE literal ending in \\ compares against the real
    // backslash value (matches nothing here) without eating the query
    val bsw = rows("MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
      "WHERE o.name = 'x\\\\' RETURN o.name AS n")
    assert(bsw.isEmpty)
    // ' AND ' / ' OR ' INSIDE a literal is value text, not a conjunct
    // boundary — the AND/OR splitters now find boundaries on the
    // masked text and slice the original by offset
    val base = rows("MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
      "WHERE o.name CONTAINS 'group' " +
      "RETURN DISTINCT o.name ORDER BY o.name")
    val andLit = rows("MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
      "WHERE o.name CONTAINS 'salt AND pepper' OR o.name CONTAINS 'group' " +
      "RETURN DISTINCT o.name ORDER BY o.name")
    assert(andLit == base, s"literal ' AND ' sliced mid-literal: $andLit vs $base")
    val orLit = rows("MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
      "WHERE o.name CONTAINS 'group' AND o.name <> 'this OR that' " +
      "RETURN DISTINCT o.name ORDER BY o.name")
    assert(orLit == base, s"literal ' OR ' sliced mid-literal: $orLit vs $base")
  }

  test("RETURN COUNT{} after a WITH stage correlates on CARRIED columns only") {
    def rows(q: String) = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.toSeq).toSeq
    // `a` is carried whole through the stage → the item resolves
    val ok = rows("MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
      "WITH a, count(c) AS n " +
      "RETURN a.uid, n, COUNT { MATCH (a)-[:HAS_TOPIC]->(t:Topic) } AS nt " +
      "ORDER BY a.uid LIMIT 5")
    assert(ok.nonEmpty && ok.forall(_.size == 3))
    // `c` was aggregated away → refuse LOUDLY with our message, not a
    // raw missing-column AnalysisException (review finding)
    intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
          "WITH a, count(c) AS n " +
          "RETURN a.uid, n, COUNT { MATCH (c)-[:MENTIONS]->(p:Person) } AS np " +
          "ORDER BY a.uid").collect()
    }
  }

  test("RETURN EXISTS {} items: boolean twin of COUNT > 0 and of the WHERE gate") {
    def rows(q: String) = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.toSeq).toSeq
    val flag = rows(CypherLite.Ex39)
    assert(flag.nonEmpty && flag.exists(_.last == true) && flag.exists(_.last == false),
      s"vacuous fixture: has_person must vary: $flag")
    // ≡ COUNT{} > 0 column
    val cnt = rows("MATCH (a:Article) " +
      "RETURN a.uid, COUNT { MATCH (a)-[:CONTAINS]->(c:Chunk)" +
      "-[:MENTIONS]->(p:Person) } AS n ORDER BY a.uid LIMIT 15")
    assert(flag.map(r => (r.head, r.last)) ==
      cnt.map(r => (r.head, r.last.asInstanceOf[Long] > 0)),
      "EXISTS item diverged from COUNT > 0")
    // the true rows ≡ the WHERE-gated twin
    val gated = rows("MATCH (a:Article) " +
      "WHERE EXISTS { MATCH (a)-[:CONTAINS]->(c:Chunk)" +
      "-[:MENTIONS]->(p:Person) } RETURN a.uid ORDER BY a.uid LIMIT 15")
    assert(flag.filter(_.last == true).map(_.head).take(gated.size) ==
      gated.map(_.head).take(flag.count(_.last == true)))
  }

  test("var-length hops inside subquery bodies: *1..2 ≡ 1-hop OR 2-hop twins") {
    def rows(q: String): Seq[String] = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.get(0).toString).toSeq
    val base = "MATCH (e1:Entity {name: 'spark group'})-[:CO_OCCURS]->(e2:Entity)" +
      "-[:CO_OCCURS]->(e3:Entity) "
    val ret = "RETURN DISTINCT e3.name ORDER BY e3.name"
    val vl = rows(base +
      "WHERE EXISTS { MATCH (e1)-[:CO_OCCURS*1..2]->(e3) } " + ret)
    val one = rows(base + "WHERE (e1)-[:CO_OCCURS]->(e3) " + ret)
    val two = rows(base +
      "WHERE EXISTS { MATCH (e1)-[:CO_OCCURS]->(m)-[:CO_OCCURS]->(e3) } " + ret)
    assert(vl.nonEmpty && one.nonEmpty && two.nonEmpty)
    // the var-length expansion enforces Cypher's RELATIONSHIP
    // UNIQUENESS: the e1→m→e1 backtrack reuses the (undirected) edge
    // and is rightly excluded, so e3 = e1 appears in the explicit
    // two-hop twin (independent joins) but never in *1..2 — drop the
    // self row from the twin before comparing
    val want = (one ++ two).distinct.filterNot(_ == "spark group").sorted
    assert(!vl.contains("spark group"),
      "*1..2 must not reach the anchor by backtracking its own edge")
    assert(vl == want,
      s"var-length body diverged from the hop-union twin: $vl vs $want")
  }

  test("UNION ALL keeps duplicates; UNION dedups; mixing throws; literal 'union' is value text") {
    def rows(q: String): Seq[String] = CypherLite.run(spark, TestSpark.sf, q)
      .collect().map(_.get(0).toString).toSeq
    val all = rows(CypherLite.Ex40)
    val dedup = rows(CypherLite.Ex40.replace("UNION ALL", "UNION"))
    assert(all.size > dedup.size,
      s"UNION ALL must keep the cross-branch duplicates: ${all.size} vs ${dedup.size}")
    assert(all.distinct.sorted == dedup.sorted,
      "the two forms must agree on the distinct row set")
    intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf, CypherLite.Ex40 +
        " UNION MATCH (c:Chunk)-[:MENTIONS]->(p:Person) RETURN c.uid AS uid")
    }
    // 'union' inside a string literal must not split the query
    val lit = rows("MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
      "WHERE o.name CONTAINS 'group' OR o.name = 'union all of them' " +
      "RETURN DISTINCT o.name ORDER BY o.name")
    val base = rows("MATCH (c:Chunk)-[:MENTIONS]->(o:Organization) " +
      "WHERE o.name CONTAINS 'group' " +
      "RETURN DISTINCT o.name ORDER BY o.name")
    assert(lit == base, s"literal 'union' split the query: $lit vs $base")
  }

  test("EXISTS { MATCH } loud failures: RETURN/WITH bodies, uncorrelated, OR placement") {
    val ex33 = CypherLite.run(spark, TestSpark.sf, Ex33)
    assert(ex33.collect().nonEmpty)
    intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "MATCH (a:Article) WHERE EXISTS { MATCH (a)-[:CONTAINS]->(c:Chunk) " +
          "RETURN c } RETURN a.uid ORDER BY a.uid")
    }
    intercept[IllegalArgumentException] {
      // uncorrelated body: no shared variable with the outer MATCH
      CypherLite.run(spark, TestSpark.sf,
        "MATCH (a:Article) WHERE EXISTS { MATCH (x:Chunk)-[:MENTIONS]->(y:Person) } " +
          "RETURN a.uid ORDER BY a.uid").collect()
    }
    intercept[IllegalArgumentException] {
      // OR-level existential — only top-level AND conjuncts compile
      CypherLite.run(spark, TestSpark.sf,
        "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
          "WHERE a.doc_id < 2 OR EXISTS { MATCH (c)-[:MENTIONS]->(p:Person) } " +
          "RETURN a.uid ORDER BY a.uid").collect()
    }
  }

  test("date() on a non-temporal property throws instead of compiling nonsense") {
    // Neo4j raises a type error for date(a.title); silently unwrapping
    // to a lexicographic title compare would return wrong rows
    intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
          "WHERE date(a.title) >= date('2024-01-02') " +
          "RETURN a.uid, count(c) AS n ORDER BY a.uid")
    }
    // the guard is a WHITELIST, not a substring heuristic (r9 ADVICE):
    // 'update_notes' CONTAINS 'date' but is not a temporal property —
    // the old name heuristic would have silently compiled it to a
    // lexicographic string compare
    intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "MATCH (a:Article)-[:CONTAINS]->(c:Chunk) " +
          "WHERE date(a.update_notes) >= date('2024-01-02') " +
          "RETURN a.uid, count(c) AS n ORDER BY a.uid")
    }
  }

  // ---------- shortestPath witness (round 9) ----------

  test("nodes(p) returns a real shortest path: edges exist, length matches BFS") {
    val got = CypherLite.run(spark, TestSpark.sf, ExSpPath).collect()
    assert(got.length == 1, s"expected one witness row, got ${got.toSeq}")
    val len = got(0).getAs[Long]("len")
    val path = got(0).getAs[String]("path").split("->").toSeq
    // endpoints anchor the pattern; length(p) = hops = nodes - 1
    assert(path.head == "Entity:spark group" && path.last == "Entity:column column",
      s"wrong endpoints: $path")
    assert(path.length.toLong == len + 1, s"len=$len but ${path.length} nodes")
    // the length agrees with the scalar shortestPath compile
    val sp = CypherLite.run(spark, TestSpark.sf, Ex23).head().getAs[Long]("len")
    assert(len == sp, s"witness len=$len vs scalar len=$sp")
    // every consecutive pair is a real edge of the co-occurrence graph
    val edges = graft.graph.Analytics.edges(spark, TestSpark.sf)
      .select("src", "dst").collect()
      .map(r => (s"Entity:${r.getString(0)}", s"Entity:${r.getString(1)}")).toSet
    path.sliding(2).foreach { case Seq(a, b) =>
      assert(edges((a, b)), s"witness step $a -> $b is not an edge")
    }
    // no node repeats (a shortest path is simple)
    assert(path.distinct.length == path.length, s"witness revisits a node: $path")
  }

  test("witness path is the canonical min-pred walk (deterministic rule replay)") {
    // Replay the determinism rule in pure Scala over the collected
    // edge list: BFS layers from the seed, pred(n) = min neighbor one
    // layer closer, walk back from the target.
    val edges = graft.graph.Analytics.edges(spark, TestSpark.sf)
      .select("src", "dst").collect().map(r => (r.getString(0), r.getString(1)))
    val radj = edges.groupBy(_._2).map { case (d, es) => d -> es.map(_._1).toSet }
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    val seed = "spark group"; val target = "column column"
    val dist = collection.mutable.Map(seed -> 0)
    var frontier = Set(seed)
    for (i <- 1 to 4) {
      frontier = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
        .filterNot(dist.contains)
      frontier.foreach(n => dist(n) = i)
    }
    var cur = target
    var want = List(target)
    while (cur != seed) {
      val pred = radj(cur).filter(p => dist.get(p).contains(dist(cur) - 1)).min
      want = pred :: want
      cur = pred
    }
    val got = CypherLite.run(spark, TestSpark.sf, ExSpPath)
      .head().getAs[String]("path").split("->").toSeq
    assert(got == want.map("Entity:" + _),
      s"canonical walk diverged:\n  got  $got\n  want $want")
  }

  test("allShortestPaths witness set: the cap-smallest real paths + exact count") {
    val got = CypherLite.run(spark, TestSpark.sf, ExAspPaths).collect()
    assert(got.nonEmpty && got.length <= CypherLite.AspPathCap)
    val len = got(0).getAs[Long]("len")
    val n = got(0).getAs[Long]("n_paths")
    // shared pair agrees with the scalar allShortestPaths compile
    val scalar = CypherLite.run(spark, TestSpark.sf, ExAsp).head()
    assert(len == scalar.getAs[Long]("len") && n == scalar.getAs[Long]("n_paths"))
    assert(got.length == math.min(CypherLite.AspPathCap, n).toInt,
      s"cap must emit min(cap, count) witnesses: ${got.length} of $n")
    // enumerate ALL shortest paths in pure Scala and pin the exact set
    val edges = graft.graph.Analytics.edges(spark, TestSpark.sf)
      .select("src", "dst").collect().map(r => (r.getString(0), r.getString(1)))
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSeq }
    val all = collection.mutable.ArrayBuffer.empty[Seq[String]]
    def walk(cur: String, path: List[String]): Unit =
      if (path.length - 1 == len) { if (cur == "column column") all += path.reverse }
      else adj.getOrElse(cur, Seq.empty).foreach(nx => walk(nx, nx :: path))
    walk("spark group", List("spark group"))
    // every enumerated length-len walk ending at the target that never
    // reached it earlier is a shortest path; at minimal length none
    // can revisit the target, so `all` IS the shortest-path set
    assert(all.size.toLong == n, s"enumerated ${all.size} paths but count(p)=$n")
    val want = all.map(_.map("Entity:" + _)).sortBy(identity)(
      Ordering.Implicits.seqOrdering[Seq, String])
      .take(CypherLite.AspPathCap)
      .map(_.mkString("->"))
    assert(got.map(_.getAs[String]("path")).toSeq == want.toSeq,
      s"witness set diverged:\n  got  ${got.map(_.getAs[String]("path")).toSeq}\n  want $want")
  }

  // ---------- CALL db.index.fulltext.queryNodes (round 9) ----------

  test("fulltext CALL compiles the reference's literal entity-lookup query") {
    val got = CypherLite.run(spark, TestSpark.sf, ExFt).collect()
    assert(got.nonEmpty && got.length <= 10, s"limit 10 violated: ${got.length}")
    assert(got.forall(_.getAs[String]("label") == "Person"))
    assert(got.forall(r => r.getAs[String]("uid") ==
      s"Person:${r.getAs[String]("name")}"))
    // descending-score order with (name) tiebreak
    val scores = got.map(_.getAs[Double]("score")).toSeq
    assert(scores == scores.sorted.reverse, s"not score-descending: $scores")
  }

  test("fulltext CALL scores agree with q_entity_candidates on the shared probe") {
    // The CALL stands in for the same Lucene index q_entity_candidates
    // models — on the shared probe 'line custmer', every name both
    // surface (mention-persons; the CALL additionally sees
    // author-person nodes) must carry the IDENTICAL score.
    val ft = CypherLite.run(spark, TestSpark.sf, ExFt).collect()
      .map(r => r.getAs[String]("name") -> r.getAs[Double]("score")).toMap
    val ec = graft.graph.NewsGraph.qEntityCandidates(spark, TestSpark.sf)
      .filter(col("probe") === "line custmer").collect()
      .map(r => r.getAs[String]("name") -> r.getAs[Double]("score")).toMap
    val shared = ft.keySet.intersect(ec.keySet)
    assert(shared.nonEmpty, "parity is vacuous with no shared candidates")
    shared.foreach { n =>
      assert(ft(n) == ec(n), s"score diverged for '$n': ${ft(n)} vs ${ec(n)}")
    }
  }

  test("fulltext CALL is the true top-k under an independent re-scoring") {
    // Adversarial replay: collect the Person node set (mention-persons
    // ∪ author-sources), re-score in pure Scala (own Levenshtein, own
    // Jaccard), and pin the CALL's exact top-10 (score DESC, name).
    val names = (graft.operators.TextPipeline.mentions(spark, TestSpark.sf)
      .filter(col("label") === "person").select("name").collect().map(_.getString(0)) ++
      Tables.documents(spark, TestSpark.sf).select("source").collect().map(_.getString(0)))
      .distinct.toSeq
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val probe = "line custmer"
    val pTok = probe.split(" ").distinct.toSet
    def score(n: String): Double = {
      val nTok = n.split(" ").distinct.toSet
      val jac = pTok.intersect(nTok).size.toDouble / pTok.union(nTok).size
      val l = 1.0 - lev(probe, n).toDouble / math.max(probe.length, n.length)
      BigDecimal(0.5 * jac + 0.5 * l).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = names.map(n => (n, score(n))).sortBy { case (n, s) => (-s, n) }.take(10)
    val got = CypherLite.run(spark, TestSpark.sf, ExFt).collect()
      .map(r => (r.getAs[String]("name"), r.getAs[Double]("score"))).toSeq
    assert(got == want, s"top-10 diverged:\n  got  $got\n  want $want")
  }

  test("fulltext CALL accepts both index casings and defaults limit to 10") {
    // creation writes personName, the lookup passes PersonName
    // (graph.py:143 vs 198-209) — both must resolve
    val lower = CypherLite.run(spark, TestSpark.sf,
      "CALL db.index.fulltext.queryNodes('personName', 'custmer~0.8') " +
        "YIELD node, score " +
        "RETURN node.uid AS uid, node.name AS name, labels(node)[0] AS label, score")
      .collect()
    assert(lower.length == 10, s"default limit must be 10, got ${lower.length}")
  }

  test("fulltext CALL rejects unknown indexes and malformed terms loudly") {
    intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "CALL db.index.fulltext.queryNodes('articleBody', 'x~0.8') " +
          "YIELD node, score " +
          "RETURN node.uid AS uid, node.name AS name, labels(node)[0] AS label, score")
    }
    intercept[IllegalArgumentException] {
      CypherLite.run(spark, TestSpark.sf,
        "CALL db.index.fulltext.queryNodes('personName', 'no-threshold-word') " +
          "YIELD node, score " +
          "RETURN node.uid AS uid, node.name AS name, labels(node)[0] AS label, score")
    }
  }
}

object CypherLiteSpec {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._
  import graft.Ckpt.BarrierOps

  /** The multi-stage BM25 plan that CypherLite.textIndexTopk replaced,
    * kept as the executable spec of its per-uid scoring: the query
    * words' postings exploded from a lazily checkpointed node scan, tf
    * counted per (uid, length, word), df as distinct uids per word, the
    * corpus statistics broadcast-joined, term scores summed per uid.
    */
  def textIndexTopkStaged(spark: SparkSession, dir: String,
      idx: CypherLite.GraphMeta.FtIndex, words: Seq[String], limit: Int): DataFrame = {
    import graft.operators.Retrieval.{Bm25B, Bm25K1}
    val nd = CypherLite.nodes(spark, dir, idx.label)
      .select(col("uid"), col(idx.prop).as("txt"))
      .withColumn("dl", size(split(col("txt"), " ")).cast("double"))
      .barrier(false)
    val stats = nd.agg(count(lit(1)).cast("double").as("n_d"),
      avg(col("dl")).as("avgdl"))
    val tf = nd.select(col("uid"), col("dl"),
        explode(split(col("txt"), " ")).as("word"))
      .filter(col("word").isin(words.map(lit): _*))
      .groupBy("uid", "dl", "word").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("word").agg(countDistinct(col("uid")).as("dfreq"))
    tf.join(broadcast(dfreq), "word")
      .crossJoin(broadcast(stats))
      .withColumn("term_score",
        log((col("n_d") - col("dfreq") + 0.5) / (col("dfreq") + 0.5) + 1.0)
          * (col("tf") * (Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1)
            * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
      .groupBy("uid")
      .agg(round(sum(col("term_score")), 6).as("score"))
      .orderBy(col("score").desc, col("uid"))
      .limit(limit)
  }
}
