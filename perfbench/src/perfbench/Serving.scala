package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.cypher.CypherLite
import graft.operators.Similarity

/** Calls attempted, and every failed call or output check with its cause. */
final class Ledger {
  private val attemptedN = new AtomicLong(0)
  private val failures = ArrayBuffer.empty[String]

  def attempted: Long = attemptedN.get
  def failed: Seq[String] = failures.synchronized(failures.toList)

  /** One attempted operation; `check` returns None when its output holds. */
  def op[T](what: String)(body: => T)(check: T => Option[String]): Option[T] = {
    attemptedN.incrementAndGet()
    try {
      val out = body
      check(out) match {
        case None => Some(out)
        case Some(why) => fail(s"$what: $why"); None
      }
    } catch {
      case e: Exception => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); None
    }
  }

  def verify(what: String)(ok: => Option[String]): Unit = op(what)(())(_ => ok)

  private def fail(msg: String): Unit = failures.synchronized(failures += msg.take(400))
}

/** The public entry points the benchmark drives: every call that returns
  * rows is built (the span the program's eager barrier jobs land in) and
  * then collected, which is what a serving caller reads.
  */
final class Calls(spark: SparkSession, dir: String, tracer: Tracer, ledger: Ledger) {

  /** Build + collect under `<layer span>/build` and `<layer span>/action`. */
  def collect(span: String, qid: String, what: String)(build: => DataFrame)(
      check: Array[Row] => Option[String]): Option[Array[Row]] =
    ledger.op(what) {
      tracer.span(span, qid) {
        val df = tracer.span("build")(build)
        val rows = tracer.span("action")(df.collect())
        tracer.plan(df)
        rows
      }
    }(check)

  def cypher(kind: String, qid: String, text: String)(check: Array[Row] => Option[String]) =
    collect(s"cypher.$kind", qid, s"$kind[$qid]")(CypherLite.run(spark, dir, text))(check)

  def analysis(name: String, qid: String)(check: Array[Row] => Option[String]) =
    collect(s"graph.$name", qid, s"$name[$qid]")(SparkEntry.queries(name)(spark, dir))(check)

  def vectorTopk(qid: String): Option[Array[Row]] =
    collect("operators.vector_topk", qid, s"vector_topk[$qid]")(
      Similarity.vectorQueryTopk(spark, dir, Serving.K))(rows =>
      Checks.atMost(rows, Serving.K).orElse(Checks.scoresDescending(rows, "score")))

  def parse(qid: String, text: String): Unit =
    ledger.op(s"parse[$qid]")(tracer.span("cypher.parse", qid)(CypherLite.parse(text)))(q =>
      if (q.isEmpty) Some("no query parsed") else None)
}

/** The chat serving loop: a fulltext entity CALL, a MATCH over the
  * entities it found, the vector CALL and the hybrid CALL.
  */
object Serving {
  val K = 5
  val FtLimit = 10
  val Shapes: Seq[String] = Seq("ex1", "ex2", "ex14", "ex3", "ex8")
  val ShapeLimit: Map[String, Int] =
    Map("ex1" -> 10, "ex2" -> 1, "ex3" -> 10, "ex8" -> 15, "ex14" -> 25)

  private def quote(s: String) = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  def fulltext(q: Question): String =
    s"CALL db.index.fulltext.queryNodes('${q.label}Name', '${q.ft}', {limit: $FtLimit}) " +
      "YIELD node, score " +
      "RETURN node.uid AS uid, node.name AS name, labels(node)[0] AS label, score"

  /** The MATCH of reference shape `shape` over the entities `names`. */
  def matchText(shape: String, label: String, names: Seq[String]): String = {
    val (a, b) = (quote(names.head), quote(names.lift(1).getOrElse(names.head)))
    shape match {
      case "ex1" =>
        s"MATCH (a:Article)-[:CONTAINS]->(c:Chunk)-[:MENTIONS]->(o:$label) " +
          s"WHERE o.name IN [$a, $b] RETURN DISTINCT a.uid, a.title ORDER BY a.uid LIMIT 10"
      case "ex2" =>
        s"MATCH (s:Source)-[:PUBLISHED]->(a:Article)-[:CONTAINS]->(c:Chunk)-[:MENTIONS]->(o:$label) " +
          s"WHERE o.name IN [$a] WITH DISTINCT s RETURN count(s)"
      case "ex3" =>
        s"MATCH (c:Chunk)-[:MENTIONS]->(o:$label) WHERE o.name = $a " +
          "RETURN c.uid, c.text ORDER BY c.uid LIMIT 10"
      case "ex8" =>
        s"MATCH (a:Article)-[:CONTAINS]->(c:Chunk), (c)-[:MENTIONS]->(o:$label) " +
          s"WHERE o.name = $a OR o.name = $b " +
          "RETURN DISTINCT a.uid, c.position, o.name ORDER BY a.uid, c.position, o.name LIMIT 15"
      case "ex14" =>
        s"MATCH (e:Entity {name: $a})-[:CO_OCCURS*1..2]->(o:Entity) " +
          "RETURN o.name, count(o) AS n_paths ORDER BY o.name LIMIT 25"
    }
  }

  private val Retrieval =
    "WITH node AS chunk, score " +
      "MATCH (chunk)<-[:CONTAINS]-(a)<-[:PUBLISHED]-(s) " +
      "WITH chunk, score, a, s " +
      "RETURN 'Title: ' + a.title + '\\nText: ' + chunk.text AS text, score, " +
      "chunk{.position, .section, .category, date: a.publishing_date, " +
      "url: a.url, source: s.name} AS metadata"

  val Vector: String =
    s"CALL db.index.vector.queryNodes('chunkEmbedding', $K, $$embedding) YIELD node, score $Retrieval"

  def hybrid(q: Question): String = {
    def leg(call: String) = s"$call YIELD node, score " +
      "WITH collect({node: node, score: score}) AS nodes, max(score) AS max " +
      "UNWIND nodes AS n RETURN n.node AS node, (n.score / max) AS score"
    "CALL { " +
      leg(s"CALL db.index.vector.queryNodes('chunkEmbedding', $K, $$embedding)") + " UNION " +
      leg(s"CALL db.index.fulltext.queryNodes('chunkText', '${q.keywords}', {limit: $K})") +
      s" } WITH node, max(score) AS score ORDER BY score DESC LIMIT $K $Retrieval"
  }

  /** One question's four calls: the MATCH text it ran (if the fulltext
    * call found entities) and each call's rows, in call order.
    */
  def ask(calls: Calls, q: Question, qid: String): (Option[String], Seq[Option[Array[Row]]]) = {
    val found = calls.cypher("fulltext", qid, fulltext(q)) { rows =>
      Checks.between(rows, 1, FtLimit).orElse(Checks.scoresDescending(rows, "score"))
        .orElse(rows.find(_.getAs[String]("label") != q.label)
          .map(r => s"label ${r.getAs[String]("label")} from the ${q.label} index"))
    }
    val text = found.map { rows =>
      matchText(q.shape, q.label, rows.map(_.getAs[String]("name")).distinct.take(2).toSeq)
    }
    val matched = text.flatMap(t =>
      calls.cypher("match", qid, t)(Checks.atMost(_, ShapeLimit(q.shape))))
    val vector = calls.cypher("vector", qid, Vector)(rows =>
      Checks.between(rows, K, K).orElse(Checks.scoresDescending(rows, "score")))
    val hybridRows = calls.cypher("hybrid", qid, hybrid(q))(rows =>
      Checks.between(rows, 1, K).orElse(Checks.scoresDescending(rows, "score")))
    (text, Seq(found, matched, vector, hybridRows))
  }
}

/** Shape invariants of returned rows. */
object Checks {
  def between(rows: Array[Row], lo: Int, hi: Int): Option[String] =
    if (rows.length < lo || rows.length > hi) Some(s"${rows.length} rows, expected $lo..$hi")
    else None

  def atMost(rows: Array[Row], n: Int): Option[String] = between(rows, 0, n)

  def scoresDescending(rows: Array[Row], field: String): Option[String] = {
    val s = rows.map(r => r.getAs[Any](field).asInstanceOf[Number].doubleValue)
    s.sliding(2).collectFirst { case Array(a, b) if b > a => s"scores out of order: $a then $b" }
  }

  /** Order-insensitive content digest of collected rows. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
