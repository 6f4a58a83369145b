package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

import graft.Ckpt.BarrierOps
import graft.TestSpark.jobsDuring
import graft.graph.{Analytics, Loops}

/** Every loop that picks its plan by the edge list's size
  * (`Loops.Plans`) must return the same rows and schema from its
  * driver plan as from its distributed plan: which one ran depends on
  * the data's size, so the oracle and every caller must not be able to
  * tell. Each pair runs on the sf0.001 entity graph, on the dirty
  * fixture's graph (no entity pair survives its NULL/empty/unicode
  * rows, so its edge list is empty) and on a small graph whose names
  * order differently in UTF-8 and UTF-16 (`ﬃ` U+FB03 sorts before
  * `🎉` U+1F389 in Spark, after it in JVM `String` order), where
  * label ties, seed ties and gain ties must break the Spark way.
  */
class DriverLoopsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val unicodeEdges: DataFrame = {
    val und = Seq(
      ("spark group", "a", 3L), ("spark group", "b", 1L), ("a", "b", 2L),
      ("b", "ﬃ", 1L), ("b", "🎉", 1L), ("ﬃ", "🎉", 2L), ("ﬃ", "x", 1L), ("🎉", "x", 1L),
      ("x", "Ωmega", 1L), ("Ωmega", "émoji", 2L), ("émoji", "naïve", 2L),
      ("naïve", "Ωmega", 2L), ("𝔘nicode", "�", 1L), ("�", "z", 1L),
      ("z", "𝔘nicode", 1L), ("ﬁ", "🎈", 1L), ("m", "ﬃ", 1L), ("m", "🎉", 1L),
      ("q", "𝔘nicode", 1L), ("q", "�", 1L))
    import spark.implicits._
    (und ++ und.map(t => (t._2, t._1, t._3))).toDF("src", "dst", "weight").barrier()
  }

  /** (name, symmetric (src, dst, weight) edge list). */
  private lazy val graphs: Seq[(String, DataFrame)] = Seq(
    "sf0.001" -> Analytics.edges(spark, TestSpark.sf).barrier(),
    "dirty" -> Analytics.edges(spark, DirtyData.dir).barrier(),
    "unicode" -> unicodeEdges)

  private def pairs(e: DataFrame) = e.select("src", "dst")
  private def costs(e: DataFrame) = e.selectExpr("src", "dst", "1000000 div weight AS cost")

  /** Rows as the queries emit them: doubles through round(…, 6). */
  private def emitted(df: DataFrame): Seq[String] =
    df.select(df.schema.fields.toSeq.map(f =>
        if (f.dataType == DoubleType) round(col(f.name), 6).as(f.name) else col(f.name)): _*)
      .collect().toSeq.map(_.toString).sorted

  private def assertSame(what: String, plans: Loops.Plans, e0: DataFrame): Unit = {
    val e = e0.barrier()
    val local = plans.local(spark, e.collect())
    val dist = plans.distributed(e)
    assert(local.schema.map(f => f.name -> f.dataType) == dist.schema.map(f => f.name -> f.dataType),
      s"$what: driver schema ${local.schema.simpleString}, distributed ${dist.schema.simpleString}")
    val (l, d) = (emitted(local), emitted(dist))
    assert(l == d, s"$what: driver rows differ from distributed rows\n" +
      s"driver only: ${l.diff(d).take(5)}\ndistributed only: ${d.diff(l).take(5)}")
  }

  private val kernels: Seq[(String, Loops.Plans, DataFrame => DataFrame)] = Seq(
    ("pagerank", Analytics.pagerankRanks, pairs),
    ("weighted pagerank", Analytics.wpagerankRanks, identity),
    ("personalized pagerank", Analytics.pprRanks, pairs),
    ("katz", Analytics.katzScores, identity),
    ("components", Analytics.componentLabels, pairs),
    ("lpa", Analytics.lpaCommunities, identity),
    ("louvain", Analytics.louvainLabels, identity),
    ("hop distances", Analytics.hopDistances, pairs),
    ("cost distances", Analytics.costDistances, costs))

  for ((name, plans, input) <- kernels)
    test(s"$name: the driver plan returns the distributed plan's rows and schema") {
      for ((g, e) <- graphs) assertSame(s"$name on $g", plans, input(e))
    }

  test("Cypher shortestPath distances: the driver plan returns the distributed plan's rows") {
    val sf = cypher.CypherLite.edgesWithProps(spark, TestSpark.sf, "CO_OCCURS", None)
      .select("src_uid", "dst_uid", "weight").barrier()
    val uni = unicodeEdges.toDF("src_uid", "dst_uid", "weight")
    for ((g, e, seed) <- Seq(
        ("sf0.001", sf, sf.select(min("src_uid")).head().getString(0)),
        ("unicode", uni, "b"));
        weighted <- Seq(false, true)) {
      val in = if (weighted) e.selectExpr("src_uid", "dst_uid", "1000000 div weight AS cost")
        else e.select("src_uid", "dst_uid")
      assertSame(s"uidDistances(weighted = $weighted) on $g",
        cypher.CypherLite.uidDistances(seed, 3, weighted), in)
    }
  }

  test("dedup clusters: the driver plan returns the distributed plan's rows and schema") {
    for (dir <- Seq(TestSpark.sf, DirtyData.dir))
      assertSame(s"dupLabels on $dir", operators.Dedup.dupLabels,
        operators.Dedup.dupEdges(spark, dir))
  }

  test("an edge list runs on the driver up to the bound, in one job") {
    val bound = 5L
    for (n <- Seq(bound - 1, bound, bound + 1)) {
      val e = spark.range(0, n, 1, 3).toDF("id").barrier()
      var got: Option[Array[Row]] = None
      val jobs = jobsDuring { got = Loops.collectBounded(e, bound) }
      assert(jobs == 1, s"$n rows: $jobs jobs")
      if (n <= bound) assert(got.map(_.map(_.getLong(0)).toSeq.sorted) == Some(0L until n))
      else assert(got.isEmpty, s"$n rows over a bound of $bound came back")
    }
  }
}
