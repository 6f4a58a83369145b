package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{Analytics, GraphXAnalytics}

/** Cross-validation: the DataFrame analytics and GraphX must agree —
  * two independent engines computing the same graph measures.
  */
class GraphXSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("GraphX static PageRank matches the DataFrame power iteration (×N scale)") {
    val df = Analytics.qPagerank(spark, TestSpark.sf)
    val n = df.count()
    val gx = GraphXAnalytics.pagerank(spark, TestSpark.sf)
    val joined = df.join(gx, "name")
      .select(col("name"), col("pagerank"), (col("graphx_rank") / n).as("gx_norm"))
    val maxDiff = joined
      .select(max(abs(col("pagerank") - col("gx_norm")))).head().getDouble(0)
    assert(maxDiff < 1e-4, s"PageRank engines disagree by $maxDiff")
  }

  test("seeded LPA communities match a synchronous in-memory reference") {
    import spark.implicits._
    val e = Analytics.edges(spark, TestSpark.sf)
      .select("src", "dst", "weight").as[(String, String, Long)].collect()
    val inNbrs = e.groupBy(_._2).map { case (d, xs) =>
      d -> xs.map(x => (x._1, x._3)).toSeq
    }
    val deg = e.groupBy(_._1).map { case (s, xs) => s -> xs.size }
    val seeds = deg.toSeq.sortBy { case (n, d) => (-d, n) }
      .take(Analytics.LpaSeeds).map(_._1).toSet
    var lbl: Map[String, Option[String]] =
      inNbrs.keys.map(n => n -> (if (seeds(n)) Some(n) else None)).toMap
    for (_ <- 1 to Analytics.LpaIters) {
      val prev = lbl
      lbl = prev.map { case (n, l) =>
        if (seeds(n)) n -> Some(n)
        else {
          val votes = inNbrs(n).flatMap { case (m, w) => prev(m).map(_ -> w) }
            .groupBy(_._1).map { case (x, ys) => (x, ys.map(_._2).sum) }
          if (votes.isEmpty) n -> l
          else {
            val mx = votes.values.max
            n -> Some(votes.filter(_._2 == mx).keys.min)
          }
        }
      }
    }
    val want = lbl.map { case (n, l) => n -> l.getOrElse(n) }
    val got = Analytics.qLpaCommunities(spark, TestSpark.sf)
      .select("name", "community").as[(String, String)].collect().toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (n, c) => assert(c == want(n), s"node $n: got $c want ${want(n)}") }
    assert(got.values.toSet.size > 1 && got.values.toSet.size < got.size,
      "seeded LPA must form non-trivial communities (neither all-one nor all-singleton)")
  }

  test("GraphX connected components partition nodes identically") {
    val df = Analytics.qComponents(spark, TestSpark.sf)
    val gx = GraphXAnalytics.components(spark, TestSpark.sf)
    val joined = df.join(gx, "name")
    // bijection between label sets: each df comp ↔ one graphx comp
    val a = joined.groupBy("comp")
      .agg(countDistinct("graphx_comp").as("k")).filter(col("k") > 1).count()
    val b = joined.groupBy("graphx_comp")
      .agg(countDistinct("comp").as("k")).filter(col("k") > 1).count()
    assert(a == 0 && b == 0)
    assert(joined.count() == df.count())
  }

  test("GraphX triangle counts match the degree-oriented wedge join") {
    val df = Analytics.qTriangles(spark, TestSpark.sf)
    val gx = GraphXAnalytics.triangles(spark, TestSpark.sf)
    val joined = df.join(gx, "name")
    assert(joined.count() == df.count(), "vertex sets differ")
    val disagree = joined
      .filter(col("triangles") =!= col("graphx_triangles")).count()
    assert(disagree == 0, s"$disagree vertices disagree on triangle count")
    // sanity: the fixture graph actually has triangles
    assert(df.agg(sum("triangles")).head().getLong(0) > 0)
  }

  test("GraphX assortativity reproduces the DataFrame moments bit-for-bit") {
    val df = Analytics.qAssortativity(spark, TestSpark.sf).head()
    val gx = GraphXAnalytics.assortativity(spark, TestSpark.sf).head()
    assert(gx.getAs[Long]("n_edges") == df.getAs[Long]("n_edges"))
    assert(gx.getAs[Double]("mean_end_degree")
      == df.getAs[Double]("mean_end_degree"))
    assert(gx.getAs[Double]("assortativity")
      == df.getAs[Double]("assortativity"),
      s"graphx ${gx.getAs[Double]("assortativity")} vs " +
        s"df ${df.getAs[Double]("assortativity")}")
  }

  test("GraphX ShortestPaths agrees with the bounded BFS within its hop budget") {
    val df = Analytics.qShortestPath(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val gx = GraphXAnalytics.shortestPaths(spark, TestSpark.sf, Analytics.BfsSeed)
      .collect().map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    assert(df.nonEmpty && df(Analytics.BfsSeed) == 0)
    // within the hop budget the distances must be identical; nodes the
    // BFS reached are exactly the GraphX nodes within the budget
    val gxInBudget = gx.filter(_._2 <= Analytics.BfsHops)
    assert(df == gxInBudget,
      s"BFS(${df.size}) vs GraphX-in-budget(${gxInBudget.size}) diverge")
  }

  test("GraphX distances reproduce the harmonic closeness of every seed") {
    val clo = graph.Analytics.qCloseness(spark, TestSpark.sf).collect()
    assert(clo.nonEmpty)
    clo.foreach { row =>
      val seed = row.getAs[String]("name")
      val inBudget = GraphXAnalytics.shortestPaths(spark, TestSpark.sf, seed)
        .filter(col("graphx_dist") >= 1
          && col("graphx_dist") <= Analytics.CloseDepth)
        .collect()
      val h = inBudget.map(r => 1000000L / r.getAs[Long]("graphx_dist")).sum
      assert(h == row.getAs[Long]("h_micro"),
        s"seed '$seed': GraphX harmonic $h vs BFS ${row.getAs[Long]("h_micro")}")
      assert(inBudget.length.toLong == row.getAs[Long]("n_reached"),
        s"seed '$seed': reach count diverges")
    }
  }

  test("GraphX personalized PageRank concentrates the same mass as the DataFrame PPR") {
    val df = Analytics.qPagerankPersonalized(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val gx = GraphXAnalytics.personalizedPagerank(spark, TestSpark.sf, Analytics.BfsSeed)
      .collect().map(r => r.getString(0) -> r.getDouble(1))
      .filter(_._2 > 1e-9).toMap
    assert(df.nonEmpty && gx.nonEmpty)
    // initialization conventions differ — compare NORMALIZED
    // distributions over the union of supports
    val dSum = df.values.sum
    val gSum = gx.values.sum
    val names = df.keySet ++ gx.keySet
    val maxDiff = names.map(n =>
      math.abs(df.getOrElse(n, 0.0) / dSum - gx.getOrElse(n, 0.0) / gSum)).max
    assert(maxDiff < 0.05, s"normalized PPR distributions diverge by $maxDiff")
    // the seed dominates its own neighborhood ranking in both
    assert(df.maxBy(_._2)._1 == Analytics.BfsSeed)
    assert(gx.maxBy(_._2)._1 == Analytics.BfsSeed)
  }

  test("weighted shortest paths: DataFrame Bellman-Ford equals GraphX Pregel exactly") {
    val df = Analytics.qWeightedShortestPath(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val gx = GraphXAnalytics.weightedShortestPaths(spark, TestSpark.sf,
        Analytics.BfsSeed, Analytics.WspRounds)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // integer costs + identical round bound → the full distance maps
    // must be EQUAL, reachable set included
    assert(df == gx, {
      val onlyDf = df.keySet -- gx.keySet
      val onlyGx = gx.keySet -- df.keySet
      val diff = (df.keySet & gx.keySet).filter(k => df(k) != gx(k))
      s"maps diverge: onlyDf=$onlyDf onlyGx=$onlyGx valueDiff=${diff.take(5)}"
    })
    assert(df(Analytics.BfsSeed) == 0L)
    // a weighted distance is never larger than hop-count × the max
    // possible edge cost (sanity tie to the unweighted BFS)
    val hops = Analytics.qShortestPath(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    hops.filter(_._2 <= Analytics.WspRounds).foreach { case (n, h) =>
      assert(df.contains(n), s"$n reached by BFS in $h hops but absent from WSP")
      assert(df(n) <= h.toLong * 1000000L, s"$n: wdist ${df(n)} > $h hops × 1e6")
    }
  }

  test("GraphX landmark distances reproduce the sampled ANF reach curve") {
    import spark.implicits._
    val nodes = Analytics.edges(spark, TestSpark.sf)
      .select("src").distinct().as[String].collect()
    val seeds = nodes.sortBy(n => (TestSpark.md5hex(n), n))
      .take(Analytics.AnfSeeds).toSeq
    val got = Analytics.qAnf(spark, TestSpark.sf).orderBy("hop")
      .select("n_pairs").as[Long].collect().toSeq
    val want = GraphXAnalytics.anfCounts(
      spark, TestSpark.sf, seeds, Analytics.AnfHops)
    assert(got == want,
      s"DataFrame ANF $got != Pregel landmark counts $want")
  }

  test("GraphX entry points leave no plan in the session cache") {
    // a plan left in the CacheManager is substituted into every later
    // query with the same subplan (every edges-based query) and hides
    // that query's own build jobs
    spark.catalog.clearCache()
    val seed = Analytics.BfsSeed
    GraphXAnalytics.pagerank(spark, TestSpark.sf).collect()
    GraphXAnalytics.components(spark, TestSpark.sf).collect()
    GraphXAnalytics.personalizedPagerank(spark, TestSpark.sf, seed).collect()
    GraphXAnalytics.shortestPaths(spark, TestSpark.sf, seed).collect()
    GraphXAnalytics.weightedShortestPaths(spark, TestSpark.sf, seed, 2).collect()
    GraphXAnalytics.triangles(spark, TestSpark.sf).collect()
    GraphXAnalytics.assortativity(spark, TestSpark.sf).collect()
    GraphXAnalytics.anfCounts(spark, TestSpark.sf, Seq(seed), 2)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
