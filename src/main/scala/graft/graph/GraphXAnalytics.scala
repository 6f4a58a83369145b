package graft.graph

import graft.Ckpt.BarrierOps
import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GraphX interop: the same entity co-occurrence graph materialized as
  * a GraphX `Graph`, with PageRank and connected components run on the
  * Pregel engine. Exists as (a) a second, independent implementation
  * to cross-validate the DataFrame analytics (GraphXSpec asserts they
  * agree), and (b) the escape hatch for algorithms where vertex-program
  * iteration beats join-per-superstep.
  *
  * Vertex ids are assigned with `zipWithUniqueId` (distributed, no
  * driver collect) — GraphX needs Long ids; names stay as vertex attrs.
  */
object GraphXAnalytics {

  /** Build the GraphX graph from the co-occurrence edge list. The edge
    * list is read three times (two vertex-id sides, the edge join), so
    * it passes through an eager barrier: its blocks belong to this
    * graph alone. A `cache()` here would register the plan with the
    * session's CacheManager, which then substitutes it into every later
    * query with the same subplan (every edges-based query) and hides
    * that query's own edge-build jobs.
    */
  def graph(spark: SparkSession, dir: String): Graph[String, Long] = {
    val co = Analytics.cooccur(spark, dir)
      .select("e1", "e2", "weight").barrier()
    val verts: RDD[(String, VertexId)] = co
      .select(col("e1").as("n")).union(co.select(col("e2")))
      .distinct().rdd.map(_.getString(0)).zipWithUniqueId()
    val vertsDf = verts.toDF_(spark)
    val withIds = co
      .join(vertsDf.withColumnRenamed("name", "e1").withColumnRenamed("vid", "vid1"), "e1")
      .join(vertsDf.withColumnRenamed("name", "e2").withColumnRenamed("vid", "vid2"), "e2")
    val edges: RDD[Edge[Long]] = withIds
      .select("vid1", "vid2", "weight").rdd
      .flatMap(r => Seq(
        Edge(r.getLong(0), r.getLong(1), r.getLong(2)),
        Edge(r.getLong(1), r.getLong(0), r.getLong(2))))
    Graph(verts.map(_.swap), edges)
  }

  private implicit class RddToDf(rdd: RDD[(String, Long)]) {
    def toDF_(spark: SparkSession): DataFrame = {
      import spark.implicits._
      rdd.toDF("name", "vid")
    }
  }

  /** Static PageRank (10 iters, reset 0.15). GraphX leaves ranks
    * unnormalized (they sum to N); callers can divide by vertex count
    * to compare with Analytics.qPagerank.
    */
  def pagerank(spark: SparkSession, dir: String, iters: Int = Analytics.PrIters): DataFrame = {
    import spark.implicits._
    val g = graph(spark, dir)
    g.staticPageRank(iters, 0.15)
      .vertices.join(g.vertices)
      .map { case (_, (rank, name)) => (name, rank) }
      .toDF("name", "graphx_rank")
  }

  /** Connected components (labels are min vertex id per component). */
  def components(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = graph(spark, dir)
    g.connectedComponents()
      .vertices.join(g.vertices)
      .map { case (_, (comp, name)) => (name, comp) }
      .toDF("name", "graphx_comp")
  }

  /** Personalized PageRank from a named seed on the Pregel engine —
    * the independent reference for Analytics.qPagerankPersonalized
    * (initialization details differ, so the spec compares normalized
    * distributions, not raw values).
    */
  def personalizedPagerank(spark: SparkSession, dir: String, seed: String,
      iters: Int = Analytics.PrIters): DataFrame = {
    import spark.implicits._
    val g = graph(spark, dir)
    val seedId = g.vertices.filter(_._2 == seed).map(_._1).collect() match {
      case Array(id) => id
      case other => throw new IllegalArgumentException(
        s"seed $seed matched ${other.length} vertices")
    }
    g.staticPersonalizedPageRank(seedId, iters, 0.15)
      .vertices.join(g.vertices)
      .map { case (_, (rank, name)) => (name, rank) }
      .toDF("name", "graphx_ppr")
  }

  /** Single-source shortest hop distances via the Pregel ShortestPaths
    * library — the independent reference for Analytics.qShortestPath's
    * bounded BFS (GraphX runs to fixpoint; the spec restricts the
    * comparison to distances within the BFS bound).
    */
  def shortestPaths(spark: SparkSession, dir: String, seed: String): DataFrame = {
    import spark.implicits._
    val g = graph(spark, dir)
    val seedId = g.vertices.filter(_._2 == seed).map(_._1).collect() match {
      case Array(id) => id
      case other => throw new IllegalArgumentException(
        s"seed $seed matched ${other.length} vertices")
    }
    org.apache.spark.graphx.lib.ShortestPaths.run(g, Seq(seedId))
      .vertices.join(g.vertices)
      .flatMap { case (_, (spmap, name)) =>
        spmap.get(seedId).map(d => (name, d.toLong)) }
      .toDF("name", "graphx_dist")
  }

  /** Weighted single-source shortest paths on the Pregel engine — the
    * independent reference for Analytics.qWeightedShortestPath. Edge
    * length is the same integer reciprocal cost (1000000 / weight,
    * JVM integer division ≡ Spark `div` on positives), and
    * maxIterations = the Bellman-Ford round bound, so frontier-based
    * Pregel relaxation computes EXACTLY the bounded-BF distances —
    * the spec asserts full-map equality, not approximation.
    */
  def weightedShortestPaths(spark: SparkSession, dir: String, seed: String,
      rounds: Int): DataFrame = {
    import spark.implicits._
    val g0 = graph(spark, dir)
    val seedId = g0.vertices.filter(_._2 == seed).map(_._1).collect() match {
      case Array(id) => id
      case other => throw new IllegalArgumentException(
        s"seed $seed matched ${other.length} vertices")
    }
    val inf = Long.MaxValue / 4 // headroom so relax sums never overflow
    val sssp = g0.mapVertices((id, _) => if (id == seedId) 0L else inf)
      .mapEdges(e => 1000000L / e.attr)
    val res = org.apache.spark.graphx.Pregel(sssp, inf, maxIterations = rounds)(
      (_, d, m) => math.min(d, m),
      t => if (t.srcAttr + t.attr < t.dstAttr)
        Iterator((t.dstId, t.srcAttr + t.attr)) else Iterator.empty,
      math.min)
    res.vertices.join(g0.vertices)
      .filter(_._2._1 < inf)
      .map { case (_, (d, name)) => (name, d) }
      .toDF("name", "graphx_wdist")
  }

  /** Per-vertex triangle counts on the Pregel engine — the independent
    * reference for Analytics.qTriangles' degree-oriented wedge join.
    * TriangleCount requires canonical edges (src < dst, no duplicates),
    * so the graph is rebuilt in canonical orientation here.
    */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = graph(spark, dir)
    val canon = Graph(g.vertices,
      g.edges.map(e => if (e.srcId < e.dstId) e
        else Edge(e.dstId, e.srcId, e.attr)).distinct())
    canon.triangleCount()
      .vertices.join(g.vertices)
      .map { case (_, (t, name)) => (name, t.toLong) }
      .toDF("name", "graphx_triangles")
  }

  /** Degree assortativity on the GraphX representation — the
    * independent reference for Analytics.qAssortativity. outDegrees
    * on the stored both-direction edge list IS the DataFrame degree
    * (one out-edge per incident undirected edge); the six moment
    * sums accumulate over the directed edge RDD as exact longs, and
    * the final formula applies the IDENTICAL double operations in the
    * identical order, so the spec asserts bit-equality, not
    * approximate agreement.
    */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = graph(spark, dir)
    val gd = g.outerJoinVertices(g.outDegrees)((_, _, d) => d.getOrElse(0))
    val moms = gd.triplets
      .map(t => (1L, t.srcAttr.toLong, t.dstAttr.toLong,
        t.srcAttr.toLong * t.dstAttr, t.srcAttr.toLong * t.srcAttr,
        t.dstAttr.toLong * t.dstAttr))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3,
        a._4 + b._4, a._5 + b._5, a._6 + b._6))
    val (n, sx, sy, sxy, sxx, syy) = moms
    val nd = n.toDouble
    val num = nd * sxy.toDouble - sx.toDouble * sy.toDouble
    val den = math.sqrt((nd * sxx.toDouble - sx.toDouble * sx.toDouble)
      * (nd * syy.toDouble - sy.toDouble * sy.toDouble))
    Seq((n / 2, BigDecimal(sx.toDouble / nd).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(if (den > 0) num / den else 0.0).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("n_edges", "mean_end_degree", "assortativity")
  }

  /** Per-hop neighborhood-function pair counts from the given
    * landmark seeds on the Pregel ShortestPaths engine — the THIRD
    * independent implementation behind Analytics.qAnf (DataFrame
    * frontier BFS, the spec's driver replay, and this). GraphX runs
    * to fixpoint; counting dist ≤ h per hop restricts to the BFS
    * bound. Returns N(0..maxHop).
    */
  def anfCounts(spark: SparkSession, dir: String, seeds: Seq[String],
      maxHop: Int): Seq[Long] = {
    val g = graph(spark, dir)
    val seedSet = seeds.toSet
    val ids = g.vertices.filter(v => seedSet(v._2)).map(_._1).collect().toSeq
    require(ids.size == seeds.size,
      s"resolved ${ids.size} of ${seeds.size} seed names")
    val dists = org.apache.spark.graphx.lib.ShortestPaths.run(g, ids)
      .vertices.flatMap { case (_, spmap) => spmap.values.map(_.toLong) }
      .collect()
    (0 to maxHop).map(h => dists.count(_ <= h).toLong)
  }
}
