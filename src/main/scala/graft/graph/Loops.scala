package graft.graph

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Ckpt.BarrierOps
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The iterative graph loops of Analytics, CypherLite and Dedup,
  * written once. Every round is a Pregel superstep in the Pregelix
  * sense — vertex state ⋈ edges, then an aggregate per destination —
  * and [[iterate]] is the one place that decides when a round's state
  * is cut by a `Ckpt.barrier`. The four kernels are the round shapes
  * the loops share; loops with their own round body call [[iterate]]
  * directly.
  *
  * Two plans per loop, picked from the data's size (Pregelix picks
  * each superstep's plan the same way). A loop query builds and
  * barriers its edge list, then [[onDriver]] reads at most
  * [[DriverMaxEdges]] + 1 rows of it in one Spark job. An edge list
  * within the bound runs every pre-pass (degrees, node count, …) and
  * every round on the driver — the `*Local` twins below, plain Scala
  * over the collected rows — and comes back as a local relation for
  * the query's final projection. At bench scale a distributed round
  * costs several Spark jobs of 20–35 ms each for a few thousand rows
  * of work, so a 100-node graph's loop is job latency, not compute.
  * A larger edge list runs the distributed body.
  *
  * The distributed cadence is part of each loop's cost contract: an
  * eager barrier is one Spark job while the DataFrame is built, a lazy
  * one fills when its consumer runs, and never cutting makes every
  * round re-analyse the whole unrolled plan. So callers pass the
  * cadence and eagerness they need; no kernel changes what a round
  * computes or when a loop stops (all run a fixed number of rounds,
  * which is what lets the unrolled-CTE oracles replay them exactly).
  * A local twin computes the same rows: integer rounds exactly, string
  * ties in Spark's UTF-8 byte order ([[Utf8]]), doubles with the same
  * operations (their sums may differ from a distributed sum in the
  * last bit, which the queries' `round(…, 6)` absorbs, as it does for
  * the DuckDB oracle's summation order).
  */
private[graft] object Loops {

  /** Edge lists up to this many rows run their loops on the driver.
    * A row is two short strings and a long, so the bound holds the
    * driver to tens of MB per loop, well under any driver heap.
    */
  val DriverMaxEdges = 200000L

  /** The rows of `e` when it holds at most `bound` rows, else None.
    * One Spark job: each task returns at most bound + 1 rows, and the
    * driver drops what it holds once the total passes the bound.
    */
  def collectBounded(e: DataFrame, bound: Long = DriverMaxEdges): Option[Array[Row]] = {
    require(bound < Int.MaxValue, s"bound $bound")
    val cap = bound.toInt + 1
    val rdd = e.rdd
    val parts = new Array[Array[Row]](rdd.getNumPartitions)
    var held = 0L
    e.sparkSession.sparkContext.runJob(rdd, (it: Iterator[Row]) => it.take(cap).toArray,
      (i: Int, rows: Array[Row]) =>
        if (held <= bound) {
          held += rows.length
          if (held <= bound) parts(i) = rows
          else java.util.Arrays.fill(parts.asInstanceOf[Array[AnyRef]], null)
        })
    if (held > bound) None else Some(parts.flatten)
  }

  /** `local` over the rows of `e` when they fit [[DriverMaxEdges]],
    * else `distributed`.
    */
  def onDriver[T](e: DataFrame)(local: Array[Row] => T)(distributed: => T): T =
    collectBounded(e).fold(distributed)(local)

  /** A loop's two plans over its barriered edge list `e`: `local` on
    * the driver over the collected rows of `e`, `distributed` as Spark
    * rounds over `e`. Both return the same rows under the same schema;
    * `apply` picks one by the edge list's size.
    */
  final case class Plans(local: (SparkSession, Array[Row]) => DataFrame,
      distributed: DataFrame => DataFrame) {
    def apply(e: DataFrame): DataFrame = onDriver(e)(local(e.sparkSession, _))(distributed(e))
  }

  /** `rows` as a local relation with the DDL schema `ddl` (no job). */
  def frame(spark: SparkSession, ddl: String, rows: Iterable[Row]): DataFrame =
    spark.createDataFrame(rows.toSeq.asJava, StructType.fromDDL(ddl))

  /** Spark's string order: UTF-8 bytes, unsigned (JVM `String`
    * ordering diverges on supplementary characters).
    */
  val Utf8: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
  }

  /** (src, dst) of collected rows whose first two columns are strings. */
  def pairs(rows: Array[Row]): Array[(String, String)] =
    rows.map(r => (r.getString(0), r.getString(1)))

  /** (src, dst, n) of collected rows (string, string, long). */
  def triples(rows: Array[Row]): Array[(String, String, Long)] =
    rows.map(r => (r.getString(0), r.getString(1), r.getLong(2)))

  /** `rounds` applications of `step` to `init`. The state passes
    * through `barrier(eager)` after every `every`-th round and after
    * the last; zero rounds return `init` as it is.
    */
  def iterate(init: DataFrame, rounds: Int, every: Int, eager: Boolean)(
      step: DataFrame => DataFrame): DataFrame =
    (1 to rounds).foldLeft(init) { (state, i) =>
      val next = step(state)
      if (i % every == 0 || i == rounds) next.barrier(eager) else next
    }

  /** Bounded Bellman-Ford from `seed` over `e`, whose endpoint columns
    * are `src` and `dst`: each round every node reached so far offers
    * dist + `len` to its out-neighbours and every node keeps its
    * minimum, so distances only tighten (with a unit `len` this is
    * BFS). `zero` is the seed's distance and fixes the column's type.
    * Output: (node, dist) for every node reached within `rounds` edges.
    */
  def relaxMin(e: DataFrame, src: String, dst: String, seed: String, zero: Column,
      len: Column, rounds: Int, every: Int, eager: Boolean): DataFrame = {
    val init = e.sparkSession.range(1).select(lit(seed).as("node"), zero.as("dist"))
    iterate(init, rounds, every, eager) { dist =>
      val relaxed = dist.join(e, dist("node") === e(src))
        .select(col(dst).as("node"), (col("dist") + len).as("dist"))
      dist.unionByName(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist"))
    }
  }

  /** [[relaxMin]] on the driver over (src, dst, len) edges. A NULL
    * node is kept but, as in the join, never expands.
    */
  def relaxMinLocal(edges: Seq[(String, String, Long)], seed: String,
      rounds: Int): Map[String, Long] = {
    val out = edges.filter(_._1 != null).groupBy(_._1)
    var dist = Map(seed -> 0L)
    for (_ <- 1 to rounds) {
      val next = mutable.HashMap.from(dist)
      for ((n, d) <- dist; (_, m, len) <- out.getOrElse(n, Nil))
        if (next.get(m).forall(d + len < _)) next(m) = d + len
      dist = next.toMap
    }
    dist
  }

  /** Power iteration of a (node, rank) table over the edge list `e`
    * (src, dst, …) and the per-node table `deg` (src, degree columns):
    * each round a node sends `share` (an expression over its rank, the
    * edge and its `deg` row) to every out-neighbour, and every node of
    * `deg` takes teleport + damping · (sum of what it received).
    */
  def powerIterate(init: DataFrame, e: DataFrame, deg: DataFrame, share: Column,
      teleport: Column, damping: Double, rounds: Int, every: Int,
      eager: Boolean): DataFrame =
    iterate(init, rounds, every, eager) { pr =>
      val inc = pr.withColumnRenamed("node", "src")
        .join(e, "src").join(deg, "src")
        .select(col("dst").as("node"), share.as("m"))
        .groupBy("node").agg(sum(col("m")).as("inc"))
      deg.select(col("src").as("node"))
        .join(inc, Seq("node"), "left")
        .select(col("node"),
          (teleport + lit(damping) * coalesce(col("inc"), lit(0.0))).as("rank"))
    }

  /** [[powerIterate]] on the driver over (src, dst) `edges` whose
    * endpoints are all `nodes`: edge i carries `share(rank of src, i)`.
    */
  def powerIterateLocal(edges: IndexedSeq[(String, String)], nodes: Iterable[String],
      init: String => Double, share: (Double, Int) => Double,
      teleport: String => Double, damping: Double, rounds: Int): Map[String, Double] = {
    var pr = nodes.map(n => n -> init(n)).toMap
    for (_ <- 1 to rounds) {
      val inc = mutable.HashMap.empty[String, Double]
      for (i <- edges.indices; r <- pr.get(edges(i)._1))
        inc(edges(i)._2) = inc.getOrElse(edges(i)._2, 0.0) + share(r, i)
      pr = pr.map { case (n, _) => n -> (teleport(n) + damping * inc.getOrElse(n, 0.0)) }
    }
    pr
  }

  /** Min-label propagation over the edge list `e` (src, dst): every
    * source node starts labelled with itself, and each round a node
    * keeps the least of its label and its in-neighbours' labels.
    * Output: (node, comp).
    */
  def minLabel(e: DataFrame, rounds: Int, every: Int, eager: Boolean): DataFrame = {
    val init = e.select(col("src").as("node")).distinct()
      .withColumn("comp", col("node"))
    iterate(init, rounds, every, eager) { lbl =>
      val nbrMin = lbl.join(e, lbl("node") === e("src"))
        .groupBy(col("dst").as("node2"))
        .agg(min(col("comp")).as("nbr_comp"))
      lbl.join(nbrMin, lbl("node") === col("node2"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
    }
  }

  /** [[minLabel]] on the driver over (src, dst) `edges` of non-NULL
    * labels; `ord` is the label column's Spark order ([[Utf8]] for
    * strings).
    */
  def minLabelLocal[K](edges: Seq[(K, K)], rounds: Int, ord: Ordering[K]): Map[K, K] = {
    var lbl = edges.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      val nbr = mutable.HashMap.empty[K, K]
      for ((s, d) <- edges; c <- lbl.get(s))
        nbr(d) = nbr.get(d).fold(c)(ord.min(_, c))
      lbl = lbl.map { case (n, c) => n -> nbr.get(n).fold(c)(ord.min(c, _)) }
    }
    lbl
  }

  /** A layered BFS's layers 0..hops and its visited set after each of
    * rounds 0..hops.
    */
  final case class Bfs(layers: Vector[DataFrame], visited: Vector[DataFrame])

  /** Layered frontier BFS: round i expands layer i−1 by one hop with
    * `expand`, drops the rows whose `keys` are already visited, and
    * appends `mark(layer i, i)` to the visited set. Layer 0 is `l0`;
    * the visited set starts as `visited0`. A new layer is read twice —
    * by the visited append and by the next round — so it is cut by a
    * lazy barrier before either reads it; the visited set is the
    * iterated state, cut lazily every round.
    */
  def layeredBfs(l0: DataFrame, visited0: DataFrame, keys: Seq[String], hops: Int)(
      expand: DataFrame => DataFrame, mark: (DataFrame, Int) => DataFrame): Bfs = {
    var layers = Vector(l0)
    var visited = Vector.empty[DataFrame]
    val last = iterate(visited0, hops, every = 1, eager = false) { vis =>
      val layer = expand(layers.last)
        .join(vis.select(keys.map(col): _*), keys, "left_anti")
        .barrier(false)
      visited :+= vis
      layers :+= layer
      vis.unionByName(mark(layer, layers.size - 1))
    }
    Bfs(layers, visited :+ last)
  }
}
