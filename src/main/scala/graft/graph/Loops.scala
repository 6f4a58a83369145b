package graft.graph

import graft.Ckpt.BarrierOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The iterative graph loops of Analytics, CypherLite and Dedup,
  * written once. Every round is a Pregel superstep in the Pregelix
  * sense — vertex state ⋈ edges, then an aggregate per destination —
  * and [[iterate]] is the one place that decides when a round's state
  * is cut by a `Ckpt.barrier`. The four kernels are the round shapes
  * the loops share; loops with their own round body call [[iterate]]
  * directly.
  *
  * The cadence is part of each loop's cost contract: an eager barrier
  * is one Spark job while the DataFrame is built, a lazy one fills when
  * its consumer runs, and never cutting makes every round re-analyse
  * the whole unrolled plan. So callers pass the cadence and eagerness
  * they need; no kernel changes what a round computes or when a loop
  * stops (all run a fixed number of rounds, which is what lets the
  * unrolled-CTE oracles replay them exactly).
  */
private[graft] object Loops {

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
