package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.min
import org.scalatest.funsuite.AnyFunSuite

import graft.Ckpt.BarrierOps
import graft.TestSpark.jobsDuring

/** Pins the Spark jobs every iterative graph query fires at sf0.001:
  * while its DataFrame is built (eager barriers, driver-side scalars)
  * and while it is collected (lazy barriers, the final plan). These
  * queries are job-count bound at bench scale, so a loop refactor that
  * moves a barrier, flips its eagerness or adds a pass must show up
  * here as a changed count, not only as a slower benchmark. The
  * serving loop's vector and hybrid CALLs, their BM25 keyword leg and
  * the MATCH shapes it asks (ex1, ex2, ex3, ex8, ex14) are pinned the
  * same way: on a small corpus their latency is their fixed Spark work.
  *
  * A loop whose edge list fits `Loops.DriverMaxEdges` runs on the
  * driver, which every sf0.001 graph does, so its query pin counts the
  * edge build, the one collect and the final projection. The
  * distributed plans keep their cadence pinned separately: each is
  * called directly on the sf0.001 edge list.
  *
  * Each query runs once unmeasured first, so one-off session work
  * (parquet schema inference, codegen) never lands in the pinned
  * counts. The pins are cold: the edge-list memo of `Loops.onDriver`
  * is emptied before the measured run. The warm pins repeat a memoized
  * loop on unchanged tables, where the edge list costs no job and only
  * the final projection's jobs remain. Only counts that repeat
  * exactly are pinned. On the same data q_betweenness,
  * q_cypher_path, q_cypher_ex43, q_cypher_asp_paths and
  * q_cypher_wpath (whose witness loop is cut by eager barriers), and the distributed plans of weighted PageRank,
  * LPA, Louvain, the near-dup clusters and the weighted shortest
  * paths (q_wsp's and Cypher wlength's), fire one or two jobs more or
  * fewer from run to run (likely adaptive execution re-planning in
  * stage-completion order), so they are left out; every loop kernel
  * still has a pinned caller.
  */
class LoopJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** (query key, jobs while built, jobs while collected). */
  private val pinned: Seq[(String, Int, Int)] = Seq(
    ("q_pagerank", 5, 1),
    ("q_pagerank_weighted", 5, 1),
    ("q_ppr", 5, 1),
    ("q_katz", 4, 1),
    ("q_components", 5, 1),
    ("q_lpa_communities", 4, 2),
    ("q_modularity", 4, 1),
    ("q_louvain", 4, 2),
    ("q_kcore", 25, 4),
    ("q_shortest_path", 5, 1),
    ("q_wsp", 5, 1),
    ("q_closeness", 20, 8),
    ("q_anf", 20, 9),
    ("q_dedup_clusters", 10, 6),
    ("q_cypher_sp", 4, 0),
    ("q_cypher_wsp", 4, 0),
    ("q_cypher_asp", 18, 1),
    ("q_cypher_vector", 2, 8),
    ("q_cypher_hybrid", 7, 8),
    ("q_cypher_ex1", 0, 8),
    ("q_cypher_ex2", 0, 10),
    ("q_cypher_ex3", 0, 5),
    ("q_cypher_ex8", 0, 10),
    ("q_cypher_ex14", 9, 10))

  /** Jobs while `q()` builds its frame and while it is collected, after
    * one unmeasured run; a cold measurement empties the edge-list memo
    * first.
    */
  private def jobs(q: () => DataFrame, cold: Boolean = true): (Int, Int) = {
    q().collect()
    if (cold) graph.Loops.resetMemo()
    var df: DataFrame = null
    val b = jobsDuring { df = q() }
    (b, jobsDuring { df.collect() })
  }

  for ((key, build, collect) <- pinned)
    test(s"$key fires $build jobs while built and $collect while collected") {
      val got = jobs(() => SparkEntry.queries(key)(spark, TestSpark.sf))
      assert(got == ((build, collect)), s"$key: built ${got._1}, collected ${got._2}")
    }

  /** (query key, jobs while built, jobs while collected) on unchanged
    * tables, the memoized edge list's rows read from the memo.
    */
  private val warm: Seq[(String, Int, Int)] = Seq(
    ("q_pagerank", 0, 1),
    ("q_pagerank_weighted", 0, 1),
    ("q_ppr", 0, 1),
    ("q_katz", 0, 1),
    ("q_components", 0, 1),
    ("q_lpa_communities", 0, 2),
    ("q_modularity", 0, 1),
    ("q_louvain", 0, 2),
    ("q_shortest_path", 0, 1),
    ("q_wsp", 0, 1),
    ("q_cypher_sp", 0, 0),
    ("q_cypher_wsp", 0, 0))

  for ((key, build, collect) <- warm)
    test(s"$key fires $build jobs while built and $collect while collected on unchanged tables") {
      val got = jobs(() => SparkEntry.queries(key)(spark, TestSpark.sf), cold = false)
      assert(got == ((build, collect)), s"$key warm: built ${got._1}, collected ${got._2}")
    }

  private lazy val edges = graph.Analytics.edges(spark, TestSpark.sf).barrier()
  private lazy val pairs = edges.select("src", "dst").barrier()
  private lazy val uidPairs = cypher.CypherLite.edgesWithProps(spark, TestSpark.sf, "CO_OCCURS", None)
    .select("src_uid", "dst_uid").barrier()
  private lazy val seed = uidPairs.select(min("src_uid")).head().getString(0)

  /** (distributed plan, its input, jobs while built, jobs while collected). */
  private val distributed: Seq[(String, () => DataFrame, Int, Int)] = {
    import graph.Analytics.{componentLabels, hopDistances, katzScores, pagerankRanks, pprRanks}
    Seq(
      ("pagerankRanks", () => pagerankRanks.distributed(pairs), 41, 1),
      ("pprRanks", () => pprRanks.distributed(pairs), 39, 1),
      ("katzScores", () => katzScores.distributed(edges), 20, 1),
      ("componentLabels", () => componentLabels.distributed(pairs), 26, 1),
      ("hopDistances", () => hopDistances.distributed(pairs), 9, 1),
      ("uidDistances", () => cypher.CypherLite.uidDistances(seed, 3, weighted = false)
        .distributed(uidPairs), 6, 1))
  }

  for ((name, q, build, collect) <- distributed)
    test(s"the distributed $name fires $build jobs while built and $collect while collected") {
      val got = jobs(q)
      assert(got == ((build, collect)), s"$name: built ${got._1}, collected ${got._2}")
    }

  test("the BM25 keyword leg fires 3 jobs while built and 2 while collected") {
    // the statistics aggregate while built (2 jobs), the TakeOrdered
    // scan while collected (1); chunks derived from the documents, not
    // read from the standing tables, add one exchange to each
    val idx = cypher.CypherLite.GraphMeta.ftIndexes("chunktext")
    val got = jobs(() => cypher.CypherLite.textIndexTopk(spark, TestSpark.sf, idx,
      Seq("spark", "join", "fast"), 5))
    assert(got == ((3, 2)), s"textIndexTopk: built ${got._1}, collected ${got._2}")
  }
}
