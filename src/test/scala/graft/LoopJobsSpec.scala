package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.jobsDuring

/** Pins the Spark jobs every iterative graph query fires at sf0.001:
  * while its DataFrame is built (eager barriers, driver-side scalars)
  * and while it is collected (lazy barriers, the final plan). These
  * queries are job-count bound at bench scale, so a loop refactor that
  * moves a barrier, flips its eagerness or adds a pass must show up
  * here as a changed count, not only as a slower benchmark.
  *
  * Each query runs once unmeasured first, so one-off session work
  * (parquet schema inference, codegen) never lands in the pinned
  * counts. Only queries whose counts repeat exactly are pinned. On
  * the same data, q_pagerank_weighted, q_lpa_communities,
  * q_modularity, q_wsp, q_betweenness, q_louvain, q_dedup_clusters,
  * q_cypher_wsp, q_cypher_path, q_cypher_ex43 and q_cypher_asp_paths
  * fire one or two jobs more or fewer from run to run (likely
  * adaptive execution re-planning in stage-completion order), so they
  * are left out; every loop kernel still has a pinned caller.
  */
class LoopJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** (query key, jobs while built, jobs while collected). */
  private val pinned: Seq[(String, Int, Int)] = Seq(
    ("q_pagerank", 45, 3),
    ("q_ppr", 43, 3),
    ("q_katz", 23, 3),
    ("q_components", 30, 3),
    ("q_kcore", 25, 4),
    ("q_shortest_path", 13, 3),
    ("q_closeness", 20, 8),
    ("q_anf", 20, 9),
    ("q_cypher_sp", 10, 1),
    ("q_cypher_wpath", 15, 6),
    ("q_cypher_asp", 18, 1))

  for ((key, build, collect) <- pinned)
    test(s"$key fires $build jobs while built and $collect while collected") {
      // a plan cached by another suite (GraphXAnalytics caches the
      // co-occurrence edges and never releases them) would be
      // substituted into these queries and hide its jobs
      spark.catalog.clearCache()
      val q = SparkEntry.queries(key)
      q(spark, TestSpark.sf).collect()
      var df: DataFrame = null
      val b = jobsDuring { df = q(spark, TestSpark.sf) }
      val c = jobsDuring { df.collect() }
      assert((b, c) == ((build, collect)), s"$key: built $b, collected $c")
    }
}
