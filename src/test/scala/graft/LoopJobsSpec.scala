package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

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
    ("q_cypher_asp", 18, 1),
    ("q_cypher_vector", 2, 8),
    ("q_cypher_hybrid", 7, 8),
    ("q_cypher_ex1", 0, 8),
    ("q_cypher_ex2", 0, 10),
    ("q_cypher_ex3", 0, 5),
    ("q_cypher_ex8", 0, 10),
    ("q_cypher_ex14", 9, 10))

  /** Jobs while `q()` builds its frame and while it is collected, after
    * one unmeasured run.
    */
  private def jobs(q: () => DataFrame): (Int, Int) = {
    q().collect()
    var df: DataFrame = null
    val b = jobsDuring { df = q() }
    (b, jobsDuring { df.collect() })
  }

  for ((key, build, collect) <- pinned)
    test(s"$key fires $build jobs while built and $collect while collected") {
      val got = jobs(() => SparkEntry.queries(key)(spark, TestSpark.sf))
      assert(got == ((build, collect)), s"$key: built ${got._1}, collected ${got._2}")
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
