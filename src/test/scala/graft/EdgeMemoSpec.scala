package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.Ckpt.BarrierOps
import graft.TestSpark.jobsDuring
import graft.graph.{Analytics, Loops}
import graft.operators.TextPipeline
import graft.sources.Catalog

/** The edge-list memo of `Loops.onDriver` must never serve rows the
  * memo-free plan would not return. Each case changes one input of a
  * memoized loop query between two calls — the standing tables, the
  * documents, a conf — and checks the second call against the same
  * query with the memo emptied, and that the change did change the
  * rows where it changes the data. A plan whose file listing is stale
  * memoizes its rows under the files it read, not the files on disk.
  * The limits: an edge list over the bound, or one read through a
  * checkpoint, is never memoized, the memo keeps one version per plan
  * and never holds more than `Loops.DriverMaxEdges` rows.
  *
  * The standing tables are the suite JVM's global `graft_chunks` and
  * `graft_mentions`, rebuilt here from a scratch corpus.
  */
class EdgeMemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val all = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")

  private def pagerank(dir: String): Seq[Row] = Analytics.qPagerank(spark, dir).collect().toSeq

  /** The query's rows with the memo emptied first. */
  private def fresh(dir: String): Seq[Row] = {
    Loops.resetMemo()
    pagerank(dir)
  }

  /** A scratch corpus directory holding `docs` as its documents. */
  private def corpus(docs: DataFrame): String = {
    val dir = Files.createTempDirectory("graft_memo").toString
    writeDocs(dir, docs)
    dir
  }

  private def writeDocs(dir: String, docs: DataFrame): Unit =
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def withStanding[T](dir: String)(body: => T): T = {
    spark.conf.set(TextPipeline.MaterializedConf, dir)
    try body finally spark.conf.unset(TextPipeline.MaterializedConf)
  }

  /** A second call after `change` equals the memo-free plan, differs
    * from the first call when `changesRows`, and the first call's
    * repeat was served from the memo (no job while built).
    */
  private def assertTracks(what: String, dir: String, changesRows: Boolean)(
      change: => Unit): Unit = {
    Loops.resetMemo()
    val before = pagerank(dir)
    assert(jobsDuring(Analytics.qPagerank(spark, dir)) == 0, s"$what: repeat not memoized")
    change
    val after = pagerank(dir)
    assert(after == fresh(dir), s"$what: memoized rows differ from the memo-free plan")
    if (changesRows) assert(after != before, s"$what: the change did not change the rows")
  }

  test("materializeGraph over a different corpus between two calls") {
    val dir = corpus(all)
    Catalog.materializeGraph(spark, dir)
    withStanding(dir) {
      assertTracks("re-materialized", dir, changesRows = true) {
        writeDocs(dir, all.filter(col("doc_id") % 2 === 0))
        Catalog.materializeGraph(spark, dir)
      }
    }
  }

  test("mergeGraph appends between two calls") {
    val isNew = col("doc_id") % 5 === 2
    val dir = corpus(all.filter(!isNew))
    Catalog.materializeGraph(spark, dir)
    withStanding(dir) {
      assertTracks("merged", dir, changesRows = true) {
        Catalog.mergeGraph(spark, all.filter(isNew))
      }
    }
  }

  test("documents.parquet overwritten while the standing reads are off") {
    val dir = corpus(all)
    assertTracks("overwritten", dir, changesRows = true) {
      writeDocs(dir, all.filter(col("doc_id") % 3 =!= 0))
    }
  }

  test("the standing reads toggled") {
    // standing tables of the whole corpus, documents of two thirds: the
    // two reads disagree, so each toggle must change the rows
    val dir = corpus(all)
    Catalog.materializeGraph(spark, dir)
    writeDocs(dir, all.filter(col("doc_id") % 3 =!= 0))
    def toggled(on: Boolean): Seq[Row] =
      if (on) withStanding(dir)(pagerank(dir)) else pagerank(dir)
    Loops.resetMemo()
    val calls = Seq(false, true, false, true).map(on => on -> toggled(on))
    for (on <- Seq(false, true)) {
      Loops.resetMemo()
      val want = toggled(on)
      for ((o, got) <- calls if o == on)
        assert(got == want, s"standing reads $on: memoized rows differ from the memo-free plan")
    }
    assert(calls(0)._2 != calls(1)._2, "the toggle did not change the rows")
  }

  test("the reliable checkpoint directory set") {
    val ckpt = Files.createTempDirectory("graft_memo_ckpt").toString
    try assertTracks("reliable checkpoints", TestSpark.sf, changesRows = false) {
      spark.conf.set(Ckpt.ReliableDirConf, ckpt)
      assert(jobsDuring(Analytics.qPagerank(spark, TestSpark.sf)) > 0,
        "a conf change must miss the memo")
    } finally {
      spark.conf.unset(Ckpt.ReliableDirConf)
      Catalog.rmTree(new java.io.File(ckpt))
    }
  }

  /** How many times `onDriver` reads `e` through its cut. */
  private def cuts(e: DataFrame): Int = {
    var n = 0
    Loops.onDriver(e, d => { n += 1; d })(_.length)(_ => -1)
    n
  }

  /** A parquet (src, dst) list of `n` rows in a scratch directory. */
  private def pairList(n: Long, shift: Long = 0): String = {
    val path = s"${Files.createTempDirectory("graft_memo_list")}/e.parquet"
    spark.range(n).selectExpr("id AS src", s"id + $shift AS dst").write.parquet(path)
    path
  }

  test("an edge list over the bound is never memoized") {
    Loops.resetMemo()
    val e = spark.read.parquet(pairList(Loops.DriverMaxEdges + 1))
    assert(cuts(e) == 1)
    assert(Loops.memoRows == 0, "over the bound, rows were memoized")
    assert(cuts(e) == 1, "over the bound, the second call did not cut its list")
    val small = Analytics.edges(spark, TestSpark.sf)
    assert(cuts(small) == 1)
    assert(cuts(small) == 0, "within the bound, rows were not memoized")
    Loops.resetMemo()
  }

  test("a plan whose listing is stale memoizes the files it read, one version per plan") {
    Loops.resetMemo()
    val path = pairList(10)
    val stale = spark.read.parquet(path)
    spark.range(10, 20).selectExpr("id AS src", "id AS dst").write.mode("append").parquet(path)
    def rows(e: DataFrame): Int = Loops.onDriver(e)(_.length)(_ => -1)
    assert(rows(stale) == 10, "the stale plan read the appended files")
    assert(rows(spark.read.parquet(path)) == 20, "a fresh plan was served the stale plan's rows")
    assert(rows(stale) == 10, "the stale plan was served the fresh plan's rows")
    assert(Loops.memoRows == 10, "the memo holds more than the newest version of the plan")
  }

  test("a plan read through a checkpoint is never memoized") {
    Loops.resetMemo()
    val e = Analytics.edges(spark, TestSpark.sf).barrier()
    assert(cuts(e) == 1)
    assert(cuts(e) == 1, "a checkpoint-leaf plan was memoized")
    assert(Loops.memoRows == 0)
  }

  test("the memo holds at most DriverMaxEdges rows") {
    Loops.resetMemo()
    val n = Loops.DriverMaxEdges * 3 / 5
    val lists = Seq(0L, 1L).map(i => spark.read.parquet(pairList(n, i)))
    for (e <- lists) {
      assert(cuts(e) == 1)
      assert(Loops.memoRows <= Loops.DriverMaxEdges, s"memo holds ${Loops.memoRows} rows")
    }
    assert(Loops.memoRows == n, "the newest list is not the one held")
    assert(cuts(lists(1)) == 0, "the newest list was evicted")
    assert(cuts(lists(0)) == 1, "the least recently used list was kept")
    Loops.resetMemo()
  }
}
