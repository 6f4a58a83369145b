package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (single forked JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events.parquet is TIMESTAMP(NANOS)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs (listener bus drained before
    * and after, so no earlier job is counted and no late event lost).
    */
  def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.MemoryRelease.drainListeners(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.graft.MemoryRelease.drainListeners(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }

  /** Lowercase-hex md5 — the shared replay of Spark/DuckDB `md5()`
    * used by specs that re-derive hash-ordered seeds or register
    * layouts (one definition, so a hashing-discipline change cannot
    * leave one cross-check testing a stale derivation).
    */
  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Driver-side replay of qAnf's sampled-pivot BFS: md5-ordered seed
    * pick + per-hop ball-union pair sums over a collected edge list —
    * ONE definition shared by OperatorsSpec and PropertySpec, so a
    * change to the pivot ordering or hop discipline cannot leave one
    * cross-check silently testing a stale derivation.
    */
  def anfBfsReplay(edges: Seq[(String, String)], seedCap: Int,
      hops: Int): Vector[Long] = {
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    val seeds = edges.map(_._1).distinct
      .sortBy(n => (md5hex(n), n)).take(seedCap)
    var balls = seeds.map(s => s -> Set(s)).toMap
    var out = Vector(balls.values.map(_.size.toLong).sum)
    for (_ <- 1 to hops) {
      balls = balls.map { case (r, b) =>
        r -> (b ++ b.flatMap(adj.getOrElse(_, Set.empty)))
      }
      out :+= balls.values.map(_.size.toLong).sum
    }
    out
  }
}
