package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events.parquet is TIMESTAMP(NANOS)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Per-query timeout guard: one hung query must not zero the whole
    // round. On timeout the query's job group is cancelled and the
    // remaining queries still run.
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "600").toLong
    // Local-iteration filter: SPARK_GRAFT_ONLY=q_a,q_b runs a subset.
    // The driver never sets it, so gate runs always cover everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // Cheap schema pre-flight of the BASE TABLES (footer reads only):
    // driver-side regeneration drift (round 5: events.ts became
    // timestamp[us]) should fail loudly up front with a named table,
    // not surface as N cryptic per-query analysis errors.
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")) {
      try {
        val df = if (t == "events") Tables.events(spark, sfDir)
          else Tables.table(spark, sfDir, t)
        df.schema // force analysis
      } catch {
        case e: Throwable =>
          System.err.println(s"[verify] PRE-FLIGHT: table $t unreadable: ${e.getMessage}")
      }
    }
    def marker(name: String, msg: String): Unit = writeMarker(outDir, name, msg)
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // same deterministic checkpoint release as Bench: localCheckpoint
    // blocks from earlier queries otherwise pile up across ~120
    // queries (the ContextCleaner only frees them after GC)
    for (((name, fn), i) <- selected.zipWithIndex) {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      // Stage-then-rename: cancelJobGroup is ASYNCHRONOUS, so a
      // timed-out query's write could otherwise commit parquet into
      // the final dir AFTER the _ERROR marker lands there and read as
      // green. The future writes ONLY to the stage dir; publication
      // (rmRec(dst) + rename) happens on the MAIN thread, strictly
      // after Await.result succeeds — a late stage commit from a
      // cancelled job strands in .stage_* and can never replace the
      // _ERROR marker the main thread wrote.
      val stage = new java.io.File(s"$outDir/.stage_$name")
      def rmRec(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rmRec)); x.delete(): Unit
      }
      rmRec(stage)
      val f = Future {
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(stage.getPath)
        finally spark.sparkContext.clearJobGroup()
      }
      try {
        Await.result(f, timeoutSec.seconds)
        val dst = new java.io.File(s"$outDir/$name")
        rmRec(dst)
        if (!stage.renameTo(dst))
          throw new IllegalStateException(s"publish failed for $name")
      }
      catch {
        case _: java.util.concurrent.TimeoutException =>
          spark.sparkContext.cancelJobGroup(name)
          System.err.println(s"[verify] $name TIMED OUT after ${timeoutSec}s")
          failures += name
          marker(name, s"TIMEOUT after ${timeoutSec}s")
          // a deadlocked scheduler hangs every later key too: stop here
          deadlockExit(outDir, name, selected.drop(i + 1).map(_._1), () => deadlockReport())
            .foreach { code =>
              writeOracleSql(outDir)
              System.err.flush()
              // halt, not exit: the shutdown hook's SparkContext.stop
              // would wait on the deadlocked scheduler
              Runtime.getRuntime.halt(code)
            }
        case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failures += name
          marker(name, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
      }
    }
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: ${failures.mkString(", ")}")
    writeOracleSql(outDir)
    spark.stop()
  }

  /** A failed key's output dir gets an _ERROR marker file: the
    * oracle compare's parquet read of that dir then fails and records
    * a RED row for the key — writing nothing makes the key vanish from
    * the correctness file entirely (absence read as "not declared",
    * 152 -> 143 keys silently).
    */
  private[graft] def writeMarker(outDir: String, name: String, msg: String): Unit =
    try {
      new java.io.File(s"$outDir/$name").mkdirs()
      Files.writeString(Paths.get(s"$outDir/$name/_ERROR"), msg)
    } catch { case _: Throwable => () }

  /** Exit status of a run stopped by a deadlocked scheduler. */
  private[graft] val DeadlockExit = 3

  /** After `key` timed out: when `detect` reports a Java-level deadlock
    * (the Spark scheduler stuck on a lock cycle, which no job-group
    * cancel can free, so every later key would hang as well), print
    * the cycle, mark every key in `remaining` as not run and return
    * the exit status. None when no thread is deadlocked: the key was
    * only slow, and the remaining keys still run.
    */
  private[graft] def deadlockExit(outDir: String, key: String, remaining: Seq[String],
      detect: () => Option[String]): Option[Int] =
    detect().map { cycle =>
      System.err.println(s"[verify] scheduler deadlocked during $key; " +
        s"${remaining.size} keys not run. Deadlocked threads:\n$cycle")
      remaining.foreach(writeMarker(outDir, _, s"not run: scheduler deadlocked during $key"))
      DeadlockExit
    }

  /** The JVM's deadlocked threads, each with the lock it waits for and
    * its holder, its top frames and the locks it holds; None when no
    * thread is deadlocked.
    */
  private[graft] def deadlockReport(): Option[String] = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    Option(mx.findDeadlockedThreads()).map(ids =>
      mx.getThreadInfo(ids, true, true).filter(_ != null).map(_.toString).mkString("\n"))
  }

  /** oracle_sql.json: every key's DuckDB oracle SQL, for the compare. */
  private def writeOracleSql(outDir: String): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
