package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, octet_length, sum}

import graft.operators.{Dedup, Similarity, TextPipeline}
import graft.sources.Catalog

/** One benchmark run: set up graft's standing tables from the generated
  * inputs, run one workload for a fixed window, check its outputs, and
  * print the result line. perfbench/README.md describes the workloads and
  * the metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --inputs DIR
  *             --work DIR [--trace-out FILE] [--summary-out FILE]
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      inputs: String, work: String, traceOut: Option[String], summaryOut: Option[String])

  val Workloads: Seq[String] = Seq("chat", "analytics")

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    Opts(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1", need("inputs"),
      need("work"), m.get("trace-out"), m.get("summary-out"))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", new File(opts.work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(opts.work, "local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("OFF")
    val status = try new Run(spark, opts, cores).apply() finally spark.stop()
    System.exit(status)
  }
}

final class Run(spark: SparkSession, opts: Main.Opts, cores: Int) {
  import Run._

  private val dir = new File(opts.work, "corpus").getAbsolutePath
  private val warehouse = new File(opts.work, "warehouse")
  private val tracer = new Tracer(spark, opts.trace)
  private val ledger = new Ledger
  private val calls = new Calls(spark, dir, tracer, ledger)
  private val inputs = new Inputs(spark, opts.inputs)
  private val summary = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private def now = System.nanoTime()
  private val born = now
  private def ms(t0: Long) = (now - t0) / 1e6

  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${ms(born) / 1000}%7.2f s] $msg")

  /** The latency of every measured request, and the window they ran in. */
  private final class Window {
    val latMs = ArrayBuffer.empty[Double]
    val start: Long = now
    var end = 0L
    def seconds: Double = (end - start) / 1e9
  }

  /** Requests closed-loop, one client: `request(i)` runs request i and
    * returns its latency in ms. Requests start until `--seconds` have
    * passed; the one under way then finishes and counts.
    */
  private def window(request: Int => Double): Window = {
    val w = new Window
    val end = w.start + opts.seconds * 1000000000L
    var i = 0
    while (now < end) {
      w.latMs += request(i)
      w.end = now
      i += 1
    }
    w
  }

  def apply(): Int = {
    val reps = (1 to SetupReps).map { r =>
      val t = tracer.span("setup", s"setup$r")(setupRep())
      log(f"set-up rep $r: $t%.0f ms")
      t
    }
    summary("setup_reps_ms") = reps
    standingReads(true)
    val w = opts.workload match {
      case "chat" => chat()
      case "analytics" => analytics()
    }
    log(s"window: ${w.latMs.size} requests in ${w.seconds} s")
    val (tail, pct) = Stats.tail(w.latMs.toSeq)
    summary("request_ms") = w.latMs.toSeq
    summary("request_tail_percentile") = pct
    summary("window_s") = w.seconds
    val metrics =
      if (opts.trace) layerMetrics(w)
      else Seq(
        "setup_s" -> (Stats.median(reps) / 1000, "s"),
        "stored_bytes_per_input_byte" -> (standingBytes.toDouble / inputBytes, "ratio"),
        "request_p50_ms" -> (Stats.median(w.latMs.toSeq), "ms"),
        "request_tail_ms" -> (tail, "ms"),
        "requests_per_s" -> (w.latMs.size / w.seconds, "1/s"),
        "retained_heap_mb" -> (retainedHeapMb(), "MB"))
    val failed = ledger.failed
    summary("failures") = failed
    opts.summaryOut.foreach(write(_, Json.value(summary.toMap) + "\n"))
    failed.foreach(f => System.err.println(s"FAILED $f"))
    println(Json.obj(
      "correct" -> failed.isEmpty,
      "attempted" -> ledger.attempted,
      "failed" -> failed.size,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap))
    0
  }

  private def write(path: String, s: String): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    Files.write(f.toPath, s.getBytes(UTF_8))
  }

  // ---------- set-up ----------

  /** One set-up rep in ms: load the corpus, build the standing graph
    * tables (chunks, mentions), the only standing tables both workloads read.
    */
  private def setupRep(): Double = {
    val t0 = now
    inputs.documents.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    inputs.embeddings.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    tracer.span("sources.materialize_graph")(Catalog.materializeGraph(spark, dir))
    ms(t0)
  }

  /** Points graft's reads at the standing tables (the MaterializedConf
    * switches), or back at the unmaterialized pipeline.
    */
  private def standingReads(on: Boolean): Unit =
    Seq(TextPipeline.MaterializedConf, Dedup.MaterializedConf, Similarity.MaterializedConf)
      .foreach(k => if (on) spark.conf.set(k, dir) else spark.conf.unset(k))

  private def withoutStanding[T](body: => T): T = {
    standingReads(false)
    try body finally standingReads(true)
  }

  /** A fixed number of warm-up rounds, so every run starts its window
    * after the same work (an adaptive stop moved the window's latency by
    * the JIT state it happened to stop at). The round times are recorded.
    */
  private def warmUp(rounds: Int)(round: Int => Double): Unit = {
    val times = (0 until rounds).map { r =>
      val t = round(r)
      log(f"warm-up round ${r + 1}: $t%.0f ms")
      t
    }
    summary("warmup_rounds_ms") = times
  }

  /** The kind of each traced request, by request id: a question's MATCH
    * shape, or an analytics call's name.
    */
  private val requestKind = scala.collection.concurrent.TrieMap.empty[String, String]

  // ---------- chat ----------

  private def render(answer: (Option[String], Seq[Option[Array[Row]]])): Seq[String] =
    answer._2.map(_.map(_.mkString("|")).getOrElse("failed"))

  private def chat(): Window = {
    val warm = inputs.warmup
    // warm-up round 1 answers a question without the standing tables (the
    // reference for the check), round 2 the same question with them; the
    // seed picks the question, so ten seeds check every MATCH shape
    val q = warm((opts.seed % Serving.Shapes.size).toInt)
    var reference = Seq.empty[String]
    warmUp(2) { r =>
      val t0 = now
      if (r == 0) reference = render(withoutStanding(Serving.ask(calls, q, "ref")))
      else {
        val answer = render(Serving.ask(calls, q, s"w$r"))
        ledger.verify(s"chat answers (${q.shape}) with and without standing tables")(
          if (answer == reference) None
          else Some(s"differ: ${answer.zip(reference).find(p => p._1 != p._2)}"))
      }
      ms(t0)
    }
    val stream = inputs.stream
    val w = window { i =>
      val q = stream(i % stream.size)
      val qid = s"q$i"
      if (opts.trace) requestKind.put(qid, q.shape)
      val t0 = now
      val (text, _) = tracer.span("question", qid)(Serving.ask(calls, q, qid))
      val t = ms(t0)
      if (opts.trace) {
        text.foreach(calls.parse(qid, _))
        calls.vectorTopk(qid)
      }
      t
    }
    if (opts.trace) {
      // the per-shape layer figures need every shape once: top up after the window
      val seen = requestKind.values.toSet
      Serving.Shapes.filterNot(seen).foreach { s =>
        val q = warm.find(_.shape == s).get
        requestKind.put(s"sweep-$s", s)
        tracer.span("question", s"sweep-$s")(Serving.ask(calls, q, s"sweep-$s"))
      }
    }
    w
  }

  // ---------- analytics ----------

  /** One analytics call; returns the digest of its rows. */
  private def analyticsCall(kind: String, qid: String, pair: Pair): String = {
    def path(hops: Int, ret: String) = calls.cypher("path", qid,
      s"MATCH p = shortestPath((a:Entity {name:'${pair.src}'})-[:CO_OCCURS*1..$hops]-" +
        s"(b:Entity {name:'${pair.dst}'})) RETURN $ret")(Checks.atMost(_, 1))
    val rows = kind match {
      case "shortestPath" => path(4, "length(p) AS len")
      case "wshortestPath" => path(6, "wlength(p) AS wcost")
      case a => calls.analysis(a, qid)(Checks.between(_, 1, Int.MaxValue))
    }
    rows.map(Checks.digest).getOrElse("failed")
  }

  /** One analytics call is one request. The calls run in the fixed order
    * of `AnalyticsCalls`, cycling; the path forms take the seeded endpoint
    * pairs in turn.
    */
  private def analytics(): Window = {
    val pairs = inputs.pairs
    // warm-up rounds of q_pagerank and shortestPath; the first round runs
    // without the standing tables and is the reference for the check
    var reference = Seq.empty[String]
    warmUp(3) { r =>
      val t0 = now
      val round = () => WarmCalls.map(k => analyticsCall(k, s"w$r", pairs.head))
      if (r == 0) reference = withoutStanding(round()) else round()
      ms(t0)
    }
    // each call's digest, on the first pair, from its first run in the window
    val digests = scala.collection.mutable.Map.empty[String, String]
    val callMs = AnalyticsCalls.map(_ -> ArrayBuffer.empty[Double]).toMap
    def timed(k: String, qid: String, pair: Pair): Double = {
      requestKind.put(qid, k)
      val t0 = now
      val d = tracer.span("analysis", qid)(analyticsCall(k, qid, pair))
      val t = ms(t0)
      if (!digests.contains(k)) digests(k) = d
      callMs(k) += t
      t
    }
    val w = window { i =>
      val n = AnalyticsCalls.size
      timed(AnalyticsCalls(i % n), s"a$i", pairs((i / n) % pairs.size))
    }
    // the calls the window did not reach run once after it, so every call
    // has a time (the whole pass) and, in a traced run, its layer figures
    AnalyticsCalls.filterNot(digests.contains).foreach(k => timed(k, s"sweep-$k", pairs.head))
    summary("call_ms") = callMs.map { case (k, ts) => k -> ts.toSeq }
    summary("analytics_pass_s") = AnalyticsCalls.map(k => Stats.median(callMs(k).toSeq)).sum / 1000
    // an untraced run checks the warm-up calls; a traced run, which is not
    // held to the run budget, checks every call
    val checked = if (opts.trace) AnalyticsCalls else WarmCalls
    val expected = WarmCalls.zip(reference).toMap ++ tracer.untraced(withoutStanding(
      checked.filterNot(WarmCalls.contains).map(k => k -> analyticsCall(k, "check", pairs.head))))
    checked.foreach { k =>
      ledger.verify(s"$k with and without standing tables")(
        if (digests(k) == expected(k)) None
        else Some(s"digest ${digests(k)} differs from unmaterialized ${expected(k)}"))
    }
    w
  }

  // ---------- run-end measurements ----------

  /** Heap in use once collection stops freeing anything: Spark's
    * ContextCleaner drops a collected frame's blocks only after the GC
    * that found it, so one GC is not enough.
    */
  private def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    def used() = { System.gc(); Thread.sleep(200); rt.totalMemory - rt.freeMemory }
    var (before, after, rounds) = (Long.MaxValue, used(), 1)
    while (before - after > (1L << 20) && rounds < 10) {
      before = after
      after = used()
      rounds += 1
    }
    summary("heap_gc_rounds") = rounds
    after / (1024.0 * 1024.0)
  }

  private def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
    else Seq(f)

  private def standingFiles: Seq[File] = Standing.flatMap(t => files(new File(warehouse, t)))

  private def standingBytes: Long = standingFiles.map(_.length).sum

  /** Raw bytes the standing graph tables index: the corpus text, UTF-8. */
  private def inputBytes: Long =
    inputs.documents.agg(sum(octet_length(col("text")))).first().getLong(0)

  // ---------- traced run ----------

  /** The per-layer figures of a traced run. Every layer the workload
    * calls is broken down in the summary file (per Cypher call kind, per
    * analysis); the result line carries the layer figures both workloads
    * exercise, and none that reads 0 on them.
    */
  private def layerMetrics(w: Window): Seq[(String, (Double, String))] = {
    val tv = tracer.finish()
    opts.traceOut.foreach(write(_, tv.jsonl))
    val detail = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    // spans from the window on (the window and the traced run's top-up);
    // set-up spans are read by name
    def measured(name: String) = tv.named(name).filter(_.startNs >= w.start)
    def part(s: Span, p: String) = tv.childNamed(s, p)
    def jobs(s: Option[Span]) = s.map(tv.counts(_).jobs.toDouble).getOrElse(0.0)
    val cypherStats = Seq[(String, Span => Double)](
      "build_ms" -> (s => part(s, "build").map(_.ms).getOrElse(0.0)),
      "action_ms" -> (s => part(s, "action").map(_.ms).getOrElse(0.0)),
      "jobs_build" -> (s => jobs(part(s, "build"))),
      "jobs_action" -> (s => jobs(part(s, "action"))),
      "plan_ms" -> (s => if (s.planMs.isNaN) 0.0 else s.planMs))

    // cypher, per call kind: a MATCH figure averages the per-shape
    // medians, so the mix of shapes in a run does not move it
    val kinds = Seq("fulltext", "match", "path", "vector", "hybrid")
      .map(k => k -> measured(s"cypher.$k")).filter(_._2.nonEmpty)
    def groups(k: String, spans: Seq[Span]) =
      if (k == "match") spans.groupBy(s => requestKind.get(s.qid)).values.toSeq else Seq(spans)
    for ((k, spans) <- kinds; (stat, f) <- cypherStats)
      detail(s"cypher.$k.$stat") = groups(k, spans).map(g => med(g.map(f))).sum / groups(k, spans).size
    val parses = measured("cypher.parse")
    if (parses.nonEmpty) detail("cypher.parse_ms") = med(parses.map(_.ms))
    val topk = measured("operators.vector_topk")
    if (topk.nonEmpty) {
      detail("operators.vector_topk_ms") = med(topk.map(_.ms))
      detail("operators.vector_topk_jobs") = med(topk.map(s => jobs(Some(s))))
    }
    for (a <- Analyses; spans = measured(s"graph.$a") if spans.nonEmpty) {
      detail(s"graph.$a.ms") = med(spans.map(_.ms))
      detail(s"graph.$a.jobs") = med(spans.map(s => jobs(Some(s))))
      detail(s"graph.$a.jobs_build") = med(spans.map(s => jobs(part(s, "build"))))
      detail(s"graph.$a.task_cpu_ms") = med(spans.map(tv.counts(_).cpuMs))
    }
    val builds = tv.named("sources.materialize_graph")
    val bc = builds.map(tv.counts)
    detail("sources.materialize_graph_ms") = med(builds.map(_.ms))
    detail("sources.materialize_graph.jobs") = med(bc.map(_.jobs.toDouble))
    detail("sources.materialize_graph.bytes_written") = med(bc.map(_.bytesWritten.toDouble))
    detail("sources.materialize_graph.shuffle_write_bytes") = med(bc.map(_.shuffleWrite.toDouble))
    detail("sources.standing_files") = standingFiles.size.toDouble

    // spark: every job of the window's requests, engine-wide
    val requests = Seq("question", "analysis").flatMap(measured)
    val roots = requests.filter(_.endNs <= w.end)
    val c = roots.map(tv.counts).foldLeft(Counts())(_ + _)
    val perJob = math.max(1, c.jobs).toDouble
    val perRequest = math.max(1, roots.size).toDouble
    detail("spark.job_wait_ms") = c.waitMs / perJob
    detail("spark.core_busy_ratio") = c.taskMs / (w.seconds * 1000.0 * cores)
    detail("spark.tasks_per_job") = c.tasks / perJob
    detail("spark.gc_ms") = c.gcMs / perRequest
    detail("spark.shuffle_read_bytes") = c.shuffleRead / perRequest
    detail("spark.spill_bytes") = c.spill / perRequest
    summary("spark_by_request_kind") = roots.groupBy(_.name).map { case (k, ss) =>
      val cc = ss.map(tv.counts).foldLeft(Counts())(_ + _)
      k -> Map("requests" -> ss.size, "jobs" -> cc.jobs, "tasks" -> cc.tasks,
        "task_ms" -> cc.taskMs, "task_cpu_ms" -> cc.cpuMs, "job_wait_ms" -> cc.waitMs,
        "gc_ms" -> cc.gcMs, "shuffle_read_bytes" -> cc.shuffleRead, "spill_bytes" -> cc.spill)
    }
    // a request's own figures, per request kind (MATCH shape or analytics
    // call, every kind present thanks to the top-up) and averaged over the
    // kinds, so the mix the window reached does not move them; the job
    // count is the one to compare run to run
    val byKind = requests.groupBy(r => requestKind.getOrElse(r.qid, r.name)).values.toSeq
    def perKind(f: Span => Double) = byKind.map(g => med(g.map(f))).sum / math.max(1, byKind.size)
    detail("request.jobs") = perKind(tv.counts(_).jobs.toDouble)
    detail("request.task_cpu_ms") = perKind(tv.counts(_).cpuMs)
    // tracing itself: how much of a request its calls cover, and the traced
    // request latency (against untraced runs of the same seed: the overhead)
    detail("trace.request_coverage") =
      if (requests.isEmpty) 0.0 else requests.map(r => tv.coveredMs(r) / r.ms).min
    detail("trace.request_p50_ms") = Stats.median(w.latMs.toSeq)
    summary("layers") = detail.toMap
    detail.foreach { case (k, v) => System.err.println(f"layer $k%-48s $v%.3f") }

    // the result line: each layer averaged over the call kinds the workload ran
    def across(stat: String) = kinds.map { case (k, _) => detail(s"cypher.$k.$stat") }.sum /
      math.max(1, kinds.size)
    Seq(
      "cypher.build_ms" -> (across("build_ms"), "ms"),
      "cypher.action_ms" -> (across("action_ms"), "ms"),
      "cypher.plan_ms" -> (across("plan_ms"), "ms"),
      "cypher.jobs_build" -> (across("jobs_build"), "count"),
      "cypher.jobs_action" -> (across("jobs_action"), "count"),
      "sources.materialize_graph_ms" -> (detail("sources.materialize_graph_ms"), "ms"),
      "sources.materialize_graph.jobs" -> (detail("sources.materialize_graph.jobs"), "count"),
      "sources.materialize_graph.bytes_written" ->
        (detail("sources.materialize_graph.bytes_written"), "bytes"),
      "sources.materialize_graph.shuffle_write_bytes" ->
        (detail("sources.materialize_graph.shuffle_write_bytes"), "bytes"),
      "sources.standing_files" -> (detail("sources.standing_files"), "count"),
      "spark.job_wait_ms" -> (detail("spark.job_wait_ms"), "ms"),
      "spark.core_busy_ratio" -> (detail("spark.core_busy_ratio"), "ratio"),
      "spark.tasks_per_job" -> (detail("spark.tasks_per_job"), "count"),
      "spark.gc_ms" -> (detail("spark.gc_ms"), "ms"),
      "spark.shuffle_read_bytes" -> (detail("spark.shuffle_read_bytes"), "bytes"),
      "request.jobs" -> (detail("request.jobs"), "count"),
      "request.task_cpu_ms" -> (detail("request.task_cpu_ms"), "ms"),
      "trace.request_coverage" -> (detail("trace.request_coverage"), "ratio"),
      "trace.request_p50_ms" -> (detail("trace.request_p50_ms"), "ms"))
  }
}

object Run {
  val SetupReps = 5
  val Analyses: Seq[String] = Seq("q_pagerank", "q_katz", "q_ppr", "q_components",
    "q_lpa_communities", "q_louvain")
  /** The analytics calls in window order: q_louvain, the slowest, first,
    * so every window holds it; the path forms sit between the analyses.
    */
  val AnalyticsCalls: Seq[String] = Seq("q_louvain", "q_pagerank", "shortestPath", "q_katz",
    "q_components", "wshortestPath", "q_lpa_communities", "q_ppr")
  val WarmCalls: Seq[String] = Seq("q_pagerank", "shortestPath")
  /** The standing graph tables. */
  val Standing: Seq[String] = Seq("graft_chunks", "graft_mentions")
}
