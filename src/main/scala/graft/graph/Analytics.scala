package graft.graph

import scala.collection.mutable

import graft.Ckpt.BarrierOps
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextPipeline

/** Graph analytics over the entity co-occurrence graph — the "GraphX
  * for analytics, bulk queries" half of the north star. Each loop
  * query builds and barriers its edge list, then runs one of two plans
  * (`Loops.Plans`), picked by the edge list's size:
  *
  *  - within `Loops.DriverMaxEdges` rows, one job collects the edge
  *    list and every pre-pass (degrees, node count, Katz's divisor,
  *    LPA's seeds) and every round runs on the driver; the result is a
  *    local relation the query's final projection and ordering read.
  *    A distributed round costs several Spark jobs of 20–35 ms for a
  *    few thousand rows of work, so this is what a news-sized entity
  *    graph runs.
  *  - above it, DataFrame iteration (Pregel-style power iteration)
  *    rather than RDD GraphX: each step is a shuffle-on-src join the
  *    optimizer can plan, AQE can re-balance, and the oracle can
  *    replay. A `Ckpt.barrier` every few rounds truncates lineage so
  *    10 iterations don't stack 10 plans. A barrier does not keep
  *    partitioning: the checkpointed edges report UnknownPartitioning,
  *    so each barrier segment exchanges them on the join key again
  *    (one edge-sized shuffle per segment, not one per query).
  *
  * Both plans compute the same rows (DriverLoopsSpec), so the
  * unrolled-CTE oracles never see which one ran. Entity-graph edges
  * never carry a NULL endpoint (`collect_set` drops NULL names), which
  * the driver plans rely on.
  */
object Analytics {

  val PrIters = 10
  val Damping = 0.85
  val CcIters = 8

  /** Skew cap: chunks carrying more than this many distinct entities
    * are dropped from pairing — the quadratic fan-out guard (a single
    * pathological chunk with 10k entities would emit 50M pairs).
    */
  val MaxEntitiesPerChunk = 20

  /** Undirected co-occurrence edges: entities sharing a chunk.
    * weight = number of chunks where the pair co-occurs.
    *
    * Single-pass shape: distinct entity names are collected per chunk
    * (ONE shuffle over the mentions pipeline), the i<j pairs are
    * generated per row with nested HOFs (bounded by the skew cap), and
    * one groupBy counts them — the self-join formulation re-executed
    * the mentions pipeline four times.
    */
  def cooccur(spark: SparkSession, dir: String): DataFrame =
    chunkPairs(TextPipeline.mentions(spark, dir))
      .groupBy("e1", "e2")
      .agg(count(lit(1)).as("weight"))

  /** The per-chunk i<j entity-pair generator shared by cooccur (full
    * corpus) and edgesOf (doc batch) — ONE definition, so the
    * incremental ANF edge set can never silently diverge from the
    * rebuild's pairing rule (skew cap, sort/distinct discipline).
    */
  private def chunkPairs(ments: DataFrame): DataFrame =
    ments
      .groupBy("doc_id", "chunk_id")
      .agg(array_sort(collect_set(col("name"))).as("ents"))
      .filter(size(col("ents")) >= 2 && size(col("ents")) <= MaxEntitiesPerChunk)
      .select(explode(flatten(transform(col("ents"),
        (x, i) => transform(
          slice(col("ents"), i + 2, size(col("ents"))),
          y => struct(x.as("e1"), y.as("e2")))))).as("p"))
      .select(col("p.e1"), col("p.e2"))

  val CooccurSql: String =
    s"""${TextPipeline.MentionsSql},
       |m0 AS MATERIALIZED (SELECT DISTINCT doc_id, chunk_id, name FROM mentions),
       |m AS MATERIALIZED (
       |  SELECT m0.* FROM m0 JOIN (
       |    SELECT doc_id, chunk_id FROM m0 GROUP BY doc_id, chunk_id
       |    HAVING count(*) <= $MaxEntitiesPerChunk) s
       |  USING (doc_id, chunk_id)),
       |cooccur AS MATERIALIZED (
       |  SELECT a.name AS e1, b.name AS e2, count(*) AS weight
       |  FROM m a JOIN m b
       |    ON a.doc_id = b.doc_id AND a.chunk_id = b.chunk_id AND a.name < b.name
       |  GROUP BY a.name, b.name),
       |edges AS MATERIALIZED (
       |  SELECT e1 AS src, e2 AS dst, weight FROM cooccur
       |  UNION ALL SELECT e2, e1, weight FROM cooccur),
       |deg AS MATERIALIZED (SELECT src, count(*) AS d, CAST(sum(weight) AS BIGINT) AS wd
       |  FROM edges GROUP BY src),
       |nn AS (SELECT count(*) AS c FROM deg)""".stripMargin

  /** Both-direction co-occurrence edges of a DOC BATCH only — the
    * per-doc-pure half of cooccur() (pairs never cross documents, so
    * a batch's edges are computable without the standing corpus).
    * Weights are irrelevant to reachability, so this emits distinct
    * unweighted (src, dst) — the input shape of the incremental ANF
    * path (Catalog.mergeAnfDocs).
    */
  private[graft] def edgesOf(docs: DataFrame): DataFrame = {
    val pairs = chunkPairs(TextPipeline.mentionsOf(docs))
      .select(col("e1").as("src"), col("e2").as("dst"))
    pairs
      .unionByName(pairs.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** Both-direction edge list (src, dst, weight). */
  def edges(spark: SparkSession, dir: String): DataFrame = {
    val co = cooccur(spark, dir)
    co.select(col("e1").as("src"), col("e2").as("dst"), col("weight"))
      .unionByName(co.select(col("e2").as("src"), col("e1").as("dst"), col("weight")))
  }

  def qCooccur(spark: SparkSession, dir: String): DataFrame =
    cooccur(spark, dir).orderBy("e1", "e2")

  /** Degree-distribution histogram on log2 buckets — the graph health
    * profile (heavy-tail check, the graph twin of q_zipf_fit): per
    * bucket floor(log2(degree)), node count and the degree range. A
    * |buckets|-row result from one map-side-combined aggregate over
    * the degree table — the shape that still fits on a screen when
    * the graph has a billion nodes, and the first thing to look at
    * before running anything iterative on an unknown graph (a
    * max-degree hub dictates whether PageRank/LPA need salting).
    */
  def qDegreeDist(spark: SparkSession, dir: String): DataFrame =
    edges(spark, dir)
      .groupBy("src").agg(count(lit(1)).as("degree"))
      .withColumn("bucket", floor(log2(col("degree"))).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_nodes"),
        min("degree").as("min_deg"), max("degree").as("max_deg"))
      .orderBy("bucket")

  val PmiMinWeight = 2
  val PmiTopN = 50

  /** PMI-scored co-occurrence: pointwise mutual information
    * ln(P(e1,e2) / (P(e1)·P(e2))) over chunk-level co-mentions —
    * the association strength behind "related entities" panels, where
    * raw co-occurrence counts just surface the two most frequent
    * entities. Pairs seen once are noise-floored out (weight ≥ 2);
    * top-PmiTopN by score via TakeOrdered.
    *
    * Scale shape: ONE materialized pass over the mentions pipeline
    * feeds all three aggregates (chunk total, per-entity chunk
    * counts, pair counts); the entity-count table is gazetteer-
    * bounded and broadcast into the pair join, so the only cluster
    * exchange is the pair groupBy that qCooccur already pays.
    */
  def qPmiCooccur(spark: SparkSession, dir: String): DataFrame = {
    val chunkEnts = TextPipeline.mentions(spark, dir)
      .groupBy("doc_id", "chunk_id")
      .agg(array_sort(collect_set(col("name"))).as("ents"))
      .filter(size(col("ents")) <= MaxEntitiesPerChunk)
      .barrier(false) // read 3×: total, entity counts, pairs
    // the chunk total folds in as a broadcast 1-row aggregate (house
    // discipline: no extra driver action, no scalar folded into the plan)
    val tot = chunkEnts.agg(count(lit(1)).as("t_chunks"))
    val cnt = chunkEnts.select(explode(col("ents")).as("name"))
      .groupBy("name").agg(count(lit(1)).as("c"))
    val pairs = chunkEnts.filter(size(col("ents")) >= 2)
      .select(explode(flatten(transform(col("ents"),
        (x, i) => transform(
          slice(col("ents"), i + 2, size(col("ents"))),
          y => struct(x.as("e1"), y.as("e2")))))).as("p"))
      .select(col("p.e1"), col("p.e2"))
      .groupBy("e1", "e2")
      .agg(count(lit(1)).as("weight"))
      .filter(col("weight") >= PmiMinWeight)
    pairs
      .join(broadcast(cnt.select(col("name").as("e1"), col("c").as("c1"))), "e1")
      .join(broadcast(cnt.select(col("name").as("e2"), col("c").as("c2"))), "e2")
      .crossJoin(broadcast(tot))
      .withColumn("pmi", round(log(
        (col("weight") * col("t_chunks")).cast("double") /
          (col("c1") * col("c2")).cast("double")), 6))
      .select("e1", "e2", "weight", "c1", "c2", "pmi")
      .orderBy(col("pmi").desc, col("e1"), col("e2"))
      .limit(PmiTopN)
  }

  def qEntityDegree(spark: SparkSession, dir: String): DataFrame =
    edges(spark, dir)
      .groupBy(col("src").as("name"))
      .agg(count(lit(1)).as("degree"), sum(col("weight")).cast("long").as("wdegree"))
      .orderBy(col("degree").desc, col("name"))

  /** PageRank by power iteration (fixed PrIters, damping 0.85),
    * uniform weights, undirected graph restricted to degree ≥ 1 nodes
    * (no dangling mass).
    */
  def qPagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankRanks(edges(spark, dir).select("src", "dst").barrier())
      .select(col("node").as("name"), round(col("rank"), 6).as("pagerank"))
      .orderBy(col("pagerank").desc, col("name"))

  /** (node, rank) over a barriered (src, dst) edge list. */
  private[graft] val pagerankRanks = Loops.Plans(
    local = (spark, rows) => {
      val es = Loops.pairs(rows)
      val d = es.groupMapReduce(_._1)(_ => 1L)(_ + _)
      val n = d.size.toLong
      rankFrame(spark, Loops.powerIterateLocal(es, d.keys, _ => 1.0 / n,
        (r, i) => r / d(es(i)._1).toDouble, _ => (1.0 - Damping) / n, Damping, PrIters))
    },
    distributed = e => {
      val deg = e.groupBy("src").agg(count(lit(1)).as("d")).barrier()
      val n = deg.count()
      Loops.powerIterate(
        deg.select(col("src").as("node"), lit(1.0 / n).as("rank")), e, deg,
        share = col("rank") / col("d"), teleport = lit((1.0 - Damping) / n),
        damping = Damping, rounds = PrIters, every = 3, eager = true)
    })

  /** A driver plan's rows as a local relation in one partition: the
    * query's final ordering and aggregates then need no exchange, so
    * its collect is one job instead of a range-sampling job, a map
    * stage and the result stage.
    */
  private def driverFrame(spark: SparkSession, ddl: String, rows: Iterable[Row]): DataFrame =
    Loops.frame(spark, ddl, rows).coalesce(1)

  /** A driver-side (node, rank) table as the frame powerIterate returns. */
  private def rankFrame(spark: SparkSession, pr: Map[String, Double]): DataFrame =
    driverFrame(spark, "node STRING, rank DOUBLE", pr.map { case (n, r) => Row(n, r) })

  val KatzIters = 4
  /** FLOOR of the attenuation divisor — the effective divisor is
    * data-derived (see qKatz): kd = max(KatzDiv, max weighted degree).
    */
  val KatzDiv = 10L

  /** Katz centrality (Katz 1953) — the walk-counting centrality that
    * credits a node for ALL weighted walks reaching it, attenuated by
    * length: x_t = 1 + α·AᵀW·x_{t-1}, fixed KatzIters rounds. Unlike
    * PageRank there is no degree normalization, so a node connected
    * to well-connected hubs scores high even with few edges — the
    * "influence by association" view that complements pagerank's
    * mass-conservation view and HITS' hub/authority split.
    *
    * α is DATA-DERIVED: α = 1/kd with kd = max(KatzDiv, max weighted
    * degree W_max). Katz requires α < 1/λ_max for convergence, and
    * λ_max ≤ W_max for a nonnegative adjacency, so a FIXED α on a
    * data-dependent spectral radius diverges by construction — the
    * round-7 fixed α = 0.1 overflowed BIGINT at sf0.1, where hub
    * weighted degrees are ~10× the gate SF's. kd is a one-pass
    * pre-aggregate both engines derive from the same edge table, so
    * the oracle stays bit-exact.
    *
    * Exactness + growth bound: scores live on an integer micro-grid
    * (x·10⁶ as BIGINT); each round is s = 10⁶ + (Σ s_in·w) div kd —
    * ONE floor per node per round over an exact integer sum. With
    * kd ≥ W_max, (Σ s_in·w) div kd ≤ max(s_in)·W_in/kd ≤ max(s_in),
    * so by induction s_t ≤ (t+1)·10⁶ — LINEAR in rounds, never
    * geometric; the largest intermediate is Σ s_in·w ≤
    * KatzIters·10⁶·kd, inside BIGINT for any kd < 2·10¹² (guarded —
    * beyond that the weights themselves need re-scaling).
    *
    * Scale shape per round: one equi-join of the score table against
    * the pre-checkpointed edge list + a map-side-combined integer
    * rollup to one row per node — identical to the PageRank loop,
    * lineage truncated per round; the kd pre-pass is one
    * map-side-combined rollup + 1-row action (the HITS-normalizer
    * driver-scalar pattern).
    */
  def qKatz(spark: SparkSession, dir: String): DataFrame =
    katzScores(edges(spark, dir).barrier(false))
      .select(col("node").as("name"), round(col("s") / lit(1e6), 6).as("katz"))
      .orderBy(col("katz").desc, col("name"))

  /** kd = max(KatzDiv, the max weighted degree), guarded for BIGINT. */
  private def katzDivisor(maxWd: Long): Long = {
    val kd = math.max(KatzDiv, maxWd)
    require(kd < 2000000000000L,
      s"q_katz: max weighted degree $kd leaves no BIGINT headroom " +
        s"(need kd·${KatzIters}e6 < 2^63); re-scale edge weights first")
    kd
  }

  /** (node, s) on the 10⁶ grid over a barriered (src, dst, weight)
    * edge list.
    */
  private[graft] val katzScores = Loops.Plans(
    local = (spark, rows) => {
      val es = Loops.triples(rows)
      val wd = es.groupMapReduce(_._1)(_._3)(_ + _)
      val kd = katzDivisor(if (wd.isEmpty) 0L else wd.values.max)
      var x = wd.map { case (n, _) => n -> 1000000L }
      for (_ <- 1 to KatzIters) {
        val acc = mutable.HashMap.empty[String, Long]
        for ((s, d, w) <- es; v <- x.get(s)) acc(d) = acc.getOrElse(d, 0L) + v * w
        x = x.map { case (n, _) => n -> (1000000L + acc.get(n).fold(0L)(_ / kd)) }
      }
      driverFrame(spark, "node STRING, s BIGINT", x.map { case (n, v) => Row(n, v) })
    },
    distributed = e => {
      val maxWd = Option(
        e.groupBy("src").agg(sum("weight").cast("long").as("wd"))
          .agg(max(col("wd"))).first().getAs[java.lang.Long](0))
        .fold(0L)(_.longValue())
      val kd = katzDivisor(maxWd)
      val x0 = e.select(col("src").as("node")).distinct()
        .withColumn("s", lit(1000000L))
      Loops.iterate(x0, KatzIters, every = 2, eager = true) { x =>
        val inc = x.select(col("node").as("src"), col("s"))
          .join(e, "src")
          .groupBy("dst")
          .agg(expr(s"sum(s * weight) div $kd").as("v"))
          .select(col("dst").as("node"), col("v"))
        x.select("node")
          .join(inc, Seq("node"), "left")
          .select(col("node"),
            (lit(1000000L) + coalesce(col("v"), lit(0L))).as("s"))
      }
    })

  /** The same rounds unrolled as CTEs — identical integer floors,
    * identical data-derived divisor (kdv replays the Scala pre-pass
    * off the same deg table).
    */
  private def katzSql: String = {
    val iters = (1 to KatzIters).map { i =>
      val prev = s"k${i - 1}"
      s"""k$i AS MATERIALIZED (
         |  SELECT d.src AS node,
         |    CAST(1000000 + coalesce(inc.v, 0) AS BIGINT) AS s
         |  FROM deg d LEFT JOIN (
         |    SELECT e.dst, CAST(sum(p.s * e.weight) // (SELECT kd FROM kdv) AS BIGINT) AS v
         |    FROM $prev p JOIN edges e ON p.node = e.src
         |    GROUP BY e.dst) inc ON inc.dst = d.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH $CooccurSql,
       |kdv AS (SELECT greatest($KatzDiv, max(wd)) AS kd FROM deg),
       |k0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS s FROM deg),
       |$iters
       |SELECT node AS name, round(s / 1000000.0, 6) AS katz
       |FROM k$KatzIters ORDER BY katz DESC, name""".stripMargin
  }

  /** WEIGHTED PageRank: rank mass distributes proportionally to edge
    * weight (co-occurrence count) instead of uniformly across
    * neighbors — a frequently-co-mentioned pair passes more authority
    * than a one-off. Same checkpointed iteration as qPagerank; the
    * per-edge share is weight/wdeg with the weighted degree joined
    * once from the degree table.
    */
  def qPagerankWeighted(spark: SparkSession, dir: String): DataFrame =
    wpagerankRanks(edges(spark, dir).barrier())
      .select(col("node").as("name"), round(col("rank"), 6).as("wpagerank"))
      .orderBy(col("wpagerank").desc, col("name"))

  /** (node, rank) over a barriered (src, dst, weight) edge list. */
  private[graft] val wpagerankRanks = Loops.Plans(
    local = (spark, rows) => {
      val es = Loops.triples(rows)
      val wd = es.groupMapReduce(_._1)(_._3)(_ + _)
      val n = wd.size.toLong
      rankFrame(spark, Loops.powerIterateLocal(es.map(t => (t._1, t._2)), wd.keys,
        _ => 1.0 / n, (r, i) => r * es(i)._3.toDouble / wd(es(i)._1).toDouble,
        _ => (1.0 - Damping) / n, Damping, PrIters))
    },
    distributed = e => {
      val deg = e.groupBy("src")
        .agg(sum(col("weight")).cast("long").as("wd")).barrier()
      val n = deg.count()
      Loops.powerIterate(
        deg.select(col("src").as("node"), lit(1.0 / n).as("rank")), e, deg,
        share = col("rank") * col("weight") / col("wd"),
        teleport = lit((1.0 - Damping) / n), damping = Damping, rounds = PrIters, every = 3, eager = true)
    })

  private def wpagerankSql: String = {
    val iters = (1 to PrIters).map { i =>
      val prev = s"wp${i - 1}"
      s"""wp$i AS MATERIALIZED (
         |  SELECT d.src AS node,
         |    0.15 / (SELECT c FROM nn) + 0.85 * coalesce(s.inc, 0) AS rank
         |  FROM deg d LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.rank * e.weight / dd.wd) AS inc
         |    FROM $prev p JOIN edges e ON p.node = e.src
         |      JOIN deg dd ON dd.src = p.node
         |    GROUP BY e.dst) s ON s.node = d.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH $CooccurSql,
       |wp0 AS MATERIALIZED (SELECT src AS node, 1.0 / (SELECT c FROM nn) AS rank FROM deg),
       |$iters
       |SELECT node AS name, round(rank, 6) AS wpagerank FROM wp$PrIters
       |ORDER BY wpagerank DESC, name""".stripMargin
  }

  /** Connected components: fixed CcIters rounds of min-label
    * propagation (label = lexicographic min entity name reachable).
    */
  def qComponents(spark: SparkSession, dir: String): DataFrame = {
    componentLabels(edges(spark, dir).select("src", "dst").barrier())
      .select(col("node").as("name"), col("comp"))
      .orderBy("name")
  }

  /** (node, comp) over a barriered (src, dst) edge list. */
  private[graft] val componentLabels = Loops.Plans(
    local = (spark, rows) => driverFrame(spark, "node STRING, comp STRING",
      Loops.minLabelLocal(Loops.pairs(rows), CcIters, Loops.Utf8)
        .map { case (n, c) => Row(n, c) }),
    distributed = e => Loops.minLabel(e, CcIters, every = 3, eager = true))

  val LpaIters = 4
  val LpaSeeds = 8

  /** Community detection by SEEDED label propagation: the top-LpaSeeds
    * hub entities (degree desc, name tiebreak) become frozen anchor
    * labels, and every other node iteratively adopts the
    * weight-heaviest label among its labeled neighbors (ties → min
    * label). Pure synchronous LPA with min-tiebreak collapses to one
    * giant community on a dense co-occurrence graph (measured: 1
    * community over the whole graph at both test SFs — the classic
    * LPA epidemic failure); anchoring the propagation on fixed seeds
    * is the standard deterministic fix and yields the "topic clusters
    * around anchor entities" partition a news graph actually wants.
    * Nodes no label reaches stay singleton communities.
    *
    * Scale shape per round: one equi-join of the labeled frontier
    * against the pre-checkpointed edge list + a (node, label) weight
    * sum, then the argmax as a single struct-min aggregate —
    * min(struct(-weight, label)) picks heaviest/min-tiebreak with NO
    * rank window over neighbor groups. Seed selection is a K-row
    * orderBy-limit (TakeOrdered, no global sort); lineage
    * checkpointed every 2 rounds.
    */
  def qLpaCommunities(spark: SparkSession, dir: String): DataFrame = {
    val fin = lpaCommunities(edges(spark, dir).barrier(false))
    val sizes = fin.groupBy("community").agg(count(lit(1)).as("community_size"))
    fin.join(sizes, "community")
      .select(col("node").as("name"), col("community"), col("community_size"))
      .orderBy("name")
  }

  /** LPA label table (node, community) from an already-checkpointed
    * edge list — shared by qLpaCommunities and qModularity so the
    * latter pays the co-occurrence pipeline ONCE (it previously built
    * `edges` for the weight rollups and again inside the community
    * call: two full mentions scans for one query).
    */
  private[graft] def lpaLabels(e: DataFrame): DataFrame = {
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
    val seeds = deg.orderBy(col("d").desc, col("src")).limit(LpaSeeds)
      .select(col("src").as("node"), col("src").as("slbl"))
      .barrier(false) // K rows; read every round as the freeze mask
    val lbl0 = e.select(col("src").as("node")).distinct()
      .join(seeds, Seq("node"), "left")
      .select(col("node"), col("slbl").as("lbl"), col("slbl").isNotNull.as("seed"))
    val lbl = Loops.iterate(lbl0, LpaIters, every = 2, eager = true) { lbl =>
      val votes = lbl.filter(col("lbl").isNotNull)
        .select(col("node").as("src"), col("lbl"))
        .join(e, "src")
        .groupBy(col("dst").as("node2"), col("lbl").as("nl"))
        .agg(sum(col("weight")).as("c"))
      val best = votes.groupBy("node2")
        .agg(min(struct((-col("c")).as("nc"), col("nl").as("l"))).as("b"))
        .select(col("node2").as("node"), col("b.l").as("new_lbl"))
      lbl.join(best, Seq("node"), "left")
        .select(col("node"),
          when(col("seed"), col("node"))
            .otherwise(coalesce(col("new_lbl"), col("lbl"))).as("lbl"),
          col("seed"))
    }
    lbl.select(col("node"), coalesce(col("lbl"), col("node")).as("community"))
  }

  /** [[lpaLabels]] on the driver over (src, dst, weight) edges: node →
    * community. Seeds and vote ties break in Spark's string order.
    */
  private[graft] def lpaLabelsLocal(es: Seq[(String, String, Long)]): Map[String, String] = {
    val seeds = es.groupMapReduce(_._1)(_ => 1L)(_ + _).toSeq
      .sorted(Ordering.Tuple2(Ordering.Long.reverse, Loops.Utf8).on[(String, Long)](p => (p._2, p._1)))
      .take(LpaSeeds).map(_._1).toSet
    var lbl: Map[String, String] =
      es.map(_._1).distinct.map(n => n -> (if (seeds(n)) n else null)).toMap
    for (_ <- 1 to LpaIters) {
      val votes = mutable.HashMap.empty[(String, String), Long]
      for ((s, d, w) <- es; l <- lbl.get(s) if l != null)
        votes((d, l)) = votes.getOrElse((d, l), 0L) + w
      // heaviest label, ties to the least: min(struct(-c, l))
      val best = mutable.HashMap.empty[String, (Long, String)]
      for (((d, l), c) <- votes) best.get(d) match {
        case Some((bc, bl)) if bc > c || (bc == c && Loops.Utf8.lteq(bl, l)) =>
        case _ => best(d) = (c, l)
      }
      lbl = lbl.map { case (n, l) =>
        n -> (if (seeds(n)) n else best.get(n).fold(l)(_._2)) }
    }
    lbl.map { case (n, l) => n -> (if (l == null) n else l) }
  }

  /** (node, community) over a barriered (src, dst, weight) edge list. */
  private[graft] val lpaCommunities = Loops.Plans(
    local = (spark, rows) => communityFrame(spark, lpaLabelsLocal(Loops.triples(rows))),
    distributed = lpaLabels)

  private def communityFrame(spark: SparkSession, com: Iterable[(String, String)]): DataFrame =
    driverFrame(spark, "node STRING, community STRING", com.map { case (n, c) => Row(n, c) })

  /** LPA CTE chain up to the final (node, community) table — shared
    * by the lpa oracle and the modularity oracle.
    */
  private def lpaCtes: String = {
    val iters = (1 to LpaIters).map { i =>
      val prev = s"lp${i - 1}"
      s"""lp$i AS MATERIALIZED (
         |  SELECT l.node,
         |    CASE WHEN l.seed THEN l.node ELSE coalesce(b.nl, l.lbl) END AS lbl,
         |    l.seed
         |  FROM $prev l LEFT JOIN (
         |    SELECT node, min(nl) AS nl FROM (
         |      SELECT node, nl, c, max(c) OVER (PARTITION BY node) AS mc FROM (
         |        SELECT e.dst AS node, p.lbl AS nl, CAST(sum(e.weight) AS BIGINT) AS c
         |        FROM $prev p JOIN edges e ON p.node = e.src
         |        WHERE p.lbl IS NOT NULL
         |        GROUP BY e.dst, p.lbl) t1) t2
         |    WHERE c = mc GROUP BY node) b ON b.node = l.node)""".stripMargin
    }.mkString(",\n")
    s"""$CooccurSql,
       |seeds AS MATERIALIZED (
       |  SELECT src AS node FROM deg ORDER BY d DESC, src LIMIT $LpaSeeds),
       |lp0 AS MATERIALIZED (
       |  SELECT n.node, CASE WHEN s.node IS NOT NULL THEN n.node END AS lbl,
       |    s.node IS NOT NULL AS seed
       |  FROM (SELECT DISTINCT src AS node FROM edges) n
       |  LEFT JOIN seeds s ON s.node = n.node),
       |$iters,
       |fin AS MATERIALIZED (
       |  SELECT node, coalesce(lbl, node) AS community FROM lp$LpaIters)""".stripMargin
  }

  private def lpaSql: String =
    s"""WITH $lpaCtes,
       |sz AS (SELECT community, count(*) AS community_size FROM fin GROUP BY community)
       |SELECT node AS name, community, community_size
       |FROM fin JOIN sz USING (community) ORDER BY name""".stripMargin

  /** Modularity of the LPA partition — the "did the clustering find
    * real structure" audit (Newman Q per community, directed-symmetric
    * form: q_c = w_in_c/W − (d_c/W)², W = total directed weight): the
    * community-quality twin of q_ann_recall's index-quality audit.
    * All weights are integer co-occurrence counts, so both terms are
    * integer micro-grid divisions — each division's operands are
    * non-negative (floor ≡ truncate, so DuckDB `//` and Spark `div`
    * agree) and the subtraction happens after, making Q exactly
    * reproducible in any engine and summation order.
    *
    * Scale shape: the partition rides qLpaCommunities' plan; on top
    * are two equi-joins of the edge list against the (node,
    * community) table and two map-side-combined rollups to
    * #communities rows; the 1-row total weight is a broadcast cross.
    */
  def qModularity(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir).barrier(false)
    val com = Loops.onDriver(e)(lpaCommunities.local(spark, _)) {
      lpaLabels(e).barrier(false) // read by both endpoint joins
    }
    modularityBreakdown(e, com)
  }

  /** Per-community modularity of an arbitrary (node, community)
    * partition over an edge list — shared by qModularity (LPA
    * partition) and the qLouvain quality spec (its refined partition
    * must not score below LPA's).
    */
  private[graft] def modularityBreakdown(e: DataFrame, com: DataFrame): DataFrame = {
    val tot = e.agg(sum("weight").cast("long").as("tw"))
    val wc = e
      .join(com.select(col("node").as("src"), col("community").as("cs")), "src")
      .join(com.select(col("node").as("dst"), col("community").as("cd")), "dst")
    val dt = wc.groupBy(col("cs").as("community"))
      .agg(sum("weight").cast("long").as("d_tot"),
        countDistinct(col("src")).as("n_nodes"))
    val wi = wc.filter(col("cs") === col("cd"))
      .groupBy(col("cs").as("community"))
      .agg(sum("weight").cast("long").as("w_in"))
    dt.join(wi, Seq("community"), "left")
      .withColumn("w_in", coalesce(col("w_in"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("q_micro",
        expr("w_in * 1000000 div tw")
          - expr("((d_tot * 1000000 div tw) * (d_tot * 1000000 div tw)) div 1000000"))
      .select(col("community"), col("n_nodes"), col("w_in"), col("d_tot"),
        round(col("q_micro") / lit(1e6), 6).as("q"))
      .orderBy("community")
  }

  private def modularitySql: String =
    s"""WITH $lpaCtes,
       |tot AS (SELECT CAST(sum(weight) AS BIGINT) AS tw FROM edges),
       |wc AS MATERIALIZED (
       |  SELECT e.src, e.weight, fs.community AS cs, fd.community AS cd
       |  FROM edges e JOIN fin fs ON fs.node = e.src
       |  JOIN fin fd ON fd.node = e.dst),
       |dt AS (SELECT cs AS community, CAST(sum(weight) AS BIGINT) AS d_tot,
       |    count(DISTINCT src) AS n_nodes
       |  FROM wc GROUP BY cs),
       |wi AS (SELECT cs AS community, CAST(sum(weight) AS BIGINT) AS w_in
       |  FROM wc WHERE cs = cd GROUP BY cs)
       |SELECT community, n_nodes, coalesce(w_in, 0) AS w_in, d_tot,
       |  round((coalesce(w_in, 0) * 1000000 // tw
       |    - ((d_tot * 1000000 // tw) * (d_tot * 1000000 // tw)) // 1000000)
       |    / 1000000.0, 6) AS q
       |FROM dt LEFT JOIN wi USING (community) CROSS JOIN tot
       |ORDER BY community""".stripMargin

  val LouvainRounds = 3

  /** Louvain-style local-move refinement of the LPA partition
    * (Blondel et al. 2008's move phase, synchronized): for
    * LouvainRounds rounds every node evaluates the modularity GAIN of
    * moving to each neighboring community — gain(i→c) = w_i,c/W −
    * k_i·Σtot(c∖i)/W² — and moves only if the best candidate STRICTLY
    * beats staying (ties → stay; among candidates, smaller community
    * id). All nodes decide simultaneously against the round-start
    * partition, which is what makes the rounds deterministic and
    * embarrassingly parallel (sequential node-by-node moves — the
    * classic formulation — serialize the whole graph through one
    * scan order); the synchronous variant is the standard distributed
    * adaptation and the spec asserts the refinement never scores
    * below the LPA partition it starts from.
    *
    * Arithmetic: gains live on the integer micro-grid with the SAME
    * bounded-factor discipline as qModularity ((x·10⁶ div W) factors
    * ≤ 10⁶ before multiplying), so both engines floor identically and
    * no distributed summation order can flip a move.
    *
    * BIGINT headroom: every numerator x (w_i,c / k_i / Σtot) is ≤ the
    * total weight W, so each factor (x·10⁶ div W) ≤ 10⁶ and the
    * product ≤ 10¹²; the one data-dependent intermediate is x·10⁶
    * itself, which needs W < 9.2·10¹² (total co-mention weight — at
    * 10¹² total mentions rescale weights first). Same bound governs
    * modularityBreakdown.
    *
    * Scale shape per round: one equi-join of the edge list against
    * the partition (w_i,c rollup, map-side combined), a
    * #communities-sized Σtot rollup, and per-node argmax as a single
    * struct-min aggregate — no rank windows, nothing corpus²; lineage
    * checkpointed per round like the other iterative ops.
    */
  def qLouvain(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir).barrier(false)
    val fin = louvainLabels(e)
    val sizes = fin.groupBy("community").agg(count(lit(1)).as("community_size"))
    fin.join(sizes, "community")
      .select(col("node").as("name"), col("community"), col("community_size"))
      .orderBy("name")
  }

  val Louvain2Rounds = 2

  /** The refined (node, community) table — see qLouvain. Two phases
    * since round 8 (real Blondel iteration, not move-only): the move
    * phase refines the LPA partition, then ONE graph-coarsening step
    * contracts each community to a super-node (edge weights summed;
    * internal edges become self-loops, which is what carries w_in
    * into the coarse level) and the SAME move rounds run on the
    * contracted graph — merging whole communities at once, the moves
    * no single node can make. Final labels map each node through its
    * community's coarse community. Identical gain arithmetic at both
    * levels (the contracted graph preserves total weight and
    * k_super = Σ k_member, so the micro-grid gain formula is
    * level-agnostic); the coarse pass costs #communities-sized
    * rounds, asymptotically free next to phase 1.
    *
    * An edge list within Loops.DriverMaxEdges runs both phases, the
    * LPA start and the contraction on the driver. A larger one runs
    * phase 1 distributed and picks phase 2's plan from the contracted
    * graph's size under the same bound.
    */
  private[graft] val louvainLabels = Loops.Plans(
    local = (spark, rows) => {
      val es = Loops.triples(rows)
      val com1 = louvainMoveRoundsLocal(es, lpaLabelsLocal(es), LouvainRounds)
      val superE = es.filter(t => com1.contains(t._1) && com1.contains(t._2))
        .groupMapReduce(t => (com1(t._1), com1(t._2)))(_._3)(_ + _)
        .map { case ((cs, cd), w) => (cs, cd, w) }.toSeq
      val com2 = louvainMoveRoundsLocal(superE, identityPartition(superE), Louvain2Rounds)
      communityFrame(spark, com1.flatMap { case (n, c1) => com2.get(c1).map(n -> _) })
    },
    distributed = e => {
      val com1 = louvainMoveRounds(e, lpaLabels(e), LouvainRounds)
        .barrier(false) // read by the contraction AND the mapback
      val superE = e
        .join(com1.select(col("node").as("src"), col("community").as("cs")), "src")
        .join(com1.select(col("node").as("dst"), col("community").as("cd")), "dst")
        .groupBy(col("cs").as("src"), col("cd").as("dst"))
        .agg(sum("weight").cast("long").as("weight"))
        .barrier(false)
      // the contracted graph is #communities-sized: usually in bound
      // even when the entity graph is not
      val com2 = Loops.onDriver(superE) { rows =>
        val se = Loops.triples(rows)
        communityFrame(e.sparkSession,
          louvainMoveRoundsLocal(se, identityPartition(se), Louvain2Rounds))
      } {
        val init2 = superE.select(col("src").as("node")).distinct()
          .withColumn("community", col("node"))
        louvainMoveRounds(superE, init2, Louvain2Rounds)
      }
      com1.select(col("node"), col("community").as("c1"))
        .join(broadcast(com2.select(col("node").as("c1"), col("community"))), "c1")
        .select("node", "community")
    })

  /** Every source node of `es` in its own community. */
  private def identityPartition(es: Seq[(String, String, Long)]): Map[String, String] =
    es.map(t => t._1 -> t._1).toMap

  /** The SAME synchronized move recurrence as [[louvainMoveRounds]],
    * executed on the driver over a collected (bounded) edge list from
    * the partition `init` — pure exact-integer arithmetic (every
    * dividend nonnegative, so JVM `/` matches Spark `div` and DuckDB
    * `//`), ties → stay / smallest community in Spark's string order.
    * As in the joins, a node keeps a label only if it has edges, and
    * only edges into labelled nodes vote. Spec-proved equal to the
    * distributed loop.
    */
  private[graft] def louvainMoveRoundsLocal(edges: Seq[(String, String, Long)],
      init: Map[String, String], rounds: Int): Map[String, String] = {
    if (edges.isEmpty) return Map.empty
    val kdeg = edges.groupMapReduce(_._1)(_._3)(_ + _)
    val tw = edges.map(_._3).sum
    var com = init
    for (_ <- 1 to rounds) {
      val cur = com
      val tot = cur.toSeq.filter(p => kdeg.contains(p._1))
        .groupMapReduce(_._2)(p => kdeg(p._1))(_ + _)
      val wic = edges.filter(ed => cur.contains(ed._2))
        .groupMapReduce(ed => (ed._1, cur(ed._2)))(_._3)(_ + _)
      val byNode = wic.toSeq.groupBy(_._1._1)
      def gainOf(node: String, c: String, w: Long): Long = {
        val k = kdeg(node)
        val totAdj = tot(c) - (if (c == cur(node)) k else 0L)
        w * 1000000L / tw -
          ((k * 1000000L / tw) * (totAdj * 1000000L / tw)) / 1000000L
      }
      com = cur.filter(p => kdeg.contains(p._1)).map { case (node, c0) =>
        val stayGain = gainOf(node, c0, wic.getOrElse((node, c0), 0L))
        var bestC: String = null
        var bestGain = Long.MinValue
        byNode.getOrElse(node, Seq.empty).foreach { case ((_, c), w) =>
          if (tot.contains(c)) {
            val g = gainOf(node, c, w)
            if (g > bestGain || (g == bestGain && Loops.Utf8.lt(c, bestC)))
              { bestGain = g; bestC = c }
          }
        }
        node -> (if (bestC != null && bestGain > stayGain) bestC else c0)
      }
    }
    com
  }

  /** Move-only phase-1 partition — kept visible so the quality spec
    * can pin Q(two-phase) ≥ Q(move-only).
    */
  private[graft] def louvainMoveOnly(e: DataFrame): DataFrame =
    louvainMoveRounds(e, lpaLabels(e), LouvainRounds)

  /** Synchronized local-move rounds (see qLouvain) over an arbitrary
    * weighted edge list from an arbitrary starting partition — the
    * one loop both Louvain phases run.
    */
  private[graft] def louvainMoveRounds(e: DataFrame, init: DataFrame,
      rounds: Int): DataFrame = {
    val kdeg = e.groupBy("src").agg(sum("weight").cast("long").as("k"))
      .select(col("src").as("node"), col("k"))
      .barrier(false) // read twice per round
    val totW = e.agg(sum("weight").cast("long").as("tw"))
    Loops.iterate(init.barrier(false), rounds, every = 1, eager = true) { com =>
      val tot = com.join(kdeg, "node")
        .groupBy("community").agg(sum("k").cast("long").as("tot"))
      // weight from each node into each adjacent community
      val wic = e.join(com.select(col("node").as("dst"),
          col("community").as("c")), "dst")
        .groupBy(col("src").as("node"), col("c"))
        .agg(sum("weight").cast("long").as("w"))
      val gains = wic
        .join(com, "node")
        .join(kdeg, "node")
        .join(tot.select(col("community").as("c"), col("tot")), "c")
        .crossJoin(broadcast(totW))
        .withColumn("tot_adj", col("tot") -
          when(col("c") === col("community"), col("k")).otherwise(lit(0L)))
        .withColumn("gain",
          expr("w * 1000000 div tw" +
            " - ((k * 1000000 div tw) * (tot_adj * 1000000 div tw)) div 1000000"))
      // Round 12 (fewer exchanges per round, guide §2.4): the stay
      // gain RIDES the same aggregate that picks the best candidate —
      // for c = community the gain formula IS the stay gain (tot_adj
      // = tot − k and w = w_own by construction), and wic is grouped
      // on (node, c) so at most ONE such row exists per node. The
      // separate stay chain (a second wic consumer + two more joins
      // per round) is gone; only a node with NO neighbor in its own
      // community lacks the ridden value, and its w0 = 0 stay gain is
      // computed in the update join from the same tot/kdeg/totW
      // tables (0·10⁶ div tw = 0, so the first term vanishes —
      // exact-integer identical to the old stay expression).
      val best = gains.groupBy("node")
        .agg(min(struct((-col("gain")).as("ng"), col("c").as("l"))).as("b"),
          max(when(col("c") === col("community"), col("gain"))).as("sg0"))
        .select(col("node"), col("b.l").as("best_c"),
          (-col("b.ng")).as("best_gain"), col("sg0"))
      com.join(best, Seq("node"), "left")
        .join(kdeg, "node")
        .join(tot, "community")
        .crossJoin(broadcast(totW))
        .withColumn("stay_gain", coalesce(col("sg0"),
          expr("0L - ((k * 1000000 div tw) * ((tot - k) * 1000000 div tw)) div 1000000")))
        .select(col("node"),
          when(col("best_gain") > col("stay_gain"), col("best_c"))
            .otherwise(col("community")).as("community"))
    }
  }

  /** The same rounds unrolled as CTEs — identical micro-grid floors,
    * identical stay-beats-tie rule — parameterized over (edge table,
    * degree table, chain prefix) so BOTH Louvain levels replay through
    * the one generator (phase 1 on `edges`/`deg` as lv0..lvN, phase 2
    * on the contracted `se`/`sdeg` as sv0..svM).
    */
  private def louvainRoundsSql(p: String, edgesT: String, degT: String,
      chain: String, rounds: Int): String =
    (1 to rounds).map { r =>
      val prev = s"$chain${r - 1}"
      s"""${p}t$r AS MATERIALIZED (
         |  SELECT f.community, CAST(sum(d.wd) AS BIGINT) AS tot
         |  FROM $prev f JOIN $degT d ON d.src = f.node GROUP BY f.community),
         |${p}w$r AS MATERIALIZED (
         |  SELECT e.src AS node, f.community AS c, CAST(sum(e.weight) AS BIGINT) AS w
         |  FROM $edgesT e JOIN $prev f ON f.node = e.dst GROUP BY e.src, f.community),
         |${p}g$r AS MATERIALIZED (
         |  SELECT w.node, w.c,
         |    w.w * 1000000 // tw
         |      - ((d.wd * 1000000 // tw)
         |         * ((t.tot - CASE WHEN w.c = f.community THEN d.wd ELSE 0 END)
         |            * 1000000 // tw)) // 1000000 AS gain
         |  FROM ${p}w$r w JOIN $prev f ON f.node = w.node
         |  JOIN $degT d ON d.src = w.node
         |  JOIN ${p}t$r t ON t.community = w.c CROSS JOIN tots),
         |${p}b$r AS MATERIALIZED (
         |  SELECT node, c AS best_c, gain AS best_gain FROM (
         |    SELECT node, c, gain,
         |      row_number() OVER (PARTITION BY node ORDER BY gain DESC, c) AS rn
         |    FROM ${p}g$r) WHERE rn = 1),
         |${p}s$r AS MATERIALIZED (
         |  SELECT f.node,
         |    coalesce(w.w, 0) * 1000000 // tw
         |      - ((d.wd * 1000000 // tw)
         |         * ((t.tot - d.wd) * 1000000 // tw)) // 1000000 AS sg
         |  FROM $prev f JOIN $degT d ON d.src = f.node
         |  JOIN ${p}t$r t ON t.community = f.community
         |  LEFT JOIN ${p}w$r w ON w.node = f.node AND w.c = f.community
         |  CROSS JOIN tots),
         |$chain$r AS MATERIALIZED (
         |  SELECT f.node,
         |    CASE WHEN b.best_gain > s.sg THEN b.best_c
         |         ELSE f.community END AS community
         |  FROM $prev f JOIN ${p}s$r s ON s.node = f.node
         |  LEFT JOIN ${p}b$r b ON b.node = f.node)""".stripMargin
    }.mkString(",\n")

  private def louvainSql: String = {
    val phase1 = louvainRoundsSql("", "edges", "deg", "lv", LouvainRounds)
    val phase2 = louvainRoundsSql("p2", "se", "sdeg", "sv", Louvain2Rounds)
    s"""WITH $lpaCtes,
       |tots AS (SELECT CAST(sum(weight) AS BIGINT) AS tw FROM edges),
       |lv0 AS MATERIALIZED (SELECT node, community FROM fin),
       |$phase1,
       |se AS MATERIALIZED (
       |  SELECT f1.community AS src, f2.community AS dst,
       |    CAST(sum(e.weight) AS BIGINT) AS weight
       |  FROM edges e JOIN lv$LouvainRounds f1 ON f1.node = e.src
       |  JOIN lv$LouvainRounds f2 ON f2.node = e.dst
       |  GROUP BY f1.community, f2.community),
       |sdeg AS MATERIALIZED (
       |  SELECT src, CAST(sum(weight) AS BIGINT) AS wd FROM se GROUP BY src),
       |sv0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS community FROM se),
       |$phase2,
       |fin2 AS MATERIALIZED (
       |  SELECT l.node, s.community
       |  FROM lv$LouvainRounds l JOIN sv$Louvain2Rounds s ON s.node = l.community),
       |sz AS (SELECT community, count(*) AS community_size
       |  FROM fin2 GROUP BY community)
       |SELECT node AS name, community, community_size
       |FROM fin2 JOIN sz USING (community) ORDER BY name""".stripMargin
  }

  /** Unrolled PageRank iteration CTEs for the oracle (recursive CTEs
    * can't aggregate in the recursive term, so we unroll — the oracle
    * mirrors the power iteration exactly).
    */
  private def pagerankSql: String = {
    val iters = (1 to PrIters).map { i =>
      val prev = s"p${i - 1}"
      s"""p$i AS MATERIALIZED (
         |  SELECT d.src AS node,
         |    0.15 / (SELECT c FROM nn) + 0.85 * coalesce(s.inc, 0) AS rank
         |  FROM deg d LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.rank / dd.d) AS inc
         |    FROM $prev p JOIN edges e ON p.node = e.src
         |      JOIN deg dd ON dd.src = p.node
         |    GROUP BY e.dst) s ON s.node = d.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH $CooccurSql,
       |p0 AS MATERIALIZED (SELECT src AS node, 1.0 / (SELECT c FROM nn) AS rank FROM deg),
       |$iters
       |SELECT node AS name, round(rank, 6) AS pagerank FROM p$PrIters
       |ORDER BY pagerank DESC, name""".stripMargin
  }

  private def componentsSql: String = {
    val iters = (1 to CcIters).map { i =>
      val prev = s"c${i - 1}"
      s"""c$i AS MATERIALIZED (
         |  SELECT l.node, least(l.comp, coalesce(s.nbr_comp, l.comp)) AS comp
         |  FROM $prev l LEFT JOIN (
         |    SELECT e.dst AS node, min(p.comp) AS nbr_comp
         |    FROM $prev p JOIN edges e ON p.node = e.src
         |    GROUP BY e.dst) s ON s.node = l.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $CooccurSql,
       |c0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS comp FROM edges),
       |$iters
       |SELECT node AS name, comp FROM c$CcIters ORDER BY name""".stripMargin
  }

  /** Per-entity triangle count + local clustering coefficient over the
    * co-occurrence graph, via DEGREE-ORIENTED wedge counting (the
    * node-iterator++ / Suri-Vassilvitskii MapReduce formulation):
    * each undirected edge is oriented from its lower-(degree, name)
    * endpoint to the higher, wedges are enumerated at the LOW-degree
    * center only, and a wedge closes iff its (x, y) arm pair is itself
    * an oriented edge. Every triangle is counted exactly once, and the
    * wedge fan-out is bounded by the oriented out-degree — O(m^{3/2})
    * total wedges regardless of skew (a celebrity entity with degree
    * 10^6 generates no wedges at its own center because nearly all its
    * edges point INTO it).
    *
    * Scale shape: two equi-joins on entity keys (wedge build on u,
    * closure probe on (x, y)) + one explode/groupBy for per-node
    * counts; no window, no cartesian.
    */
  def qTriangles(spark: SparkSession, dir: String): DataFrame = {
    val co = cooccur(spark, dir).select("e1", "e2")
    val deg = co.select(col("e1").as("n")).unionByName(co.select(col("e2").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .barrier(false)   // degree table read by orientation AND the final report
    val lt = struct(col("d1"), col("e1")) < struct(col("d2"), col("e2"))
    val o = co
      .join(deg.select(col("n").as("e1"), col("d").as("d1")), "e1")
      .join(deg.select(col("n").as("e2"), col("d").as("d2")), "e2")
      .select(
        when(lt, col("e1")).otherwise(col("e2")).as("u"),
        when(lt, col("e2")).otherwise(col("e1")).as("v"),
        when(lt, col("d2")).otherwise(col("d1")).as("dv"))
      .barrier(false)   // oriented edges read by both wedge arms AND the closure probe
    val wedges = o.select(col("u"), col("v").as("x"), col("dv").as("dx"))
      .join(o.select(col("u"), col("v").as("y"), col("dv").as("dy")), "u")
      .filter(struct(col("dx"), col("x")) < struct(col("dy"), col("y")))
    val tri = wedges
      .join(o.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .select("u", "x", "y")
    val pern = tri.select(explode(array(col("u"), col("x"), col("y"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("t"))
    deg.join(pern, Seq("n"), "left")
      .select(col("n").as("name"), col("d").as("degree"),
        coalesce(col("t"), lit(0L)).as("triangles"),
        round(when(col("d") >= 2,
          lit(2.0) * coalesce(col("t"), lit(0L)) / (col("d") * (col("d") - 1)))
          .otherwise(0.0), 6).as("clustering"))
      .orderBy("name")
  }

  val BfsSeed = "spark group"
  val BfsHops = 4

  /** Single-source shortest hop-distance (bounded BFS, BfsHops rounds
    * of frontier relaxation) from a seed entity over the co-occurrence
    * graph — the "how far is X from Y" primitive graph-RAG uses to
    * bound context expansion. Same checkpointed-join loop shape as
    * qComponents: each round is one shuffle on the edge key; distances
    * only ever tighten, so the fixed-round unrolled oracle replays it
    * exactly. Nodes farther than BfsHops are absent (a production run
    * stops when the frontier empties).
    */
  def qShortestPath(spark: SparkSession, dir: String): DataFrame = {
    hopDistances(edges(spark, dir).select("src", "dst").barrier())
      .select(col("node").as("name"), col("dist"))
      .orderBy("dist", "name")
  }

  /** (node, dist INT) from BfsSeed over a barriered (src, dst) edge list. */
  private[graft] val hopDistances = Loops.Plans(
    local = (spark, rows) => driverFrame(spark, "node STRING, dist INT",
      Loops.relaxMinLocal(Loops.pairs(rows).map(p => (p._1, p._2, 1L)), BfsSeed, BfsHops)
        .map { case (n, d) => Row(n, d.toInt) }),
    distributed = e => Loops.relaxMin(e, "src", "dst", BfsSeed, zero = lit(0), len = lit(1),
      rounds = BfsHops, every = 3, eager = true))

  val WspRounds = 6 // Bellman-Ford relaxation rounds (≥ graph diameter here)

  /** WEIGHTED single-source shortest paths from the seed entity —
    * "how strongly are X and Y connected": the co-occurrence graph
    * carries weights (co-mention counts) that hop-count BFS ignores,
    * so a pair bridged by one weak link scored the same as a pair
    * joined by a heavily co-mentioned chain. Edge length is the
    * INTEGER reciprocal cost `1000000 div weight` (stronger tie →
    * shorter edge; integer division so path sums are exact BIGINTs —
    * no float crosses an exchange or the engine boundary), and
    * distances come from WspRounds bounded Bellman-Ford relaxations —
    * the same frontier-join shape as qShortestPath's BFS (min
    * distances only tighten; one equi-join + map-side-combined min
    * per round over the checkpointed edge list). Replayed exactly by
    * the unrolled-CTE oracle; GraphXSpec cross-checks the full
    * distance map against an independent Pregel min-sum run.
    *
    * BIGINT headroom (data-INdependent): every edge cost is
    * `1000000 div weight` ≤ 10⁶ and a kept distance has ≤ WspRounds
    * edges, so dist ≤ WspRounds·10⁶ (= 6·10⁶) and each relaxation
    * sum ≤ (WspRounds+1)·10⁶ — no weight distribution can overflow.
    */
  def qWeightedShortestPath(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir)
      .selectExpr("src", "dst", "1000000 div weight AS cost")
      .barrier()
    costDistances(e)
      .select(col("node").as("name"), col("dist").as("wdist"))
      .orderBy("wdist", "name")
  }

  /** (node, dist BIGINT) from BfsSeed over a barriered (src, dst, cost)
    * edge list.
    */
  private[graft] val costDistances = Loops.Plans(
    local = (spark, rows) => driverFrame(spark, "node STRING, dist BIGINT",
      Loops.relaxMinLocal(Loops.triples(rows), BfsSeed, WspRounds)
        .map { case (n, d) => Row(n, d) }),
    distributed = e => Loops.relaxMin(e, "src", "dst", BfsSeed, zero = lit(0L),
      len = col("cost"), rounds = WspRounds, every = 3, eager = true))

  val PprAlpha = 0.15 // restart probability back to the seed

  /** PERSONALIZED PageRank from a seed entity — the graph-RAG
    * relevance primitive (rank the neighborhood of the query's
    * anchor entity, not global importance): the teleport goes back to
    * the seed instead of uniformly everywhere, so mass concentrates
    * in the seed's community. Same checkpointed power-iteration shape
    * as qPagerank (one shuffle-on-src join per round over the
    * pre-partitioned edge list); nodes the walk never reaches keep
    * rank 0 and are dropped. Fixed PrIters rounds, replayed exactly
    * by the unrolled-CTE oracle.
    */
  def qPagerankPersonalized(spark: SparkSession, dir: String): DataFrame =
    pprRanks(edges(spark, dir).select("src", "dst").barrier())
      .filter(col("rank") > 0)
      .select(col("node").as("name"), round(col("rank"), 6).as("ppr"))
      .orderBy(col("ppr").desc, col("name"))

  /** (node, rank) of the walk restarting at BfsSeed over a barriered
    * (src, dst) edge list.
    */
  private[graft] val pprRanks = Loops.Plans(
    local = (spark, rows) => {
      val es = Loops.pairs(rows)
      val d = es.groupMapReduce(_._1)(_ => 1L)(_ + _)
      rankFrame(spark, Loops.powerIterateLocal(es, d.keys,
        n => if (n == BfsSeed) 1.0 else 0.0, (r, i) => r / d(es(i)._1).toDouble,
        n => if (n == BfsSeed) PprAlpha else 0.0, 1.0 - PprAlpha, PrIters))
    },
    distributed = e => {
      val deg = e.groupBy("src").agg(count(lit(1)).as("d")).barrier()
      Loops.powerIterate(
        deg.select(col("src").as("node"))
          .withColumn("rank", when(col("node") === BfsSeed, 1.0).otherwise(0.0)),
        e, deg, share = col("rank") / col("d"),
        teleport = when(col("node") === BfsSeed, lit(PprAlpha)).otherwise(lit(0.0)),
        damping = 1.0 - PprAlpha, rounds = PrIters, every = 3, eager = true)
    })

  private def pprSql: String = {
    val iters = (1 to PrIters).map { i =>
      val prev = s"pp${i - 1}"
      s"""pp$i AS MATERIALIZED (
         |  SELECT d.src AS node,
         |    CASE WHEN d.src = '$BfsSeed' THEN $PprAlpha ELSE 0 END
         |      + ${1.0 - PprAlpha} * coalesce(s.inc, 0) AS rank
         |  FROM deg d LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.rank / dd.d) AS inc
         |    FROM $prev p JOIN edges e ON p.node = e.src
         |      JOIN deg dd ON dd.src = p.node
         |    GROUP BY e.dst) s ON s.node = d.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH $CooccurSql,
       |pp0 AS MATERIALIZED (
       |  SELECT src AS node,
       |    CASE WHEN src = '$BfsSeed' THEN 1.0 ELSE 0.0 END AS rank
       |  FROM deg),
       |$iters
       |SELECT node AS name, round(rank, 6) AS ppr FROM pp$PrIters
       |WHERE rank > 0 ORDER BY ppr DESC, name""".stripMargin
  }

  val HitsIters = 6

  /** HITS hubs/authorities on the DIRECTED source→entity coverage
    * graph (source publishes a doc mentioning the entity): hubs =
    * sources whose coverage spans authoritative entities, authorities
    * = entities covered by strong hubs — the bipartite ranking the
    * undirected co-occur graph can't express (on an undirected graph
    * hub ≡ authority and HITS degenerates).
    *
    * Each half-iteration is one equi-join + map-side-combined sum.
    * Scores are MAX-normalized (max is order-independent, unlike an
    * L2 norm's global float sum) and re-quantized to a 9-decimal grid
    * every round, so both engines walk identical values and float
    * summation order can never accumulate drift across iterations.
    */
  def qHits(spark: SparkSession, dir: String): DataFrame = {
    val e = TextPipeline.mentions(spark, dir)
      .join(graft.Tables.documents(spark, dir).select("doc_id", "source"), "doc_id")
      .select("source", "name").distinct()
      .barrier()
    var hub = e.select(col("source")).distinct().withColumn("hub", lit(1.0))
    var auth: DataFrame = null
    for (i <- 1 to HitsIters) {
      // Checkpoint the RAW aggregate (one heavy join+agg job per
      // half-round), then read the max normalizer off the checkpoint
      // as a driver scalar (a 1-row action over an entity-sized
      // table, not a data collect) and normalize with a literal — a
      // narrow map that rides into the next half-round's plan. The
      // previous broadcast(agg(max)) normalizer was its own exchange
      // job that re-evaluated the same join+agg a second time, and
      // checkpointing every round is still required: each half-round
      // references its input twice, so unchecked lineage re-evaluates
      // the whole prefix 2^rounds times (12 s measured at 3-round
      // checkpointing vs ~2 s per-round).
      // LAZY checkpoint fused with the normalizer action: the first()
      // below is the half-round's ONE materializer (strictly
      // sequential — no second stage can race the un-materialized
      // checkpoint into a duplicate compute, unlike the loop-state
      // case), so eager-then-act's second driver round trip per
      // half-round (24 jobs/query of barrier latency) is saved.
      // Measured (graft.Profile, min of 3): 93 → 80 jobs, 3.06 → 2.88 s.
      val ar = e.join(hub, "source").groupBy("name")
        .agg(sum(col("hub")).as("r")).barrier(false)
      val az = Option(ar.agg(max(col("r"))).first().getAs[java.lang.Double](0))
        .fold(1.0)(_.doubleValue())
      auth = ar.select(col("name"), round(col("r") / lit(az), 9).as("auth"))
      val hr = e.join(auth, "name").groupBy("source")
        .agg(sum(col("auth")).as("r")).barrier(false)
      val hz = Option(hr.agg(max(col("r"))).first().getAs[java.lang.Double](0))
        .fold(1.0)(_.doubleValue())
      hub = hr.select(col("source"), round(col("r") / lit(hz), 9).as("hub"))
    }
    hub.select(lit("hub").as("side"), col("source").as("name"),
        round(col("hub"), 6).as("score"))
      .unionByName(auth.select(lit("authority").as("side"), col("name"),
        round(col("auth"), 6).as("score")))
      .orderBy(col("side"), col("score").desc, col("name"))
  }

  private def hitsSql: String = {
    val iters = (1 to HitsIters).map { i =>
      val prev = s"h${i - 1}"
      s"""ar$i AS MATERIALIZED (
         |  SELECT name, sum(hub) AS r FROM e JOIN $prev USING (source) GROUP BY name),
         |an$i AS MATERIALIZED (
         |  SELECT name, round(r / (SELECT max(r) FROM ar$i), 9) AS auth FROM ar$i),
         |hr$i AS MATERIALIZED (
         |  SELECT source, sum(auth) AS r FROM e JOIN an$i USING (name) GROUP BY source),
         |h$i AS MATERIALIZED (
         |  SELECT source, round(r / (SELECT max(r) FROM hr$i), 9) AS hub FROM hr$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${TextPipeline.MentionsSql},
       |e AS MATERIALIZED (
       |  SELECT DISTINCT d.source, m.name
       |  FROM (SELECT DISTINCT doc_id, name FROM mentions) m
       |  JOIN documents d USING (doc_id)),
       |h0 AS (SELECT DISTINCT source, 1.0 AS hub FROM e),
       |$iters
       |SELECT side, name, score FROM (
       |  SELECT 'hub' AS side, source AS name, round(hub, 6) AS score FROM h$HitsIters
       |  UNION ALL
       |  SELECT 'authority', name, round(auth, 6) FROM an$HitsIters)
       |ORDER BY side, score DESC, name""".stripMargin
  }

  val LpMaxDeg = 50 // wedge-center degree cap (skew guard, oracle-mirrored)

  /** Link prediction over the co-occurrence graph: for every
    * non-adjacent pair within 2 hops, common-neighbor count, Jaccard
    * of neighborhoods, and Adamic–Adar (Σ 1/ln(deg(z)) over shared
    * neighbors z) — the "entities that SHOULD co-occur" primitive a
    * news-graph uses to propose missing links.
    *
    * Scale shape: one wedge self-join on the center key z (the
    * triangle-count join pattern), with the center-degree cap bounding
    * the per-key fan-out — a celebrity entity with degree 10⁴ would
    * otherwise emit 10⁸ candidate pairs from its own wedges alone; the
    * cap is part of the operator's documented semantics and the
    * oracle replays it. Direct edges are removed with a left-anti
    * join; degrees ride broadcast-sized joins.
    */
  def qLinkPrediction(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir).select("src", "dst").barrier(false)
    val deg = e.groupBy("src").agg(count(lit(1)).as("d")).barrier(false)
    val ctr = e.join(deg.filter(col("d") <= LpMaxDeg), "src")
    val wedges = ctr.select(col("src").as("z"), col("dst").as("u"), col("d").as("dz"))
      .join(ctr.select(col("src").as("z"), col("dst").as("v")), "z")
      .filter(col("u") < col("v"))
    val direct = e.filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
    wedges.groupBy("u", "v")
      .agg(count(lit(1)).as("cn"),
        round(sum(lit(1.0) / log(col("dz"))), 6).as("adamic_adar"))
      .join(direct, Seq("u", "v"), "left_anti")
      .filter(col("cn") >= 2)
      .join(deg.select(col("src").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("src").as("v"), col("d").as("dv")), "v")
      .select(col("u"), col("v"), col("cn"),
        round(col("cn") / (col("du") + col("dv") - col("cn")), 6).as("jaccard"),
        col("adamic_adar"))
      .orderBy(col("adamic_adar").desc, col("u"), col("v"))
  }

  private def linkPredictionSql: String =
    s"""WITH $CooccurSql,
       |ctr AS MATERIALIZED (
       |  SELECT e.src AS z, e.dst, d.d AS dz
       |  FROM edges e JOIN deg d ON e.src = d.src WHERE d.d <= $LpMaxDeg),
       |w AS (
       |  SELECT a.z, a.dst AS u, b.dst AS v, a.dz
       |  FROM ctr a JOIN ctr b ON a.z = b.z AND a.dst < b.dst),
       |s AS (
       |  SELECT u, v, count(*) AS cn,
       |    round(sum(1.0 / ln(dz)), 6) AS adamic_adar
       |  FROM w GROUP BY u, v),
       |nd AS (
       |  SELECT s.* FROM s LEFT JOIN (
       |    SELECT src AS u, dst AS v FROM edges WHERE src < dst) d2
       |  ON s.u = d2.u AND s.v = d2.v
       |  WHERE d2.u IS NULL)
       |SELECT nd.u, nd.v, cn,
       |  round(cn / CAST(du.d + dv.d - cn AS DOUBLE), 6) AS jaccard,
       |  adamic_adar
       |FROM nd JOIN deg du ON nd.u = du.src JOIN deg dv ON nd.v = dv.src
       |WHERE cn >= 2
       |ORDER BY adamic_adar DESC, nd.u, nd.v""".stripMargin

  val KcoreK = 3
  val KcIters = 6

  /** k-core decomposition (the KcoreK-core): KcIters rounds of degree
    * peeling — drop every node with degree < k, recompute degrees on
    * the surviving subgraph, repeat. The k-core is the standard "dense
    * nucleus" extractor for entity graphs (who is robustly connected,
    * not just popular — a hub wired to leaves dies in round one).
    *
    * Bounded-round semantics: the DataFrame loop and the unrolled
    * oracle both run exactly KcIters rounds, so they agree even if the
    * peel hasn't reached fixpoint (a production run loops until the
    * survivor count stops changing). Each round is one map-side-
    * combined degree count + two hash semi-joins on the shrinking edge
    * list — the same checkpointed-join shape as qComponents, and the
    * edge list only ever shrinks, so later rounds get cheaper.
    */
  def qKcore(spark: SparkSession, dir: String): DataFrame = {
    val e0 = edges(spark, dir).select("src", "dst").barrier()
    val e = Loops.iterate(e0, KcIters, every = 2, eager = true) { e =>
      val keep = e.groupBy("src").agg(count(lit(1)).as("d"))
        .filter(col("d") >= KcoreK).select("src")
      e.join(keep, "src")
        .join(keep.withColumnRenamed("src", "dst"), "dst")
        .select("src", "dst")
    }
    e.groupBy(col("src").as("name")).agg(count(lit(1)).as("core_degree"))
      .orderBy("name")
  }

  private def kcoreSql: String = {
    val iters = (1 to KcIters).map { i =>
      val prev = s"ke${i - 1}"
      s"""kn$i AS MATERIALIZED (
         |  SELECT src FROM $prev GROUP BY src HAVING count(*) >= $KcoreK),
         |ke$i AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM $prev e
         |    JOIN kn$i a ON e.src = a.src JOIN kn$i b ON e.dst = b.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH $CooccurSql,
       |ke0 AS MATERIALIZED (SELECT src, dst FROM edges),
       |$iters
       |SELECT src AS name, count(*) AS core_degree
       |FROM ke$KcIters GROUP BY src ORDER BY name""".stripMargin
  }

  val WalkSteps = 4

  /** Deterministic node2vec-style random walks — the sequence corpus a
    * graph-embedding trainer (DeepWalk / node2vec) consumes: one walk
    * per node, WalkSteps hops, the "random" neighbor choice at step t
    * being hash(seed, t) mod degree — reproducible on any engine and
    * any partitioning, no rand().
    *
    * Scale shape: the adjacency index (neighbor rank per node) is one
    * window partitioned by the node key — high-cardinality, so
    * per-partition size is a node's degree (hub skew is AQE's skew
    * case, and hubs are already capped upstream by the per-chunk
    * entity cap). Each hop is two equi-joins on the node key
    * (frontier→degree, frontier→indexed neighbor); the frontier
    * carries (seed, node) only, so at 100 TB the walk step shuffles
    * two narrow columns per live walk, never adjacency payloads. The
    * oracle unrolls the same hops as chained CTEs.
    */
  def qWalks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = edges(spark, dir).select("src", "dst").barrier()
    val adjN = e.withColumn("idx",
        row_number().over(Window.partitionBy("src").orderBy("dst")) - 1)
      .select(col("src").as("node"), col("idx").cast("long").as("idx"), col("dst"))
      .barrier(false)
    val degN = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
      .barrier(false)
    var frontier = degN.select(col("node").as("seed"), col("node"))
    var out = frontier.withColumn("step", lit(0))
    for (t <- 1 to WalkSteps) {
      frontier = frontier
        .join(degN, "node")
        .withColumn("idx",
          conv(substring(md5(concat(lit("walk#"), col("seed"), lit(s"#$t"))), 1, 8), 16, 10)
            .cast("long") % col("d"))
        .join(adjN, Seq("node", "idx"))
        .select(col("seed"), col("dst").as("node"))
        .barrier(false)
      out = out.unionByName(frontier.withColumn("step", lit(t)))
    }
    out.select("seed", "step", "node").orderBy("seed", "step")
  }

  private def walksSql: String = {
    val hops = (1 to WalkSteps).map { t =>
      s"""w$t AS MATERIALIZED (
         |  SELECT w.seed, a.dst AS node
         |  FROM w${t - 1} w JOIN deg ON w.node = deg.src
         |  JOIN adj a ON a.src = w.node
         |   AND a.idx = CAST('0x' || substr(md5('walk#' || w.seed || '#$t'), 1, 8) AS BIGINT) % deg.d)""".stripMargin
    }.mkString(",\n")
    val sels = (0 to WalkSteps).map(t => s"SELECT seed, $t AS step, node FROM w$t")
      .mkString("\nUNION ALL ")
    s"""WITH $CooccurSql,
       |adj AS MATERIALIZED (
       |  SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
       |  FROM edges),
       |w0 AS (SELECT src AS seed, src AS node FROM deg),
       |$hops
       |$sels
       |ORDER BY seed, step""".stripMargin
  }

  /** node2vec in/out bias (Grover & Leskovec 2016): α = 1/p for the
    * return hop, 1 for a common neighbor of the previous node, 1/q
    * otherwise — lifted to INTEGER weights (×lcm(p,q)) so the
    * cumulative-sum sampling below is exact in both engines. p = q =
    * 4 → return/far weight 1, common-neighbor weight 4: a
    * homophily-biased walk that stays inside the local cluster.
    */
  val N2vReturnW = 1
  val N2vCommonW = 4
  val N2vFarW = 1

  /** Deterministic node2vec walks — the SECOND-ORDER biased variant of
    * qWalks: the step-t choice depends on where the walk came from.
    * Each neighbor of the current node gets an integer bias weight
    * (see above; step 1 has no previous node → uniform), and the
    * "random" pick is r = hash(seed, t) mod Σw landing in the
    * neighbor's cumulative-weight slot (neighbors ordered by name) —
    * with all weights equal this degenerates to exactly qWalks'
    * hash-mod-degree indexed pick, and it is reproducible on any
    * engine/partitioning, no rand().
    *
    * Scale shape per step: the frontier joins the edge list once for
    * the neighbor set and LEFT-joins (prev, dst) against the edge set
    * for the common-neighbor mark — both narrow equi-joins; the
    * cumulative window partitions by walk (one current node's
    * neighbor list per partition, the same hub-skew class as qWalks'
    * adjacency index, capped upstream by the per-chunk entity cap).
    * The frontier carries (seed, prev, node) only.
    */
  def qNode2vec(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = edges(spark, dir).select("src", "dst").barrier()
    var frontier = e.select(col("src").as("seed")).distinct()
      .select(col("seed"), lit(null).cast("string").as("prev"),
        col("seed").as("node"))
    var out = frontier.select(col("seed"), lit(0).as("step"), col("node"))
    val slot = Window.partitionBy("seed").orderBy("dst")
    val whole = Window.partitionBy("seed")
    for (t <- 1 to WalkSteps) {
      val picked = frontier
        .join(e.select(col("src").as("node"), col("dst")), "node")
        .join(e.select(col("src").as("prev"), col("dst"),
          lit(1).as("pc")).distinct(), Seq("prev", "dst"), "left")
        .withColumn("w",
          when(col("prev").isNull, lit(N2vCommonW))           // step 1: uniform
            .when(col("dst") === col("prev"), lit(N2vReturnW)) // return hop
            .when(col("pc") === 1, lit(N2vCommonW))            // dist-1 from prev
            .otherwise(lit(N2vFarW)))                          // dist-2 (outward)
        .withColumn("cum", sum("w").over(slot))
        .withColumn("tot", sum("w").over(whole))
        .withColumn("r",
          conv(substring(md5(concat(lit("n2v#"), col("seed"), lit(s"#$t"))),
            1, 8), 16, 10).cast("long") % col("tot"))
        .filter(col("r") >= col("cum") - col("w") && col("r") < col("cum"))
        .select(col("seed"), col("node").as("prev"), col("dst").as("node"))
        .barrier(false)
      frontier = picked
      out = out.unionByName(picked.select(col("seed"), lit(t).as("step"), col("node")))
    }
    out.select("seed", "step", "node").orderBy("seed", "step")
  }

  /** The same biased hops unrolled as CTEs — identical weights,
    * identical cumulative slots, identical hash arithmetic.
    */
  private def node2vecSql: String = {
    val hops = (1 to WalkSteps).map { t =>
      val prev = s"v${t - 1}"
      s"""n$t AS MATERIALIZED (
         |  SELECT w.seed, w.node AS cur, e.dst,
         |    CASE WHEN w.prev IS NULL THEN $N2vCommonW
         |         WHEN e.dst = w.prev THEN $N2vReturnW
         |         WHEN pc.dst IS NOT NULL THEN $N2vCommonW
         |         ELSE $N2vFarW END AS w
         |  FROM $prev w JOIN edges e ON e.src = w.node
         |  LEFT JOIN (SELECT DISTINCT src, dst FROM edges) pc
         |    ON pc.src = w.prev AND pc.dst = e.dst),
         |v$t AS MATERIALIZED (
         |  SELECT seed, cur AS prev, dst AS node FROM (
         |    SELECT seed, cur, dst, w,
         |      sum(w) OVER (PARTITION BY seed ORDER BY dst) AS cum,
         |      sum(w) OVER (PARTITION BY seed) AS tot
         |    FROM n$t) x
         |  WHERE CAST('0x' || substr(md5('n2v#' || seed || '#$t'), 1, 8) AS BIGINT) % tot
         |        >= cum - w
         |    AND CAST('0x' || substr(md5('n2v#' || seed || '#$t'), 1, 8) AS BIGINT) % tot
         |        < cum)""".stripMargin
    }.mkString(",\n")
    val sels = (0 to WalkSteps).map(t => s"SELECT seed, $t AS step, node FROM v$t")
      .mkString("\nUNION ALL ")
    s"""WITH $CooccurSql,
       |v0 AS (SELECT DISTINCT src AS seed, CAST(NULL AS VARCHAR) AS prev,
       |  src AS node FROM edges),
       |$hops
       |$sels
       |ORDER BY seed, step""".stripMargin
  }

  val SampleFan1 = 3 // hop-1 fanout
  val SampleFan2 = 2 // hop-2 fanout per hop-1 neighbor

  /** GraphSAGE-style two-hop neighbor sampling (Hamilton et al. 2017)
    * — the minibatch neighborhoods a GNN trainer consumes: for every
    * seed node, keep SampleFan1 hop-1 neighbors and SampleFan2 hop-2
    * neighbors per hop-1 neighbor (no immediate backtrack), the
    * "random" pick being smallest hash(seed, hop, neighbor) —
    * reproducible across engines and partitionings.
    *
    * Scale shape: both per-group top-F picks run through the
    * TopKPerGroup heap (partial map-side heaps, ≤ F rows per group
    * per partition shuffle) — NEVER a rank window over a hub's full
    * neighbor list, which is the classic GNN-sampling skew killer;
    * the hop-2 expansion joins the already-sampled (seed, n1) pairs
    * (≤ F1 per seed) against the edge list, so fan-in is bounded by
    * F1·F2 per seed regardless of degree.
    */
  def qNeighborSample(spark: SparkSession, dir: String): DataFrame = {
    def h(tag: String, cols: Column*): Column =
      conv(substring(md5(concat_ws("#", (lit(tag) +: cols): _*)), 1, 8), 16, 10)
        .cast("long")
    val e = edges(spark, dir).select("src", "dst").barrier()
    val h1 = graft.plans.TopKPerGroup.topK(
        e.select(col("src").as("seed"), col("dst").as("n1"))
          .withColumn("nh", -h("ns1", col("seed"), col("n1"))),
        SampleFan1, Seq("seed"), orderCol = "nh", tieCol = "n1")
      .select("seed", "n1")
    val h2 = graft.plans.TopKPerGroup.topK(
        h1.join(e.withColumnRenamed("src", "n1"), "n1")
          .filter(col("dst") =!= col("seed"))
          .select(col("seed"), col("n1"), col("dst").as("n2"))
          .withColumn("nh", -h("ns2", col("seed"), col("n1"), col("n2"))),
        SampleFan2, Seq("seed", "n1"), orderCol = "nh", tieCol = "n2")
    h2.select("seed", "n1", "n2").orderBy("seed", "n1", "n2")
  }

  private def neighborSampleSql: String =
    s"""WITH $CooccurSql,
       |h1 AS MATERIALIZED (
       |  SELECT seed, n1 FROM (
       |    SELECT e.src AS seed, e.dst AS n1,
       |      row_number() OVER (PARTITION BY e.src ORDER BY
       |        CAST('0x' || substr(md5('ns1#' || e.src || '#' || e.dst), 1, 8) AS BIGINT),
       |        e.dst) AS rn
       |    FROM edges e)
       |  WHERE rn <= $SampleFan1),
       |h2 AS (
       |  SELECT seed, n1, n2 FROM (
       |    SELECT h.seed, h.n1, e.dst AS n2,
       |      row_number() OVER (PARTITION BY h.seed, h.n1 ORDER BY
       |        CAST('0x' || substr(md5('ns2#' || h.seed || '#' || h.n1 || '#' || e.dst), 1, 8) AS BIGINT),
       |        e.dst) AS rn
       |    FROM h1 h JOIN edges e ON e.src = h.n1
       |    WHERE e.dst <> h.seed)
       |  WHERE rn <= $SampleFan2)
       |SELECT seed, n1, n2 FROM h2 ORDER BY seed, n1, n2""".stripMargin

  val BtwSeeds = 4  // pivot sources (k-source approximation)
  val BtwDepth = 4  // BFS layer cap (graph diameter bound)

  /** Approximate betweenness centrality — k-source Brandes (Brandes
    * 2001; Bader et al.'s pivot sampling): exact forward BFS (path
    * counts σ per layer) and backward dependency accumulation
    * δ(v) = Σ_w σv/σw · (1 + δ(w)) from the BtwSeeds highest-degree
    * pivots, depth-capped at BtwDepth. The division rides the integer
    * micro-grid — each term is floor(σv·(1e6+Δw)/σw) in BIGINTs — so
    * accumulation order can never flip a value between engines.
    *
    * BIGINT headroom (data-DEPENDENT — the katz class): σ is a pure
    * path count bounded by D^BtwDepth (D = max degree), and
    * Δ_micro ≤ 10⁶·(1+R) with R the largest depth-bounded descendant
    * count (Brandes: δ(v) < reachable pairs), so the product
    * σv·(10⁶+Δw) needs σ_max·(1+R) < 9.2·10¹². At these SFs σ_max is
    * ~10³ (spec-checked); on a graph where D^4 approaches 10¹² the
    * right move is NOT a bigger integer but pivot-local frontier
    * truncation (cap σ per layer) or edge-weight rescaling — the same
    * remedy class as qKatz's derived divisor.
    *
    * Scale shape: the classic distributed BFS — each layer is one
    * equi-join frontier→edges + an anti-join against the visited set
    * + a (root, node) path-count sum; frontiers carry (root, node,
    * σ) only. Backward is one join per depth against the
    * next-deeper layer. Cost is pivots × BFS, the standard
    * approximation trade (exact betweenness is all-pairs — O(V·E) —
    * and not a 100 TB operation for any engine).
    */
  def qBetweenness(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir).select("src", "dst").barrier()
    val seeds = e.groupBy("src").agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("src")).limit(BtwSeeds)
      .select(col("src").as("root"))
    val l0 = seeds.select(col("root"), col("root").as("node"), lit(1L).as("sigma"))
      .barrier(false)
    val layers = Loops.layeredBfs(l0, l0.select("root", "node").barrier(false),
        Seq("root", "node"), BtwDepth)(
      _.select(col("root"), col("node").as("src"), col("sigma"))
        .join(e, "src")
        .select(col("root"), col("dst").as("node"), col("sigma"))
        .groupBy("root", "node").agg(sum("sigma").as("sigma")),
      (layer, _) => layer.select("root", "node")).layers
    var delta: DataFrame = null
    var parts = Vector.empty[DataFrame]
    for (l <- (BtwDepth - 1) to 1 by -1) {
      val nd = (if (delta == null)
          layers(l + 1).withColumn("dw", lit(0L))
        else
          layers(l + 1).join(
              delta.select(col("root"), col("node"), col("delta").as("dw")),
              Seq("root", "node"), "left")
            .withColumn("dw", coalesce(col("dw"), lit(0L))))
        .select(col("root"), col("node").as("dst"),
          col("sigma").as("sw"), col("dw"))
      delta = layers(l)
        .select(col("root"), col("node").as("src"), col("sigma").as("sv"))
        .join(e, "src")
        .join(nd, Seq("root", "dst"))
        .withColumn("term", expr("sv * (1000000 + dw) div sw"))
        .groupBy(col("root"), col("src"))
        .agg(sum("term").as("delta"))
        .withColumnRenamed("src", "node")
        .barrier(false)
      parts :+= delta
    }
    parts.map(_.select("node", "delta")).reduce(_ unionByName _)
      .groupBy(col("node").as("name")).agg(sum("delta").as("bc_micro"))
      .withColumn("bc", round(col("bc_micro") / 1e6, 6))
      .orderBy(col("bc_micro").desc, col("name"))
  }

  private def betweennessSql: String = {
    val fwd = (1 to BtwDepth).map { l =>
      s"""l$l AS MATERIALIZED (
         |  SELECT p.root, e.dst AS node, CAST(sum(p.sigma) AS BIGINT) AS sigma
         |  FROM l${l - 1} p JOIN edges e ON e.src = p.node
         |  WHERE NOT EXISTS (SELECT 1 FROM vis${l - 1} v
         |    WHERE v.root = p.root AND v.node = e.dst)
         |  GROUP BY p.root, e.dst),
         |vis$l AS MATERIALIZED (
         |  SELECT * FROM vis${l - 1} UNION ALL SELECT root, node FROM l$l)""".stripMargin
    }.mkString(",\n")
    val bwd = ((BtwDepth - 1) to 1 by -1).map { l =>
      val dwExpr =
        if (l == BtwDepth - 1) "0"
        else s"coalesce(d${l + 1}.delta, 0)"
      val dJoin =
        if (l == BtwDepth - 1) ""
        else s"\n  LEFT JOIN d${l + 1} ON d${l + 1}.root = b.root AND d${l + 1}.node = b.node"
      s"""d$l AS MATERIALIZED (
         |  SELECT a.root, a.node,
         |    CAST(sum(a.sigma * (1000000 + $dwExpr) // b.sigma) AS BIGINT) AS delta
         |  FROM l$l a JOIN edges e ON e.src = a.node
         |  JOIN l${l + 1} b ON b.root = a.root AND b.node = e.dst$dJoin
         |  GROUP BY a.root, a.node)""".stripMargin
    }.mkString(",\n")
    val un = ((BtwDepth - 1) to 1 by -1).map(l => s"SELECT node, delta FROM d$l")
      .mkString(" UNION ALL ")
    s"""WITH $CooccurSql,
       |seeds AS (SELECT src AS root FROM (
       |  SELECT src, count(*) AS dg FROM edges GROUP BY src
       |  ORDER BY dg DESC, src LIMIT $BtwSeeds)),
       |l0 AS (SELECT root, root AS node, CAST(1 AS BIGINT) AS sigma FROM seeds),
       |vis0 AS (SELECT root, node FROM l0),
       |$fwd,
       |$bwd
       |SELECT node AS name, CAST(sum(delta) AS BIGINT) AS bc_micro,
       |  round(CAST(sum(delta) AS BIGINT) / 1000000.0, 6) AS bc
       |FROM ($un)
       |GROUP BY node ORDER BY bc_micro DESC, name""".stripMargin
  }

  val TrussSupport = 2L  // k = 4 truss: every edge closes ≥ k−2 triangles
  val CloseSeeds = 8
  val CloseDepth = 4

  /** Per-EDGE triangle support + the k=4 truss membership flag — the
    * edge-strength screen community detection preprocesses with
    * (k-truss peeling starts from exactly this table; one peel round
    * is the same query re-run on the surviving edges). support(u,v) =
    * |N(u) ∩ N(v)|, enumerated from the LOWER-degree endpoint only
    * (same degree-orientation bound as qTriangles: the fan-out at a
    * celebrity node never materializes because its edges enumerate
    * from their small-degree other ends — O(m·d_min), not O(m·d_max)).
    * Two equi-joins + one groupBy; no window, no cartesian.
    */
  /** Per-pair triangle support within the graph given by `e` (both-
    * direction edge list): |N(e1) ∩ N(e2)| \\ {e1, e2}, enumerated at
    * the LOWER-degree endpoint only (degree orientation bounds the
    * wedge fan-out by d_min, so a celebrity node never materializes
    * its neighbor list at its own center). Pairs with no common
    * neighbor come back with support 0.
    */
  private def supportOf(pairs: DataFrame, e: DataFrame): DataFrame = {
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
    val lt = struct(col("d1"), col("e1")) < struct(col("d2"), col("e2"))
    val oriented = pairs
      .join(deg.select(col("src").as("e1"), col("d").as("d1")), "e1")
      .join(deg.select(col("src").as("e2"), col("d").as("d2")), "e2")
      .select(col("e1"), col("e2"),
        when(lt, col("e1")).otherwise(col("e2")).as("lo"),
        when(lt, col("e2")).otherwise(col("e1")).as("hi"))
    val sup = oriented
      .join(e.select(col("src").as("lo"), col("dst").as("x")), "lo")
      .filter(col("x") =!= col("hi"))
      .join(e.select(col("src").as("hi"), col("dst").as("x")), Seq("hi", "x"))
      .groupBy("e1", "e2").agg(count(lit(1)).as("support"))
    pairs.join(sup, Seq("e1", "e2"), "left")
      .select(col("e1"), col("e2"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** One-row graph overview — the "before you run anything" dashboard
    * (node/edge counts, weight mass, degree spread, density): two tiny
    * aggregates over the co-occurrence build, ratios on the integer
    * micro-grid. The whole corpus collapses before any of the numbers
    * are combined, so this costs one mentions pass at any scale.
    */
  def qGraphSummary(spark: SparkSession, dir: String): DataFrame = {
    val co = cooccur(spark, dir).barrier(false)
    val deg = co.select(col("e1").as("n")).unionByName(co.select(col("e2").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
      max(col("d")).as("max_degree"))
    val edgesAgg = co.agg(count(lit(1)).as("n_edges"),
      sum(col("weight")).as("total_weight"))
    nodes.crossJoin(broadcast(edgesAgg))
      .select(col("n_nodes"), col("n_edges"), col("total_weight"),
        col("max_degree"),
        // greatest(…, 1): the dashboard row must survive a degenerate
        // corpus whose graph is empty (0 or 1 nodes), not DIVIDE_BY_ZERO
        round(expr("n_edges * 2 * 1000000 div greatest(n_nodes, 1)") / lit(1e6), 6)
          .as("avg_degree"),
        round(expr("n_edges * 2 * 1000000 div greatest(n_nodes * (n_nodes - 1), 1)")
          / lit(1e6), 6).as("density"))
  }

  def qEdgeSupport(spark: SparkSession, dir: String): DataFrame = {
    // ONE co-occurrence pipeline: the both-direction edge list derives
    // from the checkpointed pair table (edges(spark, dir) would re-run
    // the mentions scan a second time — the qKtrussPeel shape)
    val co = cooccur(spark, dir).barrier(false)
    val e = co.select(col("e1").as("src"), col("e2").as("dst"))
      .unionByName(co.select(col("e2").as("src"), col("e1").as("dst")))
    co.join(supportOf(co.select("e1", "e2"), e), Seq("e1", "e2"))
      .select(col("e1"), col("e2"), col("weight"), col("support"),
        when(col("support") >= TrussSupport, 1L)
          .otherwise(0L).as("in_truss4"))
      .orderBy("e1", "e2")
  }

  /** Two unrolled rounds of k=4 truss peeling on top of qEdgeSupport:
    * drop edges with support < k−2, recompute support WITHIN the
    * surviving subgraph (peeling an edge removes the triangles it
    * closed, so survivors' support can only fall), and report the
    * survivors with both rounds' support and the still-in-truss flag.
    * Fixed round count keeps the unrolled-CTE oracle exact — a
    * production peel iterates this same query to fixpoint, and each
    * round is the identical two-equi-join plan on a shrinking edge
    * list (the convergence pattern qKcore uses for degree peeling).
    */
  def qKtrussPeel(spark: SparkSession, dir: String): DataFrame = {
    val co = cooccur(spark, dir).barrier(false)
    def bothDir(c: DataFrame) =
      c.select(col("e1").as("src"), col("e2").as("dst"))
        .unionByName(c.select(col("e2").as("src"), col("e1").as("dst")))
    val s1 = supportOf(co.select("e1", "e2"), bothDir(co))
      .withColumnRenamed("support", "s1")
    val surv = co.join(s1.filter(col("s1") >= TrussSupport), Seq("e1", "e2"))
      .barrier(false)
    val s2 = supportOf(surv.select("e1", "e2"), bothDir(surv))
      .withColumnRenamed("support", "s2")
    surv.join(s2, Seq("e1", "e2"))
      .select(col("e1"), col("e2"), col("weight"), col("s1"), col("s2"),
        when(col("s2") >= TrussSupport, 1L).otherwise(0L).as("in_truss"))
      .orderBy("e1", "e2")
  }

  /** Reachability BFS from every root in `seeds` (root) over the edge
    * list `e` (src, dst): layer l holds the (root, node) pairs first
    * reached at hop l; the visited set is every pair reached so far.
    * Shared by qCloseness and qAnf.
    */
  private def rootedBfs(e: DataFrame, seeds: DataFrame, hops: Int): Loops.Bfs = {
    val l0 = seeds.select(col("root"), col("root").as("node")).barrier(false)
    Loops.layeredBfs(l0, l0, Seq("root", "node"), hops)(
      _.select(col("root"), col("node").as("src"))
        .join(e, "src")
        .select(col("root"), col("dst").as("node"))
        .distinct(),
      (layer, _) => layer)
  }

  /** Harmonic closeness centrality from the CloseSeeds highest-degree
    * entities (the exact-for-seeds / sampled-for-the-graph protocol
    * qBetweenness uses): H(root) = Σ_{v reached} 1/d(root,v), with the
    * BFS bounded at CloseDepth hops — harmonic, not classic closeness,
    * so disconnected remainders contribute 0 instead of poisoning the
    * mean. Each 1/d term is the integer micro-unit 1000000 div d, so
    * per-root sums are order-independent and engine-identical.
    * Scale shape: one frontier join per hop on the pre-checkpointed
    * edge list; frontiers carry (root, node) pairs only.
    */
  def qCloseness(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir).select("src", "dst").barrier()
    val seeds = e.groupBy("src").agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("src")).limit(CloseSeeds)
      .select(col("src").as("root"))
    val bfs = rootedBfs(e, seeds, CloseDepth)
    val acc = (1 to CloseDepth).map { l =>
      bfs.layers(l).groupBy("root")
        .agg((count(lit(1)) * lit(1000000L / l)).as("h"))
    }.reduce(_ unionByName _)
    val reached = bfs.visited.last.groupBy("root")
      .agg((count(lit(1)) - 1).as("n_reached"))
    reached.join(acc.groupBy("root").agg(sum("h").as("h_micro")),
        Seq("root"), "left")
      .select(col("root").as("name"), col("n_reached"),
        coalesce(col("h_micro"), lit(0L)).as("h_micro"),
        round(coalesce(col("h_micro"), lit(0L)) / lit(1e6), 6).as("harmonic"))
      .orderBy(col("h_micro").desc, col("name"))
  }

  private def closenessSql: String = {
    val levels = (1 to CloseDepth).map { l =>
      s"""f$l AS MATERIALIZED (
         |  SELECT DISTINCT p.root, e.dst AS node
         |  FROM f${l - 1} p JOIN edges e ON e.src = p.node
         |  WHERE NOT EXISTS (SELECT 1 FROM v${l - 1} v
         |    WHERE v.root = p.root AND v.node = e.dst)),
         |v$l AS MATERIALIZED (
         |  SELECT * FROM v${l - 1} UNION ALL SELECT root, node FROM f$l)""".stripMargin
    }.mkString(",\n")
    val contrib = (1 to CloseDepth)
      .map(l => s"SELECT root, CAST(count(*) * ${1000000L / l} AS BIGINT) AS h," +
        s" CAST(count(*) AS BIGINT) AS c FROM f$l GROUP BY root")
      .mkString("\n  UNION ALL ")
    s"""WITH $CooccurSql,
       |seeds AS (SELECT src AS root FROM (
       |  SELECT src, count(*) AS dg FROM edges GROUP BY src
       |  ORDER BY dg DESC, src LIMIT $CloseSeeds)),
       |v0 AS (SELECT root, root AS node FROM seeds),
       |f0 AS (SELECT root, node FROM v0),
       |$levels,
       |h AS (SELECT root, CAST(sum(h) AS BIGINT) AS h_micro,
       |  CAST(sum(c) AS BIGINT) AS n_reached FROM (
       |  $contrib) GROUP BY root)
       |SELECT s.root AS name, coalesce(n_reached, 0) AS n_reached,
       |  coalesce(h_micro, 0) AS h_micro,
       |  round(coalesce(h_micro, 0) / 1000000.0, 6) AS harmonic
       |FROM seeds s LEFT JOIN h ON h.root = s.root
       |ORDER BY h_micro DESC, name""".stripMargin
  }

  val AnfSeeds = 16
  val AnfHops = 4

  /** Neighborhood function from sampled sources (ANF — Palmer et al.
    * KDD '02): N(h) = #(root, node) pairs with d(root, node) ≤ h,
    * from AnfSeeds deterministic pseudo-uniform pivots. Pivots are
    * md5-ORDERED, not degree-ordered like qBetweenness/qCloseness's —
    * ANF estimates a population average, and high-degree pivots would
    * bias reach upward. Output per hop: the pair count, the average
    * ball size on the integer micro-grid, and the permille-of-final
    * reach curve whose 90% knee is the effective diameter.
    *
    * Scale shape: the same bounded frontier/visited BFS as closeness
    * (one equi-join + anti-join per hop); state is ≤ AnfSeeds × V
    * (root, node) pairs. Cost is linear in seeds — the all-nodes
    * scale path is qAnfHll (HyperANF) below, which replaces the
    * exact visited set with fixed-width register state.
    */
  def qAnf(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir).select("src", "dst").barrier()
    val seeds = e.select("src").distinct()
      .orderBy(md5(col("src")), col("src")).limit(AnfSeeds)
      .select(col("src").as("root"))
      .barrier(false) // read by the pair init AND the seed count
    val visited = rootedBfs(e, seeds, AnfHops).visited
    val counts = visited.zipWithIndex.map { case (v, h) =>
      v.agg(count(lit(1)).as("n_pairs")).withColumn("hop", lit(h.toLong))
    }.reduce(_ unionByName _)
    val last = visited.last.agg(count(lit(1)).as("n_max"))
    // divide by the ACTUAL pivot count, not the AnfSeeds cap — a graph
    // with fewer than AnfSeeds nodes must still report avg ball = 1.0
    // at hop 0 (both 1-row aggregates broadcast into the 5-row frame)
    val nSeeds = seeds.agg(count(lit(1)).as("n_seeds"))
    counts.crossJoin(broadcast(last)).crossJoin(broadcast(nSeeds))
      .select(col("hop"), col("n_pairs"),
        expr("n_pairs * 1000000 div greatest(n_seeds, 1)").as("avg_reach_micro"),
        expr("n_pairs * 1000000 div greatest(n_max, 1)").as("pct_of_max_micro"))
      .orderBy("hop")
  }

  private def anfSql: String = {
    val levels = (1 to AnfHops).map { h =>
      s"""f$h AS MATERIALIZED (
         |  SELECT DISTINCT p.root, e.dst AS node
         |  FROM f${h - 1} p JOIN edges e ON e.src = p.node
         |  WHERE NOT EXISTS (SELECT 1 FROM v${h - 1} v
         |    WHERE v.root = p.root AND v.node = e.dst)),
         |v$h AS MATERIALIZED (
         |  SELECT * FROM v${h - 1} UNION ALL SELECT root, node FROM f$h)""".stripMargin
    }.mkString(",\n")
    val cnt = (0 to AnfHops)
      .map(h => s"SELECT $h AS hop, count(*) AS n_pairs FROM v$h")
      .mkString("\n  UNION ALL ")
    s"""WITH $CooccurSql,
       |seeds AS MATERIALIZED (
       |  SELECT src AS root FROM (SELECT DISTINCT src FROM edges)
       |  ORDER BY md5(src), src LIMIT $AnfSeeds),
       |v0 AS (SELECT root, root AS node FROM seeds),
       |f0 AS (SELECT root, node FROM v0),
       |$levels,
       |c AS ($cnt),
       |ns AS (SELECT count(*) AS n_seeds FROM seeds),
       |mx AS (SELECT n_pairs AS n_max FROM c WHERE hop = $AnfHops)
       |SELECT CAST(hop AS BIGINT) AS hop, CAST(n_pairs AS BIGINT) AS n_pairs,
       |  CAST(n_pairs * 1000000 // greatest(n_seeds, 1) AS BIGINT) AS avg_reach_micro,
       |  CAST(n_pairs * 1000000 // greatest(n_max, 1) AS BIGINT) AS pct_of_max_micro
       |FROM c CROSS JOIN mx CROSS JOIN ns ORDER BY hop""".stripMargin
  }

  /** Register count, α_m·m², AND the window-fixed rho divisor are THE
    * SAME layout constants as qHllDistinct's — aliased, not
    * redefined, so the "shared discipline" cannot silently fork if
    * one side is retuned (Sketches.RhoWindowDiv owns the 52-bit-
    * window invariant and its guard; both sketches read it).
    */
  val AnfHllM: Int = graft.operators.Sketches.HllM
  val AnfHllAlphaMm: Double = graft.operators.Sketches.HllAlphaMm
  private val RhoWindowDiv: Int = graft.operators.Sketches.RhoWindowDiv

  /** Linear-counting estimates m·ln(m/v0) pre-rounded to the integer
    * MILLI grid IN SCALA and inlined as the same CASE literal into
    * both engines — so no libm call (whose last-ulp behaviour differs
    * across runtimes) ever touches a hashed value. v0 = 0 never hits
    * the CASE (the branch requires v_zero > 0). Milli, not micro:
    * nf_milli = N(h)·10³ must fit BIGINT, and N(h) ≤ V·avg-ball can
    * reach ~10¹⁴ on a 10M-node connected graph — a micro grid
    * overflows exactly at the scale the operator exists for (the
    * katz-class bound: N(h) < 9.2·10¹⁵ holds to billions of nodes at
    * realistic ball sizes; per-node precision 10⁻³ is far below the
    * sketch's own error).
    */
  private val anfHllLcCase: String =
    (1 until AnfHllM).map { v0 =>
      val milli =
        math.round(AnfHllM.toDouble * math.log(AnfHllM.toDouble / v0) * 1e3)
      s"WHEN $v0 THEN $milli"
    }.mkString("CASE v_zero ", " ", " ELSE 0 END")

  /** HyperANF (Boldi–Rosa–Vigna WWW '11): the neighborhood function
    * over ALL nodes with fixed-width HLL register state instead of
    * exact visited sets — N̂(h) = Σ_v |B(v,h)|^ from per-node sketches
    * B_v updated by register-max over in-neighbours each round. This
    * is the 100 TB path for distance distributions / effective
    * diameter: state is V × m (node, reg, mrho) rows — never V² — and
    * each round is one shuffle-on-src equi-join + a (node, reg) max,
    * both AQE-friendly; the register union IS groupBy-max, mergeable
    * in any order. Register/rho derivation and the 2^53 integer
    * harmonic-sum scale are shared with qHllDistinct (the discipline
    * that makes the estimate hash-identical cross-engine); the
    * small-range correction reads a pre-rounded milli-grid CASE so no
    * runtime ln() is involved. ORACLE-CHECKED end to end.
    */
  /** Per-node HLL register init: node → (node, reg, mrho). The rho
    * suffix is h div RhoWindowDiv: a clean 52-bit field that fits the
    * 13-hex window (a narrower register split left a 54-bit suffix
    * whose variable-width window skewed rho off its geometric law —
    * the estimate ran +50% hot; and m = 64 itself put hop-3 balls in
    * the raw-estimator bias zone n ≈ 2.5-5m that HLL++'s bias tables
    * exist for — m = 256 keeps them in the accurate linear-counting
    * regime instead). Shared by qAnfHll and the standing-table path
    * (Catalog.materializeAnf / mergeAnfDocs).
    */
  private[graft] def anfRegInit(nodes: DataFrame): DataFrame =
    nodes
      .withColumn("h",
        conv(substring(md5(concat(lit("anf#"), col("node"))), 1, 15), 16, 10)
          .cast("long"))
      .withColumn("reg", col("h") % AnfHllM)
      .withColumn("hs", lpad(hex(expr(s"h div $RhoWindowDiv")), 13, "0"))
      .withColumn("z", length(regexp_extract(col("hs"), "^0*", 0)))
      .withColumn("d1", expr("substr(hs, z + 1, 1)"))
      .withColumn("mrho",
        when(col("z") === 13, lit(53))
          .otherwise(col("z") * 4 + lit(1)
            + when(col("d1") === "1", 3)
              .when(col("d1").isin("2", "3"), 2)
              .when(col("d1").isin("4", "5", "6", "7"), 1)
              .otherwise(0)))
      .select("node", "reg", "mrho")

  /** Hop-grouped HyperANF estimates over a (hop, node, reg, mrho)
    * register frame — one row per hop: (hop, n_nodes, nf_milli). ONE
    * aggregation plan regardless of hop count, so the standing-table
    * serving path scans the register table once instead of once per
    * hop. Shared by qAnfHll (via anfEstAt) and Catalog.anfEstimates.
    */
  private[graft] def anfEstByHop(r: DataFrame): DataFrame = {
    import graft.operators.Sketches.HllPow53
    r.groupBy("hop", "node")
      .agg(count(lit(1)).as("n_present"),
        sum(expr("shiftleft(cast(1 as bigint), cast(53 - mrho as int))"))
          .as("s_present"))
      .withColumn("v_zero", lit(AnfHllM.toLong) - col("n_present"))
      .withColumn("s_scaled",
        col("s_present") + col("v_zero") * lit(HllPow53))
      .withColumn("est_raw",
        lit(AnfHllAlphaMm * HllPow53.toDouble) / col("s_scaled").cast("double"))
      .withColumn("est_milli",
        when(col("est_raw") <= 2.5 * AnfHllM && col("v_zero") > 0,
          expr(s"CAST(($anfHllLcCase) AS BIGINT)"))
          .otherwise(round(col("est_raw") * lit(1000.0)).cast("long")))
      .groupBy("hop")
      .agg(count(lit(1)).as("n_nodes"), sum("est_milli").as("nf_milli"))
  }

  /** Single-hop convenience over [[anfEstByHop]] for the iterative
    * query path (per-round frames carry no hop column).
    */
  private[graft] def anfEstAt(r: DataFrame, hop: Int): DataFrame =
    anfEstByHop(r.withColumn("hop", lit(hop.toLong)))

  def qAnfHll(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir).select("src", "dst").barrier()
    var regs = anfRegInit(e.select(col("src").as("node")).distinct())
      .barrier(false)
    // Systolic delta propagation (the HyperANF paper's key trick):
    // only registers that IMPROVED last round cross the edge join.
    // Register merge is a monotone max-lattice, so a value absorbed
    // without improving a neighbour's slot is dominated there and the
    // fixpoint per round is identical to full propagation (the spec
    // replays the FULL recurrence and pins nf_milli equality). Early
    // rounds are cheap because few registers exist; late rounds
    // because few still change — the edge join never carries the
    // saturated V×m state.
    var changed = regs
    var out = anfEstAt(regs, 0)
    for (h <- 1 to AnfHops) {
      val prop = changed.withColumnRenamed("node", "src").join(e, "src")
        .select(col("dst").as("node"), col("reg"), col("mrho"))
      val merged = regs.unionByName(prop)
        .groupBy("node", "reg").agg(max("mrho").as("mrho"))
        .barrier(false)
      changed = merged
        .join(regs.withColumnRenamed("mrho", "old"), Seq("node", "reg"), "left")
        .filter(col("old").isNull || col("mrho") > col("old"))
        .select("node", "reg", "mrho")
        .barrier(false)
      regs = merged
      out = out.unionByName(anfEstAt(regs, h))
    }
    out.select(col("hop"), col("n_nodes"), col("nf_milli"),
        round(col("nf_milli") / lit(1000.0), 3).as("nf_est"))
      .orderBy("hop")
  }

  /** Effective diameter (Palmer/HyperANF convention): the smallest —
    * linearly interpolated — hop h where the neighborhood function
    * reaches `frac` (default 0.9) of its final value. Consumes either
    * qAnfHll's output or Catalog.anfEstimates' (same schema); a
    * driver-side fold over AnfHops+1 rows — the scalar a capacity
    * planner or a "how connected is this graph" dashboard actually
    * wants from the distance distribution.
    */
  def effectiveDiameter(est: DataFrame, frac: Double = 0.9): Double = {
    // coalesce: an edge-free corpus yields rows with NULL nf_milli
    // (global agg over zero nodes) — an empty graph's diameter is 0
    val nf = est.orderBy("hop")
      .select(coalesce(col("nf_milli"), lit(0L)))
      .collect().map(_.getLong(0).toDouble)
    require(nf.nonEmpty, "empty neighborhood function")
    val target = frac * nf.last
    val h = nf.indexWhere(_ >= target)
    if (h <= 0) 0.0
    else {
      // interpolate within the step that crosses the target
      val (lo, hi) = (nf(h - 1), nf(h))
      if (hi == lo) h.toDouble else (h - 1) + (target - lo) / (hi - lo)
    }
  }

  private def anfHllSql: String = {
    import graft.operators.Sketches.HllPow53
    val c = AnfHllAlphaMm * HllPow53.toDouble
    val rounds = (1 to AnfHops).map { h =>
      s"""r$h AS MATERIALIZED (
         |  SELECT node, reg, max(mrho) AS mrho FROM (
         |    SELECT node, reg, mrho FROM r${h - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, p.reg, p.mrho
         |    FROM r${h - 1} p JOIN edges e ON e.src = p.node)
         |  GROUP BY node, reg)""".stripMargin
    }.mkString(",\n")
    val ests = (0 to AnfHops).map { h =>
      s"""a$h AS (SELECT node, count(*) AS n_present,
         |    CAST(sum(CAST(1 AS BIGINT) << (53 - mrho)) AS BIGINT) AS s_present
         |  FROM r$h GROUP BY node),
         |s$h AS (SELECT node, $AnfHllM - n_present AS v_zero,
         |    s_present + ($AnfHllM - n_present) * $HllPow53 AS s_scaled
         |  FROM a$h),
         |e$h AS (SELECT node,
         |    CASE WHEN $c / CAST(s_scaled AS DOUBLE) <= ${2.5 * AnfHllM}
         |        AND v_zero > 0
         |      THEN CAST(($anfHllLcCase) AS BIGINT)
         |      ELSE CAST(round($c / CAST(s_scaled AS DOUBLE) * 1000.0) AS BIGINT)
         |    END AS est_milli
         |  FROM s$h),
         |c$h AS (SELECT $h AS hop, count(*) AS n_nodes,
         |  CAST(sum(est_milli) AS BIGINT) AS nf_milli FROM e$h)""".stripMargin
    }.mkString(",\n")
    val un = (0 to AnfHops).map(h => s"SELECT * FROM c$h")
      .mkString("\n  UNION ALL ")
    s"""WITH $CooccurSql,
       |h0 AS (SELECT DISTINCT src AS node FROM edges),
       |h1 AS (SELECT node,
       |    CAST('0x' || substr(md5('anf#' || node), 1, 15) AS BIGINT) AS h
       |  FROM h0),
       |h2 AS (SELECT node, h % $AnfHllM AS reg,
       |    lpad(hex(h // $RhoWindowDiv), 13, '0') AS hs FROM h1),
       |r0 AS MATERIALIZED (SELECT node, reg,
       |    CASE WHEN z = 13 THEN 53
       |      ELSE z * 4 + 1 + (CASE WHEN d1 = '1' THEN 3
       |        WHEN d1 IN ('2','3') THEN 2
       |        WHEN d1 IN ('4','5','6','7') THEN 1 ELSE 0 END)
       |    END AS mrho
       |  FROM (SELECT node, reg,
       |      length(regexp_extract(hs, '^0*')) AS z,
       |      substr(hs, length(regexp_extract(hs, '^0*')) + 1, 1) AS d1
       |    FROM h2)),
       |$rounds,
       |$ests
       |SELECT CAST(hop AS BIGINT) AS hop, CAST(n_nodes AS BIGINT) AS n_nodes,
       |  nf_milli, round(nf_milli / 1000.0, 3) AS nf_est
       |FROM ($un) ORDER BY hop""".stripMargin
  }

  /** Degree assortativity of the co-occurrence graph — the Pearson
    * correlation of (deg(u), deg(v)) over both orientations of every
    * edge (Newman's r): positive means hubs link to hubs (a resilient
    * core), negative means hub-and-spoke (delete the hub and the
    * graph shatters — the property that decides whether LPA/PageRank
    * results survive entity-resolution merges). All six moment sums
    * are exact long arithmetic on degrees (bounded by the skew cap ×
    * chunk count); doubles only touch the final single-row formula,
    * in identical expression order on both engines.
    *
    * Scale shape: two broadcast-or-shuffle equi-joins of the edge
    * list against the degree table, one map-side-combined global
    * aggregate — no window, no iteration.
    */
  def qAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir).select("src", "dst")
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
      .barrier(false) // read by both endpoint joins
    val xy = e
      .join(deg.select(col("src"), col("d").as("x")), "src")
      .join(deg.select(col("src").as("dst"), col("d").as("y")), "dst")
    xy.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"),
        sum(expr("y * y")).as("syy"))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("num", col("nd") * col("sxy").cast("double")
        - col("sx").cast("double") * col("sy").cast("double"))
      .withColumn("den", sqrt((col("nd") * col("sxx").cast("double")
        - col("sx").cast("double") * col("sx").cast("double"))
        * (col("nd") * col("syy").cast("double")
          - col("sy").cast("double") * col("sy").cast("double"))))
      .select(expr("n div 2").as("n_edges"),
        round(col("sx").cast("double") / col("nd"), 6).as("mean_end_degree"),
        round(when(col("den") > 0, col("num") / col("den")).otherwise(0.0), 6)
          .as("assortativity"))
  }

  val TrendTopK = 20

  /** Entity trend risers: weekly mention counts per entity with the
    * week-over-week delta, top TrendTopK risers (the "what broke into
    * the news this week" feed a newsroom dashboard renders; week is
    * derived from the same deterministic publishing_date as
    * Props.publishingDate, kept in integer day-of-year arithmetic so
    * both engines walk exact integers end to end — a missing previous
    * week reads as 0, because "new this week" IS the strongest rise).
    *
    * Scale shape: the count groupBy is map-side combined on
    * (name, label, week) — gazetteer-bounded × 53 cardinality, NOT
    * corpus-sized; the week-over-week join is a self-join of that
    * small aggregate; the global top-K is TakeOrdered (orderBy+limit)
    * so the rank window only ever sees TrendTopK rows.
    */
  def qEntityTrends(spark: SparkSession, dir: String): DataFrame = {
    val c = TextPipeline.mentions(spark, dir)
      .withColumn("week", expr("((doc_id * 37) % 365) div 7"))
      .groupBy("name", "label", "week")
      .agg(count(lit(1)).as("n_mentions"))
    val prev = c.select(col("name"), col("label"),
      (col("week") + 1).as("week"), col("n_mentions").as("prev_mentions"))
    val top = c.join(prev, Seq("name", "label", "week"), "left")
      .withColumn("prev_mentions", coalesce(col("prev_mentions"), lit(0L)))
      .withColumn("delta", col("n_mentions") - col("prev_mentions"))
      .orderBy(col("delta").desc, col("name"), col("week"))
      .limit(TrendTopK)
    top.withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("delta").desc, col("name"), col("week"))))
      .select("name", "label", "week", "n_mentions", "prev_mentions",
        "delta", "rk")
      .orderBy("rk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_entity_trends" -> qEntityTrends,
    "q_assortativity" -> qAssortativity,
    "q_edge_support" -> qEdgeSupport,
    "q_ktruss_peel" -> qKtrussPeel,
    "q_graph_summary" -> qGraphSummary,
    "q_closeness" -> qCloseness,
    "q_betweenness" -> qBetweenness,
    "q_neighbor_sample" -> qNeighborSample,
    "q_walks" -> qWalks,
    "q_node2vec" -> qNode2vec,
    "q_cooccur" -> qCooccur,
    "q_pmi_cooccur" -> qPmiCooccur,
    "q_entity_degree" -> qEntityDegree,
    "q_pagerank" -> qPagerank,
    "q_katz" -> qKatz,
    "q_ppr" -> qPagerankPersonalized,
    "q_link_prediction" -> qLinkPrediction,
    "q_hits" -> qHits,
    "q_pagerank_weighted" -> qPagerankWeighted,
    "q_triangles" -> qTriangles,
    "q_shortest_path" -> qShortestPath,
    "q_wsp" -> qWeightedShortestPath,
    "q_kcore" -> qKcore,
    "q_lpa_communities" -> qLpaCommunities,
    "q_modularity" -> qModularity,
    "q_louvain" -> qLouvain,
    "q_components" -> qComponents,
    "q_degree_dist" -> qDegreeDist,
    "q_anf" -> qAnf,
    "q_anf_hll" -> qAnfHll)

  val oracles: Map[String, String] = Map(
    "q_entity_trends" ->
      s"""WITH ${TextPipeline.MentionsSql},
         |mw AS (SELECT name, label,
         |    CAST(((doc_id * 37) % 365) // 7 AS BIGINT) AS week FROM mentions),
         |c AS (SELECT name, label, week, CAST(count(*) AS BIGINT) AS n_mentions
         |  FROM mw GROUP BY 1, 2, 3),
         |t AS (SELECT c.name, c.label, c.week, c.n_mentions,
         |    CAST(COALESCE(p.n_mentions, 0) AS BIGINT) AS prev_mentions,
         |    c.n_mentions - CAST(COALESCE(p.n_mentions, 0) AS BIGINT) AS delta
         |  FROM c LEFT JOIN c p
         |    ON p.name = c.name AND p.label = c.label AND p.week = c.week - 1)
         |SELECT name, label, week, n_mentions, prev_mentions, delta, rk FROM (
         |  SELECT *, row_number() OVER (ORDER BY delta DESC, name, week) AS rk
         |  FROM t)
         |WHERE rk <= $TrendTopK ORDER BY rk""".stripMargin,
    "q_assortativity" ->
      s"""WITH $CooccurSql,
         |xy AS (SELECT a.d AS x, b.d AS y
         |  FROM edges e JOIN deg a ON a.src = e.src
         |  JOIN deg b ON b.src = e.dst),
         |mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx,
         |    CAST(sum(y * y) AS BIGINT) AS syy
         |  FROM xy)
         |SELECT n // 2 AS n_edges,
         |  round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_end_degree,
         |  round(CASE WHEN sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) > 0
         |    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         |    ELSE 0 END, 6) AS assortativity
         |FROM mom""".stripMargin,
    "q_closeness" -> closenessSql,
    "q_edge_support" ->
      s"""WITH $CooccurSql,
         |sup AS MATERIALIZED (
         |  SELECT c.e1, c.e2, CAST(count(*) AS BIGINT) AS s
         |  FROM cooccur c
         |  JOIN edges a ON a.src = c.e1 AND a.dst <> c.e2
         |  JOIN edges b ON b.src = c.e2 AND b.dst = a.dst
         |  GROUP BY c.e1, c.e2)
         |SELECT c.e1, c.e2, c.weight,
         |  CAST(coalesce(s.s, 0) AS BIGINT) AS support,
         |  CAST(CASE WHEN coalesce(s.s, 0) >= $TrussSupport THEN 1 ELSE 0 END
         |    AS BIGINT) AS in_truss4
         |FROM cooccur c LEFT JOIN sup s ON s.e1 = c.e1 AND s.e2 = c.e2
         |ORDER BY c.e1, c.e2""".stripMargin,
    "q_graph_summary" ->
      s"""WITH $CooccurSql,
         |dg AS (SELECT n, count(*) AS d FROM (
         |    SELECT e1 AS n FROM cooccur UNION ALL SELECT e2 FROM cooccur)
         |  GROUP BY n),
         |nd AS (SELECT count(*) AS n_nodes, CAST(max(d) AS BIGINT) AS max_degree
         |  FROM dg),
         |eg AS (SELECT count(*) AS n_edges,
         |  CAST(sum(weight) AS BIGINT) AS total_weight FROM cooccur)
         |SELECT n_nodes, n_edges, total_weight, max_degree,
         |  round((n_edges * 2 * 1000000 // greatest(n_nodes, 1)) / 1000000.0, 6)
         |    AS avg_degree,
         |  round((n_edges * 2 * 1000000 // greatest(n_nodes * (n_nodes - 1), 1))
         |    / 1000000.0, 6) AS density
         |FROM nd CROSS JOIN eg""".stripMargin,
    "q_ktruss_peel" ->
      s"""WITH $CooccurSql,
         |sup1 AS MATERIALIZED (
         |  SELECT c.e1, c.e2, CAST(count(*) AS BIGINT) AS s
         |  FROM cooccur c
         |  JOIN edges a ON a.src = c.e1 AND a.dst <> c.e2
         |  JOIN edges b ON b.src = c.e2 AND b.dst = a.dst
         |  GROUP BY c.e1, c.e2),
         |surv AS MATERIALIZED (
         |  SELECT c.e1, c.e2, c.weight, s.s AS s1
         |  FROM cooccur c JOIN sup1 s ON s.e1 = c.e1 AND s.e2 = c.e2
         |  WHERE s.s >= $TrussSupport),
         |edges2 AS MATERIALIZED (
         |  SELECT e1 AS src, e2 AS dst FROM surv
         |  UNION ALL SELECT e2, e1 FROM surv),
         |sup2 AS MATERIALIZED (
         |  SELECT c.e1, c.e2, CAST(count(*) AS BIGINT) AS s
         |  FROM surv c
         |  JOIN edges2 a ON a.src = c.e1 AND a.dst <> c.e2
         |  JOIN edges2 b ON b.src = c.e2 AND b.dst = a.dst
         |  GROUP BY c.e1, c.e2)
         |SELECT v.e1, v.e2, v.weight, v.s1,
         |  CAST(coalesce(p.s, 0) AS BIGINT) AS s2,
         |  CAST(CASE WHEN coalesce(p.s, 0) >= $TrussSupport THEN 1 ELSE 0 END
         |    AS BIGINT) AS in_truss
         |FROM surv v LEFT JOIN sup2 p ON p.e1 = v.e1 AND p.e2 = v.e2
         |ORDER BY v.e1, v.e2""".stripMargin,
    "q_betweenness" -> betweennessSql,
    "q_neighbor_sample" -> neighborSampleSql,
    "q_walks" -> walksSql,
    "q_node2vec" -> node2vecSql,
    "q_cooccur" ->
      s"""WITH $CooccurSql
         |SELECT e1, e2, weight FROM cooccur ORDER BY e1, e2""".stripMargin,
    "q_pmi_cooccur" ->
      s"""WITH $CooccurSql,
         |cnt AS MATERIALIZED (SELECT name, count(*) AS c FROM m GROUP BY name),
         |tch AS (SELECT count(*) AS t FROM
         |  (SELECT DISTINCT doc_id, chunk_id FROM m)),
         |p AS (
         |  SELECT e1, e2, weight, c1.c AS c1, c2.c AS c2,
         |    round(ln(CAST(weight * t AS DOUBLE)
         |      / CAST(c1.c * c2.c AS DOUBLE)), 6) AS pmi
         |  FROM cooccur JOIN cnt c1 ON e1 = c1.name
         |  JOIN cnt c2 ON e2 = c2.name CROSS JOIN tch
         |  WHERE weight >= $PmiMinWeight)
         |SELECT e1, e2, weight, c1, c2, pmi FROM p
         |ORDER BY pmi DESC, e1, e2 LIMIT $PmiTopN""".stripMargin,
    "q_entity_degree" ->
      s"""WITH $CooccurSql
         |SELECT src AS name, d AS degree, wd AS wdegree
         |FROM deg ORDER BY degree DESC, name""".stripMargin,
    "q_degree_dist" ->
      s"""WITH $CooccurSql
         |SELECT CAST(floor(log2(d)) AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(min(d) AS BIGINT) AS min_deg, CAST(max(d) AS BIGINT) AS max_deg
         |FROM deg GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_pagerank" -> pagerankSql,
    "q_katz" -> katzSql,
    "q_anf" -> anfSql,
    "q_anf_hll" -> anfHllSql,
    "q_lpa_communities" -> lpaSql,
    "q_modularity" -> modularitySql,
    "q_louvain" -> louvainSql,
    "q_shortest_path" -> {
      val iters = (1 to BfsHops).map { i =>
        val prev = s"d${i - 1}"
        s"""d$i AS MATERIALIZED (
           |  SELECT node, min(dist) AS dist FROM (
           |    SELECT node, dist FROM $prev
           |    UNION ALL
           |    SELECT e.dst AS node, p.dist + 1 AS dist
           |    FROM $prev p JOIN edges e ON p.node = e.src)
           |  GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $CooccurSql,
         |d0 AS (SELECT '$BfsSeed' AS node, 0 AS dist),
         |$iters
         |SELECT node AS name, dist FROM d$BfsHops
         |ORDER BY dist, name""".stripMargin
    },
    "q_wsp" -> {
      val iters = (1 to WspRounds).map { i =>
        val prev = s"w${i - 1}"
        s"""w$i AS MATERIALIZED (
           |  SELECT node, min(dist) AS dist FROM (
           |    SELECT node, dist FROM $prev
           |    UNION ALL
           |    SELECT e.dst AS node, p.dist + e.cost AS dist
           |    FROM $prev p JOIN ec e ON p.node = e.src)
           |  GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $CooccurSql,
         |ec AS MATERIALIZED (
         |  SELECT src, dst, 1000000 // weight AS cost FROM edges),
         |w0 AS (SELECT '$BfsSeed' AS node, CAST(0 AS BIGINT) AS dist),
         |$iters
         |SELECT node AS name, CAST(dist AS BIGINT) AS wdist FROM w$WspRounds
         |ORDER BY wdist, name""".stripMargin
    },
    "q_triangles" ->
      s"""WITH $CooccurSql,
         |dg AS MATERIALIZED (
         |  SELECT n, count(*) AS d FROM (
         |    SELECT e1 AS n FROM cooccur UNION ALL SELECT e2 FROM cooccur)
         |  GROUP BY n),
         |o AS MATERIALIZED (
         |  SELECT CASE WHEN (da.d, e1) < (db.d, e2) THEN e1 ELSE e2 END AS u,
         |    CASE WHEN (da.d, e1) < (db.d, e2) THEN e2 ELSE e1 END AS v,
         |    CASE WHEN (da.d, e1) < (db.d, e2) THEN db.d ELSE da.d END AS dv
         |  FROM cooccur JOIN dg da ON da.n = e1 JOIN dg db ON db.n = e2),
         |tri AS MATERIALIZED (
         |  SELECT w.u, w.x, w.y FROM (
         |    SELECT a.u, a.v AS x, a.dv AS dx, b.v AS y, b.dv AS dy
         |    FROM o a JOIN o b ON a.u = b.u AND (a.dv, a.v) < (b.dv, b.v)) w
         |  JOIN o c ON c.u = w.x AND c.v = w.y),
         |pern AS (
         |  SELECT n, count(*) AS t FROM (
         |    SELECT u AS n FROM tri UNION ALL SELECT x FROM tri
         |    UNION ALL SELECT y FROM tri)
         |  GROUP BY n)
         |SELECT dg.n AS name, dg.d AS degree, coalesce(t, 0) AS triangles,
         |  round(CASE WHEN dg.d >= 2
         |    THEN CAST(2 AS DOUBLE) * coalesce(t, 0) / (dg.d * (dg.d - 1))
         |    ELSE 0 END, 6) AS clustering
         |FROM dg LEFT JOIN pern ON pern.n = dg.n
         |ORDER BY name""".stripMargin,
    "q_ppr" -> pprSql,
    "q_link_prediction" -> linkPredictionSql,
    "q_hits" -> hitsSql,
    "q_pagerank_weighted" -> wpagerankSql,
    "q_kcore" -> kcoreSql,
    "q_components" -> componentsSql)
}
