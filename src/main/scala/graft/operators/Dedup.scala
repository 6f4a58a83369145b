package graft.operators

import graft.Ckpt.BarrierOps
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.graph.Loops

/** Deduplication family for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine.
  *
  * Scale design: signatures (minhash/simhash/fingerprints) are computed
  * PER ROW with higher-order functions — a narrow pass, no shuffle, no
  * UDF. The only shuffles are the LSH band-bucket self-join (16-byte
  * keys, never text×text) and the final verified-pair join. At 100 TB
  * the band join is the classic MinHash-LSH plan: shuffle cost is
  * O(docs × bands), independent of document length; skewed buckets are
  * handled by AQE skew-join splitting.
  */
object Dedup {

  val MinhashK = 16       // signature width
  val LshBands = 4        // bands of 4 rows each
  val JaccardThreshold = 0.5
  val SimhashBits = 16    // portable width (oracle-parity); see SURVEY §5
  val HammingMax = 2
  val CosineThreshold = 0.35

  /** words → distinct word-3-gram shingles, per row (no shuffle) —
    * the native codegen walk; `shingleColHof` keeps the portable HOF
    * twin whose row-equality DedupSpec proves.
    */
  private def shingleCol(words: Column): Column =
    graft.functions.WordShingles.word_shingles(words, 3)

  private[graft] def shingleColHof(words: Column): Column =
    array_distinct(transform(sequence(lit(0), size(words) - 3),
      i => concat_ws(" ", slice(words, i + 1, lit(3)))))

  private val ShinglesSql =
    """docs AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, len(words) - 2),
      |    i -> array_to_string(words[i:i+2], ' '))) AS s
      |  FROM docs WHERE len(words) >= 3)""".stripMargin

  private def shingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables.documents(spark, dir))

  /** The same shingle sets over an arbitrary documents batch — the
    * ingest-side seam Catalog.mergeShingles appends through (pure
    * per-doc function of text, so batch rows ARE the rebuild rows).
    */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), shingleCol(col("words")).as("s"))

  /** Conf key for the ingest-once-query-many shape: when set to the
    * current sf dir and `graft_shingles` exists, the whole dedup
    * family (minhash, temporal, incremental, containment, estimator,
    * per-source sketch) reads the materialized shingle table instead
    * of re-running split+3-gram+distinct over the corpus text —
    * Catalog.materializeShingles writes it (same indirection as
    * TextPipeline.MaterializedConf for the graph family).
    */
  val MaterializedConf = "spark.graft.materializedShinglesDir"

  /** Uncheckpointed shingle pipeline for Catalog's materializer. */
  private[graft] def shingleTable(spark: SparkSession, dir: String): DataFrame =
    shingles(spark, dir)

  /** Shingles materialized once (lazy): qDedupMinhash reads them for
    * the signature fold AND the verification join — one split/3-gram/
    * distinct pass over the corpus instead of two. With the
    * MaterializedConf indirection active, the pass is skipped
    * entirely and the bucketed table is scanned.
    */
  private def shinglesCk(spark: SparkSession, dir: String): DataFrame =
    if (spark.conf.getOption(MaterializedConf).contains(dir)
        && spark.catalog.tableExists("graft_shingles")) spark.table("graft_shingles")
    else shingles(spark, dir).barrier(false)

  /** Canonical-URL dedup — the crawl-frontier screen that runs BEFORE
    * any text is fetched or compared: raw crawl URLs carry protocol /
    * `www.` / query-string / fragment / trailing-slash noise, and the
    * same syndicated story is republished at several raw URLs, so the
    * first dedup pass canonicalizes the URL string and groups on it
    * (the reference crawls via fundus whose article identity is the
    * responded URL — crawler.py:41). The synthetic corpus has no URL
    * column, so the raw URL is DERIVED deterministically (the Props
    * convention): story key = doc_id div 60 (three same-source
    * republications per key, since source cycles doc_id % 20) and the
    * noise variant keyed off (doc_id div 20) % 4 — each copy in a
    * group gets a different protocol/www/query/fragment dressing.
    *
    * Normalization = strip fragment → strip query → lowercase → http
    * to https → drop `www.` → drop trailing slash; all patterns are
    * anchored single-match regexes so Spark (Java regex) and DuckDB
    * (RE2) agree. Scale shape: one narrow projection + one hash
    * shuffle on the canonical-URL key — runs on URLs alone, never
    * text, which is why it's the cheapest dedup tier at 100 TB.
    */
  /** The deterministic raw crawl URL of a document (see qDedupUrl). */
  def rawUrl(docId: Column, source: Column): Column = {
    val variant = (docId / 20).cast("long") % 4
    val path = concat(source, lit(".example.com/wire/"),
      floor(docId / 60).cast("long"))
    when(variant === 0, concat(lit("http://"), path))
      .when(variant === 1, concat(lit("https://www."), path, lit("/")))
      .when(variant === 2, concat(lit("https://"), path,
        lit("?utm_source=rss&ref="), docId))
      .otherwise(concat(lit("HTTPS://"), upper(path), lit("#frag")))
  }

  /** URL normalization: strip fragment → strip query → lowercase →
    * http→https → drop `www.` → drop trailing slash (all anchored
    * single-match regexes, Java-regex/RE2 portable). Stateless narrow
    * projection — usable identically in batch and streaming.
    */
  def canonicalUrl(raw: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(
      lower(regexp_replace(regexp_replace(raw, "#.*$", ""), "\\?.*$", "")),
      "^http://", "https://"), "^https://www\\.", "https://"), "/$", "")

  def qDedupUrl(spark: SparkSession, dir: String): DataFrame = {
    val canonical = canonicalUrl(rawUrl(col("doc_id"), col("source")))
    val byUrl = Window.partitionBy("canonical_url")
    Tables.documents(spark, dir)
      .withColumn("canonical_url", canonical)
      .withColumn("canonical_id", min(col("doc_id")).over(byUrl))
      .withColumn("n_copies", count(lit(1)).over(byUrl))
      .select("doc_id", "canonical_url", "canonical_id", "n_copies")
      .orderBy("doc_id")
  }

  /** Exact dedup: md5(text) groups; every doc maps to its canonical. */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame = {
    val byHash = Window.partitionBy("h")
    Tables.documents(spark, dir)
      .withColumn("h", md5(col("text")))
      .withColumn("canonical_id", min(col("doc_id")).over(byHash))
      .withColumn("n_copies", count(lit(1)).over(byHash))
      .select("doc_id", "canonical_id", "n_copies")
      .orderBy("doc_id")
  }

  /** MinHash signatures: ONE md5 per shingle → 32-bit base hash, then
    * K affine rehashes (h·A_j + B_j mod P) — 16× fewer md5 calls than
    * per-seed hashing, identical arithmetic in the SQL oracle.
    */
  val MinhashP = 1000000007L
  // The affine rehash family h·(1000003 + 7919·j) + 12345 + 911·j is
  // pinned as LITERALS at each site (the HOF twin below, BandsCtes,
  // and the source-minhash/temporal oracles): the native MinHashSig
  // generates the same constants in codegen, and the specs prove
  // row-equality — an indirection here would only pretend to be the
  // single source of truth the expression tree can't actually read.

  private def minhashSigs(sh: DataFrame): DataFrame =
    sh.withColumn("sig",
      // Native single pass: one md5 per shingle, K running minima in
      // a generated loop (MinHashSig); `minhashSigsHof` keeps the
      // portable HOF fold twin whose row-equality DedupSpec proves.
      graft.functions.MinHashSig.minhash_sig(col("s"), MinhashK))
      .select("doc_id", "sig")
      // Materialization barrier: without it CollapseProject inlines the
      // 300-step fold into the 4 per-band slice references (fold
      // re-evaluated per band; ~30× slowdown measured on the pattern).
      // Lazy, so only queries that use it pay.
      .barrier(false)

  /** Portable HOF twin of the native MinHashSig expression (the
    * executable spec of the signature arithmetic; DedupSpec proves
    * row-equality against minhashSigs' native path).
    */
  private[graft] def minhashSigsHof(sh: DataFrame): DataFrame =
    sh.withColumn("sig",
      aggregate(
        transform(col("s"), x => conv(substring(md5(x), 1, 8), 16, 10).cast("long")),
        array_repeat(lit(MinhashP), MinhashK),
        (acc, h) => zip_with(acc, sequence(lit(0L), lit(MinhashK - 1L)),
          (m, j) => least(m,
            (h * (lit(1000003L) + lit(7919L) * j) + lit(12345L) + lit(911L) * j) % MinhashP))))
      .select("doc_id", "sig")

  /** Stream-safe LSH banding of a (doc_id, text) frame: shingles →
    * native MinHash signature → LshBands band keys, all narrow
    * per-row transforms (no checkpoint, no shuffle) — usable
    * identically in batch and Structured Streaming. Band keys are
    * byte-identical to qDedupMinhash's, so a streaming probe joins
    * the standing index built by `corpusBandIndex`.
    */
  private[graft] def bandKeysOfDocs(docs: DataFrame): DataFrame = {
    val r = MinhashK / LshBands
    docs.withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), shingleCol(col("words")).as("s"))
      .withColumn("sig", graft.functions.MinHashSig.minhash_sig(col("s"), MinhashK))
      .withColumn("bkeys", transform(sequence(lit(0), lit(LshBands - 1)),
        band => md5(concat(
          array_join(slice(col("sig"), band * r + 1, lit(r)), "|"),
          lit("#"), band.cast("string")))))
      .select(col("doc_id"), explode(col("bkeys")).as("bkey"))
  }

  /** LSH bucket-size audit for the banded minhash join — the skew
    * check an operator runs BEFORE unleashing a band self-join on a
    * new corpus: for each bucket size s, how many band buckets have
    * that size and how many candidate pairs (s·(s−1)/2 each) that
    * size class will feed into the join. One hot bucket (a band key
    * shared by thousands of near-identical docs) turns the banded
    * join quadratic; this histogram is the early warning that decides
    * between joining as-is, tightening bands, or salting — the
    * decision that matters at 100 TB, made from two map-side-combined
    * aggregates over the SAME narrow band-key plan the join itself
    * scans (16-byte keys, no text on the wire).
    */
  def qLshBucketStats(spark: SparkSession, dir: String): DataFrame =
    bandKeysOfDocs(Tables.documents(spark, dir))
      .groupBy("bkey").agg(count(lit(1)).as("bucket_size"))
      .groupBy("bucket_size").agg(count(lit(1)).as("n_buckets"))
      .withColumn("pairs",
        expr("n_buckets * (bucket_size * (bucket_size - 1) div 2)"))
      .select("bucket_size", "n_buckets", "pairs")
      .orderBy("bucket_size")

  /** Standing corpus band index (bkey, corpus_doc_id) — the batch
    * side the streaming near-dup screen probes.
    */
  def corpusBandIndex(spark: SparkSession, dir: String): DataFrame =
    bandKeysOfDocs(Tables.documents(spark, dir))
      .select(col("bkey"), col("doc_id").as("corpus_doc_id"))

  /** LSH candidate pairs with shared-band counts — the oracle-checked
    * batch twin of the streaming near-dup screen (and the raw
    * candidate stream qDedupMinhash verifies): pairs colliding in ≥1
    * of the LshBands band keys, with the collision count (a cheap
    * confidence proxy — 4/4 bands ≈ exact re-crawl). Shuffle carries
    * only (doc_id, 16-byte band key); the count is one
    * map-side-combined aggregation on the pair key.
    */
  def qNeardupCandidates(spark: SparkSession, dir: String): DataFrame = {
    val bands = bandKeysOfDocs(Tables.documents(spark, dir))
      .barrier(false) // one shingle/sig pass; both join sides read it
    // the same band self-join shape as q_dedup_minhash — same guard
    // (review finding: this emitter was left outside the refusal)
    pairLoadGuard(bands, Seq("bkey"),
      "q_neardup_candidates", "q_dedup_minhash_topk")
    bands.select(col("doc_id").as("doc_id_a"), col("bkey"))
      .join(bands.select(col("doc_id").as("doc_id_b"), col("bkey")), Seq("bkey"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .groupBy("doc_id_a", "doc_id_b")
      .agg(count(lit(1)).as("n_shared_bands"))
      .orderBy("doc_id_a", "doc_id_b")
  }

  /** MinHash + LSH near-dup pairs, verified by true shingle Jaccard.
    * Bands shuffle only (doc_id, 16-byte band key) — candidate ids are
    * deduped BEFORE the shingle arrays are joined back for
    * verification, so text-sized payloads never ride the LSH shuffle.
    */
  /** The LSH-banded, Jaccard-verified pair stream behind
    * q_dedup_minhash and its capped twin — one pipeline definition.
    */
  private def minhashPairsDf(spark: SparkSession, dir: String,
      guard: Boolean = false): DataFrame = {
    val r = MinhashK / LshBands
    // one split/shingle pass, read by BOTH the signature fold and the
    // verification join (was two full corpus scans)
    val sh = shinglesCk(spark, dir)
    val bands = minhashSigs(sh)
      .withColumn("bkeys", transform(sequence(lit(0), lit(LshBands - 1)),
        band => md5(concat(
          array_join(slice(col("sig"), band * r + 1, lit(r)), "|"),
          lit("#"), band.cast("string")))))
      .select(col("doc_id"), explode(col("bkeys")).as("bkey"))
      // barrier: the sig fold runs ONCE for the guard + both join
      // sides (narrow rows: doc_id + 16-byte band key)
      .barrier(false)
    if (guard)
      pairLoadGuard(bands, Seq("bkey"), "q_dedup_minhash", "q_dedup_minhash_topk")
    val cand = bands.select(col("doc_id").as("doc_id_a"), col("bkey"))
      .join(bands.select(col("doc_id").as("doc_id_b"), col("bkey")), Seq("bkey"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select("doc_id_a", "doc_id_b")
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_id_a"), col("s").as("sa")), "doc_id_a")
      .join(sh.select(col("doc_id").as("doc_id_b"), col("s").as("sb")), "doc_id_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("double"))
      .withColumn("jaccard", round(
        col("inter") / (size(col("sa")) + size(col("sb")) - col("inter")), 6))
      .filter(col("jaccard") >= JaccardThreshold)
      .select("doc_id_a", "doc_id_b", "jaccard")
  }

  def qDedupMinhash(spark: SparkSession, dir: String): DataFrame =
    minhashPairsDf(spark, dir, guard = true).orderBy("doc_id_a", "doc_id_b")

  /** Capped twin for the MinHash family — the third pair emitter
    * under the bounded-output discipline (see PairTopK).
    */
  def qDedupMinhashTopk(spark: SparkSession, dir: String): DataFrame =
    cappedPartners(minhashPairsDf(spark, dir),
      "doc_id", "doc_id_a", "doc_id_b", "jaccard", bestIsSmallest = false)

  val TemporalWindow = 7 // days — the same-story re-publication horizon

  /** Temporal near-dup pairs: MinHash-LSH dedup restricted to a
    * publishing-time window — the news-corpus shape where the SAME
    * story re-publishes across outlets within days, while a yearly
    * recap sharing the text is NOT a dup to collapse. Pairs must
    * share an LSH band key AND publish within TemporalWindow days
    * (the deterministic per-doc publishing day from graph/Props).
    *
    * Scale shape: the blocking key is (band, day-bucket) with the
    * probe side exploded to bucket±1 — the bucketized band-join trick
    * q_range_join uses, so the |Δday| predicate rides an equi-join,
    * never a nested loop. At 100 TB this beats plain LSH on shuffle
    * profile too: a hot band key (a boilerplate template with 10⁶
    * members) splits across time buckets instead of forming one
    * quadratic reduce group. Days are linear (no year wraparound —
    * real corpora are open-ended time, not a cyclic calendar).
    */
  def qDedupTemporal(spark: SparkSession, dir: String): DataFrame = {
    val r = MinhashK / LshBands
    val sh = shinglesCk(spark, dir)
    val bands = minhashSigs(sh)
      .withColumn("bkeys", transform(sequence(lit(0), lit(LshBands - 1)),
        band => md5(concat(
          array_join(slice(col("sig"), band * r + 1, lit(r)), "|"),
          lit("#"), band.cast("string")))))
      .withColumn("day", col("doc_id") * 37 % 365)
      .withColumn("bucket", expr(s"day div $TemporalWindow"))
      .select(col("doc_id"), col("day"), col("bucket"), explode(col("bkeys")).as("bkey"))
      // barrier: the sig fold runs once for the guard + both join sides
      .barrier(false)
    // round 11 (r10 verdict #6): guard on the UN-exploded (bkey,
    // bucket) blocking key — the ±1-bucket probe explode multiplies
    // the true candidate mass by at most 3× over this prediction,
    // well inside the order-of-magnitude rail the budget draws
    pairLoadGuard(bands, Seq("bkey", "bucket"),
      "q_dedup_temporal", "q_dedup_minhash_topk")
    val probe = bands.select(col("doc_id").as("doc_id_a"), col("day").as("day_a"),
      col("bkey"), explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1))
        .as("bucket"))
    val build = bands.select(col("doc_id").as("doc_id_b"), col("day").as("day_b"),
      col("bkey"), col("bucket"))
    val cand = probe.join(build, Seq("bkey", "bucket"))
      .filter(col("doc_id_a") < col("doc_id_b") &&
        abs(col("day_a") - col("day_b")) <= TemporalWindow)
      .select("doc_id_a", "doc_id_b", "day_a", "day_b")
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_id_a"), col("s").as("sa")), "doc_id_a")
      .join(sh.select(col("doc_id").as("doc_id_b"), col("s").as("sb")), "doc_id_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("double"))
      .withColumn("jaccard", round(
        col("inter") / (size(col("sa")) + size(col("sb")) - col("inter")), 6))
      .filter(col("jaccard") >= JaccardThreshold)
      .select("doc_id_a", "doc_id_b", "day_a", "day_b", "jaccard")
      .orderBy("doc_id_a", "doc_id_b")
  }

  /** 16-bit SimHash per row via HOF folds (portable width; the 64-bit
    * native-Expression variant is the bench path — SURVEY §5). The
    * token hashes `hs` are materialized once per row so the per-bit
    * fold does integer ops only (one md5 per token, not per token·bit).
    */
  private[graft] val SimhashSigSql: String =
    s"""cast(aggregate(
       |  zip_with(
       |    aggregate(
       |      transform(split(text, ' '),
       |        w -> cast(conv(substring(md5(w), 1, 4), 16, 10) as int)),
       |      array_repeat(0, $SimhashBits),
       |      (acc, h) -> zip_with(acc, sequence(0, ${SimhashBits - 1}),
       |        (c, b) -> c + ((shiftright(h, b) & 1) * 2 - 1))),
       |    sequence(0, ${SimhashBits - 1}),
       |    (c, b) -> if(c > 0, shiftleft(1, b), 0)),
       |  0, (a, x) -> a + x) as int)""".stripMargin

  /** Pigeonhole segmentation: for hamming ≤ d over `bits` bits, split
    * the signature into d+1 contiguous segments — d bit flips can dirty
    * at most d segments, so any pair within distance d agrees EXACTLY
    * on ≥1 segment. Candidate generation becomes an equi-join on
    * (segment_idx, segment_value): shuffle O(n·(d+1)) 8-byte keys
    * instead of O(n²) pairs (the Manku et al. WWW'07 table layout).
    * Returns (bit offset, width) per segment; widths sum to `bits`.
    */
  private[graft] def pigeonholeSegments(bits: Int, maxHamming: Int): Seq[(Int, Int)] = {
    val n = maxHamming + 1
    val widths = Seq.tabulate(n)(i => bits / n + (if (i < bits % n) 1 else 0))
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** The pigeonhole (doc_id, sig, seg_idx, seg_val) bucket relation
    * behind simhashPairs — factored so the pair-load guard can
    * profile the SAME keys the join buckets on.
    */
  private[graft] def segKeys(sigs: DataFrame, bits: Int, maxHamming: Int): DataFrame = {
    val segVals = array(pigeonholeSegments(bits, maxHamming).map { case (off, w) =>
      shiftright(col("sig"), off).bitwiseAND(lit((1L << w) - 1)) }: _*)
    sigs.select(col("doc_id"), col("sig"),
      posexplode(segVals).as(Seq("seg_idx", "seg_val")))
  }

  /** Banded near-dup pairs over integer `sig`natures: explode the
    * pigeonhole segments, equi-join on the segment key, verify true
    * hamming. Provably the SAME pairs as the all-pairs filter
    * (DedupSpec asserts it), with no CartesianProduct anywhere
    * (PlanSpec asserts that).
    */
  private[graft] def simhashPairs(sigs: DataFrame, bits: Int, maxHamming: Int): DataFrame = {
    val seg = segKeys(sigs, bits, maxHamming)
    seg.select(col("doc_id").as("doc_id_a"), col("sig").as("sig_a"),
        col("seg_idx"), col("seg_val"))
      .join(seg.select(col("doc_id").as("doc_id_b"), col("sig").as("sig_b"),
        col("seg_idx"), col("seg_val")), Seq("seg_idx", "seg_val"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_id_a", "doc_id_b", "hamming")
      .distinct()
  }

  /** Runtime budget for the UNCAPPED pair emitters' predicted
    * candidate-pair load (round 10, the 100 TB operational guard).
    * Default 1e9: far above every bench scale factor (sf0.1 measures
    * in the low millions), far below the quadratic mass a hot-bucket
    * 100 TB corpus would feed a verification join — the operator
    * family that can quietly cost 10,000× now refuses loudly instead.
    */
  val MaxPairsConf = "spark.graft.dedup.maxCandidatePairs"
  val MaxPairsDefault = 1000000000L

  /** Exact candidate-pair load a bucket self-join will generate:
    * Σ_buckets c·(c−1)/2 — one map-side-combined aggregate over the
    * SAME narrow bucket relation the join scans (the emitters
    * checkpoint it, so nothing heavy recomputes).
    */
  private[graft] def predictedPairs(buckets: DataFrame, keyCols: Seq[String]): Long = {
    // DECIMAL(38,0) per-bucket terms: a hot bucket past ~4.3e9 rows
    // would wrap c*(c-1)/2 in BIGINT and a negative term could let
    // the guard PASS exactly where it exists to refuse (r10 advice).
    // The sum saturates at Long.MaxValue on the way out — "over any
    // conceivable budget" needs no more precision than that.
    val r = buckets.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("c"))
      .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * (c - 1) / 2")).as("p"),
        count(lit(1)).as("n_buckets"))
      .first()
    if (r.isNullAt(0)) {
      // decimal SUM overflow (non-ANSI) nulls out exactly like an
      // empty input — with buckets present, null means "past 1e32
      // pairs", which saturates (over any budget), never passes
      if (r.getLong(1) > 0) Long.MaxValue else 0L
    } else {
      val p = r.getDecimal(0)
      if (p.compareTo(new java.math.BigDecimal(Long.MaxValue)) > 0) Long.MaxValue
      else p.longValueExact()
    }
  }

  /** Loud refusal when an uncapped pair emitter's predicted candidate
    * load exceeds the budget — verification compute is Ω(candidates)
    * by definition, so past the budget the right answers are the
    * capped twin (bounded output) or tighter blocking, not a silently
    * 10,000× job. The capped twins do NOT guard: they are the escape
    * hatch the refusal points to.
    */
  private[graft] def pairLoadGuard(buckets: DataFrame, keyCols: Seq[String],
      op: String, remedy: String): Unit = {
    val budget = buckets.sparkSession.conf
      .get(MaxPairsConf, MaxPairsDefault.toString).toLong
    val predicted = predictedPairs(buckets, keyCols)
    if (predicted > budget) throw new IllegalStateException(
      s"$op refused: predicted candidate-pair load $predicted exceeds the " +
        s"$MaxPairsConf budget $budget. Use $remedy (bounded output), " +
        "tighten the blocking, or raise the budget after profiling with " +
        "q_lsh_bucket_stats / q_skew_report.")
  }

  def qDedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val sigs = Tables.documents(spark, dir)
      .withColumn("sig", expr(SimhashSigSql))
      .select("doc_id", "sig")
      .barrier(false)   // barrier: the sig fold runs once (see minhashSigs)
    pairLoadGuard(segKeys(sigs, SimhashBits, HammingMax), Seq("seg_idx", "seg_val"),
      "q_dedup_simhash", "q_dedup_simhash_topk")
    simhashPairs(sigs, SimhashBits, HammingMax)
      .orderBy("doc_id_a", "doc_id_b")
  }

  /** n-gram Jaccard near-dups, blocked on the min-shingle fingerprint
    * (two docs share a block only if their winnowing witness matches —
    * near-identical docs almost surely do; no O(n²)).
    */
  def qDedupNgram(spark: SparkSession, dir: String): DataFrame = {
    val keyed = shinglesCk(spark, dir) // standing table when amortized
      .withColumn("block", array_min(transform(col("s"), x => md5(x))))
      .barrier(false)   // barrier: see minhashSigs
    // round 11 (r10 verdict #6): the min-shingle block self-join joins
    // the load-proved family — a boilerplate block shared corpus-wide
    // is exactly the hot-bucket shape the guard refuses
    pairLoadGuard(keyed.select("doc_id", "block"), Seq("block"),
      "q_dedup_ngram", "q_dedup_minhash_topk")
    val cand = keyed.select(col("doc_id").as("doc_id_a"), col("block"))
      .join(keyed.select(col("doc_id").as("doc_id_b"), col("block")), Seq("block"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select("doc_id_a", "doc_id_b", "block")
    cand
      .join(keyed.select(col("doc_id").as("doc_id_a"), col("s").as("sa")), "doc_id_a")
      .join(keyed.select(col("doc_id").as("doc_id_b"), col("s").as("sb")), "doc_id_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("double"))
      .withColumn("jaccard", round(
        col("inter") / (size(col("sa")) + size(col("sb")) - col("inter")), 6))
      .filter(col("jaccard") >= 0.3)
      .select("doc_id_a", "doc_id_b", "jaccard")
      .orderBy("doc_id_a", "doc_id_b")
  }

  /** Embedding-cosine near-dup pairs, blocked on SRP-LSH buckets
    * (reusing Similarity.Hyperplanes regrouped into EmbLshTables
    * narrow tables for recall): candidates share a bucket in ANY
    * table, then verify cosine ≥ τ. Norms ride the candidate join
    * precomputed — one dot product per verified pair.
    *
    * Scale shape: candidate count is Σ_buckets load², so the knobs are
    * bits ≈ log2(n/target_load) and tables ≈ p_bit^-bits for recall
    * (p_bit = 1 - acos(τ)/π). At THIS query's audit threshold
    * (τ=0.35, p_bit≈0.61) wider signatures collapse recall
    * (p^4≈0.14/table already), which is LSH theory saying low-τ range
    * search has no cheap blocking — and the round-7 ×10 sweep confirms
    * the growth here is the ANSWER (output ×103, runtime/pair flat):
    * the output is quadratic because the corpus genuinely contains
    * quadratically many τ-similar pairs. The 100 TB path for low-τ is
    * qSemDedup's cluster∩LSH intersection; for production near-dup
    * (τ≈0.9, p_bit≈0.86) raising EmbLshBits with n keeps both recall
    * and per-bucket load bounded.
    */
  val EmbLshTables = 8
  val EmbLshBits = 4

  /** The SRP-LSH-blocked, cosine-verified pair stream behind
    * q_dedup_embedding and its capped twin — factored so both consume
    * ONE pipeline definition.
    */
  private def embPairs(spark: SparkSession, dir: String,
      guard: Boolean = false): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", Similarity.normCol(col("v")))
      .barrier(false)   // barrier: vectors + norms materialized once
    val sigArr = array((0 until EmbLshTables).map(t =>
      Similarity.srpSigNative(col("v"), t * EmbLshBits until (t + 1) * EmbLshBits)): _*)
    val buckets = e.select(col("vec_id"), posexplode(sigArr).as(Seq("t", "bucket")))
      .barrier(false)   // 32 plane projections once per vector
    if (guard)
      pairLoadGuard(buckets, Seq("t", "bucket"),
        "q_dedup_embedding", "q_dedup_embedding_topk")
    val cand = buckets.select(col("vec_id").as("vec_id_a"), col("t"), col("bucket"))
      .join(buckets.select(col("vec_id").as("vec_id_b"), col("t"), col("bucket")),
        Seq("t", "bucket"))
      .filter(col("vec_id_a") < col("vec_id_b"))
      .select("vec_id_a", "vec_id_b")
      .distinct()
    cand
      .join(e.select(col("vec_id").as("vec_id_a"), col("v").as("va"), col("nrm").as("na")), "vec_id_a")
      .join(e.select(col("vec_id").as("vec_id_b"), col("v").as("vb"), col("nrm").as("nb")), "vec_id_b")
      .withColumn("cosine", round(
        Similarity.dotCol(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cosine") >= CosineThreshold)
      .select("vec_id_a", "vec_id_b", "cosine")
  }

  def qDedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    embPairs(spark, dir, guard = true).orderBy("vec_id_a", "vec_id_b")

  /** Per-doc partner cap for the bounded pair-stream twins (round 9):
    * at 100 TB an unbounded τ-similar pair stream is its own scale
    * problem even when the candidate JOIN is blocked — the round-7
    * 10× sweep measured output ×103 on the dense corpus, because the
    * corpus genuinely contains quadratically many τ-similar pairs.
    * The capped twins keep each doc's K best partners through the
    * TopKPerGroup heap (map-side partial combine, never a
    * corpus-sized window) and carry the EXACT per-doc partner count
    * in a stats column, so the cap bounds the OUTPUT without
    * silently losing what it cut.
    */
  val PairTopK = 5

  /** Symmetric per-doc view of an undirected (a<b) pair stream, cut
    * to the K best partners per doc: best = smallest value
    * (hamming) or largest (cosine); ties broken by partner id. The
    * rank window runs on ≤K rows per doc (the heap cut first);
    * n_partners is exact over the full stream.
    */
  private[graft] def cappedPartners(pairs0: DataFrame, outCol: String, aCol: String,
      bCol: String, simCol: String, bestIsSmallest: Boolean): DataFrame = {
    val pairs = pairs0.barrier(false) // the sym union reads it twice
    val sym = pairs.select(col(aCol).as(outCol), col(bCol).as("partner"), col(simCol))
      .unionByName(
        pairs.select(col(bCol).as(outCol), col(aCol).as("partner"), col(simCol)))
    val keyed = sym.withColumn("ord",
      if (bestIsSmallest) -col(simCol) else col(simCol))
    val top = graft.plans.TopKPerGroup.topK(
      keyed, PairTopK, Seq(outCol), orderCol = "ord", tieCol = "partner")
    val ordCols =
      if (bestIsSmallest) Seq(col(simCol).asc, col("partner").asc)
      else Seq(col(simCol).desc, col("partner").asc)
    val stats = sym.groupBy(outCol).agg(count(lit(1)).as("n_partners"))
    top.withColumn("rk",
        row_number().over(Window.partitionBy(outCol).orderBy(ordCols: _*)))
      .drop("ord")
      .join(stats, outCol)
      .orderBy(outCol, "rk")
  }

  def qDedupSimhashTopk(spark: SparkSession, dir: String): DataFrame = {
    val sigs = Tables.documents(spark, dir)
      .withColumn("sig", expr(SimhashSigSql))
      .select("doc_id", "sig")
      .barrier(false)
    cappedPartners(simhashPairs(sigs, SimhashBits, HammingMax),
      "doc_id", "doc_id_a", "doc_id_b", "hamming", bestIsSmallest = true)
  }

  def qDedupEmbeddingTopk(spark: SparkSession, dir: String): DataFrame =
    cappedPartners(embPairs(spark, dir),
      "vec_id", "vec_id_a", "vec_id_b", "cosine", bestIsSmallest = false)

  val SemTau = 0.4 // within-cluster cosine above this = semantic dup

  /** Semantic dedup (SemDeDup, Abbas et al. 2023): assign every
    * embedding to its nearest centroid (one k-means E-step — the
    * paper clusters first for exactly this blocking), find
    * within-cluster pairs with cosine ≥ SemTau, and KEEP the member
    * of each dup pair farthest from its centroid (the paper's rule:
    * centroid-near members are redundant with the cluster itself).
    * Ties keep the smaller vec_id. Output per vector: cluster,
    * centroid cosine, dup-partner count, keep verdict.
    *
    * Scale shape: centroids are a k×dim broadcast (k is the cluster
    * count, not the corpus); assignment is one narrow pass with a
    * struct-min argmax — no window. Candidate pairs must share BOTH
    * the cluster AND an SRP-LSH bucket (the same 8×4-bit tables as
    * q_dedup_embedding), so the pair set is bucket-density-bounded —
    * never cluster-sized all-pairs, which at 100 TB would be
    * quadratic in N/k. Centroid cosines are quantized to 6 decimals
    * BEFORE the argmax and the keep rule, so distributed float order
    * can never flip an assignment or a verdict.
    */
  /** The SemDeDup nearest-centroid assignment shared by qSemdedup and
    * qProtoFilter — ONE definition of the rounding-sensitive pipeline
    * (round-6 centroid means and cosines, struct-min argmax with the
    * label tie rule), mirroring what semAsgCtes already is for the
    * SQL side. Returns (e, assigned), both checkpointed where their
    * consumers re-read them.
    */
  private def semAssign(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", Similarity.normCol(col("v")))
      .barrier(false) // vectors + norms once; read by assign AND verify
    val cents = Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(round(avg(col("x").cast("double")), 6).as("c"))
      .groupBy("label")
      .agg(graft.functions.SortedField.sorted_field(
        collect_list(struct(col("dim"), col("c"))), 1).as("cv"))
      .withColumn("cnrm", Similarity.normCol(col("cv")))
    val assigned = e.crossJoin(broadcast(cents))
      .withColumn("cc",
        round(Similarity.dotCol(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6))
      .groupBy("vec_id")
      .agg(min(struct((-col("cc")).as("nc"), col("label").as("l"))).as("b"))
      .select(col("vec_id"), col("b.l").as("cluster"), (-col("b.nc")).as("cent_cos"))
      .barrier(false) // read by blocking/threshold, keep rules, reports
    (e, assigned)
  }

  def qSemdedup(spark: SparkSession, dir: String): DataFrame = {
    val (e, assigned) = semAssign(spark, dir)
    val sigArr = array((0 until EmbLshTables).map(t =>
      Similarity.srpSigNative(col("v"), t * EmbLshBits until (t + 1) * EmbLshBits)): _*)
    val buckets = e.select(col("vec_id"), posexplode(sigArr).as(Seq("t", "bucket")))
      .join(assigned.select("vec_id", "cluster"), "vec_id")
      .barrier(false) // 32 plane projections once; both sides of the self-join
    val cand = buckets
      .select(col("vec_id").as("vec_id_a"), col("t"), col("bucket"), col("cluster"))
      .join(buckets.select(col("vec_id").as("vec_id_b"), col("t"),
        col("bucket"), col("cluster")), Seq("t", "bucket", "cluster"))
      .filter(col("vec_id_a") < col("vec_id_b"))
      .select("vec_id_a", "vec_id_b")
      .distinct()
    val pairs = cand
      .join(e.select(col("vec_id").as("vec_id_a"), col("v").as("va"),
        col("nrm").as("na")), "vec_id_a")
      .join(e.select(col("vec_id").as("vec_id_b"), col("v").as("vb"),
        col("nrm").as("nb")), "vec_id_b")
      .filter(round(Similarity.dotCol(col("va"), col("vb"))
        / (col("na") * col("nb")), 6) >= SemTau)
      .select("vec_id_a", "vec_id_b")
      .barrier(false) // dup-sized; read by the partner count AND the keep rule
    val sym = pairs.select(col("vec_id_a").as("vec_id"), col("vec_id_b").as("partner"))
      .unionByName(pairs.select(col("vec_id_b").as("vec_id"),
        col("vec_id_a").as("partner")))
    val nd = sym.groupBy("vec_id").agg(countDistinct(col("partner")).as("n_dups"))
    val drops = sym
      .join(assigned.select(col("vec_id"), col("cent_cos")), "vec_id")
      .join(assigned.select(col("vec_id").as("partner"),
        col("cent_cos").as("p_cos")), "partner")
      .filter(col("p_cos") < col("cent_cos") ||
        (col("p_cos") === col("cent_cos") && col("partner") < col("vec_id")))
      .select("vec_id").distinct()
      .withColumn("dropped", lit(true))
    assigned
      .join(nd, Seq("vec_id"), "left")
      .join(drops, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("cent_cos"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        (!coalesce(col("dropped"), lit(false))).as("keep"))
      .orderBy("vec_id")
  }

  /** 60-bit SimHash via the native codegen Expression (the scale path;
    * graft.functions.SimHash64) — same pair semantics at a tighter
    * hamming radius than the 16-bit portable variant.
    */
  val Hamming64Max = 6

  def qDedupSimhash64(spark: SparkSession, dir: String): DataFrame = {
    val sigs = Tables.documents(spark, dir)
      .withColumn("sig", graft.functions.SimHash64.simhash64(split(col("text"), " ")))
      .select("doc_id", "sig")
      .barrier(false)   // barrier: one native-sig pass, reused by both join sides
    simhashPairs(sigs, 60, Hamming64Max)
      .orderBy("doc_id_a", "doc_id_b")
  }

  /** Corpus-level MinHash per source via the custom typed Aggregator
    * (graft.functions.MinHashAgg): the signature of the UNION of all
    * shingle sets published by a source — flattened to rows for the
    * oracle.
    *
    * Two-level sketch plan: per-doc signatures come from the codegen'd
    * single-fold expression (minhashSigs — K running minima in one
    * pass over the shingle array, no explode), then the typed
    * Aggregator MERGES signatures element-wise per source. Only K
    * longs per doc cross into the aggregate, and the map-side partial
    * merge reduces that to K longs per (source, task) before the
    * shuffle — the raw hash stream never leaves its map task. Same
    * affine family ⇒ min-of-per-doc-minima ≡ min over the union, so
    * the oracle over raw hashes matches exactly.
    */
  def qSourceMinhash(spark: SparkSession, dir: String): DataFrame = {
    val agg = org.apache.spark.sql.functions.udaf(new graft.functions.MinHashAgg(MinhashK))
    minhashSigs(shinglesCk(spark, dir))
      .join(Tables.documents(spark, dir).select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(agg(col("sig")).as("sig"))
      .select(col("source"), posexplode(col("sig")).as(Seq("j", "sig_j")))
      .orderBy("source", "j")
  }

  /** Incremental dedup — the daily-ingest path: match NEW documents
    * (split-hash bucket ≥ 90, the same deterministic md5 split as
    * Training.qTrainTestSplit) against the EXISTING corpus only.
    * Candidates are generated by joining the new batch's LSH band
    * keys against the corpus band keys, so new×new and corpus×corpus
    * pairs are never formed; verification is the usual shingle
    * Jaccard on the (rare) candidates.
    *
    * At 100 TB this is the plan that actually runs daily: the corpus
    * band index is materialized once (Catalog layout, bucketed by
    * band key) and each ingest batch — orders of magnitude smaller —
    * equi-joins into it; cost scales with the batch, not the corpus.
    */
  def qDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val r = MinhashK / LshBands
    val sh = shinglesCk(spark, dir)
    val bands = minhashSigs(sh)
      .withColumn("bkeys", transform(sequence(lit(0), lit(LshBands - 1)),
        band => md5(concat(
          array_join(slice(col("sig"), band * r + 1, lit(r)), "|"),
          lit("#"), band.cast("string")))))
      .select(col("doc_id"), explode(col("bkeys")).as("bkey"))
      .withColumn("is_new",
        conv(substring(md5(concat(lit("split#"), col("doc_id"))), 1, 8), 16, 10)
          .cast("long") % 100 >= 90)
    val cand = bands.filter(col("is_new"))
      .select(col("doc_id").as("new_id"), col("bkey"))
      .join(bands.filter(!col("is_new"))
        .select(col("doc_id").as("corpus_id"), col("bkey")), Seq("bkey"))
      .select("new_id", "corpus_id")
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("new_id"), col("s").as("sa")), "new_id")
      .join(sh.select(col("doc_id").as("corpus_id"), col("s").as("sb")), "corpus_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("double"))
      .withColumn("jaccard", round(
        col("inter") / (size(col("sa")) + size(col("sb")) - col("inter")), 6))
      .filter(col("jaccard") >= JaccardThreshold)
      .select("new_id", "corpus_id", "jaccard")
      .orderBy("new_id", "corpus_id")
  }

  val ClusterIters = 6

  /** Near-dup cluster assignment — the step after pair generation in
    * a production dedup pipeline: every document gets canonical_id =
    * min doc_id reachable through verified near-dup pairs, plus the
    * cluster size; keep `doc_id == canonical_id`, drop the rest.
    * Fixed-round min-label propagation over the (pair-sized, not
    * corpus-sized) edge list — the same Loops.minLabel kernel as
    * Analytics.qComponents; singletons stay their own canonical. The
    * oracle replays the identical rounds, so the output matches even
    * for cluster diameters beyond the round count.
    */
  /** (node, comp) min-label propagation over the dup subgraph only —
    * a singleton's label never changes, so the corpus-sized side
    * joins in once downstream. At 100 TB the loop runs on the
    * (pairs-sized) dup set, not the corpus. Shared by qDedupClusters
    * and Curation's near-duplicate signal.
    */
  private[operators] def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    dupLabels(dupEdges(spark, dir))

  /** Both directions of the verified near-dup pairs: (src, dst). */
  private[graft] def dupEdges(spark: SparkSession, dir: String): DataFrame = {
    // materialize the (tiny) pair list ONCE — both union branches and
    // every propagation round read the checkpoint, not the LSH pipeline
    val pairs = qDedupMinhash(spark, dir)
      .select("doc_id_a", "doc_id_b").barrier()
    pairs
      .union(pairs.select(col("doc_id_b").as("doc_id_a"), col("doc_id_a").as("doc_id_b")))
      .toDF("src", "dst")
  }

  /** (node, comp) over a (src, dst) doc-id edge list. */
  private[graft] val dupLabels = Loops.Plans(
    local = (spark, rows) => Loops.frame(spark, "node BIGINT, comp BIGINT",
      Loops.minLabelLocal(rows.map(r => (r.getLong(0), r.getLong(1))), ClusterIters,
        Ordering.Long).map { case (n, c) => Row(n, c) }),
    distributed = Loops.minLabel(_, ClusterIters, every = 3, eager = true))

  def qDedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val lbl = clusterLabels(spark, dir)
    val sizes = lbl.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    val dupDocs = lbl.join(sizes, "comp")
      .select(col("node").as("doc_id"), col("comp").as("canonical_id"),
        col("cluster_size"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(dupDocs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .orderBy("doc_id")
  }

  /** Syndication report — the provenance question a NEWS corpus asks
    * of its near-dup pairs: which source pairs share verified
    * near-duplicate articles, and how similar are they. Verified
    * minhash pairs (the banded join, unchanged) are joined to each
    * side's source and grouped by unordered source pair; similarity
    * aggregates as exact integer micro-Jaccard sums (round once per
    * pair, then long arithmetic — distributed sum order can't move
    * the average). Downstream this drives dedup POLICY: intra-source
    * pairs are re-crawls to drop, cross-source pairs are syndication
    * where the keep-side is chosen by qBestCopy.
    */
  def qCrossSourceDups(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    qDedupMinhash(spark, dir)
      .join(src.toDF("doc_id_a", "sa"), "doc_id_a")
      .join(src.toDF("doc_id_b", "sb"), "doc_id_b")
      .withColumn("source_a", least(col("sa"), col("sb")))
      .withColumn("source_b", greatest(col("sa"), col("sb")))
      .withColumn("jac_micro", round(col("jaccard") * 1e6).cast("long"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"), sum(col("jac_micro")).as("sum_jac_micro"))
      .withColumn("avg_jac_micro", expr("sum_jac_micro div n_pairs"))
      .select("source_a", "source_b", "n_pairs", "sum_jac_micro", "avg_jac_micro")
      .orderBy("source_a", "source_b")
  }

  /** Quality-aware canonical pick — best-copy selection per near-dup
    * cluster: instead of qDedupClusters' min-doc_id canonical, keep
    * the LONGEST copy (max n_chars, tie → smallest doc_id, via one
    * struct-min aggregate — no rank window). This is the curation
    * semantics a training pipeline actually wants: syndicated copies
    * are often truncated, and dropping all but the longest keeps the
    * most complete text. Per doc: its cluster, the chosen survivor,
    * and a keep flag. One groupBy over cluster labels + a cluster-key
    * equi-join — nothing beyond the label propagation already paid.
    */
  def qBestCopy(spark: SparkSession, dir: String): DataFrame = {
    val cl = qDedupClusters(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "n_chars"), "doc_id")
    val best = cl.groupBy("canonical_id")
      .agg(min(struct((-col("n_chars")).as("nn"), col("doc_id"))).as("b"))
      .select(col("canonical_id"), col("b.doc_id").as("best_doc"))
    cl.join(best, "canonical_id")
      .withColumn("keep",
        when(col("doc_id") === col("best_doc"), 1L).otherwise(0L))
      .select("doc_id", "canonical_id", "cluster_size", "best_doc", "keep")
      .orderBy("doc_id")
  }

  /** MinHash estimator audit: for every LSH candidate pair, the
    * signature-agreement Jaccard ESTIMATE (matching slots / K — the
    * number a sketch-only pipeline would act on) next to the exact
    * shingle Jaccard, with the absolute error. The operator version of
    * SketchesSpec's bound checks: at 100 TB you monitor estimator
    * drift as a table, not a unit test. Same shuffle shape as
    * qDedupMinhash (band keys + id-only candidate join).
    */
  def qMinhashEst(spark: SparkSession, dir: String): DataFrame = {
    val sh = shinglesCk(spark, dir)
    val sigs = minhashSigs(sh)
    val cand = {
      val r = MinhashK / LshBands
      val bands = sigs
        .withColumn("bkeys", transform(sequence(lit(0), lit(LshBands - 1)),
          band => md5(concat(
            array_join(slice(col("sig"), band * r + 1, lit(r)), "|"),
            lit("#"), band.cast("string")))))
        .select(col("doc_id"), explode(col("bkeys")).as("bkey"))
      bands.select(col("doc_id").as("doc_id_a"), col("bkey"))
        .join(bands.select(col("doc_id").as("doc_id_b"), col("bkey")), Seq("bkey"))
        .filter(col("doc_id_a") < col("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
        .distinct()
    }
    cand
      .join(sigs.select(col("doc_id").as("doc_id_a"), col("sig").as("siga")), "doc_id_a")
      .join(sigs.select(col("doc_id").as("doc_id_b"), col("sig").as("sigb")), "doc_id_b")
      .join(sh.select(col("doc_id").as("doc_id_a"), col("s").as("sa")), "doc_id_a")
      .join(sh.select(col("doc_id").as("doc_id_b"), col("s").as("sb")), "doc_id_b")
      .withColumn("est", round(
        size(filter(zip_with(col("siga"), col("sigb"), (x, y) => x === y), b => b))
          / lit(MinhashK.toDouble), 6))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("double"))
      .withColumn("jaccard", round(
        col("inter") / (size(col("sa")) + size(col("sb")) - col("inter")), 6))
      .withColumn("abs_err", round(abs(col("est") - col("jaccard")), 6))
      .select("doc_id_a", "doc_id_b", "est", "jaccard", "abs_err")
      .orderBy("doc_id_a", "doc_id_b")
  }

  val ContainmentThreshold = 0.8
  val ContainSampleMod = 4   // shingle-hash sampling: h % 4 == 0 → 25% of the universe
  val ContainMaxDf = 50      // stop-shingle guard: see qDedupContainment

  /** Containment near-dup pairs: C(A,B) = |A∩B| / min(|A|,|B|) ≥ τ —
    * the asymmetric measure that catches a short document embedded in
    * a long one (quotes, excerpts, syndicated fragments), which
    * Jaccard structurally misses (|A∩B|/|A∪B| shrinks as the long doc
    * grows). Production curation runs BOTH: Jaccard for same-size
    * near-dups, containment for subset relations.
    *
    * Blocking is min-wise shingle sampling (an inverted-index sample):
    * candidates are pairs sharing ANY shingle whose 32-bit hash falls
    * in the 1/ContainSampleMod sample of the universe. Deterministic
    * (hash-keyed, the oracle replays it), and the shuffle carries only
    * sampled (doc_id, hash) rows — a pair with k shared shingles is
    * caught unless ALL k hashes miss the sample, so recall rises
    * exactly with the overlap a containment pair must have anyway.
    *
    * Stop-shingle guard: sampled shingles appearing in more than
    * ContainMaxDf documents are dropped from candidate generation —
    * the classic prefix-filtering rule. A corpus-common 3-gram ("of
    * the and"-class) is non-discriminative AND quadratic: one key
    * shared by 10^5 docs would emit 10^10 candidate pairs. A true
    * containment pair (≥80% of the shorter doc's shingles shared)
    * shares rare shingles essentially surely, so the cap costs
    * recall only for documents made ENTIRELY of stop-shingles.
    */
  def qDedupContainment(spark: SparkSession, dir: String): DataFrame = {
    val sh = shinglesCk(spark, dir)
    val sampled = sh.select(col("doc_id"), explode(col("s")).as("x"))
      .withColumn("h", conv(substring(md5(col("x")), 1, 8), 16, 10).cast("long"))
      .filter(col("h") % ContainSampleMod === 0)
      .select("doc_id", "h")
      .barrier(false)   // one shingle-hash pass; df agg + both join sides read it
    val rare = sampled.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= ContainMaxDf && col("df") >= 2)
      .select("h")
    val discriminative = sampled.join(rare, "h")
      // narrow (doc_id, h) rows — the guard + both join sides read it
      .barrier(false)
    // round 11 (r10 verdict #6): the DF cap bounds each bucket at
    // ContainMaxDf but not the bucket COUNT — the total mass still
    // needs the load proof before the self-join runs
    pairLoadGuard(discriminative, Seq("h"),
      "q_dedup_containment", "q_dedup_minhash_topk")
    val cand = discriminative.select(col("doc_id").as("doc_id_a"), col("h"))
      .join(discriminative.select(col("doc_id").as("doc_id_b"), col("h")), Seq("h"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select("doc_id_a", "doc_id_b")
      .distinct()
    // verification intersects 8-byte hash SETS, not shingle strings —
    // the candidate join was the one place in the dedup family where
    // text-sized arrays still crossed an exchange (~30 chars/shingle
    // vs 8 bytes; same md5 arithmetic in the oracle, so a 32-bit
    // collision — ~1e-5 per pair at these set sizes — is identical in
    // both engines). Denominators stay the true shingle-set sizes.
    val hv = sh.select(col("doc_id"),
      array_distinct(transform(col("s"),
        x => conv(substring(md5(x), 1, 8), 16, 10).cast("long"))).as("hv"),
      size(col("s")).cast("double").as("ns"))
    cand
      .join(hv.select(col("doc_id").as("doc_id_a"),
        col("hv").as("ha"), col("ns").as("na")), "doc_id_a")
      .join(hv.select(col("doc_id").as("doc_id_b"),
        col("hv").as("hb"), col("ns").as("nb")), "doc_id_b")
      .withColumn("containment", round(
        size(array_intersect(col("ha"), col("hb")))
          / least(col("na"), col("nb")), 6))
      .filter(col("containment") >= ContainmentThreshold)
      .select("doc_id_a", "doc_id_b", "containment")
      .orderBy("doc_id_a", "doc_id_b")
  }

  val SubW = 8   // word-window width for substring-level dedup

  /** Substring-level exact dedup (the span-granularity pass of Lee et
    * al.'s "Deduplicating Training Data Makes Language Models Better"):
    * every SubW-word span that occurs in ≥2 distinct documents is a
    * duplicated span; report per document the span count, how many of
    * its spans are duplicated, and the fraction of its tokens covered
    * by at least one duplicated span (the "how much of this doc is
    * boilerplate" number a curation pipeline thresholds on).
    *
    * Scale shape: spans travel as 16-byte md5 keys + an int position —
    * text never shuffles. The duplicated-span set is one map-side-
    * combined groupBy on the hash; marking is a hash-key join of the
    * span stream against that (rare, duplication-sized) set; the
    * coverage explode multiplies only duplicated spans by SubW, never
    * the corpus.
    */
  def qDedupSubstring(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= SubW)
    val grams = d.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("words")) - SubW),
          i => md5(concat_ws(" ", slice(col("words"), i + 1, lit(SubW))))))
          .as(Seq("pos", "gh")))
      .barrier(false)   // one split/md5 pass, read by dup-set agg AND the mark join
    val dup = grams.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("gh")
    val hits = grams.join(dup, "gh")
      .select("doc_id", "pos")
      .barrier(false)   // duplication-sized; read by the span count AND the coverage pass
    val nDup = hits.groupBy("doc_id").agg(count(lit(1)).as("n_dup_spans"))
    val cover = hits
      .select(col("doc_id"), explode(sequence(col("pos") + 1, col("pos") + SubW)).as("p"))
      .groupBy("doc_id").agg(countDistinct(col("p")).as("covered"))
    d.select(col("doc_id"), size(col("words")).as("n_words"))
      .join(nDup, Seq("doc_id"), "left")
      .join(cover, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("n_words") - SubW + 1).cast("long").as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        round(coalesce(col("covered"), lit(0L)) / col("n_words").cast("double"), 6)
          .as("dup_token_frac"))
      .orderBy("doc_id")
  }

  val LineMinLen = 10 // chars — shorter segments are separators/noise
  val LineDupDocs = 3 // a line in ≥ this many distinct docs is boilerplate
  val LineW = 8       // words per line segment (corpus has no newlines)

  /** Line-level boilerplate dedup (the CCNet/C4 paragraph-hash pass):
    * segment each document into lines, hash every line, and mark
    * lines whose document frequency ≥ LineDupDocs as boilerplate
    * (nav bars, cookie banners, repeated ledes). Per doc: how many
    * lines, how many are corpus-boilerplate, and the char mass they
    * carry — the removal plan a cleaning pass executes. The synthetic
    * corpus carries no newline/sentence structure, so "line" here is
    * the aligned LineW-word segment; on a real crawl the segmentation
    * swaps to split(text, '\n') and everything downstream is
    * unchanged.
    *
    * Scale shape: lines leave the scan as (doc_id, 60-bit md5 prefix,
    * n_chars) — text never shuffles. Per-doc line multiset and the
    * corpus DF table are map-side-combined groupBys on 8-byte keys;
    * the boilerplate mark is an equi-join on the hash (the
    * boilerplate set is duplication-sized, NOT assumed broadcastable
    * — at 100 TB the shared-line table is itself large).
    */
  /** (doc_id, line-hash, n_chars) for any (doc_id, text) frame — a
    * stateless narrow pass, so it is stream-safe; shared with the
    * streaming boilerplate screen.
    */
  private[graft] def lineHashesOfDocs(docs: DataFrame): DataFrame =
    docs.withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), expr(s"((size(words) - 1) div $LineW) * $LineW"), lit(LineW)),
        st => concat_ws(" ", slice(col("words"), st + 1, lit(LineW))))).as("line"))
      .filter(length(col("line")) >= LineMinLen)
      .select(col("doc_id"),
        conv(substring(md5(col("line")), 1, 15), 16, 10).cast("long").as("h"),
        length(col("line")).cast("long").as("n_chars"))

  def qDedupLines(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = lineHashesOfDocs(Tables.documents(spark, dir))
      .groupBy("doc_id", "h")
      .agg(count(lit(1)).as("n_occ"), sum(col("n_chars")).as("occ_chars"))
      .barrier(false) // read by the DF agg AND the mark join
    val boiler = perDoc.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= LineDupDocs)
      .select(col("h"), lit(1L).as("is_b"))
    perDoc.join(boiler, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(sum(col("n_occ")).as("n_lines"),
        sum(when(col("is_b") === 1L, col("n_occ")).otherwise(0L)).as("n_boiler_lines"),
        sum(when(col("is_b") === 1L, col("occ_chars")).otherwise(0L)).as("boiler_chars"))
      .withColumn("boiler_frac",
        round(col("n_boiler_lines") / col("n_lines").cast("double"), 6))
      .select("doc_id", "n_lines", "n_boiler_lines", "boiler_chars", "boiler_frac")
      .orderBy("doc_id")
  }

  val ProtoPct = 0.1 // bottom decile per cluster is dropped

  /** Prototypicality filter — the SemDeDup-paper companion move (and
    * the CLIP-score-style "drop the least representative tail"):
    * every embedding's cosine to its own cluster centroid, kept iff
    * it clears the cluster's 10th percentile. Same nearest-centroid
    * assignment (and rounding points) as q_semdedup; the threshold is
    * one exact-percentile aggregate per cluster (#clusters rows,
    * broadcast back) — never a cluster-sized rank window.
    */
  def qProtoFilter(spark: SparkSession, dir: String): DataFrame = {
    val (_, assigned) = semAssign(spark, dir)
    val th = assigned.groupBy("cluster")
      .agg(round(expr(s"percentile(cent_cos, $ProtoPct)"), 6).as("p10"))
    assigned.join(broadcast(th), "cluster")
      .withColumn("keep", col("cent_cos") >= col("p10"))
      .select("vec_id", "cluster", "cent_cos", "p10", "keep")
      .orderBy("vec_id")
  }

  val WinnowK = 3    // word-gram width for winnowing
  val WinnowW = 4    // window of consecutive gram hashes (guarantee: ≥1 fingerprint per W grams)
  val WinnowMaxDf = 50   // stop-fingerprint guard, same rationale as ContainMaxDf
  val WinnowOverlap = 0.5

  /** Winnowing fingerprint overlap (Schleimer/Wilkerson/Aiken, SIGMOD
    * 2003 — the MOSS local-fingerprinting algorithm): hash every
    * WinnowK-word gram, keep the MINIMUM hash of each window of
    * WinnowW consecutive gram hashes, and report document pairs whose
    * selected-fingerprint sets overlap ≥ WinnowOverlap of the smaller
    * set. Unlike MinHash (a global random sample), winnowing gives a
    * POSITIONAL density guarantee — every W-gram stretch contributes
    * a fingerprint — so partial overlaps (a copied paragraph inside
    * an otherwise-new doc) are caught in proportion to their length.
    *
    * Scale shape: fingerprints are 8-byte longs at expected density
    * 2/(W+1) of the gram stream; text never crosses an exchange. The
    * pair join is equi on fingerprint with the stop-fingerprint DF
    * cap (a corpus-common fingerprint shared by 10^5 docs would emit
    * 10^10 pairs; a true overlap shares rare fingerprints essentially
    * surely). Overlap is one double division of two exact integers —
    * identical single-op IEEE on both engines.
    */
  def qWinnow(spark: SparkSession, dir: String): DataFrame = {
    val f = Tables.documents(spark, dir)
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= WinnowK + WinnowW - 1)
      // native one-pass expression (gram md5 prefixes → window mins →
      // distinct); PropertySpec proves bit-equality with the HOF twin
      .withColumn("fps",
        graft.functions.WinnowFps.winnow_fps(col("words"), WinnowK, WinnowW))
      .select(col("doc_id"), col("fps"), size(col("fps")).cast("long").as("nf"))
      .barrier(false)  // one hash pass; DF cap, both join sides, sizes all read it
    // candidates from DF-capped fingerprints (the stop-fp guard);
    // VERIFY on the FULL fingerprint sets — same two-phase shape as
    // qDedupContainment, so a pair of identical docs always scores
    // exactly 1.0 even when some of its fingerprints are corpus-hot
    val e = f.select(col("doc_id"), explode(col("fps")).as("fp"))
    val rare = e.groupBy("fp").agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2 && col("df") <= WinnowMaxDf)
      .select("fp")
    val ee = e.join(rare, "fp")
      // narrow (doc_id, fp) rows — the guard + both join sides read it
      .barrier(false)
    // round 11 (r10 verdict #6): same load proof as containment —
    // per-fingerprint DF is capped, fingerprint count is not
    pairLoadGuard(ee, Seq("fp"), "q_winnow", "q_dedup_minhash_topk")
    val cand = ee.select(col("doc_id").as("doc_id_a"), col("fp"))
      .join(ee.select(col("doc_id").as("doc_id_b"), col("fp")), Seq("fp"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select("doc_id_a", "doc_id_b")
      .distinct()
    cand
      .join(f.select(col("doc_id").as("doc_id_a"),
        col("fps").as("fa"), col("nf").as("na")), "doc_id_a")
      .join(f.select(col("doc_id").as("doc_id_b"),
        col("fps").as("fb"), col("nf").as("nb")), "doc_id_b")
      .withColumn("n_shared", size(array_intersect(col("fa"), col("fb"))).cast("long"))
      .withColumn("overlap", round(col("n_shared") / least(col("na"), col("nb")), 6))
      .filter(col("overlap") >= WinnowOverlap)
      .select("doc_id_a", "doc_id_b", "n_shared", "overlap")
      .orderBy("doc_id_a", "doc_id_b")
  }

  val CdcMod = 8   // boundary when h(word) ≡ 0 (mod 8) → mean chunk ≈ 8 words

  /** Content-defined chunk dedup (the FastCDC/gear-hash family, Xia
    * et al. FAST'16, at word granularity): a chunk boundary falls
    * after every word whose hash ≡ 0 (mod CdcMod), so boundaries are
    * CONTENT-anchored — inserting a sentence shifts every fixed-size
    * chunk after it but leaves content-defined chunks untouched.
    * Reports every chunk occurring in ≥2 distinct documents with its
    * document/occurrence counts — the shift-robust complement to
    * q_dedup_substring's fixed-width spans.
    *
    * Scale shape: boundary choice is per-row arithmetic (zero
    * shuffles until the count); chunks travel as 16-byte md5 + an int
    * word count, never text; the groupBy is map-side combined on the
    * hash, and output size is bounded by the corpus's duplication,
    * not its size.
    */
  /** The content-defined chunking stage of [[qDedupCdc]] over an
    * arbitrary documents frame — stateless narrow pass (works under a
    * streaming source unchanged; the ingest screen joins its output
    * against the standing duplicated-chunk set).
    */
  def cdcChunksOfDocs(docs: DataFrame): DataFrame = {
    val d = docs
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 1)
      // n=1 guard: sequence(1, 0) DESCENDS in Spark (it is empty in
      // DuckDB), and element_at(words, 0) throws under ANSI — a
      // 1-word doc has no interior boundary candidates at all
      .withColumn("bounds", concat(
        array(lit(0)),
        when(size(col("words")) >= 2,
          filter(sequence(lit(1), size(col("words")) - 1),
            i => conv(substring(md5(element_at(col("words"), i)), 1, 8), 16, 10)
              .cast("long") % CdcMod === 0))
          .otherwise(array().cast("array<int>")),
        array(size(col("words")))))
      .withColumn("hs", transform(sequence(lit(1), size(col("bounds")) - 1),
        j => md5(concat_ws(" ", slice(col("words"),
          element_at(col("bounds"), j) + 1,
          element_at(col("bounds"), j + 1) - element_at(col("bounds"), j))))))
      .withColumn("ls", transform(sequence(lit(1), size(col("bounds")) - 1),
        j => (element_at(col("bounds"), j + 1) - element_at(col("bounds"), j))
          .cast("long")))
    d.select(col("doc_id"), explode(arrays_zip(col("hs"), col("ls"))).as("z"))
      .select(col("doc_id"), col("z.hs").as("chunk_hash"), col("z.ls").as("n_words"))
  }

  def qDedupCdc(spark: SparkSession, dir: String): DataFrame = {
    cdcChunksOfDocs(Tables.documents(spark, dir))
      .groupBy("chunk_hash")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        max(col("n_words")).as("n_words"))
      .filter(col("n_docs") >= 2)
      .select("chunk_hash", "n_words", "n_docs", "n_occ")
      .orderBy("chunk_hash")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_winnow" -> qWinnow,
    "q_dedup_cdc" -> qDedupCdc,
    "q_dedup_lines" -> qDedupLines,
    "q_semdedup" -> qSemdedup,
    "q_proto_filter" -> qProtoFilter,
    "q_source_minhash" -> qSourceMinhash,
    "q_dedup_simhash64" -> qDedupSimhash64,
    "q_dedup_exact" -> qDedupExact,
    "q_dedup_url" -> qDedupUrl,
    "q_dedup_minhash" -> qDedupMinhash,
    "q_neardup_candidates" -> qNeardupCandidates,
    "q_dedup_temporal" -> qDedupTemporal,
    "q_dedup_simhash" -> qDedupSimhash,
    "q_dedup_simhash_topk" -> qDedupSimhashTopk,
    "q_dedup_embedding_topk" -> qDedupEmbeddingTopk,
    "q_dedup_minhash_topk" -> qDedupMinhashTopk,
    "q_dedup_ngram" -> qDedupNgram,
    "q_dedup_embedding" -> qDedupEmbedding,
    "q_dedup_substring" -> qDedupSubstring,
    "q_dedup_containment" -> qDedupContainment,
    "q_minhash_est" -> qMinhashEst,
    "q_dedup_incremental" -> qDedupIncremental,
    "q_dedup_clusters" -> qDedupClusters,
    "q_lsh_bucket_stats" -> qLshBucketStats,
    "q_cross_source_dups" -> qCrossSourceDups,
    "q_best_copy" -> qBestCopy)

  /** Segment extraction as a DuckDB CASE over seg_idx (oracle mirror
    * of simhashPairs' posexplode).
    */
  private[graft] def segCaseSql(bits: Int, maxHamming: Int): String = {
    val cases = pigeonholeSegments(bits, maxHamming).zipWithIndex.map {
      case ((off, w), i) => s"WHEN $i THEN (sig >> $off) & ${(1L << w) - 1}"
    }.mkString(" ")
    s"CASE seg_idx $cases END"
  }

  private[graft] def bandedPairsSql(maxHamming: Int): String =
    s"""SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       |  bit_count(xor(a.sig, b.sig)) AS hamming
       |FROM seg a JOIN seg b
       |  ON a.seg_idx = b.seg_idx AND a.seg_val = b.seg_val AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= $maxHamming
       |ORDER BY doc_id_a, doc_id_b""".stripMargin

  private val SimhashDuckSql: String =
    s"""CAST(list_sum(list_transform(generate_series(0, ${SimhashBits - 1}), b ->
       |  CASE WHEN list_sum(list_transform(hs, h ->
       |    (((h >> b) & 1) * 2 - 1))) > 0 THEN (1 << b) ELSE 0 END)) AS INTEGER)""".stripMargin

  /** Shared oracle CTE chain: shingles → minhash sigs → LSH bands →
    * candidate pairs → jaccard-verified pairs (`verified`).
    */
  private[graft] val BandsCtes: String =
    s"""$ShinglesSql,
       |hsh AS MATERIALIZED (
       |  SELECT doc_id, s, list_transform(s,
       |    x -> CAST('0x' || substr(md5(x), 1, 8) AS BIGINT)) AS hs
       |  FROM sh),
       |sigs AS (
       |  SELECT doc_id, s, list_transform(generate_series(0, ${MinhashK - 1}),
       |    j -> list_aggregate(list_transform(hs,
       |      h -> (h * (1000003 + 7919 * j) + 12345 + 911 * j) % $MinhashP), 'min')) AS sig
       |  FROM hsh),
       |bands AS (
       |  SELECT doc_id, s,
       |    md5(array_to_string(sig[1 + 4*band : 4 + 4*band], '|') || '#' || band) AS bkey
       |  FROM sigs, (SELECT unnest(generate_series(0, ${LshBands - 1})) AS band))"""
      .stripMargin

  private val MinhashPairsCtes: String =
    s"""$BandsCtes,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
       |  FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |verified AS MATERIALIZED (
       |  SELECT doc_id_a, doc_id_b,
       |    round(len(list_intersect(sa.s, sb.s)) /
       |      CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS DOUBLE), 6)
       |      AS jaccard
       |  FROM cand JOIN sh sa ON sa.doc_id = doc_id_a
       |            JOIN sh sb ON sb.doc_id = doc_id_b)""".stripMargin

  /** Min-label propagation rounds replayed in SQL (same fixed
    * iteration count as qDedupClusters) — `dup` holds (doc_id,
    * canonical_id, cluster_size) for docs that belong to a pair.
    * Public pieces so downstream curation oracles can compose them.
    */
  private[operators] def clusterCtes: String = {
    val iters = (1 to ClusterIters).map { i =>
      val prev = s"c${i - 1}"
      s"""c$i AS MATERIALIZED (
         |  SELECT l.node, least(l.comp, coalesce(s.nbr_comp, l.comp)) AS comp
         |  FROM $prev l LEFT JOIN (
         |    SELECT e.dst AS node, min(p.comp) AS nbr_comp
         |    FROM $prev p JOIN edges e ON p.node = e.src
         |    GROUP BY e.dst) s ON s.node = l.node)""".stripMargin
    }.mkString(",\n")
    s"""$MinhashPairsCtes,
       |pairs AS MATERIALIZED (
       |  SELECT doc_id_a, doc_id_b FROM verified WHERE jaccard >= $JaccardThreshold),
       |edges AS MATERIALIZED (
       |  SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
       |  UNION ALL SELECT doc_id_b, doc_id_a FROM pairs),
       |c0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS comp FROM edges),
       |$iters,
       |sizes AS (SELECT comp, count(*) AS cluster_size FROM c$ClusterIters GROUP BY comp),
       |dup AS (SELECT node AS doc_id, comp AS canonical_id, cluster_size
       |  FROM c$ClusterIters JOIN sizes USING (comp))""".stripMargin
  }

  /** Embedding + label-centroid + nearest-centroid-assignment CTEs
    * (e/cd/scores/asg) — shared by the q_semdedup and q_proto_filter
    * oracles; identical rounding points to the Spark plans.
    */
  private def semAsgCtes: String = {
    val dotvc = Similarity.dotDuckSql("e.v", "c.cv")
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |    FROM embeddings)),
       |cd AS MATERIALIZED (
       |  SELECT label, list(round(c, 6) ORDER BY dim) AS cv,
       |    sqrt(list_sum(list_transform(list(round(c, 6) ORDER BY dim),
       |      x -> x * x))) AS cnrm
       |  FROM (
       |    SELECT label, dim, avg(x) AS c
       |    FROM (
       |      SELECT label,
       |        unnest(generate_series(0, len(embedding) - 1)) AS dim,
       |        unnest(list_transform(embedding, e -> CAST(e AS DOUBLE))) AS x
       |      FROM embeddings)
       |    GROUP BY label, dim)
       |  GROUP BY label),
       |scores AS MATERIALIZED (
       |  SELECT e.vec_id, c.label,
       |    round($dotvc / (e.nrm * c.cnrm), 6) AS cc
       |  FROM e, cd c),
       |asg AS MATERIALIZED (
       |  SELECT vec_id, min(label) AS cluster, min(cc) AS cent_cos FROM (
       |    SELECT vec_id, label, cc, max(cc) OVER (PARTITION BY vec_id) AS mc
       |    FROM scores) WHERE cc = mc GROUP BY vec_id)""".stripMargin
  }

  private def dedupClustersSql: String =
    s"""WITH $clusterCtes
       |SELECT d.doc_id,
       |  coalesce(dup.canonical_id, d.doc_id) AS canonical_id,
       |  coalesce(dup.cluster_size, 1) AS cluster_size
       |FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id
       |ORDER BY d.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_winnow" ->
      s"""WITH w AS (
         |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
         |  WHERE len(string_split(text, ' ')) >= ${WinnowK + WinnowW - 1}),
         |h AS (
         |  SELECT doc_id, list_transform(generate_series(1, len(words) - ${WinnowK - 1}),
         |    i -> CAST('0x' || substr(md5(array_to_string(words[i:i+${WinnowK - 1}], ' ')), 1, 8) AS BIGINT)) AS hs
         |  FROM w),
         |f AS (
         |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(hs) - ${WinnowW - 1}),
         |    j -> list_aggregate(hs[j:j+${WinnowW - 1}], 'min'))) AS fps
         |  FROM h),
         |e AS MATERIALIZED (SELECT doc_id, unnest(fps) AS fp FROM f),
         |rare AS (SELECT fp FROM e GROUP BY fp
         |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND $WinnowMaxDf),
         |ee AS MATERIALIZED (SELECT e.doc_id, e.fp FROM e JOIN rare USING (fp)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |  FROM ee a JOIN ee b ON a.fp = b.fp AND a.doc_id < b.doc_id),
         |v AS (
         |  SELECT doc_id_a, doc_id_b,
         |    CAST(len(list_intersect(a.fps, b.fps)) AS BIGINT) AS n_shared,
         |    round(len(list_intersect(a.fps, b.fps))
         |      / least(CAST(len(a.fps) AS BIGINT), CAST(len(b.fps) AS BIGINT)), 6)
         |      AS overlap
         |  FROM cand JOIN f a ON a.doc_id = doc_id_a
         |            JOIN f b ON b.doc_id = doc_id_b)
         |SELECT doc_id_a, doc_id_b, n_shared, overlap FROM v
         |WHERE overlap >= $WinnowOverlap
         |ORDER BY doc_id_a, doc_id_b""".stripMargin,
    "q_dedup_cdc" ->
      s"""WITH w AS (
         |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
         |  WHERE len(string_split(text, ' ')) >= 1),
         |b AS (
         |  SELECT doc_id, words,
         |    list_concat(list_concat([0],
         |      list_filter(generate_series(1, len(words) - 1),
         |        i -> CAST('0x' || substr(md5(words[i]), 1, 8) AS BIGINT) % $CdcMod = 0)),
         |      [len(words)]) AS bounds
         |  FROM w),
         |ch AS (
         |  SELECT doc_id,
         |    unnest(list_transform(generate_series(1, len(bounds) - 1),
         |      j -> md5(array_to_string(words[bounds[j] + 1 : bounds[j + 1]], ' ')))) AS chunk_hash,
         |    unnest(list_transform(generate_series(1, len(bounds) - 1),
         |      j -> CAST(bounds[j + 1] - bounds[j] AS BIGINT))) AS n_words
         |  FROM b)
         |SELECT chunk_hash, max(n_words) AS n_words,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_occ
         |FROM ch GROUP BY chunk_hash
         |HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY chunk_hash""".stripMargin,
    "q_proto_filter" ->
      s"""WITH $semAsgCtes,
         |th AS (SELECT cluster,
         |    round(quantile_cont(cent_cos, $ProtoPct), 6) AS p10
         |  FROM asg GROUP BY cluster)
         |SELECT vec_id, cluster, cent_cos, p10, cent_cos >= p10 AS keep
         |FROM asg JOIN th USING (cluster) ORDER BY vec_id""".stripMargin,
    "q_dedup_lines" ->
      s"""WITH w AS (
         |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         |l AS (
         |  SELECT doc_id, array_to_string(words[s + 1 : s + $LineW], ' ') AS line
         |  FROM (SELECT doc_id, words, unnest(generate_series(0,
         |      ((len(words) - 1) // $LineW) * $LineW, $LineW)) AS s
         |    FROM w)
         |  WHERE length(array_to_string(words[s + 1 : s + $LineW], ' ')) >= $LineMinLen),
         |ph AS MATERIALIZED (
         |  SELECT doc_id, CAST('0x' || substr(md5(line), 1, 15) AS BIGINT) AS h,
         |    count(*) AS n_occ, CAST(sum(length(line)) AS BIGINT) AS occ_chars
         |  FROM l GROUP BY doc_id, h),
         |b AS (SELECT h FROM ph GROUP BY h HAVING count(*) >= $LineDupDocs)
         |SELECT doc_id,
         |  CAST(sum(n_occ) AS BIGINT) AS n_lines,
         |  CAST(sum(CASE WHEN b.h IS NOT NULL THEN n_occ ELSE 0 END) AS BIGINT)
         |    AS n_boiler_lines,
         |  CAST(sum(CASE WHEN b.h IS NOT NULL THEN occ_chars ELSE 0 END) AS BIGINT)
         |    AS boiler_chars,
         |  round(sum(CASE WHEN b.h IS NOT NULL THEN n_occ ELSE 0 END)
         |    / CAST(sum(n_occ) AS DOUBLE), 6) AS boiler_frac
         |FROM ph LEFT JOIN b USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_source_minhash" ->
      s"""WITH $ShinglesSql,
         |hs AS MATERIALIZED (
         |  SELECT d.source, CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) AS h
         |  FROM (SELECT doc_id, unnest(s) AS x FROM sh)
         |  JOIN documents d USING (doc_id))
         |SELECT source, j,
         |  min((h * (1000003 + 7919 * j) + 12345 + 911 * j) % $MinhashP) AS sig_j
         |FROM hs, (SELECT unnest(generate_series(0, ${MinhashK - 1})) AS j)
         |GROUP BY source, j ORDER BY source, j""".stripMargin,
    "q_dedup_simhash64" ->
      s"""WITH docs AS (SELECT doc_id, list_transform(string_split(text, ' '),
         |    w -> CAST('0x' || substr(md5(w), 1, 15) AS BIGINT)) AS hs FROM documents),
         |sigs AS MATERIALIZED (
         |  SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 59), b ->
         |    CASE WHEN list_sum(list_transform(hs, h ->
         |      (((h >> b) & 1) * 2 - 1))) > 0 THEN (CAST(1 AS BIGINT) << b)
         |    ELSE 0 END)) AS BIGINT) AS sig
         |  FROM docs),
         |seg AS MATERIALIZED (
         |  SELECT doc_id, sig, seg_idx, ${segCaseSql(60, Hamming64Max)} AS seg_val
         |  FROM sigs, (SELECT unnest(generate_series(0, $Hamming64Max)) AS seg_idx))
         |${bandedPairsSql(Hamming64Max)}""".stripMargin,
    "q_dedup_url" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    CASE CAST((doc_id // 20) % 4 AS INT)
        |      WHEN 0 THEN 'http://' || source || '.example.com/wire/' || (doc_id // 60)
        |      WHEN 1 THEN 'https://www.' || source || '.example.com/wire/' || (doc_id // 60) || '/'
        |      WHEN 2 THEN 'https://' || source || '.example.com/wire/' || (doc_id // 60) || '?utm_source=rss&ref=' || doc_id
        |      ELSE 'HTTPS://' || upper(source || '.example.com/wire/' || (doc_id // 60)) || '#frag'
        |    END AS u
        |  FROM documents),
        |canon AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(
        |      lower(regexp_replace(regexp_replace(u, '#.*$', ''), '\?.*$', '')),
        |      '^http://', 'https://'), '^https://www\.', 'https://'), '/$', '')
        |      AS canonical_url
        |  FROM raw)
        |SELECT doc_id, canonical_url,
        |  min(doc_id) OVER (PARTITION BY canonical_url) AS canonical_id,
        |  count(*) OVER (PARTITION BY canonical_url) AS n_copies
        |FROM canon ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      """WITH g AS (
        |  SELECT md5(text) AS h, min(doc_id) AS canonical_id,
        |    count(*) AS n_copies
        |  FROM documents GROUP BY 1)
        |SELECT doc_id, canonical_id, n_copies
        |FROM documents JOIN g ON md5(text) = h
        |ORDER BY doc_id""".stripMargin,
    "q_dedup_temporal" ->
      s"""WITH $ShinglesSql,
         |hsh AS MATERIALIZED (
         |  SELECT doc_id, s, list_transform(s,
         |    x -> CAST('0x' || substr(md5(x), 1, 8) AS BIGINT)) AS hs
         |  FROM sh),
         |sigs AS (
         |  SELECT doc_id, list_transform(generate_series(0, ${MinhashK - 1}),
         |    j -> list_aggregate(list_transform(hs,
         |      h -> (h * (1000003 + 7919 * j) + 12345 + 911 * j) % $MinhashP), 'min')) AS sig
         |  FROM hsh),
         |bnd AS MATERIALIZED (
         |  SELECT doc_id, (doc_id * 37) % 365 AS day,
         |    ((doc_id * 37) % 365) // $TemporalWindow AS bucket,
         |    md5(array_to_string(sig[1 + 4*band : 4 + 4*band], '|') || '#' || band) AS bkey
         |  FROM sigs, (SELECT unnest(generate_series(0, ${LshBands - 1})) AS band)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |    a.day AS day_a, b.day AS day_b
         |  FROM (SELECT doc_id, day, bkey,
         |          unnest([bucket - 1, bucket, bucket + 1]) AS bucket FROM bnd) a
         |  JOIN bnd b ON a.bkey = b.bkey AND a.bucket = b.bucket
         |    AND a.doc_id < b.doc_id
         |  WHERE abs(a.day - b.day) <= $TemporalWindow)
         |SELECT doc_id_a, doc_id_b, day_a, day_b,
         |  round(len(list_intersect(sa.s, sb.s)) /
         |    CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS DOUBLE), 6)
         |    AS jaccard
         |FROM cand JOIN sh sa ON sa.doc_id = doc_id_a
         |          JOIN sh sb ON sb.doc_id = doc_id_b
         |WHERE round(len(list_intersect(sa.s, sb.s)) /
         |    CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS DOUBLE), 6)
         |  >= $JaccardThreshold
         |ORDER BY doc_id_a, doc_id_b""".stripMargin,
    "q_dedup_minhash" ->
      s"""WITH $MinhashPairsCtes
         |SELECT * FROM verified WHERE jaccard >= $JaccardThreshold
         |ORDER BY doc_id_a, doc_id_b""".stripMargin,
    "q_cross_source_dups" ->
      s"""WITH $MinhashPairsCtes,
         |p AS (SELECT doc_id_a, doc_id_b, jaccard FROM verified
         |  WHERE jaccard >= $JaccardThreshold)
         |SELECT least(da.source, db.source) AS source_a,
         |  greatest(da.source, db.source) AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CAST(round(jaccard * 1000000) AS BIGINT)) AS BIGINT)
         |    AS sum_jac_micro,
         |  CAST(CAST(sum(CAST(round(jaccard * 1000000) AS BIGINT)) AS BIGINT)
         |    // CAST(count(*) AS BIGINT) AS BIGINT) AS avg_jac_micro
         |FROM p
         |JOIN documents da ON da.doc_id = p.doc_id_a
         |JOIN documents db ON db.doc_id = p.doc_id_b
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_best_copy" ->
      s"""WITH c AS MATERIALIZED ($dedupClustersSql),
         |j AS (SELECT c.doc_id, canonical_id, cluster_size, d.n_chars
         |  FROM c JOIN documents d USING (doc_id)),
         |b AS (SELECT canonical_id, doc_id AS best_doc FROM (
         |  SELECT canonical_id, doc_id, row_number() OVER (
         |    PARTITION BY canonical_id ORDER BY n_chars DESC, doc_id) AS rn
         |  FROM j) WHERE rn = 1)
         |SELECT j.doc_id, j.canonical_id, j.cluster_size, b.best_doc,
         |  CAST(CASE WHEN j.doc_id = b.best_doc THEN 1 ELSE 0 END AS BIGINT)
         |    AS keep
         |FROM j JOIN b USING (canonical_id) ORDER BY doc_id""".stripMargin,
    "q_lsh_bucket_stats" ->
      s"""WITH $BandsCtes,
         |bs AS (SELECT bkey, CAST(count(*) AS BIGINT) AS bucket_size
         |  FROM bands GROUP BY bkey)
         |SELECT bucket_size, CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(count(*) * (bucket_size * (bucket_size - 1) // 2) AS BIGINT)
         |    AS pairs
         |FROM bs GROUP BY bucket_size ORDER BY bucket_size""".stripMargin,
    "q_neardup_candidates" ->
      s"""WITH $MinhashPairsCtes
         |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |  count(*) AS n_shared_bands
         |FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |ORDER BY doc_id_a, doc_id_b""".stripMargin,
    "q_minhash_est" ->
      s"""WITH $MinhashPairsCtes
         |SELECT doc_id_a, doc_id_b, est, jaccard,
         |  round(abs(est - jaccard), 6) AS abs_err
         |FROM (
         |  SELECT c.doc_id_a, c.doc_id_b,
         |    round(len(list_filter(generate_series(1, $MinhashK),
         |      j -> a.sig[j] = b.sig[j])) / CAST($MinhashK AS DOUBLE), 6) AS est,
         |    round(len(list_intersect(a.s, b.s)) /
         |      CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE), 6)
         |      AS jaccard
         |  FROM cand c JOIN sigs a ON a.doc_id = c.doc_id_a
         |              JOIN sigs b ON b.doc_id = c.doc_id_b)
         |ORDER BY doc_id_a, doc_id_b""".stripMargin,
    "q_dedup_incremental" ->
      s"""WITH $MinhashPairsCtes,
         |flag AS (SELECT doc_id,
         |    CAST('0x' || substr(md5('split#' || doc_id), 1, 8) AS BIGINT) % 100 >= 90
         |      AS is_new
         |  FROM documents)
         |SELECT
         |  CASE WHEN fa.is_new THEN v.doc_id_a ELSE v.doc_id_b END AS new_id,
         |  CASE WHEN fa.is_new THEN v.doc_id_b ELSE v.doc_id_a END AS corpus_id,
         |  v.jaccard
         |FROM verified v
         |  JOIN flag fa ON v.doc_id_a = fa.doc_id
         |  JOIN flag fb ON v.doc_id_b = fb.doc_id
         |WHERE v.jaccard >= $JaccardThreshold AND fa.is_new <> fb.is_new
         |ORDER BY new_id, corpus_id""".stripMargin,
    "q_dedup_clusters" -> dedupClustersSql,
    "q_dedup_containment" ->
      s"""WITH $ShinglesSql,
         |sx AS MATERIALIZED (
         |  SELECT doc_id, h FROM (
         |    SELECT doc_id, CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) AS h
         |    FROM (SELECT doc_id, unnest(s) AS x FROM sh))
         |  WHERE h % $ContainSampleMod = 0),
         |rare AS (SELECT h FROM sx GROUP BY h
         |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND $ContainMaxDf),
         |sd AS MATERIALIZED (SELECT doc_id, h FROM sx JOIN rare USING (h)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |  FROM sd a JOIN sd b ON a.h = b.h AND a.doc_id < b.doc_id),
         |hv AS MATERIALIZED (
         |  SELECT doc_id,
         |    list_distinct(list_transform(s,
         |      x -> CAST('0x' || substr(md5(x), 1, 8) AS BIGINT))) AS hv,
         |    CAST(len(s) AS DOUBLE) AS ns
         |  FROM sh)
         |SELECT doc_id_a, doc_id_b,
         |  round(len(list_intersect(a.hv, b.hv)) / least(a.ns, b.ns), 6)
         |    AS containment
         |FROM cand JOIN hv a ON a.doc_id = doc_id_a
         |          JOIN hv b ON b.doc_id = doc_id_b
         |WHERE round(len(list_intersect(a.hv, b.hv)) / least(a.ns, b.ns), 6)
         |  >= $ContainmentThreshold
         |ORDER BY doc_id_a, doc_id_b""".stripMargin,
    "q_dedup_substring" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
         |  WHERE len(string_split(text, ' ')) >= $SubW),
         |g AS MATERIALIZED (
         |  SELECT doc_id, u.pos AS pos, u.gh AS gh FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      generate_series(1, len(words) - ${SubW - 1}),
         |      i -> {'pos': i,
         |            'gh': md5(array_to_string(words[i:i+${SubW - 1}], ' '))})) AS u
         |    FROM d)),
         |dup AS (SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
         |hits AS MATERIALIZED (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
         |nd AS (SELECT doc_id, count(*) AS n_dup_spans FROM hits GROUP BY doc_id),
         |cov AS (SELECT doc_id, count(DISTINCT p) AS covered FROM (
         |  SELECT doc_id, unnest(generate_series(pos, pos + ${SubW - 1})) AS p
         |  FROM hits) GROUP BY doc_id)
         |SELECT d.doc_id, len(words) - ${SubW - 1} AS n_spans,
         |  coalesce(nd.n_dup_spans, 0) AS n_dup_spans,
         |  round(coalesce(cov.covered, 0) / CAST(len(words) AS DOUBLE), 6)
         |    AS dup_token_frac
         |FROM d LEFT JOIN nd USING (doc_id) LEFT JOIN cov USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "q_dedup_simhash" ->
      s"""WITH docs AS (SELECT doc_id, list_transform(string_split(text, ' '),
         |    w -> CAST('0x' || substr(md5(w), 1, 4) AS INTEGER)) AS hs FROM documents),
         |sigs AS MATERIALIZED (SELECT doc_id, $SimhashDuckSql AS sig FROM docs),
         |seg AS MATERIALIZED (
         |  SELECT doc_id, sig, seg_idx, ${segCaseSql(SimhashBits, HammingMax)} AS seg_val
         |  FROM sigs, (SELECT unnest(generate_series(0, $HammingMax)) AS seg_idx))
         |${bandedPairsSql(HammingMax)}""".stripMargin,
    "q_dedup_minhash_topk" ->
      s"""WITH $MinhashPairsCtes,
         |prs AS MATERIALIZED (
         |  SELECT doc_id_a, doc_id_b, jaccard FROM verified
         |  WHERE jaccard >= $JaccardThreshold),
         |sym AS MATERIALIZED (
         |  SELECT doc_id_a AS doc_id, doc_id_b AS partner, jaccard FROM prs
         |  UNION ALL SELECT doc_id_b, doc_id_a, jaccard FROM prs),
         |st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_partners
         |  FROM sym GROUP BY doc_id)
         |SELECT doc_id, partner, jaccard, rk, n_partners FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY jaccard DESC, partner) AS rk FROM sym) r
         |JOIN st USING (doc_id)
         |WHERE rk <= $PairTopK ORDER BY doc_id, rk""".stripMargin,
    "q_dedup_simhash_topk" ->
      s"""WITH docs AS (SELECT doc_id, list_transform(string_split(text, ' '),
         |    w -> CAST('0x' || substr(md5(w), 1, 4) AS INTEGER)) AS hs FROM documents),
         |sigs AS MATERIALIZED (SELECT doc_id, $SimhashDuckSql AS sig FROM docs),
         |seg AS MATERIALIZED (
         |  SELECT doc_id, sig, seg_idx, ${segCaseSql(SimhashBits, HammingMax)} AS seg_val
         |  FROM sigs, (SELECT unnest(generate_series(0, $HammingMax)) AS seg_idx)),
         |prs AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
         |    bit_count(xor(a.sig, b.sig)) AS hamming
         |  FROM seg a JOIN seg b
         |    ON a.seg_idx = b.seg_idx AND a.seg_val = b.seg_val AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sig, b.sig)) <= $HammingMax),
         |sym AS MATERIALIZED (
         |  SELECT da AS doc_id, db AS partner, hamming FROM prs
         |  UNION ALL SELECT db, da, hamming FROM prs),
         |st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_partners
         |  FROM sym GROUP BY doc_id)
         |SELECT doc_id, partner, hamming, rk, n_partners FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY hamming, partner) AS rk FROM sym) r
         |JOIN st USING (doc_id)
         |WHERE rk <= $PairTopK ORDER BY doc_id, rk""".stripMargin,
    "q_dedup_embedding_topk" -> {
      val dot = Similarity.dotDuckSql("ea.v", "eb.v")
      val sigCase = (0 until EmbLshTables).map(t =>
        s"WHEN $t THEN ${Similarity.srpSigSql("v", t * EmbLshBits until (t + 1) * EmbLshBits)}")
        .mkString(" ")
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, v,
         |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
         |  FROM (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |    FROM embeddings)),
         |bk AS MATERIALIZED (
         |  SELECT vec_id, t, CASE t $sigCase END AS bucket
         |  FROM e, (SELECT unnest(generate_series(0, ${EmbLshTables - 1})) AS t)),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
         |  FROM bk a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |prs AS MATERIALIZED (
         |  SELECT vec_id_a, vec_id_b,
         |    round($dot / (ea.nrm * eb.nrm), 6) AS cosine
         |  FROM cand JOIN e ea ON ea.vec_id = vec_id_a JOIN e eb ON eb.vec_id = vec_id_b
         |  WHERE round($dot / (ea.nrm * eb.nrm), 6) >= $CosineThreshold),
         |sym AS MATERIALIZED (
         |  SELECT vec_id_a AS vec_id, vec_id_b AS partner, cosine FROM prs
         |  UNION ALL SELECT vec_id_b, vec_id_a, cosine FROM prs),
         |st AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_partners
         |  FROM sym GROUP BY vec_id)
         |SELECT vec_id, partner, cosine, rk, n_partners FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cosine DESC, partner) AS rk FROM sym) r
         |JOIN st USING (vec_id)
         |WHERE rk <= $PairTopK ORDER BY vec_id, rk""".stripMargin
    },
    "q_dedup_ngram" ->
      s"""WITH $ShinglesSql,
         |keyed AS (
         |  SELECT doc_id, s,
         |    list_aggregate(list_transform(s, x -> md5(x)), 'min') AS block
         |  FROM sh)
         |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |  round(len(list_intersect(a.s, b.s)) /
         |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE), 6) AS jaccard
         |FROM keyed a JOIN keyed b ON a.block = b.block AND a.doc_id < b.doc_id
         |WHERE round(len(list_intersect(a.s, b.s)) /
         |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE), 6) >= 0.3
         |ORDER BY doc_id_a, doc_id_b""".stripMargin,
    "q_semdedup" -> {
      val dotab = Similarity.dotDuckSql("ea.v", "eb.v")
      val sigCase = (0 until EmbLshTables).map(t =>
        s"WHEN $t THEN ${Similarity.srpSigSql("v", t * EmbLshBits until (t + 1) * EmbLshBits)}")
        .mkString(" ")
      s"""WITH $semAsgCtes,
         |bk AS MATERIALIZED (
         |  SELECT e.vec_id, t, CASE t $sigCase END AS bucket, a.cluster
         |  FROM e JOIN asg a USING (vec_id),
         |    (SELECT unnest(generate_series(0, ${EmbLshTables - 1})) AS t)),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS va_id, b.vec_id AS vb_id
         |  FROM bk a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket
         |    AND a.cluster = b.cluster AND a.vec_id < b.vec_id),
         |prs AS MATERIALIZED (
         |  SELECT va_id, vb_id
         |  FROM cand JOIN e ea ON ea.vec_id = va_id JOIN e eb ON eb.vec_id = vb_id
         |  WHERE round($dotab / (ea.nrm * eb.nrm), 6) >= $SemTau),
         |sym AS MATERIALIZED (
         |  SELECT va_id AS vec_id, vb_id AS partner FROM prs
         |  UNION ALL SELECT vb_id, va_id FROM prs),
         |nd AS (SELECT vec_id, count(DISTINCT partner) AS n_dups FROM sym GROUP BY vec_id),
         |drops AS (
         |  SELECT DISTINCT s.vec_id FROM sym s
         |  JOIN asg m ON m.vec_id = s.vec_id
         |  JOIN asg p ON p.vec_id = s.partner
         |  WHERE p.cent_cos < m.cent_cos
         |    OR (p.cent_cos = m.cent_cos AND s.partner < s.vec_id))
         |SELECT a.vec_id, a.cluster, a.cent_cos,
         |  CAST(coalesce(nd.n_dups, 0) AS BIGINT) AS n_dups,
         |  (d.vec_id IS NULL) AS keep
         |FROM asg a LEFT JOIN nd USING (vec_id)
         |LEFT JOIN drops d ON d.vec_id = a.vec_id
         |ORDER BY a.vec_id""".stripMargin
    },
    "q_dedup_embedding" -> {
      val dot = Similarity.dotDuckSql("ea.v", "eb.v")
      val sigCase = (0 until EmbLshTables).map(t =>
        s"WHEN $t THEN ${Similarity.srpSigSql("v", t * EmbLshBits until (t + 1) * EmbLshBits)}")
        .mkString(" ")
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, v,
         |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
         |  FROM (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |    FROM embeddings)),
         |bk AS MATERIALIZED (
         |  SELECT vec_id, t, CASE t $sigCase END AS bucket
         |  FROM e, (SELECT unnest(generate_series(0, ${EmbLshTables - 1})) AS t)),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
         |  FROM bk a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT vec_id_a, vec_id_b,
         |  round($dot / (ea.nrm * eb.nrm), 6) AS cosine
         |FROM cand JOIN e ea ON ea.vec_id = vec_id_a JOIN e eb ON eb.vec_id = vec_id_b
         |WHERE round($dot / (ea.nrm * eb.nrm), 6) >= $CosineThreshold
         |ORDER BY vec_id_a, vec_id_b""".stripMargin
    })
}
