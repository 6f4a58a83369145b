package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SimHash64
import graft.operators.TextPipeline

/** Property-based tests over generated corpora — invariants that must
  * hold for ANY input, not just the driver tables. (Raw ScalaCheck
  * generators with fixed seeds; the scalatest bridge isn't in the
  * offline cache.)
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val word: Gen[String] =
    Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val text: Gen[String] =
    Gen.choose(1, 60).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("chunker is lossless for arbitrary generated texts") {
    import spark.implicits._
    val texts = samples(text, 40)
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val words = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p0", "word")))
      .withColumn("pos", col("p0") + 1)
      .withColumn("off", coalesce(sum(length(col("word")) + 1).over(w), lit(0L)))
    val chunks = TextPipeline.withChunkId(words)
      .groupBy("doc_id", "chunk_id")
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("word")))),
        s => s.getField("word"))).as("chunk_text"))
    val rejoined = chunks.groupBy("doc_id")
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("chunk_id"), col("chunk_text")))),
        s => s.getField("chunk_text"))).as("r"))
    val bad = rejoined.join(docs, "doc_id")
      .filter(col("r") =!= col("text")).count()
    assert(bad == 0, s"chunker lost content on generated texts")
  }

  /** Adversarial text: empty words (consecutive spaces), words longer
    * than a whole chunk, and the empty/whitespace-only document — the
    * shapes the driver corpus never exercises.
    */
  private val adversarialText: Gen[String] = {
    val anyWord = Gen.frequency(
      6 -> word,
      2 -> Gen.const(""),
      1 -> Gen.choose(TextPipeline.ChunkLen + 1, 3 * TextPipeline.ChunkLen)
        .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString)))
    Gen.frequency(
      9 -> Gen.choose(0, 50).flatMap(n => Gen.listOfN(n, anyWord).map(_.mkString(" "))),
      1 -> Gen.const(""))
  }

  test("native ChunkFold ≡ HOF fold on adversarial texts (codegen path)") {
    import spark.implicits._
    val docs = samples(adversarialText, 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val emptyBuf = array().cast("array<string>")
    val emptyChunks = array().cast("array<struct<cid:int,text:string>>")
    def st(off: org.apache.spark.sql.Column, cid: org.apache.spark.sql.Column,
        buf: org.apache.spark.sql.Column, chunks: org.apache.spark.sql.Column) =
      struct(off.as("off"), cid.as("cid"), buf.as("buf"), chunks.as("chunks"))
    val hofFold = aggregate(
      split(col("text"), " "),
      st(lit(0L), lit(0), emptyBuf, emptyChunks),
      (acc, w) => {
        val wCid = floor(acc.getField("off") / TextPipeline.ChunkLen).cast("int")
        val nextOff = acc.getField("off") + length(w) + 1
        when(wCid === acc.getField("cid"),
          st(nextOff, acc.getField("cid"),
            concat(acc.getField("buf"), array(w)), acc.getField("chunks")))
          .otherwise(st(nextOff, wCid, array(w),
            concat(acc.getField("chunks"),
              array(struct(acc.getField("cid").as("cid"),
                array_join(acc.getField("buf"), " ").as("text"))))))
      },
      acc => when(size(acc.getField("buf")) > 0,
        concat(acc.getField("chunks"),
          array(struct(acc.getField("cid").as("cid"),
            array_join(acc.getField("buf"), " ").as("text")))))
        .otherwise(acc.getField("chunks")))
    val bad = docs.select(
        graft.functions.ChunkFold.chunk_fold(col("text"), TextPipeline.ChunkLen).as("n"),
        hofFold.as("h"))
      .filter(col("n") =!= col("h")).count()
    assert(bad == 0, "ChunkFold must equal the HOF fold on adversarial texts")
  }

  test("native WordShingles/MinHashSig ≡ HOF twins on adversarial texts (codegen path)") {
    import spark.implicits._
    val docs = samples(adversarialText, 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 3)
    val hofShingles = array_distinct(transform(
      sequence(lit(0), size(col("words")) - 3),
      i => concat_ws(" ", slice(col("words"), i + 1, lit(3)))))
    val withBoth = docs.select(
      graft.functions.WordShingles.word_shingles(col("words"), 3).as("ns"),
      hofShingles.as("hs"))
    assert(withBoth.filter(col("ns") =!= col("hs")).count() == 0,
      "WordShingles must equal the HOF chain (order included)")
    val k = graft.operators.Dedup.MinhashK
    val hofSig = aggregate(
      transform(col("ns"), x => conv(substring(md5(x), 1, 8), 16, 10).cast("long")),
      array_repeat(lit(graft.operators.Dedup.MinhashP), k),
      (acc, h) => zip_with(acc, sequence(lit(0L), lit(k - 1L)),
        (m, j) => least(m,
          (h * (lit(1000003L) + lit(7919L) * j) + lit(12345L) + lit(911L) * j)
            % graft.operators.Dedup.MinhashP)))
    val sigBad = withBoth.select(
        graft.functions.MinHashSig.minhash_sig(col("ns"), k).as("n"),
        hofSig.as("h"))
      .filter(col("n") =!= col("h")).count()
    assert(sigBad == 0, "MinHashSig must equal the HOF signature fold")
  }

  test("native SortedField ≡ transform(array_sort) with duplicate keys (codegen path)") {
    import spark.implicits._
    val pairGen = Gen.listOf(Gen.zip(Gen.choose(0, 5), word))
    val rows = samples(pairGen, 50).zipWithIndex
      .map { case (ps, i) => (i.toLong, ps.map { case (a, b) => (a, b) }) }
      .toDF("id", "ps")
      .select(col("id"), explode_outer(col("ps")).as("p"))
      .groupBy("id")
      .agg(collect_list(struct(col("p._1").as("k"), col("p._2").as("v"))).as("arr"))
    val bad = rows.select(
        graft.functions.SortedField.sorted_field(col("arr"), 1).as("n"),
        transform(array_sort(col("arr")), s => s.getField("v")).as("h"))
      .filter(col("n") =!= col("h")).count()
    assert(bad == 0, "SortedField must equal the HOF sort-project, ties included")
  }

  test("native gram builders ≡ HOF chains on adversarial texts (codegen path)") {
    import spark.implicits._
    for (n <- Seq(2, 3, 4)) {
      val docs = samples(adversarialText, 50).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .withColumn("words", split(col("text"), " "))
        .filter(size(col("words")) >= n) // HOF twins error below n words
      val hofGrams = transform(sequence(lit(0), size(col("words")) - n),
        i => concat_ws(" ", slice(col("words"), i + 1, lit(n))))
      val hofStructs = transform(sequence(lit(0), size(col("words")) - n),
        i => struct(lit(n).as("n"),
          conv(substring(md5(concat_ws(" ", slice(col("words"), i + 1, lit(n)))), 1, 8), 16, 10)
            .cast("long").as("gh")))
      val hofMd5 = array_distinct(transform(
        sequence(lit(0), size(col("words")) - n),
        i => md5(concat_ws(" ", slice(col("words"), i + 1, lit(n))))))
      val bad = docs.select(
          graft.functions.WordNgrams.word_ngrams(col("words"), n).as("ng"),
          hofGrams.as("hg"),
          graft.functions.GramHashStructs.gram_hash_structs(col("words"), n).as("ns"),
          hofStructs.as("hs"),
          graft.functions.DistinctGramMd5.distinct_gram_md5(col("words"), n).as("nm"),
          hofMd5.as("hm"))
        .filter(col("ng") =!= col("hg") || col("ns") =!= col("hs")
          || col("nm") =!= col("hm")).count()
      assert(bad == 0, s"native $n-gram builders must equal the HOF chains")
    }
  }

  test("simhash is token-order invariant (multiset semantics)") {
    val rnd = new scala.util.Random(7)
    samples(Gen.listOfN(30, word), 20).foreach { ws =>
      val a = sigOf(ws)
      val b = sigOf(rnd.shuffle(ws))
      assert(a == b, s"signature depends on token order for $ws")
    }
  }

  test("simhash: self-distance zero, valid range, duplicate-token sensitivity") {
    samples(Gen.listOfN(40, word), 20).foreach { ws =>
      val base = sigOf(ws)
      assert(java.lang.Long.bitCount(base ^ base) == 0)
      assert(base >= 0L, "60-bit signature must be non-negative")
      // simhash is multiset-weighted: duplicating the whole doc keeps
      // every vote's sign, so the signature is unchanged
      assert(sigOf(ws ++ ws) == base)
    }
  }

  test("winnowing density guarantee holds for arbitrary generated texts") {
    import spark.implicits._
    import graft.operators.Dedup.{WinnowK, WinnowW}
    // Schleimer et al. §3: every window of W consecutive gram hashes
    // contributes >=1 selected fingerprint, and one selected hash can
    // be the min of at most W windows — so distinct fingerprints
    // >= ceil(nWindows / W). Recompute fps with the operator's own
    // column expressions over generated texts and check the bound.
    val longText: Gen[String] =
      Gen.choose(WinnowK + WinnowW - 1, 80)
        .flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val docs = samples(longText, 40).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val f = docs
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= WinnowK + WinnowW - 1)
      .withColumn("hs", transform(sequence(lit(0), size(col("words")) - WinnowK),
        i => conv(substring(md5(concat_ws(" ",
          slice(col("words"), i + 1, lit(WinnowK)))), 1, 8), 16, 10).cast("long")))
      .withColumn("nw", size(col("hs")) - WinnowW + 1)
      .withColumn("nf", size(array_distinct(
        transform(sequence(lit(0), size(col("hs")) - WinnowW),
          j => array_min(slice(col("hs"), j + 1, lit(WinnowW)))))))
    val bad = f.filter(col("nf") * WinnowW < col("nw")).count()
    assert(bad == 0, "a doc selected fewer fingerprints than the density bound")
  }

  test("native winnow_fps is bit-equal to the HOF window-min chain") {
    import spark.implicits._
    import graft.operators.Dedup.{WinnowK, WinnowW}
    val anyText: Gen[String] =
      Gen.choose(WinnowK + WinnowW - 1, 120)
        .flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val docs = samples(anyText, 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .withColumn("words", split(col("text"), " "))
    val twin = docs
      .withColumn("hs", transform(sequence(lit(0), size(col("words")) - WinnowK),
        i => conv(substring(md5(concat_ws(" ",
          slice(col("words"), i + 1, lit(WinnowK)))), 1, 8), 16, 10).cast("long")))
      .withColumn("hof", array_distinct(
        transform(sequence(lit(0), size(col("hs")) - WinnowW),
          j => array_min(slice(col("hs"), j + 1, lit(WinnowW))))))
      .withColumn("native",
        graft.functions.WinnowFps.winnow_fps(col("words"), WinnowK, WinnowW))
    val bad = twin.filter(col("hof") =!= col("native")).count()
    assert(bad == 0, "native winnow fingerprints diverged from the HOF chain")
  }

  test("content-defined chunks partition every generated document exactly") {
    import spark.implicits._
    val docs = samples(text, 40).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val back = graft.operators.Dedup.cdcChunksOfDocs(docs)
      .groupBy("doc_id").agg(sum("n_words").as("total"))
    val bad = back.join(docs, "doc_id")
      .filter(col("total") =!= size(split(col("text"), " ")).cast("long"))
      .count()
    assert(bad == 0, "CDC chunk word counts must partition the document")
  }

  test("gram/shingle/minhash natives survive NULL array elements concat_ws-style") {
    import org.apache.spark.sql.functions.{col, expr}
    // SQL-registered natives accept array<string> with nulls; the HOF
    // twins build grams via concat_ws, which SKIPS nulls — so the
    // natives must skip them too, not NPE the task
    val df = spark.sql("SELECT array('a', CAST(NULL AS STRING), 'b') AS ws")
    val r = df.select(
      graft.functions.WordNgrams.word_ngrams(col("ws"), 2).as("ng"),
      graft.functions.WordShingles.word_shingles(col("ws"), 2).as("sh"),
      graft.functions.MinHashSig.minhash_sig(col("ws"), 4).as("mh"),
      graft.functions.DistinctGramMd5.distinct_gram_md5(col("ws"), 2).as("dg"),
      graft.functions.WinnowFps.winnow_fps(col("ws"), 1, 2).as("wf")).head()
    // windows [a,null]→"a" and [null,b]→"b" (concat_ws separator only
    // between kept words)
    assert(r.getSeq[String](0) == Seq("a", "b"))
    assert(r.getSeq[String](1).toSet == Set("a", "b"))
    assert(r.getSeq[Long](2).size == 4)
    assert(r.getSeq[String](3).size == 2)
    assert(r.getSeq[Long](4).nonEmpty)
  }

  test("Poisson bootstrap weights follow the Poisson(1) law empirically") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.operators.Training
    // 20k deterministic (doc, replicate) pairs through the fixed CDF
    // thresholds: the empirical mass at each count and the mean must
    // sit on Poisson(1) — this is what makes the replicate means an
    // actual bootstrap rather than arbitrary reweighting
    val n = 20000
    val w = spark.range(n)
      .select(Training.poissonW(Training.poissonU(col("id"), lit(7L))).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val p0 = w.getOrElse(0L, 0L).toDouble / n
    val p1 = w.getOrElse(1L, 0L).toDouble / n
    assert(math.abs(p0 - 0.3679) < 0.02, s"P(w=0)=$p0 should be ~1/e")
    assert(math.abs(p1 - 0.3679) < 0.02, s"P(w=1)=$p1 should be ~1/e")
    val mean = w.map { case (k, c) => k * c }.sum.toDouble / n
    assert(math.abs(mean - 1.0) < 0.03,
      s"mean weight $mean must be ~1 (truncation at 4 shaves <0.4%)")
  }

  private def sigOf(ws: Seq[String]): Long = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    SimHash64.compute(ArrayData.toArrayData(
      ws.map(w => UTF8String.fromString(w)).toArray))
  }

  test("sampled ANF equals exact BFS on arbitrary generated corpora") {
    import spark.implicits._
    // gazetteer surface + filler: random co-mention topologies the
    // driver corpus never produces (incl. zero-edge corpora)
    val entity = Gen.oneOf("spark", "table", "part", "group", "row",
      "column", "window", "customer", "supplier")
    val tok = Gen.frequency(3 -> entity, 2 -> word)
    val gtext = Gen.choose(5, 40)
      .flatMap(n => Gen.listOfN(n, tok).map(_.mkString(" ")))
    (0 until 4).foreach { trial =>
      val texts = (0 until 30).flatMap(i =>
        gtext.apply(Gen.Parameters.default, Seed(1000L * trial + i)))
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_anfprop$trial").toString
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val edges = graph.Analytics.edges(spark, dir)
        .select("src", "dst").collect()
        .map(r => (r.getString(0), r.getString(1)))
      val want = TestSpark.anfBfsReplay(
        edges.toSeq, graph.Analytics.AnfSeeds, graph.Analytics.AnfHops)
      val got = graph.Analytics.qAnf(spark, dir).orderBy("hop")
        .select("n_pairs").as[Long].collect().toVector
      assert(got == want, s"trial $trial: ANF $got != BFS replay $want")
    }
  }

  /** Random symmetric digraphs for the path-witness battery: node
    * names deliberately include PREFIX-OVERLAPPING, space-carrying
    * shapes ("a", "a b", "a-") — the class that breaks joined-string
    * lexicographic ordering and only array-wise compare survives.
    */
  private def randomGraph(seed: Long): (Seq[(String, String)], Int) = {
    val names = Seq("a", "a b", "a-", "b", "b c", "c", "cd", "d", "e f", "f")
    val n = 6 + (seed % 5).toInt // 6..10 nodes
    val nodes = names.take(n)
    val rnd = new scala.util.Random(seed)
    val edges = (for {
      i <- nodes.indices; j <- nodes.indices if i != j && rnd.nextDouble() < 0.25
    } yield (nodes(i), nodes(j))).distinct
    val sym = (edges ++ edges.map(_.swap)).distinct
    (sym, n)
  }

  test("witness path is a canonical shortest path on random generated graphs") {
    import spark.implicits._
    for (trial <- 0 until 10) {
      val (sym, n) = randomGraph(1000L + trial)
      val names = Seq("a", "a b", "a-", "b", "b c", "c", "cd", "d", "e f", "f").take(n)
      val (src, dst) = (names.head, names.last)
      val e = sym.toDF("src_uid", "dst_uid")
      val adj = sym.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
      // reference BFS dist + canonical min-pred walk in pure Scala
      val dist = collection.mutable.Map(src -> 0)
      var frontier = Set(src)
      for (i <- 1 to 6) {
        frontier = frontier.flatMap(x => adj.getOrElse(x, Set.empty))
          .filterNot(dist.contains)
        frontier.foreach(x => dist(x) = i)
      }
      val got = graft.cypher.CypherLite
        .witnessPathOn(spark, e, src, dst, 1, 6).collect()
      if (!dist.contains(dst) || dst == src) {
        assert(got.isEmpty, s"trial $trial: unreachable/self must be empty, got ${got.toSeq}")
      } else {
        assert(got.length == 1, s"trial $trial: one witness expected, got ${got.toSeq}")
        val len = got(0).getAs[Long]("len")
        assert(len.toInt == dist(dst), s"trial $trial: len $len != BFS ${dist(dst)}")
        var want = List(dst); var cur = dst
        while (cur != src) {
          val pred = sym.filter(_._2 == cur).map(_._1)
            .filter(p => dist.get(p).contains(dist(cur) - 1)).min
          want = pred :: want; cur = pred
        }
        assert(got(0).getAs[String]("path").split("->").toSeq == want,
          s"trial $trial: canonical walk diverged")
      }
    }
  }

  test("witness SET is the cap-smallest exact path set on random generated graphs") {
    import spark.implicits._
    for (trial <- 0 until 8) {
      val (sym, n) = randomGraph(2000L + trial)
      val names = Seq("a", "a b", "a-", "b", "b c", "c", "cd", "d", "e f", "f").take(n)
      val (src, dst) = (names.head, names.last)
      val e = sym.toDF("src_uid", "dst_uid")
      val adj = sym.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSeq }
      val dist = collection.mutable.Map(src -> 0)
      var frontier = Set(src)
      for (i <- 1 to 6) {
        frontier = frontier.flatMap(x => adj.getOrElse(x, Seq.empty))
          .filterNot(dist.contains)
        frontier.foreach(x => dist(x) = i)
      }
      val got = graft.cypher.CypherLite
        .aspPathsOn(spark, e, src, dst, 1, 6).collect()
      if (!dist.contains(dst) || dst == src) {
        assert(got.isEmpty, s"trial $trial: unreachable/self must be empty")
      } else {
        val len = dist(dst)
        // enumerate ALL shortest paths
        val all = collection.mutable.ArrayBuffer.empty[Seq[String]]
        def walk(cur: String, path: List[String]): Unit =
          if (path.length - 1 == len) { if (cur == dst) all += path.reverse }
          else adj.getOrElse(cur, Seq.empty).foreach(nx => walk(nx, nx :: path))
        walk(src, List(src))
        val cap = graft.cypher.CypherLite.AspPathCap
        assert(got.length == math.min(cap, all.size),
          s"trial $trial: ${got.length} rows for ${all.size} paths")
        assert(got.forall(_.getAs[Long]("n_paths") == all.size.toLong),
          s"trial $trial: count diverged")
        val want = all.sortBy(identity)(
          Ordering.Implicits.seqOrdering[Seq, String]).take(cap)
          .map(_.mkString("->"))
        assert(got.map(_.getAs[String]("path")).toSeq == want.toSeq,
          s"trial $trial: witness set diverged\n  got  ${got.map(_.getAs[String]("path")).toSeq}\n  want $want")
      }
    }
  }

  test("weighted witness replays the canonical Bellman-Ford on random weighted graphs") {
    import spark.implicits._
    for (trial <- 0 until 8) {
      val (sym0, n) = randomGraph(3000L + trial)
      val names = Seq("a", "a b", "a-", "b", "b c", "c", "cd", "d", "e f", "f").take(n)
      val (src, dst) = (names.head, names.last)
      val rnd = new scala.util.Random(7000L + trial)
      // symmetric weights, like CO_OCCURS (weight(u,v) = weight(v,u))
      val wOf = sym0.filter(p => p._1 < p._2)
        .map { case (u, v) => (u, v) -> (1L + rnd.nextInt(5)) }.toMap
      val sym = sym0.map { case (u, v) =>
        (u, v, wOf.getOrElse((u, v), wOf.getOrElse((v, u), 1L)))
      }
      val e = sym.toDF("src_uid", "dst_uid", "weight")
      // reference loop in pure Scala: per round, min (dist, pred, pw)
      // per node — the engine's exact in-loop struct-min rule
      var table = Map[String, (Long, Option[String], Option[Long])](
        src -> ((0L, None, None)))
      for (_ <- 1 to 6) {
        val relaxed = table.toSeq.flatMap { case (u, (d, _, _)) =>
          sym.collect { case (`u`, v, w) =>
            v -> ((d + 1000000L / w, Option(u), Option(w))) }
        }
        table = (table.toSeq ++ relaxed).groupBy(_._1).map { case (k, vs) =>
          k -> vs.map(_._2).minBy { case (d, p, w) =>
            (d, p.getOrElse(""), w.getOrElse(0L)) }
        }
      }
      val got = graft.cypher.CypherLite
        .weightedWitnessOn(spark, e, "CO_OCCURS", src, dst, 6).collect()
      if (!table.contains(dst) || dst == src) {
        assert(got.isEmpty, s"trial $trial: unreachable/self must be empty")
      } else {
        val wc = table(dst)._1
        var cur = dst; var path = List(dst)
        var wts = List.empty[Long]; var steps = 0
        while (cur != src && steps < 6) {
          table(cur)._2 match {
            case Some(p) =>
              wts = table(cur)._3.get :: wts; path = p :: path; cur = p; steps += 1
            case None => steps = 6
          }
        }
        if (cur != src) {
          // pred chain did not close within hi — the engine emits
          // nothing rather than a partial walk
          assert(got.isEmpty, s"trial $trial: unclosed chain must be empty")
        } else {
          assert(got.length == 1, s"trial $trial: one witness expected, got ${got.toSeq}")
          assert(got(0).getAs[Long]("wcost") == wc,
            s"trial $trial: wcost ${got(0).getAs[Long]("wcost")} != $wc")
          assert(got(0).getAs[String]("path").split("->").toSeq == path,
            s"trial $trial: canonical weighted walk diverged")
          val wRe = """\{weight:(\d+)\}""".r
          assert(wRe.findAllMatchIn(got(0).getAs[String]("rels"))
            .map(_.group(1).toLong).toSeq == wts,
            s"trial $trial: rels weights diverged")
        }
      }
    }
  }

  /** The seven path forms as (function, RETURN items) — the texts the
    * grammar fuzz below mutates.
    */
  private val pathForms: Seq[(String, Seq[String])] = Seq(
    "shortestPath" -> Seq("length(p) AS len"),
    "shortestPath" -> Seq("wlength(p) AS wcost"),
    "shortestPath" -> Seq("length(p) AS len", "nodes(p) AS path"),
    "shortestPath" -> Seq("p"),
    "shortestPath" -> Seq("wlength(p) AS wcost", "nodes(p) AS path", "relationships(p) AS rels"),
    "allShortestPaths" -> Seq("length(p) AS len", "count(p) AS n"),
    "allShortestPaths" -> Seq("length(p) AS len", "count(p) AS n", "nodes(p) AS path"))

  test("path front: the pure parse returns a PathCall or throws IllegalArgumentException") {
    import graft.cypher.CypherLite.{parsePathCall, pathKernel}
    // one mutated path-form text and whether its path function is real
    val mutated: Gen[(String, Boolean)] = for {
      (fn0, items0) <- Gen.oneOf(pathForms)
      fn <- Gen.frequency(8 -> Gen.const(fn0), 1 -> Gen.oneOf("shortestpath", "longestPath"))
      pv <- Gen.frequency(6 -> Gen.const("p"), 1 -> Gen.const("q"))
      perm <- Gen.oneOf(items0.permutations.toSeq)
      keep <- Gen.choose(0, items0.size)
      extra <- Gen.frequency(3 -> Gen.const(Nil), 1 -> Gen.oneOf("count(p) AS c",
        "size(p) AS s", "lenght(p) AS l", "nodes(q) AS n", "a", "length(p)", "count(*) AS n",
        "length(p) AS", "p AS x", "nodes(p)[0] AS f", "length(p) + 1 AS l", "DISTINCT p",
        "length(p) AS len LIMIT 1", "'p'").map(Seq(_)))
      strip <- Gen.frequency(5 -> Gen.const(false), 1 -> Gen.const(true))
      onVar <- Gen.frequency(6 -> Gen.const("p"), 1 -> Gen.oneOf("q", "a"))
      (lo, hi) <- Gen.frequency(6 -> Gen.const(("1", "4")), 1 -> Gen.zip(
        Gen.oneOf("0", "1", "2", "x", "", "-1", "99999999999"),
        Gen.oneOf("0", "1", "8", "9", "y", "", "99999999999")))
      (l, r) <- Gen.frequency(6 -> Gen.const(("-", "-")), 1 -> Gen.oneOf(("<-", "-"), ("-", "->")))
      label <- Gen.frequency(6 -> Gen.const("Entity"), 1 -> Gen.oneOf("Foo", "Person"))
      rel <- Gen.frequency(6 -> Gen.const("CO_OCCURS"), 1 -> Gen.oneOf("KNOWS", "MENTIONS"))
    } yield {
      val items = (perm.take(math.max(keep, 1)) ++ extra)
        .map(i => if (strip) i.replaceAll(" AS \\w+$", "") else i)
        .map(_.replace("(p)", s"($onVar)"))
      (s"MATCH $pv = $fn((a:$label {name:'spark group'})$l[:$rel*$lo..$hi]$r" +
        s"(b:Entity {name:'column column'})) RETURN ${items.mkString(", ")}",
        Set("shortestPath", "allShortestPaths")(fn))
    }
    var (parsed, refused) = (0, 0)
    samples(mutated, 600).foreach { case (q, claimed) =>
      try {
        val c = parsePathCall(q)
        assert(c.isDefined == claimed, s"claim ${c.isDefined} != $claimed for: $q")
        c.foreach(pathKernel)
        parsed += 1
      } catch {
        case _: IllegalArgumentException => refused += 1
        case e: Throwable => fail(s"${e.getClass.getName} (not IllegalArgumentException) for: $q", e)
      }
    }
    // both outcomes occur, so neither side is vacuous
    assert(parsed > 50 && refused > 50, s"parsed $parsed, refused $refused")
    // the unmutated forms, items in any order, all compile to a kernel
    pathForms.foreach { case (fn, items) =>
      items.permutations.foreach { perm =>
        val q = s"MATCH p = $fn((a:Entity {name:'x'})-[:CO_OCCURS*1..4]-(b:Entity {name:'y'})) " +
          s"RETURN ${perm.mkString(", ")}"
        val c = parsePathCall(q).get
        assert(c.items.map(_.alias) == perm.map(_.split(" ").last))
        pathKernel(c)
      }
    }
  }
}
