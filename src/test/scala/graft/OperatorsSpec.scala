package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}

class OperatorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("exact dedup: canonical_id <= doc_id and copies >= 1") {
    val bad = Dedup.qDedupExact(spark, TestSpark.sf)
      .filter(col("canonical_id") > col("doc_id") || col("n_copies") < 1)
      .count()
    assert(bad == 0)
  }

  test("minhash pairs have jaccard within [threshold, 1]") {
    val df = Dedup.qDedupMinhash(spark, TestSpark.sf)
    val bad = df.filter(col("jaccard") < Dedup.JaccardThreshold || col("jaccard") > 1.0).count()
    assert(bad == 0)
    assert(df.count() > 0, "sf0.001 corpus contains near-dups; LSH must find them")
  }

  test("simhash hamming bounded by signature width") {
    val bad = Dedup.qDedupSimhash(spark, TestSpark.sf)
      .filter(col("hamming") < 0 || col("hamming") > Dedup.SimhashBits).count()
    assert(bad == 0)
  }

  test("cosine of a vector with itself is 1") {
    val v = Similarity.vectors(spark, TestSpark.sf).filter(col("vec_id") === 0)
    val c = v.select(Similarity.cosineCol(col("v"), col("v")).as("c"))
      .head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("top-k scores are non-increasing") {
    val scores = Similarity.qCosineTopk(spark, TestSpark.sf)
      .select("score").collect().map(_.getDouble(0))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("repetition fractions are valid probabilities; top bigram dominates") {
    val df = operators.TextAnalysis.qRepetition(spark, TestSpark.sf)
    val fracs = Seq("top_bigram_frac", "dup_bigram_frac",
      "top_trigram_frac", "dup_trigram_frac")
    val bad = df.filter(fracs.map(c => col(c) < 0 || col(c) > 1).reduce(_ || _)).count()
    assert(bad == 0)
    assert(df.filter(col("top_bigram_frac") <= 0).count() == 0)
    // trigrams repeat no more often than bigrams (every dup trigram
    // contains a dup bigram occurrence-wise on this tokenization)
    assert(df.count() == Tables.documents(spark, TestSpark.sf).count())
  }

  test("line dedup matches an in-memory boilerplate count") {
    import spark.implicits._
    val docs = Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val lines = docs.flatMap { case (id, t) =>
      t.split(" ").grouped(Dedup.LineW).map(_.mkString(" "))
        .filter(_.length >= Dedup.LineMinLen).map(l => (id, l))
    }
    val df = lines.map { case (id, l) => (id, l) }.distinct
      .groupBy(_._2).map { case (l, occ) => (l, occ.size) }
    val boiler = df.filter(_._2 >= Dedup.LineDupDocs).keySet
    val expect = lines.groupBy(_._1).map { case (id, ls) =>
      id -> ((ls.length.toLong, ls.count(x => boiler(x._2)).toLong))
    }
    val got = Dedup.qDedupLines(spark, TestSpark.sf)
      .select("doc_id", "n_lines", "n_boiler_lines")
      .as[(Long, Long, Long)].collect()
    assert(got.nonEmpty && got.exists(_._3 > 0),
      "synthetic corpus repeats lines across docs; boilerplate must be non-empty")
    got.foreach { case (id, n, nb) =>
      assert(expect(id) == ((n, nb)), s"doc $id: got ($n,$nb) want ${expect(id)}")
    }
  }

  test("quality classifier: label agrees with the quantized logit, sigmoid monotone") {
    import spark.implicits._
    val rows = operators.TextAnalysis.qQualityClassifier(spark, TestSpark.sf)
      .select("logit_u", "p_keep", "label").as[(Long, Double, String)].collect()
    rows.foreach { case (lu, p, lab) =>
      val want = if (lu >= operators.TextAnalysis.QcKeepLogit) "keep"
        else if (lu >= 0L) "review" else "drop"
      assert(lab == want, s"logit $lu labeled $lab, want $want")
      assert(p > 0.0 && p < 1.0)
    }
    val sorted = rows.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Array((_, p1, _), (_, p2, _)) => assert(p1 <= p2, "sigmoid must be monotone")
      case _ => ()
    }
  }

  test("semdedup: keep rule is consistent with the dup-partner graph") {
    import spark.implicits._
    val rows = Dedup.qSemdedup(spark, TestSpark.sf)
      .select("vec_id", "cluster", "cent_cos", "n_dups", "keep")
      .as[(Long, Int, Double, Long, Boolean)].collect()
    rows.foreach { case (id, _, cc, nd, keep) =>
      assert(cc >= -1.0 && cc <= 1.0, s"vec $id cent_cos $cc out of range")
      if (nd == 0) assert(keep, s"vec $id has no dup partners but was dropped")
      if (!keep) assert(nd > 0, s"vec $id dropped without a dup partner")
    }
    val dup = rows.filter(_._4 > 0)
    assert(dup.nonEmpty, "synthetic embeddings contain semantic dups at SemTau")
    assert(dup.exists(_._5), "the farthest-from-centroid rule must leave a survivor")
    assert(dup.exists(!_._5), "a dup pair must drop its centroid-near member")
  }

  test("DSIR: target-language docs are enriched in the selected set") {
    import spark.implicits._
    val w = operators.Training.qDsirWeights(spark, TestSpark.sf)
      .select("doc_id", "selected").as[(Long, Boolean)].collect().toMap
    val lang = Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "lang").as[(Long, String)].collect().toMap
    val overall = w.values.count(identity).toDouble / w.size
    val target = w.filter { case (id, _) => lang(id) == operators.Training.DsirTargetLang }
    val targetRate = target.values.count(identity).toDouble / target.size
    assert(overall >= 0.15 && overall <= 0.35,
      s"80th-percentile threshold should select ~20%, got $overall")
    assert(targetRate > overall,
      s"target lang must be enriched: target $targetRate vs overall $overall")
  }

  test("entity resolution: canonicals are real same-label entities from the match set") {
    import spark.implicits._
    val rows = graph.NewsGraph.qEntityResolution(spark, TestSpark.sf)
      .select("name", "label", "n_mentions", "canonical", "merged")
      .as[(String, String, Long, String, Boolean)].collect()
    val mentions = rows.map(r => (r._1, r._2) -> r._3).toMap
    def jac(a: String, b: String): Double = {
      val (sa, sb) = (a.split(" ").toSet, b.split(" ").toSet)
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    }
    rows.foreach { case (name, label, nm, canon, merged) =>
      assert(mentions.contains((canon, label)),
        s"canonical $canon is not a same-label entity")
      assert(merged == (canon != name))
      if (merged) {
        assert(jac(name, canon) >= graph.NewsGraph.ErTau,
          s"$name merged into $canon below the Jaccard threshold")
        assert(mentions((canon, label)) >= nm,
          s"$name adopted a LESS-mentioned canonical $canon")
      }
    }
    assert(rows.exists(_._5), "gazetteer multi-word spans must merge")
    assert(rows.exists(!_._5), "head entities must survive as canonicals")
  }

  test("curation e2e verdicts agree with the component queries") {
    import spark.implicits._
    val e2e = operators.Curation.qCurationE2e(spark, TestSpark.sf)
      .select("doc_id", "split", "reason", "keep")
      .as[(Long, String, String, Boolean)].collect()
    val fp = operators.Curation.qFilterPipeline(spark, TestSpark.sf)
      .select("doc_id", "reason").as[(Long, String)].collect().toMap
    val dec = operators.Curation.qDecontaminate(spark, TestSpark.sf)
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect().toMap
    e2e.foreach { case (id, split, reason, keep) =>
      assert(keep == (reason == "keep"))
      if (split == "test") assert(reason == "held_out",
        s"doc $id: held-out docs take no other verdict")
      else {
        val want =
          if (fp(id) != "keep") fp(id)
          else if (dec(id)) "contaminated"
          else "keep"
        assert(reason == want, s"doc $id: e2e $reason vs composed $want")
      }
    }
    val reasons = e2e.map(_._3).toSet
    assert(reasons.contains("keep") && reasons.contains("held_out"),
      s"degenerate verdict distribution: $reasons")
  }

  test("pii scrub removes every person token from the full text") {
    val pii = operators.TextAnalysis.PiiWords.toSet
    val piiRe = s"\\b(${operators.TextAnalysis.PiiWords.mkString("|")})\\b"
    val left = Tables.documents(spark, TestSpark.sf)
      .withColumn("scrubbed", regexp_replace(col("text"), piiRe, "[PII]"))
      .withColumn("leftover",
        size(filter(split(col("scrubbed"), " "), w => w.isin(pii.toSeq.map(lit): _*))))
      .filter(col("leftover") > 0).count()
    assert(left == 0)
    val df = operators.TextAnalysis.qPiiScrub(spark, TestSpark.sf)
    assert(df.filter(col("n_pii") > 0).count() > 0, "corpus contains person tokens")
  }

  test("stratified sample takes exactly the K smallest hashes per stratum") {
    val df = operators.Training.qStratifiedSample(spark, TestSpark.sf)
    val sizes = df.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val strata = Tables.documents(spark, TestSpark.sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    strata.foreach { case (lang, n) =>
      assert(sizes(lang) == math.min(operators.Training.StratQuota.toLong, n))
    }
    // membership check vs a plain window on the small test corpus
    import org.apache.spark.sql.expressions.Window
    val expect = Tables.documents(spark, TestSpark.sf)
      .withColumn("h",
        conv(substring(md5(concat(lit("strat#"), col("doc_id"))), 1, 8), 16, 10)
          .cast("long"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))))
      .filter(col("rk") <= operators.Training.StratQuota)
      .select("lang", "doc_id", "h", "rk")
      .orderBy("lang", "rk").collect().toSeq
    assert(df.collect().toSeq == expect)
  }

  test("int8 quantization bounds: codes in range, small reconstruction error") {
    val df = operators.Training.qQuantizeEmbeddings(spark, TestSpark.sf)
    val rows = df.collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      val (scale, maxErr, mse) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(scale > 0)
      // max-abs scaling bounds per-element error by half a code step
      // (5e-7 slack: max_err is rounded to 6 decimals in the output)
      assert(maxErr <= 0.5 / scale + 5e-7, s"max_err $maxErr vs step ${1.0 / scale}")
      assert(mse <= maxErr * maxErr + 1e-12)
    }
  }

  test("filter pipeline verdicts are consistent with their signals") {
    val df = operators.Curation.qFilterPipeline(spark, TestSpark.sf)
    val rows = df.collect()
    assert(rows.length == Tables.documents(spark, TestSpark.sf).count())
    assert(rows.exists(_.getBoolean(4)), "some docs must survive")
    assert(rows.exists(!_.getBoolean(4)), "thresholds must reject some docs")
    rows.foreach { r =>
      val (n, ttr, dup, keep, reason) =
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4), r.getString(5))
      assert(keep == (reason == "keep"))
      if (keep) {
        assert(n >= operators.Curation.MinTokens)
        assert(dup <= operators.Curation.MaxDupBigramFrac + 1e-6)
        assert(ttr >= operators.Curation.MinTypeTokenRatio - 1e-6)
      }
      if (reason == "too_short") assert(n < operators.Curation.MinTokens)
    }
    // near-duplicate suppression keeps exactly one doc per cluster
    val clusters = operators.Dedup.qDedupClusters(spark, TestSpark.sf)
      .filter(col("cluster_size") > 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val verdicts = rows.map(r => r.getLong(0) -> r.getString(5)).toMap
    clusters.foreach { case (d, c) =>
      if (d != c && Seq("keep", "near_duplicate").contains(verdicts(d)))
        assert(verdicts(d) == "near_duplicate")
    }
  }

  test("IVF ANN returns a subset of brute-force candidates with scores matching") {
    val bf = Similarity.qCosineTopk(spark, TestSpark.sf)
      .select(col("vec_id"), col("score")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = Similarity.qAnnIvf(spark, TestSpark.sf)
      .select(col("vec_id"), col("score")).collect()
    ivf.foreach { r =>
      bf.get(r.getLong(0)).foreach(s => assert(s == r.getDouble(1)))
    }
  }

  test("PQ codes are the argmin against the k-means codebook, which beats its init") {
    val e = Similarity.vectors(spark, TestSpark.sf)
    val subs = Similarity.pqSubspaces(e)
    val sv = subs.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val cbDf = Similarity.pqTrainCodebook(subs)
    val cb = cbDf.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(cb.size == Similarity.PqM * Similarity.PqK, "full M×K codebook")
    // every code is the integer-argmin codeword (ties → smallest k)
    val enc = Similarity.pqEncode(subs, cbDf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(enc.size == sv.size, "one code per (vector, subspace)")
    def d2(a: (Long, Long), b: (Long, Long)): Long = {
      val dx = a._1 - b._1; val dy = a._2 - b._2; dx * dx + dy * dy
    }
    enc.take(200).foreach { case ((id, m), code) =>
      val best = (0 until Similarity.PqK).minBy(k => (d2(sv((id, m)), cb((m, k))), k))
      assert(code == best, s"code for vec $id subspace $m")
    }
    // the trained codebook's total quantization error is <= the
    // sampled init's (Lloyd monotonicity — this is what lifted
    // recall@10 from 0.3 to 0.8 at the gate SF)
    val init = sv.collect { case ((id, m), xy)
        if id % Similarity.PqStride == 0 &&
          id < Similarity.PqStride.toLong * Similarity.PqK =>
      (m, (id / Similarity.PqStride).toInt) -> xy
    }.toMap
    def totalErr(book: Map[(Int, Int), (Long, Long)]): BigInt =
      sv.iterator.map { case ((_, m), xy) =>
        BigInt((0 until Similarity.PqK).map(k => d2(xy, book((m, k)))).min)
      }.sum
    val (errInit, errTrained) = (totalErr(init), totalErr(cb))
    assert(errTrained < errInit,
      s"k-means must reduce quantization error: $errTrained vs init $errInit")
  }

  test("PQ ANN returns k rows with nonnegative ADC distances in rank order") {
    val rows = Similarity.qAnnPq(spark, TestSpark.sf).collect()
    assert(rows.length == Similarity.KnnK)
    assert(rows.map(_.getInt(2)).toSeq == (1 to Similarity.KnnK))
    val dists = rows.map(_.getDouble(1))
    assert(dists.forall(_ >= 0) && dists.sameElements(dists.sorted))
  }

  test("bucketized range join equals the direct band predicate") {
    val rows = operators.Events.qRangeJoin(spark, TestSpark.sf).collect()
    val ev = Tables.events(spark, TestSpark.sf)
      .selectExpr("event_id", "ts div 1000 AS ts_us", "event_type",
        "cast(round(value * 100) as long) AS cents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val clicks = ev.filter(_._3 == "click")
    val purchases = ev.filter(_._3 == "purchase").map(e => e._1 -> e._2).toMap
    assert(rows.length == purchases.size, "every purchase appears (left semantics)")
    rows.take(50).foreach { r =>
      val pts = purchases(r.getLong(0))
      val near = clicks.filter(c => math.abs(c._2 - pts) <= operators.Events.RangeWindowUs)
      assert(r.getLong(1) == near.length, s"click count for purchase ${r.getLong(0)}")
      assert(math.abs(r.getDouble(2) - near.map(_._4).sum / 100.0) < 1e-9)
    }
    assert(rows.exists(_.getLong(1) > 0), "window must catch some pairs")
  }

  test("decontamination flags exactly the docs sharing a 4-gram with the eval split") {
    val df = operators.Curation.qDecontaminate(spark, TestSpark.sf).collect()
    // held-out docs never appear; flag is consistent with the count
    assert(df.forall(r => Seq("train", "valid").contains(r.getString(1))))
    df.foreach(r => assert(r.getBoolean(3) == (r.getLong(2) > 0)))
    // independent recomputation of one contaminated doc's overlap
    val docs = Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), split(col("text"), " ").as("w")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split#$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(4).map("%02x".format(_)).mkString, 16) % 100
    }
    val evalGrams = docs.collect { case (id, w) if bucket(id) >= operators.Curation.EvalBucket =>
      w.sliding(operators.Curation.DecontamN).map(_.mkString(" ")).toSet
    }.flatten.toSet
    df.filter(_.getLong(2) > 0).take(5).foreach { r =>
      val grams = docs(r.getLong(0)).sliding(operators.Curation.DecontamN)
        .map(_.mkString(" ")).toSet
      assert(grams.count(evalGrams.contains) == r.getLong(2),
        s"doc ${r.getLong(0)} overlap recomputation")
    }
  }

  test("domain mix: thresholds are the capped integer rates, selection matches hash") {
    val rows = operators.Training.qDomainMix(spark, TestSpark.sf).collect()
    val srcTokens = rows.groupBy(_.getString(1))
      .view.mapValues(_.map(_.getLong(2)).sum).toMap
    rows.foreach { r =>
      val expect = math.min(1000000L,
        operators.Training.MixBudget * 1000000L / srcTokens(r.getString(1)))
      assert(r.getLong(3) == expect, s"threshold for ${r.getString(1)}")
    }
    assert(rows.exists(_.getBoolean(4)) && rows.exists(!_.getBoolean(4)),
      "budget below the corpus size must select a strict subset")
    // expected selected token mass per source is <= ~budget (hash-rate sampling)
    val sel = rows.filter(_.getBoolean(4)).groupBy(_.getString(1))
      .view.mapValues(_.map(_.getLong(2)).sum).toMap
    sel.foreach { case (s, tok) =>
      assert(tok <= 3 * operators.Training.MixBudget,
        s"source $s selected $tok tokens against budget ${operators.Training.MixBudget}")
    }
  }

  test("unigram LM scores are negative log-probs; uniform doc scores the word's logp") {
    val rows = operators.TextAnalysis.qUnigramLm(spark, TestSpark.sf).collect()
    assert(rows.length == Tables.documents(spark, TestSpark.sf).count())
    rows.foreach(r => assert(r.getDouble(2) < 0, "log p < 0 for p < 1"))
    // total tokens across docs equals the corpus token count
    val total = rows.map(_.getLong(1)).sum
    val expect = Tables.documents(spark, TestSpark.sf)
      .select(sum(size(split(col("text"), " ")))).head().getLong(0)
    assert(total == expect)
  }

  test("IVF knn join: k rows per query, scores agree with the exact join on shared pairs") {
    val ivf = Similarity.qKnnJoinIvf(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val perQuery = ivf.keys.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perQuery.values.forall(_ == Similarity.KnnK), s"per-query counts: $perQuery")
    val exact = Similarity.qKnnJoin(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val shared = ivf.keySet & exact.keySet
    assert(shared.nonEmpty, "IVF retrieval found none of the exact top-k")
    shared.foreach(k => assert(ivf(k) == exact(k), s"score mismatch on $k"))
  }

  test("quality buckets are monotone terciles covering the corpus") {
    val rows = operators.TextAnalysis.qQualityBuckets(spark, TestSpark.sf).collect()
      .map(r => (r.getDouble(1), r.getString(2)))
    assert(rows.length == Tables.documents(spark, TestSpark.sf).count())
    val by = rows.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(Set("low", "mid", "high").subsetOf(by.keySet))
    assert(by("low").max <= by("mid").min)
    assert(by("mid").max <= by("high").min)
    // thresholds are percentiles: low holds roughly a third
    assert(math.abs(by("low").size - rows.length / 3.0) < rows.length * 0.15)
  }

  test("retention: day-0 count per cohort equals cohort size; counts never grow") {
    val rows = operators.Events.qRetention(spark, TestSpark.sf).collect()
      .map(r => (r.getDate(0).toString, r.getAs[Number](1).intValue(), r.getLong(2)))
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_._1)
    byCohort.foreach { case (_, rs) =>
      val d0 = rs.find(_._2 == 0).map(_._3)
      assert(d0.isDefined, "every cohort has its day-0 row")
      // no later day exceeds the cohort's size (retention <= 100%)
      rs.foreach { case (_, _, n) => assert(n <= d0.get) }
    }
    // cohort sizes sum to the distinct user count
    val users = Tables.events(spark, TestSpark.sf)
      .select("user_id").distinct().count()
    assert(byCohort.values.map(_.find(_._2 == 0).get._3).sum == users)
  }

  test("bigram LM: transitions = tokens - 1 per doc; log-probs negative") {
    val bi = operators.TextAnalysis.qBigramLm(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(bi.nonEmpty)
    bi.foreach { case (_, _, lp) => assert(lp < 0, "log p < 0 for p < 1") }
    val toks = Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    bi.foreach { case (id, nt, _) =>
      assert(nt == toks(id) - 1, s"doc $id: $nt transitions vs ${toks(id)} tokens")
    }
  }

  test("event anomalies match an in-memory z-score over pre-rounded moments") {
    val got = operators.Events.qEventAnomaly(spark, TestSpark.sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val evs = Tables.events(spark, TestSpark.sf)
      .select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    def r2(v: Double) = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = evs.groupBy(_._2).toSeq.flatMap { case (_, es) =>
      val n = es.length
      val sx = r2(es.map(_._3).sum)
      val sx2 = r2(es.map(e => e._3 * e._3).sum)
      val mean = sx / n
      val std = math.sqrt((sx2 - sx * sx / n) / (n - 1))
      es.flatMap { case (id, _, v) =>
        val z = BigDecimal((v - mean) / std)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if (math.abs(z) >= operators.Events.AnomalyZ) Some(id -> z) else None
      }
    }.toMap
    assert(got.keySet == want.keySet,
      s"flagged sets differ: got ${got.size} want ${want.size}")
    assert(got.nonEmpty)
  }

  test("subword fold matches an in-memory greedy longest-match tokenizer") {
    import graft.operators.Tokenize
    // in-memory reference
    val byLen = Tokenize.Subwords.groupBy(_.length)
    val lens = byLen.keys.toSeq.sorted(Ordering[Int].reverse)
    def segment(w: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      var p = 0
      while (p < w.length) {
        val l = lens.find(l => p + l <= w.length &&
          byLen(l).contains(w.substring(p, p + l))).getOrElse(1)
        out += w.substring(p, p + l)
        p += l
      }
      out.result()
    }
    val words = Tables.documents(spark, TestSpark.sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct()
    val got = words.withColumn("parts", Tokenize.subwordPieces(col("w")))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    assert(got.nonEmpty)
    got.foreach { case (w, parts) =>
      assert(parts == segment(w), s"'$w': got $parts want ${segment(w)}")
      assert(parts.mkString("") == w, s"'$w' pieces don't reassemble")
    }
    // the vocab actually bites: some multi-char piece is used
    assert(got.values.exists(_.exists(_.length > 1)))
    // the native codegen expression (the queries' hot path) must agree
    // with the portable fold on every corpus word
    val native = words
      .withColumn("parts", graft.functions.SubwordSplit.subword_split(col("w")))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    assert(native == got, "native subword_split diverges from the HOF fold")
  }

  test("k-core peel reaches a fixpoint: every survivor keeps degree >= k in the core") {
    import graft.graph.Analytics
    val core = Analytics.qKcore(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core.nonEmpty, "3-core is empty at test scale")
    // rebuild the induced subgraph from the full edge list and check
    // the reported core degrees are self-consistent and >= k — i.e.
    // the bounded rounds actually converged on this corpus
    val edges = Analytics.edges(spark, TestSpark.sf)
      .select("src", "dst").collect()
      .map(r => r.getString(0) -> r.getString(1))
    val induced = edges.filter { case (s, d) => core.contains(s) && core.contains(d) }
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap
    core.foreach { case (n, d) =>
      assert(d >= Analytics.KcoreK, s"$n survived with degree $d < k")
      assert(induced.getOrElse(n, 0L) == d,
        s"$n: reported core_degree $d != induced degree ${induced.getOrElse(n, 0L)} (not a fixpoint)")
    }
  }

  test("kmeans assigns every vector to its nearest final-round centroid") {
    import graft.operators.Training
    val rows = Training.qKmeans(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty && rows.forall(_.getDouble(2) >= 0.0))
    // clusters are a subset of the deterministic init ids
    val ks = rows.map(_.getInt(1)).distinct
    assert(ks.forall(k => k >= 0 && k < Training.KmK), s"bad cluster ids: ${ks.toSeq}")
    // Lloyd monotonicity proxy: mean final d2 must not exceed the
    // round-0 assignment's mean d2 (refinement can only tighten)
    val e = graft.Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val cents = e.filter { case (id, _) =>
      id % Training.KmStride == 0 && id < Training.KmStride * Training.KmK }
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val mean0 = e.values.map(v => cents.values.map(c => d2(v, c)).min).sum / e.size
    val meanF = rows.map(_.getDouble(2)).sum / rows.length
    assert(meanF <= mean0 + 1e-6, s"refinement worsened inertia: $meanF > $mean0")
  }

  test("modularity: per-community Q bounded, weights consistent with the edge list") {
    import graft.graph.Analytics
    val rows = Analytics.qModularity(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    val totalW = Analytics.edges(spark, TestSpark.sf)
      .agg(sum("weight")).collect()(0).getLong(0)
    // per-community: q in [-1, 1], internal weight <= degree mass
    rows.foreach { r =>
      val (wIn, dTot, q) = (r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(wIn <= dTot, s"${r.getString(0)}: w_in $wIn > d_tot $dTot")
      assert(q >= -1.0 && q <= 1.0, s"${r.getString(0)}: q $q out of range")
    }
    // degree masses partition the total directed weight exactly
    assert(rows.map(_.getLong(3)).sum == totalW,
      "sum of community degree masses != total edge weight")
  }

  test("katz centrality replays exactly from the collected edge list") {
    import graft.graph.Analytics
    import org.apache.spark.sql.functions.col
    val edges = Analytics.edges(spark, TestSpark.sf)
      .select("src", "dst", "weight").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // exact integer replay of the same rounds, INCLUDING the
    // data-derived divisor kd = max(KatzDiv, max weighted degree) —
    // the round-8 overflow fix (fixed α diverged at sf0.1)
    val nodes = edges.map(_._1).distinct
    val kd = math.max(Analytics.KatzDiv,
      edges.groupBy(_._1).values.map(_.map(_._3).sum).max)
    var s = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to Analytics.KatzIters) {
      val inc = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(e => s(e._1) * e._3).sum / kd
      }
      s = nodes.map(n => n -> (1000000L + inc.getOrElse(n, 0L))).toMap
    }
    val got = Analytics.qKatz(spark, TestSpark.sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == s.keySet)
    s.foreach { case (n, micro) =>
      val want = BigDecimal(micro) / 1000000
      assert(math.abs(got(n) - want.toDouble) < 1e-6, s"$n: ${got(n)} != $want")
    }
    // walk-counting view: every score >= 1 (the self walk) and some
    // node actually accumulated attenuated walk mass
    assert(got.values.forall(_ >= 1.0) && got.values.exists(_ > 1.0))
    // THE overflow guarantee: with kd >= max weighted degree each
    // round's increment is bounded by the round-start max, so scores
    // grow LINEARLY in rounds — s_t <= (t+1)·1e6 — for ANY weight
    // distribution (the sf0.1 crash class is structurally gone)
    assert(got.values.forall(_ <= Analytics.KatzIters + 1.0),
      "katz scores must stay within the linear growth bound (kd >= W_max)")
  }

  test("katz growth bound holds on a hub-heavy fixture (overflow regression)") {
    // A dense hub graph is exactly what blew BIGINT under the fixed
    // divisor: every round multiplied hub scores by ~W_in/10. Build a
    // star+clique weighted edge list where the hub's weighted degree
    // dwarfs KatzDiv and replay the derived-divisor recurrence — the
    // bound must hold with room, and the divisor must be the hub's
    // weighted degree, not the constant.
    import graft.graph.Analytics
    val spokes = (1 to 200).map(i => s"n$i")
    val hubEdges = spokes.flatMap(sp =>
      Seq(("hub", sp, 5000L), (sp, "hub", 5000L))) // W_hub = 1e6
    val kd = math.max(Analytics.KatzDiv,
      hubEdges.groupBy(_._1).values.map(_.map(_._3).sum).max)
    assert(kd == 1000000L, "divisor must derive from the hub's weighted degree")
    val nodes = hubEdges.map(_._1).distinct
    var s = nodes.map(_ -> 1000000L).toMap
    for (t <- 1 to Analytics.KatzIters) {
      val inc = hubEdges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(e => s(e._1) * e._3).sum / kd
      }
      s = nodes.map(n => n -> (1000000L + inc.getOrElse(n, 0L))).toMap
      assert(s.values.max <= (t + 1) * 1000000L,
        s"round $t broke the linear bound: max ${s.values.max}")
    }
    // the old fixed divisor would have reached ~1e6·(1e6/10)^4 = 1e26
    assert(s("hub") <= (Analytics.KatzIters + 1) * 1000000L)
  }

  test("node2vec walks follow edges and the in/out bias changes the paths") {
    import graft.graph.Analytics
    import org.apache.spark.sql.functions.col
    val walks = Analytics.qNode2vec(spark, TestSpark.sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    val edges = Analytics.edges(spark, TestSpark.sf)
      .select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val bySeed = walks.groupBy(_._1)
    // every seed walks the full length, every hop is a real edge
    bySeed.foreach { case (seed, rows) =>
      val path = rows.sortBy(_._2).map(_._3)
      assert(path.length == Analytics.WalkSteps + 1, s"$seed: short walk")
      assert(path.head == seed)
      path.zip(path.tail).foreach { case (a, b) =>
        assert(edges.contains((a, b)), s"$seed: $a->$b is not an edge")
      }
    }
    // the second-order bias actually matters: biased and uniform walks
    // diverge somewhere (they share the hash family but not the pick)
    val uniform = Analytics.qWalks(spark, TestSpark.sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(walks.exists(w => !uniform.contains(w)),
      "biased walks identical to uniform walks — bias is a no-op")
  }

  test("louvain refinement never scores below the LPA partition it starts from") {
    import graft.graph.Analytics
    import org.apache.spark.sql.functions.col
    val e = Analytics.edges(spark, TestSpark.sf).localCheckpoint(false)
    def globalQ(com: org.apache.spark.sql.DataFrame): Double =
      Analytics.modularityBreakdown(e, com).agg(sum("q")).head().getDouble(0)
    val lpa = Analytics.qLpaCommunities(spark, TestSpark.sf)
      .select(col("name").as("node"), col("community"))
    val lv = Analytics.qLouvain(spark, TestSpark.sf)
      .select(col("name").as("node"), col("community"))
    // same node set, every node assigned exactly once
    assert(lv.count() == lpa.count())
    assert(lv.select("node").distinct().count() == lv.count())
    val (qLpa, qLv) = (globalQ(lpa), globalQ(lv))
    assert(qLv >= qLpa - 1e-9,
      s"louvain Q $qLv fell below LPA Q $qLpa")
    // a refined community id is always one of the graph's node names
    // (communities are anchored on nodes, never invented)
    assert(lv.join(e.select(col("src").as("community")).distinct(),
      Seq("community"), "left_anti").count() == 0)
    // phase 2 (round 8): the coarse-level pass must not score below
    // the move-only partition it contracts — the Blondel iteration
    // only merges communities when the gain formula says so
    val moveOnly = Analytics.louvainMoveOnly(e)
    val qMove = globalQ(moveOnly)
    assert(qLv >= qMove - 1e-9,
      s"two-phase Q $qLv fell below move-only Q $qMove")
    // coarsening can only merge, never split: every move-only
    // community maps to exactly one final community
    val mapped = moveOnly.select(col("node"), col("community").as("c1"))
      .join(lv, "node")
    assert(mapped.select("c1", "community").distinct().count() ==
      mapped.select("c1").distinct().count(),
      "phase 2 split a phase-1 community")
    // the driver-side move rounds (taken when the edge list is within
    // Loops.DriverMaxEdges) must equal the distributed loop BIT-FOR-BIT
    // at both levels — same exact-integer recurrence, same stay/tie
    // rules — from phase 1's LPA partition and phase 2's identity one
    def sameMoves(edges: org.apache.spark.sql.DataFrame, init: org.apache.spark.sql.DataFrame,
        rounds: Int, phase: String): Unit = {
      val localPath = Analytics.louvainMoveRoundsLocal(
        edges.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq,
        init.collect().map(r => r.getString(0) -> r.getString(1)).toMap, rounds)
      val distPath = Analytics.louvainMoveRounds(edges, init, rounds)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(localPath == distPath,
        s"driver-side $phase diverged from the distributed loop")
    }
    sameMoves(e, Analytics.lpaLabels(e), Analytics.LouvainRounds, "phase 1")
    val superE = e
      .join(moveOnly.select(col("node").as("src"), col("community").as("cs")), "src")
      .join(moveOnly.select(col("node").as("dst"), col("community").as("cd")), "dst")
      .groupBy(col("cs").as("src"), col("cd").as("dst"))
      .agg(sum("weight").cast("long").as("weight"))
      .localCheckpoint(false)
    val init2 = superE.select(col("src").as("node")).distinct()
      .withColumn("community", col("node"))
    sameMoves(superE, init2, Analytics.Louvain2Rounds, "coarse phase")
  }

  test("sq8 ANN: every returned score recomputes from first-principles int8 codes") {
    val rows = Similarity.qAnnSq8(spark, TestSpark.sf).collect()
    assert(rows.length == Similarity.KnnK)
    val vecs = Similarity.vectors(spark, TestSpark.sf)
      .select("vec_id", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def codes(v: Array[Double]): Array[Long] = {
      val maxabs = v.map(math.abs).max
      // HALF_UP like Spark's round(), not rint's half-even
      v.map(x => BigDecimal(x * 127.0 / maxabs)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    }
    val p = codes(vecs(0L))
    val pn = math.sqrt(p.map(x => x * x).sum.toDouble)
    rows.foreach { r =>
      val (id, score) = (r.getLong(0), r.getDouble(1))
      val c = codes(vecs(id))
      val want = BigDecimal(c.zip(p).map { case (a, b) => a * b }.sum /
          (math.sqrt(c.map(x => x * x).sum.toDouble) * pn))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(score - want) < 1e-9, s"vec $id: $score != $want")
    }
    // int8 quantization keeps this corpus's exact top-10 (the audit's
    // sq8 1.0/1.0 row, pinned at the unit level for the single probe)
    val exact = Similarity.qCosineTopk(spark, TestSpark.sf).collect()
      .map(_.getLong(0)).take(Similarity.KnnK).toSet
    assert(rows.map(_.getLong(0)).toSet == exact,
      "sq8 top-10 diverged from exact top-10 on the clean corpus")
  }

  test("binary ANN: sign words recompute per vector and hamming bounds hold") {
    val rows = Similarity.qAnnBinary(spark, TestSpark.sf).collect()
    assert(rows.length == Similarity.KnnK)
    val vecs = Similarity.vectors(spark, TestSpark.sf)
      .select("vec_id", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def words(v: Array[Double]): (Long, Long) = {
      def w(from: Int, until: Int): Long =
        (from until until).map(i => if (v(i) > 0) 1L << (i - from) else 0L).sum
      (w(0, Similarity.Dim / 2), w(Similarity.Dim / 2, Similarity.Dim))
    }
    val (qlo, qhi) = words(vecs(0L))
    rows.foreach { r =>
      val (id, hd) = (r.getLong(0), r.getLong(1))
      val (lo, hi) = words(vecs(id))
      val want = java.lang.Long.bitCount(lo ^ qlo) + java.lang.Long.bitCount(hi ^ qhi)
      assert(hd == want, s"vec $id: hamming $hd != recomputed $want")
      assert(hd >= 0 && hd <= Similarity.Dim)
    }
    // the shortlist rule: every returned id's hamming distance is
    // within the RefineFactor·K smallest over the whole corpus
    val allHd = vecs.collect { case (id, v) if id != 0L =>
      val (lo, hi) = words(v)
      (java.lang.Long.bitCount(lo ^ qlo) + java.lang.Long.bitCount(hi ^ qhi), id)
    }.toSeq.sorted.take(Similarity.KnnK * Similarity.RefineFactor)
    val cutoff = allHd.last._1
    rows.foreach(r => assert(r.getLong(1) <= cutoff,
      s"vec ${r.getLong(0)} outside the hamming shortlist"))
  }

  test("lsh_tune: pair loads recompute from bucket sizes, recall within [0,1] and monotone-ish") {
    val rows = Similarity.qLshTune(spark, TestSpark.sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(t => (t._1, t._2)).toSeq == Similarity.LshLayouts)
    // recompute the 8×4 layout's pair load from first principles
    val vecs = Similarity.vectors(spark, TestSpark.sf)
      .select("vec_id", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def srp(v: Array[Double], planes: Range): Long =
      planes.zipWithIndex.map { case (p, j) =>
        val w = Similarity.Hyperplanes(p)
        val d = v.zip(w).map { case (a, b) => a * b }.sum
        if (d > 0) 1L << j else 0L
      }.sum
    val (nt, bits) = (8, 4)
    val want = (0 until nt).map { t =>
      vecs.groupBy { case (_, v) => srp(v, t * bits until (t + 1) * bits) }
        .values.map(g => g.size.toLong * (g.size - 1) / 2).sum
    }.sum
    val got = rows.find(t => t._1 == nt).get._3
    assert(got == want, s"8×4 pair load $got != recomputed $want")
    rows.foreach { case (_, _, pairs, rec) =>
      assert(pairs >= 0 && rec >= 0.0 && rec <= 1.0)
    }
    // more tables of fewer bits can only widen candidate sets: pair
    // load and recall are non-decreasing down the sweep on this corpus
    assert(rows.map(_._3).sameElements(rows.map(_._3).sorted),
      "pair load must grow as buckets widen")
    assert(rows.map(_._4).sameElements(rows.map(_._4).sorted),
      "recall must not shrink as candidate sets widen")
  }

  test("betweenness sigma counts stay far inside BIGINT headroom (micro-grid audit)") {
    // the qBetweenness doc bound: σv·(1e6+Δw) needs σ_max·(1+R) <
    // 9.2e12 (R = max depth-bounded reachable count). Replay the
    // forward path-count BFS from the real pivots and assert the
    // product sits orders of magnitude inside the bound — the
    // data-dependent half of the katz-class overflow audit.
    import graft.graph.Analytics
    val edges = Analytics.edges(spark, TestSpark.sf).select("src", "dst")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seeds = adj.view.mapValues(_.length).toSeq
      .sortBy { case (n, d) => (-d, n) }.take(Analytics.BtwSeeds).map(_._1)
    var worstSigma = 1L
    var worstReach = 1L
    seeds.foreach { s =>
      var sigma = scala.collection.mutable.Map(s -> 1L)
      var frontier = Set(s)
      var visited = Set(s)
      for (_ <- 1 to Analytics.BtwDepth) {
        val nxt = scala.collection.mutable.Map.empty[String, Long]
        frontier.foreach(u => adj.getOrElse(u, Array.empty[String]).foreach { v =>
          if (!visited(v)) nxt(v) = nxt.getOrElse(v, 0L) + sigma(u)
        })
        sigma ++= nxt
        frontier = nxt.keySet.toSet
        visited ++= frontier
      }
      worstSigma = math.max(worstSigma, sigma.values.max)
      worstReach = math.max(worstReach, visited.size.toLong)
    }
    val product = BigInt(worstSigma) * BigInt(1L + worstReach)
    assert(product < BigInt("9200000000"), // bound/1000: three orders of margin
      s"sigma $worstSigma × reach $worstReach leaves too little BIGINT headroom")
  }

  test("burst detection: z recomputes from the trailing hourly counts") {
    import graft.operators.Events
    val rows = Events.qBurstDetect(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    // rebuild the hourly series and score each emitted row by hand
    val hourly = graft.Tables.events(spark, TestSpark.sf)
      .groupBy(date_trunc("hour", timestamp_micros(expr("ts div 1000"))).as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .groupBy(_.getString(1))
      .map { case (t, g) =>
        t -> g.map(r => (r.getTimestamp(0), r.getLong(2))).sortBy(_._1.getTime)
      }
    rows.foreach { r =>
      val (t, b, n, z) = (r.getString(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(4))
      val series = hourly(t)
      val idx = series.indexWhere(_._1 == b)
      val trail = series.slice(math.max(0, idx - Events.BurstTrailing), idx).map(_._2)
      assert(trail.length >= Events.BurstMinWin, s"$t@$b under-windowed row emitted")
      assert(n == series(idx)._2)
      val mu = trail.sum.toDouble / trail.length
      val sg = math.sqrt(math.max(
        trail.map(x => x * x).sum.toDouble / trail.length - mu * mu, 0.0))
      val expZ = if (sg > 0) math.rint((n - mu) / sg * 1e6) / 1e6 else 0.0
      assert(math.abs(z - expZ) < 1e-9, s"$t@$b: z $z != recomputed $expZ")
      assert(r.getBoolean(5) == (z >= Events.BurstZ))
    }
  }

  test("burst detection edges: flat series scores z=0, a forced spike flags") {
    import graft.operators.Events
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_burst").toString
    val hourUs = 3600L * 1000000L
    val base = 1704067200000000L // 2024-01-01 00:00 UTC, µs
    // "flat": exactly 2 events every hour for 40 hours → σ=0 → z=0
    val flat = (0 until 40).flatMap(h => Seq(0, 1).map(i =>
      (h * 2L + i, base + h * hourUs + i, 1L, "flat", 1.0, "{}")))
    // "spiky": alternating 1/3 events per hour (so the trailing σ is
    // nonzero) for 39 hours, then 50 in the last hour
    val spiky = (0 until 39).flatMap { h =>
      val k = if (h % 2 == 0) 1 else 3
      (0 until k).map(i => (1000L + h * 4L + i, base + h * hourUs + i, 2L, "spiky", 1.0, "{}"))
    } ++
      (0 until 50).map(i => (2000L + i, base + 39 * hourUs + i, 2L, "spiky", 1.0, "{}"))
    (flat ++ spiky)
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_us") * lit(1000L)).drop("ts_us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = Events.qBurstDetect(spark, dir).collect()
    val flatRows = rows.filter(_.getString(0) == "flat")
    assert(flatRows.nonEmpty)
    flatRows.foreach { r =>
      assert(r.getDouble(4) == 0.0, s"flat series scored z=${r.getDouble(4)}")
      assert(!r.getBoolean(5), "flat series flagged as burst")
    }
    val spikeRow = rows.filter(r => r.getString(0) == "spiky" && r.getLong(2) == 50L)
    assert(spikeRow.length == 1, "spike hour missing from the report")
    assert(spikeRow.head.getBoolean(5), "49x volume spike not flagged")
    // steady spiky hours before the spike are not flagged
    assert(rows.count(r => r.getString(0) == "spiky" && r.getBoolean(5)) == 1)
  }

  test("cluster purity: clusters partition the corpus, majority shares recompute") {
    import graft.operators.Training
    val rows = Training.qClusterPurity(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty && rows.length <= Training.KmK)
    val corpus = graft.Tables.embeddings(spark, TestSpark.sf).count()
    assert(rows.map(_.getLong(1)).sum == corpus,
      "cluster sizes don't partition the corpus")
    // majority counts agree with a direct (cluster, label) tally
    val tally = Training.qKmeans(spark, TestSpark.sf)
      .join(graft.Tables.embeddings(spark, TestSpark.sf)
        .select(col("vec_id"), col("label")), "vec_id")
      .collect().groupBy(_.getInt(1))
      .map { case (c, g) =>
        val byLabel = g.groupBy(_.getInt(3)).map { case (l, m) => l -> m.length }
        val (topL, topN) = byLabel.toSeq.sortBy { case (l, n) => (-n, l) }.head
        c -> (g.length.toLong, topL, topN.toLong)
      }
    rows.foreach { r =>
      val (c, n, topL, topN, p) = (r.getInt(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getDouble(4))
      val (en, el, etn) = tally(c)
      assert(n == en && topL == el && topN == etn,
        s"cluster $c: ($n,$topL,$topN) != tallied ($en,$el,$etn)")
      assert(p == (topN * 1000000L / n) / 1e6, s"cluster $c purity off-grid")
      assert(p > 0 && p <= 1.0)
    }
  }

  test("NDCG: bounded by 1, consistent with hand-computed gains from the exact ranking") {
    import org.apache.spark.sql.expressions.Window
    val rows = Similarity.qNdcg(spark, TestSpark.sf).collect()
    assert(rows.length == Similarity.ProbeBatch, "one row per probe query")
    // independent per-query ranking over the SAME probe batch via a
    // rank window (qNdcg itself ranks through the TopKPerGroup heap,
    // so this also cross-checks the custom operator)
    val qs = Similarity.vectors(spark, TestSpark.sf)
      .filter(col("vec_id") < Similarity.ProbeBatch)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("nrm").as("qnrm"))
    val ranked = Similarity.vectors(spark, TestSpark.sf)
      .filter(col("vec_id") >= Similarity.ProbeBatch)
      .crossJoin(broadcast(qs))
      .withColumn("score", round(
        Similarity.dotCol(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))
      .withColumn("rk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("vec_id"))))
      .filter(col("rk") <= Similarity.KnnK)
      .select("query_id", "label", "qlabel", "rk").collect()
      .groupBy(_.getLong(0))
    rows.foreach { r =>
      val (q, nRel, dcgM, idcgM, ndcg) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(ndcg >= 0.0 && ndcg <= 1.0, s"query $q: ndcg $ndcg out of [0,1]")
      assert(dcgM <= idcgM, s"query $q: dcg $dcgM exceeds ideal $idcgM")
      val expDcg = ranked(q).map { k =>
        val rel = k.getInt(1) == k.getInt(2)
        if (rel) math.rint(1e6 / (math.log(k.getInt(3) + 1) / math.log(2))).toLong
        else 0L
      }.sum
      assert(dcgM == expDcg, s"query $q: dcg $dcgM != recomputed $expDcg")
      val expIdcg = (1 to math.min(nRel, Similarity.KnnK.toLong).toInt)
        .map(i => math.rint(1e6 / (math.log(i + 1) / math.log(2))).toLong).sum
      assert(idcgM == expIdcg, s"query $q: idcg $idcgM != recomputed $expIdcg")
    }
  }

  test("PRF expansion: no query terms, weights recompute from pool stats") {
    import graft.operators.Retrieval
    val rows = Retrieval.qPrfExpansion(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty && rows.length <= Retrieval.PrfTopTerms)
    val n = graft.Tables.documents(spark, TestSpark.sf).count()
    rows.foreach { r =>
      val (w, poolTf, poolDf, dfreq, wm) = (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))
      assert(!Retrieval.QueryTerms.contains(w), s"query term $w leaked into expansion")
      assert(poolDf <= Retrieval.PrfPool, s"$w: pool_df exceeds pool size")
      assert(poolDf <= dfreq, s"$w: pool df exceeds corpus df")
      val exp = math.rint(poolTf * math.log(1.0 + n.toDouble / dfreq) * 1e6).toLong
      assert(wm == exp, s"$w: weight $wm != recomputed $exp")
    }
    val ws = rows.map(_.getLong(4))
    assert(ws.zip(ws.tail).forall { case (a, b) => a >= b }, "weights not descending")
  }

  test("query likelihood: scores recompute from corpus stats, all negative, ordered") {
    import graft.operators.Retrieval
    val rows = Retrieval.qQlRanking(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty && rows.length <= Retrieval.QlTopK)
    // rebuild tf/dl/cf/|C| and recompute each emitted score
    val docs = graft.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), split(col("text"), " ").as("w")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1))
    val collTokens = docs.map(_._2.length.toLong).sum
    val cf = Retrieval.QueryTerms.map(t =>
      t -> docs.map(_._2.count(_ == t).toLong).sum).toMap
    val byId = docs.toMap
    rows.foreach { r =>
      val (id, hits, ql) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val w = byId(id)
      val tfs = Retrieval.QueryTerms.map(t => t -> w.count(_ == t).toLong)
      assert(hits == tfs.count(_._2 > 0))
      assert(hits >= 1, "candidate without any query term")
      val qlm = tfs.map { case (t, tf) =>
        math.rint(math.log((tf + Retrieval.QlMu * cf(t) / collTokens) /
          (w.length + Retrieval.QlMu)) * 1e6).toLong
      }.sum
      val expect = math.rint(qlm / 1e6 * 1e6) / 1e6
      assert(math.abs(ql - expect) < 1e-9, s"doc $id: ql $ql != recomputed $expect")
      assert(ql < 0, "log-probabilities must be negative")
    }
    val s = rows.map(_.getDouble(2))
    assert(s.zip(s.tail).forall { case (a, b) => a >= b }, "not ordered by score")
  }

  test("hard negatives: labels differ from the query's, scores bounded by exact knn") {
    val labels = graft.Tables.embeddings(spark, TestSpark.sf)
      .filter(col("vec_id") < 5)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Similarity.qHardNegatives(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(2) != labels(r.getLong(0)),
        s"query ${r.getLong(0)} returned a same-label 'negative' ${r.getLong(1)}")
    }
    // per-query: exactly KnnK rows, ranks 1..K, scores non-increasing
    rows.groupBy(_.getLong(0)).foreach { case (q, g) =>
      assert(g.length == Similarity.KnnK, s"query $q: ${g.length} rows")
      val byRank = g.sortBy(_.getInt(4))
      assert(byRank.map(_.getInt(4)).toSeq == (1 to Similarity.KnnK),
        s"query $q ranks not 1..K")
      val s = byRank.map(_.getDouble(3))
      assert(s.zip(s.tail).forall { case (a, b) => a >= b },
        s"query $q scores increase")
    }
    // the top hard negative can never beat the top UNfiltered neighbor
    val knnTop = Similarity.qKnnJoin(spark, TestSpark.sf)
      .filter(col("rk") === 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    rows.filter(_.getInt(4) == 1).foreach { r =>
      assert(r.getDouble(3) <= knnTop(r.getLong(0)) + 1e-9,
        s"query ${r.getLong(0)}: filtered top beats unfiltered top")
    }
  }

  test("PMI co-occurrence: value recomputes from its own counts, weights >= floor") {
    import graft.graph.Analytics
    val rows = Analytics.qPmiCooccur(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    val t = graft.operators.TextPipeline.mentions(spark, TestSpark.sf)
      .groupBy("doc_id", "chunk_id")
      .agg(collect_set(col("name")).as("ents"))
      .filter(size(col("ents")) <= Analytics.MaxEntitiesPerChunk)
      .count()
    rows.foreach { r =>
      val (w, c1, c2, pmi) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(w >= Analytics.PmiMinWeight)
      assert(w <= math.min(c1, c2), "pair count exceeds a member's chunk count")
      val expect = math.rint(math.log(w.toDouble * t / (c1.toDouble * c2)) * 1e6) / 1e6
      assert(math.abs(pmi - expect) < 1e-9,
        s"${r.getString(0)}~${r.getString(1)}: pmi $pmi != recomputed $expect")
    }
    // descending by score, ties by name pair
    val keys = rows.map(r => (-r.getDouble(5), r.getString(0), r.getString(1)))
    assert(keys.sameElements(keys.sorted), "output not ordered by pmi desc, e1, e2")
  }

  test("length histogram: buckets partition each source, cumulative hits the total") {
    import graft.operators.Curation
    val rows = Curation.qLengthHist(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    val perSource = graft.Tables.documents(spark, TestSpark.sf)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getString(0)).foreach { case (src, g) =>
      assert(g.map(_.getLong(2)).sum == perSource(src),
        s"$src: bucket counts don't partition the source")
      val byBucket = g.sortBy(_.getLong(1))
      assert(byBucket.last.getLong(4) == perSource(src),
        s"$src: final cum_docs != source total")
      assert(byBucket.map(_.getLong(4)).toSeq ==
        byBucket.map(_.getLong(2)).scanLeft(0L)(_ + _).tail.toSeq,
        s"$src: cum_docs is not the running sum")
      g.foreach(r => assert(r.getDouble(3) > 0 && r.getDouble(3) <= 1.0))
    }
  }

  test("drift report: TV distance in [0,1], cohort totals partition each source") {
    import graft.operators.Curation
    val rows = Curation.qDriftReport(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    val perSource = graft.Tables.documents(spark, TestSpark.sf)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (src, e, o, tv) = (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(4))
      assert(e + o == perSource(src), s"$src: cohorts don't partition the source")
      assert(tv >= 0.0 && tv <= 1.0, s"$src: tv_dist $tv out of range")
    }
  }

  private def md5hex(s: String): String = TestSpark.md5hex(s)

  test("sampled ANF replays exactly from the collected edge list") {
    import graft.graph.Analytics
    val edges = Analytics.edges(spark, TestSpark.sf)
      .select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expected = TestSpark.anfBfsReplay(
      edges.toSeq, Analytics.AnfSeeds, Analytics.AnfHops)
    val rows = Analytics.qAnf(spark, TestSpark.sf).collect()
    val got = rows.map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    (0 to Analytics.AnfHops).foreach { h =>
      assert(got(h) == expected(h), s"hop $h: ${got(h)} != ${expected(h)}")
    }
    // the reach-curve contract: monotone, saturating at exactly 100%,
    // and the hop-0 average ball is exactly 1.0 — the division is by
    // the ACTUAL pivot count, not the AnfSeeds cap
    assert(rows.map(_.getLong(3)).last == 1000000L)
    assert(rows.map(_.getLong(1)).sliding(2).forall(p => p(0) <= p(1)))
    assert(rows.head.getLong(2) == 1000000L,
      "hop-0 avg_reach_micro must be exactly 1.0 (divide by real seed count)")
  }

  test("HyperANF registers replay exactly; estimate tracks the true ball sizes") {
    import graft.graph.Analytics
    val m = Analytics.AnfHllM
    val edges = Analytics.edges(spark, TestSpark.sf)
      .select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val nodes = edges.map(_._1).distinct
    // exact independent replay of the register derivation (same
    // 60-bit md5 prefix / p=8 split / 13-hex-window rho as the query)
    def initRho(n: String): (Int, Int) = {
      val h = java.lang.Long.parseLong(md5hex("anf#" + n).take(15), 16)
      val reg = (h % m).toInt
      val hexs = java.lang.Long.toHexString(h / 256).toUpperCase
      val hs = if (hexs.length >= 13) hexs.substring(0, 13)
        else ("0" * (13 - hexs.length)) + hexs
      val z = hs.takeWhile(_ == '0').length
      val rho = if (z == 13) 53 else {
        z * 4 + 1 + (hs(z) match {
          case '1' => 3
          case '2' | '3' => 2
          case c if c >= '4' && c <= '7' => 1
          case _ => 0
        })
      }
      (reg, rho)
    }
    var regs: Map[String, Map[Int, Int]] = nodes.map { n =>
      val (reg, rho) = initRho(n)
      n -> Map(reg -> rho)
    }.toMap
    val inEdges = edges.groupBy(_._2)
    val pow53 = graft.operators.Sketches.HllPow53
    val cD = Analytics.AnfHllAlphaMm * pow53.toDouble
    def lut(v0: Int): Long =
      math.round(m.toDouble * math.log(m.toDouble / v0) * 1e3)
    def nfMilli(rg: Map[String, Map[Int, Int]]): Long =
      rg.values.map { mm =>
        val sPresent = mm.values.map(r => 1L << (53 - r)).sum
        val vZero = m - mm.size
        val sScaled = sPresent + vZero.toLong * pow53
        val estRaw = cD / sScaled.toDouble
        if (estRaw <= 2.5 * m && vZero > 0) lut(vZero)
        else math.round(estRaw * 1e3)
      }.sum
    var expected = Vector(nfMilli(regs))
    for (_ <- 1 to Analytics.AnfHops) {
      val prev = regs
      regs = prev.map { case (n, mm) =>
        n -> inEdges.getOrElse(n, Array.empty[(String, String)])
          .foldLeft(mm) { case (acc, (src, _)) =>
            prev(src).foldLeft(acc) { case (a, (reg, rho)) =>
              a.updated(reg, math.max(a.getOrElse(reg, 0), rho))
            }
          }
      }
      expected :+= nfMilli(regs)
    }
    val rows = Analytics.qAnfHll(spark, TestSpark.sf).collect()
    assert(rows.forall(_.getLong(1) == nodes.length.toLong))
    (0 to Analytics.AnfHops).foreach { h =>
      assert(rows(h).getLong(2) == expected(h),
        s"hop $h: nf_milli ${rows(h).getLong(2)} != ${expected(h)}")
    }
    // accuracy against the true neighborhood function (m=256 → ~6.5%
    // standard error; node-level errors partially cancel in the sum)
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    var balls = nodes.map(n => n -> Set(n)).toMap
    var exact = Vector(balls.values.map(_.size.toLong).sum)
    for (_ <- 1 to Analytics.AnfHops) {
      balls = balls.map { case (n, b) =>
        n -> (b ++ b.flatMap(adj.getOrElse(_, Set.empty)))
      }
      exact :+= balls.values.map(_.size.toLong).sum
    }
    (0 to Analytics.AnfHops).foreach { h =>
      val est = expected(h) / 1e3
      val rel = math.abs(est - exact(h)) / exact(h).toDouble
      assert(rel <= 0.15, s"hop $h: est $est vs exact ${exact(h)} (rel $rel)")
    }
    // effective diameter: interpolated 90% knee, replayed exactly
    val eff = Analytics.effectiveDiameter(
      Analytics.qAnfHll(spark, TestSpark.sf))
    assert(eff >= 0.0 && eff <= Analytics.AnfHops.toDouble,
      s"effective diameter $eff outside [0, hops]")
    val nf = expected.map(_.toDouble)
    val target = 0.9 * nf.last
    val h0 = nf.indexWhere(_ >= target)
    val want =
      if (h0 <= 0) 0.0
      else (h0 - 1) + (target - nf(h0 - 1)) / (nf(h0) - nf(h0 - 1))
    assert(math.abs(eff - want) < 1e-9,
      s"effective diameter $eff != replayed $want")
  }
}
