package graft.functions

import graft.SparkSpec

/** Hand-computed expectations for the Gopher quality rules and repetition
  * signals (the corpus-scale behavior is oracle-checked by the driver; this
  * pins the per-rule arithmetic on crafted docs). */
class TextOpsSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("seqPack: distributed prefix sum equals the naive global cumsum") {
    // real docs, many partitions: the per-partition-cumsum + broadcast-prefix
    // formulation must reproduce the single-window global running sum exactly
    val d = graft.Tables(spark, sf001).documents
    val got = TextOps.seqPack(d, "doc_id", "text", 512)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val naiveW = Window.orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = d.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("start", sum("n_tokens").over(naiveW) - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        expr("start div 512").as("seq_id"), pmod(col("start"), lit(512L)).as("offset"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty && got.toSeq === naive.toSeq)
  }

  test("seqPack: every sequence except the last carries exactly the budget") {
    val budget = 64L
    val d = docs((1L to 40L).map(i => i -> ("tok " * (i % 13 + 1).toInt).trim): _*)
    val rows = TextOps.seqPack(d, "doc_id", "text", budget.toInt)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // offsets live in [0, budget); doc_ids are emitted exactly once
    assert(rows.map(_._1).toSeq === (1L to 40L))
    assert(rows.forall { case (_, _, _, off) => off >= 0 && off < budget })
    // reconstruct the chunked stream: attribute each doc's token span to
    // sequences; every non-final sequence must receive exactly `budget`
    val total = rows.map(_._2).sum
    val nSeqs = (total + budget - 1) / budget
    val perSeq = new Array[Long](nSeqs.toInt)
    rows.foreach { case (_, n, seqId, off) =>
      var remaining = n
      var s = seqId
      var pos = off
      while (remaining > 0) {
        val take = math.min(remaining, budget - pos)
        perSeq(s.toInt) += take
        remaining -= take
        s += 1
        pos = 0
      }
    }
    (0 until nSeqs.toInt - 1).foreach { s =>
      assert(perSeq(s) === budget, s"sequence $s not full: ${perSeq(s)}")
    }
    assert(perSeq.sum === total)
  }

  test("lm score ranks in-distribution docs above out-of-vocabulary ones") {
    // doc 3 reuses the common first token 'the' with continuations nobody
    // else uses: rare c2 against a large c1('the') marginal drives the mean
    // log-prob down (an all-unique-token doc would degenerately score 0,
    // since MLE gives c2 = c1 = 1 for every bigram)
    val d = docs(
      1L -> "the cat sat on the mat",
      2L -> "the cat sat on the rug",
      3L -> "the zq the wv the xk")
    val got = TextOps.lmScore(d, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(got.forall(_._2 === 5L)) // 6 tokens -> 5 bigrams each
    assert(got(0)._3 > got(2)._3 && got(1)._3 > got(2)._3,
      s"in-distribution docs must outscore the rare-continuation doc: $got")
    // all log-probs are <= 0 (MLE probabilities)
    assert(got.forall(_._3 <= 0.0))
  }

  test("hash split is deterministic, exhaustive, and near the 80/10/10 target") {
    val d = graft.Tables(spark, sf001).documents
    val s1 = TextOps.hashSplit(d, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val s2 = TextOps.hashSplit(d, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s1 === s2, "split must be a pure function of the id")
    assert(s1.size === d.count())
    val frac = s1.values.groupBy(identity).view.mapValues(_.size.toDouble / s1.size)
    assert(math.abs(frac("train") - 0.8) < 0.1, s"train ${frac("train")}")
    assert(math.abs(frac("val") - 0.1) < 0.06, s"val ${frac("val")}")
    assert(math.abs(frac("test") - 0.1) < 0.06, s"test ${frac("test")}")
    // growth stability: splitting a SUBSET assigns identical labels
    val sub = TextOps.hashSplit(d.filter(org.apache.spark.sql.functions.col("doc_id") < 100),
      "doc_id").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    sub.foreach { case (id, sp) => assert(s1(id) === sp) }
  }

  test("weighted sampling is deterministic and tracks the per-source weights") {
    import org.apache.spark.sql.functions._
    val d = graft.Tables(spark, sf001).documents
    val kept = TextOps.weightedSample(d, "doc_id", "source", "text")
    val kept2 = TextOps.weightedSample(d, "doc_id", "source", "text")
    val ids = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === kept2.select("doc_id").collect().map(_.getLong(0)).toSet,
      "hash-based draw must be reproducible run to run")
    // kept fraction per source ≈ weight (4096 strata; tolerate sampling noise)
    val weights = TextOps.sourceMixWeights(d, "source", "text")
      .select("source", "weight", "n_docs").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val keptPerSource = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    weights.foreach { case (src, (w, n)) =>
      val got = keptPerSource.getOrElse(src, 0L).toDouble / n
      assert(math.abs(got - w) < 0.15,
        s"source $src kept fraction $got far from weight $w")
    }
    // a weight-1.0 source keeps everything (no draw can fail w*4096 = 4096)
    weights.collect { case (src, (w, n)) if w >= 1.0 =>
      assert(keptPerSource(src) === n, s"weight-1 source $src must keep all docs")
    }
  }

  test("pii scrub redacts emails, phones and digit runs with placeholders") {
    import org.apache.spark.sql.functions.col
    val d = docs(
      1L -> "contact me.x+1@sub.example.com or +14155551234 now",
      2L -> "call 555-123-4567 ref 12345678 ok",
      3L -> "clean text only")
    val got = d.select(col("doc_id"), TextOps.piiScrub(col("text")).as("s"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(got(0) === "contact <EMAIL> or <PHONE> now")
    assert(got(1) === "call <PHONE> ref <NUM> ok")
    assert(got(2) === "clean text only")
  }

  test("domain cap keeps at most n docs per source, lowest ids first") {
    val s = spark
    import s.implicits._
    val d = Seq.tabulate(30)(i => (i.toLong, s"src${i % 2}"))
      .toDF("doc_id", "source")
    val got = TextOps.domainCap(d, "source", "doc_id", 3)
      .orderBy("source", "rk").collect()
      .map(r => (r.getString(1), r.getLong(0), r.getInt(2)))
    assert(got.toSeq === Seq(
      ("src0", 0L, 1), ("src0", 2L, 2), ("src0", 4L, 3),
      ("src1", 1L, 1), ("src1", 3L, 2), ("src1", 5L, 3)))
  }

  test("gopher rules: counts, ratios and keep flag on crafted docs") {
    val d = docs(
      1L -> "the cat sat",
      2L -> "a # b ... c")
    val out = TextOps.gopherRules(d, "doc_id", "text")
      .orderBy("doc_id").collect()

    val r1 = out(0)
    assert(r1.getAs[Int]("n_words") === 3)
    assert(r1.getAs[Double]("mean_word_len") === 3.0)
    assert(r1.getAs[Double]("symbol_ratio") === 0.0)
    assert(r1.getAs[Double]("alpha_word_frac") === 1.0)
    assert(r1.getAs[Int]("stop_hits") === 1)
    assert(!r1.getAs[Boolean]("keep")) // word count below the [50, 100k] band

    val r2 = out(1)
    assert(r2.getAs[Int]("n_words") === 5)
    // one '#' + one '...' over 5 words
    assert(r2.getAs[Double]("symbol_ratio") === 0.4)
    // 'a', 'b', 'c' are alphabetic; '#' and '...' are not
    assert(r2.getAs[Double]("alpha_word_frac") === 0.6)
    assert(r2.getAs[Int]("stop_hits") === 0)
    assert(!r2.getAs[Boolean]("keep"))
  }

  test("gopher keep flag accepts a long clean english doc") {
    val body = Seq.tabulate(60)(i => s"word$i").mkString(" ")
    val d = docs(1L -> s"the cat must have come to be with that dog and $body")
    val r = TextOps.gopherRules(d, "doc_id", "text").collect().head
    assert(r.getAs[Int]("n_words") >= 50 && r.getAs[Boolean]("keep"))
  }

  test("native vocab-hits kernel is bit-identical to the HOF form on real docs") {
    import org.apache.spark.sql.functions.col
    val real = graft.Tables(spark, sf001).documents
    val en = TextOps.langMarkers.toMap.apply("en")
    def byId(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Int](2))).toMap
    val native = byId(real.select(col("doc_id"),
      TextOps.vocabHits(col("text"), en),
      TextOps.langScores(TextOps.tokens(col("text")))))
    // the reference runs the real HOF form, not the rule's rewrite of it
    val hof = withoutNativeRules {
      val ref = real.select(col("doc_id"),
        TextOps.vocabHitsHof(col("text"), en),
        TextOps.langScoresHof(TextOps.tokens(col("text"))))
      val plan = ref.queryExecution.optimizedPlan.toString
      assert(!plan.contains("graft_vocab_hits"), plan)
      byId(ref)
    }
    assert(native.nonEmpty && native.keySet === hof.keySet)
    native.foreach { case (id, (hits, scores)) =>
      assert(hits === hof(id)._1, s"doc $id vocab hits differ")
      assert(scores === hof(id)._2, s"doc $id lang scores differ")
    }
  }

  test("NativeVocabHitsRule rewrites the plain size(filter(In)) shape to the kernel") {
    import org.apache.spark.sql.functions._
    val en = TextOps.langMarkers.toMap.apply("en")
    val d = graft.Tables(spark, sf001).documents
    // user code written with plain built-ins, no graft API in sight
    val df = d.select(col("doc_id"),
      size(filter(split(col("text"), " "), t => t.isin(en: _*))).as("hits"))
    assert(df.queryExecution.optimizedPlan.toString.contains("graft_vocab_hits"),
      df.queryExecution.optimizedPlan.toString.linesIterator.take(3).mkString("\n"))
    // identical values to the un-rewritten HOF
    val got = df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val exp = withoutNativeRules {
      val ref = d.select(col("doc_id"), TextOps.vocabHitsHof(col("text"), en))
      val plan = ref.queryExecution.optimizedPlan.toString
      assert(!plan.contains("graft_vocab_hits"), plan)
      ref.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    }
    assert(got === exp && got.nonEmpty)
    // a filter on a non-literal vocabulary is left untouched
    val dyn = d.select(size(filter(split(col("text"), " "),
      t => t === col("lang"))).as("n"))
    assert(!dyn.queryExecution.optimizedPlan.toString.contains("graft_vocab_hits"))
  }

  test("chunking: coverage, overlap and the contained-trailing-chunk drop") {
    val d = graft.Tables(spark, sf001).documents
    val size = 120; val overlap = 30; val step = size - overlap
    val chunks = TextOps.chunk(d, "doc_id", "text", size, overlap)
      .collect().groupBy(_.getAs[Long]("doc_id"))
    val texts = d.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(chunks.keySet === texts.keySet) // every doc chunks (min len 48 > 0)
    for ((id, rows) <- chunks) {
      val t = texts(id)
      val sorted = rows.sortBy(_.getAs[Long]("chunk_id"))
      // ids are consecutive from 0 and starts step uniformly
      assert(sorted.map(_.getAs[Long]("chunk_id")).toSeq ===
        (0L until sorted.length).toSeq)
      for (r <- sorted) {
        val start = r.getAs[Long]("chunk_start").toInt
        val c = r.getAs[String]("chunk")
        assert(start == r.getAs[Long]("chunk_id").toInt * step)
        assert(c == t.substring(start, math.min(start + size, t.length)))
        assert(c.length <= size)
      }
      // full coverage: last chunk reaches the end of the doc
      val last = sorted.last
      assert(last.getAs[Long]("chunk_start") + last.getAs[String]("chunk").length
        == t.length)
      // no chunk (except a lone first) is contained in its predecessor
      assert(sorted.tail.forall(_.getAs[String]("chunk").length > overlap))
    }
  }

  test("source entropy: uniform vocabulary gives ln(k), skew lowers it") {
    val s = spark
    import s.implicits._
    val d = Seq(
      ("u", "a b c d"),          // uniform over 4 words -> ln 4
      ("v", "a a a b"),          // skewed -> below ln 2 * 2 = below uniform
    ).toDF("source", "text")
    val got = TextOps.sourceEntropy(d, "source", "text")
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_vocab"),
          r.getAs[Double]("entropy"))).toMap
    assert(got("u")._1 == 4 && got("u")._2 == 4)
    assert(math.abs(got("u")._3 - math.log(4)) < 1e-5)
    assert(got("v")._1 == 4 && got("v")._2 == 2)
    // H = -(3/4 ln 3/4 + 1/4 ln 1/4)
    val hv = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert(math.abs(got("v")._3 - hv) < 1e-5)
  }

  test("repetition stats: top-word/bigram and distinct-word shares") {
    val d = docs(
      1L -> "x x y",
      2L -> "z")
    val out = TextOps.repetitionStats(d, "doc_id", "text")
      .orderBy("doc_id").collect()

    val r1 = out(0)
    assert(r1.getAs[Double]("top_word_frac") === 0.666667)
    assert(r1.getAs[Double]("distinct_word_frac") === 0.666667)
    assert(r1.getAs[Double]("top_bigram_frac") === 0.5) // 'x x' and 'x y' once each

    val r2 = out(1)
    assert(r2.getAs[Double]("top_word_frac") === 1.0)
    assert(r2.getAs[Double]("distinct_word_frac") === 1.0)
    assert(r2.getAs[Double]("top_bigram_frac") === 0.0) // no bigram in a 1-token doc
  }

  test("dup-ngram stats: repeated trigrams, clean docs, gram-free docs") {
    val d = docs(
      // tokens a b c a b c a b -> 6 trigrams: "a b c","b c a","c a b" ×2
      // each -> every occurrence is a duplicate
      1L -> "a b c a b c a b",
      // 4 distinct tokens -> 2 distinct trigrams, nothing repeats
      2L -> "p q r s",
      // shorter than n -> zero grams, fractions pinned at 0.0
      3L -> "q w")
    val out = TextOps.dupNgramStats(d, "doc_id", "text", 3)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_grams") === 6L)
    assert(out(0).getAs[Double]("dup_ngram_frac") === 1.0)
    assert(out(0).getAs[Double]("dup_char_frac") === 1.0)
    assert(out(1).getAs[Long]("n_grams") === 2L)
    assert(out(1).getAs[Double]("dup_ngram_frac") === 0.0)
    assert(out(1).getAs[Double]("dup_char_frac") === 0.0)
    assert(out(2).getAs[Long]("n_grams") === 0L)
    assert(out(2).getAs[Double]("dup_ngram_frac") === 0.0)
    assert(out(2).getAs[Double]("dup_char_frac") === 0.0)
  }

  test("dup-ngram stats: partial duplication weights chars by gram length") {
    // tokens: aa bb aa bb aa -> trigrams "aa bb aa"(×2), "bb aa bb"(×1)
    // dup occurrences 2/3; chars: gram len 8 each -> dup_char 16/24
    val d = docs(1L -> "aa bb aa bb aa")
    val r = TextOps.dupNgramStats(d, "doc_id", "text", 3).collect().head
    assert(r.getAs[Long]("n_grams") === 3L)
    assert(r.getAs[Double]("dup_ngram_frac") === 0.666667)
    assert(r.getAs[Double]("dup_char_frac") === 0.666667)
  }

  test("cdc chunks: boundaries re-sync after an insertion; tokens conserved") {
    val base = (0 until 60).map(i => s"w$i")
    val edited = base.take(10) ++ Seq("INS1", "INS2", "INS3") ++ base.drop(10)
    val d = docs(1L -> base.mkString(" "), 2L -> edited.mkString(" "))
    val out = TextOps.cdcChunks(d, "doc_id", "text", 8)
      .orderBy("doc_id", "chunk_id").collect()
    val hashes = out.groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rs) => id -> rs.sortBy(_.getAs[Long]("chunk_id"))
        .map(_.getAs[String]("chunk_hash")).toSeq }
    // token conservation: chunk sizes sum back to the doc's token count
    val sizes = out.groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rs) => id -> rs.map(_.getAs[Long]("n_tokens")).sum }
    assert(sizes(1L) === 60L && sizes(2L) === 63L)
    // content-defined re-sync: once past the edit and the next boundary,
    // both docs chunk identically — a long common hash SUFFIX survives,
    // which fixed-width chunking (everything shifts by 3) cannot produce
    val common = hashes(1L).reverse.zip(hashes(2L).reverse)
      .takeWhile { case (a, b) => a == b }.length
    assert(common >= 3,
      s"expected >=3 shared tail chunks after re-sync, got $common " +
        s"(A=${hashes(1L).length} chunks, B=${hashes(2L).length})")
  }

  test("mix budget: per-source doc_id prefix, crossing doc included") {
    val s = spark
    import s.implicits._
    // srcA: 3+3+3 tokens at budget 7 -> docs 1,2,3: cum_before 0,3,6 all < 7
    //       (doc 3 CROSSES the budget and is still kept), doc 4 excluded.
    // srcB: first doc alone exceeds the budget -> still kept (every source
    //       contributes at least one doc).
    val d = Seq(
      (1L, "a b c", "srcA"), (2L, "d e f", "srcA"),
      (3L, "g h i", "srcA"), (4L, "j k l", "srcA"),
      (5L, "t u v w x y z a b c", "srcB"),
      (6L, "m n", "srcB"),
    ).toDF("doc_id", "text", "source")
    val kept = TextOps.mixBudget(d, "source", "doc_id", "text", 7L)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(1L, 2L, 3L, 5L))
  }

  test("regrouped source KL matches its closed form and the textbook definition") {
    val s = spark
    import s.implicits._
    // s1: a a b (c_s=3), s2: a b b b (c_s=4); c_w: a=3 b=4; T=7
    val d = Seq((1L, "a a b", "s1"), (2L, "a b b b", "s2"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.sourceKl(d, "source", "text").orderBy("source")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def ln(v: Double) = math.log(v)
    // the regrouped contract: per-term round-6 decimal sum, then the
    // (1/c_s)·num − ln c_s + ln T assembly rounded to 6
    def expect(terms: Seq[Double], cs: Double) = r6(
      terms.map(t => BigDecimal(r6(t))).sum.toDouble / cs - ln(cs) + ln(7.0))
    val k1 = expect(Seq(2 * (ln(2) - ln(3)), 1 * (ln(1) - ln(4))), 3.0)
    val k2 = expect(Seq(1 * (ln(1) - ln(3)), 3 * (ln(3) - ln(4))), 4.0)
    assert(out("s1") === ((3L, k1)))
    assert(out("s2") === ((4L, k2)))
    // and the regrouping is the textbook KL up to the rounding grid
    val textbook1 = 2.0 / 3 * ln((2.0 / 3) / (3.0 / 7)) +
      1.0 / 3 * ln((1.0 / 3) / (4.0 / 7))
    val textbook2 = 1.0 / 4 * ln((1.0 / 4) / (3.0 / 7)) +
      3.0 / 4 * ln((3.0 / 4) / (4.0 / 7))
    assert(math.abs(out("s1")._2 - textbook1) < 1e-5)
    assert(math.abs(out("s2")._2 - textbook2) < 1e-5)
  }

  test("source KL: zero when a source is the whole corpus, non-negative on the feed") {
    val s = spark
    import s.implicits._
    val single = Seq((1L, "a b c", "s1"), (2L, "a b", "s1"))
      .toDF("doc_id", "text", "source")
    val klSingle = TextOps.sourceKl(single, "source", "text")
      .collect().head.getDouble(2)
    assert(klSingle === 0.0) // p_source == p_corpus exactly
    val kls = TextOps.sourceKl(graft.Tables(spark, sf001).documents,
      "source", "text").collect().map(_.getDouble(2))
    assert(kls.nonEmpty)
    // Gibbs: KL >= 0 up to the per-term rounding (6 dp, |vocab| terms)
    assert(kls.forall(_ >= -1e-3))
  }

  test("quality prune keeps a quality-ordered prefix and crosses the budget once") {
    val docs = graft.Tables(spark, sf001).documents
    val budget = 3000L
    val kept = TextOps.qualityPrune(docs, "doc_id", "text", budget)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(kept.nonEmpty)
    // naive twin: order all docs by (quality desc, id), walk until budget
    val all = docs.select(org.apache.spark.sql.functions.col("doc_id"),
        TextOps.compositeQuality(org.apache.spark.sql.functions.col("text")).as("q"),
        org.apache.spark.sql.functions.size(org.apache.spark.sql.functions
          .split(org.apache.spark.sql.functions.col("text"), " ")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .sortBy { case (id, q, _) => (-q, id) }
    var cum = 0L
    val expect = all.takeWhile { case (_, _, n) => val keep = cum < budget; cum += n; keep }
    assert(kept.map(_._1).toSet === expect.map(_._1).toSet)
    // the kept mass reaches the budget (crossing doc included)
    assert(kept.map(_._3).sum >= budget)
  }

  test("mix budget on the corpus: kept docs form a doc_id prefix per source") {
    val docs = graft.Tables(spark, sf001).documents
    val kept = TextOps.mixBudget(docs, "source", "doc_id", "text", 500L)
      .collect().map(r => r.getString(1) -> r.getLong(0))
      .groupBy(_._1).map { case (src, xs) => src -> xs.map(_._2).toSet }
    val all = docs.select("source", "doc_id")
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).map { case (src, xs) => src -> xs.map(_._2).sorted }
    // every source is represented, and its kept set is a prefix of its docs
    all.foreach { case (src, ids) =>
      val k = kept.getOrElse(src, Set.empty)
      assert(k.nonEmpty, s"source $src contributed nothing")
      assert(ids.take(k.size).toSet === k, s"kept set for $src is not a prefix")
    }
  }

  test("hash split: stable under corpus growth and near the 80/10/10 design") {
    val s = spark
    import s.implicits._
    val small = (0L until 500L).toDF("doc_id")
    val big = (0L until 5000L).toDF("doc_id")
    val assignSmall = TextOps.hashSplit(small, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val assignBig = TextOps.hashSplit(big, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // growth stability: every doc keeps its split when the corpus grows
    assignSmall.foreach { case (id, sp) => assert(assignBig(id) === sp) }
    // fractions approximate the 80/10/10 design (binomial tolerance)
    val n = assignBig.size.toDouble
    val frac = assignBig.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(math.abs(frac("train") - 0.8) < 0.03, frac.toString)
    assert(math.abs(frac("val") - 0.1) < 0.02, frac.toString)
    assert(math.abs(frac("test") - 0.1) < 0.02, frac.toString)
  }

  test("oov ratio: in-vocab docs score 0, out-of-vocab tokens count proportionally") {
    val s = spark
    import s.implicits._
    // "a" and "b" dominate the corpus => with vocabSize=2 they ARE the
    // vocabulary; doc 3 mixes one vocab token with three aliens
    val docs = Seq(
      (1L, "a b a b a b"),
      (2L, "b a b a"),
      (3L, "a zz yy xx")).toDF("doc_id", "text")
    val out = TextOps.oovRatio(docs, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) === ((6L, 0.0)))
    assert(out(2L) === ((4L, 0.0)))
    assert(out(3L) === ((4L, 0.75)))
  }

  test("bm25: rare-term match outranks common-term match, scores hand-checked") {
    // 4 docs, equal length 4 so the length normalizer is identical and the
    // ranking is pure idf*tf arithmetic: "zebra" (df=1) must dominate
    // "data" (df=2) even against a higher tf; the no-match doc is absent.
    val d = docs(
      1L -> "zebra zebra table table",
      2L -> "data data data table",
      3L -> "data table table table",
      4L -> "table table table table")
    val out = TextOps.bm25TopK(d, "doc_id", "text", Seq("zebra", "data"), 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._2).toSeq === Seq(1L, 2L, 3L),
      s"ranking wrong: ${out.toSeq}")
    // hand computation, N=4 avgdl=4 dl=4 => denom = tf + 1.2:
    // idf(zebra) = ln((4-1+0.5)/(1+0.5)+1) = ln(10/3)
    // idf(data)  = ln((4-2+0.5)/(2+0.5)+1) = ln(2)
    val izebra = math.log(10.0 / 3.0); val idata = math.log(2.0)
    def w(idf: Double, tf: Int) = idf * tf * 2.2 / (tf + 1.2)
    val expect1 = math.round(w(izebra, 2) * 10000.0) / 10000.0
    val expect2 = math.round(w(idata, 3) * 10000.0) / 10000.0
    assert(out(0)._3 === expect1, s"doc 1 score ${out(0)._3} != $expect1")
    assert(out(1)._3 === expect2, s"doc 2 score ${out(1)._3} != $expect2")
    // scores are non-increasing down the ranking
    assert(out.sliding(2).forall { case Array(a, b) => a._3 >= b._3 })
  }

  test("ngram heavy hitters: df counts DOCUMENTS, within-doc repeats collapse") {
    // doc 1 repeats the phrase twice (must count once); docs 1 and 2 share
    // it; doc 3 has no 5-gram window at all (4 tokens)
    val d = docs(
      1L -> "a b c d e x a b c d e",
      2L -> "z a b c d e",
      3L -> "a b c d")
    val out = TextOps.ngramHeavyHitters(d, "doc_id", "text", n = 5, minDocs = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("a b c d e") === 2L, s"per-doc dedup broken: $out")
    assert(!out.contains("b c d e x"), "df=1 ngram must be filtered")
    assert(out.size === 1, s"only the shared 5-gram survives minDocs=2: $out")
  }

  test("pmi pairs: perfect co-occurrence scores ln(N/df), independence scores ~0") {
    // 4 docs; x and y always together (df 2 each, df_ab 2) => pmi = ln(4*2/4)
    // = ln 2; p and q in every doc => pmi = ln(4*4/16) = 0
    val d = docs(
      1L -> "x y p q",
      2L -> "x y p q",
      3L -> "p q r s",
      4L -> "p q r t")
    val out = TextOps.pmiPairs(d, "doc_id", "text", minPairDocs = 2, k = 50)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(3))).toMap
    val ln2 = math.round(math.log(2.0) * 10000.0) / 10000.0
    assert(out(("x", "y")) === ln2, s"perfect pair: ${out.get(("x", "y"))}")
    assert(out(("p", "q")) === 0.0, s"independent pair: ${out.get(("p", "q"))}")
    // ranking: the informative pair sorts above the independent one
    assert(out(("x", "y")) > out(("p", "q")))
  }

  test("feature hashing: md5-addressed buckets, sign trick, no dictionary") {
    val s = spark
    import s.implicits._
    def md5hex(t: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(t: String) = java.lang.Long.parseLong(md5hex(t).take(8), 16) % 64
    def sign(t: String) = if (md5hex(t)(8) <= '7') 1L else -1L
    val d = Seq((1L, "x y x")).toDF("doc_id", "text")
    val out = TextOps.featureHashing(d, "doc_id", "text", numBuckets = 64)
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out(bucket("x")) === ((2L, 2 * sign("x"))))
    assert(out(bucket("y")) === ((1L, sign("y"))))
    assert(out.size === 2) // x collides with itself, not with y, at 64 buckets
  }

  test("bigram LM score walks the full backoff chain: bigram, unigram, OOV") {
    val s = spark
    import s.implicits._
    val ref = Seq((100L, "a b a")).toDF("doc_id", "text")
    // pairs: (a->b) observed bigram; (b->c) c is OOV; (c->b) unigram backoff
    val score = Seq((1L, "a b c b")).toDF("doc_id", "text")
    val out = TextOps.bigramLmScore(score, ref, "doc_id", "text")
      .collect().head
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lp1 = r6(math.log(1.0 / 2))      // bc(a,b)=1 / uc(a)=2
    val lp2 = r6(math.log(0.4 * 1.0 / 3)) // OOV floor: alpha/N
    val lp3 = r6(math.log(0.4 * 1.0 / 3)) // backoff: alpha*uc(b)=1/N=3
    assert(out.getAs[Long]("n_scored") === 3L)
    assert(out.getAs[Double]("avg_logprob") === r6((lp1 + lp2 + lp3) / 3))
  }

  test("temperature mix flattens shares: alpha=0.5 on a 9:1 corpus") {
    val s = spark
    import s.implicits._
    // src a: 9 tokens, src b: 1 token -> p = .9/.1; sqrt -> ~.948683/.316228
    val d = Seq(("a", "w w w w w w w w w"), ("b", "w")).toDF("source", "text")
    val out = TextOps.temperatureMix(d, "source", "text", alpha = 0.5)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val qa = r6(math.pow(0.9, 0.5)); val qb = r6(math.pow(0.1, 0.5))
    val qsum = BigDecimal(qa) + BigDecimal(qb)
    assert(out("a") === ((0.9, r6(qa / qsum.toDouble), r6(qa / qsum.toDouble / 0.9))))
    assert(out("b") === ((0.1, r6(qb / qsum.toDouble), r6(qb / qsum.toDouble / 0.1))))
    // the temperature lifts the tail and trims the head
    assert(out("b")._3 > 1.0 && out("a")._3 < 1.0)
  }

  test("bpe training learns the textbook low/lower merges in order") {
    val s = spark
    import s.implicits._
    // words: low x2, lower x1. r1: (l,o) and (o,w) tie at 3 -> lexicographic
    // picks (l,o); r2: (lo,w)=3 wins; r3: (low,</w>)=2 beats (low,e)=1 —
    // rounds 2 and 3 both consume PREVIOUS rounds' merged symbols
    val d = Seq((1L, "low low lower")).toDF("doc_id", "text")
    val out = TextOps.bpeTrainMerges(d.select("text"), "text", merges = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(out.toSeq === Seq(
      (1, "l", "o", "lo", 3L),
      (2, "lo", "w", "low", 3L),
      (3, "low", "</w>", "low</w>", 2L)))
  }

  test("zipf fit matches the closed-form OLS on a crafted term curve") {
    val s = spark
    import s.implicits._
    // one source, term counts 3/2/1 -> ranks 1/2/3 (alphabetical tiebreak)
    val d = Seq(("s0", "a a a b b c")).toDF("source", "text")
    val out = TextOps.zipfFit(d, "source", "text", topN = 100).collect().head
    assert(out.getAs[Long]("n_tokens") === 6L)
    assert(out.getAs[Long]("vocab") === 3L)
    assert(out.getAs[Long]("n_terms") === 3L)
    // mirror the moment formula exactly as the operator evaluates it
    val x = Seq(1.0, 2.0, 3.0).map(math.log)
    val y = Seq(3.0, 2.0, 1.0).map(math.log)
    val (n, sx, sy) = (3.0, x.sum, y.sum)
    val sxx = x.map(v => v * v).sum
    val sxy = x.zip(y).map { case (a, b) => a * b }.sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.getAs[Double]("zipf_slope") === r6(slope))
    assert(out.getAs[Double]("zipf_intercept") === r6((sy - slope * sx) / n))
    // a rank-degenerate source (single distinct term) yields NULL fit
    val deg = TextOps.zipfFit(Seq(("s1", "w w w")).toDF("source", "text"),
      "source", "text").collect().head
    assert(deg.isNullAt(4) && deg.isNullAt(5))
  }
}
