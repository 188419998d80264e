package graft.functions

import graft.Tables
import graft.Ops.{Entry, Q, spread}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for a large-scale training-data pipeline
  * (builder brief: language-ID, quality scoring, token counting, document
  * fingerprinting). The reference has no text surface
  * (SURVEY.md §2.8 — string functions are absent there), so these are
  * beyond-parity operators designed Spark-first:
  *
  *  - everything is built-in `functions._` higher-order array expressions
  *    (split / transform / filter / aggregate) => whole-stage codegen, no
  *    UDFs, no driver round-trips — a 100-TB `documents` table streams
  *    through a single Project node per operator;
  *  - scoring is pure per-row arithmetic: no shuffle at all.
  */
object TextOps {

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(text, " ")

  /** Exact token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Sum of a transformed int over tokens (codegen'd fold). */
  private def tokSum(text: Column, f: Column => Column): Column =
    aggregate(transform(tokens(text), f), lit(0L), (acc, v) => acc + v)

  /** Count of tokens that belong to a fixed vocabulary, via the native
    * [[GraftVocabHits]] kernel (one hash-set probe per token instead of an
    * interpreted lambda frame + linear `In` scan). */
  def vocabHits(text: Column, vocab: Seq[String]): Column =
    vocabHitsOf(tokens(text), vocab)

  private def vocabHitsOf(toks: Column, vocab: Seq[String]): Column =
    call_function("graft_vocab_hits", toks, typedLit(vocab))

  /** The built-ins-only twin of [[vocabHits]], kept as the executable spec
    * the native kernel is tested against. */
  def vocabHitsHof(text: Column, vocab: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(vocab: _*)))

  /** Deterministic document fingerprint: md5 of the whitespace-normalized
    * lower-cased text (the "rolling hash" role; md5 keeps the oracle in
    * lockstep since both engines ship it). */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** Per-language marker vocabularies for the n-gram/stopword language-ID
    * heuristic. Ordered: the order is the deterministic argmax tiebreak. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "mit", "von", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "for", "it"),
    "es" -> Seq("el", "los", "las", "y", "un", "una", "es", "para", "por", "como"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pour", "que", "dans", "sur", "pas"),
    "zh" -> Seq("的", "是", "在", "了", "有", "我", "不", "这", "他", "们"),
  )

  /** Argmax with first-wins tiebreak over a score array aligned with
    * [[langMarkers]]: array_position returns the FIRST index of the max, so
    * the earliest language in marker order wins ties — same semantics as a
    * CASE chain, with each score referenced exactly twice instead of O(n²). */
  private def argmaxLang(scores: Column): Column =
    element_at(typedLit(langMarkers.map(_._1)),
      array_position(scores, array_max(scores)).cast(IntegerType))

  /** Per-language marker-hit scores over a pre-materialized token array —
    * five [[GraftVocabHits]] probes of the same array, one JVM loop each. */
  def langScores(toks: Column): Column =
    array(langMarkers.map { case (_, vocab) => vocabHitsOf(toks, vocab) }: _*)

  /** HOF twin of [[langScores]] (executable spec for the kernel test). */
  def langScoresHof(toks: Column): Column =
    array(langMarkers.map { case (_, vocab) =>
      size(filter(toks, t => t.isin(vocab: _*)))
    }: _*)

  /** Language-ID: score each candidate language by marker-vocabulary hits,
    * pick the argmax (first language in [[langMarkers]] order wins ties).
    * Composable single-Column form; the registered entry materializes the
    * token array once (VERDICT r3 weak #5 — inlining `split` into every
    * score meant up to 5 redundant interpreted-HOF evaluations per row). */
  def langId(text: Column): Column = argmaxLang(langScores(tokens(text)))

  // ---------------------------------------------------------------- entries

  /** Token statistics per document. */
  private val tokenStats: Q = (s, dir) => {
    val d = Tables(s, dir).documents
    d.select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      tokenCount(col("text")).as("n_tokens"),
      round(tokSum(col("text"), t => length(t).cast(LongType)).cast(DoubleType) /
        tokenCount(col("text")), 4).as("avg_token_len"))
      .orderBy("doc_id")
  }

  /** Composite quality in [0, 1]: a length term (saturating at 100 tokens)
    * plus an English-stopword-density term — the score the quality-filter
    * and [[qualityPrune]] stages share, kept in one place so they can
    * never drift apart. */
  def compositeQuality(text: Column): Column = {
    val nTok = tokenCount(text)
    val stopHits = vocabHits(text, langMarkers.toMap.apply("en"))
    round(
      least(nTok.cast(DoubleType) / 100.0, lit(1.0)) * 0.5 +
        least(stopHits.cast(DoubleType) / nTok * 5.0, lit(0.5)), 6)
  }

  /** Quality scoring: length/stopword/digit ratios + a composite score
    * (the quality-filter stage of an LLM data pipeline). */
  private val qualityScore: Q = (s, dir) => {
    val d = Tables(s, dir).documents
    val nTok = tokenCount(col("text"))
    val stopHits = vocabHits(col("text"), langMarkers.toMap.apply("en"))
    val digitChars = length(regexp_replace(col("text"), "[^0-9]", ""))
    d.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      round(stopHits.cast(DoubleType) / nTok, 6).as("stopword_ratio"),
      round(digitChars.cast(DoubleType) / length(col("text")), 6).as("digit_ratio"),
      compositeQuality(col("text")).as("quality"))
      .orderBy("doc_id")
  }

  /** Deterministic md5 fingerprint per document. */
  private val fingerprintQ: Q = (s, dir) =>
    Tables(s, dir).documents
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** Language-ID prediction next to the labeled lang column. Tokens and the
    * score array are materialized as their own (expensive, multi-referenced)
    * projection columns so CollapseProject keeps them evaluated once — the
    * shingleIndex pattern. */
  private val langIdQ: Q = (s, dir) =>
    Tables(s, dir).documents
      .withColumn("__toks", tokens(col("text")))
      .withColumn("__scores", langScores(col("__toks")))
      .select(col("doc_id"), col("lang"), argmaxLang(col("__scores")).as("lang_pred"))
      .orderBy("doc_id")

  /** BPE-ish token-count estimate (brief: "whitespace + a BPE-ish regex"):
    * subword pieces = runs of <=4 letters, digit runs, and punctuation
    * singles — the ~chars/4 heuristic real tokenizers approximate, without
    * shipping a merges table. regexp_count is codegen'd; no UDF. */
  def bpeTokenEstimate(text: Column): Column =
    regexp_count(text, lit("[a-z]{1,4}|[0-9]+|[^a-z0-9\\s]"))

  private val bpeTokensQ: Q = (s, dir) =>
    Tables(s, dir).documents.select(
      col("doc_id"),
      tokenCount(col("text")).as("n_words"),
      bpeTokenEstimate(col("text")).as("n_bpe_est"))
      .orderBy("doc_id")

  /** Order-sensitive rolling fingerprint over tokens (brief: "document
    * fingerprinting (rolling hash)"): fold acc = rotl(acc, 5) XOR hash(tok)
    * with the md5-derived [[Md5Hash64]] token hash — replayable as DuckDB
    * `list_reduce` bit arithmetic, so the entry is hash-checked (was
    * rows-only while xxhash64-seeded). Evaluated by the native
    * [[GraftRollingHash]] kernel — one JVM loop per row instead of an
    * interpreted lambda frame per token; bit-equality with the HOF form is
    * asserted in DedupSpec. */
  def rollingHash(text: Column): Column =
    call_function("graft_rolling_hash", tokens(text))

  /** Built-ins-only md5 little-endian 64-bit hash of a string column: the
    * md5 hex pairs for bytes 7..0 concatenated give the big-endian hex of
    * the little-endian value; conv(_, 16, -10) reads it as SIGNED decimal,
    * so the long cast is lossless for all 2^64 values. Identical to
    * [[Md5Hash64]] / DuckDB `md5_number_upper` — the engine-replayable
    * uniform-hash primitive behind [[rollingHashHof]] and
    * [[weightedSample]]. */
  def md5Hash64Hof(t: Column): Column = {
    val h = md5(t)
    val le = concat((0 until 8).reverse.map(i => substring(h, i * 2 + 1, 2)): _*)
    conv(le, 16, -10).cast(LongType)
  }

  /** The SQL-HOF twin of [[rollingHash]], kept as the executable spec the
    * native kernel is tested against (same md5 hash, same fold order). */
  def rollingHashHof(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) =>
      (shiftleft(acc, 5).bitwiseOR(shiftrightunsigned(acc, 59)))
        .bitwiseXOR(md5Hash64Hof(t)))

  private val rollingHashQ: Q = (s, dir) =>
    Tables(s, dir).documents
      .select(col("doc_id"), rollingHash(col("text")).as("rolling_fp"))
      .orderBy("doc_id")

  /** Content-defined chunking: a token ENDS a chunk when its
    * engine-replayable hash ([[md5Hash64Hof]] == DuckDB
    * `md5_number_upper`) is ≡ 0 mod `modulus`, giving chunks of expected
    * length `modulus` tokens whose boundaries depend only on LOCAL content
    * — the property fixed-width chunking lacks: inserting one token shifts
    * every fixed-width boundary after it, but a content-defined stream
    * re-synchronizes at the next boundary token, so edited documents still
    * share most chunk hashes (the FastCDC/rsync trick, applied to
    * token streams for sub-document dedup of near-identical docs).
    *
    * Scale shape: posexplode → a doc-keyed running sum assigns chunk ids
    * (per-doc window state only, never corpus-global) → one keyed
    * aggregation rebuilds each chunk deterministically (sort_array over
    * (pos, tok) structs — not bare collect_list, whose order is
    * partition-arrival nondeterministic) and hashes it. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                modulus: Int = 8): DataFrame = {
    require(modulus >= 2, s"boundary modulus must be at least 2, got $modulus")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs.select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("__b",
        when(pmod(md5Hash64Hof(col("tok")), lit(modulus.toLong)) === 0, 1L)
          .otherwise(0L))
      .withColumn("chunk_id", coalesce(sum(col("__b")).over(w), lit(0L)))
      .groupBy("doc_id", "chunk_id")
      .agg(count(lit(1)).as("n_tokens"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok")))).as("chunk_hash"))
  }

  private val cdcChunksQ: Q = (s, dir) =>
    cdcChunks(Tables(s, dir).documents, "doc_id", "text", 8)
      .orderBy("doc_id", "chunk_id")

  /** Heavy-hitter tokens by document frequency: tokens present in at least
    * `minDocShare` of all docs — the boilerplate/stopword-mining pass of a
    * corpus pipeline. One explode + one groupBy on the token: at 100 TB this
    * is a single hash shuffle with map-side partial counts; the output is
    * tiny by construction. */
  def heavyHitters(docs: DataFrame, idCol: String, textCol: String,
                   minDocShare: Double): DataFrame = {
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    docs.select(explode(array_distinct(tokens(col(textCol)))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") >= col("__n") * minDocShare)
      .select(col("token"), col("df"))
  }

  private val heavyHittersQ: Q = (s, dir) =>
    heavyHitters(Tables(s, dir).documents, "doc_id", "text", 0.2)
      .orderBy(desc("df"), asc("token"))

  /** Per-document top-k tokens by TF-IDF (tf * ln(N/df)) — the salience
    * scoring stage of a keyword-extraction / dedup-explain pipeline. Both
    * aggregations and the final window are keyed (doc_id, token) resp.
    * doc_id, so every stage is hash-partitionable; the doc-frequency side is
    * corpus-wide but collapses to one row per distinct token. Ranking uses
    * the ROUNDED score so the order is stable against last-ulp `ln`
    * differences across engines. */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    // df rides a token-partitioned window over the (doc, token) count
    // frame — each tf row is a distinct containing doc, so the partition
    // row count IS the document frequency. The former groupBy+join form
    // re-ran the corpus explode for the df side and re-keyed by token for
    // the join anyway (same skew exposure as the window): 6 Exchanges
    // measured, 5 now, one corpus pass. nDocs stays a separate 1-row
    // broadcast — empty docs count for IDF but never reach the tf frame,
    // and its scan is columnless.
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy("token")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("tfidf"), asc("token"))
    tf.withColumn("df", count(lit(1)).over(wDf))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("__n").cast(DoubleType) / col("df")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("tfidf"))
  }

  /** Zipf rank-frequency fit per source: OLS slope/intercept of
    * ln(freq) ~ ln(rank) over the top `topN` terms, plus the Heaps-law
    * raw material (corpus token count and vocabulary size). A healthy
    * natural-language source fits slope ≈ −1; machine-generated or
    * template text bends the curve — a cheap corpus-health fingerprint
    * for training-data intake, per source.
    *
    * Shape at scale: term counting is the only corpus-sized shuffle
    * (token-keyed, map-side combinable); the rank window partitions by
    * source over the term-frequency frame and the regression runs on
    * ≤ topN rows per source via the closed-form moment sums — the
    * slope is `(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)`, one division,
    * CASE-gated against a degenerate single-rank fit. Outputs round at
    * 6 so last-ulp `ln` differences across engines can't surface. */
  def zipfFit(docs: DataFrame, sourceCol: String, textCol: String,
              topN: Int = 100): DataFrame = {
    require(topN >= 2, s"need at least 2 ranks to fit, got $topN")
    val tf = docs
      .select(col(sourceCol).as("source"), explode(tokens(col(textCol))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("cnt"))
    val totals = tf.groupBy("source")
      .agg(sum(col("cnt")).as("n_tokens"), count(lit(1)).as("vocab"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(desc("cnt"), asc("token"))
    val fit = tf.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("source"),
        log(col("rank").cast(DoubleType)).as("x"),
        log(col("cnt").cast(DoubleType)).as("y"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x")).as("__sx"), sum(col("y")).as("__sy"),
        sum(col("x") * col("x")).as("__sxx"),
        sum(col("x") * col("y")).as("__sxy"))
    val den = col("n_terms") * col("__sxx") - col("__sx") * col("__sx")
    val slope = (col("n_terms") * col("__sxy") - col("__sx") * col("__sy")) / den
    fit.join(totals, "source")
      .select(col("source"), col("n_tokens"), col("vocab"), col("n_terms"),
        round(when(den > 0, slope), 6).as("zipf_slope"),
        round(when(den > 0,
          (col("__sy") - slope * col("__sx")) / col("n_terms")), 6)
          .as("zipf_intercept"))
  }

  private val zipfQ: Q = (s, dir) =>
    zipfFit(Tables(s, dir).documents, "source", "text", topN = 100)
      .orderBy("source")

  /** Feature hashing (the hashing trick): tokens land in a fixed number of
    * buckets via a content hash, so featurization needs NO vocabulary
    * dictionary — the unbounded-vocab featurizer of large-scale linear
    * models. The bucket address is the md5-prefix integer (the repo's
    * engine-neutral content-address pattern, shared with
    * `r4_group_sample`), and the classic sign trick debiases collisions:
    * each token also carries ±1 from the NEXT hash nibble, so colliding
    * tokens cancel in expectation instead of stacking. One token-keyed
    * counting aggregate; output is (doc × live-bucket)-sized, bounded by
    * `numBuckets` per doc regardless of vocabulary. */
  def featureHashing(docs: DataFrame, idCol: String, textCol: String,
                     numBuckets: Int = 64): DataFrame = {
    require(numBuckets > 0, s"need positive bucket count, got $numBuckets")
    val h = md5(col("token"))
    docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
      .select(col("doc_id"),
        (conv(substring(h, 1, 8), 16, 10).cast(LongType) % numBuckets)
          .as("bucket"),
        when(substring(h, 9, 1).isin("0", "1", "2", "3", "4", "5", "6", "7"),
          1L).otherwise(-1L).as("__sign"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("weight"), sum(col("__sign")).as("signed_weight"))
  }

  private val featureHashQ: Q = (s, dir) =>
    featureHashing(Tables(s, dir).documents, "doc_id", "text", numBuckets = 64)
      .orderBy("doc_id", "bucket")

  /** Bigram language-model score per document (Stupid Backoff, Brants et
    * al. 2007): each token scores `count(prev,tok)/count(prev)` when the
    * bigram was observed, else backs off to `alpha * count(tok)/N` — the
    * distributed-friendly LM behind perplexity-style corpus filtering
    * (the CCNet shape) at sizes where Kneser-Ney normalization doesn't
    * pay. Count tables come from a separate REFERENCE corpus (CCNet
    * scores web text against Wikipedia counts), so the backoff chain is
    * live: observed bigram → unigram backoff → an add-one OOV floor
    * `alpha/N` for tokens the reference never saw.
    *
    * Determinism: each token's log-score rounds to 6, the per-doc sum
    * rides exact DECIMAL, one division per doc — the `text_source_kl`
    * contract. Scale shape: count tables come from token-keyed counting
    * aggregates over the reference; scoring is a token-keyed join of the
    * positions frame against the (much smaller) count tables plus one
    * doc-keyed final aggregate. No windows over anything bigger than a
    * document. */
  def bigramLmScore(docs: DataFrame, refDocs: DataFrame, idCol: String,
                    textCol: String, alpha: Double = 0.4): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def toks(d: DataFrame) = d.select(col(idCol).as("doc_id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "token")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    def withPrev(d: DataFrame) = toks(d)
      .withColumn("prev", lag("token", 1).over(w))
      .filter(col("prev").isNotNull)
    val ref = toks(refDocs)
    val uni = ref.groupBy("token").agg(count(lit(1)).as("__uc"))
    // total deliberately re-reads ref rather than summing uni: a bare
    // count is shuffle-free (per-partition partials only), while a
    // uni-derived total would re-run the vocab-sized token aggregation —
    // measured one Exchange WORSE (r10 audit)
    val total = ref.agg(count(lit(1)).as("__N"))
    val bi = withPrev(refDocs)
      .groupBy("prev", "token").agg(count(lit(1)).as("__bc"))
    withPrev(docs)
      .join(bi, Seq("prev", "token"), "left")
      .join(uni.select(col("token").as("prev"), col("__uc").as("__pc")),
        Seq("prev"), "left")
      .join(uni, Seq("token"), "left")
      .crossJoin(broadcast(total))
      .withColumn("__lp", round(log(
        when(col("__bc").isNotNull,
          col("__bc").cast(DoubleType) / col("__pc"))
          .when(col("__uc").isNotNull,
            lit(alpha) * col("__uc").cast(DoubleType) / col("__N"))
          .otherwise(lit(alpha) * lit(1.0) / col("__N"))), 6))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_scored"),
        round(sum(col("__lp").cast(DecimalType(18, 6))).cast(DoubleType)
          / count(lit(1)), 6).as("avg_logprob"))
  }

  /** Reference counts from src0 only; every document scored against them,
    * so cross-source docs exercise the unigram-backoff and OOV branches. */
  private val bigramLmQ: Q = (s, dir) =>
    bigramLmScore(Tables(s, dir).documents,
      Tables(s, dir).documents.filter(col("source") === "src0"),
      "doc_id", "text")
      .orderBy("doc_id")

  private val tfidfQ: Q = (s, dir) =>
    tfidfTopK(Tables(s, dir).documents, "doc_id", "text", 3)
      .orderBy("doc_id", "rank")

  /** BM25 retrieval: top-k documents for a bag-of-terms query, scored with
    * the Okapi/Lucene formula — IDF(t) = ln((N-df+0.5)/(df+0.5) + 1),
    * term weight = idf · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl)). The
    * corpus-side shape is what matters at 100 TB: tokens are filtered to
    * the query's terms BEFORE any shuffle (the explode-side filter prunes
    * ~the whole corpus), so the (doc, term) aggregate is query-matches-
    * sized, not corpus-sized; doc frequencies come from a window over that
    * same small frame (no second corpus scan); N/avgdl is a one-row agg
    * broadcast back; the final top-k is TakeOrderedAndProject. Ranking
    * uses the ROUNDED score so order is stable across engines.
    *
    * The N/avgdl aggregate is the one full-corpus pass here (column-pruned
    * to the text column). A 100-TB deployment computes it ONCE at indexing
    * time and stores it as index metadata — exactly like [[ivfIndex]]'s
    * centroid artifact in [[graft.operators.Similarity]] — leaving queries
    * with only the matches-sized work. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("ts"))
    val stats = toks.agg(count(lit(1)).as("__n"),
      avg(size(col("ts"))).as("__avgdl"))
    val tf = toks
      .select(col("doc_id"), size(col("ts")).as("dl"),
        explode(col("ts")).as("token"))
      .filter(col("token").isin(queryTerms: _*))
      .groupBy("doc_id", "dl", "token").agg(count(lit(1)).as("tf"))
    val withDf = tf.withColumn("df", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy("token")))
    val scored = withDf.crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("__n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("w", col("idf") * (col("tf") * (k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl"))))
      .groupBy("doc_id").agg(round(sum(col("w")), 4).as("score"))
    scored.orderBy(desc("score"), asc("doc_id")).limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("score"), asc("doc_id"))))
      .select(col("rank"), col("doc_id"), col("score"))
  }

  private val bm25Q: Q = (s, dir) =>
    bm25TopK(Tables(s, dir).documents, "doc_id", "text",
      Seq("hash", "join", "vector"), 10)
      .orderBy("rank")

  /** Deterministic text normalization (the cleanup step before shingling /
    * fingerprinting): lower-case, strip everything outside [a-z0-9 ],
    * collapse runs of spaces, trim. Pure per-row codegen'd projection. */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  private val normalizeQ: Q = (s, dir) =>
    Tables(s, dir).documents
      .select(col("doc_id"), normalize(col("text")).as("norm_text"))
      .orderBy("doc_id")

  /** Non-distinct word n-grams of a pre-materialized token array (docs with
    * <n tokens yield an empty array). Unlike the dedup shingle kernel this
    * keeps multiplicity — frequency is the point for the repetition rules. */
  private def ngramsOf(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - lit(n)),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + lit(o + 1))): _*))
    ).otherwise(array())

  /** Non-distinct word bigrams of a pre-materialized token array (docs with
    * <2 tokens yield an empty array). */
  private def bigramsOf(toks: Column): Column = ngramsOf(toks, 2)

  /** Corpus bigram frequencies, top `limit` by (count desc, bigram asc) —
    * the n-gram LM / collocation table. Non-distinct within a doc (unlike
    * the dedup shingle index): frequency is the point. */
  def bigramCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("__toks", tokens(col(textCol)))
      .select(explode(bigramsOf(col("__toks"))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))

  private val bigramQ: Q = (s, dir) =>
    bigramCounts(Tables(s, dir).documents, "text")
      .orderBy(desc("n"), asc("bigram"))
      .limit(20)

  /** Cross-document repeated n-gram mining — the memorization-risk /
    * boilerplate miner of an LLM curation pipeline: an n-gram present in
    * many DISTINCT documents is either boilerplate to strip or a
    * memorization hazard to dedup. Per-doc n-grams are deduplicated BEFORE
    * the corpus aggregation (array_distinct inside the row), so the
    * shuffle carries at most one (doc, ngram) per document and the groupBy
    * is a single map-side-combinable hash agg; the >= minDocs filter makes
    * the output heavy-hitters-sized. All per-row work (sequence/transform/
    * slice/concat_ws) is codegen'd — no UDF. */
  def ngramHeavyHitters(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, minDocs: Long): DataFrame =
    docs.withColumn("__toks", tokens(col(textCol)))
      .filter(size(col("__toks")) >= n)
      .select(explode(array_distinct(
        transform(sequence(lit(1), size(col("__toks")) - (n - 1)),
          i => concat_ws(" ", slice(col("__toks"), i, lit(n)))))).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)

  // spread only where a paired A/B measured it faster: here (5-gram
  // fan-out) and in the PII scrub (regex-bound projection). lm_score,
  // bigram_lm, repetition, tfidf and feature_hashing measured flat to worse
  // with it and keep the plain scan (OPTIMIZATION_r15.md)
  private val ngramHHQ: Q = (s, dir) =>
    ngramHeavyHitters(spread(Tables(s, dir).documents, "doc_id"), "doc_id", "text",
      n = 5, minDocs = 2)
      .orderBy(desc("df"), asc("ngram"))

  /** Doc-level co-occurrence PMI pairs — the collocation / topic-structure
    * miner: PMI(a,b) = ln(N·df_ab / (df_a·df_b)) over distinct-token
    * document sets, reported for pairs co-occurring in >= minPairDocs
    * docs. Pair generation is a doc_id-keyed self-join of per-doc DISTINCT
    * tokens — quadratic only in a document's distinct vocabulary, never in
    * the corpus; at 100 TB the token side is pruned to a bounded top-V
    * vocabulary first (the [[heavyHitters]] output broadcast as a
    * semi-join filter), which caps the per-doc fanout by construction. */
  def pmiPairs(docs: DataFrame, idCol: String, textCol: String,
               minPairDocs: Long, k: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(tokens(col(textCol)))).as("tok"))
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val a = toks.select(col("doc_id"), col("tok").as("tok_a"))
    val b = toks.select(col("doc_id"), col("tok").as("tok_b"))
    a.join(b, "doc_id").filter(col("tok_a") < col("tok_b"))
      .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("df_ab"))
      .filter(col("df_ab") >= minPairDocs)
      .join(dfreq.select(col("tok").as("tok_a"), col("df").as("df_a")), "tok_a")
      .join(dfreq.select(col("tok").as("tok_b"), col("df").as("df_b")), "tok_b")
      .crossJoin(broadcast(nDocs))
      .withColumn("pmi", round(log(col("df_ab").cast(DoubleType) * col("__n")
        / (col("df_a") * col("df_b"))), 4))
      .select(col("tok_a"), col("tok_b"), col("df_ab"), col("pmi"))
      .orderBy(desc("pmi"), asc("tok_a"), asc("tok_b")).limit(k)
  }

  private val pmiQ: Q = (s, dir) =>
    pmiPairs(Tables(s, dir).documents, "doc_id", "text",
      minPairDocs = 3, k = 20)
      .orderBy(desc("pmi"), asc("tok_a"), asc("tok_b"))

  /** The distinct-stopword containment list from the Gopher quality rules
    * (Rae et al. 2021, MassiveText filtering, appendix A1.1). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document quality rules — the subset meaningful for
    * single-line docs: word-count bounds [50, 100k], mean word length
    * [3, 10], symbol-to-word ratio (# and ...) < 0.1, fraction of words
    * with an alphabetic character > 0.8, and >= 2 distinct stopwords
    * present. `keep` is the conjunction. Pure per-row projection over one
    * materialized token array — zero shuffle at any scale; the rule
    * thresholds compare ROUNDED ratios so the flag is stable across
    * engines. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val base = docs.withColumn("__toks", tokens(text))
    val toks = col("__toks")
    val nW = size(toks).cast(DoubleType)
    val meanLen = round(
      aggregate(toks, lit(0L), (a, t) => a + length(t)).cast(DoubleType) / nW, 4)
    val hashes = length(text) - length(regexp_replace(text, "#", ""))
    val ellipses = (length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / 3
    val symbolRatio = round((hashes.cast(DoubleType) + ellipses) / nW, 6)
    val alphaFrac = round(
      size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast(DoubleType) / nW, 6)
    val stopHits = size(array_intersect(toks, typedLit(gopherStopwords)))
    base.select(
      col(idCol).as("doc_id"),
      size(toks).as("n_words"),
      meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"),
      alphaFrac.as("alpha_word_frac"),
      stopHits.as("stop_hits"),
      (size(toks).between(50, 100000) && meanLen.between(3.0, 10.0) &&
        symbolRatio < 0.1 && alphaFrac > 0.8 && stopHits >= 2).as("keep"))
  }

  private val gopherQ: Q = (s, dir) =>
    gopherRules(Tables(s, dir).documents, "doc_id", "text").orderBy("doc_id")

  /** Per-document repetition signals (the Gopher repetition filters):
    * most-frequent-word share, distinct-word share, most-frequent-bigram
    * share. Both aggregations are keyed by doc_id (after an explode) — at
    * 100 TB this is two hash-partitioned map-side-combining aggregations
    * plus one co-partitioned join back, never a corpus-wide state. Docs
    * with <2 tokens have no bigrams: their top_bigram_frac is 0.0. */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs.withColumn("__toks", tokens(col(textCol)))
    val tf = base.select(col(idCol).as("doc_id"), explode(col("__toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val words = tf.groupBy("doc_id").agg(
      round(max(col("tf")).cast(DoubleType) / sum(col("tf")).cast(DoubleType), 6)
        .as("top_word_frac"),
      round(count(lit(1)).cast(DoubleType) / sum(col("tf")).cast(DoubleType), 6)
        .as("distinct_word_frac"))
    val bigram = base
      .select(col(idCol).as("doc_id"), explode(bigramsOf(col("__toks"))).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("bf"))
      .groupBy("doc_id").agg(
        round(max(col("bf")).cast(DoubleType) / sum(col("bf")).cast(DoubleType), 6)
          .as("top_bigram_frac"))
    words.join(bigram, Seq("doc_id"), "left")
      .select(col("doc_id"), col("top_word_frac"), col("distinct_word_frac"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"))
  }

  private val repetitionQ: Q = (s, dir) =>
    repetitionStats(Tables(s, dir).documents, "doc_id", "text").orderBy("doc_id")

  /** Per-document duplicate n-gram fractions — the remaining Gopher
    * repetition rule ([[repetitionStats]] covers the top-word/-bigram
    * shares): the fraction of n-gram OCCURRENCES belonging to an n-gram
    * that appears ≥2× within the same document, and the fraction of n-gram
    * CHARACTER MASS those occurrences carry (Rae et al. 2021 §A1.1's
    * "duplicate n-grams" family). High values flag looping/boilerplate text
    * that the top-share signals miss when the repeats are spread across
    * several distinct n-grams.
    *
    * Scale shape: explode → two keyed map-side-combining aggregations
    * ((doc, gram) then doc) plus one co-keyed left join back to keep
    * gram-free docs — per-doc state only, never corpus-global. */
  def dupNgramStats(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 3): DataFrame = {
    val occ = docs.withColumn("__toks", tokens(col(textCol)))
      .select(col(idCol).as("doc_id"), explode(ngramsOf(col("__toks"), n)).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
    val chars = length(col("gram")).cast(LongType) * col("c")
    val per = occ.groupBy("doc_id").agg(
      sum(col("c")).as("__total"),
      sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("__dup"),
      sum(chars).as("__chars"),
      sum(when(col("c") >= 2, chars).otherwise(0L)).as("__dupchars"))
    docs.select(col(idCol).as("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__total"), lit(0L)).as("n_grams"),
        coalesce(round(col("__dup").cast(DoubleType) / col("__total"), 6),
          lit(0.0)).as("dup_ngram_frac"),
        coalesce(round(col("__dupchars").cast(DoubleType) / col("__chars"), 6),
          lit(0.0)).as("dup_char_frac"))
  }

  private val dupNgramQ: Q = (s, dir) =>
    dupNgramStats(Tables(s, dir).documents, "doc_id", "text", 3).orderBy("doc_id")

  /** Source mixing weights: per-source token mass plus the sampling weight
    * that rebalances the corpus toward a UNIFORM source mixture — the
    * data-mixing step before LLM training. weight = min(1, target_tokens /
    * source_tokens): over-represented sources downsample, nothing
    * upsamples. One keyed aggregation over the corpus; the share/weight
    * arithmetic runs on the tiny per-source frame against broadcast
    * totals. */
  def sourceMixWeights(docs: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val perSource = docs.groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col(textCol)).cast(LongType)).as("n_tokens"))
    val totals = perSource.agg(sum(col("n_tokens")).as("__total"),
      count(lit(1)).as("__k"))
    perSource.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast(DoubleType) / col("__total"), 6).as("share"),
        round(least(lit(1.0),
          (col("__total").cast(DoubleType) / col("__k")) / col("n_tokens")), 6)
          .as("weight"))
  }

  private val sourceMixQ: Q = (s, dir) =>
    sourceMixWeights(Tables(s, dir).documents, "source", "text").orderBy("source")

  /** Temperature-scaled source mixing (the mT5/XLM-R rule): sampling
    * probability q_s ∝ p_s^α flattens the source distribution — α = 1
    * keeps natural proportions, α → 0 approaches uniform — so
    * low-resource sources are seen more without fully drowning the head.
    * `sample_factor` = q/p is the per-source up/down-sampling the loader
    * applies. Determinism: p is an exact count ratio; p^α rounds to 6
    * BEFORE the DECIMAL normalization sum (pow is the one ulp-unstable
    * step); everything after is identical-double arithmetic. One corpus
    * aggregate; the total and normalizer ride annotated global windows
    * over the already source-count-sized frame (dozens of rows — a mixing
    * config, never data-sized), so the corpus reduce runs exactly once —
    * the earlier broadcast-totals chain re-ran it for the total, the
    * normalizer, and the output (8 Exchanges measured vs 2 here). */
  def temperatureMix(docs: DataFrame, srcCol: String, textCol: String,
                     alpha: Double = 0.5): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1], got $alpha")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    // source-count-sized metadata frame from here down
    val w = Window.partitionBy(lit(1))
    docs.groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col(textCol)).cast(LongType)).as("n_tokens"))
      .withColumn("__p",
        col("n_tokens").cast(DoubleType) / sum("n_tokens").over(w))
      .withColumn("__qu", round(pow(col("__p"), alpha), 6))
      .withColumn("__qsum",
        sum(col("__qu").cast(DecimalType(18, 6))).over(w).cast(DoubleType))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("__p"), 6).as("share"),
        round(col("__qu") / col("__qsum"), 6).as("temp_weight"),
        round(col("__qu") / col("__qsum") / col("__p"), 6).as("sample_factor"))
  }

  private val temperatureMixQ: Q = (s, dir) =>
    temperatureMix(Tables(s, dir).documents, "source", "text", alpha = 0.5)
      .orderBy("source")

  /** BPE tokenizer-merge TRAINING (Sennrich et al. 2016): learn the top
    * `merges` byte-pair merges from the corpus — the "train a tokenizer"
    * step of an LLM data pipeline, not just applying one. Classic setup:
    * words spelled as space-separated symbols ending in the `</w>`
    * marker, weighted by word frequency; each round counts adjacent
    * symbol pairs over the VOCABULARY (distinct words — orders smaller
    * than the corpus and bounded by language, the only corpus-sized work
    * is the initial word count), picks the most frequent pair
    * (count-desc, then lexicographic — a total order both engines share
    * on ASCII), and rewrites the vocabulary with the merged symbol.
    *
    * Merge application is literal non-overlapping string replace
    * (leftmost, resume after the match — Spark's UTF8String and DuckDB
    * replace() share this algorithm exactly), applied `applyPasses`
    * times so occurrences deferred by a shared boundary space still
    * merge within the round. Inside odd-length symbol RUNS (aaa…) this
    * policy can pair differently than canonical greedy BPE — identical
    * in both engines, pinned in TextOpsSpec, and irrelevant outside
    * letter-run degeneracies.
    *
    * The per-round argmax is a 1-row collect: the merge table IS the
    * driver-sized artifact being trained (the kmeans-centroid pattern);
    * each round's vocabulary is cached and the previous one released. */
  def bpeTrainMerges(docs: DataFrame, textCol: String, merges: Int = 6,
                     applyPasses: Int = 4): DataFrame = {
    require(merges >= 1 && applyPasses >= 1, "need merges/applyPasses >= 1")
    val sess = docs.sparkSession
    val words = docs.select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
    var vocab = words.select(
      concat(lit(" "),
        expr("array_join(transform(sequence(1, length(w))," +
          " i -> substring(w, i, 1)), ' ')"),
        lit(" </w> ")).as("seq"),
      col("n")).persist()
    vocab.count()
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    val pairExpr = expr(
      "transform(slice(split(trim(seq), ' '), 1," +
        " size(split(trim(seq), ' ')) - 1)," +
        " (x, i) -> named_struct('a', x," +
        " 'b', element_at(split(trim(seq), ' '), i + 2)))")
    for (r <- 1 to merges) {
      val best = vocab.select(col("n"), explode(pairExpr).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"), col("n"))
        .groupBy("a", "b").agg(sum(col("n")).as("cnt"))
        .orderBy(desc("cnt"), asc("a"), asc("b")).limit(1).collect().head
      val (a, b, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
      out += ((r, a, b, a + b, cnt))
      val pat = lit(s" $a $b "); val rep = lit(s" $a$b ")
      val mergedSeq = (1 to applyPasses).foldLeft(col("seq")) {
        (c, _) => replace(c, pat, rep)
      }
      // localCheckpoint, NOT persist+count: the rewritten vocabulary's
      // plan reads the previous round's cache, and unpersisting that
      // cache with `next` merely persisted drops next's blocks too
      // (CacheManager.recacheByCondition) — round r+1's pair count would
      // then silently replay every earlier merge round (O(rounds²)).
      val next = vocab.select(mergedSeq.as("seq"), col("n")).localCheckpoint(true)
      vocab.unpersist()
      vocab = next
    }
    vocab.unpersist()
    import sess.implicits._
    out.result().toDF("round", "pair_left", "pair_right", "merged", "weight")
  }

  private val BpeMerges = 6
  private val BpePasses = 4

  private val bpeTrainQ: Q = (s, dir) =>
    bpeTrainMerges(Tables(s, dir).documents, "text",
      merges = BpeMerges, applyPasses = BpePasses)
      .orderBy("round")

  /** Generated k-round oracle (the emb_kmeans generator pattern): the
    * identical spell/count/argmax/replace expressions per round, so six
    * chained rounds stay bit-equal cross-engine. */
  private def bpeOracleSql(merges: Int, passes: Int): String = {
    def nestedReplace(expr: String): String =
      (1 to passes).foldLeft(expr) { (e, _) =>
        s"replace($e, ' '||b.a||' '||b.b||' ', ' '||b.a||b.b||' ')"
      }
    val rounds = (1 to merges).map { r =>
      s"""p$r AS (
         |  SELECT s, n, unnest(generate_series(1, len(s) - 1)) AS i
         |  FROM (SELECT string_split(trim(seq), ' ') AS s, n FROM v${r - 1})),
         |c$r AS (
         |  SELECT s[i] AS a, s[i + 1] AS b, CAST(sum(n) AS BIGINT) AS cnt
         |  FROM p$r GROUP BY 1, 2),
         |b$r AS (SELECT a, b, cnt FROM c$r ORDER BY cnt DESC, a, b LIMIT 1),
         |v$r AS (
         |  SELECT ${nestedReplace("v.seq")} AS seq, v.n
         |  FROM v${r - 1} v CROSS JOIN b$r b)""".stripMargin
    }.mkString(",\n")
    val union = (1 to merges).map(r =>
      s"SELECT CAST($r AS INT) AS round, a AS pair_left, b AS pair_right, " +
        s"a || b AS merged, cnt AS weight FROM b$r").mkString(" UNION ALL ")
    s"""WITH w0 AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY 1),
       |sp AS (
       |  SELECT w, n, unnest(generate_series(1, length(w))) AS i FROM w0),
       |v0 AS (
       |  SELECT ' ' || string_agg(substr(w, i, 1), ' ' ORDER BY i)
       |         || ' </w> ' AS seq, n
       |  FROM sp GROUP BY w, n),
       |$rounds
       |$union ORDER BY round""".stripMargin
  }

  /** Sequence packing — the step that turns a filtered corpus into
    * fixed-token-budget training sequences (VERDICT r5 item 1). Documents
    * are concatenated in deterministic `idCol` order and chunked every
    * `budget` tokens (GPT-style concat-and-chunk: a doc that straddles a
    * boundary spills into the next sequence, so every sequence except the
    * last carries EXACTLY `budget` tokens — pinned in TextOpsSpec). Emits
    * each doc's starting sequence and offset within it:
    * `seq_id = start_offset div budget`, `offset = start_offset mod budget`
    * where `start_offset` is the running token sum of all earlier docs.
    *
    * Scale shape: the running sum is a DISTRIBUTED prefix sum, not a
    * single-partition global window. Stage 1 range-partitions by doc id and
    * computes per-partition local cumsums (parallel); stage 2 aggregates
    * one total per partition (a ~#partitions-row frame), prefix-sums THAT
    * tiny frame, and broadcasts it back as each partition's base offset.
    * At 100 TB no task ever sees more than its own partition's rows; the
    * only single-partition window runs over one row per partition. The
    * result is partitioning-independent: local cumsum + partition prefix =
    * the global running sum. */
  def seqPack(docs: DataFrame, idCol: String, textCol: String,
              budget: Int): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    val t = docs.select(col(idCol).as("doc_id"),
      tokenCount(col(textCol)).cast(LongType).as("n_tokens"))
    withGlobalStart(t, Seq(col("doc_id")), "n_tokens")
      .select(col("doc_id"), col("n_tokens"),
        expr(s"__start div $budget").as("seq_id"),
        pmod(col("__start"), lit(budget.toLong)).as("offset"))
  }

  /** Distributed prefix sum: appends `__start` = the running sum of
    * `valCol` over all rows STRICTLY BEFORE the current one in
    * `orderCols` order (which must be a total order — include an id
    * tiebreak). Stage 1 range-partitions by the order keys and computes
    * per-partition local cumsums (parallel); stage 2 aggregates one total
    * per partition (a ~#partitions-row frame), prefix-sums THAT tiny frame,
    * and broadcasts it back as each partition's base offset. At 100 TB no
    * task ever sees more than its own partition's rows; the only
    * single-partition window runs over one row per partition.
    *
    * The local and prefix branches each evaluate the input subtree twice
    * (the scan is pruned to the needed columns, so the second pass is
    * cheap); that is safe because pids are REPRODUCIBLE here:
    * RangePartitioner samples with a fixed per-partition seed over a
    * deterministic scan, so both branches see identical boundaries, and
    * within a range partition the window's sort fixes the order. A narrow
    * checkpoint of the input would trade the second scan for ~24 bytes/row
    * — worth it only when the value projection is expensive
    * ([[qualityPrune]]). */
  private def withGlobalStart(t: DataFrame, orderCols: Seq[Column],
                              valCol: String): DataFrame = {
    val byRange = t.repartitionByRange(orderCols: _*)
      .withColumn("__pid", spark_partition_id())
    val localW = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy(orderCols: _*)
    val local = byRange.withColumn("__cum_local", sum(valCol).over(localW))
    // one row per partition; the prefix window over it is metadata-sized
    val prefixW = org.apache.spark.sql.expressions.Window.orderBy("__pid")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val prefixes = local.groupBy("__pid")
      .agg(sum(valCol).as("__ptotal"))
      .withColumn("__prefix", coalesce(sum("__ptotal").over(prefixW), lit(0L)))
      .select("__pid", "__prefix")
    local.join(broadcast(prefixes), "__pid")
      .withColumn("__start", col("__cum_local") + col("__prefix") - col(valCol))
  }

  /** Quality pruning to a global token target — the curation step that
    * keeps the BEST documents until the training budget is reached:
    * rank the corpus by [[compositeQuality]] (descending, doc_id
    * tiebreak) and keep every doc whose running token sum before it is
    * still under `tokenBudget` (the crossing doc is included, the
    * [[seqPack]]/[[mixBudget]] convention). Unlike a threshold filter,
    * this yields an exact token-mass target regardless of the score
    * distribution. Same distributed prefix-sum shape as [[seqPack]], just
    * ordered by (quality desc, id) instead of id.
    *
    * The prefix sum's two branches each read the scored frame, whose
    * per-token vocabulary probe is the expensive part, so the scores are
    * one checkpoint and the kept docs a snapshot
    * ([[graft.operators.IterState.snapshot]]); nothing stays cached. */
  def qualityPrune(docs: DataFrame, idCol: String, textCol: String,
                   tokenBudget: Long): DataFrame = {
    require(tokenBudget > 0, s"token budget must be positive, got $tokenBudget")
    graft.operators.IterState.snapshot(docs.select(col(idCol).as("doc_id"),
      tokenCount(col(textCol)).cast(LongType).as("n_tokens"),
      compositeQuality(col(textCol)).as("quality"))) { t =>
      withGlobalStart(t, Seq(col("quality").desc, col("doc_id")), "n_tokens")
        .filter(col("__start") < tokenBudget)
        .select("doc_id", "quality", "n_tokens")
    }
  }

  /** Default training-sequence token budget for the graded entry. */
  val SeqBudget = 512

  private val seqPackQ: Q = (s, dir) =>
    seqPack(Tables(s, dir).documents, "doc_id", "text", SeqBudget)
      .orderBy("doc_id")

  /** PII patterns, applied in order (email first so its digits don't get
    * eaten by the number rule; phone before bare digit runs). Each pattern
    * uses only syntax that Java regex and DuckDB RE2 read identically —
    * character classes, bounded quantifiers, no backrefs/lookarounds. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\+[0-9]{7,15}" -> "<PHONE>",              // international +digits
    "[0-9]{3}-[0-9]{3,4}-[0-9]{4}" -> "<PHONE>", // dashed national
    "[0-9]{6,}" -> "<NUM>",                      // long digit runs (ids, cards)
  )

  /** PII scrub — the compliance pass of a training-data pipeline: redact
    * emails, phone numbers and long digit runs with deterministic
    * placeholders (VERDICT r5 item 5). Pure per-row codegen'd
    * regexp_replace chain: zero shuffle at any scale; redaction counts ride
    * along so a downstream audit can aggregate PII density per source. */
  def piiScrub(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  private val piiScrubQ: Q = (s, dir) => {
    val d = spread(Tables(s, dir).documents, "doc_id")
    d.select(
      col("doc_id"),
      piiScrub(col("text")).as("scrubbed"),
      regexp_count(col("text"), lit(piiPatterns.head._1)).as("n_emails"),
      (regexp_count(col("text"), lit(piiPatterns(1)._1)) +
        regexp_count(col("text"), lit(piiPatterns(2)._1))).as("n_phones"))
      .orderBy("doc_id")
  }

  /** Per-source document cap — "no domain dominates the mix" (VERDICT r5
    * item 6): keep at most `n` docs per source by deterministic rank
    * (row_number over source ordered by doc id). Complements
    * [[sourceMixWeights]]'s token-mass weights with a hard count cap. The
    * rank window is keyed by source, and Spark's WindowGroupLimit pushes
    * the `rank <= n` cut below the Exchange — each map task forwards at
    * most n rows per source, so a skewed source never floods one
    * reducer. */
  def domainCap(docs: DataFrame, srcCol: String, idCol: String, n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(srcCol).orderBy(idCol)
    docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= n)
  }

  private val domainCapQ: Q = (s, dir) =>
    domainCap(Tables(s, dir).documents, "source", "doc_id", 10)
      .orderBy("source", "rk")

  /** Token-budget source mixing — the assembly step of a training corpus:
    * each source contributes docs (in deterministic doc_id order) until its
    * TOKEN budget is exhausted, capping by token mass where [[domainCap]]
    * caps by doc count. A doc is kept iff the source's running token sum
    * BEFORE it is still under budget (so the doc that crosses the line is
    * included — every source reaches its budget rather than stopping one
    * doc short, the [[seqPack]] "starts within budget" convention).
    *
    * One window keyed by source: each source's docs sort within their own
    * partition, and WindowGroupLimit-style early cutoff doesn't apply (the
    * cut depends on token mass, not rank), so a pathologically large
    * source serializes in one task — the upgrade path at that skew is
    * [[seqPack]]'s range-partition + partition-prefix trick applied per
    * source. At realistic source counts (thousands) the per-source sort is
    * the textbook use of a partitioned window. */
  def mixBudget(docs: DataFrame, srcCol: String, idCol: String,
                textCol: String, tokensPerSource: Long): DataFrame = {
    require(tokensPerSource > 0,
      s"token budget must be positive, got $tokensPerSource")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
        tokenCount(col(textCol)).cast(LongType).as("n_tokens"))
      .withColumn("__before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .filter(col("__before") < tokensPerSource)
      .select("doc_id", "source", "n_tokens")
  }

  private val MixBudgetTokens = 2000L

  private val mixBudgetQ: Q = (s, dir) =>
    mixBudget(Tables(s, dir).documents, "source", "doc_id", "text",
      MixBudgetTokens)
      .orderBy("doc_id")

  private val QualityPruneTokens = 8000L

  private val qualityPruneQ: Q = (s, dir) =>
    qualityPrune(Tables(s, dir).documents, "doc_id", "text",
      QualityPruneTokens)
      .orderBy("doc_id")

  /** Encoding-quality signals — the mojibake/charset screen of a web-scale
    * ingest: U+FFFD replacement-char count (the scar a bad decode leaves),
    * C0 control chars (broken framing), and the non-ASCII character ratio
    * (legitimate for CJK text, suspicious at low ratios for Latin text —
    * downstream rules read it jointly with lang). Pure per-row codegen'd
    * regexp arithmetic; all patterns use syntax Java regex and RE2 read
    * identically. */
  def encodingStats(text: Column): Seq[(String, Column)] = {
    val nChars = length(text)
    Seq(
      "n_replacement" -> regexp_count(text, lit("�")),
      "n_control" -> regexp_count(text, lit("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]")),
      "non_ascii_ratio" ->
        round(regexp_count(text, lit("[^\\x00-\\x7f]")).cast(DoubleType) /
          nChars, 6))
  }

  private val mojibakeQ: Q = (s, dir) => {
    val cols = encodingStats(col("text")).map { case (n, c) => c.as(n) }
    Tables(s, dir).documents
      .select(col("doc_id") +: col("lang") +: cols: _*)
      .orderBy("doc_id")
  }

  /** Stopword strip: drop marker-vocabulary tokens and re-join — the
    * content-word projection used before shingling/fingerprinting when
    * boilerplate words would dominate the signal. One codegen'd
    * filter-transform per row, zero shuffle. */
  def stripStopwords(text: Column, stopwords: Seq[String]): Column =
    array_join(filter(tokens(text), t => !t.isin(stopwords: _*)), " ")

  private val stopStripQ: Q = (s, dir) =>
    Tables(s, dir).documents
      .select(col("doc_id"),
        stripStopwords(col("text"), langMarkers.toMap.apply("en")).as("stripped"))
      .orderBy("doc_id")

  /** Deterministic weighted corpus sampling — the step that CONSUMES
    * [[sourceMixWeights]]: keep each doc with probability equal to its
    * source's rebalancing weight, decided by an md5-derived uniform draw on
    * the doc id instead of an RNG. Reproducible by construction: the same
    * doc survives on every run, every partitioning, and every engine (the
    * draw is `md5_number_upper(id) mod 4096` — the modulus is a power of
    * two, so the signed/unsigned 64-bit views agree, and 4096 strata bound
    * the quantization error of a 6-decimal weight at 2^-12). This is the
    * oracle-checkable counterpart of `r1_sample`'s seeded Bernoulli, which
    * is engine-local by nature. One broadcast join against the tiny
    * per-source weight frame; the corpus streams through a per-row
    * predicate — no shuffle at any scale. */
  def weightedSample(docs: DataFrame, idCol: String, srcCol: String,
                     textCol: String): DataFrame = {
    val w = sourceMixWeights(docs, srcCol, textCol)
      .select(col("source"), col("weight"))
    val draw = pmod(md5Hash64Hof(col(idCol).cast(StringType)), lit(4096L))
    docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
        draw.as("__draw"))
      .join(broadcast(w), "source")
      .filter(col("__draw") < col("weight") * 4096)
      .select("doc_id", "source")
  }

  private val weightedSampleQ: Q = (s, dir) =>
    weightedSample(Tables(s, dir).documents, "doc_id", "source", "text")
      .orderBy("doc_id")

  /** Corpus-LM document score — the perplexity-filter proxy of an LLM data
    * pipeline (KenLM-style filtering without shipping a model): score each
    * doc by the mean log-probability of its bigrams under the corpus'
    * bigram MLE, lm_score = mean over doc bigrams of ln(c(w1 w2)/c(w1 ·)).
    * Low scores flag incoherent/boilerplate docs; the corpus IS the model,
    * so no smoothing is needed (every doc bigram contributed to the counts).
    *
    * Scale shape: two keyed counting aggregations build the LM table
    * (bigram and first-token marginals), then the doc bigram stream
    * hash-joins them on content keys — every stage partitions by bigram or
    * token, nothing corpus-wide ever sits on one node. FP discipline: each
    * ln is rounded to 6 before a DECIMAL sum (the Ops.dsum rule), so the
    * per-doc mean is independent of row order and engine ulp noise. */
  def lmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docBigrams = docs.withColumn("__toks", tokens(col(textCol)))
      .select(col(idCol).as("doc_id"), explode(bigramsOf(col("__toks"))).as("bigram"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
    val c2 = docBigrams.groupBy("bigram").agg(count(lit(1)).as("c2"))
    val c1 = docBigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
    docBigrams
      .join(c2, "bigram")
      .join(c1, "w1")
      .withColumn("__lp",
        round(log(col("c2").cast(DoubleType) / col("c1")), 6)
          .cast(DecimalType(20, 6)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        // cast the DECIMAL sum to double BEFORE dividing — the oracle does
        // the same, so both engines round the identical double quotient
        round(sum(col("__lp")).cast(DoubleType) / count(lit(1)), 6)
          .as("lm_score"))
  }

  private val lmScoreQ: Q = (s, dir) =>
    lmScore(Tables(s, dir).documents, "doc_id", "text").orderBy("doc_id")

  /** Deterministic train/val/test split by id hash — the reproducible
    * counterpart of `randomSplit` (r2_split, whose seeded RNG is
    * engine-local by nature): split membership is a pure function of the
    * doc id, so it is stable across runs, partitionings and engines, and a
    * doc NEVER migrates between splits when the corpus grows — the
    * property that matters for held-out integrity in a continuously
    * ingested corpus. Strata are `md5 draw mod 4096` (power of two — the
    * signed/unsigned views agree cross-engine, see [[weightedSample]]):
    * < 3277 train (80.0%), < 3687 val (10.0%), else test. */
  def hashSplit(docs: DataFrame, idCol: String): DataFrame = {
    val draw = pmod(md5Hash64Hof(col(idCol).cast(StringType)), lit(4096L))
    docs.select(col(idCol).as("doc_id"), draw.as("__draw"))
      .withColumn("split",
        when(col("__draw") < 3277, "train")
          .when(col("__draw") < 3687, "val")
          .otherwise("test"))
      .select("doc_id", "split")
  }

  private val hashSplitQ: Q = (s, dir) =>
    hashSplit(Tables(s, dir).documents, "doc_id").orderBy("doc_id")

  /** RAG-style sliding-window chunking: cut each document into chunks of at
    * most `size` chars whose starts step by `size - overlap`, so adjacent
    * chunks share `overlap` chars of context. A trailing chunk wholly
    * contained in its predecessor (length <= overlap) is dropped. Pure
    * per-row array expansion — `sequence` + `posexplode` stay inside
    * whole-stage codegen and no shuffle happens until a consumer asks for
    * one, so a 100-TB corpus chunks as a scan-side map. */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
            size: Int = 120, overlap: Int = 30): DataFrame = {
    require(size > overlap && overlap >= 0,
      s"need size > overlap >= 0, got size=$size overlap=$overlap")
    val step = size - overlap
    val n = length(col(textCol)).cast(LongType)
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"),
        explode(sequence(lit(0L), n - 1, lit(step.toLong))).as("chunk_start"))
      .filter(col("chunk_start") === 0 ||
        length(col("__text")).cast(LongType) - col("chunk_start") > overlap)
      .select(col("doc_id"),
        (col("chunk_start") / step).cast(LongType).as("chunk_id"),
        col("chunk_start"),
        col("__text").substr(col("chunk_start").cast(IntegerType) + 1, lit(size))
          .as("chunk"))
  }

  private val chunkQ: Q = (s, dir) =>
    chunk(Tables(s, dir).documents, "doc_id", "text")
      .orderBy("doc_id", "chunk_id")

  /** Per-source unigram entropy — the vocabulary-diversity signal of a
    * data-mixing pipeline (a low-entropy source is boilerplate-heavy and
    * gets down-weighted). H(source) = -sum_w p(w) ln p(w) over the source's
    * word distribution. Two keyed counting aggs (word counts, then totals)
    * and a broadcast-sized join back — nothing corpus-wide on one node.
    * FP discipline: each term is rounded to 6 and summed as DECIMAL (the
    * [[lmScore]] rule), so the sum is order- and engine-independent. */
  def sourceEntropy(docs: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val words = docs.select(col(srcCol).as("source"),
      explode(tokens(col(textCol))).as("word"))
    val c = words.groupBy("source", "word").agg(count(lit(1)).as("c"))
    val t = c.groupBy("source")
      .agg(sum("c").as("tot"), count(lit(1)).as("n_vocab"))
    val p = col("c").cast(DoubleType) / col("tot")
    c.join(t, "source")
      .withColumn("__term",
        round(-p * log(p), 6).cast(DecimalType(20, 6)))
      .groupBy("source")
      .agg(max("tot").as("n_tokens"), max("n_vocab").as("n_vocab"),
        round(sum(col("__term")).cast(DoubleType), 6).as("entropy"))
  }

  private val entropyQ: Q = (s, dir) =>
    sourceEntropy(Tables(s, dir).documents, "source", "text").orderBy("source")

  /** Per-source KL divergence from the corpus unigram distribution —
    * D(p_s ‖ p_corpus) = Σ_w p_s(w)·ln(p_s(w)/p(w)): the drift diagnostic
    * of a data-mixing pipeline ([[sourceEntropy]] measures a source's
    * internal diversity; this measures how far it sits from the blend).
    * Always finite: every word a source contains is in the corpus by
    * construction.
    *
    * Computed in the regrouped form
    * KL_s = (1/c_s)·Σ_w c_sw·(ln c_sw − ln c_w) − ln c_s + ln T
    * (expand the logs and use Σ_w c_sw = c_s): every per-word term then
    * needs only (c_sw, c_w), so the whole query is ONE pass over the
    * (source, word) count frame — the naive form joined three separately
    * re-aggregated copies of it (measured 10 Exchanges vs 4 here; the
    * corpus-token shuffle ran 3×). c_w attaches via a window partitioned
    * by word (group size ≤ #sources per word — never skewed by a common
    * word's corpus frequency), the per-source reduce is one keyed agg,
    * and T = Σ c_s rides an annotated global window over the already
    * source-count-sized result. FP discipline: each c_sw·Δln term rounds
    * to 6 and sums as DECIMAL (the [[sourceEntropy]] rule), so the result
    * is order- and engine-independent; a single-source corpus is exactly
    * 0 because every term and ln c_s − ln T vanish identically. */
  def sourceKl(docs: DataFrame, srcCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col(srcCol).as("source"),
      explode(tokens(col(textCol))).as("word"))
    val sw = words.groupBy("source", "word").agg(count(lit(1)).as("c_sw"))
    val withW = sw.withColumn("c_w",
      sum("c_sw").over(Window.partitionBy("word")))
    val g = withW.groupBy("source")
      .agg(sum("c_sw").as("c_s"),
        sum(round(col("c_sw").cast(DoubleType)
            * (log(col("c_sw")) - log(col("c_w"))), 6)
          .cast(DecimalType(26, 6))).as("__num"))
    // grand total over the source-count-sized frame (dozens of rows)
    g.withColumn("__total", sum("c_s").over(Window.partitionBy(lit(1))))
      .select(col("source"), col("c_s").cast(LongType).as("n_tokens"),
        round(col("__num").cast(DoubleType) / col("c_s")
          - log(col("c_s")) + log(col("__total")), 6).as("kl"))
  }

  private val sourceKlQ: Q = (s, dir) =>
    sourceKl(Tables(s, dir).documents, "source", "text").orderBy("source")

  /** Per-doc out-of-vocabulary ratio against the corpus top-`vocabSize`
    * tokens — the tokenizer-coverage signal of a curation pipeline (a doc
    * whose tokens mostly fall outside the working vocabulary is noise,
    * another language, or mojibake, and will tokenize into expensive
    * byte-fallback sequences). Complements [[graft.operators.Dedup
    * .noveltyScore]], which asks "how much of this doc is UNSEEN" at the
    * shingle level; this asks "how much falls outside the HEAD of the
    * token distribution".
    *
    * Shape: one token-keyed counting aggregate builds the frequency
    * table (vocabulary-sized, ≪ corpus); the top-K cut is a rank over
    * that aggregate; the K-row vocab then BROADCASTS back onto the token
    * stream — the corpus never shuffles for membership. */
  def oovRatio(docs: DataFrame, idCol: String, textCol: String,
               vocabSize: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    // top-K cut as orderBy+limit: plans as TakeOrderedAndProject (per-
    // partition partial top-K, no single-partition rank window) — the
    // same deterministic head because the (count desc, token asc) order
    // is total
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("__in"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(when(col("__in").isNull, 1.0).otherwise(0.0))
          / count(lit(1)), 6).as("oov_ratio"))
  }

  private val oovRatioQ: Q = (s, dir) =>
    oovRatio(Tables(s, dir).documents, "doc_id", "text", 200)
      .orderBy("doc_id")

  /** DuckDB SQL twin of [[compositeQuality]] over a column named `text` —
    * shared by the quality-prune oracle and the corpus-curation oracle so
    * the score can never drift between them. */
  def compositeQualitySql: String =
    s"""round(least(CAST(len(string_split(text, ' ')) AS DOUBLE)
       |            / 100.0, 1.0) * 0.5 +
       |      least(CAST(len(list_filter(string_split(text, ' '),
       |        t -> t IN ${vocabSql(langMarkers.toMap.apply("en"))}))
       |        AS DOUBLE) / len(string_split(text, ' ')) * 5.0,
       |        0.5), 6)""".stripMargin

  private def vocabSql(vocab: Seq[String]): String =
    vocab.map(w => s"'$w'").mkString("(", ",", ")")

  private val langScoreSql: String = langMarkers.map { case (lang, vocab) =>
    s"len(list_filter(string_split(text, ' '), t -> t IN ${vocabSql(vocab)})) AS s_$lang"
  }.mkString(", ")

  // argmax with the same first-wins tiebreak as langId()
  private val langCaseSql: String = {
    val langs = langMarkers.map(_._1)
    val cases = langs.zipWithIndex.dropRight(1).map { case (l, i) =>
      val rest = langs.drop(i + 1).map("s_" + _).mkString(", ")
      s"WHEN s_$l >= greatest($rest) THEN '$l'"
    }.mkString(" ")
    s"CASE $cases ELSE '${langs.last}' END"
  }

  val entries: Seq[Entry] = Seq(
    Entry("text_bpe_train", bpeTrainQ, Some(bpeOracleSql(BpeMerges, BpePasses)), headline = true),
    // bucket address and sign both come from md5 — the engine-neutral
    // content hash both engines compute identically
    Entry("text_feature_hashing", featureHashQ, Some(
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5(token), 1, 8))::BIGINT % 64 AS bucket,
        |         CASE WHEN substr(md5(token), 9, 1) IN
        |                   ('0','1','2','3','4','5','6','7')
        |              THEN 1 ELSE -1 END AS sign
        |  FROM tok)
        |SELECT doc_id, bucket, count(*) AS weight,
        |       CAST(sum(sign) AS BIGINT) AS signed_weight
        |FROM h GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin), headline = true),
    // per-token log-score rounds to 6, per-doc sum rides exact DECIMAL,
    // one division per doc (the text_source_kl contract)
    Entry("text_lm_bigram_score", bigramLmQ, Some(
      """WITH tok AS (
        |  SELECT doc_id, unnest(sp) AS token,
        |         generate_subscripts(sp, 1) AS pos
        |  FROM (SELECT doc_id, string_split(text, ' ') AS sp
        |        FROM documents)),
        |rtok AS (
        |  SELECT doc_id, unnest(sp) AS token,
        |         generate_subscripts(sp, 1) AS pos
        |  FROM (SELECT doc_id, string_split(text, ' ') AS sp
        |        FROM documents WHERE source = 'src0')),
        |uni AS (SELECT token, count(*) AS uc FROM rtok GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rtok),
        |bi AS (
        |  SELECT prev, token, count(*) AS bc
        |  FROM (SELECT token, lag(token) OVER (PARTITION BY doc_id
        |                                       ORDER BY pos) AS prev
        |        FROM rtok)
        |  WHERE prev IS NOT NULL GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_id, token,
        |         lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM tok),
        |scored AS (
        |  SELECT p.doc_id,
        |         round(ln(CASE WHEN b.bc IS NOT NULL
        |                       THEN CAST(b.bc AS DOUBLE) / pu.uc
        |                       WHEN tu.uc IS NOT NULL
        |                       THEN 0.4 * CAST(tu.uc AS DOUBLE) / tot.n
        |                       ELSE 0.4 * CAST(1 AS DOUBLE) / tot.n
        |                  END), 6) AS lp
        |  FROM pairs p
        |  LEFT JOIN bi b ON p.prev = b.prev AND p.token = b.token
        |  LEFT JOIN uni pu ON p.prev = pu.token
        |  LEFT JOIN uni tu ON p.token = tu.token
        |  CROSS JOIN tot
        |  WHERE p.prev IS NOT NULL)
        |SELECT doc_id, count(*) AS n_scored,
        |       round(CAST(sum(CAST(lp AS DECIMAL(18,6))) AS DOUBLE)
        |             / count(*), 6) AS avg_logprob
        |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin), headline = true),
    // closed-form OLS on ln/ln moments; one CASE-gated division per output
    Entry("text_zipf_fit", zipfQ, Some(
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tf AS (SELECT source, token, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |tot AS (
        |  SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |         count(*) AS vocab
        |  FROM tf GROUP BY 1),
        |rk AS (
        |  SELECT source, cnt,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY cnt DESC, token) AS rank
        |  FROM tf),
        |xy AS (
        |  SELECT source, ln(CAST(rank AS DOUBLE)) AS x,
        |         ln(CAST(cnt AS DOUBLE)) AS y
        |  FROM rk WHERE rank <= 100),
        |fit AS (
        |  SELECT source, count(*) AS n_terms,
        |         sum(x) AS sx, sum(y) AS sy,
        |         sum(x * x) AS sxx, sum(x * y) AS sxy
        |  FROM xy GROUP BY 1),
        |s AS (
        |  SELECT source, n_terms, sx, sy,
        |         n_terms * sxx - sx * sx AS den,
        |         n_terms * sxy - sx * sy AS num
        |  FROM fit)
        |SELECT s.source, t.n_tokens, t.vocab, s.n_terms,
        |       round(CASE WHEN den > 0 THEN num / den END, 6) AS zipf_slope,
        |       round(CASE WHEN den > 0
        |                  THEN (sy - (num / den) * sx) / n_terms END, 6)
        |         AS zipf_intercept
        |FROM s JOIN tot t USING (source)
        |ORDER BY source""".stripMargin), headline = true),
    Entry("text_oov_ratio", oovRatioQ, Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |vc AS (SELECT tok, count(*) AS n FROM toks GROUP BY 1),
        |vocab AS (
        |  SELECT tok FROM (
        |    SELECT tok, row_number() OVER (ORDER BY n DESC, tok) AS rk FROM vc)
        |  WHERE rk <= 200)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |       round(sum(CASE WHEN v.tok IS NULL THEN 1.0 ELSE 0.0 END)
        |             / count(*), 6) AS oov_ratio
        |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        |GROUP BY 1 ORDER BY doc_id""".stripMargin), headline = true),
    Entry("text_token_stats", tokenStats, Some(
      """SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
        |       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |       round(CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS DOUBLE)
        |             / len(string_split(text, ' ')), 4) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin)),
    Entry("text_quality_score", qualityScore, Some(
      s"""WITH t AS (
         |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         |         len(list_filter(string_split(text, ' '),
         |             t -> t IN ${vocabSql(langMarkers.toMap.apply("en"))})) AS stop_hits,
         |         length(regexp_replace(text, '[^0-9]', '', 'g')) AS digit_chars,
         |         length(text) AS n_chars
         |  FROM documents)
         |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
         |       round(CAST(stop_hits AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
         |       round(CAST(digit_chars AS DOUBLE) / n_chars, 6) AS digit_ratio,
         |       round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5 +
         |             least(CAST(stop_hits AS DOUBLE) / n_tokens * 5.0, 0.5), 6) AS quality
         |FROM t ORDER BY doc_id""".stripMargin), headline = true),
    Entry("text_fingerprint", fingerprintQ, Some(
      """SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)),
    Entry("text_lang_id", langIdQ, Some(
      s"""WITH s AS (SELECT doc_id, lang, $langScoreSql FROM documents)
         |SELECT doc_id, lang, $langCaseSql AS lang_pred
         |FROM s ORDER BY doc_id""".stripMargin), headline = true),
    Entry("text_bpe_tokens", bpeTokensQ, Some(
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS INT) AS n_words,
        |       CAST(len(regexp_extract_all(text, '[a-z]{1,4}|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_bpe_est
        |FROM documents ORDER BY doc_id""".stripMargin)),
    Entry("text_heavy_hitters", heavyHittersQ, Some(
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents)
        |SELECT token, count(*) AS df FROM tok
        |GROUP BY token
        |HAVING count(*) >= 0.2 * (SELECT count(*) FROM documents)
        |ORDER BY df DESC, token""".stripMargin), headline = true),
    Entry("text_tfidf_topk", tfidfQ, Some(
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, token,
        |         round(tf * ln(CAST(n.n AS DOUBLE) / df), 4) AS tfidf
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, token, tfidf,
        |         CAST(row_number() OVER (PARTITION BY doc_id
        |           ORDER BY tfidf DESC, token) AS INT) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, token, tfidf
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin), headline = true),
    Entry("text_ngram_heavy_hitters", ngramHHQ, Some(
      """WITH tok AS (
        |  SELECT string_split(text, ' ') AS ts FROM documents),
        |grams AS (
        |  SELECT unnest(list_distinct(list_transform(range(1, len(ts) - 3),
        |           i -> array_to_string(ts[i:i+4], ' ')))) AS ngram
        |  FROM tok WHERE len(ts) >= 5)
        |SELECT ngram, count(*) AS df FROM grams
        |GROUP BY ngram HAVING count(*) >= 2
        |ORDER BY df DESC, ngram""".stripMargin), headline = true),
    Entry("text_pmi_pairs", pmiQ, Some(
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents),
        |dfreq AS (SELECT tok, count(*) AS df FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |pairs AS (
        |  SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS df_ab
        |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |scored AS (
        |  SELECT tok_a, tok_b, df_ab,
        |         round(ln(CAST(df_ab AS DOUBLE) * n.n / (da.df * db.df)), 4)
        |           AS pmi
        |  FROM pairs
        |  JOIN dfreq da ON da.tok = tok_a
        |  JOIN dfreq db ON db.tok = tok_b
        |  CROSS JOIN n)
        |SELECT tok_a, tok_b, df_ab, pmi FROM scored
        |ORDER BY pmi DESC, tok_a, tok_b LIMIT 20""".stripMargin), headline = true),
    Entry("text_bm25_topk", bm25Q, Some(
      """WITH base AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |         unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) AS n, avg(len(string_split(text, ' '))) AS avgdl
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, dl, token, count(*) AS tf FROM base
        |  WHERE token IN ('hash', 'join', 'vector') GROUP BY 1, 2, 3),
        |wdf AS (
        |  SELECT *, count(*) OVER (PARTITION BY token) AS df FROM tf),
        |scored AS (
        |  SELECT doc_id,
        |         round(sum(ln((n - df + 0.5) / (df + 0.5) + 1.0)
        |           * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4)
        |           AS score
        |  FROM wdf CROSS JOIN stats GROUP BY doc_id),
        |ranked AS (
        |  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
        |           AS rank, doc_id, score
        |  FROM scored)
        |SELECT rank, doc_id, score FROM ranked
        |WHERE rank <= 10 ORDER BY rank""".stripMargin), headline = true),
    // rotl(acc,5) in HUGEINT: (acc*32 mod 2^64) + (acc div 2^59) — the two
    // terms occupy disjoint bit ranges, so + == |; DuckDB's << would raise
    // on overflow, multiplication in HUGEINT cannot. Signed conversion as
    // in the simhash oracle.
    Entry("text_rolling_hash", rollingHashQ, Some(
      """WITH u AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS UBIGINT),
        |        list_transform(string_split(text, ' '),
        |                       t -> md5_number_upper(t))),
        |      (acc, h) -> xor(CAST(
        |        acc::HUGEINT * 32 % 18446744073709551616::HUGEINT +
        |        acc::HUGEINT // 576460752303423488::HUGEINT AS UBIGINT), h)) AS s
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
        |                 THEN s::HUGEINT - 18446744073709551616::HUGEINT
        |                 ELSE s::HUGEINT END AS BIGINT) AS rolling_fp
        |FROM u ORDER BY doc_id""".stripMargin)),
    Entry("text_normalize", normalizeQ, Some(
      """SELECT doc_id,
        |       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |                           ' +', ' ', 'g')) AS norm_text
        |FROM documents ORDER BY doc_id""".stripMargin)),
    Entry("text_bigram_freq", bigramQ, Some(
      """WITH tok AS (
        |  SELECT string_split(text, ' ') AS ts FROM documents),
        |grams AS (
        |  SELECT unnest(list_transform(range(1, len(ts)),
        |                               i -> ts[i] || ' ' || ts[i+1])) AS bigram
        |  FROM tok WHERE len(ts) >= 2)
        |SELECT bigram, count(*) AS n FROM grams
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin), headline = true),
    Entry("text_gopher_rules", gopherQ, Some(
      s"""WITH t AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents),
         |s AS (
         |  SELECT doc_id, CAST(len(ts) AS INT) AS n_words,
         |    round(CAST(list_sum(list_transform(ts, t -> length(t))) AS DOUBLE)
         |          / len(ts), 4) AS mean_word_len,
         |    round((CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE) +
         |           CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3)
         |          / len(ts), 6) AS symbol_ratio,
         |    round(CAST(len(list_filter(ts, t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE)
         |          / len(ts), 6) AS alpha_word_frac,
         |    CAST(len(list_intersect(ts, [${gopherStopwords.map(w => s"'$w'").mkString(",")}])) AS INT) AS stop_hits
         |  FROM t)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_frac, stop_hits,
         |  ((n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
         |   AND symbol_ratio < 0.1 AND alpha_word_frac > 0.8 AND stop_hits >= 2) AS keep
         |FROM s ORDER BY doc_id""".stripMargin), headline = true),
    Entry("text_repetition", repetitionQ, Some(
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
        |words AS (
        |  SELECT doc_id,
        |    round(CAST(max(tf) AS DOUBLE) / CAST(sum(tf) AS DOUBLE), 6) AS top_word_frac,
        |    round(CAST(count(*) AS DOUBLE) / CAST(sum(tf) AS DOUBLE), 6) AS distinct_word_frac
        |  FROM tf GROUP BY 1),
        |g AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ts)),
        |                                       i -> ts[i] || ' ' || ts[i+1])) AS bg
        |  FROM g WHERE len(ts) >= 2),
        |bf AS (SELECT doc_id, bg, count(*) AS bf FROM grams GROUP BY 1, 2),
        |bstat AS (
        |  SELECT doc_id,
        |    round(CAST(max(bf) AS DOUBLE) / CAST(sum(bf) AS DOUBLE), 6) AS top_bigram_frac
        |  FROM bf GROUP BY 1)
        |SELECT w.doc_id, w.top_word_frac, w.distinct_word_frac,
        |       coalesce(b.top_bigram_frac, 0.0) AS top_bigram_frac
        |FROM words w LEFT JOIN bstat b USING (doc_id) ORDER BY w.doc_id""".stripMargin),
      headline = true),
    Entry("text_dup_ngrams", dupNgramQ, Some(
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ts) - 1),
        |           i -> array_to_string(ts[i:i+2], ' '))) AS gram
        |  FROM t WHERE len(ts) >= 3),
        |cnt AS (SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2),
        |per AS (
        |  SELECT doc_id, sum(c) AS total,
        |         sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup,
        |         sum(length(gram) * c) AS chars,
        |         sum(CASE WHEN c >= 2 THEN length(gram) * c ELSE 0 END) AS dupchars
        |  FROM cnt GROUP BY 1)
        |SELECT doc_id,
        |       CAST(coalesce(total, 0) AS BIGINT) AS n_grams,
        |       coalesce(round(CAST(dup AS DOUBLE) / total, 6), 0.0) AS dup_ngram_frac,
        |       coalesce(round(CAST(dupchars AS DOUBLE) / chars, 6), 0.0) AS dup_char_frac
        |FROM documents LEFT JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin)),
    // zipped unnests (DuckDB aligns parallel unnests); UBIGINT % m equals
    // Spark's pmod(signed, m) because 2^64 ≡ 0 (mod m) for the graded m
    Entry("text_cdc_chunks", cdcChunksQ, Some(
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos,
        |         unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, pos, tok,
        |         CASE WHEN md5_number_upper(tok) % 8 = 0 THEN 1 ELSE 0 END AS b
        |  FROM tok),
        |c AS (
        |  SELECT doc_id, pos, tok,
        |         coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS chunk_id
        |  FROM f)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |       count(*) AS n_tokens,
        |       md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
        |FROM c GROUP BY 1, 2 ORDER BY doc_id, chunk_id""".stripMargin)),
    Entry("text_pii_scrub", piiScrubQ, Some {
      val Seq((email, er), (intl, pr), (dashed, _), (num, nr)) = piiPatterns
      s"""SELECT doc_id,
         |       regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |         text, '$email', '$er', 'g'),
         |         '$intl', '$pr', 'g'),
         |         '$dashed', '$pr', 'g'),
         |         '$num', '$nr', 'g') AS scrubbed,
         |       CAST(len(regexp_extract_all(text, '$email')) AS INT) AS n_emails,
         |       CAST(len(regexp_extract_all(text, '$intl')) +
         |            len(regexp_extract_all(text, '$dashed')) AS INT) AS n_phones
         |FROM documents ORDER BY doc_id""".stripMargin
    }, headline = true),
    Entry("text_hash_split", hashSplitQ, Some(
      """SELECT doc_id,
        |       CASE WHEN md5_number_upper(CAST(doc_id AS VARCHAR)) % 4096 < 3277
        |            THEN 'train'
        |            WHEN md5_number_upper(CAST(doc_id AS VARCHAR)) % 4096 < 3687
        |            THEN 'val'
        |            ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // offsets step by size-overlap=90; a trailing chunk of length <= overlap
    // is dropped (wholly contained in its predecessor)
    Entry("text_chunking", chunkQ, Some(
      """SELECT d.doc_id, off // 90 AS chunk_id, off AS chunk_start,
        |       substring(d.text, CAST(off + 1 AS INT), 120) AS chunk
        |FROM documents d, unnest(generate_series(0, d.n_chars - 1, 90)) AS t(off)
        |WHERE off = 0 OR d.n_chars - off > 30
        |ORDER BY d.doc_id, chunk_id""".stripMargin), headline = true),
    // each -p ln p term rounds to 6 before a DECIMAL(20,6) sum (lm_score rule)
    Entry("text_source_entropy", entropyQ, Some(
      """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word
        |           FROM documents),
        |     c AS (SELECT source, word, count(*) AS c FROM w GROUP BY 1, 2),
        |     t AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot,
        |                  count(*) AS n_vocab
        |           FROM c GROUP BY 1)
        |SELECT c.source, max(t.tot) AS n_tokens, max(t.n_vocab) AS n_vocab,
        |       round(CAST(sum(CAST(round(-(CAST(c.c AS DOUBLE) / t.tot)
        |                                 * ln(CAST(c.c AS DOUBLE) / t.tot), 6)
        |                           AS DECIMAL(20,6))) AS DOUBLE), 6) AS entropy
        |FROM c JOIN t USING (source)
        |GROUP BY c.source ORDER BY c.source""".stripMargin)),
    // regrouped form KL_s = num/c_s - ln c_s + ln T: each c_sw*(ln c_sw -
    // ln c_w) term rounds to 6 before a DECIMAL(26,6) sum (sourceKl rule)
    Entry("text_source_kl", sourceKlQ, Some(
      """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word
        |           FROM documents),
        |     sw AS (SELECT source, word, count(*) AS c_sw FROM w GROUP BY 1, 2),
        |     ww AS (SELECT source, c_sw,
        |                   sum(c_sw) OVER (PARTITION BY word) AS c_w
        |            FROM sw),
        |     g AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS c_s,
        |                  sum(CAST(round(CAST(c_sw AS DOUBLE)
        |                        * (ln(CAST(c_sw AS DOUBLE))
        |                           - ln(CAST(c_w AS DOUBLE))), 6)
        |                      AS DECIMAL(26,6))) AS num
        |           FROM ww GROUP BY 1),
        |     t AS (SELECT CAST(sum(c_s) AS BIGINT) AS total FROM g)
        |SELECT source, c_s AS n_tokens,
        |       round(CAST(num AS DOUBLE) / c_s
        |             - ln(CAST(c_s AS DOUBLE))
        |             + ln(CAST(total AS DOUBLE)), 6) AS kl
        |FROM g, t ORDER BY source""".stripMargin), headline = true),
    // each ln rounds to 6 before a DECIMAL(20,6) sum -> order/ulp-stable mean
    Entry("text_lm_score", lmScoreQ, Some(
      """WITH g AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |db AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ts)),
        |                                       i -> ts[i] || ' ' || ts[i+1])) AS bigram
        |  FROM g WHERE len(ts) >= 2),
        |dbw AS (SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS w1 FROM db),
        |c2 AS (SELECT bigram, count(*) AS c2 FROM dbw GROUP BY 1),
        |c1 AS (SELECT w1, count(*) AS c1 FROM dbw GROUP BY 1),
        |lp AS (
        |  SELECT doc_id,
        |         CAST(round(ln(CAST(c2.c2 AS DOUBLE) / c1.c1), 6)
        |              AS DECIMAL(20,6)) AS lp
        |  FROM dbw JOIN c2 USING (bigram) JOIN c1 USING (w1))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS lm_score
        |FROM lp GROUP BY 1 ORDER BY doc_id""".stripMargin), headline = true),
    Entry("text_weighted_sample", weightedSampleQ, Some(
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total, count(*) AS k FROM per),
        |w AS (
        |  SELECT source,
        |         round(least(1.0, (CAST(total AS DOUBLE) / k) / n_tokens), 6) AS weight
        |  FROM per, tot)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN w USING (source)
        |WHERE md5_number_upper(CAST(d.doc_id AS VARCHAR)) % 4096 < weight * 4096
        |ORDER BY doc_id""".stripMargin), headline = true),
    Entry("text_encoding_stats", mojibakeQ, Some(
      """SELECT doc_id, lang,
        |       CAST(len(regexp_extract_all(text, '�')) AS INT) AS n_replacement,
        |       CAST(len(regexp_extract_all(text,
        |         '[\x00-\x08\x0b\x0c\x0e-\x1f]')) AS INT) AS n_control,
        |       round(CAST(len(regexp_extract_all(text, '[^\x00-\x7f]')) AS DOUBLE)
        |             / length(text), 6) AS non_ascii_ratio
        |FROM documents ORDER BY doc_id""".stripMargin)),
    Entry("text_stopword_strip", stopStripQ, Some {
      val en = vocabSql(langMarkers.toMap.apply("en"))
      s"""SELECT doc_id,
         |       array_to_string(list_filter(string_split(text, ' '),
         |                                   t -> NOT t IN $en), ' ') AS stripped
         |FROM documents ORDER BY doc_id""".stripMargin
    }),
    Entry("text_domain_cap", domainCapQ, Some(
      """WITH r AS (
        |  SELECT doc_id, source,
        |         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
        |              AS INT) AS rk
        |  FROM documents)
        |SELECT doc_id, source, rk FROM r
        |WHERE rk <= 10 ORDER BY source, rk""".stripMargin)),
    Entry("text_mix_budget", mixBudgetQ, Some(
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, n_tokens,
        |         coalesce(sum(n_tokens) OVER (
        |           PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS cum_before
        |  FROM t)
        |SELECT doc_id, source, n_tokens FROM r
        |WHERE cum_before < 2000 ORDER BY doc_id""".stripMargin), headline = true),
    Entry("text_quality_prune", qualityPruneQ, Some(
      s"""WITH q AS (
         |  SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |         $compositeQualitySql AS quality
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, quality, n_tokens,
         |         coalesce(sum(n_tokens) OVER (
         |           ORDER BY quality DESC, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS cum_before
         |  FROM q)
         |SELECT doc_id, quality, n_tokens FROM r
         |WHERE cum_before < 8000 ORDER BY doc_id""".stripMargin), headline = true),
    Entry("text_seq_packing", seqPackQ, Some(
      s"""WITH t AS (
         |  SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |         CAST(sum(n_tokens) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) - n_tokens AS start
         |  FROM t)
         |SELECT doc_id, n_tokens,
         |       start // $SeqBudget AS seq_id,
         |       start % $SeqBudget AS offset
         |FROM c ORDER BY doc_id""".stripMargin), headline = true),
    Entry("text_source_mix", sourceMixQ, Some(
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total, count(*) AS k FROM per)
        |SELECT source, n_docs, n_tokens,
        |       round(CAST(n_tokens AS DOUBLE) / total, 6) AS share,
        |       round(least(1.0, (CAST(total AS DOUBLE) / k) / n_tokens), 6) AS weight
        |FROM per, tot ORDER BY source""".stripMargin)),
    // p^alpha rounds to 6 BEFORE the DECIMAL normalization sum (pow is the
    // one ulp-unstable step); everything after is identical-double math
    Entry("text_mix_temperature", temperatureMixQ, Some(
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM per),
        |a AS (
        |  SELECT source, n_docs, n_tokens,
        |         CAST(n_tokens AS DOUBLE) / total AS p,
        |         round(pow(CAST(n_tokens AS DOUBLE) / total,
        |                   CAST(0.5 AS DOUBLE)), 6) AS qu
        |  FROM per, tot),
        |s AS (
        |  SELECT CAST(sum(CAST(qu AS DECIMAL(18,6))) AS DOUBLE) AS qsum
        |  FROM a)
        |SELECT source, n_docs, n_tokens, round(p, 6) AS share,
        |       round(qu / qsum, 6) AS temp_weight,
        |       round(qu / qsum / p, 6) AS sample_factor
        |FROM a, s ORDER BY source""".stripMargin), headline = true),
  )
}
