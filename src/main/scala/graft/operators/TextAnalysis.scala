package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, shingling, quality scoring, language-ID heuristics and
  * document fingerprinting — all as pure `Column` expressions so they stay
  * inside whole-stage codegen (no UDFs, no driver-side loops) and scale
  * linearly with the corpus.
  *
  * Semantics are chosen to be expressible in ANSI SQL as well, so every
  * operator's query carries a DuckDB oracle in its
  * [[graft.SparkEntry.queries]] entry.
  */
object TextAnalysis {

  /** Whitespace tokenization (single-space convention of the corpus). */
  def words(text: Column): Column = split(text, " ")

  /** The shared native tally struct behind the scalar kernels below —
    * ALWAYS instantiated with the canonical lexicons so every kernel
    * column over the same text canonicalizes to the SAME expression and
    * whole-stage codegen's subexpression elimination runs the byte-walk
    * once per row however many kernels a projection composes.
    */
  private def tallies(text: Column): Column =
    graft.functions.TextFunctions.profile_tallies(text, Stopwords, LangMarkers)

  /** Whitespace token count. Native ([[graft.functions.TokenCount]]):
    * the composed `size(split(text, " "))` runs the regex engine and
    * materializes the token array just to take its length.
    */
  def tokenCount(text: Column): Column =
    graft.functions.TextFunctions.token_count(text)

  /** Reference composed formulation of [[tokenCount]] (parity specs). */
  private[operators] def tokenCountComposed(text: Column): Column =
    size(words(text)).cast("long")

  /** BPE-ish regex token count: runs of letters, runs of digits, or a single
    * non-alphanumeric non-space char each count as one token. Native — the
    * `regexp_extract_all` spelling materializes every match into an array;
    * the tally kernel counts run boundaries in the same byte-walk that
    * serves the other kernels.
    */
  def regexTokenCount(text: Column): Column = tallies(text)("rtok")

  /** Reference composed formulation of [[regexTokenCount]] (parity specs). */
  private[operators] def regexTokenCountComposed(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0))).cast("long")

  /** Distinct k-word shingles (n-grams) of a document, as an array column.
    * Documents shorter than k words yield an empty array. Native codegen'd
    * expression ([[graft.functions.ShingleArray]]) — the composed
    * `transform`/`slice` HOF formulation below is kept for the equivalence
    * spec; HOF lambdas evaluate interpreted and dominated dedup profiles.
    */
  def shingles(text: Column, k: Int): Column =
    graft.functions.TextFunctions.shingle_array(text, k)

  /** All k-shingles including duplicates (repetition analysis). */
  def shinglesAll(text: Column, k: Int): Column =
    graft.functions.TextFunctions.shingle_array_all(text, k)

  /** Per-document k-gram repetition stats as ONE per-row kernel:
    * struct(n_grams, top_count) where top_count is the highest
    * occurrence count of any single k-gram within the document —
    * zero exchanges, embarrassingly parallel (the r12 rewrite of
    * text_repetition's corpus-wide (doc_id, gram) shuffle, which carried
    * every 2-gram STRING through two exchanges to answer a question that
    * never crosses documents). Native codegen'd kernel
    * ([[graft.functions.TextOps.repetitionStats]]): one compiled call
    * per row; the HOF spelling below ran an interpreted Catalyst lambda
    * per GRAM and measured 57.2 s at x1000 vs the kernel's number (see
    * BENCH_SCALE_X1000) — the per-element dispatch was the query.
    * Per-task state is one document's gram map — the same bound as every
    * other per-doc kernel here. Docs with fewer than k words yield
    * n_grams 0 (null text: null), which callers filter exactly like the
    * old explode() dropped them.
    */
  def repetitionStats(text: Column, k: Int): Column =
    graft.functions.TextFunctions.repetition_stats(text, k)

  /** Composed parity twin of [[repetitionStats]] (sorted gram array +
    * HOF run-length fold) — kept for the native-vs-composed spec.
    */
  def repetitionStatsComposed(text: Column, k: Int): Column = {
    val sorted = sort_array(shinglesAll(text, k))
    val st = aggregate(sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(acc.getField("run") > 0L && acc.getField("prev") === x,
          acc.getField("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      })
    struct(size(sorted).cast("long").as("n_grams"),
      st.getField("best").as("top_count"))
  }

  /** Reference formulation of [[shingles]] via composed built-ins. */
  def shinglesComposed(text: Column, k: Int): Column = {
    val w = words(text)
    array_distinct(
      when(size(w) >= k,
        transform(sequence(lit(1), size(w) - (k - 1)),
          i => concat_ws(" ", slice(w, i, lit(k)))))
        .otherwise(array().cast("array<string>")))
  }

  /** Ratio of punctuation characters to total characters. Exact IEEE
    * division of two integer-valued counts — deterministic across engines.
    */
  def punctRatio(text: Column): Column = {
    val n = length(text)
    when(n > 0, tallies(text)("punct").cast("double") / n.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Reference composed formulation of [[punctRatio]] (parity specs). */
  private[operators] def punctRatioComposed(text: Column): Column = {
    val n = length(text)
    val punct = n - length(regexp_replace(text, "[^a-zA-Z0-9 ]", ""))
    when(n > 0, punct.cast("double") / n.cast("double")).otherwise(lit(0.0))
  }

  /** Stopword ratio over whitespace tokens (tiny English stopword list). */
  val Stopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is")

  def stopwordRatio(text: Column): Column = {
    val t = tallies(text)
    when(t("nw") > 0, t("stop").cast("double") / t("nw").cast("double"))
      .otherwise(lit(0.0))
  }

  /** Reference composed formulation of [[stopwordRatio]] (parity specs). */
  private[operators] def stopwordRatioComposed(text: Column): Column = {
    val w = words(text)
    val stop = filter(w, t => t.isin(Stopwords.map(lit): _*))
    when(size(w) > 0, size(stop).cast("double") / size(w).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Mean word length in characters. */
  def meanWordLen(text: Column): Column = {
    val t = tallies(text)
    when(t("nw") > 0, t("chars").cast("double") / t("nw").cast("double"))
      .otherwise(lit(0.0))
  }

  /** Reference composed formulation of [[meanWordLen]] (parity specs). */
  private[operators] def meanWordLenComposed(text: Column): Column = {
    val w = words(text)
    when(size(w) > 0,
      aggregate(w, lit(0L), (acc, t) => acc + length(t).cast("long")).cast("double")
        / size(w).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Composite quality score in [0,1]: length band + low punctuation +
    * a sane stopword ratio. Deterministic integer/exact-double arithmetic.
    */
  def qualityScore(text: Column): Column = {
    val lenOk = when(length(text).between(20, 100000), lit(0.4)).otherwise(lit(0.0))
    val punctOk = when(punctRatio(text) < 0.1, lit(0.3)).otherwise(lit(0.0))
    val stopOk = when(stopwordRatio(text).between(0.01, 0.6), lit(0.3)).otherwise(lit(0.0))
    lenOk + punctOk + stopOk
  }

  /** Reference composed formulation of [[qualityScore]] (parity specs). */
  private[operators] def qualityScoreComposed(text: Column): Column = {
    val lenOk = when(length(text).between(20, 100000), lit(0.4)).otherwise(lit(0.0))
    val punctOk = when(punctRatioComposed(text) < 0.1, lit(0.3)).otherwise(lit(0.0))
    val stopOk = when(stopwordRatioComposed(text).between(0.01, 0.6), lit(0.3)).otherwise(lit(0.0))
    lenOk + punctOk + stopOk
  }

  /** Marker-word language-ID heuristic: counts hits from small per-language
    * marker lexicons over whitespace tokens and takes the arg-max with a
    * deterministic preference order (en > es > fr > de > zh on ties).
    * A real system plugs in character-n-gram models; the operator shape —
    * per-row scoring, no shuffle — is the part that matters at scale.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "es" -> Seq("el", "la", "de", "que"),
    "fr" -> Seq("le", "la", "et", "les"),
    "de" -> Seq("der", "die", "und", "das"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4"))

  def langScore(text: Column, markers: Seq[String]): Column = {
    val w = words(text)
    size(filter(w, t => t.isin(markers.map(lit): _*))).cast("long")
  }

  def langId(text: Column): Column = {
    val scores = LangMarkers.map { case (l, m) => l -> langScore(text, m) }
    // arg-max with first-listed language winning ties
    scores.tail.foldLeft((when(lit(true), lit(scores.head._1)), scores.head._2)) {
      case ((bestLang, bestScore), (l, s)) =>
        (when(s > bestScore, lit(l)).otherwise(bestLang),
          greatest(s, bestScore))
    }._1
  }

  /** Character-n-gram language ID: counts occurrences of language-typical
    * trigrams (non-overlapping regex matches, identical semantics in the
    * SQL oracle) and takes the arg-max with the same deterministic tie
    * order as [[langId]]. The n-gram flavor degrades gracefully on
    * unsegmented text where word markers fail.
    */
  val CharNgramMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "ing", "and", "ion"),
    "es" -> Seq("que", "ado", "los", "cio"),
    "fr" -> Seq("les", "ent", "eur", "ais"),
    "de" -> Seq("der", "ein", "sch", "ung"),
    "zh" -> Seq("ng1", "ng4", "shi", "zh"))

  def charNgramScore(text: Column, ngrams: Seq[String]): Column =
    size(regexp_extract_all(lower(text), lit(ngrams.mkString("|")), lit(0))).cast("long")

  def langIdCharNgram(text: Column): Column = {
    val scores = CharNgramMarkers.map { case (l, m) => l -> charNgramScore(text, m) }
    scores.tail.foldLeft((when(lit(true), lit(scores.head._1)), scores.head._2)) {
      case ((bestLang, bestScore), (l, s)) =>
        (when(s > bestScore, lit(l)).otherwise(bestLang), greatest(s, bestScore))
    }._1
  }

  /** Gopher-style quality rules (Rae et al. 2021, §A1.1 style): each a
    * boolean flag plus the conjunction `keep`. Thresholds simplified but
    * the rule *shapes* (word count band, mean-word-length band, symbol
    * ratio, alpha-word fraction) match the published filters.
    */
  def gopherFlags(text: Column): Column = {
    val w = words(text)
    val nWords = size(w)
    val meanLen = meanWordLen(text)
    val alphaWords = size(filter(w, t => t.rlike("[a-zA-Z]")))
    val symbolRatio = punctRatio(text)
    val okWordCount = nWords.between(5, 100000)
    val okMeanLen = meanLen.between(2.0, 12.0)
    val okSymbols = symbolRatio < 0.2
    val okAlpha = when(nWords > 0,
      alphaWords.cast("double") / nWords.cast("double") >= 0.7).otherwise(lit(false))
    struct(
      okWordCount.as("ok_word_count"),
      okMeanLen.as("ok_mean_word_len"),
      okSymbols.as("ok_symbol_ratio"),
      okAlpha.as("ok_alpha_fraction"),
      (okWordCount && okMeanLen && okSymbols && okAlpha).as("keep"))
  }

  /** Content fingerprint: md5 of the normalized text (lowercased, punctuation
    * stripped, whitespace collapsed). Stable across engines: the native
    * single-pass kernel ([[graft.functions.NormalizeText]]) is byte-exact
    * with the regex chain the DuckDB oracle still runs — and ~10x cheaper
    * than Java regex on the Spark side, where this sits in the scan stage
    * of every fingerprint consumer.
    */
  def normalizedText(text: Column): Column =
    graft.functions.TextFunctions.normalize_text(text)

  def fingerprint(text: Column): Column = md5(normalizedText(text))

  /** Min-shingle fingerprint (single-permutation MinHash): the lexicographic
    * minimum md5 over the document's k-shingles — a locality-sensitive
    * document sketch usable for near-dup blocking.
    */
  def minShingleFingerprint(text: Column, k: Int): Column =
    array_min(transform(shingles(text, k), s => md5(s)))

  /** Train/eval contamination check — the n-gram overlap test run before
    * training so benchmark text is not silently memorized: for each train
    * doc, how many of its distinct k-shingles appear anywhere in the eval
    * set, and what share of the doc that is.
    *
    * Scale shape: the eval side's distinct shingles are tiny relative to
    * the corpus and broadcast, so this is one narrow pass over the train
    * shingle table + a map-side semi join — no corpus shuffle at all when
    * the (doc_id-partitioned) shingle explode feeds the count directly.
    */
  def contamination(train: DataFrame, eval: DataFrame, k: Int): DataFrame = {
    val trainSh = Dedup.shingleTable(train, k)
    val evalSh = Dedup.shingleTable(eval, k).select(col("s")).distinct()
    val hits = trainSh.join(broadcast(evalSh), Seq("s"))
      .groupBy("doc_id").agg(count(lit(1)).as("contaminated_ngrams"))
    contaminationReadout(trainSh, hits)
  }

  /** Serialized bloom filter over the eval set's distinct k-shingle
    * 64-bit hashes (`null` for an empty eval set) — build once, ship to
    * any batch filter or streaming guard
    * ([[graft.streaming.EventStreams.contaminationGuard]]). ~10 bits per
    * shingle at the default ~1% fpp; probing never misses a real member,
    * so a zero-hit document is PROVABLY clean.
    */
  def evalShingleBloom(eval: DataFrame, k: Int): Array[Byte] = {
    val evalSh = Dedup.shingleTable(eval, k).select(col("s")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try buildShingleBloom(evalSh)
    finally evalSh.unpersist(blocking = false)
  }

  /** Bloom build over an (already persisted) distinct-shingle frame —
    * the one block [[evalShingleBloom]] and [[contaminationBloom]] share.
    * The sizing `count` doubles as the cache fill; fpp degrades past the
    * estimate, so the filter is sized to the exact distinct cardinality.
    */
  private def buildShingleBloom(evalSh: DataFrame): Array[Byte] =
    evalSh.select(org.apache.spark.sql.GraftShims.bloomFilterAgg(
        xxhash64(col("s")), math.max(evalSh.count(), 1L)))
      .head.getAs[Array[Byte]](0)

  /** The per-doc totals/share read-out shared by [[contamination]] and
    * [[contaminationBloom]] — one place owns the output contract.
    */
  private def contaminationReadout(trainSh: DataFrame, hits: DataFrame): DataFrame =
    trainSh.groupBy("doc_id").agg(count(lit(1)).as("total_ngrams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("contaminated_ngrams"), lit(0L)).as("contaminated_ngrams"),
        col("total_ngrams"),
        (coalesce(col("contaminated_ngrams"), lit(0L)).cast("double") /
          col("total_ngrams").cast("double")).as("contaminated_share"))

  /** [[contamination]] with a bloom-filter pre-pass — the decontamination
    * shape for a LARGE eval suite. Plain contamination broadcasts the full
    * eval shingle-string set; at scale that build side is tens of bytes per
    * shingle. Here the eval side is first collapsed to a serialized bloom
    * filter over 64-bit shingle hashes (~10 bits per item, one tiny driver
    * collect), which prunes the corpus' shingle stream INSIDE the scan
    * stage via Catalyst's codegen'd `might_contain`; only the surviving
    * (hit + ~1% false-positive) shingles enter the exact string join, so
    * the join — left to Catalyst/AQE, broadcast at small scale, a
    * survivors-only shuffle at large — never sees the corpus. The exact
    * join makes the result byte-identical to [[contamination]]: bloom
    * false positives are verified away, never reported.
    *
    * SIZE-ADAPTIVE (same planner-statistics switch as
    * [[Sampling.stratified]]): the pre-pass pays two extra driver actions
    * (the sizing count and the bloom build) before the main join can even
    * start, so it only wins when the eval side is too large to broadcast
    * as plain shingle strings — measured 3x SLOWER than [[contamination]]
    * on a bench-scale eval slice. When Catalyst bounds the eval input
    * under `smallBytes` (a broadcast-comfortable side), this delegates to
    * the exact path outright; identical output either way, so the switch
    * is invisible to callers. Pass `smallBytes = 0` to pin the bloom path
    * (specs; corpora whose stats the optimizer cannot bound are already
    * treated as large).
    *
    * Lifecycle: the exact path is a lazy plan. The bloom path pins the
    * eval shingle set and frees it before returning, so its result comes
    * back persisted and filled; the caller releases it with
    * `unpersist()` / `clearCache()`.
    */
  def contaminationBloom(train: DataFrame, eval: DataFrame, k: Int,
                         smallBytes: Long = 64L << 20): DataFrame = {
    import org.apache.spark.sql.GraftShims
    if (AdaptiveGate.isSmall(eval, smallBytes))
      return contamination(train, eval, k)
    val trainSh = Dedup.shingleTable(train, k)
    // the eval shingle set is read three times (sizing count, bloom build,
    // exact-verify join) — persist it so the eval corpus is shingled and
    // distinct-shuffled ONCE, not per use; released before returning,
    // so the result is persisted and filled first.
    val evalSh = Dedup.shingleTable(eval, k).select(col("s")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val bloom = buildShingleBloom(evalSh)
      val pruned =
        if (bloom == null) trainSh.filter(lit(false)) // empty eval: no hits
        else trainSh.filter(GraftShims.bloomMightContain(lit(bloom), xxhash64(col("s"))))
      val hits = pruned.join(evalSh, Seq("s"))
        .groupBy("doc_id").agg(count(lit(1)).as("contaminated_ngrams"))
      val result = contaminationReadout(trainSh, hits)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      result.count() // the one action: the exact join reads the cached eval set
      result
    } finally evalSh.unpersist(blocking = false)
  }

  /** Hashed-feature bucket count of the [[qualityModelScore]] classifier. */
  val QualityModelBuckets = 256

  /** The classifier's weight vector, derived (not trained) so both engines
    * can re-create it bit-for-bit: weight(b) is the 32-bit md5 prefix of
    * `"w_<b>"` mapped affinely into [-1000, 1000] — kept as INTEGERS so
    * the per-document feature sum is exact in a long and the score's only
    * float ops are one division and one `exp`, independent of
    * accumulation order (the same determinism trick as [[graft.operators.Packing]]'s
    * integer prefix sums). A production system would load trained weights;
    * every plan property (narrow, codegen'd, no join) is identical.
    */
  val QualityModelWeights: IndexedSeq[Long] = (0 until QualityModelBuckets).map { b =>
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"w_$b".getBytes("UTF-8"))
    val h32 = d.take(4).foldLeft(0L)((acc, x) => (acc << 8) | (x & 0xffL))
    h32 % 2001L - 1000L
  }

  /** fastText-style linear quality-classifier INFERENCE over hashed
    * set-of-words features: each distinct token hashes to one of
    * [[QualityModelBuckets]] buckets (the hashing trick — collisions are
    * part of the model), the document's bucket weights are summed, and
    * the mean weight passes through a sigmoid. `round(…, 6)` is the
    * repo's cross-engine convention.
    *
    * Scale shape: a pure narrow projection — the token hashing rides the
    * fused 31-bit shingle kernel (k=1), the weight lookup is an
    * `element_at` into a 256-literal array, and no explode, join or
    * shuffle exists at any corpus size. This is why hashed linear models
    * are THE quality filter run over full crawls (fastText in CCNet,
    * DCLM): inference cost is one scan.
    */
  def qualityModelScore(text: Column): Column = {
    val hs = graft.functions.TextFunctions.shingle_hash31_array(text, 1)
    val w = array(QualityModelWeights.map(lit): _*)
    val s = aggregate(hs, lit(0L),
      (acc, h) => acc + element_at(w, (h % QualityModelBuckets).cast("int") + 1))
    val x = s.cast("double") / (lit(1000.0) * size(hs).cast("double"))
    round(lit(1.0) / (lit(1.0) + exp(-x)), 6)
  }

  /** Tokenizer-induction telemetry: the `topK` most frequent tokens with
    * their corpus counts and cumulative coverage share — the curve read
    * before sizing a vocabulary (how many types cover 95% of tokens).
    *
    * Scale shape: ONE map-side-combining aggregate over exploded tokens
    * (shuffle is vocabulary-sized, Zipf-bounded); the total rides the
    * same counts table as a 1-row broadcast. Only the top-`topK` slice —
    * bounded by the parameter, not the data — passes through the global
    * rank/cumsum window, so the single-partition window that makes naive
    * formulations a scale cliff here touches `topK` rows.
    */
  def vocabCoverage(docs: DataFrame, topK: Int): DataFrame = {
    require(topK > 0, "vocabCoverage: topK must be positive")
    val counts = docs.select(explode(words(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("__total"))
    val ord = Seq(col("cnt").desc, col("token").asc)
    val w = org.apache.spark.sql.expressions.Window.orderBy(ord: _*)
    counts.orderBy(ord: _*).limit(topK)
      .withColumn("rank", row_number().over(w).cast("long")) // BIGINT parity
      .withColumn("__cum", sum(col("cnt")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("token"), col("cnt"),
        round(col("__cum").cast("double") / col("__total").cast("double"), 6)
          .as("cum_share"))
  }

  /** Driver-memory bound for [[tokenEncode]]'s collected vocabulary — the
    * same bounded-collect contract as IVF's centroid pull: the result is
    * sized by the PARAMETER, never the data.
    */
  val MaxVocabSize: Int = 1 << 22

  /** Tokenize-to-ids — the encoding step between corpus cleaning and
    * sequence packing: each document's single-space tokens become a
    * token-id array against the corpus' own frequency-ranked vocabulary
    * (ids 1..vocabSize by count desc / token asc; out-of-vocab → 0).
    * Returns every column of `docs` plus `ids`, so downstream stages
    * (e.g. [[graft.operators.Packing.packMaterialize]]) can ride cheap
    * sibling columns instead of re-evaluating the encoder.
    *
    * Scale shape: the vocab build aggregates already-counted per-doc
    * (term, tf) pairs ([[graft.functions.TermCountArray]] — no raw-token
    * explode leaves the scan stage) and takes the top slice as a bounded
    * TakeOrdered (driver state ≤ vocabSize, fail-fast capped). Encoding is
    * a native expression ([[graft.functions.VocabEncode]]) with the vocab
    * riding the serialized plan — per-row hash lookups inside the scan
    * stage, ZERO corpus shuffles.
    */
  def tokenEncode(docs: DataFrame, vocabSize: Int): DataFrame = {
    require(vocabSize > 0 && vocabSize <= MaxVocabSize,
      s"tokenEncode: vocabSize must be in 1..$MaxVocabSize — the vocab is " +
        "collected to the driver (bounded by the parameter, not the data)")
    val vocab = docs
      .select(inline(graft.functions.TextFunctions.term_count_array(col("text"))))
      .groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(vocabSize)
      .select(col("term")).collect().map(_.getString(0)).toSeq
    docs.withColumn("ids",
      graft.functions.TextFunctions.vocab_encode(col("text"), vocab))
  }

  /** Fixed-size overlapping word-window chunks — the training-sample
    * construction step that turns variable-length documents into
    * model-sized pieces (the companion of [[graft.operators.Packing]],
    * which packs the OTHER direction: many short docs into one sequence).
    * Chunk starts are 0, stride, 2·stride, … with stride =
    * chunkSize − overlap, keeping every start that contributes at least
    * one new word (start < n − overlap; a document shorter than one chunk
    * yields exactly one chunk). The trailing chunk may be short; no
    * padding — padding is a tokenizer concern, not a corpus one.
    *
    * One narrow projection + generate: no shuffle, no state — at corpus
    * scale each file split chunks independently inside the scan stage.
    */
  def chunkWords(docs: DataFrame, chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > 0, "chunkWords: chunkSize must be positive")
    require(overlap >= 0 && overlap < chunkSize,
      "chunkWords: overlap must satisfy 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        posexplode(sequence(lit(0),
          greatest(size(col("w")) - overlap - 1, lit(0)), lit(stride))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        least(lit(chunkSize), size(col("w")) - col("col")).cast("long").as("n_words"),
        array_join(slice(col("w"), col("col") + 1, lit(chunkSize)), " ").as("chunk_text"))
  }

  /** Retention curve of a quality-threshold sweep: for each candidate
    * threshold, how many documents and how many tokens survive a
    * `quality_score >= t` filter — the calibration read-out a curation
    * pipeline consults before committing to a cut-off.
    *
    * Scale shape: ONE narrow aggregation collapses the corpus to its
    * distinct score values (the composite score takes ≤ 8 values), then
    * the score×threshold expansion happens on that tiny aggregate — the
    * corpus is never exploded by the grid width.
    */
  def qualityThresholdSweep(docs: DataFrame, gridSteps: Int = 10): DataFrame = {
    require(gridSteps > 0, "qualityThresholdSweep: gridSteps must be positive")
    val byScore = docs
      .select(qualityScore(col("text")).as("q"), tokenCount(col("text")).as("nt"))
      .groupBy(col("q"))
      .agg(count(lit(1)).as("c"), sum(col("nt")).as("t"))
    val grid = docs.sparkSession.range(0, gridSteps + 1)
      .select((col("id").cast("double") / gridSteps.toDouble).as("threshold"))
    // LEFT join from the grid: a threshold no document reaches must still
    // report (t, 0, 0) — dropping it would hide exactly the cut-offs that
    // kill the corpus, the most important rows of a calibration read-out
    grid.join(broadcast(byScore), col("q") >= col("threshold"), "left")
      .groupBy(col("threshold"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_docs_kept"),
        coalesce(sum(col("t")), lit(0L)).as("n_tokens_kept"))
  }

  /** Top-k salient terms per document by a tf-idf-style score — the
    * keyword-extraction read-out (document tagging, index keys, topic
    * drift monitoring). The idf factor is the exact rational
    * (N+1)/(df+1) rather than its logarithm: same ranking monotonicity
    * (increasing in tf, decreasing in df), but every arithmetic step is a
    * single correctly-rounded IEEE operation, so the score is
    * bit-identical across engines — `ln` carries no such guarantee and
    * its last-ulp disagreements would break rank ties differently.
    * Ties break ascending by term for a fully deterministic list.
    *
    * Scale shape: one shuffle by (doc, term) for tf, one by term for df,
    * a broadcast of the 1-row corpus count, and the per-doc top-k window
    * partitioned by doc_id — no global sort, no driver state.
    */
  def keywordSalience(docs: DataFrame, topK: Int = 3,
                      smallBytes: Long = 1L << 30): DataFrame = {
    require(topK > 0, "keywordSalience: topK must be positive")
    // tf fused into the scan stage ([[graft.functions.TermCountArray]]):
    // term counting is per-row arithmetic, so the corpus-wide
    // explode→groupBy(doc, term) exchange disappears — only the counted
    // distinct (term, tf) pairs leave the stage.
    val tf = docs.select(col("doc_id"),
      inline(graft.functions.TextFunctions.term_count_array(col("text"))))
    val n = docs.agg(count(lit(1)).as("__n"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term").asc)
    def rank(scored: DataFrame): DataFrame = scored
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * (col("__n") + 1L) / (col("df") + 1L))
      .withColumn("rank", row_number().over(wDoc).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("score"))
    if (AdaptiveGate.isSmall(docs, smallBytes)) {
      // corpora whose df table fits an executor: broadcast it. The probe
      // side then runs scan → tokenize → join → partial top-k fused in ONE
      // stage with no corpus-wide exchange at all (WindowGroupLimit cuts
      // the per-doc window to ≤ topK rows per doc per task before its tiny
      // exchange); the df branch pays a second tokenize pass but its
      // exchange carries only partial-agg'd (term) rows. Measured against
      // a tokenize-once persisted-tf variant at x10: the cache write +
      // materialization barrier cost MORE than the saved tokenize pass —
      // full pipelining wins (1.30 s cached vs 0.96 s this shape).
      rank(tf.join(
        broadcast(tf.groupBy(col("term")).agg(count(lit(1)).as("df"))),
        Seq("term")))
    } else {
      // scale path (smallBytes = 0 pins it): no persisted corpus, df
      // skew-safely off a shared repartition(term) subtree; column pruning
      // pushes a term-only projection below the df branch's exchange
      // (defeating exchange reuse, but shipping ONE pruned column,
      // partial-agg'd — plan-audited), the join hash-hints on the same
      // key so the already-partitioned children add no third corpus
      // exchange ([[AdaptiveGate.hashHinted]]: past 256 MB of df-side
      // stats the hint yields to spillable sort-merge rather than a
      // non-spillable build). A per-term unbounded WINDOW would save the narrow
      // df exchange but buffer+sort every row of a hot term (a stopword ≈
      // one row per document) in a single window task — the hash join
      // streams the probe side instead.
      val tfByTerm = tf.repartition(col("term"))
      val dft = tfByTerm.groupBy(col("term")).agg(count(lit(1)).as("df"))
      rank(tfByTerm.join(AdaptiveGate.hashHinted(dft), Seq("term")))
    }
  }

  /** Full per-document text-statistics projection.
    *
    * Native-fused formulation: the composed spelling runs ~9 splits and
    * ~7 HOF passes per row; the r10 rewrite fused those into ONE
    * `aggregate` HOF pass — but HOF lambdas evaluate INTERPRETED (a
    * wrapper row per token, a struct allocation per token, linear `isin`
    * scans), and the x1000 steady pairing (r12: 360 s vs DuckDB 67 s =
    * 5.4x on a quiet host — the only adverse text-operator number on the
    * board) showed that interpretation tax IS the query at scale. Every
    * token- and char-level tally now comes from a single codegen'd
    * byte-walk ([[graft.functions.ProfileTallies]]): token count, token
    * chars, stopword and language-marker hits, the punctuation count
    * (formerly a regexp_replace pass) and the BPE-ish regex token count
    * (formerly a regexp_extract_all pass). Values are bit-identical to
    * the composed kernels — same token semantics (single-space split,
    * limit -1), same integer tallies, same IEEE divisions — pinned by
    * the [[profileComposed]] parity spec and the DuckDB oracle.
    */
  def profile(docs: DataFrame): DataFrame = {
    val tallied = docs
      .select(col("doc_id"), col("n_chars"), col("text"),
        graft.functions.TextFunctions.profile_tallies(
          col("text"), Stopwords, LangMarkers).as("__t"))
    val n = length(col("text"))
    val nw = col("__t")("nw")
    val punctRatioC =
      when(n > 0, col("__t")("punct").cast("double") / n.cast("double"))
        .otherwise(lit(0.0))
    val stopRatioC =
      when(nw > 0, col("__t")("stop").cast("double") / nw.cast("double"))
        .otherwise(lit(0.0))
    val langScores = LangMarkers.map { case (l, _) => l -> col("__t")(l) }
    val langPred = langScores.tail
      .foldLeft((when(lit(true), lit(langScores.head._1)), langScores.head._2)) {
        case ((bestLang, bestScore), (l, s)) =>
          (when(s > bestScore, lit(l)).otherwise(bestLang),
            greatest(s, bestScore))
      }._1
    tallied.select(
      col("doc_id"),
      col("n_chars"),
      nw.as("n_tokens"),
      col("__t")("rtok").as("n_regex_tokens"),
      punctRatioC.as("punct_ratio"),
      stopRatioC.as("stopword_ratio"),
      when(nw > 0, col("__t")("chars").cast("double") / nw.cast("double"))
        .otherwise(lit(0.0)).as("mean_word_len"),
      (when(n.between(20, 100000), lit(0.4)).otherwise(lit(0.0))
        + when(punctRatioC < 0.1, lit(0.3)).otherwise(lit(0.0))
        + when(stopRatioC.between(0.01, 0.6), lit(0.3)).otherwise(lit(0.0)))
        .as("quality_score"),
      langPred.as("lang_pred"),
      fingerprint(col("text")).as("fingerprint"))
  }

  /** Text near-dup pairs by bounded edit distance on normalized prefixes,
    * within exact-fingerprint-adjacent buckets (first 8 normalized chars):
    * `(doc_a, doc_b, edit_dist)` with `doc_a < doc_b`, `edit_dist <= 8`.
    * Backs the `text_edit_distance` query.
    *
    * Normalization runs over a bounded raw prefix, not the whole document:
    * the 32-char comparison prefix needs only the head, and at corpus scale
    * running the normalization kernel over full multi-KB docs is the
    * dominant cost. `bounded_levenshtein` returns the exact distance when
    * <= 8 and 9 otherwise, so the <= 8 filter equals filtering the exact
    * distance at a fraction of the DP cost.
    *
    * Two shapes behind the [[AdaptiveGate]] stats gate (r16):
    *
    *  - **Small corpora** (docs stats < `smallBytes`): a plain bucket
    *    self-join with the `doc_l < doc_r` cut. The whole pair mass is a
    *    few tens of thousands of DP calls, the planner broadcasts one
    *    side, and the query runs join-local with ZERO exchanges — no
    *    bucket-count subtree, no block explode, no repartition (the r15
    *    hash-block scaffolding cost ~0.25 s of pure stage floor at sf0.1
    *    for nothing; VERDICT r15 #2).
    *  - **At scale**: hash-block decomposition (r15). A naive bucket
    *    self-join is skew-fatal — a hot fingerprint bucket's pairs are
    *    quadratic IN ONE TASK (x10: one 1650-row bucket held 1.36M of
    *    2.15M pairs and serialized the 5 s DP stage on one core, which is
    *    also why the gate must flip to blocks well below x10 ≈ 8 MB of
    *    docs stats). Rows get a block id = pmod(xxhash64(doc_id), nblk)
    *    over a broadcast per-bucket count table, computed in the scan
    *    stage at full width (no window, no per-bucket clustering — the
    *    pre-r15 row_number window generated the hot bucket's 212M exploded
    *    left rows on ONE core, 145 s of the 340 s x1000 total); each left
    *    row joins its own and all later blocks, so every unordered pair is
    *    enumerated exactly once and a hot bucket spreads over ~nblk join
    *    keys. nblk is CAPPED at 512, bounding hot-key replication: the hot
    *    bucket's left explode drops 212M → 42M rows while its largest
    *    single join key (n²/nblk ≈ 53M pairs) stays far below a
    *    partition's share. The DP runs inside the join stage — byte-sparse
    *    but CPU-dense, hence the EXPLICIT cores-wide REPARTITION_BY_NUM
    *    (exempt from AQE's byte-based coalescing, which otherwise
    *    serialized this stage onto 4 of 32 cores).
    *
    * Orientation: hash blocks are not id-ordered, so cross-block pairs
    * (which meet exactly once, in arbitrary orientation) are kept whole
    * and normalized to (least, greatest); same-block pairs (which meet
    * twice) keep the `doc_l < doc_r` cut. The emitted set is identical to
    * the plain self-join's for ANY deterministic block assignment —
    * TedEquivalenceSpec pins all spellings row-identical in CI; the r16
    * TedLab runs re-pinned them by checksum at x100/x1000
    * (tools/sweeps/tedlab_*).
    *
    * Per-pair gauntlet, cheap to expensive (CombineFilters keeps the
    * conjunct order): orientation cut, then the ~30-op histogram L1 reject
    * (`hist_l1 > 2*k` proves distance > k — exact, never drops a surviving
    * pair) spares the O(n*k) DP for the bulk of each block; only
    * histogram-close pairs reach `bounded_levenshtein` (both symmetric, so
    * the least/greatest normalization can run after them).
    */
  def editDistancePairs(docs: DataFrame,
                        smallBytes: Long = 4L << 20): DataFrame = {
    val norm = normalizedText(substring(col("text"), 1, 128))
    val t = docs.select(col("doc_id"),
      substring(norm, 1, 32).as("prefix"), substring(norm, 1, 8).as("bucket"))
      .withColumn("__sig",
        graft.functions.TextFunctions.hist_sig16(col("prefix")))
    def gauntlet(pairs: DataFrame): DataFrame = pairs
      .filter(graft.functions.TextFunctions.hist_l1(
        col("sl"), col("sr")) <= 16)
      .select(
        least(col("doc_l"), col("doc_r")).as("doc_a"),
        greatest(col("doc_l"), col("doc_r")).as("doc_b"),
        graft.functions.TextFunctions.bounded_levenshtein(
          col("pl"), col("pr"), 8).as("edit_dist"))
      .filter(col("edit_dist") <= 8)
    if (AdaptiveGate.isSmall(docs, smallBytes)) {
      val left = t.select(col("doc_id").as("doc_l"), col("prefix").as("pl"),
        col("__sig").as("sl"), col("bucket"))
      val right = t.select(col("doc_id").as("doc_r"), col("prefix").as("pr"),
        col("__sig").as("sr"), col("bucket"))
      gauntlet(left.join(right, Seq("bucket"))
        .filter(col("doc_l") < col("doc_r")))
    } else {
      val blockLen = 64
      val maxBlocks = 512
      // counts is materialized ONCE (persist + eager count, a bounded
      // bucket-cardinality table): it re-enters the plan as a broadcast on
      // BOTH join sides, and broadcast builds are separate query stages
      // that ReuseExchange never collapses (the lm_cross_entropy disease,
      // r15) — without this the corpus scan+normalize+agg subtree ran
      // twice more per query (TedLab x100: 10.68 s → 6.44 s, on par with
      // the old window spelling's 6.20 s whose skew-fatal x1000 profile
      // this decomposition exists to fix). persist rather than
      // localCheckpoint: no gate reads its stats (the DP join below is
      // un-hinted sort-merge), so what the persist buys is the reuse above
      // — both broadcast builds read the one cached fill and the corpus
      // subtree never runs twice. The eager
      // count serializes the fill so the two broadcast builds cannot race
      // it; the cache is session-scoped like the dedup family hubs.
      val counts0 = t.groupBy("bucket").agg(count(lit(1)).as("__n"))
      val width = docs.sparkSession.sparkContext.defaultParallelism
      def assemble(c: DataFrame): (DataFrame, DataFrame) = {
        val blocked = t.join(broadcast(c), Seq("bucket"))
          .withColumn("__nblk", least(
            ((col("__n") + blockLen - 1) / blockLen).cast("int"),
            lit(maxBlocks)))
          .withColumn("__blk",
            pmod(xxhash64(col("doc_id")), col("__nblk")).cast("int"))
        val left = blocked
          .withColumn("__j",
            explode(sequence(col("__blk"), col("__nblk") - 1)))
          .select(col("doc_id").as("doc_l"), col("prefix").as("pl"),
            col("__sig").as("sl"), col("bucket"), col("__blk").as("__bl"),
            col("__j"))
          .repartition(width, col("bucket"), col("__j"))
        val right = blocked
          .select(col("doc_id").as("doc_r"), col("prefix").as("pr"),
            col("__sig").as("sr"), col("bucket"), col("__blk").as("__j"))
          .repartition(width, col("bucket"), col("__j"))
        (left, right)
      }
      // the DP join is UN-hinted sort-merge (r16): the r15 shuffle_hash
      // hint built the hash table on the EXPLODED left side — measured
      // same-session at x100: left-hint SHJ 8.5 s, right-hint SHJ 7.5 s,
      // plain SMJ 6.4 s (tedlab_x100_*_20260818 logs) — and at x1000 the
      // AdaptiveGate bound had (correctly) dropped it anyway. SMJ also
      // spills instead of dying when a block's build outgrows a task.
      val counts = counts0
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      counts.count()
      val (left, right) = assemble(counts)
      gauntlet(left.join(right, Seq("bucket", "__j"))
        .filter(col("__bl") =!= col("__j") || col("doc_l") < col("doc_r")))
    }
  }

  /** Reference formulation of [[profile]] via the standalone kernel
    * columns — kept for the fused/composed parity spec.
    */
  def profileComposed(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("n_chars"),
      tokenCountComposed(col("text")).as("n_tokens"),
      regexTokenCountComposed(col("text")).as("n_regex_tokens"),
      punctRatioComposed(col("text")).as("punct_ratio"),
      stopwordRatioComposed(col("text")).as("stopword_ratio"),
      meanWordLenComposed(col("text")).as("mean_word_len"),
      qualityScoreComposed(col("text")).as("quality_score"),
      langId(col("text")).as("lang_pred"),
      fingerprint(col("text")).as("fingerprint"))
}
