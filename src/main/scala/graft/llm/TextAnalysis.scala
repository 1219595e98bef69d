package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: tokenization, language-ID heuristic, quality
  * scoring, and content fingerprinting.
  *
  * Everything here is built-in-function Catalyst (regexp/md5/length —
  * whole-stage codegen, no UDFs), embarrassingly parallel per row, and
  * deliberately expressible in ANSI SQL so the DuckDB oracle can verify
  * it value-for-value. Expressions avoid post-hoc rounding wherever the
  * raw IEEE op (a single division) is already bit-deterministic across
  * engines.
  */
object TextAnalysis {

  /** Non-whitespace runs — identical semantics in Java regex and RE2,
    * unlike `split` (which differs on trailing empties across engines).
    */
  val tokenPattern = "\\S+"

  def tokens(text: Column): Column =
    regexp_extract_all(text, lit(tokenPattern), lit(0))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-style pre-tokenizer (the GPT-2 split, simplified): contraction
    * suffixes, space-prefixed letter runs, digit runs, punctuation runs,
    * whitespace runs. Deliberately restricted to what Java regex and RE2
    * treat identically — ASCII classes, non-capturing alternation, NO
    * lookahead (RE2 has none; the original GPT-2 pattern's `\s+(?!\S)`
    * is dropped) — so the DuckDB oracle can count the exact same tokens.
    * This is the unit a byte-pair encoder would merge within; counting
    * them approximates LLM token cost far better than whitespace words.
    */
  val bpeTokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(bpeTokenPattern), lit(0))

  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  /** Stopword alternations per language. ASCII-only and anchored with \b
    * so Java regex and RE2 agree byte-for-byte.
    */
  val stopwords: Seq[(String, String)] = Seq(
    "en" -> "the|and|of|to|in|is|that",
    "de" -> "der|die|das|und|ist|nicht|ein",
    "es" -> "el|la|los|que|y|una|por",
    "fr" -> "le|les|et|des|une|dans|pour",
    "zh" -> "de_zh_placeholder" // CJK stopwords don't occur in \S+-token ASCII text
  )

  def stopwordCount(text: Column, alternation: String): Column =
    size(regexp_extract_all(lower(text), lit(s"\\b($alternation)\\b"), lit(0)))

  /** Argmax over per-language stopword scores with a fixed priority order
    * (en>de>es>fr>zh) and 'und' when nothing matches. Written as a single
    * CASE (see [[langIdCaseSql]]) shared with the oracle.
    */
  val langIdCaseSql: String = {
    val langs = stopwords.map(_._1)
    val arms = langs.zipWithIndex.map { case (l, i) =>
      val geAll = langs.zipWithIndex.collect {
        case (o, j) if j != i => s"s_$l >= s_$o"
      }.mkString(" AND ")
      s"WHEN $geAll AND s_$l > 0 THEN '$l'"
    }
    s"CASE ${arms.mkString(" ")} ELSE 'und' END"
  }

  /** Per-document language scores + prediction. */
  def langId(docs: DataFrame): DataFrame = {
    val scored = stopwords.foldLeft(docs) { case (df, (l, alt)) =>
      df.withColumn(s"s_$l", stopwordCount(col("text"), alt))
    }
    scored.select(
      (Seq(col("doc_id")) ++ stopwords.map { case (l, _) => col(s"s_$l") } :+
        expr(langIdCaseSql).as("predicted_lang")): _*)
  }

  /** Per-document quality features: token count, punctuation and stopword
    * ratios, chars-per-token, and a binary keep/drop. Ratios are single
    * IEEE divisions (bit-identical across engines, no rounding needed).
    */
  def qualityScore(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      length(col("text")).as("n_chars_calc"),
      tokenCount(col("text")).as("n_tokens"),
      size(regexp_extract_all(col("text"), lit("[.,!?;:]"), lit(0))).as("punct_cnt"),
      stopwordCount(col("text"), stopwords.head._2).as("stop_cnt"))
      .withColumn("punct_ratio",
        col("punct_cnt").cast("double") / col("n_tokens").cast("double"))
      .withColumn("stop_ratio",
        col("stop_cnt").cast("double") / col("n_tokens").cast("double"))
      .withColumn("chars_per_token",
        col("n_chars_calc").cast("double") / col("n_tokens").cast("double"))
      .withColumn("keep",
        col("n_tokens") >= 5 && col("n_tokens") <= 10000 && col("stop_ratio") >= 0.0)

  /** PII patterns, deliberately ASCII-only and lookahead-free so Java
    * regex and RE2 (DuckDB) agree byte for byte: email-shaped tokens and
    * long digit runs (phone/account-number shaped). Training corpora get
    * these REDACTED, not dropped — the document survives, the span
    * doesn't.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val longDigitPattern = "[0-9]{9,}"

  def piiCount(text: Column): Column =
    size(regexp_extract_all(text, lit(emailPattern), lit(0))) +
      size(regexp_extract_all(text, lit(longDigitPattern), lit(0)))

  /** Text with PII spans replaced by fixed tags (emails first, so their
    * digit substrings can't double-match the number pattern).
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      longDigitPattern, "<NUM>")

  /** Canonical content fingerprint: md5 over lowercased,
    * whitespace-collapsed, trimmed text. Normalization and md5 agree
    * across engines, so near-identical formatting dedups exactly.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")).cast("binary"))

  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    * maximal runs of content words between stopword breaks; each
    * word's score is deg(w)/freq(w) where deg counts co-occurrence
    * with every word of every phrase containing it (self included —
    * deg(w) += phrase length), and a phrase scores the sum of its
    * words' scores. The un-supervised sibling of [[tfidfTopTerms]]:
    * TF-IDF ranks single terms by corpus contrast, RAKE surfaces
    * multi-word phrases by intra-phrase cohesion.
    *
    * Phrase segmentation is the GAPS-AND-ISLANDS window (pos −
    * row_number over content words per doc): one tokenize pass, one
    * doc-keyed window, keyed aggregates after — no per-doc memory.
    * Here punctuation separates WORDS (the corpus is normalized ASCII
    * prose) and only the shared English stopword alternation breaks
    * phrases; scores are exact integer (deg, freq) pairs until the
    * final rounded division chain.
    */
  def rakeKeywords(docs: DataFrame, topK: Int = 20): DataFrame = {
    val stops = stopwords.head._2.split("\\|").toSeq
    val content = docs
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), "[^a-z0-9]+")))
      .filter(col("col") =!= "" && !col("col").isInCollection(stops))
      .select(col("doc_id"), col("pos"), col("col").as("w"))
    val rn = row_number().over(org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos"))
    val isl = content.withColumn("grp", col("pos") - rn)
    val ph = isl.groupBy("doc_id", "grp").agg(
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("w")))),
        _.getField("w")), " ").as("phrase"),
      count(lit(1)).as("len"))
    // per-word score quantizes to integer micros BEFORE the phrase
    // sum (sum-order-proof, the tfidf integer-first discipline)
    val wstat = isl.join(ph, Seq("doc_id", "grp"))
      .groupBy("w").agg(count(lit(1)).as("freq"), sum("len").as("deg"))
      .select(col("w"), bround(col("deg").cast("double") * lit(1000000.0)
        / col("freq").cast("double")).cast("long").as("sw"))
    val dp = ph.groupBy("phrase")
      .agg(count(lit(1)).as("n"), max("len").as("n_words"))
    dp.select(col("phrase"), col("n"), col("n_words"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(wstat, "w")
      .groupBy("phrase").agg(
        max("n").as("n"), max("n_words").as("n_words"),
        sum("sw").as("score_micros"))
      .select(col("phrase"), col("n"), col("n_words"),
        col("score_micros"),
        round(col("score_micros").cast("double") / lit(1000000.0), 6)
          .as("score"))
      .orderBy(col("score_micros").desc, col("phrase"))
      .limit(topK)
  }

  /** Top-k corpus terms per language by TF-IDF. Deterministic across
    * engines by construction: the score is `idf(term) × Σtf` — the term
    * frequency sums as an INTEGER first and multiplies the idf once, so
    * there is no float summation order to drift; idf =
    * ln((N+1)/(df+1)) is one libm call on an exactly-computed double,
    * and bround(6) + term tiebreak pin the ranking. ONE corpus scan:
    * the (lang, term) aggregate carries both tf and per-lang df, and
    * the global df is derived from it by summation — each doc has
    * exactly one lang, so per-lang doc sets are disjoint.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = docs.select(count(lit(1)).as("n_docs"))
    val terms = docs.select(col("doc_id"), col("lang"),
      explode(tokens(lower(col("text")))).as("term"))
    val byLangTerm = terms.groupBy("lang", "term")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df_lang"))
    // df is GLOBAL (a term common in every language is uninformative
    // everywhere) = sum of the disjoint per-lang dfs — no second
    // tokenization pass over the corpus
    val dfGlobal = byLangTerm.groupBy("term")
      .agg(sum("df_lang").as("df"))
    val scored = byLangTerm.join(dfGlobal, "term").crossJoin(broadcast(n))
      .select(col("lang"), col("term"),
        bround(col("tf").cast("double") *
          log((col("n_docs").cast("double") + 1.0) / (col("df").cast("double") + 1.0)),
          6).as("score"))
    val w = Window.partitionBy("lang")
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("lang", "rank")
  }

  /** Gopher-style repetition filtering [Rae et al., "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher",
    * arXiv:2112.11446 §A1.1]: documents dominated by repeated fragments
    * are boilerplate/spam and poison a training mix even after exact
    * and near dedup (those compare ACROSS documents; this measures
    * repetition WITHIN one).
    *
    * Per document: fraction of word-bigram occurrences taken by the
    * most frequent bigram, fraction of duplicate bigram occurrences,
    * mean word length, and symbol-to-word ratio ('#' and '...' runs),
    * plus a keep flag over Gopher-like thresholds. One explode +
    * two-level aggregate, keyed by doc_id throughout — partition-local
    * at scale, no global shuffle beyond the per-doc groupBy; ratios are
    * single IEEE divisions, bit-identical across engines.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    // word bigrams; <2 tokens -> empty (shared guard in Dedup.tokenNgrams)
    val bigrams = Dedup.tokenNgrams(tokens(lower(col("text"))), 2)
    val perGram = docs
      .select(col("doc_id"), explode(bigrams).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
    val perDoc = perGram.groupBy("doc_id").agg(
      sum("c").as("n_bigrams"),
      max("c").as("top_bigram_cnt"),
      count(lit(1)).as("distinct_bigrams"))
    docs.select(
      col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      length(regexp_replace(col("text"), "\\s+", "")).as("word_chars"),
      size(regexp_extract_all(col("text"), lit("#|\\.\\.\\."), lit(0)))
        .as("symbol_cnt"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        (col("word_chars").cast("double") /
          nullif(col("n_tokens"), lit(0)).cast("double")).as("mean_word_len"),
        (col("symbol_cnt").cast("double") /
          nullif(col("n_tokens"), lit(0)).cast("double")).as("symbol_ratio"),
        coalesce(col("top_bigram_cnt").cast("double") /
          col("n_bigrams").cast("double"), lit(0.0)).as("top_bigram_frac"),
        coalesce((col("n_bigrams") - col("distinct_bigrams")).cast("double") /
          col("n_bigrams").cast("double"), lit(0.0)).as("dup_bigram_frac"))
      .withColumn("keep",
        coalesce(col("mean_word_len").between(3.0, 12.0), lit(false)) &&
          col("symbol_ratio") <= 0.1 &&
          col("top_bigram_frac") <= 0.18 &&
          col("dup_bigram_frac") <= 0.3)
  }

  /** Overlapping token-window chunking — the context-window prep step of
    * a training pipeline: each document becomes ceil(n/stride) chunks of
    * up to `chunkSize` tokens, consecutive chunks sharing
    * `chunkSize - stride` tokens of overlap so no training example loses
    * boundary context.
    *
    * Pure per-row Catalyst (tokenize → explode a start-offset sequence →
    * slice), no shuffle at all: at 100 TB this is a map-only stage whose
    * output partitioning follows the input. Chunk text is emitted as md5
    * so result rows stay narrow; the chunk token count and index make the
    * result self-describing.
    */
  def chunkWithStride(docs: DataFrame, chunkSize: Int = 64,
      stride: Int = 48): DataFrame = {
    require(stride > 0 && chunkSize >= stride,
      "chunks must advance and overlap non-negatively")
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") > 0)
      .withColumn("start",
        explode(sequence(lit(0L), col("n") - 1L, lit(stride.toLong))))
      .select(
        col("doc_id"),
        (col("start") / stride).cast("long").as("chunk_idx"),
        least(lit(chunkSize.toLong), col("n") - col("start"))
          .as("chunk_tokens"),
        md5(concat_ws(" ",
          slice(col("toks"), (col("start") + 1L).cast("int"), lit(chunkSize)))
          .cast("binary")).as("chunk_md5"))
  }

  /** Per-language corpus statistics (one shuffle, map-side partials). */
  def stats(docs: DataFrame): DataFrame =
    docs.groupBy("lang").agg(
      count(lit(1)).as("doc_cnt"),
      sum("n_chars").as("total_chars"),
      sum(tokenCount(col("text")).cast("long")).as("total_tokens"),
      max(tokenCount(col("text"))).as("max_tokens"),
      min(tokenCount(col("text"))).as("min_tokens"))

  /** Concat-and-chunk sequence-packing stats — the step that turns a
    * filtered corpus into fixed-length training sequences: documents
    * are sharded (md5 bucket — a deterministic stand-in for the
    * pipeline's shuffle), concatenated in deterministic (md5, doc_id)
    * order within each shard, and the token stream is cut into
    * `capacity`-token bins, documents crossing bin boundaries (exactly
    * what a real concat-and-chunk packer does). Per shard: document and
    * token totals, bins emitted, and how many documents straddle a bin
    * boundary — the padding-free packing efficiency card.
    *
    * Scale shape: one token-count scan (map-only), ONE window pass
    * keyed by shard for the running offset, one small aggregate. The
    * window partition is a shard — at 100 TB `nShards` scales with the
    * corpus (each shard a few GB of token counts, NOT documents), so no
    * single window partition ever holds the corpus. All arithmetic is
    * integer-exact.
    */
  def packingStats(docs: DataFrame, capacity: Int = 256,
      nShards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = md5(concat(lit("pack:"), col("doc_id").cast("string"))
      .cast("binary"))
    val t = docs
      .select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tok"),
        h.as("__h"))
      .filter(col("n_tok") > 0)
      // the shared md5-bucket recipe ([[Dedup.hashBucket1000]]), folded
      // down to nShards
      .withColumn("shard",
        pmod(Dedup.hashBucket1000(col("doc_id"), "pack:"), lit(nShards.toLong)))
    val w = Window.partitionBy("shard").orderBy(col("__h"), col("doc_id"))
    val packed = t
      .withColumn("end_tok", sum("n_tok").over(w))
      .withColumn("start_tok", col("end_tok") - col("n_tok"))
      // doubles are exact for these magnitudes (< 2^53); floor-div
      .withColumn("first_bin", floor(col("start_tok") / capacity))
      .withColumn("last_bin", floor((col("end_tok") - 1) / capacity))
    packed.groupBy("shard").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("total_tokens"),
        (max("last_bin") + 1).as("n_bins"),
        sum(when(col("first_bin") =!= col("last_bin"), 1L).otherwise(0L))
          .as("n_straddle"))
      .orderBy("shard")
  }

  /** Build a persisted inverted index: one row per term with its df and
    * SORTED posting list, written as parquet partitioned by a portable
    * md5 term bucket. The 100 TB retrieval layout: a term lookup reads
    * ONLY its bucket's partition (PruneFileSourcePartitions — asserted
    * in ScoringSpec), so probe I/O is vocabulary/nBuckets-sized, never
    * corpus-sized. Postings are (doc, term)-distinct and sort_array'd,
    * so the stored list is deterministic despite collect_list's
    * shuffle-order nondeterminism.
    */
  def invertedIndexWrite(docs: DataFrame, indexDir: String,
      nBuckets: Int = 16): Unit =
    docs
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .distinct()
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list(col("doc_id"))).as("postings"))
      .withColumn("bucket", termBucket(col("term"), nBuckets))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$indexDir/postings")

  /** The engine-portable term→partition mapping — [[Dedup.hashBucket]]
    * (the ONE bucket recipe) at modulus nBuckets.
    */
  def termBucket(term: Column, nBuckets: Int): Column =
    Dedup.hashBucket(term, nBuckets.toLong)

  /** Driver-side twin of [[termBucket]], for building the probe's
    * partition IN-list without touching the cluster.
    */
  def termBucketLocal(term: String, nBuckets: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 7)
    java.lang.Long.parseLong(hex, 16) % nBuckets
  }

  /** Probe the persisted index for `terms`: the bucket IN-list prunes
    * partitions at planning time, the term filter cuts within the
    * bucket. Postings emit as a comma-joined string (driver-hashable
    * canonical form, the collections_agg precedent).
    */
  def invertedIndexProbe(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, terms: Seq[String],
      nBuckets: Int = 16): DataFrame = {
    val buckets = terms.map(termBucketLocal(_, nBuckets)).distinct
    spark.read.parquet(s"$indexDir/postings")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .select(col("term"), col("df"), col("bucket").cast("long").as("bucket"),
        concat_ws(",", transform(col("postings"), _.cast("string")))
          .as("postings_csv"))
      .orderBy("term")
  }

  /** One byte-pair-encoder training step, relationally: the frequency
    * of every adjacent character pair inside lowercase alpha words,
    * weighted by word frequency — the inner loop of Sennrich et al.'s
    * BPE vocabulary induction (the top pair IS the next merge). A full
    * trainer iterates this with a merge applied per round; the
    * per-round counting is the part that has to scale to the corpus.
    *
    * Scale shape: word explode (map-only) → word-frequency aggregate
    * (vocabulary-sized, map-side combinable) → pair explode over the
    * VOCABULARY (not the corpus — frequencies ride along, so a word
    * occurring a million times is counted once) → pair aggregate.
    */
  def bpeMergeStep(docs: DataFrame, k: Int = 20): DataFrame = {
    val w = docs
      .select(explode(
        regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))
    w.filter(length(col("word")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("word")) - 1),
        i => col("word").substr(i, lit(2)))).as("pair"), col("wc"))
      .groupBy("pair").agg(sum("wc").as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(k)
  }

  /** Character-level Shannon entropy per document, in integer
    * micro-nats — the classic gibberish/boilerplate detector (natural
    * prose sits near the language's ~2.8–3.2 nat char entropy; OCR
    * noise runs high, repeated padding runs low). Counts non-whitespace
    * chars only (`\S` — identical in Java regex and RE2).
    *
    * Each distinct char's −p·ln(p) term is quantized to integer
    * micro-nats BEFORE the per-doc sum (the [[unigramSurprisal]]
    * contract), so totals are order-independent. Scale shape: char
    * explode (map-only) → per-(doc, char) count (map-side combinable,
    * ≤ alphabet×docs rows) → per-doc sum.
    */
  def charEntropy(docs: DataFrame): DataFrame = {
    // one shuffle, no self-join: the per-char counts collect into a
    // bounded (alphabet-sized) array per doc, and the quantized
    // −p·ln(p) terms fold over it with n already in hand. Long addition
    // commutes, so collect_list's nondeterministic order cannot change
    // the total (measured at 10× sf0.1: 7.9 s → 2.6 s vs the
    // count-join-recount spelling).
    val cnt = col("cnt").cast("double")
    docs
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit("\\S"), lit(0))).as("c"))
      .groupBy("doc_id", "c").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n"), count(lit(1)).as("n_distinct"),
        collect_list(col("cnt")).as("cnts"))
      .select(col("doc_id"), col("n").as("n_chars_nonws"),
        col("n_distinct").as("distinct_chars"),
        aggregate(col("cnts"), lit(0L), (s, c) =>
          s + bround(-(c.cast("double") / col("n"))
            * log(c.cast("double") / col("n")) * lit(1000000.0))
            .cast("long")).as("entropy_micronats"))
      .orderBy("doc_id")
  }

  /** Unigram-surprisal quality score — the relational core of a
    * perplexity filter (CCNet/Gopher filter on LM perplexity; a unigram
    * LM is the honest version an engine can self-host): per-token
    * surprisal −ln(tf/N) against the corpus's own unigram counts,
    * summed per document. High `per_tok` = improbable token soup (OCR
    * noise, gibberish); low = repetitive boilerplate.
    *
    * Per-token surprisal is quantized to integer 0.1-millinats
    * (round(x·1e4)) BEFORE summation, so the per-doc totals are
    * integer-exact and order-independent — no float-sum drift between
    * partial aggregation orders (or engines).
    *
    * Scale shape: token explode (map-only) → unigram count (one
    * map-side-combinable aggregate; vocabulary, not corpus, sized) →
    * join tokens back to counts (Zipf-hot terms are AQE skew-join
    * territory; the join key space is the vocabulary) → per-doc sum
    * (map-side combinable). The N scalar is a 1-row broadcast.
    */
  def unigramSurprisal(docs: DataFrame, scale: Int = 10000): DataFrame = {
    val t = docs.select(col("doc_id"),
      explode(tokens(lower(col("text")))).as("term"))
    val tf = t.groupBy("term").agg(count(lit(1)).as("tf"))
    val total = tf.agg(sum("tf").cast("double").as("n_total"))
    t.join(tf, "term")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        round(-log(col("tf").cast("double") / col("n_total")) * scale)
          .cast("long").as("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum("s").as("surprisal"))
      .withColumn("per_tok",
        floor(col("surprisal").cast("double") / col("n_tok")))
      .orderBy("doc_id")
  }

  /** Feature hashing (the "hashing trick", Weinberger et al. 2009):
    * tokens map to a fixed `dims`-bucket feature space through the
    * portable hash recipe ([[Dedup.hashBucket]]), with a second
    * independent hash supplying a ±1 sign so collisions cancel in
    * expectation instead of biasing the feature upward — the standard
    * way a training pipeline vectorizes unbounded vocabularies without
    * a driver-side dictionary (no fit step, no broadcast vocab, works
    * on the first pass over 100 TB).
    *
    * Emits the corpus-level view of the hashed space — per bucket:
    * total occurrences, distinct terms colliding there, and the signed
    * occurrence sum. Map-only explode + hash, then ONE `dims`-row
    * aggregate; nothing corpus-sized ever shuffles.
    */
  def featureHashHistogram(docs: DataFrame, dims: Long = 64L): DataFrame = {
    val sgn = when(
      Dedup.hashBucket(concat(lit("sign:"), col("term")), 2L) === 0,
      lit(1L)).otherwise(lit(-1L))
    docs.select(explode(tokens(lower(col("text")))).as("term"))
      .select(col("term"), Dedup.hashBucket(col("term"), dims).as("bucket"),
        sgn.as("sgn"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("occurrences"),
        count_distinct(col("term")).as("distinct_terms"),
        sum("sgn").as("signed_sum"))
      .orderBy("bucket")
  }

  /** Corpus drift: KL(slice ‖ corpus) of unigram distributions, one
    * row per value of `sliceCol` (language, source, time bucket …) —
    * the monitoring stat a pipeline watches to catch a slice drifting
    * from the mixture it was sampled for. Slice distributions are
    * add-one smoothed over the FULL corpus vocabulary (so terms the
    * slice never says still contribute mass); the corpus side needs no
    * smoothing (every vocab term has count ≥ 1 by construction).
    *
    * Scale shape: token counts are vocabulary-keyed aggregates
    * (map-side combined); the slice×vocab grid is |slices|·|V| rows —
    * vocabulary- not corpus-scale, with the slice list a broadcast
    * (slices are enumerable: languages, sources; for a web-scale open
    * vocabulary, restrict V to the top-V terms first). Per-term
    * contributions quantize to integer pico-nats before the per-slice
    * sum, so the aggregate is order-independent and engine-exact.
    */
  def unigramKlDrift(docs: DataFrame, sliceCol: String = "lang"): DataFrame = {
    val tok = docs.select(col(sliceCol).as("slice"),
        explode(tokens(lower(col("text")))).as("w"))
    val v = tok.groupBy("w").agg(count(lit(1)).as("c"))
    val n = v.agg(sum("c").cast("double").as("n"),
      count(lit(1)).as("vsz"))
    val lc = tok.groupBy("slice", "w").agg(count(lit(1)).as("cl"))
    val nl = tok.groupBy("slice").agg(count(lit(1)).as("nl"))
    val grid = broadcast(nl).crossJoin(v)
      .join(lc, Seq("slice", "w"), "left")
      .na.fill(0L, Seq("cl"))
      .crossJoin(broadcast(n))
    val p = (col("cl").cast("double") + lit(1.0)) /
      (col("nl").cast("double") + col("vsz").cast("double"))
    val q = col("c").cast("double") / col("n")
    grid.select(col("slice"), col("nl"), col("vsz"),
        bround(p * log(p / q) * lit(1000000000000.0)).cast("long")
          .as("k_picos"))
      .groupBy("slice").agg(
        min("nl").as("n_tokens"), min("vsz").as("vocab_size"),
        sum("k_picos").as("kl_picos"))
      .select(col("slice"), col("n_tokens"), col("vocab_size"),
        col("kl_picos"),
        round(col("kl_picos").cast("double") / lit(1000000000000.0), 6)
          .as("kl_nats"))
      .orderBy("slice")
  }
}
