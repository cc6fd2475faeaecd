package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline, run
  * over the `documents` table (doc_id, text, lang, source, n_chars).
  *
  * All operators are single-pass narrow transformations — no shuffle, no
  * UDFs (built-in codegen'd functions + native graft expressions only), so
  * they scale linearly with input splits at 100 TB.
  */
object TextAnalysis {

  /** Whitespace tokenizer (lower-cased). The BPE-ish variant splits
    * letters/digits/other into separate tokens first.
    */
  def tokens(text: Column): Column =
    split(lower(trim(text)), "\\s+")

  /** BPE-style pre-tokenization: split on whitespace AND letter/digit/punct
    * boundaries (a regex approximation of a GPT-2-style pre-tokenizer).
    */
  def bpeishTokens(text: Column): Column =
    filter(
      split(lower(text), "(?=[^a-z0-9])|(?<=[^a-z0-9])"),
      t => trim(t) =!= lit(""))

  /** doc_id + token counts (whitespace + BPE-ish). */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(tokens(col("text"))).as("n_tokens"),
      size(array_distinct(tokens(col("text")))).as("n_distinct_tokens"),
      size(bpeishTokens(col("text"))).as("n_bpeish_tokens"))

  private val StopWords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")

  /** Quality-scoring signals: length, mean token length, stopword ratio,
    * alphabetic ratio — the standard cheap heuristics (C4/Gopher-style
    * rules) — plus a composite score. Ratios are rounded to 6dp so results
    * are reproducible across engines and partitionings.
    */
  def qualityScore(documents: DataFrame): DataFrame = {
    val ts = tokens(col("text"))
    val nTok = size(ts)
    val stopHits = size(filter(ts, t => t.isin(StopWords.map(lit): _*)))
    val alpha = length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
    documents.select(
      col("doc_id"),
      length(col("text")).as("len_chars"),
      nTok.as("n_tokens"),
      round(length(col("text")).cast("double") / nTok.cast("double"), 6)
        .as("mean_token_len"),
      round(stopHits.cast("double") / nTok.cast("double"), 6)
        .as("stopword_ratio"),
      round(alpha.cast("double") / length(col("text")).cast("double"), 6)
        .as("alpha_ratio"),
      // composite: favor stopword presence and sane token length
      round(
        stopHits.cast("double") / nTok.cast("double") * lit(0.5)
          + alpha.cast("double") / length(col("text")).cast("double") * lit(0.5),
        6).as("quality_score"))
  }

  private val LangStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Stopword-hit language-ID heuristic: count hits of each language's
    * top stopwords in the token stream; argmax with fixed precedence order
    * (en, es, de, fr, zh); no hits → 'unk'. A deterministic n-gram
    * heuristic, intentionally SQL-expressible so the oracle can replicate
    * it exactly.
    */
  def langId(documents: DataFrame): DataFrame = {
    val ts = tokens(col("text"))
    val hitCols = LangStops.map { case (lang, stops) =>
      lang -> size(filter(ts, t => t.isin(stops.map(lit): _*)))
    }
    val maxHits = greatest(hitCols.map(_._2): _*)
    val guess = hitCols.foldRight(lit("unk")) { case ((lang, c), els) =>
      when(maxHits > 0 && c === maxHits, lit(lang)).otherwise(els)
    }
    documents.select(
      (col("doc_id") +:
        hitCols.map { case (l, c) => c.as(s"hits_$l") }) :+ guess.as("lang_guess"): _*)
  }

  /** Normalization used for fingerprinting: lower-case, collapse whitespace,
    * trim.
    */
  def normalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** MD5 content fingerprint over normalized text — the exact-dedup key. */
  def md5Fingerprint(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), md5(normalized(col("text"))).as("fingerprint"))

  /** Deterministic train/val/test split for training data. Buckets come
    * from an md5 prefix (cross-engine reproducible, unlike xxhash), so
    * the assignment is a pure function of the key — stable across runs,
    * partitionings, and engines. `split` hashes the document id;
    * `group_split` hashes the grouping column (e.g. source) so every
    * document of a group lands in the same split — the standard guard
    * against train/test leakage via near-duplicate groups.
    */
  private def md5Bucket100(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 4), 16, 10).cast("long") % 100

  private def splitLabel(b: Column, trainPct: Int, valPct: Int): Column =
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")

  def datasetSplit(documents: DataFrame, groupCol: String = "source",
      trainPct: Int = 80, valPct: Int = 10): DataFrame =
    documents.select(
      col("doc_id"),
      splitLabel(md5Bucket100(col("doc_id")), trainPct, valPct).as("split"),
      splitLabel(md5Bucket100(col(groupCol)), trainPct, valPct).as("group_split"))

  /** Leakage-safe train/val/test split: the split is a function of each
    * document's NEAR-DUP CLUSTER representative, not of the document
    * itself, so two near-duplicates can never straddle train/test — the
    * contamination [[datasetSplit]]'s per-doc hash cannot prevent (a
    * near-dup pair hashes to independent buckets; at 80/10/10 about a
    * third of dup pairs split across sets, which is test-set leakage).
    *
    * Composition: a (doc_id, rep_id) representative relation — one row
    * per clustered doc — joined to the corpus; singletons fall back to
    * their own id, so their assignment is IDENTICAL to [[datasetSplit]]'s
    * `split` column — the clustered docs are the only rows that move.
    * The relation comes from the corpus's PERSISTED dedup state (the
    * [[Dedup.resolveClusters]] output a deduplicating pipeline already
    * materializes — recomputing corpus LSH + connected components per
    * split invocation would repeat the most expensive pass in the
    * pipeline); the no-arg form below derives it in-plan for standalone
    * use.
    *
    * Scale: only (doc_id, rep_id) pairs shuffle (no text), and both sides
    * key on `doc_id`, so this is one equi-shuffle (or a broadcast if AQE
    * measures the rep side small — clustered docs can be a large fraction
    * of a crawl corpus, so the hint is deliberately NOT forced).
    */
  def leakageSafeSplit(documents: DataFrame, rep: DataFrame,
      trainPct: Int, valPct: Int): DataFrame =
    documents.select(col("doc_id"))
      .join(rep.select(col("doc_id"), col("rep_id")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep_id"), col("doc_id")).as("rep_id"))
      .select(col("doc_id"), col("rep_id"),
        splitLabel(md5Bucket100(col("rep_id")), trainPct, valPct).as("split"))

  /** [[leakageSafeSplit]] with the representative relation derived
    * in-plan ([[Dedup.minhashPairs]] → [[Dedup.connectedComponents]]) —
    * for one-shot use without persisted dedup state; a pipeline that
    * already resolved clusters passes them to the overload above instead
    * of paying the corpus LSH again.
    */
  def leakageSafeSplit(documents: DataFrame, trainPct: Int = 80,
      valPct: Int = 10): DataFrame =
    leakageSafeSplit(documents,
      Dedup.connectedComponents(Dedup.minhashPairs(documents))
        .select(col("a").as("doc_id"), col("rep_id")),
      trainPct, valPct)

  /** Corpus-wide top-k bigrams by DOCUMENT FREQUENCY — each bigram counts
    * once per document containing it (the shingle set dedups within a
    * doc), not once per occurrence. That is the boilerplate-detection
    * semantics this exists for (a phrase repeated 10,000× inside ONE doc
    * is that doc's repetition problem — see [[repetitionScore]] — not
    * corpus boilerplate); occurrence-weighted collocations are
    * [[bigramLift]]'s pair stream. `orderBy + limit` plans as
    * TakeOrderedAndProject — per-partition bounded top-k before the
    * single-partition merge, so only k rows per partition move. Docs with
    * fewer than 2 tokens are excluded (no bigram exists).
    */
  def topBigrams(documents: DataFrame, k: Int = 100): DataFrame = {
    val ts = tokens(col("text"))
    documents
      .filter(size(ts) >= 2)
      .select(explode(Dedup.shingles(col("text"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(k)
  }

  /** Duplicate-bigram repetition score (Gopher/RefinedWeb-style quality
    * rule): the fraction of bigram positions occupied by repeated bigrams.
    * Single-pass narrow projection; docs with fewer than 2 tokens have no
    * bigram and are excluded.
    */
  def repetitionScore(documents: DataFrame): DataFrame = {
    val ts = tokens(col("text"))
    documents
      .filter(size(ts) >= 2)
      .select(
        col("doc_id"),
        (size(ts) - 1).as("n_bigrams"),
        size(Dedup.shingles(col("text"), 2)).as("n_distinct_bigrams"))
      .withColumn("dup_2gram_ratio",
        round(lit(1.0) - col("n_distinct_bigrams").cast("double")
          / col("n_bigrams").cast("double"), 6))
  }

  /** C4/Gopher-style composite quality gate: keep/drop decision with the
    * first failing rule as the reason (too_short → no_stopwords →
    * repetitive). One narrow projection — the rule thresholds compose the
    * same signals as [[qualityScore]]/[[repetitionScore]] without a join.
    */
  /** The first-failing-rule reason expression over a text column —
    * exposed so compositions ([[curate]]) can filter inline instead of
    * self-joining against [[qualityFilter]]'s output.
    */
  def qualityReason(text: Column, minTokens: Int = 20,
      minStopwordRatio: Double = 0.02,
      maxDupBigramRatio: Double = 0.08): Column = {
    val ts = tokens(text)
    val nTok = size(ts)
    val stopRatio = size(filter(ts, t => t.isin(StopWords.map(lit): _*)))
      .cast("double") / nTok.cast("double")
    // a single-token doc has no bigram: rate it non-repetitive rather than
    // letting the 1/0 division go NULL and silently skip the rule
    val dupRatio = when(nTok >= 2, lit(1.0) -
      size(Dedup.shingles(text, 2)).cast("double") /
        (nTok - 1).cast("double")).otherwise(lit(0.0))
    when(nTok < minTokens, "too_short")
      .when(stopRatio < minStopwordRatio, "no_stopwords")
      .when(dupRatio > maxDupBigramRatio, "repetitive")
      .otherwise("ok")
  }

  def qualityFilter(documents: DataFrame, minTokens: Int = 20,
      minStopwordRatio: Double = 0.02,
      maxDupBigramRatio: Double = 0.08): DataFrame = {
    val reason =
      qualityReason(col("text"), minTokens, minStopwordRatio, maxDupBigramRatio)
    documents.select(col("doc_id"), reason.as("reason"),
      (reason === "ok").as("keep"))
  }

  /** Per-document top-k terms by TF-IDF. The IDF factor is the LOG-FREE
    * rational (N+1)/(df+1): transcendental functions round differently
    * across libm implementations, so the log-free variant keeps scores
    * bit-reproducible cross-engine (the ranking is order-isomorphic to the
    * log form for fixed tf). Two shuffles (tf by (doc,term), df by term) +
    * a per-doc rank window whose partitions are bounded by document
    * length — no corpus-sized window state at any scale.
    */
  def tfidfTopTerms(documents: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.{text => gtext}
    // TF is a NARROW per-doc hashmap pass (native term_counts expression)
    // — no corpus-wide (doc, term) shuffle, unlike explode + groupBy
    val tf = documents
      .select(col("doc_id"),
        explode(gtext.termCounts(tokens(col("text")))).as("_tc"))
      .select(col("doc_id"), col("_tc.term").as("term"),
        col("_tc.cnt").cast("long").as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // corpus size rides along as a broadcast 1-row aggregate — keeps the
    // operator fully lazy (an eager .count() here would scan the corpus at
    // plan-construction time)
    val nDocs = documents.select(count(lit(1)).cast("double").as("_nd"))
    // vocab ≪ corpus: broadcast keeps tf un-shuffled for the join (at
    // vocab sizes beyond broadcast reach, drop the hint and let AQE pick)
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        round(col("tf") * (col("_nd") + lit(1.0)) / (col("df") + lit(1.0)), 6)
          .as("tfidf"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("term").asc)))
      .filter(col("rank") <= k)
      .select("doc_id", "term", "tfidf", "rank")
  }

  /** Per-document top-k terms by Okapi BM25 weight (Robertson et al.,
    * TREC-3): `w(t,d) = idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`
    * — the saturating-tf, length-normalized upgrade of [[tfidfTopTerms]],
    * with the same LOG-FREE rational idf ((N+1)/(df+1), monotone with the
    * log form at fixed tf) so scores stay bit-reproducible cross-engine.
    *
    * Plan shape = t8's: one narrow `termCounts` pass (document length
    * rides along), a vocab-sized df aggregate joined back (broadcast; AQE
    * decides beyond the hint), a broadcast 1-row (N, avgdl) aggregate,
    * and a per-doc rank window bounded by document length — no
    * corpus-sized window state at any scale.
    */
  /** Per-(doc, term) frequencies with document length — the shared front
    * of the BM25 stats build and the scoring join (the codegen'd
    * termCounts kernel pre-aggregates per doc; occurrences never
    * shuffle). */
  private def bm25Tf(documents: DataFrame): DataFrame = {
    import graft.functions.{text => gtext}
    documents
      .select(col("doc_id"), tokens(col("text")).as("_t"))
      .select(col("doc_id"), size(col("_t")).cast("double").as("dl"),
        explode(gtext.termCounts(col("_t"))).as("_tc"))
      .select(col("doc_id"), col("dl"), col("_tc.term").as("term"),
        col("_tc.cnt").cast("double").as("tf"))
  }

  /** The BM25 scoring join over prepared tf / df / corpus-stats
    * relations — one expression, shared by the in-plan and indexed forms
    * so their float op order is identical. */
  private def bm25Score(tf: DataFrame, dfreq: DataFrame, stats: DataFrame,
      k: Int, k1: Double, b: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // every float op below mirrors the oracle SQL operation-for-operation
    // (exact integer inputs, fixed IEEE op order) — hash-comparable
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        round(((col("_nd") + lit(1.0)) / (col("df") + lit(1.0))) *
          ((col("tf") * (lit(k1) + lit(1.0))) /
            (col("tf") + lit(k1) *
              (lit(1.0) - lit(b) + lit(b) * col("dl") / col("_avgdl")))), 6)
          .as("bm25"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("bm25").desc, col("term").asc)))
      .filter(col("rank") <= k)
      .select("doc_id", "term", "bm25", "rank")
  }

  def bm25TopTerms(documents: DataFrame, k: Int = 3, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val base = documents.select(col("doc_id"), tokens(col("text")).as("_t"))
    // persisted: the tokenize+termCounts front feeds BOTH the df
    // aggregate and the scoring join (the ngramLmScore pattern); the
    // (N, avgdl) stats keep their own cheap narrow pass so empty-token
    // docs still count toward N
    val tf = bm25Tf(documents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = base.agg(count(lit(1)).cast("double").as("_nd"),
      avg(size(col("_t"))).as("_avgdl"))
    val out = bm25Score(tf, dfreq, stats, k, k1, b)
    Scratch.materializeThenFree(out, tf)
  }

  /** Train-once half of BM25 scoring: materialize the corpus term
    * document-frequency table (`path/df`) and the 1-row (N, avgdl)
    * corpus stats (`path/stats`). [[bm25TopTermsIndexed]] then scores
    * any batch against them with no corpus-wide aggregation in the
    * scoring plan.
    */
  def buildBm25Stats(documents: DataFrame, path: String): Unit = {
    val base = documents.select(col("doc_id"), tokens(col("text")).as("_t"))
    bm25Tf(documents).groupBy("term").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$path/df")
    base.agg(count(lit(1)).cast("double").as("_nd"),
        avg(size(col("_t"))).as("_avgdl"))
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Score-many half: BM25 top-k terms of a batch under PREBUILT corpus
    * stats ([[buildBm25Stats]]). Scoring the training corpus itself
    * reproduces [[bm25TopTerms]] exactly. Terms absent from the df table
    * drop (inner join — none are absent for the training corpus; new
    * text's unseen terms have df 0 and would score via the +1 smoothing
    * with a left join + coalesce, kept inner for oracle hash-identity).
    */
  def bm25TopTermsIndexed(spark: org.apache.spark.sql.SparkSession,
      statsPath: String, batch: DataFrame, k: Int = 3, k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    bm25Score(bm25Tf(batch), spark.read.parquet(s"$statsPath/df"),
      spark.read.parquet(s"$statsPath/stats"), k, k1, b)

  /** End-to-end curation: the composition a training-data pipeline
    * actually runs — quality gate → exact dedup (min-id winner) →
    * benchmark decontamination → deterministic split. Every stage is one
    * of this package's operators, so the whole flow stays declarative
    * (Catalyst sees one plan: narrow quality/split stages, one dedup
    * hash-agg exchange, one anti-join) and fully oracle-checkable.
    * Near-dup removal (MinHash) slots between dedup and decontamination
    * at the caller's option — it is kept out of the default composition
    * so the composed result stays SQL-verifiable end-to-end.
    */
  def curate(documents: DataFrame, benchmark: DataFrame): DataFrame = {
    // persisted: the dedup winner join and the decontamination fingerprint
    // each rescan the kept slice — without the cache every rescan would
    // re-tokenize and re-shingle the corpus for the quality gate; freed
    // deterministically once the curated result is materialized. (At
    // 100 TB, persist a (doc_id, source, fingerprint) projection instead
    // of text and key the later stages off fingerprints.)
    val kept = documents.filter(qualityReason(col("text")) === "ok")
      .select("doc_id", "source", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deduped = kept.join(Dedup.exact(kept), "doc_id")
    Scratch.materializeThenFree(
      datasetSplit(Dedup.decontaminate(deduped, benchmark)), kept)
  }

  /** 64-bit min-rolling-hash fingerprint (winnowing-style, native
    * expression) — robust to small edits, constant width at any document
    * size.
    */
  def rollingFingerprint(documents: DataFrame, window: Int = 16): DataFrame =
    documents.select(
      col("doc_id"),
      graft.functions.text.rollingFingerprint(normalized(col("text")), window)
        .as("fingerprint64"))

  /** Overlapping token-window chunking — the RAG/embedding prep step that
    * turns long documents into `chunkTokens`-token windows advancing by
    * `chunkTokens - overlap`. Chunk starts come from a `sequence` +
    * `posexplode` (no UDF, no shuffle); `slice` clips the final window at
    * the document end. `chunk_id = start_index / stride`, deterministic.
    */
  def chunk(documents: DataFrame, chunkTokens: Int = 128,
      overlap: Int = 32): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be > 0")
    require(overlap >= 0 && overlap < chunkTokens,
      "overlap must be in [0, chunkTokens)")
    val stride = chunkTokens - overlap
    documents
      .select(col("doc_id"), tokens(col("text")).as("_t"))
      .withColumn("_starts", expr(s"sequence(1, size(_t), $stride)"))
      .select(col("doc_id"), col("_t"), posexplode(col("_starts")))
      .select(col("doc_id"),
        col("pos").cast("int").as("chunk_id"),
        expr(s"slice(_t, col, $chunkTokens)").as("_c"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("_c")).as("n_chunk_tokens"),
        array_join(col("_c"), " ").as("chunk_text"))
  }

  /** Token-rarity score: mean corpus frequency of a document's tokens
    * (each occurrence contributes its token's corpus count), floor-scaled
    * to exact integer millionths. The cheap unigram-LM stand-in for a
    * perplexity filter: very HIGH means boilerplate built from the
    * corpus's most common tokens, very LOW means rare-token/OOV-heavy
    * noise — both standard drop candidates. Integer arithmetic throughout
    * (counts, then one exact double division) so the score is
    * bit-reproducible across engines — unlike log-based surprisal, whose
    * libm rounding is not portable.
    *
    * Scale: the per-doc [[graft.functions.text.termCounts]] kernel
    * pre-aggregates occurrences in one narrow pass (same trick as
    * [[tfidfTopTerms]]), so the relation that joins the vocab-sized
    * (token → count) aggregate and shuffles into the per-doc rollup is
    * (doc, DISTINCT-term) rows, not every token occurrence — the freq
    * side broadcasts when it fits, AQE decides. (An earlier form joined
    * the raw exploded stream; at the 100× sweep that was ~40% wall-time
    * slower for identical output.)
    */
  def tokenRarity(documents: DataFrame): DataFrame = {
    import graft.functions.{text => gtext}
    val tc = documents
      .select(col("doc_id"), explode(gtext.termCounts(tokens(col("text")))).as("_tc"))
      .select(col("doc_id"), col("_tc.term").as("token"),
        col("_tc.cnt").cast("long").as("cnt"))
    val freq = tc.groupBy("token").agg(sum(col("cnt")).as("corpus_freq"))
    tc.join(freq, "token")
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_tokens"),
        floor(lit(1000000.0d) * sum(col("corpus_freq") * col("cnt"))
          / sum(col("cnt"))).cast("long").as("mean_freq_c6"))
  }

  /** Bigram collocation lift: `p(x,y) / (p(x)·p(y))` — the inside of PMI
    * without the log, in exact millionths (lift > 1e6 ⟹ positive PMI).
    * Flags collocations ("new york") vs chance co-occurrence; the log is
    * monotone, so ranking by lift IS ranking by PMI — and skipping it
    * keeps the value bit-reproducible across engines (libm logs are not).
    * `n·c_xy` and `c_x·c_y` stay ≤ ~2^47 as exact longs, each cast to
    * double before ONE division — every step IEEE-deterministic.
    *
    * Scale: unigram/bigram count aggregates (vocab-sized), then two
    * vocab-sized joins back — AQE broadcasts them when they fit; the
    * token stream itself is never joined.
    */
  def bigramLift(documents: DataFrame, minCount: Long = 5): DataFrame = {
    val uniStream = documents.select(explode(tokens(col("text"))).as("x"))
    val uni = uniStream.groupBy("x").agg(count(lit(1)).as("cx"))
    val total = uniStream.agg(count(lit(1)).as("n"))
    val pairs = documents
      .select(tokens(col("text")).as("_t"))
      .filter(size(col("_t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(_t) - 1), " +
          "i -> struct(element_at(_t, i) AS x, element_at(_t, i + 1) AS y))"))
        .as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
    val bi = pairs.groupBy("x", "y").agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= minCount)
    bi.crossJoin(broadcast(total))
      .join(uni, "x")
      .join(uni.select(col("x").as("y"), col("cx").as("cy")), "y")
      .select(col("x"), col("y"), col("cxy"),
        floor(lit(1000000.0d) * ((col("n") * col("cxy")).cast("double")
          / (col("cx") * col("cy")).cast("double"))).cast("long")
          .as("lift_c6"))
  }

  /** Bigram-LM document quality score — the CCNet-style perplexity
    * filter: train an add-k-smoothed bigram model on the corpus itself,
    * then score every document by its mean token-bigram log-probability
    * (low = out-of-distribution/noisy, the classic crawl-quality signal).
    *
    * `p(y|x) = (c(x,y) + k) / (c(x) + k·V)` with `c(x)` the left bigram
    * marginal and `V` the distinct-continuation vocabulary. Per-bigram
    * log-probs quantize to integer micro-units (`floor(1e6·ln p)`) BEFORE
    * aggregation, so the per-doc mean is integer-exact arithmetic over
    * exact counts — no float-sum-order divergence between engines (same
    * device as [[Similarity.randomProjection]]'s quantized components);
    * the one float op per distinct bigram is a correctly-rounded IEEE
    * divide + ln + multiply on identical inputs.
    *
    * Scale: the instance stream collapses to per-(doc, bigram)
    * multiplicities first (map-side combine), the model tables are
    * vocab-bounded, and the scoring join is an equi-shuffle on the bigram
    * key — no broadcast of anything corpus-sized, no driver-side model.
    * Output: (doc_id, lm_c6, n_bigrams) for docs with ≥ 1 bigram.
    */
  /** Per-(doc, bigram) multiplicities — the shared front of the LM model
    * build and the scoring join. Since r16 the counts come from the
    * [[graft.functions.Kernels.bigramCounts]] kernel (one linear hashmap
    * pass per doc) instead of an interpreted higher-order struct-array
    * build + per-occurrence explode + groupBy: the (doc, x, y) exchange
    * and its aggregate disappear from every consumer's plan, and the
    * emitted multiplicities are the same integers.
    */
  private def docBigrams(documents: DataFrame): DataFrame = {
    import graft.functions.{text => gtext}
    documents
      .select(col("doc_id"), tokens(col("text")).as("_t"))
      .filter(size(col("_t")) >= 2)
      .select(col("doc_id"), explode(gtext.bigramCounts(col("_t"))).as("p"))
      .select(col("doc_id"), col("p.x").as("x"), col("p.y").as("y"),
        col("p.cnt").cast("long").as("n"))
  }

  /** The add-k-smoothed bigram log-prob table `(x, y, lp_c6)` from
    * per-doc multiplicities — the MODEL, vocab-bounded. */
  private def lmLogProbs(docBi: DataFrame, k: Long): DataFrame = {
    val bi = docBi.groupBy("x", "y").agg(sum("n").as("c12"))
    val left = bi.groupBy("x").agg(sum("c12").as("c1"))
    val v = bi.agg(count_distinct(col("y")).as("_v"))
    bi.join(left, "x").crossJoin(broadcast(v))
      .select(col("x"), col("y"),
        floor(lit(1e6) * log((col("c12") + k).cast("double")
          / (col("c1") + col("_v") * k).cast("double"))).cast("long")
          .as("lp_c6"))
  }

  /** Score per-doc multiplicities against a log-prob table: the
    * vocab-keyed equi-join + integer mean shared by the in-plan and
    * indexed forms. */
  private def lmScore(docBi: DataFrame, lp: DataFrame): DataFrame =
    docBi.join(lp, Seq("x", "y"))
      .groupBy("doc_id")
      .agg(
        floor(sum(col("n") * col("lp_c6")).cast("double")
          / sum(col("n")).cast("double")).cast("long").as("lm_c6"),
        sum("n").cast("long").as("n_bigrams"))

  def ngramLmScore(documents: DataFrame, k: Long = 1L): DataFrame = {
    // per-(doc, bigram) multiplicities feed BOTH the model build and
    // the scoring join, hence persisted
    val docBi = docBigrams(documents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Scratch.materializeThenFree(lmScore(docBi, lmLogProbs(docBi, k)), docBi)
  }

  /** Train-once half of the production scoring shape: materialize the
    * bigram-LM log-prob table to parquet. A quality filter scores new
    * batches far more often than it retrains — [[ngramLmScoreIndexed]]
    * then scores ANY batch as one vocab-keyed join against this table,
    * with no corpus-wide training stages in the scoring plan (the t24
    * in-plan form retrains per invocation; this is the same model split
    * as [[graft.pipeline.Dedup.buildBandedIndex]] vs its in-plan twin).
    */
  def buildLmModel(documents: DataFrame, path: String, k: Long = 1L): Unit =
    lmLogProbs(docBigrams(documents), k).write.mode("overwrite").parquet(path)

  /** Score-many half: mean bigram log-prob of each batch doc under a
    * PREBUILT model ([[buildLmModel]]). Scoring the training corpus
    * itself reproduces [[ngramLmScore]] exactly (same integer ops on the
    * same stored values). Bigrams absent from the model drop from the
    * mean — for the training corpus none are absent; a production scorer
    * over genuinely new text would left-join with the smoothed
    * `k/(c1+V·k)` floor for unseen continuations (a one-line variant;
    * kept inner here so the indexed row stays hash-identical to t24's
    * oracle).
    */
  def ngramLmScoreIndexed(spark: org.apache.spark.sql.SparkSession,
      modelPath: String, batch: DataFrame): DataFrame =
    lmScore(docBigrams(batch), spark.read.parquet(modelPath))

  /** Hashed-linear document scorer — the fastText-style classifier
    * filter in its SCALE-DEFINING regime: when features are hash-bucketed
    * and weights ride in the expression, model scoring is a pure
    * projection — zero shuffles, zero joins, whole-stage codegen over the
    * scan; at 100 TB the filter costs exactly one pass. (The
    * vocab-weights-as-a-TABLE regime — explode + equi-join + re-agg — is
    * [[ngramLmScore]]'s shape; these are the two ways model scoring plans,
    * and which one wins depends on whether the weights fit the row.)
    *
    * Weights here are a deterministic md5-parity placeholder (±1 per
    * hashed token bucket, the [[Similarity.randomProjection]] device —
    * a trained model would ship its D-bucket weight array as an array
    * literal in the same expression with identical plan shape). Mean
    * weight quantizes to integer micro-units from exact integer
    * (sum, count), so the score hash-matches the oracle exactly.
    * Output: (doc_id, lin_c6, n_tokens), one row per document.
    */
  def hashedLinearScore(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val s = aggregate(toks, lit(0L), (acc, t) =>
      acc + when(conv(substring(md5(t), 1, 4), 16, 10)
        .cast("long") % 2 === 0, 1L).otherwise(-1L))
    documents.select(col("doc_id"),
      floor(lit(1e6) * s.cast("double") / size(toks).cast("double"))
        .cast("long").as("lin_c6"),
      size(toks).cast("long").as("n_tokens"))
  }

  /** Per-(doc, bucket) hashed n-gram multiplicities — DSIR's feature
    * space (unigrams + bigrams md5-hashed into `buckets` slots, the
    * same cross-engine md5 device as [[hashedLinearScore]]). Map-side
    * combine collapses the token-count-sized gram stream to at most
    * min(grams, buckets) rows per doc before anything shuffles.
    */
  /** The unigram+bigram gram array of a `_t` token column — shared by
    * the fit-side and scoring-side feature builds (one definition: the
    * two MUST hash into the same feature space).
    */
  private def dsirBucketOf(g: Column, buckets: Int): Column =
    (conv(substring(md5(g), 1, 8), 16, 10).cast("long") % buckets).as("b")

  /** The 4-stage feature pipeline (tokenize → gram → bucket → per-doc
    * multiplicities), ONE definition parameterized by the key columns to
    * thread through — the fit and scoring builds MUST share it, or a
    * change to either silently forks their feature spaces.
    *
    * r16: grams come pre-counted per doc from the
    * [[graft.functions.Kernels.gramCounts]] kernel (unigrams + the same
    * space-joined bigrams the previous interpreted gram expression
    * built), so the md5 bucket hash runs once per DISTINCT gram per doc
    * and the per-(doc, bucket) aggregate sums pre-counted rows — the
    * same integer multiplicities, fewer hashed rows.
    */
  private def dsirFeatures(df: DataFrame, buckets: Int,
      keep: Seq[String]): DataFrame = {
    import graft.functions.{text => gtext}
    val keys = col("doc_id") +: keep.map(col)
    df.select(keys :+ tokens(col("text")).as("_t"): _*)
      .select(keys :+ explode(gtext.gramCounts(col("_t"))).as("_tc"): _*)
      .select(keys :+ dsirBucketOf(col("_tc.term"), buckets) :+
        col("_tc.cnt").as("_c"): _*)
      .groupBy(keys :+ col("b"): _*).agg(sum(col("_c")).cast("long").as("n"))
  }

  private def docDsirBuckets(documents: DataFrame,
      buckets: Int): DataFrame =
    dsirFeatures(documents, buckets, Seq("lang"))

  /** Scoring-side features: `lang` is a FIT-side column (it defines the
    * target slice); a batch being scored needs only (doc_id, text).
    */
  private def docScoringBuckets(batch: DataFrame,
      buckets: Int): DataFrame =
    dsirFeatures(batch, buckets, Seq.empty)

  /** DSIR importance weights (Xie et al., NeurIPS 2023 — "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much its hashed-n-gram profile looks like a TARGET
    * distribution rather than the raw corpus. Here the target is the
    * `targetLang` slice (any target predicate works — a curated subset,
    * a domain, a quality tier); the weight is
    * `Σ_b c_b · ln(p_target(b) / p_raw(b))` with add-1 smoothing over
    * the `buckets` feature slots. High weight = target-like; downstream
    * selection is a threshold/sample over `dsir_c6` (compose with
    * [[domainMixture]]/[[mixtureResample]] for the full curation loop).
    *
    * Determinism: per-bucket log-ratios quantize to integer micro-units
    * (`floor(1e6·ln)`) BEFORE the per-doc sum — the [[ngramLmScore]]
    * device — so `dsir_c6` is exact integer arithmetic over exact
    * counts; the only float ops are one correctly-rounded
    * divide/ln/multiply per DISTINCT bucket on identical integer inputs
    * in both engines (each factor casts to double BEFORE multiplying —
    * integer products would overflow BIGINT at corpus scale).
    *
    * Scale: the gram stream collapses map-side per (doc, bucket); both
    * distributions are `buckets`-bounded aggregates of that relation;
    * the log-ratio table (≤ `buckets` rows) BROADCASTS into the scoring
    * join, so the corpus-sized side never shuffles for scoring — one
    * exchange builds the per-doc feature rows, one bounded exchange
    * sums per doc. Output: (doc_id, dsir_c6, n_feats), one row per doc.
    */
  /** The per-bucket micro-unit log-ratio table `(b, lr_c6)` from the
    * feature relation — DSIR's MODEL, ≤ `buckets` rows. */
  private def dsirLogRatios(db: DataFrame, targetLang: String,
      buckets: Int): DataFrame = {
    // ONE aggregation pass builds BOTH distributions (r16): cr sums every
    // row, ct sums the target slice via a conditional — previously two
    // separate groupBys + a left join + na.fill, i.e. two full scans of
    // the feature relation and an extra bucket-keyed exchange per model
    // fit. A bucket with no target rows sums the conditional's 0L —
    // exactly what the old left-join/na.fill(0) produced — and tgt ⊆ raw
    // means no bucket existed in the old tgt side only, so cr/ct/_r/_t
    // are the SAME integers and lr_c6 is bit-identical (same doubles,
    // same ln, same floor).
    val counts = db.groupBy("b").agg(sum("n").as("cr"),
      sum(when(col("lang") === targetLang, col("n")).otherwise(0L)).as("ct"))
    val totals = counts.agg(sum("cr").as("_r"), sum("ct").as("_t"))
    counts.crossJoin(broadcast(totals))
      .select(col("b"),
        floor(lit(1e6) * log(
          ((col("ct") + 1).cast("double") * (col("_r") + buckets).cast("double"))
            / ((col("cr") + 1).cast("double") * (col("_t") + buckets).cast("double"))))
          .cast("long").as("lr_c6"))
  }

  /** Score per-(doc, bucket) features against a log-ratio table: the
    * broadcast bucket join + exact integer per-doc sum shared by the
    * in-plan and indexed forms. */
  private def dsirScore(db: DataFrame, lr: DataFrame): DataFrame =
    db.join(broadcast(lr), Seq("b"))
      .groupBy("doc_id")
      .agg(sum(col("n") * col("lr_c6")).cast("long").as("dsir_c6"),
        sum("n").cast("long").as("n_feats"))

  def dsirWeights(documents: DataFrame, targetLang: String = "en",
      buckets: Int = 4096): DataFrame = {
    val db = docDsirBuckets(documents, buckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scored = dsirScore(db, dsirLogRatios(db, targetLang, buckets))
    Scratch.materializeThenFree(scored, db)
  }

  /** Train-once half of the production importance-weighting shape:
    * materialize the `buckets`-row log-ratio table to parquet. A curation
    * pipeline fits the target/raw distributions on a reference snapshot,
    * then weighs every incoming shard against that FIXED model —
    * [[dsirWeightsIndexed]] scores any batch as one broadcast bucket join
    * with no corpus-wide distribution fit in the scoring plan (the same
    * train/score split as [[buildLmModel]] / [[ngramLmScoreIndexed]]).
    */
  def buildDsirModel(documents: DataFrame, path: String,
      targetLang: String = "en", buckets: Int = 4096): Unit =
    dsirLogRatios(docDsirBuckets(documents, buckets), targetLang, buckets)
      // the bucket count rides IN the model (a constant column): scoring
      // must hash features into the SAME space the distributions were
      // fit in, and a caller-supplied count that disagrees would silently
      // drop/mis-join features — so the scorer reads it, never guesses
      .withColumn("buckets", lit(buckets))
      .write.mode("overwrite").parquet(path)

  /** Score-many half: DSIR weights of each batch doc under a PREBUILT
    * log-ratio model ([[buildDsirModel]]). The feature-space bucket
    * count comes from the model itself — hashing a batch into a
    * different bucket space than the fit would silently misweight every
    * doc. Scoring the training corpus itself reproduces [[dsirWeights]]
    * exactly (same integer ops on the same stored values; every bucket a
    * training doc references exists in the model by construction).
    * Genuinely new text may hash into buckets the training corpus never
    * populated — those grams drop from the sum (inner join), the
    * conservative treatment for never-seen-before features.
    */
  def dsirWeightsIndexed(spark: org.apache.spark.sql.SparkSession,
      modelPath: String, batch: DataFrame): DataFrame = {
    // ONE snapshot read of the ≤buckets-row model: bucket count and
    // ratios MUST come from the same model version — reading them in two
    // Spark jobs would let a live retrain (overwrite) land between them
    // and silently score old-space hashes against new-space ratios (the
    // streaming gates re-read the model every micro-batch by design). A
    // concurrent overwrite can still fail THIS read — loudly, which the
    // supervised batch retry absorbs.
    val rows = spark.read.parquet(modelPath)
      .select("b", "lr_c6", "buckets").collect()
    require(rows.nonEmpty, s"dsirWeightsIndexed: empty model at $modelPath")
    val buckets = rows.head.getInt(2)
    import spark.implicits._
    val lr = rows.map(r => (r.getLong(0), r.getLong(1))).toSeq
      .toDF("b", "lr_c6")
    // scoring needs only (doc_id, text) — lang is a fit-side column
    dsirScore(docScoringBuckets(batch, buckets), lr)
  }

  /** Deterministic importance RESAMPLING over [[dsirWeights]] — the
    * selection step that turns weights into a curated corpus: doc d is
    * kept iff `ln(u_d) ≤ (w_d − max_w) / 1e6`, i.e. accepted with
    * probability `w_d / w_max` (rejection sampling of the importance
    * distribution; the Gumbel-top-k of the DSIR paper needs a global
    * sort — this is the sort-free distributed form, and the max-weight
    * doc is always kept). `u_d` derives from md5(doc_id) — the
    * [[Similarity.randomProjection]] device — so the SAMPLE ITSELF is
    * deterministic and cross-engine replayable: both sides compare
    * integer micro-units (`floor(1e6·ln u)` vs `w − max`) computed from
    * identical integer inputs. Residual exposure: `ln` is not guaranteed
    * correctly rounded, so a last-ulp engine disagreement could flip a
    * floor at an exact-integer boundary — ~4e-9 per evaluation, one per
    * DOC here (vs one per distinct bigram in [[ngramLmScore]]; same
    * device, same odds per call). Output: the kept
    * (doc_id, dsir_c6, n_feats) rows.
    *
    * Scale: weights are [[dsirWeights]]' plan; the max is a broadcast
    * 1-row aggregate; acceptance is a narrow per-row test — no sort, no
    * extra shuffle beyond the weight computation.
    */
  def dsirResample(documents: DataFrame, targetLang: String = "en",
      buckets: Int = 4096): DataFrame = {
    val w = dsirWeights(documents, targetLang, buckets)
    val mx = w.agg(max("dsir_c6").as("_mx"))
    w.crossJoin(broadcast(mx))
      .filter(
        floor(lit(1e6) * log(
          ((conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long") + 1).cast("double")) / lit(4294967296.0d)))
          .cast("long") <= col("dsir_c6") - col("_mx"))
      .select(col("doc_id"), col("dsir_c6"), col("n_feats"))
  }

  /** Boilerplate n-gram coverage (CCNet/RefinedWeb-style template
    * detection): a w-gram is "boilerplate" when it appears in at least
    * `dfFrac` of all documents; each document reports how much of its
    * distinct-gram set those corpus-frequent grams cover. Headers,
    * footers, navigation chrome and license blurbs all surface as
    * high-coverage documents — the standard drop/strip candidates a crawl
    * pipeline flags before training.
    *
    * Scale: gram doc-frequency is one hash aggregate over distinct-per-doc
    * grams (the codegen'd ShingleStrings pass — documents are scanned
    * once, grams travel, text does not); the hot-gram set is tiny (grams
    * above a df floor) and broadcasts into a LEFT SEMI probe. The corpus
    * size rides along as a broadcast 1-row aggregate, keeping the operator
    * fully lazy. Ratio in exact millionths (floor of one IEEE division) —
    * bit-reproducible cross-engine.
    */
  def boilerplateCoverage(documents: DataFrame, w: Int = 3,
      dfFrac: Double = 0.01,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.DISK_ONLY): DataFrame = {
    // the tokenize+shingle front feeds the hot-gram aggregate AND the
    // per-doc probe — persisted so documents are scanned once, not per
    // consumer (the ngramLmScore pattern). DISK_ONLY by default: this
    // relation is corpus×w-sized (every gram STRING of every doc — the
    // largest scratch in the text family), and caching it deserialized
    // on heap is exactly what evicts under memory pressure at the
    // engine's target scale; serialized-to-disk costs one write + two
    // compact reads and measured within noise of MEMORY_AND_DISK at the
    // 100× sweep (SCALE.md r11). Callers with small corpora can pass a
    // memory level back.
    val grams = documents
      .select(col("doc_id"), explode(Dedup.shingles(col("text"), w)).as("_g"))
      .persist(storage)
    val nDocs = documents.select(count(lit(1)).cast("double").as("_nd"))
    val hot = grams.groupBy("_g").agg(count(lit(1)).as("_df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("_df").cast("double") >= col("_nd") * dfFrac)
      .select("_g")
    val perDoc = grams.join(broadcast(hot), Seq("_g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_boiler"))
    // n_grams stays a separate NARROW projection (not a grams rollup):
    // zero-shingle docs must keep their row, and explode drops them
    val out = documents
      .select(col("doc_id"),
        size(Dedup.shingles(col("text"), w)).cast("long").as("n_grams"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        floor(lit(1000000.0d) * coalesce(col("n_boiler"), lit(0L))
          / col("n_grams")).cast("long").as("boiler_c6"))
    Scratch.materializeThenFree(out, grams)
  }

  /** Passage-level cross-document duplication (Dolma/RefinedWeb-style
    * paragraph dedup, at fixed w-token granularity since this corpus has no
    * newline structure): each doc explodes into non-overlapping w-token
    * passages, a passage is SHARED if it occurs in ≥ 2 distinct docs, and
    * each doc reports how much of it is shared material. Docs shorter than
    * one full passage drop out (no unit to measure).
    *
    * Output: (doc_id, n_passages, n_dup_passages, dup_ratio).
    *
    * Scale: passages travel as 64-bit hashes, never strings — the exploded
    * relation is (doc_id, long), ~2 longs per w tokens of text. One hash
    * aggregate finds the shared set (df ≥ 2 — typically tiny next to the
    * passage universe), which joins back with a LEFT SEMI-shaped probe;
    * the per-doc rollup re-uses the exploded relation (persisted so the
    * tokenize+hash pass runs once, freed deterministically).
    */
  def passageDedup(documents: DataFrame, w: Int = 8): DataFrame = {
    val passages = documents
      .select(col("doc_id"), tokens(col("text")).as("_t"))
      .withColumn("_np", (size(col("_t")) / lit(w)).cast("int"))
      .filter(col("_np") >= 1)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), col("_np") - 1),
          i => xxhash64(array_join(slice(col("_t"), i * w + 1, lit(w)), " "))))
          .as("_p"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shared = passages.groupBy("_p")
      .agg(count_distinct(col("doc_id")).as("_nd"))
      .filter(col("_nd") >= 2)
      .select(col("_p"), lit(1).as("_dup"))
    val out = passages.join(shared, Seq("_p"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_passages"), count(col("_dup")).as("n_dup_passages"))
      .select(col("doc_id"), col("n_passages"), col("n_dup_passages"),
        round(col("n_dup_passages").cast("double")
          / col("n_passages").cast("double"), 6).as("dup_ratio"))
    Scratch.materializeThenFree(out, passages)
  }

  /** Domain-mixture rebalancing: sample every source down to (at most) the
    * smallest source's token budget, so each domain contributes equally —
    * the static mixture-weights pass of an LLM data pipeline. The keep/drop
    * gate is the package's deterministic md5 bucket on doc_id, and the
    * comparison is pure INTEGER math (`bucket · src_tokens <
    * 10000 · min_tokens` instead of a float rate), so engines and reruns
    * agree bit-for-bit. Kept docs carry their source's effective
    * sample_rate for audit.
    *
    * Scale: per-source token totals are one hash-agg exchange of
    * |sources| rows; both the totals and the 1-row minimum broadcast back
    * onto the corpus scan — the documents themselves never shuffle.
    */
  def domainMixture(documents: DataFrame): DataFrame = {
    val perDoc = documents.select(col("doc_id"), col("source"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    val perSource = perDoc.groupBy("source")
      .agg(sum("n_tokens").as("_src_tokens"))
    val minTok = perSource.agg(min("_src_tokens").as("_min_tokens"))
    val bucket =
      conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 10000
    perDoc.join(broadcast(perSource), "source")
      .crossJoin(broadcast(minTok))
      .filter(bucket * col("_src_tokens") < lit(10000L) * col("_min_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        round(col("_min_tokens").cast("double")
          / col("_src_tokens").cast("double"), 6).as("sample_rate"))
  }

  /** Weighted per-source sampling — the mix-weights knob: keep each
    * document with its source's probability, deterministically (an md5
    * gate on doc_id, same trick as [[datasetSplit]] but at 1/65536
    * resolution). A pure function of (doc_id, rate): reruns, engines and
    * partitionings all agree on the kept set, and changing one source's
    * weight does not reshuffle any other source's sample.
    */
  def weightedSample(documents: DataFrame, rates: Map[String, Double],
      defaultRate: Double = 1.0): DataFrame = {
    def threshold(rate: Double): Int = {
      require(rate >= 0 && rate <= 1, s"rate out of [0,1]: $rate")
      math.floor(rate * 65536).toInt
    }
    val bucket =
      conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
    val thr = rates.foldLeft(lit(threshold(defaultRate))) {
      case (acc, (src, rate)) =>
        when(col("source") === src, threshold(rate)).otherwise(acc)
    }
    documents.filter(bucket < thr).select("doc_id", "source")
  }

  /** Mixture resampling with UPSAMPLING — the training-mixture
    * materializer: each source replicates `weight` epochs, where weight
    * may exceed 1 (e.g. 2.5 = two full copies plus a half-rate sampled
    * third epoch — the DoReMi/"data mixing law" shape: rare high-quality
    * sources repeat, bulk sources thin). [[weightedSample]] is the
    * weight ≤ 1 special case.
    *
    * Fully deterministic, pure function of (doc_id, epoch): full epochs
    * explode in-plan; the one fractional epoch keeps a doc iff its
    * epoch-salted md5 bucket clears the fractional threshold (1/65536
    * resolution, same gate family as [[weightedSample]] but salted so
    * the fractional epoch's sample is independent of any weight ≤ 1
    * sampling of the same corpus). `order_key` — the epoch-salted hash
    * itself — gives a reproducible global training order: sorting by it
    * interleaves sources and epochs uniformly, with no rand() anywhere
    * (stage retries and engine reruns agree row-for-row).
    *
    * Scale: ZERO exchanges — a narrow explode whose output is exactly
    * the resampled corpus size (Σ weight·|source|, the op's own output
    * regime); weights land as literals in one codegen'd projection. The
    * global-order sort is the CONSUMER's (usually the final
    * write-partitioned-by-shard step), not baked in here.
    */
  def mixtureResample(documents: DataFrame, weights: Map[String, Double],
      defaultWeight: Double = 1.0): DataFrame = {
    def fullEpochs(w: Double): Int = {
      require(w >= 0, s"negative mixture weight: $w")
      math.floor(w).toInt
    }
    def fracThreshold(w: Double): Int =
      math.floor((w - math.floor(w)) * 65536).toInt
    val full = weights.foldLeft(lit(fullEpochs(defaultWeight))) {
      case (acc, (src, w)) =>
        when(col("source") === src, fullEpochs(w)).otherwise(acc)
    }
    val thr = weights.foldLeft(lit(fracThreshold(defaultWeight))) {
      case (acc, (src, w)) =>
        when(col("source") === src, fracThreshold(w)).otherwise(acc)
    }
    val saltedHex = md5(concat(col("doc_id").cast("string"), lit(":"),
      col("epoch").cast("string")))
    documents
      .select(col("doc_id"), col("source"),
        full.as("_full"), thr.as("_thr"))
      // epochs 0.._full inclusive: the last is the fractional candidate
      .withColumn("epoch", explode(sequence(lit(0), col("_full"))))
      .filter(col("epoch") < col("_full") ||
        conv(substring(saltedHex, 1, 4), 16, 10).cast("int") < col("_thr"))
      .select(col("doc_id"), col("source"),
        col("epoch").cast("int").as("epoch"),
        conv(substring(saltedHex, 1, 8), 16, 10).cast("long").as("order_key"))
  }

  /** Per-source corpus report ("data card"): document/token totals and
    * quality aggregates per source — the summary table every corpus
    * release ships with. One hash-agg exchange carrying |sources| rows
    * of longs; token counting stays in the codegen'd scan.
    */
  def corpusStats(documents: DataFrame): DataFrame = {
    val nTok = size(tokens(col("text")))
    documents
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(nTok.cast("long")).as("n_tokens"),
        sum(length(col("text")).cast("long")).as("n_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        count_distinct(col("lang")).as("n_langs"))
  }

  /** Per-source document cap: keep at most `cap` documents per source,
    * preferring longer documents (doc_id as the deterministic tiebreak).
    * The standard mix-balancing step — a crawl dump where one domain is
    * 40% of the corpus gets clipped to its quota before training.
    *
    * Scale shape: `row_number <= cap` triggers Spark's WindowGroupLimit —
    * each map task keeps at most `cap` rows per source BEFORE the
    * exchange, so the shuffle carries O(sources × cap), not the corpus.
    */
  def sourceCap(documents: DataFrame, cap: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
      .orderBy(length(col("text")).desc, col("doc_id"))
    documents
      .withColumn("source_rank", row_number().over(w))
      .filter(col("source_rank") <= cap)
      .select("doc_id", "source", "source_rank")
  }

  // Conservative ASCII patterns shared by the engine and the DuckDB
  // oracle — RE2-safe (no lookarounds, no backrefs) so both regex
  // engines agree match-for-match.
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private[graft] val PhoneRe = "\\+[0-9]{1,3}[ -][0-9]{2,4}[ -][0-9]{3,4}[ -]?[0-9]{0,4}"

  /** PII scrubbing: replace emails / IPv4 addresses / international-format
    * phone numbers with typed placeholder tokens, and count what was
    * redacted (the per-doc audit trail a compliance pass needs).
    * Order matters — emails first (their local part can contain digits),
    * then IPs (dotted digit runs), then phones — and the oracle applies
    * the same order. Each count is taken on the text the corresponding
    * replacement actually ran against, so `n_emails`/`n_ips`/`n_phones`
    * equal the number of placeholders inserted at each stage. Pure narrow
    * projection: codegen'd regexps, no shuffle, linear at 100 TB.
    */
  def piiRedact(documents: DataFrame): DataFrame = {
    val afterEmail = regexp_replace(col("text"), EmailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Re, "<IP>")
    documents.select(
      col("doc_id"),
      regexp_replace(afterIp, PhoneRe, "<PHONE>").as("clean_text"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(afterEmail, lit(Ipv4Re), lit(0))).as("n_ips"),
      size(regexp_extract_all(afterIp, lit(PhoneRe), lit(0))).as("n_phones"))
  }

  /** Sequence packing: assign each document to a fixed-token-budget
    * training pack — the concat-and-chunk data prep for pre-training
    * (concatenate a source's docs in id order, cut every `budget` tokens;
    * a doc's pack is the chunk its first token lands in).
    *
    * Packing is PER SOURCE (window partitioned by `source`): a global
    * document order is both meaningless under distribution and a
    * single-partition window at 100 TB, while per-source running sums
    * parallelize across sources and match how corpora are actually
    * packed (no cross-source mixing inside a context window).
    */
  def sequencePack(documents: DataFrame, budget: Int = 512): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    val nTok = size(tokens(col("text")))
    documents
      .select(col("doc_id"), col("source"), nTok.as("n_tokens"))
      .withColumn("token_offset",
        coalesce(sum(col("n_tokens"))
          .over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0)).cast("long"))
      .withColumn("pack_id", (col("token_offset") / budget).cast("long"))
  }

  /** GREEDY sequence packing — the padding-style twin of
    * [[sequencePack]]: documents never straddle packs and no pack
    * exceeds `budget` tokens (a doc longer than the budget gets a
    * singleton pack). Greedy first-fit in doc_id order: a doc joins the
    * current pack if it fits, else opens the next — the packing used
    * when examples must stay contiguous (instruction tuning, contrastive
    * pairs) rather than flow across context windows.
    *
    * Packing scope is (source, shard): `shards` splits each source by a
    * deterministic md5 gate on doc_id (same 1/65536 hash family as
    * [[weightedSample]]), because a greedy pack sequence is inherently
    * serial — per-source-only scope caps parallelism at |sources| and
    * makes one task walk a whole source. Shards multiply the parallelism
    * `shards`× at the cost of at most one under-filled pack per extra
    * shard (bounded, documented waste). Pack ids are LOCAL to their
    * (source, shard) group.
    *
    * Scale: ONE exchange on the (source, shard) grouping key, then a
    * streaming per-partition scan carrying only (id, source, shard,
    * n_tokens) — text never shuffles, state is three scalars. The greedy
    * recurrence (remaining-space feedback) is not expressible as a
    * window aggregate, which is why this is the engine's one sanctioned
    * `mapPartitions` outside codec IO.
    */
  def greedyPack(documents: DataFrame, budget: Int = 512,
      shards: Int = 4): DataFrame =
    greedyPackCounts(documents, size(tokens(col("text"))), budget, shards)

  /** [[greedyPack]] generalized over the token-count column: the packing
    * recurrence doesn't care which tokenizer priced the docs, so the
    * BPE-budgeted variant (t34 — real context-window budgets are
    * SUBWORD-denominated) shares this single serial kernel instead of
    * forking it.
    */
  def greedyPackCounts(documents: DataFrame, nTokens: Column,
      budget: Int = 512, shards: Int = 4): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val shard =
      (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int") % shards).as("shard")
    documents
      .select(col("doc_id").cast("long"), col("source"), shard,
        nTokens.cast("int").as("n_tokens"))
      .as[(Long, String, Int, Int)]
      .repartition(col("source"), col("shard"))
      .sortWithinPartitions("source", "shard", "doc_id")
      .mapPartitions { it =>
        // partitions hold whole (source, shard) groups, sorted — groups
        // are contiguous, so three scalars of running state suffice
        var curSrc: String = null
        var curShard = -1
        var packSeq = -1
        var rem = 0
        it.map { case (id, src, sh, n) =>
          if (src != curSrc || sh != curShard) {
            curSrc = src; curShard = sh; packSeq = -1; rem = 0
          }
          if (packSeq < 0 || n > rem) { packSeq += 1; rem = budget }
          rem -= n
          (id, src, sh, n, packSeq)
        }
      }
      .toDF("doc_id", "source", "shard", "n_tokens", "pack_seq")
  }

  // ======== deterministic subword (BPE) tokenization (t33/t34) ========
  //
  // Every token-denominated operator upstream (t1 counts, t14/t28 packing
  // budgets, t16 rarity, BM25 doc lengths) priced docs in whitespace
  // tokens; real LLM-pipeline budgets are SUBWORD-denominated. This block
  // is byte-pair encoding as the engine does models everywhere else:
  // train ONCE into a merge-rank table (model-as-data, the lm/dsir
  // pattern), then tokenize as a pure narrow projection — the merge table
  // rides as literals folded into codegen, so the corpus never shuffles
  // and there is no UDF on the hot path.
  //
  // Segmentations travel as sentinel-delimited strings: every symbol is
  // wrapped \u0001sym\u0002, so merging pair (l, r) is ONE native
  // `replace(seg, "\u0001l\u0002\u0001r\u0002", "\u0001lr\u0002")` —
  // adjacent matches share no bytes (unlike a single-separator encoding),
  // which makes replace-all exactly the left-to-right non-overlapping
  // merge BPE specifies, in Spark and DuckDB alike. The sentinels assume
  // text free of \u0001/\u0002 (true of the corpus; a deployment over
  // arbitrary bytes would strip them in normalization first).

  private[graft] val BpeL = "\u0001"
  private[graft] val BpeR = "\u0002"

  /** Non-empty lower-cased whitespace words — BPE's pre-tokenization. */
  private def bpeWords(text: Column): Column =
    filter(tokens(text), w => length(w) > 0)

  /** BPE training/apply units: whole words at `chunkWords = 1`;
    * otherwise consecutive words grouped into space-joined
    * `chunkWords`-word chunks (the trailing chunk may be shorter). The
    * chunk form exists because a vocabulary-poor corpus (this testdata
    * has 31 distinct words) exhausts word-level BPE after ~|alphabet
    * paths| merges — chunks give the merge space the cross-product
    * richness a realistic vocabulary has, with identical training,
    * apply, and oracle machinery.
    */
  private[graft] def bpeUnits(text: Column, chunkWords: Int): Column =
    if (chunkWords <= 1) bpeWords(text)
    else {
      val ws = bpeWords(text)
      when(size(ws) === 0, typedLit(Seq.empty[String])).otherwise(
        transform(
          sequence(lit(0), ceil(size(ws).cast("double") / chunkWords)
            .cast("int") - 1),
          g => array_join(slice(ws, g * chunkWords + 1, lit(chunkWords)), " ")))
    }

  /** CHARACTER-WINDOW BPE units (r14): the lower-cased text with
    * whitespace runs collapsed to single spaces, split into consecutive
    * `win`-character windows — merges cross word boundaries (the space
    * is an ordinary symbol), which is GPT-2-style byte-level
    * pre-tokenization reduced to this corpus's ASCII reality. Exists
    * because chunked WORD units cap the merge space at the corpus's
    * n-gram vocabulary (992 distinct 2-word chunks here — BPESWEEP_r13's
    * m4096 row could only train 1060 real merges); character windows
    * make nearly every unit distinct, so the trainer can demonstrate a
    * production-sized (≥ 8k) merge table on this corpus. Mirrors
    * [[graft.functions.Kernels.bpeEncodeTextChars]]'s apply-side
    * normalization.
    */
  private[graft] def bpeUnitsChars(text: Column, win: Int): Column = {
    val norm = trim(regexp_replace(lower(text), "\\s+", " "))
    when(length(norm) === 0, typedLit(Seq.empty[String])).otherwise(
      transform(
        sequence(lit(0),
          ceil(length(norm).cast("double") / win).cast("int") - 1),
        g => norm.substr(g * win + 1, lit(win))))
  }

  /** "low" → ␁l␂␁o␂␁w␂ — the rank-0 all-characters segmentation.
    * `(?s)` so `.` also wraps Unicode line separators (U+0085/U+2028/
    * U+2029): Java's ASCII `\s+` word split leaves them INSIDE words,
    * and an unwrapped character would leak raw sentinels into a symbol
    * — the DuckDB oracle wraps every character unconditionally.
    */
  private def bpeSeg0(w: Column): Column =
    regexp_replace(w, "(?s)(.)", BpeL + "$1" + BpeR)

  /** Split a segmentation string back into its symbols. */
  private def bpeSymbols(seg: Column): Column =
    split(regexp_replace(seg, s"^$BpeL|$BpeR$$", ""), BpeR + BpeL)

  /** Train a BPE merge table: `numMerges` rounds of "count adjacent
    * symbol pairs weighted by unit frequency, merge the most frequent"
    * (ties broken (left, right) ascending so the table is a pure
    * function of the corpus — DuckDB replays the whole recurrence).
    * Stops early if the vocabulary is fully merged.
    *
    * Scale shape (r13 — the form a 30k-merge production vocabulary
    * needs): ONE distributed pass builds the distinct-unit frequency
    * histogram; the top `vocabCap` units by (freq desc, unit asc) come
    * back through a bounded TakeOrdered collect (model-bounded by
    * construction — the SentencePiece/HF-tokenizers seed-vocabulary cap;
    * ≈ vocabCap · avg-unit-bytes on the driver); the merge recurrence
    * then runs DRIVER-SIDE with incrementally-maintained pair counts and
    * a lazy max-heap ([[trainBpeOnHistogram]]) — O(affected occurrences)
    * per merge instead of one Spark job per merge. The previous
    * one-aggregation-per-round distributed form
    * ([[trainBpeMergesPerRound]], kept as the equivalence reference)
    * could never reach a realistic merge count: 30k merges would be 30k
    * driver-blocking jobs. When the corpus has ≤ vocabCap distinct
    * units, the histogram cap is an identity and the two trainers are
    * provably the same recurrence (BpeSpec asserts equality).
    * The cap's coverage loss is never silent: units below the cap
    * simply don't vote on merges (they still tokenize at apply time);
    * callers can widen vocabCap against their own corpus.
    */
  def trainBpeMerges(documents: DataFrame, numMerges: Int = 32,
      vocabCap: Int = 65536, chunkWords: Int = 1,
      unitChars: Int = 0): Seq[(String, String)] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(vocabCap >= 1, s"vocabCap must be >= 1, got $vocabCap")
    // unitChars > 0 selects character-window units ([[bpeUnitsChars]]) —
    // the merge-space-rich mode; chunkWords is ignored then
    val hist = documents
      .select(explode(
        if (unitChars > 0) bpeUnitsChars(col("text"), unitChars)
        else bpeUnits(col("text"), chunkWords)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w").asc)
      .limit(vocabCap)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    trainBpeOnHistogram(hist, numMerges)
  }

  /** The driver-side BPE merge recurrence over a (unit, freq) histogram:
    * byte-identical semantics to the per-round distributed form — global
    * adjacent-pair counts weighted by freq (OVERLAPPING positions, like
    * the per-round aggregation), argmax with (count desc, l asc, r asc)
    * tie-break, each merge applied to all non-overlapping occurrences
    * left-to-right — maintained incrementally: a pair→units occurrence
    * index limits each round's recount to units that contain the winning
    * pair, and a lazy max-heap (entries re-pushed on every count change,
    * stale entries dropped on pop) yields the argmax without scanning
    * the count map per round. Tie-break string order is Java
    * lexicographic = UTF-8 binary order on ASCII (this corpus); a
    * non-BMP corpus would need an explicit binary comparator to match
    * Spark's UTF8String ordering.
    */
  private[graft] def trainBpeOnHistogram(hist: Array[(String, Long)],
      numMerges: Int): Seq[(String, String)] = {
    import scala.collection.mutable
    val n = hist.length
    val freq = hist.map(_._2)
    // code-point symbol lists (matches the (?s)(.) segmentation)
    val segs: Array[mutable.ArrayBuffer[String]] = hist.map { case (w, _) =>
      val buf = mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        val cc = Character.charCount(cp)
        buf += w.substring(i, i + cc)
        i += cc
      }
      buf
    }
    val counts = mutable.HashMap.empty[(String, String), Long]
    val occ = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    // heap of (count, l, r) — max by count, then MIN (l, r); stale
    // entries (count no longer current) are skipped at pop
    val ord: Ordering[(Long, String, String)] =
      (a: (Long, String, String), b: (Long, String, String)) => {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c
        else {
          val l = b._2.compareTo(a._2)
          if (l != 0) l else b._3.compareTo(a._3)
        }
      }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    def bump(p: (String, String), delta: Long): Unit = {
      val c = counts.getOrElse(p, 0L) + delta
      if (c <= 0L) counts.remove(p) else counts(p) = c
      if (c > 0L) heap.enqueue((c, p._1, p._2))
    }
    def contrib(i: Int, sign: Long, index: Boolean): Unit = {
      val s = segs(i)
      var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        bump(p, sign * freq(i))
        if (index) occ.getOrElseUpdate(p, mutable.Set.empty) += i
        j += 1
      }
    }
    (0 until n).foreach(i => contrib(i, 1L, index = true))
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.size < numMerges && !exhausted) {
      // pop to the first non-stale entry
      var best: (String, String) = null
      while (best == null && heap.nonEmpty) {
        val (c, l, r) = heap.dequeue()
        if (counts.get((l, r)).contains(c)) best = (l, r)
      }
      if (best == null) exhausted = true
      else {
        merges += best
        val affected = occ.remove(best).getOrElse(mutable.Set.empty)
        affected.foreach { i =>
          val s = segs(i)
          // stale occurrence (pair merged away by an earlier round's
          // rewrite of this unit) — skip without touching counts
          var has = false
          var j = 0
          while (!has && j < s.length - 1) {
            has = s(j) == best._1 && s(j + 1) == best._2
            j += 1
          }
          if (has) {
            contrib(i, -1L, index = false)
            val next = mutable.ArrayBuffer.empty[String]
            var k = 0
            while (k < s.length) {
              if (k < s.length - 1 && s(k) == best._1 && s(k + 1) == best._2) {
                next += best._1 + best._2; k += 2
              } else { next += s(k); k += 1 }
            }
            segs(i) = next
            contrib(i, 1L, index = true)
          }
        }
      }
    }
    merges.toSeq
  }

  /** The pre-r13 one-distributed-aggregation-per-merge trainer — kept as
    * the equivalence REFERENCE for [[trainBpeOnHistogram]] (BpeSpec
    * asserts both produce the identical merge table), not as a
    * production path: per-merge driver-blocking jobs cap it at toy merge
    * counts. Each round is one narrow aggregation over the distinct-word
    * table plus a 1-row collect; each round's re-segmented vocabulary is
    * eagerly `localCheckpoint`ed — NOT merely persisted — so round k's
    * LINEAGE restarts from round k-1's materialized rows (with persist,
    * plan-string/AQE machinery over a 32-deep cached-subtree tower
    * stalls the driver for minutes).
    */
  private[graft] def trainBpeMergesPerRound(documents: DataFrame,
      numMerges: Int = 32): Seq[(String, String)] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    var vocab = documents
      .select(explode(bpeWords(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"), bpeSeg0(col("w")).as("seg"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    try {
      var exhausted = false
      while (merges.size < numMerges && !exhausted) {
        val syms = bpeSymbols(col("seg"))
        val best = vocab
          .select(col("freq"), syms.as("s"))
          .filter(size(col("s")) >= 2)
          .select(col("freq"), explode(transform(
            sequence(lit(0), size(col("s")) - 2),
            j => struct(element_at(col("s"), j + 1).as("l"),
              element_at(col("s"), j + 2).as("r")))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum("freq").as("c"))
          .orderBy(col("c").desc, col("l").asc, col("r").asc)
          .limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val (l, r) = (best(0).getString(0), best(0).getString(1))
          merges += ((l, r))
          val updated = vocab.select(col("w"), col("freq"),
            replace(col("seg"), lit(BpeL + l + BpeR + BpeL + r + BpeR),
              lit(BpeL + l + r + BpeR)).as("seg"))
            .localCheckpoint()
          vocab.unpersist(blocking = false)
          vocab = updated
        }
      }
      merges.toSeq
    } finally vocab.unpersist(blocking = false)
  }

  /** Train-once artifact: `path/merges` = (rank, left, right) in learn
    * order, `path/vocab` = (id, symbol) — ids 0..A-1 are the corpus
    * alphabet in binary order, id A+rank is merge `rank`'s output (a
    * symbol reachable two ways — e.g. "abc" via (ab,c) and (a,bc) —
    * keeps its SMALLEST id). Both tables are model-bounded: ≤ numMerges
    * rows resp. |alphabet| + numMerges rows.
    */
  def buildBpeModel(documents: DataFrame, path: String,
      numMerges: Int = 32, vocabCap: Int = 65536,
      chunkWords: Int = 1, unitChars: Int = 0): Unit = {
    val spark = documents.sparkSession
    import spark.implicits._
    val merges = trainBpeMerges(documents, numMerges, vocabCap, chunkWords,
      unitChars)
    // alphabet-bounded collect (distinct characters of ALL corpus units,
    // not just the capped training histogram — apply-time-known chars
    // must have ids). Char-window mode draws from the same unit source
    // the trainer saw (space is an ordinary alphabet symbol there).
    val alphabet = documents
      .select(explode(
        if (unitChars > 0) bpeUnitsChars(col("text"), unitChars)
        else bpeUnits(col("text"), chunkWords)).as("w"))
      .select(explode(split(col("w"), "")).as("c"))
      .distinct().orderBy("c").collect().map(_.getString(0))
    merges.zipWithIndex
      .map { case ((l, r), i) => (i.toLong, l, r) }
      .toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/merges")
    val vocab = (alphabet.zipWithIndex
      .map { case (c, i) => (i.toLong, c) } ++
      merges.zipWithIndex
        .map { case ((l, r), i) => ((alphabet.length + i).toLong, l + r) })
      .groupBy(_._2).map { case (sym, ids) => (ids.map(_._1).min, sym) }
      .toSeq
    vocab.toDF("id", "symbol")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/vocab")
  }

  /** Tokenize against a prebuilt [[buildBpeModel]] artifact: per doc,
    * `tokens` (subword strings), `token_ids` (vocab ids, -1 for a symbol
    * outside the training vocabulary — an apply-time-only char), and
    * `n_tokens_bpe`.
    *
    * The apply path is ONE narrow codegen'd projection: merges load once
    * per call (model-bounded collect) and ride the plan as a pair→rank
    * REFERENCE OBJECT inside the native
    * [[graft.functions.BpeEncodeText]] expression, which applies
    * lowest-rank-first merging per unit — equal to rank-order
    * application, because BPE training can only learn a merge AFTER its
    * constituent merges (a consuming merge always ranks later than what
    * it consumes; the t33 oracle replays rank order and hash-matches).
    * Per-unit cost is O(symbols²) with O(1) hash probes, INDEPENDENT of
    * the merge count — the r12 fold-a-literal form paid O(merges) per
    * word and carried the table as a plan literal, the wrong class for
    * a 30k-merge vocabulary. The id map is a `map` literal (|vocab|
    * entries). No join, no shuffle, no UDF: corpus cost is bytes-linear.
    */
  def bpeTokenizeIndexed(spark: org.apache.spark.sql.SparkSession,
      modelPath: String, documents: DataFrame,
      chunkWords: Int = 1, unitChars: Int = 0): DataFrame = {
    val vocab = spark.read.parquet(s"$modelPath/vocab")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val idMap = map_from_arrays(
      typedLit(vocab.map(_._2).toSeq), typedLit(vocab.map(_._1).toSeq))
    val toks = bpeTokensExpr(spark, modelPath, chunkWords, unitChars)
    documents
      .select(col("doc_id"), toks(col("text")).as("tokens"))
      .select(col("doc_id"), col("tokens"),
        transform(col("tokens"),
          t => coalesce(element_at(idMap, t), lit(-1L))).as("token_ids"),
        size(col("tokens")).cast("long").as("n_tokens_bpe"))
  }

  /** The text→subword-tokens EXPRESSION against a loaded merge table —
    * shared by [[bpeTokenizeIndexed]] and budget consumers (the t34
    * pack prices docs with `size(expr(text))` in its own single pass
    * instead of self-joining the tokenizer's output back to the corpus).
    */
  def bpeTokensExpr(spark: org.apache.spark.sql.SparkSession,
      modelPath: String, chunkWords: Int = 1,
      unitChars: Int = 0): Column => Column = {
    val merges = spark.read.parquet(s"$modelPath/merges")
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // null text → empty tokens, matching the pre-r13 coalesce contract.
    // unitChars > 0 routes to the character-window apply expression —
    // the model and the apply unit mode must agree, same contract as
    // the chunkWords parameter
    text => coalesce(
      if (unitChars > 0)
        graft.functions.text.bpeEncodeChars(text, merges, unitChars)
      else graft.functions.text.bpeEncode(text, merges, chunkWords),
      typedLit(Seq.empty[String]))
  }
}
