package graft.pipeline

import graft.functions.{text => gtext, vector => gvec}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline.
  *
  * Scale design: every variant avoids the O(n²) all-pairs join. Candidate
  * generation is a key-equality shuffle (band bucket / hash prefix /
  * blocking key), so the expensive verification only runs on candidate
  * pairs that share a bucket. At 100 TB each stage is a hash shuffle on a
  * synthetic key with bounded skew (bucket ids are uniform hashes).
  *
  * Cache lifecycle: the pair operators persist their small signature
  * relations (both sides of a bucket self-join read them) and return
  * through [[Scratch.materializeThenFree]], which runs the result once
  * and frees those relations before the operator returns.
  */
object Dedup {
  /** Ceiling on the distinct-shingle count a probe batch may broadcast
    * in [[containmentPairsIndexed]]'s df-pruning semi-join: 4M 64-bit
    * hashes ≈ 32 MB serialized — comfortably under Spark's broadcast
    * practical limits at default driver memory, and far above any
    * micro-batch (a 1k-doc batch of 1k-shingle docs is 1M). Larger
    * batches fall back to a shuffle semi-join.
    */
  private val MaxBroadcastShingles = 4L * 1000 * 1000


  /** Exact dedup: keep the lowest id per identical (normalized) text.
    * One hash-aggregate shuffle on the md5 fingerprint — never shuffles
    * full document text.
    */
  def exact(documents: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    documents
      .select(col(idCol), md5(TextAnalysis.normalized(col(textCol))).as("_fp"))
      .groupBy(col("_fp"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)

  /** Benchmark decontamination: drop corpus documents whose normalized-text
    * fingerprint appears in the benchmark/eval set (the standard guard
    * against test-set leakage into training data). One LEFT ANTI hash join
    * on md5 fingerprints — text never shuffles, and the benchmark side is
    * typically small enough to broadcast.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      textCol: String = "text"): DataFrame = {
    val fp = md5(TextAnalysis.normalized(col(textCol)))
    corpus.withColumn("_fp", fp)
      .join(benchmark.select(fp.as("_fp")).distinct(), Seq("_fp"), "left_anti")
      .drop("_fp")
  }

  /** Bloom-prefiltered decontamination — [[decontaminate]]'s shape for a
    * benchmark too big to broadcast raw: build a bloom filter over the
    * benchmark's fingerprint hashes (bloom bytes are MB-scale however big
    * the benchmark — the one driver-resident artifact), ship it into the
    * corpus scan as a codegen'd `BloomFilterMightContain` literal, and
    * run the exact anti-join ONLY over the rows the bloom flags. Bloom
    * filters have no false negatives, so non-flagged rows are clean with
    * certainty and skip the shuffle entirely; false positives (rate
    * `fpp`) just pay the exact check. Result is bit-identical to
    * [[decontaminate]] — which is what the d10 oracle asserts.
    */
  def bloomDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      textCol: String = "text", fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.Bridge
    val fp = md5(TextAnalysis.normalized(col(textCol)))
    val bmHashes = benchmark.select(xxhash64(fp).as("h")).distinct()
    val nItems = math.max(bmHashes.count(), 1L) // one pass, benchmark-sized
    val bloom = bmHashes.stat.bloomFilter("h", nItems, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val flagged = corpus.withColumn("_fp", fp).withColumn("_maybe",
      Bridge.column(BloomFilterMightContain(
        Literal.create(bytes, org.apache.spark.sql.types.BinaryType),
        Bridge.expression(xxhash64(col("_fp"))))))
    val clean = flagged.filter(!col("_maybe"))
    val verified = flagged.filter(col("_maybe"))
      .join(benchmark.select(fp.as("_fp")).distinct(), Seq("_fp"), "left_anti")
    clean.unionByName(verified.select(clean.columns.toIndexedSeq.map(col): _*))
      .drop("_fp", "_maybe")
  }

  /** N-gram contamination check (GPT-3-appendix-style decontamination):
    * for each corpus document, the number of distinct w-grams it shares
    * with the benchmark set. Both sides reduce to 64-bit w-gram hashes
    * (one codegen'd pass, no gram strings on the wire); the join key is a
    * uniform hash, and the benchmark side is small → broadcast. Downstream
    * callers drop documents with any hit (or above a gram-count budget).
    */
  def ngramContamination(corpus: DataFrame, benchmark: DataFrame, w: Int = 13,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def grams(d: DataFrame): DataFrame = d.select(
      col(idCol),
      explode(gtext.shingleHashes(TextAnalysis.tokens(col(textCol)), w, 42))
        .as("_g"))
    // both join inputs are distinct on _g (shingleHashes dedups per doc;
    // the benchmark side dedups globally), so each (doc, gram) survives at
    // most once — plain count equals countDistinct without the extra
    // expand+distinct aggregation
    grams(corpus)
      .join(grams(benchmark).select("_g").distinct(), "_g")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_contaminated_ngrams"))
  }

  /** Word w-shingles of the token array (w consecutive tokens joined by a
    * space) — the unit set for Jaccard resemblance. Native codegen'd
    * expression; no per-position slice/concat lambda allocation.
    */
  def shingles(text: Column, w: Int = 3): Column =
    gtext.shingleStrings(TextAnalysis.tokens(text), w)

  /** Exact Jaccard similarity of two string arrays (distinct-element sets). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val da = size(array_distinct(a)).cast("double")
    val db = size(array_distinct(b)).cast("double")
    inter / (da + db - inter)
  }

  /** MinHash + LSH near-duplicate pairs (Broder '97 / MMDS ch.3):
    * hashed w-shingles → k-minhash signature → split into `bands` bands →
    * hash each band → shuffle on (band_index, band_hash) → pairs within a
    * bucket → verify with exact Jaccard ≥ threshold over the hashed
    * shingle sets (64-bit hashes; collision error is negligible).
    *
    * Output: (a, b, jaccard) with a < b, distinct.
    *
    * Scale: the document text is scanned ONCE — the codegen'd
    * ShingleHashes expression emits distinct sorted shingle hashes with no
    * shingle-string materialization, the signature derives from those
    * hashes, and the (small) hashed-shingle relation is persisted for the
    * candidate verification joins. The only shuffles are (1) the
    * band-bucket exchange on uniform hash keys and (2) the pair dedup;
    * signatures (k longs) and shingle-hash arrays travel instead of
    * documents. Band count tunes the recall/cost curve: P(candidate) =
    * 1-(1-s^(k/bands))^bands. Skew note: exact-duplicate clusters all
    * land in the same buckets — run [[exact]] dedup first at scale.
    */
  def minhashPairs(documents: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 64, bands: Int = 16,
      shingleW: Int = 3, threshold: Double = 0.8, seed: Int = 42): DataFrame = {
    val rows = k / bands
    require(bands * rows == k, s"bands=$bands must divide k=$k")
    val sh = documents.select(
      col(idCol).as("_id"),
      gtext.shingleHashes(TextAnalysis.tokens(col(textCol)), shingleW, seed)
        .as("_sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigs = sh.select(col("_id"),
      gtext.minhashFromHashes(col("_sh"), k, seed).as("_sig"))
    // persisted: both sides of the bucket self-join read the banded
    // relation — without the cache the k-affine signature pass runs twice
    val banded = sigs.select(
      col("_id"),
      posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("_sig"), b * rows + 1, lit(rows))))))
      .withColumnsRenamed(Map("pos" -> "_band", "col" -> "_bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = banded.select(col("_band"), col("_bucket"), col("_id").as("a"))
    val r = banded.select(col("_band"), col("_bucket"), col("_id").as("b"))
    val candidates = l.join(r, Seq("_band", "_bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    // shingleHashes output is already sorted+distinct → merge-scan count;
    // size-ratio prefilter as in [[ngramJaccardPairs]] (exact-safe).
    val inter = gtext.sortedIntersectCount(col("_sha"), col("_shb")).cast("double")
    val pairs = candidates
      .join(sh.select(col("_id").as("a"), col("_sh").as("_sha")), "a")
      .join(sh.select(col("_id").as("b"), col("_sh").as("_shb")), "b")
      .filter(least(size(col("_sha")), size(col("_shb"))).cast("double") >=
        greatest(size(col("_sha")), size(col("_shb"))).cast("double")
          * threshold - 1e-9)
      .select(col("a"), col("b"),
        round(inter / (size(col("_sha")) + size(col("_shb")) - inter), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    Scratch.materializeThenFree(pairs, sh, banded)
  }

  /** Incremental MinHash dedup — the continuous-ingest shape: near-dup
    * pairs between a NEW batch and the EXISTING corpus only (never
    * corpus×corpus, which [[minhashPairs]] already covered when the corpus
    * was built). Same signature/band scheme as [[minhashPairs]] (same seed
    * ⇒ same buckets), but the band join is batch-banded × corpus-banded —
    * the candidate space is only the cross collisions, so re-deduplicating
    * a daily 0.1% ingest costs ~0.1% of the original build, not a rebuild.
    *
    * Output: (batch_id, corpus_id, jaccard) — exact verified Jaccard ≥
    * threshold; [[incrementalSurvivors]] anti-joins to the accepted docs.
    *
    * Scale: at 100 TB the corpus side of this join is a MATERIALIZED
    * banded-signature table (write `(_band, _bucket, _id, _sh)` bucketed by
    * `(_band, _bucket)` at corpus-build time); each ingest then shuffles
    * only its own bands + the colliding corpus rows. Here both sides derive
    * in-plan, which is the same join shape minus the one-time persist.
    */
  def incrementalMinhashPairs(corpus: DataFrame, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", k: Int = 64,
      bands: Int = 16, shingleW: Int = 3, threshold: Double = 0.8,
      seed: Int = 42): DataFrame = {
    val rows = k / bands
    require(bands * rows == k, s"bands=$bands must divide k=$k")
    def shingled(df: DataFrame): DataFrame = df.select(
      col(idCol).as("_id"),
      gtext.shingleHashes(TextAnalysis.tokens(col(textCol)), shingleW, seed)
        .as("_sh"))
    def banded(sh: DataFrame): DataFrame = sh
      .select(col("_id"),
        gtext.minhashFromHashes(col("_sh"), k, seed).as("_sig"))
      .select(col("_id"),
        posexplode(
          transform(sequence(lit(0), lit(bands - 1)),
            b => hash(slice(col("_sig"), b * rows + 1, lit(rows))))))
      .withColumnsRenamed(Map("pos" -> "_band", "col" -> "_bucket"))
    // persisted: each side feeds its band pass AND the verification join
    val shB = shingled(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shC = shingled(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = banded(shB).select(col("_band"), col("_bucket"), col("_id").as("batch_id"))
      .join(banded(shC).select(col("_band"), col("_bucket"), col("_id").as("corpus_id")),
        Seq("_band", "_bucket"))
      .select("batch_id", "corpus_id").distinct()
    val inter = gtext.sortedIntersectCount(col("_sha"), col("_shb")).cast("double")
    val pairs = candidates
      .join(shB.select(col("_id").as("batch_id"), col("_sh").as("_sha")), "batch_id")
      .join(shC.select(col("_id").as("corpus_id"), col("_sh").as("_shb")), "corpus_id")
      .filter(least(size(col("_sha")), size(col("_shb"))).cast("double") >=
        greatest(size(col("_sha")), size(col("_shb"))).cast("double")
          * threshold - 1e-9)
      .select(col("batch_id"), col("corpus_id"),
        round(inter / (size(col("_sha")) + size(col("_shb")) - inter), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    Scratch.materializeThenFree(pairs, shB, shC)
  }

  /** Materialize the corpus's banded-signature index — the production
    * form of [[incrementalMinhashPairs]]'s corpus side (its Scale note
    * made concrete): the banded rows `(_bb, _id)` — `_bb = xxhash64(band,
    * bucket)`, one uniform 64-bit join key — land in a BUCKETED table
    * (`Layout.writeBucketed`), so the corpus's candidate-join shuffle is
    * paid ONCE at build time; the shingle-hash sets `(_id, _sh)` go to a
    * plain parquet beside it for exact verification. Each later ingest
    * then shuffles only itself. The dedup twin of
    * [[Similarity.buildIvfIndex]].
    */
  /** Asymmetric CONTAINMENT near-dup pairs: `|sh(a) ∩ sh(b)| / |sh(a)|`
    * — the signal symmetric Jaccard structurally misses: a short document
    * quoted or embedded inside a much longer one has containment ≈ 1 but
    * Jaccard ≈ |a|/|b| (tested: a verbatim-quoted doc that [[minhashPairs]]
    * cannot flag at any reasonable threshold). Output is ORDERED
    * `(a, b, containment)`: a's shingle fraction found in b.
    *
    * Candidates are an inverted-index join on RARE shingles (document
    * frequency ≤ `maxDf`): per-shingle posting lists bound the pair blowup
    * to `Σ_rare df²  ≤  maxDf · Σ df` — linear in the posting volume,
    * never all-pairs; common shingles carry no duplication signal and are
    * excluded BY DEFINITION of the candidate rule, which the DuckDB oracle
    * mirrors exactly (a contained doc whose every shingle is common is out
    * of scope for both engines — a documented rule, not silent recall
    * loss). Verification is exact on the full shingle sets.
    */
  def containmentPairs(documents: DataFrame, threshold: Double = 0.9,
      maxDf: Int = 5, shingleW: Int = 3, seed: Int = 42,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = shingledSet(documents, idCol, textCol, shingleW, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-doc shingles are distinct, so this IS document frequency
    val posting = sh.select(col("_id"), explode(col("_sh")).as("_s"))
    val rarePost = posting.join(
      posting.groupBy("_s").agg(count(lit(1)).as("_df"))
        .filter(col("_df") <= maxDf).select("_s"),
      "_s")
    val candidates = rarePost.select(col("_s"), col("_id").as("a"))
      .join(rarePost.select(col("_s"), col("_id").as("b")), "_s")
      .filter(col("a") =!= col("b"))
      .select("a", "b").distinct()
    val inter = gtext.sortedIntersectCount(col("_sha"), col("_shb")).cast("double")
    val pairs = candidates
      .join(sh.select(col("_id").as("a"), col("_sh").as("_sha")), "a")
      .join(sh.select(col("_id").as("b"), col("_sh").as("_shb")), "b")
      .select(col("a"), col("b"),
        round(inter / size(col("_sha")), 6).as("containment"))
      .filter(col("containment") >= threshold)
    Scratch.materializeThenFree(pairs, sh)
  }

  /** Shingle-hash sets `(_id, _sh)` for a document relation — the shared
    * front of every banded-index path. */
  private def shingledSet(df: DataFrame, idCol: String, textCol: String,
      shingleW: Int, seed: Int): DataFrame = df.select(
    col(idCol).as("_id"),
    gtext.shingleHashes(TextAnalysis.tokens(col(textCol)), shingleW, seed)
      .as("_sh"))

  /** Banded rows `(_id, _bb)` with `_bb = xxhash64(band, bucket)` — the
    * composite 64-bit key folds the (band, bucket) pair into one uniform
    * join/bucketing column; a cross-band collision can only ADD a
    * candidate, which exact verification then rejects. */
  private def bandedKeys(sh: DataFrame, k: Int, bands: Int,
      seed: Int): DataFrame = {
    val rows = k / bands
    require(bands * rows == k, s"bands=$bands must divide k=$k")
    sh.select(col("_id"), gtext.minhashFromHashes(col("_sh"), k, seed).as("_sig"))
      .select(col("_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("_sig"), b * rows + 1, lit(rows))))))
      .select(col("_id"), xxhash64(col("pos"), col("col")).as("_bb"))
  }

  /** The LSH parameters a banded index was built with. Probes and appends
    * MUST use the same values — a different k/bands/seed produces band
    * keys that never collide with the stored ones (silent zero recall),
    * and a different bucket count mis-compacts the table — so
    * [[buildBandedIndex]] persists this spec as a sidecar beside the
    * shingle store and the streaming loop reads it back instead of
    * trusting its own defaults.
    */
  final case class BandSpec(k: Int = 64, bands: Int = 16, shingleW: Int = 3,
      seed: Int = 42, buckets: Int = 8)

  private def specPath(shPath: String) =
    new org.apache.hadoop.fs.Path(shPath + "_spec.json")

  private def writeBandSpec(spark: org.apache.spark.sql.SparkSession,
      shPath: String, spec: BandSpec): Unit = {
    val p = specPath(shPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      (s"""{"k":${spec.k},"bands":${spec.bands},"shingleW":${spec.shingleW},""" +
        s""""seed":${spec.seed},"buckets":${spec.buckets}}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The spec an existing index was built with; None for indexes that
    * predate the sidecar (callers then fall back to their own params).
    */
  def readBandSpec(spark: org.apache.spark.sql.SparkSession,
      shPath: String): Option[BandSpec] = {
    val p = specPath(shPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      def field(name: String): Int =
        s""""$name":(-?\\d+)""".r.findFirstMatchIn(txt)
          .map(_.group(1).toInt)
          .getOrElse(throw new IllegalArgumentException(
            s"malformed band-index spec at $p: missing $name in $txt"))
      Some(BandSpec(field("k"), field("bands"), field("shingleW"),
        field("seed"), field("buckets")))
    }
  }

  def buildBandedIndex(corpus: DataFrame, table: String, shPath: String,
      idCol: String = "doc_id", textCol: String = "text", k: Int = 64,
      bands: Int = 16, shingleW: Int = 3, seed: Int = 42,
      buckets: Int = 8): Unit = {
    val sh = shingledSet(corpus, idCol, textCol, shingleW, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.engine.Layout.writeBucketed(
      bandedKeys(sh, k, bands, seed), table, "_bb", buckets)
    writeBandSpec(corpus.sparkSession, shPath,
      BandSpec(k, bands, shingleW, seed, buckets))
    // sh written LAST: a crash mid-build leaves the band table without
    // it, and the ingest gate (which requires BOTH) rebuilds
    sh.write.mode("overwrite").parquet(shPath)
    sh.unpersist()
  }

  /** Append newly ACCEPTED docs to a banded index built by
    * [[buildBandedIndex]]: their band rows land in the bucketed table
    * (same spec, so bucket layout is preserved) and their shingle sets
    * append beside it — the per-ingest index maintenance step of the
    * continuous-dedup loop. Shingles append FIRST: a crash between the
    * two writes then leaves sh rows without band rows, which are inert
    * (never candidates), whereas band rows without sh rows would silently
    * fail verification and stop blocking future duplicates.
    */
  def appendToBandedIndex(accepted: DataFrame, table: String,
      shPath: String, idCol: String = "doc_id", textCol: String = "text",
      k: Int = 64, bands: Int = 16, shingleW: Int = 3, seed: Int = 42,
      buckets: Int = 8): Unit = {
    val sh = shingledSet(accepted, idCol, textCol, shingleW, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sh.write.mode("append").parquet(shPath)
    graft.engine.Layout.appendBucketed(
      bandedKeys(sh, k, bands, seed), table, "_bb", buckets)
    sh.unpersist()
  }

  /** STAGED twin of [[appendToBandedIndex]] for exactly-once ingest
    * ([[graft.engine.BatchLedger.stagedLanding]]): shingle sets and band
    * rows are staged invisibly and land atomically with the batch's
    * ledger marker, so the write-ordering defense above (shingles first)
    * is unnecessary here — the index can never hold band rows whose
    * verification sets are missing.
    */
  def stageBandedIndexAppend(accepted: DataFrame, table: String,
      shPath: String, st: graft.engine.BatchLedger.Staging,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 64, bands: Int = 16, shingleW: Int = 3, seed: Int = 42,
      buckets: Int = 8): Unit = {
    val sh = shingledSet(accepted, idCol, textCol, shingleW, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sh.write.mode("overwrite").parquet(st.appendInto(shPath))
    graft.engine.Layout.stageBucketedAppend(
      bandedKeys(sh, k, bands, seed), table, "_bb", buckets, st)
    sh.unpersist()
  }

  /** STAGED twin of [[appendToContainmentIndex]] — same contract as
    * [[stageBandedIndexAppend]].
    */
  def stageContainmentIndexAppend(accepted: DataFrame, table: String,
      st: graft.engine.BatchLedger.Staging,
      idCol: String = "doc_id", textCol: String = "text",
      shingleW: Int = 3, seed: Int = 42, buckets: Int = 8): Unit =
    graft.engine.Layout.stageBucketedAppend(
      shingledSet(accepted, idCol, textCol, shingleW, seed)
        .select(explode(col("_sh")).as("_s"), col("_id")),
      table, "_s", buckets, st)

  /** Materialize the containment posting index beside a banded index: one
    * bucketed table of shingle postings `(_s, _id)` — EVERY shingle of
    * every indexed doc, bucketed by the shingle hash — derived from the
    * same shingle store ([[buildBandedIndex]]'s `shPath`) the band index
    * verifies against. This is the state that lets ingest also catch
    * CONTAINMENT dups (a batch doc quoting / quoted by corpus content —
    * the class banded Jaccard structurally misses, see
    * [[containmentPairs]]).
    *
    * Storing ALL postings (not just currently-rare ones) buys two
    * properties: (a) rarity is decided at probe time from the live table,
    * so a shingle crossing `maxDf` as the corpus grows stops generating
    * candidates with no tombstoning; (b) the probe counts df as
    * `count(DISTINCT _id)`, so the at-least-once replay of a crashed
    * append (duplicate posting rows) cannot inflate df and silently
    * push rare shingles out of the candidate rule.
    */
  def buildContainmentIndex(spark: org.apache.spark.sql.SparkSession,
      shPath: String, table: String, buckets: Int = 8): Unit =
    graft.engine.Layout.writeBucketed(
      spark.read.parquet(shPath).select(explode(col("_sh")).as("_s"), col("_id")),
      table, "_s", buckets)

  /** Append accepted docs' shingle postings to a containment index (the
    * per-ingest maintenance step; the shingle STORE append is owned by
    * [[appendToBandedIndex]] when the two indexes share it).
    */
  def appendToContainmentIndex(accepted: DataFrame, table: String,
      idCol: String = "doc_id", textCol: String = "text",
      shingleW: Int = 3, seed: Int = 42, buckets: Int = 8): Unit =
    graft.engine.Layout.appendBucketed(
      shingledSet(accepted, idCol, textCol, shingleW, seed)
        .select(explode(col("_sh")).as("_s"), col("_id")),
      table, "_s", buckets)

  /** Incremental containment pairs against a MATERIALIZED posting index —
    * [[containmentPairs]]'s candidate rule in its batch-vs-corpus ingest
    * form: a (batch doc, corpus doc) pair is a candidate iff it shares a
    * shingle whose CORPUS document frequency is ≤ `maxDf` (batch
    * occurrences do not count toward rarity — the index is the
    * authority), then BOTH orientations verify exactly against the
    * stored shingle sets:
    * `containment_batch = |∩|/|sh(batch)|` (the batch doc sits inside a
    * corpus doc), `containment_corpus = |∩|/|sh(corpus)|` (the batch doc
    * QUOTES a corpus doc wholly). A row emits when either meets
    * `threshold`.
    *
    * Scale: the df aggregation and the rare-postings join both run on the
    * bucketed table's own layout (no exchange on the corpus side — same
    * contract as [[incrementalMinhashPairsIndexed]], asserted in
    * PlanShapeSpec); only the batch's exploded shingles shuffle. The df
    * pass is linear in the index per probe; a compaction cycle can fold
    * it into a (_s, df) summary when probe frequency demands it — the
    * candidate volume itself stays bounded by `maxDf · |batch shingles|`.
    */
  def containmentPairsIndexed(spark: org.apache.spark.sql.SparkSession,
      table: String, shPath: String, batch: DataFrame,
      threshold: Double = 0.9, maxDf: Int = 5, shingleW: Int = 3,
      seed: Int = 42, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val shB = shingledSet(batch, idCol, textCol, shingleW, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val post = graft.engine.Layout.read(spark, table)
    // count(DISTINCT): replayed at-least-once appends must not inflate df.
    // r14: the df pass is PRUNED to the batch's own shingles first — df
    // is only ever consulted for shingles the batch carries, and the
    // full-table aggregation was the measured corpus-coupled term of the
    // ingest loop (SCALE.md scaled-ingest stage split: contain stage 1.92×
    // at 21× corpus vs band probe 1.05×; post-fix INGESTDECOMP_r14.json).
    // The broadcast semi-join keeps the surviving df
    // values identical (corpus df of exactly those shingles) and keeps
    // the corpus side exchange-free; aggregation input drops from every
    // posting to Σ df over the batch's shingles — batch-coupled on any
    // corpus whose common shingles the batch doesn't quote wholesale
    // the broadcast is GATED on the batch's measured distinct-shingle
    // count (ADVICE r14): this is a public API, and a bulk backfill
    // batch can carry more distinct 64-bit shingles than the driver or
    // the broadcast limit tolerate — past the gate the semi-join falls
    // back to Catalyst's shuffle choice, degrading gracefully the way
    // the pre-r14 full-table df pass did. The count is one job over the
    // already-persisted shB, trivial beside the df pass it prunes;
    // batchSh is persisted so the gate count and the plan share it.
    val batchSh = shB.select(explode(col("_sh")).as("_s")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probe =
      if (batchSh.count() <= MaxBroadcastShingles) broadcast(batchSh)
      else batchSh
    val rare = post
      .join(probe, Seq("_s"), "left_semi")
      .groupBy("_s")
      .agg(count_distinct(col("_id")).as("_df"))
      .filter(col("_df") <= maxDf).select("_s")
    // rare ⋈ post first (both on the bucketed layout, co-partitioned):
    // common-shingle postings — the bulk of the table — drop before the
    // batch join ever sees them
    val rarePost = post.join(rare, "_s").withColumnRenamed("_id", "corpus_id")
    val candidates = shB
      .select(col("_id").as("batch_id"), explode(col("_sh")).as("_s"))
      .join(rarePost, "_s")
      .select("batch_id", "corpus_id").distinct()
    val shC = spark.read.parquet(shPath)
    val inter = gtext.sortedIntersectCount(col("_sha"), col("_shb")).cast("double")
    val pairs = candidates
      .join(shB.select(col("_id").as("batch_id"), col("_sh").as("_sha")), "batch_id")
      .join(shC.select(col("_id").as("corpus_id"), col("_sh").as("_shb")), "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        round(inter / size(col("_sha")), 6).as("containment_batch"),
        round(inter / size(col("_shb")), 6).as("containment_corpus"))
      .filter(col("containment_batch") >= threshold ||
        col("containment_corpus") >= threshold)
      // same replay tolerance as incrementalMinhashPairsIndexed: a doc
      // whose (_id, _sh) row landed twice (at-least-once append crash)
      // must not double its pairs in the output
      .dropDuplicates("batch_id", "corpus_id")
    Scratch.materializeThenFree(pairs, shB, batchSh)
  }

  /** Incremental near-dup pairs against a MATERIALIZED banded index: the
    * batch bands itself, joins the pre-bucketed corpus band table — the
    * bucketed scan reports hash-partitioned output, so the corpus side
    * joins with NO exchange (asserted in PlanShapeSpec) — and candidates
    * verify with exact Jaccard against the stored shingle sets. Results ≡
    * [[incrementalMinhashPairs]]: same seed ⇒ same buckets; the composite
    * 64-bit band key can only ADD (cross-band collision) candidates,
    * which the exact verification filters like any other non-duplicate.
    */
  def incrementalMinhashPairsIndexed(spark: org.apache.spark.sql.SparkSession,
      table: String, shPath: String, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", k: Int = 64,
      bands: Int = 16, shingleW: Int = 3, threshold: Double = 0.8,
      seed: Int = 42): DataFrame = {
    val shB = shingledSet(batch, idCol, textCol, shingleW, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = bandedKeys(shB, k, bands, seed)
      .withColumnRenamed("_id", "batch_id")
      .join(graft.engine.Layout.read(spark, table)
        .withColumnRenamed("_id", "corpus_id"), "_bb")
      .select("batch_id", "corpus_id").distinct()
    val shC = spark.read.parquet(shPath)
    val inter = gtext.sortedIntersectCount(col("_sha"), col("_shb")).cast("double")
    val pairs = candidates
      .join(shB.select(col("_id").as("batch_id"), col("_sh").as("_sha")), "batch_id")
      .join(shC.select(col("_id").as("corpus_id"), col("_sh").as("_shb")), "corpus_id")
      .filter(least(size(col("_sha")), size(col("_shb"))).cast("double") >=
        greatest(size(col("_sha")), size(col("_shb"))).cast("double")
          * threshold - 1e-9)
      .select(col("batch_id"), col("corpus_id"),
        round(inter / (size(col("_sha")) + size(col("_shb")) - inter), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      // an at-least-once replay of appendToBandedIndex can leave a doc's
      // (_id, _sh) row in the shingle store twice (identical rows); the
      // join would then emit the pair twice — dedup the OUTPUT (pairs are
      // bounded; the store itself stays append-only) to keep the
      // distinct-pairs contract the in-plan twin guarantees
      .dropDuplicates("batch_id", "corpus_id")
    Scratch.materializeThenFree(pairs, shB)
  }

  /** The batch docs ACCEPTED by incremental dedup: anti-join on
    * [[incrementalMinhashPairs]] — a batch doc near-duplicating anything
    * already in the corpus is dropped; the rest append. One row per kept
    * batch doc id.
    *
    * BOUNDARY: by default this checks batch-vs-CORPUS only — two
    * near-identical docs arriving in the SAME batch both pass and both
    * append. `dedupWithinBatch = true` composes the intra-batch pass:
    * [[minhashPairs]] over the batch, resolved through
    * [[connectedComponents]], keeps only each intra-batch cluster's min-id
    * representative (the package-wide survivor contract) — the two gates
    * are independent, so a doc survives iff it neither near-dups the
    * corpus nor loses its intra-batch cluster election. The default stays
    * corpus-only because the intra-batch pass is a second full LSH over
    * the batch; a pipeline that already ran [[minhashPairs]] on the batch
    * upstream should not pay it twice.
    */
  def incrementalSurvivors(corpus: DataFrame, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.8, dedupWithinBatch: Boolean = false): DataFrame = {
    val crossKept = batch.select(col(idCol)).join(
      incrementalMinhashPairs(corpus, batch, idCol, textCol,
        threshold = threshold)
        .select(col("batch_id").as(idCol)),
      Seq(idCol), "left_anti")
    if (!dedupWithinBatch) crossKept
    else nearDupSurvivors(crossKept,
      minhashPairs(batch, idCol, textCol, threshold = threshold), idCol)
  }

  /** [[incrementalSurvivors]] against a MATERIALIZED banded index instead
    * of an in-plan corpus: same acceptance semantics (drop batch docs
    * that near-dup the indexed corpus; optionally resolve intra-batch
    * elections), but the corpus side never recomputes — the shape a
    * continuously-ingesting pipeline runs every batch.
    */
  def incrementalSurvivorsIndexed(spark: org.apache.spark.sql.SparkSession,
      table: String, shPath: String, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.8, dedupWithinBatch: Boolean = false,
      k: Int = 64, bands: Int = 16, shingleW: Int = 3,
      seed: Int = 42): DataFrame = {
    val crossKept = batch.select(col(idCol)).join(
      incrementalMinhashPairsIndexed(spark, table, shPath, batch, idCol,
        textCol, k, bands, shingleW, threshold, seed)
        .select(col("batch_id").as(idCol)),
      Seq(idCol), "left_anti")
    if (!dedupWithinBatch) crossKept
    else nearDupSurvivors(crossKept,
      minhashPairs(batch, idCol, textCol, k, bands, shingleW,
        threshold, seed), idCol)
  }

  /** Blocked exact n-gram Jaccard pairs: all pairs within a blocking key
    * (default lang+source) with distinct-token Jaccard ≥ threshold. The
    * blocking key bounds the quadratic term to per-block sizes; SQL-
    * expressible, so it doubles as the oracle-checked twin of
    * [[minhashPairs]].
    *
    * The pair loop is pruned and allocation-free: token sets are sorted
    * once per document, a size-ratio prefilter drops pairs that cannot
    * reach the threshold (J ≥ t ⟹ min(|A|,|B|)/max(|A|,|B|) ≥ t — the
    * intersection is at most the smaller set, the union at least the
    * larger; the 1e-9 slack keeps the float compare a superset of the
    * exact predicate), and the surviving pairs count their intersection
    * with a single merge scan instead of a per-pair hash set.
    */
  def ngramJaccardPairs(documents: DataFrame, threshold: Double = 0.8,
      blockCols: Seq[String] = Seq("lang", "source")): DataFrame = {
    // persisted: both sides of the block self-join read the token sets —
    // the cache keeps the tokenize+sort pass single-scan
    val toks = documents.select(
      (col("doc_id") +: blockCols.map(col)) :+
        array_sort(array_distinct(TextAnalysis.tokens(col("text")))).as("_t"): _*)
      .withColumn("_n", size(col("_t")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = toks.select(col("doc_id").as("a") +: blockCols.map(col) :+
      col("_t").as("_ta") :+ col("_n").as("_na"): _*)
    val b = toks.select(col("doc_id").as("b") +: blockCols.map(col) :+
      col("_t").as("_tb") :+ col("_n").as("_nb"): _*)
    val inter = gtext.sortedIntersectCount(col("_ta"), col("_tb")).cast("double")
    val pairs = a.join(b, blockCols)
      .filter(col("a") < col("b") &&
        least(col("_na"), col("_nb")).cast("double") >=
          greatest(col("_na"), col("_nb")).cast("double") * threshold - 1e-9)
      .select(col("a"), col("b"),
        round(inter / (col("_na") + col("_nb") - inter), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    Scratch.materializeThenFree(pairs, toks)
  }

  /** EXACT corpus-wide Jaccard pairs via prefix filtering (AllPairs —
    * Bayardo, Ma & Srikant, WWW'07): every pair of documents with
    * distinct-token Jaccard ≥ threshold, with NO blocking key and NO
    * probabilistic recall loss — the exact counterpart of
    * [[minhashPairs]] (whose LSH bands trade recall for cost) and the
    * unblocked generalization of [[ngramJaccardPairs]] (whose lang+source
    * blocking misses cross-block pairs by construction).
    *
    * How it stays sub-quadratic: tokens get a GLOBAL rare-first total
    * order (document frequency asc, token asc); each document keeps only
    * its first `n − ⌈t·n⌉ + 1` tokens under that order as its PREFIX.
    * Two documents with J ≥ t must share a prefix token (take the
    * order-smallest common token w: at most `n − ⌈t·n⌉` tokens of either
    * doc precede w in its own sorted set, since everything before w is
    * outside the intersection and J ≥ t bounds the outside count) — so a
    * token-equi-join of prefixes generates ALL qualifying pairs, and the
    * rare-first order makes prefix postings short: candidate volume is
    * Σ_tok prefixDf(tok)², driven by rare tokens, not the corpus square.
    *
    * Output: (a, b, jaccard) with a < b, distinct — d2/d3's contract.
    *
    * Scale shape: one tokenize scan (persisted); a vocab-keyed df
    * aggregation (the t23b pattern — at 100 TB the df table is built once
    * and persisted); one doc-keyed sort to order each set; the prefix
    * equi-join; exact merge-scan verification on the candidate set only.
    * No cartesian anywhere (plan-asserted). The candidate stage runs at a
    * 1e-6-slacked threshold so pairs whose 6dp-ROUNDED Jaccard clears the
    * threshold are still generated (the final filter applies the exact
    * contract); the size-ratio prefilter carries [[ngramJaccardPairs]]'
    * 1e-9 float slack for the same reason.
    *
    * A PPJoin POSITIONAL filter (Xiao, Wang, Lin & Yu, WWW'08 — prune a
    * token match at ranks (i, j) unless min(n_a−i, n_b−j) ≥
    * t/(1+t)·(n_a+n_b)) was implemented and MEASURED OUT in r16: on a
    * near-dup corpus qualifying pairs share their RAREST tokens, so the
    * order-smallest common token sits early in both prefixes and the
    * bound prunes only 5.8 % of candidates (6.47 M → 6.10 M at sf0.1)
    * while widening the prefix relation by the rank column — isolated
    * min 5.45 → 5.93 s, scoped rows flat-to-worse. Evidence: the d20
    * stage split's `cand_pos` stage in OPTIMIZATION_r16.md;
    * the PipelineSpec 300/301 fixture pins the boundary pair any future
    * re-attempt must keep.
    */
  def prefixJaccardPairs(documents: DataFrame, threshold: Double = 0.8): DataFrame = {
    val tSlack = threshold - 1e-6
    // persisted: feeds the df count, the per-doc ordering, and both
    // verification joins — tokenize runs once
    val toks = documents.select(col("doc_id"),
        array_sort(array_distinct(TextAnalysis.tokens(col("text")))).as("_t"))
      .withColumn("_n", size(col("_t")))
      .filter(col("_n") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfTable = toks.select(explode(col("_t")).as("_tok"))
      .groupBy("_tok").agg(count(lit(1)).as("_df"))
    // each doc's tokens sorted under the global (df, token) order;
    // struct array_sort orders by fields left-to-right, token uniqueness
    // within a doc makes the result deterministic
    val ranked = toks
      .select(col("doc_id"), col("_n"), explode(col("_t")).as("_tok"))
      .join(dfTable, Seq("_tok"))
      .groupBy("doc_id", "_n")
      .agg(array_sort(collect_list(struct(col("_df"), col("_tok")))).as("_r"))
    // persisted: BOTH candidate-join sides read the prefix relation, and
    // persisting it does two things at once (r16,
    // measured by the d20 stage split in OPTIMIZATION_r16.md): the
    // ranked subtree (explode + df join +
    // per-doc (df,tok) sort) runs once instead of once per side, and the
    // join planner sees the relation's TRUE size instead of a
    // lazy-subtree underestimate — which had it broadcast-hashing a
    // corpus-sized posting relation (single-threaded driver build, and
    // the wrong shape at 100 TB, where prefix postings are corpus-scale
    // and must equi-shuffle, never broadcast). cand stage 12.0 s → 2.4 s
    // at sf0.1/32 cores.
    val prefix = ranked.select(col("doc_id"), col("_n"),
        explode(slice(col("_r"), lit(1),
          (col("_n") - ceil(col("_n") * lit(tSlack)) + 1).cast("int"))).as("_p"))
      .select(col("doc_id"), col("_n"), col("_p._tok").as("_tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = prefix
      .select(col("_tok"), col("doc_id").as("a"), col("_n").as("_na"))
      .join(prefix.select(col("_tok"), col("doc_id").as("b"),
        col("_n").as("_nb")), Seq("_tok"))
      .filter(col("a") < col("b") &&
        least(col("_na"), col("_nb")).cast("double") >=
          greatest(col("_na"), col("_nb")).cast("double") * tSlack - 1e-9)
      .select("a", "b").distinct()
    val inter = gtext.sortedIntersectCount(col("_ta"), col("_tb")).cast("double")
    val pairs = cand
      .join(toks.select(col("doc_id").as("a"), col("_t").as("_ta"),
        col("_n").as("_na")), Seq("a"))
      .join(toks.select(col("doc_id").as("b"), col("_t").as("_tb"),
        col("_n").as("_nb")), Seq("b"))
      .select(col("a"), col("b"),
        round(inter / (col("_na") + col("_nb") - inter), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    Scratch.materializeThenFree(pairs, toks, prefix)
  }

  /** [[prefixJaccardPairs]] over a BUCKETED scope — the production
    * composition of AllPairs. Corpus-wide exact Jaccard (d20) is
    * output-bounded: on a dup-heavy corpus the answer itself is huge, so
    * its cost scales with the duplicate mass regardless of algorithm.
    * Real pipelines instead run the exact verification stage *within*
    * candidate cells — LSH band clusters, SemDeDup cells, or (here)
    * per-(lang, source) buckets — where membership already bounds the
    * candidate volume, keeping the stage input-regime.
    *
    * Same algorithm as [[prefixJaccardPairs]] with two changes:
    *  - the rare-first token order comes from the GLOBAL document
    *    frequency table (built once, shared by every scope — at 100 TB
    *    this is a persisted artifact, not a per-bucket pass);
    *  - the prefix equi-join keys on (scope, token), so candidates only
    *    form inside a bucket and posting lists shrink to per-bucket
    *    length: candidate volume is Σ_{scope,tok} prefixDf², bounded by
    *    the largest bucket, not the corpus.
    *
    * With `scopeCols = lang, source` this computes exactly
    * [[ngramJaccardPairs]]' answer (d2) — the same contract, with the
    * within-block quadratic replaced by the prefix-filtered join that
    * survives a bucket too large to square. Passing a cluster-id column
    * (e.g. d8's component representative joined onto the docs) makes the
    * same operator the exact closure-verification stage for LSH cluster
    * output.
    */
  def prefixJaccardPairsScoped(documents: DataFrame, threshold: Double = 0.8,
      scopeCols: Seq[String] = Seq("lang", "source")): DataFrame = {
    val tSlack = threshold - 1e-6
    val scope = scopeCols.map(col)
    val toks = documents.select(col("doc_id") +: scope :+
        array_sort(array_distinct(TextAnalysis.tokens(col("text")))).as("_t"): _*)
      .withColumn("_n", size(col("_t")))
      .filter(col("_n") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // GLOBAL df — the total order must only be consistent, not
    // per-bucket-optimal, and one corpus-wide table amortizes across
    // every scope
    val dfTable = toks.select(explode(col("_t")).as("_tok"))
      .groupBy("_tok").agg(count(lit(1)).as("_df"))
    val ranked = toks
      .select(col("doc_id") +: scope :+ col("_n") :+
        explode(col("_t")).as("_tok"): _*)
      .join(dfTable, Seq("_tok"))
      .groupBy(col("doc_id") +: scope :+ col("_n"): _*)
      .agg(array_sort(collect_list(struct(col("_df"), col("_tok")))).as("_r"))
    val prefixLazy = ranked.select(col("doc_id") +: scope :+ col("_n") :+
        explode(slice(col("_r"), lit(1),
          (col("_n") - ceil(col("_n") * lit(tSlack)) + 1).cast("int"))).as("_p"): _*)
      .select(col("doc_id") +: scope :+ col("_n") :+
        col("_p._tok").as("_tok"): _*)
    // NOT persisted, unlike [[prefixJaccardPairs]] (r16, measured): the
    // scoped candidate join is bounded by per-bucket posting lengths, so
    // the double ranked build costs less than writing the prefix
    // relation to cache (isolated d21 1.67 s lazy vs 2.82 s persisted,
    // 1.84 s persisted+shuffle_hash — every variant lost to the lazy
    // plan at this volume, so the r15 shape stands).
    val prefix = prefixLazy
    val cand = prefix
      .select(col("_tok") +: scope :+ col("doc_id").as("a") :+
        col("_n").as("_na"): _*)
      .join(prefix.select(col("_tok") +: scope :+ col("doc_id").as("b") :+
        col("_n").as("_nb"): _*), "_tok" +: scopeCols)
      .filter(col("a") < col("b") &&
        least(col("_na"), col("_nb")).cast("double") >=
          greatest(col("_na"), col("_nb")).cast("double") * tSlack - 1e-9)
      .select("a", "b").distinct()
    val inter = gtext.sortedIntersectCount(col("_ta"), col("_tb")).cast("double")
    val pairs = cand
      .join(toks.select(col("doc_id").as("a"), col("_t").as("_ta"),
        col("_n").as("_na")), Seq("a"))
      .join(toks.select(col("doc_id").as("b"), col("_t").as("_tb"),
        col("_n").as("_nb")), Seq("b"))
      .select(col("a"), col("b"),
        round(inter / (col("_na") + col("_nb") - inter), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    Scratch.materializeThenFree(pairs, toks)
  }

  /** SimHash near-dup pairs (Charikar '02; Manku et al. WWW'07 table
    * construction): 64-bit fingerprint, split into 4 16-bit bands; pairs
    * sharing any band verify hamming distance ≤ maxHamming.
    *
    * Output: (a, b, hamming) with a < b, distinct.
    */
  def simhashPairs(documents: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 3): DataFrame = {
    // persisted: the banded self-join reads this twice; the cache keeps
    // the tokenize+md5 fingerprint scan single-pass
    val fps = documents.select(
      col(idCol).as("_id"),
      gtext.simhash(TextAnalysis.tokens(col(textCol))).as("_fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = fps.select(col("_id"), col("_fp"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("_fp"), b * 16).bitwiseAND(lit(0xffffL))): _*)))
      .withColumnsRenamed(Map("pos" -> "_band", "col" -> "_bucket"))
    val l = banded.select(col("_band"), col("_bucket"),
      col("_id").as("a"), col("_fp").as("_fpa"))
    val r = banded.select(col("_band"), col("_bucket"),
      col("_id").as("b"), col("_fp").as("_fpb"))
    val pairs = l.join(r, Seq("_band", "_bucket"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("_fpa").bitwiseXOR(col("_fpb"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    Scratch.materializeThenFree(pairs, fps)
  }

  /** Connected components over a near-duplicate pair graph, resolving the
    * `(a, b)` pair lists emitted by [[minhashPairs]] / [[simhashPairs]] /
    * [[embeddingNearDupPairs]] into clusters: every node maps to the
    * minimum id reachable through the pair relation (a ~ b, b ~ c ⟹ a, b, c
    * share one representative even when a ≁ c directly).
    *
    * Algorithm: alternating large-star / small-star contraction (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC '14) —
    * each round is two hash-shuffle group-by-node joins, no driver-side
    * union-find, and the edge set converges to per-component stars in
    * O(log n) rounds. Per round the lineage is truncated with an eager
    * `localCheckpoint` (at cluster scale point `spark.checkpoint.dir` at
    * durable storage and swap in `checkpoint` for executor-loss safety)
    * and convergence is detected by an edge-multiset checksum — one
    * count+xxhash64 aggregate action per round.
    *
    * Output: one row per node of the pair graph — `(id, rep_id)` with
    * `rep_id` = min id of the node's component (representatives map to
    * themselves). Documents in no pair are absent by construction (their
    * representative is trivially themselves).
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "a",
      bCol: String = "b", maxIter: Int = 30): DataFrame = {
    // (cardinality, xor-fold of row hashes): order-independent, overflow-
    // free under ANSI — equal iff the edge SET is (almost surely) equal
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // large-star: every node attaches its LARGER neighbors to the minimum
    // of its closed neighborhood; keeps high-degree stars shallow.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u").agg(min("v").as("_mn"))
        .select(col("u"), least(col("u"), col("_mn")).as("_m"))
      sym.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("_m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // small-star: every node rewires its SMALLER neighbors (and itself)
    // to the minimum of that set; edges oriented to the larger endpoint.
    // INPUT CONTRACT: edges already oriented u > v and distinct — exactly
    // [[largeStar]]'s output (`_m` ≤ u < v before its final swap, then
    // distinct), the only producer feeding it in the loop below. The
    // reorientation (greatest/least) and leading dedup the general form
    // pays were set-level no-ops on that input, but Spark still executed
    // the full (u, v) exchange for the distinct every round (r16,
    // guide §2.4 "remove shuffles outright": a distinct on data already
    // unique).
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("u").agg(min("v").as("_m"))
      val j = e.join(m, "u")
      j.select(col("v").as("u"), col("_m").as("v"))
        .union(j.select(col("u"), col("_m").as("v")).distinct())
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    var cur = pairs
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    var last = checksum(cur)
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      val next = smallStar(largeStar(cur)).localCheckpoint(true)
      val cs = checksum(next)
      converged = cs == last
      last = cs
      cur = next
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // converged edge set = stars (child, center): rep(u) = min closed nbr
    val sym = cur.union(cur.select(col("v").as("u"), col("u").as("v")))
    sym.groupBy("u").agg(min("v").as("_mn"))
      .select(col("u").as(aCol), least(col("u"), col("_mn")).as("rep_id"))
  }

  /** Near-dup cluster resolution: [[connectedComponents]] over the pair
    * graph plus the survivor-election metadata — for each clustered doc,
    * its representative (the component's min id, matching [[exact]]'s
    * keep-lowest contract) and the cluster size.
    *
    * Output: `(doc_id, rep_id, cluster_size)`, one row per doc appearing
    * in any pair.
    */
  def resolveClusters(pairs: DataFrame, aCol: String = "a",
      bCol: String = "b", idName: String = "doc_id"): DataFrame = {
    val rep = connectedComponents(pairs, aCol, bCol)
      .select(col(aCol).as(idName), col("rep_id"))
    val sizes = rep.groupBy("rep_id").agg(count(lit(1)).as("cluster_size"))
    rep.join(sizes, "rep_id").select(idName, "rep_id", "cluster_size")
  }

  /** The step that actually REMOVES near-duplicates from a corpus: drop
    * every clustered document except its component's representative
    * (min doc id — same survivor contract as [[exact]]). One LEFT ANTI
    * join on doc id against the non-representative cluster members; the
    * anti side is ids only (no text on the wire) and is typically small
    * enough to broadcast.
    */
  def nearDupSurvivors(documents: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", aCol: String = "a", bCol: String = "b"): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol)
      .filter(col(aCol) =!= col("rep_id"))
      .select(col(aCol).as(idCol))
    documents.join(losers, Seq(idCol), "left_anti")
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. '23):
    * k-means-cluster the embedding space, then emit intra-cluster pairs
    * with cosine ≥ threshold. Clustering bounds the quadratic term to
    * per-cluster sizes — the same blocking trick as [[ngramJaccardPairs]],
    * but the blocks are learned from the geometry instead of metadata, so
    * semantically-close vectors land together regardless of source/lang.
    *
    * Scale: centroid build is [[Similarity.kmeansCentroids]] (vectors
    * never shuffle; only centroid rows collect); assignment is the narrow
    * codegen'd argmax — two-level coarse→fine above 64 cells, so per-row
    * cost is O(√cells), and `maxCells` bounds the centroid set outright;
    * the pair join is an equi-shuffle on cell id with per-cell quadratic
    * verify — cells ≈ corpus/centroidEvery keeps cells bounded below the
    * cap (cell SIZE, the SemDeDup quality knob, stays ~centroidEvery).
    * Recall < 1 (a near-dup pair split across a cell boundary is missed)
    * — that is SemDeDup's documented trade; `nAssign > 1` is the recall
    * knob (asymmetric multi-probe, below); `singleCell = true` forces
    * one cell, making the output the exact all-pairs answer the d11b
    * oracle twin hash-checks.
    *
    * Default `nAssign = 8` targets ≥0.75 pair recall — measured on the
    * near-isotropic sf0.1 testdata (RECALL_r09.json, 0.85 at 8) under
    * ASYMMETRIC probing: one side of each candidate pair probes its
    * top-n cells, the other contributes only its primary cell, so
    * candidate volume is nAssign·N·occupancy — the symmetric
    * double-assignment this replaces squared it (nAssign²·N·occupancy)
    * and went superlinear at the 100× sweep. An unordered pair can
    * surface in both orientations, so the dedup is over ≤ 2 copies, not
    * nAssign². `maxCells = 65536` keeps cell occupancy ≈ `centroidEvery`
    * up to ~3M vectors (see [[Similarity.knnGraph]]'s sizing note — same
    * self-join cost law).
    */
  def semanticPairs(embeddings: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", threshold: Double = 0.45,
      centroidEvery: Int = 50, kmeansIters: Int = 2,
      singleCell: Boolean = false,
      maxCells: Int = 65536, nAssign: Int = 8, spill: Int = 2): DataFrame = {
    val cents =
      if (singleCell) Array.empty[(Long, Array[Float])]
      else Similarity.kmeansCentroids(
        embeddings, centroidEvery, kmeansIters, idCol, vecCol, maxCells)
    // asymmetric multi-probe over a lightly spilled index: the left side
    // probes its nAssign nearest cells, the right side sits in its spill
    // nearest cells (border vectors dominate the recall loss on isotropic
    // corpora — measured 0.85 → ≈0.94 pair recall at defaults,
    // RECALL_r10.json; the existing orientation-dedup distinct already
    // absorbs the ≤ 2·spill candidate copies). The exact path
    // (singleCell / nAssign ≤ 1) keeps primary-only on both sides.
    val spilled = !(singleCell || nAssign <= 1) && spill > 1
    // persisted: both join sides read it; the norm rides along so the
    // pair loop is a bare dot product (cosinePre is bit-identical to the
    // fused kernel). When spilled, ONE persisted probe ranking serves
    // both sides (spill cells = its prefix) — one assignment pass per
    // row instead of three (see [[Similarity.knnGraph]]).
    val assigned = embeddings
      .select(col(idCol).as("_id"), col(vecCol).as("_v"),
        (if (spilled)
           Similarity.probeCellsExpr(cents, col(vecCol),
             math.max(nAssign, math.min(spill, cents.length))).as("_probe")
         else if (singleCell) lit(0L).as("_cell")
         else Similarity.cellAssignExpr(cents, col(vecCol)).as("_cell")),
        gvec.norm(col(vecCol)).as("_n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // singleCell's constant join key would hash every row to ONE task —
    // the whole all-pairs verify on one core (r16, guide §2.5's
    // degenerate-key case). Salt it: each left row takes one
    // deterministic salt, the right side replicates across all salts, so
    // every unordered pair still meets exactly once (at the left row's
    // salt) and the quadratic loop spreads over the parallelism. Bounded:
    // the exact twin only ever runs on bounded slices, so the ≤ 64×
    // right-side replication is slice-sized, not corpus-sized.
    val saltN =
      if (singleCell)
        math.max(1, math.min(
          embeddings.sparkSession.sparkContext.defaultParallelism, 64))
      else 1
    val l =
      if (singleCell)
        assigned.select(
          pmod(xxhash64(col("_id")), lit(saltN.toLong)).as("_cell"),
          col("_id").as("a"), col("_v").as("_va"), col("_n").as("_na"))
      else if (nAssign <= 1)
        assigned.select(col("_cell"), col("_id").as("a"),
          col("_v").as("_va"), col("_n").as("_na"))
      else if (spilled) assigned.select(
        explode(slice(col("_probe"), 1, nAssign)).as("_cell"),
        col("_id").as("a"), col("_v").as("_va"), col("_n").as("_na"))
      else assigned.select(
        explode(Similarity.probeCellsExpr(cents, col("_v"), nAssign))
          .as("_cell"),
        col("_id").as("a"), col("_v").as("_va"), col("_n").as("_na"))
    val r =
      if (singleCell)
        assigned.select(
          explode(array((0 until saltN).map(i => lit(i.toLong)): _*))
            .as("_cell"),
          col("_id").as("b"), col("_v").as("_vb"), col("_n").as("_nb"))
      else if (!spilled)
        assigned.select(col("_cell"), col("_id").as("b"),
          col("_v").as("_vb"), col("_n").as("_nb"))
      else assigned.select(
        explode(slice(col("_probe"), 1, math.min(spill, cents.length)))
          .as("_cell"),
        col("_id").as("b"), col("_v").as("_vb"), col("_n").as("_nb"))
    // shuffle_hash: skip SortMergeJoin's two full sorts on the
    // low-cardinality cell key; non-spilling build side — see the memory
    // envelope note at [[Similarity.knnGraph]]'s hint site (same law:
    // build bytes/partition ≈ rows/shuffle.partitions × row width)
    val joined = l.join(r.hint("shuffle_hash"), Seq("_cell"))
    val cos = round(
      gvec.cosinePre(col("_va"), col("_vb"), col("_na"), col("_nb")), 6)
    // primary-primary join: both orientations arise symmetrically, so
    // a < b alone emits each unordered pair exactly once (the d11b-exact
    // path, byte-identical to prior behavior). Asymmetric probing: a
    // pair is caught when EITHER side's probes cover the other's primary
    // cell — normalize to a < b and dedup the ≤ 2 orientation copies.
    val base =
      if (singleCell || nAssign <= 1)
        joined.filter(col("a") < col("b"))
          .select(col("a"), col("b"), cos.as("cosine"))
      else
        joined.filter(col("a") =!= col("b"))
          .select(least(col("a"), col("b")).as("a"),
            greatest(col("a"), col("b")).as("b"),
            cos.as("cosine"))
          .distinct()
    val pairs = base.filter(col("cosine") >= threshold)
    Scratch.materializeThenFree(pairs, assigned)
  }

  /** The corpus that SURVIVES semantic dedup: [[semanticPairs]] resolved
    * through [[connectedComponents]], non-representatives dropped (min-id
    * survivor, the package-wide contract). One row per kept vector.
    */
  def semanticSurvivors(embeddings: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", threshold: Double = 0.45,
      centroidEvery: Int = 50, kmeansIters: Int = 2,
      singleCell: Boolean = false, maxCells: Int = 65536,
      nAssign: Int = 8): DataFrame =
    nearDupSurvivors(
      embeddings.select(col(idCol)),
      semanticPairs(embeddings, idCol, vecCol, threshold, centroidEvery,
        kmeansIters, singleCell, maxCells = maxCells,
        nAssign = nAssign),
      idCol)

  /** Embedding near-duplicate pairs: random-hyperplane LSH (Charikar '02
    * §3) buckets vectors by the sign pattern of `nPlanes` fixed random
    * projections; pairs within a bucket verify exact cosine ≥ threshold.
    *
    * Scale: one shuffle on the sign-pattern bucket; vectors only cross the
    * wire once. More tables (`nTables`) raise recall; candidates dedup
    * before verification.
    */
  def embeddingNearDupPairs(embeddings: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", dim: Int = 64, threshold: Double = 0.99,
      nPlanes: Int = 12, nTables: Int = 4, seed: Int = 7): DataFrame = {
    Similarity.requireVectorDim(embeddings, vecCol, dim,
      "embeddingNearDupPairs")
    val planes = Similarity.randomPlanes(nTables * nPlanes, dim, seed)
    val buckets = (0 until nTables).map { t =>
      val bits = (0 until nPlanes).map { p =>
        when(gvec.dot(col(vecCol), Similarity.planeLit(planes(t * nPlanes + p)))
          >= 0, 1L << p).otherwise(0L)
      }.reduce(_.bitwiseOR(_))
      struct(lit(t).as("t"), bits.as("h"))
    }
    // persisted: 48 plane dot-products + the norm per vector feed both
    // join sides; verification pairs then cost one dot product each
    val banded = embeddings
      .select(col(idCol).as("_id"), col(vecCol).as("_v"),
        gvec.norm(col(vecCol)).as("_n"),
        explode(array(buckets: _*)).as("_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = banded.select(col("_b"), col("_id").as("a"),
      col("_v").as("_va"), col("_n").as("_na"))
    val r = banded.select(col("_b"), col("_id").as("b"),
      col("_v").as("_vb"), col("_n").as("_nb"))
    val pairs = l.join(r, Seq("_b"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(gvec.cosinePre(col("_va"), col("_vb"), col("_na"), col("_nb")), 6)
          .as("cosine"))
      .distinct()
      .filter(col("cosine") >= threshold)
    Scratch.materializeThenFree(pairs, banded)
  }

  /** Pairwise source-overlap matrix: exact Jaccard + directional
    * containment between the distinct-shingle VOCABULARIES of every pair
    * of sources — the corpus-curation analytic behind mixture decisions
    * (which sources substantially duplicate each other, which are
    * near-subsets worth dropping before [[minhashPairs]] ever runs
    * doc-level). One row per unordered source pair, zero-overlap pairs
    * included (`containment_a` = |A∩B|/|A| — how much of source a's
    * vocabulary source b already covers).
    *
    * Scale shape (r16 — one exchange instead of three, guide §2.4): the
    * text is scanned ONCE and aggregated by shingle hash into the
    * per-hash SOURCE SET (sorted; ≤ #sources elements — the same partial
    * aggregation that a distinct would do, keyed the way every consumer
    * needs). Per-source vocabulary sizes fall out by exploding the sets
    * (each hash contributes one row per member source — exactly the
    * distinct (source, hash) relation); pairwise intersections fall out
    * by exploding each set's i < j combinations (cost Σ_h deg(h)²/2 with
    * deg ≤ #sources — never doc×doc, and never re-shuffled: the pair
    * rows partial-aggregate to sources² in place). The r15 form built a
    * distinct (source, hash) relation and equi-self-joined it on hash —
    * the same candidate volume but two extra vocabulary-sized exchanges
    * (both join sides) on top of the distinct's. No signatures, no
    * sampling: the statistic is exact, so it composes with threshold
    * policies downstream.
    */
  def sourceOverlap(documents: DataFrame, textCol: String = "text",
      srcCol: String = "source", shingleW: Int = 3,
      seed: Int = 42): DataFrame = {
    // persisted: the per-hash source-set relation — whose construction is
    // the only corpus-sized work — feeds the sizes aggregate AND the
    // pair expansion; without the persist the corpus is tokenized+
    // shingled twice. sort_array: ascending binary order, so the slice
    // expansion below emits exactly the src_a < src_b pairs the old
    // self-join's filter kept.
    val sets = documents.select(col(srcCol).as("_src"),
        explode(gtext.shingleHashes(
          TextAnalysis.tokens(col(textCol)), shingleW, seed)).as("_h"))
      .groupBy("_h").agg(sort_array(collect_set(col("_src"))).as("_ss"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sets.select(explode(col("_ss")).as("_src"))
      .groupBy("_src").agg(count(lit(1)).as("_n"))
    val inter = sets.filter(size(col("_ss")) >= 2)
      .select(posexplode(col("_ss")).as(Seq("_i", "src_a")), col("_ss"))
      .select(col("src_a"), explode(slice(col("_ss"), col("_i") + lit(2),
        size(col("_ss")))).as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("_i"))
    // the all-pairs frame is sources² rows (bounded analytics output);
    // both the size relation and the intersection counts broadcast
    val out = sizes.select(col("_src").as("src_a"), col("_n").as("_na"))
      .join(broadcast(sizes.select(col("_src").as("src_b"), col("_n").as("_nb"))))
      .filter(col("src_a") < col("src_b"))
      .join(broadcast(inter), Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("_i"), lit(0L)).as("n_shared"),
        round(coalesce(col("_i"), lit(0L)).cast("double") /
          (col("_na") + col("_nb") - coalesce(col("_i"), lit(0L)))
            .cast("double"), 6).as("jaccard"),
        round(coalesce(col("_i"), lit(0L)).cast("double") /
          col("_na").cast("double"), 6).as("containment_a"),
        round(coalesce(col("_i"), lit(0L)).cast("double") /
          col("_nb").cast("double"), 6).as("containment_b"))
    Scratch.materializeThenFree(out, sets)
  }
}
