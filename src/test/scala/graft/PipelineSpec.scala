package graft

import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Unit specs for the training-data pipeline operators over crafted
  * fixtures (dedup recall/precision, similarity ranking, text metrics).
  */
class PipelineSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
  }

  test("exact dedup keeps lowest id per normalized text") {
    val d = docs(
      1L -> "Hello   World", 2L -> "hello world", 3L -> "different doc",
      4L -> " HELLO WORLD")
    // 1,2,4 normalize identically ("hello world") -> keep 1; 3 kept
    val kept = Dedup.exact(d).collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L))
  }

  test("minhash LSH finds a true near-dup pair and skips dissimilar docs") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"token$i").mkString(" ") + " tokenX tokenY"
    val other = (100 to 140).map(i => s"word$i").mkString(" ")
    val d = docs(1L -> base, 2L -> nearDup, 3L -> other)
    val pairs = Dedup.minhashPairs(d, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((1L, 2L)))
  }

  test("simhash pairs flag small-hamming fingerprints only") {
    val base = (1 to 60).map(i => s"token$i").mkString(" ")
    val tweaked = (1 to 59).map(i => s"token$i").mkString(" ") + " tokenZZ"
    val other = (100 to 160).map(i => s"word$i").mkString(" ")
    val d = docs(1L -> base, 2L -> tweaked, 3L -> other)
    val pairs = Dedup.simhashPairs(d, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngram jaccard matches hand-computed similarity") {
    val d = docs(1L -> "a b c d", 2L -> "a b c e", 3L -> "x y z w")
    val rows = Dedup.ngramJaccardPairs(d, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // |{a,b,c}| / |{a,b,c,d,e}| = 3/5
    assert(rows === Map((1L, 2L) -> 0.6))
  }

  test("prefix jaccard equals unblocked brute force on random corpora") {
    import spark.implicits._
    // random docs over a small vocab (forces near-threshold ties and
    // shared rare tokens), plus exact dup and disjoint controls
    val rnd = new scala.util.Random(23)
    val vocab = Array.tabulate(30)(i => s"w$i")
    val body = (1L to 60L).map { id =>
      (id, rnd.shuffle(vocab.toSeq).take(4 + rnd.nextInt(8)).mkString(" "))
    }
    // 200/201: J = 4/5 = 0.8 EXACTLY — exercises the float-slack path
    // (0.8*5 rounds above 4.0 in binary; the 1e-9 slack must keep the
    // size prefilter and the prefix length from dropping the pair)
    // 300/301: the candidate stage's exact-boundary pair — 9 tokens
    // each, 8 shared, the unshared token (df = 1) rarest in each doc, so
    // the smallest COMMON token sits at rank 1 (0-based) of both docs: it
    // is the LAST slot of both prefixes (length 9 − ⌈.8·9⌉ + 1 = 2), and
    // the PPJoin positional overlap bound (measured out in r16, see the
    // operator scaladoc — any re-attempt must keep this pair) holds with
    // equality: min(9-1, 9-1) = 8 = ceil(0.8/1.8 * 18). An off-by-one in
    // the prefix length, a lost float slack, or an over-aggressive
    // candidate filter drops this pair; brute force keeps it
    // (J = 8/10 = 0.8).
    val shared8 = (1 to 8).map(i => s"c$i").mkString(" ")
    val d = (body :+ (100L -> body.head._2) :+ (101L -> "zz1 zz2 zz3")
      :+ (200L -> "p0 p1 p2 p3") :+ (201L -> "p0 p1 p2 p3 p4")
      :+ (300L -> s"u1 $shared8") :+ (301L -> s"u2 $shared8"))
      .toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.8)) {
      val got = graft.pipeline.Dedup.prefixJaccardPairs(d, threshold = t)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      // brute force: every unordered pair, exact distinct-token jaccard
      val sets = d.collect().map(r => r.getLong(0) ->
        r.getString(1).trim.toLowerCase.split("\\s+").toSet).toMap
      val expect = (for {
        a <- sets.keys; b <- sets.keys if a < b
        i = (sets(a) & sets(b)).size.toDouble
        j = math.rint(1e6 * i / (sets(a).size + sets(b).size - i)) / 1e6
        if j >= t
      } yield (a, b) -> j).toMap
      assert(got === expect, s"threshold $t")
    }
  }

  test("scoped prefix jaccard equals per-bucket brute force, never crosses buckets") {
    import spark.implicits._
    // two buckets sharing identical texts: cross-bucket twins (J = 1.0)
    // must NOT pair; within-bucket answers must equal brute force
    val rnd = new scala.util.Random(31)
    val vocab = Array.tabulate(25)(i => s"w$i")
    val rows = (1L to 50L).map { id =>
      val scope = if (id % 2 == 0) "en" else "de"
      (id, scope, "src" + (id % 3),
        rnd.shuffle(vocab.toSeq).take(4 + rnd.nextInt(6)).mkString(" "))
    } :+ ((100L, "en", "src0", "q1 q2 q3 q4")) :+
      ((101L, "de", "src0", "q1 q2 q3 q4")) :+ // cross-lang twin of 100
      ((102L, "en", "src0", "q1 q2 q3 q4"))    // same-bucket twin of 100
    val d = rows.toDF("doc_id", "lang", "source", "text")
    val got = graft.pipeline.Dedup.prefixJaccardPairsScoped(d, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val info = d.collect().map(r => r.getLong(0) ->
      ((r.getString(1), r.getString(2)),
        r.getString(3).trim.toLowerCase.split("\\s+").toSet)).toMap
    val expect = (for {
      a <- info.keys; b <- info.keys
      if a < b && info(a)._1 == info(b)._1
      i = (info(a)._2 & info(b)._2).size.toDouble
      j = math.rint(1e6 * i / (info(a)._2.size + info(b)._2.size - i)) / 1e6
      if j >= 0.5
    } yield (a, b) -> j).toMap
    assert(got === expect)
    assert(got.contains((100L, 102L)) && !got.contains((100L, 101L)))
  }

  test("cluster resolution: transitive chain collapses to one survivor") {
    import spark.implicits._
    // a~b, b~c but a!~c: transitive closure must still produce ONE cluster
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val got = Dedup.resolveClusters(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === Map(
      1L -> ((1L, 3L)), 2L -> ((1L, 3L)), 3L -> ((1L, 3L)),
      10L -> ((10L, 2L)), 11L -> ((10L, 2L))))
  }

  test("connected components converge on a long path and a cycle") {
    import spark.implicits._
    // path 0-1-2-...-19 (diameter 19 forces multiple star rounds) plus a
    // 3-cycle with reversed/duplicate edges
    val path = (0L until 19L).map(i => (i, i + 1))
    val cyc = Seq((102L, 101L), (101L, 100L), (100L, 102L), (102L, 101L))
    val rep = Dedup.connectedComponents((path ++ cyc).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 19L).forall(rep(_) === 0L))
    assert(Seq(100L, 101L, 102L).forall(rep(_) === 100L))
    assert(rep.size === 23)
  }

  test("near-dup survivors keep min id per cluster, singletons untouched") {
    import spark.implicits._
    val d = docs(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e")
    val pairs = Seq((2L, 3L), (3L, 5L)).toDF("a", "b")
    val kept = Dedup.nearDupSurvivors(d, pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L, 4L))  // 3,5 lose to 2; 1,4 not clustered
  }

  test("brute-force cosine top-k ranks by true cosine with deterministic ties") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0.9f, 0.1f, 0f)),
      (2L, Array(0f, 1f, 0f)), (3L, Array(1f, 0.05f, 0f)),
      (4L, Array(-1f, 0f, 0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteCosineTopK(vecs, vecs.filter($"vec_id" === 0L), k = 3)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(top.toSeq === Seq((3L, 1), (1L, 2), (2L, 3)))
  }

  test("IVF top-k achieves high recall vs brute force on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteCosineTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfCosineTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
  }

  test("full-probe augmented IVF MIPS equals brute MIPS exactly") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    // the query's 0 component annihilates the augmentation term in the
    // same fixed-order dot kernel — scores (not just ranks) must match
    assert(key(Similarity.ivfMipsTopK(emb, queries, k = 5,
        nProbe = Int.MaxValue, kmeansIters = 0))
      === key(Similarity.bruteMipsTopK(emb, queries, k = 5)))
  }

  test("k-means refinement does not degrade assignment quality") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def inertia(cents: Array[(Long, Array[Float])]): Double = {
      val lits = cents.map { case (_, v) =>
        org.apache.spark.sql.functions.array(v.map(x =>
          org.apache.spark.sql.functions.lit(x)).toIndexedSeq: _*) }
      val best = lits.map(c =>
        graft.functions.vector.cosine(col("embedding"), c))
        .reduce((a, b) => greatest(a, b))
      emb.select(avg(best)).collect().head.getDouble(0)
    }
    val init = Similarity.kmeansCentroids(emb, iters = 0)
    val refined = Similarity.kmeansCentroids(emb, iters = 3)
    // mean best-cell cosine (higher = tighter cells) must not get worse
    assert(inertia(refined) >= inertia(init) - 1e-6)
  }

  test("kmeansCentroids: maxCells caps the budget with a consistent seed prefix") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val uncapped = Similarity.kmeansCentroids(emb, centroidEvery = 2, iters = 0)
    assert(uncapped.length > 64) // ~250 seeds: the regime the cap exists for
    val capped = Similarity.kmeansCentroids(emb, centroidEvery = 2, iters = 0,
      maxCells = 40)
    assert(capped.length === 40)
    val uncappedIds = uncapped.map(_._1).toSet
    assert(capped.map(_._1).forall(uncappedIds)) // a subset, not a resample
  }

  test("two-level assignment agrees with flat argmax on centroid self-lookup") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val cents = Array.tabulate(120)(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    // query each centroid's own vector: flat argmax finds it (sim = 1);
    // the coarse level must route to the group that contains it
    val df = cents.toSeq.map { case (id, v) => (id, v) }
      .toDF("vec_id", "embedding")
    val (coarse, gids, gcents) = Similarity.coarseGroups(cents)
    assert(gids.map(_.length).sum === cents.length) // every fine cell grouped
    val both = df.select(
      graft.functions.vector.nearestCentroid(
        col("embedding"), cents.map(_._1), cents.map(_._2)).as("flat"),
      graft.functions.vector.nearestCentroidTwoLevel(
        col("embedding"), coarse, gids, gcents).as("two"))
      .collect()
    both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("nearestCells: best-first order, element 0 = flat argmax, full probe = all cells") {
    import spark.implicits._
    val rnd = new scala.util.Random(12)
    val cents = Array.tabulate(80)(i =>
      (i.toLong * 3, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val vecs = Seq.tabulate(50)(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val rows = vecs.select(
      graft.functions.vector.nearestCentroid(
        col("embedding"), cents.map(_._1), cents.map(_._2)).as("flat"),
      graft.functions.vector.nearestCells(
        col("embedding"), cents.map(_._1), cents.map(_._2), 3).as("top3"),
      graft.functions.vector.nearestCells(
        col("embedding"), cents.map(_._1), cents.map(_._2),
        Int.MaxValue).as("all"))
      .collect()
    val idSet = cents.map(_._1).toSet
    rows.foreach { r =>
      val top3 = r.getSeq[Long](1)
      val all = r.getSeq[Long](2)
      assert(top3.head === r.getLong(0))     // probe 1 = the assignment cell
      assert(all.size === cents.length && all.toSet === idSet)
      assert(all.take(3) === top3)           // prefix-consistent selection
    }
  }

  test("random projection: kernel output matches a driver-side recompute exactly") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 5)
    val signs = Similarity.rpSigns(16, 64)
    val expected = emb.collect().flatMap { r =>
      val id = r.getLong(r.fieldIndex("vec_id"))
      val v = r.getSeq[Float](r.fieldIndex("embedding")).toArray
      signs.indices.map { p =>
        val acc = v.indices.map(d =>
          signs(p)(d) * math.floor(v(d).toDouble * 1e6).toLong).sum
        (id, p, acc)
      }
    }.toSet
    val got = Similarity.randomProjection(emb)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === expected)
  }

  test("random projection preserves relative distances (JL property)") {
    import spark.implicits._
    // a planted near-dup pair must stay FAR closer in the projected space
    // than typical random pairs — the JL property dedup/ANN actually rely
    // on. (Pairwise distances of a uniform cloud concentrate, so a plain
    // correlation over random pairs is a weak signal at k=16; the planted
    // contrast is the sharp one.)
    val rnd = new scala.util.Random(17)
    val base = Array.tabulate(30)(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val twin = (100L, base(0)._2.map(v => v + (rnd.nextFloat() - 0.5f) * 0.01f))
    val emb = (base :+ twin).toSeq.toDF("vec_id", "embedding")
    val proj = Similarity.randomProjection(emb).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getInt(1)).map(_.getLong(2).toDouble / 1e6)
      }
    def d2p(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val twinDist = d2p(proj(0L), proj(100L))
    val randomDists = for (i <- 1L until 30L) yield d2p(proj(0L), proj(i))
    val median = randomDists.sorted.apply(randomDists.size / 2)
    assert(twinDist < median * 0.05,
      s"planted near-pair not preserved: $twinDist vs median $median")
  }

  test("IVF full probe equals brute force through the two-level assignment path") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // centroidEvery = 2 → ~250 cells > FlatAssignMax → two-level assignment;
    // probing every cell is exhaustive, so any assignment must yield brute
    val ivf = Similarity.ivfCosineTopK(emb, queries, k = 5,
      nProbe = Int.MaxValue, centroidEvery = 2, kmeansIters = 0)
    assert(key(ivf) === key(Similarity.bruteCosineTopK(emb, queries, k = 5)))
  }

  test("streaming IVF append: late vectors land in the index and are probed") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(3)
    val base = (0L until 100L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val corpus = base.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    val centroids = Similarity.buildIvfIndex(corpus, s"$dir/index",
      centroidEvery = 10)
    // a query vector, then stream in a near-identical late twin
    val qv = base(7)._2
    val twin = qv.map(v => v * 1.001f)
    val input = MemoryStream[(Long, Array[Float])]
    val q = Similarity.streamIntoIvfIndex(
      input.toDF().toDF("vec_id", "embedding"), s"$dir/index", centroids,
      s"$dir/ckpt")
    try {
      input.addData((999L, twin))
      q.processAllAvailable()
    } finally q.stop() // a throwing batch must not leak a live query
    val queries = Seq((7L, qv)).toDF("vec_id", "embedding")
    val top = Similarity.ivfCosineTopKIndexed(spark, s"$dir/index",
      centroids, queries, k = 1)
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    // the appended twin must be probed (same cell as its near-copy) and
    // outrank every build-time vector
    assert(top.toSeq === Seq((999L, 1)))
    // file-count contract under streaming appends: the build landed one
    // file per cell and the append one file in the single touched cell —
    // no per-task fan-out (the metadata-wall failure mode)
    new java.io.File(s"$dir/index").listFiles()
      .filter(_.getName.startsWith("cell_id=")).foreach { d =>
        val n = d.listFiles().count(_.getName.endsWith(".parquet"))
        assert(n <= 2, s"${d.getName}: $n files after one append")
      }
  }

  test("streaming retrieval: per-batch top-k matches the batch probe, " +
      "exactly once, and sees mid-stream ingest") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(11)
    val base = (0L until 200L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val corpus = base.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_serve").toString
    val centroids = Similarity.buildIvfIndex(corpus, s"$dir/index",
      centroidEvery = 10)
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamRetrieve.retrievalLoop(
      input.toDF().toDF("vec_id", "embedding"), s"$dir/index", centroids,
      s"$dir/out", s"$dir/ckpt", k = 3)
    try {
      // batch 1: two of the corpus's own vectors as queries
      val qs1 = Seq(base(5), base(17))
      input.addData(qs1: _*)
      q.processAllAvailable()
      val got1 = spark.read.parquet(s"$dir/out")
        .select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want1 = Similarity.ivfCosineTopKIndexed(spark, s"$dir/index",
        centroids, qs1.toDF("vec_id", "embedding"), k = 3)
        .select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got1 === want1)
      // mid-stream ingest: a near-twin of query 5 lands in the index …
      Similarity.appendToIvfIndex(s"$dir/index", centroids,
        Seq((999L, base(5)._2.map(_ * 1.001f))).toDF("vec_id", "embedding"))
      // … and the NEXT batch's probe retrieves it at rank 1
      input.addData(base(5))
      q.processAllAvailable()
      val afterIngest = spark.read.parquet(s"$dir/out")
        .filter(col("neighbor_id") === 999L).collect()
      assert(afterIngest.nonEmpty)
      // exactly once: draining with no new data appends nothing
      val n = spark.read.parquet(s"$dir/out").count()
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/out").count() === n)
    } finally q.stop()
  }

  test("streaming retrieval: the mounted v19 monitor emits a recall row " +
      "per cadence and degrades when the pinned snapshot goes stale") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(13)
    val base = (0L until 200L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val corpus = base.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_drift").toString
    val centroids = Similarity.buildIvfIndex(corpus, s"$dir/index",
      centroidEvery = 10)
    val holdout = base.take(10).toDF("vec_id", "embedding")
    val input = MemoryStream[(Long, Array[Float])]
    // nProbe >= cells: the approx side is exact over its SNAPSHOT, so any
    // recall loss is attributable to snapshot staleness alone
    val q = graft.streaming.StreamRetrieve.retrievalLoop(
      input.toDF().toDF("vec_id", "embedding"), s"$dir/index", centroids,
      s"$dir/out", s"$dir/ckpt", k = 3, nProbe = centroids.length,
      refreshEvery = Int.MaxValue, holdout = holdout,
      metricsEvery = 1, metricsPath = s"$dir/metrics")
    try {
      input.addData(base(3))
      q.processAllAvailable()
      val fresh = spark.read.parquet(s"$dir/metrics").collect()
      assert(fresh.length === 1, "one recall row per metrics cadence")
      val freshRecall = fresh.head.getAs[Double]("recall_at_k")
      assert(freshRecall === 1.0,
        "full-probe recall over a fresh pin must be exact")
      assert(fresh.head.getAs[Long]("n_queries") === 10L)
      // near-twins of every holdout vector land in the index AFTER the
      // pin: the live exact set now prefers them, the pinned snapshot
      // cannot return them — the drift alarm must fire as lower recall
      Similarity.appendToIvfIndex(s"$dir/index", centroids,
        base.take(10).map { case (i, v) =>
          (1000L + i, v.map(_ * 1.001f)) }.toDF("vec_id", "embedding"))
      input.addData(base(4))
      q.processAllAvailable()
      val rows = spark.read.parquet(s"$dir/metrics")
        .orderBy("batch_id").collect()
      assert(rows.length === 2)
      val staleRecall = rows.last.getAs[Double]("recall_at_k")
      assert(staleRecall < freshRecall,
        s"stale pin must degrade recall (fresh=$freshRecall stale=$staleRecall)")
      // a SECOND ring of even-nearer twins lands after the pin: the
      // drift signal must now be a TREND the alarm can act on (r13 Next
      // #7) — ≥ 3 rows, recall non-increasing as staleness deepens,
      // strictly below the fresh reading at the end
      Similarity.appendToIvfIndex(s"$dir/index", centroids,
        base.take(10).map { case (i, v) =>
          (2000L + i, v.map(_ * 1.0005f)) }.toDF("vec_id", "embedding"))
      input.addData(base(5))
      q.processAllAvailable()
      val trend = spark.read.parquet(s"$dir/metrics")
        .orderBy("batch_id").collect()
        .map(_.getAs[Double]("recall_at_k")).toSeq
      assert(trend.length === 3, s"expected 3 recall rows, got $trend")
      assert(trend.sliding(2).forall(p => p(1) <= p(0)),
        s"recall must be non-increasing as the pin goes staler: $trend")
      assert(trend.last < trend.head,
        s"the trend must end strictly below the fresh reading: $trend")
    } finally q.stop()
  }

  test("streaming retrieval: a pinned snapshot serves steady-state and " +
      "hides appends until refresh") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(12)
    val base = (0L until 200L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val corpus = base.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_pin").toString
    val centroids = Similarity.buildIvfIndex(corpus, s"$dir/index",
      centroidEvery = 10)
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamRetrieve.retrievalLoop(
      input.toDF().toDF("vec_id", "embedding"), s"$dir/index", centroids,
      s"$dir/out", s"$dir/ckpt", k = 3, refreshEvery = Int.MaxValue)
    try {
      input.addData(base(7))
      q.processAllAvailable()
      // an append lands in the index AFTER the snapshot resolved …
      Similarity.appendToIvfIndex(s"$dir/index", centroids,
        Seq((999L, base(7)._2.map(_ * 1.001f))).toDF("vec_id", "embedding"))
      input.addData(base(7))
      q.processAllAvailable()
      // … and the pinned loop must NOT see it (snapshot semantics): the
      // twin would be rank 1 under refresh, absent under pin
      val pinned = spark.read.parquet(s"$dir/out")
        .filter(col("neighbor_id") === 999L).count()
      assert(pinned === 0L, "pinned snapshot leaked a post-resolve append")
      // the same query through a fresh resolve DOES see it
      val fresh = Similarity.ivfCosineTopKIndexed(spark, s"$dir/index",
        centroids, Seq(base(7)).toDF("vec_id", "embedding"), k = 3)
        .filter(col("neighbor_id") === 999L).count()
      assert(fresh === 1L)
    } finally q.stop()
  }

  test("bigramLift: a fixed collocation scores above independent pairs") {
    // 'new york' always adjacent (collocation); 'a b' co-occur by chance
    val collocated = Seq.fill(10)("new york").mkString(" filler ")
    val mixed = "a x a y b z b w a b " * 3
    val d = docs(1L -> collocated, 2L -> mixed)
    // join reorders columns — extract by NAME only (a positional read
    // would break, or spuriously CCE, on any column-order change)
    val byPair = TextAnalysis.bigramLift(d, minCount = 3).collect()
      .map(r => (r.getAs[String]("x"), r.getAs[String]("y")) ->
        ((r.getAs[Long]("cxy"), r.getAs[Long]("lift_c6")))).toMap
    val nyLift = byPair(("new", "york"))._2
    assert(nyLift > 1000000L, s"collocation lift $nyLift not positive-PMI")
    // every observed pair has positive count and the collocation tops them
    assert(byPair.values.forall(_._1 >= 3))
    assert(byPair.nonEmpty)
  }

  test("bloomDecontaminate equals the exact anti-join, keeps clean docs") {
    val corpus = docs(
      1L -> "the quick brown fox", 2L -> "an original document",
      3L -> "leaked benchmark item", 4L -> "another clean one",
      5L -> "LEAKED   benchmark ITEM") // normalizes equal to 3
    val benchmark = docs(100L -> "leaked benchmark item",
      101L -> "unrelated benchmark row")
    val exact = Dedup.decontaminate(corpus, benchmark)
      .collect().map(_.getLong(0)).toSet
    val bloomed = Dedup.bloomDecontaminate(corpus, benchmark)
      .collect().map(_.getLong(0)).toSet
    assert(exact === Set(1L, 2L, 4L))
    assert(bloomed === exact)
    // and with an aggressive fpp the exact check still rescues the result
    val sloppy = Dedup.bloomDecontaminate(corpus, benchmark, fpp = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(sloppy === exact)
  }

  test("weightedSample: rate-0 drops all, rate-1 keeps all, deterministic") {
    import spark.implicits._
    val d = (1L to 400L).map(i => (i, "text", "en", s"src${i % 4}"))
      .toDF("doc_id", "text", "lang", "source")
    val rates = Map("src0" -> 0.0, "src1" -> 1.0, "src2" -> 0.5)
    val keep = TextAnalysis.weightedSample(d, rates, defaultRate = 0.25)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val bySrc = keep.groupBy(_._2).view.mapValues(_.length).toMap
    assert(!bySrc.contains("src0"))
    assert(bySrc("src1") === 100)
    // md5 gate is uniform-ish: 0.5 of 100 → wide tolerance, zero flake
    assert(bySrc("src2") > 25 && bySrc("src2") < 75)
    assert(bySrc("src3") > 5 && bySrc("src3") < 50)
    // deterministic: the same call selects the same ids
    val again = TextAnalysis.weightedSample(d, rates, defaultRate = 0.25)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(keep.toSet === again.toSet)
  }

  test("mixtureResample: integer weights replicate exactly, fractions gate " +
      "the last epoch, deterministic") {
    import spark.implicits._
    val d = (1L to 400L).map(i => (i, "text", "en", s"src${i % 4}"))
      .toDF("doc_id", "text", "lang", "source")
    val weights = Map("src0" -> 0.0, "src1" -> 3.0, "src2" -> 2.5)
    val out = TextAnalysis.mixtureResample(d, weights, defaultWeight = 1.0)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val bySrc = out.groupBy(_._2)
    // weight 0 → gone; integer weight w → exactly w epochs of EVERY doc
    assert(!bySrc.contains("src0"))
    assert(bySrc("src1").length === 300)
    assert(bySrc("src1").groupBy(_._1).forall(_._2.map(_._3).sorted.toSeq
      == Seq(0, 1, 2)))
    assert(bySrc("src3").length === 100) // default 1.0: one epoch each
    assert(bySrc("src3").forall(_._3 == 0))
    // 2.5: epochs 0,1 complete (200 rows), epoch 2 is a ~0.5 hash sample
    val src2 = bySrc("src2")
    assert(src2.count(_._3 < 2) === 200)
    val frac = src2.count(_._3 == 2)
    assert(frac > 25 && frac < 75)
    // deterministic: same call, same multiset
    val again = TextAnalysis.mixtureResample(d, weights, defaultWeight = 1.0)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(out.sorted.toSeq === again.sorted.toSeq)
    // order_key is a pure function of (doc_id, epoch): the two epochs of
    // one doc get different keys (epoch salt), reruns agree
    val keys = TextAnalysis.mixtureResample(d, weights)
      .select("doc_id", "epoch", "order_key").collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
    assert(keys((5L, 0)) !== keys((5L, 1)))
  }

  test("greedyPack: packs respect the budget, oversized docs get " +
      "singletons, greedy within (source, shard)") {
    import spark.implicits._
    // token counts: doc i has i tokens (1..30) in one source, one shard
    val d = (1L to 30L)
      .map(i => (i, (1L to i).map(t => s"w$t").mkString(" "), "en", "srcA"))
      .toDF("doc_id", "text", "lang", "source")
    val out = TextAnalysis.greedyPack(d, budget = 20, shards = 1)
      .collect().map(r =>
        (r.getLong(0), r.getInt(3), r.getInt(4))).sortBy(_._1)
    assert(out.map(_._1).toSeq === (1L to 30L))
    val byPack = out.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    // every multi-doc pack within budget
    out.groupBy(_._3).foreach { case (p, docs) =>
      if (docs.length > 1) assert(byPack(p) <= 20,
        s"pack $p overflows: ${docs.mkString(",")}")
    }
    // every oversized doc (n > 20) is ALONE in its pack — asserted
    // directly (a doc sharing a pack would also trip the budget check,
    // but a regression that DROPS oversized docs must fail here, not
    // lean on the id-roundtrip above)
    out.filter(_._2 > 20).foreach { case (id, _, p) =>
      assert(out.count(_._3 == p) === 1, s"oversized doc $id shares pack $p")
    }
    // greedy: doc_id order is preserved into nondecreasing pack ids, and
    // a new pack only opens when the doc did not fit the previous one
    val seqs = out.map(_._3)
    assert(seqs.zip(seqs.tail).forall { case (a, b) => b == a || b == a + 1 })
    out.zip(out.tail).foreach { case ((_, _, p1), (_, n2, p2)) =>
      if (p2 == p1 + 1 && n2 <= 20)
        assert(byPack(p1) + n2 > 20, s"pack $p1 had room for next doc")
    }
    // sharded run: pack ids are local per shard, all docs still assigned
    val sharded = TextAnalysis.greedyPack(d, budget = 20, shards = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(4)))
    assert(sharded.map(_._1).sorted.toSeq === (1L to 30L))
    assert(sharded.map(_._2).distinct.sorted.toSeq.forall(s => s >= 0 && s < 3))
    // deterministic
    val again = TextAnalysis.greedyPack(d, budget = 20, shards = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(4)))
    assert(sharded.sorted.toSeq === again.sorted.toSeq)
  }

  test("tokenRarity: common-token docs score high, rare-token docs low") {
    val d = docs(
      1L -> "the the the the", // 'the' freq 5 → mean 5
      2L -> "the zzz",         // freqs 5,1 → mean 3
      3L -> "qqq www")         // freqs 1,1 → mean 1
    val got = TextAnalysis.tokenRarity(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) === ((4L, 5000000L)))
    assert(got(2L) === ((2L, 3000000L)))
    assert(got(3L) === ((2L, 1000000L)))
  }

  test("chunking: overlapping windows, clipped tail, stable chunk ids") {
    // 10 tokens, window 4, overlap 2 → stride 2 → starts 1,3,5,7,9
    val d = docs(1L -> (1 to 10).map(i => s"w$i").mkString(" "))
    val got = TextAnalysis.chunk(d, chunkTokens = 4, overlap = 2).collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getString(3))).sortBy(_._1)
    assert(got.length === 5)
    assert(got(0) === ((0, 4, "w1 w2 w3 w4")))
    assert(got(1) === ((1, 4, "w3 w4 w5 w6")))
    // the final window is clipped at the document end, not padded
    assert(got(4) === ((4, 2, "w9 w10")))
  }

  test("piiRedact scrubs emails, IPv4s and phones, and counts them") {
    val d = docs(
      1L -> "mail me at jane.doe+x@example.co.uk or call +34 91 123 4567",
      2L -> "server 10.0.255.7 and backup 192.168.1.1 are down",
      3L -> "no pii here at all",
      4L -> "two mails: a@b.io c.d@e-f.org one ip 8.8.8.8")
    val r = TextAnalysis.piiRedact(d).collect()
      .map(x => x.getLong(0) ->
        ((x.getString(1), x.getInt(2), x.getInt(3), x.getInt(4))))
      .toMap
    assert(r(1L) === (("mail me at <EMAIL> or call <PHONE>", 1, 0, 1)))
    assert(r(2L) === (("server <IP> and backup <IP> are down", 0, 2, 0)))
    assert(r(3L) === (("no pii here at all", 0, 0, 0)))
    assert(r(4L) === (("two mails: <EMAIL> <EMAIL> one ip <IP>", 2, 1, 0)))
  }

  test("sequencePack: per-source running offsets and budget-quantized packs") {
    import spark.implicits._
    // source A: 3 docs of 300 tokens each; budget 512 → offsets 0/300/600,
    // packs 0/0/1 (doc 2 straddles the boundary; its START decides)
    val text300 = (1 to 300).map(i => s"t$i").mkString(" ")
    val d = Seq(
      (1L, "A", text300), (2L, "A", text300), (3L, "A", text300),
      (10L, "B", text300))
      .toDF("doc_id", "source", "text").withColumn("lang", lit("en"))
      .select("doc_id", "text", "lang", "source")
    val got = TextAnalysis.sequencePack(d, budget = 512).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) === ((0L, 0L)))
    assert(got(2L) === ((300L, 0L)))
    assert(got(3L) === ((600L, 1L)))
    // source B packs independently from offset 0
    assert(got(10L) === ((0L, 0L)))
  }

  test("bpe: tokens reconstruct every word, ids cover the training " +
      "alphabet, and Unicode line separators never leak sentinels") {
    import spark.implicits._
    // U+2028 sits INSIDE a word: Java's ASCII \s+ split keeps it there,
    // so segmentation must wrap it like any other char ((?s) in bpeSeg0)
    // — an unwrapped char would emit raw \u0001/\u0002 sentinel bytes
    // into the client-visible tokens
    val d = Seq(
      (1L, "low low low lower lower newest newest newest newest widest"),
      (2L, "low lowest newest widest widest a\u2028b"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bpe_model").toString
    TextAnalysis.buildBpeModel(d, dir, numMerges = 8)
    val out = TextAnalysis.bpeTokenizeIndexed(spark, dir, d).collect()
    val toks = out.map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(toks.values.flatten.forall(t =>
      !t.contains("\u0001") && !t.contains("\u0002")))
    // concatenated subwords reconstruct the (lower-cased) text sans spaces
    assert(toks(1L).mkString ===
      "lowlowlowlowerlowernewestnewestnewestnewestwidest")
    assert(toks(2L).mkString === "lowlowestnewestwidestwidesta\u2028b")
    // every symbol seen in training (incl. \u2028) has a vocab id
    assert(out.flatMap(_.getSeq[Long](2)).forall(_ >= 0L))
    // n_tokens_bpe is the token count, and merges actually merged:
    // "newest" (freq 5) must be fewer than its 6 characters
    assert(out.forall(r => r.getLong(3) === r.getSeq[String](1).size.toLong))
    assert(toks(1L).size < "lowlowlowlowerlowernewestnewestnewestnewestwidest".length)
    // apply-time-only characters id as -1 but still tokenize
    val oov = TextAnalysis.bpeTokenizeIndexed(spark, dir,
      Seq((9L, "zq low")).toDF("doc_id", "text")).collect().head
    assert(oov.getSeq[String](1).mkString === "zqlow")
    assert(oov.getSeq[Long](2).contains(-1L))
  }

  test("bpe: the driver histogram trainer replays the per-round " +
      "distributed recurrence exactly (incl. ties), and the chunk-unit " +
      "form trains past word-level exhaustion") {
    import spark.implicits._
    // deliberate tie pressure: (l, o) and (o, w) both appear 3x in
    // "low low low"; the (l asc, r asc) tie-break must pick (l, o) in
    // BOTH trainers. Repeated-char runs ("aaa") exercise the
    // non-overlapping left-to-right replace semantics.
    val d = Seq(
      (1L, "low low low lower newest newest widest aaa aaa baab"),
      (2L, "newest lowest low aaa ab ba aaaa"))
      .toDF("doc_id", "text")
    val perRound = TextAnalysis.trainBpeMergesPerRound(d, numMerges = 24)
    val driver = TextAnalysis.trainBpeMerges(d, numMerges = 24)
    assert(driver === perRound)
    // exhaustion parity: both stop at the same (fully merged) point
    val perRoundAll = TextAnalysis.trainBpeMergesPerRound(d, numMerges = 500)
    val driverAll = TextAnalysis.trainBpeMerges(d, numMerges = 500)
    assert(driverAll === perRoundAll)
    assert(driverAll.size < 500, "tiny corpus must exhaust")
    // chunk units extend the merge space past word-level exhaustion:
    // 2-word chunks over the same corpus support strictly more merges
    val chunked = TextAnalysis.trainBpeMerges(d, numMerges = 500,
      chunkWords = 2)
    assert(chunked.size > driverAll.size)
    // vocabCap drops only the rarest units' votes — with a cap of 1 the
    // trainer sees ONLY the top-frequency unit ("low": freq 4), so the
    // merge table must be exactly that word's derivation
    val capped = TextAnalysis.trainBpeMerges(d, numMerges = 4, vocabCap = 1)
    assert(capped === Seq(("l", "o"), ("lo", "w")))
  }

  test("bpe: character-window units train merges that cross word " +
      "boundaries, and the char apply expression reconstructs the " +
      "normalized text") {
    import spark.implicits._
    val d = Seq(
      (1L, "low  low LOW lower newest newest widest aaa aaa baab"),
      (2L, "newest lowest low aaa ab ba aaaa")).toDF("doc_id", "text")
    val chars = TextAnalysis.trainBpeMerges(d, numMerges = 10000,
      unitChars = 8)
    assert(chars.nonEmpty)
    // spaces are ordinary symbols inside a window — full exhaustion on
    // this corpus must produce at least one merge spanning a word break
    assert(chars.exists { case (l, r) => (l + r).contains(" ") },
      "char-window mode must allow merges across word boundaries")
    // apply: tokens concatenate back to the normalized (lower-cased,
    // single-spaced) text — window boundaries never drop or dup chars
    val toks = d.select(col("doc_id"),
        graft.functions.text.bpeEncodeChars(col("text"), chars, 8).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(toks(1L).mkString ===
      "low low low lower newest newest widest aaa aaa baab")
    assert(toks(2L).mkString === "newest lowest low aaa ab ba aaaa")
    // apply-time-only characters degrade to single chars, never crash
    val oov = d.limit(1).select(graft.functions.text.bpeEncodeChars(
      lit("zq!? unseen"), chars, 8)).collect().head.getSeq[String](0)
    assert(oov.mkString === "zq!? unseen")
  }

  test("bpe: the native apply expression equals rank-order application " +
      "on chunked units, and missing merges degrade to characters") {
    import spark.implicits._
    val d = Seq((1L, "x y x y z"), (2L, "x y")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bpe2_model").toString
    TextAnalysis.buildBpeModel(d, dir, numMerges = 64, chunkWords = 2)
    val out = TextAnalysis.bpeTokenizeIndexed(spark, dir, d, chunkWords = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // chunk units: "x y", "x y", "z" for doc 1 — concatenation
    // reconstructs the chunked text (spaces INSIDE chunks survive)
    assert(out(1L).mkString === "x yx yz")
    assert(out(2L).mkString === "x y")
    // 64 merges fully merge these tiny chunks: "x y" is one symbol
    assert(out(2L) === Seq("x y"))
  }

  test("sourceCap keeps the `cap` longest docs per source") {
    import spark.implicits._
    val d = (1L to 6L).map(i => (i, "w " * i.toInt, "en", if (i <= 4) "A" else "B"))
      .toDF("doc_id", "text", "lang", "source")
    val kept = TextAnalysis.sourceCap(d, cap = 2).collect()
      .map(r => (r.getLong(0), r.getInt(2))).toMap
    // A keeps its two longest (4, 3); B keeps both of its docs
    assert(kept === Map(4L -> 1, 3L -> 2, 6L -> 1, 5L -> 2))
  }

  test("int8 quantization: q in [-127,127], dequantize error <= scale/2") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = Seq(
      (1L, Array.fill(8)(rnd.nextFloat() * 4 - 2)),
      (2L, Array.fill(8)(0f)), // zero vector must stay zero, not NaN
      (3L, Array(-2f, -1f, 0f, 1f, 2f, 0.5f, -0.5f, 1.27f)))
      .toDF("vec_id", "embedding")
    val q = Similarity.int8Quantize(vecs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    assert(q.length === 24)
    assert(q.forall { case (_, _, qi, _) => qi >= -127 && qi <= 127 })
    assert(q.filter(_._1 == 2L).forall { case (_, _, qi, s) => qi == 0 && s == 0.0 })
    val orig = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    q.filter(_._1 != 2L).foreach { case (id, i, qi, s) =>
      val err = math.abs(qi * s - orig(id)(i - 1))
      assert(err <= s / 2 + 1e-12, s"vec $id dim $i: err $err > ${s / 2}")
    }
    // the extreme element always hits full scale
    assert(q.filter(_._1 == 3L).map(_._3).min === -127)
  }

  test("int8 retrieval: quantized top-k overlaps float top-k heavily") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val corpus = (0L until 200L).map(i =>
      (i, Array.fill(32)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 10)
    def topk(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupMap(_._1)(_._2)
    val exact = topk(Similarity.bruteCosineTopK(corpus, queries, k = 5))
    val quant = topk(Similarity.int8CosineTopK(corpus, queries, k = 5))
    // int8 noise may swap near-ties, but recall@5 stays high
    val recall = exact.map { case (q, ns) =>
      ns.toSet.intersect(quant(q).toSet).size.toDouble / ns.length
    }.sum / exact.size
    assert(recall >= 0.8, s"quantized recall@5 $recall < 0.8")
  }

  test("pq: codes select the nearest codebook entry; ADC equals the " +
      "reconstructed dot in micro-units") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val corpus = (0L until 120L).map(i =>
      (i, Array.fill(32)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val m = 4; val kCodes = 8; val sub = 32 / m
    val cb = Similarity.pqCodebooks(corpus, m = m, k = kCodes)
    assert(cb.length === m && cb.forall(_.length === kCodes) &&
      cb.forall(_.forall(_.length === sub)))
    val raw = corpus.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // codebook s = sub-slices of the first kCodes vectors by id
    (0 until m).foreach(s => (0 until kCodes).foreach(j =>
      assert(cb(s)(j).toSeq === raw(j.toLong).slice(s * sub, (s + 1) * sub).toSeq)))
    val codes = Similarity.pqEncodeView(corpus, cb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    // every code is the argmin-L2 entry (reference recompute, ties → smallest)
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) {
        val t = a(i).toDouble - b(i).toDouble; d += t * t; i += 1 }
      d
    }
    raw.foreach { case (id, v) =>
      (0 until m).foreach { s =>
        val slice = v.slice(s * sub, (s + 1) * sub)
        val want = (0 until kCodes).minBy(j => (d2(slice, cb(s)(j)), j))
        assert(codes(id)(s) === want, s"vec $id sub $s")
      }
    }
    // ADC score ≡ per-subspace micro-floored dot against the DECODED vector
    val got = Similarity.pqTopK(corpus, corpus.filter($"vec_id" < 5), k = 3,
      m = m, codebookSize = kCodes, trainIters = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    got.foreach { case ((q, n), micro) =>
      val want = (0 until m).map { s =>
        val c = cb(s)(codes(n)(s))
        var p = 0.0; var i = 0
        while (i < sub) { p += raw(q)(s * sub + i).toDouble * c(i).toDouble; i += 1 }
        math.floor(1e6 * p).toLong
      }.sum
      assert(micro === want, s"query $q neighbor $n")
    }
  }

  test("pq retrieval: recall@5 vs exact MIPS clears the isotropic floor") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val corpus = (0L until 200L).map(i =>
      (i, Array.fill(32)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 10)
    def topk(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupMap(_._1)(_._2)
    val exact = topk(Similarity.bruteMipsTopK(corpus, queries, k = 5))
    // m=16 (sub=2) is a fine quantization of these 32-dim vectors
    val pq = topk(Similarity.pqTopK(corpus, queries, k = 5,
      m = 16, codebookSize = 16))
    val recall = exact.map { case (q, ns) =>
      ns.toSet.intersect(pq(q).toSet).size.toDouble / ns.length
    }.sum / exact.size
    // isotropic random data is space partitioning's worst case; the floor
    // here guards "quantization still retrieves", not production recall
    assert(recall >= 0.4, s"pq recall@5 $recall < 0.4")
  }

  test("ivfpq full probe is bit-identical to pure ADC; gated probe keeps " +
      "most of the ADC ranking") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val corpus = (0L until 300L).map(i =>
      (i, Array.fill(32)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3))
    val pure = rows(Similarity.pqTopK(corpus, queries, k = 5,
      m = 16, codebookSize = 16))
    // rerank = 0 isolates the ADC layer — the reranked form has its own
    // exactness test against brute MIPS below
    // nProbe ≥ nCells disables the gate: scores, ranks, AND tie-breaks
    // must match the pure ADC scan exactly (the v17b oracle contract)
    val full = rows(Similarity.ivfPqTopK(corpus, queries, k = 5,
      nProbe = Int.MaxValue, m = 16, codebookSize = 16, kmeansIters = 0,
      centroidEvery = 10, rerank = 0))
    assert(full.toSeq === pure.toSeq)
    // gated probe: candidates are a subset, so each returned pair's score
    // must equal the pure-ADC score for that pair (the gate prunes, it
    // never rescores), and recall vs the pure ADC ranking stays high
    val pureScore = pure.map(t => (t._1, t._2) -> t._4).toMap
    val gated = rows(Similarity.ivfPqTopK(corpus, queries, k = 5,
      nProbe = 4, m = 16, codebookSize = 16, centroidEvery = 10,
      rerank = 0))
    gated.foreach { case (q, n, _, micro) =>
      pureScore.get((q, n)).foreach(want =>
        assert(micro === want, s"rescored pair ($q,$n)"))
    }
    val pureTop = pure.groupMap(_._1)(_._2)
    val gatedTop = gated.groupMap(_._1)(_._2)
    val recall = pureTop.map { case (q, ns) =>
      ns.toSet.intersect(gatedTop.getOrElse(q, Array.empty[Long]).toSet)
        .size.toDouble / ns.length
    }.sum / pureTop.size
    assert(recall >= 0.5, s"ivfpq recall@5 vs pure ADC $recall < 0.5")
  }

  test("trainPqCodebooks: one Lloyd step matches a driver-side reference " +
      "recompute (micro-unit means, empty codes keep their seed)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val corpus = (0L until 90L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val m = 4; val kCodes = 8; val sub = 4
    val seed = Similarity.pqCodebooks(corpus, m = m, k = kCodes)
    val trained = Similarity.trainPqCodebooks(corpus, m = m, k = kCodes,
      iters = 1)
    val raw = corpus.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) {
        val t = a(i).toDouble - b(i).toDouble; d += t * t; i += 1 }
      d
    }
    // reference: assign every subslice to its argmin seed code (ties →
    // smallest j), then mean in exact integer micro-units
    (0 until m).foreach { s =>
      val assigned = raw.values.toSeq.map(_.slice(s * sub, (s + 1) * sub))
        .groupBy(slice => (0 until kCodes).minBy(j => (d2(slice, seed(s)(j)), j)))
      (0 until kCodes).foreach { j =>
        val want = assigned.get(j) match {
          case None => seed(s)(j).toSeq // empty code keeps its seed value
          case Some(slices) =>
            val n = slices.length.toDouble
            (0 until sub).map { i =>
              val micro = slices.map(sl =>
                math.floor(sl(i).toDouble * 1e6 + 0.5)).sum
              (math.floor(micro / n) / 1e6).toFloat
            }
        }
        assert(trained(s)(j).toSeq === want, s"subspace $s code $j")
      }
    }
  }

  test("reranked IVFPQ full probe with an all-covering shortlist IS brute " +
      "MIPS (the refine stage restores exact ranking)") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val corpus = (0L until 60L).map(i =>
      (i, Array.fill(32)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    // k·rerank = 5·12 = 60 ≥ the 59 candidates per query: the ADC
    // shortlist admits EVERYTHING, so the exact re-rank must reproduce
    // the brute-force MIPS ranking bit for bit — scores, ranks, ties
    val reranked = rows(Similarity.ivfPqTopK(corpus, queries, k = 5,
      nProbe = Int.MaxValue, m = 16, codebookSize = 16, kmeansIters = 0,
      rerank = 12))
    assert(reranked === rows(Similarity.bruteMipsTopK(corpus, queries, k = 5)))
    // and at the default bounded shortlist the output schema is the
    // reranked one (exact dot, not the ADC estimate)
    val bounded = Similarity.ivfPqTopK(corpus, queries, k = 5,
      nProbe = Int.MaxValue, m = 16, codebookSize = 16, kmeansIters = 0)
    assert(bounded.columns.toSeq ===
      Seq("query_id", "neighbor_id", "rank", "dot"))
  }

  test("embedding near-dup LSH finds an exact-duplicate vector") {
    import spark.implicits._
    val rnd = new scala.util.Random(1)
    val base = Array.fill(64)(rnd.nextFloat() * 2 - 1)
    val vecs = ((0 until 20).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1))) :+
      (100L, base) :+ (101L, base.map(v => v * 1.001f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(vecs, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((100L, 101L)))
  }

  test("token counts and quality score on a crafted doc") {
    val d = docs(1L -> "The quick brown fox and the lazy dog!")
    val t = TextAnalysis.tokenCounts(d).collect().head
    assert(t.getInt(1) === 8)       // whitespace tokens
    assert(t.getInt(2) === 7)       // 'the' appears twice lowercased
    val q = TextAnalysis.qualityScore(d).collect().head
    assert(q.getInt(1) === 37)      // len chars
    assert(q.getInt(2) === 8)       // n tokens
  }

  test("language ID picks the language with most stopword hits") {
    val d = docs(1L -> "el perro y la casa de que", 2L -> "the cat is of and")
    val got = TextAnalysis.langId(d).select("doc_id", "lang_guess")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "es", 2L -> "en"))
  }

  test("rolling fingerprint is edit-robust where md5 is not") {
    val a = "some long document text " * 10
    val b = a + "tail edit"
    val d = docs(1L -> a, 2L -> b)
    val md5s = TextAnalysis.md5Fingerprint(d).collect().map(_.getString(1))
    assert(md5s(0) !== md5s(1))
    val rolls = TextAnalysis.rollingFingerprint(d).collect().map(_.getLong(1))
    // min-rolling-hash over shared windows: identical despite the tail edit
    assert(rolls(0) === rolls(1))
  }

  test("tfidf ranks rare terms above common ones, tiebreak on term") {
    val d = docs(
      1L -> "apple banana shared shared",
      2L -> "cherry shared",
      3L -> "durian shared")
    val top1 = TextAnalysis.tfidfTopTerms(d, k = 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // 'shared' appears in every doc (df=3); each doc's unique term (df=1)
    // must outrank it even where 'shared' has tf=2
    assert(top1 === Map(1L -> "apple", 2L -> "cherry", 3L -> "durian"))
  }

  test("decontaminate drops normalized-text collisions with the benchmark") {
    val corpus = docs(1L -> "Keep me", 2L -> "LEAKED   doc", 3L -> "also kept")
    val bench = docs(10L -> "leaked doc", 11L -> "benchmark only")
    val kept = Dedup.decontaminate(corpus, bench)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L))  // 2 collides after normalization
  }

  test("sorted intersect count matches array_intersect semantics") {
    import spark.implicits._
    val d = Seq(
      (Array("a", "b", "c"), Array("b", "c", "d")),
      (Array("a"), Array("b")),
      (Array[String](), Array("a")),
      (Array("x", "y", "z"), Array("x", "y", "z"))).toDF("l", "r")
    val got = d.select(
      graft.functions.text.sortedIntersectCount(col("l"), col("r")),
      size(array_intersect(col("l"), col("r")))).collect()
    got.foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("nearest centroid is argmax cosine with first-wins ties") {
    import spark.implicits._
    val cents = Array(
      10L -> Array(1f, 0f), 20L -> Array(0f, 1f), 30L -> Array(1f, 0f))
    val d = Seq(
      (1L, Array(0.9f, 0.1f)),   // nearest: (1,0) -> first of 10/30 wins
      (2L, Array(0.1f, 0.9f))).toDF("vec_id", "embedding")
    val got = d.select(col("vec_id"),
      graft.functions.vector.nearestCentroid(
        col("embedding"), cents.map(_._1), cents.map(_._2)).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 10L, 2L -> 20L))
  }

  test("repetition score: looped text scores high, unique text zero") {
    val d = docs(1L -> "spam ham spam ham spam ham", 2L -> "all tokens unique here")
    val got = TextAnalysis.repetitionScore(d).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    // doc 1: 5 bigram positions, 2 distinct ("spam ham", "ham spam")
    assert(got === Map(1L -> ((5, 2)), 2L -> ((3, 3))))
  }

  test("ngram contamination counts shared w-grams with the benchmark") {
    val shared = (1 to 13).map(i => s"t$i").mkString(" ")
    val corpus = docs(
      1L -> (shared + " extra tail tokens here"),
      2L -> (100 to 120).map(i => s"u$i").mkString(" "))
    val bench = docs(10L -> (shared + " different continuation"))
    val got = Dedup.ngramContamination(corpus, bench)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.contains(1L) && got(1L) >= 1L)  // shares the 13-gram
    assert(!got.contains(2L))
  }

  test("jsonl ingest: declared schema, corrupt lines flagged not fatal") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl")
    val f = dir.resolve("part.jsonl")
    java.nio.file.Files.write(f, java.util.Arrays.asList(
      """{"doc_id": 1, "text": "hello world"}""",
      """this line is not json""",
      """{"doc_id": 2, "text": "second doc"}"""))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // Spark disallows querying only the corrupt-record column on a raw
    // scan — cache the parsed result first (the documented pattern)
    val df = graft.engine.Sources.fromJsonl(spark, f.toString, schema).cache()
    try {
      val good = df.filter(col("_corrupt_record").isNull)
        .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
      assert(good.toSet === Set((1L, "hello world"), (2L, "second doc")))
      assert(df.filter(col("_corrupt_record").isNotNull).count() === 1)
    } finally df.unpersist() // the session is shared across suites
  }

  test("approx distinct (HLL) stays within documented error of exact") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val pairs = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact"),
        approx_count_distinct(col("user_id")).as("approx"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    pairs.foreach { case (exact, approx) =>
      // default rsd = 5%; allow 3 sigma
      assert(math.abs(approx - exact).toDouble / exact <= 0.15,
        s"HLL drifted: exact=$exact approx=$approx")
    }
  }

  test("curation pipeline: each stage drops its target class") {
    val longDoc = "the " + (1 to 30).map(i => s"tok$i").mkString(" ")
    val corpus = docs(
      1L -> longDoc,                        // survives everything
      2L -> longDoc,                        // exact dup of 1 → dropped
      3L -> "too short",                    // quality: too_short
      4L -> ("the " + (100 to 130).map(i => s"leak$i").mkString(" ")))
    val bench = docs(10L -> ("the " + (100 to 130).map(i => s"leak$i").mkString(" ")))
    val out = graft.pipeline.TextAnalysis.curate(corpus, bench)
      .collect().map(_.getLong(0)).toSet
    assert(out === Set(1L))  // 2 deduped, 3 low-quality, 4 decontaminated
  }

  test("real image decode: PNG fixture round-trips exact dimensions") {
    import spark.implicits._
    // build a real 17x9 PNG in-memory
    val img = new java.awt.image.BufferedImage(17, 9,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 17).foreach(x => img.setRGB(x, x % 9, 0xff00ff))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val media = Seq((1L, "image", png)).toDF("doc_id", "media_type", "content")
      .withColumn("meta", struct(lit("s").as("source"),
        lit(png.length.toLong).as("n_bytes")))
    val dec = Multimodal.decode(media).collect().head
    assert(dec.decode_ok)
    assert((dec.width, dec.height, dec.n_frames) === ((17, 9, 1)))
    // real pixel resize: a 300x100 image scales to 256x85
    val big = new java.awt.image.BufferedImage(300, 100,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos2 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(big, "png", bos2)
    val media2 = Seq((2L, "image", bos2.toByteArray))
      .toDF("doc_id", "media_type", "content")
    val resized = Multimodal.resizePixels(media2, maxDim = 256).collect().head
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(resized.getAs[Array[Byte]]("resized_png")))
    assert((back.getWidth, back.getHeight) === ((256, 85)))
  }

  test("real WAV header parse: channels, sample rate, frame count") {
    import spark.implicits._
    // minimal valid WAV: PCM, 2ch, 44100Hz, 16-bit, 100 frames
    val nFrames = 100; val ch = 2; val rate = 44100; val blockAlign = ch * 2
    val dataSize = nFrames * blockAlign
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(ch.toShort).putInt(rate)
      .putInt(rate * blockAlign).putShort(blockAlign.toShort).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    val wav = bb.array()
    val media = Seq((1L, "audio", wav)).toDF("doc_id", "media_type", "content")
      .withColumn("meta", struct(lit("s").as("source"),
        lit(wav.length.toLong).as("n_bytes")))
    val dec = Multimodal.decode(media).collect().head
    assert(dec.decode_ok)
    assert((dec.width, dec.height, dec.n_frames) === ((ch, rate, nFrames)))
  }

  test("undecodable payloads take the deterministic fallback, flagged") {
    import spark.implicits._
    val media = Seq((1L, "image", "not an image".getBytes))
      .toDF("doc_id", "media_type", "content")
      .withColumn("meta", struct(lit("s").as("source"), lit(12L).as("n_bytes")))
    val dec = Multimodal.decode(media).collect().head
    assert(!dec.decode_ok)
    assert(dec.width > 0 && dec.height > 0)
  }

  test("media synthesis survives null text and negative ids") {
    import spark.implicits._
    // -7 routes to the video branch (floorMod(-7,3)=2), the only one
    // that dereferences text — the null guard must cover it
    val d = Seq((-7L, null: String, "s"), (-8L, "some text", "s"),
      (0L, "img doc", "s"))
      .toDF("doc_id", "text", "source")
    val dec = Multimodal.decode(Multimodal.asMediaTable(d))
      .collect().sortBy(_.doc_id)
    assert(dec.length === 3)
    assert(dec.forall(m => m.width > 0 && m.height > 0 && m.n_frames > 0))
  }

  test("multimodal decode plumbing produces stable per-row features") {
    val d = docs(1L -> "image payload bytes", 2L -> "another payload")
      .withColumn("n_chars", length(col("text")))
    val media = Multimodal.asMediaTable(d)
    assert(media.schema.fieldNames.toSeq ===
      Seq("doc_id", "media_type", "content", "meta"))
    val dec1 = Multimodal.decode(media).collect().sortBy(_.doc_id)
    val dec2 = Multimodal.decode(media).collect().sortBy(_.doc_id)
    assert(dec1.toSeq === dec2.toSeq)  // deterministic
    assert(dec1.forall(m => m.width > 0 && m.height > 0 && m.n_frames > 0))
  }

  private def eventsDF(rows: (Long, String, Long)*) = {
    import spark.implicits._
    rows.toDF("user_id", "event_type", "sec")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
  }

  test("funnel counts steps only in order") {
    // user 1: click BEFORE first view must not count; completes all 3
    // user 2: purchase precedes click — stops at stage 2
    // user 3: view only
    val ev = eventsDF(
      (1L, "click", 10L), (1L, "view", 20L), (1L, "click", 30L),
      (1L, "purchase", 40L),
      (2L, "view", 10L), (2L, "purchase", 15L), (2L, "click", 20L),
      (3L, "view", 5L))
    val got = graft.pipeline.EventAnalytics.funnel(ev).collect()
      .map(r => r.getLong(0) -> (r.get(1), r.get(2), r.get(3), r.getInt(4)))
      .toMap
    assert(got(1L) === ((20000000L, 30000000L, 40000000L, 3)))
    assert(got(2L) === ((10000000L, 20000000L, null, 2)))
    assert(got(3L) === ((5000000L, null, null, 1)))
  }

  test("boilerplate coverage flags corpus-frequent grams only") {
    // the "header one two" 3-gram set appears in every doc; tails unique
    val d = docs((1L to 10L).map(i =>
      i -> s"header one two unique$i tail$i more$i words$i end$i"): _*)
    val got = TextAnalysis.boilerplateCoverage(d, w = 3, dfFrac = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // 8 tokens -> 6 distinct grams; exactly "header one two" is shared
    // by all 10 docs, every other gram has df = 1
    assert(got.size === 10)
    assert(got.values.forall(_ === ((6L, 1L, 166666L))))
  }

  private def vecsDF(rows: (Long, Seq[Float])*) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("semantic dedup: single-cell pairs equal brute cosine, survivors drop non-reps") {
    // v1 ~ v2 (cos ≈ 0.995), v3 orthogonal, v4 ~ v1 negatively aligned
    val e = vecsDF(
      1L -> Seq(1f, 0f), 2L -> Seq(0.99f, 0.1f), 3L -> Seq(0f, 1f),
      4L -> Seq(-1f, 0f))
    val pairs = Dedup.semanticPairs(e, threshold = 0.9, singleCell = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((1L, 2L)))
    val kept = Dedup.semanticSurvivors(e, threshold = 0.9, singleCell = true)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L, 4L))
  }

  test("semantic dedup with k-means cells emits no false positives") {
    // two tight near-dup pairs + four spread vectors; the celled path may
    // miss a pair across a cell boundary (recall < 1 is the documented
    // trade) but must never invent one the exact path lacks
    val e = vecsDF(
      1L -> Seq(1f, 0f), 2L -> Seq(0.999f, 0.04f),
      3L -> Seq(0f, 1f), 4L -> Seq(0.04f, 0.999f),
      5L -> Seq(0.7f, 0.7f), 6L -> Seq(-1f, 0f), 7L -> Seq(0f, -1f),
      8L -> Seq(-0.7f, 0.7f))
    val exact = Dedup.semanticPairs(e, threshold = 0.99, singleCell = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact === Set((1L, 2L), (3L, 4L)))
    val celled = Dedup.semanticPairs(e, threshold = 0.99, centroidEvery = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(celled.subsetOf(exact))
  }

  test("incremental minhash pairs batch against corpus only, never corpus×corpus") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"token$i").mkString(" ") + " tokenX tokenY"
    // corpus holds TWO exact duplicates (1,2) — a corpus×corpus pair the
    // incremental path must NOT emit — plus an unrelated doc 3
    val corpus = docs(1L -> base, 2L -> base,
      3L -> (100 to 140).map(i => s"word$i").mkString(" "))
    // batch: a near-dup of corpus 1/2, and a genuinely new doc
    val batch = docs(20L -> nearDup,
      21L -> (200 to 240).map(i => s"new$i").mkString(" "))
    val pairs = Dedup.incrementalMinhashPairs(corpus, batch, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((20L, 1L), (20L, 2L)))
    val kept = Dedup.incrementalSurvivors(corpus, batch, threshold = 0.7)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(21L))
  }

  test("containmentPairs catches a verbatim quote that Jaccard misses") {
    val quoted = (1 to 30).map(i => s"token$i").mkString(" ")
    val host = ((100 to 160).map(i => s"host$i") ++ (1 to 30).map(i => s"token$i"))
      .mkString(" ") // 61 host tokens then the full quote
    val d = docs(1L -> quoted, 2L -> host,
      3L -> (200 to 240).map(i => s"other$i").mkString(" "))
    // every shingle of doc 1 appears in doc 2 → containment(1 in 2) = 1.0
    val pairs = Dedup.containmentPairs(d, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs === Set((1L, 2L, 1.0)))
    // the symmetric Jaccard path cannot flag it: J = 28/89 ≈ 0.31
    assert(Dedup.minhashPairs(d, threshold = 0.8).count() === 0)
  }

  test("ngramLmScore: add-1 bigram LM on a hand-computed fixture") {
    // instances: (a,b)x3, (b,a)x1, (b,c)x1 → c1: a=3, b=2; V = |{a,b,c}| = 3
    // lp(a,b) = floor(1e6·ln(4/6)) = -405466
    // lp(b,a) = lp(b,c) = floor(1e6·ln(2/5)) = -916291
    val d = docs(1L -> "a b a b", 2L -> "a b c", 3L -> "x")
    val out = TextAnalysis.ngramLmScore(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === Set(
      (1L, -575741L, 3L), // floor((2·-405466 + -916291)/3)
      (2L, -660879L, 2L)  // floor((-405466 + -916291)/2); doc 3 has no bigram
    ))
  }

  test("hashedLinearScore matches an independent md5-parity recompute") {
    def w(t: String): Long = TestHashes.tokenWeight(t)
    val d = docs(1L -> "foo bar foo", 2L -> "baz")
    val got = TextAnalysis.hashedLinearScore(d).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) ===
      (math.floor(1e6 * (2 * w("foo") + w("bar")) / 3.0).toLong, 3L))
    assert(got(2L) === (math.floor(1e6 * w("baz")).toLong, 1L))
  }

  test("dsirWeights: target-vocab docs outscore off-vocab docs, " +
      "label does not leak past content") {
    import spark.implicits._
    // target (en) docs share vocab A; de docs share vocab B; doc 6 is
    // LABELED de but WRITTEN in vocab A — DSIR scores content, so it
    // must land with the A docs, not the B docs
    val d = Seq(
      (1L, "alpha beta gamma alpha beta", "en"),
      (2L, "beta gamma alpha gamma", "en"),
      (3L, "alpha alpha beta gamma beta", "en"),
      (4L, "zork quux blarg zork quux", "de"),
      (5L, "quux blarg zork blarg", "de"),
      (6L, "alpha beta gamma beta alpha", "de"))
      .toDF("doc_id", "text", "lang").withColumn("source", lit("s"))
    val rows = TextAnalysis.dsirWeights(d).collect()
    val w = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w.size === 6)
    val aDocs = Seq(1L, 2L, 3L, 6L).map(w)
    val bDocs = Seq(4L, 5L).map(w)
    assert(aDocs.min > bDocs.max,
      s"target-vocab docs should outscore off-vocab docs: $w")
    // n_feats = unigrams + bigrams = 2·tokens − 1 per doc here
    val nf = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(nf(1L) === 9L && nf(5L) === 7L)
  }

  test("dsirWeights' one-pass log-ratio aggregate is bit-identical to " +
      "the two-pass groupBy + left-join form it replaced") {
    import spark.implicits._
    // includes a bucket-skewed doc set: vocab A only in en, vocab B only
    // in de (so some buckets have ct = 0 — the old left-join/na.fill
    // path), plus shared tokens (buckets with both)
    val d = Seq(
      (1L, "alpha beta gamma alpha beta shared", "en"),
      (2L, "beta gamma alpha gamma shared", "en"),
      (3L, "zork quux blarg zork quux shared", "de"),
      (4L, "alpha beta gamma beta alpha gamma", "de"))
      .toDF("doc_id", "text", "lang").withColumn("source", lit("s"))
    val buckets = 4096
    // replay of the PRE-r16 pipeline from public pieces (as the r16 t29
    // stage split in OPTIMIZATION_r16.md ran it): gramCounts features,
    // md5 buckets, then the two-pass
    // raw/tgt groupBys + left join + na.fill(0) log-ratio table
    val db = d.select(col("doc_id"), col("lang"),
        explode(graft.functions.text.gramCounts(
          graft.pipeline.TextAnalysis.tokens(col("text")))).as("_tc"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("_tc.term")), 1, 8), 16, 10).cast("long")
          % buckets).as("b"),
        col("_tc.cnt").as("_c"))
      .groupBy("doc_id", "lang", "b")
      .agg(sum(col("_c")).cast("long").as("n"))
    val raw = db.groupBy("b").agg(sum("n").as("cr"))
    val tgt = db.filter(col("lang") === "en").groupBy("b")
      .agg(sum("n").as("ct"))
    val totals = raw.agg(sum("cr").as("_r"))
      .crossJoin(tgt.agg(sum("ct").as("_t")))
    val lrOld = raw.join(tgt, Seq("b"), "left").na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(totals))
      .select(col("b"),
        floor(lit(1e6) * log(
          ((col("ct") + 1).cast("double") * (col("_r") + buckets).cast("double"))
            / ((col("cr") + 1).cast("double")
              * (col("_t") + buckets).cast("double"))))
          .cast("long").as("lr_c6"))
    val oldWeights = db.join(broadcast(lrOld), Seq("b"))
      .groupBy("doc_id")
      .agg(sum(col("n") * col("lr_c6")).cast("long").as("dsir_c6"),
        sum("n").cast("long").as("n_feats"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val newWeights = TextAnalysis.dsirWeights(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(newWeights === oldWeights,
      "one-pass log-ratio drifted from the replaced two-pass form")
  }

  test("indexed DSIR weights equal the in-plan weights; resample keeps " +
      "the max-weight doc and is deterministic") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta gamma alpha beta", "en"),
      (2L, "beta gamma alpha gamma", "en"),
      (3L, "zork quux blarg zork quux", "de"),
      (4L, "alpha beta gamma beta alpha gamma", "de"))
      .toDF("doc_id", "text", "lang").withColumn("source", lit("s"))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inPlan = key(TextAnalysis.dsirWeights(d))
    val dir = java.nio.file.Files.createTempDirectory("graft_dsir").toString
    TextAnalysis.buildDsirModel(d, s"$dir/m")
    // scoring the training corpus under the prebuilt model must
    // reproduce the in-plan weights exactly (t29b's oracle contract)
    assert(key(TextAnalysis.dsirWeightsIndexed(spark, s"$dir/m", d))
      === inPlan)
    val kept = key(TextAnalysis.dsirResample(d))
    assert(kept === key(TextAnalysis.dsirResample(d)), "resample not deterministic")
    // independent replay of the acceptance rule: keep iff
    // floor(1e6·ln((h+1)/2^32)) ≤ w − max, h = first 8 md5 hex chars of
    // the decimal doc_id — a keep-everything or keep-only-max predicate
    // regression cannot match this reference set
    val mx = inPlan.map(_._2).max
    def lnU(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      math.floor(1e6 * math.log(
        (java.lang.Long.parseLong(hex, 16) + 1).toDouble / 4294967296.0d)).toLong
    }
    val expected = inPlan.filter(t => lnU(t._1) <= t._2 - mx)
    assert(kept === expected,
      s"resample disagrees with the reference replay: $kept vs $expected")
    // the fixture must actually exercise both branches for the asserts
    // above to discriminate
    assert(expected.nonEmpty && expected.size < inPlan.size,
      s"fixture degenerate: ${expected.size} of ${inPlan.size} kept")
  }

  test("indexed incremental pairs equal the in-plan incremental pairs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val batch = docs.filter(col("doc_id") % 20 === 0)
    val tbl = "band_equiv" // buildBandedIndex self-heals orphaned dirs
    val dir = java.nio.file.Files.createTempDirectory("graft_band2").toString
    Dedup.buildBandedIndex(corpus, tbl, s"$dir/sh")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(
      key(Dedup.incrementalMinhashPairsIndexed(spark, tbl, s"$dir/sh", batch))
        === key(Dedup.incrementalMinhashPairs(corpus, batch)))
  }

  test("indexed containment probes catch both orientations, rarity from corpus df") {
    val corpusText = (1 to 40).map(i => s"alpha$i").mkString(" ")
    // boiler appears in SIX corpus docs → its shingles have df 6 > maxDf
    // 5: docs sharing ONLY boilerplate must generate no candidate
    val boiler = (900 to 910).map(i => s"boiler$i").mkString(" ")
    val corpus = docs(
      (1L -> corpusText) +:
      (2L -> ((500 to 540).map(i => s"beta$i").mkString(" "))) +:
      (30L to 35L).map(i => i -> (boiler + s" uniq$i")): _*)
    val tbl = "post_equiv" // buildContainmentIndex self-heals orphaned dirs
    val dir = java.nio.file.Files.createTempDirectory("graft_post").toString
    Dedup.buildBandedIndex(corpus, "post_equiv_band", s"$dir/sh")
    Dedup.buildContainmentIndex(spark, s"$dir/sh", tbl)
    val batch = docs(
      // quotes doc 1 inside much longer text → corpus orientation = 1.0
      100L -> ((600 to 700).map(i => s"pad$i").mkString(" ") + " " + corpusText),
      // a fragment of doc 2 → batch orientation = 1.0
      101L -> ((500 to 520).map(i => s"beta$i").mkString(" ")),
      // shares ONLY the common boilerplate with corpus docs → no pair
      102L -> (boiler + " uniq102"),
      // unrelated
      103L -> ((800 to 840).map(i => s"gamma$i").mkString(" ")))
    val got = Dedup.containmentPairsIndexed(spark, tbl, s"$dir/sh", batch)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toSet
    assert(got.map(t => (t._1, t._2)) === Set((100L, 1L), (101L, 2L)))
    val byPair = got.map(t => (t._1, t._2) -> ((t._3, t._4))).toMap
    assert(byPair((100L, 1L))._2 === 1.0) // corpus doc inside the batch doc
    assert(byPair((101L, 2L))._1 === 1.0) // batch doc inside the corpus doc
  }

  test("incrementalSurvivors: dedupWithinBatch drops same-batch near-dups") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val corpus = docs(1L -> base,
      2L -> (100 to 140).map(i => s"word$i").mkString(" "))
    // batch: 20 near-dups corpus 1; 21/22 duplicate EACH OTHER only;
    // 23 is genuinely new
    val sameBatchDup = (200 to 240).map(i => s"new$i").mkString(" ")
    val batch = docs(
      20L -> ((1 to 38).map(i => s"token$i").mkString(" ") + " tokenX tokenY"),
      21L -> sameBatchDup, 22L -> sameBatchDup,
      23L -> (300 to 340).map(i => s"other$i").mkString(" "))
    // default boundary: corpus-only — both same-batch twins pass
    val corpusOnly = Dedup.incrementalSurvivors(corpus, batch, threshold = 0.7)
      .collect().map(_.getLong(0)).toSet
    assert(corpusOnly === Set(21L, 22L, 23L))
    // composed gate: 22 loses the intra-batch min-id election too
    val full = Dedup.incrementalSurvivors(corpus, batch, threshold = 0.7,
      dedupWithinBatch = true)
      .collect().map(_.getLong(0)).toSet
    assert(full === Set(21L, 23L))
  }

  test("incremental pairs equal the batch×corpus slice of full-corpus minhash") {
    // consistency contract: running LSH over corpus ∪ batch and keeping
    // only cross pairs must equal the incremental path (same seed ⇒ same
    // buckets), on real data
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val batch = docs.filter(col("doc_id") % 20 === 0)
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val inc = Dedup.incrementalMinhashPairs(corpus, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .collect { // keep cross pairs only, re-oriented (batch_id, corpus_id)
        case (a, b, j) if a % 20 == 0 && b % 20 != 0 => (a, b, j)
        case (a, b, j) if b % 20 == 0 && a % 20 != 0 => (b, a, j)
      }.toSet
    assert(inc === full)
  }

  test("cohort retention counts users per (signup week, activity offset)") {
    import spark.implicits._
    val wk = 604800000000L
    def ev(u: Long, t: String, usWeeks: Double) =
      (u, t, (usWeeks * wk).toLong)
    val events = Seq(
      ev(1L, "signup", 0.1), ev(1L, "view", 0.5), ev(1L, "view", 2.2),
      ev(2L, "signup", 0.2), ev(2L, "purchase", 0.3),
      ev(3L, "signup", 1.1), ev(3L, "view", 3.2),
      ev(4L, "view", 0.4),                       // never signed up → excluded
      ev(2L, "view", 0.05))                      // before signup → excluded
      .toDF("user_id", "event_type", "ts_us")
      .select(col("user_id"), col("event_type"),
        timestamp_micros(col("ts_us")).as("ts"))
    val got = graft.pipeline.EventAnalytics.cohortRetention(events)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(
      (0L, 0L, 2L),  // week-0 cohort active at offset 0: users 1, 2
      (0L, 2L, 1L),  // user 1 returns ~2 weeks after signup (2.2 - 0.1)
      (1L, 0L, 1L),  // week-1 cohort: user 3 signup activity
      (1L, 2L, 1L))) // user 3 returns at offset 2 (3.2 - 1.1)
  }

  test("bm25: rare terms outrank saturated common terms; long docs normalize down") {
    // df: banana=3 (idf (3+1)/(3+1)=1), others=1 (idf (3+1)/(1+1)=2).
    // doc 1: banana tf=2 saturates; apple's 2x idf wins rank 1.
    val d = docs(1L -> "apple banana banana", 2L -> "banana cherry",
      3L -> "banana date")
    val got = TextAnalysis.bm25TopTerms(d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getInt(3)))
    val rank1 = got.filter(_._4 == 1).map(t => t._1 -> t._2).toMap
    assert(rank1 === Map(1L -> "apple", 2L -> "cherry", 3L -> "date"))
    // saturation + length normalization (what BM25 adds over TF-IDF):
    // doc 1 has DOUBLE the banana tf of doc 2 AND is longer than avgdl,
    // so its weight gain must be well under 2x (tf-linear scoring would
    // give exactly 2x before normalization)
    val banana = got.filter(_._2 == "banana").map(t => t._1 -> t._3).toMap
    assert(banana(1L) > banana(2L) && banana(1L) < 1.5 * banana(2L))
    assert(banana(2L) === banana(3L)) // same dl, same tf → identical weight
  }

  test("passage dedup: shared w-token windows counted per doc, short docs drop") {
    // w=4: doc 1 = [a b c d][e f g h]; doc 2 = [a b c d][x y z w];
    // doc 3 = [p q r s] (+ trailing 't' ignored); doc 4 < w tokens → absent
    val d = docs(
      1L -> "a b c d e f g h", 2L -> "a b c d x y z w",
      3L -> "p q r s t", 4L -> "u v")
    val got = TextAnalysis.passageDedup(d, w = 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got === Map(
      1L -> ((2L, 1L, 0.5)), 2L -> ((2L, 1L, 0.5)), 3L -> ((1L, 0L, 0.0))))
  }

  test("domain mixture: integer gate against an independent md5 recompute") {
    import spark.implicits._
    // source A: 4 docs × 8 tokens = 32; source B: 2 docs × 8 tokens = 16
    // (the minimum). B keeps everything at rate 1.0; A keeps exactly the
    // docs whose md5 bucket passes bucket·32 < 10000·16.
    val eight = (1 to 8).map(i => s"w$i").mkString(" ")
    val d = (1L to 4L).map(i => (i, eight, "A")) ++ Seq((10L, eight, "B"), (11L, eight, "B"))
    val df = d.toDF("doc_id", "text", "source").withColumn("lang", lit("en"))
    val got = TextAnalysis.domainMixture(df).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getDouble(3))))
      .toMap
    def bucket(id: Long): Long = TestHashes.bucket(id)
    val expectA = (1L to 4L).filter(id => bucket(id) * 32L < 10000L * 16L)
    assert(got.keySet === (expectA.toSet ++ Set(10L, 11L)))
    assert(got(10L) === (("B", 8L, 1.0)))
    expectA.foreach(id => assert(got(id) === (("A", 8L, 0.5))))
  }

  test("knn graph: single-cell ranks by cosine with id tiebreak; celled path sane") {
    // query 1's neighbors by cosine: 2 (≈0.995) > 5 (≈0.707) > 3 (0.0) > 4 (-1)
    val e = vecsDF(
      1L -> Seq(1f, 0f), 2L -> Seq(0.99f, 0.1f), 3L -> Seq(0f, 1f),
      4L -> Seq(-1f, 0f), 5L -> Seq(0.7f, 0.7f))
    val g = Similarity.knnGraph(e, k = 2, singleCell = true).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    assert(g((1L, 1)) === 2L && g((1L, 2)) === 5L)
    assert(g((2L, 1)) === 1L && g((2L, 2)) === 5L)
    // every vector is a query with exactly k rows, never itself
    val rows = Similarity.knnGraph(e, k = 2, singleCell = true).collect()
    assert(rows.length === 5 * 2)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    // celled path: ranks stay within-cell-correct and bounded by k
    val celled = Similarity.knnGraph(e, k = 2, centroidEvery = 2).collect()
    assert(celled.nonEmpty)
    assert(celled.forall(r => r.getInt(2) >= 1 && r.getInt(2) <= 2 &&
      r.getLong(0) != r.getLong(1)))
  }

  test("knn graph: duplicate collapse is exact vs the direct path") {
    // duplicate-heavy corpus: 3 copies of A, 2 of B, 1 each of C/D —
    // the regime where the direct path's cells saturate. singleCell on
    // both sides = full candidate set, so collapse+expand must reproduce
    // the direct output EXACTLY (same rows, ranks, 6dp scores).
    val e = vecsDF(
      1L -> Seq(1f, 0f), 4L -> Seq(1f, 0f), 7L -> Seq(1f, 0f),
      2L -> Seq(0.99f, 0.1f), 5L -> Seq(0.99f, 0.1f),
      3L -> Seq(0f, 1f), 6L -> Seq(-0.5f, 0.5f))
    def rows(collapse: Boolean) =
      Similarity.knnGraph(e, k = 3, singleCell = true,
        collapseDuplicates = collapse).collect()
        .map(r => (r.getLong(0), r.getInt(2), r.getLong(1), r.getDouble(3)))
        .sortBy(t => (t._1, t._2))
    val collapsed = rows(collapse = true)
    val direct = rows(collapse = false)
    assert(collapsed === direct)
    // own-class members rank first at cosine 1.0, smallest id first:
    // query 1 (class {1,4,7}) → neighbors 4, 7 at 1.0, then 2 or 5
    val byQ = collapsed.groupBy(_._1)
    assert(byQ(1L).take(2).map(t => (t._3, t._4)).toSeq ===
      Seq((4L, 1.0), (7L, 1.0)))
    assert(byQ(4L).take(2).map(t => (t._3, t._4)).toSeq ===
      Seq((1L, 1.0), (7L, 1.0)))
    // the celled path also survives duplicates (k+1-smallest own ids +
    // class-level top-k expansion, bounded everywhere)
    val celled = Similarity.knnGraph(e, k = 3, centroidEvery = 2).collect()
    assert(celled.forall(r => r.getLong(0) != r.getLong(1)))
    assert(celled.groupBy(_.getLong(0)).forall(_._2.length <= 3))
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("covariance: GramSumAgg matches driver recompute, partition-invariant") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 200)
    def covMap(df: org.apache.spark.sql.DataFrame) =
      Similarity.covarianceMatrix(df).collect()
        .map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getDouble(3))))
        .toMap
    val c1 = covMap(emb.repartition(1))
    val c7 = covMap(emb.repartition(7))
    assert(c1 === c7)                       // exact integer partials merge
    // independent driver recompute of the quantized statistic
    val q = emb.select("embedding").collect().map(
      _.getSeq[Float](0).toArray.map(x => math.floor(x.toDouble * 1000.0).toLong))
    val n = q.length
    val dim = q.head.length
    for (i <- 0 until dim; j <- i until dim) {
      val g = q.map(v => v(i) * v(j)).sum
      val si = q.map(_(i)).sum
      val sj = q.map(_(j)).sum
      val cov = round6(
        (g.toDouble - si.toDouble * sj.toDouble / n) / (n - 1) / 1e6)
      val (gotN, gotCov) = c1((i, j))
      assert(gotN === n.toLong && gotCov === cov, s"cov($i,$j)")
    }
  }

  test("pca: contract holds; projection variance matches eigenvalues") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val contract = Similarity.pcaContract(emb).collect()
    assert(contract.length === 64)
    assert(contract.forall(r => r.getBoolean(1) && r.getBoolean(2) &&
      r.getBoolean(3) && r.getBoolean(4)))
    val (evs, comps) = Similarity.pcaComponents(emb, k = 4)
    comps.foreach { v =>
      assert(math.abs(v.map(x => x * x).sum - 1.0) <= 1e-9) // unit norm
      assert(v.maxBy(math.abs) > 0)                         // sign convention
    }
    // sample variance along each component ≈ its eigenvalue (covariance
    // is over 1e-3-quantized components; the float projection differs by
    // quantization noise only)
    val proj = Similarity.pcaProject(emb, k = 4).collect()
      .map(_.getSeq[Double](1).toArray)
    val n = proj.length
    for (p <- 0 until 4) {
      val xs = proj.map(_(p))
      val mean = xs.sum / n
      val v = xs.map(x => (x - mean) * (x - mean)).sum / (n - 1)
      assert(math.abs(v - evs(p)) <= 0.01 * math.max(1e-3, evs(p)),
        s"component $p: var $v vs eigenvalue ${evs(p)}")
    }
  }

  test("centroid affinity matches a driver-side fixed-order recompute") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 300)
    val rows = emb.select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val byLabel = rows.groupBy(_._2)
    val cents = byLabel.map { case (l, rs) =>
      val nv = rs.length
      val dim = rs.head._3.length
      l -> Array.tabulate(dim) { i =>
        val sq = rs.map(r => math.floor(r._3(i).toDouble * 1e6).toLong).sum
        sq.toDouble / (nv.toDouble * 1e6)
      }
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val expected = rows.map { case (id, l, v) =>
      val x = v.map(_.toDouble)
      val c = cents(l)
      id -> round6(dot(x, c) / (math.sqrt(dot(x, x)) * math.sqrt(dot(c, c))))
    }.toMap
    val got = Similarity.centroidAffinity(emb).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got === expected)
  }

  test("source overlap matches a driver-side string-shingle recompute") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def shingleSet(text: String): Set[String] = {
      val t = text.trim.toLowerCase.split("\\s+").toSeq
      if (t.length <= 3) Set(t.mkString(" "))
      else t.sliding(3).map(_.mkString(" ")).toSet
    }
    val vocab = docs.select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1)
      .map { case (s, rs) => s -> rs.map(r => shingleSet(r._2)).reduce(_ ++ _) }
    val srcs = vocab.keys.toSeq.sorted
    val expected = (for {
      a <- srcs; b <- srcs if a < b
    } yield {
      val (sa, sb) = (vocab(a), vocab(b))
      val i = (sa & sb).size
      (a, b) -> ((i.toLong, round6(i.toDouble / (sa.size + sb.size - i)),
        round6(i.toDouble / sa.size), round6(i.toDouble / sb.size)))
    }).toMap
    val got = Dedup.sourceOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(got === expected)
    // zero-overlap pairs are kept: the frame is the full sources² triangle
    assert(got.size === srcs.size * (srcs.size - 1) / 2)
  }

  test("pca retrieval: full-rank shortlist+re-rank equals brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    def rowSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    // full-rank projection is an orthonormal rotation: candidate order is
    // cosine order, so the exact re-rank reproduces brute force exactly
    val brute = rowSet(Similarity.bruteCosineTopK(emb, queries, k = 5))
    val pca = rowSet(Similarity.pcaCosineTopK(emb, queries, k = 5, kPca = 64))
    assert(pca === brute)
    // low-rank path: same shape/contract (true cosines, k rows per query,
    // no self-pairs), approximation affects candidate choice only
    val lowRank = Similarity.pcaCosineTopK(emb, queries, k = 5, kPca = 4)
      .collect()
    assert(lowRank.length === 5 * 10)
    assert(lowRank.forall(r => r.getLong(0) != r.getLong(1)))
    val bruteScores = brute.map(t => (t._1, t._2) -> t._4).toMap
    lowRank.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      // every emitted score is the TRUE cosine: where a pair also appears
      // in the brute answer the scores must agree bit-for-bit
      bruteScores.get(key).foreach(exp => assert(r.getDouble(3) === exp))
    }
  }

  test("pca outlier: full-rank error vanishes, low-rank errors nest") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val contract = Similarity.pcaOutlierContract(emb).collect()
    assert(contract.nonEmpty && contract.forall(_.getBoolean(1)))
    def errMap(k: Int) = Similarity.pcaOutlierScore(emb, kPca = k).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val e8 = errMap(8)
    val e16 = errMap(16)
    assert(e8.nonEmpty && e8.keySet === e16.keySet)
    e8.foreach { case (id, (err8, frac8)) =>
      val (err16, frac16) = e16(id)
      assert(frac8 >= 0.0 && frac8 <= 1.0 && frac16 >= 0.0 && frac16 <= 1.0)
      // top-16 subspace CONTAINS the top-8 one (same ordered eigenbasis
      // prefix), so residual energy can only shrink as rank grows
      assert(err16 <= err8 + 1e-6, s"vec $id: err16 $err16 > err8 $err8")
    }
  }

  test("retrieval metrics: known overlaps give exact recall/MRR; " +
      "self-comparison is perfect") {
    import spark.implicits._
    // hand-built rankings: q0 full agreement; q1 top-1 found at approx
    // rank 3, one other hit; q2 disjoint
    def ranking(rows: (Long, Long, Int)*) =
      rows.toDF("query_id", "neighbor_id", "rank")
    val exact = ranking(
      (0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3),
      (1L, 20L, 1), (1L, 21L, 2), (1L, 22L, 3),
      (2L, 30L, 1), (2L, 31L, 2), (2L, 32L, 3))
    val approx = ranking(
      (0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3),
      (1L, 22L, 1), (1L, 99L, 2), (1L, 20L, 3),
      (2L, 90L, 1), (2L, 91L, 2), (2L, 92L, 3))
    val got = Similarity.retrievalMetrics(exact, approx, k = 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got === Map(
      0L -> ((3L, 1.0, 1.0)),
      1L -> ((2L, round6(2.0 / 3), round6(1.0 / 3))),
      2L -> ((0L, 0.0, 0.0))))
    // a retriever measured against itself is perfect on every metric
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Similarity.bruteCosineTopK(
      emb, emb.filter($"vec_id" < 5), k = 5)
    val self = Similarity.retrievalMetrics(brute, brute, k = 5).collect()
    assert(self.length === 5 && self.forall(r =>
      r.getLong(1) === 5L && r.getDouble(2) === 1.0 && r.getDouble(3) === 1.0))
  }

  test("prototype select: bounded-heap selection equals the sorted " +
      "driver-side recompute, both tails") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val aff = Similarity.centroidAffinity(emb).collect()
      .map(r => (r.getInt(1), r.getLong(0), r.getDouble(2)))
    def expect(hardest: Boolean, n: Int) = aff.groupBy(_._1).toSeq.flatMap {
      case (label, rows) =>
        val sorted = rows.toSeq.sortBy(r =>
          (if (hardest) r._3 else -r._3, r._2)).take(n)
        sorted.zipWithIndex.map { case ((_, id, c), i) =>
          (label, id, i + 1, c) }
    }.toSet
    for (hardest <- Seq(true, false)) {
      val got = Similarity.prototypeSelect(emb, nKeep = 10, hardest = hardest)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSet
      assert(got === expect(hardest, 10), s"hardest=$hardest mismatch")
    }
  }
}
