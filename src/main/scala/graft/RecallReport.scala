package graft

import graft.pipeline.{Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured recall of every APPROXIMATE path against its exact twin —
  * the quality half of the speed/recall trade the scale sweeps time:
  *  - IVF cosine top-k (v2) vs brute force, across nProbe;
  *  - cell-bounded kNN graph (v7) vs the exact graph;
  *  - SemDeDup celled pairs (d11) vs exact threshold pairs.
  * Precision is intentionally not reported where it is 1 by construction
  * (candidate verification is exact; only RECALL is traded).
  *
  * Usage: runMain graft.RecallReport [sfDir] — prints one JSON line.
  */
object RecallReport {

  private def pairSet(df: DataFrame, a: String, b: String): Set[(Long, Long)] =
    df.select(col(a).cast("long"), col(b).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // SPARK_GRAFT_RECALL_ONLY=pca,ivf — iterate on one sweep section
    // without paying for the rest (skipped sections emit empty maps;
    // the published artifact is always a no-env full run)
    val sections = Set("ivf", "knn", "mips", "semdedup", "pca", "pq", "ivfpq")
    val only = sys.env.get("SPARK_GRAFT_RECALL_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd section must fail loudly, never print an all-empty
    // structurally-green artifact
    only.foreach(o => require(o.nonEmpty && o.subsetOf(sections),
      s"unknown SPARK_GRAFT_RECALL_ONLY sections: ${o.diff(sections)} " +
        s"(expected any of ${sections.toSeq.sorted.mkString(",")})"))
    def want(section: String): Boolean = only.forall(_.contains(section))

    // every sweep point reports recall AND wall seconds — the cost curve
    // the spill-vs-probe trade is judged on (spill=2 at nProbe=16 buys
    // ~nProbe=32's recall for ~nProbe=24's candidate volume)
    def timed(f: => Set[(Long, Long)]): (Set[(Long, Long)], Double) = {
      val t0 = System.nanoTime()
      val s = f
      (s, math.rint((System.nanoTime() - t0) / 1e6) / 1e3)
    }

    // an empty exact set yields recall 1.0 by convention (nothing to
    // find), never 0/0 = NaN — NaN is invalid JSON and breaks the
    // artifact's consumers
    def recallOf(got: Set[(Long, Long)], exact: Set[(Long, Long)]): Double =
      if (exact.isEmpty) 1.0
      else (got & exact).size.toDouble / exact.size

    // v2: IVF recall@5 vs brute force over nProbe × index spill
    val queries = emb.filter(col("vec_id") < 100)
    lazy val exactTopK = pairSet(
      Similarity.bruteCosineTopK(emb, queries, k = 5), "query_id", "neighbor_id")
    val ivf = if (!want("ivf")) Seq() else
      for (sp <- Seq(1, 2); np <- Seq(1, 2, 4, 8, 16)) yield {
      val (got, sec) = timed(pairSet(
        Similarity.ivfCosineTopK(emb, queries, k = 5, nProbe = np, spill = sp),
        "query_id", "neighbor_id"))
      s""""nprobe_${np}_spill_$sp":{"recall":${
        recallOf(got, exactTopK)},"sec":$sec}"""
    }

    // v7: cell-bounded kNN graph recall vs the exact graph (singleCell on
    // the full relation is quadratic — bound to 2000 vectors, v7b's slice),
    // across query-side nAssign × index-side spill
    val slice = emb.filter(col("vec_id") < 2000)
    lazy val exactGraph = pairSet(
      Similarity.knnGraph(slice, k = 5, singleCell = true), "query_id", "neighbor_id")
    val v7 = if (!want("knn")) Seq() else
      for (sp <- Seq(1, 2); na <- Seq(1, 2, 4, 8, 16)) yield {
      val (got, sec) = timed(pairSet(
        Similarity.knnGraph(slice, k = 5, nAssign = na, spill = sp),
        "query_id", "neighbor_id"))
      s""""assign_${na}_spill_$sp":{"recall":${
        recallOf(got, exactGraph)},"sec":$sec}"""
    }

    // v10b: norm-augmented IVF MIPS recall@5 vs brute dot-product,
    // across nProbe × spill (full probe is exact by construction)
    lazy val exactMips = pairSet(
      Similarity.bruteMipsTopK(emb, queries, k = 5), "query_id", "neighbor_id")
    val mips = if (!want("mips")) Seq() else
      for (sp <- Seq(1, 2); np <- Seq(1, 2, 4, 8, 16)) yield {
      val (got, sec) = timed(pairSet(
        Similarity.ivfMipsTopK(emb, queries, k = 5, nProbe = np, spill = sp),
        "query_id", "neighbor_id"))
      s""""nprobe_${np}_spill_$sp":{"recall":${
        recallOf(got, exactMips)},"sec":$sec}"""
    }

    // d11: SemDeDup celled pair recall vs exact threshold pairs, across
    // nAssign × spill (precision stays 1 — verification is exact cosine)
    lazy val exactPairs = pairSet(
      Dedup.semanticPairs(slice, singleCell = true), "a", "b")
    val d11 = if (!want("semdedup")) Seq() else
      for (sp <- Seq(1, 2); na <- Seq(1, 2, 4, 8)) yield {
      val (got, sec) = timed(pairSet(
        Dedup.semanticPairs(slice, nAssign = na, spill = sp), "a", "b"))
      val r = recallOf(got, exactPairs)
      s""""assign_${na}_spill_$sp":{"recall":$r,"sec":$sec}"""
    }

    // v13: PCA-shortlist recall@5 vs brute across BOTH knobs (subspace
    // rank × shortlist size; re-rank is exact, so recall is the only
    // quality axis here too). NOTE the testdata caveat: these synthetic
    // embeddings are near-isotropic (flat eigenspectrum), the worst case
    // for PCA shortlisting — real embedding corpora have decaying
    // spectra where far smaller shortlists reach the same recall.
    // Seconds per point since r12: the PCA section was the only recall
    // sweep with no cost column, making the kPca×shortlist trade
    // invisible (the r11 verdict's Next #1). kPca=32 added to the sweep
    // for the same reason: doubling the subspace rank halves the
    // shortlist needed at ≥0.9 — whichever axis is cheaper wins by
    // measurement, not by guess.
    val pca = if (!want("pca")) Seq() else
      for (kp <- Seq(8, 16, 32); m <- Seq(50, 200, 400, 800)) yield {
        val (got, sec) = timed(pairSet(
          Similarity.pcaCosineTopK(emb, queries, k = 5, kPca = kp,
            shortlist = m),
          "query_id", "neighbor_id"))
        s""""kpca${kp}_m$m":{"recall":${recallOf(got, exactTopK)},"sec":$sec}"""
      }

    // v16: PQ-ADC recall@5 vs brute MIPS across the subspace count (the
    // compression knob: dim=64 floats → m codes, coarser m quantizes
    // harder) at the default 8-bit codebooks (256 codes; the sf0.1
    // corpus seeds all 256) and the default 2-iteration Lloyd training.
    // The m=8 SEED point (trainIters=0) is kept as attribution: it is
    // what r10 shipped (0.34), and the delta to m_8 is what training
    // alone buys at the committed compression.
    // codebooks are trained ONCE per m, outside the timed points (their
    // cost reported separately as train_sec): training is a build-time
    // cost paid once per corpus, and folding it into every sweep point
    // would drown the query-path cost each knob actually trades
    val pqMs = Seq(8, 16, 32)
    // per-m memoized, NOT whole-map lazy: ONLY=ivfpq needs just m=8, and
    // forcing a map-valued lazy val would train and sweep all three m's
    // — most of the cost the section filter exists to skip
    val trainedCache =
      scala.collection.mutable.Map.empty[Int, (Array[Array[Array[Float]]], Double)]
    def trained(m: Int) = trainedCache.getOrElseUpdate(m, {
      val t0 = System.nanoTime()
      val cb = Similarity.trainPqCodebooks(emb, m = m, k = 256)
      (cb, math.rint((System.nanoTime() - t0) / 1e6) / 1e3)
    })
    val pqSetCache =
      scala.collection.mutable.Map.empty[Int, (Set[(Long, Long)], Double)]
    def pqSets(m: Int) = pqSetCache.getOrElseUpdate(m, {
      timed(pairSet(
        Similarity.pqTopK(emb, queries, k = 5, m = m, codebookSize = 256,
          codebooks = trained(m)._1),
        "query_id", "neighbor_id"))
    })
    val pq = if (!want("pq")) Seq() else {
      val pqSeed8 = pairSet(
        Similarity.pqTopK(emb, queries, k = 5, m = 8, codebookSize = 256,
          trainIters = 0), "query_id", "neighbor_id")
      pqMs.map { m =>
        val (got, sec) = pqSets(m)
        s""""m_$m":{"recall":${recallOf(got, exactMips)},"sec":$sec,"train_sec":${trained(m)._2}}"""
      } :+ s""""m_8_seed":{"recall":${recallOf(pqSeed8, exactMips)}}"""
    }

    // training-convergence sweep at the committed m=8: does more Lloyd
    // buy more recall, or does the PQ floor at this compression plateau?
    // (This corpus is near-isotropic — see the PCA caveat above — which
    // is also PQ's worst case: subspaces have no cluster structure for
    // Lloyd to find, so the honest expectation is a fast plateau, and
    // the recall path at m=8 is the RERANK stage, not more training.)
    val pqIters = if (!want("pq")) Seq() else
      for (it <- Seq(0, 2, 4, 8, 16)) yield {
      val cb = Similarity.trainPqCodebooks(emb, m = 8, k = 256, iters = it)
      val got = pairSet(
        Similarity.pqTopK(emb, queries, k = 5, m = 8, codebookSize = 256,
          codebooks = cb), "query_id", "neighbor_id")
      s""""iters_$it":${recallOf(got, exactMips)}"""
    }

    // v17: IVF-gated PQ at the COMMITTED defaults (m=8, trained
    // codebooks, rerank=24 exact refine) across nProbe — the curve a
    // caller actually gets. Two recalls per point: `recall` is the
    // DEFAULT (reranked) output vs exact MIPS (end-to-end), and
    // `adc_recall` is a SEPARATE rerank=0 run at the same nProbe vs the
    // ungated trained-ADC ranking — the gate's OWN loss, measured in ADC
    // space where the gate operates. (Comparing the RERANKED output to
    // the ADC top-5 would conflate the refine stage's deliberate
    // reordering with cell loss: at a gate that loses nothing it would
    // still read ~0.8 purely because rerank reorders away from ADC.)
    lazy val pureAdc = pqSets(8)._1
    lazy val cb8 = trained(8)._1
    val ivfpq = if (!want("ivfpq")) Seq() else
      for (np <- Seq(1, 2, 4, 8, 16, 20, 24)) yield {
      val (got, sec) = timed(pairSet(
        Similarity.ivfPqTopK(emb, queries, k = 5, nProbe = np, m = 8,
          codebookSize = 256, codebooks = cb8, queryCountHint = 100),
        "query_id", "neighbor_id"))
      val gatedAdc = pairSet(
        Similarity.ivfPqTopK(emb, queries, k = 5, nProbe = np, m = 8,
          codebookSize = 256, rerank = 0, codebooks = cb8,
          queryCountHint = 100),
        "query_id", "neighbor_id")
      s""""nprobe_${np}_spill_2":{"recall":${recallOf(got, exactMips)
        },"adc_recall":${recallOf(gatedAdc, pureAdc)},"sec":$sec}"""
    }

    // the refine knob isolated: nProbe=20 fixed, rerank swept. rerank=0
    // is r10's shipped form (ADC ranking straight out) — the delta to
    // rerank=24 is what the exact re-rank stage buys; past the knee a
    // larger shortlist only re-finds what the cells already lost.
    val ivfpqRr = if (!want("ivfpq")) Seq() else
      for (r <- Seq(0, 4, 8, 16, 24, 32)) yield {
      val (got, sec) = timed(pairSet(
        Similarity.ivfPqTopK(emb, queries, k = 5, nProbe = 20, m = 8,
          codebookSize = 256, rerank = r, codebooks = cb8,
          queryCountHint = 100),
        "query_id", "neighbor_id"))
      s""""rerank_$r":{"recall":${recallOf(got, exactMips)},"sec":$sec}"""
    }

    // the curves above sweep the knobs explicitly; defaults record which
    // point on each curve a caller gets without choosing (recall target
    // ≥ 0.9 under asymmetric probing over a spill-2 index: nProbe=16,
    // kNN-graph nAssign=16, SemDeDup nAssign=8, all at spill=2). The
    // r9→r10 lever was INDEX-side spill, chosen by measurement: centroid
    // refinement (more Lloyd iters) and angular-radius-bounded probe
    // ranking both measured flat on this corpus's isotropic geometry
    // (recall@5 moved ≤ 0.01 at fixed nProbe), while spill=2 moved
    // 0.78 → ≈0.94 — border vectors, not unprobed-cell distance, dominate
    // the loss when cells barely cluster.
    // skipped sections must not force their exact twin (-1 = not run)
    def sizeIf(ran: Boolean, s: => Int): Int = if (ran) s else -1
    println(s"""{"metric":"recall","sf":"$sfDir","defaults":{"nprobe":16,"ivfpq_nprobe":20,"ivfpq_rerank":24,"knn_nassign":16,"semdedup_nassign":8,"spill":2,"pca_kpca":16,"pca_shortlist":800},"ivf_recall_at_5":{${ivf.mkString(",")}},"mips_recall_at_5":{${mips.mkString(",")}},"knn_graph_recall":{${v7.mkString(",")}},"semdedup_pair_recall":{${d11.mkString(",")}},"pca_recall_at_5":{${pca.mkString(",")}},"pq_recall_at_5":{${pq.mkString(",")}},"pq_train_sweep_m8":{${pqIters.mkString(",")}},"ivfpq_recall_at_5":{${ivfpq.mkString(",")}},"ivfpq_rerank_sweep":{${ivfpqRr.mkString(",")}},"exact_topk_pairs":${sizeIf(want("ivf") || want("pca"), exactTopK.size)},"exact_mips_pairs":${sizeIf(want("mips") || want("pq") || want("ivfpq"), exactMips.size)},"exact_graph_pairs":${sizeIf(want("knn"), exactGraph.size)},"exact_semantic_pairs":${sizeIf(want("semdedup"), exactPairs.size)}}""")
    spark.stop()
  }
}
