package graft

import graft.pipeline.Similarity
import graft.functions.{vector => gvec}
import org.apache.spark.sql.functions._

/** The codegen-deferral guard (r16 verdict Next #1), proven both ways:
  * it FLAGS each historical instance of the deferred-projection-into-
  * join-loop trap reconstructed at HEAD (the r13 v16 shape, the r15 v17
  * shape, the r16 `_cn` norm shape), and it PASSES the committed fixes.
  * The trap class cost three rounds to find instance by instance; this
  * spec is what makes re-introducing an instance fail in `sbt test`
  * instead of in a bench forensic.
  */
class DeferralGuardSpec extends SparkSpec {

  private def emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("flags the r13 v16 shape: pqEncode Project under a broadcast " +
      "join, and passes once an exchange materializes the codes") {
    val cb = Similarity.trainPqCodebooks(emb, m = 8, k = 16, iters = 0)
    val codes = emb.select(col("vec_id").cast("long").as("neighbor_id"),
      gvec.pqEncode(col("embedding"), cb).as("codes"),
      pmod(col("vec_id"), lit(4)).as("cell_id"))
    val probed = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").cast("long").as("query_id"),
        col("embedding").as("_qv"),
        explode(array(lit(0L), lit(1L), lit(2L), lit(3L))).as("cell_id"))
    // the trap: the join key (cell_id) never references `codes`, so
    // whole-stage codegen defers the 16k-multiply encode into the
    // per-match loop — one encode per (row, probe) PAIR
    val trapped = codes.join(broadcast(probed), Seq("cell_id"))
    val hz = DeferralGuard.hazards(trapped)
    assert(hz.exists(h => h.kernels.contains("graft_pq_encode") &&
      h.column == "codes"), s"guard missed the v16/v17 trap shape: $hz")
    // the committed v17 fix: ONE exchange materializes the projection —
    // every encode runs exactly once per row, and the guard sees the
    // pipeline breaker
    val fixed = codes.repartition(4).join(broadcast(probed), Seq("cell_id"))
    assert(DeferralGuard.hazards(fixed).isEmpty,
      "exchange-materialized codes must not be flagged")
  }

  test("ivfPqTopK's multiplicity gate decides the shape: a deferring " +
      "hint leaves the hazard, the honest count materializes it away") {
    // queryCountHint lies low → matchesPerRow < 1 → the gate keeps the
    // lazy (deferred) form: the exact regime where deferral WINS (fewer
    // encodes than rows), and exactly what the guard must see
    val lazyForm = Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 5),
      k = 5, nProbe = 1, centroidEvery = 10, rerank = 0,
      queryCountHint = 0)
    assert(DeferralGuard.hazards(lazyForm)
      .exists(_.kernels.contains("graft_pq_encode")),
      "sub-unit multiplicity must keep the deferred encode (and the " +
        "guard must report it)")
    // 40 queries at ~80 cells, nProbe 8 → matchesPerRow ≈ 4 ≥ 1: the
    // gate pays one exchange and the deferred-encode hazard is gone
    val gated = Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 40),
      k = 5, nProbe = 8, centroidEvery = 10, rerank = 0)
    assert(!DeferralGuard.hazards(gated)
      .exists(_.kernels.contains("graft_pq_encode")),
      "past break-even the gate must materialize the encode through an " +
        "exchange")
  }

  test("flags the r16 norm shape: a corpus-side vec_norm Project under " +
      "a cross join; the fused cosinePreQ form passes") {
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("_qv"),
        gvec.norm(col("embedding")).as("_qn"))
    val reverted = emb
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("_cv"),
        gvec.norm(col("embedding")).as("_cn"))
      .crossJoin(broadcast(q))
      .select(col("query_id"), col("neighbor_id"),
        gvec.cosinePre(col("_qv"), col("_cv"), col("_qn"), col("_cn"))
          .as("cosine"))
    assert(DeferralGuard.hazards(reverted)
      .exists(_.kernels.contains("graft_vec_norm")),
      "the pre-r16 corpus-norm projection must be flagged")
    // the build-side query norm is NOT a hazard (build rows materialize
    // eagerly into the hash relation), and the fused kernel leaves the
    // streamed side with nothing to defer
    assert(DeferralGuard.hazards(
      Similarity.bruteCosineTopK(emb, emb.filter(col("vec_id") < 5), 5))
      .isEmpty)
  }

  test("build sides that are provably unique on the join keys do not " +
      "multiply: left join against a groupBy aggregate is not flagged") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val perDoc = docs
      .select(col("doc_id"),
        explode(graft.pipeline.Dedup.shingles(col("text"), 3)).as("_g"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    // the expensive shingle projection sits on the STREAMED side of the
    // left join — but the build side holds at most one row per doc_id,
    // so the deferred evaluation runs at most once per row (t20's shape)
    val joined = docs
      .select(col("doc_id"),
        size(graft.pipeline.Dedup.shingles(col("text"), 3)).as("n_grams"))
      .join(perDoc, Seq("doc_id"), "left")
    assert(DeferralGuard.hazards(joined).isEmpty,
      "aggregate-keyed build side must suppress the flag")
  }

  /** One pass over the registry for two gates: each SparkEntry query is
    * built at sf0.001 and written to the no-op sink, recording the
    * deferral hazards of every plan that ran and whether the session's
    * CacheManager is empty afterwards.
    */
  private lazy val registryPass: Seq[(String, Seq[DeferralGuard.Hazard], Boolean)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val hz = DeferralGuard.queryHazards(spark, fn, "/root/testdata/sf0.001")
      (name, hz, spark.sharedState.cacheManager.isEmpty)
    }

  test("the WHOLE registered suite is hazard-free (executed plans, sf0.001)") {
    // the sbt-test gate for the trap class: every plan a registered query
    // runs walks clean — the checkpoints its operators ran while it was
    // built (each a pipeline breaker) and its own plan, AQE-final as
    // executed. The ExplainAll main runs the same walk beside its plan
    // dump and prints the audit line; this test is the always-on tripwire.
    val bad = registryPass.collect {
      case (name, hz, _) if hz.nonEmpty => s"$name: ${hz.mkString("; ")}"
    }
    assert(bad.isEmpty, s"deferral hazards in registered queries:\n${
      bad.mkString("\n")}")
  }

  test("no registered query leaves a CacheManager entry behind") {
    // every scratch persist is freed by the operator that made it
    // (Scratch.materializeThenFree); the first query after which the
    // cache is non-empty is the one that leaked
    val firstLeak = registryPass.collectFirst { case (name, _, false) => name }
    assert(firstLeak === None, "a registered query left a cache entry behind")
  }

  test("dotDD/dotFD kernels are bit-identical to the builtin " +
      "aggregate(zip_with) fold they replace") {
    val xd = transform(col("embedding"), _.cast("double"))
    def foldDot(a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val rows = emb.limit(64)
      .select(
        gvec.dotDD(xd, reverse(xd)).as("dd_kernel"),
        foldDot(xd, reverse(xd)).as("dd_fold"),
        gvec.dotFD(col("embedding"), reverse(xd)).as("fd_kernel"),
        foldDot(xd, reverse(xd)).as("fd_fold"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)), "dotDD drifted")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(3)), "dotFD drifted")
    }
  }

  test("cosinePreQ is bit-identical to the split cosinePre over norm") {
    val rows = emb.limit(50)
      .select(
        gvec.cosinePreQ(col("embedding"), col("embedding"),
          gvec.norm(col("embedding"))).as("fused"),
        gvec.cosinePre(col("embedding"), col("embedding"),
          gvec.norm(col("embedding")), gvec.norm(col("embedding")))
          .as("split"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1))))
    // and against distinct vectors (the join regime), via a small pair set
    val a = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("ia"), col("embedding").as("va"),
        gvec.norm(col("embedding")).as("na"))
    val b = emb.filter(col("vec_id") >= 8 && col("vec_id") < 16)
      .select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val pairs = a.crossJoin(b)
      .select(
        gvec.cosinePreQ(col("va"), col("vb"), col("na")).as("fused"),
        gvec.cosinePre(col("va"), col("vb"), col("na"),
          gvec.norm(col("vb"))).as("split"))
      .collect()
    assert(pairs.length === 64)
    pairs.foreach(r => assert(
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1))))
  }
}
