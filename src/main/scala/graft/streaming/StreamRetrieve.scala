package graft.streaming

import graft.pipeline.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuous retrieval — the SERVING shape of the materialized IVF
  * index: a stream of query vectors probes the index per micro-batch and
  * each query's top-k lands exactly once. This closes the index's
  * lifecycle triangle: [[graft.pipeline.Similarity.buildIvfIndex]] builds,
  * [[graft.pipeline.Similarity.streamIntoIvfIndex]] keeps it growing, and
  * this loop serves it — all three runnable CONCURRENTLY (each batch
  * re-reads the index path, so ingested vectors become retrievable at the
  * next batch boundary; a probe overlapping an ingest install sees the
  * loud-or-correct boundary documented in SCALE.md, and the ledger
  * replays the batch).
  *
  * Per batch: the probed cell set prunes index partitions before any I/O
  * (the [[graft.pipeline.Similarity.ivfCosineTopKIndexed]] plan — only
  * ~nProbe/nCells of the index files are read per batch, independent of
  * corpus size), so the DATA-plane cost per batch tracks the BATCH times
  * the probe fan-out, never the index. The METADATA plane — re-listing
  * the index's `cell_id=` directories to resolve the scan — grows with
  * cell count, and `refreshEvery` is its amortization lever: the index
  * snapshot is re-resolved every `refreshEvery` batches (1 = every batch,
  * the maximum-freshness default; N = ingested vectors become retrievable
  * within N batches, listing cost paid 1/N as often — the serving-SLA
  * trade measured in STREAMBENCH_r10 `scaled_retrieval`). Results append
  * exactly once via [[graft.engine.BatchLedger.stagedLanding]] — a crash
  * on either side of the marker replays the batch or completes the
  * pending install (the snapshot var resets on restart: first batch
  * after recovery always re-resolves).
  */
object StreamRetrieve {

  /** `holdout`/`metricsEvery`/`metricsPath` mount the index-quality
    * monitor ([[Similarity.retrievalMetrics]], the v19 operator — built
    * for exactly this position) INTO the serving loop: every
    * `metricsEvery`-th batch, the held-out query set runs through BOTH
    * the pinned serving snapshot (the answers being served, at the
    * serving nProbe) and an exact brute-force pass over the LIVE index
    * content, and one `(batch_id, n_queries, recall_at_k, mrr)` row
    * lands beside the results — exactly once, inside the same staged
    * landing. Recall degrading across refreshes is the drift alarm: a
    * stale-pinned snapshot hiding appends, or an nProbe the ingested
    * distribution has outgrown (StreamMoments' drift row, for the index).
    * The exact pass costs |holdout| × |index| per emission — size the
    * holdout and cadence against that (the standard monitor trade; at
    * production scale, sample the index side too).
    */
  def retrievalLoop(queries: DataFrame, indexPath: String,
      centroids: Array[(Long, Array[Float])], outPath: String,
      checkpointDir: String, k: Int = 5, nProbe: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      refreshEvery: Int = 1, holdout: DataFrame = null,
      metricsEvery: Int = 0, metricsPath: String = null):
      org.apache.spark.sql.streaming.StreamingQuery = {
    require(refreshEvery >= 1, s"refreshEvery must be >= 1: $refreshEvery")
    require(metricsEvery >= 0, s"metricsEvery must be >= 0: $metricsEvery")
    require(metricsEvery == 0 || (holdout != null && metricsPath != null),
      "metricsEvery > 0 needs both a holdout query set and a metricsPath")
    var snapshot: DataFrame = null
    var sinceRefresh = 0
    queries.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        def resolve(): Unit = {
          snapshot = batch.sparkSession.read.parquet(indexPath)
          sinceRefresh = 0
        }
        if (snapshot == null || sinceRefresh >= refreshEvery) resolve()
        sinceRefresh += 1
        def land(): Unit =
          graft.engine.BatchLedger.stagedLanding(batch.sparkSession,
            s"$checkpointDir/graft_ledger", batchId) { st =>
            // the probe relation persists inside the indexed query and is
            // freed before it returns, so no batch leaves a cached relation
            Similarity.ivfCosineTopKSnapshot(snapshot,
              centroids, batch, k, nProbe, idCol, vecCol)
              .write.mode("overwrite").parquet(st.appendInto(outPath))
            if (metricsEvery > 0 && batchId % metricsEvery == metricsEvery - 1) {
              val spark = batch.sparkSession
              // exact ground truth against the LIVE index content (fresh
              // read, not the pinned snapshot) — recall < 1 means the
              // served answers have drifted from what the index now holds.
              // The index layout stores pre-renamed scoring columns
              // (neighbor_id, _cv, cell_id); map back to the caller's names
              val exact = Similarity.bruteCosineTopK(
                spark.read.parquet(indexPath)
                  .select(col("neighbor_id").as(idCol), col("_cv").as(vecCol)),
                holdout, k, idCol, vecCol)
              val approx = Similarity.ivfCosineTopKSnapshot(snapshot,
                centroids, holdout, k, nProbe, idCol, vecCol)
              Similarity.retrievalMetrics(exact, approx, k)
                .agg(count(lit(1)).as("n_queries"),
                  round(avg(col("recall_at_k")), 6).as("recall_at_k"),
                  round(avg(col("mrr")), 6).as("mrr"))
                .select(lit(batchId).as("batch_id"), col("n_queries"),
                  col("recall_at_k"), col("mrr"))
                .write.mode("overwrite").parquet(st.appendInto(metricsPath))
            }
          }
        try land()
        catch { case _: Throwable =>
          // a compaction swap under a pinned snapshot surfaces as a loud
          // missing-file error (SCALE.md boundary). A foreachBatch
          // exception would TERMINATE the query (Spark has no in-run
          // batch retry), so self-heal here: re-resolve the snapshot and
          // retry the batch once in place — stagedLanding discards the
          // failed attempt's staging, so the landing stays exactly-once.
          // A second failure is a real error and fails the query loudly.
          resolve()
          sinceRefresh = 1
          land()
        }
        ()
      }
      .start()
  }
}
