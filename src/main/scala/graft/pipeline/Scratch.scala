package graft.pipeline

import org.apache.spark.sql.DataFrame

/** The one cache-lifetime rule for pipeline operators: a scratch
  * relation belongs to the operator call that persists it and is freed
  * before that call returns.
  *
  * The dedup / similarity / text operators persist scratch relations
  * (shingle hashes, LSH bands, cell assignments, probe sets) so both
  * sides of a self-join read them once. Every such operator returns
  * through [[materializeThenFree]]: the result runs to completion once
  * via an eager `localCheckpoint`, which stores the small, post-filter
  * result as executor blocks owned by the ContextCleaner rather than as
  * a CacheManager entry, and then the scratch relations are unpersisted.
  * The caller gets a lineage-truncated DataFrame whose reuse costs no
  * recompute, and the session's CacheManager is left as it was found.
  *
  * To see the plan an operator ran, capture its checkpoint's execution
  * with [[graft.Executions.capture]].
  */
private[graft] object Scratch {

  /** Materialize `result` eagerly, then unpersist every `scratch`
    * relation it was built from. Use when `result` is small relative to
    * the scratch relations (candidate pairs after a threshold filter,
    * top-k rows): the checkpoint blocks it leaves behind are bounded and
    * GC-collected, while the corpus-sized scratch cache is freed now.
    */
  def materializeThenFree(result: DataFrame, scratch: DataFrame*): DataFrame = {
    val out = result.localCheckpoint(eager = true)
    scratch.foreach(_.unpersist(blocking = false))
    out
  }
}
