package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{collect_set, size}

/** Exact COUNT_DISTINCT usable under streaming update-mode aggregation.
  *
  * The reference's `COUNT_DISTINCT` (all.sql:115) is an incremental
  * per-key exact distinct count. Spark's `countDistinct` rewrites to a
  * two-phase expand/aggregate that streaming aggregation rejects, so the
  * streaming path needs either `approx_count_distinct` (HLL sketch — the
  * right answer at 100 TB) or the size of a `collect_set`, which keeps
  * the observed value set in per-key state (state grows with distinct
  * cardinality — fine at dimension-key scale, documented trade-off;
  * SURVEY.md §7.4-7.5).
  */
object ExactCountDistinct {
  /** The exact distinct count of `c` as an aggregate BIGINT Column (the
    * input stringifies losslessly for counting; nulls are not counted).
    */
  def column(c: Column): Column = size(collect_set(c.cast("string"))).cast("bigint")
}
