package perfbench

/** Matching records to the update-mode changelog of a push query.
  *
  * The push query carries a per-key `COUNT(*)`: a row for key `k` with
  * count `c` reflects the first `c` records of `k` in the order the
  * engine took them in. The benchmark sends all records of one key on
  * one connection, one at a time, so that order is the send order, and
  * the `n`-th record of `k` is reflected by the first row of `k`, in
  * stream order, whose count is at least `n`.
  */
object Changelog {
  /** A row as the client read it off the push stream. */
  final case class Row(key: String, count: Long, arrivalNs: Long, cells: Vector[Any])

  /** For each `(key, n)` (`n` is 1-based within its key), the index into
    * `rows` of the first row that reflects it, or -1 if none does.
    */
  def matchRecords(records: Seq[(String, Long)], rows: IndexedSeq[Row]): Array[Int] = {
    val byKey = rows.indices.groupBy(i => rows(i).key)
    records.map { case (k, n) =>
      byKey.get(k).flatMap(_.find(i => rows(i).count >= n)).getOrElse(-1)
    }.toArray
  }

  /** Every column in `cols` never decreases along each key's rows. */
  def monotone(rows: Seq[Row], cols: Seq[Int]): Boolean =
    rows.groupBy(_.key).values.forall { rs =>
      cols.forall { c =>
        val xs = rs.map(r => BigDecimal(r.cells(c).toString))
        xs.zip(xs.drop(1)).forall { case (a, b) => a <= b }
      }
    }

  /** The last row per key: the converged state the stream shows. */
  def lastByKey(rows: Seq[Row]): Map[String, Row] =
    rows.groupBy(_.key).map { case (k, rs) => k -> rs.last }
}
