package graft.engine

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Sink layer: Kafka key/value assembly and streaming sinks.
  *
  * Wire-format fidelity (SURVEY.md §7.5 pt.5, reference README.md:339-351,
  * 462-465):
  *  - values are compact JSON objects with upper-cased field names in
  *    SELECT order (`{"HOME_GOALS":2,"AWAY_GOALS":1}`);
  *  - single-column keys are plain strings (`1:{…}`);
  *  - composite (multi-column GROUP BY) keys are JSON objects
  *    (`{"PLAYER_ID":"1","NAME":"Lionel Messi",…}:{…}`) — K1.
  */
object Sinks {

  /** Assemble `key`/`value` string columns for a Kafka write. Pure
    * DataFrame transformation so it is testable without a broker and
    * identical in batch and streaming.
    */
  def kafkaKeyValue(df: DataFrame, keyCols: Seq[String],
      upperCaseFields: Boolean = true): DataFrame = {
    val valueCols = df.columns.filterNot(keyCols.contains).toIndexedSeq
    def fieldName(c: String) = if (upperCaseFields) c.toUpperCase else c
    val key =
      if (keyCols.size == 1) col(keyCols.head).cast("string")
      else to_json(struct(keyCols.map(c => col(c).as(fieldName(c))): _*))
    val value = to_json(struct(valueCols.map(c => col(c).as(fieldName(c))): _*))
    df.select(key.as("key"), value.as("value"))
  }

  /** Persistent query to a Kafka topic (Q2/S5/S6): changelog semantics via
    * `update` output mode for aggregations, `append` for stateless streams —
    * matching ksqlDB's CTAS/CSAS topic behavior (README.md:306-328).
    * Requires the kafka connector at runtime; not exercised in this build
    * environment.
    */
  def toKafkaJson(df: DataFrame, brokers: String, topic: String,
      keyCols: Seq[String], checkpoint: String,
      mode: OutputMode = OutputMode.Update()): StreamingQuery =
    kafkaKeyValue(df, keyCols).writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .outputMode(mode)
      .start()

  /** Batch twin of a persistent query: materialize to parquet (the driver's
    * Verify path uses this shape).
    */
  def toParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Streaming parquet sink — the lakehouse landing path for a persistent
    * query. Append-mode with a checkpoint: the file-sink commit log gives
    * exactly-once file visibility across restarts (readers see only files
    * recorded in `_spark_metadata`). That same log means
    * [[graft.engine.Layout.compact]] must NOT run on this path (it
    * refuses): a directory swap would orphan every logged file and
    * readers would see only post-compact appends. Small-file control here
    * is downstream's job — periodically rewrite into a separate compacted
    * copy (or a table format whose commit protocol subsumes the log).
    */
  def streamToParquet(df: DataFrame, path: String,
      checkpoint: String): StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()

  /** JSONL export — the interchange format training-data corpora actually
    * ship in. One file per partition (line-delimited JSON objects); string
    * values JSON-escape, so embedded quotes/control chars round-trip.
    * Read back with [[Sources.fromJsonl]] under the writer's schema.
    */
  def toJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Header-less CSV export (RFC-4180 quoting, so delimiters/quotes inside
    * values round-trip). Doubles print via Java `Double.toString`, whose
    * shortest-round-trip contract makes parse(print(x)) == x — the s13
    * oracle's hash equality depends on exactly that. Read back with
    * [[Sources.fromCsv]] under the writer's schema.
    */
  def toCsv(df: DataFrame, path: String, delimiter: String = ","): Unit =
    df.write.mode("overwrite")
      .option("header", "false")
      .option("delimiter", delimiter)
      .csv(path)
}
