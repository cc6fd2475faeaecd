package graft.ksql

import graft.engine.{Sources, TableOps}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import scala.collection.mutable

/** One executed statement: the result DataFrame (queries/SHOW) or the
  * error ksqlDB's CLI would have printed (the reference script itself
  * contains one intentionally-invalid query — a non-aggregated,
  * non-grouped column, all.sql:100-125 — that the tutorial then fixes
  * with LATEST_BY_OFFSET; a script run must survive it the way the CLI
  * does).
  */
final case class StatementResult(statement: KsqlStatement,
    df: Option[DataFrame], error: Option[String])

/** One in-memory topic (the Kafka log analogue). `base` is the
  * connector-fed portion, checkpointed once at CREATE SOURCE CONNECTOR:
  * it stays in executor blocks (a 100 TB snapshot is never collected to
  * the driver), and every later read sees the same rows at the same
  * offsets, where re-running a JDBC read (no ORDER BY) could renumber
  * them. `log` holds the INSERTed records (driver-side by nature: a
  * human typed them), converted to Catalyst rows once, at INSERT. It is
  * an immutable Vector replaced on append, so whoever holds it holds a
  * snapshot. `baseCount` (the offset origin for INSERTs) counts the
  * checkpoint on first INSERT.
  */
private[ksql] final class Topic(val schema: StructType, base: Option[DataFrame]) {
  private var log = Vector.empty[InternalRow]
  private lazy val baseCount: Long = base.fold(0L)(_.count())
  private val toCatalyst = schema.fields.toSeq.filterNot(f => KsqlTranslator.LogColumns(f.name))
    .map(f => CatalystTypeConverters.createToCatalystConverter(f.dataType))

  /** Append one record of value columns (the schema's, in order); its
    * offset and ROWTIME (the [[KsqlTranslator.withRowtime]] clock, in
    * microseconds) come from its position in the log.
    */
  def append(values: Seq[Any]): Unit = {
    val off = baseCount + log.length
    val rowtime = (KsqlTranslator.RowtimeBaseSec + off) * 1000000L
    log :+= new GenericInternalRow(
      (values.zip(toCatalyst).map { case (v, c) => c(v) } :+ off :+ rowtime).toArray)
  }

  /** This topic's rows as they stand now, as a plan whose output is
    * exactly `out` (the ids the query above it resolved against). The
    * checkpoint is re-instanced, so a topic read twice in one query keeps
    * distinct attribute ids in each branch.
    */
  def snapshot(out: Seq[Attribute]): LogicalPlan = base match {
    case None => LocalRelation(out, log)
    case Some(b) =>
      val scan = b.queryExecution.analyzed.asInstanceOf[MultiInstanceRelation].newInstance()
      val rows = if (log.isEmpty) scan
        else Union(scan, LocalRelation(scan.output.map(_.newInstance()), log))
      Project(out.zip(rows.output).map { case (o, a) =>
        Alias(a, o.name)(exprId = o.exprId) }, rows)
  }
}

/** A topic's rows inside a registered view: the leaf that
  * [[KsqlEngine]] replaces, per query, with [[Topic.snapshot]]. It is
  * identified by the [[Topic]] object it carries, not by its attribute
  * ids: a second reference to the same view gets new ids from
  * `DeduplicateRelations` (through [[newInstance]]) and must still bind
  * to the same topic. Never planned.
  */
private[ksql] final case class TopicRelation(topic: Topic, output: Seq[Attribute])
    extends LeafNode with MultiInstanceRelation {
  override def newInstance(): TopicRelation = copy(output = output.map(_.newInstance()))
}

/** Executes the reference's KSQL dialect on Spark — the API-compatibility
  * layer that lets a user of the reference submit the same statements they
  * run today (reference: files/ksqldb-cli/all.sql, README.md).
  *
  * Execution model: views registered by DDL, bound per query. Each
  * declared collection's view is registered once, at CREATE, over a
  * [[TopicRelation]] leaf of its [[Topic]] (tables apply latest-by-key
  * upsert on the PRIMARY KEY, Q3); CSAS/CTAS collections register their
  * translated SELECT over those views, once, at CREATE. A query (SELECT,
  * EXPLAIN, PRINT) analyzes only its own text, then binds every topic
  * leaf in its plan to that topic's rows as they stand at `execute`, so
  * the result is the converged state at that moment however late it is
  * collected — the state a ksqlDB push query would have emitted last (the
  * README's golden tables are exactly these states). A CREATE that
  * replaces a collection or a topic re-registers the views that read it.
  * Continuous *emission* semantics (the changelog between states) are
  * exercised by [[KsqlStreamingEngine]]. SELECT translation is the shared
  * [[KsqlTranslator]]'s.
  */
class KsqlEngine(
    val spark: SparkSession,
    connectorProvider: (SparkSession, Map[String, String]) => DataFrame =
      KsqlEngine.jdbcConnectorProvider) extends KsqlTranslator[DataFrame] {
  import KsqlTranslator.{LogColumns, connectorTopic, topicOf}

  private val topics = mutable.LinkedHashMap.empty[String, Topic]
  private val decls = mutable.LinkedHashMap.empty[String, Decl]
  private val connectors = mutable.ArrayBuffer.empty[String]
  private val properties = mutable.Map.empty[String, String]

  protected def declared(name: String): Option[Decl] = decls.get(name.toLowerCase)

  // ---- statement execution -------------------------------------------

  def executeScript(script: String): Seq[StatementResult] =
    KsqlParser.splitStatements(script).map { s =>
      val stmt = KsqlParser.parse(s)
      try StatementResult(stmt, execute(stmt), None)
      catch { case e: Exception =>
        StatementResult(stmt, None, Some(e.getMessage)) }
    }

  def execute(stmt: KsqlStatement): Option[DataFrame] = stmt match {
    case SetProperty(k, v) =>
      properties(k) = v; None

    case CreateConnector(name, props) =>
      // the snapshot runs once, here (Scratch's eager-checkpoint rule)
      val snap = withLogColumns(connectorProvider(spark, props))
        .localCheckpoint(eager = true)
      val topic = connectorTopic(props)
      topics(topic) = new Topic(snap.schema, Some(snap))
      connectors += name
      // a collection declared before its connector re-binds to the data
      decls.values.filter(_.topic == topic).toSeq.foreach(registerDecl)
      None

    case CreateCollection(kind, name, cols, props) =>
      val topic = topicOf(name, props)
      if (!topics.contains(topic)) {
        val schema = StructType(cols.map(c =>
          StructField(c.name, c.dataType)).toSeq :+
          StructField("_offset", LongType, nullable = false) :+
          StructField("_rowtime", TimestampType, nullable = false))
        topics(topic) = new Topic(schema, None)
      }
      registerDecl(Decl(kind, name, cols, topic))
      None

    case c: CreateAsSelect =>
      createDerived(c)
      refreshReaders(c.name)
      None

    case ins @ InsertValues(target, _, _) =>
      val d = decls.getOrElse(target.toLowerCase,
        throw new NoSuchElementException(s"unknown collection $target"))
      val topic = topics(d.topic)
      val supplied = insertColumns(d.name, d.cols, ins)
        .map { case (c, v) => c.name.toLowerCase -> (c, v) }.toMap
      // the appended Row unions POSITIONALLY against the TOPIC schema —
      // align by name, not by declaration order (a decl over a
      // connector-fed topic may list columns in a different order, or a
      // subset; positional append would corrupt silently)
      val valueFields = topic.schema.fields.toSeq.filterNot(f => LogColumns(f.name))
      val unknown = d.cols.map(_.name.toLowerCase)
        .filterNot(n => valueFields.exists(_.name.toLowerCase == n))
      require(unknown.isEmpty,
        s"decl ${d.name} columns ${unknown.mkString(",")} not in topic " +
          s"${d.topic}'s schema — INSERTed values would have nowhere to land")
      val converted = valueFields.map(f => supplied.get(f.name.toLowerCase)
        .map { case (c, v) => KsqlEngine.convertLiteral(v, c.dataType) }.orNull)
      topic.append(converted)
      None

    case q @ PushQuery(select, _) =>
      // batch re-evaluation sees the complete log, so every window is
      // already final — EMIT FINAL and EMIT CHANGES converge here; the
      // validity rule still applies, so the same statement never
      // succeeds here and fails on the streaming engine
      pushWindowKind(q)
      Some(pinned(spark.sql(translateSelect(select)), _.toUpperCase))

    case ExplainCommand(select) =>
      import spark.implicits._
      val qe = pinned(spark.sql(translateSelect(select))).queryExecution
      Some(qe.explainString(org.apache.spark.sql.execution.SimpleMode)
        .linesIterator.toSeq.toDF("plan"))

    case DescribeCommand(name) => {
      import spark.implicits._
      val rows = declared(name) match {
        case Some(d) =>
          d.cols.map(c => (c.name.toUpperCase, c.dataType.sql,
            if (c.isKey) (if (d.kind == "TABLE") "PRIMARY KEY" else "KEY") else ""))
        case None =>
          spark.table(name).schema.fields.toSeq
            .filterNot(f => LogColumns(f.name))
            .map(f => (f.name.toUpperCase, f.dataType.sql, ""))
      }
      Some(rows.toDF("column_name", "type", "key"))
    }

    case DropCollection(kind, name, ifExists) =>
      val n = name.toLowerCase
      kindOf(name) match {
        case Some(k) if k != kind =>
          throw new IllegalArgumentException(
            s"$name is a $k — use DROP $k")
        case Some(_) =>
          requireNoDependents(n)
          decls.remove(n); derived.remove(n)
          spark.catalog.dropTempView(name)
        case None if ifExists => ()
        case None =>
          throw new NoSuchElementException(s"$kind $name does not exist")
      }
      None

    case PrintTopic(topic) =>
      val key = topics.keys.find(_.equalsIgnoreCase(topic)).getOrElse(
        throw new NoSuchElementException(s"topic $topic does not exist"))
      val t = topics(key)
      Some(Bridge.ofRows(spark, t.snapshot(DataTypeUtils.toAttributes(t.schema))))

    // ksqlDB terminates persistent queries by id; here the derived
    // collection IS the persistent query — terminating it drops its view
    case TerminateQuery(qid) =>
      val n = qid.toLowerCase
      if (!derived.contains(n))
        throw new NoSuchElementException(s"query $qid does not exist")
      requireNoDependents(n)
      derived.remove(n)
      spark.catalog.dropTempView(qid)
      None

    case ShowCommand(what) =>
      import spark.implicits._
      Some(what match {
        case "TOPICS" => topics.keys.toSeq.sorted.toDF("name")
        case "CONNECTORS" => connectors.toSeq.sorted.toDF("name")
        case "QUERIES" =>
          // ksqlDB lists persistent queries; here each derived collection
          // is one (TERMINATE <name> stops it)
          derived.values.map(d =>
            (d.name, s"C${d.kind.head}AS", d.topic,
              d.select.replaceAll("\\s+", " ").take(60)))
            .toSeq.sortBy(_._1).toDF("query_id", "kind", "sink_topic", "query")
        case "STREAMS" | "TABLES" =>
          val kind = what.dropRight(1) // STREAM / TABLE
          (decls.values.filter(_.kind == kind).map(d => (d.name, d.kind, d.topic)) ++
            derived.values.filter(_.kind == kind).map(d => (d.name, d.kind, d.topic)))
            .toSeq.sortBy(_._1).toDF("name", "kind", "topic")
        case other => throw new IllegalArgumentException(s"SHOW $other unsupported")
      })
  }

  /** Reject removing a collection some remaining derived query reads —
    * its view would dangle (ksqlDB rejects such drops the same way).
    */
  private def requireNoDependents(n: String): Unit =
    derived.values.find(d => d.name.toLowerCase != n &&
        fromSources(d.select).exists(_._1.toLowerCase == n))
      .foreach { d =>
        throw new IllegalArgumentException(
          s"cannot remove $n: query ${d.name} reads from it")
      }

  // ---- views ----------------------------------------------------------

  /** Register a declared collection's view over its topic's leaf, then
    * re-register the derived views that read it. The decl is recorded
    * only once its view builds.
    */
  private def registerDecl(d: Decl): Unit = {
    val t = topics(d.topic)
    val projected = Bridge.ofRows(spark,
      TopicRelation(t, DataTypeUtils.toAttributes(t.schema))).select(
      d.cols.map(c => col(c.name)) :+ col("_offset") :+ col("_rowtime"): _*)
    val view = d.kind match {
      case "TABLE" =>
        TableOps.latestByKey(projected, d.cols.filter(_.isKey).map(_.name), "_offset")
      case _ => projected
    }
    view.createOrReplaceTempView(d.name)
    decls(d.name.toLowerCase) = d
    refreshReaders(d.name)
  }

  /** `df` with every topic leaf bound to that topic's rows as they stand
    * now (the pin that makes a result the state at `execute`, however
    * late it is collected) and its columns renamed by `rename`, in the
    * one analysis the bound plan needs.
    */
  private def pinned(df: DataFrame, rename: String => String = identity): DataFrame = {
    val plan = df.queryExecution.analyzed.transformWithSubqueries {
      case TopicRelation(t, out) => t.snapshot(out)
    }
    Bridge.ofRows(spark, Project(plan.output.map(a => Alias(a, rename(a.name))()), plan))
  }
}

object KsqlEngine {

  /** Parse a ksqlDB VALUES literal into the Scala value for `dt` —
    * primitives (outer quotes stripped, SQL `''` un-doubled), `ARRAY[…]`,
    * `MAP(k := v, …)`, `STRUCT(f := v, …)`. Shared by the batch engine's
    * topic-row append and the streaming engine's JSON wire encode, so one
    * INSERT parses identically on both planes.
    */
  private[ksql] def convertLiteral(literal: String, dt: DataType): Any = {
    val v = literal.trim
    val up = v.toUpperCase
    if (v.equalsIgnoreCase("null")) null
    else (dt, up) match {
      case (at: ArrayType, u) if u.startsWith("ARRAY[") && u.endsWith("]") =>
        KsqlParser.splitTopLevel(v.substring(6, v.length - 1))
          .map(convertLiteral(_, at.elementType))
      case (mt: MapType, u) if u.startsWith("MAP(") && u.endsWith(")") =>
        KsqlParser.splitTopLevel(v.substring(4, v.length - 1)).map { kv =>
          val Array(k, value) = kv.split(":=", 2)
          convertLiteral(k.trim, mt.keyType) ->
            convertLiteral(value.trim, mt.valueType)
        }.toMap
      case (st: StructType, u) if u.startsWith("STRUCT(") && u.endsWith(")") =>
        val byName = KsqlParser.splitTopLevel(v.substring(7, v.length - 1))
          .map { kv =>
            val Array(f, value) = kv.split(":=", 2)
            f.trim.toLowerCase -> value.trim
          }.toMap
        Row.fromSeq(st.fields.toSeq.map(f =>
          byName.get(f.name.toLowerCase)
            .map(convertLiteral(_, f.dataType)).orNull))
      case _ =>
        val s =
          if (v.length >= 2 && v.head == '\'' && v.last == '\'')
            v.substring(1, v.length - 1).replace("''", "'")
          else v
        dt match {
          case StringType => s
          case IntegerType => s.toInt
          case LongType => s.toLong
          case DoubleType => s.toDouble
          case BooleanType => s.toBoolean
          case _: DecimalType => new java.math.BigDecimal(s)
          case other => throw new IllegalArgumentException(s"cast to $other")
        }
    }
  }

  /** JSON-encode a [[convertLiteral]] value of type `dt` — the streaming
    * wire form; `from_json` with the declared schema decodes it back
    * losslessly (nested types included).
    */
  private[ksql] def jsonEncode(x: Any, dt: DataType): String = {
    // every char < 0x20 must be escaped or from_json (PERMISSIVE)
    // silently decodes the whole row as nulls: KsqlServer.jsonEscape's
    // table, so the two wire planes cannot diverge
    def quote(s: String): String = "\"" + KsqlServer.jsonEscape(s) + "\""
    (x, dt) match {
      case (null, _) => "null"
      case (s: String, _) => quote(s)
      // NaN/Infinity are not JSON numbers; bare they corrupt the whole
      // row (PERMISSIVE → all-null) where the batch engine stores the
      // value fine. from_json accepts the quoted spellings for
      // double/float columns, so quoting keeps the planes converged.
      case (d: Double, _) if d.isNaN || d.isInfinite => "\"" + d + "\""
      case (f: Float, _) if f.isNaN || f.isInfinite => "\"" + f + "\""
      case (seq: Seq[_], at: ArrayType) =>
        seq.map(jsonEncode(_, at.elementType)).mkString("[", ",", "]")
      case (m: Map[_, _], mt: MapType) =>
        m.map { case (k, value) =>
          quote(String.valueOf(k)) + ":" + jsonEncode(value, mt.valueType)
        }.mkString("{", ",", "}")
      case (r: Row, st: StructType) =>
        st.fields.zipWithIndex.map { case (f, i) =>
          quote(f.name) + ":" + jsonEncode(r.get(i), f.dataType)
        }.mkString("{", ",", "}")
      case (other, _) => String.valueOf(other)
    }
  }

  /** Default CREATE SOURCE CONNECTOR provider: a JDBC snapshot via
    * Spark's JDBC source (S1; the reference's Connect worker equivalent,
    * all.sql:3-18). Tests inject an in-memory provider instead.
    */
  def jdbcConnectorProvider(spark: SparkSession,
      props: Map[String, String]): DataFrame =
    Sources.fromJdbcSnapshot(spark, props("connection.url"),
      props("table.whitelist"), KsqlTranslator.jdbcOptions(props))
}
