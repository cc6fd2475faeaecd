package graft.ksql

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** A declared (non-derived) collection: STREAM or TABLE over `topic`. */
private[ksql] final case class Decl(kind: String, name: String,
    cols: Seq[ColumnDef], topic: String)

/** A derived (CSAS/CTAS) collection: its SELECT, registered as a view. */
private[ksql] final case class Derived(kind: String, name: String,
    select: String, partitionBy: Option[String], topic: String)

/** The statement front end both KSQL planes share — the batch
  * ([[KsqlEngine]], converged states) and streaming
  * ([[KsqlStreamingEngine]], live changelogs) executors differ only in how
  * a resolved statement runs, so everything that resolves one lives here
  * once: statement-text entry, topic naming, INSERT column resolution,
  * the derived-view registry, record timestamps and the SELECT
  * translation below. Each plane still dispatches through its public
  * `execute(stmt: KsqlStatement)`.
  *
  * KSQL → Spark SQL SELECT translation is textual and total for the
  * reference dialect: `EMIT CHANGES` stripped,
  * `UCASE`→`upper`, `COUNT_DISTINCT` → engine-chosen aggregate (exact
  * `count(DISTINCT)` in batch, the size of a `collect_set` in
  * streaming, where Spark rejects count-distinct), `LATEST_BY_OFFSET(x)`
  * → `graft_latest_by_offset(x, stream._offset)`, ksqlDB-style
  * alias-prefixed `SELECT *` expansion.
  *
  * Beyond the tutorial's surface, ksqlDB 0.15's windowed aggregations
  * translate too (every collection view carries a `_rowtime` record
  * timestamp):
  * `WINDOW TUMBLING (SIZE n U)` / `HOPPING (SIZE n U, ADVANCE BY m U)` /
  * `SESSION (n U)` become `window()` / `session_window()` grouping
  * expressions, and the `WINDOWSTART`/`WINDOWEND`/`ROWTIME`
  * pseudo-columns resolve to epoch-millis of the window bounds / record
  * time (ksqlDB's BIGINT-millis semantics).
  */
trait KsqlTranslator[R] {
  import KsqlTranslator.LogColumns

  def spark: SparkSession

  graft.functions.GraftFunctions.registerAll(spark)

  /** Execute one parsed statement: `Some` for a query result. */
  def execute(stmt: KsqlStatement): Option[R]

  /** Execute exactly one statement given as text. */
  def execute(statement: String): Option[R] = {
    val stmts = KsqlParser.splitStatements(statement)
    require(stmts.size == 1, s"expected one statement, got ${stmts.size}")
    execute(KsqlParser.parse(stmts.head))
  }

  /** The declared (non-derived) collection `name`, if any. */
  protected def declared(name: String): Option[Decl]

  /** Derived (CSAS/CTAS) collections by lower-cased name, in creation
    * order (a derived view may read earlier ones).
    */
  protected val derived = mutable.LinkedHashMap.empty[String, Derived]

  /** STREAM/TABLE kind of a registered collection, if known. */
  protected def kindOf(name: String): Option[String] =
    declared(name).map(_.kind)
      .orElse(derived.get(name.toLowerCase).map(_.kind))

  /** Output columns of each derived view, recorded as it registers. */
  private val derivedColumns = mutable.Map.empty[String, Seq[String]]

  /** Output columns of a collection (without the log columns). */
  protected def viewColumns(name: String): Seq[String] =
    declared(name).map(_.cols.map(_.name))
      .orElse(derived.get(name.toLowerCase).flatMap(d => derivedColumns.get(d.name)))
      .getOrElse(spark.table(name).columns.toSeq.filterNot(LogColumns))

  /** Render a `COUNT_DISTINCT(args)` call — engine-specific (batch uses
    * native count-distinct; streaming substitutes the size of a
    * `collect_set`, which Spark's unsupported-operation check requires).
    */
  protected def countDistinctRender(args: String): String =
    s"count(DISTINCT $args)"

  /** (Re-)register a derived view: translate its SELECT, apply the
    * `PARTITION BY` re-key, bind the temp view.
    */
  private def registerDerived(d: Derived): Unit = {
    val df = spark.sql(translateSelect(d.select, injectOffset = d.kind == "STREAM"))
    d.partitionBy.fold(df)(p => df.repartition(col(p)))
      .createOrReplaceTempView(d.name)
    derivedColumns(d.name) = df.columns.toSeq.filterNot(LogColumns)
  }

  /** Re-register every derived view, in creation order. */
  protected def refreshDerived(): Unit = derived.values.foreach(registerDerived)

  /** Re-register, in creation order, every derived view that reads `name`
    * directly or through another derived view: a view holds the plans of
    * the views it read when it was registered, so a replaced one reaches
    * its readers only this way.
    */
  protected def refreshReaders(name: String): Unit = {
    val stale = mutable.Set(name.toLowerCase)
    derived.values.foreach { d =>
      if (fromSources(d.select).exists(s => stale(s._1.toLowerCase))) {
        registerDerived(d)
        stale += d.name.toLowerCase
      }
    }
  }

  /** CREATE … AS SELECT: the view is built at CREATE, so a bad SELECT
    * fails there, as in ksqlDB.
    */
  protected def createDerived(c: CreateAsSelect): Unit = {
    val d = Derived(c.kind, c.name, c.select, c.partitionBy,
      KsqlTranslator.topicOf(c.name, c.props))
    registerDerived(d)
    derived(c.name.toLowerCase) = d
  }

  /** Record timestamps (ksqlDB's ROWTIME): a fixed epoch base + 1 s per
    * topic offset — deterministic ingestion-time semantics, derived
    * in-plan so it also works on a live stream.
    */
  protected def withRowtime(df: DataFrame): DataFrame =
    df.withColumn("_rowtime",
      timestamp_seconds(lit(KsqlTranslator.RowtimeBaseSec) + col("_offset")))

  /** Append the topic-log columns to a connector snapshot WITHOUT
    * collecting it: `_offset` via a distributed `zipWithIndex` (stable
    * partition-order indices — the arrival-order analogue; one partition-
    * size job, no rows collected) and `_rowtime` from the offset.
    */
  protected def withLogColumns(df: DataFrame): DataFrame = {
    val schema = StructType(df.schema.fields.toSeq :+
      StructField("_offset", LongType, nullable = false))
    val indexed = df.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    withRowtime(spark.createDataFrame(indexed, schema))
  }

  /** Pair each VALUES literal with the declared column it fills, checking
    * arity and rejecting unknown columns — a typo'd column must fail
    * loudly, never land a silent null.
    */
  protected def insertColumns(name: String, cols: Seq[ColumnDef],
      ins: InsertValues): Seq[(ColumnDef, String)] = {
    val order = ins.columns.getOrElse(cols.map(_.name))
    require(order.length == ins.values.length,
      s"INSERT arity ${ins.values.length} != ${order.length}")
    val byName = cols.map(c => c.name.toLowerCase -> c).toMap
    order.zip(ins.values).map { case (c, v) =>
      byName.getOrElse(c.toLowerCase,
        throw new IllegalArgumentException(s"unknown column $c in $name")) -> v
    }
  }

  /** The window a push query runs under, refusing `EMIT FINAL` without
    * one (finals exist per window).
    */
  protected def pushWindowKind(q: PushQuery): Option[String] = {
    val kind = effectiveWindowKind(q.select)
    require(!q.emitFinal || kind.isDefined,
      "EMIT FINAL requires a WINDOW clause (finals exist per window)")
    kind
  }

  protected def upperCased(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toUpperCase).toIndexedSeq: _*)

  /** The WINDOW kind a query effectively runs under: its own clause, or
    * one inherited from a derived (CSAS/CTAS) view it reads —
    * `CREATE TABLE s AS SELECT … WINDOW SESSION(…) …; SELECT * FROM s`
    * is a session-windowed aggregation even though the outer text has no
    * WINDOW. Recurses through derived-of-derived; cycles cut by `seen`.
    */
  private[ksql] def effectiveWindowKind(select: String,
      seen: Set[String] = Set.empty): Option[String] =
    windowKind(select).orElse(
      fromSources(select).iterator
        .map(_._1.toLowerCase).filterNot(seen)
        .flatMap(n => derived.get(n)
          .flatMap(d => effectiveWindowKind(d.select, seen + n)))
        .nextOption())

  private val FromRe =
    ("(?is)\\bFROM\\s+(\\w+)" +
      "(?:\\s+(?:AS\\s+)?(?!AS\\b|JOIN\\b|LEFT\\b|RIGHT\\b|FULL\\b|INNER\\b|OUTER\\b|ON\\b|WHERE\\b|GROUP\\b|PARTITION\\b|EMIT\\b|HAVING\\b|ORDER\\b|LIMIT\\b|WINDOW\\b)(\\w+))?").r
  private val JoinRe =
    "(?is)\\bJOIN\\s+(\\w+)(?:\\s+(?:AS\\s+)?(?!AS\\b|ON\\b)(\\w+))?\\s+ON\\b".r

  /** (collection name, reference-in-query) pairs from the FROM clause.
    * Parsed over the literal-masked text — `WHERE note = 'copied FROM
    * players'` must not surface a phantom source — and `AS` aliases
    * resolve to the alias, never the keyword.
    */
  private[ksql] def fromSources(select: String): Seq[(String, String)] = {
    val masked = KsqlTranslator.maskLiterals(select)
    val from = FromRe.findFirstMatchIn(masked).map(m =>
      (m.group(1), Option(m.group(2)).getOrElse(m.group(1))))
    val joins = JoinRe.findAllMatchIn(masked).map(m =>
      (m.group(1), Option(m.group(2)).getOrElse(m.group(1)))).toSeq
    from.toSeq ++ joins
  }

  private val WindowRe =
    "(?is)\\bWINDOW\\s+(TUMBLING|HOPPING|SESSION)\\s*\\(([^)]*)\\)".r
  private val SizeRe = "(?i)SIZE\\s+(\\d+)\\s+(\\w+)".r
  private val AdvanceRe = "(?i)ADVANCE\\s+BY\\s+(\\d+)\\s+(\\w+)".r
  private val BareDurRe = "(?i)(\\d+)\\s+(\\w+)".r

  /** The structural WINDOW match, with string literals masked so
    * `WHERE note = 'WINDOW SESSION(x)'` never parses as a window clause.
    * Masking is length-preserving, so match positions index into the
    * ORIGINAL string. [[translateSelect]] and the streaming engine's
    * output-mode decision both go through this — one parse, no
    * regex-vs-translator drift.
    */
  private[ksql] def windowMatch(
      select: String): Option[scala.util.matching.Regex.Match] =
    WindowRe.findFirstMatchIn(KsqlTranslator.maskLiterals(select))

  /** TUMBLING / HOPPING / SESSION, if the select has a WINDOW clause. */
  private[ksql] def windowKind(select: String): Option[String] =
    windowMatch(select).map(_.group(1).toUpperCase)

  private[ksql] def translateSelect(select0: String,
      injectOffset: Boolean = false): String = {
    import KsqlTranslator.{replaceOutsideQuotes, rewriteCall}
    var s = select0.replaceAll("(?is)\\s+EMIT\\s+CHANGES\\s*$", "").trim
    // depth-matched call rewrite, not a [^()]* regex: COUNT_DISTINCT's
    // argument may itself contain calls (ABS(v)), and the streaming
    // render needs the whole argument inside a CAST — a paren-blind
    // pattern either misses the call (leaving count(DISTINCT …), which
    // Spark rejects under streaming aggregation) or cuts the argument
    s = rewriteCall(s, "COUNT_DISTINCT", countDistinctRender)
    KsqlTranslator.FunctionRenames.foreach { case (ksql, sparkFn) =>
      s = replaceOutsideQuotes(s, s"(?i)(?<![\\w])$ksql\\s*\\(", sparkFn + "(")
    }
    // ksqlDB's STRINGTOTIMESTAMP returns BIGINT epoch-millis, not a
    // TIMESTAMP — wrap rather than rename. Depth-matched: the standard
    // two-arg form carries a QUOTED format string, which a
    // segment-by-quote regex rewrite can never cross (the call used to
    // survive untranslated whenever a format argument was present)
    s = rewriteCall(s, "STRINGTOTIMESTAMP",
      args => s"unix_millis(to_timestamp($args))")
    // ---- windowed aggregation (WINDOW TUMBLING/HOPPING/SESSION) --------
    windowMatch(s).foreach { m =>
      val ref = fromSources(s).headOption.map(_._2).getOrElse(
        throw new IllegalArgumentException(s"WINDOW without FROM: $select0"))
      def dur(n: String, u: String) = s"$n ${u.toLowerCase}"
      val (winExpr, winCol) = m.group(1).toUpperCase match {
        case "TUMBLING" =>
          val sm = SizeRe.findFirstMatchIn(m.group(2)).getOrElse(
            throw new IllegalArgumentException(s"TUMBLING needs SIZE: $select0"))
          (s"window($ref._rowtime, '${dur(sm.group(1), sm.group(2))}')", "window")
        case "HOPPING" =>
          val sm = SizeRe.findFirstMatchIn(m.group(2)).getOrElse(
            throw new IllegalArgumentException(s"HOPPING needs SIZE: $select0"))
          val am = AdvanceRe.findFirstMatchIn(m.group(2)).getOrElse(
            throw new IllegalArgumentException(s"HOPPING needs ADVANCE BY: $select0"))
          (s"window($ref._rowtime, '${dur(sm.group(1), sm.group(2))}', " +
            s"'${dur(am.group(1), am.group(2))}')", "window")
        case _ => // SESSION
          val gm = BareDurRe.findFirstMatchIn(m.group(2)).getOrElse(
            throw new IllegalArgumentException(s"SESSION needs a gap: $select0"))
          (s"session_window($ref._rowtime, '${dur(gm.group(1), gm.group(2))}')",
            "session_window")
      }
      // positional splice (mask is length-preserving): a literal
      // containing 'WINDOW …' earlier in the text must not be the one cut
      s = s.substring(0, m.start) + " " + s.substring(m.end)
      // find GROUP BY on the RE-masked text (a literal containing
      // 'group by' before the real clause must not take the splice),
      // then splice positionally into the original
      val gbm = "(?i)\\bGROUP\\s+BY\\b".r
        .findFirstMatchIn(KsqlTranslator.maskLiterals(s))
        .getOrElse(throw new IllegalArgumentException(
          s"WINDOW clauses require GROUP BY (windowed aggregation): $select0"))
      s = s.substring(0, gbm.start) + s"GROUP BY $winExpr," +
        s.substring(gbm.end)
      s = replaceOutsideQuotes(s, "(?i)(?<![\\w])WINDOWSTART(?![\\w])",
        s"unix_millis($winCol.start)")
      s = replaceOutsideQuotes(s, "(?i)(?<![\\w])WINDOWEND(?![\\w])",
        s"unix_millis($winCol.end)")
    }
    if (s.toUpperCase.matches("(?s).*(?<![\\w])ROWTIME(?![\\w]).*")) {
      val ref = fromSources(s).headOption.map(_._2).getOrElse("")
      s = replaceOutsideQuotes(s, "(?i)(?<![\\w])ROWTIME(?![\\w])",
        s"unix_millis($ref._rowtime)")
    }
    val sources = fromSources(s)
    // LATEST_BY_OFFSET orders by the STREAM side's record offset
    if (s.toUpperCase.contains("LATEST_BY_OFFSET")) {
      val streamRef = sources
        .collectFirst { case (n, ref) if kindOf(n).contains("STREAM") => ref }
        .orElse(sources.headOption.map(_._2))
        .getOrElse(throw new IllegalArgumentException(
          s"LATEST_BY_OFFSET without a FROM source: $select0"))
      s = KsqlTranslator.rewriteCall(s, "LATEST_BY_OFFSET",
        args => s"graft_latest_by_offset($args, $streamRef._offset)")
    }
    // Star expansion, ITEM-WISE over the select list (ksqlDB output
    // naming): `*` and `ref.*` items expand to declared columns — a
    // whole-text `^SELECT \* FROM` match would leave `SELECT *, expr`
    // and `SELECT a.*` to Spark's native star, which expands against
    // the registered views and leaks the internal _offset/_rowtime
    // columns into client-visible results
    locally {
      val masked = KsqlTranslator.maskLiterals(s)
      val selRe = "(?is)^SELECT\\s+".r
      for (sm <- selRe.findPrefixMatchOf(masked);
           fm <- FromRe.findFirstMatchIn(masked)) {
        def expandAll: Seq[String] = sources match {
          case Seq((name, ref)) => viewColumns(name).map(c => s"$ref.$c AS $c")
          case multi => multi.flatMap { case (name, ref) =>
            viewColumns(name).map(c => s"$ref.$c AS ${ref}_$c") }
        }
        def expandRef(r: String): Option[Seq[String]] =
          sources.collectFirst { case (name, ref)
              if ref.equalsIgnoreCase(r) =>
            if (sources.sizeIs == 1) viewColumns(name).map(c => s"$ref.$c AS $c")
            else viewColumns(name).map(c => s"$ref.$c AS ${ref}_$c")
          }
        // split the select list at depth-0 commas of the MASKED text so
        // literal/paren commas never split an item; spans index into s
        val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        var depth = 0
        var start = sm.end
        (sm.end until fm.start).foreach { i =>
          masked.charAt(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case ',' if depth == 0 => spans += ((start, i)); start = i + 1
            case _ => ()
          }
        }
        spans += ((start, fm.start))
        val starRe = "^(?:(\\w+)\\.)?\\*$".r
        var expanded = false
        val items = spans.map { case (a, b) =>
          val item = s.substring(a, b).trim
          starRe.findFirstMatchIn(item) match {
            case Some(m) if m.group(1) == null =>
              expanded = true; expandAll.mkString(", ")
            case Some(m) => expandRef(m.group(1)) match {
              case Some(cols) => expanded = true; cols.mkString(", ")
              case None => item
            }
            case None => item
          }
        }
        if (expanded)
          s = s.substring(0, sm.end) + items.mkString(", ") + " " +
            s.substring(fm.start)
      }
    }
    // GROUP BY detection and the FROM splice both run on the MASKED
    // text: a literal 'GROUP BY' must not suppress injection, a literal
    // 'FROM x' must not take the splice (positions index into the
    // original because masking is length-preserving)
    if (injectOffset && "(?i)\\bGROUP\\s+BY\\b".r
        .findFirstIn(KsqlTranslator.maskLiterals(s)).isEmpty) {
      // derived streams carry the source offset through (Kafka offset
      // analogue) so downstream LATEST_BY_OFFSET keeps arrival order —
      // and the record timestamp, so downstream WINDOW clauses still work
      val ref = sources.headOption.map(_._2).getOrElse("")
      val extra = s", $ref._offset AS _offset , $ref._rowtime AS _rowtime "
      FromRe.findFirstMatchIn(KsqlTranslator.maskLiterals(s)).foreach { fm =>
        s = s.substring(0, fm.start) + extra + s.substring(fm.start)
      }
    }
    s
  }
}

object KsqlTranslator {
  /** Epoch base of the record-timestamp clock: 2020-01-01T00:00:00Z. */
  private[ksql] val RowtimeBaseSec = 1577836800L

  /** Topic-log columns every collection view carries but never shows. */
  private[ksql] val LogColumns = Set("_offset", "_rowtime")

  /** The topic a collection binds to: its `KAFKA_TOPIC` property,
    * matched case-insensitively as ksqlDB property names are, else the
    * collection's own name.
    */
  private[ksql] def topicOf(name: String, props: Map[String, String]): String =
    props.collectFirst { case (k, v) if k.equalsIgnoreCase("KAFKA_TOPIC") => v }
      .getOrElse(name)

  /** A source connector's topic: `topic.prefix` + `table.whitelist`. */
  private[ksql] def connectorTopic(props: Map[String, String]): String =
    props.getOrElse("topic.prefix", "") +
      props.getOrElse("table.whitelist",
        throw new IllegalArgumentException("connector needs table.whitelist"))

  /** JDBC reader options from a connector's properties. Drivers absent
    * from java.sql.Driver's service registry (e.g. embedded Derby) need
    * the explicit class name.
    */
  private[ksql] def jdbcOptions(props: Map[String, String]): Map[String, String] =
    Seq("user" -> props.get("connection.user"),
      "password" -> props.get("connection.password"),
      "driver" -> props.get("connection.driver.class"))
      .collect { case (k, Some(v)) => k -> v }.toMap

  /** ksqlDB scalar-function names whose Spark spelling differs; everything
    * else (ABS, ROUND, CONCAT, TRIM, SUBSTRING, REPLACE, INSTR, SPLIT,
    * CASE, CAST, …) is shared SQL that Catalyst parses directly.
    */
  private[ksql] val FunctionRenames: Seq[(String, String)] = Seq(
    "UCASE" -> "upper",
    "LCASE" -> "lower",
    "LEN" -> "length",
    "ARRAY_LENGTH" -> "size",
    "ARRAY_CONTAINS" -> "array_contains",
    "ARRAY_DISTINCT" -> "array_distinct",
    "ARRAY_MAX" -> "array_max",
    "ARRAY_MIN" -> "array_min",
    "ARRAY_JOIN" -> "array_join",
    "JSON_EXTRACT_STRING" -> "get_json_object",
    "IFNULL" -> "coalesce")

  /** Apply a regex replacement only OUTSIDE single-quoted string
    * literals — token rewrites must never touch literal text
    * (`WHERE note = 'LEN(x)'` keeps its literal).
    */
  private[ksql] def replaceOutsideQuotes(s: String, regex: String,
      replacement: String): String = {
    val out = new StringBuilder
    val cur = new StringBuilder
    var inQuote = false
    def flush(): Unit = {
      if (cur.nonEmpty) {
        out.append(
          if (inQuote) cur.result()
          else cur.result().replaceAll(regex, replacement))
        cur.clear()
      }
    }
    s.foreach { c =>
      if (c == '\'') {
        if (inQuote) { cur.append(c); flush(); inQuote = false }
        else { flush(); inQuote = true; cur.append(c) }
      } else cur.append(c)
    }
    flush()
    out.result()
  }

  /** Rewrite every `fn(args)` call via a depth-matched argument scan on
    * the literal-masked text: the call's parens are found structurally
    * (literal parens don't count, nested calls don't cut the argument),
    * and `render` receives the RAW argument text verbatim — so a quoted
    * format string or a nested function survives, which the
    * segment-by-quote regex rewrites cannot promise (they never see a
    * pattern spanning a literal). Unbalanced parens leave the text
    * untouched for Spark's parser to report. Rescans from just past each
    * rewritten call head so calls nested inside arguments rewrite too.
    */
  private[ksql] def rewriteCall(s0: String, fn: String,
      render: String => String): String = {
    val headRe = s"(?i)(?<![\\w])${java.util.regex.Pattern.quote(fn)}\\s*\\(".r
    var s = s0
    var from = 0
    var continue = true
    while (continue) {
      val masked = maskLiterals(s)
      headRe.findFirstMatchIn(masked.substring(from)) match {
        case None => continue = false
        case Some(m) =>
          val open = from + m.end - 1
          var i = open + 1
          var depth = 1
          while (i < masked.length && depth > 0) {
            masked.charAt(i) match {
              case '(' => depth += 1
              case ')' => depth -= 1
              case _ => ()
            }
            if (depth > 0) i += 1
          }
          if (depth != 0) continue = false // unbalanced: leave as-is
          else {
            val args = s.substring(open + 1, i)
            s = s.substring(0, from + m.start) + render(args) +
              s.substring(i + 1)
            from = from + m.start + 1
          }
      }
    }
    s
  }

  /** Replace every single-quoted literal's content (quotes included) with
    * spaces — length-preserving, so regex match positions computed on the
    * masked text index into the original. Structural parses (WINDOW
    * clauses) match against this, never against literal text.
    */
  private[ksql] def maskLiterals(s: String): String = {
    val out = new StringBuilder(s.length)
    var inQuote = false
    s.foreach { c =>
      if (c == '\'') { inQuote = !inQuote; out.append(' ') }
      else out.append(if (inQuote) ' ' else c)
    }
    out.result()
  }
}
