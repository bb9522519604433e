package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/**
 * The engine's standard session configs: the one list every entry point
 * (Bench, Verify, ScaleBench, the dev tools, the test fixture, perfbench)
 * builds with, through [[GraftSession.builder]]. Each entry's measured
 * rationale is stated here, once.
 *
 * A/B runs need no per-key switch: an explicitly set `spark.*` JVM system
 * property beats the entry for its key ([[resolve]]), the precedence
 * spark-submit gives `--conf`. For example
 * `JAVA_TOOL_OPTIONS=-Dspark.scheduler.mode=FIFO sbt "runMain graft.Bench"`.
 */
object EngineConf {
  val entries: Seq[(String, String)] = Seq(
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // codegen-class cache sized for a MULTI-QUERY session: the default
    // (100 entries) thrashes under the pipeline compositions — one
    // audited ingest night plans ~260 distinct generated sources, so by
    // the time the next night (structurally identical plans; literals
    // live in the references array, not the source text) asks for the
    // first source again it has been evicted, and EVERY stage pays a
    // fresh Janino compile with all concurrent tasks blocked on it
    // (measured: q100 re-ran 519 compiles on its second in-JVM run;
    // ~0.45 s of blocked task time per compile × 32 tasks). Its marginal
    // heap over the default, after all 114 queries in one session, was
    // measured at ~54 MB (HeapReport: 1,979 entries, ~29 KB each),
    // GC-able on eviction — the right trade for any long-lived session
    // running hundreds of distinct queries, local or cluster. Read once
    // per JVM at first codegen, hence a build-time conf.
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    // Never take the bypass-merge shuffle writer (default threshold 200):
    // it opens R partition files PER MAP TASK and then concatenates them,
    // so a small shuffle on a many-core node costs M×R file
    // creates/merges — measured on q100's pipeline at local[32]: the
    // thread dumps show executor tasks RUNNABLE inside
    // FileOutputStream.open/DiskBlockObjectWriter.initialize and
    // mmap/unmap from the concat, 114.7 s of summed task time vs 15.3 s
    // with the serialized (tungsten) writer, warm wall 14.7→10.6 s
    // (plans/r22 journal). The same M×R open files exceeded a 20k fd
    // limit at ScaleBench's sizing-raised 5M tiers (32 tasks × ~450-
    // partition shuffles). The serialized writer buffers rows in
    // execution memory and writes ONE file per map task at any partition
    // count; at production partition counts (>200) bypass never fires
    // anyway, so pinning the threshold to 1 only changes the small-
    // shuffle regime where the file churn is pure overhead. Core conf,
    // read at shuffle registration from the SparkContext conf.
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    // FAIR job scheduling: the nightly pipeline submits its independent
    // chains (ledger / accept+verify / index+maintain) concurrently, each
    // tagged with its own on-demand pool (IngestPipeline.inParallel) —
    // under the default FIFO a fat index append could starve the verify
    // chain's DQ jobs on a busy cluster. Pools need no allocation file
    // (weight 1, minShare 0, FIFO within a pool), and a session running
    // one query at a time schedules exactly as before. Context-level conf.
    "spark.scheduler.mode" -> "FAIR",
    // file:// permission writes via java.nio instead of a forked chmod
    // subprocess — without libhadoop native IO every local file CREATE
    // shells out (see NioLocalFileSystem's measured rationale: ~52% of
    // RUNNABLE executor samples in the q104 maintain window were
    // Shell.runCommand; ~0.45 s/task on KB-scale writes). Same on-disk
    // semantics; setuid/sticky and non-POSIX stores fall back to shell.
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.sql.session.timeZone" -> "UTC",
    // testdata events.parquet stores TIMESTAMP(NANOS); Spark has no nanos
    // timestamp type — read as Long and convert (see Tables.load).
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** `conf` with each key that `props` sets explicitly taken from `props`. */
  def resolve(conf: Seq[(String, String)],
      props: collection.Map[String, String]): Seq[(String, String)] =
    conf.map { case (k, v) => k -> props.getOrElse(k, v) }
}

/**
 * Session / catalog lifecycle layer.
 *
 * Spark-native analogue of the reference's connector lifecycle
 * (ref: connector/snowpark_connector.py:40-98): builds a session with the
 * engine's standard configs, exposes table/view/save/exists/truncate/drop
 * primitives, and carries a mutable session-variable store used by the
 * SQL template layer (ref: connector/snowpark_connector.py:170-238).
 *
 * Scale notes: shuffle partitions default to 32 for local[32]; on a real
 * cluster callers pass e.g. 2000. AQE is enabled so skewed joins and
 * too-small/too-large partitions are re-planned at runtime.
 */
object GraftSession {

  /** A builder carrying [[EngineConf]] plus the given master, app name and
    * shuffle partitions; callers add only the overrides they need. */
  def builder(
      master: String = "local[*]",
      appName: String = "graft",
      shufflePartitions: Int = 32): SparkSession.Builder =
    EngineConf.resolve(
        EngineConf.entries :+ ("spark.sql.shuffle.partitions" -> shufflePartitions.toString),
        sys.props)
      .foldLeft(SparkSession.builder().master(master).appName(appName)) {
        case (b, (k, v)) => b.config(k, v)
      }

  /** Idempotent set-up of a session that was built elsewhere and is handed
    * in already running: sets the runtime-settable [[EngineConf]] keys and
    * registers the engine's SQL functions where missing. Build-time keys
    * (extensions, codegen cache, shuffle writer, scheduler, file system)
    * need [[builder]]. */
  def install(spark: SparkSession): SparkSession = {
    EngineConf.resolve(EngineConf.entries, sys.props)
      .foreach { case (k, v) => if (spark.conf.isModifiable(k)) spark.conf.set(k, v) }
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    graft.plans.GraftExtensions.functions.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
    spark
  }
}

/**
 * A stateful "connection" wrapper: session variables + catalog helpers.
 * Mirrors the reference connector's save modes
 * (ref: definitions/custom_definitions.py:26-47 — append / overwrite /
 * truncate / errorifexists / ignore) on Spark's catalog.
 */
final class GraftConnection(val spark: SparkSession) {
  val sessionVars = new SessionVars

  def table(name: String): DataFrame = spark.table(name)

  /** Ad-hoc SQL in the source dialect: `$VAR` substitution, then the
    * [[SqlDialect]] pass (QUALIFY / `* EXCLUDE` / double-quoted identifiers
    * → Spark SQL; identity for plain Spark SQL), exactly like the reference
    * connector's execute_query accepting warehouse-dialect text. Pass
    * `dialect = false` to skip the dialect pass — the escape hatch for
    * Spark SQL that legitimately uses double-quoted STRING literals, mirroring
    * `SqlTemplate.render`'s flag.
    *
    * A source-dialect `SET name = <literal>` statement assigns a SESSION
    * VARIABLE (ref: test_data_quality.sql:10 `SET report_table = '...'`;
    * executed natively by the reference connector) — routed to
    * [[sessionVars]], returning the warehouse's one-row status shape.
    * Spark conf keys (`SET a.b.c=...`) contain dots, never match the
    * variable-name form, and fall through to `spark.sql` untouched. */
  def sql(query: String, dialect: Boolean = true): DataFrame =
    GraftConnection.stripLeadingComments(query) match {
      case GraftConnection.SetVarRe(name, rhs) =>
        val rendered = SqlTemplate.renderSessionVars(rhs.trim, sessionVars.all)
        // the source warehouse EVALUATES the RHS at SET time and stores the
        // resulting constant (SET a = $b || '_x' stores the concatenation,
        // not the expression) — match it by running a scalar SELECT and
        // re-literalizing; unevaluable text falls back to being stored
        // as-is, which covers plain literals in malformed surroundings.
        // The closing paren goes on its OWN line: a trailing `-- comment`
        // in the RHS would otherwise comment it out, fail the eval, and
        // leak the comment text into the stored variable via the fallback
        val value =
          try GraftConnection.toSqlLiteral(
            spark.sql(s"SELECT (${SqlDialect.toSpark(rendered)}\n) AS v").head().get(0))
          catch { case _: Exception => GraftConnection.stripComments(rendered).trim }
        sessionVars.set(name, value)
        spark.sql("SELECT 'Statement executed successfully.' AS status")
      case _ =>
        val rendered = SqlTemplate.renderSessionVars(query, sessionVars.all)
        spark.sql(if (dialect) SqlDialect.toSpark(rendered) else rendered)
    }

  /** ref: connector/snowpark_connector.py:466-509 (save_as_table); table
    * types ref: definitions/custom_definitions.py:26-34 (SnowparkTableType).
    * Type mapping onto Spark's catalog:
    *  - `permanent` — a plain saved table;
    *  - `transient` — a saved table tagged `graft.table_type=transient`
    *    (Spark storage has no fail-safe/time-travel tier to opt out of, so
    *    the durability intent is recorded as a table property);
    *  - `temporary` — session-scoped: the frame is materialized
    *    (localCheckpoint) and registered as a temp view, vanishing with the
    *    session exactly like the reference's temp tables; all five modes
    *    are honored against the existing temp view.
    */
  def saveAsTable(df: DataFrame, name: String, mode: String = "errorifexists",
      tableType: String = "permanent"): Unit = {
    val m = mode.toLowerCase match {
      case "append"        => SaveMode.Append
      case "overwrite"     => SaveMode.Overwrite
      case "truncate"      => SaveMode.Overwrite // truncate-then-insert == overwrite data
      case "ignore"        => SaveMode.Ignore
      case "errorifexists" => SaveMode.ErrorIfExists
      case other => throw new IllegalArgumentException(s"unknown save mode: $other")
    }
    tableType.toLowerCase match {
      case "permanent" => df.write.mode(m).saveAsTable(name)
      case "transient" =>
        df.write.mode(m).saveAsTable(name)
        spark.sql(s"ALTER TABLE `$name` SET TBLPROPERTIES ('graft.table_type'='transient')")
      case "temporary" =>
        val exists = spark.catalog.tableExists(name)
        m match {
          case SaveMode.ErrorIfExists if exists =>
            throw new IllegalStateException(s"temporary table `$name` already exists")
          case SaveMode.Ignore if exists => ()
          // measured-stats pins (not plain localCheckpoint): the view is
          // queried by LATER statements, and an inherited join-product
          // estimate would mis-plan every one of them — measured bytes let
          // small saved frames broadcast and big ones shuffle honestly
          case SaveMode.Append if exists =>
            org.apache.spark.sql.graft.ColumnBridge.pinnedWithMeasuredStats(
                spark.table(name).unionByName(df))
              .createOrReplaceTempView(name)
          case _ =>
            org.apache.spark.sql.graft.ColumnBridge.pinnedWithMeasuredStats(df)
              .createOrReplaceTempView(name)
        }
      case other => throw new IllegalArgumentException(s"unknown table type: $other")
    }
  }

  /** ref: connector/snowpark_connector.py:511-566 (save_as_view). */
  def saveAsView(df: DataFrame, name: String): Unit =
    df.createOrReplaceTempView(name)

  /** ref: connector/snowpark_connector.py:1006-1020 (table_exists). */
  def tableExists(name: String): Boolean =
    spark.catalog.tableExists(name)

  /** ref: connector/snowpark_connector.py:1022-1044 (truncate_table). */
  def truncateTable(name: String): Unit = {
    // build the empty frame from the schema only — overwriting a table from
    // a plan that reads the same table is rejected (UNSUPPORTED_OVERWRITE)
    val schema = spark.table(name).schema
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    empty.write.mode(SaveMode.Overwrite).saveAsTable(name)
  }

  /** ref: connector/snowpark_connector.py:1046-1071 (drop_table). A
    * temporary table SHADOWS a same-named permanent one, so (like the
    * reference warehouse) dropping removes the temp first and leaves the
    * permanent table intact; a second drop removes the permanent one. */
  def dropTable(name: String): Unit =
    if (!spark.catalog.dropTempView(name))
      spark.sql(s"DROP TABLE IF EXISTS `$name`")

  private def isTempView(name: String): Boolean =
    spark.catalog.listTables().where(s"name = '$name'")
      .collect().exists(_.isTemporary)

  /**
   * ref: connector/snowpark_connector.py:690-740 (upsert_from_query):
   * render the source query (session variables honored), optionally stage
   * it as a TEMPORARY table, MERGE into the target table on `joinKeys`,
   * rewrite the target, and clean up — one named call composing
   * `sql` + `saveAsTable(temporary)` + `merge.Upsert`.
   */
  def upsertFromQuery(
      sourceQuery: String,
      targetTable: String,
      joinKeys: Seq[String],
      updateColumns: Option[Seq[String]] = None,
      insertColumns: Option[Seq[String]] = None,
      tempTableName: Option[String] = None): graft.merge.UpsertResult = {
    var src = sql(sourceQuery)
    tempTableName.foreach { tmp =>
      saveAsTable(src, tmp, mode = "overwrite", tableType = "temporary")
      src = spark.table(tmp)
    }
    val result =
      if (isTempView(targetTable)) {
        // a temp-view target must be REPLACED as a temp view (saveAsTable
        // would write a permanent table the stale view keeps shadowing);
        // views have no partition layout, so this is always a full rewrite
        val r = graft.merge.Upsert.merge(
          spark.table(targetTable), src, joinKeys, updateColumns, insertColumns)
        // the merged plan READS the target, and Spark rejects overwriting a
        // relation from a plan that scans it — truncate the lineage first
        val materialized = org.apache.spark.sql.graft.ColumnBridge
          .pinnedWithMeasuredStats(r.result) // measured: later statements query it
        materialized.createOrReplaceTempView(targetTable)
        r.cleanup()
        graft.merge.UpsertResult(r.inserted, r.updated, r.deleted,
          spark.table(targetTable))
      } else
        // saved-table target: partition-scoped when the layout allows it
        // (partition columns ⊆ join keys), full rewrite otherwise
        graft.merge.Upsert.mergeIntoTable(targetTable, src, joinKeys,
          updateColumns, insertColumns)
    // drop ONLY the staging temp view — never a same-named permanent table
    tempTableName.foreach(spark.catalog.dropTempView(_))
    result
  }

  /** ref: connector/snowpark_connector.py:1238-1272 (execute_multiple_statements):
   *  run `;`-separated statements sequentially, return the last result. */
  def executeMultipleStatements(script: String): DataFrame = {
    val stmts = GraftConnection.splitStatements(script)
    require(stmts.nonEmpty, "empty script")
    stmts.map(sql(_)).last
  }
}

object GraftConnection {
  /** Session-variable assignment: `SET name = <rest>`. The name is a plain
    * identifier (no dots), so Spark conf SETs never match. */
  private[core] val SetVarRe =
    """(?is)SET\s+([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(\S[\s\S]*)""".r

  /** A driver-side value rendered back as SQL literal text, so a stored
    * session variable splices into any later statement. */
  private[core] def toSqlLiteral(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case d: java.sql.Date => s"DATE '$d'"
    case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: Double | _: Float |
              _: Boolean) => n.toString
    case b: java.math.BigDecimal => b.toPlainString
    case other => "'" + other.toString.replace("'", "''") + "'"
  }

  /** Whitespace and `--` / C-style comments skipped, so a statement whose
    * text begins with a comment block still pattern-matches as a SET. */
  private[core] def stripLeadingComments(q: String): String = {
    var i = 0
    var more = true
    while (more && i < q.length) {
      if (q.charAt(i).isWhitespace) i += 1
      else if (q.startsWith("--", i)) {
        while (i < q.length && q.charAt(i) != '\n') i += 1
      } else if (q.startsWith("/*", i)) {
        val end = q.indexOf("*/", i + 2)
        if (end < 0) more = false else i = end + 2
      } else more = false
    }
    q.substring(i)
  }

  /** Remove `--` line comments and `/* */` blocks outside string literals —
    * used on the SET fallback path so an unevaluable RHS never stores
    * comment text inside the session variable. */
  private[core] def stripComments(q: String): String = {
    val sb = new StringBuilder(q.length)
    var inQuote = false
    var i = 0
    while (i < q.length) {
      val ch = q.charAt(i)
      if (inQuote) {
        sb.append(ch)
        if (ch == '\'') {
          if (i + 1 < q.length && q.charAt(i + 1) == '\'') { sb.append('\''); i += 1 }
          else inQuote = false
        }
        i += 1
      } else if (ch == '\'') { inQuote = true; sb.append(ch); i += 1 }
      else if (ch == '-' && i + 1 < q.length && q.charAt(i + 1) == '-') {
        while (i < q.length && q.charAt(i) != '\n') i += 1
      } else if (ch == '/' && i + 1 < q.length && q.charAt(i + 1) == '*') {
        val end = q.indexOf("*/", i + 2)
        i = if (end < 0) q.length else end + 2
      } else { sb.append(ch); i += 1 }
    }
    sb.toString
  }

  /** Split on `;` outside string literals and `--` comments ('' escapes
    * honored) — a naive split breaks `VALUES ('a;b')`. */
  private[graft] def splitStatements(script: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var inQuote = false
    var i = 0
    while (i < script.length) {
      val ch = script.charAt(i)
      if (inQuote) {
        sb.append(ch)
        if (ch == '\'') {
          if (i + 1 < script.length && script.charAt(i + 1) == '\'') {
            sb.append('\''); i += 1
          } else inQuote = false
        }
      } else if (ch == '\'') { inQuote = true; sb.append(ch) }
      else if (ch == '-' && i + 1 < script.length && script.charAt(i + 1) == '-') {
        while (i < script.length && script.charAt(i) != '\n') { sb.append(script.charAt(i)); i += 1 }
        i -= 1
      } else if (ch == ';') { out += sb.toString; sb.clear() }
      else sb.append(ch)
      i += 1
    }
    out += sb.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }
}
