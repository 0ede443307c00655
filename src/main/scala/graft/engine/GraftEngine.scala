package graft.engine

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.antlr.v4.runtime.Token
import org.antlr.v4.runtime.misc.Interval
import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD}
import org.apache.spark.sql.{AnalysisException, DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow, QueryPlanningTracker}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedHaving, UnresolvedInlineTable, UnresolvedRelation, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, InterpretedMutableProjection, LateralSubquery, Literal, NamedArgumentExpression, NamedExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.parser.GraftSqlLexer
import org.apache.spark.sql.catalyst.parser.SqlBaseLexer.{COMMA, FROM, INTEGER_VALUE, LEFT_PAREN, LIMIT, OFFSET, RIGHT_PAREN, SEMICOLON, STRING_LITERAL, TO}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct, Filter, GlobalLimit, LocalLimit, LocalRelation, LogicalPlan, Offset, Project, SetOperation, Sort, SubqueryAlias, Union, UnresolvedHint, UnresolvedWith, WithWindowDefinition}
import org.apache.spark.sql.catalyst.util.SparkParserUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import GraftEngine.Tokens

/** The sqlrs-compatible engine surface: an embedded SQL session over Spark.
  *
  * Mirrors the reference's two entry points — v1 `Database::run`
  * (src/db.rs:107) and v2 `ClientContext::query`
  * (src/main_entry/client_context.rs:76) — as one `run(sql)` over Spark's
  * own lexer, parser and analyzer. Like the reference, which splits and
  * parses with one grammar (sqlparser-rs), the engine reads statement text
  * only through Spark's grammar: `run` lexes its input once with Spark's
  * `SqlBaseLexer`, and the statement split, the routing below, the COPY
  * options, the CREATE TABLE column list and the two rewrites a SELECT
  * needs before Spark's parser ([[runSelect]]) all work on those tokens, so
  * a string literal or comment can never be mistaken for code. On top of
  * that, the statement surface Spark temp views don't give us directly:
  *
  *  - CREATE TABLE (explicit columns, incl. UNSIGNED widening per SURVEY
  *    §1.2) and CTAS (bind_create.rs:13-51)
  *  - INSERT INTO ... VALUES / SELECT with column reorder + implicit cast
  *    (bind_insert.rs:1-111) into a per-table store that appends
  *    materialized rows, like the reference's v2 LocalStorage
  *    (local_storage.rs:100-125): each insert's source is evaluated once,
  *    and a read scans at most three parts (see [[Stored]])
  *  - COPY t FROM 'f.csv' (DELIMITER, HEADER) — rewritten to INSERT INTO t
  *    SELECT * FROM read_csv(...), reproducing the reference's SQL-to-SQL
  *    rewrite (bind_copy.rs:10-35)
  *  - read_csv('path', header=>..., delim=>...) table function
  *    (read_csv.rs:17-42) and bare `FROM 'file.csv'` auto-binding
  *    (bind_base_table_ref.rs:98-118)
  *  - SHOW TABLES / DESCRIBE / EXPLAIN pragmas and the sqlrs_tables() /
  *    sqlrs_columns() introspection TVFs (sqlrs_tables.rs, sqlrs_columns.rs)
  *  - select-list aliases usable in WHERE (bind_select_node.rs:98-131) via
  *    an analysis-failure-driven repair of the parsed tree
  *
  * Like the reference's binder, table functions bind from the parsed
  * statement: a SELECT is parsed once by Spark's parser, each table-function
  * call in the tree (read_*, sqlrs_*, graft_*) is replaced by the analyzed
  * plan of the DataFrame its body builds, and the expanded tree goes
  * through Catalyst untouched — the engine adds statement routing, never
  * its own execution path, so plans stay fully optimizable and distributed.
  */
class GraftEngine(val spark: SparkSession) {

  /** One table's storage, the Spark form of the reference's v2
    * LocalStorage, which appends materialized batches
    * (local_storage.rs:13-15, 100-125):
    *  - `base`: what CREATE, CTAS or [[createParquetTable]] registered. It
    *    is never copied, so a parquet base keeps its scan and pushdown.
    *  - `appended`: the rows of every INSERT..SELECT and COPY and of every
    *    sealed tail, materialized into eager local checkpoints (see
    *    [[Appended]]) and read as at most `defaultParallelism` partitions.
    *  - `tail`: the VALUES rows inserted since the last fold, held on the
    *    driver as one LocalRelation.
    * `view` is base ∪ appended ∪ tail, unioned by position (every part is
    * in the base's column order); [[table]] and the temp view serve it.
    */
  private case class Stored(base: DataFrame, appended: Option[Appended] = None,
      tail: Option[LocalRelation] = None) {
    val view: DataFrame =
      if (appended.isEmpty && tail.isEmpty) base
      else unionAll((Some(base) ++ appended.map(_.df)).map(_.queryExecution.analyzed).toSeq ++ tail)
  }

  /** One local checkpoint of at most `defaultParallelism` partitions, with
    * its row count per partition.
    */
  private case class Block(rdd: RDD[InternalRow], rows: IndexedSeq[Long])

  /** A table's appended rows after `folds` folds, kept as a binary counter:
    * one block per set bit of `folds`, the oldest and largest first. A fold
    * carries like an increment, merging the trailing blocks with its new
    * rows, so it copies the earlier rows only when a bit carries and a row
    * is copied at most log2(folds) times. `df` reads the blocks as one
    * LogicalRDD of at most `defaultParallelism` partitions, packed by row
    * count, that carries the blocks' row count for the optimizer's size
    * estimate.
    */
  private final class Appended(val blocks: Vector[Block], val folds: Int, schema: StructType) {
    val df: DataFrame = GraftSqlBridge.internalDataFrame(spark,
      spark.sparkContext.union(blocks.map(_.rdd)).coalesce(spark.sparkContext.defaultParallelism,
        shuffle = false, Some(new GraftEngine.Packing(blocks.flatMap(_.rows)))),
      schema, blocks.map(_.rows.sum).sum)
  }

  /** name → its store; the catalog (reference: TableCatalog,
    * src/catalog/mod.rs:36-43). Temp views mirror every entry so SQL sees
    * them.
    */
  private val tables = mutable.LinkedHashMap.empty[String, Stored]

  private def register(name: String, df: DataFrame): Unit =
    store(name, Stored(df))

  /** Install `st` as `name`'s store and replace the temp view: the one view
    * replacement a statement makes.
    */
  private def store(name: String, st: Stored): Unit = {
    tables(name.toLowerCase) = st
    st.view.createOrReplaceTempView(name.toLowerCase)
  }

  def table(name: String): DataFrame = tables(name.toLowerCase).view
  def tableNames: Seq[String] = tables.keys.toSeq

  /** Drop every temp view in the session and clear this engine's catalog.
    * Engines share one SparkSession; without this, a "fresh" engine still
    * resolves temp views registered by earlier engines through spark.sql —
    * fresh-catalog semantics (the reference's per-Database isolation,
    * src/db.rs:107) need an explicit sweep.
    */
  def resetCatalog(): Unit = {
    spark.catalog.listTables().collect()
      .filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
    tables.clear()
  }

  // ---- sources ----------------------------------------------------------

  /** CSV file → named table. Column names lowercased like the reference's
    * inference (src/storage/csv.rs:148).
    */
  def createCsvTable(name: String, path: String): Unit = {
    val df = readCsv(path, header = true, delim = ",")
    register(name, df)
  }

  /** read_csv(path, header=>, delim=>) parity (read_csv.rs:31-42). The
    * schema is inferred once per file version ([[readFiles]]): a rewritten
    * file is inferred again.
    */
  def readCsv(path: String, header: Boolean, delim: String): DataFrame = {
    val df = readFiles("csv", path,
      Map("header" -> header.toString, "inferSchema" -> "true", "delimiter" -> delim))
    val renamed = if (header) {
      df.toDF(df.columns.map(_.toLowerCase): _*)
    } else {
      // reference names headerless columns column_1.. (Arrow convention);
      // Spark uses _c0.. — rename to match
      df.toDF(df.columns.indices.map(i => s"column_${i + 1}"): _*)
    }
    // Arrow's CSV reader (reference src/storage/csv.rs) parses an empty
    // cell in a string column as "" — Spark parses NULL. Align with the
    // reference (golden: tests/slt/select.slt renders `(empty)`, not NULL).
    renamed.select(renamed.schema.fields.map { f =>
      if (f.dataType == StringType)
        coalesce(col(s"`${f.name}`"), lit("")).as(f.name)
      else col(s"`${f.name}`")
    }.toIndexedSeq: _*)
  }

  /** Parquet file → named table (extension beyond the reference's
    * CSV-only sources — the training-pipeline tables are parquet, and a
    * columnar source is what a 100 TB scan actually reads; pushdown and
    * pruning reach the parquet footer where CSV cannot).
    */
  def createParquetTable(name: String, path: String): Unit =
    register(name, readParquet(path))

  /** `read_parquet(path)` TVF body: lowercase column names like the CSV
    * inference path; parquet carries real NULLs and its own schema, so no
    * empty-string coalescing and no inference options apply. The footer
    * schema is read once per file version ([[readFiles]]): a rewritten
    * file is read again.
    */
  def readParquet(path: String): DataFrame = {
    val df = readFiles("parquet", path, Map.empty)
    df.toDF(df.columns.map(_.toLowerCase): _*)
  }

  /** `read_json(path)` TVF body (extension — JSON lines, the log/event
    * interchange format a pipeline ingests before columnarizing):
    * schema inferred per Spark's JSONL reader, once per file version
    * ([[readFiles]]), column names lowercased like the CSV/parquet paths.
    * Real NULLs, no coalescing.
    */
  def readJson(path: String): DataFrame = {
    val df = readFiles("json", path, Map.empty)
    df.toDF(df.columns.map(_.toLowerCase): _*)
  }

  /** A file source's inferred schema and the leaf files it was inferred
    * from, each as (path, length, modification time).
    */
  private case class Inferred(files: Set[(String, Long, Long)], schema: StructType)

  /** (format, options, qualified path) → the schema last inferred for it. */
  private val inferred = mutable.HashMap.empty[(String, Map[String, String], String), Inferred]

  /** `path` read as `format`, its schema inferred once per file version.
    * Inference is a Spark job (parquet reads the footers, CSV and JSON scan
    * the data), so a path read again with the same format and options
    * reads with the schema it was inferred with, unless its leaf files
    * changed: a file rewritten, added or removed is inferred again, and
    * the new entry replaces the old. The check compares the listing the
    * read makes anyway; a miss returns the DataFrame that inferred.
    */
  private def readFiles(format: String, path: String, options: Map[String, String]): DataFrame = {
    def reader = spark.read.format(format).options(options)
    val p = new org.apache.hadoop.fs.Path(path)
    val key = (format, options,
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString)
    inferred.get(key)
      .map(e => (e, reader.schema(e.schema).load(path)))
      .collect { case (e, df) if leafFiles(df).contains(e.files) => df }
      .getOrElse {
        val df = reader.load(path)
        leafFiles(df).foreach(files => inferred(key) = Inferred(files, df.schema))
        df
      }
  }

  private def leafFiles(df: DataFrame): Option[Set[(String, Long, Long)]] =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(HadoopFsRelation(i: PartitioningAwareFileIndex, _, _, _, _, _), _, _, _, _) =>
        i.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet
    }

  /** `COPY <table | (subquery)> TO 'path' (opts)` — the write sink
    * (extension: the reference REJECTS copy-to, bind_copy.rs:77-79; an
    * engine without a sink can't feed a pipeline). Spark-native semantics:
    * the target is a DIRECTORY of part files — the only layout that works
    * when 1000 executors write 100 TB — with options for the knobs that
    * matter at scale:
    *   FORMAT csv|parquet|json   (default: by path extension, else parquet)
    *   HEADER false              (csv; default true, mirroring COPY FROM)
    *   DELIMITER 'c'             (csv; default ',')
    *   PARTITION_BY (col, ...)   (hive-style subdirectories — partition
    *                              pruning for every downstream reader)
    *   SORT_BY (col, ...)        (range-partition + sort before writing:
    *                              tight, pairwise-disjoint file/row-group
    *                              min/max stats, so downstream range
    *                              predicates skip whole files)
    *   MAX_RECORDS_PER_FILE n    (bounds file size so a skewed partition
    *                              never produces one giant file)
    *   BUCKET_BY (col, ...) [BUCKETS n] [BUCKET_TABLE name]
    * Overwrites like the reference's CSV-writing kin (DuckDB COPY TO).
    * `opts` is the option list without its parentheses.
    */
  def copyTo(src: String, path: String, opts: String): Unit =
    copyTo(GraftEngine.tokens(src), path, copyOptions("COPY TO", GraftEngine.tokens(opts)))

  private def copyTo(src: Tokens, path: String, opts: CopyOptions): Unit = {
    var df =
      if (src.word(0) == "(" && src.close(0) == src.size - 1) runSelect(src.slice(1, src.size - 1))
      else runSelect(src, relation = true)
    val format = opts.one("format").map(_.toLowerCase)
    opts.list("bucket_by") match {
      case Some(keys) =>
        // the bucketed co-located-join layout (operators.Bucketing): a
        // catalog table by construction (the scan must report the bucket
        // distribution to drop join exchanges), registered as BUCKET_TABLE
        // (default: the path's last segment) with data at `path`. It owns
        // the layout, so SORT_BY, PARTITION_BY and a FORMAT other than
        // parquet error instead of silently interacting.
        require(keys.nonEmpty, "COPY TO: BUCKET_BY names no columns")
        val clash = Seq("sort_by", "partition_by").filter(opts.has).map(_.toUpperCase) ++
          format.filter(_ != "parquet").map(f => s"FORMAT ${f.toUpperCase}")
        require(clash.isEmpty, s"COPY TO: BUCKET_BY does not combine with ${clash.head} " +
          "(buckets are parquet, sorted by their keys)")
        val buckets = opts.number("buckets").getOrElse(8L)
        require(buckets >= 1 && buckets <= 100000,
          s"COPY TO: BUCKETS must be in [1, 100000], got $buckets")
        val tname = opts.one("bucket_table").map(_.toLowerCase)
          .getOrElse(path.split('/').filter(_.nonEmpty).lastOption
            .map(GraftEngine.wordChars(_).toLowerCase)
            .getOrElse(throw new IllegalArgumentException(
              s"COPY TO: cannot derive a bucket table name from '$path' — " +
                "pass BUCKET_TABLE name")))
        graft.operators.Bucketing.writeBucketed(df, tname, path, buckets.toInt, keys)
      case None =>
        opts.list("sort_by").foreach { keys =>
          val cols = keys.map(col).toIndexedSeq
          // explicit partition count: a user-specified repartition is final
          // (AQE would otherwise coalesce small range partitions back into
          // one file, defeating the layout)
          val n = spark.sessionState.conf.numShufflePartitions
          df = df.repartitionByRange(n, cols: _*).sortWithinPartitions(cols: _*)
        }
        var w = df.write.mode("overwrite")
        opts.list("partition_by").foreach(keys => w = w.partitionBy(keys: _*))
        opts.number("max_records_per_file").foreach(n => w = w.option("maxRecordsPerFile", n))
        format.getOrElse(if (path.toLowerCase.endsWith(".csv")) "csv" else "parquet") match {
          case "csv" =>
            w.option("header", opts.header.toString)
              .option("delimiter", opts.one("delimiter").getOrElse(",")).csv(path)
          case "parquet" => w.parquet(path)
          case "json" => w.json(path)
          case other => throw new IllegalArgumentException(
            s"unsupported COPY TO format: $other (csv|parquet|json)")
        }
    }
  }

  private val CopyOptionKeys = Map("COPY FROM" -> Set("delimiter", "header"),
    "COPY TO" -> Set("format", "header", "delimiter", "partition_by", "sort_by",
      "max_records_per_file", "bucket_by", "buckets", "bucket_table"))

  /** A COPY statement's options, parsed once from `KEY`, `KEY value` or
    * `KEY (name, …)` items: key → no value (a flag), the value (a literal,
    * unescaped as Spark's parser does, or one word) or the list. Like the
    * graft_* TVF options, an unknown or repeated key errors and names the
    * accepted keys.
    */
  private final class CopyOptions(stmt: String, values: Map[String, Seq[String]]) {
    def has(key: String): Boolean = values.contains(key)
    def list(key: String): Option[Seq[String]] = values.get(key)
    private def bad(key: String, want: String) =
      new IllegalArgumentException(s"$stmt: option ${key.toUpperCase} needs $want, got '${values(key).mkString(", ")}'")
    def one(key: String): Option[String] =
      values.get(key).map { case Seq(v) => v; case _ => throw bad(key, "one value") }
    def number(key: String): Option[Long] =
      one(key).map(_.toLongOption.getOrElse(throw bad(key, "an integer")))
    /** HEADER is on unless given as false; a bare HEADER is on. */
    def header: Boolean = values.get("header").forall(_.forall(v =>
      v.toBooleanOption.getOrElse(throw bad("header", "true or false"))))
  }

  private def copyOptions(stmt: String, opts: Tokens): CopyOptions = {
    val pairs = opts.commaList.map { o =>
      require(o.isName(0), s"$stmt: an option is a name and its value, got '${o.sql}'")
      val v = o.drop(1)
      o.text(0).toLowerCase -> (
        if (v.size == 0) Nil
        else if (v.size == 1) Seq(v.string(0).getOrElse(v.text(0)))
        else if (v.word(0) == "(" && v.close(0) == v.size - 1) v.slice(1, v.size - 1).commaList.map(_.plain)
        else throw new IllegalArgumentException(
          s"$stmt: option ${o.word(0)} takes one value or a (list), got '${v.sql}'"))
    }
    val accepted = CopyOptionKeys(stmt)
    val unknown = pairs.map(_._1).filterNot(accepted) ++ pairs.map(_._1).diff(pairs.map(_._1).distinct)
    require(unknown.isEmpty,
      s"$stmt: unknown or repeated option(s) ${unknown.distinct.map(_.toUpperCase).mkString(", ")}; " +
        s"accepted: ${accepted.toSeq.sorted.map(_.toUpperCase).mkString(", ")}")
    new CopyOptions(stmt, pairs.toMap)
  }

  /** In-memory table from explicit rows (tests / VALUES). Its LogicalRDD
    * carries the row count, so the optimizer sizes it by its rows.
    */
  def createTable(name: String, schema: StructType, rows: Seq[Row] = Seq.empty): Unit = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    register(name, GraftSqlBridge.internalDataFrame(spark, spark.sparkContext.parallelize(
      rows.map(toCatalyst(_).asInstanceOf[InternalRow]), 1), schema, rows.size))
  }

  // ---- statement router ---------------------------------------------------

  /** Execute one or more `;`-separated statements; returns the LAST
    * statement's DataFrame (DDL/DML return an empty result, like the
    * reference's ok-statements). The reference's v2 entry loops over every
    * parsed statement in the input (client_context.rs:76-97), so pasting
    * `create ...; insert ...;` into the CLI must work. The input is lexed
    * once by Spark's lexer and split on its `;` tokens, so a `;` inside a
    * string literal, quoted identifier or (nested) comment never splits.
    */
  def run(sql: String): DataFrame = {
    val stmts = GraftEngine.statements(sql)
    if (stmts.isEmpty) emptyOk
    else stmts.map(runStatement).last
  }

  /** The text of each of [[GraftEngine.statements]]. */
  private[graft] def splitStatements(sql: String): Seq[String] =
    GraftEngine.statements(sql).map(_.sql)

  /** Route one statement on its leading tokens; keywords compare case-
    * insensitively and a comment between them is invisible.
    */
  private def runStatement(s: Tokens): DataFrame = s.word(0) match {
    case "GRAFT_RELEASE" if s.size == 1 || (s.size == 3 && s.word(1) == "(" && s.word(2) == ")") =>
      // the SQL-surface release path for serving-TVF scratch state: the
      // dedup/BPE TVFs pin tracked persisted frames per call (the caches
      // their plans reuse WITHIN one execution), and a long-lived session
      // would otherwise accumulate them without bound. Releases CACHES
      // only — always safe, Spark recomputes a released cache if a plan
      // re-executes. Checkpoint blocks are deliberately NOT released: a
      // checkpointed plan has no lineage to recompute from, so releasing
      // them would break a still-registered view/CTAS over a fixpoint
      // result.
      graft.operators.Dedup.releaseCaches()
      emptyOk
    case "SHOW" if s.size == 2 && s.word(1) == "TABLES" => showTables()
    case "DESCRIBE" if s.size == 2 && s.isName(1) => describe(s.text(1))
    case "EXPLAIN" if s.size > 1 => explainOf(s.drop(1))
    case "CREATE" if s.word(1) == "TABLE" && s.isName(2) && s.word(3) == "AS" && s.word(4) == "SELECT" =>
      requireNotExists(s.text(2))
      register(s.text(2), runSelect(s.drop(4))); emptyOk
    case "CREATE" if s.word(1) == "TABLE" && s.isName(2) && s.word(3) == "(" && s.close(3) == s.size - 1 =>
      requireNotExists(s.text(2))
      createTable(s.text(2), parseSchema(s.slice(4, s.size - 1))); emptyOk
    case "COPY" => runCopy(s)
    case "INSERT" if s.word(1) == "INTO" && s.isName(2) =>
      val at = if (s.word(3) == "(") s.close(3) + 1 else 3
      val cols = Option.when(at > 3)(s.slice(4, at - 1).commaList.map(_.plain))
      s.word(at) match {
        case "VALUES" =>
          insertInto(s.text(2), cols, spark.sql(s"select * from ${s.drop(at).sql}")); emptyOk
        case "SELECT" => insertInto(s.text(2), cols, runSelect(s.drop(at))); emptyOk
        case _ => runSelect(s)
      }
    case _ => runSelect(s)
  }

  /** `COPY t FROM 'path' (opts)` or `COPY <table | (subquery)> TO 'path'
    * (opts)`, split at the first `TO` token outside parentheses.
    */
  private def runCopy(s: Tokens): DataFrame = {
    val from = s.isName(1) && s.word(2) == "FROM"
    val to = if (from) 2 else s.find(TO)
    val stmt = if (from) "COPY FROM" else "COPY TO"
    require(to < s.size, s"unsupported COPY statement: ${s.sql}")
    val path = s.string(to + 1).getOrElse(
      throw new IllegalArgumentException(s"$stmt expects 'path' (options): ${s.sql}"))
    val tail = s.drop(to + 2)
    require(tail.size == 0 || (tail.word(0) == "(" && tail.close(0) == tail.size - 1),
      s"$stmt expects 'path' (options): ${s.sql}")
    val opts = copyOptions(stmt, tail.slice(1, tail.size - 1))
    if (!from) copyTo(s.slice(1, to), path, opts)
    // the reference's rewrite to INSERT..SELECT over read_csv
    // (bind_copy.rs:10-35), header on by default like read_csv
    // (tests/slt/csv/csv.slt); a parquet path reads through read_parquet
    else if (path.toLowerCase.endsWith(".parquet")) insertInto(s.text(1), None, readParquet(path))
    else insertInto(s.text(1), None, readCsv(path, opts.header, opts.one("delimiter").getOrElse(",")))
    emptyOk
  }

  /** SELECT path. Two token splices come first ([[selectText]]): the
    * OFFSET/LIMIT swap and bare `FROM 'file.{csv,parquet,json[l]}'`, which
    * Spark's parser rejects. Then the statement is parsed ONCE, inside the
    * planning tracker's parsing phase; the FROM-subquery alias rule is
    * checked on that tree; every table-function call expands in place
    * ([[expandTableFunctions]]); and the expanded tree is analyzed under
    * the same tracker. An unresolved-column failure retries once on the
    * same expanded tree with select-list aliases substituted into WHERE, so
    * no table-function body runs twice. With `relation`, `s` is a relation
    * read whole, as `select * from <s>` (COPY TO's source).
    */
  private def runSelect(s: Tokens, relation: Boolean = false): DataFrame = {
    val sql = selectText(s, relation)
    val tracker = new QueryPlanningTracker
    val parsed = tracker.measurePhase(QueryPlanningTracker.PARSING) {
      spark.sessionState.sqlParser.parsePlan(sql)
    }
    requireFromSubqueryAlias(parsed)
    val expanded = expandTableFunctions(parsed)
    val df =
      try GraftSqlBridge.ofRows(spark, expanded, tracker)
      catch {
        case e: AnalysisException if e.getMessage.contains("UNRESOLVED_COLUMN") =>
          val repaired = aliasesIntoWhere(expanded)
          if (repaired fastEquals expanded) throw e
          GraftSqlBridge.ofRows(spark, repaired, tracker)
      }
    rejectVarcharNumericComparison(df)
    df
  }

  /** `s`'s text for Spark's parser: `OFFSET m LIMIT n`, which sqlparser-rs
    * accepts (tests/slt/order.slt:2), becomes `limit n offset m`, and a file
    * literal after FROM becomes its [[bareFileView]].
    */
  private def selectText(s: Tokens, relation: Boolean): String = {
    val edits = (0 until s.size).flatMap { i =>
      s.kind(i) match {
        case OFFSET if s.kind(i + 1) == INTEGER_VALUE && s.kind(i + 2) == LIMIT &&
            s.kind(i + 3) == INTEGER_VALUE =>
          Some((i, i + 4, s"limit ${s.text(i + 3)} offset ${s.text(i + 1)}"))
        case STRING_LITERAL if (if (i == 0) relation else s.kind(i - 1) == FROM) =>
          bareFileView(s.string(i).get).map(view => (i, i + 1, view))
        case _ => None
      }
    }
    (if (relation) "select * from " else "") + s.splice(edits)
  }

  /** Bare `FROM 'file.ext'` auto-binds to the matching reader (CSV with
    * the read_csv defaults, header on). The relation is a temp view named
    * after the file stem so qualified references work — `select t1.a from
    * 'tests/csv/t1.csv'` binds t1 to the file (bind_base_table_ref.rs:98-118
    * does the same); the stem view is user-facing and stays registered. A
    * path with another extension is no file relation.
    */
  private def bareFileView(path: String): Option[String] = {
    val lower = path.toLowerCase
    Seq("csv", "parquet", "json", "jsonl").find(e => lower.endsWith("." + e) && lower.length > e.length + 1)
      .map { ext =>
        val kind = if (ext.startsWith("json")) "json" else ext
        val stem = GraftEngine.wordChars(path.split("/").last.dropRight(ext.length + 1))
        val view = if (stem.headOption.exists(c => c.isLetter || c == '_')) stem
          else s"${kind}_$stem"
        val df = kind match {
          case "csv" => readCsv(path, header = true, delim = ",")
          case "parquet" => readParquet(path)
          case _ => readJson(path)
        }
        df.createOrReplaceTempView(view)
        view
      }
  }

  // ---- table functions ---------------------------------------------------

  /** The source readers and the catalog introspection pair, each with its
    * body over (positional arguments, `name => value` options); the
    * graft_* serving TVFs are the keys of [[GraftTvfs]].
    */
  private val SourceFunctions
      : Map[String, (Seq[Expression], Seq[(String, String)]) => DataFrame] = Map(
    "read_csv" -> { (pos, named) =>
      val opts = named.toMap
      readCsv(pathArg("read_csv", pos),
        header = opts.get("header").forall(_.equalsIgnoreCase("true")),
        delim = opts.getOrElse("delim", ","))
    },
    "read_parquet" -> ((pos, _) => readParquet(pathArg("read_parquet", pos))),
    "read_json" -> ((pos, _) => readJson(pathArg("read_json", pos))),
    "sqlrs_tables" -> ((_, _) => sqlrsTables()),
    "sqlrs_columns" -> ((_, _) => sqlrsColumns()))

  private def isTableFunction(name: Seq[String]): Boolean = name match {
    case Seq(n) =>
      val f = n.toLowerCase
      SourceFunctions.contains(f) ||
        (f.startsWith("graft_") && GraftTvfs.contains(f.stripPrefix("graft_")))
    case _ => false
  }

  /** Replace every table-function call in the parsed tree — FROM items,
    * subquery expressions and CTE definitions alike — by the analyzed plan
    * of the DataFrame its body builds. Expansion runs before analysis, so a
    * body's argument error surfaces as the IllegalArgumentException it
    * raised, and no temp view is registered for a call. A call inside a
    * string literal or comment is no node of the tree, so it never runs.
    */
  private def expandTableFunctions(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithSubqueries {
      case UnresolvedTableValuedFunction(name, args, _) if isTableFunction(name) =>
        tableFunction(name.head.toLowerCase, args).queryExecution.analyzed
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, q, depth) =>
          (n, expandTableFunctions(q).asInstanceOf[SubqueryAlias], depth)
        })
    }

  /** One table-function call → its DataFrame. Arguments decode once from
    * the parse tree: each `name => value` becomes option text (a literal's
    * or foldable expression's value, or a bare name's text), the form the
    * option readers parse and validate; positional arguments stay
    * expressions until a body resolves them ([[relationArg]]).
    */
  private def tableFunction(fn: String, args: Seq[Expression]): DataFrame = {
    val (named, pos) = args.partitionMap {
      case NamedArgumentExpression(k, v) => Left(k.toLowerCase -> optionText(fn, k, v))
      case e => Right(e)
    }
    SourceFunctions.get(fn) match {
      case Some(body) => body(pos, named)
      case None => graftTvf(fn.stripPrefix("graft_"), pos, named)
    }
  }

  private def optionText(fn: String, key: String, v: Expression): String = v match {
    case u: UnresolvedAttribute => u.name
    case e if e.foldable => String.valueOf(e.eval())
    case other => throw new IllegalArgumentException(
      s"$fn: option $key needs a literal or a name, got ${other.sql}")
  }

  private def pathArg(fn: String, pos: Seq[Expression]): String = pos match {
    case Seq(Literal(p: UTF8String, _)) => p.toString
    case _ => throw new IllegalArgumentException(
      s"$fn needs exactly one quoted path argument")
  }

  /** A relation argument: a quoted parquet path, a catalog table name, or
    * a nested table-function call, expanded recursively — calls compose:
    * `graft_license_propagation(graft_components(docs), docs, rank => r)`.
    */
  private def relationArg(fn: String, e: Expression): DataFrame = e match {
    case Literal(p: UTF8String, _) => readParquet(p.toString)
    case u: UnresolvedAttribute => spark.table(u.name.toLowerCase)
    case f: UnresolvedFunction if isTableFunction(f.nameParts) =>
      tableFunction(f.nameParts.head.toLowerCase, f.arguments)
    case other => throw new IllegalArgumentException(
      s"$fn: a relation argument is a quoted parquet path, a table name or " +
        s"a table-function call, got ${other.sql}")
  }

  /** One graft_* serving-TVF call → the operator's DataFrame.
    * Relation arguments are a single-quoted parquet path
    * (`'/data/docs.parquet'`), a bare table/view name from this engine's
    * catalog, or a nested table-function call; scalar options use the
    * `name => value` TVF convention read_csv already follows.
    *
    *  - `graft_topk(corpus, queries, k => 10)` — exact cosine top-k
    *    over (vec_id, embedding) relations → (query_id, neighbor_id,
    *    sim, rank), served by the bounded-heap TopKPerKey operator.
    *  - `graft_dedup_pairs(docs, threshold => 0.8)` — MinHash-LSH
    *    near-duplicate pairs over (doc_id, text), exact-Jaccard
    *    verified → (i, j).
    *  - `graft_decontaminate(corpus, eval, n => 8)` — eval-set n-gram
    *    contamination flags over (doc_id, text) → (doc_id, n_shared).
    *  - `graft_pagerank(pairs, iters => 3, damping => 0.85,
    *    dangling => false)` — PageRank over a (doc_a, doc_b) pair
    *    relation; vertices are the pairs' distinct endpoints →
    *    (doc_id, r).
    *  - `graft_hits(pairs, iters => 2)` — integer-exact unnormalized
    *    HITS over a directed (doc_a, doc_b) pair relation; vertices are
    *    the pairs' distinct endpoints → (doc_id, auth, hub).
    *  - `graft_bpe_merges(docs, rounds => 2)` — distributed BPE merge
    *    learning over (doc_id, text) → (round, a, b, cnt, n_syms).
    *  - `graft_radius(corpus, queries, tau => 0.3)` — radius (range)
    *    retrieval over (vec_id, embedding) relations: every corpus
    *    vector within cosine ≥ tau of each query → (query_id,
    *    neighbor_id, sim); no heap — the output is radius-bounded.
    *    Self-pairs (equal vec_id) are excluded, the graft_topk
    *    convention — re-key one side when probing with a distinct
    *    query relation whose id space overlaps the corpus.
    *  - `graft_louvain(pairs)` — one Louvain-style greedy merge round
    *    over a (doc_a, doc_b) pair relation; vertices are the pairs'
    *    distinct endpoints → (doc_id, comm, gain_num).
    *  - `graft_louvain_levels(pairs, levels => 2)` — FULL multi-level
    *    Louvain over a (doc_a, doc_b) pair relation: per-level mutual
    *    best-pair coarsening with the exact integer ΔQ score →
    *    (lvl, n_comms, l_in, q_ppm), one row per level including the
    *    all-singletons level 0. Runs its per-level checkpoint rounds
    *    when executed (the g9 fixpoint posture); levels is capped at 4
    *    by the operator.
    *  - `graft_incremental_dedup(base, probe, num => 4, den => 5)` —
    *    snapshot-probe dedup over (doc_id, text, lang) relations: per
    *    probe doc, how many base docs it near-duplicates at word
    *    Jaccard ≥ num/den → (doc_id, n_dups, first_dup, is_new); the
    *    base never self-joins.
    *  - `graft_incremental_minhash(base, probe, num => 4, den => 5)` —
    *    the same snapshot-probe contract in the SHINGLE domain over
    *    (doc_id, text) relations: a MinHash band index is built from
    *    the base (persist the base index via the Scala
    *    `Dedup.minhashIndex` for repeated serving), the probe joins it
    *    on (band, bucket), and the exact integer verify decides →
    *    (doc_id, n_dups, first_dup, is_new).
    *  - `graft_unigram_lm(docs, vocab => 2048)` — SentencePiece-style
    *    unigram-LM tokenizer TRAINING over a (doc_id, text) relation
    *    (Kudo ACL'18, the u6 operator): substring-seeded vocabulary,
    *    relational Viterbi E-step, usage-pruned M-step → (piece,
    *    n_uses), single chars always kept. Runs its per-round
    *    checkpoint jobs when executed (the louvain_levels posture —
    *    a trainer, not a serving query).
    *  - `graft_byte_bpe_merges(docs, rounds => 2)` — distributed
    *    BYTE-level BPE merge learning over a (doc_id, text) relation
    *    (the u11 operator: GPT-2 byte→printable remap, per-round
    *    pair-count aggregate + one-row argmax + fold) →
    *    (round, a, b, cnt, n_syms). Runs its per-round persisted jobs
    *    when executed (a trainer, not a serving query).
    *  - `graft_byte_encode(docs, merges)` — byte-level BPE APPLICATION
    *    (the u10 operator): rank-greedy segment every doc under the
    *    FIXED (round, a, b) merge relation (round = BPE rank) →
    *    (doc_id, n_words, n_bytes, n_subwords, spw_ppm, bps_ppm); the
    *    table collects driver-side (bounded), the corpus pass is
    *    map-only. Composes: graft_byte_encode(docs,
    *    graft_byte_bpe_merges(docs, rounds => 3)).
    *  - `graft_unigram_encode(docs, pieces, char_cost => 6145)` —
    *    unigram-LM tokenizer APPLICATION (the u7 operator): Viterbi-
    *    segment every doc of a (doc_id, text) relation under the FIXED
    *    piece table given by the (piece, cost) relation, single
    *    characters always available at char_cost → (doc_id, n_words,
    *    n_pieces, ppw_ppm); docs with no words are omitted. The piece
    *    table collects driver-side (bounded — the codegen reference-
    *    object discipline), so the corpus pass is map-only.
    *  - `graft_components(docs, n => 1, threshold => 0.95)` — the d8
    *    near-dup closure as a front door: exact-duplicate clique
    *    collapse, exact n-gram-Jaccard pairs within a language, min-label
    *    connected components; returns `(doc_id, rep)` — the component
    *    map the governance TVFs consume.
    *  - `graft_license_propagation(comp, docs, rank => class_col)` —
    *    most-restrictive-class-governs over components: `(doc_id, rep,
    *    own_rank, comp_rank, n_members, upgraded)`.
    *  - `graft_split_leakage(comp, split)` — near-dup components
    *    straddling train/val/test: every member of a multi-split
    *    component is flagged.
    *  - `graft_span_excise(docs, n => 8, keep_one => false)` —
    *    duplicated-span surgery: cross-document n-token spans excise
    *    from every document (keep_one => true keeps the canonical
    *    (doc_id, pos)-minimum occurrence — the ACL'22 all-but-one
    *    rule); documents are KEPT, returning `(doc_id, n_tokens,
    *    n_removed, clean_text)`.
    *  - `graft_index_delete(index, revoked, kind => 'span', n => 8)` —
    *    TAKEDOWN across the persisted serving indexes (the d23
    *    compliance family): removes a revoked-document set's
    *    contribution from a persisted index relation without a
    *    rebuild. kind: 'span' (counted span-hash index; revoked
    *    carries doc_id + text), 'postings' (unbanded tf-idf postings),
    *    'minhash' (uncapped band index), 'prefix' (streaming prefix
    *    index), 'ivf' (member table keyed by vec_id), 'secrets' (the
    *    t27 candidate-frequency index; revoked carries doc_id + text,
    *    run => the digit-run length), 'components' (the near-dup graph
    *    store from graft_components_index; revoked is (doc_id) —
    *    clique relabel + edge splice + affected-component re-closure,
    *    all index-only), 'curriculum' (the s16 ranking store; revoked
    *    carries (doc_id, source) — anti join + in-place re-rank +
    *    count decrement, rank-for-rank the rebuild's prefix). Delete
    *    cost is proportional to the takedown set, never the corpus.
    *  - `graft_components_index(docs, n => 1, threshold => 0.95)` —
    *    the d26 near-dup graph STORE build: member rows `(doc_id,
    *    rep0, rep, lang, fp, tsz, toks)` (the clique map, the closed
    *    component label, and the rep's hashed shingle evidence) plus
    *    edge rows `(doc_id, dst)` (the verified rep-level pairs). The
    *    serving map is `... WHERE dst IS NULL` → (doc_id, rep); the
    *    store feeds graft_index_delete/merge kind => 'components'.
    *  - `graft_components_delete(components, docs, revoked, n => 1,
    *    threshold => 0.95)` — takedown on the near-dup component map:
    *    untouched components pass through, affected components'
    *    survivors re-close component-locally (splits included) —
    *    bit-identical to rebuilding the closure over the survivors.
    *  - `graft_index_merge(index, drop, kind => 'span', n => 8)` —
    *    COMPACTION, the append half of graft_index_delete: folds an
    *    arriving drop's contribution into a persisted index (kind
    *    'span', 'postings', 'minhash', 'prefix', 'secrets',
    *    'charspan', or 'components') by delta arithmetic or per-doc
    *    row union — the base corpus is never re-read, and the result
    *    is bit-identical to rebuilding over base ∪ drop (disjoint
    *    doc_ids; 'prefix' promises served-answer equality under its
    *    frozen df order, the d19 contract; 'components' verifies only
    *    NEW cross pairs — drop carries doc_id + lang + text, and
    *    n/threshold are its shingle knobs; 'curriculum' re-heaps index
    *    rows ∪ the drop's hashed rows — k is the ranking depth, and
    *    merging into an EMPTY store relation bootstraps it, the SQL
    *    build path). IVF member appends go through graft_ivf_append.
    *  - `graft_secret_scrub(docs, k => 3, run => 4)` — frequency-gated
    *    secret redaction (the t27 k-anonymity scrub): digit-run tokens
    *    in fewer than k distinct documents corpus-wide mask as
    *    `<secret>`; returns `(doc_id, n_tokens, n_secrets, n_redacted,
    *    clean_text)`. `graft_secret_frequencies(docs, run => 4)` emits
    *    the persisted (tok, nd) candidate index, and
    *    `graft_secret_scrub_incremental(drop, index, k => 3, run => 4)`
    *    scrubs an arriving drop against it, combining base and
    *    within-drop evidence against k — the calls compose as nested
    *    calls.
    *  - `graft_retention_expiry(docs, policy, as_of => 359)` — the
    *    scheduled delete's input (the x23 retention family): rows of
    *    docs (which must carry `source` and `ingest_day`) whose age at
    *    as_of reached their source's `retention_days` in the policy
    *    relation, annotated with `age_days`/`retention_days`; a source
    *    with no policy row never expires. The output is the
    *    revoked-set shape graft_index_delete / graft_components_delete
    *    consume — scheduled and request-driven deletion share one
    *    lifecycle.
    *  - `graft_takedown_audit(docs, revoked, members, revoked_vecs,
    *    n => 8, run => 4)` — the unified EIGHT-store takedown audit
    *    (x25): one `(store, n_before, n_after, n_changed)` row per
    *    lifecycle index (span, charspan, postings, minhash, prefix,
    *    secrets, components, ivf_members), every number from the
    *    delete paths on the stale stores. `revoked` takes full doc
    *    rows — `graft_retention_expiry`'s output feeds it directly,
    *    closing the retention → takedown → audit loop in one SQL
    *    statement.
    *  - `graft_unigram_em(docs, pieces, char_cost => 6145)` — one
    *    unigram-LM EM re-estimation round (u13) under the fixed
    *    `(piece, cost)` relation; returns `(piece, n_uses, cost)`,
    *    itself a valid pieces relation, so the call self-composes and
    *    feeds graft_unigram_encode directly.
    *  - `graft_hyperball(pairs, dist => 4, m => 256)` — HyperBall
    *    harmonic-centrality/ball-size estimation over the pair
    *    relation's endpoints (g15's serving face);
    *    `graft_harmonic(pairs, dist => 4)` is the exact integer-ppm
    *    ground truth (g15p) for graphs whose reach allows it.
    *  - `graft_ivf_append(index, drop)` — incremental IVF maintenance
    *    (the a9 operator): assign-only append of a (vec_id, embedding)
    *    drop against a PERSISTED (centroid_id, centroid) index
    *    relation → per cell (cell, n_new, cos), where cos is the
    *    drift cosine between the stored centroid and the drop members'
    *    mean (null when the drop left the cell empty). Map-only
    *    assignment; no job ever touches the base corpus.
    *
    * Lifecycle: the dedup/BPE operators persist tracked scratch frames
    * their plans reuse within one execution; a long-lived serving
    * session should issue the `graft_release` statement between serving
    * batches to release them (Spark recomputes if a released plan is
    * re-executed, so it is always safe).
    */
  /** Per-KIND option subsets for the kind-dispatched lifecycle TVFs
    * (graft_index_delete / graft_index_merge): the TVF-level option set
    * is the union over kinds, so a kind-mismatched option (`n => 8`
    * with kind => 'secrets', `run => 5` with kind => 'span') would
    * otherwise be accepted and silently IGNORED — the default applies
    * and the caller's typo is masked. Validated after kind resolution,
    * before dispatch; an unknown kind falls through to the dispatch
    * error (which names the valid kinds).
    */
  private val IndexKindOptions: Map[String, Set[String]] = Map(
    "span" -> Set("n"),
    "charspan" -> Set("n"),
    "secrets" -> Set("run"),
    "postings" -> Set.empty,
    "minhash" -> Set.empty,
    "prefix" -> Set.empty,
    "ivf" -> Set.empty)

  private def requireKindOptions(
      fn: String, kind: String, given: Set[String]): Unit = {
    // 'components' is the one kind whose delete and merge halves differ:
    // delete is pure index arithmetic (no options), merge verifies new
    // cross pairs and owns the shingle/threshold knobs
    val allowedOpt = kind match {
      case "components" =>
        Some(if (fn == "index_merge") Set("n", "threshold") else Set.empty[String])
      case "curriculum" =>
        Some(if (fn == "index_merge") Set("k") else Set.empty[String])
      case k => IndexKindOptions.get(k)
    }
    allowedOpt.foreach { allowed =>
      val bad = given - "kind" -- allowed
      require(bad.isEmpty,
        s"graft_$fn: option(s) ${bad.toSeq.sorted.mkString(", ")} do not " +
          s"apply to kind '$kind'" + (if (allowed.isEmpty) ""
          else s" (accepted for '$kind': ${allowed.toSeq.sorted.mkString(", ")})"))
    }
  }

  /** Every graft_* TVF, declared once: name (without the prefix) →
    * (the relation arguments it requires, the option keys it accepts).
    * Arity is checked BEFORE any relation resolves, so a missing argument
    * errors as an argument-count problem, not as a failed path/table
    * lookup; an unknown option key is a caller typo (`treshold => 0.9`)
    * and must error, not silently default.
    */
  private val GraftTvfs: Map[String, (Seq[String], Set[String])] = Map(
    "topk" -> (Seq("corpus", "queries"), Set("k")),
    "dedup_pairs" -> (Seq("docs"), Set("threshold")),
    "decontaminate" -> (Seq("corpus", "eval"), Set("n")),
    "pagerank" -> (Seq("pairs"), Set("iters", "damping", "dangling")),
    "hits" -> (Seq("pairs"), Set("iters")),
    "bpe_merges" -> (Seq("docs"), Set("rounds")),
    "radius" -> (Seq("corpus", "queries"), Set("tau")),
    "louvain" -> (Seq("pairs"), Set.empty),
    "louvain_levels" -> (Seq("pairs"), Set("levels", "moves")),
    "incremental_dedup" -> (Seq("base", "probe"), Set("num", "den")),
    "incremental_minhash" -> (Seq("base", "probe"), Set("num", "den")),
    "knn_label" -> (Seq("corpus", "queries"), Set("k")),
    "semantic_decon" -> (Seq("corpus", "eval"), Set("tau")),
    "asof" -> (Seq("left", "right"), Set("key", "ord", "payload", "forward")),
    "unigram_lm" -> (Seq("docs"), Set("vocab")),
    "unigram_encode" -> (Seq("docs", "pieces"), Set("char_cost")),
    "ivf_append" -> (Seq("index", "drop"), Set.empty),
    "components" -> (Seq("docs"), Set("n", "threshold")),
    "components_index" -> (Seq("docs"), Set("n", "threshold")),
    "license_propagation" -> (Seq("comp", "docs"), Set("rank")),
    "split_leakage" -> (Seq("comp", "split"), Set.empty),
    "span_excise" -> (Seq("docs"), Set("n", "keep_one")),
    "index_delete" -> (Seq("index", "revoked"), Set("kind", "n", "run")),
    "index_merge" -> (Seq("index", "drop"), Set("kind", "n", "run", "threshold", "k")),
    "components_delete" -> (Seq("components", "docs", "revoked"), Set("n", "threshold")),
    "byte_bpe_merges" -> (Seq("docs"), Set("rounds")),
    "byte_encode" -> (Seq("docs", "merges"), Set.empty),
    "secret_scrub" -> (Seq("docs"), Set("k", "run")),
    "secret_frequencies" -> (Seq("docs"), Set("run")),
    "secret_scrub_incremental" -> (Seq("drop", "index"), Set("k", "run")),
    "retention_expiry" -> (Seq("docs", "policy"), Set("as_of")),
    "unigram_em" -> (Seq("docs", "pieces"), Set("char_cost")),
    "hyperball" -> (Seq("pairs"), Set("dist", "m")),
    "harmonic" -> (Seq("pairs"), Set("dist")),
    "takedown_audit" -> (Seq("docs", "revoked", "members", "revoked_vecs"), Set("n", "run")),
    "curriculum_delete_buffered" -> (Seq("index", "revoked", "overflow"), Set("k")))

  private def graftTvf(
      fn: String, pos: Seq[Expression], namedPairs: Seq[(String, String)]): DataFrame = {
    val named = namedPairs.toMap
    require(named.size == namedPairs.size,
      s"graft_$fn: duplicate option(s) " +
        namedPairs.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
          .mkString(", "))
    val (wantRels, allowed) = GraftTvfs(fn)
    val unknown = named.keySet -- allowed
    require(unknown.isEmpty,
      s"graft_$fn: unknown option(s) ${unknown.mkString(", ")}; " +
        s"accepted: ${allowed.toSeq.sorted.mkString(", ")}")
    require(pos.length == wantRels.length,
      s"graft_$fn needs ${wantRels.length} relation argument(s) " +
        s"(${wantRels.mkString(", ")} — each a quoted parquet path, a " +
        s"table name or a nested call), got ${pos.length}")
    def rel(i: Int): DataFrame = relationArg(s"graft_$fn", pos(i))
    def badValue(key: String, v: String, want: String): Nothing =
      throw new IllegalArgumentException(
        s"graft_$fn: option $key needs $want, got '$v'")
    def intOpt(key: String, default: Int): Int = {
      val v = named.get(key).map { raw =>
        try raw.toInt catch { case _: NumberFormatException =>
          badValue(key, raw, "an integer") }
      }.getOrElse(default)
      require(v >= 1, s"graft_$fn: $key must be >= 1, got $v")
      v
    }
    def doubleOpt(key: String, default: Double): Double =
      named.get(key).map { raw =>
        try raw.toDouble catch { case _: NumberFormatException =>
          badValue(key, raw, "a number") }
      }.getOrElse(default)
    def boolOpt(key: String): Boolean =
      named.get(key).exists { raw =>
        try raw.toBoolean catch { case _: IllegalArgumentException =>
          badValue(key, raw, "true or false") }
      }
    // column-name options (the asof posture): consumed through the
    // DataFrame API (col(...)), never re-parsed as SQL text; a bare name
    // and a quoted one decode to the same text
    def strOpt(key: String): String = {
      val v = named.getOrElse(key, throw new IllegalArgumentException(
        s"graft_$fn: option $key is required (a column name)"))
      require(v.nonEmpty, s"graft_$fn: option $key is empty")
      v
    }
    // the (piece, cost) model relation of unigram_encode / unigram_em
    // ships as a codegen reference object (the u4/u7 fixed-model
    // discipline) — cap the collect so a caller pointing a corpus-sized
    // relation at the model slot fails fast instead of OOMing the driver.
    // Duplicate piece rows with CONFLICTING costs would otherwise resolve
    // in plan-dependent order (an unordered limit+collect) — take the min
    // cost per piece and a canonical piece order so the shipped model is
    // a deterministic function of the relation.
    def pieceTable(pieces: DataFrame): Seq[(String, Long)] = {
      val rows = pieces
        .select(col("piece").cast("string"), col("cost").cast("long"))
        .where(col("piece").isNotNull && col("cost").isNotNull)
        .groupBy(col("piece")).agg(min(col("cost")).as("cost"))
        .orderBy(col("piece"))
        .limit(65537).collect()
      require(rows.length <= 65536,
        s"graft_$fn: pieces relation exceeds 65536 rows — " +
          "a piece table is model state, not a corpus")
      rows.map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    // graph TVFs share one vertex convention: the pair table's distinct
    // endpoints (a TVF has one relation argument; isolated vertices are
    // out of its view)
    def endpointVerts(pairs: DataFrame): DataFrame =
      pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    // options parse BEFORE relations resolve in every branch, so a bad
    // option value reads as an option error even when a relation is also
    // missing
    fn match {
      case "topk" =>
        val k = intOpt("k", 10)
        graft.operators.Similarity.bruteForceTopK(rel(0), rel(1), k = k)
      case "dedup_pairs" =>
        val threshold = doubleOpt("threshold", 0.8)
        require(threshold > 0.0 && threshold <= 1.0,
          s"graft_dedup_pairs: threshold must be in (0,1], got $threshold")
        graft.operators.Dedup.minhashLshPairs(rel(0), threshold = threshold)
      case "decontaminate" =>
        val n = intOpt("n", 8)
        graft.operators.Decontaminate.ngramOverlap(rel(0), rel(1), n = n)
      case "pagerank" =>
        // Served through the LAZY unrolled form so the rewrite itself
        // (and EXPLAIN over it) runs zero jobs; iters is therefore
        // CAPPED — the unrolled plan grows linearly per round (and would
        // double per round with dangling, capped tighter by the operator
        // itself). Deep fixpoints belong on the Scala
        // `Graph.pageRankConverged` API, whose checkpointed rounds the
        // g9 gate pins bit-equal to this form.
        val iters = intOpt("iters", 3)
        val damping = doubleOpt("damping", 0.85)
        val dangling = boolOpt("dangling")
        val cap = if (dangling) 8 else 20
        require(iters <= cap,
          s"graft_pagerank: iters > $cap unrolls too deep a plan — use " +
            "Graph.pageRankConverged for deep fixpoints")
        val pairs = rel(0)
        graft.operators.Graph.pageRank(endpointVerts(pairs), pairs,
          iters = iters, damping = damping, dangling = dangling)
      case "hits" =>
        // Graph.hits itself caps iters at 4 (the int64 score-overflow
        // bound), so the TVF only floors it.
        val iters = intOpt("iters", 2)
        val pairs = rel(0)
        graft.operators.Graph.hits(endpointVerts(pairs), pairs,
          iters = iters)
      case "bpe_merges" =>
        val rounds = intOpt("rounds", 2)
        graft.operators.Tokenizer.distributedMergeRounds(rel(0),
          rounds = rounds)
      case "byte_bpe_merges" =>
        // u11's distributed BYTE-level trainer (GPT-2 remap symbols —
        // Radford et al. 2019): per-round pair-count aggregate, one-row
        // argmax, HOF fold. Runs its per-round persisted jobs when
        // executed (the louvain_levels trainer posture). Output
        // (round, a, b, cnt, n_syms) — feed it straight into
        // graft_byte_encode (nested calls compose).
        val rounds = intOpt("rounds", 2)
        graft.operators.Tokenizer.distributedByteMergeRounds(rel(0),
          rounds = rounds)
      case "byte_encode" =>
        // u10's byte-level BPE APPLICATION: segment every doc of a
        // (doc_id, text) relation under the FIXED merge table given by
        // the (round, a, b) relation — merge ORDER is the round column
        // (BPE ranks are positional). The table ships as a codegen
        // reference object (the unigram_encode bounded-collect
        // discipline); the corpus pass is map-only. Output mirrors the
        // u10 gate: (doc_id, n_words, n_bytes, n_subwords, spw_ppm,
        // bps_ppm), docs with no words omitted.
        val docs = rel(0)
        val mergeRows = rel(1)
          .select(col("round").cast("long").as("round"),
            col("a").cast("string"), col("b").cast("string"))
          .where(col("round").isNotNull && col("a").isNotNull
            && col("b").isNotNull)
          // exact duplicate rows collapse harmlessly; what must NOT
          // pass is two DIFFERENT merges sharing one round — ranks are
          // positional, so they'd apply in plan-dependent order (the
          // unigram_encode min-cost discipline, applied to merges:
          // the shipped model must be a deterministic function of the
          // relation, and an ambiguous one is a caller error)
          .distinct()
          .orderBy(col("round"))
          .limit(65537).collect()
        require(mergeRows.length <= 65536,
          "graft_byte_encode: merges relation exceeds 65536 rows — " +
            "a merge table is model state, not a corpus")
        val dupRounds = mergeRows.groupBy(_.getLong(0))
          .collect { case (r, g) if g.length > 1 => r }.toSeq.sorted
        require(dupRounds.isEmpty,
          "graft_byte_encode: merge rounds must be unique (BPE ranks " +
            "are positional) — conflicting merges at round(s) " +
            dupRounds.take(5).mkString(", "))
        val merges = mergeRows.map(r => (r.getString(1), r.getString(2))).toSeq
        val toks = graft.functions.TextFunctions.tokens(col("text"))
        docs.select(col("doc_id"),
            size(toks).cast("long").as("n_words"),
            aggregate(toks, lit(0L), (acc, x) => acc + octet_length(x))
              .as("n_bytes"),
            size(graft.operators.Tokenizer.byteSegment(col("text"), merges))
              .cast("long").as("n_subwords"))
          .filter(col("n_words") > 0)
          .withColumn("spw_ppm", expr("(1000000 * n_subwords) div n_words"))
          .withColumn("bps_ppm", expr("(1000000 * n_bytes) div n_subwords"))
      case "secret_scrub" =>
        // t27's frequency-gated secret redaction (k-anonymity scrub):
        // digit-run tokens rarer than k distinct docs corpus-wide mask
        // as <secret>; frequent codes survive. run = minimum digit-run
        // length that makes a token a candidate.
        val k = intOpt("k", 3)
        val run = intOpt("run", 4)
        graft.operators.Privacy.secretScrub(rel(0), k = k, minDigitRun = run)
      case "secret_frequencies" =>
        // the persisted index shape for the incremental scrub: one row
        // per candidate token with its distinct-doc count (counted rows
        // — delete/merge-capable with the d23/d25 delta arithmetic)
        val run = intOpt("run", 4)
        graft.operators.Privacy.secretFrequencies(rel(0), minDigitRun = run)
      case "secret_scrub_incremental" =>
        // the daily-drop posture: the drop scrubs against a persisted
        // graft_secret_frequencies index; base + within-drop evidence
        // combine against k (the calls COMPOSE:
        // graft_secret_scrub_incremental(drop, graft_secret_frequencies(base)))
        val k = intOpt("k", 3)
        val run = intOpt("run", 4)
        graft.operators.Privacy.secretScrubAgainstIndex(rel(0), rel(1),
          k = k, minDigitRun = run)
      case "retention_expiry" =>
        // the scheduled delete's input: docs past their source's
        // retention as of the audit day. docs must carry (source,
        // ingest_day, ...); policy is (source, retention_days). The
        // output is the revoked-set shape graft_index_delete /
        // graft_components_delete consume — the calls compose.
        val asOf = intOpt("as_of", 359)
        graft.operators.Privacy.retentionExpiry(rel(0), rel(1),
          asOfDay = asOf.toLong)
      case "radius" =>
        val tau = doubleOpt("tau", 0.3)
        require(tau >= -1.0 && tau <= 1.0,
          s"graft_radius: tau is a cosine bound in [-1, 1], got $tau")
        graft.operators.Similarity.radiusSearch(rel(0), rel(1), tau = tau)
      case "louvain" =>
        val pairs = rel(0)
        graft.operators.Graph.louvainMove(endpointVerts(pairs), pairs)
      case "louvain_levels" =>
        // Graph.louvainLevels caps levels and moves at 4 each (every
        // move is an eager checkpoint round); the TVF only floors them
        val levels = intOpt("levels", 2)
        val moves = intOpt("moves", 1)
        val pairs = rel(0)
        graft.operators.Graph.louvainLevels(endpointVerts(pairs), pairs,
          levels = levels, movesPerLevel = moves)
      case "incremental_dedup" =>
        // the rational-threshold contract (num/den, default 4/5) keeps
        // the PPJoin prefix bound integer-exact — see
        // Dedup.incrementalDedup for why a double threshold is unsafe
        val num = intOpt("num", 4)
        val den = intOpt("den", 5)
        require(num <= den,
          s"graft_incremental_dedup: threshold num/den must be <= 1, " +
            s"got $num/$den")
        graft.operators.Dedup.incrementalDedup(rel(0), rel(1),
          num = num, den = den)
      case "incremental_minhash" =>
        val num = intOpt("num", 4)
        val den = intOpt("den", 5)
        require(num <= den,
          s"graft_incremental_minhash: threshold num/den must be <= 1, " +
            s"got $num/$den")
        graft.operators.Dedup.incrementalMinhash(
          graft.operators.Dedup.minhashIndex(rel(0)), rel(1),
          num = num, den = den)
      case "unigram_lm" =>
        val vocab = intOpt("vocab", 2048)
        graft.operators.Tokenizer.unigramLm(rel(0), vocabTarget = vocab)
      case "unigram_encode" =>
        val charCost = intOpt("char_cost", 6145).toLong
        val docs = rel(0)
        val pieces = pieceTable(rel(1))
        docs.select(col("doc_id"),
            size(graft.functions.TextFunctions.tokens(col("text")))
              .cast("long").as("n_words"),
            size(graft.operators.Tokenizer.unigramSegment(
              col("text"), pieces, charCost)).cast("long").as("n_pieces"))
          .filter(col("n_words") > 0)
          .withColumn("ppw_ppm", expr("(1000000 * n_pieces) div n_words"))
      case "unigram_em" =>
        // u13's EM re-estimation round: E-step Viterbi usage under the
        // FIXED (piece, cost) relation, M-step exact bit-length
        // re-costing. Output (piece, n_uses, cost) is itself a valid
        // pieces relation, so the call SELF-composes —
        // graft_unigram_em(docs, graft_unigram_em(docs, pieces_t)) is
        // two EM rounds — and feeds graft_unigram_encode directly.
        val charCost = intOpt("char_cost", 6145).toLong
        val docs = rel(0)
        graft.operators.Tokenizer.unigramEmStep(docs, pieceTable(rel(1)), charCost)
      case "hyperball" =>
        // g15's HyperBall estimator face: per endpoint vertex the
        // HLL-estimated harmonic centrality and ball size within
        // `dist` hops (the register-digest gate face is g15; the
        // estimator is the serving face a SQL user wants). Runs its
        // per-round persisted jobs when executed (trainer posture).
        val dist = intOpt("dist", 4)
        require(dist <= 8, s"graft_hyperball: dist must be <= 8, got $dist")
        val m = intOpt("m", 256)
        require(m >= 16 && m <= (1 << 16),
          s"graft_hyperball: m must be in [16, 65536], got $m")
        val pairs = rel(0)
        graft.operators.Graph.harmonicCentralityHll(
          endpointVerts(pairs), pairs, maxDist = dist, m = m)
      case "harmonic" =>
        // g15p's exact bounded-radius harmonic centrality (integer
        // ppm) over the pair relation's endpoint vertices — the ground
        // truth graft_hyperball approximates; O(V·reach) distance
        // table, the documented reason the sketch face exists.
        val dist = intOpt("dist", 4)
        require(dist <= 8, s"graft_harmonic: dist must be <= 8, got $dist")
        val pairs = rel(0)
        graft.operators.Graph.harmonicCentralityExact(
          endpointVerts(pairs), pairs, maxDist = dist)
      case "ivf_append" =>
        graft.operators.Similarity.ivfDrift(rel(0), rel(1))
      case "components" =>
        // the d8 near-dup closure as a front door: (doc_id, rep) over
        // any (doc_id, lang, text) relation — the component map the
        // governance TVFs below consume
        val n = intOpt("n", 1)
        val threshold = doubleOpt("threshold", 0.95)
        require(threshold > 0.0 && threshold <= 1.0,
          s"graft_components: threshold must be in (0,1], got $threshold")
        graft.operators.Dedup.nearDupComponents(rel(0), n = n,
          threshold = threshold)
      case "components_index" =>
        // the d26 near-dup graph STORE build (member + edge rows) —
        // the eighth lifecycle index: feed it to graft_index_delete /
        // graft_index_merge with kind => 'components'; project the
        // serving map with `... WHERE dst IS NULL` (doc_id, rep)
        val n = intOpt("n", 1)
        val threshold = doubleOpt("threshold", 0.95)
        require(threshold > 0.0 && threshold <= 1.0,
          s"graft_components_index: threshold must be in (0,1], got $threshold")
        graft.operators.Dedup.componentsIndex(rel(0), n = n,
          threshold = threshold)
      case "license_propagation" =>
        // rank is a COLUMN NAME in `docs` (an integer restrictiveness
        // class — the license-registry lookup of a production pipeline)
        val rank = strOpt("rank")
        graft.operators.Dedup.licensePropagation(rel(0), rel(1), col(rank))
      case "split_leakage" =>
        graft.operators.Dedup.crossSplitLeakage(rel(0), rel(1))
      case "span_excise" =>
        // keep_one => true selects the ACL'22 all-but-one rule
        // (spanExciseKeepOne); default is the remove-every-copy
        // template variant (spanExcise). Callers rewriting at corpus
        // scale should point `docs` at a doc_id-bucketed table so the
        // cover join-back exchanges only the int cover side (the d20
        // posture).
        val n = intOpt("n", 8)
        require(n >= 2, s"graft_span_excise: n must be >= 2, got $n")
        if (boolOpt("keep_one"))
          graft.operators.Dedup.spanExciseKeepOne(rel(0), n = n)
        else graft.operators.Dedup.spanExcise(rel(0), n = n)
      case "index_delete" =>
        // TAKEDOWN across the persisted serving indexes (the d23
        // compliance family): remove a revoked-document set's
        // contribution from a persisted index WITHOUT a rebuild.
        // kind selects the store: 'span' (counted span-hash index —
        // revoked must carry doc_id AND text; n is the span length),
        // 'postings' (unbanded tf-idf postings — revoked is (doc_id)),
        // 'minhash' (uncapped band index — revoked is (doc_id)),
        // 'prefix' (streaming prefix index — revoked is (doc_id)),
        // 'ivf' (IVF member table — revoked is (vec_id)).
        val kind = named.getOrElse("kind", "span").toLowerCase
        requireKindOptions("index_delete", kind, named.keySet)
        kind match {
          case "span" =>
            val n = intOpt("n", 8)
            require(n >= 2, s"graft_index_delete: n must be >= 2, got $n")
            graft.operators.Dedup.spanIndexDelete(rel(0), rel(1), n = n)
          case "postings" =>
            graft.operators.Dedup.postingsDelete(rel(0), rel(1))
          case "minhash" =>
            graft.operators.Dedup.minhashIndexDelete(rel(0), rel(1))
          case "prefix" =>
            graft.operators.Dedup.prefixIndexDelete(rel(0), rel(1))
          case "ivf" =>
            graft.operators.Similarity.ivfMembersDelete(rel(0), rel(1))
          case "secrets" =>
            // t27's (tok, nd) candidate-frequency index — revoked
            // carries doc_id + text; decrements from the revoked docs
            // alone, tokens reaching nd = 0 drop
            graft.operators.Privacy.secretIndexDelete(rel(0), rel(1),
              minDigitRun = intOpt("run", 4))
          case "charspan" =>
            // d27's counted char-window index (gh, nd) — revoked
            // carries doc_id + text; n is the window length in CHARS
            val n = intOpt("n", 40)
            require(n >= 2, s"graft_index_delete: n must be >= 2, got $n")
            graft.operators.Dedup.spanIndexCharsDelete(rel(0), rel(1), n = n)
          case "components" =>
            // d26's near-dup graph store (member + edge rows) — revoked
            // is (doc_id); the repair is pure index arithmetic (clique
            // relabel + edge splice + affected-component re-closure),
            // no text is read, so no shingle options apply
            graft.operators.Dedup.componentsIndexDelete(rel(0), rel(1))
          case "curriculum" =>
            // s16's ranking store — revoked carries (doc_id, source);
            // anti join + in-place re-rank + count decrement (the
            // prefix contract: rank-for-rank the rebuild's prefix)
            graft.operators.Curriculum.curriculumIndexDelete(rel(0), rel(1))
          case other => throw new IllegalArgumentException(
            s"graft_index_delete: kind must be one of span, postings, " +
              s"minhash, prefix, ivf, secrets, charspan, components, " +
              s"curriculum — got '$other'")
        }
      case "components_delete" =>
        // TAKEDOWN on the near-dup component map — the graph store's
        // delete, where revocation can SPLIT a component: untouched
        // components pass through, affected components' survivors
        // re-close over their own text (the d26 operator). Relations:
        // the persisted (doc_id, rep) map, the corpus it was built
        // from, and the revoked (doc_id) set.
        val n = intOpt("n", 1)
        val threshold = doubleOpt("threshold", 0.95)
        require(threshold > 0.0 && threshold <= 1.0,
          s"graft_components_delete: threshold must be in (0,1], got $threshold")
        graft.operators.Dedup.componentsDelete(rel(0), rel(1), rel(2),
          n = n, threshold = threshold)
      case "index_merge" =>
        // COMPACTION across the persisted serving indexes — the append
        // half of graft_index_delete (same kind dispatch): fold an
        // arriving drop's contribution into a persisted index without
        // re-reading the base corpus. kind: 'span' (counted span-hash
        // index — drop carries doc_id + text; n is the span length),
        // 'postings' (unbanded tf-idf postings — drop carries doc_id +
        // text). Drop doc_ids must be disjoint from the base's (the
        // snapshot contract).
        val kind = named.getOrElse("kind", "span").toLowerCase
        requireKindOptions("index_merge", kind, named.keySet)
        kind match {
          case "span" =>
            val n = intOpt("n", 8)
            require(n >= 2, s"graft_index_merge: n must be >= 2, got $n")
            graft.operators.Dedup.spanIndexMerge(rel(0), rel(1), n = n)
          case "postings" =>
            graft.operators.Dedup.postingsMerge(rel(0), rel(1))
          case "minhash" =>
            graft.operators.Dedup.minhashIndexMerge(rel(0), rel(1))
          case "prefix" =>
            graft.operators.Dedup.prefixIndexMerge(rel(0), rel(1))
          case "secrets" =>
            // t27's (tok, nd) candidate-frequency index — drop carries
            // doc_id + text; run is the candidate digit-run length
            graft.operators.Privacy.secretIndexMerge(rel(0), rel(1),
              minDigitRun = intOpt("run", 4))
          case "charspan" =>
            // d27's counted char-window index — drop carries doc_id +
            // text; n is the window length in CHARS
            val n2c = intOpt("n", 40)
            require(n2c >= 2, s"graft_index_merge: n must be >= 2, got $n2c")
            graft.operators.Dedup.spanIndexCharsMerge(rel(0), rel(1), n = n2c)
          case "components" =>
            // d26's near-dup graph store — drop carries doc_id + lang +
            // text; n/threshold are the shingle length and Jaccard bound
            // for verifying NEW cross pairs (old×old never re-verifies —
            // the stored edge set is already complete)
            val nc = intOpt("n", 1)
            val tc = doubleOpt("threshold", 0.95)
            require(tc > 0.0 && tc <= 1.0,
              s"graft_index_merge: threshold must be in (0,1], got $tc")
            graft.operators.Dedup.componentsIndexMerge(rel(0), rel(1),
              n = nc, threshold = tc)
          case "curriculum" =>
            // s16's ranking store — drop carries (doc_id, source); the
            // heap re-runs over index rows ∪ the drop's hashed rows
            // (top-k of top-k(S) ∪ D = top-k(S ∪ D) — exact), counts
            // fold per source; k is the per-source ranking depth
            graft.operators.Curriculum.curriculumIndexMerge(rel(0), rel(1),
              k = intOpt("k", 1000))
          case other => throw new IllegalArgumentException(
            s"graft_index_merge: kind must be one of span, postings, " +
              s"minhash, prefix, secrets, charspan, components, " +
              s"curriculum — got '$other' (IVF appends go through graft_ivf_append — the " +
              "member merge needs the centroid relation)")
        }
      case "curriculum_delete_buffered" =>
        // the exact-delete curriculum path (r18): index ∪ overflow
        // survivors re-rank and trim to k — EXACTLY the rebuild until a
        // saturated source loses more than the buffer's pad, raising
        // EAGERLY beyond (r19: the violation count is its own action at
        // rewrite time — an in-plan assert is prunable under pushed
        // predicates). `overflow` is the persisted (k, k+pad] buffer
        // (graft-side: curriculumOverflow); k MUST match the index's
        // build k (the snapshot contract).
        graft.operators.Curriculum.curriculumIndexDelete(rel(0), rel(1),
          overflow = Some(rel(2)), k = intOpt("k", 1000))
      case "takedown_audit" =>
        // the unified 8-store audit (x25): docs (doc_id, lang, text),
        // revoked (full doc rows — graft_retention_expiry's output
        // shape composes directly), the persisted IVF member table,
        // and its revoked vec_ids. n => span length (tokens; charspan
        // is fixed at its 40-char default), run => secret digit-run.
        graft.operators.Audit.takedownAudit(rel(0), rel(1), rel(2), rel(3),
          spanN = intOpt("n", 8), minDigitRun = intOpt("run", 4))
      case "knn_label" =>
        val k = intOpt("k", 5)
        graft.operators.Similarity.knnLabel(rel(0), rel(1), k = k)
      case "semantic_decon" =>
        val tau = doubleOpt("tau", 0.9)
        require(tau >= -1.0 && tau <= 1.0,
          s"graft_semantic_decon: tau is a cosine bound in [-1, 1], got $tau")
        graft.operators.Decontaminate.semanticFlags(rel(0), rel(1), tau = tau)
      case "asof" =>
        // key/ord/payload are COLUMN NAMES (strOpt above). `payload`
        // accepts a quoted comma list ('value,props').
        val key = strOpt("key")
        val ord = strOpt("ord")
        val payload = strOpt("payload").split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
        require(payload.nonEmpty, "graft_asof: payload names no columns")
        if (boolOpt("forward"))
          graft.operators.AsofJoin.forward(rel(0), rel(1), key, ord, payload)
        else
          graft.operators.AsofJoin.backward(rel(0), rel(1), key, ord, payload)
    }
  }

  /** Reference error semantics: `select 'abc' > 10` must fail to bind — the
    * reference's `can_implicit_cast` forbids Varchar↔numeric
    * (src/types_v2/types.rs:138-200; asserted by
    * tests/slt/comparison_function.slt:2-7). Spark instead implicit-casts
    * the string side and yields NULL, so after analysis we walk every
    * comparison and reject ones whose operands were a string and a number
    * BEFORE Catalyst's implicit casts. Explicit user-written CASTs are
    * tagged by the parser (Cast.USER_SPECIFIED_CAST) and stay allowed.
    */
  private def rejectVarcharNumericComparison(df: DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Cast, Expression, SubqueryExpression}
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    def origType(e: Expression): DataType = e match {
      case c: Cast if c.getTagValue(Cast.USER_SPECIFIED_CAST).isEmpty => origType(c.child)
      case other => other.dataType
    }
    def checkPlan(p: LogicalPlan): Unit = p.foreach { node =>
      node.expressions.foreach { root =>
        root.foreach {
          case cmp: BinaryComparison =>
            val (l, r) = (origType(cmp.left), origType(cmp.right))
            def isNum(t: DataType) = t.isInstanceOf[NumericType]
            if ((l == StringType && isNum(r)) || (isNum(l) && r == StringType))
              throw new IllegalArgumentException(
                s"cannot compare Varchar with ${if (isNum(l)) l.simpleString else r.simpleString}: " +
                  "no implicit Varchar↔numeric cast (reference types_v2/types.rs:138-200)")
          // subquery plans hang off expressions, not the outer plan tree —
          // descend so `where x in (select … where 'abc' > 10)` also rejects
          case sub: SubqueryExpression => checkPlan(sub.plan)
          case _ => ()
        }
      }
    }
    checkPlan(df.queryExecution.analyzed)
  }

  /** Reference error semantics: a subquery in FROM must carry an alias
    * (Postgres-compatible; asserted by tests/slt/subquery.slt:5). Spark's
    * parser names an unaliased FROM subquery
    * `SubqueryAlias.generateSubqueryName()`, so the rule is that no such
    * node wraps a SELECT block anywhere in the parsed statement — its
    * subquery expressions and CTE definitions included. A parenthesized
    * `(values …)`, `(with … select …)` or `(table t)` and a LATERAL
    * subquery need no alias. IN/EXISTS/scalar subqueries and expression
    * parens never carry the generated name.
    */
  private def requireFromSubqueryAlias(plan: LogicalPlan): Unit = {
    // the leftmost spine reaches a select list before a VALUES, WITH or TABLE
    def selectBlock(p: LogicalPlan): Boolean = p match {
      case _: Project | _: Aggregate => true
      case _: LocalRelation | _: UnresolvedInlineTable | _: UnresolvedWith |
          _: UnresolvedRelation => false
      case _ => p.children.headOption.exists(selectBlock)
    }
    plan.foreach { node =>
      node match {
        case a: SubqueryAlias
            if a.alias == SubqueryAlias.generateSubqueryName() && selectBlock(a.child) =>
          throw new IllegalArgumentException(
            "subquery in FROM must have an alias (reference v1 binder, tests/slt/subquery.slt:5)")
        case w: UnresolvedWith => w.cteRelations.foreach(r => requireFromSubqueryAlias(r._2))
        case _ => ()
      }
      node.expressions.foreach(_.foreach {
        case _: LateralSubquery => ()
        case s: SubqueryExpression => requireFromSubqueryAlias(s.plan)
        case _ => ()
      })
    }
  }

  /** `select v1+1 as a from t where a >= 2` — the reference binds select
    * aliases inside WHERE (bind_select_node.rs:98-131); Spark does not.
    * Substitute each select-list alias for its expression in the Filter
    * directly under the statement's outermost select list (a Project or
    * Aggregate) — the first branch of a set operation, below any ORDER
    * BY, LIMIT, DISTINCT, HAVING or WITH. Nothing under a FROM item is
    * visited: a subquery's own WHERE, another set-operation branch and the
    * analyzed table-function expansions keep their meaning, and a string
    * literal is no identifier.
    */
  private def aliasesIntoWhere(plan: LogicalPlan): LogicalPlan = {
    def substitute(selectList: Seq[NamedExpression], f: Filter): Filter = {
      val aliases = selectList.collect { case a: Alias => a.name.toLowerCase -> a.child }.toMap
      f.copy(condition = f.condition.transformUp {
        case u: UnresolvedAttribute if u.nameParts.size == 1 &&
            aliases.contains(u.nameParts.head.toLowerCase) =>
          aliases(u.nameParts.head.toLowerCase)
      })
    }
    plan match {
      case p @ Project(list, f: Filter) => p.copy(child = substitute(list, f))
      case a: Aggregate if a.child.isInstanceOf[Filter] =>
        a.copy(child = substitute(a.aggregateExpressions, a.child.asInstanceOf[Filter]))
      case w: UnresolvedWith => w.copy(child = aliasesIntoWhere(w.child))
      case _: Sort | _: GlobalLimit | _: LocalLimit | _: Offset | _: Distinct |
          _: UnresolvedHaving | _: UnresolvedHint | _: WithWindowDefinition |
          _: Union | _: SetOperation =>
        plan.withNewChildren(aliasesIntoWhere(plan.children.head) +: plan.children.tail)
      case other => other
    }
  }

  // ---- DDL/DML helpers ---------------------------------------------------

  /** Reference error semantics: CREATE TABLE over an existing name fails
    * (tests/slt/create_table.slt:8; the v2 binder checks the catalog in
    * bind_create.rs).
    */
  private def requireNotExists(name: String): Unit =
    if (tables.contains(name.toLowerCase))
      throw new IllegalArgumentException(s"table ${name.toLowerCase} already exists")

  /** sqlrs type name → Spark type, with the unsigned-widening policy of
    * SURVEY §1.2 (no unsigned types in Spark: widen to the next signed
    * type, UBIGINT → DECIMAL(20,0), matching Spark's own JDBC/parquet
    * unsigned handling). INTERVAL maps like the reference: plain `interval`
    * is day-time (types_v2/types.rs:229-230), `interval year to month` is
    * the year-month variant.
    */
  private[engine] def parseType(t: String): DataType = {
    val norm = t.trim.toLowerCase.replaceAll("\\s+", " ")
    norm match {
      case "boolean" | "bool" => BooleanType
      case "tinyint" => ByteType
      case "tinyint unsigned" => ShortType
      case "smallint" => ShortType
      case "smallint unsigned" => IntegerType
      case "int" | "integer" => IntegerType
      case "int unsigned" | "integer unsigned" => LongType
      case "bigint" => LongType
      case "bigint unsigned" => DecimalType(20, 0)
      case "float" | "real" => FloatType
      case "double" => DoubleType
      case "varchar" | "string" | "text" => StringType
      case "date" => DateType
      case "timestamp" => TimestampType
      case "interval" | "interval day to second" => DayTimeIntervalType()
      case "interval year to month" => YearMonthIntervalType()
      case v if v.startsWith("varchar") => StringType
      case v if v.startsWith("decimal") =>
        val nums = "\\d+".r.findAllIn(v).map(_.toInt).toSeq
        if (nums.size >= 2) DecimalType(nums(0), nums(1))
        else if (nums.size == 1) DecimalType(nums(0), 0)
        else DecimalType(10, 0)
      case other => throw new IllegalArgumentException(s"unsupported type: $other")
    }
  }

  /** Inclusive max of each unsigned sqlrs type; widening erases
    * unsignedness from the Spark type, so the origin is kept as column
    * metadata and enforced on INSERT (reference `can_implicit_cast`
    * rejects out-of-range values, types_v2/types.rs:138-200;
    * tests/slt/insert_table.slt:50).
    */
  private val UnsignedMax: Map[String, java.math.BigDecimal] = Map(
    "tinyint unsigned" -> new java.math.BigDecimal(255),
    "smallint unsigned" -> new java.math.BigDecimal(65535),
    "int unsigned" -> new java.math.BigDecimal(4294967295L),
    "integer unsigned" -> new java.math.BigDecimal(4294967295L),
    "bigint unsigned" -> new java.math.BigDecimal("18446744073709551615"))

  private[engine] val UnsignedMaxKey = "graft.unsignedMax"

  /** The column list of CREATE TABLE: definitions split on the commas
    * outside parentheses (so `decimal(10, 2)` stays whole), each a name
    * token and its type's tokens, read without comments.
    */
  private def parseSchema(colDefs: Tokens): StructType =
    StructType(colDefs.commaList.map { c =>
      require(c.size >= 2, s"column definition needs a name and a type: ${c.sql}")
      val tpe = c.drop(1).plain
      val meta = UnsignedMax.get(tpe.toLowerCase) match {
        case Some(mx) =>
          new MetadataBuilder().putString(UnsignedMaxKey, mx.toPlainString).build()
        case None => Metadata.empty
      }
      StructField(c.text(0).toLowerCase, parseType(tpe), nullable = true, meta)
    })

  /** INSERT semantics from the reference (bind_insert.rs): explicit column
    * list reorders, missing columns get NULL, values implicit-cast to the
    * table's types. The aligned rows are appended to the table's
    * [[Stored]] parts, so the source is evaluated exactly once: a VALUES
    * list is evaluated on the driver and joins the tail, running no job;
    * any other source (INSERT..SELECT, COPY) already pays for a job, so it
    * folds tail ∪ incoming into `appended` (see [[Appended]]).
    */
  private def insertInto(name: String, colList: Option[Seq[String]], values: DataFrame): Unit = {
    val st = tables(name.toLowerCase)
    val schema = st.base.schema
    val incoming = colList.fold(schema.fields.map(_.name).toSeq)(_.map(_.toLowerCase))
    require(incoming.size == values.columns.length,
      s"INSERT column count mismatch: ${incoming.size} vs ${values.columns.length}")
    // a source column by its exact name: an unaliased expression's name
    // such as `(v * 0.5)` holds a dot that col() would read as a qualifier
    val byName = incoming.zip(values.columns.map(c => col("`" + c.replace("`", "``") + "`"))).toMap
    // unsigned-origin range enforcement (tests/slt/insert_table.slt:50):
    // validated on the INCOMING values, before the widening cast can wrap.
    // The source is materialized ONCE (driver-side for a VALUES list, an
    // executor-side localCheckpoint otherwise) so validation and insertion
    // see the same rows even for a non-deterministic INSERT..SELECT —
    // otherwise a rand()-style source could pass the check and then
    // re-evaluate out of range on insert.
    val rangeViolations = schema.fields.flatMap { f =>
      if (f.metadata.contains(UnsignedMaxKey)) {
        byName.get(f.name).map { src =>
          val v = src.cast(DecimalType(38, 0))
          src.isNotNull &&
            (v < lit(java.math.BigDecimal.ZERO) ||
              v > lit(new java.math.BigDecimal(f.metadata.getString(UnsignedMaxKey))))
        }
      } else None
    }
    val source =
      if (rangeViolations.isEmpty) values
      else {
        val once = localRows(values.queryExecution.analyzed)
          .fold(values.localCheckpoint(true))(GraftSqlBridge.ofRows(spark, _))
        if (!once.filter(rangeViolations.reduce(_ || _)).isEmpty)
          throw new IllegalArgumentException(
            s"INSERT value out of range for unsigned column in $name " +
              "(reference can_implicit_cast, types_v2/types.rs:138-200)")
        once
      }
    val aligned = source.select(
      schema.fields.map { f =>
        byName.get(f.name) match {
          case Some(src) => src.cast(f.dataType).as(f.name)
          case None => lit(null).cast(f.dataType).as(f.name)
        }
      }.toIndexedSeq: _*)
    store(name, localRows(aligned.queryExecution.analyzed) match {
      case Some(local) if st.tail.fold(0)(_.data.size) + local.data.size <= GraftEngine.TailRows =>
        st.copy(tail = Some(st.tail match {
          case Some(t) => t.copy(data = t.data ++ local.data)
          case None => LocalRelation(local.output.map(_.withNullability(true)), local.data.toVector)
        }))
      case local =>
        // a VALUES list that would overflow the tail seals it: it folds too
        val folds = st.appended.fold(0)(_.folds)
        val blocks = st.appended.fold(Vector.empty[Block])(_.blocks)
        // the increment's carry: one trailing block per trailing 1 bit
        val (kept, merged) = blocks.splitAt(blocks.size - Integer.numberOfTrailingZeros(~folds))
        val incoming = unionAll(st.tail.toSeq :+ local.getOrElse(aligned.queryExecution.analyzed))
        val block = checkpoint(merged, incoming)
        st.copy(appended = Some(new Appended(kept :+ block, folds + 1, schema)), tail = None)
    })
  }

  /** `merged`'s rows and `incoming`'s as one new [[Block]], written by one
    * job. `incoming`'s rows arrive as Catalyst rows and are stored as they
    * are; the merged blocks' rows are read from their checkpoints.
    */
  private def checkpoint(merged: Vector[Block], incoming: DataFrame): Block = {
    val sc = spark.sparkContext
    val rdd = sc.union(merged.map(_.rdd) :+ incoming.queryExecution.toRdd.map(_.copy()))
      .coalesce(sc.defaultParallelism, shuffle = false,
        Some(new GraftEngine.Packing(merged.flatMap(_.rows))))
      .localCheckpoint()
    Block(rdd, sc.runJob(rdd, (it: Iterator[InternalRow]) => it.size.toLong).toIndexedSeq)
  }

  /** UNION ALL by position, in one analysis pass (a Union node needs two
    * children or more).
    */
  private def unionAll(parts: Seq[LogicalPlan]): DataFrame =
    GraftSqlBridge.ofRows(spark, if (parts.size == 1) parts.head else Union(parts))

  /** `plan`'s rows, evaluated on the driver, when it is projections over a
    * LocalRelation: a VALUES list and its insert casts. This is what the
    * optimizer's first batch and its ConvertToLocalRelation rule would make
    * of the plan, without the rest of an optimizer pass. The first batch
    * replaces what only the optimizer may rewrite before evaluation, such
    * as RuntimeReplaceable functions (nvl, to_date) and current_date. A
    * cast that fails raises here, and the table is left unchanged.
    */
  private def localRows(plan: LogicalPlan): Option[LocalRelation] = {
    def eval(p: LogicalPlan): Option[LocalRelation] = p match {
      case r: LocalRelation => Some(r)
      case Project(list, child) if !list.exists(ConvertToLocalRelation.hasUnevaluableExpr) =>
        eval(child).map { r =>
          val project = new InterpretedMutableProjection(list, r.output)
          project.initialize(0)
          LocalRelation(list.map(_.toAttribute), r.data.map(project(_).copy()))
        }
      case _ => None
    }
    eval(GraftSqlBridge.finishAnalysis(spark, plan))
  }

  // ---- meta / introspection ------------------------------------------------

  /** SHOW TABLES renders like the v2 pragma (tests/slt/pragma.slt:6-11):
    * (schema_name, table_name) rows, schema fixed to `main`.
    */
  def showTables(): DataFrame = {
    import spark.implicits._
    tables.keys.toSeq.sorted.map(("main", _)).toDF("schema_name", "table_name")
  }

  /** sqlrs_tables() parity (sqlrs_tables.rs:1-117): (schema_name,
    * schema_oid, table_name); the single `main` schema has oid 1.
    */
  def sqlrsTables(): DataFrame = {
    import spark.implicits._
    tables.keys.toSeq.sorted.map(("main", 1L, _))
      .toDF("schema_name", "schema_oid", "table_name")
  }

  /** Spark type → sqlrs LogicalType display name (types_v2/types.rs:9-26).
    * Unsigned variants are unrepresentable after widening (SURVEY §1.2), so
    * they render as their widened signed type.
    */
  private def logicalTypeName(t: DataType): String = t match {
    case BooleanType => "Boolean"
    case ByteType => "Tinyint"
    case ShortType => "Smallint"
    case IntegerType => "Integer"
    case LongType => "Bigint"
    case FloatType => "Float"
    case DoubleType => "Double"
    case StringType => "Varchar"
    case DateType => "Date"
    case d: DecimalType if d.scale == 0 => "UBigint"
    case other => other.simpleString.capitalize
  }

  /** sqlrs_columns() parity (sqlrs_columns.rs:25-39): one row per table —
    * (table_name, column_names, column_types) with list-rendered strings,
    * e.g. `t1 [v1, v2, v3] [Integer, Integer, Integer]`.
    */
  def sqlrsColumns(): DataFrame = columnRows(tables.keys.toSeq.sorted)

  /** DESCRIBE t is t's sqlrs_columns() row (bind_explain_table.rs; golden
    * output tests/slt/pragma.slt:14-17).
    */
  def describe(name: String): DataFrame = columnRows(Seq(name.toLowerCase))

  private def columnRows(names: Seq[String]): DataFrame = {
    import spark.implicits._
    names.map { t =>
      val fields = table(t).schema.fields
      (t, fields.map(_.name).mkString("[", ", ", "]"),
        fields.map(f => logicalTypeName(f.dataType)).mkString("[", ", ", "]"))
    }.toDF("table_name", "column_names", "column_types")
  }

  /** Per-column catalog dump (richer than the reference surface; kept for
    * programmatic use — the v1 CLI's `\dt` moral equivalent).
    */
  def columnsCatalog(): DataFrame = {
    import spark.implicits._
    tables.toSeq.sortBy(_._1).flatMap { case (t, st) =>
      st.view.schema.fields.zipWithIndex.map { case (f, i) =>
        ("main", t, f.name, i, f.dataType.simpleString, f.nullable)
      }
    }.toDF("schema_name", "table_name", "column_name", "column_index",
      "data_type", "nullable")
  }

  /** EXPLAIN parity: the reference returns a two-column relation
    * (explain_type, explain_value) with one multi-line tree per row —
    * logical, optimized logical, physical (bind_explain.rs:23-29;
    * physical_explain.rs:24-34; renderer tree_render.rs:1-193, 2-space
    * indent per level). The trees here are Catalyst's analyzed /
    * optimized / executed plans rendered in the reference's node
    * vocabulary (LogicalProjection, LogicalGet: main.t, PhysicalFilter…),
    * plus a fourth row with Spark's own formatted plan — the detail a
    * Spark operator actually tunes against. Expression text is Catalyst's
    * (the reference prints binder column indices that have no Spark
    * analogue); node names and tree shape are the parity surface.
    */
  def explainDf(sql: String): DataFrame = explainOf(GraftEngine.tokens(sql))

  private def explainOf(s: Tokens): DataFrame = {
    import spark.implicits._
    val qe = runSelect(s).queryExecution
    Seq(
      ("logical_plan", renderLogicalTree(qe.analyzed)),
      ("logical_plan_opt", renderLogicalTree(qe.optimizedPlan)),
      ("physical_plan", renderPhysicalTree(qe.executedPlan)),
      ("physical_plan_spark", qe.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")).trim))
      .toDF("explain_type", "explain_value")
  }

  def explain(sql: String): String =
    explainDf(sql).collect()
      .map(r => s"${r.getString(0)}:\n${r.getString(1)}").mkString("\n")

  private def renderLogicalTree(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): String = {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.plans.logical._
    val sb = new StringBuilder
    def exprStr(es: Seq[Expression]): String =
      es.map(e => try e.sql catch { case _: Throwable => e.simpleString(100) })
        .mkString(", ")
    def walk(p: LogicalPlan, level: Int): Unit = {
      val pad = "  " * level
      p match {
        // a reference to a cataloged table — the reference's scan node
        // (schema fixed to `main` like the v2 catalog)
        case s: SubqueryAlias if tables.contains(s.alias.toLowerCase) =>
          sb.append(pad).append(s"LogicalGet: main.${s.alias.toLowerCase}\n")
        case s: SubqueryAlias => // derived-table alias: transparent
          walk(s.child, level)
        case v: View => walk(v.child, level)
        case GlobalLimit(l, LocalLimit(_, child)) =>
          sb.append(pad).append(s"LogicalLimit: limit[${l.sql}], offset[None]\n")
          walk(child, level + 1)
        case pr: Project =>
          sb.append(pad).append(s"LogicalProjection: ${exprStr(pr.projectList)}\n")
          walk(pr.child, level + 1)
        case f: Filter =>
          sb.append(pad).append(s"LogicalFilter: ${exprStr(Seq(f.condition))}\n")
          walk(f.child, level + 1)
        case _: OneRowRelation =>
          sb.append(pad).append("LogicalDummyScan\n")
        case l: LocalRelation =>
          // materialized rows (VALUES / in-memory table after optimization)
          sb.append(pad).append(
            if (l.data.isEmpty) "LogicalDummyScan\n" else "LogicalExpressionGet\n")
        case other if other.nodeName == "LogicalRelation" ||
            other.nodeName == "LogicalRDD" =>
          sb.append(pad).append("LogicalGet: read_csv\n")
        case other =>
          // outside the reference's vocabulary (joins, aggregates, sorts…):
          // reference naming convention over Catalyst's node name
          sb.append(pad).append(s"Logical${other.nodeName}\n")
          other.children.foreach(walk(_, level + 1))
      }
    }
    walk(plan, 0)
    sb.toString.stripTrailing()
  }

  private def renderPhysicalTree(
      plan: org.apache.spark.sql.execution.SparkPlan): String = {
    import org.apache.spark.sql.execution._
    val sb = new StringBuilder
    def walk(p: SparkPlan, level: Int): Unit = {
      val pad = "  " * level
      p match {
        // execution wrappers with no reference analogue are transparent
        case a: adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan, level)
        case w: WholeStageCodegenExec => walk(w.child, level)
        case i: InputAdapter => walk(i.child, level)
        case other =>
          val name = other match {
            case _: ProjectExec => "PhysicalProjection"
            case _: FilterExec => "PhysicalFilter"
            case _: FileSourceScanExec => "PhysicalTableScan"
            case _: LocalTableScanExec => "PhysicalColumnDataScan"
            case _: GlobalLimitExec | _: LocalLimitExec | _: CollectLimitExec =>
              "PhysicalLimit"
            case _ => s"Physical${other.nodeName}"
          }
          sb.append(pad).append(name).append('\n')
          other.children.foreach(walk(_, level + 1))
      }
    }
    walk(plan, 0)
    sb.toString.stripTrailing()
  }

  private def emptyOk: DataFrame = {
    import spark.implicits._
    Seq.empty[String].toDF("ok")
  }
}

object GraftEngine {

  /** A statement, or part of one, as the visible tokens of Spark's SQL
    * lexer: whitespace and comments are hidden, and a literal, quoted
    * identifier or comment is one token, so nothing inside one reads as a
    * keyword, paren, comma or `;`.
    */
  private[engine] final case class Tokens(toks: IndexedSeq[Token]) {
    def size: Int = toks.size
    def kind(i: Int): Int = if (i < size) toks(i).getType else Token.EOF
    def text(i: Int): String = toks(i).getText
    /** Token i's text in upper case ("" past the end); a literal keeps its quotes. */
    def word(i: Int): String = if (i < size) text(i).toUpperCase(java.util.Locale.ROOT) else ""
    /** Token i is a plain name: letters, digits and underscores. */
    def isName(i: Int): Boolean = i < size && text(i).forall(c => c.isLetterOrDigit || c == '_')
    /** Token i's value when it is a string literal, unescaped as Spark's parser does. */
    def string(i: Int): Option[String] =
      if (kind(i) == STRING_LITERAL) Some(SparkParserUtils.string(toks(i))) else None
    def slice(from: Int, until: Int): Tokens = Tokens(toks.slice(from, until))
    def drop(n: Int): Tokens = slice(n, size)

    /** Paren depth before each token. */
    private lazy val depth: Array[Int] = toks.iterator.map(_.getType).scanLeft(0) {
      case (d, LEFT_PAREN) => d + 1
      case (d, RIGHT_PAREN) => d - 1
      case (d, _) => d
    }.toArray

    /** Index of the `)` closing the `(` at i, or `size` when none does. */
    def close(i: Int): Int =
      (i + 1 until size).find(j => kind(j) == RIGHT_PAREN && depth(j) == depth(i) + 1).getOrElse(size)

    /** Index of the first token of kind `k` outside parentheses, or `size`. */
    def find(k: Int): Int = (0 until size).find(i => kind(i) == k && depth(i) == 0).getOrElse(size)

    /** The non-empty runs between the tokens at which `cut` holds. */
    def split(cut: Int => Boolean): Seq[Tokens] = {
      val cuts = (0 until size).filter(cut)
      ((-1 +: cuts) zip (cuts :+ size)).collect { case (a, b) if b > a + 1 => slice(a + 1, b) }
    }

    /** The items of a comma-separated list (commas outside parentheses). */
    def commaList: Seq[Tokens] = split(i => kind(i) == COMMA && depth(i) == 0)

    /** The source text from the first token through the last. */
    def sql: String = splice(Nil)

    /** [[sql]] with disjoint, ordered token spans [from, until) replaced. */
    def splice(edits: Seq[(Int, Int, String)]): String =
      if (toks.isEmpty) ""
      else {
        // positions count code points, so text is read through the stream
        def source(from: Int, until: Int): String =
          if (until <= from) "" else toks.head.getInputStream.getText(Interval.of(from, until - 1))
        val out = new StringBuilder
        var at = toks.head.getStartIndex
        edits.foreach { case (from, until, text) =>
          out ++= source(at, toks(from).getStartIndex) ++= text
          at = toks(until - 1).getStopIndex + 1
        }
        (out ++= source(at, toks.last.getStopIndex + 1)).toString
      }

    /** The tokens' text with one space wherever the source had whitespace
      * or a comment between two of them.
      */
    def plain: String = toks.indices.map { i =>
      if (i > 0 && toks(i).getStartIndex > toks(i - 1).getStopIndex + 1) " " + text(i) else text(i)
    }.mkString
  }

  /** `sql` lexed once, without the lexer's error listeners: Spark's parser
    * reports a syntax error.
    */
  private[engine] def tokens(sql: String): Tokens = {
    val lexer = GraftSqlLexer(sql)
    lexer.removeErrorListeners()
    Tokens(lexer.getAllTokens.asScala.iterator.filter(_.getChannel == Token.DEFAULT_CHANNEL).toIndexedSeq)
  }

  /** The statements of `sql`: the runs between its `;` tokens, so comments
    * around a statement drop and comments alone are no statement.
    */
  private[engine] def statements(sql: String): Seq[Tokens] = {
    val all = tokens(sql)
    all.split(all.kind(_) == SEMICOLON)
  }

  /** A name from a file path: characters other than ASCII letters, digits
    * and `_` become `_`.
    */
  private[engine] def wordChars(s: String): String =
    s.map(c => if (c < 128 && (c.isLetterOrDigit || c == '_')) c else '_')

  /** Packs a union's partitions into at most n groups, with no shuffle.
    * The first `rows.size` partitions, whose row counts are known, go
    * largest first to the lightest group. The rest, whose sizes only the
    * job will tell, are dealt round-robin from the lightest group on. Each
    * group reads its partitions in index order. Spark's default coalescer
    * pairs partitions at random: after 30 folds one of four partitions
    * held 24,138 of 25,035 rows.
    */
  private class Packing(rows: IndexedSeq[Long]) extends PartitionCoalescer with Serializable {
    override def coalesce(n: Int, parent: RDD[_]): Array[PartitionGroup] = {
      val groups = Array.fill(n)(new PartitionGroup())
      val load = new Array[Long](n)
      val (known, unknown) = parent.partitions.toSeq.splitAt(rows.size)
      known.sortBy(p => -rows(p.index)).foreach { p =>
        val g = load.indices.minBy(load(_))
        load(g) += rows(p.index)
        groups(g).partitions += p
      }
      val lightest = load.indices.sortBy(load(_))
      unknown.zipWithIndex.foreach { case (p, i) => groups(lightest(i % n)).partitions += p }
      groups.filter(_.numPartitions > 0).map { g => g.partitions.sortInPlaceBy(_.index); g }
    }
  }

  /** VALUES rows a table's tail holds before an insert folds it into
    * `appended`. Every VALUES insert copies the tail and every read scans
    * it. On local[4] (a 4-CPU VM) a 50-row insert's p50 stayed at 35-55 ms
    * up to a 33k-row tail, then rose to 76-84 ms at 65k and 133 ms at
    * 129k; this bound stays well inside the flat part.
    */
  private[graft] val TailRows = 8192
}
