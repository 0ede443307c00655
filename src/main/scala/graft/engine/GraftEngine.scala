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

import graft.operators.{AsofJoin, Audit, Curriculum, Decontaminate, Dedup, Graph, Privacy, Similarity, Tokenizer}
import graft.plans.OneTask

import GraftEngine.{Bound, Opt, Tokens}

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
  *  - table functions (below) and bare `FROM 'file.csv'` auto-binding
  *    (bind_base_table_ref.rs:98-118)
  *  - SHOW TABLES / DESCRIBE / EXPLAIN pragmas
  *  - select-list aliases usable in WHERE (bind_select_node.rs:98-131) via
  *    an analysis-failure-driven repair of the parsed tree
  *
  * Table functions bind from one catalog, as the reference's v2 binder
  * binds read_csv from its table-function catalog (read_csv.rs:17-42):
  * [[tableFunctions]] declares each function once — the read_* sources,
  * the sqlrs_tables()/sqlrs_columns() introspection pair (sqlrs_tables.rs,
  * sqlrs_columns.rs) and the graft_* operators — with its relation
  * arguments, its typed options (default and range) and its body, and one
  * validator ([[tableFunction]]) checks every call against it. A SELECT is
  * parsed once by Spark's parser, each table-function call in the tree is
  * replaced by the analyzed plan of the DataFrame its body builds, and the
  * expanded tree goes through Catalyst — the engine adds statement routing,
  * never its own execution path, so plans stay fully optimizable and
  * distributed. One rewrite sits between analysis and optimization: a
  * statement whose every input Spark reads as one partition, and which
  * would plan an exchange, is planned as one task ([[graft.plans.OneTask]]),
  * as the reference runs every query as one in-process pipeline.
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
    * no table-function body runs twice. The analyzed plan then goes through
    * [[graft.plans.OneTask]], which plans a statement over one-partition
    * inputs as one task (no exchange, no broadcast), and the DataFrame is
    * built once over the result, without analyzing it again. With
    * `relation`, `s` is a relation read whole, as `select * from <s>` (COPY
    * TO's source).
    */
  private def runSelect(s: Tokens, relation: Boolean = false): DataFrame = {
    val sql = selectText(s, relation)
    val tracker = new QueryPlanningTracker
    val parsed = tracker.measurePhase(QueryPlanningTracker.PARSING) {
      spark.sessionState.sqlParser.parsePlan(sql)
    }
    requireFromSubqueryAlias(parsed)
    val expanded = expandTableFunctions(parsed)
    val analyzed =
      try GraftSqlBridge.analyze(spark, expanded, tracker)
      catch {
        case e: AnalysisException if e.getMessage.contains("UNRESOLVED_COLUMN") =>
          val repaired = aliasesIntoWhere(expanded)
          if (repaired fastEquals expanded) throw e
          GraftSqlBridge.analyze(spark, repaired, tracker)
      }
    rejectVarcharNumericComparison(analyzed)
    GraftSqlBridge.ofAnalyzed(spark, OneTask(spark, analyzed), tracker)
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

  /** One variant of a table function: a plain function has one, unnamed; a
    * lifecycle function has one per store kind, chosen by its `kind`
    * option, each with its own options and body.
    */
  private case class Kind(name: String, options: Seq[Opt], body: Call => DataFrame)

  /** One table function: its name, its positional arguments (relations, or
    * a source reader's quoted file path) and its kinds. It accepts its
    * kinds' option keys, and `kind` when its kinds are named; the first
    * kind is the default.
    */
  private case class TableFunction(name: String, relations: Seq[String], kinds: Seq[Kind],
      readsPath: Boolean = false) {
    val accepted: Seq[String] =
      (kinds.flatMap(_.options.map(_.key)) ++ Option.when(kinds.head.name.nonEmpty)("kind")).distinct.sorted
  }

  private def fn(name: String, relations: Seq[String], options: Opt*)(body: Call => DataFrame) =
    TableFunction(name, relations, Seq(Kind("", options, body)))
  private def reader(name: String, options: Opt*)(body: Call => DataFrame) =
    TableFunction(name, Seq("path"), Seq(Kind("", options, body)), readsPath = true)
  private def kind(name: String, options: Opt*)(body: Call => DataFrame) = Kind(name, options, body)

  // option declarations; an integer is at least 1 unless its range says otherwise
  private def int(key: String, default: Int, range: String = ">= 1") =
    Opt(key, "an integer", _.toIntOption, Some(default), Some(Bound(range)))
  private def number(key: String, default: Double, range: String = "") =
    Opt(key, "a number", _.toDoubleOption, Some(default), Option.when(range.nonEmpty)(Bound(range)))
  private def bool(key: String, default: Boolean = false) =
    Opt(key, "true or false", _.toBooleanOption, Some(default))
  private def text(key: String, default: String) = Opt(key, "text", Some(_), Some(default))
  /** A required column name, used through the DataFrame API (`col`), never
    * parsed as SQL text; a bare name and a quoted one are the same option.
    */
  private def columnName(key: String) = Opt(key, "a column name", s => Option.when(s.nonEmpty)(s))

  /** Every table function, declared once: name → declaration, built once
    * per engine. Relation arguments are a quoted parquet path, a table name
    * from this engine's catalog or a nested call ([[relationArg]]); options
    * are `name => value`. Each body runs after [[tableFunction]] validated
    * the call, so it checks only what spans two options. The dedup and BPE
    * bodies persist tracked scratch frames that their plans reuse; a
    * long-lived session releases them with the `graft_release` statement.
    */
  private val tableFunctions: Map[String, TableFunction] = Seq(
    // the reference's CSV reader (read_csv.rs:17-42); see [[readCsv]]
    reader("read_csv", bool("header", default = true), text("delim", ","))(c =>
      readCsv(c.path, c.bool("header"), c.string("delim"))),
    reader("read_parquet")(c => readParquet(c.path)),
    reader("read_json")(c => readJson(c.path)),
    // catalog introspection (sqlrs_tables.rs, sqlrs_columns.rs)
    fn("sqlrs_tables", Nil)(_ => sqlrsTables()),
    fn("sqlrs_columns", Nil)(_ => sqlrsColumns()),
    // exact cosine top-k over (vec_id, embedding) relations → (query_id,
    // neighbor_id, sim, rank), served by the bounded-heap TopKPerKey operator
    fn("graft_topk", Seq("corpus", "queries"), int("k", 10))(c =>
      Similarity.bruteForceTopK(c.rel(0), c.rel(1), k = c.int("k"))),
    // kNN majority-vote labels: corpus carries (vec_id, embedding, label) →
    // (query_id, pred_label, votes)
    fn("graft_knn_label", Seq("corpus", "queries"), int("k", 5))(c =>
      Similarity.knnLabel(c.rel(0), c.rel(1), k = c.int("k"))),
    // radius retrieval: every corpus vector within cosine ≥ tau of each
    // query → (query_id, neighbor_id, sim); no heap, the output is
    // radius-bounded. Self-pairs (equal vec_id) are excluded, the graft_topk
    // convention: re-key one side when the query ids overlap the corpus's
    fn("graft_radius", Seq("corpus", "queries"), number("tau", 0.3, "[-1, 1]"))(c =>
      Similarity.radiusSearch(c.rel(0), c.rel(1), tau = c.number("tau"))),
    // incremental IVF maintenance (a9): assign-only append of a (vec_id,
    // embedding) drop against a persisted (centroid_id, centroid) index →
    // per cell (cell, n_new, cos), cos the drift cosine between the stored
    // centroid and the drop members' mean (null when the drop left the cell
    // empty). Map-only; no job touches the base corpus
    fn("graft_ivf_append", Seq("index", "drop"))(c => Similarity.ivfDrift(c.rel(0), c.rel(1))),
    // MinHash-LSH near-duplicate pairs over (doc_id, text), exact-Jaccard
    // verified → (i, j)
    fn("graft_dedup_pairs", Seq("docs"), number("threshold", 0.8, "(0,1]"))(c =>
      Dedup.minhashLshPairs(c.rel(0), threshold = c.number("threshold"))),
    // eval-set n-gram contamination flags over (doc_id, text) → (doc_id, n_shared)
    fn("graft_decontaminate", Seq("corpus", "eval"), int("n", 8))(c =>
      Decontaminate.ngramOverlap(c.rel(0), c.rel(1), n = c.int("n"))),
    // embedding near-copies of eval items → (vec_id, n_eval_hits, max_sim)
    fn("graft_semantic_decon", Seq("corpus", "eval"), number("tau", 0.9, "[-1, 1]"))(c =>
      Decontaminate.semanticFlags(c.rel(0), c.rel(1), tau = c.number("tau"))),
    // as-of join on key, latest right row at or before each left row's ord
    // (forward => true: earliest at or after), attaching the payload
    // columns, a quoted comma list ('value,props') for several
    fn("graft_asof", Seq("left", "right"), columnName("key"), columnName("ord"),
        columnName("payload"), bool("forward")) { c =>
      val payload = c.string("payload").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(payload.nonEmpty, s"${c.fn}: payload names no columns")
      if (c.bool("forward")) AsofJoin.forward(c.rel(0), c.rel(1), c.string("key"), c.string("ord"), payload)
      else AsofJoin.backward(c.rel(0), c.rel(1), c.string("key"), c.string("ord"), payload)
    },
    // PageRank over a (doc_a, doc_b) pair relation → (doc_id, r). Served
    // lazily unrolled, so expanding the call (and EXPLAIN) runs no job; the
    // plan grows per round (doubling with dangling), so iters is capped.
    // Deep fixpoints belong on Graph.pageRankConverged, which the g9 gate
    // pins bit-equal to this form
    fn("graft_pagerank", Seq("pairs"), int("iters", 3), number("damping", 0.85), bool("dangling")) { c =>
      val cap = if (c.bool("dangling")) 8 else 20
      require(c.int("iters") <= cap,
        s"${c.fn}: iters > $cap unrolls too deep a plan — use Graph.pageRankConverged for deep fixpoints")
      onGraph(c.rel(0))(Graph.pageRank(_, _, iters = c.int("iters"), damping = c.number("damping"),
        dangling = c.bool("dangling")))
    },
    // integer-exact unnormalized HITS over a directed pair relation →
    // (doc_id, auth, hub); Graph.hits caps iters at 4 (the int64 bound)
    fn("graft_hits", Seq("pairs"), int("iters", 2))(c =>
      onGraph(c.rel(0))(Graph.hits(_, _, iters = c.int("iters")))),
    // one Louvain-style greedy merge round → (doc_id, comm, gain_num)
    fn("graft_louvain", Seq("pairs"))(c => onGraph(c.rel(0))(Graph.louvainMove)),
    // full multi-level Louvain: per-level mutual best-pair coarsening with
    // the exact integer ΔQ score, `moves` greedy move rounds per level →
    // (lvl, n_comms, l_in, q_ppm), one row per level from the all-singletons
    // level 0. Graph.louvainLevels caps levels and moves at 4 each; its
    // checkpoint rounds run when the plan executes (the g9 posture)
    fn("graft_louvain_levels", Seq("pairs"), int("levels", 2), int("moves", 1))(c =>
      onGraph(c.rel(0))(Graph.louvainLevels(_, _, levels = c.int("levels"), movesPerLevel = c.int("moves")))),
    // HyperBall harmonic centrality and ball size within `dist` hops (g15's
    // serving face), HLL-estimated with m registers; runs its per-round
    // persisted jobs when executed
    fn("graft_hyperball", Seq("pairs"), int("dist", 4, "[1, 8]"), int("m", 256, "[16, 65536]"))(c =>
      onGraph(c.rel(0))(Graph.harmonicCentralityHll(_, _, maxDist = c.int("dist"), m = c.int("m")))),
    // the exact integer-ppm ground truth graft_hyperball approximates (g15p),
    // an O(V·reach) distance table
    fn("graft_harmonic", Seq("pairs"), int("dist", 4, "[1, 8]"))(c =>
      onGraph(c.rel(0))(Graph.harmonicCentralityExact(_, _, maxDist = c.int("dist")))),
    // distributed BPE merge learning over (doc_id, text) → (round, a, b,
    // cnt, n_syms)
    fn("graft_bpe_merges", Seq("docs"), int("rounds", 2))(c =>
      Tokenizer.distributedMergeRounds(c.rel(0), rounds = c.int("rounds"))),
    // byte-level BPE merge learning (u11: GPT-2 byte→printable remap,
    // per-round pair-count aggregate, one-row argmax, fold) → (round, a, b,
    // cnt, n_syms); a trainer, its per-round persisted jobs run when executed
    fn("graft_byte_bpe_merges", Seq("docs"), int("rounds", 2))(c =>
      Tokenizer.distributedByteMergeRounds(c.rel(0), rounds = c.int("rounds"))),
    // byte-level BPE application (u10): rank-greedy segmentation of every
    // doc under the fixed (round, a, b) merge relation, round the BPE rank →
    // (doc_id, n_words, n_bytes, n_subwords, spw_ppm, bps_ppm), docs with no
    // words omitted. Composes: graft_byte_encode(docs,
    // graft_byte_bpe_merges(docs, rounds => 3))
    fn("graft_byte_encode", Seq("docs", "merges"))(c => byteEncode(c.fn, c.rel(0), c.rel(1))),
    // SentencePiece-style unigram-LM training (Kudo ACL'18, u6):
    // substring-seeded vocabulary, relational Viterbi E-step, usage-pruned
    // M-step → (piece, n_uses), single chars always kept; a trainer
    fn("graft_unigram_lm", Seq("docs"), int("vocab", 2048))(c =>
      Tokenizer.unigramLm(c.rel(0), vocabTarget = c.int("vocab"))),
    // unigram-LM application (u7): Viterbi segmentation under the fixed
    // (piece, cost) relation, single characters at char_cost → (doc_id,
    // n_words, n_pieces, ppw_ppm), docs with no words omitted; map-only
    fn("graft_unigram_encode", Seq("docs", "pieces"), int("char_cost", 6145)) { c =>
      val docs = c.rel(0)
      val pieces = pieceTable(c.fn, c.rel(1))
      docs.select(col("doc_id"),
          size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n_words"),
          size(Tokenizer.unigramSegment(col("text"), pieces, c.int("char_cost").toLong))
            .cast("long").as("n_pieces"))
        .filter(col("n_words") > 0)
        .withColumn("ppw_ppm", expr("(1000000 * n_pieces) div n_words"))
    },
    // one unigram-LM EM round (u13) under the fixed (piece, cost) relation →
    // (piece, n_uses, cost), itself a pieces relation, so the call
    // self-composes and feeds graft_unigram_encode
    fn("graft_unigram_em", Seq("docs", "pieces"), int("char_cost", 6145)) { c =>
      val docs = c.rel(0)
      Tokenizer.unigramEmStep(docs, pieceTable(c.fn, c.rel(1)), c.int("char_cost").toLong)
    },
    // snapshot-probe dedup over (doc_id, text, lang): per probe doc, the base
    // docs it near-duplicates at word Jaccard ≥ num/den → (doc_id, n_dups,
    // first_dup, is_new); the base never self-joins, and the rational
    // threshold keeps the PPJoin prefix bound integer-exact
    fn("graft_incremental_dedup", Seq("base", "probe"), int("num", 4), int("den", 5)) { c =>
      val (num, den) = fraction(c)
      Dedup.incrementalDedup(c.rel(0), c.rel(1), num = num, den = den)
    },
    // the same contract in the shingle domain over (doc_id, text): the probe
    // joins a MinHash band index of the base (persist it through
    // Dedup.minhashIndex for repeated serving), and the exact verify decides
    fn("graft_incremental_minhash", Seq("base", "probe"), int("num", 4), int("den", 5)) { c =>
      val (num, den) = fraction(c)
      Dedup.incrementalMinhash(Dedup.minhashIndex(c.rel(0)), c.rel(1), num = num, den = den)
    },
    // the d8 near-dup closure over (doc_id, lang, text): exact-duplicate
    // clique collapse, n-gram-Jaccard pairs within a language, min-label
    // components → (doc_id, rep), the map the governance functions consume
    fn("graft_components", Seq("docs"), int("n", 1), number("threshold", 0.95, "(0,1]"))(c =>
      Dedup.nearDupComponents(c.rel(0), n = c.int("n"), threshold = c.number("threshold"))),
    // the d26 near-dup graph store: member rows (doc_id, rep0, rep, lang,
    // fp, tsz, toks) and edge rows (doc_id, dst); `… WHERE dst IS NULL` is
    // the (doc_id, rep) map. graft_index_delete/merge take it as kind
    // 'components'
    fn("graft_components_index", Seq("docs"), int("n", 1), number("threshold", 0.95, "(0,1]"))(c =>
      Dedup.componentsIndex(c.rel(0), n = c.int("n"), threshold = c.number("threshold"))),
    // takedown on the (doc_id, rep) map: untouched components pass through,
    // affected ones re-close over their survivors' text, splits included,
    // bit-identical to rebuilding the closure
    fn("graft_components_delete", Seq("components", "docs", "revoked"), int("n", 1),
        number("threshold", 0.95, "(0,1]"))(c =>
      Dedup.componentsDelete(c.rel(0), c.rel(1), c.rel(2), n = c.int("n"), threshold = c.number("threshold"))),
    // most-restrictive class governs a component; rank names an integer
    // class column of docs → (doc_id, rep, own_rank, comp_rank, n_members,
    // upgraded)
    fn("graft_license_propagation", Seq("comp", "docs"), columnName("rank"))(c =>
      Dedup.licensePropagation(c.rel(0), c.rel(1), col(c.string("rank")))),
    // near-dup components straddling train/val/test: every member of a
    // multi-split component is flagged
    fn("graft_split_leakage", Seq("comp", "split"))(c => Dedup.crossSplitLeakage(c.rel(0), c.rel(1))),
    // duplicated-span surgery: cross-document n-token spans excise from
    // every document (keep_one => true keeps the (doc_id, pos)-least copy,
    // the ACL'22 all-but-one rule); documents are kept → (doc_id, n_tokens,
    // n_removed, clean_text). At scale point docs at a doc_id-bucketed table
    fn("graft_span_excise", Seq("docs"), int("n", 8, ">= 2"), bool("keep_one")) { c =>
      if (c.bool("keep_one")) Dedup.spanExciseKeepOne(c.rel(0), n = c.int("n"))
      else Dedup.spanExcise(c.rel(0), n = c.int("n"))
    },
    // TAKEDOWN (d23): a revoked set's contribution leaves a persisted index
    // without a rebuild, at a cost in proportion to the takedown set
    TableFunction("graft_index_delete", Seq("index", "revoked"), Seq(
      // counted span-hash index; revoked carries doc_id + text, n the span length
      kind("span", int("n", 8, ">= 2"))(c => Dedup.spanIndexDelete(c.rel(0), c.rel(1), n = c.int("n"))),
      // unbanded tf-idf postings, uncapped band index, streaming prefix
      // index, IVF member table; revoked is (doc_id), or (vec_id) for ivf
      kind("postings")(c => Dedup.postingsDelete(c.rel(0), c.rel(1))),
      kind("minhash")(c => Dedup.minhashIndexDelete(c.rel(0), c.rel(1))),
      kind("prefix")(c => Dedup.prefixIndexDelete(c.rel(0), c.rel(1))),
      kind("ivf")(c => Similarity.ivfMembersDelete(c.rel(0), c.rel(1))),
      // t27's (tok, nd) candidate index; revoked carries doc_id + text, run
      // the digit-run length; tokens reaching nd = 0 drop
      kind("secrets", int("run", 4))(c =>
        Privacy.secretIndexDelete(c.rel(0), c.rel(1), minDigitRun = c.int("run"))),
      // d27's counted char-window index; n is the window in chars
      kind("charspan", int("n", 40, ">= 2"))(c =>
        Dedup.spanIndexCharsDelete(c.rel(0), c.rel(1), n = c.int("n"))),
      // d26's graph store; revoked is (doc_id); clique relabel, edge splice
      // and affected-component re-closure read no text, so no options apply
      kind("components")(c => Dedup.componentsIndexDelete(c.rel(0), c.rel(1))),
      // s16's ranking store; revoked carries (doc_id, source): anti join,
      // in-place re-rank, count decrement, rank for rank the rebuild's prefix
      kind("curriculum")(c => Curriculum.curriculumIndexDelete(c.rel(0), c.rel(1))))),
    // COMPACTION, the append half of graft_index_delete: a drop (doc_ids
    // disjoint from the base's) folds into a persisted index by delta
    // arithmetic or per-doc row union, bit-identical to rebuilding over
    // base ∪ drop, without re-reading the base. IVF appends are
    // graft_ivf_append (the member merge needs the centroids)
    TableFunction("graft_index_merge", Seq("index", "drop"), Seq(
      kind("span", int("n", 8, ">= 2"))(c => Dedup.spanIndexMerge(c.rel(0), c.rel(1), n = c.int("n"))),
      kind("postings")(c => Dedup.postingsMerge(c.rel(0), c.rel(1))),
      kind("minhash")(c => Dedup.minhashIndexMerge(c.rel(0), c.rel(1))),
      // served-answer equality under its frozen df order (the d19 contract)
      kind("prefix")(c => Dedup.prefixIndexMerge(c.rel(0), c.rel(1))),
      kind("secrets", int("run", 4))(c =>
        Privacy.secretIndexMerge(c.rel(0), c.rel(1), minDigitRun = c.int("run"))),
      kind("charspan", int("n", 40, ">= 2"))(c =>
        Dedup.spanIndexCharsMerge(c.rel(0), c.rel(1), n = c.int("n"))),
      // drop carries doc_id + lang + text; only new cross pairs verify, with
      // the shingle length n and the Jaccard bound threshold
      kind("components", int("n", 1), number("threshold", 0.95, "(0,1]"))(c =>
        Dedup.componentsIndexMerge(c.rel(0), c.rel(1), n = c.int("n"), threshold = c.number("threshold"))),
      // drop carries (doc_id, source); the heap re-runs over index rows ∪ the
      // drop's (top-k of top-k(S) ∪ D = top-k(S ∪ D)), k the per-source
      // depth; merging into an empty store bootstraps it
      kind("curriculum", int("k", 1000))(c =>
        Curriculum.curriculumIndexMerge(c.rel(0), c.rel(1), k = c.int("k"))))),
    // the exact-delete curriculum path: index ∪ overflow survivors re-rank
    // and trim to k, exactly the rebuild until a source loses more than the
    // (k, k+pad] overflow buffer holds, which raises eagerly; k must be the
    // index's build k
    fn("graft_curriculum_delete_buffered", Seq("index", "revoked", "overflow"), int("k", 1000))(c =>
      Curriculum.curriculumIndexDelete(c.rel(0), c.rel(1), overflow = Some(c.rel(2)), k = c.int("k"))),
    // frequency-gated secret redaction (t27): digit-run tokens of at least
    // `run` digits found in fewer than k documents mask as `<secret>` →
    // (doc_id, n_tokens, n_secrets, n_redacted, clean_text)
    fn("graft_secret_scrub", Seq("docs"), int("k", 3), int("run", 4))(c =>
      Privacy.secretScrub(c.rel(0), k = c.int("k"), minDigitRun = c.int("run"))),
    // the persisted (tok, nd) candidate index, delete/merge-capable
    fn("graft_secret_frequencies", Seq("docs"), int("run", 4))(c =>
      Privacy.secretFrequencies(c.rel(0), minDigitRun = c.int("run"))),
    // a drop scrubbed against that index, base and within-drop evidence
    // combined against k: graft_secret_scrub_incremental(drop,
    // graft_secret_frequencies(base))
    fn("graft_secret_scrub_incremental", Seq("drop", "index"), int("k", 3), int("run", 4))(c =>
      Privacy.secretScrubAgainstIndex(c.rel(0), c.rel(1), k = c.int("k"), minDigitRun = c.int("run"))),
    // the scheduled delete's input (x23): docs (with source, ingest_day)
    // whose age at day as_of reached their source's retention_days in
    // policy, with age_days/retention_days; a source with no policy row
    // never expires. Day 0 is an ingest day. The output is the revoked shape
    // graft_index_delete / graft_components_delete consume
    fn("graft_retention_expiry", Seq("docs", "policy"), int("as_of", 359, ">= 0"))(c =>
      Privacy.retentionExpiry(c.rel(0), c.rel(1), asOfDay = c.int("as_of").toLong)),
    // the eight-store takedown audit (x25): one (store, n_before, n_after,
    // n_changed) row per lifecycle index, from the delete paths on the stale
    // stores. revoked takes full doc rows, so graft_retention_expiry feeds
    // it; n is the span length (charspan stays at 40 chars), run the digit run
    fn("graft_takedown_audit", Seq("docs", "revoked", "members", "revoked_vecs"), int("n", 8), int("run", 4))(c =>
      Audit.takedownAudit(c.rel(0), c.rel(1), c.rel(2), c.rel(3), spanN = c.int("n"), minDigitRun = c.int("run")))
  ).map(f => f.name -> f).toMap

  private def isTableFunction(name: Seq[String]): Boolean =
    name.size == 1 && tableFunctions.contains(name.head.toLowerCase)

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

  /** One table-function call → its DataFrame, checked against its
    * declaration in [[tableFunctions]] in this order: repeated option keys,
    * unknown keys (naming the accepted ones), the number of positional
    * arguments, the kind, then each option's type and range. All of it runs
    * before any relation resolves, so a bad call reads as what it is, not
    * as a failed path or table lookup. Each `name => value` decodes once
    * from the parse tree to text (a literal's or foldable expression's
    * value, or a bare name); positional arguments stay expressions until
    * the body asks for them.
    */
  private def tableFunction(name: String, args: Seq[Expression]): DataFrame = {
    val f = tableFunctions(name)
    val (named, pos) = args.partitionMap {
      case NamedArgumentExpression(k, v) => Left(k.toLowerCase -> optionText(name, k, v))
      case e => Right(e)
    }
    val keys = named.map(_._1)
    val repeated = keys.diff(keys.distinct).distinct
    require(repeated.isEmpty, s"$name: duplicate option(s) ${repeated.mkString(", ")}")
    val unknown = keys.filterNot(f.accepted.contains)
    require(unknown.isEmpty,
      s"$name: unknown option(s) ${unknown.mkString(", ")}; accepted: ${f.accepted.mkString(", ")}")
    require(pos.size == f.relations.size, s"$name needs ${f.relations.size} " + (
      if (f.readsPath) "quoted path argument"
      else if (f.relations.isEmpty) "arguments"
      else s"relation argument(s) (${f.relations.mkString(", ")} — each a quoted parquet path, a " +
        "table name or a nested call)") + s", got ${pos.size}")
    val given = named.toMap
    val k = given.get("kind").fold(f.kinds.head.name)(_.toLowerCase)
    val kind = f.kinds.find(_.name == k).getOrElse(throw new IllegalArgumentException(
      s"$name: kind must be one of ${f.kinds.map(_.name).mkString(", ")} — got '$k'"))
    val own = kind.options.map(_.key).sorted
    val stray = keys.filterNot(key => key == "kind" || own.contains(key)).sorted
    require(stray.isEmpty, s"$name: option(s) ${stray.mkString(", ")} do not apply to kind '$k'" +
      (if (own.isEmpty) "" else s" (accepted for '$k': ${own.mkString(", ")})"))
    kind.body(new Call(name, pos, kind.options.map(o => o.key -> o.value(name, given.get(o.key))).toMap))
  }

  /** A validated call: every option of its kind, given or defaulted, and
    * its positional arguments, each resolved when the body asks for it.
    */
  private final class Call(val fn: String, pos: Seq[Expression], options: Map[String, Any]) {
    def rel(i: Int): DataFrame = relationArg(fn, pos(i))
    def path: String = pos.head match {
      case Literal(p: UTF8String, _) => p.toString
      case other => throw new IllegalArgumentException(s"$fn: the path is a quoted string, got ${other.sql}")
    }
    def int(key: String): Int = options(key).asInstanceOf[Int]
    def number(key: String): Double = options(key).asInstanceOf[Double]
    def bool(key: String): Boolean = options(key).asInstanceOf[Boolean]
    def string(key: String): String = options(key).asInstanceOf[String]
  }

  private def optionText(fn: String, key: String, v: Expression): String = v match {
    case u: UnresolvedAttribute => u.name
    case e if e.foldable => String.valueOf(e.eval())
    case other => throw new IllegalArgumentException(
      s"$fn: option $key needs a literal or a name, got ${other.sql}")
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

  /** `op` over a (doc_a, doc_b) pair relation and its vertices, the pairs'
    * distinct endpoints: a table function sees one relation, so isolated
    * vertices are out of its view.
    */
  private def onGraph(pairs: DataFrame)(op: (DataFrame, DataFrame) => DataFrame): DataFrame =
    op(pairs.select(col("doc_a").as("doc_id")).union(pairs.select(col("doc_b").as("doc_id"))).distinct(), pairs)

  /** The incremental dedup threshold num/den, at most 1. */
  private def fraction(c: Call): (Int, Int) = {
    val (num, den) = (c.int("num"), c.int("den"))
    require(num <= den, s"${c.fn}: threshold num/den must be <= 1, got $num/$den")
    (num, den)
  }

  /** A (piece, cost) model relation, collected to ship as a codegen
    * reference object (the u4/u7 fixed-model discipline). The collect is
    * capped, so a corpus-sized relation in the model slot fails fast
    * instead of filling the driver; a piece listed with several costs takes
    * the least, in piece order, so the model is a function of the relation.
    */
  private def pieceTable(fn: String, pieces: DataFrame): Seq[(String, Long)] = {
    val rows = pieces
      .select(col("piece").cast("string"), col("cost").cast("long"))
      .where(col("piece").isNotNull && col("cost").isNotNull)
      .groupBy(col("piece")).agg(min(col("cost")).as("cost"))
      .orderBy(col("piece"))
      .limit(65537).collect()
    require(rows.length <= 65536,
      s"$fn: pieces relation exceeds 65536 rows — a piece table is model state, not a corpus")
    rows.map(r => (r.getString(0), r.getLong(1))).toSeq
  }

  /** graft_byte_encode's body: the (round, a, b) merge table ships as a
    * codegen reference object under the same bounded collect as
    * [[pieceTable]], ranks in round order, and the corpus pass is map-only.
    * Exact duplicate rows collapse; two different merges at one round would
    * apply in plan-dependent order, so they are an error.
    */
  private def byteEncode(fn: String, docs: DataFrame, mergeRel: DataFrame): DataFrame = {
    val mergeRows = mergeRel
      .select(col("round").cast("long").as("round"), col("a").cast("string"), col("b").cast("string"))
      .where(col("round").isNotNull && col("a").isNotNull && col("b").isNotNull)
      .distinct()
      .orderBy(col("round"))
      .limit(65537).collect()
    require(mergeRows.length <= 65536,
      s"$fn: merges relation exceeds 65536 rows — a merge table is model state, not a corpus")
    val dupRounds = mergeRows.groupBy(_.getLong(0)).collect { case (r, g) if g.length > 1 => r }.toSeq.sorted
    require(dupRounds.isEmpty, s"$fn: merge rounds must be unique (BPE ranks are positional) — " +
      s"conflicting merges at round(s) ${dupRounds.take(5).mkString(", ")}")
    val merges = mergeRows.map(r => (r.getString(1), r.getString(2))).toSeq
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    docs.select(col("doc_id"),
        size(toks).cast("long").as("n_words"),
        aggregate(toks, lit(0L), (acc, x) => acc + octet_length(x)).as("n_bytes"),
        size(Tokenizer.byteSegment(col("text"), merges)).cast("long").as("n_subwords"))
      .filter(col("n_words") > 0)
      .withColumn("spw_ppm", expr("(1000000 * n_subwords) div n_words"))
      .withColumn("bps_ppm", expr("(1000000 * n_bytes) div n_subwords"))
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
  private def rejectVarcharNumericComparison(analyzed: LogicalPlan): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Cast, Expression, SubqueryExpression}
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
    checkPlan(analyzed)
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

  /** A table-function option: its key, the type its text must parse as
    * (`want` names it in errors), its default (none: the option is
    * required) and, for a number, its allowed range.
    */
  private[engine] final case class Opt(key: String, want: String, parse: String => Option[Any],
      default: Option[Any] = None, range: Option[Bound] = None) {
    /** The option's value in a call to `fn`: its text parsed and checked, or the default. */
    def value(fn: String, raw: Option[String]): Any = raw match {
      case None => default.getOrElse(throw new IllegalArgumentException(s"$fn: option $key is required ($want)"))
      case Some(text) =>
        val v = parse(text).getOrElse(throw new IllegalArgumentException(s"$fn: option $key needs $want, got '$text'"))
        range.foreach(r => require(r.holds(text.toDouble), s"$fn: $key must be ${r.phrase}, got $v"))
        v
    }
  }

  /** A numeric option's allowed range, written as its errors show it:
    * `>= n`, or an interval such as `[16, 65536]` or `(0,1]`.
    */
  private[engine] final case class Bound(text: String) {
    private val (lo, hi) =
      if (text.startsWith(">=")) (text.drop(2).trim.toDouble, Double.PositiveInfinity)
      else text.slice(1, text.length - 1).split(',').map(_.trim.toDouble) match { case Array(a, b) => (a, b) }
    def holds(v: Double): Boolean =
      (if (text.head == '(') v > lo else v >= lo) && (if (text.last == ')') v < hi else v <= hi)
    def phrase: String = if (text.startsWith(">=")) text else s"in $text"
  }

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
