package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftEngine

/** SLT-corpus-equivalent coverage (reference `tests/slt` corpus, SURVEY §5):
  * each test mirrors one of the reference's sqllogictest files over
  * equivalent fixtures (FIXTURES.md).
  */
class EngineSpec extends AnyFunSuite {
  import TestSpark._

  private def fixture(name: String): String =
    getClass.getResource(s"/csv/$name.csv").getPath

  private lazy val engine: GraftEngine = {
    val e = new GraftEngine(spark)
    Seq("employee", "department", "state", "t1", "t2")
      .foreach(n => e.createCsvTable(n, fixture(n)))
    e
  }

  private def rows(sql: String): Seq[Seq[Any]] =
    engine.run(sql).collect().toSeq.map(_.toSeq)

  // ---- select.slt / filter.slt ----
  test("roadmap-0.1 flagship query") {
    assert(rows("select first_name from employee where last_name = 'Hopkins'")
      .map(_.head).toSet == Set("Ada", "Eli"))
  }

  test("filter with arithmetic and conjunctions") {
    assert(rows("select a from t1 where b + 1 >= 6 and c < 9").map(_.head) == Seq(1L, 2L))
  }

  test("alias in where (reference filter.slt:37)") {
    assert(rows("select a + 1 as x from t1 where x >= 3").map(_.head).toSet == Set(3L, 3L))
    // alias together with original column
    assert(rows("select b + c as s, a from t1 where s > 10 and a > 0")
      .map(_(1)).toSet == Set(1L, 2L))
    // below ORDER BY / LIMIT the outer select block is still repaired
    assert(rows("select a + 1 as x from t1 where x >= 2 order by x limit 1")
      .map(_.head) == Seq(2L))
  }

  test("alias rewrite leaves string literals alone") {
    // alias `x` also appears inside a string literal in the WHERE — the
    // substitution must not rewrite quoted text
    val got = rows(
      "select first_name, salary + 1 as x from employee where x > 100000 and first_name <> 'x marks'")
    assert(got.nonEmpty)
    assert(got.forall(r => r(1).toString.toLong > 100000L))
  }

  test("alias rewrite ignores where inside a subquery") {
    // the inner `where` belongs to the subquery; clause detection must
    // split on the OUTER where only
    val got = rows(
      """select a + 1 as x from t1
        |where x > (select min(a) from t1 where a > 1)""".stripMargin)
    // t1.a = 0,1,2,2 → x = 1,2,3,3; inner min(a where a>1) = 2 → x ∈ {3,3}
    assert(got.map(_.head) == Seq(3L, 3L))
    // nor a FROM subquery's WHERE: the outer `w` triggers the repair, and
    // the inner `a > 1` still means t1.a, not the inner `a * 10 as a`
    assert(rows(
      """select v as w, a from (select a * 10 as a, a as v from t1 where a > 1) s
        |where w >= 0""".stripMargin) == Seq(Seq(2L, 20L), Seq(2L, 20L)))
  }

  test("CLI meta commands: \\dt, \\load csv, \\explain, select") {
    val e = new GraftEngine(spark)
    assert(Cli.execute(e, "\\load csv emp " + fixture("employee")).contains("loaded"))
    assert(Cli.execute(e, "\\dt").contains("main.emp"))
    assert(Cli.execute(e, "\\explain select * from emp").contains("Physical Plan"))
    val out = Cli.execute(e, "select first_name from emp where last_name = 'Hopkins'")
    assert(out.linesIterator.toSeq.head == "first_name")
    assert(out.contains("Ada") && out.contains("Eli"))
  }

  test("alias rewrite stops at set operations") {
    // the alias token `x` also appears in the second UNION branch (as that
    // branch's own alias); a rewrite crossing the UNION boundary would
    // substitute it there too and produce unparseable SQL
    val got = rows(
      """select a + 1 as x from t1 where x >= 3
        |union all
        |select b + c as x from t1 where b + c > 10""".stripMargin)
    assert(got.map(_.head.toString.toLong).sorted == Seq(3L, 3L, 11L, 13L, 16L))
    // only the first branch is repaired; the second keeps its own `a > 1`
    // over t1.a (a rewrite there would also admit a = 1)
    val shadow = rows(
      """select a + 1 as x from t1 where x >= 3
        |union all
        |select a * 10 as a from t1 where a > 1""".stripMargin)
    assert(shadow.map(_.head.toString.toLong).sorted == Seq(3L, 3L, 20L, 20L))
  }

  test("graft_* custom expressions are callable from engine SQL text") {
    val sim = rows("select graft_simhash('hello world') as s").head.head
    assert(sim.isInstanceOf[Long])
    val n = rows("select size(graft_shingle_hashes('a b c d', 2)) as n").head.head
    assert(n == 3)
    val kmv = rows(
      "select graft_kmv_distinct(c, 64) as d from (select 'x' || (a % 5) as c from t1) s")
      .head.head
    assert(kmv == 3L) // t1.a = 0,1,2,2 → x0,x1,x2,x2 → 3 distinct
    val q = rows(
      "select graft_quantile_sketch(a, 0.5, 64) as m from t1").head.head
    assert(q == 1.0) // a = 0,1,2,2 → disc median at rank 2 = 1
    val hh = rows(
      "select graft_heavy_hitters(cast(a as string), 1, 64)[0].token as t from t1")
      .head.head
    assert(hh.toString == "2") // 2 appears twice, the rest once
  }

  test("trailing semicolons accepted on every statement route") {
    engine.run("create table semi_t(a int);")
    engine.run("insert into semi_t values (1), (2);")
    assert(rows("select count(*) from semi_t;").head.head == 2L)
    assert(engine.run("show tables;").collect().map(_.getString(1)).contains("semi_t"))
    assert(engine.run("describe semi_t;").collect().nonEmpty)
  }

  // ---- join.slt / join_filter.slt ----
  test("inner join with residual filter in ON") {
    val got = rows(
      """select e.first_name, d.department_name
        |from employee e left join department d
        |  on e.department_id = d.id and e.salary > 125000""".stripMargin)
    assert(got.size == 5)
    assert(got.filter(_.head == "Bo").head(1) == "Marketing")
    assert(got.filter(_.head == "Ada").head(1) == null) // salary below residual
  }

  test("multi-FROM is a cross join (binder/statement/mod.rs:40-56)") {
    assert(rows("select count(*) from t1, t2").head.head == 16L)
  }

  // ---- aggregation.slt / distinct.slt ----
  test("grouped aggregation with empty-string CSV cell (reference parity)") {
    // Arrow CSV parses an empty string cell as "", not NULL (SURVEY §7)
    val got = rows(
      "select state, count(*), sum(salary) from employee group by state order by state")
    assert(got.head.head == "") // empty-string state group sorts first
    assert(got.map(_.head).drop(1) == Seq("CA", "TX", "WA"))
  }

  test("count distinct (README.md:47)") {
    assert(rows("select count(distinct b) from t2").head.head == 3L)
  }

  test("select distinct") {
    assert(rows("select distinct a from t1").map(_.head).toSet == Set(0L, 1L, 2L))
  }

  // ---- order.slt / limit.slt ----
  test("order by desc with limit/offset") {
    assert(rows("select a from t1 order by b desc limit 2 offset 1").map(_.head) == Seq(2L, 1L))
  }

  // ---- subquery.slt ----
  test("uncorrelated scalar subquery") {
    assert(rows("select a from t2 where b = (select min(b) from t2)")
      .map(_.head).toSet == Set(10L, 20L))
  }

  // ---- create_table.slt / insert_table.slt ----
  test("create table + insert values + insert select") {
    engine.run("create table m1(v1 int, v2 varchar)")
    engine.run("insert into m1 values (1, 'a'), (2, 'b')")
    engine.run("insert into m1 (v2, v1) values ('c', 3)")
    engine.run("insert into m1 select v1 + 10, v2 from m1")
    assert(rows("select count(*) from m1").head.head == 6L)
    assert(rows("select v1 from m1 where v2 = 'c'").map(_.head).toSet == Set(3, 13))
  }

  test("insert with partial column list → NULL fill") {
    engine.run("create table m2(v1 int, v2 varchar, v3 double)")
    engine.run("insert into m2 (v1) values (7)")
    assert(rows("select v1, v2, v3 from m2") == Seq(Seq(7, null, null)))
  }

  test("CTAS derives schema from query (bind_create.rs:22-31)") {
    engine.run("create table m3 as select a, b + c as s from t1")
    assert(rows("select count(*) from m3").head.head == 4L)
    assert(engine.table("m3").schema.fieldNames.toSeq == Seq("a", "s"))
  }

  test("unsigned widening policy (SURVEY §1.2)") {
    engine.run("create table m4(v1 tinyint unsigned, v2 smallint unsigned, v3 int unsigned, v4 bigint unsigned)")
    val s = engine.table("m4").schema
    assert(s("v1").dataType == ShortType)
    assert(s("v2").dataType == IntegerType)
    assert(s("v3").dataType == LongType)
    assert(s("v4").dataType == DecimalType(20, 0))
  }

  test("insert applies implicit casts to table types") {
    engine.run("create table m5(v1 bigint, v2 double)")
    engine.run("insert into m5 values (1, 2)") // ints cast to bigint/double
    assert(rows("select v1, v2 from m5") == Seq(Seq(1L, 2.0)))
  }

  // ---- csv.slt (read_csv options) ----
  test("read_csv with delim and header options") {
    val p = fixture("state_pipe_header")
    assert(rows(s"select state_code from read_csv('$p', delim=>'|', header=>true)")
      .map(_.head) == Seq("CA", "WA"))
  }

  test("read_csv headerless names columns column_1..") {
    val p = fixture("state_pipe_noheader")
    assert(rows(s"select column_2 from read_csv('$p', delim=>'|', header=>false)")
      .map(_.head) == Seq("CA", "WA"))
  }

  test("bare FROM 'file.csv' auto-binds (bind_base_table_ref.rs:98-118)") {
    val p = fixture("department")
    assert(rows(s"select department_name from '$p' where id = 3").map(_.head) == Seq("Finance"))
  }

  // ---- copy ----
  test("COPY FROM rewrites to insert-from-read_csv (bind_copy.rs)") {
    engine.run("create table st(id int, state_code varchar, state_name varchar)")
    engine.run(s"copy st from '${fixture("state_pipe_header")}' (delimiter '|', header)")
    assert(rows("select count(*) from st").head.head == 2L)
    assert(rows("select state_name from st where id = 1").map(_.head) == Seq("California"))
  }

  // ---- parquet source surface (extension; reference is CSV-only) ----
  test("read_parquet TVF, bare FROM 'file.parquet', COPY parquet, \\load parquet") {
    val p = "/root/testdata/sf0.001/region.parquet"
    val n = rows(s"select count(*) from read_parquet('$p')").head.head
    assert(n == 5L)
    assert(rows(s"select r_name from '$p' where r_regionkey = 0").map(_.head)
      == rows(s"select r_name from read_parquet('$p') where r_regionkey = 0").map(_.head))
    engine.run("create table rgn(r_regionkey bigint, r_name varchar)")
    engine.run(s"copy rgn from '$p'")
    assert(rows("select count(*) from rgn").head.head == 5L)
    assert(Cli.execute(engine, s"\\load parquet rgn2 $p") == "loaded table rgn2")
    assert(rows("select count(*) from rgn2").head.head == 5L)
  }

  // ---- json source/sink surface (extension; log/event ingest) ----
  test("read_json TVF, bare FROM 'file.jsonl', COPY TO json roundtrip") {
    val base = java.nio.file.Files.createTempDirectory("graft_json").toString
    val f = new java.io.PrintWriter(s"$base/ev.jsonl")
    f.println("""{"ID": 1, "Kind": "click", "V": 2.5}""")
    f.println("""{"ID": 2, "Kind": "view", "V": 0.5}""")
    f.println("""{"ID": 3, "Kind": "click", "V": 1.0}""")
    f.close()
    // TVF: schema inferred, names lowercased like csv/parquet
    assert(rows(s"select count(*) from read_json('$base/ev.jsonl')").head.head == 3L)
    assert(rows(s"select kind from read_json('$base/ev.jsonl') where id = 2")
      .map(_.head) == Seq("view"))
    // bare FROM 'file.jsonl' auto-binds like the csv/parquet surfaces
    assert(rows(s"select count(*) from '$base/ev.jsonl' where kind = 'click'")
      .head.head == 2L)
    // COPY TO json writes JSONL the TVF reads back
    engine.run("create table jt(id int, lang varchar)")
    engine.run("insert into jt values (1,'en'),(2,'de')")
    engine.run(s"copy jt to '$base/out' (FORMAT json)")
    assert(rows(s"select count(*) from read_json('$base/out')").head.head == 2L)
    assert(rows(s"select lang from read_json('$base/out') where id = 1")
      .map(_.head) == Seq("en"))
  }

  // ---- COPY TO sink (extension; the reference rejects copy-to) ----
  test("copy to parquet/csv roundtrip, subquery source, partition_by layout") {
    val base = java.nio.file.Files.createTempDirectory("graft_copyto").toString
    engine.run("create table ct(id int, lang varchar)")
    engine.run("insert into ct values (1,'en'),(2,'de'),(3,'en'),(4,'fr')")
    // parquet roundtrip (directory target, read back through the TVF)
    engine.run(s"copy ct to '$base/ct.parquet'")
    assert(rows(s"select count(*) from read_parquet('$base/ct.parquet')").head.head == 4L)
    // csv with options + subquery source
    engine.run(s"copy (select id, lang from ct where id <= 2) to '$base/ct.csv' (DELIMITER '|')")
    val back = engine.readCsv(s"$base/ct.csv", header = true, delim = "|")
    assert(back.count() == 2L)
    assert(back.columns.toSeq == Seq("id", "lang"))
    // hive-style partition directories for downstream partition pruning
    engine.run(s"copy ct to '$base/part' (PARTITION_BY (lang), MAX_RECORDS_PER_FILE 1000)")
    val dirs = new java.io.File(s"$base/part").listFiles().map(_.getName).filter(_.startsWith("lang="))
    assert(dirs.toSet == Set("lang=en", "lang=de", "lang=fr"))
    assert(rows(s"select count(*) from read_parquet('$base/part')").head.head == 4L)
    // unknown format rejected
    intercept[Exception](engine.run(s"copy ct to '$base/x' (FORMAT avro)"))
    // a literal containing "to '" in the subquery source must not mis-split
    engine.run(s"copy (select id, 'go to ' as note from ct) to '$base/lit.parquet'")
    assert(rows(s"select count(*) from read_parquet('$base/lit.parquet')").head.head == 4L)
  }

  test("copy to SORT_BY writes range-disjoint files (data-skipping layout)") {
    val base = java.nio.file.Files.createTempDirectory("graft_sortby").toString
    val src = "/root/testdata/sf0.001/documents.parquet"
    engine.run(
      s"copy (select doc_id from read_parquet('$src')) to '$base/s.parquet' (SORT_BY (doc_id))")
    val parts = new java.io.File(s"$base/s.parquet").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts.length > 1, "expect multiple range partitions")
    // per-file (min, max) doc_id ranges must be pairwise disjoint — that
    // disjointness is exactly what lets a range predicate skip whole files
    val ranges = parts.map { f =>
      val r = engine.spark.read.parquet(f.getAbsolutePath)
        .agg(org.apache.spark.sql.functions.min("doc_id"),
          org.apache.spark.sql.functions.max("doc_id")).head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2, s"overlapping ranges: ${ranges.toSeq}")
      case _ =>
    }
    val total = ranges.length
    assert(rows(s"select count(*) from read_parquet('$base/s.parquet')").head.head == 500L,
      s"roundtrip count mismatch across $total files")
  }

  test("COPY TO FORMAT: quoted and bare values both write csv") {
    val base = java.nio.file.Files.createTempDirectory("graft_copyfmt").toString
    engine.run("create table cf_t(id int, lang varchar)")
    engine.run("insert into cf_t values (1,'en'),(2,'de')")
    for ((dir, fmt) <- Seq("q" -> "'csv'", "b" -> "csv", "u" -> "'CSV'")) {
      engine.run(s"copy cf_t to '$base/$dir' (FORMAT $fmt)")
      val files = new java.io.File(s"$base/$dir").listFiles().map(_.getName).filter(_.startsWith("part-"))
      assert(files.nonEmpty && files.forall(_.endsWith(".csv")), s"FORMAT $fmt wrote ${files.toSeq}")
      assert(engine.readCsv(s"$base/$dir", header = true, delim = ",").count() == 2L)
    }
  }

  test("COPY options: an unknown key errors and names the accepted keys") {
    val base = java.nio.file.Files.createTempDirectory("graft_copyopt").toString
    engine.run("create table co_t(id int, lang varchar)")
    val to = intercept[IllegalArgumentException] {
      engine.run(s"copy co_t to '$base/o.csv' (DELIMTER '|')")
    }.getMessage
    assert(to.contains("DELIMTER") && to.contains("DELIMITER") && to.contains("PARTITION_BY"), to)
    assert(!new java.io.File(s"$base/o.csv").exists(), "a rejected COPY TO writes nothing")
    val from = intercept[IllegalArgumentException] {
      engine.run(s"copy co_t from '${fixture("state_pipe_header")}' (delimter '|')")
    }.getMessage
    assert(from.contains("DELIMTER") && from.contains("accepted: DELIMITER, HEADER"), from)
    assert(rows("select count(*) from co_t").head.head == 0L)
  }

  test("a double-quoted literal's ';' does not split the statement") {
    assert(rows("select \"a;b\" as s") == Seq(Seq("a;b")))
  }

  test("a comment between INSERT and INTO still routes as an INSERT") {
    engine.run("create table lex_ins_t(a int, b varchar)")
    engine.run("insert /* c */ into lex_ins_t values (3, 'z')")
    assert(rows("select a, b from lex_ins_t") == Seq(Seq(3, "z")))
  }

  test("a line comment in a CREATE TABLE column list is no part of a column") {
    engine.run("create table lex_cols_t(\n  a int, -- first column\n  b decimal(10, 2)\n)")
    assert(engine.table("lex_cols_t").schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("a", IntegerType), ("b", DecimalType(10, 2))))
  }

  test("inserted rows carry statistics: the table stays broadcast-sized") {
    engine.run("create table stats_t(a int, b varchar)")
    engine.run("insert into stats_t values (1, 'x'), (2, 'y')")
    engine.run("insert into stats_t select a + 10, b from stats_t")
    val size = engine.table("stats_t").queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size < spark.sessionState.conf.autoBroadcastJoinThreshold, s"sizeInBytes = $size")
    assert(rows("select count(*) from stats_t").head.head == 4L)
  }

  // ---- pragma.slt / table_function.slt ----
  test("show tables + sqlrs_tables()") {
    val t = rows("show tables").map(_(1))
    assert(t.contains("employee") && t.contains("t1"))
    val t2 = rows("select table_name from sqlrs_tables()").map(_.head)
    assert(t2.contains("department"))
  }

  test("sqlrs_columns() dumps column catalog (v2 rendering, pragma.slt:14-17)") {
    val cols = rows("select * from sqlrs_columns() where table_name = 't1'")
    assert(cols.map(c => (c(0), c(1))) == Seq(("t1", "[a, b, c]")))
  }

  test("describe renders one sqlrs_columns row") {
    val d = rows("describe employee").head
    assert(d(0) == "employee")
    assert(d(1).toString.startsWith("[id, first_name, last_name"))
  }

  test("columnsCatalog per-column dump") {
    val cols = engine.columnsCatalog()
      .filter(org.apache.spark.sql.functions.col("table_name") === "t1")
      .collect().map(_.getString(2)).toSeq
    assert(cols == Seq("a", "b", "c"))
  }

  // ---- explain.slt ----
  test("explain renders a physical plan") {
    val plan = engine.explain("select a from t1 where b > 4")
    assert(plan.contains("Filter") || plan.contains("PushedFilters"))
  }

  test("explain returns the reference's (explain_type, explain_value) trees") {
    // the two explain.slt statements (tests/slt/explain.slt:1-16), asserted
    // on tree content rather than just statement-ok
    val r1 = engine.run("explain select 1, 2.3, 'x', true, null").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(r1.keySet == Set("logical_plan", "logical_plan_opt", "physical_plan",
      "physical_plan_spark"))
    assert(r1("logical_plan").startsWith("LogicalProjection:"))
    assert(r1("logical_plan").linesIterator.toSeq.last.trim == "LogicalDummyScan")
    assert(r1("physical_plan").contains("PhysicalProjection"))

    engine.run("create table ex_int(i integer, j integer)")
    engine.run("insert into ex_int values (1, 1), (2, 2), (3, 3), (null, null)")
    val r2 = engine.run("explain select * from ex_int").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val logical = r2("logical_plan").linesIterator.map(_.trim).toSeq
    assert(logical.head.startsWith("LogicalProjection:"), r2("logical_plan"))
    assert(logical.contains("LogicalGet: main.ex_int"), r2("logical_plan"))
    // 2-space-per-level indentation like the reference renderer
    assert(r2("logical_plan").linesIterator.toSeq(1).startsWith("  "))
    assert(r2("physical_plan").nonEmpty && r2("physical_plan_spark").nonEmpty)

    // filter + limit shapes map onto the reference vocabulary
    val r3 = engine.run("explain select a from t1 where b > 4 limit 2").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(r3("logical_plan").contains("LogicalLimit: limit[2], offset[None]"))
    assert(r3("logical_plan").contains("LogicalFilter:"))
    assert(r3("physical_plan").contains("PhysicalLimit"))
  }

  // ---- time.slt: date ± interval with CORRECT subtract semantics ----
  test("date interval arithmetic (diverging from reference negate bug, SURVEY §2.8)") {
    engine.run("create table t5(v1 date)")
    engine.run("insert into t5 values (date '1998-12-01')")
    val got = rows(
      "select v1 - interval '1' day as d1, v1 + interval '1' month as m1 from t5").head
    // the reference's packed-interval negate bug yields 1998-11-29; correct is -11-30
    assert(got(0) == java.sql.Date.valueOf("1998-11-30"))
    assert(got(1) == java.sql.Date.valueOf("1999-01-01"))
  }

  // ---- FROM-less select (dummy scan) ----
  test("select without FROM") {
    assert(rows("select 1 + 1, 'x'").head == Seq(2, "x"))
  }

  // ---- VALUES relation ----
  test("values list in FROM") {
    assert(rows("select * from values (1, 'a'), (2, 'b') order by col1 desc")
      .map(_.head) == Seq(2, 1))
  }

  // ---- reference error semantics (round-3 parity) ----

  test("duplicate CREATE TABLE errors (create_table.slt:8)") {
    engine.run("create table dup_t(v1 int)")
    intercept[IllegalArgumentException] { engine.run("create table dup_t(v1 int)") }
    // CTAS over an existing name errors the same way
    intercept[IllegalArgumentException] { engine.run("create table dup_t as select 1 as x") }
  }

  test("unsigned range enforcement on INSERT (insert_table.slt:50)") {
    engine.run("create table ur_t(v1 tinyint unsigned, v2 smallint unsigned)")
    intercept[IllegalArgumentException] { engine.run("insert into ur_t(v1) values (1481)") }
    intercept[IllegalArgumentException] { engine.run("insert into ur_t(v2) values (-1)") }
    // in-range and NULL values stay insertable
    engine.run("insert into ur_t values (255, 65535), (null, null)")
    assert(rows("select count(*) from ur_t").head.head == 2L)
  }

  test("varchar vs numeric comparison errors (comparison_function.slt:2-7)") {
    intercept[IllegalArgumentException] { rows("select 'abc' > 10") }
    intercept[IllegalArgumentException] { rows("select 20.0 = 'abc'") }
    // string-string and explicit casts stay legal
    assert(rows("select '1000' > '20'").head.head == false)
    assert(rows("select cast('30' as int) > 20").head.head == true)
  }

  test("FROM-subquery without alias errors (subquery.slt:5)") {
    intercept[IllegalArgumentException] {
      rows("select * from (select a from t1 where a > 1) where b > 7")
    }
    // aliased subqueries (with or without AS), IN/EXISTS subqueries, and
    // expression parens are untouched
    assert(rows("select s.a from (select a from t1 where a > 1) s").nonEmpty)
    assert(rows("select a from t1 where a in (select a from t1 where a > 1)").nonEmpty)
    assert(rows("select (a + 1) * 2 from t1").nonEmpty)
    // an unaliased SELECT subquery nested inside an aliased one errors too
    intercept[IllegalArgumentException] {
      rows("select * from (select * from (select a from t1)) s")
    }
    // VALUES, WITH, TABLE and LATERAL forms need no alias
    assert(rows("select * from (values (1, 2))") == Seq(Seq(1, 2)))
    assert(rows("select a from (with c as (select 1 as a) select a from c)") == Seq(Seq(1)))
    assert(rows("select count(*) from (table t1)") == Seq(Seq(4L)))
    assert(rows("select count(*) from t1, lateral (select t1.a + 1 as b)") == Seq(Seq(4L)))
  }

  test("multi-statement run executes all and returns the last") {
    val got = engine.run(
      "create table ms_t(a int); insert into ms_t values (1), (2); select sum(a) as s from ms_t;")
    assert(got.collect().head.getLong(0) == 3L)
    // a ; inside a string literal never splits
    assert(rows("select 'a;b' as v").head.head == "a;b")
    // …nor inside a backtick identifier, a line comment, or a block comment
    assert(rows("select 1 as `a;b`").head.head == 1)
    assert(rows("select 1 as v -- note; more\n").head.head == 1)
    assert(rows("select /* x; y */ 2 as v").head.head == 2)
    // comments travel with their statement in a multi-statement block
    val multi = engine.run(
      "create table msc_t(a int); -- seed; data\ninsert into msc_t values (5); select a from msc_t;")
    assert(multi.collect().head.getInt(0) == 5)
  }

  test("strictness checks see through quoting and subqueries") {
    // backtick-quoted subquery alias is an alias, not a missing one
    assert(rows("select a from (select a from t1) `sq`").nonEmpty)
    // varchar↔numeric rejection applies inside subqueries too
    intercept[IllegalArgumentException] {
      rows("select a from t1 where a in (select a from t1 where 'abc' > 10)")
    }
  }

  test("many INSERTs stay correct and the registered plan stays shallow") {
    engine.run("create table acc_t(v int)")
    (1 to 70).foreach(i => engine.run(s"insert into acc_t values ($i)"))
    val got = rows("select count(*) as n, sum(v) as s from acc_t").head
    assert(got == Seq(70L, (1 to 70).sum.toLong))
    // the registered plan is base ∪ appended ∪ tail, not a 70-deep union
    val depth = engine.table("acc_t").queryExecution.analyzed.collect { case p => p }.size
    assert(depth < 30, s"inserts should not deepen the plan, plan has $depth nodes")
  }

  test("COPY FROM snapshots the file: rewriting it later leaves the table alone") {
    val f = java.nio.file.Files.createTempDirectory("copy_snap").resolve("snap.csv")
    engine.run(
      "create table snap_src(a int); insert into snap_src values (1); " +
        s"copy snap_src to '$f' (format csv); create table snap_t(a int); " +
        s"copy snap_t from '$f'; insert into snap_src values (2); " +
        s"copy snap_src to '$f' (format csv)")
    assert(rows("select count(*), sum(a) from snap_t") == Seq(Seq(1L, 1L)))
  }

  test("interleaved inserts keep the table within base + 2 x defaultParallelism partitions") {
    val csv = java.nio.file.Files.createTempFile("bound", ".csv")
    java.nio.file.Files.writeString(csv,
      (1000 until 1010).map(i => s"$i,c").mkString("a,b\n", "\n", "\n"))
    engine.run("create table bound_t(a int, b varchar)")
    val base = engine.table("bound_t").rdd.getNumPartitions
    val t1a = rows("select a from t1").map(_.head.toString.toLong)
    var expected = Seq.empty[Long]
    (1 to 100).foreach { i =>
      engine.run(s"insert into bound_t values ($i, 'v'), (${-i}, 'w')")
      expected ++= Seq(i.toLong, -i.toLong)
      if (i % 10 == 0) {
        engine.run(s"insert into bound_t select a + $i, 's' from t1")
        expected ++= t1a.map(_ + i)
      }
      if (i % 25 == 0) {
        engine.run(s"copy bound_t from '$csv'")
        expected ++= (1000 until 1010).map(_.toLong)
      }
    }
    assert(rows("select count(*), sum(a) from bound_t") ==
      Seq(Seq(expected.size.toLong, expected.sum)))
    val parts = engine.table("bound_t").rdd.getNumPartitions
    val bound = base + 2 * spark.sparkContext.defaultParallelism
    assert(parts <= bound, s"$parts partitions, bound $bound")
  }

  test("resetCatalog drops a table's inserted rows with the table") {
    val e = new GraftEngine(spark.newSession())
    e.run("create table rc_t(a int)")
    e.run("insert into rc_t values (1), (2)")
    e.run("insert into rc_t select a + 10 from rc_t")
    e.run("insert into rc_t values (3)")
    e.resetCatalog()
    e.run("create table rc_t(a int)")
    e.run("insert into rc_t values (7)")
    assert(e.run("select a from rc_t").collect().map(_.getInt(0)).toSeq == Seq(7))
  }

  test("INSERT into a parquet table never copies the parquet base") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val path = java.nio.file.Files.createTempDirectory("pq_base").resolve("region.parquet").toString
    spark.range(5).selectExpr("cast(id as int) as r_regionkey", "concat('r', id) as r_name")
      .write.parquet(path)
    engine.createParquetTable("pq_base", path)
    (1 to 40).foreach { i =>
      engine.run(s"insert into pq_base values (${100 + i}, 'planted')")
      if (i % 20 == 0) engine.run(s"insert into pq_base select r_regionkey + ${1000 + i}, " +
        "r_name from pq_base where r_regionkey < 5")
    }
    val plan = engine.table("pq_base").queryExecution.analyzed
    assert(plan.collect { case r: LogicalRelation => r }.size == 1, plan.treeString)
    // 5 base rows, 40 planted, 5 copied at i = 20 and 5 at i = 40
    assert(rows("select count(*), count(if(r_name = 'planted', 1, null)) from pq_base") ==
      Seq(Seq(55L, 40L)))
  }

  test("a tail crossing its row bound seals into one appended checkpoint") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LogicalRDD
    engine.run("create table seal_t(a int)")
    val bound = GraftEngine.TailRows
    def shape() = {
      val plan = engine.table("seal_t").queryExecution.analyzed
      (plan.collect { case r: LocalRelation => r.data.size }.sum,
        plan.collect { case r: LogicalRDD => r }.size)
    }
    // two VALUES inserts fill the tail to the bound exactly: no job, no fold
    engine.run(s"insert into seal_t values ${(1 to bound - 1).map(i => s"($i)").mkString(", ")}")
    engine.run(s"insert into seal_t values ($bound)")
    assert(shape() == (bound, 1)) // the tail, and the base's RDD
    // one row more crosses it: the tail folds into `appended`
    engine.run(s"insert into seal_t values (${bound + 1})")
    assert(shape() == (0, 2))
    assert(rows("select count(*), sum(a) from seal_t") ==
      Seq(Seq(bound + 1L, (1L to bound + 1L).sum)))
  }

  test("INSERT..SELECT over inline VALUES evaluates functions only the optimizer rewrites") {
    // nvl, to_date and left are RuntimeReplaceable: their own eval throws
    engine.run("create table rr_t(a int, d date, s varchar)")
    engine.run("insert into rr_t select nvl(a, 0), to_date(d), left(s, 2) " +
      "from values (cast(null as int), '2024-01-01', 'abc') as v(a, d, s)")
    engine.run("insert into rr_t select nullif(a, 5), d, s from values (5, '2024-02-03', 'x') as v(a, d, s)")
    assert(rows("select a, cast(d as string), s from rr_t order by d") ==
      Seq(Seq(0, "2024-01-01", "ab"), Seq(null, "2024-02-03", "x")))
    // the unsigned range check evaluates the incoming rows the same way
    engine.run("create table rr_u(v tinyint unsigned)")
    engine.run("insert into rr_u select nvl(a, 7) from values (cast(null as int)) as v(a)")
    intercept[IllegalArgumentException] {
      engine.run("insert into rr_u select nvl(a, 300) from values (cast(null as int)) as v(a)")
    }
    assert(rows("select v from rr_u") == Seq(Seq(7)))
  }

  test("INSERT..SELECT takes unaliased expressions whose names hold a dot") {
    engine.run("create table dot_t(a double, b varchar)")
    engine.run("insert into dot_t select x * 0.5, concat(y, '.') from values (3, 'p') as v(x, y)")
    engine.run("insert into dot_t(b, a) select 'q', x * 1.5 from values (2) as v(x)")
    assert(rows("select a, b from dot_t order by a") == Seq(Seq(1.5, "p."), Seq(3.0, "q")))
  }

  // ---- graft_* serving TVFs (extension: the pipeline operators through
  // the SQL front door, the read_csv rewrite shape) ----
  test("graft_topk TVF: exact cosine top-k over parquet paths, SQL-composable") {
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val got = engine.run(
      s"select query_id, neighbor_id, rank from graft_topk('$emb', '$emb', k => 3) " +
        "where query_id < 2 order by query_id, rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // every kept query returns exactly ranks 1..3, self-matches excluded
    assert(got.length == 6, s"2 queries × k=3, got ${got.length}")
    assert(got.map(_._3).toSeq == Seq(1, 2, 3, 1, 2, 3))
    assert(got.forall { case (q, nb, _) => q != nb })
    // SQL result ≡ the Scala operator surface on the same inputs
    val direct = graft.operators.Similarity.bruteForceTopK(
        spark.read.parquet(emb), spark.read.parquet(emb), k = 3)
      .filter(org.apache.spark.sql.functions.col("query_id") < 2)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(t => (t._1, t._3))
    assert(got.toSeq == direct.toSeq)
  }

  test("graft_dedup_pairs / graft_decontaminate TVFs accept catalog tables") {
    val docs = "/root/testdata/sf0.001/documents.parquet"
    engine.run(s"create table nd_corpus_t as select doc_id, text from read_parquet('$docs')")
    // planted: 2000000+id is a verbatim copy — every base doc with one is a pair
    engine.run("create table nd_dup_t as " +
      "select doc_id + 2000000 as doc_id, text from nd_corpus_t where doc_id % 10 = 0")
    engine.run("create table nd_both_t as " +
      "select * from nd_corpus_t union all select * from nd_dup_t")
    val pairs = engine.run(
      "select i, j from graft_dedup_pairs(nd_both_t, threshold => 0.9) order by i, j")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val planted = pairs.filter { case (i, j) => j == i + 2000000 }
    assert(planted.nonEmpty, "verbatim planted copies must be found")
    // contamination: eval set = 5 corpus docs verbatim → those docs flag
    engine.run("create table nd_eval_t as " +
      "select doc_id, text from nd_corpus_t where doc_id < 5 and length(text) > 200")
    val flagged = engine.run(
      "select doc_id from graft_decontaminate(nd_corpus_t, nd_eval_t, n => 8) order by doc_id")
      .collect().map(_.getLong(0)).toSet
    val evalIds = engine.run("select doc_id from nd_eval_t")
      .collect().map(_.getLong(0)).toSet
    assert(evalIds.subsetOf(flagged),
      s"verbatim eval docs must self-flag: $evalIds vs $flagged")
  }

  test("graft_pagerank / graft_bpe_merges TVFs compose with plain SQL") {
    // a tiny directed path as a VALUES-built pair table: 1→2→3
    engine.run("create table pr_edges_t(doc_a bigint, doc_b bigint)")
    engine.run("insert into pr_edges_t values (1, 2), (2, 3)")
    val pr = engine.run(
      "select doc_id, r from graft_pagerank(pr_edges_t, iters => 5, dangling => true) order by doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(pr.map(_._1).toSeq == Seq(1L, 2L, 3L))
    // dangling redistribution conserves mass over the 3 visible vertices
    assert(math.abs(pr.map(_._2).sum - 1.0) < 1e-9)
    try {
      val docs = "/root/testdata/sf0.001/documents.parquet"
      val merges = engine.run(
        s"select round, a, b from graft_bpe_merges('$docs', rounds => 2) " +
          "where cnt > 0 order by round")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      assert(merges.length == 2 && merges.map(_._1).toSeq == Seq(1, 2))
      assert(merges.forall(m => m._2.nonEmpty && m._3.nonEmpty))
    } finally graft.operators.Dedup.unpersistAll()
  }

  test("graft_hits TVF: planted out-star through pure SQL") {
    engine.run("create table hits_edges_t(doc_a bigint, doc_b bigint)")
    engine.run("insert into hits_edges_t values (0, 1), (0, 2), (0, 3)")
    val got = engine.run(
      "select doc_id, auth, hub from graft_hits(hits_edges_t, iters => 2) " +
        "order by doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // center: only hub (h2 = 9); leaves: only authorities (a2 = 3)
    assert(got.toSeq == Seq((0L, 0L, 9L), (1L, 3L, 0L),
      (2L, 3L, 0L), (3L, 3L, 0L)))
    // the operator's own iteration cap surfaces through the TVF
    val e = intercept[IllegalArgumentException] {
      engine.run("select * from graft_hits(hits_edges_t, iters => 5)")
    }
    assert(e.getMessage.contains("4 rounds"))
  }

  test("graft_radius TVF: radius retrieval equals the Scala operator") {
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val got = engine.run(
      s"select query_id, neighbor_id from graft_radius('$emb', '$emb', tau => 0.3) " +
        "order by query_id, neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // a query is never its own neighbor; SQL ≡ the Scala surface
    assert(got.forall { case (q, nb) => q != nb })
    val direct = graft.operators.Similarity.radiusSearch(
        spark.read.parquet(emb), spark.read.parquet(emb), tau = 0.3)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity)
    assert(got.toSeq == direct.toSeq)
    val e = intercept[IllegalArgumentException] {
      engine.run(s"select * from graft_radius('$emb', '$emb', tau => 1.5)")
    }
    assert(e.getMessage.contains("[-1, 1]"))
  }

  test("graft_louvain TVF: planted two-triangle graph merges within triangles") {
    engine.run("create table lv_edges_t(doc_a bigint, doc_b bigint)")
    engine.run("insert into lv_edges_t values (0, 1), (0, 2), (1, 2), " +
      "(3, 4), (3, 5), (4, 5), (2, 3)")
    val got = engine.run(
      "select doc_id, comm, gain_num from graft_louvain(lv_edges_t) " +
        "order by doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // m = 7; every vertex has a positive-gain neighbor (2m = 14 >
    // deg_u·deg_v ≤ 9 within triangles), so everyone moves; ties break
    // to the smallest neighbor id
    assert(got.forall { case (v, c, g) => g > 0 && c != v },
      got.mkString(", "))
    // vertices 0/1 (degree 2) prefer each other over the degree-3 hub 2
    assert(got(0)._2 == 1L && got(1)._2 == 0L)
    // vertices 4/5 prefer each other over the degree-3 hub 3
    assert(got(4)._2 == 5L && got(5)._2 == 4L)
  }

  test("graft_louvain_levels TVF: per-level report equals the Scala operator") {
    engine.run("create table lvl_edges_t(doc_a bigint, doc_b bigint)")
    // two triangles + a bridge (the graft_louvain fixture)
    engine.run("insert into lvl_edges_t values (0, 1), (0, 2), (1, 2), " +
      "(3, 4), (3, 5), (4, 5), (2, 3)")
    val got = engine.run(
      "select lvl, n_comms, l_in, q_ppm from " +
        "graft_louvain_levels(lvl_edges_t, levels => 2) order by lvl")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 3 && got(0)._1 == 0L && got(0)._2 == 6L
      && got(0)._3 == 0L, got.mkString(", "))
    // Q is non-decreasing per level (disjoint positive merges)
    assert(got.map(_._4).sliding(2).forall(w => w(1) >= w(0)))
    val direct = {
      val pairs = engine.table("lvl_edges_t")
      val verts = pairs.select(org.apache.spark.sql.functions.col("doc_a").as("doc_id"))
        .union(pairs.select(org.apache.spark.sql.functions.col("doc_b").as("doc_id")))
        .distinct()
      graft.operators.Graph.louvainLevels(verts, pairs, levels = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    }
    assert(got.toSeq == direct.toSeq)
    graft.operators.Dedup.unpersistAll()
    val e = intercept[IllegalArgumentException] {
      engine.run("select * from graft_louvain_levels(lvl_edges_t, levels => 9)")
    }
    assert(e.getMessage.contains("capped at 4 levels"))
  }

  test("governance TVFs: components → license_propagation / split_leakage in pure SQL") {
    // a near-dup pair (1 ≈ 2: one-word edit on a long text), an exact
    // copy of 1 (3), and an unrelated doc (4) — the component map the
    // governance suite closes over, built and consumed entirely in SQL
    engine.run("create table gov_docs_t(doc_id bigint, text varchar, " +
      "lang varchar, rnk int, split varchar)")
    val base = "the quick brown fox jumps over the lazy dog while rain " +
      "falls on the green hills and birds sing in tall trees"
    val near = base.replace("tall trees", "old trees")
    engine.run("insert into gov_docs_t values " +
      s"(1, '$base', 'en', 0, 'train'), " +
      s"(2, '$near', 'en', 3, 'train'), " +
      s"(3, '$base', 'en', 1, 'test'), " +
      "(4, 'completely unrelated content about databases', 'en', 2, 'train')")
    val comp = engine.run(
      "select doc_id, rep from graft_components(gov_docs_t, threshold => 0.9) order by doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) == comp(2L) && comp(1L) == comp(3L),
      s"near-dup trio must share a component: $comp")
    assert(comp(4L) != comp(1L), s"unrelated doc joined the component: $comp")
    // SQL ≡ the Scala operator on the same input
    val compDirect = graft.operators.Dedup.nearDupComponents(
        engine.table("gov_docs_t"), threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == compDirect)
    // license propagation: the component's max rank (doc 2's 3) governs
    // all three members; doc 4 keeps its own rank
    val lic = engine.run(
      "select doc_id, own_rank, comp_rank, upgraded from " +
        "graft_license_propagation(graft_components(gov_docs_t, threshold => 0.9), " +
        "gov_docs_t, rank => rnk) order by doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getBoolean(3)))
    assert(lic.toSeq == Seq((1L, 0, 3, true), (2L, 3, 3, false),
      (3L, 1, 3, true), (4L, 2, 2, false)), lic.mkString(", "))
    val licDirect = graft.operators.Dedup.licensePropagation(
        graft.operators.Dedup.nearDupComponents(engine.table("gov_docs_t"),
          threshold = 0.9),
        engine.table("gov_docs_t"), org.apache.spark.sql.functions.col("rnk"))
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(3), r.getBoolean(5)))
      .sortBy(_._1)
    assert(lic.toSeq == licDirect.toSeq)
    // split leakage: the trio straddles train/test (doc 3) — every
    // member flags; doc 4's singleton train component is clean
    val leak = engine.run(
      "select doc_id, n_splits, leaky from " +
        "graft_split_leakage(graft_components(gov_docs_t, threshold => 0.9), gov_docs_t) " +
        "order by doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(leak.map(l => l._1 -> l._3).toMap ==
      Map(1L -> true, 2L -> true, 3L -> true, 4L -> false),
      leak.mkString(", "))
    val leakDirect = graft.operators.Dedup.crossSplitLeakage(
        graft.operators.Dedup.nearDupComponents(engine.table("gov_docs_t"),
          threshold = 0.9),
        engine.table("gov_docs_t").select(
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("split")))
      .collect().map(r => (r.getLong(0), r.getLong(4), r.getBoolean(5)))
      .sortBy(_._1)
    assert(leak.toSeq == leakDirect.toSeq)
    graft.operators.Dedup.unpersistAll()
    // option hygiene: rank is required; threshold must be a probability
    val e1 = intercept[IllegalArgumentException] {
      engine.run("select * from graft_license_propagation(" +
        "graft_components(gov_docs_t), gov_docs_t)")
    }
    assert(e1.getMessage.contains("rank is required"))
    val e2 = intercept[IllegalArgumentException] {
      engine.run("select * from graft_components(gov_docs_t, threshold => 1.5)")
    }
    assert(e2.getMessage.contains("threshold must be in (0,1]"))
  }

  test("graft_span_excise TVF: both excision rules equal the Scala operators") {
    engine.run("create table spx_docs_t(doc_id bigint, text varchar)")
    val header = "all rights reserved contact the site admin team"
    engine.run("insert into spx_docs_t values " +
      s"(0, '$header alpha beta gamma'), " +
      s"(1, '$header delta epsilon'), " +
      "(2, 'nothing here repeats anywhere across the corpus at all')")
    val all = engine.run(
      "select doc_id, n_removed, clean_text from " +
        "graft_span_excise(spx_docs_t) order by doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(all.toSeq == Seq((0L, 8L, "alpha beta gamma"),
      (1L, 8L, "delta epsilon"),
      (2L, 0L, "nothing here repeats anywhere across the corpus at all")),
      all.mkString(", "))
    val allDirect = graft.operators.Dedup.spanExcise(engine.table("spx_docs_t"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    assert(all.toSeq == allDirect.toSeq)
    // keep_one: doc 0 owns the canonical occurrence and keeps its header
    val keep = engine.run(
      "select doc_id, n_removed, clean_text from " +
        "graft_span_excise(spx_docs_t, keep_one => true) order by doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(keep.toSeq == Seq((0L, 0L, s"$header alpha beta gamma"),
      (1L, 8L, "delta epsilon"),
      (2L, 0L, "nothing here repeats anywhere across the corpus at all")),
      keep.mkString(", "))
    val keepDirect = graft.operators.Dedup
      .spanExciseKeepOne(engine.table("spx_docs_t"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    assert(keep.toSeq == keepDirect.toSeq)
    graft.operators.Dedup.unpersistAll()
    val e = intercept[IllegalArgumentException] {
      engine.run("select * from graft_span_excise(spx_docs_t, n => 1)")
    }
    assert(e.getMessage.contains("n must be >= 2"))
  }

  test("graft_byte_encode rejects conflicting merges at one round; exact dups collapse") {
    engine.run("create table byte_mrg_docs_t(doc_id bigint, text varchar)")
    engine.run("insert into byte_mrg_docs_t values (1, 'aa ab aa')")
    engine.run("create table byte_mrg_bad_t(round int, a varchar, b varchar)")
    // two DIFFERENT merges claiming round 1: positional ranks make the
    // apply order plan-dependent — must fail fast, not silently pick one
    engine.run("insert into byte_mrg_bad_t values (1, 'a', 'a'), (1, 'a', 'b')")
    val e = intercept[IllegalArgumentException] {
      engine.run(
        "select * from graft_byte_encode(byte_mrg_docs_t, byte_mrg_bad_t)")
        .collect()
    }
    assert(e.getMessage.contains("merge rounds must be unique"),
      e.getMessage)
    // an exact duplicate row is a harmless re-statement of the same model
    engine.run("create table byte_mrg_dup_t(round int, a varchar, b varchar)")
    engine.run("insert into byte_mrg_dup_t values (1, 'a', 'a'), (1, 'a', 'a')")
    val n = engine.run(
      "select * from graft_byte_encode(byte_mrg_docs_t, byte_mrg_dup_t)")
      .collect().length
    assert(n == 1)
  }

  test("graft_byte_bpe_merges/byte_encode TVFs compose and equal the Scala chain") {
    import org.apache.spark.sql.functions._
    engine.run("create table byte_docs_t(doc_id bigint, text varchar)")
    engine.run("insert into byte_docs_t values " +
      "(1, 'the wind in the willows'), " +
      "(2, 'the window shows the town'), " +
      "(3, 'winter winds the winding road')")
    val docs = engine.table("byte_docs_t")
    // trainer TVF ≡ Scala trainer
    val gotM = engine.run(
      "select round, a, b, cnt, n_syms from " +
        "graft_byte_bpe_merges(byte_docs_t, rounds => 2) order by round")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    val wantM = graft.operators.Tokenizer
      .distributedByteMergeRounds(docs, rounds = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(gotM == wantM && gotM.length == 2)
    // composed encode-under-learned-table TVF ≡ the Scala chain
    val got = engine.run(
      "select doc_id, n_words, n_bytes, n_subwords, spw_ppm, bps_ppm from " +
        "graft_byte_encode(byte_docs_t, " +
        "graft_byte_bpe_merges(byte_docs_t, rounds => 2)) order by doc_id")
      .collect().map(_.toSeq).toSeq
    val merges = wantM.sortBy(_._1).map(t => (t._2, t._3))
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val want = docs.select(col("doc_id"),
        size(toks).cast("long").as("n_words"),
        aggregate(toks, lit(0L), (acc, x) => acc + octet_length(x))
          .as("n_bytes"),
        size(graft.operators.Tokenizer.byteSegment(col("text"), merges))
          .cast("long").as("n_subwords"))
      .withColumn("spw_ppm", expr("(1000000 * n_subwords) div n_words"))
      .withColumn("bps_ppm", expr("(1000000 * n_bytes) div n_subwords"))
      .orderBy(col("doc_id"))
      .collect().map(_.toSeq).toSeq
    assert(got == want && got.length == 3)
    // merging actually compresses: fewer subwords than raw byte symbols
    got.foreach { r =>
      assert(r(3).asInstanceOf[Long] <
        r(2).asInstanceOf[Long] + r(1).asInstanceOf[Long],
        s"subwords must undercut bytes+EOW after 2 merges: $r")
    }
    graft.operators.Dedup.unpersistAll()
  }

  test("graft_secret_scrub TVFs: scrub, index, and incremental compose via SQL") {
    engine.run("create table scrub_docs_t(doc_id bigint, text varchar)")
    engine.run("insert into scrub_docs_t values " +
      "(1, 'pin1111 key0001 alpha'), " +
      "(2, 'pin1111 key0002 beta'), " +
      "(3, 'pin1111 key0003 gamma'), " +
      "(4, 'no digits here')")
    val docs = engine.table("scrub_docs_t")
    // full-corpus scrub TVF ≡ Scala operator: shared pin survives,
    // unique keys redact
    val got = engine.run(
      "select doc_id, n_tokens, n_secrets, n_redacted, clean_text from " +
        "graft_secret_scrub(scrub_docs_t, k => 3) order by doc_id")
      .collect().map(_.toSeq).toSeq
    val want = graft.operators.Privacy.secretScrub(docs, k = 3)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got == want && got.length == 4)
    assert(got.head(4) == "pin1111 <secret> alpha")
    // index TVF ≡ Scala frequencies
    val gotIdx = engine.run(
      "select tok, nd from graft_secret_frequencies(scrub_docs_t) " +
        "order by tok").collect().map(_.toSeq).toSeq
    val wantIdx = graft.operators.Privacy.secretFrequencies(docs)
      .orderBy("tok").collect().map(_.toSeq).toSeq
    assert(gotIdx == wantIdx && gotIdx.nonEmpty)
    // incremental composes through the TVF fixpoint: a drop re-using the
    // base pin clears k on combined evidence; a fresh key does not
    engine.run("create table scrub_drop_t(doc_id bigint, text varchar)")
    engine.run("insert into scrub_drop_t values " +
      "(10, 'pin1111 key9910 fresh')")
    val gotInc = engine.run(
      "select doc_id, clean_text from graft_secret_scrub_incremental(" +
        "scrub_drop_t, graft_secret_frequencies(scrub_docs_t), k => 3) " +
        "order by doc_id").collect().map(_.toSeq).toSeq
    assert(gotInc == Seq(Seq(10L, "pin1111 <secret> fresh")))
    // the index is lifecycle-capable through the shared kind dispatch:
    // merge folds the drop in, delete takes it back out (roundtrip)
    val rt = engine.run(
      "select tok, nd from graft_index_delete(" +
        "graft_index_merge(graft_secret_frequencies(scrub_docs_t), " +
        "scrub_drop_t, kind => 'secrets'), scrub_drop_t, " +
        "kind => 'secrets') order by tok").collect().map(_.toSeq).toSeq
    assert(rt == gotIdx, "secrets merge→delete must roundtrip to the index")
  }

  test("graft_unigram_em TVF: self-composes to two EM rounds; feeds encode") {
    import org.apache.spark.sql.functions.col
    engine.run("create table em_docs_t(doc_id bigint, text varchar)")
    engine.run("insert into em_docs_t values " +
      "(1, 'abc ab c'), (2, 'ab abc abc'), (3, 'cab cab a')")
    engine.run("create table em_pieces_t(piece varchar, cost bigint)")
    engine.run("insert into em_pieces_t values " +
      "('ab', 1), ('a', 10), ('b', 10), ('c', 10), ('zz', 5)")
    val docs = engine.table("em_docs_t")
    val p0 = Seq(("ab", 1L), ("a", 10L), ("b", 10L), ("c", 10L),
      ("zz", 5L))
    // one round TVF ≡ Scala
    val got1 = engine.run(
      "select piece, n_uses, cost from graft_unigram_em(em_docs_t, " +
        "em_pieces_t) order by piece").collect().map(_.toSeq).toSeq
    val want1Df = graft.operators.Tokenizer.unigramEmStep(docs, p0)
    val want1 = want1Df.orderBy("piece").collect().map(_.toSeq).toSeq
    assert(got1 == want1 && got1.nonEmpty)
    // self-composition = two Scala EM rounds
    val got2 = engine.run(
      "select piece, n_uses, cost from graft_unigram_em(em_docs_t, " +
        "graft_unigram_em(em_docs_t, em_pieces_t)) order by piece")
      .collect().map(_.toSeq).toSeq
    val model1 = want1.map(r => (r(0).asInstanceOf[String],
      r(2).asInstanceOf[Long]))
    val want2 = graft.operators.Tokenizer.unigramEmStep(docs, model1)
      .orderBy("piece").collect().map(_.toSeq).toSeq
    assert(got2 == want2)
    // and the re-estimated model drives the encoder through SQL
    val enc = engine.run(
      "select doc_id, n_pieces from graft_unigram_encode(em_docs_t, " +
        "graft_unigram_em(em_docs_t, em_pieces_t)) order by doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(enc.length == 3 && enc.forall(_._2 > 0L))
  }

  test("graft_hyperball/graft_harmonic TVFs equal the Scala operators") {
    import org.apache.spark.sql.functions.col
    engine.run("create table hb_pairs_t(doc_a bigint, doc_b bigint)")
    engine.run("insert into hb_pairs_t values " +
      "(1, 2), (2, 3), (3, 4), (10, 11)")
    val pairs = engine.table("hb_pairs_t")
    val verts = Seq(1L, 2L, 3L, 4L, 10L, 11L)
    import spark.implicits._
    val vdf = verts.toDF("doc_id")
    val gotH = engine.run(
      "select doc_id, n_reach, harmonic_ppm from " +
        "graft_harmonic(hb_pairs_t, dist => 3) order by doc_id")
      .collect().map(_.toSeq).toSeq
    val wantH = graft.operators.Graph
      .harmonicCentralityExact(vdf, pairs, maxDist = 3)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(gotH == wantH && gotH.length == 6)
    // path end 1: d=1,2,3 → 1000000+500000+333333
    assert(gotH.head == Seq(1L, 3L, 1833333L))
    val gotB = engine.run(
      "select doc_id, harmonic_est, n_ball_est from " +
        "graft_hyperball(hb_pairs_t, dist => 3, m => 64) order by doc_id")
      .collect().map(_.toSeq).toSeq
    val wantB = graft.operators.Graph
      .harmonicCentralityHll(vdf, pairs, maxDist = 3, m = 64)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(gotB == wantB && gotB.length == 6)
    graft.operators.Dedup.unpersistAll()
  }

  test("graft_index_delete/merge kind charspan: the d27 index lifecycle via SQL") {
    engine.run("create table cs_base_t(doc_id bigint, text varchar)")
    engine.run("insert into cs_base_t values " +
      "(1, 'alpha 0123456789abcdefghijklmnopqrstuvwxyz-end beta'), " +
      "(2, 'gamma 0123456789abcdefghijklmnopqrstuvwxyz-end delta')")
    engine.run("create table cs_drop_t(doc_id bigint, text varchar)")
    engine.run("insert into cs_drop_t values " +
      "(100, 'fresh unrelated drop document body entirely new here')")
    val base = engine.table("cs_base_t")
    val drop = engine.table("cs_drop_t")
    val idx = graft.operators.Dedup.spanIndexCountedChars(base, n = 40)
    idx.createOrReplaceTempView("cs_idx")
    def rows(sql: String) = engine.run(sql).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // merge then delete roundtrips to the original index
    val rt = rows("select gh, nd from graft_index_delete(" +
      "graft_index_merge(cs_idx, cs_drop_t, kind => 'charspan'), " +
      "cs_drop_t, kind => 'charspan') order by gh")
    val want = idx.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rt == want && want.nonEmpty)
    // delete matches the Scala operator
    val del = rows("select gh, nd from graft_index_delete(cs_idx, " +
      "cs_base_t, kind => 'charspan')")
    assert(del.isEmpty, "revoking every holder must empty the index")
    graft.operators.Dedup.unpersistAll()
  }

  test("graft_components_index + index_delete/merge kind components: the d26 lifecycle via SQL") {
    import org.apache.spark.sql.functions.col
    engine.run("create table ci_docs_t(doc_id bigint, text varchar, lang varchar)")
    val ts = (1 to 40).map(i => s"tok$i")
    val tA = ts.mkString(" ")
    val tA1 = (ts.dropRight(1) :+ "xx").mkString(" ")
    engine.run("insert into ci_docs_t values " +
      s"(1, '$tA', 'en'), (2, '$tA', 'en'), (3, '$tA1', 'en'), " +
      "(10, 'a separate singleton document here', 'en')")
    engine.run("create table ci_drop_t(doc_id bigint, text varchar, lang varchar)")
    engine.run("insert into ci_drop_t values " +
      s"(100, '$tA', 'en'), (101, 'fresh unrelated drop text', 'en')")
    engine.run("create table ci_rev_t(doc_id bigint)")
    engine.run("insert into ci_rev_t values (1)")
    def m(sql: String) = engine.run(sql).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // build: the member projection is the d8 closure
    val got = m("select doc_id, rep from graft_components_index(ci_docs_t) " +
      "where dst is null order by doc_id")
    val want = graft.operators.Dedup
      .nearDupComponents(engine.table("ci_docs_t"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
    // merge then delete roundtrips to the original served map
    val rt = m("select doc_id, rep from graft_index_delete(" +
      "graft_index_merge(graft_components_index(ci_docs_t), ci_drop_t, " +
      "kind => 'components'), ci_drop_t, kind => 'components') " +
      "where dst is null order by doc_id")
    assert(rt == want, "components merge→delete must roundtrip")
    // delete equals the Scala operator
    val del = m("select doc_id, rep from graft_index_delete(" +
      "graft_components_index(ci_docs_t), ci_rev_t, " +
      "kind => 'components') where dst is null order by doc_id")
    val wantDel = graft.operators.Dedup.nearDupComponents(
        engine.table("ci_docs_t").filter(col("doc_id") =!= 1L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(del == wantDel, s"$del vs $wantDel")
    graft.operators.Dedup.unpersistAll()
  }

  test("graft_takedown_audit: all eight stores; retention expiry feeds it") {
    engine.run("create table ta_docs_t(doc_id bigint, lang varchar, " +
      "source varchar, ingest_day bigint, text varchar)")
    engine.run("insert into ta_docs_t values " +
      "(1, 'en', 'web', 10, 'alpha beta gamma delta code7777'), " +
      "(2, 'en', 'web', 300, 'alpha beta gamma delta code7777'), " +
      "(3, 'en', 'book', 300, 'unique text here nothing shared code9999')")
    engine.run("create table ta_policy_t(source varchar, retention_days bigint)")
    engine.run("insert into ta_policy_t values ('web', 100)")
    engine.run("create table ta_mem_t(vec_id bigint, cell int)")
    engine.run("insert into ta_mem_t values (1, 1), (2, 1), (3, 2)")
    engine.run("create table ta_rv_t(vec_id bigint)")
    engine.run("insert into ta_rv_t values (3)")
    // expiry at day 359: doc 1 (web, age 349 >= 100) expires; doc 2
    // (age 59) and doc 3 (book — no policy, never expires) survive
    val got = engine.run("select store, n_before, n_after, n_changed " +
      "from graft_takedown_audit(ta_docs_t, " +
      "graft_retention_expiry(ta_docs_t, ta_policy_t, as_of => 359), " +
      "ta_mem_t, ta_rv_t) order by store").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq == Seq("charspan_index", "components",
      "ivf_members", "mh_index", "prefix_index", "secrets_index",
      "span_index", "tfidf_postings"), got.mkString(", "))
    // the clique {1,2} loses its rep: doc 2 takes over (its rep
    // changes 1 → 2 — the one changed survivor)
    assert(got.find(_._1 == "components").get ==
      (("components", 3L, 2L, 1L)), got.mkString(", "))
    assert(got.find(_._1 == "ivf_members").get ==
      (("ivf_members", 3L, 2L, 1L)), got.mkString(", "))
    // the SQL path is the Scala operator verbatim
    val want = graft.operators.Audit.takedownAudit(
        engine.table("ta_docs_t"),
        graft.operators.Privacy.retentionExpiry(engine.table("ta_docs_t"),
          engine.table("ta_policy_t"), 359L),
        engine.table("ta_mem_t"), engine.table("ta_rv_t")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == want.toSeq)
    graft.operators.Dedup.unpersistAll()
  }

  test("graft_index_delete/merge kind curriculum: the s16 ranking lifecycle via SQL") {
    import org.apache.spark.sql.functions.col
    engine.run("create table cu_docs_t(doc_id bigint, source varchar)")
    engine.run("insert into cu_docs_t values " +
      "(1, 'a'), (2, 'a'), (3, 'a'), (4, 'b')")
    engine.run("create table cu_drop_t(doc_id bigint, source varchar)")
    engine.run("insert into cu_drop_t values (10, 'a'), (11, 'c')")
    // an empty store bootstraps through merge — the SQL build path
    engine.run("create table cu_empty_t(source varchar, doc_id bigint, " +
      "h varchar, rank bigint, n_src bigint)")
    def rows(sql: String) = engine.run(sql).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    def scalaRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    val boot = rows("select source, doc_id, h, rank, n_src from " +
      "graft_index_merge(cu_empty_t, cu_docs_t, kind => 'curriculum', " +
      "k => 2) order by source, rank")
    assert(boot == scalaRows(graft.operators.Curriculum.curriculumIndex(
      engine.table("cu_docs_t"), k = 2)), boot.toString)
    // merge a drop in, then revoke it: counts restore and rows are the
    // per-source prefix of the bootstrap (the documented contract)
    val rt = rows("select source, doc_id, h, rank, n_src from " +
      "graft_index_delete(graft_index_merge(graft_index_merge(" +
      "cu_empty_t, cu_docs_t, kind => 'curriculum', k => 2), " +
      "cu_drop_t, kind => 'curriculum', k => 2), cu_drop_t, " +
      "kind => 'curriculum') order by source, rank")
    assert(rt.map(t => (t._1, t._5)) == boot.map(t => (t._1, t._5)),
      "counts must roundtrip exactly")
    assert(rt.subsetOf(boot), s"roundtrip rows are the bootstrap's prefix: $rt")
    // k on a DELETE errors loudly (no delete kind accepts it, so the
    // TVF-level unknown-option check fires before kind dispatch)
    val e = intercept[IllegalArgumentException] {
      engine.run("select * from graft_index_delete(" +
        "cu_empty_t, cu_drop_t, kind => 'curriculum', k => 5)")
    }
    assert(e.getMessage.contains("unknown option(s) k"), e.getMessage)
    graft.operators.Dedup.unpersistAll()
  }

  test("graft_curriculum_delete_buffered: exact delete via SQL; exhaustion raises") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Curriculum
    import spark.implicits._
    val k = 3
    val docs = (1L to 8L).map(i => (i, "a")).toDF("doc_id", "source")
    Curriculum.curriculumIndex(docs, k)
      .createOrReplaceTempView("cb_idx_t")
    Curriculum.curriculumOverflow(docs, k, pad = 2)
      .createOrReplaceTempView("cb_over_t")
    val idxTop = engine.run("select doc_id from cb_idx_t order by rank")
      .collect().map(_.getLong(0)).toSeq
    // revoke 2 ranked docs (= pad): SQL path ≡ Scala ≡ the full rebuild
    Seq((idxTop.head, "a"), (idxTop(1), "a")).toDF("doc_id", "source")
      .createOrReplaceTempView("cb_rev_t")
    val got = engine.run("select source, doc_id, h, rank, n_src from " +
      s"graft_curriculum_delete_buffered(cb_idx_t, cb_rev_t, cb_over_t, " +
      s"k => $k) order by rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    val rebuilt = Curriculum.curriculumIndex(
        docs.filter(!col("doc_id").isin(idxTop.head, idxTop(1))), k)
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == rebuilt, s"SQL buffered delete must equal the rebuild: " +
      s"$got vs $rebuilt")
    // pad+1 stored revocations exhaust the buffer — the plan raises
    Seq((idxTop.head, "a"), (idxTop(1), "a"), (idxTop(2), "a"))
      .toDF("doc_id", "source").createOrReplaceTempView("cb_rev3_t")
    val ex = intercept[Throwable] {
      engine.run("select * from graft_curriculum_delete_buffered(" +
        s"cb_idx_t, cb_rev3_t, cb_over_t, k => $k)").collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else (Option(t.getMessage).getOrElse("") + "\n" +
        chain(t.getCause))
    assert(chain(ex).contains("overflow buffer exhausted"), chain(ex))
    graft.operators.Dedup.unpersistAll()
  }

  test("graft_index_delete/merge: kind-mismatched options error, never silently default") {
    engine.run("create table ko_docs_t(doc_id bigint, text varchar)")
    engine.run("insert into ko_docs_t values (1, 'one two three')")
    val e1 = intercept[IllegalArgumentException] {
      engine.run("select * from graft_index_delete(" +
        "ko_docs_t, ko_docs_t, kind => 'secrets', n => 8)")
    }
    assert(e1.getMessage.contains("do not apply to kind 'secrets'"),
      e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      engine.run("select * from graft_index_merge(" +
        "ko_docs_t, ko_docs_t, kind => 'charspan', run => 5)")
    }
    assert(e2.getMessage.contains("do not apply to kind 'charspan'"),
      e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      engine.run("select * from graft_index_delete(" +
        "ko_docs_t, ko_docs_t, kind => 'postings', n => 4)")
    }
    assert(e3.getMessage.contains("do not apply to kind 'postings'"),
      e3.getMessage)
    // a non-store relation pointed at the components lifecycle fails
    // with a store-shaped message, not an internal-join analysis error
    val e4 = intercept[IllegalArgumentException] {
      engine.run("select * from graft_index_delete(" +
        "ko_docs_t, ko_docs_t, kind => 'components')")
    }
    assert(e4.getMessage.contains("not a components store"), e4.getMessage)
  }

  test("graft_unigram_em: conflicting duplicate piece rows resolve to min cost") {
    engine.run("create table emd_docs_t(doc_id bigint, text varchar)")
    engine.run("insert into emd_docs_t values (1, 'abc ab c'), (2, 'ab ab')")
    engine.run("create table emd_pieces_t(piece varchar, cost bigint)")
    // 'ab' appears twice with conflicting costs — an unordered collect
    // would ship whichever row the plan surfaced first
    engine.run("insert into emd_pieces_t values " +
      "('ab', 9), ('ab', 3), ('a', 10), ('b', 10), ('c', 10)")
    val got = engine.run(
      "select piece, n_uses, cost from graft_unigram_em(" +
        "emd_docs_t, emd_pieces_t) order by piece")
      .collect().map(_.toSeq).toSeq
    val want = graft.operators.Tokenizer.unigramEmStep(
        engine.table("emd_docs_t"),
        Seq(("a", 10L), ("ab", 3L), ("b", 10L), ("c", 10L)))
      .orderBy("piece").collect().map(_.toSeq).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("graft_retention_expiry TVF: expiry set composes into graft_index_delete") {
    engine.run("create table ret_docs_t(" +
      "doc_id bigint, source varchar, ingest_day bigint, text varchar)")
    engine.run("insert into ret_docs_t values " +
      "(1, 'web', 50, 'aa bb cc dd aa bb cc dd'), " +   // expired (age 50)
      "(2, 'web', 90, 'aa bb cc dd ee ff gg hh'), " +   // kept (age 10)
      "(3, 'feed', 0, 'zz yy xx ww vv uu tt ss')")      // no policy → kept
    engine.run("create table ret_policy_t(source varchar, retention_days bigint)")
    engine.run("insert into ret_policy_t values ('web', 30)")
    val got = engine.run(
      "select doc_id, age_days, retention_days from " +
        "graft_retention_expiry(ret_docs_t, ret_policy_t, as_of => 100) " +
        "order by doc_id").collect().map(_.toSeq).toSeq
    assert(got == Seq(Seq(1L, 50L, 30L)))
    // composes: the expiry set feeds the span-index takedown and the
    // result equals rebuilding the index over the survivors
    val docs = engine.table("ret_docs_t")
    val full = graft.operators.Dedup.spanIndexCounted(docs, n = 3)
    full.createOrReplaceTempView("ret_span_idx")
    val gotDel = engine.run(
      "select gh, nd from graft_index_delete(ret_span_idx, " +
        "graft_retention_expiry(ret_docs_t, ret_policy_t, as_of => 100), " +
        "kind => 'span', n => 3) order by gh")
      .collect().map(_.toSeq).toSeq
    val survivors = docs.where("doc_id <> 1")
    val want = graft.operators.Dedup.spanIndexCounted(survivors, n = 3)
      .orderBy("gh").collect().map(_.toSeq).toSeq
    assert(gotDel == want && gotDel.nonEmpty)
    graft.operators.Dedup.unpersistAll()
  }

  test("graft_index_delete TVF: takedown per store equals the Scala operators") {
    import org.apache.spark.sql.functions.col
    engine.run("create table idel_docs_t(doc_id bigint, text varchar)")
    engine.run("insert into idel_docs_t values " +
      "(1, 'w1 w2 w3 w4 w5 w6 w7 w8 tail one'), " +
      "(2, 'w1 w2 w3 w4 w5 w6 w7 w8 tail two'), " +
      "(3, 'u1 u2 u3 u4 u5 u6 u7 u8 unique'), " +
      "(4, 'short doc')")
    engine.run("create table idel_rev_t(doc_id bigint, text varchar)")
    engine.run("insert into idel_rev_t values " +
      "(2, 'w1 w2 w3 w4 w5 w6 w7 w8 tail two'), (4, 'short doc')")
    val docs = engine.table("idel_docs_t")
    val rev = engine.table("idel_rev_t")
    // span store (default kind)
    graft.operators.Dedup.spanIndexCounted(docs)
      .createOrReplaceTempView("idel_span_idx")
    val gotSpan = engine.run(
      "select gh, nd from graft_index_delete(idel_span_idx, idel_rev_t) " +
        "order by gh")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val wantSpan = graft.operators.Dedup.spanIndexDelete(
        graft.operators.Dedup.spanIndexCounted(docs), rev)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(gotSpan == wantSpan && gotSpan.nonEmpty)
    // postings store
    graft.operators.Dedup.tfidfPostingsFull(docs)
      .createOrReplaceTempView("idel_post_idx")
    val gotPost = engine.run(
      "select gram, doc_id, tf, df, n_docs from " +
        "graft_index_delete(idel_post_idx, idel_rev_t, kind => 'postings') " +
        "order by gram, doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val wantPost = graft.operators.Dedup.postingsDelete(
        graft.operators.Dedup.tfidfPostingsFull(docs), rev.select(col("doc_id")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq.sortBy(t => (t._1, t._2))
    assert(gotPost == wantPost && gotPost.nonEmpty)
    // n_docs dropped by BOTH revoked docs, including the gram-less one
    assert(gotPost.forall(_._5 == 2L), gotPost.mkString(", "))
    // minhash store
    graft.operators.Dedup.minhashIndex(docs, maxBandBucket = 0)
      .createOrReplaceTempView("idel_mh_idx")
    val gotMh = engine.run(
      "select doc_id, band, bucket from " +
        "graft_index_delete(idel_mh_idx, idel_rev_t, kind => 'minhash') " +
        "order by doc_id, band")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(gotMh.nonEmpty && !gotMh.exists(t => t._1 == 2L || t._1 == 4L))
    // unknown kind errors
    val e = intercept[IllegalArgumentException] {
      engine.run("select * from graft_index_delete(" +
        "idel_span_idx, idel_rev_t, kind => 'nope')")
    }
    assert(e.getMessage.contains("kind must be one of"))
    // the component-map takedown composes in pure SQL too: delete the
    // map built by graft_components, compare to the closure rebuilt
    // over the survivors
    engine.run("create table idel_cdocs_t(doc_id bigint, text varchar, lang varchar)")
    engine.run("insert into idel_cdocs_t values " +
      "(1, 'alpha beta gamma delta epsilon', 'en'), " +
      "(2, 'alpha beta gamma delta epsilon', 'en'), " + // exact dup of 1
      "(3, 'unrelated words entirely here now', 'en')")
    val gotComp = engine.run(
      "select doc_id, rep from graft_components_delete(" +
        "graft_components(idel_cdocs_t), idel_cdocs_t, idel_rev_t) " +
        "order by doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // revoking doc 2 (from idel_rev_t) leaves 1 and 3 as singletons
    assert(gotComp == Seq((1L, 1L), (3L, 3L)), gotComp.toString)
    // the merge TVF is the exact inverse: merging the revoked docs back
    // into the deleted index restores the original, in pure SQL
    val roundtrip = engine.run(
      "select gh, nd from graft_index_merge(" +
        "graft_index_delete(idel_span_idx, idel_rev_t), idel_rev_t) " +
        "order by gh")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val original = graft.operators.Dedup.spanIndexCounted(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(roundtrip == original,
      "merge(delete(idx, rev), rev) must restore the index in SQL")
    graft.operators.Dedup.unpersistAll()
  }

  test("x26-style compaction audit composes in SQL: counts over graft_index_merge") {
    // the x26 discipline through the engine: per-store (n_before,
    // n_after, n_added) where n_after counts the MERGE TVF's output
    // over a stale store — one SQL statement, two kinds
    engine.run("create table xca_docs_t(doc_id bigint, text varchar, " +
      "lang varchar, source varchar)")
    engine.run("insert into xca_docs_t values " +
      "(1, 'a1 a2 a3 a4 a5 a6 a7 a8 a9', 'en', 'web'), " +
      "(2, 'b1 b2 b3 b4 b5 b6 b7 b8', 'en', 'web'), " +
      "(3, 'c1 c2 c3 c4 c5 c6 c7 c8 c9 c10', 'en', 'book')")
    engine.run("create table xca_drop_t(doc_id bigint, text varchar, " +
      "lang varchar, source varchar)")
    engine.run("insert into xca_drop_t values " +
      "(10, 'a1 a2 a3 a4 a5 a6 a7 a8 fresh', 'en', 'web'), " +
      "(11, 'd1 d2 d3 d4 d5 d6 d7 d8', 'en', 'forum')")
    graft.operators.Dedup.spanIndexCounted(engine.table("xca_docs_t"))
      .createOrReplaceTempView("xca_span_idx")
    graft.operators.Curriculum.curriculumIndex(engine.table("xca_docs_t"))
      .createOrReplaceTempView("xca_cur_idx")
    val got = engine.run(
      "select 'span_index' as store, " +
        "(select count(*) from xca_span_idx) as n_before, " +
        "(select count(*) from graft_index_merge(xca_span_idx, xca_drop_t)) as n_after " +
        "union all select 'curriculum_index', " +
        "(select count(*) from xca_cur_idx), " +
        "(select count(*) from graft_index_merge(xca_cur_idx, xca_drop_t, " +
        "kind => 'curriculum')) order by store")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    def cnt(df: org.apache.spark.sql.DataFrame): Long = df.count()
    val wantSpanB = cnt(graft.operators.Dedup.spanIndexCounted(
      engine.table("xca_docs_t")))
    val wantSpanA = cnt(graft.operators.Dedup.spanIndexMerge(
      graft.operators.Dedup.spanIndexCounted(engine.table("xca_docs_t")),
      engine.table("xca_drop_t")))
    val wantCurB = cnt(graft.operators.Curriculum.curriculumIndex(
      engine.table("xca_docs_t")))
    val wantCurA = cnt(graft.operators.Curriculum.curriculumIndexMerge(
      graft.operators.Curriculum.curriculumIndex(engine.table("xca_docs_t")),
      engine.table("xca_drop_t")))
    assert(got == Seq(
      ("curriculum_index", wantCurB, wantCurA),
      ("span_index", wantSpanB, wantSpanA)), got.mkString(", "))
    // and the merge counts equal a rebuild on the union — the
    // compaction identity the x26 gate certifies at corpus scale
    val union = engine.table("xca_docs_t")
      .unionByName(engine.table("xca_drop_t"))
    assert(wantSpanA == cnt(graft.operators.Dedup.spanIndexCounted(union)))
    assert(wantCurA == cnt(graft.operators.Curriculum.curriculumIndex(union)))
    graft.operators.Dedup.unpersistAll()
  }

  test("graft_incremental_dedup TVF: planted near-dup flagged, fresh doc is new") {
    engine.run("create table inc_base_t(doc_id bigint, text varchar, lang varchar)")
    engine.run("insert into inc_base_t values " +
      "(1, 'alpha beta gamma delta epsilon', 'en'), " +
      "(2, 'totally different content here now', 'en')")
    engine.run("create table inc_probe_t(doc_id bigint, text varchar, lang varchar)")
    engine.run("insert into inc_probe_t values " +
      "(10, 'alpha beta gamma delta epsilon', 'en'), " +        // exact dup of 1
      "(11, 'unrelated brand new words entirely', 'en'), " +    // fresh
      "(12, 'alpha beta gamma delta epsilon', 'de')")           // lang-blocked
    val got = engine.run(
      "select doc_id, n_dups, first_dup, is_new from " +
        "graft_incremental_dedup(inc_base_t, inc_probe_t) order by doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.toSeq == Seq((10L, 1L, 1L, false), (11L, 0L, -1L, true),
      (12L, 0L, -1L, true)), got.mkString(", "))
    // SQL ≡ the Scala operator surface on the same inputs
    val direct = graft.operators.Dedup.incrementalDedup(
        engine.table("inc_base_t"), engine.table("inc_probe_t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(got.toSeq == direct.toSeq)
    graft.operators.Dedup.unpersistAll()
    val e = intercept[IllegalArgumentException] {
      engine.run("select * from graft_incremental_dedup(inc_base_t, inc_probe_t, num => 6, den => 5)")
    }
    assert(e.getMessage.contains("num/den"))
  }

  test("graft_incremental_minhash TVF: shingle-domain drop probe via SQL") {
    engine.run("create table mh_base_t(doc_id bigint, text varchar)")
    engine.run("insert into mh_base_t values " +
      "(1, 'the quick brown fox jumps over the lazy dog near the old stone bridge'), " +
      "(2, 'totally different content about databases and indexes and planners')")
    engine.run("create table mh_probe_t(doc_id bigint, text varchar)")
    engine.run("insert into mh_probe_t values " +
      "(10, 'the quick brown fox jumps over the lazy dog near the old stone bridge'), " + // exact dup of 1
      "(11, 'unrelated brand new words entirely written here today'), " +                  // fresh
      "(12, 'so')")                                                                        // < 3 tokens
    val got = engine.run(
      "select doc_id, n_dups, first_dup, is_new from " +
        "graft_incremental_minhash(mh_base_t, mh_probe_t) order by doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.toSeq == Seq((10L, 1L, 1L, false), (11L, 0L, -1L, true),
      (12L, 0L, -1L, true)), got.mkString(", "))
    // SQL ≡ the Scala operator surface on the same inputs
    val direct = graft.operators.Dedup.incrementalMinhash(
        graft.operators.Dedup.minhashIndex(engine.table("mh_base_t")),
        engine.table("mh_probe_t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(got.toSeq == direct.toSeq)
    val e = intercept[IllegalArgumentException] {
      engine.run("select * from graft_incremental_minhash(mh_base_t, mh_probe_t, num => 6, den => 5)")
    }
    assert(e.getMessage.contains("num/den"))
  }

  test("graft_unigram_lm TVF: trained pieces equal the Scala trainer") {
    engine.run("create table ug_docs_t(doc_id bigint, text varchar)")
    engine.run("insert into ug_docs_t values " +
      "(1, 'fast scan fast scan table table'), " +
      "(2, 'scan the table the fast row'), " +
      "(3, 'row value row value scan')")
    val got = engine.run(
      "select piece, n_uses from graft_unigram_lm(ug_docs_t, vocab => 8) " +
        "order by piece")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    graft.operators.Dedup.unpersistAll()
    val direct = graft.operators.Tokenizer
      .unigramLm(engine.table("ug_docs_t"), vocabTarget = 8)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    graft.operators.Dedup.unpersistAll()
    assert(got.toSeq == direct.toSeq, got.mkString(", "))
    assert(got.nonEmpty && got.exists(_._1.length > 1),
      s"expected at least one learned multi-char piece: ${got.mkString(", ")}")
    val e = intercept[Exception] {
      engine.run("select * from graft_unigram_lm(ug_docs_t, pieces => 9)")
    }
    assert(e.getMessage.contains("unknown option"))
  }

  test("graft_unigram_encode TVF: fixed-table Viterbi encode equals the Scala pass") {
    engine.run("create table ue_docs_t(doc_id bigint, text varchar)")
    engine.run("insert into ue_docs_t values " +
      "(1, 'table scan data'), (2, 'the fast row'), (3, '')")
    engine.run("create table ue_pieces_t(piece varchar, cost bigint)")
    engine.run("insert into ue_pieces_t values " +
      "('ta', 7169), ('tab', 8193), ('le', 7169), ('scan', 9217), " +
      "('data', 9217), ('the', 8193), ('row', 8193), ('a', 5121)")
    val got = engine.run(
      "select doc_id, n_words, n_pieces, ppw_ppm from " +
        "graft_unigram_encode(ue_docs_t, ue_pieces_t, char_cost => 6145) " +
        "order by doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 3 has no words and must be omitted (the u7 contract)
    assert(got.map(_._1).toSeq == Seq(1L, 2L), got.mkString(", "))
    val pieces = Seq("ta" -> 7169L, "tab" -> 8193L, "le" -> 7169L,
      "scan" -> 9217L, "data" -> 9217L, "the" -> 8193L, "row" -> 8193L,
      "a" -> 5121L)
    val direct = {
      import org.apache.spark.sql.functions.{col, expr, size}
      engine.table("ue_docs_t").select(col("doc_id"),
          size(graft.functions.TextFunctions.tokens(col("text")))
            .cast("long").as("n_words"),
          size(graft.operators.Tokenizer.unigramSegment(
            col("text"), pieces, 6145L)).cast("long").as("n_pieces"))
        .filter(col("n_words") > 0)
        .withColumn("ppw_ppm", expr("(1000000 * n_pieces) div n_words"))
        .orderBy(col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    }
    assert(got.toSeq == direct.toSeq, got.mkString(", "))
  }

  test("graft_ivf_append TVF: drift report equals the Scala operator") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_ivfapp")
    val cellsPath = base.resolve("cells.parquet").toString
    val dropPath = base.resolve("drop.parquet").toString
    Seq((1, Seq(1.0, 0.0)), (2, Seq(0.0, 1.0)))
      .toDF("centroid_id", "centroid").write.parquet(cellsPath) // 1..nlist ids
    Seq((1L, Seq(0.9, 0.1)), (2L, Seq(0.1, 0.8)), (3L, Seq(1.0, 0.0)))
      .toDF("vec_id", "embedding").write.parquet(dropPath)
    val got = engine.run(
      s"select cell, n_new, cos from " +
        s"graft_ivf_append('$cellsPath', '$dropPath') order by cell")
      .collect().map(_.toString).toSeq
    val direct = graft.operators.Similarity.ivfDrift(
        spark.read.parquet(cellsPath), spark.read.parquet(dropPath))
      .orderBy("cell")
      .collect().map(_.toString).toSeq
    assert(got == direct, got.mkString(", "))
    assert(got.size == 2, s"every index cell reports: $got")
  }

  test("graft_knn_label TVF: weak labels equal the Scala operator") {
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val got = engine.run(
      s"select query_id, pred_label, votes from " +
        s"graft_knn_label('$emb', '$emb', k => 5) order by query_id")
      .collect().map(_.toString).toSeq
    val direct = graft.operators.Similarity.knnLabel(
        spark.read.parquet(emb), spark.read.parquet(emb), k = 5)
      .orderBy("query_id")
      .collect().map(_.toString).toSeq
    assert(got.nonEmpty && got == direct)
  }

  test("graft_semantic_decon TVF: flags equal the Scala operator") {
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    engine.run("create table sem_corpus_t as " +
      s"select * from read_parquet('$emb') where vec_id % 10 <> 7")
    engine.run("create table sem_eval_t as " +
      s"select * from read_parquet('$emb') where vec_id % 10 = 7")
    val got = engine.run(
      "select vec_id, n_eval_hits, max_sim from " +
        "graft_semantic_decon(sem_corpus_t, sem_eval_t, tau => 0.35) " +
        "order by vec_id")
      .collect().map(_.toString).toSeq
    val direct = graft.operators.Decontaminate.semanticFlags(
        engine.table("sem_corpus_t"), engine.table("sem_eval_t"), tau = 0.35)
      .orderBy("vec_id")
      .collect().map(_.toString).toSeq
    assert(got.nonEmpty && got == direct)
    val e = intercept[IllegalArgumentException] {
      engine.run("select * from graft_semantic_decon(sem_corpus_t, sem_eval_t, tau => 1.5)")
    }
    assert(e.getMessage.contains("[-1, 1]"))
  }

  test("graft_asof TVF: backward and forward equal the Scala operator") {
    engine.run("create table asof_l_t(user_id bigint, ts bigint, x varchar)")
    engine.run("insert into asof_l_t values (1, 10, 'a'), (1, 20, 'b'), (2, 15, 'c')")
    engine.run("create table asof_r_t(user_id bigint, ts bigint, value double)")
    engine.run("insert into asof_r_t values (1, 5, 1.5), (1, 18, 2.5), (2, 30, 9.0)")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    val bwd = rows(engine.run(
      "select user_id, ts, x, value from graft_asof(asof_l_t, asof_r_t, " +
        "key => user_id, ord => ts, payload => value) order by user_id, ts"))
    assert(bwd == Seq((1L, 10L, "a", Some(1.5)), (1L, 20L, "b", Some(2.5)),
      (2L, 15L, "c", None)), bwd.mkString(", "))
    val fwd = rows(engine.run(
      "select user_id, ts, x, value from graft_asof(asof_l_t, asof_r_t, " +
        "key => user_id, ord => ts, payload => 'value', forward => true) " +
        "order by user_id, ts"))
    assert(fwd == Seq((1L, 10L, "a", Some(2.5)), (1L, 20L, "b", None),
      (2L, 15L, "c", Some(9.0))), fwd.mkString(", "))
    // SQL ≡ the Scala operator surface on the same inputs
    val direct = rows(graft.operators.AsofJoin.backward(
        engine.table("asof_l_t"), engine.table("asof_r_t"),
        "user_id", "ts", Seq("value"))
      .orderBy("user_id", "ts"))
    assert(bwd == direct)
    val e = intercept[IllegalArgumentException] {
      engine.run("select * from graft_asof(asof_l_t, asof_r_t, " +
        "key => user_id, ord => ts)")
    }
    assert(e.getMessage.contains("payload"))
  }

  test("COPY TO BUCKET_BY: named bucket table roundtrips; bad combos error") {
    engine.run("create table bkt_src_t(k bigint, v varchar)")
    engine.run("insert into bkt_src_t values (1, 'a'), (2, 'b'), (3, 'c')")
    val tmp = java.nio.file.Files.createTempDirectory("graft_copy_bkt").toString
    engine.run(s"copy bkt_src_t to '$tmp/bkt_out' " +
      "(bucket_by (k), buckets 4, bucket_table bkt_named_t)")
    assert(spark.table("bkt_named_t").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // the format guard PARSES the option value — every spelling of an
    // incompatible format errors instead of silently writing parquet
    for (bad <- Seq("sort_by (k)", "partition_by (v)", "format csv",
        "FORMAT  CSV", "format 'csv'", "format json", "format 'JSON'"))
      assert(intercept[IllegalArgumentException] {
        engine.run(s"copy bkt_src_t to '$tmp/bkt_bad' (bucket_by (k), $bad)")
      }.getMessage.contains("BUCKET_BY does not combine"))
    // the explicit parquet spelling is the layout's own format — allowed
    engine.run(s"copy bkt_src_t to '$tmp/bkt_pq' " +
      "(bucket_by (k), buckets 2, bucket_table bkt_pq_t, format parquet)")
    assert(spark.table("bkt_pq_t").count() == 3)
    spark.sql("drop table if exists bkt_pq_t")
    assert(intercept[IllegalArgumentException] {
      engine.run(s"copy bkt_src_t to '$tmp/bkt_bad2' (bucket_by (), buckets 4)")
    }.getMessage.contains("names no columns"))
    spark.sql("drop table if exists bkt_named_t")
  }

  test("graft_* TVF argument validation: typos, bad values, arity, duplicates") {
    // all validation fires BEFORE any relation resolves, so made-up table
    // names keep this test self-contained (no dependency on suite order)
    val e1 = intercept[IllegalArgumentException] {
      engine.run("select * from graft_pagerank(no_such_t, itres => 3)")
    }
    assert(e1.getMessage.contains("unknown option") &&
      e1.getMessage.contains("itres"))
    val e2 = intercept[IllegalArgumentException] {
      engine.run("select * from graft_dedup_pairs(no_such_t, threshold => 1.5)")
    }
    assert(e2.getMessage.contains("threshold"))
    val e3 = intercept[IllegalArgumentException] {
      engine.run("select * from graft_topk('/tmp/x.parquet')")
    }
    assert(e3.getMessage.contains("relation argument") &&
      e3.getMessage.contains("queries"))
    // a non-numeric option value names the function and option, not a
    // bare NumberFormatException
    val e4 = intercept[IllegalArgumentException] {
      engine.run("select * from graft_topk(no_such_t, no_such_q, k => ten)")
    }
    assert(e4.getMessage.contains("graft_topk") && e4.getMessage.contains("k"))
    // duplicate options error instead of silently last-winning
    val e5 = intercept[IllegalArgumentException] {
      engine.run("select * from graft_pagerank(no_such_t, iters => 3, iters => 9)")
    }
    assert(e5.getMessage.contains("duplicate") && e5.getMessage.contains("iters"))
    // a negative option value is an expression (unary minus), decoded to
    // its value: in range it passes validation (only the made-up relation
    // fails), out of range it errors with the decoded number
    val e6 = intercept[org.apache.spark.sql.AnalysisException] {
      engine.run("select * from graft_radius(no_such_t, no_such_q, tau => -0.5)")
    }
    assert(e6.getMessage.contains("no_such_t"), e6.getMessage)
    val e7 = intercept[IllegalArgumentException] {
      engine.run("select * from graft_radius(no_such_t, no_such_q, tau => -1.5)")
    }
    assert(e7.getMessage.contains("[-1, 1]") && e7.getMessage.contains("-1.5"))
  }

  // the planted out-star of the graft_hits test, over its own table
  private lazy val starEdges: String = {
    engine.run("create table paren_edges_t(doc_a bigint, doc_b bigint)")
    engine.run("insert into paren_edges_t values (0, 1), (0, 2), (0, 3)")
    "paren_edges_t"
  }
  private val star = Seq((0L, 0L, 9L), (1L, 3L, 0L), (2L, 3L, 0L), (3L, 3L, 0L))
  private def hits(from: String) = engine.run(
    s"select doc_id, auth, hub from $from order by doc_id")
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("graft_* relation argument: a quoted parquet path may contain parens") {
    val dir = java.nio.file.Files.createTempDirectory("graft_paren").toString
    val path = s"$dir/edges(1).parquet"
    engine.run(s"copy $starEdges to '$path' (format parquet)")
    assert(hits(s"graft_hits('$path', iters => 2)") == star)
    // a call inside a CTE definition expands like one in FROM
    assert(hits(s"(with h as (select * from graft_hits('$path', iters => 2)) " +
      "select * from h) hs") == star)
  }

  test("graft_* arguments: a block comment in the list is no part of any argument") {
    assert(hits(s"graft_hits(/* edges */ $starEdges, iters => 2)") == star)
    // a comma inside the comment splits nothing; a comment before an
    // option name is no part of the name
    assert(hits(s"graft_hits(/* edges, directed */ $starEdges, /* rounds */ iters => 2)")
      == star)
  }

  test("read_csv: a ')' delimiter is an option value, not the call's end") {
    val dir = java.nio.file.Files.createTempDirectory("graft_delim").toString
    val f = new java.io.PrintWriter(s"$dir/paren.csv")
    f.print("a)b\n1)x\n2)y\n")
    f.close()
    assert(rows(s"select b from read_csv('$dir/paren.csv', delim => ')', header => true) " +
      "order by a").map(_.head) == Seq("x", "y"))
  }

  test("TVF mentions inside string literals pass through untouched") {
    val got = rows(
      "select 'docs: graft_topk(corpus, queries)' as help_text").head.head
    assert(got == "docs: graft_topk(corpus, queries)")
    // the sibling source rewrites share the mask: a literal mentioning
    // read_csv / a bare .csv path must not eagerly read a file
    val csv = rows(
      "select 'see read_csv(''missing.csv'') or from ''x.csv'' syntax' as h")
      .head.head
    assert(csv == "see read_csv('missing.csv') or from 'x.csv' syntax")
    // comments too
    val c = rows(
      "select 1 as v -- read_parquet('nope.parquet') graft_pagerank(t)")
      .head.head
    assert(c == 1)
  }

  test("graft_release releases serving scratch state and returns ok") {
    assert(engine.run("graft_release").collect().isEmpty)
    assert(engine.run("graft_release();").collect().isEmpty)
  }

  test("interval as a column type (types_v2/types.rs:9-26)") {
    engine.run("create table iv_t(d interval, ym interval year to month)")
    val s = engine.table("iv_t").schema
    assert(s("d").dataType.isInstanceOf[DayTimeIntervalType])
    assert(s("ym").dataType.isInstanceOf[YearMonthIntervalType])
    engine.run("insert into iv_t values (interval '2' day, interval '3' month)")
    val got = rows("select d, ym from iv_t").head
    assert(got.head == java.time.Duration.ofDays(2))
    assert(got(1) == java.time.Period.ofMonths(3))
  }

  test("source table functions reject unknown options, bad values and a wrong arity") {
    val dir = java.nio.file.Files.createTempDirectory("src_opts")
    val csv = dir.resolve("s.csv")
    java.nio.file.Files.writeString(csv, "a|b\n1|2\n")
    val pq = dir.resolve("s.parquet").toString
    spark.range(1).toDF("a").write.parquet(pq)
    def error(sql: String): String =
      intercept[IllegalArgumentException](engine.run(sql).collect()).getMessage
    // a misspelled key no longer reads with the default delimiter
    val e1 = error(s"select * from read_csv('$csv', delimiter => '|')")
    assert(e1.contains("unknown option(s) delimiter") && e1.contains("accepted: delim, header"), e1)
    // a header value that is no boolean no longer turns the header off
    val e2 = error(s"select * from read_csv('$csv', header => 'yes')")
    assert(e2.contains("header needs true or false") && e2.contains("'yes'"), e2)
    val e3 = error(s"select * from read_parquet('$pq', x => 1)")
    assert(e3.contains("unknown option(s) x; accepted: "), e3)
    val e4 = error("select * from sqlrs_tables(1)")
    assert(e4.contains("sqlrs_tables needs 0 arguments, got 1"), e4)
    val e5 = error("select * from read_json()")
    assert(e5.contains("read_json needs 1 quoted path argument, got 0"), e5)
    // the accepted spellings still read
    assert(rows(s"select b from read_csv('$csv', delim => '|', header => 'TRUE')") == Seq(Seq(2)))
  }

  test("graft_retention_expiry: as_of => 0 is an ingest day; a negative day errors") {
    engine.run("create table ret0_docs_t(doc_id bigint, source varchar, ingest_day bigint)")
    engine.run("insert into ret0_docs_t values (1, 'web', 0), (2, 'web', 5)")
    engine.run("create table ret0_policy_t(source varchar, retention_days bigint)")
    engine.run("insert into ret0_policy_t values ('web', 0)")
    // ingest_day = doc_id % 360 puts documents on day 0; with zero
    // retention a day-0 document expires on day 0, a later one does not
    assert(rows("select doc_id, age_days from " +
      "graft_retention_expiry(ret0_docs_t, ret0_policy_t, as_of => 0)") == Seq(Seq(1L, 0L)))
    val e = intercept[IllegalArgumentException] {
      engine.run("select * from graft_retention_expiry(ret0_docs_t, ret0_policy_t, as_of => -1)")
    }
    assert(e.getMessage.contains("as_of must be >= 0, got -1"), e.getMessage)
  }
}
