package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftEngine

/** The reference's planner golden corpora, ported case by case:
  * /root/reference/tests/planner/{predicate-pushdown,limit-pushdown,
  * column-pruning,combine-operators}.yml (23 cases over the tests/csv
  * fixtures — the reference diffs `Database::explain` output against
  * checked-in golden files, tests/sqlplannertest/src/lib.rs:36-41).
  *
  * Here each case's SQL runs through [[GraftEngine.explainDf]] and the
  * test asserts the PROPERTY the case exists to pin (filter reaches the
  * scan, limit pushes through the join, columns are pruned, adjacent
  * operators collapse) rather than a golden text diff — Catalyst's node
  * vocabulary differs, but the rewrite the reference checks must hold.
  * Where Catalyst is strictly stronger than the reference's rule set the
  * divergence is asserted and documented inline (e.g. a null-filtering
  * WHERE on an outer join's inner side makes Spark rewrite the join to
  * INNER and push the filter — the reference's PushPredicateThroughJoin
  * conservatively keeps the outer join, predicate-pushdown.yml:9-16).
  */
class PlannerCasesSpec extends AnyFunSuite {
  import TestSpark._

  /** Engine over the reference's five CSV fixtures — the same tables the
    * sqlplannertest corpus binds against (reference tests/csv directory),
    * loaded from the test resources' copies the way EngineSpec does.
    */
  private lazy val engine: GraftEngine = {
    val e = new GraftEngine(spark)
    e.resetCatalog()
    Seq("t1", "t2", "employee", "department", "state").foreach { n =>
      e.createCsvTable(n, getClass.getResource(s"/csv/$n.csv").getPath)
    }
    e
  }

  private def explain(sql: String): Map[String, String] =
    engine.explainDf(sql).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  /** ReadSchema line of every scan in the formatted physical plan, in
    * plan order — the column-pruning ground truth.
    */
  private def readSchemas(e: Map[String, String]): Seq[String] =
    e("physical_plan_spark").linesIterator
      .map(_.trim).filter(_.startsWith("ReadSchema:")).toSeq

  private def pushedFilters(e: Map[String, String]): Seq[String] =
    e("physical_plan_spark").linesIterator
      .map(_.trim).filter(_.startsWith("PushedFilters:")).toSeq

  private def optimized(e: Map[String, String]): String = e("logical_plan_opt")

  private def countIn(s: String, token: String): Int =
    s.linesIterator.count(_.trim.startsWith(token))

  // ---- column-pruning.yml ------------------------------------------------

  test("column-pruning 1: PushProjectIntoTableScan (yml:1-4)") {
    val e = explain("select a from t1")
    assert(readSchemas(e) == Seq("ReadSchema: struct<a:int>"),
      s"scan must read only `a`:\n${e("physical_plan_spark")}")
  }

  test("column-pruning 2: pruning across aggregate (yml:6-9)") {
    val e = explain("select sum(b)+1 from t1 where a > 1")
    // the filter column and agg input survive; `c` must not be read
    assert(readSchemas(e) == Seq("ReadSchema: struct<a:int,b:int>"),
      s"scan must read only a,b:\n${e("physical_plan_spark")}")
    assert(pushedFilters(e).exists(_.contains("GreaterThan(a,1)")))
  }

  test("column-pruning 3: unused projection removed (yml:11-14)") {
    val e = explain("select sum(b) from t1 where a > 1")
    assert(readSchemas(e) == Seq("ReadSchema: struct<a:int,b:int>"))
  }

  test("column-pruning 4: pruning across join (yml:16-19)") {
    val e = explain(
      "select t1.a, t2.b from t1 left join t2 on t1.a = t2.a where t2.b > 1")
    // t1 contributes only `a`; t2 only its join key + output; nobody reads c
    assert(readSchemas(e).sorted == Seq(
      "ReadSchema: struct<a:int,b:int>", "ReadSchema: struct<a:int>"),
      s"each side must prune to referenced columns:\n${e("physical_plan_spark")}")
  }

  test("column-pruning 5: pruning across multiple joins (yml:21-27)") {
    val e = explain(
      """select employee.id, employee.first_name, department.department_name,
        | state.state_name, state.state_code from employee
        | left join department on employee.department_id=department.id
        | right join state on state.state_code=employee.state""".stripMargin)
    val rs = readSchemas(e).mkString("\n")
    // employee: 4 of 7 columns; department: 2 of 2; state: 2 of 3
    assert(rs.contains("struct<id:int,first_name:string,state:string,department_id:int>"),
      s"employee scan must drop last_name/job_title/salary:\n$rs")
    assert(rs.contains("struct<id:int,department_name:string>"))
    assert(rs.contains("struct<state_code:string,state_name:string>"),
      s"state scan must drop its id column:\n$rs")
  }

  test("column-pruning 6: pruning across derived-table subquery (yml:29-32)") {
    val e = explain(
      "select a, t2.v1 as max_b from t1 cross join (select max(b) as v1 from t1) t2")
    assert(readSchemas(e).sorted == Seq(
      "ReadSchema: struct<a:int>", "ReadSchema: struct<b:int>"))
  }

  test("column-pruning 7: pruning across multiple subqueries (yml:34-37)") {
    val e = explain(
      """select t1.a, sub0.v0, sub1.v0 from t1
        | cross join (select max(b) as v0 from t1) sub0
        | cross join (select min(b) as v0 from t1) sub1""".stripMargin)
    assert(readSchemas(e).sorted == Seq(
      "ReadSchema: struct<a:int>",
      "ReadSchema: struct<b:int>", "ReadSchema: struct<b:int>"))
  }

  test("column-pruning 8: pruning across scalar subquery (yml:39-42)") {
    val e = explain("select a, (select max(b) from t1) from t1")
    assert(readSchemas(e).sorted == Seq(
      "ReadSchema: struct<a:int>", "ReadSchema: struct<b:int>"))
  }

  test("column-pruning 9: pruning across multiple scalar subqueries (yml:44-47)") {
    val e = explain(
      "select a, (select max(b) from t1) + (select min(b) from t1) as mix_b from t1")
    assert(readSchemas(e).sorted == Seq(
      "ReadSchema: struct<a:int>",
      "ReadSchema: struct<b:int>", "ReadSchema: struct<b:int>"))
  }

  test("column-pruning 10: scalar subquery in WHERE (yml:49-51)") {
    val e = explain("select t1.a, t1.b from t1 where a >= (select max(a) from t1)")
    // outer scan reads a,b (never c); the subquery scan reads only a, and
    // the subquery comparison itself reaches the outer scan as a pushed
    // filter — stronger than the reference, which stops at the filter node
    assert(readSchemas(e).sorted == Seq(
      "ReadSchema: struct<a:int,b:int>", "ReadSchema: struct<a:int>"))
    assert(pushedFilters(e).exists(_.contains("GreaterThanOrEqual(a,ScalarSubquery")),
      s"subquery filter should push into the scan:\n${pushedFilters(e)}")
  }

  // ---- combine-operators.yml ---------------------------------------------

  test("combine-operators 1: adjacent projects and filters collapse (yml:1-4)") {
    val e = explain(
      """select t_2.* from (select t_1.* from
        | (select * from t1 where c < 2) t_1 where t_1.a > 1) t_2
        | where t_2.b > 7""".stripMargin)
    val opt = optimized(e)
    // three nested SELECT * + three filters collapse to ONE filter over the
    // scan, with no surviving projection nodes at all
    assert(countIn(opt, "LogicalFilter") == 1, s"filters must combine:\n$opt")
    assert(countIn(opt, "LogicalProjection") == 0, s"projects must collapse:\n$opt")
    val pf = pushedFilters(e).mkString
    assert(pf.contains("LessThan(c,2)") && pf.contains("GreaterThan(a,1)") &&
      pf.contains("GreaterThan(b,7)"),
      s"the combined conjunction must reach the scan:\n$pf")
  }

  // ---- limit-pushdown.yml ------------------------------------------------

  test("limit-pushdown 1: limit across project into the scan (yml:1-4)") {
    val e = explain("select a from t1 offset 2 limit 1")
    // Catalyst goes further than LimitProjectTranspose: the whole
    // project+offset+limit collapses into CollectLimit directly over the
    // pruned scan — nothing between the scan and the limit
    val phys = e("physical_plan_spark")
    assert(phys.contains("CollectLimit"), phys)
    assert(countIn(e("physical_plan"), "Physical") <= 2,
      s"limit must sit directly on the scan:\n${e("physical_plan")}")
    assert(readSchemas(e) == Seq("ReadSchema: struct<a:int>"))
  }

  test("limit-pushdown 2: no naive pushdown past ORDER BY (yml:6-9)") {
    val e = explain("select t1.a from t1 order by t1.b offset 1 limit 1")
    // the reference asserts the limit must NOT move below the sort; Spark
    // preserves that ordering constraint by FUSING sort+limit into a
    // per-partition top-k (TakeOrderedAndProject) — never a full sort
    val phys = e("physical_plan_spark")
    assert(phys.contains("TakeOrderedAndProject"), phys)
    assert(!phys.contains("\n(") || !phys.contains(" Sort "),
      s"no standalone global sort expected:\n$phys")
  }

  test("limit-pushdown 3: limit through left outer join (yml:11-14)") {
    val e = explain("select t1.a from t1 left join t2 on t1.a=t2.b offset 1 limit 1")
    val opt = optimized(e)
    // one LocalLimit above the join and one pushed into the outer side
    assert(countIn(opt, "LogicalLocalLimit") >= 2, s"limit must push into join:\n$opt")
    val afterJoin = opt.substring(opt.indexOf("LogicalJoin"))
    assert(afterJoin.contains("LogicalLocalLimit"),
      s"a LocalLimit must sit below the join:\n$opt")
  }

  test("limit-pushdown 4: limit through right outer join (yml:16-19)") {
    val e = explain("select t1.a from t1 right join t2 on t1.a=t2.b limit 1")
    val opt = optimized(e)
    val afterJoin = opt.substring(opt.indexOf("LogicalJoin"))
    assert(afterJoin.contains("LogicalLocalLimit"),
      s"a LocalLimit must sit below the right join's outer side:\n$opt")
  }

  test("limit-pushdown 5: bare OFFSET does not push through the join (yml:21-24)") {
    val e = explain("select t1.a from t1 right join t2 on t1.a=t2.b offset 10")
    val opt = optimized(e)
    // offset alone cannot skip rows below a join; no LocalLimit may appear
    assert(!opt.contains("LogicalLocalLimit"),
      s"no limit must be pushed for offset-only:\n$opt")
  }

  // ---- predicate-pushdown.yml --------------------------------------------

  test("predicate-pushdown 1: inner join, conjuncts to either side (yml:1-4)") {
    val e = explain(
      "select t1.* from t1 inner join t2 on t1.a=t2.b where t2.a > 2 and t1.a > 1")
    val pf = pushedFilters(e).mkString("\n")
    assert(pf.contains("GreaterThan(a,1)"), s"t1 conjunct must reach its scan:\n$pf")
    assert(pf.contains("GreaterThan(a,2)"), s"t2 conjunct must reach its scan:\n$pf")
    assert(!e("physical_plan_spark").contains("CartesianProduct"))
  }

  test("predicate-pushdown 2: left outer join (yml:6-9)") {
    val e = explain(
      "select t1.* from t1 left join t2 on t1.a=t2.b where t2.a > 2 and t1.a > 1")
    // t2.a > 2 null-filters the inner side, so Catalyst rewrites LEFT →
    // INNER (EliminateOuterJoin) and pushes BOTH conjuncts — strictly
    // stronger than the reference, which keeps the outer join and only
    // pushes the t1 side (predicate-pushdown.yml:6-9 golden)
    assert(optimized(e).contains("LogicalJoin"))
    assert(e("physical_plan_spark").contains("Join type: Inner"),
      s"null-filtering WHERE must collapse the outer join:\n${e("physical_plan_spark")}")
    val pf = pushedFilters(e).mkString("\n")
    assert(pf.contains("GreaterThan(a,1)") && pf.contains("GreaterThan(a,2)"))
  }

  test("predicate-pushdown 3: right outer join (yml:11-14)") {
    val e = explain(
      "select t1.* from t1 right join t2 on t1.a=t2.b where t2.a > 2 and t1.a > 1")
    // t1.a > 1 null-filters the RIGHT join's padded side — same collapse
    assert(e("physical_plan_spark").contains("Join type: Inner"))
    val pf = pushedFilters(e).mkString("\n")
    assert(pf.contains("GreaterThan(a,1)") && pf.contains("GreaterThan(a,2)"))
  }

  test("predicate-pushdown 4: common filter into join condition (yml:16-19)") {
    val e = explain(
      "select t1.* from t1 inner join t2 on t1.a=t2.b where t2.a > 2 and t1.a > t2.a")
    // single-side conjunct pushes; the cross-side comparison survives as a
    // join-level condition, and the join stays equi (hash), not cartesian
    val pf = pushedFilters(e).mkString("\n")
    assert(pf.contains("GreaterThan(a,2)"))
    val phys = e("physical_plan_spark")
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      s"equi keys must keep this a hash join:\n$phys")
    assert(phys.contains("Join type: Inner"))
  }

  test("predicate-pushdown 5: theta filter on left outer join (yml:21-24)") {
    val e = explain(
      "select t1.* from t1 left join t2 on t1.a=t2.b where t2.a > 2 and t1.a > t2.a")
    // the reference refuses to push here (golden keeps the filter above the
    // join); Catalyst first proves the WHERE null-filters t2, collapses the
    // join to INNER, and then pushdown is legal — assert the stronger plan
    assert(e("physical_plan_spark").contains("Join type: Inner"))
    assert(pushedFilters(e).mkString.contains("GreaterThan(a,2)"))
  }

  test("predicate-pushdown 6: theta filter on right outer join (yml:26-29)") {
    val e = explain(
      "select t1.* from t1 right join t2 on t1.a=t2.b where t1.a > 2 and t1.a > t2.a")
    assert(e("physical_plan_spark").contains("Join type: Inner"))
    // the t1-side conjunct reaches t1's scan once the join is inner
    assert(pushedFilters(e).mkString.contains("GreaterThan(a,2)"))
  }

  test("predicate-pushdown 7: filter through aliased subquery (yml:31-34)") {
    val e = explain(
      "select t.a from (select * from t1 where a > 1) t where t.b > 7")
    val opt = optimized(e)
    // both predicates combine into one filter below any projection, then
    // reach the scan (PushPredicateThroughNonJoin + alias resolution)
    assert(countIn(opt, "LogicalFilter") == 1, s"filters must combine:\n$opt")
    val pf = pushedFilters(e).mkString
    assert(pf.contains("GreaterThan(a,1)") && pf.contains("GreaterThan(b,7)"),
      s"both predicates must reach the scan:\n$pf")
  }
}
