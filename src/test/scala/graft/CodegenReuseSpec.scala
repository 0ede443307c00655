package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Literal, RegExpReplace, Round}
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftEngine
import graft.plans.ParamLiteral

/** A statement shape run again with new constants must reuse its compiled
  * classes (`graft.plans.ParamLiterals`), and the values must come out the
  * same whether they reach the row through generated code or through the
  * interpreted `eval` path.
  */
class CodegenReuseSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._

  /** Ten rows: id 0..9, big = id·10⁹, d = 2020-01-01 + id days,
    * ts = 2021-01-01 00:00 UTC + id hours, v = id / 2.
    */
  private lazy val engine: GraftEngine = {
    val dir = Files.createTempDirectory("codegen_reuse").resolve("t.parquet").toString
    spark.range(10).selectExpr(
      "CAST(id AS INT) AS id", "id * 1000000000 AS big",
      "date_add(DATE '2020-01-01', CAST(id AS INT)) AS d",
      "timestamp_seconds(1609459200 + id * 3600) AS ts", "id * 0.5D AS v")
      .coalesce(1).write.parquet(dir)
    val e = new GraftEngine(spark)
    e.createParquetTable("codegen_reuse_t", dir)
    e
  }

  /** One shape's constants: an int, a bigint, a day and an hour offset (a
    * date and a timestamp literal) and a double.
    */
  private case class Consts(i: Int, b: Long, day: Int, hour: Int, x: Double) {
    def date: String = f"2020-01-${1 + day}%02d"
    def ts(h: Int): String = f"2021-01-01 $h%02d:00:00"
  }

  private def select(c: Consts): String =
    s"SELECT id, id + ${c.i} AS ii, big + ${c.b}L AS bb, " +
      s"datediff(d, DATE '${c.date}') AS dd, ts < TIMESTAMP '${c.ts(c.i + 3)}' AS early, " +
      s"v * ${c.x}D AS vv FROM codegen_reuse_t " +
      s"WHERE id >= ${c.i} AND big <= ${c.b}L AND d >= DATE '${c.date}' " +
      s"AND ts < TIMESTAMP '${c.ts(c.hour)}' AND v <> ${c.x}D"

  private def expected(c: Consts): Set[Row] =
    (0 until 10).filter { id =>
      id >= c.i && id * 1000000000L <= c.b && id >= c.day && id < c.hour && id * 0.5 != c.x
    }.map(id => Row(id, id + c.i, id * 1000000000L + c.b, id - c.day, id < c.i + 3, id * 0.5 * c.x))
      .toSet

  /** The same constants in the filter of an adaptive (shuffling) plan. A
    * constant inside an aggregate function would still be inlined.
    */
  private def grouped(c: Consts): String =
    s"SELECT id % 2 AS k, count(*) AS n, sum(v) AS s FROM codegen_reuse_t " +
      s"WHERE id >= ${c.i} AND big <= ${c.b}L AND d >= DATE '${c.date}' " +
      s"AND ts < TIMESTAMP '${c.ts(c.hour)}' AND v <> ${c.x}D GROUP BY id % 2"

  private def expectedGrouped(c: Consts): Set[Row] =
    expected(c).map(_.getInt(0)).groupBy(_ % 2).map {
      case (k, ids) => Row(k, ids.size.toLong, ids.toSeq.map(_ * 0.5).sum)
    }.toSet

  private def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a shape re-run with new int/bigint/date/timestamp/double constants compiles nothing") {
    val a = Consts(i = 2, b = 8000000000L, day = 2, hour = 8, x = 1.5)
    val b = Consts(i = 3, b = 7000000000L, day = 3, hour = 7, x = 2.5)
    assert(engine.run(select(a)).collect().toSet == expected(a))
    assert(engine.run(grouped(a)).collect().toSet == expectedGrouped(a))
    val before = compiled()
    val gotB = engine.run(select(b)).collect().toSet
    val gotGroupedB = engine.run(grouped(b)).collect().toSet
    assert(compiled() - before == 0, "the second run of each shape compiled new classes")
    assert(gotB == expected(b) && gotB.size == 3)
    assert(gotGroupedB == expectedGrouped(b))
  }

  /** The string form of each row, sorted: tells -0.0 from 0.0, and NaN
    * from everything, which `Row` equality does not.
    */
  private def rendered(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def interpreted[T](body: => T): T = {
    val keys = Seq(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def paramTypes(p: SparkPlan): Seq[DataType] =
    collect(p) {
      case f: FilterExec => f.condition.collect { case l: ParamLiteral => l.dataType }
      case pr: ProjectExec => pr.projectList.flatMap(_.collect { case l: ParamLiteral => l.dataType })
    }.flatten

  /** x in -3..3, with a half, a date and a microsecond timestamp per row. */
  private lazy val edge: String = {
    spark.range(-3, 4).selectExpr(
      "id AS x", "id / 2.0D AS dv",
      "date_add(DATE '1969-12-30', CAST(id AS INT)) AS dt",
      "timestamp_micros(id * 1000001 - 5) AS ts", "id % 2 = 0 AS flag")
      .createOrReplaceTempView("codegen_edge_t")
    "codegen_edge_t"
  }

  test("edge-value constants read the same through generated code and eval") {
    // x = -3 fails the date bound; the other six rows pass
    val q =
      s"""SELECT x, CAST('NaN' AS DOUBLE) AS nan, CAST('Infinity' AS DOUBLE) AS pinf,
         |  CAST('-Infinity' AS DOUBLE) AS ninf, -0.0D AS nzero, dv * -0.0D AS mz,
         |  dv + CAST('NaN' AS DOUBLE) AS dn,
         |  -2147483648 AS imin, greatest(CAST(x AS INT), -2147483648) AS gmin,
         |  9223372036854775807L AS lmax, least(x, 9223372036854775807L) AS lx,
         |  DATE '1969-07-20' AS moon, datediff(dt, DATE '1969-07-20') AS since,
         |  TIMESTAMP '1969-12-31 23:59:59.999999' AS tsl,
         |  ts > TIMESTAMP '1969-12-31 23:59:59.999999' AS later,
         |  true AS tr, flag AND x > 0 AS fx,
         |  INTERVAL '1 02:03:04.000005' DAY TO SECOND AS iv,
         |  ts + INTERVAL '1 02:03:04.000005' DAY TO SECOND AS tsi
         |FROM $edge
         |WHERE dv < CAST('NaN' AS DOUBLE) AND dv > CAST('-Infinity' AS DOUBLE)
         |  AND dv < CAST('Infinity' AS DOUBLE) AND x > -2147483648
         |  AND x < 9223372036854775807L AND dt >= DATE '1969-12-28'
         |  AND ts > TIMESTAMP '1969-12-31 23:59:57.000003'
         |  AND ts - INTERVAL '0 00:00:01.000005' DAY TO SECOND < TIMESTAMP '1970-01-01 00:00:02'
         |""".stripMargin
    val generated = spark.sql(q)
    val got = rendered(generated)
    val types = paramTypes(generated.queryExecution.executedPlan).toSet
    assert(Set[DataType](DoubleType, IntegerType).subsetOf(types) && types.size >= 6,
      s"the constants should reach codegen as ParamLiterals, got $types")
    assert(got.size == 6, got.mkString("\n"))
    assert(got == interpreted(rendered(spark.sql(q))))
    assert(got.forall(r => r.contains("NaN") && r.contains("-Infinity") && r.contains("-0.0")))
  }

  test("an argument that must be constant (regexp_replace position, round scale) stays a Literal") {
    val df = spark.sql(
      s"SELECT x, regexp_replace(CAST(x AS STRING), '-', 'm') AS r, round(dv, 1) AS rd, x + 1 AS y " +
        s"FROM $edge WHERE x < 0")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSet ==
      Set((-3L, "m3", -1.5, -2L), (-2L, "m2", -1.0, -1L), (-1L, "m1", -0.5, 0L)))
    val exec = df.queryExecution.executedPlan
    assert(paramTypes(exec).nonEmpty)
    val fixed = collect(exec) { case p: ProjectExec => p.projectList }.flatten.flatMap(_.collect {
      case r: RegExpReplace => r.pos
      case r: Round => r.scale
    })
    assert(fixed.size == 2 && fixed.forall(_.isInstanceOf[Literal]), fixed)
  }

  test("a NULL constant stays a plain Literal") {
    val df = spark.sql(s"SELECT x, CAST(NULL AS INT) AS n, x + 1 AS y FROM $edge WHERE x > 0")
    assert(df.collect().map(r => (r.isNullAt(1), r.getLong(2))).toSet ==
      Set((true, 2L), (true, 3L), (true, 4L)))
    val list = collect(df.queryExecution.executedPlan) { case p: ProjectExec => p.projectList }.flatten
    assert(list.exists(_.exists { case Literal(null, IntegerType) => true; case _ => false }))
    assert(list.exists(_.exists(_.isInstanceOf[ParamLiteral])))
  }
}
