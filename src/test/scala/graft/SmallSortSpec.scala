package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.monotonically_increasing_id
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftEngine

/** A root ORDER BY over a small measured input sorts in one task
  * (`graft.plans.SmallSort`): same row sequence, no range exchange, two
  * fewer jobs. `ranged` is a session whose minimum coalesced partition size
  * is one byte, so there the rule never fires and the range exchange stays.
  */
class SmallSortSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._

  /** 300 rows: k = i % 5, NULL on every 7th row; g = i % 4, NULL on every
    * 11th; v = i.
    */
  private val rows: Seq[Row] = (0 until 300).map { i =>
    Row(if (i % 7 == 0) null else i % 5, if (i % 11 == 0) null else i % 4, i)
  }
  private val schema = StructType(Seq(
    StructField("k", IntegerType), StructField("g", IntegerType), StructField("v", IntegerType)))

  /** The rows as a parquet table of two files. A one-partition table would
    * run as one task with no exchange at all (`graft.plans.OneTask`), and
    * the sort would have no stage to follow.
    */
  private lazy val twoFiles: String = {
    val dir = Files.createTempDirectory("small_sort_t").resolve("t").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema).write.parquet(dir)
    dir
  }

  private def engineOn(s: org.apache.spark.sql.SparkSession): GraftEngine = {
    val e = new GraftEngine(s)
    e.createParquetTable("small_sort_t", twoFiles)
    e
  }

  private lazy val engine = engineOn(spark)
  private lazy val ranged = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1")
    engineOn(s)
  }

  /** The statement's rows and the final adaptive plan that produced them. */
  private def run(e: GraftEngine, sql: String): (Seq[Row], SparkPlan) = {
    val df = e.run(sql)
    val out = df.collect().toSeq
    (out, df.queryExecution.executedPlan)
  }

  private def rangeExchanges(p: SparkPlan): Int =
    collect(p) { case s: ShuffleExchangeLike if s.outputPartitioning.isInstanceOf[RangePartitioning] => s }.size

  private def coalesces(p: SparkPlan): Int = collect(p) { case c: CoalesceExec => c }.size

  /** ORDER BY one nullable key: ascending or not, NULLs first or last. */
  private def by(asc: Boolean, nullsFirst: Boolean): Ordering[Option[Int]] = (a, b) => (a, b) match {
    case (None, None) => 0
    case (None, _) => if (nullsFirst) -1 else 1
    case (_, None) => if (nullsFirst) 1 else -1
    case (Some(x), Some(y)) => if (asc) x.compare(y) else y.compare(x)
  }

  private type Group = (Option[Int], Option[Int], Long, Long)
  private val k = (t: Group) => t._1
  private val g = (t: Group) => t._2
  private val n = (t: Group) => Option(t._3.toInt)

  /** The ordering of a list of sort keys: the first that differs decides. */
  private def orderBy(keys: (Group => Option[Int], Ordering[Option[Int]])*): Ordering[Group] =
    (a, b) => keys.iterator.map { case (f, o) => o.compare(f(a), f(b)) }.find(_ != 0).getOrElse(0)

  /** (k, g, count, sum of v) per group, in no particular order. */
  private val groups: Seq[Group] =
    rows.groupBy(r => (Option(r.get(0)).map(_.asInstanceOf[Int]), Option(r.get(1)).map(_.asInstanceOf[Int])))
      .toSeq.map { case ((k, g), rs) => (k, g, rs.size.toLong, rs.map(_.getInt(2).toLong).sum) }

  private def asRows(gs: Seq[Group]): Seq[Row] =
    gs.map { case (k, g, n, s) => Row(k.orNull, g.orNull, n, s) }

  private def grouped(order: String): String =
    s"SELECT k, g, count(*) AS n, sum(v) AS s FROM small_sort_t GROUP BY k, g ORDER BY $order"

  test("ASC/DESC, NULLS FIRST/LAST and a second key give the same row sequence in one task") {
    val cases = Seq(
      "k ASC NULLS FIRST, g DESC NULLS LAST" ->
        orderBy(k -> by(asc = true, nullsFirst = true), g -> by(asc = false, nullsFirst = false)),
      "k DESC NULLS FIRST, g ASC NULLS LAST" ->
        orderBy(k -> by(asc = false, nullsFirst = true), g -> by(asc = true, nullsFirst = false)),
      // many groups share a count: the ties are broken by the later keys
      "n DESC, k ASC NULLS LAST, g DESC NULLS FIRST" ->
        orderBy(n -> by(asc = false, nullsFirst = false), k -> by(asc = true, nullsFirst = false),
          g -> by(asc = false, nullsFirst = true)))
    cases.foreach { case (order, ord) =>
      val (got, plan) = run(engine, grouped(order))
      val (want, rangedPlan) = run(ranged, grouped(order))
      assert(got == asRows(groups.sorted(ord)), order)
      assert(got == want, order)
      assert(rangeExchanges(plan) == 0 && coalesces(plan) == 1, s"$order:\n$plan")
      assert(rangeExchanges(rangedPlan) == 1 && coalesces(rangedPlan) == 0, s"$order:\n$rangedPlan")
    }
  }

  test("the one-task sort runs two fewer jobs: no range-bounds sample, no range map stage") {
    val sql = "SELECT k, count(*) AS n FROM small_sort_t GROUP BY k ORDER BY k"
    run(engine, sql)
    run(ranged, sql)
    val ((got, _), oneTask) = QueryProfile(spark)(run(engine, sql))
    val ((want, _), rangedSort) = QueryProfile(spark)(run(ranged, sql))
    val (jobs, rangedJobs) = (oneTask.jobs, rangedSort.jobs)
    assert(got == want)
    assert(rangedJobs - jobs == 2, s"one task: $jobs jobs, range-partitioned: $rangedJobs")
  }

  test("ORDER BY ... LIMIT keeps its TakeOrderedAndProject plan") {
    val sql = "SELECT k, g, count(*) AS n FROM small_sort_t GROUP BY k, g ORDER BY n DESC, k, g LIMIT 3"
    val (got, plan) = run(engine, sql)
    val (want, _) = run(ranged, sql)
    assert(got == want && got.size == 3)
    assert(collect(plan) { case t: TakeOrderedAndProjectExec => t }.size == 1, plan)
    assert(coalesces(plan) == 0 && rangeExchanges(plan) == 0, plan)
  }

  test("a partition-reading projection above the sort keeps the range exchange") {
    val df: DataFrame = engine.run("SELECT k, count(*) AS n FROM small_sort_t GROUP BY k ORDER BY k")
      .withColumn("id", monotonically_increasing_id())
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(rangeExchanges(plan) == 1 && coalesces(plan) == 0, plan)
  }

  test("an input with a file scan or a generator is a guess: the range exchange stays") {
    val dir = Files.createTempDirectory("small_sort").resolve("f.parquet").toString
    spark.range(40).selectExpr("CAST(id % 5 AS INT) AS k", "CAST(id AS INT) AS w").write.parquet(dir)
    engine.createParquetTable("small_sort_f", dir)
    // the DISTINCT's stages run first; the scanned side of the join is no stage
    val (scanRows, scanPlan) = run(engine,
      "SELECT /*+ BROADCAST(d) */ f.k, f.w FROM small_sort_f f " +
        "JOIN (SELECT DISTINCT k FROM small_sort_t) d " +
        "ON f.k = d.k ORDER BY f.w")
    assert(scanRows.map(_.getInt(1)) == (0 until 40))
    assert(rangeExchanges(scanPlan) == 1 && coalesces(scanPlan) == 0, scanPlan)
    // every leaf is a materialized stage, but the explode's fan-out is unmeasured
    val (genRows, genPlan) = run(engine,
      "SELECT k, e FROM (SELECT k, explode(sequence(1, 3)) AS e " +
        "FROM (SELECT k, count(*) AS n FROM small_sort_t GROUP BY k) c) x ORDER BY k NULLS FIRST, e")
    assert(genRows.size == 18)
    assert(rangeExchanges(genPlan) == 1 && coalesces(genPlan) == 0, genPlan)
  }
}
