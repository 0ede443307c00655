package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftEngine

/** A statement whose every input is one file runs as one task
  * (`graft.plans.OneTask`): the same rows as over a two-file copy of the
  * same data, which keeps its exchanges, in one job and with no exchange.
  * Statements name their tables with a `{s}` suffix: `1` for the one-file
  * tables, `2` for the two-file copies.
  */
class OneTaskSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._

  private val tables = Seq(
    // o_cust NULL on every 13th row, o_flag NULL on every 9th
    "ot_o" -> ("SELECT id AS o_id, CASE WHEN id % 13 = 0 THEN NULL ELSE CAST(id % 17 AS INT) END AS o_cust, " +
      "CAST(id * 37 % 101 AS INT) AS o_price, " +
      "CASE WHEN id % 9 = 0 THEN NULL ELSE substr('ABC', CAST(id % 3 AS INT) + 1, 1) END AS o_flag " +
      "FROM range(240)"),
    "ot_c" -> "SELECT CAST(id AS INT) AS c_id, substr('xyz', CAST(id % 3 AS INT) + 1, 1) AS c_seg FROM range(17)",
    // six symbols with ticks every 10 time units; probes also ask for a 7th
    "ot_ticks" -> ("SELECT CAST(id % 6 AS INT) AS sym, (id DIV 6) * 10 AS ts, " +
      "CAST(id * 7 % 50 AS INT) AS price FROM range(60)"),
    "ot_probes" -> "SELECT CAST(id % 7 AS INT) AS sym, id * 3 AS ts FROM range(40)")

  private lazy val engine: GraftEngine = {
    val e = new GraftEngine(spark)
    val root = Files.createTempDirectory("one_task")
    for ((name, sql) <- tables; files <- Seq(1, 2)) {
      val dir = root.resolve(s"$name$files").toString
      spark.sql(sql).repartition(files).write.parquet(dir)
      val written = new java.io.File(dir).list().count(_.endsWith(".parquet"))
      assert(written == files, s"$dir holds $written files")
      e.createParquetTable(s"$name$files", dir)
    }
    e
  }

  /** `sql` over the tables with suffix `s`: its rows, its final plan and
    * the number of jobs it ran.
    */
  private def run(sql: String, s: Int): (Seq[Row], SparkPlan, Int) = {
    val e = engine
    val ((rows, plan), profile) = QueryProfile(spark) {
      val df = e.run(sql.replace("{s}", s.toString))
      (df.collect().toSeq, df.queryExecution.executedPlan)
    }
    (rows, plan, profile.jobs)
  }

  private def exchanges(p: SparkPlan): Int = collect(p) { case e: Exchange => e }.size
  private def coalesces(p: SparkPlan): Int = collect(p) { case c: CoalesceExec => c }.size
  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  private val asof = "graft_asof(ot_probes{s}, ot_ticks{s}, key => sym, ord => ts, payload => price)"

  /** Each statement, and whether its rows come in a defined sequence. */
  private val statements = Seq(
    "SELECT o_flag, count(*) AS n, sum(o_price) AS s, count(DISTINCT o_cust) AS d " +
      "FROM ot_o{s} GROUP BY o_flag" -> false,
    "SELECT o_cust, o_flag, o_id FROM ot_o{s} " +
      "ORDER BY o_cust ASC NULLS FIRST, o_flag DESC NULLS LAST, o_id" -> true,
    "SELECT o_cust, o_flag, o_id FROM ot_o{s} " +
      "ORDER BY o_cust DESC NULLS LAST, o_flag ASC NULLS FIRST, o_id DESC" -> true,
    // many customers share a count: the second key breaks the ties
    "SELECT o_cust, count(*) AS n FROM ot_o{s} GROUP BY o_cust ORDER BY n DESC, o_cust ASC NULLS LAST" -> true,
    // rows tied on the only key are identical
    "SELECT o_flag FROM ot_o{s} ORDER BY o_flag NULLS FIRST" -> true,
    "SELECT c_seg, count(*) AS n, sum(o_price) AS s FROM ot_c{s} JOIN ot_o{s} ON c_id = o_cust " +
      "GROUP BY c_seg ORDER BY c_seg" -> true,
    "SELECT k, count(*) AS n FROM (SELECT o_cust AS k FROM ot_o{s} UNION ALL " +
      "SELECT c_id AS k FROM ot_c{s}) u GROUP BY k ORDER BY k NULLS FIRST" -> true,
    s"SELECT sym, count(*) AS n, count(price) AS matched, sum(price) AS total FROM $asof " +
      "GROUP BY sym ORDER BY sym" -> true,
    s"SELECT sym, ts, price FROM $asof ORDER BY sym, ts" -> true)

  test("aggregate, ORDER BY, join, UNION ALL and as-of over one file: two-file rows, one job, no exchange") {
    statements.foreach { case (sql, ordered) =>
      val (got, plan, jobs) = run(sql, 1)
      val (want, twoFilePlan, _) = run(sql, 2)
      assert(got.nonEmpty, sql)
      if (ordered) assert(got == want, sql) else assert(sorted(got) == sorted(want), sql)
      assert(jobs == 1, s"$sql: $jobs jobs")
      assert(exchanges(plan) == 0 && coalesces(plan) >= 1, s"$sql:\n$plan")
      assert(exchanges(twoFilePlan) >= 1, s"$sql:\n$twoFilePlan")
    }
  }

  test("a statement that also reads a multi-file table keeps its exchanges") {
    val sql = "SELECT c_seg, count(*) AS n FROM ot_c1 JOIN ot_o2 ON c_id = o_cust GROUP BY c_seg ORDER BY c_seg"
    val (got, plan, jobs) = run(sql, 1)
    assert(got == run(sql.replace("ot_o2", "ot_o1"), 1)._1)
    assert(exchanges(plan) >= 1 && jobs > 1, s"$jobs jobs:\n$plan")
  }

  test("a filter, projection, limit or UNION ALL over the scans keeps its shape") {
    for (sql <- Seq(
        "SELECT o_id, o_price FROM ot_o{s} WHERE o_cust = 3 LIMIT 5",
        "SELECT o_id, o_price * 2 AS p FROM ot_o{s} WHERE o_flag = 'B'",
        "SELECT o_id FROM ot_o{s} WHERE o_cust = 3 UNION ALL SELECT c_id FROM ot_c{s}")) {
      val (got, plan, _) = run(sql, 1)
      assert(got.nonEmpty && sorted(got) == sorted(run(sql, 2)._1), sql)
      assert(coalesces(plan) == 0, s"$sql:\n$plan")
    }
  }

  test("a small equi-join builds in the task; a join hint on a side is kept") {
    val join = "c_seg, count(*) AS n FROM ot_o1 o JOIN ot_c1 c ON c.c_id = o.o_cust GROUP BY c_seg ORDER BY c_seg"
    def joins(p: SparkPlan): (Int, Int, Int) = (
      collect(p) { case j: BroadcastHashJoinExec => j }.size,
      collect(p) { case j: ShuffledHashJoinExec => j }.size,
      collect(p) { case j: SortMergeJoinExec => j }.size)
    val (want, plain, plainJobs) = run(s"SELECT $join", 1)
    assert(joins(plain) == (0, 1, 0) && exchanges(plain) == 0 && plainJobs == 1, plain)
    val (broadcastRows, broadcast, _) = run(s"SELECT /*+ BROADCAST(c) */ $join", 1)
    assert(broadcastRows == want)
    assert(joins(broadcast) == (1, 0, 0), broadcast)
    // the hint names the other side: that side keeps it, and it wins
    val (mergeRows, merge, _) = run(s"SELECT /*+ MERGE(o) */ $join", 1)
    assert(mergeRows == want)
    assert(joins(merge) == (0, 0, 1), merge)
  }

  test("a table function over a persisted frame still reads it from the cache") {
    val dir = Files.createTempDirectory("one_task_docs").resolve("docs").toString
    // five groups of four copies; no word is shared between groups
    spark.sql("SELECT id AS doc_id, concat_ws(' ', " +
      "transform(sequence(1, 30), x -> md5(concat(id % 5, '-', x)))) AS text FROM range(20)")
      .coalesce(1).write.parquet(dir)
    engine.createParquetTable("ot_docs", dir)
    try {
      val df = engine.run("SELECT i, j FROM graft_dedup_pairs(ot_docs, threshold => 0.9)")
      val pairs = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == (for (i <- 0L until 20L; j <- i + 1 until 20L if i % 5 == j % 5) yield (i, j)).toSet)
      val plan = df.queryExecution.executedPlan
      assert(collect(plan) { case s: InMemoryTableScanExec => s }.nonEmpty, plan)
      assert(coalesces(plan) == 0, plan)
    } finally engine.run("GRAFT_RELEASE")
  }
}
