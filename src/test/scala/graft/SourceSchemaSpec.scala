package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftEngine

/** A file source's schema is inferred once per file version: a path read
  * again runs no inference job, and a rewritten file, a directory that
  * gains a file or a read with other options is inferred again.
  */
class SourceSchemaSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(name: String): Path = Files.createTempDirectory("source_schema").resolve(name)

  /** `sql`'s rows written as one parquet file at `file`, replacing it. */
  private def writeParquet(file: Path, sql: String): Unit = {
    val dir = Files.createTempDirectory("source_schema_w").resolve("d")
    spark.sql(sql).coalesce(1).write.parquet(dir.toString)
    val part = Files.list(dir).filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.copy(part, file, StandardCopyOption.REPLACE_EXISTING)
  }

  test("a parquet path read twice runs one inference job; a rewrite with a new column is re-read") {
    val engine = new GraftEngine(spark)
    val file = tmp("t.parquet")
    writeParquet(file, "SELECT id AS a FROM range(3)")
    val (first, inferRead) = QueryProfile(spark)(engine.readParquet(file.toString))
    val (again, againRead) = QueryProfile(spark)(engine.readParquet(file.toString))
    val (inferJobs, jobs) = (inferRead.jobs, againRead.jobs)
    assert(inferJobs == 1 && jobs == 0, s"first read: $inferJobs jobs, second: $jobs")
    assert(first.columns.toSeq == Seq("a") && again.columns.toSeq == Seq("a"))
    assert(again.collect().map(_.getLong(0)).toSet == Set(0L, 1L, 2L))

    writeParquet(file, "SELECT id AS a, id * 10 AS b FROM range(4)")
    val (rewritten, reinferRead) = QueryProfile(spark)(engine.readParquet(file.toString))
    val reinferJobs = reinferRead.jobs
    assert(reinferJobs == 1)
    assert(rewritten.columns.toSeq == Seq("a", "b"))
    assert(rewritten.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      (0L until 4L).map(i => (i, i * 10)).toSet)
    // a path and its qualified spelling are one entry
    val qualified = QueryProfile(spark)(engine.readParquet(s"file://$file"))._2.jobs
    assert(qualified == 0)
  }

  test("a directory that gains a file is inferred again") {
    val engine = new GraftEngine(spark)
    val dir = Files.createDirectories(tmp("events"))
    Files.writeString(dir.resolve("a.json"), "{\"x\": 1}\n{\"x\": 2}\n")
    assert(engine.readJson(dir.toString).columns.toSeq == Seq("x"))
    val jobs = QueryProfile(spark)(engine.readJson(dir.toString))._2.jobs
    assert(jobs == 0)
    Files.writeString(dir.resolve("b.json"), "{\"x\": 3, \"y\": \"q\"}\n")
    val grown = engine.readJson(dir.toString)
    assert(grown.columns.toSeq == Seq("x", "y"))
    assert(grown.collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet ==
      Set((1L, None), (2L, None), (3L, Some("q"))))
  }

  test("CSV header and delimiter are part of the key") {
    val engine = new GraftEngine(spark)
    val file = tmp("h.csv")
    Files.writeString(file, "a;b\n1;2\n3;4\n")
    val path = file.toString
    val semi = engine.readCsv(path, header = true, delim = ";")
    val comma = engine.readCsv(path, header = true, delim = ",")
    val bare = engine.readCsv(path, header = false, delim = ";")
    assert(semi.columns.toSeq == Seq("a", "b"))
    assert(semi.collect().toSeq == Seq(Row(1, 2), Row(3, 4)))
    assert(comma.columns.toSeq == Seq("a;b"))
    assert(comma.collect().toSeq == Seq(Row("1;2"), Row("3;4")))
    assert(bare.columns.toSeq == Seq("column_1", "column_2"))
    assert(bare.collect().toSeq == Seq(Row("a", "b"), Row("1", "2"), Row("3", "4")))
    // each option set was inferred once: reading any of them again runs no job
    val (again, reread) = QueryProfile(spark) {
      engine.readCsv(path, header = false, delim = ";")
      engine.readCsv(path, header = true, delim = ",")
      engine.readCsv(path, header = true, delim = ";")
    }
    val jobs = reread.jobs
    assert(jobs == 0)
    assert(again.collect().toSeq == Seq(Row(1, 2), Row(3, 4)))
  }
}
