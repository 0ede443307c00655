package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Pipeline, Store}

/** The persisted-store table (`graft.queries.Store`): the publish-by-
  * rename helper every store writes through, the prebuild pass's
  * failure isolation, and the fit schedule derived from the declared
  * dependencies of the real table.
  */
class StoreSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def withTmpDir(body: File => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("store-spec").toFile
    try body(root) finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  private def ids(path: String): Set[Long] =
    spark.read.parquet(path).collect().map(_.getLong(0)).toSet

  test("a publish whose write throws leaves no tmp dir and the previous bytes readable") {
    withTmpDir { root =>
      val path = s"$root/store.parquet"
      Store.publish(spark, path)(Seq(1L, 2L).toDF("id").write.parquet(_))
      val boom = udf { (x: Long) =>
        if (x == 3L) throw new IllegalStateException("planted build failure")
        x
      }
      intercept[Exception] {
        Store.publish(spark, path)(
          Seq(3L, 4L).toDF("id").select(boom(col("id")).as("id")).write.parquet(_))
      }
      // a failure after part of the output landed (a bucketed write whose
      // catalog step throws, a second file of a model codec)
      intercept[IllegalStateException] {
        Store.publish(spark, path) { tmp =>
          Seq(3L).toDF("id").write.parquet(tmp)
          throw new IllegalStateException("planted failure after a partial write")
        }
      }
      assert(root.list().toSeq == Seq("store.parquet"),
        s"leftovers beside the store: ${root.list().toSeq}")
      assert(ids(path) == Set(1L, 2L))
    }
  }

  test("a publish over an existing store replaces it instead of nesting inside it") {
    withTmpDir { root =>
      val path = s"$root/store.parquet"
      Store.publish(spark, path)(Seq(1L, 2L).toDF("id").write.parquet(_))
      Store.publish(spark, path)(Seq(5L).toDF("id").write.parquet(_))
      assert(ids(path) == Set(5L))
      assert(new File(path).listFiles().forall(_.isFile),
        s"nested directories: ${new File(path).list().toSeq}")
      assert(root.list().toSeq == Seq("store.parquet"))
    }
  }

  test("prebuild isolates a failing store; its next access builds it again") {
    val dir = s"store-spec-${java.util.UUID.randomUUID()}"
    val failing = new AtomicInteger()
    val base = Store.value("base")((_, _) => 1)
    val flaky = Store.value("flaky", base) { (s, d) =>
      if (failing.incrementAndGet() == 1) throw new IllegalStateException("planted")
      base(s, d) + 1
    }
    val sibling = Store.value("sibling", base)((s, d) => base(s, d) + 10)
    val lone = Store.value("lone")((_, _) => 100)
    val got = Store.prebuild(spark, dir, Seq(base, flaky, sibling, lone)).toMap
    assert(got.keySet == Set("base", "flaky", "sibling", "lone"))
    assert(got("flaky") == -1.0)
    assert(Seq("base", "sibling", "lone").forall(got(_) >= 0.0), got.toString)
    assert(flaky(spark, dir) == 2)
    assert(failing.get() == 2)
    assert(flaky(spark, dir) == 2 && failing.get() == 2, "a built store is memoized")
  }

  test("prebuild does not charge a store the time it waits on its dependencies") {
    val dir = s"store-spec-${java.util.UUID.randomUUID()}"
    val slow = Store.value("slow") { (_, _) => Thread.sleep(500); 1 }
    val quick = Store.value("quick", slow)((s, d) => slow(s, d) + 1)
    val got = Store.prebuild(spark, dir, Seq(quick, slow)).toMap
    assert(got("slow") >= 0.5, got.toString)
    assert(got("quick") >= 0.0 && got("quick") < 0.25, got.toString)
    assert(quick(spark, dir) == 2)
  }

  test("the real table: acyclic, each store once, longest chain first") {
    val table = Pipeline.stores
    // every dependency sits earlier in the table: a topological order,
    // so the graph has no cycle and no store outside the table
    table.zipWithIndex.foreach { case (st, i) =>
      assert(st.deps.forall(d => table.indexOf(d) >= 0 && table.indexOf(d) < i),
        s"${st.name} depends on a store not declared before it")
    }
    assert(table.map(_.name).distinct.size == table.size, "duplicate store names")
    val order = Store.schedule(table)
    assert(order.size == table.size && order.toSet == table.toSet)
    def longest(st: Store[_]): List[String] =
      st.name :: st.deps.map(longest).sortBy(-_.size).headOption.getOrElse(Nil)
    assert(longest(order.head) ==
      List("pin_comp_df", "pin_comp_postings", "components_index_pin", "docs_bkt"))
    assert(order.map(longest(_).size) == order.map(longest(_).size).sortBy(-_))
  }

  test("prebuildModels builds every store of the table, each once") {
    val built = Pipeline.prebuildModels(spark, sf)
    val names = built.map(_._1)
    assert(names.sorted == Pipeline.stores.map(_.name).sorted)
    assert(built.forall(_._2 >= 0.0), built.filter(_._2 < 0.0).toString)
    val before = Set("docs_bkt", "pin_comp_df", "components_index", "opq_resid_model",
      "opq_ivf_centroids", "pairs_ng3_t80", "pairs_mh_t80", "cells_v13", "pca_fit",
      "pq_resid_model", "pq_v14_model", "curriculum_index_older", "curriculum_b_index",
      "pin_span_index", "pin_charspan_index", "pin_tfidf_postings", "pin_mh_index",
      "pin_prefix_index", "pin_secrets_index", "opq_model", "ivf_centroids_16",
      "pq_model", "cells_d9", "cells_a9", "mh_index", "tfidf_pairs",
      "pin_revoked_docs", "pin_drop_docs", "ivf_members_16", "curriculum_drop_docs",
      "pin_comp_postings", "pq_codes", "pairs_cont_ng1_t98_lang", "span_index",
      "span_index_older", "charspan_index_base", "span_bloom", "tfidf_postings",
      "tfidf_postings_older", "pairs_ng1_t95_lang", "curriculum_b_overflow")
    assert(before.size == 41)
    assert(before.subsetOf(names.toSet), (before -- names).toString)
  }
}
