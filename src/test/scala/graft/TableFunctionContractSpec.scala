package graft

import java.nio.file.Files

import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftEngine

/** The call contract of every SQL table function, written out here, not
  * read from the engine: how many positional arguments each takes and
  * which option keys it accepts. A dropped, added or renamed option, or a
  * changed arity, fails this spec. Every check goes through `run`; the
  * relations named in it do not exist, because every call is rejected, or
  * reaches its body, before a relation resolves.
  */
class TableFunctionContractSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val engine = new GraftEngine(spark)

  /** (name, relation arguments, accepted option keys) of the graft_* functions. */
  private val graftFunctions: Seq[(String, Int, Set[String])] = Seq(
    ("graft_topk", 2, Set("k")),
    ("graft_knn_label", 2, Set("k")),
    ("graft_radius", 2, Set("tau")),
    ("graft_ivf_append", 2, Set()),
    ("graft_dedup_pairs", 1, Set("threshold")),
    ("graft_decontaminate", 2, Set("n")),
    ("graft_semantic_decon", 2, Set("tau")),
    ("graft_asof", 2, Set("key", "ord", "payload", "forward")),
    ("graft_pagerank", 1, Set("iters", "damping", "dangling")),
    ("graft_hits", 1, Set("iters")),
    ("graft_louvain", 1, Set()),
    ("graft_louvain_levels", 1, Set("levels", "moves")),
    ("graft_hyperball", 1, Set("dist", "m")),
    ("graft_harmonic", 1, Set("dist")),
    ("graft_bpe_merges", 1, Set("rounds")),
    ("graft_byte_bpe_merges", 1, Set("rounds")),
    ("graft_byte_encode", 2, Set()),
    ("graft_unigram_lm", 1, Set("vocab")),
    ("graft_unigram_encode", 2, Set("char_cost")),
    ("graft_unigram_em", 2, Set("char_cost")),
    ("graft_incremental_dedup", 2, Set("num", "den")),
    ("graft_incremental_minhash", 2, Set("num", "den")),
    ("graft_components", 1, Set("n", "threshold")),
    ("graft_components_index", 1, Set("n", "threshold")),
    ("graft_components_delete", 3, Set("n", "threshold")),
    ("graft_license_propagation", 2, Set("rank")),
    ("graft_split_leakage", 2, Set()),
    ("graft_span_excise", 1, Set("n", "keep_one")),
    ("graft_index_delete", 2, Set("kind", "n", "run")),
    ("graft_index_merge", 2, Set("kind", "n", "run", "threshold", "k")),
    ("graft_curriculum_delete_buffered", 3, Set("k")),
    ("graft_secret_scrub", 1, Set("k", "run")),
    ("graft_secret_frequencies", 1, Set("run")),
    ("graft_secret_scrub_incremental", 2, Set("k", "run")),
    ("graft_retention_expiry", 2, Set("as_of")),
    ("graft_takedown_audit", 4, Set("n", "run")))

  /** (name, positional arguments, accepted option keys) of the source functions. */
  private val sourceFunctions: Seq[(String, Int, Set[String])] = Seq(
    ("read_csv", 1, Set("header", "delim")),
    ("read_parquet", 1, Set()),
    ("read_json", 1, Set()),
    ("sqlrs_tables", 0, Set()),
    ("sqlrs_columns", 0, Set()))

  /** The kinds of the two lifecycle functions. */
  private val lifecycleKinds: Map[String, Set[String]] = Map(
    "graft_index_delete" -> Set("span", "postings", "minhash", "prefix", "ivf", "secrets",
      "charspan", "components", "curriculum"),
    "graft_index_merge" -> Set("span", "postings", "minhash", "prefix", "secrets", "charspan",
      "components", "curriculum"))

  private def rels(n: Int): String = Seq.fill(n)("no_such_rel").mkString(", ")

  private def error(sql: String): String =
    intercept[IllegalArgumentException](engine.run(sql)).getMessage

  test("the contract lists 41 distinct table functions") {
    val names = (graftFunctions ++ sourceFunctions).map(_._1)
    assert(names.size == 41 && names.distinct.size == 41)
  }

  test("an unknown option names exactly the accepted keys of each graft_* function") {
    for ((fn, arity, keys) <- graftFunctions) {
      val msg = error(s"select * from $fn(${rels(arity)}, zz_unknown => 1)")
      assert(msg.contains("unknown option(s) zz_unknown"), msg)
      val accepted = msg.split("accepted: ", 2)(1).split(", ").map(_.trim).filter(_.nonEmpty).toSet
      assert(accepted == keys, s"$fn: $msg")
    }
  }

  test("a wrong number of relations names the count each graft_* function needs") {
    for ((fn, arity, _) <- graftFunctions; given <- Seq(arity - 1, arity + 1)) {
      val msg = error(s"select * from $fn(${rels(given)})")
      assert(msg.contains(s"$fn needs $arity relation argument(s)") && msg.contains(s"got $given"), msg)
    }
  }

  test("every kind a lifecycle function lists dispatches to its body") {
    for ((fn, kinds) <- lifecycleKinds) {
      val msg = error(s"select * from $fn(${rels(2)}, kind => 'nope')")
      val listed = "kind must be one of (.*) — got".r.findFirstMatchIn(msg)
        .map(_.group(1).split(", ").toSet).getOrElse(fail(msg))
      assert(listed == kinds, msg)
      for (kind <- listed) {
        // the body runs: its first relation lookup is what fails
        val e = intercept[AnalysisException](engine.run(s"select * from $fn(${rels(2)}, kind => '$kind')"))
        assert(e.getMessage.contains("no_such_rel"), s"$fn kind $kind: ${e.getMessage}")
      }
    }
  }

  test("each source function reads with every accepted option given") {
    val dir = Files.createTempDirectory("tvf_contract")
    val csv = dir.resolve("c.csv")
    Files.writeString(csv, "a,b\n1,2\n")
    val json = dir.resolve("j.json")
    Files.writeString(json, "{\"a\": 1}\n")
    val parquet = dir.resolve("p.parquet").toString
    spark.range(1).toDF("a").write.parquet(parquet)
    val paths = Map("read_csv" -> csv.toString, "read_parquet" -> parquet, "read_json" -> json.toString)
    val values = Map("header" -> "true", "delim" -> "','")
    for ((fn, arity, keys) <- sourceFunctions) {
      val args = Seq.fill(arity)(s"'${paths(fn)}'") ++ keys.toSeq.sorted.map(k => s"$k => ${values(k)}")
      engine.run(s"select * from $fn(${args.mkString(", ")})").collect()
    }
    assert(engine.run(s"select a from read_csv('$csv', header => true, delim => ',')")
      .collect().map(_.getInt(0)).toSeq == Seq(1))
  }
}
