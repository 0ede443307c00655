package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Guards the *shape* of the physical plans, not just their results — the
  * properties that decide whether a query survives a 1000-executor run over
  * 100 TB: filters reaching the parquet scan, column pruning, map-side
  * partial aggregation, broadcast joins for dimensions, and no accidental
  * cartesian products. A regression here is a performance bug even when
  * every value is still correct.
  */
class PlanQualitySpec extends AnyFunSuite {
  import TestSpark._

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  /** Count physical nodes by their formatted-mode section headers
    * (`(3) HashAggregate`) — the tree rendering repeats each name.
    */
  private def nodeCount(p: String, name: String): Int =
    ("""\(\d+\) """ + name).r.findAllIn(p).size

  test("q1_agg: filter pushed into parquet scan, columns pruned, partial agg") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity"),
      s"filter must reach the scan:\n$p")
    // only the 6 referenced columns are read, not all 16
    val readSchema = p.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipmode"),
      s"scan must not read unused columns:\n$readSchema")
    // partial + final pair = map-side combine before the shuffle
    assert(nodeCount(p, "HashAggregate") >= 2, s"expect partial+final agg:\n$p")
    val codegen = SparkEntry.queries("q1_agg")(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("codegen"))
    assert(codegen.contains("WholeStageCodegen"), "agg pipeline must be codegen'd")
  }

  test("q11_multi_join: dimension joins broadcast; fact join shuffles once") {
    val p = plan("q11_multi_join")
    assert(nodeCount(p, "BroadcastHashJoin") >= 3,
      s"customer/nation/region must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // lineitem⋈orders is the only shuffle join (SMJ or shuffled-hash, AQE picks)
    val shuffleJoins =
      nodeCount(p, "SortMergeJoin") + nodeCount(p, "ShuffledHashJoin")
    assert(shuffleJoins <= 1, s"only the fact-fact join may shuffle:\n$p")
  }

  test("q6_join_inner: big-small join broadcasts the dimension side") {
    val p = plan("q6_join_inner")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"customer should broadcast at this SF:\n$p")
  }

  test("q13_scalar_subquery: one-row aggregate is broadcast, not cartesian") {
    val p = plan("q13_scalar_subquery")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"scalar subquery row must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q5_filter_project: disjunctive filter still pushes to the scan") {
    val p = plan("q5_filter_project")
    assert(p.contains("PushedFilters: [Or("), s"OR predicate should push down:\n$p")
  }

  test("d3_dedup_minhash_lsh: LSH candidate join is equi, never cartesian") {
    val p = plan("d3_dedup_minhash_lsh")
    assert(!p.contains("CartesianProduct"),
      s"band-bucket join must be an equi join:\n$p")
  }

  test("d4_dedup_simhash: band join is equi, never cartesian") {
    val p = plan("d4_dedup_simhash")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d9_semantic_dedup: map-only cell assignment, equi pair join, no cartesian") {
    val p = plan("d9_semantic_dedup")
    // the corpus learns its cell in a projection against literal
    // centroids — any join/aggregate-based assignment would show up as
    // an extra exchange; the within-cell pair join must stay equi
    assert(!p.contains("CartesianProduct"),
      s"within-cell pair join must be an equi join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"within-cell pair join must be an equi join:\n$p")
  }

  test("a1_ann_bruteforce: query side broadcasts; corpus scan stays pruned") {
    val p = plan("a1_ann_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"small query set must broadcast over the corpus:\n$p")
    val readSchema = p.linesIterator.filter(_.trim.startsWith("ReadSchema")).mkString
    assert(!readSchema.contains("label"),
      s"corpus scan must prune unused columns:\n$readSchema")
  }

  test("e1_events_hourly: aggregation has map-side partial before shuffle") {
    val p = plan("e1_events_hourly")
    assert(nodeCount(p, "(Hash|ObjectHash|Sort)Aggregate") >= 2, p)
  }

  test("t1_text_stats: pure per-row expressions — no shuffle at all") {
    val p = plan("t1_text_stats")
    // one Exchange allowed for the final orderBy only
    val exchanges = nodeCount(p, "Exchange")
    assert(exchanges <= 1, s"text stats must not shuffle except the sort:\n$p")
  }

  test("e5_asof_join: union + window, never a range/cartesian join") {
    val p = plan("e5_asof_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of must not plan as a nested-loop join:\n$p")
    assert(nodeCount(p, "Window") >= 1, s"running-last window expected:\n$p")
  }

  test("e6_range_join: bucketed equi join, no nested loop") {
    val p = plan("e6_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range join must be the bucketed equi form:\n$p")
  }

  test("d7_label_centroids: two-level aggregate with map-side partials") {
    val p = plan("d7_label_centroids")
    assert(nodeCount(p, "HashAggregate") >= 2, s"expect partial+final agg:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("a1_ann_bruteforce: top-k is the bounded-heap operator, not a sort") {
    val p = plan("a1_ann_bruteforce")
    assert(p.contains("TopKPerKey"), s"expected custom top-k exec:\n$p")
    assert(!p.contains("WindowExec"), s"no window sort in the ANN path:\n$p")
  }

  test("s4_stratified_sample: map-side partial top-k before the exchange") {
    // the semigroup partial pass caps shuffle input at k rows per
    // (partition × key) — the skewed-lang hot spot fix; the exchange must
    // sit BETWEEN the partial and final phases
    val p = plan("s4_stratified_sample")
    // tree section renders root-first as `Name (n)`; "TopKPerKey (" cannot
    // match the partial node ("TopKPerKeyPartial (")
    val lines = p.linesIterator.toSeq
    val iFinal = lines.indexWhere(_.contains("TopKPerKey ("))
    val iPartial = lines.indexWhere(_.contains("TopKPerKeyPartial ("))
    val iExchange = lines.indexWhere(_.contains("Exchange ("), iFinal + 1)
    assert(iFinal >= 0, s"expected final top-k phase:\n$p")
    assert(iPartial > iFinal, s"expected partial top-k phase below final:\n$p")
    assert(iExchange > iFinal && iExchange < iPartial,
      s"want final <- exchange <- partial (top-down explain tree):\n$p")
  }

  test("k3_heavy_hitters: sketch aggregates partially before the shuffle") {
    // the point of the sketch: only bounded buffers cross the wire —
    // TypedImperativeAggregate plans as ObjectHashAggregate partial/final
    val p = plan("k3_heavy_hitters")
    assert(nodeCount(p, "ObjectHashAggregate") >= 2,
      s"expect partial+final sketch aggregate:\n$p")
    val shuffleLines = p.linesIterator
      .filter(_.contains("hashpartitioning")).toSeq
    assert(shuffleLines.forall(!_.contains("text#")),
      s"document text must not shuffle:\n${shuffleLines.mkString("\n")}")
  }

  test("v3_embedding_covariance: pair expansion collapses map-side") {
    val p = plan("v3_embedding_covariance")
    assert(nodeCount(p, "HashAggregate") + nodeCount(p, "ObjectHashAggregate") >= 2,
      s"expect partial+final aggregate:\n$p")
    // only (i, j, partial sums) may shuffle — never embeddings
    val shuffleLines = p.linesIterator
      .filter(_.contains("hashpartitioning")).toSeq
    assert(shuffleLines.forall(!_.contains("embedding#")),
      s"embeddings must not shuffle:\n${shuffleLines.mkString("\n")}")
  }

  test("c3_decon_bloom: bloom probe sits map-side before the verify join") {
    val p = plan("c3_decon_bloom")
    assert(p.contains("graft_bloom_contains") || p.contains("BloomContains"),
      s"bloom prefilter must appear in the plan:\n$p")
    val shuffleLines = p.linesIterator
      .filter(_.contains("hashpartitioning")).toSeq
    assert(shuffleLines.forall(!_.contains("text#")),
      s"corpus text must not shuffle:\n${shuffleLines.mkString("\n")}")
  }

  test("tpch5: 6-table join cycle — dimensions broadcast, one fact shuffle") {
    val p = plan("tpch5_local_supplier_volume")
    assert(nodeCount(p, "BroadcastHashJoin") >= 4,
      s"customer/supplier/nation/region must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    val shuffleJoins =
      nodeCount(p, "SortMergeJoin") + nodeCount(p, "ShuffledHashJoin")
    assert(shuffleJoins <= 1, s"only lineitem⋈orders may shuffle:\n$p")
  }

  test("tpch21: semi+anti chain stays hash-joined, never nested-loop") {
    val p = plan("tpch21_waiting_suppliers")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the EXISTS/NOT-EXISTS pair must decorrelate to hash joins:\n$p")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"expected one semi and one anti join:\n$p")
  }

  test("tpch16: NOT EXISTS plans as a hash anti join, never nested-loop") {
    val p = plan("tpch16_parts_supplied")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"anti join must stay hash-based (NOT IN over nullable degrades):\n$p")
    assert(p.contains("LeftAnti"), s"expected a left anti join:\n$p")
  }

  test("c1_decontamination: eval grams broadcast; corpus text never shuffles") {
    val p = plan("c1_decontamination")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"eval gram set must broadcast:\n$p")
    val shuffleLines = p.linesIterator
      .filter(_.contains("hashpartitioning(")).toSeq
    assert(shuffleLines.forall(!_.contains("text#")),
      s"no exchange may carry document text:\n$p")
  }

  test("d1_dedup_exact: shuffle keyed on the md5 fingerprint, not raw text") {
    val p = plan("d1_dedup_exact")
    val exchangeLines = p.linesIterator
      .filter(_.contains("hashpartitioning(")).toSeq
    assert(exchangeLines.nonEmpty, s"window needs one hash exchange:\n$p")
    assert(exchangeLines.forall(l => l.contains("fp#") && !l.contains("text#")),
      s"exchange must carry the 128-bit fingerprint, never document bodies:\n$p")
    // one wide stage total: the window's exchange plus the output sort
    assert(nodeCount(p, "Exchange") <= 2, s"exact dedup is one shuffle + sort:\n$p")
  }

  test("a2_ann_ivf: cell assignment is map-only — embeddings never shuffle") {
    val p = plan("a2_ann_ivf")
    // the corpus learns its cell in a narrow projection against literal
    // centroids; only (query_id, neighbor_id, sim) triples may reach an
    // exchange (the candidate-dedup and top-k stages)
    val exchangeLines = p.linesIterator
      .filter(_.contains("hashpartitioning(")).toSeq
    assert(exchangeLines.forall(l => !l.contains("cv#") && !l.contains("embedding#")),
      s"no exchange may carry corpus vectors:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bucketed fact tables co-locate the join: zero shuffle exchanges") {
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("graft_buckets").toString
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val l = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    graft.operators.Bucketing.writeBucketed(o, "o_bkt", s"$tmp/o", 8, Seq("o_orderkey"))
    graft.operators.Bucketing.writeBucketed(l, "l_bkt", s"$tmp/l", 8, Seq("l_orderkey"))
    // merge hint pins SMJ (the tables are broadcast-sized at this SF; at
    // scale the planner picks SMJ itself) — the property under test is that
    // the bucket distribution satisfies both sides' requirement, so NO
    // exchange is planned anywhere
    val j = spark.table("l_bkt").hint("merge")
      .join(spark.table("o_bkt"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"), col("l_quantity"))
    val p = j.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("SortMergeJoin"), s"expect a sort-merge join:\n$p")
    assert(nodeCount(p, "Exchange") == 0 && !p.contains("hashpartitioning("),
      s"bucketed join must plan zero exchanges:\n$p")
    // same rows as the unbucketed join
    val expected = l.join(o, col("l_orderkey") === col("o_orderkey")).count()
    assert(j.count() == expected)
    spark.sql("drop table if exists o_bkt")
    spark.sql("drop table if exists l_bkt")
  }

  test("COPY TO BUCKET_BY: SQL-written buckets co-locate the join, zero exchanges") {
    import org.apache.spark.sql.functions.col
    val e = new graft.engine.GraftEngine(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sql_buckets").toString
    e.run(s"copy (select o_orderkey, o_orderpriority from '$dir/orders.parquet') " +
      s"to '$tmp/o_sqlb' (bucket_by (o_orderkey), buckets 8)")
    e.run(s"copy (select l_orderkey, l_quantity from '$dir/lineitem.parquet') " +
      s"to '$tmp/l_sqlb' (bucket_by (l_orderkey), buckets 8)")
    // same property as the Scala-surface test above, driven end to end
    // through the SQL front door: the write registered catalog tables
    // whose scans carry the bucket distribution → no exchange anywhere
    val j = spark.table("l_sqlb").hint("merge")
      .join(spark.table("o_sqlb"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"), col("l_quantity"))
    val p = j.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("SortMergeJoin"), s"expect a sort-merge join:\n$p")
    assert(nodeCount(p, "Exchange") == 0 && !p.contains("hashpartitioning("),
      s"SQL-bucketed join must plan zero exchanges:\n$p")
    // roundtrip: the bucketed tables hold exactly the copied rows
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    assert(spark.table("o_sqlb").count() == o.count())
    assert(j.count() ==
      l.join(o, col("l_orderkey") === col("o_orderkey")).count())
    spark.sql("drop table if exists o_sqlb")
    spark.sql("drop table if exists l_sqlb")
  }

  test("t9/s3/v1: map-only — at most the final-sort exchange, pruned scans") {
    Seq("t9_repetition" -> "text", "s3_split_assign" -> "doc_id",
        "v1_vec_quantize" -> "embedding").foreach { case (q, needed) =>
      val p = plan(q)
      assert(nodeCount(p, "Exchange") <= 1,
        s"$q must not shuffle except the gate's orderBy:\n$p")
      assert(!p.contains("Join"), s"$q must be a pure scan+project:\n$p")
      val readSchema = p.linesIterator.find(_.trim.startsWith("ReadSchema")).get
      assert(readSchema.contains(needed) && !readSchema.contains("source"),
        s"$q scan must prune to the referenced columns:\n$readSchema")
    }
  }

  test("c2_decon_fuzzy: eval index broadcast; corpus never self-joins") {
    val p = plan("c2_decon_fuzzy")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the eval-set band index must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must not sort-merge against the eval set:\n$p")
    val shuffleLines = p.linesIterator
      .filter(l => l.contains("hashpartitioning(")).toSeq
    assert(shuffleLines.forall(!_.contains("text#")),
      s"corpus text must not shuffle:\n${shuffleLines.mkString("\n")}")
  }

  test("u1_token_surprisal: vocabulary counts broadcast; text never shuffles") {
    val p = plan("u1_token_surprisal")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the token-count table must broadcast:\n$p")
    // only (doc_id, tok)/(doc_id, count) rows may cross a shuffle boundary —
    // never the raw document text
    val shuffleLines = p.linesIterator
      .filter(l => l.contains("hashpartitioning(")).toSeq
    assert(shuffleLines.nonEmpty && shuffleLines.forall(!_.contains("text#")),
      s"document text must not shuffle:\n${shuffleLines.mkString("\n")}")
  }

  test("e8_interval_overlap: bucketed equi join, no nested loop") {
    val p = plan("e8_interval_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval overlap must be the bucketed equi form:\n$p")
  }

  test("k5_sketch_setops: states aggregate partially; grams never shuffle") {
    val p = plan("k5_sketch_setops")
    // the per-lang KMV aggregation must combine map-side: exchanges carry
    // ~8KB states, never the exploded bigram strings
    assert(nodeCount(p, "ObjectHashAggregate") + nodeCount(p, "HashAggregate")
      + nodeCount(p, "SortAggregate") >= 2, s"expect partial+final agg:\n$p")
    val shuffleLines = p.linesIterator
      .filter(l => l.contains("hashpartitioning(")).toSeq
    assert(shuffleLines.nonEmpty && shuffleLines.forall(!_.contains("gram#")),
      s"bigram strings must not shuffle:\n${shuffleLines.mkString("\n")}")
  }

  test("d10_span_dedup: shuffles carry span hashes, never span or doc text") {
    val p = plan("d10_span_dedup")
    assert(!p.contains("CartesianProduct"), p)
    // formatted mode puts the partitioning in each Exchange's detail block
    val shuffleLines = p.linesIterator
      .filter(l => l.contains("hashpartitioning(")).toSeq
    assert(shuffleLines.nonEmpty && shuffleLines.forall(!_.contains("text#")),
      s"span/document text must not shuffle:\n${shuffleLines.mkString("\n")}")
  }

  test("v6_knn_label: winner via bounded-heap top-k, no per-query window") {
    val p = plan("v6_knn_label")
    assert(p.contains("TopKPerKey"), s"expect the bounded-heap operator:\n$p")
    assert(nodeCount(p, "Window") == 0, s"no window sort should appear:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t12_salient_terms: bounded-heap winners, no per-doc window sort") {
    val p = plan("t12_salient_terms")
    assert(p.contains("TopKPerKey"), s"expect the bounded-heap operator:\n$p")
    assert(nodeCount(p, "Window") == 0, s"no window sort should appear:\n$p")
  }

  test("s5_negative_sample: anchors broadcast; corpus scanned once, no sort") {
    val p = plan("s5_negative_sample")
    assert(p.contains("TopKPerKey"), s"expect the bounded-heap operator:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the anchor set must broadcast:\n$p")
    assert(nodeCount(p, "Window") == 0, s"no window sort should appear:\n$p")
  }

  test("t11_quantile_bucket: thresholds broadcast back, no ntile window") {
    val p = plan("t11_quantile_bucket")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the per-lang threshold table must broadcast:\n$p")
    assert(nodeCount(p, "Window") == 0,
      s"bucket assignment must be map-only, not an ntile window:\n$p")
  }

  test("x2_source_zscore: per-source stats broadcast back, no window") {
    val p = plan("x2_source_zscore")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the 20-row stats table must broadcast:\n$p")
    assert(nodeCount(p, "Window") == 0,
      s"group-normalize must not use a window partition:\n$p")
    assert(nodeCount(p, "HashAggregate") >= 2, s"expect partial+final agg:\n$p")
  }

  test("x3_zorder: codegen'd interleave, one partial+final aggregate") {
    val p = plan("x3_zorder")
    // the z-value is a projection inside the scan stage; the bucket
    // rollup is one map-combinable aggregate — no join, no window
    assert(nodeCount(p, "HashAggregate") >= 2, s"expect partial+final agg:\n$p")
    assert(nodeCount(p, "Window") == 0 && !p.contains("CartesianProduct"), p)
    assert(p.contains("graft_zorder"), s"interleave must be in the plan:\n$p")
  }

  test("k6_cms: one-row merged state broadcasts to the key probe") {
    val p = plan("k6_cms")
    // truth × state is a broadcast nested-loop on a ONE-ROW build side —
    // the only acceptable nested-loop shape; the corpus is never on it
    assert(p.contains("BroadcastExchange"), s"state must broadcast:\n$p")
    // sketch states build via ObjectHashAggregate (TypedImperative),
    // truth counts via HashAggregate — both partial+final
    assert(nodeCount(p, "ObjectHashAggregate") >= 2,
      s"expect partial+final state aggregates:\n$p")
    assert(nodeCount(p, "HashAggregate") >= 2,
      s"expect partial+final truth counts:\n$p")
  }

  test("j1_json_extract: map-only parse into one agg + one sort exchange") {
    val p = plan("j1_json_extract")
    assert(nodeCount(p, "Exchange") == 2,
      s"exactly the aggregate shuffle and the final order-by range:\n$p")
    assert(nodeCount(p, "HashAggregate") >= 2, s"expect partial+final agg:\n$p")
    assert(nodeCount(p, "Join") == 0, s"extraction must be map-only:\n$p")
  }

  test("t14 cold index build: equi pair join; n_docs broadcasts; no cartesian") {
    // the serving queries (t14/g1/g2/t17) scan the persisted pair index;
    // the expensive plan is the BUILD — guard it directly so the memo
    // can't hide a regression in the inverted-index self-join
    val p = graft.queries.Pipeline.tfidfPairs(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"),
      s"postings self-join must stay equi:\n$p")
    // the only nested-loop allowed is the one-row n_docs broadcast into
    // the tiny df frame; the postings SELF-join must be hash/merge equi
    assert(nodeCount(p, "SortMergeJoin") + nodeCount(p, "ShuffledHashJoin") +
      nodeCount(p, "BroadcastHashJoin") >= 2,
      s"tf⋈w and postings⋈postings must be equi joins:\n$p")
    assert(p.contains("BroadcastExchange"), s"n_docs must broadcast:\n$p")
  }

  test("d13_containment: prefix-filtered equi candidate join, no cartesian") {
    // r18: the served key reads the materialized pair store, so the
    // BUILD shape is asserted on the builder directly (the d2/x19
    // store-consumer discipline)
    val build = graft.operators.Dedup.containmentPairs(
      Tables.load(spark, dir, "documents"),
      n = 1, threshold = 0.98,
      blockCols = Seq(org.apache.spark.sql.functions.col("lang")))
    val p = build.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"containment candidates must come from an equi join:\n$p")
    // prefix probe ⋈ postings, then the two verify joins back to token
    // sets — all equi (broadcast at this SF; hash/merge at scale)
    assert(nodeCount(p, "BroadcastHashJoin") + nodeCount(p, "SortMergeJoin") +
      nodeCount(p, "ShuffledHashJoin") >= 3,
      s"candidate + verify joins must be equi joins:\n$p")
    // the postings side is semi-join-pruned to the distinct prefix-token
    // set before the candidate join — the O(total tokens) → O(prefix
    // tokens) shuffle bound at 100 TB
    assert(p.contains("LeftSemi"),
      s"postings must be semi-join-pruned against prefix tokens:\n$p")
    graft.operators.Dedup.unpersistAll()
    // the served key itself: a store scan + sort, never a rebuild
    val served = plan("d13_containment")
    assert(!served.contains("CartesianProduct"), served)
    assert(!served.contains("Window"),
      s"d13 must serve the persisted pair store, not rebuild the " +
        s"prefix filter:\n$served")
  }

  test("x5_probe_auc: range-partitioned prefix-sum, never a global window") {
    val p = plan("x5_probe_auc")
    // the distinct-score frame is range-partitioned (balanced by sampling)
    assert(p.contains("rangepartitioning(s#"),
      s"distinct scores must range-partition:\n$p")
    // every window is partitioned by the range id — the operator's whole
    // reason to exist is NEVER sorting the corpus in one task
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("windowspecdefinition(pid#")),
      s"cumsum window must be partitioned by range id:\n$p")
    // the only single-partition exchange is the final one-row total
    assert("SinglePartition".r.findAllIn(p).size == 1,
      s"only the one-row final aggregate may single-partition:\n$p")
  }

  test("x6_latest_wins: max-struct compaction aggregate, no window") {
    val p = plan("x6_latest_wins")
    assert(nodeCount(p, "Window") == 0,
      s"latest-wins must be an aggregate, not row_number():\n$p")
    // partial max(struct(ord, payload)) combines map-side BEFORE the
    // exchange — a hot key never materializes its history in one task
    assert(p.contains("partial_max(struct("),
      s"compaction must partial-aggregate map-side:\n$p")
  }

  test("k8_hll: map-side partial HLL states before each exchange") {
    val p = plan("k8_hll")
    assert(p.contains("partial_graft_hll_state"),
      s"register states must build map-side:\n$p")
    assert(p.contains("partial_graft_hll_merge"),
      s"the rollup must merge states map-side too:\n$p")
    assert(nodeCount(p, "ObjectHashAggregate") >= 4,
      s"expect partial+final pairs for both the build and the rollup:\n$p")
    assert(nodeCount(p, "Window") == 0 && nodeCount(p, "Join") == 0,
      s"the cube rollup is pure aggregation:\n$p")
  }

  test("x9_source_overlap: token-keyed equi self-join, sizes broadcast") {
    val p = plan("x9_source_overlap")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the source-pair grid must come from the token equi join:\n$p")
    assert(nodeCount(p, "SortMergeJoin") + nodeCount(p, "ShuffledHashJoin") +
      nodeCount(p, "BroadcastHashJoin") >= 1,
      s"postings self-join must be an equi join on the token:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"per-source vocabulary sizes must broadcast:\n$p")
    // the DISTINCT (source, token) reduction partial-aggregates map-side
    assert(p.contains("partial"), s"postings dedup must combine map-side:\n$p")
  }

  test("s8_temperature_mix: one corpus scan, O(sources) apportionment") {
    val p = plan("s8_temperature_mix")
    assert(nodeCount(p, "Scan parquet") == 1,
      s"the per-source count is the ONLY corpus-sized stage:\n$p")
    assert(p.contains("partial_count"),
      s"the source count must combine map-side:\n$p")
    // the apportionment windows rank/total the O(sources) frame — tiny
    // by construction (sources are ingest feeds, not documents)
    assert(nodeCount(p, "Window") <= 3 && nodeCount(p, "Window") >= 1,
      s"bounded apportionment windows over the source frame only:\n$p")
    assert(nodeCount(p, "Join") == 0,
      s"totals ride whole-frame windows, never a rescan join:\n$p")
  }

  test("t20_novelty: gram-keyed equi left join, no cartesian") {
    val p = plan("t20_novelty")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"novelty membership must be a gram-keyed equi join:\n$p")
    assert(nodeCount(p, "SortMergeJoin") + nodeCount(p, "ShuffledHashJoin") +
      nodeCount(p, "BroadcastHashJoin") >= 1,
      s"base-set membership must be an equi join:\n$p")
    assert(p.contains("LeftOuter") || p.contains("LeftSemi") ||
      p.contains("LeftAnti"),
      s"incoming grams probe the base set with a left-flavored join:\n$p")
    assert(nodeCount(p, "Window") == 0,
      s"novelty is pure aggregation, no window:\n$p")
  }

  test("d15_winnowing: doc-partitioned selection window, one corpus scan") {
    val p = plan("d15_winnowing")
    assert(nodeCount(p, "Scan parquet") == 1,
      s"the gram stream is built in one corpus pass:\n$p")
    // the min-struct selection window is partitioned by doc — a doc's
    // grams fit one task at any corpus size; never a global window
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("doc_id#")),
      s"selection window must be partitioned by doc_id:\n$p")
    assert(nodeCount(p, "Join") == 0,
      s"winnowing is window+distinct, no join anywhere:\n$p")
    // r19: the selection window itself rides the BUCKETED scan's
    // hashpartitioning(doc_id) and the fingerprint dedup rides the
    // window's — the only exchange left is the final order-by range
    assert(nodeCount(p, "Exchange") == 1,
      s"window + distinct must ride the bucketed scan's partitioning:\n$p")
  }

  test("e15_mad_outliers: user-keyed windows and equi joins only") {
    val p = plan("e15_mad_outliers")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("user_id#")),
      s"both selection windows must be partitioned by user_id:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"median/MAD joins must stay user-keyed equi joins:\n$p")
    assert(nodeCount(p, "SortMergeJoin") + nodeCount(p, "ShuffledHashJoin") +
      nodeCount(p, "BroadcastHashJoin") >= 3,
      s"count/median/MAD frames join back on user_id:\n$p")
  }

  test("v7_truncation_recall: two bounded-heap rankings, queries broadcast") {
    val p = plan("v7_truncation_recall")
    assert(nodeCount(p, "TopKPerKey") >= 2,
      s"both rankings must be bounded heaps, never a per-query sort:\n$p")
    assert(nodeCount(p, "Window") == 0,
      s"no window anywhere in the recall path:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the query side must broadcast into the scan:\n$p")
    assert(nodeCount(p, "BroadcastNestedLoopJoin") >= 2,
      s"both corpus passes join the broadcast query set:\n$p")
  }

  test("k9_bloom: map-side partial bloom states before each exchange") {
    val p = plan("k9_bloom")
    assert(p.contains("partial_graft_bloom_state"),
      s"bit images must build map-side:\n$p")
    assert(p.contains("partial_graft_bloom_merge"),
      s"the rollup must OR states map-side too:\n$p")
    assert(nodeCount(p, "ObjectHashAggregate") >= 4,
      s"expect partial+final pairs for the build and the rollup:\n$p")
    assert(nodeCount(p, "Window") == 0 && nodeCount(p, "Join") == 0,
      s"the membership cube is pure aggregation:\n$p")
  }

  test("g6_ktruss: wedge + closure stay equi joins over the persisted index") {
    val p = plan("g6_ktruss")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"triangle enumeration must be equi joins, never all-pairs:\n$p")
    assert(p.contains("LeftSemi"),
      s"the wedge closure must probe with a semi join:\n$p")
    assert(nodeCount(p, "Window") == 0,
      s"support is an aggregate, not a window rank:\n$p")
  }

  test("t21_rake: doc-partitioned windows, bounded-heap top-3") {
    val p = plan("t21_rake")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("doc_id#")),
      s"every window must be partitioned by doc_id:\n$p")
    assert(nodeCount(p, "TopKPerKey") >= 1,
      s"top-3 phrases must come from the bounded heap, not a sort:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"word-score join must stay doc-keyed equi:\n$p")
  }

  test("u2_stupid_backoff: count tables broadcast, no window") {
    val p = plan("u2_stupid_backoff")
    assert(nodeCount(p, "BroadcastHashJoin") >= 3,
      s"bigram/unigram tables must broadcast into the occurrence scan:\n$p")
    assert(nodeCount(p, "Window") == 0,
      s"backoff scoring is pure map + aggregate:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only the 1-row totals may nested-loop:\n$p")
  }

  test("t22_sentences: map-only segmentation, one order exchange") {
    val p = plan("t22_sentences")
    assert(nodeCount(p, "Join") == 0 && nodeCount(p, "Window") == 0,
      s"segmentation is per-row expression work:\n$p")
    assert(nodeCount(p, "Exchange") == 1,
      s"only the final order-by range exchange:\n$p")
  }

  test("x11_dataset_card: one corpus scan feeds the multi-distinct aggregate") {
    val p = plan("x11_dataset_card")
    assert(nodeCount(p, "Scan parquet") == 1,
      s"every statistic comes from ONE corpus pass:\n$p")
    assert(nodeCount(p, "Join") == 0 && nodeCount(p, "Window") == 0,
      s"the card is pure aggregation + unpivot:\n$p")
    assert(p.contains("Expand") || p.contains("partial"),
      s"multi-distinct must use the standard expand/partial path:\n$p")
  }

  test("a6_ivf_pq: one corpus projection, cell-pruned candidates, bounded heaps") {
    val p = plan("a6_ivf_pq")
    // cell + codes come from ONE narrow corpus projection — embeddings
    // are scanned once for the corpus side (plus once for the query side)
    assert(nodeCount(p, "Scan parquet") <= 2,
      s"cell+codes must fuse into one corpus projection:\n$p")
    assert(nodeCount(p, "TopKPerKey") >= 2,
      s"probe ranking and final winners are bounded heaps:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"probe set and LUT must broadcast into the candidate join:\n$p")
    assert(nodeCount(p, "Window") == 0,
      s"no window anywhere in the serving path:\n$p")
  }

  test("d16_winnow_pairs: df-capped postings, equi candidate join") {
    val p = plan("d16_winnow_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the fingerprint equi join:\n$p")
    assert(p.contains("LeftSemi"),
      s"postings must be df-cap-pruned with a semi join:\n$p")
    // the only window is d15's doc-partitioned selection pass
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("doc_id#")),
      s"selection window must stay partitioned by doc_id:\n$p")
  }

  test("x12_source_cdf: cumsum over the distinct-value frame, equi joins back") {
    val p = plan("x12_source_cdf")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("source#")),
      s"the cumulative window runs per source over DISTINCT values:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"CDF assignment must be an equi join:\n$p")
    assert(nodeCount(p, "SortMergeJoin") + nodeCount(p, "ShuffledHashJoin") +
      nodeCount(p, "BroadcastHashJoin") >= 2,
      s"cum + totals join back onto the documents:\n$p")
  }

  test("t23_readability: map-only feature extraction, one order exchange") {
    val p = plan("t23_readability")
    assert(nodeCount(p, "Join") == 0 && nodeCount(p, "Window") == 0,
      s"readability ratios are per-row expression work:\n$p")
    assert(nodeCount(p, "Exchange") == 1,
      s"only the final order-by range exchange:\n$p")
  }

  test("v8_centroid_drift: two decimal-summed passes meet on (label, pos)") {
    val p = plan("v8_centroid_drift")
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"centroid means must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"base and drop centroids meet in an equi join:\n$p")
    assert(nodeCount(p, "Window") == 0,
      s"drift is pure aggregation:\n$p")
    assert(nodeCount(p, "Scan parquet") == 2,
      s"exactly the base and drop corpus passes:\n$p")
  }

  test("p4_chunk_overlap: per-doc chunk explode, no shuffle beyond the order") {
    val p = plan("p4_chunk_overlap")
    assert(nodeCount(p, "Join") == 0 && nodeCount(p, "Window") == 0,
      s"chunking is per-document sequence arithmetic:\n$p")
    assert(nodeCount(p, "Exchange") == 1,
      s"only the final order-by range exchange:\n$p")
    assert(nodeCount(p, "Generate") >= 1,
      s"chunk starts come from an exploded sequence:\n$p")
  }

  test("c9_contam_spans: corpus streams against the broadcast eval gram set") {
    val p = plan("c9_contam_spans")
    assert(p.contains("BroadcastExchange"),
      s"the eval gram set must broadcast — the corpus side never shuffles:\n$p")
    assert(p.contains("LeftSemi"),
      s"localization is a semi-join membership probe:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"gram membership must be an equi join:\n$p")
    assert(nodeCount(p, "Window") == 0,
      s"no window anywhere in the localization path:\n$p")
  }

  test("g7_modularity: lang-keyed equi joins; only the 1-row m nested-loops") {
    val p = plan("g7_modularity")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian anywhere:\n$p")
    assert(nodeCount(p, "BroadcastNestedLoopJoin") <= 1,
      s"only the one-row edge total may nested-loop in:\n$p")
    assert(nodeCount(p, "SortMergeJoin") + nodeCount(p, "ShuffledHashJoin") +
      nodeCount(p, "BroadcastHashJoin") >= 3,
      s"endpoint langs and the degree rollup join equi:\n$p")
    assert(nodeCount(p, "Window") == 0,
      s"modularity is pure aggregation:\n$p")
  }

  test("s9_hard_negatives: broadcast queries, label filter before the heap") {
    val p = plan("s9_hard_negatives")
    assert(nodeCount(p, "TopKPerKey") >= 1,
      s"winners come from the bounded heap, never a per-query sort:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the query batch must broadcast into the corpus scan:\n$p")
    assert(nodeCount(p, "Window") == 0,
      s"no window anywhere in the mining path:\n$p")
    assert(nodeCount(p, "Scan parquet") <= 2,
      s"one corpus pass plus the query-side read:\n$p")
  }

  test("e16_burst_ratio: hourly pre-aggregate, type-partitioned RANGE frame") {
    val p = plan("e16_burst_ratio")
    assert(p.contains("partial_count"),
      s"the hourly count must combine map-side before the exchange:\n$p")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("event_type#")),
      s"the trailing frame must be partitioned by event_type:\n$p")
    assert(nodeCount(p, "Join") == 0,
      s"burst scoring is aggregate + window, no join:\n$p")
  }

  test("x13_budget_waterfill: one corpus scan, O(langs) allocation rounds") {
    val p = plan("x13_budget_waterfill")
    assert(nodeCount(p, "Scan parquet") == 1,
      s"the per-lang token count is the ONLY corpus-sized stage:\n$p")
    assert(p.contains("partial_sum"),
      s"the token count must combine map-side:\n$p")
    // the waterfill rounds run over the O(langs) aggregate via
    // whole-frame windows (the s8 discipline), never a rescan join
    assert(nodeCount(p, "Join") == 0,
      s"totals ride whole-frame windows, never a rescan join:\n$p")
  }

  test("t24_vocab_growth: per-gram first-doc reduction, tiny checkpoint frame") {
    val p = plan("t24_vocab_growth")
    assert(p.contains("partial_min"),
      s"each gram's first doc must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only the one-row max_id may nested-loop in:\n$p")
    // the cumulative sum runs over the ≤10-row checkpoint frame — the
    // single unpartitioned window in this plan is provably bounded
    assert(nodeCount(p, "Window") == 1,
      s"one bounded checkpoint window only:\n$p")
  }

  test("t14_tfidf_simjoin serving: scans the persisted index, no joins") {
    val p = plan("t14_tfidf_simjoin")
    assert(nodeCount(p, "Scan parquet") == 1 && p.contains("tfidf_pairs"),
      s"serving path must read the materialized pair index:\n$p")
    assert(nodeCount(p, "Join") == 0 && nodeCount(p, "HashAggregate") == 0,
      s"serving path must not re-run the index build:\n$p")
  }

  test("s6_dsir_weights: count tables broadcast; text never shuffles") {
    val p = plan("s6_dsir_weights")
    // target + raw vocabulary joins are broadcast (the u1 discipline) —
    // only (doc_id, ratio) longs reach the per-doc aggregate
    assert(nodeCount(p, "BroadcastHashJoin") >= 2,
      s"floored count tables must broadcast:\n$p")
    assert(nodeCount(p, "Window") == 0 && !p.contains("CartesianProduct"), p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.forall(!_.contains("text#")),
      s"document text must never shuffle:\n$p")
  }

  test("e12_transitions: window partitioned by user, totals broadcast") {
    val p = plan("e12_transitions")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("windowspecdefinition(user_id#")),
      s"successor window must be partitioned by user — a user's history fits a task, the global stream does not:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-source totals must broadcast back:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t18_collocations: df-banded equi self-join, no cartesian") {
    val p = plan("t18_collocations")
    assert(!p.contains("CartesianProduct"),
      s"pair generation must be an equi join on doc_id:\n$p")
    // the df band joins onto the token stream as a broadcast
    assert(nodeCount(p, "BroadcastHashJoin") >= 1,
      s"banded vocabulary must broadcast:\n$p")
    assert(nodeCount(p, "Window") == 0, s"no window anywhere:\n$p")
  }

  test("d14_sorted_neighborhood: neighbor window partitioned by block") {
    val p = plan("d14_sorted_neighborhood")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("windowspecdefinition(lang#")),
      s"the sort-neighbor window must be block-partitioned, never a global sort:\n$p")
    assert(!p.contains("CartesianProduct") && nodeCount(p, "Join") == 0,
      s"candidates come from the window, not a join:\n$p")
  }

  test("x14_shard_manifest: map-only assignment into one partial+final aggregate") {
    val p = plan("x14_shard_manifest")
    assert(nodeCount(p, "Join") == 0 && nodeCount(p, "Window") == 0,
      s"the manifest is pure aggregation:\n$p")
    assert(nodeCount(p, "HashAggregate") >= 2,
      s"shard totals must partial-aggregate map-side:\n$p")
    assert(nodeCount(p, "Exchange") <= 2,
      s"one shuffle for the shard aggregate (plus the final sort):\n$p")
  }

  test("u3_bpe_distributed: per-round 1-row argmax, vocab stays distributed") {
    val p = plan("u3_bpe_distributed")
    assert(nodeCount(p, "TakeOrderedAndProject") >= 2,
      s"each round's argmax must be per-partition top-1, not a global sort:\n$p")
    assert(nodeCount(p, "Window") == 0,
      s"no window anywhere in the merge loop:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the only row-multiplying join is the broadcast 1-row top pair:\n$p")
    // the O(vocab) symbol table must never sit under a broadcast hint —
    // only the 1-row argmax may broadcast (checked logically, like the
    // graph-family guard below: at test SF sizes Catalyst is free to
    // size-pick broadcasts in the physical plan)
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ResolvedHint}
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, UnaryNode}
    def rootLimit(q: LogicalPlan): Boolean = q match {
      case _: GlobalLimit | _: LocalLimit => true
      case u: UnaryNode => rootLimit(u.child)
      case _ => false
    }
    val analyzed =
      SparkEntry.queries("u3_bpe_distributed")(spark, dir).queryExecution.analyzed
    val hinted = analyzed.collect { case h: ResolvedHint => h.child }
    assert(hinted.nonEmpty && hinted.forall(rootLimit),
      "every broadcast hint must wrap the limit-1 argmax, never the vocab table")
  }

  test("g1/g2/g5: no broadcast hint on a vertex-cardinality aggregate") {
    // The degree frame has one row per vertex with an edge — a forced
    // broadcast hint there overrides the size threshold and OOMs the
    // driver on a billion-vertex graph. Only 1-row GLOBAL aggregates
    // (vertex count, seed count) may carry an explicit hint; grouped
    // aggregates must join plain and let Catalyst size-pick the
    // strategy. Checked on the analyzed LOGICAL plan: at test SF
    // Catalyst may legitimately auto-broadcast the tiny frame, so the
    // physical plan is not the right place to assert.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, ResolvedHint}
    import org.apache.spark.sql.catalyst.plans.logical.UnaryNode
    def rootAgg(p: LogicalPlan): Option[Aggregate] = p match {
      case a: Aggregate => Some(a)
      case u: UnaryNode => rootAgg(u.child)
      case _ => None
    }
    // g13_louvain_levels is checked via its round unit below — its full
    // query runs per-level eager checkpoints at CONSTRUCTION (the g9
    // situation), which would perturb the golden suite's cache state
    for (name <- Seq("g1_pagerank", "g2_triangle_count", "g5_ppr",
        "g10_hits")) {
      val analyzed =
        SparkEntry.queries(name)(spark, dir).queryExecution.analyzed
      val offenders = analyzed.collect { case h: ResolvedHint =>
        rootAgg(h.child)
      }.flatten.filter(_.groupingExpressions.nonEmpty)
      assert(offenders.isEmpty,
        s"$name: broadcast hint wraps a grouped (vertex-cardinality) " +
          s"aggregate — scale-killer:\n${offenders.mkString("\n")}")
    }
  }

  test("g1/g5/g8: per-round edge frame cached PRE-PARTITIONED on the join key") {
    // r17 (replaces the retired golden pins, whose cached subtrees are
    // suite-order-dependent): the iterative walks persist their edge
    // frame hash-partitioned on doc_a, so every round's edge⋈rank join
    // plans zero exchange on the corpus-sized side — assert the cached
    // relation actually carries that partitioning
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (name <- Seq("g1_pagerank", "g5_ppr", "g8_pagerank_dangling")) {
        val exec =
          SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
        val scans = exec.collect { case s: InMemoryTableScanExec => s }
        // assert on the CACHED PLAN's partitioning (what the persisted
        // layout holds) rather than the scan node's re-mapped view of
        // it, which degrades to UnknownPartitioning under some
        // suite-order cache states (attribute re-map quirk) even though
        // the cached bytes are partitioned
        assert(scans.exists(_.relation.cachedPlan.outputPartitioning match {
          case h: HashPartitioning =>
            h.expressions.exists(_.sql.contains("doc_a"))
          case _ => false
        }), s"$name: expected a cached edge frame hash-partitioned on " +
          s"doc_a among ${scans.map(_.relation.cachedPlan.outputPartitioning)}:\n$exec")
        assert(nodeCount(exec.toString, "CartesianProduct") == 0)
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("g5_ppr: per-round edge join on source id; seeds/deg broadcast; no cartesian") {
    val p = plan("g5_ppr")
    assert(p.contains("tfidf_pairs"),
      s"edges must come from the materialized pair index:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(nodeCount(p, "Window") == 0,
      s"rank updates are joins+aggregates, never a window:\n$p")
  }

  test("g10_hits: alternating equi joins + partial sums; no window, no cartesian") {
    val p = plan("g10_hits")
    assert(p.contains("tfidf_pairs"),
      s"edges must come from the materialized pair index:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(nodeCount(p, "Window") == 0,
      s"hub/authority updates are joins+aggregates, never a window:\n$p")
    // the BIGINT sums must map-combine: every HashAggregate pairs
    // partial/final, so a partial_sum appears in the plan
    assert(p.contains("partial_sum"),
      s"per-endpoint score sums must combine map-side:\n$p")
  }

  test("g13 louvain match round: label maps are equi joins; no window, no cartesian") {
    // the FULL g13 query runs per-level eager checkpoints at construction
    // (the g9 situation), so this pins its repeated ROUND UNIT instead —
    // the g4_kcore_round / g6_truss_round discipline. The round is
    // construction-side-effect-free and carries every per-level shape.
    import org.apache.spark.sql.functions.{col, count, lit}
    // constructing any pair consumer publishes the shared index parquet
    SparkEntry.queries("g12_degree_hist")(spark, dir)
    val docs = Tables.load(spark, dir, "documents").select(col("doc_id"))
    val pr = spark.read.parquet(
      s"${Tables.modelsDir(dir)}/tfidf_pairs.parquet")
      .select(col("doc_a"), col("doc_b"))
    val labels = docs.select(col("doc_id"), col("doc_id").as("comm"))
    val und = pr.union(
      pr.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val degV = und.groupBy(col("doc_a")).agg(count(lit(1)).as("deg"))
      .toDF("v", "deg")
    val m1 = pr.agg(count(lit(1)).as("m"))
    val round = graft.operators.Graph.louvainMatchRound(labels, pr, degV, m1)
    val p = round.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("tfidf_pairs"),
      s"edges must come from the materialized pair index:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(nodeCount(p, "Window") == 0,
      s"coarse weights/degrees are joins+aggregates, never a window:\n$p")
    // coarse-edge weights and community degrees must combine map-side
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"round aggregates must combine map-side:\n$p")
    // the g1-family scale invariant: no broadcast hint may wrap a
    // grouped (vertex-cardinality) aggregate
    val analyzed = round.queryExecution.analyzed
    val hinted = analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }.filter(_.child.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
        if a.groupingExpressions.nonEmpty => a
    }.nonEmpty)
    assert(hinted.isEmpty,
      s"broadcast hint wraps a grouped aggregate — scale-killer:\n$hinted")
  }

  test("d19_incremental_minhash: drop probes the persisted band index") {
    // the QUERY's construction triggers the mh_index holder build (a
    // write job — the g9-situation side effect), so the plan is pinned
    // on the operator over an already-persisted index instead: same
    // serving shape, no suite-order cache perturbation
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_d19_plan")
      .resolve("mh_index.parquet").toString
    graft.operators.Dedup.minhashIndex(
      Seq((1L, "the quick brown fox jumps over the lazy dog again and again"))
        .toDF("doc_id", "text")).write.mode("overwrite").parquet(tmp)
    val probe = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 4 === 0)
    val p = graft.operators.Dedup.incrementalMinhash(
        spark.read.parquet(tmp), probe)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("mh_index"),
      s"the base side must scan the persisted band index, not rebuild it:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(nodeCount(p, "Window") == 0,
      s"candidates come from a (band, bucket) equi join, never a window:\n$p")
    // the per-probe rollup must combine map-side
    assert(p.contains("partial_count"),
      s"the n_dups rollup must map-combine:\n$p")
    // raw text never shuffles: the probe's signature/shingle compute is
    // map-side, so no exchange carries a `text` column
    val exchanged = p.linesIterator
      .filter(_.contains("Arguments: hashpartitioning("))
      .filter(_.contains("text#")).toSeq
    assert(exchanged.isEmpty,
      s"probe text must be hashed map-side, never shuffled:\n${exchanged.mkString("\n")}")
  }

  test("d23 index deletes: delta joins on the key, no corpus re-read, no cartesian") {
    // like d19, the serving queries scan materialized shared indexes
    // (constructing them runs the holder's write job — the g9
    // situation), so the DELETE operators are plan-pinned over
    // pre-written /tmp indexes instead: same shapes, no suite-order
    // cache perturbation
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_d23_plan")
    val docs = Tables.load(spark, dir, "documents")
    val revoked = docs.filter(col("doc_id") % 10 === 1)
    def render(df: DataFrame): String = df.queryExecution.explainString(
      ExplainMode.fromString("formatted"))
    // span delete: the delta aggregates the REVOKED docs only and the
    // merge is one equi join on the hash — no span text in any exchange
    val spanIdx = tmp.resolve("span_index.parquet").toString
    graft.operators.Dedup.spanIndexCounted(docs.limit(50))
      .write.mode("overwrite").parquet(spanIdx)
    val pSpan = render(graft.operators.Dedup.spanIndexDelete(
      spark.read.parquet(spanIdx), revoked))
    assert(pSpan.contains("span_index"), pSpan)
    assert(!pSpan.contains("CartesianProduct") &&
      !pSpan.contains("BroadcastNestedLoopJoin"), pSpan)
    assert(pSpan.linesIterator.filter(_.contains("hashpartitioning("))
      .forall(l => !l.contains("text#") && !l.contains("s#")),
      s"span strings must hash map-side, never shuffle:\n$pSpan")
    // postings delete: the df delta comes from the index's OWN revoked
    // rows — documents parquet is probed for ids only, text never read
    val postIdx = tmp.resolve("tfidf_postings.parquet").toString
    graft.operators.Dedup.tfidfPostingsFull(docs.limit(50))
      .write.mode("overwrite").parquet(postIdx)
    val pPost = render(graft.operators.Dedup.postingsDelete(
      spark.read.parquet(postIdx), revoked.select(col("doc_id"))))
    assert(pPost.contains("tfidf_postings"), pPost)
    // the ONE nested-loop join allowed is the broadcast cross attaching
    // the 1-row revoked-count aggregate (the scalar-attach shape every
    // n_docs consumer uses); a second one would be a real regression
    assert(!pPost.contains("CartesianProduct") &&
      nodeCount(pPost, "BroadcastNestedLoopJoin") <= 1, pPost)
    assert(pPost.linesIterator.filter(_.trim.startsWith("ReadSchema"))
      .forall(!_.contains("text")),
      s"no scan in the delete may read document text:\n$pPost")
    // the serve band over a deleted index stays a scan-side
    // filter+projection — no added shuffle vs the raw index read
    val pBand = render(graft.operators.Dedup.postingsBand(
      graft.operators.Dedup.postingsDelete(
        spark.read.parquet(postIdx), revoked.select(col("doc_id")))))
    assert(nodeCount(pBand, "Window") == 0, pBand)
    // minhash/ivf deletes are single anti equi joins
    val mhIdx = tmp.resolve("mh_index.parquet").toString
    graft.operators.Dedup.minhashIndex(docs.limit(50), maxBandBucket = 0)
      .write.mode("overwrite").parquet(mhIdx)
    val pMh = render(graft.operators.Dedup.minhashIndexDelete(
      spark.read.parquet(mhIdx), revoked.select(col("doc_id"))))
    assert(pMh.contains("LeftAnti"), pMh)
    assert(!pMh.contains("CartesianProduct"), pMh)
  }

  test("d23/d25b: lifecycle stores scan BUCKETED; no exchange above the store scan") {
    // r17: the persisted span/postings stores are written bucketed by
    // their probe key (gh / gram), so a delete/merge equi join plans
    // ZERO exchange on the store side — the 100 TB posture where a
    // takedown that is ∝ revoked-set in arithmetic must not pay a
    // full-store shuffle in the join. Pinned on the real serving
    // queries (constructing them runs the holder's write job once —
    // the g9 situation, accepted here because the BUCKETED scan is
    // exactly what's under test). AQE is disabled for the plan
    // inspection so the tree carries plain exchanges.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning

    def pathsToScan(p: SparkPlan, frag: String,
        acc: List[SparkPlan]): Seq[List[SparkPlan]] = p match {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(frag)) =>
        Seq((s :: acc).reverse)
      case _ => p.children.flatMap(c => pathsToScan(c, frag, p :: acc))
    }

    def check(name: String, frag: String, keys: Seq[String]): Unit = {
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // at this test SF the delta sides broadcast, so Spark's
      // DisableUnnecessaryBucketedScan would (correctly) strip the
      // bucket distribution it doesn't need; force it visible so the
      // LAYOUT property — the one that matters when the delta is too
      // big to broadcast — is what's pinned
      val prevAuto = spark.conf
        .get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        val exec = df.queryExecution.executedPlan
        val paths = pathsToScan(exec, frag, Nil)
        assert(paths.nonEmpty, s"$name: no scan of $frag found:\n$exec")
        var joinPaths = 0
        paths.foreach { path =>
          val scan = path.last.asInstanceOf[FileSourceScanExec]
          // walking UP from the scan, store rows must reach a join or a
          // (partial) aggregate before any shuffle: the only exchanges
          // allowed above the store are post-reduction ones
          val boundary = path.reverse.drop(1).find {
            case _: BaseJoinExec | _: BaseAggregateExec |
                _: ShuffleExchangeExec => true
            case _ => false
          }
          boundary.foreach { b =>
            assert(!b.isInstanceOf[ShuffleExchangeExec],
              s"$name: the store side shuffles before its join/agg — " +
                s"the bucketed layout is not being used:\n$exec")
          }
          // join-feeding scans must carry the bucket distribution (a
          // scan feeding only a pre-reducing aggregate may legitimately
          // be de-bucketed by DisableUnnecessaryBucketedScan)
          if (boundary.exists(_.isInstanceOf[BaseJoinExec])) {
            joinPaths += 1
            scan.outputPartitioning match {
              case h: HashPartitioning =>
                assert(h.expressions.map(_.sql.replaceAll("`", ""))
                    .map(_.split("\\.").last) == keys,
                  s"$name: store scan must be bucket-partitioned by " +
                    s"$keys, got ${h.expressions}:\n$scan")
              case other => fail(
                s"$name: join-feeding store scan must report its bucket " +
                  s"distribution, got $other — bucketed layout lost:\n$exec")
            }
          }
        }
        assert(joinPaths >= 1,
          s"$name: expected at least one join directly over the store scan:\n$exec")
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", prev)
        spark.conf.set(
          "spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
      }
    }

    check("d23_index_delete", "span_index.parquet", Seq("gh"))
    check("d25b_postings_merge", "tfidf_postings_older.parquet", Seq("gram"))
  }

  test("x19_syndication_matrix: pairs served from the materialized store, no cartesian") {
    // r17: the verified LSH pair set is a materialized index
    // (pairs_mh_t80 — the tfidfPairsShared discipline), so the serving
    // plan is a SCAN of the persisted edges + two source-map equi
    // joins + one rollup; the band-bucket machinery (skew caps, banded
    // self-join) runs once at store-build time and is plan-asserted by
    // the d3 operator tests
    val p = plan("x19_syndication_matrix")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("pairs_mh_t80"),
      s"pairs must come from the materialized verified pair store:\n$p")
    // no pair re-verification in the serving plan: windows (skew caps)
    // and shingle kernels belong to the build, not the serve
    assert(nodeCount(p, "Window") == 0,
      s"serving must not re-run the band-cap machinery:\n$p")
    assert(!p.contains("graft_shingle_hashes"),
      s"serving must not re-shingle the corpus:\n$p")
    // the rollup must combine map-side
    assert(p.contains("partial_count"),
      s"the source-pair rollup must map-combine:\n$p")
  }

  test("e14_rolling_window: range-frame window partitioned by user") {
    val p = plan("e14_rolling_window")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("windowspecdefinition(user_id#")),
      s"the rolling frame must be user-partitioned, never global:\n$p")
    assert(p.contains("RangeFrame"),
      s"the trailing-24h frame must be a RANGE frame:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c6_eval_leak_report: eval grams broadcast; corpus text never shuffles") {
    val p = plan("c6_eval_leak_report")
    assert(nodeCount(p, "BroadcastHashJoin") >= 1,
      s"the eval gram set must broadcast into the corpus stream:\n$p")
    assert(nodeCount(p, "Window") == 0 && !p.contains("CartesianProduct"), p)
    val shuffleLines = p.linesIterator
      .filter(_.contains("hashpartitioning(")).toSeq
    assert(shuffleLines.nonEmpty && shuffleLines.forall(!_.contains("text#")),
      s"corpus text must never shuffle:\n${shuffleLines.mkString("\n")}")
  }

  test("m5_media_phash: banded equi candidate join; blobs never shuffle") {
    val p = plan("m5_media_phash")
    assert(!p.contains("CartesianProduct"),
      s"candidates must come from the band equi join:\n$p")
    assert(nodeCount(p, "Window") == 0, p)
    val shuffleLines = p.linesIterator
      .filter(_.contains("hashpartitioning(")).toSeq
    assert(shuffleLines.nonEmpty && shuffleLines.forall(l =>
      !l.contains("media#") && !l.contains("text#")),
      s"media blobs and text must never shuffle — only hashes and ids:\n${shuffleLines.mkString("\n")}")
  }

  test("e13_decay: 1-row max broadcast, partial agg, shift weights need no window") {
    val p = plan("e13_decay")
    assert(p.contains("BroadcastExchange"),
      s"the corpus-max timestamp must broadcast:\n$p")
    assert(nodeCount(p, "HashAggregate") >= 2,
      s"the per-user sum must partial-aggregate map-side:\n$p")
    assert(nodeCount(p, "Window") == 0 && !p.contains("CartesianProduct"), p)
  }

  test("x8_source_drift: head vocab via TakeOrdered; grid joins broadcast") {
    val p = plan("x8_source_drift")
    assert(p.contains("TakeOrderedAndProject"),
      s"the head vocabulary must be a bounded top-n, not a global sort:\n$p")
    assert(nodeCount(p, "BroadcastHashJoin") >= 1,
      s"the head token set must broadcast into the occurrence stream:\n$p")
    assert(nodeCount(p, "Window") == 0 && !p.contains("CartesianProduct"), p)
  }

  test("t19_bm25: query terms broadcast with df attached; top-50 is TakeOrdered") {
    val p = plan("t19_bm25")
    assert(nodeCount(p, "BroadcastHashJoin") >= 1,
      s"the 3-row query-term table (df attached) must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"final top-50 must be per-partition top-n, not a global sort:\n$p")
    assert(nodeCount(p, "Window") == 0 && !p.contains("CartesianProduct"), p)
  }

  test("x7_incremental_stats: two stats passes merge; base never rescanned as a whole") {
    val p = plan("x7_incremental_stats")
    // partial+final pairs for BOTH the base and the delta aggregate
    assert(nodeCount(p, "HashAggregate") >= 4,
      s"both stats passes must partial-aggregate map-side:\n$p")
    assert(nodeCount(p, "Window") == 0 && !p.contains("CartesianProduct"), p)
    // the merge joins two O(groups) frames on lang — never the corpora
    assert(p.contains("FullOuter"), s"the merge is a full-outer stats join:\n$p")
  }

  test("c5_split_leakage: fp-keyed flags, bodies never shuffle, no window") {
    val p = plan("c5_split_leakage")
    assert(nodeCount(p, "Window") == 0 && !p.contains("CartesianProduct"), p)
    val shuffleLines = p.linesIterator
      .filter(_.contains("hashpartitioning(")).toSeq
    assert(shuffleLines.nonEmpty && shuffleLines.forall(!_.contains("text#")),
      s"document text must never shuffle — only fingerprints:\n${shuffleLines.mkString("\n")}")
  }

  test("s7_quota_interleave: quotas via bounded heap; position is arithmetic") {
    val p = plan("s7_quota_interleave")
    assert(nodeCount(p, "TopKPerKey") >= 2,
      s"per-source quota must be the two-phase bounded heap:\n$p")
    assert(nodeCount(p, "BroadcastHashJoin") >= 1,
      s"the source index table must broadcast:\n$p")
    // the only window ranks the distinct-source frame (#sources rows,
    // provably tiny — the deterministicCentroids precedent)
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.size <= 1, s"only the tiny source-index window may exist:\n$p")
  }

  test("a5_rrf_fusion: both rankings bounded-heap, queries broadcast, no window") {
    val p = plan("a5_rrf_fusion")
    // three TopKPerKey stages: cosine top-20, quantized top-20, fused top-10
    assert(nodeCount(p, "TopKPerKey") >= 3,
      s"every ranking must be a bounded heap, never a per-query sort:\n$p")
    assert(!p.contains("WindowExec") && nodeCount(p, "Window") == 0,
      s"no window anywhere in the fusion path:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the query side must broadcast into the scan:\n$p")
    assert(nodeCount(p, "BroadcastNestedLoopJoin") >= 2,
      s"both corpus passes join the broadcast query set:\n$p")
  }

  test("g4_kcore: peel rounds are semi joins over the persisted index") {
    val p = plan("g4_kcore")
    assert(p.contains("tfidf_pairs"),
      s"the edge set must come from the materialized pair index:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // each peel round restricts edges via two left-semi equi joins
    assert(p.contains("LeftSemi"),
      s"survivor restriction must be a semi join:\n$p")
  }

  test("s11_dedup_discount: one fp window, bodies never shuffle, no join") {
    val p = plan("s11_dedup_discount")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("windowspecdefinition(fp#")),
      s"the copy count must ride the d1 md5-fingerprint window:\n$p")
    assert(nodeCount(p, "Join") == 0,
      s"the discount weight needs no join anywhere:\n$p")
    assert(nodeCount(p, "Exchange") <= 2,
      s"one fp exchange plus the final order only:\n$p")
  }

  test("x16_curation_funnel: one corpus scan, one fp window, partial agg") {
    val p = plan("x16_curation_funnel")
    assert(nodeCount(p, "Scan parquet") == 1,
      s"all four stages' flags compute in ONE corpus pass:\n$p")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("windowspecdefinition(fp#")),
      s"the dedup flag is the only window, on the md5 fingerprint:\n$p")
    assert(nodeCount(p, "HashAggregate") >= 2,
      s"the funnel totals must partial-aggregate map-side:\n$p")
    assert(nodeCount(p, "Join") == 0,
      s"survival is a cumulative AND inside one aggregate, never a join:\n$p")
  }

  test("c10_span_excise: eval grams broadcast; excision needs no cartesian") {
    val p = plan("c10_span_excise")
    assert(p.contains("BroadcastExchange"),
      s"the eval gram set must broadcast — the corpus side never shuffles to probe it:\n$p")
    assert(p.contains("LeftSemi"),
      s"cover localization is a semi-join membership probe (c9's shape):\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"every join in the surgery path is equi:\n$p")
    assert(nodeCount(p, "Window") == 0,
      s"no window anywhere — covers aggregate by doc_id:\n$p")
  }

  test("d20_span_excise: text never shuffles — cover join-back rides the buckets") {
    // the production rewrite posture: span candidates hash map-side (the
    // d10 discipline), covers collapse to int arrays, and the join back
    // to bodies uses the doc_id-BUCKETED scan's own hashpartitioning —
    // only metadata exchanges, 100 TB of text stays put
    val p = plan("d20_span_excise")
    assert(p.contains("graft_docs_bkt"),
      s"the rewrite must read the bucketed corpus, not the flat parquet:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    val shuffleLines = p.linesIterator
      .filter(_.contains("hashpartitioning(")).toSeq
    assert(shuffleLines.nonEmpty &&
      shuffleLines.forall(l => !l.contains("text#") && !l.contains("toks#")
        && !l.contains("kept#")),
      s"document text/tokens must never shuffle:\n${shuffleLines.mkString("\n")}")
    // and NOT just because the tiny-SF planner broadcast the covers: with
    // auto-broadcast off (the 100 TB regime) the join-back must still keep
    // text out of every exchange — the bucketed scan satisfies the doc_id
    // distribution, so only the cover side exchanges
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val p2 = plan("d20_span_excise")
      val sl2 = p2.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
      assert(sl2.forall(l => !l.contains("text#") && !l.contains("toks#")
          && !l.contains("kept#")),
        s"no-broadcast regime: text must ride the bucket distribution, " +
          s"never an exchange:\n${sl2.mkString("\n")}")
    } finally spark.conf.set(thresholdKey, prev)
  }

  test("d21_span_keep_one: keeper election on the hash; text never shuffles") {
    val p = plan("d21_span_keep_one")
    assert(p.contains("graft_docs_bkt"),
      s"the rewrite must read the bucketed corpus:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(nodeCount(p, "Window") == 0,
      s"the keeper election is a struct-min aggregate, never a window:\n$p")
    val shuffleLines = p.linesIterator
      .filter(_.contains("hashpartitioning(")).toSeq
    assert(shuffleLines.nonEmpty &&
      shuffleLines.forall(l => !l.contains("text#") && !l.contains("toks#")
        && !l.contains("kept#")),
      s"document text/tokens must never shuffle:\n${shuffleLines.mkString("\n")}")
  }

  test("g14_incremental_pairs: drop probes the persisted postings, no rebuild") {
    val p = plan("g14_incremental_pairs")
    assert(p.contains("tfidf_postings"),
      s"edges must come from the materialized base postings index:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(nodeCount(p, "Window") == 0,
      s"pair scores are joins+aggregates, never a window:\n$p")
    // the score rollup must map-combine before its shuffle
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-pair terms must combine map-side:\n$p")
  }

  test("s13_mixture_manifest: bounded-heap selection, no corpus-sized window") {
    val p = plan("s13_mixture_manifest")
    assert(p.contains("TopKPerKey"),
      s"per-source selection must be the bounded-heap operator:\n$p")
    assert(p.contains("TopKPerKeyPartial"),
      s"the map-side partial heap must cap shuffle input at B rows per " +
        s"(partition x source):\n$p")
    // the ONLY windows run on the O(sources) apportionment frame, whose
    // lineage is the grouped count — never on per-document rows
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"),
      s"the O(sources) alloc table must broadcast onto the ranked rows:\n$p")
  }

  test("p5_pad_waste: map-only buckets into one partial+final aggregate") {
    val p = plan("p5_pad_waste")
    assert(nodeCount(p, "Scan parquet") == 1 && nodeCount(p, "Join") == 0 &&
      nodeCount(p, "Window") == 0,
      s"bucketing is per-row arithmetic, the report one aggregate:\n$p")
    assert(nodeCount(p, "HashAggregate") >= 2,
      s"bucket totals must partial-aggregate map-side:\n$p")
  }

  test("u5_tokenizer_fertility: one fused corpus pass, O(langs) aggregate") {
    val p = plan("u5_tokenizer_fertility")
    assert(nodeCount(p, "Scan parquet") == 1 && nodeCount(p, "Join") == 0 &&
      nodeCount(p, "Window") == 0,
      s"segmentation and byte totals ride ONE map-only pass:\n$p")
    assert(nodeCount(p, "HashAggregate") >= 2,
      s"per-lang totals must partial-aggregate map-side:\n$p")
  }

  test("v9_pair_sim_hist: TakeOrdered sample prefix, broadcast all-pairs") {
    val p = plan("v9_pair_sim_hist")
    assert(p.contains("TakeOrderedAndProject"),
      s"the md5-prefix sample must be per-partition top-n, not a global sort:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the fixed 128-row sample self-joins under broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && nodeCount(p, "Window") == 0, p)
  }

  test("q30_pivot: rewrites to one CASE-armed partial+final aggregate") {
    val p = plan("q30_pivot")
    assert(nodeCount(p, "Join") == 0,
      s"a fixed-list pivot needs no value-discovery join:\n$p")
    assert(nodeCount(p, "HashAggregate") >= 2,
      s"pivot cells must partial-aggregate map-side:\n$p")
  }

  test("a7_radius_search: queries broadcast, corpus scanned once, no heap") {
    val p = plan("a7_radius_search")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the query set must broadcast into the corpus scan:\n$p")
    assert(!p.contains("CartesianProduct") && nodeCount(p, "Window") == 0 &&
      !p.contains("TopKPerKey"),
      s"a radius is a filter, not a ranking — no heap, no window:\n$p")
  }

  test("d17_incremental_dedup: prefix probe is equi, base never self-joins") {
    val p = plan("d17_incremental_dedup")
    assert(!p.contains("CartesianProduct"),
      s"candidates come from the (lang, prefix-token) equi join only:\n$p")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.forall(_.contains("windowspecdefinition(doc_id#")),
      s"the only window is the per-doc df-rank for prefixes:\n$p")
  }

  test("g12_degree_hist: two stacked aggregates over the pair index") {
    val p = plan("g12_degree_hist")
    assert(p.contains("tfidf_pairs"),
      s"degrees must come from the materialized pair index:\n$p")
    assert(nodeCount(p, "Join") == 0 && nodeCount(p, "Window") == 0,
      s"the histogram is aggregation only:\n$p")
    assert(nodeCount(p, "HashAggregate") >= 3,
      s"both aggregate levels must partial-combine map-side:\n$p")
  }

  test("g11_louvain_move: scores from the pair index; only m broadcasts") {
    val p = plan("g11_louvain_move")
    assert(p.contains("tfidf_pairs"),
      s"the edge set must come from the materialized pair index:\n$p")
    assert(!p.contains("CartesianProduct") && nodeCount(p, "Window") == 0,
      s"the move is joins + one struct-min aggregate, never a window:\n$p")
    assert(nodeCount(p, "BroadcastNestedLoopJoin") <= 1,
      s"only the 1-row m frame may ride a nested-loop broadcast:\n$p")
  }

  test("m6_audio_energy: map-only synth + frame features, one order exchange") {
    val p = plan("m6_audio_energy")
    assert(nodeCount(p, "Join") == 0 && nodeCount(p, "Window") == 0,
      s"framing and features are per-row arithmetic:\n$p")
    assert(nodeCount(p, "Generate") >= 1,
      s"frames come from one explode:\n$p")
    assert(nodeCount(p, "Exchange") <= 1,
      s"nothing shuffles before the final order:\n$p")
  }

  test("m7_wav_energy: real-codec path is map-only — blobs never shuffle") {
    val p = plan("m7_wav_energy")
    assert(nodeCount(p, "Join") == 0 && nodeCount(p, "Window") == 0,
      s"decode + framing + features are per-row work:\n$p")
    assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"),
      s"the WAV codec must run in the typed mapPartitions discipline:\n$p")
    assert(nodeCount(p, "Exchange") <= 1,
      s"only the final order may exchange — WAV blobs must never " +
        s"shuffle:\n$p")
  }

  test("a8_ivf_radius: map-only cell assignment, broadcast probe set, no heap") {
    val p = plan("a8_ivf_radius")
    assert(!p.contains("CartesianProduct"),
      s"the probe is an equi join on cell:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the nprobe-cell query set must broadcast into the corpus scan:\n$p")
    assert(!p.contains("TopKPerKey") || p.contains("crank"),
      s"no result heap — a radius is a filter; only the nprobe cell " +
        s"ranking (crank) may use the bounded heap:\n$p")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.isEmpty, s"no window anywhere in the radius path:\n$p")
  }

  test("q31_unpivot: melt is an Expand over the aggregated frame, no join") {
    val p = plan("q31_unpivot")
    assert(nodeCount(p, "Expand") >= 1,
      s"unpivot must rewrite to Expand, not a union of rescans:\n$p")
    assert(nodeCount(p, "Scan parquet") == 1 && nodeCount(p, "Join") == 0,
      s"the melt runs on the O(sources) aggregate, corpus scanned once:\n$p")
  }

  test("d18_dup_cluster_hist: fp aggregate then size rollup, no window") {
    val p = plan("d18_dup_cluster_hist")
    assert(nodeCount(p, "Scan parquet") == 1 && nodeCount(p, "Join") == 0 &&
      nodeCount(p, "Window") == 0,
      s"the histogram is two stacked aggregates over one scan:\n$p")
    assert(nodeCount(p, "HashAggregate") >= 3,
      s"both aggregate levels must partial-combine map-side:\n$p")
  }

  test("x18_manifest_diff: two manifest aggregates meet in an O(shards) join") {
    val p = plan("x18_manifest_diff")
    assert(nodeCount(p, "Scan parquet") == 2,
      s"base and full manifests are one corpus scan each:\n$p")
    assert(!p.contains("CartesianProduct") && nodeCount(p, "Window") == 0,
      s"the delta is an equi join of two O(shards) frames:\n$p")
    assert(nodeCount(p, "HashAggregate") >= 4,
      s"both manifests must partial-aggregate map-side:\n$p")
  }

  test("v10_norm_hist: fused dot kernel into one histogram aggregate") {
    val p = plan("v10_norm_hist")
    assert(nodeCount(p, "Scan parquet") == 1 && nodeCount(p, "Join") == 0 &&
      nodeCount(p, "Window") == 0,
      s"norms are per-row kernel work, the histogram one aggregate:\n$p")
    assert(nodeCount(p, "HashAggregate") >= 2,
      s"bins must partial-aggregate map-side:\n$p")
  }

  test("t25_langid_confusion: map-only langid, O(langs squared) cells, no window") {
    val p = plan("t25_langid_confusion")
    assert(nodeCount(p, "Window") == 0 && !p.contains("CartesianProduct"),
      s"the confusion matrix is one aggregate plus a 1-row total:\n$p")
    assert(nodeCount(p, "HashAggregate") >= 2,
      s"cells must partial-aggregate map-side:\n$p")
    assert(nodeCount(p, "BroadcastNestedLoopJoin") <= 1,
      s"only the 1-row total may ride a nested-loop broadcast:\n$p")
  }

  test("x17_source_scorecard: one scan, one fp window, O(sources) aggregate") {
    val p = plan("x17_source_scorecard")
    assert(nodeCount(p, "Scan parquet") == 1,
      s"all scorecard flags compute in ONE corpus pass:\n$p")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("windowspecdefinition(fp#")),
      s"the dup flag is the only window, on the md5 fingerprint:\n$p")
    assert(nodeCount(p, "Join") == 0 && nodeCount(p, "HashAggregate") >= 2,
      s"the rollup is one map-combinable aggregate, never a join:\n$p")
  }

  test("a10_adc_rerank: bounded shortlist broadcasts onto one corpus scan") {
    val p = plan("a10_adc_rerank")
    assert(!p.contains("CartesianProduct"), p)
    assert(nodeCount(p, "Window") == 0,
      s"both rankings are bounded heaps, never a window:\n$p")
    // the rerank join reads full vectors for shortlist members only —
    // the candidate and query frames must broadcast, never shuffle the
    // corpus a second time
    assert(nodeCount(p, "BroadcastHashJoin") >= 2,
      s"shortlist and query frames must broadcast onto the corpus scan:\n$p")
    // both heap stages are the two-phase TopKPerKey (partial → final)
    assert(p.contains("GraftTopKPartial") || p.contains("TopKPerKey") ||
      nodeCount(p, "HashAggregate") >= 2, p)
  }

  test("u9_kneser_ney: count rollups only — no window, no per-context sort") {
    // NOT golden-pinned: the bigram-type frame is persistPublic-shared
    // (the d17/u3 cache-manager situation) — targeted asserts instead
    val p = plan("u9_kneser_ney")
    assert(nodeCount(p, "Window") == 0,
      s"every KN statistic is a map-combinable aggregate:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      s"type/continuation counts must combine map-side:\n$p")
    assert(nodeCount(p, "BroadcastNestedLoopJoin") <= 1,
      s"only the 1-row type total may ride a nested-loop broadcast:\n$p")
  }

  test("u8_tokenizer_compare: both segmenters in ONE fused corpus pass") {
    val p = plan("u8_tokenizer_compare")
    assert(nodeCount(p, "Scan parquet") == 1,
      s"BPE and unigram segmentation must share one corpus scan:\n$p")
    assert(nodeCount(p, "Join") == 0 && nodeCount(p, "Window") == 0,
      s"per-doc counts are map work; the rollup is one aggregate:\n$p")
    assert(nodeCount(p, "HashAggregate") >= 2,
      s"the O(langs) rollup must partial-aggregate map-side:\n$p")
  }

  test("v11_ann_recall: hit detection is a semi join over bounded frames") {
    val p = plan("v11_ann_recall")
    assert(nodeCount(p, "Window") == 0,
      s"both retrievals are bounded heaps; the eval is joins+aggregates:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.toLowerCase.contains("leftsemi"),
      s"exact∩approx must be a semi join, never a full join + distinct:\n$p")
  }

  test("x20 license rollup: equi joins + map-combine max; no window") {
    // the FULL x20 query builds the persisted cc_components holder at
    // construction (the d19/g13 situation) — pin the operator over
    // synthetic frames instead
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length}
    val comp = Seq((0L, 0L), (1L, 0L), (2L, 2L)).toDF("doc_id", "rep")
    val docs = Seq((0L, "web"), (1L, "booksx"), (2L, "web"))
      .toDF("doc_id", "source")
    val out = graft.operators.Dedup.licensePropagation(
      comp, docs, length(col("source")) % 4)
    val p = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"), p)
    assert(nodeCount(p, "Window") == 0,
      s"the component max is an aggregate, never a window:\n$p")
    assert(p.contains("partial_max"),
      s"the per-component max must combine map-side:\n$p")
  }

  test("p2/p3: no window partitions on the language alone (skew single-task)") {
    // the running sum goes through Layout.groupedRunningSum's two-level
    // prefix sum: a partitionBy(lang) row window would put every
    // document of a language in ONE task — at 100 TB the dominant
    // language is a single-executor sort. The row-level window must key
    // on (group, bucket); the only group-only window runs over the
    // O(buckets) offset frame.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (name <- Seq("p2_sequence_packing", "p3_sequence_chunks")) {
      val df = SparkEntry.queries(name)(spark, dir)
      val offenders = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec
            .flatMap(_.references.toSeq).map(_.name).distinct == Seq("lang") => w
      }
      assert(offenders.isEmpty,
        s"$name: a window partitions on lang alone — skewed-key " +
          s"single-task sort at scale:\n${offenders.mkString("\n")}")
      val p = plan(name)
      assert(p.contains("hashpartitioning(__rs_p") && p.contains("__rs_b"),
        s"$name: the running-sum exchange must key on (group, bucket):\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("e17_event_paths: per-user window, partial agg, 1-row total broadcast") {
    val p = plan("e17_event_paths")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("windowspecdefinition(user_id#")),
      s"the lead window must be partitioned by user — a user's history fits a task:\n$p")
    assert(nodeCount(p, "HashAggregate") >= 2,
      s"path support must partial-aggregate map-side:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row total must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  /** Shuffle keys from the formatted plan's Exchange detail lines. */
  private def shuffleKeyLines(p: String): Seq[String] =
    p.linesIterator.filter(_.contains("hashpartitioning(")).toSeq

  test("t27_secret_scrub: shuffles keyed on tokens/ids, never text; no window") {
    val p = plan("t27_secret_scrub")
    assert(!p.contains("CartesianProduct"), p)
    assert(nodeCount(p, "Window") == 0,
      s"the scrub needs no window — covers aggregate per doc:\n$p")
    val keys = shuffleKeyLines(p)
    assert(keys.nonEmpty && keys.forall(!_.contains("text#")),
      s"document text must never key a shuffle:\n${keys.mkString("\n")}")
    // the frequency qualification partial-aggregates map-side
    assert(nodeCount(p, "HashAggregate") >= 2, p)
  }

  test("d24_char_excise: shuffles carry window hashes/ids, never the text") {
    val p = plan("d24_char_excise")
    assert(!p.contains("CartesianProduct"), p)
    val keys = shuffleKeyLines(p)
    assert(keys.nonEmpty &&
      keys.forall(l => !l.contains("text#") && !l.contains("t#")),
      s"char windows hash map-side — text never keys a shuffle:\n" +
        keys.mkString("\n"))
  }

  test("c11_char_decon: eval windows broadcast; corpus text never keys a shuffle") {
    val p = plan("c11_char_decon")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"),
      s"the eval window set is benchmark-sized and must broadcast:\n$p")
    val keys = shuffleKeyLines(p)
    assert(keys.forall(l => !l.contains("text#")),
      s"corpus text must never key a shuffle:\n${keys.mkString("\n")}")
  }

  test("a11_ivf_pq_residual: probe set + LUT broadcast; embeddings never key shuffles") {
    val p = plan("a11_ivf_pq_residual")
    assert(!p.contains("CartesianProduct"), p)
    assert(nodeCount(p, "BroadcastHashJoin") >= 2,
      s"qcells and the per-cell LUT are bounded and must broadcast:\n$p")
    val keys = shuffleKeyLines(p)
    assert(keys.forall(!_.contains("embedding#")),
      s"full vectors must never key a shuffle:\n${keys.mkString("\n")}")
    assert(p.contains("TopKPerKey"),
      s"winners come from the bounded heap, not a sort:\n$p")
  }

  test("x23_retention_sweep: policy broadcasts; one partial-agg rollup, no window") {
    val p = plan("x23_retention_sweep")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"),
      s"the O(sources) policy frame must broadcast:\n$p")
    assert(nodeCount(p, "Window") == 0, s"the sweep needs no window:\n$p")
    assert(nodeCount(p, "HashAggregate") >= 2,
      s"the rollup must partial-aggregate map-side:\n$p")
  }

  test("d27_char_excise_incremental: index probe is equi, text never keys shuffles") {
    val p = plan("d27_char_excise_incremental")
    assert(!p.contains("CartesianProduct"), p)
    // r19: the drop reads the bucketed corpus and the base index is a
    // materialized store — the cover aggregate and join-back ride
    // hashpartitioning(doc_id) from the scan, so the serving plan may
    // carry ZERO hash exchanges (the stronger property; keys.nonEmpty
    // was the pre-store shape). Whatever exchanges remain must never
    // carry text.
    assert(p.contains("graft_docs_bkt"),
      s"the drop must read the bucketed corpus:\n$p")
    assert(p.contains("charspan_index_base"),
      s"the probe must serve the materialized base index, not an " +
        s"inline rebuild:\n$p")
    val keys = shuffleKeyLines(p)
    assert(keys.forall(l => !l.contains("text#") && !l.contains("t#")),
      s"char windows hash map-side; bodies never key a shuffle:\n" +
        keys.mkString("\n"))
  }

  test("a12_opq_adc: map-only rotation, LUT broadcast, bounded-heap winners") {
    val p = plan("a12_opq_adc")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"),
      s"the ADC lookup table must broadcast:\n$p")
    assert(p.contains("TopKPerKey"),
      s"winners come from the bounded heap, not a sort:\n$p")
    val keys = shuffleKeyLines(p)
    assert(keys.forall(!_.contains("embedding#")),
      s"rotated vectors must never key a shuffle:\n${keys.mkString("\n")}")
  }

  test("g16_weighted_pagerank: strength joined plain, no vertex broadcast, no window") {
    val p = plan("g16_weighted_pagerank")
    assert(!p.contains("CartesianProduct"), p)
    assert(nodeCount(p, "Window") == 0, s"the walk needs no window:\n$p")
    // per-target sums partial-aggregate map-side each round
    assert(nodeCount(p, "HashAggregate") >= 2, p)
  }

  test("s15_curriculum_manifests: one bounded-heap ranking, quotas broadcast") {
    val p = plan("s15_curriculum_manifests")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TopKPerKey"),
      s"the per-source ranking is the bounded heap, not a window sort:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the O(sources x epochs) quota frame must broadcast:\n$p")
  }

  test("d26_components_delete: index-only — no scan ever reads text") {
    val p = plan("d26_components_delete")
    assert(!p.contains("CartesianProduct"), p)
    // the r16 contract: the repair is pure graph surgery on the
    // persisted store — corpus TEXT is never read by any scan in the
    // plan (the revoked slice prunes to doc_id)
    val reads = p.linesIterator
      .filter(_.trim.startsWith("ReadSchema")).toSeq
    assert(reads.nonEmpty && reads.forall(!_.contains("text")),
      s"the edge-splice delete must never read text:\n${reads.mkString("\n")}")
  }

  test("a13_opq_ivf_pq: rotation map-only; LUT broadcast; vectors never key shuffles") {
    val p = plan("a13_opq_ivf_pq")
    assert(!p.contains("CartesianProduct"), p)
    assert(nodeCount(p, "BroadcastHashJoin") >= 2,
      s"qcells and the per-cell LUT are bounded and must broadcast:\n$p")
    val keys = shuffleKeyLines(p)
    assert(keys.forall(!_.contains("embedding#")),
      s"rotated vectors must never key a shuffle:\n${keys.mkString("\n")}")
    assert(p.contains("TopKPerKey"),
      s"winners come from the bounded heap, not a sort:\n$p")
  }

  test("v14_pq_partial_refit: the re-encode is one map-only pass — no join, no agg") {
    val p = plan("v14_pq_partial_refit")
    assert(!p.contains("Join"),
      s"both argmins are codegen'd folds against literal books — no join:\n$p")
    assert(nodeCount(p, "HashAggregate") == 0 && nodeCount(p, "Window") == 0,
      s"the re-encode pass needs no aggregate and no window:\n$p")
    val keys = shuffleKeyLines(p)
    assert(keys.forall(!_.contains("embedding#")),
      s"vectors must never key a shuffle:\n${keys.mkString("\n")}")
  }

  test("s16_curriculum_incremental: heaps rank, quotas broadcast, no window sort") {
    val p = plan("s16_curriculum_incremental")
    assert(!p.contains("CartesianProduct"), p)
    assert(nodeCount(p, "TopKPerKey") >= 2,
      s"build AND merge rank through the bounded heap, not window sorts:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the O(sources x epochs) quota frame must broadcast:\n$p")
  }

  test("x25_takedown_audit_full: text never keys a shuffle across all eight deletes") {
    val p = plan("x25_takedown_audit_full")
    assert(!p.contains("CartesianProduct"), p)
    val keys = shuffleKeyLines(p)
    assert(keys.nonEmpty && keys.forall(!_.contains("text#")),
      s"every store shuffles hashes/tokens/ids — never bodies:\n" +
        keys.mkString("\n"))
  }

  test("x26_compaction_audit: merges advance persisted stores — text never keys a shuffle") {
    val p = plan("x26_compaction_audit")
    assert(!p.contains("CartesianProduct"), p)
    val keys = shuffleKeyLines(p)
    assert(keys.nonEmpty && keys.forall(!_.contains("text#")),
      s"every merge shuffles hashes/tokens/ids — never bodies:\n" +
        keys.mkString("\n"))
  }

  test("x27_governance_loop: expiry-fed deletes — text never keys a shuffle") {
    val p = plan("x27_governance_loop")
    assert(!p.contains("CartesianProduct"), p)
    val keys = shuffleKeyLines(p)
    assert(keys.nonEmpty && keys.forall(!_.contains("text#")),
      s"retention → takedown → audit must shuffle hashes/ids only:\n" +
        keys.mkString("\n"))
  }

  test("u13_unigram_em: one corpus aggregate; the M-step window sees O(vocab) rows") {
    val p = plan("u13_unigram_em")
    assert(!p.contains("CartesianProduct"), p)
    val keys = shuffleKeyLines(p)
    assert(keys.forall(!_.contains("text#")),
      s"the E-step explodes pieces map-side — text never keys a shuffle:\n" +
        keys.mkString("\n"))
    // usage partial-aggregates before the shuffle; the whole-frame
    // window runs AFTER the aggregate (on the O(vocab) frame)
    assert(nodeCount(p, "HashAggregate") >= 2, p)
    assert(nodeCount(p, "Window") == 1, p)
  }

  test("constants leave generated source, never the scans: pushdown and reuse intact") {
    import org.apache.spark.sql.execution.{
      FileSourceScanExec, FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import graft.plans.ParamLiteral
    object aqe extends AdaptiveSparkPlanHelper
    def hasParam(p: SparkPlan): Boolean =
      p.expressions.exists(_.exists(_.isInstanceOf[ParamLiteral]))
    // the executed plan, after the run (adaptive stages included)
    def executed(df: DataFrame): SparkPlan = { df.collect(); df.queryExecution.executedPlan }
    def filters(p: SparkPlan): Seq[FilterExec] = aqe.collect(p) { case f: FilterExec => f }

    val e = new graft.engine.GraftEngine(spark)
    e.createParquetTable("pq_param_part", s"$dir/part.parquet")
    def lookup(k: Int): DataFrame =
      e.run(s"SELECT p_partkey, p_name, p_retailprice FROM pq_param_part WHERE p_partkey = $k")
    val one = lookup(42)
    val exec = executed(one)
    val p = one.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PushedFilters: [IsNotNull(p_partkey), EqualTo(p_partkey,42)]"),
      s"the point lookup must still push its literal to parquet:\n$p")
    assert(filters(exec).exists(hasParam), s"the filter's constant should be a parameter:\n$exec")

    // a cached frame's batch-pruning predicates keep their literals too
    val cached = spark.range(100).selectExpr("id AS k", "id * 2 AS v").cache()
    try {
      val execs = Seq(exec, executed(cached.where("k = 7 AND v > 3")))
      val scans = execs.flatMap(x => aqe.collect(x) {
        case s: FileSourceScanExec => s: SparkPlan
        case s: InMemoryTableScanExec => s
      })
      assert(scans.size == 2 && scans.forall(s => s.expressions.nonEmpty && !hasParam(s)),
        s"no scan may hold a ParamLiteral:\n${execs.mkString("\n")}")
    } finally cached.unpersist(blocking = true)

    // plans that differ only in a constant must not canonicalize equal,
    // or exchange reuse could serve one value's rows for the other
    val same = filters(executed(lookup(42))).head
    val other = filters(executed(lookup(43))).head
    val f42 = filters(exec).head
    assert(f42.canonicalized == same.canonicalized)
    assert(f42.canonicalized != other.canonicalized && !f42.sameResult(other))
  }
}
