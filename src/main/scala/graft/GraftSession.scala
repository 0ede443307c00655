package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table registry for the graft engine.
  *
  * The reference engine (sqlrs) is a single-process embedded OLAP engine; its
  * `Database`/`ClientContext` entry points (reference: src/db.rs:107,
  * src/main_entry/client_context.rs:76) map onto one [[SparkSession]] here.
  * All parallelism that the reference lacks (it is single-threaded,
  * SURVEY.md §4.3) comes from Spark's distributed execution: the shuffle
  * width follows the data (`Tables.applySessionWidth`), and every operator
  * is written to scale out — partition-parallel scans, map-side partial
  * aggregation, broadcast for small dimension tables, AQE for runtime
  * re-planning and skew handling.
  */
object GraftSession {

  /** Build a SparkSession tuned for this workload. The default master is
    * `local[N]` with N from `SPARK_GRAFT_CPUS` (32 when unset); on a real
    * cluster the master line is the only change. `shufflePartitions` is
    * only the starting width: every harness entry that knows its data
    * directory resets it to the data-derived width with
    * [[Tables.applySessionWidth]].
    *
    * Three extensions are injected through [[org.apache.spark.sql.SparkSessionExtensions]],
    * so `spark.sql` and DataFrame plans both get them:
    *  - a planner strategy for per-key top-k ([[graft.plans.TopKPerKeyStrategy]]);
    *  - a pre-transition columnar rule ([[graft.plans.ParamLiterals]]) that
    *    moves the constants of filters and projections out of the generated
    *    Java source, so a statement shape run again with new constants
    *    reuses its compiled classes instead of compiling new ones. The
    *    compiled-class cache is sized so that those classes stay cached;
    *  - an AQE runtime optimizer rule ([[graft.plans.SmallSort]]) that
    *    sorts a root ORDER BY whose measured input is at most
    *    `spark.sql.adaptive.coalescePartitions.minPartitionSize` in one
    *    task, without the range exchange's sampling job and map stage.
    */
  def build(
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      appName: String = "graft",
      shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .withExtensions { e =>
        e.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
        e.injectColumnar(_ => graft.plans.ParamLiterals.columnarRule)
        e.injectRuntimeOptimizerRule(graft.plans.SmallSort)
      }
      // the compiled-class cache is a Guava LRU split into 4 segments of
      // maxEntries/4; at the default 100, the 73 classes of one pass over
      // the interactive shapes overflow a segment in about half of all
      // JVMs (its keys hash the class loader's identity), and that
      // segment then evicts and recompiles on every lap. 1000 leaves room
      // for every shape of a session's hot set to stay compiled.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // dimension tables (region/nation/supplier/part at tested SFs) stay
      // broadcastable; 64 MB threshold is safe with 128 GiB of driver heap
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      // a broadcast build COLLECTS its side's task results to the driver,
      // and a 64 MB-compressed-estimate side can exceed 1 GiB serialized —
      // the default 1g maxResultSize then kills the job at exactly the SF
      // where the heap could still hold the broadcast (seen at the sf10
      // decade: d27's index-probe build hit 1.06 GiB across 27 tasks).
      // 4g keeps the cap as a runaway-collect backstop while letting a
      // legitimately-threshold-sized broadcast through; single-JVM local
      // runs at sf ≥ 10 should also scale the heap (SPARK_DRIVER_MEM —
      // on a real cluster this is executor count, not a plan property).
      .config("spark.driver.maxResultSize",
        sys.env.getOrElse("SPARK_GRAFT_MAX_RESULT", "4g"))
      // scan-split defense (r16: t24/d10 ran near-serial — wall ≈ cpu —
      // when the driver regenerated a table as ONE large parquet file):
      // 16 MB splits give a multi-row-group file enough map tasks to
      // feed 32 cores. A single-ROW-GROUP file still yields one split —
      // that case is covered by Tables.loadFanned's explicit fan-out.
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      // cached plans must KEEP their static output partitioning: the
      // iterative graph walks persist their edge frame pre-partitioned
      // on the round-join key (Graph.partitionedEdges), and under the
      // Spark 4 default (true) the cache compiles adaptively and
      // reports UnknownPartitioning until materialized — every round's
      // join then re-inserts the edge-side exchange the layout exists
      // to remove. AQE still optimizes everything outside cached
      // subtrees (skew joins, coalescing) — this only pins the cache's
      // own layout.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is TIMESTAMP(NANOS) parquet, which Spark refuses by
      // default; read as Long and convert (Tables.load truncates to µs —
      // the same thing DuckDB's µs-precision timestamp does)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // native codegen'd vector/text expressions (graft_dot / graft_cosine /
    // graft_shingle_hashes / graft_minhash)
    graft.functions.VectorFunctions.register(spark)
    graft.functions.TextExprFunctions.register(spark)
    graft.functions.SketchFunctions.register(spark)
    graft.functions.LayoutExprFunctions.register(spark)
    spark
  }
}

/** Loaders for the driver-generated TPC-H-ish testdata (TESTDATA.md).
  *
  * Centralizing reads keeps every query's scan declarative: Catalyst sees a
  * plain parquet relation, so column pruning and filter pushdown reach the
  * scan (verified via `.explain("formatted")` — see PlanQualitySpec).
  */
object Tables {
  val tpch: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val extra: Seq[String] = Seq("events", "documents", "embeddings")
  val all: Seq[String] = tpch ++ extra

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    // The testdata's ts encoding has varied across driver generations:
    // TIMESTAMP(NANOS) (surfaced as Long under nanosAsLong — floor-divide
    // to µs, what DuckDB's µs-precision timestamps do) or TIMESTAMP_NTZ(µs)
    // (cast to session-zoned TIMESTAMP — the session is pinned UTC, so the
    // wall-clock values are unchanged and unix_micros/window arithmetic
    // work). Either way downstream code sees one canonical TIMESTAMP type.
    df.schema.fields.foldLeft(df) {
      case (acc, f) if f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType =>
        acc.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.floor(org.apache.spark.sql.functions.col("ts") / 1000L).cast("long")))
      case (acc, f) if f.name == "ts" && f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        acc.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case (acc, _) => acc
    }
  }

  /** DATA-SIZED engine width (r20): the partition/bucket/fan-out width
    * derived from the corpus's on-disk bytes, replacing the constant 32
    * that r19 tuned to the local core count. The r19 verdict's central
    * finding was that 32-way-everything at sf0.1 (17.5 MB of input!)
    * collapsed the driver's local[32] channel: 32 task threads per
    * stage saturated every core, starved the JIT compiler threads (269
    * queries × whole-stage-codegen classes — measured: C2 threads
    * out-CPU'd the executors, 280+ elapsed compile seconds per pass,
    * per-query CPU 3-5× its local[8] cost with GC flat and zero
    * spill), and paid parallel-overhead CPU on partitions of a few KB.
    * Guide §2 names the rule: derive partitioning from input size, not
    * from either the local core count or a cluster constant.
    *
    * bytes/8 MB, clamped to [8, 1024]: sf0.1 → 8 (kernels still
    * parallelize 8-way; 24 of 32 cores stay free for the compiler and
    * the next stage), sf1 → ~22, sf10 → ~220, and a 100 TB corpus hits
    * the cap — production sets `SPARK_GRAFT_WIDTH` (or
    * spark.sql.shuffle.partitions directly) from its cluster size and
    * target partition bytes instead of trusting any local heuristic.
    * Deterministic per sf dir (file bytes), so a fresh JVM derives the
    * same width and re-registers byte-identical bucketed stores.
    */
  def adaptiveWidth(spark: SparkSession, sfDir: String): Int =
    widthMemo.computeIfAbsent(sfDir, _ => {
      val w: Int = sys.props.get("SPARK_GRAFT_WIDTH")
        .orElse(sys.env.get("SPARK_GRAFT_WIDTH")).map(_.toInt).getOrElse {
          val p = new org.apache.hadoop.fs.Path(sfDir)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val bytes =
            if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
          val target = 8L * 1024 * 1024
          math.max(8, math.min(1024, ((bytes + target - 1) / target).toInt))
        }
      Integer.valueOf(w)
    })

  private val widthMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Point the session's shuffle width at the data's derived width —
    * called by every harness entry (Bench, Verify, tools) right after
    * the session is built, once the data directory is known. The
    * loadFanned/fanned parallelism floor follows automatically (it
    * targets `numShufflePartitions`).
    */
  def applySessionWidth(spark: SparkSession, sfDir: String): Int = {
    val w = adaptiveWidth(spark, sfDir)
    spark.conf.set("spark.sql.shuffle.partitions", w.toString)
    w
  }

  /** Root of the persisted stores built from `sfDir`'s data — every
    * model, centroid table and index declared in `queries.Pipeline`'s
    * store table (see `queries.Store`), plus the oracle artifacts some
    * queries write. It is the model-as-data half of an oracle-backed
    * gate: Spark writes the bytes here as parquet and the DuckDB oracle
    * `read_parquet`s the identical bytes (see `Verify`'s
    * `__GRAFT_MODELS__` substitution). Keyed by the sf dir name so verify
    * (sf0.01) and bench (sf0.1) runs never clobber each other's stores;
    * relative to the working directory, so a run from a fresh directory
    * fits from an empty root.
    */
  def modelsDir(sfDir: String): String = {
    val sfName = new java.io.File(sfDir).getName
    val d = new java.io.File(s"target/graft_models/$sfName")
    d.mkdirs()
    d.getAbsolutePath
  }

  /** Parallelism floor for EXPLODE-HEAVY consumers (shingle/char-window/
    * token pipelines, where each input row fans out 10-1000×): when the
    * scan yields fewer splits than half the session's parallelism — a
    * single-row-group parquet file yields ONE split no matter how small
    * `maxPartitionBytes` is — round-robin the rows across the full
    * width before the expensive per-row kernels run. The exchange moves
    * only the raw (pre-explode) rows, and on any healthy multi-split
    * layout (every file at 100 TB) the branch never fires, so the
    * defense is free exactly where it isn't needed. r16's bench showed
    * the failure mode: t24/d10 at wall ≈ cpu (parallelism ≈ 1) against
    * a one-file table layout, 4-5 s in every multi-split environment.
    */
  /** The fan-out rule, shared by [[fanned]] and [[loadFanned]] so the
    * threshold can never silently diverge between the memoized and
    * direct paths.
    */
  private def needsFanOut(splits: Int, target: Int): Boolean =
    splits * 2 <= target

  def fanned(spark: SparkSession, df: DataFrame): DataFrame = {
    val target = spark.sessionState.conf.numShufflePartitions
    if (needsFanOut(df.rdd.getNumPartitions, target)) df.repartition(target)
    else df
  }

  /** Memoized fan-out decision per (sf dir, table, target): probing the
    * split count via `df.rdd` compiles the physical plan (and under AQE
    * instantiates an adaptive plan) — cheap once, but [[loadFanned]] is
    * called by every explode-heavy consumer on every pass, and the
    * answer is a pure function of the table's file layout, which is
    * immutable for the JVM lifetime (the materialized-index contract).
    */
  private val fanMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** [[load]] with the [[fanned]] parallelism floor — for operators whose
    * dominant cost is per-row kernel work directly over the scan. The
    * split-count probe runs once per (dir, table) per JVM.
    */
  def loadFanned(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = load(spark, sfDir, name)
    val target = spark.sessionState.conf.numShufflePartitions
    val need = fanMemo.computeIfAbsent(s"$sfDir#$name#$target",
      _ => java.lang.Boolean.valueOf(
        needsFanOut(df.rdd.getNumPartitions, target)))
    if (need) df.repartition(target) else df
  }

  /** Register every table as a temp view so `spark.sql` text queries work. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach { n =>
      // a missing table (older sf dirs) must not sink the rest
      try load(spark, sfDir, n).createOrReplaceTempView(n)
      catch { case _: Throwable => () }
    }
}
