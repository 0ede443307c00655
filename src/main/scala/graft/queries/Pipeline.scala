package graft.queries

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{Bucketing, Decontaminate, Dedup, FuzzyJoin, Graph, Layout, Multimodal, Privacy, Probe, Similarity, Tokenizer}

/** Training-data-pipeline operators over the `documents` / `embeddings`
  * tables: the dedup family, similarity search, and text analysis.
  * Queries without an oracle (`d3`, `d4`, `d5`, `a2`) are the
  * LSH/approximate variants whose bucketing is not SQL-expressible; their
  * exact counterparts (`d1`, `d2`, `d6`, `a1`) ARE oracle-checked, and the
  * specs additionally assert the approximate variants agree with the exact
  * ones on this data.
  */
object Pipeline {

  /** GPT-2-style pre-tokenizer regex, restricted to constructs Java regex
    * and RE2 (DuckDB) interpret identically: contractions, ASCII letter
    * runs, digit runs, punctuation runs (leading space attaches), residual
    * whitespace. Whitespace is the explicit class [ \t\n\f\r], NOT \s —
    * Java's \s includes vertical tab (\x0B), RE2's does not, so \s would
    * hash-mismatch on documents containing \x0B.
    */
  val BpePattern: String =
    """'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\f\r]+|[ \t\n\f\r]+"""

  // ---- persisted stores ------------------------------------------------
  // Each store is declared once below, after the stores it reads; the
  // declaration order is the table prebuildModels fits and the tiebreak
  // of its schedule.

  private val declared = scala.collection.mutable.ArrayBuffer.empty[Store[_]]
  /** Every persisted store, in declaration order. */
  private[graft] def stores: Seq[Store[_]] = declared.toSeq
  private def declare[T](st: Store[T]): Store[T] = { declared += st; st }

  private def modelPath(dir: String, file: String): String =
    s"${Tables.modelsDir(dir)}/$file"

  /** Stable per-sf-dir catalog-name suffix: basename (readability) plus
    * a 4-byte path hash (two dirs sharing a basename must never alias
    * to one catalog table — the second caller would silently serve the
    * first dir's data).
    */
  private def dirTag(dir: String): String = {
    val pathTag = java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(dir).getAbsolutePath.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_") +
      "_" + pathTag
  }

  /** A store each JVM rebuilds (index-as-data): `build`'s frame,
    * published at `<modelsDir>/<file>` (default `<name>.parquet`) and
    * re-read by every consumer, so they all scan the same bytes.
    *
    * With bucket `keys` the bytes are written bucketed by the store's
    * probe key — the storage posture for every index a LIFECYCLE
    * operation joins against (r16's verdict: stores persisted as plain
    * parquet made every delete/merge/probe equi join shuffle the full
    * store side; at 100 TB a takedown that is ∝ revoked-set in
    * arithmetic still paid a full-store exchange in the join). The scan
    * then reports hashpartitioning(key, width), so delete/merge/probe
    * joins plan ZERO exchange above the store scan — only the
    * takedown-sized delta side moves (PlanQualitySpec asserts the shape
    * for d23/d25b). Bucket metadata lives in the catalog, so the store
    * is served as table `<table>_<dirTag>` (default `graft_idx_<name>`);
    * the files stay plain parquet, one file per bucket, the same
    * oracle-readable layout as the unbucketed form. The catalog is
    * per-JVM (in-memory) and the path outlives it: a fresh JVM
    * re-registers by rewriting (deterministic bytes, charged to
    * `fit_sec`).
    */
  private def index(name: String, deps: Seq[Store[_]], keys: Seq[String] = Nil,
      file: String = "", table: String = "")(
      build: (SparkSession, String) => DataFrame): Store[DataFrame] =
    declare(new Store[DataFrame](name, deps)({ (s, dir) =>
      val path = modelPath(dir, if (file.isEmpty) s"$name.parquet" else file)
      if (keys.isEmpty) {
        Store.publish(s, path)(build(s, dir).write.parquet(_))
        _.read.parquet(path)
      } else {
        val tbl = s"${if (table.isEmpty) s"graft_idx_$name" else table}_${dirTag(dir)}"
        if (!s.catalog.tableExists(tbl)) {
          // bucket width = the data-derived engine width (Tables
          // .adaptiveWidth): deterministic per sf dir, so a fresh JVM
          // re-registers the identical layout; r19's constant 32 was
          // the local core count in disguise and over-fanned every
          // scan at small SFs (see the GraftSession.Tables scaladoc)
          val buckets = Tables.adaptiveWidth(s, dir)
          val tmpTable = s"${tbl}_tmp"
          var schema: StructType = null
          Store.publish(s, path) { tmp =>
            s.sql(s"DROP TABLE IF EXISTS `$tmpTable`")
            try {
              Bucketing.writeBucketed(build(s, dir), tmpTable, tmp,
                buckets = buckets, keys = keys)
              schema = s.table(tmpTable).schema
            } finally s.sql(s"DROP TABLE IF EXISTS `$tmpTable`") // external: files stay
          }
          // metadata-only over the published directory
          Bucketing.registerBucketed(s, tbl, path, buckets = buckets,
            keys = keys, schema = schema)
        }
        _.table(tbl)
      }
    }))

  /** A store whose valid bytes on disk outlive the JVM (the model and
    * centroid stores): `load` reads and shape-checks them — None, or any
    * non-fatal error, means missing or stale — else `fit` builds and
    * publishes. Each fit is deterministic per sf dir (hash-prefix
    * samples, decimal-routed sums, fixed sweeps — bit-identical on any
    * partitioning), so a later JVM (Verify at one sf, Bench at another,
    * repeated bench passes) loads the state instead of refitting, and a
    * shape mismatch from changed fit parameters refits rather than
    * serves.
    */
  private def loadOrFit[T](name: String, deps: Store[_]*)(
      load: (SparkSession, String) => Option[T])(
      fit: (SparkSession, String) => T): Store[T] =
    declare(Store.value(name, deps: _*) { (s, dir) =>
      (try load(s, dir) catch { case NonFatal(_) => None }).getOrElse(fit(s, dir))
    })

  /** A centroid table `(…, centroid, …)` at `<modelsDir>/<file>`
    * (default `<name>.parquet`), served as its path: loaded when it holds
    * `rows` rows, passes `valid`, and every centroid has `dim` components
    * (default: the corpus's embedding width), else `fit`'s frame is
    * published in one file. The parquet doubles as the cross-JVM cache
    * and the oracle's centroids-as-data input, so a later JVM serves
    * from it instead of re-running the Lloyd fit in the timed loop. The
    * table is read FIRST — only a successful load pays the corpus job
    * behind the default `dim`, and a stale table with wrong-length
    * centroids refits instead of feeding wrong-length literals into an
    * assignment expression.
    */
  private def centroids(name: String, deps: Seq[Store[_]] = Nil,
      file: String = "", rows: Int = 16, dim: Option[Int] = None,
      valid: Array[Row] => Boolean = _ => true)(
      fit: (SparkSession, String) => DataFrame): Store[String] = {
    def path(dir: String) = modelPath(dir, if (file.isEmpty) s"$name.parquet" else file)
    loadOrFit(name, deps: _*) { (s, dir) =>
      val rs = s.read.parquet(path(dir)).collect()
      lazy val d = dim.getOrElse(Tables.loadFanned(s, dir, "embeddings")
        .select(size(col("embedding")).as("d")).head().getInt(0))
      Some(path(dir)).filter(_ => rs.length == rows && valid(rs) &&
        rs.forall(_.getAs[scala.collection.Seq[Double]]("centroid").size == d))
    } { (s, dir) =>
      Store.publish(s, path(dir))(fit(s, dir).coalesce(1).write.parquet(_))
    }
  }

  /** The v4/v4p/v5 queries share one whitened dim=64/k=8 PCA model, so
    * each JVM pays the covariance pass and Jacobi sweep once instead of
    * once per query, and a later JVM loads it. Stored at `pca_fit.parquet`
    * — deliberately separate from `pca_model.parquet`, which is v4p's
    * ORACLE artifact (written from the in-memory model every run so its
    * gate contract is untouched).
    */
  private val fittedPca = loadOrFit("pca_fit")(loadPcaFit(_, _, dim = 64, k = 8)) {
    (s, dir) =>
      val model = Similarity.fitPca(Tables.loadFanned(s, dir, "embeddings"),
        dim = 64, k = 8, whiten = true)
      savePcaFit(s, dir, model)
      model
  }

  private def savePcaFit(s: SparkSession, dir: String,
      model: Similarity.PcaModel): Unit = {
    import s.implicits._
    val rows =
      Seq(("mean", 0, model.means.toSeq), ("eig", 0, model.eigenvalues.toSeq)) ++
        model.components.zipWithIndex.map { case (c, r) => ("comp", r, c.toSeq) }
    Store.publish(s, modelPath(dir, "pca_fit.parquet"))(
      rows.toDF("kind", "idx", "vec").coalesce(1).write.parquet(_))
  }
  private def loadPcaFit(s: SparkSession, dir: String,
      dim: Int, k: Int): Option[Similarity.PcaModel] = {
    val rows = s.read.parquet(modelPath(dir, "pca_fit.parquet"))
      .collect() // O(k·dim) model state
    def vec(kind: String, idx: Int): Option[Array[Double]] =
      rows.find(r => r.getAs[String]("kind") == kind
        && r.getAs[Int]("idx") == idx)
        .map(_.getAs[scala.collection.Seq[Double]]("vec").toArray)
    val means = vec("mean", 0)
    val eig = vec("eig", 0)
    val comps = (0 until k).map(vec("comp", _))
    if (means.exists(_.length == dim) && eig.exists(_.length == k) &&
        comps.forall(_.exists(_.length == dim)))
      Some(Similarity.PcaModel(means.get, comps.map(_.get).toArray, eig.get))
    else None
  }

  /** a2's IVF centroids: the centroid table IS the index, so it is fit
    * once and every later JVM serves query batches against the loaded
    * centroids — the production ANN shape.
    */
  private val fittedIvfPath = centroids("ivf_centroids_16") { (s, dir) =>
    Similarity.lloydCentroids(Tables.loadFanned(s, dir, "embeddings"),
      nlist = 16, iters = 2)
  }

  /** d9's fitted Lloyd cell table: a later JVM (Verify then Bench)
    * serves [[Similarity.semanticDedupWith]] from it instead of
    * re-running the inline Lloyd fit in the timed loop.
    */
  private val fittedD9CellsPath = centroids("cells_d9") { (s, dir) =>
    Similarity.lloydCentroids(
      Tables.loadFanned(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      nlist = 16, iters = 2)
  }

  /** a9's BASE-fitted cell table (vec_id % 4 != 0 — the v8/x4 snapshot
    * convention): the persisted index the incremental-append story
    * serves, fit BEFORE the drop arrives so the drop's assignment is a
    * genuine refit-free append.
    */
  private val fittedA9CellsPath = centroids("cells_a9") { (s, dir) =>
    Similarity.lloydCentroids(
      Tables.loadFanned(s, dir, "embeddings")
        .filter(col("vec_id") % 4 =!= 0)
        .select(col("vec_id"), col("embedding")),
      nlist = 16, iters = 2)
  }

  /** v13's PLANTED drifted drop — the x4 drop vectors NEGATED (one
    * deterministic map both engines replay exactly: negation of a
    * double is sign-bit arithmetic): cosine against every fitted
    * centroid flips sign, so the a9 drift monitor's per-cell cosine
    * collapses far below any sane refit threshold — the distribution
    * shift the v13 refit must detect and repair. ONE definition shared
    * by the model build, the serving query, and (via the same SQL
    * expression) the oracle.
    */
  private def v13DriftedDrop(s: SparkSession, dir: String): DataFrame =
    Tables.loadFanned(s, dir, "embeddings")
      .filter(col("vec_id") % 4 === 0)
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"), x => -x)
          .as("embedding"))

  /** v13's PARTIAL-REFIT centroid table `(centroid_id, centroid,
    * refit)` — `Similarity.ivfPartialRefit` of the persisted a9 base
    * index against the planted drifted drop, wired to the a9 drift
    * signal (cells the drop touched whose drift cosine fell below
    * 0.98 re-Lloyd; healthy centroids pass through bit-identical).
    * At least one cell must be flagged: a stale pre-refit table must
    * refit, not serve.
    */
  private val fittedV13CellsPath = centroids("cells_v13", Seq(fittedA9CellsPath),
      valid = _.exists(_.getAs[Boolean]("refit"))) { (s, dir) =>
    val base = Tables.loadFanned(s, dir, "embeddings")
      .filter(col("vec_id") % 4 =!= 0)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    Similarity.ivfPartialRefit(s.read.parquet(fittedA9CellsPath(s, dir)),
      base, v13DriftedDrop(s, dir), minCos = 0.98, iters = 2)
  }

  /** v14's PLANTED stale-subspace drop — the x4 drop vectors with the
    * FIRST subspace's dims (0..7) pushed through `x·3 + 2` (an affine
    * map both engines replay bit-for-bit; the corpus lives in
    * ±0.5, so the warped blocks land far outside every fitted
    * code — subspace 0's drop MSE explodes past any sane ratio while
    * the other seven subspaces' blocks are untouched and in
    * distribution). ONE definition shared by the model build, the
    * serving query, and (as the same SQL expression) the oracle.
    */
  private def v14StaleDrop(s: SparkSession, dir: String): DataFrame =
    Tables.loadFanned(s, dir, "embeddings")
      .filter(col("vec_id") % 4 === 0)
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          (x, i) => when(i < 8, x * lit(3.0) + lit(2.0)).otherwise(x))
          .as("embedding"))

  /** a3/a4 share one PQ codebook set (m=8 books × k=16 centroids ×
    * dsub=8 dims, shape-checked on load).
    */
  private val fittedPq = loadOrFit("pq_model")(loadPqModel(_, _, dim = 64, m = 8, k = 16)) {
    (s, dir) =>
      val model = Similarity.fitPq(Tables.loadFanned(s, dir, "embeddings"),
        dim = 64, m = 8, k = 16, iters = 2)
      savePqModel(s, dir, model)
      model
  }

  /** v14's PARTIAL-REFIT codebook table `(sub, centroid_id, centroid,
    * refit)` — `Similarity.pqPartialRefit` of the persisted a3/a4
    * codebooks against the planted stale drop (subspace 0 re-fits on
    * the capped base ∪ drop block sample; the seven healthy books pass
    * through bit-identical). Valid only with at least one refit flag
    * and at least one untouched book.
    */
  private val fittedV14PqPath = centroids("pq_v14_model", Seq(fittedPq),
      rows = 8 * 16, dim = Some(8),
      valid = rs => rs.exists(_.getAs[Boolean]("refit")) &&
        rs.exists(!_.getAs[Boolean]("refit"))) { (s, dir) =>
    val base = Tables.loadFanned(s, dir, "embeddings")
      .filter(col("vec_id") % 4 =!= 0)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    Similarity.pqPartialRefit(fittedPq(s, dir), base,
      v14StaleDrop(s, dir), mseRatio = 4.0, iters = 2)
  }

  /** a11's codebooks are trained on the COARSE RESIDUALS against the
    * shared nlist=16 IVF index (the IVFADC fit).
    */
  private val fittedResidualPq = loadOrFit("pq_resid_model", fittedIvfPath)(
      loadPqModel(_, _, dim = 64, m = 8, k = 16, name = "pq_resid_model")) { (s, dir) =>
    val model = Similarity.fitResidualPq(
      Tables.loadFanned(s, dir, "embeddings"),
      Similarity.loadIvfIndex(s, fittedIvfPath(s, dir)),
      dim = 64, m = 8, k = 16, iters = 2)
    savePqModel(s, dir, model, name = "pq_resid_model")
    model
  }

  /** a12's parametric OPQ: PCA rotation + balanced permutation +
    * rotated-space PQ codebooks — both halves persisted (rotation as
    * (r, c, w) rows — the v4p model shape; books in the pq_model shape)
    * so DuckDB replays rotation AND quantization.
    */
  private val fittedOpq = loadOrFit("opq_model")(loadOpqModel(_, _, dim = 64, m = 8, k = 16)) {
    (s, dir) =>
      val model = Similarity.fitOpqParametric(
        Tables.loadFanned(s, dir, "embeddings"), dim = 64, m = 8, k = 16,
        iters = 2)
      saveOpqModel(s, dir, model)
      model
  }

  /** a13's coarse centroids, fitted IN THE ROTATED SPACE (the FAISS
    * OPQ+IVF+PQ stack shares one rotation — [[fittedOpq]]'s — across
    * the flat a12 index and this one): Lloyd over the rotated
    * embeddings.
    */
  private val fittedOpqIvfPath = centroids("opq_ivf_centroids", Seq(fittedOpq),
      file = "opq_ivf_centroids_16.parquet") { (s, dir) =>
    Similarity.lloydCentroids(
      Similarity.rotateFrame(Tables.loadFanned(s, dir, "embeddings"),
        fittedOpq(s, dir).rotation),
      nlist = 16, iters = 2)
  }

  /** a13's residual codebooks — [[Similarity.fitResidualPq]] in the
    * rotated space against the rotated coarse index.
    */
  private val fittedOpqResidualPq = loadOrFit("opq_resid_model", fittedOpq, fittedOpqIvfPath)(
      loadPqModel(_, _, dim = 64, m = 8, k = 16, name = "opq_resid_model")) { (s, dir) =>
    val model = Similarity.fitResidualPq(
      Similarity.rotateFrame(Tables.loadFanned(s, dir, "embeddings"),
        fittedOpq(s, dir).rotation),
      Similarity.loadIvfIndex(s, fittedOpqIvfPath(s, dir)),
      dim = 64, m = 8, k = 16, iters = 2)
    savePqModel(s, dir, model, name = "opq_resid_model")
    model
  }

  private def saveOpqModel(s: SparkSession, dir: String,
      model: Similarity.OpqModel): Unit = {
    import s.implicits._
    Store.publish(s, modelPath(dir, "opq_rotation.parquet"))(
      model.rotation.zipWithIndex
        .map { case ((w, c), r) => (r, c, w) }
        .toDF("r", "c", "w")
        .coalesce(1).write.parquet(_))
    savePqModel(s, dir, model.pq, name = "opq_pq_model")
  }
  private def loadOpqModel(s: SparkSession, dir: String,
      dim: Int, m: Int, k: Int): Option[Similarity.OpqModel] = {
    val rows = s.read
      .parquet(modelPath(dir, "opq_rotation.parquet"))
      .collect() // O(dim) rows — driver-scale model state
      .sortBy(_.getAs[Int]("r"))
      .map(r => (r.getAs[scala.collection.Seq[Double]]("w")
        .toVector: Seq[Double], r.getAs[Double]("c")))
    val ok = rows.length == dim && rows.forall(_._1.size == dim)
    if (!ok) None
    else loadPqModel(s, dir, dim, m, k, name = "opq_pq_model")
      .map(pq => Similarity.OpqModel(rows.toSeq, pq))
  }
  private def savePqModel(s: SparkSession, dir: String,
      model: Similarity.PqModel, name: String = "pq_model"): Unit = {
    import s.implicits._
    val rows = for {
      (book, sub) <- model.books.zipWithIndex
      (cid, c) <- book
    } yield (sub, cid, c)
    Store.publish(s, modelPath(dir, s"$name.parquet"))(
      rows.toDF("sub", "centroid_id", "centroid").coalesce(1).write.parquet(_))
  }
  private def loadPqModel(s: SparkSession, dir: String,
      dim: Int, m: Int, k: Int,
      name: String = "pq_model"): Option[Similarity.PqModel] = {
    val dsub = dim / m
    val rows = s.read.parquet(modelPath(dir, s"$name.parquet"))
      .collect() // O(m·k) rows — driver-scale model state
    val books = rows.toSeq
      .groupBy(_.getAs[Int]("sub")).toSeq.sortBy(_._1)
      .map { case (_, rs) =>
        rs.sortBy(_.getAs[Int]("centroid_id"))
          .map(r => (r.getAs[Int]("centroid_id"),
            r.getAs[scala.collection.Seq[Double]]("centroid").toVector: Seq[Double]))
      }
    val ok = books.size == m &&
      books.forall(b => b.size == k && b.forall(_._2.size == dsub))
    if (ok) Some(Similarity.PqModel(m, dsub, books)) else None
  }

  /** The corpus as a doc_id-BUCKETED external table (bucket count = the
    * data-derived engine width, so a doc_id-keyed shuffle output is
    * co-partitioned with the scan): the production storage posture for
    * corpus REWRITES. A rewrite (d20's span excision) must bring global
    * metadata (cover maps) back to every document body; against a plain
    * parquet scan that join shuffles the 100 TB text side, against a
    * bucketed layout the scan itself reports hashpartitioning(doc_id)
    * and ONLY the metadata side exchanges — text never moves (the
    * `Bucketing` zero-exchange property, asserted in PlanQualitySpec).
    * Bucketed once per corpus snapshot, read by every rewrite job after.
    */
  private[graft] val bucketedDocsShared = index("docs_bkt", Nil, Seq("doc_id"),
      file = "docs_bkt", table = "graft_docs_bkt")(Tables.load(_, _, "documents"))

  /** The t14/g1 shared pair engine: tf-idf-weighted lexical similarity
    * pairs over the df-banded (2 ≤ df ≤ 25) bigram inverted index. See
    * t14's scaladoc for the fan-out bound and bit-exactness discipline.
    */
  private[graft] def tfidfPairs(s: SparkSession, dir: String): DataFrame = {
    val d = bucketedDocsShared(s, dir)
    val tf = d.select(col("doc_id"), explode(
        TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 2))
        .as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 25))
    val n = d.agg(count(lit(1)).as("n_docs"))
    val w = dfreq.crossJoin(broadcast(n))
      .select(col("gram"), (col("n_docs").cast("double") / col("df")).as("w"))
    val postings = tf.join(w, Seq("gram"))
    val pairs = postings.as("a").join(postings.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (((col("a.tf") * col("b.tf")).cast("double") * col("a.w")) * col("b.w"))
          .cast("decimal(28,12)").as("term"))
    pairs.groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"),
        sum(col("term")).cast("double").as("score"))
  }

  /** The t14 pair table is DETERMINISTIC for a given sf dir (integer
    * tf/df/N counts, one exact division per weight, decimal-routed sums —
    * bit-identical on any partitioning), which makes it a legitimate
    * MATERIALIZED INDEX: t14 itself, the graph family (g1/g2/g3), and
    * the t17 serving view scan the same persisted bytes instead of
    * re-running the inverted-index build — exactly how a production
    * similarity graph is served: built once per corpus snapshot, read by
    * every downstream job.
    */
  private val tfidfPairsShared = index("tfidf_pairs", Seq(bucketedDocsShared))(tfidfPairs)

  /** The VERIFIED exact-Jaccard pair sets, materialized per
    * (n, threshold, blocking) key — the tfidfPairsShared discipline
    * applied to the PPJoin/LSH verify machinery (r16's bench charged
    * 462 CPU-s to d2 for a pair subtree its twins then rebuilt):
    * each set is a deterministic function of the corpus (exact decimal
    * prefix bounds, exact intersection arithmetic — a SET of (i, j)
    * edges independent of partitioning), so it earns the materialized
    * lifecycle: built once per snapshot (fit channel), read by every
    * consumer of that pair universe. Distinct'd at the store boundary
    * (the d3p per-band multi-emit contract).
    */
  private val ngramPairs95Shared = index("pairs_ng1_t95_lang", Seq(bucketedDocsShared)) {
    (s, dir) =>
      Dedup.ngramJaccardPairs(bucketedDocsShared(s, dir),
        n = 1, threshold = 0.95, blockCols = Seq(col("lang"))).distinct()
  }

  /** x19p's pair universe: exact 3-shingle Jaccard >= 0.8, unblocked
    * (PPJoin prefix filter — pure pruning, exact recall).
    */
  private val ngramPairs80Shared = index("pairs_ng3_t80", Seq(bucketedDocsShared)) {
    (s, dir) =>
      Dedup.ngramJaccardPairs(bucketedDocsShared(s, dir),
        n = 3, threshold = 0.8, blockCols = Seq(lit(true))).distinct()
  }

  /** The LSH-proposed + exact-verified pair set d3p gates and x19
    * rolls up (same parameters as d3): every pair passed the exact
    * Jaccard >= 0.8 check; LSH banding only proposes, so the set is
    * deterministic per corpus even though its RECALL is the band bet
    * the d3p/x19 twins document.
    */
  private val mhPairs80Shared = index("pairs_mh_t80", Seq(bucketedDocsShared)) { (s, dir) =>
    Dedup.minhashLshPairs(bucketedDocsShared(s, dir),
      shingleLen = 3, numHashes = 32, bands = 8, threshold = 0.8)
      .distinct()
  }

  /** The BASE-snapshot MinHash band index (docs outside the x4/t20/v8
    * drop convention doc_id % 4 == 0), deterministic per sf dir
    * (xxhash64 shingles/minhash), read by the d19 batch drop probe and
    * by `EventsStream.nearDupPairsStream`'s continuous twin alike. The
    * persisted bytes are UNCAPPED — what [[Dedup.minhashIndexDelete]]
    * operates on. The skew cap is a PROBE-time guard
    * ([[minhashIndexShared]] applies it on read), and keeping over-cap
    * buckets' rows in the store is what lets a takedown delete re-admit
    * a bucket that falls back under the cap — bit-identical to a rebuild
    * (IndexDeleteSpec).
    */
  private val minhashIndexFullShared = index("mh_index", Seq(bucketedDocsShared),
      Seq("band", "bucket")) { (s, dir) =>
    Dedup.minhashIndex(
      bucketedDocsShared(s, dir).filter(col("doc_id") % 4 =!= 0),
      shingleLen = 3, numHashes = 32, bands = 8, maxBandBucket = 0)
  }

  private def minhashIndexShared(s: SparkSession, dir: String): DataFrame =
    // served rows are unchanged vs the previously-persisted capped
    // form: the cap sees the same bucket counts whether applied at
    // write or at read (the window reuses the probe join's
    // (band, bucket) partitioning — no extra exchange)
    Dedup.minhashIndexCap(minhashIndexFullShared(s, dir), maxBucket = 10000)

  /** The BASE-snapshot span-hash index (docs outside the x4/t20/d19
    * drop convention doc_id % 4 == 0) — deterministic per sf dir
    * (xxhash64 over exact span strings), so it earns the
    * materialized-index treatment: built once per base snapshot, read
    * by the d22 batch drop excision and by
    * `EventsStream.spanExciseStream`'s continuous twin alike.
    */
  private val spanIndexShared = index("span_index", Seq(bucketedDocsShared), Seq("gh")) {
    (s, dir) =>
      Dedup.spanIndexCounted(
        bucketedDocsShared(s, dir).filter(col("doc_id") % 4 =!= 0))
  }

  /** The STALE (pre-compaction) span index d25's merge advances — the
    * base snapshot minus the doc_id % 10 == 3 compaction drop. In
    * production this is simply last night's persisted index; here it
    * earns the same materialized-index treatment so d25's serving lap
    * measures the MERGE + probe (cost ∝ drop), not a from-scratch
    * index build the lifecycle story says never happens (r15's bench
    * showed d25 paying a 17 s first pass against a 3.5 s steady state
    * — all scratch build).
    */
  private val spanIndexOlderShared = index("span_index_older", Seq(bucketedDocsShared),
      Seq("gh")) { (s, dir) =>
    Dedup.spanIndexCounted(
      bucketedDocsShared(s, dir)
        .filter(col("doc_id") % 4 =!= 0 && col("doc_id") % 10 =!= 3))
  }

  /** The BASE-snapshot CHAR-window counted index (docs outside the x4
    * drop convention) — [[spanIndexShared]] at d24's granularity, the
    * store d27's probe was always documented to read ("the BASE
    * corpus's persisted counted index") but until r19 rebuilt inline on
    * every pass: the 96 %-side char-window explode + count dominated a
    * serving query whose own work is ∝ the 25 % drop. Deterministic per
    * sf dir (xxhash64 over exact lowercased windows), so it earns the
    * materialized-index lifecycle like its token-granular twin; the
    * streaming twin (`charExciseStream`) probes the same bytes.
    */
  private val charspanIndexBaseShared = index("charspan_index_base",
      Seq(bucketedDocsShared), Seq("gh")) { (s, dir) =>
    Dedup.spanIndexCountedChars(
      bucketedDocsShared(s, dir).filter(col("doc_id") % 4 =!= 0),
      n = 40)
  }

  /** The span-hash Bloom prefilter d22b probes, built ONCE per index
    * snapshot from the materialized [[spanIndexShared]] (capacity
    * derived from the index itself — `Dedup.spanIndexBloom`) and held
    * per JVM: the build is an eager Spark action, so it lives in the
    * model-prebuild lifecycle (charged to `fit_sec`), not inside a
    * serving operator's construction.
    */
  private[graft] val spanBloomShared = declare(Store.value("span_bloom", spanIndexShared) {
    (s, dir) => Dedup.spanIndexBloom(spanIndexShared(s, dir))
  })

  /** The BASE-snapshot tf-idf POSTINGS index (docs outside the x4 drop
    * convention): the serving half of t14's pair build for the
    * incremental flow (g14), where the pair table itself (tfidf_pairs)
    * is the batch product. The persisted bytes are the UNBANDED inverted
    * index `(gram, doc_id, tf, df, n_docs)` — the standard search-engine
    * posture (an index stores every term; the df band is a SERVE-time
    * filter), and the property that makes takedown possible: deleting
    * documents shifts df, and a gram whose df sat just ABOVE the band
    * falls INTO it — its tf rows must already be in the index or a
    * delete path could never reproduce the rebuild (d23b's gate).
    * n_docs rides as a constant column (RLE — free in parquet) because
    * it is NOT derivable from the index: base documents too short to
    * produce a 2-gram count toward it but post no rows.
    */
  private val tfidfPostingsFullShared = index("tfidf_postings", Seq(bucketedDocsShared),
      Seq("gram")) { (s, dir) =>
    Dedup.tfidfPostingsFull(
      bucketedDocsShared(s, dir).filter(col("doc_id") % 4 =!= 0))
  }

  /** The STALE (pre-compaction) postings store d25b's merge advances —
    * the base snapshot minus the doc_id % 10 == 3 compaction drop,
    * persisted like last night's index in production (the
    * [[spanIndexOlderShared]] pattern): d25b's serving lap measures
    * MERGE + band projection, cost ∝ drop — not the from-scratch
    * rebuild that charged the r16 bench 450 CPU-s against a 4.8 s
    * steady state.
    */
  private val tfidfPostingsOlderShared = index("tfidf_postings_older",
      Seq(bucketedDocsShared), Seq("gram")) { (s, dir) =>
    Dedup.tfidfPostingsFull(
      bucketedDocsShared(s, dir)
        .filter(col("doc_id") % 4 =!= 0 && col("doc_id") % 10 =!= 3))
  }

  /** The SERVED banded postings `(gram, doc_id, tf, w)` g14 probes —
    * the df band [2, 25] and the n_docs/df weight applied as a lazy
    * projection over the persisted full index (bit-identical to the
    * previously-persisted banded form: same df counts, same one double
    * division). Postings deletes run on the FULL index
    * ([[Dedup.postingsDelete]]); this view re-derives after.
    */
  private[graft] def tfidfPostingsShared(s: SparkSession, dir: String): DataFrame =
    Dedup.postingsBand(tfidfPostingsFullShared(s, dir))

  /** The STALE curriculum ranking store s16's merge advances (and the
    * x26 compaction audit's curriculum row) — the corpus minus the
    * doc_id % 10 == 3 compaction drop, persisted bucketed by `source`
    * (quota serving and count folds are source-keyed) like every
    * lifecycle store: the serving lap measures the exact top-k MERGE +
    * quota replay, cost ∝ index + drop, never a corpus re-rank.
    */
  private[graft] val curriculumOlderShared = index("curriculum_index_older",
      Seq(bucketedDocsShared), Seq("source")) { (s, dir) =>
    graft.operators.Curriculum.curriculumIndex(
      bucketedDocsShared(s, dir).filter(col("doc_id") % 10 =!= 3))
  }

  /** The SMALL-K curriculum ranking store + its overflow buffer on the
    * same stale snapshot (%10 != 3) — the x28 buffered-delete gate and
    * x26's overflow row. k=10/pad=8, NOT the serving store's k=1000:
    * every source holds ≥ 25 docs at every SF, so k=10 saturates them
    * all and the buffer holds real rows — at k=1000 no source
    * saturates below sf1 and the buffer would be empty, gating
    * nothing. The tenth persisted lifecycle artifact pair.
    */
  private[graft] val curriculumBIndexShared = index("curriculum_b_index",
      Seq(bucketedDocsShared), Seq("source")) { (s, dir) =>
    graft.operators.Curriculum.curriculumIndex(
      bucketedDocsShared(s, dir).filter(col("doc_id") % 10 =!= 3),
      k = 10)
  }

  private[graft] val curriculumBOverflowShared = index("curriculum_b_overflow",
      Seq(bucketedDocsShared)) { (s, dir) =>
    graft.operators.Curriculum.curriculumOverflow(
      bucketedDocsShared(s, dir).filter(col("doc_id") % 10 =!= 3),
      k = 10, pad = 8)
  }

  /** The persisted near-dup COMPONENT STORE (r16 — the eighth lifecycle
    * index): [[Dedup.componentsIndex]]'s member + edge rows,
    * materialized once per corpus snapshot. It SUBSUMES the former
    * cc_components artifact — the serving map d8/d12/x20 read is its
    * member projection ([[ccComponentsShared]], bit-identical by
    * construction since the build runs the same clique collapse +
    * PPJoin + closure) — and it is what d26's takedown and the x22/x25
    * audits run their index-only delete against.
    */
  private[graft] val componentsIndexShared = index("components_index",
      Seq(bucketedDocsShared, ngramPairs95Shared)) { (s, dir) =>
    // the rep-level edge set rides the corpus's materialized verified
    // pair store (same n/threshold/lang-blocking, restricted to rep
    // endpoints — bit-identical per the componentsIndex contract,
    // spec-pinned in IndexDeleteSpec): the store build skips its own
    // PPJoin, the fit channel's most expensive subtree. The PIN twin
    // (components_index_pin) cannot share it — planted text shifts
    // every Jaccard — and keeps the inline PPJoin.
    Dedup.componentsIndex(bucketedDocsShared(s, dir),
      verifiedPairs = Some(ngramPairs95Shared(s, dir)))
  }

  /** d8's component map is deterministic per sf dir (md5-clique collapse
    * + exact-Jaccard pairs + min-label closure — every step
    * partitioning-independent): the member projection of the persisted
    * [[componentsIndexShared]], read by d8 and d12.
    */
  private def ccComponentsShared(s: SparkSession, dir: String): DataFrame =
    Dedup.componentsFromIndex(componentsIndexShared(s, dir))

  /** x25's planted base slice — the pin prefix derives from the TEXT
    * (identical texts keep identical pins, preserving exact-dup
    * cliques; the 97 classes give secrets a rare/common structure) —
    * one definition shared by the serving query and the pin store.
    */
  private def plantedDocs(s: SparkSession, dir: String): DataFrame =
    bucketedDocsShared(s, dir)
      .select(col("doc_id"), col("lang"),
        concat(lit("pin"),
          lpad(((length(col("text")) * 7) % 97).cast("string"), 4, "0"),
          lit(" "), col("text")).as("text"))

  /** The planted snapshot convention (r18): base = `doc_id % 25 != 0`
    * (96 % of the corpus), compaction drop = `% 25 == 0` (4 % — the
    * production shape for an arriving batch; r17's %4 convention made
    * the drop 25 % of the corpus and x26's merge paths carried 46 % of
    * the suite's CPU measuring an unrealistically-shaped batch),
    * takedown = base `% 10 == 1` (10 % revocation).
    */
  private[graft] def x25PlantedBase(s: SparkSession, dir: String): DataFrame =
    plantedDocs(s, dir).filter(col("doc_id") % 25 =!= 0)

  /** The PRE-STAGED takedown batch for the x22/x24/x25 audits — full
    * planted doc rows of the revoked slice, persisted in the fit
    * channel. In production the revocation list ARRIVES as input (a
    * DMCA feed, a retention sweep's output); carving it from a corpus
    * scan inside every audit lap charged the lap a full planted-corpus
    * pass per query. Delta-sized; consumed as the broadcast side of
    * every delete path, so plain parquet (no bucket key to exploit).
    */
  private val pinRevokedShared = index("pin_revoked_docs", Seq(bucketedDocsShared)) {
    (s, dir) => x25PlantedBase(s, dir).filter(col("doc_id") % 10 === 1)
  }

  /** The PRE-STAGED compaction batch for x26 — the planted drop slice
    * (4 % of the corpus), same staging argument as [[pinRevokedShared]]:
    * an arriving batch is input, not a corpus scan.
    */
  private[graft] val pinDropShared = index("pin_drop_docs", Seq(bucketedDocsShared)) {
    (s, dir) => plantedDocs(s, dir).filter(col("doc_id") % 25 === 0)
  }

  /** The persisted (vec_id, cell) IVF MEMBER TABLE — the ninth
    * lifecycle store (r18): assignment against the fit-once nlist=16
    * centroids is deterministic, and the audits' member deletes/counts
    * previously re-ran the corpus-wide assign map THREE times per lap
    * (n_before, delete input, lost-cells probe). One row per vector.
    */
  private[graft] val ivfMembersShared = index("ivf_members_16", Seq(fittedIvfPath)) {
    (s, dir) =>
      Similarity.ivfAssign(
        Similarity.loadIvfIndex(s, fittedIvfPath(s, dir)),
        Tables.loadFanned(s, dir, "embeddings"))
  }

  /** x26's curriculum drop batch `(doc_id, source)` — the s16 lifecycle
    * convention (stale = % 10 != 3, drop = % 10 == 3), pre-staged like
    * [[pinDropShared]].
    */
  private[graft] val curriculumDropShared = index("curriculum_drop_docs",
      Seq(bucketedDocsShared)) { (s, dir) =>
    bucketedDocsShared(s, dir).filter(col("doc_id") % 10 === 3)
      .select(col("doc_id"), col("source"))
  }

  /** The planted corpus's SEVEN text stores for the x25 audit, by key —
    * each deterministic per sf dir, so the audit's serving lap measures
    * the eight DELETE paths plus O(1) counts, never a build (the store
    * an audit deletes from is persisted in production by definition).
    * Each is its own store, so the prebuild pool builds the seven
    * INDEPENDENT stores concurrently (r19's single `x25_pin_stores`
    * entry built all seven sequentially inside one pool thread and set
    * the fit channel's wall).
    */
  private val x25PinStores: ListMap[String, Store[DataFrame]] = {
    def pin(name: String, keys: String*)(build: DataFrame => DataFrame) =
      index(name, Seq(bucketedDocsShared), keys)((s, dir) => build(x25PlantedBase(s, dir)))
    ListMap(
      "span_index" -> pin("pin_span_index", "gh")(Dedup.spanIndexCounted(_, n = 8)),
      "charspan_index" -> pin("pin_charspan_index", "gh")(
        Dedup.spanIndexCountedChars(_, n = 40)),
      "tfidf_postings" -> pin("pin_tfidf_postings", "gram")(Dedup.tfidfPostingsFull(_)),
      "mh_index" -> pin("pin_mh_index", "band", "bucket")(
        Dedup.minhashIndex(_, maxBandBucket = 0)),
      // prefix_index's probe key is the (block struct, token) pair and
      // its delete is a broadcast anti join on bid — the store side
      // never shuffles as plain parquet either, so it stays unbucketed
      "prefix_index" -> pin("pin_prefix_index")(Dedup.incrementalIndex(_)),
      "secrets_index" -> pin("pin_secrets_index", "tok")(Privacy.secretFrequencies(_)),
      // the components store mixes member and edge rows (no single
      // probe key); its delete/merge joins are all broadcast-delta
      // semi/anti probes — no full-store exchange to save. The planted
      // text shifts every Jaccard, so it cannot ride the raw corpus's
      // pair store the way components_index does.
      "components" -> pin("components_index_pin")(Dedup.componentsIndex(_)))
  }

  private[graft] def x25StoresShared(s: SparkSession,
      dir: String): Map[String, DataFrame] =
    x25PinStores.map { case (k, st) => k -> st(s, dir) }

  /** The pin components store's rep-evidence POSTINGS `(bid, blang,
    * bsz, p)` and per-token df — the new×old probe side of
    * [[Dedup.componentsIndexMerge]], materialized (bucketed by `p`, the
    * probe key) so the x26 merge plans ZERO index-sized work: without
    * the stage every compaction lap re-exploded the whole store's
    * shingle evidence and re-aggregated the df table. Deterministic per
    * snapshot (df is a selectivity heuristic only — the one-sided
    * prefix bound holds under any order — but this copy is exact).
    */
  private[graft] val pinCompPostingsShared = index("pin_comp_postings",
      Seq(x25PinStores("components")), Seq("p")) { (s, dir) =>
    // the SINGLE pin store it depends on — constructing the full
    // x25StoresShared map here would build all seven pin stores
    // sequentially inside this holder's pool thread (measured: it was
    // the 61 s fit-channel wall)
    Dedup.componentsPostings(x25PinStores("components")(s, dir))
  }

  private[graft] val pinCompDfShared = index("pin_comp_df", Seq(pinCompPostingsShared),
      Seq("p")) { (s, dir) =>
    Dedup.componentsDf(pinCompPostingsShared(s, dir))
  }

  /** The corpus's persisted PQ CODES (vec_id, c0..c7) — the quantized
    * index the ADC family serves from (r18): encoding is deterministic
    * per (corpus, codebooks) and production stores the 8-byte codes as
    * THE index, yet a4/a10/v11 re-encoded the whole corpus on every
    * pass (a10's 32.9 s driver first-pass vs 1.6 s steady was exactly
    * this first-touch encode). a3 keeps encoding inline — the encode
    * path IS its gate.
    */
  private[graft] val pqCodesShared = index("pq_codes", Seq(fittedPq)) { (s, dir) =>
    Similarity.pqEncode(Tables.loadFanned(s, dir, "embeddings"), fittedPq(s, dir))
  }

  /** d13's VERIFIED containment pair set (sub_id, super_id,
    * containment) at (n=1, τ=0.98, lang-blocked) — the
    * `pairs_ng1_t95_lang` discipline applied to the containment
    * direction (r17 verdict task 4): the asymmetric prefix probe +
    * postings semi-prune + exact set verify is a deterministic SET per
    * snapshot, so it runs once in the fit channel; d13 serves the
    * store while the oracle still replays the full exact predicate
    * from raw token strings.
    */
  private val containmentPairs98Shared = index("pairs_cont_ng1_t98_lang",
      Seq(bucketedDocsShared)) { (s, dir) =>
    Dedup.containmentPairs(bucketedDocsShared(s, dir),
      n = 1, threshold = 0.98, blockCols = Seq(col("lang")))
  }

  /** Builds every persisted store ([[stores]]) before a bench pass, so
    * the one-time fit cost is charged to a separate `fit_sec` line
    * instead of smeared across whichever queries happen to run first
    * (g1/t13/a2 in round 9's artifact). Idempotent, and cheap for the
    * stores whose valid bytes are already on disk. Returns each store's
    * name and fit seconds (-1 for a failed build), for logging; see
    * [[Store.prebuild]] for the pool and the failure isolation.
    */
  def prebuildModels(s: SparkSession, dir: String): Seq[(String, Double)] =
    Store.prebuild(s, dir, stores)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- dedup family ---------------------------------------------------
    "d1_dedup_exact" -> { (s, dir) =>
      Dedup.exact(bucketedDocsShared(s, dir)).orderBy(col("doc_id"))
    },

    "d2_dedup_ngram_jaccard" -> { (s, dir) =>
      // served from the materialized verified pair store (the
      // tfidfPairsShared discipline): the PPJoin verify subtree is a
      // per-snapshot build cost, not a per-query one — the oracle
      // still replays the full exact-Jaccard predicate from raw text
      Dedup.ngramJaccardFromPairs(bucketedDocsShared(s, dir),
          ngramPairs95Shared(s, dir))
        .orderBy(col("doc_id"))
    },

    "d13_containment" -> { (s, dir) =>
      // near-superset pairs: C(A→B) = |A∩B|/|A| ≥ 0.98 within a
      // language — the quote-expansion duplicates symmetric Jaccard
      // can't see. Asymmetric prefix filter (contained side's rarest
      // (1−t)|A|+1 tokens probe the container side's full posting
      // list); exact set arithmetic on the hashed token sets decides,
      // and the oracle recomputes on RAW token strings — hash-collision
      // freedom is part of the gate (the d2/d10 discipline). Served
      // from the materialized verified pair store (r18 — the d2
      // discipline applied to the containment direction); the oracle
      // still replays the whole predicate from raw text.
      containmentPairs98Shared(s, dir)
        .orderBy(col("sub_id"), col("super_id"))
    },

    "d3_dedup_minhash_lsh" -> { (s, dir) =>
      Dedup.minhashLsh(bucketedDocsShared(s, dir),
        shingleLen = 3, numHashes = 32, bands = 8, threshold = 0.8)
        .orderBy(col("doc_id"))
    },

    "d4_dedup_simhash" -> { (s, dir) =>
      // runs UNCAPPED (maxBandBucket default 0): capping a simhash band
      // voids the hamming<=3 recall guarantee, and this corpus has no
      // degenerate band cliques (measured at bench SF). An adversarial
      // boilerplate-heavy corpus should pass an explicit cap here and
      // accept the recall trade.
      Dedup.simhash(bucketedDocsShared(s, dir), maxHamming = 3)
        .orderBy(col("doc_id"))
    },

    "x24_takedown_audit_ext" -> { (s, dir) =>
      // THIN VIEW of the unified x25 audit (r18 — one corpus
      // convention, one set of persisted pin stores): the three stores
      // x24 historically certified under its own planted snapshot —
      // the secret-frequency index, the counted char-window index, and
      // the IVF member table — now served as takedownAudit's
      // charspan/secrets/ivf_members subset over the SAME pre-staged
      // inputs x25 reads (pin stores, staged revocation batch, the
      // persisted member table). Every number still comes from the
      // DELETE PATHS (delta arithmetic / anti join) while DuckDB
      // recomputes before/after from raw planted data. n_changed
      // semantics unchanged: secrets/charspan = index rows removed;
      // ivf_members = DISTINCT CELLS that lost a member (the serving-
      // relevant blast radius). Only the selected stores' paths are
      // planned, so the view pays for three deletes, not eight.
      val members = ivfMembersShared(s, dir)
      graft.operators.Audit.takedownAudit(
          x25PlantedBase(s, dir), pinRevokedShared(s, dir),
          members,
          members.filter(col("vec_id") % 10 === 1).select(col("vec_id")),
          prebuilt = x25StoresShared(s, dir),
          stores = Seq("charspan_index", "secrets_index", "ivf_members"))
        .drop("params")
    },

    "x25_takedown_audit_full" -> { (s, dir) =>
      // the UNIFIED takedown audit — all EIGHT lifecycle stores in one
      // artifact over ONE corpus convention (x22 and x24 split this
      // across two queries with two snapshot conventions): the planted
      // base slice (a text-derived 'pinNNNN' prefix token — identical
      // texts get identical pins, so exact-dup cliques survive into
      // the components store, and the 97 pin classes give the secrets
      // store a deterministic rare/common structure), revoked by the
      // %10 rule, plus the IVF member table with its own %10 vec
      // takedown. Every number comes from the eight DELETE PATHS on
      // the stale stores (the components row via the r16 edge-splice —
      // no text re-read, and FROM THE PERSISTED store: the planted
      // graph earns the materialized-index lifecycle like every store
      // an audit deletes from) while DuckDB rebuilds every store from
      // surviving raw data, including BOTH recursive component
      // closures — one hash-green artifact certifying all eight
      // deletes. Serves graft_takedown_audit's exact engine path.
      // r18: every input is PRE-STAGED — the seven pin stores, the
      // persisted IVF member table, and the staged revocation batch
      // (in production the takedown list arrives as input; carving it
      // from a corpus scan charged every lap a full planted-corpus
      // pass, and the member table was re-assigned corpus-wide THREE
      // times per lap). The timed lap is now the eight delete paths +
      // O(1) counts, nothing else.
      val members = ivfMembersShared(s, dir)
      graft.operators.Audit.takedownAudit(
        x25PlantedBase(s, dir), pinRevokedShared(s, dir), members,
        members.filter(col("vec_id") % 10 === 1).select(col("vec_id")),
        prebuilt = x25StoresShared(s, dir))
    },

    "x26_compaction_audit" -> { (s, dir) =>
      // the UNIFIED COMPACTION audit — x25's takedown discipline with
      // the sign flipped: one (store, n_before, n_after, n_added,
      // params) row per lifecycle store, every number computed by the
      // MERGE paths advancing the PERSISTED stale stores (the seven
      // x25 pin stores fold in the planted doc_id % 4 == 0 drop; the
      // curriculum store follows its own s16 lifecycle convention —
      // stale = % 10 <> 3, drop = % 10 == 3 — named in its params).
      // The base corpus is read only for the drop slice; DuckDB
      // rebuilds every store on the UNION from raw data, so hash-green
      // certifies all eight merge paths end-to-end in one artifact
      // (components included: its row counts members + edges, so the
      // merge's new-pair generation must reproduce the rebuilt edge
      // set exactly). params makes the record self-describing, the
      // r17 takedownAudit convention.
      import graft.operators.{Curriculum, Privacy}
      // r18: the drop batch is PRE-STAGED (an arriving compaction
      // batch is input, not a corpus scan) and production-shaped —
      // 4 % of the corpus (%25) instead of r17's 25 % (%4), which
      // made the merge family carry 46 % of the suite's CPU measuring
      // an unrealistic batch. The curriculum drop is staged the same
      // way under its own s16 convention.
      val drop = pinDropShared(s, dir)
      val stores = x25StoresShared(s, dir)
      def audit(store: String, params: String, before: DataFrame,
          after: DataFrame) =
        before.agg(count(lit(1)).as("n_before"))
          .crossJoin(after.agg(count(lit(1)).as("n_after")))
          .select(lit(store).as("store"), col("n_before"), col("n_after"),
            (col("n_after") - col("n_before")).as("n_added"),
            lit(params).as("params"))
      audit("span_index", "n=8,drop=mod25", stores("span_index"),
          Dedup.spanIndexMerge(stores("span_index"), drop, n = 8))
        .unionByName(audit("charspan_index", "n=40,drop=mod25",
          stores("charspan_index"),
          Dedup.spanIndexCharsMerge(stores("charspan_index"), drop, n = 40)))
        .unionByName(audit("tfidf_postings", "gram_n=2,drop=mod25",
          stores("tfidf_postings"),
          Dedup.postingsMerge(stores("tfidf_postings"), drop)))
        .unionByName(audit("mh_index",
          "shingle=3,hashes=32,bands=8,drop=mod25", stores("mh_index"),
          Dedup.minhashIndexMerge(stores("mh_index"), drop)))
        .unionByName(audit("prefix_index", "t=4/5,drop=mod25",
          stores("prefix_index"),
          Dedup.prefixIndexMerge(stores("prefix_index"), drop)))
        .unionByName(audit("secrets_index", "run=4,drop=mod25",
          stores("secrets_index"),
          Privacy.secretIndexMerge(stores("secrets_index"), drop)))
        .unionByName(audit("components", "n=1,t=0.95,drop=mod25",
          stores("components"),
          Dedup.componentsIndexMerge(stores("components"), drop,
            basePostings = Some(pinCompPostingsShared(s, dir)),
            baseDf = Some(pinCompDfShared(s, dir)))))
        .unionByName(audit("curriculum_index", "k=1000,drop=mod10",
          curriculumOlderShared(s, dir),
          Curriculum.curriculumIndexMerge(curriculumOlderShared(s, dir),
            curriculumDropShared(s, dir))))
        .unionByName({
          // r19 (r18 verdict task 6): the overflow buffer is a store
          // the compaction must ADVANCE too — the merged buffer refills
          // from the union so the next buffered delete stays exact.
          // Counts alone can't certify a fixed-pad buffer (n_before ==
          // n_after by construction), so n_added here is the number of
          // buffer rows the merge REPLACED (merged ∖ stale — an anti
          // join the oracle recomputes from raw rankings), which is
          // content-sensitive: a merge that kept the wrong tail shows
          // up in this count.
          val ovB = curriculumBOverflowShared(s, dir)
          val ovA = Curriculum.curriculumOverflowMerge(
            curriculumBIndexShared(s, dir), ovB,
            curriculumDropShared(s, dir), k = 10, pad = 8)
          ovB.agg(count(lit(1)).as("n_before"))
            .crossJoin(ovA.agg(count(lit(1)).as("n_after")))
            .crossJoin(ovA
              .join(ovB.select(col("source"), col("doc_id")),
                Seq("source", "doc_id"), "left_anti")
              .agg(count(lit(1)).as("n_added")))
            .select(lit("curriculum_overflow").as("store"),
              col("n_before"), col("n_after"), col("n_added"),
              lit("k=10,pad=8,drop=mod10").as("params"))
        })
        .orderBy(col("store"))
    },

    "x27_governance_loop" -> { (s, dir) =>
      // the FULL governance loop, hash-gated end to end (r17 verdict
      // stretch): scheduled retention expiry (x23's deterministic
      // planted policy — ingest_day = doc_id % 360, retention
      // 60 + 45·(len(source) % 5) days, audit day 120: a
      // production-shaped ~5 % of the corpus expires, concentrated in
      // the short-retention source classes) produces the revocation
      // set; the SEVEN text-store delete paths consume it against the
      // persisted pin stores; one audit artifact certifies the chain.
      // retention → takedown → audit composes in ONE statement — the
      // EngineSpec-pinned graft_retention_expiry ∘ graft_takedown_audit
      // SQL path, promoted to the oracle gate: DuckDB replays the
      // policy arithmetic AND rebuilds every store from the surviving
      // planted corpus (both recursive component closures included).
      val d = bucketedDocsShared(s, dir)
      val docs = d.select(col("doc_id"), col("source"),
        (col("doc_id") % 360).cast("long").as("ingest_day"))
      val policy = d.select(col("source")).distinct()
        .select(col("source"),
          (lit(60L) + lit(45L) * (length(col("source")) % 5).cast("long"))
            .as("retention_days"))
      val expired = graft.operators.Privacy
        .retentionExpiry(docs, policy, asOfDay = 120L)
        .select(col("doc_id"))
      val base = x25PlantedBase(s, dir)
      val revoked = base.join(expired, Seq("doc_id"), "left_semi")
      // members/revokedVecs are BY-NAME and no ivf row is selected, so
      // the member-table build is never forced here
      graft.operators.Audit.takedownAudit(base, revoked,
        ivfMembersShared(s, dir),
        ivfMembersShared(s, dir).select(col("vec_id")),
        prebuilt = x25StoresShared(s, dir),
        stores = Seq("span_index", "charspan_index", "tfidf_postings",
          "mh_index", "prefix_index", "secrets_index", "components"))
    },

    "x28_curriculum_buffered_delete" -> { (s, dir) =>
      // the r18 buffered-delete mechanism promoted to the oracle gate
      // (r18 verdict task 2): overflow-buffered takedown against the
      // persisted small-k ranking store vs DuckDB's rebuild on the
      // survivors. k=10 saturates every source at every SF so the
      // buffer genuinely refills the trimmed tail (k=1000 would leave
      // it empty below sf1 and gate nothing). The revocation — the 5 %
      // doc_id % 20 == 1 slice, inside the stale %10<>3 snapshot by
      // construction — stays far inside pad=8 per source, so the
      // delete must equal the rebuild EXACTLY in every column: the
      // re-ranked survivors, the buffer-promoted tail, and the
      // decremented per-source counts. The eager exhaustion gate rides
      // the call: had the buffer exhausted, verify fails loudly with
      // the rebuild-now signal rather than hash-mismatching. Cost
      // shape: anti join + one index-sized window over index ∪
      // overflow (O(sources × (k+pad)) rows — never the corpus), plus
      // the gate's window-free count pass.
      import graft.operators.Curriculum
      val revoked = bucketedDocsShared(s, dir)
        .filter(col("doc_id") % 10 =!= 3 && col("doc_id") % 20 === 1)
        .select(col("doc_id"), col("source"))
      Curriculum.curriculumIndexDelete(curriculumBIndexShared(s, dir),
          revoked, Some(curriculumBOverflowShared(s, dir)), k = 10)
        .orderBy(col("source"), col("rank"))
    },

    "x22_takedown_audit" -> { (s, dir) =>
      // TAKEDOWN AUDIT — the governance record a compliance officer
      // asks for after a revocation: per persisted store, how many
      // index rows existed before, remain after, and changed. Since
      // r18 a THIN VIEW of the unified x25 audit: the four stores x22
      // historically certified (span, postings, minhash, components),
      // served from the SAME pin convention and pre-staged inputs —
      // its former private snapshot (unplanted %4 base + whole-corpus
      // component map) duplicated x25's delete-path work under a
      // second convention every pass. Every number still comes from
      // the d23/d26 delete paths on the STALE persisted stores while
      // DuckDB recomputes before/after from raw planted text (both
      // recursive component closures). n_changed semantics unchanged:
      // span/postings/minhash = rows removed; components = SURVIVING
      // docs whose representative changed (a takedown can split
      // components — d26). Only the four selected stores' paths are
      // planned.
      graft.operators.Audit.takedownAudit(
          x25PlantedBase(s, dir), pinRevokedShared(s, dir),
          ivfMembersShared(s, dir),
          ivfMembersShared(s, dir).filter(col("vec_id") % 10 === 1)
            .select(col("vec_id")),
          prebuilt = x25StoresShared(s, dir),
          stores = Seq("span_index", "tfidf_postings", "mh_index",
            "components"))
        .drop("params")
    },

    "x20_license_propagation" -> { (s, dir) =>
      // license/restrictiveness propagation across near-dup clusters —
      // the compliance rule of training-data curation: a copy of a
      // restrictively-licensed document is just as restricted, so the
      // MOST restrictive class inside a connected near-dup component
      // governs every member. Components come from the persisted d8
      // closure (cc_components, fit-once); the restrictiveness class is
      // a deterministic engine-shared function of the source feed
      // (length(source) % 4 stands in for the license-registry lookup a
      // production pipeline plugs in here). One groupBy(rep) max + one
      // join back — no window, no vertex-cardinality broadcast; the
      // governance twin of d12's quality-keeper canonicalization.
      Dedup.licensePropagation(
          ccComponentsShared(s, dir),
          bucketedDocsShared(s, dir)
            .select(col("doc_id"), col("source")),
          rank = length(col("source")) % 4)
        .orderBy(col("doc_id"))
    },

    "d8_dedup_connected" -> { (s, dir) =>
      // transitive closure over the exact ngram-Jaccard pair set: chains
      // A~B~C collapse onto one representative even when A !~ C. The
      // oracle recomputes the closure with a recursive CTE.
      //
      // Exact-duplicate texts are collapsed FIRST (one representative per
      // (lang, md5) — identical same-language docs have Jaccard 1 and are
      // trivially one component), and pair generation + closure run on the
      // representatives only. Without this, an m-clique of identical docs
      // materializes O(m²) edges — measured: OOM at sf0.1's duplicate
      // cluster sizes, and fatal at 100 TB. The collapse must mirror the
      // PAIR predicate exactly or it would merge docs the closure never
      // would: the window partitions by (lang, fp) — not fp alone, since
      // pairs require equal lang — and docs with an empty token set keep
      // rep0 = self (Jaccard is undefined on an empty union, so the pair
      // join never merges them; partitions are text-homogeneous, so the
      // token-size guard is constant within each). With those conditions
      // the component minimum over representatives IS the minimum over
      // documents: each rep0 is already its clique's min.
      // (Served from the persisted components STORE's member projection
      // — [[componentsIndexShared]], shared with d12/x20/d26.)
      ccComponentsShared(s, dir).orderBy(col("doc_id"))
    },

    "d12_dedup_canonical" -> { (s, dir) =>
      // canonicalization — the step that turns a component map into an
      // actual deduplicated corpus: per near-dup cluster, KEEP the
      // highest-quality member (longest text, ties to the smaller id; a
      // production pipeline plugs its quality score in here), drop the
      // rest. d8 answers "which docs are together"; d12 answers "which
      // doc survives". The winner comes from the TopKPerKey bounded heap
      // per component (k=1) — no per-cluster sort; only (doc_id, rep,
      // n_chars) triples shuffle, never text.
      val comp = ccComponentsShared(s, dir)
      val quality = bucketedDocsShared(s, dir)
        .select(col("doc_id"), col("n_chars"))
      val scored = comp.join(quality, Seq("doc_id"))
      val keep = graft.plans.TopKPerKey(scored, Seq(col("rep")),
          Seq(col("n_chars").desc, col("doc_id").asc), 1)
        .select(col("rep"), col("doc_id").as("keep_id"))
      comp.join(keep, Seq("rep"))
        .select(col("doc_id"), col("rep"), col("keep_id"),
          when(col("doc_id") === col("keep_id"), 1).otherwise(0)
            .cast("int").as("kept"))
        .orderBy(col("doc_id"))
    },

    "d5_dedup_embedding_lsh" -> { (s, dir) =>
      Dedup.embeddingCosine(Tables.load(s, dir, "embeddings"),
        dim = 64, planes = 12, threshold = 0.95)
        .orderBy(col("vec_id"))
    },

    // ---- soundness gates for the approximate family ---------------------
    // The LSH bucketings themselves are not SQL-expressible, but their
    // OUTPUT CONTRACT is: every emitted pair must satisfy the exact
    // predicate. These entries emit the verified pair sets; each DuckDB
    // oracle recomputes the full exact-predicate pair set from the raw
    // data, so a single unsound pair (or, on this corpus, a missed one —
    // recall is 100% here, probe-verified; guaranteed by pigeonhole for
    // d4p) hash-mismatches. Completeness in general stays with the
    // planted-pair/recall specs.
    "d3p_minhash_pairs" -> { (s, dir) =>
      // same parameters as d3, served from the materialized verified
      // pair store (distinct'd at the store boundary — the per-band
      // multi-emit contract is documented on the operator)
      mhPairs80Shared(s, dir).orderBy(col("i"), col("j"))
    },

    "d4p_simhash_pairs" -> { (s, dir) =>
      // portable md5-bit signature (graft_simhash_md5) through the SAME
      // banding + hamming-verify machinery as d4; with 4 bands of 16 bits
      // the hamming<=3 pair set is recalled EXACTLY (pigeonhole), so the
      // oracle's quadratic recompute of the identical signature in SQL
      // must match bit-for-bit. Zero-token docs are excluded (their
      // signature would be 0 and they have no oracle row).
      val d = bucketedDocsShared(s, dir)
      val sigs = d
        .select(col("doc_id"),
          call_function("graft_simhash_md5", col("text")).as("sig"),
          size(TextFunctions.tokens(col("text"))).as("ntok"))
        .filter(col("ntok") > 0)
        .select(col("doc_id"), col("sig"))
      Dedup.simhashPairsFromSig(sigs, maxHamming = 3)
        .distinct().orderBy(col("i"), col("j"))
    },

    "d5p_embedding_pairs" -> { (s, dir) =>
      // at this corpus the exact cosine>=0.95 pair set is empty (probe:
      // max off-diagonal cosine ~0.51), so the gate pins exactly the
      // soundness direction: any spurious LSH pair breaks equality
      Dedup.embeddingCosinePairs(Tables.load(s, dir, "embeddings"),
        dim = 64, planes = 12, threshold = 0.95)
        .distinct().orderBy(col("i"), col("j"))
    },

    "d6_dedup_embedding_exact" -> { (s, dir) =>
      // exact cosine near-dup blocked on `label` — the oracle-checkable
      // twin of d5 (full pairwise inside blocks, no LSH); d5 (hyperplane
      // LSH + exact verify) is the 100 TB path. The all-pairs stage is
      // BOUNDED: only label blocks with <= 4096 vectors generate pairs, so
      // the per-block cost is capped at 4096²/2 comparisons and the total
      // stays linear in the number of labels at any corpus size — no
      // unbounded quadratic stage ships in this plan. Vectors in oversize
      // blocks keep rep = self via the left join (at the gate/bench scale
      // factors every block is far below the cap, so results are
      // unchanged); the oracle applies the identical block-size bound.
      val e = Tables.load(s, dir, "embeddings")
      val bw = org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
      val v = e.select(col("vec_id"), col("label"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("bsz", count(lit(1)).over(bw))
        .filter(col("bsz") <= 4096)
        .drop("bsz")
      val l = v.alias("l")
      val r = v.alias("r")
      val pairs = l.join(r,
          col("l.label") === col("r.label") && col("l.vec_id") < col("r.vec_id"))
        .filter(Similarity.cosine(col("l.v"), col("r.v")) >= 0.95)
        .select(col("l.vec_id").as("i"), col("r.vec_id").as("j"))
      e.join(pairs, e("vec_id") === pairs("j"), "left")
        .groupBy(e("vec_id"))
        .agg(coalesce(min(col("i")), first(e("vec_id"))).as("rep"))
        .select(col("vec_id"), col("rep"))
        .orderBy(col("vec_id"))
    },

    "d9_semantic_dedup" -> { (s, dir) =>
      // SemDeDup-shaped semantic dedup (Similarity.semanticDedup): Lloyd
      // cells via a map-only assignment, exact cosine only within a cell,
      // d6-style cell cap. Fully ORACLE-BACKED via centroids-as-data: the
      // fitted cell table persists as parquet and DuckDB replays the
      // assignment (argmax cosine, ties to the smaller centroid_id —
      // mirroring array_position-of-first-max) and the pair predicate
      // bit-for-bit. tau=0.4 sits below this corpus's max pairwise
      // cosine (~0.51 — the synthetic embeddings carry no planted
      // near-dups), so the gate LIVE-FIRES the pair path and rep
      // aggregation rather than vacuously matching an empty pair set;
      // production semantic dedup runs the 0.95 default, and the planted
      // near-dup behavior is spec-gated in SimilaritySpec.
      // served from the persisted cell table (load-or-fit, the
      // fittedIvfPath discipline) — the fit never lands in the timed loop
      Similarity.semanticDedupWith(
        Similarity.loadIvfIndex(s, fittedD9CellsPath(s, dir)),
        Tables.loadFanned(s, dir, "embeddings"), tau = 0.4)
    },

    "d10_span_dedup" -> { (s, dir) =>
      // duplicated-SPAN detection — the span-granular form of exact
      // substring dedup [Lee et al., ACL'22]: an 8-token window occurring
      // in more than one document marks boilerplate/template text that
      // document-level dedup (d1-d9 keep/drop whole docs) cannot see. Per
      // doc: total span positions, positions whose span recurs elsewhere,
      // and the dup ratio a curation filter thresholds on. Scale shape:
      // spans are xxhash64'd map-side so the df aggregation and the
      // re-join shuffle fixed-width longs, never span text — the d1
      // "bodies never move" discipline at span granularity; the per-span
      // doc-frequency table joins back on the same hashed key (AQE picks
      // the strategy). The oracle recomputes doc frequencies on the raw
      // span strings — a hash collision would hash-mismatch the gate, so
      // the gate also pins collision-freedom on this corpus.
      // BUCKETED corpus (r19): the tokenize+shingle+hash pass below is
      // the dominant cost — the 32-bucket scan distributes it without
      // loadFanned's round-robin exchange of the raw text (r16: 30.8 s
      // wall ≈ 35.2 cpu against a one-split layout; the bucketed scan
      // clears the same floor with zero text movement)
      val d = bucketedDocsShared(s, dir)
      // persisted (Dedup lifecycle): the span subtree feeds BOTH the
      // doc-frequency aggregate and the re-join — without the persist the
      // tokenize+shingle+hash pass (the dominant cost) runs twice
      val g = Dedup.persistPublic(d.select(col("doc_id"), explode(transform(
        TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 8),
        x => xxhash64(x))).as("gh")))
      val df = g.groupBy(col("gh")).agg(countDistinct(col("doc_id")).as("nd"))
      val per = g.join(df, Seq("gh"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_spans"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      d.select(col("doc_id")).join(per, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
        .withColumn("dup_ratio",
          when(col("n_spans") > 0,
            col("n_dup_spans").cast("double") / col("n_spans"))
            .otherwise(lit(0.0)))
        .orderBy(col("doc_id"))
    },

    "d20_span_excise" -> { (s, dir) =>
      // duplicated-span EXCISION — d10's detection composed with c10's
      // surgery, the actual Lee et al. ACL'22 ExactSubstr deliverable
      // (d10 only SCORES; this rewrites): every position covered by an
      // 8-token span that occurs in MORE THAN ONE document (d10's
      // df-qualification, countDistinct(doc_id) > 1) is removed and the
      // document is KEPT — boilerplate/template text gone, content
      // intact. Documented divergence from the paper's keep-one-
      // occurrence rule: ALL occurrences excise (cross-document
      // boilerplate has no canonical owner; keep-one needs a global
      // occurrence order, and for template text removing every copy is
      // the curation intent). Scale shape — the reason this query reads
      // the BUCKETED corpus (bucketedDocsShared, the production rewrite
      // posture): span candidates are xxhash64'd map-side so the df
      // aggregate and the qualify re-join shuffle fixed-width longs
      // (d10's bodies-never-move discipline); covered positions collapse
      // to a per-doc int array; and the cover join-back rides the
      // bucketed scan's hashpartitioning(doc_id) — ONLY the cover side
      // exchanges, text NEVER enters a shuffle (plan-asserted). The
      // rebuild is c10's order-preserving indexed filter, map-side.
      Dedup.spanExcise(bucketedDocsShared(s, dir), n = 8)
        .orderBy(col("doc_id"))
    },

    "d24_char_excise" -> { (s, dir) =>
      // CHARACTER-granular span excision (Dedup.spanExciseChars) — Lee
      // et al. ACL'22's actual granularity (>= 50-char substrings; 40
      // here to live-fire on this corpus): duplication that straddles
      // token boundaries or lives inside long tokens is visible at
      // char level and invisible to d20/d21's token windows. Reads the
      // BUCKETED corpus like d20 so the cover join-back exchanges only
      // the cover side; windows hash map-side (one per char position —
      // the granularity's price, documented), qualification is one
      // distinct-doc count on the hash, the rebuild is the indexed
      // per-code-point filter. The oracle regroups the actual 40-char
      // SUBSTRINGS where Spark groups xxhash64 hashes — corpus
      // collision-freedom is part of the gate (the d20 discipline).
      Dedup.spanExciseChars(bucketedDocsShared(s, dir), n = 40)
        .orderBy(col("doc_id"))
    },

    "d27_char_excise_incremental" -> { (s, dir) =>
      // d22 at d24's granularity: an arriving drop (doc_id % 4 = 0, the
      // x4 snapshot convention) excises every char position covered by
      // a 40-char window the BASE corpus's persisted counted index
      // already holds — the base copy is canonical, keep-one with the
      // base as keeper. ONE left-semi equi join on the hash (fixed-
      // width rows; bodies never shuffle), the shared d24 rebuild; the
      // decision reads only the static index, so the flow is stateless
      // (zero-state twin EventsStream.charExciseStream, spec-pinned).
      // The oracle is a genuine differential: DuckDB matches the
      // actual 40-char STRINGS where Spark probes xxhash64 hashes —
      // corpus collision-freedom is part of the gate.
      // r19 (guide §2.4/§6): the base index is SERVED from its
      // materialized store (charspan_index_base — the d22/span_index
      // lifecycle at char granularity; the comment above always said
      // "persisted counted index" but the build ran inline, charging
      // every serving pass the 96 %-side char-window explode), and the
      // drop reads the BUCKETED corpus so the cover join-back rides
      // hashpartitioning(doc_id) instead of exchanging drop text.
      Dedup.spanExciseCharsAgainstIndex(
          bucketedDocsShared(s, dir).filter(col("doc_id") % 4 === 0),
          charspanIndexBaseShared(s, dir), n = 40)
        .orderBy(col("doc_id"))
    },

    "d21_span_keep_one" -> { (s, dir) =>
      // KEEP-ONE duplicated-span dedup — the Lee et al. ACL'22
      // ExactSubstr rule exactly (d20 is the stricter remove-every-copy
      // template variant): every 8-token span occurring more than once
      // in the corpus (ANY repeat, including within one document —
      // count(*), not d10's distinct-doc count) keeps its canonical
      // (doc_id, pos)-minimum occurrence and every other occurrence
      // excises, so the corpus retains ONE copy of each repeated
      // passage. The keeper election is one struct-min aggregate on the
      // map-side span hash; everything else is d20's machinery — the
      // bucketed corpus scan, int cover arrays, the order-preserving
      // indexed-filter rebuild, text never in a shuffle.
      Dedup.spanExciseKeepOne(bucketedDocsShared(s, dir), n = 8)
        .orderBy(col("doc_id"))
    },

    "d22_incremental_excise" -> { (s, dir) =>
      // INCREMENTAL span excision — the daily-crawl form of d21: the
      // arriving drop (doc_id % 4 == 0, the x4/d19 snapshot convention)
      // is excised against the BASE corpus's persisted span-hash index
      // (span_index, built once per snapshot): every drop position
      // covered by an 8-token span the base already contains is
      // removed — the base's copy is canonical, so this is keep-one
      // with the base as keeper. Per-document decisions depend only on
      // the static index (stateless — the property the streaming twin
      // spanExciseStream runs on). One left-semi hash probe, int
      // covers, the shared indexed-filter rebuild; within-drop
      // duplication deferred to compaction-time d21 (documented).
      // BUCKETED drop (r19, guide §2.4): the drop is a doc_id slice of
      // the bucketed corpus, so the cover aggregate and join-back ride
      // hashpartitioning(doc_id) — the plain scan + shuffle_hash pin
      // exchanged the drop's token side per pass.
      val d = bucketedDocsShared(s, dir)
      Dedup.spanExciseAgainstIndex(
          d.filter(col("doc_id") % 4 === 0), spanIndexShared(s, dir), n = 8)
        .orderBy(col("doc_id"))
    },

    "d22b_excise_bloom" -> { (s, dir) =>
      // d22 through the BLOOM-prefiltered probe (c3's discipline for a
      // static index too big to broadcast exactly): the ~1.2-bytes-per-
      // hash bloom broadcasts, rejects non-matching drop spans MAP-SIDE,
      // and the exact left-semi verify kills the ~1% false positives —
      // output bit-identical to d22 (the SAME DuckDB oracle hash-gates
      // both, so fp-immunity is part of the gate). At 100 TB the win is
      // the verify shuffle carrying only probable hits instead of every
      // span of every arriving document.
      // BUCKETED drop (r19): same doc_id-partitioned posture as d22.
      val d = bucketedDocsShared(s, dir)
      Dedup.spanExciseAgainstIndexBloom(
          d.filter(col("doc_id") % 4 === 0), spanIndexShared(s, dir),
          spanBloomShared(s, dir), n = 8)
        .orderBy(col("doc_id"))
    },

    "d22c_excise_composed" -> { (s, dir) =>
      // d22 COMPOSED with within-drop keep-one — closing d22's
      // documented divergence (two copies of a new passage arriving in
      // the same drop both survived to compaction): a drop position
      // excises when its 8-token span is in the base index (base is
      // keeper — every drop occurrence goes, d22's rule) OR when the
      // span is new to the base but repeats within the drop and this
      // occurrence is not the drop-internal (doc_id, pos)-minimum
      // (d21's keep-one applied to the drop alone). ONE left probe of
      // the persisted index (the membership flag replaces the semi
      // join), one struct-min keeper election on the hash, the shared
      // int-cover rebuild — bodies never shuffle. The streaming twin
      // (spanExciseComposedStream) applies the rule per microbatch;
      // cross-batch duplicate copies are the spec-pinned divergence.
      // BUCKETED drop (r19): same doc_id-partitioned posture as d22.
      val d = bucketedDocsShared(s, dir)
      Dedup.spanExciseAgainstIndexKeepOne(
          d.filter(col("doc_id") % 4 === 0), spanIndexShared(s, dir), n = 8)
        .orderBy(col("doc_id"))
    },

    "d26_components_delete" -> { (s, dir) =>
      // TAKEDOWN on the persisted near-dup COMPONENT STORE (the graph
      // store, where deletion can SPLIT a component: pull the middle
      // out of an A~B~C chain and A,C disconnect) — INDEX-ONLY since
      // r16: the store carries the verified rep-level EDGE set beside
      // the clique map, so the repair is clique relabel + edge splice
      // + a min-label re-closure over the affected components'
      // surviving edges. No text is read (r15 re-shingled affected
      // components' bodies — a takedown touching the giant near-dup
      // component every web corpus has re-shingled that whole
      // component; this retires that hazard). Untouched components
      // pass through bit-identical. The oracle rebuilds the full
      // recursive closure over the survivors' raw text, so hash-green
      // proves edge-splice ≡ rebuild including splits.
      val d = bucketedDocsShared(s, dir)
      val revoked = d.filter(col("doc_id") % 10 === 1)
        .select(col("doc_id"))
      Dedup.componentsFromIndex(
          Dedup.componentsIndexDelete(componentsIndexShared(s, dir), revoked))
        .orderBy(col("doc_id"))
    },

    "d25_index_merge" -> { (s, dir) =>
      // INDEX COMPACTION, served end-to-end — the append half d23's
      // takedown completes (d22/d22c only PROBE the persisted index;
      // this ADVANCES it): the base snapshot is split into an older
      // index (doc_id % 10 <> 3) and an arriving compaction drop
      // (doc_id % 10 == 3); Dedup.spanIndexMerge folds the drop's
      // per-hash doc-frequency deltas into the stale index with one
      // full-outer merge on the hash (the delete path's delta
      // arithmetic, sign flipped — the base corpus is never re-read),
      // and the x4 probe set then excises against the merged index.
      // The oracle is d22's: DuckDB rebuilds the span set from the
      // FULL base corpus — hash-green proves merge ≡ rebuild through
      // the serve path (IndexDeleteSpec pins the index-level
      // bit-identity and the delete-roundtrip
      // delete(merge(idx, drop), drop) ≡ idx).
      val d = bucketedDocsShared(s, dir)
      val base = d.filter(col("doc_id") % 4 =!= 0)
      // the stale index comes from the persisted store (the production
      // posture — last night's index is on disk), so this lap measures
      // merge + serve, cost ∝ drop
      val merged = Dedup.spanIndexMerge(
        spanIndexOlderShared(s, dir), base.filter(col("doc_id") % 10 === 3))
      Dedup.spanExciseAgainstIndex(
          d.filter(col("doc_id") % 4 === 0), merged, n = 8)
        .orderBy(col("doc_id"))
    },

    "d25b_postings_merge" -> { (s, dir) =>
      // compaction on the tf-idf postings store, emitting the SERVED
      // banded relation after the merge: the drop's tf rows append,
      // touched grams' df rises by the drop's per-gram doc count (a
      // gram leaving the [2,25] band serves out, one entering serves
      // in — the unbanded store makes both directions exact), n_docs
      // rises by the drop size. DuckDB rebuilds the banded postings
      // from the full base corpus — hash-green ⇒ merge ≡ rebuild
      // including band migrations. Merge cost ∝ drop text + one
      // gram-keyed join; the base corpus is never re-read.
      val d = bucketedDocsShared(s, dir) // r19: fan-out without a text exchange
      val base = d.filter(col("doc_id") % 4 =!= 0)
      // the stale index comes from the persisted store (the d25
      // discipline — last night's index is on disk; r16's bench paid a
      // 450 CPU-s inline rebuild here), so this lap measures the merge
      Dedup.postingsBand(Dedup.postingsMerge(
          tfidfPostingsOlderShared(s, dir),
          base.filter(col("doc_id") % 10 === 3)))
        .orderBy(col("gram"), col("doc_id"))
    },

    "d23_index_delete" -> { (s, dir) =>
      // INDEX TAKEDOWN, served end-to-end — the compliance operation
      // the incremental suite (d17/d19/d22/g14) was missing: base docs
      // with doc_id % 10 == 1 are revoked, their contribution is
      // REMOVED from the persisted span-hash index by pure delta
      // arithmetic (Dedup.spanIndexDelete — per-hash doc-frequency
      // decrements computed from the revoked docs ALONE; the surviving
      // corpus is never read, the index never rebuilds), and the d22
      // drop then excises against the shrunk index. The oracle is the
      // genuine differential: DuckDB REBUILDS the span set from the
      // surviving corpus's raw strings, so a hash-green run proves
      // delete-path ≡ from-scratch-rebuild through the full serve path
      // (IndexDeleteSpec pins the index-level bit-identity per store).
      // Scale: the delta is O(revoked text); the merge one equi join
      // on the hash — takedown cost is proportional to the takedown,
      // not the corpus.
      val d = bucketedDocsShared(s, dir)
      val revoked = d.filter(col("doc_id") % 4 =!= 0
        && col("doc_id") % 10 === 1)
      Dedup.spanExciseAgainstIndex(
          d.filter(col("doc_id") % 4 === 0),
          Dedup.spanIndexDelete(spanIndexShared(s, dir), revoked, n = 8),
          n = 8)
        .orderBy(col("doc_id"))
    },

    "d23b_postings_delete" -> { (s, dir) =>
      // TAKEDOWN on the tf-idf postings index, emitting the SERVED
      // banded relation after the delete: revoked rows anti-join out,
      // per-gram df decrements come from exactly those rows (the index
      // itself carries every posting being withdrawn), n_docs drops by
      // the request count, and the serve band re-derives — so a gram
      // whose df sat just ABOVE 25 falls INTO the band and its
      // never-discarded rows start serving, exactly what a rebuild
      // would do (the reason the persisted index is UNBANDED). DuckDB
      // rebuilds the banded postings from the surviving corpus's raw
      // text — hash-green ⇒ delete ≡ rebuild including band
      // migrations. One anti join + one gram-keyed merge; no corpus
      // read.
      val d = bucketedDocsShared(s, dir)
      val revoked = d.filter(col("doc_id") % 4 =!= 0
        && col("doc_id") % 10 === 1).select(col("doc_id"))
      Dedup.postingsBand(
          Dedup.postingsDelete(tfidfPostingsFullShared(s, dir), revoked))
        .orderBy(col("gram"), col("doc_id"))
    },

    "d11_fuzzy_join" -> { (s, dir) =>
      // typo-level record linkage: all pairs of corpus keys within
      // levenshtein distance 1, found by FuzzyJoin's deletion-neighborhood
      // blocking (lossless; no all-pairs stage). Corpus = each document's
      // 24-char prefix, plus a planted first-char typo ('#' — a character
      // the synthetic vocabulary never emits, so each plant is distance
      // EXACTLY 1 from its source) for every 5th doc; the corpus's 24
      // naturally-identical prefixes supply the distance-0 pairs. The
      // oracle brute-forces levenshtein over the same derived corpus, so
      // any pair the blocking lost would hash-mismatch — the candidate
      // generation itself is the system under test.
      val d = bucketedDocsShared(s, dir)
      val base = d.select(col("doc_id").as("id"),
        substring(col("text"), 1, 24).as("sk"))
      val typos = d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("id"),
          concat(lit("#"), substring(col("text"), 2, 23)).as("sk"))
      FuzzyJoin.editDistanceJoin(base.unionAll(typos), "id", "sk", maxDist = 1)
        .orderBy(col("id_a"), col("id_b"))
    },

    "c1_decontamination" -> { (s, dir) =>
      // contamination check: corpus docs sharing a verbatim 8-gram with the
      // "eval set" (docs with doc_id % 10 == 7 stand in for a benchmark)
      val d = bucketedDocsShared(s, dir)
      Decontaminate.ngramOverlap(
        d.filter(col("doc_id") % 10 =!= 7),
        d.filter(col("doc_id") % 10 === 7), n = 8)
        .orderBy(col("doc_id"))
    },

    "c6_eval_leak_report" -> { (s, dir) =>
      // c1's INVERSE direction — the eval-hygiene report: per EVAL item,
      // how much of it leaked into the training corpus (n_leaked of its
      // distinct 8-grams appear in ≥ 1 corpus doc; n_hit_docs = Σ
      // per-gram distinct-corpus-doc counts; leak_ppm one exact scaled
      // division). Same scale shape as c1 — the corpus side streams
      // against the BROADCAST eval gram set (never the reverse: the
      // corpus gram universe is unbounded, the eval set is benchmark-
      // sized by contract), only matching grams aggregate, and the
      // per-eval rollup joins two eval-sized frames.
      val d = bucketedDocsShared(s, dir)
      val eg = d.filter(col("doc_id") % 10 === 7)
        .select(col("doc_id").as("eval_id"),
          explode(call_function("graft_shingle_hashes", col("text"), lit(8)))
            .as("g"))
      val hits = d.filter(col("doc_id") % 10 =!= 7)
        .select(col("doc_id"),
          explode(call_function("graft_shingle_hashes", col("text"), lit(8)))
            .as("g"))
        .join(broadcast(eg.select(col("g")).distinct()), Seq("g"))
        .groupBy(col("g")).agg(countDistinct(col("doc_id")).as("n_docs"))
      eg.join(hits, Seq("g"), "left")
        .groupBy(col("eval_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("n_docs").isNotNull, 1L).otherwise(0L)).as("n_leaked"),
          coalesce(sum(col("n_docs")), lit(0L)).as("n_hit_docs"))
        .select(col("eval_id"), col("n_grams"), col("n_leaked"),
          expr("(n_leaked * 1000000) div n_grams").as("leak_ppm"),
          col("n_hit_docs"))
        .orderBy(col("eval_id"))
    },

    "c3_decon_bloom" -> { (s, dir) =>
      // the Bloom-prefiltered decontamination path: ~1.2 bytes/gram at 1%
      // fpp instead of >= 8 bytes/gram for a broadcast hash relation, so
      // an eval set an order of magnitude too big to broadcast still scrubs
      // map-side. False positives die in the exact verify join, so the
      // result — and therefore the oracle — is IDENTICAL to c1's.
      val d = bucketedDocsShared(s, dir)
      Decontaminate.ngramOverlapBloom(
        d.filter(col("doc_id") % 10 =!= 7),
        d.filter(col("doc_id") % 10 === 7), n = 8)
        .orderBy(col("doc_id"))
    },

    "c2_decon_fuzzy" -> { (s, dir) =>
      // paraphrase-level contamination: corpus docs whose 3-shingle set is
      // near-identical (exact Jaccard >= 0.8) to an eval doc's — the
      // reworded-leak check layered over c1's verbatim grams. LSH proposes,
      // the exact predicate decides; the oracle recomputes the predicate
      // quadratically in DuckDB over the raw text, and the gate is FULL
      // EQUALITY. The GATE runs at bands=16 (rows=2): a threshold-marginal
      // J=0.8 pair then misses every band with prob (1-0.8²)¹⁶ ≈ 8e-8 —
      // effectively-certain recall on ANY corpus, so gate equality pins
      // soundness without depending on this corpus having no marginal
      // pair (the 8-band default's ~1.5% per-pair miss rate would). Same
      // code path either way; production calls keep the cheaper default.
      val d = bucketedDocsShared(s, dir)
      Decontaminate.fuzzyPairs(
          d.filter(col("doc_id") % 10 =!= 7),
          d.filter(col("doc_id") % 10 === 7),
          bands = 16)
        .select(col("doc_id"), col("eval_id"))
        .distinct().orderBy(col("doc_id"), col("eval_id"))
    },

    "c4_decon_semantic" -> { (s, dir) =>
      // embedding-level contamination: corpus vectors whose cosine to any
      // eval vector (vec_id % 10 == 7 stands in for the benchmark) clears
      // τ=0.35 — the translated/paraphrased-leak check that works when no
      // surface n-grams survive (c1/c3 verbatim, c2 shingle-Jaccard).
      // Eval side broadcast, one map-side fused-cosine pass over the
      // corpus, only the rare flagged (vec_id, count/max) rows shuffle.
      // Scores are the strict left-to-right graft_cosine fold, so the
      // τ predicate and the max replay bit-exactly in DuckDB (the a1
      // discipline).
      val e = Tables.load(s, dir, "embeddings")
      Decontaminate.semanticFlags(
          e.filter(col("vec_id") % 10 =!= 7),
          e.filter(col("vec_id") % 10 === 7), tau = 0.35)
        .orderBy(col("vec_id"))
    },

    // ---- similarity search ----------------------------------------------
    "a1_ann_bruteforce" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), k = 10)
        .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
    },

    "a2_ann_ivf" -> { (s, dir) =>
      // IVF serving against the PERSISTED centroid index (fit-once,
      // serve-many — the production ANN shape; the Lloyd fit runs only
      // on the first touch per sf dir and lands in ivf_centroids.parquet)
      val e = Tables.loadFanned(s, dir, "embeddings")
      Similarity.ivfTopKWith(
        Similarity.loadIvfIndex(s, fittedIvfPath(s, dir)),
        e, e.filter(col("vec_id") < 5), k = 10, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
    },

    "a3_pq_encode" -> { (s, dir) =>
      // product quantization [Jégou et al., TPAMI'11] — the compression
      // half of an ANN serving tier: 64-dim vectors become 8 one-byte
      // codes (32× smaller), one L2-argmin per subspace against an 8×16
      // codebook. The fit is the capped Lloyd machinery per subspace;
      // encoding is a map-only pass (no join, no shuffle — the
      // assignment discipline). MODEL-AS-DATA gate: the codebooks
      // persist as a (sub, centroid_id, centroid) parquet table and
      // DuckDB recomputes every argmin from it — scores replay as
      // ‖c‖² − 2·list_dot_product(block, c) with the identical fold, so
      // codes are bit-reproducible (the v4p/d9 discipline).
      val e = Tables.loadFanned(s, dir, "embeddings")
      val model = fittedPq(s, dir) // loads-or-fits; persists the parquet
      Similarity.pqEncode(e, model)
        .select(col("vec_id"), posexplode(
          array((0 until 8).map(i => col(s"c$i")): _*)).as(Seq("sub", "code")))
        .orderBy(col("vec_id"), col("sub"))
    },

    "a4_pq_adc" -> { (s, dir) =>
      // PQ serving (asymmetric distance): top-5 neighbors per query read
      // from the corpus's 8-byte codes alone — the per-query LUT is
      // driver-built from the bounded query batch and broadcast, scoring
      // is an equi join on (sub, code) + a decimal-routed sum (order-
      // insensitive ⇒ exact gate), winners via the bounded heap. The
      // oracle recomputes codes from the persisted codebooks (the a3
      // CTEs) and replays LUT + sum + ranking in SQL end-to-end.
      val e = Tables.loadFanned(s, dir, "embeddings")
      val model = fittedPq(s, dir) // loads-or-fits; persists the parquet
      // codes from the persisted quantized index (r18) — production
      // serves the 8-byte codes from disk, it never re-encodes per query
      val codes = pqCodesShared(s, dir)
      Similarity.pqAdcTopK(e.filter(col("vec_id") < 10), codes, model, k = 5)
        .orderBy(col("query_id"), col("rank"))
    },

    "a10_adc_rerank" -> { (s, dir) =>
      // two-stage retrieval (shortlist + exact re-rank — the FAISS
      // "refine" deployment shape): the 8-byte PQ codes propose an ADC
      // shortlist of 25 candidates per query, then the TRUE cosine on
      // the shortlist's full vectors re-ranks to the served top-5. The
      // production IO shape at 100 TB: the quantized scan reads m
      // bytes/vector corpus-wide, full vectors only for the bounded
      // |queries|×25 shortlist (broadcast onto ONE corpus scan). Both
      // stages are oracle-replayable (a4's codes/LUT CTEs + the a1
      // cosine), so the composition hash-gates end to end.
      val e = Tables.loadFanned(s, dir, "embeddings")
      val model = fittedPq(s, dir)
      // the shortlist proposes from the PERSISTED code store (r18):
      // re-encoding the corpus per pass was a10's 20× first-touch tax
      val codes = pqCodesShared(s, dir)
      Similarity.adcRerankTopK(e, codes, model,
          e.filter(col("vec_id") < 10), shortlist = 25, k = 5)
        .orderBy(col("query_id"), col("rank"))
    },

    "a7_radius_search" -> { (s, dir) =>
      // RADIUS (range) retrieval — the serving primitive top-k can't
      // express: "everything within cosine ≥ τ of these queries",
      // the shape behind near-dup candidate pulls, dedup-aware
      // retrieval filters, and recall-safe ANN ground truth. Exact
      // form: queries broadcast, ONE corpus scan through the fused
      // graft_cosine kernel, a codegen'd filter at τ — no heap, no
      // window, no shuffle of the corpus (the a1 posture; the result
      // is output-bounded by construction because τ is a radius, not
      // a count). The scale path at lower τ is a2's IVF cell pruning
      // with τ-aware cell bounds — same candidates, fewer distances.
      val e = Tables.load(s, dir, "embeddings")
      Similarity.radiusSearch(e, e.filter(col("vec_id") < 5), tau = 0.3)
        .orderBy(col("query_id"), col("neighbor_id"))
    },

    "a8_ivf_radius" -> { (s, dir) =>
      // a7's SCALE path: radius retrieval with IVF cell pruning —
      // candidates from each query's 4-of-16 nearest cells only, then
      // the exact filter at τ. Approximate by construction (a
      // qualifying neighbor in an unprobed cell is missed); recall vs
      // the exact a7 is spec-measured, and the full-probe twin a8p
      // hash-gates the whole machinery.
      // served against the PERSISTED centroid index (fit-once,
      // serve-many — the a2 discipline; the bench prebuild covers it)
      val e = Tables.loadFanned(s, dir, "embeddings")
      Similarity.ivfRadiusWith(
          Similarity.loadIvfIndex(s, fittedIvfPath(s, dir)),
          e, e.filter(col("vec_id") < 5), tau = 0.3, nprobe = 4)
        .orderBy(col("query_id"), col("neighbor_id"))
    },

    "a8p_ivf_radius_full" -> { (s, dir) =>
      // oracle gate for the IVF radius machinery: with nprobe = nlist
      // every cell is probed, so the result must equal exact radius
      // search (a7's oracle SQL verbatim) — assignment, probe join,
      // multi-cell dedup, and the radius filter all hash-checked (the
      // a2p discipline).
      val e = Tables.loadFanned(s, dir, "embeddings")
      Similarity.ivfRadius(e, e.filter(col("vec_id") < 5), tau = 0.3,
        nlist = 8, nprobe = 8, lloydIters = 0)
        .orderBy(col("query_id"), col("neighbor_id"))
    },

    "a9_ivf_append" -> { (s, dir) =>
      // incremental IVF maintenance (assign-only append + drift
      // monitor): the index was fit on the BASE snapshot only
      // (cells_a9, vec_id % 4 != 0 — the v8/x4 convention) and
      // PERSISTED; the drop (vec_id % 4 == 0) then joins it by
      // map-only assignment alone — no refit, no job against the
      // base. Per cell: base occupancy, appended-drop occupancy, and
      // the v8-style drift cosine between the stored centroid and the
      // drop members' decimal-summed mean — the number ivfMaintain
      // thresholds to decide refit-vs-serve. Fully oracle-backed via
      // centroids-as-data: DuckDB replays the argmax assignment, the
      // counts, and the decimal-routed mean/cosine bit-for-bit.
      val e = Tables.loadFanned(s, dir, "embeddings")
      val cells = Similarity.loadIvfIndex(s, fittedA9CellsPath(s, dir))
      val nb = Similarity.ivfAssign(cells, e.filter(col("vec_id") % 4 =!= 0))
        .groupBy(col("cell")).agg(count(lit(1)).as("n_base"))
      Similarity.ivfDrift(cells, e.filter(col("vec_id") % 4 === 0))
        .join(nb, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("n_base"), lit(0L)).as("n_base"),
          col("n_new"), col("cos"))
        .orderBy(col("cell"))
    },

    "a6_ivf_pq" -> { (s, dir) =>
      // IVF-PQ composed serving (the FAISS IVFPQ deployment shape):
      // coarse centroids prune to the 4 nearest cells per query, ADC
      // scores only those candidates' 8-byte codes — at 100 TB the
      // scan touches nprobe/nlist of the corpus at m bytes/vector.
      // Both models come from the persisted cross-JVM caches (the
      // fit-once/serve-many discipline), and since cell assignment,
      // codes, and LUT are all oracle-replayable kernels, the COMPOSED
      // answer hash-gates — the approximate index with an exact gate.
      val e = Tables.loadFanned(s, dir, "embeddings")
      Similarity.ivfPqTopK(
        Similarity.loadIvfIndex(s, fittedIvfPath(s, dir)),
        e, e.filter(col("vec_id") < 5), fittedPq(s, dir),
        k = 10, nprobe = 4)
        .orderBy(col("query_id"), col("rank"))
    },

    "a11_ivf_pq_residual" -> { (s, dir) =>
      // IVFADC proper (Jégou et al. TPAMI'11 §IV-A) — a6 with the PQ
      // codebooks trained on COARSE RESIDUALS and the ADC distance
      // carrying the per-(query, cell) residual energy, so adist is
      // the true quantized distance and compares across probed cells.
      // Residuals carry less energy than raw vectors, so the same
      // 8-byte budget quantizes with strictly lower distortion
      // (spec-pinned vs the flat fit). Same shuffle shape as a6 —
      // cell equi join against the broadcast probe set, broadcast
      // per-(query, cell) LUT join, bounded heap — and the whole
      // composition hash-gates from the persisted centroid +
      // residual-codebook parquets (models as data).
      val e = Tables.loadFanned(s, dir, "embeddings")
      Similarity.ivfPqResidualTopK(
        Similarity.loadIvfIndex(s, fittedIvfPath(s, dir)),
        e, e.filter(col("vec_id") < 5), fittedResidualPq(s, dir),
        k = 10, nprobe = 4)
        .orderBy(col("query_id"), col("rank"))
    },

    "a12_opq_adc" -> { (s, dir) =>
      // parametric OPQ (Ge et al. CVPR'13 — OPQ_P): a4's ADC with the
      // vectors ROTATED first (full PCA eigenbasis, eigen-dims
      // permuted to balance per-subspace eigenvalue log-products),
      // so variance spread across subspaces — which plain PQ cannot
      // exploit, each codebook seeing only its slice — concentrates
      // where the codebooks can spend their bits. Rotation is
      // orthogonal + mean shift ⇒ L2-preserving ⇒ adist ranks the
      // true distances under the better quantizer. The rotation is the
      // fused v4p dot kernel (map-only, codegen'd); serving is the a4
      // machinery verbatim in the rotated space; BOTH model halves
      // persist and DuckDB replays rotation + quantization end to end.
      val e = Tables.loadFanned(s, dir, "embeddings")
      Similarity.opqAdcTopK(e, e.filter(col("vec_id") < 5),
          fittedOpq(s, dir), k = 10)
        .orderBy(col("query_id"), col("rank"))
    },

    "a13_opq_ivf_pq" -> { (s, dir) =>
      // OPQ-rotated residual IVF-PQ — the production FAISS stack
      // (OPQ pretransform + IVF + PQ on residuals), composed from
      // a12's rotation and a11's residual machinery: one shared
      // rotation (opq_rotation.parquet), coarse centroids fitted in
      // the rotated space, codebooks on rotated coarse residuals,
      // rotated per-(query, cell) ADC with the cross-cell residual
      // energy term. All three model halves persist, so DuckDB
      // replays rotation → assignment → residual LUT end to end —
      // the approximate production index with an exact gate.
      val e = Tables.loadFanned(s, dir, "embeddings")
      Similarity.opqIvfPqResidualTopK(
        Similarity.loadIvfIndex(s, fittedOpqIvfPath(s, dir)),
        e, e.filter(col("vec_id") < 5), fittedOpq(s, dir).rotation,
        fittedOpqResidualPq(s, dir), k = 10, nprobe = 4)
        .orderBy(col("query_id"), col("rank"))
    },

    "a2p_ivf_full_probe" -> { (s, dir) =>
      // oracle gate for the IVF machinery: with nprobe = nlist every cell
      // is probed, so the candidate set is the full corpus and the result
      // must equal brute force EXACTLY (same a1 oracle SQL) — centroid
      // seeding, the map-only cell assignment, the probe join, multi-cell
      // candidate dedup, and the top-k heap all sit on the hash-checked
      // path. a2's pruned recall (nprobe < nlist) stays spec-measured.
      val e = Tables.loadFanned(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 5),
        k = 10, nlist = 8, nprobe = 8, lloydIters = 0)
        .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
    },

    "v6_knn_label" -> { (s, dir) =>
      // kNN majority-vote labeling — the label-propagation step that
      // turns a small labeled set into weak labels for the rest of the
      // corpus: each query takes the modal label of its 5 nearest
      // neighbors by cosine (ties to the smaller label, a total order).
      // Composes the gate-checked brute-force top-k with a per-key vote
      // aggregate; the winner is selected by TopKPerKey k=1, not a
      // window, so no per-query sort materializes at any corpus size.
      val e = Tables.load(s, dir, "embeddings")
      Similarity.knnLabel(e, e.filter(col("vec_id") < 50), k = 5)
        .orderBy(col("query_id"))
    },

    // ---- text analysis ----------------------------------------------------
    // graft_text_stats computes every per-document statistic in one fused
    // codegen'd pass (the composable TextFunctions forms re-tokenize per
    // metric through interpreted HOFs — semantics identical, PipelineSpec
    // asserts agreement); Catalyst's subexpression elimination evaluates
    // the struct once per row however many fields are projected
    "t1_text_stats" -> { (s, dir) =>
      val d = bucketedDocsShared(s, dir)
      val st = call_function("graft_text_stats", col("text"))
      d.select(
        col("doc_id"),
        st.getField("n_tokens").as("n_tokens"),
        st.getField("n_unique").as("n_unique"),
        st.getField("n_chars").as("n_chars_txt"),
        st.getField("mean_tok_len").as("mean_tok_len"))
        .orderBy(col("doc_id"))
    },

    "t2_quality" -> { (s, dir) =>
      val d = bucketedDocsShared(s, dir)
      val st = call_function("graft_text_stats", col("text"))
      d.select(
        col("doc_id"),
        st.getField("stop_ratio").as("stop_ratio"),
        st.getField("punct_ratio").as("punct_ratio"),
        st.getField("quality").as("quality"))
        .orderBy(col("doc_id"))
    },

    "t3_langid" -> { (s, dir) =>
      val d = bucketedDocsShared(s, dir)
      d.select(col("doc_id"),
          call_function("graft_text_stats", col("text"))
            .getField("lang").as("pred_lang"))
        .groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("pred_lang"))
    },

    "t4_fingerprint" -> { (s, dir) =>
      // md5 over graft_norm_text ≡ TextFunctions.docFingerprint (the
      // fused kernel replaces the interpreted tokenize+join)
      val d = bucketedDocsShared(s, dir)
      d.select(
        col("doc_id"),
        md5(call_function("graft_norm_text", col("text"))).as("fp"))
        .orderBy(col("doc_id"))
    },

    "p1_curation_pipeline" -> { (s, dir) =>
      // end-to-end curation in ONE plan: exact dedup → quality filter →
      // deterministic sample → per-language token budget. This is the
      // composition the engine exists for; every stage reuses a verified
      // primitive (Dedup.exact, graft_text_stats) and the whole chain
      // stays a single Catalyst plan — filters push down, the dedup
      // aggregate is the only wide stage.
      val d = bucketedDocsShared(s, dir)
      val keepers = Dedup.exact(d)
        .filter(col("rep") === col("doc_id"))
        .select(col("doc_id"))
      val st = call_function("graft_text_stats", col("text"))
      d.join(keepers, Seq("doc_id"))
        .select(col("doc_id"),
          st.getField("quality").as("q"),
          st.getField("lang").as("pred_lang"),
          st.getField("n_tokens").as("ntok"))
        .filter(col("q") >= 0.5 && col("doc_id") % 10 < 3)
        .groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).cast("long").as("total_tokens"))
        .orderBy(col("pred_lang"))
    },

    "t5_bpe_tokens" -> { (s, dir) =>
      // BPE-style subword segmentation count (GPT-2 pre-tokenizer shape:
      // contractions, letter runs, digit runs, punctuation runs, spaces
      // attach to the following word). Same regex runs in DuckDB's RE2 and
      // Java — the pattern deliberately avoids lookahead/unicode classes,
      // which the two engines treat differently.
      val d = bucketedDocsShared(s, dir)
      d.select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(Pipeline.BpePattern), lit(0)))
          .as("n_bpe"))
        .orderBy(col("doc_id"))
    },

    "t6_quantiles" -> { (s, dir) =>
      // per-language document-length quartiles — how a pipeline derives
      // quality-filter thresholds. Discrete percentiles (an actual element
      // is chosen, no interpolation arithmetic) so both engines return the
      // identical value; Spark's percentile_disc = DuckDB's quantile_disc.
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT lang,
          |  CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY length(text)) AS BIGINT) AS q25,
          |  CAST(percentile_disc(0.5)  WITHIN GROUP (ORDER BY length(text)) AS BIGINT) AS q50,
          |  CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY length(text)) AS BIGINT) AS q75,
          |  count(*) AS n_docs
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)
    },

    "t12_salient_terms" -> { (s, dir) =>
      // TF-IDF-shaped salient-term extraction with an INTEGER-EXACT
      // ordering: per document, the top-3 tokens by term frequency, ties
      // broken by lower document frequency (rarer ⇒ more distinctive)
      // then token — the float tf·idf product would gate on log()
      // rounding, the (tf desc, df asc) lexicographic order ranks
      // identically for fixed tf and is bit-free. Two aggregates (tf, df)
      // joined on the token, winner via the TopKPerKey bounded heap — no
      // per-document sort, and only (doc_id, tok, counts) rows shuffle.
      val d = bucketedDocsShared(s, dir)
      val tok = d.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      val tf = tok.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tok.select(col("doc_id"), col("tok")).distinct()
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      graft.plans.TopKPerKey(tf.join(dfreq, Seq("tok")), Seq(col("doc_id")),
          Seq(col("tf").desc, col("df").asc, col("tok").asc), 3)
        .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("rank"))
        .orderBy(col("doc_id"), col("rank"))
    },

    "t13_postings" -> { (s, dir) =>
      // inverted-index construction (bigram → sorted doc-id posting list)
      // for the mid-frequency band 2 ≤ df ≤ 25 — the phrase-search /
      // retrieval primitive. Bigrams, not unigrams: this corpus's 31-word
      // vocabulary puts every unigram in half the documents, while its
      // ~900 bigrams span the full df spectrum, so both band bounds
      // live-fire. df-FIRST shape: document frequency comes from a
      // map-side-combinable count aggregate whose output is O(vocab), the
      // band filter runs on that tiny frame, and only qualifying grams
      // ever materialize a posting list — a stop-phrase with millions of
      // postings is filtered before its list exists, so no aggregation
      // buffer exceeds the df cap. Postings emit as comma-joined strings
      // (arrays don't gate — the v3/array_join discipline).
      // BUCKETED corpus (r19): the explode kernel runs straight over
      // the 32-bucket scan — no round-robin text exchange
      val d = bucketedDocsShared(s, dir)
      val td = d.select(col("doc_id"), explode(
          TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 2))
          .as("gram"))
        .distinct()
      val dfreq = td.groupBy(col("gram")).agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, 25))
      td.join(dfreq, Seq("gram"))
        .groupBy(col("gram"), col("df"))
        .agg(array_join(array_sort(collect_set(col("doc_id"))), ",")
          .as("postings"))
        .orderBy(col("gram"))
    },

    "g16_weighted_pagerank" -> { (s, dir) =>
      // similarity-WEIGHTED PageRank (Graph.weightedPageRank) — g1
      // with each edge's pull proportional to its t14 tf-idf score
      // instead of its existence: a doc tied to hubs by near-dup-
      // strength edges outranks one tied by single shared bigrams.
      // Same per-round shape as g1 (edges ⋈ ranks shuffle + one
      // map-combinable per-target sum; strength joined plain —
      // vertex-cardinality, never broadcast); contributions ≤ r(v)
      // route through decimal(28,18), so 3 unrolled rounds replay
      // bit-for-bit in the oracle. Uniform weights reduce BIT-FOR-BIT
      // to g1's operator (spec-pinned).
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
      val p = Dedup.persistPublic(tfidfPairsShared(s, dir)
        .select(col("doc_a"), col("doc_b"), col("score")))
      Graph.weightedPageRank(docs, p, iters = 3, damping = 0.85)
        .orderBy(col("doc_id"))
    },

    "g15_hyperball" -> { (s, dir) =>
      // HyperBall (Boldi & Vigna WSDM'13) over the t14 similarity
      // graph — the neighborhood/centrality estimator that actually
      // scales to a 100 TB web graph (g15p's exact BFS distance table
      // is O(V·reach) and dies on a giant component; the sketch is
      // O(V·m) forever). Gate face = the k8 discipline: per (doc_id,
      // round) REGISTER digests (sum + nonzero count) — the sketch
      // state is exact integers (md5 bucket, 33−bitlen rank, max-merge)
      // and DuckDB replays the full 4-round propagation; the float
      // estimator on top (Graph.harmonicCentralityHll) is spec-gated
      // against the exact twin, transcendentals never enter the
      // oracle. One edges ⋈ states shuffle + one register-max
      // aggregate per round, fixed-width binary states.
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
      // NOT persisted here: the Graph op caches the PARTITIONED edge
      // frame it derives, and an inner cache would defeat the outer
      // cache key's plan substitution (top-down, single pass); the
      // pairs side is a cheap pruned scan of the materialized index
      val p = tfidfPairsShared(s, dir).select(col("doc_a"), col("doc_b"))
      Graph.hyperBallDigests(docs, p, maxDist = 4, m = 64)
        .orderBy(col("doc_id"), col("t"))
    },

    "g15p_harmonic_exact" -> { (s, dir) =>
      // exact bounded-radius harmonic centrality — g15's ground truth
      // at gate scale: H(v) = Σ 1/d(v,u) over u within 4 hops, in
      // exact ppm (1000000 div d — integers end to end). Per round one
      // frontier ⋈ edges shuffle + one min-distance aggregate with
      // per-round lineage truncation; the oracle is DuckDB's recursive
      // BFS over the same pair CTE. The O(V·reach) distance table is
      // the documented reason the sketch form (g15) exists.
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
      // NOT persisted here: the Graph op caches the PARTITIONED edge
      // frame it derives, and an inner cache would defeat the outer
      // cache key's plan substitution (top-down, single pass); the
      // pairs side is a cheap pruned scan of the materialized index
      val p = tfidfPairsShared(s, dir).select(col("doc_a"), col("doc_b"))
      Graph.harmonicCentralityExact(docs, p, maxDist = 4)
        .orderBy(col("doc_id"))
    },

    "g1_pagerank" -> { (s, dir) =>
      // graph analytics over the document-similarity graph: 3 PageRank
      // iterations (damping 0.85) on the t14 tf-idf pair edges — the
      // centrality signal that separates boilerplate-hub documents from
      // the periphery. Each iteration is the standard distributed shape:
      // edges ⋈ ranks (shuffle on the SOURCE id) + one map-combinable
      // sum per target; N (1 row) broadcasts, the vertex-cardinality
      // degree frame joins PLAIN (co-partitioned with the edge
      // exchange — a broadcast hint there would OOM the driver on a
      // billion-vertex graph). Neighbor contributions
      // route through decimal so per-target sums are order-insensitive;
      // every division is a single double op — the whole 3-round fixpoint
      // is bit-exact against DuckDB's unrolled replay. (Deeper fixpoints
      // would add the d8 per-round checkpoint discipline; mass lost to
      // dangling nodes is the standard simplified form, documented.)
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
      // the pair subtree feeds all 3 iterations — persist so the tf-idf
      // index builds once (the d10 span-subtree discipline)
      // NOT persisted here: the Graph op caches the PARTITIONED edge
      // frame it derives, and an inner cache would defeat the outer
      // cache key's plan substitution (top-down, single pass); the
      // pairs side is a cheap pruned scan of the materialized index
      val p = tfidfPairsShared(s, dir).select(col("doc_a"), col("doc_b"))
      Graph.pageRank(docs, p, iters = 3, damping = 0.85)
        .orderBy(col("doc_id"))
    },

    "g5_ppr" -> { (s, dir) =>
      // personalized PageRank — seed-relative relevance over the
      // similarity graph: teleport mass returns to the SEED set (docs
      // ≡ 0 mod 25) instead of spreading uniformly, so rank concentrates
      // in the seeds' neighborhood — the "more docs like this set"
      // retrieval-expansion / corpus-slicing primitive g1's global
      // centrality can't express. Same unrolled-3-round, decimal-routed,
      // persisted-pair-index discipline as g1.
      val d = Tables.load(s, dir, "documents")
      val seeds = d.filter(col("doc_id") % 25 === 0).select(col("doc_id"))
      // NOT persisted here: the Graph op caches the PARTITIONED edge
      // frame it derives, and an inner cache would defeat the outer
      // cache key's plan substitution (top-down, single pass); the
      // pairs side is a cheap pruned scan of the materialized index
      val p = tfidfPairsShared(s, dir).select(col("doc_a"), col("doc_b"))
      Graph.personalizedPageRank(d.select(col("doc_id")), p, seeds,
        iters = 3, damping = 0.85)
        .orderBy(col("doc_id"))
    },

    "g8_pagerank_dangling" -> { (s, dir) =>
      // DIRECTED PageRank with dangling-mass redistribution — the
      // mass-conserving form g1's simplified symmetric variant omits.
      // Edges keep only the canonical doc_a → doc_b orientation, so
      // every doc never appearing as a source is a genuine sink; each
      // round the rank held by sinks (a decimal-routed ONE-ROW sum —
      // the only broadcast besides N) teleports back uniformly, so
      // total rank is exactly 1 at every round. 3 unrolled rounds,
      // bit-exact against DuckDB's replay.
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
      // NOT persisted here: the Graph op caches the PARTITIONED edge
      // frame it derives, and an inner cache would defeat the outer
      // cache key's plan substitution (top-down, single pass); the
      // pairs side is a cheap pruned scan of the materialized index
      val p = tfidfPairsShared(s, dir).select(col("doc_a"), col("doc_b"))
      Graph.pageRank(docs, p, iters = 3, damping = 0.85,
        symmetrize = false, dangling = true)
        .orderBy(col("doc_id"))
    },

    "g9_pagerank_fixpoint" -> { (s, dir) =>
      // the deep-fixpoint loop's fixed-round gate: pageRankConverged
      // with tol = 0 and maxIters = 3 runs exactly 3 rounds THROUGH
      // the checkpointed loop machinery (per-round d8 lineage
      // truncation, persisted edge/degree frames, the L1-delta
      // convergence probe) and must equal g8's unrolled replay
      // bit-for-bit — decimal-routed sums make every round partition-
      // and checkpoint-invariant, which is exactly what lets a real
      // corpus run the 20+-round fixpoint the unrolled form can't.
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
      // NOT persisted here: the Graph op caches the PARTITIONED edge
      // frame it derives, and an inner cache would defeat the outer
      // cache key's plan substitution (top-down, single pass); the
      // pairs side is a cheap pruned scan of the materialized index
      val p = tfidfPairsShared(s, dir).select(col("doc_a"), col("doc_b"))
      Graph.pageRankConverged(docs, p, tol = 0.0, maxIters = 3,
        damping = 0.85, symmetrize = false, dangling = true)
        .orderBy(col("doc_id"))
    },

    "g10_hits" -> { (s, dir) =>
      // HITS hubs/authorities over the DIRECTED t14 pair set (doc_a →
      // doc_b, the canonical orientation) — the two-sided centrality
      // g1's single PageRank score can't express: hubs point at many
      // good authorities, authorities are pointed at by many good
      // hubs. Two unrolled a = Aᵀh / h = A·a rounds, unnormalized so
      // every score is an exact BIGINT sum (per-round normalization
      // only rescales the ranking — documented in Graph.hits); pair
      // subtree persisted (each round scans the edges twice — the g1
      // discipline), no vertex-cardinality broadcast anywhere.
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
      // NOT persisted here: the Graph op caches the PARTITIONED edge
      // frame it derives, and an inner cache would defeat the outer
      // cache key's plan substitution (top-down, single pass); the
      // pairs side is a cheap pruned scan of the materialized index
      val p = tfidfPairsShared(s, dir).select(col("doc_a"), col("doc_b"))
      Graph.hits(docs, p, iters = 2)
        .orderBy(col("doc_id"))
    },

    "g2_triangle_count" -> { (s, dir) =>
      // per-document triangle count over the t14 similarity graph — the
      // local-clustering signal (a doc inside a dense clique of mutually
      // similar docs is template/boilerplate material; a bridge doc is
      // not). Compact-forward shape: orient every undirected edge from
      // the (degree, id)-SMALLER endpoint to the larger, so each
      // triangle is enumerated exactly once at its lowest-rank vertex
      // and wedge fan-out per vertex is bounded by O(√m) out-degree —
      // the standard skew bound that survives hub nodes at 100 TB.
      // Wedges are an equi self-join on the wedge center; closure is a
      // semi-style equi join back onto the oriented edge set. All
      // counts are exact integers — bit-exact by construction.
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
      Graph.triangleCounts(docs, tfidfPairsShared(s, dir))
        .orderBy(col("doc_id"))
    },

    "g3_label_prop" -> { (s, dir) =>
      // semi-supervised labeling over the similarity graph — the graph
      // counterpart of v6's embedding kNN vote: 10% of docs seed their
      // true lang (the labeled-subset regime), two propagation rounds
      // spread plurality labels along t14 edges. Each round = one
      // edges ⋈ labels shuffle + an exact-count aggregate; the argmax
      // is min(struct(-cnt, label)) — total order, no window, no
      // per-vertex sort — so the whole fixpoint replays exactly in the
      // unrolled oracle. Pair subtree persisted (the g1 discipline).
      val d = Tables.load(s, dir, "documents")
      val seeds = d.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("lang").as("label"))
      // NOT persisted here: the Graph op caches the PARTITIONED edge
      // frame it derives, and an inner cache would defeat the outer
      // cache key's plan substitution (top-down, single pass); the
      // pairs side is a cheap pruned scan of the materialized index
      val p = tfidfPairsShared(s, dir).select(col("doc_a"), col("doc_b"))
      Graph.labelPropagate(d.select(col("doc_id")), p, seeds, iters = 2)
        .select(col("doc_id"),
          coalesce(col("label"), lit("unlabeled")).as("label"))
        .orderBy(col("doc_id"))
    },

    "t14_tfidf_simjoin" -> { (s, dir) =>
      // sparse lexical similarity join — the inverted-index counterpart
      // to the embedding ANN family: score(a,b) = Σ_shared-grams
      // tf_a·tf_b·w², w = N/df (a reciprocal-df weight; one
      // integer division so it is bit-exact without transcendentals).
      // Pair generation is the postings SELF-join on the df-banded
      // mid-frequency grams only (2 ≤ df ≤ 25) — the standard df-cap
      // discipline: a stop-phrase's quadratic fan-out is filtered at the
      // tiny O(vocab) frame before any posting materializes, so per-gram
      // pair counts are bounded by df² at any corpus size. Partial
      // products combine map-side into the (a,b) sum; the double
      // products route through decimal so the gate is exact (the
      // v3/d7 discipline).
      tfidfPairsShared(s, dir).orderBy(col("doc_a"), col("doc_b"))
    },

    "t17_topk_similar" -> { (s, dir) =>
      // per-document k-most-similar serving view: symmetrize the t14
      // pair set and keep the 3 best neighbors per doc through the
      // two-phase TopKPerKey operator (partial per-partition heaps →
      // one ≤ k-rows-per-(partition × key) shuffle → final heaps — the
      // s4/a1 discipline; a window row_number would materialize every
      // doc's full neighbor list in one task). Scores are the t14
      // decimal-routed doubles (bit-identical cross-engine), so the
      // (score desc, nbr asc) total order replays exactly.
      val p = tfidfPairsShared(s, dir)
      val sym = p.select(col("doc_a").as("doc_id"), col("doc_b").as("nbr"),
          col("score"))
        .union(p.select(col("doc_b").as("doc_id"), col("doc_a").as("nbr"),
          col("score")))
      graft.plans.TopKPerKey(sym, Seq(col("doc_id")),
          Seq(col("score").desc, col("nbr").asc), 3)
        .orderBy(col("doc_id"), col("rank"))
    },

    "s5_negative_sample" -> { (s, dir) =>
      // deterministic negative sampling — the contrastive-training data
      // op: for each anchor, 4 corpus items with a DIFFERENT label,
      // chosen by md5(anchor, candidate) order (uniform w.r.t. content,
      // identical on any engine/partitioning, no RNG — the s3/s4 md5
      // discipline). The anchor set broadcasts; candidate selection is
      // the TopKPerKey bounded heap per anchor, so the corpus is scanned
      // once and never sorted.
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"))
      val c = e.select(col("vec_id").as("cand_id"), col("label").as("clabel"))
      val pairs = c.join(broadcast(q), col("clabel") =!= col("qlabel"))
        .withColumn("h",
          md5(concat_ws("_", col("query_id"), col("cand_id")).cast("binary")))
      graft.plans.TopKPerKey(pairs, Seq(col("query_id")),
          Seq(col("h").asc, col("cand_id").asc), 4)
        .select(col("query_id"), col("cand_id"),
          col("clabel").as("neg_label"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },

    "t11_quantile_bucket" -> { (s, dir) =>
      // quantile-bucket assignment — applying t6's thresholds back to the
      // rows: every document gets its within-language length quartile
      // (the "drop the bottom quality decile per language" curation
      // shape). The threshold table is groups×3 rows, broadcast back, so
      // assignment is map-only — the naive ntile() window would instead
      // sort every language's rows in one task. Thresholds and
      // comparisons are integral ⇒ bucket edges are engine-exact.
      Tables.registerAll(s, dir)
      val th = s.sql(
        """SELECT lang,
          |  CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS q25,
          |  CAST(percentile_disc(0.5)  WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS q50,
          |  CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS q75
          |FROM documents GROUP BY lang""".stripMargin)
      bucketedDocsShared(s, dir)
        .join(broadcast(th), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          when(col("n_chars") <= col("q25"), 0)
            .when(col("n_chars") <= col("q50"), 1)
            .when(col("n_chars") <= col("q75"), 2)
            .otherwise(3).cast("int").as("bucket"))
        .orderBy(col("doc_id"))
    },

    "k2_quantile_sketch" -> { (s, dir) =>
      // t6's quartiles through the MERGEABLE sketch instead of exact
      // percentile_disc. Exact percentile sorts every group — at 100 TB
      // that is a full per-group sort+spill; the sketch keeps a bounded
      // buffer with map-side partials and an associative merge, the same
      // state shape as any hash aggregate. capacity=4096 ≥ every gate/bench
      // group, so HERE it is in its exact regime and must match DuckDB's
      // quantile_disc bit-for-bit (the k1 KMV discipline: gate the exact
      // regime, spec the error band beyond it).
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT lang,
          |  CAST(graft_quantile_sketch(length(text), 0.25, 4096) AS BIGINT) AS q25,
          |  CAST(graft_quantile_sketch(length(text), 0.5,  4096) AS BIGINT) AS q50,
          |  CAST(graft_quantile_sketch(length(text), 0.75, 4096) AS BIGINT) AS q75,
          |  count(*) AS n_docs
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)
    },

    "p2_sequence_packing" -> { (s, dir) =>
      // pretraining sequence packing in the concat-then-chunk model: per
      // language, documents concatenate in doc_id order and split at
      // context-window boundaries (2048 tokens); seq_no is the window each
      // document STARTS in. The per-language running sum goes through the
      // Layout.groupedRunningSum two-level prefix sum (local cumsum within
      // (lang, doc_id-bucket), O(buckets) exclusive offsets broadcast
      // back) — a plain partitionBy(lang) window would sort the dominant
      // language (60%+ of a real crawl) in ONE task at 100 TB. Long
      // addition is associative, so the recomposition is bit-identical to
      // the single-window form the DuckDB oracle replays, and
      // deterministic under any partitioning because (lang, doc_id) is
      // total.
      val d = bucketedDocsShared(s, dir)
      val st = call_function("graft_text_stats", col("text"))
      Layout.groupedRunningSum(
          d.select(col("doc_id"), col("lang"),
            st.getField("n_tokens").as("ntok")),
          col("lang"), col("doc_id"), col("ntok"), "cum")
        .withColumn("seq_no",
          floor((col("cum") - col("ntok")).cast("double") / 2048.0).cast("long"))
        .select(col("doc_id"), col("lang"), col("ntok"), col("seq_no"))
        .orderBy(col("doc_id"))
    },

    "p3_sequence_chunks" -> { (s, dir) =>
      // full chunk emission for the concat-then-chunk packing model (p2
      // labels only the window each document STARTS in): one row per
      // (document × context window it overlaps) with the in-document token
      // offset and length of that chunk — the form a training loader
      // consumes. Same two-level prefix-sum running sum as p2 (no window
      // ever partitions on lang alone — the skewed-key single-task sort);
      // the chunk explode is per-document arithmetic over `sequence`, no
      // extra wide stage. A document spanning w windows emits w rows;
      // zero-token documents emit none.
      val d = bucketedDocsShared(s, dir)
      val st = call_function("graft_text_stats", col("text"))
      val win = 2048L
      Layout.groupedRunningSum(
          d.select(col("doc_id"), col("lang"),
            st.getField("n_tokens").as("ntok")),
          col("lang"), col("doc_id"), col("ntok"), "cum")
        .withColumn("strt", col("cum") - col("ntok"))
        .filter(col("ntok") > 0)
        .select(col("doc_id"), col("lang"), col("strt"), col("cum"),
          explode(sequence(
            floor(col("strt") / win).cast("long"),
            floor((col("cum") - 1) / win).cast("long"))).as("seq_no"))
        .withColumn("cs", greatest(col("strt"), col("seq_no") * win))
        .withColumn("ce", least(col("cum"), (col("seq_no") + lit(1L)) * win))
        .select(col("doc_id"), col("lang"), col("seq_no"),
          (col("cs") - col("strt")).cast("long").as("chunk_offset"),
          (col("ce") - col("cs")).cast("long").as("chunk_len"))
        .orderBy(col("doc_id"), col("seq_no"))
    },

    "t24_vocab_growth" -> { (s, dir) =>
      // vocabulary growth curve (the Heaps'-law measurement behind
      // every frequency-floor / broadcast-bound decision in this
      // library): cumulative distinct-BIGRAM count at 10 equal corpus
      // checkpoints (bigrams, not unigrams — the synthetic generator's
      // unigram vocabulary saturates in the first bucket, while the
      // bigram curve keeps growing, which is exactly the Heaps shape
      // the floors defend against). Each gram reduces to its FIRST
      // document (one map-combinable min per gram — never a cumulative
      // distinct over documents), first-docs bucket to their
      // checkpoint arithmetically, and the cumulative sum runs over
      // the 10-row checkpoint frame. Exact integers end to end.
      val wnd = org.apache.spark.sql.expressions.Window
      // BUCKETED corpus (r19): the bigram explode is the whole cost and
      // runs over the 32-bucket scan (r16: 52.4 s serial against a
      // one-split layout; loadFanned fixed that with a text exchange,
      // the bucketed scan fixes it with none)
      val d = bucketedDocsShared(s, dir)
      val n = d.agg(max(col("doc_id")).as("max_id"))
      val first = d.select(col("doc_id"), explode(TextFunctions
          .wordShingles(TextFunctions.tokens(col("text")), 2)).as("w"))
        .groupBy(col("w")).agg(min(col("doc_id")).as("first_doc"))
      first.crossJoin(broadcast(n))
        .select(expr(
          "least(first_doc div ((max_id + 10) div 10), 9) + 1").as("cp"))
        .groupBy(col("cp")).agg(count(lit(1)).as("new_tokens"))
        .withColumn("vocab_size",
          sum(col("new_tokens")).over(wnd.orderBy(col("cp"))))
        .orderBy(col("cp"))
    },

    "t25_langid_confusion" -> { (s, dir) =>
      // language-ID confusion matrix — the EVALUATION harness for the
      // t3 heuristic against the corpus's labeled lang column: exact
      // (true, predicted) counts plus each cell's ppm share, the
      // artifact that says WHERE the classifier fails before anyone
      // trusts t3-gated routing (x13 budgets, s2 mixes). One map-only
      // pass through the fused graft_text_stats kernel, one
      // map-combinable O(langs²) aggregate, a 1-row total broadcast,
      // one scaled integer division.
      val d = bucketedDocsShared(s, dir)
      val pred = d.select(col("lang").as("true_lang"),
        call_function("graft_text_stats", col("text"))
          .getField("lang").as("pred_lang"))
      val tot = pred.agg(count(lit(1)).as("n_total"))
      pred.groupBy(col("true_lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(tot))
        .select(col("true_lang"), col("pred_lang"), col("n_docs"),
          expr("(1000000 * n_docs) div n_total").as("share_ppm"))
        .orderBy(col("true_lang"), col("pred_lang"))
    },

    "t26_blocklist" -> { (s, dir) =>
      // blocklist filtering (the LDNOOBW-style bad-word gate every
      // web-scale curation pipeline runs first): per doc, the count of
      // token occurrences hitting a fixed blocklist, the blocked
      // fraction in exact ppm, and the keep/drop verdict at a 5%
      // threshold. The list rides as an ARRAY LITERAL inside one
      // codegen'd `filter` lambda — map-only, zero shuffles, zero
      // joins, whole-stage-codegen end to end; a list too big to
      // inline (100k+ terms) would switch to the c3 discipline
      // (driver-built Bloom broadcast + exact re-verify), same
      // per-row cost. Integer divisions only — bit-exact.
      val blocklist = Seq("dup", "spam", "junk", "noise")
      val d = bucketedDocsShared(s, dir)
      val bl = array(blocklist.map(lit): _*)
      d.select(col("doc_id"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"),
          size(filter(TextFunctions.tokens(col("text")),
            t => array_contains(bl, t))).cast("long").as("n_blocked"))
        .filter(col("n_tokens") > 0)
        .withColumn("blocked_ppm",
          expr("(1000000 * n_blocked) div n_tokens"))
        .withColumn("keep", col("blocked_ppm") < 50000)
        .orderBy(col("doc_id"))
    },

    "t27_secret_scrub" -> { (s, dir) =>
      // frequency-gated secret redaction (Privacy.secretScrub) — the
      // k-anonymity scrub t10's regexes cannot express: a digit-bearing
      // token is redacted iff it appears in < 3 distinct documents
      // corpus-wide, so shared codes survive and one-off keys die. The
      // synthetic corpus carries no secrets, so each doc plants one
      // SHARED pin (doc_id % 37 → ~13 docs each at 500 docs, clears
      // k = 3 and survives) and one UNIQUE key (12-digit doc_id pad,
      // df = 1, redacted) — no RNG, identical strings on both engines;
      // natural digit-run tokens in the text participate live under the
      // same gate. Only candidate tokens shuffle; the rewrite is a
      // map-side transform against the per-doc rare array.
      // BUCKETED corpus (r19, guide §2.4): the rare-set join-back keys
      // on doc_id; the planted projection preserves the bucketed scan's
      // partitioning, so the token side never exchanges (the plain scan
      // + shuffle_hash pin exchanged it per pass).
      val d = bucketedDocsShared(s, dir)
      val id = col("doc_id").cast("string")
      val planted = concat(
        lit("pin"), lpad((col("doc_id") % 37).cast("string"), 4, "0"),
        lit(" key"), lpad(id, 12, "0"), lit(" "), col("text"))
      graft.operators.Privacy.secretScrub(
          d.select(col("doc_id"), planted.as("text")), k = 3)
        .orderBy(col("doc_id"))
    },

    "s11_dedup_discount" -> { (s, dir) =>
      // duplicate-discounted sampling weights — the training-mix rule
      // that keeps s1/s7's samplers from oversampling duplicated
      // content WITHOUT dropping it (the soft alternative to d1's hard
      // dedup, standard in web-corpus mixes): each doc weighs
      // 1/n_copies of its exact-duplicate cluster, so every distinct
      // text contributes total weight 1 no matter how often it was
      // crawled. One md5-fingerprint window (the d1 shuffle — 128-bit
      // keys, bodies never move); the weight is one scaled integer
      // division, bit-exact.
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
      bucketedDocsShared(s, dir)
        .select(col("doc_id"), md5(col("text")).as("fp"))
        .select(col("doc_id"), count(lit(1)).over(w).as("n_copies"))
        .withColumn("weight_ppm", expr("1000000 div n_copies"))
        .orderBy(col("doc_id"))
    },

    "x18_manifest_diff" -> { (s, dir) =>
      // incremental manifest delta — what a training loader re-plans
      // after a corpus refresh: per-shard doc/token deltas between the
      // BASE snapshot (doc_id % 4 != 0, the x4/t20 convention) and the
      // refreshed full corpus. Shards are x14's content-independent
      // md5 buckets, so a refresh only ADDS to a shard — no document
      // ever migrates and the delta is exactly the new docs'. Two
      // map-combinable manifest aggregates (one corpus scan each, the
      // x14 body shared), then an O(shards) join — exact longs.
      val d = bucketedDocsShared(s, dir)
      val base = graft.operators.Stats
        .shardManifest(d.filter(col("doc_id") % 4 =!= 0))
        .select(col("shard"), col("n_docs").as("base_docs"),
          col("n_tokens").as("base_tokens"))
      val full = graft.operators.Stats.shardManifest(d)
        .select(col("shard"), col("n_docs").as("full_docs"),
          col("n_tokens").as("full_tokens"))
      full.join(base, Seq("shard"), "left")
        .select(col("shard"),
          coalesce(col("base_docs"), lit(0L)).as("base_docs"),
          col("full_docs"),
          (col("full_docs") - coalesce(col("base_docs"), lit(0L)))
            .as("d_docs"),
          (col("full_tokens") - coalesce(col("base_tokens"), lit(0L)))
            .as("d_tokens"))
        .orderBy(col("shard"))
    },

    "x17_source_scorecard" -> { (s, dir) =>
      // per-source scorecard — the governance rollup a crawl-source
      // review reads: doc/token totals plus exact-ppm rates for
      // duplication (non-representatives of d1 fingerprint clusters),
      // language-label disagreement (t3's prediction vs the labeled
      // lang), and under-length docs. All flags compute in ONE corpus
      // pass (the d1 fp window is the only row-scale shuffle), then
      // one map-combinable O(sources) aggregate — integers end to end.
      val d = bucketedDocsShared(s, dir)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
      val st = call_function("graft_text_stats", col("text"))
      val base = d.select(col("doc_id"), col("source"), col("lang"),
          md5(col("text")).as("fp"),
          st.getField("n_tokens").cast("long").as("ntok"),
          st.getField("lang").as("pred"))
        .withColumn("is_dup", min(col("doc_id")).over(w) =!= col("doc_id"))
      base.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("n_tokens"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"),
          sum(when(col("pred") =!= col("lang"), 1L).otherwise(0L))
            .as("n_mismatch"),
          sum(when(col("ntok") < 40, 1L).otherwise(0L)).as("n_short"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          expr("(1000000 * n_dup) div n_docs").as("dup_ppm"),
          expr("(1000000 * n_mismatch) div n_docs").as("mismatch_ppm"),
          expr("(1000000 * n_short) div n_docs").as("short_ppm"))
        .orderBy(col("source"))
    },

    "x16_curation_funnel" -> { (s, dir) =>
      // curation-funnel report — per-stage survival of docs AND tokens
      // through the standard gate sequence (ingest → exact-dedup →
      // length floor → blocklist), the governance artifact that tells
      // you WHERE the corpus shrinks before a 100 TB run commits to a
      // recipe. Flags for all stages compute in ONE pass over the
      // corpus (the only shuffle is d1's md5-fingerprint window for
      // the dedup flag); survival is a cumulative AND, so each stage's
      // counts are conditional sums in a single aggregate, unpivoted
      // to 4 rows with stack. No silent caps: stage 1 IS the
      // unconditional total.
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
      val bl = array(Seq("dup", "spam", "junk", "noise").map(lit): _*)
      val flagged = bucketedDocsShared(s, dir)
        .select(col("doc_id"), md5(col("text")).as("fp"),
          TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tok"),
          size(filter(col("toks"), t => array_contains(bl, t)))
            .cast("long").as("n_blk"),
          (min(col("doc_id")).over(w) === col("doc_id")).as("is_rep"))
        .select(col("n_tok"),
          col("is_rep").as("f2"),
          (col("is_rep") && col("n_tok") >= 40).as("f3"),
          (col("is_rep") && col("n_tok") >= 40 &&
            expr("(1000000 * n_blk) div n_tok") < 50000).as("f4"))
      flagged.agg(
          count(lit(1)).as("d1"), sum(col("n_tok")).as("t1"),
          sum(when(col("f2"), 1L).otherwise(0L)).as("d2"),
          sum(when(col("f2"), col("n_tok")).otherwise(0L)).as("t2"),
          sum(when(col("f3"), 1L).otherwise(0L)).as("d3"),
          sum(when(col("f3"), col("n_tok")).otherwise(0L)).as("t3"),
          sum(when(col("f4"), 1L).otherwise(0L)).as("d4"),
          sum(when(col("f4"), col("n_tok")).otherwise(0L)).as("t4"))
        .select(expr(
          """stack(4,
            |  1, 'ingest',    d1, t1,
            |  2, 'dedup',     d2, t2,
            |  3, 'length',    d3, t3,
            |  4, 'blocklist', d4, t4) AS (stage_no, stage, n_docs, n_tokens)
            |""".stripMargin))
        .orderBy(col("stage_no"))
    },

    "x15_global_ids" -> { (s, dir) =>
      // contiguous global example ids over a GAPPY subset (the en
      // slice) in doc_id order — the dense-row-id primitive shard
      // manifests and negative-sampling index spaces need, produced
      // WITHOUT `row_number() OVER (ORDER BY ...)`'s single-partition
      // window: value-derived buckets (width 64 here so sf0.01 already
      // exercises ~80 buckets), one count per bucket, an exclusive
      // prefix sum over the O(B) bucket frame only, and a per-BUCKET
      // row_number whose task frames are bounded by the bucket width
      // at any corpus size. See operators/Layout.globalIds.
      val d = bucketedDocsShared(s, dir)
        .filter(col("lang") === "en")
        .select(col("doc_id"))
      graft.operators.Layout.globalIds(d, col("doc_id"), bucketWidth = 64L)
        .orderBy(col("doc_id"))
    },

    "x13_budget_waterfill" -> { (s, dir) =>
      // cap-aware token-budget allocation (water-filling) — the
      // scheduling rule s8's largest-remainder can't express: a
      // language cannot contribute more tokens than it HAS, so capped
      // languages saturate and their unused share redistributes to the
      // others. Two unrolled rounds (the g1/g4 fixed-round discipline):
      // round 1 gives everyone min(n_i, B div k); round 2 splits the
      // leftover min(remaining capacity, leftover div k2) among the
      // unsaturated. All integer divisions; the residual after round 2
      // is reported, not hidden (no silent cap — the x8 discipline).
      // One corpus-sized count; every window runs on the O(langs)
      // frame.
      val wnd = org.apache.spark.sql.expressions.Window
      val d = bucketedDocsShared(s, dir)
      val counts = d.select(col("lang"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy(col("lang")).agg(sum(col("n_tok")).as("cap"))
      val base = counts
        .withColumn("total", sum(col("cap")).over(wnd.partitionBy()))
        .withColumn("k", count(lit(1)).over(wnd.partitionBy()))
        .withColumn("budget", expr("total div 2"))
        .withColumn("a1", least(col("cap"), expr("budget div k")))
      val r2 = base
        .withColumn("left1",
          col("budget") - sum(col("a1")).over(wnd.partitionBy()))
        .withColumn("k2", sum(when(col("cap") > col("a1"), 1L)
          .otherwise(0L)).over(wnd.partitionBy()))
        .withColumn("a2", when(col("cap") > col("a1"),
            least(col("cap") - col("a1"), expr("left1 div k2")))
          .otherwise(lit(0L)))
      r2.withColumn("alloc", col("a1") + col("a2"))
        .withColumn("residual",
          col("budget") - sum(col("alloc")).over(wnd.partitionBy()))
        .select(col("lang"), col("cap"), col("alloc"), col("residual"))
        .orderBy(col("lang"))
    },

    "s9_hard_negatives" -> { (s, dir) =>
      // hard-negative mining — the contrastive-training companion to
      // s5's random negatives: for each query embedding, the 3 most
      // COSINE-SIMILAR vectors with a DIFFERENT label (the negatives
      // that actually move a contrastive loss; random negatives are
      // mostly trivial). Reuses the a1 machinery: broadcast queries,
      // fused codegen'd cosine, label filter BEFORE the bounded-heap
      // TopKPerKey — never a per-query sort, and the corpus is scanned
      // once.
      val e = Tables.load(s, dir, "embeddings")
      val queries = broadcast(e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("label").as("qlabel")))
      val scored = e
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
          col("label").as("nlabel"))
        .crossJoin(queries)
        .filter(col("neighbor_id") =!= col("query_id") &&
          col("nlabel") =!= col("qlabel"))
        .select(col("query_id"), col("neighbor_id"), col("nlabel"),
          Similarity.cosine(col("qv"), col("cv")).as("sim"))
      graft.plans.TopKPerKey(scored, Seq(col("query_id")),
          Seq(col("sim").desc, col("neighbor_id").asc), 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("nlabel"), col("sim"))
        .orderBy(col("query_id"), col("rank"))
    },

    "c11_char_decon" -> { (s, dir) =>
      // CHAR-granular decontamination surgery
      // (Decontaminate.charOverlapExcise) — d24's excision pointed at
      // the eval set: corpus char positions covered by a 40-char
      // window appearing verbatim in the eval docs (doc_id % 10 = 7,
      // the c-series planted-eval convention) excise; documents are
      // kept. Catches eval strings hiding inside URLs/code/unsegmented
      // text that c9/c10's token windows cannot see. Eval windows
      // broadcast as RAW strings (benchmark-sized by contract —
      // collision-freedom by construction); the oracle replays the
      // same raw-string membership.
      // BUCKETED corpus (r19, guide §2.4): the char-cover aggregate and
      // the rebuild join-back key on doc_id — the bucketed scan's
      // partitioning serves both, where the plain scan + shuffle_hash
      // pin exchanged the corpus text side per pass. The 32-bucket
      // layout also clears the explode-kernel parallelism floor that
      // loadFanned existed for.
      val d = bucketedDocsShared(s, dir)
      Decontaminate.charOverlapExcise(
          d.filter(col("doc_id") % 10 =!= 7),
          d.filter(col("doc_id") % 10 === 7), n = 40)
        .orderBy(col("doc_id"))
    },

    "c9_contam_spans" -> { (s, dir) =>
      // contamination LOCALIZATION — c1 says "this doc is contaminated";
      // c9 says WHERE, so a pipeline can excise the leaked span and keep
      // the rest of the document (the span-surgery alternative to
      // dropping whole docs). One row per (corpus doc, token position)
      // whose 8-gram starting there appears verbatim in the eval set.
      // Scale shape = c1's: the corpus streams against the BROADCAST
      // distinct eval gram set (the eval side is benchmark-sized by
      // contract); the gate joins RAW gram strings (collision-freedom
      // pinned, the c1/d13 discipline).
      val d = bucketedDocsShared(s, dir)
      val toks = d.select(col("doc_id"),
        TextFunctions.tokens(col("text")).as("toks"))
      def grams(df: DataFrame) = df.filter(size(col("toks")) >= 8)
        .select(col("doc_id"),
          posexplode(TextFunctions.wordShingles(col("toks"), 8)))
        .select(col("doc_id"), (col("pos") + 1).as("pos"),
          col("col").as("g"))
      val evalG = grams(toks.filter(col("doc_id") % 10 === 7))
        .select(col("g")).distinct()
      grams(toks.filter(col("doc_id") % 10 =!= 7))
        .join(broadcast(evalG), Seq("g"), "left_semi")
        .select(col("doc_id"), col("pos"))
        .orderBy(col("doc_id"), col("pos"))
    },

    "c10_span_excise" -> { (s, dir) =>
      // contamination SPAN SURGERY — the step c9 localizes for: excise
      // every token covered by a leaked eval 8-gram and keep the rest
      // of the document (vs c1's drop-the-doc). Same scale shape as
      // c1/c9: the corpus streams against the BROADCAST distinct eval
      // gram set; the only corpus shuffle is the (doc_id, pos) hit
      // list collapsing to a per-doc covered-position ARRAY (ints,
      // bounded by doc length — never text), which joins back on
      // doc_id and drives ONE map-side indexed-filter rebuild
      // (`filter(toks, (w, i) => …)` — order-preserving, no re-sort,
      // no collect). Uncontaminated docs pass through the left join
      // with an empty cover. Exact strings end to end.
      // BUCKETED corpus (r19, guide §2.4): the cover aggregate and the
      // cover join-back both key on doc_id, so the bucketed scan's
      // hashpartitioning(doc_id) serves both ends — against a plain
      // scan the shuffle_hash cover pin exchanged the heavy token side
      // AND the cover side every pass (4 Exchanges → 1, the orderBy).
      val d = bucketedDocsShared(s, dir)
      val toks = d.select(col("doc_id"),
        TextFunctions.tokens(col("text")).as("toks"))
      def grams(df: DataFrame) = df.filter(size(col("toks")) >= 8)
        .select(col("doc_id"),
          posexplode(TextFunctions.wordShingles(col("toks"), 8)))
        .select(col("doc_id"), (col("pos") + 1).as("pos"),
          col("col").as("g"))
      val evalG = grams(toks.filter(col("doc_id") % 10 === 7))
        .select(col("g")).distinct()
      val corpus = toks.filter(col("doc_id") % 10 =!= 7)
      val covers = grams(corpus)
        .join(broadcast(evalG), Seq("g"), "left_semi")
        .select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + 7)).as("i"))
        .groupBy(col("doc_id"))
        .agg(collect_set(col("i")).as("cov"))
      corpus.join(covers.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          filter(col("toks"), (_, i) => !coalesce(
            array_contains(col("cov"), i + 1), lit(false))).as("kept"))
        .select(col("doc_id"), col("n_tokens"),
          (col("n_tokens") - size(col("kept"))).cast("long").as("n_removed"),
          array_join(col("kept"), " ").as("clean_text"))
        .orderBy(col("doc_id"))
    },

    "g14_incremental_pairs" -> { (s, dir) =>
      // INCREMENTAL similarity-graph maintenance — the missing member
      // of the index-maintenance family (d17/d19/d22 dedup, a9 IVF,
      // v12 PQ; this one keeps the t14 pair graph that g1-g13 serve
      // from current between refits): a new drop's edges INTO the base
      // are computed against the persisted base POSTINGS index
      // (tfidf_postings — gram, doc_id, tf, w with base df band and
      // base weights) without re-running the base×base build. Drop tf
      // computes map-side per doc; ONE gram-keyed equi join against the
      // df-banded postings (the t14 fan-out discipline — df ≤ 25 bounds
      // per-gram postings, so candidate fan-out ∝ drop size); per-pair
      // terms replay t14's exact multiplication order and decimal-route
      // the sum. Frozen-index approximation documented: drop grams
      // weight by the BASE's df/N (df drift accrues to the next refit —
      // the a9/d19 contract), and drop×drop edges are deferred to that
      // refit too. Output: (base_id, drop_id, n_shared, score).
      val d = bucketedDocsShared(s, dir)
      Dedup.incrementalTfidfPairs(
          d.filter(col("doc_id") % 4 === 0), tfidfPostingsShared(s, dir))
        .orderBy(col("base_id"), col("drop_id"))
    },

    "g12_degree_hist" -> { (s, dir) =>
      // degree distribution of the similarity graph — the graph-health
      // governance d18 gives dedup clusters: a heavy tail says hub
      // documents (templates/boilerplate) dominate the pair budget and
      // the d13/t13 posting caps are load-bearing, a thin one says the
      // df band is doing its job. One map-combinable degree aggregate
      // over the persisted pair index, then an O(max degree) rollup —
      // exact longs, output bounded by the largest degree.
      val pairs = tfidfPairsShared(s, dir).select(col("doc_a"), col("doc_b"))
      pairs.select(col("doc_a").as("v"))
        .union(pairs.select(col("doc_b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n_vertices"))
        .orderBy(col("deg"))
    },

    "g11_louvain_move" -> { (s, dir) =>
      // Louvain-style greedy merge round (Blondel et al. 2008, the
      // singleton-start local move) — the community DETECTION step g7
      // only measures: from the all-singletons partition, each vertex
      // joins the neighbor whose pairwise merge yields the largest
      // positive modularity delta. For two singletons u,v with one
      // edge, ΔQ = (2m − deg_u·deg_v) / 2m² — sign and argmax depend
      // only on the INTEGER numerator 2m − deg_u·deg_v, so the whole
      // round is exact BIGINT arithmetic (ties → smallest neighbor id
      // via struct-min, the labelPropagate discipline). Synchronous
      // and replayable; one shuffle for degrees, one for the
      // edge⋈degree scores, no vertex-cardinality broadcast (the g1
      // discipline — m is the only broadcast, one row).
      val pairs = tfidfPairsShared(s, dir).select(col("doc_a"), col("doc_b"))
      Graph.louvainMove(
          Tables.load(s, dir, "documents").select(col("doc_id")), pairs)
        .orderBy(col("doc_id"))
    },

    "g13_louvain_levels" -> { (s, dir) =>
      // FULL multi-level Louvain (Blondel et al. 2008's pipeline shape)
      // over the similarity graph — the community-detection fixpoint g11
      // takes one step of: per level, score every coarse edge by the
      // exact integer ΔQ numerator 2m·w_AB − D_A·D_B, accept the MUTUAL
      // best pairs with positive gain (matching-based agglomeration —
      // the conflict-free synchronous subset of the local move), coarsen
      // by summing parallel edges, and report g7's modularity formula
      // against the level's labels: (lvl, n_comms, l_in, q_ppm). Q is
      // non-decreasing by construction (disjoint merges sum their ΔQ).
      // Each level runs the BOUNDED MULTI-MOVE inner loop (Blondel's
      // move-to-convergence, matching-formulated): up to 2 mutual-match
      // rounds per level with an early stop when a round accepts no
      // positive pair — closing the one-round blind spot where A's best
      // is B while B's best is C. Deterministic end to end (struct-min
      // ties, integer division), replayable by a generated 2-level ×
      // 2-move unrolled DuckDB oracle (no-op rounds replay identically,
      // so the fixed unroll equals the early-stopping loop); labels
      // persisted per move (the d8 lineage discipline), score products
      // routed through decimal(38,0) for 100 TB edge-count headroom.
      val pairs = tfidfPairsShared(s, dir).select(col("doc_a"), col("doc_b"))
      Graph.louvainLevels(
        Tables.load(s, dir, "documents").select(col("doc_id")), pairs,
        levels = 2, movesPerLevel = 2)
    },

    "g7_modularity" -> { (s, dir) =>
      // partition modularity of the similarity graph against the LANG
      // labels — the assortativity measure ("do similarity edges stay
      // within a language?") that validates a community structure:
      // Q_c = L_c/m − (D_c/2m)², emitted per community as exact scaled
      // terms (one integer division each; in_ppm − exp_ppm = the
      // community's modularity contribution). Edges are the persisted
      // t14 pair index; degrees one map-combinable count. Long headroom:
      // 1e6·D_c² needs D_c < 3e6 (≈ sf1) — beyond that route the square
      // through decimal(38,0) (the t19 discipline).
      val pairs = tfidfPairsShared(s, dir).select(col("doc_a"), col("doc_b"))
      val lang = bucketedDocsShared(s, dir)
        .select(col("doc_id"), col("lang"))
      val m = pairs.agg(count(lit(1)).as("m"))
      val lin = pairs
        .join(lang.select(col("doc_id").as("doc_a"), col("lang").as("la")),
          Seq("doc_a"))
        .join(lang.select(col("doc_id").as("doc_b"), col("lang").as("lb")),
          Seq("doc_b"))
        .filter(col("la") === col("lb"))
        .groupBy(col("la").as("lang")).agg(count(lit(1)).as("l_in"))
      val deg = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id")))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
      val dsum = deg.join(lang, Seq("doc_id"))
        .groupBy(col("lang")).agg(sum(col("deg")).as("d_sum"))
      dsum.join(lin, Seq("lang"), "left").crossJoin(broadcast(m))
        .select(col("lang"), coalesce(col("l_in"), lit(0L)).as("l_in"),
          col("d_sum"), col("m"))
        .select(col("lang"), col("l_in"), col("d_sum"),
          expr("(1000000 * l_in) div m").as("in_ppm"),
          expr("(1000000 * d_sum * d_sum) div (4 * m * m)").as("exp_ppm"))
        .withColumn("q_term_ppm", col("in_ppm") - col("exp_ppm"))
        .orderBy(col("lang"))
    },

    "p5_pad_waste" -> { (s, dir) =>
      // padding-waste report for length-bucketed batching — the
      // throughput question a training loader asks BEFORE picking its
      // bucket boundaries: pad every doc to the next power-of-2 token
      // cap (floor 32) and report, per bucket, how many tokens are
      // real vs padding. Bucket = 2^len(bin(n−1)) — pure integer bit
      // arithmetic both engines share (no log2, whose exactness at
      // powers of two is libm-dependent); one map-only pass into one
      // map-combinable aggregate, O(buckets) output at any corpus
      // size; zero-token docs are excluded up front (nothing to pad).
      val d = bucketedDocsShared(s, dir)
      val st = call_function("graft_text_stats", col("text"))
      d.select(st.getField("n_tokens").cast("long").as("ntok"))
        .filter(col("ntok") > 0)
        .withColumn("cap", greatest(lit(32L),
          expr("cast(power(2, length(bin(ntok - 1))) as bigint)")))
        .groupBy(col("cap"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("n_tokens"),
          sum(col("cap") - col("ntok")).as("pad_tokens"))
        .withColumn("waste_ppm",
          expr("(1000000 * pad_tokens) div (n_tokens + pad_tokens)"))
        .orderBy(col("cap"))
    },

    "p4_chunk_overlap" -> { (s, dir) =>
      // sliding-window chunking with overlap — the RAG / long-context
      // chunker (width 64 tokens, stride 48 ⇒ 16-token overlap): every
      // token is covered and consecutive chunks share the overlap so no
      // boundary context is lost. Starts run 1, 49, … while
      // s ≤ max(1, n − overlap); the final chunk truncates at the doc
      // end. Pure per-doc arithmetic over `sequence` — no shuffle
      // beyond the final order. Each chunk ships its md5 fingerprint so
      // downstream chunk-level dedup joins fixed-width keys, never
      // chunk text (the d1 bodies-never-move discipline).
      val width = 64
      val stride = 48
      val d = bucketedDocsShared(s, dir)
      d.select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          size(col("toks")).cast("long").as("n"))
        .filter(col("n") > 0)
        .select(col("doc_id"), col("toks"), col("n"),
          explode(sequence(lit(1L),
            greatest(lit(1L), col("n") - (width - stride)),
            lit(stride.toLong))).as("start"))
        .select(col("doc_id"),
          expr(s"(start - 1) div $stride").as("chunk_no"),
          col("start"),
          least(lit(width.toLong), col("n") - col("start") + 1)
            .as("chunk_len"),
          md5(concat_ws(" ",
            slice(col("toks"), col("start").cast("int"), lit(width))))
            .as("fp"))
        .orderBy(col("doc_id"), col("start"))
    },

    "t8_top_tokens" -> { (s, dir) =>
      // per-language top-5 vocabulary: corpus-stat query through the
      // custom bounded-heap TopKPerKey operator (not a window sort) — at
      // scale the per-language token-count set is huge and a full sort per
      // partition key is exactly what the operator exists to avoid. Total
      // order (cnt desc, tok asc) keeps ties deterministic for the oracle.
      val d = bucketedDocsShared(s, dir)
      val counts = d
        .select(col("lang"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
      graft.plans.TopKPerKey(counts,
        Seq(col("lang")), Seq(col("cnt").desc, col("tok").asc), 5)
        .orderBy(col("lang"), col("rank"))
    },

    "k4_sketch_cube" -> { (s, dir) =>
      // the sketch-CUBE pattern: per-(lang, shard) KMV and quantile STATES
      // (the binary column a daily pipeline would persist), then a rollup
      // per lang by MERGING states — the corpus is aggregated once; every
      // later report is O(states). Both sketches sit in their exact regime
      // here (per-lang rows ≤ capacity), so the merged answers must equal
      // DuckDB's exact count(DISTINCT) and quantile_disc bit-for-bit —
      // gating the state serialization, the merge path, and the estimates
      // in one query.
      val d = bucketedDocsShared(s, dir)
      val states = d
        .withColumn("shard", (col("doc_id") % 4).cast("int"))
        .groupBy(col("lang"), col("shard"))
        .agg(
          call_function("graft_kmv_state", col("text"), lit(4096)).as("ks"),
          call_function("graft_quantile_state",
            length(col("text")), lit(4096)).as("qs"))
      states.groupBy(col("lang"))
        .agg(
          call_function("graft_kmv_merge", col("ks"), lit(4096))
            .as("n_distinct"),
          call_function("graft_quantile_merge", col("qs"), lit(0.5), lit(4096))
            .cast("long").as("med_len"))
        .orderBy(col("lang"))
    },

    "j1_json_extract" -> { (s, dir) =>
      // schema-based JSON parsing — the complement of e3_events_json
      // (which gates the path-string get_json_object route): from_json
      // with a DDL schema parses once into a typed struct (the shape a
      // pipeline uses when it reads MANY fields — one parse, not one per
      // path), and sum_k2 must agree with the path route's sum_k
      // bit-for-bit. n_missing pins missing-key semantics: absent keys
      // yield NULL, not errors, on both engines.
      val ev = Tables.load(s, dir, "events")
      val parsed = ev.select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k LONG"))
          .getField("k").as("k2"),
        get_json_object(col("props"), "$.absent").as("absent"))
      parsed.groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          sum(col("k2")).as("sum_k2"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"),
          count(col("absent")).as("n_missing"))
        .orderBy(col("event_type"))
    },

    "k7_join_card" -> { (s, dir) =>
      // join-cardinality estimation from sketches alone — the AMS/CMS
      // inner product: |orders ⋈ lineitem on orderkey| ≈ min over depth
      // rows of the bucket-wise counter dot product. Each table is
      // sketched in ONE map-combinable pass into a 4×65536 grid (the
      // 2 MB width a planner would size for ~15k keys: estimate lands
      // within ~25% of truth, with residual collisions keeping est >
      // true strictly); the estimate reads the two states — the inputs
      // never meet, the shape a cost-based planner needs before
      // committing a 100 TB shuffle. The gate stays exact at any width
      // because the oracle replays the identical integer math (the k6
      // discipline). true_join_rows pins the ≥ contract.
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("string").as("k"))
      val l = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").cast("string").as("k"))
      val sa = o.agg(call_function("graft_cms_state",
        col("k"), lit(4), lit(65536)).as("sa"))
      val sb = l.agg(call_function("graft_cms_state",
        col("k"), lit(4), lit(65536)).as("sb"))
      val truth = o.join(l, Seq("k")).agg(count(lit(1)).as("true_join_rows"))
      sa.crossJoin(sb)
        .select(call_function("graft_cms_inner", col("sa"), col("sb"))
          .as("est_join_rows"))
        .crossJoin(truth)
    },

    "k6_cms" -> { (s, dir) =>
      // Count-Min frequency sketch, cube-shaped: per-shard CMS states
      // (the binary column a daily pipeline persists), element-wise
      // merged, then point-queried for every key. The 4×3 grid is
      // deliberately SMALLER than the key set so collisions are live and
      // the min-over-depths path does real work — the gate stays exact
      // anyway because the oracle replays the identical md5-bucket math
      // (bucket sums + min) as integer SQL in DuckDB. est ≥ n_true is the
      // sketch's one-sided contract; both columns are gated.
      val ev = Tables.load(s, dir, "events")
      val states = ev
        .withColumn("shard", (col("user_id") % 4).cast("int"))
        .groupBy(col("shard"))
        .agg(call_function("graft_cms_state",
          col("event_type"), lit(4), lit(3)).as("st"))
      val merged = states
        .agg(call_function("graft_cms_merge",
          col("st"), lit(4), lit(3)).as("st"))
      val truth = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_true"))
      truth.crossJoin(broadcast(merged))
        .select(col("event_type"),
          call_function("graft_cms_query", col("st"), col("event_type"))
            .as("est"),
          col("n_true"))
        .orderBy(col("event_type"))
    },

    "k8_hll" -> { (s, dir) =>
      // HyperLogLog distinct users per event type, cube-shaped like k6:
      // per-shard register states (the 68-byte binary column a daily
      // pipeline persists), max-merged, then the full m=64 register
      // GRID dumped — the actual sketch state, integers all the way
      // down, so DuckDB replays bucket (md5 mod m) and rank
      // (33 − bitlen) exactly and the gate pins update + merge +
      // serialization at any m. The float estimator on top is
      // spec-gated (HllSpec error band) — transcendentals never enter
      // an oracle.
      val ev = Tables.load(s, dir, "events")
      val states = ev
        .withColumn("shard", (col("user_id") % 4).cast("int"))
        .groupBy(col("event_type"), col("shard"))
        .agg(call_function("graft_hll_state",
          col("user_id").cast("string"), lit(64)).as("st"))
      states
        .groupBy(col("event_type"))
        .agg(call_function("graft_hll_merge", col("st"), lit(64)).as("st"))
        .select(col("event_type"),
          posexplode(call_function("graft_hll_registers", col("st")))
            .as(Seq("bucket", "register")))
        .orderBy(col("event_type"), col("bucket"))
    },

    "k5_sketch_setops" -> { (s, dir) =>
      // KMV set algebra [Beyer et al., SIGMOD'07]: per-language bigram
      // vocabularies are sketched ONCE into ~8 KB states, then every
      // pairwise union/intersection cardinality — the corpus-overlap
      // matrix a mixture-design pass wants — is computed from the state
      // TABLE alone (25 tiny rows joined to themselves), never rescanning
      // the corpus. At 100 TB this is the only tractable shape: exact
      // pairwise overlap is a self-join of the full vocabulary per pair,
      // this is one aggregation pass + O(groups²) driver-scale work.
      // capacity=4096 ≥ the per-pair union here, so both estimates sit in
      // the sketches' exact regime and must equal DuckDB's exact set SQL
      // (the k1/k2/k3 exact-regime gate discipline).
      // BUCKETED corpus (r19): the explode kernel runs straight over
      // the 32-bucket scan — no round-robin text exchange
      val d = bucketedDocsShared(s, dir)
      val states = d
        .select(col("lang"), explode(
          TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 2))
          .as("gram"))
        .groupBy(col("lang"))
        .agg(call_function("graft_kmv_state", col("gram"), lit(4096)).as("st"))
      val a = states.select(col("lang").as("l1"), col("st").as("sa"))
      val b = states.select(col("lang").as("l2"), col("st").as("sb"))
      a.join(b, col("l1") < col("l2"))
        .select(col("l1"), col("l2"),
          call_function("graft_kmv_union", col("sa"), col("sb")).as("n_union"),
          call_function("graft_kmv_intersect", col("sa"), col("sb"))
            .as("n_intersect"))
        .orderBy(col("l1"), col("l2"))
    },

    "k3_heavy_hitters" -> { (s, dir) =>
      // t8's per-language top tokens through the bounded SpaceSaving
      // sketch. The exact form shuffles every distinct (lang, token)
      // count — correct, but the shuffle grows with the vocabulary; this
      // keeps O(capacity) state per language with map-side partials, so
      // only small buffers cross the wire at any vocabulary size.
      // capacity=4096 ≥ the corpus vocabulary here, so the sketch is in
      // its exact regime and must reproduce t8's counts bit-for-bit (the
      // k1/k2 discipline).
      val d = bucketedDocsShared(s, dir)
      d.select(col("lang"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("lang"))
        .agg(call_function("graft_heavy_hitters",
          col("tok"), lit(5), lit(4096)).as("hh"))
        .select(col("lang"), posexplode(col("hh")).as(Seq("i", "s")))
        .select(col("lang"), col("s.token").as("tok"), col("s.cnt").as("cnt"),
          (col("i") + 1).cast("int").as("rank"))
        .orderBy(col("lang"), col("rank"))
    },

    "d7_label_centroids" -> { (s, dir) =>
      // per-label embedding centroid — the k-means update step as a query:
      // posexplode to (label, dim, value), decimal-summed per cell so the
      // mean is partitioning-independent, flattened to scalar rows (one
      // per label × dimension) for the hash gate. At scale this is the
      // canonical two-level aggregate: map-side partial sums per (label,
      // dim), one shuffle of ~|labels|×dims rows.
      val e = Tables.load(s, dir, "embeddings")
      e.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg((sum(col("v").cast("double").cast("decimal(28,12)")).cast("double") /
          count(lit(1))).as("m"))
        .orderBy(col("label"), col("pos"))
    },

    "s1_weighted_sample" -> { (s, dir) =>
      // data mixing: per-language quality-weighted sample of 10 documents,
      // deterministic under any partitioning (hash-derived keys — no RNG),
      // exploded to one row per pick with its rank. Rows-only at the
      // driver gate (the hash-based selection is not DuckDB-expressible);
      // WeightedSampleSpec pins determinism, weight bias, and exactness.
      val d = bucketedDocsShared(s, dir)
      val st = call_function("graft_text_stats", col("text"))
      d.select(col("doc_id"), col("lang"),
          (st.getField("quality") + lit(0.01)).as("w"))
        .groupBy(col("lang"))
        .agg(call_function("graft_weighted_sample",
          col("doc_id"), col("w"), lit(10)).as("picks"))
        .select(col("lang"), posexplode(col("picks")).as(Seq("rank", "doc_id")))
        .orderBy(col("lang"), col("rank"))
    },

    "s1p_weighted_sample_exact" -> { (s, dir) =>
      // s1's A-Res sampler in its EXACT regime: k=4096 ≥ every per-lang
      // stratum at gate and bench SF, and sampling WITHOUT replacement
      // with k ≥ |stratum| must return every id — so the oracle is the
      // plain per-lang id list, and the hash gate pins the id→uniform
      // hashing, weight filter, bounded heap, buffer serialization, and
      // merge path (the k1/k2/k3 exact-regime discipline applied to the
      // one sampling component whose ranked s1 output is not
      // SQL-expressible). The selection ORDER is hash-derived, so ranks
      // are dropped and rows re-sorted by id for the compare.
      val d = bucketedDocsShared(s, dir)
      val st = call_function("graft_text_stats", col("text"))
      d.select(col("doc_id"), col("lang"),
          (st.getField("quality") + lit(0.01)).as("w"))
        .groupBy(col("lang"))
        .agg(call_function("graft_weighted_sample",
          col("doc_id"), col("w"), lit(4096)).as("picks"))
        .select(col("lang"), explode(col("picks")).as("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    },

    "s13_mixture_manifest" -> { (s, dir) =>
      // the mixture MATERIALIZED: s8's temperature apportionment
      // (p_i ∝ √n_i, Hamilton largest-remainder, budget B = 1000)
      // turned into the actual per-source pick list a training run
      // consumes — for each source, its alloc_i documents in
      // deterministic md5 order (md5 is engine-shared, so unlike s1's
      // xxhash ranking this manifest is fully DuckDB-replayable; ties
      // by doc_id). Selection is the bounded-heap TopKPerKey at k = B
      // (alloc_i ≤ B by construction): the map-side partial heap caps
      // shuffle input at B rows per (partition × source) — no per-source
      // global sort, no skewed-source single-task window (the s4
      // discipline). The O(sources) alloc table broadcasts onto the
      // ranked rows; rank ≤ alloc_i trims each source to its seat
      // count. B is the TopKPerKey memory knob: a bigger budget at
      // 100 TB pairs the same machinery with a hash-threshold prefilter.
      val wnd = org.apache.spark.sql.expressions.Window
      val d = bucketedDocsShared(s, dir)
      val counts = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .select(col("source"), col("n_docs"),
          floor(sqrt(col("n_docs").cast("double"))).cast("long").as("wt"))
      val alloc = counts
        .withColumn("wtot", sum(col("wt")).over(wnd.partitionBy()))
        .select(col("source"),
          expr("(1000 * wt) div wtot").as("base_n"),
          expr("(1000 * wt) % wtot").as("rem"))
        .withColumn("leftover",
          lit(1000L) - sum(col("base_n")).over(wnd.partitionBy()))
        .withColumn("rk", row_number().over(
          wnd.orderBy(col("rem").desc, col("source"))))
        .select(col("source"),
          (col("base_n") +
            when(col("rk") <= col("leftover"), 1L).otherwise(0L))
            .as("alloc"))
      val hashed = d.select(col("source"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("h"))
      graft.plans.TopKPerKey(hashed, Seq(col("source")),
          Seq(col("h").asc, col("doc_id").asc), k = 1000)
        .join(broadcast(alloc), Seq("source"))
        .filter(col("rank") <= col("alloc"))
        .select(col("source"), col("rank").cast("long").as("rank"),
          col("doc_id"))
        .orderBy(col("source"), col("rank"))
    },

    "s15_curriculum_manifests" -> { (s, dir) =>
      // the CURRICULUM MATERIALIZED — s14's epoch-annealed quotas
      // (B = 1000 here) turned into the per-epoch pick lists a training
      // loader consumes, through s13's machinery: ONE md5-ordered
      // ranking per source (TopKPerKey bounded heap at k = B, shared by
      // all epochs) trimmed to each epoch's quota. Sharing the ranking
      // makes the manifests PREFIX-STABLE across epochs (spec-pinned):
      // when a source's quota grows from epoch e to e', epoch e's picks
      // are exactly a prefix of e''s — the loader property that lets a
      // curriculum switch epochs without reshuffling its shards. Fully
      // DuckDB-replayable (md5 order, integer apportionments); one
      // corpus count + one corpus ranking pass, everything else on
      // O(sources × E) frames.
      val wnd = org.apache.spark.sql.expressions.Window
      val d = bucketedDocsShared(s, dir)
      val counts = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      def hamilton(wt: org.apache.spark.sql.Column, out: String) =
        counts.select(col("source"), wt.as("wt"))
          .withColumn("wtot", sum(col("wt")).over(wnd.partitionBy()))
          .select(col("source"),
            expr("(1000 * wt) div wtot").as("base_n"),
            expr("(1000 * wt) % wtot").as("rem"))
          .withColumn("leftover",
            lit(1000L) - sum(col("base_n")).over(wnd.partitionBy()))
          .withColumn("rk", row_number().over(
            wnd.orderBy(col("rem").desc, col("source"))))
          .select(col("source"),
            (col("base_n") +
              when(col("rk") <= col("leftover"), 1L).otherwise(0L))
              .as(out))
      val qt = hamilton(
        floor(sqrt(col("n_docs").cast("double"))).cast("long"), "q_temp")
      val qp = hamilton(col("n_docs"), "q_prop")
      val we = org.apache.spark.sql.expressions.Window
        .partitionBy(col("epoch"))
      val quotas = qt.join(qp, Seq("source"))
        .crossJoin(s.range(0, 4).select(col("id").as("epoch")))
        .select(col("epoch"), col("source"),
          ((lit(3L) - col("epoch")) * col("q_temp") +
            col("epoch") * col("q_prop")).as("rr"))
        .select(col("epoch"), col("source"),
          expr("rr div 3").as("base_n"), expr("rr % 3").as("rem"))
        .withColumn("leftover", lit(1000L) - sum(col("base_n")).over(we))
        .withColumn("rk", row_number().over(
          we.orderBy(col("rem").desc, col("source"))))
        .select(col("epoch"), col("source"),
          (col("base_n") +
            when(col("rk") <= col("leftover"), 1L).otherwise(0L))
            .as("quota"))
      val hashed = d.select(col("source"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("h"))
      graft.plans.TopKPerKey(hashed, Seq(col("source")),
          Seq(col("h").asc, col("doc_id").asc), k = 1000)
        .join(broadcast(quotas), Seq("source"))
        .filter(col("rank") <= col("quota"))
        .select(col("epoch"), col("source"),
          col("rank").cast("long").as("rank"), col("doc_id"))
        .orderBy(col("epoch"), col("source"), col("rank"))
    },

    "s16_curriculum_incremental" -> { (s, dir) =>
      // s15 served FROM A PERSISTED RANKING INDEX (the r16 lifecycle
      // story applied to the curriculum): the older snapshot's
      // per-source md5-ordered top-B heap state + per-source counts
      // ARE the store; the arriving drop (doc_id % 10 == 3) MERGES in
      // at cost ∝ index + drop (top-k of top-k(S) ∪ D = top-k(S ∪ D)
      // — exact, spec-pinned with the delete prefix contract and the
      // lifecycle roundtrip), and serving replays s15's quota
      // arithmetic from the store's O(sources) count rows — the
      // corpus is never re-ranked and never re-counted. The oracle is
      // s15's own row_number replay over the union (= the full
      // corpus), so hash-green proves merge-then-serve ≡
      // rebuild-then-serve end to end.
      import graft.operators.Curriculum
      val d = bucketedDocsShared(s, dir)
      // the stale ranking comes from the persisted bucketed store (the
      // d25/d25b discipline — last night's index is on disk), so this
      // lap measures merge + quota serve
      val merged = Curriculum.curriculumIndexMerge(
        curriculumOlderShared(s, dir), d.filter(col("doc_id") % 10 === 3))
      Curriculum.curriculumServe(merged)
    },

    "s2_mixture_weights" -> { (s, dir) =>
      // temperature-scaled data-mixing weights: w_lang = sqrt(token share)
      // (α = 0.5 upweights low-resource languages). Arithmetic chosen for
      // cross-engine bit-exactness: token counts are exact longs, the
      // share is one double division of identical longs, and sqrt is
      // IEEE-correctly-rounded in both engines. The final normalization
      // (w / Σw) is deliberately NOT done here — a 5-term double sum has
      // engine-dependent ordering; it is a trivial driver-side step.
      val d = bucketedDocsShared(s, dir)
      val st = call_function("graft_text_stats", col("text"))
      val perLang = d.select(col("lang"), st.getField("n_tokens").as("ntok"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("lang_tokens"))
      val total = perLang.agg(sum(col("lang_tokens")).as("total_tokens"))
      perLang.crossJoin(broadcast(total))
        .select(col("lang"), col("n_docs"), col("lang_tokens"),
          sqrt(col("lang_tokens").cast("double") / col("total_tokens").cast("double"))
            .as("w"))
        .orderBy(col("lang"))
    },

    "k1_sketch_distinct" -> { (s, dir) =>
      // KMV distinct sketch per language. k=1024 sits above the per-group
      // cardinality at the sf0.01 correctness gate, where KMV is exact by
      // construction (nothing evicted ⇒ the buffer IS the distinct set), so
      // the oracle is plain count(DISTINCT); the estimator regime (groups
      // larger than k) is exercised at bench SF and pinned by KmvSketchSpec
      // against exact counts and across partitionings.
      val d = bucketedDocsShared(s, dir)
      d.groupBy(col("lang"))
        .agg(
          call_function("graft_kmv_distinct", col("text"), lit(1024)).as("est_distinct"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("lang"))
    },

    // ---- multimodal plumbing -------------------------------------------
    // the oracle recomputes the expected metadata analytically from the
    // source row, so a broken encode→decode roundtrip hash-mismatches
    "m4_media_dedup" -> { (s, dir) =>
      // exact media dedup by content fingerprint — the first dedup pass
      // of any image/audio corpus: md5 the PAYLOAD SLICE of the blob
      // in place (substring on the binary column, codegen'd), so the
      // multi-MB blobs never shuffle — only (32-char fp, doc_id) rows
      // move, the d1 discipline on a binary column. Slicing past the
      // 16-byte container header dedups identical content re-wrapped in
      // different containers. The oracle recomputes the same md5 from
      // the payload's source text. The corpus's texts are all distinct,
      // so 50 copies are planted under shifted ids: their CONTAINER
      // header differs (dimensions derive from doc_id) but the payload
      // is identical — the pair the header-inclusive hash would miss,
      // keeping the dup path live-fire.
      val docs = bucketedDocsShared(s, dir)
      val copies = docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      val media = Multimodal.withFakeMedia(docs.unionByName(copies)).toDF()
      val fp = media.select(col("doc_id"),
        md5(expr("substring(media, 17, 2147483647)")).as("fp"))
      val groups = fp.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_copies"))
      fp.join(groups, Seq("fp"))
        .select(col("doc_id"), col("rep"), col("n_copies"),
          (col("doc_id") =!= col("rep")).cast("int").as("is_dup"))
        .orderBy(col("doc_id"))
    },

    "m6_audio_energy" -> { (s, dir) =>
      // audio feature-extraction PLUMBING — fixed-size framing plus
      // per-frame energy and zero-crossing rate, the two features every
      // audio curation gate starts from (silence/noise filtering, VAD
      // pre-screening). The DECODE step here is expression-level synth
      // (m7 below is the REAL-codec twin: genuine RIFF bytes through
      // the chunk-walking WAV parser in mapPartitions — the m2 imageio
      // discipline); this variant keeps the all-SQL-expressible shape:
      // the PCM synth is a deterministic md5 expansion (8 frames × 32
      // nibble samples per doc) that BOTH engines replay bit-for-bit.
      // Everything downstream of the stub — frame explode, per-frame
      // codegen'd fold for energy (Σs²), adjacent-pair scan for ZCR —
      // is the real Spark-side shape: map-only, one Generate, exact
      // BIGINTs, no shuffle before the final order.
      val d = bucketedDocsShared(s, dir).select(col("doc_id"))
      d.select(col("doc_id"),
          explode(sequence(lit(0L), lit(7L))).as("frame_no"))
        .withColumn("h", md5(concat_ws(":", col("doc_id"), col("frame_no"))))
        .withColumn("nib", expr(
          "transform(regexp_extract_all(h, '.', 0), " +
            "c -> cast(locate(c, '0123456789abcdef') as bigint) - 1)"))
        .select(col("doc_id"), col("frame_no"),
          expr("aggregate(nib, cast(0 as bigint), (acc, x) -> acc + x * x)")
            .as("energy"),
          expr("cast(size(filter(sequence(1, 31), " +
            "i -> (element_at(nib, i) < 8) != (element_at(nib, i + 1) < 8)))" +
            " as bigint)").as("zcr"))
        .orderBy(col("doc_id"), col("frame_no"))
    },

    "m7_wav_energy" -> { (s, dir) =>
      // REAL audio decode on the execution path — m6 with the stub
      // removed: each doc carries a genuine RIFF/WAV blob (canonical
      // header + fmt chunk + little-endian 16-bit PCM data), and the
      // feature pass decodes it through the magic-byte dispatch and
      // the chunk-walking WAV parser (operators/Multimodal.decodeWav)
      // inside mapPartitions — the m2 imageio discipline, audio
      // edition. Samples are the m6 md5 expansion mapped to real PCM
      // amplitudes ((nib−8)·256+128, negative exactly when nib<8), so
      // DuckDB replays the EXPECTED samples analytically while Spark
      // earns them by parsing actual WAV bytes: a broken header
      // layout, endianness, chunk walk, or sample decode hash-
      // mismatches the gate. Map-only end to end — blobs never
      // shuffle; only (doc_id, frame, 2 BIGINTs) rows move before the
      // final order.
      val d = bucketedDocsShared(s, dir)
      Multimodal.wavFrameFeatures(Multimodal.withFakeWav(d), frameLen = 32)
        .orderBy(col("doc_id"), col("frame_no"))
    },

    "m5_media_phash" -> { (s, dir) =>
      // perceptual near-dup media detection — what m4's exact
      // fingerprint can't see: a 64-bit average hash (aHash, the
      // classic pHash-family grid) over the payload's sample stream,
      // banded into 8×8-bit keys for an equi candidate join (the
      // d3/d4 LSH discipline — never all-pairs), verified by exact
      // Hamming distance ≤ 6 via bit_count(xor). 8 bands, NOT d4's
      // 4×16: 6 differing bits can dirty at most 6 of 8 bands
      // (pigeonhole), so every pair the ≤ 6 verify accepts is
      // GUARANTEED to share a clean band — recall is structural at
      // the operator's own threshold, not best-effort. The trade: a
      // band now has only 256 distinct values, so expected random
      // collisions per band grow ~256× vs 16-bit bands — hence the
      // d13-style posting cap below: (band, bv) buckets holding more
      // than `m5BandCap` docs are dropped before the self-join (hot
      // 8-bit buckets are band-value coincidence, not evidence), which
      // bounds the candidate fan-out at cap²/2 per bucket × ≤2048
      // buckets at ANY corpus size. A corpus hot enough to trip the
      // cap everywhere has outgrown 8-bit banding and should serve
      // near-dup media via m4 exact fingerprints or d3 MinHash
      // instead. The cap is mirrored verbatim in the oracle, so the
      // gate compares identical semantics. The hash is the
      // codegen'd `graft_ahash` kernel over the payload SLICE decoded
      // in place (blobs never shuffle — only (doc_id, two longs)
      // rows); for GRFT media the samples are the payload's code
      // points, on real images the same grid runs over pixel lumas.
      // Planted variants keep both paths live: length-preserving
      // 4-char overlays (% 13 → small nonzero Hamming) and exact
      // copies (% 11 → Hamming 0).
      val docs = bucketedDocsShared(s, dir)
        .filter(length(col("text")) > 0)
      val variants = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(substring(col("text"), 1, 4), lit("zzzz"),
            expr("substring(text, 9, 2147483647)")).as("text"))
      val copies = docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 4000000L).as("doc_id"), col("text"))
      val media = Multimodal.withFakeMedia(
        docs.select(col("doc_id"), col("text"))
          .unionByName(variants).unionByName(copies)).toDF()
      val hashed = media.select(col("doc_id"),
          call_function("graft_ahash",
            expr("decode(substring(media, 17, 2147483647), 'UTF-8')")).as("h"))
        .select(col("doc_id"), col("h")(0).as("hi"), col("h")(1).as("lo"))
      val banded = hashed.select(col("doc_id"), col("hi"), col("lo"),
        explode(array(
          struct(lit(0).as("band"), (col("hi") % 256).as("bv")),
          struct(lit(1).as("band"), expr("(hi div 256) % 256").as("bv")),
          struct(lit(2).as("band"), expr("(hi div 65536) % 256").as("bv")),
          struct(lit(3).as("band"), expr("hi div 16777216").as("bv")),
          struct(lit(4).as("band"), (col("lo") % 256).as("bv")),
          struct(lit(5).as("band"), expr("(lo div 256) % 256").as("bv")),
          struct(lit(6).as("band"), expr("(lo div 65536) % 256").as("bv")),
          struct(lit(7).as("band"), expr("lo div 16777216").as("bv"))))
          .as("bk"))
        .select(col("doc_id"), col("hi"), col("lo"),
          col("bk.band").as("band"), col("bk.bv").as("bv"))
      // (band, bv) has ≤ 2048 distinct values — the count frame is
      // O(1)-bounded and broadcastable at any corpus size.
      val m5BandCap = 4096L
      val bandN = banded.groupBy(col("band"), col("bv"))
        .agg(count(lit(1)).as("bn"))
        .filter(col("bn") <= m5BandCap)
        .select(col("band"), col("bv"))
      val capped = banded.join(broadcast(bandN), Seq("band", "bv"))
      val cand = capped.as("a").join(capped.as("b"),
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"),
          col("a.hi").as("hia"), col("a.lo").as("loa"),
          col("b.hi").as("hib"), col("b.lo").as("lob"))
        .distinct()
      cand.select(col("a"), col("b"),
          expr("bit_count(hia ^ hib) + bit_count(loa ^ lob)").as("hamming"))
        .filter(col("hamming") <= 6)
        .orderBy(col("a"), col("b"))
    },

    "m1_multimodal_meta" -> { (s, dir) =>
      val media = Multimodal.withFakeMedia(bucketedDocsShared(s, dir))
      Multimodal.decodeMeta(media).toDF()
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("n_channels"), col("n_bytes"))
        .orderBy(col("doc_id"))
    },

    "m3_media_resize" -> { (s, dir) =>
      // resize → decode roundtrip; the oracle recomputes the expected
      // post-resize metadata analytically, so broken re-encoding or
      // dimension handling hash-mismatches
      val media = Multimodal.withFakeMedia(bucketedDocsShared(s, dir))
      Multimodal.decodeMeta(Multimodal.resize(media, newW = 8, newH = 8)).toDF()
        .select(col("doc_id"), col("width"), col("height"),
          col("n_channels"), col("n_bytes"))
        .orderBy(col("doc_id"))
    },

    "m2_media_frames" -> { (s, dir) =>
      val media = Multimodal.withFakeMedia(bucketedDocsShared(s, dir))
      Multimodal.sampleFrames(media, frameSize = 64, stride = 4)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"))
        .orderBy(col("doc_id"))
    },

    // ---- repetition / split / frequency scoring / quantization ---------

    "t7_word_counts" -> { (s, dir) =>
      // the tokenizer-fit's distributed stage (Tokenizer.wordCounts): the
      // frequency-capped word vocabulary, deterministic under the
      // (count desc, word) total order. orderBy+limit compiles to
      // TakeOrderedAndProject — per-partition top-n, no global sort — so
      // the cap costs O(cap) memory per partition at any corpus size.
      graft.operators.Tokenizer
        .wordCounts(bucketedDocsShared(s, dir), "text", fitCap = 20)
        .orderBy(col("cnt").desc, col("word"))
    },

    "t9_repetition" -> { (s, dir) =>
      // Gopher-style repetition signals (top-token fraction, duplicate- and
      // top-bigram fractions) in ONE fused codegen'd pass per document
      // (`graft_rep_stats`, the t1 discipline — the composable
      // split/sort/fold form runs interpreted and re-tokenizes per signal).
      // Zero shuffle: at 100 TB this is a pure scan+project over documents,
      // embarrassingly parallel at any partition count. The DuckDB oracle
      // computes the same multiset statistics by a different algorithm
      // (unnest → GROUP BY), so a kernel bug hash-mismatches; all fractions
      // are a SINGLE division of exact integer counts, so the doubles are
      // bit-identical across engines.
      val d = bucketedDocsShared(s, dir)
      val r = call_function("graft_rep_stats", col("text"))
      d.select(
          col("doc_id"),
          r.getField("n_tokens").as("n_tokens"),
          r.getField("top_token_frac").as("top_token_frac"),
          r.getField("dup_bigram_frac").as("dup_bigram_frac"),
          r.getField("top_bigram_frac").as("top_bigram_frac"))
        .orderBy(col("doc_id"))
    },

    "t10_pii_redact" -> { (s, dir) =>
      // PII scrub under the hash gate: the synthetic corpus carries no PII,
      // so a deterministic planted column derives an email and a phone from
      // doc_id (no RNG — same string on every engine and run), runs the
      // production `redactPii` kernel, and the DuckDB twin replays the
      // identical regexp_replace chain. The patterns avoid
      // lookarounds/unicode classes by construction (the t5 discipline), so
      // Java and RE2 match identically; counts are taken on the planted
      // text in both engines. Map-only, zero shuffle.
      val d = bucketedDocsShared(s, dir)
      val id = col("doc_id").cast("string")
      val planted = concat(
        lit("Reach u"), id, lit(".test@mail-"), id,
        lit(".example.org or call +1 (555) 01"),
        lpad((col("doc_id") % 100).cast("string"), 2, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" now. "), col("text"))
      d.select(
          col("doc_id"),
          TextFunctions.redactPii(planted).as("redacted"),
          TextFunctions.emailCount(planted).as("n_emails"),
          TextFunctions.phoneCount(planted).as("n_phones"))
        .orderBy(col("doc_id"))
    },

    "s3_split_assign" -> { (s, dir) =>
      // deterministic train/val/test assignment from a stable,
      // content-independent key: bucket = first two hex chars of
      // md5(doc_id) → 0..255, then fixed bucket ranges (train < 245,
      // val < 250, test otherwise ⇒ ≈95.7% / 2.0% / 2.3%). Map-only — no
      // shuffle, no RNG, independent of partitioning and of corpus
      // content, so the split is reproducible across re-runs and across
      // engines (the property a training pipeline needs so later data
      // refreshes never migrate a document between splits).
      val d = bucketedDocsShared(s, dir)
      val bucket = TextFunctions.md5Bucket(col("doc_id"))
      d.select(
          col("doc_id"),
          bucket.as("bucket"),
          when(bucket < 245, lit("train"))
            .when(bucket < 250, lit("val"))
            .otherwise(lit("test")).as("split"))
        .orderBy(col("doc_id"))
    },

    "x21_split_leakage_neardup" -> { (s, dir) =>
      // NEAR-dup leakage across the train/val/test boundary — the
      // eval-integrity check c5's exact-fingerprint flags cannot see: a
      // paraphrased or lightly-edited copy of a training document
      // sitting in val/test inflates every benchmark it touches. A d8
      // near-dup component whose members land in MORE THAN ONE of s3's
      // deterministic splits is leaky, and every member is flagged
      // (train-side copies tell the curator what to drop; eval-side
      // copies what is compromised). Components come from the persisted
      // d8 closure (fit-once); the split is s3's md5-bucket assignment
      // (map-only, content-independent). One groupBy(rep)
      // distinct-split count + one join back — no window; the split
      // column is a 3-value domain, so the distinct is a bounded
      // per-group state.
      val bucket = TextFunctions.md5Bucket(col("doc_id"))
      Dedup.crossSplitLeakage(
          ccComponentsShared(s, dir),
          bucketedDocsShared(s, dir)
            .select(col("doc_id"),
              when(bucket < 245, lit("train"))
                .when(bucket < 250, lit("val"))
                .otherwise(lit("test")).as("split")))
        .orderBy(col("doc_id"))
    },

    "x14_shard_manifest" -> { (s, dir) =>
      // deterministic training-shard manifest — the handoff between
      // curation and the training job: every doc maps to
      // shard = md5-bucket(doc_id) % 16 (content-independent and stable
      // across data refreshes, the s3 split discipline — a later corpus
      // refresh never migrates a document between shards), and the
      // per-shard manifest row carries what a loader needs to plan:
      // doc/token/char totals and the id range. Map-only assignment +
      // ONE map-combinable aggregate; output is O(shards) at any corpus
      // size, all exact longs — bit-exact on any partitioning. ONE body
      // (operators.Stats.shardManifest) shared with the streaming twin.
      graft.operators.Stats.shardManifest(bucketedDocsShared(s, dir))
        .orderBy(col("shard"))
    },

    "t15_bigram_pred" -> { (s, dir) =>
      // bigram predictability — u1's conditional counterpart and the
      // cheap stand-in for model perplexity: per doc, the mean of
      // c(w1 w2)/c(w1) over its bigram occurrences (1.0 = every bigram
      // fully determined by its left token — templated/repetitive text;
      // near 0 = unpredictable). Both count tables are FREQUENCY-FLOORED
      // (≥ 2, the u1 Heaps'-law discipline) and broadcast; unseen
      // bigrams contribute 0. Each ratio is ONE division of exact longs
      // (bit-identical cross-engine), ratios route through decimal so
      // the per-doc sum is order-insensitive, and the final mean is one
      // more exact division — the whole gate is bit-exact.
      val d = bucketedDocsShared(s, dir)
      val toks = d.select(col("doc_id"),
        TextFunctions.tokens(col("text")).as("toks"))
      val uni = toks.select(explode(col("toks")).as("w1"))
        .groupBy(col("w1")).agg(count(lit(1)).as("cu"))
        .filter(col("cu") >= 2)
      val occ = toks.select(col("doc_id"), explode(
          TextFunctions.wordShingles(col("toks"), 2)).as("gram"))
        .select(col("doc_id"),
          substring_index(col("gram"), " ", 1).as("w1"),
          substring_index(col("gram"), " ", -1).as("w2"))
      val big = occ.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
        .filter(col("cb") >= 2)
      val scored = occ
        .join(broadcast(big), Seq("w1", "w2"), "left")
        .join(broadcast(uni), Seq("w1"), "left")
        .select(col("doc_id"),
          when(col("cb").isNotNull,
            col("cb").cast("double") / col("cu")).otherwise(lit(0.0))
            .cast("decimal(18,12)").as("r"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          (sum(col("r")).cast("double") / count(lit(1))).as("pred"))
      d.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("pred"), lit(0.0)).as("pred"))
        .orderBy(col("doc_id"))
    },

    "t28_quality_logit" -> { (s, dir) =>
      // learned quality filter under the ACTUAL loss: t16's ridge probe
      // refit as L2-regularized LOGISTIC regression by IRLS
      // (Probe.fitLogistic — 3 decimal-exact Newton steps over the same
      // fused text-stat features, each one weighted-Gram + gradient
      // aggregate and a 5×5 driver solve; lambda = 0.1 keeps the Newton
      // steps tame on a near-separable label). Weights persist as
      // parquet and the margin is the same transcendental-free
      // Σ CAST(f·w AS DECIMAL) scoring — thresholding the margin ≡
      // thresholding the probability (sigmoid is monotone), so the
      // model-as-data oracle replays the gate end to end exactly like
      // t16's (only the persisted model file differs — diff the two
      // margins to see what the loss choice buys).
      import s.implicits._
      val d = bucketedDocsShared(s, dir)
      val st = call_function("graft_text_stats", col("text"))
      val feats = d.select(col("doc_id"),
        array(lit(1.0),
          st.getField("n_tokens").cast("double"),
          st.getField("n_unique").cast("double"),
          st.getField("mean_tok_len"),
          st.getField("stop_ratio")).as("features"),
        when(st.getField("lang") === "en", lit(1.0))
          .otherwise(lit(0.0)).as("label"))
      val model = Probe.fitLogistic(feats, dim = 5, lambda = 0.1, iters = 3)
      model.weights.zipWithIndex.map { case (w, i) => (i, w) }.toSeq
        .toDF("idx", "w").coalesce(1).write.mode("overwrite")
        .parquet(s"${Tables.modelsDir(dir)}/probe_logit.parquet")
      feats.select(col("doc_id"), col("label"),
          Probe.margin(col("features"), model).as("margin"))
        .orderBy(col("doc_id"))
    },

    "t16_quality_probe" -> { (s, dir) =>
      // learned quality filter: a closed-form ridge probe fitted
      // in-engine on the fused text-stat features (intercept, n_tokens,
      // n_unique, mean_tok_len, stop_ratio) predicting the langid-is-en
      // indicator, then the whole corpus scored MAP-ONLY with the
      // fitted margin — the fastText-style filter pattern with the
      // model a first-class artifact. Fit = one decimal-exact Gram
      // aggregate + a 5×5 driver solve (Probe.fitRidge); weights
      // persist as parquet and the margin is Σ CAST(f·w AS DECIMAL)
      // from those exact doubles, so DuckDB replays the scoring
      // end-to-end (model-as-data, the v4p discipline). Thresholding
      // on the margin ≡ thresholding on the sigmoid probability
      // (monotone), so no transcendentals enter the gate.
      import s.implicits._
      val d = bucketedDocsShared(s, dir)
      val st = call_function("graft_text_stats", col("text"))
      val feats = d.select(col("doc_id"),
        array(lit(1.0),
          st.getField("n_tokens").cast("double"),
          st.getField("n_unique").cast("double"),
          st.getField("mean_tok_len"),
          st.getField("stop_ratio")).as("features"),
        when(st.getField("lang") === "en", lit(1.0))
          .otherwise(lit(0.0)).as("label"))
      val model = Probe.fitRidge(feats, dim = 5, lambda = 1e-3)
      model.weights.zipWithIndex.map { case (w, i) => (i, w) }.toSeq
        .toDF("idx", "w").coalesce(1).write.mode("overwrite")
        .parquet(s"${Tables.modelsDir(dir)}/probe_model.parquet")
      feats.select(col("doc_id"), col("label"),
          Probe.margin(col("features"), model).as("margin"))
        .orderBy(col("doc_id"))
    },

    "u1_token_surprisal" -> { (s, dir) =>
      // global-frequency scoring: a document's mean corpus-wide token
      // count — the cheap unigram-LM proxy for "how typical is this
      // document" that pipelines threshold on before spending model-based
      // perplexity. Two aggregations; the broadcast vocabulary is
      // FREQUENCY-FLOORED (count >= minTokenCount, default 2) because the
      // raw whitespace vocabulary of web text grows with the corpus
      // (Heaps' law — URLs, hashes, typos are mostly hapaxes), so
      // broadcasting it unfloored would OOM the driver at 100 TB. Tokens
      // below the floor score as count 1 via left-join + coalesce — at the
      // default floor of 2 that IS their exact count (a dropped token has
      // gc = 1), so the result is bit-identical to the unfloored query and
      // the DuckDB oracle needs no special-casing. Only (doc_id, count)
      // pairs shuffle for the per-document mean; the mean is one division
      // of an exact long sum, so doubles are bit-identical to DuckDB's.
      val d = bucketedDocsShared(s, dir)
      val minCount =
        s.conf.getOption("spark.graft.surprisal.minTokenCount").map(_.toInt).getOrElse(2)
      val tok = d.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val g = tok.groupBy(col("tok")).agg(count(lit(1)).as("gc"))
        .filter(col("gc") >= minCount)
      tok.join(broadcast(g), Seq("tok"), "left")
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_tokens"),
          (sum(coalesce(col("gc"), lit(1L))).cast("double") / count(lit(1)))
            .as("mean_token_count"))
        .orderBy(col("doc_id"))
    },

    "s4_stratified_sample" -> { (s, dir) =>
      // deterministic stratified sampling: 20 documents per language,
      // chosen by md5(doc_id) order — uniform w.r.t. content, identical
      // across engines, runs, and partitionings (no RNG, no partition
      // index). Routed through the TopKPerKey bounded-heap operator, so
      // the per-stratum selection is O(n log k) with NO full sort at any
      // corpus size; the DuckDB twin is a row_number window over the same
      // (md5, doc_id) total order.
      val d = bucketedDocsShared(s, dir)
      val keyed = d.select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string").cast("binary")).as("h"))
      graft.plans.TopKPerKey(keyed, Seq(col("lang")),
          Seq(col("h").asc, col("doc_id").asc), 20)
        .select(col("doc_id"), col("lang"), col("rank"))
        .orderBy(col("lang"), col("rank"))
    },

    "x2_source_zscore" -> { (s, dir) =>
      // per-group standardization WITHOUT a window: z-scoring a metric
      // within its source is the classic "normalize before mixing
      // corpora" step, and the naive window form
      // (avg/stddev OVER (PARTITION BY source)) materializes every
      // group's rows in one task — the biggest source OOMs the executor
      // at 100 TB. This shape is a tiny two-level aggregate (20 rows)
      // broadcast-joined back, so rows never co-locate by source at all.
      // Bit-exactness discipline: n_chars is integral, so sum and
      // sum-of-squares route through decimal (exact); mean, the
      // population variance ((sq - s*s/n)/n), sqrt, and the final z are
      // then identical IEEE double ops on both engines.
      val d = bucketedDocsShared(s, dir)
      val stats = d.groupBy(col("source"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("n_chars").cast("decimal(28,0)")).as("s"),
          sum((col("n_chars") * col("n_chars")).cast("decimal(28,0)")).as("sq"))
        .select(col("source"),
          (col("s").cast("double") / col("n")).as("mu"),
          sqrt((col("sq").cast("double") -
            col("s").cast("double") * col("s").cast("double") / col("n")) /
            col("n")).as("sigma"))
      d.join(broadcast(stats), Seq("source"))
        .select(col("doc_id"), col("source"), col("n_chars"), col("mu"),
          col("sigma"),
          ((col("n_chars") - col("mu")) / col("sigma")).as("z"))
        .orderBy(col("doc_id"))
    },

    "x6_latest_wins" -> { (s, dir) =>
      // CDC / changelog compaction: the current snapshot of a keyed
      // mutable table from its append-only event log — SCD-1 "latest
      // record wins" per (user_id, event_type), ordered by (ts, event_id).
      // The scalable shape is max(struct(ord..., payload...)) — ONE
      // map-combinable aggregate (each partition reduces to one candidate
      // row per key before the shuffle), NOT row_number() OVER, which
      // materializes every key's full history in one task and dies on a
      // hot key at 100 TB. The struct max's lexicographic order is total
      // (event_id is unique within a key), so the winner is deterministic
      // and the DuckDB window replay agrees exactly.
      val e = Tables.load(s, dir, "events")
      e.groupBy(col("user_id"), col("event_type"))
        .agg(
          count(lit(1)).as("n_versions"),
          max(struct(col("ts"), col("event_id"), col("value"), col("props")))
            .as("w"))
        .select(col("user_id"), col("event_type"), col("n_versions"),
          col("w.ts").as("ts"), col("w.event_id").as("event_id"),
          col("w.value").as("value"), col("w.props").as("props"))
        .orderBy(col("user_id"), col("event_type"))
    },

    "x23_retention_sweep" -> { (s, dir) =>
      // retention/TTL sweep report (Privacy.retentionSweep) — the
      // SCHEDULED counterpart to the d23 takedown: per source, how much
      // of the corpus is past its retention policy as of the audit day,
      // and the oldest surviving ingest day. The corpus carries no
      // timestamp, so ingest_day derives deterministically (doc_id %
      // 360, the x4 planted-attribute convention) and the policy frame
      // derives per source from the source string (60 + 45·(len % 5)
      // days) — no RNG, both engines replay it; production passes its
      // real ingest column and policy table. The expiry SET (the
      // delete-path input) is the same machinery filtered
      // (Privacy.retentionExpiry, spec-gated + TVF front door); this
      // report is one broadcast policy join + one map-combinable
      // O(sources) aggregate.
      val d = bucketedDocsShared(s, dir)
      val docs = d.select(col("doc_id"), col("source"),
        (col("doc_id") % 360).cast("long").as("ingest_day"))
      val policy = d.select(col("source")).distinct()
        .select(col("source"),
          (lit(60L) + lit(45L) * (length(col("source")) % 5).cast("long"))
            .as("retention_days"))
      graft.operators.Privacy.retentionSweep(docs, policy, asOfDay = 359L)
        .orderBy(col("source"))
    },

    "x5_probe_auc" -> { (s, dir) =>
      // did the learned filter rank well? Exact tie-aware ROC-AUC of the
      // t16 probe margin against its label, via Stats.rankSumAuc — the
      // distributed prefix-sum shape (hash-reduce to distinct scores →
      // range partition → O(partitions) driver offsets → per-range
      // window), never `row_number() OVER (ORDER BY margin)`'s
      // single-task global sort. Everything up to the final division is
      // integer math (u2 is the DOUBLED Mann-Whitney U, so tie halves
      // stay integral); the margins group consistently across engines
      // because the t16 gate already pins them bit-for-bit from the
      // persisted model (saved here too — self-contained).
      import s.implicits._
      val d = bucketedDocsShared(s, dir)
      val st = call_function("graft_text_stats", col("text"))
      val feats = d.select(col("doc_id"),
        array(lit(1.0),
          st.getField("n_tokens").cast("double"),
          st.getField("n_unique").cast("double"),
          st.getField("mean_tok_len"),
          st.getField("stop_ratio")).as("features"),
        when(st.getField("lang") === "en", lit(1.0))
          .otherwise(lit(0.0)).as("label"))
      val model = Probe.fitRidge(feats, dim = 5, lambda = 1e-3)
      model.weights.zipWithIndex.map { case (w, i) => (i, w) }.toSeq
        .toDF("idx", "w").coalesce(1).write.mode("overwrite")
        .parquet(s"${Tables.modelsDir(dir)}/probe_model.parquet")
      val scored = feats.select(col("label"),
        Probe.margin(col("features"), model).as("margin"))
      graft.operators.Stats.rankSumAuc(scored, col("margin"), col("label"))
    },

    "x3_zorder" -> { (s, dir) =>
      // z-order layout audit: Morton-interleave the two filter dimensions
      // a scan would prune on (partkey × suppkey), then report per
      // z-range-bucket row counts and tight z min/max — exactly the
      // row-group statistics a z-sorted parquet write would expose to
      // min/max pruning. The interleave is a codegen'd kernel
      // (ZOrderInterleave); the aggregation is one map-combinable pass.
      // The actual layout step (repartitionByRange on z + local sort) is
      // LayoutExprFunctions.zorderLayout, property-gated in LayoutSpec —
      // this query gates the kernel bit-for-bit against unrolled SQL bit
      // math in DuckDB.
      val l = Tables.load(s, dir, "lineitem")
      val z = call_function("graft_zorder",
        (col("l_partkey") % 65536).cast("int"),
        (col("l_suppkey") % 65536).cast("int"))
      l.select(z.as("z"))
        .groupBy(shiftright(col("z"), 12).as("bucket"))
        .agg(count(lit(1)).as("n"), min(col("z")).as("zmin"),
          max(col("z")).as("zmax"))
        .orderBy(col("bucket"))
    },

    "x4_corpus_diff" -> { (s, dir) =>
      // snapshot delta — the daily-crawl versioning primitive: diff two
      // corpus versions into added/removed/changed/unchanged WITHOUT
      // moving document bodies: each side reduces to (doc_id, fp =
      // md5(text)) map-side, the full-outer join shuffles only those
      // ~48-byte rows, and statuses fall out of null/fingerprint
      // comparison. The "previous snapshot" is derived deterministically
      // from the current table so every status is live and the oracle
      // replays it: docs ≡0 (mod 17) are absent from prev (→ added),
      // docs ≡0 (mod 7) had different text (→ changed), phantom ids
      // +1000000 for ≡0 (mod 23) exist only in prev (→ removed).
      val d = bucketedDocsShared(s, dir)
      val currFp = d.select(col("doc_id"), md5(col("text")).as("fp"))
      val prevFp = d.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v1")))
            .otherwise(col("text"))).as("fp"))
        .union(d.filter(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            md5(col("text")).as("fp")))
      currFp.as("c").join(prevFp.as("p"),
          col("c.doc_id") === col("p.doc_id"), "full_outer")
        .select(
          coalesce(col("c.doc_id"), col("p.doc_id")).as("doc_id"),
          when(col("p.fp").isNull, lit("added"))
            .when(col("c.fp").isNull, lit("removed"))
            .when(col("c.fp") =!= col("p.fp"), lit("changed"))
            .otherwise(lit("unchanged")).as("status"))
        .orderBy(col("doc_id"))
    },

    "x1_profile" -> { (s, dir) =>
      // data profiling — the pre-flight a pipeline runs on a new drop:
      // per-group row count, key cardinality, value and date ranges. One
      // map-combinable aggregation pass (distinct via its standard
      // two-level expansion), no row ever leaves its partition except the
      // tiny per-group partials.
      val o = Tables.load(s, dir, "orders")
      o.groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("o_custkey")).as("n_custkeys"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          min(col("o_orderdate")).as("min_date"),
          max(col("o_orderdate")).as("max_date"))
        .orderBy(col("o_orderstatus"))
    },

    "v2_vec_normalize" -> { (s, dir) =>
      // L2 normalization — the pre-ANN step that turns cosine into a plain
      // dot product at serving time. Map-only. The gate hashes the norm
      // plus fold/selection checksums of the unit vector: every double is
      // bit-exact across engines because the folds are strict
      // left-to-right (Spark `aggregate` from 0.0 ≡ DuckDB `list_reduce`
      // from the first element — the leading 0.0 add is an IEEE no-op),
      // sqrt is correctly rounded, and min/max are selections.
      val e = Tables.load(s, dir, "embeddings")
      val v = transform(col("embedding"), x => x.cast("double"))
      e.select(col("vec_id"), v.as("v"))
        .select(col("vec_id"), col("v"),
          sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)).as("norm"))
        .select(
          col("vec_id"),
          col("norm"),
          aggregate(col("v"), lit(0.0), (a, x) => a + x / col("norm")).as("u_sum"),
          array_min(transform(col("v"), x => x / col("norm"))).as("u_min"),
          array_max(transform(col("v"), x => x / col("norm"))).as("u_max"))
        .orderBy(col("vec_id"))
    },

    "v3_embedding_covariance" -> { (s, dir) =>
      // second-moment statistics of the embedding corpus in ONE pass — the
      // fit input for PCA / whitening / Mahalanobis scoring. Emits, per
      // upper-triangle dimension pair (i ≤ j): n, Σvi·vj, Σvi, Σvj —
      // covariance and correlation derive downstream ((sxy − sx·sy/n)/n),
      // and the eigendecomposition over the d×d result is driver-side like
      // the Lloyd fit and BPE merge loop (O(d²) state, corpus-independent).
      // Scale shape: the d² pair expansion happens map-side and collapses
      // into the partial aggregate immediately — the shuffle carries
      // d·(d+1)/2 rows per partition, nothing else, at any corpus size.
      // All sums are decimal-routed (the d7 discipline) so every double is
      // bit-identical across engines and partitionings.
      // cost shape: ONE fused pass — the codegen-era composable form
      // (double posexplode → filter → 2080-group hash aggregate)
      // materialized d² rows per vector before aggregating (4e12 rows
      // at 1e9 vectors); graft_gram_moments walks each vector once,
      // updating a primitive upper-triangle accumulator in place, and
      // only the O(d²) state crosses the shuffle. Every term replicates
      // cast(x as decimal(28,12)) bit-for-bit (shortest-decimal HALF_UP
      // at scale 12, exact unscaled sums with a BigInteger overflow
      // lane), so the output is byte-identical to the explode/groupBy
      // decimal form on any partitioning — spec-pinned both ways.
      val e = Tables.loadFanned(s, dir, "embeddings")
      e.agg(call_function("graft_gram_moments",
          col("embedding"), lit(64)).as("g"))
        .select(explode(col("g")).as("r"))
        .select(col("r.i").as("i"), col("r.j").as("j"), col("r.n").as("n"),
          col("r.sxy").cast("double").as("sxy"),
          col("r.sx").cast("double").as("sx"),
          col("r.sy").cast("double").as("sy"))
        .orderBy(col("i"), col("j"))
    },

    "v4_pca_project" -> { (s, dir) =>
      // PCA-whitening projection — the dimensionality-reduction step before
      // clustering/ANN. The fit is the v3 covariance pass (distributed,
      // decimal-routed, gate-checked there) + a driver-side deterministic
      // Jacobi eigendecomposition (O(d²) state, the Lloyd/BPE discipline);
      // the projection is map-only through the fused graft_dot kernel.
      // Rows-only at the driver gate (an eigensolver is not
      // SQL-expressible); PcaSpec pins the math: fit determinism,
      // orthonormality, covariance diagonalization, whitened-identity, and
      // a bit-exact column≡driver differential. Its exact twins v3 (the
      // fit input) and d5p/a1 (the graft_dot fold) are hash-gated.
      val e = Tables.load(s, dir, "embeddings")
      val model = fittedPca(s, dir)
      e.select(col("vec_id"),
          Similarity.pcaProject(col("embedding"), model).as("p"))
        .select(col("vec_id"),
          col("p")(0).as("p0"), col("p")(1).as("p1"),
          col("p")(2).as("p2"), col("p")(3).as("p3"))
        .orderBy(col("vec_id"))
    },

    "v4p_pca_project" -> { (s, dir) =>
      // v4's projection with an ORACLE-BACKED hash gate (model-as-data,
      // the v2 fold discipline): the fitted model is persisted as a small
      // parquet table of (r, c, w) rows — component index, precomputed
      // mean offset c_r = dot(μ, w_r), component vector — and DuckDB
      // recomputes the identical projection dot(x, w_r) − c_r from that
      // table. Parquet round-trips the doubles bit-for-bit, both folds
      // are strict left-to-right with a leading IEEE-no-op 0.0, and the
      // offset is read, not recomputed — so every projected coordinate is
      // bit-exact across engines. The eigensolver stays spec-gated
      // (PcaSpec); THIS gate pins the map-only projection kernel and the
      // persisted-model serving contract.
      val e = Tables.load(s, dir, "embeddings")
      val model = fittedPca(s, dir)
      val modelRows = model.components.toSeq.zipWithIndex.map { case (w, r) =>
        var c = 0.0
        var i = 0
        while (i < w.length) { c += model.means(i) * w(i); i += 1 }
        (r, c, w.toSeq)
      }
      import s.implicits._
      modelRows.toDF("r", "c", "w").coalesce(1).write.mode("overwrite")
        .parquet(s"${Tables.modelsDir(dir)}/pca_model.parquet")
      e.select(col("vec_id"),
          posexplode(Similarity.pcaProject(col("embedding"), model))
            .as(Seq("r", "p")))
        .orderBy(col("vec_id"), col("r"))
    },

    "v5_outlier_score" -> { (s, dir) =>
      // Mahalanobis outlier scoring for embedding curation: under the
      // WHITENED model the projected data has identity covariance, so
      // Σ_r p_r² IS the (rank-k) Mahalanobis distance² from the corpus
      // mean — the standard anomaly signal for dropping corrupt/outlier
      // embeddings before training. Map-only projection (the v4 kernel)
      // + one decimal-routed per-vector sum (the d7 discipline — the
      // square is exact, the decimal conversion identical both engines,
      // and the decimal sum order-insensitive). The model persists to its
      // OWN parquet path so this query stays self-contained, and the
      // DuckDB oracle recomputes projection and score from that table.
      val e = Tables.load(s, dir, "embeddings")
      val model = fittedPca(s, dir)
      val modelRows = model.components.toSeq.zipWithIndex.map { case (w, r) =>
        var c = 0.0
        var i = 0
        while (i < w.length) { c += model.means(i) * w(i); i += 1 }
        (r, c, w.toSeq)
      }
      import s.implicits._
      modelRows.toDF("r", "c", "w").coalesce(1).write.mode("overwrite")
        .parquet(s"${Tables.modelsDir(dir)}/pca_model_v5.parquet")
      e.select(col("vec_id"),
          explode(Similarity.pcaProject(col("embedding"), model)).as("p"))
        .groupBy(col("vec_id"))
        .agg(sum((col("p") * col("p")).cast("decimal(28,12)"))
          .cast("double").as("m2"))
        .orderBy(col("vec_id"))
    },

    "v1_vec_quantize" -> { (s, dir) =>
      // symmetric int8 quantization of the embedding column (the storage /
      // bandwidth-reduction step before ANN serving): per-vector scale maps
      // the max-|x| component to ±127; q = floor(x·scale + 0.5) — the
      // explicit floor form because Spark and DuckDB round() disagree on
      // ties while floor is IEEE-identical. Map-only, zero shuffle. The
      // quantized vector is emitted as a comma-joined string (portable
      // exact comparison; both engines stringify ints identically) plus a
      // long checksum.
      val e = Tables.load(s, dir, "embeddings")
      val v = transform(col("embedding"), x => x.cast("double"))
      e.select(col("vec_id"), v.as("v"))
        .select(col("vec_id"), col("v"),
          (lit(127.0) / array_max(transform(col("v"), x => abs(x)))).as("scale"))
        .select(col("vec_id"), col("scale"),
          transform(col("v"),
            x => floor(x * col("scale") + 0.5).cast("int")).as("q"))
        .select(
          col("vec_id"),
          col("scale"),
          array_join(transform(col("q"), x => x.cast("string")), ",").as("q_str"),
          aggregate(col("q"), lit(0L), (a, x) => a + x.cast("long")).as("q_sum"))
        .orderBy(col("vec_id"))
    },

    // ---- round-9 additions: selection / sequence / collocation /
    // blocking / core extraction -----------------------------------------

    "s6_dsir_weights" -> { (s, dir) =>
      // DSIR-shaped importance weighting (Xie et al., NeurIPS'23 — Data
      // Selection via Importance Resampling): score each raw document by
      // how target-like its unigram distribution is, here with the
      // `lang = 'en'` subset standing in for the high-quality target.
      // Per token w the importance ratio is (ct+1)/(cr+1) (add-one
      // smoothed target count over raw count), carried as ONE scaled
      // integer division — 1e6·(ct+1) div (cr+1) — so no log/float enters
      // the gate (sum-of-scaled-ratios ranks like sum-of-log-ratios for
      // selection thresholds in practice, and is bit-exact by
      // construction). Both count tables are FREQUENCY-FLOORED (≥ 2, the
      // u1 Heaps'-law bound) and broadcast; document text never
      // shuffles — only (doc_id, ratio) longs reach the per-doc sum.
      val d = bucketedDocsShared(s, dir)
      val occ = d.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("w"))
      val raw = occ.groupBy(col("w")).agg(count(lit(1)).as("cr"))
        .filter(col("cr") >= 2)
      val tgt = d.filter(col("lang") === "en")
        .select(explode(TextFunctions.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("ct"))
        .filter(col("ct") >= 2)
      val scored = occ
        .join(broadcast(tgt), Seq("w"), "left")
        .join(broadcast(raw), Seq("w"), "left")
        .select(col("doc_id"),
          expr("(1000000 * (coalesce(ct, 0) + 1)) div (coalesce(cr, 0) + 1)")
            .as("r"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("r")).as("w_sum"))
      d.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("w_sum"), lit(0L)).as("w_sum"),
          coalesce(expr("w_sum div n_tokens"), lit(0L)).as("dsir_score"))
        .orderBy(col("doc_id"))
    },

    "e12_transitions" -> { (s, dir) =>
      // first-order Markov transition matrix over per-user event
      // sequences — the behavioral-model fit behind next-event
      // prediction and anomaly scoring. Successor pairs come from ONE
      // window pass PARTITIONED BY user, ordered by event_id — the
      // Events.scala invariant: the raw ts column is ns-precision
      // parquet truncated to µs, so two engines could order same-µs
      // events differently; event_id is the safe cross-engine total
      // order (never an unpartitioned window — a user's history fits a
      // task, the global event stream does not). Counts aggregate
      // map-combinably and the row probability is a single scaled
      // integer division (ppm), so the whole matrix is bit-exact.
      val e = Tables.load(s, dir, "events")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
      val trans = e
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("nxt", lead(col("event_type"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("event_type").as("cur"), col("nxt"))
        .agg(count(lit(1)).as("n_trans"))
      val tot = trans.groupBy(col("cur")).agg(sum(col("n_trans")).as("tot"))
      trans.join(broadcast(tot), Seq("cur"))
        .select(col("cur"), col("nxt"), col("n_trans"),
          expr("(n_trans * 1000000) div tot").as("p_ppm"))
        .orderBy(col("cur"), col("nxt"))
    },

    "e17_event_paths" -> { (s, dir) =>
      // frequent 3-step behavioral paths — sequential-pattern mining
      // one order up from e12's transition matrix: which (e1 → e2 → e3)
      // journeys actually recur, with exact support and a ppm share of
      // all observed triples. Same window discipline as e12: ONE pass
      // PARTITIONED BY user (a user's history fits a task; the global
      // stream never sorts), ordered by event_id — the Events.scala
      // cross-engine total order (raw ts is ns-truncated-to-µs, so
      // same-µs ties would order differently per engine). Two leads,
      // a map-combinable count, a 1-row total broadcast, one scaled
      // integer division — bit-exact; support floor ≥ 5 prunes the
      // long tail (reported via the unconditional total, not hidden).
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
      val e = Tables.load(s, dir, "events")
      val triples = e
        .select(col("user_id"), col("event_id"), col("event_type"))
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .filter(col("e3").isNotNull)
        .select(col("event_type").as("e1"), col("e2"), col("e3"))
      val tot = triples.agg(count(lit(1)).as("n_total"))
      triples.groupBy(col("e1"), col("e2"), col("e3"))
        .agg(count(lit(1)).as("n_paths"))
        .filter(col("n_paths") >= 5)
        .crossJoin(broadcast(tot))
        .select(col("e1"), col("e2"), col("e3"), col("n_paths"),
          expr("(n_paths * 1000000) div n_total").as("share_ppm"))
        .orderBy(col("e1"), col("e2"), col("e3"))
    },

    "t18_collocations" -> { (s, dir) =>
      // collocation / phrase mining: token pairs that co-occur in
      // documents far more often than chance — the phrase-vocabulary
      // induction step (lift = N·c(ab)/(c(a)·c(b)), the monotone core of
      // PMI, carried as one scaled integer division so no log enters the
      // gate). df-FIRST discipline (the t13/t14 shape): the tiny O(vocab)
      // document-frequency frame bands tokens BEFORE any per-doc token
      // list materializes — CORPUS-RELATIVE bounds (in ≥ 5% and ≤ 80% of
      // docs, exact integer arithmetic so the oracle replays them), so
      // the band tracks the same "common but not stopword" stratum at
      // any scale and a stopword's quadratic blowup is filtered at the
      // frame, not the join. Candidates are an EQUI self-join on doc_id;
      // relative support (≥ 1% of docs) prunes the tail.
      val d = bucketedDocsShared(s, dir)
      val td = d.select(col("doc_id"),
        explode(TextFunctions.tokenSet(col("text"))).as("w"))
      val n = d.agg(count(lit(1)).as("n_docs"))
      val dfreq = td.groupBy(col("w")).agg(count(lit(1)).as("dfw"))
        .crossJoin(broadcast(n))
        .filter(col("dfw") >= expr("n_docs div 20")
          && col("dfw") <= expr("(n_docs * 4) div 5"))
        .select(col("w"), col("dfw"))
      val band = td.join(broadcast(dfreq), Seq("w"))
      val pairs = band.as("a").join(band.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
        .groupBy(col("a.w").as("w1"), col("b.w").as("w2"))
        .agg(count(lit(1)).as("n_ab"),
          min(col("a.dfw")).as("df1"), min(col("b.dfw")).as("df2"))
      pairs.crossJoin(broadcast(n))
        .filter(col("n_ab") >= expr("n_docs div 100"))
        .select(col("w1"), col("w2"), col("n_ab"),
          expr("(n_docs * n_ab * 1000000) div (df1 * df2)").as("lift_ppm"))
        .orderBy(col("w1"), col("w2"))
    },

    "d14_sorted_neighborhood" -> { (s, dir) =>
      // sorted-neighborhood blocking (Hernández & Stolfo's classic
      // merge/purge method): sort documents by a cheap prefix key inside
      // (lang, first-token) blocks, compare each doc only with its next
      // 2 sort neighbors, keep pairs whose exact token-set Jaccard
      // clears 0.5 — the linear-candidate alternative to LSH when
      // near-dups share openings (template families, versioned docs).
      // The window is PARTITIONED by block (a global sort would funnel
      // the corpus through one task); candidate count is ≤ 2 rows per
      // document by construction at any scale. Jaccard is exact integer
      // set arithmetic + one scaled division — bit-exact. See
      // [[Dedup.sortedNeighborhoodPairs]]; DedupSpec plants template
      // families to pin the blocking semantics.
      Dedup.sortedNeighborhoodPairs(bucketedDocsShared(s, dir),
        window = 3, minJaccPpm = 500000L)
        .orderBy(col("a"), col("b"))
    },

    "e13_decay" -> { (s, dir) =>
      // half-life-decayed engagement scoring — the recency weighting a
      // feed/training-freshness pipeline applies, made EXACT: weight =
      // 1e6 div 2^(age_days) (24 h half-life, shift capped at 40 so the
      // divisor stays in long range). A power-of-two divisor turns the
      // usual exp(-λ·age) into integer shift arithmetic both engines
      // compute bit-identically — no transcendentals. Ages are whole
      // seconds from the corpus max timestamp (floor-of-epoch
      // difference ≡ DuckDB's boundary-counting date_diff); one
      // broadcast 1-row max, one map-combinable per-user sum.
      val e = Tables.load(s, dir, "events")
      val mx = e.agg(max(col("ts")).as("mts"))
      e.crossJoin(broadcast(mx))
        .select(col("user_id"),
          least(expr("(unix_timestamp(mts) - unix_timestamp(ts)) div 3600 div 24"),
            lit(40L)).as("k"))
        .select(col("user_id"),
          expr("1000000 div shiftleft(CAST(1 AS BIGINT), CAST(k AS INT))")
            .as("wppm"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("wppm")).as("decay_sum"))
        .orderBy(col("user_id"))
    },

    "x8_source_drift" -> { (s, dir) =>
      // per-source distribution-drift scoring — the domain-shift
      // detector a mixture pipeline runs per ingest source: total
      // variation distance between each source's token distribution and
      // the corpus distribution over the HEAD vocabulary (top-30 tokens
      // by corpus count — TakeOrdered-bounded, so the grid is
      // O(sources × 30) at ANY corpus size; full-vocabulary χ²/KL would
      // grow with Heaps' law and gate on log/float rounding besides).
      // Each term is |obs·totC − totS·cw| scaled by one exact integer
      // division; zero cells contribute via the (source × head) grid.
      // Long headroom holds through ~sf1; larger corpora would route
      // the products through decimal(38,0).
      val d = bucketedDocsShared(s, dir)
      val occ = d.select(col("source"),
        explode(TextFunctions.tokens(col("text"))).as("w"))
      val head = occ.groupBy(col("w")).agg(count(lit(1)).as("cw"))
        .orderBy(col("cw").desc, col("w")).limit(30)
      val obs = occ.join(broadcast(head.select(col("w"))), Seq("w"))
        .groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("obs"))
      // totals derive from the tiny obs frame, NOT from re-scanning the
      // occurrence stream — the whole query reads the corpus exactly
      // twice (once for the head vocabulary, once for obs)
      val tots = obs.groupBy(col("source")).agg(sum(col("obs")).as("tot_s"))
      val totC = obs.agg(sum(col("obs")).as("tot_c"))
      tots.crossJoin(broadcast(head))
        .join(obs, Seq("source", "w"), "left")
        .crossJoin(broadcast(totC))
        .select(col("source"),
          expr("(1000000 * abs(coalesce(obs, 0) * tot_c - tot_s * cw)) div " +
            "(2 * tot_s * tot_c)").as("term"))
        .groupBy(col("source"))
        .agg(sum(col("term")).as("drift_ppm"))
        .orderBy(col("source"))
    },

    "t19_bm25" -> { (s, dir) =>
      // BM25 more-like-this ranking (Robertson-Walker Okapi weighting,
      // k1 = 1.2, b = 0.75) with the saturation term carried EXACTLY in
      // integers: with L = Σ dl and n = N docs, avgdl = L/n, so
      // tf·(k1+1) / (tf + k1(1−b+b·dl/avgdl)) = 22·tf·L / (10·L·tf +
      // 3·L + 9·n·dl) after clearing denominators (k1+1 = 11/5,
      // k1(1−b) = 3/10, k1·b = 9/10) — no float enters the gate. The
      // idf factor is the reciprocal form (1e4·n div df, monotone in
      // the log idf — t14's documented divergence: transcendentals
      // would gate on rounding). Query = doc 0's top-3 salient tokens
      // (t12's exact (tf desc, df asc, tok) order) — the
      // more-like-this shape. Scale: df/dl/query frames broadcast, the
      // only corpus-sized shuffle is the per-doc term sum; final top-50
      // is TakeOrderedAndProject (per-partition top-n, no global sort).
      // Long headroom: idf ≤ 1e4·n, sat_num = 22·tf·L — the product
      // stays < 2^63 through ~sf10; beyond that route the product
      // through decimal(38,0).
      val d = bucketedDocsShared(s, dir)
      val toks = d.select(col("doc_id"),
        TextFunctions.tokens(col("text")).as("toks"))
      val dl = toks.select(col("doc_id"),
        size(col("toks")).cast("long").as("dl"))
      val tf = toks.select(col("doc_id"), explode(col("toks")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val totals = dl.agg(sum(col("dl")).as("bigl"),
        count(lit(1)).as("n_docs"))
      // qterms carries df with it (a 3-row broadcast) so the scoring
      // join never ships the full O(vocabulary) df table — the s6/u1
      // Heaps'-law broadcast discipline
      val qterms = graft.plans.TopKPerKey(
          tf.filter(col("doc_id") === 0).join(dfreq, Seq("tok")),
          Seq(col("doc_id")),
          Seq(col("tf").desc, col("df").asc, col("tok").asc), 3)
        .select(col("tok"), col("df"))
      tf.join(broadcast(qterms), Seq("tok"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(totals))
        .select(col("doc_id"),
          expr("((10000 * n_docs) div df) * (22 * tf * bigl) div " +
            "(10 * bigl * tf + 3 * bigl + 9 * n_docs * dl)").as("term"))
        .groupBy(col("doc_id"))
        .agg(sum(col("term")).as("bm25_scaled"),
          count(lit(1)).as("n_terms"))
        .orderBy(col("bm25_scaled").desc, col("doc_id")).limit(50)
    },

    "x7_incremental_stats" -> { (s, dir) =>
      // incremental aggregate maintenance — the lambda-architecture
      // bridge: yesterday's per-language stats table plus a stats pass
      // over ONLY the new drop, merged by one tiny full-outer join —
      // the base corpus is never rescanned. Every statistic is
      // delta-decomposable (count/sum/min/max); the GATE is the
      // contract itself: the merged table must equal an independent
      // full recompute over base ∪ delta bit-for-bit (the DuckDB
      // oracle computes the direct form). Base/delta reuse x4's
      // deterministic snapshot convention (doc_id % 17).
      val d = bucketedDocsShared(s, dir)
      def stats(df: DataFrame): DataFrame =
        df.groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      val base = stats(d.filter(col("doc_id") % 17 =!= 0))
      val delta = stats(d.filter(col("doc_id") % 17 === 0))
      def mergeMin(a: Column, b: Column): Column =
        when(a.isNull, b).when(b.isNull, a).otherwise(least(a, b))
      def mergeMax(a: Column, b: Column): Column =
        when(a.isNull, b).when(b.isNull, a).otherwise(greatest(a, b))
      base.as("b").join(delta.as("d"), Seq("lang"), "full_outer")
        .select(col("lang"),
          (coalesce(col("b.n_docs"), lit(0L))
            + coalesce(col("d.n_docs"), lit(0L))).as("n_docs"),
          (coalesce(col("b.sum_chars"), lit(0L))
            + coalesce(col("d.sum_chars"), lit(0L))).as("sum_chars"),
          mergeMin(col("b.min_id"), col("d.min_id")).as("min_id"),
          mergeMax(col("b.max_id"), col("d.max_id")).as("max_id"))
        .orderBy(col("lang"))
    },

    "c5_split_leakage" -> { (s, dir) =>
      // train/val/test leakage audit — the check a training pipeline
      // runs AFTER splitting: identical documents (by content
      // fingerprint) must not straddle splits, or eval measures
      // memorization. The corpus is augmented with deterministic
      // planted copies (doc_id % 7 → +2000000, the x4/t10 planting
      // discipline) so the leak path is live at gate SF. Shape: md5
      // fingerprints map-side (bodies never shuffle), per-fp split
      // flags via ONE max-aggregate (no distinct-set materialization),
      // one single-row pairwise rollup.
      val d = bucketedDocsShared(s, dir)
      val corpus = d.select(col("doc_id"), col("text"))
        .union(d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      val bucket = TextFunctions.md5Bucket(col("doc_id"))
      val flagged = corpus
        .select(md5(col("text")).as("fp"),
          when(bucket < 245, lit("train"))
            .when(bucket < 250, lit("val"))
            .otherwise(lit("test")).as("split"))
        .groupBy(col("fp"))
        .agg(
          max(when(col("split") === "train", 1).otherwise(0)).as("t"),
          max(when(col("split") === "val", 1).otherwise(0)).as("v"),
          max(when(col("split") === "test", 1).otherwise(0)).as("x"))
      flagged.agg(
        sum(col("t") * col("v")).as("n_train_val"),
        sum(col("t") * col("x")).as("n_train_test"),
        sum(col("v") * col("x")).as("n_val_test"),
        count(lit(1)).as("n_fps"))
    },

    "s7_quota_interleave" -> { (s, dir) =>
      // deterministic training-mix interleave: a fixed per-source quota
      // (10 docs, md5(doc_id) order — the s4 sampling discipline)
      // emitted in round-robin source order, pos = (rank−1)·n_src +
      // src_idx — the exact read order a data loader replays on any
      // engine, with NO global sort: quotas come from the bounded-heap
      // TopKPerKey, the source index table is #sources rows (its
      // row_number window ranks a provably tiny frame — the
      // deterministicCentroids precedent), and the position is
      // arithmetic, not a window.
      val d = bucketedDocsShared(s, dir)
      val keyed = d.select(col("doc_id"), col("source"),
        md5(col("doc_id").cast("string")).as("mk"))
      val quota = graft.plans.TopKPerKey(keyed, Seq(col("source")),
        Seq(col("mk").asc, col("doc_id").asc), 10)
      val srcs = d.select(col("source")).distinct()
      val idx = srcs.withColumn("src_idx",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("source"))) - 1)
      val n = srcs.agg(count(lit(1)).as("n_src"))
      quota
        .join(broadcast(idx), Seq("source"))
        .crossJoin(broadcast(n))
        .select(
          ((col("rank") - 1) * col("n_src") + col("src_idx")).as("pos"),
          col("source"), col("doc_id"), col("rank"))
        .orderBy(col("pos"))
    },

    "a5_rrf_fusion" -> { (s, dir) =>
      // reciprocal-rank-fusion hybrid retrieval (Cormack et al. SIGIR'09
      // — the fusion rule behind every lexical+vector hybrid search
      // stack): fuse two independent top-20 rankings per query — exact
      // cosine (the a1 path) and int8-quantized dot product (the v1
      // quantizer, the cheap 32×-smaller serving tier) — by
      // RRF(d) = Σ 1/(60 + rank_i), carried as 1e6 div (60 + rank) so
      // the whole gate is integer-exact. Each ranking is a broadcast
      // crossJoin + bounded-heap TopKPerKey (never a per-query sort);
      // the fusion itself joins two ≤ 20-rows-per-query frames — the
      // corpus is scanned twice and shuffled never.
      val e = Tables.loadFanned(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
      val cosTop = Similarity.bruteForceTopK(e, queries, k = 20)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").as("rank_cos"))
      def quant(df: DataFrame, idAs: String, qAs: String): DataFrame =
        df.select(col("vec_id").as(idAs),
            transform(col("embedding"), x => x.cast("double")).as("v"))
          .select(col(idAs), col("v"),
            (lit(127.0) / array_max(transform(col("v"), x => abs(x))))
              .as("scale"))
          .select(col(idAs),
            transform(col("v"),
              x => floor(x * col("scale") + 0.5).cast("long")).as(qAs))
      val qq = broadcast(quant(queries, "query_id", "qq"))
      val qc = quant(e, "neighbor_id", "qc")
      val scoredQ = qc.crossJoin(qq)
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          aggregate(zip_with(col("qq"), col("qc"), (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).as("dotq"))
      val qTop = graft.plans.TopKPerKey(scoredQ, Seq(col("query_id")),
          Seq(col("dotq").desc, col("neighbor_id").asc), 20)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rank_q"))
      val fused = cosTop
        .join(qTop, Seq("query_id", "neighbor_id"), "full_outer")
        .select(col("query_id"), col("neighbor_id"),
          (coalesce(expr("1000000 div (60 + rank_cos)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + rank_q)"), lit(0L)))
            .as("rrf_ppm"))
      graft.plans.TopKPerKey(fused, Seq(col("query_id")),
          Seq(col("rrf_ppm").desc, col("neighbor_id").asc), 10)
        .orderBy(col("query_id"), col("rank"))
    },

    "g4_kcore" -> { (s, dir) =>
      // k-core extraction over the t14 similarity graph — the
      // dense-community signal (a doc in the k-core sits in a cluster of
      // mutually similar docs; boilerplate families light up, bridges
      // don't). Three unrolled peel rounds (the g1 fixed-round
      // discipline) so the DuckDB oracle replays the exact same fixpoint
      // prefix; the pair subtree is the persisted t14 index. k = 140 is
      // tuned to the gate corpus's degree distribution (median ~189) so
      // each round peels — k is the operator's knob, set per use in
      // production just like d9's τ or t14's df band.
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
      Graph.kCore(docs, tfidfPairsShared(s, dir), k = 140, rounds = 3)
        .orderBy(col("doc_id"))
    },

    "x9_source_overlap" -> { (s, dir) =>
      // pairwise source-level vocabulary overlap — the corpus-governance
      // matrix ("how much of wiki's vocabulary does crawl already
      // cover?") behind mixture design and source pruning. The corpus
      // reduces map-side to DISTINCT (source, token) postings; the
      // pair step is a self-equi-join ON TOKEN, so each token fans out
      // to at most C(n_sources, 2) pairs REGARDLESS of corpus size —
      // the output grid is O(sources²) and sources are few by
      // definition (they're ingest feeds, not documents). Jaccard and
      // containment are each one exact scaled integer division; the
      // per-source vocabulary sizes ride in on a broadcast. The postings
      // frame is referenced three times (sizes + both join sides) — at
      // 100 TB you'd persist it once (as an index store)
      // instead of re-scanning; at gate scale the three passes keep the
      // plan cache-independent and pin-stable.
      val d = bucketedDocsShared(s, dir)
      val st = d.select(col("source"),
          explode(TextFunctions.tokenSet(col("text"))).as("w"))
        .distinct()
      val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("nt"))
      val inter = st.as("a").join(st.as("b"),
          col("a.w") === col("b.w") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(broadcast(sizes.select(col("source").as("s1"),
          col("nt").as("n1"))), Seq("s1"))
        .join(broadcast(sizes.select(col("source").as("s2"),
          col("nt").as("n2"))), Seq("s2"))
        .select(col("s1"), col("s2"), col("n_inter"),
          expr("(1000000 * n_inter) div (n1 + n2 - n_inter)")
            .as("jaccard_ppm"),
          expr("(1000000 * n_inter) div least(n1, n2)")
            .as("containment_ppm"))
        .orderBy(col("s1"), col("s2"))
    },

    "x19_syndication_matrix" -> { (s, dir) =>
      // cross-source NEAR-DUPLICATION matrix — syndication/mirror
      // detection, the document-level sibling of x9's vocabulary
      // overlap: which ingest feeds carry (near-)verbatim copies of
      // each other's documents? The verified d3 minhash pair set (every
      // pair passed the EXACT 3-shingle Jaccard >= 0.8 check; LSH only
      // proposes) is distinct'd at the boundary (the d3p per-band
      // contract) and rolled up by the endpoints' unordered source
      // pair. Within-source pairs stay in the matrix (source_a =
      // source_b rows) — internal duplication is a governance signal
      // too. Output is O(sources²); the pair machinery is the shared
      // band-bucket pipeline whose skew caps and plan shape d3 pins.
      // NO ORACLE by design (the a2/d3 discipline): LSH recall is a
      // band bet, so the matrix from LSH-proposed pairs is rows-only;
      // x19p_syndication_exact carries the hash gate over the
      // exact-recall prefix-filtered pair set.
      val d = bucketedDocsShared(s, dir)
      val pairs = mhPairs80Shared(s, dir)
      val src = d.select(col("doc_id"), col("source"))
      pairs
        .join(src.toDF("i", "src_i"), Seq("i"))
        .join(src.toDF("j", "src_j"), Seq("j"))
        .select(least(col("src_i"), col("src_j")).as("source_a"),
          greatest(col("src_i"), col("src_j")).as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("source_a"), col("source_b"))
    },

    "x19p_syndication_exact" -> { (s, dir) =>
      // oracle gate for the syndication matrix: the SAME source-pair
      // rollup over the EXACT 3-shingle Jaccard >= 0.8 pair set, with
      // candidates from the PPJoin prefix filter (pure pruning, exact
      // recall — ngramJaccardPairs in the shingle domain, no blocking)
      // instead of LSH bands, so DuckDB's quadratic replay must match
      // bit-for-bit. x19's LSH-proposed matrix stays rows-only — the
      // a2p/a8p twin discipline.
      val d = bucketedDocsShared(s, dir)
      // the exact-recall pair universe comes from its materialized
      // store (distinct'd there — the d3p multi-emit contract)
      val pairs = ngramPairs80Shared(s, dir)
      val src = d.select(col("doc_id"), col("source"))
      pairs
        .join(src.toDF("i", "src_i"), Seq("i"))
        .join(src.toDF("j", "src_j"), Seq("j"))
        .select(least(col("src_i"), col("src_j")).as("source_a"),
          greatest(col("src_i"), col("src_j")).as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("source_a"), col("source_b"))
    },

    "s8_temperature_mix" -> { (s, dir) =>
      // temperature-scaled source mixture allocation — the multilingual
      // sampling rule of mT5/XLM-R (p_i ∝ n_i^(1/τ)) at τ = 2, where
      // the weight is floor(sqrt(n_i)): IEEE-754 sqrt is correctly
      // rounded and n_i < 2^53 is exact in a double, so floor∘sqrt is
      // bit-identical across engines — the one transcendental-free way
      // to carry a fractional power through an exact gate. The fixed
      // budget B = 100000 is apportioned by largest-remainder (Hamilton
      // method): base_i = B·w_i div W, leftover seats to the largest
      // remainders, ties to the smaller source name. One map-combinable
      // count is the only corpus-sized stage; everything after runs on
      // the O(sources) frame (the row_number window is over that
      // provably tiny frame, not the corpus).
      val wnd = org.apache.spark.sql.expressions.Window
      val d = bucketedDocsShared(s, dir)
      // the ONE corpus-sized stage; everything below runs on the
      // O(sources) aggregate, re-referenced via whole-frame windows so
      // the corpus is scanned exactly once (agg+crossJoin would re-scan
      // per reference)
      val counts = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .select(col("source"), col("n_docs"),
          floor(sqrt(col("n_docs").cast("double"))).cast("long").as("wt"))
      counts
        .withColumn("wtot", sum(col("wt")).over(wnd.partitionBy()))
        .select(col("source"), col("n_docs"), col("wt"),
          expr("(100000 * wt) div wtot").as("base_n"),
          expr("(100000 * wt) % wtot").as("rem"))
        .withColumn("leftover",
          lit(100000L) - sum(col("base_n")).over(wnd.partitionBy()))
        .withColumn("rk", row_number().over(
          wnd.orderBy(col("rem").desc, col("source"))))
        .select(col("source"), col("n_docs"), col("wt"),
          (col("base_n") +
            when(col("rk") <= col("leftover"), 1L).otherwise(0L))
            .as("alloc"))
        .orderBy(col("source"))
    },

    "s14_curriculum_schedule" -> { (s, dir) =>
      // epoch-annealed mixture schedule — the curriculum form of s8:
      // training mixes don't hold one allocation for the whole run,
      // they ANNEAL from the temperature-flattened mix (upsampled
      // low-resource sources — diversity early) to the proportional
      // mix (natural distribution late; the mT5/XLM-R schedule read as
      // a curriculum). Both endpoints are exact Hamilton apportionments
      // of the B = 100000 budget (q_temp at τ = 2 — s8's floor∘sqrt
      // weights — and q_prop at τ = 1); epoch e of E = 4 interpolates
      // the QUOTAS linearly, r_i(e) = (3−e)·q_temp + e·q_prop (sums to
      // 3B by construction), then re-apportions by largest remainder
      // over the divisor 3 so every epoch's quotas sum to EXACTLY B —
      // integer arithmetic end to end, no transcendental ever enters.
      // Epochs 0 and 3 are bit-identical to the s8 and proportional
      // allocations (spec-pinned). ONE corpus-sized aggregate; the
      // interpolation and both apportionments run on the O(sources × E)
      // frame (whole-frame/per-epoch windows over provably tiny
      // frames).
      val wnd = org.apache.spark.sql.expressions.Window
      val d = bucketedDocsShared(s, dir)
      val counts = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      def hamilton(wt: org.apache.spark.sql.Column, out: String) =
        counts.select(col("source"), col("n_docs"), wt.as("wt"))
          .withColumn("wtot", sum(col("wt")).over(wnd.partitionBy()))
          .select(col("source"), col("n_docs"),
            expr("(100000 * wt) div wtot").as("base_n"),
            expr("(100000 * wt) % wtot").as("rem"))
          .withColumn("leftover",
            lit(100000L) - sum(col("base_n")).over(wnd.partitionBy()))
          .withColumn("rk", row_number().over(
            wnd.orderBy(col("rem").desc, col("source"))))
          .select(col("source"), col("n_docs"),
            (col("base_n") +
              when(col("rk") <= col("leftover"), 1L).otherwise(0L))
              .as(out))
      val qt = hamilton(
        floor(sqrt(col("n_docs").cast("double"))).cast("long"), "q_temp")
      val qp = hamilton(col("n_docs"), "q_prop")
        .select(col("source"), col("q_prop"))
      val epochs = s.range(0, 4).select(col("id").as("epoch"))
      val we = org.apache.spark.sql.expressions.Window
        .partitionBy(col("epoch"))
      qt.join(qp, Seq("source")).crossJoin(epochs)
        .select(col("epoch"), col("source"), col("n_docs"),
          ((lit(3L) - col("epoch")) * col("q_temp") +
            col("epoch") * col("q_prop")).as("r"))
        .select(col("epoch"), col("source"), col("n_docs"),
          expr("r div 3").as("base_n"), expr("r % 3").as("rem"))
        .withColumn("leftover", lit(100000L) - sum(col("base_n")).over(we))
        .withColumn("rk", row_number().over(
          we.orderBy(col("rem").desc, col("source"))))
        .select(col("epoch"), col("source"), col("n_docs"),
          (col("base_n") +
            when(col("rk") <= col("leftover"), 1L).otherwise(0L))
            .as("quota"))
        .orderBy(col("epoch"), col("source"))
    },

    "s12_dedup_mixture" -> { (s, dir) =>
      // temperature-scaled mixture weights computed on the DEDUPED
      // corpus — the correction s8 needs before it can be trusted: a
      // syndicated/mirrored feed's copies inflate its raw document
      // count, so computing p_i ∝ n_i^(1/2) on the undeduped corpus
      // oversamples exactly the sources whose content is most
      // duplicated. Counts come from d12's keepers (one
      // highest-quality doc per d8 near-dup component, the persisted
      // cc closure); the apportionment is s8's exact Hamilton
      // largest-remainder over the O(sources) frame. Same output
      // contract as s8 — diff the two allocations to see the
      // duplication bias directly.
      val comp = ccComponentsShared(s, dir)
      val d = bucketedDocsShared(s, dir)
      val scored = comp.join(d.select(col("doc_id"), col("n_chars")),
        Seq("doc_id"))
      val keep = graft.plans.TopKPerKey(scored, Seq(col("rep")),
          Seq(col("n_chars").desc, col("doc_id").asc), 1)
        .select(col("doc_id"))
      val counts = keep
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .select(col("source"), col("n_docs"),
          floor(sqrt(col("n_docs").cast("double"))).cast("long").as("wt"))
      val wnd = org.apache.spark.sql.expressions.Window
      counts
        .withColumn("wtot", sum(col("wt")).over(wnd.partitionBy()))
        .select(col("source"), col("n_docs"), col("wt"),
          expr("(100000 * wt) div wtot").as("base_n"),
          expr("(100000 * wt) % wtot").as("rem"))
        .withColumn("leftover",
          lit(100000L) - sum(col("base_n")).over(wnd.partitionBy()))
        .withColumn("rk", row_number().over(
          wnd.orderBy(col("rem").desc, col("source"))))
        .select(col("source"), col("n_docs"), col("wt"),
          (col("base_n") +
            when(col("rk") <= col("leftover"), 1L).otherwise(0L))
            .as("alloc"))
        .orderBy(col("source"))
    },

    "v12_pq_distortion" -> { (s, dir) =>
      // per-subspace PQ reconstruction error — the codebook-health
      // monitor behind every quantized serving tier (and the number
      // ivfMaintain-style refit policies threshold for PQ): the squared
      // distance between each vector's block and its assigned centroid,
      // rolled up per subspace as an exact decimal-routed SSE + MSE. A
      // subspace whose MSE drifts up after an ingest is a stale
      // codebook. Each error routes through the engine-shared identity
      // ‖b−c‖² = b·b − 2·b·c + c·c (three fused graft_dot folds — the
      // a3/a4 discipline, so DuckDB replays the doubles bit-for-bit
      // from the persisted codebooks); the centroid table is O(m·k)
      // and broadcasts. r14: the chain is Similarity.pqDistortion —
      // code assignment and block slice fused onto ONE corpus scan
      // (the old codes⋈vectors self-join is gone: one scan, no join
      // beyond the broadcast, which is also what lets the
      // pqDistortionStream continuous twin run the identical chain),
      // then one map-combinable aggregate; O(m) rows at any scale.
      val e = Tables.loadFanned(s, dir, "embeddings")
      val model = fittedPq(s, dir) // loads-or-fits; persists the parquet
      val cents = s.read
        .parquet(s"${Tables.modelsDir(dir)}/pq_model.parquet")
        .select(col("sub"), col("centroid_id").as("code"), col("centroid"))
      Similarity.pqDistortion(e, model, cents)
        .orderBy(col("sub"))
    },

    "v13_partial_refit" -> { (s, dir) =>
      // drift-triggered PARTIAL IVF refit, the action a9/v12's monitors
      // could only signal: the planted drifted drop (x4 vectors
      // NEGATED — cosine against every centroid flips sign, the
      // distribution shift) condemns the cells it touches below the
      // 0.98 drift threshold; ONLY those cells re-Lloyd on the
      // hash-prefix sample of their own members (cells_v13, prebuilt —
      // healthy centroids pass through bit-identical), and this query
      // gates the REASSIGNMENT: one map-only pass where each vector's
      // frozen cell computes against the OLD centroids and only
      // refit-cell vectors re-score against the refit centroids
      // (containment — healthy cells' membership untouched, the
      // property the spec pins alongside recall recovery and a2p
      // full-probe preservation). Output (vec_id, old_cell, cell) for
      // base ∪ drifted drop; the oracle replays both argmaxes from the
      // persisted old/new centroid parquets.
      val e = Tables.loadFanned(s, dir, "embeddings")
      val old = s.read.parquet(fittedA9CellsPath(s, dir))
      val refit = s.read.parquet(fittedV13CellsPath(s, dir))
      val vecs = e.filter(col("vec_id") % 4 =!= 0)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
        .unionByName(v13DriftedDrop(s, dir))
      Similarity.ivfReassignAfterRefit(old, refit, vecs)
        .orderBy(col("vec_id"))
    },

    "v14_pq_partial_refit" -> { (s, dir) =>
      // drift-triggered PARTIAL PQ codebook refit — the action v12's
      // distortion monitor could only signal, mirroring v13's IVF
      // form: the planted stale drop (x4 vectors with subspace 0's
      // dims warped x·3+2 — far outside the fitted codes) trips the
      // per-subspace MSE-ratio test for subspace 0 ALONE; only its
      // codebook re-fits on the capped base ∪ drop block sample
      // (pq_v14_model, prebuilt — the seven healthy books pass
      // through bit-identical), and this query gates the RE-ENCODE:
      // one map-only pass where every block's old code computes
      // against the old books and only the stale subspace re-scores
      // against its refit book (containment — healthy subspaces'
      // codes untouched, the property the spec pins). Output
      // (vec_id, sub, old_code, code) for base ∪ drop; the oracle
      // replays both argmins from the persisted old/new codebook
      // parquets.
      val e = Tables.loadFanned(s, dir, "embeddings")
      val vecs = e.filter(col("vec_id") % 4 =!= 0)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
        .unionByName(v14StaleDrop(s, dir))
      Similarity.pqReencodeAfterRefit(fittedPq(s, dir),
          s.read.parquet(fittedV14PqPath(s, dir)), vecs)
        .orderBy(col("vec_id"), col("sub"))
    },

    "v11_ann_recall" -> { (s, dir) =>
      // recall@k of the quantized two-stage retrieval (a10) against the
      // exact brute-force top-k (a1) — the acceptance eval every ANN
      // deployment runs before trusting a compressed index: per query,
      // how many of the true top-5 did the ADC-shortlist + re-rank path
      // actually serve? Both sides are oracle-replayable, so the eval
      // itself hash-gates (the recall NUMBER is exact even though the
      // index is approximate — measuring the bet, not betting on it).
      // One left-semi join + two O(queries) aggregates on top of the
      // bounded retrieval frames; recall_ppm is one exact integer
      // division.
      val e = Tables.loadFanned(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val model = fittedPq(s, dir)
      val codes = pqCodesShared(s, dir) // the persisted quantized index
      val exact = Similarity.bruteForceTopK(e, q, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity
        .adcRerankTopK(e, codes, model, q, shortlist = 25, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"),
          "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      exact.groupBy(col("query_id")).agg(count(lit(1)).as("kk"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"), col("kk"))
        .withColumn("recall_ppm", expr("(1000000 * n_hits) div kk"))
        .drop("kk")
        .orderBy(col("query_id"))
    },

    "t20_novelty" -> { (s, dir) =>
      // temporal n-gram novelty — the freshness score an incremental
      // crawl gives each incoming document: the fraction of its
      // DISTINCT trigrams never seen in the base snapshot (x4's
      // deterministic snapshot convention: base = doc_id % 4 != 0, the
      // incoming drop = % 4 == 0). The base reduces to a DISTINCT
      // trigram frame; incoming trigrams left-join it and novelty is
      // one exact scaled integer division. The gate joins on RAW
      // trigram strings (the d13 collision-freedom discipline); the
      // 100 TB path would join on xxhash64(gram) so only fixed-width
      // longs shuffle — same plan shape, documented trade of a
      // 2^-64-per-pair collision for an 8-byte shuffle key. Docs with
      // fewer than 3 tokens have no trigrams and drop out, matching
      // the oracle's inner grouping.
      val d = bucketedDocsShared(s, dir)
      val toks = d.select(col("doc_id"),
        TextFunctions.tokens(col("text")).as("toks"))
      def grams(df: DataFrame): DataFrame =
        df.select(col("doc_id"),
            explode(TextFunctions.wordShingles(col("toks"), 3)).as("g"))
          .distinct()
      val baseG = grams(toks.filter(col("doc_id") % 4 =!= 0))
        .select(col("g")).distinct().withColumn("seen", lit(1L))
      val newG = grams(toks.filter(col("doc_id") % 4 === 0))
      newG.join(baseG, Seq("g"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tri"),
          sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_tri"), col("n_novel"),
          expr("(1000000 * n_novel) div n_tri").as("novelty_ppm"))
        .orderBy(col("doc_id"))
    },

    "d15_winnowing" -> { (s, dir) =>
      // winnowing fingerprint selection (Schleimer-Wilkerson-Aiken,
      // SIGMOD'03 — the MOSS local fingerprinting algorithm): hash every
      // token 3-gram, slide a w=4 window over the hash sequence, keep
      // the minimum hash per window (RIGHTMOST position on ties — the
      // paper's robust-winnowing rule), dedupe selections. Guarantees:
      // any shared run of ≥ w+k-1 tokens yields a shared fingerprint,
      // and ~2/(w+1) of grams are selected — the bounded-density local
      // dedup index d10's global spans can't give. Everything is ONE
      // window pass PARTITIONED by doc (a doc's grams fit a task at any
      // corpus size) over md5 grams — md5 is the cross-engine hash, and
      // min(struct(fp, -pos)) is the total order both engines share.
      // The output IS the fingerprint index you'd persist for serving.
      // (Selection lives in [[Dedup.winnowFingerprints]]; d16 serves
      // candidate pairs from the same index.)
      Dedup.winnowFingerprints(bucketedDocsShared(s, dir)) // r19: 32-bucket scan
        .orderBy(col("doc_id"), col("fp_pos"))
    },

    "d18_dup_cluster_hist" -> { (s, dir) =>
      // duplicate-cluster size histogram — dedup governance one level
      // past x11's single dup-ppm: HOW duplication is distributed
      // (many small pairs vs a few mega-clusters) decides the strategy
      // (d1 alone vs d12 canonicalization) and the blast radius of a
      // bad template. One fp aggregate (the d1 shuffle — 128-bit keys,
      // bodies never move), then an O(distinct sizes) rollup; exact
      // longs, output bounded by the largest cluster size.
      val d = bucketedDocsShared(s, dir)
      d.select(md5(col("text")).as("fp"))
        .groupBy(col("fp")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
        .select(col("sz").as("cluster_size"), col("n_clusters"),
          (col("sz") * col("n_clusters")).as("n_docs"))
        .orderBy(col("cluster_size"))
    },

    "d17_incremental_dedup" -> { (s, dir) =>
      // incremental snapshot-probe dedup — the daily-crawl flow: does
      // each INCOMING doc (the drop, doc_id % 4 == 0 — the x4/t20/v8
      // snapshot convention) near-duplicate anything in the BASE
      // corpus at word Jaccard >= 4/5? The whole asymmetric PPJoin
      // machinery (per-side df-ordered prefixes, base never
      // self-joins, integer-exact bounds and verify) lives in
      // Dedup.incrementalDedup — also the graft_incremental_dedup TVF.
      // bucketed corpus (r19): the tokenize/prefix kernels of both the
      // base index build and the drop probe ride the 32-bucket scan
      val d = bucketedDocsShared(s, dir)
      Dedup.incrementalDedup(
          d.filter(col("doc_id") % 4 =!= 0),
          d.filter(col("doc_id") % 4 === 0), num = 4, den = 5)
        .orderBy(col("doc_id"))
    },

    "d19_incremental_minhash" -> { (s, dir) =>
      // incremental MinHash-LSH dedup — d17's daily-crawl flow in the
      // SHINGLE domain: does each INCOMING doc (the drop, doc_id % 4 == 0)
      // near-duplicate anything in the BASE corpus at 3-shingle Jaccard
      // >= 4/5? The base side is the PERSISTED mh_index band index (one
      // O(base) build per snapshot, shared with the streaming twin
      // nearDupPairsStream); the drop probes it with one (band, bucket)
      // equi join and an integer-exact verify — completing the
      // incremental-maintenance triad: d17 exact-word, a9 embedding-IVF,
      // d19 minhash-shingle. NO ORACLE by design (the a2/d3 discipline):
      // LSH banding has false negatives (~1.5%/pair at J = 0.8 with
      // 8×4 bands), so a quadratic-Jaccard oracle would pin 100% recall
      // the operator never promises and fail on a qualifying pair that
      // misses all bands with no code bug. The exact-recall twin
      // d19p_incremental_exact carries the hash gate.
      val d = bucketedDocsShared(s, dir) // r19: shingle kernel over the 32-bucket scan
      Dedup.incrementalMinhash(
          minhashIndexShared(s, dir), d.filter(col("doc_id") % 4 === 0),
          shingleLen = 3, numHashes = 32, bands = 8, num = 4, den = 5)
        .orderBy(col("doc_id"))
    },

    "d19p_incremental_exact" -> { (s, dir) =>
      // oracle gate for the incremental shingle-dedup contract: the SAME
      // drop-vs-base question and output schema as d19, with candidates
      // from the EXACT-recall PPJoin prefix filter (pure pruning —
      // incrementalDedup's machinery run in the 3-shingle domain, no
      // blocking) instead of LSH bands. The verified result is the full
      // exact answer, so DuckDB's quadratic replay must match
      // bit-for-bit; d19's LSH path stays rows-only plus the planted
      // recall/soundness specs, the a2p/a8p twin discipline.
      val d = bucketedDocsShared(s, dir) // r19: shingle kernel over the 32-bucket scan
      Dedup.incrementalDedup(
          d.filter(col("doc_id") % 4 =!= 0),
          d.filter(col("doc_id") % 4 === 0), num = 4, den = 5,
          blockCols = Seq(lit(true)), shingleLen = 3)
        .orderBy(col("doc_id"))
    },

    "d16_winnow_pairs" -> { (s, dir) =>
      // near-dup candidates from shared winnowing fingerprints — d15's
      // serving query: postings df-capped at 20 (boilerplate
      // fingerprints drop — the d13/t13 posting-cap discipline bounding
      // join fan-out at any corpus size), pairs from the capped equi
      // self-join, kept at ≥ 2 shared fingerprints. The winnowing
      // guarantee makes recall on ≥ w+k−1-token verbatim overlaps
      // structural, not probabilistic.
      Dedup.winnowPairs(bucketedDocsShared(s, dir), // r19: 32-bucket scan
        maxDf = 20, minShared = 2L)
        .orderBy(col("a"), col("b"))
    },

    "t23_readability" -> { (s, dir) =>
      // readability features (the Flesch-Kincaid inputs): words per
      // sentence and vowel-groups per word — the syllable stand-in a
      // regex both engines share ([aeiou]+ runs; no lookarounds, no \s).
      // The composite FK grade is a fixed linear blend of these two
      // ratios, so shipping the EXACT scaled ratios (one integer
      // division each) keeps the gate transcendental-free and lets the
      // caller blend with any coefficients. Pure per-row map work.
      val d = bucketedDocsShared(s, dir)
      d.select(col("doc_id"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok"),
          size(filter(split(col("text"), "[.!?]+"),
            x => length(regexp_replace(x, "[ \t\n\f\r]+", "")) > 0))
            .cast("long").as("n_sent"),
          size(expr("regexp_extract_all(lower(text), '[aeiou]+', 0)"))
            .cast("long").as("n_vg"))
        .select(col("doc_id"), col("n_tok"), col("n_sent"), col("n_vg"),
          when(col("n_sent") > 0, expr("(1000000 * n_tok) div n_sent"))
            .otherwise(lit(0L)).as("wps_ppm"),
          when(col("n_tok") > 0, expr("(1000000 * n_vg) div n_tok"))
            .otherwise(lit(0L)).as("spw_ppm"))
        .orderBy(col("doc_id"))
    },

    "v10_norm_hist" -> { (s, dir) =>
      // embedding-norm histogram — the scale/collapse monitor v9's
      // angular histogram is blind to (cosine normalizes the norm
      // away): quarter-unit bins of each vector's L2 norm over the
      // WHOLE corpus. The squared norm runs through the fused
      // graft_dot kernel (bit-identical to DuckDB's list_dot_product
      // fold, the a1 gate); sqrt and the ·4 floor act on identical
      // doubles. One map-only pass into one map-combinable aggregate —
      // O(bins) output at any corpus size.
      val e = Tables.load(s, dir, "embeddings")
      e.select(floor(sqrt(
            Similarity.dot(col("embedding"), col("embedding"))) * 4)
          .cast("long").as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n_vecs"))
        .orderBy(col("bin"))
    },

    "v9_pair_sim_hist" -> { (s, dir) =>
      // pairwise-similarity histogram over a deterministic fixed-size
      // sample — the embedding-space health check ("is the space
      // collapsing?"): a healthy space piles mass near 0, a collapsed
      // one near 1. Sample = first 128 vectors in md5 order (the
      // LloydFitCap discipline: TakeOrdered prefix, BOUNDED at any
      // corpus size and shared verbatim by the oracle, unlike
      // xxhash64), so the all-pairs stage is a broadcast self-join of
      // a fixed 128-row frame — 8128 pairs whether the corpus is 4k
      // vectors or 100 TB. Cosines run through the fused graft_cosine
      // kernel (bit-identical to DuckDB's list_dot_product fold, the
      // a1 gate); bin = floor(10·sim) on identical doubles.
      val e = Tables.load(s, dir, "embeddings")
      val sample = e
        .select(col("vec_id"), col("embedding"))
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(128)
      val a = sample.select(col("vec_id").as("ida"), col("embedding").as("ea"))
      val b = sample.select(col("vec_id").as("idb"), col("embedding").as("eb"))
      a.join(broadcast(b), col("ida") < col("idb"))
        .select(floor(Similarity.cosine(col("ea"), col("eb")) * 10)
          .cast("long").as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("bin"))
    },

    "v8_centroid_drift" -> { (s, dir) =>
      // per-label embedding-centroid drift between corpus snapshots —
      // the model-monitoring primitive ("did class 3's embedding
      // distribution move?") run as cosine between each label's base
      // and incoming-drop centroids (t20/x4's deterministic snapshot
      // convention: base = vec_id % 4 != 0). Each centroid is the d7
      // decimal-summed mean (partitioning-independent); the cosine's
      // dot and norms are decimal-routed sums of IEEE products over
      // the (label × dim)-bounded centroid frame — order-insensitive,
      // so the doubles replay exactly. Two corpus passes, then
      // O(labels × dims) everything.
      val e = Tables.loadFanned(s, dir, "embeddings")
      def cent(df: DataFrame, m: String, n: String): DataFrame =
        df.select(col("label"),
            posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy(col("label"), col("pos"))
          .agg(
            (sum(col("v").cast("double").cast("decimal(28,12)"))
              .cast("double") / count(lit(1))).as(m),
            count(lit(1)).as(n))
      val base = cent(e.filter(col("vec_id") % 4 =!= 0), "mb", "nb")
      val drop = cent(e.filter(col("vec_id") % 4 === 0), "mn", "nn")
      base.join(drop, Seq("label", "pos"))
        .groupBy(col("label"))
        .agg(
          max(col("nb")).as("n_base"), max(col("nn")).as("n_new"),
          sum((col("mb") * col("mn")).cast("decimal(28,12)"))
            .cast("double").as("dot"),
          sum((col("mb") * col("mb")).cast("decimal(28,12)"))
            .cast("double").as("bb"),
          sum((col("mn") * col("mn")).cast("decimal(28,12)"))
            .cast("double").as("nn2"))
        .select(col("label"), col("n_base"), col("n_new"),
          (col("dot") / (sqrt(col("bb")) * sqrt(col("nn2"))))
            .as("cos_sim"))
        .orderBy(col("label"))
    },

    "x12_source_cdf" -> { (s, dir) =>
      // per-source exact CDF calibration — "what fraction of my
      // source's documents are at most this long": the cross-source
      // score-normalization primitive. The scalable shape: cumulative
      // sums run over the DISTINCT (source, value) frame (bounded by
      // value cardinality, NOT document count — a per-source
      // percent_rank window would sort every source's documents in one
      // task), then one equi join assigns every document its CDF. One
      // scaled integer division; everything exact.
      val wnd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("n_chars"))
      val d = bucketedDocsShared(s, dir)
      val counts = d.groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("cnt"))
      val cum = counts.withColumn("cum", sum(col("cnt")).over(wnd))
      val tot = counts.groupBy(col("source")).agg(sum(col("cnt")).as("n_src"))
      d.select(col("doc_id"), col("source"), col("n_chars"))
        .join(cum.select(col("source"), col("n_chars"), col("cum")),
          Seq("source", "n_chars"))
        .join(broadcast(tot), Seq("source"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          expr("(1000000 * cum) div n_src").as("cdf_ppm"))
        .orderBy(col("doc_id"))
    },

    "e15_mad_outliers" -> { (s, dir) =>
      // robust per-user anomaly counting — median/MAD outlier detection
      // (the Hampel filter a telemetry pipeline runs per entity), made
      // cross-engine EXACT by using the LOWER median: the element at
      // rank (n+1) div 2 under the total order (value, event_id) — pure
      // SELECTION, no interpolation arithmetic, so both engines pick
      // the identical stored double. MAD = lower median of |v − med|
      // ordered by (deviation, event_id); an event is an outlier when
      // |v − med| > 3·MAD (one IEEE multiply — bit-identical). All
      // windows and joins are keyed by user_id — a user's history fits
      // a task at any corpus size; never a global sort.
      val wnd = org.apache.spark.sql.expressions.Window
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("value"))
      val n = e.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      val med = e
        .withColumn("rn", row_number().over(wnd.partitionBy(col("user_id"))
          .orderBy(col("value"), col("event_id"))))
        .join(n, Seq("user_id"))
        .filter(col("rn") === expr("(n_events + 1) div 2"))
        .select(col("user_id"), col("value").as("med"))
      val dev = e.join(med, Seq("user_id"))
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = dev
        .withColumn("rn", row_number().over(wnd.partitionBy(col("user_id"))
          .orderBy(col("adev"), col("event_id"))))
        .join(n, Seq("user_id"))
        .filter(col("rn") === expr("(n_events + 1) div 2"))
        .select(col("user_id"), col("adev").as("mad"))
      dev.join(mad, Seq("user_id"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          max(col("med")).as("med"), max(col("mad")).as("mad"),
          sum(when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy(col("user_id"))
    },

    "v7_truncation_recall" -> { (s, dir) =>
      // Matryoshka-style dimension-truncation evaluation: recall@10 of
      // the 16-dim-prefix cosine ranking against the full-dim ranking,
      // per query — the measurement that decides how many dimensions a
      // cheap ANN serving tier can drop. Both rankings reuse the a1
      // machinery (broadcast queries, fused codegen'd cosine,
      // bounded-heap TopKPerKey — never a per-query sort); the overlap
      // join meets two ≤ 10-rows-per-query frames. slice() keeps the
      // float array, so the truncated side widens float→double exactly
      // like the full side — DuckDB replays as cast-then-slice, which
      // is element-wise identical.
      val e = Tables.load(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
      def trunc(df: DataFrame): DataFrame =
        df.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
      val full = Similarity.bruteForceTopK(e, queries, k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val cut = Similarity.bruteForceTopK(trunc(e), trunc(queries), k = 10)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      full.join(cut, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
        .select(col("query_id"), col("n_overlap"),
          expr("(1000000 * n_overlap) div 10").as("recall_ppm"))
        .orderBy(col("query_id"))
    },

    "k9_bloom" -> { (s, dir) =>
      // membership-shard Bloom cube — "which documents does each source
      // shard contain", the set-membership column a cross-shard dedup
      // or decontamination pass probes before touching bodies. Per
      // (source, shard) m=4096-bit states (the 516-byte binary column a
      // daily pipeline persists), bit-OR-merged per source, then rolled
      // up to one corpus-level filter — the k4/k8 sketch-cube contract
      // at the Bloom memory point. The gate dumps SET BIT POSITIONS:
      // each is md5-slice arithmetic DuckDB recomputes exactly (unlike
      // Spark's built-in BloomFilterImpl, whose murmur layout is
      // JVM-private — the reason c3's prefilter is gated on its OUTPUT
      // while this sketch is gated on its STATE).
      val d = bucketedDocsShared(s, dir)
      val states = d
        .withColumn("shard", (col("doc_id") % 4).cast("int"))
        .groupBy(col("source"), col("shard"))
        .agg(call_function("graft_bloom_state", col("text"),
          lit(4096)).as("st"))
      val bySource = states.groupBy(col("source"))
        .agg(call_function("graft_bloom_merge", col("st"), lit(4096)).as("st"))
      val all = bySource.groupBy()
        .agg(call_function("graft_bloom_merge", col("st"), lit(4096)).as("st"))
        .select(lit("__all__").as("source"), col("st"))
      bySource.unionByName(all)
        .select(col("source"),
          explode(call_function("graft_bloom_positions", col("st"))).as("pos"))
        .orderBy(col("source"), col("pos"))
    },

    "g6_ktruss" -> { (s, dir) =>
      // k-truss community backbone over the t14 similarity graph —
      // edges supported by ≥ k−2 triangles after two peel rounds:
      // where g4's k-core keeps well-connected VERTICES, the truss
      // keeps edges whose endpoint NEIGHBORHOODS overlap — boilerplate
      // families survive, topic-bridge edges don't. k = 120 is tuned to
      // the gate corpus's support distribution (median 111) so both
      // rounds peel; 2 unrolled rounds (the g1/g4 fixed-round
      // discipline) replay exactly in the oracle. The pair subtree is
      // the persisted t14 index.
      Graph.kTruss(tfidfPairsShared(s, dir), k = 120, rounds = 2)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    "t21_rake" -> { (s, dir) =>
      // RAKE keyword extraction (Rose et al. 2010): candidate phrases
      // are maximal non-stopword runs (gaps-and-islands: run_id = the
      // running stopword count, a window PARTITIONED by doc); word
      // score = degree/freq over the doc's phrases carried as one
      // scaled integer division; phrase score = Σ member word scores
      // (exact longs); top-3 phrases per doc through the bounded-heap
      // TopKPerKey — never a per-doc sort. Phrase text is rebuilt
      // pos-ordered via array_sort(struct(pos, w)), so the unordered
      // window collect is deterministic. Every window and join is
      // keyed by doc_id — a doc's tokens fit one task at any scale.
      val wnd = org.apache.spark.sql.expressions.Window
      val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it",
        "that", "for")
      // BUCKETED corpus (r19): tokenize+posexplode rides the 32-bucket
      // scan, and every window/join/TopKPerKey below keys on doc_id —
      // the run_id window and the cover joins ride
      // hashpartitioning(doc_id) straight off the scan
      val d = bucketedDocsShared(s, dir)
      val tk = d.select(col("doc_id"),
          posexplode(TextFunctions.tokens(col("text"))))
        .select(col("doc_id"), (col("pos") + 1).as("pos"),
          col("col").as("w"),
          col("col").isInCollection(stop).cast("long").as("is_stop"))
      val runs = tk.withColumn("run_id",
          sum(col("is_stop")).over(
            wnd.partitionBy(col("doc_id")).orderBy(col("pos"))))
        .filter(col("is_stop") === 0)
      val pw = wnd.partitionBy(col("doc_id"), col("run_id"))
      val members = runs
        .withColumn("phrase_len", count(lit(1)).over(pw))
        .withColumn("phrase", array_join(transform(array_sort(
            collect_list(struct(col("pos"), col("w"))).over(pw)),
          x => x.getField("w")), " "))
      val wscore = members.groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("freq"), sum(col("phrase_len")).as("degree"))
        .select(col("doc_id"), col("w"),
          expr("(1000000 * degree) div freq").as("wscore_ppm"))
      val pscore = members.join(wscore, Seq("doc_id", "w"))
        .groupBy(col("doc_id"), col("run_id"), col("phrase"))
        .agg(sum(col("wscore_ppm")).as("score_ppm"))
        .select(col("doc_id"), col("phrase"), col("score_ppm"))
        .distinct()
      graft.plans.TopKPerKey(pscore, Seq(col("doc_id")),
          Seq(col("score_ppm").desc, col("phrase").asc), 3)
        .select(col("doc_id"), col("rank"), col("phrase"), col("score_ppm"))
        .orderBy(col("doc_id"), col("rank"))
    },

    "u3_bpe_distributed" -> { (s, dir) =>
      // cap-free DISTRIBUTED BPE merge learning (Sennrich ACL'16 at
      // corpus scale) — the twin of t5's driver-side trainer for when
      // the word vocabulary outgrows any driver fitCap: the frequency
      // table never leaves the cluster. Per round: one map-combinable
      // pair-count aggregate over the O(vocab) symbol table, a ONE-ROW
      // argmax (TakeOrderedAndProject — per-partition top-1, no global
      // sort) broadcast back, a codegen'd HOF fold applying the merge
      // left-to-right non-overlapping inside each word. Same semantics
      // as the driver loop (</w> sentinel, (a,b) tie-break) so both
      // trainers learn identical merges; exact longs + deterministic
      // fold = bit-exact replay. Gated on the en slice (per-language
      // tokenizer — the production shape), 2 unrolled rounds: emits
      // (round, a, b, cnt, n_syms), the compression trace.
      val docs = bucketedDocsShared(s, dir)
        .filter(col("lang") === "en")
      Tokenizer.distributedMergeRounds(docs, rounds = 2)
    },

    "u5_tokenizer_fertility" -> { (s, dir) =>
      // per-language tokenizer fertility under the u4 merge table —
      // the "is MY tokenizer fair to language X" audit (fertility =
      // subwords per word; bytes per subword = how much raw text one
      // training token buys): the standard multilingual-tokenizer
      // health check, and the input to x13-style per-language token
      // budgets. Same fused map-only corpus pass as u4 (the merge
      // table rides inside the codegen'd segment expression; byte
      // totals fold over the token array in one codegen'd lambda),
      // then ONE map-combinable O(langs) aggregate — exact longs and
      // scaled integer divisions end to end.
      val merges = BpeMerges
      val d = bucketedDocsShared(s, dir)
      val toks = TextFunctions.tokens(col("text"))
      d.select(col("lang"),
          size(toks).cast("long").as("nw"),
          size(Tokenizer.segment(col("text"), merges)).cast("long").as("ns"),
          aggregate(toks, lit(0L), (acc, x) => acc + octet_length(x))
            .as("nb"))
        .filter(col("nw") > 0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"),
          sum(col("ns")).as("n_subwords"), sum(col("nb")).as("n_bytes"))
        .withColumn("fertility_ppm",
          expr("(1000000 * n_subwords) div n_words"))
        .withColumn("bytes_per_subword_ppm",
          expr("(1000000 * n_bytes) div n_subwords"))
        .orderBy(col("lang"))
    },

    "u6_unigram_lm" -> { (s, dir) =>
      // SentencePiece-style unigram-LM tokenizer trainer (Kudo ACL'18)
      // — the EM alternative to u3's BPE: substring-seeded vocabulary,
      // a distributed RELATIONAL Viterbi E-step (min-plus rounds over
      // the (word, pos) DAG, the g13 unroll pattern, one piece-table
      // shuffle), and a prune M-step keeping chars + the vocabTarget
      // most-used pieces. Integer-exact throughout: piece costs are
      // BIT LENGTHS ((bits(N) − bits(S_p))·1024 + 1 — bin() is the
      // engine-shared exact log2; libm ln is not), the DP tie-break is
      // the (cost, path)-lexicographic struct-min, usage is weighted
      // exact longs. Trained at the DISTINCT-WORD level (u4's oracle
      // discipline) over the fitCap'd word table; words > maxWordLen
      // chars or containing U+001F are excluded (documented contract,
      // mirrored in the oracle). Per-round localCheckpoint bounds the
      // DP lineage (trainer fit cost, the g9 discipline).
      // BUCKETED corpus (r19): the word-table extraction runs over the
      // 32-bucket scan — no round-robin text exchange
      Tokenizer.unigramLm(bucketedDocsShared(s, dir))
    },

    "u4_bpe_encode" -> { (s, dir) =>
      // BPE tokenizer APPLICATION at corpus scale — the serving half of
      // the u3/t5 trainers: segment every document with a fixed merge
      // table and report per-doc subword counts plus the
      // subwords-per-word ratio (exact ppm) — the "how many training
      // tokens is this corpus under MY tokenizer" question every data
      // budget starts from. The table rides as a codegen reference
      // object inside the rank-greedy Tokenizer.segment expression
      // (O(numMerges) driver state, the Lloyd-centroid discipline), so
      // the corpus side is ONE map-only fused pass — no join, no
      // shuffle, no per-word vocabulary exchange. The merge table is a
      // fixed literal chain (each rule consumes only chars or outputs
      // of EARLIER rules — the learned-table property that makes
      // rank-greedy ≡ sequential application), so DuckDB replays it
      // with six list_reduce folds at the distinct-word level.
      val merges = BpeMerges
      val d = bucketedDocsShared(s, dir)
      d.select(col("doc_id"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_words"),
          size(Tokenizer.segment(col("text"), merges)).cast("long")
            .as("n_subwords"))
        .filter(col("n_words") > 0)
        .withColumn("spw_ppm", expr("(1000000 * n_subwords) div n_words"))
        .orderBy(col("doc_id"))
    },

    "u7_unigram_encode" -> { (s, dir) =>
      // Unigram-LM tokenizer APPLICATION at corpus scale — the serving
      // half of the u6 trainer, u4's shape for the unigram model:
      // Viterbi-segment every document under a FIXED piece table and
      // report per-doc piece counts plus the pieces-per-word ratio
      // (exact ppm). The table rides as a codegen reference object
      // inside the Tokenizer.unigramSegment expression (O(vocab)
      // driver state), so the corpus side is ONE map-only fused pass —
      // no join, no shuffle, no per-word vocabulary exchange. Total by
      // construction: any character segments at the fallback charCost,
      // and words past the 12-char trainer contract fall back to
      // char-per-piece (both rules replayed exactly by the oracle's
      // 12-round unrolled relational DP at the distinct-word level).
      val d = bucketedDocsShared(s, dir)
      d.select(col("doc_id"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_words"),
          size(Tokenizer.unigramSegment(col("text"), UnigramPieces,
            UnigramCharCost)).cast("long").as("n_pieces"))
        .filter(col("n_words") > 0)
        .withColumn("ppw_ppm", expr("(1000000 * n_pieces) div n_words"))
        .orderBy(col("doc_id"))
    },

    "u13_unigram_em" -> { (s, dir) =>
      // one EM re-estimation round for the unigram-LM tokenizer (Kudo
      // ACL'18's iterate step, hard/Viterbi-EM form) — the loop u6
      // seeds and u7 serves: E-step Viterbi usage under the FIXED
      // UnigramPieces model (the u7 serving expression — one map-only
      // fused corpus pass, model as codegen reference object), M-step
      // costs re-estimated from usage share in the exact bit-length
      // metric ((bits(N) − bits(n_uses))·1024 + 1 — the u6 cost
      // discipline; bin() is engine-shared exact, libm ln is not).
      // Never-used pieces drop (the EM prune — zero posterior mass
      // under the hard E-step); the serving charCost fallback keeps
      // the next round total, so iterating is feeding the output back
      // in. One corpus-sized aggregate; the M-step runs on the
      // O(vocab) frame.
      Tokenizer.unigramEmStep(bucketedDocsShared(s, dir),
          UnigramPieces, UnigramCharCost)
        .orderBy(col("piece"))
    },

    "u14_unigram_em_converged" -> { (s, dir) =>
      // unigram EM iterated (Kudo ACL'18's loop, not just u13's one
      // round) — the FIXED-ROUND form for the gate (the g9 tol-zero
      // discipline): exactly two EM rounds from the shared seed model,
      // each a fused map-only corpus pass + one aggregate + an
      // O(vocab) collect, the next round's model riding as a codegen
      // reference object. The oracle is GENERATED by unrolling the
      // relational Viterbi DP twice — the second chain's piece costs
      // fed by the first chain's re-estimated model — so hash-green
      // pins the loop arithmetic end to end. The converge-or-maxIters
      // form (model-fixpoint detection, vocab monotonically
      // shrinking) is spec-pinned loop ≡ unrolled.
      Tokenizer.unigramEmConverged(bucketedDocsShared(s, dir),
          UnigramPieces, UnigramCharCost, maxIters = 2,
          runToFixpoint = false)
        .orderBy(col("piece"))
    },

    "u8_tokenizer_compare" -> { (s, dir) =>
      // tokenizer-selection eval: per-language fertility of the u4 BPE
      // table vs the u7 unigram-LM table over the SAME corpus — the
      // side-by-side every "which tokenizer do we train with" decision
      // reads (a tokenizer that is cheap on English and 2× on Thai
      // taxes every Thai training token). BOTH segmenters run inside
      // one fused map-only corpus pass (two codegen'd expressions over
      // the same row — no second scan, no join, no shuffle beyond the
      // O(langs) aggregate); fertilities and their delta are exact
      // scaled integer divisions.
      val merges = BpeMerges
      val d = bucketedDocsShared(s, dir)
      val toks = TextFunctions.tokens(col("text"))
      d.select(col("lang"),
          size(toks).cast("long").as("nw"),
          size(Tokenizer.segment(col("text"), merges)).cast("long").as("ns"),
          size(Tokenizer.unigramSegment(col("text"), UnigramPieces,
            UnigramCharCost)).cast("long").as("np"))
        .filter(col("nw") > 0)
        .groupBy(col("lang"))
        .agg(sum(col("nw")).as("n_words"),
          sum(col("ns")).as("n_subwords"), sum(col("np")).as("n_pieces"))
        .withColumn("bpe_ppm", expr("(1000000 * n_subwords) div n_words"))
        .withColumn("uni_ppm", expr("(1000000 * n_pieces) div n_words"))
        .withColumn("delta_ppm", expr("bpe_ppm - uni_ppm"))
        .orderBy(col("lang"))
    },

    "u9_kneser_ney" -> { (s, dir) =>
      // interpolated Kneser-Ney bigram estimation (Kneser & Ney
      // ICASSP'95; Chen & Goodman's interpolated form) — the
      // count-based LM trainer behind serious n-gram quality filters,
      // where u2's stupid backoff is the cheap web-scale shortcut:
      // P(w2|w1) = max(c12 − D, 0)/c1· + λ(w1)·P_cont(w2) with
      // λ(w1) = D·N1+(w1·)/c1· and P_cont(w2) = N1+(·w2)/N1+(··) —
      // the CONTINUATION count (how many distinct left contexts w2
      // follows) replacing raw frequency, the fix for "Francisco is
      // frequent but only ever follows San". The discount D = 3/4 is
      // carried EXACTLY as the rational 3/4 (the u2/d17 discipline), so
      // both additive terms are single scaled integer divisions and the
      // whole table replays bit-for-bit in SQL. Every statistic is a
      // map-combinable aggregate over the bigram-type frame (S(w1,w2)
      // count, then S(w1)/S(w2) rollups — never a window, never a
      // per-context sort); only the 1-row type total broadcasts.
      // Int64 headroom: 3e6·N1+(w1·)·N1+(·w2) wraps past ~1.7e6 distinct
      // types per side, so cont_ppm decimal-routes its factors (the
      // t19/g7 discipline): decimal(38,0) carries the product exactly
      // and ANSI overflow raises loudly instead of wrapping; `div` on
      // decimals still yields BIGINT, so the output schema is unchanged.
      // Output floored at c12 >= 2 (the u1 Heaps'-law bound).
      val d = bucketedDocsShared(s, dir)
      val toks = d.select(TextFunctions.tokens(col("text")).as("toks"))
      val occ = toks.select(
          explode(TextFunctions.wordShingles(col("toks"), 2)).as("gram"))
        .select(substring_index(col("gram"), " ", 1).as("w1"),
          substring_index(col("gram"), " ", -1).as("w2"))
      val big = Dedup.persistPublic(
        occ.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
      val left = big.groupBy(col("w1"))
        .agg(sum(col("c12")).as("c1dot"), count(lit(1)).as("n1p_right"))
      val cont = big.groupBy(col("w2")).agg(count(lit(1)).as("n1p_left"))
      val totTypes = big.agg(count(lit(1)).as("n_types"))
      big.filter(col("c12") >= 2)
        .join(left, Seq("w1"))
        .join(cont, Seq("w2"))
        .crossJoin(broadcast(totTypes))
        .select(col("w1"), col("w2"), col("c12"), col("c1dot"),
          col("n1p_right"), col("n1p_left"),
          expr("(1000000 * (4 * c12 - 3)) div (4 * c1dot)").as("disc_ppm"),
          expr("(3000000 * cast(n1p_right as decimal(19,0)) * n1p_left)" +
              " div (4 * cast(c1dot as decimal(19,0)) * n_types)")
            .as("cont_ppm"))
        .withColumn("p_ppm", col("disc_ppm") + col("cont_ppm"))
        .orderBy(col("w1"), col("w2"))
    },

    "u11_byte_merges" -> { (s, dir) =>
      // cap-free DISTRIBUTED byte-level BPE merge learning — u3's
      // cluster trainer in u10's symbol domain, completing byte-level
      // parity end to end (driver trainer learnByteBpeMerges, codegen
      // encoder byteSegment, and now the trainer for corpora whose word
      // vocabulary outgrows any driver fitCap). Symbolization is
      // composable built-ins only (encode → per-byte substr → conv(hex)
      // → element_at into the 256-entry remap literal), so the whole
      // round is codegen'd SQL and the oracle replays the identical
      // arithmetic. NO U+001F exclusion — remapped byte symbols are
      // printable by construction, the byte domain's robustness
      // argument made visible. Gated on the en slice (per-language
      // tokenizer), 2 unrolled rounds: (round, a, b, cnt, n_syms).
      val docs = bucketedDocsShared(s, dir)
        .filter(col("lang") === "en")
      Tokenizer.distributedByteMergeRounds(docs, rounds = 2)
    },

    "u12_tokenizer_coverage" -> { (s, dir) =>
      // unigram-table COVERAGE audit, per language: the fraction of
      // distinct (lang, word) types whose Viterbi segmentation applies
      // NO learned multi-character piece — pure char-fallback words are
      // tokenizer dead weight (every such word costs len(word) pieces),
      // and a language whose fallback share is high is being taxed by a
      // vocabulary fit elsewhere (the coverage half of u5's fertility
      // audit; the number a vocab-size/retrain decision reads). Words
      // past the 12-char serving contract fall back by construction and
      // count as uncovered (documented, same rule as u7). One distinct
      // type frame, the codegen'd segmenter map-side, one O(langs)
      // aggregate — piece lengths fold in the same pass. Piece-length
      // test uses length() (UTF-16 units) as the code-point proxy — the
      // unigramLm trainer's own single-char convention; exact on any
      // BMP corpus, and the UnigramPieces table is ASCII so a learned
      // piece always has length > 1 in both engines.
      val d = bucketedDocsShared(s, dir)
      val types = d.select(col("lang"),
          explode(TextFunctions.tokens(col("text"))).as("w"))
        .distinct()
      types.select(col("lang"),
          (size(filter(
            Tokenizer.unigramSegment(col("w"), UnigramPieces,
              UnigramCharCost),
            p => length(p) > 1)) === 0).as("fb"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_types"),
          sum(when(col("fb"), 1L).otherwise(0L)).as("n_fallback"))
        .withColumn("fallback_ppm",
          expr("(1000000 * n_fallback) div n_types"))
        .orderBy(col("lang"))
    },

    "u10_byte_bpe" -> { (s, dir) =>
      // BYTE-LEVEL BPE encode at corpus scale (the GPT-2/LLaMA-class
      // production tokenizer shape — Radford et al. 2019's
      // bytes_to_unicode remap; Sennrich ACL'16 merges over the 256-
      // symbol byte alphabet): u4's serving pass with the symbol domain
      // swapped from code points to remapped UTF-8 bytes, closing the
      // u-family's code-point-only gap. Byte-level is what production
      // trainers ship because 256 base symbols reach EVERY string — no
      // unknown-character escape hatch — at the cost of splitting
      // non-ASCII code points into 2-4 byte symbols (the divergence the
      // ASCII-equivalence spec pins). Same scale shape as u4: the merge
      // table rides as a codegen reference object inside the rank-greedy
      // Tokenizer.byteSegment expression, ONE map-only fused corpus pass,
      // no join/shuffle/vocabulary exchange; per-doc byte counts fold in
      // the same pass (octet_length ≡ UTF-8 byte count ≡ base symbol
      // count before merging). bytes-per-subword is the byte-level
      // compression ratio — THE tokenizer-quality headline number.
      val d = bucketedDocsShared(s, dir)
      val toks = TextFunctions.tokens(col("text"))
      d.select(col("doc_id"),
          size(toks).cast("long").as("n_words"),
          aggregate(toks, lit(0L), (acc, x) => acc + octet_length(x))
            .as("n_bytes"),
          size(Tokenizer.byteSegment(col("text"), ByteBpeMerges)).cast("long")
            .as("n_subwords"))
        .filter(col("n_words") > 0)
        .withColumn("spw_ppm", expr("(1000000 * n_subwords) div n_words"))
        .withColumn("bps_ppm", expr("(1000000 * n_bytes) div n_subwords"))
        .orderBy(col("doc_id"))
    },

    "u2_stupid_backoff" -> { (s, dir) =>
      // stupid-backoff bigram scoring (Brants et al. EMNLP'07 — the
      // web-scale LM rule that skips discount normalization): per
      // bigram occurrence, S(w2|w1) = c(w1 w2)/c(w1) when the bigram
      // count survives the floor, else 0.4·c(w2)/N — the 0.4 carried
      // EXACTLY as 2/5, every path one scaled integer division, the
      // per-doc sum exact longs (t15's conditional score without its
      // decimal routing — backoff keeps the whole gate in integers).
      // Count tables frequency-floored ≥ 2 (u1's Heaps'-law bound) and
      // broadcast; text never shuffles beyond the per-doc sum.
      val d = bucketedDocsShared(s, dir)
      val toks = d.select(col("doc_id"),
        TextFunctions.tokens(col("text")).as("toks"))
      val uni = toks.select(explode(col("toks")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cu"))
        .filter(col("cu") >= 2)
      val tot = toks.select(explode(col("toks")).as("w"))
        .agg(count(lit(1)).as("n_total"))
      val occ = toks.select(col("doc_id"), explode(
          TextFunctions.wordShingles(col("toks"), 2)).as("gram"))
        .select(col("doc_id"),
          substring_index(col("gram"), " ", 1).as("w1"),
          substring_index(col("gram"), " ", -1).as("w2"))
      val big = occ.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
        .filter(col("cb") >= 2)
      occ
        .join(broadcast(big), Seq("w1", "w2"), "left")
        .join(broadcast(uni.select(col("w").as("w1"), col("cu").as("c1"))),
          Seq("w1"), "left")
        .join(broadcast(uni.select(col("w").as("w2"), col("cu").as("c2"))),
          Seq("w2"), "left")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"),
          when(col("cb").isNotNull,
            expr("(1000000 * cb) div c1"))
          .when(col("c2").isNotNull,
            expr("(2 * 1000000 * c2) div (5 * n_total)"))
          .otherwise(lit(0L)).as("sc"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("sc")).as("score_sum"))
        .select(col("doc_id"), col("n_bigrams"), col("score_sum"),
          expr("score_sum div n_bigrams").as("mean_ppm"))
        .orderBy(col("doc_id"))
    },

    "t22_sentences" -> { (s, dir) =>
      // sentence segmentation stats — the mean-sentence-length quality
      // feature (short choppy sentences and unbroken walls of text both
      // flag low quality): sentences = non-blank runs between [.!?]
      // terminator groups, one regex split both engines interpret
      // identically (no \s — the Java/RE2 divergence); tokens-per-
      // sentence is one scaled integer division. Pure per-row map work —
      // no shuffle beyond the final order.
      val d = bucketedDocsShared(s, dir)
      d.select(col("doc_id"),
          size(filter(split(col("text"), "[.!?]+"),
            x => length(regexp_replace(x, "[ \t\n\f\r]+", "")) > 0))
            .cast("long").as("n_sent"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok"))
        .select(col("doc_id"), col("n_sent"), col("n_tok"),
          when(col("n_sent") > 0,
            expr("(1000000 * n_tok) div n_sent")).otherwise(lit(0L))
            .as("tok_per_sent_ppm"))
        .orderBy(col("doc_id"))
    },

    "x11_dataset_card" -> { (s, dir) =>
      // dataset-card generator — the one-row governance summary a
      // corpus release ships with, computed in ONE distributed
      // aggregate pass (every statistic map-combinable or a standard
      // two-level distinct) + one tiny unpivot: doc/token/vocab
      // counts, language/source cardinalities, exact-dup rate (ppm of
      // docs whose text appears more than once — derived from
      // distinct-text count), and mean tokens/doc. All integers.
      val d = bucketedDocsShared(s, dir)
      val toks = d.select(col("doc_id"), col("lang"), col("source"),
        col("text"), size(TextFunctions.tokens(col("text")))
          .cast("long").as("n_tok"))
      val agg = toks.agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("text")).as("n_distinct_texts"))
      agg.select(expr(
        """stack(6,
          |  'n_docs', n_docs,
          |  'n_tokens', n_tokens,
          |  'n_langs', n_langs,
          |  'n_sources', n_sources,
          |  'dup_doc_ppm', (1000000 * (n_docs - n_distinct_texts)) div n_docs,
          |  'mean_doc_tokens_ppm', (1000000 * n_tokens) div n_docs)
          |  AS (stat, value)""".stripMargin))
        .orderBy(col("stat"))
    }
  )


  // ---- shared oracle SQL fragments (single source of truth for the
  // quality formula and language markers — t2/t3/p1 compose from these,
  // mirroring how the Spark side shares graft_text_stats) ----------------

  /** Shared by g8 (unrolled) and g9 (the checkpointed fixpoint loop at
    * tol = 0 / maxIters = 3): 3 rounds of DIRECTED PageRank with
    * dangling-mass redistribution over the canonical doc_a → doc_b
    * tf-idf pair edges — per round, `dl_k` is the decimal-routed rank
    * sum over out-degree-0 vertices, teleported back uniformly.
    */
  private val PagerankDanglingSql: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
      |                x -> len(x) > 0) AS toks
      |  FROM documents),
      |idx AS (
      |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
      |  FROM tok WHERE len(toks) >= 2),
      |tf AS (
      |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram,
      |    count(*) AS tf
      |  FROM idx GROUP BY doc_id, gram),
      |dfreq AS (
      |  SELECT gram, count(*) AS df FROM tf
      |  GROUP BY gram HAVING count(*) BETWEEN 2 AND 25),
      |p AS (SELECT tf.doc_id, tf.gram FROM tf JOIN dfreq USING (gram)),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id),
      |edges AS (SELECT doc_a, doc_b FROM pairs),
      |deg AS (SELECT doc_a, count(*) AS deg FROM edges GROUP BY doc_a),
      |nn AS (SELECT count(*) AS n FROM documents),
      |r0 AS (SELECT d.doc_id, CAST(1.0 AS DOUBLE) / nn.n AS r
      |       FROM documents d CROSS JOIN nn),
      |dl0 AS (
      |  SELECT CAST(coalesce(sum(CAST(p.r AS DECIMAL(28,18))), 0) AS DOUBLE) AS dm
      |  FROM r0 p LEFT JOIN deg g ON p.doc_id = g.doc_a
      |  WHERE g.doc_a IS NULL),
      |r1 AS (
      |  SELECT d.doc_id, CAST(0.15 AS DOUBLE) / nn.n
      |      + CAST(0.85 AS DOUBLE) * (coalesce(s.m, 0.0) + dl0.dm / nn.n) AS r
      |  FROM documents d CROSS JOIN nn CROSS JOIN dl0 LEFT JOIN (
      |    SELECT e.doc_b,
      |      CAST(sum(CAST(p.r / g.deg AS DECIMAL(28,18))) AS DOUBLE) AS m
      |    FROM edges e JOIN r0 p ON e.doc_a = p.doc_id
      |    JOIN deg g ON e.doc_a = g.doc_a
      |    GROUP BY e.doc_b) s ON d.doc_id = s.doc_b),
      |dl1 AS (
      |  SELECT CAST(coalesce(sum(CAST(p.r AS DECIMAL(28,18))), 0) AS DOUBLE) AS dm
      |  FROM r1 p LEFT JOIN deg g ON p.doc_id = g.doc_a
      |  WHERE g.doc_a IS NULL),
      |r2 AS (
      |  SELECT d.doc_id, CAST(0.15 AS DOUBLE) / nn.n
      |      + CAST(0.85 AS DOUBLE) * (coalesce(s.m, 0.0) + dl1.dm / nn.n) AS r
      |  FROM documents d CROSS JOIN nn CROSS JOIN dl1 LEFT JOIN (
      |    SELECT e.doc_b,
      |      CAST(sum(CAST(p.r / g.deg AS DECIMAL(28,18))) AS DOUBLE) AS m
      |    FROM edges e JOIN r1 p ON e.doc_a = p.doc_id
      |    JOIN deg g ON e.doc_a = g.doc_a
      |    GROUP BY e.doc_b) s ON d.doc_id = s.doc_b),
      |dl2 AS (
      |  SELECT CAST(coalesce(sum(CAST(p.r AS DECIMAL(28,18))), 0) AS DOUBLE) AS dm
      |  FROM r2 p LEFT JOIN deg g ON p.doc_id = g.doc_a
      |  WHERE g.doc_a IS NULL),
      |r3 AS (
      |  SELECT d.doc_id, CAST(0.15 AS DOUBLE) / nn.n
      |      + CAST(0.85 AS DOUBLE) * (coalesce(s.m, 0.0) + dl2.dm / nn.n) AS r
      |  FROM documents d CROSS JOIN nn CROSS JOIN dl2 LEFT JOIN (
      |    SELECT e.doc_b,
      |      CAST(sum(CAST(p.r / g.deg AS DECIMAL(28,18))) AS DOUBLE) AS m
      |    FROM edges e JOIN r2 p ON e.doc_a = p.doc_id
      |    JOIN deg g ON e.doc_a = g.doc_a
      |    GROUP BY e.doc_b) s ON d.doc_id = s.doc_b)
      |SELECT doc_id, r FROM r3 ORDER BY doc_id""".stripMargin

  /** Fixed BPE merge table shared by u4 (per-doc encode) and u5
    * (per-lang fertility) — ONE source of truth so the two gates can
    * never silently diverge on the tokenizer; a literal chain (each
    * rule consumes only chars or outputs of earlier rules), which is
    * what makes rank-greedy segmentation ≡ sequential application and
    * lets DuckDB replay it with list_reduce folds.
    */
  private[graft] val BpeMerges: Seq[(String, String)] = Seq(
    ("s", "t"), ("a", "st"), ("f", "ast"),
    ("h", "a"), ("ha", "s"), ("has", "h"))

  /** Fixed BYTE-LEVEL merge table for u10 — the u4 fixed-model
    * discipline over the GPT-2 remapped byte alphabet
    * ([[graft.operators.Tokenizer.ByteRemap]]). Each rule consumes only
    * base byte symbols or outputs of EARLIER rules (the learned-table
    * property that makes rank-greedy ≡ sequential application), and all
    * rule strings are printable ASCII so the oracle carries them as
    * plain SQL literals. Includes sentinel merges (`the</w>`, `ow</w>`)
    * — the whole-word/suffix tokens a real learned table is full of.
    */
  private[graft] val ByteBpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("the", "</w>"),
    ("i", "n"), ("o", "w"), ("ow", "</w>"),
    ("w", "in"), ("win", "d"))

  /** Fixed unigram-LM piece table for u7 (per-doc unigram encode) —
    * the u4 fixed-model discipline applied to the unigram serving
    * half: piece → per-use cost, every cost ≡ 1 (mod 1024) so the
    * piece count of any min-cost path is `cost mod 1024` (counts are
    * tie-invariant); [[UnigramCharCost]] is the always-available
    * single-character fallback, priced above every explicit piece's
    * per-character share so learned pieces win where they apply. ONE
    * source of truth: the Spark expression's reference object and the
    * oracle's VALUES list are both generated from this Seq.
    */
  private[graft] val UnigramPieces: Seq[(String, Long)] = Seq(
    ("ta" -> 7169L), ("tab" -> 8193L), ("le" -> 7169L),
    ("val" -> 8193L), ("ue" -> 7169L), ("er" -> 7169L),
    ("in" -> 7169L), ("st" -> 7169L), ("or" -> 7169L),
    ("ow" -> 7169L), ("ro" -> 7169L), ("at" -> 7169L),
    ("ar" -> 7169L), ("an" -> 7169L), ("me" -> 7169L),
    ("scan" -> 9217L), ("fast" -> 9217L), ("data" -> 9217L),
    ("part" -> 9217L), ("join" -> 9217L), ("sort" -> 9217L),
    ("line" -> 9217L), ("hash" -> 9217L), ("wind" -> 9217L),
    ("row" -> 8193L), ("key" -> 8193L), ("agg" -> 8193L),
    ("the" -> 8193L), ("a" -> 5121L))

  /** u7's single-code-point fallback cost (6·1024 + 1). */
  private[graft] val UnigramCharCost: Long = 6145L

  /** Shared similarity-graph oracle fragment (the g-series edge set):
    * t14's tf-idf banded bigram pairs over `documents`, symmetrized to
    * `edges(doc_a, doc_b)` — the CTE chain g1's oracle spells out,
    * factored for the g15 family.
    */
  private val SimGraphCtes: String =
    """tok AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
      |                x -> len(x) > 0) AS toks
      |  FROM documents),
      |idx AS (
      |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
      |  FROM tok WHERE len(toks) >= 2),
      |tf AS (
      |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram,
      |    count(*) AS tf
      |  FROM idx GROUP BY doc_id, gram),
      |dfreq AS (
      |  SELECT gram, count(*) AS df FROM tf
      |  GROUP BY gram HAVING count(*) BETWEEN 2 AND 25),
      |p AS (SELECT tf.doc_id, tf.gram FROM tf JOIN dfreq USING (gram)),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id),
      |edges AS (
      |  SELECT doc_a, doc_b FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs)""".stripMargin

  /** u7 oracle fragment: [[Tokenizer.UnigramMaxWordLen]] unrolled
    * min-plus rounds of the relational Viterbi (the u6 DP shape) over
    * `wshort(w)` distinct words with edges from the fixed
    * [[UnigramPieces]] VALUES list + the char fallback, ending in
    * per-word piece counts `wl(w, n_pieces)` (long words contribute
    * one piece per character — the documented fallback). The caller's
    * CTE list must define `occ(..., w)`.
    */
  private def unigramServeCtes: String = unigramServeCtes("wl")

  /** Variant with a caller-chosen name for the final per-word
    * piece-count CTE, so u8 can splice this chain and [[BpeFoldCtes]]
    * (whose final CTE is also `wl`) into ONE oracle.
    */
  private def unigramServeCtes(wlName: String): String =
    s"""$unigramDpCtes,
      |$wlName AS (
      |  SELECT uN.w, CAST(len(list_filter(string_split(uN.path, chr(31)),
      |    x -> len(x) > 0)) AS BIGINT) AS n_pieces
      |  FROM u${graft.operators.Tokenizer.UnigramMaxWordLen} uN
      |  JOIN wshort ws ON uN.w = ws.w AND uN.pos = length(ws.w)
      |  UNION ALL
      |  SELECT w, CAST(length(w) AS BIGINT) AS n_pieces
      |  FROM wd WHERE length(w) > 12)""".stripMargin

  /** Variant ending in the per-word piece LIST `<plName>(w, pieces)`
    * instead of a count — the u13 EM E-step needs piece IDENTITIES to
    * aggregate usage (long words contribute their code points, the
    * serving fallback).
    */
  private def unigramPieceListCtes(plName: String): String =
    s"""$unigramDpCtes,
      |$plName AS (
      |  SELECT uN.w, list_filter(string_split(uN.path, chr(31)),
      |    x -> len(x) > 0) AS pieces
      |  FROM u${graft.operators.Tokenizer.UnigramMaxWordLen} uN
      |  JOIN wshort ws ON uN.w = ws.w AND uN.pos = length(ws.w)
      |  UNION ALL
      |  SELECT w, regexp_extract_all(w, '.') AS pieces
      |  FROM wd WHERE length(w) > 12)""".stripMargin

  /** The shared relational-Viterbi DP chain over `occ`'s distinct words
    * under the fixed [[UnigramPieces]] table (edges + unrolled min-plus
    * rounds, final state in `u<maxWordLen>`), with no result CTE — the
    * serve/piece-list variants append their own tail.
    */
  /** s15's full row_number replay — shared verbatim by the s16
    * incremental form, whose merged index is bit-identical to the
    * rebuild this SQL performs.
    */
  private val CurriculumManifestSql: String =
    """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS wt2
        |  FROM documents GROUP BY source),
        |t2 AS (SELECT CAST(sum(wt2) AS BIGINT) AS wtot FROM c),
        |b2 AS (
        |  SELECT source,
        |    (1000 * wt2) // t2.wtot AS base_n,
        |    (1000 * wt2) % t2.wtot AS rem
        |  FROM c, t2),
        |l2 AS (SELECT 1000 - CAST(sum(base_n) AS BIGINT) AS leftover FROM b2),
        |r2 AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk
        |       FROM b2),
        |qt AS (
        |  SELECT source,
        |    CAST(base_n + CASE WHEN rk <= l2.leftover THEN 1 ELSE 0 END
        |      AS BIGINT) AS q_temp
        |  FROM r2, l2),
        |tp AS (SELECT CAST(sum(n_docs) AS BIGINT) AS wtot FROM c),
        |bp AS (
        |  SELECT source,
        |    (1000 * n_docs) // tp.wtot AS base_n,
        |    (1000 * n_docs) % tp.wtot AS rem
        |  FROM c, tp),
        |lp AS (SELECT 1000 - CAST(sum(base_n) AS BIGINT) AS leftover FROM bp),
        |rp AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk
        |       FROM bp),
        |qp AS (
        |  SELECT source,
        |    CAST(base_n + CASE WHEN rk <= lp.leftover THEN 1 ELSE 0 END
        |      AS BIGINT) AS q_prop
        |  FROM rp, lp),
        |e AS (SELECT CAST(unnest(generate_series(0, 3)) AS BIGINT) AS epoch),
        |x AS (
        |  SELECT e.epoch, qt.source,
        |    (3 - e.epoch) * qt.q_temp + e.epoch * qp.q_prop AS rr
        |  FROM qt JOIN qp USING (source), e),
        |y AS (SELECT epoch, source, rr // 3 AS base_n, rr % 3 AS rem FROM x),
        |lo AS (SELECT epoch, 1000 - CAST(sum(base_n) AS BIGINT) AS leftover
        |       FROM y GROUP BY epoch),
        |rr2 AS (SELECT y.*, row_number() OVER (PARTITION BY y.epoch
        |          ORDER BY y.rem DESC, y.source) AS rk FROM y),
        |quotas AS (
        |  SELECT rr2.epoch, rr2.source,
        |    CAST(rr2.base_n + CASE WHEN rr2.rk <= lo.leftover THEN 1 ELSE 0 END
        |      AS BIGINT) AS quota
        |  FROM rr2 JOIN lo USING (epoch)),
        |picks AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
        |  FROM documents)
        |SELECT q.epoch, p.source, CAST(p.rank AS BIGINT) AS rank, p.doc_id
        |FROM picks p JOIN quotas q USING (source)
        |WHERE p.rank <= q.quota
        |ORDER BY q.epoch, p.source, p.rank""".stripMargin

  /** The VALUES literal for the seed [[UnigramPieces]] model. */
  private def unigramPieceValues: String = UnigramPieces
    .map { case (p, c) => s"('${p}', CAST($c AS BIGINT))" }
    .mkString(", ")

  /** Model-INDEPENDENT word/substring enumeration CTEs (wd, wshort,
    * usp) — shared by every DP instance in one oracle (the u14
    * unrolled-EM form runs two DP chains over the same words).
    */
  private val UnigramWordCtes: String =
    """wd AS (SELECT DISTINCT w FROM occ),
      |wshort AS (SELECT w FROM wd WHERE length(w) <= 12),
      |usp AS MATERIALIZED (
      |  SELECT w, j, l, substring(w, CAST(j + 1 AS INTEGER),
      |    CAST(l AS INTEGER)) AS piece
      |  FROM (
      |    SELECT w, j, unnest(generate_series(1, least(4, length(w) - j))) AS l
      |    FROM (
      |      SELECT w, unnest(generate_series(0, length(w) - 1)) AS j
      |      FROM wshort) t0) t1)""".stripMargin

  /** One relational-Viterbi DP chain, parameterized by CTE prefix and
    * the pieces RELATION `piecesRel(piece, pcost)` it scores against —
    * `<px>edges`, `<px>0` … `<px>12`. Two instances with distinct
    * prefixes compose in one WITH list (the u14 unrolled EM), the
    * second's pieces fed by the first's re-estimated model.
    */
  private def unigramDpRounds(px: String, piecesRel: String): String = {
    val rounds = (1 to graft.operators.Tokenizer.UnigramMaxWordLen).map { r =>
      val prev = s"$px${r - 1}"
      s"""$px$r AS MATERIALIZED (
        |  SELECT w, pos, struct_extract(b, 'cost') AS cost,
        |    struct_extract(b, 'path') AS path
        |  FROM (
        |    SELECT w, pos, min({'cost': cost, 'path': path}) AS b FROM (
        |      SELECT w, pos, cost, path FROM $prev
        |      UNION ALL
        |      SELECT $prev.w, e.k AS pos, $prev.cost + e.cost AS cost,
        |        $prev.path || chr(31) || e.piece AS path
        |      FROM $prev JOIN ${px}edges e ON $prev.w = e.w AND $prev.pos = e.j) q
        |    GROUP BY w, pos) g)""".stripMargin
    }.mkString(",\n")
    s"""${px}edges AS MATERIALIZED (
      |  SELECT s.w, s.j, s.j + s.l AS k, s.piece,
      |    CASE WHEN s.l = 1
      |      THEN least(coalesce(p.pcost, 9223372036854775807), 6145)
      |      ELSE p.pcost END AS cost
      |  FROM usp s LEFT JOIN $piecesRel p ON s.piece = p.piece
      |  WHERE s.l = 1 OR p.piece IS NOT NULL),
      |${px}0 AS MATERIALIZED (
      |  SELECT w, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS cost,
      |    '' AS path
      |  FROM wshort),
      |$rounds""".stripMargin
  }

  private def unigramDpCtes: String =
    s"""upieces(piece, pcost) AS (VALUES $unigramPieceValues),
      |$UnigramWordCtes,
      |${unigramDpRounds("u", "upieces")}""".stripMargin

  /** One EM round's usage/cost tail over a completed DP chain `px`
    * (the u13 E/M steps as CTEs): per-word piece lists, usage joined
    * to `wcnt`, exact bit-length re-costing — ends in
    * `<out>(piece, n_uses, cost)`, itself a valid pieces relation for
    * the next chain.
    */
  private def unigramEmTail(px: String, out: String): String =
    s"""${px}pl AS (
      |  SELECT uN.w, list_filter(string_split(uN.path, chr(31)),
      |    x -> len(x) > 0) AS pieces
      |  FROM $px${graft.operators.Tokenizer.UnigramMaxWordLen} uN
      |  JOIN wshort ws ON uN.w = ws.w AND uN.pos = length(ws.w)
      |  UNION ALL
      |  SELECT w, regexp_extract_all(w, '.') AS pieces
      |  FROM wd WHERE length(w) > 12),
      |${px}pu AS (
      |  SELECT piece, CAST(sum(c) AS BIGINT) AS n_uses
      |  FROM (SELECT z.w, unnest(z.pieces) AS piece FROM ${px}pl z) y
      |  JOIN wcnt USING (w)
      |  GROUP BY piece),
      |${px}tot AS (SELECT CAST(sum(n_uses) AS BIGINT) AS n FROM ${px}pu),
      |$out AS (
      |  SELECT piece, n_uses,
      |    CAST(length(bin(t.n)) - length(bin(n_uses)) AS BIGINT) * 1024 + 1
      |      AS cost
      |  FROM ${px}pu, ${px}tot t)""".stripMargin

  /** Shared u4/u5 oracle fragment: the six list_reduce folds (one per
    * [[BpeMerges]] rule, learned order) over `occ`'s distinct words,
    * ending in per-word subword counts `wl(w, n_sub)`. The caller's
    * CTE list must define `occ(..., w)`.
    */
  private val BpeFoldCtes: String =
    """s0 AS (
      |  SELECT w, regexp_extract_all(w, '.') || ['</w>'] AS syms
      |  FROM (SELECT DISTINCT w FROM occ)),
      |s1 AS (
      |  SELECT w, string_split(
      |    list_reduce(syms, (acc, x) -> CASE
      |      WHEN (acc = 's' OR ends_with(acc, chr(31) || 's')) AND x = 't'
      |      THEN acc || 't' ELSE acc || chr(31) || x END),
      |    chr(31)) AS syms
      |  FROM s0),
      |s2 AS (
      |  SELECT w, string_split(
      |    list_reduce(syms, (acc, x) -> CASE
      |      WHEN (acc = 'a' OR ends_with(acc, chr(31) || 'a')) AND x = 'st'
      |      THEN acc || 'st' ELSE acc || chr(31) || x END),
      |    chr(31)) AS syms
      |  FROM s1),
      |s3 AS (
      |  SELECT w, string_split(
      |    list_reduce(syms, (acc, x) -> CASE
      |      WHEN (acc = 'f' OR ends_with(acc, chr(31) || 'f')) AND x = 'ast'
      |      THEN acc || 'ast' ELSE acc || chr(31) || x END),
      |    chr(31)) AS syms
      |  FROM s2),
      |s4 AS (
      |  SELECT w, string_split(
      |    list_reduce(syms, (acc, x) -> CASE
      |      WHEN (acc = 'h' OR ends_with(acc, chr(31) || 'h')) AND x = 'a'
      |      THEN acc || 'a' ELSE acc || chr(31) || x END),
      |    chr(31)) AS syms
      |  FROM s3),
      |s5 AS (
      |  SELECT w, string_split(
      |    list_reduce(syms, (acc, x) -> CASE
      |      WHEN (acc = 'ha' OR ends_with(acc, chr(31) || 'ha')) AND x = 's'
      |      THEN acc || 's' ELSE acc || chr(31) || x END),
      |    chr(31)) AS syms
      |  FROM s4),
      |s6 AS (
      |  SELECT w, string_split(
      |    list_reduce(syms, (acc, x) -> CASE
      |      WHEN (acc = 'has' OR ends_with(acc, chr(31) || 'has')) AND x = 'h'
      |      THEN acc || 'h' ELSE acc || chr(31) || x END),
      |    chr(31)) AS syms
      |  FROM s5),
      |wl AS (
      |  SELECT w, CAST(len(list_filter(syms, x -> x <> '</w>')) AS BIGINT)
      |    AS n_sub
      |  FROM s6)""".stripMargin

  /** g13 oracle, GENERATED for a `levels` × `moves` unroll (the
    * multi-move inner loop made the hand-written 2-round chain a 4-round
    * chain — generating it keeps ONE source of truth for the round
    * shape). Replays `Graph.louvainLevels(levels, movesPerLevel=moves)`
    * exactly: lab0/ds0 are the singleton start; each ROUND r maps the
    * original pairs through lab(r-1), scores coarse edges by the HUGEINT
    * ΔQ numerator 2m·w − D_a·D_b, takes the struct-min best per
    * community, accepts mutual positive pairs, and rebuilds lab r/ds r.
    * Levels are the summary checkpoints at label indexes 0, moves,
    * 2·moves, …: g7's integer-division modularity terms grouped by the
    * checkpoint's labels. A converged round's mut set is empty and the
    * labels pass through unchanged — which is exactly why the Spark
    * side's early stop needs no oracle-side counterpart.
    */
  private def g13LouvainOracle(levels: Int, moves: Int): String = {
    val header =
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |  FROM tok WHERE len(toks) >= 2),
        |tf AS MATERIALIZED (
        |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram,
        |    count(*) AS tf
        |  FROM idx GROUP BY doc_id, gram),
        |dfreq AS (
        |  SELECT gram, count(*) AS df FROM tf
        |  GROUP BY gram HAVING count(*) BETWEEN 2 AND 25),
        |p AS MATERIALIZED (SELECT tf.doc_id, tf.gram FROM tf JOIN dfreq USING (gram)),
        |pairs AS MATERIALIZED (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |und AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |deg AS MATERIALIZED (
        |  SELECT doc_a AS v, CAST(count(*) AS BIGINT) AS deg
        |  FROM und GROUP BY doc_a),
        |mm AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
        |lab0 AS MATERIALIZED (SELECT doc_id, doc_id AS comm FROM documents),
        |ds0 AS MATERIALIZED (
        |  SELECT comm, CAST(sum(coalesce(deg.deg, 0)) AS BIGINT) AS d
        |  FROM lab0 LEFT JOIN deg ON lab0.doc_id = deg.v GROUP BY comm)""".stripMargin
    val rounds = (1 to levels * moves).map { r =>
      val q = r - 1
      s"""ce$r AS (
        |  SELECT least(a.comm, b.comm) AS x, greatest(a.comm, b.comm) AS y,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM pairs
        |  JOIN lab$q a ON pairs.doc_a = a.doc_id
        |  JOIN lab$q b ON pairs.doc_b = b.doc_id
        |  WHERE a.comm <> b.comm GROUP BY 1, 2),
        |dir$r AS (SELECT x AS a, y AS b, w FROM ce$r
        |         UNION ALL SELECT y, x, w FROM ce$r),
        |sc$r AS (
        |  SELECT dir$r.a, dir$r.b,
        |    2 * CAST(mm.m AS HUGEINT) * w
        |      - CAST(da.d AS HUGEINT) * db.d AS score
        |  FROM dir$r JOIN ds$q da ON dir$r.a = da.comm
        |  JOIN ds$q db ON dir$r.b = db.comm CROSS JOIN mm),
        |bb$r AS MATERIALIZED (
        |  SELECT a, -struct_extract(w, 'ns') AS bs,
        |    struct_extract(w, 'u') AS bu
        |  FROM (SELECT a, min({'ns': -score, 'u': b}) AS w
        |        FROM sc$r GROUP BY a)),
        |mut$r AS (
        |  SELECT l.a AS oldc, least(l.a, l.bu) AS newc
        |  FROM bb$r l JOIN bb$r r ON l.bu = r.a AND r.bu = l.a
        |  WHERE l.bs > 0),
        |lab$r AS MATERIALIZED (
        |  SELECT lab$q.doc_id,
        |    CAST(coalesce(mut$r.newc, lab$q.comm) AS BIGINT) AS comm
        |  FROM lab$q LEFT JOIN mut$r ON lab$q.comm = mut$r.oldc),
        |ds$r AS MATERIALIZED (
        |  SELECT comm, CAST(sum(coalesce(deg.deg, 0)) AS BIGINT) AS d
        |  FROM lab$r LEFT JOIN deg ON lab$r.doc_id = deg.v GROUP BY comm)""".stripMargin
    }
    val checkpoints = 0 +: (1 to levels).map(_ * moves)
    val summaries = checkpoints.zipWithIndex.map { case (ri, lvl) =>
      s"""lin$lvl AS (
        |  SELECT a.comm AS comm, CAST(count(*) AS BIGINT) AS l_in
        |  FROM pairs JOIN lab$ri a ON pairs.doc_a = a.doc_id
        |  JOIN lab$ri b ON pairs.doc_b = b.doc_id
        |  WHERE a.comm = b.comm GROUP BY 1),
        |t$lvl AS (
        |  SELECT coalesce(l_in, 0) AS l_in,
        |    (1000000 * coalesce(l_in, 0)) // mm.m
        |      - (1000000 * d * d) // (4 * mm.m * mm.m) AS q
        |  FROM ds$ri LEFT JOIN lin$lvl USING (comm) CROSS JOIN mm)""".stripMargin
    }
    val select = checkpoints.indices.map { lvl =>
      s"""SELECT CAST($lvl AS BIGINT) AS lvl, CAST(count(*) AS BIGINT) AS n_comms,
        |  CAST(sum(l_in) AS BIGINT) AS l_in, CAST(sum(q) AS BIGINT) AS q_ppm
        |FROM t$lvl""".stripMargin
    }.mkString("\nUNION ALL\n")
    (Seq(header) ++ rounds ++ summaries).mkString(",\n") +
      "\n" + select + "\nORDER BY lvl"
  }

  /** d22/d22b shared replay: the bloom path is bit-identical by
    * construction (false positives die in the exact verify), so ONE
    * oracle gates both — fp-immunity is itself hash-checked.
    */
  private val D22ExciseOracle: String = exciseOracle("doc_id % 4 <> 0")

  /** The d22/d22b/d23 excision oracle, parameterized by the BASE
    * predicate: d22 excises the drop against the full base; d23 against
    * the base minus the revoked set (DuckDB rebuilds the span set from
    * the surviving corpus's raw strings — the delete-path differential).
    */
  private def exciseOracle(basePred: String): String =
      s"""WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \\t\\n\\f\\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |base_sp AS (
        |  SELECT DISTINCT array_to_string(toks[i:i+7], ' ') AS g
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks) - 7)) AS i
        |        FROM tok WHERE ($basePred) AND len(toks) >= 8)),
        |drop_t AS (SELECT doc_id, toks FROM tok WHERE doc_id % 4 = 0),
        |sp AS (
        |  SELECT doc_id, i AS pos, array_to_string(toks[i:i+7], ' ') AS g
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks) - 7)) AS i
        |        FROM drop_t WHERE len(toks) >= 8)),
        |cov AS (
        |  SELECT DISTINCT s.doc_id,
        |    unnest(generate_series(s.pos, s.pos + 7)) AS i
        |  FROM sp s JOIN base_sp b ON s.g = b.g),
        |tp AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
        |  FROM drop_t),
        |kept AS (
        |  SELECT tp.doc_id, tp.i, tp.toks[tp.i] AS w
        |  FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.i = cov.i
        |  WHERE cov.i IS NULL),
        |ka AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(w, ' ' ORDER BY i) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(len(t.toks) - coalesce(ka.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(ka.clean_text, '') AS clean_text
        |FROM drop_t t LEFT JOIN ka ON t.doc_id = ka.doc_id
        |ORDER BY t.doc_id""".stripMargin

  /** u11 oracle, GENERATED for a `rounds` unroll: byte-symbolize the en
    * word-frequency table (the u10 rmap + pure-SQL UTF-8 encode — no
    * U+001F exclusion, remapped byte symbols are printable by
    * construction), then per round one pair-count aggregate, a one-row
    * (cnt DESC, a, b) argmax, and the chr(31)-delimited list_reduce
    * fold — u3's round shape in the byte domain.
    */
  private def u11ByteMergeOracle(rounds: Int): String = {
    val mlist = graft.operators.Tokenizer.ByteRemap
      .map(s => s.codePointAt(0)).mkString("[", ",", "]")
    val roundCtes = (1 to rounds).map { r =>
      val q = r - 1
      s"""pc$r AS (
        |  SELECT syms[i] AS a, syms[i+1] AS b, CAST(sum(f) AS BIGINT) AS cnt
        |  FROM (SELECT f, syms, unnest(generate_series(1, len(syms)-1)) AS i FROM s$q)
        |  GROUP BY a, b),
        |top$r AS (SELECT a, b, cnt FROM pc$r ORDER BY cnt DESC, a, b LIMIT 1),
        |s$r AS (
        |  SELECT s$q.w, s$q.f,
        |    string_split(
        |      list_reduce(s$q.syms, (acc, x) -> CASE
        |        WHEN (acc = t.a OR ends_with(acc, chr(31) || t.a)) AND x = t.b
        |        THEN acc || t.b ELSE acc || chr(31) || x END),
        |      chr(31)) AS syms
        |  FROM s$q CROSS JOIN top$r t),
        |n$r AS (SELECT CAST(sum(f * len(syms)) AS BIGINT) AS n_syms FROM s$r)""".stripMargin
    }.mkString(",\n")
    val selects = (1 to rounds).map { r =>
      s"SELECT CAST($r AS INT) AS round, t.a, t.b, t.cnt, n$r.n_syms " +
        s"FROM top$r t CROSS JOIN n$r"
    }.mkString("\nUNION ALL\n")
    s"""WITH tok AS (
      |  SELECT unnest(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0)) AS w
      |  FROM documents WHERE lang = 'en'),
      |wf AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY w),
      |rmap AS (SELECT $mlist AS m),
      |s0 AS (
      |  SELECT w, f, flatten(list_transform(regexp_extract_all(w, '.'),
      |    ch -> CASE
      |      WHEN unicode(ch) < 128 THEN [chr(m[unicode(ch) + 1])]
      |      WHEN unicode(ch) < 2048 THEN
      |        [chr(m[unicode(ch) // 64 + 193]), chr(m[unicode(ch) % 64 + 129])]
      |      WHEN unicode(ch) < 65536 THEN
      |        [chr(m[unicode(ch) // 4096 + 225]),
      |         chr(m[(unicode(ch) // 64) % 64 + 129]),
      |         chr(m[unicode(ch) % 64 + 129])]
      |      ELSE
      |        [chr(m[unicode(ch) // 262144 + 241]),
      |         chr(m[(unicode(ch) // 4096) % 64 + 129]),
      |         chr(m[(unicode(ch) // 64) % 64 + 129]),
      |         chr(m[unicode(ch) % 64 + 129])]
      |    END)) || ['</w>'] AS syms
      |  FROM wf CROSS JOIN rmap),
      |$roundCtes
      |$selects
      |ORDER BY round""".stripMargin
  }

  /** u10 oracle fragment: BYTE-LEVEL symbolization — the GPT-2 remap as
    * a 256-entry code-point list (generated from
    * [[graft.operators.Tokenizer.ByteRemap]], ONE source of truth with
    * the Spark expression's reference object) plus pure-SQL UTF-8
    * encode arithmetic (cp<128 → 1 byte, <2048 → 2, <65536 → 3, else 4
    * — the RFC 3629 split, exact integer `//`/`%`), followed by one
    * list_reduce fold per [[ByteBpeMerges]] rule in learned order,
    * ending in per-word byte-subword counts `wl(w, n_sub)`. The caller's
    * CTE list must define `occ(..., w)`. Unlike the code-point folds,
    * NO U+001F word exclusion is needed: remapped byte symbols are
    * printable by construction, so the chr(31) accumulator delimiter
    * can never collide with corpus content.
    */
  private def byteBpeFoldCtes: String = {
    val mlist = graft.operators.Tokenizer.ByteRemap
      .map(s => s.codePointAt(0)).mkString("[", ",", "]")
    val folds = ByteBpeMerges.zipWithIndex.map { case ((a, b), i) =>
      s"""b${i + 1} AS (
        |  SELECT w, string_split(
        |    list_reduce(syms, (acc, x) -> CASE
        |      WHEN (acc = '$a' OR ends_with(acc, chr(31) || '$a')) AND x = '$b'
        |      THEN acc || '$b' ELSE acc || chr(31) || x END),
        |    chr(31)) AS syms
        |  FROM b$i)""".stripMargin
    }.mkString(",\n")
    s"""rmap AS (SELECT $mlist AS m),
      |b0 AS (
      |  SELECT w, flatten(list_transform(regexp_extract_all(w, '.'),
      |    ch -> CASE
      |      WHEN unicode(ch) < 128 THEN [chr(m[unicode(ch) + 1])]
      |      WHEN unicode(ch) < 2048 THEN
      |        [chr(m[unicode(ch) // 64 + 193]), chr(m[unicode(ch) % 64 + 129])]
      |      WHEN unicode(ch) < 65536 THEN
      |        [chr(m[unicode(ch) // 4096 + 225]),
      |         chr(m[(unicode(ch) // 64) % 64 + 129]),
      |         chr(m[unicode(ch) % 64 + 129])]
      |      ELSE
      |        [chr(m[unicode(ch) // 262144 + 241]),
      |         chr(m[(unicode(ch) // 4096) % 64 + 129]),
      |         chr(m[(unicode(ch) // 64) % 64 + 129]),
      |         chr(m[unicode(ch) % 64 + 129])]
      |    END)) || ['</w>'] AS syms
      |  FROM (SELECT DISTINCT w FROM occ) CROSS JOIN rmap),
      |$folds,
      |wl AS (
      |  SELECT w,
      |    CAST(len(list_filter(syms, x -> x <> '</w>')) AS BIGINT) AS n_sub
      |  FROM b${ByteBpeMerges.size})""".stripMargin
  }

  /** Shared x14/x18 oracle fragment: the content-independent md5 shard
    * bucket (two hex nibbles of md5(doc_id), mod 16) — byte-identical
    * between the manifest and its delta so both replay
    * Stats.shardManifest's assignment.
    */
  private val ShardExprSql: String =
    "((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 " +
      "+ strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) % 16"

  private val TokCte: String =
    """tok AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0) AS toks
      |  FROM documents)""".stripMargin

  private val QualityMCte: String =
    """m AS (
      |  SELECT doc_id, text, toks,
      |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
      |      round(CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS DOUBLE) /
      |            CAST(len(toks) AS DOUBLE), 6) END AS stop_ratio,
      |    CASE WHEN length(text) = 0 THEN 0.0 ELSE
      |      round(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')) AS DOUBLE) /
      |            CAST(length(text) AS DOUBLE), 6) END AS punct_ratio,
      |    CAST(len(toks) AS DOUBLE) AS n_tok,
      |    CAST(len(list_distinct(toks)) AS DOUBLE) AS n_uniq
      |  FROM tok)""".stripMargin

  private val QualityExpr: String =
    """round(
      |      (CASE WHEN n_tok >= 10 AND n_tok <= 1000 THEN 0.25 ELSE 0.0 END) +
      |      (CASE WHEN stop_ratio > 0.01 THEN 0.25 ELSE 0.0 END) +
      |      (CASE WHEN punct_ratio < 0.2 THEN 0.25 ELSE 0.0 END) +
      |      (CASE WHEN n_tok = 0 THEN 0.0 ELSE round(least(n_uniq / n_tok, 1.0) * 0.25, 6) END),
      |    6)""".stripMargin

  private val LangScores: String =
    """len(list_filter(toks, t -> list_contains(['der','die','das','und','ist'], t))) AS s_de,
      |    len(list_filter(toks, t -> list_contains(['the','a','of','and','is'], t))) AS s_en,
      |    len(list_filter(toks, t -> list_contains(['el','los','las','es','y'], t))) AS s_es,
      |    len(list_filter(toks, t -> list_contains(['le','la','les','et','est'], t))) AS s_fr,
      |    len(list_filter(toks, t -> list_contains(['的','是','了','在','我'], t))) AS s_zh""".stripMargin

  private val LangCase: String =
    """CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
      |         WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
      |         WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
      |         WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
      |         WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
      |         ELSE 'zh' END""".stripMargin

  val oracles: Map[String, String] = Map(
    "d1_dedup_exact" ->
      """SELECT d.doc_id, g.rep, g.n_copies
        |FROM documents d
        |JOIN (SELECT text, min(doc_id) AS rep, count(*) AS n_copies
        |      FROM documents GROUP BY text) g
        |  ON d.text IS NOT DISTINCT FROM g.text
        |ORDER BY d.doc_id""".stripMargin,

    "d2_dedup_ngram_jaccard" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0)) AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j
        |  FROM tok a JOIN tok b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(list_distinct(list_concat(a.toks, b.toks))) > 0
        |    AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= 0.95)
        |SELECT d.doc_id, coalesce(min(p.i), d.doc_id) AS rep
        |FROM documents d LEFT JOIN pairs p ON d.doc_id = p.j
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    "d13_containment" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0)) AS toks
        |  FROM documents WHERE len(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0)) > 0)
        |SELECT a.doc_id AS sub_id, b.doc_id AS super_id,
        |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / len(a.toks)
        |    AS containment
        |FROM tok a JOIN tok b ON a.lang = b.lang
        |WHERE (len(a.toks) < len(b.toks)
        |       OR (len(a.toks) = len(b.toks) AND a.doc_id < b.doc_id))
        |  AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      len(a.toks) >= 0.98
        |ORDER BY sub_id, super_id""".stripMargin,

    "d8_dedup_connected" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0)) AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j
        |  FROM tok a JOIN tok b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(list_distinct(list_concat(a.toks, b.toks))) > 0
        |    AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= 0.95),
        |edges AS (SELECT i AS u, j AS v FROM pairs UNION SELECT j AS u, i AS v FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
        |SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS rep
        |FROM documents d LEFT JOIN reach r ON d.doc_id = r.u
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    // THIN VIEW of the x25 convention (r18): the charspan/secrets/
    // ivf_members subset — Spark serves the delete paths on the
    // persisted pin stores + member table; DuckDB rebuilds each
    // store's before/after from raw planted data
    "x24_takedown_audit_ext" ->
      """WITH b AS (SELECT doc_id, lang,
        |  'pin' || lpad(CAST((length(text) * 7) % 97 AS VARCHAR), 4, '0') ||
        |  ' ' || text AS text
        |  FROM documents WHERE doc_id % 25 <> 0),
        |tb AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0) AS toks FROM b),
        |lowb AS (SELECT doc_id, lower(text) AS t FROM b),
        |cw AS (
        |  SELECT DISTINCT doc_id, substring(t, i + 1, 40) AS g
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(0, length(t) - 40)) AS i
        |        FROM lowb WHERE length(t) >= 40)),
        |chb AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n FROM cw),
        |cha AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n FROM cw
        |        WHERE doc_id % 10 <> 1),
        |tokc AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(toks) AS tok FROM tb) z
        |  WHERE regexp_matches(tok, '[0-9]{4}')),
        |seb AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS n FROM tokc),
        |sea AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS n FROM tokc
        |        WHERE doc_id % 10 <> 1),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings),
        |cent AS (
        |  SELECT centroid_id, centroid
        |  FROM read_parquet('__GRAFT_MODELS__/ivf_centroids_16.parquet/*.parquet')),
        |asn AS (
        |  SELECT vec_id, centroid_id AS cell FROM (
        |    SELECT v.vec_id, c.centroid_id,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_dot_product(v.v, c.centroid) /
        |          (sqrt(list_dot_product(v.v, v.v)) *
        |           sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
        |        c.centroid_id) AS rn
        |    FROM v, cent c) WHERE rn = 1),
        |mb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM asn),
        |ma AS (SELECT CAST(count(*) AS BIGINT) AS n FROM asn
        |       WHERE vec_id % 10 <> 1),
        |mc AS (SELECT CAST(count(DISTINCT cell) AS BIGINT) AS n FROM asn
        |       WHERE vec_id % 10 = 1)
        |SELECT * FROM (
        |  SELECT 'charspan_index' AS store, chb.n AS n_before,
        |    cha.n AS n_after, chb.n - cha.n AS n_changed FROM chb, cha
        |  UNION ALL
        |  SELECT 'ivf_members', mb.n, ma.n, mc.n FROM mb, ma, mc
        |  UNION ALL
        |  SELECT 'secrets_index', seb.n, sea.n, seb.n - sea.n
        |  FROM seb, sea) u
        |ORDER BY store""".stripMargin,

    // the buffered-delete gate: DuckDB rebuilds the small-k ranking on
    // the survivors from raw — Spark's index+overflow takedown must
    // match it EXACTLY (ranks, refilled tail, decremented counts)
    "x28_curriculum_buffered_delete" ->
      """WITH surv AS (
        |  SELECT source, doc_id FROM documents
        |  WHERE doc_id % 10 <> 3 AND doc_id % 20 <> 1),
        |cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src
        |        FROM surv GROUP BY source),
        |ranked AS (
        |  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
        |  FROM surv)
        |SELECT r.source, r.doc_id, r.h, CAST(r.rank AS BIGINT) AS rank,
        |  c.n_src
        |FROM ranked r JOIN cnt c USING (source)
        |WHERE r.rank <= 10
        |ORDER BY r.source, r.rank""".stripMargin,

    // the unified 8-store audit: every store rebuilt from surviving
    // planted text (both component closures recursive), vs Spark's
    // eight delete paths on the stale stores
    // the governance composition gate: DuckDB replays the retention
    // policy arithmetic, derives the expiry set, and rebuilds all
    // seven text stores from the surviving planted corpus (both
    // recursive component closures) — certifying retention -> takedown
    // -> audit end to end
    "x27_governance_loop" ->
      """WITH RECURSIVE
        |b AS (SELECT doc_id, lang,
        |  'pin' || lpad(CAST((length(text) * 7) % 97 AS VARCHAR), 4, '0') ||
        |  ' ' || text AS text
        |  FROM documents WHERE doc_id % 25 <> 0),
        |ex AS (SELECT doc_id FROM documents
        |  WHERE (120 - CAST(doc_id % 360 AS BIGINT)) >=
        |        60 + 45 * (len(source) % 5)),
        |sv AS (SELECT doc_id, lang, text FROM b
        |       WHERE doc_id NOT IN (SELECT doc_id FROM ex)),
        |tb AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0) AS toks FROM b),
        |tsv AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0) AS toks FROM sv),
        |spb AS (SELECT CAST(count(DISTINCT array_to_string(toks[i:i+7], ' ')) AS BIGINT) AS n
        |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 7)) AS i FROM tb WHERE len(toks) >= 8)),
        |spa AS (SELECT CAST(count(DISTINCT array_to_string(toks[i:i+7], ' ')) AS BIGINT) AS n
        |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 7)) AS i FROM tsv WHERE len(toks) >= 8)),
        |lowb AS (SELECT doc_id, lower(text) AS t FROM b),
        |cw AS (
        |  SELECT DISTINCT doc_id, substring(t, i + 1, 40) AS g
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(0, length(t) - 40)) AS i
        |        FROM lowb WHERE length(t) >= 40)),
        |chb AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n FROM cw),
        |cha AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n FROM cw
        |        WHERE doc_id NOT IN (SELECT doc_id FROM ex)),
        |pb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+1], ' ') AS g
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM tb WHERE len(toks) >= 2))),
        |pa AS (SELECT CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+1], ' ') AS g
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM tsv WHERE len(toks) >= 2))),
        |mhb AS (SELECT CAST(8 * count(*) AS BIGINT) AS n FROM tb WHERE len(toks) >= 3),
        |mha AS (SELECT CAST(8 * count(*) AS BIGINT) AS n FROM tsv WHERE len(toks) >= 3),
        |pfb AS (SELECT CAST(sum(bn - ((4 * bn + 4) // 5) + 1) AS BIGINT) AS n
        |  FROM (SELECT len(list_distinct(toks)) AS bn FROM tb) z WHERE bn > 0),
        |pfa AS (SELECT CAST(sum(bn - ((4 * bn + 4) // 5) + 1) AS BIGINT) AS n
        |  FROM (SELECT len(list_distinct(toks)) AS bn FROM tsv) z WHERE bn > 0),
        |tokc AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(toks) AS tok FROM tb) z
        |  WHERE regexp_matches(tok, '[0-9]{4}')),
        |seb AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS n FROM tokc),
        |sea AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS n FROM tokc
        |        WHERE doc_id NOT IN (SELECT doc_id FROM ex)),
        |atok AS (SELECT b.doc_id, b.lang, list_distinct(t.toks) AS toks
        |  FROM b JOIN tb t USING (doc_id)),
        |apairs AS (
        |  SELECT a.doc_id AS i, b2.doc_id AS j
        |  FROM atok a JOIN atok b2 ON a.lang = b2.lang AND a.doc_id < b2.doc_id
        |  WHERE len(list_distinct(list_concat(a.toks, b2.toks))) > 0
        |    AND CAST(len(list_intersect(a.toks, b2.toks)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.toks, b2.toks))) AS DOUBLE) >= 0.95),
        |aedges AS (SELECT i AS u, j AS v FROM apairs UNION SELECT j AS u, i AS v FROM apairs),
        |areach(u, v) AS (
        |  SELECT u, v FROM aedges
        |  UNION
        |  SELECT r.u, e.v FROM areach r JOIN aedges e ON r.v = e.u),
        |cc0 AS (
        |  SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS rep
        |  FROM b d LEFT JOIN areach r ON d.doc_id = r.u
        |  GROUP BY d.doc_id),
        |stok AS (SELECT sv.doc_id, sv.lang, list_distinct(t.toks) AS toks
        |  FROM sv JOIN tsv t USING (doc_id)),
        |spairs AS (
        |  SELECT a.doc_id AS i, b2.doc_id AS j
        |  FROM stok a JOIN stok b2 ON a.lang = b2.lang AND a.doc_id < b2.doc_id
        |  WHERE len(list_distinct(list_concat(a.toks, b2.toks))) > 0
        |    AND CAST(len(list_intersect(a.toks, b2.toks)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.toks, b2.toks))) AS DOUBLE) >= 0.95),
        |sedges AS (SELECT i AS u, j AS v FROM spairs UNION SELECT j AS u, i AS v FROM spairs),
        |sreach(u, v) AS (
        |  SELECT u, v FROM sedges
        |  UNION
        |  SELECT r.u, e.v FROM sreach r JOIN sedges e ON r.v = e.u),
        |cc1 AS (
        |  SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS rep
        |  FROM sv d LEFT JOIN sreach r ON d.doc_id = r.u
        |  GROUP BY d.doc_id),
        |crow AS (
        |  SELECT CAST((SELECT count(*) FROM b) AS BIGINT) AS n_before,
        |    CAST(count(*) AS BIGINT) AS n_after,
        |    CAST(sum(CASE WHEN c1.rep <> c0.rep THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
        |  FROM cc1 c1 JOIN cc0 c0 USING (doc_id))
        |SELECT * FROM (
        |  SELECT 'span_index' AS store, spb.n AS n_before, spa.n AS n_after,
        |    spb.n - spa.n AS n_changed, 'n=8' AS params FROM spb, spa
        |  UNION ALL SELECT 'charspan_index', chb.n, cha.n, chb.n - cha.n, 'n=40' FROM chb, cha
        |  UNION ALL SELECT 'tfidf_postings', pb.n, pa.n, pb.n - pa.n, 'gram_n=2' FROM pb, pa
        |  UNION ALL SELECT 'mh_index', mhb.n, mha.n, mhb.n - mha.n, 'shingle=3,hashes=32,bands=8' FROM mhb, mha
        |  UNION ALL SELECT 'prefix_index', pfb.n, pfa.n, pfb.n - pfa.n, 't=4/5' FROM pfb, pfa
        |  UNION ALL SELECT 'secrets_index', seb.n, sea.n, seb.n - sea.n, 'run=4' FROM seb, sea
        |  UNION ALL SELECT 'components', n_before, n_after, n_changed, 'n=1,t=0.95' FROM crow) u
        |ORDER BY store""".stripMargin,

    "x25_takedown_audit_full" ->
      """WITH RECURSIVE
        |b AS (SELECT doc_id, lang,
        |  'pin' || lpad(CAST((length(text) * 7) % 97 AS VARCHAR), 4, '0') ||
        |  ' ' || text AS text
        |  FROM documents WHERE doc_id % 25 <> 0),
        |sv AS (SELECT doc_id, lang, text FROM b WHERE doc_id % 10 <> 1),
        |tb AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0) AS toks FROM b),
        |tsv AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0) AS toks FROM sv),
        |spb AS (SELECT CAST(count(DISTINCT array_to_string(toks[i:i+7], ' ')) AS BIGINT) AS n
        |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 7)) AS i FROM tb WHERE len(toks) >= 8)),
        |spa AS (SELECT CAST(count(DISTINCT array_to_string(toks[i:i+7], ' ')) AS BIGINT) AS n
        |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 7)) AS i FROM tsv WHERE len(toks) >= 8)),
        |lowb AS (SELECT doc_id, lower(text) AS t FROM b),
        |cw AS (
        |  SELECT DISTINCT doc_id, substring(t, i + 1, 40) AS g
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(0, length(t) - 40)) AS i
        |        FROM lowb WHERE length(t) >= 40)),
        |chb AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n FROM cw),
        |cha AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n FROM cw
        |        WHERE doc_id % 10 <> 1),
        |pb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+1], ' ') AS g
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM tb WHERE len(toks) >= 2))),
        |pa AS (SELECT CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+1], ' ') AS g
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM tsv WHERE len(toks) >= 2))),
        |mhb AS (SELECT CAST(8 * count(*) AS BIGINT) AS n FROM tb WHERE len(toks) >= 3),
        |mha AS (SELECT CAST(8 * count(*) AS BIGINT) AS n FROM tsv WHERE len(toks) >= 3),
        |pfb AS (SELECT CAST(sum(bn - ((4 * bn + 4) // 5) + 1) AS BIGINT) AS n
        |  FROM (SELECT len(list_distinct(toks)) AS bn FROM tb) z WHERE bn > 0),
        |pfa AS (SELECT CAST(sum(bn - ((4 * bn + 4) // 5) + 1) AS BIGINT) AS n
        |  FROM (SELECT len(list_distinct(toks)) AS bn FROM tsv) z WHERE bn > 0),
        |tokc AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(toks) AS tok FROM tb) z
        |  WHERE regexp_matches(tok, '[0-9]{4}')),
        |seb AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS n FROM tokc),
        |sea AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS n FROM tokc
        |        WHERE doc_id % 10 <> 1),
        |atok AS (SELECT b.doc_id, b.lang, list_distinct(t.toks) AS toks
        |  FROM b JOIN tb t USING (doc_id)),
        |apairs AS (
        |  SELECT a.doc_id AS i, b2.doc_id AS j
        |  FROM atok a JOIN atok b2 ON a.lang = b2.lang AND a.doc_id < b2.doc_id
        |  WHERE len(list_distinct(list_concat(a.toks, b2.toks))) > 0
        |    AND CAST(len(list_intersect(a.toks, b2.toks)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.toks, b2.toks))) AS DOUBLE) >= 0.95),
        |aedges AS (SELECT i AS u, j AS v FROM apairs UNION SELECT j AS u, i AS v FROM apairs),
        |areach(u, v) AS (
        |  SELECT u, v FROM aedges
        |  UNION
        |  SELECT r.u, e.v FROM areach r JOIN aedges e ON r.v = e.u),
        |cc0 AS (
        |  SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS rep
        |  FROM b d LEFT JOIN areach r ON d.doc_id = r.u
        |  GROUP BY d.doc_id),
        |stok AS (SELECT sv.doc_id, sv.lang, list_distinct(t.toks) AS toks
        |  FROM sv JOIN tsv t USING (doc_id)),
        |spairs AS (
        |  SELECT a.doc_id AS i, b2.doc_id AS j
        |  FROM stok a JOIN stok b2 ON a.lang = b2.lang AND a.doc_id < b2.doc_id
        |  WHERE len(list_distinct(list_concat(a.toks, b2.toks))) > 0
        |    AND CAST(len(list_intersect(a.toks, b2.toks)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.toks, b2.toks))) AS DOUBLE) >= 0.95),
        |sedges AS (SELECT i AS u, j AS v FROM spairs UNION SELECT j AS u, i AS v FROM spairs),
        |sreach(u, v) AS (
        |  SELECT u, v FROM sedges
        |  UNION
        |  SELECT r.u, e.v FROM sreach r JOIN sedges e ON r.v = e.u),
        |cc1 AS (
        |  SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS rep
        |  FROM sv d LEFT JOIN sreach r ON d.doc_id = r.u
        |  GROUP BY d.doc_id),
        |crow AS (
        |  SELECT CAST((SELECT count(*) FROM b) AS BIGINT) AS n_before,
        |    CAST(count(*) AS BIGINT) AS n_after,
        |    CAST(sum(CASE WHEN c1.rep <> c0.rep THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
        |  FROM cc1 c1 JOIN cc0 c0 USING (doc_id)),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings),
        |cent AS (
        |  SELECT centroid_id, centroid
        |  FROM read_parquet('__GRAFT_MODELS__/ivf_centroids_16.parquet/*.parquet')),
        |asn AS (
        |  SELECT vec_id, centroid_id AS cell FROM (
        |    SELECT v.vec_id, c.centroid_id,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_dot_product(v.v, c.centroid) /
        |          (sqrt(list_dot_product(v.v, v.v)) *
        |           sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
        |        c.centroid_id) AS rn
        |    FROM v, cent c) WHERE rn = 1),
        |imb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM asn),
        |ima AS (SELECT CAST(count(*) AS BIGINT) AS n FROM asn
        |        WHERE vec_id % 10 <> 1),
        |imc AS (SELECT CAST(count(DISTINCT cell) AS BIGINT) AS n FROM asn
        |        WHERE vec_id % 10 = 1)
        |SELECT * FROM (
        |  SELECT 'span_index' AS store, spb.n AS n_before, spa.n AS n_after,
        |    spb.n - spa.n AS n_changed, 'n=8' AS params FROM spb, spa
        |  UNION ALL SELECT 'charspan_index', chb.n, cha.n, chb.n - cha.n, 'n=40' FROM chb, cha
        |  UNION ALL SELECT 'tfidf_postings', pb.n, pa.n, pb.n - pa.n, 'gram_n=2' FROM pb, pa
        |  UNION ALL SELECT 'mh_index', mhb.n, mha.n, mhb.n - mha.n, 'shingle=3,hashes=32,bands=8' FROM mhb, mha
        |  UNION ALL SELECT 'prefix_index', pfb.n, pfa.n, pfb.n - pfa.n, 't=4/5' FROM pfb, pfa
        |  UNION ALL SELECT 'secrets_index', seb.n, sea.n, seb.n - sea.n, 'run=4' FROM seb, sea
        |  UNION ALL SELECT 'components', n_before, n_after, n_changed, 'n=1,t=0.95' FROM crow
        |  UNION ALL SELECT 'ivf_members', imb.n, ima.n, imc.n, 'cells=caller' FROM imb, ima, imc) u
        |ORDER BY store""".stripMargin,

    "x26_compaction_audit" ->
      """WITH
        |pl AS (SELECT doc_id, lang,
        |  'pin' || lpad(CAST((length(text) * 7) % 97 AS VARCHAR), 4, '0') ||
        |  ' ' || text AS text
        |  FROM documents),
        |b AS (SELECT * FROM pl WHERE doc_id % 25 <> 0),
        |tu AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0) AS toks FROM pl),
        |tb AS (SELECT t.* FROM tu t JOIN b USING (doc_id)),
        |spb AS (SELECT CAST(count(DISTINCT array_to_string(toks[i:i+7], ' ')) AS BIGINT) AS n
        |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 7)) AS i FROM tb WHERE len(toks) >= 8)),
        |spa AS (SELECT CAST(count(DISTINCT array_to_string(toks[i:i+7], ' ')) AS BIGINT) AS n
        |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 7)) AS i FROM tu WHERE len(toks) >= 8)),
        |lowu AS (SELECT doc_id, lower(text) AS t FROM pl),
        |cw AS (
        |  SELECT DISTINCT doc_id, substring(t, i + 1, 40) AS g
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(0, length(t) - 40)) AS i
        |        FROM lowu WHERE length(t) >= 40)),
        |chb AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n FROM cw
        |        WHERE doc_id % 25 <> 0),
        |cha AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n FROM cw),
        |pb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+1], ' ') AS g
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM tb WHERE len(toks) >= 2))),
        |pa AS (SELECT CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+1], ' ') AS g
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM tu WHERE len(toks) >= 2))),
        |mhb AS (SELECT CAST(8 * count(*) AS BIGINT) AS n FROM tb WHERE len(toks) >= 3),
        |mha AS (SELECT CAST(8 * count(*) AS BIGINT) AS n FROM tu WHERE len(toks) >= 3),
        |pfb AS (SELECT CAST(sum(bn - ((4 * bn + 4) // 5) + 1) AS BIGINT) AS n
        |  FROM (SELECT len(list_distinct(toks)) AS bn FROM tb) z WHERE bn > 0),
        |pfa AS (SELECT CAST(sum(bn - ((4 * bn + 4) // 5) + 1) AS BIGINT) AS n
        |  FROM (SELECT len(list_distinct(toks)) AS bn FROM tu) z WHERE bn > 0),
        |toku AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(toks) AS tok FROM tu) z
        |  WHERE regexp_matches(tok, '[0-9]{4}')),
        |seb AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS n FROM toku
        |        WHERE doc_id % 25 <> 0),
        |sea AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS n FROM toku),
        |du AS (SELECT p.doc_id, p.lang, p.text, list_distinct(t.toks) AS dt,
        |  len(list_distinct(t.toks)) AS tsz FROM pl p JOIN tu t USING (doc_id)),
        |repu AS (SELECT * FROM (SELECT doc_id, lang, dt,
        |    CASE WHEN tsz > 0 THEN min(doc_id) OVER (PARTITION BY lang, text)
        |         ELSE doc_id END AS rep0
        |  FROM du) z WHERE doc_id = rep0),
        |repb AS (SELECT * FROM (SELECT doc_id, lang, dt,
        |    CASE WHEN tsz > 0 THEN min(doc_id) OVER (PARTITION BY lang, text)
        |         ELSE doc_id END AS rep0
        |  FROM du WHERE doc_id % 25 <> 0) z WHERE doc_id = rep0),
        |cpa AS (SELECT CAST(count(*) AS BIGINT) AS n FROM repu a JOIN repu b2
        |  ON a.lang = b2.lang AND a.doc_id < b2.doc_id
        |  WHERE len(list_distinct(list_concat(a.dt, b2.dt))) > 0
        |    AND CAST(len(list_intersect(a.dt, b2.dt)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.dt, b2.dt))) AS DOUBLE) >= 0.95),
        |cpb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM repb a JOIN repb b2
        |  ON a.lang = b2.lang AND a.doc_id < b2.doc_id
        |  WHERE len(list_distinct(list_concat(a.dt, b2.dt))) > 0
        |    AND CAST(len(list_intersect(a.dt, b2.dt)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.dt, b2.dt))) AS DOUBLE) >= 0.95),
        |cb AS (SELECT CAST((SELECT count(*) FROM b) + (SELECT n FROM cpb) AS BIGINT) AS n),
        |ca AS (SELECT CAST((SELECT count(*) FROM pl) + (SELECT n FROM cpa) AS BIGINT) AS n),
        |cub AS (SELECT CAST(sum(least(1000, n)) AS BIGINT) AS n FROM
        |  (SELECT count(*) AS n FROM documents WHERE doc_id % 10 <> 3 GROUP BY source) z),
        |cua AS (SELECT CAST(sum(least(1000, n)) AS BIGINT) AS n FROM
        |  (SELECT count(*) AS n FROM documents GROUP BY source) z),
        |ovb AS (SELECT source, doc_id FROM (
        |  SELECT source, doc_id, row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
        |  FROM documents WHERE doc_id % 10 <> 3) z
        |  WHERE rank > 10 AND rank <= 18),
        |ova AS (SELECT source, doc_id FROM (
        |  SELECT source, doc_id, row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
        |  FROM documents) z
        |  WHERE rank > 10 AND rank <= 18),
        |ovbn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ovb),
        |ovan AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ova),
        |ovch AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ova a
        |  WHERE NOT EXISTS (SELECT 1 FROM ovb o
        |    WHERE o.source = a.source AND o.doc_id = a.doc_id))
        |SELECT * FROM (
        |  SELECT 'span_index' AS store, spb.n AS n_before, spa.n AS n_after,
        |    spa.n - spb.n AS n_added, 'n=8,drop=mod25' AS params FROM spb, spa
        |  UNION ALL SELECT 'charspan_index', chb.n, cha.n, cha.n - chb.n, 'n=40,drop=mod25' FROM chb, cha
        |  UNION ALL SELECT 'tfidf_postings', pb.n, pa.n, pa.n - pb.n, 'gram_n=2,drop=mod25' FROM pb, pa
        |  UNION ALL SELECT 'mh_index', mhb.n, mha.n, mha.n - mhb.n, 'shingle=3,hashes=32,bands=8,drop=mod25' FROM mhb, mha
        |  UNION ALL SELECT 'prefix_index', pfb.n, pfa.n, pfa.n - pfb.n, 't=4/5,drop=mod25' FROM pfb, pfa
        |  UNION ALL SELECT 'secrets_index', seb.n, sea.n, sea.n - seb.n, 'run=4,drop=mod25' FROM seb, sea
        |  UNION ALL SELECT 'components', cb.n, ca.n, ca.n - cb.n, 'n=1,t=0.95,drop=mod25' FROM cb, ca
        |  UNION ALL SELECT 'curriculum_index', cub.n, cua.n, cua.n - cub.n, 'k=1000,drop=mod10' FROM cub, cua
        |  UNION ALL SELECT 'curriculum_overflow', ovbn.n, ovan.n, ovch.n, 'k=10,pad=8,drop=mod10' FROM ovbn, ovan, ovch) u
        |ORDER BY store""".stripMargin,

    "x22_takedown_audit" ->
      """WITH RECURSIVE
        |b AS (SELECT doc_id, lang,
        |  'pin' || lpad(CAST((length(text) * 7) % 97 AS VARCHAR), 4, '0') ||
        |  ' ' || text AS text
        |  FROM documents WHERE doc_id % 25 <> 0),
        |sv AS (SELECT doc_id, lang, text FROM b WHERE doc_id % 10 <> 1),
        |tb AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0) AS toks FROM b),
        |tsv AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0) AS toks FROM sv),
        |spb AS (SELECT CAST(count(DISTINCT array_to_string(toks[i:i+7], ' ')) AS BIGINT) AS n
        |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 7)) AS i FROM tb WHERE len(toks) >= 8)),
        |spa AS (SELECT CAST(count(DISTINCT array_to_string(toks[i:i+7], ' ')) AS BIGINT) AS n
        |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 7)) AS i FROM tsv WHERE len(toks) >= 8)),
        |pb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+1], ' ') AS g
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM tb WHERE len(toks) >= 2))),
        |pa AS (SELECT CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+1], ' ') AS g
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM tsv WHERE len(toks) >= 2))),
        |mhb AS (SELECT CAST(8 * count(*) AS BIGINT) AS n FROM tb WHERE len(toks) >= 3),
        |mha AS (SELECT CAST(8 * count(*) AS BIGINT) AS n FROM tsv WHERE len(toks) >= 3),
        |atok AS (SELECT b.doc_id, b.lang, list_distinct(t.toks) AS toks
        |  FROM b JOIN tb t USING (doc_id)),
        |apairs AS (
        |  SELECT a.doc_id AS i, b2.doc_id AS j
        |  FROM atok a JOIN atok b2 ON a.lang = b2.lang AND a.doc_id < b2.doc_id
        |  WHERE len(list_distinct(list_concat(a.toks, b2.toks))) > 0
        |    AND CAST(len(list_intersect(a.toks, b2.toks)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.toks, b2.toks))) AS DOUBLE) >= 0.95),
        |aedges AS (SELECT i AS u, j AS v FROM apairs UNION SELECT j AS u, i AS v FROM apairs),
        |areach(u, v) AS (
        |  SELECT u, v FROM aedges
        |  UNION
        |  SELECT r.u, e.v FROM areach r JOIN aedges e ON r.v = e.u),
        |cc0 AS (
        |  SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS rep
        |  FROM b d LEFT JOIN areach r ON d.doc_id = r.u
        |  GROUP BY d.doc_id),
        |stok AS (SELECT sv.doc_id, sv.lang, list_distinct(t.toks) AS toks
        |  FROM sv JOIN tsv t USING (doc_id)),
        |spairs AS (
        |  SELECT a.doc_id AS i, b2.doc_id AS j
        |  FROM stok a JOIN stok b2 ON a.lang = b2.lang AND a.doc_id < b2.doc_id
        |  WHERE len(list_distinct(list_concat(a.toks, b2.toks))) > 0
        |    AND CAST(len(list_intersect(a.toks, b2.toks)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.toks, b2.toks))) AS DOUBLE) >= 0.95),
        |sedges AS (SELECT i AS u, j AS v FROM spairs UNION SELECT j AS u, i AS v FROM spairs),
        |sreach(u, v) AS (
        |  SELECT u, v FROM sedges
        |  UNION
        |  SELECT r.u, e.v FROM sreach r JOIN sedges e ON r.v = e.u),
        |cc1 AS (
        |  SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS rep
        |  FROM sv d LEFT JOIN sreach r ON d.doc_id = r.u
        |  GROUP BY d.doc_id),
        |crow AS (
        |  SELECT CAST((SELECT count(*) FROM b) AS BIGINT) AS n_before,
        |    CAST(count(*) AS BIGINT) AS n_after,
        |    CAST(sum(CASE WHEN c1.rep <> c0.rep THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
        |  FROM cc1 c1 JOIN cc0 c0 USING (doc_id))
        |SELECT 'components' AS store, n_before, n_after, n_changed FROM crow
        |UNION ALL SELECT 'mh_index', mhb.n, mha.n, mhb.n - mha.n FROM mhb, mha
        |UNION ALL SELECT 'span_index', spb.n, spa.n, spb.n - spa.n FROM spb, spa
        |UNION ALL SELECT 'tfidf_postings', pb.n, pa.n, pb.n - pa.n FROM pb, pa
        |ORDER BY store""".stripMargin,

    // the splice differential: Spark re-closes ONLY affected
    // components on the stale map; DuckDB rebuilds the whole closure
    // over the survivors
    "d26_components_delete" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 <> 1),
        |tok AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0)) AS toks
        |  FROM d),
        |pairs AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j
        |  FROM tok a JOIN tok b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(list_distinct(list_concat(a.toks, b.toks))) > 0
        |    AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= 0.95),
        |edges AS (SELECT i AS u, j AS v FROM pairs UNION SELECT j AS u, i AS v FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
        |SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS rep
        |FROM d LEFT JOIN reach r ON d.doc_id = r.u
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    "x20_license_propagation" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0)) AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j
        |  FROM tok a JOIN tok b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(list_distinct(list_concat(a.toks, b.toks))) > 0
        |    AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= 0.95),
        |edges AS (SELECT i AS u, j AS v FROM pairs UNION SELECT j AS u, i AS v FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |cc AS (
        |  SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS rep
        |  FROM documents d LEFT JOIN reach r ON d.doc_id = r.u
        |  GROUP BY d.doc_id),
        |ranked AS (
        |  SELECT cc.doc_id, cc.rep,
        |    CAST(len(d.source) % 4 AS INTEGER) AS own_rank
        |  FROM cc JOIN documents d USING (doc_id)),
        |cm AS (
        |  SELECT rep, CAST(max(own_rank) AS INTEGER) AS comp_rank,
        |    CAST(count(*) AS BIGINT) AS n_members
        |  FROM ranked GROUP BY rep)
        |SELECT r.doc_id, r.rep, r.own_rank, cm.comp_rank, cm.n_members,
        |  cm.comp_rank > r.own_rank AS upgraded
        |FROM ranked r JOIN cm USING (rep)
        |ORDER BY r.doc_id""".stripMargin,

    "d12_dedup_canonical" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0)) AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j
        |  FROM tok a JOIN tok b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(list_distinct(list_concat(a.toks, b.toks))) > 0
        |    AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= 0.95),
        |edges AS (SELECT i AS u, j AS v FROM pairs UNION SELECT j AS u, i AS v FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |cc AS (
        |  SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS rep
        |  FROM documents d LEFT JOIN reach r ON d.doc_id = r.u
        |  GROUP BY d.doc_id),
        |k AS (
        |  SELECT rep, doc_id AS keep_id FROM (
        |    SELECT cc.rep, d.doc_id,
        |      row_number() OVER (PARTITION BY cc.rep
        |                         ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
        |    FROM cc JOIN documents d USING (doc_id)) WHERE rn = 1)
        |SELECT cc.doc_id, cc.rep, k.keep_id,
        |  CAST(CASE WHEN cc.doc_id = k.keep_id THEN 1 ELSE 0 END AS INTEGER) AS kept
        |FROM cc JOIN k USING (rep)
        |ORDER BY cc.doc_id""".stripMargin,

    "d3p_minhash_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
        |  FROM tok WHERE len(toks) >= 3),
        |sh AS (
        |  SELECT doc_id, list_distinct(list(array_to_string(toks[i:i+2], ' '))) AS s
        |  FROM idx GROUP BY doc_id)
        |SELECT a.doc_id AS i, b.doc_id AS j
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) >= 0.8
        |ORDER BY i, j""".stripMargin,

    "d4p_simhash_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0)) AS toks
        |  FROM documents WHERE len(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0)) > 0),
        |th AS (SELECT doc_id, md5(unnest(toks)) AS h FROM tok),
        |bits AS (
        |  SELECT doc_id, b,
        |    ((strpos('0123456789abcdef', substr(h, CAST(b // 4 AS INTEGER) + 1, 1)) - 1) >> (b % 4)) & 1 AS bit
        |  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) bs),
        |votes AS (
        |  SELECT doc_id, b, sum(CASE WHEN bit = 1 THEN 1 ELSE -1 END) AS v
        |  FROM bits GROUP BY doc_id, b),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN v > 0 THEN
        |      CASE WHEN b = 63 THEN -9223372036854775808 ELSE (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) END
        |    ELSE 0 END) AS BIGINT) AS sig
        |  FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS i, c.doc_id AS j
        |FROM sig a JOIN sig c ON a.doc_id < c.doc_id
        |WHERE bit_count(xor(a.sig, c.sig)) <= 3
        |ORDER BY i, j""".stripMargin,

    "d5p_embedding_pairs" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS i, b.vec_id AS j
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.95
        |ORDER BY i, j""".stripMargin,

    "d10_span_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS i
        |  FROM tok WHERE len(toks) >= 8),
        |g AS (SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS gram FROM idx),
        |df AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY gram),
        |per AS (
        |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(sum(CASE WHEN df.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup_spans
        |  FROM g JOIN df USING (gram) GROUP BY g.doc_id)
        |SELECT d.doc_id,
        |  coalesce(per.n_spans, 0) AS n_spans,
        |  coalesce(per.n_dup_spans, 0) AS n_dup_spans,
        |  CASE WHEN coalesce(per.n_spans, 0) > 0
        |       THEN CAST(per.n_dup_spans AS DOUBLE) / per.n_spans
        |       ELSE 0.0 END AS dup_ratio
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "d11_fuzzy_join" ->
      """WITH base AS (
        |  SELECT doc_id AS id, substr(text, 1, 24) AS sk FROM documents),
        |typos AS (
        |  SELECT doc_id + 1000000 AS id, '#' || substr(text, 2, 23) AS sk
        |  FROM documents WHERE doc_id % 5 = 0),
        |c AS (SELECT * FROM base UNION ALL SELECT * FROM typos)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.sk, b.sk) AS INTEGER) AS dist
        |FROM c a JOIN c b
        |  ON a.id < b.id AND abs(len(a.sk) - len(b.sk)) <= 1
        |WHERE levenshtein(a.sk, b.sk) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    "c1_decontamination" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS i
        |  FROM tok WHERE len(toks) >= 8),
        |ev AS (
        |  SELECT DISTINCT array_to_string(toks[i:i+7], ' ') AS g
        |  FROM idx WHERE doc_id % 10 = 7),
        |cg AS (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS g
        |  FROM idx WHERE doc_id % 10 <> 7)
        |SELECT cg.doc_id, count(*) AS n_shared
        |FROM cg JOIN ev USING (g)
        |GROUP BY cg.doc_id ORDER BY cg.doc_id""".stripMargin,

    "c6_eval_leak_report" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS i
        |  FROM tok WHERE len(toks) >= 8),
        |eg AS (
        |  SELECT DISTINCT doc_id AS eval_id, array_to_string(toks[i:i+7], ' ') AS g
        |  FROM idx WHERE doc_id % 10 = 7),
        |cg AS (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS g
        |  FROM idx WHERE doc_id % 10 <> 7),
        |hits AS (
        |  SELECT cg.g, count(DISTINCT cg.doc_id) AS n_docs
        |  FROM cg JOIN (SELECT DISTINCT g FROM eg) e USING (g)
        |  GROUP BY cg.g),
        |agg AS (
        |  SELECT eval_id, count(*) AS n_grams,
        |    CAST(sum(CASE WHEN h.n_docs IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked,
        |    CAST(coalesce(sum(h.n_docs), 0) AS BIGINT) AS n_hit_docs
        |  FROM eg LEFT JOIN hits h USING (g)
        |  GROUP BY eval_id)
        |SELECT eval_id, n_grams, n_leaked,
        |  (n_leaked * 1000000) // n_grams AS leak_ppm, n_hit_docs
        |FROM agg ORDER BY eval_id""".stripMargin,

    "c3_decon_bloom" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS i
        |  FROM tok WHERE len(toks) >= 8),
        |ev AS (
        |  SELECT DISTINCT array_to_string(toks[i:i+7], ' ') AS g
        |  FROM idx WHERE doc_id % 10 = 7),
        |cg AS (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS g
        |  FROM idx WHERE doc_id % 10 <> 7)
        |SELECT cg.doc_id, count(*) AS n_shared
        |FROM cg JOIN ev USING (g)
        |GROUP BY cg.doc_id ORDER BY cg.doc_id""".stripMargin,

    "c2_decon_fuzzy" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
        |  FROM tok WHERE len(toks) >= 3),
        |sh AS (
        |  SELECT doc_id, list_distinct(list(array_to_string(toks[i:i+2], ' '))) AS s
        |  FROM idx GROUP BY doc_id)
        |SELECT a.doc_id AS doc_id, b.doc_id AS eval_id
        |FROM sh a JOIN sh b
        |  ON a.doc_id % 10 <> 7 AND b.doc_id % 10 = 7
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) >= 0.8
        |ORDER BY doc_id, eval_id""".stripMargin,

    "c4_decon_semantic" ->
      """WITH q AS (
        |  SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id % 10 = 7),
        |c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id % 10 <> 7),
        |s AS (
        |  SELECT vec_id,
        |    list_dot_product(qv, cv) /
        |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
        |  FROM c CROSS JOIN q)
        |SELECT vec_id, count(*) AS n_eval_hits, max(sim) AS max_sim
        |FROM s WHERE sim >= 0.35
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "d6_dedup_embedding_exact" ->
      """WITH v AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
        |    count(*) OVER (PARTITION BY label) AS bsz
        |  FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS i, b.vec_id AS j
        |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE a.bsz <= 4096
        |    AND list_dot_product(a.v, b.v) /
        |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.95)
        |SELECT e.vec_id, coalesce(min(p.i), e.vec_id) AS rep
        |FROM embeddings e LEFT JOIN pairs p ON e.vec_id = p.j
        |GROUP BY e.vec_id ORDER BY e.vec_id""".stripMargin,

    // d9: centroids-as-data — DuckDB replays the nearest-cell assignment
    // (argmax cosine, ties to the smaller centroid_id, mirroring Spark's
    // array_position-of-first-max) and the within-cell pair predicate
    // from the persisted cell table; list_dot_product ≡ the fused
    // graft_cosine folds (the d6/a1 discipline)
    "d9_semantic_dedup" ->
      """WITH cents AS (
        |  SELECT centroid_id, centroid
        |  FROM read_parquet('__GRAFT_MODELS__/cells_d9.parquet/*.parquet')),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scored AS (
        |  SELECT v.vec_id, c.centroid_id,
        |    list_dot_product(v.v, c.centroid) /
        |      (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(c.centroid, c.centroid))) AS csim
        |  FROM v CROSS JOIN cents c),
        |assign AS (
        |  SELECT vec_id, centroid_id AS cell FROM (
        |    SELECT vec_id, centroid_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, centroid_id) AS rk
        |    FROM scored) t WHERE rk = 1),
        |b AS (
        |  SELECT a.vec_id, a.cell, v.v, count(*) OVER (PARTITION BY a.cell) AS bsz
        |  FROM assign a JOIN v ON a.vec_id = v.vec_id),
        |pairs AS (
        |  SELECT x.vec_id AS i, y.vec_id AS j
        |  FROM b x JOIN b y ON x.cell = y.cell AND x.vec_id < y.vec_id
        |  WHERE x.bsz <= 4096
        |    AND list_dot_product(x.v, y.v) /
        |        (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.4)
        |SELECT a.vec_id, a.cell, coalesce(min(p.i), a.vec_id) AS rep
        |FROM assign a LEFT JOIN pairs p ON a.vec_id = p.j
        |GROUP BY a.vec_id, a.cell ORDER BY a.vec_id""".stripMargin,

    "a9_ivf_append" ->
      """WITH cents AS (
        |  SELECT CAST(centroid_id AS INTEGER) AS cell, centroid
        |  FROM read_parquet('__GRAFT_MODELS__/cells_a9.parquet/*.parquet')),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scored_b AS (
        |  SELECT v.vec_id, c.cell,
        |    list_dot_product(v.v, c.centroid) /
        |      (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(c.centroid, c.centroid))) AS csim
        |  FROM v CROSS JOIN cents c WHERE v.vec_id % 4 <> 0),
        |ab AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rk
        |    FROM scored_b) t WHERE rk = 1),
        |nb AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_base
        |       FROM ab GROUP BY cell),
        |scored_d AS (
        |  SELECT v.vec_id, c.cell,
        |    list_dot_product(v.v, c.centroid) /
        |      (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(c.centroid, c.centroid))) AS csim
        |  FROM v CROSS JOIN cents c WHERE v.vec_id % 4 = 0),
        |ad AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rk
        |    FROM scored_d) t WHERE rk = 1),
        |xm AS (
        |  SELECT ad.cell,
        |    unnest(generate_series(0, len(v.v) - 1)) AS pos,
        |    unnest(v.v) AS x
        |  FROM ad JOIN v ON ad.vec_id = v.vec_id),
        |mu AS (
        |  SELECT cell, pos,
        |    CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mu,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM xm GROUP BY cell, pos),
        |cx AS (
        |  SELECT cell,
        |    unnest(generate_series(0, len(centroid) - 1)) AS pos,
        |    unnest(centroid) AS c
        |  FROM cents),
        |dr AS (
        |  SELECT mu.cell, CAST(max(mu.n) AS BIGINT) AS n_new,
        |    CAST(sum(CAST(mu.mu * cx.c AS DECIMAL(28,12))) AS DOUBLE) AS dot,
        |    CAST(sum(CAST(mu.mu * mu.mu AS DECIMAL(28,12))) AS DOUBLE) AS mm,
        |    CAST(sum(CAST(cx.c * cx.c AS DECIMAL(28,12))) AS DOUBLE) AS cc
        |  FROM mu JOIN cx ON mu.cell = cx.cell AND mu.pos = cx.pos
        |  GROUP BY mu.cell)
        |SELECT cents.cell, CAST(coalesce(nb.n_base, 0) AS BIGINT) AS n_base,
        |  CAST(coalesce(dr.n_new, 0) AS BIGINT) AS n_new,
        |  dr.dot / (sqrt(dr.mm) * sqrt(dr.cc)) AS cos
        |FROM cents LEFT JOIN nb ON cents.cell = nb.cell
        |LEFT JOIN dr ON cents.cell = dr.cell
        |ORDER BY cents.cell""".stripMargin,

    // a2p probes every cell (nprobe = nlist), so the IVF output contract
    // is exact top-k — the SAME brute-force SQL is its oracle
    "a4_pq_adc" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |model AS (
        |  SELECT sub, centroid_id, centroid
        |  FROM read_parquet('__GRAFT_MODELS__/pq_model.parquet/*.parquet')),
        |scored AS (
        |  SELECT v.vec_id, m.sub, m.centroid_id,
        |    list_dot_product(m.centroid, m.centroid)
        |      - 2 * list_dot_product(v.v[m.sub * 8 + 1 : m.sub * 8 + 8],
        |                             m.centroid) AS s
        |  FROM v, model m),
        |codes AS (
        |  SELECT vec_id, sub, centroid_id AS code FROM (
        |    SELECT vec_id, sub, centroid_id,
        |      row_number() OVER (PARTITION BY vec_id, sub
        |                         ORDER BY s, centroid_id) AS rn
        |    FROM scored) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 10),
        |lut AS (
        |  SELECT q.query_id, m.sub, m.centroid_id AS code,
        |    list_dot_product(m.centroid, m.centroid)
        |      - 2 * list_dot_product(q.qv[m.sub * 8 + 1 : m.sub * 8 + 8],
        |                             m.centroid) AS s
        |  FROM q, model m),
        |sc AS (
        |  SELECT l.query_id, c.vec_id,
        |    CAST(sum(CAST(l.s AS DECIMAL(28,12))) AS DOUBLE) AS adist
        |  FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
        |  WHERE c.vec_id <> l.query_id
        |  GROUP BY l.query_id, c.vec_id),
        |rk AS (
        |  SELECT query_id, vec_id AS neighbor_id, adist,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY adist, vec_id) AS rank
        |  FROM sc)
        |SELECT query_id, neighbor_id, adist, CAST(rank AS INTEGER) AS rank
        |FROM rk WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "a10_adc_rerank" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |model AS (
        |  SELECT sub, centroid_id, centroid
        |  FROM read_parquet('__GRAFT_MODELS__/pq_model.parquet/*.parquet')),
        |scored AS (
        |  SELECT v.vec_id, m.sub, m.centroid_id,
        |    list_dot_product(m.centroid, m.centroid)
        |      - 2 * list_dot_product(v.v[m.sub * 8 + 1 : m.sub * 8 + 8],
        |                             m.centroid) AS s
        |  FROM v, model m),
        |codes AS (
        |  SELECT vec_id, sub, centroid_id AS code FROM (
        |    SELECT vec_id, sub, centroid_id,
        |      row_number() OVER (PARTITION BY vec_id, sub
        |                         ORDER BY s, centroid_id) AS rn
        |    FROM scored) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 10),
        |lut AS (
        |  SELECT q.query_id, m.sub, m.centroid_id AS code,
        |    list_dot_product(m.centroid, m.centroid)
        |      - 2 * list_dot_product(q.qv[m.sub * 8 + 1 : m.sub * 8 + 8],
        |                             m.centroid) AS s
        |  FROM q, model m),
        |sc AS (
        |  SELECT l.query_id, c.vec_id,
        |    CAST(sum(CAST(l.s AS DECIMAL(28,12))) AS DOUBLE) AS adist
        |  FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
        |  WHERE c.vec_id <> l.query_id
        |  GROUP BY l.query_id, c.vec_id),
        |short AS (
        |  SELECT query_id, vec_id AS neighbor_id FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY adist, vec_id) AS rank
        |    FROM sc) WHERE rank <= 25),
        |re AS (
        |  SELECT s.query_id, s.neighbor_id,
        |    list_dot_product(q.qv, c.v) /
        |      (sqrt(list_dot_product(q.qv, q.qv)) *
        |       sqrt(list_dot_product(c.v, c.v))) AS sim
        |  FROM short s
        |  JOIN q ON s.query_id = q.query_id
        |  JOIN v c ON s.neighbor_id = c.vec_id),
        |rr AS (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM re)
        |SELECT query_id, neighbor_id, sim, CAST(rank AS INTEGER) AS rank
        |FROM rr WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // the refit-assignment replay: old cell from the persisted a9
    // centroids, refit-cell vectors re-argmax over ONLY the flagged
    // v13 centroids (row_number ties on cell ≡ Spark's first-max /
    // smallest-id contract)
    "v13_partial_refit" ->
      """WITH oldc AS (
        |  SELECT CAST(centroid_id AS INTEGER) AS cell, centroid
        |  FROM read_parquet('__GRAFT_MODELS__/cells_a9.parquet/*.parquet')),
        |newc AS (
        |  SELECT CAST(centroid_id AS INTEGER) AS cell, centroid, refit
        |  FROM read_parquet('__GRAFT_MODELS__/cells_v13.parquet/*.parquet')),
        |v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 4 <> 0
        |  UNION ALL
        |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> -x)
        |  FROM embeddings WHERE vec_id % 4 = 0),
        |so AS (
        |  SELECT v.vec_id, c.cell,
        |    list_dot_product(v.v, c.centroid) /
        |      (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(c.centroid, c.centroid))) AS csim
        |  FROM v CROSS JOIN oldc c),
        |olda AS (
        |  SELECT vec_id, cell AS old_cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rk
        |    FROM so) t WHERE rk = 1),
        |sn AS (
        |  SELECT v.vec_id, c.cell,
        |    list_dot_product(v.v, c.centroid) /
        |      (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(c.centroid, c.centroid))) AS csim
        |  FROM v CROSS JOIN newc c WHERE c.refit),
        |newa AS (
        |  SELECT vec_id, cell AS new_cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rk
        |    FROM sn) t WHERE rk = 1)
        |SELECT o.vec_id, o.old_cell,
        |  CASE WHEN o.old_cell IN (SELECT cell FROM newc WHERE refit)
        |       THEN n.new_cell ELSE o.old_cell END AS cell
        |FROM olda o LEFT JOIN newa n USING (vec_id)
        |ORDER BY o.vec_id""".stripMargin,

    // v14 re-encode (row_number ties on centroid_id ≡ Spark's
    // first-min / smallest-code contract); the warp x·3+2 on the
    // first 8 dims is the one shared planted-drop definition
    "v14_pq_partial_refit" ->
      """WITH w0 AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0
        |  FROM embeddings WHERE vec_id % 4 = 0),
        |wv AS (
        |  SELECT vec_id, list_transform(generate_series(1, 64),
        |    i -> CASE WHEN i <= 8 THEN v0[i] * 3 + 2 ELSE v0[i] END) AS v
        |  FROM w0),
        |v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 4 <> 0
        |  UNION ALL SELECT vec_id, v FROM wv),
        |oldm AS (
        |  SELECT sub, centroid_id, centroid
        |  FROM read_parquet('__GRAFT_MODELS__/pq_model.parquet/*.parquet')),
        |newm AS (
        |  SELECT sub, centroid_id, centroid, refit
        |  FROM read_parquet('__GRAFT_MODELS__/pq_v14_model.parquet/*.parquet')),
        |so AS (
        |  SELECT v.vec_id, m.sub, m.centroid_id,
        |    list_dot_product(m.centroid, m.centroid)
        |      - 2 * list_dot_product(v.v[m.sub * 8 + 1 : m.sub * 8 + 8],
        |                             m.centroid) AS s
        |  FROM v, oldm m),
        |oldc AS (
        |  SELECT vec_id, sub, centroid_id AS old_code FROM (
        |    SELECT vec_id, sub, centroid_id,
        |      row_number() OVER (PARTITION BY vec_id, sub
        |                         ORDER BY s, centroid_id) AS rn
        |    FROM so) WHERE rn = 1),
        |sn AS (
        |  SELECT v.vec_id, m.sub, m.centroid_id,
        |    list_dot_product(m.centroid, m.centroid)
        |      - 2 * list_dot_product(v.v[m.sub * 8 + 1 : m.sub * 8 + 8],
        |                             m.centroid) AS s
        |  FROM v, newm m WHERE m.refit),
        |newc AS (
        |  SELECT vec_id, sub, centroid_id AS new_code FROM (
        |    SELECT vec_id, sub, centroid_id,
        |      row_number() OVER (PARTITION BY vec_id, sub
        |                         ORDER BY s, centroid_id) AS rn
        |    FROM sn) WHERE rn = 1)
        |SELECT o.vec_id, CAST(o.sub AS INTEGER) AS sub, o.old_code,
        |  CASE WHEN o.sub IN (SELECT DISTINCT sub FROM newm WHERE refit)
        |       THEN n.new_code ELSE o.old_code END AS code
        |FROM oldc o LEFT JOIN newc n
        |  ON o.vec_id = n.vec_id AND o.sub = n.sub
        |ORDER BY o.vec_id, o.sub""".stripMargin,

    "v12_pq_distortion" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |model AS (
        |  SELECT sub, centroid_id, centroid
        |  FROM read_parquet('__GRAFT_MODELS__/pq_model.parquet/*.parquet')),
        |scored AS (
        |  SELECT v.vec_id, m.sub, m.centroid_id,
        |    list_dot_product(m.centroid, m.centroid)
        |      - 2 * list_dot_product(v.v[m.sub * 8 + 1 : m.sub * 8 + 8],
        |                             m.centroid) AS s
        |  FROM v, model m),
        |codes AS (
        |  SELECT vec_id, sub, centroid_id AS code FROM (
        |    SELECT vec_id, sub, centroid_id,
        |      row_number() OVER (PARTITION BY vec_id, sub
        |                         ORDER BY s, centroid_id) AS rn
        |    FROM scored) WHERE rn = 1),
        |err AS (
        |  SELECT c.sub,
        |    list_dot_product(v.v[c.sub * 8 + 1 : c.sub * 8 + 8],
        |                     v.v[c.sub * 8 + 1 : c.sub * 8 + 8])
        |      - 2 * list_dot_product(v.v[c.sub * 8 + 1 : c.sub * 8 + 8],
        |                             m.centroid)
        |      + list_dot_product(m.centroid, m.centroid) AS e
        |  FROM codes c
        |  JOIN v ON c.vec_id = v.vec_id
        |  JOIN model m ON m.sub = c.sub AND m.centroid_id = c.code)
        |SELECT CAST(sub AS INTEGER) AS sub,
        |  CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(CAST(e AS DECIMAL(28,12))) AS DOUBLE) AS sse,
        |  CAST(sum(CAST(e AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mse
        |FROM err GROUP BY sub ORDER BY sub""".stripMargin,

    "v11_ann_recall" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |model AS (
        |  SELECT sub, centroid_id, centroid
        |  FROM read_parquet('__GRAFT_MODELS__/pq_model.parquet/*.parquet')),
        |scored AS (
        |  SELECT v.vec_id, m.sub, m.centroid_id,
        |    list_dot_product(m.centroid, m.centroid)
        |      - 2 * list_dot_product(v.v[m.sub * 8 + 1 : m.sub * 8 + 8],
        |                             m.centroid) AS s
        |  FROM v, model m),
        |codes AS (
        |  SELECT vec_id, sub, centroid_id AS code FROM (
        |    SELECT vec_id, sub, centroid_id,
        |      row_number() OVER (PARTITION BY vec_id, sub
        |                         ORDER BY s, centroid_id) AS rn
        |    FROM scored) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 10),
        |lut AS (
        |  SELECT q.query_id, m.sub, m.centroid_id AS code,
        |    list_dot_product(m.centroid, m.centroid)
        |      - 2 * list_dot_product(q.qv[m.sub * 8 + 1 : m.sub * 8 + 8],
        |                             m.centroid) AS s
        |  FROM q, model m),
        |sc AS (
        |  SELECT l.query_id, c.vec_id,
        |    CAST(sum(CAST(l.s AS DECIMAL(28,12))) AS DOUBLE) AS adist
        |  FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
        |  WHERE c.vec_id <> l.query_id
        |  GROUP BY l.query_id, c.vec_id),
        |short AS (
        |  SELECT query_id, vec_id AS neighbor_id FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY adist, vec_id) AS rank
        |    FROM sc) WHERE rank <= 25),
        |re AS (
        |  SELECT s.query_id, s.neighbor_id,
        |    list_dot_product(q.qv, c.v) /
        |      (sqrt(list_dot_product(q.qv, q.qv)) *
        |       sqrt(list_dot_product(c.v, c.v))) AS sim
        |  FROM short s
        |  JOIN q ON s.query_id = q.query_id
        |  JOIN v c ON s.neighbor_id = c.vec_id),
        |approx AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY sim DESC, neighbor_id) AS rank
        |    FROM re) WHERE rank <= 5),
        |ex AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_dot_product(q.qv, c.v) /
        |          (sqrt(list_dot_product(q.qv, q.qv)) *
        |           sqrt(list_dot_product(c.v, c.v))) DESC, c.vec_id ASC) AS rank
        |    FROM v c CROSS JOIN q WHERE c.vec_id <> q.query_id) t
        |  WHERE rank <= 5),
        |hits AS (
        |  SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM ex e JOIN approx a USING (query_id, neighbor_id)
        |  GROUP BY e.query_id),
        |kk AS (SELECT query_id, CAST(count(*) AS BIGINT) AS kk
        |       FROM ex GROUP BY query_id)
        |SELECT kk.query_id, coalesce(h.n_hits, 0) AS n_hits,
        |  (1000000 * coalesce(h.n_hits, 0)) // kk.kk AS recall_ppm
        |FROM kk LEFT JOIN hits h USING (query_id)
        |ORDER BY kk.query_id""".stripMargin,

    "a3_pq_encode" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |model AS (
        |  SELECT sub, centroid_id, centroid
        |  FROM read_parquet('__GRAFT_MODELS__/pq_model.parquet/*.parquet')),
        |scored AS (
        |  SELECT v.vec_id, m.sub, m.centroid_id,
        |    list_dot_product(m.centroid, m.centroid)
        |      - 2 * list_dot_product(v.v[m.sub * 8 + 1 : m.sub * 8 + 8],
        |                             m.centroid) AS s
        |  FROM v, model m),
        |rk AS (
        |  SELECT vec_id, sub, centroid_id,
        |    row_number() OVER (PARTITION BY vec_id, sub
        |                       ORDER BY s, centroid_id) AS rn
        |  FROM scored)
        |SELECT vec_id, CAST(sub AS INTEGER) AS sub,
        |  CAST(centroid_id AS INTEGER) AS code
        |FROM rk WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin,

    "a8p_ivf_radius_full" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |c AS (
        |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings)
        |SELECT query_id, neighbor_id,
        |  list_dot_product(qv, cv) /
        |    (sqrt(list_dot_product(qv, qv)) *
        |     sqrt(list_dot_product(cv, cv))) AS sim
        |FROM c CROSS JOIN q
        |WHERE neighbor_id <> query_id
        |  AND list_dot_product(qv, cv) /
        |    (sqrt(list_dot_product(qv, qv)) *
        |     sqrt(list_dot_product(cv, cv))) >= 0.3
        |ORDER BY query_id, neighbor_id""".stripMargin,

    "a7_radius_search" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |c AS (
        |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings)
        |SELECT query_id, neighbor_id,
        |  list_dot_product(qv, cv) /
        |    (sqrt(list_dot_product(qv, qv)) *
        |     sqrt(list_dot_product(cv, cv))) AS sim
        |FROM c CROSS JOIN q
        |WHERE neighbor_id <> query_id
        |  AND list_dot_product(qv, cv) /
        |    (sqrt(list_dot_product(qv, qv)) *
        |     sqrt(list_dot_product(cv, cv))) >= 0.3
        |ORDER BY query_id, neighbor_id""".stripMargin,

    "a6_ivf_pq" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (
        |  SELECT centroid_id, centroid
        |  FROM read_parquet('__GRAFT_MODELS__/ivf_centroids_16.parquet/*.parquet')),
        |asn AS (
        |  SELECT vec_id, centroid_id AS cell FROM (
        |    SELECT v.vec_id, c.centroid_id,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_dot_product(v.v, c.centroid) /
        |          (sqrt(list_dot_product(v.v, v.v)) *
        |           sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
        |        c.centroid_id) AS rn
        |    FROM v, cent c) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 5),
        |qc AS (
        |  SELECT query_id, centroid_id AS cell FROM (
        |    SELECT q.query_id, c.centroid_id,
        |      row_number() OVER (PARTITION BY q.query_id ORDER BY
        |        list_dot_product(q.qv, c.centroid) /
        |          (sqrt(list_dot_product(q.qv, q.qv)) *
        |           sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
        |        c.centroid_id) AS rn
        |    FROM q, cent c) WHERE rn <= 4),
        |model AS (
        |  SELECT sub, centroid_id, centroid
        |  FROM read_parquet('__GRAFT_MODELS__/pq_model.parquet/*.parquet')),
        |scored AS (
        |  SELECT v.vec_id, m.sub, m.centroid_id,
        |    list_dot_product(m.centroid, m.centroid)
        |      - 2 * list_dot_product(v.v[m.sub * 8 + 1 : m.sub * 8 + 8],
        |                             m.centroid) AS s
        |  FROM v, model m),
        |codes AS (
        |  SELECT vec_id, sub, centroid_id AS code FROM (
        |    SELECT vec_id, sub, centroid_id,
        |      row_number() OVER (PARTITION BY vec_id, sub
        |                         ORDER BY s, centroid_id) AS rn
        |    FROM scored) WHERE rn = 1),
        |lut AS (
        |  SELECT q.query_id, m.sub, m.centroid_id AS code,
        |    list_dot_product(m.centroid, m.centroid)
        |      - 2 * list_dot_product(q.qv[m.sub * 8 + 1 : m.sub * 8 + 8],
        |                             m.centroid) AS s
        |  FROM q, model m),
        |cand AS (
        |  SELECT qc.query_id, asn.vec_id
        |  FROM qc JOIN asn ON qc.cell = asn.cell
        |  WHERE asn.vec_id <> qc.query_id),
        |sc AS (
        |  SELECT cand.query_id, cand.vec_id,
        |    CAST(sum(CAST(l.s AS DECIMAL(28,12))) AS DOUBLE) AS adist
        |  FROM cand
        |  JOIN codes c2 ON cand.vec_id = c2.vec_id
        |  JOIN lut l ON l.query_id = cand.query_id
        |    AND l.sub = c2.sub AND l.code = c2.code
        |  GROUP BY cand.query_id, cand.vec_id),
        |rk AS (
        |  SELECT query_id, vec_id AS neighbor_id, adist,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY adist, vec_id) AS rank
        |  FROM sc)
        |SELECT query_id, neighbor_id, adist, CAST(rank AS INTEGER) AS rank
        |FROM rk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "a12_opq_adc" ->
      """WITH rot AS (
        |  SELECT r, c, w
        |  FROM read_parquet('__GRAFT_MODELS__/opq_rotation.parquet/*.parquet')),
        |v0 AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |v AS (
        |  SELECT vec_id,
        |    list(list_dot_product(v0.v, rot.w) - rot.c ORDER BY rot.r) AS v
        |  FROM v0, rot GROUP BY vec_id),
        |model AS (
        |  SELECT sub, centroid_id, centroid
        |  FROM read_parquet('__GRAFT_MODELS__/opq_pq_model.parquet/*.parquet')),
        |scored AS (
        |  SELECT v.vec_id, m.sub, m.centroid_id,
        |    list_dot_product(m.centroid, m.centroid)
        |      - 2 * list_dot_product(v.v[m.sub * 8 + 1 : m.sub * 8 + 8],
        |                             m.centroid) AS s
        |  FROM v, model m),
        |codes AS (
        |  SELECT vec_id, sub, centroid_id AS code FROM (
        |    SELECT vec_id, sub, centroid_id,
        |      row_number() OVER (PARTITION BY vec_id, sub
        |                         ORDER BY s, centroid_id) AS rn
        |    FROM scored) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 5),
        |lut AS (
        |  SELECT q.query_id, m.sub, m.centroid_id AS code,
        |    list_dot_product(m.centroid, m.centroid)
        |      - 2 * list_dot_product(q.qv[m.sub * 8 + 1 : m.sub * 8 + 8],
        |                             m.centroid) AS s
        |  FROM q, model m),
        |sc AS (
        |  SELECT l.query_id, c.vec_id,
        |    CAST(sum(CAST(l.s AS DECIMAL(28,12))) AS DOUBLE) AS adist
        |  FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
        |  WHERE c.vec_id <> l.query_id
        |  GROUP BY l.query_id, c.vec_id),
        |rk AS (
        |  SELECT query_id, vec_id AS neighbor_id, adist,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY adist, vec_id) AS rank
        |  FROM sc)
        |SELECT query_id, neighbor_id, adist, CAST(rank AS INTEGER) AS rank
        |FROM rk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "a13_opq_ivf_pq" ->
      """WITH rot AS (
        |  SELECT r, c, w
        |  FROM read_parquet('__GRAFT_MODELS__/opq_rotation.parquet/*.parquet')),
        |v0 AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |v AS (
        |  SELECT vec_id,
        |    list(list_dot_product(v0.v, rot.w) - rot.c ORDER BY rot.r) AS v
        |  FROM v0, rot GROUP BY vec_id),
        |cent AS (
        |  SELECT centroid_id, centroid
        |  FROM read_parquet('__GRAFT_MODELS__/opq_ivf_centroids_16.parquet/*.parquet')),
        |asn AS (
        |  SELECT vec_id, centroid_id AS cell FROM (
        |    SELECT v.vec_id, c.centroid_id,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_dot_product(v.v, c.centroid) /
        |          (sqrt(list_dot_product(v.v, v.v)) *
        |           sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
        |        c.centroid_id) AS rn
        |    FROM v, cent c) WHERE rn = 1),
        |rv AS (
        |  SELECT a.vec_id, a.cell,
        |    list_transform(generate_series(1, 64),
        |      i -> v.v[i] - c.centroid[i]) AS r
        |  FROM asn a JOIN v USING (vec_id)
        |  JOIN cent c ON a.cell = c.centroid_id),
        |model AS (
        |  SELECT sub, centroid_id, centroid
        |  FROM read_parquet('__GRAFT_MODELS__/opq_resid_model.parquet/*.parquet')),
        |scored AS (
        |  SELECT rv.vec_id, m.sub, m.centroid_id,
        |    list_dot_product(m.centroid, m.centroid)
        |      - 2 * list_dot_product(rv.r[m.sub * 8 + 1 : m.sub * 8 + 8],
        |                             m.centroid) AS s
        |  FROM rv, model m),
        |codes AS (
        |  SELECT vec_id, cell, sub, centroid_id AS code FROM (
        |    SELECT sc.vec_id, rv.cell, sc.sub, sc.centroid_id,
        |      row_number() OVER (PARTITION BY sc.vec_id, sc.sub
        |                         ORDER BY sc.s, sc.centroid_id) AS rn
        |    FROM scored sc JOIN rv ON sc.vec_id = rv.vec_id) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 5),
        |qc AS (
        |  SELECT query_id, centroid_id AS cell FROM (
        |    SELECT q.query_id, c.centroid_id,
        |      row_number() OVER (PARTITION BY q.query_id ORDER BY
        |        list_dot_product(q.qv, c.centroid) /
        |          (sqrt(list_dot_product(q.qv, q.qv)) *
        |           sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
        |        c.centroid_id) AS rn
        |    FROM q, cent c) WHERE rn <= 4),
        |qres AS (
        |  SELECT q.query_id, c.centroid_id AS cell,
        |    list_transform(generate_series(1, 64),
        |      i -> q.qv[i] - c.centroid[i]) AS r
        |  FROM q, cent c),
        |lut AS (
        |  SELECT qres.query_id, qres.cell, m.sub, m.centroid_id AS code,
        |    list_dot_product(qres.r[m.sub * 8 + 1 : m.sub * 8 + 8],
        |                     qres.r[m.sub * 8 + 1 : m.sub * 8 + 8])
        |      + list_dot_product(m.centroid, m.centroid)
        |      - 2 * list_dot_product(qres.r[m.sub * 8 + 1 : m.sub * 8 + 8],
        |                             m.centroid) AS s
        |  FROM qres, model m),
        |cand AS (
        |  SELECT qc.query_id, a.vec_id, a.cell
        |  FROM qc JOIN asn a ON qc.cell = a.cell
        |  WHERE a.vec_id <> qc.query_id),
        |sc AS (
        |  SELECT cand.query_id, cand.vec_id,
        |    CAST(sum(CAST(l.s AS DECIMAL(28,12))) AS DOUBLE) AS adist
        |  FROM cand
        |  JOIN codes c2 ON cand.vec_id = c2.vec_id
        |  JOIN lut l ON l.query_id = cand.query_id AND l.cell = cand.cell
        |    AND l.sub = c2.sub AND l.code = c2.code
        |  GROUP BY cand.query_id, cand.vec_id),
        |rk AS (
        |  SELECT query_id, vec_id AS neighbor_id, adist,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY adist, vec_id) AS rank
        |  FROM sc)
        |SELECT query_id, neighbor_id, adist, CAST(rank AS INTEGER) AS rank
        |FROM rk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "a11_ivf_pq_residual" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (
        |  SELECT centroid_id, centroid
        |  FROM read_parquet('__GRAFT_MODELS__/ivf_centroids_16.parquet/*.parquet')),
        |asn AS (
        |  SELECT vec_id, centroid_id AS cell FROM (
        |    SELECT v.vec_id, c.centroid_id,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_dot_product(v.v, c.centroid) /
        |          (sqrt(list_dot_product(v.v, v.v)) *
        |           sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
        |        c.centroid_id) AS rn
        |    FROM v, cent c) WHERE rn = 1),
        |rv AS (
        |  SELECT a.vec_id, a.cell,
        |    list_transform(generate_series(1, 64),
        |      i -> v.v[i] - c.centroid[i]) AS r
        |  FROM asn a JOIN v USING (vec_id)
        |  JOIN cent c ON a.cell = c.centroid_id),
        |model AS (
        |  SELECT sub, centroid_id, centroid
        |  FROM read_parquet('__GRAFT_MODELS__/pq_resid_model.parquet/*.parquet')),
        |scored AS (
        |  SELECT rv.vec_id, m.sub, m.centroid_id,
        |    list_dot_product(m.centroid, m.centroid)
        |      - 2 * list_dot_product(rv.r[m.sub * 8 + 1 : m.sub * 8 + 8],
        |                             m.centroid) AS s
        |  FROM rv, model m),
        |codes AS (
        |  SELECT vec_id, cell, sub, centroid_id AS code FROM (
        |    SELECT sc.vec_id, rv.cell, sc.sub, sc.centroid_id,
        |      row_number() OVER (PARTITION BY sc.vec_id, sc.sub
        |                         ORDER BY sc.s, sc.centroid_id) AS rn
        |    FROM scored sc JOIN rv ON sc.vec_id = rv.vec_id) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 5),
        |qc AS (
        |  SELECT query_id, centroid_id AS cell FROM (
        |    SELECT q.query_id, c.centroid_id,
        |      row_number() OVER (PARTITION BY q.query_id ORDER BY
        |        list_dot_product(q.qv, c.centroid) /
        |          (sqrt(list_dot_product(q.qv, q.qv)) *
        |           sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
        |        c.centroid_id) AS rn
        |    FROM q, cent c) WHERE rn <= 4),
        |qres AS (
        |  SELECT q.query_id, c.centroid_id AS cell,
        |    list_transform(generate_series(1, 64),
        |      i -> q.qv[i] - c.centroid[i]) AS r
        |  FROM q, cent c),
        |lut AS (
        |  SELECT qres.query_id, qres.cell, m.sub, m.centroid_id AS code,
        |    list_dot_product(qres.r[m.sub * 8 + 1 : m.sub * 8 + 8],
        |                     qres.r[m.sub * 8 + 1 : m.sub * 8 + 8])
        |      + list_dot_product(m.centroid, m.centroid)
        |      - 2 * list_dot_product(qres.r[m.sub * 8 + 1 : m.sub * 8 + 8],
        |                             m.centroid) AS s
        |  FROM qres, model m),
        |cand AS (
        |  SELECT qc.query_id, a.vec_id, a.cell
        |  FROM qc JOIN asn a ON qc.cell = a.cell
        |  WHERE a.vec_id <> qc.query_id),
        |sc AS (
        |  SELECT cand.query_id, cand.vec_id,
        |    CAST(sum(CAST(l.s AS DECIMAL(28,12))) AS DOUBLE) AS adist
        |  FROM cand
        |  JOIN codes c2 ON cand.vec_id = c2.vec_id
        |  JOIN lut l ON l.query_id = cand.query_id AND l.cell = cand.cell
        |    AND l.sub = c2.sub AND l.code = c2.code
        |  GROUP BY cand.query_id, cand.vec_id),
        |rk AS (
        |  SELECT query_id, vec_id AS neighbor_id, adist,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY adist, vec_id) AS rank
        |  FROM sc)
        |SELECT query_id, neighbor_id, adist, CAST(rank AS INTEGER) AS rank
        |FROM rk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "a2p_ivf_full_probe" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |c AS (
        |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    list_dot_product(qv, cv) /
        |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
        |  FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, sim, rank FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "v6_knn_label" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 50),
        |c AS (
        |  SELECT vec_id AS neighbor_id, label, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id, label,
        |    list_dot_product(qv, cv) /
        |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
        |  FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
        |ranked AS (
        |  SELECT query_id, label,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM scored),
        |votes AS (
        |  SELECT query_id, label, CAST(count(*) AS BIGINT) AS votes
        |  FROM ranked WHERE rank <= 5 GROUP BY 1, 2),
        |win AS (
        |  SELECT query_id, label, votes,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY votes DESC, label ASC) AS rn
        |  FROM votes)
        |SELECT query_id, label AS pred_label, votes
        |FROM win WHERE rn = 1 ORDER BY query_id""".stripMargin,

    "a1_ann_bruteforce" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |c AS (
        |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    list_dot_product(qv, cv) /
        |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
        |  FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, sim, rank FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "t1_text_stats" ->
      """WITH tok AS (
        |  SELECT doc_id, length(text) AS n_chars_txt,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0) AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  len(toks) AS n_tokens,
        |  len(list_distinct(toks)) AS n_unique,
        |  n_chars_txt,
        |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |    round(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) /
        |          CAST(len(toks) AS DOUBLE), 6) END AS mean_tok_len
        |FROM tok ORDER BY doc_id""".stripMargin,

    "t2_quality" ->
      s"""WITH $TokCte,
        |$QualityMCte
        |SELECT doc_id, stop_ratio, punct_ratio,
        |  $QualityExpr AS quality
        |FROM m ORDER BY doc_id""".stripMargin,

    "t3_langid" ->
      s"""WITH $TokCte,
        |s AS (
        |  SELECT doc_id,
        |    $LangScores
        |  FROM tok),
        |p AS (
        |  SELECT doc_id,
        |    $LangCase AS pred_lang
        |  FROM s)
        |SELECT pred_lang, count(*) AS n_docs FROM p
        |GROUP BY pred_lang ORDER BY pred_lang""".stripMargin,

    "t4_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0), ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "p1_curation_pipeline" ->
      s"""WITH $TokCte,
        |$QualityMCte,
        |q AS (
        |  SELECT doc_id, toks, CAST(n_tok AS BIGINT) AS ntok_i,
        |    $QualityExpr AS quality,
        |    $LangScores
        |  FROM m),
        |p AS (
        |  SELECT doc_id, ntok_i, quality,
        |    $LangCase AS pred_lang
        |  FROM q),
        |keep AS (
        |  SELECT d.doc_id FROM documents d
        |  JOIN (SELECT text, min(doc_id) AS rep FROM documents GROUP BY text) g
        |    ON d.text IS NOT DISTINCT FROM g.text
        |  WHERE g.rep = d.doc_id)
        |SELECT pred_lang, count(*) AS n_docs,
        |  CAST(sum(ntok_i) AS BIGINT) AS total_tokens
        |FROM p JOIN keep USING (doc_id)
        |WHERE quality >= 0.5 AND doc_id % 10 < 3
        |GROUP BY pred_lang ORDER BY pred_lang""".stripMargin,

    "t5_bpe_tokens" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\f\r]+|[ \t\n\f\r]+')) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    // s1p: exact regime ⇒ the sample IS the stratum; every document has
    // weight quality + 0.01 > 0, so the expected output is simply every
    // (lang, doc_id), sorted.
    "s1p_weighted_sample_exact" ->
      "SELECT lang, doc_id FROM documents ORDER BY lang, doc_id",

    // v4p: DuckDB recomputes the projection from the PERSISTED model
    // table (written by the Spark query; __GRAFT_MODELS__ is substituted
    // by Verify with the sf-specific models dir). list_reduce folds from
    // the first element — ≡ Spark's 0.0-seeded strict fold (leading 0.0
    // add is an IEEE no-op); the float→double element widening is exact;
    // c is read from the table, not recomputed.
    "v4p_pca_project" ->
      """WITH model AS (
        |  SELECT r, c, w FROM read_parquet('__GRAFT_MODELS__/pca_model.parquet/*.parquet'))
        |SELECT e.vec_id, m.r,
        |  list_reduce(list_apply(list_zip(e.embedding, m.w),
        |    p -> CAST(p[1] AS DOUBLE) * p[2]), (a, b) -> a + b) - m.c AS p
        |FROM embeddings e CROSS JOIN model m
        |ORDER BY e.vec_id, m.r""".stripMargin,

    // v5: projection recomputed from the persisted model exactly as v4p,
    // then the score is a decimal-routed sum of squares — order-
    // insensitive, so the per-vector grouping needs no ordering contract.
    "v5_outlier_score" ->
      """WITH model AS (
        |  SELECT r, c, w FROM read_parquet('__GRAFT_MODELS__/pca_model_v5.parquet/*.parquet')),
        |proj AS (
        |  SELECT e.vec_id,
        |    list_reduce(list_apply(list_zip(e.embedding, m.w),
        |      p -> CAST(p[1] AS DOUBLE) * p[2]), (a, b) -> a + b) - m.c AS p
        |  FROM embeddings e CROSS JOIN model m)
        |SELECT vec_id,
        |  CAST(sum(CAST(p * p AS DECIMAL(28,12))) AS DOUBLE) AS m2
        |FROM proj GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "s2_mixture_weights" ->
      """WITH tok AS (
        |  SELECT lang,
        |    len(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0)) AS ntok
        |  FROM documents),
        |per_lang AS (
        |  SELECT lang, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS lang_tokens
        |  FROM tok GROUP BY lang),
        |tot AS (SELECT CAST(sum(lang_tokens) AS BIGINT) AS total_tokens FROM per_lang)
        |SELECT lang, n_docs, lang_tokens,
        |  sqrt(CAST(lang_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)) AS w
        |FROM per_lang, tot ORDER BY lang""".stripMargin,

    "k1_sketch_distinct" ->
      """SELECT lang, count(DISTINCT text) AS est_distinct, count(*) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "t6_quantiles" ->
      """SELECT lang,
        |  CAST(quantile_disc(length(text), 0.25) AS BIGINT) AS q25,
        |  CAST(quantile_disc(length(text), 0.5)  AS BIGINT) AS q50,
        |  CAST(quantile_disc(length(text), 0.75) AS BIGINT) AS q75,
        |  count(*) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "t12_salient_terms" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                       x -> len(x) > 0)) AS tok
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY 1, 2),
        |df AS (
        |  SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM tok GROUP BY 1),
        |r AS (
        |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |                       ORDER BY tf.tf DESC, df.df ASC, tf.tok ASC) AS rank
        |  FROM tf JOIN df USING (tok))
        |SELECT doc_id, tok, tf, df, rank FROM r WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    "g8_pagerank_dangling" -> PagerankDanglingSql,
    "g9_pagerank_fixpoint" -> PagerankDanglingSql,

    "g16_weighted_pagerank" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |  FROM tok WHERE len(toks) >= 2),
        |tf AS (
        |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram,
        |    count(*) AS tf
        |  FROM idx GROUP BY doc_id, gram),
        |dfreq AS (
        |  SELECT gram, count(*) AS df FROM tf
        |  GROUP BY gram HAVING count(*) BETWEEN 2 AND 25),
        |n0 AS (SELECT count(*) AS n_docs FROM documents),
        |wdf AS (SELECT gram, CAST(n_docs AS DOUBLE) / df AS w FROM dfreq, n0),
        |p AS (SELECT tf.doc_id, tf.gram, tf.tf, wdf.w
        |      FROM tf JOIN wdf USING (gram)),
        |pr AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST((CAST(a.tf * b.tf AS DOUBLE) * a.w) * b.w
        |         AS DECIMAL(28,12)) AS term
        |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |prs AS (
        |  SELECT doc_a, doc_b, CAST(sum(term) AS DOUBLE) AS w
        |  FROM pr GROUP BY doc_a, doc_b),
        |ed AS (
        |  SELECT doc_a, doc_b, w FROM prs
        |  UNION ALL SELECT doc_b, doc_a, w FROM prs),
        |st AS (
        |  SELECT doc_a, CAST(sum(CAST(w AS DECIMAL(28,12))) AS DOUBLE) AS s
        |  FROM ed GROUP BY doc_a),
        |e2 AS (SELECT ed.doc_a, ed.doc_b, ed.w, st.s
        |       FROM ed JOIN st USING (doc_a)),
        |nn AS (SELECT count(*) AS n FROM documents),
        |r0 AS (SELECT d.doc_id, CAST(1.0 AS DOUBLE) / nn.n AS r
        |       FROM documents d CROSS JOIN nn),
        |r1 AS (
        |  SELECT d.doc_id, CAST(0.15 AS DOUBLE) / nn.n
        |      + CAST(0.85 AS DOUBLE) * coalesce(m.m, 0.0) AS r
        |  FROM documents d CROSS JOIN nn LEFT JOIN (
        |    SELECT e2.doc_b AS doc_id,
        |      CAST(sum(CAST(r0.r * e2.w / e2.s AS DECIMAL(28,18)))
        |        AS DOUBLE) AS m
        |    FROM e2 JOIN r0 ON e2.doc_a = r0.doc_id
        |    GROUP BY e2.doc_b) m ON d.doc_id = m.doc_id),
        |r2 AS (
        |  SELECT d.doc_id, CAST(0.15 AS DOUBLE) / nn.n
        |      + CAST(0.85 AS DOUBLE) * coalesce(m.m, 0.0) AS r
        |  FROM documents d CROSS JOIN nn LEFT JOIN (
        |    SELECT e2.doc_b AS doc_id,
        |      CAST(sum(CAST(r1.r * e2.w / e2.s AS DECIMAL(28,18)))
        |        AS DOUBLE) AS m
        |    FROM e2 JOIN r1 ON e2.doc_a = r1.doc_id
        |    GROUP BY e2.doc_b) m ON d.doc_id = m.doc_id),
        |r3 AS (
        |  SELECT d.doc_id, CAST(0.15 AS DOUBLE) / nn.n
        |      + CAST(0.85 AS DOUBLE) * coalesce(m.m, 0.0) AS r
        |  FROM documents d CROSS JOIN nn LEFT JOIN (
        |    SELECT e2.doc_b AS doc_id,
        |      CAST(sum(CAST(r2.r * e2.w / e2.s AS DECIMAL(28,18)))
        |        AS DOUBLE) AS m
        |    FROM e2 JOIN r2 ON e2.doc_a = r2.doc_id
        |    GROUP BY e2.doc_b) m ON d.doc_id = m.doc_id)
        |SELECT doc_id, r FROM r3 ORDER BY doc_id""".stripMargin,

    "g15_hyperball" ->
      s"""WITH $SimGraphCtes,
        |nodes AS (SELECT doc_id AS v FROM documents),
        |hh AS (SELECT v, md5(CAST(v AS VARCHAR)) AS h FROM nodes),
        |parsed AS (
        |  SELECT v,
        |    ( (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 268435456
        |    + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216
        |    + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576
        |    + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536
        |    + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1)) AS v1,
        |    ( (strpos('0123456789abcdef', substr(h, 9, 1)) - 1) * 268435456
        |    + (strpos('0123456789abcdef', substr(h, 10, 1)) - 1) * 16777216
        |    + (strpos('0123456789abcdef', substr(h, 11, 1)) - 1) * 1048576
        |    + (strpos('0123456789abcdef', substr(h, 12, 1)) - 1) * 65536
        |    + (strpos('0123456789abcdef', substr(h, 13, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(h, 14, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(h, 15, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(h, 16, 1)) - 1)) AS v2
        |  FROM hh),
        |s0 AS (
        |  SELECT v, CAST(v1 % 64 AS INTEGER) AS bucket,
        |    CAST(33 - length(format('{:b}', v2)) AS INTEGER) AS reg
        |  FROM parsed),
        |s1 AS (SELECT v, bucket, max(reg) AS reg FROM (
        |    SELECT v, bucket, reg FROM s0
        |    UNION ALL
        |    SELECT e.doc_b AS v, s.bucket, s.reg
        |    FROM s0 s JOIN edges e ON s.v = e.doc_a) u GROUP BY v, bucket),
        |s2 AS (SELECT v, bucket, max(reg) AS reg FROM (
        |    SELECT v, bucket, reg FROM s1
        |    UNION ALL
        |    SELECT e.doc_b AS v, s.bucket, s.reg
        |    FROM s1 s JOIN edges e ON s.v = e.doc_a) u GROUP BY v, bucket),
        |s3 AS (SELECT v, bucket, max(reg) AS reg FROM (
        |    SELECT v, bucket, reg FROM s2
        |    UNION ALL
        |    SELECT e.doc_b AS v, s.bucket, s.reg
        |    FROM s2 s JOIN edges e ON s.v = e.doc_a) u GROUP BY v, bucket),
        |s4 AS (SELECT v, bucket, max(reg) AS reg FROM (
        |    SELECT v, bucket, reg FROM s3
        |    UNION ALL
        |    SELECT e.doc_b AS v, s.bucket, s.reg
        |    FROM s3 s JOIN edges e ON s.v = e.doc_a) u GROUP BY v, bucket),
        |dig AS (
        |  SELECT v, 0 AS t, CAST(sum(reg) AS BIGINT) AS reg_sum,
        |    CAST(count(*) AS BIGINT) AS reg_nonzero FROM s0 GROUP BY v
        |  UNION ALL
        |  SELECT v, 1, CAST(sum(reg) AS BIGINT),
        |    CAST(count(*) AS BIGINT) FROM s1 GROUP BY v
        |  UNION ALL
        |  SELECT v, 2, CAST(sum(reg) AS BIGINT),
        |    CAST(count(*) AS BIGINT) FROM s2 GROUP BY v
        |  UNION ALL
        |  SELECT v, 3, CAST(sum(reg) AS BIGINT),
        |    CAST(count(*) AS BIGINT) FROM s3 GROUP BY v
        |  UNION ALL
        |  SELECT v, 4, CAST(sum(reg) AS BIGINT),
        |    CAST(count(*) AS BIGINT) FROM s4 GROUP BY v)
        |SELECT v AS doc_id, CAST(t AS INTEGER) AS t, reg_sum, reg_nonzero
        |FROM dig ORDER BY doc_id, t""".stripMargin,

    "g15p_harmonic_exact" ->
      s"""WITH RECURSIVE $SimGraphCtes,
        |walk(v, u, d) AS (
        |  SELECT doc_id, doc_id, 0 FROM documents
        |  UNION
        |  SELECT w.v, e.doc_b, w.d + 1
        |  FROM walk w JOIN edges e ON w.u = e.doc_a
        |  WHERE w.d < 4),
        |md AS (SELECT v, u, min(d) AS d FROM walk GROUP BY v, u),
        |sc AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS n_reach,
        |    CAST(sum(1000000 // d) AS BIGINT) AS harmonic_ppm
        |  FROM md WHERE d > 0 GROUP BY v)
        |SELECT dd.doc_id,
        |  coalesce(sc.n_reach, 0) AS n_reach,
        |  coalesce(sc.harmonic_ppm, 0) AS harmonic_ppm
        |FROM documents dd LEFT JOIN sc ON dd.doc_id = sc.v
        |ORDER BY dd.doc_id""".stripMargin,

    "g1_pagerank" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |  FROM tok WHERE len(toks) >= 2),
        |tf AS (
        |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram,
        |    count(*) AS tf
        |  FROM idx GROUP BY doc_id, gram),
        |dfreq AS (
        |  SELECT gram, count(*) AS df FROM tf
        |  GROUP BY gram HAVING count(*) BETWEEN 2 AND 25),
        |p AS (SELECT tf.doc_id, tf.gram FROM tf JOIN dfreq USING (gram)),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |edges AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |deg AS (SELECT doc_a, count(*) AS deg FROM edges GROUP BY doc_a),
        |nn AS (SELECT count(*) AS n FROM documents),
        |r0 AS (SELECT d.doc_id, CAST(1.0 AS DOUBLE) / nn.n AS r
        |       FROM documents d CROSS JOIN nn),
        |r1 AS (
        |  SELECT d.doc_id, CAST(0.15 AS DOUBLE) / nn.n
        |      + CAST(0.85 AS DOUBLE) * coalesce(s.m, 0.0) AS r
        |  FROM documents d CROSS JOIN nn LEFT JOIN (
        |    SELECT e.doc_b,
        |      CAST(sum(CAST(p.r / g.deg AS DECIMAL(28,18))) AS DOUBLE) AS m
        |    FROM edges e JOIN r0 p ON e.doc_a = p.doc_id
        |    JOIN deg g ON e.doc_a = g.doc_a
        |    GROUP BY e.doc_b) s ON d.doc_id = s.doc_b),
        |r2 AS (
        |  SELECT d.doc_id, CAST(0.15 AS DOUBLE) / nn.n
        |      + CAST(0.85 AS DOUBLE) * coalesce(s.m, 0.0) AS r
        |  FROM documents d CROSS JOIN nn LEFT JOIN (
        |    SELECT e.doc_b,
        |      CAST(sum(CAST(p.r / g.deg AS DECIMAL(28,18))) AS DOUBLE) AS m
        |    FROM edges e JOIN r1 p ON e.doc_a = p.doc_id
        |    JOIN deg g ON e.doc_a = g.doc_a
        |    GROUP BY e.doc_b) s ON d.doc_id = s.doc_b),
        |r3 AS (
        |  SELECT d.doc_id, CAST(0.15 AS DOUBLE) / nn.n
        |      + CAST(0.85 AS DOUBLE) * coalesce(s.m, 0.0) AS r
        |  FROM documents d CROSS JOIN nn LEFT JOIN (
        |    SELECT e.doc_b,
        |      CAST(sum(CAST(p.r / g.deg AS DECIMAL(28,18))) AS DOUBLE) AS m
        |    FROM edges e JOIN r2 p ON e.doc_a = p.doc_id
        |    JOIN deg g ON e.doc_a = g.doc_a
        |    GROUP BY e.doc_b) s ON d.doc_id = s.doc_b)
        |SELECT doc_id, r FROM r3 ORDER BY doc_id""".stripMargin,

    "g5_ppr" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |  FROM tok WHERE len(toks) >= 2),
        |tf AS (
        |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram,
        |    count(*) AS tf
        |  FROM idx GROUP BY doc_id, gram),
        |dfreq AS (
        |  SELECT gram, count(*) AS df FROM tf
        |  GROUP BY gram HAVING count(*) BETWEEN 2 AND 25),
        |p AS (SELECT tf.doc_id, tf.gram FROM tf JOIN dfreq USING (gram)),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |edges AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |deg AS (SELECT doc_a, count(*) AS deg FROM edges GROUP BY doc_a),
        |sd AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
        |ns AS (SELECT count(*) AS n_seeds FROM sd),
        |tp AS (
        |  SELECT d.doc_id,
        |    CASE WHEN s.doc_id IS NOT NULL
        |      THEN CAST(1.0 AS DOUBLE) / ns.n_seeds
        |      ELSE CAST(0.0 AS DOUBLE) END AS t
        |  FROM documents d CROSS JOIN ns LEFT JOIN sd s ON d.doc_id = s.doc_id),
        |r0 AS (SELECT doc_id, t AS r FROM tp),
        |r1 AS (
        |  SELECT tp.doc_id, CAST(0.15 AS DOUBLE) * tp.t
        |      + CAST(0.85 AS DOUBLE) * coalesce(s.m, 0.0) AS r
        |  FROM tp LEFT JOIN (
        |    SELECT e.doc_b,
        |      CAST(sum(CAST(p2.r / g.deg AS DECIMAL(28,18))) AS DOUBLE) AS m
        |    FROM edges e JOIN r0 p2 ON e.doc_a = p2.doc_id
        |    JOIN deg g ON e.doc_a = g.doc_a
        |    GROUP BY e.doc_b) s ON tp.doc_id = s.doc_b),
        |r2 AS (
        |  SELECT tp.doc_id, CAST(0.15 AS DOUBLE) * tp.t
        |      + CAST(0.85 AS DOUBLE) * coalesce(s.m, 0.0) AS r
        |  FROM tp LEFT JOIN (
        |    SELECT e.doc_b,
        |      CAST(sum(CAST(p2.r / g.deg AS DECIMAL(28,18))) AS DOUBLE) AS m
        |    FROM edges e JOIN r1 p2 ON e.doc_a = p2.doc_id
        |    JOIN deg g ON e.doc_a = g.doc_a
        |    GROUP BY e.doc_b) s ON tp.doc_id = s.doc_b),
        |r3 AS (
        |  SELECT tp.doc_id, CAST(0.15 AS DOUBLE) * tp.t
        |      + CAST(0.85 AS DOUBLE) * coalesce(s.m, 0.0) AS r
        |  FROM tp LEFT JOIN (
        |    SELECT e.doc_b,
        |      CAST(sum(CAST(p2.r / g.deg AS DECIMAL(28,18))) AS DOUBLE) AS m
        |    FROM edges e JOIN r2 p2 ON e.doc_a = p2.doc_id
        |    JOIN deg g ON e.doc_a = g.doc_a
        |    GROUP BY e.doc_b) s ON tp.doc_id = s.doc_b)
        |SELECT doc_id, r FROM r3 ORDER BY doc_id""".stripMargin,

    "g2_triangle_count" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |  FROM tok WHERE len(toks) >= 2),
        |tf AS (
        |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram,
        |    count(*) AS tf
        |  FROM idx GROUP BY doc_id, gram),
        |dfreq AS (
        |  SELECT gram, count(*) AS df FROM tf
        |  GROUP BY gram HAVING count(*) BETWEEN 2 AND 25),
        |p AS (SELECT tf.doc_id, tf.gram FROM tf JOIN dfreq USING (gram)),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |und AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |deg AS (SELECT doc_a AS v, count(*) AS deg FROM und GROUP BY doc_a),
        |directed AS (
        |  SELECT u.doc_a AS src, u.doc_b AS dst, dd.deg AS ddeg
        |  FROM und u
        |  JOIN deg ds ON u.doc_a = ds.v
        |  JOIN deg dd ON u.doc_b = dd.v
        |  WHERE ds.deg < dd.deg
        |     OR (ds.deg = dd.deg AND u.doc_a < u.doc_b)),
        |wedges AS (
        |  SELECT w1.src AS u, w1.dst AS v, w2.dst AS w
        |  FROM directed w1 JOIN directed w2 ON w1.src = w2.src
        |   AND (w1.ddeg < w2.ddeg
        |        OR (w1.ddeg = w2.ddeg AND w1.dst < w2.dst))),
        |tri AS (
        |  SELECT u, v, w FROM wedges
        |  JOIN directed d ON wedges.v = d.src AND wedges.w = d.dst),
        |roles AS (
        |  SELECT u AS doc_id FROM tri
        |  UNION ALL SELECT v FROM tri
        |  UNION ALL SELECT w FROM tri),
        |cnt AS (SELECT doc_id, count(*) AS n_triangles FROM roles
        |        GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(c.n_triangles, 0) AS BIGINT) AS n_triangles
        |FROM documents d LEFT JOIN cnt c ON d.doc_id = c.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "g3_label_prop" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |  FROM tok WHERE len(toks) >= 2),
        |tf AS (
        |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram,
        |    count(*) AS tf
        |  FROM idx GROUP BY doc_id, gram),
        |dfreq AS (
        |  SELECT gram, count(*) AS df FROM tf
        |  GROUP BY gram HAVING count(*) BETWEEN 2 AND 25),
        |p AS (SELECT tf.doc_id, tf.gram FROM tf JOIN dfreq USING (gram)),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |und AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |l0 AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 10 = 0 THEN d.lang ELSE NULL END AS label
        |  FROM documents d),
        |v1 AS (
        |  SELECT e.doc_b, l.label, count(*) AS cnt
        |  FROM und e JOIN l0 l ON e.doc_a = l.doc_id
        |  WHERE l.label IS NOT NULL
        |  GROUP BY e.doc_b, l.label),
        |w1 AS (
        |  SELECT doc_b AS doc_id, label AS new_label FROM (
        |    SELECT doc_b, label, row_number() OVER (PARTITION BY doc_b
        |      ORDER BY cnt DESC, label ASC) AS rk FROM v1)
        |  WHERE rk = 1),
        |l1 AS (
        |  SELECT l0.doc_id, coalesce(l0.label, w1.new_label) AS label
        |  FROM l0 LEFT JOIN w1 ON l0.doc_id = w1.doc_id),
        |v2 AS (
        |  SELECT e.doc_b, l.label, count(*) AS cnt
        |  FROM und e JOIN l1 l ON e.doc_a = l.doc_id
        |  WHERE l.label IS NOT NULL
        |  GROUP BY e.doc_b, l.label),
        |w2 AS (
        |  SELECT doc_b AS doc_id, label AS new_label FROM (
        |    SELECT doc_b, label, row_number() OVER (PARTITION BY doc_b
        |      ORDER BY cnt DESC, label ASC) AS rk FROM v2)
        |  WHERE rk = 1),
        |l2 AS (
        |  SELECT l1.doc_id, coalesce(l1.label, w2.new_label) AS label
        |  FROM l1 LEFT JOIN w2 ON l1.doc_id = w2.doc_id)
        |SELECT doc_id, coalesce(label, 'unlabeled') AS label
        |FROM l2 ORDER BY doc_id""".stripMargin,

    "g14_incremental_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |  FROM tok WHERE len(toks) >= 2),
        |tfa AS (
        |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram,
        |    count(*) AS tf
        |  FROM idx GROUP BY doc_id, gram),
        |base_tf AS (SELECT * FROM tfa WHERE doc_id % 4 <> 0),
        |dfreq AS (
        |  SELECT gram, count(*) AS df FROM base_tf
        |  GROUP BY gram HAVING count(*) BETWEEN 2 AND 25),
        |n AS (SELECT count(*) AS n_docs FROM documents WHERE doc_id % 4 <> 0),
        |p AS (
        |  SELECT base_tf.doc_id, base_tf.gram, base_tf.tf,
        |    CAST(n.n_docs AS DOUBLE) / dfreq.df AS w
        |  FROM base_tf JOIN dfreq USING (gram), n),
        |drop_tf AS (SELECT doc_id AS drop_id, gram, tf AS tf_d
        |            FROM tfa WHERE doc_id % 4 = 0),
        |pr AS (
        |  SELECT p.doc_id AS base_id, d.drop_id,
        |    CAST((CAST(p.tf * d.tf_d AS DOUBLE) * p.w) * p.w
        |         AS DECIMAL(28,12)) AS term
        |  FROM p JOIN drop_tf d USING (gram))
        |SELECT base_id, drop_id, count(*) AS n_shared,
        |  CAST(sum(term) AS DOUBLE) AS score
        |FROM pr GROUP BY base_id, drop_id ORDER BY base_id, drop_id""".stripMargin,

    "t14_tfidf_simjoin" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |  FROM tok WHERE len(toks) >= 2),
        |tf AS (
        |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram,
        |    count(*) AS tf
        |  FROM idx GROUP BY doc_id, gram),
        |dfreq AS (
        |  SELECT gram, count(*) AS df FROM tf
        |  GROUP BY gram HAVING count(*) BETWEEN 2 AND 25),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |w AS (SELECT gram, CAST(n_docs AS DOUBLE) / df AS w FROM dfreq, n),
        |p AS (SELECT tf.doc_id, tf.gram, tf.tf, w.w FROM tf JOIN w USING (gram)),
        |pr AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST((CAST(a.tf * b.tf AS DOUBLE) * a.w) * b.w
        |         AS DECIMAL(28,12)) AS term
        |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, count(*) AS n_shared,
        |  CAST(sum(term) AS DOUBLE) AS score
        |FROM pr GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""".stripMargin,

    "t17_topk_similar" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |  FROM tok WHERE len(toks) >= 2),
        |tf AS (
        |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram,
        |    count(*) AS tf
        |  FROM idx GROUP BY doc_id, gram),
        |dfreq AS (
        |  SELECT gram, count(*) AS df FROM tf
        |  GROUP BY gram HAVING count(*) BETWEEN 2 AND 25),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |w AS (SELECT gram, CAST(n_docs AS DOUBLE) / df AS w FROM dfreq, n),
        |p AS (SELECT tf.doc_id, tf.gram, tf.tf, w.w FROM tf JOIN w USING (gram)),
        |pr AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST((CAST(a.tf * b.tf AS DOUBLE) * a.w) * b.w
        |         AS DECIMAL(28,12)) AS term
        |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT doc_a, doc_b, CAST(sum(term) AS DOUBLE) AS score
        |  FROM pr GROUP BY doc_a, doc_b),
        |sym AS (
        |  SELECT doc_a AS doc_id, doc_b AS nbr, score FROM pairs
        |  UNION ALL
        |  SELECT doc_b AS doc_id, doc_a AS nbr, score FROM pairs),
        |rk AS (
        |  SELECT doc_id, nbr, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, nbr ASC) AS INTEGER) AS rank
        |  FROM sym)
        |SELECT doc_id, nbr, score, rank FROM rk WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    "t13_postings" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |  FROM tok WHERE len(toks) >= 2),
        |td AS (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+1], ' ') AS gram
        |  FROM idx),
        |dfreq AS (
        |  SELECT gram, CAST(count(*) AS BIGINT) AS df
        |  FROM td GROUP BY gram HAVING count(*) BETWEEN 2 AND 25)
        |SELECT td.gram, dfreq.df,
        |  array_to_string(list_sort(list(td.doc_id)), ',') AS postings
        |FROM td JOIN dfreq USING (gram)
        |GROUP BY td.gram, dfreq.df
        |ORDER BY td.gram""".stripMargin,

    "s5_negative_sample" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, label AS qlabel
        |  FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS cand_id, label AS clabel FROM embeddings),
        |p AS (
        |  SELECT q.query_id, c.cand_id, c.clabel,
        |    md5(concat_ws('_', q.query_id, c.cand_id)) AS h
        |  FROM c CROSS JOIN q WHERE c.clabel <> q.qlabel),
        |r AS (
        |  SELECT query_id, cand_id, clabel,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY h ASC, cand_id ASC) AS rank
        |  FROM p)
        |SELECT query_id, cand_id, clabel AS neg_label, rank
        |FROM r WHERE rank <= 4 ORDER BY query_id, rank""".stripMargin,

    "t11_quantile_bucket" ->
      """WITH th AS (
        |  SELECT lang,
        |    CAST(quantile_disc(n_chars, 0.25) AS BIGINT) AS q25,
        |    CAST(quantile_disc(n_chars, 0.5)  AS BIGINT) AS q50,
        |    CAST(quantile_disc(n_chars, 0.75) AS BIGINT) AS q75
        |  FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |  CAST(CASE WHEN d.n_chars <= th.q25 THEN 0
        |            WHEN d.n_chars <= th.q50 THEN 1
        |            WHEN d.n_chars <= th.q75 THEN 2
        |            ELSE 3 END AS INTEGER) AS bucket
        |FROM documents d JOIN th USING (lang)
        |ORDER BY d.doc_id""".stripMargin,

    "k2_quantile_sketch" ->
      """SELECT lang,
        |  CAST(quantile_disc(length(text), 0.25) AS BIGINT) AS q25,
        |  CAST(quantile_disc(length(text), 0.5)  AS BIGINT) AS q50,
        |  CAST(quantile_disc(length(text), 0.75) AS BIGINT) AS q75,
        |  count(*) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "p2_sequence_packing" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0)) AS ntok
        |  FROM documents)
        |SELECT doc_id, lang, ntok,
        |  CAST(floor(CAST(sum(ntok) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ntok AS DOUBLE) / 2048.0) AS BIGINT) AS seq_no
        |FROM tok ORDER BY doc_id""".stripMargin,

    "p3_sequence_chunks" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0)) AS ntok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, ntok,
        |    sum(ntok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM tok),
        |s AS (
        |  SELECT doc_id, lang, cum, cum - ntok AS strt FROM c WHERE ntok > 0),
        |x AS (
        |  SELECT doc_id, lang, strt, cum,
        |    unnest(generate_series(CAST(floor(strt / 2048.0) AS BIGINT),
        |                           CAST(floor((cum - 1) / 2048.0) AS BIGINT))) AS seq_no
        |  FROM s)
        |SELECT doc_id, lang, seq_no,
        |  CAST(greatest(strt, seq_no * 2048) - strt AS BIGINT) AS chunk_offset,
        |  CAST(least(cum, (seq_no + 1) * 2048) - greatest(strt, seq_no * 2048) AS BIGINT) AS chunk_len
        |FROM x ORDER BY doc_id, seq_no""".stripMargin,

    "t8_top_tokens" ->
      """WITH tok AS (
        |  SELECT lang,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |cnts AS (SELECT lang, tok, count(*) AS cnt FROM tok GROUP BY lang, tok),
        |ranked AS (
        |  SELECT lang, tok, cnt,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS INTEGER) AS rank
        |  FROM cnts)
        |SELECT lang, tok, cnt, rank FROM ranked WHERE rank <= 5
        |ORDER BY lang, rank""".stripMargin,

    "k4_sketch_cube" ->
      """SELECT lang,
        |  count(DISTINCT text) AS n_distinct,
        |  CAST(quantile_disc(length(text), 0.5) AS BIGINT) AS med_len
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "j1_json_extract" ->
      """WITH p AS (
        |  SELECT event_type,
        |    CAST(props->>'k' AS BIGINT) AS k,
        |    CAST(props->>'k' AS BIGINT) AS k2,
        |    props->>'absent' AS absent
        |  FROM events)
        |SELECT event_type,
        |  count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(sum(k2) AS BIGINT) AS sum_k2,
        |  min(k) AS min_k,
        |  max(k) AS max_k,
        |  count(absent) AS n_missing
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin,

    "k7_join_card" ->
      """WITH ka AS (
        |  SELECT CAST(o_orderkey AS VARCHAR) AS k, count(*) AS n
        |  FROM orders GROUP BY 1),
        |kb AS (
        |  SELECT CAST(l_orderkey AS VARCHAR) AS k, count(*) AS n
        |  FROM lineitem GROUP BY 1),
        |ba AS (
        |  SELECT k, n, d, CAST((
        |      (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 268435456
        |    + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216
        |    + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576
        |    + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536
        |    + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1)
        |    ) % 65536 AS INTEGER) AS b
        |  FROM (SELECT k, n, d, md5(CAST(d AS VARCHAR) || ':' || k) AS h
        |        FROM ka, (SELECT unnest(range(4)) AS d))),
        |bb AS (
        |  SELECT k, n, d, CAST((
        |      (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 268435456
        |    + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216
        |    + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576
        |    + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536
        |    + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1)
        |    ) % 65536 AS INTEGER) AS b
        |  FROM (SELECT k, n, d, md5(CAST(d AS VARCHAR) || ':' || k) AS h
        |        FROM kb, (SELECT unnest(range(4)) AS d))),
        |ca AS (SELECT d, b, CAST(sum(n) AS BIGINT) AS cnt FROM ba GROUP BY d, b),
        |cb AS (SELECT d, b, CAST(sum(n) AS BIGINT) AS cnt FROM bb GROUP BY d, b),
        |ip AS (
        |  SELECT ca.d, CAST(sum(ca.cnt * cb.cnt) AS BIGINT) AS ip
        |  FROM ca JOIN cb ON ca.d = cb.d AND ca.b = cb.b
        |  GROUP BY ca.d)
        |SELECT (SELECT min(ip) FROM ip) AS est_join_rows,
        |  (SELECT CAST(sum(ka.n * kb.n) AS BIGINT)
        |   FROM ka JOIN kb USING (k)) AS true_join_rows""".stripMargin,

    "k6_cms" ->
      """WITH counts AS (
        |  SELECT event_type, count(*) AS n FROM events GROUP BY 1),
        |hashed AS (
        |  SELECT event_type, d,
        |    md5(CAST(d AS VARCHAR) || ':' || event_type) AS h
        |  FROM counts, (SELECT unnest(range(4)) AS d)),
        |buckets AS (
        |  SELECT event_type, d, CAST((
        |      (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 268435456
        |    + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216
        |    + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576
        |    + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536
        |    + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1)
        |    ) % 3 AS INTEGER) AS b
        |  FROM hashed),
        |counters AS (
        |  SELECT d, b, CAST(sum(n) AS BIGINT) AS cnt
        |  FROM buckets JOIN counts USING (event_type)
        |  GROUP BY d, b),
        |est AS (
        |  SELECT bk.event_type, min(c.cnt) AS est
        |  FROM buckets bk JOIN counters c ON bk.d = c.d AND bk.b = c.b
        |  GROUP BY bk.event_type)
        |SELECT e.event_type, e.est, c.n AS n_true
        |FROM est e JOIN counts c USING (event_type)
        |ORDER BY event_type""".stripMargin,

    "k8_hll" ->
      """WITH keys AS (
        |  SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS k
        |  FROM events),
        |h AS (SELECT event_type, md5(k) AS h FROM keys),
        |parsed AS (
        |  SELECT event_type,
        |    ( (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 268435456
        |    + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216
        |    + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576
        |    + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536
        |    + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1)) AS v1,
        |    ( (strpos('0123456789abcdef', substr(h, 9, 1)) - 1) * 268435456
        |    + (strpos('0123456789abcdef', substr(h, 10, 1)) - 1) * 16777216
        |    + (strpos('0123456789abcdef', substr(h, 11, 1)) - 1) * 1048576
        |    + (strpos('0123456789abcdef', substr(h, 12, 1)) - 1) * 65536
        |    + (strpos('0123456789abcdef', substr(h, 13, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(h, 14, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(h, 15, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(h, 16, 1)) - 1)) AS v2
        |  FROM h),
        |rb AS (
        |  SELECT event_type, CAST(v1 % 64 AS INTEGER) AS bucket,
        |    CAST(33 - length(format('{:b}', v2)) AS INTEGER) AS rank
        |  FROM parsed),
        |spine AS (
        |  SELECT DISTINCT event_type, CAST(unnest(range(64)) AS INTEGER) AS bucket
        |  FROM events),
        |regs AS (
        |  SELECT event_type, bucket, max(rank) AS register
        |  FROM rb GROUP BY 1, 2)
        |SELECT s.event_type, s.bucket,
        |  CAST(coalesce(r.register, 0) AS INTEGER) AS register
        |FROM spine s LEFT JOIN regs r USING (event_type, bucket)
        |ORDER BY s.event_type, s.bucket""".stripMargin,

    "k5_sketch_setops" ->
      """WITH w AS (
        |  SELECT lang,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS ws
        |  FROM documents),
        |idx AS (
        |  SELECT lang, ws, unnest(range(1, len(ws))) AS i
        |  FROM w WHERE len(ws) >= 2),
        |g AS (SELECT DISTINCT lang, ws[i] || ' ' || ws[i + 1] AS gram FROM idx),
        |n AS (SELECT lang, count(*) AS c FROM g GROUP BY lang),
        |ix AS (
        |  SELECT a.lang AS l1, b.lang AS l2, count(*) AS ci
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.lang < b.lang
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT na.lang AS l1, nb.lang AS l2, na.c AS ca, nb.c AS cb
        |  FROM n na JOIN n nb ON na.lang < nb.lang)
        |SELECT p.l1, p.l2,
        |  p.ca + p.cb - coalesce(ix.ci, 0) AS n_union,
        |  coalesce(ix.ci, 0) AS n_intersect
        |FROM p LEFT JOIN ix ON p.l1 = ix.l1 AND p.l2 = ix.l2
        |ORDER BY p.l1, p.l2""".stripMargin,

    "k3_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT lang,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |cnts AS (SELECT lang, tok, count(*) AS cnt FROM tok GROUP BY lang, tok),
        |ranked AS (
        |  SELECT lang, tok, cnt,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS INTEGER) AS rank
        |  FROM cnts)
        |SELECT lang, tok, cnt, rank FROM ranked WHERE rank <= 5
        |ORDER BY lang, rank""".stripMargin,

    "d7_label_centroids" ->
      """WITH x AS (
        |  SELECT label,
        |    unnest(generate_series(0, len(embedding) - 1)) AS pos,
        |    unnest(embedding) AS v
        |  FROM embeddings)
        |SELECT label, pos,
        |  CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m
        |FROM x GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    "m6_audio_energy" ->
      """WITH f AS (
        |  SELECT doc_id, unnest(generate_series(0, 7)) AS frame_no
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, frame_no,
        |    md5(CAST(doc_id AS VARCHAR) || ':' ||
        |        CAST(frame_no AS VARCHAR)) AS hx
        |  FROM f),
        |n AS (
        |  SELECT doc_id, frame_no,
        |    list_transform(regexp_extract_all(hx, '.'),
        |      c -> CAST(strpos('0123456789abcdef', c) AS BIGINT) - 1) AS nib
        |  FROM h)
        |SELECT doc_id, frame_no,
        |  CAST(list_sum(list_transform(nib, x -> x * x)) AS BIGINT)
        |    AS energy,
        |  CAST(len(list_filter(generate_series(1, 31),
        |    i -> (nib[i] < 8) <> (nib[i+1] < 8))) AS BIGINT) AS zcr
        |FROM n ORDER BY doc_id, frame_no""".stripMargin,

    "m7_wav_energy" ->
      """WITH f AS (
        |  SELECT doc_id, unnest(generate_series(0, 7)) AS frame_no
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, frame_no,
        |    md5(CAST(doc_id AS VARCHAR) || ':' ||
        |        CAST(frame_no AS VARCHAR)) AS hx
        |  FROM f),
        |n AS (
        |  SELECT doc_id, frame_no,
        |    list_transform(regexp_extract_all(hx, '.'),
        |      c -> (CAST(strpos('0123456789abcdef', c) AS BIGINT) - 9)
        |             * 256 + 128) AS s
        |  FROM h)
        |SELECT doc_id, frame_no,
        |  CAST(list_sum(list_transform(s, x -> x * x)) AS BIGINT)
        |    AS energy,
        |  CAST(len(list_filter(generate_series(1, 31),
        |    i -> (s[i] < 0) <> (s[i+1] < 0))) AS BIGINT) AS zcr
        |FROM n ORDER BY doc_id, frame_no""".stripMargin,

    "m5_media_phash" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE length(text) > 0
        |  UNION ALL
        |  SELECT doc_id + 3000000,
        |    substr(text, 1, 4) || 'zzzz' || substr(text, 9)
        |  FROM documents WHERE length(text) > 0 AND doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id + 4000000, text
        |  FROM documents WHERE length(text) > 0 AND doc_id % 11 = 0),
        |par AS (
        |  SELECT doc_id, text, length(text) AS n,
        |    greatest(length(text) // 64, 1) AS bl
        |  FROM corpus),
        |chars AS (
        |  SELECT doc_id, i,
        |    ascii(substr(text, CAST(i AS INT), 1)) AS cp,
        |    (i - 1) // bl AS j
        |  FROM (SELECT doc_id, text, bl,
        |          unnest(generate_series(1, least(n, 64 * bl))) AS i
        |        FROM par)),
        |bs AS (SELECT doc_id, j, CAST(sum(cp) AS BIGINT) AS s
        |       FROM chars GROUP BY 1, 2),
        |tt AS (SELECT doc_id, CAST(sum(cp) AS BIGINT) AS t
        |       FROM chars GROUP BY 1),
        |bits AS (
        |  SELECT b.doc_id, b.j,
        |    CASE WHEN b.s * 64 > t.t THEN 1 ELSE 0 END AS bit
        |  FROM bs b JOIN tt t USING (doc_id)),
        |h AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN j < 32
        |      THEN bit * (CAST(1 AS BIGINT) << CAST(j AS INT))
        |      ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(sum(CASE WHEN j >= 32
        |      THEN bit * (CAST(1 AS BIGINT) << CAST(j - 32 AS INT))
        |      ELSE 0 END) AS BIGINT) AS lo
        |  FROM bits GROUP BY doc_id),
        |banded AS (
        |  SELECT doc_id, hi, lo, bnd.band,
        |    CASE bnd.band
        |      WHEN 0 THEN hi % 256
        |      WHEN 1 THEN (hi // 256) % 256
        |      WHEN 2 THEN (hi // 65536) % 256
        |      WHEN 3 THEN hi // 16777216
        |      WHEN 4 THEN lo % 256
        |      WHEN 5 THEN (lo // 256) % 256
        |      WHEN 6 THEN (lo // 65536) % 256
        |      ELSE lo // 16777216 END AS bv
        |  FROM h CROSS JOIN
        |    (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS band) bnd),
        |capped AS (
        |  SELECT * FROM (
        |    SELECT banded.*, count(*) OVER (PARTITION BY band, bv) AS bn
        |    FROM banded)
        |  WHERE bn <= 4096),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
        |    a.hi AS hia, a.lo AS loa, b.hi AS hib, b.lo AS lob
        |  FROM capped a JOIN capped b
        |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
        |SELECT a, b,
        |  CAST(bit_count(xor(hia, hib)) + bit_count(xor(loa, lob)) AS BIGINT)
        |    AS hamming
        |FROM cand
        |WHERE bit_count(xor(hia, hib)) + bit_count(xor(loa, lob)) <= 6
        |ORDER BY a, b""".stripMargin,

    "m4_media_dedup" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50),
        |fp AS (SELECT doc_id, md5(text) AS fp FROM docs),
        |g AS (SELECT fp, min(doc_id) AS rep, count(*) AS n_copies
        |      FROM fp GROUP BY fp)
        |SELECT f.doc_id, g.rep, g.n_copies,
        |  CAST(f.doc_id <> g.rep AS INTEGER) AS is_dup
        |FROM fp f JOIN g USING (fp) ORDER BY f.doc_id""".stripMargin,

    "m1_multimodal_meta" ->
      """SELECT doc_id, 'GRFT' AS format,
        |  CAST(16 + doc_id % 64 AS INTEGER) AS width,
        |  CAST(16 + doc_id % 48 AS INTEGER) AS height,
        |  CAST(1 + doc_id % 3 AS INTEGER) AS n_channels,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,

    "m3_media_resize" ->
      """SELECT doc_id, CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
        |  CAST(1 + doc_id % 3 AS INTEGER) AS n_channels,
        |  CAST(64 AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,

    "m2_media_frames" ->
      """SELECT doc_id,
        |  CAST((CAST(ceil(strlen(text) / 64.0) AS BIGINT) + 3) // 4 AS BIGINT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    // same multiset statistics as the Spark array kernels, by a different
    // algorithm (unnest → GROUP BY) — an array-kernel bug hash-mismatches
    "t7_word_counts" ->
      """SELECT tok AS word, count(*) AS cnt
        |FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                                x -> len(x) > 0)) AS tok
        |      FROM documents)
        |GROUP BY tok ORDER BY cnt DESC, word LIMIT 20""".stripMargin,

    "t9_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         generate_subscripts(string_split(text, ' '), 1) AS i
        |  FROM documents),
        |tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
        |ts AS (SELECT doc_id, sum(c) AS n_tokens, max(c) AS top_tok FROM tc GROUP BY 1),
        |bg AS (SELECT a.doc_id, a.tok || ' ' || b.tok AS bg
        |       FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
        |bc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
        |bs AS (SELECT doc_id, sum(c) AS n_bigrams, count(*) AS n_distinct,
        |              max(c) AS top_bg
        |       FROM bc GROUP BY 1)
        |SELECT ts.doc_id,
        |  CAST(ts.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(ts.top_tok AS DOUBLE) / CAST(ts.n_tokens AS BIGINT) AS top_token_frac,
        |  CAST(bs.n_bigrams - bs.n_distinct AS DOUBLE) / CAST(bs.n_bigrams AS BIGINT) AS dup_bigram_frac,
        |  CAST(bs.top_bg AS DOUBLE) / CAST(bs.n_bigrams AS BIGINT) AS top_bigram_frac
        |FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id
        |ORDER BY ts.doc_id""".stripMargin,

    "t10_pii_redact" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    'Reach u' || CAST(doc_id AS VARCHAR) || '.test@mail-' ||
        |    CAST(doc_id AS VARCHAR) || '.example.org or call +1 (555) 01' ||
        |    lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now. ' || text AS planted
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(planted,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9() .\-]{6,}[0-9]', '<PHONE>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(planted,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(planted,
        |    '\+?[0-9][0-9() .\-]{6,}[0-9]')) AS INTEGER) AS n_phones
        |FROM p ORDER BY doc_id""".stripMargin,

    "s3_split_assign" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |    + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS bucket
        |  FROM documents)
        |SELECT doc_id, CAST(bucket AS INTEGER) AS bucket,
        |  CASE WHEN bucket < 245 THEN 'train'
        |       WHEN bucket < 250 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,

    "x21_split_leakage_neardup" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0)) AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j
        |  FROM tok a JOIN tok b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(list_distinct(list_concat(a.toks, b.toks))) > 0
        |    AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= 0.95),
        |edges AS (SELECT i AS u, j AS v FROM pairs UNION SELECT j AS u, i AS v FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |cc AS (
        |  SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS rep
        |  FROM documents d LEFT JOIN reach r ON d.doc_id = r.u
        |  GROUP BY d.doc_id),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN bucket < 245 THEN 'train'
        |         WHEN bucket < 250 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (
        |    SELECT doc_id,
        |      (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS bucket
        |    FROM documents)),
        |j AS (SELECT cc.doc_id, cc.rep, sp.split
        |      FROM cc JOIN sp ON cc.doc_id = sp.doc_id),
        |per AS (
        |  SELECT rep, CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
        |    CAST(count(*) AS BIGINT) AS n_members
        |  FROM j GROUP BY rep)
        |SELECT j.doc_id, j.rep, j.split, per.n_members, per.n_splits,
        |  per.n_splits > 1 AS leaky
        |FROM j JOIN per USING (rep)
        |ORDER BY j.doc_id""".stripMargin,

    "x14_shard_manifest" ->
      s"""WITH b AS (
        |  SELECT doc_id, n_chars,
        |    len(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |        x -> len(x) > 0)) AS n_toks,
        |    $ShardExprSql AS shard
        |  FROM documents)
        |SELECT CAST(shard AS INTEGER) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM b GROUP BY shard ORDER BY shard""".stripMargin,

    "t15_bigram_pred" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |uni AS (
        |  SELECT w1, count(*) AS cu
        |  FROM (SELECT unnest(toks) AS w1 FROM tok)
        |  GROUP BY 1 HAVING count(*) >= 2),
        |occ AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks) - 1)) AS i
        |        FROM tok WHERE len(toks) >= 2)),
        |big AS (
        |  SELECT w1, w2, count(*) AS cb FROM occ
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |scored AS (
        |  SELECT o.doc_id, count(*) AS n_bigrams,
        |    CAST(sum(CAST(CASE WHEN b.cb IS NOT NULL
        |                       THEN CAST(b.cb AS DOUBLE) / u.cu
        |                       ELSE 0.0 END AS DECIMAL(18,12))) AS DOUBLE)
        |      / count(*) AS pred
        |  FROM occ o
        |  LEFT JOIN big b ON o.w1 = b.w1 AND o.w2 = b.w2
        |  LEFT JOIN uni u ON o.w1 = u.w1
        |  GROUP BY o.doc_id)
        |SELECT d.doc_id,
        |  coalesce(s.n_bigrams, 0) AS n_bigrams,
        |  coalesce(s.pred, 0.0) AS pred
        |FROM documents d LEFT JOIN scored s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "t28_quality_logit" ->
      s"""WITH $TokCte,
        |s AS (
        |  SELECT doc_id, toks,
        |    $LangScores
        |  FROM tok),
        |f AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS DOUBLE) AS f1,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) AS f2,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      round(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) /
        |            CAST(len(toks) AS DOUBLE), 6) END AS f3,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      round(CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS DOUBLE) /
        |            CAST(len(toks) AS DOUBLE), 6) END AS f4,
        |    CASE WHEN ($LangCase) = 'en'
        |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS label
        |  FROM s),
        |w AS (SELECT idx, w
        |      FROM read_parquet('__GRAFT_MODELS__/probe_logit.parquet/*.parquet'))
        |SELECT f.doc_id, f.label,
        |  CAST(
        |    CAST(CAST(1.0 AS DOUBLE) * (SELECT w FROM w WHERE idx = 0) AS DECIMAL(28,12)) +
        |    CAST(f1 * (SELECT w FROM w WHERE idx = 1) AS DECIMAL(28,12)) +
        |    CAST(f2 * (SELECT w FROM w WHERE idx = 2) AS DECIMAL(28,12)) +
        |    CAST(f3 * (SELECT w FROM w WHERE idx = 3) AS DECIMAL(28,12)) +
        |    CAST(f4 * (SELECT w FROM w WHERE idx = 4) AS DECIMAL(28,12))
        |  AS DOUBLE) AS margin
        |FROM f ORDER BY f.doc_id""".stripMargin,

    "t16_quality_probe" ->
      s"""WITH $TokCte,
        |s AS (
        |  SELECT doc_id, toks,
        |    $LangScores
        |  FROM tok),
        |f AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS DOUBLE) AS f1,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) AS f2,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      round(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) /
        |            CAST(len(toks) AS DOUBLE), 6) END AS f3,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      round(CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS DOUBLE) /
        |            CAST(len(toks) AS DOUBLE), 6) END AS f4,
        |    CASE WHEN ($LangCase) = 'en'
        |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS label
        |  FROM s),
        |w AS (SELECT idx, w
        |      FROM read_parquet('__GRAFT_MODELS__/probe_model.parquet/*.parquet'))
        |SELECT f.doc_id, f.label,
        |  CAST(
        |    CAST(CAST(1.0 AS DOUBLE) * (SELECT w FROM w WHERE idx = 0) AS DECIMAL(28,12)) +
        |    CAST(f1 * (SELECT w FROM w WHERE idx = 1) AS DECIMAL(28,12)) +
        |    CAST(f2 * (SELECT w FROM w WHERE idx = 2) AS DECIMAL(28,12)) +
        |    CAST(f3 * (SELECT w FROM w WHERE idx = 3) AS DECIMAL(28,12)) +
        |    CAST(f4 * (SELECT w FROM w WHERE idx = 4) AS DECIMAL(28,12))
        |  AS DOUBLE) AS margin
        |FROM f ORDER BY f.doc_id""".stripMargin,

    "u1_token_surprisal" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |g AS (SELECT tok, count(*) AS gc FROM tok GROUP BY 1)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |  CAST(sum(g.gc) AS DOUBLE) / count(*) AS mean_token_count
        |FROM tok t JOIN g ON t.tok = g.tok
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    "s4_stratified_sample" ->
      """SELECT doc_id, lang, CAST(rn AS INTEGER) AS rank FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20 ORDER BY lang, rank""".stripMargin,

    "x2_source_zscore" ->
      """WITH st AS (
        |  SELECT source, count(*) AS n,
        |    sum(CAST(n_chars AS DECIMAL(28,0))) AS s,
        |    sum(CAST(n_chars * n_chars AS DECIMAL(28,0))) AS sq
        |  FROM documents GROUP BY source),
        |m AS (
        |  SELECT source,
        |    CAST(s AS DOUBLE) / n AS mu,
        |    sqrt((CAST(sq AS DOUBLE)
        |          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n) AS sigma
        |  FROM st)
        |SELECT d.doc_id, d.source, d.n_chars, m.mu, m.sigma,
        |  (d.n_chars - m.mu) / m.sigma AS z
        |FROM documents d JOIN m USING (source)
        |ORDER BY d.doc_id""".stripMargin,

    "x23_retention_sweep" ->
      """WITH docs AS (
        |  SELECT doc_id, source,
        |    CAST(doc_id % 360 AS BIGINT) AS ingest_day
        |  FROM documents),
        |pol AS (
        |  SELECT source,
        |    CAST(60 + 45 * (len(source) % 5) AS BIGINT) AS retention_days
        |  FROM (SELECT DISTINCT source FROM documents)),
        |j AS (
        |  SELECT d.source, p.retention_days, d.ingest_day,
        |    (359 - d.ingest_day) >= p.retention_days AS expired
        |  FROM docs d LEFT JOIN pol p USING (source))
        |SELECT source, retention_days,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN expired THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_expired,
        |  (1000000 * CAST(sum(CASE WHEN expired THEN 1 ELSE 0 END)
        |    AS BIGINT)) // CAST(count(*) AS BIGINT) AS expired_ppm,
        |  min(CASE WHEN NOT expired THEN ingest_day END)
        |    AS oldest_surviving_day
        |FROM j GROUP BY source, retention_days
        |ORDER BY source""".stripMargin,

    "x6_latest_wins" ->
      """WITH ranked AS (
        |  SELECT user_id, event_type, ts, event_id, value, props,
        |    count(*) OVER (PARTITION BY user_id, event_type) AS n_versions,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_type, n_versions, ts, event_id, value, props
        |FROM ranked WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,

    "x5_probe_auc" ->
      s"""WITH $TokCte,
        |s AS (
        |  SELECT doc_id, toks,
        |    $LangScores
        |  FROM tok),
        |f AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS DOUBLE) AS f1,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) AS f2,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      round(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) /
        |            CAST(len(toks) AS DOUBLE), 6) END AS f3,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      round(CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS DOUBLE) /
        |            CAST(len(toks) AS DOUBLE), 6) END AS f4,
        |    CASE WHEN ($LangCase) = 'en'
        |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS label
        |  FROM s),
        |w AS (SELECT idx, w
        |      FROM read_parquet('__GRAFT_MODELS__/probe_model.parquet/*.parquet')),
        |m AS (
        |  SELECT f.label,
        |    CAST(
        |      CAST(CAST(1.0 AS DOUBLE) * (SELECT w FROM w WHERE idx = 0) AS DECIMAL(28,12)) +
        |      CAST(f1 * (SELECT w FROM w WHERE idx = 1) AS DECIMAL(28,12)) +
        |      CAST(f2 * (SELECT w FROM w WHERE idx = 2) AS DECIMAL(28,12)) +
        |      CAST(f3 * (SELECT w FROM w WHERE idx = 3) AS DECIMAL(28,12)) +
        |      CAST(f4 * (SELECT w FROM w WHERE idx = 4) AS DECIMAL(28,12))
        |    AS DOUBLE) AS margin
        |  FROM f),
        |dist AS (
        |  SELECT margin AS sc,
        |    sum(CASE WHEN label = 1.0 THEN 1 ELSE 0 END) AS n_pos,
        |    sum(CASE WHEN label = 1.0 THEN 0 ELSE 1 END) AS n_neg
        |  FROM m GROUP BY margin),
        |c AS (
        |  SELECT n_pos, n_neg,
        |    coalesce(sum(n_neg) OVER (ORDER BY sc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
        |  FROM dist)
        |SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
        |  CAST(sum(n_neg) AS BIGINT) AS n_neg,
        |  CAST(sum(n_pos * (2 * neg_below + n_neg)) AS BIGINT) AS u2,
        |  CASE WHEN sum(n_pos) > 0 AND sum(n_neg) > 0 THEN
        |    CAST(sum(n_pos * (2 * neg_below + n_neg)) AS DOUBLE) /
        |      ((2.0 * sum(n_pos)) * sum(n_neg))
        |  END AS auc
        |FROM c""".stripMargin,

    "x3_zorder" ->
      """WITH base AS (
        |  SELECT l_partkey % 65536 AS a, l_suppkey % 65536 AS b
        |  FROM lineitem),
        |zv AS (
        |  SELECT CAST(list_sum(
        |    [(((a >> i) & 1) << (2 * i)) + (((b >> i) & 1) << (2 * i + 1))
        |     FOR i IN range(16)]) AS BIGINT) AS z
        |  FROM base)
        |SELECT z >> 12 AS bucket, count(*) AS n,
        |  min(z) AS zmin, max(z) AS zmax
        |FROM zv GROUP BY bucket ORDER BY bucket""".stripMargin,

    "x4_corpus_diff" ->
      """WITH curr AS (
        |  SELECT doc_id, md5(text) AS fp FROM documents),
        |prev AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v1' ELSE text END) AS fp
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, md5(text) AS fp
        |  FROM documents WHERE doc_id % 23 = 0)
        |SELECT
        |  coalesce(c.doc_id, p.doc_id) AS doc_id,
        |  CASE WHEN p.fp IS NULL THEN 'added'
        |       WHEN c.fp IS NULL THEN 'removed'
        |       WHEN c.fp <> p.fp THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM curr c FULL OUTER JOIN prev p ON c.doc_id = p.doc_id
        |ORDER BY doc_id""".stripMargin,

    "x1_profile" ->
      """SELECT o_orderstatus,
        |  count(*) AS n_rows,
        |  count(DISTINCT o_custkey) AS n_custkeys,
        |  min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price,
        |  min(o_orderdate) AS min_date,
        |  max(o_orderdate) AS max_date
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "v2_vec_normalize" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS norm
        |      FROM v)
        |SELECT vec_id, norm,
        |  list_reduce(list_transform(v, x -> x / norm), (a, b) -> a + b) AS u_sum,
        |  list_min(list_transform(v, x -> x / norm)) AS u_min,
        |  list_max(list_transform(v, x -> x / norm)) AS u_max
        |FROM n ORDER BY vec_id""".stripMargin,

    "v3_embedding_covariance" ->
      """WITH a AS (
        |  SELECT embedding,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS vi
        |  FROM embeddings),
        |b AS (
        |  SELECT i, vi,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS j,
        |    CAST(unnest(embedding) AS DOUBLE) AS vj
        |  FROM a)
        |SELECT i, j, count(*) AS n,
        |  CAST(sum(CAST(vi * vj AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
        |  CAST(sum(CAST(vi AS DECIMAL(28,12))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(vj AS DECIMAL(28,12))) AS DOUBLE) AS sy
        |FROM b WHERE j >= i
        |GROUP BY i, j ORDER BY i, j""".stripMargin,

    "v1_vec_quantize" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        CAST(127 AS DOUBLE) / list_max(list_transform(v, x -> abs(x))) AS scale
        |      FROM v),
        |q AS (SELECT vec_id, scale,
        |        list_transform(v, x -> CAST(floor(x * scale + 0.5) AS INTEGER)) AS q
        |      FROM s)
        |SELECT vec_id, scale,
        |  array_to_string(list_transform(q, x -> CAST(x AS VARCHAR)), ',') AS q_str,
        |  CAST(list_sum(q) AS BIGINT) AS q_sum
        |FROM q ORDER BY vec_id""".stripMargin,

    "s6_dsir_weights" ->
      s"""WITH $TokCte,
        |occ AS (SELECT doc_id, unnest(toks) AS w FROM tok),
        |raw AS (SELECT w, count(*) AS cr FROM occ GROUP BY 1 HAVING count(*) >= 2),
        |tgt AS (
        |  SELECT w, count(*) AS ct FROM (
        |    SELECT unnest(t.toks) AS w
        |    FROM tok t JOIN documents d ON t.doc_id = d.doc_id
        |    WHERE d.lang = 'en')
        |  GROUP BY 1 HAVING count(*) >= 2),
        |scored AS (
        |  SELECT o.doc_id, count(*) AS n_tokens,
        |    CAST(sum((1000000 * (coalesce(t.ct, 0) + 1))
        |             // (coalesce(r.cr, 0) + 1)) AS BIGINT) AS w_sum
        |  FROM occ o LEFT JOIN tgt t USING (w) LEFT JOIN raw r USING (w)
        |  GROUP BY o.doc_id)
        |SELECT d.doc_id,
        |  coalesce(s.n_tokens, 0) AS n_tokens,
        |  coalesce(s.w_sum, 0) AS w_sum,
        |  coalesce(s.w_sum // s.n_tokens, 0) AS dsir_score
        |FROM documents d LEFT JOIN scored s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "e12_transitions" ->
      """WITH t AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS nxt
        |  FROM events),
        |c AS (
        |  SELECT event_type AS cur, nxt, count(*) AS n_trans
        |  FROM t WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT cur, CAST(sum(n_trans) AS BIGINT) AS tot FROM c GROUP BY 1)
        |SELECT c.cur, c.nxt, c.n_trans,
        |  (c.n_trans * 1000000) // tt.tot AS p_ppm
        |FROM c JOIN tot tt USING (cur) ORDER BY cur, nxt""".stripMargin,

    "t18_collocations" ->
      s"""WITH $TokCte,
        |td AS (SELECT doc_id, unnest(list_distinct(toks)) AS w FROM tok),
        |nn AS (SELECT count(*) AS n_docs FROM documents),
        |dfreq AS (
        |  SELECT w, dfw FROM (
        |    SELECT w, count(*) AS dfw FROM td GROUP BY 1) CROSS JOIN nn
        |  WHERE dfw >= n_docs // 20 AND dfw <= (n_docs * 4) // 5),
        |band AS (SELECT td.doc_id, td.w, f.dfw FROM td JOIN dfreq f USING (w)),
        |pairs AS (
        |  SELECT a.w AS w1, b.w AS w2, count(*) AS n_ab,
        |    min(a.dfw) AS df1, min(b.dfw) AS df2
        |  FROM band a JOIN band b ON a.doc_id = b.doc_id AND a.w < b.w
        |  GROUP BY 1, 2
        |  HAVING count(*) >= (SELECT n_docs // 100 FROM nn))
        |SELECT w1, w2, n_ab,
        |  (nn.n_docs * n_ab * 1000000) // (df1 * df2) AS lift_ppm
        |FROM pairs CROSS JOIN nn ORDER BY w1, w2""".stripMargin,

    "d14_sorted_neighborhood" ->
      s"""WITH $TokCte,
        |base AS (
        |  SELECT t.doc_id, d.lang, t.toks[1] AS block,
        |    array_to_string(t.toks[1:4], ' ') AS key,
        |    list_distinct(t.toks) AS ts
        |  FROM tok t JOIN documents d ON t.doc_id = d.doc_id
        |  WHERE len(t.toks) > 0),
        |rn AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY lang, block ORDER BY key, doc_id) AS rn
        |  FROM base),
        |cand AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS inter,
        |    CAST(len(a.ts) + len(b.ts)
        |      - len(list_intersect(a.ts, b.ts)) AS BIGINT) AS uni
        |  FROM rn a JOIN rn b
        |    ON a.lang = b.lang AND a.block = b.block
        |    AND (b.rn = a.rn + 1 OR b.rn = a.rn + 2))
        |SELECT a, b, inter, uni, (inter * 1000000) // uni AS jacc_ppm
        |FROM cand WHERE (inter * 1000000) // uni >= 500000
        |ORDER BY a, b""".stripMargin,

    "e13_decay" ->
      """WITH mx AS (SELECT max(ts) AS mts FROM events),
        |w AS (
        |  SELECT user_id,
        |    least(date_diff('second', ts, mx.mts) // 3600 // 24, 40) AS k
        |  FROM events CROSS JOIN mx)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(1000000 // (CAST(1 AS BIGINT) << k)) AS BIGINT) AS decay_sum
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,

    "x8_source_drift" ->
      s"""WITH $TokCte,
        |occ AS (
        |  SELECT d.source, t.w
        |  FROM (SELECT doc_id, unnest(toks) AS w FROM tok) t
        |  JOIN documents d ON t.doc_id = d.doc_id),
        |head AS (
        |  SELECT w, count(*) AS cw FROM occ GROUP BY 1
        |  ORDER BY cw DESC, w LIMIT 30),
        |occh AS (SELECT occ.source, occ.w FROM occ JOIN head USING (w)),
        |obs AS (SELECT source, w, count(*) AS obs FROM occh GROUP BY 1, 2),
        |tots AS (SELECT source, count(*) AS tot_s FROM occh GROUP BY 1),
        |totc AS (SELECT count(*) AS tot_c FROM occh),
        |grid AS (
        |  SELECT tots.source, head.w, tots.tot_s, head.cw,
        |    coalesce(obs.obs, 0) AS obs
        |  FROM tots CROSS JOIN head
        |  LEFT JOIN obs ON obs.source = tots.source AND obs.w = head.w)
        |SELECT g.source,
        |  CAST(sum((1000000 * abs(g.obs * tc.tot_c - g.tot_s * g.cw))
        |           // (2 * g.tot_s * tc.tot_c)) AS BIGINT) AS drift_ppm
        |FROM grid g CROSS JOIN totc tc
        |GROUP BY g.source ORDER BY g.source""".stripMargin,

    "t19_bm25" ->
      s"""WITH $TokCte,
        |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tok),
        |tf2 AS (
        |  SELECT doc_id, tok, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tok)
        |  GROUP BY 1, 2),
        |dfreq AS (SELECT tok, count(*) AS df FROM tf2 GROUP BY 1),
        |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS bigl, count(*) AS n_docs
        |        FROM dl),
        |q AS (
        |  SELECT tok FROM (
        |    SELECT t.tok,
        |      row_number() OVER (ORDER BY t.tf DESC, f.df ASC, t.tok ASC) AS r
        |    FROM tf2 t JOIN dfreq f USING (tok) WHERE t.doc_id = 0)
        |  WHERE r <= 3),
        |scored AS (
        |  SELECT t.doc_id,
        |    ((10000 * tot.n_docs) // f.df) * (22 * t.tf * tot.bigl)
        |      // (10 * tot.bigl * t.tf + 3 * tot.bigl + 9 * tot.n_docs * d.dl)
        |      AS term
        |  FROM tf2 t JOIN q USING (tok) JOIN dfreq f USING (tok)
        |  JOIN dl d USING (doc_id) CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(term) AS BIGINT) AS bm25_scaled,
        |  count(*) AS n_terms
        |FROM scored GROUP BY doc_id
        |ORDER BY bm25_scaled DESC, doc_id LIMIT 50""".stripMargin,

    "x7_incremental_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "c5_split_leakage" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 7 = 0),
        |f AS (
        |  SELECT md5(text) AS fp,
        |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |    + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS bucket
        |  FROM corpus),
        |s AS (
        |  SELECT fp, CASE WHEN bucket < 245 THEN 'train'
        |                  WHEN bucket < 250 THEN 'val'
        |                  ELSE 'test' END AS split
        |  FROM f),
        |flags AS (
        |  SELECT fp,
        |    max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS t,
        |    max(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS v,
        |    max(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS x
        |  FROM s GROUP BY fp)
        |SELECT CAST(sum(t * v) AS BIGINT) AS n_train_val,
        |  CAST(sum(t * x) AS BIGINT) AS n_train_test,
        |  CAST(sum(v * x) AS BIGINT) AS n_val_test,
        |  count(*) AS n_fps
        |FROM flags""".stripMargin,

    "s7_quota_interleave" ->
      """WITH keyed AS (
        |  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS mk
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY mk, doc_id) AS rank
        |  FROM keyed),
        |quota AS (SELECT * FROM q WHERE rank <= 10),
        |idx AS (
        |  SELECT source, row_number() OVER (ORDER BY source) - 1 AS src_idx
        |  FROM (SELECT DISTINCT source FROM documents)),
        |n AS (SELECT count(DISTINCT source) AS n_src FROM documents)
        |SELECT (quota.rank - 1) * n.n_src + idx.src_idx AS pos,
        |  quota.source, quota.doc_id, quota.rank
        |FROM quota JOIN idx USING (source) CROSS JOIN n
        |ORDER BY pos""".stripMargin,

    "a5_rrf_fusion" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |c AS (
        |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings),
        |cos_ranked AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY list_dot_product(qv, cv) /
        |        (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) DESC,
        |        neighbor_id ASC) AS rank_cos
        |  FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
        |cos_top AS (SELECT * FROM cos_ranked WHERE rank_cos <= 20),
        |qv8 AS (
        |  SELECT query_id,
        |    list_transform(qv, x -> floor(x * (127.0 / qmax) + 0.5)) AS qq
        |  FROM (SELECT query_id, qv,
        |          list_max(list_transform(qv, x -> abs(x))) AS qmax FROM q)),
        |cv8 AS (
        |  SELECT neighbor_id,
        |    list_transform(cv, x -> floor(x * (127.0 / cmax) + 0.5)) AS qc
        |  FROM (SELECT neighbor_id, cv,
        |          list_max(list_transform(cv, x -> abs(x))) AS cmax FROM c)),
        |q_ranked AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY CAST(list_dot_product(qq, qc) AS BIGINT) DESC,
        |        neighbor_id ASC) AS rank_q
        |  FROM cv8 CROSS JOIN qv8 WHERE neighbor_id <> query_id),
        |q_top AS (SELECT * FROM q_ranked WHERE rank_q <= 20),
        |fused AS (
        |  SELECT coalesce(a.query_id, b.query_id) AS query_id,
        |    coalesce(a.neighbor_id, b.neighbor_id) AS neighbor_id,
        |    coalesce(1000000 // (60 + a.rank_cos), 0)
        |      + coalesce(1000000 // (60 + b.rank_q), 0) AS rrf_ppm
        |  FROM cos_top a FULL OUTER JOIN q_top b
        |    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id),
        |final AS (
        |  SELECT query_id, neighbor_id, rrf_ppm,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY rrf_ppm DESC, neighbor_id ASC) AS rank
        |  FROM fused)
        |SELECT query_id, neighbor_id, rrf_ppm, rank FROM final
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "g4_kcore" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |  FROM tok WHERE len(toks) >= 2),
        |tf AS (
        |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram,
        |    count(*) AS tf
        |  FROM idx GROUP BY doc_id, gram),
        |dfreq AS (
        |  SELECT gram, count(*) AS df FROM tf
        |  GROUP BY gram HAVING count(*) BETWEEN 2 AND 25),
        |p AS (SELECT tf.doc_id, tf.gram FROM tf JOIN dfreq USING (gram)),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |e0 AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |d0 AS (SELECT doc_a AS v, count(*) AS deg FROM e0 GROUP BY 1),
        |a1 AS (SELECT v FROM d0 WHERE deg >= 140),
        |e1 AS (SELECT e.doc_a, e.doc_b FROM e0 e
        |       JOIN a1 x ON e.doc_a = x.v JOIN a1 y ON e.doc_b = y.v),
        |d1 AS (SELECT doc_a AS v, count(*) AS deg FROM e1 GROUP BY 1),
        |a2 AS (SELECT v FROM d1 WHERE deg >= 140),
        |e2 AS (SELECT e.doc_a, e.doc_b FROM e1 e
        |       JOIN a2 x ON e.doc_a = x.v JOIN a2 y ON e.doc_b = y.v),
        |d2 AS (SELECT doc_a AS v, count(*) AS deg FROM e2 GROUP BY 1),
        |a3 AS (SELECT v FROM d2 WHERE deg >= 140),
        |e3 AS (SELECT e.doc_a, e.doc_b FROM e2 e
        |       JOIN a3 x ON e.doc_a = x.v JOIN a3 y ON e.doc_b = y.v),
        |d3 AS (SELECT doc_a AS v, count(*) AS cd FROM e3 GROUP BY 1)
        |SELECT d.doc_id,
        |  (a3.v IS NOT NULL) AS in_core,
        |  coalesce(d3.cd, 0) AS core_deg
        |FROM documents d
        |LEFT JOIN a3 ON d.doc_id = a3.v
        |LEFT JOIN d3 ON d.doc_id = d3.v
        |ORDER BY d.doc_id""".stripMargin,

    "x19p_syndication_exact" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, source, toks, unnest(generate_series(1, len(toks) - 2)) AS i
        |  FROM tok WHERE len(toks) >= 3),
        |sh AS (
        |  SELECT doc_id, any_value(source) AS source,
        |    list_distinct(list(array_to_string(toks[i:i+2], ' '))) AS s
        |  FROM idx GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.source AS sa, b.source AS sb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) >= 0.8)
        |SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM pairs GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,

    "x9_source_overlap" ->
      """WITH st AS (
        |  SELECT DISTINCT source, w FROM (
        |    SELECT source,
        |      unnest(list_distinct(list_filter(
        |        string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |        x -> len(x) > 0))) AS w
        |    FROM documents)),
        |sz AS (SELECT source, count(*) AS nt FROM st GROUP BY source),
        |iv AS (
        |  SELECT a.source AS s1, b.source AS s2, count(*) AS n_inter
        |  FROM st a JOIN st b ON a.w = b.w AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT s1, s2, CAST(n_inter AS BIGINT) AS n_inter,
        |  (1000000 * n_inter) // (z1.nt + z2.nt - n_inter) AS jaccard_ppm,
        |  (1000000 * n_inter) // least(z1.nt, z2.nt) AS containment_ppm
        |FROM iv
        |JOIN sz z1 ON iv.s1 = z1.source
        |JOIN sz z2 ON iv.s2 = z2.source
        |ORDER BY s1, s2""".stripMargin,

    "s13_mixture_manifest" ->
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS wt
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(wt) AS BIGINT) AS wtot FROM c),
        |b AS (
        |  SELECT source, (1000 * wt) // t.wtot AS base_n,
        |    (1000 * wt) % t.wtot AS rem
        |  FROM c, t),
        |l AS (SELECT 1000 - CAST(sum(base_n) AS BIGINT) AS leftover FROM b),
        |al AS (
        |  SELECT source,
        |    CAST(base_n + CASE WHEN rk <= l.leftover THEN 1 ELSE 0 END
        |      AS BIGINT) AS alloc
        |  FROM (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk
        |        FROM b) r, l),
        |rkd AS (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
        |      AS rank
        |  FROM documents)
        |SELECT rkd.source, rkd.rank, rkd.doc_id
        |FROM rkd JOIN al ON rkd.source = al.source
        |WHERE rkd.rank <= al.alloc
        |ORDER BY rkd.source, rkd.rank""".stripMargin,

    "s8_temperature_mix" ->
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS wt
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(wt) AS BIGINT) AS wtot FROM c),
        |b AS (
        |  SELECT source, n_docs, wt,
        |    (100000 * wt) // t.wtot AS base_n,
        |    (100000 * wt) % t.wtot AS rem
        |  FROM c, t),
        |l AS (SELECT 100000 - CAST(sum(base_n) AS BIGINT) AS leftover FROM b),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk
        |      FROM b)
        |SELECT source, n_docs, wt,
        |  CAST(base_n + CASE WHEN rk <= l.leftover THEN 1 ELSE 0 END
        |    AS BIGINT) AS alloc
        |FROM r, l ORDER BY source""".stripMargin,

    "s12_dedup_mixture" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0)) AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j
        |  FROM tok a JOIN tok b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(list_distinct(list_concat(a.toks, b.toks))) > 0
        |    AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= 0.95),
        |edges AS (SELECT i AS u, j AS v FROM pairs UNION SELECT j AS u, i AS v FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |cc AS (
        |  SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS rep
        |  FROM documents d LEFT JOIN reach r ON d.doc_id = r.u
        |  GROUP BY d.doc_id),
        |k AS (
        |  SELECT doc_id FROM (
        |    SELECT cc.rep, d.doc_id,
        |      row_number() OVER (PARTITION BY cc.rep
        |                         ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
        |    FROM cc JOIN documents d USING (doc_id)) WHERE rn = 1),
        |c AS (
        |  SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS wt
        |  FROM k JOIN documents d USING (doc_id) GROUP BY d.source),
        |t AS (SELECT CAST(sum(wt) AS BIGINT) AS wtot FROM c),
        |b AS (
        |  SELECT source, n_docs, wt,
        |    (100000 * wt) // t.wtot AS base_n,
        |    (100000 * wt) % t.wtot AS rem
        |  FROM c, t),
        |l AS (SELECT 100000 - CAST(sum(base_n) AS BIGINT) AS leftover FROM b),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk
        |      FROM b)
        |SELECT source, n_docs, wt,
        |  CAST(base_n + CASE WHEN rk <= l.leftover THEN 1 ELSE 0 END
        |    AS BIGINT) AS alloc
        |FROM r, l ORDER BY source""".stripMargin,

    "s14_curriculum_schedule" ->
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS wt2
        |  FROM documents GROUP BY source),
        |t2 AS (SELECT CAST(sum(wt2) AS BIGINT) AS wtot FROM c),
        |b2 AS (
        |  SELECT source, n_docs,
        |    (100000 * wt2) // t2.wtot AS base_n,
        |    (100000 * wt2) % t2.wtot AS rem
        |  FROM c, t2),
        |l2 AS (SELECT 100000 - CAST(sum(base_n) AS BIGINT) AS leftover FROM b2),
        |r2 AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk
        |       FROM b2),
        |qt AS (
        |  SELECT source, n_docs,
        |    CAST(base_n + CASE WHEN rk <= l2.leftover THEN 1 ELSE 0 END
        |      AS BIGINT) AS q_temp
        |  FROM r2, l2),
        |tp AS (SELECT CAST(sum(n_docs) AS BIGINT) AS wtot FROM c),
        |bp AS (
        |  SELECT source,
        |    (100000 * n_docs) // tp.wtot AS base_n,
        |    (100000 * n_docs) % tp.wtot AS rem
        |  FROM c, tp),
        |lp AS (SELECT 100000 - CAST(sum(base_n) AS BIGINT) AS leftover FROM bp),
        |rp AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk
        |       FROM bp),
        |qp AS (
        |  SELECT source,
        |    CAST(base_n + CASE WHEN rk <= lp.leftover THEN 1 ELSE 0 END
        |      AS BIGINT) AS q_prop
        |  FROM rp, lp),
        |e AS (SELECT CAST(unnest(generate_series(0, 3)) AS BIGINT) AS epoch),
        |x AS (
        |  SELECT e.epoch, qt.source, qt.n_docs,
        |    (3 - e.epoch) * qt.q_temp + e.epoch * qp.q_prop AS r
        |  FROM qt JOIN qp USING (source), e),
        |y AS (SELECT epoch, source, n_docs,
        |        r // 3 AS base_n, r % 3 AS rem FROM x),
        |lo AS (SELECT epoch, 100000 - CAST(sum(base_n) AS BIGINT) AS leftover
        |       FROM y GROUP BY epoch),
        |rr AS (SELECT y.*, row_number() OVER (PARTITION BY y.epoch
        |         ORDER BY y.rem DESC, y.source) AS rk FROM y)
        |SELECT rr.epoch, rr.source, rr.n_docs,
        |  CAST(rr.base_n + CASE WHEN rr.rk <= lo.leftover THEN 1 ELSE 0 END
        |    AS BIGINT) AS quota
        |FROM rr JOIN lo USING (epoch)
        |ORDER BY rr.epoch, rr.source""".stripMargin,

    "s15_curriculum_manifests" -> CurriculumManifestSql,

    // the s16 gate IS s15's replay over the union (= the full corpus):
    // merge ≡ rebuild makes the same oracle prove the incremental path
    "s16_curriculum_incremental" -> CurriculumManifestSql,


    "t20_novelty" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
        |  FROM tok WHERE len(toks) >= 3),
        |g AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS g
        |      FROM idx),
        |base AS (SELECT DISTINCT gg.g FROM g gg WHERE gg.doc_id % 4 <> 0),
        |newg AS (SELECT * FROM g WHERE doc_id % 4 = 0)
        |SELECT n.doc_id, CAST(count(*) AS BIGINT) AS n_tri,
        |  CAST(sum(CASE WHEN b.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  (1000000 * CAST(sum(CASE WHEN b.g IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT)) // count(*) AS novelty_ppm
        |FROM newg n LEFT JOIN base b ON n.g = b.g
        |GROUP BY n.doc_id ORDER BY n.doc_id""".stripMargin,

    "d15_winnowing" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, len(toks) - 2 AS n_kg,
        |    unnest(generate_series(1, len(toks) - 2)) AS i
        |  FROM tok WHERE len(toks) >= 6),
        |kg AS (
        |  SELECT doc_id, n_kg, i AS pos,
        |    md5(array_to_string(toks[i:i+2], ' ')) AS fp
        |  FROM idx),
        |sel AS (
        |  SELECT doc_id, n_kg, pos,
        |    min({'fp': fp, 'np': -pos}) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s
        |  FROM kg)
        |SELECT DISTINCT doc_id, -((s).np) AS fp_pos, (s).fp AS fp
        |FROM sel WHERE pos <= n_kg - 3
        |ORDER BY doc_id, fp_pos""".stripMargin,

    "d18_dup_cluster_hist" ->
      """WITH g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS sz
        |  FROM documents GROUP BY text)
        |SELECT sz AS cluster_size,
        |  CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sz * count(*) AS BIGINT) AS n_docs
        |FROM g GROUP BY sz ORDER BY cluster_size""".stripMargin,

    "d17_incremental_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_filter(
        |      string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |      x -> len(x) > 0)) AS toks
        |  FROM documents),
        |tk AS (SELECT * FROM tok WHERE len(toks) > 0),
        |b AS (SELECT * FROM tk WHERE doc_id % 4 <> 0),
        |dr AS (SELECT * FROM tk WHERE doc_id % 4 = 0),
        |dups AS (
        |  SELECT dr.doc_id AS did, CAST(count(*) AS BIGINT) AS n_dups,
        |    CAST(min(b.doc_id) AS BIGINT) AS first_dup
        |  FROM dr JOIN b ON b.lang = dr.lang
        |    AND 5 * len(list_intersect(b.toks, dr.toks)) >=
        |        4 * (len(b.toks) + len(dr.toks)
        |             - len(list_intersect(b.toks, dr.toks)))
        |  GROUP BY dr.doc_id)
        |SELECT d.doc_id,
        |  coalesce(dups.n_dups, 0) AS n_dups,
        |  coalesce(dups.first_dup, -1) AS first_dup,
        |  dups.did IS NULL AS is_new
        |FROM documents d LEFT JOIN dups ON d.doc_id = dups.did
        |WHERE d.doc_id % 4 = 0 ORDER BY d.doc_id""".stripMargin,

    "d19p_incremental_exact" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
        |  FROM tok WHERE len(toks) >= 3),
        |sh AS (
        |  SELECT doc_id, list_distinct(list(array_to_string(toks[i:i+2], ' '))) AS s
        |  FROM idx GROUP BY doc_id),
        |b AS (SELECT * FROM sh WHERE doc_id % 4 <> 0),
        |dr AS (SELECT * FROM sh WHERE doc_id % 4 = 0),
        |dups AS (
        |  SELECT dr.doc_id AS did, CAST(count(*) AS BIGINT) AS n_dups,
        |    CAST(min(b.doc_id) AS BIGINT) AS first_dup
        |  FROM dr JOIN b ON
        |    5 * len(list_intersect(b.s, dr.s)) >=
        |    4 * (len(b.s) + len(dr.s) - len(list_intersect(b.s, dr.s)))
        |  GROUP BY dr.doc_id)
        |SELECT d.doc_id,
        |  coalesce(dups.n_dups, 0) AS n_dups,
        |  coalesce(dups.first_dup, -1) AS first_dup,
        |  dups.did IS NULL AS is_new
        |FROM documents d LEFT JOIN dups ON d.doc_id = dups.did
        |WHERE d.doc_id % 4 = 0 ORDER BY d.doc_id""".stripMargin,

    "d16_winnow_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, len(toks) - 2 AS n_kg,
        |    unnest(generate_series(1, len(toks) - 2)) AS i
        |  FROM tok WHERE len(toks) >= 6),
        |kg AS (
        |  SELECT doc_id, n_kg, i AS pos,
        |    md5(array_to_string(toks[i:i+2], ' ')) AS fp
        |  FROM idx),
        |sel AS (
        |  SELECT doc_id, n_kg, pos,
        |    min({'fp': fp, 'np': -pos}) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s
        |  FROM kg),
        |fps AS (
        |  SELECT DISTINCT doc_id, (s).fp AS fp
        |  FROM sel WHERE pos <= n_kg - 3),
        |keep AS (
        |  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 20),
        |posting AS (SELECT fps.doc_id, fps.fp FROM fps JOIN keep USING (fp))
        |SELECT x.doc_id AS a, y.doc_id AS b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM posting x JOIN posting y
        |  ON x.fp = y.fp AND x.doc_id < y.doc_id
        |GROUP BY x.doc_id, y.doc_id
        |HAVING count(*) >= 2
        |ORDER BY a, b""".stripMargin,

    "t24_vocab_growth" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |n AS (SELECT CAST(max(doc_id) AS BIGINT) AS max_id FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |  FROM tok WHERE len(toks) >= 2),
        |f AS (
        |  SELECT w, CAST(min(doc_id) AS BIGINT) AS first_doc FROM (
        |    SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS w FROM idx)
        |  GROUP BY w),
        |b AS (
        |  SELECT least(f.first_doc // ((n.max_id + 10) // 10), 9) + 1 AS cp
        |  FROM f, n),
        |g AS (SELECT cp, CAST(count(*) AS BIGINT) AS new_tokens
        |      FROM b GROUP BY cp)
        |SELECT cp, new_tokens,
        |  CAST(sum(new_tokens) OVER (ORDER BY cp) AS BIGINT) AS vocab_size
        |FROM g ORDER BY cp""".stripMargin,

    "s11_dedup_discount" ->
      """WITH g AS (
        |  SELECT text, CAST(count(*) AS BIGINT) AS n_copies
        |  FROM documents GROUP BY text)
        |SELECT d.doc_id, g.n_copies,
        |  1000000 // g.n_copies AS weight_ppm
        |FROM documents d JOIN g ON d.text IS NOT DISTINCT FROM g.text
        |ORDER BY d.doc_id""".stripMargin,

    "x18_manifest_diff" ->
      s"""WITH b AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |        x -> len(x) > 0)) AS n_toks,
        |    $ShardExprSql AS shard
        |  FROM documents),
        |base AS (
        |  SELECT shard, CAST(count(*) AS BIGINT) AS bd,
        |    CAST(sum(n_toks) AS BIGINT) AS bt
        |  FROM b WHERE doc_id % 4 <> 0 GROUP BY shard),
        |f AS (
        |  SELECT shard, CAST(count(*) AS BIGINT) AS fd,
        |    CAST(sum(n_toks) AS BIGINT) AS ft
        |  FROM b GROUP BY shard)
        |SELECT CAST(f.shard AS INTEGER) AS shard,
        |  coalesce(base.bd, 0) AS base_docs,
        |  f.fd AS full_docs,
        |  f.fd - coalesce(base.bd, 0) AS d_docs,
        |  f.ft - coalesce(base.bt, 0) AS d_tokens
        |FROM f LEFT JOIN base ON f.shard = base.shard
        |ORDER BY shard""".stripMargin,

    "x17_source_scorecard" ->
      s"""WITH $TokCte,
        |s AS (
        |  SELECT doc_id, toks,
        |    $LangScores
        |  FROM tok),
        |p AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS ntok,
        |    $LangCase AS pred_lang
        |  FROM s),
        |f AS (
        |  SELECT d.source, d.lang, p.ntok, p.pred_lang,
        |    d.doc_id <> min(d.doc_id) OVER (PARTITION BY d.text) AS is_dup
        |  FROM p JOIN documents d USING (doc_id)),
        |a AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup,
        |    CAST(sum(CASE WHEN pred_lang <> lang THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_mismatch,
        |    CAST(sum(CASE WHEN ntok < 40 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_short
        |  FROM f GROUP BY source)
        |SELECT source, n_docs, n_tokens,
        |  (1000000 * n_dup) // n_docs AS dup_ppm,
        |  (1000000 * n_mismatch) // n_docs AS mismatch_ppm,
        |  (1000000 * n_short) // n_docs AS short_ppm
        |FROM a ORDER BY source""".stripMargin,

    "x16_curation_funnel" ->
      """WITH tok AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |f AS (
        |  SELECT CAST(len(toks) AS BIGINT) AS n_tok,
        |    CAST(len(list_filter(toks,
        |      x -> list_contains(['dup', 'spam', 'junk', 'noise'], x)))
        |      AS BIGINT) AS n_blk,
        |    doc_id = min(doc_id) OVER (PARTITION BY text) AS is_rep
        |  FROM tok),
        |ff AS (
        |  SELECT n_tok, is_rep AS f2,
        |    is_rep AND n_tok >= 40 AS f3,
        |    CASE WHEN is_rep AND n_tok >= 40
        |      THEN ((1000000 * n_blk) // n_tok) < 50000
        |      ELSE false END AS f4
        |  FROM f),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS d1,
        |    CAST(sum(n_tok) AS BIGINT) AS t1,
        |    CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
        |    CAST(sum(CASE WHEN f2 THEN n_tok ELSE 0 END) AS BIGINT) AS t2,
        |    CAST(sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
        |    CAST(sum(CASE WHEN f3 THEN n_tok ELSE 0 END) AS BIGINT) AS t3,
        |    CAST(sum(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS d4,
        |    CAST(sum(CASE WHEN f4 THEN n_tok ELSE 0 END) AS BIGINT) AS t4
        |  FROM ff)
        |SELECT * FROM (
        |  SELECT CAST(1 AS INT) AS stage_no, 'ingest' AS stage,
        |    d1 AS n_docs, t1 AS n_tokens FROM a
        |  UNION ALL SELECT CAST(2 AS INT), 'dedup', d2, t2 FROM a
        |  UNION ALL SELECT CAST(3 AS INT), 'length', d3, t3 FROM a
        |  UNION ALL SELECT CAST(4 AS INT), 'blocklist', d4, t4 FROM a)
        |ORDER BY stage_no""".stripMargin,

    "c10_span_excise" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |corpus AS (SELECT doc_id, toks FROM tok WHERE doc_id % 10 <> 7),
        |eg AS (
        |  SELECT DISTINCT array_to_string(toks[i:i+7], ' ') AS g
        |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 7)) AS i
        |        FROM tok WHERE doc_id % 10 = 7 AND len(toks) >= 8)),
        |hits AS (
        |  SELECT c.doc_id, c.i AS pos
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks) - 7)) AS i
        |        FROM corpus WHERE len(toks) >= 8) c
        |  JOIN eg ON array_to_string(c.toks[c.i:c.i+7], ' ') = eg.g),
        |cov AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(generate_series(pos, pos + 7)) AS i
        |  FROM hits),
        |tp AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
        |  FROM corpus),
        |kept AS (
        |  SELECT tp.doc_id, tp.i, tp.toks[tp.i] AS w
        |  FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.i = cov.i
        |  WHERE cov.i IS NULL),
        |ka AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(w, ' ' ORDER BY i) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT c.doc_id, CAST(len(c.toks) AS BIGINT) AS n_tokens,
        |  CAST(len(c.toks) - coalesce(ka.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(ka.clean_text, '') AS clean_text
        |FROM corpus c LEFT JOIN ka ON c.doc_id = ka.doc_id
        |ORDER BY c.doc_id""".stripMargin,

    "e17_event_paths" ->
      """WITH t AS (
        |  SELECT event_type AS e1,
        |    lead(event_type, 1)
        |      OVER (PARTITION BY user_id ORDER BY event_id) AS e2,
        |    lead(event_type, 2)
        |      OVER (PARTITION BY user_id ORDER BY event_id) AS e3
        |  FROM events),
        |tr AS (SELECT e1, e2, e3 FROM t WHERE e3 IS NOT NULL),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tr),
        |g AS (
        |  SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n_paths
        |  FROM tr GROUP BY e1, e2, e3 HAVING count(*) >= 5)
        |SELECT g.e1, g.e2, g.e3, g.n_paths,
        |  (g.n_paths * 1000000) // tot.n_total AS share_ppm
        |FROM g CROSS JOIN tot ORDER BY e1, e2, e3""".stripMargin,

    "d22_incremental_excise" -> D22ExciseOracle,

    // the composed rule replayed on raw span strings: base-held spans
    // cover every drop occurrence; drop-only repeated spans cover all
    // but the struct-min keeper
    "d22c_excise_composed" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |base_sp AS (
        |  SELECT DISTINCT array_to_string(toks[i:i+7], ' ') AS g
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks) - 7)) AS i
        |        FROM tok WHERE doc_id % 4 <> 0 AND len(toks) >= 8)),
        |drop_t AS (SELECT doc_id, toks FROM tok WHERE doc_id % 4 = 0),
        |sp AS (
        |  SELECT doc_id, i AS pos, array_to_string(toks[i:i+7], ' ') AS g
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks) - 7)) AS i
        |        FROM drop_t WHERE len(toks) >= 8)),
        |bcov AS (
        |  SELECT DISTINCT s.doc_id,
        |    unnest(generate_series(s.pos, s.pos + 7)) AS i
        |  FROM sp s JOIN base_sp b ON s.g = b.g),
        |nb AS (
        |  SELECT s.doc_id, s.pos, s.g
        |  FROM sp s LEFT JOIN base_sp b ON s.g = b.g
        |  WHERE b.g IS NULL),
        |dup AS (
        |  SELECT g, min({'d': doc_id, 'p': pos}) AS kp
        |  FROM nb GROUP BY g HAVING count(*) > 1),
        |dcov AS (
        |  SELECT DISTINCT s.doc_id,
        |    unnest(generate_series(s.pos, s.pos + 7)) AS i
        |  FROM nb s JOIN dup ON s.g = dup.g
        |  WHERE NOT (s.doc_id = struct_extract(dup.kp, 'd')
        |             AND s.pos = struct_extract(dup.kp, 'p'))),
        |cov AS (
        |  SELECT doc_id, i FROM bcov UNION SELECT doc_id, i FROM dcov),
        |tp AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
        |  FROM drop_t),
        |kept AS (
        |  SELECT tp.doc_id, tp.i, tp.toks[tp.i] AS w
        |  FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.i = cov.i
        |  WHERE cov.i IS NULL),
        |ka AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(w, ' ' ORDER BY i) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(len(t.toks) - coalesce(ka.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(ka.clean_text, '') AS clean_text
        |FROM drop_t t LEFT JOIN ka ON t.doc_id = ka.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // the merge-path differential: Spark excises against the stale
    // older index ADVANCED by delta arithmetic; DuckDB rebuilds the
    // span set from the full base corpus — d22's oracle verbatim
    "d25_index_merge" -> D22ExciseOracle,

    "d25b_postings_merge" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0),
        |tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM d),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |  FROM tok WHERE len(toks) >= 2),
        |tf AS (
        |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram,
        |    CAST(count(*) AS BIGINT) AS tf
        |  FROM idx GROUP BY doc_id, gram),
        |dfreq AS (
        |  SELECT gram, count(*) AS df FROM tf
        |  GROUP BY gram HAVING count(*) BETWEEN 2 AND 25),
        |n AS (SELECT count(*) AS n_docs FROM d)
        |SELECT tf.gram, tf.doc_id, tf.tf,
        |  CAST(n.n_docs AS DOUBLE) / dfreq.df AS w
        |FROM tf JOIN dfreq USING (gram), n
        |ORDER BY tf.gram, tf.doc_id""".stripMargin,

    // the delete-path differential: Spark excises against the STALE
    // index shrunk by delta arithmetic; DuckDB rebuilds the span set
    // from the surviving corpus's raw strings
    "d23_index_delete" ->
      exciseOracle("doc_id % 4 <> 0 AND doc_id % 10 <> 1"),

    "d23b_postings_delete" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 4 <> 0 AND doc_id % 10 <> 1),
        |tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM d),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |  FROM tok WHERE len(toks) >= 2),
        |tf AS (
        |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram,
        |    CAST(count(*) AS BIGINT) AS tf
        |  FROM idx GROUP BY doc_id, gram),
        |dfreq AS (
        |  SELECT gram, count(*) AS df FROM tf
        |  GROUP BY gram HAVING count(*) BETWEEN 2 AND 25),
        |n AS (SELECT count(*) AS n_docs FROM d)
        |SELECT tf.gram, tf.doc_id, tf.tf,
        |  CAST(n.n_docs AS DOUBLE) / dfreq.df AS w
        |FROM tf JOIN dfreq USING (gram), n
        |ORDER BY tf.gram, tf.doc_id""".stripMargin,

    // bit-identical output by construction (bloom false positives die
    // in the exact verify) — the SAME replay gates both paths, so
    // fp-immunity is itself hash-checked
    "d22b_excise_bloom" -> D22ExciseOracle,

    "d21_span_keep_one" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, i AS pos, array_to_string(toks[i:i+7], ' ') AS g
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks) - 7)) AS i
        |        FROM tok WHERE len(toks) >= 8)),
        |dup AS (
        |  SELECT g, min({'d': doc_id, 'p': pos}) AS kp
        |  FROM sp GROUP BY g HAVING count(*) > 1),
        |cov AS (
        |  SELECT DISTINCT s.doc_id,
        |    unnest(generate_series(s.pos, s.pos + 7)) AS i
        |  FROM sp s JOIN dup ON s.g = dup.g
        |  WHERE NOT (s.doc_id = struct_extract(dup.kp, 'd')
        |             AND s.pos = struct_extract(dup.kp, 'p'))),
        |tp AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
        |  FROM tok),
        |kept AS (
        |  SELECT tp.doc_id, tp.i, tp.toks[tp.i] AS w
        |  FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.i = cov.i
        |  WHERE cov.i IS NULL),
        |ka AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(w, ' ' ORDER BY i) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(len(t.toks) - coalesce(ka.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(ka.clean_text, '') AS clean_text
        |FROM tok t LEFT JOIN ka ON t.doc_id = ka.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "d20_span_excise" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, i AS pos, array_to_string(toks[i:i+7], ' ') AS g
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks) - 7)) AS i
        |        FROM tok WHERE len(toks) >= 8)),
        |dup AS (
        |  SELECT g FROM sp GROUP BY g HAVING count(DISTINCT doc_id) > 1),
        |cov AS (
        |  SELECT DISTINCT s.doc_id,
        |    unnest(generate_series(s.pos, s.pos + 7)) AS i
        |  FROM sp s JOIN dup USING (g)),
        |tp AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
        |  FROM tok),
        |kept AS (
        |  SELECT tp.doc_id, tp.i, tp.toks[tp.i] AS w
        |  FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.i = cov.i
        |  WHERE cov.i IS NULL),
        |ka AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(w, ' ' ORDER BY i) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(len(t.toks) - coalesce(ka.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(ka.clean_text, '') AS clean_text
        |FROM tok t LEFT JOIN ka ON t.doc_id = ka.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "d24_char_excise" ->
      """WITH tok AS (
        |  SELECT doc_id, lower(text) AS t FROM documents),
        |sp AS (
        |  SELECT doc_id, i AS pos, substring(t, i + 1, 40) AS g
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(0, length(t) - 40)) AS i
        |        FROM tok WHERE length(t) >= 40)),
        |dup AS (
        |  SELECT g FROM sp GROUP BY g HAVING count(DISTINCT doc_id) > 1),
        |cov AS (
        |  SELECT DISTINCT s.doc_id,
        |    unnest(generate_series(s.pos, s.pos + 39)) AS i
        |  FROM sp s JOIN dup USING (g)),
        |ch AS (
        |  SELECT doc_id, t, regexp_extract_all(t, '(?s).') AS cs FROM tok),
        |tp AS (
        |  SELECT doc_id, cs, unnest(generate_series(1, len(cs))) AS i
        |  FROM ch),
        |kept AS (
        |  SELECT tp.doc_id, tp.i, tp.cs[tp.i] AS c
        |  FROM tp LEFT JOIN cov
        |    ON tp.doc_id = cov.doc_id AND tp.i - 1 = cov.i
        |  WHERE cov.i IS NULL),
        |ka AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(c, '' ORDER BY i) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(length(t.t) AS BIGINT) AS n_chars,
        |  CAST(length(t.t) - coalesce(ka.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(ka.clean_text, '') AS clean_text
        |FROM tok t LEFT JOIN ka ON t.doc_id = ka.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "d27_char_excise_incremental" ->
      """WITH base AS (
        |  SELECT doc_id, lower(text) AS t FROM documents
        |  WHERE doc_id % 4 <> 0),
        |drop0 AS (
        |  SELECT doc_id, lower(text) AS t FROM documents
        |  WHERE doc_id % 4 = 0),
        |bw AS (
        |  SELECT DISTINCT substring(t, i + 1, 40) AS g
        |  FROM (SELECT t, unnest(generate_series(0, length(t) - 40)) AS i
        |        FROM base WHERE length(t) >= 40)),
        |sp AS (
        |  SELECT doc_id, i AS pos, substring(t, i + 1, 40) AS g
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(0, length(t) - 40)) AS i
        |        FROM drop0 WHERE length(t) >= 40)),
        |cov AS (
        |  SELECT DISTINCT s.doc_id,
        |    unnest(generate_series(s.pos, s.pos + 39)) AS i
        |  FROM sp s JOIN bw ON s.g = bw.g),
        |ch AS (
        |  SELECT doc_id, t, regexp_extract_all(t, '(?s).') AS cs FROM drop0),
        |tp AS (
        |  SELECT doc_id, cs, unnest(generate_series(1, len(cs))) AS i
        |  FROM ch),
        |kept AS (
        |  SELECT tp.doc_id, tp.i, tp.cs[tp.i] AS c
        |  FROM tp LEFT JOIN cov
        |    ON tp.doc_id = cov.doc_id AND tp.i - 1 = cov.i
        |  WHERE cov.i IS NULL),
        |ka AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(c, '' ORDER BY i) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(length(t.t) AS BIGINT) AS n_chars,
        |  CAST(length(t.t) - coalesce(ka.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(ka.clean_text, '') AS clean_text
        |FROM drop0 t LEFT JOIN ka ON t.doc_id = ka.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "t25_langid_confusion" ->
      s"""WITH $TokCte,
        |s AS (
        |  SELECT doc_id,
        |    $LangScores
        |  FROM tok),
        |p AS (
        |  SELECT doc_id,
        |    $LangCase AS pred_lang
        |  FROM s),
        |j AS (
        |  SELECT d.lang AS true_lang, p.pred_lang
        |  FROM p JOIN documents d USING (doc_id)),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM j),
        |g AS (
        |  SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM j GROUP BY 1, 2)
        |SELECT g.true_lang, g.pred_lang, g.n_docs,
        |  (1000000 * g.n_docs) // tot.n_total AS share_ppm
        |FROM g CROSS JOIN tot ORDER BY true_lang, pred_lang""".stripMargin,

    "t26_blocklist" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(toks,
        |      x -> list_contains(['dup', 'spam', 'junk', 'noise'], x)))
        |      AS BIGINT) AS n_blocked
        |  FROM tok WHERE len(toks) > 0)
        |SELECT doc_id, n_tokens, n_blocked,
        |  (1000000 * n_blocked) // n_tokens AS blocked_ppm,
        |  ((1000000 * n_blocked) // n_tokens) < 50000 AS keep
        |FROM c ORDER BY doc_id""".stripMargin,

    "t27_secret_scrub" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    'pin' || lpad(CAST(doc_id % 37 AS VARCHAR), 4, '0') ||
        |    ' key' || lpad(CAST(doc_id AS VARCHAR), 12, '0') ||
        |    ' ' || text AS text
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM p),
        |cand AS (
        |  SELECT DISTINCT doc_id, tok
        |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tok)
        |  WHERE regexp_matches(tok, '[0-9]{4}')),
        |rare AS (SELECT tok FROM cand GROUP BY tok HAVING count(*) < 3),
        |rset AS (
        |  SELECT doc_id, list(tok) AS rt
        |  FROM cand JOIN rare USING (tok) GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(len(r.rt), 0) AS BIGINT) AS n_secrets,
        |  CAST(len(list_filter(t.toks,
        |    x -> list_contains(coalesce(r.rt, CAST([] AS VARCHAR[])), x)))
        |    AS BIGINT) AS n_redacted,
        |  array_to_string(list_transform(t.toks,
        |    x -> CASE WHEN list_contains(
        |                 coalesce(r.rt, CAST([] AS VARCHAR[])), x)
        |          THEN '<secret>' ELSE x END), ' ') AS clean_text
        |FROM tok t LEFT JOIN rset r USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    "x15_global_ids" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS gid
        |FROM documents WHERE lang = 'en'
        |ORDER BY doc_id""".stripMargin,

    "u5_tokenizer_fertility" ->
      s"""WITH tok AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |occ AS (SELECT doc_id, lang, unnest(toks) AS w FROM tok),
        |$BpeFoldCtes,
        |per AS (
        |  SELECT o.lang,
        |    CAST(count(DISTINCT o.doc_id) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(sum(wl.n_sub) AS BIGINT) AS n_subwords,
        |    CAST(sum(strlen(o.w)) AS BIGINT) AS n_bytes
        |  FROM occ o JOIN wl ON o.w = wl.w
        |  GROUP BY o.lang)
        |SELECT lang, n_docs, n_words, n_subwords, n_bytes,
        |  (1000000 * n_subwords) // n_words AS fertility_ppm,
        |  (1000000 * n_bytes) // n_subwords AS bytes_per_subword_ppm
        |FROM per ORDER BY lang""".stripMargin,

    "u6_unigram_lm" ->
      """WITH wt AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(list_filter(
        |      string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |      x -> len(x) > 0)) AS word
        |    FROM documents) w
        |  GROUP BY word ORDER BY cnt DESC, word LIMIT 65536),
        |wtf AS MATERIALIZED (
        |  SELECT word, cnt FROM wt
        |  WHERE length(word) <= 12 AND NOT contains(word, chr(31))),
        |sp0 AS MATERIALIZED (
        |  SELECT word, cnt, unnest(generate_series(0, length(word) - 1)) AS j
        |  FROM wtf),
        |spans AS MATERIALIZED (
        |  SELECT word, cnt, j, l, substring(word, CAST(j + 1 AS INTEGER),
        |    CAST(l AS INTEGER)) AS piece
        |  FROM (
        |    SELECT word, cnt, j,
        |      unnest(generate_series(1, least(4, length(word) - j))) AS l
        |    FROM sp0) t),
        |seed AS MATERIALIZED (
        |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS s FROM spans GROUP BY piece),
        |vocab0 AS MATERIALIZED (
        |  SELECT piece, s FROM seed WHERE length(piece) = 1
        |  UNION ALL
        |  SELECT piece, s FROM (
        |    SELECT piece, s FROM seed WHERE length(piece) > 1
        |    ORDER BY s DESC, piece LIMIT 4096) m),
        |nn AS (SELECT CAST(sum(s) AS BIGINT) AS n FROM vocab0),
        |edges AS MATERIALIZED (
        |  SELECT spans.word, spans.j, spans.j + spans.l AS k, spans.piece,
        |    CAST(length(bin(nn.n)) - length(bin(v.s)) AS BIGINT) * 1024 + 1 AS w
        |  FROM spans JOIN vocab0 v ON spans.piece = v.piece CROSS JOIN nn),
        |d0 AS MATERIALIZED (
        |  SELECT word, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS cost,
        |    '' AS path
        |  FROM wtf),
        |d1 AS MATERIALIZED (
        |  SELECT word, pos, struct_extract(b, 'cost') AS cost,
        |    struct_extract(b, 'path') AS path
        |  FROM (
        |    SELECT word, pos, min({'cost': cost, 'path': path}) AS b FROM (
        |      SELECT word, pos, cost, path FROM d0
        |      UNION ALL
        |      SELECT d0.word, e.k AS pos, d0.cost + e.w AS cost,
        |        d0.path || chr(31) || e.piece AS path
        |      FROM d0 JOIN edges e ON d0.word = e.word AND d0.pos = e.j) u
        |    GROUP BY word, pos) g),
        |d2 AS MATERIALIZED (
        |  SELECT word, pos, struct_extract(b, 'cost') AS cost,
        |    struct_extract(b, 'path') AS path
        |  FROM (
        |    SELECT word, pos, min({'cost': cost, 'path': path}) AS b FROM (
        |      SELECT word, pos, cost, path FROM d1
        |      UNION ALL
        |      SELECT d1.word, e.k AS pos, d1.cost + e.w AS cost,
        |        d1.path || chr(31) || e.piece AS path
        |      FROM d1 JOIN edges e ON d1.word = e.word AND d1.pos = e.j) u
        |    GROUP BY word, pos) g),
        |d3 AS MATERIALIZED (
        |  SELECT word, pos, struct_extract(b, 'cost') AS cost,
        |    struct_extract(b, 'path') AS path
        |  FROM (
        |    SELECT word, pos, min({'cost': cost, 'path': path}) AS b FROM (
        |      SELECT word, pos, cost, path FROM d2
        |      UNION ALL
        |      SELECT d2.word, e.k AS pos, d2.cost + e.w AS cost,
        |        d2.path || chr(31) || e.piece AS path
        |      FROM d2 JOIN edges e ON d2.word = e.word AND d2.pos = e.j) u
        |    GROUP BY word, pos) g),
        |d4 AS MATERIALIZED (
        |  SELECT word, pos, struct_extract(b, 'cost') AS cost,
        |    struct_extract(b, 'path') AS path
        |  FROM (
        |    SELECT word, pos, min({'cost': cost, 'path': path}) AS b FROM (
        |      SELECT word, pos, cost, path FROM d3
        |      UNION ALL
        |      SELECT d3.word, e.k AS pos, d3.cost + e.w AS cost,
        |        d3.path || chr(31) || e.piece AS path
        |      FROM d3 JOIN edges e ON d3.word = e.word AND d3.pos = e.j) u
        |    GROUP BY word, pos) g),
        |d5 AS MATERIALIZED (
        |  SELECT word, pos, struct_extract(b, 'cost') AS cost,
        |    struct_extract(b, 'path') AS path
        |  FROM (
        |    SELECT word, pos, min({'cost': cost, 'path': path}) AS b FROM (
        |      SELECT word, pos, cost, path FROM d4
        |      UNION ALL
        |      SELECT d4.word, e.k AS pos, d4.cost + e.w AS cost,
        |        d4.path || chr(31) || e.piece AS path
        |      FROM d4 JOIN edges e ON d4.word = e.word AND d4.pos = e.j) u
        |    GROUP BY word, pos) g),
        |d6 AS MATERIALIZED (
        |  SELECT word, pos, struct_extract(b, 'cost') AS cost,
        |    struct_extract(b, 'path') AS path
        |  FROM (
        |    SELECT word, pos, min({'cost': cost, 'path': path}) AS b FROM (
        |      SELECT word, pos, cost, path FROM d5
        |      UNION ALL
        |      SELECT d5.word, e.k AS pos, d5.cost + e.w AS cost,
        |        d5.path || chr(31) || e.piece AS path
        |      FROM d5 JOIN edges e ON d5.word = e.word AND d5.pos = e.j) u
        |    GROUP BY word, pos) g),
        |d7 AS MATERIALIZED (
        |  SELECT word, pos, struct_extract(b, 'cost') AS cost,
        |    struct_extract(b, 'path') AS path
        |  FROM (
        |    SELECT word, pos, min({'cost': cost, 'path': path}) AS b FROM (
        |      SELECT word, pos, cost, path FROM d6
        |      UNION ALL
        |      SELECT d6.word, e.k AS pos, d6.cost + e.w AS cost,
        |        d6.path || chr(31) || e.piece AS path
        |      FROM d6 JOIN edges e ON d6.word = e.word AND d6.pos = e.j) u
        |    GROUP BY word, pos) g),
        |d8 AS MATERIALIZED (
        |  SELECT word, pos, struct_extract(b, 'cost') AS cost,
        |    struct_extract(b, 'path') AS path
        |  FROM (
        |    SELECT word, pos, min({'cost': cost, 'path': path}) AS b FROM (
        |      SELECT word, pos, cost, path FROM d7
        |      UNION ALL
        |      SELECT d7.word, e.k AS pos, d7.cost + e.w AS cost,
        |        d7.path || chr(31) || e.piece AS path
        |      FROM d7 JOIN edges e ON d7.word = e.word AND d7.pos = e.j) u
        |    GROUP BY word, pos) g),
        |d9 AS MATERIALIZED (
        |  SELECT word, pos, struct_extract(b, 'cost') AS cost,
        |    struct_extract(b, 'path') AS path
        |  FROM (
        |    SELECT word, pos, min({'cost': cost, 'path': path}) AS b FROM (
        |      SELECT word, pos, cost, path FROM d8
        |      UNION ALL
        |      SELECT d8.word, e.k AS pos, d8.cost + e.w AS cost,
        |        d8.path || chr(31) || e.piece AS path
        |      FROM d8 JOIN edges e ON d8.word = e.word AND d8.pos = e.j) u
        |    GROUP BY word, pos) g),
        |d10 AS MATERIALIZED (
        |  SELECT word, pos, struct_extract(b, 'cost') AS cost,
        |    struct_extract(b, 'path') AS path
        |  FROM (
        |    SELECT word, pos, min({'cost': cost, 'path': path}) AS b FROM (
        |      SELECT word, pos, cost, path FROM d9
        |      UNION ALL
        |      SELECT d9.word, e.k AS pos, d9.cost + e.w AS cost,
        |        d9.path || chr(31) || e.piece AS path
        |      FROM d9 JOIN edges e ON d9.word = e.word AND d9.pos = e.j) u
        |    GROUP BY word, pos) g),
        |d11 AS MATERIALIZED (
        |  SELECT word, pos, struct_extract(b, 'cost') AS cost,
        |    struct_extract(b, 'path') AS path
        |  FROM (
        |    SELECT word, pos, min({'cost': cost, 'path': path}) AS b FROM (
        |      SELECT word, pos, cost, path FROM d10
        |      UNION ALL
        |      SELECT d10.word, e.k AS pos, d10.cost + e.w AS cost,
        |        d10.path || chr(31) || e.piece AS path
        |      FROM d10 JOIN edges e ON d10.word = e.word AND d10.pos = e.j) u
        |    GROUP BY word, pos) g),
        |d12 AS MATERIALIZED (
        |  SELECT word, pos, struct_extract(b, 'cost') AS cost,
        |    struct_extract(b, 'path') AS path
        |  FROM (
        |    SELECT word, pos, min({'cost': cost, 'path': path}) AS b FROM (
        |      SELECT word, pos, cost, path FROM d11
        |      UNION ALL
        |      SELECT d11.word, e.k AS pos, d11.cost + e.w AS cost,
        |        d11.path || chr(31) || e.piece AS path
        |      FROM d11 JOIN edges e ON d11.word = e.word AND d11.pos = e.j) u
        |    GROUP BY word, pos) g),
        |best AS MATERIALIZED (
        |  SELECT wtf.word, wtf.cnt, d12.path
        |  FROM d12 JOIN wtf ON d12.word = wtf.word AND d12.pos = length(wtf.word)),
        |used AS MATERIALIZED (
        |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS n_uses FROM (
        |    SELECT cnt, unnest(list_filter(string_split(path, chr(31)),
        |      x -> len(x) > 0)) AS piece
        |    FROM best) u
        |  GROUP BY piece)
        |SELECT piece, CAST(coalesce(u.n_uses, 0) AS BIGINT) AS n_uses
        |FROM (SELECT piece FROM vocab0 WHERE length(piece) = 1) c
        |LEFT JOIN used u USING (piece)
        |UNION ALL
        |SELECT piece, n_uses FROM (
        |  SELECT piece, n_uses FROM used WHERE length(piece) > 1
        |  ORDER BY n_uses DESC, piece LIMIT 2048) m
        |ORDER BY piece""".stripMargin,

    "u4_bpe_encode" ->
      s"""WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |occ AS (SELECT doc_id, unnest(toks) AS w FROM tok),
        |$BpeFoldCtes,
        |per_doc AS (
        |  SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(sum(wl.n_sub) AS BIGINT) AS n_subwords
        |  FROM occ o JOIN wl ON o.w = wl.w
        |  GROUP BY o.doc_id)
        |SELECT doc_id, n_words, n_subwords,
        |  (1000000 * n_subwords) // n_words AS spw_ppm
        |FROM per_doc ORDER BY doc_id""".stripMargin,

    "u10_byte_bpe" ->
      s"""WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |occ AS (SELECT doc_id, unnest(toks) AS w FROM tok),
        |$byteBpeFoldCtes,
        |per_doc AS (
        |  SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(sum(strlen(o.w)) AS BIGINT) AS n_bytes,
        |    CAST(sum(wl.n_sub) AS BIGINT) AS n_subwords
        |  FROM occ o JOIN wl ON o.w = wl.w
        |  GROUP BY o.doc_id)
        |SELECT doc_id, n_words, n_bytes, n_subwords,
        |  (1000000 * n_subwords) // n_words AS spw_ppm,
        |  (1000000 * n_bytes) // n_subwords AS bps_ppm
        |FROM per_doc ORDER BY doc_id""".stripMargin,

    "u12_tokenizer_coverage" ->
      s"""WITH tok AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |occ AS (
        |  SELECT DISTINCT lang, w
        |  FROM (SELECT lang, unnest(toks) AS w FROM tok)),
        |${unigramServeCtes("wl_unused")},
        |fbw AS (
        |  SELECT uN.w,
        |    CASE WHEN len(list_filter(string_split(uN.path, chr(31)),
        |                              x -> len(x) > 1)) > 0
        |      THEN 0 ELSE 1 END AS fb
        |  FROM u${graft.operators.Tokenizer.UnigramMaxWordLen} uN
        |  JOIN wshort ws ON uN.w = ws.w AND uN.pos = length(ws.w)
        |  UNION ALL
        |  SELECT w, 1 AS fb FROM wd WHERE length(w) > 12)
        |SELECT o.lang, CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(f.fb) AS BIGINT) AS n_fallback,
        |  (1000000 * CAST(sum(f.fb) AS BIGINT)) // count(*) AS fallback_ppm
        |FROM occ o JOIN fbw f ON o.w = f.w
        |GROUP BY o.lang ORDER BY o.lang""".stripMargin,

    "u7_unigram_encode" ->
      s"""WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |occ AS (SELECT doc_id, unnest(toks) AS w FROM tok),
        |$unigramServeCtes,
        |per_doc AS (
        |  SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(sum(wl.n_pieces) AS BIGINT) AS n_pieces
        |  FROM occ o JOIN wl ON o.w = wl.w
        |  GROUP BY o.doc_id)
        |SELECT doc_id, n_words, n_pieces,
        |  (1000000 * n_pieces) // n_words AS ppw_ppm
        |FROM per_doc ORDER BY doc_id""".stripMargin,

    "u13_unigram_em" ->
      s"""WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |occ AS (SELECT doc_id, unnest(toks) AS w FROM tok),
        |${unigramPieceListCtes("pl")},
        |wcnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c
        |         FROM occ GROUP BY w),
        |pu AS (
        |  SELECT piece, CAST(sum(c) AS BIGINT) AS n_uses
        |  FROM (SELECT pl.w, unnest(pl.pieces) AS piece FROM pl) z
        |  JOIN wcnt USING (w)
        |  GROUP BY piece),
        |tot AS (SELECT CAST(sum(n_uses) AS BIGINT) AS n FROM pu)
        |SELECT piece, n_uses,
        |  CAST(length(bin(tot.n)) - length(bin(n_uses)) AS BIGINT) * 1024 + 1
        |    AS cost
        |FROM pu, tot ORDER BY piece""".stripMargin,

    // two EM rounds unrolled: round 2's DP chain (prefix v) scores
    // against round 1's re-estimated model r1 — the generated-unroll
    // oracle for the fixed-round loop
    "u14_unigram_em_converged" ->
      s"""WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |occ AS (SELECT doc_id, unnest(toks) AS w FROM tok),
        |wcnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c
        |         FROM occ GROUP BY w),
        |upieces(piece, pcost) AS (VALUES $unigramPieceValues),
        |$UnigramWordCtes,
        |${unigramDpRounds("u", "upieces")},
        |${unigramEmTail("u", "r1")},
        |r1p AS (SELECT piece, cost AS pcost FROM r1),
        |${unigramDpRounds("v", "r1p")},
        |${unigramEmTail("v", "r2")}
        |SELECT piece, n_uses, cost FROM r2 ORDER BY piece""".stripMargin,

    "u9_kneser_ney" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |  FROM tok WHERE len(toks) >= 2),
        |occ AS (SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM idx),
        |big AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM occ GROUP BY w1, w2),
        |lft AS (
        |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1dot,
        |    CAST(count(*) AS BIGINT) AS n1p_right
        |  FROM big GROUP BY w1),
        |cont AS (
        |  SELECT w2, CAST(count(*) AS BIGINT) AS n1p_left
        |  FROM big GROUP BY w2),
        |tt AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM big)
        |SELECT b.w1, b.w2, b.c12, l.c1dot, l.n1p_right, c.n1p_left,
        |  (1000000 * (4 * b.c12 - 3)) // (4 * l.c1dot) AS disc_ppm,
        |  (3000000 * l.n1p_right * c.n1p_left)
        |    // (4 * l.c1dot * tt.n_types) AS cont_ppm,
        |  (1000000 * (4 * b.c12 - 3)) // (4 * l.c1dot)
        |    + (3000000 * l.n1p_right * c.n1p_left)
        |      // (4 * l.c1dot * tt.n_types) AS p_ppm
        |FROM big b JOIN lft l USING (w1) JOIN cont c USING (w2), tt
        |WHERE b.c12 >= 2 ORDER BY b.w1, b.w2""".stripMargin,

    "u8_tokenizer_compare" ->
      s"""WITH tok AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |occ AS (SELECT doc_id, lang, unnest(toks) AS w FROM tok),
        |$BpeFoldCtes,
        |${unigramServeCtes("uwl")},
        |per AS (
        |  SELECT o.lang,
        |    CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(sum(b.n_sub) AS BIGINT) AS n_subwords,
        |    CAST(sum(u.n_pieces) AS BIGINT) AS n_pieces
        |  FROM occ o JOIN wl b ON o.w = b.w JOIN uwl u ON o.w = u.w
        |  GROUP BY o.lang)
        |SELECT lang, n_words, n_subwords, n_pieces,
        |  (1000000 * n_subwords) // n_words AS bpe_ppm,
        |  (1000000 * n_pieces) // n_words AS uni_ppm,
        |  (1000000 * n_subwords) // n_words
        |    - (1000000 * n_pieces) // n_words AS delta_ppm
        |FROM per ORDER BY lang""".stripMargin,

    "g10_hits" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |  FROM tok WHERE len(toks) >= 2),
        |tf AS (
        |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram,
        |    count(*) AS tf
        |  FROM idx GROUP BY doc_id, gram),
        |dfreq AS (
        |  SELECT gram, count(*) AS df FROM tf
        |  GROUP BY gram HAVING count(*) BETWEEN 2 AND 25),
        |p AS (SELECT tf.doc_id, tf.gram FROM tf JOIN dfreq USING (gram)),
        |edges AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |a1 AS (SELECT doc_b AS doc_id, CAST(count(*) AS BIGINT) AS a
        |       FROM edges GROUP BY doc_b),
        |h1 AS (SELECT e.doc_a AS doc_id, CAST(sum(a1.a) AS BIGINT) AS h
        |       FROM edges e JOIN a1 ON e.doc_b = a1.doc_id GROUP BY e.doc_a),
        |a2 AS (SELECT e.doc_b AS doc_id, CAST(sum(h1.h) AS BIGINT) AS a
        |       FROM edges e JOIN h1 ON e.doc_a = h1.doc_id GROUP BY e.doc_b),
        |h2 AS (SELECT e.doc_a AS doc_id, CAST(sum(a2.a) AS BIGINT) AS h
        |       FROM edges e JOIN a2 ON e.doc_b = a2.doc_id GROUP BY e.doc_a)
        |SELECT d.doc_id, CAST(coalesce(a2.a, 0) AS BIGINT) AS auth,
        |  CAST(coalesce(h2.h, 0) AS BIGINT) AS hub
        |FROM documents d
        |LEFT JOIN a2 ON d.doc_id = a2.doc_id
        |LEFT JOIN h2 ON d.doc_id = h2.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "x13_budget_waterfill" ->
      """WITH tok AS (
        |  SELECT lang,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS cap
        |      FROM tok GROUP BY lang),
        |t AS (SELECT CAST(sum(cap) AS BIGINT) AS total,
        |             CAST(count(*) AS BIGINT) AS k FROM c),
        |b AS (
        |  SELECT lang, cap, total // 2 AS budget, k,
        |    least(cap, (total // 2) // k) AS a1
        |  FROM c, t),
        |l AS (SELECT max(budget) - CAST(sum(a1) AS BIGINT) AS left1,
        |             CAST(sum(CASE WHEN cap > a1 THEN 1 ELSE 0 END)
        |               AS BIGINT) AS k2
        |      FROM b),
        |r AS (
        |  SELECT b.lang, b.cap, b.budget,
        |    b.a1 + CASE WHEN b.cap > b.a1
        |      THEN least(b.cap - b.a1, l.left1 // l.k2) ELSE 0 END AS alloc
        |  FROM b, l)
        |SELECT lang, cap, alloc,
        |  (SELECT max(budget) FROM r) - (SELECT CAST(sum(alloc) AS BIGINT)
        |    FROM r) AS residual
        |FROM r ORDER BY lang""".stripMargin,

    "s9_hard_negatives" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
        |    label AS qlabel
        |  FROM embeddings WHERE vec_id < 5),
        |c AS (
        |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv,
        |    label AS nlabel
        |  FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id, nlabel,
        |    list_dot_product(qv, cv) /
        |      (sqrt(list_dot_product(qv, qv)) *
        |       sqrt(list_dot_product(cv, cv))) AS sim
        |  FROM c CROSS JOIN q
        |  WHERE neighbor_id <> query_id AND nlabel <> qlabel),
        |rk AS (
        |  SELECT query_id, neighbor_id, nlabel, sim,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id, nlabel, sim
        |FROM rk WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "c11_char_decon" ->
      """WITH corpus AS (
        |  SELECT doc_id, lower(text) AS t FROM documents
        |  WHERE doc_id % 10 <> 7),
        |ev AS (
        |  SELECT lower(text) AS t FROM documents WHERE doc_id % 10 = 7),
        |evw AS (
        |  SELECT DISTINCT substring(t, i + 1, 40) AS g
        |  FROM (SELECT t, unnest(generate_series(0, length(t) - 40)) AS i
        |        FROM ev WHERE length(t) >= 40)),
        |sp AS (
        |  SELECT doc_id, i AS pos, substring(t, i + 1, 40) AS g
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(0, length(t) - 40)) AS i
        |        FROM corpus WHERE length(t) >= 40)),
        |cov AS (
        |  SELECT DISTINCT s.doc_id,
        |    unnest(generate_series(s.pos, s.pos + 39)) AS i
        |  FROM sp s JOIN evw ON s.g = evw.g),
        |ch AS (
        |  SELECT doc_id, t, regexp_extract_all(t, '(?s).') AS cs FROM corpus),
        |tp AS (
        |  SELECT doc_id, cs, unnest(generate_series(1, len(cs))) AS i
        |  FROM ch),
        |kept AS (
        |  SELECT tp.doc_id, tp.i, tp.cs[tp.i] AS c
        |  FROM tp LEFT JOIN cov
        |    ON tp.doc_id = cov.doc_id AND tp.i - 1 = cov.i
        |  WHERE cov.i IS NULL),
        |ka AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(c, '' ORDER BY i) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(length(t.t) AS BIGINT) AS n_chars,
        |  CAST(length(t.t) - coalesce(ka.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(ka.clean_text, '') AS clean_text
        |FROM corpus t LEFT JOIN ka ON t.doc_id = ka.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "c9_contam_spans" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS i
        |  FROM tok WHERE len(toks) >= 8),
        |g AS (
        |  SELECT doc_id, i AS pos, array_to_string(toks[i:i+7], ' ') AS g
        |  FROM idx),
        |ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 7)
        |SELECT g.doc_id, CAST(g.pos AS BIGINT) AS pos
        |FROM g JOIN ev USING (g)
        |WHERE g.doc_id % 10 <> 7
        |ORDER BY g.doc_id, g.pos""".stripMargin,

    "g12_degree_hist" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |  FROM tok WHERE len(toks) >= 2),
        |tf AS (
        |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram,
        |    count(*) AS tf
        |  FROM idx GROUP BY doc_id, gram),
        |dfreq AS (
        |  SELECT gram, count(*) AS df FROM tf
        |  GROUP BY gram HAVING count(*) BETWEEN 2 AND 25),
        |p AS (SELECT tf.doc_id, tf.gram FROM tf JOIN dfreq USING (gram)),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |und AS (
        |  SELECT doc_a AS v FROM pairs
        |  UNION ALL SELECT doc_b FROM pairs),
        |deg AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY v)
        |SELECT deg, CAST(count(*) AS BIGINT) AS n_vertices
        |FROM deg GROUP BY deg ORDER BY deg""".stripMargin,

    "g11_louvain_move" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |  FROM tok WHERE len(toks) >= 2),
        |tf AS (
        |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram,
        |    count(*) AS tf
        |  FROM idx GROUP BY doc_id, gram),
        |dfreq AS (
        |  SELECT gram, count(*) AS df FROM tf
        |  GROUP BY gram HAVING count(*) BETWEEN 2 AND 25),
        |p AS (SELECT tf.doc_id, tf.gram FROM tf JOIN dfreq USING (gram)),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |und AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |deg AS (
        |  SELECT doc_a AS v, CAST(count(*) AS BIGINT) AS deg
        |  FROM und GROUP BY doc_a),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
        |sc AS (
        |  SELECT und.doc_a AS v, und.doc_b AS u,
        |    2 * mm.m - dv.deg * du.deg AS score
        |  FROM und
        |  JOIN deg dv ON und.doc_a = dv.v
        |  JOIN deg du ON und.doc_b = du.v
        |  CROSS JOIN mm),
        |best AS (
        |  SELECT v, min({'ns': -score, 'u': u}) AS w FROM sc GROUP BY v),
        |bb AS (
        |  SELECT v, -struct_extract(w, 'ns') AS bs,
        |    struct_extract(w, 'u') AS bu
        |  FROM best)
        |SELECT d.doc_id,
        |  CAST(CASE WHEN bb.bs > 0 THEN bb.bu ELSE d.doc_id END AS BIGINT)
        |    AS comm,
        |  CAST(greatest(coalesce(bb.bs, 0), 0) AS BIGINT) AS gain_num
        |FROM documents d LEFT JOIN bb ON d.doc_id = bb.v
        |ORDER BY d.doc_id""".stripMargin,

    "g13_louvain_levels" -> g13LouvainOracle(levels = 2, moves = 2),

    "g7_modularity" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |  FROM tok WHERE len(toks) >= 2),
        |tf AS (
        |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram,
        |    count(*) AS tf
        |  FROM idx GROUP BY doc_id, gram),
        |dfreq AS (
        |  SELECT gram, count(*) AS df FROM tf
        |  GROUP BY gram HAVING count(*) BETWEEN 2 AND 25),
        |p AS (SELECT tf.doc_id, tf.gram FROM tf JOIN dfreq USING (gram)),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
        |lin AS (
        |  SELECT da.lang, CAST(count(*) AS BIGINT) AS l_in
        |  FROM pairs
        |  JOIN documents da ON pairs.doc_a = da.doc_id
        |  JOIN documents db ON pairs.doc_b = db.doc_id
        |  WHERE da.lang = db.lang
        |  GROUP BY da.lang),
        |deg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS deg FROM (
        |    SELECT doc_a AS doc_id FROM pairs
        |    UNION ALL SELECT doc_b FROM pairs)
        |  GROUP BY doc_id),
        |ds AS (
        |  SELECT d.lang, CAST(sum(deg.deg) AS BIGINT) AS d_sum
        |  FROM deg JOIN documents d USING (doc_id)
        |  GROUP BY d.lang)
        |SELECT ds.lang,
        |  coalesce(lin.l_in, 0) AS l_in,
        |  ds.d_sum,
        |  (1000000 * coalesce(lin.l_in, 0)) // mm.m AS in_ppm,
        |  (1000000 * ds.d_sum * ds.d_sum) // (4 * mm.m * mm.m) AS exp_ppm,
        |  (1000000 * coalesce(lin.l_in, 0)) // mm.m -
        |    (1000000 * ds.d_sum * ds.d_sum) // (4 * mm.m * mm.m)
        |    AS q_term_ppm
        |FROM ds LEFT JOIN lin ON ds.lang = lin.lang
        |CROSS JOIN mm ORDER BY ds.lang""".stripMargin,

    "p5_pad_waste" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |t AS (SELECT CAST(len(toks) AS BIGINT) AS ntok FROM tok
        |      WHERE len(toks) > 0),
        |b AS (SELECT ntok,
        |        greatest(CAST(32 AS BIGINT),
        |          CAST(power(2, length(bin(ntok - 1))) AS BIGINT)) AS cap
        |      FROM t)
        |SELECT cap, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  CAST(sum(cap - ntok) AS BIGINT) AS pad_tokens,
        |  (1000000 * CAST(sum(cap - ntok) AS BIGINT)) //
        |    (CAST(sum(ntok) AS BIGINT) + CAST(sum(cap - ntok) AS BIGINT))
        |    AS waste_ppm
        |FROM b GROUP BY cap ORDER BY cap""".stripMargin,

    "p4_chunk_overlap" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |t AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
        |      FROM tok WHERE len(toks) > 0),
        |st AS (
        |  SELECT doc_id, toks, n,
        |    unnest(generate_series(1, greatest(1, n - 16), 48)) AS start
        |  FROM t)
        |SELECT doc_id,
        |  (start - 1) // 48 AS chunk_no,
        |  CAST(start AS BIGINT) AS start,
        |  least(64, n - start + 1) AS chunk_len,
        |  md5(array_to_string(toks[start:start+63], ' ')) AS fp
        |FROM st ORDER BY doc_id, start""".stripMargin,

    "t23_readability" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |    x -> len(x) > 0)) AS BIGINT) AS n_tok,
        |  CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
        |    x -> len(regexp_replace(x, '[ \t\n\f\r]+', '', 'g')) > 0))
        |    AS BIGINT) AS n_sent,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiou]+'))
        |    AS BIGINT) AS n_vg,
        |  CASE WHEN len(list_filter(string_split_regex(text, '[.!?]+'),
        |    x -> len(regexp_replace(x, '[ \t\n\f\r]+', '', 'g')) > 0)) > 0
        |  THEN (1000000 * CAST(len(list_filter(
        |    string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |    x -> len(x) > 0)) AS BIGINT)) //
        |    CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
        |      x -> len(regexp_replace(x, '[ \t\n\f\r]+', '', 'g')) > 0))
        |      AS BIGINT)
        |  ELSE 0 END AS wps_ppm,
        |  CASE WHEN len(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |    x -> len(x) > 0)) > 0
        |  THEN (1000000 * CAST(len(regexp_extract_all(lower(text), '[aeiou]+'))
        |    AS BIGINT)) //
        |    CAST(len(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |      x -> len(x) > 0)) AS BIGINT)
        |  ELSE 0 END AS spw_ppm
        |FROM documents ORDER BY doc_id""".stripMargin,

    "v10_norm_hist" ->
      """WITH n AS (
        |  SELECT CAST(floor(sqrt(list_dot_product(
        |      CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) * 4)
        |    AS BIGINT) AS bin
        |  FROM embeddings)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n_vecs
        |FROM n GROUP BY bin ORDER BY bin""".stripMargin,

    "v9_pair_sim_hist" ->
      """WITH sample AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 128),
        |p AS (
        |  SELECT a.v AS va, b.v AS vb
        |  FROM sample a JOIN sample b ON a.vec_id < b.vec_id),
        |s AS (
        |  SELECT CAST(floor((list_dot_product(va, vb) /
        |      (sqrt(list_dot_product(va, va)) *
        |       sqrt(list_dot_product(vb, vb)))) * 10) AS BIGINT) AS bin
        |  FROM p)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM s GROUP BY bin ORDER BY bin""".stripMargin,

    "v8_centroid_drift" ->
      """WITH xb AS (
        |  SELECT label,
        |    unnest(generate_series(0, len(embedding) - 1)) AS pos,
        |    unnest(embedding) AS v
        |  FROM embeddings WHERE vec_id % 4 <> 0),
        |base AS (
        |  SELECT label, pos,
        |    CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
        |      / count(*) AS mb,
        |    CAST(count(*) AS BIGINT) AS nb
        |  FROM xb GROUP BY label, pos),
        |xn AS (
        |  SELECT label,
        |    unnest(generate_series(0, len(embedding) - 1)) AS pos,
        |    unnest(embedding) AS v
        |  FROM embeddings WHERE vec_id % 4 = 0),
        |nw AS (
        |  SELECT label, pos,
        |    CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
        |      / count(*) AS mn,
        |    CAST(count(*) AS BIGINT) AS nn
        |  FROM xn GROUP BY label, pos),
        |j AS (
        |  SELECT b.label, b.mb, n.mn, b.nb, n.nn
        |  FROM base b JOIN nw n ON b.label = n.label AND b.pos = n.pos)
        |SELECT label,
        |  CAST(max(nb) AS BIGINT) AS n_base,
        |  CAST(max(nn) AS BIGINT) AS n_new,
        |  CAST(sum(CAST(mb * mn AS DECIMAL(28,12))) AS DOUBLE) /
        |    (sqrt(CAST(sum(CAST(mb * mb AS DECIMAL(28,12))) AS DOUBLE)) *
        |     sqrt(CAST(sum(CAST(mn * mn AS DECIMAL(28,12))) AS DOUBLE)))
        |    AS cos_sim
        |FROM j GROUP BY label ORDER BY label""".stripMargin,

    "x12_source_cdf" ->
      """WITH counts AS (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY source, n_chars),
        |cum AS (
        |  SELECT source, n_chars,
        |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY n_chars)
        |      AS BIGINT) AS cum
        |  FROM counts),
        |tot AS (
        |  SELECT source, CAST(sum(cnt) AS BIGINT) AS n_src
        |  FROM counts GROUP BY source)
        |SELECT d.doc_id, d.source, d.n_chars,
        |  (1000000 * cum.cum) // tot.n_src AS cdf_ppm
        |FROM documents d
        |JOIN cum ON d.source = cum.source AND d.n_chars = cum.n_chars
        |JOIN tot ON d.source = tot.source
        |ORDER BY d.doc_id""".stripMargin,

    "e15_mad_outliers" ->
      """WITH e AS (SELECT user_id, event_id, value FROM events),
        |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |      FROM e GROUP BY user_id),
        |r1 AS (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY value, event_id) AS rn
        |  FROM e),
        |med AS (
        |  SELECT r1.user_id, r1.value AS med
        |  FROM r1 JOIN n USING (user_id)
        |  WHERE r1.rn = (n.n_events + 1) // 2),
        |dev AS (
        |  SELECT e.user_id, e.event_id, e.value, med.med,
        |    abs(e.value - med.med) AS adev
        |  FROM e JOIN med USING (user_id)),
        |r2 AS (
        |  SELECT user_id, adev,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY adev, event_id) AS rn
        |  FROM dev),
        |mad AS (
        |  SELECT r2.user_id, r2.adev AS mad
        |  FROM r2 JOIN n USING (user_id)
        |  WHERE r2.rn = (n.n_events + 1) // 2)
        |SELECT dev.user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  max(dev.med) AS med, max(mad.mad) AS mad,
        |  CAST(sum(CASE WHEN dev.adev > 3.0 * mad.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM dev JOIN mad USING (user_id)
        |GROUP BY dev.user_id ORDER BY dev.user_id""".stripMargin,

    "v7_truncation_recall" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |c AS (
        |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings),
        |fs AS (
        |  SELECT query_id, neighbor_id,
        |    list_dot_product(qv, cv) /
        |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
        |  FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
        |fr AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM fs),
        |ft AS (SELECT query_id, neighbor_id FROM fr WHERE rank <= 10),
        |ts AS (
        |  SELECT query_id, neighbor_id,
        |    list_dot_product(qv[1:16], cv[1:16]) /
        |      (sqrt(list_dot_product(qv[1:16], qv[1:16])) *
        |       sqrt(list_dot_product(cv[1:16], cv[1:16]))) AS sim
        |  FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
        |tr AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM ts),
        |tt AS (SELECT query_id, neighbor_id, 1 AS hit FROM tr WHERE rank <= 10)
        |SELECT ft.query_id,
        |  CAST(sum(coalesce(tt.hit, 0)) AS BIGINT) AS n_overlap,
        |  (1000000 * CAST(sum(coalesce(tt.hit, 0)) AS BIGINT)) // 10
        |    AS recall_ppm
        |FROM ft LEFT JOIN tt USING (query_id, neighbor_id)
        |GROUP BY ft.query_id ORDER BY ft.query_id""".stripMargin,

    "k9_bloom" ->
      """WITH fp AS (SELECT source, md5(text) AS h FROM documents),
        |pos AS (
        |  SELECT source,
        |    CAST(CAST('0x' || substr(h, 1, 8) AS BIGINT) % 4096 AS INTEGER)
        |      AS pos FROM fp
        |  UNION ALL
        |  SELECT source,
        |    CAST(CAST('0x' || substr(h, 9, 8) AS BIGINT) % 4096 AS INTEGER)
        |    FROM fp
        |  UNION ALL
        |  SELECT source,
        |    CAST(CAST('0x' || substr(h, 17, 8) AS BIGINT) % 4096 AS INTEGER)
        |    FROM fp),
        |per AS (SELECT DISTINCT source, pos FROM pos),
        |allp AS (SELECT DISTINCT '__all__' AS source, pos FROM pos)
        |SELECT source, pos FROM per
        |UNION ALL SELECT source, pos FROM allp
        |ORDER BY source, pos""".stripMargin,

    "g6_ktruss" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |  FROM tok WHERE len(toks) >= 2),
        |tf AS (
        |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram,
        |    count(*) AS tf
        |  FROM idx GROUP BY doc_id, gram),
        |dfreq AS (
        |  SELECT gram, count(*) AS df FROM tf
        |  GROUP BY gram HAVING count(*) BETWEEN 2 AND 25),
        |p AS (SELECT tf.doc_id, tf.gram FROM tf JOIN dfreq USING (gram)),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |t1 AS (
        |  SELECT e1.doc_a AS u, e1.doc_b AS v, e2.doc_b AS w
        |  FROM pairs e1 JOIN pairs e2
        |    ON e1.doc_a = e2.doc_a AND e1.doc_b < e2.doc_b
        |  WHERE EXISTS (SELECT 1 FROM pairs e3
        |                WHERE e3.doc_a = e1.doc_b AND e3.doc_b = e2.doc_b)),
        |c1 AS (
        |  SELECT u AS a, v AS b FROM t1
        |  UNION ALL SELECT u, w FROM t1
        |  UNION ALL SELECT v, w FROM t1),
        |s1 AS (
        |  SELECT p2.doc_a, p2.doc_b, count(c1.a) AS support
        |  FROM pairs p2 LEFT JOIN c1 ON p2.doc_a = c1.a AND p2.doc_b = c1.b
        |  GROUP BY p2.doc_a, p2.doc_b),
        |e1r AS (SELECT doc_a, doc_b FROM s1 WHERE support >= 118),
        |t2 AS (
        |  SELECT e1.doc_a AS u, e1.doc_b AS v, e2.doc_b AS w
        |  FROM e1r e1 JOIN e1r e2
        |    ON e1.doc_a = e2.doc_a AND e1.doc_b < e2.doc_b
        |  WHERE EXISTS (SELECT 1 FROM e1r e3
        |                WHERE e3.doc_a = e1.doc_b AND e3.doc_b = e2.doc_b)),
        |c2 AS (
        |  SELECT u AS a, v AS b FROM t2
        |  UNION ALL SELECT u, w FROM t2
        |  UNION ALL SELECT v, w FROM t2),
        |s2 AS (
        |  SELECT p2.doc_a, p2.doc_b, count(c2.a) AS support
        |  FROM e1r p2 LEFT JOIN c2 ON p2.doc_a = c2.a AND p2.doc_b = c2.b
        |  GROUP BY p2.doc_a, p2.doc_b)
        |SELECT doc_a, doc_b, CAST(support AS BIGINT) AS support
        |FROM s2 WHERE support >= 118
        |ORDER BY doc_a, doc_b""".stripMargin,

    "t21_rake" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |tk AS (
        |  SELECT doc_id, i AS pos, toks[i] AS w,
        |    CASE WHEN list_contains(
        |      ['the','a','of','and','to','in','is','it','that','for'],
        |      toks[i]) THEN 1 ELSE 0 END AS is_stop
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks))) AS i FROM tok)),
        |runs AS (
        |  SELECT doc_id, pos, w, is_stop,
        |    sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
        |  FROM tk),
        |mem AS (SELECT doc_id, run_id, pos, w FROM runs WHERE is_stop = 0),
        |ph AS (
        |  SELECT doc_id, run_id, CAST(count(*) AS BIGINT) AS phrase_len,
        |    string_agg(w, ' ' ORDER BY pos) AS phrase
        |  FROM mem GROUP BY doc_id, run_id),
        |m2 AS (
        |  SELECT mem.doc_id, mem.run_id, mem.w, ph.phrase_len, ph.phrase
        |  FROM mem JOIN ph USING (doc_id, run_id)),
        |ws AS (
        |  SELECT doc_id, w,
        |    (1000000 * CAST(sum(phrase_len) AS BIGINT)) // count(*)
        |      AS wscore_ppm
        |  FROM m2 GROUP BY doc_id, w),
        |psc AS (
        |  SELECT m2.doc_id, m2.run_id, m2.phrase,
        |    CAST(sum(ws.wscore_ppm) AS BIGINT) AS score_ppm
        |  FROM m2 JOIN ws ON m2.doc_id = ws.doc_id AND m2.w = ws.w
        |  GROUP BY m2.doc_id, m2.run_id, m2.phrase),
        |pd AS (SELECT DISTINCT doc_id, phrase, score_ppm FROM psc),
        |rk AS (
        |  SELECT doc_id, phrase, score_ppm,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score_ppm DESC, phrase ASC) AS rank
        |  FROM pd)
        |SELECT doc_id, rank, phrase, score_ppm FROM rk
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "u11_byte_merges" -> u11ByteMergeOracle(rounds = 2),

    "u3_bpe_distributed" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> len(x) > 0)) AS w
        |  FROM documents WHERE lang = 'en'),
        |wf AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM tok
        |       WHERE NOT contains(w, chr(31)) GROUP BY w),
        |s0 AS (SELECT w, f, regexp_extract_all(w, '.') || ['</w>'] AS syms FROM wf),
        |pc1 AS (
        |  SELECT syms[i] AS a, syms[i+1] AS b, CAST(sum(f) AS BIGINT) AS cnt
        |  FROM (SELECT f, syms, unnest(generate_series(1, len(syms)-1)) AS i FROM s0)
        |  GROUP BY a, b),
        |top1 AS (SELECT a, b, cnt FROM pc1 ORDER BY cnt DESC, a, b LIMIT 1),
        |s1 AS (
        |  SELECT s0.w, s0.f,
        |    string_split(
        |      list_reduce(s0.syms, (acc, x) -> CASE
        |        WHEN (acc = t.a OR ends_with(acc, chr(31) || t.a)) AND x = t.b
        |        THEN acc || t.b ELSE acc || chr(31) || x END),
        |      chr(31)) AS syms
        |  FROM s0 CROSS JOIN top1 t),
        |n1 AS (SELECT CAST(sum(f * len(syms)) AS BIGINT) AS n_syms FROM s1),
        |pc2 AS (
        |  SELECT syms[i] AS a, syms[i+1] AS b, CAST(sum(f) AS BIGINT) AS cnt
        |  FROM (SELECT f, syms, unnest(generate_series(1, len(syms)-1)) AS i FROM s1)
        |  GROUP BY a, b),
        |top2 AS (SELECT a, b, cnt FROM pc2 ORDER BY cnt DESC, a, b LIMIT 1),
        |s2 AS (
        |  SELECT s1.w, s1.f,
        |    string_split(
        |      list_reduce(s1.syms, (acc, x) -> CASE
        |        WHEN (acc = t.a OR ends_with(acc, chr(31) || t.a)) AND x = t.b
        |        THEN acc || t.b ELSE acc || chr(31) || x END),
        |      chr(31)) AS syms
        |  FROM s1 CROSS JOIN top2 t),
        |n2 AS (SELECT CAST(sum(f * len(syms)) AS BIGINT) AS n_syms FROM s2)
        |SELECT CAST(1 AS INT) AS round, t.a, t.b, t.cnt, n1.n_syms FROM top1 t CROSS JOIN n1
        |UNION ALL
        |SELECT CAST(2 AS INT), t.a, t.b, t.cnt, n2.n_syms FROM top2 t CROSS JOIN n2
        |ORDER BY round""".stripMargin,

    "u2_stupid_backoff" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |uni AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS cu FROM (
        |    SELECT unnest(toks) AS w FROM tok)
        |  GROUP BY w HAVING count(*) >= 2),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_total FROM (
        |    SELECT unnest(toks) AS w FROM tok)),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |  FROM tok WHERE len(toks) >= 2),
        |occ AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2 FROM idx),
        |big AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM occ
        |  GROUP BY w1, w2 HAVING count(*) >= 2),
        |sc AS (
        |  SELECT occ.doc_id,
        |    CASE
        |      WHEN big.cb IS NOT NULL THEN (1000000 * big.cb) // u1.cu
        |      WHEN u2.cu IS NOT NULL
        |        THEN (2 * 1000000 * u2.cu) // (5 * tot.n_total)
        |      ELSE 0 END AS sc
        |  FROM occ
        |  LEFT JOIN big ON occ.w1 = big.w1 AND occ.w2 = big.w2
        |  LEFT JOIN uni u1 ON occ.w1 = u1.w
        |  LEFT JOIN uni u2 ON occ.w2 = u2.w
        |  CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(sc) AS BIGINT) AS score_sum,
        |  CAST(sum(sc) AS BIGINT) // count(*) AS mean_ppm
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t22_sentences" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
        |    x -> len(regexp_replace(x, '[ \t\n\f\r]+', '', 'g')) > 0))
        |    AS BIGINT) AS n_sent,
        |  CAST(len(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |    x -> len(x) > 0)) AS BIGINT) AS n_tok,
        |  CASE WHEN len(list_filter(string_split_regex(text, '[.!?]+'),
        |    x -> len(regexp_replace(x, '[ \t\n\f\r]+', '', 'g')) > 0)) > 0
        |  THEN (1000000 * CAST(len(list_filter(
        |    string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |    x -> len(x) > 0)) AS BIGINT)) //
        |    CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
        |      x -> len(regexp_replace(x, '[ \t\n\f\r]+', '', 'g')) > 0))
        |      AS BIGINT)
        |  ELSE 0 END AS tok_per_sent_ppm
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x11_dataset_card" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source, text,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n_tok
        |  FROM documents),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |    CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts
        |  FROM t)
        |SELECT stat, value FROM (
        |  SELECT 'n_docs' AS stat, n_docs AS value FROM a
        |  UNION ALL SELECT 'n_tokens', n_tokens FROM a
        |  UNION ALL SELECT 'n_langs', n_langs FROM a
        |  UNION ALL SELECT 'n_sources', n_sources FROM a
        |  UNION ALL SELECT 'dup_doc_ppm',
        |    (1000000 * (n_docs - n_distinct_texts)) // n_docs FROM a
        |  UNION ALL SELECT 'mean_doc_tokens_ppm',
        |    (1000000 * n_tokens) // n_docs FROM a)
        |ORDER BY stat""".stripMargin
  )
}
