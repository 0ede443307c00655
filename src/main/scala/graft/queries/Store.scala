package graft.queries

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.operators.Dedup

/** One persisted serving store: its name, the stores its build reads
  * (`deps`, by reference — [[Store.schedule]] derives the fit order from
  * them) and how to open it.
  *
  * `open` runs at most once per JVM and sf dir and returns the reader
  * every access applies to its own session: a published store's path or
  * catalog table, or a driver-side model. [[Store.memo]] only installs a
  * cheap lazy holder per store, so the Spark job runs under the holder's
  * lock, not the map's bin lock, and first builders of different stores
  * never serialize behind one another. A build that throws leaves its
  * holder unset, so the next access builds again.
  *
  * Contract (documented, not fingerprinted): one JVM serves an sf dir at
  * a time, and the sf dir's data is immutable while the JVM lives.
  * Regenerating the corpus under a live JVM would serve stale stores —
  * restart the JVM (or delete the models dir) after a data refresh. Every
  * store is a deterministic function of the corpus, so a cold cache
  * rebuilds identical bytes.
  */
final class Store[T](val name: String, val deps: Seq[Store[_]])(
    open: (SparkSession, String) => SparkSession => T) {
  // a store can only name stores that already exist, so the graph has
  // no cycle; a null here is a dependency declared later in its object
  require(!deps.contains(null), s"store $name is declared before one of its dependencies")

  def apply(s: SparkSession, dir: String): T =
    Store.memo.computeIfAbsent(s"$dir#$name", _ => new Store.Holder(() => open(s, dir)))
      .reader.asInstanceOf[SparkSession => T](s)
}

object Store {
  private final class Holder(open: () => SparkSession => Any) {
    lazy val reader: SparkSession => Any = open()
  }
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, Holder]()

  /** A store whose value lives on the driver: `build`'s result, kept for
    * the JVM's lifetime.
    */
  def value[T](name: String, deps: Store[_]*)(build: (SparkSession, String) => T): Store[T] =
    new Store[T](name, deps)({ (s, dir) => val v = build(s, dir); _ => v })

  /** Publishes the directory `path` by rename: `write` fills a fresh
    * `<path>.tmp-<uuid>` sibling, which then replaces `path`. A write
    * that throws removes its tmp directory and leaves `path` as it was,
    * so no reader (the DuckDB oracle, the next JVM) sees a store missing
    * or half-written. Returns `path`.
    */
  def publish(s: SparkSession, path: String)(write: String => Unit): String = {
    val tmp = s"$path.tmp-${java.util.UUID.randomUUID()}"
    val fp = new Path(path)
    val tp = new Path(tmp)
    val fs = fp.getFileSystem(s.sparkContext.hadoopConfiguration)
    try write(tmp)
    catch {
      case e: Throwable =>
        try fs.delete(tp, true) catch { case NonFatal(_) => () }
        throw e
    }
    // Hadoop's delete and rename report failure by their boolean, and a
    // rename onto an existing directory moves the tmp dir INSIDE it,
    // after which a recursive read would merge stale and fresh files
    def fail(what: String): Nothing = {
      fs.delete(tp, true)
      throw new java.io.IOException(s"publish: $what")
    }
    if (fs.exists(fp) && !fs.delete(fp, true)) fail(s"could not replace $path")
    if (!fs.rename(tp, fp)) fail(s"rename $tmp -> $path failed")
    path
  }

  /** The fit order: longest dependency chain first, ties in `stores`'
    * order. A chain's head holds its pool thread while each link builds
    * behind the link's holder, so starting the longest chains first
    * keeps them off the end of the pass while the other threads fill
    * with independent builds.
    */
  def schedule(stores: Seq[Store[_]]): Seq[Store[_]] = {
    def chain(st: Store[_]): Int = 1 + st.deps.map(chain).foldLeft(0)(math.max)
    stores.sortBy(st => -chain(st)) // stable: ties keep order
  }

  /** Builds `stores` on a pool of 8 in [[schedule]] order and returns
    * each store's wall seconds inside the pooled pass (their sum exceeds
    * the pass's wall under overlap). A store's clock starts once its
    * declared dependencies are built, so it does not count the time it
    * waits on them. A build that throws a non-fatal error, its own or a
    * dependency's, reports -1 against its own name (and on stderr) while
    * its siblings keep building; its holder retries when a consumer first
    * reads it. An OOM still kills the run.
    */
  def prebuild(s: SparkSession, dir: String, stores: Seq[Store[_]]): Seq[(String, Double)] = {
    def timed(st: Store[_]): (String, Double) =
      try {
        st.deps.foreach(_(s, dir))
        val t0 = System.nanoTime()
        st(s, dir)
        st.name -> math.rint((System.nanoTime() - t0) / 1e9 * 1000) / 1000
      } catch {
        case NonFatal(e) =>
          System.err.println(s"bench: store build '${st.name}' FAILED " +
            s"(its consumers will fit inline): ${e.getClass.getName}: ${e.getMessage}")
          st.name -> -1.0
      }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futs = schedule(stores).map(st => scala.concurrent.Future(timed(st))(ec))
      futs.map(f => scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
    } finally {
      // a failed fit must not leave siblings writing the models dir on
      // non-daemon threads, nor scratch persists in executor cache:
      // cancel, drain, then release — on success this is just the
      // normal shutdown + scratch release
      pool.shutdownNow()
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
      Dedup.unpersistAll() // builds may persist scratch frames; serving must not inherit them
    }
  }
}
