package graft

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scratch-directory allocation + JVM-exit cleanup, and the one per-JVM
  * artifact memo, shared by SparkEntry's materialized caches and
  * EventStream's chunked stream staging.
  *
  * Location is deployment-configurable: `spark.graft.scratch` if set, else a
  * `graft_scratch/` area under `spark.sql.warehouse.dir` — the
  * cluster-visible warehouse — NEVER driver-local java.io.tmpdir, which
  * executors on a real cluster cannot read. Every allocation is registered
  * for recursive delete at JVM exit through the Hadoop FileSystem of its
  * scheme, so repeated local runs do not leak directories.
  *
  * The memo holds every artifact several queries share (customer count,
  * weak/SCC labels, BFS distances, MinHash signatures, the kNN graph, IO
  * sinks, stream staging) in ONE map keyed `kind|sf-dir|params`, so
  * [[reset]] and [[size]] cover every kind by construction — a new kind
  * cannot be left out of the bench solos' reset.
  */
private[graft] object Scratch {

  def dir(s: SparkSession, prefix: String): String = {
    val base = s.conf.getOption("spark.graft.scratch")
      .getOrElse(s.conf.get("spark.sql.warehouse.dir") + "/graft_scratch")
    val out = s"$base/$prefix${java.util.UUID.randomUUID().toString.take(8)}"
    register(out, s.sparkContext.hadoopConfiguration)
    out
  }

  private val registered =
    scala.collection.concurrent.TrieMap.empty[String, Configuration]
  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      registered.foreach { case (p, conf) => delete(p, conf) }))

  def register(path: String, conf: Configuration): Unit = {
    hookInstalled
    registered.put(path, conf)
  }

  private[graft] def isRegistered(path: String): Boolean =
    registered.contains(path)

  /** Recursive delete through the path's FileSystem; a symlink inside is
    * removed as a link, its target is left alone.
    */
  private[graft] def delete(path: String, conf: Configuration): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(conf).delete(p, true)
    } catch { case NonFatal(_) => () }

  // ---------------------------------------------------------------- memo

  private val memo = scala.collection.concurrent.TrieMap.empty[String, Any]

  /** `build` evaluated once per (JVM, kind, sf dir, params). */
  def memoValue[T](kind: String, sfDir: String, params: String = "")(
      build: => T): T =
    memo.getOrElseUpdate(s"$kind|$sfDir|$params", build).asInstanceOf[T]

  /** A scratch directory (prefix `kind_`) that `fill` writes once per
    * (JVM, kind, sf dir, params); later calls return the filled path.
    */
  def memoDir(s: SparkSession, kind: String, sfDir: String, params: String = "")(
      fill: String => Unit): String =
    memoValue(kind, sfDir, params) {
      val out = dir(s, kind + "_")
      fill(out)
      out
    }

  /** `build` written to parquet once per (JVM, kind, sf dir) and read
    * back on every call. Parquet, not cache/checkpoint, so per-query
    * unpersist cannot invalidate it; on a real cluster this is the table
    * a pipeline would keep in the warehouse.
    */
  def memoTable(s: SparkSession, kind: String, sfDir: String)(
      build: => DataFrame): DataFrame =
    s.read.parquet(memoDir(s, kind, sfDir)(out =>
      build.write.mode("overwrite").parquet(out)))

  /** Forget every memoized artifact; the next consumer of each kind
    * rebuilds it. Old scratch dirs stay on disk until JVM-exit cleanup.
    */
  def reset(): Unit = memo.clear()

  def size: Int = memo.size
}
