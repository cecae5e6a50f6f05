package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One benchmark run in one JVM: session set-up, an untimed warm-up query,
  * an untimed pass over the workload that warms the JIT, then closed-loop
  * cycles over the workload (one query at a time, memoized artifacts reset
  * before each cycle, each cycle a seeded permutation) for about
  * `--seconds`. `wall_s` is the median over cycles of the summed query time
  * and `query_geomean_s` the median over cycles of the geometric mean query
  * time; on a mirrored workload both are taken over pairs of cycles.
  *
  * With `--trace 1` traced and untraced cycles alternate, so the same run
  * measures the per-layer split and what tracing costs.
  *
  * Prints `PERFBENCH ready {...}` once the first set-up is done,
  * `PERFBENCH setup {...}` after each repeated set-up and
  * `PERFBENCH result {...}` at the end, each on one stdout line.
  *
  * {{{
  * Runner --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --data <sf dir> --references <tsv> --scratch <dir> [--spans <jsonl>]
  * }}}
  */
object Runner {

  private final case class Opts(workload: Workload, seed: Long, seconds: Double,
                                trace: Boolean, data: String, references: String,
                                scratch: String, spans: Option[String])

  private final case class Sample(query: String, buildS: Double, actionS: Double,
                                  ok: Boolean) {
    def s: Double = buildS + actionS
  }

  private final case class Cycle(traced: Boolean, samples: Seq[Sample], memo: Int) {
    def wallS: Double = samples.map(_.s).sum
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def emit(kind: String, fields: Map[String, Any]): Unit = {
    println(s"PERFBENCH $kind ${json.writeValueAsString(fields)}")
    Console.flush()
  }

  /** Set-ups per run: the first includes JVM launch (timed by the caller),
    * the others stop the session and set up again in the same JVM.
    */
  private val SetUps = 3

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors
    var spark = setUp(cores, o)
    emit("ready", Map("workload" -> o.workload.name))
    for (_ <- 1 until SetUps) {
      spark.stop()
      val t0 = System.nanoTime()
      spark = setUp(cores, o)
      emit("setup", Map("s" -> (System.nanoTime() - t0) / 1e9))
    }
    try run(spark, cores, o) finally spark.stop()
  }

  /** A ready session: created, then warmed up, untimed, by a query outside
    * the workload's timed list, with memoized artifacts cleared after it.
    */
  private def setUp(cores: Int, o: Opts): SparkSession = {
    val spark = session(cores, o.scratch)
    val w = o.workload
    materialize(spark, w, outDir(o), w.warmup, SparkEntry.queries(w.warmup)(spark, o.data))
    deleteTree(outDir(o))
    SparkEntry.resetMemoizedArtifacts()
    reclaim(spark)
    spark
  }

  private def outDir(o: Opts): Path = Paths.get(o.scratch, "out")

  /** Materializes `df` the workload's way. Returns when the timed part ended
    * and the fingerprint; reading a written result back is untimed.
    */
  private def materialize(spark: SparkSession, w: Workload, outDir: Path, q: String,
                          df: DataFrame): (Long, Fingerprint) =
    if (w.write) {
      val out = outDir.resolve(q).toString
      df.coalesce(1).write.mode("overwrite").parquet(out)
      val end = System.nanoTime()
      spark.sparkContext.setLocalProperty(Trace.SpanProperty, null)
      (end, Fingerprint.of(spark.read.parquet(out)))
    } else {
      val fp = Fingerprint.of(df)
      (System.nanoTime(), fp)
    }

  private def parse(args: Array[String]): Opts = {
    def go(rest: List[String], acc: Map[String, String]): Map[String, String] = rest match {
      case k :: v :: tail if k.startsWith("--") => go(tail, acc + (k -> v))
      case Nil => acc
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    val m = go(args.toList, Map.empty)
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Opts(Workloads.byName(need("--workload")), need("--seed").toLong,
      need("--seconds").toDouble, need("--trace") == "1", need("--data"),
      need("--references"), need("--scratch"), m.get("--spans"))
  }

  /** The session `graft.Bench` / `graft.Verify` use, at `local[cores]`, with
    * the warehouse (and so the program's scratch artifacts) in `scratch`.
    */
  def session(cores: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", s"$scratch/local"))
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Drops the blocks a query left cached and collects garbage, as
    * `graft.Verify` does between queries, so every query starts from a heap
    * that holds only live data.
    */
  private def reclaim(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally all.close()
    }

  /** Largest heap occupancy seen right after any collection while armed,
    * summed over the heap memory pools.
    */
  private final class HeapWatch {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val peak = new AtomicLong(0)
    @volatile var armed = false
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peak.accumulateAndGet(used, (a, b) => math.max(a, b))
        }, null, null)
      case _ => ()
    }
    def peakMb: Double = peak.get / (1024.0 * 1024.0)
  }

  private def run(spark: SparkSession, cores: Int, o: Opts): Unit = {
    val w = o.workload
    val refs = Fingerprint.parse(Files.readAllLines(Paths.get(o.references)).asScala.toSeq)
    val unreferenced = w.queries.filterNot(refs.contains)
    require(unreferenced.isEmpty, s"no reference fingerprint for ${unreferenced.mkString(", ")}")
    val sc = spark.sparkContext
    val outDir = Runner.outDir(o)
    val heap = new HeapWatch
    val trace = new Trace(spark)
    var errors = Vector.empty[String]

    def runQuery(q: String, traced: Boolean, parent: Long): Sample = {
      val qId = trace.newSpanId(); val buildId = trace.newSpanId(); val actionId = trace.newSpanId()
      val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      var ms1 = ms0; var t1 = t0; var t2 = t0
      val ok = try {
        sc.setLocalProperty(Trace.SpanProperty, buildId.toString)
        val df = SparkEntry.queries(q)(spark, o.data)
        ms1 = System.currentTimeMillis(); t1 = System.nanoTime()
        sc.setLocalProperty(Trace.SpanProperty, actionId.toString)
        val (end, fp) = materialize(spark, w, outDir, q, df)
        t2 = end
        val good = refs(q) == fp
        if (!good) errors :+= s"$q: fingerprint $fp, reference ${refs(q)}"
        good
      } catch {
        case NonFatal(e) =>
          if (t2 == t0) t2 = System.nanoTime()
          errors :+= s"$q: ${e.toString.take(300)}"
          false
      } finally sc.setLocalProperty(Trace.SpanProperty, null)
      if (traced) {
        val ms2 = ms1 + (t2 - t1) / 1000000L
        trace.record(Span(qId, parent, "query", q, ms0, ms2))
        trace.record(Span(buildId, qId, "build", q, ms0, ms1))
        trace.record(Span(actionId, qId, "action", q, ms1, ms2))
      }
      deleteTree(outDir.resolve(q))
      reclaim(spark)
      Sample(q, (t1 - t0) / 1e9, (t2 - t1) / 1e9, ok)
    }

    val orders = Workloads.orders(w, o.seed)
    def runCycle(order: Seq[String], traced: Boolean): Cycle = {
      SparkEntry.resetMemoizedArtifacts()
      if (traced) trace.install()
      val runId = trace.newSpanId()
      val ms0 = System.currentTimeMillis()
      val samples = order.map(q => runQuery(q, traced, runId))
      if (traced) {
        trace.record(Span(runId, -1, "run", w.name, ms0, System.currentTimeMillis()))
        trace.uninstall()
      }
      Cycle(traced, samples, SparkEntry.memoizedArtifactCount)
    }

    // One untimed pass over the workload first (a mirrored pair, on a
    // mirrored workload): a query's first run in a JVM is dominated by class
    // loading and JIT compilation, which swing far more from run to run than
    // the query itself. The heap watch covers it too.
    //
    // Then whole cycles. On a mirrored workload they come in pairs that take
    // one seeded order forwards and backwards, so every query stands as often
    // early as late (which of the memo pair builds the shared artifact, and
    // so which of the two is slow, depends on the order). A traced run takes
    // each order once traced and once not, so tracing costs compare on the
    // same order. The first cycle (or pair) always runs; another starts while
    // one more like the last would end nearer the deadline than stopping now
    // does.
    heap.armed = true
    val first = orders.next()
    val warmUp = runCycle(first, traced = false) +:
      (if (w.mirrored) Seq(runCycle(first.reverse, traced = false)) else Nil)
    val cycles = ArrayBuffer.empty[Cycle]
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var last = 0L
    while (cycles.isEmpty || System.nanoTime() + last / 2 <= deadline) {
      val t = System.nanoTime()
      val order = orders.next()
      if (o.trace) cycles += runCycle(order, traced = true)
      cycles += runCycle(order, traced = false)
      if (!o.trace && w.mirrored) cycles += runCycle(order.reverse, traced = false)
      last = System.nanoTime() - t
    }
    heap.armed = false

    // The end-to-end numbers are medians over the untraced cycles (or
    // mirrored pairs). The per-query one is the geometric mean: a median of a
    // few unlike queries falls between the fast and the slow ones and jumps
    // with them.
    val timed = cycles.filterNot(_.traced)
    val perGroup = if (!o.trace && w.mirrored) 2 else 1
    val groups = timed.grouped(perGroup).map(_.flatMap(_.samples).map(_.s).toSeq).toSeq
    val samples = timed.flatMap(_.samples)
    val p80 = Stats.percentile(samples.map(_.s).toSeq, 0.8)
    val all = (warmUp ++ cycles).flatMap(_.samples)
    val base = Map[String, Any](
      "workload" -> w.name, "seed" -> o.seed, "cores" -> cores,
      "jvm" -> System.getProperty("java.runtime.version"), "spark" -> spark.version,
      "cycles" -> cycles.size, "samples" -> samples.size,
      "attempted" -> all.size, "failed" -> all.count(!_.ok), "errors" -> errors,
      "wall_s" -> Stats.median(groups.map(_.sum / perGroup)),
      "query_geomean_s" -> Stats.median(groups.map(Stats.geomean)),
      "query_p50_s" -> Stats.median(groups.map(Stats.median)), "query_p50_n" -> samples.size,
      "query_p80_s" -> p80.value, "query_p80_beyond" -> p80.beyond,
      "peak_live_heap_mb" -> heap.peakMb, "cycle_wall_s" -> timed.map(_.wallS),
      "query_samples_s" -> w.queries.map(q => q -> samples.filter(_.query == q).map(_.s)).toMap)
    emit("result", if (o.trace) base ++ layers(cycles.toSeq, trace, cores, o.spans) else base)
  }

  /** Per-layer metrics of the traced cycles, each a mean per traced cycle. */
  private def layers(cycles: Seq[Cycle], trace: Trace, cores: Int,
                     spansOut: Option[String]): Map[String, Any] = {
    val traced = cycles.filter(_.traced)
    val untraced = cycles.filterNot(_.traced)
    val n = traced.size.toDouble
    val spans = trace.allSpans
    val self = Trace.selfTimes(spans)
    val selfByKind = self.groupBy(_._1.kind).map { case (k, v) => k -> v.map(_._2).sum / 1e3 / n }
    val wall = traced.map(_.wallS).sum / n
    val counters = trace.counters.map { case (k, v) => k -> v / n }
    spansOut.foreach { f =>
      val lines = self.map { case (s, selfMs) =>
        json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
          "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> selfMs))
      }
      Files.createDirectories(Paths.get(f).toAbsolutePath.getParent)
      Files.write(Paths.get(f), lines.asJava)
    }
    Map("layers" -> (counters ++ Map(
      "SparkEntry.build_s" -> traced.flatMap(_.samples).map(_.buildS).sum / n,
      "action.s" -> traced.flatMap(_.samples).map(_.actionS).sum / n,
      "SparkEntry.memo_artifacts" -> traced.map(_.memo).sum / n,
      "driver.nojob_s" -> (selfByKind.getOrElse("build", 0.0) + selfByKind.getOrElse("action", 0.0)),
      "executor.core_util" -> counters("executor.run_s") / (cores * wall),
      "trace.overhead_frac" -> (wall / (untraced.map(_.wallS).sum / untraced.size) - 1))),
      "self_s_by_span_kind" -> selfByKind, "traced_wall_s" -> wall)
  }
}
