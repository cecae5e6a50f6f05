package graft.perfbench

import graft.{GraphAlgorithms, NetworkFrame}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("percentile interpolates and reports its sample count and tail") {
    val odd = Stats.percentile(Seq(5.0, 1.0, 3.0), 0.5)
    assert(odd == Percentile(0.5, 3.0, 3, 1))
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    val xs = (1 to 51).map(_.toDouble)
    val p80 = Stats.percentile(xs, 0.8)
    assert(p80.value == 41.0 && p80.n == 51 && p80.beyond == 10)
    assert(Stats.percentile(Seq(7.0), 0.8) == Percentile(0.8, 7.0, 1, 0))
    intercept[IllegalArgumentException](Stats.percentile(Nil, 0.5))
  }

  test("geometric mean of positive samples") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
    assert(Stats.geomean(Seq(2.5)) == 2.5)
    intercept[IllegalArgumentException](Stats.geomean(Nil))
    intercept[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
  }

  test("covered counts the union of intervals clipped to a window") {
    assert(Stats.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25)
    assert(Stats.covered(Seq((0L, 10L), (5L, 15L)), 8, 12) == 4)
    assert(Stats.covered(Nil, 0, 10) == 0)
    val spans = Seq(Span(1, -1, "query", "q", 0, 100), Span(2, 1, "job", "j1", 10, 40),
      Span(3, 1, "job", "j2", 30, 60), Span(4, 2, "stage", "s", 10, 20))
    assert(Trace.selfTimes(spans).map { case (s, self) => s.id -> self }.toMap ==
      Map(1L -> 50L, 2L -> 20L, 3L -> 30L, 4L -> 10L))
  }

  test("the seeded permutation is deterministic per seed and covers the list") {
    val w = Workloads.frameWrite
    val a = Workloads.orders(w, 7).take(3).toList
    assert(a == Workloads.orders(w, 7).take(3).toList)
    assert(a != Workloads.orders(w, 8).take(3).toList)
    a.foreach(order => assert(order.sorted == w.queries.sorted))
    assert(a.distinct.size > 1, "successive cycles should differ in order")
  }

  test("fingerprint ignores row order and partitioning but not values") {
    val df = spark.range(0, 5000).select(col("id"), (col("id") % 7).as("k"),
      concat(lit("v"), col("id").cast("string")).as("s"), (col("id") / 3.0).as("d"))
    val fp = Fingerprint.of(df)
    assert(fp.rows == 5000)
    assert(Fingerprint.of(df.orderBy(col("id").desc)) == fp)
    assert(Fingerprint.of(df.repartition(7, col("k"))) == fp)
    assert(Fingerprint.of(df.coalesce(1)) == fp)
    assert(Fingerprint.of(df.select(df.columns.reverse.map(col): _*)) != fp,
      "column order is part of the row hash")
    assert(Fingerprint.of(df.withColumn("k", when(col("id") === 42, 8).otherwise(col("k")))) != fp)
    assert(Fingerprint.of(df.filter(col("id") =!= 42)) != fp)
    assert(Fingerprint.of(df.limit(0)) == Fingerprint(0, BigDecimal(0)))
  }

  test("fingerprint sums hashes without overflowing under ANSI") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val df = spark.range(0, 20000).toDF("id")
    intercept[Exception](df.agg(sum(xxhash64(col("id")))).head())
    assert(Fingerprint.of(df).rows == 20000)
  }

  test("a written and re-read result keeps its fingerprint") {
    val dir = java.nio.file.Files.createTempDirectory("perfbench-spec").toString
    val df = spark.range(0, 100).select(col("id"), col("id").cast("decimal(20,6)").as("w"),
      to_timestamp(lit("2024-01-01 00:00:00")).as("ts"))
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    assert(Fingerprint.of(spark.read.parquet(dir)) == Fingerprint.of(df))
  }

  test("reference lines parse and reject malformed input") {
    val refs = Fingerprint.parse(Seq("# comment", "q_a\t3\t-12", "", "q_b\t0\t0"))
    assert(refs == Map("q_a" -> Fingerprint(3, BigDecimal(-12)), "q_b" -> Fingerprint(0, BigDecimal(0))))
    intercept[IllegalArgumentException](Fingerprint.parse(Seq("q_a 3 -12")))
  }

  test("call sites map to the module that launched the job") {
    val graph = Seq(
      "org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:827)",
      "graft.GraphAlgorithms$.componentLabels(GraphAlgorithms.scala:61)",
      "graft.SparkEntry$.$anonfun$defs$41(SparkEntry.scala:680)",
      "graft.perfbench.Runner$.runQuery$1(Runner.scala:190)").mkString("\n")
    assert(Attribution.module(graph) == "GraphAlgorithms")
    val viaHelper = Seq(
      "org.apache.spark.sql.Dataset.count(Dataset.scala:3614)",
      "graft.functions.Tuning$.spreadPartitions(Tuning.scala:40)",
      "graft.functions.Dedup$.snmPairs(Dedup.scala:120)",
      "graft.SparkEntry$.$anonfun$defs$90(SparkEntry.scala:1500)").mkString("\n")
    assert(Attribution.module(viaHelper) == "Dedup")
    assert(Attribution.module(
      "at graft.MultilayerNetworkFrame.layerDegrees(MultilayerNetworkFrame.scala:30)") == "NetworkFrame")
    assert(Attribution.module(
      "app//graft.streaming.EventStream$.sessions(EventStream.scala:88)") == "EventStream")
    val harness = Seq(
      "org.apache.spark.sql.Dataset.head(Dataset.scala:2400)",
      "graft.perfbench.Fingerprint$.of(Fingerprint.scala:24)",
      "graft.perfbench.Runner$.materialize(Runner.scala:120)").mkString("\n")
    assert(Attribution.module(harness) == "action")
    val poolThread = Seq(
      "org.apache.spark.sql.execution.exchange.BroadcastExchangeExec.$anonfun$relationFuture$1(BroadcastExchangeExec.scala:139)",
      "java.util.concurrent.FutureTask.run(FutureTask.java:264)",
      "java.lang.Thread.run(Thread.java:840)").mkString("\n")
    assert(Attribution.module(poolThread) == "unattributed")
    assert(Attribution.module("graft.Scratch$.dir(Scratch.scala:20)") == "other")
    assert(Attribution.module("") == "unattributed")
  }

  test("a traced fixpoint attributes its jobs to GraphAlgorithms") {
    import spark.implicits._
    val nodes = (1L to 6L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("source", "target")
    val trace = new Trace(spark)
    trace.install()
    try {
      spark.sparkContext.setLocalProperty(Trace.SpanProperty, "1")
      val labels = GraphAlgorithms.componentLabels(NetworkFrame(nodes, edges))
      spark.sparkContext.setLocalProperty(Trace.SpanProperty, null)
      labels.collect() // outside any query span: not recorded
    } finally {
      spark.sparkContext.setLocalProperty(Trace.SpanProperty, null)
      trace.uninstall()
    }
    val c = trace.counters
    assert(c("GraphAlgorithms.jobs") > 0)
    assert(c("action.jobs") == 0, "the collect outside the span is not recorded")
    assert(c("scheduler.jobs") == Attribution.modules.map(m => c(s"$m.jobs")).sum)
    assert(c("catalyst.executions") > 0)
    val jobs = trace.allSpans.filter(_.kind == "job")
    assert(jobs.nonEmpty && jobs.forall(j => j.end >= j.start && j.parent == 1))
  }
}
