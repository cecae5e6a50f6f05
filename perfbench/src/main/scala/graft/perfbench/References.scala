package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry

import java.nio.file.{Files, Paths}

/** Sets the reference fingerprints. Writes every workload query's result the
  * way `graft.Verify` does (`<out>/<query>/` Parquet plus `oracle_sql.json`),
  * so `tools/check.py <data> <out>` can compare them with their DuckDB
  * oracles, and prints the fingerprint of each written result as one
  * reference line.
  *
  * {{{ References <sf dir> <out dir> <scratch dir> }}}
  */
object References {
  def main(args: Array[String]): Unit = {
    val Array(data, out, scratch) = args
    val spark = Runner.session(Runtime.getRuntime.availableProcessors, scratch)
    try {
      val names = Workloads.all.flatMap(_.queries)
      val lines = names.map { q =>
        val dir = s"$out/$q"
        SparkEntry.queries(q)(spark, data).coalesce(1).write.mode("overwrite").parquet(dir)
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        s"$q\t${Fingerprint.of(spark.read.parquet(dir))}"
      }
      val oracles = SparkEntry.oracleSql.filter { case (q, _) => names.contains(q) }
      Files.writeString(Paths.get(out, "oracle_sql.json"),
        new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(oracles))
      lines.foreach(println)
    } finally spark.stop()
  }
}
