package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order- and partitioning-independent fingerprint of a result: its row count
  * and the sum of one 64-bit hash per row over all columns. The sum is taken
  * as DECIMAL(38,0), which holds the hashes of more than 10^19 rows, so it
  * cannot overflow under Spark's default ANSI mode the way a BIGINT sum does.
  */
final case class Fingerprint(rows: Long, hashSum: BigDecimal) {
  override def toString: String = s"$rows\t$hashSum"
}

object Fingerprint {

  /** Computes the fingerprint with one aggregate job, which also materializes
    * every column of `df` (Catalyst cannot prune a column the hash reads).
    */
  def of(df: DataFrame): Fingerprint = {
    val cols = df.columns.toSeq.map(c => df.col("`" + c.replace("`", "``") + "`"))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    Fingerprint(r.getLong(0),
      if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  /** Reference table: one `name<TAB>rows<TAB>hashSum` line per query. */
  def parse(lines: Seq[String]): Map[String, Fingerprint] =
    lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      l.split("\t") match {
        case Array(n, rows, sum) => n -> Fingerprint(rows.toLong, BigDecimal(sum))
        case _ => throw new IllegalArgumentException(s"bad reference line: $l")
      }
    }.toMap
}
