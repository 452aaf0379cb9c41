package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-insensitive multiset digest over EVERY output column.
  *
  * Each row becomes one canonical string: its columns in name order,
  * each cast to string (null as `\N`), joined by U+001F. The row hash
  * is the first 15 hex digits of the string's SHA-256; the digest is
  * `"<rows>:<sum of row hashes>"`. Because every column feeds the
  * hash, Catalyst cannot prune any of them, unlike a bare `count()`.
  * perfbench/bench/digest.py computes the same digest from generated
  * rows. */
object Digest {
  def sql(df: DataFrame): DataFrame = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val canon = concat_ws("\u001f",
      order.toIndexedSeq.map(i => coalesce(col(s"c$i").cast("string"), lit("\\N"))): _*)
    val h = conv(substring(sha2(canon, 256), 1, 15), 16, 10).cast("decimal(20,0)")
    pos.select(count(lit(1)).as("n"), coalesce(sum(h), lit(0).cast("decimal(30,0)")).as("s"))
  }

  /** Run the digest action; this is the op's terminal action. */
  def apply(df: DataFrame): String = {
    val r = sql(df).head()
    s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}"
  }
}
