package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Expected output of one checked operation. `digest` "*" checks the row
  * count only: the operation's digest is not stable across runs or
  * partition counts (floating-point sums in a shuffle-dependent order).
  */
final case class Expect(rows: Long, digest: String)

/** `expected.tsv`: name, row count and digest, tab-separated; `#` lines
  * are comments.
  */
object Expected {
  def load(path: String): Map[String, Expect] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty).map { l =>
      val Array(n, r, d) = l.split("\t")
      n -> Expect(r.toLong, d)
    }.toMap
    finally src.close()
  }

  def render(d: collection.Map[String, (Long, String)]): String =
    d.map { case (n, (r, g)) => s"$n\t$r\t$g" }.mkString("\n")
}

/** Order-insensitive digest of a DataFrame: the exact sum of one 64-bit
  * hash per row, taken over the row's JSON rendering with positional
  * column names, plus the row count. Computing it runs the whole plan
  * once with every column forced.
  */
object Digest {
  def of(df: DataFrame): (Long, String) = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.map { f =>
      if (f.dataType == BinaryType) base64(col(f.name)).as(f.name) else col(f.name)
    }
    val r = renamed.select(xxhash64(to_json(struct(cols.toIndexedSeq: _*))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(20,0)")))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
  }
}
