package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Order-independent table fingerprint, the same one `gen.py` computes
  * for the expected state: sorted lower-cased column names, row count,
  * and the sum over rows of the first 60 bits of SHA-1 of the row's
  * canonical line (values cast to string in column-name order, joined by
  * U+001F, NULL as `\N`).
  */
object Fingerprint {
  final case class Fp(cols: Seq[String], count: Long, sum: String)

  private def rowHash(df: DataFrame): org.apache.spark.sql.Column = {
    val cols = df.columns.sortBy(_.toLowerCase)
    val line = concat_ws("\u001f", cols.map(c => coalesce(df.col(s"`$c`").cast("string"), lit("\\N"))): _*)
    conv(substring(sha1(line.cast("binary")), 1, 15), 16, 10).cast("decimal(38,0)")
  }

  /** Fingerprints of many tables, a few Spark jobs in all. */
  def many(spark: SparkSession, tables: Seq[(String, () => DataFrame)]): Map[String, Fp] =
    tables.grouped(16).flatMap { group =>
      val frames = group.map { case (k, mk) => k -> mk() }
      val colsOf = frames.map { case (k, df) => k -> df.columns.map(_.toLowerCase).sorted.toSeq }.toMap
      val parts = frames.map { case (k, df) => df.select(lit(k).as("k"), rowHash(df).as("h")) }
      val got = parts.reduce(_.unionAll(_)).groupBy("k")
        .agg(count(lit(1)).as("n"), sum("h").cast("decimal(38,0)").as("s")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2).toBigInteger.toString)).toMap
      frames.map { case (k, _) =>
        val (n, s) = got.getOrElse(k, (0L, "0"))
        k -> Fp(colsOf(k), n, s)
      }
    }.toMap
}
