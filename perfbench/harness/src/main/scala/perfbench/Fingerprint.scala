package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** An order-insensitive fingerprint of a result: its row count plus the
  * sum, over rows, of a 64-bit hash of every column. Columns are hashed
  * by position as strings, with NULL spelled apart from any string, so
  * the hash sees every value but no partitioning or row order. The sum
  * runs in decimal, which cannot overflow at any row count Spark holds.
  */
final case class Fingerprint(rows: Long, hash: String, schema: String)

object Fingerprint {
  private val NullCell = "\u0000null"

  def frame(df: DataFrame): DataFrame = {
    val n = df.columns.length
    val byPos = df.toDF((0 until n).map(i => s"c$i"): _*)
    val cells = (0 until n).map(i => coalesce(col(s"c$i").cast("string"), lit(NullCell)))
    val h = if (n == 0) lit(0L) else xxhash64(cells: _*)
    byPos.select(h.cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)).as("rows"), sum("h").as("hash"))
  }

  private def schemaOf(df: DataFrame): String =
    df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")

  def of(df: DataFrame): Fingerprint = fromRow(df, frame(df))

  /** Plans the fingerprint query now and returns what collects it, so a
    * failure can be told apart as a planning or an execution failure. */
  def planned(df: DataFrame): () => Fingerprint = {
    val fp = frame(df)
    fp.queryExecution.executedPlan
    () => fromRow(df, fp)
  }

  private def fromRow(df: DataFrame, fp: DataFrame): Fingerprint = {
    val r = fp.collect()(0)
    val hash = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    Fingerprint(r.getLong(0), hash, schemaOf(df))
  }

  /** Fingerprints every parquet result directory under `dir` (one per
    * key, as `graft.Verify` writes them), for comparing a dump that the
    * DuckDB oracle has checked with the fingerprints a run records. */
  def ofDumps(spark: SparkSession, dir: String, keys: Seq[String]): Map[String, Fingerprint] =
    keys.filter(k => new java.io.File(s"$dir/$k").isDirectory)
      .map(k => k -> of(spark.read.parquet(s"$dir/$k"))).toMap
}
