package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.rand

/** A small session and JSON output for the benchmark's own tools. */
private object ToolSession {
  def apply(tmp: String): SparkSession = Harness.session(2, Paths.get(tmp))

  def write(out: String, fps: Iterable[(String, Fingerprint)]): Unit =
    Files.writeString(Paths.get(out), Json.value(Json.obj(fps.toSeq.map { case (k, f) =>
      k -> Json.obj("rows" -> f.rows, "hash" -> f.hash, "schema" -> f.schema) }: _*)))
}

/** Fingerprints one small table in several shapes, for the unit test of
  * the fingerprint: row order and partitioning must not change it; a
  * NULL or a value moved to another row, or a dropped row, must.
  *
  * Usage: FingerprintSelfTest OUT_JSON TMP_DIR
  */
object FingerprintSelfTest {
  def main(args: Array[String]): Unit = {
    val spark = ToolSession(args(1))
    import spark.implicits._
    val rows = Seq((1, "a", Option(1.5)), (2, "b", Option.empty[Double]),
      (3, null, Option(2.5)), (4, "d", Option(4.0)))
    def df(rs: Seq[(Int, String, Option[Double])]): DataFrame = rs.toDF("i", "s", "d")
    val base = df(rows)
    val shapes = Seq(
      "base" -> base,
      "shuffled" -> base.orderBy(rand(7)),
      "repartitioned" -> base.repartition(3),
      "null_moved" -> df(Seq((1, "a", None), (2, "b", Some(1.5))) ++ rows.drop(2)),
      "value_swapped" -> df(Seq((1, "b", Some(1.5)), (2, "a", None)) ++ rows.drop(2)),
      "row_dropped" -> df(rows.init))
    ToolSession.write(args(0), shapes.map { case (k, d) => k -> Fingerprint.of(d) })
    spark.stop()
  }
}

/** Fingerprints the per-key parquet results `graft.Verify` dumped, so a
  * dump the DuckDB oracle passed can be compared with the fingerprints
  * the benchmark records.
  *
  * Usage: DumpFingerprints DUMP_DIR KEY,KEY,... OUT_JSON TMP_DIR
  */
object DumpFingerprints {
  def main(args: Array[String]): Unit = {
    val spark = ToolSession(args(3))
    ToolSession.write(args(2),
      Fingerprint.ofDumps(spark, args(0), args(1).split(',').toSeq).toSeq.sortBy(_._1))
    spark.stop()
  }
}
