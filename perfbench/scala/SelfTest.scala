package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Digest stability checks, run by `perfbench/test_metrics.py`: the
  * digest ignores row order, partitioning and floating-point noise
  * below its rounding, and changes when a value changes.
  */
object SelfTest {
  def run(work: Path, out: String): Nothing = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.shuffle.partitions", "3").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val checks = try {
      val base = (0 until 200).map(i => (i.toLong, s"s$i", i / 7.0, Seq(i / 3.0, -0.0), Map(s"k$i" -> i)))
        .toDF("id", "s", "x", "xs", "m")
      val d = Digest(base)
      Seq(
        "reordered" -> (Digest(base.orderBy(col("id").desc)) == d),
        "repartitioned" -> (Digest(base.repartition(5)) == d),
        "float noise below rounding" ->
          (Digest(base.withColumn("x", col("x") + lit(1e-12))) == d),
        "negative zero" -> (Digest(base.withColumn("x", lit(-0.0))) ==
          Digest(base.withColumn("x", lit(0.0)))),
        "value change" -> (Digest(base.withColumn("s",
          when(col("id") === 5, lit("changed")).otherwise(col("s")))) != d),
        "duplicate column names" -> (Digest(base.select(col("id"), col("id"))) ==
          Digest(base.select(col("id"), col("id").as("id2")))),
        "row count" -> (d._1 == 200L))
    } finally spark.stop()
    Files.writeString(Paths.get(out), Json(checks.toMap))
    sys.exit(if (checks.forall(_._2)) 0 else 1)
  }
}
