package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Checks that the harness's digests depend only on the rows: the same
  * rows in another order or partitioning digest alike, a different row
  * set does not. Exits non-zero on failure (run by tests/test_analyze.py).
  */
object SelfCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selfcheck")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, s"http://h${i % 37}.onion/p$i", i % 7))
      .toDF("seq", "url", "round")
    val a = Main.digest(df)
    val reordered = Main.digest(df.repartition(7).orderBy(col("url").desc))
    val fewer = Main.digest(df.filter(col("seq") =!= 3L))
    val rows = df.collect().toSeq
    val failures = Seq(
      "table digest changes with order or partitioning" -> (a != reordered),
      "table digest misses a dropped row" -> (a == fewer),
      "row digest changes with order" -> (Main.digestRows(rows) != Main.digestRows(rows.reverse)),
      "row digest misses a dropped row" -> (Main.digestRows(rows) == Main.digestRows(rows.tail))
    ).collect { case (msg, true) => msg }
    spark.stop()
    failures.foreach(f => System.err.println("perfbench self-check: " + f))
    if (failures.nonEmpty) sys.exit(1)
  }
}
