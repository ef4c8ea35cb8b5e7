package graft
import org.apache.spark.sql.SparkSession
/** Single-query isolation bench (dev tool): `runMain graft.BenchOne qNN ...`
  * times each named SparkEntry query twice under the Bench session config —
  * pins down run-order effects the full Bench sweep can mask. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", "graft.util.NioLocalFileSystem")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    args.foreach { q =>
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, sfDir).count()
        println(f"BENCHONE $q run$i ${(System.nanoTime()-t0)/1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
