package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: write `explain("formatted")` of named queries to files —
  * the plan evidence the optimization rounds commit under `plans/`.
  * `runMain graft.PlanDump <outDir> <suffix> qNN [qMM ...]`
  * writes `<outDir>/<query>_<suffix>.txt`. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = args(0)
    val suffix = args(1)
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
    new java.io.File(outDir).mkdirs()
    args.drop(2).foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${q}_$suffix.txt"), plan)
      println(s"PLAN $q -> $outDir/${q}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
