package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev tool: run one query and print each completed stage's task count and
  * runtime — pins down which stage AQE coalesced below the core count.
  * `runMain graft.QProfile qNN [qMM ...]` */
object QProfile {
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
    // job ledger: driver-side gaps BETWEEN jobs (planning, FS metadata,
    // collect post-processing) are invisible to stage metrics — print each
    // job's span so `TOTAL - Σjob` and inter-job gaps are readable
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    @volatile var lastJobEnd = 0L
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobStart.put(j.jobId, j.time)
        val gap = if (lastJobEnd == 0) 0 else j.time - lastJobEnd
        if (gap > 40) println(f"  GAP ${gap}%5d ms before job ${j.jobId}")
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val dur = j.time - Option(jobStart.get(j.jobId)).getOrElse(j.time)
        lastJobEnd = math.max(lastJobEnd, j.time)
        println(f"  JOB ${j.jobId}%4d ${dur}%6d ms")
      }
    })
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val ms = i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
        val cpu = i.taskMetrics.executorCpuTime / 1e9
        // the first graft.* frame in the callsite stack names the verb the
        // stage belongs to — i.name is useless for lazy-exec subtrees
        val site = i.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("QProfile"))
          .getOrElse(i.name).trim.take(90)
        println(f"STAGE ${i.stageId}%4d tasks=${i.numTasks}%4d wall=${ms}%6d ms cpu=${cpu}%8.2f s  $site")
      }
    })
    spark.range(1000).selectExpr("sum(id)").collect()
    args.foreach { q =>
      println(s"=== $q")
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, sfDir).count()
      println(f"TOTAL $q ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
