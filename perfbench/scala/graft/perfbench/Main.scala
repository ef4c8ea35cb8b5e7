package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/**
 * JVM side of the benchmark: runs one workload against the engine and
 * writes every raw observation (op timings, spans, Spark jobs, probes) to
 * one JSON file. All arithmetic on them lives in `perfbench/stats.py`.
 *
 * `--dump-catalogue <file>` instead writes the query names of each
 * `graft.queries` module and their oracle SQL, without starting Spark.
 */
object Main {
  def session(cpus: Int, work: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
    // the project's fork-free local FS, with directory listings counted
    .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    .getOrCreate()

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  /** Peak resident set of this process so far (Linux VmHWM), in MB. */
  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def opJson(o: Op): Map[String, Any] =
    Map("kind" -> o.kind, "name" -> o.name, "s" -> o.s, "ok" -> o.ok) ++ o.info

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    def write(path: String, v: Any): Unit = Files.write(Paths.get(path), Json.write(v).getBytes("UTF-8"))
    if (a.contains("dump-catalogue")) {
      write(a("dump-catalogue"), Map(
        "modules" -> Catalogue.modules.map { case (m, qs) => m -> qs.keys.toSeq.sorted }.toMap,
        "oracle" -> Catalogue.oracle))
      return
    }
    val workload = a("workload")
    val cpus = a("cpus").toInt
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val in = Json.read(a("inputs"))

    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = Workload.secondsSince(t0)
    FsOps.sc = spark.sparkContext
    val w: Workload = workload match {
      case "catalogue" => new Catalogue(spark, a("data"), in.get("catalogue"))
      case "serve_rw" => new ServeRw(spark, a("data"), work, in.get("serve_rw"))
    }
    def measure(): (Seq[Map[String, Any]], Double) = {
      val t = System.nanoTime()
      val ops = w.measure(seconds)
      (ops.map(opJson), Workload.secondsSince(t))
    }
    // traced, every call from the first set-up on is in a span; untraced
    // passes just before and just after the traced one price the tracing
    val sc = spark.sparkContext
    val ledger = new JobLedger
    if (trace) {
      sc.addSparkListener(ledger)
      Trace.start(sc)
    }
    val setups = (1 to a("setups").toInt).map { _ =>
      val t = System.nanoTime()
      val ops = Trace.span("bench.setup")(w.setup())
      (Workload.secondsSince(t), ops.map(opJson))
    }
    val probes = in.get("probes")
    val seed = probes.get("corpus_seed").asLong()
    val sampleIds = Json.longs(probes.get("sample_ids"))
    // the text kernels once, so no measured op pays their first compilation
    Probes.functions(seed, sampleIds)
    val warmOps = Trace.span("bench.warm")(w.warm()).map(opJson)
    // an untraced pass, with the window it ran in (epoch ms)
    def plain(): (Map[String, Any], Seq[Long]) = {
      Trace.on = false
      val t = System.currentTimeMillis()
      val (o, s) = measure()
      Trace.on = true
      (Map("ops" -> o, "measure_s" -> s), Seq(t, System.currentTimeMillis()))
    }
    val plainBefore = if (trace) Some(plain()) else None
    val (ops, wall) = measure()
    val rss = peakRssMb
    var out: Map[String, Any] = Map(
      "meta" -> Map("workload" -> workload, "seed" -> a("seed").toLong, "cpus" -> cpus,
        "seconds" -> seconds, "trace" -> trace, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "storage_max_mb" -> sc.getExecutorMemoryStatus.values.map(_._1).sum / 1048576.0,
        "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
        "session_s" -> sessionS),
      "setup_s" -> setups.map(_._1), "setup_ops" -> setups.flatMap(_._2), "warm_ops" -> warmOps,
      "ops" -> ops, "measure_s" -> wall, "figures" -> Trace.span("bench.figures")(w.figures),
      "peak_rss_mb" -> rss)

    if (trace) {
      val plainAfter = plain()
      val probeOps = w.probe().map(opJson)
      Trace.stop()
      val gcS = gcSeconds
      val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      PerfbenchBus.drain(sc)
      val spans = Trace.recorded.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "req" -> s.req, "start_ns" -> s.start, "end_ns" -> s.end, "attrs" -> s.attrs.asScala.toMap))
      val jobs = ledger.jobs.values().asScala.toSeq.sortBy(_.id).map(j => Map("id" -> j.id,
        "group" -> j.group, "start_ms" -> j.start, "end_ms" -> j.end, "cpu_ns" -> j.cpuNs.sum,
        "input_bytes" -> j.inputBytes.sum, "input_records" -> j.inputRecords.sum,
        "shuffle_bytes" -> j.shuffleBytes.sum, "spill_bytes" -> j.spillBytes.sum))
      val fsLists = FsOps.lists.asScala.map { case (g, n) => g -> n.sum }.toMap
      val plains = plainBefore.toSeq :+ plainAfter
      out ++= Map(
        "probe_ops" -> probeOps, "plain" -> plains.map(_._1), "untraced_ms" -> plains.map(_._2),
        "spans" -> spans, "jobs" -> jobs, "fs_lists" -> fsLists,
        "layer" -> (Probes.functions(seed, sampleIds) ++ Map(
          "sources.corpus_rows_per_s" -> Probes.corpusRowsPerS(spark, seed, probes.get("source_rows").asLong(), cpus),
          "jvm.gc_s" -> gcS, "jvm.heap_peak_mb" -> heapPeakMb)))
    }
    spark.stop()
    write(a("raw"), out)
  }
}
