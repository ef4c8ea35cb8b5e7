package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler._

/** One timed call into a layer. Times are epoch nanoseconds (see [[Trace.now]]). */
final class Span(val id: Long, val name: String, val parent: Long, val req: String,
                 val start: Long) {
  @volatile var end: Long = 0L
  val attrs = new ConcurrentHashMap[String, Double]()
  def group: String = s"pb-$id"
}

/**
 * In-memory spans around the benchmark's calls into the engine. Each span
 * sets its own Spark job group on the calling thread, so the [[JobLedger]]
 * can attribute every job to the span that caused it. Off (the default), a
 * span is just its body: no job group, no record.
 */
object Trace {
  val GroupKey = "spark.jobGroup.id"
  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  private var sc: SparkContext = _

  // epoch nanoseconds with nanoTime resolution: listener events carry epoch
  // milliseconds, and spans must sit on the same clock to compute gaps
  private val epochBase = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  def now(): Long = epochBase + (System.nanoTime() - nanoBase)

  def start(context: SparkContext): Unit = {
    sc = context; FsOps.sc = context; spans.clear(); on = true
  }
  def stop(): Unit = on = false
  def recorded: Seq[Span] = spans.asScala.toSeq

  def span[T](name: String, req: String = "")(body: => T): T =
    if (!on) body
    else {
      val parents = stack.get()
      val parent = parents.headOption
      val s = new Span(ids.incrementAndGet(), name, parent.map(_.id).getOrElse(0L),
        if (req.nonEmpty) req else parent.map(_.req).getOrElse(""), now())
      spans.add(s)
      stack.set(s :: parents)
      sc.setJobGroup(s.group, name, interruptOnCancel = false)
      try body
      finally {
        s.end = now()
        stack.set(parents)
        parent match {
          case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Adds `v` to attribute `k` of the innermost open span on this thread. */
  def attr(k: String, v: Double): Unit =
    if (on) stack.get().headOption.foreach(_.attrs.merge(k, v, (a: Double, b: Double) => a + b))
}

/** Per-job record folded from listener events (times in epoch ms). */
final class JobRec(val id: Int, val group: String, val start: Long) {
  @volatile var end: Long = 0L
  val cpuNs = new LongAdder
  val inputBytes = new LongAdder
  val inputRecords = new LongAdder
  val shuffleBytes = new LongAdder
  val spillBytes = new LongAdder
}

/** Folds job and task events into [[JobRec]]s, keyed by the job's group. */
class JobLedger extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.GroupKey)))
    val rec = new JobRec(e.jobId, g.getOrElse(""), e.time)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (rec <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
      rec.cpuNs.add(m.executorCpuTime)
      rec.inputBytes.add(m.inputMetrics.bytesRead)
      rec.inputRecords.add(m.inputMetrics.recordsRead)
      rec.shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      rec.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
}

/** Directory listings per job group, counted by [[CountingLocalFileSystem]]. */
object FsOps {
  val lists = new ConcurrentHashMap[String, LongAdder]()
  @volatile var sc: SparkContext = _
  def count(): Unit = {
    val g = Option(TaskContext.get()).map(_.getLocalProperty(Trace.GroupKey))
      .orElse(Option(sc).map(_.getLocalProperty(Trace.GroupKey)))
      .flatMap(Option(_)).getOrElse("")
    lists.computeIfAbsent(g, _ => new LongAdder).increment()
  }
}

/** The project's fork-free local file system, with directory listings counted. */
class CountingRawFileSystem extends graft.util.NioRawLocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = { FsOps.count(); super.listStatus(f) }
}

class CountingLocalFileSystem extends LocalFileSystem(new CountingRawFileSystem)
