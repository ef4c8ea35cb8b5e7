package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.{Engine, EngineConfig}
import graft.operators.Dedup
import graft.queries._
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One timed operation of a workload. A failed op keeps its elapsed time. */
final case class Op(kind: String, name: String, s: Double, ok: Boolean,
                    info: Map[String, Any] = Map.empty)

/** A closed-loop workload: set up (repeatable), then measure for a while. */
trait Workload {
  /** One set-up; returns the ops it is made of. */
  def setup(): Seq[Op]
  /** Untimed first touch of the measured paths, after the last set-up. */
  def warm(): Seq[Op] = Nil
  /** Layers no measured path reaches, exercised once in the traced run. */
  def probe(): Seq[Op] = Nil
  def measure(seconds: Double): Seq[Op]
  /** Figures only this workload has (space use, rates of its stages). */
  def figures: Map[String, Any] = Map.empty
}

object Workload {
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed(kind: String, name: String, info: Map[String, Any] = Map.empty)(body: => Boolean): Op = {
    val t0 = System.nanoTime()
    val (ok, err) =
      try (body, "")
      catch { case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    Op(kind, name, secondsSince(t0), ok, if (err.isEmpty) info else info + ("error" -> err))
  }

  /** Runs `df` to completion through the noop sink and returns its row count. */
  def materialise(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
  }

  /** (files, bytes) under `dir`. */
  def du(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val fs = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    }
  }
}

import Workload._

/** The oracle-checked query catalogue, one client, seeded order. */
final class Catalogue(spark: SparkSession, dataDir: String, in: JsonNode) extends Workload {
  private val byName: Map[String, (String, (SparkSession, String) => DataFrame)] =
    Catalogue.modules.flatMap { case (m, qs) => qs.map { case (n, f) => n -> (m, f) } }.toMap
  private val order = Json.strings(in.get("order"))
  private val warmUp = Json.strings(in.get("warm"))
  private val expected = order.map(n => n -> in.get("expected").get(n).asLong()).toMap

  def setup(): Seq[Op] = Seq(timed("stage", "open_tables") {
    Catalogue.Tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").count())
    spark.range(1000).selectExpr("sum(id)").collect().head.getLong(0) == 499500L
  })

  private def run(name: String, expected: Long, span: String = "queries"): Op = {
    val (module, fn) = byName(name)
    // release only what this query cached, as the project's own bench does:
    // a blanket unpersist would drop blocks that memoised frames depend on
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    var rows = -1L
    val op = timed("query", name, Map("module" -> module)) {
      rows = Trace.span(s"$span.$module", name)(materialise(fn(spark, dataDir)))
      rows == expected || expected < 0
    }
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = false)
    }
    spark.catalog.clearCache()
    op.copy(info = op.info ++ Map("rows" -> rows, "expected" -> expected))
  }

  /** The first query of every module, outside the subset: warms the code
    * paths the subset shares, so no query of it pays the JVM's first touch. */
  override def warm(): Seq[Op] = warmUp.map(n => run(n, -1L, "bench.warm").copy(kind = "warm"))

  /** Whole passes over the subset that fit in `seconds` (at least one). */
  def measure(seconds: Double): Seq[Op] = {
    val ops = ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    var pass = 0.0
    while (ops.isEmpty || secondsSince(t0) + pass <= seconds) {
      val t = System.nanoTime()
      ops ++= order.map(n => run(n, expected(n)))
      pass = secondsSince(t)
    }
    ops.toSeq
  }
}

object Catalogue {
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "relational" -> RelationalQueries.queries, "text" -> TextQueries.queries,
    "vector" -> VectorQueries.queries, "event" -> EventQueries.queries,
    "source" -> SourceQueries.queries, "multimodal" -> MultimodalQueries.queries,
    "engine" -> EngineQueries.queries, "pipeline" -> PipelineQueries.queries)
  def oracle: Map[String, String] =
    RelationalQueries.oracle ++ TextQueries.oracle ++ VectorQueries.oracle ++
      EventQueries.oracle ++ SourceQueries.oracle ++ MultimodalQueries.oracle ++
      EngineQueries.oracle ++ PipelineQueries.oracle
}

/**
 * One live collection, built in set-up from the `documents` table: ingest →
 * update (IVF trained) → lexical build (the first `hybridSearch`). Readers
 * then run seeded searches and scalar reads inside `served{}`, one reader per
 * lane of the inputs (search, hybrid search, scalar); one writer
 * runs upsert → incremental update → read-your-writes check → soft delete,
 * with `maintain` on the first tick of a window and every third after it. The traced run
 * also probes near-duplicate detection and compaction on the collection it
 * served.
 */
final class ServeRw(spark: SparkSession, dataDir: String, work: String, in: JsonNode)
    extends Workload {
  import spark.implicits._
  private val lanes = in.get("lanes").elements().asScala
    .map(_.elements().asScala.toIndexedSeq).toIndexedSeq
  private val writerIds = Json.longs(in.get("writer_ids")).toIndexedSeq
  private val deleteIds = Json.longs(in.get("delete_ids")).toIndexedSeq
  private val docs = in.get("docs").asLong()
  private val period = in.get("writer_period_s").asDouble()
  private val phase = in.get("writer_phase_s").asDouble()
  private var eng: Engine = _
  private var dir: String = _
  private var builds = 0
  private var ticks = 0

  def setup(): Seq[Op] = {
    if (dir != null) delete(dir)
    builds += 1
    dir = s"$work/serve$builds"
    val e = new Engine(spark, EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 16, nprobe = 4, ivfThreshold = 1L, searchRate = 100.0))
    eng = e
    Seq(
      timed("stage", "ingest") {
        Trace.span("engine.ingest")(e.ingest(spark.read.parquet(s"$dataDir/documents.parquet")
          .select("doc_id", "text", "lang", "n_chars")))
        Trace.span("bench.check")(e.store().count()) == docs
      },
      timed("stage", "update") {
        Trace.span("engine.update")(e.update())
        Trace.span("bench.check")(e.index().limit(1).count()) == 1
      },
      timed("stage", "lex_build") {
        Trace.span("engine.lex_build")(e.hybridSearch(Seq(lanes.head.head.path("q").asText("spark table")))
          .collect()).nonEmpty
      })
  }

  /** Near-duplicate pairs over the served store (the `dup` documents make
    * some), then compaction of its layouts. */
  override def probe(): Seq[Op] = Seq(
    timed("probe", "near_dup") {
      Trace.span("operators.near_dup") {
        val n = materialise(Dedup.nearDupPairs(eng.store(), "text", "doc_id"))
        Trace.attr("pairs", n)
        n > 0
      }
    },
    timed("probe", "compact") {
      val (storeFiles, indexFiles) = Trace.span("engine.compact")(eng.compact())
      storeFiles > 0 && indexFiles > 0
    }).map(o => o.copy(info = o.info + ("docs" -> docs)))

  /** Every read verb once, so that measurement sees served layouts. */
  override def warm(): Seq[Op] =
    Seq("search", "hybrid", "query", "retrieve").map { v =>
      read(lanes.flatten.find(_.get("verb").asText() == v).get, "warm").copy(kind = "warm")
    }

  private def rowsOf(r: JsonNode): Array[Row] = r.get("verb").asText() match {
    case "search" => eng.search(Seq(r.get("q").asText())).collect()
    case "hybrid" => eng.hybridSearch(Seq(r.get("q").asText())).collect()
    case "query" => eng.query(col("lang") === r.get("lang").asText() &&
      col("n_chars") > r.get("min_chars").asLong(), Seq("lang", "n_chars"), limit = 100).collect()
    case "retrieve" => eng.retrieve(r.get("expr").asText(), Seq("lang", "n_chars"), limit = 100).collect()
  }

  private def read(r: JsonNode, req: String): Op = {
    val verb = r.get("verb").asText()
    val span = verb match {
      case "search" => "engine.search"
      case "hybrid" => "engine.hybrid_search"
      case _ => "engine.scalar"
    }
    var wait = 0.0
    var hits = 0
    val op = timed("read", verb, Map("req" -> req)) {
      val t0 = System.nanoTime()
      Trace.span(span, req) {
        eng.served {
          wait = secondsSince(t0)
          Trace.attr("served_wait_s", wait)
          val rows = rowsOf(r)
          hits = rows.length
          Trace.attr("hits", hits)
          // a torn read is an empty result or a hole in the ranks
          rows.nonEmpty && (verb match {
            case "search" | "hybrid" =>
              rows.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rows.length)
            case _ => true
          })
        }
      }
    }
    op.copy(info = op.info ++ Map("wait_s" -> wait, "hits" -> hits))
  }

  /** One writer tick; `maintain` runs when `withMaintain`. */
  private def tick(withMaintain: Boolean): Op = {
    ticks += 1
    val i = ticks
    val token = s"zzrw$i"
    val target = writerIds(i % writerIds.size)
    val schema = Trace.span("bench.check")(eng.served(eng.store().schema))
    var annHit = false
    val op = timed("tick", "writer", Map("req" -> s"tick$i")) {
      Trace.span("serve.tick", s"tick$i") {
        val row = Seq((target, (token + " ") * 40, "en", 40L * (token.length + 1)))
          .toDF("doc_id", "text", "lang", "n_chars")
          .select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
        Trace.span("engine.upsert")(eng.upsert(row))
        Trace.span("engine.update_incremental")(eng.updateIncremental())
        // read-your-writes on both routes: the scalar read sees the new text
        // and the new chunks are in the index that searches read
        val ryw = Trace.span("serve.ryw_check") {
          val scalar = eng.served(eng.query(col("doc_id") === target, Seq("text")).collect())
          val visible = eng.served(eng.index().filter(col("doc_id") === target).limit(1).count() > 0)
          annHit = eng.served(eng.search(Seq(token)).collect()).exists(_.getAs[Long]("doc_id") == target)
          visible && scalar.length == 1 && scalar.head.getAs[String]("text").startsWith(token)
        }
        Trace.span("engine.delete_soft")(eng.deleteSoft(Seq(deleteIds(i % deleteIds.size)).toDF("doc_id")))
        if (withMaintain) Trace.span("engine.maintain")(eng.maintain(0.5).collect())
        ryw
      }
    }
    op.copy(info = op.info ++ Map("ann_hit" -> annHit, "layout_files" -> du(dir)._1))
  }

  def measure(seconds: Double): Seq[Op] = {
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    val t0 = System.nanoTime()
    val threads = lanes.zipWithIndex.map { case (lane, r) =>
      val t = new Thread(() => {
        var i = 0
        while (secondsSince(t0) < seconds) {
          val o = read(lane(i % lane.size), s"r$r.$i")
          ops.add(o.copy(info = o.info + ("end_s" -> secondsSince(t0))))
          i += 1
        }
      })
      t.start(); t
    }
    // the re-crawl scheduler: a tick is due every `period` seconds from
    // `phase`, and waits for the one before it; none is due after the deadline
    var k = 0
    while (phase + k * period < seconds) {
      val sleepMs = ((phase + k * period - secondsSince(t0)) * 1000).toLong
      if (sleepMs > 0) Thread.sleep(sleepMs)
      val o = tick(withMaintain = k % 3 == 0)
      ops.add(o.copy(info = o.info + ("end_s" -> secondsSince(t0))))
      k += 1
    }
    threads.foreach(_.join())
    ops.asScala.toSeq
  }

  override def figures: Map[String, Any] = {
    val (files, bytes) = du(dir)
    val textBytes = spark.read.parquet(s"$dataDir/documents.parquet")
      .agg(sum(length(col("text")))).head().getLong(0)
    Map("docs" -> docs, "layout_files" -> files,
      "space_amp" -> bytes.toDouble / textBytes, "ticks" -> ticks)
  }
}
