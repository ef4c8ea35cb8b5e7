package graft.perfbench

import graft.functions.{Porter2, TextFns, VectorFns}
import graft.operators.Dedup
import graft.sources.SyntheticCorpusSource
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** Single-layer probes: the text kernels on one thread, and corpus generation. */
object Probes {
  /** Per-item cost of `f` over `items`, in `unit`s, after one warm-up pass;
    * repeats whole passes for at least `minS` seconds. */
  private def perItem[A](items: Seq[A], unit: Double, minS: Double = 0.3)(f: A => Any): Double = {
    items.foreach(f)
    var passes = 0
    val t0 = System.nanoTime()
    while (passes == 0 || System.nanoTime() - t0 < minS * 1e9) { items.foreach(f); passes += 1 }
    (System.nanoTime() - t0) / unit / (passes.toLong * items.size)
  }

  def functions(seed: Long, ids: Seq[Long]): Map[String, Double] = {
    val texts = ids.map(i => SyntheticCorpusSource.generate(seed, i)._3)
    val chunks = texts.flatMap(TextFns.chunkText(_, 128, 64))
    val tokens = texts.flatMap(_.split(" "))
    val utf8 = texts.map(UTF8String.fromString)
    Map(
      "functions.chunk_text_us_per_doc" -> perItem(texts, 1e3)(TextFns.chunkText(_, 128, 64)),
      "functions.hash_embed_us_per_chunk" -> perItem(chunks, 1e3)(VectorFns.hashEmbed(_, 64)),
      "functions.porter2_ns_per_token" -> perItem(tokens, 1.0)(Porter2.stem),
      "functions.shingle_set_us_per_doc" -> perItem(utf8, 1e3)(Dedup.shingleSetKernel(_, 3)))
  }

  /** Rows per second the `graft-corpus` source generates into the noop sink. */
  def corpusRowsPerS(spark: SparkSession, seed: Long, rows: Long, cpus: Int): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      Workload.materialise(spark.read.format("graft-corpus").option("rows", rows)
        .option("partitions", cpus).option("seed", seed).load())
      rows / ((System.nanoTime() - t0) / 1e9)
    }
    once()
    Seq.fill(3)(once()).sorted.apply(1)
  }
}
