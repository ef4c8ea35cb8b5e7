package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Column-level vector API (SURVEY.md §2.9 V1–V4).
 *
 * Vectors are plain `ARRAY<FLOAT>` (the shape of the reference's Milvus
 * collection, vdb.py:203-208, and of testdata embeddings.parquet) — no UDT.
 *
 * The codegen'd expressions are exposed through the session function
 * registry (Spark 4 keeps the Column↔Expression bridge private), so
 * [[register]] is called lazily on the active session before use.
 */
object VectorFns {

  /** A model that breaks the embedBatch contract (wrong result count) —
    * deliberately NOT quarantineable by [[embedPartitionsResilient]]'s
    * dead-letter channel: a systematic bug must fail the job, not degrade
    * it silently. */
  final class ContractViolation(msg: String) extends RuntimeException(msg)

  /** Codegen'd cosine similarity (see [[CosineSimilarity]]). */
  def cosineSim(a: Column, b: Column): Column = fn("cosine_sim", a, b)

  /** Codegen'd dot product. */
  def dotProduct(a: Column, b: Column): Column = fn("dot_product", a, b)

  /** Codegen'd L2 distance. */
  def l2Dist(a: Column, b: Column): Column = fn("l2_dist", a, b)

  private def fn(name: String, a: Column, b: Column): Column = {
    register(SparkSession.active)
    call_function(name, a, b)
  }

  /** L2 norm via built-ins (reference embed.py:34-35 normalize_embeddings). */
  def l2Norm(v: Column): Column =
    sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType)))

  /** L2-normalize an ARRAY<FLOAT> column; zero vector stays zero. */
  def l2Normalize(v: Column): Column = {
    val n = l2Norm(v)
    when(n === 0.0, v).otherwise(
      transform(v, x => (x.cast(DoubleType) / n).cast(FloatType)))
  }

  /**
   * Masked mean-pooling over per-token embeddings (SURVEY §2.9 V2 — the
   * reference's sentence-embedding pool, embed.py:44-49: `sum(token_emb *
   * mask) / sum(mask)`), as pure vectorized array ops: no UDF, no explode.
   * `tokVecs`: ARRAY<ARRAY<DOUBLE>> (tokens × dim); `mask`: ARRAY<DOUBLE>
   * of 0/1 attention weights, one per token. Returns the ARRAY<DOUBLE>
   * pooled vector. At scale this is a narrow per-row map — no shuffle.
   */
  def maskedMeanPool(tokVecs: Column, mask: Column): Column = {
    val n = aggregate(mask, lit(0.0), (acc, m) => acc + m)
    val zero = transform(element_at(tokVecs, 1), _ => lit(0.0))
    val summed = aggregate(
      zip_with(tokVecs, mask, (v, m) => transform(v, x => x * m)),
      zero,
      (acc, v) => zip_with(acc, v, (a, b) => a + b))
    transform(summed, x => x / n)
  }

  /** L2-normalize an ARRAY<DOUBLE> column (double-precision sibling of
    * [[l2Normalize]] — mean-pooled vectors stay in double for the oracle). */
  def l2NormalizeD(v: Column): Column = {
    val n = l2Norm(v)
    when(n === 0.0, v).otherwise(transform(v, x => x / n))
  }

  /** Register SQL-callable forms: cosine_sim / dot_product / l2_dist.
    * Idempotent; cheap enough to call before every use. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("cosine_sim",
      (es: Seq[Expression]) => CosineSimilarity(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("dot_product",
      (es: Seq[Expression]) => DotProduct(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("l2_dist",
      (es: Seq[Expression]) => L2Distance(es.head, es(1)), "built-in")
    // hash_embed(text, dim-literal) — the codegen'd [[HashEmbed]]; the
    // registry is the public Column↔Expression bridge (Spark 4 keeps the
    // direct constructor private), so dim rides as a foldable literal
    reg.createOrReplaceTempFunction("hash_embed",
      (es: Seq[Expression]) => HashEmbed(es.head,
        es(1).eval().asInstanceOf[Number].intValue()), "built-in")
    // nearest_cell(vec, centroids-literal): the literal array<array<float>>
    // collapses to a primitive float[][] at plan-build time
    reg.createOrReplaceTempFunction("nearest_cell",
      (es: Seq[Expression]) => {
        val lit = es(1).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val cents = Array.tabulate(lit.numElements())(i => lit.getArray(i).toFloatArray)
        NearestCell(es.head, cents)
      }, "built-in")
    // dedup-family kernels (graft.operators.Dedup)
    reg.createOrReplaceTempFunction("shingle_set",
      (es: Seq[Expression]) => HashedShingleSet(es.head,
        es(1).eval().asInstanceOf[Number].intValue()), "built-in")
    reg.createOrReplaceTempFunction("sorted_intersect",
      (es: Seq[Expression]) => SortedIntersectCount(es.head, es(1)), "built-in")
  }

  /** Column form of the codegen'd [[HashEmbed]] expression — the engine's
    * hot embed projection ([[graft.Engine]]'s chunkEmbed under the default
    * hash model). Bit-identical to [[hashEmbedUdf]]. */
  def hashEmbedCol(text: Column, dim: Int): Column = {
    register(SparkSession.active)
    call_function("hash_embed", text, lit(dim))
  }

  /** Column form of the codegen'd [[NearestCell]] assignment. */
  def nearestCellCol(vec: Column, centroids: Array[Array[Float]]): Column = {
    register(SparkSession.active)
    call_function("nearest_cell", vec,
      typedLit(centroids.map(_.toSeq).toSeq))
  }

  /** [[HashEmbed]]'s runtime kernel: UTF8String in, primitive float array
    * out — zero boxing on either side. */
  def hashEmbedData(s: org.apache.spark.unsafe.types.UTF8String,
                    dim: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(hashEmbed(if (s == null) null else s.toString, dim))

  /** [[NearestCell]]'s runtime kernel: the IVF probe's rule ([[cellOrder]]'s
    * first cell) over a primitive float array. */
  def nearestCell(v: org.apache.spark.sql.catalyst.util.ArrayData,
                  cs: Array[Array[Float]]): Int =
    nearestCell(Array.tabulate(v.numElements())(v.getFloat(_).toDouble), cs)

  /** cos(v, c) in [[CosineSimilarity]]'s arithmetic: sequential double
    * accumulation, `dot / sqrt(|v|²·|c|²)`, 0.0 when either norm is 0 — so a
    * driver-side probe ranks cells exactly as the SQL expression would. */
  def cosine(v: Array[Double], c: Array[Float]): Double = {
    require(v.length == c.length,
      s"cosine_sim: mismatched vector dimensions ${v.length} vs ${c.length}")
    var dot = 0.0; var nv = 0.0; var nc = 0.0; var i = 0
    while (i < v.length) {
      val x = v(i); val y = c(i).toDouble
      dot += x * y; nv += x * x; nc += y * y; i += 1
    }
    if (nv == 0.0 || nc == 0.0) 0.0 else dot / math.sqrt(nv * nc)
  }

  /** The IVF cell rule, shared by assignment and probe: cells in unrounded
    * cosine-to-`v` descending order, ties to the lower cell. */
  def cellOrder(v: Array[Double], cs: Array[Array[Float]]): Array[Int] = {
    val s = cs.map(cosine(v, _))
    cs.indices.sortWith((a, b) => s(a) > s(b) || (s(a) == s(b) && a < b)).toArray
  }

  /** [[cellOrder]]'s first cell without the sort: the strict `>` keeps the
    * lowest of tied cells. */
  def nearestCell(v: Array[Double], cs: Array[Array[Float]]): Int = {
    var best = 0; var bestS = Double.NegativeInfinity
    var c = 0
    while (c < cs.length) {
      val s = cosine(v, cs(c))
      if (s > bestS) { bestS = s; best = c }
      c += 1
    }
    best
  }

  // ------------------------------------------------------------- embedding V1
  /**
   * Deterministic feature-hash embedding (SURVEY.md §2.9 V1 harness slot).
   *
   * Stands in for the reference's transformer embedding
   * (`src/coldata/vdb/embed.py:21-39` — tokenize → forward → mean-pool →
   * normalize): whitespace tokens are hashed into `dim` buckets with a
   * sha256-derived sign, then L2-normalized. Deterministic across engines and
   * runs (FIXTURES.md §3 bans live model inference in tests). The production
   * slot for a real model is [[embedPartitions]].
   */
  def hashEmbedUdf(dim: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { text: String => hashEmbed(text, dim) }

  // Per-thread SHA-256 instance (digest() resets it — reuse is bit-identical;
  // getInstance per TOKEN was pure overhead) and a bounded per-thread memo of
  // token → 64-bit digest prefix: corpus tokens repeat heavily (Zipf), so the
  // memo removes ~all SHA work after the vocabulary warms. The memo is a
  // pure-function cache (token → sha256 prefix), bounded, rebuilt per JVM —
  // it never stores query results or anything keyed on the input tables.
  private val sha256Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("SHA-256")
  }
  private val tokenHashLocal = new ThreadLocal[java.util.HashMap[String, java.lang.Long]] {
    override def initialValue() = new java.util.HashMap[String, java.lang.Long](1 << 12)
  }
  private val wsPattern = java.util.regex.Pattern.compile("\\s+")

  /** sha256(token)'s first 8 bytes as a big-endian long — the hash core of
    * [[hashEmbed]], memoized per thread (bounded at 2^17 entries). */
  private def tokenHash64(t: String): Long = {
    val memo = tokenHashLocal.get()
    val cached = memo.get(t)
    if (cached != null) cached.longValue()
    else {
      val md = sha256Local.get().digest(t.getBytes("UTF-8"))
      val h = java.nio.ByteBuffer.wrap(md, 0, 8).getLong
      if (memo.size >= (1 << 17)) memo.clear()
      memo.put(t, h)
      h
    }
  }

  /** Scala-side deterministic hash embedding (unit-testable core). */
  def hashEmbed(text: String, dim: Int): Array[Float] = {
    val v = new Array[Float](dim)
    if (text != null) {
      val toks = wsPattern.split(text.trim)
      toks.foreach { t =>
        if (t.nonEmpty) {
          val h = tokenHash64(t)
          val bucket = ((h % dim) + dim) % dim
          val sign = if (((h >>> 62) & 1L) == 0L) 1.0f else -1.0f
          v(bucket.toInt) += sign
        }
      }
    }
    var norm = 0.0
    var i = 0
    while (i < v.length) { norm += v(i).toDouble * v(i).toDouble; i += 1 }
    if (norm > 0) {
      val inv = 1.0 / math.sqrt(norm)
      i = 0
      while (i < v.length) { v(i) = (v(i) * inv).toFloat; i += 1 }
    }
    v
  }

  /**
   * Resilient batched embedding with a DEAD-LETTER channel — the inference
   * failure shape at 100 TB: one malformed document must not kill a
   * ten-hour job, and a failing BATCH must not take its 127 healthy
   * neighbors down with it. The batch is forwarded once; on failure it is
   * retried item-by-item so only the truly poisonous rows fail, and those
   * land with a null vector plus the error message in `errCol` (the
   * quarantine a downstream audit or replay queue reads) while every
   * healthy row embeds normally. Same plan shape as [[embedPartitions]] —
   * one model handle per partition, fixed-size batches.
   */
  def embedPartitionsResilient(df: DataFrame, textCol: String, outCol: String,
      errCol: String, dim: Int = 64, batchSize: Int = 128,
      embedBatch: Seq[String] => Seq[Array[Float]] = null): DataFrame = {
    val schema = df.schema
      .add(StructField(outCol, ArrayType(FloatType, containsNull = false), nullable = true))
      .add(StructField(errCol, StringType, nullable = true))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val idx = df.schema.fieldIndex(textCol)
    val embedFn: Seq[String] => Seq[Array[Float]] =
      Option(embedBatch).getOrElse((texts: Seq[String]) => texts.map(hashEmbed(_, dim)))
    df.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val texts = batch.map(r => r.getString(idx))
        // Only NonFatal failures are quarantined — an OOM/VM error must
        // fail the task, not masquerade as a per-row inference error. A
        // model that returns the wrong COUNT is a contract bug, not a bad
        // row: ContractViolation is re-thrown past BOTH catch layers (it is
        // NonFatal by JVM rules, so it needs the explicit exclusion) and
        // fails the task loudly.
        def checked(in: Seq[String]): Seq[Array[Float]] = {
          val out = embedFn(in)
          if (out.length != in.length) throw new ContractViolation(
            s"embedBatch contract violation: ${out.length} vectors for ${in.length} inputs")
          out
        }
        val results: Seq[(Option[Array[Float]], Option[String])] =
          try checked(texts).map(v => (Some(v), None))
          catch {
            case e: ContractViolation => throw e
            case scala.util.control.NonFatal(_) => // batch poisoned: isolate per item
              texts.map { t =>
                try (Some(checked(Seq(t)).head), None)
                catch {
                  case e: ContractViolation => throw e
                  case scala.util.control.NonFatal(e) =>
                    (None, Some(s"${e.getClass.getSimpleName}: " +
                      Option(e.getMessage).getOrElse("").take(120)))
                }
              }
          }
        batch.iterator.zip(results.iterator).map { case (r, (v, e)) =>
          org.apache.spark.sql.Row.fromSeq(
            r.toSeq :+ v.map(_.toSeq).orNull :+ e.orNull)
        }
      }
    }(enc)
  }

  /**
   * Batched per-partition embedding — the production shape for real model
   * inference (mirrors the reference's batch_size=128 buffering at
   * vdb.py:76-79): one model handle per partition, texts fed in fixed-size
   * batches. Here the "model" is the deterministic hash embedder; an
   * ONNX/JNI transformer drops into `embedBatch` without touching the plan.
   */
  def embedPartitions(df: DataFrame, textCol: String, outCol: String,
                      dim: Int = 64, batchSize: Int = 128,
                      embedBatch: Seq[String] => Seq[Array[Float]] = null): DataFrame = {
    val spark = df.sparkSession
    val schema = df.schema.add(StructField(outCol, ArrayType(FloatType, containsNull = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val idx = df.schema.fieldIndex(textCol)
    // the injected model function (Engine.Embedder.embedBatch) or the
    // deterministic hash default; either way ONE call per `batchSize` rows
    val embedFn: Seq[String] => Seq[Array[Float]] =
      Option(embedBatch).getOrElse((texts: Seq[String]) => texts.map(hashEmbed(_, dim)))
    df.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val vecs = embedFn(batch.map(r => r.getString(idx)))
        require(vecs.length == batch.length,
          s"embedder returned ${vecs.length} vectors for a ${batch.length}-text batch")
        batch.iterator.zip(vecs.iterator).map { case (r, v) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ v.toSeq)
        }
      }
    }(enc)
  }
}
