package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Compaction, Dedup, VectorSearch}

/**
 * Scale-curve measurement (`runMain graft.Scale [small] [ops=a,b]`): runs
 * the scale-shaped operators — near-dup LSH, PPJoin set-similarity, IVF
 * search (pruned vs exact), compaction (full and partition-selective),
 * incremental near-dup (self-contained vs signature-indexed), star
 * connected components — at 1×/10×/100× the sf0.1 row counts and records
 * wall time AND shuffle bytes per run.
 *
 * Rationale (round-6 verdict task 1): plan gates prove the SHAPE is right
 * (pushdown, broadcast, partition pruning, no cartesians); this measures
 * the scaling EXPONENT — near-linear wall/shuffle growth is the evidence
 * that the shapes hold at 100×, the thing local sf0.1 timings take on
 * faith. Output: one JSON line per (op, scale) with rows, wall_s,
 * shuffle_read_mb, shuffle_write_mb; appended to scale_results.jsonl and
 * summarized by hand in SCALE.md.
 *
 * Data: the `graft-corpus` DSv2 source supplies the id backbone at any
 * scale (no storage); document text is derived per-row from xxhash64 so
 * the token space GROWS with the corpus (vocab = 8n) — constant-vocab
 * random text is pathological for prefix filtering (every doc shares
 * every shingle; df² candidate blowup no real deduped web corpus shows,
 * where 3-shingles are nearly unique). 2% of docs are planted near-dups
 * (90% token-prefix of their base doc) so the dedup ops have real work at
 * every scale.
 */
object Scale {

  /** Task-level shuffle byte counters (stage-level metrics miss skipped
    * stages; task-end is the ground truth the UI itself sums). */
  private final class ShuffleMeter extends SparkListener {
    val read = new AtomicLong(0L)
    val written = new AtomicLong(0L)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  /** Deterministic corpus at `n` docs: graft-corpus backbone (column-pruned
    * to doc_id/source — the synthetic body generator never runs), text from
    * a vocab that scales with n, one near-dup per 50 docs. */
  def corpus(spark: SparkSession, n: Long): DataFrame = {
    val v = math.max(1000L, 8L * n)
    spark.read.format("graft-corpus")
      .option("rows", n).option("partitions", 32).load()
      .select(col("doc_id"), col("source"))
      .withColumn("gid",
        when(pmod(col("doc_id"), lit(50)) === 1, col("doc_id") - 1)
          .otherwise(col("doc_id")))
      .withColumn("nw",
        (lit(30) + pmod(xxhash64(col("gid"), lit(7)), lit(120))).cast("int"))
      // near-dup docs keep the first 90% of the base doc's tokens
      .withColumn("nw",
        when(col("doc_id") =!= col("gid"), (col("nw") * 9).divide(10).cast("int"))
          .otherwise(col("nw")))
      .withColumn("text", concat_ws(" ",
        transform(sequence(lit(1), col("nw")),
          i => concat(lit("t"), pmod(xxhash64(col("gid") * 1000 + i), lit(v))))))
      .select("doc_id", "source", "text")
  }

  /** Deterministic unit vectors, dim 64. */
  def vectors(spark: SparkSession, n: Long, salt: Int): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        j => ((pmod(xxhash64(col("id"), j, lit(salt)), lit(2001)) - 1000)
          .cast("double") / 1000.0d).cast("float")).as("embedding"))

  /** Chain blocks of 100 plus 10% random cross-links: many mid-size
    * components that merge across blocks — several star rounds to converge,
    * like real near-dup graphs. */
  def edges(spark: SparkSession, m: Long): DataFrame = {
    val chain = spark.range(m).select(col("id").as("src"),
      when(pmod(col("id"), lit(100)) === 99, col("id") - 99)
        .otherwise(col("id") + 1).as("dst"))
    val cross = spark.range(m).filter(pmod(col("id"), lit(10)) === 0)
      .select(col("id").as("src"), pmod(xxhash64(col("id"), lit(11)), lit(m)).as("dst"))
    chain.unionAll(cross)
  }

  def main(args: Array[String]): Unit = {
    val small = args.contains("small") // quick smoke ladder for dev
    // ops=a,b,c restricts to named measurement groups (re-run one curve)
    val only: Set[String] = args.collectFirst {
      case a if a.startsWith("ops=") => a.stripPrefix("ops=").split(",").toSet
    }.getOrElse(Set("neardup", "setsim", "ivf", "compaction", "selective",
      "incdedup", "cc", "export", "spans", "invidx", "pq", "maxsim", "ivfpq",
      "snm", "rangeivf", "filtered", "binary", "drain", "lexserve", "vecdrain",
      "growing", "cluster", "scalaridx", "ndserve", "softdel", "dsir", "pairs",
      "textmatch", "jsonrange", "mvf"))
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      // fork-free local-FS permissions (graft.util.NioLocalFileSystem):
      // stock Hadoop shells out to /bin/chmod per created file
      .config("spark.hadoop.fs.file.impl", "graft.util.NioLocalFileSystem")
      .config("spark.driver.memory", "16g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)
    spark.range(1000).selectExpr("sum(id)").collect() // warmup

    val out = new java.io.PrintWriter(new java.io.FileWriter("scale_results.jsonl", true))
    def measure(op: String, scale: String, rows: Long)(body: => Long): Unit = {
      spark.catalog.clearCache()
      System.gc()
      val r0 = meter.read.get(); val w0 = meter.written.get()
      val t0 = System.nanoTime()
      val outRows = body
      val wall = (System.nanoTime() - t0) / 1e9
      val line = f"""{"op":"$op","scale":"$scale","rows":$rows,"wall_s":$wall%.2f,"out_rows":$outRows,"shuffle_read_mb":${(meter.read.get - r0) / 1e6}%.1f,"shuffle_write_mb":${(meter.written.get - w0) / 1e6}%.1f}"""
      println("SCALE " + line)
      out.println(line); out.flush()
    }

    // `deep` adds a 1000x rung (5M docs) to the TWO scale-critical ladders
    // (incdedup's banding ingest gate, lexserve's build/serve split) —
    // round-12 verdict task 6: the 100 TB claims extrapolated two decades
    // from the 100x rung; one more decade is feasible in this sandbox for
    // these two and catches any superlinear term 100x hides. Run with
    // SPARK_DRIVER_MEM=64g (the 5M-doc signature index and its shuffle
    // spill share one local-mode JVM).
    val deep = args.contains("deep")
    // `deeponly` reruns JUST the 1000x rung (resume after a partial run)
    val deepOnly = args.contains("deeponly")
    val deepRung: Seq[(String, Long)] =
      if (deep || deepOnly) Seq("1000x" -> 5000000L) else Nil
    // at 5M docs a 32-partition hash aggregation holds ~160k docs of
    // shingle/minhash state per task x 32 concurrent tasks — past the
    // per-task execution-memory share (AGGREGATE_OUT_OF_MEMORY, measured).
    // A real cluster sizes shuffle.partitions to the data volume (the
    // SCALE.md guidance); the deep rung does the same. AQE coalesces the
    // small stages back down, so the lower rungs are unaffected.
    def sizePartitions(scale: String): Unit =
      spark.conf.set("spark.sql.shuffle.partitions",
        if (scale == "1000x") "256" else "32")
    val docLadder: Seq[(String, Long)] =
      if (small) Seq("1x" -> 500L, "10x" -> 5000L)
      else Seq("1x" -> 5000L, "10x" -> 50000L, "100x" -> 500000L)
    val vecLadder: Seq[(String, Long)] =
      if (small) Seq("1x" -> 2000L, "10x" -> 20000L)
      else Seq("1x" -> 2000L, "10x" -> 20000L, "100x" -> 200000L)
    val edgeLadder: Seq[(String, Long)] =
      if (small) Seq("1x" -> 10000L, "10x" -> 100000L)
      else Seq("1x" -> 100000L, "10x" -> 1000000L, "100x" -> 10000000L)

    // 1. MinHash-LSH near-dup (shingle → minhash → band join → verify)
    if (only("neardup")) docLadder.foreach { case (s, n) =>
      measure("neardup_lsh", s, n) {
        Dedup.nearDupPairs(corpus(spark, n), "text", "doc_id").count()
      }
    }
    // 2. PPJoin exact set-similarity self-join at t=0.5
    if (only("setsim")) docLadder.foreach { case (s, n) =>
      measure("setsim_ppjoin", s, n) {
        Dedup.setSimJoin(corpus(spark, n), "text", "doc_id", 1, 2).count()
      }
    }
    // 3. IVF build + pruned vs exact search (256 queries, k=10). One
    //    untimed warm search first: the first query against a freshly
    //    cached cell table pays its codegen + first-touch, which is session
    //    machinery, not the probe-pruning cost under measurement.
    if (only("ivf")) vecLadder.foreach { case (s, n) =>
      val nlist = math.max(16, math.sqrt(n.toDouble).toInt / 2)
      val nprobe = math.max(4, nlist / 16)
      val corpusVecs = vectors(spark, n, 0)
      val queries = vectors(spark, 256, 1)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
        .cache()
      queries.count()
      var idx: VectorSearch.IvfIndex = null
      measure("ivf_build", s, n) {
        idx = VectorSearch.buildIvf(corpusVecs, nlist)
        idx.cells.cache().count()
      }
      idx.search(queries.limit(8), 10, nprobe).count() // warm
      measure("ivf_search_pruned", s, n) {
        idx.search(queries, 10, nprobe).count()
      }
      measure("ivf_search_exact", s, n) {
        idx.search(queries, 10, nlist).count()
      }
      idx.cells.unpersist(blocking = false)
      queries.unpersist(blocking = false)
    }
    // 4. Compaction: 32-way-fragmented hive layout (8 source dirs × ~32
    //    writer tasks each) rewritten to one file per directory
    if (only("compaction")) docLadder.foreach { case (s, n) =>
      val base = java.nio.file.Files.createTempDirectory("graft-scale-").toString
      val in = s"$base/frag"; val outP = s"$base/compact"
      corpus(spark, n).repartition(32)
        .write.mode("overwrite").partitionBy("source").parquet(in)
      measure("compaction", s, n) {
        Compaction.compact(spark, in, outP, "source", sortCols = Seq("doc_id"))
        spark.read.parquet(outP).count()
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
    // 4b. SELECTIVE compaction: same 8-dir layout but only 2 dirs are
    //     fragmented (32 batch files each); the other 6 are healthy. The
    //     claim under measurement: cost tracks the FRAGMENTED bytes, not
    //     the table — compare the shuffle column against group 4.
    if (only("selective")) docLadder.foreach { case (s, n) =>
      val base = java.nio.file.Files.createTempDirectory("graft-scale-sel-").toString
      val in = s"$base/layout"
      val c = corpus(spark, n)
      c.filter(col("source").isin("uci", "kaggle")).repartition(32)
        .write.mode("overwrite").partitionBy("source").parquet(in)
      c.filter(!col("source").isin("uci", "kaggle")).repartition(col("source"))
        .write.mode("append").partitionBy("source").parquet(in)
      measure("compaction_selective", s, n) {
        val rewritten = Compaction.compactSelective(spark, in, "source", "doc_id",
          maxFilesPerDir = 4, targetFileBytes = 128L * 1024 * 1024)
        require(rewritten.toSet == Set("uci", "kaggle"),
          s"expected exactly the 2 fragmented dirs, got $rewritten")
        spark.read.parquet(in).count()
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
    // 4c. Incremental near-dup: a FIXED 500-doc batch deduped against a
    //     growing store, both spellings. The claim under measurement:
    //     the self-contained call re-derives the store's signatures per
    //     batch (cost grows with the store); the signature-index call
    //     pays a one-time build, then per-batch cost stays ~flat.
    if (only("incdedup")) ((if (deepOnly) Nil else docLadder) ++ deepRung).foreach { case (s, n) =>
      sizePartitions(s)
      val storeDf = corpus(spark, n)
      val batch = corpus(spark, 500)
        .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
      if (!deepOnly) measure("incdedup_selfcontained", s, n) {
        Dedup.incrementalNearDupPairs(storeDf, batch, "text", "doc_id",
          threshold = 0.5).count()
      }
      var idx: Dedup.SigIndex = null
      measure("incdedup_index_build", s, n) {
        idx = Dedup.buildSigIndex(storeDf, "text", "doc_id")
        idx.bandSigs.count()
      }
      measure("incdedup_indexed_batch", s, n) {
        Dedup.incrementalNearDupPairsIndexed(idx, batch, "text", threshold = 0.5).count()
      }
    }
    // 5. Star connected components
    if (only("cc")) edgeLadder.foreach { case (s, m) =>
      measure("cc_star", s, m) {
        Dedup.connectedComponentsStar(edges(spark, m), "src", "dst").count()
      }
    }
    // 6. Sharded training export (q158's layout verb): seeded order +
    //    shard co-location + bounded files. The claim under measurement:
    //    ONE shuffle of the payload (shuffle write ≈ input bytes, linear),
    //    and the file count tracks rows/bound, never task count.
    if (only("export")) docLadder.foreach { case (s, n) =>
      val base = java.nio.file.Files.createTempDirectory("graft-scale-exp-").toString
      measure("sharded_export", s, n) {
        val d = corpus(spark, n)
          .select(col("doc_id"), col("text"))
          .withColumn("ok",
            pmod(col("doc_id") * lit(2654435761L) + lit(40503L), lit(1000003L)))
          .withColumn("shard", pmod(col("ok"), lit(8L)))
        d.repartition(col("shard"))
          .sortWithinPartitions(col("ok"), col("doc_id"))
          .write.mode("overwrite").option("maxRecordsPerFile", "20000")
          .partitionBy("shard").parquet(s"$base/out")
        spark.read.parquet(s"$base/out").count()
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
    // 7. Substring-span dedup (q137 shape): every 32-char window's xxhash64
    //    grouped corpus-wide (8-byte keys — the window text never shuffles),
    //    cross-doc windows broadcast back, island merge per doc. Boilerplate
    //    planted on every 6th doc so maximal spans exist at every scale.
    //    Ladder matches the doc corpora: sf0.1 ≈ the 10x rung.
    if (only("spans")) {
      val spansLadder: Seq[(String, Long)] =
        if (small) Seq("1x" -> 500L, "10x" -> 5000L)
        else Seq("1x" -> 2000L, "10x" -> 20000L, "100x" -> 200000L)
      val boiler = "all rights reserved unauthorized reproduction of this " +
        "material is strictly prohibited without prior written consent"
      spansLadder.foreach { case (s, n) =>
        measure("substring_spans", s, n) {
          val base = corpus(spark, n)
            .withColumn("text2",
              when(pmod(col("doc_id"), lit(6)) === 0,
                concat(col("text"), lit(" " + boiler))).otherwise(col("text")))
            .filter(length(col("text2")) >= 32)
          val grams = base
            .select(col("doc_id"), col("text2"),
              explode(sequence(lit(1), length(col("text2")) - 31)).as("p"))
            .select(col("doc_id"), col("p"),
              xxhash64(expr("substring(text2, p, 32)")).as("h"))
          val dup = grams.groupBy(col("h"))
            .agg((min(col("doc_id")) =!= max(col("doc_id"))).as("x"))
            .filter(col("x")).select("h")
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col("p"))
          grams.join(broadcast(dup), "h")
            .withColumn("island", col("p") - row_number().over(w))
            .groupBy(col("doc_id"), col("island")).agg(count(lit(1)).as("npos"))
            .count()
        }
      }
    }
    // 8. Inverted index: build (one explode + partitioned write) vs pruned
    //    conjunctive probe. The probe's claim: cost tracks the queried
    //    terms' POSTINGS (planted on fixed residues, so they grow linearly
    //    but stay ~0.1% of the corpus), never the corpus scan — the shuffle
    //    column must stay orders of magnitude under the build's.
    if (only("invidx")) docLadder.foreach { case (s, n) =>
      val base = java.nio.file.Files.createTempDirectory("graft-scale-idx-").toString
      val docs = corpus(spark, n).withColumn("text",
        concat(col("text"),
          when(pmod(col("doc_id"), lit(10)) === 0, lit(" qalpha")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(15)) === 0, lit(" qbeta")).otherwise(lit(""))))
      measure("invidx_build", s, n) {
        graft.operators.InvertedIndex.build(docs, "doc_id", "text", s"$base/idx")
        spark.read.parquet(s"$base/idx").where(lit(false)).count() // listing only
      }
      measure("invidx_probe", s, n) {
        graft.operators.InvertedIndex
          .queryAll(spark, s"$base/idx", "doc_id", Seq("qalpha", "qbeta")).count()
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
    // 9. PQ encode + ADC scan (q94 shape): seeded codebooks as literals,
    //    per-row compressed-domain encode, broadcast LUT join, per-query
    //    distance top-k — 256 queries, k=10.
    if (only("pq")) vecLadder.foreach { case (s, n) =>
      val corpusVecs = vectors(spark, n, 0)
      val queries = vectors(spark, 256, 1)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      measure("pq_adc_scan", s, n) {
        VectorSearch.topKPqSeeded(corpusVecs, queries, 10, dim = 64).count()
      }
    }
    // 9b. IVF-PQ (q198 shape): the composed index — same 256-query ADC work
    //     as group 9 but gated to nprobe/nlist = 1/4 of the cells. The claim
    //     under measurement: wall tracks the PROBED fraction of the flat
    //     ADC scan's (linear-in-corpus) cost.
    if (only("ivfpq")) vecLadder.foreach { case (s, n) =>
      val corpusVecs = vectors(spark, n, 0)
      val queries = vectors(spark, 256, 1)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      measure("ivfpq_scan", s, n) {
        VectorSearch.topKIvfPq(corpusVecs, queries, 10, dim = 64,
          nlist = 16, nprobe = 4).count()
      }
    }
    // 10. ColBERT MaxSim late interaction (q176 shape): ~8 token vectors
    //     per document, 4 query tokens broadcast; per-(doc, qtoken) max
    //     then per-doc sum. Rows = token vectors.
    if (only("maxsim")) vecLadder.foreach { case (s, n) =>
      val tokVecs = vectors(spark, n, 2)
        .withColumn("doc_id", (col("vec_id") / 8).cast("long"))
      val qtoks = vectors(spark, 4, 3)
        .select(col("vec_id").as("qi"), col("embedding").as("qvec"))
      measure("maxsim", s, n) {
        tokVecs.crossJoin(broadcast(qtoks))
          .select(col("doc_id"), col("qi"),
            graft.functions.VectorFns.cosineSim(col("embedding"), col("qvec")).as("c"))
          .groupBy(col("doc_id"), col("qi")).agg(max(col("c")).as("m"))
          .groupBy(col("doc_id"))
          .agg(sum(col("m").cast("decimal(18,6)")).as("score"))
          .count()
      }
    }
    // 12. IVF range search, pruned vs exact (q202/q207 shapes): CLUSTERED
    //     vectors (32 well-separated directions + noise — near-random
    //     vectors give every cell a ~90° radius and nothing can prune,
    //     which is also why IVF itself needs clustered data to pay), high
    //     threshold, persisted layout. The pruned scan must stay exact
    //     (same out_rows) while reading a shrinking fraction of cells.
    if (only("rangeivf")) vecLadder.foreach { case (s, n) =>
      val clustered = spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          (when(j === pmod(col("id"), lit(32)).cast("int"), 1.0d).otherwise(0.0d)
            + (pmod(xxhash64(col("id"), j, lit(9)), lit(201)) - 100)
              .cast("double") / 1000.0d).cast("float")).as("embedding"))
      val dir = java.nio.file.Files.createTempDirectory(s"graft_scale_rivf_$s").toString
      val built = VectorSearch.buildIvf(clustered, nlist = 32)
      VectorSearch.writeIvf(built, dir)
      val loaded = VectorSearch.loadIvf(spark, dir)
      val queries = clustered.filter(col("vec_id") < 16)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
        .localCheckpoint(true)
      measure("range_pruned", s, n) {
        loaded.rangeSearch(queries, 0.85).count()
      }
      measure("range_exact", s, n) {
        clustered.crossJoin(broadcast(queries))
          .withColumn("score", round(
            graft.functions.VectorFns.cosineSim(col("embedding"), col("query_vec")), 4))
          .filter(col("score") >= 0.85).count()
      }
    }

    // 10c. Binary-sketch scoring tier (q217's shape) vs full-float cosine:
    //      sign-binarize to 2 packed longs (one narrow map), then score 256
    //      queries by popcount arithmetic. The claim under measurement: the
    //      binary scan's cost per row is a small constant of the float
    //      scan's (16 bytes + 4 bit-ops vs 256 bytes + 64 FMAs per pair),
    //      so the sketch tier is the affordable pre-filter at corpus scale.
    if (only("binary")) vecLadder.foreach { case (s, n) =>
      val pack = (from: Int) =>
        s"aggregate(zip_with(slice(embedding, $from, 32), sequence(0, 31), " +
          "(x, i) -> IF(x > 0D, shiftleft(1L, i), 0L)), 0L, (a, b) -> a | b)"
      val corpusVecs = vectors(spark, n, 0)
      val codes = corpusVecs
        .selectExpr("vec_id", s"${pack(1)} AS lo", s"${pack(33)} AS hi")
        .localCheckpoint(true)
      val qf = vectors(spark, 1024, 1)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
        .localCheckpoint(true)
      val qb = qf.selectExpr("query_id", "query_vec AS embedding")
        .selectExpr("query_id", s"${pack(1)} AS qlo", s"${pack(33)} AS qhi")
        .localCheckpoint(true)
      measure("binary_hamming_scan", s, n) {
        codes.crossJoin(broadcast(qb))
          .selectExpr("query_id", "vec_id",
            "bit_count(lo ^ qlo) + bit_count(hi ^ qhi) AS d")
          .groupBy(col("query_id")).agg(min(col("d"))).count()
      }
      measure("float_cosine_scan", s, n) {
        corpusVecs.crossJoin(broadcast(qf))
          .select(col("query_id"), col("vec_id"),
            graft.functions.VectorFns.cosineSim(col("embedding"), col("query_vec")).as("c"))
          .groupBy(col("query_id")).agg(max(col("c"))).count()
      }
    }

    // 10b. Filtered ANN search (Engine.searchWhere's gate shape): the
    //      probe-pruned candidate set semi-joined against a 10% eligibility
    //      set, vs the unfiltered probe. The claim under measurement: the
    //      gate's cost tracks the CANDIDATE set (it broadcasts the small
    //      eligible side or semi-joins candidates — both o(corpus)), so the
    //      filtered search's shuffle stays within a constant of the
    //      unfiltered probe at every scale — never a second corpus pass.
    if (only("filtered")) vecLadder.foreach { case (s, n) =>
      val nlist = math.max(16, math.sqrt(n.toDouble).toInt / 2)
      val nprobe = math.max(4, nlist / 16)
      val corpusVecs = vectors(spark, n, 0)
      val idx = VectorSearch.buildIvf(corpusVecs, nlist)
      idx.cells.cache().count()
      val queries = vectors(spark, 256, 1)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
        .localCheckpoint(true)
      val eligible = corpusVecs.select(col("vec_id"))
        .filter(pmod(col("vec_id"), lit(10)) === 0)
      idx.scoredCandidates(queries.limit(8), nprobe).count() // warm
      measure("ann_probe_unfiltered", s, n) {
        idx.scoredCandidates(queries, nprobe).count()
      }
      measure("ann_probe_filtered", s, n) {
        idx.scoredCandidates(queries, nprobe)
          .join(eligible, Seq("vec_id"), "left_semi").count()
      }
      idx.cells.unpersist(blocking = false)
    }

    // 11. Sorted-neighborhood pairing (q200/q201 shapes) under a
    //     DELIBERATELY HOT prefix block: 20% of documents share one
    //     12-char boilerplate opening, so a blk-only join with a rank
    //     post-filter would materialize (n/5)² rows in that block — the
    //     exploded (blk, rnk) equi-join and the global fringe slide must
    //     both stay linear in n·w. w = 3.
    if (only("snm")) docLadder.foreach { case (s, n) =>
      val hot = corpus(spark, n)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit("BOILERPLATE "), col("text"))).otherwise(col("text")))
        .withColumn("blk", substring(col("text"), 1, 12))
        .withColumn("len", length(col("text")))
        .select(col("doc_id"), col("blk"), col("len"))
      measure("snm_blocked", s, n) {
        Dedup.snmCandidates(hot, "blk", Seq("len"), "doc_id", 3).count()
      }
      measure("snm_global", s, n) {
        Dedup.snmGlobalPairs(hot, Seq("blk", "len"), "doc_id", 3).count()
      }
    }

    // 12. Scalar read-API drain (q222's claim under measurement): draining
    //     a filtered store in pages via KEYSET pagination
    //     (Engine.queryIterator — doc_id > cursor pushed into the scan of a
    //     range-clustered store) vs naive OFFSET pagination (each page a
    //     top-(offset+batch) over the whole filter). Both drain the same
    //     50 pages; keyset wall should grow ~linearly with n while offset
    //     pays the triangular re-rank (page p re-selects p·batch rows) —
    //     the reason query_iterator exists in Milvus and queryIterator
    //     spells it keyset here.
    if (only("drain")) docLadder.foreach { case (s, n) =>
      val base = java.nio.file.Files.createTempDirectory("graft-scale-drain-").toString
      corpus(spark, n).select(col("doc_id"), col("source"))
        .repartitionByRange(8, col("doc_id")).sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(s"$base/store")
      val eng = new Engine(spark, EngineConfig(s"$base/store", s"$base/index"))
      val batch = math.max(100L, n / 50L).toInt
      measure("drain_keyset", s, n) {
        eng.queryIterator(col("doc_id") >= 0, Nil, batch).map(_.count()).sum
      }
      measure("drain_offset", s, n) {
        var got = 0L
        var off = 0L
        while (off < n) {
          got += eng.query(col("doc_id") >= 0, Nil, batch, off.toInt).count()
          off += batch
        }
        got
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
    // 19. Persisted-lexical hybrid serving (round-10 task 2): the claim
    //     under measurement — the BM25 ranking's SERVING cost tracks the
    //     matched postings (result size), not the corpus. The build pass
    //     (one tokenize + two shuffles) is measured separately; serving
    //     wall/shuffle should stay near-flat across 1x→100x while the
    //     corpus (and its build cost) grows 100x, because the probe reads
    //     only the query terms' bucket directories.
    if (only("lexserve")) ((if (deepOnly) Nil else docLadder) ++ deepRung).foreach { case (s, n) =>
      sizePartitions(s)
      val base = java.nio.file.Files.createTempDirectory("graft-scale-lex-").toString
      corpus(spark, n).select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$base/store")
      val eng = new Engine(spark, EngineConfig(s"$base/store", s"$base/index"))
      val qs = Seq("t3 t17 t41", "t5 t99") // token ids "t<k>" exist at every scale (vocab >= 1000)
      measure("lexserve_build", s, n) {
        eng.lexicalScores(qs).count() // first call builds + stamps the layout
      }
      measure("lexserve_query", s, n) {
        eng.lexicalScores(qs).count() // steady-state: pruned postings probe
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
    // 20. search_iterator vs offset paging over the vector ranking
    //     (round-10 task 7): drain the top-5000 ranks in 500-row pages.
    //     The keyset iterator pays ONE corpus scoring pass (pinned) plus a
    //     cheap top-500 per page; offset paging re-scores the corpus for
    //     every page (10 passes here) — the gap is the pass count and
    //     widens linearly with drain depth.
    if (only("vecdrain")) vecLadder.foreach { case (s, n) =>
      val base = java.nio.file.Files.createTempDirectory("graft-scale-vdrain-").toString
      corpus(spark, n).select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$base/store")
      val eng = new Engine(spark, EngineConfig(s"$base/store", s"$base/index"))
      eng.update() // untimed: offline chunk+embed build
      val q = "t3 t17 t41"
      val pages = 10; val batch = 500
      measure("vecdrain_keyset", s, n) {
        eng.searchIterator(q, batch).take(pages).map(_.count()).sum
      }
      measure("vecdrain_offset", s, n) {
        (0 until pages).map(p => eng.searchPage(Seq(q), p * batch, batch).count()).sum
      }
      // round-11 task 1: a SHALLOW drain (2 pages) over a 64-bucket slim
      // pin — beyond the one scoring pass every drain pays, each page must
      // read only its rank bucket(s) (~2/64 of the pin), never the whole
      // pin, and no preview byte rides the pin at all
      measure("vecdrain_shallow", s, n) {
        eng.searchIterator(q, batch, buckets = 64).take(2).map(_.count()).sum
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
    // 21. Growing-segment serving (round-11): a FIXED 500-doc ingest wave
    //     lands after the index tick; searchGrowing brute-scores ONLY the
    //     store files the sealed manifest doesn't cover and merges them
    //     into the sealed ranking. The claim under measurement: the
    //     merge's extra cost over the sealed-only read stays ~flat
    //     (delta-sized) while the sealed corpus grows 100x — Milvus's
    //     growing-segment bookkeeping, resolved at file granularity.
    if (only("growing")) vecLadder.foreach { case (s, n) =>
      val base = java.nio.file.Files.createTempDirectory("graft-scale-grow-").toString
      corpus(spark, n).select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$base/store")
      val eng = new Engine(spark, EngineConfig(s"$base/store", s"$base/index"))
      eng.update() // untimed: the offline index tick that stamps the manifest
      eng.ingest(corpus(spark, 500)
        .select((col("doc_id") + 900000000L).as("doc_id"), col("text")))
      val q = Seq("t3 t17 t41")
      eng.searchGrowing(q, ignoreGrowing = true).count() // warm
      measure("growing_sealed_only", s, n) {
        eng.searchGrowing(q, ignoreGrowing = true).count()
      }
      measure("growing_merge", s, n) {
        eng.searchGrowing(q).count()
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
    // 22. Clustering compaction (round-11): a key-filtered read over a
    //     5-wave fragmented store vs the same read after compactClustered.
    //     The claim under measurement: after the rewrite the filter's
    //     footer min/max skip every file outside the key's range — the
    //     clustered read's wall tracks the SELECTED key's bytes while the
    //     fragmented read pays every wave's file count. The rewrite itself
    //     is the one-shuffle range repartition (linear, offline-window).
    if (only("cluster")) docLadder.foreach { case (s, n) =>
      val base = java.nio.file.Files.createTempDirectory("graft-scale-clu-").toString
      val docs = corpus(spark, n)
      (0 until 5).foreach { w =>
        docs.filter(pmod(col("doc_id"), lit(5)) === w)
          .write.mode("append").parquet(s"$base/store")
      }
      val eng = new Engine(spark, EngineConfig(s"$base/store", s"$base/index"))
      measure("cluster_read_fragmented", s, n) {
        eng.query(col("source") === "uci", Seq("source")).count()
      }
      measure("cluster_rewrite", s, n) {
        eng.compactClustered("source", maxRecordsPerFile = math.max(1000L, n / 32))
      }
      measure("cluster_read_clustered", s, n) {
        eng.query(col("source") === "uci", Seq("source")).count()
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
    // 23. Scalar inverted index (round-11): an equality lookup through the
    //     persisted value→doc_id layout vs the same filter as a plain
    //     store scan, across a growing corpus. The claim under
    //     measurement: the indexed serve reads ONE value-hash bucket
    //     directory plus the matching store rows (flat-ish in corpus
    //     size for a fixed-selectivity value the store scan pays
    //     linearly); the build is the one corpus-sized pass, paid
    //     offline like every inverted layout.
    // 25. Tombstone vs copy-on-write deletes (round-11): delete 1% of a
    //     growing corpus both ways. The claim under measurement:
    //     deleteSoft's cost is O(|ids|) (a log append — flat-ish wall,
    //     near-zero shuffle at every corpus size) while delete()'s
    //     copy-on-write rewrite tracks the CORPUS; the post-soft masked
    //     read pays only the sliver anti-join over the broadcast log.
    if (only("softdel")) docLadder.foreach { case (s, n) =>
      val base = java.nio.file.Files.createTempDirectory("graft-scale-sdel-").toString
      corpus(spark, n).select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$base/store")
      corpus(spark, n).select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$base/store2")
      val doomed = spark.read.parquet(s"$base/store")
        .filter(pmod(col("doc_id"), lit(100)) === 0).select("doc_id")
        .localCheckpoint(true)
      val soft = new Engine(spark, EngineConfig(s"$base/store", s"$base/index"))
      measure("softdel_soft", s, n) { soft.deleteSoft(doomed) }
      measure("softdel_masked_read", s, n) {
        soft.query(col("doc_id") >= 0L, Seq("text")).count()
      }
      val hard = new Engine(spark, EngineConfig(s"$base/store2", s"$base/index2"))
      measure("softdel_cow", s, n) { hard.delete(doomed) }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
    // 25. DSIR importance selection (round-11): score every document by
    //     the target/raw hashed-unigram likelihood ratio and take the
    //     top-100 (orderBy+limit = distributed top-k, no global window).
    //     The claim under measurement: the MODEL is a constant 1024-row
    //     broadcast frame at every corpus size — shuffle is the per-doc
    //     partial-agg reduce (linear, map-side-combined), never a
    //     vocabulary- or pair-shaped blowup.
    if (only("dsir")) docLadder.foreach { case (s, n) =>
      measure("dsir_select", s, n) {
        val scores = graft.operators.Sampling.dsirScores(
          corpus(spark, n), "doc_id", "text",
          pmod(col("doc_id"), lit(5)) === 0)
        scores.orderBy(col("score_bp").desc, col("doc_id").asc).limit(100).count()
      }
    }
    // 26. Contrastive pair mining (round-11, q274's shape): adjacent-chunk
    //     positives + ring-ordered hash-bucket negatives. The claim under
    //     measurement: the negative assignment is two PER-BUCKET windows
    //     (parallel, chunk-linear) + one doc-local equi-join — shuffle
    //     grows linearly with the chunk count, never pair-shaped.
    if (only("pairs")) docLadder.foreach { case (s, n) =>
      measure("contrastive_pairs", s, n) {
        import graft.functions.TextFns
        val chunks = corpus(spark, n)
          .filter(length(col("text")) > 0)
          .select(col("doc_id"),
            posexplode(TextFns.chunk(col("text"), 128, 64)).as(Seq("pos", "chunk")))
          .select(col("doc_id"), col("pos"),
            TextFns.chunkId(col("doc_id"), col("pos")).as("cid"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("b")).orderBy(col("hr"), col("cid"))
        val neg = chunks
          .withColumn("b", graft.operators.Sampling.hashBucket(col("cid"), 64))
          .withColumn("hr", sha2(concat(lit("neg:"), col("cid")), 256))
          .withColumn("n1_cid", lead(col("cid"), 1).over(w))
          .withColumn("n1_doc", lead(col("doc_id"), 1).over(w))
          .withColumn("n2_cid", lead(col("cid"), 2).over(w))
          .withColumn("n2_doc", lead(col("doc_id"), 2).over(w))
          .withColumn("negative",
            when(col("n1_doc").isNotNull && col("n1_doc") =!= col("doc_id"), col("n1_cid"))
              .when(col("n2_doc").isNotNull && col("n2_doc") =!= col("doc_id"), col("n2_cid")))
          .select(col("cid").as("anchor"), col("negative"))
        chunks.select(col("doc_id"), col("pos"), col("cid").as("anchor"))
          .join(chunks.select(col("doc_id"), (col("pos") - 1).as("pos"),
            col("cid").as("positive")), Seq("doc_id", "pos"))
          .join(neg, Seq("anchor"))
          .filter(col("negative").isNotNull)
          .count()
      }
    }
    // 24. Near-dup retrieval index (round-11): searchNearDup's serve cost
    //     across a growing corpus — one query text (an 80% prefix of a
    //     corpus doc) against the persisted minhash layout. The claim
    //     under measurement: serve reads two SLIM layouts (bands + the
    //     candidate-pruned shingle sliver), so its wall tracks the
    //     candidate set, not the corpus; the build is the one linear
    //     corpus pass, paid offline (timed separately).
    if (only("ndserve")) docLadder.foreach { case (s, n) =>
      val base = java.nio.file.Files.createTempDirectory("graft-scale-nds-").toString
      corpus(spark, n).select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$base/store")
      val eng = new Engine(spark, EngineConfig(s"$base/store", s"$base/index"))
      val qtext = spark.read.parquet(s"$base/store").filter(col("doc_id") === 3)
        .select(expr("substring(text, 1, cast(floor(length(text)*0.8) as int))"))
        .head().getString(0)
      measure("ndserve_build", s, n) {
        eng.searchNearDup(Seq(qtext), 0.3).count() // first call pays the layout
      }
      measure("ndserve_serve", s, n) {
        eng.searchNearDup(Seq(qtext), 0.3).count()
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
    // 27. TEXT_MATCH / PHRASE_MATCH gating (round-12): a token planted at
    //     FIXED absolute frequency (500 docs at every rung) separates the
    //     two routes' IO shapes as the corpus grows 100x: the postings-
    //     gated search (q242/q246) reads the term's bucket directory and
    //     verifies/ranks over the ~500-doc candidate sliver — wall and
    //     shuffle should stay ~flat — while the expr-route text scan
    //     (q278's documented-by-design spelling) tokenizes every corpus
    //     row — linear. "Cost is the terms' df, not the corpus size" is
    //     the claim, measured like lexserve was.
    if (only("textmatch")) docLadder.foreach { case (s, n) =>
      val base = java.nio.file.Files.createTempDirectory("graft-scale-tm-").toString
      corpus(spark, n).select(col("doc_id"), col("text"))
        .withColumn("text",
          when(col("doc_id") < 500,
            concat(col("text"), lit(" zebraqx quaggal"))).otherwise(col("text")))
        .write.mode("overwrite").parquet(s"$base/store")
      val eng = new Engine(spark, EngineConfig(s"$base/store", s"$base/index"))
      eng.update() // untimed: offline chunk+embed+index build
      eng.lexicalScores(Seq("t3")).count() // untimed: builds the lex layout
      measure("textmatch_gate", s, n) {
        eng.searchTextMatch(Seq("t3 t17 t41"), "zebraqx").count()
      }
      measure("phrasematch_gate", s, n) {
        eng.searchPhraseMatch(Seq("t3 t17 t41"), "zebraqx quaggal").count()
      }
      measure("textmatch_scan", s, n) {
        eng.retrieve("""TEXT_MATCH(text, "zebraqx")""", limit = 1000).count()
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
    // 28. JSON-path index range serving (round-12, q281's shape): the
    //     equi-depth range buckets + persisted boundaries make a numeric
    //     range lookup a bucket-directory read + semi-join hydration; the
    //     unindexed sibling parses every row's JSON. Build is the one
    //     value-sized pass, paid at index time.
    if (only("jsonrange")) docLadder.foreach { case (s, n) =>
      val base = java.nio.file.Files.createTempDirectory("graft-scale-jr-").toString
      corpus(spark, n).select(col("doc_id"), col("text"))
        .withColumn("meta",
          format_string("""{"stars":%d}""", col("doc_id") * 37 % 500))
        .write.mode("overwrite").parquet(s"$base/store")
      val eng = new Engine(spark, EngineConfig(s"$base/store", s"$base/index"))
      measure("jsonrange_unindexed", s, n) {
        eng.query(get_json_object(col("meta"), "$.stars").cast("double") > 480.0,
          Seq("meta")).count()
      }
      measure("jsonrange_build", s, n) { // first call pays postings + sibling
        eng.queryJsonIndexedRange("meta", "$.stars", lo = Some(480.0),
          loInclusive = false, outputFields = Seq("meta")).count()
      }
      measure("jsonrange_serve", s, n) {
        eng.queryJsonIndexedRange("meta", "$.stars", lo = Some(480.0),
          loInclusive = false, outputFields = Seq("meta")).count()
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
    if (only("scalaridx")) docLadder.foreach { case (s, n) =>
      val base = java.nio.file.Files.createTempDirectory("graft-scale-sidx-").toString
      corpus(spark, n).write.mode("overwrite").parquet(s"$base/store")
      val eng = new Engine(spark, EngineConfig(s"$base/store", s"$base/index"))
      measure("scalaridx_unindexed", s, n) {
        eng.query(col("source") === "uci", Seq("source")).count()
      }
      measure("scalaridx_build", s, n) {
        eng.queryScalarIndexed("source", "uci", Seq("source")).count()
      }
      measure("scalaridx_serve", s, n) {
        eng.queryScalarIndexed("source", "uci", Seq("source")).count()
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
    // 29. Multi-vector-field hybrid (round 14, q290/q293): each dense
    // field gets its OWN hive-by-cell IVF layout, a probe is a partition
    // filter on that field's cells, and every request pool cuts to kPool
    // BEFORE the RRF fusion — so the fusion's shuffle is
    // O(nq·kPool·fields), FLAT in corpus size; only the per-field probes'
    // cell reads grow (sub-linearly, nprobe/nlist of the corpus). Build
    // is per-field linear: one seeded-quantizer assignment map + the
    // partitioned write, no training pass.
    if (only("mvf")) docLadder.foreach { case (s, n) =>
      val base = java.nio.file.Files.createTempDirectory("graft-scale-mvf-").toString
      corpus(spark, n).select(col("doc_id"), col("text"))
        .withColumn("text_vec", expr(
          "transform(sequence(0, 7), j -> cast(pmod(xxhash64(doc_id, j), 9973) as float))"))
        .withColumn("img_vec", expr(
          "transform(sequence(0, 5), j -> cast(pmod(xxhash64(doc_id, j + 11), 9973) as float))"))
        .write.mode("overwrite").parquet(s"$base/store")
      val eng = new Engine(spark, EngineConfig(s"$base/store", s"$base/index",
        nlist = 16, nprobe = 4))
      val probe = spark.read.parquet(s"$base/store").filter(col("doc_id") === 3)
        .select("text_vec", "img_vec").head()
      val qt = probe.getSeq[Float](0); val qi = probe.getSeq[Float](1)
      measure("mvf_build", s, n) {
        eng.fieldIndex("text_vec"); eng.fieldIndex("img_vec"); 2L
      }
      measure("mvf_serve", s, n) {
        eng.hybridSearchFields(Seq(
          Engine.AnnFieldRequest("text_vec", Seq(qt), kPool = 100),
          Engine.AnnFieldRequest("img_vec", Seq(qi), kPool = 100)), k = 10).count()
      }
      measure("mvf_serve_filtered", s, n) { // per-request expr gate (q293)
        eng.hybridSearchFields(Seq(
          Engine.AnnFieldRequest("text_vec", Seq(qt), kPool = 100,
            expr = "doc_id % 2 == 0"),
          Engine.AnnFieldRequest("img_vec", Seq(qi), kPool = 100)), k = 10).count()
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
    out.close()
    spark.stop()
  }
}
