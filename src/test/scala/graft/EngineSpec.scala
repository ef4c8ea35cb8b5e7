package graft

import org.apache.spark.sql.functions._

/** End-to-end lifecycle of the Engine facade: ingest → update → search —
  * the reference's `main.py` flow (crawl-all → vdb.update → vdb.search)
  * as three DataFrame verbs. */
class EngineSpec extends SparkSpec {

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** The distinct literal `cell IN (…)` partition filters of an executed
    * plan (its final and initial forms both print), as the cell sets they
    * name. */
  private def literalCellFilters(plan: String): Seq[Set[Int]] =
    "PartitionFilters: \\[[^\\]]*cell#\\d+ IN \\(([0-9, ]+)\\)".r.findAllMatchIn(plan)
      .map(_.group(1).split(",").map(_.trim.toInt).toSet).toSeq.distinct

  /** The cells a query text probes: the driver-side probe rule. */
  private def probedCells(eng: Engine, q: String, nprobe: Int): Set[Int] = {
    val v = eng.queryDf(Seq(q)).head().getAs[Seq[Float]]("query_vec").map(_.toDouble).toArray
    graft.functions.VectorFns.cellOrder(v, eng.ivfIndex().centroidArray).take(nprobe).toSet
  }

  private def freshEngine(): Engine = {
    val dir = java.nio.file.Files.createTempDirectory("graft-engine").toString
    new Engine(spark, EngineConfig(
      storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8))
  }

  test("ingest is idempotent; update builds one vector per chunk; search ranks k docs") {
    val eng = freshEngine()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang", "source")

    eng.ingest(docs)
    eng.ingest(docs) // second ingest must be a no-op
    assert(eng.store().count() == docs.count())

    eng.update()
    val idx = eng.index()
    assert(idx.count() > docs.count()) // chunking fans out
    assert(idx.select("chunk_id").distinct().count() == idx.count())

    val hits = eng.search(Seq("data processing pipeline", "machine learning"))
    val byQuery = hits.groupBy("query_id").agg(count(lit(1)).as("n")).collect()
    assert(byQuery.length == 2)
    assert(byQuery.forall(_.getLong(1) <= 4))
    // ranked descending within each query
    val q0 = hits.filter(col("query_id") === 0).orderBy("rank")
      .select("score").collect().map(_.getDouble(0))
    assert(q0.sameElements(q0.sorted(Ordering[Double].reverse)))
  }

  test("queryCount: filtered counting verb reads no data column; masks ride along") {
    val eng = freshEngine()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
    eng.ingestDynamic(docs, declared = Seq("lang"))
    // counts equal the plain filtered counts on every field class
    assert(eng.queryCount() == docs.count())
    assert(eng.queryCount("""lang == "en"""") ==
      docs.filter(col("lang") === "en").count())
    assert(eng.queryCount("n_chars > 400") == // dynamic field
      docs.filter(col("n_chars") > 400).count())
    assert(eng.queryCount("""$meta["source"] == "src3"""") == // json path
      docs.filter(col("source") === "src3").count())
    // the one-row frame carries Milvus's literal output field name
    assert(eng.queryCountDf().columns.toSeq == Seq("count(*)"))
    // plan gate: the store scan reads ONLY the filter's columns — a count
    // never materializes a data column, and match-all reads none at all
    // (parquet footer row counts)
    def readCols(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.queryExecution.sparkPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.requiredSchema.fieldNames.toSet
      }.flatten.toSet
    assert(readCols(eng.queryCountDf()) == Set.empty[String],
      "a match-all count must read no columns")
    val rc = readCols(eng.queryCountDf("""lang == "en""""))
    assert(rc == Set("lang"), s"filtered count read $rc")
    // a soft-deleted row leaves every subsequent count (servable == counted)
    val n = eng.queryCount("""lang == "en"""")
    import spark.implicits._
    val dead = docs.filter(col("lang") === "en").select("doc_id")
      .orderBy("doc_id").limit(3)
    assert(eng.deleteSoft(dead) == 3L)
    assert(eng.queryCount("""lang == "en"""") == n - 3)
    assert(eng.queryCount() == docs.count() - 3)
  }

  test("compact bin-packs a fragmented store+index without changing any result") {
    val eng = freshEngine()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    // fragment: four incremental ingests append four part-file batches
    for (m <- 0 to 3) eng.ingest(docs.filter(col("doc_id") % 4 === m))
    eng.update()
    for (m <- 0 to 3) eng.ingest(docs) // appends nothing (dedup) but proves idempotence
    def nFiles(path: String) = spark.read.parquet(path)
      .select(col("_metadata.file_path").as("fn")).distinct().count()
    val storeBefore = nFiles(s"${eng.cfg.storePath}")
    assert(storeBefore > 1, "fixture must be fragmented")
    val hitsBefore = eng.search(Seq("data processing pipeline")).collect().toSeq

    val (sfiles, ifiles) = eng.compact()
    assert(sfiles == 1 && ifiles == 1)
    assert(nFiles(s"${eng.cfg.storePath}") == 1)
    assert(nFiles(s"${eng.cfg.indexPath}") == 1)
    assert(eng.store().count() == docs.count())
    val hitsAfter = eng.search(Seq("data processing pipeline")).collect().toSeq
    assert(hitsBefore == hitsAfter)

    // the IVF memo is a lazy plan over the PRE-compaction part files;
    // compact() must invalidate it so the next IVF search re-resolves the
    // listing against the rewritten layout instead of deleted files
    val ivfBefore = eng.searchIvf(Seq("machine learning")).collect().toSeq
    eng.compact() // second compact with a WARM memo
    val ivfAfter = eng.searchIvf(Seq("machine learning")).collect().toSeq
    assert(ivfBefore == ivfAfter)
  }

  test("fsck detects index orphans from out-of-band store edits") {
    val eng = freshEngine()
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    eng.ingest(docs)
    eng.update()
    assert(eng.fsck().collect().head.getAs[Boolean]("consistent"))
    // remove docs from the STORE behind the engine's back (no delete verb,
    // so the index keeps their chunks) — the orphan case q153 can't plant
    val survivors = eng.store().filter(col("doc_id") % 5 =!= 0).localCheckpoint(true)
    survivors.write.mode("overwrite").parquet(eng.cfg.storePath)
    val audit = eng.fsck().collect().head
    assert(!audit.getAs[Boolean]("consistent"))
    assert(audit.getAs[Long]("n_orphaned") == docs.filter(col("doc_id") % 5 === 0).count())
    assert(audit.getAs[Long]("n_missing") == 0L)
  }

  test("backup/restore round-trips the engine byte-identically; corruption aborts") {
    val eng = freshEngine()
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    eng.ingest(docs)
    eng.update()
    val q = Seq("data processing pipeline")
    val hits = eng.search(q).collect().toSeq

    val snap = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val snapped = eng.backup(snap)
    assert(snapped > 0)
    // manifest exists and covers both layouts
    val manifest = scala.io.Source.fromFile(s"$snap/MANIFEST.tsv").getLines().toSeq
    assert(manifest.size == snapped)
    assert(manifest.exists(_.startsWith("store\t")) && manifest.exists(_.startsWith("index\t")))

    // damage the live engine past the snapshot; results must change...
    val removed = eng.delete(docs.filter(col("doc_id") % 3 === 0).select("doc_id"))
    assert(removed > 0)
    assert(eng.search(q).collect().toSeq != hits)
    // ...and restore must bring back the EXACT pre-damage results
    assert(eng.restore(snap) == snapped)
    assert(eng.search(q).collect().toSeq == hits)

    // a flipped byte in the snapshot must abort the restore loudly — the
    // digest check is the whole point of the manifest. (Drop the local-FS
    // .crc sidecar so Hadoop's own transport checksum doesn't fire first:
    // on object stores there is no sidecar and the manifest is the only
    // integrity line.)
    val victim = new java.io.File(s"$snap/store").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    val bytes = java.nio.file.Files.readAllBytes(victim.toPath)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x7f).toByte
    java.nio.file.Files.write(victim.toPath, bytes)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$snap/store/.${victim.getName}.crc"))
    intercept[IllegalStateException] { eng.restore(snap) }
  }

  test("routeIvf memoizes the index count: one metadata job across repeated searches") {
    val eng = freshEngine()
    eng.ingest(spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text"))
    eng.update()
    // count jobs by JOB GROUP: unrelated async jobs (footer reads, cache
    // cleanup) can land at any time, so a global counter is racy — a group
    // id set around exactly the probed calls is inherited by every job
    // they launch and nothing else
    val probeJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinelJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("graft-memo-probe") => probeJobs.incrementAndGet()
          case Some("graft-memo-sentinel") => sentinelJobs.incrementAndGet()
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      eng.routeIvf() // first call pays the (metadata) count job — untracked
      spark.sparkContext.setJobGroup("graft-memo-probe", "memoized routeIvf calls")
      (1 to 4).foreach(_ => eng.routeIvf()) // memo hits: zero jobs
      spark.sparkContext.setJobGroup("graft-memo-sentinel", "flush marker")
      spark.range(1).count()
      spark.sparkContext.clearJobGroup()
      // when the sentinel (submitted AFTER the probes) has been delivered,
      // any probe-group job would have been delivered too
      val deadline = System.nanoTime() + 15e9.toLong
      while (sentinelJobs.get() < 1 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(sentinelJobs.get() >= 1, "sentinel job never observed")
      assert(probeJobs.get() == 0,
        s"memoized routeIvf calls launched ${probeJobs.get()} jobs — the count memo is not memoizing")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("search plans broadcast-side scoring and broadcast hydration (no shuffle joins)") {
    // the 100 TB shape: the corpus/index side never shuffles for a search —
    // queries broadcast into the scoring scan, and hydration is a by-id
    // store scan with no join at all
    val eng = freshEngine()
    eng.ingest(spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text"))
    eng.update()
    val plan = formatted(eng.vectorScores(eng.queryDf(Seq("vector search"))))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan) // broadcast query side
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    val hydration = formatted(eng.hydrationScan(Seq(3L, 5L), Seq(col("text"))))
    assert(!hydration.contains("Join"), hydration)
    assert(hydration.contains("In(doc_id"), hydration)    // ids pushed to the scan
    assert(eng.search(Seq("vector search")).queryExecution.executedPlan.toString
      .contains("LocalTableScan"), "search must return its materialised hits")
  }

  test("searchIvf with nprobe == nlist matches exact search doc set") {
    val eng = freshEngine()
    eng.ingest(spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text"))
    eng.update()
    val q = Seq("statistical analysis of results")
    val exact = SparkEntryTestHelpers.docIds(eng.search(q))
    val ivf = SparkEntryTestHelpers.docIds(eng.searchIvf(q))
    assert(ivf == exact)
  }

  test("updateIncremental embeds only new docs and converges to the full-build index") {
    val full = freshEngine()
    val incr = freshEngine()
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")

    full.ingest(docs)
    full.update()

    // incremental path: half the corpus, full build, then the rest lands
    incr.ingest(docs.filter(col("doc_id") % 2 === 0))
    incr.update()
    val evenChunks = incr.index().count()
    incr.ingest(docs)
    val appended = incr.updateIncremental()
    assert(appended > 0)
    assert(incr.index().count() == evenChunks + appended)
    // unchanged store ⇒ nothing new to embed
    assert(incr.updateIncremental() == 0L)

    // the two indexes are indistinguishable, vectors included
    def snap(e: Engine): Array[(String, Seq[Float])] = e.index()
      .select("chunk_id", "vec").collect()
      .map(r => (r.getString(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    assert(snap(incr).sameElements(snap(full)))

    // empty index path ⇒ updateIncremental degrades to a full first build
    val cold = freshEngine()
    cold.ingest(docs)
    assert(cold.updateIncremental() == full.index().count())
  }

  test("EngineConfig.load parses flat key:value config with comments and defaults") {
    val f = java.nio.file.Files.createTempFile("graft-cfg", ".yml")
    java.nio.file.Files.writeString(f,
      """# engine config (flat legacy shape)
        |store_path: /tmp/graft/store
        |index_path: /tmp/graft/index   # inline comment
        |chunk_size: 256
        |nprobe: 16
        |partition_key: source
        |unknown_key: ignored
        |""".stripMargin)
    val cfg = EngineConfig.load(f.toString)
    assert(cfg.storePath == "/tmp/graft/store")
    assert(cfg.indexPath == "/tmp/graft/index")
    assert(cfg.chunkSize == 256)
    assert(cfg.nprobe == 16)
    assert(cfg.partitionKey == "source")
    assert(cfg.chunkOverlap == 64 && cfg.limit == 4) // defaults survive
  }

  test("EngineConfig.load parses the nested reference config.yml shape") {
    val f = java.nio.file.Files.createTempFile("graft-cfg-nested", ".yml")
    // the reference's two/three-level nesting (config.yml:62-100), including
    // the tricky spellings: quoted scalars, an inline comment, a quoted
    // value containing '#', a commented-out sibling key
    java.nio.file.Files.writeString(f,
      """mongodb:
        |  key:
        |    local:
        |      string: mongodb://localhost:27017
        |      db_name: coldata
        |  collection_name: dataset
        |  index_field: index
        |crawler:
        |  selenium:
        |#    chromedriver_path: '/path/to/chromedriver'
        |    chromedriver_path: 'C:\drv\chromedriver.exe # not a comment'
        |vdb:
        |  milvus:
        |    collection_name: 'dataset'
        |    port: '19530'
        |    index_type: IVF_FLAT
        |    nlist: 64   # inline comment
        |    nprobe: 16
        |    limit: 7
        |    batch_size: 32
        |  text:
        |    chunk_size: 200
        |    chunk_overlap: 50
        |    add_start_index: true
        |  model:
        |    max_length: 512
        |scheduler:
        |  init_run: False
        |  period: week
        |""".stripMargin)
    val cfg = EngineConfig.load(f.toString)
    assert(cfg.nlist == 64 && cfg.nprobe == 16 && cfg.limit == 7)
    assert(cfg.batchSize == 32)
    assert(cfg.chunkSize == 200 && cfg.chunkOverlap == 50)
    assert(!cfg.schedulerInitRun && cfg.schedulerPeriod == "week")
    // no store/index paths in the reference shape ⇒ warehouse defaults
    // derived from the collection name
    assert(cfg.storePath == "spark-warehouse/dataset/store")
    assert(cfg.indexPath == "spark-warehouse/dataset/index")
  }

  test("EngineConfig.load accepts the reference's config.yml verbatim") {
    // the real file, unmodified (read-only reference checkout); guard so the
    // suite still runs where the reference isn't mounted
    val ref = java.nio.file.Paths.get("/root/reference/src/config.yml")
    assume(java.nio.file.Files.exists(ref))
    val cfg = EngineConfig.load(ref.toString)
    // config.yml:81-86
    assert(cfg.nlist == 128 && cfg.nprobe == 128 && cfg.limit == 4)
    assert(cfg.batchSize == 128)
    // config.yml:89-90
    assert(cfg.chunkSize == 128 && cfg.chunkOverlap == 64)
    // config.yml:98-100
    assert(cfg.schedulerInitRun && cfg.schedulerPeriod == "day")
  }

  test("an injected non-hash embedder flows through update AND search consistently") {
    val dir = java.nio.file.Files.createTempDirectory("graft-engine-model").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index")
    // a seeded random-projection "model": byte-count features through a
    // fixed Gaussian matrix — a stand-in for embed.py:21-39's forward pass
    val eng = new Engine(spark, cfg, ProjectionEmbedder)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    eng.ingest(docs)
    eng.update()

    val idx = eng.index()
    assert(idx.select("vec").head.getSeq[Float](0).length == ProjectionEmbedder.dim)
    // the index holds the injected model's vectors, not the hash default's
    val hashEng = new Engine(spark,
      cfg.copy(indexPath = s"$dir/index_hash", embedDim = ProjectionEmbedder.dim))
    hashEng.update()
    val byChunk = idx.select("chunk_id", "vec").collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
    val hashByChunk = hashEng.index().select("chunk_id", "vec").collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
    assert(byChunk.keySet == hashByChunk.keySet)
    assert(byChunk.exists { case (k, v) => hashByChunk(k) != v })

    // search must score with the SAME model: recompute the expected winner
    // driver-side from the index vectors + a driver-side query embedding
    val q = "statistical analysis of spark pipelines"
    val qv = ProjectionEmbedder.embedBatch(Seq(q)).head
    def cos(a: Seq[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    val expectedBest = idx.select("doc_id", "vec").collect()
      .map(r => r.getLong(0) -> cos(r.getSeq[Float](1), qv))
      .groupBy(_._1).view.mapValues(_.map(_._2).max)
      .toSeq.sortBy { case (id, s) => (-s, id) }.head._1
    val got = eng.search(Seq(q)).orderBy("rank").select("doc_id").head.getLong(0)
    assert(got == expectedBest)
  }

  test("delete forgets docs from store, index AND search results; idempotent") {
    val eng = freshEngine()
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    eng.ingest(docs)
    eng.update()
    val total = docs.count()
    val doomed = docs.filter(col("doc_id") % 3 === 0).select("doc_id")
    val nDoomed = doomed.count()

    val removed = eng.delete(doomed)
    assert(removed == nDoomed)
    assert(eng.store().count() == total - nDoomed)
    assert(eng.index().filter(col("doc_id") % 3 === 0).count() == 0)
    // a broad search can never surface a forgotten document
    val hits = eng.search(Seq("data table query value part"))
    assert(hits.filter(col("doc_id") % 3 === 0).count() == 0)
    // re-deleting the same set is a no-op
    assert(eng.delete(doomed) == 0L)
    // and the engine keeps working: re-ingest restores the docs
    eng.ingest(docs)
    assert(eng.store().count() == total)
    assert(eng.updateIncremental() > 0)
    assert(eng.index().select("chunk_id").distinct().count() == eng.index().count())
  }

  test("search auto-routes through IVF at/above the configured index scale") {
    val dir = java.nio.file.Files.createTempDirectory("graft-engine-route").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val q = Seq("distributed query optimization")

    val brute = new Engine(spark, EngineConfig(
      storePath = s"$dir/store", indexPath = s"$dir/index", nlist = 8, nprobe = 8))
    brute.ingest(docs)
    brute.update()
    assert(!brute.routeIvf()) // default threshold: small index stays brute

    val routed = new Engine(spark, EngineConfig(
      storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L))
    assert(routed.routeIvf())
    // nprobe == nlist: the routed path is exhaustive, results must agree
    val a = brute.search(q).select("doc_id", "score", "rank").collect().toSeq
    val b = routed.search(q).select("doc_id", "score", "rank").collect().toSeq
    assert(a == b)
  }

  test("searchIvf reuses one built IVF index across calls; update invalidates it") {
    val eng = freshEngine()
    eng.ingest(spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text"))
    eng.update()
    eng.searchIvf(Seq("first query")).count()
    val built = eng.ivfIndex()
    eng.searchIvf(Seq("a different query")).count()
    // the search path must NOT rebuild: same memoized instance
    assert(eng.ivfIndex() eq built)
    // rebuilding the vector index drops the memo
    eng.update()
    assert(!(eng.ivfIndex() eq built))
  }

  private def walk(f: java.io.File): Map[String, Long] = {
    def go(x: java.io.File): Seq[java.io.File] =
      if (x.isDirectory) x.listFiles().toSeq.flatMap(go) else Seq(x)
    go(f).map(x => x.getPath -> x.lastModified()).toMap
  }

  test("multi-vector fields: per-field layouts are isolated; search and fusion are exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mvf").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 4, nprobe = 4, limit = 5)
    val eng = new Engine(spark, cfg)
    // two dense fields of DIFFERENT dims, deterministically derived
    // hash-mixed components — an affine-in-j derivation makes every doc's
    // vector nearly collinear (cosine rounds to 1.0 corpus-wide) and a
    // small modulus collides congruent ids into identical vectors
    def vec(dim: Int, salt: Int) = expr(
      s"transform(sequence(0, ${dim - 1}), j -> cast(pmod(xxhash64(doc_id, j + $salt), 9973) as float))")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
      .withColumn("text_vec", vec(8, 3))
      .withColumn("img_vec", vec(6, 11))
    eng.ingest(docs)
    assert(eng.vectorFields() == Seq("img_vec", "text_vec"))
    intercept[IllegalArgumentException](eng.fieldIndex("text")) // not a vector field
    intercept[IllegalArgumentException](eng.fieldIndex("nope"))

    // isolation: building img_vec's layout writes ONLY its own directory;
    // building text_vec afterwards leaves img_vec's bytes untouched
    eng.fieldIndex("img_vec")
    val imgRoot = new java.io.File(s"$dir/index_vf_img_vec")
    assert(imgRoot.exists(), "per-field layout directory missing")
    val before = walk(imgRoot)
    eng.fieldIndex("text_vec")
    assert(walk(imgRoot) == before, "building one field touched another field's layout")
    assert(new java.io.File(s"$dir/index_vf_text_vec").exists())

    // exactness: exhaustive probe equals the brute-force cosine ranking
    val qv = docs.filter(col("doc_id") === 7)
      .select(col("text_vec")).head().getSeq[Float](0)
    val got = eng.searchVectorField("text_vec", Seq(qv), k = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val brute = docs
      .withColumn("s", round(graft.functions.VectorFns.cosineSim(
        col("text_vec"), typedLit(qv)), 4))
      .orderBy(col("s").desc, col("doc_id").asc).limit(5)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == brute, s"field search $got != brute $brute")

    // fusion: RRF over both fields equals the hand-computed fusion
    val qi = docs.filter(col("doc_id") === 7)
      .select(col("img_vec")).head().getSeq[Float](0)
    val reqs = Seq(
      Engine.AnnFieldRequest("text_vec", Seq(qv), kPool = 10),
      Engine.AnnFieldRequest("img_vec", Seq(qi), kPool = 10))
    val fused = eng.hybridSearchFields(reqs)
    assert(fused.count() == 5)
    val top = fused.orderBy("rank").head()
    // doc 7 carries both query vectors verbatim → rank 1 in both pools
    assert(top.getAs[Long]("doc_id") == 7L, top.toString)
    assert(top.getAs[String]("field_ranks") == "img_vec:1,text_vec:1")
    assert(top.getAs[Long]("rrf_ppm") == 2 * (1000000L / 61))
    // request validation: nq mismatch and duplicate fields reject
    intercept[IllegalArgumentException](eng.hybridSearchFields(Seq(
      Engine.AnnFieldRequest("text_vec", Seq(qv)),
      Engine.AnnFieldRequest("img_vec", Seq(qi, qi)))))
    intercept[IllegalArgumentException](eng.hybridSearchFields(Seq(
      Engine.AnnFieldRequest("text_vec", Seq(qv)),
      Engine.AnnFieldRequest("text_vec", Seq(qv)))))

    // per-request filter (AnnSearchRequest.expr): the gated pool contains
    // only matching docs, ranks stay contiguous (no holes where filtered
    // docs would have sat), and an unfiltered sibling still sees them
    val filtered = eng.searchVectorField("text_vec", Seq(qv), k = 5,
      expr = "doc_id % 2 == 0")
      .select("doc_id", "rank").collect()
    assert(filtered.nonEmpty && filtered.forall(_.getLong(0) % 2 == 0),
      s"filter leaked: ${filtered.map(_.getLong(0)).toSeq}")
    assert(filtered.map(_.getLong(1)).toSeq == (1L to filtered.length).toSeq)
    val fusedFiltered = eng.hybridSearchFields(Seq(
      Engine.AnnFieldRequest("text_vec", Seq(qv), kPool = 10, expr = "doc_id % 2 == 0"),
      Engine.AnnFieldRequest("img_vec", Seq(qi), kPool = 10)))
      .select("doc_id", "field_ranks").collect()
    // doc 7 (odd) can only enter through the unfiltered image request
    val d7 = fusedFiltered.find(_.getLong(0) == 7L)
    assert(d7.isDefined && d7.get.getString(1) == "img_vec:1", d7.toString)

    // WeightedRanker: doc 7 carries both query vectors verbatim → both
    // pools normalize it to 10000 bp → fused = (w1+w2)·10000 DIV 10000
    val weighted = eng.hybridSearchFieldsWeighted(reqs, Seq(8000L, 2000L))
      .orderBy("rank").head()
    assert(weighted.getAs[Long]("doc_id") == 7L, weighted.toString)
    assert(weighted.getAs[Long]("fused_bp") == 10000L, weighted.toString)
    assert(weighted.getAs[String]("field_scores") == "img_vec:10000,text_vec:10000")
    intercept[IllegalArgumentException](
      eng.hybridSearchFieldsWeighted(reqs, Seq(5000L))) // one weight per request
    intercept[IllegalArgumentException](
      eng.hybridSearchFieldsWeighted(reqs, Seq(0L, 0L))) // all-zero weights

    // masks ride along: tombstoning the top doc removes it with no rank hole
    import spark.implicits._
    eng.deleteSoft(Seq(7L).toDF("doc_id"))
    val after = eng.searchVectorField("text_vec", Seq(qv), k = 5)
      .select("doc_id", "rank").collect()
    assert(!after.map(_.getLong(0)).contains(7L))
    assert(after.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))

    // hard delete prunes the per-field layout IN PLACE (cell-scoped) and
    // carries its stamp — no shrink, so later ticks extend, not rebuild
    val cellsDir = s"$dir/index_vf_text_vec/cells"
    eng.delete(Seq(9L).toDF("doc_id"))
    assert(spark.read.parquet(cellsDir).filter(col("doc_id") === 9).count() == 0,
      "hard delete left the doc in the field layout")
    val qv9 = docs.filter(col("doc_id") === 9)
      .select("text_vec").head().getSeq[Float](0)
    val afterHard = eng.searchVectorField("text_vec", Seq(qv9), k = 3).collect()
    assert(!afterHard.map(_.getAs[Long]("doc_id")).contains(9L))
    assert(afterHard.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))

    // upsert with a CHANGED vector: the delete-prune removes the stale
    // vector, the extend appends the new one — the layout never serves
    // the old version and never holds two versions of the doc
    val up = docs.filter(col("doc_id") === 5)
      .withColumn("text_vec",
        expr("transform(text_vec, x -> cast(x + 1000.0 as float))"))
    assert(eng.upsert(up) == 1L)
    val qv5 = up.select("text_vec").head().getSeq[Float](0)
    val upHit = eng.searchVectorField("text_vec", Seq(qv5), k = 1).head()
    assert(upHit.getAs[Long]("doc_id") == 5L, upHit.toString)
    val v5rows = spark.read.parquet(cellsDir).filter(col("doc_id") === 5).collect()
    assert(v5rows.length == 1 &&
      v5rows.head.getAs[scala.collection.Seq[Float]]("text_vec").toSeq == qv5.toSeq,
      "layout holds a stale or duplicate vector after upsert")

    // staleness: new rows EXTEND the layout delta-sized — every
    // pre-existing cell file is byte-untouched; the growing docs append
    val preCells = walk(new java.io.File(cellsDir))
    val extra = docs.limit(0).sparkSession.range(90001, 90003)
      .select(col("id").as("doc_id"), lit("fresh doc").as("text"))
      .withColumn("text_vec", vec(8, 3)).withColumn("img_vec", vec(6, 11))
    eng.ingest(extra)
    val e2 = new Engine(spark, cfg)
    val qn = extra.filter(col("doc_id") === 90001)
      .select("text_vec").head().getSeq[Float](0)
    val hit = e2.searchVectorField("text_vec", Seq(qn), k = 1).head()
    assert(hit.getAs[Long]("doc_id") == 90001L)
    val postCells = walk(new java.io.File(cellsDir))
    // the job-level _SUCCESS marker is rewritten by the append itself —
    // the claim is about DATA files
    def data(m: Map[String, Long]) = m.filterNot { case (p, _) =>
      val n = p.split('/').last
      n.startsWith("_") || n.startsWith(".")
    }
    assert(data(preCells).toSet.subsetOf(data(postCells).toSet),
      s"extend rewrote pre-existing cell files (corpus-sized rebuild): " +
        s"gone=${(data(preCells).toSet -- data(postCells).toSet).take(5)} " +
        s"new=${(data(postCells).toSet -- data(preCells).toSet).take(5)}")
    assert(data(postCells).size > data(preCells).size, "extend appended no files")

    // renameCollection carries the per-field layouts: the fingerprint
    // stamps are relative-path based, so the renamed collection serves
    // from the moved bytes with ZERO rebuild
    val cfg2 = e2.renameCollection(s"$dir/store2", s"$dir/index2")
    val vfMoved = new java.io.File(s"$dir/index2_vf_text_vec")
    assert(vfMoved.exists() && !new java.io.File(s"$dir/index_vf_text_vec").exists())
    val movedWalk = walk(vfMoved)
    val e3 = new Engine(spark, cfg2)
    assert(e3.searchVectorField("text_vec", Seq(qn), k = 1)
      .head().getAs[Long]("doc_id") == 90001L)
    assert(walk(vfMoved) == movedWalk, "rename triggered a per-field rebuild")
  }

  test("read/write contention: Strong reads own writes mid-mutation; served reads never tear") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rw").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 4, nprobe = 4, ivfThreshold = 1L, limit = 4)
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).limit(300).localCheckpoint(true)
    eng.ingest(docs)
    eng.update()

    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val torn = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // 3 reader streams hammer vector + scalar reads through served{} —
    // the whole verb (frame CREATION + collect) inside the read lock,
    // racing the writer's store/index rewrites below. A torn read is
    // SILENT wrongness (empty or rank-holed results off a half-rewritten
    // listing), so the assertions are structural, not just no-exception.
    val readers = (1 to 3).map { _ =>
      val t = new Thread(() => {
        val qs = Seq("spark shuffle partition state")
        while (!stop.get()) {
          try {
            val rows = eng.served { eng.searchAt(qs, "Eventually").collect() }
            if (rows.isEmpty) torn.add("empty vector read")
            val ranks = rows.map(_.getAs[Int]("rank")).sorted.toSeq
            if (ranks != (1 to ranks.length)) torn.add(s"rank holes: $ranks")
            val sc = eng.served {
              eng.query(length(col("text")) > 0, Seq("text"), limit = 20).collect()
            }
            if (sc.isEmpty) torn.add("empty scalar read")
          } catch { case t: Throwable => errors.add(t) }
        }
      })
      t.start(); t
    }
    try {
      import spark.implicits._
      val ids = docs.select("doc_id").as[Long].take(8)
      for (i <- 1 to 4) {
        val token = s"zzcontended$i"
        val target = ids(i - 1)
        // upsert: the doc's text becomes ~pure repetitions of a fresh
        // token, so a search for that token must rank it first
        val row = Seq((target, (token + " ") * 40)).toDF("doc_id", "text")
        eng.upsert(row)
        // Strong = read-your-writes MID-MUTATION: the readers are still
        // hammering; the just-upserted version must already rank (vector)
        // and read back (scalar) before the next tick starts
        eng.updateIncremental()
        val strong = eng.served { eng.search(Seq(token)).collect() }
        assert(strong.nonEmpty && strong.head.getAs[Long]("doc_id") == target,
          s"tick $i: strong search missed its own upsert: ${strong.toSeq}")
        val scalarRYW = eng.served {
          eng.query(col("doc_id") === target, Seq("text")).collect()
        }
        assert(scalarRYW.length == 1 &&
          scalarRYW.head.getAs[String]("text").startsWith(token),
          s"tick $i: scalar read missed its own upsert")
        // delete tick: the previous tick's doc leaves; a strong read must
        // not rank it afterwards
        if (i > 1) {
          val gone = ids(i - 2)
          eng.delete(Seq(gone).toDF("doc_id"))
          eng.updateIncremental()
          val after = eng.served { eng.search(Seq(s"zzcontended${i - 1}")).collect() }
          assert(!after.exists(_.getAs[Long]("doc_id") == gone),
            s"tick $i: deleted doc $gone still ranked")
        }
        // maintenance tick races the readers too (retrain rewrites cells)
        eng.maintain(0.0)
      }
      // a mutator inside served{} must fail loudly, never deadlock
      intercept[IllegalArgumentException](
        eng.served { eng.deleteSoft(Seq(ids.last).toDF("doc_id")) })
    } finally {
      stop.set(true)
      readers.foreach(_.join(60000))
    }
    assert(errors.isEmpty, s"reader exceptions under contention: " +
      errors.toArray.take(3).mkString("; "))
    assert(torn.isEmpty, s"torn reads: ${torn.toArray.take(5).mkString("; ")}")
  }

  test("persisted IVF: a fresh engine serves search from disk without rebuilding") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pivf").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    eng.ingest(spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text"))
    eng.update() // create_index: builds + persists the cell layout
    val cells = new java.io.File(s"$dir/index_ivf/cells")
    assert(cells.isDirectory && cells.listFiles().exists(_.getName.startsWith("cell=")))
    val hits = eng.search(Seq("data processing pipeline")).collect().toSeq
    val before = walk(new java.io.File(s"$dir/index_ivf"))
    // fresh engine = fresh driver state: must LOAD, not rebuild
    val eng2 = new Engine(spark, cfg)
    val hits2 = eng2.search(Seq("data processing pipeline")).collect().toSeq
    assert(hits2 == hits)
    assert(walk(new java.io.File(s"$dir/index_ivf")) == before,
      "a fresh engine rewrote the persisted IVF layout instead of loading it")
  }

  test("persisted IVF: an index change flips the fingerprint and forces a rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pivf2").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    eng.ingest(docs)
    eng.update()
    def fp() = scala.io.Source.fromFile(s"$dir/index_ivf/_INDEX_FINGERPRINT").mkString
    val fp1 = fp()
    // an OUT-OF-BAND index rewrite — not through the engine's verbs, which
    // now all MAINTAIN the layout (extend re-stamps, delete prunes cells,
    // compact re-stamps): the genuinely-stale case a fingerprint exists for
    val pruned = eng.index().filter(col("doc_id") % 5 =!= 0).localCheckpoint(true)
    pruned.write.mode("overwrite").parquet(s"$dir/index")
    assert(fp() == fp1, "fixture broken: the out-of-band rewrite must leave the stale layout")
    // a FRESH engine must detect the mismatch and REBUILD before serving —
    // serving the stale layout would resurrect the rewritten-away chunks
    val eng2 = new Engine(spark, cfg)
    val hits = eng2.search(Seq("data processing pipeline"))
    assert(hits.filter(col("doc_id") % 5 === 0).count() == 0,
      "search served vanished documents from a stale persisted layout")
    assert(fp() != fp1, "the rebuild did not re-stamp the fingerprint")
    assert(eng2.ivfIndex().cells.count() == eng2.index().count(),
      "rebuilt layout does not match the rewritten index")
  }

  test("persisted IVF: updateIncremental extends the layout — no retrain, no rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pivf4").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    eng.ingest(docs.filter(col("doc_id") % 2 === 0))
    eng.update()
    def data(sub: String) = walk(new java.io.File(s"$dir/index_ivf/$sub"))
      .filter { case (p, _) =>
        val n = new java.io.File(p).getName
        !n.startsWith("_") && !n.startsWith(".") }
    val centroidsBefore = data("centroids")
    val cellsBefore = data("cells")
    eng.ingest(docs) // odd half
    val n = eng.updateIncremental()
    assert(n > 0)
    // the quantizer was NOT retrained and old cell files were NOT rewritten —
    // the append-only extension a 100 TB index maintenance loop needs
    assert(data("centroids") == centroidsBefore, "centroids were rewritten")
    val cellsAfter = data("cells")
    assert(cellsBefore.forall { case (p, m) => cellsAfter.get(p).contains(m) },
      "existing cell files were rewritten by the incremental append")
    assert(cellsAfter.size > cellsBefore.size, "no cell files were appended")
    // the extended layout covers every index chunk, and a fresh engine
    // serves it as CURRENT (no rebuild on search)
    val eng2 = new Engine(spark, cfg)
    assert(eng2.ivfIndex().cells.count() == eng.index().count())
    val all = walk(new java.io.File(s"$dir/index_ivf"))
    eng2.search(Seq("data processing pipeline")).count()
    assert(walk(new java.io.File(s"$dir/index_ivf")) == all,
      "serving a search rewrote the extended layout")
  }

  test("persisted IVF: Engine.search's pruned probe scans carry a partition filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pivf3").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 2, ivfThreshold = 1L) // genuinely pruned probe
    val eng = new Engine(spark, cfg)
    eng.ingest(spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text"))
    eng.update()
    val q = "data processing pipeline"
    val df = eng.vectorScores(eng.queryDf(Seq(q)))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the probed cells must reach the cell-partitioned scan as a LITERAL
    // partition filter — unprobed cell directories never touch IO, whatever
    // AQE makes of the join (a dynamic filter it turns into `true` prunes
    // nothing)
    assert(literalCellFilters(plan) == Seq(probedCells(eng, q, 2)), plan.take(2000))
    assert(!plan.contains("dynamicpruning"), plan.take(2000))
  }

  test("IVF_FLAT assigns cells by the probe's rule: each chunk's own vector probes its own cell") {
    // 5k documents — the fixture corpus ten times over, each copy's text
    // suffixed so its chunks embed apart
    val dir = java.nio.file.Files.createTempDirectory("graft-assign").toString
    val base = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val docs = base.crossJoin(spark.range(10).withColumnRenamed("id", "copy"))
      .select((col("doc_id") * 10 + col("copy")).as("doc_id"),
        concat(col("text"), lit(" copy"), col("copy").cast("string")).as("text"))
    val eng = new Engine(spark, EngineConfig(storePath = s"$dir/store",
      indexPath = s"$dir/index", nlist = 16, nprobe = 1, ivfThreshold = 1L))
    eng.ingest(docs)
    eng.update()
    assert(eng.store().count() == 10 * base.count())
    val layout = eng.ivfIndex()
    val sample = layout.cells.filter(pmod(xxhash64(col("chunk_id")), lit(20)) === 0)
      .select("cell", "vec").collect()
    assert(sample.length >= 100, s"sample too small: ${sample.length}")
    // at nprobe = 1 a chunk is findable by its own vector only if its own
    // cell is the first one probed
    val misses = sample.count { r =>
      val v = r.getAs[Seq[Float]]("vec").map(_.toDouble).toArray
      graft.functions.VectorFns.cellOrder(v, layout.centroidArray).head != r.getInt(0)
    }
    assert(misses == 0, s"$misses of ${sample.length} sampled chunks probe another cell first")
  }

  test("IVF_SQ8: codes cover every chunk across incremental extend; serving rewrites nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sq8").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L, indexType = "IVF_SQ8")
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    eng.ingest(docs.filter(col("doc_id") % 2 === 0))
    eng.update()
    val codes = spark.read.parquet(s"$dir/index_ivf/sq8codes")
    assert(codes.count() == eng.index().count())
    assert(codes.columns.toSet == Set("doc_id", "chunk_id", "codes", "cell"))
    // incremental extend under STORED bounds: every appended chunk gets a
    // code row; the quantizer (bounds) is not retrained
    val boundsBefore = spark.read.parquet(s"$dir/index_ivf/sq8bounds")
      .collect().map(_.toString).sorted.toSeq
    eng.ingest(docs)
    assert(eng.updateIncremental() > 0)
    assert(spark.read.parquet(s"$dir/index_ivf/sq8codes").count() == eng.index().count())
    assert(spark.read.parquet(s"$dir/index_ivf/sq8bounds")
      .collect().map(_.toString).sorted.toSeq == boundsBefore, "bounds were retrained")
    // a fresh engine serves from the compressed layout without rebuilding
    def walk(f: java.io.File): Map[String, Long] =
      if (f.isFile) Map(f.getPath -> (f.length() + f.lastModified()))
      else f.listFiles().toSeq.flatMap(walk).toMap
    val all = walk(new java.io.File(s"$dir/index_ivf"))
    val out = new Engine(spark, cfg).search(Seq("data processing pipeline"))
    assert(out.count() > 0)
    assert(walk(new java.io.File(s"$dir/index_ivf")) == all,
      "an IVF_SQ8 search rewrote the persisted layout")
  }

  test("IVF_PQ / IVF_SQ8 serving: the compressed-code scans carry a partition filter") {
    // the probe's cell equi-join must prune the CODE layouts' partitions
    // just like the IVF_FLAT cell scan — otherwise the compressed index
    // reads corpus-wide codes and the probe bought nothing
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    for (it <- Seq("IVF_PQ", "IVF_SQ8")) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-pf-$it").toString
      val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
        nlist = 8, nprobe = 2, ivfThreshold = 1L, indexType = it)
      val eng = new Engine(spark, cfg)
      eng.ingest(docs)
      eng.update()
      val q = "data processing pipeline"
      val df = eng.vectorScores(eng.queryDf(Seq(q)))
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(literalCellFilters(plan) == Seq(probedCells(eng, q, 2)), s"$it: ${plan.take(2000)}")
      assert(!plan.contains("dynamicpruning"), s"$it: ${plan.take(2000)}")
    }
  }

  test("delete maintains the persisted layout in place — no quantizer rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft-delmaint").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    eng.ingest(docs)
    eng.update()
    val centroidsBefore = walk(new java.io.File(s"$dir/index_ivf/centroids"))
    val removed = eng.delete(docs.filter(col("doc_id") % 7 === 0).select("doc_id"))
    assert(removed > 0)
    // the deleted docs' chunks are gone from the LAYOUT itself
    assert(spark.read.parquet(s"$dir/index_ivf/cells")
      .filter(col("doc_id") % 7 === 0).count() == 0L)
    assert(spark.read.parquet(s"$dir/index_ivf/cells").count() == eng.index().count())
    // a fresh engine serves the maintained layout: the quantizer was not
    // retrained and serving rewrites nothing
    assert(walk(new java.io.File(s"$dir/index_ivf/centroids")) == centroidsBefore,
      "delete retrained the quantizer")
    val all = walk(new java.io.File(s"$dir/index_ivf"))
    val served = new Engine(spark, cfg).search(Seq("data processing pipeline"))
      .collect().map(_.toString).toSeq
    assert(walk(new java.io.File(s"$dir/index_ivf")) == all,
      "serving after delete rebuilt the layout")
    // and the results equal an engine built from scratch on the survivors
    val ctl = EngineConfig(storePath = s"$dir/cstore", indexPath = s"$dir/cindex",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val control = new Engine(spark, ctl)
    control.ingest(docs.filter(col("doc_id") % 7 =!= 0))
    control.update()
    assert(served == control.search(Seq("data processing pipeline"))
      .collect().map(_.toString).toSeq)
  }

  test("delete maintenance prunes the compressed code layouts too (IVF_PQ / IVF_SQ8)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    for ((it, codesDir) <- Seq("IVF_PQ" -> "pqcodes", "IVF_SQ8" -> "sq8codes")) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-delc-$it").toString
      val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
        nlist = 8, nprobe = 8, ivfThreshold = 1L, indexType = it)
      val eng = new Engine(spark, cfg)
      eng.ingest(docs)
      eng.update()
      assert(eng.delete(docs.filter(col("doc_id") % 7 === 0).select("doc_id")) > 0)
      val codes = spark.read.parquet(s"$dir/index_ivf/$codesDir")
      assert(codes.filter(col("doc_id") % 7 === 0).count() == 0L,
        s"$it: deleted docs' codes survived")
      val perChunk = if (it == "IVF_PQ") 4L else 1L // m subspace rows vs one row
      assert(codes.count() == eng.index().count() * perChunk, s"$it: code coverage broken")
      // maintained layout serves without a rebuild
      val all = walk(new java.io.File(s"$dir/index_ivf"))
      assert(new Engine(spark, cfg).search(Seq("data processing pipeline")).count() > 0)
      assert(walk(new java.io.File(s"$dir/index_ivf")) == all,
        s"$it: serving after delete rebuilt the layout")
    }
  }

  test("compact re-stamps the layout — a file-only rewrite forces no rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compmaint").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    // fragment the index across appends so compact really rewrites
    eng.ingest(docs.filter(col("doc_id") % 2 === 0)); eng.update()
    eng.ingest(docs); eng.updateIncremental()
    val nIndex = eng.index().count()
    eng.compact(maxRecordsPerFile = 1000000L)
    assert(eng.index().count() == nIndex)
    // serving after the compaction must come straight from the persisted
    // layout — zero layout writes (the re-stamp made it current again)
    val all = walk(new java.io.File(s"$dir/index_ivf"))
    new Engine(spark, cfg).search(Seq("data processing pipeline")).count()
    assert(walk(new java.io.File(s"$dir/index_ivf")) == all,
      "a content-preserving compaction forced a quantizer rebuild")
  }

  test("searchRadius: IVF routing equals brute; bounds stay sound across incremental extend") {
    val dir = java.nio.file.Files.createTempDirectory("graft-radius").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val qs = Seq("data processing pipeline", "machine learning")
    // brute-routed engine (threshold never reached) vs IVF-routed engine
    // (always routed) over the SAME corpus must agree at every radius
    val bruteCfg = EngineConfig(storePath = s"$dir/bs", indexPath = s"$dir/bi")
    val ivfCfg = EngineConfig(storePath = s"$dir/is", indexPath = s"$dir/ii",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val bruteEng = new Engine(spark, bruteCfg)
    val ivfEng = new Engine(spark, ivfCfg)
    Seq(bruteEng, ivfEng).foreach { e =>
      e.ingest(docs.filter(col("doc_id") % 2 === 0)); e.update()
    }
    def census(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Long)] =
      df.collect().map(r => (r.getLong(r.fieldIndex("query_id")),
        r.getLong(r.fieldIndex("doc_id")), r.getDouble(r.fieldIndex("score")),
        r.getLong(r.fieldIndex("n_chunks")))).toSet
    for (t <- Seq(0.3, 0.7)) {
      assert(census(bruteEng.searchRadius(qs, t)) == census(ivfEng.searchRadius(qs, t)),
        s"radius $t: IVF-routed census diverged from brute")
    }
    // extend: the appended chunks may widen a cell's angular radius — the
    // merged bounds must keep the pruned result exact after the append
    Seq(bruteEng, ivfEng).foreach { e => e.ingest(docs); e.updateIncremental() }
    for (t <- Seq(0.3, 0.7)) {
      assert(census(bruteEng.searchRadius(qs, t)) == census(ivfEng.searchRadius(qs, t)),
        s"radius $t after extend: IVF-routed census diverged from brute")
    }
    // filtered radius: the eligibility gate commutes with the bound prune —
    // brute and IVF-routed filtered censuses agree, and both equal the
    // unfiltered census restricted to eligible docs
    val pred = col("doc_id") % 3 === 0
    val eligibleIds = docs.filter(pred).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val wantFiltered = census(bruteEng.searchRadius(qs, 0.3))
      .filter(h => eligibleIds(h._2))
    assert(census(bruteEng.searchRadiusWhere(qs, 0.3, pred)) == wantFiltered,
      "brute filtered radius != post-filtered unfiltered census")
    assert(census(ivfEng.searchRadiusWhere(qs, 0.3, pred)) == wantFiltered,
      "IVF filtered radius != post-filtered unfiltered census")
  }

  private def hitCensus(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Int)] =
    df.collect().map(r => (r.getLong(r.fieldIndex("query_id")),
      r.getLong(r.fieldIndex("doc_id")), r.getDouble(r.fieldIndex("score")),
      r.getInt(r.fieldIndex("rank")))).toSet

  test("searchWhere pre-filters: eligible docs outside the unfiltered top-k still surface") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fsearch").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    val qs = Seq("data processing pipeline", "machine learning")
    val pred = col("source") === "src7" // selective: crowd-out is guaranteed
    // brute, pruned IVF_FLAT, and IVF_SQ8: the gate commutes with the
    // scoring strategy, so filtered top-k must equal a re-ranked post-filter
    // of an EXHAUSTIVE-k search (the independent expected — no shared code
    // path with the gate)
    for ((tag, mk) <- Seq[(String, String => EngineConfig)](
      ("brute", d => EngineConfig(storePath = s"$d/s", indexPath = s"$d/i")),
      ("ivf", d => EngineConfig(storePath = s"$d/s", indexPath = s"$d/i",
        nlist = 8, nprobe = 3, ivfThreshold = 1L)),
      ("sq8", d => EngineConfig(storePath = s"$d/s", indexPath = s"$d/i",
        nlist = 8, nprobe = 3, ivfThreshold = 1L, indexType = "IVF_SQ8")))) {
      val d = s"$dir/$tag"
      val cfg = mk(d)
      val eng = new Engine(spark, cfg)
      eng.ingest(docs)
      eng.update()
      val got = hitCensus(eng.searchWhere(qs, pred))
      val all = new Engine(spark, cfg.copy(limit = 1000000))
        .search(qs).collect()
        .map(r => (r.getLong(r.fieldIndex("query_id")),
          r.getLong(r.fieldIndex("doc_id")), r.getDouble(r.fieldIndex("score"))))
      val eligibleIds = docs.filter(pred).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      val want = all.filter(t => eligibleIds(t._2)).groupBy(_._1).toSeq.flatMap {
        case (q, hits) => hits.sortBy(t => (-t._3, t._2)).take(cfg.limit)
          .zipWithIndex.map { case ((qq, doc, sc), i) => (qq, doc, sc, i + 1) }
      }.toSet
      assert(got == want, s"$tag: filtered search != re-ranked post-filter of exhaustive k")
      // the test is only meaningful if the filter actually changed the set
      val unfTop = hitCensus(eng.search(qs)).map(t => (t._1, t._2))
      assert(got.exists(t => !unfTop((t._1, t._2))),
        s"$tag: fixture too weak — every filtered hit was already in the unfiltered top-k")
      assert(hitCensus(eng.searchWhere(qs, lit(false))).isEmpty,
        s"$tag: an unsatisfiable predicate must return no hits")
    }
    // IVF_PQ gates the compressed codes BEFORE the ADC rerank cut, so the
    // expected is an eligible-only-corpus engine (valid because the seeded
    // coarse quantizer and codebooks are data-independent): an eligible doc
    // outside the unfiltered rerank cut must still surface
    val full = new Engine(spark, EngineConfig(storePath = s"$dir/pq/s",
      indexPath = s"$dir/pq/i", nlist = 8, nprobe = 3, ivfThreshold = 1L,
      indexType = "IVF_PQ"))
    full.ingest(docs); full.update()
    val elig = new Engine(spark, EngineConfig(storePath = s"$dir/pqe/s",
      indexPath = s"$dir/pqe/i", nlist = 8, nprobe = 3, ivfThreshold = 1L,
      indexType = "IVF_PQ"))
    elig.ingest(docs.filter(pred)); elig.update()
    assert(hitCensus(full.searchWhere(qs, pred)) == hitCensus(elig.search(qs)),
      "IVF_PQ: gated-codes search != eligible-only-corpus search")
  }

  test("searchWhere (brute route) pushes the eligibility semi-join below the scoring cross join") {
    val eng = freshEngine()
    eng.ingest(spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang"))
    eng.update()
    val eligible = eng.store().filter(col("lang") === "en").select(col("doc_id")).distinct()
    val df = eng.vectorScores(eng.queryDf(Seq("vector search")), Some(eligible))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val bnlj = plan.indexOf("BroadcastNestedLoopJoin")
    val semi = plan.indexOf("LeftSemi")
    // tree-strings print parents before children: the semi-join gate must
    // sit BELOW the scoring cross join (ineligible chunks are never scored)
    assert(bnlj >= 0 && semi > bnlj,
      s"eligibility gate not below the scoring join (bnlj=$bnlj semi=$semi)\n${plan.take(3000)}")
  }

  test("upsert: replaces changed docs, appends new, no-ops identical; layout stays exactly-once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val half = docs.filter(col("doc_id") % 2 === 0)
    eng.ingest(half); eng.update()
    assert(eng.upsert(half) == 0L, "re-upserting stored content must be a no-op")
    val v2 = docs.withColumn("text",
      when(col("doc_id") % 4 === 0, concat(col("text"), lit(" v2")))
        .otherwise(col("text")))
    val expected = (docs.count() - half.count()) +
      half.filter(col("doc_id") % 4 === 0).count()
    assert(eng.upsert(v2) == expected, "changed = new docs + modified stored docs")
    assert(eng.store().count() == docs.count())
    assert(eng.store().join(v2, Seq("doc_id", "text"), "left_anti").count() == 0,
      "a stale pre-upsert row survived in the store")
    assert(eng.fsck().collect().head.getAs[Boolean]("consistent"))
    val cells = spark.read.parquet(s"$dir/index_ivf/cells")
    assert(cells.count() == eng.index().count())
    assert(cells.select("chunk_id").distinct().count() == cells.count(),
      "upsert left duplicate chunk rows in the maintained layout")
    // serving equals a from-scratch engine over the v2 corpus
    val fresh = new Engine(spark, cfg.copy(storePath = s"$dir/fs", indexPath = s"$dir/fi"))
    fresh.ingest(v2); fresh.update()
    val qs = Seq("data processing pipeline", "machine learning")
    assert(hitCensus(eng.search(qs)) == hitCensus(fresh.search(qs)),
      "post-upsert serving diverged from a from-scratch build over the same content")
  }

  test("query: scalar retrieval — pushed filter, pk always returned, pk-ordered paging") {
    val eng = freshEngine()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    eng.ingest(docs)
    val pred = col("lang") === "en" && col("n_chars") > 200
    val full = eng.query(pred, Seq("lang", "n_chars"))
    assert(full.columns.toSeq == Seq("doc_id", "lang", "n_chars"),
      "the primary key must lead the projection (Milvus returns pk unconditionally)")
    val expected = docs.filter(pred).select("doc_id", "lang", "n_chars")
    assert(full.exceptAll(expected).isEmpty && expected.exceptAll(full).isEmpty,
      "query(expr) != the filtered store")
    // the predicate must reach the parquet scan, not run post-scan
    val plan = full.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(n_chars,200") && plan.contains("EqualTo(lang,en"),
      s"filter not pushed to the scan\n${plan.take(2000)}")
    // paging: pk order, offset skipped, limit honored
    val ids = docs.filter(pred).select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0))
    val page = eng.query(pred, Nil, limit = 5, offset = 3)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(page.sameElements(ids.slice(3, 8)), "paged query != ranks 4..8 by pk")
    intercept[IllegalArgumentException](eng.query(pred, Nil, limit = 0, offset = 2))
  }

  test("queryIterator: keyset pages drain with no dup and no miss; cursor pushed to scan") {
    val eng = freshEngine()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    eng.ingest(docs)
    val pred = col("lang") === "en"
    val n = docs.filter(pred).count()
    val pages = eng.queryIterator(pred, Seq("source"), batchSize = 64).toSeq
    assert(pages.length == ((n + 63) / 64), s"wrong page count for $n rows")
    val got = pages.flatMap(_.select("doc_id").collect().map(_.getLong(0)))
    val exp = docs.filter(pred).select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == exp, "concatenated pages must be the pk-ordered result, no dup no miss")
    assert(pages.init.forall(_.count() == 64), "non-final pages must be full")
    // the keyset cursor is a pushed scan predicate — THE property that makes
    // a full drain O(n) instead of offset-paging's O(n²/batch). The page a
    // caller receives is a PINNED snapshot (Scan ExistingRDD), so the gate
    // checks the pre-pin plan fetch() executes: the cursor conjunct on the
    // live store scan.
    val prePin = eng.store().filter(pred && col("doc_id") > 100L)
      .orderBy(col("doc_id")).limit(64)
    prePin.collect()
    val p2plan = prePin.queryExecution.executedPlan.toString
    assert(p2plan.contains("GreaterThan(doc_id"),
      s"the cursor conjunct did not reach PushedFilters\n${p2plan.take(2000)}")
    // snapshot-at-page under mutation (the round-9 advice): a page already
    // cut must stay readable and correct after a concurrent delete rewrites
    // the store's part files mid-drain — here the delete removes the first
    // page's own rows, so an unpinned page would either throw on the
    // deleted files or silently lose its rows on recomputation
    val it2 = eng.queryIterator(pred, Seq("source"), batchSize = 64)
    val first = it2.next()
    assert(eng.delete(first.select("doc_id")) == 64L)
    val rest = it2.toSeq
    assert((first +: rest).flatMap(_.select("doc_id").collect().map(_.getLong(0))) == exp,
      "a mid-drain store rewrite tore the page seam")
    assert(eng.queryIterator(lit(false), Nil, 64).isEmpty, "empty result ⇒ empty iterator")
  }

  test("streaming upsert: a CDC batch re-delivered after a crash settles to the one-shot result") {
    // the at-least-once failure mode of q228's loop: the upsert APPLIED,
    // the process died before the checkpoint committed, the restart
    // re-delivers the same batch. The digest-keyed change detection makes
    // the redelivery a 0-row no-op — without it the replay would delete,
    // re-append and re-embed the same documents a second time.
    val tmp = java.nio.file.Files.createTempDirectory("graft-supsert").toString
    val drop = new java.io.File(s"$tmp/drop"); drop.mkdirs()
    val cfg = EngineConfig(storePath = s"$tmp/store", indexPath = s"$tmp/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    eng.ingest(docs); eng.update()
    val cdc = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", concat(col("text"), lit(" v2")))
    cdc.coalesce(1).write.parquet(s"$tmp/w1")
    val part = new java.io.File(s"$tmp/w1").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, new java.io.File(drop, "a.parquet").toPath)
    val applied = scala.collection.mutable.ArrayBuffer.empty[Long]
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    def run(): Unit =
      spark.readStream.schema(docs.schema).parquet(drop.toString)
        .writeStream.option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          applied += eng.upsert(batch.localCheckpoint(true))
          if (attempts.incrementAndGet() == 1)
            throw new RuntimeException("simulated post-apply kill")
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] { run() }
    run() // checkpoint survived: the same batch re-delivers
    assert(applied.toSeq == Seq(cdc.count(), 0L),
      s"redelivery was not a digest no-op: $applied")
    assert(eng.fsck().collect().head.getAs[Boolean]("consistent"))
    // final state equals a one-shot build over the mutated corpus
    val v2 = docs.withColumn("text",
      when(col("doc_id") % 10 === 0, concat(col("text"), lit(" v2")))
        .otherwise(col("text")))
    val fresh = new Engine(spark, cfg.copy(storePath = s"$tmp/fs", indexPath = s"$tmp/fi"))
    fresh.ingest(v2); fresh.update()
    val qs = Seq("data processing pipeline", "machine learning")
    assert(hitCensus(eng.search(qs)) == hitCensus(fresh.search(qs)),
      "the crashed-and-redelivered CDC stream diverged from the one-shot result")
  }

  test("searchIterator: keyset pages reassemble the full ranking with no seam") {
    val eng = freshEngine()
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    eng.ingest(docs); eng.update()
    val q = "data processing pipeline"
    val pages = eng.searchIterator(q, batchSize = 97).toSeq // odd size: force ragged seams
    assert(pages.length >= 2, "fixture too small to page")
    val drained = pages.map(_.collect().toSeq)
    // within each page: ranks contiguous, drain order total
    val all = drained.flatten
    val ranks = all.map(_.getInt(4))
    assert(ranks == (1 to all.length), s"ranks not absolute/contiguous: ${ranks.take(20)}")
    val pairs = all.map(r => (r.getDouble(3), r.getLong(2)))
    assert(pairs == pairs.sortBy { case (s2, d) => (-s2, d) },
      "drain order is not (score desc, pk asc)")
    assert(all.map(_.getLong(2)).distinct.length == all.length, "a doc appeared twice")
    // the drain covers every ranked doc and page 1 equals search()'s top-k
    assert(all.length == eng.index().select("doc_id").distinct().count().toInt,
      "the drain missed ranked documents")
    val top = eng.searchPage(Seq(q), 0, 97).collect()
      .map(r => (r.getLong(2), r.getDouble(3), r.getInt(4))).toSeq
    assert(drained.head.map(r => (r.getLong(2), r.getDouble(3), r.getInt(4))) == top,
      "page 1 diverged from searchPage's ranking")

    // SLIM-PIN gate: the pinned ranking frame carries no preview/text byte
    // (at 100 TB a preview-laden pin is corpus-doc-sized executor disk a
    // shallow drain should never pay)
    val pin = eng.searchIteratorPin(q, 16)
    assert(pin.columns.toSet == Set("query_id", "query", "doc_id", "score"),
      s"pin must be slim, got ${pin.columns.mkString(",")}")
    // PRUNING gate: a batch-sized page reads its rank bucket(s) of the pin,
    // never the whole pin — page 1 and page 2 of a 16-bucket drain must
    // each scan at most 2 buckets
    val it = eng.searchIterator(q, batchSize = 10, buckets = 16)
      .asInstanceOf[Engine.SearchDrain]
    val p1 = it.next().collect()
    assert(p1.length == 10)
    assert(it.lastScannedBuckets <= 2,
      s"page 1 scanned ${it.lastScannedBuckets} of 16 buckets")
    val p2 = it.next().collect()
    assert(p2.map(_.getInt(4)).toSeq == (11 to 20), "page 2 ranks wrong")
    assert(it.lastScannedBuckets <= 2,
      s"page 2 scanned ${it.lastScannedBuckets} of 16 buckets")
  }

  test("dropPartition: tenant leaves store+index+layout; kept tenants' files untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft-droppart").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      partitionKey = "source", nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source")
    eng.ingest(docs); eng.update() // update persists + stamps the IVF layout
    // the STORE is hive-partitioned by the tenant key too (round-10: Milvus
    // partitions physically isolate tenant segments in BOTH layouts)
    assert(new java.io.File(s"$dir/store").listFiles()
      .exists(_.getName.startsWith("source=")),
      "ingest under partition_key did not hive-partition the store")
    val keptDir = new java.io.File(s"$dir/index/source=src1")
    val keptBefore = keptDir.listFiles().map(f => (f.getName, f.lastModified)).toSet
    val keptStoreDir = new java.io.File(s"$dir/store/source=src1")
    val keptStoreBefore = keptStoreDir.listFiles().map(f => (f.getName, f.lastModified)).toSet
    val dropped = Seq("src3", "src7")
    val expect = docs.filter(col("source").isin(dropped: _*)).count()
    assert(eng.dropPartition(dropped) == expect, "removed-count != tenant row count")
    assert(!new java.io.File(s"$dir/index/source=src3").exists()
      && !new java.io.File(s"$dir/index/source=src7").exists(),
      "dropped tenants' index directories survived")
    assert(!new java.io.File(s"$dir/store/source=src3").exists()
      && !new java.io.File(s"$dir/store/source=src7").exists(),
      "dropped tenants' STORE directories survived")
    assert(keptDir.listFiles().map(f => (f.getName, f.lastModified)).toSet == keptBefore,
      "a kept tenant's index files were rewritten — the drop must be metadata-only")
    assert(keptStoreDir.listFiles().map(f => (f.getName, f.lastModified)).toSet == keptStoreBefore,
      "a kept tenant's STORE files were rewritten — the drop must be metadata-only")
    assert(eng.store().filter(col("source").isin(dropped: _*)).count() == 0)
    assert(eng.fsck().collect().head.getAs[Boolean]("consistent"))
    // the persisted layout was MAINTAINED (tenant rows pruned in place), not
    // left stale for a corpus-sized rebuild
    val cells = spark.read.parquet(s"$dir/index_ivf/cells")
    assert(cells.filter(col("source").isin(dropped: _*)).count() == 0,
      "dropped tenants' chunks survived in the persisted layout")
    assert(cells.count() == eng.index().count()
      && cells.select("chunk_id").distinct().count() == cells.count(),
      "layout is not exactly-once after the drop")
    assert(eng.dropPartition(dropped) == 0L, "re-drop must be a no-op")
    // serving parity with a from-scratch engine over the surviving corpus
    val fresh = new Engine(spark, cfg.copy(storePath = s"$dir/fs", indexPath = s"$dir/fi"))
    fresh.ingest(docs.filter(!col("source").isin(dropped: _*))); fresh.update()
    val qs = Seq("data processing pipeline", "machine learning")
    assert(hitCensus(eng.search(qs)) == hitCensus(fresh.search(qs)),
      "post-drop serving diverged from a from-scratch build over the kept tenants")
    intercept[IllegalArgumentException](freshEngine().dropPartition(Seq("x")))
  }

  test("delete on a partition-keyed engine rewrites only the affected tenants' files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pdel").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      partitionKey = "source", nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source")
    eng.ingest(docs); eng.update()
    // the delete set lives entirely in ONE tenant
    val victim = docs.filter(col("source") === "src3")
      .select("doc_id").limit(10).localCheckpoint(true)
    val nVictim = victim.count()
    def stamps(root: String, tenant: String): Set[(String, Long)] =
      new java.io.File(s"$root/source=$tenant").listFiles()
        .map(f => (f.getName, f.lastModified)).toSet
    val keptStore = stamps(s"$dir/store", "src1")
    val keptIndex = stamps(s"$dir/index", "src1")
    assert(eng.delete(victim) == nVictim)
    assert(stamps(s"$dir/store", "src1") == keptStore,
      "delete rewrote an unaffected tenant's STORE files")
    assert(stamps(s"$dir/index", "src1") == keptIndex,
      "delete rewrote an unaffected tenant's INDEX files")
    assert(eng.store().join(victim, Seq("doc_id"), "left_semi").count() == 0
      && eng.index().join(victim, Seq("doc_id"), "left_semi").count() == 0,
      "deleted docs survived a layout")
    assert(eng.fsck().collect().head.getAs[Boolean]("consistent"))
    // serving parity with a from-scratch build over the survivors
    val fresh = new Engine(spark, cfg.copy(storePath = s"$dir/fs", indexPath = s"$dir/fi"))
    fresh.ingest(docs.join(victim, Seq("doc_id"), "left_anti")); fresh.update()
    val qs = Seq("data processing pipeline", "machine learning")
    assert(hitCensus(eng.search(qs)) == hitCensus(fresh.search(qs)),
      "tenant-pruned delete diverged from a from-scratch build")
  }

  test("legacy flat store under a partition_key config: verbs keep flat semantics; compact migrates") {
    val dir = java.nio.file.Files.createTempDirectory("graft-legacy").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source")
    // the store AND index predate the partition_key config: built FLAT
    // (crucially, a flat index has NO tenant column at all)
    val legacy = new Engine(spark, EngineConfig(s"$dir/store", s"$dir/index"))
    legacy.ingest(docs); legacy.update()
    assert(!legacy.index().columns.contains("source"),
      "fixture: a flat-built index must not carry the tenant column")
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      partitionKey = "source", nlist = 8, nprobe = 8)
    val eng = new Engine(spark, cfg)
    // ingest must NOT mix a partitioned append into the flat root
    eng.ingest(docs) // idempotent no-op, but routed through the layout probe
    assert(!new java.io.File(s"$dir/store").listFiles()
      .exists(_.getName.startsWith("source=")),
      "a partitioned append landed inside the flat store root")
    // delete must take the flat rewrite on BOTH layouts — removed rows
    // actually leave, and the flat index (no tenant column) stays flat
    val victim = docs.select("doc_id").limit(7).localCheckpoint(true)
    assert(eng.delete(victim) == 7L)
    assert(eng.store().join(victim, Seq("doc_id"), "left_semi").count() == 0,
      "flat-store delete under a partition_key config left rows alive")
    assert(eng.index().join(victim, Seq("doc_id"), "left_semi").count() == 0,
      "flat-index delete left chunks alive")
    assert(!new java.io.File(s"$dir/index").listFiles()
      .exists(_.getName.startsWith("source=")),
      "delete migrated the flat index as a side-effect")
    assert(eng.store().count() == docs.count() - 7)
    // dropPartition on the legacy pair: store pays one predicate rewrite,
    // the index side removes the tenants' chunks via the pre-drop doomed
    // ids (the flat index cannot be filtered by a column it lacks)
    val goneTenant = eng.store().filter(col("source") === "src5")
    val goneIds = goneTenant.select("doc_id").localCheckpoint(true)
    assert(eng.dropPartition(Seq("src5")) == goneIds.count())
    assert(eng.index().join(goneIds, Seq("doc_id"), "left_semi").count() == 0,
      "dropped tenant's chunks survived in the legacy flat index")
    assert(eng.fsck().collect().head.getAs[Boolean]("consistent"))
    // updateIncremental on the legacy index = the one-time migration
    // (a partitioned append into flat files would corrupt every reader)
    eng.ingest(docs.join(eng.store().select("doc_id"), Seq("doc_id"), "left_anti")
      .filter(col("source") =!= "src5"))
    assert(eng.updateIncremental() > 0)
    assert(new java.io.File(s"$dir/index").listFiles()
      .exists(_.getName.startsWith("source=")),
      "updateIncremental did not migrate the legacy index via the full rebuild")
    assert(eng.fsck().collect().head.getAs[Boolean]("consistent"))
    // compact IS the store migration: tenant dirs from then on
    eng.compact(maxRecordsPerFile = 100L)
    assert(new java.io.File(s"$dir/store").listFiles()
      .exists(_.getName.startsWith("source=")),
      "compact did not migrate the flat store to tenant directories")
    // post-migration the tenant verbs work partitioned end to end
    val gone = eng.store().filter(col("source") === "src3").count()
    assert(eng.dropPartition(Seq("src3")) == gone)
    assert(!new java.io.File(s"$dir/store/source=src3").exists()
      && !new java.io.File(s"$dir/index/source=src3").exists())
  }

  test("partition_key changed over an existing partitioned layout is rejected loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rekey").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source", "lang")
    val a = new Engine(spark, EngineConfig(s"$dir/store", s"$dir/index",
      partitionKey = "source"))
    a.ingest(docs)
    val b = new Engine(spark, EngineConfig(s"$dir/store", s"$dir/index",
      partitionKey = "lang"))
    // silently appending lang= dirs beside source= dirs would break
    // partition discovery for every reader — the re-key must throw
    intercept[IllegalArgumentException](b.ingest(docs))
  }

  test("upsert digest survives partition-column type inference (numeric-looking tenants)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-numtenant").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      partitionKey = "source")
    val eng = new Engine(spark, cfg)
    // tenant ids that hive type inference reads back as LONG, not STRING
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"),
        (col("doc_id") % 4 + 10000).cast("string").as("source"))
    eng.ingest(docs); eng.update()
    assert(eng.store().schema("source").dataType !=
      org.apache.spark.sql.types.StringType,
      "fixture failed: inference kept the tenant column as string")
    assert(eng.upsert(docs) == 0L,
      "identical re-upsert flagged changes — the digest is inference-sensitive")
    val v2 = docs.withColumn("text",
      when(col("doc_id") % 10 === 0, concat(col("text"), lit(" v2")))
        .otherwise(col("text")))
    assert(eng.upsert(v2) == docs.filter(col("doc_id") % 10 === 0).count())
    assert(eng.upsert(v2) == 0L)
  }

  test("ingest rejects NULL partition-key values (Milvus non-nullable contract)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nulltenant").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      partitionKey = "source")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"),
        when(col("doc_id") % 11 === 0, lit(null)).otherwise(col("source")).as("source"))
    intercept[IllegalArgumentException](new Engine(spark, cfg).ingest(docs))
  }

  test("ingest rejects empty-string partition-key values (hive default-partition loss)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-emptytenant").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      partitionKey = "source")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"),
        when(col("doc_id") % 11 === 0, lit("")).otherwise(col("source")).as("source"))
    val e = intercept[IllegalArgumentException](new Engine(spark, cfg).ingest(docs))
    assert(e.getMessage.contains("empty-string"))
  }

  test("ingest rejects over-cap partition-key cardinality with actionable text") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hicard").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      partitionKey = "source") // default max_partitions = 4096
    // keying on a row-unique column is the misuse the cap exists for
    val docs = spark.range(10000).select(col("id").as("doc_id"),
      lit("some text").as("text"), concat(lit("u"), col("id")).as("source"))
    val e = intercept[IllegalArgumentException](new Engine(spark, cfg).ingest(docs))
    assert(e.getMessage.contains("max_partitions"))
    // nothing committed
    assert(!new java.io.File(s"$dir/store").exists())

    // the cap bounds the LAYOUT, not just one batch: tenants already on
    // disk count against it
    val cfg2 = EngineConfig(storePath = s"$dir/s2", indexPath = s"$dir/i2",
      partitionKey = "source", maxPartitions = 3)
    val eng2 = new Engine(spark, cfg2)
    val three = spark.range(30).select(col("id").as("doc_id"),
      lit("text").as("text"), concat(lit("t"), col("id") % 3).as("source"))
    eng2.ingest(three) // 3 tenants: at the cap, fine
    val fourth = spark.range(5).select((col("id") + 100).as("doc_id"),
      lit("text").as("text"), lit("t9").as("source"))
    val e2 = intercept[IllegalArgumentException](eng2.ingest(fourth))
    assert(e2.getMessage.contains("max_partitions"))
    // re-ingesting existing tenants stays allowed
    eng2.ingest(three.withColumn("doc_id", col("doc_id") + 1000))
    assert(eng2.store().count() == 60)
  }

  test("delete prunes null-tenant rows on a legacy-migrated layout (hive default partition)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nullprune").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      partitionKey = "source")
    val eng = new Engine(spark, cfg)
    // a LEGACY flat store that predates the partition_key config, holding
    // null-tenant rows the ingest gate never saw
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"),
        when(col("doc_id") % 7 === 0, lit(null)).otherwise(col("source")).as("source"))
    docs.write.parquet(cfg.storePath)
    // dropPartition's legacy branch migrates to a partitioned layout,
    // KEEPING null-tenant rows — they land in __HIVE_DEFAULT_PARTITION__
    eng.dropPartition(Seq("src1"))
    val defaultDir = new java.io.File(s"$dir/store/source=__HIVE_DEFAULT_PARTITION__")
    assert(defaultDir.exists(), "migration should write null tenants to the default partition")
    val nullIds = eng.store().filter(col("source").isNull).select("doc_id")
      .localCheckpoint(true)
    val nNull = nullIds.count()
    assert(nNull > 0)
    // delete SOME null-tenant docs: isInCollection alone would never match
    // them and the doomed rows would survive the rewrite
    val some = nullIds.limit((nNull / 2).toInt.max(1)).localCheckpoint(true)
    val removed = eng.delete(some)
    assert(removed == some.count())
    assert(eng.store().filter(col("source").isNull).count() == nNull - removed)
    // delete the REST: the emptied null tenant must leave as a directory
    // delete (escapePathName(null) would NPE without the default-name branch)
    val rest = eng.store().filter(col("source").isNull).select("doc_id")
      .localCheckpoint(true)
    val removed2 = eng.delete(rest)
    assert(removed2 == nNull - removed)
    assert(eng.store().filter(col("source").isNull).count() == 0)
    assert(!defaultDir.exists(), "emptied null tenant should leave as a dir delete")
  }

  test("TTL: expiry is logical and immediate, vacuum is physical and result-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ttl").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L, ttlField = "ts")
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
      .withColumn("ts", col("doc_id") % 100) // synthetic event time
    eng.ingest(docs); eng.update()
    val q = Seq("data processing pipeline", "machine learning")
    eng.expireBefore(50)
    // logical: expired rows leave query() AND the vector ranking instantly
    assert(eng.query(col("ts") < 50).count() == 0)
    val logical = eng.search(q).collect().toSeq
    assert(logical.nonEmpty)
    assert(logical.forall(_.getLong(2) % 100 >= 50), "an expired doc was ranked")
    // the post-expiry ranking equals a TTL-free engine over only live docs
    val dir2 = java.nio.file.Files.createTempDirectory("graft-ttl2").toString
    val eng2 = new Engine(spark, EngineConfig(storePath = s"$dir2/store",
      indexPath = s"$dir2/index", nlist = 8, nprobe = 8, ivfThreshold = 1L))
    eng2.ingest(docs.filter(col("ts") >= 50).drop("ts")); eng2.update()
    assert(eng2.search(q).collect().toSeq.map(r =>
        (r.getLong(2), r.getDouble(3), r.getInt(4))) ==
      logical.map(r => (r.getLong(2), r.getDouble(3), r.getInt(4))),
      "logical expiry diverged from a live-docs-only engine")
    // hybrid's lexical side gates too
    val hyb = eng.hybridSearch(q).collect()
    assert(hyb.forall(_.getLong(2) % 100 >= 50), "hybrid ranked an expired doc")
    // physical: vacuum removes exactly the expired rows, results unchanged
    val nExpired = docs.filter(col("ts") < 50).count()
    assert(eng.vacuumExpired() == nExpired)
    assert(eng.store().count() == docs.count() - nExpired)
    assert(eng.search(q).collect().toSeq == logical,
      "results changed across the physical vacuum")
    assert(eng.vacuumExpired() == 0L, "vacuum must be idempotent")
    // the horizon is monotone: an older expireBefore never rolls back
    eng.expireBefore(10)
    assert(eng.search(q).collect().toSeq == logical)
    // misconfiguration is loud
    intercept[IllegalArgumentException](eng2.expireBefore(1))
  }

  test("bulkImport: poisoned staging commits nothing and quarantines; clean commits exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bulk").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8)
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    // POISONED: 10 duplicated pks ride along — all-or-nothing means zero commit
    docs.filter(col("doc_id") < 50)
      .union(docs.filter(col("doc_id") < 10))
      .write.parquet(s"$dir/stage_bad")
    val e = intercept[IllegalArgumentException](
      eng.bulkImport(s"$dir/stage_bad", s"$dir/quarantine"))
    assert(e.getMessage.contains("nothing imported"))
    assert(!new java.io.File(s"$dir/store").exists(), "a poisoned import committed rows")
    val quarantined = spark.read.parquet(s"$dir/quarantine")
    assert(quarantined.count() == 20) // both copies of each duplicated pk
    assert(quarantined.columns.contains("reason"))
    // CLEAN: commits exactly once; a retry (crash-recovery path) is a no-op
    docs.write.parquet(s"$dir/stage_ok")
    assert(eng.bulkImport(s"$dir/stage_ok") == docs.count())
    assert(eng.store().count() == docs.count())
    assert(eng.bulkImport(s"$dir/stage_ok") == 0L, "retry re-imported rows")
    assert(eng.store().count() == docs.count())
    // imported rows serve like ingested ones
    eng.update()
    assert(eng.search(Seq("data processing")).count() > 0)
    // schema drift is rejected before any move
    docs.withColumn("extra", lit(1)).write.parquet(s"$dir/stage_drift")
    intercept[IllegalArgumentException](eng.bulkImport(s"$dir/stage_drift"))
    assert(eng.store().count() == docs.count())

    // a partition-keyed store imports into tenant directories
    val cfg2 = EngineConfig(storePath = s"$dir/s2", indexPath = s"$dir/i2",
      partitionKey = "source")
    val eng2 = new Engine(spark, cfg2)
    val tdocs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source")
    tdocs.write.parquet(s"$dir/stage_t")
    assert(eng2.bulkImport(s"$dir/stage_t") == tdocs.count())
    assert(new java.io.File(s"$dir/s2").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("source=")),
      "partitioned import must land in tenant directories")
    assert(eng2.store().count() == tdocs.count())
  }

  test("searchAt: Strong reads its writes; Eventually serves the stamped layout as-is") {
    val dir = java.nio.file.Files.createTempDirectory("graft-consist").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    eng.ingest(docs.filter(col("doc_id") % 2 === 0))
    eng.update()
    val q = Seq("data processing pipeline")
    val stale = eng.search(q).collect().toSeq
    // the store moves; the index does not
    eng.ingest(docs.filter(col("doc_id") % 2 === 1))
    // Eventually: the stamped layout serves — the new docs are invisible
    assert(eng.searchAt(q, "Eventually").collect().toSeq == stale)
    // Strong: read-your-writes — equals a fresh full-corpus engine
    val strong = eng.searchAt(q, "Strong").collect().toSeq
    val dir2 = java.nio.file.Files.createTempDirectory("graft-consist2").toString
    val eng2 = new Engine(spark, EngineConfig(storePath = s"$dir2/store",
      indexPath = s"$dir2/index", nlist = 8, nprobe = 8, ivfThreshold = 1L))
    eng2.ingest(docs); eng2.update()
    assert(strong.map(r => (r.getLong(2), r.getDouble(3), r.getInt(4))) ==
      eng2.search(q).collect().toSeq.map(r => (r.getLong(2), r.getDouble(3), r.getInt(4))),
      "a Strong read missed freshly-ingested documents")
    intercept[IllegalArgumentException](eng.searchAt(q, "Bounded"))
  }

  test("searchGrowing: fresh writes rank without any index write; the growing read is file-pruned") {
    val dir = java.nio.file.Files.createTempDirectory("graft-growing").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val sealedDocs = docs.filter(col("doc_id") % 2 === 0)
    val freshDocs = docs.filter(col("doc_id") % 2 === 1)
    eng.ingest(sealedDocs)
    eng.update()
    eng.ingest(freshDocs) // the store moves; the index does not
    val q = Seq("data processing pipeline")

    // the growing set resolves by FILE: exactly the post-seal store files,
    // holding exactly the fresh documents
    val gf = eng.growingFiles()
    assert(gf.isDefined, "update() must stamp a sealed-files manifest")
    assert(gf.get.nonEmpty && gf.get.forall(f => !f.contains("/_")),
      "growing files must be the uncovered data files")

    def snap(p: String): Map[String, Long] = {
      def go(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(go) else Seq(f)
      val root = new java.io.File(p)
      if (!root.exists()) Map.empty
      else go(root).map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = (snap(s"$dir/index"), snap(s"$dir/index_ivf"))
    val merged = eng.searchGrowing(q).collect().toSeq
    assert((snap(s"$dir/index"), snap(s"$dir/index_ivf")) == before,
      "searchGrowing wrote into the index or its layout")

    // merged == a Strong read's ranking (without paying its index append)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-growing2").toString
    val full = new Engine(spark, EngineConfig(storePath = s"$dir2/store",
      indexPath = s"$dir2/index", nlist = 8, nprobe = 8, ivfThreshold = 1L))
    full.ingest(docs); full.update()
    def key(rs: Seq[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(2), r.getDouble(3), r.getInt(4)))
    assert(key(merged) == key(full.search(q).collect().toSeq),
      "the sealed+growing merge must equal the full-corpus ranking")

    // ignore_growing: sealed only — byte-identical to search()
    assert(eng.searchGrowing(q, ignoreGrowing = true).collect().toSeq ==
      eng.search(q).collect().toSeq)

    // manifest fallback: without the stamp the anti-join path serves the
    // same merge
    val fs = new org.apache.hadoop.fs.Path(s"$dir/index_SEALED")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/index_SEALED"), false)
    assert(eng.growingFiles().isEmpty, "no manifest must mean fallback")
    assert(key(eng.searchGrowing(q).collect().toSeq) == key(merged),
      "the anti-join fallback must serve the same merged ranking")
  }

  test("addField: metadata-only schema evolution with lazy default fill") {
    val dir = java.nio.file.Files.createTempDirectory("graft-addfield").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index")
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").limit(60).localCheckpoint(true)
    import spark.implicits._
    val ids = docs.select("doc_id").as[Long].collect().sorted
    val (v1, v2, v3) = (ids.take(20).toSet, ids.slice(20, 40).toSet, ids.drop(40).toSet)
    eng.ingest(docs.filter(col("doc_id").isInCollection(v1)))
    val storeFiles = new java.io.File(s"$dir/store").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    eng.addField("quality", "long", "7")
    assert(new java.io.File(s"$dir/store").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap == storeFiles,
      "addField rewrote store files — it must be metadata-only")
    // pre-add rows read the default
    assert(eng.store().filter(col("doc_id").isInCollection(v1))
      .select("quality").as[Long].collect().forall(_ == 7L))
    // a post-add ingest carrying the field keeps its values
    eng.ingest(docs.filter(col("doc_id").isInCollection(v2))
      .withColumn("quality", lit(9L)))
    // a post-add ingest OMITTING the field defaults too
    eng.ingest(docs.filter(col("doc_id").isInCollection(v3)))
    val byPop = eng.store().groupBy(col("quality")).count()
      .as[(Long, Long)].collect().toMap
    assert(byPop == Map(7L -> 40L, 9L -> 20L), s"populations wrong: $byPop")
    // a fresh engine (new driver) discovers the registry from the store
    assert(new Engine(spark, cfg).store().filter(col("quality") === 9L).count() == 20L)
    // guards
    intercept[IllegalArgumentException](eng.addField("quality", "long", "1"))
    intercept[IllegalArgumentException](eng.addField("text", "string", "x"))
    intercept[IllegalArgumentException](eng.addField("z", "struct", "x"))
    // the field survives the delete/compact copy-on-write (values become
    // physical for rewritten rows; coalesce stays transparent)
    eng.delete(docs.filter(col("doc_id").isInCollection(v1)).limit(1))
    val byPop2 = new Engine(spark, cfg).store().groupBy(col("quality")).count()
      .as[(Long, Long)].collect().toMap
    assert(byPop2 == Map(7L -> 39L, 9L -> 20L), s"post-delete populations wrong: $byPop2")
  }

  test("searchGrowing: a store-rewriting delete cannot hide pre-delete growing docs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-growing-del").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    eng.ingest(docs.filter(col("doc_id") % 2 === 0))
    eng.update()
    eng.ingest(docs.filter(col("doc_id") % 2 === 1)) // growing wave
    // the delete's copy-on-write rewrites store files: a stale manifest
    // would no longer know which files are covered — it must be dropped
    val victim = docs.filter(col("doc_id") % 2 === 0).limit(1)
    eng.delete(victim)
    assert(eng.growingFiles().isEmpty,
      "a store rewrite must invalidate the sealed manifest")
    import spark.implicits._
    val growingIds = docs.filter(col("doc_id") % 2 === 1)
      .select("doc_id").as[Long].collect().toSet
    val visible = eng.searchGrowing(Seq("data processing pipeline"))
      .select("doc_id").as[Long].collect().toSet
    val fullIds = eng.store().select("doc_id").as[Long].collect().toSet
    assert(growingIds.subsetOf(fullIds), "fixture: growing docs survive the delete")
    // the fallback anti-join still ranks growing docs: spot-check that the
    // merge sees candidates from BOTH halves by comparing to a fresh
    // full-corpus engine over the post-delete store
    val dir2 = java.nio.file.Files.createTempDirectory("graft-growing-del2").toString
    val full = new Engine(spark, EngineConfig(storePath = s"$dir2/store",
      indexPath = s"$dir2/index", nlist = 8, nprobe = 8, ivfThreshold = 1L))
    full.ingest(eng.store()); full.update()
    val expect = full.search(Seq("data processing pipeline"))
      .select("doc_id").as[Long].collect().toSet
    assert(visible == expect,
      "post-delete searchGrowing must rank the full live corpus")
  }

  test("searchTextMatch: postings-backed eligibility equals a text-scan pre-filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft-textmatch").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    eng.ingest(spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text"))
    eng.update()
    val q = Seq("data processing pipeline")
    val viaPostings = eng.searchTextMatch(q, "dup nosuchtoken").collect().toSeq
    // the semantic contract: identical to searchWhere with the same OR
    // token predicate evaluated by a full text scan
    val pred = array_contains(split(trim(lower(col("text"))), "\\s+"), "dup") ||
      array_contains(split(trim(lower(col("text"))), "\\s+"), "nosuchtoken")
    assert(viaPostings == eng.searchWhere(q, pred).collect().toSeq,
      "TEXT_MATCH must equal the text-scan pre-filter")
    assert(viaPostings.nonEmpty, "fixture: 'dup' must match documents")
    // every hit's text really contains the term (OR semantics, one live term)
    import spark.implicits._
    val hitIds = viaPostings.map(_.getLong(2)).toSet
    val dupIds = spark.read.parquet(s"$sf/documents.parquet")
      .filter(pred).select("doc_id").as[Long].collect().toSet
    assert(hitIds.subsetOf(dupIds), "a hit outside the matching set leaked in")
    // the eligibility scan is bucket-pruned: its plan reads the postings
    // layout with a tb partition filter, never the store text
    val postsPlan = formatted(eng.textMatchEligible("dup"))
    assert(postsPlan.matches("(?s).*PartitionFilters: \\[[^\\]]*tb.*"),
      s"the postings scan is not bucket-pruned\n${postsPlan.take(2000)}")
    intercept[IllegalArgumentException](eng.searchTextMatch(q, "   "))
  }

  test("queryJsonIndexed: bucket-pruned value lookup, no per-row JSON parse, stale rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonidx").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index")
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang")
      .withColumn("meta", format_string("""{"lang":"%s"}""", col("lang")))
      .select("doc_id", "text", "meta")
    eng.ingest(docs.filter(col("doc_id") % 3 =!= 0))
    val res = eng.queryJsonIndexed("meta", "$.lang", "es", Seq("meta"))
      .orderBy("doc_id").collect().toSeq
    // semantic parity with the unindexed JSON-path filter
    assert(res == eng.query(get_json_object(col("meta"), "$.lang") === "es", Seq("meta"))
      .orderBy("doc_id").collect().toSeq)
    assert(res.nonEmpty)
    // the layout: value-hash bucket directories; the serving plan reads it
    // with a vb partition filter and parses no JSON
    assert(new java.io.File(s"$dir/index_json").listFiles().nonEmpty)
    val plan = eng.queryJsonIndexed("meta", "$.lang", "es", Seq("meta"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("vb"), "bucket column missing from the serving plan")
    assert(!plan.toLowerCase.contains("get_json_object"),
      "the indexed lookup must not parse JSON at serve time")
    // staleness: a post-build ingest moves the store fingerprint — the
    // next lookup rebuilds and sees the new docs (fresh engine: from disk)
    eng.ingest(docs.filter(col("doc_id") % 3 === 0))
    import spark.implicits._
    val all = new Engine(spark, cfg)
      .queryJsonIndexed("meta", "$.lang", "es").select("doc_id").as[Long].collect().toSet
    val expect = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("lang") === "es").select("doc_id").as[Long].collect().toSet
    assert(all == expect, "stale json index served after the store moved")
    intercept[IllegalArgumentException](eng.queryJsonIndexed("meta", "$.lang", ""))
  }

  test("queryJsonIndexedRange: range-bucket pruning, pushed residual, == unindexed filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonrange").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index")
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "n_chars")
      .withColumn("meta", format_string("""{"stars":%d}""", col("doc_id") * 37 % 500))
      .select("doc_id", "text", "meta")
    eng.ingest(docs)
    val res = eng.queryJsonIndexedRange("meta", "$.stars",
      lo = Some(100.0), hi = Some(300.0), loInclusive = false, outputFields = Seq("meta"))
      .orderBy("doc_id").collect().toSeq
    // semantic parity with the unindexed JSON-path filter
    assert(res == eng.query(
      get_json_object(col("meta"), "$.stars").cast("double") > 100.0 &&
        get_json_object(col("meta"), "$.stars").cast("double") <= 300.0, Seq("meta"))
      .orderBy("doc_id").collect().toSeq)
    assert(res.nonEmpty)
    // the serving plan prunes rb directories (plan-time constant IN-set),
    // pushes the residual nv bound, and parses no JSON
    val qe = eng.queryJsonIndexedRange("meta", "$.stars",
      lo = Some(100.0), hi = Some(300.0), loInclusive = false).queryExecution
    val plan = qe.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("rb#"),
      "range-bucket partition filter missing:\n" + plan.take(2000))
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*(GreaterThan|LessThan)\\(nv.*"),
      "residual value bound not pushed:\n" + plan.take(2000))
    assert(!plan.toLowerCase.contains("get_json_object"),
      "the indexed range lookup must not parse JSON at serve time")
    // a narrow range reads a strict subset of the bucket directories
    val dirs = new java.io.File(
      new java.io.File(s"$dir/index_json").listFiles().head + "/ranges")
      .listFiles().count(_.getName.startsWith("rb="))
    val narrow = eng.queryJsonIndexedRange("meta", "$.stars",
      lo = Some(490.0), hi = Some(499.0))
    val scanned = narrow.queryExecution.sparkPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("/ranges")) =>
        s.selectedPartitions.partitionCount
    }
    assert(scanned.nonEmpty && scanned.head < dirs,
      s"narrow range read $scanned of $dirs bucket dirs")
    // open-ended + strictness arms agree with the plain filter
    import spark.implicits._
    val ge = eng.queryJsonIndexedRange("meta", "$.stars", lo = Some(450.0))
      .select("doc_id").as[Long].collect().toSet
    val expect = docs.filter(col("doc_id") * 37 % 500 >= 450).select("doc_id")
      .as[Long].collect().toSet
    assert(ge == expect)
    intercept[IllegalArgumentException](eng.queryJsonIndexedRange("meta", "$.stars"))
    intercept[IllegalArgumentException](
      eng.queryJsonIndexedRange("meta", "$.stars", lo = Some(5.0), hi = Some(1.0)))
    // an all-string path serves an empty range result, not a crash
    val eng2 = new Engine(spark, EngineConfig(
      storePath = s"$dir/store", indexPath = s"$dir/index2"))
    assert(eng2.queryJsonIndexedRange("meta", "$.nosuch", lo = Some(0.0)).count() == 0)
  }

  test("queryScalarIndexed: bucket-pruned scalar lookup == unindexed filter, stale rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scalaridx").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index")
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    eng.ingest(docs.filter(col("doc_id") % 3 =!= 0))
    val res = eng.queryScalarIndexed("source", "src3", Seq("source"))
      .orderBy("doc_id").collect().toSeq
    assert(res == eng.query(col("source") === "src3", Seq("source"))
      .orderBy("doc_id").collect().toSeq,
      "the indexed lookup must equal the plain pushed filter")
    assert(res.nonEmpty)
    // the layout: value-hash bucket directories; the serving plan prunes on vb
    assert(new java.io.File(s"$dir/index_scalar").listFiles().nonEmpty)
    val plan = eng.queryScalarIndexed("source", "src3", Seq("source"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("vb"), "bucket column missing from the serving plan")
    // staleness: a post-build ingest moves the store fingerprint — a fresh
    // engine rebuilds from disk and sees the new docs
    eng.ingest(docs.filter(col("doc_id") % 3 === 0))
    import spark.implicits._
    val all = new Engine(spark, cfg)
      .queryScalarIndexed("source", "src3").select("doc_id").as[Long].collect().toSet
    val expect = docs.filter(col("source") === "src3")
      .select("doc_id").as[Long].collect().toSet
    assert(all == expect, "stale scalar index served after the store moved")
    intercept[IllegalArgumentException](eng.queryScalarIndexed("source", ""))
    // a STRING field's range sibling is the EMPTY arm: serves zero rows
    assert(new Engine(spark, cfg)
      .queryScalarIndexedRange("source", lo = Some(0.0)).count() == 0)
  }

  test("queryScalarIndexedRange == unindexed numeric band filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scalarrange").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index")
    val eng = new Engine(spark, cfg)
    eng.ingest(spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang", "n_chars"))
    val res = eng.queryScalarIndexedRange("n_chars",
      lo = Some(200.0), hi = Some(450.0), hiInclusive = false,
      outputFields = Seq("n_chars"))
      .orderBy("doc_id").collect().toSeq
    assert(res.nonEmpty)
    assert(res == eng.query(col("n_chars") >= 200L && col("n_chars") < 450L,
      Seq("n_chars")).orderBy("doc_id").collect().toSeq,
      "the indexed range must equal the plain pushed band filter")
    // serve plan: rb partition filter, no store-column scan on the index side
    val plan = eng.queryScalarIndexedRange("n_chars", lo = Some(200.0),
      hi = Some(450.0), hiInclusive = false).queryExecution.executedPlan.toString
    assert(plan.contains("rb#"), "range-bucket column missing:\n" + plan.take(1500))
  }

  test("deleteWhere: predicate deletion prunes store and index, returns the doc count") {
    val eng = freshEngine()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    eng.ingest(docs)
    eng.update()
    val expected = docs.filter(col("lang") === "de").count()
    assert(expected > 0, "fixture needs lang='de' docs")
    val removed = eng.deleteWhere(col("lang") === "de")
    assert(removed == expected, s"removed $removed, expected $expected")
    assert(eng.store().filter(col("lang") === "de").count() == 0)
    assert(eng.store().count() == docs.count() - expected)
    // the index side pruned too: no chunk of a doomed doc survives
    import spark.implicits._
    val doomed = docs.filter(col("lang") === "de").select("doc_id").as[Long].collect().toSet
    val idxIds = eng.index().select("doc_id").as[Long].collect().toSet
    assert(idxIds.intersect(doomed).isEmpty, "index kept chunks of deleted docs")
    // a no-match predicate is a free no-op
    assert(eng.deleteWhere(col("lang") === "nosuchlang") == 0L)
    // serving never resurrects: search hits exclude the doomed set
    val hits = eng.search(Seq("data processing pipeline"))
      .select("doc_id").as[Long].collect().toSet
    assert(hits.intersect(doomed).isEmpty)
  }

  test("ingestDynamic: undeclared columns pack name-sorted into $meta; dyn() reads back") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dynfield").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index")
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
    eng.ingestDynamic(docs)
    // physical schema: the dynamic columns are GONE, replaced by $meta
    val schema = eng.store().columns.toSet
    assert(schema == Set("doc_id", "text", Engine.DynamicField),
      s"unexpected store schema $schema")
    // packing is producer-column-order-free: a permuted frame packs the
    // same bytes (name-sorted struct), so the dedup-append sees equal rows
    val permuted = docs.select("n_chars", "source", "doc_id", "lang", "text")
    eng.ingestDynamic(permuted)
    assert(eng.store().count() == docs.count(), "permuted re-ingest must dedup to a no-op")
    // dyn() extraction equals the base-column filter
    import spark.implicits._
    val viaDyn = eng.query(
      eng.dyn("lang") === "en" && eng.dyn("n_chars").cast("long") > 400L)
      .select("doc_id").as[Long].collect().toSet
    val expect = docs.filter(col("lang") === "en" && col("n_chars") > 400L)
      .select("doc_id").as[Long].collect().toSet
    assert(viaDyn == expect)
    // declared columns stay physical
    val eng2 = new Engine(spark, EngineConfig(
      storePath = s"$dir/store2", indexPath = s"$dir/index2"))
    eng2.ingestDynamic(docs, declared = Seq("lang"))
    assert(eng2.store().columns.toSet ==
      Set("doc_id", "text", "lang", Engine.DynamicField))
    // a row with no dynamic columns at all packs "{}", never null
    val eng3 = new Engine(spark, EngineConfig(
      storePath = s"$dir/store3", indexPath = s"$dir/index3"))
    eng3.ingestDynamic(docs.select("doc_id", "text"))
    assert(eng3.store().filter(col(Engine.DynamicField) =!= "{}").count() == 0)
    // a partition key may never be dynamic (it would pack into $meta and
    // shatter the hive layout) — loud reject unless declared
    val keyed = new Engine(spark, EngineConfig(
      storePath = s"$dir/store4", indexPath = s"$dir/index4", partitionKey = "lang"))
    intercept[IllegalArgumentException](keyed.ingestDynamic(docs))
    keyed.ingestDynamic(docs, declared = Seq("lang")) // declared: fine
    assert(keyed.store().columns.contains("lang"))
  }

  test("searchNearDup: banded-minhash candidates == the self-join pipeline's verdicts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-neardup").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index")
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    eng.ingest(docs)
    // the query is an 85% prefix of doc 3 — nested shingle sets, J ≈ 0.8
    val qtext = docs.filter(col("doc_id") === 3)
      .select(expr("substring(text, 1, cast(floor(length(text)*0.85) as int))"))
      .head().getString(0)
    val res = eng.searchNearDup(Seq(qtext), threshold = 0.3)
    val rows = res.collect()
    assert(rows.exists(r => r.getLong(1) == 3L), "must find the source document")
    // the verdicts equal the reference pipeline: union the query into the
    // corpus (id -1) and run Dedup.nearDupPairs — the q18 spelling
    import spark.implicits._
    val union = docs.withColumnRenamed("doc_id", "id")
      .unionByName(Seq((-1L, qtext)).toDF("id", "text"))
    val expect = graft.operators.Dedup
      .nearDupPairs(union, "text", "id", 3, 16, 4, 0.3)
      .filter(col("id_a") === -1L && col("id_b") >= 0)
      .select(col("id_b"), col("inter"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = rows.map(r => (r.getLong(1), r.getLong(2), r.getDouble(5))).toSet
    assert(got == expect, s"engine verdicts $got != pipeline verdicts $expect")
    // serving reads the persisted layout — no text bytes in the plan
    val plan = eng.searchNearDup(Seq(qtext)).queryExecution.executedPlan.toString
    assert(!plan.contains("text#") || !plan.contains(cfg.storePath),
      "the serve plan must not re-shingle the store text")
    // layout on disk, stamped; a fresh engine serves from it byte-identically
    assert(new java.io.File(s"$dir/index_minhash/bands").exists())
    assert(new Engine(spark, cfg).searchNearDup(Seq(qtext), 0.3)
      .collect().toSeq == rows.toSeq)
    intercept[IllegalArgumentException](eng.searchNearDup(Seq.empty))
    intercept[IllegalArgumentException](eng.searchNearDup(Seq(qtext), 0.0))
  }

  test("deleteSoft: tombstones mask every read path with zero layout IO") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tomb").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    eng.ingest(docs)
    eng.update()
    val q = Seq("data processing pipeline")
    // tombstone the CURRENT top hit — masking must change the ranking
    val top = eng.search(q).orderBy("rank").select("doc_id").head().getLong(0)
    import spark.implicits._
    def layoutState(root: String): Seq[(String, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      val d = new java.io.File(root)
      if (!d.exists()) Seq.empty
      else walk(d).map(f => (f.getPath, f.lastModified())).sortBy(_._1)
    }
    val states = Seq(s"$dir/store", s"$dir/index", s"$dir/index_ivf").map(layoutState)
    assert(eng.deleteSoft(Seq(top).toDF("doc_id")) == 1L)
    assert(Seq(s"$dir/store", s"$dir/index", s"$dir/index_ivf").map(layoutState) == states,
      "deleteSoft must not touch store/index/layout bytes")
    // every read family masks the tombstoned doc
    assert(!eng.search(q).select("doc_id").as[Long].collect().contains(top))
    assert(eng.query(col("doc_id") === top).count() == 0)
    assert(!eng.hybridSearch(q).select("doc_id").as[Long].collect().contains(top))
    assert(!eng.searchSparse(q).select("doc_id").as[Long].collect().contains(top))
    assert(!eng.searchRadius(q, 0.0).select("doc_id").as[Long].collect().contains(top))
    assert(!eng.searchGrowing(q).select("doc_id").as[Long].collect().contains(top))
    // a fresh engine sees the delta log from disk
    assert(new Engine(spark, cfg).query(col("doc_id") === top).count() == 0)
    // vacuum applies physically; serving is byte-identical across it
    val maskedHits = eng.search(q).collect().toSeq
    assert(eng.vacuumDeleted() == 1L)
    assert(eng.vacuumDeleted() == 0L) // idempotent: the log is clear
    assert(eng.search(q).collect().toSeq == maskedHits)
    assert(eng.store().filter(col("doc_id") === top).count() == 0)
  }

  test("tombstone interplay: upsert resurrects; delete leaves no stale mask") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tomb2").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index")
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    eng.ingest(docs)
    import spark.implicits._
    // upsert of a tombstoned pk with IDENTICAL bytes: the digest check
    // skips the rewrite, but the pk must still resurrect (upsert asserts
    // existence — Milvus's upsert-after-delete contract)
    assert(eng.deleteSoft(Seq(5L).toDF("doc_id")) == 1L)
    assert(eng.query(col("doc_id") === 5L).count() == 0)
    assert(eng.upsert(docs) == 0L) // byte-identical: zero changed rows
    assert(eng.query(col("doc_id") === 5L).count() == 1, "upsert must resurrect")
    // upsert of a tombstoned pk with NEW bytes: visible with the new text
    assert(eng.deleteSoft(Seq(7L).toDF("doc_id")) == 1L)
    val mutated = docs.withColumn("text",
      when(col("doc_id") === 7L, concat(col("text"), lit(" v2"))).otherwise(col("text")))
    assert(eng.upsert(mutated) == 1L)
    val got = eng.query(col("doc_id") === 7L, Seq("text")).head().getString(1)
    assert(got.endsWith(" v2"), "resurrected row must carry the upserted bytes")
    // physical delete of a tombstoned pk clears its log entry, so a later
    // re-ingest is visible (no stale mask)
    assert(eng.deleteSoft(Seq(9L).toDF("doc_id")) == 1L)
    eng.delete(Seq(9L).toDF("doc_id"))
    eng.ingest(docs.filter(col("doc_id") === 9L))
    assert(eng.query(col("doc_id") === 9L).count() == 1, "stale tombstone masked a re-ingest")
  }

  test("hybridSearchMulti: pool subsets reduce to the existing verbs; guards") {
    val dir = java.nio.file.Files.createTempDirectory("graft-multi").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index")
    val eng = new Engine(spark, cfg)
    eng.ingest(spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text"))
    eng.update()
    val q = Seq("data processing pipeline", "machine learning")
    // the 2-pool subset must fuse exactly like hybridSearch (same RRF ppm,
    // same ranking) — the generalization cannot drift from the special case
    val two = eng.hybridSearchMulti(q, Seq("vector", "lexical"))
      .select("query_id", "doc_id", "lex_rank", "vec_rank", "rrf_ppm", "rank")
      .collect().toSeq
    val classic = eng.hybridSearch(q)
      .select("query_id", "doc_id", "lex_rank", "vec_rank", "rrf_ppm", "rank")
      .collect().toSeq
    assert(two == classic, "2-pool multi must equal hybridSearch")
    // a single vector pool ranks exactly like search()
    val solo = eng.hybridSearchMulti(q, Seq("vector"))
      .select("query_id", "doc_id").collect().toSeq
    val plain = eng.search(q).select("query_id", "doc_id").collect().toSeq
    assert(solo == plain, "1-pool multi must preserve the pool's own order")
    // 3-pool output carries all three rank columns, absent pools as 0
    val three = eng.hybridSearchMulti(q)
    assert(three.columns.toSeq.containsSlice(
      Seq("lex_rank", "vec_rank", "sparse_rank")))
    assert(three.count() > 0)
    intercept[IllegalArgumentException](eng.hybridSearchMulti(q, Seq()))
    intercept[IllegalArgumentException](eng.hybridSearchMulti(q, Seq("vector", "vector")))
    intercept[IllegalArgumentException](eng.hybridSearchMulti(q, Seq("hnsw")))
  }

  test("hybridSearchWhere: identity under a true filter; a real filter gates both pools") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hybwhere").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index")
    val eng = new Engine(spark, cfg)
    eng.ingest(spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang"))
    eng.update()
    val q = Seq("data processing pipeline", "machine learning")
    val cols = Seq("query_id", "doc_id", "lex_rank", "vec_rank", "rrf_ppm", "rank")
    // a universally-true predicate must be byte-identical to hybridSearch
    val all = eng.hybridSearchWhere(q, lit(true))
      .select(cols.head, cols.tail: _*).collect().toSeq
    val classic = eng.hybridSearch(q)
      .select(cols.head, cols.tail: _*).collect().toSeq
    assert(all == classic, "true-filtered hybrid must equal hybridSearch")
    // a real filter: every hit satisfies the predicate, and the filtered
    // ranking is NOT just the unfiltered one post-filtered (eligible docs
    // outside the unfiltered pools can surface)
    val langs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val filt = eng.hybridSearchWhere(q, col("lang") === "en").collect()
    assert(filt.nonEmpty && filt.forall(r => langs(r.getLong(2)) == "en"),
      "a filtered hit violates the predicate")
    val unfDocs = classic.map(_.getLong(1)).toSet
    assert(filt.exists(r => !unfDocs.contains(r.getLong(2))),
      "the filter surfaced no doc beyond the unfiltered top-k — gate not pre-pool?")
    // the Milvus expr-string spelling routes through the same translator
    val viaExpr = eng.hybridSearchExpr(q, """lang == "en"""").collect()
    assert(viaExpr.map(_.toSeq).toSeq == filt.map(_.toSeq).toSeq,
      "hybridSearchExpr must equal the Column-predicate spelling")
  }

  test("dropIndex: pins brute serving across engines until update() re-creates") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dropidx").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    eng.ingest(spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text"))
    eng.update()
    val q = Seq("data processing pipeline")
    val exact = eng.search(q).collect().toSeq // nprobe = nlist: exhaustive = exact
    assert(new java.io.File(s"$dir/index_ivf").exists())
    eng.dropIndex()
    assert(!new java.io.File(s"$dir/index_ivf").exists())
    // a FRESH engine honors the on-disk pin: brute route, no rebuild,
    // exact results
    val e2 = new Engine(spark, cfg)
    assert(!e2.routeIvf(), "dropped pin must force the brute route")
    assert(e2.search(q).collect().toSeq == exact)
    assert(!new java.io.File(s"$dir/index_ivf").exists(), "search rebuilt the layout")
    // the explicit IVF verb refuses instead of silently rebuilding
    intercept[IllegalArgumentException](e2.searchIvf(q))
    // update() IS create_index: pin cleared, layout re-persisted
    e2.update()
    assert(e2.routeIvf())
    assert(new java.io.File(s"$dir/index_ivf").exists())
    assert(e2.search(q).collect().toSeq == exact)
  }

  test("renameCollection: metadata-only move, layouts serve without rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rename").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    eng.ingest(spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text"))
    eng.update()
    val q = Seq("data processing pipeline")
    val before = eng.search(q).collect().toSeq
    val cfg2 = eng.renameCollection(s"$dir/s2", s"$dir/i2")
    assert(!new java.io.File(s"$dir/store").exists())
    assert(!new java.io.File(s"$dir/index").exists())
    assert(!new java.io.File(s"$dir/index_ivf").exists())
    // the sealed manifest's URIs were rewritten to the new store root
    val seal = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/i2_SEALED")), "UTF-8")
    assert(seal.contains(s"$dir/s2") && !seal.contains(s"$dir/store"),
      "sealed manifest must follow the rename")
    // byte-identical serving from the MOVED layout, no rebuild
    def mt(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/i2_ivf")).map(f => f.getPath -> f.lastModified()).toMap
    }
    val m0 = mt()
    val e2 = new Engine(spark, cfg2)
    assert(e2.search(q).collect().toSeq == before)
    assert(mt() == m0, "post-rename serving must not rewrite the layout")
    // guards: occupied target, explicit ivf_path
    intercept[IllegalArgumentException](e2.renameCollection(s"$dir/s2", s"$dir/i2"))
    val e3 = new Engine(spark, cfg2.copy(ivfPath = s"$dir/custom_ivf"))
    intercept[IllegalArgumentException](e3.renameCollection(s"$dir/s3", s"$dir/i3"))
  }

  test("retrieve: Milvus expr strings serve through the pushed-filter path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-retrieve").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index")
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
    eng.ingestDynamic(docs, declared = Seq("lang"))
    import spark.implicits._
    // dynamic (source, n_chars) and physical (lang) fields mix in one expr
    val got = eng.retrieve(
      """lang == "en" && n_chars > 400 || source in ["src3"]""", limit = 10000)
      .select("doc_id").as[Long].collect().toSet
    val expect = docs.filter(
      (col("lang") === "en" && col("n_chars") > 400L) || col("source") === "src3")
      .select("doc_id").as[Long].collect().toSet
    assert(got == expect)
    // empty expr = first `limit` docs by pk (Milvus expr='' behavior)
    val firstTwo = eng.retrieve("", limit = 2).select("doc_id").as[Long].collect()
    assert(firstTwo.sameElements(
      docs.select("doc_id").as[Long].collect().sorted.take(2)))
    // an expr outside the subset fails loudly in the SQL parser, not silently
    intercept[Exception](eng.retrieve("lang ==").collect())
  }

  test("searchDecay: degenerate window == search; zero decay ranks by pk; guards") {
    val eng = freshEngine()
    eng.ingest(spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "n_chars"))
    eng.update()
    val qs = Seq("data processing pipeline", "machine learning")
    // a huge offset puts every doc inside the no-decay plateau (decay == 1
    // exactly — pure arithmetic) ⇒ byte-identical to the plain search
    assert(eng.searchDecay(qs, "n_chars", origin = 0.0, scale = 1.0,
      decayOffset = 1e12).collect().toSeq == eng.search(qs).collect().toSeq,
      "decay plateau must reproduce the undecayed ranking")
    // an unreachable origin zeroes every score ⇒ ranking degenerates to
    // the deterministic tiebreak (doc_id asc over the full candidate pool)
    val zeroed = eng.searchDecay(qs, "n_chars", origin = -1e9, scale = 1.0)
    import spark.implicits._
    val z0 = zeroed.filter(col("query_id") === 0)
      .orderBy("rank").select("doc_id", "score").as[(Long, Double)].collect()
    assert(z0.forall(_._2 == 0.0), "all scores must decay to zero")
    val smallest = eng.store().select("doc_id").as[Long].collect().sorted.take(z0.length)
    assert(z0.map(_._1).sameElements(smallest), "zero-decay ties break by pk")
    intercept[IllegalArgumentException](
      eng.searchDecay(qs, "n_chars", origin = 0.0, scale = 0.0))
    intercept[IllegalArgumentException](
      eng.searchDecay(qs, "n_chars", origin = 0.0, scale = 1.0, decayOffset = -1.0))
  }

  test("IVF_RABITQ: persisted sign codes, Hamming cut + exact refine, extend coverage") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rabitq").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L, indexType = "IVF_RABITQ")
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    eng.ingest(docs.filter(col("doc_id") % 2 === 0))
    eng.update()
    val q = Seq("data processing pipeline")
    val res = eng.search(q).collect().toSeq
    assert(res.size == cfg.limit && res == eng.search(q).collect().toSeq)
    // the persisted layout: cell-partitioned sign codes, one packed long
    // per 64 dims, full vectors NOT in the code rows
    val codes = spark.read.parquet(s"$dir/index_ivf/bincodes")
    assert(codes.columns.contains("bcode") && !codes.columns.contains("vec"))
    import spark.implicits._
    assert(codes.select(size(col("bcode"))).as[Int].head() == 1) // dim 64 → 1 word
    assert(new java.io.File(s"$dir/index_ivf/bincodes").listFiles()
      .exists(_.getName.startsWith("cell=")), "codes must be cell-partitioned")
    // incremental extend appends codes for exactly the fresh chunks
    eng.ingest(docs.filter(col("doc_id") % 2 === 1))
    eng.updateIncremental()
    assert(spark.read.parquet(s"$dir/index_ivf/bincodes").count() == eng.index().count(),
      "sign codes must cover the extended index")
    assert(eng.search(q).collect().toSeq.size == cfg.limit)
    // refine-everything degenerates to the exact brute scan: a rerank pool
    // wider than the index makes the Hamming cut a no-op, so the RaBitQ
    // serve must be byte-identical to FLAT
    val wide = new Engine(spark, cfg.copy(pqRerank = 1000000))
    val flat = new Engine(spark, cfg.copy(indexType = "FLAT"))
    assert(wide.search(q).collect().toSeq == flat.search(q).collect().toSeq,
      "RABITQ with an index-wide refine pool must equal the exact scan")
  }

  test("analyzer: english stoplist filters both layout and query sides") {
    val dir = java.nio.file.Files.createTempDirectory("graft-analyzer").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val en = new Engine(spark, EngineConfig(storePath = s"$dir/store",
      indexPath = s"$dir/index", analyzer = "english"))
    en.ingest(docs)
    val q = Seq("the table with a value")
    val enRes = en.searchSparse(q, k = 8).collect().toSeq
    assert(enRes.nonEmpty)
    // layout side: no stopword posting exists anywhere in the layout
    import spark.implicits._
    val toks = spark.read.parquet(s"$dir/index_lex/postings")
      .select("tok").distinct().as[String].collect().toSet
    assert(toks.intersect(Engine.englishStopwords).isEmpty,
      "a stopword leaked into the english postings layout")
    // query side: stopwords in the query are invisible — pre-stripping
    // them changes nothing (scores AND ranks)
    assert(en.searchSparse(Seq("table value"), k = 8).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getInt(4))) ==
      enRes.map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getInt(4))))
    // a stopword-only query has no analyzed terms → reject, like an empty one
    intercept[IllegalArgumentException](en.searchTextMatch(q, "the with a"))
    // the standard analyzer provably diverges: 'the' is a scoring term
    val dir2 = java.nio.file.Files.createTempDirectory("graft-analyzer2").toString
    val std = new Engine(spark, EngineConfig(storePath = s"$dir2/store",
      indexPath = s"$dir2/index"))
    std.ingest(docs)
    val stdRes = std.searchSparse(q, k = 8).collect().toSeq
    assert(stdRes.map(_.getLong(3)) != enRes.map(_.getLong(3)),
      "standard and english analyzers must score a stopword-laden query differently")
    // unknown analyzer: loud reject, never a silent standard fallback
    val bad = new Engine(spark, EngineConfig(storePath = s"$dir/store",
      indexPath = s"$dir/index", analyzer = "turkish"))
    intercept[IllegalArgumentException](bad.searchSparse(q))
  }

  test("searchPhraseMatch: adjacency-verified eligibility, candidates from postings") {
    val dir = java.nio.file.Files.createTempDirectory("graft-phrase").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    eng.ingest(spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text"))
    eng.update()
    val q = Seq("data processing pipeline")
    val res = eng.searchPhraseMatch(q, "table value").collect().toSeq
    assert(res.nonEmpty, "fixture: 'table value' must match documents")
    // semantic contract: identical to a space-normalized substring
    // pre-filter (consecutive whitespace tokens == phrase)
    val adjacent = concat(lit(" "),
      regexp_replace(lower(trim(col("text"))), "\\s+", " "), lit(" "))
      .contains(" table value ")
    assert(res == eng.searchWhere(q, adjacent).collect().toSeq,
      "PHRASE_MATCH must equal the substring-adjacency pre-filter")
    // adjacency genuinely excludes docs holding both tokens apart: the
    // conjunctive candidate set must be strictly wider than the verified
    // set on this corpus (otherwise the verify phase is vacuous here)
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val both = docs.filter(
      array_contains(split(trim(lower(col("text"))), "\\s+"), "table") &&
        array_contains(split(trim(lower(col("text"))), "\\s+"), "value")).count()
    val adj = docs.filter(adjacent).count()
    assert(adj < both, s"fixture: expected non-adjacent candidates (adj=$adj both=$both)")
    intercept[IllegalArgumentException](eng.searchPhraseMatch(q, " "))
  }

  test("compactClustered: scalar-clustered rewrite prunes filtered reads, content unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cluster").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index")
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang", "n_chars")
    (0 until 5).foreach(w => eng.ingest(docs.filter(col("doc_id") % 5 === w)))
    val before = eng.query(col("lang") === "de", Seq("lang", "n_chars"))
      .orderBy("doc_id").collect().toSeq
    def filesOf(d: org.apache.spark.sql.DataFrame): Set[String] = {
      import spark.implicits._
      d.select(input_file_name()).as[String].distinct().collect().toSet
    }
    // fragmented: 'de' rows spread across (nearly) every wave's files
    val preFiles = filesOf(eng.store().filter(col("lang") === "de"))
    assert(preFiles.size >= 4, s"fixture: expected fragmentation, got ${preFiles.size} files")
    val n = docs.count()
    val target = eng.compactClustered("lang", maxRecordsPerFile = math.max(1L, n / 5))
    assert(target >= 5L, s"expected >=5 clustered files, got $target")
    // content identical through the rewrite (a fresh engine, fresh listing)
    val after = new Engine(spark, cfg).query(col("lang") === "de", Seq("lang", "n_chars"))
      .orderBy("doc_id").collect().toSeq
    assert(after == before, "clustering compaction changed query content")
    // the clustered layout serves the filter from a strict subset of files
    val postAll = filesOf(new Engine(spark, cfg).store())
    val postDe = filesOf(new Engine(spark, cfg).store().filter(col("lang") === "de"))
    assert(postDe.size < postAll.size,
      s"clustering must prune: de=${postDe.size} of ${postAll.size} files")
    assert(postDe.size <= 2, s"'de' rows should cluster into <=2 files, got ${postDe.size}")
  }

  test("rate limiting: over-quota serving rejects deterministically, results unperturbed") {
    val dir = java.nio.file.Files.createTempDirectory("graft-quota").toString
    val base = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val setup = new Engine(spark, base)
    setup.ingest(docs); setup.update()
    val q = Seq("data processing pipeline")
    val baseline = setup.search(q).collect().toSeq
    // ~one-token bucket that never refills within a test's lifetime
    val eng = new Engine(spark, base.copy(searchRate = 1e-9))
    val admitted = eng.search(q).collect().toSeq
    assert(admitted == baseline, "rate limiting perturbed results")
    intercept[Engine.OverQuotaException](eng.search(q))
    intercept[Engine.OverQuotaException](eng.query(lit(true)))
    intercept[Engine.OverQuotaException](eng.hybridSearch(q))
    // an unlimited engine over the same layouts is untouched
    assert(new Engine(spark, base).search(q).collect().toSeq == baseline)

    // per-tenant buckets: one tenant's burst cannot starve another's quota
    val dir2 = java.nio.file.Files.createTempDirectory("graft-quota2").toString
    val tcfg = EngineConfig(storePath = s"$dir2/store", indexPath = s"$dir2/index",
      nlist = 8, nprobe = 8, partitionKey = "source", searchRate = 1e-9)
    val teng = new Engine(spark, tcfg)
    teng.ingest(spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source"))
    teng.update()
    teng.searchPartitions(q, Seq("src1")).count() // src1's token spent
    teng.searchPartitions(q, Seq("src2")).count() // src2 has its own bucket
    intercept[Engine.OverQuotaException](teng.searchPartitions(q, Seq("src1")))
  }

  test("searchFields: output_fields hydration — same ranking, text bytes never read") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fields").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    eng.ingest(spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars"))
    eng.update()
    val qs = Seq("data processing pipeline")
    val base = eng.search(qs).collect()
    val f = eng.searchFields(qs, Seq("lang", "source", "n_chars"))
    val rows = f.collect()
    assert(f.columns.toSeq == Seq("query_id", "query", "doc_id", "score", "rank",
      "lang", "source", "n_chars"))
    assert(rows.map(r => (r.getLong(2), r.getDouble(3), r.getInt(4))).toSeq ==
      base.map(r => (r.getLong(2), r.getDouble(3), r.getInt(4))).toSeq,
      "output_fields changed the ranking")
    // neither the hydration scan nor the ranking's scans read the text column
    val reads = Seq(eng.vectorScores(eng.queryDf(qs)),
        eng.hydrationScan(rows.map(_.getLong(2)).toSeq, Seq("lang", "source", "n_chars").map(col)))
      .flatMap(formatted(_).linesIterator.filter(_.contains("ReadSchema")))
    assert(reads.nonEmpty && reads.forall(!_.contains("text")),
      s"searchFields read text bytes:\n${reads.mkString("\n")}")
    intercept[IllegalArgumentException](eng.searchFields(qs, Nil))
  }

  test("searchRange: the annulus keeps [radius, range_filter); radius alone is the degenerate case") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annulus").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L) // IVF route exercised
    val eng = new Engine(spark, cfg)
    eng.ingest(spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text"))
    eng.update()
    val qs = Seq("data processing pipeline", "machine learning")
    val ann = eng.searchRange(qs, 0.05, 0.3).collect()
    assert(ann.nonEmpty)
    assert(ann.forall(r => r.getDouble(3) >= 0.05 && r.getDouble(3) < 0.3),
      "a best score escaped the annulus")
    // an unbounded upper cut degenerates to searchRadius exactly
    assert(eng.searchRange(qs, 0.05, 2.0).collect().toSeq ==
      eng.searchRadius(qs, 0.05).collect().toSeq)
    intercept[IllegalArgumentException](eng.searchRange(qs, 0.5, 0.2))
  }

  test("searchSparse: integral inner product over the persisted postings, exact on a known corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sparse").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index")
    val eng = new Engine(spark, cfg)
    import spark.implicits._
    eng.ingest(Seq(
      (1L, "apple banana"), // apple + banana ⇒ best for the query below
      (2L, "apple"),
      (3L, "cherry")        // no query term ⇒ absent from results
    ).toDF("doc_id", "text"))
    val hits = eng.searchSparse(Seq("apple apple banana")).collect()
    assert(hits.map(_.getLong(2)).toSeq == Seq(1L, 2L), "sparse ranking order wrong")
    // exact replay of the integer math: idf_bp(t) from the piecewise log2,
    // score = sum(qtf * tf * (idf_bp^2 DIV 10000)) with nDocs = 3
    def idfBp(df: Long, n: Long): Long = {
      val s = (1024L * (2 * n + 2)) / (2 * df + 1)
      val e = 63 - java.lang.Long.numberOfLeadingZeros(s)
      10000L * e + (10000L * (s - (1L << e))) / (1L << e) - 100000L
    }
    val ia = idfBp(2, 3); val ib = idfBp(1, 3)
    val exp1 = 2L * 1L * (ia * ia / 10000L) + 1L * 1L * (ib * ib / 10000L)
    val exp2 = 2L * 1L * (ia * ia / 10000L)
    assert(hits.map(_.getLong(3)).toSeq == Seq(exp1, exp2),
      s"sparse scores diverged from the integer replay: ${hits.mkString(", ")}")
    // serving reads only the query terms' postings buckets (the lexserve
    // property): the postings scan carries a tb partition filter
    val plan = formatted(eng.sparseScores(Seq("apple")))
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*tb.*"),
      s"the sparse postings scan is not bucket-pruned\n${plan.take(2000)}")
  }

  test("zero analysed tokens: the lexical layout builds empty and lexical verbs serve") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zerotok").toString
    val eng = new Engine(spark, EngineConfig(storePath = s"$dir/store",
      indexPath = s"$dir/index"))
    import spark.implicits._
    // space-only texts analyse to no token at all (tabs and newlines survive
    // `trim` and split into empty tokens, so they are not this case)
    eng.ingest(Seq((1L, "   "), (2L, " "), (3L, "      ")).toDF("doc_id", "text"))
    eng.update()
    assert(eng.searchSparse(Seq("apple")).collect().isEmpty)
    val hybrid = eng.hybridSearch(Seq("apple")).collect()
    assert(hybrid.forall(_.getAs[Long]("lex_rank") == 0L),
      s"a document without tokens holds a lexical rank: ${hybrid.mkString(", ")}")
  }

  test("searchGrouped group_size: groups rank by leader; members flatten in group order") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gsize").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L, partitionKey = "source")
    val eng = new Engine(spark, cfg)
    eng.ingest(spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source"))
    eng.update()
    val qs = Seq("data processing pipeline")
    val g1 = eng.searchGrouped(qs, "source").collect()
    val g3 = eng.searchGrouped(qs, "source", groupSize = 3).collect()
    // the group ORDER is the leader order — unchanged by depth
    def groupSeq(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
      rows.sortBy(_.getInt(5)).map(_.getString(2)).distinct.toSeq
    assert(groupSeq(g3) == groupSeq(g1), "group_size changed the group order")
    // each group contributes at most 3 docs, in score-desc order
    g3.groupBy(_.getString(2)).foreach { case (_, rows) =>
      assert(rows.length <= 3)
      val scores = rows.sortBy(_.getInt(5)).map(_.getDouble(4)).toSeq
      assert(scores == scores.sorted(Ordering[Double].reverse))
    }
    // every leader row of g1 appears in g3 with the same score
    val l1 = g1.map(r => (r.getString(2), r.getLong(3), r.getDouble(4))).toSet
    val m3 = g3.map(r => (r.getString(2), r.getLong(3), r.getDouble(4))).toSet
    assert(l1.subsetOf(m3), "a leader vanished at depth 3")
    // flattened ranks are contiguous from 1
    assert(g3.map(_.getInt(5)).sorted.toSeq == (1 to g3.length))
  }

  test("searchGrouped strict_group_size: loose mode draws members only from the pool") {
    // synthetic skew: source sA owns the 5 best-matching docs (exact query
    // text → cosine 1.0), sB three progressively weaker docs — the pool
    // (limit 2 × size 3 = 6) holds 5×sA + 1×sB, so loose mode surfaces sB
    // with ONE member where strict mode backfills it to 3
    import spark.implicits._
    val docs = (
      (0 until 5).map(i => (i.toLong, "alpha beta gamma", "sA")) ++
        Seq((10L, "alpha beta zeta", "sB"), (11L, "alpha zeta zeta", "sB"),
          (12L, "zeta zeta zeta", "sB"))
      ).toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files.createTempDirectory("graft-gstrict").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      limit = 2, partitionKey = "source")
    val eng = new Engine(spark, cfg)
    eng.ingest(docs)
    eng.update()
    val qs = Seq("alpha beta gamma")
    val strict = eng.searchGrouped(qs, "source", groupSize = 3)
    val loose = eng.searchGrouped(qs, "source", groupSize = 3, strict = false)
    val sRows = strict.collect(); val lRows = loose.collect()
    def leaders(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
      rows.sortBy(_.getInt(5)).map(_.getString(2)).distinct.toSeq
    // both modes surface [sA, sB] in that order here (sB's leader is the
    // pool's 6th doc)
    assert(leaders(sRows) == Seq("sA", "sB") && leaders(lRows) == Seq("sA", "sB"),
      s"unexpected group order: strict=${leaders(sRows)} loose=${leaders(lRows)}")
    // strict backfills sB to its 3 docs; loose keeps only the pooled one
    def members(rows: Array[org.apache.spark.sql.Row], g: String): Int =
      rows.count(_.getString(2) == g)
    assert(members(sRows, "sB") == 3 && members(lRows, "sB") == 1,
      s"sB members: strict=${members(sRows, "sB")} loose=${members(lRows, "sB")}")
    // loose members are a subset of strict members
    val sSet = sRows.map(r => (r.getString(2), r.getLong(3))).toSet
    assert(lRows.map(r => (r.getString(2), r.getLong(3))).forall(sSet.contains),
      "a loose-mode member is not in the strict result")
    // loose ranks stay contiguous from 1
    assert(lRows.map(_.getInt(5)).sorted.toSeq == (1 to lRows.length))
  }

  test("a crashed lexical extend (marker present) rebuilds instead of double-appending") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lexcrash").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    eng.ingest(docs.filter(col("doc_id") % 2 === 0)); eng.update()
    val qs = Seq("data processing pipeline", "machine learning")
    def census(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    eng.hybridSearch(qs).collect() // builds the lexical layout
    // simulate the crash window: a dead extend left its intent marker (and,
    // worst case, a partial postings append — here we plant the marker AND
    // a poisoned duplicate postings append to prove the rebuild clears it)
    val posts = spark.read.parquet(s"$dir/index_lex/postings")
    posts.limit(50).write.mode("append").partitionBy("tb")
      .parquet(s"$dir/index_lex/postings") // the half-applied batch
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/index_lex/_EXTEND_INPROGRESS"), "extend")
    eng.ingest(docs)
    assert(eng.updateIncremental() > 0) // the retry: must REBUILD, not extend
    assert(!new java.io.File(s"$dir/index_lex/_EXTEND_INPROGRESS").exists(),
      "the recovery did not clear the in-progress marker")
    val fresh = new Engine(spark, cfg.copy(storePath = s"$dir/fs", indexPath = s"$dir/fi"))
    fresh.ingest(docs); fresh.update()
    assert(census(eng.hybridSearch(qs)) == census(fresh.hybridSearch(qs)),
      "the crashed-extend recovery served poisoned postings")
    // the duplicate rows really are gone (rebuild, not append-over)
    val rebuilt = spark.read.parquet(s"$dir/index_lex/postings")
    assert(rebuilt.groupBy("doc_id", "tok").count().filter(col("count") > 1).count() == 0,
      "duplicate postings survived the rebuild")
  }

  test("dropPartition: hive-escaped tenant values leave zero residue on disk") {
    // values Hive path-escapes (space, '=', '/', '%'): a raw s"$k=$v"
    // interpolation would miss the escaped directory and silently leave the
    // tenant's files behind while reporting success (the round-9 advice)
    val dir = java.nio.file.Files.createTempDirectory("graft-dropesc").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      partitionKey = "source", nlist = 4, nprobe = 4, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    val weird = "src 3=a/b%c"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"),
        when(col("doc_id") % 5 === 0, lit(weird)).otherwise(col("source")).as("source"))
    eng.ingest(docs); eng.update()
    val expect = docs.filter(col("source") === weird).count()
    assert(expect > 0, "fixture produced no rows for the escaped tenant")
    assert(eng.dropPartition(Seq(weird)) == expect)
    def residue(root: String): Boolean = new java.io.File(root).listFiles()
      .exists(d => d.getName.startsWith("source=") && d.getName.contains("src%20"))
    assert(!residue(s"$dir/store") && !residue(s"$dir/index"),
      "the escaped tenant's directories survived the drop")
    assert(eng.store().filter(col("source") === weird).count() == 0
      && eng.index().filter(col("source") === weird).count() == 0,
      "escaped-tenant rows survived")
    assert(eng.fsck().collect().head.getAs[Boolean]("consistent"))
  }

  test("upsert: change detection is null-safe and shuffles only (key, digest)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-upnull").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index")
    val eng = new Engine(spark, cfg)
    // a store column holding NULLs: the round-9 all-column anti join treated
    // NULL ≠ NULL, so these rows re-upserted forever (the medium advice)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"),
        when(col("doc_id") % 3 === 0, col("lang")).otherwise(lit(null)).as("lang"))
    eng.ingest(docs); eng.update()
    assert(eng.upsert(docs) == 0L,
      "re-upserting identical rows containing NULL columns must be a no-op")
    // changed rows are still detected — including a NULL flipping to a value
    val v2 = docs.withColumn("lang",
      when(col("doc_id") % 6 === 1, lit("xx")).otherwise(col("lang")))
    assert(eng.upsert(v2) == docs.filter(col("doc_id") % 6 === 1).count(),
      "a NULL→value change went undetected")
    assert(eng.upsert(v2) == 0L, "idempotence after the null-flip upsert")
    // plan gate: the anti join's keys are exactly (doc_id, __dg) — document
    // text never rides the shuffle as join-key bytes
    val plan = eng.upsertChangedKeys(v2, "doc_id").queryExecution.optimizedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.nonEmpty, "no join in the change-detection plan")
    joins.foreach { j =>
      val keyNames = j.condition.toSeq.flatMap(_.references.toSeq).map(_.name).toSet
      assert(keyNames.subsetOf(Set("doc_id", "__dg")),
        s"change detection joins on $keyNames — must be only (doc_id, __dg)")
      j.children.foreach { side =>
        assert(side.output.map(_.name).toSet.subsetOf(Set("doc_id", "__dg")),
          s"a join input carries ${side.output.map(_.name)} — wider than (key, digest)")
      }
    }
  }

  test("compact on a partition-keyed index cures per-tenant small files, keeps the layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pcompact").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      partitionKey = "source")
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source")
    // three append waves ⇒ several part files per tenant directory
    eng.ingest(docs.filter(col("doc_id") % 3 === 0)); eng.update()
    eng.ingest(docs.filter(col("doc_id") % 3 === 1)); assert(eng.updateIncremental() > 0)
    eng.ingest(docs); assert(eng.updateIncremental() > 0)
    def tenantFiles(): Map[String, Int] =
      new java.io.File(s"$dir/index").listFiles().filter(_.getName.startsWith("source="))
        .map(d => d.getName -> d.listFiles().count(f =>
          f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))).toMap
    val before = tenantFiles()
    assert(before.values.exists(_ > 1), "fixture failed to accrete small files")
    val pre = hitCensus(eng.search(Seq("data processing pipeline", "machine learning")))
    eng.compact()
    val after = tenantFiles()
    assert(after.keySet == before.keySet, "compaction dropped a tenant directory")
    assert(after.values.forall(_ == 1), s"tenants not bin-packed to one file: $after")
    assert(eng.index().count() == spark.read.parquet(s"$dir/index").count())
    // a second compact in a maintenance loop must skip (selective guard)
    val stamp = tenantFiles().map { case (k, _) =>
      k -> new java.io.File(s"$dir/index/$k").listFiles().map(_.lastModified).toSet }
    eng.compact()
    assert(tenantFiles().map { case (k, _) =>
      k -> new java.io.File(s"$dir/index/$k").listFiles().map(_.lastModified).toSet } == stamp,
      "an already-compact layout was rewritten again")
    assert(hitCensus(eng.search(Seq("data processing pipeline", "machine learning"))) == pre,
      "compaction changed search results")
  }

  test("concurrent searches during an incremental extend leave the layout duplicate-free") {
    // the round-8 advice race: a search that sees the mid-extend fingerprint
    // mismatch must NOT launch a rebuild whose overwrite interleaves with
    // the in-flight cells append (duplicated chunk rows under a matching
    // stamp). The extend sequence holds the ivfIndex() monitor; this spec
    // hammers search() from 3 threads across the whole extend window and
    // then audits the persisted layout for exactly-once chunk rows.
    val dir = java.nio.file.Files.createTempDirectory("graft-race").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    eng.ingest(docs.filter(col("doc_id") % 2 === 0))
    eng.update()
    eng.ingest(docs)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 3).map { _ =>
      new Thread(() => {
        while (!stop.get()) {
          try eng.search(Seq("data processing pipeline")).count()
          catch { case t: Throwable => errs.add(t); stop.set(true) }
        }
      })
    }
    threads.foreach(_.start())
    val appended = try eng.updateIncremental()
    finally { stop.set(true); threads.foreach(_.join(60000)) }
    assert(appended > 0)
    assert(errs.isEmpty, s"a concurrent search failed: ${errs.peek()}")
    val cells = spark.read.parquet(s"$dir/index_ivf/cells")
    assert(cells.count() == eng.index().count(),
      "layout row count diverged from the index after a contended extend")
    assert(cells.select("chunk_id").distinct().count() == cells.count(),
      "a contended extend duplicated chunk rows in the persisted layout")
  }

  test("overlapped extend: every side is awaited and every failure reported") {
    val dir = java.nio.file.Files.createTempDirectory("graft-overlap").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    eng.ingest(docs.filter(col("doc_id") % 2 === 0))
    eng.update()
    eng.hybridSearch(Seq("data processing pipeline")).collect() // lexical layout on disk
    eng.ingest(docs)
    // a FILE where a write's `_temporary` directory must go fails that
    // write: the index append (a side job) and the lexical extend (the
    // calling thread) both fail, while the cells append succeeds
    Seq(s"$dir/index", s"$dir/index_lex/postings").foreach(d =>
      java.nio.file.Files.createFile(java.nio.file.Paths.get(d, "_temporary")))
    val err = intercept[Throwable](eng.updateIncremental())
    def text(t: Throwable): String =
      if (t == null) ""
      else (Seq(t.toString, text(t.getCause)) ++ t.getSuppressed.map(text)).mkString("\n")
    val all = text(err)
    assert(all.contains(s"$dir/index_lex/postings"), s"the lexical failure was dropped:\n$all")
    assert(all.contains(s"$dir/index/_temporary"), s"the index-append failure was dropped:\n$all")
    // the cells append was awaited: its commit finished before the verb threw
    assert(!new java.io.File(s"$dir/index_ivf/cells/_temporary").exists(),
      "the cells append was still running after updateIncremental returned")
  }

  test("searchGrouped: one hit per group; carried-field and store-join paths agree") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gsearch").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source")
    val qs = Seq("data processing pipeline", "machine learning")
    // partition-keyed engine: group attribution rides the index rows
    val keyed = new Engine(spark, EngineConfig(storePath = s"$dir/ks",
      indexPath = s"$dir/ki", partitionKey = "source"))
    keyed.ingest(docs); keyed.update()
    // plain engine: group attribution via the store join
    val plain = new Engine(spark, EngineConfig(storePath = s"$dir/ps",
      indexPath = s"$dir/pi"))
    plain.ingest(docs); plain.update()
    def census(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long, Double, Int)] =
      df.collect().map(r => (r.getLong(r.fieldIndex("query_id")),
        r.getString(r.fieldIndex("source")), r.getLong(r.fieldIndex("doc_id")),
        r.getDouble(r.fieldIndex("score")), r.getInt(r.fieldIndex("rank")))).toSet
    val a = census(keyed.searchGrouped(qs, "source"))
    assert(a == census(plain.searchGrouped(qs, "source")),
      "carried-field and store-join group attribution diverged")
    // diversity contract: groups are distinct within a query
    a.groupBy(_._1).values.foreach { hits =>
      assert(hits.map(_._2).size == hits.size, "a group surfaced twice in one query")
    }
    // the keyed path's ranking never reads the store (hydration is a
    // separate by-id scan); the plain path's ranking must, to attribute
    def readsStore(eng: Engine): Boolean =
      eng.groupedRanking(qs, "source", 1, strict = true).queryExecution.sparkPlan
        .collectLeaves().exists {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.relation.location.rootPaths.exists(_.toString.endsWith(eng.cfg.storePath))
          case _ => false
        }
    assert(!readsStore(keyed), "carried-field path still joins the store to attribute groups")
    assert(readsStore(plain), "fixture: the plain path must attribute groups from the store")
    // the loose strict_group_size mode must also agree across attribution
    // paths (the pool cap sits between the per-doc frame and the group
    // window, downstream of where the two paths differ)
    val lk = census(keyed.searchGrouped(qs, "source", groupSize = 2, strict = false))
    val lp = census(plain.searchGrouped(qs, "source", groupSize = 2, strict = false))
    assert(lk == lp, "loose mode diverged between carried-field and store-join paths")
  }

  test("searchPage: absolute ranks, seamless page concatenation, page 1 == search") {
    val eng = freshEngine()
    eng.ingest(spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text"))
    eng.update()
    val qs = Seq("data processing pipeline", "machine learning")
    assert(hitCensus(eng.searchPage(qs, 0, 4)) == hitCensus(eng.search(qs)),
      "page 1 at cfg.limit must equal search")
    val p1 = hitCensus(eng.searchPage(qs, 0, 4))
    val p2 = hitCensus(eng.searchPage(qs, 4, 4))
    val both = hitCensus(eng.searchPage(qs, 0, 8))
    assert((p1 ++ p2) == both, "two consecutive pages must concatenate seamlessly")
    assert(p2.forall(h => h._4 > 4 && h._4 <= 8), "page 2 ranks must stay absolute")
    intercept[IllegalArgumentException](eng.searchPage(qs, -1, 4))
  }

  test("partition-keyed index: searchPartitions prunes the scan to the named tenants") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pkey").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      partitionKey = "source") // default threshold: the brute (scan-pruned) route
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source")
    val half = docs.filter(col("doc_id") % 2 === 0)
    eng.ingest(half)
    eng.update()
    // incremental appends land INSIDE the hive layout, not at the root
    eng.ingest(docs)
    assert(eng.updateIncremental() > 0)
    val root = new java.io.File(s"$dir/index")
    assert(root.listFiles().exists(_.getName.startsWith("source=")),
      "index is not hive-partitioned by the partition key")
    assert(!root.listFiles().exists(f => f.isFile && f.getName.endsWith(".parquet")),
      "an append wrote data files OUTSIDE the partition layout")
    val qs = Seq("data processing pipeline", "machine learning")
    val parts = Seq("src3", "src7")
    val df = eng.searchPartitions(qs, parts)
    // the tenant scope must reach the index scan as a PARTITION filter —
    // directories of unnamed tenants are never read
    val plan = formatted(eng.vectorScores(eng.queryDf(qs), scope = Some(col("source").isin(parts: _*))))
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*source[^\\]]*\\].*"),
      s"tenant scope did not become a partition filter\n${plan.take(3000)}")
    // scope semantics == the general-predicate gate on the same predicate
    assert(hitCensus(df) ==
      hitCensus(eng.searchWhere(qs, col("source").isin(parts: _*))),
      "searchPartitions != searchWhere on the partition-key predicate")
    // and the IVF-routed engine over the SAME layout agrees (exhaustive probe)
    val ivfEng = new Engine(spark, cfg.copy(nlist = 8, nprobe = 8, ivfThreshold = 1L))
    assert(hitCensus(ivfEng.searchPartitions(qs, parts)) == hitCensus(df),
      "IVF-routed partition scope diverged from the scan-pruned brute route")
  }

  test("hybridSearch fuses lexical and vector evidence by reciprocal rank") {
    val eng = freshEngine()
    eng.ingest(spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text"))
    eng.update()
    val qs = Seq("data processing pipeline", "machine learning")
    val rows = eng.hybridSearch(qs).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L))
    byQ.values.foreach { hits =>
      assert(hits.length <= 4)
      val ppm = hits.sortBy(_.getInt(6)).map(_.getLong(5))
      assert(ppm.sameElements(ppm.sorted(Ordering[Long].reverse)),
        "rrf_ppm must be non-increasing in rank")
      hits.foreach { r =>
        val (lex, vec, ppmV) = (r.getLong(3), r.getLong(4), r.getLong(5))
        assert(lex >= 0 && vec >= 0 && (lex > 0 || vec > 0),
          "a fused hit needs at least one ranking's evidence")
        // ppm is exactly the sum of the two (possibly absent) contributions
        val want = (if (lex > 0) 1000000L / (60 + lex) else 0L) +
          (if (vec > 0) 1000000L / (60 + vec) else 0L)
        assert(ppmV == want, s"rrf_ppm $ppmV != recomputed $want for $r")
      }
    }
    // plan shape: no cartesian anywhere (the only cross joins carry
    // broadcast sides — corp stats, query vectors), and the corpus-side
    // token/doc-length join may shuffle but never broadcasts the corpus
    // (the ranking frames of both pools, before their top-kPool cuts)
    Seq(eng.vectorScores(eng.queryDf(qs)), eng.lexicalScores(qs))
      .map(_.queryExecution.executedPlan.toString).foreach(plan =>
      assert(!plan.contains("CartesianProduct"), plan.take(2000)))
    // the fusion is not a relabeled vector search: lexical evidence must
    // move at least one query's top-k away from the pure vector top-k
    val vecTop = eng.search(qs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val hybTop = byQ.view.mapValues(_.map(_.getLong(2)).toSet).toMap
    assert(qs.indices.exists(i => hybTop(i.toLong) != vecTop(i.toLong)),
      "fixture too weak: hybrid top-k equals vector top-k for every query")
  }

  test("hybridSearch: lexical ranking serves from persisted postings, extended delta-sized") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lex").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    eng.ingest(docs.filter(col("doc_id") % 2 === 0)); eng.update()
    val qs = Seq("data processing pipeline", "machine learning")
    def census(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val h1 = census(eng.hybridSearch(qs))
    // first use built the layout: bucket-partitioned postings + doclens + stats
    val postsRoot = new java.io.File(s"$dir/index_lex/postings")
    assert(postsRoot.listFiles().exists(_.getName.startsWith("tb=")),
      "lexical postings are not hive-partitioned by token bucket")
    assert(new java.io.File(s"$dir/index_lex/stats").isDirectory)
    // a second call serves the SAME result from the layout (no rebuild:
    // every file survives byte-identically)
    def fileStamps(): Set[(String, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(postsRoot).filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .map(f => (f.getPath, f.lastModified)).toSet
    }
    val stamps1 = fileStamps()
    assert(census(eng.hybridSearch(qs)) == h1)
    assert(fileStamps() == stamps1, "a repeat hybrid call rebuilt the lexical layout")
    // the ingest → updateIncremental tick EXTENDS the postings (old files
    // survive; new docs' postings append) and hybrid equals a from-scratch
    // engine over the full corpus
    eng.ingest(docs)
    assert(eng.updateIncremental() > 0)
    val stamps2 = fileStamps()
    assert(stamps1.subsetOf(stamps2),
      "the incremental tick rewrote existing postings files — extend must append")
    assert(stamps2.size > stamps1.size, "no postings were appended for the new docs")
    val fresh = new Engine(spark, cfg.copy(storePath = s"$dir/fs", indexPath = s"$dir/fi"))
    fresh.ingest(docs); fresh.update()
    assert(census(eng.hybridSearch(qs)) == census(fresh.hybridSearch(qs)),
      "extended lexical layout diverged from a from-scratch build")
    // deletes invalidate: postings of removed docs must not poison df/stats
    val gone = docs.filter(col("doc_id") % 7 === 0).select("doc_id")
    eng.delete(gone)
    val fresh2 = new Engine(spark, cfg.copy(storePath = s"$dir/f2s", indexPath = s"$dir/f2i"))
    fresh2.ingest(docs.filter(col("doc_id") % 7 =!= 0)); fresh2.update()
    assert(census(eng.hybridSearch(qs)) == census(fresh2.hybridSearch(qs)),
      "post-delete hybrid served stale postings")
  }

  test("alias: create/alter round-trips every knob; serving follows the flip; writes are rename-atomic") {
    val dir = java.nio.file.Files.createTempDirectory("graft-alias").toString
    val alias = s"$dir/c.alias"
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/i1",
      chunkSize = 96, chunkOverlap = 32, embedDim = 32, batchSize = 64,
      nlist = 8, nprobe = 4, limit = 3, ivfThreshold = 7L,
      schedulerInitRun = false, schedulerPeriod = "hour",
      indexType = "IVF_PQ", pqM = 8, pqCodes = 16, pqSeed = 23L, pqRerank = 10,
      partitionKey = "source", ivfPath = s"$dir/ivf")
    Engine.writeAlias(spark, alias, cfg)
    assert(EngineConfig.load(alias) == cfg, "alias round-trip lost a knob")
    // empty-string knobs must round-trip to their defaults, not break parse
    val plain = cfg.copy(modelPath = "", ivfPath = "", partitionKey = "")
    Engine.writeAlias(spark, alias, plain) // alter: overwrite in place
    assert(EngineConfig.load(alias) == plain)
    // no torn pointer: the temp never lingers, the file always parses
    assert(!new java.io.File(s"$alias.tmp").exists(), "alias temp file lingered")
    // serving follows the flip
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val v1 = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/v1")
    val e1 = new Engine(spark, v1); e1.ingest(docs); e1.update()
    Engine.writeAlias(spark, alias, v1)
    val mpath = s"$dir/m.ckpt"
    graft.functions.FileEmbedder.save(mpath,
      graft.functions.FileEmbedder.Model("aeiounst".toCharArray,
        graft.functions.FileEmbedder.syntheticWeights(42L, 8, 8)))
    val v2 = v1.copy(indexPath = s"$dir/v2", modelPath = mpath)
    new Engine(spark, v2).update()
    val before = hitCensus(Engine.forAlias(spark, alias).search(Seq("graph node edge label")))
    Engine.writeAlias(spark, alias, v2)
    val after = hitCensus(Engine.forAlias(spark, alias).search(Seq("graph node edge label")))
    assert(before == hitCensus(e1.search(Seq("graph node edge label"))))
    assert(after == hitCensus(new Engine(spark, v2).search(Seq("graph node edge label"))))
    assert(before != after, "fixture too weak: both models rank identically")
  }

  test("describePartitions: per-tenant counts read no data column") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pstats").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      partitionKey = "source")
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source")
    eng.ingest(docs); eng.update()
    val out = eng.describePartitions().collect()
    val expDocs = docs.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.map(r => r.getString(0) -> r.getLong(1)).toMap == expDocs)
    assert(out.forall(r => r.getLong(2) >= r.getLong(1)),
      "a tenant has fewer chunks than documents")
    assert(eng.index().count() == out.map(_.getLong(2)).sum)
    // the scans group on the partition column only: no data column is read
    val plan = eng.describePartitions().queryExecution.executedPlan.toString
    val reads = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.nonEmpty && reads.forall(_.contains("struct<>")),
      s"describePartitions read data columns:\n${reads.mkString("\n")}")
    intercept[IllegalArgumentException](freshEngine().describePartitions())
  }

  test("hybridSearchWeighted: min-max normalized fusion honors the weights") {
    val eng = freshEngine()
    eng.ingest(spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text"))
    eng.update()
    val qs = Seq("data processing pipeline", "machine learning")
    val rows = eng.hybridSearchWeighted(qs, wLexBp = 7000L, wVecBp = 3000L).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ln, vn, fused) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(ln >= 0 && ln <= 10000 && vn >= 0 && vn <= 10000,
        s"normalized score out of [0, 10000]: $r")
      assert(fused == (7000 * ln + 3000 * vn) / 10000,
        s"fused_bp != weighted combination for $r")
    }
    // the weights matter: an all-lexical ranking differs from an all-vector one
    val lexOnly = eng.hybridSearchWeighted(qs, wLexBp = 10000L, wVecBp = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(6))).toSet
    val vecOnly = eng.hybridSearchWeighted(qs, wLexBp = 0L, wVecBp = 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(6))).toSet
    assert(lexOnly != vecOnly, "fixture too weak: weights don't change the ranking")
    intercept[IllegalArgumentException](eng.hybridSearchWeighted(qs, 0L, 0L))
  }

  test("maintain: retrain fires only over the growth threshold and resets the baseline") {
    val dir = java.nio.file.Files.createTempDirectory("graft-maint").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    eng.ingest(docs.filter(col("doc_id") % 3 =!= 0))
    eng.update()
    eng.ingest(docs)
    eng.updateIncremental() // growth ≈ 0.5 accrues, no retrain
    val before = walk(new java.io.File(s"$dir/index_ivf"))
    val d1 = eng.maintain(maxGrowth = 5.0).head
    assert(!d1.getBoolean(3), s"under-threshold maintain retrained: $d1")
    assert(walk(new java.io.File(s"$dir/index_ivf")) == before,
      "a no-op maintain touched the layout")
    val d2 = eng.maintain(maxGrowth = 0.2).head
    assert(d2.getBoolean(3), s"over-threshold maintain did not retrain: $d2")
    assert(d2.getLong(0) < d2.getLong(1), s"decision row lost the growth evidence: $d2")
    // baseline reset: a fresh engine sees zero growth, and even the most
    // aggressive threshold is a no-op
    val d3 = new Engine(spark, cfg).maintain(maxGrowth = 0.0).head
    assert(!d3.getBoolean(3) && d3.getLong(0) == d3.getLong(1),
      s"retrain did not reset the baseline: $d3")
    // the retrained layout serves the full corpus exactly
    val brute = new Engine(spark, EngineConfig(storePath = s"$dir/store",
      indexPath = s"$dir/index")) // threshold default: never routes IVF
    assert(hitCensus(new Engine(spark, cfg).search(Seq("data processing pipeline")))
      == hitCensus(brute.search(Seq("data processing pipeline"))),
      "post-retrain serving diverged from brute")
    // a FLAT engine never has a layout to maintain: always a no-op
    val flat = new Engine(spark, EngineConfig(storePath = s"$dir/store",
      indexPath = s"$dir/index", indexType = "FLAT", ivfThreshold = 1L))
    assert(!flat.maintain(maxGrowth = 0.0).head.getBoolean(3),
      "maintain retrained a FLAT engine")
  }

  test("highlightPattern literal-quotes punctuated terms and stays word-bounded") {
    // regex metacharacters in real queries must highlight as text, never
    // throw (Milvus wraps what it can); word terms keep \b-equivalent
    // boundaries so the q273/q277 oracles' \b replay stays identical
    val p = Engine.highlightPattern(Seq("c++", "data-processing", "table"))
    assert("use c++ here".replaceAll(p, "<em>$1</em>") == "use <em>c++</em> here")
    assert("a data-processing job".replaceAll(p, "<em>$1</em>")
      == "a <em>data-processing</em> job")
    assert("a table.".replaceAll(p, "<em>$1</em>") == "a <em>table</em>.")
    assert("stable tables".replaceAll(p, "<em>$1</em>") == "stable tables",
      "partial-word matches must not highlight")
    assert("TABLE".replaceAll(p, "<em>$1</em>") == "<em>TABLE</em>",
      "highlight is case-insensitive")
  }

  // ------------------------------------------------------- crash recovery
  // Round-12 verdict task 8: for each mutating verb, fabricate the exact
  // on-disk state a crash in its write→commit/stamp window leaves behind
  // (the q153-fsck / crashed-lexical-extend discipline — a deterministic
  // kill mid-JVM isn't injectable, the post-crash layout is), and assert
  // the engine serves the OLD state, recovers, or flags — never a torn one.

  private def hits(e: Engine, q: String = "data processing pipeline") =
    e.search(Seq(q)).select("doc_id", "score", "rank")
      .collect().map(_.toString).toSeq

  test("crash: compact() dies between the index rewrite and its fingerprint re-stamp") {
    val dir = java.nio.file.Files.createTempDirectory("graft-crash-compact").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      nlist = 8, nprobe = 8, ivfThreshold = 1L)
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    (0 until 4).foreach(w => eng.ingest(docs.filter(col("doc_id") % 4 === w)))
    eng.update()
    val before = hits(new Engine(spark, cfg))
    eng.compact(maxRecordsPerFile = 50L)
    // the crash window: the rewrite flipped the layout's files but the
    // process died before stampFingerprint — fabricate it by deleting the
    // stamp the re-stamp step writes
    val stamp = new java.io.File(s"$dir/index_ivf/_INDEX_FINGERPRINT")
    assert(stamp.exists, "fixture drift: the fingerprint stamp moved")
    assert(stamp.delete())
    // a fresh engine must NOT serve a half-committed layout: the missing
    // stamp reads as stale, the IVF handle rebuilds, results are identical
    val after = new Engine(spark, cfg)
    assert(hits(after) == before, "post-crash serving diverged")
    assert(after.fsck().collect().head.getAs[Boolean]("consistent"))
  }

  test("crash: compactClustered() dies before the lexical re-stamp — hybrid rebuilds, same results") {
    val dir = java.nio.file.Files.createTempDirectory("graft-crash-cluster").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index")
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang", "n_chars")
    (0 until 5).foreach(w => eng.ingest(docs.filter(col("doc_id") % 5 === w)))
    eng.update()
    val before = new Engine(spark, cfg).hybridSearch(Seq("data processing"))
      .collect().map(_.toString).toSeq
    eng.compactClustered("lang", maxRecordsPerFile = 100L)
    // the crash window: the store rewrite landed (fingerprint flipped) but
    // the process died before the lexical layout's re-stamp — fabricate it
    // by deleting the lex stamp
    val lexStamp = new java.io.File(s"$dir/index_lex/_STORE_FINGERPRINT")
    assert(lexStamp.exists, "fixture drift: the lexical stamp moved")
    assert(lexStamp.delete())
    // stale/missing stamp → the next hybrid call rebuilds the postings
    // from the compacted store; content is unchanged, so results match
    val after = new Engine(spark, cfg).hybridSearch(Seq("data processing"))
      .collect().map(_.toString).toSeq
    assert(after == before, "post-crash hybrid serving diverged")
  }

  test("crash: alias alter dies before the rename — the old pointer still serves") {
    val dir = java.nio.file.Files.createTempDirectory("graft-crash-alias").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val v1 = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/i1")
    val e1 = new Engine(spark, v1)
    e1.ingest(docs); e1.update()
    val alias = s"$dir/collection.alias"
    Engine.writeAlias(spark, alias, v1)
    val before = hits(Engine.forAlias(spark, alias))
    // the crash window: alter_alias wrote the NEW pointer's temp file but
    // died before the atomic rename — fabricate the leftover temp (and
    // make it torn for good measure: half a config line)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$alias.tmp"),
      "store_path: /nowhere/sto".getBytes("UTF-8"))
    // resolution must keep serving v1 — the temp is invisible to forAlias
    assert(hits(Engine.forAlias(spark, alias)) == before,
      "a leftover alias temp changed resolution")
    // and a retried alter overwrites the temp and commits atomically
    val v2 = v1.copy(indexPath = s"$dir/i2")
    new Engine(spark, v2).update()
    Engine.writeAlias(spark, alias, v2)
    assert(Engine.forAlias(spark, alias).cfg.indexPath == s"$dir/i2")
    assert(!new java.io.File(s"$alias.tmp").exists, "the temp must not linger")
  }

  test("crash: TTL vacuum dies between the index prune and the store rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("graft-crash-ttl").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index",
      ttlField = "n_chars")
    val eng = new Engine(spark, cfg)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "n_chars")
    eng.ingest(docs); eng.update()
    eng.expireBefore(250L) // n_chars < 250 expires (logical, instant)
    val expected = hits(new Engine(spark, cfg))
    // delete()'s crash ordering: the index prunes FIRST, the store rewrites
    // second. Fabricate the only state the verb can leave mid-flight —
    // index pruned, store untouched — by snapshotting the store, vacuuming,
    // and restoring the pre-vacuum store.
    val storeCopy = s"$dir/store_prevac"
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$dir/store"), new java.io.File(storeCopy))
    assert(eng.vacuumExpired() > 0L, "fixture drift: nothing expired")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/store"))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(storeCopy), new java.io.File(s"$dir/store"))
    val post = new Engine(spark, cfg)
    // serving stays EXACT: the pruned index rows belonged to expired docs
    // (they never ranked — the TTL gate already hid them), the surviving
    // store rows of expired docs stay masked by the same gate. Ranks are
    // contiguous, results identical. (The old store-first ordering left
    // index ORPHANS here, which took top-k ranks and then vanished at
    // hydration — rank holes; this spec caught it, the reorder fixed it.)
    assert(hits(post) == expected, "post-crash TTL serving diverged")
    // fsck FLAGS the half-finished pair (docs in store, not in index)
    val audit = post.fsck().collect().head
    assert(audit.getAs[Long]("n_missing") > 0L,
      "fsck must flag the store rows the index prune outran")
    // the RETRY is the recovery: vacuum again completes the store rewrite
    assert(eng.vacuumExpired() > 0L)
    assert(new Engine(spark, cfg).fsck().collect().head.getAs[Boolean]("consistent"))
    assert(hits(new Engine(spark, cfg)) == expected)
  }

  test("crash: bulk import dies mid-rename — the retry imports exactly the missing suffix") {
    val dir = java.nio.file.Files.createTempDirectory("graft-crash-import").toString
    val cfg = EngineConfig(storePath = s"$dir/store", indexPath = s"$dir/index")
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val eng = new Engine(spark, cfg)
    eng.ingest(docs.filter(col("doc_id") % 3 === 0)) // pre-existing corpus
    val staging = s"$dir/staging"
    docs.filter(col("doc_id") % 3 =!= 0).write.parquet(staging)
    // the crash window: validation passed, the rename sequence made a
    // PREFIX of the staged rows visible, then the process died — fabricate
    // the prefix by ingesting half the staged rows directly
    eng.ingest(docs.filter(col("doc_id") % 3 === 1))
    val total = docs.count()
    val prefixState = eng.store().count()
    assert(prefixState < total)
    // the RETRY is the recovery path: the anti-join skips every visible
    // row and imports exactly the missing suffix, exactly once
    val imported = eng.bulkImport(staging)
    assert(imported == total - prefixState,
      s"retry imported $imported, wanted ${total - prefixState}")
    assert(eng.store().count() == total)
    assert(eng.store().select("doc_id").distinct().count() == total,
      "the retry duplicated a visible row")
    // a second retry is a no-op
    assert(eng.bulkImport(staging) == 0L)
  }
}

object SparkEntryTestHelpers {
  def docIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet
}

/** Seeded random-projection embedder: letter+space count features (27) through
  * a fixed Gaussian matrix, L2-normalized — a deterministic stand-in for a
  * real model's forward pass (embed.py:21-39), structurally unlike the
  * feature-hash default. Top-level object: ships to executors by name. */
object ProjectionEmbedder extends Engine.Embedder {
  val dim = 16
  private val nFeat = 27
  private lazy val w: Array[Array[Double]] = {
    val rnd = new scala.util.Random(20260813L)
    Array.fill(dim)(Array.fill(nFeat)(rnd.nextGaussian()))
  }
  def embedBatch(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
    val x = new Array[Double](nFeat)
    t.foreach { c =>
      if (c >= 'a' && c <= 'z') x(c - 'a') += 1.0
      else if (c == ' ') x(26) += 1.0
    }
    val y = w.map(row => row.zip(x).map { case (a, b) => a * b }.sum)
    val n = math.sqrt(y.map(v => v * v).sum)
    if (n == 0) new Array[Float](dim) else y.map(v => (v / n).toFloat)
  }
}
