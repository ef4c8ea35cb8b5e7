package graft

import graft.functions.VectorFns
import graft.operators.VectorSearch
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}

/** Vector expression + search invariants (SURVEY §5.2/§5.3). */
class VectorSpec extends SparkSpec {

  private def check(prop: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, res.status.toString)
  }

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("cosine: self-similarity is 1, range is [-1,1], symmetric") {
    val rows = emb.limit(20)
      .select(VectorFns.cosineSim(col("embedding"), col("embedding")).as("self"))
      .collect().map(_.getDouble(0))
    assert(rows.forall(v => math.abs(v - 1.0) < 1e-9))

    val a = emb.select(col("vec_id").as("ida"), col("embedding").as("va")).limit(10)
    val b = emb.select(col("vec_id").as("idb"), col("embedding").as("vb")).limit(10)
    val sym = a.crossJoin(b)
      .select(VectorFns.cosineSim(col("va"), col("vb")).as("ab"),
        VectorFns.cosineSim(col("vb"), col("va")).as("ba"))
      .collect()
    assert(sym.forall(r => r.getDouble(0) == r.getDouble(1)))
    assert(sym.forall(r => r.getDouble(0) >= -1.0 - 1e-9 && r.getDouble(0) <= 1.0 + 1e-9))
  }

  test("cosine expression matches a plain Scala implementation") {
    val rows = emb.limit(5).collect().map(_.getSeq[Float](1).toArray)
    val q = rows.head
    import spark.implicits._
    val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toSeq
      .toDF("id", "v")
    val got = df.select(col("id"), VectorFns.cosineSim(col("v"), lit(q)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def ref(x: Array[Float], y: Array[Float]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) {
        dot += x(i).toDouble * y(i).toDouble
        nx += x(i).toDouble * x(i); ny += y(i).toDouble * y(i)
      }
      dot / math.sqrt(nx * ny)
    }
    rows.zipWithIndex.foreach { case (v, i) =>
      assert(math.abs(got(i.toLong) - ref(v, q)) < 1e-12)
    }
  }

  test("hashEmbed is deterministic and L2-normalized") {
    val v1 = VectorFns.hashEmbed("spark window join table", 64)
    val v2 = VectorFns.hashEmbed("spark window join table", 64)
    assert(v1.toSeq == v2.toSeq)
    val norm = math.sqrt(v1.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-6)
    assert(VectorFns.hashEmbed("", 64).forall(_ == 0.0f))
  }

  test("property: hashEmbed stable under token order for bag-of-words sums") {
    val gen = Gen.listOfN(6, Gen.alphaStr.suchThat(_.nonEmpty))
    check(Prop.forAll(gen) { toks =>
      val a = VectorFns.hashEmbed(toks.mkString(" "), 32)
      val b = VectorFns.hashEmbed(scala.util.Random.shuffle(toks).mkString(" "), 32)
      a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-6f }
    })
  }

  test("topKAgg matches window topK exactly") {
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val a = VectorSearch.topK(emb, queries, k = 5)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val b = VectorSearch.topKAgg(emb, queries, k = 5)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(a.sameElements(b))
  }

  test("maskedMeanPool: sum(token·mask)/sum(mask) as array ops (V2, embed.py:44-49)") {
    val s = spark
    import s.implicits._
    // 3 tokens, dim 2; mask drops the third token
    val df = Seq((Seq(Seq(1.0, 2.0), Seq(3.0, 4.0), Seq(100.0, 100.0)),
      Seq(1.0, 1.0, 0.0))).toDF("toks", "mask")
    val out = df.select(VectorFns.maskedMeanPool(col("toks"), col("mask")).as("p"))
      .collect().head.getSeq[Double](0)
    assert(out == Seq(2.0, 3.0)) // (1+3)/2, (2+4)/2 — masked token excluded
    // all-ones mask is the plain mean
    val full = df.select(VectorFns.maskedMeanPool(col("toks"),
        array(lit(1.0), lit(1.0), lit(1.0))).as("p"))
      .collect().head.getSeq[Double](0)
    assert(full.map(v => math.rint(v * 1e9) / 1e9) == Seq(104.0 / 3, 106.0 / 3)
      .map(v => math.rint(v * 1e9) / 1e9))
  }

  test("IVF with nprobe == nlist equals exact search; pruned probe has sane recall") {
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val exact = VectorSearch.topK(emb, queries, k = 4)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = VectorSearch.buildIvf(emb, nlist = 8)
    val full = ivf.search(queries, k = 4, nprobe = 8)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact)
    val pruned = ivf.search(queries, k = 4, nprobe = 2)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (pruned intersect exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF nprobe=2 recall $recall")
  }

  test("buildIvf trains from one pass over the corpus (no separate sizing job)") {
    val e = emb
    e.count() // materialize schema/footer jobs OUTSIDE the counting window
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.add(j.stageInfos.map(_.name.takeWhile(_ != '\n')).mkString("|")); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      VectorSearch.buildIvf(e, nlist = 8)
      // listener events post async; wait until the count settles
      var last = -1; var stable = 0
      while (stable < 5) {
        Thread.sleep(100)
        val c = jobs.size()
        if (c == last) stable += 1 else { stable = 0; last = c }
      }
    } finally spark.sparkContext.removeSparkListener(l)
    // exactly the takeOrdered sample job — quantizer training is driver-side
    // and cell assignment is lazy; the old shape paid a corpus.count() first
    assert(jobs.size() == 1,
      s"buildIvf launched ${jobs.size()} jobs: ${jobs.toArray.mkString(" // ")}")
  }

  test("persisted IVF layout: pruned probe reads only probed cell partitions") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 3)
      .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
        org.apache.spark.sql.functions.col("embedding").as("query_vec"))
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    VectorSearch.writeIvf(VectorSearch.buildIvf(emb, nlist = 8), dir)
    val loaded = VectorSearch.loadIvf(spark, dir)
    // exhaustive probe on the persisted layout still equals exact search
    val exact = VectorSearch.topK(emb, queries, k = 4)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val persisted = loaded.search(queries, k = 4, nprobe = 8)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(persisted == exact)
    // pruned probe: the cell-partitioned scan must carry the probed cells
    // as a literal partition filter (unprobed directories are never read)
    val prunedDf = loaded.search(queries, k = 4, nprobe = 2)
    prunedDf.collect()
    val plan = prunedDf.queryExecution.executedPlan.toString
    val probed = queries.collect().flatMap(r => graft.functions.VectorFns.cellOrder(
      r.getAs[Seq[Float]]("query_vec").map(_.toDouble).toArray, loaded.centroidArray).take(2)).toSet
    val filters = "PartitionFilters: \\[[^\\]]*cell#\\d+ IN \\(([0-9, ]+)\\)".r
      .findAllMatchIn(plan).map(_.group(1).split(",").map(_.trim.toInt).toSet).toSeq.distinct
    assert(filters == Seq(probed), plan.take(2000))
    assert(!plan.contains("dynamicpruning"), plan.take(2000))
  }

  test("range search: cell-bound pruning is exact AND actually prunes") {
    import org.apache.spark.sql.functions._
    val e = emb
    val queries = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val dir = java.nio.file.Files.createTempDirectory("graft-range").toString
    VectorSearch.writeIvf(VectorSearch.buildIvf(e, nlist = 8), dir)
    val loaded = VectorSearch.loadIvf(spark, dir)
    assert(loaded.boundsOpt.nonEmpty, "writeIvf did not persist bounds")
    for (threshold <- Seq(0.25, 0.6, 0.9)) {
      val got = loaded.rangeSearch(queries, threshold)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = e.crossJoin(broadcast(queries))
        .withColumn("score",
          round(graft.functions.VectorFns.cosineSim(col("embedding"), col("query_vec")), 4))
        .filter(col("score") >= threshold)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute, s"t=$threshold: pruned ${got.size} vs brute ${brute.size}")
    }
    // pruning is real — measured on a CLUSTERED corpus (near-random
    // vectors give every coarse cell a ~90° radius, so nothing can prune;
    // real embedding spaces cluster, which is what makes IVF work at all):
    // 8 near-orthogonal clusters, query inside one of them, threshold 0.9
    // must exclude most cells while staying exact
    import spark.implicits._
    val clustered = (0 until 400).map { i =>
      val c = i % 8
      val v = Array.tabulate(16)(j =>
        (if (j == c) 1.0f else 0.0f) +
          0.05f * (((i * 31 + j * 7) % 11) - 5) / 5.0f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val cdir = java.nio.file.Files.createTempDirectory("graft-range-c").toString
    VectorSearch.writeIvf(VectorSearch.buildIvf(clustered, nlist = 8), cdir)
    val cl = VectorSearch.loadIvf(spark, cdir)
    val cq = clustered.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val got = cl.rangeSearch(cq, 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val brute = clustered.crossJoin(broadcast(cq))
      .withColumn("score",
        round(graft.functions.VectorFns.cosineSim(col("embedding"), col("query_vec")), 4))
      .filter(col("score") >= 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == brute && got.nonEmpty)
    val bounds = cl.boundsOpt.get
    val centB = cl.centroids.join(bounds, "cell")
    val probes = cq.crossJoin(broadcast(centB))
      .withColumn("cqc", least(greatest(
        graft.functions.VectorFns.cosineSim(col("query_vec"), col("centroid")),
        lit(-1.0)), lit(1.0)))
      .withColumn("mc", least(greatest(col("min_cos"), lit(-1.0)), lit(1.0)))
      .withColumn("ub", when(col("cqc") >= col("mc"), lit(1.0))
        .otherwise(col("cqc") * col("mc")
          + sqrt(lit(1.0) - col("cqc") * col("cqc"))
            * sqrt(lit(1.0) - col("mc") * col("mc"))))
      .filter(col("ub") >= 0.9 - 1e-4)
      .count()
    assert(probes < 8, s"no cell was pruned at t=0.9 (probe set $probes of 8)")
  }

  test("rangeSearch property: pruned equals brute at random thresholds/cluster shapes") {
    import spark.implicits._
    val gen = for {
      nlist <- Gen.choose(2, 8)
      nClusters <- Gen.choose(1, 6)
      noise <- Gen.choose(1, 40) // per-mille perturbation
      t <- Gen.choose(-40, 95).map(_ / 100.0)
      salt <- Gen.choose(0, 1000)
    } yield (nlist, nClusters, noise, t, salt)
    val prop = Prop.forAll(gen) { case (nlist, nClusters, noise, t, salt) =>
      val n = 150
      val vecs = (0 until n).map { i =>
        val c = i % nClusters
        val v = Array.tabulate(8)(j =>
          (if (j == c % 8) 1.0f else 0.0f) +
            noise / 1000.0f * (((i * 13 + j * 7 + salt) % 19) - 9))
        (i.toLong, v.toSeq)
      }.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
        .localCheckpoint(true)
      val idx = VectorSearch.buildIvf(vecs, nlist, sampleSize = 64)
      val q = vecs.filter(col("vec_id") < 2)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val got = idx.rangeSearch(q, t).select("query_id", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = vecs.crossJoin(broadcast(q))
        .withColumn("score",
          round(graft.functions.VectorFns.cosineSim(col("embedding"), col("query_vec")), 4))
        .filter(col("score") >= t)
        .select("query_id", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got == brute
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("LSH-bucketed top-k has sane recall against exact search") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
      .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
        org.apache.spark.sql.functions.col("embedding").as("query_vec"))
    val exact = VectorSearch.topK(emb, queries, k = 4)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorSearch.topKLsh(emb, queries, k = 4, dim = 64)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the query vector itself always shares every bucket with itself, so
    // each query must at least find itself at rank 1
    assert((0L until 5L).forall(q => lsh.contains((q, q))))
    val recall = (lsh intersect exact).size.toDouble / exact.size
    assert(recall >= 0.25, s"LSH recall $recall")
  }

  test("embedPartitionsResilient isolates poisoned rows, embeds healthy neighbors") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 3, lit("BAD"))
          .otherwise(col("text")).as("text"))
    val embedder: Seq[String] => Seq[Array[Float]] = texts => {
      if (texts.contains("BAD")) throw new RuntimeException("poisoned")
      texts.map(graft.functions.VectorFns.hashEmbed(_, 16))
    }
    val out = graft.functions.VectorFns.embedPartitionsResilient(
      docs, "text", "vec", "err", 16, 8, embedder).cache()
    val failed = out.filter(col("err").isNotNull)
    // exactly the poisoned residue class fails, with vec null and the error text
    assert(failed.filter(col("doc_id") % 10 =!= 3).isEmpty)
    assert(failed.filter(col("vec").isNotNull).isEmpty)
    assert(failed.head.getAs[String]("err").contains("poisoned"))
    // healthy rows match the non-resilient path bit-for-bit
    val clean = graft.functions.VectorFns.embedPartitions(
      docs.filter(col("doc_id") % 10 =!= 3), "text", "vec", 16, 8)
    val a = out.filter(col("err").isNull).select("doc_id", "vec").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val b = clean.select("doc_id", "vec").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(a == b && a.nonEmpty)
    out.unpersist()
  }

  test("embedPartitionsResilient: a wrong-count model FAILS the job — never silent degradation") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).limit(64)
    // systematically drops one vector per batch: a contract bug, not a bad
    // row — must escape both the batch-isolation retry and the quarantine
    val bad: Seq[String] => Seq[Array[Float]] = texts =>
      texts.drop(1).map(graft.functions.VectorFns.hashEmbed(_, 8))
    val thrown = intercept[Throwable] {
      graft.functions.VectorFns.embedPartitionsResilient(
        docs, "text", "vec", "err", 8, 8, bad).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(thrown).exists(_.getMessage != null)
      && chain(thrown).exists(c => Option(c.getMessage).exists(_.contains("contract violation"))),
      s"expected the contract violation to fail the job, got: $thrown")
  }

  test("q217 bit-pack: SQL packing matches a plain-Scala reference on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    // random vectors incl. exact zeros (sign boundary) and all-negative rows
    val vecs: Seq[(Long, Array[Float])] = (0L until 64L).map { i =>
      i -> Array.fill(64)(rnd.nextInt(5) match {
        case 0 => 0.0f
        case 1 => -rnd.nextFloat()
        case _ => (rnd.nextFloat() - 0.5f) * 2f
      })
    }
    def packRef(v: Array[Float], from: Int): Long =
      (0 until 32).foldLeft(0L)((acc, i) =>
        if (v(from + i) > 0f) acc | (1L << i) else acc)
    val pack = (from: Int) =>
      s"aggregate(zip_with(slice(embedding, $from, 32), sequence(0, 31), " +
        "(x, i) -> IF(x > 0D, shiftleft(1L, i), 0L)), 0L, (a, b) -> a | b)"
    val got = vecs.toDF("vec_id", "embedding")
      .selectExpr("vec_id", s"${pack(1)} AS lo", s"${pack(33)} AS hi")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    vecs.foreach { case (id, v) =>
      assert(got(id) == (packRef(v, 0), packRef(v, 32)),
        s"pack mismatch for vec $id")
    }
  }
}
