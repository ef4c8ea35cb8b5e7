package graft.operators

import scala.jdk.CollectionConverters._

import graft.functions.VectorFns
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Bounded top-k buffer: parallel primitive arrays in (score desc, id asc)
  * order. Top-level case class so `Encoders.product` needs no outer pointer. */
final case class TopKBuf(scores: Array[Double], ids: Array[Long])

/**
 * Similarity search (SURVEY.md §2.9 V7 / §2.6 TK2 / §4 P6).
 *
 * Re-expresses the reference's Milvus ANN search (`src/coldata/vdb/vdb.py:88-122`:
 * embed query → IVF top-k by metric → per-parent best hit → hydrate) as Spark
 * plans over an `ARRAY<FLOAT>` embedding column:
 *
 *  - [[topK]]: brute-force exact top-k — broadcast the (small) query side,
 *    score in the scan stage via the codegen'd cosine, rank per query.
 *  - [[topKAgg]]: same semantics with a map-side-combining top-k aggregate —
 *    the shuffle carries only k rows per (partition, query) instead of every
 *    scored row; this is the 100 TB shape.
 *  - [[IvfIndex]]: KMeans-cell layout + nprobe pruning — the scale path
 *    mirroring IVF_FLAT (vdb.py:209-211; nlist/nprobe config.yml:81-82).
 */
object VectorSearch {

  /** Exact brute-force top-k by cosine. `queries(queryIdCol, queryVecCol)` is
    * expected to be small → broadcast nested-loop join; corpus side streams. */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
           idCol: String = "vec_id", vecCol: String = "embedding",
           queryIdCol: String = "query_id", queryVecCol: String = "query_vec",
           scoreScale: Int = 4): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .withColumn("score", round(VectorFns.cosineSim(col(vecCol), col(queryVecCol)), scoreScale))
    val w = Window.partitionBy(col(queryIdCol)).orderBy(col("score").desc, col(idCol).asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("score"), col("rank"))
  }

  /** Typed top-k aggregator: partial aggregation keeps only k candidates per
    * partition, so the shuffle after scoring is O(partitions·k), not O(N).
    * Deterministic order: score desc, id asc.
    *
    * The buffer is a pair of PRIMITIVE arrays kept in (score desc, id asc)
    * order — each update is one binary search + bounded arraycopy, and the
    * encoder writes two flat UnsafeArrayData blobs. The previous
    * `List[(Double, Long)]` buffer re-sorted per row and made the encoder
    * serialize a boxed cons-list per update, which benched 4-5× slower at
    * sf0.1 (BENCH_r2 q22 regression). */
  class TopKAgg(k: Int) extends Aggregator[(Double, Long), TopKBuf, Seq[(Double, Long)]] {
    override def zero: TopKBuf = TopKBuf(Array.emptyDoubleArray, Array.emptyLongArray)

    // insertion point for (s, id) in the (score desc, id asc) order
    private def insertAt(b: TopKBuf, s: Double, id: Long): Int = {
      var lo = 0; var hi = b.scores.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val cmp = if (b.scores(mid) > s) -1
          else if (b.scores(mid) < s) 1
          else java.lang.Long.compare(b.ids(mid), id)
        if (cmp < 0) lo = mid + 1 else hi = mid
      }
      lo
    }

    override def reduce(b: TopKBuf, a: (Double, Long)): TopKBuf = {
      val n = b.scores.length
      val pos = insertAt(b, a._1, a._2)
      if (pos >= k) b
      else {
        val m = math.min(n + 1, k)
        val ns = new Array[Double](m); val ni = new Array[Long](m)
        System.arraycopy(b.scores, 0, ns, 0, pos)
        System.arraycopy(b.ids, 0, ni, 0, pos)
        ns(pos) = a._1; ni(pos) = a._2
        val tail = m - pos - 1
        if (tail > 0) {
          System.arraycopy(b.scores, pos, ns, pos + 1, tail)
          System.arraycopy(b.ids, pos, ni, pos + 1, tail)
        }
        TopKBuf(ns, ni)
      }
    }

    override def merge(b1: TopKBuf, b2: TopKBuf): TopKBuf = {
      val m = math.min(b1.scores.length + b2.scores.length, k)
      val ns = new Array[Double](m); val ni = new Array[Long](m)
      var i = 0; var j = 0; var o = 0
      while (o < m) {
        val takeLeft = j >= b2.scores.length || (i < b1.scores.length &&
          (b1.scores(i) > b2.scores(j) ||
            (b1.scores(i) == b2.scores(j) && b1.ids(i) <= b2.ids(j))))
        if (takeLeft) { ns(o) = b1.scores(i); ni(o) = b1.ids(i); i += 1 }
        else { ns(o) = b2.scores(j); ni(o) = b2.ids(j); j += 1 }
        o += 1
      }
      TopKBuf(ns, ni)
    }

    override def finish(r: TopKBuf): Seq[(Double, Long)] =
      Array.tabulate(r.scores.length)(i => (r.scores(i), r.ids(i))).toSeq
    override def bufferEncoder = org.apache.spark.sql.Encoders.product[TopKBuf]
    override def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
  }

  /** [[topK]] semantics via the map-side-combining aggregate. */
  def topKAgg(corpus: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              queryIdCol: String = "query_id", queryVecCol: String = "query_vec",
              scoreScale: Int = 4): DataFrame = {
    val agg = udaf(new TopKAgg(k))
    val scored = corpus.crossJoin(broadcast(queries))
      .withColumn("score", round(VectorFns.cosineSim(col(vecCol), col(queryVecCol)), scoreScale))
    scored
      .groupBy(col(queryIdCol))
      .agg(agg(col("score"), col(idCol).cast("long")).as("hits"))
      .select(col(queryIdCol), posexplode(col("hits")).as(Seq("i", "hit")))
      .select(col(queryIdCol), col("hit._2").as(idCol), col("hit._1").as("score"),
        (col("i") + 1).cast("int").as("rank"))
  }

  /** Each query's top-`k` (score desc, id asc; an id's best score counts)
    * of `(query id, id, score)` rows, collected: each partition keeps its own
    * top-k, the driver merges them — one job, no shuffle. Exact: an id cut
    * from its partition's top-k has k ids ahead of it there, no lower
    * globally. A long score must stay below 2^53 (exact as a double). */
  def collectTopK(scored: DataFrame, k: Int, queryIdCol: String = "query_id",
                  idCol: String = "doc_id",
                  scoreCol: String = "score"): Map[Long, Array[(Long, Double)]] = {
    val rows = scored.select(col(queryIdCol).cast("long"), col(idCol).cast("long"),
      col(scoreCol))
    val longScore = rows.schema(2).dataType == LongType
    val local = rows.queryExecution.toRdd.mapPartitions { it =>
      topPerQuery(it.filter(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2))
        .map(r => (r.getLong(0), r.getLong(1),
          if (longScore) r.getLong(2).toDouble else r.getDouble(2))), k)
        .iterator.flatMap { case (q, hits) => hits.iterator.map(h => (q, h._1, h._2)) }
    }.collect()
    topPerQuery(local.iterator, k)
  }

  /** [[collectTopK]]'s per-partition and merge step. */
  private def topPerQuery(rows: Iterator[(Long, Long, Double)],
                          k: Int): Map[Long, Array[(Long, Double)]] = {
    val best = scala.collection.mutable.HashMap.empty[(Long, Long), Double]
    rows.foreach { case (q, id, s) => if (best.get((q, id)).forall(_ < s)) best((q, id)) = s }
    best.toArray.groupBy(_._1._1).map { case (q, hits) =>
      q -> hits.map { case ((_, id), s) => (id, s) }
        .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)).take(k)
    }
  }

  /**
   * LSH-bucketed approximate top-k — the second scale path besides IVF:
   * corpus and queries get sign-LSH band signatures (Dedup.lshBandSigs);
   * a vector is a candidate for a query iff they share ≥1 (band, signature)
   * bucket; exact cosine ranks only the candidates. No training step (vs
   * IVF's quantizer) and the bucket join is a plain equi-join — the right
   * trade when the corpus churns faster than a quantizer can be retrained.
   * Recall is probabilistic (near vectors agree on most signs) → rows-only
   * in the oracle harness, like the pruned IVF probe.
   */
  def topKLsh(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              bands: Int = 6, bitsPerBand: Int = 8, seed: Long = 42L,
              idCol: String = "vec_id", vecCol: String = "embedding",
              queryIdCol: String = "query_id", queryVecCol: String = "query_vec",
              scoreScale: Int = 4): DataFrame = {
    val planes = Dedup.hyperplanes(dim, bands * bitsPerBand, seed)
    val sig = Dedup.lshBandSigs(bands, bitsPerBand, planes)
    val csig = corpus.select(col(idCol), col(vecCol),
      posexplode(sig(col(vecCol))).as(Seq("band", "bsig")))
    val qsig = queries.select(col(queryIdCol), col(queryVecCol),
      posexplode(sig(col(queryVecCol))).as(Seq("band", "bsig")))
    val candidates = csig.join(broadcast(qsig), Seq("band", "bsig"))
      .select(col(queryIdCol), col(queryVecCol), col(idCol), col(vecCol))
      .dropDuplicates(queryIdCol, idCol)
      .withColumn("score", round(VectorFns.cosineSim(col(vecCol), col(queryVecCol)), scoreScale))
    val w = Window.partitionBy(col(queryIdCol)).orderBy(col("score").desc, col(idCol).asc)
    candidates
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("score"), col("rank"))
  }

  // -------------------------------------------------------------------- PQ
  /**
   * Product-quantization ANN (asymmetric-distance scan) with a SEEDED,
   * data-independent codebook, so the whole path replays in SQL (the q24
   * discipline; trained codebooks would change recall, not the algebra).
   *
   * PQ splits each dim-d vector into `m` sub-vectors and quantizes each to
   * the nearest of `nCodes` codewords (argmin of ROUNDED L2², ties to the
   * lowest code — the strict-< left fold). A query builds its m×nCodes
   * lookup table of rounded sub-distances ONCE (tiny → broadcast), and a
   * corpus vector's approximate distance is the sum of m LUT entries
   * fetched by its codes: a broadcast hash join on (s, code) plus one
   * partially-aggregated groupBy — O(m) work per corpus row, and the codes
   * (m small ints) stand in for 4·dim bytes of floats, the 16-32× memory
   * compression that lets a 100 TB corpus's index live where its vectors
   * cannot. Distance partials ride DECIMAL so the merge is order-exact.
   */
  def topKPqSeeded(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
                   m: Int = 4, nCodes: Int = 8, seed: Long = 11L,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   queryIdCol: String = "query_id",
                   queryVecCol: String = "query_vec"): DataFrame = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val books = pqCodebooks(dim, m, nCodes, seed)
    val codes = pqEncode(corpus.select(col(idCol), col(vecCol)),
      vecCol, dim / m, books)
    val lut = pqLut(queries, dim / m, books, queryIdCol, queryVecCol)
    val acc = codes.join(broadcast(lut), Seq("s", "code"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum(col("d").cast("decimal(18,4)")).as("adist_dec"))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("adist_dec").asc, col(idCol).asc)
    acc.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol),
        col("adist_dec").cast("double").as("adist"), col("rank"))
  }

  /** Literal codebook column: per subspace an array of (code, codeword)
    * structs — the plan-time constant the encode/LUT projections fold over. */
  private def pqSubsLit(books: Array[Array[Array[Float]]]): Column =
    array(books.zipWithIndex.map { case (cws, s) =>
      struct(lit(s).as("s"), array(cws.zipWithIndex.map { case (cw, c) =>
        struct(lit(c).as("code"), typedLit(cw.map(_.toDouble).toSeq).as("cw"))
      }: _*).as("cws"))
    }: _*)

  private def pqL2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** PQ-encode: one (row, subspace) → nearest codeword (argmin of ROUNDED
    * L2², strict-< fold = earliest min, ties to the lowest code). All
    * non-vector columns of `df` pass through — an IVF cell id rides along
    * untouched. Staged projections (the q57 lesson): the scored array is
    * built in one projection and folded in the next. */
  private def pqEncode(df: DataFrame, vecCol: String, sub: Int,
                       books: Array[Array[Array[Float]]]): DataFrame = {
    val passthrough = df.columns.filterNot(_ == vecCol).map(col).toSeq
    df.select(passthrough :+ transform(col(vecCol), x => x.cast("double")).as("v"): _*)
      .withColumn("sp", explode(pqSubsLit(books)))
      .select(passthrough ++ Seq(col("sp.s").as("s"),
        slice(col("v"), col("sp.s") * sub + 1, lit(sub)).as("vs"),
        col("sp.cws").as("cws")): _*)
      .withColumn("ds", transform(col("cws"), cw => struct(
        round(pqL2sq(col("vs"), cw("cw")), 4).as("d"), cw("code").as("code"))))
      .withColumn("code", aggregate(col("ds"),
        struct(lit(Double.MaxValue).as("d"), lit(-1).as("code")),
        (acc, x) => when(x("d") < acc("d"), x).otherwise(acc))("code"))
      .select(passthrough ++ Seq(col("s"), col("code")): _*)
  }

  /** The query's asymmetric-distance lookup table: m×nCodes rows per query,
    * rounded sub-distances — tiny at any scale, always broadcast. */
  private def pqLut(queries: DataFrame, sub: Int,
                    books: Array[Array[Array[Float]]],
                    queryIdCol: String, queryVecCol: String): DataFrame =
    queries
      .select(col(queryIdCol), transform(col(queryVecCol), x => x.cast("double")).as("qv"))
      .withColumn("sp", explode(pqSubsLit(books)))
      .select(col(queryIdCol), col("sp.s").as("s"),
        slice(col("qv"), col("sp.s") * sub + 1, lit(sub)).as("qs"),
        explode(col("sp.cws")).as("cw"))
      .select(col(queryIdCol), col("s"), col("cw.code").as("code"),
        round(pqL2sq(col("qs"), col("cw.cw")), 4).as("d"))

  /**
   * IVF-PQ — the composition production ANN engines actually deploy
   * (faiss IndexIVFPQ, Milvus IVF_PQ): the coarse quantizer prunes the
   * candidate set to `nprobe` of `nlist` cells per query, and the PQ
   * asymmetric-distance scan ranks ONLY inside the probed cells. Both
   * stages are the seeded, data-independent variants, so the whole path
   * replays in SQL. At 100 TB this is THE index shape: the ADC scan's
   * per-(row × query) cost — measured linear but brute in SCALE.md's pq
   * curve — is multiplied by nprobe/nlist (here 1/4), and on a
   * cell-partitioned layout (writeIvf) the probe's literal cell filter
   * prunes partitions, so unprobed cells never even reach the encode.
   */
  def topKIvfPq(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
                nlist: Int = 16, nprobe: Int = 4, m: Int = 4, nCodes: Int = 8,
                ivfSeed: Long = 7L, pqSeed: Long = 11L,
                idCol: String = "vec_id", vecCol: String = "embedding",
                queryIdCol: String = "query_id",
                queryVecCol: String = "query_vec"): DataFrame = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val ivf = buildIvfSeeded(corpus, nlist, dim, ivfSeed, idCol, vecCol)
    val books = pqCodebooks(dim, m, nCodes, pqSeed)
    // compressed index rows: (id, cell, s, code) — the cell rides through
    // the encode so the probe can prune before any distance work
    val codes = pqEncode(ivf.cells.select(col(idCol), col("cell"), col(vecCol)),
      vecCol, dim / m, books)
    val lut = pqLut(queries, dim / m, books, queryIdCol, queryVecCol)
    // prune: only probed (query, cell) pairs ([[probedRows]], the oracle's
    // replayed probe rule)
    val acc = probedRows(codes, queries.select(col(queryIdCol), col(queryVecCol)),
        ivf.centroidArray, nprobe, queryVecCol)
      .join(broadcast(lut), Seq(queryIdCol, "s", "code"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum(col("d").cast("decimal(18,4)")).as("adist_dec"))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("adist_dec").asc, col(idCol).asc)
    acc.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol),
        col("adist_dec").cast("double").as("adist"), col("rank"))
  }

  /** Seeded Gaussian codebooks: `m` subspaces × `nCodes` codewords each. */
  def pqCodebooks(dim: Int, m: Int, nCodes: Int, seed: Long): Array[Array[Array[Float]]] =
    Array.tabulate(m)(s => Dedup.hyperplanes(dim / m, nCodes, seed + s))

  // ------------------------------------------------------------------- SQ8
  /**
   * Int8 scalar-quantization ANN — the simplest production compression tier
   * (Milvus SQ8, faiss ScalarQuantizer): each coordinate maps to one byte
   * against per-dimension corpus [min, max] bounds, a 4× memory cut with
   * far better fidelity than PQ's 16-32×. Scoring is asymmetric: the
   * full-precision query against each vector's reconstruction
   * `mn + c·(mx-mn)/255`. The bounds are data-DEPENDENT but exact float
   * aggregates (min/max have no rounding), and the quantize/reconstruct
   * arithmetic is plain IEEE, so the entire path replays in SQL — unlike a
   * trained codebook, determinism costs nothing here.
   *
   * Plan shape at 100 TB: the bounds pass is one partially-aggregated
   * explode whose shuffle carries only `dim × partitions` partial rows; the
   * resulting `dim` (mn, mx) pairs are collected driver-side (metadata
   * sized — this is the offline "train the quantizer" step every SQ index
   * has) and embedded as literal arrays, so encode+reconstruct is a single
   * per-row `transform` projection over the corpus. ZERO corpus-sized
   * shuffles before the final per-query top-k window — gated in PlanSpec.
   */
  def topKSq8(corpus: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              queryIdCol: String = "query_id", queryVecCol: String = "query_vec",
              scoreScale: Int = 4): DataFrame = {
    // Bounds pass: dim rows out of a partial-aggregated explode. Collected
    // eagerly — the quantizer parameters are build-time state, like IVF
    // centroids, not part of the serving plan.
    val bounds = corpus
      .select(posexplode(col(vecCol)).as(Seq("i", "x")))
      .withColumn("x", col("x").cast("double"))
      .groupBy(col("i"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    val mnLit = array(bounds.map(b => lit(b._2)).toIndexedSeq: _*).cast("array<double>")
    val mxLit = array(bounds.map(b => lit(b._3)).toIndexedSeq: _*).cast("array<double>")
    // quantize + reconstruct in ONE projection: r = mn + c·(mx-mn)/255,
    // c = round_half_up((x-mn)·255/(mx-mn)) — IEEE-identical to the join
    // spelling (the literals are the exact doubles the join would deliver).
    val recon = corpus.select(col(idCol),
      transform(col(vecCol), (x, i) => {
        val mn = element_at(mnLit, (i + 1).cast("int"))
        val mx = element_at(mxLit, (i + 1).cast("int"))
        val xd = x.cast("double")
        val c = when(mx === mn, lit(0.0))
          .otherwise(floor((xd - mn) * 255.0 / (mx - mn) + 0.5))
        mn + c * (mx - mn) / 255.0
      }).as("rv"))
    val qv = queries.select(col(queryIdCol),
      transform(col(queryVecCol), x => x.cast("double")).as("qv"))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("score").desc, col(idCol).asc)
    recon.crossJoin(broadcast(qv))
      .withColumn("score", round(VectorFns.cosineSim(col("rv"), col("qv")), scoreScale))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("score"), col("rank"))
  }

  /**
   * Two-stage ANN: PQ candidate generation (cheap, compressed-domain) then
   * EXACT cosine re-ranking of only the `kCand` survivors per query — the
   * production retrieval shape (coarse recall from codes, precision from a
   * bounded full-precision pass). At 100 TB the first stage scans codes
   * (m bytes/vector), and the second touches `kCand · |queries|` full
   * vectors via a key join — never the corpus.
   */
  def topKPqRerank(corpus: DataFrame, queries: DataFrame, kCand: Int, k: Int,
                   dim: Int, m: Int = 4, nCodes: Int = 8, seed: Long = 11L,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   queryIdCol: String = "query_id",
                   queryVecCol: String = "query_vec",
                   scoreScale: Int = 4): DataFrame = {
    val cand = topKPqSeeded(corpus, queries, kCand, dim, m, nCodes, seed,
        idCol, vecCol, queryIdCol, queryVecCol)
      .select(col(queryIdCol), col(idCol))
    val scored = cand
      .join(corpus.select(col(idCol), col(vecCol)), idCol)
      .join(broadcast(queries), queryIdCol)
      .withColumn("score",
        round(VectorFns.cosineSim(col(vecCol), col(queryVecCol)), scoreScale))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("score").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("score"), col("rank"))
  }

  // ------------------------------------------------------------------- IVF
  /**
   * IVF layout over an embedding table (SURVEY §4 P6): `nlist` KMeans
   * centroids; every vector is assigned its nearest cell. Search scores the
   * query against the centroids on the driver ([[probedRows]]), keeps
   * `nprobe` cells, and runs exact scoring only inside those cells — at
   * scale the cell column is the partition key, so pruning skips whole
   * partitions.
   *
   * `nprobe == nlist` reproduces exact search (the reference's own config:
   * nlist=128, nprobe=128 — config.yml:81-82).
   */
  final case class IvfIndex(cells: DataFrame, centroids: DataFrame,
                            idCol: String, vecCol: String,
                            boundsOpt: Option[DataFrame] = None) {

    /** The centroids on the driver, by cell id — collected once per loaded
      * layout (nlist rows), so a probe costs no job. */
    lazy val centroidArray: Array[Array[Float]] = collectCentroids(centroids)

    /**
     * Per-cell angular radius — the MINIMUM member cosine to the cell's own
     * centroid. This is the cell metadata the range-search cell bound needs
     * (faiss keeps the same statistic per inverted list): for a query q and
     * cell centroid c, every member v satisfies
     * angle(q,v) ≥ angle(q,c) − angle(v,c) ≥ angle(q,c) − θmax, so
     * cos(q,v) ≤ cos(angle(q,c) − θmax) — an EXACT upper bound, valid for
     * any assignment rule because θmax is measured over the actual members.
     * One aggregation over the layout (nlist output rows); [[writeIvf]]
     * persists it so serving never recomputes.
     */
    def cellBounds(): DataFrame =
      cells.join(broadcast(centroids), "cell")
        .groupBy(col("cell"))
        .agg(min(VectorFns.cosineSim(col(vecCol), col("centroid"))).as("min_cos"))

    /**
     * Radius / range search over the layout (faiss `range_search`, Milvus
     * radius search — the second search verb beside top-k, vdb.py:94-100's
     * neighbor list with a threshold instead of a limit): ALL vectors with
     * rounded cosine ≥ `threshold`, pruned to the cells whose angular upper
     * bound clears the threshold. Unlike nprobe top-k pruning this is
     * EXACT: the bound is sound (see [[cellBounds]]), so a skipped cell
     * provably contains no qualifying vector — results equal the brute
     * scan at every threshold, while IO scales with the qualifying cells
     * only. On a [[writeIvf]]-persisted layout AQE may turn the cell join
     * into a dynamic partition filter ([[probedRows]]' is literal).
     */
    def rangeSearch(queries: DataFrame, threshold: Double,
                    queryIdCol: String = "query_id",
                    queryVecCol: String = "query_vec",
                    scoreScale: Int = 4): DataFrame = {
      // rounding margin: scores are round(cos, scale), so a cell may hold a
      // vector at cos = threshold − 10^-scale/2 that still rounds in; prune
      // only below threshold − 10^-scale (double the needed slack)
      val eps = math.pow(10.0, -scoreScale)
      val b = boundsOpt.getOrElse(cellBounds())
      val centB = centroids.join(b, "cell") // nlist rows, both tiny
      val probed = queries.crossJoin(broadcast(centB))
        .withColumn("cqc", least(greatest(
          VectorFns.cosineSim(col(queryVecCol), col("centroid")), lit(-1.0)), lit(1.0)))
        .withColumn("mc", least(greatest(col("min_cos"), lit(-1.0)), lit(1.0)))
        .withColumn("ub",
          when(col("cqc") >= col("mc"), lit(1.0)) // query inside the cone
            .otherwise(col("cqc") * col("mc")
              + sqrt(lit(1.0) - col("cqc") * col("cqc"))
                * sqrt(lit(1.0) - col("mc") * col("mc"))))
        .filter(col("ub") >= threshold - eps)
        .drop("centroid", "min_cos", "cqc", "mc", "ub")
      cells.join(broadcast(probed), "cell")
        .withColumn("score",
          round(VectorFns.cosineSim(col(vecCol), col(queryVecCol)), scoreScale))
        .filter(col("score") >= threshold)
    }

    def search(queries: DataFrame, k: Int, nprobe: Int,
               queryIdCol: String = "query_id", queryVecCol: String = "query_vec",
               scoreScale: Int = 4): DataFrame = {
      val candidates = scoredCandidates(queries, nprobe, queryVecCol, scoreScale)
      val w = Window.partitionBy(col(queryIdCol)).orderBy(col("score").desc, col(idCol).asc)
      candidates
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col(queryIdCol), col(idCol), col("score"), col("rank"))
    }

    /**
     * The probe-pruned, exact-scored candidate set BEFORE top-k: every cell
     * row of the `nprobe` best cells per query, scored against that query,
     * with all query columns retained. [[search]] is a window over this;
     * callers with different reduce semantics (e.g. per-parent best hit,
     * Engine.search) consume it directly instead of re-deriving the probe.
     */
    def scoredCandidates(queries: DataFrame, nprobe: Int,
                         queryVecCol: String = "query_vec",
                         scoreScale: Int = 4): DataFrame =
      probedRows(cells, queries, centroidArray, nprobe, queryVecCol)
        .withColumn("score", round(VectorFns.cosineSim(col(vecCol), col(queryVecCol)), scoreScale))
  }

  /** The IVF probe, on the driver: each (broadcast-sized, so collected)
    * query row's `nprobe` cells by [[VectorFns.cellOrder]], the rule cells
    * are assigned by. `layout` (cell-partitioned cells or codes) is read
    * with the probed cells as a literal `cell IN (…)` partition filter and
    * joined to the local (query columns, cell) pairs. */
  def probedRows(layout: DataFrame, queries: DataFrame,
                 centroids: Array[Array[Float]], nprobe: Int,
                 queryVecCol: String = "query_vec"): DataFrame = {
    val vi = queries.schema.fieldIndex(queryVecCol)
    val pairs = queries.collect().toSeq.filterNot(_.isNullAt(vi)).flatMap { r =>
      VectorFns.cellOrder(r.getSeq[Number](vi).map(_.doubleValue).toArray, centroids)
        .take(nprobe).map(c => Row.fromSeq(r.toSeq :+ c))
    }
    val cells = pairs.map(_.getInt(queries.schema.length)).distinct.sorted
    val probed = queries.sparkSession.createDataFrame(pairs.asJava,
      queries.schema.add("cell", IntegerType, nullable = false))
    layout.filter(col("cell").isInCollection(cells)).join(broadcast(probed), "cell")
  }

  /**
   * Build the IVF layout. The coarse quantizer is trained on a BOUNDED
   * deterministic sample collected to the driver (at 100 TB you never run
   * KMeans over the full corpus — FAISS/Milvus train IVF on ~10⁴–10⁶
   * sampled vectors too), then the centroids broadcast back and every row
   * is assigned its nearest cell in one narrow map stage. Replaces
   * Spark-ML KMeans, whose per-iteration job launch dominates at harness
   * scale and whose full-corpus passes are wrong at target scale.
   */
  def buildIvf(corpus: DataFrame, nlist: Int, idCol: String = "vec_id",
               vecCol: String = "embedding", seed: Long = 42L,
               sampleSize: Int = 20000): IvfIndex = {
    val spark = corpus.sparkSession
    // deterministic hash-sample in ONE pass: the sampleSize hash-smallest
    // rows via takeOrdered (per-partition top-k + driver merge — never a
    // global sort, and no prior corpus.count() sizing scan, which at 100 TB
    // was a whole extra read of the table). Hash order is independent of
    // partitioning/row order; the id tiebreak makes the set exact.
    // (DataFrame orderBy().limit() would NOT plan the same thing here:
    // above topKSortFallbackThreshold it falls back to a full global sort.)
    // internal-row extraction (queryExecution.toRdd), not .rdd: the
    // external-Row path deserializes every column through the encoder and
    // boxes every float of every vector just to throw most rows away
    val proj = corpus
      .select(xxhash64(col(idCol).cast("string")).as("__h"),
        col(idCol).cast("string").as("__id"),
        col(vecCol).cast("array<float>").as("__v"))
    val sampled = proj.queryExecution.toRdd
      .map(r => (r.getLong(0), r.getUTF8String(1).toString,
        r.getArray(2).toFloatArray))
      .takeOrdered(sampleSize)(Ordering.by(t => (t._1, t._2)))
      .sortBy(_._2)
      .map(_._3)
    val centroids = lloyd(sampled, nlist, seed, iters = 10)
    // one assignment rule for build AND incremental append ([[assignCells]])
    // — a divergence here would corrupt the extended layout
    val cells = assignCells(corpus, centroids, vecCol)
    import spark.implicits._
    val centroidDf = centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("cell", "centroid")
      .select(col("cell"), col("centroid").cast("array<float>").as("centroid"))
    IvfIndex(cells, centroidDf, idCol, vecCol)
  }

  /**
   * IVF layout whose coarse quantizer is DATA-INDEPENDENT: `nlist` seeded
   * Gaussian directions (the q55 hyperplane trick) instead of learned KMeans
   * centroids. Assignment is argmax rounded cosine with ties to the lowest
   * cell — a pure function of (seed, vector), so a SQL oracle can replay the
   * whole pruned probe by embedding the centroid values as literals
   * (VectorQueries.ivfProbeOracleSql). Search behavior — nprobe cell pruning,
   * in-cell exact ranking — is [[IvfIndex.search]] unchanged; only the
   * quantizer source differs from [[buildIvf]]. This is a real quantizer
   * family (random-projection coarse quantization), not a test artifact:
   * it needs no training pass at all, which matters when the corpus churns
   * faster than a KMeans fit amortizes.
   *
   * Assignment is a NARROW map stage (literal centroid array + left fold),
   * never a shuffle: at 100 TB a per-row window over vec_id would be the
   * dominant exchange; the fold is O(nlist·dim) per row inside the scan.
   */
  def buildIvfSeeded(corpus: DataFrame, nlist: Int, dim: Int,
                     seed: Long = 7L, idCol: String = "vec_id",
                     vecCol: String = "embedding"): IvfIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = Dedup.hyperplanes(dim, nlist, seed)
    val centLit = array(cents.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("cell"), typedLit(c.toSeq).as("centroid"))
    }: _*)
    // staged projections (the q57 lesson): the scored array is built in one
    // projection and folded in the next, so the interpreted lambdas run once
    val staged = corpus.withColumn("cscores",
      transform(centLit, ce => struct(
        round(VectorFns.cosineSim(col(vecCol), ce("centroid")), 4).as("s"),
        ce("cell").as("cell"))))
    // strict > keeps the EARLIEST max ⇒ rounded ties resolve to the lowest
    // cell id — the same total order the oracle's (s DESC, cell ASC) replays
    val cells = staged
      .withColumn("cell", aggregate(col("cscores"),
        struct(lit(-2.0).as("s"), lit(-1).as("cell")),
        (acc, x) => when(x("s") > acc("s"), x).otherwise(acc))("cell"))
      .drop("cscores")
    val centroidDf = cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("cell", "centroid")
      .select(col("cell"), col("centroid").cast("array<float>").as("centroid"))
    IvfIndex(cells, centroidDf, idCol, vecCol)
  }

  /**
   * Assign each row its nearest cell under EXISTING centroids — the
   * incremental-index path (Milvus/FAISS add-to-built-index): the quantizer
   * is NOT retrained, new vectors are just routed to their closest cell and
   * appended to the layout. A narrow map stage (broadcast centroids, the
   * probe's max-cosine rule — the same rule [[buildIvf]] assigns with and
   * [[probedRows]] probes with), zero shuffles.
   */
  def assignCells(df: DataFrame, centroids: Array[Array[Float]],
                  vecCol: String): DataFrame =
    // codegen'd primitive-array argmin (graft.functions.NearestCell) — the
    // Scala-UDF spelling boxed every float of every vector per row; the
    // cast keeps the old UDF's Seq[Float] coercion for double-typed inputs
    df.withColumn("cell", graft.functions.VectorFns.nearestCellCol(
      col(vecCol).cast("array<float>"), centroids))

  /** Driver-side centroid array of a (possibly loaded) IVF index, ordered by
    * cell id — nlist rows, metadata-sized. */
  def collectCentroids(centroidDf: DataFrame): Array[Array[Float]] =
    centroidDf.orderBy(col("cell"))
      .collect().map(_.getAs[Seq[Float]]("centroid").toArray)

  /**
   * Persist the IVF layout hive-partitioned by cell: `path/cell=<c>/…`.
   * A pruned probe ([[probedRows]]) is then a literal PARTITION filter —
   * nprobe of nlist directories are read, the rest never touch IO (the
   * on-disk realization of Milvus' IVF cell skip, vdb.py:90-100).
   * Centroids ride along as one tiny parquet.
   */
  def writeIvf(index: IvfIndex, path: String): Unit = {
    val spark = index.cells.sparkSession
    // per-cell angular radii for range search ([[IvfIndex.cellBounds]]'s
    // min cosine per cell) RIDE THE CELLS WRITE as an Observation — nlist
    // conditional aggregates, metadata-sized — instead of a second full
    // pass over the written layout (the pre-r15 spelling re-read every
    // cell file to aggregate the same number). Same fused-metadata shape
    // as the updateIncremental extend path.
    val obsOpt =
      if (index.boundsOpt.isDefined) None
      else Some((org.apache.spark.sql.Observation(),
        collectCentroids(index.centroids)))
    val cellsOut = obsOpt match {
      case Some((obs, cents)) =>
        val mins = cents.indices.map(c =>
          min(when(col("cell") === c,
            graft.functions.VectorFns.cosineSim(col(index.vecCol),
              typedLit(cents(c).toSeq))))
            .as(s"m$c"))
        index.cells.observe(obs, mins.head, mins.tail: _*)
      case None => index.cells
    }
    // hash-cluster by cell before the partitioned write: without it every
    // scan task writes a file into every cell directory (tasks × nlist
    // small files); with it each cell's rows land in one task → one file
    // per cell (at real scale: repartition(n, cell) for n > nlist)
    cellsOut.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    graft.util.FastParquet.prime(spark,
      s"$path/centroids", index.centroids.schema)
    val boundsDf = obsOpt match {
      case Some((obs, cents)) =>
        // explicit nullable schema — byte-identical to what the old
        // groupBy-aggregate spelling wrote and inference reads back
        val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
        cents.indices.foreach(c => Option(obs.get(s"m$c")).foreach(v =>
          rows.add(org.apache.spark.sql.Row(c, v.asInstanceOf[Double]))))
        spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cell",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("min_cos",
            org.apache.spark.sql.types.DoubleType))))
      case None => index.boundsOpt.get
    }
    boundsDf.coalesce(1).write.mode("overwrite").parquet(s"$path/bounds")
    graft.util.FastParquet.prime(spark, s"$path/bounds", boundsDf.schema)
  }

  /** Load a persisted IVF layout; `search` on it prunes cell partitions.
    * Pre-bounds layouts (no `bounds` dir) stay loadable — [[IvfIndex
    * .rangeSearch]] falls back to computing bounds on the fly. */
  def loadIvf(spark: org.apache.spark.sql.SparkSession, path: String,
              idCol: String = "vec_id", vecCol: String = "embedding"): IvfIndex = {
    val bp = new org.apache.hadoop.fs.Path(s"$path/bounds")
    val bounds =
      if (bp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(bp))
        Some(graft.util.FastParquet.read(spark, s"$path/bounds"))
      else None
    IvfIndex(graft.util.FastParquet.read(spark, s"$path/cells"),
      graft.util.FastParquet.read(spark, s"$path/centroids"), idCol, vecCol, bounds)
  }

  /**
   * PQ-encode a layout's cells with seeded codebooks and PERSIST the codes
   * hive-partitioned by cell (`path/pqcodes/cell=<c>/…`) — the compressed
   * index rows an IVF_PQ deployment serves from (faiss stores exactly
   * this: per inverted list, the m-byte codes). A probe's literal cell
   * filter then partition-prunes the CODES, so unprobed cells cost no IO and no
   * ADC work; the full-precision vectors are touched only by the
   * exact re-rank of the few surviving candidates.
   */
  def writePqCodes(index: IvfIndex, dim: Int, m: Int, nCodes: Int,
                   seed: Long, path: String): Unit = {
    val books = pqCodebooks(dim, m, nCodes, seed)
    // ALL non-vector cell columns ride through the encode (pqEncode's
    // passthrough) — the layout's delete maintenance anti-joins the codes
    // on the same key the index rows carry
    pqEncode(index.cells, index.vecCol, dim / m, books)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/pqcodes")
  }

  /** Append freshly assigned rows' codes to a persisted pqcodes layout —
    * the incremental-extend companion of [[writePqCodes]] (rows must carry
    * a `cell` column, e.g. from [[assignCells]]). */
  def appendPqCodes(assigned: DataFrame, vecCol: String, dim: Int, m: Int,
                    nCodes: Int, seed: Long, path: String): Unit = {
    val books = pqCodebooks(dim, m, nCodes, seed)
    pqEncode(assigned, vecCol, dim / m, books)
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/pqcodes")
  }

  /** The persisted PQ codes of a layout written by [[writePqCodes]]. */
  def loadPqCodes(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    graft.util.FastParquet.read(spark, s"$path/pqcodes")

  /**
   * ADC candidate cut over persisted PQ codes: probe `nprobe` cells per
   * query ([[probedRows]]), rank probed-cell codes by asymmetric
   * distance against the broadcast LUT, keep `kCand` ids per query. The
   * IVF_PQ serving front half; callers exact-re-rank the survivors.
   */
  def pqAdcCandidates(codes: DataFrame, centroids: Array[Array[Float]],
                      queries: DataFrame, kCand: Int, dim: Int, m: Int,
                      nCodes: Int, seed: Long, nprobe: Int, idCol: String,
                      queryIdCol: String = "query_id",
                      queryVecCol: String = "query_vec"): DataFrame = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val books = pqCodebooks(dim, m, nCodes, seed)
    val lut = pqLut(queries, dim / m, books, queryIdCol, queryVecCol)
    val acc = probedRows(codes, queries.select(col(queryIdCol), col(queryVecCol)),
        centroids, nprobe, queryVecCol)
      .join(broadcast(lut), Seq(queryIdCol, "s", "code"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum(col("d").cast("decimal(18,4)")).as("adist_dec"))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("adist_dec").asc, col(idCol).asc)
    acc.withColumn("crank", row_number().over(w)).filter(col("crank") <= kCand)
      .select(col(queryIdCol), col(idCol))
  }

  /** Sign-bit packing of a float-vector column into ceil(dim/64) longs —
    * the 1-bit-per-dimension binary quantization RaBitQ/one-bit codes use
    * (Milvus 2.6's RABITQ index type quantizes exactly this way before its
    * refine stage). Pure SQL expression (aggregate/zip_with/shiftleft), so
    * the packing codegens and the oracle can replay the SIGN comparison
    * directly on the float lists. */
  private def binPackExpr(vecCol: String, dim: Int): String = {
    val words = (dim + 63) / 64
    val parts = (0 until words).map { w =>
      val from = w * 64 + 1
      val len = math.min(64, dim - w * 64)
      s"aggregate(zip_with(slice($vecCol, $from, $len), sequence(0, ${len - 1}), " +
        s"(x, i) -> IF(x > 0, shiftleft(1L, i), 0L)), 0L, (a, b) -> a | b)"
    }
    s"array(${parts.mkString(", ")})"
  }

  /**
   * Persist the binary-quantization companion of an IVF layout: each
   * indexed vector's sign bits packed to ceil(dim/64) longs (a 32×
   * compression at dim 64/float32), hive-partitioned by cell so a probe
   * partition-prunes the code scan — Milvus 2.6's IVF+RaBitQ on-disk
   * shape. All non-vector cell columns ride through (the delete-
   * maintenance anti-join contract [[writePqCodes]] documents).
   */
  def writeBin(index: IvfIndex, dim: Int, path: String): Unit =
    index.cells
      .withColumn("bcode", expr(binPackExpr(index.vecCol, dim)))
      .drop(index.vecCol)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/bincodes")

  /** Append freshly assigned rows' sign codes — the incremental-extend
    * companion of [[writeBin]] (sign packing is data-independent, so no
    * trained state constrains the append; rows must carry `cell`). */
  def appendBin(assigned: DataFrame, vecCol: String, dim: Int, path: String): Unit =
    assigned
      .withColumn("bcode", expr(binPackExpr(vecCol, dim)))
      .drop(vecCol)
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/bincodes")

  /** The persisted sign codes of a layout written by [[writeBin]]. */
  def loadBin(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    graft.util.FastParquet.read(spark, s"$path/bincodes")

  /**
   * Binary-quantization candidate cut (the RaBitQ serving front half):
   * probe `nprobe` cells per query ([[probedRows]]), rank the probed
   * cells' sign codes by Hamming distance to the
   * query's sign code (xor + popcount per packed word — integer-exact,
   * ~16 bytes and 2 bit-ops per pair where the float scan pays 256 bytes
   * and 64 FMAs), keep `kCand` ids per query (ties → lowest id). Callers
   * exact-re-rank the survivors against the full-precision vectors —
   * RaBitQ's refine stage.
   */
  def binHammingCandidates(codes: DataFrame, centroids: Array[Array[Float]],
                           queries: DataFrame, kCand: Int, dim: Int,
                           nprobe: Int, idCol: String,
                           queryIdCol: String = "query_id",
                           queryVecCol: String = "query_vec"): DataFrame = {
    val qcodes = queries
      .withColumn("qcode", expr(binPackExpr(queryVecCol, dim)))
      .select(col(queryIdCol), col("qcode"))
    val words = (dim + 63) / 64
    val hdExpr = (0 until words)
      .map(w => s"bit_count(bcode[$w] ^ qcode[$w])").mkString(" + ")
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("hd").asc, col(idCol).asc)
    probedRows(codes, queries.select(col(queryIdCol), col(queryVecCol)),
        centroids, nprobe, queryVecCol)
      .join(broadcast(qcodes), Seq(queryIdCol))
      .withColumn("hd", expr(hdExpr))
      .withColumn("hrank", row_number().over(w))
      .filter(col("hrank") <= kCand)
      .select(col(queryIdCol), col(idCol))
  }

  /** The SQ8 code column: per-dim affine quantization to [0,255] against
    * broadcast-literal bounds, clamped — build-time vectors are inside the
    * bounds by construction (no-op clamp); incrementally appended vectors
    * may fall outside and clip, exactly like faiss's trained
    * ScalarQuantizer. Codes are ints here for oracle-replayable arithmetic;
    * a production layout would pack them to bytes. */
  private def sq8Codes(vec: Column, mnLit: Column, mxLit: Column): Column =
    transform(vec, (x, i) => {
      val mn = element_at(mnLit, (i + 1).cast("int"))
      val mx = element_at(mxLit, (i + 1).cast("int"))
      val c = when(mx === mn, lit(0.0))
        .otherwise(floor((x.cast("double") - mn) * 255.0 / (mx - mn) + 0.5))
      least(greatest(c, lit(0.0)), lit(255.0)).cast("int")
    })

  /** Reconstruction r_i = mn_i + c_i·(mx_i−mn_i)/255 — the asymmetric
    * scoring side of SQ8 (full-precision query vs reconstructed corpus). */
  private def sq8Recon(codes: Column, mnLit: Column, mxLit: Column): Column =
    transform(codes, (c, i) => {
      val mn = element_at(mnLit, (i + 1).cast("int"))
      val mx = element_at(mxLit, (i + 1).cast("int"))
      mn + c.cast("double") * (mx - mn) / 255.0
    })

  /** Collect a layout's per-dim SQ8 bounds as two literal arrays. */
  private def sq8BoundsLit(bounds: DataFrame): (Column, Column) = {
    val b = bounds.collect().map(r => (r.getInt(r.fieldIndex("i")),
      r.getDouble(r.fieldIndex("mn")), r.getDouble(r.fieldIndex("mx")))).sortBy(_._1)
    (array(b.map(x => lit(x._2)).toIndexedSeq: _*).cast("array<double>"),
      array(b.map(x => lit(x._3)).toIndexedSeq: _*).cast("array<double>"))
  }

  /**
   * Persist the SQ8 compressed companion of an IVF layout: per-dim min/max
   * bounds (exact aggregates over the indexed vectors — dim rows) and the
   * per-row quantized codes, hive-partitioned by cell so a probe partition-
   * prunes the compressed scan (Milvus IVF_SQ8's on-disk shape). All
   * non-vector columns of the cells ride through with the codes.
   */
  def writeSq8(index: IvfIndex, path: String): Unit = {
    val bounds = index.cells
      .select(posexplode(col(index.vecCol)).as(Seq("i", "x")))
      .withColumn("x", col("x").cast("double"))
      .groupBy(col("i"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .localCheckpoint(true)
    bounds.coalesce(1).write.mode("overwrite").parquet(s"$path/sq8bounds")
    val (mnLit, mxLit) = sq8BoundsLit(bounds)
    index.cells
      .withColumn("codes", sq8Codes(col(index.vecCol), mnLit, mxLit))
      .drop(index.vecCol)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/sq8codes")
  }

  /** Append freshly assigned rows' SQ8 codes under the STORED bounds (the
    * trained-quantizer contract: bounds are build-time state; out-of-range
    * appended values clip). `assigned` must carry a `cell` column. */
  def appendSq8(assigned: DataFrame, vecCol: String, path: String): Unit = {
    val spark = assigned.sparkSession
    val (mnLit, mxLit) = sq8BoundsLit(graft.util.FastParquet.read(spark, s"$path/sq8bounds"))
    assigned
      .withColumn("codes", sq8Codes(col(vecCol), mnLit, mxLit))
      .drop(vecCol)
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/sq8codes")
  }

  /**
   * IVF_SQ8 serving: probe `nprobe` cells per query ([[probedRows]]),
   * reconstruct ONLY the probed
   * cells' codes against the stored bounds, and score the full-precision
   * query against the reconstructions (asymmetric SQ8, q145's scoring).
   * Returns every probed-cell row scored, with all code columns and all
   * query columns retained — the [[IvfIndex.scoredCandidates]] contract,
   * so Engine.search's per-document reduce consumes it directly.
   */
  def sq8ScoredCandidates(spark: org.apache.spark.sql.SparkSession, path: String,
                          centroids: Array[Array[Float]], queries: DataFrame,
                          nprobe: Int,
                          queryVecCol: String = "query_vec",
                          scoreScale: Int = 4): DataFrame = {
    val (mnLit, mxLit) = sq8BoundsLit(graft.util.FastParquet.read(spark, s"$path/sq8bounds"))
    probedRows(graft.util.FastParquet.read(spark, s"$path/sq8codes"), queries,
        centroids, nprobe, queryVecCol)
      .withColumn("score", round(VectorFns.cosineSim(
        sq8Recon(col("codes"), mnLit, mxLit), col(queryVecCol)), scoreScale))
      .drop("codes")
  }

  /** Seeded in-memory Lloyd's KMeans (deterministic): k-distinct init from a
    * seeded shuffle, fixed iteration count, empty clusters keep their old
    * centroid. Points join the cell the probe would pick first
    * ([[VectorFns.nearestCell]]: max cosine, ties to the lowest cell), so a
    * vector's own cell is its first probe. Good enough for a coarse
    * quantizer — cell quality only affects pruned-probe recall, never
    * nprobe = nlist correctness. */
  private[operators] def lloyd(points: Array[Array[Float]], k: Int, seed: Long,
                               iters: Int): Array[Array[Float]] = {
    require(points.nonEmpty, "empty IVF training sample")
    val dim = points.head.length
    val rnd = new scala.util.Random(seed)
    val init = rnd.shuffle(points.indices.toVector).take(k).map(points(_))
    var centroids = init.map(_.clone).toArray
    val assignment = new Array[Int](points.length)
    var it = 0
    while (it < iters) {
      var p = 0
      while (p < points.length) {
        assignment(p) = VectorFns.nearestCell(points(p).map(_.toDouble), centroids)
        p += 1
      }
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Int](centroids.length)
      p = 0
      while (p < points.length) {
        val s = sums(assignment(p)); val v = points(p)
        var i = 0
        while (i < dim) { s(i) += v(i); i += 1 }
        counts(assignment(p)) += 1
        p += 1
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else Array.tabulate(dim)(i => (sums(c)(i) / counts(c)).toFloat)
      }
      it += 1
    }
    centroids
  }
}
