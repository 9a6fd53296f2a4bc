package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Tiers:
  *  - [[cosine]] / [[topKNeighbors]] — exact brute-force: the baseline and
  *    the verification target. All-pairs is a self-join; at 100 TB you
  *    never run it unbucketed — hence:
  *  - [[hyperplaneBuckets]] — random-hyperplane LSH: vectors are bucketed
  *    by the sign pattern of dot products with `nPlanes` deterministic
  *    pseudo-random hyperplanes; the all-pairs join then runs per bucket
  *    (shuffle key = bucket id), turning O(n²) into Σ O(b²) per bucket.
  *    Hyperplane components derive from an arithmetic PRNG so any SQL
  *    engine can re-derive them (no stored random state).
  *  - [[AnnIndex]] — the IVF family as one spec (coarse quantizer × codec
  *    × optional exact refine) with [[train]], [[search]],
  *    [[rangeSearch]], [[save]] and [[load]].
  */
object Similarity {

  /** Row count of a parquet dataset from its FILE FOOTERS only — a
    * metadata read (listing + footer parse per file), never a data scan.
    * This is how a 100 TB pipeline feeds [[Cells]]'s `knownN`
    * when it doesn't already carry the count from an ingest manifest:
    * the footer walk costs O(files), not O(bytes). */
  def parquetRowCount(spark: org.apache.spark.sql.SparkSession,
                      path: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val files = fs.listStatus(p).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    var n = 0L
    while (files.hasNext) {
      val f = ParquetFileReader.open(
        HadoopInputFile.fromStatus(files.next(), conf))
      try n += f.getRecordCount finally f.close()
    }
    n
  }

  /** Element-wise dot product of two double-array columns (sequential
    * fold — deterministic accumulation order). Codegen'd native expression;
    * identical to `aggregate(zip_with(a,b,*), 0.0, +)`. */
  def dot(a: Column, b: Column): Column =
    graft.plans.NativeExpressions.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either norm is 0. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n === 0, 0.0).otherwise(d / n)
  }

  /** Cast a float-array embedding to double (so every engine computes in
    * the same precision). */
  def asDouble(a: Column): Column = transform(a, _.cast("double"))

  /** Exact top-k neighbors for each query row: broadcast the (small) query
    * set against the corpus, rank by (sim desc, id) — deterministic ties.
    * Output: (query_id, neighbor_id, sim) with sim rounded to `roundTo`. */
  def topKNeighbors(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String,
      k: Int, roundTo: Int = 6
  ): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), roundTo).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("sim"), col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k).drop("rn")
  }

  /** Recall@k of an approximate candidate list against the exact one —
    * the evaluation harness that picks an ANN operating point (nprobe,
    * codebook size, PQ m) before a production rollout: per query,
    * |approx ∩ exact| / |exact|. Inputs are (query_id, neighbor_id, …)
    * top-k lists; queries absent from `approx` score 0. Scale note: both
    * inputs are k-sized per query by construction, so every join and
    * aggregate here touches candidate-list data only. */
  def annRecall(exact: DataFrame, approx: DataFrame,
      roundTo: Int = 6): DataFrame = {
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val eCnt = e.groupBy("query_id").agg(count(lit(1)).as("__k"))
    val hits = e.join(a, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("__hits"))
    eCnt.join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("__hits"), lit(0L)).cast("double") /
          col("__k"), roundTo).as("recall"))
  }

  /** Reciprocal-rank fusion of candidate lists (the standard hybrid-
    * retrieval combiner — lexical BM25 + vector ANN, or any mix of
    * rankers): each list contributes 1/(c + rank) per id (rank from
    * score desc, id asc — deterministic ties), absent ids contribute 0,
    * and the fused top-k orders by (rrf desc, id). RRF needs no score
    * calibration across rankers, which is why it is the default fusion
    * in production hybrid search.
    *
    * Scale note: inputs are top-k CANDIDATE lists by construction
    * (bounded by each ranker's k, not by the corpus), so the
    * single-partition rank windows and the full-outer id joins operate
    * on k-sized data — the heavy lifting already happened inside the
    * rankers, which scan/prune at corpus scale. */
  def rrfFuse(lists: Seq[DataFrame], idCol: String, scoreCol: String,
      k: Int, c: Int = 60, roundTo: Int = 6): DataFrame = {
    require(lists.nonEmpty, "rrfFuse: no candidate lists")
    val ranked = lists.zipWithIndex.map { case (l, i) =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(desc(scoreCol), col(idCol))
      l.select(col(idCol), row_number().over(w).as(s"__r$i"))
    }
    val joined = ranked.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val rrf = ranked.indices.map(i =>
        coalesce(lit(1.0) / (lit(c) + col(s"__r$i")), lit(0.0)))
      .reduce(_ + _)
    joined.select(col(idCol), round(rrf, roundTo).as("rrf"))
      .orderBy(desc("rrf"), col(idCol)).limit(k)
  }

  /** Sign-pattern LSH bucket id from `nPlanes` hyperplanes (bit i = sign of
    * dot(v, plane_i)); plane components are a deterministic LCG mapped to
    * [-0.5, 0.5) so any engine can replay them. Row-local, single codegen'd
    * traversal of the vector (NativeExpressions.HyperplaneBucket) — the
    * equivalent HOF form `aggregate(zip_with(vec, transform(sequence(...),
    * lcg), *), +)` re-walks the vector once per plane through the
    * interpreter, the multi-pass shape that cost simhash 4.2× pre-rewrite. */
  def hyperplaneBucket(vec: Column, nPlanes: Int): Column =
    graft.plans.NativeExpressions.hyperplane_bucket(vec, nPlanes)


  /** Bucketed approximate all-pairs: candidate pairs share a bucket;
    * exact cosine verifies. Returns (id1, id2, sim) with id1 < id2 and
    * sim ≥ threshold.
    *
    * `maxBucketSize` is the hot-bucket guard (same contract as
    * [[Dedup.lshCandidatePairs]], default cap
    * [[Dedup.DefaultMaxBucketSize]]): a degenerate bucket — zero/near-zero
    * vectors, boilerplate embeddings that all land on the same sign
    * pattern — yields b² candidate rows from the self-join and can
    * dominate the whole job at 100 TB. Buckets above the cap are DROPPED
    * before the join (bucket sizing is a map-side groupBy.count + a
    * broadcast anti-join against the few oversize keys). The default
    * `Int.MaxValue` skips the sizing pass entirely. */
  def nearDuplicatesLsh(
      df: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int, threshold: Double, roundTo: Int = 6,
      maxBucketSize: Int = Int.MaxValue
  ): DataFrame = {
    val b0 = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
      hyperplaneBucket(asDouble(col(vecCol)), nPlanes).as("bucket"))
    val b =
      if (maxBucketSize == Int.MaxValue) b0
      else {
        val oversize = b0.groupBy("bucket")
          .agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") > maxBucketSize)
          .select("bucket")
        b0.join(broadcast(oversize), Seq("bucket"), "left_anti")
      }
    val l = b.select(col("bucket"), col("id").as("id1"), col("v").as("v1"))
    val r = b.select(col("bucket"), col("id").as("id2"), col("v").as("v2"))
    l.join(r, Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        round(cosine(col("v1"), col("v2")), roundTo).as("sim"))
      .filter(col("sim") >= threshold)
      .distinct()
  }

  // ---- ANN index: one spec, train / search / rangeSearch / save / load ----
  //
  // Every index here is a coarse quantizer (which cell a vector lives in)
  // composed with a codec (how a probed candidate is scored) and an
  // optional exact refine — the IVF family of faiss, and the
  // partition-index-plus-per-partition-scorer shape of REPOSE. Training
  // runs driver-bounded passes before any serving plan exists; serving is
  // ONE pipeline for every combination:
  //
  //  1. row-local coarse assignment (codegen'd argmax over the codebook,
  //     or the HNSW walk) — zero joins, zero shuffles;
  //  2. the few queries ride a BROADCAST, joined to the corpus on `cell`
  //     (corpus rows live in their nearest cell, queries probe nprobe);
  //  3. self-pairs drop;
  //  4. a per-codec score column: cosine (Flat), dequantized cosine
  //     (Sq8), or ADC through the broadcast LUT map (Pq/ResidualPq);
  //  5. the per-query top-k window — the only shuffle — or, for range
  //     search, a scan-side similarity filter with no window at all.
  //
  // Exhaustive search is the one-cell instance of the same join.

  /** Decimal places of every ANN score and trained centroid — the
    * precision the SQL oracles replay. */
  private[graft] val RoundTo = 6
  /** Coarse codebooks up to this size ride as plan literals; larger ones
    * as a broadcast (see [[assignWith]]). */
  private[graft] val MaxLiteralCentroids = 64
  /** Cap of the √n coarse codebook ([[Sqrt]]): past it the codebook is
    * constant-size and assignment linear in n (the faiss norm). */
  private[graft] val MaxCentroids = 4096
  /** Highest HNSW layer a node can reach ([[buildHnswGraph]]). */
  private[graft] val HnswMaxLevelCap = 4

  /** Coarse codebook size. A fixed stride grows the codebook with the
    * corpus (assignment n²/stride — quadratic across scale factors, the
    * BENCH_sf1.json lesson); [[Cells]] and [[Sqrt]] do not. */
  sealed trait Sizing
  /** Every `n`-th vector by id is a centroid. */
  final case class Every(n: Int) extends Sizing
  /** ≈`c` cells at every corpus size (stride n/c): assignment O(c·n),
    * linear. `knownN` is the corpus row count when the pipeline already
    * has it (ingest manifest, [[parquetRowCount]]); it skips the sizing
    * `count()` job, which at 100 TB is a full scan. */
  final case class Cells(c: Int, knownN: Option[Long] = None) extends Sizing
  /** C ≈ √n, the classical IVF operating point, capped at
    * [[MaxCentroids]]. */
  case object Sqrt extends Sizing
  /** No coarse quantizer: one cell holds the whole corpus. */
  case object Exhaustive extends Sizing

  /** Coarse quantizer: the stride-sampled codebook, `iters` k-means
    * rounds over it ([[kmeansCodebook]] — the stride codebook follows the
    * id layout, not the data, and was the measured recall ceiling), and
    * optionally an HNSW routing graph of degree `hnsw` over it
    * ([[buildHnswGraph]]: past a few thousand cells the O(C·d) argmax
    * dominates; the walk costs O(M·log C·d) and is approximate). */
  final case class Coarse(sizing: Sizing, iters: Int = 0,
      hnsw: Option[Int] = None)

  /** How a probed candidate is stored and scored. */
  sealed trait Codec
  /** Raw vectors, cosine similarity (`sim`, descending). */
  case object Flat extends Codec
  /** int8 scalar codes ([[quantizeInt8]]); queries stay raw and
    * candidates dequantize on the fly (`sim`). ~8× less bandwidth than
    * the double pipeline, per-dimension so recall stays near Flat. */
  case object Sq8 extends Codec
  /** Product quantization (faiss IVFADC): m sub-codes per vector from
    * per-subspace codebooks (stride `every`, `iters` Lloyd rounds —
    * [[pqCodebooksTrained]]); ADC squared L2 (`adist`, ascending). */
  final case class Pq(m: Int, every: Int, iters: Int = 0) extends Codec
  /** [[Pq]] over `x − centroid(cell(x))` (Jégou et al. 2011, faiss
    * `encode_residual`): residuals are tighter, so the same code budget
    * buys recall; LUTs are per (query, probed cell). */
  final case class ResidualPq(m: Int, every: Int, iters: Int = 0)
    extends Codec

  /** An ANN index spec. `rerank > 0` keeps that many candidates per
    * query and re-ranks them by exact squared L2 ([[refineExact]], the
    * faiss `IndexRefineFlat` stack; output column `dist`). */
  final case class AnnIndex(coarse: Coarse, codec: Codec = Flat,
      rerank: Int = 0)

  /** A trained [[AnnIndex]]: the coarse codebook (empty for
    * [[Exhaustive]]), the HNSW graph and the PQ codebooks it needs. All
    * are configuration-sized and live driver-side. */
  final class Trained private[operators] (val spec: AnnIndex,
      private[graft] val cids: Array[Long],
      private[graft] val cvs: Array[Array[Double]],
      private[graft] val hnsw: Option[graft.plans.HnswGraph],
      private[graft] val pq: Option[graft.plans.PqCodebooks])

  private def sqrtEvery(n: Long, maxCentroids: Int): Int = {
    val byCap = if (maxCentroids > 0) n / maxCentroids else 0L
    math.max(1L, math.max(math.round(math.sqrt(n.toDouble)), byCap)).toInt
  }

  /** Train `spec` over `corpus`. At 100 TB pass a sample: codebook
    * quality saturates far below full-corpus n, and the result persists
    * ([[save]]) to serve many query batches. */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      spec: AnnIndex): Trained = {
    val AnnIndex(coarse, codec, rerank) = spec
    require(coarse.iters >= 0, s"train: need iters >= 0, got ${coarse.iters}")
    require(rerank >= 0, s"train: need rerank >= 0, got $rerank")
    val every = coarse.sizing match {
      case Every(n) =>
        require(n > 0, s"train: need every > 0, got $n"); Some(n)
      case Cells(c, knownN) =>
        require(c > 0, s"train: need c > 0 cells, got $c")
        Some(math.max(1L, knownN.getOrElse(corpus.count()) / c).toInt)
      case Sqrt => Some(sqrtEvery(corpus.count(), MaxCentroids))
      case Exhaustive =>
        require(coarse.iters == 0 && coarse.hnsw.isEmpty &&
          !codec.isInstanceOf[ResidualPq],
          s"train: $spec needs a coarse quantizer")
        None
    }
    val (cids, cvs) = every.fold((Array.empty[Long], Array.empty[Array[Double]]))(
      kmeansCodebook(corpus, idCol, vecCol, _, coarse.iters))
    val pq = codec match {
      case Pq(m, e, it) =>
        Some(pqCodebooksTrained(corpus, idCol, vecCol, m, e, it))
      case ResidualPq(m, e, it) =>
        Some(residualPqCodebooks(corpus, idCol, vecCol, cids, cvs, m, e, it))
      case _ => None
    }
    new Trained(spec, cids, cvs, coarse.hnsw.map(buildHnswGraph(cids, cvs, _)),
      pq)
  }

  /** Top-k neighbors of the `queryPred` rows (evaluated over columns
    * `id`, `v`) within their `nprobe` nearest cells: (query_id,
    * neighbor_id, score), score `sim`, `adist` or — with rerank — `dist`,
    * ties to the smaller neighbor id. */
  def search(corpus: DataFrame, idCol: String, vecCol: String,
      index: Trained, queryPred: Column, k: Int, nprobe: Int = 1): DataFrame =
    search(corpus, idCol, vecCol, index, queryPred, k, nprobe,
      MaxLiteralCentroids)

  private[graft] def search(corpus: DataFrame, idCol: String, vecCol: String,
      index: Trained, queryPred: Column, k: Int, nprobe: Int,
      maxLiteralCentroids: Int): DataFrame = {
    val rerank = index.spec.rerank
    require(rerank == 0 || rerank >= k,
      s"search: rerank ($rerank) must be 0 (off) or >= k ($k)")
    val (scored, score) = candidates(corpus, idCol, vecCol, index, queryPred,
      nprobe, maxLiteralCentroids)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(if (score == "sim") desc(score) else col(score),
        col("neighbor_id"))
    val short = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= (if (rerank > 0) rerank else k)).drop("rn")
    if (rerank > 0) refineExact(corpus, idCol, vecCol, short, queryPred, k)
    else short
  }

  /** Range search (faiss `range_search`): every neighbor with cosine
    * `sim` ≥ `simMin` in the query's probed cells. The output is bounded
    * by the threshold, so the plan has no per-query window or sort — one
    * broadcast cell join and a scan-side filter, cheaper than top-k. */
  def rangeSearch(corpus: DataFrame, idCol: String, vecCol: String,
      index: Trained, queryPred: Column, simMin: Double,
      nprobe: Int = 1): DataFrame = {
    require(simMin >= -1.0 && simMin <= 1.0,
      s"rangeSearch: simMin must be a cosine in [-1, 1], got $simMin")
    require((index.spec.codec == Flat || index.spec.codec == Sq8) &&
      index.spec.rerank == 0,
      s"rangeSearch: needs a cosine codec without rerank, got ${index.spec}")
    candidates(corpus, idCol, vecCol, index, queryPred, nprobe,
      MaxLiteralCentroids)._1.filter(col("sim") >= simMin)
  }

  /** The serve core: steps 1–4 of the pipeline above. Returns the scored
    * (query_id, neighbor_id, score) candidates and the score's name. */
  private def candidates(corpus: DataFrame, idCol: String, vecCol: String,
      ix: Trained, queryPred: Column, nprobe: Int,
      maxLiteralCentroids: Int): (DataFrame, String) = {
    val spark = corpus.sparkSession
    val vecs = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val assigned = ix.hnsw match {
      case Some(g) => vecs.withColumn("__cells",
        graft.plans.NativeExpressions.hnsw_assign_bc(col("v"),
          spark.sparkContext.broadcast(g), nprobe, RoundTo))
      case None if ix.cids.isEmpty =>
        vecs.withColumn("__cells", array(lit(0L)))
      case None => assignWith(vecs, ix.cids, ix.cvs, nprobe, RoundTo,
        maxLiteralCentroids)
    }
    // corpus vectors live in exactly their nearest cell (element 1);
    // queries probe their nprobe nearest
    val cell = element_at(col("__cells"), 1)
    def joined(queries: DataFrame, cells: DataFrame, score: Column) =
      broadcast(queries).join(cells, "cell")
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), score)
    ix.spec.codec match {
      case codec @ (Flat | Sq8) =>
        val queries = assigned.filter(queryPred).select(col("id").as("query_id"),
          col("v").as("qv"), explode(col("__cells")).as("cell"))
        val (stored, nv) =
          if (codec == Flat) (col("v").as("nv"), col("nv"))
          else (graft.plans.NativeExpressions.int8_quant(col("v")).as("__q"),
            dequantizeInt8(col("__q.scale"), col("__q.codes")))
        val cells = assigned.select(col("id").as("neighbor_id"),
          cell.as("cell"), stored)
        (joined(queries, cells, round(cosine(col("qv"), nv), RoundTo).as("sim")),
          "sim")
      case codec =>
        val cb = ix.pq.get
        val residual = codec.isInstanceOf[ResidualPq]
        // residual = v − centroid(assigned cell); row-local, codegen'd
        val target =
          if (!residual) col("v")
          else graft.plans.NativeExpressions.residual_bc(col("v"), cell,
            spark.sparkContext.broadcast(
              new graft.plans.Codebook(ix.cids, ix.cvs)))
        // The code table is MATERIALIZED before the candidate join (eager
        // localCheckpoint — faiss stores the IVFADC index the same way):
        // left inline, the join's match loop re-evaluated the encode +
        // assign projection once per CANDIDATE row, turning the O(m) ADC
        // contract into O(m·C·dsub) — measured 24 s vs 0.9 s on a
        // 1M-candidate probe at C=256. It stores n·(m+2) small values.
        val cells = assigned.select(col("id").as("neighbor_id"),
          cell.as("cell"), graft.plans.NativeExpressions.pq_encode_bc(target,
            spark.sparkContext.broadcast(cb)).as("codes"))
          .localCheckpoint(true)
        // LUT transport: a per-query table is m·C doubles (8 KB at C=256);
        // as a join COLUMN it was copied into every candidate row (26 s at
        // 1M candidates where the ADC math costs < 1 s). The tables are
        // computed driver-side, one per (query, probed cell) — a residual
        // query differs per cell — and ship ONCE as a broadcast map under
        // a sequential key that rides the probe list; per-candidate cost
        // is O(m) + one hash probe. Id-sorted so the broadcast payload is
        // reproducible across runs.
        val qRows = assigned.filter(queryPred)
          .select(col("id"), col("v"), col("__cells")).collect()
          .sortBy(_.getLong(0))
        val centById = ix.cids.zip(ix.cvs).toMap
        val luts = new java.util.HashMap[java.lang.Long, Array[Double]]()
        val probes = qRows.toSeq.flatMap { r =>
          val qv = r.getSeq[Double](1).toArray
          r.getSeq[Long](2).map { c =>
            val x = if (!residual) qv else {
              val cv = centById(c); Array.tabulate(qv.length)(i => qv(i) - cv(i))
            }
            val key = luts.size.toLong
            luts.put(key, graft.plans.NativeExpressions.pqLutCompute(
              org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(x), cb)
              .toDoubleArray())
            (r.getLong(0), c, key)
          }
        }
        val bcLuts = spark.sparkContext.broadcast(
          new graft.plans.PqLutMap(cb.nCentroids, luts))
        import spark.implicits._
        (joined(probes.toDF("query_id", "cell", "lut_key"), cells,
          graft.plans.NativeExpressions.pq_adc_by_query(col("lut_key"),
            col("codes"), bcLuts, RoundTo).as("adist")), "adist")
    }
  }

  // ---- index persistence: train once, serve many across jobs (the faiss
  // write_index/read_index workflow). Parquet round-trips doubles and
  // ints bit-exactly, so load→serve ≡ train→serve (v17 and v22b share the
  // oracles of v15 and v22).

  // The writers fix these layouts; the loaders supply them instead of
  // paying per-load parquet schema inference (~100 ms/read).
  private[graft] val indexSchemas: Map[String, org.apache.spark.sql.types.StructType] =
    Map(
      "coarse" -> "cid BIGINT, cv ARRAY<DOUBLE>",
      "pq" -> "j INT, c INT, cv ARRAY<DOUBLE>",
      "hnsw" -> "pos INT, cid BIGINT, cv ARRAY<DOUBLE>, lvl INT, adj ARRAY<ARRAY<INT>>"
    ).map { case (k, ddl) => k -> org.apache.spark.sql.types.StructType.fromDDL(ddl) }

  /** Write `index` under `dir`: `coarse` (cid, cv) rows in cid order, or
    * for an HNSW coarse quantizer `hnsw` (pos, cid, cv, lvl, per-layer
    * neighbor positions — entry and max level are re-derived on load),
    * plus `pq` (j, c, cv) rows for a PQ codec. */
  def save(spark: org.apache.spark.sql.SparkSession, dir: String,
      index: Trained): Unit = {
    import spark.implicits._
    def write(kind: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$kind")
    index.hnsw match {
      case Some(g) => write("hnsw", g.cids.indices.map { p =>
        (p, g.cids(p), g.cvs(p).toSeq, g.levels(p), g.adj.map(_(p).toSeq).toSeq)
      }.toDF("pos", "cid", "cv", "lvl", "adj"))
      case None if index.cids.nonEmpty => write("coarse",
        index.cids.zip(index.cvs.map(_.toSeq)).toSeq.toDF("cid", "cv"))
      case None =>
    }
    index.pq.foreach { cb =>
      write("pq", (for (j <- 0 until cb.m; c <- 0 until cb.nCentroids)
        yield (j, c, cb.cents(j)(c).toSeq)).toDF("j", "c", "cv"))
    }
  }

  /** Read back what [[save]] wrote for `spec`. Eager and driver-bounded
    * (the artifacts are codebook-sized), so `dir` may be deleted as soon
    * as this returns. */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String,
      spec: AnnIndex): Trained = {
    def read(kind: String): Array[org.apache.spark.sql.Row] = {
      val rows = spark.read.schema(indexSchemas(kind)).parquet(s"$dir/$kind")
        .collect()
      require(rows.nonEmpty, s"load: empty $kind index at $dir")
      rows
    }
    val hnsw = spec.coarse.hnsw.map { _ =>
      val rows = read("hnsw").sortBy(_.getInt(0))
      require(rows.map(_.getInt(0)).toSeq == rows.indices,
        s"load: non-contiguous HNSW node positions at $dir")
      val adjs = rows.map(_.getSeq[scala.collection.Seq[Int]](4))
      require(adjs.forall(_.size == adjs.head.size),
        s"load: ragged HNSW layer count at $dir")
      val cids = rows.map(_.getLong(1))
      val levels = rows.map(_.getInt(3))
      new graft.plans.HnswGraph(cids, rows.map(_.getSeq[Double](2).toArray),
        levels, Array.tabulate(adjs.head.size)(l => adjs.map(_(l).toArray)),
        cids.indices.minBy(i => (-levels(i), cids(i))), levels.max)
    }
    val (cids, cvs) = hnsw match {
      case Some(g) => (g.cids, g.cvs)
      case None if spec.coarse.sizing == Exhaustive =>
        (Array.empty[Long], Array.empty[Array[Double]])
      case None =>
        val rows = read("coarse").sortBy(_.getLong(0))
        (rows.map(_.getLong(0)), rows.map(_.getSeq[Double](1).toArray))
    }
    val pq = spec.codec match {
      case Flat | Sq8 => None
      case _ =>
        val rows = read("pq")
        val m = rows.map(_.getInt(0)).max + 1
        val cents = Array.tabulate(m) { j =>
          rows.filter(_.getInt(0) == j).sortBy(_.getInt(1))
            .map(_.getSeq[Double](2).toArray)
        }
        require(cents.forall(_.length == cents(0).length),
          s"load: ragged PQ index at $dir")
        Some(new graft.plans.PqCodebooks(m, cents(0)(0).length, cents))
    }
    new Trained(spec, cids, cvs, hnsw, pq)
  }

  /** Row-local cell assignment against a driver-side codebook: `vecs`
    * (id, v) gains `__cells`, the nprobe nearest cell ids best first,
    * from a codegen'd argmax ([[graft.plans.NativeExpressions.NearestCentroids]])
    * — the corpus is scanned once with zero joins and zero shuffles.
    *
    * Codebook transport: up to `maxLiteralCentroids` the codebook rides as
    * plan literals (zero set-up cost). Past it a broadcast wins twice:
    * centroid norms are precomputed once in the [[graft.plans.Codebook]]
    * (the literal form re-derives them on every row), and the literals
    * would otherwise bloat every serialized plan and task by the full
    * codebook (tens of MB at C ≈ √n for billion-vector corpora). */
  private def assignWith(
      vecs: DataFrame, cids: Array[Long], cvs: Array[Array[Double]],
      nprobe: Int, roundTo: Int,
      maxLiteralCentroids: Int = MaxLiteralCentroids
  ): DataFrame = {
    val probed =
      if (cids.length <= maxLiteralCentroids) {
        val cidsLit = typedLit(cids.toSeq)
        val cvsLit = typedLit(cvs.map(_.toSeq).toSeq)
        graft.plans.NativeExpressions.nearest_centroids(
          col("v"), cidsLit, cvsLit, nprobe, roundTo)
      } else {
        val cb = new graft.plans.Codebook(cids, cvs)
        val bc = vecs.sparkSession.sparkContext.broadcast(cb)
        graft.plans.NativeExpressions.nearest_centroids_bc(
          col("v"), bc, nprobe, roundTo)
      }
    vecs.withColumn("__cells", probed)
  }

  /** Stride-sampled codebook rows: (id, vector) of every
    * `centroidEvery`-th vector, id-ordered. */
  private def strideCodebook(
      vecs: DataFrame, centroidEvery: Int
  ): (Array[Long], Array[Array[Double]]) = {
    val centRows = vecs.filter(pmod(col("id"), lit(centroidEvery)) === 0)
      .orderBy("id").collect()
    (centRows.map(_.getLong(0)), centRows.map(_.getSeq[Double](1).toArray))
  }

  // ---- training steps (called by train; public for tests and harnesses) ----

  /** Build deterministic per-subspace codebooks from every
    * `centroidEvery`-th vector (by id): subspace j's codebook is the
    * stride sample's j-th slice — engine-replayable, the same contract
    * as the coarse stride codebook. Small by construction (C·d doubles);
    * ships per-executor as a broadcast.
    *
    * PQ compresses what a probed vector COSTS: m small codes instead of
    * d floats (64× at d=64), scored by asymmetric distance computation —
    * the query precomputes a per-subspace lookup table once, then each
    * corpus row costs m array reads. */
  def pqCodebooks(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, centroidEvery: Int, strideOffset: Int = 0
  ): graft.plans.PqCodebooks = {
    val centRows = corpus
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .filter(pmod(col("id"), lit(centroidEvery)) ===
        strideOffset % centroidEvery)
      .orderBy("id").collect()
    require(centRows.nonEmpty, "pqCodebooks: empty centroid sample")
    val d = centRows.head.getSeq[Double](1).length
    require(d % m == 0, s"pqCodebooks: dim $d not divisible by m=$m")
    val dsub = d / m
    val cents = Array.tabulate(m) { j =>
      centRows.map(_.getSeq[Double](1).slice(j * dsub, (j + 1) * dsub).toArray)
    }
    new graft.plans.PqCodebooks(m, dsub, cents)
  }

  /** Encode a corpus to PQ codes: (id, codes array<int>) — ROW-LOCAL, one
    * codegen'd scan, zero joins/shuffles. This is the compressed
    * representation a 100 TB pipeline would persist (m ints per vector). */
  def pqEncode(
      corpus: DataFrame, idCol: String, vecCol: String,
      cb: graft.plans.PqCodebooks
  ): DataFrame = {
    val bc = corpus.sparkSession.sparkContext.broadcast(cb)
    corpus.select(col(idCol).as("id"),
      graft.plans.NativeExpressions.pq_encode_bc(
        asDouble(col(vecCol)), bc).as("codes"))
  }

  /** PQ codebooks TRAINED per subspace: `iters` deterministic Lloyd
    * rounds over the stride init ([[pqCodebooks]], which `iters = 0`
    * returns unchanged). The assignment step IS [[pqEncode]] (a vector's
    * code is its cell per subspace); the update is ONE map-combinable
    * (subspace, code, pos) mean shuffle per round, ≤ C·d rows to the
    * driver. Empty cells keep their previous centroid; means are ROUNDED
    * to [[RoundTo]] so a SQL oracle replays the trained codebooks
    * bit-for-bit at the compared precision. */
  def pqCodebooksTrained(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, centroidEvery: Int, iters: Int, strideOffset: Int = 0
  ): graft.plans.PqCodebooks = {
    var cb = pqCodebooks(corpus, idCol, vecCol, m, centroidEvery,
      strideOffset)
    val vecs = corpus.select(asDouble(col(vecCol)).as("v"))
    for (_ <- 0 until iters) {
      val bc = corpus.sparkSession.sparkContext.broadcast(cb)
      val dsub = cb.dsub
      val means = vecs
        .select(col("v"), posexplode(graft.plans.NativeExpressions
          .pq_encode_bc(col("v"), bc)).as(Seq("j", "c")))
        .select(col("j"), col("c"),
          posexplode(slice(col("v"), col("j") * dsub + 1, lit(dsub)))
            .as(Seq("pos", "x")))
        .groupBy("j", "c", "pos").agg(round(avg("x"), RoundTo).as("mx"))
        .collect() // ≤ m·C·dsub = C·d rows — bounded by configuration
      // the broadcast only serves this round's encode — release it, or
      // a long-lived session leaks one codebook copy per Lloyd round
      bc.destroy()
      val next = Array.tabulate(cb.m)(j => cb.cents(j).map(_.clone()))
      means.groupBy(r => (r.getInt(0), r.getInt(1))).foreach {
        case ((j, c), rs) =>
          val arr = new Array[Double](dsub)
          rs.foreach(r => arr(r.getInt(2)) = r.getDouble(3))
          next(j)(c) = arr
      }
      cb = new graft.plans.PqCodebooks(cb.m, dsub, next)
    }
    cb
  }

  /** The residual codec's training: coarse assignment → row-local
    * residuals → [[pqCodebooksTrained]] over the residuals. The stride
    * init starts at OFFSET 1: under a stride coarse codebook the
    * coarse-centroid rows' residuals are identically zero (their nearest
    * centroid is themselves), so offset 0 would seed every subspace with
    * C copies of the zero vector. */
  private[graft] def residualPqCodebooks(
      corpus: DataFrame, idCol: String, vecCol: String,
      cids: Array[Long], cvs: Array[Array[Double]],
      m: Int, pqCentroidEvery: Int, pqIters: Int
  ): graft.plans.PqCodebooks = {
    val vecs = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val bcCoarse = corpus.sparkSession.sparkContext.broadcast(
      new graft.plans.Codebook(cids, cvs))
    val resid = assignWith(vecs, cids, cvs, 1, RoundTo).select(col("id"),
      graft.plans.NativeExpressions.residual_bc(
        col("v"), element_at(col("__cells"), 1), bcCoarse).as("rv"))
    pqCodebooksTrained(resid, "id", "rv", m, pqCentroidEvery, pqIters,
      strideOffset = 1)
  }

  // ---- int8 scalar quantization ----

  /** Symmetric int8 scalar quantization — the lightweight compression
    * tier next to PQ (4× over float32, 8× over the double pipeline):
    * per-vector scale = max|x|/127, codes = round-half-up(x/scale) in
    * [-127, 127]. Row-local column arithmetic (no UDF, no shuffle);
    * deterministic, so any SQL engine replays codes exactly. Returns
    * (id, scale, codes). Zero vectors get scale 0 and all-zero codes. */
  def quantizeInt8(
      corpus: DataFrame, idCol: String, vecCol: String, roundTo: Int = 6
  ): DataFrame = {
    // single-pass native expression (r11): the HOF formulation
    // (aggregate amax → transform codes → zip_with err) re-evaluated the
    // inner aggregates per element — O(d²) interpreted per row; the
    // native compute is one codegen'd O(d) loop with value-identical
    // output (HALF_UP rounding, sequential err fold, unrounded scale —
    // see NativeExpressions.int8QuantCompute)
    val q = graft.plans.NativeExpressions.int8_quant(asDouble(col(vecCol)))
    corpus.select(col(idCol).as("id"), q.as("__q"))
      .select(col("id"),
        round(col("__q.scale"), roundTo).as("scale"),
        col("__q.codes").as("codes"),
        round(col("__q.err"), roundTo).as("err"))
  }

  /** Reconstruction from int8 codes: x̂ = code · scale. The scale stays
    * unrounded (amax/127, a plain double every engine computes the same),
    * so dequantization replays exactly. */
  def dequantizeInt8(scale: Column, codes: Column): Column =
    transform(codes, c => c.cast("double") * scale)

  // ---- k-means + SemDeDup ----

  /** Lloyd's k-means over the embedding column, fully deterministic and
    * engine-replayable: stride-sampled init (every `centroidEvery`-th
    * vector — the whole codebook when `iters = 0`), cosine assignment
    * (the same rounded row-local argmax as IVF), per-cell means ROUNDED
    * to `roundTo` (so any SQL engine's avg reproduces the next codebook
    * bit-for-bit at the compared precision). Each of the `iters` update
    * rounds is: one row-local assignment scan + one element-wise mean
    * (posexplode → groupBy (cell, pos) — map-side combinable, d rows per
    * vector). Cells that lose all members keep their previous centroid.
    * The codebook lives driver-side between rounds (C·d doubles — the
    * faiss convention); at 100 TB the per-round cost is one scan + one
    * bounded shuffle, and C stays user-capped. Returns (cell ids,
    * centroid vectors). */
  def kmeansCodebook(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroidEvery: Int, iters: Int, roundTo: Int = 6
  ): (Array[Long], Array[Array[Double]]) = {
    val vecs0 = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    if (iters == 0) return strideCodebook(vecs0, centroidEvery)
    // lazy checkpoint (r15): the (id, v) projection re-derived the
    // upstream embedding expressions on EVERY pass — the stride init
    // plus one assignment scan per iteration, so a pipeline corpus
    // (p2/v10: row-local embedding math over text) recomputed its
    // vectors iters+1 times. Checkpointing materializes them once;
    // every subsequent pass reads the stored doubles. Value-identical:
    // same vectors, same partitioning (row-local projection preserves
    // the scan splits), same per-partition fold order.
    val vecs = vecs0.localCheckpoint(false)
    var (cids, cvs) = strideCodebook(vecs, centroidEvery)
    for (_ <- 0 until iters) {
      val assigned = assignWith(vecs, cids, cvs, 1, roundTo)
        .select(col("v"), element_at(col("__cells"), 1).as("cell"))
      val means = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(round(avg("x"), roundTo).as("m"))
        .groupBy("cell").agg(array_sort(collect_list(struct(col("pos"),
          col("m")))).as("pm"))
        .select(col("cell"), transform(col("pm"), e => e.getField("m")).as("mv"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      cvs = cids.zip(cvs).map { case (cid, old) => means.getOrElse(cid, old) }
    }
    (cids, cvs)
  }

  /** SemDeDup: cluster the corpus with [[kmeansCodebook]], then drop
    * near-duplicates WITHIN each cluster — a vector is dropped iff a
    * smaller-id member of its cell has cosine ≥ `threshold` with it
    * (deterministic keep-lowest rule). The pairwise pass runs per cell
    * (shuffle key = cell), so the O(n²) pair space is never materialized —
    * cluster-first is what makes semantic dedup feasible at 100 TB.
    * Returns (id, cell, keep). */
  def semDedup(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroidEvery: Int, iters: Int, threshold: Double,
      roundTo: Int = 6
  ): DataFrame = {
    val vecs = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val (cids, cvs) = kmeansCodebook(corpus, idCol, vecCol, centroidEvery,
      iters, roundTo)
    // lazy checkpoint (r15): `cells` feeds BOTH sides of the within-cell
    // self-join AND the final keep-join — per-branch pushdown gave each
    // its own copy of the assignment scan (3 passes); the checkpoint runs
    // it once and materializes at AQE-sized width. A real pipeline
    // materializes the assignment before the pairwise pass anyway.
    val cells = assignWith(vecs, cids, cvs, 1, roundTo)
      .select(col("id"), col("v"), element_at(col("__cells"), 1).as("cell"))
      .localCheckpoint(false)
    val l = cells.select(col("cell"), col("id").as("id1"), col("v").as("v1"))
    val r = cells.select(col("cell"), col("id").as("id2"), col("v").as("v2"))
    val dropped = l.join(r, Seq("cell"))
      .filter(col("id1") < col("id2"))
      .filter(round(cosine(col("v1"), col("v2")), roundTo) >= threshold)
      .select(col("id2").as("id")).distinct()
    cells.join(dropped.withColumn("__drop", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell"), col("__drop").isNull.as("keep"))
  }

  /** [[semDedup]] with the √n operating point — the scale-honest
    * parametrization. SemDeDup's total cost is assignment O(n·C·d) plus
    * within-cell pairwise O((n²/C)·d); a FIXED stride (C = n/s) keeps
    * pairwise linear but makes assignment quadratic across scale
    * factors (the v3/v5 lesson), while a FIXED C does the reverse
    * (pairwise cell sizes grow linearly → n²/C pairs). C ≈ √n balances
    * both terms at O(n^1.5·d) — the minimizer — and `maxCentroids` caps
    * driver/broadcast state exactly like the [[Sqrt]] coarse sizing
    * (beyond the cap the codebook is constant-size and assignment is
    * linear again). Pass `knownN` when the pipeline already knows the
    * corpus size to skip the extra count scan. */
  def semDedupAuto(
      corpus: DataFrame, idCol: String, vecCol: String,
      iters: Int, threshold: Double, roundTo: Int = 6,
      maxCentroids: Int = MaxCentroids, knownN: Long = -1L
  ): DataFrame = {
    val n = if (knownN >= 0) knownN else corpus.count()
    semDedup(corpus, idCol, vecCol, sqrtEvery(n, maxCentroids), iters,
      threshold, roundTo)
  }

  /** EXACT re-rank of any shortlist producer (the [[AnnIndex]] `rerank`
    * stage). `shortlist` is a (query_id, neighbor_id, …) candidate table
    * bounded by queries × rerank — broadcast-small by contract — so the
    * corpus streams through one broadcast hash join (never shuffles) and
    * is re-scored with exact squared L2 (`‖q‖² + ‖n‖² − 2·q·n`,
    * sequential-fold dots, SQL-replayable), top-k by (dist, id). */
  def refineExact(
      corpus: DataFrame, idCol: String, vecCol: String,
      shortlist: DataFrame, queryPred: Column, k: Int
  ): DataFrame = {
    val vecs = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val cands = broadcast(shortlist.select("query_id", "neighbor_id"))
      .join(vecs.select(col("id").as("neighbor_id"), col("v").as("nv")),
        "neighbor_id")
      .join(broadcast(vecs.filter(queryPred)
        .select(col("id").as("query_id"), col("v").as("qv"))), "query_id")
    val d2 = round(dot(col("qv"), col("qv")) + dot(col("nv"), col("nv")) -
      lit(2.0) * dot(col("qv"), col("nv")), RoundTo)
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("dist"), col("neighbor_id"))
    cands.select(col("query_id"), col("neighbor_id"), d2.as("dist"))
      .withColumn("rn", row_number().over(wTop)).filter(col("rn") <= k)
      .drop("rn")
  }

  /** Deterministic HNSW routing-graph BUILD over a coarse codebook (the
    * faiss `IndexHNSWFlat`-as-coarse-quantizer story). Fully
    * engine-replayable:
    *
    *  - levels: the classic geometric assignment made DETERMINISTIC —
    *    u = (charFold(str(cid)) + 1)/(Mod + 1) ∈ (0, 1],
    *    level = min(⌊−ln(u)/ln(M)⌋, [[HnswMaxLevelCap]]) (the
    *    portable-hash Gumbel/mixture trick; any SQL engine recomputes it);
    *  - adjacency at layer l: among nodes of level ≥ l, each node's
    *    top-M others by (ROUNDED cosine desc, cid asc) — the "naive"
    *    HNSW neighbor rule (no diversity pruning), chosen because a
    *    rank over pairs is exactly replayable relationally;
    *  - entry: the max-level node, tie to the smallest cid.
    *
    * Build cost is O(C²·d) driver-side over the CODEBOOK (configuration
    * scale, not corpus — the same boundedness contract as
    * [[kmeansCodebook]]). Serving walks it row-locally
    * ([[graft.plans.NativeExpressions.hnswAssignCompute]]): corpus rows
    * land in their walk's layer-0 local maximum, queries probe it plus
    * its nearest layer-0 neighbors. */
  def buildHnswGraph(cids: Array[Long], cvs: Array[Array[Double]],
      m: Int): graft.plans.HnswGraph = {
    require(cids.nonEmpty, "buildHnswGraph: empty codebook")
    require(m > 0, s"buildHnswGraph: need m > 0, got $m")
    val n = cids.length
    // -ln(u) / ln(M) as a DIVISION, operation-identical to the SQL
    // oracle's floor(-ln(u) / ln(M)) — a precomputed reciprocal
    // multiply can differ by 1 ulp, which under floor() at an integer
    // boundary would flip a node's level (r15, ADVICE)
    val lnM = math.log(math.max(m, 2).toDouble)
    val levels = cids.map { cid =>
      val h = graft.plans.NativeExpressions.charFoldCompute(
        org.apache.spark.unsafe.types.UTF8String.fromString(cid.toString),
        graft.functions.PortableHash.Mult, graft.functions.PortableHash.Mod)
      val u = (h + 1).toDouble /
        (graft.functions.PortableHash.Mod + 1).toDouble
      math.min(math.floor(-math.log(u) / lnM).toInt, HnswMaxLevelCap)
    }
    val norms = cvs.map(v => math.sqrt(v.map(x => x * x).sum))
    def sim(i: Int, j: Int): Double = {
      val a = cvs(i); val b = cvs(j)
      var dp = 0.0; var k = 0
      while (k < a.length) { dp += a(k) * b(k); k += 1 }
      val denom = norms(i) * norms(j)
      graft.plans.NativeExpressions.roundHalfUp(
        if (denom == 0) 0.0 else dp / denom, RoundTo)
    }
    val maxLevel = levels.max
    val adj = Array.tabulate(HnswMaxLevelCap + 1) { l =>
      val members = (0 until n).filter(levels(_) >= l)
      Array.tabulate(n) { i =>
        if (levels(i) < l) Array.empty[Int]
        else members.filter(_ != i)
          .sortBy(j => (-sim(i, j), cids(j))).take(m).toArray
      }
    }
    val entry = (0 until n).minBy(i => (-levels(i), cids(i)))
    new graft.plans.HnswGraph(cids, cvs, levels, adj, entry, maxLevel)
  }
}
