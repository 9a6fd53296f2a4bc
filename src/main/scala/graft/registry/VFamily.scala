package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.operators.Similarity
import graft.operators.Similarity.{AnnIndex, Cells, Coarse, Every, Exhaustive,
  Pq, ResidualPq, Sq8, Sqrt}
import Support.{annTopK, annTrain, tbl, withTempDir}
import TFamily.sqlCharFold

/** The v family: vector search over the embeddings table through
  * [[graft.operators.Similarity]]'s one ANN index (exact, IVF, PQ, SQ8,
  * HNSW routing, persisted indexes). The DuckDB replays of the index
  * algebra (`sqlDot`, the PQ code chains, `semdedupCteBlock`) live here.
  */
object VFamily {

  /** Row count of the embeddings table from its parquet footers — a
    * metadata read, so an ANN spec's [[Cells]] sizing skips its count job. */
  private def embeddingsN(s: SparkSession, dir: String): Long =
    Similarity.parquetRowCount(s, s"$dir/embeddings.parquet")

  /** v15/v17: IVFADC at C = 10 cells and m = 4, both codebooks trained one
    * Lloyd round; `n` is the corpus size. */
  private def ivfPqTrainedSpec(n: Long): AnnIndex =
    AnnIndex(Coarse(Cells(10, Some(n)), iters = 1),
      Pq(4, math.max(1L, n / 10).toInt, iters = 1))

  /** v19/v19b: every neighbor with cosine ≥ 0.25 in the 2 probed cells of
    * a C = 10 index trained `iters` k-means rounds. */
  private def annRange(s: SparkSession, dir: String, iters: Int): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    Similarity.rangeSearch(emb, "vec_id", "embedding", annTrain(emb,
        AnnIndex(Coarse(Cells(10, Some(embeddingsN(s, dir))), iters))),
        col("id") < 10, simMin = 0.25, nprobe = 2)
      .orderBy(col("query_id"), desc("sim"), col("neighbor_id"))
  }

  /** `ix` after a save → load round trip through a fresh temp directory
    * (loading is eager). */
  private def viaParquet(s: SparkSession, ix: Similarity.Trained,
      prefix: String): Similarity.Trained =
    withTempDir(prefix) { dir =>
      Similarity.save(s, dir, ix)
      Similarity.load(s, dir, ix.spec)
    }

  /** Sequential-fold dot product in DuckDB (bit-identical to
    * Similarity.dot's aggregate fold). */
  private[registry] def sqlDot(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), p -> p[1] * p[2])), (acc, x) -> acc + x)"

  private[registry] def sqlNormSq(a: String): String =
    s"list_reduce(list_prepend(0.0, list_transform($a, x -> x * x)), (acc, x) -> acc + x)"

  /** DuckDB re-derivation of Similarity.hyperplaneBucket: the plane
    * component is pure LCG arithmetic, the dot is a sequential fold —
    * bit-identical doubles, so the sign pattern (bucket id) matches. */
  private def sqlHyperBucket(v: String, nPlanes: Int): String =
    (0 until nPlanes).map { p =>
      val dot = s"""list_reduce(list_prepend(0.0, list_transform(range(len($v)),
         | i -> $v[i+1] * (CAST((($p*64 + 1 + i) * 2654435761) % 2147483647
         |   AS DOUBLE) / 2147483647.0 - 0.5))), (acc, x) -> acc + x)""".stripMargin
      s"(CASE WHEN $dot >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** DuckDB twin of the native per-subspace squared-L2 fold: slice j of
    * both lists (1-based inclusive list_slice), sequential
    * ascending-dimension accumulation — bit-identical doubles to
    * NativeExpressions.pqEncodeCompute/pqLutCompute. */
  private def sqlL2Slice(a: String, b: String, j: Int, dsub: Int): String = {
    val lo = j * dsub + 1
    val hi = (j + 1) * dsub
    s"list_reduce(list_prepend(0.0, list_transform(" +
      s"list_zip(list_slice($a, $lo, $hi), list_slice($b, $lo, $hi)), " +
      s"p -> (p[1] - p[2]) * (p[1] - p[2]))), (acc, x) -> acc + x)"
  }

  /** Per-subspace encode CTEs (code_0..code_{m-1}): each picks the
    * centroid minimizing the subspace distance, ties to the lowest
    * codebook position — the strict-< first-wins of pqEncodeCompute. */
  private def pqCodeCtes(m: Int, dsub: Int): String =
    (0 until m).map { j =>
      s"""code_$j AS (SELECT id, cv AS cv_$j FROM (
         |  SELECT a.id, c.cv, row_number() OVER (PARTITION BY a.id
         |    ORDER BY ${sqlL2Slice("a.v", "c.cv", j, dsub)}, c.cpos) AS rn
         |  FROM vecs a CROSS JOIN cents c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  /** ADC distance: left-assoc sum of per-subspace reconstruction
    * distances, ascending j — the exact grouping of pqAdcByQueryCompute. */
  private def pqAdcSql(m: Int, dsub: Int): String =
    (0 until m).map(j => s"(${sqlL2Slice("q.qv", s"k$j.cv_$j", j, dsub)})")
      .mkString(" + ")

  private def pqCodeJoins(m: Int): String =
    (0 until m).map(j => s"JOIN code_$j k$j ON k$j.id = n.id").mkString(" ")

  /** L2 between subspace j of `a` (sliced) and an ALREADY-SLICED dsub
    * vector `b` — the trained-codebook twin of [[sqlL2Slice]], same
    * sequential zip fold. */
  private def sqlL2SliceVsFull(a: String, b: String, j: Int,
      dsub: Int): String = {
    val lo = j * dsub + 1
    val hi = (j + 1) * dsub
    s"list_reduce(list_prepend(0.0, list_transform(" +
      s"list_zip(list_slice($a, $lo, $hi), $b), " +
      s"p -> (p[1] - p[2]) * (p[1] - p[2]))), (acc, x) -> acc + x)"
  }

  /** One Lloyd round per subspace over the stride init, then re-encode —
    * the pqCodebooksTrained replay: ac_j = stride assignment (ties to
    * lowest cpos, the strict-< first-wins of pqEncodeCompute), mn_j =
    * rounded per-(code, pos) means, tc_j = trained centroids with
    * empty cells keeping the stride slice, code2_j = re-assignment
    * against the trained centroids. */
  private def pqTrainedCodeCtes(m: Int, dsub: Int): String =
    (0 until m).map { j =>
      val lo = j * dsub + 1
      val hi = (j + 1) * dsub
      s"""ac_$j AS (SELECT id, cpos FROM (
         |  SELECT a.id, c.cpos, row_number() OVER (PARTITION BY a.id
         |    ORDER BY ${sqlL2Slice("a.v", "c.cv", j, dsub)}, c.cpos) AS rn
         |  FROM vecs a CROSS JOIN cents c) WHERE rn = 1),
         |mn_$j AS (SELECT cpos, pos, round(avg(x), 6) AS mx FROM (
         |    SELECT ac.cpos, unnest(list_slice(a.v, $lo, $hi)) AS x,
         |      unnest(range(0, $dsub)) AS pos
         |    FROM vecs a JOIN ac_$j ac ON ac.id = a.id) GROUP BY cpos, pos),
         |tc_$j AS (SELECT c.cpos,
         |    coalesce(mm.mv, list_slice(c.cv, $lo, $hi)) AS cvj
         |  FROM cents c LEFT JOIN (SELECT cpos, list(mx ORDER BY pos) AS mv
         |    FROM mn_$j GROUP BY cpos) mm ON mm.cpos = c.cpos),
         |code2_$j AS (SELECT id, cvj AS cv_$j FROM (
         |  SELECT a.id, t.cvj, row_number() OVER (PARTITION BY a.id
         |    ORDER BY ${sqlL2SliceVsFull("a.v", "t.cvj", j, dsub)}, t.cpos)
         |      AS rn
         |  FROM vecs a CROSS JOIN tc_$j t) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  private def pqTrainedAdcSql(m: Int, dsub: Int): String =
    (0 until m).map(j =>
      s"(${sqlL2SliceVsFull("q.qv", s"k$j.cv_$j", j, dsub)})").mkString(" + ")

  private def pqTrainedCodeJoins(m: Int): String =
    (0 until m).map(j => s"JOIN code2_$j k$j ON k$j.id = n.id").mkString(" ")

  /** Shared CTE chain replaying `Similarity.semDedup(centroidEvery=50,
    * iters=1, threshold=0.95)` over embeddings + planted copies (id+10000):
    * ends with `cell1(id, v, cell)` and `dropped(id)`. Used by the v10
    * oracle and composed into the p2 pipeline oracle. */
  /** Shared DuckDB replay of the semDedup k-means cascade. `strideSql`
    * is the centroid-stride expression: v10 pins the historical literal
    * 50; p2 derives the √n operating point from the corpus count (the
    * same GREATEST(1, round(sqrt(n)), n // cap) rule as semDedupAuto /
    * the Sqrt ANN sizing on the Spark side). */
  private[registry] def semdedupCteBlock(strideSql: String = "50"): String =
    s"""base AS (SELECT vec_id AS id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000, list_transform(embedding, x -> CAST(x AS DOUBLE))
       |  FROM embeddings),
       |cents0 AS (SELECT id AS cid, v AS cv FROM base
       |  WHERE id % ($strideSql) = 0),
       |a0 AS (SELECT id, v, cid,
       |  round(${sqlDot("v", "cv")} /
       |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
       |  FROM base CROSS JOIN cents0),
       |cell0 AS (SELECT id, v, cid AS cell FROM (
       |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
       |    ORDER BY csim DESC, cid) AS rn FROM a0) WHERE rn = 1),
       |m0 AS (SELECT cell, pos, round(avg(x), 6) AS m FROM (
       |    SELECT cell, unnest(v) AS x, unnest(range(0, len(v))) AS pos
       |    FROM cell0) GROUP BY cell, pos),
       |p0 AS (SELECT cell, list(m ORDER BY pos) AS mv FROM m0 GROUP BY cell),
       |cents1 AS (SELECT cid, coalesce(p0.mv, cv) AS cv
       |  FROM cents0 LEFT JOIN p0 ON p0.cell = cents0.cid),
       |a1 AS (SELECT id, v, cid,
       |  round(${sqlDot("v", "cv")} /
       |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
       |  FROM base CROSS JOIN cents1),
       |cell1 AS (SELECT id, v, cid AS cell FROM (
       |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
       |    ORDER BY csim DESC, cid) AS rn FROM a1) WHERE rn = 1),
       |dropped AS (SELECT DISTINCT r.id FROM cell1 l JOIN cell1 r
       |  ON l.cell = r.cell AND l.id < r.id
       |  WHERE round(${sqlDot("l.v", "r.v")} /
       |    (sqrt(${sqlNormSq("l.v")}) * sqrt(${sqlNormSq("r.v")})), 6) >= 0.95)""".stripMargin

  /** trained-everything IVFADC replay (v13 coarse-training block +
    * v14 per-subspace PQ training + the v9 serving shape) — shared by
    * v15 (train→serve) and v17 (persist→load→serve: parquet
    * round-trips the trained doubles bit-exactly, so the serve chain
    * replays identically). */
  private lazy val ivfPqTrainedOracleSql: String =
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM vecs),
         |cents AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cpos, v AS cv
         |  FROM vecs WHERE id % (SELECT s FROM stride) = 0),
         |cents0 AS (SELECT id AS cid, v AS cv FROM vecs
         |  WHERE id % (SELECT s FROM stride) = 0),
         |a0 AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents0),
         |cell0 AS (SELECT id, v, cid AS cell FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM a0) WHERE rn = 1),
         |m0 AS (SELECT cell, pos, round(avg(x), 6) AS m FROM (
         |    SELECT cell, unnest(v) AS x, unnest(range(0, len(v))) AS pos
         |    FROM cell0) GROUP BY cell, pos),
         |p0 AS (SELECT cell, list(m ORDER BY pos) AS mv FROM m0 GROUP BY cell),
         |cents1 AS (SELECT cid, coalesce(p0.mv, cv) AS cv
         |  FROM cents0 LEFT JOIN p0 ON p0.cell = cents0.cid),
         |${pqTrainedCodeCtes(4, 16)},
         |a1 AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents1),
         |rk1 AS (SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM a1),
         |corp AS (SELECT id, cid AS cell FROM rk1 WHERE rn = 1),
         |qp AS (SELECT id AS query_id, v AS qv, cid AS cell FROM rk1
         |  WHERE rn <= 2 AND id < 10),
         |scored AS (SELECT q.query_id, n.id AS neighbor_id,
         |  round(${pqTrainedAdcSql(4, 16)}, 6) AS adist
         |  FROM qp q JOIN corp n ON n.cell = q.cell
         |  ${pqTrainedCodeJoins(4)}
         |  WHERE q.query_id <> n.id),
         |rk AS (SELECT query_id, neighbor_id, adist, row_number() OVER (
         |  PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, adist FROM rk WHERE rn <= 3
         |ORDER BY query_id, adist, neighbor_id""".stripMargin

  // v22 tuning constants — ONE definition feeds BOTH the Spark query
  // and the SQL oracle generator ([[sqlHnswOracle]]), so retuning the
  // query cannot silently desynchronize the oracle (r15, ADVICE: the
  // r14 oracle hardcoded m/cap/nprobe/ln(4.0) as literals)
  private val V22Cells = 40

  private val V22M = 4

  private val V22Cap = Similarity.HnswMaxLevelCap

  private val V22NProbe = 2

  private val V22K = 3

  private val v22Spec = AnnIndex(Coarse(Cells(V22Cells), hnsw = Some(V22M)))

  /** DuckDB replay of the v22 HNSW-routed [[Similarity.search]],
    * GENERATED from the tuning constants the Spark query passes
    * (cells/m/cap/nprobe/k — r15, ADVICE: the r14 oracle spelled them
    * as literals, so retuning the query could silently desynchronize
    * it). `rkd` ranks every (point, layer, node)'s graph neighbors by
    * (sim-to-point DESC, cid ASC) ONCE: rank 1 at the current layer is
    * the walk transition; layer-0 ranks ≤ nprobe−1 are the extra
    * probes beside the walk's local maximum. */
  private def sqlHnswOracle(cells: Int, m: Int, cap: Int, nprobe: Int,
      k: Int, roundTo: Int = 6): String = {
    val lnBase = s"ln(${math.max(m, 2)}.0)"
    s"""WITH RECURSIVE vecs AS (SELECT vec_id AS id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |stride AS (SELECT GREATEST(1, count(*) // $cells) AS s FROM vecs),
       |nodes AS MATERIALIZED (SELECT id AS cid, v AS cv,
       |    LEAST(CAST(floor(-ln((${sqlCharFold("CAST(id AS VARCHAR)")}
       |        + 1) / 2147483648.0) / $lnBase) AS INT), $cap) AS lvl
       |  FROM vecs WHERE id % (SELECT s FROM stride) = 0),
       |entry AS MATERIALIZED (SELECT cid FROM nodes
       |  ORDER BY lvl DESC, cid LIMIT 1),
       |npairs AS MATERIALIZED (SELECT a.cid AS i, b.cid AS j,
       |    a.lvl AS li, b.lvl AS lj,
       |    round(${sqlDot("a.cv", "b.cv")} /
       |      (sqrt(${sqlNormSq("a.cv")}) * sqrt(${sqlNormSq("b.cv")})),
       |      $roundTo) AS sim
       |  FROM nodes a JOIN nodes b ON a.cid <> b.cid),
       |adj AS MATERIALIZED (SELECT l, i, j FROM (
       |    SELECT ls.l, p.i, p.j, row_number() OVER (
       |      PARTITION BY ls.l, p.i ORDER BY p.sim DESC, p.j) AS rn
       |    FROM (SELECT unnest(range(0, ${cap + 1})) AS l) ls
       |    JOIN npairs p ON p.li >= ls.l AND p.lj >= ls.l)
       |  WHERE rn <= $m),
       |psim AS MATERIALIZED (SELECT p.id AS pid, n.cid,
       |    round(${sqlDot("p.v", "n.cv")} /
       |      (sqrt(${sqlNormSq("p.v")}) * sqrt(${sqlNormSq("n.cv")})),
       |      $roundTo) AS sim
       |  FROM vecs p CROSS JOIN nodes n),
       |rkd AS MATERIALIZED (SELECT ps.pid, a.l, a.i AS cur, a.j,
       |    ps.sim,
       |    row_number() OVER (PARTITION BY ps.pid, a.l, a.i
       |      ORDER BY ps.sim DESC, a.j) AS rn
       |  FROM adj a JOIN psim ps ON ps.cid = a.j),
       |trans AS MATERIALIZED (SELECT pid, l, cur, j AS best,
       |    sim AS bsim
       |  FROM rkd WHERE rn = 1),
       |walk AS (
       |  SELECT ps.pid, $cap AS layer, e.cid AS cur, ps.sim AS csim
       |  FROM entry e JOIN psim ps ON ps.cid = e.cid
       |  UNION ALL
       |  SELECT w.pid,
       |    CASE WHEN coalesce(t.bsim, -2.0) > w.csim THEN w.layer
       |      ELSE w.layer - 1 END,
       |    CASE WHEN coalesce(t.bsim, -2.0) > w.csim THEN t.best
       |      ELSE w.cur END,
       |    CASE WHEN coalesce(t.bsim, -2.0) > w.csim THEN t.bsim
       |      ELSE w.csim END
       |  FROM walk w
       |  LEFT JOIN trans t ON t.pid = w.pid AND t.l = w.layer
       |    AND t.cur = w.cur
       |  WHERE w.layer > 0 OR coalesce(t.bsim, -2.0) > w.csim),
       |fin AS MATERIALIZED (SELECT w.pid, w.cur FROM walk w
       |  LEFT JOIN trans t ON t.pid = w.pid AND t.l = 0
       |    AND t.cur = w.cur
       |  WHERE w.layer = 0 AND coalesce(t.bsim, -2.0) <= w.csim),
       |corp AS (SELECT f.pid AS id, v.v, f.cur AS cell
       |  FROM fin f JOIN vecs v ON v.id = f.pid),
       |qp AS (SELECT f.pid AS query_id, v.v AS qv, pr.cell
       |  FROM fin f JOIN vecs v ON v.id = f.pid,
       |  LATERAL (SELECT f.cur AS cell
       |           UNION ALL
       |           SELECT r0.j FROM rkd r0
       |           WHERE r0.pid = f.pid AND r0.l = 0 AND r0.cur = f.cur
       |             AND r0.rn <= ${nprobe - 1}) pr
       |  WHERE f.pid < 10),
       |scored AS (SELECT query_id, c.id AS neighbor_id,
       |  round(${sqlDot("qv", "c.v")} /
       |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("c.v")})),
       |    $roundTo) AS sim
       |  FROM qp JOIN corp c USING (cell) WHERE query_id <> c.id),
       |rk AS (SELECT query_id, neighbor_id, sim, row_number() OVER (
       |  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
       |  FROM scored)
       |SELECT query_id, neighbor_id, sim FROM rk WHERE rn <= $k
       |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    // brute-force cosine top-5 neighbors for 10 query vectors
    Entry("v1_cosine_topk", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.topKNeighbors(
          emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", 5)
        .orderBy(col("query_id"), desc("sim"), col("neighbor_id"))
    },
      s"""WITH q AS (SELECT vec_id AS query_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
         |  FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
         |  FROM embeddings),
         |scored AS (SELECT query_id, neighbor_id,
         |  round(${sqlDot("qv", "cv")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("cv")})), 6) AS sim
         |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
         |rk AS (SELECT query_id, neighbor_id, sim,
         |  row_number() OVER (PARTITION BY query_id
         |                     ORDER BY sim DESC, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, sim FROM rk WHERE rn <= 5
         |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin),

    // k-NN majority-label classification via top-10 neighbors
    Entry("v2_knn_label", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val topk = Similarity.topKNeighbors(
        emb.filter(col("vec_id") < 50), emb, "vec_id", "embedding", 10)
      val votes = topk
        .join(emb.select(col("vec_id").as("neighbor_id"), col("label")), "neighbor_id")
        .groupBy("query_id", "label").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("query_id").orderBy(desc("c"), col("label"))
      votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("query_id"), col("label").as("pred_label"))
        .orderBy("query_id")
    },
      s"""WITH q AS (SELECT vec_id AS query_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
         |  FROM embeddings WHERE vec_id < 50),
         |c AS (SELECT vec_id AS neighbor_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv, label
         |  FROM embeddings),
         |scored AS (SELECT query_id, neighbor_id, label,
         |  round(${sqlDot("qv", "cv")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("cv")})), 6) AS sim
         |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
         |rk AS (SELECT query_id, neighbor_id, label,
         |  row_number() OVER (PARTITION BY query_id
         |                     ORDER BY sim DESC, neighbor_id) AS rn
         |  FROM scored),
         |votes AS (SELECT query_id, label, count(*) AS cnt FROM rk
         |  WHERE rn <= 10 GROUP BY query_id, label),
         |best AS (SELECT query_id, label,
         |  row_number() OVER (PARTITION BY query_id
         |                     ORDER BY cnt DESC, label) AS rn
         |  FROM votes)
         |SELECT query_id, label AS pred_label FROM best WHERE rn = 1
         |ORDER BY query_id""".stripMargin),

    // IVF-style ANN at a CONSTANT codebook size (C ≈ 10 cells at every
    // SF — stride n/10 reproduces the historical stride-50 cells at
    // sf0.01's 500 vectors): assignment is O(C·n), linear across scale
    // factors. The r8 fixed-STRIDE form grew its codebook with the
    // corpus (C = n/50), which BENCH_sf1.json measured at 13.6× for 10×
    // data — quadratic by construction.
    // knownN from parquet footers (metadata-only, O(files)) — sizing
    // pays no full count() scan before assignment (r9 verdict
    // What's-wrong #2)
    Entry("v3_ivf_topk", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      annTopK(emb, annTrain(emb,
          AnnIndex(Coarse(Cells(10, Some(embeddingsN(s, dir)))))))
        .orderBy(col("query_id"), desc("sim"), col("neighbor_id"))
    },
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM vecs),
         |cents AS (SELECT id AS cid, v AS cv FROM vecs
         |  WHERE id % (SELECT s FROM stride) = 0),
         |assign AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents),
         |cells AS (SELECT id, v, cid AS cell FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM assign) WHERE rn = 1),
         |q AS (SELECT id AS query_id, v AS qv, cell FROM cells WHERE id < 10),
         |scored AS (SELECT query_id, c.id AS neighbor_id,
         |  round(${sqlDot("qv", "c.v")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("c.v")})), 6) AS sim
         |  FROM q JOIN cells c USING (cell) WHERE query_id <> c.id),
         |rk AS (SELECT query_id, neighbor_id, sim, row_number() OVER (
         |  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, sim FROM rk WHERE rn <= 3
         |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin),

    // IVF at the operating point: codebook sized C ~ sqrt(n) from a
    // cheap count (capped — a bound codebook is the extreme-scale norm
    // and keeps assignment linear in n). The fixed-centroidEvery v3/v5
    // forms scale their codebook with the corpus, which is quadratic
    // across SFs — BENCH_sf1.json measures the difference.
    Entry("v7_ivf_auto", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      annTopK(emb, annTrain(emb, AnnIndex(Coarse(Sqrt))))
        .orderBy(col("query_id"), desc("sim"), col("neighbor_id"))
    },
      // same algebra as v3 but the centroid stride is computed from the
      // corpus size (C ~ sqrt(n)), mirroring the Sqrt sizing's every =
      // max(1, round(sqrt(n)), n/4096)
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1,
         |    CAST(round(sqrt(count(*))) AS BIGINT),
         |    count(*) // 4096) AS s FROM vecs),
         |cents AS (SELECT id AS cid, v AS cv FROM vecs
         |  WHERE id % (SELECT s FROM stride) = 0),
         |assign AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents),
         |cells AS (SELECT id, v, cid AS cell FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM assign) WHERE rn = 1),
         |q AS (SELECT id AS query_id, v AS qv, cell FROM cells WHERE id < 10),
         |scored AS (SELECT query_id, c.id AS neighbor_id,
         |  round(${sqlDot("qv", "c.v")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("c.v")})), 6) AS sim
         |  FROM q JOIN cells c USING (cell) WHERE query_id <> c.id),
         |rk AS (SELECT query_id, neighbor_id, sim, row_number() OVER (
         |  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, sim FROM rk WHERE rn <= 3
         |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin),

    // label centroids: element-wise mean of embeddings per label
    // (the k-means/IVF training step as a relational aggregation)
    Entry("v4_label_centroids", (s, dir) =>
      tbl(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg(round(avg(col("x").cast(DoubleType)), 6).as("c"))
        .orderBy("label", "pos"),
      """SELECT label, CAST(i AS INTEGER) AS pos,
        |  round(avg(CAST(embedding[i + 1] AS DOUBLE)), 6) AS c
        |FROM embeddings, range(64) r(i)
        |GROUP BY label, i ORDER BY label, pos""".stripMargin),

    // IVF with multi-cell probing (nprobe=2): recall/latency trade dial,
    // on the same constant-C codebook as v3 (linear assignment)
    Entry("v5_ivf_nprobe2", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      annTopK(emb, annTrain(emb,
          AnnIndex(Coarse(Cells(10, Some(embeddingsN(s, dir)))))), nprobe = 2)
        .orderBy(col("query_id"), desc("sim"), col("neighbor_id"))
    },
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM vecs),
         |cents AS (SELECT id AS cid, v AS cv FROM vecs
         |  WHERE id % (SELECT s FROM stride) = 0),
         |assign AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents),
         |ranked AS (SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM assign),
         |cells AS (SELECT id, v, cid AS cell FROM ranked WHERE rn = 1),
         |q AS (SELECT id AS query_id, v AS qv, cid AS cell FROM ranked
         |  WHERE rn <= 2 AND id < 10),
         |scored AS (SELECT query_id, c.id AS neighbor_id,
         |  round(${sqlDot("qv", "c.v")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("c.v")})), 6) AS sim
         |  FROM q JOIN cells c USING (cell) WHERE query_id <> c.id),
         |rk AS (SELECT query_id, neighbor_id, sim, row_number() OVER (
         |  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, sim FROM rk WHERE rn <= 3
         |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin),

    // embedding-cosine near-dup via hyperplane LSH buckets: candidate pairs
    // share a sign-pattern bucket, exact cosine verifies. Planted exact
    // copies (vec_id+10000) guarantee hits; naturals come along free.
    Entry("v6_embed_neardup", (s, dir) => {
      val emb = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val copies = emb.select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
      graft.operators.Similarity.nearDuplicatesLsh(
          emb.unionByName(copies), "vec_id", "embedding",
          nPlanes = 8, threshold = 0.9)
        .orderBy("id1", "id2")
    },
      s"""WITH base AS (
         |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000, list_transform(embedding, x -> CAST(x AS DOUBLE))
         |  FROM embeddings),
         |b AS (SELECT id, v, ${sqlHyperBucket("v", 8)} AS bucket FROM base)
         |SELECT DISTINCT l.id AS id1, r.id AS id2,
         |  round(${sqlDot("l.v", "r.v")} /
         |    (sqrt(${sqlNormSq("l.v")}) * sqrt(${sqlNormSq("r.v")})), 6) AS sim
         |FROM b l JOIN b r ON l.bucket = r.bucket AND l.id < r.id
         |WHERE round(${sqlDot("l.v", "r.v")} /
         |    (sqrt(${sqlNormSq("l.v")}) * sqrt(${sqlNormSq("r.v")})), 6) >= 0.9
         |ORDER BY id1, id2""".stripMargin),

    // Exhaustive ADC scan: corpus compressed to m=4 codes/row (row-local
    // codegen'd encode, zero shuffles), queries carry a precomputed LUT —
    // per-(query,row) cost is 4 array reads, not 64 flops. The
    // 100 TB story: the code table is 64x smaller than the raw corpus.
    Entry("v8_pq_topk", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      // CONSTANT-size PQ codebook (10 centroids/subspace at every SF —
      // stride n/10 reproduces the historical stride-50 codebook at
      // sf0.01's 500 vectors): a fixed STRIDE grows centroids with the
      // corpus, which blows the uint8 code space past 256 and makes
      // encode cost quadratic across scale factors
      val every = math.max(1L, emb.count() / 10).toInt
      annTopK(emb, annTrain(emb, AnnIndex(Coarse(Exhaustive), Pq(4, every))))
        .orderBy(col("query_id"), col("adist"), col("neighbor_id"))
    },
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM vecs),
         |cents AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cpos, v AS cv
         |  FROM vecs WHERE id % (SELECT s FROM stride) = 0),
         |${pqCodeCtes(4, 16)},
         |q AS (SELECT id AS query_id, v AS qv FROM vecs WHERE id < 10),
         |scored AS (SELECT q.query_id, n.id AS neighbor_id,
         |  round(${pqAdcSql(4, 16)}, 6) AS adist
         |  FROM q CROSS JOIN vecs n ${pqCodeJoins(4)}
         |  WHERE q.query_id <> n.id),
         |rk AS (SELECT query_id, neighbor_id, adist, row_number() OVER (
         |  PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, adist FROM rk WHERE rn <= 3
         |ORDER BY query_id, adist, neighbor_id""".stripMargin),

    // PQ with TRAINED subspace codebooks (closes the stride ceiling for
    // the PQ family the way v13 closed it for IVF): one deterministic
    // Lloyd round per subspace over the v8 stride init — assignment IS
    // pqEncode (row-local, broadcast codebooks), the update is ONE
    // map-combinable (subspace, code, pos) mean shuffle with ≤ C·d
    // driver rows; the serving plan (encode + broadcast-LUT ADC) is
    // byte-identical to v8's, only the codebook VALUES differ. DuckDB
    // replays the per-subspace assignment, the rounded means (empty
    // cells keep the stride centroid), the re-encode and the ADC.
    Entry("v14_pq_trained", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val every = math.max(1L, emb.count() / 10).toInt
      annTopK(emb, annTrain(emb,
          AnnIndex(Coarse(Exhaustive), Pq(4, every, iters = 1))))
        .orderBy(col("query_id"), col("adist"), col("neighbor_id"))
    },
      // the v8 chain with one Lloyd training round per subspace spliced in
      // (pqCodebooksTrained replay) — assignment, rounded means,
      // empty-cell fallback, re-encode, ADC over the TRAINED centroids
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM vecs),
         |cents AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cpos, v AS cv
         |  FROM vecs WHERE id % (SELECT s FROM stride) = 0),
         |${pqTrainedCodeCtes(4, 16)},
         |q AS (SELECT id AS query_id, v AS qv FROM vecs WHERE id < 10),
         |scored AS (SELECT q.query_id, n.id AS neighbor_id,
         |  round(${pqTrainedAdcSql(4, 16)}, 6) AS adist
         |  FROM q CROSS JOIN vecs n ${pqTrainedCodeJoins(4)}
         |  WHERE q.query_id <> n.id),
         |rk AS (SELECT query_id, neighbor_id, adist, row_number() OVER (
         |  PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, adist FROM rk WHERE rn <= 3
         |ORDER BY query_id, adist, neighbor_id""".stripMargin),

    // IVF-PQ (faiss IVFADC): coarse cells prune (nprobe=2), ADC ranks the
    // survivors from codes only — raw vectors are read exactly once.
    // Both codebooks constant-size (stride n/10, see v8).
    Entry("v9_ivfpq_topk", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val every = math.max(1L, emb.count() / 10).toInt
      annTopK(emb, annTrain(emb, AnnIndex(Coarse(Every(every)), Pq(4, every))),
          nprobe = 2)
        .orderBy(col("query_id"), col("adist"), col("neighbor_id"))
    },
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM vecs),
         |ccents AS (SELECT id AS ccid, v AS ccv FROM vecs
         |  WHERE id % (SELECT s FROM stride) = 0),
         |cassign AS (SELECT id, v, ccid,
         |  round(${sqlDot("v", "ccv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("ccv")})), 6) AS csim
         |  FROM vecs CROSS JOIN ccents),
         |cranked AS (SELECT id, v, ccid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, ccid) AS crn FROM cassign),
         |cells AS (SELECT id, v, ccid AS cell FROM cranked WHERE crn = 1),
         |probes AS (SELECT id, ccid AS cell FROM cranked WHERE crn <= 2),
         |cents AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cpos, v AS cv
         |  FROM vecs WHERE id % (SELECT s FROM stride) = 0),
         |${pqCodeCtes(4, 16)},
         |q AS (SELECT p.id AS query_id, v.v AS qv, p.cell
         |  FROM probes p JOIN vecs v ON v.id = p.id WHERE p.id < 10),
         |scored AS (SELECT q.query_id, n.id AS neighbor_id,
         |  round(${pqAdcSql(4, 16)}, 6) AS adist
         |  FROM q JOIN cells cl ON cl.cell = q.cell
         |  JOIN vecs n ON n.id = cl.id ${pqCodeJoins(4)}
         |  WHERE q.query_id <> n.id),
         |rk AS (SELECT query_id, neighbor_id, adist, row_number() OVER (
         |  PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, adist FROM rk WHERE rn <= 3
         |ORDER BY query_id, adist, neighbor_id""".stripMargin),

    // SemDeDup: deterministic k-means (1 Lloyd round, stride init, means
    // rounded so SQL replays the codebook), then near-dup pruning WITHIN
    // cells only — planted exact copies (id+10000) must be dropped.
    Entry("v10_semdedup", (s, dir) => {
      val emb = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val copies = emb.select((col("vec_id") + 10000).as("vec_id"),
        col("embedding"))
      graft.operators.Similarity.semDedup(emb.unionByName(copies),
          "vec_id", "embedding", centroidEvery = 50, iters = 1,
          threshold = 0.95)
        .orderBy("id")
    },
      // k-means replay: stride init → cosine assignment (round 6, tie cid)
      // → per-(cell,pos) rounded means → re-pack (empty cells keep the old
      // centroid) → final assignment → within-cell near-dup pairs
      s"""WITH ${semdedupCteBlock()}
         |SELECT c.id, c.cell, d.id IS NULL AS keep
         |FROM cell1 c LEFT JOIN dropped d ON d.id = c.id
         |ORDER BY c.id""".stripMargin),

    // int8 scalar quantization: per-vector symmetric scale, row-local —
    // the 4x compression tier next to PQ; codes emitted as CSV so the
    // compare is engine-neutral
    Entry("v11_int8_quant", (s, dir) =>
      graft.operators.Similarity.quantizeInt8(
          tbl(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("id"), col("scale"),
          array_join(transform(col("codes"), c => c.cast("string")), ",")
            .as("codes_csv"),
          col("err"))
        .orderBy("id"),
      """WITH vecs AS (SELECT vec_id AS id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |sc AS (SELECT id, v,
        |    list_reduce(list_prepend(0.0, list_transform(v, x -> abs(x))),
        |      (a, x) -> greatest(a, x)) AS amax
        |  FROM vecs),
        |q AS (SELECT id, v,
        |    CASE WHEN amax > 0 THEN amax / 127.0 ELSE 0.0 END AS s,
        |    CASE WHEN amax > 0 THEN list_transform(v,
        |        x -> CAST(round(x / (amax / 127.0), 0) AS INT))
        |      ELSE list_transform(v, x -> 0) END AS codes
        |  FROM sc)
        |SELECT id, round(s, 6) AS scale,
        |  array_to_string(list_transform(codes, c -> CAST(c AS VARCHAR)), ',')
        |    AS codes_csv,
        |  round(sqrt(list_reduce(list_prepend(0.0,
        |    list_transform(list_zip(v, codes),
        |      p -> (p[1] - CAST(p[2] AS DOUBLE) * s) *
        |           (p[1] - CAST(p[2] AS DOUBLE) * s))),
        |    (a, x) -> a + x) / greatest(len(v), 1)), 6) AS err
        |FROM q ORDER BY id""".stripMargin),

    // ANN operating-point evaluation: recall@3 of the IVF candidates
    // against the exact brute-force top-3, per query
    Entry("v12_ann_recall", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val exact = graft.operators.Similarity.topKNeighbors(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 3)
      val approx = annTopK(emb, annTrain(emb, AnnIndex(Coarse(Every(50)))))
      graft.operators.Similarity.annRecall(exact, approx)
        .orderBy("query_id")
    },
      // exact top-3 (v1 algebra at k=3) vs IVF top-3 (v3 algebra), joined
      // per query for recall@3
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |eq AS (SELECT id AS query_id, v AS qv FROM vecs WHERE id < 10),
         |esc AS (SELECT query_id, n.id AS neighbor_id,
         |  round(${sqlDot("qv", "n.v")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("n.v")})), 6) AS sim
         |  FROM eq CROSS JOIN vecs n WHERE query_id <> n.id),
         |erk AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
         |  FROM esc) WHERE rn <= 3),
         |cents AS (SELECT id AS cid, v AS cv FROM vecs WHERE id % 50 = 0),
         |assign AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents),
         |cells AS (SELECT id, v, cid AS cell FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM assign) WHERE rn = 1),
         |aq AS (SELECT id AS query_id, v AS qv, cell FROM cells WHERE id < 10),
         |asc0 AS (SELECT query_id, c.id AS neighbor_id,
         |  round(${sqlDot("qv", "c.v")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("c.v")})), 6) AS sim
         |  FROM aq JOIN cells c USING (cell) WHERE query_id <> c.id),
         |ark AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
         |  FROM asc0) WHERE rn <= 3)
         |SELECT e.query_id,
         |  round(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1.0
         |    ELSE 0.0 END) / count(*), 6) AS recall
         |FROM erk e LEFT JOIN ark a
         |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin),

    // IVF with a TRAINED coarse codebook (closes the r10 operating-point
    // artifact's caveat: the stride codebook was the measured recall
    // CEILING of the fixed-C family). Same constant C = 10 and nprobe=2
    // as v5, one deterministic Lloyd round over the stride init — the
    // serving plan (assignment + cell join) is identical to v3/v5, only
    // the codebook VALUES differ. knownN from parquet footers.
    Entry("v13_ivf_trained", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      annTopK(emb, annTrain(emb, AnnIndex(
          Coarse(Cells(10, Some(embeddingsN(s, dir))), iters = 1))), nprobe = 2)
        .orderBy(col("query_id"), desc("sim"), col("neighbor_id"))
    },
      // v3's serving algebra over a TRAINED codebook: one k-means round
      // (stride init n/10 → rounded per-cell means, the v10 replay), then
      // the identical assign/probe/top-k chain at nprobe=2. Queries probe
      // their top-2 cells (rn <= 2); corpus rows live in their top-1.
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |cents0 AS (SELECT id AS cid, v AS cv FROM vecs
         |  WHERE id % (SELECT GREATEST(1, count(*) // 10) FROM vecs) = 0),
         |a0 AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents0),
         |cell0 AS (SELECT id, v, cid AS cell FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM a0) WHERE rn = 1),
         |m0 AS (SELECT cell, pos, round(avg(x), 6) AS m FROM (
         |    SELECT cell, unnest(v) AS x, unnest(range(0, len(v))) AS pos
         |    FROM cell0) GROUP BY cell, pos),
         |p0 AS (SELECT cell, list(m ORDER BY pos) AS mv FROM m0 GROUP BY cell),
         |cents1 AS (SELECT cid, coalesce(p0.mv, cv) AS cv
         |  FROM cents0 LEFT JOIN p0 ON p0.cell = cents0.cid),
         |a1 AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents1),
         |rk1 AS (SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM a1),
         |corp AS (SELECT id, v, cid AS cell FROM rk1 WHERE rn = 1),
         |qp AS (SELECT id AS query_id, v AS qv, cid AS cell FROM rk1
         |  WHERE rn <= 2 AND id < 10),
         |scored AS (SELECT query_id, c.id AS neighbor_id,
         |  round(${sqlDot("qv", "c.v")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("c.v")})), 6) AS sim
         |  FROM qp JOIN corp c USING (cell) WHERE query_id <> c.id),
         |rk AS (SELECT query_id, neighbor_id, sim, row_number() OVER (
         |  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, sim FROM rk WHERE rn <= 3
         |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin),

    // IVFADC with BOTH codebooks TRAINED (closes the v13/v14 loop: r11
    // proved trained coarse and trained PQ each lift recall at equal
    // serve cost; this composes them into the fully-faiss-shaped
    // index). One Lloyd round each at the v9 operating point (C=10 both
    // codebooks, m=4, nprobe=2); the serving plan is byte-identical to
    // v9's (plan-pinned), only codebook values differ. DuckDB replays
    // coarse k-means (v13 block), per-subspace PQ training (v14 block),
    // the trained-cell probe, and the ADC ranking end-to-end.
    Entry("v15_ivfpq_trained", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      annTopK(emb, annTrain(emb, ivfPqTrainedSpec(embeddingsN(s, dir))),
          nprobe = 2)
        .orderBy(col("query_id"), col("adist"), col("neighbor_id"))
    },
      // trained-everything IVFADC: the v13 coarse-training block (stride
      // init → one rounded-mean Lloyd round, empty cells keep the old
      // centroid) + the v14 per-subspace PQ-training block
      // (pqTrainedCodeCtes), then the v9 serving shape — corpus vectors
      // live in their nearest TRAINED cell, queries probe their 2 nearest,
      // candidates rank by ADC against the TRAINED subspace codebooks
      ivfPqTrainedOracleSql),

    // PERSISTED IVFADC index (the faiss write_index/read_index
    // workflow): train BOTH codebooks exactly as v15, save them as
    // parquet, reload, and serve through the same search pipeline.
    // Parquet round-trips doubles bit-exactly,
    // so load→serve ≡ train→serve — proven cross-engine by sharing
    // v15's training-replay oracle. At 100 TB this is THE serving
    // shape: codebooks train once on a sample and persist; every query
    // batch serves from the artifact.
    Entry("v17_index_persist", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val ix = annTrain(emb, ivfPqTrainedSpec(embeddingsN(s, dir)))
      annTopK(emb, viaParquet(s, ix, "graft_idx"), nprobe = 2)
        .orderBy(col("query_id"), col("adist"), col("neighbor_id"))
    },
      // the persisted index round-trips the TRAINED codebooks bit-exactly
      // (doubles through parquet), so load→serve replays as the identical
      // training chain — the v15 oracle IS v17's oracle
      ivfPqTrainedOracleSql),

    // IVFADC shortlist → EXACT re-rank (the faiss IndexRefineFlat
    // pattern): the compressed index retrieves 10 candidates/query, one
    // broadcast join re-scores ONLY those against the raw vectors with
    // exact squared L2, the final top-3 ranks by the exact distance —
    // recall-critical serving at per-query cost `rerank`, not corpus.
    Entry("v18_ivfpq_refined", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val every = math.max(1L, emb.count() / 10).toInt
      annTopK(emb, annTrain(emb,
          AnnIndex(Coarse(Every(every)), Pq(4, every), rerank = 10)),
          nprobe = 2)
        .orderBy(col("query_id"), col("dist"), col("neighbor_id"))
    },
      // the v9 IVFADC replay widened to a 10-candidate shortlist, then
      // the exact-L2 re-rank over raw vectors (dot-product identity,
      // the same left-assoc grouping as the Spark expression)
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM vecs),
         |ccents AS (SELECT id AS ccid, v AS ccv FROM vecs
         |  WHERE id % (SELECT s FROM stride) = 0),
         |cassign AS (SELECT id, v, ccid,
         |  round(${sqlDot("v", "ccv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("ccv")})), 6) AS csim
         |  FROM vecs CROSS JOIN ccents),
         |cranked AS (SELECT id, v, ccid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, ccid) AS crn FROM cassign),
         |cells AS (SELECT id, v, ccid AS cell FROM cranked WHERE crn = 1),
         |probes AS (SELECT id, ccid AS cell FROM cranked WHERE crn <= 2),
         |cents AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cpos, v AS cv
         |  FROM vecs WHERE id % (SELECT s FROM stride) = 0),
         |${pqCodeCtes(4, 16)},
         |q AS (SELECT p.id AS query_id, v.v AS qv, p.cell
         |  FROM probes p JOIN vecs v ON v.id = p.id WHERE p.id < 10),
         |scored AS (SELECT q.query_id, n.id AS neighbor_id,
         |  round(${pqAdcSql(4, 16)}, 6) AS adist
         |  FROM q JOIN cells cl ON cl.cell = q.cell
         |  JOIN vecs n ON n.id = cl.id ${pqCodeJoins(4)}
         |  WHERE q.query_id <> n.id),
         |short AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
         |  FROM scored) WHERE rn <= 10),
         |ex AS (SELECT s2.query_id, s2.neighbor_id,
         |  round((${sqlDot("qv.v", "qv.v")} + ${sqlDot("nv.v", "nv.v")}) -
         |    2.0 * ${sqlDot("qv.v", "nv.v")}, 6) AS dist
         |  FROM short s2
         |  JOIN vecs qv ON qv.id = s2.query_id
         |  JOIN vecs nv ON nv.id = s2.neighbor_id),
         |rk3 AS (SELECT query_id, neighbor_id, dist, row_number() OVER (
         |  PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
         |  FROM ex)
         |SELECT query_id, neighbor_id, dist FROM rk3 WHERE rn <= 3
         |ORDER BY query_id, dist, neighbor_id""".stripMargin),

    // RESIDUAL IVFADC (Jégou et al. 2011, the faiss IndexIVFPQ default):
    // the fine quantizer encodes x − centroid(cell) instead of the raw
    // vector — one extra row-local O(d) subtraction corpus-side, and
    // per-(query, probed cell) ADC LUTs broadcast by a driver-assigned
    // key. Same materialized-code-index + broadcast-LUT-join serving
    // shape as v9; the PQ stride init offsets by 1 because the coarse
    // centroid rows' residuals are identically zero.
    Entry("v16_ivfpq_residual", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val every = math.max(1L, emb.count() / 10).toInt
      annTopK(emb, annTrain(emb,
          AnnIndex(Coarse(Every(every)), ResidualPq(4, every))), nprobe = 2)
        .orderBy(col("query_id"), col("adist"), col("neighbor_id"))
    },
      // residual IVFADC replay: the v9 chain with (a) PQ init vectors =
      // RESIDUALS of the offset-1 stride rows, (b) candidate codes
      // assigned over residuals, (c) the query's LUT side = its residual
      // vs EACH probed cell's centroid. `vecs` holds the residuals so the
      // shared pqCodeCtes/pqAdcSql/pqCodeJoins fragments apply unchanged.
      s"""WITH rawv AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM rawv),
         |ccents AS (SELECT id AS ccid, v AS ccv FROM rawv
         |  WHERE id % (SELECT s FROM stride) = 0),
         |cassign AS (SELECT id, v, ccid,
         |  round(${sqlDot("v", "ccv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("ccv")})), 6) AS csim
         |  FROM rawv CROSS JOIN ccents),
         |cranked AS (SELECT id, v, ccid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, ccid) AS crn FROM cassign),
         |cells AS (SELECT id, ccid AS cell FROM cranked WHERE crn = 1),
         |probes AS (SELECT id, ccid AS cell FROM cranked WHERE crn <= 2),
         |vecs AS (SELECT c.id, list_transform(list_zip(r.v, ct.ccv),
         |    p -> p[1] - p[2]) AS v
         |  FROM cells c JOIN rawv r ON r.id = c.id
         |  JOIN ccents ct ON ct.ccid = c.cell),
         |cents AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cpos, v AS cv
         |  FROM vecs WHERE id % (SELECT s FROM stride) =
         |    1 % (SELECT s FROM stride)),
         |${pqCodeCtes(4, 16)},
         |q AS (SELECT p.id AS query_id,
         |    list_transform(list_zip(v.v, ct.ccv), p2 -> p2[1] - p2[2]) AS qv,
         |    p.cell
         |  FROM probes p JOIN rawv v ON v.id = p.id
         |  JOIN ccents ct ON ct.ccid = p.cell
         |  WHERE p.id < 10),
         |scored AS (SELECT q.query_id, n.id AS neighbor_id,
         |  round(${pqAdcSql(4, 16)}, 6) AS adist
         |  FROM q JOIN cells cl ON cl.cell = q.cell
         |  JOIN vecs n ON n.id = cl.id ${pqCodeJoins(4)}
         |  WHERE q.query_id <> n.id),
         |rk2 AS (SELECT query_id, neighbor_id, adist, row_number() OVER (
         |  PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, adist FROM rk2 WHERE rn <= 3
         |ORDER BY query_id, adist, neighbor_id""".stripMargin),

    // IVF RANGE search (faiss range_search): every neighbor with cosine
    // sim >= 0.25 in the query's 2 probed cells — threshold-bounded
    // output, so the plan has NO per-query window/sort at all (cheaper
    // than top-k at scale); same constant-C codebook as v3/v5.
    Entry("v19_ivf_range", (s, dir) => annRange(s, dir, iters = 0),
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM vecs),
         |cents AS (SELECT id AS cid, v AS cv FROM vecs
         |  WHERE id % (SELECT s FROM stride) = 0),
         |assign AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents),
         |ranked AS (SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM assign),
         |cells AS (SELECT id, v, cid AS cell FROM ranked WHERE rn = 1),
         |q AS (SELECT id AS query_id, v AS qv, cid AS cell FROM ranked
         |  WHERE rn <= 2 AND id < 10),
         |scored AS (SELECT query_id, c.id AS neighbor_id,
         |  round(${sqlDot("qv", "c.v")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("c.v")})), 6) AS sim
         |  FROM q JOIN cells c USING (cell) WHERE query_id <> c.id)
         |SELECT query_id, neighbor_id, sim FROM scored WHERE sim >= 0.25
         |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin),

    // THE RECOMMENDED SERVING STACK composed end-to-end (faiss
    // IndexIVFPQ with encode_residual + IndexRefineFlat): residual
    // encoding, BOTH codebooks trained (one Lloyd round each), a
    // 10-candidate ADC shortlist, exact re-rank over the raw vectors.
    // r12's refine tier hardcoded the stride IVFADC shortlist, so
    // this composition — the one the ANN artifact recommends — could
    // not be built; refineExact now wraps any shortlist producer, and
    // the DuckDB oracle replays BOTH trainings + residual encode +
    // probe + ADC + exact re-rank end-to-end.
    Entry("v20_refined_residual", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val every = math.max(1L, emb.count() / 10).toInt
      annTopK(emb, annTrain(emb, AnnIndex(Coarse(Every(every), iters = 1),
          ResidualPq(4, every, iters = 1), rerank = 10)), nprobe = 2)
        .orderBy(col("query_id"), col("dist"), col("neighbor_id"))
    },
      // residual+trained IVFADC + exact re-rank, replayed END-TO-END:
      // the v13 coarse-training block (stride init → one rounded-mean
      // Lloyd round) over the RAW vectors, assignment against the trained
      // centroids, residuals vs the trained centroid of each vector's own
      // cell, the v14 per-subspace PQ-training block over the RESIDUALS
      // (offset-1 stride init — offset 0 would seed near-zero residual
      // rows under a stride coarse codebook; kept for consistency with
      // v16), per-(query, probed-cell) residual LUT ADC, a 10-candidate
      // shortlist, then the v18 exact-L2 re-rank over RAW vectors
      s"""WITH rawv AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM rawv),
         |ccents0 AS (SELECT id AS ccid, v AS ccv FROM rawv
         |  WHERE id % (SELECT s FROM stride) = 0),
         |ca0 AS (SELECT id, v, ccid,
         |  round(${sqlDot("v", "ccv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("ccv")})), 6) AS csim
         |  FROM rawv CROSS JOIN ccents0),
         |ccell0 AS (SELECT id, v, ccid AS cell FROM (
         |  SELECT id, v, ccid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, ccid) AS crn FROM ca0) WHERE crn = 1),
         |cm0 AS (SELECT cell, pos, round(avg(x), 6) AS m FROM (
         |    SELECT cell, unnest(v) AS x, unnest(range(0, len(v))) AS pos
         |    FROM ccell0) GROUP BY cell, pos),
         |cp0 AS (SELECT cell, list(m ORDER BY pos) AS mv FROM cm0
         |  GROUP BY cell),
         |ccents1 AS (SELECT ccid, coalesce(cp0.mv, ccv) AS ccv
         |  FROM ccents0 LEFT JOIN cp0 ON cp0.cell = ccents0.ccid),
         |ca1 AS (SELECT id, v, ccid,
         |  round(${sqlDot("v", "ccv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("ccv")})), 6) AS csim
         |  FROM rawv CROSS JOIN ccents1),
         |crk1 AS (SELECT id, v, ccid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, ccid) AS crn FROM ca1),
         |cells AS (SELECT id, ccid AS cell FROM crk1 WHERE crn = 1),
         |probes AS (SELECT id, ccid AS cell FROM crk1 WHERE crn <= 2),
         |vecs AS (SELECT c.id, list_transform(list_zip(r.v, ct.ccv),
         |    p -> p[1] - p[2]) AS v
         |  FROM cells c JOIN rawv r ON r.id = c.id
         |  JOIN ccents1 ct ON ct.ccid = c.cell),
         |cents AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cpos, v AS cv
         |  FROM vecs WHERE id % (SELECT s FROM stride) =
         |    1 % (SELECT s FROM stride)),
         |${pqTrainedCodeCtes(4, 16)},
         |q AS (SELECT p.id AS query_id,
         |    list_transform(list_zip(v.v, ct.ccv), p2 -> p2[1] - p2[2]) AS qv,
         |    p.cell
         |  FROM probes p JOIN rawv v ON v.id = p.id
         |  JOIN ccents1 ct ON ct.ccid = p.cell
         |  WHERE p.id < 10),
         |scored AS (SELECT q.query_id, n.id AS neighbor_id,
         |  round(${pqTrainedAdcSql(4, 16)}, 6) AS adist
         |  FROM q JOIN cells cl ON cl.cell = q.cell
         |  JOIN vecs n ON n.id = cl.id ${pqTrainedCodeJoins(4)}
         |  WHERE q.query_id <> n.id),
         |short AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
         |  FROM scored) WHERE rn <= 10),
         |ex AS (SELECT s2.query_id, s2.neighbor_id,
         |  round((${sqlDot("qv.v", "qv.v")} + ${sqlDot("nv.v", "nv.v")}) -
         |    2.0 * ${sqlDot("qv.v", "nv.v")}, 6) AS dist
         |  FROM short s2
         |  JOIN rawv qv ON qv.id = s2.query_id
         |  JOIN rawv nv ON nv.id = s2.neighbor_id),
         |rk3 AS (SELECT query_id, neighbor_id, dist, row_number() OVER (
         |  PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
         |  FROM ex)
         |SELECT query_id, neighbor_id, dist FROM rk3 WHERE rn <= 3
         |ORDER BY query_id, dist, neighbor_id""".stripMargin),

    // TRAINED-coarse range search: v19's radius query served from a
    // k-means codebook (one Lloyd round over the stride init — the
    // stride codebook was the measured pair-recall ceiling at every
    // range operating point). The serving plan is unchanged: row-local
    // assignment, one broadcast cell join, scan-side similarity filter,
    // ZERO windows/shuffles (pinned) — only the codebook VALUES differ.
    Entry("v19b_ivf_range_trained", (s, dir) => annRange(s, dir, iters = 1),
      // the v13 coarse-training replay (stride init → one rounded-mean
      // Lloyd round → re-assignment), then the v19 range tail: every
      // probed-cell neighbor at cosine >= 0.25, no top-k rank anywhere
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM vecs),
         |cents0 AS (SELECT id AS cid, v AS cv FROM vecs
         |  WHERE id % (SELECT s FROM stride) = 0),
         |a0 AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents0),
         |cell0 AS (SELECT id, v, cid AS cell FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM a0) WHERE rn = 1),
         |m0 AS (SELECT cell, pos, round(avg(x), 6) AS m FROM (
         |    SELECT cell, unnest(v) AS x, unnest(range(0, len(v))) AS pos
         |    FROM cell0) GROUP BY cell, pos),
         |p0 AS (SELECT cell, list(m ORDER BY pos) AS mv FROM m0 GROUP BY cell),
         |cents1 AS (SELECT cid, coalesce(p0.mv, cv) AS cv
         |  FROM cents0 LEFT JOIN p0 ON p0.cell = cents0.cid),
         |a1 AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents1),
         |rk1 AS (SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM a1),
         |corp AS (SELECT id, v, cid AS cell FROM rk1 WHERE rn = 1),
         |qp AS (SELECT id AS query_id, v AS qv, cid AS cell FROM rk1
         |  WHERE rn <= 2 AND id < 10),
         |scored AS (SELECT query_id, c.id AS neighbor_id,
         |  round(${sqlDot("qv", "c.v")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("c.v")})), 6) AS sim
         |  FROM qp JOIN corp c USING (cell) WHERE query_id <> c.id)
         |SELECT query_id, neighbor_id, sim FROM scored WHERE sim >= 0.25
         |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin),

    // HNSW-routed IVF (the faiss IndexHNSWFlat-as-coarse-quantizer
    // story — past a few thousand cells the brute-force O(C·d) per-row
    // assignment dominates; the greedy graph walk costs O(M·log C·d)):
    // a deterministic navigable graph over a 40-cell stride codebook
    // (portable-hash geometric levels, top-M-by-rounded-cosine
    // adjacency per layer, strict-improvement steepest-ascent descent),
    // corpus rows land in their walk's layer-0 local maximum, queries
    // probe it plus its best layer-0 neighbor. DuckDB replays the ENTIRE
    // structure relationally — levels, per-layer adjacency ranks, entry
    // point, and the walk itself as a recursive CTE over a precomputed
    // (point, layer, node) → best-neighbor transition table — then the
    // cell join + top-k tail.
    Entry("v22_ivf_hnsw", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      annTopK(emb, annTrain(emb, v22Spec), nprobe = V22NProbe, k = V22K)
        .orderBy(col("query_id"), desc("sim"), col("neighbor_id"))
    },
      // the full HNSW replay: portable-hash geometric levels over the
      // stride codebook, per-layer top-M adjacency ranks, the max-level
      // entry, a (point, layer, node) → ranked-neighbor table (rank 1 is
      // the walk transition, ranks ≤ nprobe−1 at layer 0 are the extra
      // probes), the strict-improvement walk as a recursive CTE (move
      // while the best neighbor strictly improves, else descend a layer,
      // stop at layer 0), then the standard cell-join + top-k tail.
      // GENERATED from the same V22* constants the Spark query passes.
      sqlHnswOracle(V22Cells, V22M, V22Cap, V22NProbe, V22K)),

    // IVF-SQ8 (the faiss IndexIVFScalarQuantizer analog — the middle
    // memory tier between raw IVF and IVFADC): trained coarse codebook
    // (one Lloyd round), probed cells scan INT8 codes (per-dimension
    // symmetric quantization, ~8× less memory bandwidth than the raw
    // double pipeline), raw queries dequantize candidates on the fly,
    // then the faiss SQ-then-refine stack: exact-L2 re-rank of the
    // 10-candidate int8 shortlist. DuckDB replays k-means training →
    // assignment → int8 quantize → dequantized cosine → shortlist →
    // exact re-rank END-TO-END.
    Entry("v21_ivf_sq8", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val every = math.max(1L, emb.count() / 10).toInt
      annTopK(emb, annTrain(emb,
          AnnIndex(Coarse(Every(every), iters = 1), Sq8, rerank = 10)),
          nprobe = 2)
        .orderBy(col("query_id"), col("dist"), col("neighbor_id"))
    },
      // the v13/v19b coarse k-means replay (stride init → one rounded-mean
      // Lloyd round → re-assignment), the v11 int8 quantization per corpus
      // vector (unrounded scale amax/127 — a plain double both engines
      // compute identically), dequantized-cosine scoring in the probed
      // cells, a 10-candidate shortlist, then the v18/v20 exact-L2 re-rank
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM vecs),
         |cents0 AS (SELECT id AS cid, v AS cv FROM vecs
         |  WHERE id % (SELECT s FROM stride) = 0),
         |a0 AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents0),
         |cell0 AS (SELECT id, v, cid AS cell FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM a0) WHERE rn = 1),
         |m0 AS (SELECT cell, pos, round(avg(x), 6) AS m FROM (
         |    SELECT cell, unnest(v) AS x, unnest(range(0, len(v))) AS pos
         |    FROM cell0) GROUP BY cell, pos),
         |p0 AS (SELECT cell, list(m ORDER BY pos) AS mv FROM m0 GROUP BY cell),
         |cents1 AS (SELECT cid, coalesce(p0.mv, cv) AS cv
         |  FROM cents0 LEFT JOIN p0 ON p0.cell = cents0.cid),
         |a1 AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents1),
         |rk1 AS (SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM a1),
         |qz AS (SELECT id, v,
         |    list_reduce(list_prepend(0.0, list_transform(v, x -> abs(x))),
         |      (a, x) -> greatest(a, x)) AS amax
         |  FROM vecs),
         |corp AS (SELECT r.id, r.cid AS cell,
         |    CASE WHEN q.amax > 0 THEN list_transform(q.v,
         |        x -> CAST(round(x / (q.amax / 127.0), 0) AS INT))
         |      ELSE list_transform(q.v, x -> 0) END AS codes,
         |    CASE WHEN q.amax > 0 THEN q.amax / 127.0 ELSE 0.0 END AS sc
         |  FROM rk1 r JOIN qz q ON q.id = r.id WHERE r.rn = 1),
         |qp AS (SELECT id AS query_id, v AS qv, cid AS cell FROM rk1
         |  WHERE rn <= 2 AND id < 10),
         |dq AS (SELECT query_id, qv, c.id AS neighbor_id,
         |    list_transform(c.codes, cd -> CAST(cd AS DOUBLE) * c.sc) AS dv
         |  FROM qp JOIN corp c USING (cell) WHERE query_id <> c.id),
         |scored AS (SELECT query_id, qv, neighbor_id,
         |  round(${sqlDot("qv", "dv")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("dv")})), 6) AS sim
         |  FROM dq),
         |short AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
         |  FROM scored) WHERE rn <= 10),
         |ex AS (SELECT s2.query_id, s2.neighbor_id,
         |  round((${sqlDot("qv.v", "qv.v")} + ${sqlDot("nv.v", "nv.v")}) -
         |    2.0 * ${sqlDot("qv.v", "nv.v")}, 6) AS dist
         |  FROM short s2
         |  JOIN vecs qv ON qv.id = s2.query_id
         |  JOIN vecs nv ON nv.id = s2.neighbor_id),
         |rk3 AS (SELECT query_id, neighbor_id, dist, row_number() OVER (
         |  PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
         |  FROM ex)
         |SELECT query_id, neighbor_id, dist FROM rk3 WHERE rn <= 3
         |ORDER BY query_id, dist, neighbor_id""".stripMargin),

    // HNSW graph PERSISTENCE (v22b — closes the r14 gap: the doc
    // promised "at 100 TB the graph persists next to the codebook" but
    // only IVFADC had save/load): build the deterministic navigable
    // graph over the stride codebook ONCE, save it as parquet
    // (pos, cid, cv, lvl, per-layer adjacency), reload, and serve the
    // same search pipeline from the artifact.
    // Parquet round-trips doubles/ints bit-exactly, so load→serve ≡
    // build→serve — proven cross-engine by sharing v22's
    // full-graph-replay oracle (the v17/v15 convention).
    Entry("v22b_hnsw_persist", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      annTopK(emb, viaParquet(s, annTrain(emb, v22Spec), "graft_hnsw"),
          nprobe = V22NProbe, k = V22K)
        .orderBy(col("query_id"), desc("sim"), col("neighbor_id"))
    },
      // persistence is transparent to results — v22b IS v22's oracle
      // (generated from the same V22* constants)
      sqlHnswOracle(V22Cells, V22M, V22Cap, V22NProbe, V22K)),
  )
}
