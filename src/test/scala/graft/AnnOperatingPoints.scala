package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.operators.Similarity.{AnnIndex, Cells, Coarse, Every,
  Exhaustive, Pq, ResidualPq, Sq8}

/** ANN recall-vs-cost operating-point harness (VERDICT r9 §next-3): the
  * `annRecall` evaluator exists, but v12 measures ONE configuration at
  * ONE scale — this main measures the whole trade surface so the
  * recommended operating point is a MEASUREMENT, not an assertion:
  *
  *   exact brute force (ground truth + its own cost) vs
  *   IVF (Cells)    c ∈ {10, 32} × nprobe ∈ {1, 2}   (constant codebook)
  *   exhaustive PQ  m=4, C=10/subspace               (v8 tier)
  *   IVF-PQ         m=4, both codebooks C=10, nprobe ∈ {1, 2} (v9 tier)
  *
  * at every supplied scale directory (sf0.1 and the derived sf1), k=10
  * over 50 query vectors. Wall time is min-of-2 full materializations;
  * recall@10 is the mean per-query overlap with the exact top-10.
  *
  * Usage: Test/runMain graft.AnnOperatingPoints OUT.json \
  *          sf0.1=/root/testdata/sf0.1 sf1=/tmp/graft_sf1
  */
object AnnOperatingPoints {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val dirs = args.drop(1).map { a =>
      val Array(l, p) = a.split("=", 2); (l, p)
    }
    val spark = Session.local()

    val k = 10
    // the ANN entry points rename idCol to "id" before applying the
    // query predicate; the exact tier filters the raw frame
    val qPred = col("id") < 50
    val qPredRaw = col("vec_id") < 50

    def train(emb: DataFrame, spec: AnnIndex): Similarity.Trained =
      Similarity.train(emb, "vec_id", "embedding", spec)
    def serve(emb: DataFrame, ix: Similarity.Trained, kk: Int,
        np: Int): DataFrame =
      Similarity.search(emb, "vec_id", "embedding", ix, qPred, kk, np)

    def timed(mk: () => DataFrame): (Double, DataFrame) = {
      def once(): (Double, DataFrame) = {
        val t0 = System.nanoTime()
        val df = mk()
        df.count() // materialize the whole result
        ((System.nanoTime() - t0) / 1e9, df)
      }
      once() // untimed warmup: codegen/JIT cost is not plan cost
      val a = once(); val b = once()
      (math.min(a._1, b._1), b._2)
    }

    /** Exact L2 top-k — the fair ground truth for the PQ tiers, which
      * rank by ADC DISTANCE (cosine ground truth would conflate the
      * metric mismatch with quantization loss). */
    def exactL2TopK(emb: DataFrame): DataFrame = {
      val q = emb.filter(qPredRaw).select(col("vec_id").as("query_id"),
        Similarity.asDouble(col("embedding")).as("qv"))
      val c = emb.select(col("vec_id").as("neighbor_id"),
        Similarity.asDouble(col("embedding")).as("cv"))
      val d2 = Similarity.dot(col("qv"), col("qv")) +
        Similarity.dot(col("cv"), col("cv")) -
        lit(2.0) * Similarity.dot(col("qv"), col("cv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("d2"), col("neighbor_id"))
      broadcast(q).crossJoin(c)
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), d2.as("d2"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .drop("rn")
    }

    def meanRecall(exact: DataFrame, approx: DataFrame): Double =
      Similarity.annRecall(exact, approx)
        .agg(avg("recall")).head().getDouble(0)

    val sb = new StringBuilder
    sb.append("{\n \"round\": 14,\n")
    sb.append(" \"purpose\": \"recall@10 vs wall-time for the ANN tiers " +
      "across configurations and scales (VERDICT r9 next-3; r10 next-3 " +
      "added the perturbed-sf1 block)\",\n")
    sb.append(" \"protocol\": \"k=10, 50 query vectors, untimed warmup + " +
      "min-of-2 full materializations per cell; IVF tiers score recall " +
      "vs exact COSINE top-10, PQ tiers vs exact L2 top-10 (they rank " +
      "by ADC distance -- cosine ground truth would conflate the metric " +
      "mismatch with quantization loss). sf1's exact-copy replicas made " +
      "its IVF recalls trivially ~1.0 (each query's true top-10 were " +
      "its own byte-identical copies, same cell by construction); the " +
      "sf1_perturbed scale re-derives replicas 1..9 with deterministic " +
      "sigma=0.05/dim Gaussian noise (0.4x per-dim std; " +
      "tools/make_sf1.py) so cross-scale recall comparisons stand on " +
      "non-degenerate ground truth -- read sf1_perturbed, not sf1, for " +
      "scale trends. r14: every trained tier now trains OUTSIDE the " +
      "timed serve (train_sec recorded separately), so sec columns are " +
      "serve-only and apples-to-apples across trained and untrained " +
      "rows\",\n")
    sb.append(" \"scales\": {\n")

    val scaleJson = dirs.map { case (label, dir) =>
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .persist()
      val n = emb.count()
      System.err.println(s"== $label: $n vectors ==")

      val (exactSec, exactDf) = timed(() =>
        Similarity.topKNeighbors(emb.filter(qPredRaw), emb, "vec_id",
          "embedding", k))
      val exact = exactDf.persist()
      exact.count()

      val cells = Seq.newBuilder[String]
      cells += s"""  "exact_bruteforce": {"sec": ${f"$exactSec%.3f"}, "recall_at_10": 1.0}"""

      for (c <- Seq(10, 32); np <- Seq(1, 2)) {
        val (sec, df) = timed(() =>
          serve(emb, train(emb, AnnIndex(Coarse(Cells(c, Some(n))))), k, np))
        val r = meanRecall(exact, df)
        cells += s"""  "ivf_fixedC_c${c}_nprobe$np": {"sec": ${f"$sec%.3f"}, "recall_at_10": ${f"$r%.4f"}}"""
        System.err.println(s"  ivf c=$c np=$np: ${f"$sec%.3f"}s recall=${f"$r%.4f"}")
      }

      // TRAINED coarse codebook (r10 follow-through on this artifact's
      // own caveat: the stride codebook is the fixed-C family's recall
      // ceiling). Training is timed SEPARATELY — a real index trains
      // once and serves many query batches — and serving reuses the
      // same search plan as the stride tiers, so any recall delta at
      // equal serve cost is the codebook's quality.
      for (c <- Seq(10, 32)) {
        val t0 = System.nanoTime()
        val ix = train(emb, AnnIndex(Coarse(Cells(c, Some(n)), iters = 2)))
        val trainSec = (System.nanoTime() - t0) / 1e9
        for (np <- Seq(1, 2)) {
          val (sec, df) = timed(() => serve(emb, ix, k, np))
          val r = meanRecall(exact, df)
          cells += s"""  "ivf_trained_c${c}_iters2_nprobe$np": {"sec": ${f"$sec%.3f"}, "train_sec": ${f"$trainSec%.3f"}, "recall_at_10": ${f"$r%.4f"}}"""
          System.err.println(s"  ivf-trained c=$c np=$np: ${f"$sec%.3f"}s" +
            s" (train ${f"$trainSec%.3f"}s) recall=${f"$r%.4f"}")
        }
      }

      // RANGE search (r12c, v19 — faiss range_search): every neighbor
      // with cosine sim ≥ 0.25 inside the probed cells. Output size is
      // data-dependent, so the metric is PAIR recall (found / true
      // within-radius pairs) against the brute-force pair set; the
      // approximate side can only MISS pairs (same rounding, same
      // threshold — no false positives), so recall is the whole story.
      {
        val simMin = 0.25
        val rq = emb.filter(qPredRaw).select(col("vec_id").as("query_id"),
          Similarity.asDouble(col("embedding")).as("qv"))
        val rc = emb.select(col("vec_id").as("neighbor_id"),
          Similarity.asDouble(col("embedding")).as("cv"))
        val (exSec, exDf) = timed(() =>
          broadcast(rq).crossJoin(rc)
            .filter(col("query_id") =!= col("neighbor_id"))
            .select(col("query_id"), col("neighbor_id"),
              round(Similarity.cosine(col("qv"), col("cv")), 6).as("sim"))
            .filter(col("sim") >= simMin))
        val truePairs = exDf.select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        cells += s"""  "exact_range_sim025": {"sec": ${f"$exSec%.3f"}, "n_pairs": ${truePairs.size}, "pair_recall": 1.0}"""
        System.err.println(s"  exact-range: ${f"$exSec%.3f"}s pairs=${truePairs.size}")
        for (np <- Seq(1, 2)) {
          val (sec, df) = timed(() =>
            Similarity.rangeSearch(emb, "vec_id", "embedding",
              train(emb, AnnIndex(Coarse(Cells(10, Some(n))))),
              queryPred = qPred, simMin = simMin, nprobe = np))
          val found = df.select("query_id", "neighbor_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          val rec = if (truePairs.isEmpty) 1.0
            else found.intersect(truePairs).size.toDouble / truePairs.size
          cells += s"""  "range_c10_nprobe${np}_sim025": {"sec": ${f"$sec%.3f"}, "n_pairs": ${found.size}, "pair_recall": ${f"$rec%.4f"}}"""
          System.err.println(s"  range c=10 np=$np: ${f"$sec%.3f"}s " +
            s"pairs=${found.size} recall=${f"$rec%.4f"}")
        }
        // TRAINED-coarse range search (r13, v19b): same zero-window
        // serving plan, k-means codebook values — the pair-recall lift
        // over the stride rows above is pure training quality. r14: the
        // codebook trains OUTSIDE timed() (train_sec recorded) so the
        // sec column is serve-only, apples-to-apples with the stride
        // range rows.
        {
          val t0 = System.nanoTime()
          val rix = train(emb, AnnIndex(Coarse(Cells(10, Some(n)), iters = 2)))
          val trainSec = (System.nanoTime() - t0) / 1e9
          for (np <- Seq(1, 2)) {
            val (sec, df) = timed(() =>
              Similarity.rangeSearch(emb, "vec_id", "embedding", rix,
                queryPred = qPred, simMin = simMin, nprobe = np))
            val found = df.select("query_id", "neighbor_id").collect()
              .map(r => (r.getLong(0), r.getLong(1))).toSet
            val rec = if (truePairs.isEmpty) 1.0
              else found.intersect(truePairs).size.toDouble / truePairs.size
            cells += s"""  "range_trained_c10_nprobe${np}_sim025": {"sec": ${f"$sec%.3f"}, "train_sec": ${f"$trainSec%.3f"}, "n_pairs": ${found.size}, "pair_recall": ${f"$rec%.4f"}}"""
            System.err.println(s"  range-trained c=10 np=$np: ${f"$sec%.3f"}s " +
              s"(train ${f"$trainSec%.3f"}s) pairs=${found.size} recall=${f"$rec%.4f"}")
          }
        }
      }

      // PQ tiers rank by ADC distance: measure them against the exact
      // L2 top-10 (their own metric), with that ground truth's cost
      // recorded alongside
      val (l2Sec, l2Df) = timed(() => exactL2TopK(emb))
      val exactL2 = l2Df.persist(); exactL2.count()
      cells += s"""  "exact_l2_bruteforce": {"sec": ${f"$l2Sec%.3f"}, "recall_at_10": 1.0}"""

      // two PQ codebook grades: C=10/subspace (the bench tier — a
      // COMPRESSION pass: 10^m codes collapse into huge adist ties as
      // the corpus grows) and C≈256/subspace (the full uint8 code
      // space — the retrieval-grade configuration)
      val every10 = math.max(1L, n / 10).toInt
      val every256 = math.max(1L, (n + 255) / 256).toInt
      for ((cLabel, every) <- Seq("C10" -> every10, "C256" -> every256)) {
        val (pqSec, pqDf) = timed(() =>
          serve(emb, train(emb, AnnIndex(Coarse(Exhaustive), Pq(4, every))),
            k, 1))
        val pqR = meanRecall(exactL2, pqDf)
        cells += s"""  "pq_m4_$cLabel": {"sec": ${f"$pqSec%.3f"}, "recall_at_10": ${f"$pqR%.4f"}}"""
        System.err.println(s"  pq $cLabel: ${f"$pqSec%.3f"}s recall=${f"$pqR%.4f"}")
        for (np <- Seq(1, 2)) {
          val (sec, df) = timed(() =>
            serve(emb, train(emb, AnnIndex(Coarse(Every(every10)),
              Pq(4, every))), k, np))
          val r = meanRecall(exactL2, df)
          cells += s"""  "ivfpq_m4_${cLabel}_nprobe$np": {"sec": ${f"$sec%.3f"}, "recall_at_10": ${f"$r%.4f"}}"""
          System.err.println(s"  ivfpq $cLabel np=$np: ${f"$sec%.3f"}s recall=${f"$r%.4f"}")
        }
      }
      // TRAINED subspace codebooks (r11): same serving plan as the
      // stride PQ tiers, trained values — recall delta at equal serve
      // cost is the training's quality (the v13 methodology, PQ family)
      for ((cLabel, every) <- Seq("C10" -> every10, "C256" -> every256)) {
        val t0 = System.nanoTime()
        val tix = train(emb,
          AnnIndex(Coarse(Exhaustive), Pq(4, every, iters = 1)))
        val trainSec = (System.nanoTime() - t0) / 1e9
        val (sec, df) = timed(() => serve(emb, tix, k, 1))
        val r = meanRecall(exactL2, df)
        cells += s"""  "pq_trained_m4_${cLabel}_iters1": {"sec": ${f"$sec%.3f"}, "train_sec": ${f"$trainSec%.3f"}, "recall_at_10": ${f"$r%.4f"}}"""
        System.err.println(s"  pq-trained $cLabel: ${f"$sec%.3f"}s" +
          s" (train ${f"$trainSec%.3f"}s) recall=${f"$r%.4f"}")
      }
      // TRAINED-everything IVFADC (r12, v15): both codebooks trained —
      // coarse k-means at C=10/iters=2 (the recommended cosine tier's
      // codebook) + one Lloyd round per subspace — served through the
      // same search plan as the stride IVFADC cells
      for ((cLabel, every) <- Seq("C10" -> every10, "C256" -> every256)) {
        val t0 = System.nanoTime()
        val tix = train(emb, AnnIndex(Coarse(Every(every10), iters = 2),
          Pq(4, every, iters = 1)))
        val trainSec = (System.nanoTime() - t0) / 1e9
        for (np <- Seq(1, 2)) {
          val (sec, df) = timed(() => serve(emb, tix, k, np))
          val r = meanRecall(exactL2, df)
          cells += s"""  "ivfpq_trained_m4_${cLabel}_nprobe$np": {"sec": ${f"$sec%.3f"}, "train_sec": ${f"$trainSec%.3f"}, "recall_at_10": ${f"$r%.4f"}}"""
          System.err.println(s"  ivfpq-trained $cLabel np=$np: " +
            s"${f"$sec%.3f"}s (train ${f"$trainSec%.3f"}s) recall=${f"$r%.4f"}")
        }
      }
      // RESIDUAL IVFADC (r12, v16 — the Jégou et al. formulation): the
      // fine quantizer encodes x − centroid(cell). Untrained rows are
      // directly comparable to ivfpq_m4_* (same stride init, codebook
      // built inside the timed call). r14: the trained rows now train
      // BOTH codebooks outside timed() (train — the index/serve split
      // finally exists for the residual tier), so their sec is serve-only
      // and directly
      // comparable to every other trained row; train_sec records the
      // full training chain.
      for ((cLabel, every) <- Seq("C10" -> every10, "C256" -> every256)) {
        val t0 = System.nanoTime()
        val rix = train(emb, AnnIndex(Coarse(Every(every10), iters = 2),
          ResidualPq(4, every, iters = 1)))
        val trainSec = (System.nanoTime() - t0) / 1e9
        for (np <- Seq(1, 2)) {
          val (sec, df) = timed(() =>
            serve(emb, train(emb, AnnIndex(Coarse(Every(every10)),
              ResidualPq(4, every))), k, np))
          val r = meanRecall(exactL2, df)
          cells += s"""  "ivfpq_residual_m4_${cLabel}_nprobe$np": {"sec": ${f"$sec%.3f"}, "recall_at_10": ${f"$r%.4f"}}"""
          System.err.println(s"  ivfpq-residual $cLabel np=$np: " +
            s"${f"$sec%.3f"}s recall=${f"$r%.4f"}")
          val (tsec, tdf) = timed(() => serve(emb, rix, k, np))
          val tr = meanRecall(exactL2, tdf)
          cells += s"""  "ivfpq_residual_trained_m4_${cLabel}_nprobe$np": {"sec": ${f"$tsec%.3f"}, "train_sec": ${f"$trainSec%.3f"}, "recall_at_10": ${f"$tr%.4f"}}"""
          System.err.println(s"  ivfpq-residual-trained $cLabel np=$np: " +
            s"${f"$tsec%.3f"}s (train ${f"$trainSec%.3f"}s) recall=${f"$tr%.4f"}")
        }
      }
      // EXACT re-rank over the IVFADC shortlist (r12, v18 — faiss
      // IndexRefineFlat): recall approaches the cell-restriction bound
      // at per-query cost rerank=50 exact distances, not corpus
      for ((cLabel, every) <- Seq("C10" -> every10, "C256" -> every256)) {
        val (sec, df) = timed(() =>
          serve(emb, train(emb, AnnIndex(Coarse(Every(every10)), Pq(4, every),
            rerank = 50)), k, 2))
        val r = meanRecall(exactL2, df)
        cells += s"""  "ivfpq_refined_m4_${cLabel}_nprobe2_rerank50": {"sec": ${f"$sec%.3f"}, "recall_at_10": ${f"$r%.4f"}}"""
        System.err.println(s"  ivfpq-refined $cLabel: ${f"$sec%.3f"}s recall=${f"$r%.4f"}")
      }
      // REFINE OVER RESIDUAL+TRAINED (r13, v20 — the recommended stack
      // composed at last: r12's refine could only wrap the stride
      // shortlist): residual encoding + both trainings produce the
      // shortlist, exact re-rank buys back the compression loss. Same
      // rerank/nprobe as the stride-refined rows for direct comparison;
      // r14: both codebooks train OUTSIDE timed() (train_sec recorded),
      // the timed call is shortlist + refine serving only.
      for ((cLabel, every) <- Seq("C10" -> every10, "C256" -> every256)) {
        val t0 = System.nanoTime()
        val rix = train(emb, AnnIndex(Coarse(Every(every10), iters = 2),
          ResidualPq(4, every, iters = 1), rerank = 50))
        val trainSec = (System.nanoTime() - t0) / 1e9
        val (sec, df) = timed(() => serve(emb, rix, k, 2))
        val r = meanRecall(exactL2, df)
        cells += s"""  "ivfpq_refined_residual_trained_m4_${cLabel}_nprobe2_rerank50": {"sec": ${f"$sec%.3f"}, "train_sec": ${f"$trainSec%.3f"}, "recall_at_10": ${f"$r%.4f"}}"""
        System.err.println(s"  ivfpq-refined-residual $cLabel: " +
          s"${f"$sec%.3f"}s (train ${f"$trainSec%.3f"}s) recall=${f"$r%.4f"}")
      }
      // IVF-SQ8 (r14, v21 — faiss IndexIVFScalarQuantizer): probed cells
      // scan int8 codes, queries stay raw. Cosine tier → scored vs the
      // exact COSINE top-10 (no-rerank rows rank by dequantized cosine);
      // the refined row ranks by exact L2 → scored vs the L2 ground
      // truth (the v18/v20 convention). Trained rows train the coarse
      // codebook outside timed().
      {
        for (np <- Seq(1, 2)) {
          val (sec, df) = timed(() =>
            serve(emb, train(emb, AnnIndex(Coarse(Every(every10)), Sq8)), k,
              np))
          val r = meanRecall(exact, df)
          cells += s"""  "ivf_sq8_c10_nprobe$np": {"sec": ${f"$sec%.3f"}, "recall_at_10": ${f"$r%.4f"}}"""
          System.err.println(s"  ivf-sq8 c=10 np=$np: ${f"$sec%.3f"}s recall=${f"$r%.4f"}")
        }
        val t0 = System.nanoTime()
        val sq8 = AnnIndex(Coarse(Every(every10), iters = 2), Sq8)
        val six = train(emb, sq8)
        val trainSec = (System.nanoTime() - t0) / 1e9
        for (np <- Seq(1, 2)) {
          val (sec, df) = timed(() => serve(emb, six, k, np))
          val r = meanRecall(exact, df)
          cells += s"""  "ivf_sq8_trained_c10_nprobe$np": {"sec": ${f"$sec%.3f"}, "train_sec": ${f"$trainSec%.3f"}, "recall_at_10": ${f"$r%.4f"}}"""
          System.err.println(s"  ivf-sq8-trained c=10 np=$np: ${f"$sec%.3f"}s" +
            s" (train ${f"$trainSec%.3f"}s) recall=${f"$r%.4f"}")
        }
        // the same (deterministic) training, served with an exact re-rank
        val rix = train(emb, sq8.copy(rerank = 50))
        val (rsec, rdf) = timed(() => serve(emb, rix, k, 2))
        val rr = meanRecall(exactL2, rdf)
        cells += s"""  "ivf_sq8_refined_trained_c10_nprobe2_rerank50": {"sec": ${f"$rsec%.3f"}, "train_sec": ${f"$trainSec%.3f"}, "recall_at_10": ${f"$rr%.4f"}}"""
        System.err.println(s"  ivf-sq8-refined c=10: ${f"$rsec%.3f"}s recall=${f"$rr%.4f"}")
      }
      exactL2.unpersist()

      // HNSW-routed IVF (r14, v22): greedy graph assignment at C=40
      // cells vs the brute-force argmax at the same codebook — the cost
      // claim is per-row assignment flops (O(M·logC·d) vs O(C·d), only
      // visible at large C), the recall claim is how much the
      // approximate walk loses. Graph builds outside timed()
      // (train_sec).
      {
        val every40 = math.max(1L, n / 40).toInt
        for (np <- Seq(1, 2)) {
          val (sec, df) = timed(() =>
            serve(emb, train(emb, AnnIndex(Coarse(Cells(40, Some(n))))), k, np))
          val r = meanRecall(exact, df)
          cells += s"""  "ivf_fixedC_c40_nprobe$np": {"sec": ${f"$sec%.3f"}, "recall_at_10": ${f"$r%.4f"}}"""
          System.err.println(s"  ivf c=40 np=$np: ${f"$sec%.3f"}s recall=${f"$r%.4f"}")
        }
        val t0 = System.nanoTime()
        val hix = train(emb, AnnIndex(Coarse(Every(every40), hnsw = Some(8))))
        val trainSec = (System.nanoTime() - t0) / 1e9
        for (np <- Seq(1, 2)) {
          val (sec, df) = timed(() => serve(emb, hix, k, np))
          val r = meanRecall(exact, df)
          cells += s"""  "ivf_hnsw_c40_m8_nprobe$np": {"sec": ${f"$sec%.3f"}, "train_sec": ${f"$trainSec%.3f"}, "recall_at_10": ${f"$r%.4f"}}"""
          System.err.println(s"  ivf-hnsw c=40 m=8 np=$np: ${f"$sec%.3f"}s" +
            s" (build ${f"$trainSec%.3f"}s) recall=${f"$r%.4f"}")
        }
      }

      exact.unpersist(); emb.unpersist()
      s""" "$label": {\n  "n_vectors": $n,\n${cells.result().mkString(",\n")}\n }"""
    }
    sb.append(scaleJson.mkString(",\n"))
    sb.append("\n }\n}\n")
    val w = new java.io.PrintWriter(out)
    w.write(sb.toString); w.close()
    println(s"Wrote $out")
    spark.stop()
  }
}
