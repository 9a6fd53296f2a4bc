package graft
package registry

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Dedup, TextAnalysis}
import graft.operators.Similarity.{AnnIndex, Coarse, Sqrt}
import Support.{annTopK, annTrain, bpeMergesBytes1k, plantedBoilerplate, tbl,
  tblPar}
import TFamily.{bpeBytesMergeReplayCtes, dsirNgramCteBlock, langPredCtes,
  sqlBytePretok, sqlCharFold, sqlDsirNgramWeight, sqlFuzzyLshCtes, sqlGopherFx,
  sqlGopherKeep, sqlGopherMetrics, sqlGopherRepKeep, sqlGopherRepMetrics,
  sqlGumbel, sqlLogisticChain, sqlMixedScript, sqlPairJaccard, sqlSpamFx,
  substringSpanCtes}
import VFamily.{semdedupCteBlock, sqlDot, sqlNormSq}

/** The p family: multi-stage pipelines that chain the t and v
  * operators. Their oracles compose the t and v families' SQL replays.
  */
object PFamily {

  val entries: Seq[Entry] = Seq(
    // end-to-end training-data pipeline: exact dedup (md5 digest, min-id
    // keeper) → NEAR-dup removal (MinHash/LSH candidates, hashed-shingle
    // Jaccard verify, larger-id partner dropped) → language filter
    // (single-pass native langId must agree with the label) → quality
    // scoring → token/punctuation filters → typed output. One digest
    // shuffle + one LSH band shuffle; language/quality stages are
    // row-local — the integration shape every stage above was built for.
    Entry("p1_training_pipeline", (s, dir) => {
      import graft.operators.Dedup
      val docs = tblPar(s, dir, "documents", "doc_id")
      val keepers = docs.groupBy(md5(col("text")).as("digest"))
        .agg(min(col("doc_id")).as("doc_id"))
      // referenced by both the LSH stage and the final keep-set:
      // materialize so the parquet scan + digest shuffle run once, not
      // three times (lazy localCheckpoint, not .persist() — see t5)
      val deduped = docs.join(keepers, Seq("doc_id"), "left_semi")
        .localCheckpoint(false)
      val pre = deduped
        .select(col("doc_id"), Dedup.shingleHashes(col("text"), 3).as("hs"))
        .select(col("doc_id"), col("hs"),
          Dedup.minhashSignature(col("hs"), 16).as("sig"))
        .localCheckpoint(false) // three consumers: bands, h1, h2
      val cands = Dedup.lshCandidatePairs(
        Dedup.lshBands(pre, "doc_id", "sig", 2, 8), "doc_id")
      val nearDrops = cands
        .join(pre.select(col("doc_id").as("id1"), col("hs").as("h1")), "id1")
        .join(pre.select(col("doc_id").as("id2"), col("hs").as("h2")), "id2")
        .filter(round(Dedup.jaccard(col("h1"), col("h2")), 6) >= 0.5)
        .select(col("id2").as("doc_id")).distinct()
      val kept = deduped.join(nearDrops, Seq("doc_id"), "left_anti")
        .filter(TextAnalysis.langId(col("text")) === col("lang"))
      val scored = kept.select(
        col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_tokens"),
        round((length(col("text")).cast(DoubleType) -
            length(regexp_replace(col("text"), "[.,!?;:]", ""))) /
          greatest(length(col("text")).cast(DoubleType), lit(1.0)), 6)
          .as("punct_ratio"))
      scored.filter(col("n_tokens") >= 20 && col("punct_ratio") < 0.05)
        .orderBy("doc_id")
    },
      s"""WITH k AS (SELECT md5(text) AS digest, min(doc_id) AS doc_id
         |    FROM documents GROUP BY md5(text)),
         |d AS (SELECT * FROM documents
         |  WHERE doc_id IN (SELECT doc_id FROM k)),
         |dtoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM d),
         |dsh AS (SELECT doc_id, list_distinct(list_transform(
         |    range(0, greatest(len(t) - 3, 0) + 1),
         |    i -> array_to_string(t[i+1:i+3], ' '))) AS shingles FROM dtoks),
         |dhs AS (SELECT doc_id,
         |  list_transform(shingles, s -> ${sqlCharFold("s")}) AS hashes FROM dsh),
         |dsig AS (SELECT doc_id, list_transform(range(16), p ->
         |  list_min(list_transform(hashes,
         |    h -> (h * (2 * p + 1) + (12345 * p + 1)) % 2147483647))) AS sig FROM dhs),
         |dbands AS (SELECT doc_id, b AS band_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), sig[b*8+1:b*8+8]),
         |    (acc, x) -> (acc * 1000003 + x) % 2147483647) AS band_hash
         |  FROM dsig, range(2) r(b)),
         |dcands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM dbands a JOIN dbands b
         |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |   AND a.doc_id < b.doc_id),
         |drops AS (SELECT DISTINCT id2 AS doc_id FROM dcands
         |  JOIN dhs h1 ON h1.doc_id = id1
         |  JOIN dhs h2 ON h2.doc_id = id2
         |  WHERE CAST(len(list_distinct(list_intersect(h1.hashes, h2.hashes))) AS DOUBLE) /
         |        len(list_distinct(list_concat(h1.hashes, h2.hashes))) >= 0.4999995),
         |dd AS (SELECT * FROM d
         |  WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
         |${langPredCtes("dd")},
         |lk AS (SELECT dd.* FROM dd JOIN lp ON dd.doc_id = lp.doc_id
         |  AND lp.pred = dd.lang),
         |s AS (SELECT doc_id, lang,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
         |      AS n_tokens,
         |    round((CAST(length(text) AS DOUBLE) -
         |        length(regexp_replace(text, '[.,!?;:]', '', 'g'))) /
         |      greatest(CAST(length(text) AS DOUBLE), 1.0), 6) AS punct_ratio
         |  FROM lk)
         |SELECT doc_id, lang, n_tokens, punct_ratio FROM s
         |WHERE n_tokens >= 20 AND punct_ratio < 0.05
         |ORDER BY doc_id""".stripMargin),

    // Embedding pipeline end-to-end (the vector twin of p1): SemDeDup
    // prunes near-duplicates (planted copies must go), then IVF ANN serves
    // top-k over the SURVIVING corpus only — the standard
    // dedup-before-index ordering of a production vector pipeline.
    Entry("p2_embedding_pipeline", (s, dir) => {
      // Both stages on the √n operating point (r10 re-anchor): a fixed
      // stride-50 grew both codebooks linearly with the corpus, making
      // the assignment passes O(n²/50) across scale factors — the same
      // parametrization that blew v3/v5's 10×-data ratios in r8. √n
      // balances assignment vs within-cell pairwise at O(n^1.5), capped
      // at 4096 centroids (constant-size regime at extreme scale).
      val emb = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val copies = emb.select((col("vec_id") + 10000).as("vec_id"),
        col("embedding"))
      val all = emb.unionByName(copies)
      // One count feeds semDedupAuto's stride (knownN); the survivor set
      // is materialized ONCE (localCheckpoint) before indexing — without
      // it, the √n index's count + codebook collect + the final ranking
      // each re-evaluated the whole k-means/pairwise lineage (a real
      // pipeline persists the deduped corpus before building the index)
      val kept = graft.operators.Similarity.semDedupAuto(all, "vec_id",
          "embedding", iters = 1, threshold = 0.95, knownN = all.count())
        .filter(col("keep")).select(col("id").as("vec_id"))
      val corpus = all.join(kept, Seq("vec_id"), "left_semi")
        .localCheckpoint(true)
      annTopK(corpus, annTrain(corpus, AnnIndex(Coarse(Sqrt))))
        .orderBy(col("query_id"), desc("sim"), col("neighbor_id"))
    },
      // pipeline composition: the full semDedup replay feeds the kept set,
      // then the v3 IVF algebra runs over survivors only
      s"""WITH ${semdedupCteBlock(
             "SELECT GREATEST(1, CAST(round(sqrt(count(*))) AS BIGINT), " +
               "count(*) // 4096) FROM base")},
         |kept AS (SELECT c.id, c.v FROM cell1 c
         |  LEFT JOIN dropped d ON d.id = c.id WHERE d.id IS NULL),
         |kcents AS (SELECT id AS cid, v AS cv FROM kept
         |  WHERE id % (SELECT GREATEST(1,
         |    CAST(round(sqrt(count(*))) AS BIGINT),
         |    count(*) // 4096) FROM kept) = 0),
         |kassign AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM kept CROSS JOIN kcents),
         |kcells AS (SELECT id, v, cid AS cell FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM kassign) WHERE rn = 1),
         |kq AS (SELECT id AS query_id, v AS qv, cell FROM kcells WHERE id < 10),
         |kscored AS (SELECT query_id, c.id AS neighbor_id,
         |  round(${sqlDot("qv", "c.v")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("c.v")})), 6) AS sim
         |  FROM kq JOIN kcells c USING (cell) WHERE query_id <> c.id),
         |krk AS (SELECT query_id, neighbor_id, sim, row_number() OVER (
         |  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
         |  FROM kscored)
         |SELECT query_id, neighbor_id, sim FROM krk WHERE rn <= 3
         |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin),

    // End-to-end curation pipeline (the text twin of p2's vector chain):
    // boilerplate line removal → exact dedup (keep min-id copy) →
    // token-count quality gate → 20/15 token-window chunking →
    // per-chunk fingerprints. Shuffle inventory: one line-count agg,
    // one digest agg + one semi join, the rest row-local.
    Entry("p4_curation_pipeline", (s, dir) => {
      import graft.operators.TextAnalysis
      val base = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val docs = base.select(col("doc_id"),
        concat_ws("\n",
          when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter"))
            .otherwise(concat(lit("header "), col("doc_id"))),
          col("text")).as("text"))
      val corpus = docs.unionByName(docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 20000).as("doc_id"), col("text")))
      val cleaned = TextAnalysis.lineDedup(corpus, "doc_id", "text",
        minDocs = 10).select("doc_id", "text")
      val keep = cleaned.groupBy(md5(col("text")))
        .agg(min("doc_id").as("doc_id")).select("doc_id")
      val deduped = cleaned.join(keep, Seq("doc_id"), "left_semi")
      val quality = deduped.filter(
        TextAnalysis.tokenCount(col("text")) >= 20)
      TextAnalysis.chunkTokens(quality, "doc_id", "text", 20, 15)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"),
          graft.functions.PortableHash.charFold(col("chunk")).as("fp"))
        .orderBy("doc_id", "chunk_idx")
    },
      // full curation replay: t18 line-dedup algebra → md5 keeper dedup →
      // token gate → t13 chunk algebra → charFold fingerprints
      s"""WITH docs AS (SELECT doc_id, concat_ws(chr(10),
         |    CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter'
         |         ELSE 'header ' || doc_id END,
         |    text) AS text FROM documents),
         |corpus AS (SELECT * FROM docs UNION ALL
         |  SELECT doc_id + 20000 AS doc_id, text FROM docs WHERE doc_id < 50),
         |ln AS (SELECT doc_id, list_filter(string_split(text, chr(10)),
         |    l -> len(trim(l)) > 0) AS l FROM corpus),
         |dup AS (SELECT line FROM (SELECT doc_id, unnest(list_distinct(l))
         |    AS line FROM ln) GROUP BY line HAVING count(*) >= 10),
         |dl AS (SELECT coalesce(list(line), []) AS dups FROM dup),
         |cleaned AS (SELECT doc_id, array_to_string(list_filter(l,
         |    x -> NOT list_contains(dups, x)), chr(10)) AS text
         |  FROM ln CROSS JOIN dl),
         |keep AS (SELECT min(doc_id) AS doc_id FROM cleaned
         |  GROUP BY md5(text)),
         |dd AS (SELECT c.doc_id, c.text FROM cleaned c JOIN keep
         |  USING (doc_id)),
         |q AS (SELECT doc_id,
         |    list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> len(t) > 0) AS toks
         |  FROM dd
         |  WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 20),
         |ch AS (SELECT doc_id, i, list_slice(toks, i * 15 + 1, i * 15 + 20)
         |    AS sl
         |  FROM (SELECT doc_id, toks,
         |      UNNEST(generate_series(0, CASE WHEN len(toks) = 0 THEN -1
         |        ELSE CAST(ceil(greatest(len(toks) - 20, 0) / 15.0) AS BIGINT)
         |        END)) AS i
         |    FROM q))
         |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |  CAST(len(sl) AS INT) AS chunk_tokens,
         |  ${sqlCharFold("array_to_string(sl, ' ')")} AS fp
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin),

    // Hybrid retrieval: BM25 candidates + cosine-ANN candidates for one
    // query, fused by reciprocal-rank fusion — the standard two-tower
    // serving shape; each ranker prunes at corpus scale, fusion runs on
    // k-sized candidate lists only
    Entry("p3_hybrid_retrieval", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val emb = tbl(s, dir, "embeddings")
      val lex = graft.operators.TextAnalysis.bm25TopK(docs, "doc_id",
        "text", Seq("spark", "window", "merge"), k = 50)
      val vec = graft.operators.Similarity.topKNeighbors(
          emb.filter(col("vec_id") === 0), emb, "vec_id", "embedding",
          k = 50)
        .select(col("neighbor_id").as("doc_id"), col("sim").as("score"))
      graft.operators.Similarity.rrfFuse(Seq(lex, vec), "doc_id", "score",
        k = 10)
    },
      // full replay: BM25 top-50 (t17 algebra), cosine top-50 for vec 0
      // (v1 algebra), then RRF with c=60 over the two candidate lists
      s"""WITH toks AS (SELECT doc_id,
         |    list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> len(t) > 0) AS t
         |  FROM documents),
         |st AS (SELECT count(*) * 1.0 AS n, sum(len(t)) * 1.0 AS tt,
         |    sum(CASE WHEN list_contains(t, 'spark') THEN 1 ELSE 0 END) * 1.0 AS df0,
         |    sum(CASE WHEN list_contains(t, 'window') THEN 1 ELSE 0 END) * 1.0 AS df1,
         |    sum(CASE WHEN list_contains(t, 'merge') THEN 1 ELSE 0 END) * 1.0 AS df2
         |  FROM toks),
         |tf AS (SELECT doc_id, len(t) * 1.0 AS dl,
         |    len(list_filter(t, x -> x = 'spark')) * 1.0 AS tf0,
         |    len(list_filter(t, x -> x = 'window')) * 1.0 AS tf1,
         |    len(list_filter(t, x -> x = 'merge')) * 1.0 AS tf2
         |  FROM toks),
         |sc AS (SELECT doc_id, round(
         |    ln(1.0 + (st.n - st.df0 + 0.5) / (st.df0 + 0.5)) * tf0 * (1.2 + 1.0)
         |      / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (st.tt / st.n)))
         |  + ln(1.0 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5)) * tf1 * (1.2 + 1.0)
         |      / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (st.tt / st.n)))
         |  + ln(1.0 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5)) * tf2 * (1.2 + 1.0)
         |      / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (st.tt / st.n))), 6)
         |  AS score FROM tf, st),
         |lex AS (SELECT doc_id, score FROM sc WHERE score > 0
         |  ORDER BY score DESC, doc_id LIMIT 50),
         |lrk AS (SELECT doc_id, row_number() OVER (
         |  ORDER BY score DESC, doc_id) AS ra FROM lex),
         |q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
         |  FROM embeddings WHERE vec_id = 0),
         |cvs AS (SELECT vec_id AS doc_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
         |  FROM embeddings),
         |vsc AS (SELECT doc_id,
         |  round(${sqlDot("qv", "cv")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("cv")})), 6) AS sim
         |  FROM cvs, q WHERE doc_id <> 0),
         |vec AS (SELECT doc_id, sim FROM vsc
         |  ORDER BY sim DESC, doc_id LIMIT 50),
         |vrk AS (SELECT doc_id, row_number() OVER (
         |  ORDER BY sim DESC, doc_id) AS rb FROM vec),
         |fused AS (SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         |  round(coalesce(1.0 / (60 + l.ra), 0.0)
         |      + coalesce(1.0 / (60 + v.rb), 0.0), 6) AS rrf
         |  FROM lrk l FULL OUTER JOIN vrk v ON l.doc_id = v.doc_id)
         |SELECT doc_id, rrf FROM fused
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin),

    // Curation pipeline variant closing the Lee et al. loop end-to-end:
    // substring spans found, APPLIED (cleaned text re-materialized),
    // quality-filtered, then chunked for training — the p4 ending over
    // substring-deduped instead of line-deduped text. Same scale shape
    // as its stages: one count shuffle + one output-bounded join +
    // row-local chunking.
    Entry("p4b_curation_substring", (s, dir) => {
      import graft.operators.{Dedup, TextAnalysis}
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = plantedBoilerplate(d)
      val spans = Dedup.substringDedupSpans(corpus, "doc_id", "text",
        k = 8, minDocs = 3)
      val cleaned = Dedup.applySubstringSpans(corpus, spans)
        .select(col("doc_id"), col("text_clean").as("text"))
      val quality = cleaned.filter(
        TextAnalysis.tokenCount(col("text")) >= 20)
      TextAnalysis.chunkTokens(quality, "doc_id", "text", 20, 15)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"),
          graft.functions.PortableHash.charFold(col("chunk")).as("fp"))
        .orderBy("doc_id", "chunk_idx")
    },
      // t27b cleaning chain, then p4's quality-filter + chunk replay over
      // the cleaned text
      s"""WITH $substringSpanCtes,
         |kept AS (SELECT k.doc_id, k.tok, k.i FROM tok k
         |  WHERE NOT EXISTS (SELECT 1 FROM spans s
         |    WHERE s.doc_id = k.doc_id
         |      AND k.i - 1 >= s.start_tok AND k.i - 1 < s.end_tok)),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i)
         |    AS text_clean FROM kept GROUP BY doc_id),
         |cl AS (SELECT tk.doc_id, coalesce(a.text_clean, '') AS text
         |  FROM tk LEFT JOIN agg a USING (doc_id)),
         |q AS (SELECT doc_id,
         |    list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> len(t) > 0) AS toks
         |  FROM cl
         |  WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 20),
         |ch AS (SELECT doc_id, i, list_slice(toks, i * 15 + 1, i * 15 + 20)
         |    AS sl
         |  FROM (SELECT doc_id, toks,
         |      UNNEST(generate_series(0, CASE WHEN len(toks) = 0 THEN -1
         |        ELSE CAST(ceil(greatest(len(toks) - 20, 0) / 15.0) AS BIGINT)
         |        END)) AS i
         |    FROM q))
         |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |  CAST(len(sl) AS INT) AS chunk_tokens,
         |  ${sqlCharFold("array_to_string(sl, ' ')")} AS fp
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin),

    // the resampling loop as a pipeline: weights → Gumbel-top-k(150) →
    // per-language mix of the SELECTED slice. The corpus is 43.6% en;
    // the selected slice's en share rising far above that is the
    // operator doing its job (pinned quantitatively in TrainingOpsSpec;
    // here the full mix is the oracle-checked output). ONE broadcast
    // join (the k-row selection against the corpus), one group-by.
    Entry("p5_dsir_curation", (s, dir) => {
      val docs = tblPar(s, dir, "documents", "doc_id")
      val w = TextAnalysis.dsirWeightsNgram(docs, "doc_id", "text",
        target = col("lang") === "en", buckets = 64, roundTo = 4)
      val sel = TextAnalysis.dsirResample(w, "doc_id", "weight", k = 150,
        roundTo = 4)
      broadcast(sel)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy("lang")
        // decimal sum, not double avg: float addition is not
        // associative, so a cross-partition double aggregate could
        // last-ulp-flip the rounding between runs/engines; the weights
        // are already rounded to 4 decimals, so a decimal sum is EXACT
        .agg(count(lit(1)).as("n_docs"),
          sum(col("weight").cast("decimal(18,4)")).as("sum_weight"))
        .orderBy("lang")
    },
      // the selected slice's language mix: same chain at k=150, joined
      // back to the corpus and grouped per language
      s"""WITH ${dsirNgramCteBlock()},
         |w AS (SELECT doc_id, $sqlDsirNgramWeight AS weight
         |  FROM bks CROSS JOIN lrarr),
         |sel AS (SELECT doc_id, weight,
         |    round(weight + ${sqlGumbel("doc_id")}, 4) AS skey
         |  FROM w ORDER BY skey DESC, doc_id LIMIT 150)
         |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  sum(CAST(s.weight AS DECIMAL(18, 4))) AS sum_weight
         |FROM sel s JOIN documents d USING (doc_id)
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin),

    // the end-to-end multilingual TOKENIZE-AND-PACK pipeline — what a
    // pretraining data build actually runs: mixed-script corpus →
    // whitespace quality gate → TRUE token counts from the byte-level
    // id encoder (one broadcast, row-local) → shard-local sequence
    // packing into 512-token contexts (one shuffle on shard). Every
    // stage is an already-oracled operator; this entry proves the
    // COMPOSITION end-to-end cross-engine.
    // THE END-TO-END PRETRAINING CURATION PIPELINE (p7): exact dedup
    // (hash-groupBy keep-first) → quality gate → DSIR n-gram importance
    // RESAMPLING toward the en target (Xie et al.) → survivors packed
    // into 512-token training contexts (shard-local running sums, one
    // shuffle). p1/p4/p5/p6 prove the stages; this entry proves the
    // LONGEST composition — dedup feeding selection feeding packing —
    // cross-engine, the chain a real data build runs nightly. Scale
    // shape: one digest shuffle + one ≤B-row profile pass + a
    // TakeOrderedAndProject selection + one broadcast semi-join + the
    // shard repartition; text never shuffles.
    Entry("p7_pretrain_pipeline", (s, dir) => {
      val docs = tblPar(s, dir, "documents", "doc_id")
      val keep = docs.groupBy(md5(col("text")).as("digest"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val gated = docs.join(keep, Seq("doc_id"), "left_semi")
        .filter(TextAnalysis.tokenCount(col("text")) >= 20)
        // two consumers (DSIR profile pass, pack join): lazy
        // localCheckpoint, not .persist() — see t5
        .localCheckpoint(false)
      val w = TextAnalysis.dsirWeightsNgram(gated, "doc_id", "text",
        target = col("lang") === "en", buckets = 64, roundTo = 4)
      val sel = TextAnalysis.dsirResample(w, "doc_id", "weight", k = 200,
        roundTo = 4)
      val chosen = gated
        .join(broadcast(sel.select("doc_id")), Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      TextAnalysis.packSequences(chosen, "doc_id", "n_tokens",
          capacity = 512, shards = 8)
        .orderBy("doc_id")
    },
      // dedup → gate → DSIR profile/weights/Gumbel-top-k selection →
      // the t26 shard/cum/bin packing algebra, one replay end-to-end
      s"""WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents
         |  GROUP BY md5(text)),
         |src AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)
         |  WHERE len(list_filter(string_split_regex(trim(d.text), '\\s+'),
         |    t -> len(t) > 0)) >= 20),
         |${dsirNgramCteBlock("src")},
         |w AS (SELECT doc_id, $sqlDsirNgramWeight AS weight
         |  FROM bks CROSS JOIN lrarr),
         |sel AS (SELECT doc_id,
         |    round(weight + ${sqlGumbel("doc_id")}, 4) AS skey
         |  FROM w ORDER BY skey DESC, doc_id LIMIT 200),
         |cnt AS (SELECT s2.doc_id,
         |    CAST(len(list_filter(string_split_regex(trim(s2.text), '\\s+'),
         |      t -> len(t) > 0)) AS BIGINT) AS tk,
         |    ${sqlCharFold("CAST(s2.doc_id AS VARCHAR)")} % 8 AS shard
         |  FROM src s2 JOIN sel USING (doc_id)),
         |c AS (SELECT doc_id, tk, shard,
         |    sum(tk) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM cnt)
         |SELECT doc_id, shard, CAST(cum - tk AS BIGINT) AS offset,
         |  CAST(floor((cum - tk) / 512) AS BIGINT) AS bin_first,
         |  CASE WHEN tk > 0 THEN CAST(floor((cum - 1) / 512) AS BIGINT)
         |       ELSE CAST(floor((cum - tk) / 512) AS BIGINT) END
         |    AS bin_last,
         |  tk AS tokens
         |FROM c ORDER BY doc_id""".stripMargin),

    Entry("p6_multilingual_pack", (s, dir) => {
      val model = TextAnalysis.bpeModelBytes(s, bpeMergesBytes1k)
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"), Fixtures.mixedScriptFixture(
          col("text"), col("lang")).as("text"))
        .filter(TextAnalysis.tokenCount(col("text")) >= 20)
        .select(col("doc_id"),
          size(TextAnalysis.bpeEncodeIdsBytes(col("text"), model))
            .cast("long").as("n_tokens"))
      TextAnalysis.packSequences(docs, "doc_id", "n_tokens",
          capacity = 512, shards = 8)
        .orderBy("doc_id")
    },
      // mixed fixture → t26's whitespace-count gate → the byte-level
      // chain's TRUE token counts per doc → the t26 shard/cum/bin algebra
      s"""WITH RECURSIVE
         |docsrc AS (SELECT doc_id, $sqlMixedScript AS mixed
         |  FROM documents),
         |gate AS (SELECT doc_id, mixed FROM docsrc
         |  WHERE len(regexp_split_to_array(trim(mixed), '\\s+')) >= 20),
         |tkl AS (SELECT doc_id,
         |    regexp_extract_all(mixed, '$sqlBytePretok') AS t FROM gate),
         |tok AS (SELECT doc_id, unnest(t) AS tok,
         |    unnest(generate_series(1, len(t))) AS i FROM tkl),
         |$bpeBytesMergeReplayCtes,
         |jp AS (SELECT o.doc_id, f.pieces
         |  FROM tok o JOIN fin f USING (tok)),
         |cnt AS (SELECT g.doc_id, CAST(coalesce(a.n, 0) AS BIGINT) AS tk,
         |    ${sqlCharFold("CAST(g.doc_id AS VARCHAR)")} % 8 AS shard
         |  FROM gate g LEFT JOIN (SELECT doc_id, sum(len(pieces)) AS n
         |    FROM jp GROUP BY doc_id) a USING (doc_id)),
         |c AS (SELECT doc_id, tk, shard,
         |    sum(tk) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM cnt)
         |SELECT doc_id, shard, CAST(cum - tk AS BIGINT) AS offset,
         |  CAST(floor((cum - tk) / 512) AS BIGINT) AS bin_first,
         |  CASE WHEN tk > 0 THEN CAST(floor((cum - 1) / 512) AS BIGINT)
         |       ELSE CAST(floor((cum - tk) / 512) AS BIGINT) END
         |    AS bin_last,
         |  tk AS tokens
         |FROM c ORDER BY doc_id""".stripMargin),

    // THE GOPHER-GATED CURATION PIPELINE (p8): exact dedup (hash-groupBy
    // keep-first) → the published Gopher rule suite as the quality gate
    // (t31) → FUZZY benchmark decontamination (t32: MinHash-LSH + Jaccard
    // verify, flagged docs dropped) → survivors packed into 512-token
    // training contexts. p7 proved the DSIR-resampling recipe; p8 proves
    // the other canonical recipe — filter-by-rules + decontaminate —
    // composed end-to-end in ONE DuckDB replay. Scale shape: one digest
    // shuffle, row-local rules, broadcast-only decontamination probes,
    // one shard repartition; text never shuffles.
    Entry("p8_gopher_decontam_pack", (s, dir) => {
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"),
          Fixtures.multiLineFixture(col("text")).as("text"))
      val keep = docs.groupBy(md5(col("text")).as("digest"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val rules = TextAnalysis.gopherRules(col("text")).toMap
      val repRules = TextAnalysis.gopherRepetitionRules(col("text")).toMap
      val gated = docs.join(keep, Seq("doc_id"), "left_semi")
        .filter(rules("keep") === 1 && repRules("keep_rep") === 1)
        // two consumers (decontam band/verify pass, pack): lazy
        // localCheckpoint, not .persist() — see t5
        .localCheckpoint(false)
      val bench = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" held out eval item")).as("text"))
      val flagged = TextAnalysis.decontaminateFuzzy(gated, bench, "doc_id",
          "text", shingleN = 3, numHashes = 16, bands = 4, jaccardMin = 0.5)
        .select("doc_id").distinct()
      val clean = gated.join(broadcast(flagged), Seq("doc_id"), "left_anti")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      TextAnalysis.packSequences(clean, "doc_id", "n_tokens",
          capacity = 512, shards = 8)
        .orderBy("doc_id")
    },
      // fixture → exact dedup → FULL Gopher gate (quality rules AND the
      // r13 repetition tiers) → fuzzy-decontam flag-and-drop → the t26
      // shard/cum/bin packing algebra
      s"""WITH ${sqlGopherFx("documents")},
         |keep AS (SELECT min(doc_id) AS doc_id FROM fx GROUP BY md5(text)),
         |ded AS (SELECT f.* FROM fx f JOIN keep USING (doc_id)),
         |${sqlGopherMetrics("ded")},
         |${sqlGopherRepMetrics("ded")},
         |gat AS (SELECT g.doc_id, g.text FROM gm g
         |  JOIN grm r ON r.doc_id = g.doc_id
         |  WHERE $sqlGopherKeep AND $sqlGopherRepKeep),
         |bench AS (SELECT doc_id + 100000 AS bench_id,
         |    text || ' held out eval item' AS text
         |  FROM fx WHERE doc_id % 50 = 0),
         |${sqlFuzzyLshCtes("gat", "bench")},
         |flagged AS (SELECT DISTINCT c.doc_id
         |  FROM cand c JOIN chs ch ON ch.doc_id = c.doc_id
         |  JOIN bhs bh ON bh.bench_id = c.bench_id
         |  WHERE $sqlPairJaccard >= 0.5),
         |clean AS (SELECT * FROM gat
         |  WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
         |cnt AS (SELECT doc_id,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS tk,
         |    ${sqlCharFold("CAST(doc_id AS VARCHAR)")} % 8 AS shard
         |  FROM clean),
         |c AS (SELECT doc_id, tk, shard,
         |    sum(tk) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM cnt)
         |SELECT doc_id, shard, CAST(cum - tk AS BIGINT) AS offset,
         |  CAST(floor((cum - tk) / 512) AS BIGINT) AS bin_first,
         |  CASE WHEN tk > 0 THEN CAST(floor((cum - 1) / 512) AS BIGINT)
         |       ELSE CAST(floor((cum - tk) / 512) AS BIGINT) END
         |    AS bin_last,
         |  tk AS tokens
         |FROM c ORDER BY doc_id""".stripMargin),

    // THE TRAINED-GATE CURATION PIPELINE (p9), the fastText distillation
    // recipe real curation stacks run: WEAK LABELS from the published
    // Gopher rules (quality ∧ repetition — the repetition tier is what
    // flags the planted boilerplate docs) computed on a bounded labeled
    // SEED SLICE (doc_id < 250), a 4-step trained classifier distilled
    // from them, then the FULL corpus gated on the trained score — the
    // smooth generalization of p8's hard rule conjunction, and the
    // production shape (rules run on a sample; the cheap trained model
    // scores the 100 TB corpus). The gate threshold is the LABEL PRIOR
    // (mean y over the seed — "keep documents the model scores above
    // the corpus base rate"), the calibration-free operating point for
    // imbalanced weak labels; it keeps ~63% of the corpus and drops
    // every planted-spam doc. Scale shape: labels + training touch only
    // the seed slice (4 scans + ≤64-row aggregates); corpus
    // scoring/gating is one row-local scan (zero joins, zero shuffles —
    // pinned).
    Entry("p9_trained_gate", (s, dir) => {
      // p8's multi-line fixture (injects the stop words the synthetic
      // corpus lacks) composed with the planted-boilerplate spam fixture
      val docs = tblPar(s, dir, "documents", "doc_id")
        .select(col("doc_id"),
          Fixtures.spamFixture(
            Fixtures.multiLineFixture(col("text")),
            col("doc_id")).as("text"))
      val rules = TextAnalysis.gopherRules(col("text")).toMap
      val repRules = TextAnalysis.gopherRepetitionRules(col("text")).toMap
      val label = rules("keep") === 1 && repRules("keep_rep") === 1
      val seed = docs.filter(col("doc_id") < 250)
      val w = TextAnalysis.trainLogistic(seed, "doc_id", "text", label,
        buckets = 64, steps = 4, lr = 128.0)
      val thr = seed.select(avg(label.cast("double"))).head().getDouble(0)
      TextAnalysis.linearScore(docs, "doc_id", "text", dim = 64,
          weights = Some(w), bias = 0.0)
        .filter(col("score") >= lit(thr))
        .orderBy("doc_id")
    },
      // multi-line + spam fixtures → Gopher quality ∧ repetition
      // conjunction as WEAK LABELS on the doc_id < 250 seed slice → the
      // same trainer chain → the FULL corpus gated at the label prior
      s"""WITH ${sqlGopherFx("documents")},
         |${sqlSpamFx("fx")},
         |seed AS (SELECT doc_id, text FROM sfx WHERE doc_id < 250),
         |${sqlGopherMetrics("seed")},
         |${sqlGopherRepMetrics("seed")},
         |lab AS (SELECT gm.doc_id,
         |    CASE WHEN ($sqlGopherKeep) AND ($sqlGopherRepKeep)
         |      THEN 1.0 ELSE 0.0 END AS y, gm.text
         |  FROM gm JOIN grm ON grm.doc_id = gm.doc_id),
         |${sqlLogisticChain("lab", "sfx", 64, 4, 128.0)}
         |SELECT doc_id, n_tokens, score FROM lg_sc
         |WHERE score >= (SELECT avg(y) FROM lg_tr)
         |ORDER BY doc_id""".stripMargin),
  )
}
