package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash

/** Document deduplication for large-scale training-data pipelines:
  * exact (hash-groupBy), MinHash+LSH banding, SimHash, and exact n-gram
  * Jaccard verification.
  *
  * Scale design notes (100 TB corpus):
  *  - exact dedup is one shuffle on a 128-bit digest — no text comparison
  *    crosses the wire, only (digest, id);
  *  - MinHash signatures are computed row-local (no shuffle); the LSH
  *    band join shuffles (band_id, band_hash) key pairs only, so the
  *    candidate join never materializes the O(n²) pair space — only
  *    same-bucket pairs;
  *  - candidate verification (exact Jaccard) joins texts back by id for
  *    the (tiny) candidate set — two broadcast-able joins at typical
  *    near-dup rates;
  *  - the base hash is pluggable: PortableHash.charFold for cross-engine
  *    verifiable runs, xxhash64 for production throughput.
  */
object Dedup {

  /** Exact duplicate groups by content digest: one row per duplicated
    * digest with the keeper (min id) and the group size. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** Word n-gram shingles of a text column as an array column
    * (first-occurrence distinct). Native single-pass expression; the
    * equivalent HOF form is
    * `array_distinct(transform(sequence(0, greatest(size(toks)-n, 0)),
    *    i -> concat_ws(' ', slice(toks, i+1, n))))`. */
  def shingles(text: Column, n: Int): Column =
    graft.plans.NativeExpressions.word_shingles(text, n)

  /** MinHash signature: for permutation i in [0,k): min over shingles of
    * h_i(baseHash(shingle)). Row-local — no shuffle. Codegen'd native
    * expression; equivalent HOF form:
    * `transform(sequence(0,k-1), i -> array_min(transform(hashes,
    *    h -> (h*(2i+1) + 12345i+1) % Mod)))`. */
  def minhashSignature(shingleHashes: Column, k: Int): Column =
    graft.plans.NativeExpressions.minhash_signature(shingleHashes, k, PortableHash.Mod)

  /** Column of portable-hashed shingles — single-pass native expression
    * (tokenize → distinct shingles → charFold), identical to
    * `transform(shingles(text, n), PortableHash.charFold(_))`. */
  def shingleHashes(text: Column, n: Int): Column =
    graft.plans.NativeExpressions.shingle_hashes(
      text, n, PortableHash.Mult, PortableHash.Mod)

  /** Pluggable-hash variant (e.g. `PortableHash.fastHash` for production
    * throughput when cross-engine verifiability isn't needed). */
  def shingleHashesWith(text: Column, n: Int, baseHash: Column => Column): Column =
    transform(shingles(text, n), baseHash)

  /** LSH banding: (id, band_id, band_hash) rows; docs sharing any band
    * bucket are near-dup candidates. bandHash folds the band's signature
    * slice arithmetically (portable). */
  def lshBands(df: DataFrame, idCol: String, sigCol: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    df.select(col(idCol), posexplode(
        transform(sequence(lit(0), lit(bands - 1)), b =>
          aggregate(slice(col(sigCol), b * rowsPerBand + 1, lit(rowsPerBand)),
            lit(0L),
            (acc, x) => pmod(acc * lit(1000003L) + x, lit(PortableHash.Mod)))))
        .as(Seq("band_id", "band_hash")))

  /** Default hot-bucket cap for [[lshCandidatePairs]]: 1000 members
    * bounds any one bucket's self-join output at ~5·10^5 pair rows. In a
    * healthy MinHash-LSH run a bucket is a handful of genuine near-dups;
    * a 1000-member bucket is degenerate content (empty strings, license
    * headers, boilerplate) whose members still meet through their other,
    * more selective bands. Raise it only with evidence from bucket-size
    * stats — at 100 TB the b² blowup, not the drop, is the real risk.
    * The uncapped `Int.MaxValue` exists for oracle-exact runs (a cap
    * drops data, which would break hash-matched comparisons at toy
    * scale); a 100 TB pipeline passes this cap. */
  val DefaultMaxBucketSize: Int = 1000

  /** Candidate near-duplicate pairs (id1 < id2) from shared LSH buckets,
    * deduplicated across bands.
    *
    * `maxBucketSize` is the hot-bucket guard for skewed corpora: a bucket
    * of b docs yields b² candidate rows, so one boilerplate-heavy bucket
    * (empty strings, license headers) can dominate the whole job at 100 TB.
    * Buckets above the cap are DROPPED before the self-join (their members
    * still pair up through their other, more selective bands — the standard
    * MinHash-LSH skew mitigation). Bucket sizing is a groupBy.count (map-side
    * partial aggregation — safe on exactly the skewed key) + a broadcast
    * anti-join against the few oversize keys; a window count would buffer
    * the whole hot bucket through a sort, defeating the guard. The default
    * `Int.MaxValue` skips the sizing pass entirely. */
  def lshCandidatePairs(bandsDf: DataFrame, idCol: String,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val kept =
      if (maxBucketSize == Int.MaxValue) bandsDf
      else {
        val oversize = bandsDf.groupBy("band_id", "band_hash")
          .agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") > maxBucketSize)
          .select("band_id", "band_hash")
        bandsDf.join(broadcast(oversize), Seq("band_id", "band_hash"),
          "left_anti")
      }
    val a = kept.select(col("band_id"), col("band_hash"), col(idCol).as("id1"))
    val b = kept.select(col("band_id"), col("band_hash"), col(idCol).as("id2"))
    a.join(b, Seq("band_id", "band_hash"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** Verify candidate pairs by true edit-distance similarity — the final
    * stage of the MinHash → LSH → verify dedup cascade: join the pair ids
    * back to their texts and keep pairs whose normalized Levenshtein
    * similarity 1 − dist/max(len) reaches `threshold`. Returns
    * (id1, id2, lev, sim), sim rounded to `roundTo`.
    *
    * Scale shape: the candidate list is LSH-BOUNDED by construction
    * (banded + hot-bucket-capped upstream), so both text lookups
    * BROADCAST the pair-derived side — the corpus is scanned, never
    * shuffled; the O(len²) Levenshtein cost is paid per CANDIDATE, not
    * per corpus pair — exactly the cascade contract (cheap sketches
    * prune, the expensive exact measure runs on survivors only).
    *
    * The matched candidate rows are REPARTITIONED (round-robin) before
    * the Levenshtein projection: without it the expensive compute fuses
    * into the broadcast-probe stage and inherits the CORPUS SCAN's
    * partitioning — a text corpus is bytes-small relative to its verify
    * cost, so a 10×-data run was observed serializing all Levenshtein
    * work onto the 1-2 parquet splits of documents.parquet (2/32 cores
    * busy). Only candidate rows (LSH-bounded) cross this exchange, never
    * the corpus, so the pinned no-corpus-shuffle contract still holds.
    * The partition count is EXPLICIT (defaultParallelism): an argless
    * repartition would let AQE re-coalesce by byte size, and these rows
    * are exactly the bytes-small / compute-heavy shape AQE mis-sizes.
    *
    * The threshold filter carries a value-neutral `rand(seed) * 0.0`
    * term: a deterministic predicate is substituted through the sim/lev
    * projections and pushed below the Repartition by PushDownPredicates
    * (observed: the 10×-data run STILL serialized, with the pushed
    * filter's levenshtein evaluating on the scan side of the exchange).
    * A nondeterministic predicate can never be pushed or conjunct-split,
    * and `+ rand*0.0` is exactly `+ 0.0` for every rand draw in [0,1),
    * so results are bit-identical. */
  def verifyPairs(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, threshold: Double,
      roundTo: Int = 6): DataFrame = {
    val d = docs.select(col(idCol), col(textCol))
    val withA = d
      .join(broadcast(pairs), d(idCol) === pairs("id1"))
      .select(col("id1"), col("id2"), col(textCol).as("__ta"))
    val both = d
      .join(broadcast(withA), d(idCol) === withA("id2"))
      .select(col("id1"), col("id2"), col("__ta"),
        col(textCol).as("__tb"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
    // Banded Levenshtein (r15): only pairs with round(1 - lev/mx,
    // roundTo) ≥ threshold survive the filter, i.e. survivors have
    // lev ≤ mx·(1-threshold) + mx·0.5·10^-roundTo — so the distance
    // only needs computing within that band. The per-row band rides
    // Spark's own UTF8String banded implementation (the built-in
    // 3-arg levenshtein), O(len·band) instead of O(len²) — measured
    // 15 s of task CPU on t22's verify stage at sf0.1, ~5× cut at
    // θ=0.8. Value-identical output: within the band the distance is
    // exact (survivors always are, by the bound above with a +2
    // margin); beyond it the sentinel sim of threshold-1 loses to the
    // filter exactly as its true sim < threshold would. Banding only
    // engages for threshold > 0 — at θ ≤ 0 every pair survives, so
    // every distance must be exact and the band would not prune
    // anyway.
    val mx = greatest(length(col("__ta")), length(col("__tb")))
    val lev0 =
      if (threshold > 0) {
        val band = (floor(mx.cast("double") * lit(1.0 - threshold)) +
          floor(mx.cast("double") *
            lit(0.5 * math.pow(10.0, -roundTo))) + lit(2)).cast("int")
        graft.plans.NativeExpressions.levenshtein_within(
          col("__ta"), col("__tb"), band)
      } else levenshtein(col("__ta"), col("__tb"))
    both
      .select(col("id1"), col("id2"),
        lev0.cast("long").as("lev"), mx.cast("double").as("__mx"))
      .select(col("id1"), col("id2"), col("lev"),
        when(col("lev") < 0, lit(threshold - 1.0))
          .otherwise(round(lit(1.0) - col("lev") / col("__mx"), roundTo))
          .as("sim"))
      .filter(col("sim") >= lit(threshold) + rand(42) * lit(0.0))
  }

  /** Incremental exact dedup — the ingestion-time shape: drop new-batch
    * documents whose digest already exists in the historical digest set,
    * then dedup the batch against itself (keep the min-id copy). The
    * carried-forward state is DIGESTS ONLY (16 bytes/doc) — history text
    * is never rescanned, which is what makes continuous ingestion
    * tractable at 100 TB: each day's batch joins against a compact,
    * append-only digest ledger. Returns the surviving rows of `batch`
    * (original columns).
    *
    * Scale shape: one anti-join on digest (AQE broadcasts a small
    * history ledger; a corpus-scale ledger shuffles batch-sized data
    * only) + one within-batch digest window. */
  def incrementalDedup(batch: DataFrame, seenDigests: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val seen = seenDigests.select(
      col(seenDigests.columns.head).as("__seen"))
    val cols = batch.columns.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__dig").orderBy(idCol)
    batch.withColumn("__dig", md5(col(textCol)))
      .join(seen, col("__dig") === col("__seen"), "left_anti")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(cols: _*)
  }

  /** One-call near-dup cascade — the 100 TB entry point composing the
    * whole MinHash pipeline: word-shingle hashes → MinHash signature →
    * capped LSH banding → candidate pairs → Levenshtein verification.
    * Every stage keeps its scale contract (row-local sketching, banded
    * buckets with the hot-bucket guard ON, pair-broadcast verification);
    * `bands · rowsPerBand` must equal `sigK`. Returns verified
    * (id1, id2, lev, sim) pairs at `threshold`. */
  def nearDupCascade(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, sigK: Int = 16, bands: Int = 2,
      rowsPerBand: Int = 8, maxBucketSize: Int = DefaultMaxBucketSize,
      threshold: Double = 0.8, roundTo: Int = 6): DataFrame = {
    require(bands * rowsPerBand == sigK,
      s"nearDupCascade: bands*rowsPerBand must equal sigK " +
        s"($bands*$rowsPerBand != $sigK)")
    val sigs = docs.select(col(idCol),
      minhashSignature(shingleHashes(col(textCol), shingleN), sigK)
        .as("__sig"))
    val pairs = lshCandidatePairs(
      lshBands(sigs, idCol, "__sig", bands, rowsPerBand), idCol,
      maxBucketSize)
    verifyPairs(pairs, docs, idCol, textCol, threshold, roundTo)
  }

  /** Exact cross-document SUBSTRING dedup — the one tier between
    * document-level dedup ([[exactGroups]]) and near-dup pairs
    * ([[nearDupCascade]]): find token spans that appear VERBATIM in at
    * least `minDocs` distinct documents and emit them as per-document
    * removal spans (the Lee et al. "Deduplicating Training Data Makes
    * Language Models Better" shape, approximated scalably — fingerprinted
    * sliding windows instead of a suffix array).
    *
    * Algorithm:
    *  1. row-local: whitespace tokens → token hashes (charFold) → a
    *     fingerprint for EVERY sliding K-token window, computed as the
    *     polynomial fold of the window's token hashes (same fold constant
    *     as [[lshBands]] — any SQL engine replays it);
    *  2. one map-combinable shuffle on fingerprint: distinct-doc counts;
    *     fingerprints reaching `minDocs` docs are "duplicated windows";
    *  3. windows semi-join the duplicated-fingerprint set — a keyed join
    *     whose output is ≤ the window count by construction (no pair
    *     blowup: we never join doc against doc);
    *  4. per doc (one (doc, pos) shuffle + per-doc sort of its duplicated
    *     windows only): overlapping-or-adjacent windows (gap ≤ K) merge
    *     into MAXIMAL spans.
    *
    * Returns (doc_id, start_tok, end_tok, n_windows): tokens
    * [start_tok, end_tok) — 0-based, end-exclusive — are duplicated
    * spans; a cleaning pass drops or rewrites them.
    *
    * Scale shape (100 TB): only (doc_id, pos, fp) triples ever shuffle —
    * document text never crosses the wire. Window count equals token
    * count, so the whole job is O(corpus tokens) with constant factors:
    * the same asymptotics as tokenizing the corpus once. A boilerplate
    * fingerprint shared by millions of docs costs its own group row in
    * stage 2 and one output row per occurrence in stage 3 — linear, no
    * hot-bucket b² risk anywhere. */
  def substringDedupSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minDocs: Int = 2): DataFrame = {
    require(k > 0, s"substringDedupSpans: window needs k > 0 tokens, got $k")
    require(minDocs >= 2,
      s"substringDedupSpans: minDocs must be >= 2 (cross-document), got $minDocs")
    val toks = filter(split(trim(col(textCol)), "\\s+"), t => length(t) > 0)
    val th = transform(toks, t => PortableHash.charFold(t))
    // r15 (guide §2.4/§2.5): `wins` feeds TWO consumers (the dup-count
    // aggregate and the semi-join back), and per-branch column pruning
    // pushes different projections below any shared exchange, so the
    // tokenize+explode pass ran TWICE — and on a single-file corpus, as
    // ONE task each. The corpus now fans out by doc id before the
    // tokenize (no-op at production scan widths) and the window table is
    // materialized so the fingerprint pass runs once; integer window
    // rows only (doc_id, pos, fp), never text.
    // r16 (guide §5 "unpersist when done"): lazy localCheckpoint, not
    // .persist() — the r15 cache was never unpersisted, so CacheManager
    // held one InMemoryRelation per consumer plan (t27/t27b/p4/p4b) for
    // the whole session; under co-resident memory pressure the driver
    // measured p4b at 10.3 s (eviction/rebuild churn) where a clean run
    // shows <2 s. A checkpointed RDD is owned by the RDD lineage, so
    // ContextCleaner frees its blocks as soon as the query's DataFrames
    // are unreachable — the same convention every other multi-consumer
    // materialization in this codebase uses (CC loop, semDedup cells,
    // kmeans vecs).
    val wins = graft.plans.ScaleShape
      .fanOut(docs.select(col(idCol).as("doc_id"), col(textCol)),
        col("doc_id"))
      .select(col("doc_id"), th.as("__th"))
      .filter(size(col("__th")) >= k)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), size(col("__th")) - k), i =>
          aggregate(slice(col("__th"), i + 1, lit(k)), lit(0L),
            (acc, x) => pmod(acc * lit(1000003L) + x, lit(PortableHash.Mod)))))
        .as(Seq("pos", "fp")))
      .localCheckpoint(false)
    val dup = wins.groupBy("fp")
      .agg(countDistinct(col("doc_id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("fp")
    val marked = wins.join(dup, Seq("fp"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val wRun = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    marked
      // windows [p1,p1+k) and [p2,p2+k) merge when p2-p1 <= k (overlap
      // or exact adjacency); NULL lag (first window) starts span 1
      .withColumn("__new",
        when(col("pos") - lag("pos", 1).over(w) <= k, 0).otherwise(1))
      .withColumn("__span", sum("__new").over(wRun))
      .groupBy("doc_id", "__span")
      .agg(min("pos").cast("long").as("start_tok"),
        (max("pos") + k).cast("long").as("end_tok"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "start_tok", "end_tok", "n_windows")
  }

  /** Apply [[substringDedupSpans]] output back to the corpus: drop the
    * tokens inside each doc's removal spans and re-materialize cleaned
    * text — the closing stage of the Lee et al. loop (the paper removes
    * the duplicated substring and trains on the remainder).
    *
    * `spans` is (spanIdCol, startCol, endCol): token positions [start,
    * end) — 0-based, end-exclusive, over the SAME whitespace
    * tokenization the span finder used; the defaults match
    * [[substringDedupSpans]]' fixed output schema. Docs with no spans
    * pass through verbatim (token-normalized); a doc whose every token
    * is covered keeps an empty text.
    *
    * Scale shape (100 TB): ONE left join docs⇐(spans grouped by doc) —
    * the spans side is output-bounded (maximal merged spans, typically
    * ≪ docs) and pre-aggregated to one row per doc, so the join is
    * broadcast-able at real dup rates; the token-drop itself is a
    * row-local HOF filter over the token array (no shuffle, text never
    * crosses the wire beyond the one join). */
  def applySubstringSpans(docs: DataFrame, spans: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      spanIdCol: String = "doc_id", startCol: String = "start_tok",
      endCol: String = "end_tok"): DataFrame = {
    val sp = spans.groupBy(col(spanIdCol).as("__sid"))
      .agg(collect_list(struct(col(startCol).as("start_tok"),
        col(endCol).as("end_tok"))).as("__spans"))
    val toks = filter(split(trim(col(textCol)), "\\s+"), t => length(t) > 0)
    docs.join(sp, col(idCol) === col("__sid"), "left")
      .withColumn("__toks", toks)
      // keep token i unless some span covers it; nested lambda capture
      // of the outer index is row-local, codegen-friendly HOF algebra
      .withColumn("__kept",
        when(col("__spans").isNull, col("__toks"))
          .otherwise(filter(col("__toks"), (_, i) =>
            !exists(col("__spans"), s =>
              i >= s.getField("start_tok") && i < s.getField("end_tok")))))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("text_clean"),
        (size(col("__toks")) - size(col("__kept"))).cast("long")
          .as("n_removed"))
  }

  /** Exact n-gram Jaccard similarity between two shingle-array columns. */
  def jaccard(sh1: Column, sh2: Column): Column = {
    val inter = size(array_intersect(sh1, sh2)).cast("double")
    val uni = size(array_union(sh1, sh2)).cast("double")
    when(uni === 0, 0.0).otherwise(inter / uni)
  }

  /** SimHash (32-bit): per bit b, sign of Σ_tokens (bit_b(h(token)) ? +1 : -1);
    * packed little-endian into a long. Row-local, codegen'd native
    * expression (single pass); the equivalent HOF form is
    * `aggregate(sequence(0,31), 0L, (acc,b) -> acc + if(
    *    aggregate(hashes, 0L, (s,h) -> s + if(pmod(floor(h/2^b),2)=1,1,-1))
    *    > 0, 2^b, 0))` — 32 interpreted passes over the token hashes. */
  def simhash32(tokenHashes: Column): Column =
    graft.plans.NativeExpressions.simhash_32(tokenHashes)

  /** Hamming distance between two simhash values (counts differing bits). */
  def hamming32(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Duplicate CLUSTERS from verified candidate pairs: connected
    * components by min-label propagation — every member gets the smallest
    * id reachable through the pair graph as `cluster_id` (which is also
    * the canonical keeper). Returns (id, cluster_id).
    *
    * Scale design: per round, neighbor propagation + a POINTER JUMP
    * (label := label of my label) — the jump contracts chains
    * geometrically, so convergence is O(log diameter) rounds, not
    * O(diameter) (verified: the natural-dup chains in the documents corpus
    * take 6 plain-propagation rounds but 3 with jumping). Both are FUSED
    * into ONE join + ONE aggregate by folding the pointer edges
    * (v → label(v)) into the message edge set (see the round comment).
    * Labels only ever DECREASE, so an unchanged (count, sum(label)) is a
    * fixpoint — checked on the round's localCheckpoint, one materializing
    * action per round.
    * `maxRounds` guards the adversarial case. */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 15): DataFrame = {
    // localCheckpoint rather than persist (r15): a cached plan keeps its
    // pre-AQE partitioning (canChangeCachedPlanOutputPartitioning is off
    // by default), so `sym` cached at the session's shuffle-partition
    // constant and every round's joins launched that many near-empty map
    // tasks; the checkpoint materializes the AQE-coalesced output, so the
    // loop's map width follows the edge set's actual size.
    val sym = pairs.select(col("id1").as("a"), col("id2").as("b"))
      .union(pairs.select(col("id2").as("a"), col("id1").as("b")))
      .distinct()
      .localCheckpoint(false)
    // LAZY checkpoints throughout the loop (r15): the stats aggregate
    // that drives fixpoint detection runs over every partition, so it
    // both materializes the checkpoint and returns the round's
    // (count, sum) in ONE action — the old eager checkpoint + separate
    // stats pass paid two materializing jobs per round
    // Seeded init (r15): label_0(v) = min(v, min neighbor id) is
    // EXACTLY what round 1 of the loop computes from self-labels
    // (nl = min neighbor id, the jump maps v back to v), so seeding it
    // as one groupBy absorbs the first round's two-join plan — one
    // fewer round at any scale, identical fixpoint (the result is the
    // min reachable id, independent of the round schedule).
    var labels = sym.groupBy(col("a"))
      .agg(min(col("b")).as("nb"))
      .select(col("a").as("id"), least(col("a"), col("nb")).as("cluster_id"))
      .localCheckpoint(false)
    def stats(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum("cluster_id")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var prev = stats(labels)
    // node-count-derived shuffle width for the round plans (r15, guide
    // §2.2): the label set is output-bounded (candidate-pair nodes), yet
    // every round's two joins planned at the session's shuffle-partition
    // constant — dozens of near-empty tasks per round at bench scale. One
    // reduce partition per ~20k nodes, capped at the session setting, and
    // the session value is restored after the loop (the statement-scoped
    // conf discipline of graft.plans.Settings.withSettings).
    val sess = pairs.sparkSession
    val savedSp = sess.conf.get("spark.sql.shuffle.partitions")
    val roundSp = math.max(1L,
      math.min(savedSp.toLong, prev._1 / 20000L + 1L))
    var done = false
    var i = 0
    sess.conf.set("spark.sql.shuffle.partitions", roundSp.toString)
    try {
    while (i < maxRounds && !done) {
      // FUSED round (r15): one join + one aggregate instead of the
      // 3-join form (sym ⋈ labels → agg, labels ⋈ viaNeighbor, ⋈ jump).
      // Message edges = graph edges ∪ pointer edges (v → label(v)); then
      //   next(v) = min over (v,b) of label(b)
      //           = min(min neighbor label, label(label(v))).
      // Identical per round to the 3-join form: its `least` also admitted
      // own label(v), but label(u) ≤ u for every u (init is
      // least(a, nb) ≤ a; updates only take mins of labels), so
      // label(label(v)) ≤ label(v) and the own-label term never wins
      // strictly. Every node keeps a row: v always has the pointer edge
      // (v, label(v)) and label values are node ids present in `labels`,
      // so the inner join always matches.
      val msgs = sym.union(
        labels.select(col("id").as("a"), col("cluster_id").as("b")))
      val next = msgs.join(labels, msgs("b") === labels("id"))
        .groupBy(msgs("a").as("id"))
        .agg(min("cluster_id").as("cluster_id"))
        .localCheckpoint(false)
      val cur = stats(next)
      done = cur == prev
      prev = cur
      labels = next
      i += 1
    }
    } finally sess.conf.set("spark.sql.shuffle.partitions", savedSp)
    labels
  }
}
