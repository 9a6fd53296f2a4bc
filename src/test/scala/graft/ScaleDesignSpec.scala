package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Plan-level evidence for the 100 TB design claims: bucketed tables join
  * without shuffling, partitioned layouts prune at the source, and scans
  * only read projected columns. (Run on sf0.001 — the assertions are about
  * plan SHAPE, which is scale-invariant.) */
class ScaleDesignSpec extends AnyFunSuite with SparkSuite {

  private lazy val wh = tempDir("graft_wh").toString

  // AQE/broadcast knobs are set on this spec's child session: builder
  // configs would be silently ignored by getOrCreate
  override protected lazy val spark = {
    val s = Session.local().newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the issue
    s.conf.set("spark.sql.adaptive.enabled", "false") // plain plan shape for counts
    s
  }

  private val sf = "/root/testdata/sf0.001"

  private def shuffleCount(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }.size

  test("registry tables take their schema from the parquet footer: Spark's schema, no job") {
    val dir = new java.io.File(new java.io.File(sf).getParent, "sf0.01").getPath
    val paths = new java.io.File(dir).list().toSeq.filter(_.endsWith(".parquet"))
      .sorted.map(f => s"$dir/$f")
    assert(paths.size >= 10)
    val tag = "graft.spec.footer"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty(tag) != null)
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setLocalProperty(tag, "1")
    val footer = try {
      val out = paths.map(org.apache.spark.sql.graftbridge.FooterSchema.read(spark, _))
      org.apache.spark.sql.graftbridge.ListenerBus.drain(spark.sparkContext)
      out
    } finally {
      spark.sparkContext.setLocalProperty(tag, null)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get() == 0)
    paths.zip(footer).foreach { case (p, sch) =>
      assert(sch == spark.read.parquet(p).schema, p)
    }
  }

  test("bucketed join is shuffle-free; unbucketed join shuffles both sides") {
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    // external tables with explicit fresh paths — immune to leftover
    // managed-table locations from earlier runs/sessions
    spark.read.parquet(s"$sf/lineitem.parquet")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_b").mode("overwrite").saveAsTable("li_b")
    spark.read.parquet(s"$sf/orders.parquet")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/ord_b").mode("overwrite").saveAsTable("ord_b")

    val bucketed = spark.table("li_b")
      .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").count()
    // only the final groupBy shuffles — the join is co-located
    assert(shuffleCount(bucketed) == 1)

    val unbucketed = spark.read.parquet(s"$sf/lineitem.parquet")
      .join(spark.read.parquet(s"$sf/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").count()
    assert(shuffleCount(unbucketed) >= 2)
  }

  test("partitioned layout prunes partitions at the source") {
    val dir = tempDir("graft_part").toString
    spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")))
      .write.partitionBy("o_year").mode("overwrite").parquet(dir)

    val pruned = spark.read.parquet(dir).filter(col("o_year") === 1996)
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    // only the 1996 partition's files are listed
    assert(scan.relation.location.inputFiles.length >
      scan.selectedPartitions.totalNumberOfFiles)
    val years = pruned.select("o_year").distinct().collect().map(_.getInt(0))
    assert(years.toSeq == Seq(1996))
  }

  test("projection prunes the parquet read schema") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.requiredSchema.fieldNames.toSet == Set("l_orderkey", "l_quantity"))
  }

  // ---- scale-killer fixes: plan-shape proof per fix (VERDICT r1 item 1) ----

  import org.apache.spark.sql.execution.window.WindowExec
  import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
  import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
  import graft.operators.{ChOps, DependencyGraph, Similarity}
  import graft.operators.Similarity.{AnnIndex, Cells, Coarse, Every,
    Exhaustive, Pq, ResidualPq, Sq8}

  /** Train `spec` over (vec_id, embedding) and serve its top-k. */
  private def annTopK(emb: org.apache.spark.sql.DataFrame, spec: AnnIndex,
      queryPred: org.apache.spark.sql.Column, k: Int,
      nprobe: Int = 1): org.apache.spark.sql.DataFrame =
    Similarity.search(emb, "vec_id", "embedding",
      Similarity.train(emb, "vec_id", "embedding", spec), queryPred, k, nprobe)

  test("LIMIT WITH TIES: distributed form has no window at all, matches global-window form") {
    val part = spark.read.parquet(s"$sf/part.parquet")
      .select("p_partkey", "p_retailprice")
    val dist = ChOps.distributedTopKWithTies(part, col("p_retailprice"), 5)
    // no WindowExec anywhere — the global-window form would put every row
    // of the table into ONE partition
    assert(dist.queryExecution.executedPlan.collect {
      case w: WindowExec => w }.isEmpty)
    val glob = ChOps.limitWithTies(part, Seq(desc("p_retailprice")), 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(desc("p_retailprice"), col("p_partkey"))
        .collect().map(r => (r.get(0), r.get(1))).toSeq
    assert(rows(dist) == rows(glob))
  }

  test("CH-SQL translator emits the hand-built plan shape: pushdown + partial agg") {
    // the text front end must add ZERO execution overhead — the plan for
    // ch1 (CH text) has to look like the plan a hand-authored DataFrame
    // chain would get: filter pushed into the scan, pruned read schema,
    // partial+final aggregation, nothing extra
    val df = SparkEntry.queries("ch1_sql_agg")(spark, sf)
    val plan = df.queryExecution.executedPlan
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.nonEmpty)
    assert(scans.head.metadata.get("PushedFilters").exists(_.contains("LessThanOrEqual")))
    assert(scans.head.requiredSchema.fieldNames.toSet ==
      Set("l_returnflag", "l_linestatus", "l_quantity", "l_shipdate"))
    val aggs = plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a }
    assert(aggs.size == 2, s"expected partial+final aggregate, got ${aggs.size}")
    assert(shuffleCount(df) <= 2) // one for the groupBy, one for the orderBy
  }

  test("CH-SQL new clauses keep scale-safe shapes: rollup expands, ties avoid windows, sample prunes") {
    // ROLLUP via text lowers onto Expand + partial/final aggregation —
    // the same one-shuffle shape as the hand-built q11
    val rollup = SparkEntry.queries("ch19_sql_rollup")(spark, sf)
    val rplan = rollup.queryExecution.executedPlan
    assert(rplan.collect {
      case e: org.apache.spark.sql.execution.ExpandExec => e }.nonEmpty)
    assert(rplan.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }.size == 2)

    // LIMIT WITH TIES via text uses the two-pass cutoff — a global
    // window here would single-partition 100 TB
    val ties = SparkEntry.queries("ch22_sql_ties")(spark, sf)
    assert(ties.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty)

    // SAMPLE via text is a deterministic key-bucket filter; the scan
    // reads only the key and the aggregated column
    val sample = SparkEntry.queries("ch23_sql_sample")(spark, sf)
    val scans = sample.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.nonEmpty)
    assert(scans.head.requiredSchema.fieldNames.toSet ==
      Set("l_orderkey", "l_quantity"))
  }

  test("sumMap text plan: one partial+final aggregation pass, no second groupBy") {
    // the typed imperative aggregate gives per-key sums in a single
    // map-side-combinable pass — the q89 two-level groupBy costs a second
    // shuffle at 100 TB
    val df = SparkEntry.queries("ch31_sql_summap")(spark, sf)
    val aggs = df.queryExecution.executedPlan.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a }
    assert(aggs.size == 2, s"expected partial+final, got ${aggs.size}")
    assert(shuffleCount(df) <= 2) // groupBy + orderBy
  }

  test("xMerge text plan: one partial+final pass over the state table") {
    // the -Merge rollup is the AggregatingMergeTree read path — folding
    // states must stay a single map-side-combinable aggregation, not a
    // re-expansion of the original rows
    val df = SparkEntry.queries("ch48_sql_state_merge")(spark, sf)
    val aggs = df.queryExecution.executedPlan.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a }
    assert(aggs.size == 2, s"expected partial+final, got ${aggs.size}")
    assert(shuffleCount(df) <= 2) // groupBy + orderBy
  }

  test("trained-quality serving scan is row-local: zero shuffles, zero joins") {
    // the trainer's whole point at 100 TB: training cost is bounded by
    // the seed slice, and the corpus pass the model actually runs at
    // scale is ONE scan — weights inline as plan literals, no join
    // against a model table, no shuffle anywhere
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val w = Array.tabulate(64)(i => (i % 7 - 3) / 10.0)
    val scored = graft.operators.TextAnalysis.linearScore(
      docs, "doc_id", "text", dim = 64, weights = Some(w), bias = 0.0)
      .filter(col("score") >= 0.144)
    assert(shuffleCount(scored) == 0, "scoring must not shuffle")
    assert(scored.queryExecution.executedPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, "scoring must not join")
  }

  test("trainLogistic gradient step: one partial+final aggregation, driver rows bounded by buckets") {
    // per step the ONLY corpus-size work is the scan; the gradient
    // reaches the driver as ≤ buckets map-side-combined groups
    import spark.implicits._
    val corpus = (0L until 200L).map(i =>
      (i, s"tok${i % 7} tok${i % 11} tok${i % 13}", i % 3 == 0))
      .toDF("doc_id", "text", "y")
    val w = graft.operators.TextAnalysis.trainLogistic(
      corpus, "doc_id", "text", col("y"), buckets = 16, steps = 2,
      lr = 4.0)
    assert(w.length == 16)
    assert(w.exists(_ != 0.0), "training must move the weights")
  }

  test("hyperplane bucketing is the single native expression, not per-plane HOFs") {
    // the interpreted form ran nPlanes zip_with+aggregate passes per row;
    // the native HyperplaneBucket computes every sign bit in one traversal
    val plan = SparkEntry.queries("v6_embed_neardup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("hyperplanebucket"))
    assert(!plan.contains("zip_with"), "per-plane interpreted HOF pass is back")
  }

  test("LSH hot-bucket cap: sizing is aggregate+broadcast-anti-join, never a window") {
    // a window count over (band_id, band_hash) would buffer the entire
    // skewed bucket through one sort task — the exact failure the cap
    // guards against; groupBy.count partial-aggregates map-side
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), graft.operators.Dedup.minhashSignature(
        graft.operators.Dedup.shingleHashes(col("text"), 3), 16).as("sig"))
    val pairs = graft.operators.Dedup.lshCandidatePairs(
      graft.operators.Dedup.lshBands(docs, "doc_id", "sig", 4, 4),
      "doc_id", maxBucketSize = 50)
    val plan = pairs.queryExecution.executedPlan
    assert(plan.collect { case w: WindowExec => w }.isEmpty)
    // the oversize-key filter join is broadcast, not a shuffled join
    assert(plan.collect { case b: BroadcastExchangeExec => b }.nonEmpty)
  }

  test("embedding-LSH hot-bucket cap: an all-equal-bucket input stays bounded") {
    import spark.implicits._
    // adversarial corpus: every vector identical → ONE bucket holds all n
    // rows; uncapped, the self-join would emit n·(n-1)/2 candidate rows
    val n = 200
    val degenerate = (0 until n).map(i => (i.toLong, Array(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val uncapped = Similarity.nearDuplicatesLsh(
      degenerate, "vec_id", "embedding", nPlanes = 8, threshold = 0.9)
    assert(uncapped.count() == n.toLong * (n - 1) / 2) // the blowup is real
    val capped = Similarity.nearDuplicatesLsh(
      degenerate, "vec_id", "embedding", nPlanes = 8, threshold = 0.9,
      maxBucketSize = 50)
    assert(capped.count() == 0) // oversize bucket dropped before the join
    // the sizing pass is aggregate + broadcast anti-join, never a window
    val plan = capped.queryExecution.executedPlan
    assert(plan.collect { case w: WindowExec => w }.isEmpty)
    assert(plan.collect { case b: BroadcastExchangeExec => b }.nonEmpty)
    // a mixed corpus keeps its small-bucket pairs under the same cap
    val mixed = degenerate.unionByName(
      Seq((1000L, Array(9.0f, -1.0f, 0.5f)), (1001L, Array(9.1f, -1.0f, 0.5f)))
        .toDF("vec_id", "embedding"))
    val kept = Similarity.nearDuplicatesLsh(
      mixed, "vec_id", "embedding", nPlanes = 8, threshold = 0.9,
      maxBucketSize = 50)
    assert(kept.select("id1", "id2").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq == Seq((1000L, 1001L)))
  }

  test("capped presets default the hot-bucket guard on (both LSH paths)") {
    import spark.implicits._
    // adversarial: everyone shares one band bucket / one hyperplane
    // bucket; the default cap must drop it
    val n = graft.operators.Dedup.DefaultMaxBucketSize + 100
    val bands = (0 until n).map(i => (i.toLong, 0, 7L))
      .toDF("doc_id", "band_id", "band_hash")
    assert(graft.operators.Dedup.lshCandidatePairs(bands, "doc_id",
      graft.operators.Dedup.DefaultMaxBucketSize).count() == 0)
    // small buckets keep their pairs under the default cap
    val mixedBands = bands.unionByName(
      Seq((5000L, 1, 9L), (5001L, 1, 9L)).toDF("doc_id", "band_id", "band_hash"))
    assert(graft.operators.Dedup.lshCandidatePairs(mixedBands, "doc_id",
        graft.operators.Dedup.DefaultMaxBucketSize)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((5000L, 5001L)))
    val degenerate = (0 until n).map(i => (i.toLong, Array(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.nearDuplicatesLsh(
      degenerate, "vec_id", "embedding", nPlanes = 8, threshold = 0.9,
      maxBucketSize = graft.operators.Dedup.DefaultMaxBucketSize)
      .count() == 0)
  }

  test("skew stress: capped LSH drops the boilerplate bucket, keeps true pairs") {
    import spark.implicits._
    import graft.operators.Dedup
    // adversarial corpus: 30% of docs are IDENTICAL boilerplate (every
    // band of every boilerplate doc collides -> every one of its buckets
    // is hot), the rest unique, plus ONE genuine near-dup pair riding
    // normal-size buckets. The cap must kill the b-squared blowup
    // without losing the real pair.
    val words = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val boiler = (0 until 60).map(i =>
      (i.toLong, "common license header boilerplate " +
        "all rights reserved redistribution permitted with attribution " +
        "see the accompanying file for terms and conditions of use"))
    val unique = (100 until 200).map(i =>
      (i.toLong, words.split(" ").map(w => s"$w$i").mkString(" ")))
    val nearDup = Seq(
      (900L, words + " uniform victor whiskey xray yankee zulu one"),
      (901L, words + " uniform victor whiskey xray yankee zulu two"))
    val docs = (boiler ++ unique ++ nearDup).toDF("doc_id", "text")
    val sigs = docs.select(col("doc_id"),
      Dedup.minhashSignature(Dedup.shingleHashes(col("text"), 3), 32).as("sig"))
    val bands = Dedup.lshBands(sigs, "doc_id", "sig", bands = 8, rowsPerBand = 4)
    val capped = Dedup.lshCandidatePairs(bands, "doc_id",
        maxBucketSize = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // the hot bucket is dropped (no boilerplate pairs survive), the true
    // near-dup pair still meets through its own bands
    assert(capped == Seq((900L, 901L)), capped.take(10))
    // uncapped: the same corpus explodes into the full b*(b-1)/2
    // boilerplate self-join — the blowup the cap exists to prevent
    val uncapped = Dedup.lshCandidatePairs(bands, "doc_id").count()
    assert(uncapped == 60L * 59 / 2 + 1, uncapped)
  }

  test("skew stress: saltedJoin equals the plain join on a 20%-hot key") {
    import spark.implicits._
    import graft.operators.ChOps
    // one key carries 20% of the left side (the shape AQE's skew split
    // may miss when it hides inside a single partition)
    val left = spark.range(5000).select(
      when(col("id") % 5 === 0, lit(1L)).otherwise(col("id")).as("key"),
      (col("id") * 7).as("lv"))
    val right = spark.range(4000).select(col("id").as("key"),
      (col("id") % 97).as("rv"))
    val plain = left.join(right, "key").select("key", "lv", "rv")
      .collect().map(_.toString).sorted.toSeq
    val salted = ChOps.saltedJoin(left, right, "key", 8)
      .select("key", "lv", "rv").collect().map(_.toString).sorted.toSeq
    assert(salted.size == plain.size && salted == plain)
  }

  test("partition-scoped ALTER DELETE rewrites only the matched partition's files") {
    def resolve(n: String) = spark.table(n)
    def run(s: String) = graft.chsql.ChSql.statement(spark, s)(resolve)._1
      .collect().toSeq
    run("DROP TABLE IF EXISTS prune_t")
    run("CREATE TABLE prune_t (k Int64, p String) " +
      "ENGINE = MergeTree ORDER BY k PARTITION BY p")
    run("INSERT INTO prune_t SELECT number, if(number % 2 = 0, 'a', 'b') " +
      "FROM numbers(100)")
    val filesB = spark.table("prune_t").inputFiles.filter(_.contains("p=b")).toSet
    val filesA = spark.table("prune_t").inputFiles.filter(_.contains("p=a")).toSet
    assert(filesB.nonEmpty && filesA.nonEmpty)
    val msg = run("ALTER TABLE prune_t DELETE WHERE p = 'a' AND k > 10")
      .head.getString(0)
    assert(msg.contains("1 affected partition"), msg)
    // p=b kept its EXACT physical files — never read, never rewritten;
    // p=a was rewritten in place (new file identities)
    val after = spark.table("prune_t").inputFiles
    assert(after.filter(_.contains("p=b")).toSet == filesB)
    assert(after.filter(_.contains("p=a")).toSet.intersect(filesA).isEmpty)
    assert(spark.table("prune_t").count() == 50 + 6) // p=b intact + k<=10 evens
    // a mutation whose WHERE matches nothing touches nothing
    assert(run("ALTER TABLE prune_t DELETE WHERE p = 'zzz'")
      .head.getString(0).contains("no partitions affected"))
    // emptying a partition drops it instead of leaving a ghost entry
    run("ALTER TABLE prune_t DELETE WHERE p = 'a'")
    assert(spark.table("prune_t").inputFiles.forall(!_.contains("p=a")))
    assert(spark.table("prune_t").count() == 50)
    run("DROP TABLE prune_t")
  }

  test("carry-forward fill: the only unpartitioned window runs on the broadcast bucket summary") {
    import spark.implicits._
    val daily = Seq(("2024-01-03", Some(5.0)), ("2024-02-20", None),
      ("2024-04-02", Some(9.0)))
      .toDF("d", "rev").select(col("d").cast("date").as("d"), col("rev"))
    val axis = ChOps.withFillDays(daily, "d", Map.empty)
    val filled = ChOps.carryForwardFill(axis, "d", "rev", trunc(_, "month"), lit(0.0))
    val plan = filled.queryExecution.executedPlan
    val globalW = plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    val inBroadcast = plan.collect { case b: BroadcastExchangeExec => b }
      .flatMap(_.collect { case w: WindowExec if w.partitionSpec.isEmpty => w })
    // the bucket-summary carry is global BUT broadcast-side (1 row/month);
    // every window over the full axis is partitioned by bucket
    assert(globalW.nonEmpty && globalW.size == inBroadcast.size)
    // semantics: identical to the naive global-window carry-forward
    val w = org.apache.spark.sql.expressions.Window.orderBy("d")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val naive = axis.select(col("d"),
      coalesce(last(col("rev"), ignoreNulls = true).over(w), lit(0.0)).as("rev"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("d").collect().map(r => (r.getDate(0).toString, r.getDouble(1))).toSeq
    assert(rows(filled) == rows(naive))
  }

  test("IVF top-k: row-local assignment — no nested-loop join, exactly one shuffle") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val out = annTopK(emb, AnnIndex(Coarse(Every(20))),
      queryPred = col("id") < 5, k = 3)
    val plan = out.queryExecution.executedPlan
    // the old crossJoin(broadcast(centroids)) assignment planned as a
    // BroadcastNestedLoopJoin expanding n·C rows through the window shuffle
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    // one shuffle total: the final per-query top-k window
    assert(shuffleCount(out) == 1)
    assert(out.count() > 0)
  }

  test("ivfTopKFixedC: codebook size is CONSTANT across corpus sizes (linear assignment)") {
    // The r8 fixed-STRIDE bench rows grew their codebook with the corpus
    // (C = n/50 — quadratic assignment across scale factors, measured
    // 13.6×/14.4× for 10× data). The fixed-C preset derives stride n/c so
    // C stays ≈ c at every n: assignment is O(c·n), linear by
    // construction. Pin the derivation at two corpus sizes an order of
    // magnitude apart.
    def corpus(n: Int) = spark.range(n).select(col("id").as("vec_id"),
      array(col("id").cast("double") % 97, col("id").cast("double") % 89,
        col("id").cast("double") % 83).as("embedding"), col("id"))
    def nCells(n: Int): Long = {
      // distinct assigned cells never exceed the codebook; the codebook
      // has ceil(n / (n/c)) ≈ c entries (stride-sampled ids)
      val out = annTopK(corpus(n), AnnIndex(Coarse(Cells(8))),
        queryPred = col("id") < 2, k = 2)
      out.count() // force
      val every = math.max(1L, n / 8L)
      (n + every - 1) / every // codebook entries at this stride
    }
    val small = nCells(400)
    val big = nCells(4000)
    assert(small >= 8 && small <= 9, s"small-corpus codebook: $small")
    assert(big >= 8 && big <= 9, s"big-corpus codebook: $big")
    // and the results stay top-k-shaped
    val out = annTopK(corpus(400), AnnIndex(Coarse(Cells(8))),
      queryPred = col("id") < 2, k = 2).collect()
    assert(out.nonEmpty && out.length <= 4)
  }

  test("ivfTopKFixedC: supplied knownN elides the corpus count() job") {
    // Without knownN the preset pays a full count() scan whose only
    // output is the stride — at 100 TB that's an entire extra job over
    // the corpus. With knownN (ingest manifest / parquet footers /
    // table stats) construction must cost strictly fewer jobs and
    // produce identical results.
    val corpus = spark.range(400).select(col("id").as("vec_id"),
      array(col("id").cast("double") % 97, col("id").cast("double") % 89,
        col("id").cast("double") % 83).as("embedding"), col("id"))
    def jobsDuring(body: => Unit): Int = {
      val c = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          c.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try { body; Thread.sleep(1500) } // listener bus is async
      finally spark.sparkContext.removeSparkListener(l)
      c.get()
    }
    // construction only (no action): stride-sample collect is inherent
    // to both; the count() job is the elidable difference
    val without = jobsDuring {
      annTopK(corpus, AnnIndex(Coarse(Cells(8))),
        queryPred = col("id") < 2, k = 2)
      ()
    }
    val withN = jobsDuring {
      annTopK(corpus, AnnIndex(Coarse(Cells(8, knownN = Some(400L)))),
        queryPred = col("id") < 2, k = 2)
      ()
    }
    assert(withN < without,
      s"knownN must remove the count job: $withN !< $without")
    // identical results either way (same stride derivation)
    val a = annTopK(corpus, AnnIndex(Coarse(Cells(8))),
      queryPred = col("id") < 2, k = 2)
      .orderBy("query_id", "neighbor_id").collect().toSeq
    val b = annTopK(corpus, AnnIndex(Coarse(Cells(8, knownN = Some(400L)))),
      queryPred = col("id") < 2, k = 2)
      .orderBy("query_id", "neighbor_id").collect().toSeq
    assert(a == b)
    // and the footer-count helper agrees with a real scan on real data
    val embPath = s"$sf/embeddings.parquet"
    assert(Similarity.parquetRowCount(spark, embPath) ==
      spark.read.parquet(embPath).count())
  }

  test("ivfTopKTrained: serving plan has the stride preset's exact shape") {
    // Training buys recall at IDENTICAL serving cost — that claim is a
    // plan property, not a benchmark: the trained codebook differs from
    // the stride one in VALUES only, so the served operator sequence,
    // shuffle count, and join strategy must be byte-for-byte the same
    // shape. (Recall itself is measured, not asserted:
    // ANN_OPERATING_POINTS.json.)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = emb.count()
    def nodeSeq(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect { case p => p.nodeName }.toSeq
    val stride = annTopK(emb, AnnIndex(Coarse(Cells(10, Some(n)))),
      queryPred = col("id") < 5, k = 3, nprobe = 2)
    val trained = annTopK(emb, AnnIndex(Coarse(Cells(10, Some(n)), iters = 1)),
      queryPred = col("id") < 5, k = 3, nprobe = 2)
    assert(nodeSeq(trained) == nodeSeq(stride),
      s"serving plans diverge:\n${nodeSeq(trained)}\nvs\n${nodeSeq(stride)}")
    assert(shuffleCount(trained) == 1) // still only the final top-k window
    assert(trained.queryExecution.executedPlan.collect {
      case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    assert(trained.count() > 0)
  }

  test("ivfSq8TopK: serving plan keeps raw IVF's wide-operator skeleton (int8 " +
      "codes change WHAT the scan carries, not the shuffle/join structure)") {
    // the SQ8 claim at 100 TB is memory bandwidth, not plan shape: the
    // probed-cell join must stay the Flat serve pipeline — one
    // broadcast of the query side, one top-k window shuffle — with the
    // int8 encode/dequantize riding as row-local projections (they may
    // split a codegen stage, but must add NO wide operator)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = emb.count()
    val wide = Set("Exchange", "BroadcastExchange", "Sort", "Window",
      "WindowGroupLimit", "BroadcastHashJoin", "SortMergeJoin", "Generate",
      "Scan parquet")
    def skeleton(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect { case p => p.nodeName }
        .filter(n => wide.exists(n.startsWith)).toSeq
    val raw = annTopK(emb, AnnIndex(Coarse(Cells(10, Some(n)))),
      queryPred = col("id") < 5, k = 3, nprobe = 2)
    val sq8 = annTopK(emb,
      AnnIndex(Coarse(Every(math.max(1L, n / 10).toInt)), Sq8),
      queryPred = col("id") < 5, k = 3, nprobe = 2)
    assert(skeleton(sq8) == skeleton(raw),
      s"wide-operator skeletons diverge:\n${skeleton(sq8)}\nvs\n${skeleton(raw)}")
    assert(shuffleCount(sq8) == 1) // only the final top-k window
    assert(sq8.queryExecution.executedPlan.collect {
      case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    assert(sq8.count() > 0)
  }

  test("ivfHnswTopK: serving plan keeps raw IVF's wide-operator skeleton " +
      "(graph routing changes per-row assignment COST O(C·d)→O(M·logC·d), " +
      "not the shuffle/join structure)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = emb.count()
    val wide = Set("Exchange", "BroadcastExchange", "Sort", "Window",
      "WindowGroupLimit", "BroadcastHashJoin", "SortMergeJoin", "Generate",
      "Scan parquet")
    def skeleton(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect { case p => p.nodeName }
        .filter(nm => wide.exists(nm.startsWith)).toSeq
    val raw = annTopK(emb, AnnIndex(Coarse(Cells(10, Some(n)))),
      queryPred = col("id") < 5, k = 3, nprobe = 2)
    val hnsw = annTopK(emb,
      AnnIndex(Coarse(Every(math.max(1L, n / 10).toInt), hnsw = Some(4))),
      queryPred = col("id") < 5, k = 3, nprobe = 2)
    assert(skeleton(hnsw) == skeleton(raw),
      s"wide-operator skeletons diverge:\n${skeleton(hnsw)}\nvs\n${skeleton(raw)}")
    assert(shuffleCount(hnsw) == 1) // only the final top-k window
    assert(hnsw.count() > 0)
  }

  test("ivfPqTopKTrained: serving plan has the stride IVFADC's exact shape") {
    // the composed trained index (v15) must serve through the identical
    // operator sequence as v9 — assignment + materialized code index +
    // broadcast-LUT ADC join — so its recall delta is pure codebook
    // quality, never a different (cheaper or dearer) plan
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = emb.count()
    val every = math.max(1L, n / 10).toInt
    def nodeSeq(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect { case p => p.nodeName }.toSeq
    val stride = annTopK(emb, AnnIndex(Coarse(Every(every)), Pq(4, every)),
      queryPred = col("id") < 5, k = 3, nprobe = 2)
    val trained = annTopK(emb, AnnIndex(Coarse(Cells(10, Some(n)), iters = 1),
      Pq(4, every, iters = 1)), queryPred = col("id") < 5, k = 3, nprobe = 2)
    assert(nodeSeq(trained) == nodeSeq(stride),
      s"serving plans diverge:\n${nodeSeq(trained)}\nvs\n${nodeSeq(stride)}")
    assert(trained.queryExecution.executedPlan.collect {
      case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    assert(trained.count() > 0)
  }

  test("ivfPqTopKRefined: refine stage is broadcast-joined, corpus never re-shuffles") {
    // the exact re-rank must join the (queries × rerank)-row shortlist
    // and the query vectors as BROADCASTS against the streaming corpus —
    // the only exchanges are the two top-k windows (ADC stage + refine
    // stage); a shuffled refine join would move the corpus twice
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = emb.count()
    val every = math.max(1L, n / 10).toInt
    val out = annTopK(emb,
      AnnIndex(Coarse(Every(every)), Pq(4, every), rerank = 10),
      queryPred = col("id") < 5, k = 3, nprobe = 2)
    val plan = out.queryExecution.executedPlan
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    assert(shuffleCount(out) <= 2,
      s"refine added shuffles: ${shuffleCount(out)}")
    val rows = out.collect()
    assert(rows.nonEmpty && rows.forall(_.getDouble(2) >= 0.0))
    // exact re-rank of the shortlist: for each query the refined top-k
    // carries exact L2 — it must be sorted ascending within the query
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      val ds = rs.map(_.getDouble(2)).toSeq
      assert(ds == ds.sorted, s"refined distances out of order: $ds")
    }
  }

  test("ivfPqTopKRefinedResidual (v20): serving plan is v18's exact " +
      "shape above the shortlist — refine composes with the winning index") {
    // r12's refine hardcoded the stride shortlist; refineExact now wraps
    // any producer. The composed v20 plan must be node-for-node the
    // refined-stride plan (the shortlist producers themselves are
    // plan-identical by the residual pin below), so recall deltas
    // between v18 and v20 are pure shortlist quality.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = emb.count()
    val every = math.max(1L, n / 10).toInt
    def nodeSeq(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect { case p => p.nodeName }.toSeq
    val refStride = annTopK(emb,
      AnnIndex(Coarse(Every(every)), Pq(4, every), rerank = 10),
      queryPred = col("id") < 5, k = 3, nprobe = 2)
    val refResid = annTopK(emb, AnnIndex(Coarse(Every(every), iters = 1),
      ResidualPq(4, every, iters = 1), rerank = 10),
      queryPred = col("id") < 5, k = 3, nprobe = 2)
    assert(nodeSeq(refResid) == nodeSeq(refStride),
      s"serving plans diverge:\n${nodeSeq(refResid)}\nvs\n${nodeSeq(refStride)}")
    assert(refResid.queryExecution.executedPlan.collect {
      case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    assert(shuffleCount(refResid) <= 2,
      s"refine added shuffles: ${shuffleCount(refResid)}")
    val rows = refResid.collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      val ds = rs.map(_.getDouble(2)).toSeq
      assert(ds == ds.sorted, s"refined distances out of order: $ds")
    }
  }

  test("ivfPqTopKResidual: serving plan has the stride IVFADC's exact shape") {
    // the residual tier (v16) changes WHAT is encoded (x − centroid),
    // not HOW candidates are served: the subtraction and encode run at
    // index-build time (inside the materialized localCheckpoint), the
    // per-(query,cell) LUTs ride one broadcast, and the candidate join
    // is the same broadcast hash join on cell as v9 — so its recall
    // lift is pure quantization quality, not a different plan
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = emb.count()
    val every = math.max(1L, n / 10).toInt
    def nodeSeq(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect { case p => p.nodeName }.toSeq
    val stride = annTopK(emb, AnnIndex(Coarse(Every(every)), Pq(4, every)),
      queryPred = col("id") < 5, k = 3, nprobe = 2)
    val resid = annTopK(emb,
      AnnIndex(Coarse(Every(every)), ResidualPq(4, every)),
      queryPred = col("id") < 5, k = 3, nprobe = 2)
    assert(nodeSeq(resid) == nodeSeq(stride),
      s"serving plans diverge:\n${nodeSeq(resid)}\nvs\n${nodeSeq(stride)}")
    assert(resid.queryExecution.executedPlan.collect {
      case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    assert(shuffleCount(resid) == 1) // only the final top-k window
    // residual + encode must be index-build work, never join-side work
    val planStr = resid.queryExecution.optimizedPlan.toString
    assert(!planStr.contains("residualbc") && !planStr.contains("Residual") &&
      !planStr.contains("PqEncode"),
      "residual/encode must run at index-build time, not per candidate")
    assert(resid.count() > 0)
  }

  test("one serve core: every codec plans a broadcast query side joined on " +
      "cell and no shuffle before the single top-k window; range has no window") {
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val every = math.max(1L, emb.count() / 10).toInt
    val q = col("id") < 5
    def train(spec: AnnIndex) = Similarity.train(emb, "vec_id", "embedding", spec)
    def topK(spec: AnnIndex) = Similarity.search(emb, "vec_id", "embedding",
      train(spec), q, k = 3, nprobe = 2)
    // (case, plan, windows the plan must hold)
    val cases = Seq(
      ("Flat", topK(AnnIndex(Coarse(Every(every)))), 1),
      ("Sq8", topK(AnnIndex(Coarse(Every(every)), Sq8)), 1),
      ("Pq", topK(AnnIndex(Coarse(Every(every)), Pq(4, every))), 1),
      ("ResidualPq", topK(AnnIndex(Coarse(Every(every)), ResidualPq(4, every))), 1),
      ("exhaustive Pq", topK(AnnIndex(Coarse(Exhaustive), Pq(4, every))), 1),
      ("HNSW", topK(AnnIndex(Coarse(Every(every), hnsw = Some(4)))), 1),
      ("range", Similarity.rangeSearch(emb, "vec_id", "embedding",
        train(AnnIndex(Coarse(Every(every)))), q, simMin = 0.25, nprobe = 2), 0))
    cases.foreach { case (name, df, windows) =>
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case j: BroadcastHashJoinExec => j }.exists(j =>
        j.buildSide == BuildLeft && j.leftKeys.exists(_.references.exists(
          _.name == "cell"))), s"$name: queries must broadcast into the cell join:\n$plan")
      val ws = plan.collect { case w: WindowExec => w }
      assert(ws.size == windows, s"$name: expected $windows window(s):\n$plan")
      // the only shuffle is the top-k window's own input exchange
      assert(shuffleCount(df) == windows && ws.forall(_.collect {
        case e: ShuffleExchangeExec => e }.size == 1),
        s"$name: a shuffle runs before the top-k window:\n$plan")
      assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
      assert(df.count() > 0, s"$name: no candidates")
    }
  }

  test("ANN save writes the coarse, pq and hnsw parquet layouts unchanged") {
    // indexes written before the one-spec API must keep loading: the
    // artifacts are (cid, cv), (j, c, cv) and (pos, cid, cv, lvl, adj)
    val layouts = Map(
      "coarse" -> "cid BIGINT, cv ARRAY<DOUBLE>",
      "pq" -> "j INT, c INT, cv ARRAY<DOUBLE>",
      "hnsw" -> "pos INT, cid BIGINT, cv ARRAY<DOUBLE>, lvl INT, adj ARRAY<ARRAY<INT>>")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = tempDir("graft_idx_layout")
    try {
      for ((sub, spec) <- Seq(
          "ivfpq" -> AnnIndex(Coarse(Every(50)), Pq(4, 50)),
          "hnsw" -> AnnIndex(Coarse(Every(50), hnsw = Some(4))))) {
        val ix = Similarity.train(emb, "vec_id", "embedding", spec)
        Similarity.save(spark, s"$dir/$sub", ix)
        val loaded = Similarity.load(spark, s"$dir/$sub", spec)
        assert(loaded.cids.sameElements(ix.cids))
      }
      val written = Seq("ivfpq/coarse", "ivfpq/pq", "hnsw/hnsw")
      assert(Seq("ivfpq", "hnsw").flatMap(sub =>
        new java.io.File(s"$dir/$sub").list().toSeq.map(k => s"$sub/$k"))
        .sorted == written.sorted)
      written.foreach { path =>
        val got = spark.read.parquet(s"$dir/$path").schema
        val want = org.apache.spark.sql.types.StructType.fromDDL(
          layouts(path.split("/").last))
        assert(got.catalogString == want.catalogString, s"$path: $got")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("persisted-index registry entries leave no index directory behind") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def indexDirs(): Set[String] = tmp.list().toSet
      .filter(n => Seq("graft_idx", "graft_hnsw", "graft_lm").exists(n.startsWith))
    val before = indexDirs()
    for (name <- Seq("v17_index_persist", "v22b_hnsw_persist", "t34_trained_langid"))
      assert(SparkEntry.queries(name)(spark, sf).count() > 0, name)
    val leaked = indexDirs() -- before
    assert(leaked.isEmpty, s"leaked index dirs: $leaked")
  }

  test("IVF broadcast codebook: no literal blowup at C=10k, BNLJ-free, same results") {
    // 12k-vector corpus with centroidEvery=1 → a 12k-entry codebook: far
    // past maxLiteralCentroids, so the codebook must ride as a broadcast
    // variable, not plan literals
    val corpus = spark.range(12000).select(col("id").as("vec_id"),
      array(col("id").cast("double") % 97, col("id").cast("double") % 89,
        col("id").cast("double") % 83).as("embedding"), col("id"))
    val out = annTopK(corpus, AnnIndex(Coarse(Every(1))),
      queryPred = col("id") < 3, k = 2)
    val plan = out.queryExecution.executedPlan
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    assert(shuffleCount(out) == 1) // still only the final top-k window
    // the 12k×3 doubles codebook (~300KB as literals) must NOT be in the plan
    val planChars = out.queryExecution.optimizedPlan.toString.length
    assert(planChars < 50000, s"plan carries literal codebook: $planChars chars")
    // both transports rank identically on a real corpus
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val ix = Similarity.train(emb, "vec_id", "embedding",
      AnnIndex(Coarse(Every(20))))
    def rows(maxLit: Int) = Similarity.search(emb, "vec_id", "embedding", ix,
        queryPred = col("id") < 5, k = 3, nprobe = 1,
        maxLiteralCentroids = maxLit)
      .orderBy("query_id", "neighbor_id").collect().map(_.toString).toSeq
    assert(rows(1024) == rows(0)) // literal path == broadcast path
  }

  test("bloom skip index: equality/IN scans read fewer files, results identical") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    spark.sql("DROP TABLE IF EXISTS bloom_t")
    spark.sql("DROP TABLE IF EXISTS bloom_t__bloom_k")
    // 8 files, ids range-clustered so each file holds a disjoint id slice
    spark.range(0, 8000).select(col("id").as("k"),
        (col("id") % 97).as("payload"))
      .repartitionByRange(8, col("k"))
      .write.option("path", s"$wh/bloom_t").mode("overwrite")
      .saveAsTable("bloom_t")
    graft.plans.BloomSkipIndex.materialize(spark, "bloom_t", "k")
    spark.sql("ALTER TABLE bloom_t SET TBLPROPERTIES " +
      "('graft.bloomindex.bf_k'='k')")
    graft.plans.BloomSkipIndex.install(spark)
    def filesRead(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.relation.location.inputFiles.length
      }.sum
    val q = spark.table("bloom_t").filter(col("k") === 42L || col("k") === 42L)
      .filter(col("k").isin(42L, 7042L))
    val pruned = spark.table("bloom_t").filter(col("k").isin(42L, 7042L))
    val full = spark.table("bloom_t").filter(col("payload") >= 0)
    assert(filesRead(full) == 8, s"expected 8 base files, ${filesRead(full)}")
    val n = filesRead(pruned)
    assert(n < 8 && n >= 2, s"bloom should prune to the 2 id-slices, read $n")
    // no false negatives: pruned result == the full-scan filter result
    val uninstalled = spark.newSession()
    val expect = uninstalled.table("bloom_t").filter(col("k").isin(42L, 7042L))
      .collect().map(_.toString).sorted.toSeq
    assert(pruned.collect().map(_.toString).sorted.toSeq == expect)
    // single-equality probe prunes to (at most) one slice + none unknown
    val one = spark.table("bloom_t").filter(col("k") === 123L)
    assert(filesRead(one) <= 2, s"single probe read ${filesRead(one)} files")
    assert(one.count() == 1)
    // files written AFTER the build are kept, never wrongly pruned
    spark.range(90000, 90003).select(col("id").as("k"),
        lit(0L).as("payload"))
      .write.mode("append").saveAsTable("bloom_t")
    val post = spark.table("bloom_t").filter(col("k") === 90001L)
    assert(post.count() == 1, "post-build file must be kept by the pruner")
    // two bloom conjuncts intersect: (k=42) AND (k IN (42,7042)) → 1 row
    assert(q.count() == 1)
  }

  test("bloom skip index composes with partitioned layouts: the partition " +
      "filter drops directories, the bloom drops files inside the survivors") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    spark.sql("DROP TABLE IF EXISTS bloomp_t")
    spark.sql("DROP TABLE IF EXISTS bloomp_t__bloom_k")
    // 2 partition dirs (p = id % 2) × 4 range-clustered writer tasks on
    // the DATA column k → 8 leaf files; a k-probe is selective on a
    // NON-partition column, exactly the case partition pruning can't touch
    spark.range(0, 8000).select(col("id").as("k"),
        (col("id") % 2).as("p"), (col("id") % 97).as("payload"))
      .repartitionByRange(4, col("k"))
      .write.partitionBy("p").option("path", s"$wh/bloomp_t")
      .mode("overwrite").saveAsTable("bloomp_t")
    graft.plans.BloomSkipIndex.materialize(spark, "bloomp_t", "k")
    spark.sql("ALTER TABLE bloomp_t SET TBLPROPERTIES " +
      "('graft.bloomindex.bf_k'='k')")
    graft.plans.BloomSkipIndex.install(spark)
    // numFiles metric = files actually scanned AFTER partition pruning —
    // inputFiles would ignore the partition filter
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.metrics("numFiles").value
      }.sum
    }
    assert(scannedFiles(spark.table("bloomp_t").filter(col("payload") >= 0)) == 8)
    // bloom alone: k = 42 lives in ONE slice of ONE parity → 1 file
    val bloomOnly = spark.table("bloomp_t").filter(col("k") === 42L)
    assert(scannedFiles(bloomOnly) <= 2,
      "bloom must prune inside both partition dirs")
    // partition alone: half the directories
    assert(scannedFiles(spark.table("bloomp_t")
      .filter(col("p") === 1L && col("payload") >= 0)) == 4)
    // composed: both prunings apply — at most one file survives per probe
    val both = spark.table("bloomp_t")
      .filter(col("k") === 42L && col("p") === 0L)
    assert(scannedFiles(both) <= 1, "partition + bloom pruning must compose")
    // no false negatives and partition VALUES intact vs a rule-free session
    val uninstalled = spark.newSession()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(spark.table("bloomp_t").filter(col("k").isin(42L, 7041L))) ==
      rows(uninstalled.table("bloomp_t").filter(col("k").isin(42L, 7041L))))
    assert(both.select("k", "p", "payload").collect().map(_.toString).toSeq ==
      Seq("[42,0,42]"))
  }

  test("bloom sidecar probe map is cached per build: consecutive queries " +
      "load the sidecar ONCE; a rebuild invalidates; unknown files pass " +
      "the dropped-set index") {
    import graft.plans.{BloomSkipIndex, BloomPrunedFileIndex}
    spark.sql("DROP TABLE IF EXISTS bloomc_t")
    spark.sql("DROP TABLE IF EXISTS bloomc_t__bloom_k")
    spark.range(0, 4000).select(col("id").as("k"),
        (col("id") % 7).as("payload"))
      .repartitionByRange(4, col("k"))
      .write.option("path", s"$wh/bloomc_t").mode("overwrite")
      .saveAsTable("bloomc_t")
    BloomSkipIndex.materialize(spark, "bloomc_t", "k")
    spark.sql("ALTER TABLE bloomc_t SET TBLPROPERTIES " +
      "('graft.bloomindex.bf'='k')")
    BloomSkipIndex.install(spark)
    val before = BloomSkipIndex.sidecarLoads.get()
    assert(spark.table("bloomc_t").filter(col("k") === 42L).count() == 1)
    assert(spark.table("bloomc_t").filter(col("k") === 43L).count() == 1)
    val after = BloomSkipIndex.sidecarLoads.get()
    assert(after - before == 1, "two consecutive queries against an " +
      s"unchanged table must read the sidecar ONCE, read ${after - before}")
    // a rebuild (the OPTIMIZE/MATERIALIZE path) invalidates: exactly one
    // reload on the next query, and reads stay correct
    BloomSkipIndex.materialize(spark, "bloomc_t", "k")
    assert(spark.table("bloomc_t").filter(col("k") === 44L).count() == 1)
    assert(spark.table("bloomc_t").filter(col("k") === 45L).count() == 1)
    assert(BloomSkipIndex.sidecarLoads.get() - after == 1,
      "a rebuild must invalidate the cached probe map exactly once")
    // OUT-OF-BAND rewrite (neither buildSidecar nor DROP INDEX): the
    // cache must detect the fresh createTime instead of trusting name
    // identity — one reload, results still correct
    val side = "bloomc_t__bloom_k"
    val snap = spark.table(side).collect().toSeq
    val sch = spark.table(side).schema
    spark.sql(s"DROP TABLE $side")
    Thread.sleep(5) // createTime granularity is milliseconds
    spark.createDataFrame(spark.sparkContext.parallelize(snap, 1), sch)
      .write.saveAsTable(side)
    val c0 = BloomSkipIndex.sidecarLoads.get()
    assert(spark.table("bloomc_t").filter(col("k") === 46L).count() == 1)
    assert(spark.table("bloomc_t").filter(col("k") === 47L).count() == 1)
    assert(BloomSkipIndex.sidecarLoads.get() - c0 == 1,
      "an out-of-band sidecar rewrite must be detected by createTime " +
        "(one reload), never served stale")
    // dropped-set fail-safe: the pruned index EXCLUDES only what the
    // probe positively rejected; any file it never saw passes through
    val rel = spark.table("bloomc_t").queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
    }.head
    val all = rel.location.inputFiles
    val idx = BloomPrunedFileIndex(rel.location, Set("/nowhere/unknown"))
    assert(idx.inputFiles.toSeq == all.toSeq,
      "files unknown to the probe snapshot must never be dropped")
    val one = BloomSkipIndex2Key(all.head)
    val idx2 = BloomPrunedFileIndex(rel.location, Set(one))
    assert(idx2.inputFiles.length == all.length - 1)
    assert(idx2.listFiles(Nil, Nil).map(_.files.size).sum == all.length - 1)
  }

  // test-side alias of the private fileKey contract (decoded URI path)
  private def BloomSkipIndex2Key(path: String): String = {
    val u = new java.net.URI(path)
    if (u.getPath != null && u.getPath.nonEmpty) u.getPath else path
  }

  test("token bloom index: hasToken scans read fewer files, results identical") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.plans.BloomSkipIndex
    spark.sql("DROP TABLE IF EXISTS tokb_t")
    spark.sql(s"DROP TABLE IF EXISTS ${BloomSkipIndex.tokenSidecarName("tokb_t", "txt")}")
    // 4 files, each file's rows carry a file-unique token (tok_0..tok_3)
    spark.range(0, 4000).select(col("id").as("k"),
        concat(lit("common words here tok_"),
          (col("id") / 1000).cast("int").cast("string")).as("txt"))
      .repartitionByRange(4, col("k"))
      .write.option("path", s"$wh/tokb_t").mode("overwrite")
      .saveAsTable("tokb_t")
    BloomSkipIndex.materializeTokens(spark, "tokb_t", "txt")
    spark.sql("ALTER TABLE tokb_t SET TBLPROPERTIES " +
      "('graft.tokbloomindex.tok'='txt')")
    BloomSkipIndex.install(spark)
    def filesRead(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.relation.location.inputFiles.length
      }.sum
    // the exact hasToken shape ChSql emits
    def hasTok(tok: String) = array_contains(
      split(col("txt"), BloomSkipIndex.TokenSplitRe), tok)
    val full = spark.table("tokb_t").filter(col("k") >= 0)
    assert(filesRead(full) == 4, s"expected 4 base files, ${filesRead(full)}")
    val pruned = spark.table("tokb_t").filter(hasTok("tok_2"))
    assert(filesRead(pruned) < 4, s"token bloom should prune, read ${filesRead(pruned)}")
    assert(pruned.count() == 1000)
    // the shared token prunes nothing (in every file) but stays correct
    val common = spark.table("tokb_t").filter(hasTok("common"))
    assert(common.count() == 4000)
    // fresh session without the rule agrees row-for-row
    val expect = spark.newSession().table("tokb_t").filter(hasTok("tok_2"))
      .collect().map(_.toString).sorted.toSeq
    assert(pruned.collect().map(_.toString).sorted.toSeq == expect)
  }

  test("p7 pretrain pipeline: selection is TakeOrderedAndProject, no nested-loop joins, text never shuffles") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val df = SparkEntry.queries("p7_pretrain_pipeline")(spark,
      "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan
    // the Gumbel-top-k selection must be per-partition heaps + a driver
    // merge, never a global sort of the weighted corpus
    assert(plan.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      "dsirResample's selection must plan as TakeOrderedAndProject")
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    // the text column reaches profile/count stages scan-locally; no
    // exchange may carry it (only digests, weights, ids, counts travel)
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"an exchange carries the text column: ${e.output.map(_.name)}")
    }
    assert(df.count() > 0)
  }

  test("p8 gopher/decontam pipeline: no sort-merge joins, text never " +
      "shuffles (digest/id/count rows only cross exchanges)") {
    val df = SparkEntry.queries("p8_gopher_decontam_pack")(spark,
      "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan
    assert(plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, s"bench/candidate/flag sides must broadcast:\n$plan")
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty) // the digest dedup + the shard repartition
    exchanges.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"an exchange carries the text column: ${e.output.map(_.name)}")
    }
    assert(df.count() > 0)
  }

  test("bloom family soundness PROPERTY: pruned reads == unpruned reads on random corpora and probes") {
    // generated-corpus postcondition: for random tables, random file
    // layouts and random probes (present AND absent values), every
    // bloom-pruned read must return exactly the unpruned read's rows —
    // no false negative can exist at any seed
    import graft.plans.BloomSkipIndex
    val rnd = new scala.util.Random(1234)
    val words = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golfball", "hotelier")
    for (round <- 0 until 2) {
      val t = s"bprop_$round"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      Seq("__bloom_k", "__tokbloom_s", "__ngrambloom_s").foreach(sfx =>
        spark.sql(s"DROP TABLE IF EXISTS $t$sfx"))
      val rows = Seq.tabulate(1500)(i => (i.toLong,
        rnd.nextInt(400).toLong,
        Seq.fill(3 + rnd.nextInt(4))(words(rnd.nextInt(words.size)))
          .mkString(" ")))
      // round 0: flat layout; round 1: PARTITIONED layout (id % 3 dirs) —
      // duplicate leaf file names across partition dirs are exactly the
      // shape that broke last-segment file keys (r12c fileKey fix)
      val base = spark.createDataFrame(rows).toDF("id", "k", "s")
        .withColumn("pt", col("id") % 3)
        .repartition(4) // random (round-robin-ish) file layout
        .write.option("path", s"$wh/$t").mode("overwrite")
      (if (round == 1) base.partitionBy("pt") else base).saveAsTable(t)
      BloomSkipIndex.materialize(spark, t, "k")
      BloomSkipIndex.materializeTokens(spark, t, "s")
      BloomSkipIndex.materializeNgrams(spark, t, "s")
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES (" +
        s"'graft.bloomindex.bk'='k', 'graft.tokbloomindex.bs'='s', " +
        s"'graft.ngrambloomindex.bn'='s')")
      BloomSkipIndex.install(spark)
      val plain = spark.newSession() // no rule installed: ground truth
      def agree(mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
        val got = mk(spark.table(t)).collect().map(_.toString).sorted.toSeq
        val want = mk(plain.table(t)).collect().map(_.toString).sorted.toSeq
        assert(got == want, s"pruned read diverged at round $round")
      }
      for (_ <- 0 until 6) {
        val kv = rnd.nextInt(500).toLong // present or absent
        agree(_.filter(col("k") === kv))
        agree(_.filter(col("k").isin(kv, kv + 7, 999999L)))
        val tok = if (rnd.nextBoolean()) words(rnd.nextInt(words.size))
          else "absenttok"
        agree(_.filter(array_contains(
          split(col("s"), BloomSkipIndex.TokenSplitRe), tok)))
        val pat = if (rnd.nextBoolean()) {
          val w = words(rnd.nextInt(words.size))
          val off = rnd.nextInt(math.max(1, w.length - 4))
          w.substring(off, math.min(w.length, off + 4 + rnd.nextInt(2)))
        } else "zzzzq"
        agree(_.filter(col("s").like(s"%$pat%")))
      }
      spark.sql(s"DROP TABLE $t")
    }
  }

  test("bitset_or aggregate == sort_array(collect_set(explode)) on random bit arrays") {
    // the bloom build's OR-fold must produce the exact value the
    // explode+collect_set form did (sidecars stay oracle-comparable),
    // while keeping per-partition state at nBits/8 bytes
    import graft.plans.BitsetOrAgg
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(500)(i => (i % 7,
      Seq.fill(rnd.nextInt(20))(rnd.nextInt(65536))))
    val df = spark.createDataFrame(rows).toDF("g", "bits")
    val viaAgg = df.groupBy("g")
      .agg(BitsetOrAgg.bitsetOr(col("bits"), 65536).as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1)).toMap
    val viaSet = df.select(col("g"), explode(col("bits")).as("b"))
      .groupBy("g").agg(sort_array(collect_set(col("b"))).as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1)).toMap
    assert(viaAgg.keySet == (0 until 7).toSet)
    assert(viaAgg == viaSet)
    // empty-array rows contribute nothing; a group of only empties is empty
    val df2 = spark.createDataFrame(Seq((1, Seq.empty[Int]))).toDF("g", "bits")
    val e = df2.groupBy("g").agg(BitsetOrAgg.bitsetOr(col("bits"), 64).as("s"))
      .head.getSeq[Int](1)
    assert(e.isEmpty)
  }

  test("bloom probe-map entries are fixed-size packed words, independent of bit density; " +
      "legacy unpacked sidecars still probe correctly") {
    import graft.plans.BloomSkipIndex
    // dense table: many distinct values per file → thousands of bits set
    spark.sql("DROP TABLE IF EXISTS bloomw_t")
    spark.sql("DROP TABLE IF EXISTS bloomw_t__bloom_k")
    spark.range(0, 8000).select(col("id").as("k"), (col("id") % 5).as("p"))
      .repartitionByRange(4, col("k"))
      .write.option("path", s"$wh/bloomw_t").mode("overwrite")
      .saveAsTable("bloomw_t")
    BloomSkipIndex.materialize(spark, "bloomw_t", "k")
    val m = BloomSkipIndex.probeMap(spark, "bloomw_t__bloom_k")
    assert(m.nonEmpty)
    // every entry is exactly NumBits/64 longs — 8 KB, NOT density-scaled
    // (the boxed Set[Int] form this replaces cost ~48 B per SET BIT:
    // ~3 MB for a dense file, unserveable at 10⁶ files)
    assert(m.values.forall(_.length == BloomSkipIndex.NumBits / 64),
      "probe entries must be the fixed packed word count")
    // and the dense build really did set thousands of bits per file
    val setBits = m.values.map(_.map(java.lang.Long.bitCount).sum).max
    assert(setBits > 1000, s"dense file should set many bits, got $setBits")

    // LEGACY fallback: a pre-r14 sidecar (array<int> positions) written
    // out-of-band must load through the unpacked branch and prune the
    // same — no flag day for existing sidecars
    spark.sql("DROP TABLE IF EXISTS bloomw_t__bloom_k")
    val legacy = spark.table("bloomw_t")
      .select(input_file_name().as("file"), col("k"))
      .select(col("file"), array((0 until 3).map(seed =>
        pmod(xxhash64(col("k"), lit(seed)), lit(65536L)).cast("int")): _*)
        .as("rb"))
      .groupBy("file")
      .agg(graft.plans.BitsetOrAgg.bitsetOr(col("rb"), 65536).as("bits"))
    legacy.write.mode("overwrite").saveAsTable("bloomw_t__bloom_k")
    spark.sql("ALTER TABLE bloomw_t SET TBLPROPERTIES " +
      "('graft.bloomindex.bf'='k')")
    BloomSkipIndex.install(spark)
    val m2 = BloomSkipIndex.probeMap(spark, "bloomw_t__bloom_k")
    assert(m2.values.forall(_.length == BloomSkipIndex.NumBits / 64),
      "legacy int-array sidecars must unpack into the same fixed words")
    assert(m.keySet == m2.keySet)
    assert(m.forall { case (k, v) => m2(k).toSeq == v.toSeq },
      "legacy and packed builds encode the identical bit sets")
    val got = spark.table("bloomw_t").filter(col("k") === 42L).count()
    assert(got == 1, "pruned read over a legacy sidecar must stay correct")
  }

  test("ngram bloom index: LIKE-substring scans read fewer files, results identical") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.plans.BloomSkipIndex
    spark.sql("DROP TABLE IF EXISTS ngb_t")
    spark.sql(s"DROP TABLE IF EXISTS ${BloomSkipIndex.ngramSidecarName("ngb_t", "txt")}")
    // 4 files; each file's rows carry a file-unique marker word
    spark.range(0, 4000).select(col("id").as("k"),
        concat(lit("prefix marker"),
          (col("id") / 1000).cast("int").cast("string"),
          lit("x suffix")).as("txt"))
      .repartitionByRange(4, col("k"))
      .write.option("path", s"$wh/ngb_t").mode("overwrite")
      .saveAsTable("ngb_t")
    BloomSkipIndex.materializeNgrams(spark, "ngb_t", "txt")
    spark.sql("ALTER TABLE ngb_t SET TBLPROPERTIES " +
      "('graft.ngrambloomindex.ng'='txt')")
    BloomSkipIndex.install(spark)
    def filesRead(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.relation.location.inputFiles.length
      }.sum
    val full = spark.table("ngb_t").filter(col("k") >= 0)
    assert(filesRead(full) == 4)
    // '%marker2x%' crosses the marker/suffix boundary — only file 2 has it
    val pruned = spark.table("ngb_t").filter(col("txt").like("%marker2x%"))
    assert(filesRead(pruned) < 4, s"ngram bloom should prune, read ${filesRead(pruned)}")
    assert(pruned.count() == 1000)
    // a sub-NgramN pattern cannot prune but stays correct
    val short = spark.table("ngb_t").filter(col("txt").like("%2x%"))
    assert(filesRead(short) == 4)
    assert(short.count() == 1000)
    // fresh session without the rule agrees row-for-row
    val expect = spark.newSession().table("ngb_t")
      .filter(col("txt").like("%marker2x%"))
      .collect().map(_.toString).sorted.toSeq
    assert(pruned.collect().map(_.toString).sorted.toSeq == expect)
  }

  test("topK plans as TakeOrderedAndProject; funnel and FINAL are aggregates, not windows") {
    val part = spark.read.parquet(s"$sf/part.parquet")
    val topk = part.groupBy("p_type").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("p_type")).limit(5)
    // limit-after-sort must fold into a top-k merge, never a full sort
    assert(topk.queryExecution.executedPlan.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t }.nonEmpty)
    import spark.implicits._
    val ev = Seq((1L, 100L, "signup"), (1L, 200L, "click"))
      .toDF("user_id", "t", "event_type")
      .select(col("user_id"), timestamp_micros(col("t")).as("ts"), col("event_type"))
    val funnel = ChOps.windowFunnel(ev, "user_id", "ts", "event_type",
      Seq("signup", "click"), 1000L)
    val fin = ChOps.selectFinal(
      spark.read.parquet(s"$sf/lineitem.parquet")
        .select("l_orderkey", "l_linenumber", "l_quantity"),
      Seq("l_orderkey"), "l_linenumber")
    // both collapse per key via aggregation — a WindowExec would mean a
    // per-key sort pipeline that can't partial-aggregate map-side
    for (df <- Seq(funnel, fin))
      assert(df.queryExecution.executedPlan.collect {
        case w: WindowExec => w }.isEmpty)
  }

  test("q13/q16 plans: single aggregation pass, one shuffle (r2 bench-noise pin)") {
    // the r2 bench showed q16 4.1x / q13 2.3x vs r1 with unchanged code;
    // these pins prove the plans are still the textbook partial+final
    // aggregate so any future delta is attributable to the harness, not
    // the plan (bench now takes min-of-3 for the same reason)
    val q16 = SparkEntry.queries("q16_conditional_agg")(spark, sf)
    val q13 = SparkEntry.queries("q13_grouping_sets")(spark, sf)
    for (df <- Seq(q16, q13)) {
      val plan = df.queryExecution.executedPlan
      // no window, no join — pure aggregate + order
      assert(plan.collect { case w: WindowExec => w }.isEmpty)
      assert(plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.isEmpty)
      // exactly 2 shuffles: one for the (expanded) groupBy, one for the
      // final orderBy — anything more means a lost partial-aggregation
      assert(shuffleCount(df) <= 2)
      // partial+final pairing: every aggregate runs map-side first
      val aggs = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a }
      assert(aggs.size == 2, s"expected partial+final aggregate, got ${aggs.size}")
    }
  }

  test("distributed compound WITH TIES: no window, cutoff filter reaches the scan") {
    val part = spark.read.parquet(s"$sf/part.parquet")
      .select("p_partkey", "p_brand", "p_retailprice")
    val out = ChOps.distributedTopKWithTiesCompound(
      part, Seq(col("p_retailprice") -> true, col("p_brand") -> false), 5)
    assert(out.queryExecution.executedPlan.collect {
      case w: WindowExec => w }.isEmpty)
    // the lexicographic cutoff predicate pushes into the parquet scan
    val scans = out.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.exists(_.metadata.get("PushedFilters").exists(_ != "[]")))
  }

  test("weighted quantile: aggregate runs BELOW the window (distinct-value input)") {
    val df = SparkEntry.queries("q83_weighted_quantile")(spark, sf)
    val plan = df.queryExecution.executedPlan
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    // every window must sit above the (group, value) pre-aggregation so
    // its input is |distinct values| rows, not the table
    windows.foreach { w =>
      val aggsBelow = w.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a }
      assert(aggsBelow.nonEmpty, "window reads raw rows — lost the pre-aggregation")
    }
  }

  test("adaptive histogram: every aggregation buffer is bounded (no exact percentile)") {
    // the previous edge pass used exact `percentile`, whose final buffer
    // holds every value of the column — a scale-killer at 100 TB; the
    // micro-histogram derivation caps every aggregate at ≤4096 grid keys
    val df = graft.operators.ChOps.adaptiveHistogram(
      spark.read.parquet(s"$sf/lineitem.parquet"), "l_quantity", 6)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("percentile"),
      "unbounded exact-percentile buffer is back in the edge pass")
    // binning pass carries the edges as broadcast literals: no join at all
    assert(df.queryExecution.executedPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.isEmpty,
      "edge pass should ride in as literals, not a join")
    // and the result is still the equi-depth shape: 6 bins covering n rows
    val rows = df.collect()
    assert(rows.length == 6)
    val total = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(rows.map(_.getAs[Long]("n")).sum == total)
    // NULLs never enter the histogram; empty input yields zero bins
    import spark.implicits._
    val withNulls = Seq[java.lang.Double](1.0, 2.0, null, 3.0, null, 4.0)
      .toDF("x")
    val hn = graft.operators.ChOps.adaptiveHistogram(withNulls, "x", 2)
    assert(hn.collect().map(_.getAs[Long]("n")).sum == 4)
    val he = graft.operators.ChOps.adaptiveHistogram(
      Seq.empty[java.lang.Double].toDF("x"), "x", 3)
    assert(he.collect().isEmpty)
  }

  test("langId expression stays compact (the when-fold doubled per language)") {
    // the original when-fold over 12+8 languages duplicated every earlier
    // count in each branch: ~2^12-node trees, 20 MiB task binaries and a
    // 330 s bench entry; the argmax-over-struct-array form keeps each
    // count subexpression once (t7 back to ~2 s)
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select(graft.operators.TextAnalysis.langId(col("text")).as("p"))
    val nodes = df.queryExecution.analyzed.expressions
      .map(_.collect { case e => e }.size).sum
    assert(nodes < 2000, s"langId expression tree blew up: $nodes nodes")
  }

  test("decontaminate probes via broadcast: the corpus side never shuffles") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.operators.TextAnalysis.decontaminate(
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
        "doc_id", "text", 4)
      .queryExecution.executedPlan
    val bhj = plan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.nonEmpty, s"expected a broadcast probe join:\n$plan")
    // the STREAMED (corpus) side reaches the probe without any exchange —
    // the only shuffles are the tiny benchmark distinct and the per-doc
    // count of joined hits, both negligible next to a 100 TB corpus scan
    val streamed = bhj.head.children(
      if (bhj.head.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildRight) 0 else 1)
    val corpusShuffles = streamed.collect { case s: ShuffleExchangeExec => s }
    assert(corpusShuffles.isEmpty,
      s"corpus side shuffled before the probe:\n$streamed")
  }

  test("closure: 40-hop chain closes within the default 2^10 path cap") {
    import spark.implicits._
    // the default maxRounds = 10 caps paths at 2^10 edges, so a 40-hop
    // chain must close completely, with exact shortest and longest depths
    val edges = (0 until 40).map(i => (f"n$i%02d", f"n${i + 1}%02d")).toDF("src", "dst")
    val c = DependencyGraph.transitiveClosure(edges)
    assert(c.count() == 41L * 40 / 2)
    val d = c.filter(col("src") === "n00" && col("dst") === "n40")
      .head().getAs[Int]("depth")
    assert(d == 40)
    val levels = DependencyGraph.refreshLevels(
      (0 to 40).map(i => f"n$i%02d").toDF("id"), edges)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert((0 to 40).forall(i => levels(f"n$i%02d") == i))
  }

  test("PQ encode is row-local (zero shuffles/joins); ADC scan shuffles once") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      m = 4, centroidEvery = 50)
    // encode: one projection over the scan — the 64x compression pass a
    // 100 TB pipeline persists must not shuffle or join anything
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
    assert(shuffleCount(codes) == 0)
    assert(codes.queryExecution.executedPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty)
    assert(codes.head().getSeq[Int](1).length == 4)
    // exhaustive ADC: the only shuffle is the final per-query top-k window
    // (the query×codes product is a deliberate broadcast cross join — the
    // broadcast side is the FEW queries, never the corpus)
    val out = annTopK(emb, AnnIndex(Coarse(Exhaustive), Pq(4, 50)),
      queryPred = col("id") < 5, k = 3)
    assert(shuffleCount(out) == 1)
    assert(out.count() == 15)
  }

  test("pqCodebooksTrained: one Lloyd round never raises quantization " +
      "distortion; deterministic; serving plan shape identical to stride") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def distortion(cb: graft.plans.PqCodebooks): Double = {
      val vecs = emb.select(Similarity.asDouble(col("embedding")).as("v"))
        .collect().map(_.getSeq[Double](0).toArray)
      vecs.map { v =>
        (0 until cb.m).map { j =>
          (0 until cb.nCentroids).map { c =>
            var s = 0.0; var t = 0
            while (t < cb.dsub) {
              val d = v(j * cb.dsub + t) - cb.cents(j)(c)(t); s += d * d
              t += 1
            }
            s
          }.min
        }.sum
      }.sum / vecs.length
    }
    val stride = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      m = 4, centroidEvery = 50)
    val trained = Similarity.pqCodebooksTrained(emb, "vec_id", "embedding",
      m = 4, centroidEvery = 50, iters = 1)
    val (d0, d1) = (distortion(stride), distortion(trained))
    assert(d1 <= d0 + 1e-9,
      s"training must not raise distortion: stride $d0 -> trained $d1")
    // on this corpus the round genuinely moves the centroids
    assert(d1 < d0, s"expected a strict improvement at stride-50: $d0 -> $d1")
    // deterministic retrain
    val trained2 = Similarity.pqCodebooksTrained(emb, "vec_id", "embedding",
      m = 4, centroidEvery = 50, iters = 1)
    assert((0 until trained.m).forall(j =>
      trained.cents(j).zip(trained2.cents(j))
        .forall { case (a, b) => a.sameElements(b) }))
    // identical serving shape: encode row-local, one top-k shuffle
    val out = annTopK(emb, AnnIndex(Coarse(Exhaustive), Pq(4, 50, iters = 1)),
      queryPred = col("id") < 5, k = 3)
    assert(shuffleCount(out) == 1)
    assert(out.count() == 15)
  }

  test("PQ ADC distance equals exact reconstruction distance (algebra pin)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      m = 4, centroidEvery = 50)
    val vecs = emb.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("v")).orderBy("vec_id")
      .limit(20).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      .filter(col("id") < 20).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    val out = annTopK(emb.filter(col("vec_id") < 20),
      AnnIndex(Coarse(Exhaustive), Pq(4, 5)), queryPred = col("id") < 3, k = 5)
    // recompute every returned adist from first principles: the codebooks
    // of THIS call (centroidEvery=5), re-encode, sum per-subspace L2
    val cb5 = Similarity.pqCodebooks(emb.filter(col("vec_id") < 20), "vec_id",
      "embedding", m = 4, centroidEvery = 5)
    def encode(v: Array[Double]): Array[Int] = Array.tabulate(cb5.m) { j =>
      val ds = cb5.dsub
      (0 until cb5.nCentroids).minBy { c =>
        var s = 0.0; var t = 0
        while (t < ds) { val d = v(j * ds + t) - cb5.cents(j)(c)(t); s += d * d; t += 1 }
        (s, c)
      }
    }
    out.collect().foreach { r =>
      val (q, n, adist) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val qv = vecs(q)
      val ncodes = encode(vecs(n))
      var s = 0.0
      for (j <- 0 until cb5.m) {
        val cv = cb5.cents(j)(ncodes(j))
        var sub = 0.0; var t = 0
        while (t < cb5.dsub) { val d = qv(j * cb5.dsub + t) - cv(t); sub += d * d; t += 1 }
        s += sub
      }
      assert(math.abs(adist - s) < 1e-6, s"($q,$n): $adist vs $s")
    }
    assert(codes.nonEmpty && vecs.nonEmpty) // fixtures actually loaded
  }

  test("IVF-PQ: candidates restricted to probed cells, one shuffle, BNLJ-free") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val out = annTopK(emb, AnnIndex(Coarse(Every(20)), Pq(4, 50)),
      queryPred = col("id") < 5, k = 3, nprobe = 2)
    val plan = out.queryExecution.executedPlan
    // cell-restricted ADC is a broadcast HASH join on cell — the
    // nested-loop exhaustive product must be gone
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    assert(shuffleCount(out) == 1)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // IVF-PQ results are a subset of the exhaustive ADC ranking's universe:
    // every returned pair must also score identically under the
    // exhaustive ADC
    val exhaustive = annTopK(emb, AnnIndex(Coarse(Exhaustive), Pq(4, 50)),
        queryPred = col("id") < 5, k = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rows.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(exhaustive(key) == r.getDouble(2), s"adist mismatch at $key")
    }
    // r10 pin: the code table is a MATERIALIZED index (eager
    // localCheckpoint) — encode/assign must NOT appear in the query
    // plan, where the join's match loop would re-evaluate them once per
    // CANDIDATE (measured 24 s vs 0.9 s at C=256 over 1M candidates;
    // the O(m) per-candidate ADC contract depends on this)
    val planStr = out.queryExecution.optimizedPlan.toString
    assert(!planStr.contains("pqencodebc") && !planStr.contains("PqEncode"),
      "PQ encode must run at index-build time, not inside the candidate join")
    assert(planStr.contains("ExistingRDD") || planStr.contains("LogicalRDD"),
      "the candidate join must read the materialized code table")
  }

  test("p4 curation chain: chunk + fingerprint stages add zero shuffles") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val cleaned = TextAnalysis.lineDedup(docs, "doc_id", "text", 10)
      .select("doc_id", "text")
    val keep = cleaned.groupBy(md5(col("text")))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    val deduped = cleaned.join(keep, Seq("doc_id"), "left_semi")
    val quality = deduped.filter(TextAnalysis.tokenCount(col("text")) >= 20)
    val base = shuffleCount(quality)
    val full = shuffleCount(
      TextAnalysis.chunkTokens(quality, "doc_id", "text", 20, 15)
        .select(col("doc_id"), col("chunk_idx"),
          graft.functions.PortableHash.charFold(col("chunk")).as("fp")))
    // chunking + fingerprinting are project/explode only — all shuffles
    // in the full pipeline belong to the dedup stages
    assert(full == base,
      s"chunk+fingerprint must be shuffle-free ($base -> $full)")
  }

  test("bm25TopK: top-k is TakeOrdered, scoring plan carries no join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.operators.TextAnalysis.bm25TopK(
      docs, "doc_id", "text", Seq("spark", "merge"), k = 10)
    val plan = out.queryExecution.executedPlan
    // top-k must be per-partition heads + driver merge — no global sort
    assert(plan.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, "bm25 top-k must plan as TakeOrderedAndProject")
    assert(plan.collect {
      case s: org.apache.spark.sql.execution.SortExec => s
    }.isEmpty, "no full SortExec in the bm25 plan")
    // stats folded into literals → scoring joins nothing, shuffles nothing
    assert(plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, "bm25 scoring must not join (stats ride as literals)")
    assert(shuffleCount(out) == 0)
  }

  test("lineDedup: corpus branch never shuffles; dup set rides broadcast") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.operators.TextAnalysis.lineDedup(
      docs, "doc_id", "text", minDocs = 10)
    val plan = out.queryExecution.executedPlan
    // the single-row dup array joins via broadcast nested loop (it IS a
    // cross join of one row) — never a shuffled join
    assert(plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }.isEmpty, "dup set must broadcast")
    // shuffles exist only under the dup-AGGREGATION branch (line count +
    // single-row collect); the corpus branch above the join has none —
    // walk down from the root to the join: no exchange on that spine
    def spine(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
        true
      case e: ShuffleExchangeExec => false
      case other if other.children.nonEmpty => other.children.exists(spine)
      case _ => false
    }
    assert(spine(plan),
      "corpus spine must reach the broadcast join without crossing a shuffle")
  }

  test("dsirWeights: scoring plan is one scan — no joins, no shuffles; " +
      "profile state bounded by bucket count") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.operators.TextAnalysis.dsirWeights(
      docs, "doc_id", "text", target = col("lang") === "en", buckets = 64)
    val plan = out.queryExecution.executedPlan
    // the log-ratio table rides as plan literals (the BM25 stats-fold
    // pattern): the scoring pass joins nothing and shuffles nothing —
    // at 100 TB it is a single embarrassingly-parallel projection
    assert(plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, "dsir scoring must not join (profiles ride as literals)")
    assert(shuffleCount(out) == 0,
      "dsir scoring must not shuffle the corpus")
    // the profile pass collects ≤ buckets rows however large the corpus:
    // the grouping key is hash % buckets by construction
    val profRows = docs.select(explode(transform(
        filter(split(trim(col("text")), "\\s+"), t => length(t) > 0),
        t => pmod(graft.functions.PortableHash.charFold(t), lit(64L))))
      .as("b")).groupBy("b").count().count()
    assert(profRows <= 64)
    // the n-gram tier keeps the identical scoring shape: unigram+bigram
    // features are row-local HOF algebra over the same token array, the
    // shared-bucket log-ratio table still rides as plan literals
    val outN = graft.operators.TextAnalysis.dsirWeightsNgram(
      docs, "doc_id", "text", target = col("lang") === "en", buckets = 64)
    assert(outN.queryExecution.executedPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, "ngram dsir scoring must not join")
    assert(shuffleCount(outN) == 0,
      "ngram dsir scoring must not shuffle the corpus")
  }

  test("bpeEncodeFast: encode is row-local — one scan, zero shuffles, " +
      "zero joins; the merge table rides as ONE broadcast, not literals") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // a deliberately large trained-shape table: at this size the replace
    // chain would be 2,000 plan-literal string passes per token; the
    // fast tier must keep the plan scan-shaped and constant-size
    val merges = (('a' to 'z').flatMap(c1 => ('a' to 'z').map(c2 =>
      (c1.toString, c2.toString))) ++
      ('a' to 'z').map(c => (c.toString, "</w>"))).take(700) ++
      (('a' to 'z').flatMap(c1 => ('a' to 'z').map(c2 =>
        (s"$c1$c2", "</w>")))).take(300)
    val model = graft.operators.TextAnalysis.bpeModel(spark, merges)
    val out = docs.select(col("doc_id"),
      graft.operators.TextAnalysis.bpeEncodeFast(col("text"), model)
        .as("pieces"))
    assert(shuffleCount(out) == 0, "encode must not shuffle")
    assert(out.queryExecution.executedPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, "encode must not join")
    // the merge table must NOT be inlined in the plan text (broadcast
    // reference only) — the replace-chain tier would embed every pair
    val planStr = out.queryExecution.executedPlan.toString
    assert(planStr.length < 20000,
      s"plan text unexpectedly large (${planStr.length}) — literals leak?")
    assert(out.count() == docs.count())
  }

  test("p6 tokenize-and-pack: encode is scan-local, packing shuffles " +
      "ONCE on shard, no joins anywhere") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val merges = (0 until 1000).map(i =>
      (f"${i % 256}%02x", f"${(i * 11 + 5) % 256}%02x"))
    val model = graft.operators.TextAnalysis.bpeModelBytes(spark, merges)
    val counted = docs.select(col("doc_id"),
      Fixtures.mixedScriptFixture(
        col("text"), col("lang")).as("text"))
      .filter(graft.operators.TextAnalysis.tokenCount(col("text")) >= 20)
      .select(col("doc_id"),
        size(graft.operators.TextAnalysis.bpeEncodeIdsBytes(
          col("text"), model)).cast("long").as("n_tokens"))
    val packed = graft.operators.TextAnalysis.packSequences(
      counted, "doc_id", "n_tokens", capacity = 512, shards = 8)
    assert(shuffleCount(packed) == 1,
      "exactly one shuffle (the shard repartition for the running sum)")
    assert(packed.queryExecution.executedPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, "the pipeline must not join")
    assert(packed.count() > 0)
  }

  test("dsirResample: selection is TakeOrderedAndProject — per-partition " +
      "top-k heaps, never a global sort; key is row-local (no joins)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val w = graft.operators.TextAnalysis.dsirWeightsNgram(docs, "doc_id",
      "text", target = col("lang") === "en", buckets = 64)
    val sel = graft.operators.TextAnalysis.dsirResample(w, "doc_id",
      "weight", k = 100)
    val plan = sel.queryExecution.executedPlan
    assert(plan.collect { case p if p.nodeName.contains(
      "TakeOrderedAndProject") => p }.nonEmpty,
      s"expected TakeOrderedAndProject:\n$plan")
    assert(plan.collect {
      case s: org.apache.spark.sql.execution.SortExec => s }.isEmpty,
      "a global sort must never appear in the selection path")
    assert(plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, "the Gumbel key must not join")
    assert(sel.count() == 100)
  }

  test("bpeEncodeBytesFast: byte-level encode is row-local — one scan, " +
      "zero shuffles, zero joins; merge table broadcast, not literals") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // 1,000 hex-pair merges (trained-table values don't matter for the
    // plan shape; size does — the replace-chain tier would inline all)
    val merges = (0 until 1000).map(i =>
      (f"${i % 256}%02x", f"${(i * 7 + 3) % 256}%02x"))
    val model = graft.operators.TextAnalysis.bpeModelBytes(spark, merges)
    val out = docs.select(col("doc_id"),
      graft.operators.TextAnalysis.bpeEncodeFast(col("text"), model)
        .as("pieces"))
    assert(shuffleCount(out) == 0, "byte-level encode must not shuffle")
    assert(out.queryExecution.executedPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, "byte-level encode must not join")
    val planStr = out.queryExecution.executedPlan.toString
    assert(planStr.length < 20000,
      s"plan text unexpectedly large (${planStr.length}) — literals leak?")
    assert(out.count() == docs.count())
  }

  test("gopherRules: the whole rule suite is one scan — zero shuffles, " +
      "zero joins (scan-speed at 100 TB)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val cols = graft.operators.TextAnalysis.gopherRules(col("text"))
      .map { case (n, c) => c.as(n) }
    val out = docs.select(col("doc_id") +: cols: _*)
    assert(shuffleCount(out) == 0, "rule suite must not shuffle")
    assert(out.queryExecution.executedPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, "rule suite must not join")
    assert(out.count() == docs.count())
  }

  test("gopherRepetitionRules: the whole repetition tier is one scan — " +
      "zero shuffles, zero joins (scan-speed at 100 TB)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val cols = graft.operators.TextAnalysis.gopherRepetitionRules(col("text"))
      .map { case (n, c) => c.as(n) }
    val out = docs.select(col("doc_id") +: cols: _*)
    assert(shuffleCount(out) == 0, "repetition tier must not shuffle")
    assert(out.queryExecution.executedPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, "repetition tier must not join")
    assert(out.count() == docs.count())
  }

  test("decontaminateFuzzy: no sort-merge join anywhere; shingle-hash " +
      "arrays never cross an exchange (corpus text/sketches stay scan-side)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bench = docs.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(" edited")).as("text"))
    val out = graft.operators.TextAnalysis.decontaminateFuzzy(
      docs, bench, "doc_id", "text")
    val plan = out.queryExecution.executedPlan
    assert(plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, s"bench/candidate sides must broadcast:\n$plan")
    // the only rows that may shuffle are bounded id/band tuples — a
    // shingle-hash ARRAY crossing an exchange would mean the corpus
    // sketches (corpus-sized) were shuffled
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.forall(e => !e.output.exists(a =>
      a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])),
      s"a shingle-hash array crossed an exchange:\n$plan")
  }

  test("ivfRangeSearch: threshold-bounded output — ZERO shuffles, no " +
      "window, no sort (cheaper than top-k); queries ride broadcast") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val out = Similarity.rangeSearch(emb, "vec_id", "embedding",
      Similarity.train(emb, "vec_id", "embedding", AnnIndex(Coarse(Cells(10)))),
      queryPred = col("id") < 10, simMin = 0.25, nprobe = 2)
    val plan = out.queryExecution.executedPlan
    assert(shuffleCount(out) == 0, s"range search must not shuffle:\n$plan")
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "no per-query window may appear")
    assert(plan.collect {
      case s: org.apache.spark.sql.execution.SortExec => s
    }.isEmpty, "no sort may appear")
    assert(plan.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }.nonEmpty, "queries must broadcast into the cell join")
    assert(out.collect().forall(_.getAs[Double]("sim") >= 0.25))
    // TRAINED-coarse variant (r13, v19b): training happens driver-side
    // before the plan exists, so the SERVING plan keeps the identical
    // zero-shuffle/zero-window shape — only the codebook VALUES differ
    val trained = Similarity.rangeSearch(emb, "vec_id", "embedding",
      Similarity.train(emb, "vec_id", "embedding",
        AnnIndex(Coarse(Cells(10), iters = 1))),
      queryPred = col("id") < 10, simMin = 0.25, nprobe = 2)
    val tplan = trained.queryExecution.executedPlan
    assert(shuffleCount(trained) == 0,
      s"trained range search must not shuffle:\n$tplan")
    assert(tplan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty && tplan.collect {
      case s: org.apache.spark.sql.execution.SortExec => s
    }.isEmpty, "trained range serving must stay window/sort-free")
    assert(trained.collect().forall(_.getAs[Double]("sim") >= 0.25))
  }
}
