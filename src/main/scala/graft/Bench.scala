package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.graftbridge.ColumnBridge
import java.nio.file.{Files, Paths}

object Bench {

  /** Warm up the JVM / parquet footer cache / codegen pipeline so the
    * first timed query isn't charged session-startup cost. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    Seq("lineitem", "orders", "customer", "part", "supplier", "nation",
      "region", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }

  /** A fresh DataFrame over `df`'s analyzed plan without its trailing
    * global sort. The sort exists for the oracle's presentation only, and
    * under full-row execution a global sort pays a range-partitioner
    * SAMPLING pass that re-executes the whole upstream — the old count()
    * path dropped the sort too (EliminateSorts), so stripping keeps that
    * much like-for-like. */
  def withoutTrailingSort(spark: SparkSession, df: DataFrame): DataFrame =
    ColumnBridge.ofRows(spark, df.queryExecution.analyzed match {
      case s: Sort if s.global => s.child
      case p => p
    })

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // min-of-N timing (default 3): run 1 pays codegen/compile, and a single
    // repeat was not enough to kill scheduler/JIT noise on sub-second
    // queries (the r2 q16/q13 "regressions" were exactly that).
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // full per-query JSON also goes to a file: stdout tail capture truncated
    // the r2 results to 65 of 101 queries.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_results.json")
    // Single loadavg reader used at BOTH sample points (pre-session and
    // post-suite) — two verbatim copies invited drift (r10 ADVICE).
    def loadAvg1m(): Double =
      try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // Capture the host's 1-min load BEFORE the session/warmup: the warmup
    // burst (10 table counts on all cores) is the bench's OWN activity
    // and was inflating loadavg_before past the clean_start bound — the
    // stamp exists to expose CO-RESIDENT load, which only the
    // pre-session reading measures. NOTE (recorded in the artifact as
    // loadavg_probe_point): rounds ≤9 sampled this POST-warmup, so
    // loadavg_before/clean_start are not like-for-like across that
    // boundary; co-resident load arriving during the ~30s warmup window
    // is (only) visible in loadavg_after and cpu/wall.
    var loadBefore = loadAvg1m()
    // r16 (VERDICT r15 §wrong-2): the clean-start refusal threshold is
    // now HOST-core-based, not session-core-based. The r15 driver ran
    // its 8-core scaling probe right after the 32-core bench; loadavg
    // 6.60 against a cpus/4=2.0 session threshold refused the run even
    // though 6.6 load on a 32-core host is a draining, usable machine —
    // the guard exists to catch CO-RESIDENT load relative to the host,
    // and an 8-core session on a 32-core host has 24 idle cores of
    // headroom. Additionally, wait-for-drain up to a bounded budget
    // (default 300 s, SPARK_GRAFT_BENCH_WAIT_SEC) before refusing, so a
    // probe queued behind a just-finished bench self-heals instead of
    // exiting 1. Timing methodology is untouched — this only changes
    // when the bench agrees to START.
    val hostCores = Runtime.getRuntime.availableProcessors()
    val loadLimit = hostCores.toDouble / 4.0
    val drainBudgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_WAIT_SEC", "300").toInt
    val drainDeadline = System.nanoTime() + drainBudgetSec * 1000000000L
    while (loadBefore > loadLimit && System.nanoTime() < drainDeadline) {
      System.err.println(
        f"[bench] load $loadBefore%.2f > $loadLimit%.2f (host_cores/4) — " +
        "waiting for drain (SPARK_GRAFT_BENCH_WAIT_SEC budget)")
      Thread.sleep(10000)
      loadBefore = loadAvg1m()
    }
    val spark = Session.local()
    warmUp(spark, sfDir)
    // optional comma-separated name-prefix filter (local iteration only;
    // the driver always runs the full set)
    val nameFilter: String => Boolean = sys.env.get("SPARK_GRAFT_BENCH_FILTER") match {
      case Some(p) => val ps = p.split(","); s => ps.exists(s.startsWith)
      case None => _ => true
    }
    val queries = SparkEntry.queries.toSeq.filter(kv => nameFilter(kv._1))
      .sortBy(_._1)
    // Contamination self-evidence (VERDICT r6 §wrong-2): a loaded machine
    // inflates wall times uniformly across unrelated queries. Stamp the
    // 1-min system load before/after and this JVM's cpu-vs-wall ratio so
    // a contaminated run is readable from the artifact alone: high
    // loadavg relative to the core count, or cpu/wall far below a clean
    // run's, means the numbers carry co-resident load, not plan cost.
    def processCpuSec(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean =>
          os.getProcessCpuTime / 1e9
        case _ => -1.0
      }
    // Contamination GUARD (VERDICT r7 §next-8): a loaded host inflates
    // wall times uniformly, and r6/r7 both shipped official artifacts
    // from contaminated runs. Refuse to produce one: if the 1-min load
    // at start exceeds host_cores/4 (r16: host cores, not session cores
    // — see the drain loop above) even after the bounded drain wait,
    // exit loudly instead of writing numbers that measure co-resident
    // load. SPARK_GRAFT_BENCH_FORCE=1 overrides (and the stamps still
    // record the load for the reader).
    if (loadBefore > loadLimit &&
        !sys.env.get("SPARK_GRAFT_BENCH_FORCE").contains("1")) {
      System.err.println(
        f"[bench] REFUSING to run: loadavg_before $loadBefore%.2f > " +
        f"$loadLimit%.2f (host_cores/4) after the drain wait — the host " +
        "is not at a clean start, so timings would measure co-resident " +
        "load, not plan cost. Set SPARK_GRAFT_BENCH_FORCE=1 to override.")
      spark.stop()
      sys.exit(1)
    }
    // Host-throughput calibration: a FIXED CPU-bound pure-JVM loop (no
    // Spark, no allocation) timed before the suite. Round-over-round
    // bench comparisons keep being confounded by 1.1-1.7× host-speed
    // drift between windows (r7 shift; r8's 78.6-vs-89.1 s spread on
    // identical plans); dividing any timing by calib_sec yields a
    // host-normalized number comparable across rounds. min-of-3 after a
    // warmup pass so JIT cost isn't charged to the score.
    def calibrate(): Double = {
      def pass(): Double = {
        val t0 = System.nanoTime()
        var x = 0x9E3779B97F4A7C15L
        var i = 0
        while (i < 200000000) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
        }
        if (x == 42L) System.err.print("") // defeat dead-code elimination
        (System.nanoTime() - t0) / 1e9
      }
      pass()
      (1 to 3).map(_ => pass()).min
    }
    val calibSec = math.round(calibrate() * 10000) / 10000.0
    val cpu0 = processCpuSec()
    val wall0 = System.nanoTime()
    def once(fn: (SparkSession, String) => DataFrame): Either[Throwable, Double] = {
      val t0 = System.nanoTime()
      // Materialize FULL rows from the query's own physical plan
      // (r11 integrity fix): the previous `df.count()` wrapped the query
      // in an Aggregate, letting Catalyst prune every computed column and
      // even ELIMINATE provably-unique joins — per-row transform queries
      // (fingerprints, quality scores, PII scrubbing, BPE encode, span
      // cleaning) were timing bare scans, not their operators. toRdd
      // executes the planned query as-is (all columns, codegen intact);
      // the RDD count only walks the produced rows. The TRAILING global
      // sort is stripped first (see withoutTrailingSort).
      try {
        withoutTrailingSort(spark, fn(spark, sfDir)).queryExecution.toRdd.count()
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable => Left(e) }
    }
    // INTERLEAVED passes: run the whole suite N times and take each query's
    // min across passes, instead of back-to-back min-of-N per query. With
    // back-to-back repeats a query's GC/codegen-cache debt lands on its
    // alphabetical neighbor every single run, so the min can't escape it —
    // the r3 q11/q12/x1 numbers were 3-5× their isolated times for exactly
    // that reason. Across interleaved passes the neighborhood pressure
    // differs per pass, so the min approaches the isolated time.
    val best = scala.collection.mutable.Map.empty[String, Double]
    for (pass <- 1 to runs) {
      for ((name, fn) <- queries) {
        // min over SUCCESSFUL passes; -1 only if every pass failed (a
        // single transient task failure must not erase real timings)
        once(fn) match {
          case Right(t) =>
            best(name) = math.min(best.getOrElse(name, Double.MaxValue), t)
          case Left(e) => System.err.println(
            s"[bench] $name failed pass $pass: ${e.getClass.getName}: ${e.getMessage}")
        }
      }
      System.gc() // reset GC debt at the pass boundary, not mid-pass
    }
    val results = queries.map { case (name, _) => name -> best.getOrElse(name, -1.0) }
    // 4-decimal per-query values (0.1 ms — beyond timing noise)
    val qs = results.map { case (k, v) =>
        s"\"" + k + "\":" + (math.round(v * 10000) / 10000.0) }
      .mkString("{", ",", "}")
    // a query that failed every pass keeps its -1 in the per-query map but
    // is counted and named apart, never summed into the total
    val failed = results.collect { case (k, v) if v < 0 => k }
    val total = results.map(_._2).filter(_ >= 0).sum
    val failedJson = s""""failed":${failed.size},""" +
      failed.map("\"" + _ + "\"").mkString(""""failed_queries":[""", ",", "],")
    val loadAfter = loadAvg1m()
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val cpuSec = { val c = processCpuSec(); if (c >= 0 && cpu0 >= 0) c - cpu0 else -1.0 }
    val cpuWall = if (cpuSec >= 0 && wallSec > 0)
      math.round(cpuSec / wallSec * 100) / 100.0 else -1.0
    val env =
      s""""loadavg_before":$loadBefore,"loadavg_after":$loadAfter,""" +
      s""""bench_wall_sec":${math.round(wallSec * 100) / 100.0},""" +
      s""""bench_cpu_sec":${math.round(cpuSec * 100) / 100.0},""" +
      s""""cpu_per_wall":$cpuWall,""" +
      // host-normalized headline: total / calib_sec is comparable across
      // rounds even when the host runs 1.1-1.7× faster or slower —
      // per-query normalization is the same division by calib_sec
      s""""calib_sec":$calibSec,""" +
      s""""total_per_calib":${math.round(total / calibSec * 100) / 100.0},""" +
      // finer-grained than the refusal gate: the protocol's clean-start
      // bar is loadavg < 1 (r7's contaminated run was 2.36 on 32 cpus —
      // under cpus/4 but visibly inflated)
      s""""clean_start":${loadBefore >= 0 && loadBefore <= 1.0},""" +
      // measurement-point provenance: r10 moved the loadavg_before sample
      // from post-warmup to pre-session — cross-round comparisons of
      // loadavg_before/clean_start against rounds ≤9 are not like-for-like
      s""""loadavg_probe_point":"pre_session",""" +
      // r11: full-row materialization (see once()) — rows whose computed
      // columns pruned under the old count() read HIGHER now because they
      // finally measure their operator; not like-for-like with ≤r10 on
      // per-row transform queries
      s""""materializer":"toRdd_full_rows_nosort""""
    // The FULL artifact (every per-query timing) goes to outFile — the
    // machine-readable record a reader should lift first.
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,$failedJson"sf":"$sfDir","runs":$runs,$env}"""
    // hash the EXACT bytes written (trailing newline included) so
    // `sha256sum <outFile>` matches the advertised digest (r15 — the
    // r14 stamp hashed the string without the newline and could not be
    // authenticated without stripping it); when the write fails the
    // summary must not advertise a file/digest that does not exist
    val fileBytes = (fullJson + "\n").getBytes("UTF-8")
    val fileWritten =
      try { Files.write(Paths.get(outFile), fileBytes); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
        false }
    // STDOUT protocol (r14 — seven rounds of driver tail-capture
    // truncation: ~280 queries × ~30 B of key+value ≈ 9 KB can NEVER
    // survive a ~2 KB tail window as one line). Emit:
    //  1. the per-query map as ≤1 KB INDEPENDENTLY-PARSEABLE part lines
    //     ({"bench_queries_part":i,"of":n,"queries":{...}}) — a larger
    //     capture window reconstructs the full map by merging parts;
    //  2. LAST (tail-safest), one COMPACT summary line in the usual
    //     schema whose "queries" holds only the top-20 most expensive
    //     rows, plus queries_n / queries_file / queries_sha256 so the
    //     full committed artifact is discoverable and authenticatable.
    val entries = results.map { case (k, v) =>
      "\"" + k + "\":" + (math.round(v * 10000) / 10000.0) }
    val parts = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    var cur = Vector.empty[String]; var curLen = 0
    for (e <- entries) {
      if (curLen + e.length > 900 && cur.nonEmpty) {
        parts += cur; cur = Vector.empty; curLen = 0
      }
      cur :+= e; curLen += e.length + 1
    }
    if (cur.nonEmpty) parts += cur
    parts.zipWithIndex.foreach { case (p, i) =>
      println(s"""{"bench_queries_part":${i + 1},"of":${parts.size},""" +
        s""""queries":{${p.mkString(",")}}}""")
    }
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(fileBytes)
      .map(b => f"$b%02x").mkString
    val top = results.sortBy(-_._2).take(20).map { case (k, v) =>
        "\"" + k + "\":" + (math.round(v * 10000) / 10000.0) }
      .mkString("{", ",", "}")
    val fileInfo =
      if (fileWritten)
        s""""queries_file":"$outFile","queries_sha256":"$sha","""
      else """"queries_file_write_failed":true,"""
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$top,""" +
      s""""queries_shown":"top20_by_sec","queries_n":${results.size},""" +
      failedJson + fileInfo +
      s""""sf":"$sfDir","runs":$runs,$env}""")
    spark.stop()
  }
}
