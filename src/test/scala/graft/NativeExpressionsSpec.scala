package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.plans.NativeExpressions

/** Pins the codegen'd native expressions to their documented-equivalent
  * HOF formulations (and pins the one documented divergence). The HOF
  * forms are the executable spec: any engine can run them, so agreement
  * here is what lets the native forms replace them in the hot path. */
class NativeExpressionsSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("simhash_32 matches the nested-HOF formulation, negative hashes included") {
    // domain: |h| < 2^50 — the HOF form divides in DOUBLE, exact only below
    // 2^53; shipped callers hash mod 2^31-1, far inside it (the native form
    // is exact everywhere, so agreement can only be asserted on the
    // HOF-exact domain)
    val rnd = new scala.util.Random(42)
    val bound = 1L << 50
    val rows = (0 until 50).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(20) + 1)(rnd.nextLong() % bound))
    } :+ (99L, Seq(-1L, -bound, bound, 0L))
    val df = rows.toDF("id", "hashes")
    val hof = expr(
      """aggregate(sequence(0, 31), 0L, (acc, b) -> acc +
        |  if(aggregate(hashes, 0L,
        |       (s, h) -> s + if(pmod(floor(h / cast(pow(2.0, b) as long)), 2) = 1, 1L, -1L))
        |     > 0, cast(pow(2.0, b) as long), 0L))""".stripMargin)
    val out = df.select(
      NativeExpressions.simhash_32(col("hashes")).as("native"), hof.as("hof"))
      .collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("minhash_signature on empty input: MaxValue sentinels (pinned divergence from HOF nulls)") {
    val df = Seq((0L, Seq.empty[Long]), (1L, Seq(7L, 11L))).toDF("id", "hashes")
    val out = df.select(col("id"),
      NativeExpressions.minhash_signature(col("hashes"), 4, (1L << 61) - 1).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(0L) == Seq.fill(4)(Long.MaxValue))
    assert(out(1L).forall(_ != Long.MaxValue))
  }

  test("nearest_centroids: best-first ids, sim ties broken by centroid id ascending") {
    val df = Seq((0L, Seq(1.0, 0.0))).toDF("id", "v")
    // c10 = exact match; c20 and c30 are reflections with EQUAL cosine to v
    val cids = typedLit(Seq(10L, 30L, 20L))
    val cvs = typedLit(Seq(Seq(2.0, 0.0), Seq(1.0, 1.0), Seq(1.0, -1.0)))
    val top = df.select(
      NativeExpressions.nearest_centroids(col("v"), cids, cvs, 3, 6).as("cells"))
      .head().getSeq[Long](0)
    assert(top == Seq(10L, 20L, 30L))
    val one = df.select(
      NativeExpressions.nearest_centroids(col("v"), cids, cvs, 1, 6).as("cells"))
      .head().getSeq[Long](0)
    assert(one == Seq(10L))
  }

  test("nearest_centroids matches a crossJoin+window assignment on real data") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 60L).map(i => (i, Seq.fill(8)(rnd.nextDouble() - 0.5)))
      .toDF("id", "v")
    val centRows = vecs.filter(col("id") % 10 === 0).orderBy("id").collect()
    val cids = typedLit(centRows.map(_.getLong(0)).toSeq)
    val cvs = typedLit(centRows.map(_.getSeq[Double](1)).toSeq)
    val native = vecs.select(col("id"),
      element_at(NativeExpressions.nearest_centroids(col("v"), cids, cvs, 1, 6), 1)
        .as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference assignment: explicit cosine vs every centroid, same rounding
    val cents = centRows.map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val local = vecs.collect().map { r =>
      val v = r.getSeq[Double](1).toArray
      def dot(a: Array[Double], b: Array[Double]) =
        a.zip(b).map(p => p._1 * p._2).sum
      val best = cents.map { case (cid, cv) =>
        val denom = math.sqrt(dot(v, v)) * math.sqrt(dot(cv, cv))
        val sim = BigDecimal(if (denom == 0) 0.0 else dot(v, cv) / denom)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (cid, sim)
      }.minBy { case (cid, sim) => (-sim, cid) }._1
      r.getLong(0) -> best
    }.toMap
    assert(native == local)
  }

  test("hyperplane_bucket matches the interpreted HOF formulation bit-for-bit") {
    import org.apache.spark.sql.Column
    val vecs = spark.range(64).select(col("id"),
      transform(sequence(lit(0), lit(15)),
        i => sin(col("id") * 31 + i).cast("double")).as("v"))
    // original multi-pass HOF form, kept here as the reference semantics
    def planeComponent(p: Int, d: Column): Column =
      (pmod((lit(p * 64L + 1L) + d) * lit(2654435761L), lit(2147483647L))
        .cast("double") / lit(2147483647.0)) - 0.5
    def hofBucket(vec: Column, nPlanes: Int): Column =
      (0 until nPlanes).map { p =>
        val dt = aggregate(zip_with(vec,
          transform(sequence(lit(0), size(vec) - 1), i => planeComponent(p, i)),
          (x, y) => x * y), lit(0.0), (a, v) => a + v)
        when(dt >= 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    val rows = vecs.select(
      NativeExpressions.hyperplane_bucket(col("v"), 12).as("native"),
      hofBucket(col("v"), 12).as("hof")).collect()
    assert(rows.forall(r => r.getLong(0) == r.getLong(1)))
    assert(rows.map(_.getLong(0)).distinct.length > 1) // buckets do vary
  }

  test("sequenceMatchPattern: adjacency backtracks, time bounds honored") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    // events encoded t*16 + step+1; step -1 = non-matching event
    def enc(ts: Long, step: Int): Long = ts * 16 + step + 1
    def m(events: Seq[Long], gaps: Seq[Long]): Boolean =
      NativeExpressions.sequenceMatchPatternCompute(
        ArrayData.toArrayData(events.toArray), gaps.length + 1, gaps.toArray)
    val adj = Seq(0L)
    // [s0, s0, s1]: greedy-from-first fails, backtracking matches 2nd..3rd
    assert(m(Seq(enc(1, 0), enc(2, 0), enc(3, 1)), adj))
    // a non-matching event between breaks adjacency
    assert(!m(Seq(enc(1, 0), enc(2, -1), enc(3, 1)), adj))
    // any-gap tolerates the same separator
    assert(m(Seq(enc(1, 0), enc(2, -1), enc(3, 1)), Seq(-1L)))
    // time bound: 10us window, delta 10 passes, 11 fails
    assert(m(Seq(enc(100, 0), enc(110, 1)), Seq(10L)))
    assert(!m(Seq(enc(100, 0), enc(111, 1)), Seq(10L)))
    // time bound allows unrelated events inside the window
    assert(m(Seq(enc(100, 0), enc(105, -1), enc(110, 1)), Seq(10L)))
    // 3-step mixed: s0 adjacent s1, then any-gap s2
    assert(m(Seq(enc(1, 0), enc(2, 1), enc(9, -1), enc(12, 2)), Seq(0L, -1L)))
    assert(!m(Seq(enc(1, 0), enc(2, -1), enc(3, 1), enc(12, 2)), Seq(0L, -1L)))
    // backtracking across restarts: adjacency pair appears late
    assert(m(Seq(enc(1, 0), enc(3, -1), enc(5, 0), enc(6, 1)), adj))
    // empty stream and missing steps
    assert(!m(Nil, adj))
    assert(!m(Seq(enc(1, 0)), adj))
  }

  test("levenshteinWithin: exact within the band, -1 sentinel beyond, " +
      "unicode-identical to the built-in") {
    import org.apache.spark.sql.functions._
    val rows = Seq(
      ("kitten", "sitting"),          // d = 3
      ("", ""),                       // d = 0, empty edge
      ("abc", ""),                    // d = 3, one side empty
      ("straße", "strasse"),          // non-ASCII, d = 2
      ("привет мир", "привет мip"),   // Cyrillic + Latin lookalikes
      ("same text", "same text"),     // d = 0
      ("wholly different content", "zzzz"))
    val df = spark.createDataFrame(rows).toDF("a", "b")
    val cmp = df.select(
      levenshtein(col("a"), col("b")).as("ref"),
      NativeExpressions.levenshtein_within(col("a"), col("b"),
        lit(1000)).as("wide"),
      NativeExpressions.levenshtein_within(col("a"), col("b"),
        lit(2)).as("narrow")).collect()
    cmp.foreach { r =>
      // a band wider than any distance reproduces the built-in exactly
      assert(r.getInt(1) == r.getInt(0), s"wide band diverged: $r")
      // a narrow band is exact inside, the -1 sentinel outside
      if (r.getInt(0) <= 2) assert(r.getInt(2) == r.getInt(0), s"$r")
      else assert(r.getInt(2) == -1, s"expected sentinel: $r")
    }
  }
}
