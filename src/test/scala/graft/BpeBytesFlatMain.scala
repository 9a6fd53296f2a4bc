package graft

import org.apache.spark.sql.functions._

/** Encode-time-flat-in-merges evidence for the byte-level BPE tier
  * (r12): times bpeEncodeFast over the sf0.1 mixed-script fixture
  * with the shipped 1,000-merge model vs its 50-merge prefix (a prefix
  * of a trained table is itself a valid trained table). The broadcast
  * lowest-rank-first loop's per-token cost is O(word_len ·
  * merges_applied), independent of table SIZE — the two timings must be
  * of the same order, unlike a replace chain whose cost is linear in
  * the table. Usage: Test/runMain graft.BpeBytesFlatMain /root/testdata/sf0.1 */
object BpeBytesFlatMain {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = Session.local()
    val in = getClass.getResourceAsStream("/graft/bpe_merges_bytes_1k.tsv")
    val all =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map { l =>
          val i = l.indexOf('\t'); (l.substring(0, i), l.substring(i + 1))
        }.toVector
      finally in.close()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), graft.operators.TextAnalysis.pairEnrichBytes(
        Fixtures.mixedScriptFixture(
          col("text"), col("lang"))).as("text"))
      .persist()
    docs.count()
    def timeIt(nMerges: Int): Double = {
      val model = graft.operators.TextAnalysis.bpeModelBytes(
        spark, all.take(nMerges))
      def once(): Double = {
        val t0 = System.nanoTime()
        docs.select(sum(size(graft.operators.TextAnalysis
          .bpeEncodeFast(col("text"), model)))).head()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warmup (codegen + broadcast)
      math.min(once(), math.min(once(), once()))
    }
    val t50 = timeIt(50)
    val t1000 = timeIt(1000)
    // r13: the PRODUCTION-vocabulary tier — the 32k model over its own
    // (doubly pair-enriched) training fixture, vs its 1k prefix on the
    // same corpus. Same flatness contract at 32x the table.
    val in32 = getClass.getResourceAsStream("/graft/bpe_merges_bytes_32k.tsv")
    val all32 =
      try scala.io.Source.fromInputStream(in32, "UTF-8").getLines()
        .filter(_.nonEmpty).map { l =>
          val i = l.indexOf('\t'); (l.substring(0, i), l.substring(i + 1))
        }.toVector
      finally in32.close()
    val docs2 = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), graft.operators.TextAnalysis.pairEnrichBytes(
        graft.operators.TextAnalysis.pairEnrichBytes(
          Fixtures.mixedScriptFixture(
            col("text"), col("lang")))).as("text"))
      .persist()
    docs2.count()
    def timeIt32(nMerges: Int): Double = {
      val model = graft.operators.TextAnalysis.bpeModelBytes(
        spark, all32.take(nMerges))
      def once(): Double = {
        val t0 = System.nanoTime()
        docs2.select(sum(size(graft.operators.TextAnalysis
          .bpeEncodeFast(col("text"), model)))).head()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warmup (codegen + broadcast)
      math.min(once(), math.min(once(), once()))
    }
    val t32k1k = timeIt32(1000)
    val t32k = timeIt32(32000)
    println(f"""{"merges50_sec": $t50%.3f, "merges1000_sec": $t1000%.3f, "ratio": ${t1000 / t50}%.2f, "m32k_prefix1k_sec": $t32k1k%.3f, "m32k_full_sec": $t32k%.3f, "ratio_32k_over_1k": ${t32k / t32k1k}%.2f}""")
    spark.stop()
  }
}
