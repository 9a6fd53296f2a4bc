package graft

import org.apache.spark.sql.functions._

/** Regenerates the t28/t28b merge-table snapshots: trains
  * [[graft.operators.TextAnalysis.trainBpe]] on the sf-dir's English
  * documents and prints the merge list as Scala/SQL-pasteable lines —
  * or, with a third argument, writes it as a TSV model file (one
  * "a<TAB>b" line per merge, training order) for the resource-shipped
  * 1k-merge serving model.
  * The optional 4th arg `pairs` trains on the PAIR-ENRICHED fixture:
  * the synthetic corpus has a 31-word vocabulary, which saturates BPE
  * training at ~107 merges (every histogram word fully merged); sliding
  * adjacent-word concatenations give ~31² ≈ 961 distinct word forms —
  * enough structure for a genuine 1,000-merge table. t28b applies the
  * SAME derivation on both engines, so the model always matches its
  * serving corpus.
  * The 4th arg `bytes` instead trains the BYTE-LEVEL tier
  * (trainBpeBytes) on ALL languages of the mixed-script fixture
  * (mixedScriptFixture + pairEnrichBytes — the same derivation t28c
  * serves and its oracle replays), for the t28c serving model.
  * The 4th arg `bytes2` composes pairEnrichBytes TWICE (adjacent-pair
  * fusions of adjacent-pair fusions — a quadratically richer word
  * vocabulary) for the production-size 32k-merge model (t28e): the
  * single enrichment saturates well short of 32k distinct merges.
  * Usage: Test/runMain graft.BpeSnapshotMain /root/testdata/sf0.01 12
  *        Test/runMain graft.BpeSnapshotMain /root/testdata/sf0.1 1000 \
  *          src/main/resources/graft/bpe_merges_1k.tsv pairs
  *        Test/runMain graft.BpeSnapshotMain /root/testdata/sf0.1 1000 \
  *          src/main/resources/graft/bpe_merges_bytes_1k.tsv bytes
  *        Test/runMain graft.BpeSnapshotMain /root/testdata/sf0.1 32000 \
  *          src/main/resources/graft/bpe_merges_bytes_32k.tsv bytes2 */
object BpeSnapshotMain {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val n = args(1).toInt
    val outFile = if (args.length > 2) Some(args(2)) else None
    val pairMode = args.length > 3 && args(3) == "pairs"
    val byteMode = args.length > 3 && args(3) == "bytes"
    val byte2Mode = args.length > 3 && args(3) == "bytes2"
    val spark = Session.local()
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    val base = raw.filter(col("lang") === "en")
    val docs =
      if (byte2Mode)
        raw.select(graft.operators.TextAnalysis.pairEnrichBytes(
          graft.operators.TextAnalysis.pairEnrichBytes(
            graft.operators.TextAnalysis.mixedScriptFixture(
              col("text"), col("lang")))).as("text"))
      else if (byteMode)
        raw.select(graft.operators.TextAnalysis.pairEnrichBytes(
          graft.operators.TextAnalysis.mixedScriptFixture(
            col("text"), col("lang"))).as("text"))
      else if (pairMode)
        base.select(graft.operators.TextAnalysis.pairEnrich(col("text"))
          .as("text"))
      else base
    // optional 5th arg: histogram cap (default 10000) — the 32k-merge
    // model needs a deeper histogram (the bytes2 fixture holds ~86k
    // distinct words; a 10k cap exhausts merging at ~11k)
    val maxWords = if (args.length > 4) args(4).toInt else 10000
    val merges =
      if (byteMode || byte2Mode)
        graft.operators.TextAnalysis.trainBpeBytes(docs, "text", n, maxWords)
      else graft.operators.TextAnalysis.trainBpe(docs, "text", n, maxWords)
    require(merges.size == n,
      s"training exhausted at ${merges.size} merges (asked $n)")
    outFile match {
      case Some(f) =>
        val p = java.nio.file.Paths.get(f)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, merges.map { case (a, b) => s"$a\t$b" }
          .mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"wrote ${merges.size} merges -> $f")
      case None =>
        println("MERGES_SCALA: Seq(" + merges.map { case (a, b) =>
          s"""("$a", "$b")""" }.mkString(", ") + ")")
    }
    spark.stop()
  }
}
