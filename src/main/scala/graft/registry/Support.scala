package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Similarity
import graft.operators.Similarity.AnnIndex
import org.apache.spark.sql.graftbridge.FooterSchema

/** Builder helpers that several registry families share: the
  * read-only table scan, its fan-out form, the events scan, the decimal
  * cast, the ANN train/top-k calls, the planted-boilerplate fixture and
  * the shipped BPE merge models.
  */
object Support {

  /** Schema cache for the READ-ONLY test inputs (r15, guide §6). Without
    * a user-supplied schema every `read.parquet` call pays footer-based
    * schema inference — measured 90-125 ms per call on this runtime vs
    * 13 ms with the schema supplied — and the bench pays it again on
    * every pass of every query. A production deployment reads these
    * tables through a catalog whose schema is already known; caching the
    * footer's StructType ([[FooterSchema]]: no job) per path reproduces
    * that contract. Metadata
    * only: every invocation still lists, opens and scans the parquet
    * data itself — no rows, results or intermediates are memoized. Keyed
    * by full path so scale-factor dirs never collide; only used for the
    * immutable `$dir/$name.parquet` inputs, never for query-written
    * artifacts (indexes, mutation outputs), which re-infer every time. */
  private val tblSchemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private[registry] def tbl(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val sch = tblSchemas.computeIfAbsent(path, FooterSchema.read(s, _))
    s.read.schema(sch).parquet(path)
  }

  /** [[tbl]] + [[graft.plans.ScaleShape.fanOut]] by `by` — the scan-side
    * parallelism guard for queries whose hot cost is row-local compute
    * over a corpus the driver ships as one single-row-group file (r15,
    * guide §2.5). Only used where the query's cross-row aggregates are
    * exact or rounded-per-row (see fanOut's doc). */
  private[registry] def tblPar(s: SparkSession, dir: String, name: String,
      by: String): DataFrame =
    graft.plans.ScaleShape.fanOut(tbl(s, dir, name), col(by))

  private[registry] def annTrain(emb: DataFrame, spec: AnnIndex): Similarity.Trained =
    Similarity.train(emb, "vec_id", "embedding", spec)

  /** ANN top-k of the first ten embeddings (the v* query set). */
  private[registry] def annTopK(emb: DataFrame, ix: Similarity.Trained, nprobe: Int = 1,
      k: Int = 3): DataFrame =
    Similarity.search(emb, "vec_id", "embedding", ix, col("id") < 10, k, nprobe)

  /** The events table carries TIMESTAMP(NANOS) parquet values. Depending
    * on the runtime, the scan surfaces them either as LONG nanos (the
    * legacy `nanosAsLong` mode) or natively as TIMESTAMP_NTZ truncated
    * to µs (Spark 4.1.2+ reads nanos directly and ignores the legacy
    * conf). Dispatch on the ACTUAL scan type so both environments
    * produce the identical µs-aligned TimestampType column — `div`
    * avoids double-precision loss on ~1.7e18 nanos in the long path. */
  private[registry] def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = tbl(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        // NTZ µs values: reinterpret on the UTC session clock — the same
        // instant the long path derives
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** `body` over a fresh temp directory, deleted once `body` returns, so
    * `body` must read what it needs eagerly. */
  private[registry] def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private[registry] def decimal(c: Column, p: Int = 18, sc: Int = 2): Column =
    c.cast(DecimalType(p, sc))

  /** The t27-family fixture: every 5th doc gets a SHARED boilerplate
    * prefix (must surface as a cross-doc duplicated span), the rest a
    * unique one — ONE definition for t27/t27b/p4b so the planted text
    * can never drift between a query and its twins. */
  private[registry] def plantedBoilerplate(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.select(col("doc_id"), concat_ws(" ",
      when(col("doc_id") % 5 === 0,
        lit("please subscribe to our newsletter for daily updates " +
          "and exclusive offers today"))
        .otherwise(concat(lit("intro "), col("doc_id"))),
      col("text")).as("text"))

  /** 1000-merge BPE model trained on the sf0.1 English documents and
    * shipped as a resource (regenerate with `Test/runMain
    * graft.BpeSnapshotMain /root/testdata/sf0.1 1000
    * src/main/resources/graft/bpe_merges_1k.tsv`) — the realistic-size
    * serving model for t28b's lowest-rank-first native encoder; line
    * order IS rank order. */
  // symbols from the [a-z]+/</w> trainer only — a regenerated model
  // violating this would otherwise reach the oracle SQL unnoticed
  private[registry] lazy val bpeMerges1k: Seq[(String, String)] =
    mergesResource("bpe_merges_1k.tsv", "", "^[a-z]*(</w>)?$")

  /** 1000-merge BYTE-LEVEL BPE model trained on the sf0.1 mixed-script
    * fixture, all languages (regenerate with `Test/runMain
    * graft.BpeSnapshotMain /root/testdata/sf0.1 1000
    * src/main/resources/graft/bpe_merges_bytes_1k.tsv bytes`) — the
    * t28c serving model; symbols are concatenated lowercase hex byte
    * pairs (plus the </w> marker), line order IS rank order. */
  // hex-pair symbols from the byte-level trainer only — guards the
  // oracle SQL against a drifted regeneration (t28b convention)
  private[registry] lazy val bpeMergesBytes1k: Seq[(String, String)] =
    mergesResource("bpe_merges_bytes_1k.tsv", " ... bytes", HexPairSymbol)

  /** 32,000-merge PRODUCTION-SIZE byte-level BPE model, trained on the
    * sf0.1 DOUBLY pair-enriched mixed-script fixture with a 40k-word
    * histogram (regenerate with `Test/runMain graft.BpeSnapshotMain
    * /root/testdata/sf0.1 32000
    * src/main/resources/graft/bpe_merges_bytes_32k.tsv bytes2 40000` —
    * the single enrichment's vocabulary exhausts merging at ~11k). Same
    * hex-pair symbol convention as the 1k model. */
  private[graft] lazy val bpeMergesBytes32k: Seq[(String, String)] = {
    val ms = mergesResource("bpe_merges_bytes_32k.tsv", " ... bytes2 40000",
      HexPairSymbol)
    require(ms.size == 32000,
      s"bpe_merges_bytes_32k.tsv: expected 32000 merges, got ${ms.size}")
    ms
  }

  private val HexPairSymbol = "^([0-9a-f]{2})*(</w>)?$"

  /** The merge pairs of resource `graft/<file>` (one tab-separated pair a
    * line, line order = rank order), refused unless both symbols of every
    * pair match `symbol`. `regen` completes the regeneration hint. */
  private def mergesResource(file: String, regen: String,
      symbol: String): Vector[(String, String)] = {
    val in = getClass.getResourceAsStream(s"/graft/$file")
    require(in != null, s"missing resource graft/$file — " +
      s"regenerate with Test/runMain graft.BpeSnapshotMain$regen")
    val ms =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map { l =>
          val i = l.indexOf('\t')
          (l.substring(0, i), l.substring(i + 1))
        }.toVector
      finally in.close()
    val ok = symbol.r
    ms.foreach { case (a, b) =>
      require(ok.matches(a) && ok.matches(b),
        s"$file: unexpected merge symbol ($a, $b)")
    }
    ms
  }
}
