package graft
package registry

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Multimodal
import Support.tbl

/** The x family: multimodal plumbing (media metadata, frame sampling,
  * image/audio decode, perceptual-hash image dedup) through
  * [[graft.operators.Multimodal]].
  */
object XFamily {

  /** DuckDB re-derivation of the x6 perceptual hashes from the
    * [[graft.operators.Multimodal.syntheticPngsNearDup]] generator
    * formulas (the x5 convention — SQL computes what only a real
    * decode could otherwise produce). ONE definition feeds the x6 and
    * x7 oracles so the hash replay cannot drift between them. Emits
    * CTEs ending in `sig(doc_id, width, height, du, au, dhash, ahash)`
    * — du/au the unsigned HUGEINT bit folds (banding needs unsigned
    * shifts), dhash/ahash the signed-BIGINT two's-complement fold
    * matching the Spark Longs. */
  private def sqlImagePHash(maxDoc: Int): String = {
    val signedOf = (u: String) =>
      s"""(CASE WHEN $u >= 9223372036854775808::HUGEINT
         |      THEN $u - 18446744073709551616::HUGEINT
         |      ELSE $u END)::BIGINT""".stripMargin
    s"""par AS (SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 4 THEN doc_id - 1 ELSE doc_id END
       |      AS base,
       |    doc_id % 5 = 4 AS pert
       |  FROM documents WHERE doc_id < $maxDoc),
       |geo AS MATERIALIZED (SELECT doc_id, base, pert,
       |    base % 32 + 16 AS w, base * 3 % 24 + 16 AS h,
       |    (base % 13) * 2 + 5 AS mx, (base % 11) * 2 + 3 AS my
       |  FROM par),
       |px AS MATERIALIZED (SELECT g.doc_id, g.w, g.h, x.x AS x,
       |    y.y AS y,
       |    (g.base + x.x * g.mx + y.y * g.my +
       |      CASE WHEN g.pert AND x.x < 3 AND y.y < 3
       |        THEN 128 ELSE 0 END) % 256 AS gray
       |  FROM geo g, range(0, 48) x(x), range(0, 40) y(y)
       |  WHERE x.x < g.w AND y.y < g.h),
       |dcell AS MATERIALIZED (SELECT doc_id, (x * 9) // w AS ci,
       |    (y * 8) // h AS cj, sum(gray) // count(*) AS m
       |  FROM px GROUP BY doc_id, (x * 9) // w, (y * 8) // h),
       |dbit AS (SELECT a.doc_id, a.cj * 8 + a.ci AS k
       |  FROM dcell a JOIN dcell b ON b.doc_id = a.doc_id
       |    AND b.cj = a.cj AND b.ci = a.ci + 1
       |  WHERE a.ci < 8 AND b.m > a.m),
       |du AS (SELECT p.doc_id,
       |    coalesce(sum(1::HUGEINT << CAST(k AS INT)), 0::HUGEINT) AS u
       |  FROM par p LEFT JOIN dbit d ON d.doc_id = p.doc_id
       |  GROUP BY p.doc_id),
       |acell AS MATERIALIZED (SELECT doc_id, (x * 8) // w AS ci,
       |    (y * 8) // h AS cj, sum(gray) // count(*) AS m
       |  FROM px GROUP BY doc_id, (x * 8) // w, (y * 8) // h),
       |aavg AS (SELECT doc_id, sum(m) // 64 AS avg FROM acell
       |  GROUP BY doc_id),
       |abit AS (SELECT c.doc_id, c.cj * 8 + c.ci AS k
       |  FROM acell c JOIN aavg v ON v.doc_id = c.doc_id
       |  WHERE c.m > v.avg),
       |au AS (SELECT p.doc_id,
       |    coalesce(sum(1::HUGEINT << CAST(k AS INT)), 0::HUGEINT) AS u
       |  FROM par p LEFT JOIN abit a2 ON a2.doc_id = p.doc_id
       |  GROUP BY p.doc_id),
       |sig AS MATERIALIZED (SELECT g.doc_id,
       |    CAST(g.w AS INT) AS width, CAST(g.h AS INT) AS height,
       |    du.u AS du, au.u AS au,
       |    ${signedOf("du.u")} AS dhash,
       |    ${signedOf("au.u")} AS ahash
       |  FROM geo g JOIN du ON du.doc_id = g.doc_id
       |  JOIN au ON au.doc_id = g.doc_id)""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    // multimodal plumbing: binary payload -> batched (stub) decode -> meta
    Entry("x1_media_meta", (s, dir) =>
      Multimodal.extractMeta(
          Multimodal.withPayload(tbl(s, dir, "documents"), "text"), "doc_id")
        .toDF().orderBy("doc_id"),
      """SELECT doc_id,
        |  CASE octet_length(CAST(text AS BLOB)) % 3
        |    WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
        |  CAST(octet_length(CAST(text AS BLOB)) % 640 + 1 AS INTEGER) AS width,
        |  CAST((octet_length(CAST(text AS BLOB)) * 7) % 480 + 1 AS INTEGER) AS height,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin),

    // multimodal frame sampling: fixed-size frames -> digest per frame
    // (video frame-extraction batch shape; stub digests the bytes)
    Entry("x2_frame_sample", (s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(0),
            floor((length(col("text")) + 63) / lit(64)).cast(IntegerType) - 1),
          i => md5(col("text").substr(i * 64 + 1, lit(64)))))
          .as(Seq("frame_id", "digest")))
        .orderBy("doc_id", "frame_id"),
      """SELECT doc_id, CAST(i AS INTEGER) AS frame_id,
        |  md5(substr(text, CAST(i * 64 + 1 AS INTEGER), 64)) AS digest
        |FROM documents, range(0, 64) r(i)
        |WHERE i < floor((length(text) + 63) / 64.0)
        |ORDER BY doc_id, frame_id""".stripMargin),

    // REAL video-frame decode: synthesize animated GIFs distributed
    // (params are pure functions of the id), decode them back through
    // javax.imageio's sequence reader — frame count from the true index
    // scan, pixel sums from the decoded rasters; the oracle re-derives
    // every column (including the sums) from the generator formulas
    Entry("x5_video_frames", (s, dir) =>
      Multimodal.sampleGifFrames(
          Multimodal.syntheticGifs(
            tbl(s, dir, "documents").filter(col("doc_id") < 300), "doc_id"),
          "doc_id")
        .toDF().drop("err").orderBy("doc_id", "frame_id"),
      // every column re-derived from the GIF generator's pure functions —
      // a header mis-parse or raster mis-decode cannot match pixel_sum
      """WITH p AS (SELECT doc_id AS id,
        |    CAST(doc_id % 8 + 2 AS INTEGER) AS n,
        |    CAST(doc_id % 32 + 8 AS INTEGER) AS w,
        |    CAST(doc_id * 3 % 24 + 8 AS INTEGER) AS h,
        |    CAST((doc_id % 8 + 2 + 3) // 4 AS INTEGER) AS s
        |  FROM documents WHERE doc_id < 300),
        |f AS (SELECT id, n, w, h, CAST(j.j * s AS INTEGER) AS frame_id
        |  FROM p, range(0, 4) j(j) WHERE j.j * s < n),
        |px AS (SELECT f.id, f.frame_id, f.n, f.w, f.h,
        |    sum((f.id + f.frame_id * 17 + x.x * 31 + y.y * 7) % 256) AS pixel_sum
        |  FROM f, range(0, 40) x(x), range(0, 32) y(y)
        |  WHERE x.x < f.w AND y.y < f.h
        |  GROUP BY f.id, f.frame_id, f.n, f.w, f.h)
        |SELECT id AS doc_id, frame_id, n AS n_frames, w AS width, h AS height,
        |  CAST(pixel_sum AS BIGINT) AS pixel_sum
        |FROM px ORDER BY doc_id, frame_id""".stripMargin),

    // REAL image decode (javax.imageio): the fixture writes one genuine
    // PNG per document (dimensions a pure function of doc_id), the codec
    // sniffs + decodes it, and the oracle re-derives the dimensions the
    // decoder MUST find — a real decode checked by SQL. Distributed end to
    // end: PNG encode and decode both run per-partition.
    Entry("x3_image_decode", (s, dir) => {
      import graft.operators.Multimodal
      // fan out the id list (KB shuffle) so encode+decode run wide — safe
      // now that ImageIO's per-image temp-file cache is off (row-local)
      val ids = graft.plans.ScaleShape.fanOut(
        tbl(s, dir, "documents").select("doc_id"), col("doc_id"))
      Multimodal.extractMetaImage(
          Multimodal.syntheticPngs(ids, "doc_id"), "doc_id")
        .toDF()
        .filter(col("err").isNull)
        .select(col("doc_id"), col("format"), col("width"), col("height"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, 'png' AS format,
        |  CAST(doc_id % 64 + 1 AS INTEGER) AS width,
        |  CAST(doc_id * 7 % 48 + 1 AS INTEGER) AS height
        |FROM documents ORDER BY doc_id""".stripMargin),

    // REAL WAV decode: synthesize PCM-16 WAVs distributed (params are pure
    // functions of the id), parse them back through javax.sound.sampled —
    // the oracle re-derives rate/channels/frames/duration from the id, so
    // a header mis-parse cannot hash-match. StubCodec is now video-only.
    Entry("x4_audio_decode", (s, dir) => {
      import graft.operators.Multimodal
      val ids = tbl(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 500)
      Multimodal.extractMetaAudio(
          Multimodal.syntheticWavs(ids, "doc_id"), "doc_id")
        .toDF()
        .filter(col("err").isNull)
        .select(col("doc_id"), col("sample_rate"), col("channels"),
          col("n_frames"), col("duration_us"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |       ELSE 44100 END AS INTEGER) AS sample_rate,
        |  CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
        |  CAST(doc_id % 500 + 100 AS BIGINT) AS n_frames,
        |  CAST((doc_id % 500 + 100) * 1000000 //
        |    (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |     ELSE 44100 END) AS BIGINT) AS duration_us
        |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin),

    // IMAGE PERCEPTUAL HASHING (x6 — multimodal dedup reaches operator
    // depth; r14's x1-x5 decode and meta-extract but nothing DEDUPS
    // media): REAL gray PNGs generated distributed (near-dup fixture:
    // every 5th image is a corner-perturbed copy of its predecessor),
    // REALLY decoded back through ImageIO, then dHash-64 (9×8
    // floor-mean grid, horizontal-gradient bits) + aHash-64 (8×8 grid
    // vs global mean) over the decoded rasters — row-local, zero
    // shuffles. The whole derivation is exact integer arithmetic, so
    // the oracle re-derives both hashes from the generator formulas
    // (the x5 convention: SQL computes what only a real decode could
    // otherwise produce).
    Entry("x6_image_phash", (s, dir) =>
      Multimodal.imagePHash(
          Multimodal.syntheticPngsNearDup(
            tbl(s, dir, "documents").filter(col("doc_id") < 400),
            "doc_id"),
          "doc_id")
        .toDF().select("doc_id", "width", "height", "dhash", "ahash")
        .orderBy("doc_id"),
      // generator formulas → pixel grid → floor-mean cells → gradient /
      // above-average bits → HUGEINT bit fold → signed two's-complement
      // BIGINT, per document
      s"""WITH ${sqlImagePHash(400)}
         |SELECT doc_id, width, height, dhash, ahash FROM sig
         |ORDER BY doc_id""".stripMargin),

    // IMAGE NEAR-DUP PIPELINE (x7): decode → dHash → 16-bit LSH bands
    // (reusing the text pipeline's bucket self-join WITH its hot-bucket
    // guard) → exact-Hamming verify ≤ 10 — the t5 cascade shape over
    // pixels instead of shingles. The corner perturbation only moves
    // band-0 bits, so every planted near-copy collides in bands 1-3 by
    // construction; unrelated ramps differ in ~half their bits and die
    // at the verify stage. DuckDB replays hashes → bands → bucket join
    // → Hamming end-to-end.
    Entry("x7_image_dedup", (s, dir) => {
      val hashes = Multimodal.imagePHash(
        Multimodal.syntheticPngsNearDup(
          tbl(s, dir, "documents").filter(col("doc_id") < 400),
          "doc_id"),
        "doc_id").toDF()
      Multimodal.imageNearDuplicates(hashes, "doc_id",
          maxBucketSize = graft.operators.Dedup.DefaultMaxBucketSize)
        .orderBy("id1", "id2")
    },
      // the same hash derivation, then 16-bit bands of the UNSIGNED
      // value (the Spark side's shiftrightunsigned twin), the distinct
      // bucket self-join, and the exact-Hamming verify
      s"""WITH ${sqlImagePHash(400)},
         |bnd AS (SELECT doc_id, b.b AS band_id,
         |    CAST((du >> CAST(b.b * 16 AS INT)) % 65536 AS BIGINT)
         |      AS band_hash
         |  FROM sig, range(0, 4) b(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM bnd a JOIN bnd b ON b.band_id = a.band_id
         |    AND b.band_hash = a.band_hash AND a.doc_id < b.doc_id),
         |hm AS (SELECT c.id1, c.id2,
         |    CAST(bit_count(xor(s1.dhash, s2.dhash)) AS BIGINT)
         |      AS hamming
         |  FROM cand c JOIN sig s1 ON s1.doc_id = c.id1
         |  JOIN sig s2 ON s2.doc_id = c.id2)
         |SELECT id1, id2, hamming FROM hm WHERE hamming <= 10
         |ORDER BY id1, id2""".stripMargin),
  )
}
