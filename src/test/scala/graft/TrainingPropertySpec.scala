package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextAnalysis}

/** Generated-corpus properties for the training-pipeline operators: the
  * oracle gate pins exact values on the fixture tables; these pin
  * STRUCTURAL invariants on random corpora (chunk reassembly, quota
  * bounds, sampling determinism and monotonicity, dedup idempotence). */
class TrainingPropertySpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def forAll[A](g: Gen[A], n: Int = 25)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  private val wordGen: Gen[String] = for {
    h <- Gen.alphaLowerChar
    t <- Gen.listOfN(3, Gen.alphaLowerChar)
  } yield (h :: t).mkString

  private val docGen: Gen[String] =
    Gen.choose(0, 60).flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))

  private val corpusGen: Gen[Seq[(Long, String)]] =
    Gen.choose(3, 12).flatMap(n => Gen.listOfN(n, docGen))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })

  test("property: non-overlapping chunks reassemble the token stream exactly") {
    forAll(corpusGen) { rows =>
      val df = rows.toDF("doc_id", "text")
      // stride == size → chunks partition the tokens; joining them back
      // in order must reproduce the filtered token stream
      val back = TextAnalysis.chunkTokens(df, "doc_id", "text", 7, 7)
        .orderBy("doc_id", "chunk_idx")
        .groupBy("doc_id")
        .agg(concat_ws(" ", collect_list("chunk")).as("re"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      rows.foreach { case (id, text) =>
        val toks = text.trim.split("\\s+").filter(_.nonEmpty).mkString(" ")
        if (toks.nonEmpty) assert(back(id) == toks, s"doc $id")
        else assert(!back.contains(id), s"empty doc $id must yield no chunks")
      }
    }
  }

  test("property: trainLogistic full-batch GD never increases the loss") {
    // descent-lemma regime: the normalized features satisfy ||x||² ≤ 1,
    // so the logistic Hessian's Lipschitz bound is L ≤ 1/4 and any
    // lr ≤ 1/L = 4 guarantees monotone loss; the 1e-5 slack absorbs the
    // 1e-6 update rounding
    forAll(corpusGen, n = 10) { rows =>
      val planted = rows.map { case (id, t) =>
        (id, if (id % 3 == 0) t + (" zzyx wwvu" * 4) else t, id % 3 != 0)
      }
      val df = planted.toDF("doc_id", "text", "y")
      var prev = TextAnalysis.logisticLoss(df, "doc_id", "text", col("y"),
        Array.fill(16)(0.0))
      for (k <- 1 to 4) {
        val w = TextAnalysis.trainLogistic(df, "doc_id", "text", col("y"),
          buckets = 16, steps = k, lr = 4.0)
        val cur = TextAnalysis.logisticLoss(df, "doc_id", "text", col("y"), w)
        assert(cur <= prev + 1e-5, s"step $k: loss rose $prev -> $cur")
        prev = cur
      }
    }
  }

  test("property: quotaSample keeps at most cap rows per group, exactly the best ones") {
    val gen = for {
      rows <- Gen.choose(10, 60).flatMap(n => Gen.listOfN(n,
        Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(0, 100))))
      cap <- Gen.choose(1, 5)
    } yield (rows.zipWithIndex.map { case ((g, s), i) => (i.toLong, g, s) }, cap)
    forAll(gen, n = 15) { case (rows, cap) =>
      val df = rows.toDF("id", "grp", "score")
      val out = TextAnalysis.quotaSample(df, "grp", "score", "id", cap, salts = 4)
        .collect().map(r => (r.getString(1), r.getLong(0))).toSeq
      val byG = out.groupBy(_._1)
      assert(byG.values.forall(_.size <= cap))
      // equals the single-ordering top-cap computed in plain Scala
      // (.toSeq first — flatMap on the Map would collapse to one entry
      // per group key and silently shrink the oracle)
      val expect = rows.groupBy(_._2).toSeq.flatMap { case (g, rs) =>
        rs.sortBy(r => (-r._3, r._1)).take(cap).map(r => (g, r._1))
      }.toSet
      assert(out.toSet == expect)
    }
  }

  test("property: stratifiedSample is monotone in the fraction and deterministic") {
    forAll(corpusGen, n = 10) { rows =>
      val df = rows.toDF("doc_id", "text")
        .withColumn("s", (col("doc_id") % 2).cast("string"))
      def keep(f: Double) =
        TextAnalysis.stratifiedSample(df, "s", "doc_id",
          Map("0" -> f, "1" -> f)).collect().map(_.getLong(0)).toSet
      val lo = keep(0.3); val hi = keep(0.8)
      assert(lo.subsetOf(hi), "raising the fraction must only ADD rows")
      assert(keep(0.3) == lo, "same fraction twice → identical rows")
      assert(keep(1.0) == rows.map(_._1).toSet, "fraction 1.0 keeps all")
      assert(keep(0.0).isEmpty, "fraction 0.0 keeps none")
    }
  }

  test("property: packSequences offsets are gapless per shard, bins consistent") {
    val gen = Gen.choose(5, 40).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 30))).map(_.zipWithIndex.map {
        case (t, i) => (i.toLong, t) })
    forAll(gen, n = 15) { rows =>
      val df = rows.toDF("id", "tk")
      val out = TextAnalysis.packSequences(df, "id", "tk",
          capacity = 16, shards = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))
      // per shard: in id order, offsets are the exact running sum
      out.groupBy(_._2).values.foreach { shardRows =>
        var cum = 0L
        shardRows.sortBy(_._1).foreach { case (_, _, off, bf, bl, tk) =>
          assert(off == cum, "offset must be the gapless running sum")
          assert(bf == off / 16)
          assert(bl == (if (tk > 0) (off + tk - 1) / 16 else bf))
          assert(bl >= bf)
          cum += tk
        }
      }
      // deterministic shard assignment: disjoint cover of all ids
      assert(out.map(_._1).toSet == rows.map(_._1).toSet)
    }
  }

  test("property: incrementalDedup is idempotent and never resurrects history") {
    forAll(corpusGen, n = 10) { rows =>
      val df = rows.toDF("doc_id", "text")
      val history = df.filter(col("doc_id") % 3 === 0)
        .select(md5(col("text")).as("digest"))
      val once = Dedup.incrementalDedup(df, history, "doc_id", "text")
      val twice = Dedup.incrementalDedup(once, history, "doc_id", "text")
      val a = once.collect().map(_.getLong(0)).sorted.toSeq
      val b = twice.collect().map(_.getLong(0)).sorted.toSeq
      assert(a == b, "a second pass over its own output must be a no-op")
      // surviving digests are disjoint from history
      val histSet = history.collect().map(_.getString(0)).toSet
      val outDigests = once.select(md5(col("text"))).collect()
        .map(_.getString(0)).toSet
      assert(outDigests.intersect(histSet).isEmpty)
      // and unique within the output
      assert(outDigests.size == a.size)
    }
  }

  test("property: bpeEncodeFast ≡ the training-order replace chain for " +
      "RANDOM trained tables and random probe text") {
    // train a fresh merge table on each random corpus (the equivalence
    // rests on the trained-table invariant: every merge's parts are
    // symbols formed by earlier merges), then compare the two encoders
    // on a DIFFERENT random probe corpus — unseen words exercise partial
    // merges, not just full-word memorization
    val gen = for {
      corpus <- corpusGen
      probe <- corpusGen
      nMerges <- Gen.choose(1, 24)
    } yield (corpus, probe, nMerges)
    forAll(gen, n = 12) { case (corpus, probe, nMerges) =>
      val train = corpus.toDF("doc_id", "text")
      val merges = TextAnalysis.trainBpe(train, "text",
        numMerges = nMerges, maxWords = 100)
      if (merges.nonEmpty) {
        val model = TextAnalysis.bpeModel(spark, merges)
        val both = probe.toDF("doc_id", "text")
          .select(col("doc_id"),
            TextAnalysis.bpeEncode(col("text"), merges).as("chain"),
            TextAnalysis.bpeEncodeFast(col("text"), model).as("fast"))
          .collect()
        both.foreach { r =>
          assert(r.getSeq[String](1) == r.getSeq[String](2),
            s"merges=$merges doc=${r.getLong(0)}\n chain=${
              r.getSeq[String](1)}\n fast =${r.getSeq[String](2)}")
        }
      }
    }
  }

  // mixed-script vocabulary for the byte-level tier: ASCII words,
  // 2-byte accents, 3-byte CJK, punctuation runs, punct glued to words
  private val byteWordGen: Gen[String] = Gen.oneOf(
    wordGen,
    Gen.listOfN(3, Gen.oneOf('é', 'ä', 'ñ', 'ß', 'α', '中', '文', '数'))
      .map(_.mkString),
    Gen.oneOf(",", "!", "?!", "--"),
    for { w <- wordGen; p <- Gen.oneOf(",", "!") } yield w + p)

  private val byteCorpusGen: Gen[Seq[(Long, String)]] = Gen.choose(3, 10)
    .flatMap(n => Gen.listOfN(n,
      Gen.choose(0, 40).flatMap(k => Gen.listOfN(k, byteWordGen))
        .map(_.mkString(" "))))
    .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })

  test("property: byte-level bpeEncodeBytesFast ≡ the training-order " +
      "merge chain on random mixed-script corpora; nothing dropped") {
    // the reference: pre-tokenize with the same pattern, derive hex-pair
    // byte symbols, and apply the merges IN TRAINING ORDER (left-to-
    // right non-overlapping) — the lowest-rank-first native loop must
    // match on trained tables, including unseen probe words
    val pretok = java.util.regex.Pattern.compile(TextAnalysis.BytePretok)
    def toks(text: String): Seq[String] = {
      val m = pretok.matcher(text)
      val b = Seq.newBuilder[String]
      while (m.find()) b += m.group()
      b.result()
    }
    def chainEncode(w: String, ms: Seq[(String, String)]): Seq[String] = {
      var syms: Array[String] = TextAnalysis.hexPairsOf(w) :+ "</w>"
      ms.foreach { case (a, b) =>
        val out = Array.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
            out += (a + b); j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.result()
      }
      syms.toSeq
    }
    val gen = for {
      corpus <- byteCorpusGen
      probe <- byteCorpusGen
      nMerges <- Gen.choose(1, 24)
    } yield (corpus, probe, nMerges)
    forAll(gen, n = 10) { case (corpus, probe, nMerges) =>
      val merges = TextAnalysis.trainBpeBytes(corpus.toDF("doc_id", "text"),
        "text", numMerges = nMerges, maxWords = 200)
      if (merges.nonEmpty) {
        val model = TextAnalysis.bpeModelBytes(spark, merges)
        val enc = probe.toDF("doc_id", "text")
          .select(col("doc_id"),
            TextAnalysis.bpeEncodeBytesFast(col("text"), model).as("fast"))
        val got = enc
          .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
        // full decode round-trip: pieces → text == space-joined tokens
        val dec = enc.select(col("doc_id"),
            TextAnalysis.bpeDecodeBytes(col("fast")).as("txt"))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        probe.foreach { case (id, text) =>
          assert(dec(id) == toks(text).mkString(" "),
            s"doc $id decode round-trip: got '${dec(id)}'")
        }
        probe.foreach { case (id, text) =>
          val want = toks(text).flatMap(w => chainEncode(w, merges))
          assert(got(id) == want,
            s"doc $id merges=$merges\n want=$want\n got =${got(id)}")
          // loss-free alphabet: decoding the pieces' hex back to bytes
          // must reproduce the full pre-tokenized byte stream
          val wantBytes = toks(text).flatMap(w =>
            TextAnalysis.hexPairsOf(w)).mkString
          val gotBytes = got(id).map(_.replace("</w>", "")).mkString
          assert(gotBytes == wantBytes, s"doc $id lost bytes")
        }
      }
    }
  }

  test("property: dsirResample ≡ an independent driver-side Gumbel-top-k " +
      "on random weighted corpora") {
    // second implementation of the whole selection rule: portable-hash
    // uniform → Gumbel noise → rounded key → (key desc, id) top-k —
    // any drift in the operator's hash, rounding, or tie-break shows up
    val MOD = 2147483647L
    val MULT = 1315423911L
    def charFold(s: String): Long =
      s.foldLeft(0L)((h, c) => (h * MULT + c.toLong) % MOD)
    def key(id: Long, w: Double): Double = {
      val u = (charFold(id.toString) + 1).toDouble / (MOD + 1).toDouble
      val g = -math.log(-math.log(u))
      BigDecimal(w + g).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }
    val gen = for {
      n <- Gen.choose(5, 60)
      ws <- Gen.listOfN(n, Gen.choose(-300, 300).map(_ / 100.0))
      k <- Gen.choose(1, 20)
    } yield (ws.zipWithIndex.map { case (w, i) => (i.toLong * 7, w) }, k)
    forAll(gen, n = 15) { case (rows, k) =>
      val df = rows.toDF("doc_id", "weight")
      val got = TextAnalysis.dsirResample(df, "doc_id", "weight", k)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq.sorted
      val want = rows.map { case (id, w) => (id, key(id, w)) }
        .sortBy { case (id, sk) => (-sk, id) }.take(k).sorted
      assert(got == want, s"k=$k\n got=$got\n want=$want")
    }
  }

  test("property: substring dedup postcondition — after applySubstringSpans " +
      "no K-token window is shared by >= minDocs cleaned docs") {
    // the Lee et al. contract end-to-end: find spans, remove them, and
    // the cleaned corpus must contain NO window duplicated across
    // minDocs documents anymore (runs of adjacent windows merge into
    // maximal spans, so removal is exactly sufficient)
    val sharedGen = Gen.listOfN(6, wordGen).map(_.mkString(" "))
    val gen = for {
      corpus <- corpusGen
      shared <- sharedGen
    } yield (corpus, shared)
    forAll(gen, n = 8) { case (corpus, shared) =>
      // plant the shared run into every 2nd doc at a varying offset so
      // spans genuinely exist
      val planted = corpus.map { case (id, t) =>
        if (id % 2 == 0) (id, s"$t $shared") else (id, t)
      }.toDF("doc_id", "text")
      val k = 4
      val minDocs = 2
      val spans = Dedup.substringDedupSpans(planted, "doc_id", "text",
        k = k, minDocs = minDocs)
      val cleaned = Dedup.applySubstringSpans(planted, spans)
        .select(col("doc_id"), col("text_clean").as("text"))
      val again = Dedup.substringDedupSpans(cleaned, "doc_id", "text",
        k = k, minDocs = minDocs).collect()
      assert(again.isEmpty,
        s"cleaned corpus still has duplicated windows: ${
          again.take(3).mkString(", ")} (shared='$shared')")
    }
  }

  // ---- r12c properties ----

  /** Random MULTI-LINE doc: 1-6 lines of 0-18 tokens; tokens draw normal
    * words, Gopher stop words, `###` runs and `...`-suffixed words; some
    * lines gain a bullet prefix / ellipsis suffix; some duplicate. */
  private val gopherDocGen: Gen[String] = {
    val token = Gen.frequency(
      8 -> wordGen,
      2 -> Gen.oneOf(TextAnalysis.GopherStopWords),
      1 -> Gen.const("###"),
      1 -> wordGen.map(_ + "..."))
    val line = for {
      n <- Gen.choose(0, 18)
      ts <- Gen.listOfN(n, token)
      bullet <- Gen.frequency(4 -> Gen.const(""), 1 -> Gen.const("- "))
      ell <- Gen.frequency(5 -> Gen.const(""), 1 -> Gen.const(" x..."))
    } yield bullet + ts.mkString(" ") + ell
    for {
      nl <- Gen.choose(1, 6)
      ls <- Gen.listOfN(nl, line)
      dup <- Gen.frequency(3 -> Gen.const(false), 1 -> Gen.const(true))
      crlf <- Gen.frequency(3 -> Gen.const(false), 1 -> Gen.const(true))
    } yield (if (dup && ls.nonEmpty) ls ++ List(ls.head, ls.head) else ls)
      .mkString(if (crlf) "\r\n" else "\n")
  }

  test("property: gopherRules ≡ an independent driver-side " +
      "reimplementation of every rule on random multi-line docs") {
    // Spark's trim() strips SPACES only (not \n) — mirror exactly
    def spTrim(s: String): String =
      s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    def expect(text: String): Seq[Int] = {
      val ws = spTrim(text).split("\\s+").filter(_.nonEmpty).toSeq
      val nW = ws.size.toDouble
      val meanLen = ws.map(_.length.toLong).sum.toDouble / math.max(nW, 1.0)
      val lines = text.replace("\r\n", "\n").replace('\r', '\n')
        .replace(0x2028.toChar, '\n').replace(0x2029.toChar, '\n')
        .split("\n", -1).map(spTrim).filter(_.nonEmpty).toSeq
      val nL = lines.size.toDouble
      val bulletFrac = lines.count(l =>
        Set("-", "*", "•")(l.substring(0, 1))).toDouble / math.max(nL, 1.0)
      val ellipsisFrac =
        lines.count(_.endsWith("...")).toDouble / math.max(nL, 1.0)
      val alphaFrac = ws.count(_.exists(c =>
        (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z'))).toDouble /
        math.max(nW, 1.0)
      val nHash = (text.length - text.replace("#", "").length).toDouble
      val nEll = (text.length - text.replace("...", "").length) / 3.0
      val hashRatio = nHash / math.max(nW, 1.0)
      val ellRatio = nEll / math.max(nW, 1.0)
      val stopHits = ws.map(_.toLowerCase).distinct
        .count(TextAnalysis.GopherStopWords.contains)
      val dupLineFrac =
        (nL - lines.distinct.size.toDouble) / math.max(nL, 1.0)
      val bits = Seq(
        nW >= 50 && nW <= 100000,
        meanLen >= 3.0 && meanLen <= 10.0,
        hashRatio <= 0.1 && ellRatio <= 0.1,
        bulletFrac <= 0.9,
        ellipsisFrac <= 0.3,
        alphaFrac >= 0.8,
        stopHits >= 2,
        dupLineFrac <= 0.3)
      (bits :+ bits.forall(identity)).map(b => if (b) 1 else 0)
    }
    val docsGen = Gen.choose(3, 8)
      .flatMap(n => Gen.listOfN(n, gopherDocGen.flatMap(withBreakStyle)))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    forAll(docsGen, n = 15) { rows =>
      val cols = TextAnalysis.gopherRules(col("text"))
        .map { case (nm, c) => c.as(nm) }
      val got = rows.toDF("doc_id", "text")
        .select(col("doc_id") +: cols: _*)
        .collect().map(r => r.getLong(0) ->
          (1 to 9).map(r.getInt)).toMap
      rows.foreach { case (id, text) =>
        assert(got(id) == expect(text),
          s"rule vector diverged for doc $id: got ${got(id)}, " +
            s"want ${expect(text)}, text=${text.replace("\n", "\\n")}")
      }
    }
  }

  private lazy val repDocGen: org.scalacheck.Gen[String] = {
    // tiny word alphabet → natural n-gram collisions; paragraph dups and
    // repeated phrases injected at ~1/3 frequency each
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ffff", "gg", "hhhh")
    val para = for {
      n <- Gen.choose(1, 12); ws <- Gen.listOfN(n, word)
    } yield ws.mkString(" ")
    for {
      np <- Gen.choose(1, 5)
      ps <- Gen.listOfN(np, para)
      dupP <- Gen.frequency(2 -> Gen.const(false), 1 -> Gen.const(true))
      rep <- Gen.frequency(2 -> Gen.const(false), 1 -> Gen.const(true))
      phrase <- Gen.listOfN(6, word)
      reps <- Gen.choose(2, 4)
    } yield {
      val base = if (dupP && ps.nonEmpty) ps ++ Seq(ps.head) else ps
      val all = if (rep)
        base :+ Seq.fill(reps)(phrase.mkString(" ")).mkString(" ")
      else base
      all.mkString("\n\n")
    }
  }

  /** Rewrite a doc's "\n" breaks into one of the line-break forms the
    * suites must normalize: CRLF, lone \r (classic-Mac), or the Unicode
    * line/paragraph separators U+2028/U+2029 (r14 ADVICE extension). */
  private def withBreakStyle(d: String): org.scalacheck.Gen[String] =
    Gen.frequency(
      4 -> Gen.const(d),
      1 -> Gen.const(d.replace("\n", "\r\n")),
      1 -> Gen.const(d.replace('\n', '\r')),
      1 -> Gen.const(d.replace('\n', 0x2028.toChar)),
      1 -> Gen.const(d.replace('\n', 0x2029.toChar)))

  private lazy val repDocGenCrlf: org.scalacheck.Gen[String] =
    repDocGen.flatMap(withBreakStyle)

  test("property: gopherRepetitionRules ≡ an independent driver-side " +
      "reimplementation of every repetition tier on random docs") {
    def spTrim(s: String): String =
      s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    def expect(text0: String): Seq[Int] = {
      // the r13 CRLF contract, extended r14 to lone \r and U+2028/29
      val text = text0.replace("\r\n", "\n").replace('\r', '\n')
        .replace(0x2028.toChar, '\n').replace(0x2029.toChar, '\n')
      val nc = math.max(text.length.toDouble, 1.0)
      val lines = text.split("\n", -1).map(spTrim).filter(_.nonEmpty).toSeq
      val paras = text.split("\n\n", -1).map(spTrim).filter(_.nonEmpty).toSeq
      val ws = spTrim(text).split("\\s+").filter(_.nonEmpty).toSeq
      def dupFrac(u: Seq[String]): Double =
        if (u.isEmpty) 0.0
        else (u.size - u.distinct.size).toDouble / u.size
      def dupCharFrac(u: Seq[String]): Double =
        u.groupBy(identity).values
          .map(g => (g.size - 1).toLong * g.head.length).sum.toDouble / nc
      def sh(n: Int): Seq[String] =
        if (ws.size < n) Seq.empty
        else (0 to ws.size - n).map(i => ws.slice(i, i + n).mkString(" "))
      def topFrac(n: Int): Double = {
        val gs = sh(n).groupBy(identity).toSeq
          .map { case (g, o) => (o.size.toLong, g.length.toLong) }
        if (gs.isEmpty) 0.0
        else {
          val mc = gs.map(_._1).max
          val ml = gs.filter(_._1 == mc).map(_._2).max
          (mc * ml).toDouble / nc
        }
      }
      def dupNFrac(n: Int): Double =
        sh(n).groupBy(identity)
          .collect { case (g, o) if o.size >= 2 => o.size.toLong * g.length }
          .sum.toDouble / nc
      val bits = Seq(
        dupFrac(paras) <= 0.3,
        dupCharFrac(paras) <= 0.2,
        dupCharFrac(lines) <= 0.2,
        topFrac(2) <= 0.20, topFrac(3) <= 0.18, topFrac(4) <= 0.16,
        dupNFrac(5) <= 0.15, dupNFrac(6) <= 0.14, dupNFrac(7) <= 0.13,
        dupNFrac(8) <= 0.12, dupNFrac(9) <= 0.11, dupNFrac(10) <= 0.10)
      (bits :+ bits.forall(identity)).map(b => if (b) 1 else 0)
    }
    val docsGen = Gen.choose(3, 8)
      .flatMap(n => Gen.listOfN(n, repDocGenCrlf))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    forAll(docsGen, n = 15) { rows =>
      val cols = TextAnalysis.gopherRepetitionRules(col("text"))
        .map { case (nm, c) => c.as(nm) }
      val got = rows.toDF("doc_id", "text")
        .select(col("doc_id") +: cols: _*)
        .collect().map(r => r.getLong(0) ->
          (1 to 13).map(r.getInt)).toMap
      rows.foreach { case (id, text) =>
        assert(got(id) == expect(text),
          s"repetition vector diverged for doc $id: got ${got(id)}, " +
            s"want ${expect(text)}, text=${text.replace("\n", "\\n")}")
      }
    }
  }

  test("property: decontaminateFuzzy — exact bench copies are ALWAYS " +
      "flagged at j = 1; every flagged pair's true shingle Jaccard " +
      "clears the threshold; disjoint-alphabet docs never flag") {
    def shingleSet(text: String): Set[String] = {
      val t = text.split(" ").toSeq
      (0 to math.max(t.size - 3, 0)).map(i =>
        t.slice(i, i + 3).mkString(" ")).toSet
    }
    val corpusG = for {
      n <- Gen.choose(4, 9)
      ds <- Gen.listOfN(n, Gen.choose(5, 40)
        .flatMap(k => Gen.listOfN(k, wordGen).map(_.mkString(" "))))
    } yield ds.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    forAll(corpusG, n = 12) { rows =>
      // bench: an exact copy of doc 0, an edited copy of doc 1, and one
      // from a disjoint alphabet (digits can't appear in wordGen words)
      val bench = Seq(
        (100L, rows.head._2),
        (101L, rows(1)._2 + " zz9 qq9"),
        (102L, "d1 d2 d3 d4 d5 d6 d7 d8"))
      val out = TextAnalysis.decontaminateFuzzy(
          rows.toDF("doc_id", "text"), bench.toDF("doc_id", "text"),
          "doc_id", "text", jaccardMin = 0.5)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("j")))
      // exact copy: identical signatures → every band collides → flagged
      val exact = out.filter(p => p._1 == 0L && p._2 == 100L)
      assert(exact.nonEmpty && exact.head._3 == 1.0,
        s"exact bench copy not flagged at j=1: ${out.mkString(", ")}")
      // soundness: every flagged pair really clears the bar on TRUE
      // (unhashed) shingle sets
      val benchMap = bench.toMap
      val rowMap = rows.toMap
      out.foreach { case (d, b, j) =>
        val (s1, s2) = (shingleSet(rowMap(d)), shingleSet(benchMap(b)))
        val trueJ = s1.intersect(s2).size.toDouble / s1.union(s2).size
        assert(trueJ >= 0.5 - 1e-9,
          s"flagged pair ($d,$b) has true Jaccard $trueJ < 0.5 (j=$j)")
      }
      assert(!out.exists(_._2 == 102L),
        "disjoint-alphabet bench doc must never flag")
    }
  }

  test("property: ivfRangeSearch ≡ an independent driver-side recompute " +
      "of stride codebook → assignment → probe → radius filter") {
    import graft.operators.Similarity
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map(p => p._1 * p._2).sum
      d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecGen: Gen[Array[Float]] = for {
      h <- Gen.choose(1, 5) // nonzero head: no zero-norm vectors
      t <- Gen.listOfN(3, Gen.choose(-5, 5))
    } yield (h :: t).map(_.toFloat).toArray
    val corpusG = Gen.choose(16, 40).flatMap(n => Gen.listOfN(n, vecGen))
      .map(_.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) })
    val (c, np, simMin) = (4, 2, 0.3)
    forAll(corpusG, n = 12) { rows =>
      val df = rows.toDF("vec_id", "embedding")
      val got = Similarity.rangeSearch(df, "vec_id", "embedding",
          Similarity.train(df, "vec_id", "embedding",
            Similarity.AnnIndex(Similarity.Coarse(Similarity.Cells(c)))),
          queryPred = col("id") < 5, simMin = simMin, nprobe = np)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      // independent recompute: stride codebook (every n/c-th id), rounded
      // cosine assignment best-first with ties to the lower cid, corpus
      // rows live in cell 1, queries probe their np nearest, radius filter
      val vs = rows.map { case (i, v) => i -> v.map(_.toDouble).toArray }
      val every = math.max(1L, rows.size.toLong / c)
      val cents = vs.filter(_._1 % every == 0).sortBy(_._1)
      def probed(v: Array[Double]): Seq[Long] =
        cents.map { case (cid, cv) => (r6(cos(v, cv)), cid) }
          .sortBy { case (s, cid) => (-s, cid) }.take(np).map(_._2)
      val ownCell = vs.map { case (i, v) => i -> probed(v).head }.toMap
      val want = (for {
        (qi, qv) <- vs if qi < 5
        cells = probed(qv).toSet
        (ni, nv) <- vs if ni != qi && cells.contains(ownCell(ni))
        s = r6(cos(qv, nv)) if s >= simMin
      } yield (qi, ni, s)).toSet
      assert(got == want,
        s"range diverged: extra=${(got -- want).take(3)}, " +
          s"missing=${(want -- got).take(3)}")
    }
  }
}
