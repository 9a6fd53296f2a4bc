package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd Catalyst expressions for the hot inner loops of the dedup /
  * similarity operators. Each is semantically identical to the
  * higher-order-function formulation it replaces (same fold order, same
  * arithmetic) — the HOF versions are interpreted per element, which
  * dominated the profile (~90 s of a 143 s bench run at sf0.1); these
  * run inside whole-stage codegen as a single tight loop.
  */
object NativeExpressions {

  /** Polynomial char-fold hash — identical to
    * `aggregate(transform(split(s,''), ascii), 0, (a,c) -> (a*mult+c) % mod)`
    * over unicode code points. */
  def charFoldCompute(s: UTF8String, mult: Long, mod: Long): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = java.lang.Math.floorMod(acc * mult + cp, mod)
      i += Character.charCount(cp)
    }
    acc
  }

  /** Sequential-fold dot product of two double arrays — identical to
    * `aggregate(zip_with(a,b,*), 0.0, +)` (left-to-right accumulation,
    * shorter-array excess treated as absent, null elements as 0). */
  def dotCompute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** Hyperplane-LSH bucket inner loop (see HyperplaneBucket). The LCG
    * component and fold order replicate the original HOF formulation
    * exactly so DuckDB oracles that replay the arithmetic still match. */
  def hyperplaneBucketCompute(vec: ArrayData, nPlanes: Int): Long = {
    val n = vec.numElements()
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      val base = p * 64L + 1L
      var acc = 0.0
      var d = 0
      while (d < n) {
        val h = java.lang.Math.floorMod((base + d) * 2654435761L, 2147483647L)
        acc += vec.getDouble(d) * (h.toDouble / 2147483647.0 - 0.5)
        d += 1
      }
      if (acc >= 0) bucket |= 1L << p
      p += 1
    }
    bucket
  }

  /** SimHash (32-bit) inner loop: per bit b, sign of Σ_tokens
    * (bit_b(h) ? +1 : -1), packed little-endian — identical to the nested
    * `aggregate` HOF form on its exact domain: the bit test
    * floorMod(h >> b, 2) equals pmod(floor(h / 2^b), 2) wherever the HOF's
    * double division is exact (|h| < 2^53; shipped callers hash mod 2^31-1,
    * far inside — pinned by NativeExpressionsSpec), negative hashes
    * included, because arithmetic shift IS floor division by 2^b. One pass
    * over the token hashes instead of the HOF form's 32. */
  def simhash32Compute(tokenHashes: ArrayData): Long = {
    val counts = new Array[Int](32)
    val n = tokenHashes.numElements()
    var i = 0
    while (i < n) {
      val h = tokenHashes.getLong(i)
      var b = 0
      while (b < 32) {
        if (java.lang.Math.floorMod(h >> b, 2L) == 1L) counts(b) += 1
        else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 32) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Round-half-up to `scale` decimals — Spark's `round(double, s)`
    * semantics (BigDecimal HALF_UP), used so native similarity ranking
    * compares exactly the values the SQL surface would. */
  def roundHalfUp(x: Double, scale: Int): Double = {
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Top-`nprobe` nearest centroids of `vec` by rounded cosine similarity,
    * tie-broken by centroid id ascending — ROW-LOCAL: the centroid set
    * rides along as two literal arrays (ids, vectors), so cell assignment
    * needs no join and no shuffle at all (the expression is the IVF coarse
    * quantizer; faiss ships the same thing as a driver-side codebook).
    * Returns the centroid ids, best first. */
  def nearestCentroidsCompute(vec: ArrayData, cids: ArrayData, cvs: ArrayData,
      nprobe: Int, roundTo: Int): ArrayData = {
    val c = cids.numElements()
    val keep = math.min(nprobe, c)
    val topSim = new Array[Double](keep)
    val topCid = new Array[Long](keep)
    var filled = 0
    val vNorm = math.sqrt(dotCompute(vec, vec))
    var i = 0
    while (i < c) {
      val cv = cvs.getArray(i)
      val cid = cids.getLong(i)
      val denom = vNorm * math.sqrt(dotCompute(cv, cv))
      val sim = roundHalfUp(
        if (denom == 0) 0.0 else dotCompute(vec, cv) / denom, roundTo)
      // insertion position: ranked by (sim desc, cid asc)
      var pos = filled
      while (pos > 0 && (sim > topSim(pos - 1) ||
          (sim == topSim(pos - 1) && cid < topCid(pos - 1)))) pos -= 1
      if (pos < keep) {
        val end = math.min(filled, keep - 1)
        var j = end
        while (j > pos) { topSim(j) = topSim(j - 1); topCid(j) = topCid(j - 1); j -= 1 }
        topSim(pos) = sim
        topCid(pos) = cid
        if (filled < keep) filled += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(topCid.take(filled))
  }

  /** Broadcast-codebook variant of [[nearestCentroidsCompute]]: identical
    * ranking arithmetic, but the codebook arrives as plain JVM arrays from
    * a broadcast variable instead of per-row ArrayData literals — above a
    * few thousand centroids the literal form bloats every serialized plan
    * by the whole codebook (tens of MB at C≈√n for billions of vectors);
    * the broadcast ships once per executor. */
  def nearestCentroidsBcCompute(vec: ArrayData, cb: Codebook,
      nprobe: Int, roundTo: Int): ArrayData = {
    val c = cb.cids.length
    val keep = math.min(nprobe, c)
    val topSim = new Array[Double](keep)
    val topCid = new Array[Long](keep)
    var filled = 0
    var vNormSq = 0.0
    val d = vec.numElements()
    var t = 0
    while (t < d) { val x = vec.getDouble(t); vNormSq += x * x; t += 1 }
    val vNorm = math.sqrt(vNormSq)
    var i = 0
    while (i < c) {
      val cv = cb.cvs(i)
      val cid = cb.cids(i)
      val m = math.min(d, cv.length)
      var dot = 0.0
      var j = 0
      while (j < m) { dot += vec.getDouble(j) * cv(j); j += 1 }
      val denom = vNorm * cb.cnorms(i)
      val sim = roundHalfUp(if (denom == 0) 0.0 else dot / denom, roundTo)
      var pos = filled
      while (pos > 0 && (sim > topSim(pos - 1) ||
          (sim == topSim(pos - 1) && cid < topCid(pos - 1)))) pos -= 1
      if (pos < keep) {
        val end = math.min(filled, keep - 1)
        var k = end
        while (k > pos) { topSim(k) = topSim(k - 1); topCid(k) = topCid(k - 1); k -= 1 }
        topSim(pos) = sim
        topCid(pos) = cid
        if (filled < keep) filled += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(topCid.take(filled))
  }

  /** windowFunnel fold (CH's funnel-analysis aggregate, re-expressed as a
    * row-local expression over a user's SORTED event array). Events are
    * encoded `t * 10 + step` (step < 10), so ascending numeric order IS
    * (time, step) order and any engine can reproduce the fold on plain
    * integers. State: per level, the LATEST chain-start time (maximizing
    * window slack — the standard funnel DP); an event at level k extends a
    * chain iff level k-1 was reached within `window` of its start.
    * Returns the deepest level reached (0 = no step-0 event). */
  def windowFunnelCompute(sortedEncoded: ArrayData, nSteps: Int, window: Long): Int = {
    val start = Array.fill(nSteps)(Long.MinValue)
    val n = sortedEncoded.numElements()
    var i = 0
    while (i < n) {
      val x = sortedEncoded.getLong(i)
      val step = java.lang.Math.floorMod(x, 10L).toInt
      val t = java.lang.Math.floorDiv(x, 10L)
      if (step == 0) {
        if (t > start(0)) start(0) = t
      } else if (step < nSteps && start(step - 1) != Long.MinValue &&
          t - start(step - 1) <= window) {
        if (start(step - 1) > start(step)) start(step) = start(step - 1)
      }
      i += 1
    }
    var level = 0
    while (level < nSteps && start(level) != Long.MinValue) level += 1
    level
  }

  /** Unicode script-range char counts in ONE pass over the string —
    * equivalent to 8 separate `length(x) - length(regexp_replace(x,
    * '[\uLO-\uHI]', ''))` columns but without 8 regex traversals per row
    * (the langId hot loop at corpus scale). Ranges ride as a flat
    * [lo0, hi0, lo1, hi1, ...] code-point array. */
  def scriptCountsCompute(s: UTF8String, flatRanges: Array[Int]): ArrayData = {
    val k = flatRanges.length / 2
    val counts = new Array[Int](k)
    val str = s.toString
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      var r = 0
      while (r < k) {
        if (cp >= flatRanges(2 * r) && cp <= flatRanges(2 * r + 1)) counts(r) += 1
        r += 1
      }
      i += Character.charCount(cp)
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(counts)
  }

  /** Per-language stopword-hit counts in ONE pass over a token array —
    * equivalent to N separate `size(filter(toks, t -> t IN (...)))`
    * columns. The lookup map sends each word to EVERY language list
    * containing it (lists overlap: 'la' is both fr and ro), so the counts
    * match the per-language filters exactly. */
  def stopwordCountsCompute(toks: ArrayData,
      map: java.util.HashMap[UTF8String, Array[Int]], k: Int): ArrayData = {
    val counts = new Array[Int](k)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val hit = map.get(toks.getUTF8String(i))
      if (hit != null) {
        var j = 0
        while (j < hit.length) { counts(hit(j)) += 1; j += 1 }
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(counts)
  }

  /** sequenceCount fold: greedy NON-OVERLAPPING count of complete step
    * chains over a user's sorted (t*10+step)-encoded events — the
    * standard automaton (advance on the next-needed step; a completed
    * chain resets), deterministic and replayable on plain integers in any
    * engine. */
  def sequenceCountCompute(sortedEncoded: ArrayData, nSteps: Int): Long = {
    var lvl = 0
    var count = 0L
    val n = sortedEncoded.numElements()
    var i = 0
    while (i < n) {
      val step = java.lang.Math.floorMod(sortedEncoded.getLong(i), 10L).toInt
      if (step == lvl) {
        lvl += 1
        if (lvl == nSteps) { count += 1; lvl = 0 }
      }
      i += 1
    }
    count
  }

  /** sequenceMatch with per-transition gap constraints over a user's
    * sorted (t·16 + step+1)-encoded events (step −1 = event matching no
    * condition — REQUIRED in the stream, because CH adjacency counts any
    * event as a separator). `gaps(j)` constrains matched step j → j+1:
    * −1 any gap (`.*`), 0 strict adjacency (`(?1)(?2)` — no event of any
    * kind between), >0 max time gap in micros (`(?t<=n)` — any events
    * between, time-bounded). Backtracking DFS with a failed-state memo:
    * greedy scans miss matches like [1,1,2] for an adjacent (?1)(?2). */
  def sequenceMatchPatternCompute(
      arr: ArrayData, nSteps: Int, gaps: Array[Long]): Boolean = {
    val n = arr.numElements()
    def stepOf(enc: Long): Int = (java.lang.Math.floorMod(enc, 16L) - 1).toInt
    def tOf(enc: Long): Long = java.lang.Math.floorDiv(enc, 16L)
    val failed = new java.util.HashSet[Long]()
    def search(j: Int, prevPos: Int): Boolean = {
      if (j == nSteps) return true
      val key = j.toLong * (n + 1) + (prevPos + 1)
      if (failed.contains(key)) return false
      val gap = if (j == 0) -1L else gaps(j - 1)
      val prevT = if (prevPos >= 0) tOf(arr.getLong(prevPos)) else 0L
      var q = prevPos + 1
      var ok = false
      var stop = false
      while (q < n && !ok && !stop) {
        val enc = arr.getLong(q)
        if (gap == 0L) { // adjacency: only the immediately-next event
          if (stepOf(enc) == j) ok = search(j + 1, q)
          stop = true
        } else if (gap > 0L && tOf(enc) - prevT > gap) {
          stop = true // sorted by time: all later events also exceed
        } else if (stepOf(enc) == j) {
          ok = search(j + 1, q)
        }
        q += 1
      }
      if (!ok) failed.add(key)
      ok
    }
    search(0, -1)
  }

  /** MinHash signature inner loop: for perm i in [0,k):
    * min over hashes of (h·(2i+1) + 12345·i + 1) mod `mod`.
    * Empty input yields Long.MaxValue sentinels per permutation — a
    * DELIBERATE divergence from the HOF form (whose array_min over an
    * empty array is null per element): deterministic, and never reached
    * by the shipped callers (shingleHashes emits ≥1 hash even for empty
    * text). Pinned by NativeExpressionsSpec. */
  def minhashCompute(hashes: ArrayData, k: Int, mod: Long): ArrayData = {
    val out = new Array[Long](k)
    val n = hashes.numElements()
    var i = 0
    while (i < k) {
      val a = 2L * i + 1
      val b = 12345L * i + 1
      var best = Long.MaxValue
      var j = 0
      while (j < n) {
        val v = java.lang.Math.floorMod(hashes.getLong(j) * a + b, mod)
        if (v < best) best = v
        j += 1
      }
      out(i) = best
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** Word n-gram shingle hashes straight from text: tokenize on single
    * spaces (Java split semantics: trailing empties kept, like the SQL
    * `split(text,' ')`), first-occurrence-distinct the shingle *strings*,
    * charFold-hash each — identical to
    * `transform(array_distinct(shingles(text,n)), charFold)` but in one
    * pass without materializing shingle strings per row twice. Collision
    * semantics preserved: distinctness is by string, so two distinct
    * shingles hashing equal still contribute two array entries. */
  def shingleHashesCompute(text: UTF8String, n: Int, mult: Long, mod: Long): ArrayData = {
    val tokens = text.toString.split(" ", -1)
    val last = math.max(tokens.length - n, 0)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= last) {
      val end = math.min(i + n, tokens.length)
      val sb = new java.lang.StringBuilder()
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(tokens(j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) {
      out(k) = charFoldCompute(UTF8String.fromString(it.next()), mult, mod)
      k += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** The shingle *strings* (for exact-Jaccard verification) — same
    * tokenization/distinctness as [[shingleHashesCompute]]. */
  def wordShinglesCompute(text: UTF8String, n: Int): ArrayData = {
    val tokens = text.toString.split(" ", -1)
    val last = math.max(tokens.length - n, 0)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= last) {
      val end = math.min(i + n, tokens.length)
      val sb = new java.lang.StringBuilder()
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(tokens(j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[UTF8String](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      wordShinglesCompute(input.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.wordShinglesCompute($c, $n)")
    override protected def withNewChildInternal(newChild: Expression): WordShingles =
      copy(child = newChild)
  }

  case class ShingleHashes(child: Expression, n: Int, mult: Long, mod: Long)
      extends UnaryExpression {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      shingleHashesCompute(input.asInstanceOf[UTF8String], n, mult, mod)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.shingleHashesCompute($c, $n, ${mult}L, ${mod}L)")
    override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
      copy(child = newChild)
  }

  case class CharFoldHash(child: Expression, mult: Long, mod: Long)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      charFoldCompute(input.asInstanceOf[UTF8String], mult, mod)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.charFoldCompute($c, ${mult}L, ${mod}L)")
    override protected def withNewChildInternal(newChild: Expression): CharFoldHash =
      copy(child = newChild)
  }

  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any, b: Any): Any =
      dotCompute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.plans.NativeExpressions.dotCompute($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): DotProduct =
      copy(left = newLeft, right = newRight)
  }

  case class MinHashSignature(child: Expression, k: Int, mod: Long)
      extends UnaryExpression {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      minhashCompute(input.asInstanceOf[ArrayData], k, mod)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.minhashCompute($c, $k, ${mod}L)")
    override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
      copy(child = newChild)
  }

  case class SimHash32(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      simhash32Compute(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.simhash32Compute($c)")
    override protected def withNewChildInternal(newChild: Expression): SimHash32 =
      copy(child = newChild)
  }

  /** All nPlanes hyperplane sign bits in ONE traversal of the vector —
    * the interpreted HOF form (per plane: sequence + transform + zip_with
    * + aggregate) walks the vector nPlanes times through the Catalyst
    * interpreter; this is the same multi-pass shape that cost simhash 4.2×
    * before its native rewrite. Bit-for-bit identical to the HOF math:
    * component(p,d) = pmod((p·64+1+d)·2654435761, 2^31−1)/(2^31−1) − 0.5,
    * dot folded in array order, bit p set iff dot ≥ 0. */
  case class HyperplaneBucket(child: Expression, nPlanes: Int)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      hyperplaneBucketCompute(input.asInstanceOf[ArrayData], nPlanes)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.hyperplaneBucketCompute($c, $nPlanes)")
    override protected def withNewChildInternal(newChild: Expression): HyperplaneBucket =
      copy(child = newChild)
  }

  case class SequenceMatchPattern(child: Expression, nSteps: Int, gaps: Seq[Long])
      extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.BooleanType
    override def nullIntolerant: Boolean = true
    private lazy val gapsArr = gaps.toArray
    override protected def nullSafeEval(input: Any): Any =
      sequenceMatchPatternCompute(input.asInstanceOf[ArrayData], nSteps, gapsArr)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("seqGaps", gapsArr, "long[]")
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.sequenceMatchPatternCompute($c, $nSteps, $ref)")
    }
    override protected def withNewChildInternal(newChild: Expression): SequenceMatchPattern =
      copy(child = newChild)
  }

  case class WindowFunnelLevel(child: Expression, nSteps: Int, window: Long)
      extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.IntegerType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      windowFunnelCompute(input.asInstanceOf[ArrayData], nSteps, window)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.windowFunnelCompute($c, $nSteps, ${window}L)")
    override protected def withNewChildInternal(newChild: Expression): WindowFunnelLevel =
      copy(child = newChild)
  }

  case class ScriptCounts(child: Expression, flatRanges: Seq[Int])
      extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    private lazy val rangesArr = flatRanges.toArray
    override protected def nullSafeEval(input: Any): Any =
      scriptCountsCompute(input.asInstanceOf[UTF8String], rangesArr)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("scriptRanges", rangesArr, "int[]")
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.scriptCountsCompute($c, $ref)")
    }
    override protected def withNewChildInternal(newChild: Expression): ScriptCounts =
      copy(child = newChild)
  }

  case class StopwordCounts(child: Expression, wordLists: Seq[Seq[String]])
      extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    @transient private lazy val lookup: java.util.HashMap[UTF8String, Array[Int]] = {
      val m = new java.util.HashMap[UTF8String, Array[Int]]()
      wordLists.zipWithIndex.foreach { case (ws, li) =>
        ws.foreach { w =>
          val k = UTF8String.fromString(w)
          val prev = m.get(k)
          m.put(k, if (prev == null) Array(li) else prev :+ li)
        }
      }
      m
    }
    override protected def nullSafeEval(input: Any): Any =
      stopwordCountsCompute(input.asInstanceOf[ArrayData], lookup, wordLists.size)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("stopwordMap", lookup, "java.util.HashMap")
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.stopwordCountsCompute(" +
          s"$c, (java.util.HashMap) $ref, ${wordLists.size})")
    }
    override protected def withNewChildInternal(newChild: Expression): StopwordCounts =
      copy(child = newChild)
  }

  case class SequenceCountAgg(child: Expression, nSteps: Int)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      sequenceCountCompute(input.asInstanceOf[ArrayData], nSteps)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.sequenceCountCompute($c, $nSteps)")
    override protected def withNewChildInternal(newChild: Expression): SequenceCountAgg =
      copy(child = newChild)
  }

  /** Broadcast-codebook coarse quantizer: holds the `Broadcast` handle
    * directly (codegen embeds it via `addReferenceObj` — the executor
    * fetches the codebook once, NOT per task serialization like the
    * literal form). Same output contract as [[NearestCentroids]]. */
  /** Symmetric int8 scalar quantization in ONE pass — identical values
    * to the HOF formulation it replaces (scale = max|x|/127 with 0 for
    * zero vectors; codes = HALF_UP round(x/scale) like Spark's round;
    * err = sqrt(sequential Σ(x − c·scale)² / max(d,1)) with the UNROUNDED
    * scale). The HOF version re-evaluated the amax aggregate and the
    * codes transform inside every err element (interpreted, O(d²) per
    * row — 8.8 s for 2000×64 once the bench stopped pruning it); this is
    * one codegen'd O(d) loop. A vector containing a null ELEMENT yields
    * a null result (the old HOF emitted a code array with null holes and
    * a null err — a partially-null quantization no caller could use;
    * whole-row null is the honest signal and never reads a hole as 0). */
  def int8QuantCompute(vec: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = vec.numElements()
    var amax = 0.0
    var i = 0
    while (i < n) {
      if (vec.isNullAt(i)) return null
      val a = math.abs(vec.getDouble(i)); if (a > amax) amax = a; i += 1
    }
    val scale = if (amax > 0) amax / 127.0 else 0.0
    val codes = new Array[Int](n)
    i = 0
    while (i < n) {
      codes(i) = if (scale > 0)
        java.math.BigDecimal.valueOf(vec.getDouble(i) / scale)
          .setScale(0, java.math.RoundingMode.HALF_UP).intValue
      else 0
      i += 1
    }
    var s = 0.0
    i = 0
    while (i < n) {
      val d = vec.getDouble(i) - codes(i) * scale; s += d * d; i += 1
    }
    val err = math.sqrt(s / math.max(n, 1))
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](scale, ArrayData.toArrayData(codes), err))
  }

  /** All 12 Gopher repetition signals + their keep conjunction in ONE
    * pass over the document (r13): the 13-column HOF formulation
    * rebuilt the shingle arrays and ran an interpreted struct-fold per
    * COLUMN — ~10 ms/row at sf0.1 (51 s for the t31b bench row); this
    * computes every per-unit count with plain HashMaps in one JVM
    * function (~µs/row). Semantics are EXACTLY the column formulation's
    * (and the DuckDB oracle's): lengths in CODE POINTS (Spark/DuckDB
    * `length`), lines split on "\n" / paragraphs on "\n\n"
    * (left-to-right non-overlapping, all pieces kept), units trimmed of
    * SPACES only (Spark `trim`) and dropped when empty, words = the
    * java-\s+ split of the space-trimmed text, n-grams joined with one
    * space; duplicate-unit char fractions count occurrences beyond the
    * first, top-n-gram = (count × len) of the most frequent gram (ties
    * to the longest), duplicate-n-gram fractions count ALL occurrences
    * of grams seen ≥ 2 times; all over max(text code points, 1).
    *
    * DOCUMENTED DEVIATION from Rae et al. (r14 ADVICE note): the
    * occurrence-count accounting (count × len over all occurrences)
    * counts OVERLAPPING duplicated n-grams multiply, so the n-gram
    * fractions can exceed 1 and sit STRICTLY ABOVE the
    * character-coverage accounting most published reimplementations
    * use (mark each covered character once). Near the 0.10-0.15
    * thresholds this filter is therefore somewhat stricter than the
    * published one — it can only drop MORE repetitive docs, never
    * fewer. The DuckDB oracle mirrors the same accounting (parity is
    * exact); the deviation is a fidelity note, not a correctness
    * risk. */
  def gopherRepetitionCompute(s0: UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    // Newline normalization first (r13 ADVICE fix; r14 extended to lone
    // \r — classic-Mac corpora — and the U+2028/U+2029 Unicode line/para
    // separators): "\r\n\r\n" must split paragraphs, every line-break
    // form must split lines; nc and unit lengths are measured on the
    // normalized text (the oracle mirrors the same 4-step chain)
    val text = s0.toString.replace("\r\n", "\n").replace('\r', '\n')
      .replace(0x2028.toChar, '\n').replace(0x2029.toChar, '\n')
    def cpLen(x: String): Long =
      x.codePointCount(0, x.length).toLong
    val nc = math.max(cpLen(text).toDouble, 1.0)
    def spTrim(x: String): String = {
      var a = 0; var b = x.length
      while (a < b && x.charAt(a) == ' ') a += 1
      while (b > a && x.charAt(b - 1) == ' ') b -= 1
      if (a == 0 && b == x.length) x else x.substring(a, b)
    }
    // literal split, limit -1 semantics (all pieces, incl. empties —
    // trimmed-empty pieces are dropped right here)
    def splitUnits(sep: String): Array[String] = {
      val out = Array.newBuilder[String]
      var from = 0
      var i = text.indexOf(sep, from)
      while (i >= 0) {
        val p = spTrim(text.substring(from, i))
        if (p.nonEmpty) out += p
        from = i + sep.length
        i = text.indexOf(sep, from)
      }
      val last = spTrim(text.substring(from))
      if (last.nonEmpty) out += last
      out.result()
    }
    val lines = splitUnits("\n")
    val paras = splitUnits("\n\n")
    // java \s = [ \t\n\x0B\f\r]; runs of non-\s chars of the
    // space-trimmed text (split + nonempty filter equivalent)
    def isWs(c: Char): Boolean = c == ' ' || c == '\t' || c == '\n' ||
      c == '\u000B' || c == '\f' || c == '\r'
    val ws = {
      val t = spTrim(text)
      val out = Array.newBuilder[String]
      var i = 0
      while (i < t.length) {
        while (i < t.length && isWs(t.charAt(i))) i += 1
        val start = i
        while (i < t.length && !isWs(t.charAt(i))) i += 1
        if (i > start) out += t.substring(start, i)
      }
      out.result()
    }
    def counts(units: Iterator[String]): java.util.HashMap[String, Int] = {
      val m = new java.util.HashMap[String, Int]()
      units.foreach(u => m.merge(u, 1, Integer.sum _))
      m
    }
    def beyondFirstChars(m: java.util.HashMap[String, Int]): Long = {
      var s = 0L
      m.forEach((u, c) => if (c > 1) s += (c - 1).toLong * cpLen(u))
      s
    }
    val lineCnt = counts(lines.iterator)
    val paraCnt = counts(paras.iterator)
    val dupParaFrac =
      if (paras.length > 0)
        (paras.length - paraCnt.size).toDouble / paras.length
      else 0.0
    val dupParaCharFrac = beyondFirstChars(paraCnt) / nc
    val dupLineCharFrac = beyondFirstChars(lineCnt) / nc
    def gramCounts(n: Int): java.util.HashMap[String, Int] = {
      val m = new java.util.HashMap[String, Int]()
      if (ws.length >= n) {
        val sb = new java.lang.StringBuilder
        var i = 0
        while (i <= ws.length - n) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(ws(i + j)); j += 1
          }
          m.merge(sb.toString, 1, Integer.sum _)
          i += 1
        }
      }
      m
    }
    def topFrac(n: Int): Double = {
      val m = gramCounts(n)
      var bc = 0L; var bl = 0L
      m.forEach { (g, c) =>
        val l = cpLen(g)
        if (c > bc || (c == bc && l > bl)) { bc = c; bl = l }
      }
      bc * bl / nc
    }
    def dupNFrac(n: Int): Double = {
      val m = gramCounts(n)
      var s = 0L
      m.forEach((g, c) => if (c >= 2) s += c.toLong * cpLen(g))
      s / nc
    }
    def b(x: Boolean): Int = if (x) 1 else 0
    val bits = Array(
      b(dupParaFrac <= 0.3),
      b(dupParaCharFrac <= 0.2),
      b(dupLineCharFrac <= 0.2),
      b(topFrac(2) <= 0.20), b(topFrac(3) <= 0.18), b(topFrac(4) <= 0.16),
      b(dupNFrac(5) <= 0.15), b(dupNFrac(6) <= 0.14),
      b(dupNFrac(7) <= 0.13), b(dupNFrac(8) <= 0.12),
      b(dupNFrac(9) <= 0.11), b(dupNFrac(10) <= 0.10))
    val keep = if (bits.forall(_ == 1)) 1 else 0
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      (bits :+ keep).map(x => x: Any))
  }

  /** Character-COVERAGE accounting for the Gopher duplicate-n-gram
    * tiers (r15, t36 — the published Rae et al. Table A1 semantics:
    * "fraction of characters contained within a duplicate n-gram",
    * each character counted ONCE no matter how many duplicated grams
    * cover it). The default tier ([[gopherRepetitionCompute]]) counts
    * overlapping duplicated grams multiply — documented as strictly
    * STRICTER (≥ coverage on every document, so it drops more, never
    * fewer); this tier closes that last documented deviation. Spans of
    * every occurrence of a gram seen ≥ 2 times, positioned in the
    * single-space-joined token rendering (span length = the same
    * cpLen(gram) the strict tier charges), interval-unioned per
    * document in one left-to-right pass (occurrence starts ascend by
    * construction). Fractions round at 6; keep bits compare the
    * UNROUNDED fraction to the published thresholds (0.15 … 0.10),
    * like the strict tier. Emits cov5..cov10 + keep_rep_cov. */
  def gopherDupCoverageCompute(text: UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    // same 4-step newline normalization as [[gopherRepetitionCompute]]:
    // nc must measure the normalized text or the two tiers' fractions
    // would disagree on \r\n corpora
    val t = text.toString.replace("\r\n", "\n").replace('\r', '\n')
      .replace(0x2028.toChar, '\n').replace(0x2029.toChar, '\n')
    def cpLen(x: String): Long = x.codePointCount(0, x.length).toLong
    val nc = math.max(cpLen(t).toDouble, 1.0)
    def isWs(c: Char): Boolean = c == ' ' || c == '\t' || c == '\n' ||
      c == '\u000B' || c == '\f' || c == '\r'
    val ws = {
      val out = Array.newBuilder[String]
      var i = 0
      while (i < t.length) {
        while (i < t.length && isWs(t.charAt(i))) i += 1
        val start = i
        while (i < t.length && !isWs(t.charAt(i))) i += 1
        if (i > start) out += t.substring(start, i)
      }
      out.result()
    }
    // starts(i) = start of token i in the ' '-joined rendering;
    // gram(i, n) spans [starts(i), starts(i+n) − 1)
    val starts = new Array[Long](ws.length + 1)
    var p = 0
    while (p < ws.length) {
      starts(p + 1) = starts(p) + cpLen(ws(p)) + 1
      p += 1
    }
    val thresholds = Array(0.15, 0.14, 0.13, 0.12, 0.11, 0.10)
    val out = new Array[Any](7)
    var allKeep = true
    var n = 5
    while (n <= 10) {
      var frac = 0.0
      if (ws.length >= n) {
        val cnt = new java.util.HashMap[String, Int]()
        val grams = new Array[String](ws.length - n + 1)
        var i = 0
        while (i <= ws.length - n) {
          val sb = new java.lang.StringBuilder
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(ws(i + j)); j += 1
          }
          grams(i) = sb.toString
          cnt.merge(grams(i), 1, Integer.sum _)
          i += 1
        }
        var cov = 0L
        var curEnd = 0L
        i = 0
        while (i <= ws.length - n) {
          if (cnt.get(grams(i)) >= 2) {
            val s = starts(i)
            val e = starts(i + n) - 1
            if (s >= curEnd) { cov += e - s; curEnd = e }
            else if (e > curEnd) { cov += e - curEnd; curEnd = e }
          }
          i += 1
        }
        frac = cov / nc
      }
      if (frac > thresholds(n - 5)) allKeep = false
      out(n - 5) = roundHalfUp(frac, 6)
      n += 1
    }
    out(6) = if (allKeep) 1 else 0
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }

  val GopherDupCoverageFields: Seq[String] =
    (5 to 10).map(n => s"cov${n}gram_frac") :+ "keep_rep_cov"

  case class GopherDupCoverage(child: Expression) extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.StructType(
      GopherDupCoverageFields.map(f =>
        org.apache.spark.sql.types.StructField(f,
          if (f == "keep_rep_cov") org.apache.spark.sql.types.IntegerType
          else DoubleType, nullable = false)))
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      gopherDupCoverageCompute(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.gopherDupCoverageCompute($c)")
    override protected def withNewChildInternal(newChild: Expression): GopherDupCoverage =
      copy(child = newChild)
  }

  val GopherRepetitionFields: Seq[String] = Seq(
    "r_dup_paragraphs", "r_dup_para_chars", "r_dup_line_chars",
    "r_top2gram_chars", "r_top3gram_chars", "r_top4gram_chars",
    "r_dup5gram_chars", "r_dup6gram_chars", "r_dup7gram_chars",
    "r_dup8gram_chars", "r_dup9gram_chars", "r_dup10gram_chars",
    "keep_rep")

  case class GopherRepetition(child: Expression) extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.StructType(
      GopherRepetitionFields.map(f => org.apache.spark.sql.types.StructField(
        f, org.apache.spark.sql.types.IntegerType, nullable = false)))
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      gopherRepetitionCompute(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.gopherRepetitionCompute($c)")
    override protected def withNewChildInternal(newChild: Expression): GopherRepetition =
      copy(child = newChild)
  }

  case class Int8Quant(child: Expression) extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("scale", DoubleType,
        nullable = false),
      org.apache.spark.sql.types.StructField("codes",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType, containsNull = false),
        nullable = false),
      org.apache.spark.sql.types.StructField("err", DoubleType,
        nullable = false)))
    override def nullIntolerant: Boolean = true
    // null-ELEMENT vectors quantize to null (see int8QuantCompute doc)
    override def nullable: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      int8QuantCompute(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.plans.NativeExpressions.int8QuantCompute($c);
        if (${ev.value} == null) { ${ev.isNull} = true; }
      """)
    override protected def withNewChildInternal(newChild: Expression): Int8Quant =
      copy(child = newChild)
  }

  /** Encode a pre-tokenized word array with a broadcast [[BpeModel]]:
    * per word the standard lowest-rank-first merge loop (memoized), the
    * outputs flattened into one piece array — the serving twin of the
    * replace-chain [[graft.operators.TextAnalysis.bpeEncode]], with cost
    * independent of the merge-table size. */
  def bpeEncodeBcCompute(toks: ArrayData, model: BpeModel): ArrayData = {
    val out = new java.util.ArrayList[UTF8String]()
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val pieces = model.encodeWord(toks.getUTF8String(i).toString)
      var j = 0
      while (j < pieces.length) {
        out.add(UTF8String.fromString(pieces(j))); j += 1
      }
      i += 1
    }
    ArrayData.toArrayData(
      out.toArray(new Array[UTF8String](out.size)))
  }

  /** [[bpeEncodeBcCompute]]'s TOKEN-ID twin: the same per-word
    * lowest-rank-first encode, each piece mapped through the model's
    * closed vocabulary (byte-level only: base 256 + EOW + one entry per
    * merge — every piece the encoder can emit HAS an id, so there is no
    * UNK path to get wrong). */
  def bpeEncodeIdsBcCompute(toks: ArrayData, model: BpeModel): ArrayData = {
    val out = new java.util.ArrayList[Integer]()
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val pieces = model.encodeWord(toks.getUTF8String(i).toString)
      var j = 0
      while (j < pieces.length) {
        out.add(Integer.valueOf(model.pieceId(pieces(j)))); j += 1
      }
      i += 1
    }
    val arr = new Array[Int](out.size)
    var k = 0
    while (k < arr.length) { arr(k) = out.get(k).intValue; k += 1 }
    ArrayData.toArrayData(arr)
  }

  case class BpeEncodeIdsBC(child: Expression,
      model: org.apache.spark.broadcast.Broadcast[BpeModel])
      extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      bpeEncodeIdsBcCompute(input.asInstanceOf[ArrayData], model.value)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bcRef = ctx.addReferenceObj("bpeModel", model,
        classOf[org.apache.spark.broadcast.Broadcast[BpeModel]].getName)
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.bpeEncodeIdsBcCompute(" +
          s"$c, (graft.plans.BpeModel) $bcRef.value())")
    }
    override protected def withNewChildInternal(newChild: Expression): BpeEncodeIdsBC =
      copy(child = newChild)
  }

  case class BpeEncodeBC(child: Expression,
      model: org.apache.spark.broadcast.Broadcast[BpeModel])
      extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      bpeEncodeBcCompute(input.asInstanceOf[ArrayData], model.value)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bcRef = ctx.addReferenceObj("bpeModel", model,
        classOf[org.apache.spark.broadcast.Broadcast[BpeModel]].getName)
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.bpeEncodeBcCompute(" +
          s"$c, (graft.plans.BpeModel) $bcRef.value())")
    }
    override protected def withNewChildInternal(newChild: Expression): BpeEncodeBC =
      copy(child = newChild)
  }

  /** Token array → feature-bucket array: pmod(charFold(t), buckets) per
    * element in one codegen'd loop. The HOF form
    * `transform(toks, t => pmod(charFold(t), B))` pays an interpreted
    * ArrayTransform lambda per TOKEN — measured as the dominant cost of
    * the linear-model serving scan at sf1 (12.5M tokens through
    * interpreted eval on a single input split). Value-identical. */
  def hashBucketsCompute(toks: ArrayData, buckets: Long,
      mult: Long, mod: Long): ArrayData = {
    val n = toks.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val h = charFoldCompute(toks.getUTF8String(i), mult, mod)
      out(i) = ((h % buckets) + buckets) % buckets
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  case class HashBuckets(child: Expression, buckets: Long,
      mult: Long, mod: Long) extends UnaryExpression {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      hashBucketsCompute(input.asInstanceOf[ArrayData], buckets, mult, mod)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.hashBucketsCompute(" +
          s"$c, ${buckets}L, ${mult}L, ${mod}L)")
    override protected def withNewChildInternal(newChild: Expression): HashBuckets =
      copy(child = newChild)
  }

  /** Σ weights[b] over a bucket-id array — the hashed-feature dot
    * product every linear-model surface here computes (linearScore
    * serving, the logistic trainers' z, trained langid scoring). The
    * HOF formulation `aggregate(bs, 0.0, acc + element_at(w, b+1))`
    * runs an interpreted lambda per TOKEN (~1 µs each — 500M of them
    * wedged the sf1 t34 bench pass); this is one codegen'd O(tokens)
    * loop, value-identical (same left-to-right IEEE sum order). */
  def bucketGatherSumCompute(bs: ArrayData, w: ArrayData): Double = {
    val n = bs.numElements()
    val wn = w.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val b = bs.getLong(i)
      if (b < 0 || b >= wn)
        throw new IllegalArgumentException(
          s"bucket_gather_sum: bucket $b outside [0, $wn)")
      s += w.getDouble(b.toInt)
      i += 1
    }
    s
  }

  case class BucketGatherSum(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(bs: Any, w: Any): Any =
      bucketGatherSumCompute(bs.asInstanceOf[ArrayData],
        w.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (b, w) =>
        s"graft.plans.NativeExpressions.bucketGatherSumCompute($b, $w)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): BucketGatherSum =
      copy(left = newLeft, right = newRight)
  }

  /** One-vs-rest linear-model argmax over a broadcast weight matrix
    * (r15, t34): K sequential-fold bucket-gather dots over ONE shared
    * bucket array, sigmoid each at `roundTo` HALF_UP, strictly-greater
    * fold in lang-sorted order (ties keep the earlier = alphabetically
    * smaller language — empty docs score 0.5 everywhere). Value-
    * identical to the per-model literal formulation
    * (K × [[BucketGatherSum]] + Catalyst round/exp + a when-chain) —
    * pinned in TrainingOpsSpec — but the model rides ONE broadcast
    * instead of K·B plan literals re-serialized into every task, the
    * [[BpeModel]]/[[Codebook]] convention, so the operator holds at
    * lid.176 scale (K·B ≈ 11k doubles). */
  def langArgmaxCompute(bs: ArrayData, m: LinearModels, roundTo: Int)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val n = bs.numElements()
    val nd = n.toDouble
    var best = 0
    var bestScore = -1.0 // every sigmoid is > 0, so model 0 always wins it
    var k = 0
    while (k < m.w.length) {
      val w = m.w(k)
      var dot = 0.0
      var i = 0
      while (i < n) {
        val b = bs.getLong(i)
        if (b < 0 || b >= w.length)
          throw new IllegalArgumentException(
            s"lang_argmax: bucket $b outside [0, ${w.length})")
        dot += w(b.toInt)
        i += 1
      }
      val z = if (n > 0) dot / nd else 0.0
      val s = roundHalfUp(1.0 / (1.0 + java.lang.Math.exp(-z)), roundTo)
      if (s > bestScore) { best = k; bestScore = s }
      k += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](m.langsUtf8(best), bestScore))
  }

  case class LangArgmaxBC(child: Expression,
      models: org.apache.spark.broadcast.Broadcast[LinearModels],
      roundTo: Int) extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.StructType(
      Seq(
        org.apache.spark.sql.types.StructField("lang_pred",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("score", DoubleType,
          nullable = false)))
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      langArgmaxCompute(input.asInstanceOf[ArrayData], models.value,
        roundTo)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bcRef = ctx.addReferenceObj("linearModels", models,
        classOf[org.apache.spark.broadcast.Broadcast[LinearModels]].getName)
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.langArgmaxCompute(" +
          s"$c, (graft.plans.LinearModels) $bcRef.value(), $roundTo)")
    }
    override protected def withNewChildInternal(newChild: Expression): LangArgmaxBC =
      copy(child = newChild)
  }

  /** Greedy HNSW descent over a broadcast navigable graph — the scale
    * path for LARGE coarse codebooks (r14, v22): brute-force assignment
    * costs O(C·d) per row, the graph walk O(path·M·d) ≈ O(M·log C·d).
    * Steepest-ascent by rounded cosine (sim desc, cid asc tie) from the
    * entry node down the layers; probes = the layer-0 local maximum
    * followed by its layer-0 neighbors ranked the same way. Every step
    * is deterministic and SQL-replayable (the oracle walks the same
    * graph with a recursive CTE). Returns up to nprobe cell ids. */
  def hnswAssignCompute(vec: ArrayData, g: HnswGraph,
      nprobe: Int, roundTo: Int): ArrayData = {
    var vNormSq = 0.0
    val d = vec.numElements()
    val v = new Array[Double](d)
    var i = 0
    while (i < d) { v(i) = vec.getDouble(i); vNormSq += v(i) * v(i); i += 1 }
    val vNorm = math.sqrt(vNormSq)
    def simTo(pos: Int): Double = {
      val cv = g.cvs(pos)
      var dp = 0.0; var j = 0
      while (j < cv.length) { dp += v(j) * cv(j); j += 1 }
      val denom = vNorm * g.cnorms(pos)
      roundHalfUp(if (denom == 0) 0.0 else dp / denom, roundTo)
    }
    var cur = g.entry
    var curSim = simTo(cur)
    var layer = g.maxLevel
    while (layer >= 0) {
      var improved = true
      while (improved) {
        improved = false
        val nbs = g.adj(layer)(cur)
        // steepest ascent: the best neighbor by (sim desc, cid asc);
        // move only on STRICT sim improvement — ties never move, so
        // the walk provably terminates and the SQL replay is one
        // argmax + one strict comparison per step
        var bestPos = -1; var bestSim = Double.NegativeInfinity
        var k = 0
        while (k < nbs.length) {
          val nb = nbs(k)
          val s = simTo(nb)
          if (s > bestSim ||
              (s == bestSim && bestPos >= 0 && g.cids(nb) < g.cids(bestPos))) {
            bestPos = nb; bestSim = s
          }
          k += 1
        }
        if (bestPos >= 0 && bestSim > curSim) {
          cur = bestPos; curSim = bestSim; improved = true
        }
      }
      layer -= 1
    }
    // probes: the local max, then its layer-0 neighbors by (sim desc, cid)
    val nbs0 = g.adj(0)(cur)
    val scored = nbs0.map(p => (simTo(p), g.cids(p), p))
      .sortBy(t => (-t._1, t._2))
    val keep = math.min(nprobe, 1 + scored.length)
    val out = new Array[Long](keep)
    out(0) = g.cids(cur)
    var o = 1
    while (o < keep) { out(o) = scored(o - 1)._2; o += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  case class HnswAssignBC(child: Expression,
      graph: org.apache.spark.broadcast.Broadcast[HnswGraph],
      nprobe: Int, roundTo: Int) extends UnaryExpression {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      hnswAssignCompute(input.asInstanceOf[ArrayData], graph.value,
        nprobe, roundTo)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bcRef = ctx.addReferenceObj("hnswGraph", graph,
        classOf[org.apache.spark.broadcast.Broadcast[HnswGraph]].getName)
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.hnswAssignCompute(" +
          s"$c, (graft.plans.HnswGraph) $bcRef.value(), $nprobe, $roundTo)")
    }
    override protected def withNewChildInternal(newChild: Expression): HnswAssignBC =
      copy(child = newChild)
  }

  case class NearestCentroidsBC(child: Expression,
      codebook: org.apache.spark.broadcast.Broadcast[Codebook],
      nprobe: Int, roundTo: Int) extends UnaryExpression {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      nearestCentroidsBcCompute(input.asInstanceOf[ArrayData],
        codebook.value, nprobe, roundTo)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bcRef = ctx.addReferenceObj("ivfCodebook", codebook,
        classOf[org.apache.spark.broadcast.Broadcast[Codebook]].getName)
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.nearestCentroidsBcCompute(" +
          s"$c, (graft.plans.Codebook) $bcRef.value(), $nprobe, $roundTo)")
    }
    override protected def withNewChildInternal(newChild: Expression): NearestCentroidsBC =
      copy(child = newChild)
  }

  case class NearestCentroids(first: Expression, second: Expression,
      third: Expression, nprobe: Int, roundTo: Int)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(vec: Any, cids: Any, cvs: Any): Any =
      nearestCentroidsCompute(vec.asInstanceOf[ArrayData],
        cids.asInstanceOf[ArrayData], cvs.asInstanceOf[ArrayData], nprobe, roundTo)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (v, ci, cv) =>
        s"graft.plans.NativeExpressions.nearestCentroidsCompute($v, $ci, $cv, $nprobe, $roundTo)")
    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression, newThird: Expression): NearestCentroids =
      copy(first = newFirst, second = newSecond, third = newThird)
  }

  /** Levenshtein distance with a PER-ROW band threshold (r15, guide
    * §1.2 per-task work): delegates to Spark's own
    * `UTF8String.levenshteinDistance(other, threshold)` — the exact
    * banded implementation behind the built-in three-argument
    * `levenshtein()` — so the value semantics are identical to the
    * built-in by construction: the exact distance when it is ≤
    * threshold, -1 otherwise, in O(len·threshold) instead of O(len²).
    * The built-in only accepts a LITERAL threshold; near-dup
    * verification needs `threshold ~ (1-θ)·max(len_a, len_b)` per pair,
    * which is what this ternary form adds. */
  case class LevenshteinWithin(first: Expression, second: Expression,
      third: Expression)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
    override def dataType: DataType =
      org.apache.spark.sql.types.IntegerType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any, b: Any, t: Any): Any =
      a.asInstanceOf[UTF8String].levenshteinDistance(
        b.asInstanceOf[UTF8String], t.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b, t) =>
        s"$a.levenshteinDistance($b, $t)")
    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression,
        newThird: Expression): LevenshteinWithin =
      copy(first = newFirst, second = newSecond, third = newThird)
  }

  // Column wrappers
  def char_fold(c: Column, mult: Long, mod: Long): Column =
    ColumnBridge.column(CharFoldHash(ColumnBridge.expression(c), mult, mod))
  def dot_product(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def minhash_signature(hashes: Column, k: Int, mod: Long): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(hashes), k, mod))
  def shingle_hashes(text: Column, n: Int, mult: Long, mod: Long): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(text), n, mult, mod))
  def word_shingles(text: Column, n: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(text), n))
  def simhash_32(hashes: Column): Column =
    ColumnBridge.column(SimHash32(ColumnBridge.expression(hashes)))
  def hyperplane_bucket(vec: Column, nPlanes: Int): Column =
    ColumnBridge.column(HyperplaneBucket(ColumnBridge.expression(vec), nPlanes))
  def window_funnel_level(sortedEncoded: Column, nSteps: Int, window: Long): Column =
    ColumnBridge.column(WindowFunnelLevel(
      ColumnBridge.expression(sortedEncoded), nSteps, window))
  def sequence_count(sortedEncoded: Column, nSteps: Int): Column =
    ColumnBridge.column(SequenceCountAgg(
      ColumnBridge.expression(sortedEncoded), nSteps))
  def sequence_match_pattern(sortedEncoded: Column, nSteps: Int,
      gaps: Seq[Long]): Column =
    ColumnBridge.column(SequenceMatchPattern(
      ColumnBridge.expression(sortedEncoded), nSteps, gaps))
  def script_counts(text: Column, flatRanges: Seq[Int]): Column =
    ColumnBridge.column(ScriptCounts(ColumnBridge.expression(text), flatRanges))
  def stopword_counts(toks: Column, wordLists: Seq[Seq[String]]): Column =
    ColumnBridge.column(StopwordCounts(ColumnBridge.expression(toks), wordLists))
  def nearest_centroids(vec: Column, cids: Column, cvs: Column,
      nprobe: Int, roundTo: Int): Column =
    ColumnBridge.column(NearestCentroids(ColumnBridge.expression(vec),
      ColumnBridge.expression(cids), ColumnBridge.expression(cvs), nprobe, roundTo))
  def nearest_centroids_bc(vec: Column,
      codebook: org.apache.spark.broadcast.Broadcast[Codebook],
      nprobe: Int, roundTo: Int): Column =
    ColumnBridge.column(NearestCentroidsBC(
      ColumnBridge.expression(vec), codebook, nprobe, roundTo))
  def hash_buckets(toks: Column, buckets: Long, mult: Long, mod: Long): Column =
    ColumnBridge.column(HashBuckets(ColumnBridge.expression(toks),
      buckets, mult, mod))
  def bucket_gather_sum(bs: Column, w: Column): Column =
    ColumnBridge.column(BucketGatherSum(
      ColumnBridge.expression(bs), ColumnBridge.expression(w)))
  def levenshtein_within(a: Column, b: Column, threshold: Column): Column =
    ColumnBridge.column(LevenshteinWithin(ColumnBridge.expression(a),
      ColumnBridge.expression(b), ColumnBridge.expression(threshold)))
  def hnsw_assign_bc(vec: Column,
      graph: org.apache.spark.broadcast.Broadcast[HnswGraph],
      nprobe: Int, roundTo: Int): Column =
    ColumnBridge.column(HnswAssignBC(
      ColumnBridge.expression(vec), graph, nprobe, roundTo))
  def lang_argmax_bc(bs: Column,
      models: org.apache.spark.broadcast.Broadcast[LinearModels],
      roundTo: Int): Column =
    ColumnBridge.column(LangArgmaxBC(
      ColumnBridge.expression(bs), models, roundTo))
  def bpe_encode_bc(toks: Column,
      model: org.apache.spark.broadcast.Broadcast[BpeModel]): Column =
    ColumnBridge.column(BpeEncodeBC(ColumnBridge.expression(toks), model))
  def bpe_encode_ids_bc(toks: Column,
      model: org.apache.spark.broadcast.Broadcast[BpeModel]): Column =
    ColumnBridge.column(BpeEncodeIdsBC(ColumnBridge.expression(toks), model))
  def int8_quant(vec: Column): Column =
    ColumnBridge.column(Int8Quant(ColumnBridge.expression(vec)))
  def gopher_dup_coverage(text: Column): Column =
    ColumnBridge.column(GopherDupCoverage(ColumnBridge.expression(text)))
  def gopher_repetition(text: Column): Column =
    ColumnBridge.column(GopherRepetition(ColumnBridge.expression(text)))

  /** First interval of a lo-ascending-sorted array<struct<lo, hi, ...>>
    * containing `point` (null if none). Early exit on lo > point — the
    * array is sorted, so no later interval can match. */
  def rangeFirstCompute(arr: ArrayData, point: Any,
      ord: Ordering[Any], boundType: DataType, nFields: Int): Any = {
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, nFields)
      val lo = row.get(0, boundType)
      if (lo != null && ord.gt(lo, point)) return null
      if (lo != null && ord.lteq(lo, point)) {
        val hi = row.get(1, boundType)
        if (hi != null && ord.gteq(hi, point)) return row
      }
      i += 1
    }
    null
  }

  /** RANGE_HASHED dictionary probe ([[graft.sources.Dictionaries]]): the
    * interval array rides a scalar subquery, where Spark forbids
    * higher-order-function lambdas — and a native scan is the faster
    * shape anyway (one early-exit loop inside whole-stage codegen, no
    * per-element interpreted lambda). Struct field order contract:
    * field 0 = lo, field 1 = hi, both the point's type (checked). */
  case class RangeFirst(left: Expression, right: Expression)
      extends BinaryExpression {
    private lazy val elemType =
      left.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    override def dataType: DataType = elemType
    override def nullable: Boolean = true
    override def nullIntolerant: Boolean = true
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
      left.dataType match {
        case org.apache.spark.sql.types.ArrayType(
            s: org.apache.spark.sql.types.StructType, _) if s.size >= 2 =>
          if (s(0).dataType == right.dataType && s(1).dataType == right.dataType)
            TypeCheckSuccess
          else TypeCheckFailure(
            s"range bounds ${s(0).dataType}/${s(1).dataType} must match " +
              s"point type ${right.dataType}")
        case other => TypeCheckFailure(
          s"range_first needs array<struct<lo, hi, ...>>, got $other")
      }
    }
    private lazy val ordering: Ordering[Any] =
      org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(right.dataType)
    override protected def nullSafeEval(a: Any, p: Any): Any =
      rangeFirstCompute(a.asInstanceOf[ArrayData], p, ordering,
        right.dataType, elemType.size)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ordRef = ctx.addReferenceObj("ord", ordering,
        "scala.math.Ordering")
      val btRef = ctx.addReferenceObj("bt", right.dataType,
        "org.apache.spark.sql.types.DataType")
      val nf = elemType.size
      nullSafeCodeGen(ctx, ev, (a, p) =>
        s"""
           |Object r = graft.plans.NativeExpressions.rangeFirstCompute(
           |  $a, (Object) $p, $ordRef, $btRef, $nf);
           |if (r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} =
           |  (org.apache.spark.sql.catalyst.InternalRow) r; }
         """.stripMargin)
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): RangeFirst =
      copy(left = newLeft, right = newRight)
  }

  def range_first(arr: Column, point: Column): Column =
    ColumnBridge.column(RangeFirst(
      ColumnBridge.expression(arr), ColumnBridge.expression(point)))

  // ---- geo: geohash + point-in-polygon ----

  /** Standard geohash base32 alphabet (public algorithm: interleaved
    * lon/lat interval bisection, 5 bits per character). */
  private val GeohashAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  def geohashEncodeCompute(lon: Double, lat: Double, precision: Int): UTF8String = {
    val p = math.max(1, math.min(12, precision))
    val sb = new java.lang.StringBuilder(p)
    var latLo = -90.0; var latHi = 90.0
    var lonLo = -180.0; var lonHi = 180.0
    var isLon = true; var bits = 0; var ch = 0
    while (sb.length < p) {
      if (isLon) {
        val mid = (lonLo + lonHi) / 2
        if (lon >= mid) { ch = (ch << 1) | 1; lonLo = mid }
        else { ch = ch << 1; lonHi = mid }
      } else {
        val mid = (latLo + latHi) / 2
        if (lat >= mid) { ch = (ch << 1) | 1; latLo = mid }
        else { ch = ch << 1; latHi = mid }
      }
      isLon = !isLon; bits += 1
      if (bits == 5) { sb.append(GeohashAlphabet.charAt(ch)); bits = 0; ch = 0 }
    }
    UTF8String.fromString(sb.toString)
  }

  /** Decode to the cell-center (lon, lat) tuple — CH geohashDecode. */
  def geohashDecodeCompute(h: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    var latLo = -90.0; var latHi = 90.0
    var lonLo = -180.0; var lonHi = 180.0
    var isLon = true
    val s = h.toString.toLowerCase(java.util.Locale.ROOT)
    var i = 0
    while (i < s.length) {
      val idx = GeohashAlphabet.indexOf(s.charAt(i))
      if (idx < 0) throw new IllegalArgumentException(
        s"geohashDecode: invalid character '${s.charAt(i)}'")
      var b = 4
      while (b >= 0) {
        val bit = (idx >> b) & 1
        if (isLon) {
          val mid = (lonLo + lonHi) / 2
          if (bit == 1) lonLo = mid else lonHi = mid
        } else {
          val mid = (latLo + latHi) / 2
          if (bit == 1) latLo = mid else latHi = mid
        }
        isLon = !isLon; b -= 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any]((lonLo + lonHi) / 2, (latLo + latHi) / 2))
  }

  /** Ray-casting point-in-polygon over parallel vertex arrays — the
    * even-odd rule, one tight loop per row. */
  def pointInPolygonCompute(x: Double, y: Double,
      xs: ArrayData, ys: ArrayData): Boolean = {
    val n = xs.numElements()
    var inside = false
    var i = 0; var j = n - 1
    while (i < n) {
      val xi = xs.getDouble(i); val yi = ys.getDouble(i)
      val xj = xs.getDouble(j); val yj = ys.getDouble(j)
      if (((yi > y) != (yj > y)) &&
          (x < (xj - xi) * (y - yi) / (yj - yi) + xi)) inside = !inside
      j = i; i += 1
    }
    inside
  }

  case class GeohashEncode(left: Expression, right: Expression, precision: Int)
      extends BinaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.StringType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any, b: Any): Any =
      geohashEncodeCompute(a.asInstanceOf[Double], b.asInstanceOf[Double],
        precision)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.plans.NativeExpressions.geohashEncodeCompute($a, $b, $precision)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): GeohashEncode =
      copy(left = newLeft, right = newRight)
  }

  case class GeohashDecode(child: Expression) extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("col1", DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("col2", DoubleType, nullable = false)))
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      geohashDecodeCompute(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.geohashDecodeCompute($c)")
    override protected def withNewChildInternal(newChild: Expression): GeohashDecode =
      copy(child = newChild)
  }

  case class PointInPolygon(first: Expression, second: Expression,
      third: Expression, fourth: Expression)
      extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.BooleanType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
      pointInPolygonCompute(a.asInstanceOf[Double], b.asInstanceOf[Double],
        c.asInstanceOf[ArrayData], d.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b, c, d) =>
        s"graft.plans.NativeExpressions.pointInPolygonCompute($a, $b, $c, $d)")
    override protected def withNewChildrenInternal(f: Expression, s: Expression,
        t: Expression, q: Expression): PointInPolygon =
      copy(first = f, second = s, third = t, fourth = q)
  }

  /** Jump consistent hash (Lamping–Veach, public algorithm) — the
    * shard-assignment function: maps a 64-bit key onto [0, buckets) with
    * minimal reshuffling when buckets grows. */
  def jumpHashCompute(key: Long, buckets: Int): Long = {
    var k = key
    var b = -1L
    var j = 0L
    while (j < buckets) {
      b = j
      k = k * 2862933555777941757L + 1
      j = ((b + 1) * (2147483648.0 / (((k >>> 33) + 1).toDouble))).toLong
    }
    b
  }

  case class JumpHash(child: Expression, buckets: Int) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      jumpHashCompute(input.asInstanceOf[Long], buckets)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.jumpHashCompute($c, $buckets)")
    override protected def withNewChildInternal(newChild: Expression): JumpHash =
      copy(child = newChild)
  }

  /** CH `defaultValueOfArgumentType(x)`: the column type's default value
    * (0, '', false, epoch) — the out-of-range filler `neighbor()` uses.
    * CH columns are non-Nullable by default, and Spark marks nearly every
    * scanned column nullable regardless of contents, so the non-Nullable
    * CH default is the faithful mapping (a CH Nullable column would give
    * NULL instead — that is the one divergence, and it is the rare case).
    * RuntimeReplaceable so the child's RESOLVED type picks the literal
    * after analysis; the optimizer folds it away. */
  case class DefaultValueOf(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable
      with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
    override lazy val replacement: Expression =
      org.apache.spark.sql.catalyst.expressions.Literal.default(child.dataType)
    override protected def withNewChildInternal(newChild: Expression): DefaultValueOf =
      copy(child = newChild)
  }

  def default_value_of(c: Column): Column =
    ColumnBridge.column(DefaultValueOf(ColumnBridge.expression(c)))

  def jump_hash(key: Column, buckets: Int): Column =
    ColumnBridge.column(JumpHash(ColumnBridge.expression(key), buckets))

  // ---- Product quantization (PQ / IVF-PQ fine quantizer) ----

  /** Residual vs an assigned coarse centroid: `vec − centroid(cell)`,
    * element-wise, with the centroid looked up by cell id in the
    * broadcast [[Codebook]]. This is the vector the RESIDUAL IVFADC
    * tier (Jégou et al. 2011, the faiss `IVFPQ` default) hands to the
    * fine quantizer — residuals concentrate around the origin, so the
    * same PQ budget spends its centroids on a much tighter
    * distribution than the raw-vector encode. ROW-LOCAL: one O(d)
    * subtraction per row, zero joins/shuffles. */
  def residualCompute(vec: ArrayData, cell: Long, cb: Codebook): ArrayData = {
    val cv = cb.byId(cell)
    val n = vec.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = vec.getDouble(i) - cv(i); i += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** [[residualCompute]] as a codegen'd expression over a broadcast
    * codebook (the [[NearestCentroidsBC]] transport: ships once per
    * executor, never per task). */
  case class ResidualBC(left: Expression, right: Expression,
      codebook: org.apache.spark.broadcast.Broadcast[Codebook])
      extends BinaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
      DoubleType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(vec: Any, cell: Any): Any =
      residualCompute(vec.asInstanceOf[ArrayData],
        cell.asInstanceOf[Long], codebook.value)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bcRef = ctx.addReferenceObj("ivfCodebook", codebook,
        classOf[org.apache.spark.broadcast.Broadcast[Codebook]].getName)
      defineCodeGen(ctx, ev, (v, c) =>
        s"graft.plans.NativeExpressions.residualCompute(" +
          s"$v, $c, (graft.plans.Codebook) $bcRef.value())")
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): ResidualBC =
      copy(left = newLeft, right = newRight)
  }

  def residual_bc(vec: Column, cell: Column,
      codebook: org.apache.spark.broadcast.Broadcast[Codebook]): Column =
    ColumnBridge.column(ResidualBC(ColumnBridge.expression(vec),
      ColumnBridge.expression(cell), codebook))

  /** PQ encode: for each of the `cb.m` subspaces, the index (0-based,
    * codebook order) of the sub-centroid minimizing squared L2 distance to
    * the vector's slice; ties keep the LOWEST index (strict `<`), and the
    * per-slice distance is a sequential ascending-dimension fold so any
    * SQL engine can replay the exact doubles. ROW-LOCAL: the whole corpus
    * compresses to m small ints per row in one codegen'd scan — zero
    * joins, zero shuffles (the faiss PQ encode shape). */
  def pqEncodeCompute(vec: ArrayData, cb: PqCodebooks): ArrayData = {
    val codes = new Array[Int](cb.m)
    var j = 0
    while (j < cb.m) {
      val base = j * cb.dsub
      val cs = cb.cents(j)
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < cs.length) {
        val cv = cs(c)
        var dsum = 0.0
        var t = 0
        while (t < cb.dsub) {
          val diff = vec.getDouble(base + t) - cv(t)
          dsum += diff * diff
          t += 1
        }
        if (dsum < bestD) { bestD = dsum; best = c }
        c += 1
      }
      codes(j) = best
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(codes)
  }

  /** ADC lookup table for one query vector: flat array of m·C squared L2
    * distances, entry j·C + c = dist(query slice j, centroid c of
    * subspace j). Computed ONCE per query (O(C·d)); scoring a corpus row
    * then costs m array reads ([[pqAdcByQueryCompute]]) instead of d flops —
    * the asymmetric-distance-computation trade that makes PQ scans
    * memory-bound rather than flop-bound at scale. */
  def pqLutCompute(vec: ArrayData, cb: PqCodebooks): ArrayData = {
    val c0 = cb.cents(0).length
    val out = new Array[Double](cb.m * c0)
    var j = 0
    while (j < cb.m) {
      val base = j * cb.dsub
      val cs = cb.cents(j)
      var c = 0
      while (c < cs.length) {
        val cv = cs(c)
        var dsum = 0.0
        var t = 0
        while (t < cb.dsub) {
          val diff = vec.getDouble(base + t) - cv(t)
          dsum += diff * diff
          t += 1
        }
        out(j * c0 + c) = dsum
        c += 1
      }
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** PQ encode with a broadcast codebook (same transport rationale as
    * [[NearestCentroidsBC]]: the codebook ships once per executor, never
    * per-plan/per-task). */
  case class PqEncodeBC(child: Expression,
      codebooks: org.apache.spark.broadcast.Broadcast[PqCodebooks])
      extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      pqEncodeCompute(input.asInstanceOf[ArrayData], codebooks.value)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bcRef = ctx.addReferenceObj("pqCodebooks", codebooks,
        classOf[org.apache.spark.broadcast.Broadcast[PqCodebooks]].getName)
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.pqEncodeCompute(" +
          s"$c, (graft.plans.PqCodebooks) $bcRef.value())")
    }
    override protected def withNewChildInternal(newChild: Expression): PqEncodeBC =
      copy(child = newChild)
  }

  /** ADC score via the broadcast key→LUT map: Σ_j lut[j·C + code_j]
    * (ascending j — same grouping as a per-subspace left-assoc sum, so a
    * SQL twin summing per-subspace reconstruction distances in order
    * reproduces the exact double), rounded to `roundTo`. The LUT is
    * probed from the broadcast by key instead of riding the join as an
    * 8 KB column copied into every candidate row. */
  def pqAdcByQueryCompute(qid: Long, codes: ArrayData, m: PqLutMap,
      roundTo: Int): Double = {
    val lut = m.luts.get(qid)
    require(lut != null, s"pq_adc_by_query: no LUT for query id $qid")
    val mm = codes.numElements()
    var s = 0.0
    var j = 0
    while (j < mm) {
      s += lut(j * m.c + codes.getInt(j))
      j += 1
    }
    roundHalfUp(s, roundTo)
  }

  case class PqAdcByQuery(left: Expression, right: Expression,
      luts: org.apache.spark.broadcast.Broadcast[PqLutMap], roundTo: Int)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(qid: Any, codes: Any): Any =
      pqAdcByQueryCompute(qid.asInstanceOf[Long],
        codes.asInstanceOf[ArrayData], luts.value, roundTo)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bcRef = ctx.addReferenceObj("pqLuts", luts,
        classOf[org.apache.spark.broadcast.Broadcast[PqLutMap]].getName)
      defineCodeGen(ctx, ev, (q, c) =>
        s"graft.plans.NativeExpressions.pqAdcByQueryCompute(" +
          s"$q, $c, (graft.plans.PqLutMap) $bcRef.value(), $roundTo)")
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): PqAdcByQuery =
      copy(left = newLeft, right = newRight)
  }

  def pq_adc_by_query(qid: Column, codes: Column,
      luts: org.apache.spark.broadcast.Broadcast[PqLutMap],
      roundTo: Int): Column =
    ColumnBridge.column(PqAdcByQuery(ColumnBridge.expression(qid),
      ColumnBridge.expression(codes), luts, roundTo))

  def pq_encode_bc(vec: Column,
      codebooks: org.apache.spark.broadcast.Broadcast[PqCodebooks]): Column =
    ColumnBridge.column(PqEncodeBC(ColumnBridge.expression(vec), codebooks))

  // ---- Bigram language model (CCNet-style perplexity quality signal) ----

  /** Map each token to itself if in-vocabulary, else the UNK sentinel —
    * single hash probe per token against the BROADCAST vocabulary (the
    * literal `isin` form would inline the whole vocab into every plan). */
  def vocabMapCompute(toks: ArrayData, m: BigramModel): ArrayData = {
    val n = toks.numElements()
    val out = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      out(i) = if (m.vocab.containsKey(t)) t else BigramModel.Unk
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** Sequential fold of add-k-smoothed bigram log-probabilities over a
    * token array (BOS-conditioned first token):
    * Σ_i ln((C(prev,cur) + k) / (C(prev) + k·V)), prev/cur UNK-mapped,
    * C(BOS) = nDocs. ROW-LOCAL: the trained model (two bounded count
    * maps) rides as a broadcast; scoring is one codegen'd pass per doc —
    * the CCNet shape (train once, ship the model, score at scan speed). */
  def bigramLogProbCompute(toks: ArrayData, m: BigramModel): Double = {
    val n = toks.numElements()
    var prev: UTF8String = null // null = BOS
    var logp = 0.0
    var i = 0
    while (i < n) {
      val raw = toks.getUTF8String(i)
      val cur = if (m.vocab.containsKey(raw)) raw else BigramModel.Unk
      val cb = {
        val v = m.bigrams.get(BigramModel.pairKey(prev, cur))
        if (v == null) 0L else v.longValue()
      }
      val cu =
        if (prev == null) m.nDocs
        else m.vocab.get(prev).longValue()
      logp += math.log((cb + m.k) / (cu + m.k * m.vSize))
      prev = cur
      i += 1
    }
    logp
  }

  case class VocabMap(child: Expression,
      model: org.apache.spark.broadcast.Broadcast[BigramModel])
      extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      vocabMapCompute(input.asInstanceOf[ArrayData], model.value)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bcRef = ctx.addReferenceObj("bigramModel", model,
        classOf[org.apache.spark.broadcast.Broadcast[BigramModel]].getName)
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.vocabMapCompute(" +
          s"$c, (graft.plans.BigramModel) $bcRef.value())")
    }
    override protected def withNewChildInternal(newChild: Expression): VocabMap =
      copy(child = newChild)
  }

  case class BigramLogProb(child: Expression,
      model: org.apache.spark.broadcast.Broadcast[BigramModel])
      extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      bigramLogProbCompute(input.asInstanceOf[ArrayData], model.value)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bcRef = ctx.addReferenceObj("bigramModel", model,
        classOf[org.apache.spark.broadcast.Broadcast[BigramModel]].getName)
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.NativeExpressions.bigramLogProbCompute(" +
          s"$c, (graft.plans.BigramModel) $bcRef.value())")
    }
    override protected def withNewChildInternal(newChild: Expression): BigramLogProb =
      copy(child = newChild)
  }

  def vocab_map(toks: Column,
      model: org.apache.spark.broadcast.Broadcast[BigramModel]): Column =
    ColumnBridge.column(VocabMap(ColumnBridge.expression(toks), model))
  def bigram_log_prob(toks: Column,
      model: org.apache.spark.broadcast.Broadcast[BigramModel]): Column =
    ColumnBridge.column(BigramLogProb(ColumnBridge.expression(toks), model))

  def geohash_encode(lon: Column, lat: Column, precision: Int): Column =
    ColumnBridge.column(GeohashEncode(
      ColumnBridge.expression(lon), ColumnBridge.expression(lat), precision))
  def geohash_decode(h: Column): Column =
    ColumnBridge.column(GeohashDecode(ColumnBridge.expression(h)))
  def point_in_polygon(x: Column, y: Column, xs: Column, ys: Column): Column =
    ColumnBridge.column(PointInPolygon(
      ColumnBridge.expression(x), ColumnBridge.expression(y),
      ColumnBridge.expression(xs), ColumnBridge.expression(ys)))
}

/** IVF codebook as plain JVM arrays (top-level class so generated Java can
  * name it; parallel arrays avoid per-row ArrayData unwrapping). Centroid
  * norms are precomputed once here — recomputing them per scanned row
  * doubles the assignment flops for nothing (they are row-invariant). */
final class Codebook(val cids: Array[Long], val cvs: Array[Array[Double]])
  extends Serializable {
  val cnorms: Array[Double] = cvs.map { v =>
    var nsq = 0.0; var j = 0
    while (j < v.length) { nsq += v(j) * v(j); j += 1 }
    math.sqrt(nsq)
  }
  /** Centroid vector by cell ID (not position) — the residual tier's
    * lookup. Built lazily so the map is constructed once per executor
    * after broadcast, not serialized with it. */
  @transient private lazy val idIndex: java.util.HashMap[java.lang.Long, java.lang.Integer] = {
    val m = new java.util.HashMap[java.lang.Long, java.lang.Integer](cids.length * 2)
    var i = 0
    while (i < cids.length) { m.put(java.lang.Long.valueOf(cids(i)), i); i += 1 }
    m
  }
  def byId(cell: Long): Array[Double] = {
    val i = idIndex.get(java.lang.Long.valueOf(cell))
    require(i != null, s"Codebook: no centroid with id $cell")
    cvs(i.intValue)
  }
}

/** HNSW routing graph over a coarse codebook (r14, v22): node `pos`
  * carries cell id `cids(pos)`, vector `cvs(pos)`, level `levels(pos)`;
  * `adj(layer)(pos)` lists neighbor POSITIONS ranked by (rounded cosine
  * desc, cid asc), empty above the node's level. `entry` = the max-level
  * node (tie to the smallest cid). Plain JVM arrays, top-level class —
  * the [[Codebook]] transport/codegen rationale. Norms precomputed. */
final class HnswGraph(
    val cids: Array[Long], val cvs: Array[Array[Double]],
    val levels: Array[Int], val adj: Array[Array[Array[Int]]],
    val entry: Int, val maxLevel: Int) extends Serializable {
  val cnorms: Array[Double] = cvs.map { v =>
    var nsq = 0.0; var j = 0
    while (j < v.length) { nsq += v(j) * v(j); j += 1 }
    math.sqrt(nsq)
  }
}

/** One-vs-rest linear-model weight matrix at SERVING shape (r15, t34):
  * lang-SORTED rows over one shared B-bucket hashed-token space,
  * broadcast once and referenced from the codegen'd
  * [[NativeExpressions.LangArgmaxBC]] — the [[BpeModel]]/[[Codebook]]
  * transport convention (plan literals re-serialize K·B doubles into
  * every task; at fastText-lid scale, K=176, that is ~11k literals).
  * The sort is a constructor CONTRACT because the argmax tie-break
  * ("alphabetically smallest language wins") is positional. */
final class LinearModels(val langs: Array[String],
    val w: Array[Array[Double]]) extends Serializable {
  require(langs.nonEmpty && langs.length == w.length,
    s"LinearModels: ${langs.length} langs vs ${w.length} weight rows")
  require(langs.sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
    "LinearModels: langs must be strictly ascending")
  require(w.forall(_.length == w(0).length),
    "LinearModels: all models must share one bucket space")
  @transient lazy val langsUtf8: Array[UTF8String] =
    langs.map(UTF8String.fromString)
}

/** Product-quantization codebooks: `m` subspaces of `dsub` dims each;
  * `cents(j)(c)` is centroid `c` of subspace `j` (all subspaces hold the
  * same centroid COUNT; codebook order is the encode/ADC index space).
  * Plain JVM arrays, top-level class — same transport/codegen rationale
  * as [[Codebook]]. */
/** Trained add-k bigram LM: bounded count maps (vocabulary user-capped at
  * training time, UNK included as a real vocab entry) broadcast to
  * executors. Keys are UTF8String so codegen'd lookups never re-decode.
  * `vSize` = |vocab incl. UNK| (the predicted-token space); BOS is a
  * context only, with C(BOS) = nDocs. */
final class BigramModel(
    val vocab: java.util.HashMap[UTF8String, java.lang.Long],
    val bigrams: java.util.HashMap[UTF8String, java.lang.Long],
    val nDocs: Long, val vSize: Long, val k: Double) extends Serializable

object BigramModel {
  /** Sentinels are C0 control chars (u0001/u0002/u0003) — they cannot
    * appear in whitespace-split tokens; the DuckDB oracle spells the same
    * bytes as chr(1)/chr(2)/chr(3). */
  val UnkStr = "\u0001"
  val BosStr = "\u0002"
  val SepStr = "\u0003"
  val Unk: UTF8String = UTF8String.fromString(UnkStr)
  private val Bos: UTF8String = UTF8String.fromString(BosStr)
  private val Sep: UTF8String = UTF8String.fromString(SepStr)
  /** Bigram map key: prev⊕SEP⊕cur (BOS sentinel for null prev). */
  def pairKey(prev: UTF8String, cur: UTF8String): UTF8String =
    UTF8String.concat(if (prev == null) Bos else prev, Sep, cur)
  def pairKeyStr(prev: String, cur: String): String =
    (if (prev == null) BosStr else prev) + SepStr + cur
}

/** Trained BPE merge table at SERVING shape (plain JVM class, broadcast
  * once like [[Codebook]]): pair→rank map over the merges in training
  * order. Encoding a word is the standard lowest-rank-first loop —
  * repeatedly find the adjacent symbol pair with the smallest rank and
  * merge all its left-to-right non-overlapping occurrences — which is
  * O(word_len · merges_APPLIED) per word, independent of the table
  * size, where the replace-chain encoder
  * ([[graft.operators.TextAnalysis.bpeEncode]]) pays O(total_merges)
  * string passes per token and folds the whole table into plan
  * literals. Equivalence contract: for a table produced by BPE
  * TRAINING (each merge's parts are symbols formed by earlier merges —
  * trainBpe guarantees this), lowest-rank-first produces exactly the
  * training-order chain's output; pinned against bpeEncode in
  * TrainingOpsSpec and cross-engine by the t28b oracle, whose DuckDB
  * twin replays the full training-order chain.
  *
  * A bounded word→pieces memo exploits the Zipf shape of natural text
  * (most token occurrences are repeats of few distinct words); both the
  * rank map and the memo are rebuilt lazily per executor after
  * broadcast deserialization. */
final class BpeModel(val merges: Seq[(String, String)], val eow: String,
    val byteLevel: Boolean = false)
    extends Serializable {
  @transient private lazy val mergeArr: Array[(String, String)] =
    merges.toArray
  @transient private lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    var i = 0
    merges.foreach { p => m.put(p._1 + "\u0000" + p._2, i); i += 1 }
    m
  }
  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()
  private val MemoCap = 1 << 16

  def size: Int = merges.size

  /** Closed token-id vocabulary (byte-level models only): ids 0-255 are
    * the byte hex pairs, 256 the EOW marker, 257+r merge r's output —
    * the standard BPE vocab construction. Every piece the encoder can
    * emit is present (the byte-level no-UNK property); if two merges
    * produce the same string the FIRST id wins (deterministic, and the
    * SQL oracle renders the same first-wins table). */
  @transient private lazy val vocab: java.util.HashMap[String, Integer] = {
    require(byteLevel,
      "pieceId: the closed vocabulary needs the byte-level base alphabet")
    val m = new java.util.HashMap[String, Integer](merges.size * 2 + 514)
    var i = 0
    while (i < 256) { m.put(BpeModel.HexPair(i), Integer.valueOf(i)); i += 1 }
    m.put(eow, Integer.valueOf(256))
    var r = 0
    merges.foreach { p =>
      m.putIfAbsent(p._1 + p._2, Integer.valueOf(257 + r)); r += 1
    }
    m
  }
  def vocabSize: Int = vocab.size
  def pieceId(piece: String): Int = {
    val v = vocab.get(piece)
    require(v != null, s"pieceId: '$piece' not in the closed vocabulary")
    v.intValue
  }

  def encodeWord(w: String): Array[String] = {
    val hit = memo.get(w)
    if (hit != null) return hit
    var syms = new java.util.ArrayList[String](w.length + 1)
    if (byteLevel) {
      // byte-level (GPT-2 style) base alphabet: each UTF-8 byte becomes
      // one lowercase hex-pair symbol ("é" -> "c3","a9") — 256 base
      // units cover ANY text, the property a code-point alphabet lacks
      // (an unseen character would be an unmergeable singleton; an
      // unseen BYTE cannot exist). Hex pairs (vs raw byte chars) keep
      // every symbol printable and SQL-replayable cross-engine.
      val bs = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < bs.length) {
        syms.add(BpeModel.HexPair(bs(i) & 0xff)); i += 1
      }
    } else {
      var i = 0
      // filter guarantees [a-z]+ words in the serving path, but stay
      // correct on arbitrary input: split by code point, not char
      while (i < w.length) {
        val cp = w.codePointAt(i)
        syms.add(w.substring(i, i + Character.charCount(cp)))
        i += Character.charCount(cp)
      }
    }
    syms.add(eow)
    var done = syms.size < 2
    while (!done) {
      var bestRank = Integer.MAX_VALUE
      var k = 0
      while (k < syms.size - 1) {
        val r = rank.get(syms.get(k) + "\u0000" + syms.get(k + 1))
        if (r != null && r.intValue < bestRank) bestRank = r.intValue
        k += 1
      }
      if (bestRank == Integer.MAX_VALUE) done = true
      else {
        val (a, b) = mergeArr(bestRank)
        val next = new java.util.ArrayList[String](syms.size)
        var j = 0
        while (j < syms.size) {
          if (j < syms.size - 1 && syms.get(j) == a && syms.get(j + 1) == b) {
            next.add(a + b); j += 2
          } else { next.add(syms.get(j)); j += 1 }
        }
        syms = next
        done = syms.size < 2
      }
    }
    val res = new Array[String](syms.size)
    var t = 0
    while (t < res.length) { res(t) = syms.get(t); t += 1 }
    if (memo.size < MemoCap) memo.put(w, res)
    res
  }
}

object BpeModel {
  /** All 256 lowercase hex-pair byte symbols, precomputed once per JVM
    * (the byte-level encoder's base alphabet). */
  private[plans] val HexPair: Array[String] =
    Array.tabulate(256)(b => f"$b%02x")
}

final class PqCodebooks(val m: Int, val dsub: Int,
    val cents: Array[Array[Array[Double]]]) extends Serializable {
  require(m > 0 && dsub > 0 && cents.length == m,
    s"PqCodebooks: need cents for all $m subspaces")
  require(cents.forall(_.length == cents(0).length),
    "PqCodebooks: all subspaces must hold the same centroid count")
  def nCentroids: Int = cents(0).length
}

/** ADC lookup tables keyed by (query, probed cell) probe key, shipped
  * ONCE as a broadcast. The previous shape carried each query's full LUT (m·C
  * doubles — 8 KB at C=256) as a COLUMN through the candidate join, so
  * every join OUTPUT row copied the whole table: at 1M candidate rows
  * that is ~8 GB of array copying and was measured at 26 s where the
  * ADC math itself costs under 1 s. Indexing the broadcast by key
  * makes the per-candidate cost O(m) + one hash probe, independent of
  * the codebook size. */
final class PqLutMap(val c: Int,
    val luts: java.util.HashMap[java.lang.Long, Array[Double]])
  extends Serializable
