package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpressionInfo, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * JVM kernels for the text-dedup hot path. The composed
 * `transform`/`aggregate`/`zip_with` formulations in [[Hashing]] are
 * CodegenFallback: every token/shingle/bit paid interpreted
 * expression-node dispatch, which dominated signature scans. Each
 * kernel is one tight JVM loop per row, invoked from generated code —
 * the custom-Expression rung of the preference order, applied where
 * profiling showed the interpreter was the bottleneck.
 *
 * Bit-parity contract (enforced by HashingSpec): every kernel computes
 * EXACTLY the value of its [[Hashing]] twin — tokens are
 * `split(trim(lower(text)), "\\s+")` with Spark semantics (UTF8String
 * lower/space-only trim, Java regex split with limit -1), shingle sets
 * preserve first-occurrence order, MinHash members j are the uint32 at
 * hex chars [8j+1, 8j+8] of sha256(shingle), and SimHash bits follow
 * h60 = the first 15 hex chars of sha256(token).
 */
object TextKernels {

  val ShingleN = 3
  val NumHashes = 8

  private val Ws = java.util.regex.Pattern.compile("\\s+")

  def tokens(text: UTF8String): Array[String] =
    Ws.split(text.toLowerCase.trim.toString, -1)

  private def shingleStrings(text: UTF8String): Array[String] = {
    val t = tokens(text)
    if (t.length < ShingleN) return Array.empty
    val seen = new java.util.LinkedHashSet[String]
    var i = 0
    while (i <= t.length - ShingleN) {
      val sb = new java.lang.StringBuilder(t(i))
      var j = 1
      while (j < ShingleN) { sb.append(' ').append(t(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    seen.toArray(Array.empty[String])
  }

  /** uint32 carved from digest bytes [4j, 4j+3] — identical to
    * `conv(substr(hex, 8j+1, 8), 16, 10)`. */
  private def member(d: Array[Byte], j: Int): Long =
    ((d(4 * j) & 0xffL) << 24) | ((d(4 * j + 1) & 0xffL) << 16) |
      ((d(4 * j + 2) & 0xffL) << 8) | (d(4 * j + 3) & 0xffL)

  /** h60: first 15 hex chars of sha256 = big-endian uint64 of the
    * first 8 bytes, shifted right 4 (dropping the 16th hex char). */
  private def h60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  // -- kernel entry points (called from generated code) ---------------

  def shingleSet(text: UTF8String): ArrayData =
    new GenericArrayData(shingleStrings(text).map(UTF8String.fromString): Array[Any])

  /** h60 of each distinct shingle — set-compare math (Jaccard) on longs
    * instead of strings; same distinct set, engine-identical hashes. */
  def shingleHashes(text: UTF8String): ArrayData = {
    val sh = shingleStrings(text)
    val md = MessageDigest.getInstance("SHA-256")
    val out = new Array[Long](sh.length)
    var i = 0
    while (i < sh.length) {
      md.reset()
      out(i) = h60(md.digest(sh(i).getBytes("UTF-8")))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** h60 of EVERY shingle occurrence, position order, duplicates kept
    * — the term-frequency twin of [[shingleHashes]] for weighted
    * (multiset) similarity: tf grids groupBy-count these, where the
    * distinct-set kernel can only feed set math. */
  def shingleHashesAll(text: UTF8String): ArrayData = {
    val t = tokens(text)
    if (t.length < ShingleN)
      return new GenericArrayData(Array.empty[Long])
    val md = MessageDigest.getInstance("SHA-256")
    val out = new Array[Long](t.length - ShingleN + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < out.length) {
      sb.setLength(0)
      sb.append(t(i))
      var j = 1
      while (j < ShingleN) { sb.append(' ').append(t(i + j)); j += 1 }
      md.reset()
      out(i) = h60(md.digest(sb.toString.getBytes("UTF-8")))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Anchor length for exact substring dedup (tokens per sliding
    * window) — operators reference this constant so the kernel and the
    * oracle SQL can never drift. */
  val AnchorLen = 8

  /** h60 of EVERY length-[[AnchorLen]] sliding token window, in
    * position order with duplicates kept (the exact-substring-dedup
    * anchors). One pass: reused digest + builder, no per-window column
    * machinery or hex round-trip — the expression-tree formulation
    * (explode positions → slice → array_join → sha2 → conv) paid a
    * window-string allocation and a hex parse per token position. */
  def anchorHashes(text: UTF8String): ArrayData = {
    val t = tokens(text)
    if (t.length < AnchorLen) return new GenericArrayData(Array.empty[Long])
    val md = MessageDigest.getInstance("SHA-256")
    val out = new Array[Long](t.length - AnchorLen + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < out.length) {
      sb.setLength(0)
      var j = 0
      while (j < AnchorLen) {
        if (j > 0) sb.append(' ')
        sb.append(t(i + j))
        j += 1
      }
      md.reset()
      out(i) = h60(md.digest(sb.toString.getBytes("UTF-8")))
      i += 1
    }
    new GenericArrayData(out)
  }

  def minhashSig(text: UTF8String): ArrayData = {
    val sh = shingleStrings(text)
    val mins = Array.fill(NumHashes)(-1L)
    if (sh.nonEmpty) {
      java.util.Arrays.fill(mins, Long.MaxValue)
      val md = MessageDigest.getInstance("SHA-256")
      sh.foreach { s =>
        md.reset()
        val d = md.digest(s.getBytes("UTF-8"))
        var j = 0
        while (j < NumHashes) {
          val v = member(d, j)
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
    }
    new GenericArrayData(mins)
  }

  /** Perceptual hash of a decoded payload stream: 60 gradient bits over
    * a 61-bin code-point-bigram histogram — the histogram-feature
    * binarization shape of image perceptual hashing (Swain & Ballard,
    * IJCV 1991 color-histogram indexing; dHash's gradient-bit step)
    * applied to the stub decoder's code-point stream. The histogram is
    * ORDER-ROBUST (a rearranged payload keeps its local-bigram
    * multiset), which is the translation-robustness a real pHash gets
    * from downsampling, and everything is integer-only — counts and
    * one `>` per bit, no libm — so DuckDB replays it bit-for-bit. Bin
    * mixing uses primes (131, 61) over raw code points; a real image
    * deployment feeds pixel luminance bytes through the same bins. */
  def phash60(text: UTF8String): Long = {
    val s = text.toString
    val counts = new Array[Long](61)
    var prev = -1
    var idx = 0
    while (idx < s.length) {
      val cp = s.codePointAt(idx)
      if (prev >= 0) counts((prev * 131 + cp) % 61) += 1
      prev = cp
      idx += Character.charCount(cp)
    }
    var out = 0L
    var j = 0
    while (j < 60) {
      if (counts(j) > counts(j + 1)) out |= (1L << j)
      j += 1
    }
    out
  }

  /** Audio-modality fingerprint: 60-bit frame-windowed spectral-peak
    * SimHash. The decoded payload stream is cut into overlapping
    * windows ([[AudioWin]] chars at [[AudioHop]] hop — 50% overlap,
    * the standard audio-fingerprint framing); each window contributes
    * its PEAK spectral bin (argmax of the window's 61-bin bigram
    * histogram, smallest bin on ties — Shazam-style constellation
    * peak picking over the stub spectrum); the per-doc fingerprint is
    * the SimHash of the peak multiset (each peak's h60 votes ±1 per
    * bit — dense and order-robust, where a gradient binarization of
    * the sparse peak histogram collided everything short). Integer-
    * only, so DuckDB replays it bit-for-bit. STUB CONTRACT: a real
    * deployment feeds MFCC/chroma band energies through the same
    * windows, peak picking, and vote fold. */
  val AudioWin = 64
  val AudioHop = 32

  def aphash60(text: UTF8String): Long = {
    val s = text.toString
    // window boundaries by CODE POINT offset (not UTF-16 char index),
    // matching the oracle's substr/length code-point semantics — a
    // supplementary-plane character must not shift window edges
    val cps = s.codePoints.toArray
    val n = cps.length
    val votes = new Array[Long](60)
    val md = MessageDigest.getInstance("SHA-256")
    var start = 0
    var first = true
    while (first || start < n) {
      first = false
      val end = math.min(start + AudioWin, n)
      val counts = new Array[Long](61)
      var i = start
      var prev = -1
      while (i < end) {
        val cp = cps(i)
        if (prev >= 0) counts((prev * 131 + cp) % 61) += 1
        prev = cp
        i += 1
      }
      var best = 0
      var j = 1
      while (j < 61) {
        if (counts(j) > counts(best)) best = j
        j += 1
      }
      md.reset()
      val h = h60(md.digest(s"apk:$best".getBytes("UTF-8")))
      var b = 0
      while (b < 60) {
        votes(b) += (if (((h >>> b) & 1L) == 1L) 1L else -1L)
        b += 1
      }
      start += AudioHop
    }
    var out = 0L
    var b = 0
    while (b < 60) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def simhash60(text: UTF8String): Long = {
    val t = tokens(text)
    val counts = new Array[Int](60)
    val md = MessageDigest.getInstance("SHA-256")
    t.foreach { tok =>
      md.reset()
      val h = h60(md.digest(tok.getBytes("UTF-8")))
      var b = 0
      while (b < 60) {
        counts(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 60) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** `graft_shingle_set(text)`: distinct 3-word shingles. */
case class ShingleSetExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType)
  override def prettyName: String = "graft_shingle_set"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.shingleSet(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.shingleSet($c)")
  override protected def withNewChildInternal(newChild: Expression): ShingleSetExpr = copy(child = newChild)
}

/** `graft_shingle_hashes(text)`: h60 of each distinct shingle. */
case class ShingleHashesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType)
  override def prettyName: String = "graft_shingle_hashes"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.shingleHashes(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.shingleHashes($c)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr = copy(child = newChild)
}

/** `graft_shingle_hashes_all(text)`: h60 of every shingle occurrence,
  * duplicates kept (the tf-grid feeder). */
case class ShingleHashesAllExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType)
  override def prettyName: String = "graft_shingle_hashes_all"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.shingleHashesAll(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.shingleHashesAll($c)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashesAllExpr = copy(child = newChild)
}

/** `graft_minhash_sig(text)`: 8-member MinHash signature. */
case class MinHashSigExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType)
  override def prettyName: String = "graft_minhash_sig"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.minhashSig(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.minhashSig($c)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr = copy(child = newChild)
}

/** `graft_anchor_hashes(text)`: h60 of every sliding AnchorLen-token
  * window, ordered, duplicates kept. */
case class AnchorHashesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType)
  override def prettyName: String = "graft_anchor_hashes"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.anchorHashes(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.anchorHashes($c)")
  override protected def withNewChildInternal(newChild: Expression): AnchorHashesExpr = copy(child = newChild)
}

/** `graft_phash60(text)`: 60-bit perceptual histogram-gradient hash. */
case class PHash60Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_phash60"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.phash60(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.phash60($c)")
  override protected def withNewChildInternal(newChild: Expression): PHash60Expr = copy(child = newChild)
}

/** `graft_aphash60(text)`: 60-bit frame-windowed spectral-peak audio
  * fingerprint. */
case class APHash60Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_aphash60"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.aphash60(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.aphash60($c)")
  override protected def withNewChildInternal(newChild: Expression): APHash60Expr = copy(child = newChild)
}

/** `graft_simhash60(text)`: 60-bit SimHash. */
case class SimHash60Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash60"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.simhash60(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.simhash60($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash60Expr = copy(child = newChild)
}

/**
 * Set Jaccard |A∩B| / |A∪B| of two arrays taken as sets, the one
 * kernel behind every near-duplicate verify ([[Hashing.jaccard]]).
 * It computes exactly what `size(array_intersect) / size(array_union)`
 * did (duplicates collapse, a null element is one member, an empty
 * union is 0.0) without building either result array:
 *
 *  - `longs` copies both sides into reused `long[]` buffers, sorts
 *    them and counts |A|, |B| and |A∩B| over distinct values in one
 *    merge pass; the union is |A| + |B| − |A∩B|;
 *  - `strings` counts the same through two reused hash sets.
 *
 * Generated code holds one instance per task (mutable state), so the
 * per-pair path allocates nothing once the buffers fit; not thread-safe.
 */
final class JaccardBuffers {
  private var xs = new Array[Long](64)
  private var ys = new Array[Long](64)
  private val setA = new java.util.HashSet[UTF8String]
  private val setB = new java.util.HashSet[UTF8String]

  private def ratio(inter: Int, union: Int): Double =
    if (union == 0) 0.0 else inter.toDouble / union.toDouble

  /** Copies the non-null elements of `a` into `buf` (large enough) and
    * sorts them. Returns their count n, or −n − 1 if `a` holds a null. */
  private def sortNonNull(a: ArrayData, buf: Array[Long]): Int = {
    var n = 0
    var hasNull = false
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i)) hasNull = true
      else { buf(n) = a.getLong(i); n += 1 }
      i += 1
    }
    java.util.Arrays.sort(buf, 0, n)
    if (hasNull) -n - 1 else n
  }

  /** Index of the first element after the run of `v(i)`. */
  private def skipRun(v: Array[Long], i: Int, n: Int): Int = {
    val x = v(i)
    var k = i + 1
    while (k < n && v(k) == x) k += 1
    k
  }

  def longs(a: ArrayData, b: ArrayData): Double = {
    if (xs.length < a.numElements()) xs = new Array[Long](2 * a.numElements())
    if (ys.length < b.numElements()) ys = new Array[Long](2 * b.numElements())
    val x = xs
    val y = ys
    val ca = sortNonNull(a, x)
    val cb = sortNonNull(b, y)
    val n = if (ca < 0) -ca - 1 else ca
    val m = if (cb < 0) -cb - 1 else cb
    val nullA = if (ca < 0) 1 else 0
    val nullB = if (cb < 0) 1 else 0
    var da = nullA
    var db = nullB
    var inter = nullA & nullB
    var i = 0
    var j = 0
    while (i < n && j < m) {
      val u = x(i)
      val v = y(j)
      if (u < v) { da += 1; i = skipRun(x, i, n) }
      else if (u > v) { db += 1; j = skipRun(y, j, m) }
      else { da += 1; db += 1; inter += 1; i = skipRun(x, i, n); j = skipRun(y, j, m) }
    }
    while (i < n) { da += 1; i = skipRun(x, i, n) }
    while (j < m) { db += 1; j = skipRun(y, j, m) }
    ratio(inter, da + db - inter)
  }

  def strings(a: ArrayData, b: ArrayData): Double = {
    setA.clear()
    setB.clear()
    var nullA = 0
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i)) nullA = 1 else setA.add(a.getUTF8String(i))
      i += 1
    }
    var nullB = 0
    var inter = 0
    i = 0
    while (i < b.numElements()) {
      if (b.isNullAt(i)) nullB = 1
      else {
        val e = b.getUTF8String(i)
        if (setB.add(e) && setA.contains(e)) inter += 1
      }
      i += 1
    }
    inter += nullA & nullB
    ratio(inter, setA.size + nullA + setB.size + nullB - inter)
  }
}

/** `graft_jaccard(a, b)`: set Jaccard of two `array<bigint>` or two
  * `array<string>` columns; null when either array is null. */
case class JaccardExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard"

  private def overLongs: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    // `StringType` is the UTF8_BINARY collation: byte equality
    case (ArrayType(StringType, _), ArrayType(StringType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName takes two array<bigint> or two array<string>, got ${l.simpleString} and ${r.simpleString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val k = new JaccardBuffers
    if (overLongs) k.longs(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else k.strings(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[JaccardBuffers].getName
    val k = ctx.addMutableState(cls, "jaccardBuffers", v => s"$v = new $cls();")
    val method = if (overLongs) "longs" else "strings"
    defineCodeGen(ctx, ev, (a, b) => s"$k.$method($a, $b)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): JaccardExpr =
    copy(left = newLeft, right = newRight)
}

object TextKernelFunctions {

  def shingleSet(text: Column): Column = call_function("graft_shingle_set", text)
  def shingleHashes(text: Column): Column = call_function("graft_shingle_hashes", text)
  def shingleHashesAll(text: Column): Column = call_function("graft_shingle_hashes_all", text)
  def anchorHashes(text: Column): Column = call_function("graft_anchor_hashes", text)
  def minhashSig(text: Column): Column = call_function("graft_minhash_sig", text)
  def simhash60(text: Column): Column = call_function("graft_simhash60", text)
  def phash60(text: Column): Column = call_function("graft_phash60", text)
  def aphash60(text: Column): Column = call_function("graft_aphash60", text)
  def jaccard(a: Column, b: Column): Column = call_function("graft_jaccard", a, b)

  private def reg1(name: String, build: Expression => Expression) = (
    FunctionIdentifier(name),
    new ExpressionInfo(getClass.getName, name),
    (children: Seq[Expression]) => {
      require(children.size == 1, s"$name takes exactly 1 argument")
      build(children.head)
    })

  private def reg2(name: String, build: (Expression, Expression) => Expression) = (
    FunctionIdentifier(name),
    new ExpressionInfo(getClass.getName, name),
    (children: Seq[Expression]) => {
      require(children.size == 2, s"$name takes exactly 2 arguments")
      build(children(0), children(1))
    })

  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    reg1("graft_shingle_set", ShingleSetExpr),
    reg1("graft_shingle_hashes", ShingleHashesExpr),
    reg1("graft_shingle_hashes_all", ShingleHashesAllExpr),
    reg1("graft_anchor_hashes", AnchorHashesExpr),
    reg1("graft_minhash_sig", MinHashSigExpr),
    reg1("graft_simhash60", SimHash60Expr),
    reg1("graft_phash60", PHash60Expr),
    reg1("graft_aphash60", APHash60Expr),
    reg2("graft_jaccard", JaccardExpr))
}
