// Hosted under org.apache.spark.sql to access the private[sql] expression
// plumbing (AbstractDataType, ExpressionUtils) — the standard pattern for
// Catalyst extension libraries. Public face: graft.functions.VectorFunctions.
package org.apache.spark.sql.graftfn

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector hot paths (SURVEY §7.4 ladder:
  * compose built-ins → custom `Expression` → custom plan). The higher-order
  * function formulation (`aggregate(zip_with(...))`) is interpreted and
  * allocates per element; this single fused whole-stage-codegen loop is the
  * per-row kernel similarity search and embedding dedup sit on.
  *
  * Semantics: sequential left-to-right accumulation in double — bit-identical
  * to the HOF formulation and to DuckDB's list_cosine_similarity, so oracle
  * comparisons stay exact.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product sibling (hyperplane signatures). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Ordered-pair generator: from an array [a,b,c] emits rows (a,b), (a,c),
  * (b,c) — the in-bucket candidate-pair expansion of LSH dedup. As a
  * Generator it streams pairs lazily instead of materializing the n²
  * structs the `explode(flatten(transform(transform(...))))` formulation
  * allocates (those HOFs are also interpreted, not codegen'd).
  */
case class OrderedPairs(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  private lazy val elementType = child.dataType match {
    case ArrayType(et, _) => et
    case other =>
      throw new IllegalArgumentException(s"ordered_pairs needs an array, got $other")
  }

  override def elementSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id_a", elementType),
      org.apache.spark.sql.types.StructField("id_b", elementType)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input)
    if (arr == null) Iterator.empty
    else {
      val data = arr.asInstanceOf[ArrayData]
      val n = data.numElements()
      for {
        i <- Iterator.range(0, n)
        j <- Iterator.range(i + 1, n)
      } yield InternalRow(data.get(i, elementType), data.get(j, elementType))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Word k-shingles in one pass: split on spaces, join each k-window with a
  * space, dedupe preserving first occurrence. Same output as the
  * `array_distinct(transform(sequence, slice+concat_ws))` HOF chain but in
  * a single tight loop per row — the HOF chain walks an interpreted
  * expression tree per element and dominates dedup signature cost.
  * Codegen emits a direct static call into [[Kernels]] (no interpreted
  * eval dispatch, no row boxing — the CodegenFallback cost this replaced).
  */
case class WordShingles(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any =
    Kernels.wordShingles(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels.wordShingles($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Engine-portable 60-bit hash: the top 15 hex digits of md5, i.e.
  * big-endian(first 8 md5 bytes) >>> 4. DuckDB computes the identical value
  * as `CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)`, which is what makes
  * simhash signatures and winnowing fingerprints oracle-checkable across
  * engines (xxhash64 is Spark-only). Always non-negative (60 < 63 bits).
  */
private[graftfn] object PortableHash {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def h60(bytes: Array[Byte], offset: Int, len: Int): Long = {
    val d = md.get()
    d.reset()
    d.update(bytes, offset, len)
    val dig = d.digest()
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    v >>> 4
  }

  def h60(s: UTF8String): Long = {
    val b = s.getBytes
    h60(b, 0, b.length)
  }

  /** UTF-8 byte length of the character starting at a lead byte. */
  def charLen(lead: Byte): Int = {
    val b = lead & 0xff
    if (b < 0x80) 1 else if (b < 0xe0) 2 else if (b < 0xf0) 3 else 4
  }
}

/** Static per-row kernels shared by the interpreted (`nullSafeEval`) and
  * generated (`doGenCode`) paths of the string/signature expressions. The
  * generated code calls these directly — `Kernels.simhash60(value)` — so
  * the expressions participate in whole-stage codegen: the child value
  * arrives as a raw `UTF8String`/`ArrayData` from the UnsafeRow with
  * inline null checks, instead of CodegenFallback's per-row interpreted
  * `eval()` dispatch. The kernel body runs identical bytecode either way,
  * keeping oracle results bit-identical.
  */
object Kernels {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  private def xx64(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        b.length, 42L)
  }

  /** Deflate ratio kernel (see [[DeflateRatio]]): level-6 raw-deflate
    * size over raw size. A fresh Deflater per call — thread-safe, no
    * native state shared across rows; the output buffer is reused only
    * for counting, never kept.
    */
  def deflateRatio(input: UTF8String): Double = {
    val bytes = input.getBytes
    if (bytes.length == 0) return 1.0
    val d = new java.util.zip.Deflater(6, true)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total.toDouble / bytes.length
    } finally d.end()
  }

  /** Luhn checksum validity of a pure-ASCII-digit string (ISO/IEC
    * 7812): from the rightmost digit, double every second digit
    * (subtracting 9 when the double exceeds 9) and sum; valid iff
    * sum % 10 == 0. Empty or any non-digit character → false (callers
    * extract digit runs; anything else is not a candidate).
    */
  def luhnValid(input: UTF8String): Boolean = {
    val n = input.numChars()
    if (n == 0) return false
    val s = input.toString
    var sum = 0
    var alt = false
    var i = s.length - 1
    while (i >= 0) {
      val c = s.charAt(i)
      if (c < '0' || c > '9') return false
      var d = c - '0'
      if (alt) { d *= 2; if (d > 9) d -= 9 }
      sum += d
      alt = !alt
      i -= 1
    }
    sum % 10 == 0
  }

  /** Redact Luhn-valid digit runs (see [[graftfn.RedactLuhnRuns]]):
    * every MAXIMAL run of ASCII digits with length in [minLen, maxLen]
    * that passes the Luhn check is replaced by `token`; everything else
    * (too short, too long, checksum-invalid) passes through. Single
    * linear pass, no regex backtracking.
    */
  def redactLuhnRuns(input: UTF8String, minLen: Int, maxLen: Int,
                     token: UTF8String): UTF8String = {
    val s = input.toString
    val tok = token.toString
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= '0' && c <= '9') {
        var j = i
        while (j < s.length && s.charAt(j) >= '0' && s.charAt(j) <= '9')
          j += 1
        val run = s.substring(i, j)
        if (run.length >= minLen && run.length <= maxLen &&
            luhnValid(UTF8String.fromString(run))) sb.append(tok)
        else sb.append(run)
        i = j
      } else { sb.append(c); i += 1 }
    }
    UTF8String.fromString(sb.toString)
  }

  def wordShingles(input: UTF8String, k: Int): ArrayData = {
    val toks = input.toString.split(' ').filter(_.nonEmpty)
    val out =
      if (toks.length < k) Array(toks.mkString(" "))
      else {
        val seen = new java.util.LinkedHashSet[String]((toks.length - k + 1) * 2)
        var i = 0
        val sb = new java.lang.StringBuilder(64)
        while (i <= toks.length - k) {
          sb.setLength(0)
          var j = 0
          while (j < k) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          seen.add(sb.toString)
          i += 1
        }
        seen.toArray(new Array[String](seen.size))
      }
    new GenericArrayData(
      out.map(UTF8String.fromString(_)).asInstanceOf[Array[Any]])
  }

  /** Within-document segment dedup: split on the LITERAL separator, keep
    * each segment's first occurrence (insertion-ordered set), re-join
    * with `joiner`. Linear time and one pass — the HOF formulation
    * (`filter(t, (x, i) -> array_position(t, x) = i+1)`) is O(n²) and
    * CodegenFallback; this is the codegen'd form. Empty segments dedup
    * like any other (a run of blank lines collapses to one).
    */
  def dedupSegments(input: UTF8String, sep: String,
                    joiner: String): UTF8String = {
    val parts = input.toString
      .split(java.util.regex.Pattern.quote(sep), -1)
    val seen = new java.util.LinkedHashSet[String](parts.length * 2)
    var i = 0
    while (i < parts.length) { seen.add(parts(i)); i += 1 }
    val sb = new java.lang.StringBuilder(input.numBytes)
    val it = seen.iterator()
    var first = true
    while (it.hasNext) {
      if (!first) sb.append(joiner)
      sb.append(it.next())
      first = false
    }
    UTF8String.fromString(sb.toString)
  }

  /** Ukkonen band-limited Levenshtein distance: exact when the distance
    * is ≤ `maxDist`, else returns `maxDist + 1` (a "too far" sentinel)
    * after touching only the 2·maxDist+1 diagonal band — O(max(n,m)·k)
    * instead of O(n·m), with an early exit when the whole band blows the
    * budget. Operates on UTF-16 units (matches the built-in `levenshtein`
    * for all BMP text).
    */
  def bandedLevenshtein(a: UTF8String, b: UTF8String, maxDist0: Int): Int = {
    val s = a.toString
    val t = b.toString
    val n = s.length
    val m = t.length
    if (maxDist0 < 0) return 0.max(maxDist0 + 1)
    // clamp: distance can never exceed max(n, m), and an unclamped
    // Int.MaxValue budget would overflow INF = maxDist + 1 to negative
    val maxDist = Math.min(maxDist0, Math.max(n, m))
    if (Math.abs(n - m) > maxDist) return maxDist + 1
    val INF = maxDist + 1
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    java.util.Arrays.fill(prev, INF)
    var j0 = 0
    while (j0 <= Math.min(m, maxDist)) { prev(j0) = j0; j0 += 1 }
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, INF)
      cur(0) = if (i <= maxDist) i else INF
      val lo = Math.max(1, i - maxDist)
      val hi = Math.min(m, i + maxDist)
      var rowMin = cur(0)
      var j = lo
      while (j <= hi) {
        val cost = if (s.charAt(i - 1) == t.charAt(j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        if (prev(j) + 1 < v) v = prev(j) + 1
        if (cur(j - 1) + 1 < v) v = cur(j - 1) + 1
        if (v > INF) v = INF
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin >= INF) return INF
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    Math.min(prev(m), INF)
  }

  def charNgrams(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    // codepoint start offsets, computed once (substr-per-gram is O(L) each)
    var chars = 0
    var off = 0
    val offsets = new Array[Int](bytes.length + 1)
    while (off < bytes.length) {
      offsets(chars) = off
      off += PortableHash.charLen(bytes(off))
      chars += 1
    }
    offsets(chars) = bytes.length
    val out: Array[Any] =
      if (chars < n) Array(s)
      else {
        val grams = new Array[Any](chars - n + 1)
        var i = 0
        while (i <= chars - n) {
          grams(i) = UTF8String.fromBytes(
            bytes, offsets(i), offsets(i + n) - offsets(i))
          i += 1
        }
        grams
      }
    new GenericArrayData(out)
  }

  def simhash60(input: UTF8String): Long = {
    val bytes = input.getBytes
    val counts = new Array[Int](60)
    var i = 0
    while (i <= bytes.length) {
      // token = maximal run of non-space bytes (0x20 never occurs inside a
      // multi-byte UTF-8 sequence, so byte-level splitting is codepoint-safe)
      val start = i
      while (i < bytes.length && bytes(i) != ' '.toByte) i += 1
      if (i > start) {
        val h = PortableHash.h60(bytes, start, i - start)
        var b = 0
        while (b < 60) {
          counts(b) += (((h >>> b) & 1L).toInt << 1) - 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (counts(b) > 0) sig |= 1L << b
      b += 1
    }
    sig
  }

  def winnowFingerprint(input: UTF8String, k: Int, w: Int): ArrayData = {
    val toks = input.toString.split(' ').filter(_.nonEmpty)
    val hs: Array[Long] =
      if (toks.length < k) {
        val joined = toks.mkString(" ").getBytes("UTF-8")
        Array(PortableHash.h60(joined, 0, joined.length))
      } else {
        val out = new Array[Long](toks.length - k + 1)
        val sb = new java.lang.StringBuilder(64)
        var i = 0
        while (i <= toks.length - k) {
          sb.setLength(0)
          var j = 0
          while (j < k) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          val b = sb.toString.getBytes("UTF-8")
          out(i) = PortableHash.h60(b, 0, b.length)
          i += 1
        }
        out
      }
    val mins =
      if (hs.length <= w) Array(hs.min)
      else {
        val m = new Array[Long](hs.length - w + 1)
        var i = 0
        while (i <= hs.length - w) {
          var mn = Long.MaxValue
          var j = i
          while (j < i + w) { if (hs(j) < mn) mn = hs(j); j += 1 }
          m(i) = mn
          i += 1
        }
        m
      }
    new GenericArrayData(mins.distinct.sorted)
  }

  def wordShingleHashes(input: UTF8String, k: Int): ArrayData = {
    val toks = input.toString.split(' ').filter(_.nonEmpty)
    val hs: Array[Long] =
      if (toks.length < k) Array(xx64(toks.mkString(" ")))
      else {
        val out = new Array[Long](toks.length - k + 1)
        val sb = new java.lang.StringBuilder(64)
        var i = 0
        while (i <= toks.length - k) {
          sb.setLength(0)
          var j = 0
          while (j < k) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          out(i) = xx64(sb.toString)
          i += 1
        }
        out
      }
    java.util.Arrays.sort(hs)
    // dedup in place (duplicates are adjacent after the sort)
    var n = 0
    var i = 0
    while (i < hs.length) {
      if (n == 0 || hs(i) != hs(n - 1)) { hs(n) = hs(i); n += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, n))
  }

  /** POSITIONAL engine-portable word n-gram hashes: like
    * [[wordNgramHashes60]] but IN TOKEN ORDER with repeats kept — index i
    * of the output is the hash of tokens [i, i+k). The substring-dedup
    * primitive: run-merging over positions needs every window at its
    * position, not the distinct set.
    */
  def wordNgramHashes60Pos(input: UTF8String, k: Int): ArrayData = {
    val toks = input.toString.split(' ').filter(_.nonEmpty)
    if (toks.length < k) return new GenericArrayData(Array.emptyLongArray)
    val hs = new Array[Long](toks.length - k + 1)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= toks.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val b = sb.toString.getBytes("UTF-8")
      hs(i) = PortableHash.h60(b, 0, b.length)
      i += 1
    }
    new GenericArrayData(hs)
  }

  /** Remove every token covered by a removable k-window: `ps` holds the
    * SORTED ascending start positions of removable windows, each covering
    * token indices [p, p+k). Linear two-pointer sweep over (tokens,
    * positions); returns (clean_text — surviving tokens single-space
    * joined, n_removed). The rebuild side of substring dedup: per-row
    * CPU, no allocation beyond the output buffer.
    */
  def removeCoveredTokens(toks: ArrayData, ps: ArrayData,
                          k: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val n = toks.numElements()
    val m = ps.numElements()
    val sb = new java.lang.StringBuilder(64)
    var kept = 0
    var pi = 0
    var covEnd = -1 // highest covered token index seen so far
    var i = 0
    while (i < n) {
      while (pi < m && ps.getInt(pi) <= i) {
        val e = ps.getInt(pi) + k - 1
        if (e > covEnd) covEnd = e
        pi += 1
      }
      if (i > covEnd) {
        if (kept > 0) sb.append(' ')
        sb.append(toks.getUTF8String(i).toString)
        kept += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(sb.toString),
        java.lang.Integer.valueOf(n - kept)))
  }

  /** Engine-PORTABLE word n-gram hash SET: tokenize on spaces, hash each
    * k-window with [[PortableHash.h60]] (DuckDB: `CAST('0x' ||
    * substr(md5(gram), 1, 15) AS BIGINT)`), return distinct hashes sorted
    * ascending. Texts with fewer than k tokens yield an EMPTY array — a
    * document too short to contain an n-gram has none (the
    * decontamination convention; [[wordShingleHashes]]' whole-text
    * fallback serves Jaccard, where an empty set would break the
    * similarity denominator).
    */
  def wordNgramHashes60(input: UTF8String, k: Int): ArrayData = {
    val toks = input.toString.split(' ').filter(_.nonEmpty)
    if (toks.length < k) return new GenericArrayData(Array.emptyLongArray)
    val hs = new Array[Long](toks.length - k + 1)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= toks.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val b = sb.toString.getBytes("UTF-8")
      hs(i) = PortableHash.h60(b, 0, b.length)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var n = 0
    i = 0
    while (i < hs.length) {
      if (n == 0 || hs(i) != hs(n - 1)) { hs(n) = hs(i); n += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, n))
  }

  /** Clipped word-n-gram overlap counts between a reference and a
    * candidate text — the shared per-pair kernel under ROUGE-N and BLEU:
    * returns `[n_ref_tokens, n_cand_tokens, m_1, t_1, …, m_maxN, t_maxN]`
    * where `t_n = max(candTokens − n + 1, 0)` (total candidate n-grams)
    * and `m_n = Σ_g min(count_ref(g), count_cand(g))` (the CLIPPED
    * matches — a candidate repeating one reference gram five times gets
    * credit once per reference occurrence, the Papineni 2002 clipping).
    * Tokens split on single spaces, empties dropped (the repo's
    * tokenizer convention, mirrored by the DuckDB oracles). One pass
    * tokenizes both sides; per n, one counting HashMap over the
    * reference grams.
    */
  def ngramOverlapCounts(ref: UTF8String, cand: UTF8String,
                         maxN: Int): ArrayData = {
    val rt = ref.toString.split(' ').filter(_.nonEmpty)
    val ct = cand.toString.split(' ').filter(_.nonEmpty)
    val out = new Array[Long](2 + 2 * maxN)
    out(0) = rt.length.toLong
    out(1) = ct.length.toLong
    val sb = new java.lang.StringBuilder(64)
    def gram(toks: Array[String], i: Int, n: Int): String = {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      sb.toString
    }
    var n = 1
    while (n <= maxN) {
      val t = math.max(ct.length - n + 1, 0)
      var m = 0L
      if (t > 0 && rt.length - n + 1 > 0) {
        val counts = new java.util.HashMap[String, Integer]()
        var i = 0
        while (i <= rt.length - n) {
          val g = gram(rt, i, n)
          val c = counts.get(g)
          counts.put(g, if (c == null) Int.box(1) else Int.box(c + 1))
          i += 1
        }
        i = 0
        while (i <= ct.length - n) {
          val c = counts.get(gram(ct, i, n))
          if (c != null && c > 0) {
            m += 1
            counts.put(gram(ct, i, n), Int.box(c - 1))
          }
          i += 1
        }
      }
      out(2 + 2 * (n - 1)) = m
      out(3 + 2 * (n - 1)) = t.toLong
      n += 1
    }
    new GenericArrayData(out)
  }

  /** T5-style span corruption (Raffel et al. 2020 §3.1.4): walk the
    * whitespace tokens of `text`; at each position OUTSIDE an active
    * span, start a span when
    * `h60(key ␟ pos ␟ salt) % 10⁶ < startPpm` — the per-position hash
    * makes the draw deterministic, partition-independent and
    * engine-replayable (the bootstrapCi convention) — with span length
    * `1 + h2 % (2·meanSpan − 1)` (mean = meanSpan). Each span collapses
    * to `<extra_id_k>` in the input (k in first-occurrence order), and
    * the targets string lists `<extra_id_k> masked tokens …` ended by
    * the final sentinel — the exact T5 target format. Expected mask
    * coverage is `startPpm·meanSpan / 10⁶` over out-of-span positions
    * (the caller picks startPpm = rate/meanSpan).
    * Returns `[input, targets, n_tokens, n_masked, n_spans]` as a
    * string array (counts rendered decimal — one kernel call, split by
    * the Column face).
    */
  def spanCorrupt(key: UTF8String, text: UTF8String, startPpm: Int,
                  meanSpan: Int, salt: String): ArrayData = {
    val toks = text.toString.split(' ').filter(_.nonEmpty)
    val in = new java.lang.StringBuilder(text.numBytes() + 16)
    val tg = new java.lang.StringBuilder(64)
    var i = 0
    var spanId = 0
    var masked = 0
    val keyS = key.toString
    while (i < toks.length) {
      val hb = (keyS + "\u001f" + i + "\u001f" + salt)
        .getBytes("UTF-8")
      val h = PortableHash.h60(hb, 0, hb.length)
      if (h % 1000000L < startPpm) {
        val len = 1 + ((h >>> 20) % (2 * meanSpan - 1).toLong).toInt
        if (in.length > 0) in.append(' ')
        in.append("<extra_id_").append(spanId).append('>')
        tg.append("<extra_id_").append(spanId).append('>')
        var j = 0
        while (j < len && i < toks.length) {
          tg.append(' ').append(toks(i))
          masked += 1; i += 1; j += 1
        }
        tg.append(' ')
        spanId += 1
      } else {
        if (in.length > 0) in.append(' ')
        in.append(toks(i))
        i += 1
      }
    }
    tg.append("<extra_id_").append(spanId).append('>')
    new GenericArrayData(Array[Any](
      UTF8String.fromString(in.toString),
      UTF8String.fromString(tg.toString),
      UTF8String.fromString(toks.length.toString),
      UTF8String.fromString(masked.toString),
      UTF8String.fromString(spanId.toString)))
  }

  /** [[spanCorrupt]] inverse: splice each `<extra_id_k>` span's target
    * tokens back into the input — the reconstruction certificate.
    * Returns the rebuilt single-spaced text; malformed inputs rebuild
    * best-effort (unknown sentinels pass through).
    */
  def spanUncorrupt(input: UTF8String, targets: UTF8String): UTF8String = {
    val spans = new java.util.HashMap[String, String]()
    val tg = targets.toString
    // targets = <extra_id_0> tok tok <extra_id_1> tok ... <extra_id_n>
    var cur: String = null
    val sb = new java.lang.StringBuilder(32)
    tg.split(' ').filter(_.nonEmpty).foreach { t =>
      if (t.startsWith("<extra_id_") && t.endsWith(">")) {
        if (cur != null) spans.put(cur, sb.toString)
        cur = t; sb.setLength(0)
      } else {
        if (sb.length > 0) sb.append(' ')
        sb.append(t)
      }
    }
    if (cur != null) spans.put(cur, sb.toString)
    val out = new java.lang.StringBuilder(input.numBytes() * 2)
    input.toString.split(' ').filter(_.nonEmpty).foreach { t =>
      val rep =
        if (t.startsWith("<extra_id_") && t.endsWith(">"))
          spans.getOrDefault(t, t)
        else t
      if (rep.nonEmpty) {
        if (out.length > 0) out.append(' ')
        out.append(rep)
      }
    }
    UTF8String.fromString(out.toString)
  }

  /** WordPiece greedy longest-match-first encoding (the BERT tokenizer's
    * WordpieceTokenizer contract): per whitespace word, repeatedly match
    * the LONGEST vocabulary piece at the cursor — continuation pieces
    * carry the `##` prefix — and emit `unk` for the WHOLE word when any
    * position has no match or the word exceeds `maxChars` code units
    * (the reference implementation's max_input_chars_per_word guard).
    * Matching is on UTF-16 code units; a match can never split a
    * surrogate pair unless the vocabulary itself contains lone
    * surrogates (invalid strings), so the unit/codepoint distinction is
    * unobservable for real vocabularies.
    */
  def wordpieceEncode(input: UTF8String, vocab: java.util.HashSet[String],
                      unk: String, maxChars: Int): ArrayData = {
    val toks = input.toString.split(' ').filter(_.nonEmpty)
    val out = new java.util.ArrayList[AnyRef](toks.length * 2)
    val unkU = UTF8String.fromString(unk)
    var t = 0
    while (t < toks.length) {
      val w = toks(t)
      if (w.length > maxChars) out.add(unkU)
      else {
        val pieces = new java.util.ArrayList[String](4)
        var start = 0
        var bad = false
        while (start < w.length && !bad) {
          var end = w.length
          var found: String = null
          while (end > start && found == null) {
            val sub =
              (if (start > 0) "##" else "") + w.substring(start, end)
            if (vocab.contains(sub)) found = sub else end -= 1
          }
          if (found == null) bad = true
          else { pieces.add(found); start = end }
        }
        if (bad) out.add(unkU)
        else {
          var i = 0
          while (i < pieces.size()) {
            out.add(UTF8String.fromString(pieces.get(i))); i += 1
          }
        }
      }
      t += 1
    }
    new GenericArrayData(out.toArray(new Array[AnyRef](out.size()))
      .asInstanceOf[Array[Any]])
  }

  /** Unicode NFC normalization (canonical composition) — the dedup-key
    * and URL/text-canonicalization prerequisite: visually-identical
    * strings with decomposed combining marks ("e" + U+0301 vs "é") hash
    * to different dedup keys unless composed first. DuckDB mirrors this
    * exactly with `nfc_normalize`, so NFC-keyed operators stay
    * oracle-checkable. Skips the (common) already-normalized fast path
    * without allocating.
    */
  def nfcNormalize(input: UTF8String): UTF8String = {
    val s = input.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC))
      input
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  /** Ordered word-bigram STRINGS, repeats kept (see [[WordBigrams]]) —
    * the LM-fit form, where the model must be keyed by readable words
    * (the hash form [[wordBigramHashes]] serves the statistics ops).
    */
  def wordBigrams(input: UTF8String): ArrayData = {
    val toks = input.toString.split(' ').filter(_.nonEmpty)
    val n = math.max(toks.length - 1, 0)
    val out = new Array[UTF8String](n)
    val sb = new java.lang.StringBuilder(48)
    var i = 0
    while (i < n) {
      sb.setLength(0)
      sb.append(toks(i)).append(' ').append(toks(i + 1))
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  /** Ordered positional word n-gram STRINGS, repeats kept — the
    * general-n LM-fit form of [[wordBigrams]] (trigram counts for the
    * Stupid-Backoff scorer). Empty below n tokens.
    */
  /** One-pass overlapping char chunks (see [[CharChunks]]). Code-point
    * positions; surrogate pairs never split (appends copy whole code
    * points). Builders open in position order and share one width, so
    * they also FINISH in order — the head check suffices.
    */
  def charChunks(input: UTF8String, chunkChars: Int, stride: Int): ArrayData = {
    val s = input.toString
    val n16 = s.length
    if (n16 == 0)
      return new GenericArrayData(
        Array[Any](UTF8String.fromString("")))
    final class B(val sb: java.lang.StringBuilder, var rem: Int)
    val cpLen = s.codePointCount(0, n16)
    val overlap = chunkChars - stride
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    val open = new java.util.ArrayList[B](chunkChars / stride + 2)
    var i = 0 // UTF-16 offset
    var p = 0 // code-point index
    while (i < n16) {
      if (p % stride == 0 && (p == 0 || p < cpLen - overlap))
        open.add(new B(new java.lang.StringBuilder(
          math.min(chunkChars * 2, 1 << 16)), chunkChars))
      val w = if (Character.isHighSurrogate(s.charAt(i)) &&
        i + 1 < n16 && Character.isLowSurrogate(s.charAt(i + 1))) 2 else 1
      var j = 0
      while (j < open.size) {
        val b = open.get(j)
        b.sb.append(s, i, i + w)
        b.rem -= 1
        j += 1
      }
      while (!open.isEmpty && open.get(0).rem == 0) {
        out += UTF8String.fromString(open.get(0).sb.toString)
        open.remove(0)
      }
      i += w
      p += 1
    }
    var k = 0
    while (k < open.size) {
      out += UTF8String.fromString(open.get(k).sb.toString)
      k += 1
    }
    new GenericArrayData(out.toArray[UTF8String].asInstanceOf[Array[Any]])
  }

  /** One-pass overlapping word chunks (see [[WordChunks]]): split once
    * (single-space, empty tokens kept — Spark split/DuckDB string_split
    * parity), then each window is a direct token-range join. Work =
    * output size.
    */
  def wordChunks(input: UTF8String, chunkWords: Int, stride: Int): ArrayData = {
    val toks = input.toString.split(" ", -1)
    val n = toks.length
    val overlap = chunkWords - stride
    val nc = math.max(1L,
      math.ceil((n - overlap).toDouble / stride).toLong).toInt
    val out = new Array[UTF8String](nc)
    val sb = new java.lang.StringBuilder(256)
    var i = 0
    while (i < nc) {
      sb.setLength(0)
      val s0 = i * stride
      val e = math.min(s0.toLong + chunkWords, n.toLong).toInt
      var j = s0
      while (j < e) {
        if (j > s0) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  def wordNgrams(input: UTF8String, n: Int): ArrayData = {
    val toks = input.toString.split(' ').filter(_.nonEmpty)
    val m = math.max(toks.length - n + 1, 0)
    val out = new Array[UTF8String](m)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  def wordBigramHashes(input: UTF8String): ArrayData = {
    val toks = input.toString.split(' ').filter(_.nonEmpty)
    val n = math.max(toks.length - 1, 0)
    val out = new Array[Long](n)
    val sb = new java.lang.StringBuilder(48)
    var i = 0
    while (i < n) {
      sb.setLength(0)
      sb.append(toks(i)).append(' ').append(toks(i + 1))
      out(i) = xx64(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  def minhashLanes(arr: ArrayData, as: Array[Long], bs: Array[Long]): ArrayData = {
    val lanes = as.length
    val n = arr.numElements()
    val out = new Array[Long](lanes)
    java.util.Arrays.fill(out, Long.MaxValue)
    var i = 0
    while (i < n) {
      val x = arr.getLong(i)
      var l = 0
      while (l < lanes) {
        var z = x * as(l) + bs(l)
        z ^= z >>> 33; z *= 0xff51afd7ed558ccdL; z ^= z >>> 29
        if (z < out(l)) out(l) = z
        l += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** GPT-style pre-tokenizer (mirrors TextAnalysis.bpePattern): alternating
    * letter/digit/punctuation runs, each with an optional leading space.
    */
  private val bpePreTokenizer =
    java.util.regex.Pattern.compile(" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+")

  /** Byte-pair encoding of one text against a ranked merge table (Sennrich
    * et al. 2016; the GPT-2 apply-side algorithm): pre-tokenize, split each
    * pre-token into single-character symbols, then repeatedly merge the
    * adjacent pair with the LOWEST rank until no adjacent pair is in the
    * table. `ranks` keys are "left right". One pass per row, no
    * allocation beyond the symbol buffer — the apply side of BPE is a pure
    * map, so at 100 TB it rides the scan (the TRAINING side is the
    * iterative global pair-count loop, out of scope here as everywhere).
    */
  def bpeEncode(input: UTF8String,
                ranks: java.util.HashMap[String, Integer]): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val m = bpePreTokenizer.matcher(input.toString)
    val syms = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) {
      val word = m.group()
      syms.clear()
      var i = 0
      while (i < word.length) {
        val cp = word.codePointAt(i)
        val n = Character.charCount(cp)
        syms += word.substring(i, i + n)
        i += n
      }
      var done = syms.length < 2
      while (!done) {
        var bestRank = Int.MaxValue
        var bestAt = -1
        var j = 0
        while (j < syms.length - 1) {
          val r = ranks.get(syms(j) + " " + syms(j + 1))
          if (r != null && r < bestRank) { bestRank = r; bestAt = j }
          j += 1
        }
        if (bestAt < 0) done = true
        else {
          syms(bestAt) = syms(bestAt) + syms(bestAt + 1)
          syms.remove(bestAt + 1)
          done = syms.length < 2
        }
      }
      syms.foreach(s => out += UTF8String.fromString(s))
    }
    new GenericArrayData(out.toArray)
  }

  /** Unigram-LM (SentencePiece-style) Viterbi segmentation: per
    * pre-token (same regex pre-tokenizer as [[bpeEncode]]), the
    * max-log-probability segmentation into vocabulary pieces via a
    * left-to-right DP over codepoint boundaries. Deterministic by
    * construction: exact double compares, ties broken toward FEWER
    * pieces and then toward the earlier split point — a pure function
    * of (word, vocab), independent of partitioning. A single codepoint
    * absent from the vocabulary emits itself with a large fixed penalty
    * (never fails), so encode totality holds on any input.
    */
  def unigramEncode(input: UTF8String,
                    vocab: java.util.HashMap[String, java.lang.Double],
                    maxPieceLen: Int): ArrayData = {
    val UNK = -1e4
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val m = bpePreTokenizer.matcher(input.toString)
    while (m.find()) {
      val word = m.group()
      // codepoint boundaries
      val bounds = scala.collection.mutable.ArrayBuffer[Int](0)
      var i = 0
      while (i < word.length) {
        i += Character.charCount(word.codePointAt(i))
        bounds += i
      }
      val n = bounds.length - 1 // pieces span codepoints
      val best = Array.fill(n + 1)(Double.NegativeInfinity)
      val bestPieces = Array.fill(n + 1)(Int.MaxValue)
      val back = new Array[Int](n + 1)
      best(0) = 0.0
      bestPieces(0) = 0
      var e = 1
      while (e <= n) {
        var s = math.max(0, e - maxPieceLen)
        while (s < e) {
          if (best(s) != Double.NegativeInfinity) {
            val piece = word.substring(bounds(s), bounds(e))
            val lp0 = vocab.get(piece)
            val lp =
              if (lp0 != null) lp0.doubleValue()
              else if (e - s == 1) UNK // unknown single codepoint
              else Double.NegativeInfinity
            if (lp != Double.NegativeInfinity) {
              val cand = best(s) + lp
              val candPieces = bestPieces(s) + 1
              if (cand > best(e) ||
                  (cand == best(e) && candPieces < bestPieces(e))) {
                best(e) = cand
                bestPieces(e) = candPieces
                back(e) = s
              }
            }
          }
          s += 1
        }
        e += 1
      }
      // reconstruct (always reachable via single-codepoint fallback)
      val rev = scala.collection.mutable.ArrayBuffer.empty[String]
      var p = n
      while (p > 0) {
        val s = back(p)
        rev += word.substring(bounds(s), bounds(p))
        p = s
      }
      var r = rev.length - 1
      while (r >= 0) { out += UTF8String.fromString(rev(r)); r -= 1 }
    }
    new GenericArrayData(out.toArray)
  }

  /** Linear-model inference over a token array (see [[LinearScore]]):
    * `bias + Σ w(token)` with a strict left-to-right fold, so the
    * summation order is a pure function of the token sequence (not of
    * partitioning or map iteration) — reproducible across runs and
    * engines. Unknown and EMPTY tokens contribute 0 — empty strings are
    * split padding, not evidence, and skipping them here lets callers use
    * the codegen'd `split()` directly (the `filter` HOF that would strip
    * them is CodegenFallback and would knock the whole projection out of
    * whole-stage codegen). One O(1) probe per token on `UTF8String` keys
    * straight off the UnsafeRow — no String decode.
    */
  def linearScore(toks: ArrayData,
                  w: java.util.HashMap[UTF8String, java.lang.Double],
                  bias: Double): Double = {
    var acc = bias
    var i = 0
    val n = toks.numElements()
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (t != null && t.numBytes() > 0) {
        val v = w.get(t)
        if (v != null) acc += v.doubleValue()
      }
      i += 1
    }
    acc
  }

  /** Hashing-trick variant of [[linearScore]] (see [[LinearScoreHashed]]):
    * every non-empty token contributes `w[h60(token) mod buckets]` — no
    * explicit vocabulary, collision-tolerant, the mechanism that lets a
    * linear text model keep a fixed memory footprint at any vocabulary
    * size. The engine-portable md5-derived hash keeps the bucket
    * assignment (and so the score) DuckDB-oracle-checkable.
    */
  def linearScoreHashed(toks: ArrayData, w: Array[Double],
                        bias: Double): Double = {
    var acc = bias
    val m = w.length
    var i = 0
    val n = toks.numElements()
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (t != null && t.numBytes() > 0)
        acc += w((PortableHash.h60(t) % m).toInt) // h60 is non-negative
      i += 1
    }
    acc
  }

  /** Hash-bucket ids of the non-empty tokens (see [[TokenBuckets]]):
    * the iteration-INVARIANT half of [[linearScoreHashed]] — an
    * iterative fitter hashes each token exactly once instead of once
    * per iteration (md5 per token per iteration dominated the sf1
    * fit). Same empty-token-skip contract, same `h60 % m` assignment.
    */
  def tokenBuckets(toks: ArrayData, m: Int): ArrayData = {
    val n = toks.numElements()
    val buf = new Array[Int](n)
    var k = 0
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (t != null && t.numBytes() > 0) {
        buf(k) = (PortableHash.h60(t) % m).toInt
        k += 1
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(buf, k))
  }

  /** [[linearScoreHashed]] over PRE-HASHED bucket ids (see
    * [[LinearScoreBuckets]]): identical accumulation order and
    * arithmetic, zero hashing.
    */
  def linearScoreBuckets(ids: ArrayData, w: Array[Double],
                         bias: Double): Double = {
    var acc = bias
    var i = 0
    val n = ids.numElements()
    while (i < n) {
      val id = ids.getInt(i)
      // bucket-count contract: ids must come from token_buckets(_, m)
      // with m == weights.length — a mismatched m would otherwise throw
      // a raw AIOOBE from codegen'd code (or silently mis-score when
      // weights is the longer side)
      if (id < 0 || id >= w.length)
        throw new IllegalArgumentException(
          s"linear_score_buckets: bucket id $id outside [0, ${w.length})" +
            " — token_buckets must be computed with m = weights.length")
      acc += w(id)
      i += 1
    }
    acc
  }

  /** PQ asymmetric-distance cosine (see [[PqAdcScore]]): with the query's
    * per-subspace dot-product table `lut` and norm `qn`, a candidate's
    * approximate cosine is `Σ lut[mi][code[mi]] / (qn · sqrt(Σ
    * centNorm2[mi][code[mi]]))` — m table lookups per row, no vector
    * arithmetic in the scan. Sequential accumulation, deterministic.
    */
  def pqAdcScore(lut: ArrayData, qn: Double, code: ArrayData,
                 centNorm2: Array[Array[Double]]): Double = {
    var dot = 0.0; var n2 = 0.0
    var mi = 0
    val m = code.numElements()
    while (mi < m) {
      val c = code.getInt(mi)
      dot += lut.getArray(mi).getDouble(c)
      n2 += centNorm2(mi)(c)
      mi += 1
    }
    val denom = qn * math.sqrt(n2)
    if (denom > 0) dot / denom else 0.0
  }
}

/** Positional character n-grams in one pass: text "abcd", n=3 →
  * ["abc","bcd"]; texts shorter than n yield the text itself. Same output as
  * the `transform(sequence(1, length-n+1), i -> substr(i, n))` HOF chain
  * (codepoint positions, repeats kept) but in a single byte-offset loop per
  * row — the HOF chain walks an interpreted expression tree per gram and
  * was the slowest query of round 1 (text_ngram_freq, 11 s).
  */
case class CharNgrams(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(n >= 1, s"char_ngrams needs n >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngrams"

  override def nullSafeEval(input: Any): Any =
    Kernels.charNgrams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels.charNgrams($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Band-limited Levenshtein distance (see [[Kernels.bandedLevenshtein]]):
  * `banded_levenshtein(a, b, maxDist)` — exact up to the per-row
  * `maxDist`, `maxDist + 1` beyond it. The hot-path form for thresholded
  * edit similarity: a `sim >= t` filter only ever needs distances up to
  * `(1-t)·maxlen`, so the O(n·m) DP shrinks to an O(maxlen·k) band
  * (3-5× on ~300-char fields at t = 0.9).
  */
case class BandedLevenshtein(left: Expression, right: Expression,
                             maxDist: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with ExpectsInputTypes {

  override def first: Expression = left
  override def second: Expression = right
  override def third: Expression = maxDist

  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringType, StringType, org.apache.spark.sql.types.IntegerType)
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "banded_levenshtein"

  override def nullSafeEval(a: Any, b: Any, k: Any): Any =
    Kernels.bandedLevenshtein(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, k) =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels" +
        s".bandedLevenshtein($a, $b, $k);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(left = newFirst, right = newSecond, maxDist = newThird)
}

/** Within-document segment dedup (the RefinedWeb/MassiveText line-dedup
  * shape applied INSIDE one document): repeated lines/paragraphs — nav
  * menus, cookie banners, boilerplate headers — collapse to their first
  * occurrence, preserving order. `sep`/`joiner` are literal strings fixed
  * at plan time; a codegen'd narrow map (streaming-safe), linear in the
  * document where the HOF `array_position` formulation is quadratic.
  */
case class DedupSegments(child: Expression, sep: String, joiner: String)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(sep.nonEmpty, "dedup_segments needs a non-empty separator")

  override def dataType: DataType = StringType
  override def prettyName: String = "dedup_segments"

  override def nullSafeEval(input: Any): Any =
    Kernels.dedupSegments(input.asInstanceOf[UTF8String], sep, joiner)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sepRef = ctx.addReferenceObj("sep", sep, "java.lang.String")
    val joinRef = ctx.addReferenceObj("joiner", joiner, "java.lang.String")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels" +
        s".dedupSegments($c, $sepRef, $joinRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Deflate compression ratio (compressed bytes / raw UTF-8 bytes) — the
  * classic cheap gibberish/boilerplate signal (MassiveText's repetition
  * family): templated or repeated text compresses far below natural
  * prose, random bytes above it. Fixed deflate parameters (level 6, raw
  * stream) keep the value deterministic for a given zlib; it is NOT
  * cross-engine portable, so operators built on it are spec-checked
  * rather than DuckDB-oracled. Empty input → 1.0 (nothing to compress).
  * Codegen'd narrow map; the deflater is per-call (no shared native
  * state across rows/threads).
  */
case class DeflateRatio(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "deflate_ratio"

  override def nullSafeEval(input: Any): Any =
    Kernels.deflateRatio(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels.deflateRatio($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 60-bit SimHash over whitespace tokens, single pass: for each non-empty
  * token t, h = PortableHash.h60(t); bit b of h votes ±1 on signature bit b;
  * signature bit b is set iff the vote sum is positive. Replaces round 1's
  * explode + packed-16-lane aggregate (one shuffle + Janino-heavy codegen)
  * with a narrow per-row kernel — and, because the token hash is the
  * engine-portable md5 form, the whole dedup output is DuckDB-oracle
  * checkable (exact, since pigeonhole banding has recall 1 by construction).
  */
case class SimHash60(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "simhash60"

  override def nullSafeEval(input: Any): Any =
    Kernels.simhash60(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels.simhash60($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing document fingerprints (the MOSS selection) in one pass:
  * positional word k-shingles → portable 60-bit hash each → minimum per
  * sliding window of w → distinct, sorted ascending. Fewer than k tokens
  * hash the whole text; at most w shingles yield the single global minimum.
  * Positional shingles (repeats kept) are the textbook winnowing input; the
  * portable hash makes the output DuckDB-oracle checkable.
  */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(k >= 1 && w >= 1, s"winnow_fingerprint needs k,w >= 1, got k=$k w=$w")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprint"

  override def nullSafeEval(input: Any): Any =
    Kernels.winnowFingerprint(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = " +
        s"org.apache.spark.sql.graftfn.Kernels.winnowFingerprint($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hashed word k-shingle SET in one pass: tokenize on spaces, hash each
  * k-window with xxhash64 (seed 42 — identical to Spark's `xxhash64`
  * function on the shingle string), return the distinct hashes sorted
  * ascending. Replaces the `array_sort(transform(word_shingles(text, k),
  * xxhash64))` chain (two interpreted HOF walks per row) and produces
  * exactly the representation [[SortedJaccard]] wants, so the dedup verify
  * path never materializes shingle strings at all.
  */
/** Unicode NFC canonical composition (see [[Kernels.nfcNormalize]]);
  * DuckDB-exact via `nfc_normalize`. SQL face `nfc_normalize(s)`.
  */
case class NfcNormalize(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(input: Any): Any =
    Kernels.nfcNormalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels.nfcNormalize($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Engine-portable word n-gram hash SET in one pass (see
  * [[Kernels.wordNgramHashes60]]) — the decontamination / cross-corpus
  * overlap primitive, oracle-checkable because the hash is md5-derived.
  */
case class WordNgramHashes60(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(k >= 1, s"word_ngram_hashes60 needs k >= 1, got $k")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "word_ngram_hashes60"

  override def nullSafeEval(input: Any): Any =
    Kernels.wordNgramHashes60(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = " +
        s"org.apache.spark.sql.graftfn.Kernels.wordNgramHashes60($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Positional word n-gram hashes, repeats kept (see
  * [[Kernels.wordNgramHashes60Pos]]) — the substring-dedup window
  * primitive, engine-portable like [[WordNgramHashes60]].
  */
case class WordNgramHashes60Pos(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(k >= 1, s"word_ngram_hashes60_pos needs k >= 1, got $k")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "word_ngram_hashes60_pos"

  override def nullSafeEval(input: Any): Any =
    Kernels.wordNgramHashes60Pos(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = " +
        s"org.apache.spark.sql.graftfn.Kernels.wordNgramHashes60Pos($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Token-level rebuild after substring dedup (see
  * [[Kernels.removeCoveredTokens]]): left = token array, right = SORTED
  * ascending removable-window start positions, each covering k tokens.
  * Returns struct(clean_text, n_removed). Linear sweep, codegen'd.
  */
case class RemoveCoveredTokens(left: Expression, right: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(k >= 1, s"remove_covered_tokens needs k >= 1, got $k")

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("clean_text", StringType,
      nullable = false),
    org.apache.spark.sql.types.StructField("n_removed",
      org.apache.spark.sql.types.IntegerType, nullable = false)))
  override def prettyName: String = "remove_covered_tokens"

  override def nullSafeEval(toks: Any, ps: Any): Any =
    Kernels.removeCoveredTokens(toks.asInstanceOf[ArrayData],
      ps.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels" +
        s".removeCoveredTokens($a, $b, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Luhn checksum validity of a digit string — the credit-card filter a
  * pre-training scrubber runs on candidate digit runs so ordinary long
  * numbers (order ids, timestamps) are not over-redacted. Engine-
  * portable: DuckDB mirrors the checksum with a list_transform lambda
  * (gate `text_cc_redact`). false for empty/non-digit input.
  */
case class LuhnValid(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "luhn_valid"

  override def nullSafeEval(input: Any): Any =
    Kernels.luhnValid(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels.luhnValid($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Conditional credit-card redaction: every maximal ASCII-digit run of
  * length [minLen, maxLen] that Luhn-validates is replaced by `token`;
  * invalid or out-of-range runs pass through untouched — the behavior a
  * plain `regexp_replace` cannot express (replacement is conditional on
  * a checksum). One linear codegen'd pass riding the scan: a pure
  * narrow map, no shuffle, streaming-safe — the [[redactPii]] class.
  */
case class RedactLuhnRuns(child: Expression, minLen: Int, maxLen: Int,
                          token: String)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(minLen >= 1 && maxLen >= minLen,
    s"need 1 <= minLen <= maxLen, got [$minLen, $maxLen]")

  override def dataType: DataType = StringType
  override def prettyName: String = "redact_luhn_runs"

  private lazy val tok = UTF8String.fromString(token)

  override def nullSafeEval(input: Any): Any =
    Kernels.redactLuhnRuns(input.asInstanceOf[UTF8String], minLen, maxLen,
      tok)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tokRef = ctx.addReferenceObj("tok", tok,
      classOf[UTF8String].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels" +
        s".redactLuhnRuns($c, $minLen, $maxLen, $tokRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class WordShingleHashes(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(k >= 1, s"word_shingle_hashes needs k >= 1, got $k")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "word_shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    Kernels.wordShingleHashes(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = " +
        s"org.apache.spark.sql.graftfn.Kernels.wordShingleHashes($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hashed word bigram SEQUENCE in one pass: tokenize on spaces, xxhash64
  * (seed 42 ≡ Spark's `xxhash64`) each adjacent pair joined by a space —
  * repeats and order KEPT (frequency statistics need every occurrence,
  * unlike the shingle-SET ops). Texts under 2 tokens yield an empty array.
  * Replaces the `transform(sequence(...), i -> concat_ws(element_at...))`
  * HOF chain, which walks ~4 interpreted expression nodes per bigram and
  * dominated the familiarity operator.
  */
/** Ordered word-bigram strings, repeats kept — the bigram-LM tokenizer
  * (plan-audited r5: the `transform(sequence(...))` HOF formulation was
  * CodegenFallback and made the LM fit/score explodes the two slowest
  * queries in the bench; this single-pass kernel codegens).
  */
case class WordBigrams(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_bigrams"

  override def nullSafeEval(input: Any): Any =
    Kernels.wordBigrams(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels.wordBigrams($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Positional word n-gram strings, repeats kept (see
  * [[Kernels.wordNgrams]]) — the general-n LM-fit tokenizer.
  */
/** Overlapping fixed-width character chunks in ONE pass over the string —
  * the `transform(sequence(...), i => substr(...))` formulation this
  * replaces re-walks the string from position 0 for EVERY chunk
  * (UTF8String offsets are code-point counts, so each substr is O(start)
  * on multibyte text): O(n²/stride) on a 10 MB document ≈ minutes.
  * Here chunk builders open at every `stride` code points and each code
  * point appends to the ≤ ⌈chunkChars/stride⌉ currently-open builders —
  * total work is exactly the output size. Chunk grid (code-point
  * positions i·stride, width chunkChars, count max(1,
  * ⌈(len−overlap)/stride⌉)) is IDENTICAL to the substr formulation —
  * the ds_chunk DuckDB oracle pins it.
  */
case class CharChunks(child: Expression, chunkChars: Int, stride: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(stride >= 1 && chunkChars >= stride,
    s"char_chunks needs 1 <= stride <= chunkChars, got " +
      s"stride=$stride chunkChars=$chunkChars")

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_chunks"

  override def nullSafeEval(input: Any): Any =
    Kernels.charChunks(input.asInstanceOf[UTF8String], chunkChars, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels" +
        s".charChunks($c, $chunkChars, $stride);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[CharChunks]]'s word sibling: overlapping `chunkWords`-token windows
  * advancing by `stride` tokens, splitting ONCE — the
  * `transform(sequence, i => array_join(slice(split(text), ...)))`
  * formulation this replaces re-evaluated the split() for EVERY window
  * (interpreted HOF lambdas get no common-subexpression elimination),
  * going quadratic on long documents. Split semantics match Spark's
  * 2-arg `split(text, " ")` and DuckDB `string_split`: single-space
  * separators, empty tokens kept — the ds_chunk_words oracle pins the
  * grid.
  */
case class WordChunks(child: Expression, chunkWords: Int, stride: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(stride >= 1 && chunkWords >= stride,
    s"word_chunks needs 1 <= stride <= chunkWords, got " +
      s"stride=$stride chunkWords=$chunkWords")

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_chunks"

  override def nullSafeEval(input: Any): Any =
    Kernels.wordChunks(input.asInstanceOf[UTF8String], chunkWords, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels" +
        s".wordChunks($c, $chunkWords, $stride);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class WordNgrams(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(n >= 1 && n <= 8, s"word_ngrams needs 1 <= n <= 8, got $n")

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  override def nullSafeEval(input: Any): Any =
    Kernels.wordNgrams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels.wordNgrams($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class WordBigramHashes(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "word_bigram_hashes"

  override def nullSafeEval(input: Any): Any =
    Kernels.wordBigramHashes(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels.wordBigramHashes($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All minhash lanes in ONE pass over the hashed shingle set: lane i =
  * min over elements x of mix(x·A_i + B_i), with (A_i, B_i) drawn from a
  * fixed seeded RNG and a murmur-style finalizer for high-bit uniformity.
  * Replaces the explode + 32×min(xxhash64) hash-aggregate signature build:
  * same O(|set|·lanes) hash evaluations, but in a tight per-row loop with
  * no explode iteration, no aggregation buffers, and no exchange at all —
  * the signature never leaves its input partition. The hash family is
  * 2-universal-with-mixing, plenty for LSH banding (band-miss probability
  * is set by the banding parameters, not the family, for uniform hashes).
  */
case class MinHashLanes(child: Expression, lanes: Int, seed: Long = 42L)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(lanes >= 1, s"minhash_lanes needs lanes >= 1, got $lanes")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "minhash_lanes"

  // odd multipliers + offsets, fixed by (seed, lane) → deterministic plans
  @transient private lazy val abs: (Array[Long], Array[Long]) = {
    val rnd = new java.util.Random(seed)
    val a = Array.fill(lanes)(rnd.nextLong() | 1L)
    val b = Array.fill(lanes)(rnd.nextLong())
    (a, b)
  }

  override def nullSafeEval(input: Any): Any =
    Kernels.minhashLanes(input.asInstanceOf[ArrayData], abs._1, abs._2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the lane coefficients ride along as reference objects — computed once
    // at plan time, not per row, and stable across codegen cache hits
    val asRef = ctx.addReferenceObj("minhashAs", abs._1, "long[]")
    val bsRef = ctx.addReferenceObj("minhashBs", abs._2, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels.minhashLanes(" +
        s"$c, $asRef, $bsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Exact Jaccard over two SORTED DISTINCT long arrays in one fused merge:
  * |A∩B| / (|A|+|B|-|A∩B|). Replaces the
  * `size(array_intersect(a,b)) / size(array_union(a,b))` pair, which builds
  * two hash tables and two result arrays per candidate pair — this is the
  * per-PAIR hot loop of dedup verification (quadratic in bucket size), so
  * it is whole-stage-codegen'd. Inputs MUST be sorted ascending and
  * duplicate-free ([[WordShingleHashes]] guarantees both).
  */
case class SortedJaccard(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(org.apache.spark.sql.types.LongType),
        ArrayType(org.apache.spark.sql.types.LongType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_jaccard"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements(); val nb = y.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { inter += 1; i += 1; j += 1 }
    }
    val union = na + nb - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val inter = ctx.freshName("inter"); val union = ctx.freshName("union")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $na = $a.numElements(); int $nb = $b.numElements();
         |int $i = 0; int $j = 0; int $inter = 0;
         |while ($i < $na && $j < $nb) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv < $yv) { $i++; }
         |  else if ($xv > $yv) { $j++; }
         |  else { $inter++; $i++; $j++; }
         |}
         |int $union = $na + $nb - $inter;
         |${ev.value} = ($union == 0) ? 1.0 : ((double) $inter) / $union;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exact intersection COUNT of two sorted distinct Long arrays — the
  * [[SortedJaccard]] merge walk without the union division, returned as
  * a Long so asymmetric set scores (Broder containment |A∩B|/|A|,
  * overlap coefficient) stay in exact integer arithmetic downstream
  * instead of reconstructing the count from a double ratio.
  */
/** Clipped word-n-gram overlap counts for ROUGE-N / BLEU (see
  * [[Kernels.ngramOverlapCounts]]): `ngram_overlap(ref, cand, maxN)` →
  * `array<bigint>` `[ref_tokens, cand_tokens, m_1, t_1, …, m_maxN,
  * t_maxN]`. A codegen'd narrow map — per-pair eval metrics ride the
  * scan with no shuffle; the corpus-BLEU reduction after it is a
  * partial-agg'd sum of 2+2·maxN Longs.
  */
case class NgramOverlapCounts(left: Expression, right: Expression,
                              maxN: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(maxN >= 1 && maxN <= 8,
    s"ngram_overlap needs 1 <= maxN <= 8, got $maxN")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringType, StringType)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "ngram_overlap"

  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.ngramOverlapCounts(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String], maxN)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels" +
        s".ngramOverlapCounts($a, $b, $maxN);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(org.apache.spark.sql.types.LongType),
        ArrayType(org.apache.spark.sql.types.LongType))
  override def dataType: DataType =
    org.apache.spark.sql.types.LongType
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements(); val nb = y.numElements()
    var i = 0; var j = 0; var inter = 0L
    while (i < na && j < nb) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { inter += 1; i += 1; j += 1 }
    }
    inter
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val inter = ctx.freshName("inter")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $na = $a.numElements(); int $nb = $b.numElements();
         |int $i = 0; int $j = 0; long $inter = 0L;
         |while ($i < $na && $j < $nb) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv < $yv) { $i++; }
         |  else if ($xv > $yv) { $j++; }
         |  else { $inter++; $i++; $j++; }
         |}
         |${ev.value} = $inter;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Byte-pair encoding against a fixed ranked merge table (see
  * [[Kernels.bpeEncode]]): `merges` in priority order, earlier = merged
  * first, exactly the merges.txt convention (space-separated pair per
  * line, rank = line number — which also means symbols containing the
  * separator space, only reachable via explicit space merges, inherit that
  * format's ambiguity). The table rides into generated code as a reference
  * object: one HashMap probe per adjacent pair, no per-row rebuild.
  */
case class BpeEncode(child: Expression, merges: Seq[(String, String)])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  // an EMPTY merge table is legal: pure pre-tokenize + code-point
  // segmentation — the state BPE training (TextAnalysis.learnBpe) starts
  // from

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"

  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), r) =>
      m.putIfAbsent(a + " " + b, Int.box(r))
    }
    m
  }

  override def nullSafeEval(input: Any): Any =
    Kernels.bpeEncode(input.asInstanceOf[UTF8String], ranks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ranksRef = ctx.addReferenceObj("bpeRanks", ranks,
      "java.util.HashMap<String, Integer>")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels.bpeEncode($c, $ranksRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** T5 span corruption (see [[Kernels.spanCorrupt]]): a codegen'd
  * narrow map — the pretraining-objective rewrite rides the corpus
  * scan with zero shuffle, deterministic per (key, salt).
  */
case class SpanCorrupt(left: Expression, right: Expression,
                       startPpm: Int, meanSpan: Int, salt: String)
    extends BinaryExpression with ExpectsInputTypes {
  require(startPpm >= 0 && startPpm <= 1000000,
    s"span_corrupt needs 0 <= startPpm <= 1e6, got $startPpm")
  require(meanSpan >= 1 && meanSpan <= 64,
    s"span_corrupt needs 1 <= meanSpan <= 64, got $meanSpan")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringType, StringType)
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "span_corrupt"

  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.spanCorrupt(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String], startPpm, meanSpan, salt)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val saltRef = ctx.addReferenceObj("scSalt", salt, "String")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels" +
        s".spanCorrupt($a, $b, $startPpm, $meanSpan, $saltRef);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Span-corruption inverse (see [[Kernels.spanUncorrupt]]) — the
  * reconstruction certificate's engine half.
  */
case class SpanUncorrupt(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringType, StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "span_uncorrupt"

  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.spanUncorrupt(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels" +
        s".spanUncorrupt($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** WordPiece greedy longest-match-first tokenization against a fixed
  * vocabulary (see [[Kernels.wordpieceEncode]]) — the THIRD real-world
  * tokenizer family next to [[BpeEncode]] and [[UnigramEncode]] (the
  * BERT lineage). The vocabulary rides into generated code as one
  * reference-object HashSet, so the encode is a pure map riding the
  * scan: no join, no shuffle.
  */
case class WordpieceEncode(child: Expression, vocab: Seq[String],
                           unk: String, maxChars: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(vocab.nonEmpty, "wordpiece_encode needs a non-empty vocabulary")
  require(vocab.forall(_.nonEmpty),
    "wordpiece_encode pieces must be non-empty strings")
  require(unk.nonEmpty, "wordpiece_encode needs a non-empty unk token")
  require(maxChars >= 1, s"maxChars must be >= 1, got $maxChars")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "wordpiece_encode"

  @transient private lazy val table: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](vocab.size * 2)
    vocab.foreach(s.add)
    s
  }

  override def nullSafeEval(input: Any): Any =
    Kernels.wordpieceEncode(input.asInstanceOf[UTF8String], table,
      unk, maxChars)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vocabRef = ctx.addReferenceObj("wpVocab", table,
      "java.util.HashSet<String>")
    val unkRef = ctx.addReferenceObj("wpUnk", unk, "String")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels" +
        s".wordpieceEncode($c, $vocabRef, $unkRef, $maxChars);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Unigram-LM Viterbi tokenization against a (piece, logProb) vocabulary
  * (see [[Kernels.unigramEncode]]) — the encode side of
  * `TextAnalysis.learnUnigram`, and the second real-world tokenizer
  * family next to [[BpeEncode]]. The vocabulary rides into generated
  * code as one reference-object HashMap (the BpeEncode pattern), so at
  * 100 TB the encode is a pure map riding the scan: no join, no shuffle.
  */
case class UnigramEncode(child: Expression, vocab: Seq[(String, Double)])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(vocab.nonEmpty, "unigram_encode needs a non-empty vocabulary")
  require(vocab.forall(_._1.nonEmpty),
    "unigram_encode pieces must be non-empty strings")
  require(vocab.forall(p => java.lang.Double.isFinite(p._2)),
    "unigram_encode log-probs must be finite")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "unigram_encode"

  @transient private lazy val table: java.util.HashMap[String, java.lang.Double] = {
    val m = new java.util.HashMap[String, java.lang.Double](vocab.size * 2)
    vocab.foreach { case (p, lp) => m.putIfAbsent(p, Double.box(lp)) }
    m
  }
  @transient private lazy val maxPieceLen: Int =
    vocab.iterator.map(p => p._1.codePointCount(0, p._1.length)).max

  override def nullSafeEval(input: Any): Any =
    Kernels.unigramEncode(input.asInstanceOf[UTF8String], table, maxPieceLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("unigramVocab", table,
      "java.util.HashMap<String, Double>")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels" +
        s".unigramEncode($c, $tableRef, $maxPieceLen);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Linear-classifier inference over a token array: `bias + Σ w(token)`,
  * the apply side of a fastText-style / logistic quality classifier
  * (Joulin et al. 2016's scoring step — hashed-or-pruned vocabulary,
  * linear decision function; TRAINING is out of scope here as
  * everywhere). Token space is the caller's: whitespace words, char
  * n-grams, or BPE symbols all compose ([[CharNgrams]], [[BpeEncode]]).
  *
  * The weight table rides into generated code as a reference object
  * (`UTF8String`-keyed HashMap, one O(1) probe per token with no string
  * decode), exactly the [[BpeEncode]] pattern — so at 100 TB inference is
  * a pure map riding the scan inside whole-stage codegen: no join, no
  * shuffle, no per-row table rebuild. Vocabularies past broadcast size
  * belong in the explode + join formulation instead (the caller's choice;
  * pruned quality-classifier vocabularies are MBs, not GBs).
  */
case class LinearScore(child: Expression, weights: Seq[(String, Double)],
                       bias: Double)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(weights.nonEmpty, "linear_score needs a non-empty weight table")
  require(weights.forall(_._1.nonEmpty),
    "linear_score weight tokens must be non-empty (empty tokens are " +
      "treated as split padding and always score 0)")
  require(java.lang.Double.isFinite(bias),
    s"linear_score needs a finite bias, got $bias")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "linear_score"

  @transient private lazy val table:
      java.util.HashMap[UTF8String, java.lang.Double] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Double](
      weights.size * 2)
    weights.foreach { case (t, w) =>
      m.putIfAbsent(UTF8String.fromString(t), Double.box(w))
    }
    m
  }

  override def nullSafeEval(input: Any): Any =
    Kernels.linearScore(input.asInstanceOf[ArrayData], table, bias)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("linearWeights", table,
      "java.util.HashMap<org.apache.spark.unsafe.types.UTF8String, Double>")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels" +
        s".linearScore($c, $tableRef, ${bias}D);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hashing-trick linear inference (Weinberger et al. 2009; fastText's
  * bucket mechanism): `bias + Σ w[h60(token) mod buckets]` over a token
  * array — no explicit vocabulary, fixed memory at any vocab size,
  * collisions tolerated by the model's training. The bucket-weight array
  * rides into generated code as a `double[]` reference object; the
  * engine-portable md5-derived hash ([[PortableHash]]) makes the bucket
  * assignment reproducible in DuckDB, so hashed-model scores remain
  * oracle-checkable. Same empty-token-skipping contract as
  * [[LinearScore]].
  */
case class LinearScoreHashed(child: Expression, weights: Seq[Double],
                             bias: Double)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(weights.nonEmpty, "linear_score_hashed needs a non-empty bucket array")
  require(weights.forall(java.lang.Double.isFinite) &&
      java.lang.Double.isFinite(bias),
    "linear_score_hashed needs finite bucket weights and bias")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "linear_score_hashed"

  @transient private lazy val table: Array[Double] = weights.toArray

  override def nullSafeEval(input: Any): Any =
    Kernels.linearScoreHashed(input.asInstanceOf[ArrayData], table, bias)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("bucketWeights", table, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels" +
        s".linearScoreHashed($c, $tableRef, ${bias}D);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Bucket-id assignment of the non-empty tokens — `pmod(h60(tok), m)` as
  * array<int>, hashing each token ONCE so iterative fitters don't pay
  * md5 per token per iteration (see [[Kernels.tokenBuckets]]).
  */
case class TokenBuckets(child: Expression, buckets: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(buckets >= 1, s"token_buckets needs buckets >= 1, got $buckets")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "token_buckets"

  override def nullSafeEval(input: Any): Any =
    Kernels.tokenBuckets(input.asInstanceOf[ArrayData], buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels" +
        s".tokenBuckets($c, $buckets);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[LinearScoreHashed]] over pre-hashed bucket ids (array<int>) —
  * identical accumulation, zero hashing per evaluation.
  */
case class LinearScoreBuckets(child: Expression, weights: Seq[Double],
                              bias: Double)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(weights.nonEmpty, "linear_score_buckets needs a non-empty bucket array")
  require(weights.forall(java.lang.Double.isFinite) &&
      java.lang.Double.isFinite(bias),
    "linear_score_buckets needs finite bucket weights and bias")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(org.apache.spark.sql.types.IntegerType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "linear_score_buckets"

  @transient private lazy val table: Array[Double] = weights.toArray

  override def nullSafeEval(input: Any): Any =
    Kernels.linearScoreBuckets(input.asInstanceOf[ArrayData], table, bias)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("bucketWeights", table, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels" +
        s".linearScoreBuckets($c, $tableRef, ${bias}D);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Product-quantization asymmetric-distance scoring (Jégou et al., TPAMI
  * 2011) as a codegen'd ternary expression: `pq_adc_score(lut, qn, code)`
  * where `lut` is the query's per-subspace dot-product table
  * (array<array<double>>, m × ks), `qn` the query norm, and `code` the
  * candidate's m-byte PQ code (array<int>). The per-subspace centroid
  * norms ride into generated code as a `double[][]` reference object —
  * model constants, identical for every row, never serialized per row.
  * This is the PQ scan's per-candidate hot loop (corpus × queries rows);
  * as a Scala UDF it paid boxed Seq[Seq[Double]] indexing per lookup.
  */
case class PqAdcScore(lut: Expression, qn: Expression, code: Expression,
                      centNorm2: Seq[Seq[Double]])
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with ExpectsInputTypes {
  require(centNorm2.nonEmpty, "pq_adc_score needs non-empty centroid norms")

  override def first: Expression = lut
  override def second: Expression = qn
  override def third: Expression = code

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(ArrayType(DoubleType)), DoubleType,
        ArrayType(org.apache.spark.sql.types.IntegerType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_score"

  @transient private lazy val norms: Array[Array[Double]] =
    centNorm2.map(_.toArray).toArray

  override def nullSafeEval(l: Any, q: Any, c: Any): Any =
    Kernels.pqAdcScore(l.asInstanceOf[ArrayData],
      q.asInstanceOf[Double], c.asInstanceOf[ArrayData], norms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val normsRef = ctx.addReferenceObj("pqCentNorm2", norms, "double[][]")
    nullSafeCodeGen(ctx, ev, (l, q, c) =>
      s"${ev.value} = org.apache.spark.sql.graftfn.Kernels" +
        s".pqAdcScore($l, $q, $c, $normsRef);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(lut = newFirst, qn = newSecond, code = newThird)
}

/** Greedy maximal-marginal-relevance selection over a collected candidate
  * shortlist (Carbonell & Goldstein 1998): pick the most relevant candidate
  * first, then repeatedly the argmax of
  * `lambda * rel(c) - (1 - lambda) * max_{s in selected} cos(c, s)`
  * (ties -> smallest id). Input is `array<struct<rel: double, id: T,
  * vec: array<double>>>` — the shape `collect_list(struct(cos, id, vec))`
  * produces after a top-k shortlist; output is
  * `array<struct<rank: int, id: T, score: double>>`.
  *
  * The result is independent of the (nondeterministic) collect_list order:
  * candidates are first sorted by (rel desc, id asc) with a generic
  * interpreted ordering on the id type, and every argmax breaks ties on id
  * — so the selection is a pure function of the candidate SET. The id type
  * is passed through generically (no silent long casts). Runs once per
  * QUERY (not per corpus row, n = shortlist size, O(n·k) cosines via an
  * incrementally maintained max-similarity array), so interpreted eval is
  * not a hot path and codegen is deliberately skipped.
  */
case class MmrSelect(child: Expression, k: Int, lambda: Double)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(k >= 1, s"mmr_select needs k >= 1, got $k")
  require(lambda >= 0.0 && lambda <= 1.0,
    s"mmr_select needs lambda in [0, 1], got $lambda")

  import org.apache.spark.sql.types._

  private def idType: DataType = child.dataType match {
    case ArrayType(s: StructType, _) if s.length == 3 => s.fields(1).dataType
    case _ => NullType
  }

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(s: StructType, _) if s.length == 3 &&
          s.fields(0).dataType == DoubleType &&
          s.fields(2).dataType.isInstanceOf[ArrayType] =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"mmr_select expects array<struct<rel: double, id, " +
            s"vec: array<double>>>, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("rank", IntegerType, nullable = false),
    StructField("id", idType),
    StructField("score", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "mmr_select"

  @transient private lazy val idOrdering: Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(idType).asInstanceOf[Ordering[Any]]

  private def cos(x: Array[Double], y: Array[Double]): Double = {
    // same sequential formula as CosineSimilarity (and DuckDB's
    // list_cosine_similarity) — oracle comparisons stay exact
    val n = math.min(x.length, y.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      dot += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i)
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val rel = new Array[Double](n)
    val ids = new Array[Any](n)
    val vecs = new Array[Array[Double]](n)
    var i = 0
    while (i < n) {
      val s = arr.getStruct(i, 3)
      rel(i) = s.getDouble(0)
      ids(i) = s.get(1, idType)
      vecs(i) = s.getArray(2).toDoubleArray()
      i += 1
    }
    // canonical order: rel desc, id asc — collect_list order is irrelevant
    val order = Array.range(0, n).sortWith { (a, b) =>
      if (rel(a) != rel(b)) rel(a) > rel(b) else idOrdering.lt(ids(a), ids(b))
    }
    val oml = 1.0 - lambda
    val selected = new Array[Boolean](n)
    // max cosine to any selected candidate, maintained incrementally
    val maxSim = Array.fill(n)(Double.NegativeInfinity)
    val out = new Array[Any](math.min(k, n))
    var picked = 0
    while (picked < out.length) {
      var best = -1
      var bestScore = 0.0
      var j = 0
      while (j < n) {
        val c = order(j)
        if (!selected(c)) {
          // rank 1 = pure relevance (no selected set to diverge from)
          val sc = if (picked == 0) rel(c) else lambda * rel(c) - oml * maxSim(c)
          // strict > : the rel-desc/id-asc scan order makes ties resolve
          // to the smallest id at equal score
          if (best < 0 || sc > bestScore ||
              (sc == bestScore && idOrdering.lt(ids(c), ids(best)))) {
            best = c; bestScore = sc
          }
        }
        j += 1
      }
      selected(best) = true
      out(picked) = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](picked + 1, ids(best), bestScore))
      var c = 0
      while (c < n) {
        if (!selected(c)) {
          val s = cos(vecs(c), vecs(best))
          if (s > maxSim(c)) maxSim(c) = s
        }
        c += 1
      }
      picked += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorFunctions {
  /** Column face of [[CosineSimilarity]]; casts are inserted by the
    * analyzer (array<float> → array<double>).
    */
  def cosine_sim(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSimilarity(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def dot_product(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Generator column: select(ordered_pairs(col)) explodes ordered pairs. */
  def ordered_pairs(arr: Column): Column =
    ExpressionUtils.column(OrderedPairs(ExpressionUtils.expression(arr)))

  /** Single-pass word k-shingles (see [[WordShingles]]). */
  def word_shingles(text: Column, k: Int): Column =
    ExpressionUtils.column(WordShingles(ExpressionUtils.expression(text), k))

  /** Positional character n-grams (see [[CharNgrams]]). */
  def char_ngrams(text: Column, n: Int): Column =
    ExpressionUtils.column(CharNgrams(ExpressionUtils.expression(text), n))

  /** Band-limited Levenshtein (see [[BandedLevenshtein]]). */
  def banded_levenshtein(a: Column, b: Column, maxDist: Column): Column =
    ExpressionUtils.column(BandedLevenshtein(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b),
      ExpressionUtils.expression(maxDist)))

  /** Within-doc segment dedup (see [[DedupSegments]]). */
  def dedup_segments(text: Column, sep: String, joiner: String): Column =
    ExpressionUtils.column(
      DedupSegments(ExpressionUtils.expression(text), sep, joiner))

  /** 60-bit portable SimHash (see [[SimHash60]]). */
  def simhash60(text: Column): Column =
    ExpressionUtils.column(SimHash60(ExpressionUtils.expression(text)))

  /** Clipped n-gram overlap counts for ROUGE/BLEU (see
    * [[NgramOverlapCounts]]).
    */
  def ngram_overlap(ref: Column, cand: Column, maxN: Int): Column =
    ExpressionUtils.column(NgramOverlapCounts(
      ExpressionUtils.expression(ref), ExpressionUtils.expression(cand),
      maxN))

  /** T5 span corruption (see [[SpanCorrupt]]). */
  def span_corrupt(key: Column, text: Column, startPpm: Int,
                   meanSpan: Int, salt: String): Column =
    ExpressionUtils.column(SpanCorrupt(ExpressionUtils.expression(key),
      ExpressionUtils.expression(text), startPpm, meanSpan, salt))

  /** Span-corruption reconstruction (see [[SpanUncorrupt]]). */
  def span_uncorrupt(input: Column, targets: Column): Column =
    ExpressionUtils.column(SpanUncorrupt(
      ExpressionUtils.expression(input),
      ExpressionUtils.expression(targets)))

  /** WordPiece greedy longest-match encode (see [[WordpieceEncode]]). */
  def wordpiece_encode(text: Column, vocab: Seq[String],
                       unk: String = "[UNK]", maxChars: Int = 200): Column =
    ExpressionUtils.column(WordpieceEncode(
      ExpressionUtils.expression(text), vocab, unk, maxChars))

  /** Deflate compression ratio (see [[DeflateRatio]]). */
  def deflate_ratio(text: Column): Column =
    ExpressionUtils.column(DeflateRatio(ExpressionUtils.expression(text)))

  /** Ordered word-bigram strings, repeats kept (see [[WordBigrams]]). */
  def word_bigrams(text: Column): Column =
    ExpressionUtils.column(WordBigrams(ExpressionUtils.expression(text)))

  /** Positional word n-gram strings, repeats kept (see [[WordNgrams]]). */
  def word_ngrams(text: Column, n: Int): Column =
    ExpressionUtils.column(WordNgrams(ExpressionUtils.expression(text), n))

  /** One-pass overlapping char chunks (see [[CharChunks]]). */
  def char_chunks(text: Column, chunkChars: Int, stride: Int): Column =
    ExpressionUtils.column(CharChunks(
      ExpressionUtils.expression(text), chunkChars, stride))

  /** One-pass overlapping word chunks (see [[WordChunks]]). */
  def word_chunks(text: Column, chunkWords: Int, stride: Int): Column =
    ExpressionUtils.column(WordChunks(
      ExpressionUtils.expression(text), chunkWords, stride))

  /** Winnowing fingerprints (see [[WinnowFingerprint]]). */
  def winnow_fingerprint(text: Column, k: Int, w: Int): Column =
    ExpressionUtils.column(WinnowFingerprint(ExpressionUtils.expression(text), k, w))

  /** Sorted distinct xxhash64 word-shingle set (see [[WordShingleHashes]]). */
  def word_shingle_hashes(text: Column, k: Int): Column =
    ExpressionUtils.column(WordShingleHashes(ExpressionUtils.expression(text), k))

  /** Sorted distinct PORTABLE (md5-derived) word n-gram hash set; empty
    * below k tokens (see [[WordNgramHashes60]]).
    */
  def word_ngram_hashes60(text: Column, k: Int): Column =
    ExpressionUtils.column(WordNgramHashes60(ExpressionUtils.expression(text), k))

  /** Positional word n-gram hashes, repeats kept (see
    * [[WordNgramHashes60Pos]]).
    */
  def word_ngram_hashes60_pos(text: Column, k: Int): Column =
    ExpressionUtils.column(WordNgramHashes60Pos(
      ExpressionUtils.expression(text), k))

  /** Token rebuild after substring dedup (see [[RemoveCoveredTokens]]). */
  def remove_covered_tokens(toks: Column, positions: Column, k: Int): Column =
    ExpressionUtils.column(RemoveCoveredTokens(
      ExpressionUtils.expression(toks),
      ExpressionUtils.expression(positions), k))

  /** Unicode NFC canonical composition (see [[NfcNormalize]]). */
  def nfc_normalize(text: Column): Column =
    ExpressionUtils.column(NfcNormalize(ExpressionUtils.expression(text)))

  /** Luhn checksum validity of a digit string (see [[LuhnValid]]). */
  def luhn_valid(s: Column): Column =
    ExpressionUtils.column(LuhnValid(ExpressionUtils.expression(s)))

  /** Conditional redaction of Luhn-valid digit runs (see
    * [[RedactLuhnRuns]]).
    */
  def redact_luhn_runs(text: Column, minLen: Int, maxLen: Int,
                       token: String): Column =
    ExpressionUtils.column(RedactLuhnRuns(
      ExpressionUtils.expression(text), minLen, maxLen, token))

  /** Whole minhash signature in one pass (see [[MinHashLanes]]). */
  def minhash_lanes(hashes: Column, lanes: Int): Column =
    ExpressionUtils.column(MinHashLanes(ExpressionUtils.expression(hashes), lanes))

  /** Hashed ordered word bigrams, repeats kept (see [[WordBigramHashes]]). */
  def word_bigram_hashes(text: Column): Column =
    ExpressionUtils.column(WordBigramHashes(ExpressionUtils.expression(text)))

  /** Fused exact Jaccard over sorted distinct long arrays (see
    * [[SortedJaccard]]).
    */
  def sorted_jaccard(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedJaccard(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Exact intersection count over sorted distinct long arrays (see
    * [[SortedIntersectCount]]).
    */
  def sorted_intersect_count(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedIntersectCount(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Greedy MMR selection over a collected shortlist (see [[MmrSelect]]). */
  def mmr_select(cands: Column, k: Int, lambda: Double): Column =
    ExpressionUtils.column(MmrSelect(ExpressionUtils.expression(cands), k, lambda))

  /** BPE tokens against a ranked merge table (see [[BpeEncode]]). */
  def bpe_encode(text: Column, merges: Seq[(String, String)]): Column =
    ExpressionUtils.column(BpeEncode(ExpressionUtils.expression(text), merges))

  /** Unigram-LM Viterbi tokenization (see [[UnigramEncode]]). */
  def unigram_encode(text: Column, vocab: Seq[(String, Double)]): Column =
    ExpressionUtils.column(UnigramEncode(ExpressionUtils.expression(text), vocab))

  /** Linear-classifier score over a token array (see [[LinearScore]]). */
  def linear_score(toks: Column, weights: Seq[(String, Double)],
                   bias: Double = 0.0): Column =
    ExpressionUtils.column(
      LinearScore(ExpressionUtils.expression(toks), weights, bias))

  /** Hashing-trick linear score (see [[LinearScoreHashed]]). */
  def linear_score_hashed(toks: Column, weights: Seq[Double],
                          bias: Double = 0.0): Column =
    ExpressionUtils.column(
      LinearScoreHashed(ExpressionUtils.expression(toks), weights, bias))

  /** Bucket ids of non-empty tokens, hashed once (see [[TokenBuckets]]). */
  def token_buckets(toks: Column, buckets: Int): Column =
    ExpressionUtils.column(
      TokenBuckets(ExpressionUtils.expression(toks), buckets))

  /** [[linear_score_hashed]] over pre-hashed bucket ids. */
  def linear_score_buckets(ids: Column, weights: Seq[Double],
                           bias: Double = 0.0): Column =
    ExpressionUtils.column(
      LinearScoreBuckets(ExpressionUtils.expression(ids), weights, bias))

  /** PQ asymmetric-distance cosine over (lut, qn, code) with model centroid
    * norms as a codegen reference object (see [[PqAdcScore]]).
    */
  def pq_adc_score(lut: Column, qn: Column, code: Column,
                   centNorm2: Seq[Seq[Double]]): Column =
    ExpressionUtils.column(PqAdcScore(
      ExpressionUtils.expression(lut), ExpressionUtils.expression(qn),
      ExpressionUtils.expression(code), centNorm2))

  /** Bounded per-group top-k (Spark's internal CollectTopK aggregate): a
    * size-k heap per aggregation buffer, partial-aggregated — each map
    * task forwards at most k rows PER GROUP into the shuffle, where a
    * `row_number().over(partitionBy(key))` window shuffles EVERY scored
    * row to its key's partition before discarding all but k. With
    * `reverse = true` keeps the k smallest by `ord`'s natural (struct:
    * lexicographic) ordering, else the k largest. Element order in the
    * returned array is heap order — sort before reading ranks.
    */
  def collect_top_k(ord: Column, k: Int, reverse: Boolean): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.aggregate
        .GraftCollectTopK(ExpressionUtils.expression(ord), k, reverse)
        .toAggregateExpression())

  /** Fold a SQL argument that must be a compile-time integer (n-gram size,
    * lane count, window). Accepts any foldable integral expression — so
    * `char_ngrams(t, 3)`, `char_ngrams(t, CAST(2 AS BIGINT))`, and
    * `char_ngrams(t, 1+2)` all resolve — and raises a clear analysis-time
    * error for columns, NULLs, and non-integral literals, instead of a
    * bare ClassCastException from `eval().asInstanceOf[Int]`.
    */
  def foldableInt(fn: String, e: Expression): Int = {
    def fail(what: String): Nothing = throw new IllegalArgumentException(
      s"$fn expects a literal integer argument, got $what: ${e.sql}")
    if (!e.foldable) fail("a non-constant expression")
    e.eval() match {
      case i: java.lang.Integer => i.intValue()
      case l: java.lang.Long =>
        if (l >= Int.MinValue && l <= Int.MaxValue) l.intValue()
        else fail("an out-of-range BIGINT")
      case s: java.lang.Short => s.intValue()
      case b: java.lang.Byte  => b.intValue()
      case null               => fail("NULL")
      case other              => fail(s"a ${other.getClass.getSimpleName}")
    }
  }

  /** Every SQL face of the native expressions, `name -> builder` — the
    * one table both [[register]] (an already-built session) and
    * `graft.GraftExtensions` (`spark.sql.extensions`, every new session)
    * install from. Literal arguments fold at analysis through the
    * `foldable*` readers, which name the function on a bad argument.
    */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // Avro wire serde, schema as a DDL string literal:
    //   SELECT from_avro(bytes, 'name STRING, x BIGINT') ...
    "from_avro" -> (es => AvroDecode(es(0), foldableSchema("from_avro", es(1)))),
    "to_avro" -> (es => AvroEncode(es(0), foldableSchema("to_avro", es(1)))),
    "cosine_sim" -> (es => CosineSimilarity(es(0), es(1))),
    "dot_product" -> (es => DotProduct(es(0), es(1))),
    "simhash60" -> (es => SimHash60(es(0))),
    "deflate_ratio" -> (es => DeflateRatio(es(0))),
    "char_ngrams" -> (es => CharNgrams(es(0), foldableInt("char_ngrams", es(1)))),
    "banded_levenshtein" -> (es => BandedLevenshtein(es(0), es(1), es(2))),
    "dedup_segments" -> (es =>
      DedupSegments(es(0), foldableString("dedup_segments", es(1)),
        foldableString("dedup_segments", es(2)))),
    "word_shingles" -> (es => WordShingles(es(0), foldableInt("word_shingles", es(1)))),
    "word_shingle_hashes" -> (es =>
      WordShingleHashes(es(0), foldableInt("word_shingle_hashes", es(1)))),
    "word_ngram_hashes60" -> (es =>
      WordNgramHashes60(es(0), foldableInt("word_ngram_hashes60", es(1)))),
    "nfc_normalize" -> (es => NfcNormalize(es(0))),
    "sorted_jaccard" -> (es => SortedJaccard(es(0), es(1))),
    "ngram_overlap" -> (es =>
      NgramOverlapCounts(es(0), es(1), foldableInt("ngram_overlap", es(2)))),
    "minhash_lanes" -> (es => MinHashLanes(es(0), foldableInt("minhash_lanes", es(1)))),
    "word_bigram_hashes" -> (es => WordBigramHashes(es(0))),
    "word_bigrams" -> (es => WordBigrams(es(0))),
    "word_ngrams" -> (es => WordNgrams(es(0), foldableInt("word_ngrams", es(1)))),
    "span_uncorrupt" -> (es => SpanUncorrupt(es(0), es(1))),
    "span_corrupt" -> (es =>
      SpanCorrupt(es(0), es(1), foldableInt("span_corrupt", es(2)),
        foldableInt("span_corrupt", es(3)), foldableString("span_corrupt", es(4)))),
    "wordpiece_encode" -> (es =>
      WordpieceEncode(es(0), foldableStrings("wordpiece_encode", es(1)),
        foldableString("wordpiece_encode", es(2)),
        foldableInt("wordpiece_encode", es(3)))),
    "mmr_select" -> (es =>
      MmrSelect(es(0), foldableInt("mmr_select", es(1)),
        foldableDouble("mmr_select", es(2)))),
    "bpe_encode" -> (es => BpeEncode(es(0), foldableMerges("bpe_encode", es(1)))),
    "unigram_encode" -> (es =>
      UnigramEncode(es(0), foldableWeights("unigram_encode", es(1)))),
    "linear_score" -> (es =>
      LinearScore(es(0), foldableWeights("linear_score", es(1)),
        foldableDouble("linear_score", es(2)))),
    "linear_score_hashed" -> (es =>
      LinearScoreHashed(es(0), foldableDoubles("linear_score_hashed", es(1)),
        foldableDouble("linear_score_hashed", es(2)))),
    "winnow_fingerprint" -> (es =>
      WinnowFingerprint(es(0), foldableInt("winnow_fingerprint", es(1)),
        foldableInt("winnow_fingerprint", es(2)))),
    "ordered_pairs" -> (es => OrderedPairs(es(0)))
  )

  /** SQL registration on an already-built session (`SELECT cosine_sim(a, b)`). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    sqlFunctions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }

  /** Fold a SQL argument that must be a literal array of (left, right)
    * string pairs — the merge-table shape:
    * `bpe_encode(t, array(struct('l','o'), struct('lo','w')))`.
    */
  def foldableMerges(fn: String, e: Expression): Seq[(String, String)] = {
    def fail(): Nothing = throw new IllegalArgumentException(
      s"$fn expects a literal array<struct<string,string>> merge table, " +
        s"got: ${e.sql}")
    if (!e.foldable) fail()
    (e.eval(), e.dataType) match {
      case (arr: ArrayData, ArrayType(st: org.apache.spark.sql.types.StructType, _))
          if st.length == 2 &&
            st.fields.forall(_.dataType == StringType) =>
        (0 until arr.numElements()).map { i =>
          val r = arr.getStruct(i, 2)
          (r.getUTF8String(0).toString, r.getUTF8String(1).toString)
        }
      case _ => fail()
    }
  }

  /** Fold a SQL argument that must be a literal array of (token, weight)
    * pairs — the classifier weight-table shape:
    * `linear_score(t, array(struct('spam', -0.5), struct('the', 0.25)), 0.0)`.
    */
  def foldableWeights(fn: String, e: Expression): Seq[(String, Double)] = {
    def fail(): Nothing = throw new IllegalArgumentException(
      s"$fn expects a literal array<struct<string,double>> weight table, " +
        s"got: ${e.sql}")
    if (!e.foldable) fail()
    (e.eval(), e.dataType) match {
      case (arr: ArrayData, ArrayType(st: org.apache.spark.sql.types.StructType, _))
          if st.length == 2 && st.fields(0).dataType == StringType &&
            (st.fields(1).dataType == DoubleType ||
              st.fields(1).dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType]) =>
        (0 until arr.numElements()).map { i =>
          val r = arr.getStruct(i, 2)
          val w = st.fields(1).dataType match {
            case DoubleType => r.getDouble(1)
            case d: org.apache.spark.sql.types.DecimalType =>
              r.getDecimal(1, d.precision, d.scale).toDouble
          }
          (r.getUTF8String(0).toString, w)
        }
      case _ => fail()
    }
  }

  /** Fold a SQL argument that must be a literal array of numbers — the
    * hashed-bucket weight shape: `linear_score_hashed(t, array(0.5, -0.25),
    * 0.0)`. Decimal literals widen to double.
    */
  def foldableDoubles(fn: String, e: Expression): Seq[Double] = {
    def fail(): Nothing = throw new IllegalArgumentException(
      s"$fn expects a literal array of numbers, got: ${e.sql}")
    if (!e.foldable) fail()
    (e.eval(), e.dataType) match {
      case (arr: ArrayData, ArrayType(DoubleType, _)) =>
        arr.toDoubleArray().toSeq
      case (arr: ArrayData, ArrayType(d: org.apache.spark.sql.types.DecimalType, _)) =>
        (0 until arr.numElements())
          .map(i => arr.getDecimal(i, d.precision, d.scale).toDouble)
      case _ => fail()
    }
  }

  /** Fold a SQL argument that must be a compile-time double (mixture
    * weight, MMR lambda). Integral literals widen.
    */
  def foldableDouble(fn: String, e: Expression): Double = {
    def fail(what: String): Nothing = throw new IllegalArgumentException(
      s"$fn expects a literal numeric argument, got $what: ${e.sql}")
    if (!e.foldable) fail("a non-constant expression")
    e.eval() match {
      case d: java.lang.Double  => d.doubleValue()
      case f: java.lang.Float   => f.doubleValue()
      case i: java.lang.Integer => i.doubleValue()
      case l: java.lang.Long    => l.doubleValue()
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case null                 => fail("NULL")
      case other                => fail(s"a ${other.getClass.getSimpleName}")
    }
  }

  /** Fold a SQL argument that must be a literal string. */
  /** Fold a SQL argument that must be a literal array of strings (the
    * WordPiece vocabulary shape).
    */
  def foldableStrings(fn: String, e: Expression): Seq[String] = {
    def fail(): Nothing = throw new IllegalArgumentException(
      s"$fn expects a literal array of strings, got: ${e.sql}")
    if (!e.foldable) fail()
    (e.eval(), e.dataType) match {
      case (arr: ArrayData, ArrayType(StringType, _)) =>
        (0 until arr.numElements()).map { i =>
          val u = arr.getUTF8String(i)
          if (u == null) fail()
          u.toString
        }
      case _ => fail()
    }
  }

  def foldableString(fn: String, e: Expression): String = {
    def fail(what: String): Nothing = throw new IllegalArgumentException(
      s"$fn expects a literal string argument, got $what: ${e.sql}")
    if (!e.foldable) fail("a non-constant expression")
    e.eval() match {
      case s: UTF8String => s.toString
      case null          => fail("NULL")
      case other         => fail(s"a ${other.getClass.getSimpleName}")
    }
  }

  /** Fold a SQL argument that must be a literal schema DDL string (the
    * spark-avro module's SQL face takes schema strings the same way).
    */
  def foldableSchema(fn: String, e: Expression): org.apache.spark.sql.types.StructType = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn expects a literal schema DDL string, got: ${e.sql}")
    e.eval() match {
      case s: UTF8String =>
        org.apache.spark.sql.types.StructType.fromDDL(s.toString)
      case other => throw new IllegalArgumentException(
        s"$fn expects a literal schema DDL string, got: $other")
    }
  }
}
