package graft.plans

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/*
 * Native Catalyst expressions for the two hot loops where composed
 * higher-order built-ins are too slow. Both compute EXACTLY the same
 * values as the built-in compositions they replace (and as the mirrored
 * DuckDB oracle SQL), so swapping them in changes nothing but speed.
 *
 * Why they exist: Spark's higher-order functions (`transform`,
 * `aggregate`, `zip_with`) evaluate their lambda as an interpreted
 * expression tree per element — ~µs-scale per element. The minhash
 * signature does K·|shingles| md5 calls per document and the quantized
 * dot product 64 multiply-adds per pair; at millions of elements the
 * interpreter overhead dominates the actual work by ~100×.
 */

/**
 * `LongDot(a, b)` = Σ a[i]·b[i] over two ARRAY<BIGINT> columns — the
 * quantized-vector dot product (`VectorOps`). Whole-stage-codegen'd tight
 * loop (no per-element virtual calls); equivalent to
 * `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, (acc,x) -> acc+x)`.
 * Elements are assumed non-null (quantized vectors are built from
 * non-null floats).
 */
case class LongDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "long_dot"
  // null on length mismatch (fail loudly on malformed vectors rather than
  // silently truncating to the shorter prefix), so always nullable
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongDot =
    copy(left = newLeft, right = newRight)
}

/** Lowercase hex of a digest, as SQL `md5` renders it — shared by
 * [[MinHashSig]] and [[LshBandKeys]]. */
private object LowerHex {
  private val digits = "0123456789abcdef".toCharArray

  def apply(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = digits((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = digits(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }
}

/** The distinct strings of `seen` in insertion order as a Catalyst
 * string array — the output step of [[WordShingles]] and [[CharGramSeq]]. */
private object StringArrayOf {
  def apply(seen: java.util.LinkedHashSet[String]): GenericArrayData = {
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }
}

/** A text's tokens, in order and with repeats: lower-cased, split on
 * `[^a-z0-9]+`, empty tokens dropped — the tokenizer of every text kernel
 * here. */
private object Tokens {
  private val sep = java.util.regex.Pattern.compile("[^a-z0-9]+")

  def apply(text: UTF8String): Array[String] =
    sep.split(text.toLowerCase.toString).filter(_.nonEmpty)
}

/** The 64 per-bit sums of a text's [[Tokens]] multiset: sum j adds +1
 * for each token whose md5 has bit (7−j%8) of byte j/8 set, −1 otherwise
 * — md5 once per token, 64 integer adds per token. [[HashEmbed]] returns
 * the sums, [[SimHash64]] their signs. */
private object TokenBitSums {
  def apply(text: UTF8String): Array[Long] = {
    val md = MessageDigest.getInstance("MD5")
    val sums = new Array[Long](64)
    Tokens(text).foreach { tok =>
      val d = md.digest(tok.getBytes(StandardCharsets.UTF_8))
      var j = 0
      while (j < 64) {
        sums(j) += 2 * ((d(j >> 3) >> (7 - (j & 7))) & 1) - 1
        j += 1
      }
    }
    sums
  }
}

/**
 * `MinHashSig(shingles, k)`: per-document minhash signature —
 * sig_j = min over shingles of md5(j ":" shingle) as a lowercase hex
 * string, j = 1..k. Value-identical to
 * `transform(sequence(1,k), j -> array_min(transform(sh, s -> md5(concat(j,':',s)))))`
 * and to the relational DuckDB oracle, but one native pass with a reused
 * MessageDigest instead of k·|sh| interpreted lambda evaluations.
 *
 * CodegenFallback is deliberate: the expression is called once per ROW
 * (not per element), so the fallback's boxing overhead is amortized over
 * the K·|shingles| digest loop it replaces.
 */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  // An empty shingle set has no minima: return NULL (the whole array, never
  // null *elements* — dataType declares containsNull=false, and a null
  // element would NPE downstream). The engine's dedup paths pre-filter
  // size(sh) > 0; this guard is for the public SQL surface.
  override def nullable: Boolean = true

  // hoisted off the per-row path (allocation-free hot loop)
  @transient private lazy val prefixes =
    Array.tabulate(k)(j => s"${j + 1}:".getBytes(StandardCharsets.UTF_8))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val md = MessageDigest.getInstance("MD5")
    val mins = new Array[String](k)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i).getBytes
      var j = 0
      while (j < k) {
        md.reset()
        md.update(prefixes(j))
        md.update(s)
        val h = LowerHex(md.digest())
        if (mins(j) == null || h.compareTo(mins(j)) < 0) mins(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(m => UTF8String.fromString(m)))
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/**
 * `LshBandKeys(sig, bands, rows)`: banded LSH keys over a minhash
 * signature — band_j = md5(j '|' sig[(j−1)·rows+1] '|' … '|' sig[j·rows])
 * as lowercase hex, j = 1..bands. Value-identical to the
 * `transform(sequence(1, B), j -> md5(concat(j, '|', element_at(sig, ...))))`
 * composition (and the DuckDB oracle) — but one native pass over an
 * already-computed signature. The composed form is pathological:
 * CollapseProject re-inlines the aliased `MinHashSig(...)` INTO the
 * transform lambda, so the whole signature pipeline re-ran once per
 * `element_at` — ~12× per document (measured dominating the minhash-LSH
 * profile). Nesting this directly over [[MinHashSig]] evaluates the
 * signature exactly once.
 */
case class LshBandKeys(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "lsh_band_keys"
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val sig = input.asInstanceOf[ArrayData]
    if (sig.numElements() < bands * rows) return null
    val md = MessageDigest.getInstance("MD5")
    val out = new Array[Any](bands)
    var j = 1
    while (j <= bands) {
      val sb = new java.lang.StringBuilder()
      sb.append(j)
      var r = (j - 1) * rows
      while (r < j * rows) {
        sb.append('|').append(sig.getUTF8String(r).toString)
        r += 1
      }
      md.reset()
      out(j - 1) = UTF8String.fromString(
        LowerHex(md.digest(sb.toString.getBytes(StandardCharsets.UTF_8))))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): LshBandKeys =
    copy(child = newChild)
}

/**
 * `WordShingles(text, n)`: lowercase, tokenize on `[^a-z0-9]+`, emit the
 * DISTINCT n-word shingles (space-joined, first-occurrence order).
 * Value-identical to the
 * `array_distinct(transform(sequence(...), i -> concat_ws(' ', element_at(toks,i)...)))`
 * composition over `filter(split(lower(text),'[^a-z0-9]+'), t -> t != '')`
 * — but ONE native pass. The composed form was pathological: Catalyst's
 * project-collapsing inlines the tokenize expression into the shingle
 * lambda, re-running regex `split` per element_at per position (~380
 * re-tokenizations per document, observed dominating the dedup runtime).
 */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any = {
    val toks = Tokens(input.asInstanceOf[UTF8String])
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    StringArrayOf(seen)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/**
 * `TokenSeq(text)`: lowercase alphanumeric tokens (duplicates KEPT, unlike
 * [[WordShingles]] which dedups shingles). Value-identical on ASCII text to
 * `filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')` — but one native
 * pass. The composed form is pathological on Spark 4: a higher-order
 * function evaluates its argument subtree INTERPRETED, and interpreted
 * `Lower` goes through ICU's per-codepoint case mapping
 * (`CollationSupport$Lower.execBinaryICU` — measured dominating the
 * text-stats profile); `UTF8String.toLowerCase` here takes the ASCII fast
 * path. Divergence on non-ASCII input (ICU full case mapping vs
 * UTF8String's simple mapping) is documented and irrelevant to the
 * alphanumeric tokenizer: both map [A-Z] identically and every non-ASCII
 * codepoint is a token separator either way.
 */
case class TokenSeq(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "token_seq"

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(Tokens(input.asInstanceOf[UTF8String]).map(t => UTF8String.fromString(t): Any))

  override protected def withNewChildInternal(newChild: Expression): TokenSeq =
    copy(child = newChild)
}

/**
 * `CharGramSeq(text, n, sampleNibbleMax)`: normalize (lowercase,
 * tokenize, re-join with single spaces), emit the DISTINCT n-char windows
 * whose md5's first hex nibble is < `sampleNibbleMax` (content-defined
 * sampling — shift-invariant, see `TextDedup.SampleHexMax`), in
 * first-occurrence order. Value-identical to building all windows with
 * `transform(sequence(...), i -> substr(nt, i, n))`, exploding, filtering
 * `instr('0123456789abcdef', substring(md5(gr),1,1)) <= sampleNibbleMax`
 * and taking DISTINCT (doc, gram) — but sampling and per-doc dedup happen
 * in the same native pass, so the downstream explode+shuffle sees ~1/4 of
 * the grams and needs no global distinct. `sampleNibbleMax = 16` disables
 * sampling.
 */
case class CharGramSeq(child: Expression, n: Int, sampleNibbleMax: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_gram_seq"

  override def nullSafeEval(input: Any): Any = {
    val nt = Tokens(input.asInstanceOf[UTF8String]).mkString(" ")
    if (nt.length < n) return new GenericArrayData(Array.empty[Any])
    val md = MessageDigest.getInstance("MD5")
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= nt.length - n) {
      val g = nt.substring(i, i + n)
      if (sampleNibbleMax >= 16 || !seen.contains(g)) {
        if (sampleNibbleMax >= 16 ||
            ((md.digest(g.getBytes(StandardCharsets.UTF_8))(0) >> 4) & 0xf) < sampleNibbleMax) {
          seen.add(g)
        }
        md.reset()
      }
      i += 1
    }
    StringArrayOf(seen)
  }

  override protected def withNewChildInternal(newChild: Expression): CharGramSeq =
    copy(child = newChild)
}

/**
 * `SimHash64(text)`: 64-char '0'/'1' SimHash string over the token
 * multiset. Char j is '1' iff [[TokenBitSums]]'s sum j is > 0, i.e. bit j
 * of md5's hex string (most significant first) is set for more tokens
 * than not.
 */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val sums = TokenBitSums(input.asInstanceOf[UTF8String])
    val out = new Array[Char](64)
    var j = 0
    while (j < 64) { out(j) = if (sums(j) > 0) '1' else '0'; j += 1 }
    UTF8String.fromString(new String(out))
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/**
 * `HashEmbed(text)`: deterministic 64-dim integer feature-hash embedding
 * of the token multiset — dim_j = [[TokenBitSums]]'s sum j, the sums
 * [[SimHash64]] takes the signs of, as ARRAY<BIGINT>. The stand-in
 * "encoder" of the retrieval capstone: a signed-random-projection
 * bag-of-words embedding (feature hashing, Weinberger et al. 2009) whose
 * components both engines derive exactly (integer sums of ±1), so the
 * downstream quantized cosine top-k is hash-checkable end to end. A production pipeline substitutes real
 * model vectors — the surrounding plan (dot/cosine over integer vectors,
 * IVF lists) is representation-agnostic. DuckDB mirror: token rows × bit
 * index, `sum(2*bit−1)` per (chunk, j), re-assembled with
 * `list(... ORDER BY j)` — the `simhashDedupSql` bitsum relation without
 * the sign.
 */
case class HashEmbed(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hash_embed"

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(TokenBitSums(input.asInstanceOf[UTF8String]))

  override protected def withNewChildInternal(newChild: Expression): HashEmbed =
    copy(child = newChild)
}

/**
 * `RollingWinnow(text, w, k)`: winnowing-style document fingerprint from a
 * polynomial rolling hash. Normalizes the text exactly like [[TokenSeq]]'s
 * join (lowercase alnum tokens re-joined with single spaces), hashes every
 * w-char window with h = (Σ code_j · B^(w−1−j)) mod M (B = 257,
 * M = 2^31 − 1), and returns the K smallest DISTINCT window hashes in
 * ascending order — the classic local-fingerprinting sketch (Schleimer et
 * al., SIGMOD'03 winnowing family): a near-duplicate document shares most
 * minimal window hashes, and the rolling window makes the sketch
 * shift-invariant under insertions. Mirrored relationally in DuckDB
 * (chars × window-start join with the same precomputed power table) —
 * term sums stay under 2^42, so BIGINT arithmetic is exact on both
 * engines. Texts shorter than w yield an empty array.
 *
 * `joined = true` returns the dash-joined STRING instead — wrapping the
 * array form in `concat_ws(transform(...))` re-inlines this expression
 * into the transform lambda (CollapseProject) and evaluates it once PER
 * ELEMENT through the interpreted higher-order path (measured 10× on the
 * fingerprint query).
 */
case class RollingWinnow(child: Expression, w: Int, k: Int, joined: Boolean = false)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType =
    if (joined) StringType else ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rolling_winnow"

  /** P_j = B^(w−1−j) mod M, spliced identically into the oracle SQL. */
  @transient private lazy val powers: Array[Long] = RollingWinnow.powers(w)

  override def nullSafeEval(input: Any): Any = {
    val nt = Tokens(input.asInstanceOf[UTF8String]).mkString(" ")
    val n = nt.length
    val out: Array[Long] =
      if (n < w) Array.empty[Long]
      else {
        val hs = new java.util.TreeSet[java.lang.Long]()
        var i = 0
        while (i <= n - w) {
          var acc = 0L
          var j = 0
          while (j < w) { acc += nt.charAt(i + j).toLong * powers(j); j += 1 }
          hs.add(acc % RollingWinnow.M)
          i += 1
        }
        val arr = new Array[Long](math.min(k, hs.size))
        val it = hs.iterator()
        var m = 0
        while (m < arr.length) { arr(m) = it.next(); m += 1 }
        arr
      }
    if (joined) UTF8String.fromString(out.mkString("-"))
    else new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): RollingWinnow =
    copy(child = newChild)
}

object RollingWinnow {
  val B = 257L
  val M = 2147483647L // 2^31 − 1
  def powers(w: Int): Array[Long] = {
    val p = new Array[Long](w)
    p(w - 1) = 1L
    var j = w - 2
    while (j >= 0) { p(j) = p(j + 1) * B % M; j -= 1 }
    p
  }
}

/**
 * `QuantizeVec(emb)`: exact integer quantization of an ARRAY<FLOAT>
 * embedding — q_i = floor(double(x_i) · 2^20) as BIGINT (`VectorOps`
 * determinism scheme: float→double widening exact, power-of-two multiply
 * exact, floor exact). Value-identical to
 * `transform(emb, x -> cast(floor(cast(x as double) * 1048576.0) as long))`
 * — one native pass instead of an interpreted per-element lambda that
 * CollapseProject additionally re-inlines into every consumer of the
 * quantized column.
 */
case class QuantizeVec(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "quantize_vec"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = math.floor(arr.getFloat(i).toDouble * 1048576.0).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): QuantizeVec =
    copy(child = newChild)
}

/**
 * `ArrayIntersectSize(a, b)`: number of distinct common elements of two
 * string arrays whose elements are ALREADY distinct within each array (the
 * gram/shingle arrays from [[CharGramSeq]]/[[WordShingles]] are). Value-
 * identical to `size(array_intersect(a, b))` under that precondition, but
 * one hash-set pass instead of the interpreted `SQLOpenHashSet` machinery
 * (measured ~20× on the dedup verify stage, where it runs once per
 * candidate pair).
 */
case class ArrayIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "array_intersect_size"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (small, large) =
      if (x.numElements() <= y.numElements()) (x, y) else (y, x)
    val set = new java.util.HashSet[UTF8String](small.numElements() * 2)
    var i = 0
    val n = small.numElements()
    while (i < n) { set.add(small.getUTF8String(i)); i += 1 }
    var acc = 0
    var j = 0
    val m = large.numElements()
    while (j < m) { if (set.contains(large.getUTF8String(j))) acc += 1; j += 1 }
    acc
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayIntersectSize =
    copy(left = newLeft, right = newRight)
}

/**
 * `HammingStr(a, b)`: positions at which two equal-length ASCII strings
 * differ — the Hamming distance between two '0'/'1' SimHash signatures.
 * Value-identical to
 * `size(filter(sequence(1, L), i -> substr(a,i,1) != substr(b,i,1)))` for
 * equal-length inputs, but a codegen'd byte-compare loop instead of ~L
 * interpreted lambda evaluations with two UTF8String allocations each.
 * NULL on length mismatch (malformed input fails loudly, mirroring
 * [[LongDot]]).
 */
case class HammingStr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "hamming_str"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[UTF8String]
    val y = b.asInstanceOf[UTF8String]
    val n = x.numBytes()
    if (n != y.numBytes()) return null
    var acc = 0L
    var i = 0
    while (i < n) { if (x.getByte(i) != y.getByte(i)) acc += 1; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numBytes();
         |if ($n != $b.numBytes()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.getByte($i) != $b.getByte($i)) $acc++;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingStr =
    copy(left = newLeft, right = newRight)
}

/**
 * `TokenWindowHash(toks, w)`: the stride-1 w-token window fingerprints of
 * an `ARRAY<STRING>` token sequence as `ARRAY<STRUCT<h1 BIGINT, h2 BIGINT>>`
 * (element i = the fingerprint of tokens [i, i+w)), built from TWO
 * independent polynomial rolling hashes mod the Mersenne prime 2^61 − 1 —
 * the O(n) raw-scale kernel behind `TextDedup.substrDedup`'s exact-substring
 * pass.
 *
 * Why it exists: the SQL-composable form fingerprints each position with
 * `md5(array_join(slice(toks, k, w), ' '))` — w× transient bytes PER TOKEN
 * (string build + md5 over ~w tokens at every stride-1 position), the
 * suite's heaviest map stage. This kernel md5s each token ONCE (the two
 * 61-bit token values come from independent md5 halves) and rolls the
 * window in O(1) per position: remove the leading term, multiply by the
 * base, add the next token.
 *
 * Equality contract: two windows fingerprint equal iff their token
 * sequences are equal, up to hash collisions at ≥ 122 independent bits —
 * collision expectation n²/2^123 stays ≪ 1 far beyond 10^16 windows
 * (100 TB-corpus mass), matching the md5 form's effective exactness. The
 * classes match the md5 form's on any real corpus, which is what the
 * substrDedup spec pins (the DuckDB oracle keeps the md5 form — only
 * equality of fingerprints ever reaches the operator's output, never the
 * fingerprint values). Texts shorter than w yield an empty array; null
 * array elements are hashed as the empty token (TokenSeq never emits
 * nulls).
 */
case class TokenWindowHash(child: Expression, w: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("h1", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("h2", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "token_window_hash"

  import TokenWindowHash._

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val md = MessageDigest.getInstance("MD5")
    // per-token 61-bit values from independent md5 halves, computed once
    val t1 = new Array[Long](n)
    val t2 = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val d = md.digest(if (s == null) Array.emptyByteArray else s.getBytes)
      t1(i) = java.lang.Long.remainderUnsigned(beLong(d, 0), M61)
      t2(i) = java.lang.Long.remainderUnsigned(beLong(d, 8), M61)
      md.reset()
      i += 1
    }
    val out = new Array[Any](n - w + 1)
    // leading-term weights B^(w−1) mod M for the rolling removal
    val p1 = powMod(B1, w - 1)
    val p2 = powMod(B2, w - 1)
    var a1 = 0L
    var a2 = 0L
    i = 0
    while (i < w) { // initial window: Horner
      a1 = addMod(mulMod(a1, B1), t1(i))
      a2 = addMod(mulMod(a2, B2), t2(i))
      i += 1
    }
    out(0) = InternalRowOf(a1, a2)
    var k = 1
    while (k <= n - w) {
      a1 = addMod(mulMod(subMod(a1, mulMod(t1(k - 1), p1)), B1), t1(k + w - 1))
      a2 = addMod(mulMod(subMod(a2, mulMod(t2(k - 1), p2)), B2), t2(k + w - 1))
      out(k) = InternalRowOf(a1, a2)
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenWindowHash =
    copy(child = newChild)
}

object TokenWindowHash {
  /** Mersenne prime 2^61 − 1: 128-bit products reduce with two shift-add
   * folds, no BigInteger. */
  val M61 = 2305843009213693951L
  /** Two fixed odd bases — the fingerprints are content hashes, not
   * security primitives; non-adversarial corpora are the contract. */
  val B1 = 1000003L
  val B2 = 998244353L

  private def InternalRowOf(a: Long, b: Long) =
    org.apache.spark.sql.catalyst.InternalRow(a, b)

  /** Big-endian long from 8 md5 bytes at `off`. */
  private[graft] def beLong(d: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(off + i) & 0xffL); i += 1 }
    v
  }

  /** (a · b) mod 2^61−1 for a, b ∈ [0, M61): fold the 128-bit product —
   * 2^64 ≡ 2^3 (mod 2^61−1), so x mod M = (lo & M) + ((hi << 3) | (lo >>> 61))
   * folded once more. */
  private[graft] def mulMod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var r = (lo & M61) + ((hi << 3) | (lo >>> 61))
    r = (r & M61) + (r >>> 61)
    if (r >= M61) r - M61 else r
  }

  private[graft] def addMod(a: Long, b: Long): Long = {
    val r = a + b // both < 2^61: no overflow
    if (r >= M61) r - M61 else r
  }

  private[graft] def subMod(a: Long, b: Long): Long = {
    val r = a - b
    if (r < 0) r + M61 else r
  }

  private[graft] def powMod(b: Long, e: Int): Long = {
    var r = 1L
    var base = b
    var k = e
    while (k > 0) {
      if ((k & 1) == 1) r = mulMod(r, base)
      base = mulMod(base, base)
      k >>= 1
    }
    r
  }
}
