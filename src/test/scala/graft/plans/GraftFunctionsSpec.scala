package graft.plans

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestHarness

/** The SQL surface of the native expressions: registered functions must be
 * callable from plain SQL and agree with the built-in compositions they
 * accelerate. */
class GraftFunctionsSpec extends AnyFunSuite with SparkTestHarness {

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftFunctions.register(spark)
  }

  test("long_dot from SQL equals the aggregate/zip_with composition") {
    val r = spark.sql(
      """SELECT long_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d,
        |       aggregate(zip_with(array(1L, 2L, 3L), array(4L, 5L, 6L),
        |                 (x, y) -> x * y), 0L, (acc, x) -> acc + x) AS ref""".stripMargin).head()
    assert(r.getLong(0) === 32L)
    assert(r.getLong(0) === r.getLong(1))
  }

  test("minhash_sig from SQL equals the md5/array_min composition") {
    val r = spark.sql(
      """SELECT minhash_sig(array('a b c', 'b c d')) AS sig,
        |       transform(sequence(1, 12), j -> array_min(transform(
        |         array('a b c', 'b c d'),
        |         s -> md5(concat(cast(j AS STRING), ':', s))))) AS ref""".stripMargin).head()
    assert(r.getSeq[String](0) === r.getSeq[String](1))
    assert(r.getSeq[String](0).length === 12)
  }

  test("word_shingles and simhash64 from SQL match the Column API") {
    val r = spark.sql(
      "SELECT word_shingles('the fast dog jumps the fast dog') AS sh, " +
        "simhash64('the fast dog') AS sig").head()
    assert(r.getSeq[String](0) ===
      Seq("the fast dog", "fast dog jumps", "dog jumps the", "jumps the fast"))
    assert(r.getString(1).length === 64 && r.getString(1).forall(c => c == '0' || c == '1'))
  }

  test("hash_embed equals the aggregate/zip_with composition and signs to simhash64") {
    // plain, empty, punctuation-only, non-ASCII, repeated-token, and a
    // two-token text, whose bit sums are 0 wherever the two md5s differ
    val texts = Seq("the fast dog the", "", "?!... -- ,;", "Naïve café ÜBER straße",
      "dog dog dog cat", "alpha beta")
    val sums = texts.map { t =>
      val r = spark.sql(
        """SELECT hash_embed(:t) AS q,
          |       aggregate(
          |         transform(filter(split(lower(:t), '[^a-z0-9]+'), t -> t != ''), tk -> md5(tk)),
          |         array_repeat(0L, 64),
          |         (acc, h) -> zip_with(acc, sequence(0, 63), (a, j) ->
          |           a + 2 * (shiftright(instr('0123456789abcdef', substring(h, (j DIV 4) + 1, 1)) - 1,
          |                               3 - (j % 4)) & 1) - 1)) AS ref,
          |       simhash64(:t) AS sig""".stripMargin, Map("t" -> t)).head()
      val q = r.getSeq[Long](0)
      assert(q === r.getSeq[Long](1), t)
      assert(q.length === 64)
      // the sign projection of the sums IS the SimHash bit string; a sum
      // of exactly 0 gives '0'
      assert(q.map(s => if (s > 0) '1' else '0').mkString === r.getString(2), t)
      t -> q
    }.toMap
    assert(sums("") === Seq.fill(64)(0L), "token-free text embeds to the zero vector")
    assert(sums("?!... -- ,;") === Seq.fill(64)(0L), "punctuation is no token")
    assert(sums("alpha beta").contains(0L), "the two-token text must reach a 0 sum")
    assert(sums("dog dog dog cat").forall(s => s != 0L && math.abs(s) % 2 == 0))
  }

  test("char_gram_seq emits distinct sampled grams of the normalized text") {
    val grams = spark.sql("SELECT char_gram_seq('The  fast dog jumps over the lazy dog!') AS g")
      .head().getSeq[String](0)
    assert(grams.distinct === grams)
    assert(grams.forall(_.length === 16))
  }

  test("hamming_str counts differing positions; NULL on length mismatch") {
    val r = spark.sql(
      """SELECT hamming_str('10110', '10011') AS h,
        |       hamming_str('101', '10') AS bad,
        |       hamming_str('', '') AS empty""".stripMargin).head()
    assert(r.getLong(0) === 2L)
    assert(r.isNullAt(1), "length mismatch must be NULL, not a truncated count")
    assert(r.getLong(2) === 0L)
  }

  test("long_dot is NULL on mismatched vector lengths (no silent truncation)") {
    val r = spark.sql(
      "SELECT long_dot(array(1L, 2L), array(3L)) AS bad, " +
        "long_dot(array(), array()) AS empty").head()
    assert(r.isNullAt(0))
    assert(r.getLong(1) === 0L)
  }

  test("minhash_sig of an empty shingle array is NULL (never null elements)") {
    val r = spark.sql(
      "SELECT minhash_sig(array()) AS nil, minhash_sig(array('x')) AS one").head()
    assert(r.isNullAt(0), "empty input must yield a NULL array, not [null,...]")
    assert(r.getSeq[String](1).length === 12)
  }

  test("array_intersect_size, quantize_vec, rolling_winnow from SQL") {
    val r = spark.sql(
      """SELECT array_intersect_size(array('a','b','c'), array('b','c','d')) AS ji,
        |       quantize_vec(array(CAST(0.5 AS FLOAT), CAST(-0.25 AS FLOAT))) AS q,
        |       rolling_winnow('the fast dog jumps over the lazy dog') AS rw,
        |       rolling_winnow('ab') AS rw_short""".stripMargin).head()
    assert(r.getInt(0) === 2)
    assert(r.getSeq[Long](1) === Seq(524288L, -262144L))
    val rw = r.getSeq[Long](2)
    assert(rw.nonEmpty && rw.length <= 4 && rw === rw.sorted)
    assert(rw.forall(h => h >= 0 && h < 2147483647L))
    assert(r.getSeq[Long](3).isEmpty, "texts shorter than the window have no sketch")
  }

  test("wrong arity raises an analysis error naming the function") {
    val e = intercept[Exception](spark.sql("SELECT long_dot(array(1L))").head())
    assert(e.getMessage.contains("long_dot"), e.getMessage)
    val e2 = intercept[Exception](spark.sql("SELECT simhash64('a', 'b')").head())
    assert(e2.getMessage.contains("simhash64"), e2.getMessage)
  }
}
