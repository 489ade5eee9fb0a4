package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One media asset: opaque payload bytes + typed metadata. The binary
 * column is the 100 TB-scale contract — images/audio/video ride through
 * the engine as `BINARY` with schema'd metadata, never decoded until a
 * feature-extraction stage asks. */
case class Asset(
    asset_id: Long,
    media_type: String,
    payload: Array[Byte],
    meta_chars: Long,
    meta_lang: String)

/** Output of the (stubbed) decode/feature stage. `resized_w/h` are the
 * fit-within-[[Multimodal.ResizeTarget]] dimensions (aspect preserved,
 * integer arithmetic); `sampled_frames` the stride-sampled frame indices
 * (up to [[Multimodal.FrameSampleK]], dash-joined for engine-portable
 * comparison). */
case class AssetFeatures(
    asset_id: Long,
    n_bytes: Long,
    checksum: String,
    width: Long,
    height: Long,
    frames: Long,
    resized_w: Long,
    resized_h: Long,
    sampled_frames: String)

/**
 * Multimodal-column plumbing (SURVEY.md §7.2-M7): treat media as opaque
 * `BINARY` columns with typed metadata; run decode / feature-extract /
 * frame-sample per partition in batches.
 *
 * The container has no image/audio codecs, so [[decodeStub]] is a
 * clearly-marked deterministic fake — but everything AROUND it is the real
 * Spark shape a production decoder would plug into:
 *  - assets are a typed `Dataset[Asset]` (binary payload + metadata
 *    columns), built here from `documents` (text bytes standing in for
 *    media bytes);
 *  - feature extraction is `mapPartitions` over the typed Dataset — the
 *    Scala analog of `mapInPandas`: one iterator per partition, so a real
 *    decoder would amortize codec/model setup per partition, exactly the
 *    batch shape that matters at scale, and the narrow (no-shuffle)
 *    dependency keeps it pipelined with the scan;
 *  - [[features]] (the oracle-checked query) computes the SAME values as
 *    pure Column expressions, proving the stub's arithmetic is
 *    engine-portable and giving the driver a DuckDB-checkable surface.
 */
object Multimodal {

  /** Documents → typed media assets: payload = UTF-8 bytes of `text`
   * (deterministic stand-in for image bytes), metadata carried alongside. */
  def assets(docs: DataFrame): Dataset[Asset] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col("doc_id").as("asset_id"),
      lit("text/plain").as("media_type"),
      col("text").cast("binary").as("payload"),
      col("n_chars").as("meta_chars"),
      col("lang").as("meta_lang")).as[Asset]
  }

  /** Fit-within resize target (longest side) and frame-sample count. */
  val ResizeTarget = 224L
  val FrameSampleK = 4

  /** Fit-within resize: scale so max(w, h) == [[ResizeTarget]] (never
   * upscale), aspect preserved with floor arithmetic — the integer core a
   * real resampler would share. */
  private[operators] def resize(w: Long, h: Long): (Long, Long) = {
    val side = math.max(w, h)
    if (side <= ResizeTarget) (w, h)
    else (w * ResizeTarget / side, h * ResizeTarget / side)
  }

  /** Evenly-strided distinct frame indices: floor(i · frames / k),
   * i = 0..k−1 — the standard uniform temporal sample. */
  private[operators] def sampleFrames(frames: Long): Seq[Long] =
    (0 until FrameSampleK).map(i => i * frames / FrameSampleK).distinct

  /** STUB decoder: a real implementation would decode `payload` with an
   * image/audio codec here. This deterministic fake derives pseudo
   * dimensions from the byte length so the plumbing (schema, batching,
   * partition-local execution) is fully exercised and test-checkable;
   * resize and frame-sampling run on the fake dimensions with the real
   * integer arithmetic. */
  def decodeStub(a: Asset): AssetFeatures = {
    val n = a.payload.length.toLong
    val w = 64L + n % 640L
    val h = 64L + n % 480L
    val frames = 1L + n % 16L
    val (rw, rh) = resize(w, h)
    AssetFeatures(
      asset_id = a.asset_id,
      n_bytes = n,
      checksum = md5Hex(a.payload),
      width = w,
      height = h,
      frames = frames,
      resized_w = rw,
      resized_h = rh,
      sampled_frames = sampleFrames(frames).mkString("-"))
  }

  private def md5Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"$b%02x").mkString

  /** Partition-batched feature extraction — the `mapInPandas` analog. The
   * iterator-in/iterator-out shape is where a real decoder would hoist
   * per-partition setup (codec contexts, model weights). */
  def extractFeatures(as: Dataset[Asset]): Dataset[AssetFeatures] = {
    val spark = as.sparkSession
    import spark.implicits._
    as.mapPartitions { it: Iterator[Asset] =>
      // per-partition setup would go here (open codec, load model, ...)
      it.map(decodeStub)
    }
  }

  /** Column-expression twin of [[extractFeatures]] over the same assets —
   * identical values, DuckDB-expressible, used as the driver oracle for
   * the multimodal path. All arithmetic is exact BIGINT (DIV, %); the
   * frame sample is sorted-distinct before stringifying so both engines
   * agree independent of their list_distinct ordering. */
  def features(docs: DataFrame): DataFrame = {
    val side = greatest(col("width"), col("height"))
    docs.select(
      col("doc_id").as("asset_id"),
      octet_length(col("text").cast("binary")).cast("bigint").as("n_bytes"),
      md5(col("text").cast("binary")).as("checksum"))
      .withColumn("width", lit(64L) + col("n_bytes") % 640L)
      .withColumn("height", lit(64L) + col("n_bytes") % 480L)
      .withColumn("frames", lit(1L) + col("n_bytes") % 16L)
      .withColumn("resized_w",
        when(side <= ResizeTarget, col("width"))
          .otherwise(expr(s"width * $ResizeTarget DIV greatest(width, height)")))
      .withColumn("resized_h",
        when(side <= ResizeTarget, col("height"))
          .otherwise(expr(s"height * $ResizeTarget DIV greatest(width, height)")))
      .withColumn("sampled_frames", expr(
        s"concat_ws('-', transform(array_sort(array_distinct(" +
          s"transform(sequence(0, ${FrameSampleK - 1}), i -> CAST(i AS BIGINT) * frames DIV $FrameSampleK))), " +
          "x -> CAST(x AS STRING)))"))
  }

  /** Exact BINARY-payload deduplication — the first pass of any
   * multimodal ingest (the same image/clip arrives from thousands of
   * pages): group assets by payload checksum, keep the smallest
   * asset_id as keeper, report the duplicate mass. Output
   * (checksum, n_assets, keeper_id, n_bytes) for checksums seen > once.
   *
   * Shape: md5 rides the scan projection (no payload ever shuffles —
   * only the 32-hex digest + id), then one partial-capable hash
   * aggregate on the digest; at 100 TB of media the exchange carries
   * digests, not bytes, which is the entire point of checksum-first
   * dedup. Collision risk at md5's 2⁻⁶⁴ scale is the industry-accepted
   * trade for a first pass (byte-verify the tiny duplicate set if the
   * stakes demand it). */
  def payloadDedup(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id").as("asset_id"),
        md5(col("text").cast("binary")).as("checksum"),
        octet_length(col("text").cast("binary")).cast("bigint").as("n_bytes"))
      .groupBy(col("checksum"))
      .agg(count(lit(1)).as("n_assets"),
        min(col("asset_id")).as("keeper_id"),
        max(col("n_bytes")).as("n_bytes"))
      .filter(col("n_assets") > 1)

  def payloadDedupSql(table: String): String =
    s"""SELECT md5(text) AS checksum, count(*) AS n_assets,
       | min(doc_id) AS keeper_id,
       | max(CAST(octet_length(encode(text)) AS BIGINT)) AS n_bytes
       |FROM $table
       |GROUP BY 1 HAVING count(*) > 1""".stripMargin

  // ---- perceptual near-duplicate detection ---------------------------------

  /** Signature width of the payload perceptual hash. */
  val PhashBits = 64
  /** Candidate-blocking chunks (4 × 16-bit — [[TextDedup.SimHashChunks]]'
   * pigeonhole trade applied to the payload signature). */
  val PhashChunks = 4
  /** Hamming verify threshold. Measured on the shared corpus (sf0.01,
   * all 124 750 pairs): ≤ 6 plus the size band passes 0.5% of far pairs
   * (token-Jaccard < 0.4) at 81% precision against the ≥ 0.7 band —
   * the histogram hash recalls the closest-composition pairs, the
   * regime a perceptual first pass is for. */
  val PhashHammingMax = 6
  /** Relative size band (percent): candidate payloads must agree in
   * length within 3% — the coarse-size co-screen every production
   * perceptual dedup applies (images: resolution/aspect) that kills
   * histogram-coincidence pairs of very different payloads. */
  val PhashLenBandPct = 3

  /** Probe values histogrammed by the signature: a real decoder
   * histograms all 256 byte values of the decoded payload; over the
   * deterministic text stand-in the probe set is the normalized-text
   * alphabet (the [[graft.operators.Corpus]] charEntropy alphabet),
   * which carries ~100% of this corpus's byte mass. */
  private[operators] val PhashAlphabet: Seq[String] =
    (('a' to 'z') ++ ('0' to '9')).map(_.toString) :+ " "

  /** signs(i)(j) = ±1 from bit j of md5(alphabet(i)) — plan-time
   * constants (md5 of fixed one-char strings); the DuckDB oracle
   * re-derives the identical weights from `md5(ch)` at query time, so
   * the hash check also certifies the constant fold. Bit j of the hex
   * digest = bit (7 − j%8) of digest byte j/8, the [[TextDedup]] SimHash
   * bit-order contract. */
  private lazy val phashSigns: IndexedSeq[Array[Int]] = PhashAlphabet.map { ch =>
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(ch.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Array.tabulate(PhashBits)(j => (((d(j >> 3) >> (7 - (j & 7))) & 1) * 2 - 1))
  }.toIndexedSeq

  /** 64-char '0'/'1' histogram-SimHash of the payload: bit_j is the sign
   * of Σ_c count(c) · signs(c)(j) over the probe alphabet — a signed
   * random projection of the payload's byte-value histogram, so a small
   * payload edit moves few counts by little and flips few bits (the
   * perceptual property), where a cryptographic checksum flips half.
   *
   * Shape: the 37 counts are bounded-alphabet `length − length(replace)`
   * ops (the charEntropy zero-explode trick — scan-speed at any size),
   * computed ONCE per row by binding the counts array through a
   * single-element `transform` lambda: a plain projection would be
   * CollapseProject-inlined into all 64 bit expressions, re-running
   * every replace 64×. The ±sums are pure integer adds of plan-time
   * constants. */
  def phashSig(payloadText: Column): Column = {
    val cnts = array(PhashAlphabet.map(ch =>
      (length(payloadText) - length(replace(payloadText, lit(ch), lit(""))))
        .cast("bigint")): _*)
    element_at(transform(array(cnts), cs =>
      concat_ws("", (0 until PhashBits).map { j =>
        val s = PhashAlphabet.indices.map { i =>
          val t = element_at(cs, i + 1)
          if (phashSigns(i)(j) > 0) t else -t
        }.reduce(_ + _)
        when(s > 0L, lit("1")).otherwise(lit("0"))
      }: _*)), 1)
  }

  /** Perceptual near-duplicate payload pairs — the near-dup completion
   * of [[payloadDedup]]'s exact checksum pass (every text/vector family
   * has one; this is the multimodal member): histogram-SimHash
   * signature, [[PhashChunks]]×16-bit chunk blocking, Hamming ≤
   * [[PhashHammingMax]] AND relative-size-band verify. Output
   * (id_a, id_b, hamming).
   *
   * Scale shape — exactly [[TextDedup.simhashDedup]]'s: the signature is
   * a scan-projection (no payload bytes ever shuffle — 64 chars + two
   * BIGINTs ride the one groupBy exchange), buckets are capped at
   * [[TextDedup.MaxBucket]] by [[TextDedup.cappedPairs]] with observed
   * drop counts, Hamming verification is inline during pair expansion
   * (native [[graft.plans.HammingStr]]), and the size band prunes
   * histogram-coincidence candidates before the dedup exchange. */
  def phashNearDup(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    val chunkLen = PhashBits / PhashChunks
    val sigs = docs.select(col("doc_id"),
      length(col("text")).cast("bigint").as("n_units"),
      phashSig(col("text")).as("sig"))
    val postings = sigs.select(col("doc_id"), col("n_units"), col("sig"),
      explode(transform(sequence(lit(0), lit(PhashChunks - 1)),
        j => concat(j.cast("string"), lit(":"),
          substr(col("sig"), j * chunkLen + 1, lit(chunkLen))))).as("chunk"))
    val (pairs, observed) = TextDedup.cappedPairs(postings, "chunk", TextDedup.MaxBucket)
    val (na, nb) = (col("n_units_a"), col("n_units_b"))
    val verified = pairs
      .withColumn("hamming", toCol(graft.plans.HammingStr(toExpr(col("sig_a")), toExpr(col("sig_b")))))
      .filter(col("hamming") <= PhashHammingMax &&
        abs(na - nb) * 100 <= lit(PhashLenBandPct.toLong) * greatest(na, nb))
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
    observed(verified, "graft_mm_phash_buckets")
  }

  /** Oracle — the relational mirror, deriving the ± weights from
   * `md5(ch)` at query time (certifying the Spark side's plan-time
   * constant fold): docs × 37 probe rows → counts, × 64 bit rows →
   * signed sums, sign-string per doc, then the [[TextDedup.boundedSql]]
   * chunk blocking and Hamming + size-band verify. */
  def phashNearDupSql(table: String): String = {
    val chunkLen = PhashBits / PhashChunks
    val alphaList = PhashAlphabet.map(ch => s"'$ch'").mkString("[", ", ", "]")
    s"""WITH alpha AS (SELECT unnest($alphaList) AS ch),
       |d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_units FROM $table),
       |pc AS (
       |  SELECT d.doc_id, md5(a.ch) AS h,
       |         CAST(length(d.text) - length(replace(d.text, a.ch, '')) AS BIGINT) AS cnt
       |  FROM d CROSS JOIN alpha a),
       |bitsum AS (
       |  SELECT doc_id, j,
       |         sum(cnt * (2 * (((instr('0123456789abcdef', substring(h, (j // 4) + 1, 1)) - 1)
       |                          >> (3 - (j % 4))) & 1) - 1)) AS sm
       |  FROM pc, (SELECT unnest(range(0, $PhashBits)) AS j)
       |  GROUP BY doc_id, j),
       |sigs AS (
       |  SELECT doc_id, string_agg(CASE WHEN sm > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS sig
       |  FROM bitsum GROUP BY doc_id),
       |chunked AS (
       |  SELECT s.doc_id, d.n_units, s.sig,
       |         j::VARCHAR || ':' || substring(s.sig, j*$chunkLen + 1, $chunkLen) AS chunk
       |  FROM sigs s JOIN d USING (doc_id)
       |  CROSS JOIN (SELECT unnest(range(0, $PhashChunks)) AS j)),
       |cok AS ${TextDedup.boundedSql("chunked", "chunk", TextDedup.MaxBucket)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, a.sig AS sig_a, a.n_units AS na,
       |                  b.doc_id AS id_b, b.sig AS sig_b, b.n_units AS nb
       |  FROM cok a JOIN cok b ON a.chunk = b.chunk AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT id_a, id_b, na, nb,
       |         len(list_filter(range(1, ${PhashBits + 1}),
       |             i -> substring(sig_a, i, 1) <> substring(sig_b, i, 1))) AS hamming
       |  FROM cand)
       |WHERE hamming <= $PhashHammingMax
       |  AND abs(na - nb) * 100 <= $PhashLenBandPct * greatest(na, nb)""".stripMargin
  }

  def featuresSql(table: String): String = {
    val nb = "CAST(octet_length(encode(text)) AS BIGINT)"
    s"""SELECT doc_id AS asset_id, $nb AS n_bytes,
       | md5(text) AS checksum,
       | 64 + $nb % 640 AS width,
       | 64 + $nb % 480 AS height,
       | 1 + $nb % 16 AS frames,
       | CASE WHEN greatest(64 + $nb % 640, 64 + $nb % 480) <= $ResizeTarget
       |      THEN 64 + $nb % 640
       |      ELSE (64 + $nb % 640) * $ResizeTarget // greatest(64 + $nb % 640, 64 + $nb % 480) END AS resized_w,
       | CASE WHEN greatest(64 + $nb % 640, 64 + $nb % 480) <= $ResizeTarget
       |      THEN 64 + $nb % 480
       |      ELSE (64 + $nb % 480) * $ResizeTarget // greatest(64 + $nb % 640, 64 + $nb % 480) END AS resized_h,
       | array_to_string([CAST(x AS VARCHAR) for x in
       |   list_sort(list_distinct([i * (1 + $nb % 16) // $FrameSampleK for i in range(0, $FrameSampleK)]))], '-') AS sampled_frames
       |FROM $table""".stripMargin
  }
}
