package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestHarness
import graft.functions.TextFunctions
import graft.sources.Tables

/** Operator-level checks on the sf0.001 shared tables (500 docs / 500
 * vectors). Cross-engine value equality is covered by the driver's DuckDB
 * oracle (SparkEntry.oracleSql); these specs pin the semantic invariants. */
class OperatorsSpec extends AnyFunSuite with SparkTestHarness {

  private val dir = "/root/testdata/sf0.001"

  test("text functions: tokens, count, fingerprint, quality bounds") {
    val df = spark.range(1).select(lit("The  fast,fast dog!").as("text"))
    val row = df.select(
      TextFunctions.tokens(col("text")).as("t"),
      TextFunctions.tokenCount(col("text")).as("n"),
      TextFunctions.fingerprint(col("text")).as("fp"),
      TextFunctions.qualityScore(col("text")).as("q")).head()
    assert(row.getSeq[String](0) === Seq("the", "fast", "fast", "dog"))
    assert(row.getLong(1) === 4L)
    assert(row.getString(2).length === 32)
    assert(row.getDouble(3) >= 0.0 && row.getDouble(3) <= 1.0)
  }

  test("exact dedup keeps one keeper per distinct normalized text") {
    val docs = Tables.documents(spark, dir)
    val out = TextDedup.exact(docs)
    val total = docs.count()
    assert(out.agg(sum("n_docs")).head().getLong(0) === total)
    assert(out.filter(col("keeper_id").isNull).count() === 0)
  }

  test("minhash-LSH finds the planted near-dup pairs, all above threshold") {
    val out = TextDedup.minhashLsh(Tables.documents(spark, dir)).collect()
    assert(out.nonEmpty, "sf0.001 has planted near-duplicates")
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))
    assert(out.forall(r => r.getDouble(2) >= TextDedup.MinHashThreshold))
  }

  test("ngram-jaccard agrees with minhash-LSH on high-sim pairs") {
    val docs = Tables.documents(spark, dir)
    val mh = TextDedup.minhashLsh(docs)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ng = TextDedup.ngramJaccard(docs)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // word-trigram Jaccard ≥ 0.8 pairs are char-4-gram ≥ 0.6 pairs too
    assert(mh.subsetOf(ng), s"minhash pairs missing from ngram: ${mh -- ng}")
  }

  test("ngram containment catches a short doc lifted into a long one that " +
       "Jaccard misses, and subsumes every Jaccard pair") {
    import spark.implicits._
    // synthetic: doc 1 is wholly contained in the much longer doc 2 —
    // containment ~1.0, Jaccard far below threshold
    val core = "seven wizards brew strange potions in the misty mountain " +
      "caves at midnight while the river sings below the ancient stone bridge"
    val padding = (1 to 12).map(i =>
      s"unrelated filler sentence number $i about databases indexes " +
        s"optimizers compilers networks caches schedulers and allocator design"
    ).mkString(" ")
    val docs = Seq(
      (1L, core, "en", "srcA"),
      (2L, s"$padding $core $padding", "en", "srcB"),
      (3L, "entirely different text with no shared content whatsoever in " +
        "any fragment of its words or characters at all", "en", "srcC")
    ).toDF("doc_id", "text", "lang", "source")
    val cont = TextDedup.ngramContainment(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(cont.keySet === Set((1L, 2L)), s"got $cont")
    assert(cont((1L, 2L)) >= TextDedup.ContainThreshold)
    val jac = TextDedup.ngramJaccard(docs).collect()
    assert(jac.isEmpty, "the lifted pair must be invisible to union-Jaccard")
    // on the real corpus: containment >= jaccard pair-wise, so every
    // Jaccard near-dup is a containment pair too (same candidates,
    // smaller denominator, equal-or-higher threshold direction)
    val real = Tables.documents(spark, dir)
    val jacReal = TextDedup.ngramJaccard(real)
      .filter(col("jaccard") >= TextDedup.ContainThreshold)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val contReal = TextDedup.ngramContainment(real)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jacReal.subsetOf(contReal), s"missing: ${jacReal -- contReal}")
  }

  test("neardup source mix partitions exactly the minhash pair set with " +
       "normalized source ordering") {
    val docs = Tables.documents(spark, dir)
    val pairs = TextDedup.minhashLsh(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val srcOf = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = TextDedup.neardupSourceMix(docs).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(got.values.sum === pairs.length.toLong, "every pair classified once")
    val want = pairs.groupBy { case (a, b) =>
      val (sa, sb) = (srcOf(a), srcOf(b))
      if (sa <= sb) (sa, sb) else (sb, sa)
    }.view.mapValues(_.length.toLong).toMap
    assert(got === want)
    got.keys.foreach { case (a, b) => assert(a <= b, "unnormalized pair") }
  }

  test("simhash recalls most minhash near-dups (approximate by design)") {
    val docs = Tables.documents(spark, dir)
    val mh = TextDedup.minhashLsh(docs)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = TextDedup.simhashDedup(docs)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // SimHash over unigram multisets is a coarser signal than trigram
    // Jaccard: demand high but not total recall of the planted pairs
    val recall = (mh & sh).size.toDouble / mh.size
    assert(mh.nonEmpty && recall >= 0.7, s"recall $recall; missing ${mh -- sh}")
  }

  test("winnow dedup recalls most minhash near-dups (shift-invariant view)") {
    val docs = Tables.documents(spark, dir)
    val mh = TextDedup.minhashLsh(docs)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wn = TextDedup.winnowDedup(docs)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 4 minimal window hashes over the char stream is a much coarser
    // sketch than trigram Jaccard — demand solid but not total agreement
    val recall = (mh & wn).size.toDouble / mh.size
    assert(mh.nonEmpty && recall >= 0.6, s"recall $recall; missing ${mh -- wn}")
    // and the shift-invariance claim itself: one inserted word breaks
    // every token trigram near the edit, but far windows still match
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val shifted = "INSERTED " + base
    val pair = spark.createDataFrame(Seq((1L, base), (2L, shifted))).toDF("doc_id", "text")
    val got = TextDedup.winnowDedup(pair).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 2L)), "a prefix insertion must not break the sketch")
  }

  test("banded LSH near-dup: subset of brute force, recall >= 0.85, no cartesian") {
    val emb = Tables.embeddings(spark, dir)
    val brute = VectorOps.embeddingNearDupBrute(emb)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorOps.embeddingNearDup(emb)
    val got = lsh.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(brute), "bucketed pairs must verify the same threshold")
    val recall = (got & brute).size.toDouble / brute.size
    assert(brute.nonEmpty && recall >= 0.85, s"recall $recall; missing ${brute -- got}")
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "near-dup candidate stage must be an equi-join on the band key")
  }

  test("dup rate by source: rates recompute from distinct fingerprints") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma", "crawlA"), (2L, "alpha  beta GAMMA", "crawlA"),
      (3L, "unique one", "crawlA"),
      (4L, "x y z", "crawlB"), (5L, "totally different", "crawlB")
    ).toDF("doc_id", "text", "source")
    val out = Corpus.dupRateBySource(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // docs 1 and 2 normalize to the same fingerprint (case/whitespace)
    assert(out("crawlA") === ((3L, 2L, 1L, 1.0 / 3.0)))
    assert(out("crawlB") === ((2L, 2L, 0L, 0.0)))
  }

  test("event value histogram: bins partition the value line, counts total") {
    val ev = Tables.events(spark, dir)
    val out = Relational.eventValueHistogram(spark, dir).collect()
    val total = out.map(_.getLong(2)).sum
    assert(total === ev.filter(col("value").isNotNull).count())
    out.foreach { r =>
      val (bin, n, lo, hi) = (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(n > 0)
      val w = Relational.HistBinWidth
      assert(math.floor(lo / w).toLong === bin && math.floor(hi / w).toLong === bin,
        s"bin $bin must contain its own min/max ($lo, $hi)")
    }
  }

  test("user retention: cohort matrix recomputes from a driver-side fold") {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)))
    val firstWk = ev.groupBy(_._1).map { case (u, rows) => u -> rows.map(_._2).minBy(_.getTime) }
    val expected = ev.map { case (u, wk) => (u, firstWk(u), wk) }.distinct
      .groupBy { case (_, cw, aw) => (cw, aw) }
      .map { case (k, v) => k -> v.size.toLong }
    val out = Relational.userRetention(spark, dir).collect()
    assert(out.map(r => (r.getTimestamp(0), r.getTimestamp(1)) -> r.getLong(2)).toMap === expected)
    out.foreach { r =>
      val off = (r.getTimestamp(1).getTime - r.getTimestamp(0).getTime) / (7L * 86400 * 1000)
      assert(r.getLong(3) === off && off >= 0, "week_offset must be the non-negative week gap")
    }
  }

  test("key-skew profile: heavy hitters ranked with exact shares, top-N bounded") {
    import spark.implicits._
    // key 7 five times, key 3 three times, keys 10..17 once each = 16 rows
    val df = (Seq.fill(5)(7L) ++ Seq.fill(3)(3L) ++ (10L to 17L)).toDF("k")
    val out = Relational.keySkew(df, "k", topN = 3).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(7L, 3L, 10L), "count desc, key asc")
    assert(out.map(_.getLong(1)).toSeq === Seq(5L, 3L, 1L))
    assert(out.map(_.getDouble(2)).toSeq === Seq(5.0 / 16, 3.0 / 16, 1.0 / 16))
    assert(out.map(_.getLong(3)).toSeq === Seq(1L, 2L, 3L))
    // NULL keys at a tied boundary rank LAST — pinned on both engines
    // (Spark's bare ASC is NULLS FIRST, DuckDB's is NULLS LAST)
    val withNull = spark.createDataFrame(
      java.util.Arrays.asList(
        Seq(7L, 7L).map(k => org.apache.spark.sql.Row(Long.box(k))) ++
          Seq(org.apache.spark.sql.Row(null), org.apache.spark.sql.Row(null),
            org.apache.spark.sql.Row(Long.box(3L))): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))))
    val nk = Relational.keySkew(withNull, "k", topN = 3).collect()
    assert(nk.map(_.getLong(1)).toSeq === Seq(2L, 2L, 1L))
    assert(nk(0).getLong(0) === 7L && nk(1).isNullAt(0) && nk(2).getLong(0) === 3L,
      "on the 2-count tie the non-null key must precede the null key")
  }

  test("label centroids: exploded means recompute from a driver-side fold") {
    val emb = Tables.embeddings(spark, dir)
    val out = VectorOps.labelCentroids(emb).collect()
      .map(r => (r.getInt(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val raw = emb.select(col("label"), col("embedding")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    assert(raw.nonEmpty)
    raw.groupBy(_._1).foreach { case (label, vecs) =>
      (0 until VectorOps.Dim).foreach { d =>
        val qs = vecs.map(v => math.floor(v._2(d).toDouble * VectorOps.QuantScale).toLong)
        val (n, sumQ, centroid) = out((label, d.toLong))
        assert(n === vecs.length.toLong, s"label $label dim $d n_vecs")
        assert(sumQ === qs.sum, s"label $label dim $d sum_q")
        assert(centroid === qs.sum.toDouble / (n.toDouble * VectorOps.QuantScale),
          s"label $label dim $d centroid")
      }
    }
    assert(out.size === raw.map(_._1).distinct.length * VectorOps.Dim)
  }

  test("embedding covariance: upper-triangle cells recompute from a driver-side fold") {
    val emb = Tables.embeddings(spark, dir)
    val out = VectorOps.embCovariance(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out.size === VectorOps.Dim * (VectorOps.Dim + 1) / 2)
    val qs = emb.select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(x => math.floor(x.toDouble * VectorOps.QuantScale).toLong))
    val n = qs.length.toLong
    val s = VectorOps.QuantScale
    // spot-check the diagonal corner, one off-diagonal, and the far corner
    for ((i, j) <- Seq((0, 0), (0, 1), (3, 17), (63, 63))) {
      val sumQQ = qs.map(q => q(i) * q(j)).sum
      val sumI = qs.map(_(i)).sum
      val sumJ = qs.map(_(j)).sum
      val (gotN, gotQQ, gotCov) = out((i.toLong, j.toLong))
      assert(gotN === n && gotQQ === sumQQ, s"cell ($i,$j) sums")
      val expCov = sumQQ.toDouble / (n.toDouble * (s * s)) -
        (sumI.toDouble / (n.toDouble * s)) * (sumJ.toDouble / (n.toDouble * s))
      assert(gotCov === expCov, s"cell ($i,$j) cov")
    }
    // variance cells must be non-negative (an exact-arithmetic sanity bound)
    (0 until VectorOps.Dim).foreach { d =>
      assert(out((d.toLong, d.toLong))._3 >= 0.0, s"negative variance at dim $d")
    }
  }

  test("semantic dedup: exact in-cluster pruning + measured cross-cluster recall gain") {
    val emb = Tables.embeddings(spark, dir)
    val out = VectorOps.semanticDedup(emb).collect()
    assert(out.length === emb.count(), "one verdict row per corpus vector")
    val cid = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dropped = out.collect { case r if !r.getBoolean(2) => r.getLong(0) }.toSet
    // ground truth: b is droppable iff some a<b ANYWHERE has cosine >=
    // threshold (SemDedupSim == NearDupSim lets the brute near-dup pair
    // set serve as the ground truth)
    val brute = VectorOps.embeddingNearDupBrute(emb)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = brute.map(_._2)
    val inCluster = brute.collect { case (a, b) if cid(a) == cid(b) => b }
    assert(inCluster.nonEmpty, "sf0.001 has planted in-cluster near-dups")
    // exactness floor: every in-cluster droppable IS dropped (no cluster
    // exceeds the bucket cap at this scale), and nothing non-droppable is
    // ever dropped (the verify is exact cosine)
    assert(inCluster.subsetOf(dropped), "in-cluster pruning must stay exact")
    assert(dropped.subsetOf(truth), "a dropped vector must have a real smaller-id near-dup")
    // the round-11 gain: cross-cluster qualifying pairs — previously the
    // documented recall gap — are caught by the hyperplane-band branch
    val crossTruth = truth -- inCluster
    assert(crossTruth.nonEmpty, "sf0.001 has qualifying pairs straddling a cluster boundary")
    val crossCaught = dropped -- inCluster
    assert(crossCaught.nonEmpty, "the band branch must catch cross-cluster near-dups")
    // before/after recall vs the full droppable set (recorded in
    // BASELINE.md): without the band branch recall is the in-cluster
    // fraction; with it the residual misses are only no-band-agreement
    // pairs (~<=10% of crossTruth at the threshold)
    val before = VectorOps.semanticDedup(emb, crossClusterBands = false).collect()
      .collect { case r if !r.getBoolean(2) => r.getLong(0) }.toSet
    assert(before === inCluster, "cluster-only run reproduces the old semantics")
    val recallBefore = before.intersect(truth).size.toDouble / truth.size
    val recallAfter = dropped.size.toDouble / truth.size
    info(f"semantic_dedup droppable-recall: cluster-only $recallBefore%.3f " +
      f"(${before.size}/${truth.size}) -> with cross-cluster bands $recallAfter%.3f " +
      f"(${dropped.size}/${truth.size}); cross pairs caught ${crossCaught.size}/${crossTruth.size}")
    assert(recallAfter > recallBefore, "the band branch must raise recall")
    assert(recallAfter >= 0.9, "overall droppable-recall at/above the band design point")
  }

  test("semanticIncrementalSql derives its band machinery from the SAME " +
       "threshold parameter as the operator (round-11 advice)") {
    val dflt = VectorOps.semanticIncrementalSql("embeddings")
    assert(dflt.contains(s">= ${VectorOps.SemDedupSim}"),
      "default oracle verifies at the default threshold")
    val t = 0.8
    val sql = VectorOps.semanticIncrementalSql("embeddings", t)
    assert(sql.contains(s">= $t"), "verify predicate re-derives from t")
    val table = VectorOps.bandTableFor(t)
    val rMax = table.keys.max
    assert(sql.contains(s"LEAST($rMax,"), "R clamp re-derives from t")
    val bandCase = table.toSeq.sorted
      .map { case (r, b) => s"WHEN $r THEN $b" }.mkString(" ")
    assert(sql.contains(bandCase), "band table re-derives from t")
    assert(sql !== dflt, "a non-default threshold cannot silently reuse the default oracle")
  }

  test("semantic incremental: sound drops, cross-side-only, recall vs brute new x old") {
    val emb = Tables.embeddings(spark, dir)
    val out = VectorOps.semanticIncremental(emb).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val newIds = Tables.embeddings(spark, dir).select("vec_id").collect()
      .map(_.getLong(0)).filter(_ % VectorOps.SemIncNewMod == 0).toSet
    assert(out.keySet === newIds, "one verdict row per NEW vector, none for old")
    val dropped = out.collect { case (id, false) => id }.toSet
    // brute ground truth restricted to new x old pairs
    val brute = VectorOps.embeddingNearDupBrute(emb)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val truth = brute.collect {
      case (a, b) if newIds(a) && !newIds(b) => a
      case (a, b) if newIds(b) && !newIds(a) => b
    }.toSet
    assert(truth.nonEmpty, "sf0.001 must contain cross-side near-dups")
    // soundness: every drop has a REAL old-side near-dup (exact verify)
    assert(dropped.subsetOf(truth), "a dropped new vector must have a true old near-dup")
    // a new vector whose only near-dup is ANOTHER NEW vector must survive
    val newOnly = brute.collect {
      case (a, b) if newIds(a) && newIds(b) => Seq(a, b)
    }.flatten.toSet -- truth
    newOnly.foreach(id => assert(out(id), s"new-only near-dup $id must be kept"))
    // banding recall at the design point
    val recall = dropped.size.toDouble / truth.size
    info(f"semantic_incremental drop-recall vs brute new x old: $recall%.3f " +
      f"(${dropped.size}/${truth.size})")
    assert(recall >= 0.85)
  }

  test("near-dup band width derives from corpus size, clamped, table-backed") {
    // R = ceil(log2(ceil(n/256))) clamped to [2, 6] — the key cardinality
    // (B * 2^R) must grow with the corpus for the 100x story
    assert(VectorOps.nearDupRowsFor(1) === 2)
    assert(VectorOps.nearDupRowsFor(500) === 2)    // the sf0.01 corpus
    assert(VectorOps.nearDupRowsFor(2000) === 3)   // the sf0.1 corpus
    assert(VectorOps.nearDupRowsFor(256L * 64) === 6)
    assert(VectorOps.nearDupRowsFor(1000000000L) === VectorOps.NearDupRowsMax)
    // band table: every R has an entry, B grows with R (recall holds as
    // per-band match probability shrinks), pool covers the largest case
    (2 to VectorOps.NearDupRowsMax).sliding(2).foreach { case Seq(a, b) =>
      assert(VectorOps.NearDupBandTable(a) < VectorOps.NearDupBandTable(b))
    }
    assert(VectorOps.NearDupMaxPlanes ===
      VectorOps.NearDupRowsMax * VectorOps.NearDupBandTable(VectorOps.NearDupRowsMax))
    // ANN bucket-key width: floor at the test scale, grows past 64k
    // vectors, ceiling at the plane pool
    assert(VectorOps.lshPlanesFor(2000) === VectorOps.LshPlanes)
    assert(VectorOps.lshPlanesFor(256L << 8) === 8)
    assert(VectorOps.lshPlanesFor(256L << 12) === 12)
    assert(VectorOps.lshPlanesFor(Long.MaxValue / 2) === VectorOps.LshPlanesMax)
  }

  test("banding operating point: budget-derived R keeps buckets non-degenerate at scale") {
    // the pre-round-7 compile-time clamp (R = 6) collapsed emb_neardup past
    // ~100k vectors: every band had at most 64 keys, every bucket blew the
    // 256-posting cap, and the operator emitted zero pairs. The clamp now
    // derives from the plane BUDGET at the operating threshold.
    assert(VectorOps.NearDupRowsMax === 8, "budget affords R = 8 at c = 0.4")
    assert(VectorOps.NearDupBandTable(VectorOps.NearDupRowsMax) <= VectorOps.BandBudget)
    // production operating point: c = 0.9 (p ~ 0.86) affords R up to 24,
    // so million-to-billion-vector corpora derive an UNclamped R whose
    // expected bucket stays under the posting cap — no coverage collapse
    val t9 = VectorOps.bandTableFor(0.9)
    val rMax9 = VectorOps.bandRowsMaxFor(0.9)
    assert(rMax9 >= 22, s"plane budget must afford R >= 22 at c = 0.9, got $rMax9")
    for (n <- Seq(1000000L, 1000000000L)) {
      val r = VectorOps.nearDupRowsFor(n, rowsMax = rMax9)
      assert(r < rMax9, s"n = $n must not hit the clamp at c = 0.9 (r = $r)")
      assert(n.toDouble / (1L << r) <= VectorOps.NearDupTargetBucket,
        s"n = $n: expected bucket ${n / (1L << r)} would be dropped — degenerate")
      assert(t9(r) <= VectorOps.BandBudget)
    }
    // the parameterized entry point at the default threshold IS the checked
    // query, and a tighter threshold yields a subset (its bands are a prefix
    // of the default's plane pool, its verify bar is higher)
    val emb = Tables.embeddings(spark, dir)
    val atDefault = VectorOps.embeddingNearDup(emb)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit = VectorOps.embeddingNearDup(emb, VectorOps.NearDupSim)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(atDefault === explicit)
    val tight = VectorOps.embeddingNearDup(emb, 0.44)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight.nonEmpty, "sf0.001 has pairs above cosine 0.44 (measured 0.44-0.48)")
    assert(tight.subsetOf(atDefault))
  }

  test("adversarial: 300 identical embeddings drop the mega-bucket, drops observed") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    @volatile var observed = Map.empty[String, org.apache.spark.sql.Row]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        observed ++= qe.observedMetrics
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // one embedding re-ingested 300 times: every band key collides, so
      // each of the B=5 (n=300 -> R=2) band buckets holds all 300 postings
      // — past NearDupMaxBucket, dropped before any O(n^2) pair expansion
      val emb = spark.range(300).select(col("id").as("vec_id"),
        typedLit(Array.fill(VectorOps.Dim)(0.5f)).as("embedding"))
      assert(VectorOps.embeddingNearDup(emb).collect().isEmpty,
        "mega-buckets are duplicate mass for the exact pre-pass, not O(n^2) pairs")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!observed.contains("graft_embneardup_buckets") && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(observed.contains("graft_embneardup_buckets"),
        s"drop metrics never surfaced; observed keys: ${observed.keySet}")
      val m = observed("graft_embneardup_buckets")
      val bands = VectorOps.NearDupBandTable(VectorOps.nearDupRowsFor(300)).toLong
      assert(m.getAs[Long]("oversize_buckets") === bands)
      assert(m.getAs[Long]("oversize_docs") === 300L * bands)
    } finally spark.listenerManager.unregister(listener)
  }

  test("adversarial: semantic dedup caps the mega-cluster, keeps every vector") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    @volatile var observed = Map.empty[String, org.apache.spark.sql.Row]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        observed ++= qe.observedMetrics
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // 300 IDENTICAL vectors: centroid ties resolve to cid 0, and the
      // oversize cluster (300 > SemMaxBucket) sub-divides at width s=2
      // (target 128) x b=5 bands — but identical vectors have identical
      // sign bits, so every band's single bucket still holds all 300
      // postings and is dropped before pair expansion (a tight dup ball
      // is exactly what similarity-preserving sub-keys CANNOT split; dup
      // mass belongs to the exact pre-pass). The cross-cluster band
      // branch behaves identically: every x: band collapses to one
      // 300-posting bucket, dropped the same way. Sentinel counts ride
      // the verdict union, every vector keeps.
      val emb = spark.range(300).select(col("id").as("vec_id"),
        typedLit(Array.fill(VectorOps.Dim)(0.5f)).as("embedding"))
      val out = VectorOps.semanticDedup(emb).collect()
      assert(out.length === 300)
      assert(out.forall(_.getLong(1) === 0L), "ties assign to the smallest cid")
      assert(out.forall(_.getBoolean(2)), "capped cluster must not drop anyone")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!observed.contains("graft_semdedup_buckets") && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(observed.contains("graft_semdedup_buckets"),
        s"drop metrics never surfaced; observed keys: ${observed.keySet}")
      val m = observed("graft_semdedup_buckets")
      // expected drops: b=5 cluster sub-band buckets (s=2 at target 128)
      // plus one bucket per cross-cluster band at the x-branch's derived
      // (R, B) — all holding the full 300 postings
      val xBands = VectorOps.bandTableFor(VectorOps.SemDedupSim)(
        VectorOps.nearDupRowsFor(300, rowsMax = VectorOps.bandRowsMaxFor(VectorOps.SemDedupSim)))
      assert(m.getAs[Long]("oversize_buckets") === 5L + xBands,
        s"one oversize bucket per band: 5 cluster sub-bands + $xBands x-bands")
      assert(m.getAs[Long]("oversize_docs") === 300L * (5L + xBands))
    } finally spark.listenerManager.unregister(listener)
  }

  test("semantic dedup sub-divides a DIVERSE oversize cluster and still prunes") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    @volatile var observed = Map.empty[String, org.apache.spark.sql.Row]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        observed ++= qe.observedMetrics
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // The 100 TB shape: IVF clusters average ~sqrt(n) vectors, so past
      // ~1M vectors EVERY cluster exceeds the 256-posting cap. Pre-round-7
      // the cid-only bucket key dropped such clusters whole (verdict
      // degenerated to keep-everything); the per-cluster sub-band key must
      // instead split a DIVERSE cluster into under-cap buckets and still
      // produce drop verdicts. Construction: 1100 vectors where
      //   id 0      -> e0 (the cone axis; centroid of the mega-cluster)
      //   id 37*m   -> e_m (far-away centroids, singleton clusters)
      //   all else  -> 0.15*e0 + 0.9887*u_i, u_i a random sign vector/sqrt(63)
      //     (cos to e0 = 0.15 > max cos to any e_m = 0.9887/sqrt(63) ~ 0.125
      //      — a deterministic margin, every component is exactly +-w —
      //      so ALL 1071 cone vectors land in cluster 0, far past the
      //      cap, while their mutual angles are DIVERSE: sign bits split
      //      near-evenly and no sub-bucket approaches the posting cap)
      //   ids 1000..1019 -> exact copies of ids 1..20 (planted dups:
      //      cosine 1, identical sign bits => guaranteed shared bucket)
      val rnd = new scala.util.Random(7)
      val dim = VectorOps.Dim
      val w = (math.sqrt(1.0 - 0.15 * 0.15) / math.sqrt(63.0)).toFloat
      def cone(): Array[Float] = {
        val v = new Array[Float](dim)
        v(0) = 0.15f
        for (k <- 1 until dim) v(k) = if (rnd.nextBoolean()) w else -w
        v
      }
      def basis(m: Int): Array[Float] = {
        val v = new Array[Float](dim); v(m) = 1f; v
      }
      val base: Map[Long, Array[Float]] = (0L until 1100L).map { i =>
        i -> (if (i % 37 == 0) basis((i / 37).toInt) else cone())
      }.toMap
      val vecs = base ++ (0 until 20).map(t => (1000L + t) -> base(1L + t))
      val emb = spark.createDataFrame(vecs.toSeq.sortBy(_._1)).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      // the sub-division property belongs to the CLUSTER branch: run the
      // cluster-only variant first and require zero drops — the x-branch's
      // data-independent buckets are a separate, cap-bounded recall net
      // whose occasional skew drops are the embeddingNearDup contract
      val outClusterOnly = VectorOps.semanticDedup(emb, crossClusterBands = false).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!observed.contains("graft_semdedup_buckets") && System.nanoTime() < deadline)
        Thread.sleep(50)
      val m = observed("graft_semdedup_buckets")
      assert(m.getAs[Long]("oversize_docs") === 0L,
        "a diverse oversize cluster must sub-divide, not drop")
      // the checked (combined) form on the same corpus
      val out = VectorOps.semanticDedup(emb).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      assert(out.length === 1100)
      val cluster0 = out.filter(_._2 === 0L)
      assert(cluster0.length > VectorOps.SemMaxBucket,
        s"mega-cluster expected; got ${cluster0.length}")
      // every planted exact dup MUST be pruned (same bits, same bucket,
      // cosine 1 against a smaller id) — under BOTH variants
      for (o <- Seq(outClusterOnly, out)) {
        val planted = o.filter(r => r._1 >= 1000L && r._1 < 1020L)
        assert(planted.forall(!_._3), "planted exact dups must all be dropped")
      }
      // soundness: every drop verdict is justified by a smaller-id vector
      // over the threshold (exact integer-quantized math) — ANYWHERE in
      // the corpus for the combined form (the x-branch legitimately finds
      // cross-cluster near-dups), in-cluster for the cluster-only form
      def quant(v: Array[Float]): Array[Long] =
        v.map(x => math.floor(x.toDouble * VectorOps.QuantScale).toLong)
      val q = vecs.map { case (i, v) => i -> quant(v) }
      def sim(a: Long, b: Long): Double = {
        val (qa, qb) = (q(a), q(b))
        var dp = 0L; var na = 0L; var nb = 0L
        for (k <- 0 until dim) { dp += qa(k) * qb(k); na += qa(k) * qa(k); nb += qb(k) * qb(k) }
        dp.toDouble / math.sqrt(na.toDouble * nb.toDouble)
      }
      val byCluster = outClusterOnly.groupBy(_._2)
      outClusterOnly.filter(!_._3).foreach { case (v, cid, _) =>
        val justified = byCluster(cid).exists { case (u, _, _) =>
          u < v && sim(u, v) >= VectorOps.SemDedupSim
        }
        assert(justified, s"vec $v dropped without a smaller-id near-dup in cluster $cid")
      }
      val ids = vecs.keys.toSeq.sorted
      out.filter(!_._3).foreach { case (v, _, _) =>
        val justified = ids.exists(u => u < v && sim(u, v) >= VectorOps.SemDedupSim)
        assert(justified, s"vec $v dropped without a smaller-id near-dup anywhere")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("adversarial: 500 identical docs drop the mega-bucket, drops observed") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    @volatile var observed = Map.empty[String, org.apache.spark.sql.Row]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        observed ++= qe.observedMetrics
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // a fresh deadline per metric: an earlier wait may have consumed most
    // of one on a slow host
    def surfaced(metric: String): org.apache.spark.sql.Row = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!observed.contains(metric) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(observed.contains(metric),
        s"$metric never surfaced to the QueryExecutionListener within 30s — " +
          s"is the CollectMetrics node below a cache boundary? observed keys: ${observed.keySet}")
      observed(metric)
    }
    try {
      // the adversarial crawl: one template, 500 byte-identical copies —
      // every minhash band agrees, so ALL docs land in the same 6 buckets
      val docs = spark.range(500).select(col("id").as("doc_id"),
        lit("the same template page text crawled and recrawled verbatim " +
          "across every mirror of the site forever").as("text"))
      val out = TextDedup.minhashLsh(docs).collect()
      assert(out.isEmpty,
        "mega-buckets are duplicate mass for the exact pre-pass, not O(n^2) pairs")
      val m = surfaced("graft_minhash_buckets")
      assert(m.getAs[Long]("oversize_buckets") === TextDedup.LshBands.toLong)
      assert(m.getAs[Long]("oversize_docs") === 500L * TextDedup.LshBands)
      // simhash shares the bound; it must also complete without a
      // mega-bucket AND surface its own drop metrics (its observe path is
      // a different shape: no cache, inline verify)
      assert(TextDedup.simhashDedup(docs).collect().isEmpty)
      val sm = surfaced("graft_simhash_buckets")
      assert(sm.getAs[Long]("oversize_buckets") === TextDedup.SimHashChunks.toLong)
      assert(sm.getAs[Long]("oversize_docs") === 500L * TextDedup.SimHashChunks)
      // winnow: every copy posts the same RollingK distinct minimal window
      // hashes, one bucket each
      assert(TextDedup.winnowDedup(docs).collect().isEmpty)
      val wm = surfaced("graft_winnow_buckets")
      assert(wm.getAs[Long]("oversize_buckets") === TextFunctions.RollingK.toLong)
      assert(wm.getAs[Long]("oversize_docs") === 500L * TextFunctions.RollingK)
      // fuzzy: two block keys per copy, the opening ("p:") and the
      // closing ("s:") of the normalized window
      assert(TextDedup.fuzzyPrefixDedup(docs).collect().isEmpty)
      val fm = surfaced("graft_fuzzy_buckets")
      assert(fm.getAs[Long]("oversize_buckets") === 2L)
      assert(fm.getAs[Long]("oversize_docs") === 500L * 2)
      // phash: PhashChunks chunk keys of one signature per copy
      assert(Multimodal.phashNearDup(docs).collect().isEmpty)
      val pm = surfaced("graft_mm_phash_buckets")
      assert(pm.getAs[Long]("oversize_buckets") === Multimodal.PhashChunks.toLong)
      assert(pm.getAs[Long]("oversize_docs") === 500L * Multimodal.PhashChunks)
    } finally spark.listenerManager.unregister(listener)
  }

  test("KMV sketch estimates distinct users within its error bound, both branches") {
    import graft.operators.Relational
    // sf0.001 has 15 users per type (< k: exact branch); sf0.01 has 150
    // (> k: estimator branch) — both paths must hold
    for (d <- Seq(dir, "/root/testdata/sf0.01")) {
      val est = Relational.kmvDistinctUsers(spark, d).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val exact = Tables.events(spark, d)
        .groupBy(col("event_type")).agg(countDistinct(col("user_id")).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(est.keySet === exact.keySet)
      exact.foreach { case (et, n) =>
        val e = est(et)
        if (n < Relational.KmvK) assert(e === n.toDouble, s"$d/$et: below k must be exact")
        else {
          // 5 sigma at RSE 1/sqrt(k-1): generous, deterministic data
          val rse = 1.0 / math.sqrt(Relational.KmvK - 1.0)
          assert(math.abs(e - n) / n <= 5 * rse, s"$d/$et: est $e vs exact $n")
        }
      }
    }
  }

  test("line dedup removes the shared header, keeps unique prose, in order") {
    // three docs share a 10-token header (one pseudo-line); each has a
    // unique tail. One doc is ALL boilerplate and must vanish.
    val header = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = spark.createDataFrame(Seq(
      (1L, s"$header lambda mu nu xi omicron pi rho sigma tau upsilon unique one"),
      (2L, s"$header phi chi psi omega aleph bet gimel dalet he vav unique two"),
      (3L, header),
      (4L, "completely original prose with no repeated window at all here"))).toDF("doc_id", "text")
    val out = TextDedup.lineDedup(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(!out.contains(3L), "an all-boilerplate doc must vanish")
    assert(out(1L) === (("lambda mu nu xi omicron pi rho sigma tau upsilon unique one", 2L, 1L)))
    assert(out(2L) === (("phi chi psi omega aleph bet gimel dalet he vav unique two", 2L, 1L)))
    assert(out(4L)._3 === 0L, "unique docs drop nothing")
    assert(out(4L)._1 === "completely original prose with no repeated window at all here")
  }

  test("substring dedup finds a copied run at ARBITRARY alignment (line-dedup-blind)") {
    // a 20-token run copied into two docs at DIFFERENT offsets (5 vs 7
    // tokens of unique prefix) — line_dedup's fixed 10-token segmentation
    // sees two different line sets and misses it entirely; the stride-1
    // window pass must find exactly the run: 20 − 16 + 1 = 5 duplicated
    // windows merging into one island of 20 covered tokens per doc.
    val shared = (1 to 20).map(i => s"shared$i").mkString(" ")
    val docs = spark.createDataFrame(Seq(
      (1L, s"one two three four five $shared tail words here"),
      (2L, s"alpha beta gamma delta epsilon zeta eta $shared different ending"),
      (3L, "completely original prose with no repeated window at all in this doc whatsoever today ok"))
    ).toDF("doc_id", "text")
    val out = TextDedup.substrDedup(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(!out.contains(3L), "a dup-free doc is absent from the output")
    assert(out(1L) === ((28L, 5L, 20L, 20L, 20.0 / 28.0)))
    assert(out(2L) === ((29L, 5L, 20L, 20L, 20.0 / 29.0)))
    // the same corpus through line_dedup: nothing dropped — the copied
    // run straddles its segmentation, proving the two passes differ
    assert(TextDedup.lineDedup(docs).collect().forall(_.getLong(3) === 0L))
  }

  test("ngram novelty: first-seen windows count to the earlier doc, copies " +
       "score zero, a half-lifted doc scores the exact mixed fraction") {
    val orig = (1 to 32).map(i => s"a$i").mkString(" ")     // 17 windows, all novel
    val lifted = ((1 to 16).map(i => s"a$i") ++ (1 to 16).map(i => s"b$i")).mkString(" ")
    val docs = spark.createDataFrame(Seq(
      (1L, orig),
      (2L, orig),                                           // exact re-crawl
      (3L, lifted),                                         // window 1 seen, 2..17 novel
      (4L, "too short for a single sixteen token window here"))
    ).toDF("doc_id", "text")
    val out = TextDedup.ngramNovelty(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out.keySet === Set(1L, 2L, 3L), "sub-W docs absent")
    assert(out(1L) === ((17L, 17L, 17L, 1.0)), s"origin doc all-novel: ${out(1L)}")
    assert(out(2L) === ((17L, 17L, 0L, 0.0)), s"re-crawl zero-novel: ${out(2L)}")
    assert(out(3L) === ((17L, 17L, 16L, 16.0 / 17.0)), s"half-lift: ${out(3L)}")
  }

  test("ngram novelty on the corpus: the first-seen columns partition the " +
       "distinct-window universe") {
    val docs = Tables.documents(spark, dir)
    val out = TextDedup.ngramNovelty(docs).collect()
    val eligible = docs
      .where(size(TextFunctions.tokens(col("text"))) >= TextDedup.SubstrW).count()
    assert(out.length.toLong === eligible)
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"distinct <= windows: $r")
      assert(r.getLong(3) <= r.getLong(2), s"first-seen <= distinct: $r")
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
    // every distinct window fingerprint in the corpus has exactly ONE
    // first owner, so the per-doc first-seen counts sum to the universe
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    val universe = docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= TextDedup.SubstrW)
      .select(explode(toCol(graft.plans.TokenWindowHash(
        toExpr(col("toks")), TextDedup.SubstrW))).as("fp"))
      .distinct().count()
    assert(out.map(_.getLong(3)).sum === universe)
  }

  test("null and empty texts flow through the dedup family without error") {
    // a crawl corpus always contains null/empty payload rows — the
    // operators must drop them from candidates, never throw
    val docs = spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(1L, null),
          org.apache.spark.sql.Row(2L, ""),
          org.apache.spark.sql.Row(3L, "real text with several actual words here")),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
    assert(TextDedup.minhashLsh(docs).collect().isEmpty)
    assert(TextDedup.simhashDedup(docs).collect().isEmpty)
    assert(TextDedup.ngramJaccard(docs).collect().isEmpty)
    assert(TextDedup.winnowDedup(docs).collect().isEmpty)   // sketchless rows excluded
    assert(TextDedup.lineDedup(docs).count() === 1)         // only the real doc survives
    assert(TextDedup.substrDedup(docs).collect().isEmpty)   // sub-W rows excluded
    assert(TextDedup.exact(docs).count() === 3) // null, "", and real each a group
    assert(Corpus.piiScan(docs).count() === 3)  // null counts stay null, no throw
    assert(Corpus.repetitionStats(docs).count() === 1) // tokenless rows excluded
    assert(Corpus.packSequences(docs).count() === 3) // tokenless rows pack at offset 0
  }

  test("negative doc ids survive dedup: sentinels ride a dedicated column") {
    // drop metrics are flagged by `is_sentinel`, never by the id value
    // space — a corpus with negative ids must keep all its real pairs
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    val docs = spark.createDataFrame(Seq((-5L, text), (-3L, text), (7L, "totally " +
      "unrelated words appear here instead with different content entirely")))
      .toDF("doc_id", "text")
    val mh = TextDedup.minhashLsh(docs)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh === Set((-5L, -3L)).map(p => (math.min(p._1, p._2), math.max(p._1, p._2))),
      s"negative-id near-dup pair must survive sentinel stripping; got $mh")
    val sh = TextDedup.simhashDedup(docs)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh.contains((-5L, -3L)), s"simhash too; got $sh")
    // the payload-carrying expansions: fuzzy's window, phash's size + signature
    val fz = TextDedup.fuzzyPrefixDedup(docs)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fz === Set((-5L, -3L)), s"fuzzy too; got $fz")
    val ph = Multimodal.phashNearDup(docs)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ph === Set((-5L, -3L)), s"phash too; got $ph")
  }

  test("ivfStrideFor scales the centroid count with sqrt(n) under the budget") {
    assert(VectorOps.ivfStrideFor(500L) === 37L)      // base stride (sqrt asks for less)
    assert(VectorOps.ivfCentroidsFor(1000000L) === 1000L)   // exactly sqrt(n)
    assert(VectorOps.ivfStrideFor(1000000L) === 1000L)
    // budget kicks in past IvfCentroidBudget^2 vectors; C stays bounded,
    // so the broadcast side never grows past ~17 MB at ANY corpus size
    val big = 1L << 40
    assert(VectorOps.ivfCentroidsFor(big) === VectorOps.IvfCentroidBudget.toLong)
    val stride = VectorOps.ivfStrideFor(big)
    assert(big / stride <= VectorOps.IvfCentroidBudget, "C must stay bounded")
    assert(stride >= VectorOps.IvfCentroidStride)
    // per-probe list length is n/C = max(base, ~sqrt(n)) — at 1e9 that is
    // ~31.6k rows per list, vs n/4096 = 244k under the pre-round-7 cap
    assert(VectorOps.ivfStrideFor(1000000000L) === 31623L)
  }

  test("simhashChunksFor widens chunks as the corpus grows") {
    assert(TextDedup.simhashChunksFor(5000L) === 8)      // small corpus: fine blocks
    assert(TextDedup.simhashChunksFor(16L << 20) === 4)  // ~16M docs: 16-bit chunks
    assert(TextDedup.simhashChunksFor(1L << 40) === 2)   // beyond: floor at pigeonhole 2
  }

  test("approx_count_distinct stays within 5x its rsd of exact") {
    val ev = Tables.events(spark, dir)
    val exact = ev.groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = ev.groupBy("event_type")
      .agg(approx_count_distinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // default rsd = 0.05; allow 5 sigma
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n) <= math.max(1L, (n * 0.25).toLong),
        s"$k: approx ${approx(k)} vs exact $n")
    }
  }

  test("quantization is exact floor(x * 2^20)") {
    val out = spark.range(1)
      .select(VectorOps.quantize(
        array(lit(0.123456f), lit(-0.5f), lit(0.0f))).as("q"))
      .head().getSeq[Long](0)
    assert(out === Seq(
      math.floor(0.123456f.toDouble * 1048576.0).toLong,
      -524288L, 0L))
  }

  test("brute-force ANN: k neighbors per query, ranked by sim desc, no self") {
    val out = VectorOps.annBruteTopK(Tables.embeddings(spark, dir)).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rows) =>
      assert(rows.length === VectorOps.BruteK)
      assert(rows.forall(_.getLong(1) != q), "self must be excluded")
      val sims = rows.sortBy(_.getLong(2)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }, "rank follows sim")
      assert(sims.forall(s => s >= -1.0001 && s <= 1.0001))
    }
  }

  test("quantization recall audit matches a driver-side double-ranking " +
       "replay and agrees with annBruteTopK on the full-precision side") {
    val emb = Tables.embeddings(spark, dir)
    val got = VectorOps.quantRecallAudit(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    got.foreach { case (_, nTruth, nKept, rec) =>
      assert(nTruth === VectorOps.BruteK.toLong)
      assert(nKept >= 0L && nKept <= nTruth)
      assert(rec === nKept.toDouble / nTruth.toDouble)
    }
    // driver-side replay of both rankings for one query
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def quant(v: Array[Float], s: Double): Array[Long] =
      v.map(x => math.floor(x.toDouble * s).toLong)
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d.toDouble / math.sqrt(a.map(x => x * x).sum.toDouble * b.map(x => x * x).sum.toDouble)
    }
    val q = got.map(_._1).min
    def topk(s: Double): Set[Long] =
      vecs.filter(_._1 != q).toSeq
        .map { case (id, v) => (id, cos(quant(vecs(q), s), quant(v, s))) }
        .sortBy { case (id, sim) => (-sim, id) }.take(VectorOps.BruteK)
        .map(_._1).toSet
    val wantKept = (topk(VectorOps.QuantScale) & topk(VectorOps.CoarseScale)).size.toLong
    assert(got.find(_._1 == q).get._3 === wantKept)
    // the full-precision side is exactly annBruteTopK's neighbor set
    val bruteQ = VectorOps.annBruteTopK(emb).collect()
      .filter(_.getLong(0) == q).map(_.getLong(1)).toSet
    assert(bruteQ === topk(VectorOps.QuantScale))
  }

  test("kmeans refine: M-step means recompute from the E-step labels") {
    val emb = Tables.embeddings(spark, dir)
    val assign = VectorOps.kmeansAssign(emb).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(v => math.floor(v.toDouble * (1 << 20)).toLong))
    val out = VectorOps.kmeansRefine(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out.nonEmpty)
    // every (cell, dim) mean recomputes from a driver-side fold
    val byCell = vecs.groupBy { case (id, _) => assign(id) }
    byCell.foreach { case (cid, members) =>
      val n = members.length.toLong
      members.head._2.indices.foreach { d =>
        val s = members.map(_._2(d)).sum
        val (gn, gs, gc) = out((cid, d.toLong))
        assert(gn === n && gs === s, s"cell $cid dim $d")
        assert(gc === s.toDouble / (n.toDouble * (1 << 20)), s"cell $cid dim $d")
      }
    }
    // exactly the non-empty cells appear
    assert(out.keys.map(_._1).toSet === byCell.keySet)
  }

  test("kNN labeling: majority vote over the true top-k, ties to smallest label") {
    val emb = Tables.embeddings(spark, dir)
    val out = VectorOps.knnLabel(emb).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.nonEmpty)
    out.values.foreach { case (label, votes, bestSim) =>
      assert(label >= 0 && votes >= 1 && votes <= VectorOps.KnnK)
      assert(bestSim >= -1.0001 && bestSim <= 1.0001)
    }
    // driver-side reference: recount votes from the exact neighbor list.
    // annBruteTopK returns BruteK rows; recompute with k = KnnK via a
    // raw cosine pass over the collected vectors (sf0.001-sized).
    val vecs = emb.collect().map { r =>
      val v = r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1048576.0).toLong)
      (r.getLong(0), v, r.getInt(2))
    }
    val byId = vecs.map(v => v._1 -> v).toMap
    out.foreach { case (q, (pred, votes, _)) =>
      val (_, qv, _) = byId(q)
      val nq = qv.map(x => x * x).sum // exact BIGINT norm2, engine formula
      val neigh = vecs.filter(_._1 != q).map { case (id, v, lab) =>
        val dot = qv.zip(v).map { case (a, b) => a * b }.sum
        (id, lab, dot.toDouble / math.sqrt(nq.toDouble * v.map(x => x * x).sum.toDouble))
      }.sortBy { case (id, _, s) => (-s, id) }.take(VectorOps.KnnK)
      val counted = neigh.groupBy(_._2).map { case (l, rs) => (l, rs.length) }
      val (expLabel, expVotes) = counted.toSeq.sortBy { case (l, n) => (-n, l) }.head
      assert(pred === expLabel.toLong, s"query $q")
      assert(votes === expVotes.toLong, s"query $q")
    }
  }

  test("hard negatives: top-k other-label neighbors with the exact positive " +
       "margin, re-derived from a driver-side cosine pass") {
    val emb = Tables.embeddings(spark, dir)
    val out = VectorOps.hardNegatives(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2)) ->
        ((r.getLong(1), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)))))
      .toMap
    assert(out.nonEmpty)
    val vecs = emb.collect().map { r =>
      val v = r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1048576.0).toLong)
      (r.getLong(0), v, r.getInt(2))
    }
    val byId = vecs.map(v => v._1 -> v).toMap
    def sims(q: Long) = {
      val (_, qv, _) = byId(q)
      val nq = qv.map(x => x * x).sum
      vecs.filter(_._1 != q).map { case (id, v, lab) =>
        val dot = qv.zip(v).map { case (a, b) => a * b }.sum
        (id, lab, dot.toDouble / math.sqrt(nq.toDouble * v.map(x => x * x).sum.toDouble))
      }
    }
    out.keys.map(_._1).toSeq.distinct.foreach { q =>
      val qlab = byId(q)._3
      val all = sims(q)
      val negs = all.filter(_._2 != qlab)
        .sortBy { case (id, _, s) => (-s, id) }.take(VectorOps.HardNegK)
      val posSims = all.filter(_._2 == qlab).map(_._3)
      val expPos = if (posSims.isEmpty) None else Some(posSims.max)
      negs.zipWithIndex.foreach { case ((id, _, s), i) =>
        val (gotId, gotSim, gotPos, gotMargin) = out((q, i + 1L))
        assert(gotId === id && gotSim === s, s"query $q rank ${i + 1}")
        assert(gotPos === expPos, s"query $q pos_sim")
        assert(gotMargin === expPos.map(_ - s), s"query $q margin")
      }
      assert(out.count(_._1._1 == q) === negs.length)
    }
    // the mined negatives really are negatives
    out.foreach { case ((q, _), (nid, _, _, _)) =>
      assert(byId(nid)._3 !== byId(q)._3, s"neighbor $nid shares label with $q")
    }
  }

  test("LSH ANN returns a subset of brute-force candidates per query") {
    val emb = Tables.embeddings(spark, dir)
    val brute = VectorOps.annBruteTopK(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val bruteBest = brute.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._3).max }
    val lsh = VectorOps.annLshTopK(emb).collect()
    lsh.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.length <= VectorOps.LshK)
      // approximate: LSH sims can't exceed the true best
      rows.foreach(r => assert(r.getDouble(3) <= bruteBest(q) + 1e-12))
    }
  }

  test("IVF ANN: sims bounded by brute best, contiguous ranks, recall >= 0.5") {
    val emb = Tables.embeddings(spark, dir)
    val brute = VectorOps.annBruteTopK(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val bruteBest = brute.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._4).max }
    val ivf = VectorOps.annIvfTopK(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    ivf.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.length <= VectorOps.IvfK)
      assert(rows.map(_._3).sorted === (1L to rows.length))
      rows.foreach(r => assert(r._4 <= bruteBest(q) + 1e-12,
        "an approximate sim cannot exceed the true best"))
      val sims = rows.sortBy(_._3).map(_._4)
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }, "rank follows sim")
    }
    // probing IvfProbes of ~corpus/stride seed centroids on this
    // structure-free corpus recalls 60% of brute top-IvfK (deterministic)
    val bruteAtK = brute.filter(_._3 <= VectorOps.IvfK).map(t => (t._1, t._2)).toSet
    val got = ivf.map(t => (t._1, t._2)).toSet
    val recall = (got & bruteAtK).size.toDouble / bruteAtK.size
    assert(recall >= 0.5, s"IVF recall $recall vs brute top-${VectorOps.IvfK}")
  }

  test("ANN recall audit recomputes from the two audited operators") {
    val emb = Tables.embeddings(spark, dir)
    val truth = VectorOps.annBruteTopK(emb)
      .collect().filter(_.getLong(2) <= VectorOps.LshK)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorOps.annLshTopK(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val out = VectorOps.annRecall(emb).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet === truth.map(_._1))
    out.foreach { case (q, (nTruth, nHits, recall)) =>
      val t = truth.filter(_._1 == q)
      assert(nTruth === t.size.toLong)
      assert(nHits === (t & lsh).size.toLong, s"query $q")
      assert(recall === nHits.toDouble / nTruth.toDouble)
      assert(recall >= 0.0 && recall <= 1.0)
    }
  }

  test("k-means assignment: every vector to its true nearest seed centroid") {
    val emb = Tables.embeddings(spark, dir)
    val out = VectorOps.kmeansAssign(emb).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val vecs = emb.collect().map { r =>
      (r.getLong(0), r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1048576.0).toLong))
    }
    assert(out.size === vecs.length, "one assignment per vector")
    val stride = VectorOps.ivfStrideFor(vecs.length.toLong)
    val cents = vecs.filter(_._1 % stride == 0)
    assert(cents.nonEmpty)
    def cos(a: Seq[Long], b: Seq[Long]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d.toDouble / math.sqrt(a.map(x => x * x).sum.toDouble * b.map(x => x * x).sum.toDouble)
    }
    vecs.foreach { case (id, v) =>
      val (expCid, expSim) = cents.map { case (cid, cv) => (cid, cos(v, cv)) }
        .minBy { case (cid, s) => (-s, cid) }
      val (gotCid, gotSim) = out(id)
      assert(gotCid === expCid, s"vec $id")
      assert(gotSim === expSim, s"vec $id")
    }
  }

  test("IVF balance: list counts partition the corpus, shares sum to 1") {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val out = VectorOps.ivfBalance(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._2).sum === n, "every vector lands in exactly one list")
    assert(math.abs(out.map(_._3).sum - 1.0) < 1e-9)
    // cross-check against the assignment the balance is derived from
    val byCid = VectorOps.kmeansAssign(emb).collect()
      .groupBy(_.getLong(1)).view.mapValues(_.length.toLong).toMap
    assert(out.map(t => t._1 -> t._2).toMap === byCid)
  }

  test("LSH ANN survives broadcast being unavailable (no forced hint)") {
    // at 100 TB the query side is corpus/QueryStride — far beyond any
    // broadcast budget; the operator must not FORCE a broadcast. Disable
    // auto-broadcast and demand (a) a broadcast-free plan, (b) identical
    // results to the default-config run.
    val emb = Tables.embeddings(spark, dir)
    val expected = VectorOps.annLshTopK(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = VectorOps.annLshTopK(emb)
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted
      assert(got === expected)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"bucket join must degrade to a shuffle join when broadcast is off:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("multimodal: mapPartitions decode stub equals the Column-expression twin") {
    val docs = Tables.documents(spark, dir)
    val viaDs = Multimodal.extractFeatures(Multimodal.assets(docs))
      .collect().map(f => (f.asset_id, f.n_bytes, f.checksum, f.width, f.height,
        f.frames, f.resized_w, f.resized_h, f.sampled_frames)).sortBy(_._1)
    val viaCols = Multimodal.features(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getString(8))).sortBy(_._1)
    assert(viaDs === viaCols)
    // resize never upscales and preserves the fit-within bound
    viaDs.foreach { f =>
      assert(f._7 <= f._4 && f._8 <= f._5)
      assert(math.max(f._7, f._8) <= Multimodal.ResizeTarget)
    }
  }

  test("multimodal: payload dedup groups byte-identical assets under the " +
       "smallest keeper and agrees with exact text dedup") {
    val docs = Tables.documents(spark, dir)
    val got = Multimodal.payloadDedup(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // payload == utf-8 text, so checksum groups == exact text duplicate
    // groups (TextDedup.exact's fixture has planted exact dups)
    val textDups = docs.groupBy("text").count().filter(col("count") > 1)
      .join(docs, "text").groupBy("text")
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got.map(r => (r._2, r._3)).toSet === textDups)
    got.foreach { case (ck, n, _, _) =>
      assert(ck.length === 32 && n > 1)
    }
  }

  test("multimodal: phash signature matches a driver-side histogram SimHash " +
       "and near-dup pairs respect the hamming + size-band verify") {
    import spark.implicits._
    // driver-side reference: probe-alphabet counts × md5-derived ±1 weights
    def refSig(text: String): String = {
      val alpha = (('a' to 'z') ++ ('0' to '9')).map(_.toString) :+ " "
      val signs = alpha.map { ch =>
        val d = java.security.MessageDigest.getInstance("MD5").digest(ch.getBytes("UTF-8"))
        Array.tabulate(64)(j => (((d(j >> 3) >> (7 - (j & 7))) & 1) * 2 - 1))
      }
      (0 until 64).map { j =>
        val s = alpha.zipWithIndex.map { case (ch, i) =>
          text.count(_.toString == ch).toLong * signs(i)(j)
        }.sum
        if (s > 0) '1' else '0'
      }.mkString
    }
    val docs = Tables.documents(spark, dir)
    val got = docs.select(col("doc_id"), col("text"),
        Multimodal.phashSig(col("text")).as("sig"))
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(got.nonEmpty)
    got.take(50).foreach { case (text, sig) =>
      assert(sig === refSig(text), s"sig mismatch for ${text.take(40)}")
    }
    // fixture: exact copy -> hamming 0; one-word edit -> small hamming;
    // alien payload -> no pair
    val base = Seq.fill(10)("the quick brown fox jumps over the lazy dog").mkString(" ")
    val edit = base.replace("lazy dog", "hazy dog")
    val alien = Seq.fill(10)("zz qq zz xx vv kk ww pp yy uu zz qq zz xx vv").mkString(" ")
    val tiny = Seq((1L, base), (2L, edit), (3L, base), (4L, alien))
      .toDF("doc_id", "text")
    val pairs = Multimodal.phashNearDup(tiny).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair((1L, 3L)) === 0L, s"exact copies must pair at hamming 0: ${pairs.toSeq}")
    assert(byPair.contains((1L, 2L)) && byPair((1L, 2L)) <= Multimodal.PhashHammingMax,
      s"a one-word edit must pair within the verify threshold: ${pairs.toSeq}")
    assert(!pairs.exists(p => p._1 === 4L || p._2 === 4L),
      s"the alien payload must not pair: ${pairs.toSeq}")
    // the real corpus: ordered ids, bounded hamming, pairs inside the size band
    val real = Multimodal.phashNearDup(docs)
      .join(docs.select(col("doc_id").as("id_a"), length(col("text")).cast("bigint").as("na")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), length(col("text")).cast("bigint").as("nb")), "id_b")
      .collect()
    assert(real.nonEmpty, "sf0.001 plants exact dups; the perceptual pass must find pairs")
    real.foreach { r =>
      val (ia, ib, h) = (r.getLong(1), r.getLong(0), r.getLong(2))
      assert(ia < ib && h >= 0 && h <= Multimodal.PhashHammingMax, s"row $r")
      val (na, nb) = (r.getLong(3), r.getLong(4))
      assert(math.abs(na - nb) * 100 <= Multimodal.PhashLenBandPct * math.max(na, nb), s"row $r")
    }
    spark.catalog.clearCache() // phashNearDup persists the posting relation
  }

  test("retrieval_plan composes chunk -> embed -> IVF -> top-k: dense ranks, " +
       "descending sims, never the query's own document") {
    val docs = Tables.documents(spark, dir)
    val out = VectorOps.retrievalPlan(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    val byQuery = out.groupBy(_._1)
    byQuery.foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._3).toSeq === (1L to rows.length).toSeq,
        s"ranks must be dense 1..k for $qid: ${rows.toSeq}")
      assert(sorted.length <= VectorOps.RetrK)
      // sims non-increasing in rank order
      sorted.map(_._4).toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(a >= b, s"sims must be rank-ordered for $qid")
        case _ => ()
      }
      sorted.foreach { case (q, n, _, sim) =>
        assert(n / VectorOps.RetrChunkIdBase !== q / VectorOps.RetrChunkIdBase,
          s"neighbor chunk from the query's own document: $q -> $n")
        assert(sim >= -1.0 && sim <= 1.0)
      }
    }
    // query set is the bounded first-chunk subset
    byQuery.keys.foreach { qid =>
      assert(qid % VectorOps.RetrChunkIdBase === 0L, "queries are chunk 0")
      val doc = qid / VectorOps.RetrChunkIdBase
      assert(doc % VectorOps.QueryStride === 0L &&
        doc < VectorOps.QueryStride.toLong * VectorOps.QueryBudget)
    }
    spark.catalog.clearCache() // retrievalPlan persists the chunk relation
  }

  test("relational: rollup emits region subtotals and a grand total") {
    val out = Relational.customerRollup(spark, dir).collect()
    val grand = out.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length === 1)
    val total = Tables.customer(spark, dir).count()
    assert(grand.head.getLong(2) === total)
    val regionSubtotals = out.filter(r => !r.isNullAt(0) && r.isNullAt(1))
    assert(regionSubtotals.map(_.getLong(2)).sum === total)
  }

  test("relational: semi + anti partition the customer set") {
    val c = Tables.customer(spark, dir).count()
    val withOrders = Tables.customer(spark, dir).select("c_custkey")
      .join(Tables.orders(spark, dir).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_semi").count()
    val without = Relational.customersWithoutOrders(spark, dir).count()
    assert(withOrders + without === c)
  }

  test("relational: sessionization splits exactly on >30min gaps") {
    val out = Relational.sessionizeEvents(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out.nonEmpty)
    // driver-side reference simulation over the raw events (sf0.001 only)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = ev.groupBy(_._1).flatMap { case (u, rows) =>
      val times = rows.sortBy(r => (r._3, r._2)).map(_._3)
      var sid = 0L
      var prev = Long.MinValue
      val sizes = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
      times.foreach { t =>
        if (prev == Long.MinValue || t - prev > Relational.SessionGapUs) sid += 1
        sizes(sid) = sizes.getOrElse(sid, 0L) + 1
        prev = t
      }
      sizes.map { case (s, n) => (u, s) -> n }
    }
    assert(out === expected)
    // every user's session ids are 1..max contiguous
    out.keys.groupBy(_._1).foreach { case (u, ks) =>
      val ids = ks.map(_._2).toSeq.sorted
      assert(ids === (1L to ids.max), s"user $u ids $ids")
    }
  }

  test("relational: session transitions match a driver-side replay and " +
       "never cross session boundaries") {
    val got = Relational.sessionTransitions(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(got.nonEmpty)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val expected = scala.collection.mutable.Map.empty[(String, String), Long]
    ev.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2))
      sorted.sliding(2).foreach {
        case Array((_, _, t1, ty1), (_, _, t2, ty2)) =>
          if (t2 - t1 <= Relational.SessionGapUs) { // successor in SAME session
            val k = (ty1, ty2)
            expected(k) = expected.getOrElse(k, 0L) + 1
          }
        case _ => ()
      }
    }
    assert(got === expected.toMap)
    // one Exchange serves all three windows and the pre-agg: the plan
    // must contain exactly one shuffle below the final pair aggregate
    val plan = Relational.sessionTransitions(spark, dir)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected <=2 exchanges (user_id + final agg) in:\n$plan")
  }

  test("relational: gap-fill LOCF densifies each user's span with carried " +
       "values and conserves event counts") {
    // tie-break precondition: (user_id, ts) unique in the fixture
    val dups = Tables.events(spark, dir).groupBy("user_id", "ts").count()
      .filter(col("count") > 1).count()
    assert(dups === 0L)
    val rows = Relational.gapFillLocf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // conservation: filled grid carries exactly the original event count
    assert(rows.map(_._3).sum === Tables.events(spark, dir).count())
    val dayMs = 24L * 3600 * 1000
    rows.groupBy(_._1).foreach { case (u, rs) =>
      val byDay = rs.sortBy(_._2)
      // dense: consecutive days, no holes, within the user's own span
      byDay.map(_._2).sliding(2).foreach {
        case Array(a, b) => assert(b - a === dayMs, s"user $u hole $a -> $b")
        case _ => ()
      }
      // gap days (n_events = 0) repeat the previous day's locf value
      byDay.sliding(2).foreach {
        case Array((_, _, _, v1), (_, _, 0L, v2)) => assert(v2 === v1)
        case _ => ()
      }
      // first row of every user is an observed day
      assert(byDay.head._3 > 0L)
    }
  }

  test("relational: event-value MAD matches a driver-side exact computation") {
    def medianOf(xs: Array[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      // R-7 linear interpolation at p=0.5 over a sorted sample
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val ev = Tables.events(spark, dir).select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val got = Relational.eventValueMad(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).toList
    assert(got.nonEmpty)
    got.foreach { case (ty, med, mad, n) =>
      val vals = ev.filter(_._1 == ty).map(_._2)
      assert(n === vals.length.toLong)
      assert(med === medianOf(vals), s"median $ty")
      assert(mad === medianOf(vals.map(v => math.abs(v - med))), s"mad $ty")
    }
  }

  test("relational: LTV deciles are balanced, ordered, and sum-exact") {
    val rows = Relational.userLtvDeciles(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    assert(rows.nonEmpty)
    // decile sizes differ by at most 1 (NTILE contract)
    val sizes = rows.groupBy(_._3).view.mapValues(_.length).values.toSeq
    assert(sizes.max - sizes.min <= 1)
    // ordering: every user in decile d has total >= any user in d+1
    // (modulo the deterministic user_id tie-break)
    val byDecile = rows.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    byDecile.keys.toSeq.sorted.sliding(2).foreach {
      case Seq(a, b) => assert(byDecile(a).min >= byDecile(b).max ||
        math.abs(byDecile(a).min - byDecile(b).max) < 1e-9)
      case _ => ()
    }
    // totals are the exact DECIMAL sums of the raw stream
    val want = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(sum(col("value").cast("decimal(18,6)")).cast("double").as("t"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (u, t, _) => assert(t === want(u)) }
  }

  test("relational: time-weighted value matches a driver-side step integral " +
       "and a constant-value user's TWA is that constant") {
    val got = Relational.timeWeightedValue(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toList
    assert(got.nonEmpty)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("value"), unix_micros(col("ts")).as("t"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    got.foreach { case (u, twa, span) =>
      val rows = ev.filter(_._1 == u).sortBy(_._3)
      val segs = rows.sliding(2).collect {
        case Array((_, v, t1), (_, _, t2)) =>
          val cents = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100
          (cents.toLongExact * (t2 - t1), t2 - t1)
      }.toList
      assert(span === segs.map(_._2).sum)
      val want = segs.map(_._1).sum.toDouble / (span.toDouble * 100.0)
      assert(twa === want, s"user $u: $twa vs $want")
    }
    // synthetic constant-value user: TWA equals the constant exactly
    import spark.implicits._
    val const = Seq((9L, 5.0, new java.sql.Timestamp(1000L)),
      (9L, 5.0, new java.sql.Timestamp(61000L)),
      (9L, 5.0, new java.sql.Timestamp(3600000L)))
      .toDF("user_id", "value", "ts")
    // drive the same plan over a fixture via a temp view of Tables.events
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy(col("t"))
    val twaConst = const
      .select(col("user_id"), col("value"), unix_micros(col("ts")).as("t"))
      .withColumn("t_next", lead(col("t"), 1).over(w))
      .filter(col("t_next").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(col("value").cast("decimal(18,6)") * (col("t_next") - col("t"))).as("wsum"),
        (max(col("t_next")) - min(col("t"))).as("span_us"))
      .select((col("wsum").cast("double") / col("span_us").cast("double")).as("twa"))
      .head().getDouble(0)
    assert(twaConst === 5.0)
  }

  test("relational: order price audit recomputes totals exactly and ranks " +
       "by absolute discrepancy") {
    val got = Relational.orderPriceAudit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
    assert(got.nonEmpty && got.length <= Relational.AuditTopN)
    // delta is the simple difference and ranking is by |delta| desc
    got.foreach { case (_, tot, comp, _, d) => assert(d === tot - comp) }
    val deltas = got.map(r => math.abs(r._5))
    assert(deltas.sameElements(deltas.sortBy(-(_: Double))))
    // spot-verify one order against a BigDecimal recompute
    val (key, _, comp, nLines, _) = got.head
    def cents(x: Double): Long =
      (BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact
    val lines = Tables.lineitem(spark, dir).filter(col("l_orderkey") === key)
      .select("l_extendedprice", "l_discount", "l_tax").collect()
      .map(r => (cents(r.getDouble(0)), cents(r.getDouble(1)), cents(r.getDouble(2))))
    assert(nLines === lines.length.toLong)
    val want = lines.map { case (p, di, tx) => p * (100 - di) * (100 + tx) }
      .sum.toDouble / 1000000.0
    assert(comp === want)
  }

  test("relational: active-users rollup matches driver-side distinct counts " +
       "and stickiness stays in (0, 1]") {
    val got = Relational.activeUsersRollup(spark, dir).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val ev = Tables.events(spark, dir)
      .select(unix_micros(date_trunc("DAY", col("ts"))).as("d"),
        unix_micros(date_trunc("WEEK", col("ts"))).as("w"), col("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val dauWant = ev.groupBy(_._1).view.mapValues(_.map(_._3).distinct.size).toMap
    val wauWant = ev.groupBy(_._2).view.mapValues(_.map(_._3).distinct.size).toMap
    got.foreach { case (dayMs, dau, wau, st) =>
      val dayUs = dayMs * 1000L
      assert(dau === dauWant(dayUs).toLong)
      val wkUs = ev.find(_._1 == dayUs).get._2
      assert(wau === wauWant(wkUs).toLong)
      assert(st === dau.toDouble / wau.toDouble && st > 0.0 && st <= 1.0)
      assert(dau <= wau)
    }
  }

  test("corpus: boilerplate prefixes finds planted repeated openings and " +
       "skips docs shorter than the window") {
    import spark.implicits._
    val opening = "this site uses cookies to improve your experience"
    val docs = Seq(
      (1L, s"$opening article one body text here", "en", "web"),
      (2L, s"$opening a second article body", "en", "web"),
      (3L, s"$opening third article with content", "en", "web"),
      (4L, "a unique start with no repetition anywhere", "en", "web"),
      (5L, "too short", "en", "web")
    ).toDF("doc_id", "text", "lang", "source")
    val got = Corpus.boilerplatePrefixes(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.length === 1)
    val (src, prefix, n) = got.head
    assert(src === "web" && n === 3L)
    assert(prefix === opening.split(" ").take(Corpus.PrefixTokens).mkString(" "))
    // real corpus: every reported prefix meets the floor
    val real = Corpus.boilerplatePrefixes(Tables.documents(spark, dir)).collect()
    assert(real.forall(_.getLong(2) >= Corpus.PrefixMinDocs))
  }

  test("relational: hourly seasonality covers <=168 ISO cells, conserves " +
       "the event count, and load averages to 1 over a full grid") {
    val got = Relational.hourlySeasonality(spark, dir).collect()
      .map(r => ((r.getInt(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
    assert(got.nonEmpty && got.length <= 168)
    assert(got.forall { case ((dow, hod), _) => dow >= 1 && dow <= 7 && hod >= 0 && hod <= 23 })
    val n = Tables.events(spark, dir).count()
    assert(got.map(_._2._1).sum === n)
    // load = n_cell * 168 / N exactly
    got.foreach { case (_, (c, load)) => assert(load === c.toDouble * 168 / n) }
    // ISO mapping: verify one cell against a driver-side java.time replay
    val ev = Tables.events(spark, dir).select(unix_micros(col("ts"))).collect()
      .map(_.getLong(0))
    val wantCells = ev.groupBy { us =>
      val ldt = java.time.LocalDateTime.ofEpochSecond(us / 1000000L, 0, java.time.ZoneOffset.UTC)
      (ldt.getDayOfWeek.getValue, ldt.getHour.toLong)
    }.view.mapValues(_.length.toLong).toMap
    assert(got.map { case (k, (c, _)) => k -> c }.toMap === wantCells)
  }

  test("relational: value islands collapse consecutive same-type runs with " +
       "half-open contiguous validity intervals") {
    val got = Relational.valueIslands(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime,
        Option(r.getTimestamp(3)).map(_.getTime), r.getLong(4)))
    assert(got.nonEmpty)
    // driver-side replay: collapse runs per user from the raw sorted log
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val want = ev.groupBy(_._1).flatMap { case (u, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._4)).toList
      val runs = scala.collection.mutable.ListBuffer.empty[(String, Long, Long)]
      sorted.foreach { case (_, ty, us, _) =>
        if (runs.nonEmpty && runs.last._1 == ty)
          runs.update(runs.length - 1, (ty, runs.last._2, runs.last._3 + 1))
        else runs += ((ty, us, 1L))
      }
      runs.toList.zipWithIndex.map { case ((ty, from, n), i) =>
        val to = if (i + 1 < runs.length) Some(runs(i + 1)._2) else None
        (u, ty, from / 1000, to.map(_ / 1000), n)
      }
    }.toSet
    assert(got.toSet === want)
    // per user: exactly one open (NULL valid_to) row, intervals contiguous
    got.groupBy(_._1).foreach { case (u, rows) =>
      assert(rows.count(_._4.isEmpty) === 1, s"user $u open rows")
      val sorted = rows.sortBy(_._3)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4.contains(b._3), s"user $u gap")
        case _ => ()
      }
      // adjacent islands never share a type (else they'd be one run)
      sorted.map(_._2).sliding(2).foreach {
        case Array(x, y) => assert(x != y, s"user $u unmerged run")
        case _ => ()
      }
    }
  }

  test("relational: point-in-time state lookup returns the browsing state " +
       "at each purchase instant, never a later one") {
    val got = Relational.pitStateLookup(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getTimestamp(1).getTime),
        (Option(r.getString(2)), Option(r.getTimestamp(3)).map(_.getTime))))
      .toMap
    assert(got.nonEmpty)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val purchases = ev.filter(_._2 == "purchase")
    assert(got.size === purchases.length)
    purchases.foreach { case (u, _, us, _) =>
      val states = ev.filter(r => r._1 == u && r._2 != "purchase")
        .sortBy(r => (r._3, r._4))
      val atOrBefore = states.takeWhile(_._3 <= us)
      val want =
        if (atOrBefore.isEmpty) (None, None)
        else {
          val ty = atOrBefore.last._2
          // island start: walk back over the trailing same-type run
          val runStart = atOrBefore.reverse.takeWhile(_._2 == ty).last._3
          (Some(ty), Some(runStart / 1000))
        }
      assert(got((u, us / 1000)) === want, s"user $u at $us")
    }
  }

  test("relational: user-type gini matches a driver-side rational replay " +
       "with single-type users at exactly zero") {
    val got = Relational.userTypeGini(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val ev = Tables.events(spark, dir).select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    got.foreach { case (u, n, k, g) =>
      val counts = ev.filter(_._1 == u).groupBy(_._2).map(_._2.length.toLong).toList
      assert(n === counts.sum && k === counts.length.toLong)
      assert(g === 1.0 - counts.map(c => c * c).sum.toDouble / (n * n).toDouble)
      if (k == 1) assert(g === 0.0)
      assert(g >= 0.0 && g < 1.0)
    }
  }

  test("relational: benford profile extracts first digits via exact cents " +
       "and shares sum to one") {
    val got = Relational.benfordProfile(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty && got.forall { case (d, _, _) => d >= 1 && d <= 9 })
    val n = got.map(_._2).sum
    assert(math.abs(got.map(_._3).sum - 1.0) < 1e-12)
    // driver replay over BigDecimal cents
    val want = Tables.lineitem(spark, dir).select("l_extendedprice").collect()
      .map(r => (BigDecimal(r.getDouble(0))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact)
      .filter(_ > 0)
      .groupBy(_.toString.head.asDigit).view.mapValues(_.length.toLong).toMap
    assert(got.map(r => r._1 -> r._2).toMap === want)
    assert(n === want.values.sum)
  }

  test("relational: latest order per customer via struct-max matches a " +
       "driver-side pick and plans NO window (partial-agg shape)") {
    val got = Relational.latestOrderProfile(spark, dir)
      .select(col("o_custkey"), unix_micros(col("last_orderdate").cast("timestamp")),
        col("last_orderkey"), col("last_totalprice"))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.nonEmpty)
    val orders = Tables.orders(spark, dir)
      .select(col("o_custkey"), unix_micros(col("o_orderdate").cast("timestamp")),
        col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val want = orders.groupBy(_._1).view.mapValues { rows =>
      val m = rows.maxBy(r => (r._2, r._3))
      (m._2, m._3, m._4)
    }.toMap
    assert(got === want)
    val plan = Relational.latestOrderProfile(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"expected a window-free agg plan:\n$plan")
  }

  test("corpus: per-source fixed-n sample is deterministic, within quota, " +
       "and pushes the rank limit (WindowGroupLimit)") {
    val docs = Tables.documents(spark, dir)
    val a = Corpus.samplePerSource(docs).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).sorted.toList
    val b = Corpus.samplePerSource(docs).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).sorted.toList
    assert(a === b, "content-hash ranking must be run-deterministic")
    assert(a.nonEmpty)
    a.groupBy(_._1).foreach { case (src, rows) =>
      assert(rows.length <= Corpus.SamplePerStratum, s"quota exceeded for $src")
      assert(rows.map(_._2).sorted === (1 to rows.length), s"ranks $src")
    }
    val plan = Corpus.samplePerSource(docs).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected rank pushdown in:\n$plan")
  }

  test("relational: debounce keeps the first event of every same-type burst " +
       "and matches a driver-side chain replay") {
    val kept = Relational.debounceEvents(spark, dir).collect()
      .map(_.getLong(0)).toSet
    assert(kept.nonEmpty)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val want = ev.groupBy(r => (r._1, r._2)).values.flatMap { rows =>
      val sorted = rows.sortBy(r => (r._3, r._4))
      val keep = scala.collection.mutable.ListBuffer.empty[Long]
      var prevUs = Long.MinValue
      sorted.foreach { case (_, _, us, id) =>
        // chain semantics: compare against the previous RAW event
        if (prevUs == Long.MinValue || us - prevUs > Relational.DebounceUs) keep += id
        prevUs = us
      }
      keep
    }.toSet
    assert(kept === want)
    assert(kept.size <= ev.length) // organic gaps are hours-scale here
    // planted burst: 3 rapid same-type repeats + 1 past the window + a
    // different type in between — keeps ids 1 (burst head), 4, 10
    import spark.implicits._
    val s = 1000000L
    val fix = Seq(
      (1L, 5L, "click", new java.sql.Timestamp(0L)),
      (2L, 5L, "click", new java.sql.Timestamp(10 * s / 1000)),
      (3L, 5L, "click", new java.sql.Timestamp(40 * s / 1000)),
      (10L, 5L, "view", new java.sql.Timestamp(20 * s / 1000)),
      (4L, 5L, "click", new java.sql.Timestamp(200 * s / 1000))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val keptFix = Relational.debounce(fix, windowUs = 60L * s)
      .collect().map(_.getLong(0)).toSet
    assert(keptFix === Set(1L, 4L, 10L))
  }

  test("relational: funnel stages match a driver-side replay, monotone") {
    val Array(row) = Relational.funnelStages(spark, dir).collect()
    val (nView, nClick, nFull) = (row.getLong(0), row.getLong(1), row.getLong(2))
    // driver-side replay of the staged first-qualifying-timestamp rule
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    var (ev2, ec2, ep2) = (0L, 0L, 0L)
    ev.groupBy(_._1).foreach { case (_, rows) =>
      val vt = rows.filter(_._2 == "view").map(_._3).minOption
      val ct = vt.flatMap(v => rows.filter(r => r._2 == "click" && r._3 > v).map(_._3).minOption)
      val pt = ct.flatMap(c => rows.filter(r => r._2 == "purchase" && r._3 > c).map(_._3).minOption)
      if (vt.isDefined) ev2 += 1
      if (ct.isDefined) ec2 += 1
      if (pt.isDefined) ep2 += 1
    }
    assert((nView, nClick, nFull) === ((ev2, ec2, ep2)))
    assert(nView >= nClick && nClick >= nFull, "funnel must be monotone")
    assert(nView > 0 && nFull > 0, "both funnel ends populated on shared data")
  }

  test("relational: inter-event gaps match a driver-side lag replay") {
    val out = Relational.intereventGaps(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out.keySet === Set("view", "click", "purchase", "error", "signup"))
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val expected = ev.groupBy(r => (r._1, r._2)).toSeq.flatMap { case ((_, t), rows) =>
      val ts = rows.sortBy(r => (r._4, r._3)).map(_._4)
      ts.zip(ts.drop(1)).map { case (a, b) => t -> (b - a) }
    }.groupBy(_._1).map { case (t, gaps) =>
      val g = gaps.map(_._2)
      t -> ((g.size.toLong, g.sum.toDouble / g.size.toDouble / 1e6, g.max.toDouble / 1e6))
    }
    expected.foreach { case (t, (n, avg, mx)) =>
      val (on, oavg, omx) = out(t)
      assert(on === n, s"$t n_gaps")
      assert(math.abs(oavg - avg) < 1e-9, s"$t avg")
      assert(omx === mx, s"$t max")
    }
  }

  test("relational: source pivot cells are exact counts, rows sum to corpus") {
    val out = Relational.docSourcePivot(spark, dir).collect()
    val docs = Tables.documents(spark, dir)
    val total = docs.count()
    assert(out.map(r => (1 to 20).map(r.getLong).sum).sum === total,
      "pivot cells partition the corpus")
    val cell = docs.filter(col("lang") === "en" && col("source") === "src3").count()
    val enRow = out.find(_.getString(0) == "en").get
    val src3Idx = 1 + Relational.PivotSources.indexOf("src3")
    assert(enRow.getLong(src3Idx) === cell)
    // absent combinations are 0, never null
    assert(out.forall(r => (1 to 20).forall(!r.isNullAt(_))))
  }

  test("relational: cube emits all four grouping sets, consistent totals") {
    val out = Relational.ordersCube(spark, dir).collect()
    val total = Tables.orders(spark, dir).count()
    def part(r: org.apache.spark.sql.Row) = (r.isNullAt(0), r.isNullAt(1))
    val grand = out.filter(part(_) == ((true, true)))
    assert(grand.length === 1 && grand.head.getLong(2) === total)
    val byStatus = out.filter(part(_) == ((false, true)))
    val byPrio = out.filter(part(_) == ((true, false)))
    val base = out.filter(part(_) == ((false, false)))
    assert(byStatus.map(_.getLong(2)).sum === total)
    assert(byPrio.map(_.getLong(2)).sum === total)
    assert(base.map(_.getLong(2)).sum === total)
    // revenue subtotals are exact (decimal sums): base rows sum to grand
    assert(math.abs(base.map(_.getDouble(3)).sum - grand.head.getDouble(3)) < 1e-6)
  }

  test("embedding QA profile: degenerate vectors counted, norms exact") {
    import spark.implicits._
    // 3 healthy unit-ish vectors + 1 zero vector + 1 tiny vector, two labels
    val mk = (v: Float) => Array.fill(VectorOps.Dim)(v)
    val rows = Seq(
      (1L, mk(0.5f), 0), (2L, mk(0.5f), 0), (3L, mk(0.0f), 0),   // label 0: one dead
      (4L, mk(0.25f), 1), (5L, mk(0.0001f), 1))                  // label 1: one tiny
    val emb = rows.toDF("vec_id", "embedding", "label")
    val out = VectorOps.embNormProfile(emb).collect()
      .map(r => r.getInt(0) -> r).toMap
    // q_i = floor(0.5 * 2^20) = 524288; n2 = 64 * 524288^2
    val n2Half = 64L * 524288L * 524288L
    val n2Quarter = 64L * 262144L * 262144L
    // floor(0.0001 * 2^20) = 104; n2 = 64 * 104^2 = 692,224 < 2^20
    val n2Tiny = 64L * 104L * 104L
    assert(n2Tiny < VectorOps.DegenerateN2 && n2Quarter > VectorOps.DegenerateN2)
    val l0 = out(0)
    assert(l0.getLong(1) === 3L && l0.getLong(2) === 1L)          // n_vecs, n_degenerate
    assert(l0.getLong(3) === 0L && l0.getLong(4) === n2Half)      // min, max
    assert(l0.getDouble(5) === (2.0 * n2Half.toDouble) / 3.0)     // mean: one divide
    val l1 = out(1)
    assert(l1.getLong(1) === 2L && l1.getLong(2) === 1L)
    assert(l1.getLong(3) === n2Tiny && l1.getLong(4) === n2Quarter)
  }

  test("relational: trailing-hour RANGE frame matches a driver-side replay") {
    val out = Relational.trailingHourValue(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out.nonEmpty)
    // reference replay: per user, sum values with ts in [t - 1h, t] —
    // RANGE semantics: same-timestamp peers fall in each other's frames
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    ev.groupBy(_._2).foreach { case (_, rows) =>
      rows.foreach { case (id, _, t, _) =>
        val expect = rows.filter(r => r._3 >= t - Relational.TrailUs && r._3 <= t)
          .map(r => BigDecimal(r._4).setScale(6, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble
        assert(math.abs(out(id) - expect) < 1e-6, s"event $id")
      }
    }
    // the frame is genuinely trailing: some frame must be a strict subset
    // of its user's full history (otherwise the window width never binds)
    val full = ev.groupBy(_._2).map { case (u, rows) => u -> rows.map(_._4).sum }
    val binds = ev.exists { case (id, u, _, _) => out(id) < full(u) - 1e-9 }
    assert(binds, "one-hour frame should bind on multi-hour user histories")
  }

  test("simsearch: exact top-k by shingle Jaccard, matches a driver-side brute force") {
    val docs = Tables.documents(spark, dir)
    val out = TextDedup.simSearch(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.nonEmpty, "bounded query ids exist at sf0.001")
    // query-side bound holds structurally
    out.foreach { case (q, c, _, _, _) =>
      assert(q % TextDedup.SimQueryStride === 0L &&
        q < TextDedup.SimQueryStride.toLong * TextDedup.SimQueryBudget)
      assert(c !== q, "self never retrieved")
    }
    // driver-side ground truth over the same corpus
    def shingles(t: String): Set[String] = {
      val toks = t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      if (toks.length < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> shingles(r.getString(1)))
      .filter(_._2.nonEmpty).toMap
    val queries = sets.keys.filter(id =>
      id % TextDedup.SimQueryStride == 0 &&
        id < TextDedup.SimQueryStride.toLong * TextDedup.SimQueryBudget)
    val expect = queries.flatMap { q =>
      sets.toSeq.filter(_._1 != q)
        .map { case (c, s) =>
          val inter = (sets(q) & s).size
          (c, inter, inter.toDouble / (sets(q).size + s.size - inter)) }
        .filter(_._2 >= 1)
        .sortBy { case (c, _, j) => (-j, c) }
        .take(TextDedup.SimSearchK)
        .zipWithIndex
        .map { case ((c, inter, j), i) => (q, c, i + 1L, inter.toLong, j) }
    }.toSet
    assert(out.toSet === expect)
  }

  test("neardup sim hist: bins partition the verified pairs, bounds exact") {
    val docs = Tables.documents(spark, dir)
    val pairs = TextDedup.minhashLsh(docs).collect().map(_.getDouble(2))
    val out = TextDedup.neardupSimHist(docs).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(pairs.nonEmpty && out.nonEmpty)
    val expect = pairs.groupBy(j => math.floor(j * TextDedup.SimHistBins).toLong)
    assert(out.keySet === expect.keySet)
    expect.foreach { case (bin, js) =>
      val (lo, n, mn, mx) = out(bin)
      assert(n === js.length.toLong && mn === js.min && mx === js.max, s"bin $bin")
      assert(lo === bin.toDouble / TextDedup.SimHistBins)
      js.foreach(j => assert(j >= lo && j < lo + 1.0 / TextDedup.SimHistBins + 1e-12))
    }
    // every surviving pair sits at/above the dedup threshold by construction
    assert(out.keys.min >= math.floor(
      TextDedup.MinHashThreshold * TextDedup.SimHistBins).toLong)
  }

  test("event rate outliers: flagged hours recompute from driver-side moments") {
    val dirE = "/root/testdata/sf0.001"
    val out = Relational.eventRateOutliers(spark, dirE).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out.nonEmpty, "sf0.001 hourly volumes vary enough to flag")
    val hourly = graft.sources.Tables.events(spark, dirE)
      .select(col("event_type"), expr(s"unix_micros(ts) div ${Relational.HourUs}").as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val byType = hourly.groupBy(_._1._1)
    val expect = byType.flatMap { case (_, hs) =>
      val n = hs.size.toDouble
      val mu = hs.values.sum.toDouble / n
      val sigma = math.sqrt(hs.values.map(c => c.toDouble * c).sum / n - mu * mu)
      hs.collect { case ((t, h), c) if math.abs((c - mu) / sigma) >= Relational.RateOutlierZ =>
        (t, h) -> c }
    }
    assert(out.keySet === expect.keySet)
    expect.foreach { case (k, c) => assert(out(k)._1 === c, s"hour $k") }
  }

  test("peak concurrency: per-hour peaks recompute from a driver-side interval sweep") {
    val dirE = "/root/testdata/sf0.001"
    val out = Relational.peakConcurrency(spark, dirE).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.nonEmpty)
    // driver-side sweep over the SAME session intervals
    // Timestamp.getTime is ms — keep the µs precision via getNanos
    def us(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val sess = Relational.sessionizeEvents(spark, dirE)
      .select("session_start", "session_end").collect()
      .map(r => (us(r.getTimestamp(0)), us(r.getTimestamp(1)) + 1))
    val deltas = (sess.map(s => s._1 -> 1L) ++ sess.map(s => s._2 -> -1L))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    val hourUs = Relational.HourUs
    var run = 0L
    val perHour = scala.collection.mutable.Map[Long, (Long, Long)]() // hb -> (entering, peak)
    deltas.foreach { case (ts, d) =>
      val hb = ts / hourUs
      val entry = perHour.getOrElseUpdate(hb, (run, run))
      run += d
      perHour(hb) = (entry._1, math.max(math.max(entry._2, entry._1), run))
    }
    assert(out === perHour.toMap)
    // the profile must be non-trivial: concurrency above 1 somewhere,
    // and some hour's peak must exceed what it started with
    assert(out.values.exists(_._2 > 1L))
    assert(out.exists { case (_, (en, pk)) => pk > en })
  }

  test("dup fraction: recomputes from a driver-side gram df over the real corpus") {
    val docs = Tables.documents(spark, dir)
    val out = TextDedup.dupFraction(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.nonEmpty)
    // driver-side replica of CharGramSeq: normalized text -> 16-char
    // windows -> per-doc distinct -> md5-hex 1-in-4 sample
    val md = java.security.MessageDigest.getInstance("MD5")
    def grams(t: String): Set[String] = {
      val nt = t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).mkString(" ")
      if (nt.length < TextDedup.CharGram) Set.empty
      else nt.sliding(TextDedup.CharGram).filter { g =>
        val h = md.digest(g.getBytes("UTF-8"))
        ((h(0) >> 4) & 0xf) < TextDedup.SampleHexMax
      }.toSet
    }
    val byDoc = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> grams(r.getString(1))).filter(_._2.nonEmpty).toMap
    val dfc = byDoc.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    assert(out.keySet === byDoc.keySet, "one row per doc with >= 1 sampled gram")
    byDoc.foreach { case (id, gs) =>
      val dup = gs.count(g => dfc(g) >= 2).toLong
      assert(out(id) === ((gs.size.toLong, dup, dup.toDouble / gs.size)), s"doc $id")
    }
    // planted near-dups make the signal non-trivial on this corpus
    assert(out.values.exists(_._3 > 0.5) && out.values.exists(_._3 < 0.5))
  }

  test("simsearch: a planted near-copy outranks unrelated documents") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again every day"
    val docs = Seq(
      (0L, base, "en", "s", base.length.toLong),
      (7L, base + " tonight", "en", "s", base.length + 8L),
      (9L, "completely different words about training data pipelines at scale here", "en", "s", 70L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextDedup.simSearch(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 0 is the one in-bound query; the near-copy must rank first
    assert(out.exists { case (q, c, rank) => q == 0L && c == 7L && rank == 1L })
  }

  test("market share: per-year shares partition the region/type revenue") {
    val out = Relational.marketShare(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    assert(out.nonEmpty, "sf0.001 has PROMO lineitems sold into ASIA")
    out.groupBy(_._1).foreach { case (year, rows) =>
      val total = rows.map(_._3).sum
      rows.foreach { case (_, nation, rev, share) =>
        assert(rev > 0 && nation.nonEmpty)
        // share was computed as rev / windowTotal in one IEEE division
        assert(math.abs(share - rev / total) < 1e-12, s"$year/$nation share")
      }
      assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-9, s"year $year shares sum to 1")
    }
    // driver-side recompute of one year's nation revenues from raw tables
    val promo = Tables.part(spark, dir).filter(col("p_type") === Relational.SharePartType)
      .collect().map(_.getAs[Long]("p_partkey")).toSet
    // nation/region keys are INT32 in the parquet — read as Int
    val nations = Tables.nation(spark, dir).collect()
      .map(r => r.getAs[Int]("n_nationkey") -> ((r.getAs[String]("n_name"), r.getAs[Int]("n_regionkey")))).toMap
    val regions = Tables.region(spark, dir).collect()
      .map(r => r.getAs[Int]("r_regionkey") -> r.getAs[String]("r_name")).toMap
    val supNation = Tables.supplier(spark, dir).collect()
      .map(r => r.getAs[Long]("s_suppkey") -> nations(r.getAs[Int]("s_nationkey"))._1).toMap
    val custRegion = Tables.customer(spark, dir).collect()
      .map(r => r.getAs[Long]("c_custkey") -> regions(nations(r.getAs[Int]("c_nationkey"))._2)).toMap
    val orderYear = Tables.orders(spark, dir).collect()
      .filter(r => custRegion(r.getAs[Long]("o_custkey")) == Relational.ShareRegion)
      .map(r => r.getAs[Long]("o_orderkey") -> (r.getAs[Any]("o_orderdate") match {
        case t: java.sql.Timestamp => t.toLocalDateTime.getYear.toLong
        case d: java.time.LocalDateTime => d.getYear.toLong // TIMESTAMP_NTZ read
      })).toMap
    val expected = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount").collect()
      .filter(r => promo(r.getAs[Long]("l_partkey")) && orderYear.contains(r.getAs[Long]("l_orderkey")))
      .groupBy(r => (orderYear(r.getAs[Long]("l_orderkey")), supNation(r.getAs[Long]("l_suppkey"))))
      .view.mapValues(_.map { r =>
        (BigDecimal(r.getAs[Double]("l_extendedprice")).setScale(2, BigDecimal.RoundingMode.HALF_UP) *
          (BigDecimal(1) - BigDecimal(r.getAs[Double]("l_discount")).setScale(4, BigDecimal.RoundingMode.HALF_UP)))
      }.sum).toMap
    assert(out.map(r => (r._1, r._2)).toSet === expected.keySet)
    out.foreach { case (y, n, rev, _) =>
      assert(math.abs(rev - expected((y, n)).toDouble) < 1e-6, s"$y/$n revenue") }
  }

  test("level shift: a planted step change tops its type's shift ranking") {
    import spark.implicits._
    // type A: 1 event/hour for 12h, then 10/hour for 12h; type B flat.
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    def at(h: Int, i: Int) = new java.sql.Timestamp(base + h * 3600000L + i * 1000L)
    val rows =
      (0 until 12).flatMap(h => Seq(("A", at(h, 0)))) ++
      (12 until 24).flatMap(h => (0 until 10).map(i => ("A", at(h, i)))) ++
      (0 until 24).map(h => ("B", at(h, 0)))
    val ev = rows.toDF("event_type", "ts")
    val out = Relational.levelShiftFrom(ev).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // top shift for A: boundary at hour 12 — 6x1 before vs 6x10 after
    val top = out.filter(t => t._1 == "A" && t._6 == 1L)
    assert(top.length === 1)
    assert(top.head._2 === at(12, 0) && top.head._3 === 6L && top.head._4 === 60L &&
      top.head._5 === 54L)
    // flat type B: every full-window shift is 0; rows exist but shift = 0
    assert(out.filter(_._1 == "B").forall(_._5 === 0L))
    // boundary rows without 6 observed hours on BOTH sides are excluded:
    // first full-window hour is 6, last is 24 - 6 = 18
    val hoursA = Relational.levelShiftFrom(ev.filter(col("event_type") === "A"))
    assert(hoursA.collect().forall { r =>
      val h = (r.getTimestamp(1).getTime - base) / 3600000L; h >= 6 && h <= 18 })
    assert(out.forall(_._6 <= Relational.ShiftTopN))
  }

  test("corpus checksum: every fold recomputes from a driver-side md5 pass") {
    val out = Corpus.corpusChecksum(Tables.documents(spark, dir)).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String) = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def hv13(h: String) = java.lang.Long.parseLong(h.substring(0, 13), 16)
    val raw = Tables.documents(spark, dir).select("source", "n_chars", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), hex(r.getString(2))))
    assert(out.keySet === raw.map(_._1).toSet)
    raw.groupBy(_._1).foreach { case (src, rows) =>
      val hvs = rows.map(r => hv13(r._3))
      val expected = (rows.length.toLong, rows.map(_._3).distinct.length.toLong,
        rows.map(_._2).sum,
        (hvs.map(BigInt(_)).sum % BigInt(Corpus.ChecksumMod)).toLong,
        hvs.reduce(_ ^ _))
      assert(out(src) === expected, s"source $src")
    }
    // reordering the corpus must not move any fold (order independence)
    val rev = Corpus.corpusChecksum(
      Tables.documents(spark, dir).orderBy(col("doc_id").desc)).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(rev === out)
  }

  test("fuzzy prefix dedup: typo-distance pairs pass, unrelated and short docs don't") {
    import spark.implicits._
    // the edit must land INSIDE the 48-char normalized window
    val a = "The Quick Brown Fox Jumps Over The Lazy Dog In The Morning Sun"
    val b = "The Quick Brown Fox Jumps Ovir The Lazy Dog In The Morning Sun"  // 1 edit
    val c = "The Quick! Brown Fox... Jumps Over The Lazy Dog In The Morning Sun" // punct only
    val docs = Seq(
      (1L, a), (2L, b), (3L, c),
      (4L, "completely unrelated opening text about spark catalyst planning"),
      (5L, "tiny")) // below FuzzyMinLen after normalization
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextDedup.fuzzyPrefixDedup(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L)),
      "exactly the planted near-identical openings pair up")
    assert(out((1L, 2L)) === 1L, "single-character typo")
    assert(out((1L, 3L)) === 0L, "punctuation-only variants normalize identically")
    // determinism: smaller id always first
    assert(out.keySet.forall { case (x, y) => x < y })
  }
}
