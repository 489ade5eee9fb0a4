package graft.plans

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestHarness}

/** Plan-shape regression guard over the WHOLE query surface.
 *
 * PLANS.md documents the 100×-scale story per query: candidate generation
 * is always an equi-join or a groupBy-on-bucket shuffle, never a cartesian
 * pair enumeration. Nothing but a test enforces that a future refactor
 * keeps it true — a silently re-introduced `CartesianProduct` or
 * `BroadcastNestedLoopJoin` still PASSES correctness at sf0.01 while being
 * a scale-killer at 100 TB. This spec locks the shape in for every entry
 * in [[SparkEntry.queries]].
 *
 * `ann_brute_topk` is whitelisted outright: its broadcast nested-loop IS
 * the design — the deliberately-exact O(|Q|·|C|) baseline against which
 * the LSH/IVF paths are measured (SURVEY.md §7.2-M7). `ann_ivf_topk`
 * gets a NARROWER exemption: its two nested-loops multiply by the
 * bounded CENTROID set (the classic N·C IVF index build + the tiny
 * probe), so exactly those two BNLJs are allowed — a CartesianProduct is
 * still forbidden, a third BNLJ fails, and a dedicated test pins the
 * search stage as an equi-join on the centroid id. */
class PlanGuardSpec extends AnyFunSuite with SparkTestHarness {

  private val dir = "/root/testdata/sf0.001"

  /** Nodes that enumerate cross-products; fatal at scale. */
  private val forbidden = Seq("CartesianProduct", "BroadcastNestedLoopJoin")
  private val whitelist = Set("ann_brute_topk")
  /** name -> max BroadcastNestedLoopJoin nodes tolerated (cartesians never).
   * semantic_dedup reuses IVF's N·C assignment build (one nested loop
   * against the bounded centroid set — no probe stage). knn_label is the
   * annBruteTopK shape: its one nested loop multiplies the corpus by the
   * [[graft.operators.VectorOps.QueryBudget]]-bounded broadcast query
   * set (O(1) rows at any corpus size). mix_weights crossJoins the tiny
   * per-source relation with a SINGLE broadcast max row. kmeans_assign
   * and ivf_balance (which reuses it) ARE the IVF N·C assignment build
   * exposed as results — one nested loop against the √n-capped broadcast
   * centroid set, the exact shape already budgeted for ann_ivf_topk /
   * semantic_dedup. ann_recall's nested loop is its brute ground-truth
   * arm (the whitelisted annBruteTopK, deliberately exact over the
   * QueryBudget-bounded query set); its LSH arm stays equi-joined.
   * text_simsearch is the annBruteTopK shape on text — corpus shingles ×
   * the SimQueryBudget-bounded broadcast query set. doc_surprisal
   * crossJoins the tiny per-term relation with a SINGLE broadcast
   * corpus-total row (the mix_weights precedent). */
  private val bnljBudget = Map("ann_ivf_topk" -> 2, "semantic_dedup" -> 1,
    "knn_label" -> 1, "mix_weights" -> 1,
    "kmeans_assign" -> 1, "ivf_balance" -> 1, "ann_recall" -> 1,
    "kmeans_refine" -> 1, // inherits kmeans_assign's N·C build
    "text_simsearch" -> 1, "doc_surprisal" -> 1,
    "colloc_lift" -> 1, // 1-row total-token broadcast (mix_weights shape)
    "hourly_seasonality" -> 1, // 1-row total-events broadcast (same shape)
    "quant_recall_audit" -> 1, // deliberate brute pass (ann_brute_topk shape)
    "benford_profile" -> 1, // 1-row total broadcast (mix_weights shape)
    "kmv_overlap_audit" -> 1, // two 1-row aggregates crossJoined (audit shape)
    "epoch_plan" -> 1, // mixWeights' 1-row max-tokens broadcast (same shape)
    "semantic_decontaminate" -> 1, // bounded eval-sample broadcast (brute shape)
    "dsir_weights" -> 2, // two 1-row broadcasts: smoothed totals + raw-mean cut (kmv_overlap_audit shape)
    "hard_negatives" -> 1, // bounded broadcast query set x corpus (knn_label shape)
    "cm_error_audit" -> 1, // 1-row CM grid broadcast onto the 30-row candidate head (mix_weights shape)
    "retrieval_plan" -> 2, // the ann_ivf_topk pair: N·C chunk-assignment build + bounded probe stage
    "emb_pca_power" -> 2, // two 1-row carry broadcasts (mix_weights shape): the
                          // persisted (m_arr, v1_arr, k1) frame enters the pass-2
                          // mat-vec scan and the final assembly — every BNLJ side is
                          // exactly one row at ANY corpus size (round 16 fused the
                          // mean pass into pass 1 and folded the per-step 64-row
                          // aggregates into array expressions: 4 BNLJs → 2)
    "emb_pca_topk" -> 4, // the chain's two + deflated pass b's two 1-row
                         // broadcasts (the u₁-iterate into the mat-vec scan and
                         // the u₁ carry onto the 1-row w aggregate) — pass a is
                         // scan-free round 16 (its mat-vec equals the chain's
                         // pass 1, so it deflates the stored v1_fx directly);
                         // normalize and deflation are EXPRESSIONS over 1-row
                         // array columns, so they add no joins
    "pca_residual_outliers" -> 3, // emb_pca_power's two (memoized chain) + its own
                                  // 1-row (m_arr, v_arr, den) scoring broadcast
    "label_spectral_drift" -> 3,  // same shape: the PCA chain + one 1-row
                                  // (v_arr, kv) scoring broadcast
    "bpe_merges_iter" -> 4) // 1-row winning-pair broadcasts, one per chained iteration; iteration k's
                            // broadcast side re-nests the k−1 chain (all over the persisted O(vocab)
                            // relation), so 3 iterations plan 1+3 structural instances (mix_weights shape)

  /** Structural node count: one PHYSICAL instance counts once. A plain
   * `toString` regex over-counts shared persisted subtrees (the printer
   * re-expands an `InMemoryRelation`'s cached plan at every reference —
   * semantic_dedup's single N·C build printed 7×), so this walks the
   * tree instead: through the AQE wrapper, into each distinct cached
   * relation exactly once (identity-deduped), and into expression
   * subqueries. */
  private def countNodes(root: SparkPlan, name: String): Int =
    countMatching(root, _.nodeName.contains(name))

  private def countMatching(root: SparkPlan, pred: SparkPlan => Boolean): Int = {
    val seenCached = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def walk(p: SparkPlan): Int = {
      val here = if (pred(p)) 1 else 0
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
        case s: InMemoryTableScanExec =>
          // dedupe on the cachedPlan: the cache manager hands each
          // reference a fresh InMemoryRelation instance (newInstance()
          // for fresh attribute ids) over the SAME underlying plan
          if (seenCached.add(s.relation.cachedPlan)) Seq(s.relation.cachedPlan) else Nil
        case _ => p.children
      }
      here + (kids ++ p.subqueries).map(walk).sum
    }
    walk(root)
  }

  test("no query plans a cartesian or nested-loop join (whitelist: ann_brute_topk)") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      if (whitelist(name)) None
      else {
        val plan = fn(spark, dir).queryExecution.executedPlan
        val budget = bnljBudget.getOrElse(name, 0)
        val bnlj = countNodes(plan, "BroadcastNestedLoopJoin")
        val cart = countNodes(plan, "CartesianProduct")
        val hit = (if (cart > 0) Seq("CartesianProduct") else Nil) ++
          (if (bnlj > budget) Seq(s"BroadcastNestedLoopJoin x$bnlj (budget $budget)") else Nil)
        if (hit.nonEmpty) Some(s"$name: ${hit.mkString(", ")}") else None
      }
    }
    assert(offenders.isEmpty, s"scale-killer join nodes planned by:\n  ${offenders.mkString("\n  ")}")
    spark.catalog.clearCache()
  }

  test("no query's plan contains a driver materialization (CollectLimit / " +
       "computed LocalTableScan)") {
    // CollectLimitExec pulls rows to the driver; a LocalTableScanExec is a
    // driver-resident relation. Either inside a CHECKED plan means some
    // parameter or relation was computed via collect()/head()/createDataFrame
    // on the driver — the anti-pattern the suite's O(1)-row precedents
    // (bloom literal, CC convergence checksum) deliberately keep OUT of the
    // returned plan by resolving at construction time. localCheckpoint
    // lineages (RDDScan) are executor-resident and stay allowed.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, dir).queryExecution.executedPlan
      val hits = Seq("CollectLimit", "LocalTableScan").map(n => n -> countNodes(plan, n))
        .filter(_._2 > 0)
      if (hits.nonEmpty)
        Some(s"$name: ${hits.map { case (n, c) => s"$n x$c" }.mkString(", ")}")
      else None
    }
    assert(offenders.isEmpty,
      s"driver-materialization nodes planned by:\n  ${offenders.mkString("\n  ")}")
    spark.catalog.clearCache()
  }

  /** Per-(query, table) scan-count budgets above the default of 2. Two
   * scans of one table is the normal two-sided-derivation shape (self
   * joins, sketch-then-verify); anything above is either one of these
   * audited designs or a regression where a shared subtree lost its
   * persist and Catalyst replays a whole pipeline per consumer (round 12
   * found dedup_incremental planning FIFTEEN corpus scans this way). */
  private val scanBudget = Map(
    "bloom_decontaminate" -> 3, // screen + bench grams + flagged corpus grams
    "dedup_incremental" -> 6,   // exact x2 + bands x2 + verify x2, cross-side
    "dedup_ngram_jaccard" -> 3, // postings x2 (measured no-persist A/B) + cand grams
    "ngram_containment" -> 3,   // same shared generator
    "dedup_savings" -> 4,       // labeling + keepers + token mass + pair reuse
    "epoch_plan" -> 4,          // quality + dedup + sampler + shuffle stages
    "fk_orphans" -> 3,          // 8 audited edges over 6 tables, pre-aggregated
    "neardup_source_mix" -> 4)  // minhash x2 + two narrow source probes

  test("no query scans one table more than its audited budget (default 2) — " +
       "a lost persist on a shared subtree fails here, not at 100 TB") {
    def scansOf(root: SparkPlan): Seq[String] = {
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
      def walk(p: SparkPlan): Seq[String] = {
        val here = p match {
          case s: FileSourceScanExec =>
            Seq(s.relation.location.rootPaths.map(_.getName).mkString(","))
          case _ => Nil
        }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
          case s: InMemoryTableScanExec =>
            if (seen.add(s.relation.cachedPlan)) Seq(s.relation.cachedPlan) else Nil
          case _ => p.children
        }
        here ++ (kids ++ p.subqueries).flatMap(walk)
      }
      walk(root)
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val budget = scanBudget.getOrElse(name, 2)
      val over = scansOf(fn(spark, dir).queryExecution.executedPlan)
        .groupBy(identity).view.mapValues(_.size)
        .filter(_._2 > budget).toMap
      if (over.nonEmpty)
        Some(s"$name: ${over.map { case (t, c) => s"$t x$c (budget $budget)" }.mkString(", ")}")
      else None
    }
    assert(offenders.isEmpty,
      s"scan-multiplicity regressions:\n  ${offenders.mkString("\n  ")}")
    spark.catalog.clearCache()
  }

  test("mg_heavy_hitters re-counts via a token-keyed BROADCAST join — the " +
       "corpus token stream never shuffles into the candidate probe") {
    for (name <- Seq("mg_heavy_hitters", "mg_hitters_by_lang")) {
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      assert("BroadcastHashJoin \\[(lang#\\d+, )?token".r.findFirstIn(plan).isDefined,
        s"$name: expected the ≤k candidate set on the broadcast side of a " +
          s"token-keyed hash join in:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$name: re-count must not sort-merge the token stream:\n$plan")
    }
    spark.catalog.clearCache()
  }

  test("mg_hitters_by_lang's re-count broadcast stays under the 10 MB default " +
       "at the sf1 vocabulary") {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    import org.apache.spark.sql.functions.{col, explode}
    import graft.functions.TextFunctions
    // prefer the generated sf1 corpus (10× vocabulary pressure); the bound
    // is structural — ≤ langs·MgK rows at ANY corpus size — so the sf0.1
    // fallback still pins the row cap when the scale data is absent
    val sf1 = "/root/repo/.scale/sf1"
    val d = if (new java.io.File(s"$sf1/documents.parquet").exists()) sf1
            else "/root/testdata/sf0.1"
    // the broadcast side of mgHittersByLang's re-count join, rebuilt
    // verbatim: per-language MG sketch entries (lang, token, n_stream)
    val sk = toCol(MisraGriesAgg(
      toExpr(TextFunctions.tokens(col("text"))), graft.operators.Corpus.MgK)
      .toAggregateExpression())
    val cand = graft.sources.Tables.documents(spark, d)
      .groupBy(col("lang")).agg(sk.as("sk"))
      .select(col("lang"), explode(col("sk")).as("e"))
      .select(col("lang"), col("e.token").as("token"), col("e.n").as("n_stream"))
      .collect()
    val langs = cand.map(_.getString(0)).distinct.length
    assert(cand.length <= langs * graft.operators.Corpus.MgK,
      s"candidate rows ${cand.length} exceed langs($langs)·MgK")
    // conservative UnsafeRow estimate: 2 B/char UTF-16 upper bound on both
    // strings + 8 B long + ~48 B row/field overhead
    val bytes = cand.map(r =>
      2L * (r.getString(0).length + r.getString(1).length) + 8L + 48L).sum
    assert(bytes < 10L * 1024 * 1024,
      s"re-count broadcast ≈ $bytes B at the $d vocabulary — past the " +
        "10 MB autoBroadcastJoinThreshold the probe join would silently " +
        "flip to a token-stream shuffle")
    spark.catalog.clearCache()
  }

  test("bloom_decontaminate screens scan-side and joins only the flagged sliver") {
    val plan = SparkEntry.queries("bloom_decontaminate")(spark, dir)
      .queryExecution.executedPlan.toString
    // the corpus-wide pass is the codegen'd might_contain filter...
    assert(plan.contains("might_contain"),
      s"expected the Bloom screen inside the scan path:\n$plan")
    // ...and the exact gram join's corpus side is restricted to flagged
    // doc_ids by a broadcast left-semi BEFORE the gram explode
    assert("BroadcastHashJoin \\[doc_id#\\d+L\\], \\[doc_id#\\d+L\\], LeftSemi".r
        .findFirstIn(plan).isDefined,
      s"expected a broadcast left-semi doc_id restriction in:\n$plan")
    spark.catalog.clearCache()
  }

  test("ann_ivf_topk's search stage is an equi-join on the centroid id") {
    val plan = SparkEntry.queries("ann_ivf_topk")(spark, dir)
      .queryExecution.executedPlan.toString
    // probed lists × assignments must hash/merge-join on cid — if this
    // degraded to a nested loop it would hide inside the BNLJ budget
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[cid".r
        .findFirstIn(plan).isDefined,
      s"expected a cid-keyed equi-join in:\n$plan")
    spark.catalog.clearCache()
  }

  test("skew_join_salted shuffles on the salted key pair, never broadcasts") {
    val df = SparkEntry.queries("skew_join_salted")(spark, dir)
    val plan = df.queryExecution.executedPlan
    // the demo's point: a shuffled hash join keyed on (key, salt) — a
    // broadcast would bypass the shuffle the salt exists to spread
    assert(countNodes(plan, "BroadcastHashJoin") === 0,
      s"salted join must not broadcast:\n$plan")
    val s = plan.toString
    assert("ShuffledHashJoin \\[user_id[^\\]]*__salt".r.findFirstIn(s).isDefined,
      s"expected a (user_id, __salt)-keyed ShuffledHashJoin in:\n$s")
    // salt-invariance: identical to the PLAIN join (what the oracle runs)
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit, sum}
    val ev = graft.sources.Tables.events(spark, dir)
    val cust = graft.sources.Tables.customer(spark, dir)
    val plain = ev.join(cust, ev("user_id") === cust("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val salted = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(salted === plain)
    assert(salted.values.map(_._1).sum > 0, "join must match rows")
    spark.catalog.clearCache()
  }

  test("ljot queries push the event_type predicate into the parquet scan") {
    Seq("ljot_events", "interval_join_inner", "timeout_only").foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val scans = df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty, s"$name: expected parquet file scans")
      val pushed = scans.flatMap(_.metadata.get("PushedFilters"))
      assert(pushed.exists(_.contains("EqualTo(event_type")),
        s"$name: event_type equality not pushed to the scan — got $pushed")
    }
    spark.catalog.clearCache()
  }

  test("ljot scans prune to the referenced columns only") {
    val df = SparkEntry.queries("ljot_events")(spark, dir)
    val scans = df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
    scans.foreach { s =>
      val cols = s.output.map(_.name).toSet
      assert(!cols.contains("props"),
        s"scan reads the wide json props column it never uses: $cols")
    }
    spark.catalog.clearCache()
  }
}
