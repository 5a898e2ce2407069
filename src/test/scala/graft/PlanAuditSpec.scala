package graft

import org.scalatest.funsuite.AnyFunSuite

/** Fleet-wide physical-plan audit: every registered query — current and
  * future — is checked for the plan shapes that do not survive scale.
  * PlanSpec pins specific good plans; this spec guarantees no query
  * anywhere in the registry regresses into the known scale-killers.
  *
  * Every query is PLANNED EXACTLY ONCE (6-way concurrent, shared by all
  * three checks): planning 160+ queries is the suite's whole cost, and
  * the earlier one-planning-pass-per-test shape tripled it — the single
  * shared pass keeps this suite flat as the registry grows. */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  import org.apache.spark.sql.execution.SparkPlan

  /** name → executed plan, computed once for the whole suite. A query
    * that fails to plan surfaces in every check via the sentinel. */
  private lazy val plans: Seq[(String, Either[String, SparkPlan])] = {
    // Force the session ON THIS THREAD before any future runs: `spark`
    // and `plans` are lazy vals on the same instance, and Scala 2 lazy
    // vals share the instance monitor — a future touching the
    // still-uninitialized `spark` while this thread awaits inside
    // `plans` is a textbook lazy-val deadlock (observed: 6 pool threads
    // BLOCKED on spark$lzycompute).
    val s = spark
    // Cache-residue sweep baseline: every operator that persists must
    // release by the time its frame is built (eager materialize +
    // unpersist — the triangleCount discipline). Start from a clean
    // cache manager so the post-pass check attributes residue to the
    // registry alone, not to earlier suites.
    s.sharedState.cacheManager.clearCache()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = SparkEntry.registry.sortBy(_.name).map { q =>
      scala.concurrent.Future {
        q.name -> (try Right(q.run(s, sf).queryExecution.executedPlan)
        catch { case e: Throwable => Left(e.toString.take(200)) })
      }
    }
    val out = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // the Scratch contract: every cache a query construction leaves
    // behind must be registered for release — releaseAll() must empty
    // the cache manager, or some operator leaked outside the discipline
    graft.operators.Scratch.releaseAll()
    cacheResidue = {
      val cm = s.sharedState.cacheManager
      val f = cm.getClass.getDeclaredMethod("cachedData")
      f.setAccessible(true)
      f.invoke(cm).asInstanceOf[IndexedSeq[AnyRef]].map { cd =>
        val pl = cd.getClass.getMethod("plan").invoke(cd)
        pl.toString.linesIterator.take(4).mkString(" | ").take(300)
      }
    }
    out
  }

  /** Cache-manager entries that SURVIVE Scratch.releaseAll() after
    * every registry query has been built — caches neither
    * self-released nor registered as scratch (What's wrong #4, round
    * 13: a long-lived session accumulates one pinned sf-sized frame
    * per leaky invocation). Populated by the shared pass. */
  @volatile private var cacheResidue: Seq[String] = Nil

  test("every query-construction cache is scratch-registered or self-released") {
    val _ = plans // force the shared pass (it releases + snapshots)
    assert(cacheResidue.isEmpty,
      s"""cache entries survive Scratch.releaseAll() — an operator cached
         |outside the scratch discipline (register with Scratch.register
         |or unpersist after the final action):
         |${cacheResidue.mkString("\n")}""".stripMargin)
  }

  test("every registry query plans") {
    val broken = plans.collect { case (n, Left(e)) => s"$n: $e" }
    assert(broken.isEmpty, s"unplannable queries:\n${broken.mkString("\n")}")
  }

  test("no registered query plans a CartesianProduct") {
    val offenders = plans.collect {
      case (n, Right(p)) if p.toString.contains("CartesianProduct") => n
    }
    assert(offenders.isEmpty,
      s"cartesian plans (death at scale): ${offenders.mkString(", ")}")
  }

  /** Queries allowed an unpartitioned WindowExec: each windows over an
    * input already bounded to a constant number of rows (pinned by a
    * PlanSpec TakeOrderedAndProject/limit assertion), so the single
    * task sees k rows, not the table. */
  private val globalWindowAllowed = Set(
    "a12_trend", "o3_pagination",
    "txt_vocab", "txt_encode", // rank the LIMIT-1000 vocab slice only
    "t20_cumulative_distinct", // windows the DAY SPINE: rows ∝ calendar days, never ∝ data
    "t29_survival"             // hazard cumsum over the day spine: rows ∝ distinct conversion days
    // txt_budget_fill earned its way OFF this list in round 12: both of
    // its running sums now go through Align.prefixSum (range partition +
    // per-partition offsets) — no unpartitioned window survives even on
    // a single-quality-class corpus (PropertySpec pins it).
  )

  test("no registered query windows the full relation on one task") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def globalWindows(p: SparkPlan): Seq[WindowExec] = {
      val here = p.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      val nested = p.collect { case a: AdaptiveSparkPlanExec => a }
        .flatMap(a => globalWindows(a.initialPlan))
      here ++ nested
    }
    val offenders = plans.collect {
      case (n, Right(p))
          if globalWindows(p).nonEmpty && !globalWindowAllowed(n) => n
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows over unbounded input: ${offenders.mkString(", ")}")
  }

  /** Columns with a CONSTANT domain (a handful of enum values no
    * matter the scale factor): a window PARTITIONed solely by these
    * sorts data-proportional input inside ≤|domain| tasks — correct,
    * green at sf0.1, and a multi-billion-row single-task sort at 100×
    * (round-12 verdict #1's scale-killer class). The Align grouped
    * primitives are the sanctioned replacement. */
  private val constantDomainCols = Set(
    "event_type", "l_returnflag", "l_linestatus", "l_shipmode",
    "l_shipinstruct", "o_orderstatus", "o_orderpriority", "cohort")

  /** Queries allowed a constant-domain-partitioned window because the
    * WINDOW INPUT is bounded (∝ calendar days or a pinned limit),
    * never ∝ data — the same justification class as
    * globalWindowAllowed. */
  private val constantDomainWindowAllowed = Set(
    "t30_cusum", // running sum+min over the DAY SPINE per type: rows ∝ calendar days × |types|
    "t22_spike_detect", // trailing RANGE frame over the (type, day) rollup: rows ∝ calendar days × |types|
    "w8_lead_lag" // lag/lead over the (day, type) rollup: rows ∝ calendar days × |types|
    // w7_ntile earned its way OFF this list in round 13: quartiles now
    // come from Align.groupedRowNumber + the closed-form ntile bucket
    // (rank and group size decide the tile arithmetically), so no task
    // ever sorts a whole priority's orders.
  )

  test("no registered query windows data-proportional input partitioned only by a constant-domain key") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def constWindows(p: SparkPlan): Seq[WindowExec] = {
      val here = p.collect {
        case w: WindowExec if w.partitionSpec.nonEmpty &&
            w.partitionSpec.forall(_.references.forall(a =>
              constantDomainCols(a.name))) => w
      }
      val nested = p.collect { case a: AdaptiveSparkPlanExec => a }
        .flatMap(a => constWindows(a.initialPlan))
      here ++ nested
    }
    val offenders = plans.collect {
      case (n, Right(p))
          if constWindows(p).nonEmpty && !constantDomainWindowAllowed(n) &&
            !globalWindowAllowed(n) => n
    }
    assert(offenders.isEmpty,
      "windows partitioned only by a constant-cardinality key (single-task " +
        s"sorts at scale — use Align.grouped*): ${offenders.mkString(", ")}")
  }

  /** Queries whose plan legitimately contains a BroadcastNestedLoopJoin:
    * each is a deliberate bounded product with the small side broadcast
    * (a baseline, or a top-k against a handful of broadcast queries). */
  private val bnljAllowed = Set(
    "a66_kendall_tau",     // contingency-cell product: |domains|² ≤ 550², never ∝ rows
    "sim_topk_bruteforce", // O(Q×N) by definition; query side broadcast
    "sim_mips",            // same brute shape + 1-row M² broadcast
    "sim_hard_negatives",  // same broadcast-query product, label anti-filtered
    "sim_binary_hamming",  // Hamming scan of 2-word codes × broadcast packed queries
    "sim_binary_rerank",   // same Hamming shortlist stage; rerank leg is equi-join
    "sim_ivf_binary",      // broadcast-centroid query assignment (same as sim_ivf_stored)
    "sim_matryoshka",      // truncated-dim brute-force legs × broadcast queries (baseline instrument)
    "sim_sq8",             // 1-row quantizer stats broadcast + code scan × broadcast query codes
    "sim_rp",              // projected brute-force legs × broadcast queries (JL price-tag instrument)
    "sim_ivf_topk",        // probe rows × broadcast centroid cells
    "sim_ivf_multiprobe",  // same broadcast-centroid stage, spill=2 assignment
    "sim_ivf_stored",      // query-side broadcast-centroid assignment; postings probed by bucket
    "sim_ivf_filtered",    // same serve plan + allowed-id semi-join before scoring
    "sim_hard_negatives_ivf", // same serve plan + label anti-filter before scoring
    "sim_ivf_upsert",      // same serve plan over the mutated store
    "sim_ivf_recluster",   // same serve plan over the reclustered store
    "sim_embed_drift",     // both sides assign against the broadcast frozen quantizer
    "sim_ivf_pq",          // same broadcast-centroid coarse stage as ivf_topk
    "sim_recall",          // composes bruteforce truth + ivf (both above)
    "sim_hybrid_rrf",      // dense leg is the broadcast brute-force ranker
    "sim_ranker_overlap", // same broadcast dense leg, overlap instrument
    "sim_pq_recall",       // same broadcast bruteforce-truth leg (L2 variant)
    "dd_ngram_jaccard",    // ground-truth baseline, pinned to id<1000
    "dd_lsh_recall",       // measures LSH against that bounded baseline
    "dd_embed_cosine",     // ground-truth baseline, pinned to id<1000
    "txt_tfidf",           // 1-row corpus-size frame broadcast into the scorer
    "txt_bm25",            // 1-row corpus-stats frame broadcast into the scorer
    "txt_bm25_stored",     // same 1-row stats frame, read from the store
    "txt_bm25_rankshift",  // both scorer legs share that 1-row stats product
    "txt_bm25_upsert",     // same 1-row stats product over the tombstone-adjusted store
    "a60_cuped",           // 2-row arm frame × 1-row pooled-moments broadcast
    "ml_target_encode",    // 1-row global-prior broadcast into the encoder
    "ml_gains",            // 1-row row-count broadcast into the binner
    "ml_calibration",      // 1-row (max, count) broadcast into the score normalizer
    "ml_psi_drift",        // 1-row bin-totals broadcast into the 10-cell PSI grid
    "a65_bh_fdr",          // 1-row step-up threshold broadcast onto the m=100 spine
    "txt_hill_tail",       // 1-row k+1-th order statistic broadcast onto the top-k spine
    "txt_heaps_fit",       // 1-row doc-count broadcast into the checkpoints
    "j17_join_guard",      // 1-row estimate × 1-row labeled truth
    "q22_prospect_customers", // 1-row global-average threshold broadcast into the filter
    "q11_important_stock", // 1-row global value total broadcast into the share filter
    "txt_heavy_tokens",    // 1-row corpus-total frame broadcast into the threshold
    "txt_collocations",    // 1-row bigram-total N broadcast into the PMI scorer
    "a43_basket_rules",    // 1-row basket-total N broadcast into the lift scorer
    "a44_rfm",             // 1-row user-count broadcast into the ntile bucket formula
    "a45_chi_square",      // 1-row grand-total broadcast into the expected-count formula
    "txt_mix_temperature", // 1-row Σsq6 budget denominator broadcast into the shares
    "txt_mix_divergence",  // vocab × ≤|slices|-row broadcast totals: the smoothing grid IS the output

    "a33_sketch_rollup",   // triangular day≤day merge of |days| k-long sketch arrays
    "a34_skew_report",     // 1-row stats × 1-row top10 sum
    "txt_budget_fill",     // 1-row boundary-class frame broadcast into the threshold filter
    "txt_dsir",            // 1-row model-totals frame broadcast into the ≤buckets-row log-ratio table
    "g_walk_pairs",        // 1-row pair-total T broadcast into the affinity-ratio scorer
    "g_modularity",        // two 1-row broadcasts (2m edge total, node count) into the score
    "t29_survival",        // 1-row observation-end + 1-row cohort-total broadcasts into the spine
    "t30_cusum",           // 1-row per-type totals broadcast into the deviation scaling
    "a52_benford",         // 1-row digit-total broadcast into the expected counts
    "j19_fs_linkage",      // 1-row ln-weight stats frame broadcast into the pair scorer
    "rec_neg_sampling"     // 1-row catalog-size broadcast into the hash-draw modulo
  )

  test("BroadcastNestedLoopJoin only in the deliberate bounded products") {
    val offenders = plans.collect {
      case (n, Right(p))
          if p.toString.contains("BroadcastNestedLoopJoin") && !bnljAllowed(n) => n
    }
    assert(offenders.isEmpty,
      s"unexpected nested-loop joins: ${offenders.mkString(", ")}")
  }

  test("PlanLint sweep: scorers stay out of join conditions (expensive-join-condition)") {
    // array_intersect, Levenshtein, UDFs and lambdas in a join condition
    // run per compared pair; EvalOnce keeps each scorer one evaluation
    val offenders = plans.collect {
      case (n, Right(p)) =>
        n -> graft.plans.PlanLint.lintPlan(p)
          .filter(_.rule == "expensive-join-condition").map(_.detail)
    }.filter(_._2.nonEmpty)
    assert(offenders.isEmpty,
      s"expensive join conditions:\n${offenders.mkString("\n")}")
  }

  test("extended PlanLint sweep: no registered query filters after a shuffle") {
    // Catalyst pushes deterministic filters below exchanges itself, so
    // a firing here means a non-deterministic predicate stranded above
    // a repartition — rows crossed the network to be discarded. No
    // registered query does this; keep it that way. (pushdown-failed
    // is NOT swept to zero — filters on computed values are legitimate
    // and advisory; this sweep pins only the always-wrong rule.)
    val offenders = plans.collect {
      case (n, Right(p)) if graft.plans.PlanLint.lintPlan(p)
        .exists(_.rule == "filter-after-shuffle") => n
    }
    assert(offenders.isEmpty,
      s"filters applied to shuffle output: ${offenders.mkString(", ")}")
  }
}
