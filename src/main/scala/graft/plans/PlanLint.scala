package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, Expression, HigherOrderFunction, Levenshtein, ScalaUDF}
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, FilterExec, InputAdapter, SparkPlan, SortExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Pre-flight plan lint — the scale-killer checks the test suite runs
  * fleet-wide (PlanAuditSpec), packaged as a LIBRARY call so a user can
  * vet any DataFrame BEFORE launching it against 100 TB: a plan that
  * passes on 60k rows and then cartesians on a cluster is a bill, not a
  * test failure. Flags exactly the shapes that do not survive scale:
  *
  *  - cartesian-product: O(|L|·|R|) row blowup — always a rewrite
  *    (equi-join key, broadcast hint, or pre-aggregation);
  *  - nested-loop-join: the broadcast side is re-scanned per row; fine
  *    for deliberate bounded products (a 1-row stats frame, a k-row
  *    centroid table), fatal when it sneaks in via a non-equi condition;
  *  - global-window: an unpartitioned window function moves EVERY row
  *    to one task — the single most common "worked in dev" failure;
  *  - pushdown-failed: a Filter sits directly on a parquet scan that
  *    pushed nothing useful (no pushed filter beyond IsNotNull) — the
  *    scan reads every row-group and the predicate runs post-I/O.
  *    Usually a filter on a COMPUTED value; rewrite it onto the stored
  *    column (or store the derived column) so min/max pruning works;
  *  - filter-after-shuffle: a Filter applied directly to shuffle
  *    output — the discarded rows crossed the network first. Catalyst
  *    pushes DETERMINISTIC filters below exchanges on its own, so a
  *    firing here is the residue the optimizer cannot move (e.g. a
  *    non-deterministic sampling predicate after a repartition) —
  *    reorder it by hand;
  *  - expensive-join-condition: `array_intersect`, a Levenshtein
  *    scorer, a Scala UDF or a higher-order function inside a join's
  *    condition runs once per compared pair (and again per reference
  *    the optimizer substituted) — usually a filter on a scorer that
  *    Catalyst pushed into the join; compute the scorer once behind
  *    [[graft.operators.EvalOnce]] and filter after it.
  *
  * A finding is advice, not an error: the registry itself whitelists
  * deliberate bounded products (see PlanAuditSpec) — the point is that
  * the decision is EXPLICIT. Walks adaptive sub-plans and subqueries. */
object PlanLint {

  final case class Finding(rule: String, node: String, detail: String)

  def lint(df: DataFrame): Seq[Finding] =
    lintPlan(df.queryExecution.executedPlan)

  /** Lint an already-planned physical tree (fleet sweeps that plan each
    * query once and run several checks over the shared plan). */
  def lintPlan(p: SparkPlan): Seq[Finding] = walk(p).distinct

  /** The findings as a DataFrame (for dashboards / CI gates). */
  def lintDf(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    lint(df).toDF("rule", "node", "detail")
  }

  private def walk(p: SparkPlan): Seq[Finding] = {
    val here: Seq[Finding] = p match {
      case _: CartesianProductExec => Seq(Finding("cartesian-product",
        p.nodeName, "every-pair product: O(|left|*|right|) output rows"))
      case j: BroadcastNestedLoopJoinExec => Seq(Finding("nested-loop-join",
        p.nodeName,
        s"${j.joinType} without an equi-key: broadcast side rescanned per row"))
      case w: WindowExec if w.partitionSpec.isEmpty => Seq(Finding(
        "global-window", p.nodeName,
        "unpartitioned window moves ALL rows to one task"))
      case s: SortExec if s.global && s.child.isInstanceOf[WindowExec] =>
        Nil // the window case above already covers its feeding sort
      case f: FilterExec => throughWrappers(f.child) match {
        case scan: FileSourceScanExec if !usefulPushdown(scan) =>
          Seq(Finding("pushdown-failed", p.nodeName,
            "filter on a scan with no pushed predicate beyond IsNotNull: " +
              "every row-group is read, the predicate runs post-I/O"))
        case c if isShuffleOutput(c) =>
          Seq(Finding("filter-after-shuffle", p.nodeName,
            "rows are discarded AFTER crossing the network: filter " +
              "before the repartition/exchange, not after"))
        case _ => Nil
      }
      case _ => Nil
    }
    val costly = p match {
      case j: BaseJoinExec => j.condition.toSeq.flatMap(expensive).distinct
        .map(what => Finding("expensive-join-condition", p.nodeName,
          s"$what evaluated per compared pair inside the join condition"))
      case _ => Nil
    }
    val nested = p match {
      case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
      case _ => Nil
    }
    here ++ costly ++ nested ++ p.children.flatMap(walk) ++
      p.subqueries.flatMap(walk)
  }

  /** The per-row-costly expressions of `e`, by name. */
  private def expensive(e: Expression): Seq[String] = e.collect {
    case _: ArrayIntersect => "array_intersect"
    case _: Levenshtein | _: LevenshteinSimilarity => "levenshtein"
    case u: ScalaUDF => s"udf ${u.udfName.getOrElse("(anonymous)")}"
    case h: HigherOrderFunction => h.prettyName
  }

  /** Skip the structural wrappers between a Filter and what feeds it
    * (codegen boundaries, columnar-to-row) — they carry no semantics. */
  private def throughWrappers(p: SparkPlan): SparkPlan = p match {
    case w: WholeStageCodegenExec => throughWrappers(w.child)
    case i: InputAdapter => throughWrappers(i.child)
    case c: ColumnarToRowExec => throughWrappers(c.child)
    case _ => p
  }

  /** A pushed filter list that can actually prune I/O: at least one
    * predicate beyond the IsNotNull residue Catalyst pushes for any
    * null-intolerant condition. Split on TOP-LEVEL commas only —
    * nested predicates (`In(col, [a,b])`, `Or(EqualTo(..), ..)`)
    * contain commas of their own, and a bare split would fragment them
    * into pieces judged independently (round-11 ADVICE). */
  private def usefulPushdown(scan: FileSourceScanExec): Boolean =
    topLevelSplit(scan.metadata.getOrElse("PushedFilters", "[]")
      .stripPrefix("[").stripSuffix("]"))
      .exists(!_.startsWith("IsNotNull"))

  /** Split a rendered predicate list on commas at bracket depth 0. */
  private[graft] def topLevelSplit(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case c @ ('(' | '[') => depth += 1; cur += c
      case c @ (')' | ']') => depth -= 1; cur += c
      case ',' if depth == 0 =>
        val t = cur.result().trim; if (t.nonEmpty) out += t; cur.clear()
      case c => cur += c
    }
    val last = cur.result().trim
    if (last.nonEmpty) out += last
    out.result()
  }

  private def isShuffleOutput(p: SparkPlan): Boolean = p match {
    case _: ShuffleExchangeLike | _: ShuffleQueryStageExec |
        _: AQEShuffleReadExec => true
    case _ => false
  }
}
