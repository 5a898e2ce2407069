package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{array, explode}

/** The single-evaluation barrier: `EvalOnce(e)` is a one-element
  * `explode(array(e))` Generate, so an expensive scorer (an
  * `array_intersect` verify, a Levenshtein or difflib ratio) runs
  * exactly once per row.
  *
  * Without it, a filter on the scorer's value lets Catalyst push the
  * predicate into the JOIN CONDITION that produced the row, where the
  * expression is substituted — and evaluated — once per comparison,
  * again per CASE branch, and again in the output projection (3
  * intersections per pair measured on dd_paragraph, ~20 per candidate
  * in the fuzzy matcher's CASE chains). Deterministic predicates that
  * reference generator output are not pushed below a Generate, so the
  * scorer stays one evaluation and the join condition stays the bare
  * equi-join. Rows and values are unchanged: the array always holds one
  * element. PlanLint's `expensive-join-condition` rule flags the
  * shapes this barrier keeps out of join conditions. */
object EvalOnce {
  def apply(e: Column): Column = explode(array(e))
}
