package graft.enrich

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Config-driven range validation: bounds live in the rule config's
  * `validation` section and fold into plain codegen'd comparison columns —
  * a user tightens a threshold by editing config, never by recompiling
  * (reference: the 0 ≤ v ≤ 1e6 range rule is config + a CHECK constraint,
  * Config/config.yaml:82 and Scripts/database_schema.sql:438-443). Same
  * config-as-data contract as the classifier rules: the DATA changes per
  * deployment, the PLAN SHAPE (a chain of `<`/`>` comparisons) does not,
  * so config edits cannot deoptimize the scan they ride on.
  */
object Validation {

  /** One range rule: a violation flag column named `flag` is true when
    * `column` falls below `min` or above `max` (absent bound = unchecked).
    */
  final case class RangeRule(
      column: String,
      min: Option[Double],
      max: Option[Double],
      flag: String)

  /** The raw comparison tree of one rule — the SINGLE definition both the
    * projected flags and the filter predicate build on, so the two can
    * never flag different rows (bound-semantics drift between them would
    * desynchronize p6's filter from its flag columns silently).
    */
  private def rawChecks(r: RangeRule): Seq[Column] = {
    val c = col(r.column)
    r.min.map(m => c < lit(m)).toSeq ++ r.max.map(m => c > lit(m))
  }

  /** Violation flag columns, one per rule — p6's validation shape built
    * from config data.
    */
  def rangeFlags(rules: Seq[RangeRule]): Seq[(String, Column)] =
    rules.map { r =>
      // coalesce to an EXPLICIT false on null input: a null comparison
      // yields null, filter(null) silently passes the row as valid, and a
      // three-valued flag column leaks downstream — a null value is "no
      // violation detected", stated as false, not as unknown
      r.flag -> coalesce(rawChecks(r).reduceOption(_ || _).getOrElse(lit(false)), lit(false))
    }

  /** True when any rule is violated — the quarantine/filter predicate.
    * Built from the RAW comparisons, NOT the coalesced flag columns: in a
    * filter, a null predicate drops the row exactly like false does, and
    * the bare `<`/`>`/`OR` tree is source-convertible so the violation
    * scan pushes down to parquet row-group pruning — wrapping in
    * `coalesce` (needed only for PROJECTED flags, where three-valued
    * logic would leak downstream) blocks that conversion and turns the
    * scan into a full read (PlanShapeSpec pins PushedFilters on p6).
    */
  def anyViolation(rules: Seq[RangeRule]): Column =
    rules.flatMap(rawChecks).reduceOption(_ || _).getOrElse(lit(false))
}
