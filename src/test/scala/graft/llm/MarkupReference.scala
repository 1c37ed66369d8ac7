package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Equivalence references for the [[Markup]] specs: earlier
  * formulations the production chain must still agree with. */
object MarkupReference {

  /** The pre-split-formulation fence-drop rule: [[Markup.dropFencedCol]]
    * followed by the chain's marker-line rule must equal one global
    * pass of this pattern. */
  val dropFencedRule: (String, String) =
    ("(?s)(?m)^```[^\\n]*\\n.*?^```[^\\n]*$", "")

  /** The per-rule Column formulation the fused kernel is pinned
    * against: one `regexp_replace` node per rule. */
  def stripMarkdownChain(c: Column, dropFencedCode: Boolean = false): Column = {
    def fold(acc: Column, rs: Seq[(String, String)]): Column =
      rs.foldLeft(acc) { case (a, (p, r)) => regexp_replace(a, p, r) }
    val afterHead = fold(c, Markup.rules.take(Markup.preFenceRules))
    val base = if (dropFencedCode) Markup.dropFencedCol(afterHead) else afterHead
    fold(base, Markup.rules.drop(Markup.preFenceRules))
  }
}
