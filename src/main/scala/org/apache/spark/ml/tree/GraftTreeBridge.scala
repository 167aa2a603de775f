package org.apache.spark.ml.tree

/** Bridge to the `private[ml]` node statistics of spark.ml trees.
  *
  * XGBoost-JSON interchange of the wrapped MLlib GBT forests
  * ([[graft.ml.MultiSparse.fromMLlibTree]]) needs each node's
  * instance mass for the document's `sum_hessian` slot (XGBoost's
  * `cover`). MLlib keeps it on `Node.impurityStats` (the
  * `ImpurityCalculator` behind the split search), which is
  * `private[ml]`; `impurityStats.count` IS the node's total instance
  * weight.
  */
object GraftTreeBridge {

  /** Total (weighted) instance mass at `n`. */
  def nodeWeight(n: Node): Double = n.impurityStats.count
}
