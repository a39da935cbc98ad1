package graft.operators

import org.apache.spark.sql.DataFrame

/** Graph operators over a given edge relation, for specs that build
  * their graph by hand.
  */
object GraphMetricsEdges {

  /** `GraphMetrics.graphModularity` over the edges (src, dst). */
  def graphModularityEdges(e0: DataFrame): DataFrame =
    GraphMetrics.modularityFromLabels(e0, GraphMetrics.labelPropagationEdges(e0))
}
