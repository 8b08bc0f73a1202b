package org.apache.spark.sql.perfbench

import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Catalyst phase times of a finished SQL execution, read from the
  * `QueryExecution` Spark attaches to its end event (package-private,
  * hence this package). */
object SqlPhases {
  /** (analysis, optimization, planning) in ms; zeros without a plan. */
  def apply(e: SparkListenerSQLExecutionEnd): (Long, Long, Long) =
    Option(e.qe).map { qe =>
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(x => x.endTimeMs - x.startTimeMs).getOrElse(0L)
      (ms(QueryPlanningTracker.ANALYSIS), ms(QueryPlanningTracker.OPTIMIZATION),
        ms(QueryPlanningTracker.PLANNING))
    }.getOrElse((0L, 0L, 0L))
}
