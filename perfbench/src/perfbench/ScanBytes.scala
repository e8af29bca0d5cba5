package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Bytes of the files an executed DataFrame's scans selected, from the
  * scans' own `filesSize` metric (after partition pruning). Task input
  * metrics undercount here: Parquet reads part of its data on threads
  * the per-task file-system counters do not see. */
object ScanBytes extends AdaptiveSparkPlanHelper {
  def of(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      .flatMap(_.metrics.get("filesSize")).map(_.value).sum
}
