package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Operator-local parallelism repair for CPU-DENSE row-local stages
  * (PNG decode, md5 shingle fingerprints, levenshtein verify, to_json
  * row building).
  *
  * [[graft.Tables]] caches a base table wider than one partition only
  * when its scan statistics say it is large enough to pay for it; a
  * small table (documents, customer, part) stays a single scan
  * partition, so a heavy per-row stage over it runs serial no matter
  * how many cores the session has. [[spread]] hash-repartitions the
  * frame on a content key up to the session's parallelism — but ONLY
  * when the input has fewer partitions than cores. At 100 TB the scan
  * is already wide, the condition is false, and no payload-shuffling
  * repartition fires.
  *
  * Hash placement on a key column (never round-robin/rand) keeps row
  * placement content-deterministic; results stay layout-independent by
  * the repo's standing determinism contract (decimal sums, sorted
  * collections).
  */
object Par {
  def spread(df: DataFrame, key: Column): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (width(df) < n) df.repartition(n, key) else df
  }

  /** A fresh planning of `df`'s analyzed plan. Reading statistics or the
    * physical plan from it runs no Spark job and leaves `df`'s own query
    * execution unplanned, so `df` still picks up a cache registered
    * after this call. (Re-analyzing `df.queryExecution.logical` instead
    * would resolve a parquet reader again: one schema-inference job.) */
  def plan(df: DataFrame): QueryExecution =
    df.sparkSession.sessionState.executePlan(df.queryExecution.analyzed)

  /** Partition count of `df`'s output, read from its physical plan
    * without executing it. `df.rdd.getNumPartitions` would build the
    * executed plan and, under AQE, run every shuffle below it — the
    * build of a not-yet-materialized cached repartition included. */
  def width(df: DataFrame): Int = width(plan(df).sparkPlan)

  /** A known output partitioning gives the count directly; otherwise the
    * plan is row-local over its leaves (a projected table or cache), and
    * the widest leaf decides: a cached relation by its cached plan, a
    * file scan by its file splits (computed on the driver, no job). */
  def width(p: SparkPlan): Int = p match {
    case _ if p.outputPartitioning.numPartitions > 0 =>
      p.outputPartitioning.numPartitions
    case a: AdaptiveSparkPlanExec => width(a.executedPlan)
    case m: InMemoryTableScanExec => width(m.relation.cachedPlan)
    case f: FileSourceScanExec => f.inputRDD.getNumPartitions
    case _ => p.children.map(width).foldLeft(1)(math.max)
  }
}
