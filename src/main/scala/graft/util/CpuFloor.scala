package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Parallelism floor for CPU-dense kernel inputs (guide §2.5, unsplittable
  * input): each gate corpus is one single-row-group parquet file, so every
  * scan is ONE task however many cores the session has, and a per-row
  * text/hash kernel or a decimal moment pass serializes on one core —
  * measured: the simhash-pairs probe spent 1.3 s of its 2.0 s in a 2-task
  * stage on 32 cores; a 5-predictor IRLS moment pass over the 100k-row
  * working set took 0.83 s on one partition vs 0.40 s on 32. One
  * round-robin repartition of the RAW rows (taken BEFORE the kernel
  * projection, so the kernel runs post-exchange) buys map-side
  * parallelism for a few MB of shuffle. It is a no-op when the input
  * already carries the target partition count (any real multi-row-group
  * table), and results are unaffected: every consumer is key-based, never
  * partition-order-dependent.
  *
  * The probe must be NARROW — relation leaves under projections and
  * filters: building the RDD of a frame with an exchange underneath
  * finalizes the adaptive plan and EXECUTES it (a join's build side ran
  * twice per IRLS fit, ADVICE r15). Any other probe is returned unfloored
  * and unprobed — streaming frames included: a streaming source is not a
  * relation leaf, and micro-batch parallelism is the source's concern.
  */
object CpuFloor {

  /** Floors a narrow frame to all cores. */
  def apply(narrow: DataFrame): DataFrame = apply(narrow, narrow, Int.MaxValue)

  /** Floors `df` when `probe` — a narrow frame over the same scan, with
    * df's streamed-side partition count — carries fewer partitions than
    * the target for `decimalSums` quantized DECIMAL aggregates per row.
    * Wide passes (≥ 14: a p ≥ 4 IRLS Gram at p(p+3)/2 sums, mi-logit with
    * ≥ 3 draws at 5 each, a per-row text kernel) take all cores. Narrow
    * p = 2 fits (5 sums) take min(8, cores): there the full-width floor
    * measurably LOST time (huber 1.9 s → 4.0 s at 32 tasks per pass —
    * 32-way scheduling × K passes outweighs the decimal win), while a
    * few-way split still parallelizes the sums cheaply. */
  def apply(df: DataFrame, probe: DataFrame, decimalSums: Int): DataFrame = {
    if (!isNarrow(probe.queryExecution.analyzed)) return df
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val target = if (decimalSums >= 14) cores else math.min(8, cores)
    if (probe.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  private def isNarrow(plan: LogicalPlan): Boolean = !plan.exists {
    case _: Project | _: Filter | _: LogicalRelation | _: LocalRelation | _: LogicalRDD => false
    case _ => true
  }
}
