package graft.compilex

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, lit}

/** Optimizer barrier: a CollectMetrics node (`observe`) over `df`.
  * Without it CollapseProject inlines an expensive array-building
  * projection into the Generate that explodes it, where it runs
  * interpreted and re-evaluates lambda-bound subexpressions per emitted
  * element (2.9 s → 0.2 s for the n-gram explode at sf0.1,
  * OPTIMIZATION_r06.md §2). Behind the barrier the chain evaluates once
  * per row in the scan stage's codegen and the Generate explodes a plain
  * attribute. The metric name is unique per call, so two barrier'd
  * frames built separately compose into one plan (a shared name is an
  * analysis error unless the subplans are the same frame). A string
  * name rather than an `Observation`, which rejects streaming frames.
  */
object Barrier {
  private val seq = new AtomicLong()

  def apply(df: DataFrame): DataFrame =
    df.observe(s"barrier_${seq.incrementAndGet()}", count(lit(1)))
}
