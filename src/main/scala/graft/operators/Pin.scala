package graft.operators

import org.apache.spark.sql.Dataset

/** Lazy single-materialization pin. Operators pin a frame that several
  * downstream consumers re-read (`localCheckpoint(eager = false)`): the
  * first action materializes it once instead of re-executing the subtree
  * per consumer.
  *
  * The pin REPLACES the logical plan with a `Scan ExistingRDD` stub, so
  * `.explain` output truncates at every pin (r14 verdict: the
  * sim_reciprocal_nn/dq_key_audit evidence gap). The r15 full-DAG dumps
  * that skipped the pins, and why they were not the executed plans, are
  * recorded in OPTIMIZATION_r15.md and VERDICT.md. */
object Pin {
  def lazyPin[T](ds: Dataset[T]): Dataset[T] = ds.localCheckpoint(false)
}
