package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Synchronous listener-bus drain for Bench's per-entry telemetry
  * (per-stage records and the spill/GC/peak-mem attribution derived
  * from them — r12 verdict item 2).
  *
  * Stage-completed events are posted asynchronously, so metrics read
  * right after an action may miss the job's trailing stages.
  * `SparkContext.listenerBus` is `private[spark]`; this one-liner lives
  * under the org.apache.spark package solely to reach
  * `waitUntilEmpty` — the only public alternative is a fixed sleep,
  * which at 188 entries × 3 passes would add minutes per bench run and
  * still not be a barrier.
  */
object ListenerBusDrain {

  /** Block until every queued listener event is dispatched. Returns
    * false on timeout — the caller must then treat adjoining-interval
    * attribution as compromised: a failed POST-run drain under-counts
    * the finished interval's trailing stages, and a failed PRE-run
    * drain would let the prior interval's stragglers land in the next
    * one (over-attribution). Bench surfaces either case with -1
    * telemetry sentinels instead of publishing the numbers. */
  def drain(sc: SparkContext, timeoutMs: Long = 5000L): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }

  /** Non-blocking read of an [[org.apache.spark.sql.Observation]]'s
    * metrics — `Observation.getOrEmpty` is `private[sql]`, and the public
    * `get` blocks UNBOUNDEDLY on the same async listener bus this object
    * exists to manage: a dropped/stalled CollectMetrics event would hang
    * the whole bench run, and Bench.timed's Throwable catch cannot rescue
    * a hang, only an exception (r20 ADVICE). Bench polls this in a
    * bounded loop instead. Empty until the metrics arrive: `getOrEmpty`
    * itself reads the schema of a row that is not there yet and throws. */
  def observed(obs: org.apache.spark.sql.Observation): Map[String, Any] =
    obs.getRowOrEmpty.map(r => r.getValuesMap[Any](r.schema.fieldNames.toSeq)).getOrElse(Map.empty)
}
