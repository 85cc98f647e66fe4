package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Deterministic listener-bus drain for the work listener of
  * [[graft.harness.Harness]]: its `measure` drains before zeroing the
  * counters and again before reading them.
  *
  * The async listener bus delivers stage-completed events a beat after
  * the job's collect/save returns; fixed sleeps, on the very host-stall
  * conditions the work columns exist to work around, could bill one
  * rep's late events to the next rep.
  * `LiveListenerBus.waitUntilEmpty()` is the exact primitive — block
  * until every posted event has been dispatched to every queue — but it
  * is `private[spark]`, hence this one-method shim under the
  * `org.apache.spark` package (the
  * [[org.apache.spark.sql.graftshim.ColumnBridge]] technique,
  * measurement-harness only: nothing on a query's execution path).
  *
  * The 10 s default dispatch timeout throwing is the RIGHT behavior for
  * a measurement harness — a bus that can't drain in 10 s means the
  * numbers are unattributable and the rep must not be reported quietly.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
