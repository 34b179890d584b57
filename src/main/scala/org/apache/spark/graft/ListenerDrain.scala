package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Deterministic listener-bus drain for plan audits: QueryExecution
  * listeners are delivered async on the shared bus, so "poll until the
  * captured count stops changing" can exit early under load. The bus's
  * own waitUntilEmpty is `private[spark]`; this bridge exposes it to
  * graft's listener-based plan evidence (`graft.Probe exec`, PlanSpec).
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
