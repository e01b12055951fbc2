package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus: how many listeners it holds. */
object BusListeners {
  def count(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
