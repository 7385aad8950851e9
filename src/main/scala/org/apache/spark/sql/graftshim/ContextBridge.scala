package org.apache.spark.sql.graftshim

import java.util.Properties

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Bridge to `private[spark]` SparkContext state: the listener bus and
  * the thread's local properties.
  */
object ContextBridge {

  /** Wait until every listener event posted so far has been delivered
    * (delivery is asynchronous).
    */
  def drainListeners(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Run `body` with `site` as the short call site, the stage name, of
    * the jobs this thread submits. The site sits in the DEFAULTS of a
    * copy of the thread's local properties: Spark hands the threads
    * that run adaptive shuffle stages and broadcasts for this thread a
    * copy of the entries only, so their jobs keep their own names. A
    * call site the thread already set is an entry and wins.
    */
  def withCallSite[A](sc: SparkContext, site: String)(body: => A): A = {
    val prev = sc.getLocalProperties
    val defaults = new Properties()
    defaults.setProperty("callSite.short", site)
    val props = new Properties(defaults)
    props.putAll(prev)
    sc.setLocalProperties(props)
    try body finally sc.setLocalProperties(prev)
  }
}
