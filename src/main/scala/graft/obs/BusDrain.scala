// Spark's listener bus is `private[spark]`: this one-line bridge lives in
// an org.apache.spark subpackage (the idiom Spark's own external suites
// use), beside the Meter that is its only user.
package org.apache.spark.graftobs

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered.
  * The only exact way to read listener-maintained counters: a "wait until
  * the counters stop moving" loop can end early under delayed bus delivery
  * and undercount.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
