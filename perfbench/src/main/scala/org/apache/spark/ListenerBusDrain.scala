package org.apache.spark

import java.util.concurrent.TimeoutException

/** Blocks until Spark's listener bus has delivered every queued event.
  * The bus is private to Spark; this object lives in Spark's package
  * only to reach it, so a traced run reads complete records. A loaded
  * host can need longer than one 10 s wait, so it tries six times. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = {
    var tries = 6
    while (tries > 0) {
      try { sc.listenerBus.waitUntilEmpty(10000L); tries = 0 }
      catch { case _: TimeoutException if tries > 1 => tries -= 1 }
    }
  }
}
