package org.apache.spark

import scala.reflect.ClassTag

/** Reads the listener bus, which is private[spark]. Kept apart from the
  * specs: Spark names a job's call site after the first frame outside
  * its own packages, so a spec inside them would mislabel its jobs. */
object ListenerProbe {
  def count[T <: scheduler.SparkListenerInterface: ClassTag](sc: SparkContext): Int =
    sc.listenerBus.findListenersByClass[T]().size
}
