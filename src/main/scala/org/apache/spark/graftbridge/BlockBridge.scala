package org.apache.spark.graftbridge

import org.apache.spark.rdd.RDD

/** Bridge to the `private[spark]` `SparkContext.unpersistRDD`, in an
  * `org.apache.spark` subpackage for the access qualifier alone. */
object BlockBridge {
  /** `rdd.unpersist(blocking = false)` without the warning it logs for
    * every `localCheckpoint`ed RDD. Do not read `rdd` again. */
  def drop(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
