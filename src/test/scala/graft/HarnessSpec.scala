package graft

import org.apache.spark.sql.execution.LogicalRDD

class HarnessSpec extends SparkSpec {

  test("dropCreated unpersists what its body persisted and keeps older checkpoints") {
    val kept = spark.range(0, 1000, 1, 4).toDF("id").localCheckpoint()
    val keptId = kept.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.id
      case p => fail(s"not a checkpointed frame: $p")
    }
    val created = Harness.dropCreated(spark) {
      val rdd = spark.sparkContext.parallelize(1 to 100, 2).persist()
      assert(rdd.count() === 100L)
      assert(kept.count() === 1000L)
      rdd.id
    }
    val persisted = spark.sparkContext.getPersistentRDDs
    assert(!persisted.contains(created))
    assert(persisted.contains(keptId))
    // the checkpoint's lineage is truncated: this count reads its blocks
    assert(kept.count() === 1000L)
    Harness.dropCreated(spark)(())
    assert(kept.count() === 1000L)
  }

  test("dropCreated cleans up when its body throws") {
    var created = -1
    intercept[IllegalStateException] {
      Harness.dropCreated(spark) {
        val rdd = spark.sparkContext.parallelize(1 to 10, 2).persist()
        rdd.count()
        created = rdd.id
        throw new IllegalStateException("query failed")
      }
    }
    assert(created >= 0)
    assert(!spark.sparkContext.getPersistentRDDs.contains(created))
  }
}
