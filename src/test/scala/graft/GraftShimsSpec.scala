package graft

import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

class GraftShimsSpec extends SparkSpec {

  test("unpersistLocalCheckpoint releases only the checkpoint itself") {
    val a = spark.range(100).toDF("x").localCheckpoint()
    val id = a.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id
    def hasBlocks = spark.sparkContext.getRDDStorageInfo.exists(_.id == id)
    assert(hasBlocks)
    GraftShims.unpersistLocalCheckpoint(a.filter(col("x") > 5))
    assert(hasBlocks, "a derived frame released its source checkpoint")
    assert(a.count() === 100)
    GraftShims.unpersistLocalCheckpoint(a)
    assert(!spark.sparkContext.getPersistentRDDs.contains(id))
  }
}
