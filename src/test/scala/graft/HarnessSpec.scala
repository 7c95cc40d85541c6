package graft

import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {
  test("AQE and the 1 MiB coalesce floor need no pin: both are Spark's defaults") {
    assert(SQLConf.ADAPTIVE_EXECUTION_ENABLED.defaultValue.contains(true))
    assert(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE.defaultValue.contains(1024L * 1024))
    val pinned = Harness.settings.map(_._1).toSet
    assert(!pinned(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key))
    assert(!pinned(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE.key))
  }
}
