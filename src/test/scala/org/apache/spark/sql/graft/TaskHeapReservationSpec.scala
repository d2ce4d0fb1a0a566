package org.apache.spark.sql.graft

import org.apache.spark.SparkConf
import org.apache.spark.memory.{TaskMemoryManager, UnifiedMemoryManager}
import org.scalatest.funsuite.AnyFunSuite

/** The refused-reservation path, on a 1000-byte memory manager of its own. */
class TaskHeapReservationSpec extends AnyFunSuite {

  test("a reservation the task's memory cannot grant fails with the named remedy and keeps nothing of it") {
    val tmm = new TaskMemoryManager(new UnifiedMemoryManager(new SparkConf(false), 1000L, 500L, 1), 0L)
    val r = new TaskHeapReservation(tmm, "add shuffle partitions")
    r.grow(600L)
    val err = intercept[IllegalStateException](r.grow(600L))
    assert(err.getMessage == "add shuffle partitions (refused 600 more bytes while holding 600)")
    assert(tmm.getMemoryConsumptionForThisTask == 600L)
    r.close()
    r.close()
    assert(tmm.getMemoryConsumptionForThisTask == 0L)
  }
}
