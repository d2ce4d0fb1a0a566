package org.apache.spark.sql.graft

import org.apache.spark.TaskContext
import org.apache.spark.memory.{MemoryConsumer, MemoryMode, TaskMemoryManager}

/** Execution memory reserved for buffers a task holds on the JVM heap and
  * cannot spill. It grows by exactly the bytes asked for, fails with an
  * `IllegalStateException` carrying `refused` when the task's memory
  * manager cannot grant them, and on [[close]] reports its peak as
  * Spark's operators report theirs (the task's `peakExecutionMemory`) and
  * returns the memory. The task manager and the metric are `private[spark]`,
  * which is why this bridge lives in an `org.apache.spark` subpackage.
  */
final class TaskHeapReservation private[spark] (tmm: TaskMemoryManager, refused: String)
    extends MemoryConsumer(tmm, MemoryMode.ON_HEAP) {

  private var closed = false

  /** Reserves `bytes` more, or fails naming `refused`. */
  def grow(bytes: Long): Unit = if (bytes > 0) {
    val got = acquireMemory(bytes)
    if (got < bytes) {
      freeMemory(got)
      throw new IllegalStateException(s"$refused (refused $bytes more bytes while holding $used)")
    }
  }

  /** Nothing here can be written out: another consumer's request that
    * lands on this one frees nothing.
    */
  override def spill(size: Long, trigger: MemoryConsumer): Long = 0L

  /** Reports the peak (the bytes held now; a reservation only grows) to
    * the running task, if any, and frees them. Later calls do nothing.
    */
  def close(): Unit = if (!closed) {
    closed = true
    Option(TaskContext.get()).foreach(_.taskMetrics().incPeakExecutionMemory(used))
    if (used > 0) freeMemory(used)
  }
}

object TaskHeapReservation {

  /** A reservation in the running task, closed when the task ends. */
  def forTask(refused: String): TaskHeapReservation = {
    val ctx = TaskContext.get()
    val r = new TaskHeapReservation(ctx.taskMemoryManager(), refused)
    ctx.addTaskCompletionListener[Unit](_ => r.close())
    r
  }
}
