package org.apache.spark.graft

import org.apache.spark.TaskContext
import org.apache.spark.memory.TaskMemoryManager

/** The running task's memory manager, which Spark keeps `private[spark]`:
  * an operator's own table ([[graft.expr.TokenCounts]]) borrows execution
  * memory through it, as Spark's hash aggregate does. */
object TaskMemory {
  def manager: TaskMemoryManager = TaskContext.get().taskMemoryManager()
}
