package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** Running Spark counters of one context — jobs started, stages and
  * tasks completed, shuffle bytes written and read — shared by Bench
  * and Profile. A measurement brackets a query with two [[snap]]s and
  * subtracts them. Lives in the spark package for listener-bus
  * draining, which is `private[spark]`. */
class QueryMeter(sc: SparkContext) extends SparkListener {
  private val jobs, stages, tasks, shuffleWrite, shuffleRead =
    new AtomicLong(0L)
  sc.addSparkListener(this)

  override def onJobStart(j: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    tasks.addAndGet(s.stageInfo.numTasks.toLong)
    val m = s.stageInfo.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    }
  }

  /** Totals so far, counting every event of an action that returned. */
  def snap(): QueryMeter.Counts = {
    QueryMeter.drain(sc)
    QueryMeter.Counts(jobs.get, stages.get, tasks.get,
      shuffleWrite.get, shuffleRead.get)
  }
}

object QueryMeter {
  final case class Counts(jobs: Long, stages: Long, tasks: Long,
      shuffleWrite: Long, shuffleRead: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, shuffleWrite - o.shuffleWrite,
      shuffleRead - o.shuffleRead)
  }

  /** Waits until the async listener bus has delivered every posted
    * event, so listeners' counts cover all finished actions. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
