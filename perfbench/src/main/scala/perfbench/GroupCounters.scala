package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Work done by the Spark jobs of one job group. Times are seconds,
  * sizes bytes; shuffle bytes count both the written and the read side. */
final case class Work(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, scanTasks: Long = 0,
    cpuS: Double = 0, runS: Double = 0, maxTaskS: Double = 0,
    shuffleBytes: Long = 0, spillBytes: Long = 0, gcS: Double = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, scanTasks + o.scanTasks, cpuS + o.cpuS, runS + o.runS,
    math.max(maxTaskS, o.maxTaskS), shuffleBytes + o.shuffleBytes,
    spillBytes + o.spillBytes, gcS + o.gcS)
}

/** SparkListener that attributes jobs, stages and task metrics to the
  * job group (`SparkContext.setJobGroup`) that was set on the thread
  * that submitted each job. Work outside any group is not counted. */
final class GroupCounters extends SparkListener {
  /** The local property `setJobGroup` sets (SparkContext.SPARK_JOB_GROUP_ID). */
  private val JobGroupKey = "spark.jobGroup.id"
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val byGroup = mutable.HashMap.empty[String, Work]

  private var waitedNs = 0L
  /** Time callers have spent waiting for the listener bus in [[take]]. */
  def waitNs: Long = waitedNs

  private def add(g: String, w: Work): Unit =
    byGroup(g) = byGroup.getOrElse(g, Work()) + w

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty(JobGroupKey)))
    g.foreach { grp =>
      add(grp, Work(jobs = 1))
      // a stage reused by a later job is skipped there: the first job
      // to list it owns its tasks
      e.stageInfos.foreach(s => stageGroup.getOrElseUpdate(s.stageId, grp))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(add(_, Work(stages = 1)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageGroup.get(e.stageId).foreach { g =>
      if (m == null) add(g, Work(tasks = 1))
      else {
        val run = m.executorRunTime / 1e3
        add(g, Work(tasks = 1,
          scanTasks = if (m.inputMetrics.recordsRead > 0) 1 else 0,
          cpuS = m.executorCpuTime / 1e9, runS = run, maxTaskS = run,
          shuffleBytes = m.shuffleWriteMetrics.bytesWritten +
            m.shuffleReadMetrics.totalBytesRead,
          spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
          gcS = m.jvmGCTime / 1e3))
      }
    }
  }

  /** Waits for every event posted so far, then removes and returns the
    * work attributed to `group`. */
  def take(sc: SparkContext, group: String): Work = {
    val t0 = System.nanoTime()
    org.apache.spark.ListenerBusAccess.drain(sc)
    waitedNs += System.nanoTime() - t0
    synchronized {
      val w = byGroup.remove(group).getOrElse(Work())
      stageGroup.filterInPlace { case (_, g) => g != group }
      w
    }
  }
}
