package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark task metrics summed per job group. The benchmark sets the job
  * group to `<pass>/<op>` around each op, so every job, stage and task an
  * op (or its eager statistic jobs) starts is attributed to it. */
final class OpListener extends SparkListener {

  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, inBytes, outBytes, shWrite, shRead, fetchMs, spill, peakMem = 0L
  }

  private val stageGroup = mutable.Map.empty[Int, String]
  private val acc = mutable.LinkedHashMap.empty[String, Acc]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      acc.getOrElseUpdate(g, new Acc).jobs += 1
      e.stageInfos.foreach(si => stageGroup(si.stageId) = g)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => acc(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageGroup.get(e.stageId).foreach { g =>
      val a = acc(g)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inBytes += m.inputMetrics.bytesRead
      a.outBytes += m.outputMetrics.bytesWritten
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
    }
  }

  def render: String = synchronized {
    acc.map { case (g, a) =>
      s"""${PerfBench.Json.q(g)}:{"jobs":${a.jobs},"stages":${a.stages},"tasks":${a.tasks},""" +
        s""""task_s":${a.runMs / 1e3},"task_cpu_s":${a.cpuNs / 1e9},"gc_s":${a.gcMs / 1e3},""" +
        s""""input_bytes":${a.inBytes},"output_bytes":${a.outBytes},""" +
        s""""shuffle_write_bytes":${a.shWrite},"shuffle_read_bytes":${a.shRead},""" +
        s""""shuffle_fetch_wait_s":${a.fetchMs / 1e3},"spill_disk_bytes":${a.spill},""" +
        s""""peak_exec_mem_bytes":${a.peakMem}}"""
    }.mkString("{", ",", "}")
  }
}
