package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._

/** SparkListener that sums job, stage and task counters per job group (the
  * benchmark sets one group per query phase) and records each job as a
  * span under the span registered for its group. */
final class JobStats(trace: Trace) extends SparkListener {
  import JobStats.Totals

  private val totals = TrieMap.empty[String, Totals]
  private val jobGroup = TrieMap.empty[Int, String]
  private val stageGroup = TrieMap.empty[Int, String]
  private val jobStartMs = TrieMap.empty[Int, Long]
  /** Job group → span id that the group's job spans hang under. */
  val groupSpan = TrieMap.empty[String, Long]

  private def of(group: String): Totals = totals.getOrElseUpdate(group, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup(e.jobId) = g
    jobStartMs(e.jobId) = e.time
    e.stageIds.foreach(stageGroup(_) = g)
    of(g).jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    for (g <- jobGroup.remove(e.jobId); t0 <- jobStartMs.remove(e.jobId))
      trace.record("spark.job", groupSpan.getOrElse(g, 0L), trace.wallMsToNs(t0), trace.wallMsToNs(e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    of(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = of(stageGroup.getOrElse(e.stageId, ""))
    t.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      t.runMs.addAndGet(m.executorRunTime)
      t.cpuNs.addAndGet(m.executorCpuTime)
      t.gcMs.addAndGet(m.jvmGCTime)
      t.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      t.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      t.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      t.input.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  def group(g: String): JobStats.Snapshot = totals.get(g).map(_.snapshot).getOrElse(JobStats.Zero)

  def all: JobStats.Snapshot = totals.values.map(_.snapshot).foldLeft(JobStats.Zero)(_ + _)
}

object JobStats {
  final class Totals {
    val jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, input =
      new AtomicLong()
    def snapshot: Snapshot = Snapshot(jobs.get, stages.get, tasks.get, runMs.get, cpuNs.get,
      gcMs.get, shuffleWrite.get, shuffleRead.get, spill.get, input.get)
  }

  final case class Snapshot(jobs: Long, stages: Long, tasks: Long, runMs: Long, cpuNs: Long,
                            gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
                            input: Long) {
    def +(o: Snapshot): Snapshot = Snapshot(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs, shuffleWrite + o.shuffleWrite,
      shuffleRead + o.shuffleRead, spill + o.spill, input + o.input)
    def -(o: Snapshot): Snapshot = Snapshot(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleWrite - o.shuffleWrite,
      shuffleRead - o.shuffleRead, spill - o.spill, input - o.input)

    /** The Spark-layer per-layer metrics, named `spark.*`. */
    def metrics: Seq[(String, Double)] = Seq[(String, Double)](
      "spark.jobs" -> jobs.toDouble, "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble, "spark.exec_run_ms" -> runMs.toDouble,
      "spark.exec_cpu_ms" -> cpuNs / 1e6, "spark.gc_ms" -> gcMs.toDouble,
      "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
      "spark.spill_bytes" -> spill.toDouble, "spark.input_bytes" -> input.toDouble)
  }

  val Zero: Snapshot = Snapshot(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}
