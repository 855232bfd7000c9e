package curbench

import scala.collection.mutable

import org.apache.spark.{CurbenchBridge, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark's own task counters, summed per job group. */
final class Acc {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var deserializeMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakExecMem = 0L

  def runS: Double = runMs / 1e3
  def cpuS: Double = cpuNs / 1e9
  def initS: Double = deserializeMs / 1e3
  def gcS: Double = gcMs / 1e3

  def add(o: Acc): Acc = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; runMs += o.runMs; cpuNs += o.cpuNs
    deserializeMs += o.deserializeMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; peakExecMem = math.max(peakExecMem, o.peakExecMem)
    this
  }
}

object Acc {
  def sum(xs: Iterable[Acc]): Acc = xs.foldLeft(new Acc)(_ add _)
}

/** Attributes task-end counters to the job group that launched the job.
  *
  * Only jobs whose group was opened through [[open]] are counted: a job
  * of any other group (input generation, output checks, a library's own
  * side jobs under no group) never reaches an accumulator. Stage ids are
  * bound to a group at job start, so a task end is attributed by its
  * stage, never by arrival order.
  */
final class Counters extends SparkListener {
  private val groups = mutable.HashMap.empty[String, Acc]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  def open(group: String): Unit = synchronized { groups(group) = new Acc }

  def get(group: String): Acc = synchronized(groups.getOrElse(group, new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(groups.contains).foreach { grp =>
      groups(grp).jobs += 1
      e.stageIds.foreach(stageGroup(_) = grp)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(groups(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { grp =>
      val a = groups(grp)
      a.tasks += 1
      if (e.reason != Success) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.deserializeMs += m.executorDeserializeTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      }
    }
  }
}

object Counters {
  def install(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    c
  }

  /** Run `body` with every job it launches in a fresh group `group`, then
    * wait until all of their events are counted. Returns the body's value
    * and its wall seconds.
    */
  def measured[T](spark: SparkSession, c: Counters, group: String)
                 (body: => T): (T, Double) = {
    val sc = spark.sparkContext
    c.open(group)
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    } finally {
      sc.clearJobGroup()
      CurbenchBridge.drain(sc)
    }
  }
}
