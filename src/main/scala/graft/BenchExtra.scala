package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Plan-cost probe for the builder/dist queries (a side main; the query
  * benchmark is graft.Bench). Decomposes a bench pass into
  * (construct+analyze, optimize+physical-plan, execute), then recounts the
  * same DataFrame instance with a task-time listener to split the repeated
  * floor into executor task time vs driver time.
  *
  *   SPARK_GRAFT_SF_DIR=<scale-factor dir> sbt -batch "runMain graft.BenchExtra"
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()

    // The round-3 adjudication says these queries' bench seconds are
    // per-query plan/optimize/codegen of large fused expression trees, not
    // execution — re-verify it on current code instead of carrying it.
    val names = Seq("q30_training_examples", "q31_benchmark_items",
      "q36_benchmark_v2", "q37_benchmark_v3", "q39_training_dist",
      "q44_rl_training_v3", "q46_ug_training")
    names.foreach { name =>
      def pass(): (Double, Double, Double) = {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // optimize + physical planning
        val t2 = System.nanoTime()
        df.count()
        val t3 = System.nanoTime()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
      }
      val ps = Seq(pass(), pass(), pass())
      val a = ps.map(_._1).min; val b = ps.map(_._2).min
      val c = ps.map(_._3).min
      // same-INSTANCE recount: executor task time (per-task init / row
      // work) vs driver time (fresh count() QueryExecution: analyze/
      // optimize/codegen-source-gen of the fused tree per action)
      val df2 = SparkEntry.queries(name)(spark, sfDir)
      df2.count()
      val group = s"plancost-$name"
      val recount = new GroupTaskTime(group)
      spark.sparkContext.addSparkListener(recount)
      spark.sparkContext.setJobGroup(group, s"$name same-df recount")
      val t0 = System.nanoTime()
      try df2.count() finally spark.sparkContext.clearJobGroup()
      val wall = (System.nanoTime() - t0) / 1e9
      val drained = recount.awaitJobsEnded(timeoutMs = 30000L)
      spark.sparkContext.removeSparkListener(recount)
      println(f"[extra] $name%-24s construct $a%5.2f  plan $b%5.2f  " +
        f"exec(count) $c%5.2f s  execs ${ps.map(p => f"${p._3}%.2f").mkString(",")}" +
        f"  same-df recount $wall%5.2f (task-sum ${recount.taskNs.get / 1e9}%5.2f s " +
        s"over ${recount.tasks.get} tasks in ${recount.jobCount} jobs" +
        (if (drained) ")" else ", listener not drained)"))
    }
    spark.stop()
  }

  /** Sums task durations of the jobs that run under one job group. Only
    * task ends from the group's own stages count, so jobs of other threads
    * (or late events of earlier passes) never leak in. Every event of the
    * action is posted before it returns, but the listener bus delivers
    * them later: [[awaitJobsEnded]] waits until the bus has delivered the
    * action's SQL execution end (posted after all its jobs) and an
    * onJobEnd for every group job — and with them, every task end.
    */
  private final class GroupTaskTime(group: String) extends SparkListener {
    val taskNs = new AtomicLong(0)
    val tasks = new AtomicLong(0)
    private val stages = ConcurrentHashMap.newKeySet[Int]()
    private val started = ConcurrentHashMap.newKeySet[Int]()
    private val ended = ConcurrentHashMap.newKeySet[Int]()
    private val executions = ConcurrentHashMap.newKeySet[String]()
    @volatile private var executionEnded = false

    def jobCount: Int = started.size

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null &&
          e.properties.getProperty(JobGroupIdKey) == group) {
        e.stageIds.foreach(stages.add(_))
        Option(e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY))
          .foreach(executions.add)
        started.add(e.jobId)
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (started.contains(e.jobId)) synchronized {
        ended.add(e.jobId)
        notifyAll()
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stages.contains(e.stageId)) {
        taskNs.addAndGet(e.taskInfo.duration * 1000000L)
        tasks.incrementAndGet()
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd
          if executions.contains(end.executionId.toString) => synchronized {
        executionEnded = true
        notifyAll()
      }
      case _ =>
    }

    /** True once the group's execution ended and every group job ended. */
    def awaitJobsEnded(timeoutMs: Long): Boolean = synchronized {
      val deadline = System.currentTimeMillis() + timeoutMs
      def done = executionEnded && ended.containsAll(started)
      while (!done && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
      done
    }
  }

  /** The local property SparkContext.setJobGroup sets (its constant is
    * private to Spark). */
  private val JobGroupIdKey = "spark.jobGroup.id"
}
