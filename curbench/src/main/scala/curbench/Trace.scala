package curbench

import scala.collection.mutable

import org.apache.spark.CurbenchBridge
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished query as the QueryExecutionListener saw it: the observed
  * metrics it carried and the output row counts of its executed joins.
  */
final case class QueryEvent(observed: Map[String, Row], joinRows: Seq[Long])

/** One public call under trace; `endNs`, `acc` and `queries` are filled when it closes. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, var endNs: Long = 0L,
                      var acc: Acc = new Acc,
                      var queries: Seq[QueryEvent] = Nil) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spans opened by the benchmark around public graft calls. Each span is a
  * job group of its own, so [[Counters]] attributes task time, deserialize
  * time, GC, shuffle, spill and failures to exactly one span; queries that
  * finish while a span is innermost are attributed to it. Spans stay in
  * memory until [[toJson]].
  */
final class Tracer(spark: SparkSession, counters: Counters, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val pending = mutable.ArrayBuffer.empty[QueryEvent]

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      pending.synchronized { pending += Tracer.event(qe) }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  spark.listenerManager.register(qeListener)

  def close(): Unit = spark.listenerManager.unregister(qeListener)

  private def group(s: Span): String = s"$runId-span-${s.id}"

  private def takePending(): Seq[QueryEvent] = pending.synchronized {
    val out = pending.toList; pending.clear(); out
  }

  def span[T](name: String)(body: => T): (T, Span) = {
    val sc = spark.sparkContext
    CurbenchBridge.drain(sc)
    // events of the enclosing span so far belong to it, not to this child
    stack.headOption.foreach(p => p.queries ++= takePending())
    val s = Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1),
      runId, System.nanoTime())
    spans += s
    stack.push(s)
    counters.open(group(s))
    sc.setJobGroup(group(s), name, interruptOnCancel = false)
    try {
      val v = body
      s.endNs = System.nanoTime()
      (v, s)
    } finally {
      if (s.endNs == 0L) s.endNs = System.nanoTime()
      CurbenchBridge.drain(sc)
      s.acc = counters.get(group(s))
      s.queries ++= takePending()
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(group(p), p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def selfS(s: Span): Double = Stats.selfTime(s.wallS, children(s).map(_.wallS))

  /** The span's counters including every descendant's. */
  def totalAcc(s: Span): Acc =
    Acc.sum(s.acc +: children(s).map(totalAcc))

  def toJson: String = {
    def q(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    spans.map { s =>
      val a = s.acc
      Seq(s"\"id\":${s.id}", s"\"name\":${q(s.name)}", s"\"parent\":${s.parent}",
        s"\"run_id\":${q(s.runId)}", s"\"start_ns\":${s.startNs}",
        s"\"end_ns\":${s.endNs}", s"\"self_s\":${selfS(s)}",
        s"\"jobs\":${a.jobs}", s"\"stages\":${a.stages}", s"\"tasks\":${a.tasks}",
        s"\"task_run_s\":${a.runS}", s"\"task_cpu_s\":${a.cpuS}",
        s"\"task_init_s\":${a.initS}", s"\"gc_s\":${a.gcS}",
        s"\"shuffle_write_bytes\":${a.shuffleWrite}",
        s"\"shuffle_read_bytes\":${a.shuffleRead}", s"\"spill_bytes\":${a.spill}",
        s"\"failed_tasks\":${a.failedTasks}", s"\"queries\":${s.queries.length}")
        .mkString("{", ",", "}")
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  /** Every node of an executed plan, through adaptive wrappers, query
    * stages, reused exchanges and subqueries.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def event(qe: QueryExecution): QueryEvent =
    QueryEvent(qe.observedMetrics, nodes(qe.executedPlan)
      .filter(_.nodeName.contains("Join"))
      .flatMap(_.metrics.get("numOutputRows").map(_.value)))
}
