package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters for the traced run, recorded from the bench's
  * own files around each call into a layer.
  *
  * Spans nest and run one at a time on the calling thread. The listener
  * bus is drained when a span opens and when it closes, so every Spark
  * event lands in the innermost span open when it was posted. Each
  * span counts its Spark jobs and tasks (busy time, shuffle, spill,
  * GC); each SQL execution inside it is kept with its root command,
  * its planning-phase times and the node census of its final
  * (post-AQE) plan. Spans stay in memory and are written as JSONL when
  * the run ends.
  */
final class Trace(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  final class Counters {
    var jobs, tasks, busyMs, gcMs, shuffleWrite, spill: Long = 0L
    def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
      tasks += 1
      busyMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  final case class Execution(id: Long, func: String, root: String,
                             seconds: Double, endMs: Long,
                             phases: Map[String, Double],
                             census: Map[String, Long])

  final class Span(val id: Int, val parent: Int, val name: String,
                   val kind: String, val startNs: Long) {
    var endNs: Long = startNs
    val counters = new Counters
    val executions = mutable.ArrayBuffer.empty[Execution]
    val attrs = mutable.LinkedHashMap.empty[String, Double]
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val root = new Span(0, -1, "run", "run", t0)
  @volatile private var current: Span = root
  // every task's (finish ms, busy ms): a nested execution's jobs (the
  // JDBC writer's foreachPartition) carry no trace of the command that
  // ran them, but their tasks finish inside its window
  private val taskEnds = mutable.ArrayBuffer.empty[(Long, Long)]

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def drain(): Unit =
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  def span[A](name: String, kind: String)(f: Span => A): A = {
    drain()
    val parent = current
    val s = synchronized {
      val s = new Span(spans.length + 1, parent.id, name, kind, System.nanoTime())
      spans += s
      s
    }
    current = s
    try f(s)
    finally {
      drain()
      s.endNs = System.nanoTime()
      current = parent
    }
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Task busy seconds of the tasks that finished while `e` ran,
    * nested executions included. The window ends when the listener saw
    * the execution end, which lags the end by the bus's backlog.
    */
  def busyWithin(e: Trace#Execution): Double = synchronized {
    val from = e.endMs - (e.seconds * 1000).toLong
    taskEnds.collect { case (end, busy) if end >= from && end <= e.endMs => busy }
      .sum / 1e3
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    current.counters.jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      current.counters.add(m)
      taskEnds += ((e.taskInfo.finishTime, m.executorRunTime))
    }
  }


  override def onSuccess(func: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val ex = Execution(qe.id, func, rootCommand(qe), durationNs / 1e9,
      System.currentTimeMillis(), qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 },
      census(qe.executedPlan))
    synchronized(current.executions += ex)
  }

  override def onFailure(func: String, qe: QueryExecution,
                         e: Exception): Unit = ()

  /** The command at the root of an execution: `count` and `collect`
    * actions report their function name; writes report the command
    * class, with the data source for a generic save.
    */
  private def rootCommand(qe: QueryExecution): String =
    qe.commandExecuted match {
      case c: org.apache.spark.sql.execution.datasources.SaveIntoDataSourceCommand =>
        s"SaveIntoDataSourceCommand:${c.dataSource.getClass.getSimpleName}"
      case c: org.apache.spark.sql.execution.command.DataWritingCommand =>
        c.getClass.getSimpleName
      case c: org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand =>
        c.getClass.getSimpleName
      case _ => "action"
    }

  /** Node counts of a final plan, including the plans of the cached
    * relations it scans (a cache fill plans the whole cached query).
    */
  private def census(plan: SparkPlan): Map[String, Long] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) {
      case s: InMemoryTableScanExec => s +: nodes(s.relation.cachedPlan)
      case other => Seq(other)
    }.flatten
    val all = nodes(plan)
    Map(
      "exchanges" -> all.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      },
      "sort_aggregates" -> all.count(_.isInstanceOf[SortAggregateExec]),
      "smj" -> all.count(_.isInstanceOf[SortMergeJoinExec]),
      "fallback_exprs" -> all.map(_.expressions
        .map(_.collect { case f: CodegenFallback => f }.size).sum).sum
    ).map { case (k, v) => k -> v.toLong }
  }

  /** Writes every span as one JSON line: times relative to the trace
    * start, self time (duration minus the time its child spans cover),
    * counters, attributes and the span's SQL executions.
    */
  def write(path: java.nio.file.Path): Unit = {
    val ss = all
    val childSecs = ss.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.seconds).sum }
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    val lines = ss.map { s =>
      val c = s.counters
      val execs = s.executions.map { e =>
        obj(Seq("id" -> e.id.toString, "func" -> Json.str(e.func),
          "root" -> Json.str(e.root), "seconds" -> num(e.seconds),
          "phases" -> obj(e.phases.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
          "census" -> obj(e.census.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })))
      }
      obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "kind" -> Json.str(s.kind),
        "start_s" -> num((s.startNs - t0) / 1e9),
        "end_s" -> num((s.endNs - t0) / 1e9),
        "seconds" -> num(s.seconds),
        "self_s" -> num(s.seconds - childSecs.getOrElse(s.id, 0.0)),
        "jobs" -> c.jobs.toString, "tasks" -> c.tasks.toString,
        "task_busy_s" -> num(c.busyMs / 1e3), "gc_s" -> num(c.gcMs / 1e3),
        "shuffle_write_bytes" -> c.shuffleWrite.toString,
        "spill_bytes" -> c.spill.toString,
        "attrs" -> obj(s.attrs.toSeq.map { case (k, v) => k -> num(v) }),
        "executions" -> execs.mkString("[", ",", "]")))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= "\\u%04x".format(c.toInt)
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
