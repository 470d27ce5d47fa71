package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Counters attributed to one span: Spark's task counters arrive through
  * the job group set around the span, plan counters through the
  * executed plans of the queries that ran while it was open. */
final class Counters {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskNs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val scanRows = new AtomicLong
  val candidatePairs = new AtomicLong
  def add(o: Counters): Unit = {
    jobs.addAndGet(o.jobs.get); tasks.addAndGet(o.tasks.get)
    taskNs.addAndGet(o.taskNs.get)
    shuffleWriteBytes.addAndGet(o.shuffleWriteBytes.get)
    shuffleReadBytes.addAndGet(o.shuffleReadBytes.get)
    spillBytes.addAndGet(o.spillBytes.get); scanRows.addAndGet(o.scanRows.get)
    candidatePairs.addAndGet(o.candidatePairs.get)
  }
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run. Each span sets the Spark
  * job group to its id, so task metrics land on the innermost open span;
  * the listener bus is drained when a span closes, so plan metrics of
  * every query that ran inside it are in before the next span opens.
  * Nothing is written until [[writeJsonl]] at the end of the run. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  @volatile private var open: Counters = new Counters
  private val t0 = System.nanoTime()
  private var ids = 0
  private def nextId: Int = { ids += 1; ids }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.foreach { grp =>
        e.stageIds.foreach(stageGroup.put(_, grp))
        counters(grp).jobs.incrementAndGet()
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach { grp =>
        val c = counters(grp)
        c.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          c.taskNs.addAndGet(m.executorRunTime * 1000000L)
          c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String,
        qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
      val c = open
      walk(qe.executedPlan).foreach {
        case s: FileSourceScanExec => c.scanRows.addAndGet(rows(s))
        case j: SparkPlan if isCandidateJoin(j) => c.candidatePairs.addAndGet(rows(j))
        case _ =>
      }
    }
    override def onFailure(f: String,
        qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  }

  private def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  /** Every node of an executed plan, looking through adaptive plans and
    * materialised query stages (AQE stages are leaves whose real subtree
    * hangs off `plan`). */
  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case other => other +: other.children.flatMap(walk)
  }

  /** The fuzzy phase's candidate generation: a join with the dictionary
    * (its side carries `cand_title`) on one side only. */
  private def isCandidateJoin(p: SparkPlan): Boolean = p match {
    case _: BroadcastNestedLoopJoinExec | _: BaseJoinExec =>
      val sides = p.children.map(_.output.exists(_.name == "cand_title"))
      sides.count(identity) == 1
    case _ => false
  }

  private def counters(group: String): Counters =
    byGroup.computeIfAbsent(group, _ => new Counters)

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Forgets every closed span and its counters (the warm-up's). */
  def reset(): Unit = {
    require(stack.isEmpty, "reset inside an open span")
    spans.clear(); byGroup.clear(); stageGroup.clear()
  }

  def span[T](name: String)(body: => T): T = {
    val s = Span(nextId, name, stack.headOption.map(_.id).getOrElse(-1),
      System.nanoTime())
    spans += s
    stack = s :: stack
    val sc = spark.sparkContext
    sc.setJobGroup(s"$runId/${s.id}", name, interruptOnCancel = false)
    open = counters(s"$runId/${s.id}")
    try body
    finally {
      org.apache.spark.PerfbenchBus.drain(sc)
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) =>
          sc.setJobGroup(s"$runId/${p.id}", p.name, interruptOnCancel = false)
          open = counters(s"$runId/${p.id}")
        case None =>
          sc.clearJobGroup()
          open = new Counters
      }
    }
  }

  /** Counters of a span including every descendant. */
  def total(s: Span): Counters = {
    val c = new Counters
    c.add(counters(s"$runId/${s.id}"))
    spans.filter(_.parent == s.id).foreach(ch => c.add(total(ch)))
    c
  }

  /** A span's time minus the part of it its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def all: Seq[Span] = spans.toSeq

  def close(): Unit = {
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  def writeJsonl(path: String): Unit = {
    val lines = spans.map { s =>
      val c = total(s)
      Json.obj(Seq(
        "run_id" -> Json.str(runId), "span" -> s.id.toString,
        "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "start_s" -> Json.num((s.startNs - t0) / 1e9),
        "end_s" -> Json.num((s.endNs - t0) / 1e9),
        "self_s" -> Json.num(selfSeconds(s)),
        "jobs" -> c.jobs.get.toString, "tasks" -> c.tasks.get.toString,
        "task_s" -> Json.num(c.taskNs.get / 1e9),
        "shuffle_write_bytes" -> c.shuffleWriteBytes.get.toString,
        "shuffle_read_bytes" -> c.shuffleReadBytes.get.toString,
        "spill_bytes" -> c.spillBytes.get.toString,
        "scan_rows" -> c.scanRows.get.toString,
        "candidate_pairs" -> c.candidatePairs.get.toString))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Tiny JSON writer: the harness emits flat records only. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
