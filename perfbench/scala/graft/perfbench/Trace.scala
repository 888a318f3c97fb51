package graft.perfbench

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.BenchHooks
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec,
  FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** A timed span. Bounds are epoch nanoseconds; `parent` is -1 at the root.
  * Every span of one benchmark process carries the process's run id. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, endNs: Long) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, `span` only runs its body; enabled,
  * it records name, bounds and the enclosing span. Spans stay in memory
  * and are written out once, when the run ends. */
final class Tracer(val runId: String) {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def nowNs: Long = baseEpochNs + (System.nanoTime() - baseNano)

  var enabled = false
  val spans = mutable.ArrayBuffer[Span]()
  val written = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 0

  private def newId(): Int = { nextId += 1; nextId }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = open.headOption.getOrElse(-1)
      val t0 = nowNs
      open = id :: open
      try body
      finally {
        open = open.tail
        spans += Span(id, name, parent, runId, t0, nowNs)
      }
    }

  /** A span observed rather than wrapped (a Spark action seen by the
    * listener), placed under `parent`. */
  def add(name: String, parent: Int, startNs: Long, endNs: Long): Span = {
    val s = Span(newId(), name, parent, runId, startNs, endNs)
    spans += s
    s
  }

  /** Hand back this step's spans and keep them for the final dump. */
  def drainStep(): Seq[Span] = {
    val s = spans.toList
    written ++= s
    spans.clear()
    s
  }
}

object Tracer {
  /** Self time per span id: duration minus the union of its children. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> ((s.endNs - s.startNs - covered) / 1e9)
    }.toMap
  }

  /** Whether execution `x` ran inside span `s` (1 ms slack: Spark stamps
    * executions in milliseconds). */
  def within(s: Span, x: Exec): Boolean =
    s.startNs - 1000000L <= x.startNs && x.endNs <= s.endNs + 1000000L

  /** Innermost span that `x` ran inside. */
  def enclosing(spans: Seq[Span], x: Exec): Option[Span] =
    spans.filter(within(_, x)).sortBy(s => s.endNs - s.startNs).headOption

  def toJson(s: Span): String =
    Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "run" -> s.runId, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

/** What one Spark SQL execution did, read from its listener events and its
  * final physical plan. */
final class Exec(val id: Long, val root: Long, val startMs: Long) {
  var endMs: Long = -1
  var planS = 0.0
  var outputPath: Option[String] = None
  var filesWritten = 0L
  var bytesWritten = 0L
  var rowsWritten = 0L
  var fullOuterJoins = 0
  /** (root paths, metrics) per file scan. */
  var scans = List.empty[(Seq[String], Map[String, Long])]
  var jaccardIn = 0L
  var jaccardOut = 0L
  var jobs = 0
  var tasks = 0
  var shuffleBytes = 0L
  def isRoot: Boolean = id == root
  def secs: Double = (endMs - startMs) / 1e3
  def startNs: Long = startMs * 1000000L
  def endNs: Long = endMs * 1000000L
}

/** Listener the traced run registers: one [[Exec]] per SQL execution with
  * its jobs, tasks, shuffle bytes, planning time and plan facts. */
final class ExecListener extends SparkListener {
  private val execs = mutable.LinkedHashMap[Long, Exec]()
  private val stageExec = mutable.Map[Int, Long]()

  override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized {
        execs(s.executionId) = new Exec(s.executionId,
          s.rootExecutionId.getOrElse(s.executionId), s.time)
      }
    case e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      synchronized {
        execs.get(e.executionId).foreach { x =>
          x.endMs = e.time
          BenchHooks.queryExecution(e).foreach(qe => Try(Plans.inspect(qe, x)))
        }
      }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(s => execs.get(s.toLong))
      .foreach { x =>
        x.jobs += 1
        j.stageIds.foreach(stageExec(_) = x.id)
      }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    stageExec.get(t.stageId).flatMap(execs.get).foreach { x =>
      x.tasks += 1
      if (t.taskMetrics != null)
        x.shuffleBytes += t.taskMetrics.shuffleWriteMetrics.bytesWritten
    }
  }

  def clear(): Unit = synchronized { execs.clear(); stageExec.clear() }

  def finished: Seq[Exec] = synchronized(execs.values.filter(_.endMs >= 0).toList)
}

/** Facts read from an executed physical plan, adaptive stages included. */
object Plans {
  private def walk(p: SparkPlan): Seq[SparkPlan] = {
    val below = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case c: CommandResultExec => walk(c.commandPhysicalPlan)
      case _: ReusedExchangeExec => Nil // ran once, where it was first used
      case _ => p.children.flatMap(walk)
    }
    p +: (below ++ p.subqueries.flatMap(walk))
  }

  private def rows(p: SparkPlan): Option[Long] =
    p.metrics.get("numOutputRows").map(_.value)

  /** Rows entering `p`: the nearest descendant that counts its output. */
  private def rowsIn(p: SparkPlan): Long =
    p.children.headOption.map(c => rows(c).getOrElse(rowsIn(c))).getOrElse(0L)

  private def isVerify(e: Expression): Boolean =
    e.toString.contains("array_intersect")

  def inspect(qe: QueryExecution, x: Exec): Unit = {
    val phases = qe.tracker.phases
    x.planS = Seq(QueryPlanningTracker.ANALYSIS,
      QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
      .flatMap(phases.get).map(_.durationMs).sum / 1e3
    walk(qe.executedPlan).foreach {
      case d: DataWritingCommandExec =>
        d.cmd match {
          case i: InsertIntoHadoopFsRelationCommand =>
            x.outputPath = Some(i.outputPath.toString)
          case _ =>
        }
        val m = d.metrics
        x.filesWritten += m.get("numFiles").map(_.value).getOrElse(0L)
        x.bytesWritten += m.get("numOutputBytes").map(_.value).getOrElse(0L)
        x.rowsWritten += m.get("numOutputRows").map(_.value).getOrElse(0L)
      case j: BaseJoinExec if j.joinType == FullOuter =>
        x.fullOuterJoins += 1
      case s: FileSourceScanExec =>
        x.scans ::= (s.relation.location.rootPaths.map(_.toString),
          s.metrics.map { case (k, v) => k -> v.value })
      // the exact-Jaccard verify of Dedup.verifyJaccard: a filter, or the
      // join condition the optimizer pushes it into
      case f: FilterExec if isVerify(f.condition) =>
        x.jaccardOut += rows(f).getOrElse(0L)
        x.jaccardIn += rowsIn(f)
      case j: BaseJoinExec if j.condition.exists(isVerify) =>
        x.jaccardOut += rows(j).getOrElse(0L)
        x.jaccardIn += rowsIn(j)
      case _ =>
    }
  }
}

/** Minimal JSON encoder for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => value(xs.toSeq)
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
