package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans, null).
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case m: java.util.Map[_, _] => apply(m.asScala)
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

/** Wall clock shared by spans, job events and stream progress: epoch
  * milliseconds with sub-millisecond resolution from `nanoTime`.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory spans: name, start, end, parent and run id, written with the
  * result when the run ends. Recording is off unless `on` is set, so the
  * untraced passes of a traced run pay nothing here.
  */
final class Tracer(runId: String) {
  @volatile var on: Boolean = false
  private val spans = ArrayBuffer[Map[String, Any]]()
  private var nextId = 0

  def span[T](parent: Int, name: String, layer: String)(body: Int => T): T = {
    if (!on) return body(-1)
    val id = synchronized { nextId += 1; nextId }
    val start = Clock.ms()
    try body(id)
    finally {
      val end = Clock.ms()
      synchronized {
        spans += Map("id" -> id, "parent" -> parent, "name" -> name, "layer" -> layer,
          "start_ms" -> start, "end_ms" -> end, "run" -> runId)
      }
    }
  }

  def all: Seq[Map[String, Any]] = synchronized(spans.toList)
}

/** Per-span Spark counters, attributed through `ctx`: the span the
  * benchmark thread is in. Traced runs drain the listener bus before `ctx`
  * changes, so every job and task lands on the span that submitted it.
  */
final class JobProbe extends SparkListener {
  @volatile var ctx: String = null

  final class Acc {
    var jobs = 0L; var tasks = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    var cpuNs = 0L; var planningMs = 0.0
    val jobSpans = ArrayBuffer[(Double, Double)]()
  }
  val acc = new ConcurrentHashMap[String, Acc]()
  private val stageCtx = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Double)]()

  def of(key: String): Acc = acc.computeIfAbsent(key, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val c = ctx
    if (c != null) {
      jobStart.put(e.jobId, (c, e.time.toDouble))
      e.stageInfos.foreach(si => stageCtx.put(si.stageId, c))
      val a = of(c); a.synchronized(a.jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (c, t0) =>
      val a = of(c); a.synchronized(a.jobSpans += ((t0, e.time.toDouble)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = stageCtx.get(e.stageId)
    val m = e.taskMetrics
    if (c != null && m != null) {
      val a = of(c)
      a.synchronized {
        a.tasks += 1
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.cpuNs += m.executorCpuTime
      }
    }
  }

  /** Milliseconds of [from, to] covered by at least one job of `key`. */
  def jobCoveredMs(key: String, from: Double, to: Double): Double = {
    val iv = Option(acc.get(key)).map(a => a.synchronized(a.jobSpans.toList)).getOrElse(Nil)
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    iv.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) covered += curE - curS
    covered
  }
}

/** Query-execution listener: planning time (analysis + optimization +
  * planning, from `QueryPlanningTracker`) per span, and the near-dup
  * funnel read off the final adaptive plan of the span named `funnelCtx`.
  */
final class PlanProbe(jobs: JobProbe) extends QueryExecutionListener {
  @volatile var funnelCtx: String = null
  val candidates = new ConcurrentHashMap[String, Long]()

  private def record(qe: QueryExecution): Unit = {
    val c = jobs.ctx
    if (c != null) {
      val ms = qe.tracker.phases.collect {
        case (p, s) if p == "analysis" || p == "optimization" || p == "planning" => s.durationMs
      }.sum.toDouble
      val a = jobs.of(c); a.synchronized(a.planningMs += ms)
      if (c == funnelCtx) Funnel.candidateRows(qe.executedPlan).foreach(n => candidates.put(c, n))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** The banded-candidate funnel of `Dedup.bandedCandidatesImpl`. The
  * optimizer folds the size-ratio and first-match filters into the band
  * join's condition, so the join's output rows in the final plan are the
  * candidates; the collisions before those filters are counted on the
  * side, with the equi-join on the band key and the self-pair id order
  * that OptProbe used.
  */
object Funnel {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def candidateRows(plan: SparkPlan): Option[Long] = {
    val bandJoins = nodes(plan).collect {
      case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == "__band_idx")) => j
    }
    if (bandJoins.isEmpty) None
    else Some(bandJoins.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum)
  }

  def collisionRows(spark: SparkSession, sf: String): Long = {
    import org.apache.spark.sql.functions.{col, posexplode, size}
    val e = graft.engine.Dedup.minhashBands(spark, sf).where(size(col("toks")) > 0)
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("bi", "bh")))
    e.as("a").join(e.as("b"), col("a.bi") === col("b.bi") && col("a.bh") === col("b.bh") &&
      col("a.doc_id") < col("b.doc_id")).count()
  }
}

/** Every progress event of every streaming query, keyed by run id and
  * batch id (the query's own `recentProgress` keeps only the last 100),
  * plus the commit-time hook the live workload uses for its lag gauge.
  */
final class StreamProbe extends StreamingQueryListener {
  import StreamingQueryListener._
  val byRun = new ConcurrentHashMap[String, ConcurrentHashMap[Long, StreamingQueryProgress]]()
  @volatile var onCommit: StreamingQueryProgress => Unit = _ => ()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    put(e.progress)
    onCommit(e.progress)
  }
  def put(p: StreamingQueryProgress): Unit =
    byRun.computeIfAbsent(p.runId.toString, _ => new ConcurrentHashMap()).put(p.batchId, p)

  def progresses(runId: String): Seq[StreamingQueryProgress] =
    Option(byRun.get(runId)).map(_.values.asScala.toSeq.sortBy(_.batchId)).getOrElse(Nil)
}
