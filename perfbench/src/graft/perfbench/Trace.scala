package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenFallback}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `kind` is "bench" for spans the benchmark opens
  * around its own calls into a layer, "sql" for a Spark SQL execution and
  * "job" for a Spark job. Times are epoch milliseconds.
  */
final case class Span(id: Int, parent: Int, op: String, kind: String, name: String,
                      layer: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Span recorder. Spans stay in memory and are written once at exit.
  * With tracing off every call is a plain pass-through.
  */
final class Tracer(val on: Boolean) {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  var op: String = "setup"

  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val t0 = nowMs
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, "bench", name, layer, t0, nowMs)
      }
    }

  /** Adds a Spark-side span and returns its id. Without an explicit parent
    * it hangs under the innermost bench span of the same op containing it.
    */
  def add(s: Span, parent: Option[Int] = None): Int = {
    val p = parent.getOrElse(spans.filter(b => b.kind == "bench" && b.op == s.op &&
      b.start <= s.start + 1 && s.end <= b.end + 1).sortBy(_.dur).headOption.map(_.id).getOrElse(0))
    val id = nextId; nextId += 1
    spans += s.copy(id = id, parent = p)
    id
  }

  /** Duration of `s` not covered by its children. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start max s.start, k.end min s.end))
      .filter(k => k._2 > k._1).sortBy(_._1)
    var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
    kids.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) { if (!curS.isNaN) covered += curE - curS; curS = a; curE = b }
      else curE = curE max b
    }
    if (!curS.isNaN) covered += curE - curS
    s.dur - covered
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val sb = new StringBuilder
    spans.sortBy(_.start).foreach { s =>
      sb ++= f"""{"id":${s.id},"parent":${s.parent},"op":"${s.op}","kind":"${s.kind}",""" +
        f""""name":"${Json.esc(s.name)}","layer":"${s.layer}","start_ms":${s.start}%.3f,""" +
        f""""end_ms":${s.end}%.3f,"self_ms":${selfMs(s)}%.3f}""" + "\n"
    }
    Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Plan-shape counts of one executed query, read from the AQE final plan. */
final case class Shape(wscg: Int, exchanges: Int, fallbacks: Int)

object Shape {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case other => other.children ++ other.subqueries
    }
    p +: kids.flatMap(nodes)
  }

  def of(p: SparkPlan): Shape = {
    val ns = nodes(p)
    Shape(
      ns.count(_.isInstanceOf[WholeStageCodegenExec]),
      ns.count(n => n.isInstanceOf[ShuffleExchangeLike] || n.isInstanceOf[BroadcastExchangeLike]),
      ns.map(_.expressions.map(_.collect { case e: CodegenFallback => e }.size).sum).sum)
  }
}

/** Spark-side hooks the traced run registers: a SparkListener for SQL
  * executions, jobs, stages and tasks, and a QueryExecutionListener for
  * planning phases and the final plan. Events are buffered and handed
  * out per op by [[take]], after the listener bus is drained.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  final case class Exec(id: Long, root: Long, desc: String, path: Option[String], start: Long, var end: Long)
  final class Agg {
    var stages, tasks = 0L
    var cpuNs, gcMs, schedMs, inBytes, shuffleW, spill, outBytes, outRecs = 0L
  }
  final case class Job(id: Int, exec: Long, callSite: String, start: Long, var end: Long)
  /** Planning phases (analysis, optimization, planning) as epoch-ms intervals. */
  final case class Query(phases: Map[String, (Long, Long)], shape: Shape) {
    def phasesMs: Map[String, Long] = phases.map { case (k, (a, b)) => k -> (b - a) }
  }
  final case class Taken(execs: Seq[Exec], jobs: Seq[Job], aggs: Map[Int, Agg], queries: Seq[Query])

  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val aggs = mutable.Map.empty[Int, Agg]
  private val queries = mutable.ArrayBuffer.empty[Query]
  // the write command's first argument is its output path: "Arguments:"
  // in the formatted plan description, inline in the one-line form
  private val WritePath =
    """Arguments: (file:[^,\s\]]+)|InsertIntoHadoopFsRelationCommand (file:[^,\s\]]+)""".r

  private def agg(stage: Int): Agg = aggs.getOrElseUpdate(stageJob.getOrElse(stage, -1), new Agg)

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val path = WritePath.findFirstMatchIn(s.physicalPlanDescription)
          .map(m => Option(m.group(1)).getOrElse(m.group(2)))
        execs(s.executionId) = Exec(s.executionId, s.rootExecutionId.getOrElse(s.executionId),
          s.description, path, s.time, s.time)
      case x: SparkListenerSQLExecutionEnd =>
        execs.get(x.executionId).foreach(_.end = x.time)
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val p = Option(j.properties)
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
    // SQL jobs carry their call site as a property, plain RDD jobs (parquet
    // schema reads) only in their stage name
    val site = p.flatMap(x => Option(x.getProperty("callSite.short")))
      .orElse(j.stageInfos.headOption.map(_.name)).getOrElse("")
    jobs(j.jobId) = Job(j.jobId, exec, site, j.time, j.time)
    j.stageIds.foreach(stageJob(_) = j.jobId)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(j.jobId).foreach(_.end = j.time)
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    agg(s.stageInfo.stageId).stages += 1
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(t.stageId)
    val m = t.taskMetrics
    a.tasks += 1
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inBytes += m.inputMetrics.bytesRead
      a.shuffleW += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.outBytes += m.outputMetrics.bytesWritten
      a.outRecs += m.outputMetrics.recordsWritten
      val i = t.taskInfo
      a.schedMs += math.max(0L, (i.finishTime - i.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val q = Query(qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) },
      scala.util.Try(Shape.of(qe.executedPlan)).getOrElse(Shape(0, 0, 0)))
    synchronized { queries += q }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Everything recorded since the last call. */
  def take(): Taken = synchronized {
    val t = Taken(execs.values.toSeq, jobs.values.toSeq, aggs.toMap, queries.toSeq)
    execs.clear(); jobs.clear(); aggs.clear(); queries.clear()
    t
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Layers {
  /** Layer of a SQL execution: the output directory for writes (every
    * graft job writes each product to a named directory), else the graft
    * source file in its call site.
    */
  def of(path: Option[String], desc: String): String = path match {
    case Some(p) =>
      val q = p.stripSuffix("/")
      if (q.contains("/violations/")) "run.partition"
      else if (q.endsWith("/verdicts")) "run.verdicts"
      else if (q.endsWith("/uniqueness_prefilter")) "checks.hll"
      else if (q.endsWith("/dup_doc_ids")) "checks.uniqueness"
      else if (q.endsWith("/referential_violations")) "checks.referential"
      else if (q.endsWith("/ledger")) "pipeline.ledger"
      else if (q.endsWith("/curated")) "pipeline.curated_write"
      else "bench"
    case None =>
      desc.split(" at ").lastOption.map(_.takeWhile(_ != ':')).getOrElse("") match {
        case "Uniqueness.scala" => "checks.hll"
        case "Referential.scala" => "checks.referential"
        case "ValidateJob.scala" => "run.sink"
        case "ConnectedComponents.scala" => "pipeline.dropped"
        case "PipelineQueries.scala" | "TextOps.scala" => "pipeline.contam"
        case "CurateJob.scala" => "pipeline.sink"
        case "ConstraintCompiler.scala" => "compilex"
        case _ => "bench"
      }
  }

  /** Codegen counters of the whole JVM: total compile time (ns) and the
    * largest generated method in the recent-sample reservoir (bytes).
    */
  def compileNs: Long = CodeGenerator.compileTime
  def maxMethodBytes: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE
      .getSnapshot.getMax
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
