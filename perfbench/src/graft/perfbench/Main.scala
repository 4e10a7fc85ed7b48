package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Product-job benchmark. One closed-loop caller issues one op (one job
  * call) at a time against seeded inputs, for a fixed number of seconds,
  * and checks every op's output.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --cores <n> --result <file>
  *
  * Set-up (session start plus one warm-up op) is repeated [[SetupReps]]
  * times and reported as its median; [[WarmOps]] untimed ops follow
  * before timing starts. With --trace 1 the Spark listeners
  * are attached to every other op, the per-layer numbers come from those
  * ops, and the untraced ops give the tracing overhead.
  */
object Main {
  val SetupReps = 3
  /** Untimed ops after set-up: the JIT still speeds the op up by then. */
  val WarmOps = 1
  val MinOps = 3

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  /** CPU time of the JVM's Java threads: the main thread, Spark's task and
    * service threads. JIT-compiler and GC threads are not Java threads and
    * are left out; their load depends on how warm the JVM is, not on the op.
    */
  private val threads = ManagementFactory.getThreadMXBean
  private def cpuByThread: Map[Long, Long] =
    threads.getAllThreadIds.map(t => t -> threads.getThreadCpuTime(t)).filter(_._2 > 0).toMap
  /** CPU spent since `before` by the threads alive now (a thread that ended
    * in between drops out; one that started counts from zero).
    */
  private def cpuSince(before: Map[Long, Long]): Long =
    cpuByThread.map { case (t, ns) => ns - before.getOrElse(t, 0L) }.filter(_ > 0).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload"); val seed = a("seed").toLong
    val seconds = a("seconds").toDouble; val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = a.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val w = Workloads(name, seed)
    val inputs = work.resolve("inputs").resolve(s"$name-$seed")
    val run = work.resolve("runs").resolve(s"$name-$seed-${ProcessHandle.current.pid}")
    Files2.delete(run); Files.createDirectories(run)
    val tr = new Tracer(trace)

    // set-up, repeated: session start + one warm-up op. The first session
    // also builds (or loads) this seed's cached inputs, which is not timed.
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var prepareS = 0.0
    (1 to SetupReps).foreach { rep =>
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session(cores, work)
      val t1 = System.nanoTime()
      if (rep == 1) w.prepare(spark, inputs)
      val t2 = System.nanoTime()
      prepareS += (t2 - t1) / 1e9
      tr.op = s"setup$rep"
      tr.span("warmup", "setup")(w.warmup(spark, run, rep, tr))
      setups += ((t1 - t0) + (System.nanoTime() - t2)) / 1e9
    }
    // the JIT is still compiling Spark's planner and the job's hot paths
    // for a few ops after set-up
    (1 to WarmOps).foreach { j =>
      tr.op = s"warm$j"
      tr.span("warmup", "setup")(w.warmup(spark, run, SetupReps + j, tr))
    }

    val rec = new Recorder
    val walls = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val plainWalls = mutable.ArrayBuffer.empty[Double]
    val firsts = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    val rates = mutable.ArrayBuffer.empty[Double]
    val layerRows = mutable.ArrayBuffer.empty[Map[String, Double]]
    var failed = 0; var k = 0
    val errors = mutable.ArrayBuffer.empty[String]
    heapPools.foreach(_.resetPeakUsage())
    var heapPeak = 0.0
    // ops run until their summed wall time reaches --seconds (output checks
    // between ops are not counted), and at least MinOps times, so that the
    // median has a middle and a traced run has an untraced op
    while (k < MinOps || walls.sum < seconds) {
      val traced = trace && k % 2 == 0
      if (traced) rec.attach(spark)
      tr.op = s"op$k"
      val compile0 = Layers.compileNs
      val c0 = cpuByThread; val s0 = tr.nowMs; val t0 = System.nanoTime()
      val res = scala.util.Try(w.op(spark, run, k, if (traced) tr else new Tracer(false)))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = cpuSince(c0) / 1e9; val s1 = tr.nowMs
      val compile = (Layers.compileNs - compile0) / 1e9
      if (traced) { org.apache.spark.PerfbenchBus.drain(spark.sparkContext); rec.detach(spark) }
      heapPeak = heapPeak max heapPeakMb
      val err = res match {
        case scala.util.Failure(e) => Some(s"op failed: $e")
        case scala.util.Success(_) =>
          scala.util.Try(w.check(spark, run, k)).fold(e => Some(s"check failed: $e"), identity)
      }
      err.foreach { e => failed += 1; errors += s"op$k: $e" }
      walls += wall; cpus += cpu
      (if (traced) tracedWalls else plainWalls) += wall
      res.foreach { r => firsts += r.firstResultNs / 1e9; rates += r.rows / wall }
      if (traced) {
        val t = rec.take()
        layerRows += opLayers(t, tr, s"op$k", s0, s1, wall, compile) ++ res.toOption.map(_.counts).getOrElse(Map.empty)
      }
      k += 1
    }
    val ladders = mutable.ArrayBuffer.empty[Map[String, Double]]
    if (trace) {
      tr.op = "ladder"
      scala.util.Try(w.ladder(spark, run, tr, rec)).fold(
        e => { failed += 1; errors += s"ladder: $e" }, l => ladders += l)
    }
    val codegenMax = Layers.maxMethodBytes.toDouble
    stop(spark)
    Files2.delete(run)

    errors.foreach(e => System.err.println(s"[perfbench] $name seed=$seed $e"))
    def secs(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString(",")
    println(f"[perfbench] $name seed=$seed ops=$k failed=$failed inputs=$prepareS%.3f s " +
      s"setup reps=${secs(setups.toSeq)} op walls=${secs(walls.toSeq)}")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", median(setups.toSeq), "s"),
        ("rows_per_s", median(rates.toSeq), "rows/s"),
        ("op_p50_s", median(walls.toSeq), "s"),
        ("first_result_s", median(firsts.toSeq), "s"),
        ("cpu_s_per_op", median(cpus.toSeq), "s"))
      else {
        val names = PerLayer.all
        val ladder = ladders.headOption.getOrElse(Map.empty)
        val byOp = names.map(n => n -> median(layerRows.toSeq.map(_.getOrElse(n, 0.0)))).toMap
        val extra = Map(
          "trace.overhead_s" -> (median(tracedWalls.toSeq) - median(plainWalls.toSeq)),
          "compilex.codegen_max_method_bytes" -> codegenMax,
          "jvm.heap_peak_mb" -> heapPeak)
        val all = byOp ++ ladder ++ extra
        names.map(n => (n, all.getOrElse(n, 0.0), PerLayer.unit(n)))
      }
    if (trace) tr.write(work.resolve("trace").resolve(s"$name-$seed.jsonl"))

    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }.mkString(", ")
    val result = s"""{"correct": ${failed == 0}, "attempted": $k, "failed": $failed, "metrics": {$body}}"""
    Files2.write(Paths.get(a("result")), result)
  }

  /** Per-layer numbers of one traced op from the Spark events it caused. */
  def opLayers(t: Recorder#Taken, tr: Tracer, op: String, s0: Double, s1: Double,
               wall: Double, compileS: Double): Map[String, Double] = {
    val layerOfExec = t.execs.map(e => e.id -> Layers.of(e.path, e.desc)).toMap
    val roots = t.execs.filter(e => e.root == e.id)
    val rootLayer = (id: Long) => t.execs.find(_.id == id).map(e => layerOfExec.getOrElse(e.root, "bench"))
      .getOrElse("bench")
    val byLayer = roots.groupBy(e => layerOfExec(e.id)).map { case (l, es) => l -> es.map(e => (e.end - e.start) / 1e3).sum }
    // jobs outside any SQL execution (parquet schema reads, RDD actions)
    val loose = t.jobs.filter(j => !t.execs.exists(_.id == j.exec))
    val looseLayer = loose.map(j => j.id -> (if (j.callSite.startsWith("parquet at") ||
      j.callSite.startsWith("json at")) "io.schema" else Layers.of(None, j.callSite))).toMap
    val jobLayer = t.jobs.map(j => j.id -> rootLayer(j.exec)).toMap ++ looseLayer
    val aggs = t.aggs.toSeq
    def sumAgg(f: Recorder#Agg => Long, pred: Int => Boolean = _ => true): Double =
      aggs.collect { case (j, x) if pred(j) => f(x).toDouble }.sum
    val inB = sumAgg(_.inBytes); val outB = sumAgg(_.outBytes)
    val phases = (p: String) => t.queries.map(_.phasesMs.getOrElse(p, 0L)).sum / 1e3
    val sqlSpan = roots.map(e => e.id -> tr.add(Span(0, 0, op, "sql", e.desc.take(80), layerOfExec(e.id),
      e.start, e.end))).toMap
    val rootOf = t.execs.map(e => e.id -> e.root).toMap
    t.jobs.foreach(j => tr.add(Span(0, 0, op, "job", j.callSite, jobLayer(j.id), j.start, j.end),
      rootOf.get(j.exec).flatMap(sqlSpan.get)))
    val looseS = loose.map(j => looseLayer(j.id) -> (j.end - j.start) / 1e3)
    // share of the op's wall inside Spark-side spans attributed to a layer:
    // SQL executions, jobs outside them, and the queries' planning phases
    val named = (l: String) => Seq("run.", "checks.", "io.", "compilex.", "pipeline.").exists(l.startsWith)
    val intervals = (roots.map(e => (layerOfExec(e.id), e.start.toDouble, e.end.toDouble)) ++
      loose.map(j => (looseLayer(j.id), j.start.toDouble, j.end.toDouble)) ++
      t.queries.flatMap(_.phases.map { case (k, (a, b)) => (s"compilex.$k", a.toDouble, b.toDouble) }))
      .collect { case (l, a, b) if named(l) => (a max s0, b min s1) }.filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0.0; var end = s0
    intervals.foreach { case (a, b) => if (b > end) { covered += b - (a max end); end = b } }
    Map(
      "run.partition_s" -> byLayer.getOrElse("run.partition", 0.0),
      "run.sink_s" -> (byLayer.getOrElse("run.verdicts", 0.0) + byLayer.getOrElse("run.sink", 0.0)),
      "run.violation_rows" -> sumAgg(_.outRecs, j => jobLayer.get(j).contains("run.partition")),
      "run.out_bytes_per_in_byte" -> (if (inB > 0) outB / inB else 0.0),
      "checks.hll_s" -> byLayer.getOrElse("checks.hll", 0.0),
      "checks.uniqueness_s" -> byLayer.getOrElse("checks.uniqueness", 0.0),
      "checks.referential_s" -> byLayer.getOrElse("checks.referential", 0.0),
      "pipeline.ledger_s" -> byLayer.getOrElse("pipeline.ledger", 0.0),
      "pipeline.curated_write_s" -> byLayer.getOrElse("pipeline.curated_write", 0.0),
      "compilex.analysis_s" -> phases("analysis"),
      "compilex.optimizer_s" -> phases("optimization"),
      "compilex.planning_s" -> phases("planning"),
      "compilex.codegen_compile_s" -> compileS,
      "compilex.wscg_stages" -> t.queries.map(_.shape.wscg).sum.toDouble,
      "compilex.codegen_fallback_exprs" -> t.queries.map(_.shape.fallbacks).sum.toDouble,
      "compilex.exchanges" -> t.queries.map(_.shape.exchanges).sum.toDouble,
      "spark.jobs" -> t.jobs.size.toDouble,
      "spark.stages" -> sumAgg(_.stages),
      "spark.tasks" -> sumAgg(_.tasks),
      "spark.executor_cpu_s" -> sumAgg(_.cpuNs) / 1e9,
      "spark.gc_s" -> sumAgg(_.gcMs) / 1e3,
      "spark.scheduler_delay_s" -> sumAgg(_.schedMs) / 1e3,
      "spark.shuffle_write_bytes" -> sumAgg(_.shuffleW),
      "spark.spill_bytes" -> sumAgg(_.spill),
      "io.input_bytes" -> inB,
      "trace.layer_coverage" -> covered / (s1 - s0),
      "trace.op_self_s" -> (wall - roots.map(e => (e.end - e.start) / 1e3).sum - looseS.map(_._2).sum),
      "trace.op_wall_s" -> wall
    )
  }
}

/** Per-layer metric names and units (the per_layer list of BENCHMARK.json). */
object PerLayer {
  val all: Seq[String] = Seq(
    "io.scan_s", "io.input_bytes", "functions.profile_s", "compilex.eval_s", "run.violations_write_s",
    "compilex.analysis_s", "compilex.optimizer_s", "compilex.planning_s", "compilex.codegen_compile_s",
    "compilex.codegen_max_method_bytes", "compilex.wscg_stages", "compilex.codegen_fallback_exprs",
    "compilex.exchanges", "suite.parse_s", "suite.constraints", "suite.first_result_s", "suite.wide_op_s",
    "compilex.wide_planning_s", "compilex.wide_codegen_compile_s", "compilex.wide_wscg_stages",
    "compilex.wide_codegen_fallback_exprs", "compilex.wide_exchanges",
    "run.listing_s", "run.manifest_s", "run.partition_s", "run.sink_s", "run.resume_s",
    "run.incremental_s", "run.parts_full",
    "run.parts_incremental", "run.parts_skipped", "run.violation_rows", "run.out_bytes_per_in_byte",
    "checks.hll_s", "checks.uniqueness_s", "checks.referential_s",
    "pipeline.contam_s", "pipeline.dropped_s", "pipeline.ledger_s", "pipeline.curated_write_s",
    "pipeline.kept_docs",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_cpu_s", "spark.gc_s",
    "spark.scheduler_delay_s", "spark.shuffle_write_bytes", "spark.spill_bytes", "jvm.heap_peak_mb",
    "trace.overhead_s", "trace.layer_coverage", "trace.op_self_s", "trace.op_wall_s")

  def unit(n: String): String =
    if (n.endsWith("_s")) "s"
    else if (n.endsWith("_bytes") || n.endsWith(".input_bytes")) "bytes"
    else if (n.endsWith("_mb")) "MB"
    else if (n.endsWith("_per_in_byte") || n.endsWith("coverage")) "ratio"
    else "count"
}
