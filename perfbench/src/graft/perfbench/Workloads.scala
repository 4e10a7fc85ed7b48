package graft.perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.compilex.ConstraintCompiler
import graft.run.{CurateJob, ValidateJob}
import graft.suite.{NorthStar, SuiteLoader}

/** What one op hands back: rows it covered, time to its first result,
  * and counts read from the job's own report line.
  */
final case class OpResult(rows: Long, firstResultNs: Long, counts: Map[String, Double] = Map.empty)

/** One workload. `prepare` builds the seeded inputs (cached per seed);
  * `warmup` is the op that set-up includes; `op` is one timed job call;
  * `check` compares its outputs with what the generator injected.
  */
trait Workload {
  def prepare(spark: SparkSession, in: Path): Unit
  def warmup(spark: SparkSession, run: Path, rep: Int, tr: Tracer): Unit
  def op(spark: SparkSession, run: Path, k: Int, tr: Tracer): OpResult
  def check(spark: SparkSession, run: Path, k: Int): Option[String]
  /** Direct calls into single layers, timed one by one (traced run only). */
  def ladder(spark: SparkSession, run: Path, tr: Tracer, rec: Recorder): Map[String, Double]
}

object Workloads {
  def apply(name: String, seed: Long): Workload = name match {
    case "validate_batch" => new ValidateBatch(seed)
    case "curate" => new Curate(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

object Files2 {
  def delete(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).forEach { s =>
      val d = dst.resolve(src.relativize(s).toString)
      if (Files.isDirectory(s)) Files.createDirectories(d) else Files.copy(s, d)
    }

  def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")
  def write(p: Path, s: String): Unit = { Files.createDirectories(p.getParent); Files.write(p, s.getBytes("UTF-8")) }

  /** Runs `body` once unless `dir`/_DONE exists; inputs are cached per seed. */
  def once(dir: Path)(body: => Unit): Unit =
    if (!Files.exists(dir.resolve("_DONE"))) {
      delete(dir); Files.createDirectories(dir); body
      Files.write(dir.resolve("_DONE"), Array.emptyByteArray)
    }
}

/** Polls for an op's first visible output from a side thread (1 ms). */
final class FirstResult(cond: () => Boolean) {
  private val t0 = System.nanoTime()
  @volatile private var hit = -1L
  @volatile private var stop = false
  private val th = new Thread(() => {
    while (hit < 0 && !stop) {
      if (scala.util.Try(cond()).getOrElse(false)) hit = System.nanoTime() - t0 else Thread.sleep(1)
    }
  })
  th.setDaemon(true); th.start()
  def get(): Long = { stop = true; th.join(); if (hit >= 0) hit else System.nanoTime() - t0 }
}

/** ValidateJob.run from an empty checkpoint over the whole token table.
  * The traced run's ladder also times the job's resume and incremental
  * (appended files) paths on a copy of the table.
  */
final class ValidateBatch(seed: Long) extends Workload {
  val Rows = 40000L
  val Chunks = 4
  val Sources = 2
  val BatchRows = 1000L
  private val Report = """\[validate\] partitions=(\d+) skip=(\d+) incremental=(\d+) full=(\d+)""".r
  private var in: Path = _
  private def table: Path = in.resolve("table")
  private var exp: Gen.Injected = _

  /** Runs ValidateJob.run with its console report captured. */
  private def validate(spark: SparkSession, tablePath: Path, out: Path, ckpt: Path): Map[String, Double] = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf, true, "UTF-8")) {
      ValidateJob.run(spark, tablePath.toString, out.toString, ckpt.toString)
    }
    Report.findFirstMatchIn(buf.toString("UTF-8")).map { m =>
      Map("run.parts_skipped" -> m.group(2).toDouble, "run.parts_incremental" -> m.group(3).toDouble,
        "run.parts_full" -> m.group(4).toDouble)
    }.getOrElse(Map.empty)
  }

  /** Output check against the generator's injected counts. */
  private def verify(spark: SparkSession, out: Path, ckpt: Path, inj: Gen.Injected): Option[String] = {
    val got = spark.read.parquet(out.resolve("violations").toString)
      .groupBy("constraint_id").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = inj.violationsByConstraint.filter(_._2 > 0)
    val dups = spark.read.parquet(out.resolve("dup_doc_ids").toString).count()
    val ref = spark.read.parquet(out.resolve("referential_violations").toString)
      .agg(coalesce(sum("bad_rows"), lit(0L))).head().getLong(0)
    val manifest = ValidateJob.completedDetail(ckpt.toString, ValidateJob.suiteHash(NorthStar.suite))
      .map { case (p, st) => p -> (st.rows, st.violations) }
    val errs = Seq(
      if (got != want) Some(s"violations per constraint $got != injected $want") else None,
      if (dups != inj.dupKeys) Some(s"duplicate doc_ids $dups != injected ${inj.dupKeys}") else None,
      if (ref != inj.referentialRows) Some(s"referential rows $ref != injected ${inj.referentialRows}") else None,
      if (manifest != inj.perPartition) Some(s"manifest $manifest != expected ${inj.perPartition}") else None
    ).flatten
    errs.headOption
  }

  /** Direct calls into the run layer's listing and manifest functions. */
  private def runLadder(spark: SparkSession, tablePath: Path, ckpt: Path, tr: Tracer): Map[String, Double] = {
    val t0 = System.nanoTime()
    tr.span("listPartitions+listPartFiles", "run.listing") {
      ValidateJob.listPartitions(spark, tablePath.toString, "source")
        .foreach(p => ValidateJob.listPartFiles(spark, tablePath.toString, "source", p))
    }
    val t1 = System.nanoTime()
    tr.span("completedDetail", "run.manifest") {
      ValidateJob.completedDetail(ckpt.toString, ValidateJob.suiteHash(NorthStar.suite))
    }
    val t2 = System.nanoTime()
    Map("run.listing_s" -> (t1 - t0) / 1e9, "run.manifest_s" -> (t2 - t1) / 1e9)
  }

  def prepare(spark: SparkSession, dir: Path): Unit = {
    in = dir
    Files2.once(dir) {
      Files2.write(dir.resolve("injected.tsv"), Gen.tokenTable(spark, seed, Rows, Chunks, Sources, dir).toLine)
    }
    exp = Gen.Injected.fromLine(Files2.read(dir.resolve("injected.tsv")))
  }

  def warmup(spark: SparkSession, run: Path, rep: Int, tr: Tracer): Unit = {
    val d = run.resolve(s"warm$rep")
    validate(spark, table, d.resolve("out"), d.resolve("ckpt"))
    Files2.delete(d)
  }

  def op(spark: SparkSession, run: Path, k: Int, tr: Tracer): OpResult = {
    val d = run.resolve(s"op$k")
    // the first complete result a user can read: the per-partition verdict
    // table, written before the global checks run
    val w = new FirstResult(() => Files.exists(d.resolve("out").resolve("verdicts").resolve("_SUCCESS")))
    val counts = tr.span("ValidateJob.run", "run") { validate(spark, table, d.resolve("out"), d.resolve("ckpt")) }
    OpResult(exp.rows, w.get(), counts)
  }

  def check(spark: SparkSession, run: Path, k: Int): Option[String] = {
    val d = run.resolve(s"op$k")
    try verify(spark, d.resolve("out"), d.resolve("ckpt"), exp) finally Files2.delete(d)
  }

  /** Scan only, then + TokenStats profiles, then + constraint evaluation,
    * then the violations write: each step's extra time is one layer's. The
    * steps run on a 3x larger table of this seed, where per-row work is
    * not hidden under per-query overhead.
    */
  override def ladder(spark: SparkSession, run: Path, tr: Tracer, rec: Recorder): Map[String, Double] = {
    val fused = Set("tokens")
    val big = in.resolve("ladder")
    Files2.once(big)(Gen.tokenTable(spark, seed, 3 * Rows, Chunks, Sources, big))
    def df = spark.read.parquet(big.resolve("table").toString)
    // best of two: the first call of a query shape pays its planning and codegen
    def timed(name: String, layer: String)(body: => Unit): Double = (1 to 2).map { _ =>
      val t0 = System.nanoTime(); tr.span(name, layer)(body); (System.nanoTime() - t0) / 1e9
    }.min
    val scan = timed("scan", "io") { df.write.format("noop").mode("overwrite").save() }
    val prof = timed("withProfiles", "functions") {
      ConstraintCompiler.withProfiles(df, fused).write.format("noop").mode("overwrite").save()
    }
    val fc = timed("failCounts", "compilex") { ConstraintCompiler.failCounts(df, NorthStar.suite, fused).collect() }
    val viol = timed("violations", "run") {
      ConstraintCompiler.violations(df, NorthStar.suite, fusedIntArrays = fused)
        .write.mode("overwrite").parquet(run.resolve("ladder").toString)
    }
    Files2.delete(run.resolve("ladder"))

    // run layer on a copy of the table: full validate, listing and manifest
    // calls, a pure resume, then one appended batch (incremental slices)
    val (t, out, ck) = (run.resolve("ladder_table"), run.resolve("ladder_out"), run.resolve("ladder_ckpt"))
    Files2.copyTree(table, t)
    validate(spark, t, out, ck)
    val calls = runLadder(spark, t, ck, tr)
    def timedValidate(name: String): (Double, Map[String, Double]) = {
      val t0 = System.nanoTime()
      val c = tr.span(name, "run")(validate(spark, t, out, ck))
      ((System.nanoTime() - t0) / 1e9, c)
    }
    val (resume, rc) = timedValidate("ValidateJob.run resume")
    val ab = in.resolve("append_batch")
    Files2.once(ab) {
      Files2.write(ab.resolve("batch.tsv"), Gen.appendBatch(spark, seed, Rows, BatchRows, Sources, ab).toLine)
    }
    val batch = Gen.Injected.fromLine(Files2.read(ab.resolve("batch.tsv")))
    Files.list(ab.resolve("append")).iterator().asScala.filter(Files.isDirectory(_)).foreach { part =>
      val dst = t.resolve(part.getFileName.toString)
      Files.createDirectories(dst)
      Files.list(part).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, j) => Files.copy(f, dst.resolve(s"part-append-$j.parquet")) }
    }
    val (inc, ic) = timedValidate("ValidateJob.run incremental")
    val err = verify(spark, out, ck, exp + batch)
    Files2.delete(t); Files2.delete(out); Files2.delete(ck)
    err.foreach(e => throw new IllegalStateException(s"incremental validate: $e"))

    // suite and compilex layers on a ~120-constraint suite (past the
    // codegen field limit): two fresh seeded suites, medians
    val wide = WideSuite.table(spark, seed, in)
    rec.attach(spark)
    val ws = (0 until 2).map { v =>
      val c0 = Layers.compileNs
      val r = WideSuite.run(spark, seed, 1000 + v, wide, tr)
      (r, (Layers.compileNs - c0) / 1e9)
    }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    rec.detach(spark)
    val q = rec.take().queries
    val perSuite = (f: Recorder#Query => Double) => q.map(f).sum / ws.size
    calls ++ Map(
      "suite.parse_s" -> Main.median(ws.map(_._1.parseS)),
      "suite.first_result_s" -> Main.median(ws.map(_._1.firstS)),
      "suite.wide_op_s" -> Main.median(ws.map(_._1.totalS)),
      "suite.constraints" -> ws.head._1.constraints.toDouble,
      "compilex.wide_planning_s" -> perSuite(_.phasesMs.values.sum / 1e3),
      "compilex.wide_codegen_compile_s" -> Main.median(ws.map(_._2)),
      "compilex.wide_wscg_stages" -> perSuite(_.shape.wscg.toDouble),
      "compilex.wide_codegen_fallback_exprs" -> perSuite(_.shape.fallbacks.toDouble),
      "compilex.wide_exchanges" -> perSuite(_.shape.exchanges.toDouble)) ++ Map("io.scan_s" -> scan, "functions.profile_s" -> (prof - scan), "compilex.eval_s" -> (fc - prof),
      "run.violations_write_s" -> (viol - fc), "run.resume_s" -> resume, "run.incremental_s" -> inc,
      "run.parts_skipped" -> rc.getOrElse("run.parts_skipped", 0.0),
      "run.parts_incremental" -> ic.getOrElse("run.parts_incremental", 0.0))
  }
}

/** The wide-suite step of the traced ladder: a fresh seeded ~120-constraint
  * suite over a wide int table, taken through parse, failCounts (the first
  * result), violations and the row_valid filter of withVerdicts, and the
  * three faces checked against each other and against plain Spark SQL.
  */
object WideSuite {
  val Rows = 10000L
  val Cols = 24

  final case class Result(parseS: Double, firstS: Double, totalS: Double, constraints: Int)

  def table(spark: SparkSession, seed: Long, in: Path): Path = {
    val dir = in.resolve("wide_suite")
    Files2.once(dir)(Gen.wideTable(spark, seed, Rows, Cols, dir))
    dir.resolve("wide")
  }

  def run(spark: SparkSession, seed: Long, variant: Long, wide: Path, tr: Tracer): Result = {
    val t0 = System.nanoTime()
    val ws = Gen.wideSuite(seed, variant, Cols)
    val d = spark.read.parquet(wide.toString)
    val suite = tr.span("parseSuiteDocument", "suite") {
      SuiteLoader.parseSuiteDocument(ws.json, Nil, d.columns.toSeq)
    }
    val t1 = System.nanoTime()
    val fc = tr.span("failCounts", "compilex") { ConstraintCompiler.failCounts(d, suite).collect() }
    val t2 = System.nanoTime()
    val vObs = Observation(s"wide_viol_$variant")
    tr.span("violations", "compilex") {
      ConstraintCompiler.violations(d, suite, keyField = "id", partField = "grp")
        .observe(vObs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    }
    val okObs = Observation(s"wide_valid_$variant")
    tr.span("withVerdicts.row_valid", "compilex") {
      ConstraintCompiler.withVerdicts(d, suite).filter(col("row_valid"))
        .observe(okObs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    }
    val t3 = System.nanoTime()
    check(d, ws, fc.map(r => r.getString(0) -> r.getLong(1)).toMap,
      vObs.get("n").asInstanceOf[Long], okObs.get("n").asInstanceOf[Long])
      .foreach(e => throw new IllegalStateException(s"wide suite $variant: $e"))
    Result((t1 - t0) / 1e9, (t2 - t0) / 1e9, (t3 - t0) / 1e9, suite.resolved.constraints.size)
  }

  private def check(d: org.apache.spark.sql.DataFrame, ws: Gen.WideSuite, fc: Map[String, Long],
                    violRows: Long, validRows: Long): Option[String] = {
    val fails = ws.failSql.map { case (_, p) => s"sum(CASE WHEN $p THEN 1 ELSE 0 END)" }
    val any = s"sum(CASE WHEN ${ws.failSql.map(_._2).mkString(" OR ")} THEN 1 ELSE 0 END)"
    val r = d.selectExpr(fails :+ any :+ "count(1)": _*).head()
    val sql = ws.failSql.indices.map(i => ws.failSql(i)._1 -> r.getLong(i)).toMap
    val sqlAny = r.getLong(ws.failSql.size); val n = r.getLong(ws.failSql.size + 1)
    Seq(
      if (fc != sql) Some(s"failCounts ${fc.toSeq.sorted.take(6)} != SQL ${sql.toSeq.sorted.take(6)}") else None,
      if (violRows != sql.values.sum) Some(s"violations rows $violRows != SQL ${sql.values.sum}") else None,
      if (validRows != n - sqlAny) Some(s"row_valid rows $validRows != SQL ${n - sqlAny}") else None
    ).flatten.headOption
  }
}

/** CurateJob.run over a seeded documents corpus. */
final class Curate(seed: Long) extends Workload {
  val Docs = 100
  private var in: Path = _
  private var digest: Option[String] = None
  private var kept = 0L

  def prepare(spark: SparkSession, dir: Path): Unit = {
    in = dir
    Files2.once(dir)(Gen.curateDocs(spark, seed, Docs, dir))
    val f = dir.resolve("digest.txt")
    digest = if (Files.exists(f)) Some(Files2.read(f)) else None
  }

  private def curate(spark: SparkSession, out: Path): Unit =
    Console.withOut(new PrintStream(new ByteArrayOutputStream(), true, "UTF-8")) {
      CurateJob.run(spark, in.toString, out.toString)
    }

  def warmup(spark: SparkSession, run: Path, rep: Int, tr: Tracer): Unit = {
    val out = run.resolve(s"warm$rep")
    curate(spark, out)
    Files2.delete(out)
  }

  def op(spark: SparkSession, run: Path, k: Int, tr: Tracer): OpResult = {
    val out = run.resolve(s"op$k")
    val w = new FirstResult(() => Files.exists(out.resolve("ledger").resolve("_SUCCESS")))
    tr.span("CurateJob.run", "pipeline")(curate(spark, out))
    OpResult(Docs, w.get())
  }

  /** Ledger funnel is monotone and sums to the input; the curated rows are
    * the ledger's survivors; the output digest is the same on every op and
    * every run of this seed.
    */
  def check(spark: SparkSession, run: Path, k: Int): Option[String] = {
    val out = run.resolve(s"op$k")
    try check(spark, out) finally Files2.delete(out)
  }

  private def check(spark: SparkSession, out: Path): Option[String] = {
    val led = spark.read.json(out.resolve("ledger").toString).collect()
    val cols = Seq("n_docs", "n_train", "n_funnel", "n_clean", "n_final")
    val sums = cols.map(c => led.map(_.getAs[Long](c)).sum)
    val cur = spark.read.parquet(out.resolve("curated").toString)
      .select(col("doc_id"), col("n_tok"), hash(col("tokens")).as("h")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    val ids = cur.map(_._1)
    val dropped = (0L until Docs).filterNot(ids.toSet).size
    val md = java.security.MessageDigest.getInstance("MD5").digest(cur.mkString(";").getBytes("UTF-8"))
    val dg = md.map(b => f"$b%02x").mkString
    val errs = Seq(
      if (sums.head != Docs) Some(s"ledger n_docs ${sums.head} != input $Docs") else None,
      if (sums.zip(sums.tail).exists { case (a, b) => b > a }) Some(s"ledger funnel not monotone $sums") else None,
      if (cur.length != sums.last) Some(s"curated rows ${cur.length} != ledger n_final ${sums.last}") else None,
      if (ids.distinct.length != ids.length) Some("curated doc_ids not unique") else None,
      if (cur.length + dropped != Docs) Some(s"kept ${cur.length} + dropped $dropped != input $Docs") else None,
      digest.filter(_ != dg).map(d => s"digest $dg != this seed's $d")
    ).flatten
    kept = cur.length
    if (errs.isEmpty && digest.isEmpty) {
      digest = Some(dg); Files2.write(in.resolve("digest.txt"), dg)
    }
    errs.headOption
  }

  /** Direct calls into the pipeline layer's two id chains. */
  override def ladder(spark: SparkSession, run: Path, tr: Tracer, rec: Recorder): Map[String, Double] = {
    def timed(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime(); tr.span(name, "pipeline")(body); (System.nanoTime() - t0) / 1e9
    }
    val contam = timed("contamDocIds") { graft.PipelineQueries.contamDocIds(spark, in.toString).count() }
    val dropped = timed("droppedDocIds") { graft.PipelineQueries.droppedDocIds(spark, in.toString).count() }
    Map("pipeline.contam_s" -> contam, "pipeline.dropped_s" -> dropped, "pipeline.kept_docs" -> kept.toDouble)
  }
}
