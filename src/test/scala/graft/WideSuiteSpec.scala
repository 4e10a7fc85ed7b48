package graft

import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import graft.compilex.ConstraintCompiler
import graft.suite.{FieldConstraint, Suite}
import graft.suite.Constraint._

/** Suites with hundreds of constraints over a wide int table: the three
  * compiler faces (failCounts, violations, withVerdicts) against each
  * other and against plain Spark SQL, plus plan-shape pins showing that
  * the projections do not grow per constraint.
  */
class WideSuiteSpec extends SparkSpec {

  private def colName(k: Int) = f"c$k%03d"

  /** `rows` rows of `cols` nullable int columns plus `id`/`grp`. Values are
    * mostly multiples of 6 in [120, 954], which the generated bounds and
    * divisors accept; 1 in 60 is null and 1 in 80 an arbitrary outlier.
    */
  private def wideTable(cols: Int, rows: Int, seed: Long): DataFrame = {
    val rnd = new Random(seed)
    val data = (0 until rows).map { i =>
      Row.fromSeq(Seq(s"r$i", s"g${i % 3}") ++ (0 until cols).map { _ =>
        if (rnd.nextInt(60) == 0) null
        else if (rnd.nextInt(80) == 0) Int.box(rnd.nextInt(1000))
        else Int.box(6 * (20 + rnd.nextInt(140)))
      })
    }
    val schema = StructType(Seq(StructField("id", StringType), StructField("grp", StringType)) ++
      (0 until cols).map(k => StructField(colName(k), IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
  }

  /** A generated suite: five constraints per column, and for each id the
    * plain-SQL predicate of a failing row (NULL, like the engine's type
    * gating, never fails).
    */
  private final case class Wide(suite: Suite, failSql: Seq[(String, String)])

  private def wideSuite(cols: Int, seed: Long): Wide = {
    val rnd = new Random(seed)
    val gen = (0 until cols).flatMap { k =>
      val c = colName(k)
      val lo = rnd.nextInt(121); val hi = 960 + rnd.nextInt(40)
      val m = Seq(2, 3, 6)(rnd.nextInt(3)); val v = 6 * (20 + rnd.nextInt(140))
      val a = 300 + rnd.nextInt(100)
      Seq(
        (s"$c.minimum", c, Minimum(lo), s"$c < $lo"),
        (s"$c.maximum", c, Maximum(hi), s"$c > $hi"),
        (s"$c.multipleOf", c, MultipleOf(m), s"pmod($c, $m) != 0"),
        (s"$c.not", c, Not(Const(v)), s"$c = $v"),
        (s"$c.anyOf", c, AnyOf(Seq(Maximum(a), Minimum(a + 6))), s"$c > $a AND $c < ${a + 6}"))
    }
    Wide(Suite(s"wide-$cols", gen.map { case (id, f, c, _) => FieldConstraint(id, f, c) }),
      gen.map { case (id, _, _, p) => id -> p })
  }

  /** Per-id fail counts, rows failing anything, and the row count, by
    * plain SQL over the same table.
    */
  private def sqlCounts(df: DataFrame, w: Wide): (Map[String, Long], Long, Long) = {
    val fails = w.failSql.map { case (_, p) => s"sum(CASE WHEN $p THEN 1 ELSE 0 END)" }
    val any = s"sum(CASE WHEN ${w.failSql.map(_._2).mkString(" OR ")} THEN 1 ELSE 0 END)"
    val r = df.selectExpr(fails :+ any :+ "count(1)": _*).head()
    (w.failSql.indices.map(i => w.failSql(i)._1 -> r.getLong(i)).toMap,
      r.getLong(w.failSql.size), r.getLong(w.failSql.size + 1))
  }

  private def validCount(df: DataFrame, s: Suite): Long =
    ConstraintCompiler.withVerdicts(df, s).filter(col("row_valid")).count()

  private lazy val table300 = wideTable(60, 600, 11L).cache()
  private lazy val wide300 = wideSuite(60, 12L)
  private lazy val table10 = wideTable(2, 600, 11L)
  private lazy val wide10 = wideSuite(2, 12L)

  test("300 constraints: failCounts, violations and row_valid agree with plain SQL") {
    val (sqlFails, sqlAny, n) = sqlCounts(table300, wide300)
    assert(wide300.suite.constraints.size == 300)
    assert(sqlAny > 0 && sqlAny < n, s"want a mix of valid and invalid rows: $sqlAny of $n")

    val fc = ConstraintCompiler.failCounts(table300, wide300.suite).collect()
    assert(fc.map(_.getString(0)).toSeq == wide300.failSql.map(_._1), "ids in suite order")
    assert(fc.forall(_.getLong(2) == n))
    assert(fc.map(r => r.getString(0) -> r.getLong(1)).toMap == sqlFails)

    val viol = ConstraintCompiler.violations(table300, wide300.suite, keyField = "id", partField = "grp")
      .groupBy("constraint_id").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viol == sqlFails.filter(_._2 > 0))
    assert(viol.values.sum == sqlFails.values.sum)

    assert(validCount(table300, wide300.suite) == n - sqlAny)
  }

  test("300 constraints: every violation's json_path and schema_path come from its constraint") {
    val expected = wide300.suite.constraints.map(fc =>
      fc.id -> (s"$$.${fc.field}", ConstraintCompiler.schemaPathOf(fc))).toMap
    val got = ConstraintCompiler.violations(table300, wide300.suite, keyField = "id", partField = "grp")
      .select("constraint_id", "json_path", "schema_path", "message", "observed").distinct().collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val id = r.getString(0)
      assert((r.getString(1), r.getString(2)) == expected(id), s"paths of $id")
      assert(r.getString(3) == s"$id failed at ${r.getString(1)}: observed ${r.getString(4)}")
    }
  }

  test("withVerdicts: the analyzed plan has as many Projects at 10 constraints as at 300") {
    def projects(df: DataFrame, s: Suite) =
      ConstraintCompiler.withVerdicts(df, s).queryExecution.analyzed.collect { case p: Project => p }.size
    assert(projects(table10, wide10.suite) == projects(table300, wide300.suite))
  }

  test("violations: the json_path lookup is as large at 10 constraints as at 300") {
    def jsonPathSize(df: DataFrame, s: Suite): Int = {
      val plan = ConstraintCompiler.violations(df, s, keyField = "id", partField = "grp")
        .queryExecution.optimizedPlan
      val lookups = plan.flatMap(_.expressions.flatMap(_.collect {
        case a: Alias if a.name == "json_path" => a.child
      }))
      assert(lookups.nonEmpty, plan.toString)
      lookups.map((e: Expression) => e.collect { case x => x }.size).max
    }
    assert(jsonPathSize(table10, wide10.suite) == jsonPathSize(table300, wide300.suite))
  }

  test("600 constraints: withVerdicts row_valid on a 1 MB-stack thread equals plain SQL") {
    val df = wideTable(120, 300, 21L)
    val w = wideSuite(120, 22L)
    val (_, sqlAny, n) = sqlCounts(df, w)
    var got: Either[Throwable, Long] = Left(new IllegalStateException("thread did not run"))
    val t = new Thread(null, () => got =
      try Right(validCount(df, w.suite)) catch { case e: Throwable => Left(e) }, "wide", 1L << 20)
    t.start(); t.join()
    assert(got == Right(n - sqlAny))
  }

  test("ids with quote, backslash, backtick, comma, paren and dot round-trip through all three faces") {
    val ids = Seq("c000.o'brien", "c000.back\\slash", "c001.tick`ed", "c001.a,b", "c002.x)y", "c002.d.o.t")
    val s = Suite("odd-ids", ids.map(id => FieldConstraint(id, id.takeWhile(_ != '.'), Maximum(500))))
    val df = wideTable(3, 200, 31L)
    val sqlFails = ids.map { id =>
      val c = id.takeWhile(_ != '.')
      id -> df.filter(col(c) > 500).count()
    }.toMap
    val fc = ConstraintCompiler.failCounts(df, s).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fc == sqlFails)
    val viol = ConstraintCompiler.violations(df, s, keyField = "id", partField = "grp")
      .groupBy("constraint_id").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viol == sqlFails)
    val v = ConstraintCompiler.withVerdicts(df, s)
    assert(ids.forall(v.columns.contains))
    ids.foreach { id =>
      assert(v.filter(!col(s"`${id.replace("`", "``")}`")).count() == sqlFails(id), id)
    }
  }

  test("a repeated constraint id is rejected by every face") {
    val s = Suite("dup", Seq(
      FieldConstraint("c000.bound", "c000", Minimum(100)),
      FieldConstraint("c001.maximum", "c001", Maximum(900)),
      FieldConstraint("c000.bound", "c000", Maximum(900))))
    val df = wideTable(2, 10, 41L)
    val faces: Seq[(String, () => Any)] = Seq(
      "failCounts" -> (() => ConstraintCompiler.failCounts(df, s)),
      "violations" -> (() => ConstraintCompiler.violations(df, s)),
      "withVerdicts" -> (() => ConstraintCompiler.withVerdicts(df, s)),
      "checksColumn" -> (() => ConstraintCompiler.checksColumn(s)))
    faces.foreach { case (name, face) =>
      val e = intercept[IllegalArgumentException](face())
      assert(e.getMessage.contains("c000.bound"), s"$name: ${e.getMessage}")
    }
  }
}
