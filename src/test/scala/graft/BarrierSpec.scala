package graft

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.{CollectMetricsExec, FilterExec, GenerateExec, InputAdapter,
  ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.compilex.ConstraintCompiler
import graft.gen.TokenData
import graft.suite.{FieldConstraint, NorthStar, Suite}
import graft.suite.Constraint.MinLength

/** The optimizer barrier (compilex.Barrier): separately built barrier'd
  * frames compose into one plan, and the barrier still keeps the
  * checks-array chain out of the violations Generate.
  */
class BarrierSpec extends SparkSpec {

  private lazy val toks = TokenData.tokenTable(spark, 3000, 4)
  private val oneConstraint =
    Suite("one", Seq(FieldConstraint("doc_id.minLength", "doc_id", MinLength(5))))

  test("violations frames compiled from two suites union into one plan") {
    val a = ConstraintCompiler.violations(toks, NorthStar.suite, fusedIntArrays = Set("tokens"))
    val b = ConstraintCompiler.violations(toks, oneConstraint)
    val (na, nb) = (a.count(), b.count())
    assert(na > 0 && nb > 0)
    assert(a.union(b).count() === na + nb)
  }

  test("ngBase frames over two inputs union into one plan") {
    import spark.implicits._
    def docsDir(n: Int): String = {
      val d = java.nio.file.Files.createTempDirectory("graft-docs").toString
      (1 to n).map(i => (i.toLong, s"doc $i " + (1 to 12).map(w => s"w$w").mkString(" "), "web"))
        .toDF("doc_id", "text", "source").write.parquet(s"$d/documents.parquet")
      d
    }
    val a = PipelineQueries.ngBase(spark, docsDir(3))
    val b = PipelineQueries.ngBase(spark, docsDir(5))
    assert(a.union(b).count() === 8L)
  }

  test("violations: the Generate explodes a plain attribute above the CollectMetrics node") {
    val q = ConstraintCompiler.violations(toks, NorthStar.suite, fusedIntArrays = Set("tokens"))
    val plan = q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    // nodes between the Generate and the barrier that add no columns
    def skip(p: SparkPlan): SparkPlan = p match {
      case w: WholeStageCodegenExec => skip(w.child)
      case i: InputAdapter          => skip(i.child)
      case f: FilterExec            => skip(f.child)
      case pr: ProjectExec if pr.projectList.forall(_.isInstanceOf[Attribute]) => skip(pr.child)
      case other                    => other
    }
    val gens = plan.collect { case g: GenerateExec => g }
    assert(gens.size === 1, plan)
    val g = gens.head
    assert(g.generator.children.forall(_.isInstanceOf[Attribute]),
      s"checks chain collapsed into the Generate:\n$plan")
    assert(skip(g.child).isInstanceOf[CollectMetricsExec],
      s"the Generate's child must be attributes over CollectMetrics:\n$plan")
  }
}
