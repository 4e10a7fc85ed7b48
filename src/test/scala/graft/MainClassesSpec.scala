package graft

import java.lang.reflect.Modifier
import org.scalatest.funsuite.AnyFunSuite

/** Entry points that Bench and the README start by class name (via
  * spark-submit or runMain). A deleted or renamed one would otherwise
  * surface only when Bench runs.
  */
class MainClassesSpec extends AnyFunSuite {
  Seq("graft.ScaleRunner", "graft.Bench", "graft.Verify",
      "graft.run.ValidateJob", "graft.run.CurateJob", "graft.run.SuggestJob").foreach { name =>
    test(s"$name resolves by class name and has main(Array[String])") {
      val m = Class.forName(name).getMethod("main", classOf[Array[String]])
      assert(Modifier.isStatic(m.getModifiers) && Modifier.isPublic(m.getModifiers))
    }
  }
}
