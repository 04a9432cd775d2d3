package graft

import graft.functions.GraftExpressions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {
  private val ids = GraftExpressions.functions.map { case (n, _) => FunctionIdentifier(n) }

  // (builder, info) per name: a re-registration of the same builder still
  // swaps in a fresh ExpressionInfo, so comparing both catches it
  private def builders(s: SparkSession) = {
    val reg = s.sessionState.functionRegistry
    ids.map(id => id -> reg.lookupFunctionBuilder(id).zip(reg.lookupFunction(id)))
  }

  // getOrCreate returns the active session (ignoring extensions), so drop
  // the active/default references to force a genuinely new session whose
  // build path applies (or skips) the extensions; restore the shared one
  // after. The new session shares the test SparkContext: never stop it.
  private def withNewSession[T](b: SparkSession.Builder)(f: SparkSession => T): T = {
    val shared = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try f(b.getOrCreate())
    finally {
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }

  test("withExtensions sessions get graft_* functions in plain SQL") {
    withNewSession(SparkSession.builder().withExtensions(new GraftExtensions)) { s =>
      builders(s).foreach { case (id, b) => assert(b.isDefined, s"$id not injected") }
      val r = s.sql("SELECT graft_polyhash('abc') AS h").collect()(0).getLong(0)
      val expected = ((('a'.toLong * 31 + 'b') % 1000000007L) * 31 + 'c') % 1000000007L
      assert(r == expected)
      val d = s.sql(
        "SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
          "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d").collect()(0).getDouble(0)
      assert(d == 11.0)
      val di = s.sql(
        "SELECT graft_doti(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
        .collect()(0).getLong(0)
      assert(di == 32L)
      val sq = s.sql(
        "SELECT graft_sqdisti(array(1L, 2L), array(4L, 6L)) AS d")
        .collect()(0).getLong(0)
      assert(sq == 25L)
    }
  }

  test("a QueryDef run registers every graft_* function on a vanilla session, once") {
    withNewSession(SparkSession.builder()) { s =>
      builders(s).foreach { case (id, b) => assert(b.isEmpty, s"$id present before any run") }
      SparkEntry.entry(s)
      val first = builders(s)
      first.foreach { case (id, b) => assert(b.isDefined, s"$id not registered by the run") }
      GraftExpressions.ensureRegistered(s)
      builders(s).zip(first).foreach { case ((id, again), (_, before)) =>
        assert((again.get._1 eq before.get._1) && (again.get._2 eq before.get._2),
          s"$id was replaced by a second ensureRegistered")
      }
    }
  }
}
