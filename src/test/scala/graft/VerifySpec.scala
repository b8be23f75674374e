package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.gates.{Gate, Gates, Tag}

/** Pins the r6 fix: a query whose construction throws must leave a visible
  * `<name>._ERROR.txt` marker in the verify output dir, never vanish. */
class VerifySpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("dumpQueries writes parquet for green queries and _ERROR.txt for broken ones") {
    val out = Files.createTempDirectory("graft_verify_spec").toString
    def g(name: String)(build: Gate.Build) = Gate(name, Set.empty, build, Some("SELECT 1"))
    val gates = Seq(
      g("ok_query")((s, _) => s.range(3).toDF("id")),
      g("broken_analysis")((s, _) =>
        // fails at construction, like the r6 events type mismatch
        s.range(3).toDF("id").selectExpr("id + no_such_col")),
      g("broken_throw")((_, _) => throw new IllegalStateException("boom")),
    )
    val errors = Verify.dumpQueries(spark, "/unused", out, gates)

    assert(Files.exists(Paths.get(out, "ok_query")), "green query must dump parquet")
    assert(!Files.exists(Paths.get(out, "ok_query._ERROR.txt")))
    assert(errors.keySet === Set("broken_analysis", "broken_throw"))
    Seq("broken_analysis", "broken_throw").foreach { n =>
      val marker = Paths.get(out, s"$n._ERROR.txt")
      assert(Files.exists(marker), s"$n must leave an _ERROR marker")
      assert(Files.readString(marker).nonEmpty)
    }
    assert(errors("broken_throw").contains("boom"))
  }

  test("every oracle key names a registered query (no orphaned oracle SQL)") {
    // A gate is one value, so no oracle can outlive its build. What is left
    // to pin: every gate but a bench-only row carries an oracle (r11: the
    // last rows-only queries became property-verdict rows), and a
    // bench-only row carries none, so Verify never dumps it.
    val (benchOnly, checked) = Gates.all.partition(_.tags(Tag.BenchOnly))
    assert(checked.filter(_.oracle.isEmpty).map(_.name).isEmpty)
    assert(benchOnly.filter(_.oracle.isDefined).map(_.name).isEmpty)
    assert(Gates.checked === checked)
    assert(checked.size === 205)
  }
}
