package graft.spark

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Pre-commit smoke over the gate registry: EVERY SparkEntry.gates entry
  * must build and EXECUTE at sf0.001 without throwing. Without this spec
  * `sbt test` cannot see a gate query that crashes inside graft.Verify
  * (Verify logs the failure and moves on, so its output silently loses the
  * gate — exactly how the round-3 x37 file-vs-directory streaming
  * regression shipped). A crashing gate query now fails the suite.
  *
  * Correctness-vs-oracle is the DuckDB compare at sf0.01
  * (tools/oracle_check.py over a graft.Verify dump); this only pins "every
  * gate has an oracle, runs end to end and yields rows".
  */
class VerifySmokeSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def haveData = new java.io.File(s"$sfDir/documents.parquet").exists()

  test("every gate query has a matching oracle (or is a declared rows-only op)") {
    // No rows-only gates remain: every gate carries its oracle, and one
    // name maps to exactly one gate.
    val names = SparkEntry.gates.map(_.name)
    assert(names.distinct == names, s"duplicate gate names: ${names.diff(names.distinct)}")
    val noOracle = SparkEntry.gates.filter(g => g.oracleSql == null || g.oracleSql.trim.isEmpty)
    assert(noOracle.isEmpty, s"gates without oracle: ${noOracle.map(_.name).sorted}")
  }

  for (gate <- SparkEntry.gates.sortBy(_.name)) {
    test(s"gate query ${gate.name} executes at sf0.001") {
      assume(haveData, s"$sfDir not present")
      val df = gate.run(spark, sfDir)
      val n = df.count() // full execution, like Verify's parquet write
      assert(n >= 0)
    }
  }
}
