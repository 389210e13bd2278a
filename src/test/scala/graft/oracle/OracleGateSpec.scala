package graft.oracle

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.{ChildJvm, SparkEntry}

/** The DuckDB oracle gates inside the test suite: `graft.Verify` dumps every
  * `SparkEntry.queries` result at sf=0.001, then `tools/check_oracle.py`
  * re-derives each from `oracleSql` and compares value hashes. Verify calls
  * `spark.stop()`, so it runs in a child JVM ([[graft.ChildJvm]]). */
class OracleGateSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"
  private val GatesLine = """GATES: (\d+)/(\d+) hash-verified, (-?\d+) rows-only""".r
  private val GateTime = """\[verify\] (\S+) ok in ([\d.]+) s""".r

  /** Runs `cmd` to completion with stdout+stderr captured; returns (exit, output). */
  private def run(cmd: Seq[String], log: Path, timeoutMin: Long): (Int, String) =
    ChildJvm.run(cmd, log, timeoutMin).getOrElse(
      fail(s"timed out after $timeoutMin min: ${cmd.mkString(" ")}\n${Files.readString(log)}"))

  test("graft.Verify output passes every DuckDB oracle gate at sf0.001") {
    val tmp = Files.createTempDirectory("graft-gates")
    val out = tmp.resolve("out").toString
    val (vExit, vLog) = run(ChildJvm.command("graft.Verify", Seq(sfDir, out), heap = "2g"),
      tmp.resolve("verify.log"), 20)
    assert(vExit === 0, s"graft.Verify failed:\n$vLog")
    // the slowest gates, so a gate-cost regression shows in the test output
    vLog.linesIterator.collect { case GateTime(name, s) => (name, s.toDouble) }
      .toSeq.sortBy(-_._2).take(5)
      .foreach { case (name, s) => info(f"slow gate: $name $s%.1f s") }

    val (cExit, cLog) = run(Seq("python3", "tools/check_oracle.py", sfDir, out),
      tmp.resolve("check.log"), 10)
    assert(cExit === 0, s"check_oracle.py failed:\n$cLog")
    val gates = cLog.linesIterator.collectFirst { case l @ GatesLine(ok, total, rowsOnly) =>
      info(l)
      (ok.toInt, total.toInt, rowsOnly.toInt)
    }.getOrElse(fail(s"no GATES line in:\n$cLog"))
    assert(gates === ((SparkEntry.oracleSql.size, SparkEntry.oracleSql.size, 0)),
      s"(hash-verified, total, rows-only) — expected every oracleSql gate to pass:\n$cLog")
  }
}
