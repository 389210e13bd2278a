package graft.oracle

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

/** The DuckDB oracle gates inside the test suite: `graft.Verify` dumps every
  * `SparkEntry.queries` result at sf=0.001, then `tools/check_oracle.py`
  * re-derives each from `oracleSql` and compares value hashes. Verify calls
  * `spark.stop()`, so it runs in a child JVM (this JVM's classpath and
  * module flags) and never touches the shared [[graft.SparkTestSession]]. */
class OracleGateSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"
  private val GatesLine = """GATES: (\d+)/(\d+) hash-verified, (-?\d+) rows-only""".r

  /** Runs `cmd` to completion with stdout+stderr captured; returns (exit, output). */
  private def run(cmd: Seq[String], log: Path, timeoutMin: Long): (Int, String) = {
    val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
      .redirectOutput(log.toFile).start()
    if (!p.waitFor(timeoutMin, TimeUnit.MINUTES)) {
      p.destroyForcibly().waitFor()
      fail(s"timed out after $timeoutMin min: ${cmd.mkString(" ")}\n${Files.readString(log)}")
    }
    (p.exitValue(), Files.readString(log))
  }

  test("graft.Verify output passes every DuckDB oracle gate at sf0.001") {
    val tmp = Files.createTempDirectory("graft-gates")
    val out = tmp.resolve("out").toString
    val jvmFlags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib"))
    val javaBin = new File(System.getProperty("java.home"), "bin/java").getPath
    val (vExit, vLog) = run(
      Seq(javaBin, "-Xmx2g") ++ jvmFlags ++
        Seq("-cp", System.getProperty("java.class.path"), "graft.Verify", sfDir, out),
      tmp.resolve("verify.log"), 20)
    assert(vExit === 0, s"graft.Verify failed:\n$vLog")

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
