package graft.engine

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.ChildJvm

/** The CLI's refusal and error paths that exit before a Spark session
  * starts: each case runs [[Main]] in a child JVM ([[graft.ChildJvm]]; Main
  * calls `sys.exit`) and pins the exit code and the stderr text. */
class MainCliSpec extends AnyFunSuite {

  /** (exit code, stdout+stderr) of `graft.engine.Main args`. */
  private def main(args: String*): (Int, String) = {
    val log = Files.createTempFile("graft-cli", ".log")
    ChildJvm.run(ChildJvm.command("graft.engine.Main", args), log, 2)
      .getOrElse(fail(s"Main ${args.mkString(" ")} did not exit within 2 min"))
  }

  private val input = "does-not-exist.parquet" // never read on these paths

  test("-e together with -E is refused with exit code 2") {
    val (exit, out) = main("-e", "@node", "-E", "expr.txt", input)
    assert(exit === 2, out)
    assert(out.contains("Do not use --expression/-e and --expression-file/-E together"), out)
  }

  test("stdin input with --checkpoint is refused with exit code 2") {
    val (exit, out) = main("-e", "@node", "--checkpoint", "ck", "-")
    assert(exit === 2, out)
    assert(out.contains("--checkpoint with stdin input ('-') is not supported"), out)
  }

  test("-w with --checkpoint is refused with exit code 2") {
    Seq("-w", "--complete-ways").foreach { flag =>
      val (exit, out) = main("-e", "highway == primary", flag, "--checkpoint", "ck", input)
      assert(exit === 2, s"$flag: $out")
      assert(out.contains("--complete-ways/-w with --checkpoint is not supported"), out)
    }
  }

  test("a bad --parts value is refused with exit code 2") {
    Seq("x", "0", "-3").foreach { v =>
      val (exit, out) = main("-e", "@node", "--checkpoint", "ck", "--parts", v, input)
      assert(exit === 2, s"--parts $v: $out")
      assert(out.contains(s"--parts needs a positive integer, got '$v'"), out)
    }
  }

  test("an unknown -f output format is refused with exit code 2") {
    val (exit, out) = main("-e", "@node", "-o", "out", "-f", "xml", input)
    assert(exit === 2, out)
    assert(out.contains("unsupported output format 'xml' (parquet|json|csv)"), out)
  }

  test("a parse error prints the expression with a caret under the error") {
    val (exit, out) = main("-e", "true ^", input)
    assert(exit === 1, out)
    val lines = out.linesIterator.toSeq
    val at = lines.indexOf("Error parsing filter expression:")
    assert(at >= 0, out)
    assert(lines(at + 1) === "true ^" && lines(at + 2) === " " * 5 + "^", out)
    val (exit2, out2) = main("-e", "(true", input)
    assert(exit2 === 1, out2)
    assert(out2.contains("ERROR: Expecting ')' here: \"\""), out2)
  }

  test("a never-match expression stops before any work") {
    val (exit, out) = main("-e", "@node and @way", input)
    assert(exit === 1, out)
    assert(out.contains("Filter expression can never match. Stopping."), out)
  }
}
