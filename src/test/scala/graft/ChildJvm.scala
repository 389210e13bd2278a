package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

/** Runs a main class of this build in a child JVM with the test JVM's
  * classpath and module/system flags — for entry points that call
  * `sys.exit` or `spark.stop()`, which must never touch the shared
  * [[SparkTestSession]]. */
object ChildJvm {

  /** `java <test JVM flags> -Xmx<heap> -cp <test classpath> mainClass args`. */
  def command(mainClass: String, args: Seq[String], heap: String = "512m"): Seq[String] = {
    val flags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib"))
    val java = new File(System.getProperty("java.home"), "bin/java").getPath
    Seq(java, s"-Xmx$heap") ++ flags ++
      Seq("-cp", System.getProperty("java.class.path"), mainClass) ++ args
  }

  /** Runs `cmd` with stdin closed and stdout+stderr captured in `log`;
    * returns (exit code, output), or None when it outlives `timeoutMin`
    * (the process is killed). */
  def run(cmd: Seq[String], log: Path, timeoutMin: Long): Option[(Int, String)] = {
    val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
      .redirectInput(ProcessBuilder.Redirect.from(new File("/dev/null")))
      .redirectOutput(log.toFile).start()
    if (p.waitFor(timeoutMin, TimeUnit.MINUTES)) Some((p.exitValue(), Files.readString(log)))
    else { p.destroyForcibly().waitFor(); None }
  }
}
