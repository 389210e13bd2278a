package graft.engine

import graft.compile.Compiler

/** spark-submit CLI mirroring the reference driver's surface
  * (src/main.cpp:32-57):
  *
  * {{{
  * spark-submit --class graft.engine.Main graft.jar \
  *   [-e EXPR | -E exprfile] [-o OUT] [-n] [-v] [-w|--complete-ways] \
  *   [--checkpoint ROOT --job NAME --parts N] INPUT
  * }}}
  *
  * -n dry-run parses+analyzes only; -v prints the golden expression tree and
  * entity mask (main.cpp:118-139). INPUT is a docs-table parquet path
  * (optionally type-partitioned); OUT is written in input order.
  */
object Main {

  def main(args: Array[String]): Unit = {
    var expression = ""
    var exprFile = ""
    var input = ""
    var output = ""
    var verbose = false
    var dryRun = false
    var completeWays = false
    var checkpointRoot = ""
    var jobName = "filter"
    var parts = 32
    var outputFormat = "parquet"
    var progress = false
    var sugar = false

    // usage errors exit 2 with one stderr line, before any Spark session
    def refuse(message: String): Nothing = {
      System.err.println(message)
      sys.exit(2)
    }
    def argValue(i: Int): String = {
      if (i + 1 >= args.length) refuse(s"Missing value for ${args(i)}")
      args(i + 1)
    }
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-e" | "--expression"      => expression = argValue(i); i += 2
        case "-E" | "--expression-file" => exprFile = argValue(i); i += 2
        case "-o" | "--output"          => output = argValue(i); i += 2
        case "-f" | "--output-format"   => outputFormat = argValue(i); i += 2
        case "--progress"               => progress = true; i += 1
        case "--extended-syntax"        => sugar = true; i += 1
        case "-v" | "--verbose"         => verbose = true; i += 1
        case "-n" | "--dry-run"         => dryRun = true; i += 1
        case "-w" | "--complete-ways"   => completeWays = true; i += 1
        case "--checkpoint"             => checkpointRoot = argValue(i); i += 2
        case "--job"                    => jobName = argValue(i); i += 2
        case "--parts" =>
          parts = argValue(i).toIntOption.filter(_ >= 1).getOrElse(
            refuse(s"--parts needs a positive integer, got '${args(i + 1)}'"))
          i += 2
        case "-h" | "--help" =>
          System.out.println(
            "graft-filter [OPTIONS] INPUT\n  INPUT: parquet docs path, or '-' = JSON-lines docs from stdin\n  -e EXPR | -E FILE, -o OUT ('-' = JSON lines to stdout), -f parquet|json|csv, -n dry-run, -v verbose, -w complete-ways, --progress, --extended-syntax, --checkpoint ROOT [--job NAME --parts N]")
          return
        case other => input = other; i += 1
      }
    }
    if (expression.nonEmpty && exprFile.nonEmpty)
      refuse("Do not use --expression/-e and --expression-file/-E together")
    if (!FilterEngine.OutputFormats.contains(outputFormat))
      refuse(s"unsupported output format '$outputFormat' (${FilterEngine.OutputFormats.mkString("|")})")
    // the reference defaults INPUT and OUTPUT to `-` (stdin/stdout,
    // main.cpp:59-61). `-o -` streams JSON-lines docs out; `-` as input
    // accepts the same stream back, so two graft filters compose in a shell
    // pipeline exactly like two osmium-filter processes. stdin is a byte
    // stream and Spark sources need seekable files, so the stream is
    // spooled to a driver-local temp file (64 KB copy buffer, bounded
    // memory) before the scan — the spool is the pipeline's natural
    // single-stream bottleneck, not a distributed path.
    if (input == "-" && checkpointRoot.nonEmpty)
      refuse("--checkpoint with stdin input ('-') is not supported: resume needs a re-readable input fingerprint; spool to a path first")
    // the checkpointed job is the bucketed single-pass filter; complete-ways
    // has no checkpointed form, so the pair is refused, not half-honored
    if (completeWays && checkpointRoot.nonEmpty)
      refuse("--complete-ways/-w with --checkpoint is not supported: the checkpointed job is a single-pass filter")
    if (exprFile.nonEmpty)
      expression = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(exprFile)), "UTF-8")

    val q = try FilterEngine.parse(expression, sugar) catch {
      case e: graft.ofl.OflParseException =>
        System.err.println("Error parsing filter expression:")
        System.err.println(e.input)
        if (e.pos >= 0) System.err.println(" " * e.pos + "^")
        // expectation diagnostic, reference on_error<fail> shape
        // (object_filter.cpp:310-317): ERROR: Expecting <rule> here: "<rest>"
        e.expecting.foreach { case (_, at) =>
          System.err.println(" " * math.min(at, e.input.length) + "^")
          System.err.println(e.getMessage)
        }
        sys.exit(1); return
    }

    if (q.neverMatches) {
      System.err.println("Filter expression can never match. Stopping.")
      sys.exit(1)
    }
    if (verbose) System.err.print(q.explain)
    if (dryRun) return

    val spark = FilterEngine.session(
      sys.env.getOrElse("SPARK_MASTER", "local[32]"))
    // live scan progress (reference ProgressBar, main.cpp:168-189): a
    // SparkListener ticking completed/total tasks per stage to stderr
    if (progress) spark.sparkContext.addSparkListener(new ProgressListener)
    val docs =
      if (input == "-") {
        // spool AFTER the dry-run/parse gates so `-n`/parse errors never
        // block on stdin
        val tmp = java.nio.file.Files.createTempFile("graft-stdin-", ".jsonl")
        tmp.toFile.deleteOnExit()
        java.nio.file.Files.copy(System.in, tmp,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        FilterEngine.readDocsJson(spark, tmp.toString)
      } else spark.read.parquet(input)
    val loader = Compiler.fileLoader(name => java.nio.file.Paths.get(name))
    val filtered =
      if (completeWays) FilterEngine.completeWays(docs, expression, loader, sugar)
      else if (checkpointRoot.nonEmpty) {
        val (df, manifests) = Checkpoint.filterJob(spark, docs, expression,
          checkpointRoot, jobName, parts, inputFingerprint = input,
          idLoader = loader, sugar = sugar)
        manifests.foreach(m => System.err.println(
          s"part=${m.part} rows_in=${m.rowsIn} rows_out=${m.rowsOut} wall_ms=${m.wallMs}"))
        df
      } else FilterEngine.filter(docs, expression, loader, sugar)

    // `-o -` pipes the result to stdout as seq-ordered JSON lines — the
    // shell-pipeline analog of the reference's stdout default; partitions
    // stream through the driver one at a time (toLocalIterator), so this
    // never collects the full result. Absent -o prints the count (documented
    // Spark-driver deviation: a row dump as the IMPLICIT default surprises
    // in spark-submit logs).
    if (output == "-")
      filtered.orderBy("seq").toJSON.toLocalIterator()
        .forEachRemaining(System.out.println(_))
    else if (output.nonEmpty) FilterEngine.writeOrdered(filtered, output, outputFormat)
    else System.out.println(filtered.count())
    if (progress) System.err.println()
    spark.stop()
  }
}

/** Live progress ticker — the Spark-native analog of the reference's
  * osmium::ProgressBar (main.cpp:168-189): one stderr line updated in place
  * with completed/total tasks of the currently running stage. */
private[engine] class ProgressListener
  extends org.apache.spark.scheduler.SparkListener {
  // per-stage counters: stages run CONCURRENTLY under AQE/joins, so a shared
  // counter pair would mix one stage's completions with another's total
  private val stages = scala.collection.mutable.Map.empty[Int, (Int, Int)]
  override def onStageSubmitted(
      s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
    synchronized { stages(s.stageInfo.stageId) = (0, s.stageInfo.numTasks) }
  override def onStageCompleted(
      s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
    synchronized { stages.remove(s.stageInfo.stageId) }
  override def onTaskEnd(
      t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
    synchronized {
      // ignore late/speculative task events for stages already completed —
      // resurrecting the entry would print d/0 and leak map entries; and only
      // SUCCESSFUL attempts count as progress (failed/killed/extra speculative
      // attempts would drive done past total, e.g. "12/10 tasks (120%)")
      if (t.reason == org.apache.spark.Success)
        stages.get(t.stageId).foreach { case (done, total) =>
          val d = math.min(done + 1, math.max(total, 1))
          stages(t.stageId) = (d, total)
          val pct = if (total == 0) 100 else d * 100 / total
          System.err.print(s"\rstage ${t.stageId}: $d/$total tasks ($pct%) ")
        }
    }
}
