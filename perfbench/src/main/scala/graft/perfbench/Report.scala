package graft.perfbench

/** Traced-run artifacts: every span (`spans.jsonl`) and the per-layer table
  * (`layers.tsv`, also printed to stderr) of self times and metrics. */
object Report {
  def write(dir: java.io.File, t: Tracer, metrics: Seq[(String, Double, String)]): Unit = {
    val spans = t.spans.toSeq
    val lines = spans.map { s =>
      Json.render(scala.collection.mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "job" -> s.job, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    java.nio.file.Files.writeString(new java.io.File(dir, "spans.jsonl").toPath,
      lines.mkString("", "\n", "\n"))

    // self time: a span's duration minus the part its children cover
    val children = spans.groupBy(_.parent)
    def self(s: Span): Double =
      s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum
    val table = new StringBuilder("span\tcount\tmedian_s\tmedian_self_s\ttotal_self_s\n")
    spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
      table ++= f"$name\t${ss.size}\t${Harness.median(ss.map(_.seconds))}%.6f\t" +
        f"${Harness.median(ss.map(self))}%.6f\t${ss.map(self).sum}%.6f\n"
    }
    table ++= "\nmetric\tvalue\tunit\n"
    metrics.foreach { case (n, v, u) => table ++= f"$n\t$v%.6g\t$u\n" }
    java.nio.file.Files.writeString(new java.io.File(dir, "layers.tsv").toPath, table.toString)
    System.err.print(table.toString)
  }
}
