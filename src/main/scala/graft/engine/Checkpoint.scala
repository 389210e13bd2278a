package graft.engine

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-partition checkpointing with lineage + row-count metrics and mid-job
  * resume (north rule; SURVEY.md §7.5).
  *
  * A checkpointed stage splits the input into `parts` stable hash buckets of
  * `doc_id`; each bucket's output lands under `<root>/<job>/part=<p>/` with
  * a JSON manifest recording the lineage key (input fingerprint + predicate
  * hash), rows in/out, and wall time. Re-running the same job resumes: a
  * bucket whose manifest matches the lineage key is skipped and its
  * committed output is reused; only missing/invalid buckets recompute. The
  * manifest chain doubles as the bench's row-count evidence.
  *
  * Scale notes: all pending buckets of a run are computed in ONE pass over
  * the input (a single partitionBy("__part") write with dynamic partition
  * overwrite + observe() row counts), never one full scan per bucket — at
  * 100 TB that is the difference between 1 scan and `parts` scans. Bucket
  * count is the resume granularity (manifests commit per bucket after the
  * batch job commits, so a preemption loses only the batch in flight), not
  * the parallelism — the batch job still fans out to all executors.
  * Manifests are tiny JSON files next to the data, like a minimal
  * Iceberg-style snapshot layout.
  */
object Checkpoint {

  final case class Manifest(job: String, part: Int, lineage: String,
                            rowsIn: Long, rowsOut: Long, wallMs: Long)

  private def manifestPath(root: String, job: String, p: Int): Path =
    Paths.get(root, job, f"part=$p%05d", "_manifest.json")

  private def dataPath(root: String, job: String, p: Int): String =
    s"$root/$job/data/__part=$p"

  private def writeManifest(m: Manifest, root: String): Unit = {
    val p = manifestPath(root, m.job, m.part)
    Files.createDirectories(p.getParent)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("job", m.job); node.put("part", m.part)
    node.put("lineage", m.lineage); node.put("rows_in", m.rowsIn)
    node.put("rows_out", m.rowsOut); node.put("wall_ms", m.wallMs)
    Files.writeString(p, mapper.writeValueAsString(node))
  }

  /** Real JSON parsing (Jackson, already on the Spark classpath) — field
    * order, extra whitespace, and string escaping are all irrelevant, unlike
    * the original split-on-key reader which silently mis-parsed on reorder. */
  def readManifest(root: String, job: String, p: Int): Option[Manifest] = {
    val path = manifestPath(root, job, p)
    if (!Files.exists(path)) None
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readString(path))
      Some(Manifest(job, node.get("part").asInt(), node.get("lineage").asText(),
        node.get("rows_in").asLong(), node.get("rows_out").asLong(),
        node.get("wall_ms").asLong()))
    }
  }

  /** Lineage key: identifies (input snapshot, predicate, partitioning). */
  def lineageKey(inputFingerprint: String, predicate: String, parts: Int): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(s"$inputFingerprint|$predicate|$parts".getBytes("UTF-8"))
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  /** Runs (or resumes) a checkpointed OFL filter over the docs table.
    * Returns the complete filtered result read from committed outputs, plus
    * the manifests. Buckets without a manifest of this lineage are computed
    * (a preempted run leaves its batch manifest-less; the next call
    * resumes). */
  def filterJob(spark: SparkSession, docs: DataFrame, expression: String,
                root: String, job: String, parts: Int = 8,
                inputFingerprint: String = "",
                idLoader: graft.compile.Compiler.IdListLoader =
                  graft.compile.Compiler.noFiles,
                sugar: Boolean = false): (DataFrame, Seq[Manifest]) = {
    require(parts >= 1, s"parts must be >= 1, got $parts")
    val ast = graft.ofl.Parser.parse(expression, sugar)
    // the expression text names id-list FILES; their CONTENTS are part of
    // the lineage — otherwise editing the file and resuming would silently
    // reuse stale committed parts
    def listFiles(x: Any): Seq[String] = x match {
      case graft.ofl.InIntList(_, _, _, Some(f)) => Seq(f)
      case p: Product => p.productIterator.flatMap(listFiles).toSeq
      case i: Iterable[_] => i.flatMap(listFiles).toSeq
      case _ => Seq.empty
    }
    val fileFp = listFiles(ast).distinct.sorted.map { f =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      idLoader(f).toSeq.sorted.foreach(v => md.update(v.toString.getBytes))
      f + "=" + md.digest().take(8).map(b => f"$b%02x").mkString
    }.mkString(",")
    // "layout=v2": the on-disk data layout (data/__part=N, single-pass
    // write) is part of the lineage — manifests committed by the old
    // per-bucket layout must invalidate so resume recomputes into the new
    // layout instead of failing to read paths that no longer exist.
    // The predicate component hashes the CANONICAL PARSED TREE (via the
    // LOSSLESS round-trip renderer — the golden pretty-printer truncates
    // long value lists, which would collide distinct predicates), not the
    // source text: the same text means different filters in default vs
    // extended-syntax mode (and comment/whitespace changes don't
    // invalidate).
    val lineage = lineageKey(s"$inputFingerprint|$fileFp|layout=v2",
      graft.ofl.Unparse(ast), parts)
    val pred = graft.compile.Compiler.compileEffective(ast, idLoader)
    val view = graft.model.OsmView.derive(docs)
      .withColumn("__part", pmod(xxhash64(col("doc_id")), lit(parts)))

    // ONE pass over the input for all pending buckets (not one full scan per
    // bucket): write partitioned by __part with dynamic partition overwrite
    // (only the pending partitions are replaced; committed ones are never
    // touched), and take rows-in/rows-out per bucket from two observe()
    // points on the same job instead of extra count() scans. Commit
    // granularity is this run's batch: manifests are written only after the
    // job commits, so a preempted run loses at most one batch and the next
    // invocation recomputes exactly the manifest-less buckets.
    val committed: Map[Int, Manifest] = (0 until parts)
      .flatMap(p => readManifest(root, job, p).filter(_.lineage == lineage)
        .map(p -> _)).toMap
    val pending = (0 until parts).filterNot(committed.contains)
    val fresh: Map[Int, Manifest] =
      if (pending.isEmpty) Map.empty
      else {
        val t0 = System.nanoTime()
        def perPart(p: Int) = count(when(col("__part") === p, 1)).as(s"p$p")
        val inObs = org.apache.spark.sql.Observation()
        val outObs = org.apache.spark.sql.Observation()
        view.filter(col("__part").isin(pending.map(_.toLong): _*))
          .observe(inObs, perPart(pending.head), pending.tail.map(perPart): _*)
          .filter(pred)
          .observe(outObs, perPart(pending.head), pending.tail.map(perPart): _*)
          .select(col("doc_id"), col("spans"), col("type"), col("seq"), col("__part"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("__part")
          .parquet(s"$root/$job/data")
        val wallMs = (System.nanoTime() - t0) / 1000000
        val ins = inObs.get; val outs = outObs.get
        // dynamic overwrite materializes nothing for a bucket whose output
        // is empty, which would leave a PREVIOUS lineage's files in that
        // partition directory — clear them so the durable dataset under
        // data/ never mixes predicates for external readers
        pending.filter(p => outs(s"p$p").asInstanceOf[Long] == 0L).foreach { p =>
          val path = new org.apache.hadoop.fs.Path(dataPath(root, job, p))
          // resolve the FS from the path itself, not fs.defaultFS — the
          // checkpoint root may live on a different filesystem
          val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.delete(path, true)
        }
        pending.map { p =>
          // wall time is the shared batch wall clock (one job for the batch)
          val m = Manifest(job, p, lineage, ins(s"p$p").asInstanceOf[Long],
            outs(s"p$p").asInstanceOf[Long], wallMs)
          writeManifest(m, root)
          p -> m
        }.toMap
      }

    val manifests = (0 until parts).map { p =>
      fresh.get(p).orElse(committed.get(p))
        .getOrElse(Manifest(job, p, "PENDING", -1, -1, -1))
    }

    // zero-output buckets have a manifest but no partition directory
    // (dynamic overwrite writes nothing for them) — skip them on read
    val done = manifests.filter(m => m.lineage == lineage && m.rowsOut > 0)
    val empty = view.filter(lit(false))
      .select("doc_id", "spans", "type", "seq") // schema'd empty result
    val result =
      if (done.isEmpty) empty
      else done.map(m => spark.read.parquet(dataPath(root, job, m.part)))
        .reduce(_ unionByName _)
    (result, manifests)
  }
}
