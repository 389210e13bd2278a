package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.fixtures.DeterministicGen

/** Checkpoint/resume semantics: interrupted runs resume from committed
  * partition manifests; lineage changes invalidate; row-count metrics are
  * conserved. */
class CheckpointSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private lazy val docs = DeterministicGen.docsDF(spark, 0.001).cache()
  private val expr = "highway == residential or @closed_way"

  test("interrupted run resumes: only pending buckets recompute, result equals plain filter") {
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt").toString

    // run 1: all 8 buckets in one batch
    val (_, m1) = Checkpoint.filterJob(spark, docs, expr, root, "j1",
      parts = 8, inputFingerprint = "fixture-0.001")
    assert(m1.forall(_.lineage != "PENDING"))

    // simulate preemption: a run that never committed buckets 1, 4, 5, 6, 7
    // leaves neither their manifests nor their data behind
    val lost = Set(1, 4, 5, 6, 7)
    lost.foreach { p =>
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(root, "j1", f"part=$p%05d", "_manifest.json"))
      val data = new java.io.File(s"$root/j1/data/__part=$p")
      if (data.exists()) org.apache.commons.io.FileUtils.deleteDirectory(data)
    }

    // run 2: resume — recomputes the lost buckets, not the committed ones
    val (result, m2) = Checkpoint.filterJob(spark, docs, expr, root, "j1",
      parts = 8, inputFingerprint = "fixture-0.001")
    assert(m2.forall(_.lineage != "PENDING"))
    m1.filterNot(m => lost(m.part)).foreach { m =>
      assert(m2.find(_.part == m.part).get === m, "committed manifest untouched")
    }

    val expected = FilterEngine.filter(docs, expr)
      .select("doc_id").collect().map(_.getString(0)).toSet
    val got = result.select("doc_id").collect().map(_.getString(0)).toSet
    assert(got === expected)

    // row-count conservation: sum(rows_in) = input size, sum(rows_out) = |result|
    assert(m2.map(_.rowsIn).sum === docs.count())
    assert(m2.map(_.rowsOut).sum === expected.size.toLong)

    // single-pass evidence: each run computes its whole pending batch in ONE
    // job, so manifests within a batch share the batch wall clock
    assert(m1.map(_.wallMs).distinct.size === 1)
    assert(m2.filter(m => lost(m.part)).map(_.wallMs).distinct.size === 1)
  }

  test("changed predicate or input fingerprint invalidates committed buckets") {
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
    val (_, m1) = Checkpoint.filterJob(spark, docs, expr, root, "j2",
      parts = 4, inputFingerprint = "fp-a")
    val l1 = m1.head.lineage
    // same job id, different predicate → different lineage → recompute
    val (_, m2) = Checkpoint.filterJob(spark, docs, "@relation", root, "j2",
      parts = 4, inputFingerprint = "fp-a")
    assert(m2.head.lineage !== l1)
    // different input fingerprint → recompute too
    val (_, m3) = Checkpoint.filterJob(spark, docs, "@relation", root, "j2",
      parts = 4, inputFingerprint = "fp-b")
    assert(m3.head.lineage !== m2.head.lineage)
  }

  test("inline id lists beyond the pretty-print truncation still distinguish lineages") {
    // the golden pretty-printer truncates VALUES[…] to 5 entries; the
    // lineage must hash the LOSSLESS rendering or these two collide
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt4").toString
    val (_, m1) = Checkpoint.filterJob(spark, docs, "@id in (1,2,3,4,5,6)",
      root, "j4", parts = 2, inputFingerprint = "fp")
    val (_, m2) = Checkpoint.filterJob(spark, docs, "@id in (1,2,3,4,5,999999)",
      root, "j4", parts = 2, inputFingerprint = "fp")
    assert(m1.head.lineage !== m2.head.lineage)
  }

  test("manifest reader is a real JSON parser: reordered fields round-trip") {
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt5").toString
    val (_, m1) = Checkpoint.filterJob(spark, docs, expr, root, "j5",
      parts = 2, inputFingerprint = "fp")
    val written = Checkpoint.readManifest(root, "j5", 0).get
    assert(written === m1.head)
    // rewrite the manifest with fields in a DIFFERENT order (and extra
    // whitespace): a string-split reader mis-parses this; JSON must not care
    val p = java.nio.file.Paths.get(root, "j5", "part=00000", "_manifest.json")
    java.nio.file.Files.writeString(p,
      s"""{ "wall_ms": ${written.wallMs}, "rows_out": ${written.rowsOut},
         |  "lineage": "${written.lineage}", "rows_in": ${written.rowsIn},
         |  "part": 0, "job": "j5" }""".stripMargin)
    assert(Checkpoint.readManifest(root, "j5", 0).get === written)
    // and resume still treats the reordered manifest as committed
    val (_, m2) = Checkpoint.filterJob(spark, docs, expr, root, "j5",
      parts = 2, inputFingerprint = "fp")
    assert(m2.head.wallMs === written.wallMs, "bucket 0 not recomputed")
  }

  test("editing an id-list file invalidates the lineage on resume") {
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt3").toString
    val f = java.nio.file.Files.createTempFile("graft-ckpt-ids", ".txt")
    f.toFile.deleteOnExit()
    java.nio.file.Files.writeString(f, "1 2 3")
    val loader = graft.compile.Compiler.fileLoader(_ => f)
    val (r1, m1) = Checkpoint.filterJob(spark, docs, "@id in (<'ids')", root, "j3",
      parts = 2, inputFingerprint = "fp", idLoader = loader)
    val n1 = r1.count()
    // same command, edited file contents → different lineage → recompute
    java.nio.file.Files.writeString(f, "1 2 3 4 5 6 7 8 9 10 11 12")
    val (r2, m2) = Checkpoint.filterJob(spark, docs, "@id in (<'ids')", root, "j3",
      parts = 2, inputFingerprint = "fp", idLoader = loader)
    assert(m2.head.lineage !== m1.head.lineage)
    assert(r2.count() > n1, "resumed output must reflect the new id list")
  }
}
