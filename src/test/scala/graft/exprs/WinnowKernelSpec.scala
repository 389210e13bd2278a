package graft.exprs

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.ops.TextOps

/** The codegen'd winnowing kernel: exact equivalence with the HOF oracle
  * pipeline it replaced (values AND first-occurrence order), edge cases the
  * fixture can't hit (unicode, whitespace runs, short/empty docs), the
  * codegen pin, and the plan-shape regression the kernel exists to fix. */
class WinnowKernelSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val documents =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()

  private def compare(df: org.apache.spark.sql.DataFrame, text: String,
                      k: Int, w: Int): Unit = {
    val both = WinnowKernelSpec.winnowedFingerprintsHof(df, col(text), "hof", k, w)
      .withColumn("kernel", TextOps.winnowedFingerprints(col(text), k, w))
    val rows = both.select(col(text), col("hof"), col("kernel")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](2) === r.getSeq[Long](1),
        s"kernel != HOF for <${r.get(0)}> (k=$k, w=$w)")
    }
  }

  test("kernel equals the HOF oracle on the documents fixture, several (k,w)") {
    for ((k, w) <- Seq((8, 4), (5, 1), (2, 9), (12, 3)))
      compare(documents.select(col("text")), "text", k, w)
  }

  test("kernel equals the HOF oracle on adversarial edge-case strings") {
    val edge = Seq(
      "",                          // empty → hash of ""
      "   ",                       // spaces only → trim to ""
      "a",                         // shorter than k
      "ab",                        // == smallest k boundary
      "short",                     // < default k
      "exactly8",                  // == k: one gram
      "exactly8+",                 // k+1: two grams
      " \t leading and\ttabs\n and newlines \r\n collapsed ",
      "UPPER lower MiXeD CaSe",
      "Straße İstanbul ΣΟΦΟΣ œuf", // non-ASCII lowercasing
      "日本語のテキストです。マルチバイト文字。", // multi-byte code points
      "aaaaaaaaaaaaaaaaaaaaaaaa",  // degenerate: all grams identical
      "ab" * 40,                   // periodic text: heavy dedup
      "x y " + ("z" * 3) + "  double  spaces   everywhere")
      .toDF("text")
    for ((k, w) <- Seq((8, 4), (3, 2), (2, 1)))
      compare(edge, "text", k, w)
  }

  test("null text yields null; type mismatch is rejected") {
    val df = spark.sql("SELECT cast(null as string) AS text")
    assert(df.select(TextOps.winnowedFingerprints(col("text"))).collect()(0).isNullAt(0))
    val err = intercept[Exception] {
      spark.range(1).select(TextOps.winnowedFingerprints(col("id"))).collect()
    }
    assert(err.getMessage.contains("winnow_fingerprints") ||
      err.getMessage.toLowerCase.contains("type"))
  }

  test("fingerprinting runs inside whole-stage codegen via the kernel") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val cg = try {
      val df = documents.select(col("doc_id"), col("text"))
        .withColumn("fps", TextOps.winnowedFingerprints(col("text")))
        .select(col("doc_id"), explode(col("fps")).as("f"))
      import org.apache.spark.sql.execution.debug._
      codegenString(df.queryExecution.executedPlan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(cg.contains("WinnowKernel"), s"kernel call missing from codegen:\n$cg")
  }

  test("explode + self-join of fingerprints stays fast (the 315 s regression)") {
    // pre-kernel, this shape re-inlined the whole HOF tree per element and
    // took minutes for a few hundred docs; with the kernel it is sub-second
    val fps = documents.select(col("doc_id").as("key"), col("text"))
      .withColumn("fps", TextOps.winnowedFingerprints(col("text")))
      .select("key", "fps")
    val e = fps.select(col("key"), explode(col("fps")).as("f"))
    val t0 = System.nanoTime()
    val n = e.alias("l").join(e.alias("r"), "f")
      .filter(col("l.key") < col("r.key")).count()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(n > 0)
    assert(sec < 30.0, f"fingerprint explode+join took $sec%.1f s")
  }
}

object WinnowKernelSpec {
  import org.apache.spark.sql.{Column, DataFrame}

  /** The HOF pipeline the codegen'd kernel replaced — the equivalence
    * oracle. The intermediates must stay materialized as real attributes
    * (withColumn steps): referencing them from inside the next step's
    * lambda re-evaluates them PER ARRAY ELEMENT, and under Generate/join
    * plans the optimizer re-inlines the whole tree into consumers anyway
    * (measured: 315 s to explode 340 docs' fingerprints at sf0.01). */
  def winnowedFingerprintsHof(df: DataFrame, text: Column, out: String,
                              k: Int, w: Int): DataFrame = {
    require(k >= 2 && w >= 1, s"need k >= 2 and w >= 1, got k=$k w=$w")
    val normCol = "__wf_norm"; val gramsCol = "__wf_grams"
    df.withColumn(normCol, TextOps.normalizedText(text))
      // grams: for n < k the single window is substring(1, k) == the whole
      // short string, so no special-casing is needed
      .withColumn(gramsCol, transform(
        sequence(lit(1), greatest(length(col(normCol)) - (k - 1), lit(1))),
        i => xxhash64(substring(col(normCol), i, lit(k)))))
      .withColumn(out, array_distinct(transform(
        sequence(lit(1), greatest(size(col(gramsCol)) - (w - 1), lit(1))),
        j => array_min(slice(col(gramsCol), j, lit(w))))))
      .drop(normCol, gramsCol)
  }
}
