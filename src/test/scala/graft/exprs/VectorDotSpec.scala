package graft.exprs

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.ops.Similarity

/** The codegen'd vector kernel: bit-exact equivalence with the HOF oracle
  * forms it replaced, null/length-mismatch semantics, and the codegen pin
  * that keeps the embedding hot loop out of CodegenFallback. */
class VectorDotSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val embeddings =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  test("dot/norm are bit-identical to the HOF oracle on float embeddings") {
    val pairs = embeddings.select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(broadcast(embeddings.limit(5)
        .select(col("vec_id").as("qid"), col("embedding").as("b"))))
    val got = pairs.select(
      Similarity.dot(col("a"), col("b")).as("d"),
      VectorDotSpec.dotHof(col("a"), col("b")).as("d0"),
      Similarity.norm(col("a")).as("n"),
      VectorDotSpec.normHof(col("a")).as("n0")).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      // exact ==: the kernel must reproduce the float-multiply-then-widen
      // accumulation order, not just be numerically close
      assert(r.getDouble(0) === r.getDouble(1), "dot != HOF dot")
      assert(r.getDouble(2) === r.getDouble(3), "norm != HOF norm")
    }
  }

  test("dot against a double-literal plane matches the HOF promotion semantics") {
    val planes = Similarity.hyperplanes(dim = 64, bits = 3)
    val planeLit = array(planes(0).map(lit): _*)
    val got = embeddings.select(
      Similarity.dot(col("embedding"), planeLit).as("d"),
      VectorDotSpec.dotHof(col("embedding"), planeLit).as("d0")).collect()
    got.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
    // and the full signature column equals the pre-kernel formulation
    val hofSig = planes.zipWithIndex.map { case (p, i) =>
      when(VectorDotSpec.dotHof(col("embedding"), array(p.map(lit): _*)) > 0,
        shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    val sigs = embeddings.select(
      Similarity.lshSignature(col("embedding"), planes).as("s"),
      hofSig.as("s0")).collect()
    sigs.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("length mismatch and null elements yield null; empty arrays yield 0.0") {
    val df = Seq(
      (Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f)), // mismatch
      (Seq.empty[Float], Seq.empty[Float])       // both empty
    ).toDF("a", "b")
    val rows = df.select(Similarity.dot(col("a"), col("b")).as("d"),
      VectorDotSpec.dotHof(col("a"), col("b")).as("d0")).collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1), "mismatch must be null")
    assert(rows(1).getDouble(0) === 0.0 && rows(1).getDouble(1) === 0.0)
    val withNull = spark.sql(
      "SELECT array(cast(1.0 as float), cast(null as float)) a, " +
        "array(cast(2.0 as float), cast(3.0 as float)) b")
    assert(withNull.select(Similarity.dot(col("a"), col("b"))).collect()(0).isNullAt(0))
    // null input array → null (nullSafeEval default)
    val nullArr = spark.sql(
      "SELECT cast(null as array<float>) a, array(cast(1.0 as float)) b")
    assert(nullArr.select(Similarity.dot(col("a"), col("b"))).collect()(0).isNullAt(0))
  }

  test("brute top-k hot loop runs inside whole-stage codegen via the kernel") {
    val queries = embeddings.limit(3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    // AQE wraps subtrees in QueryStageExec nodes whose children are hidden
    // from the collect() traversal codegenString uses — plan this one query
    // non-adaptively so every WholeStageCodegen subtree is visible
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val cg = try {
      val df = Similarity.bruteTopK(embeddings, queries, 5)
      import org.apache.spark.sql.execution.debug._
      codegenString(df.queryExecution.executedPlan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(cg.contains("VecKernel"), s"kernel call missing from codegen:\n$cg")
    // CodegenFallback leaves `((Expression) references[i]).eval(...)` calls
    // in the generated code — the embedding math must not
    assert(!cg.contains("(Expression) references"),
      "CodegenFallback present in the brute top-k codegen")
  }
}

object VectorDotSpec {
  import org.apache.spark.sql.Column

  /** The HOF composition VectorDot replaces — the equivalence oracle
    * (CodegenFallback). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  def normHof(a: Column): Column =
    sqrt(aggregate(a, lit(0.0d), (acc, v) => acc + v * v))
}
