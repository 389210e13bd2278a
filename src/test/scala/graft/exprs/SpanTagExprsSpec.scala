package graft.exprs

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.compile.Compiler
import graft.fixtures.DeterministicGen
import graft.model.OsmView
import graft.ofl.Parser

/** Parity pins for the span-fused tag predicates: every tag filter over the
  * pruned span-decode view must return the same rows whether the
  * SpanPredicateFuse rule is installed or not, the rule must actually fire
  * (fused kernels visible in the optimized plan), and edge shapes ('='-free
  * guard, value-less tags, absent keys) must match the decode path. */
class SpanTagExprsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // parquet-backed: a LocalRelation would be constant-folded before the
  // extra optimizer rule could leave a visible fused kernel in the plan
  private lazy val docs = {
    val dir = java.nio.file.Files.createTempDirectory("graft-spantag").toString
    DeterministicGen.docsDF(spark, 0.001).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private val exprs = Seq(
    "highway == residential",
    "highway != residential",
    "highway =~ '_link$'",
    "highway", // has-key
    "not (highway or building or landuse)",
    "name =~ '(?i)platz'",
    "nosuchkey == v")

  test("fused tag predicates return identical rows to the decode path") {
    val view = OsmView.derive(docs) // installs the rule
    exprs.foreach { src =>
      val pred = Compiler.compileEffective(Parser.parse(src))
      val fused = view.filter(pred)
      // rule installed: plan should carry the fused kernels for tag checks
      val optimized = fused.queryExecution.optimizedPlan.toString
      assert(optimized.contains("tag_lookup_spans") ||
        optimized.contains("tag_exists_spans"),
        s"rule did not fire for '$src':\n$optimized")
      val got = fused.select("doc_id").collect().map(_.getString(0)).sorted
      // reference: same predicate evaluated over the HOF derivation, where
      // tags is a plain projected array (the rule cannot match)
      val ref = OsmView.deriveHof(docs).filter(pred)
        .select("doc_id").collect().map(_.getString(0)).sorted
      assert(got.toSeq === ref.toSeq, s"row mismatch for '$src'")
    }
  }

  test("a key containing '=' stays on the decode path (guard)") {
    val view = OsmView.derive(docs)
    val pred = Compiler.compileEffective(Parser.parse("'a=b' == 'c'"))
    val plan = view.filter(pred).queryExecution.optimizedPlan.toString
    assert(!plan.contains("tag_lookup_spans"), plan)
    assert(view.filter(pred).count() === 0L)
  }

  test("a decode whose mask lacks tags is not fused (tags stay null)") {
    import org.apache.spark.sql.GraftBridge
    OsmView.derive(docs) // installs the rule
    val tags = GraftBridge.expression(GraftBridge.column(DecodeOsmSpans(
      GraftBridge.expression(col("spans")), SpanDecode.FId)).getField("tags"))
    val q = docs.select(
      GraftBridge.column(TagLookup(tags, "highway")).as("v"),
      GraftBridge.column(TagExists(tags, "highway")).as("e"))
    val plan = q.queryExecution.optimizedPlan.toString
    assert(!plan.contains("tag_lookup_spans") && !plan.contains("tag_exists_spans"), plan)
    val rows = q.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.isNullAt(0) && r.isNullAt(1)))
  }

  test("kernel semantics: value-less tag, first match, absent key") {
    import org.apache.spark.unsafe.types.UTF8String
    def spansOf(texts: String*) : org.apache.spark.sql.catalyst.util.ArrayData = {
      val rows = texts.map { t =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
          UTF8String.fromString("tag"), UTF8String.fromString(t),
          UTF8String.fromString(""), 0L))
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(rows.toArray)
    }
    val k = UTF8String.fromString("highway")
    assert(SpanTagKernel.lookup(spansOf("highway=a", "highway=b"), k).toString === "a")
    assert(SpanTagKernel.lookup(spansOf("highway"), k).toString === "")
    assert(SpanTagKernel.lookup(spansOf("highwayy=a"), k) === null)
    assert(SpanTagKernel.lookup(spansOf("highwa=a"), k) === null)
    assert(SpanTagKernel.exists(spansOf("name=x", "highway"), k))
    assert(!SpanTagKernel.exists(spansOf("name=x"), k))
  }
}
