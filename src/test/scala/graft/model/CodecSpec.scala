package graft.model

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.col
import graft.SparkTestSession
import graft.compile.Compiler
import graft.exprs.{DecodeOsmSpans, SpanDecode}
import graft.ofl.Parser
import graft.fixtures.DeterministicGen

/** Round-trip: OsmElement → spans → OsmView.derive must reproduce every
  * typed field and equal the HOF reference derivation (also on malformed
  * span arrays: null kinds, null payloads and member text without two '/'),
  * and the docs table must preserve the
  * span-sequence invariant (kind, text, media_ref, order). */
class CodecSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("typed view round-trips the generator elements (sf=0.001)") {
    val els = DeterministicGen.elements(0.001)
    val view = OsmView.derive(DeterministicGen.docsDF(spark, 0.001))
    val rows = view.collect().map(r => r.getAs[Long]("seq") -> r).toMap
    assert(rows.size === els.size)

    els.foreach { el =>
      val r = rows(el.seq)
      assert(r.getAs[String]("doc_id") === el.docId)
      assert(r.getAs[String]("type") === el.otype, el)
      assert(r.getAs[Long]("id") === el.id)
      assert(r.getAs[Long]("version") === el.version)
      assert(r.getAs[Boolean]("visible") === el.visible)
      assert(r.getAs[Long]("changeset") === el.changeset)
      assert(r.getAs[Long]("uid") === el.uid)
      assert(r.getAs[String]("user") === el.user)
      assert(r.getAs[String]("timestamp") === el.timestamp)
      val tags = r.getAs[scala.collection.Seq[Row]]("tags")
        .map(t => (t.getAs[String]("key"), t.getAs[String]("value"))).toVector
      assert(tags === el.tags, s"tags of ${el.docId}")
      assert(r.getAs[scala.collection.Seq[Long]]("nds").toVector === el.nds)
      val members = r.getAs[scala.collection.Seq[Row]]("members")
        .map(m => (m.getAs[String]("mtype"), m.getAs[Long]("ref"),
          m.getAs[String]("role"))).toVector
      assert(members === el.members, s"members of ${el.docId}")
      assert(r.getAs[scala.collection.Seq[String]]("media_refs").toVector === el.mediaRefs)
      el.lat match {
        case Some(v) => assert(math.abs(r.getAs[Double]("lat") - v) < 1e-7)
        case None    => assert(r.isNullAt(r.fieldIndex("lat")))
      }
    }
  }

  test("span-sequence equality survives a filter (rows selected, spans untouched)") {
    import org.apache.spark.sql.functions._
    val docs = DeterministicGen.docsDF(spark, 0.001)
    val filtered = docs.filter(col("type") === "way")
    val before = docs.filter(col("type") === "way")
      .select("doc_id", "spans").collect()
      .map(r => r.getString(0) -> r.getSeq[Row](1)).toMap
    filtered.select("doc_id", "spans").collect().foreach { r =>
      assert(r.getSeq[Row](1) === before(r.getString(0)))
    }
  }

  // parquet-backed: a LocalRelation would be constant-folded before the
  // extra optimizer rules run, so its plan would show no merged decode
  private lazy val docsPq = {
    val dir = java.nio.file.Files.createTempDirectory("graft-codec").toString
    DeterministicGen.docsDF(spark, 0.001).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    val ref = want.collect().map(r => r.getAs[Long]("seq") -> r).toMap
    val rows = got.collect()
    assert(rows.length === ref.size, what)
    rows.foreach { f =>
      val s = ref(f.getAs[Long]("seq"))
      s.schema.fieldNames.foreach { c =>
        assert(f.getAs[Any](c) === s.getAs[Any](c),
          s"$what: field $c of seq=${f.getAs[Long]("seq")}")
      }
    }
  }

  test("merged whole-view decode equals the HOF derivation") {
    val view = OsmView.derive(docsPq)
    assertSameRows(view, OsmView.deriveHof(docsPq), "whole view")
    // DecodeMerge leaves one decode of the spans column, with every view
    // field but the stored `type`, in the projection
    assert(CodecSpec.decodeMasks(view.queryExecution.optimizedPlan) ===
      Seq("Project" -> Set(SpanDecode.AllFields & ~SpanDecode.FType)),
      view.queryExecution.optimizedPlan)
  }

  test("per-field pruned decode equals the HOF derivation field-for-field") {
    val view = OsmView.derive(docsPq)
    SpanDecode.fieldBits.filter(_._1 != "type").foreach { case (c, bit) =>
      val one = view.select("seq", c)
      assertSameRows(one, OsmView.deriveHof(docsPq).select("seq", c), c)
      assert(CodecSpec.decodeMasks(one.queryExecution.optimizedPlan) ===
        Seq("Project" -> Set(bit)), c)
    }
  }

  test("derive equals the HOF derivation on malformed span arrays") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val numeric = Set("id", "version", "changeset", "uid", "lat", "lon")
    def headerText(kind: String): Gen[String] =
      if (numeric(kind)) Gen.choose(-1800000000L, 1800000000L).map(_.toString)
      else if (kind == "visible") Gen.oneOf("true", "false", "yes", "")
      else Gen.oneOf(Gen.alphaNumStr, Gen.oneOf("node", "way", "relation", "ü ß"))
    val header = for {
      kind <- Gen.oneOf("type", "id", "version", "visible", "changeset", "uid",
        "user", "timestamp", "lat", "lon")
      text <- Gen.frequency(4 -> headerText(kind), 1 -> Gen.const(null: String))
    } yield Span(kind, text, null, 0)
    val span: Gen[Span] = Gen.frequency(
      6 -> header,
      3 -> Gen.oneOf("highway=primary", "name", "a=b=c", "=", "", "k=", "=v",
        "ünï=cødé=x").map(Span("tag", _, null, 0)),
      1 -> Gen.choose(-100000L, 100000L).map(n => Span("nd", n.toString, null, 0)),
      1 -> Gen.oneOf("w/12/outer", "n/-3/", "r/0/a/b", "", "w", "w/12")
        .map(Span("member", _, null, 0)),
      1 -> Gen.const(Span("media", "", "media://7", 0)),
      1 -> Gen.oneOf("", "t", "ty", "tags", "i", "Id", "versions", "lat ", "x")
        .map(Span(_, "1", null, 0)),
      // a null kind is no kind: the span is skipped, as in the HOF filter
      1 -> Gen.oneOf("highway=primary", "1", "w/1/r").map(Span(null, _, null, 0)),
      // an array span without its payload carries no element: skipped too
      1 -> Gen.oneOf(Span("tag", null, null, 0), Span("nd", null, null, 0),
        Span("member", null, null, 0), Span("media", "", null, 0)))
    val spans = Gen.choose(0, 16).flatMap(n => Gen.listOfN(n, span))
    val params = Gen.Parameters.default
    val rows = (1L to 300L).map(i =>
      (s"d$i", spans.apply(params, Seed(i)).getOrElse(Nil), i))
    // an RDD-backed frame: its projections are not constant-folded, so the
    // merged and the single-field decodes both run as planned
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2))
      .toDF("doc_id", "spans", "seq")
    val view = OsmView.derive(docs)
    val hof = OsmView.deriveHof(docs)
    assertSameRows(view, hof, "whole view")
    assert(CodecSpec.decodeMasks(view.queryExecution.optimizedPlan) ===
      Seq("Project" -> Set(SpanDecode.AllFields)))
    view.columns.foreach { c =>
      assertSameRows(view.select("seq", c), hof.select("seq", c), c)
    }
    // the span-fused tag kernels equal TagLookup/TagExists over the HOF tags
    val hasKey = Compiler.compileEffective(Parser.parse("highway"))
    def lookup(v: DataFrame) = v.select(col("seq"), Compiler.tagLookup("highway").as("hw"))
    def exists(v: DataFrame) = v.filter(hasKey).select("seq")
    Seq(lookup(view) -> "tag_lookup_spans", exists(view) -> "tag_exists_spans")
      .foreach { case (fused, kernel) =>
        assert(fused.queryExecution.optimizedPlan.toString.contains(kernel),
          fused.queryExecution.optimizedPlan)
      }
    assertSameRows(lookup(view), lookup(hof), "fused highway lookup")
    assertSameRows(exists(view), exists(hof), "fused highway exists")
  }

  test("non-numeric span text fails with the HOF derivation's error condition") {
    // the first error condition in a failure's cause chain
    def condition(run: => Unit): String = {
      val e = intercept[Throwable](run)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
        case t: org.apache.spark.SparkThrowable if t.getCondition != null => t.getCondition
      }.getOrElse(fail(s"no error condition in the cause chain of $e"))
    }
    Seq("id" -> "x", "version" -> "1a", "changeset" -> "", "uid" -> " ",
      "lat" -> "4.5.6", "lon" -> "abc", "nd" -> "n1", "member" -> "w//x")
      .foreach { case (kind, text) =>
        val rows = Seq(("d1", Seq(Span("type", "node", null, 0), Span(kind, text, null, 1)), 1L))
        val docs = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1))
          .toDF("doc_id", "spans", "seq")
        val field = if (kind == "nd") "nds" else if (kind == "member") "members" else kind
        val what = s"$kind span '$text'"
        val hof = condition(OsmView.deriveHof(docs).select(field).collect())
        assert(hof === "CAST_INVALID_INPUT", what)
        assert(condition(OsmView.derive(docs).select(field).collect()) === hof, what)
        assert(condition(OsmView.derive(docs).collect()) === hof, s"$what, whole view")
      }
  }

  test("decode expression is codegen-capable (no CodegenFallback)") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback}
    import graft.exprs.DecodeOsmSpans
    val expr = DecodeOsmSpans(BoundReference(0,
      DeterministicGen.docsDF(spark, 0.001).schema("spans").dataType, nullable = true))
    assert(!expr.isInstanceOf[CodegenFallback])
    val code = expr.genCode(new CodegenContext) // must not throw
    assert(code.code.toString.contains("graft.exprs.SpanDecode.decode"))
  }

  test("generator is deterministic for a given (seed, sf)") {
    val a = DeterministicGen.elements(0.001)
    val b = DeterministicGen.elements(0.001)
    assert(a === b)
    // and contains the edge populations the corpus needs
    assert(a.exists(_.id < 0), "negative ids present")
    assert(a.exists(e => e.otype == "way" && e.nds.nonEmpty && e.nds.head == e.nds.last), "closed ways")
    assert(a.exists(e => e.otype == "way" && e.nds.size == 1), "degenerate 1-node ways")
    assert(a.exists(_.user.isEmpty), "empty user")
    assert(a.exists(_.tags.isEmpty), "untagged elements")
    assert(a.exists(_.mediaRefs.nonEmpty), "interleaved media spans")
    assert(a.exists(!_.visible), "invisible elements")
  }
}

object CodecSpec {
  /** Node name → masks of the distinct span decodes, for each plan node that
    * has any (the views here decode one spans column, so one mask is one
    * decode). */
  def decodeMasks(plan: LogicalPlan): Seq[(String, Set[Int])] =
    plan.collect { case n if n.expressions.exists(_.exists(_.isInstanceOf[DecodeOsmSpans])) =>
      n.nodeName -> n.expressions.flatMap(_.collect { case d: DecodeOsmSpans => d.mask }).toSet
    }
}
