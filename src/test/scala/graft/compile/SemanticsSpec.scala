package graft.compile

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.SparkTestSession
import graft.fixtures.DeterministicGen
import graft.model.OsmView
import graft.ofl.{EntityBits, Parser}
import graft.oracle.OracleEval

/** Conformance: for each corpus expression, the compiled Catalyst filter
  * must select exactly the doc_ids the reference-semantics oracle selects
  * on the deterministic sf=0.001 fixture (~600 elements, all edge
  * populations). Also checks entity-bits soundness: an element whose kind is
  * outside the static mask never matches. */
class SemanticsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private lazy val elements = DeterministicGen.elements(0.001)
  private lazy val view = {
    val v = OsmView.derive(DeterministicGen.docsDF(spark, 0.001))
    v.cache().count()
    v
  }

  private lazy val idFile: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempFile("graft-ids", ".txt")
    p.toFile.deleteOnExit()
    SemanticsSpec.idListFile(0.001, p)
    p
  }
  private lazy val loader: Compiler.IdListLoader =
    Compiler.fileLoader(_ => idFile)
  private lazy val oracleLoader: OracleEval.IdLoader =
    f => loader(f)

  /** The semantics corpus — pairs every operator F1-F20 (SURVEY.md §2.3)
    * with fixture rows that hit its edge cases. */
  private val corpus: Seq[String] = Seq(
    // F1 literals / F2-F4 combinators
    "true", "false", "not true",
    "@node or @way", "not @node", "not not @relation",
    "@visible and highway", "not @visible",
    // F10 boolean attributes incl closed/open/degenerate ways
    "@node", "@way", "@relation", "@closed_way", "@open_way",
    "@closed_way or (@relation and 'type' == 'multipolygon')",
    // F8/F11 integer attributes and comparisons (incl negative ids)
    "@id == 1", "@id < 0", "@id >= 100", "@version >= 2", "@version == 1",
    "@uid > 1000", "@changeset <= 5000", "17 < @id",
    "@id != 42", "3 == 3", "1 > 2",
    // F16 id lists, inline incl negative (uint64 wrap) and not-in
    "@id in (1, 2, 3, 5, 8, 13, 21)",
    "@id not in (1, 2, 3)",
    "not @id in (1, 2, 3)",
    "@id in (-1, -2, -3, -5, -7, -11)",
    "@uid in (0)",
    // F9/F12 string attribute comparisons incl empty user
    "@user == 'alice'", "@user != 'alice'", "@user == ''",
    "@user =^ 'a'", "@user !^ 'a'", "@user =~ 'a.'", "@user !~ '[0-9]'",
    "@user =~ '^$'",
    // F17 has-key (both quoting forms)
    "highway", "'addr:street'", "building and not landuse",
    // F18 tag string checks; missing key ⇒ false for BOTH ops
    "highway == residential", "highway != residential",
    "'addr:housenumber' == '12'", "name != 'Main Street'",
    "oneway == yes", "amenity == ''",
    // F19 tag regex checks incl i-flag and missing-key
    "highway =~ '_link$'", "highway !~ '_link$'",
    "name =~ 'main'i", "name =~ 'main'", "natural =~ '^(water|tree)$'",
    // F13 tag counting: bare, filtered, both-sides comparisons
    "@tags > 0", "@tags == 0", "@tags >= 10",
    "@tags[@key == 'highway'] > 0",
    "@tags[@key =^ 'addr:'] >= 2",
    "@tags[@value == 'yes'] == 1",
    "@tags[@key == 'highway' and @value =~ '_link$'] > 0",
    "@tags > @nodes",
    "@tags[@value =~ '^[0-9]+$'] > 0",
    // F14 node-ref counting (way-only, 0 for others)
    "@nodes > 10", "@nodes == 0 and @way", "@nodes[@ref < 0] > 0",
    "@nodes[@ref > 200] >= 5", "1 == @nodes",
    // F15 member counting (relation-only)
    "@members > 5", "@members[@role == 'inner'] > 0",
    "@members[@ref > 100 and @role != 'outer'] > 0",
    "@members[@role == ''] > 0",
    // mixed combinators + precedence
    "@way and highway == residential and @version >= 2",
    "@node and (amenity or natural) or @relation and @members > 3",
    "highway == residential or highway == primary or highway == secondary",
    "not (highway or building or landuse)",
    // keyword quirk: parses as not(HAS_KEY[e])
    "note",
    // F16 from file
    "@id in (<'idfile')",
    "@id not in (<'idfile') and @way")

  /** Reference observable semantics: the entity mask restricts the READER
    * (main.cpp:182), so the effective match is `type ∈ mask && eval`. */
  private def oracleEffective(src: String): Set[String] = {
    val ast = Parser.parse(src)
    val allowed = EntityBits.names(EntityBits.entities(ast)).toSet
    elements.filter(el => allowed.contains(el.otype) &&
      OracleEval.matches(ast, el, oracleLoader)).map(_.docId).toSet
  }

  test("compiled filter matches the reference-semantics oracle on every corpus expression") {
    corpus.foreach { src =>
      val ast = Parser.parse(src)
      val got = view.filter(Compiler.compileEffective(ast, loader))
        .select("doc_id").collect().map(_.getString(0)).toSet
      assert(got === oracleEffective(src), s"mismatch for <$src>")
    }
  }

  test("the entity mask is semantic, not just an optimization") {
    // `@tags > @nodes` raw-evaluates TRUE on any tagged node (CountNodes is 0
    // off-way, hpp:1244-1246), but the mask is way-only (hpp:1254-1257) and
    // the reference's restricted reader never feeds it a node. Our effective
    // compile must reproduce the reader-restricted output.
    val src = "@tags > @nodes"
    val ast = Parser.parse(src)
    val taggedNode = elements.find(e => e.otype == "node" && e.tags.nonEmpty).get
    assert(OracleEval.matches(ast, taggedNode, oracleLoader),
      "raw eval is true on a tagged node")
    val got = view.filter(Compiler.compileEffective(ast))
      .select("type").distinct().collect().map(_.getString(0)).toSet
    assert(got === Set("way"))
  }

  test("v2 sugar compiles to the same filtered sets as its desugared forms") {
    // parse-level equivalence is golden-tested; here the MType member-type
    // test (no v1 equivalent) must select exactly the elements whose member
    // list contains a way-typed member
    val ast = Parser.parse("@members[way] > 0", sugar = true)
    val got = view.filter(Compiler.compileEffective(ast))
      .select("doc_id").collect().map(_.getString(0)).toSet
    val expected = elements.filter(el =>
      el.otype == "relation" && el.members.exists(_._1 == "way")).map(_.docId).toSet
    assert(got === expected)
    assert(got.nonEmpty, "fixture must contain relations with way members")

    // bare-int id sugar end-to-end
    val someId = elements.find(_.otype == "node").get.id
    val ast2 = Parser.parse(someId.toString, sugar = true)
    val got2 = view.filter(Compiler.compileEffective(ast2))
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(got2 === elements.filter(_.id == someId).map(_.docId).toSet)
  }

  test("object-only nodes inside sub-expressions are rejected at compile time") {
    // the reference defines eval_bool(OSMObject) ONLY for has-key/tag-check/
    // in-list (hpp:1342/1390/1457/1561) and throws at eval time in nested
    // contexts; we reject at compile time (documented fail-earlier policy)
    Seq("@tags[highway] > 0",
        "@tags[highway == residential] > 0",
        "@tags[name =~ 'x'] > 0",
        "@nodes[@ref in (1, 2)] > 0",
        "@members[highway] > 0").foreach { src =>
      intercept[graft.ofl.OflTypeException](
        Compiler.compile(Parser.parse(src)))
    }
  }

  test("pretty print collapses consecutive duplicate list values like IdSetSmall") {
    assert(graft.ofl.ParserGoldenSpec.tree(Parser.parse("@id in (5, 5, 3, 5)")) ===
      "IN_INT_LIST[in]\n INT_ATTR[id]\n VALUES[5, 3, 5]")
  }

  test("never-match expressions are rejected at compile time") {
    val e = intercept[graft.ofl.OflTypeException](
      Compiler.compileEffective(Parser.parse("@node and @way")))
    assert(e.getMessage.contains("can never match"))
  }

  test("atoll column expression implements C semantics") {
    import spark.implicits._
    val cases = Seq(
      "12" -> 12L, "12ab" -> 12L, "ab" -> 0L, "" -> 0L, "-7x" -> -7L,
      "  42" -> 42L, "+3" -> 3L, "3.9" -> 3L, "-" -> 0L, "0" -> 0L)
    val df = cases.map(_._1).toDF("s")
    val got = df.select(col("s"), Compiler.atoll(col("s")).as("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    cases.foreach { case (s, v) =>
      assert(got(s) === v, s"atoll('$s')")
      assert(OracleEval.atoll(s) === v, s"oracle atoll('$s')")
    }
  }
}

object SemanticsSpec {
  /** Ids for the `in (<'file')` fixture — a mix of present and absent ids,
    * whitespace-separated like the reference reads (hpp:1505-1511). */
  def idListFile(sf: Double, path: java.nio.file.Path): Unit = {
    val rng = new scala.util.Random(DeterministicGen.Seed + 3)
    val els = DeterministicGen.elements(sf)
    val some = els.filter(_ => rng.nextDouble() < 0.2).map(_.id)
    val absent = Vector.fill(some.size / 4)(9000000L + rng.nextInt(100000))
    val all = rng.shuffle(some ++ absent)
    java.nio.file.Files.writeString(path, all.mkString(" \n"))
  }
}
