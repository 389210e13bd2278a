package graft.ofl

import org.scalatest.funsuite.AnyFunSuite

/** The reference's manual expression corpus (test/tests.txt). Its harness
  * skips blank/# lines (src/test.cpp:27-30); several remaining lines use
  * PRE-GRAMMAR syntax the current grammar rejects (single `=`, bare `~`) —
  * SURVEY.md §5.1 treats those as historical. This spec pins both sets:
  * currently-valid lines parse to the expected trees, historical lines
  * raise the parse error the reference CLI would raise. */
class TestsTxtCorpusSpec extends AnyFunSuite {

  private def tree(src: String): String =
    ParserGoldenSpec.tree(Parser.parse(src))

  test("valid tests.txt lines parse to the expected trees") {
    // tests.txt:6-14 — quoting and whitespace forms of has-key
    Seq("highway", "\"highway\"", "'highway'", "    highway", "highway ",
      "    highway ", "    'highway'", "'highway' ", "    'highway' ")
      .foreach(s => assert(tree(s) === "HAS_KEY[highway]", s"<$s>"))
    // tests.txt:19-20
    assert(tree("@uid > 1234") ===
      "INT_BIN_OP[greater_than]\n INT_ATTR[uid]\n INT_VALUE[1234]")
    assert(tree(" @uid <= 23234") ===
      "INT_BIN_OP[less_or_equal]\n INT_ATTR[uid]\n INT_VALUE[23234]")
    // tests.txt:26-29 — bare `node` is a HAS_KEY, not a type test
    assert(tree("node") === "HAS_KEY[node]")
    assert(tree("\"node\"") === "HAS_KEY[node]")
    assert(tree("node and highway") ===
      "BOOL_AND\n HAS_KEY[node]\n HAS_KEY[highway]")
    // tests.txt:31
    assert(tree("(way and highway) or (node and amenity)") ===
      "BOOL_OR\n BOOL_AND\n  HAS_KEY[way]\n  HAS_KEY[highway]\n BOOL_AND\n  HAS_KEY[node]\n  HAS_KEY[amenity]")
    // tests.txt:33-35
    assert(tree("not highway") === "BOOL_NOT\n HAS_KEY[highway]")
    assert(tree("way and not highway") ===
      "BOOL_AND\n HAS_KEY[way]\n BOOL_NOT\n  HAS_KEY[highway]")
    // tests.txt:41-43 — plain-string charset [a-zA-Z][a-zA-Z0-9:_]*
    assert(tree("name_1") === "HAS_KEY[name_1]")
    assert(tree("foo_") === "HAS_KEY[foo_]")
  }

  test("pre-grammar tests.txt lines are rejected like the reference CLI") {
    Seq("@id=17", "@id = 17", "highway = residential", "highway = node",
      "highway ~ \"_link$\"")
      .foreach(s => intercept[OflParseException](Parser.parse(s)))
  }

  test("comment-only input fails like the reference (parser, not harness)") {
    // the reference harness SKIPS '#' lines; fed to the parser they fail
    // (grammar requires an expression) — pinned for CLI parity
    intercept[OflParseException](Parser.parse("#1234"))
    intercept[OflParseException](Parser.parse(""))
  }
}
