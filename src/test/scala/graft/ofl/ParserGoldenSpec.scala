package graft.ofl

import org.scalatest.funsuite.AnyFunSuite

/** Port of every reference parser unit test, verbatim: same input strings,
  * same expected entity masks, same expected golden tree prints
  * (reference test/test_parser.cpp:10-118). The `check` harness mirrors
  * test_parser.cpp:10-18. */
class ParserGoldenSpec extends AnyFunSuite {

  import EntityBits._

  private def check(s: String, types: Int, tree: String): Unit = {
    val ast = Parser.parse(s)
    assert(EntityBits.entities(ast) === types, s"entity mask for <$s>")
    assert(ParserGoldenSpec.tree(ast) === tree, s"tree for <$s>")
  }

  // test_parser.cpp:22-30
  test("spacing and comments") {
    check("true", Nwr, "TRUE")
    check("false", Nwr, "FALSE")
    check("   false  \n \t", Nwr, "FALSE")
    check("# foo\ntrue ", Nwr, "TRUE")
    check("true # foo\n", Nwr, "TRUE")
    check("true # foo", Nwr, "TRUE")
  }

  // test_parser.cpp:32-39
  test("boolean expressions") {
    check("true and true", Nwr, "BOOL_AND\n TRUE\n TRUE")
    check("true and false and true", Nwr, "BOOL_AND\n TRUE\n FALSE\n TRUE")
    check("true or false", Nwr, "BOOL_OR\n TRUE\n FALSE")
    check("true or (false and false)", Nwr,
      "BOOL_OR\n TRUE\n BOOL_AND\n  FALSE\n  FALSE")
    check("(true or false) and (false or true)", Nwr,
      "BOOL_AND\n BOOL_OR\n  TRUE\n  FALSE\n BOOL_OR\n  FALSE\n  TRUE")
    check("true or not true", Nwr, "BOOL_OR\n TRUE\n BOOL_NOT\n  TRUE")
  }

  // test_parser.cpp:41-47
  test("object types") {
    check("@node", NodeBit, "BOOL_ATTR[node]")
    check("@way", WayBit, "BOOL_ATTR[way]")
    check("@relation", RelBit, "BOOL_ATTR[relation]")
    check("@node or @way", NodeBit | WayBit,
      "BOOL_OR\n BOOL_ATTR[node]\n BOOL_ATTR[way]")
    check("@node and @way", Nothing,
      "BOOL_AND\n BOOL_ATTR[node]\n BOOL_ATTR[way]")
  }

  // test_parser.cpp:49-56
  test("integer comparison") {
    check("@id == 1", Nwr, "INT_BIN_OP[equal]\n INT_ATTR[id]\n INT_VALUE[1]")
    check("@id != 1", Nwr, "INT_BIN_OP[not_equal]\n INT_ATTR[id]\n INT_VALUE[1]")
    check("@id <  1", Nwr, "INT_BIN_OP[less_than]\n INT_ATTR[id]\n INT_VALUE[1]")
    check("@id >  1", Nwr, "INT_BIN_OP[greater_than]\n INT_ATTR[id]\n INT_VALUE[1]")
    check("@id <= 1", Nwr, "INT_BIN_OP[less_or_equal]\n INT_ATTR[id]\n INT_VALUE[1]")
    check("@id >= 1", Nwr, "INT_BIN_OP[greater_or_equal]\n INT_ATTR[id]\n INT_VALUE[1]")
  }

  // test_parser.cpp:58-63
  test("integer list comparison") {
    check("@id in (71, 28)", Nwr,
      "IN_INT_LIST[in]\n INT_ATTR[id]\n VALUES[71, 28]")
    check("@id not in (71, 28)", Nwr,
      "IN_INT_LIST[not_in]\n INT_ATTR[id]\n VALUES[71, 28]")
    check("not @id in (71, 28)", Nwr,
      "BOOL_NOT\n IN_INT_LIST[in]\n  INT_ATTR[id]\n  VALUES[71, 28]")
    check("@id in (<'somefile')", Nwr,
      "IN_INT_LIST[in]\n INT_ATTR[id]\n FROM_FILE[somefile]")
  }

  // test_parser.cpp:65-72
  test("string comparison") {
    check("@user == 'foo'", Nwr, "BIN_STR_OP[equal]\n STR_ATTR[user]\n STR_VALUE[foo]")
    check("@user != 'foo'", Nwr, "BIN_STR_OP[not_equal]\n STR_ATTR[user]\n STR_VALUE[foo]")
    check("@user =^ 'foo'", Nwr, "BIN_STR_OP[prefix_equal]\n STR_ATTR[user]\n STR_VALUE[foo]")
    check("@user !^ 'foo'", Nwr, "BIN_STR_OP[prefix_not_equal]\n STR_ATTR[user]\n STR_VALUE[foo]")
    check("@user =~ 'foo'", Nwr, "BIN_STR_OP[match]\n STR_ATTR[user]\n REGEX_VALUE[foo]")
    check("@user !~ 'foo'", Nwr, "BIN_STR_OP[not_match]\n STR_ATTR[user]\n REGEX_VALUE[foo]")
  }

  // test_parser.cpp:74-81
  test("string value") {
    check("@user == 'foo'", Nwr, "BIN_STR_OP[equal]\n STR_ATTR[user]\n STR_VALUE[foo]")
    check("@user == \"foo\"", Nwr, "BIN_STR_OP[equal]\n STR_ATTR[user]\n STR_VALUE[foo]")
    check("@user == foo", Nwr, "BIN_STR_OP[equal]\n STR_ATTR[user]\n STR_VALUE[foo]")
    check("@user == ' foo'", Nwr, "BIN_STR_OP[equal]\n STR_ATTR[user]\n STR_VALUE[ foo]")
    check("@user == ' foo '", Nwr, "BIN_STR_OP[equal]\n STR_ATTR[user]\n STR_VALUE[ foo ]")
    check("@user == '1 2 3'", Nwr, "BIN_STR_OP[equal]\n STR_ATTR[user]\n STR_VALUE[1 2 3]")
  }

  // test_parser.cpp:83-88
  test("simple integer attributes") {
    check("@id        == 1", Nwr, "INT_BIN_OP[equal]\n INT_ATTR[id]\n INT_VALUE[1]")
    check("@version   == 1", Nwr, "INT_BIN_OP[equal]\n INT_ATTR[version]\n INT_VALUE[1]")
    check("@uid       == 1", Nwr, "INT_BIN_OP[equal]\n INT_ATTR[uid]\n INT_VALUE[1]")
    check("@changeset == 1", Nwr, "INT_BIN_OP[equal]\n INT_ATTR[changeset]\n INT_VALUE[1]")
  }

  // test_parser.cpp:90-96
  test("boolean attributes") {
    check("@visible", Nwr, "BOOL_ATTR[visible]")
    check("not @visible", Nwr, "BOOL_NOT\n BOOL_ATTR[visible]")
    check("@closed_way", WayBit, "BOOL_ATTR[closed_way]")
    check("@closed_way or (@relation and 'type' == 'multipolygon')",
      WayBit | RelBit,
      "BOOL_OR\n BOOL_ATTR[closed_way]\n BOOL_AND\n  BOOL_ATTR[relation]\n  CHECK_TAG[type][equal][multipolygon]")
    check("@open_way", WayBit, "BOOL_ATTR[open_way]")
  }

  // test_parser.cpp:98-108
  test("has key") {
    check("'highway'", Nwr, "HAS_KEY[highway]")
    check("highway", Nwr, "HAS_KEY[highway]")
    check("'highway' == 'primary'", Nwr, "CHECK_TAG[highway][equal][primary]")
    check(" highway  ==  primary ", Nwr, "CHECK_TAG[highway][equal][primary]")
    check("'highway' != 'primary'", Nwr, "CHECK_TAG[highway][not_equal][primary]")
    check("'highway' =~ 'primary'", Nwr, "CHECK_TAG[highway][match][primary][]")
    check("'highway' !~ 'primary'", Nwr, "CHECK_TAG[highway][not_match][primary][]")
    check("'highway' =~ 'primary'i", Nwr, "CHECK_TAG[highway][match][primary][IGNORE_CASE]")
    check("'highway' !~ 'primary'i", Nwr, "CHECK_TAG[highway][not_match][primary][IGNORE_CASE]")
  }

  // test_parser.cpp:110-113
  test("tags with subexpression") {
    check("@tags[ @key == 'highway' ] >  0", Nwr,
      "INT_BIN_OP[greater_than]\n COUNT_TAGS\n  BIN_STR_OP[equal]\n   STR_ATTR[key]\n   STR_VALUE[highway]\n INT_VALUE[0]")
    check("@tags[ @key == 'highway' ] == 0", Nwr,
      "INT_BIN_OP[equal]\n COUNT_TAGS\n  BIN_STR_OP[equal]\n   STR_ATTR[key]\n   STR_VALUE[highway]\n INT_VALUE[0]")
  }

  // test_parser.cpp:115-118
  test("tags without subexpression") {
    check("@tags >  0", Nwr, "INT_BIN_OP[greater_than]\n COUNT_TAGS\n  TRUE\n INT_VALUE[0]")
    check("@tags == 0", Nwr, "INT_BIN_OP[equal]\n COUNT_TAGS\n  TRUE\n INT_VALUE[0]")
  }

  // --- beyond the reference corpus: grammar-quirk pins --------------------------

  test("nodes and members counting expressions") {
    check("@nodes > 3", WayBit, "INT_BIN_OP[greater_than]\n COUNT_NODES\n  TRUE\n INT_VALUE[3]")
    check("@members[@role == 'inner'] >= 1", RelBit,
      "INT_BIN_OP[greater_or_equal]\n COUNT_MEMBERS\n  BIN_STR_OP[equal]\n   STR_ATTR[role]\n   STR_VALUE[inner]\n INT_VALUE[1]")
    check("@nodes[@ref == 17] > 0", WayBit,
      "INT_BIN_OP[greater_than]\n COUNT_NODES\n  INT_BIN_OP[equal]\n   INT_ATTR[ref]\n   INT_VALUE[17]\n INT_VALUE[0]")
    // both sides counting expressions (cpp:256-258)
    check("@tags > @nodes", WayBit,
      "INT_BIN_OP[greater_than]\n COUNT_TAGS\n  TRUE\n COUNT_NODES\n  TRUE")
  }

  test("entity bits propagate through not and comparisons") {
    // Not swaps the pair (hpp:653-656): not @node can match way|relation
    check("not @node", WayBit | RelBit, "BOOL_NOT\n BOOL_ATTR[node]")
    check("not not @node", NodeBit, "BOOL_NOT\n BOOL_NOT\n  BOOL_ATTR[node]")
    // @nodes forces way on either side of a comparison (hpp:1028-1032)
    check("1 == @nodes", WayBit,
      "INT_BIN_OP[equal]\n INT_VALUE[1]\n COUNT_NODES\n  TRUE")
  }

  test("keywords are character-level, not tokens (Qi lit semantics)") {
    // "note" = not(e): lit("not") matches the prefix, factor parses "e"
    check("note", Nwr, "BOOL_NOT\n HAS_KEY[e]")
    // negative integers in lists print as their uint64 bit pattern (hpp:1522)
    check("@id in (-1)", Nwr,
      "IN_INT_LIST[in]\n INT_ATTR[id]\n VALUES[18446744073709551615]")
    // VALUES print truncates after 5 ids (hpp:1490-1495)
    check("@id in (1,2,3,4,5,6)", Nwr,
      "IN_INT_LIST[in]\n INT_ATTR[id]\n VALUES[1, 2, 3, 4, 5, ...]")
  }

  test("unparse round-trips file lists and i-flag regex forms") {
    Seq("@id in (<'some file')",
        "@uid not in (<'ids.txt')",
        "'highway' =~ 'primary'i and @id in (1, 2)",
        "@tags[@key =^ 'addr:'] >= 2 or not @visible").foreach { src =>
      val ast = Parser.parse(src)
      assert(Parser.parse(Unparse(ast)) === ast, s"via <${Unparse(ast)}>")
    }
  }

  test("parse errors") {
    // trailing garbage => positioned error (object_filter.cpp:343-345)
    val e1 = intercept[OflParseException](Parser.parse("true ^"))
    assert(e1.pos === 5)
    // grammar failure => no position (object_filter.cpp:339-341)
    val e2 = intercept[OflParseException](Parser.parse("=="))
    assert(e2.pos === -1)
    // expectation failure inside parens
    val e3 = intercept[OflParseException](Parser.parse("(true"))
    assert(e3.pos === -1)
    // pre-grammar syntax from test/tests.txt is rejected by the current
    // grammar (historical corpus, not a contract — SURVEY.md §5.1)
    intercept[OflParseException](Parser.parse("@id=17"))
    intercept[OflParseException](Parser.parse("~"))
  }

  test("v2 extended syntax is OFF by default (reference grammar parity)") {
    // the reference grammar rejects all of its own documented sugar
    // (README.md:76, doc/language.md:144-168) — so must default mode
    intercept[OflParseException](Parser.parse("123"))
    intercept[OflParseException](Parser.parse("@nodes[17]"))
    intercept[OflParseException](Parser.parse("@members[17]"))
    intercept[OflParseException](Parser.parse("@members['inner']"))
    intercept[OflParseException](Parser.parse("@members[way]"))
    intercept[OflParseException](Parser.parse("@tags")) // bare counting
    // `@members[way] > 0` parses in default mode (way = has-key) but has-key
    // is an object-context node inside a member sub-expression → compile
    // rejects (the reference throws the equivalent error at eval time)
    val e = Parser.parse("@members[way] > 0")
    intercept[OflTypeException](graft.compile.Compiler.compile(e))
    // bare `node` in default mode is has-key, not an entity test
    assert(Parser.parse("node") === HasKey("node"))
  }

  test("v2 extended syntax desugars to the documented equivalents") {
    def sp(s: String) = Parser.parse(s, sugar = true)
    // bare integer ⇒ @id == N (README.md:76)
    assert(sp("123") === Parser.parse("@id == 123"))
    // bare entity words ⇒ entity tests, shadowing has-key (README.md:80-85)
    assert(sp("node") === BoolAttrExpr(BoolAttr.IsNode))
    assert(sp("way and highway") ===
      And(Vector(BoolAttrExpr(BoolAttr.IsWay), HasKey("highway"))))
    // other words keep their has-key reading, tags keep their tag reading
    assert(sp("building") === HasKey("building"))
    assert(sp("node == yes") === CheckTagStr("node", StrOp.Eq, "yes"))
    // @nodes[17] / @members[17] ⇒ [@ref == 17], decaying to bool when bare
    // (doc/language.md:144-155; bare counting is itself sugar — the v1
    // grammar only allows counting inside comparisons)
    val ref17 = IntCmp(IntAttrExpr(IntAttr.Ref), IntOp.Eq, IntLit(17))
    assert(sp("@nodes[17]") === CountNodes(ref17))
    assert(sp("@members[17]") === CountMembers(ref17))
    assert(sp("@nodes[17] > 2") === Parser.parse("@nodes[@ref == 17] > 2"))
    assert(sp("@tags") === CountTags(BoolLit(true))) // "has any tags"
    // @members[way] ⇒ member-type test; @members['inner'] ⇒ role test
    assert(sp("@members[way]") === CountMembers(
      StrCmp(StrAttrExpr(StrAttr.MType), StrOp.Eq, StrLit("way"))))
    assert(sp("@members['inner'] > 0") ===
      Parser.parse("@members[@role == 'inner'] > 0"))
    // non-sugar forms parse identically in both modes
    for (src <- Seq("@id in (1, 2)", "@tags[@key =^ 'addr:'] >= 2",
      "not (highway or building)", "@closed_way or 'a' == 'b'"))
      assert(sp(src) === Parser.parse(src), src)
    // inner expressions that are not bare sugar still parse normally
    assert(sp("@nodes[@ref > 100] > 0") === Parser.parse("@nodes[@ref > 100] > 0"))
    assert(sp("@nodes[17 > 3]") === CountNodes(
      IntCmp(IntLit(17), IntOp.Gt, IntLit(3))))
  }

  test("unparse round-trips sugar-only ASTs under sugar mode") {
    for (src <- Seq("@members[way] > 0", "@members[node] > 0", "@tags",
      "@nodes[17]", "@members['inner'] > 0", "123")) {
      val ast = Parser.parse(src, sugar = true)
      assert(Parser.parse(Unparse(ast), sugar = true) === ast, s"<$src>")
    }
  }

  test("expectation diagnostics match the reference on_error shape") {
    // qi::on_error<fail> prints `ERROR: Expecting <what> here: "<rest>"`
    // (object_filter.cpp:310-317); pin our reproduction of that shape.
    val e1 = intercept[OflParseException](Parser.parse("(true"))
    assert(e1.getMessage === "ERROR: Expecting ')' here: \"\"")
    assert(e1.expecting === Some(("')'", 5)))

    val e2 = intercept[OflParseException](Parser.parse("'abc"))
    assert(e2.getMessage === "ERROR: Expecting ''' here: \"\"")

    // `@id ==` fails by exhausting alternatives (binary_int_oper_v uses >>
    // sequences, cpp:255-257) — a plain grammar failure, not an expectation
    val e3 = intercept[OflParseException](Parser.parse("@id =="))
    assert(e3.expecting === None)
    assert(e3.getMessage === "Expression parsing error")

    // unterminated subexpression and dangling not
    val e4 = intercept[OflParseException](Parser.parse("@tags[@key == 'a'"))
    assert(e4.getMessage === "ERROR: Expecting ']' here: \"\"")
    val e5 = intercept[OflParseException](Parser.parse("not"))
    assert(e5.getMessage === "ERROR: Expecting factor here: \"\"")
    val e6 = intercept[OflParseException](Parser.parse("(true or false"))
    assert(e6.getMessage === "ERROR: Expecting ')' here: \"\"")
    val e7 = intercept[OflParseException](Parser.parse("(highway == residential and"))
    assert(e7.getMessage === "ERROR: Expecting ')' here: \" and\"" ||
      e7.getMessage === "ERROR: Expecting ')' here: \"and\"", e7.getMessage)
  }
}

object ParserGoldenSpec {
  /** As compared by the reference tests: tree without the final newline
    * (test_parser.cpp:17 compares `t.str() == tree + "\n"`). */
  def tree(e: Expr): String = {
    val s = Pretty.print(e)
    if (s.endsWith("\n")) s.dropRight(1) else s
  }
}
