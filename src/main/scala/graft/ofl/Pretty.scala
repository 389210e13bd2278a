package graft.ofl

/** Golden tree printer, byte-identical to the reference's `do_print`
  * implementations (each node's format cited inline). The reference's unit
  * tests pin this exact format (test/test_parser.cpp:10-18), so it is our
  * highest-fidelity conformance surface.
  *
  * Indentation: `level` spaces, children printed at level+1
  * (reference hpp:278-288). Every line ends with '\n'.
  */
object Pretty {

  def print(e: Expr): String = {
    val sb = new StringBuilder
    p(sb, e, 0)
    sb.result()
  }

  private def indent(sb: StringBuilder, level: Int): Unit = {
    var i = level
    while (i > 0) { sb.append(' '); i -= 1 }
  }

  private def p(sb: StringBuilder, e: Expr, level: Int): Unit = {
    indent(sb, level)
    e match {
      // hpp:435-437
      case BoolLit(v) => sb.append(if (v) "TRUE" else "FALSE").append('\n')
      // hpp:514-519
      case And(cs) =>
        sb.append("BOOL_AND\n"); cs.foreach(c => p(sb, c, level + 1))
      // hpp:574-579
      case Or(cs) =>
        sb.append("BOOL_OR\n"); cs.foreach(c => p(sb, c, level + 1))
      // hpp:627-630
      case Not(c) =>
        sb.append("BOOL_NOT\n"); p(sb, c, level + 1)
      // hpp:686-688
      case IntLit(v) => sb.append("INT_VALUE[").append(v).append("]\n")
      // hpp:728-730
      case StrLit(v) => sb.append("STR_VALUE[").append(v).append("]\n")
      // hpp:771-773
      case RegexLit(v) => sb.append("REGEX_VALUE[").append(v).append("]\n")
      // hpp:803-805
      case IntAttrExpr(a) => sb.append("INT_ATTR[").append(a.name).append("]\n")
      // hpp:856-858
      case StrAttrExpr(a) => sb.append("STR_ATTR[").append(a.name).append("]\n")
      // hpp:904-906
      case BoolAttrExpr(a) => sb.append("BOOL_ATTR[").append(a.name).append("]\n")
      // hpp:992-996
      case IntCmp(l, op, r) =>
        sb.append("INT_BIN_OP[").append(op.name).append("]\n")
        p(sb, l, level + 1); p(sb, r, level + 1)
      // hpp:1092-1096
      case StrCmp(l, op, r) =>
        sb.append("BIN_STR_OP[").append(op.name).append("]\n")
        p(sb, l, level + 1); p(sb, r, level + 1)
      // hpp:1163-1166
      case CountTags(s) =>
        sb.append("COUNT_TAGS\n"); p(sb, s, level + 1)
      // hpp:1210-1213
      case CountNodes(s) =>
        sb.append("COUNT_NODES\n"); p(sb, s, level + 1)
      // hpp:1267-1270
      case CountMembers(s) =>
        sb.append("COUNT_MEMBERS\n"); p(sb, s, level + 1)
      // hpp:1324-1326
      case HasKey(k) => sb.append("HAS_KEY[").append(k).append("]\n")
      // hpp:1356-1358
      case CheckTagStr(k, op, v) =>
        sb.append("CHECK_TAG[").append(k).append("][").append(op.name)
          .append("][").append(v).append("]\n")
      // hpp:1411-1413
      case CheckTagRegex(k, op, v, ci) =>
        sb.append("CHECK_TAG[").append(k).append("][").append(op.name)
          .append("][").append(v).append("][")
          .append(if (ci) "IGNORE_CASE" else "").append("]\n")
      // hpp:1477-1503: first value, then up to 4 more, then ", ..." if longer
      case InIntList(attr, op, values, fromFile) =>
        sb.append("IN_INT_LIST[").append(op.name).append("]\n")
        p(sb, attr, level + 1)
        indent(sb, level + 1)
        fromFile match {
          case Some(f) => sb.append("FROM_FILE[").append(f).append("]\n")
          case None =>
            sb.append("VALUES[")
            // Reference prints the raw uint64 pattern (IdSetSmall<uint64_t>):
            // negative int64 literals appear as their two's-complement value.
            // IdSetSmall::set skips a value equal to the LAST inserted one,
            // so consecutive duplicates collapse in the print.
            val dedup = values.foldLeft(Vector.empty[Long]) { (acc, v) =>
              if (acc.nonEmpty && acc.last == v) acc else acc :+ v
            }
            val u = dedup.map(v => java.lang.Long.toUnsignedString(v))
            sb.append(u.take(5).mkString(", "))
            if (u.length > 5) sb.append(", ...")
            sb.append("]\n")
        }
    }
  }
}
