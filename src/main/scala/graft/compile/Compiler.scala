package graft.compile

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ofl._

/** Compiles an OFL AST to a single Catalyst `Column` over the typed OSM view
  * ([[graft.model.OsmView.derive]]). This replaces the reference's
  * interpreted per-row tree walk (hpp:1623-1625) with a declarative
  * expression Catalyst can optimize end-to-end: constant folding, filter
  * pushdown, partition pruning (via [[compileEffective]]'s entity mask),
  * and whole-stage codegen for the scalar parts. Nested-context
  * sub-expressions (`@tags[…]`/`@nodes[…]`/`@members[…]`, reference
  * hpp:1157-1316) become higher-order-function lambdas over the
  * `tags`/`nds`/`members` arrays.
  *
  * Type/context legality is enforced at compile time ([[OflTypeException]]);
  * the reference throws the equivalent errors at eval time (hpp:293-339) —
  * deliberate fail-earlier deviation, never different on valid inputs.
  *
  * ANSI-safety: Spark 4 defaults to ANSI mode, so every array access uses
  * null-safe `get`/`coalesce` rather than `element_at`, and the atoll
  * coercion extracts at most 18 digits so the cast can never overflow.
  */
object Compiler {

  /** Evaluation context — mirrors the reference's four overload families
    * (hpp:293-339): the object row, a tag, a way node-ref, a relation
    * member. */
  sealed trait Ctx
  case object ObjCtx extends Ctx
  final case class TagCtx(tag: Column) extends Ctx
  final case class NdCtx(ref: Column) extends Ctx
  final case class MemberCtx(member: Column) extends Ctx

  /** Resolves `in (<'file')` id lists at compile time — the analog of the
    * reference's `prepare()`-time file load (hpp:1549-1559). */
  type IdListLoader = String => Set[Long]

  /** Compile-time environment: the id-list loader plus the HOT-TAG column
    * map (OFL tag key → top-level view column holding that key's first
    * value, null when absent — see [[graft.engine.HotTags]]). When a key is
    * hot, tag checks compile to plain column predicates
    * (`IsNotNull(t_k) && t_k == v`) that Catalyst pushes into the parquet
    * scan, so row groups where the key never appears are skipped on min/max
    * /null-count statistics — the 100 TB reason the projection exists. The
    * array path can never push (the value hides inside `tags`). */
  private final case class Env(ld: IdListLoader, hot: Map[String, String])

  val noFiles: IdListLoader =
    f => throw new OflTypeException(s"no id-list loader provided for file '$f'")

  /** Reads whitespace-separated ids like the reference (hpp:1505-1511):
    * `operator>>(uint64_t)` also accepts negative literals by wrapping —
    * we parse as Long (same 64-bit pattern). Unparseable tokens stop the
    * read in the reference; we skip them (documented: fixtures are clean). */
  def fileLoader(resolve: String => java.nio.file.Path): IdListLoader = { name =>
    val text = java.nio.file.Files.readString(resolve(name))
    text.split("\\s+").iterator.filter(_.nonEmpty).flatMap { t =>
      try Iterator.single(java.lang.Long.parseUnsignedLong(t))
      catch {
        case _: NumberFormatException =>
          try Iterator.single(t.toLong) catch { case _: NumberFormatException => Iterator.empty }
      }
    }.toSet
  }

  /** Raw evaluation of `e`, without the entity mask and without id-list
    * files or hot columns — what the tests compare the mask against. */
  private[graft] def compile(e: Expr): Column =
    bool(e, ObjCtx, Env(noFiles, Map.empty))

  /** The reference's OBSERVABLE filter semantics: the entity mask is not a
    * mere optimization — the reader is constructed with it (main.cpp:182), so
    * an object whose kind is outside the mask is never evaluated at all. The
    * mask can disagree with raw eval (e.g. `@tags > @nodes` evaluates true on
    * a tagged node, but the mask is way-only), so output equivalence requires
    * the conjunct. Catalyst folds it into partition pruning on the
    * type-partitioned table. */
  def compileEffective(e: Expr, idLoader: IdListLoader = noFiles,
                       hotKeys: Map[String, String] = Map.empty): Column = {
    val mask = EntityBits.entities(e)
    if (mask == EntityBits.Nothing)
      fail("Filter expression can never match") // main.cpp:114-117
    val env = Env(idLoader, hotKeys)
    pruningPredicate(e) match {
      case Some(p) => p && bool(e, ObjCtx, env)
      case None    => bool(e, ObjCtx, env)
    }
  }

  /** Entity-bits mask → `type IN (…)` conjunct. Catalyst turns this into
    * partition pruning on the type-partitioned docs table — the Spark-native
    * equivalent of the reference's entity-restricted reader (main.cpp:147).
    * None when the mask is unrestricted; caller must reject mask==0
    * ("Filter expression can never match", main.cpp:114-117). */
  private def pruningPredicate(e: Expr): Option[Column] = {
    val mask = EntityBits.entities(e)
    if (mask == EntityBits.Nwr) None
    else Some(col("type").isin(EntityBits.names(mask): _*))
  }

  // --- static node result types (reference class hierarchy hpp:343-427) -----

  private sealed trait Kind
  private case object BoolKind extends Kind
  private case object IntKind extends Kind
  private case object StrKind extends Kind

  private def kindOf(e: Expr): Kind = e match {
    case BoolLit(_) | And(_) | Or(_) | Not(_) | BoolAttrExpr(_) |
         IntCmp(_, _, _) | StrCmp(_, _, _) | HasKey(_) |
         CheckTagStr(_, _, _) | CheckTagRegex(_, _, _, _) |
         InIntList(_, _, _, _) => BoolKind
    case IntLit(_) | IntAttrExpr(_) | CountTags(_) | CountNodes(_) |
         CountMembers(_) => IntKind
    case StrLit(_) | RegexLit(_) | StrAttrExpr(_) => StrKind
  }

  // --- coercions (hpp:343-427) ----------------------------------------------

  /** bool context: int decays via `> 0` (hpp:365-385, NOT != 0); string via
    * non-null and non-empty (hpp:387-427). */
  private def bool(e: Expr, ctx: Ctx, ld: Env): Column = kindOf(e) match {
    case BoolKind => boolNative(e, ctx, ld)
    case IntKind  => intNative(e, ctx, ld) > 0
    case StrKind  => coalesce(length(str(e, ctx)) > 0, lit(false))
  }

  /** int context: bool coerces true→1/false→0 (hpp:343-362); string via C
    * atoll — leading-digits parse, `"12ab"→12`, `"ab"→0` (hpp:396-398). */
  private def int(e: Expr, ctx: Ctx, ld: Env): Column = kindOf(e) match {
    case IntKind  => intNative(e, ctx, ld)
    case BoolKind => when(boolNative(e, ctx, ld), lit(1L)).otherwise(lit(0L))
    case StrKind  => atoll(str(e, ctx))
  }

  /** C `atoll`: skip leading whitespace, optional sign, leading digits, 0 on
    * no-parse. Digits capped at 18 so the ANSI cast cannot overflow (C
    * overflow is UB anyway). */
  def atoll(s: Column): Column = {
    val digits = regexp_extract(s, "^[\\s]*([+-]?\\d{1,18})", 1)
    coalesce(when(digits === "", lit(0L)).otherwise(digits.cast("long")), lit(0L))
  }

  private def str(e: Expr, ctx: Ctx): Column = e match {
    case StrLit(v) => lit(v)
    case StrAttrExpr(a) => (a, ctx) match {
      case (StrAttr.User, ObjCtx)        => col("user")
      case (StrAttr.Key, TagCtx(t))      => t.getField("key")
      case (StrAttr.Value, TagCtx(t))    => t.getField("value")
      case (StrAttr.Role, MemberCtx(m))  => m.getField("role")
      case (StrAttr.MType, MemberCtx(m)) => m.getField("mtype") // v2 sugar
      case _ => fail(s"@${a.name} is not valid in ${ctxName(ctx)} context")
    }
    case RegexLit(_) =>
      fail("regex literal outside =~/!~") // reference: no eval_string on RegexValue
    case other => fail(s"Expected a string expression, got ${other.productPrefix}")
  }

  // --- native evaluators ------------------------------------------------------

  private def boolNative(e: Expr, ctx: Ctx, ld: Env): Column = e match {
    case BoolLit(v) => lit(v)
    case And(cs)    => cs.map(bool(_, ctx, ld)).reduce(_ && _)
    case Or(cs)     => cs.map(bool(_, ctx, ld)).reduce(_ || _)
    case Not(c)     => !bool(c, ctx, ld)

    case BoolAttrExpr(a) =>
      if (ctx != ObjCtx) fail(s"@${a.name} is not valid in ${ctxName(ctx)} context")
      else a match {
        case BoolAttr.IsNode     => col("type") === "node"
        case BoolAttr.IsWay      => col("type") === "way"
        case BoolAttr.IsRelation => col("type") === "relation"
        case BoolAttr.Visible    => col("visible")
        // closed: way && first ref == last ref (hpp:952-955)
        case BoolAttr.ClosedWay  => col("type") === "way" && isClosed
        case BoolAttr.OpenWay    => col("type") === "way" && !isClosed
      }

    case IntCmp(l, op, r) =>
      val (lc, rc) = (int(l, ctx, ld), int(r, ctx, ld))
      op match {
        case IntOp.Eq => lc === rc
        case IntOp.Ne => lc =!= rc
        case IntOp.Lt => lc < rc
        case IntOp.Le => lc <= rc
        case IntOp.Gt => lc > rc
        case IntOp.Ge => lc >= rc
      }

    case StrCmp(l, op, r) =>
      val lc = str(l, ctx)
      op match {
        case StrOp.Eq       => lc === str(r, ctx)
        case StrOp.Ne       => lc =!= str(r, ctx)
        case StrOp.PrefixEq => lc.startsWith(str(r, ctx))
        case StrOp.PrefixNe => !lc.startsWith(str(r, ctx))
        // unanchored search: regex_search ≈ Java Matcher.find ≈ RLike
        case StrOp.Match    => lc.rlike(regexPattern(r, ci = false))
        case StrOp.NotMatch => !lc.rlike(regexPattern(r, ci = false))
      }

    // Object-context-only nodes: the reference defines eval_bool(OSMObject)
    // ONLY for these (hpp:1342/1390/1457/1561) — inside @tags/@nodes/
    // @members sub-expressions it throws at eval time; we reject at compile
    // time (documented fail-earlier deviation).
    case HasKey(k) =>
      requireObj(ctx, s"has-key [$k]")
      ld.hot.get(k) match {
        case Some(c) => col(c).isNotNull // pushable null-count prune
        case None    =>
          // codegen'd kernel, parity-pinned against
          // exists(tags, t => t.key === k) — the HOF form is
          // CodegenFallback and broke whole-stage codegen for the
          // surrounding Filter (graft.exprs.TagExists scaladoc)
          org.apache.spark.sql.GraftBridge.column(graft.exprs.TagExists(
            org.apache.spark.sql.GraftBridge.expression(col("tags")), k))
      }

    // missing key ⇒ false for BOTH == and != (hpp:1390-1397). Two
    // semantically identical forms (tag values are never null strings, only
    // the whole lookup can be null): the HOT column gets the
    // IsNotNull-conjunct shape DataSourceStrategy translates to parquet
    // pushdown (a plain attribute — referencing it twice is free); the COLD
    // array lookup keeps the coalesce shape, which references the lookup
    // ONCE — the optimizer inlines derived columns per reference, so the
    // conjunct form would decode the tags array twice per row (measured:
    // complete_ways 1.6 s → 2.7 s).
    case CheckTagStr(k, op, v) =>
      requireObj(ctx, s"tag check [$k]")
      val tv = tagValue(k, ld)
      val hot = ld.hot.contains(k)
      op match {
        case StrOp.Eq =>
          if (hot) tv.isNotNull && tv === v else coalesce(tv === v, lit(false))
        case StrOp.Ne =>
          if (hot) tv.isNotNull && tv =!= v else coalesce(tv =!= v, lit(false))
        case other => fail(s"CheckTagStr with ${other.name}")
      }

    // missing key ⇒ false for both =~ and !~ (hpp:1457-1464)
    case CheckTagRegex(k, op, pat, ci) =>
      requireObj(ctx, s"tag regex check [$k]")
      val tv = tagValue(k, ld)
      val p = if (ci) "(?i)" + pat else pat
      val hot = ld.hot.contains(k) // same single-evaluation rationale as CheckTagStr
      op match {
        case StrOp.Match =>
          if (hot) tv.isNotNull && tv.rlike(p) else coalesce(tv.rlike(p), lit(false))
        case StrOp.NotMatch =>
          if (hot) tv.isNotNull && !tv.rlike(p) else coalesce(!tv.rlike(p), lit(false))
        case other => fail(s"CheckTagRegex with ${other.name}")
      }

    case InIntList(attr, op, values, fromFile) =>
      requireObj(ctx, "in-list")
      val a = int(attr, ctx, ld)
      val vs: Seq[Long] = fromFile match {
        case Some(f) => ld.ld(f).toSeq.sorted
        case None    => values
      }
      // membership on the raw 64-bit pattern (uint64 wrap, hpp:1522/1564);
      // Long equality is bit-pattern equality, so isin is exact. Catalyst
      // converts large lists to an InSet hash probe — the executor-local
      // analog of the reference's broadcast-style IdSet bitsets.
      val in = if (vs.isEmpty) lit(false) else a.isin(vs: _*)
      op match {
        case ListOp.In    => in
        case ListOp.NotIn => !in
      }

    case other => fail(s"Expected a bool expression, got ${other.productPrefix}")
  }

  private def isClosed: Column =
    size(col("nds")) > 0 &&
      get(col("nds"), lit(0)) === get(col("nds"), size(col("nds")) - 1)

  /** First value for key k — get_value_by_key returns the FIRST matching tag
    * (hpp:1391); null when absent. (A map lookup would need a dedup policy;
    * a first-match scan keeps the reference semantics and stays null-safe.)
    * A HOT key reads its materialized top-level column instead — same value
    * by construction ([[graft.engine.HotTags.projection]] materializes
    * [[tagLookup]], the cold path below), but statically resolvable and
    * pushdown-eligible. */
  private def tagValue(k: String, env: Env): Column = env.hot.get(k) match {
    case Some(c) => col(c)
    case None    => tagLookup(k)
  }

  /** The cold-path tag read: codegen'd first-match lookup of key `k` in the
    * `tags` column, parity-pinned against
    * `get(filter(tags, t => t.key === k), 0).value` — the HOF form is
    * CodegenFallback and allocates a filtered array per row
    * (graft.exprs.TagLookup scaladoc). */
  def tagLookup(k: String): Column =
    org.apache.spark.sql.GraftBridge.column(graft.exprs.TagLookup(
      org.apache.spark.sql.GraftBridge.expression(col("tags")), k))

  private def intNative(e: Expr, ctx: Ctx, ld: Env): Column = e match {
    case IntLit(v) => lit(v)
    case IntAttrExpr(a) => (a, ctx) match {
      case (IntAttr.Id, ObjCtx)        => col("id")
      case (IntAttr.Version, ObjCtx)   => col("version")
      case (IntAttr.Changeset, ObjCtx) => col("changeset")
      case (IntAttr.Uid, ObjCtx)       => col("uid")
      case (IntAttr.Ref, NdCtx(r))     => r
      case (IntAttr.Ref, MemberCtx(m)) => m.getField("ref")
      case _ => fail(s"@${a.name} is not valid in ${ctxName(ctx)} context")
    }
    // counting expressions are object-context only (hpp:1196-1309)
    case CountTags(sub) =>
      requireObj(ctx, "@tags")
      size(filter(col("tags"), t => bool(sub, TagCtx(t), ld))).cast("long")
    case CountNodes(sub) =>
      requireObj(ctx, "@nodes")
      when(col("type") === "way",
        size(filter(col("nds"), r => bool(sub, NdCtx(r), ld))).cast("long"))
        .otherwise(lit(0L))
    case CountMembers(sub) =>
      requireObj(ctx, "@members")
      when(col("type") === "relation",
        size(filter(col("members"), m => bool(sub, MemberCtx(m), ld))).cast("long"))
        .otherwise(lit(0L))
    case other => fail(s"Expected an integer expression, got ${other.productPrefix}")
  }

  private def regexPattern(r: Expr, ci: Boolean): String = r match {
    case RegexLit(p) => if (ci) "(?i)" + p else p
    case other => fail(s"regex comparison needs a regex literal, got ${other.productPrefix}")
  }

  private def requireObj(ctx: Ctx, what: String): Unit =
    if (ctx != ObjCtx) fail(s"$what is not valid in ${ctxName(ctx)} context")

  private def ctxName(ctx: Ctx): String = ctx match {
    case ObjCtx       => "object"
    case TagCtx(_)    => "tag"
    case NdCtx(_)     => "node-ref"
    case MemberCtx(_) => "member"
  }

  private def fail(msg: String): Nothing = throw new OflTypeException(msg)
}
