package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType
import graft.engine.HotTags

/** Catalyst optimizer rule: rewrite plain-Spark tag predicates over a hot
  * view to the materialized `t_<key>` columns, so users who query the view
  * with their OWN DataFrame/SQL code — not graft's OFL compiler — still get
  * parquet-pushed, row-group-skipping scans.
  *
  * graft's compiler already targets hot columns (Compiler hot-aware
  * compile; 11.8× at 24M rows, BASELINE.md). But a hot view is an open
  * table: an analyst writing
  * `view.filter(exists($"tags", t => t("key") === "highway"))` or
  * `spark.sql("... WHERE exists(tags, t -> t.key = 'highway')")` gets the
  * cold shape — every tags array decoded, nothing pushed. This rule closes
  * that gap at the LOGICAL-PLAN level, where the built-in operators can't:
  * no Spark rule knows `t_highway` IS `first value of key 'highway'`. The
  * knowledge rides in the view's own column metadata
  * ([[HotTags.MetaKey]]), so the rule needs no configuration and is a
  * no-op on plans without tagged columns.
  *
  * Rewrites (inside any Filter condition, anywhere in the boolean tree):
  *
  *  - `exists(tags, t -> t.key = 'k')`                → `t_k IS NOT NULL`
  *  - `exists(tags, t -> t.key = 'k' AND t.value = v)` (either conjunct /
  *    operand order)                                  → `t_k IS NOT NULL AND t_k = v`
  *
  * Null-exactness: `exists` over a non-null array of non-null predicates
  * returns true/false, never null. `IsNotNull(t_k)` is likewise two-valued,
  * and the equality form conjoins `IsNotNull` so the absent-key case is
  * FALSE (not null) — `false AND null = false` under Kleene logic — which
  * makes the rewrite an equivalence, sound under `Not`. Both conjuncts are
  * source-pushable, unlike a `coalesce(equalTo, false)` wrapper.
  *
  * Contract (the hot view guarantees the first two): the tags ARRAY is
  * never null (coalesced to empty at materializeView — a null array would
  * make `exists` three-valued and break the Not case), tag VALUES are
  * never null (the span decode never yields one), and keys are unique per
  * element (the OSM data model; also what makes the compiler's
  * first-match semantics equal any-match `exists`).
  *
  * Registration: `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  * (cluster-wide, [[GraftExtensions]]), or per-session via
  * `spark.experimental.extraOptimizations :+= HotTagRewrite` — both run
  * before physical planning, so FileSourceStrategy sees the rewritten
  * Filter and pushes/prunes accordingly (plan pins: HotTagRewriteSpec).
  */
object HotTagRewrite extends Rule[LogicalPlan] {

  /** (lambda-variable id, struct field name) of `t.<field>` on a lambda var. */
  private object FieldOf {
    def unapply(e: Expression): Option[(ExprId, String)] = e match {
      case g @ GetStructField(v: NamedLambdaVariable, _, _) =>
        Some((v.exprId, g.extractFieldName))
      case _ => None
    }
  }

  /** `t.key = 'k'` (either operand order) → the key string. */
  private object KeyEq {
    def unapply(e: Expression): Option[(ExprId, String)] = e match {
      case EqualTo(FieldOf((id, "key")), Literal(s, StringType)) if s != null =>
        Some((id, s.toString))
      case EqualTo(Literal(s, StringType), FieldOf((id, "key"))) if s != null =>
        Some((id, s.toString))
      case _ => None
    }
  }

  /** `t.value = <string literal>` (either operand order) → the literal. */
  private object ValueEq {
    def unapply(e: Expression): Option[(ExprId, Literal)] = e match {
      case EqualTo(FieldOf((id, "value")), l @ Literal(_, StringType)) =>
        Some((id, l))
      case EqualTo(l @ Literal(_, StringType), FieldOf((id, "value"))) =>
        Some((id, l))
      case _ => None
    }
  }

  private def rewriteExists(ae: ArrayExists,
                            hot: Map[String, Attribute]): Option[Expression] =
    ae.function match {
      case LambdaFunction(body, Seq(v: NamedLambdaVariable), _) =>
        body match {
          case KeyEq((id, k)) if id == v.exprId =>
            hot.get(k).map(IsNotNull)
          case And(KeyEq((id1, k)), ValueEq((id2, lit)))
              if id1 == v.exprId && id2 == v.exprId =>
            hot.get(k).map(a => And(IsNotNull(a), EqualTo(a, lit)))
          case And(ValueEq((id2, lit)), KeyEq((id1, k)))
              if id1 == v.exprId && id2 == v.exprId =>
            hot.get(k).map(a => And(IsNotNull(a), EqualTo(a, lit)))
          case _ => None
        }
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      // Provenance guard: a plan with MORE than one tags column in scope
      // (a join of two hot views) cannot associate a t_<key> column with
      // the tags array it was derived from — attribute metadata carries no
      // source-relation link — so the rule backs off entirely rather than
      // rewrite exists(v1.tags, …) against v2's hot column. Likewise a key
      // served by two distinct hot attributes is dropped as ambiguous.
      val tagsAttrs = child.output.filter(_.name == "tags")
      val hotAll = child.output
        .filter(_.metadata.contains(HotTags.MetaKey))
        .groupBy(_.metadata.getString(HotTags.MetaKey))
      val hot: Map[String, Attribute] = hotAll.collect {
        case (k, Seq(one)) => k -> (one: Attribute)
      }
      if (hot.isEmpty || tagsAttrs.size != 1) f
      else {
        val tagsId = tagsAttrs.head.exprId
        val newCond = cond.transform {
          case ae: ArrayExists =>
            val onTags = ae.argument match {
              case a: AttributeReference => a.exprId == tagsId
              case _ => false
            }
            if (onTags) rewriteExists(ae, hot).getOrElse(ae) else ae
        }
        if (newCond.fastEquals(cond)) f else Filter(newCond, child)
      }
  }
}

/** Session-extension entry point:
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectOptimizerRule(_ => HotTagRewrite)
}
