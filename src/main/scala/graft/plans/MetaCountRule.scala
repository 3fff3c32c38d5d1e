package graft.plans

import graft.io.StatsManifest
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, AttributeReference, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Opt-in optimizer rule (`spark.graft.manifest.metacount = true`) for
  * the METADATA-ONLY aggregate shapes over [[ManifestRegistry]]-registered
  * tables — the way Iceberg/Delta answer them. Three rewrites:
  * a bare `COUNT(*)` collapses to the footer row totals (COUNT includes
  * NULL rows, so file totals are unconditionally the answer); an
  * unfiltered global `MIN`/`MAX` over covered integral-domain columns
  * answers from footer stats alone (stats exclude NULLs — exactly the
  * aggregate's semantics — and any NULL stat declines); and a global
  * `COUNT(*)` under a band predicate is rewritten to the metadata-first
  * shape [[StatsManifest.countSplit]] plans:
  *
  * {{{ (boundary-file count under the ORIGINAL predicate) + metaRows }}}
  *
  * where `metaRows` is the footer row total of files whose stats band
  * sits wholly inside the query band with ZERO footer nulls (the nulls
  * channel licenses crediting blind), and the boundary scan covers only
  * the files straddling a band edge. Nothing executes at planning beyond
  * the manifest split itself (driver-side, file-count-sized — the same
  * magnitude as the file listing the planner already materializes); the
  * boundary count stays a lazy plan fragment.
  *
  * Exactness discipline — the crucial difference from
  * [[ManifestPruneRule]]: pruning may extract bounds CONSERVATIVELY
  * (keeping extra files only costs speed), but counting from metadata is
  * only sound when the folded bands are EXACTLY the predicate. So the
  * rewrite fires only when [[ManifestPredicate]] reads EVERY conjunct as
  * a comparison on a stats-covered column, folded exactly: strict
  * bounds tighten by one on the integral stat domains (`x > v` ⇔
  * `x ≥ v+1` — every manifest domain is integral), equality becomes
  * [v, v], and anything else (IN-list gaps, OR, expression-wrapped
  * columns, uncovered columns) abandons the rewrite entirely. The
  * boundary fragment re-applies the ORIGINAL predicate, so the rewrite
  * is row-for-row the source aggregate.
  */
object MetaCountRule extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    conf.getConfString("spark.graft.manifest.metacount", "false").toBoolean

  import ManifestPredicate._

  /** EXACT per-column bands, or None when any conjunct cannot be
    * represented exactly. Strict comparisons tighten by one (integral
    * domains); Long.MinValue/MaxValue endpoints that cannot tighten
    * abandon the rewrite (no silent wrap).
    */
  private def exactBounds(cond: Expression,
      statCols: Set[String]): Option[Seq[(String, Long, Long)]] = {
    val bands = read(cond).map(_.filter(c => statCols(c.column)).flatMap { c =>
      c.longs.flatMap(vs => (c.op, vs) match {
        case (AtLeast, Seq(v)) => Some((v, Long.MaxValue))
        case (Above, Seq(v)) if v < Long.MaxValue => Some((v + 1, Long.MaxValue))
        case (AtMost, Seq(v)) => Some((Long.MinValue, v))
        case (Below, Seq(v)) if v > Long.MinValue => Some((Long.MinValue, v - 1))
        case (Equal, Seq(v)) => Some((v, v))
        // the optimizer infers IsNotNull from every band conjunct; as a
        // FULL-RANGE band it is exact — the countSplit coverage check then
        // requires nulls_<col> == 0 before crediting a file blind, which
        // is precisely the IsNotNull semantics (and it makes a bare
        // `WHERE x IS NOT NULL` count itself metadata-answerable)
        case (NotNull, _) => Some((Long.MinValue, Long.MaxValue))
        case _ => None // IN-list gaps, <=>, prefixes: lossy — no rewrite
      }).map { case (lo, hi) => (c.column, lo, hi) }
    })
    if (bands.forall(_.isDefined)) Some(intersect(bands.flatten)) else None
  }

  /** A global COUNT(1) aggregate: Seq(alias of the bare count). */
  private object GlobalCount {
    def unapply(agg: Aggregate): Option[Alias] = agg match {
      case Aggregate(Nil, Seq(a @ Alias(
          AggregateExpression(Count(Seq(Literal(1, IntegerType))),
            Complete, false, None, _), _)), _, _) => Some(a)
      case _ => None
    }
  }

  /** Filter over a registered relation, looking through a pure-attribute
    * Project (what column pruning inserts under the aggregate).
    */
  private object FilteredScan {
    def unapply(p: LogicalPlan): Option[(Expression, LogicalRelation)] =
      p match {
        case Filter(cond, lr: LogicalRelation)
            if lr.relation.isInstanceOf[HadoopFsRelation] => Some((cond, lr))
        case Project(pl, Filter(cond, lr: LogicalRelation))
            if pl.forall(_.isInstanceOf[AttributeReference]) &&
              lr.relation.isInstanceOf[HadoopFsRelation] => Some((cond, lr))
        case _ => None
      }
  }

  /** A BARE registered relation (no filter), through the same optional
    * pure-attribute Project.
    */
  private object BareScan {
    def unapply(p: LogicalPlan): Option[LogicalRelation] = p match {
      case lr: LogicalRelation
          if lr.relation.isInstanceOf[HadoopFsRelation] => Some(lr)
      case Project(pl, lr: LogicalRelation)
          if pl.forall(_.isInstanceOf[AttributeReference]) &&
            lr.relation.isInstanceOf[HadoopFsRelation] => Some(lr)
      case _ => None
    }
  }

  /** A global aggregate whose every output is MIN or MAX of a bare
    * attribute: Seq((alias, attr, isMin)).
    */
  private object MinMaxAgg {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Max, Min}
    def unapply(agg: Aggregate)
        : Option[Seq[(Alias, AttributeReference, Boolean)]] = agg match {
      case Aggregate(Nil, exprs, _, _) if exprs.nonEmpty =>
        val converted = exprs.map {
          case a @ Alias(AggregateExpression(Min(attr: AttributeReference),
              Complete, false, None, _), _) => Some((a, attr, true))
          case a @ Alias(AggregateExpression(Max(attr: AttributeReference),
              Complete, false, None, _), _) => Some((a, attr, false))
          case _ => None
        }
        if (converted.forall(_.isDefined)) Some(converted.flatten) else None
      case _ => None
    }
  }

  /** COUNT under an exact band: metadata-credited rows + a lazy
    * boundary-file count fragment re-applying the original predicate.
    */
  private def rewriteFilteredCount(agg: Aggregate, alias: Alias,
      cond: Expression, lr: LogicalRelation): LogicalPlan = {
    ManifestRegistry.lookup(lr) match {
      case None => agg
      case Some((root, manifest)) =>
        exactBounds(cond, covered(manifest, "min_")) match {
          case None => agg
          case Some(bounds) =>
            val (metaRows, _, boundary) =
              StatsManifest.countSplit(manifest, bounds)
            // the original output attribute survives verbatim so every
            // parent resolves unchanged
            def out(e: Expression): NamedExpression =
              Alias(e, alias.name)(exprId = alias.exprId)
            if (boundary.isEmpty)
              Project(Seq(out(Literal(metaRows, LongType))), OneRowRelation())
            else {
              val bcnt = Alias(AggregateExpression(
                Count(Seq(Literal(1))), Complete, isDistinct = false),
                "graft_boundary_count")()
              val inner = Aggregate(Nil, Seq(bcnt),
                Filter(cond, restrictTo(lr, root, boundary)))
              Project(Seq(out(Add(bcnt.toAttribute,
                Literal(metaRows, LongType)))), inner)
            }
        }
    }
  }

  /** Unfiltered COUNT(*): Σ footer row counts — COUNT includes NULL rows,
    * so the file totals ARE the answer, unconditionally.
    */
  private def rewriteBareCount(agg: Aggregate, alias: Alias,
      lr: LogicalRelation): LogicalPlan =
    ManifestRegistry.lookup(lr) match {
      case None => agg
      case Some((_, manifest)) =>
        import org.apache.spark.sql.{functions => fn}
        val total = manifest
          .agg(fn.coalesce(fn.sum("rows"), fn.lit(0L))).head().getLong(0)
        Project(Seq(Alias(Literal(total, LongType),
          alias.name)(exprId = alias.exprId)), OneRowRelation())
    }

  /** Unfiltered global MIN/MAX over covered integral-domain columns:
    * footer stats exclude NULL values — exactly MIN/MAX semantics — so
    * when EVERY file carries stats for every referenced column the
    * extremes are metadata; any NULL stat (binary-backed, missing, or an
    * all-NULL chunk) declines the whole rewrite. An empty table answers
    * NULL, as the aggregate would.
    */
  private def rewriteMinMax(agg: Aggregate,
      parts: Seq[(Alias, AttributeReference, Boolean)],
      lr: LogicalRelation): LogicalPlan =
    ManifestRegistry.lookup(lr) match {
      case None => agg
      case Some((_, manifest)) =>
        val names = parts.map(_._2.name).distinct
        val reconstructible = parts.forall { case (_, attr, _) =>
          statLiteral(0L, attr.dataType).isDefined }
        if (!names.forall(covered(manifest, "min_")) || !reconstructible) agg
        else {
          import org.apache.spark.sql.{functions => fn}
          val sel = names.flatMap(c =>
            Seq(fn.col(s"min_$c"), fn.col(s"max_$c")))
          val rows = manifest.select(sel: _*).collect()
          def out(a: Alias, e: Expression): NamedExpression =
            Alias(e, a.name)(exprId = a.exprId)
          if (rows.isEmpty)
            Project(parts.map { case (a, attr, _) =>
              out(a, Literal(null, attr.dataType)) }, OneRowRelation())
          else if (rows.exists(r => (0 until 2 * names.size).exists(r.isNullAt)))
            agg // some file has no usable stats: metadata cannot answer
          else {
            val idx = names.zipWithIndex.toMap
            Project(parts.map { case (a, attr, isMin) =>
              val i = idx(attr.name) * 2
              val v =
                if (isMin) rows.map(_.getLong(i)).min
                else rows.map(_.getLong(i + 1)).max
              out(a, statLiteral(v, attr.dataType).get)
            }, OneRowRelation())
          }
        }
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled || ManifestRegistry.isEmpty) plan
    else plan.transformUp {
      case agg @ GlobalCount(alias) =>
        agg.child match {
          case FilteredScan(cond, lr) => rewriteFilteredCount(agg, alias, cond, lr)
          case BareScan(lr)           => rewriteBareCount(agg, alias, lr)
          case _                      => agg
        }
      case agg @ MinMaxAgg(parts) =>
        agg.child match {
          case BareScan(lr) => rewriteMinMax(agg, parts, lr)
          case _            => agg
        }
    }
}
