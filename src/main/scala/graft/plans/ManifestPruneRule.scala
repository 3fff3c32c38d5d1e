package graft.plans

import graft.io.StatsManifest
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, Expression, Or}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Driver-side registry of stats manifests ([[graft.io.StatsManifest]])
  * keyed by the qualified table root path — what [[ManifestPruneRule]]
  * and [[MetaCountRule]] consult. Registering is the caller's statement
  * that the manifest is CURRENT for that directory: its file list is the
  * data version readers see, so a writer that replaces the directory's
  * files must deregister (or re-register) it.
  * Driver-sized state: one (path, manifest-frame) entry per table.
  */
object ManifestRegistry {
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def qualify(s: SparkSession, root: String): String = {
    val p = new Path(root)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  def register(s: SparkSession, root: String, manifest: DataFrame): Unit =
    entries.put(qualify(s, root), manifest)

  def deregister(s: SparkSession, root: String): Unit =
    entries.remove(qualify(s, root))

  private[plans] def isEmpty: Boolean = entries.isEmpty

  /** The manifest for a file scan whose (single) root path IS a
    * registered table root. A pruned relation's index roots are leaf
    * FILES, which never match a registered directory — that asymmetry is
    * the rules' idempotence guard.
    */
  private[plans] def lookup(lr: LogicalRelation): Option[(String, DataFrame)] =
    lr.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths match {
        case Seq(only) => Option(entries.get(only.toString)).map(only.toString -> _)
        case _         => None
      }
      case _ => None
    }
}

/** Opt-in optimizer rule (`spark.graft.manifest.prune = true`): a filter
  * over a parquet table whose root is registered in [[ManifestRegistry]]
  * is rewritten to scan ONLY the files the manifest's per-file min/max
  * cannot rule out, the way a table format's planner integration works.
  * The predicate itself is untouched (the engine still decides what to
  * RETURN), so lossy or NULL stats only cost skipping; bounds are folded
  * conservatively
  * (bare attribute-vs-literal comparison conjuncts only — an
  * expression-wrapped column contributes nothing and the file keeps).
  * Disjunctions prune set-algebraically (r11): OR keeps the UNION of its
  * branches' surviving files, AND the intersection, and a branch with no
  * extractable stats keeps everything — so `d BETWEEN a AND b OR d
  * BETWEEN c AND e` (the classic two-period report) scans only the two
  * bands' files, while `x = 1 OR unknowable(y)` soundly keeps all.
  * Conjuncts are read by [[ManifestPredicate]], whose value domains
  * mirror what [[StatsManifest]] records — so `o_orderdate >=
  * DATE '1995-01-01'`, the #1 real skipping predicate, prunes.
  * IN-lists (both the `In` form and the optimizer's `InSet`) contribute
  * their [min, max] envelope — the #2 skipping shape (dimension-key and
  * partition-date lists). When the manifest carries bloom sidecars
  * ([[StatsManifest.withBlooms]]), equality/IN predicates additionally
  * probe the per-file blooms — skipping on UNclustered high-cardinality
  * columns where min/max spans everything (the Delta bloom-index case).
  *
  * The manifest lookup during optimization runs a driver-side collect
  * over the manifest frame — manifest-sized (one row per file, the same
  * magnitude as the file listing planning already materializes), and the
  * frames `StatsManifest.build/append` return are eager localCheckpoints,
  * so no lineage recomputation hides behind it.
  */
object ManifestPruneRule extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    conf.getConfString("spark.graft.manifest.prune", "false").toBoolean

  import ManifestPredicate._

  /** Conservative long band of one comparison: `>`/`>=` both widen to
    * `>=` and `<`/`<=` to `<=` (a superset of matching files is always
    * sound); IN lists bound to [min, max] of their members, lossy between
    * the extremes, which only costs skipping.
    */
  private def longBand(c: Comparison): Option[(Long, Long)] =
    c.longs.flatMap { vs =>
      c.op match {
        case AtLeast | Above => Some((vs.head, Long.MaxValue))
        case AtMost | Below  => Some((Long.MinValue, vs.head))
        case Equal | NullSafeEqual | InList | InHashSet =>
          Some((vs.min, vs.max))
        case _ => None
      }
    }

  /** String band of one comparison, same conservative discipline;
    * `StartsWith` (what `LIKE 'p%'` simplifies to by this point in the
    * optimizer) contributes [p, bump(p)].
    */
  private def strBand(c: Comparison): Option[(Option[String], Option[String])] =
    c.asciis.flatMap { vs =>
      c.op match {
        case AtLeast | Above => Some((Some(vs.head), None))
        case AtMost | Below  => Some((None, Some(vs.head)))
        case Equal | NullSafeEqual | InList | InHashSet =>
          Some((Some(vs.min), Some(vs.max)))
        case Prefix => Some((Some(vs.head), StatsManifest.bump(vs.head)))
        case _      => None
      }
    }

  /** Equality/IN point set of one comparison for the bloom probes. */
  private def points(c: Comparison): Option[Seq[String]] = c.op match {
    case Equal | NullSafeEqual | InList | InHashSet => c.strings
    case _                                          => None
  }

  /** Surviving-file set of `cond`, or None when the predicate carries no
    * extractable stats (keep everything — sound). Disjunctions union
    * their branches' sets; conjunctions intersect (a branch with no
    * stats constrains nothing); an OR nested under anything else (e.g. a
    * un-simplified NOT) contributes nothing. Or-free subtrees evaluate
    * in ONE `pruneFiles` pass exactly as the conjunct-only rule did, so
    * the driver-side manifest work stays proportional to the number of
    * OR branches, not the conjunct count.
    */
  private def keptFiles(cond: Expression, manifest: DataFrame,
      rangeCols: Set[String], bloomCols: Set[String],
      strCols: Set[String]): Option[Seq[String]] = {
    def hasOr(e: Expression): Boolean = e.exists(_.isInstanceOf[Or])
    cond match {
      case Or(l, r) =>
        for {
          a <- keptFiles(l, manifest, rangeCols, bloomCols, strCols)
          b <- keptFiles(r, manifest, rangeCols, bloomCols, strCols)
        } yield (a ++ b).distinct
      case And(l, r) if hasOr(cond) =>
        (keptFiles(l, manifest, rangeCols, bloomCols, strCols),
          keptFiles(r, manifest, rangeCols, bloomCols, strCols)) match {
          case (Some(a), Some(b)) => Some(a.intersect(b))
          case (a, None)          => a
          case (None, b)          => b
        }
      case _ if hasOr(cond) => None
      case leaf =>
        val read = ManifestPredicate.read(leaf).flatten
        val bounds = intersect(read.filter(c => rangeCols(c.column))
          .flatMap(c => longBand(c).map { case (lo, hi) => (c.column, lo, hi) }))
          .filter { case (_, lo, hi) => lo != Long.MinValue || hi != Long.MaxValue }
        val pts = read.filter(c => bloomCols(c.column))
          .flatMap(c => points(c).map(c.column -> _))
        val strBounds = read.filter(c => strCols(c.column))
          .flatMap(c => strBand(c).map(c.column -> _))
          .groupBy(_._1).toSeq.map { case (c, bs) =>
            (c, bs.flatMap(_._2._1).maxOption, bs.flatMap(_._2._2).minOption)
          }.sortBy(_._1)
        if (bounds.isEmpty && pts.isEmpty && strBounds.isEmpty) None
        else Some(StatsManifest.pruneFiles(manifest, bounds, pts, strBounds))
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled || ManifestRegistry.isEmpty) plan
    else plan.transformUp {
      case f @ Filter(cond, lr: LogicalRelation) =>
        ManifestRegistry.lookup(lr).flatMap { case (root, manifest) =>
          keptFiles(cond, manifest, covered(manifest, "min_"),
            covered(manifest, "bloom_"), covered(manifest, "smin_"))
            .filter(_.size < lr.relation.asInstanceOf[HadoopFsRelation]
              .location.inputFiles.length)
            // the predicate is re-applied in full
            .map(kept => Filter(cond, restrictTo(lr, root, kept)))
        }.getOrElse(f)
    }
}
