package graft.plans

import graft.io.StatsManifest
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A filter read against a stats manifest: the ONE place that knows which
  * Catalyst conjunct shapes a manifest can check and how a value maps
  * into the manifest's domains. [[ManifestPruneRule]] folds the reading
  * conservatively (a superset of files is always sound);
  * [[MetaCountRule]] folds it exactly (any unreadable or lossy conjunct
  * declines the rewrite). Both restrict a scan to the files they keep
  * through [[restrictTo]].
  */
private[plans] object ManifestPredicate {

  /** A comparison, read with the column on the LEFT. */
  sealed trait Op
  case object AtLeast extends Op       // col >= v
  case object Above extends Op         // col > v
  case object AtMost extends Op        // col <= v
  case object Below extends Op         // col < v
  case object Equal extends Op         // col = v
  case object NullSafeEqual extends Op // col <=> v
  case object InList extends Op        // col IN (v...), the In form
  case object InHashSet extends Op     // the optimizer's large-list InSet
  case object Prefix extends Op        // StartsWith(col, v): LIKE 'v%'
  case object NotNull extends Op       // col IS NOT NULL

  /** One readable conjunct: `column op values`, each value in Catalyst's
    * internal representation with its type (one value for a comparison,
    * the members of an IN list, none for IS NOT NULL).
    */
  final case class Comparison(column: String, op: Op,
      values: Seq[(Any, DataType)]) {
    /** The values in the manifest's Long stat domain; None when any one
      * is outside it (a partial IN list would narrow unsoundly).
      */
    def longs: Option[Seq[Long]] = all(statLong)
    /** The values in the bloom probes' string-canonical domain. */
    def strings: Option[Seq[String]] = all(canonical)
    /** The values as printable-ASCII strings, the string-band domain. */
    def asciis: Option[Seq[String]] = all(ascii)

    private def all[T](f: (Any, DataType) => Option[T]): Option[Seq[T]] = {
      val vs = values.map(f.tupled)
      if (vs.forall(_.isDefined)) Some(vs.flatten) else None
    }
  }

  /** (column-left op, literal-left op) of each binary comparison. */
  private val binaryOps: PartialFunction[Expression, (Op, Op)] = {
    case _: GreaterThanOrEqual => (AtLeast, AtMost)
    case _: GreaterThan        => (Above, Below)
    case _: LessThanOrEqual    => (AtMost, AtLeast)
    case _: LessThan           => (Below, Above)
    case _: EqualTo            => (Equal, Equal)
    case _: EqualNullSafe      => (NullSafeEqual, NullSafeEqual)
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x         => Seq(x)
  }

  /** Every conjunct of `cond`, read; None for a conjunct that is not a
    * bare column compared with literals (an expression-wrapped column, a
    * column-vs-column comparison, an OR, an IN with a non-literal member).
    */
  def read(cond: Expression): Seq[Option[Comparison]] =
    conjuncts(cond).map(readOne)

  private def readOne(e: Expression): Option[Comparison] = {
    def cmp(a: AttributeReference, op: Op, vs: Seq[(Any, DataType)]) =
      Some(Comparison(a.name, op, vs))
    e match {
      case b if binaryOps.isDefinedAt(b) =>
        val (op, flipped) = binaryOps(b)
        b.children match {
          case Seq(a: AttributeReference, l: Literal) => cmp(a, op, Seq(l.value -> l.dataType))
          case Seq(l: Literal, a: AttributeReference) => cmp(a, flipped, Seq(l.value -> l.dataType))
          case _                                      => None
        }
      case In(a: AttributeReference, ls)
          if ls.nonEmpty && ls.forall(_.isInstanceOf[Literal]) =>
        cmp(a, InList, ls.map { case l: Literal => l.value -> l.dataType })
      case InSet(a: AttributeReference, hset) if hset.nonEmpty =>
        cmp(a, InHashSet, hset.toSeq.map(_ -> a.dataType))
      case StartsWith(a: AttributeReference, l: Literal) =>
        cmp(a, Prefix, Seq(l.value -> l.dataType))
      case IsNotNull(a: AttributeReference) => cmp(a, NotNull, Nil)
      case _                                => None
    }
  }

  /** A value in the manifest's Long stat domain. Post-analysis a
    * bare-column comparison has identical types on both sides, so a
    * value's Catalyst representation IS the parquet stats domain:
    * DateType = epoch-day Int (parquet DATE INT32), Timestamp(NTZ)Type =
    * epoch-µs Long (TIMESTAMP_MICROS; MILLIS files are µs-normalized at
    * manifest build), DecimalType ≤ 18 digits = unscaled long (the
    * INT32/INT64 layout Spark writes at those precisions; wider decimals
    * are binary-backed → NULL stats → never pruned, so skipping them here
    * is consistency, not just caution).
    */
  private def statLong(v: Any, dt: DataType): Option[Long] = (v, dt) match {
    case (v: Long, LongType | TimestampType | TimestampNTZType) => Some(v)
    case (v: Int, IntegerType | DateType)                       => Some(v.toLong)
    case (v: Short, ShortType)                                  => Some(v.toLong)
    case (v: Byte, ByteType)                                    => Some(v.toLong)
    case (d: Decimal, t: DecimalType)
        if t.precision <= Decimal.MAX_LONG_DIGITS => Some(d.toUnscaledLong)
    case _ => None
  }

  /** A stat long rendered back as a literal of the column's type: the
    * inverse of [[statLong]], defined exactly for every domain it covers.
    */
  def statLiteral(v: Long, dt: DataType): Option[Literal] = dt match {
    case LongType         => Some(Literal(v, LongType))
    case IntegerType      => Some(Literal(v.toInt, IntegerType))
    case ShortType        => Some(Literal(v.toShort, ShortType))
    case ByteType         => Some(Literal(v.toByte, ByteType))
    case DateType         => Some(Literal(v.toInt, DateType))
    case TimestampType    => Some(Literal(v, TimestampType))
    case TimestampNTZType => Some(Literal(v, TimestampNTZType))
    case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS =>
      Some(Literal(Decimal(v, d.precision, d.scale), d))
    case _ => None
  }

  /** A value in the bloom probe's string-canonical domain (see
    * [[graft.io.StatsManifest.withBlooms]]: build casts values through
    * `string`, so probes must render identically; only types whose cast
    * is a plain decimal rendering participate).
    */
  private def canonical(v: Any, dt: DataType): Option[String] = (v, dt) match {
    case (s: UTF8String, StringType) => Some(s.toString)
    case (_: Long, LongType) | (_: Int, IntegerType) |
         (_: Short, ShortType) | (_: Byte, ByteType) => Some(v.toString)
    case _ => None
  }

  /** A printable-ASCII string value: the only domain where UTF-8 byte
    * order, UTF8String order and Java char order provably coincide (see
    * [[graft.io.StatsManifest]]'s string-band contract).
    */
  private def ascii(v: Any, dt: DataType): Option[String] = (v, dt) match {
    case (s: UTF8String, StringType)
        if StatsManifest.isPrintableAscii(s.toString) => Some(s.toString)
    case _ => None
  }

  /** Per-column intersection of (column, lo, hi) bands, sorted by column. */
  def intersect(bands: Seq[(String, Long, Long)]): Seq[(String, Long, Long)] =
    bands.groupBy(_._1).toSeq.map { case (c, bs) =>
      (c, bs.map(_._2).max, bs.map(_._3).min)
    }.sortBy(_._1)

  /** The columns a manifest carries a `<prefix><column>` channel for. */
  def covered(manifest: DataFrame, prefix: String): Set[String] =
    manifest.columns.filter(_.startsWith(prefix)).map(_.stripPrefix(prefix)).toSet

  /** `lr` scanning only `files` of the table at `root`. `basePath` keeps
    * hive partition columns resolvable; the output attributes are the
    * same, so every parent resolves unchanged.
    */
  def restrictTo(lr: LogicalRelation, root: String,
      files: Seq[String]): LogicalRelation = {
    val fsRel = lr.relation.asInstanceOf[HadoopFsRelation]
    val session = fsRel.sparkSession
    val index = new InMemoryFileIndex(session, files.map(new Path(_)),
      Map("basePath" -> root), Some(fsRel.dataSchema))
    lr.copy(relation = fsRel.copy(location = index)(session))
  }
}
