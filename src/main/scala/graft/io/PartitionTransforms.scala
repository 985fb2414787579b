package graft.io

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._

/** Hidden partition transforms — Iceberg's partition-spec idea
  * (reference builds on Iceberg: IngestionJob.scala:16-19 partitions
  * by a DERIVED `pickup_date` column the user must maintain by hand;
  * Iceberg itself, and this layer, derive the layout value from the
  * source column so the logical schema stays clean and predicates on
  * the SOURCE column still prune).
  *
  * A spec is a list of transform strings stored in table meta
  * (`pspec`): `days(ts)`, `hours(ts)`, `months(ts)`, `years(ts)`,
  * `bucket(16, user_id)`, `truncate(4, code)`, `identity(region)`.
  * Writers derive one hidden layout column per transform (named
  * `gp_<transform>_<col>`) and Hive-partition by it; readers drop the
  * layout columns, so they never appear in any query result or
  * schema. At plan time, filters on the source column are transformed
  * into constraints on the layout value and evaluated against each
  * file's partition directory — files that provably cannot match are
  * skipped before any task is scheduled (the partition-pruning half
  * of Iceberg's scan planning, next to the manifest-stats half in
  * `StatsPruningScanBuilder`).
  *
  * Pruning is conservative by construction: a transform that cannot
  * map a literal (unexpected type), a directory without the layout
  * key, and the null partition all keep the file. Time transforms are
  * UTC-fixed (epoch arithmetic on `unix_micros`), never
  * session-timezone — a layout must not depend on who wrote it.
  *
  * The layout-value computations are deliberately expressed twice —
  * once as a Spark `Column` (write path) and once driver-side on
  * plain JVM values (literal side of pruning) — and spec-pinned equal,
  * since a divergence would silently mis-prune.
  */
sealed trait PartitionTransform {
  /** Logical source column. */
  def src: String

  /** Hidden layout column name (the Hive partition directory key). */
  def derivedName: String

  /** Canonical spec string (what meta.json stores). */
  def spec: String

  /** Non-strictly order-preserving (allows range-predicate pruning)? */
  def monotonic: Boolean

  /** Derive the layout value as a Column from the source column.
    * `srcType` chooses the date-vs-timestamp arithmetic.
    */
  def column(c: Column, srcType: DataType): Column

  /** Driver-side layout value of a pushed literal; None = literal
    * type this transform cannot map (contributes no constraint).
    * Must agree with `column` bit for bit.
    */
  def literal(v: Any, srcType: DataType): Option[Any]
}

object PartitionTransforms {
  /** Prefix of every hidden layout column / directory key. Chosen to
    * not start with `_` or `.` (Spark's FileIndex hides such paths).
    */
  val Prefix = "gp_"

  private val DayMicros = 86400000000L
  private val HourMicros = 3600000000L

  /** Timestamp-typed literal -> epoch micros (UTC). Handles both the
    * default external type and the java8 API flavor.
    */
  private def microsOf(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant => Some(DateTimeUtils.instantToMicros(i))
    case l: java.time.LocalDateTime => Some(DateTimeUtils.localDateTimeToMicros(l))
    case _ => None
  }

  /** Date-typed literal -> epoch days. */
  private def epochDaysOf(v: Any): Option[Int] = v match {
    case d: java.sql.Date => Some(DateTimeUtils.fromJavaDate(d))
    case l: java.time.LocalDate => Some(Math.toIntExact(l.toEpochDay))
    case _ => None
  }

  /** Source value -> epoch days, for either source type. */
  private def daysOf(v: Any): Option[Long] =
    microsOf(v).map(Math.floorDiv(_, DayMicros)).orElse(epochDaysOf(v).map(_.toLong))

  /** Exact floor-division Column on longs: x - pmod(x, n) is the
    * floored multiple (pmod is non-negative, so this floors rather
    * than truncates for pre-1970 values), and dividing an exact
    * multiple below 2^53 through Double is exact (epoch micros stay
    * under 2^53 until year ~2255 — same bound the 52-bit portable
    * hash relies on).
    */
  private def floorDivCol(x: Column, n: Long): Column =
    floor((x - pmod(x, lit(n))) / lit(n)).cast(LongType)

  /** Epoch-day Column for a timestamp or date source. */
  private def epochDaysCol(c: Column, srcType: DataType): Column = srcType match {
    case DateType => datediff(c, to_date(lit("1970-01-01"))).cast(LongType)
    case _ => floorDivCol(unix_micros(c), DayMicros)
  }

  final case class Days(src: String) extends PartitionTransform {
    val derivedName = s"${Prefix}days_$src"
    val spec = s"days($src)"
    val monotonic = true
    def column(c: Column, srcType: DataType): Column = epochDaysCol(c, srcType)
    def literal(v: Any, srcType: DataType): Option[Any] = daysOf(v)
  }

  final case class Hours(src: String) extends PartitionTransform {
    val derivedName = s"${Prefix}hours_$src"
    val spec = s"hours($src)"
    val monotonic = true
    def column(c: Column, srcType: DataType): Column =
      floorDivCol(unix_micros(c), HourMicros)
    def literal(v: Any, srcType: DataType): Option[Any] =
      microsOf(v).map(Math.floorDiv(_, HourMicros))
  }

  /** Months since 1970-01 (Iceberg's convention), via the epoch day so
    * the calendar math never consults the session timezone.
    */
  final case class Months(src: String) extends PartitionTransform {
    val derivedName = s"${Prefix}months_$src"
    val spec = s"months($src)"
    val monotonic = true
    def column(c: Column, srcType: DataType): Column = {
      val d = date_add(to_date(lit("1970-01-01")), epochDaysCol(c, srcType).cast(IntegerType))
      ((year(d) - 1970) * 12 + month(d) - 1).cast(LongType)
    }
    def literal(v: Any, srcType: DataType): Option[Any] = daysOf(v).map { ed =>
      val ld = java.time.LocalDate.ofEpochDay(ed)
      (ld.getYear - 1970).toLong * 12 + ld.getMonthValue - 1
    }
  }

  final case class Years(src: String) extends PartitionTransform {
    val derivedName = s"${Prefix}years_$src"
    val spec = s"years($src)"
    val monotonic = true
    def column(c: Column, srcType: DataType): Column = {
      val d = date_add(to_date(lit("1970-01-01")), epochDaysCol(c, srcType).cast(IntegerType))
      (year(d) - 1970).cast(LongType)
    }
    def literal(v: Any, srcType: DataType): Option[Any] =
      daysOf(v).map(ed => (java.time.LocalDate.ofEpochDay(ed).getYear - 1970).toLong)
  }

  /** Murmur3 bucket — the exact `pmod(hash(c), n)` Spark computes, so
    * the literal side evaluates the same catalyst expression. Only
    * equality/IN predicates prune (a hash destroys order).
    */
  final case class Bucket(n: Int, src: String) extends PartitionTransform {
    require(n > 0, s"bucket width must be positive, got $n")
    val derivedName = s"${Prefix}bucket${n}_$src"
    val spec = s"bucket($n, $src)"
    val monotonic = false
    def column(c: Column, srcType: DataType): Column = pmod(hash(c), lit(n)).cast(LongType)
    def literal(v: Any, srcType: DataType): Option[Any] =
      try {
        val cat = CatalystTypeConverters.convertToCatalyst(v)
        val h = Murmur3Hash(Seq(Literal.create(cat, srcType)), 42).eval(null)
          .asInstanceOf[Int]
        Some((((h % n) + n) % n).toLong)
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Width-truncation: strings to their first `w` chars, integrals
    * floored to the nearest multiple of `w` — both order-preserving,
    * so ranges and (for strings) prefix predicates prune.
    */
  final case class Truncate(w: Int, src: String) extends PartitionTransform {
    require(w > 0, s"truncate width must be positive, got $w")
    val derivedName = s"${Prefix}trunc${w}_$src"
    val spec = s"truncate($w, $src)"
    val monotonic = true
    def column(c: Column, srcType: DataType): Column = srcType match {
      case StringType => substring(c, 1, w)
      case _ => (c.cast(LongType) - pmod(c.cast(LongType), lit(w.toLong)))
    }
    def literal(v: Any, srcType: DataType): Option[Any] = v match {
      case s: String => Some(PartitionTransforms.cpTruncate(s, w))
      case n: java.lang.Number =>
        val l = n.longValue()
        Some(l - (((l % w) + w) % w))
      case _ => None
    }
  }

  /** Identity keeps the source column as the visible layout column —
    * plain Hive partitioning inside a mixed spec. Spark's own
    * partition discovery prunes it natively; it is never hidden or
    * dropped on read.
    */
  final case class Identity(src: String) extends PartitionTransform {
    val derivedName = src
    val spec = s"identity($src)"
    val monotonic = true
    def column(c: Column, srcType: DataType): Column = c
    // only shapes whose directory rendering compares exactly: integral
    // numbers (as Long) and strings — a float's dir string is not a
    // reliable equality key
    def literal(v: Any, srcType: DataType): Option[Any] = v match {
      case s: String => Some(s)
      case n @ (_: java.lang.Long | _: java.lang.Integer |
                _: java.lang.Short | _: java.lang.Byte) =>
        Some(n.asInstanceOf[java.lang.Number].longValue())
      case _ => None
    }
  }

  /** First `w` CODE POINTS of `s` — Spark's `substring` counts code
    * points, not UTF-16 units, so the literal side must too or a
    * supplementary character (emoji) near the cut makes the two sides
    * of the "bit for bit" contract diverge and mis-prune.
    */
  private[io] def cpTruncate(s: String, w: Int): String =
    if (s.codePointCount(0, s.length) <= w) s
    else s.substring(0, s.offsetByCodePoints(0, w))

  /** The bucket layout value `path` carries for spec `b`, parsed to
    * the bucket ordinal — None when the directory is absent (pre-spec
    * file) or non-numeric (the Hive null partition: a null key has no
    * bucket, and a scan containing it cannot report key-grouped
    * partitioning). Feeds [[graft.io.KeyedLayoutScan]]'s totality
    * check.
    */
  private[io] def bucketDirValue(path: String, b: Bucket): Option[Int] =
    pathValue(path, b.derivedName).flatMap(v =>
      scala.util.Try(v.trim.toLong.toInt).toOption)

  /** The connector-side `Transform` for a layout transform — shared by
    * the table's `partitioning()` report and the keyed scan's
    * clustering so the two can never disagree.
    */
  private[io] def v2Transform(t: PartitionTransform)
      : org.apache.spark.sql.connector.expressions.Transform = {
    import org.apache.spark.sql.connector.expressions.Expressions
    t match {
      case Days(c) => Expressions.days(c)
      case Hours(c) => Expressions.hours(c)
      case Months(c) => Expressions.months(c)
      case Years(c) => Expressions.years(c)
      case Bucket(n, c) => Expressions.bucket(n, c)
      case Identity(c) => Expressions.identity(c)
      case tr: Truncate => Expressions.apply("truncate",
        Expressions.literal(tr.w), Expressions.column(tr.src))
    }
  }

  private val Fn1 = """(\w+)\s*\(\s*(\w+)\s*\)""".r
  private val Fn2 = """(\w+)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)""".r

  /** Parse one spec string; rejects unknown shapes loudly (a typo'd
    * spec silently ignored would write an unpartitioned layout).
    */
  def parse(s: String): PartitionTransform = s.trim match {
    case Fn1("days", c) => Days(c)
    case Fn1("hours", c) => Hours(c)
    case Fn1("months", c) => Months(c)
    case Fn1("years", c) => Years(c)
    case Fn1("identity", c) => Identity(c)
    case Fn2("bucket", n, c) => Bucket(n.toInt, c)
    case Fn2("truncate", w, c) => Truncate(w.toInt, c)
    case other => throw new IllegalArgumentException(
      s"unknown partition transform: '$other' (expected days/hours/months/years/" +
        "identity(col), bucket(n, col), or truncate(w, col))")
  }

  /** The layout value a file's path carries for `key`, unescaped with
    * Spark's own percent-unescape (NOT URLDecoder — Spark's
    * `escapePathName` does not escape '+', so URL-decoding would turn
    * a literal '+' in a string layout value into a space and
    * mis-prune); None when the path has no such directory. The Hive
    * null partition decodes to None-with-a-marker via
    * [[NullPartition]].
    */
  private[io] def pathValue(path: String, key: String): Option[String] = {
    val marker = s"/$key="
    val i = path.indexOf(marker)
    if (i < 0) None
    else {
      val start = i + marker.length
      val end = path.indexOf('/', start)
      val raw = if (end < 0) path.substring(start) else path.substring(start, end)
      Some(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(raw))
    }
  }

  private val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Compare a directory's (string) layout value to a transformed
    * literal: longs numerically, strings in UNSIGNED UTF-8 byte order
    * — Spark compares strings as UTF8 binary, and java's compareTo
    * (UTF-16 code units) disagrees for supplementary characters
    * (emoji), which would mis-prune (might) or mis-claim (must) a
    * range predicate against a string identity/truncate layout.
    */
  private def cmp(dir: String, lit: Any): Option[Int] = lit match {
    case l: Long => dir.toLongOption.map(java.lang.Long.compare(_, l))
    case s: String => Some(java.util.Arrays.compareUnsigned(
      dir.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    case _ => None
  }

  /** Can a file whose `t`-layout value is `dir` possibly hold a row
    * matching this pushed filter? `dir = None` means the path carries
    * no layout key (conservative: yes). Unknown filter shapes and
    * unmappable literals contribute no constraint.
    */
  private def might(t: PartitionTransform, srcType: DataType,
                    dir: Option[String], f: sources.Filter): Boolean = {
    def lv(v: Any): Option[Any] = t.literal(v, srcType)
    (dir, f) match {
      case (None, _) => true
      // The null partition holds rows whose LAYOUT value Spark's
      // partitionBy maps to __HIVE_DEFAULT_PARTITION__ — that is NULL
      // and (for string layouts) the EMPTY STRING. All transforms are
      // null-preserving, and the string-layout transforms
      // (truncate/identity on a string source) map '' -> '' — so the
      // source value of a row here is null, or '' when the transform
      // has a string layout. Keep the file iff the filter could match
      // either candidate value.
      case (Some(NullPartition), other) =>
        val emptyLandsHere = srcType == StringType && (t match {
          case Truncate(_, _) | Identity(_) => true
          case _ => false
        })
        // could a row whose source value is null (empty=false) or ''
        // (empty=true) satisfy f? Unknown shapes: conservative yes.
        def could(f: sources.Filter, empty: Boolean): Boolean = f match {
          case sources.IsNull(a) if a == t.src => !empty
          case sources.IsNotNull(a) if a == t.src => empty
          case sources.EqualTo(a, v) if a == t.src => empty && v == ""
          case sources.In(a, vs) if a == t.src => empty && vs.contains("")
          // '' is the minimal string: never > anything, >= only ''
          case sources.GreaterThan(a, _) if a == t.src => false
          case sources.GreaterThanOrEqual(a, v) if a == t.src => empty && v == ""
          case sources.LessThan(a, v) if a == t.src =>
            empty && v != null && v.toString.nonEmpty
          case sources.LessThanOrEqual(a, v) if a == t.src => empty && v != null
          case sources.StringStartsWith(a, p) if a == t.src => empty && p.isEmpty
          case sources.And(l, r) => could(l, empty) && could(r, empty)
          case sources.Or(l, r) => could(l, empty) || could(r, empty)
          case _ => true
        }
        could(other, empty = false) || (emptyLandsHere && could(other, empty = true))
      case (Some(d), sources.EqualTo(a, v)) if a == t.src =>
        lv(v).flatMap(cmp(d, _)).forall(_ == 0)
      case (Some(d), sources.In(a, vs)) if a == t.src =>
        vs.exists(v => lv(v).flatMap(cmp(d, _)).forall(_ == 0))
      // monotonic (non-strict): source > v  =>  layout >= t(v)
      case (Some(d), sources.GreaterThan(a, v)) if a == t.src && t.monotonic =>
        lv(v).flatMap(cmp(d, _)).forall(_ >= 0)
      case (Some(d), sources.GreaterThanOrEqual(a, v)) if a == t.src && t.monotonic =>
        lv(v).flatMap(cmp(d, _)).forall(_ >= 0)
      case (Some(d), sources.LessThan(a, v)) if a == t.src && t.monotonic =>
        // d == t(v) with v exactly at the period start proves NO row
        // can sit below v (rows of d never precede d's own start) —
        // the day-aligned upper bound `ts < next-day-midnight` drops
        // the next day's file instead of keeping it conservatively
        lv(v).flatMap(cmp(d, _)).forall(c =>
          c < 0 || (c == 0 && !periodStart(t, srcType, v)))
      case (Some(d), sources.LessThanOrEqual(a, v)) if a == t.src && t.monotonic =>
        lv(v).flatMap(cmp(d, _)).forall(_ <= 0)
      case (Some(d), sources.StringStartsWith(a, p)) if a == t.src =>
        t match {
          case Truncate(w, _) =>
            if (p.codePointCount(0, p.length) >= w) d == cpTruncate(p, w)
            else d.startsWith(p)
          case Identity(_) => d.startsWith(p)
          case _ => true
        }
      case (Some(d), sources.IsNotNull(a)) if a == t.src => true
      case (_, sources.And(l, r)) =>
        might(t, srcType, dir, l) && might(t, srcType, dir, r)
      case (_, sources.Or(l, r)) =>
        might(t, srcType, dir, l) || might(t, srcType, dir, r)
      case _ => true
    }
  }

  /** Plan-time file skip: keep the file unless some transform proves a
    * pushed conjunct cannot match. `schema` supplies source types for
    * the literal-side transforms; a source column missing from it
    * contributes no constraint.
    */
  def fileMightMatch(path: String, filters: Seq[sources.Filter],
                     specs: Seq[PartitionTransform],
                     schema: StructType): Boolean =
    specs.forall { t =>
      schema.find(_.name == t.src).forall { f =>
        val dir = pathValue(path, t.derivedName)
        filters.forall(might(t, f.dataType, dir, _))
      }
    }

  /** Is `v` the SMALLEST source value mapping to its layout value —
    * the period start for the time transforms? A layout value `d`
    * whose dir compares EQUAL to `t(v)` then proves `row >= v` for
    * every row of the file (rows in d can't go below d's own start).
    */
  private def periodStart(t: PartitionTransform, srcType: DataType, v: Any): Boolean = {
    // epoch day of v, requiring a timestamp to sit exactly on midnight
    def alignedEpochDay(v: Any): Option[Long] = microsOf(v) match {
      case Some(m) =>
        if (Math.floorMod(m, DayMicros) == 0L) Some(Math.floorDiv(m, DayMicros)) else None
      case None => epochDaysOf(v).map(_.toLong)
    }
    t match {
      case Identity(_) => true
      case Days(_) => alignedEpochDay(v).isDefined
      case Hours(_) => microsOf(v).exists(m => Math.floorMod(m, HourMicros) == 0L)
      case Months(_) => alignedEpochDay(v)
        .exists(d => java.time.LocalDate.ofEpochDay(d).getDayOfMonth == 1)
      case Years(_) => alignedEpochDay(v)
        .exists(d => java.time.LocalDate.ofEpochDay(d).getDayOfYear == 1)
      case _ => false // bucket is non-monotonic; truncate untreated
    }
  }

  /** Can the layout value PROVE that every row of the file satisfies
    * the filter? Dual of [[might]] and strictly conservative: `false`
    * is always safe (the caller falls back to reading rows). The
    * layout-dir invariant (every row's transform value IS the dir
    * value, established by the partitioned write) gives, for a
    * monotonic transform t and dir d:
    *   d > t(v)  ⟹  every row > v   (row ≤ v would put t(row) ≤ t(v) < d)
    *   d < t(v)  ⟹  every row < v
    *   d = t(v) and v is the period start  ⟹  every row ≥ v
    *   injective t (identity; days over a DATE source) and d = t(v)
    *     ⟹  every row = v
    * A non-null dir proves IsNotNull (transforms are null-preserving,
    * so null rows land only in the null partition).
    */
  private def must(t: PartitionTransform, srcType: DataType,
                   dir: Option[String], f: sources.Filter): Boolean = {
    def dcmp(v: Any): Option[Int] = t.literal(v, srcType).flatMap(cmp(dir.get, _))
    val injective = t match {
      case Identity(_) => true
      case Days(_) => srcType == DateType
      case _ => false
    }
    if (dir.isEmpty || dir.contains(NullPartition)) return false
    f match {
      case sources.EqualTo(a, v) if a == t.src =>
        injective && v != null && dcmp(v).contains(0)
      case sources.In(a, vs) if a == t.src =>
        vs.length == 1 && must(t, srcType, dir, sources.EqualTo(a, vs.head))
      case sources.GreaterThan(a, v) if a == t.src && t.monotonic =>
        dcmp(v).exists(_ > 0)
      case sources.GreaterThanOrEqual(a, v) if a == t.src && t.monotonic =>
        dcmp(v).exists(_ > 0) ||
          (dcmp(v).contains(0) && (injective || periodStart(t, srcType, v)))
      case sources.LessThan(a, v) if a == t.src && t.monotonic =>
        dcmp(v).exists(_ < 0)
      case sources.LessThanOrEqual(a, v) if a == t.src && t.monotonic =>
        dcmp(v).exists(_ < 0) || (injective && dcmp(v).contains(0))
      case sources.IsNotNull(a) if a == t.src => true
      case sources.And(l, r) =>
        must(t, srcType, dir, l) && must(t, srcType, dir, r)
      case sources.Or(l, r) =>
        must(t, srcType, dir, l) || must(t, srcType, dir, r)
      case _ => false
    }
  }

  /** Path-arithmetic MUST-match (the layout dual of
    * [[fileMightMatch]]): true only when EVERY filter is proven to
    * hold for every row of the file by some transform's layout value.
    * This is what makes "how many rows did yesterday ingest?" a
    * metadata-only answer on a days()-partitioned table: the
    * day-aligned predicate fully covers every surviving file.
    */
  def fileMustMatchAll(path: String, filters: Seq[sources.Filter],
                       specs: Seq[PartitionTransform],
                       schema: StructType): Boolean =
    filters.forall { f =>
      specs.exists { t =>
        schema.find(_.name == t.src).exists { sf =>
          must(t, sf.dataType, pathValue(path, t.derivedName), f)
        }
      }
    }
}

/** Conservative catalyst -> v1 `Filter` translation, shared by the
  * catalog scan's pruning passes and `TableIO.readWhere`: shapes it
  * doesn't recognize contribute NO constraint (the full expression
  * still evaluates row-level downstream, so pruning stays an
  * optimization, never a semantics change).
  */
private[io] object FilterTranslation {
  /** Column name of an attribute — resolved (`AttributeReference`,
    * the catalog-scan path) or unresolved (`UnresolvedAttribute`, the
    * `readWhere(col("ts") >= ...)` path, whose Column expressions
    * never pass an analyzer).
    */
  private object Attr {
    def unapply(
        e: org.apache.spark.sql.catalyst.expressions.Expression): Option[String] = e match {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => Some(a.name)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => Some(u.name)
      case _ => None
    }
  }

  def toV1(
      e: org.apache.spark.sql.catalyst.expressions.Expression
  ): Option[org.apache.spark.sql.sources.Filter] = toV1(e, strict = false)

  /** A programmatic condition as v1 filters under `schema`'s (logical)
    * names: resolved and constant-folded against an EMPTY probe of the
    * schema — what a DSv2 pushdown would see, with no scan for the
    * optimizer to push the predicate into. The first result keeps
    * whatever translates (sound for might-match skipping); the second
    * is defined only when the WHOLE condition translated strictly, the
    * licence a must-match proof needs. A condition that fails to
    * resolve translates to nothing.
    */
  def ofCondition(schema: StructType, cond: org.apache.spark.sql.Column)
      : (Seq[org.apache.spark.sql.sources.Filter], Option[Seq[org.apache.spark.sql.sources.Filter]]) =
    try {
      val spark = org.apache.spark.sql.SparkSession.active
      val probe = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema).filter(cond)
      val conds = probe.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }
      val strict = conds.map(toV1(_, strict = true))
      // no Filter node left proves nothing: the optimizer drops a
      // constant-false condition along with its Filter
      (conds.flatMap(toV1(_)),
        if (conds.nonEmpty && strict.forall(_.isDefined)) Some(strict.flatten) else None)
    } catch { case scala.util.control.NonFatal(_) => (Seq.empty, None) }

  /** `strict = false` (pruning): a partially-translated conjunction
    * yields the translated side — a WEAKER constraint, sound for
    * might-match skipping. `strict = true` (exact-prune claims): any
    * untranslatable piece fails the whole expression — a must-match
    * proof over a weakened filter would claim more than it proved.
    */
  def toV1(
      e: org.apache.spark.sql.catalyst.expressions.Expression, strict: Boolean
  ): Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
    import org.apache.spark.sql.catalyst.expressions._
    e match {
      case EqualTo(Attr(a), Literal(v, dt)) =>
        Some(sources.EqualTo(a, convertToScala(v, dt)))
      case EqualTo(Literal(v, dt), Attr(a)) =>
        Some(sources.EqualTo(a, convertToScala(v, dt)))
      case GreaterThan(Attr(a), Literal(v, dt)) =>
        Some(sources.GreaterThan(a, convertToScala(v, dt)))
      case GreaterThan(Literal(v, dt), Attr(a)) =>
        Some(sources.LessThan(a, convertToScala(v, dt)))
      case GreaterThanOrEqual(Attr(a), Literal(v, dt)) =>
        Some(sources.GreaterThanOrEqual(a, convertToScala(v, dt)))
      case GreaterThanOrEqual(Literal(v, dt), Attr(a)) =>
        Some(sources.LessThanOrEqual(a, convertToScala(v, dt)))
      case LessThan(Attr(a), Literal(v, dt)) =>
        Some(sources.LessThan(a, convertToScala(v, dt)))
      case LessThan(Literal(v, dt), Attr(a)) =>
        Some(sources.GreaterThan(a, convertToScala(v, dt)))
      case LessThanOrEqual(Attr(a), Literal(v, dt)) =>
        Some(sources.LessThanOrEqual(a, convertToScala(v, dt)))
      case LessThanOrEqual(Literal(v, dt), Attr(a)) =>
        Some(sources.GreaterThanOrEqual(a, convertToScala(v, dt)))
      case In(Attr(a), vs) if vs.forall(_.isInstanceOf[Literal]) =>
        Some(sources.In(a,
          vs.map { case Literal(v, dt) => convertToScala(v, dt) }.toArray))
      case InSet(a: AttributeReference, vs) =>
        Some(sources.In(a.name, vs.map(convertToScala(_, a.dataType)).toArray))
      case IsNull(Attr(a)) => Some(sources.IsNull(a))
      case IsNotNull(Attr(a)) => Some(sources.IsNotNull(a))
      // LIKE 'p%' optimizes to StartsWith — prunes truncate/identity
      // partition dirs (FileStats.mightMatch ignores shapes it can't use)
      case StartsWith(Attr(a), Literal(v, StringType)) =>
        Some(sources.StringStartsWith(a, v.toString))
      case And(l, r) =>
        (toV1(l, strict), toV1(r, strict)) match {
          case (Some(lf), Some(rf)) => Some(sources.And(lf, rf))
          case _ if strict => None
          case (one, other) => one.orElse(other) // a conjunct alone is still a valid constraint
        }
      case Or(l, r) =>
        for { lf <- toV1(l, strict); rf <- toV1(r, strict) } yield sources.Or(lf, rf)
      case _ => None
    }
  }
}
