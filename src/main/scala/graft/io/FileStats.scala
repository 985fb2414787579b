package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveComparator
import org.apache.spark.sql.sources._

import scala.jdk.CollectionConverters._

/** Driver-side per-file column statistics, used to scope copy-on-write
  * row-level operations and plan-time file skipping to the files a
  * predicate can possibly touch (Iceberg's manifest-stats decision).
  * Stats are PERSISTED INTO THE MANIFEST at commit time
  * (`TableIO.commitStats` -> `Codec.StatRecord`) and primed into the
  * cache when a table is loaded, so planning is O(manifest); the
  * parquet footer read below is the fallback for pre-stats manifests
  * and skipped column types.
  *
  * Everything here is CONSERVATIVE: any column, type, filter shape, or
  * unreadable footer we don't understand yields "might match", which
  * only costs an unnecessary rewrite of that file — never a wrong
  * result. Supported prunes: Equal/In/>/>=/</<= and conjunctions over
  * top-level int/long/float/double/string columns, plus IsNull via the
  * footer null counts.
  */
object FileStats {

  /** Per-column (min, max, nullCount, hasValues) aggregated over the
    * file's row groups; None for columns whose stats are absent.
    *
    * `bloom` is an OPTIONAL per-file membership sketch over the
    * column's values (a serialized `org.apache.spark.util.sketch
    * .BloomFilter` built by `TableIO.addBloomIndex` over
    * `CAST(col AS STRING)`): it prunes equality/IN lookups that the
    * min/max range cannot — scattered keys give every file the full
    * [min, max] domain, so range stats keep ALL files while the bloom
    * keeps ~1. False positives only cost an unnecessary scan; false
    * negatives cannot occur, so pruning on it is sound. Footer-derived
    * stats never carry one; it rides the manifest.
    */
  final case class ColStats(min: Any, max: Any, nullCount: Long, rowCount: Long,
                            bloom: Option[Array[Byte]] = None)

  /** Stats memoized per absolute path — data files are immutable once
    * committed (overwrites write NEW files), so the cache never
    * staleses within a JVM. Populated from manifest-persisted stats
    * (`prime`) when tables load, or lazily from footers for files
    * committed before stats existed.
    */
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Map[String, ColStats]]()

  def cached(file: String, conf: Configuration): Map[String, ColStats] =
    cache.computeIfAbsent(file, f => read(f, conf))

  /** Seed the cache with stats PERSISTED IN A MANIFEST at commit time
    * (see TableCatalog.manifestStats) so plan-time pruning never opens
    * a footer — Iceberg's manifest-stats behavior. Sound because data
    * files are immutable once committed; `putIfAbsent` keeps whichever
    * source got there first (they agree by construction).
    */
  def prime(stats: Map[String, Map[String, ColStats]]): Unit =
    stats.foreach { case (f, s) =>
      // Merge PER COLUMN, preferring whichever entry carries a bloom:
      // min/max agree between footer and manifest by construction, but
      // addBloomIndex commits richer stats, and an entry-level "first
      // writer wins" would pin a later-indexed column's bloom out of
      // the cache for the JVM's lifetime (e.g. index column A, then
      // column B: B's bloom must still land).
      cache.merge(f, s, (old, neu) =>
        (old.keySet ++ neu.keySet).iterator.map { c =>
          c -> ((old.get(c), neu.get(c)) match {
            case (Some(o), Some(n)) => if (n.bloom.isDefined && o.bloom.isEmpty) n else o
            case (Some(o), None) => o
            case (None, n) => n.get
          })
        }.toMap)
    }

  /** Drop cache entries for files physically deleted by GC
    * (`removeOrphanFiles`) so a long-lived driver doesn't accumulate
    * stats for bytes that no longer exist.
    */
  def invalidate(files: Iterable[String]): Unit = files.foreach { f =>
    cache.remove(f)
    rowCountCache.remove(f)
  }

  /** Footer-only row count — no column statistics involved, so it
    * works even for files whose column stats the encoder skips.
    * Memoized: data files are immutable once committed, so repeated
    * counts over a stats-less legacy manifest pay the footer I/O once
    * per file per driver, not per call.
    */
  def rowCount(file: String, conf: Configuration): Long = {
    val hit = rowCountCache.get(file)
    if (hit != null) hit
    else {
      val n = footer(HadoopInputFile.fromPath(new Path(file), conf))
        .getBlocks.asScala.map(_.getRowCount).sum
      rowCountCache.put(file, n)
      n
    }
  }

  /** `file`'s footer without its row groups: all that schema
    * inference reads.
    */
  def schemaFooter(file: FileStatus, conf: Configuration): Footer =
    new Footer(file.getPath,
      footer(HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))

  /** The one footer open. Its read options come from the caller's
    * `conf`: `ParquetFileReader.open(file)` alone builds default
    * options over a fresh Hadoop `Configuration`, which scans the
    * classpath for `core-default.xml` on every call (9–10 ms per local
    * footer on a 4-core VM, against 0.25–0.36 ms here).
    */
  private def footer(file: HadoopInputFile,
                     filter: ParquetMetadataConverter.MetadataFilter =
                       ParquetMetadataConverter.NO_FILTER): ParquetMetadata = {
    val options = HadoopReadOptions.builder(file.getConfiguration, file.getPath)
      .withMetadataFilter(filter).build()
    val reader = ParquetFileReader.open(file, options)
    try reader.getFooter finally reader.close()
  }

  private val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def read(file: String, conf: Configuration): Map[String, ColStats] = {
    val blocks = footer(HadoopInputFile.fromPath(new Path(file), conf)).getBlocks.asScala
    val rowCount = blocks.map(_.getRowCount).sum
    blocks.flatMap(_.getColumns.asScala)
      .filter(c => c.getPath.size() == 1) // top-level only
      .groupBy(_.getPath.toDotString)
      .flatMap { case (name, chunks) =>
        val stats = chunks.map(_.getStatistics)
        // DECIMAL columns ship footer min/max as UNSCALED int32/int64
        // (or two's-complement binary) — comparing those raw against
        // the SCALED BigDecimal filter literal would prune wrongly
        // (123 vs 1.23). Rescale into java.math.BigDecimal here, at
        // the only place the parquet logical type (the scale) is in
        // hand.
        val decScale: Option[Int] =
          chunks.head.getPrimitiveType.getLogicalTypeAnnotation match {
            case d: org.apache.parquet.schema.LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
              Some(d.getScale)
            case _ => None
          }
        def conv(v: Any): Any = (decScale, v) match {
          case (Some(s), n: java.lang.Integer) => java.math.BigDecimal.valueOf(n.longValue(), s)
          case (Some(s), n: java.lang.Long) => java.math.BigDecimal.valueOf(n.longValue(), s)
          case (Some(s), b: Binary) =>
            new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), s)
          case (_, other) => other
        }
        if (stats.exists(s => s == null || !s.isNumNullsSet ||
            (!s.hasNonNullValue && s.getNumNulls == 0L))) None
        else {
          val nulls = stats.map(_.getNumNulls).sum
          val withValues = stats.filter(_.hasNonNullValue)
          if (withValues.isEmpty) Some(name -> ColStats(null, null, nulls, rowCount))
          else Some(name -> ColStats(
            withValues.map(s => conv(s.genericGetMin): Any).reduce(minOf),
            withValues.map(s => conv(s.genericGetMax): Any).reduce(maxOf),
            nulls, rowCount))
        }
      }
  }

  private def minOf(a: Any, b: Any): Any = if (cmp(a, b).exists(_ <= 0)) a else b
  private def maxOf(a: Any, b: Any): Any = if (cmp(a, b).exists(_ >= 0)) a else b

  /** Compare a stats value against a filter literal in a shared
    * domain; None when the pair isn't comparable (-> conservative).
    */
  private def cmp(statVal: Any, litVal: Any): Option[Int] = (statVal, litVal) match {
    // decimals compare EXACTLY in the decimal domain. An integral
    // partner converts losslessly; a float/double partner does not
    // (its decimal rendering is not its binary value) -> conservative
    // None rather than a boundary-wrong prune.
    case (a: java.math.BigDecimal, b: java.math.BigDecimal) => Some(a.compareTo(b))
    case (a: java.math.BigDecimal, b: java.lang.Number) if isIntegral(b) =>
      Some(a.compareTo(java.math.BigDecimal.valueOf(b.longValue())))
    case (a: java.lang.Number, b: java.math.BigDecimal) if isIntegral(a) =>
      Some(java.math.BigDecimal.valueOf(a.longValue()).compareTo(b))
    case (_: java.math.BigDecimal, _) | (_, _: java.math.BigDecimal) => None
    case (a: java.lang.Number, b: java.lang.Number)
        if isIntegral(a) && isIntegral(b) =>
      Some(java.lang.Long.compare(a.longValue(), b.longValue()))
    case (a: java.lang.Number, b: java.lang.Number) =>
      Some(java.lang.Double.compare(a.doubleValue(), b.doubleValue()))
    // parquet orders UTF8 binary min/max in UNSIGNED byte order; java
    // String.compareTo is UTF-16 code-unit order and the two disagree
    // for supplementary characters (anything above U+FFFF, e.g. emoji)
    // — comparing in the wrong order can "prove" a non-match and
    // silently drop a file, so compare literals as UTF-8 bytes in the
    // same unsigned order the stats were computed in
    case (a: Binary, b: String) =>
      Some(PrimitiveComparator.UNSIGNED_LEXICOGRAPHICAL_BINARY_COMPARATOR
        .compare(a, Binary.fromString(b)))
    case (a: Binary, b: Binary) =>
      Some(PrimitiveComparator.UNSIGNED_LEXICOGRAPHICAL_BINARY_COMPARATOR.compare(a, b))
    case _ => None
  }

  private def isIntegral(n: java.lang.Number): Boolean = n match {
    case _: java.lang.Integer | _: java.lang.Long | _: java.lang.Short | _: java.lang.Byte => true
    case _ => false
  }

  /** Conservative file-level evaluation: false ONLY when the footer
    * stats PROVE no row of the file can satisfy every filter.
    */
  def mightMatch(stats: Map[String, ColStats], filters: Seq[Filter]): Boolean =
    filters.forall(f => mightMatchOne(stats, f))

  private def mightMatchOne(stats: Map[String, ColStats], f: Filter): Boolean = f match {
    case EqualTo(a, v) =>
      rangeMayContain(stats.get(a), v) && bloomMayContain(stats.get(a), v)
    case In(a, vs) =>
      vs.isEmpty || vs.exists(v =>
        rangeMayContain(stats.get(a), v) && bloomMayContain(stats.get(a), v))
    case GreaterThan(a, v) =>
      stats.get(a).forall(s => s.max == null || cmp(s.max, v).forall(_ > 0))
    case GreaterThanOrEqual(a, v) =>
      stats.get(a).forall(s => s.max == null || cmp(s.max, v).forall(_ >= 0))
    case LessThan(a, v) =>
      stats.get(a).forall(s => s.min == null || cmp(s.min, v).forall(_ < 0))
    case LessThanOrEqual(a, v) =>
      stats.get(a).forall(s => s.min == null || cmp(s.min, v).forall(_ <= 0))
    case IsNull(a) => stats.get(a).forall(_.nullCount > 0)
    case IsNotNull(a) => stats.get(a).forall(s => s.min != null || s.nullCount < s.rowCount)
    case And(l, r) => mightMatchOne(stats, l) && mightMatchOne(stats, r)
    case Or(l, r) => mightMatchOne(stats, l) || mightMatchOne(stats, r)
    case _ => true // Not / string matches / unknown shapes: keep the file
  }

  private def rangeMayContain(s: Option[ColStats], v: Any): Boolean = s.forall { cs =>
    if (cs.min == null || cs.max == null) cs.nullCount > 0 || cs.min != null
    else cmp(cs.min, v).forall(_ <= 0) && cmp(cs.max, v).forall(_ >= 0)
  }

  /** The OTHER direction of [[mightMatch]]: does the predicate
    * PROVABLY select EVERY row of the file? `true` licenses a
    * metadata-only DELETE — the file drops from the manifest without
    * being read — so the default for anything unprovable is `false`
    * (which only costs a rewrite, never a wrong result). Null
    * semantics are SQL's: a comparison selects a NULL row as false, so
    * comparison shapes additionally require `nullCount == 0`.
    * Absent stats prove nothing.
    */
  def mustMatchAll(stats: Map[String, ColStats], filters: Seq[Filter]): Boolean =
    filters.forall(f => mustMatchOne(stats, f))

  private def mustMatchOne(stats: Map[String, ColStats], f: Filter): Boolean = f match {
    case EqualTo(a, v) => stats.get(a).exists(s =>
      s.nullCount == 0 && s.min != null &&
        cmp(s.min, v).contains(0) && cmp(s.max, v).contains(0))
    case In(a, vs) => vs.length == 1 && mustMatchOne(stats, EqualTo(a, vs.head))
    case GreaterThan(a, v) => stats.get(a).exists(s =>
      s.nullCount == 0 && s.min != null && cmp(s.min, v).exists(_ > 0))
    case GreaterThanOrEqual(a, v) => stats.get(a).exists(s =>
      s.nullCount == 0 && s.min != null && cmp(s.min, v).exists(_ >= 0))
    case LessThan(a, v) => stats.get(a).exists(s =>
      s.nullCount == 0 && s.max != null && cmp(s.max, v).exists(_ < 0))
    case LessThanOrEqual(a, v) => stats.get(a).exists(s =>
      s.nullCount == 0 && s.max != null && cmp(s.max, v).exists(_ <= 0))
    case IsNull(a) => stats.get(a).exists(s => s.nullCount == s.rowCount)
    case IsNotNull(a) => stats.get(a).exists(_.nullCount == 0)
    case And(l, r) => mustMatchOne(stats, l) && mustMatchOne(stats, r)
    case Or(l, r) => mustMatchOne(stats, l) || mustMatchOne(stats, r)
    case _ => false // Not / strings / unknown shapes: never provable
  }

  /** Bloom probe for equality/IN pruning. The index is built over
    * `CAST(col AS STRING)` (TableIO.addBloomIndex), so the probe
    * canonicalizes the filter literal the same way Spark's cast does;
    * types whose cast rendering is non-trivial (floating point,
    * date/time, decimal) are never probed — `true`, never a wrong
    * prune. Deserialization goes through BloomContains' weak identity
    * cache (the byte array lives in the stats cache, so its identity
    * is stable across calls).
    */
  private def bloomMayContain(s: Option[ColStats], v: Any): Boolean = s.forall { cs =>
    cs.bloom match {
      case None => true
      case Some(bytes) => canonicalKey(v) match {
        case None => true
        case Some(k) =>
          try graft.functions.BloomContains.contains(
            bytes, org.apache.spark.unsafe.types.UTF8String.fromString(k))
          catch { case scala.util.control.NonFatal(_) => true }
      }
    }
  }

  private def canonicalKey(v: Any): Option[String] = v match {
    case null => None
    case s: String => Some(s)
    case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
    case n @ (_: java.lang.Long | _: java.lang.Integer |
              _: java.lang.Short | _: java.lang.Byte) => Some(n.toString)
    case b: java.lang.Boolean => Some(b.toString)
    case _ => None // double/decimal/date/timestamp: cast rendering differs
  }
}

/** THE file-scoping rule: might a data file hold rows `filters` select,
  * and must EVERY row of it match? Answered from the two kinds of
  * metadata a file carries — its column stats (manifest-primed, footer
  * fallback, read under the table's LOGICAL names through `renames`)
  * and its layout directory (`layout`: the hidden partition spec, or the
  * identity transforms of a Hive-dir layout, whose dir value IS the
  * column value; `schema` supplies the source types). Every consumer —
  * copy-on-write DML scoping and its conflict filter, the SQL row-level
  * scans, the read scan's pruning and exact-prune proof, runtime
  * filtering — asks this one question, so their rules cannot drift.
  *
  * Total and conservative: an unreadable footer or unparseable dir
  * answers "might match" and "not provably all" — a wasted read or
  * rewrite, never a wrong row.
  */
private[io] final case class FileScope(layout: Seq[PartitionTransform],
                                       schema: org.apache.spark.sql.types.StructType,
                                       renames: Map[String, String] = Map.empty) {
  private val toLogical = renames.map(_.swap)
  @transient private lazy val conf =
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()

  private def stats(file: String): Map[String, FileStats.ColStats] = {
    val s = FileStats.cached(file, conf)
    if (toLogical.isEmpty) s else s.map { case (k, v) => toLogical.getOrElse(k, k) -> v }
  }

  /** False only when the layout dir or the stats PROVE no row of
    * `file` satisfies every filter.
    */
  def mightMatch(file: String, filters: Seq[Filter]): Boolean =
    filters.isEmpty ||
      (try
        (layout.isEmpty || PartitionTransforms.fileMightMatch(file, filters, layout, schema)) &&
          FileStats.mightMatch(stats(file), filters)
      catch { case scala.util.control.NonFatal(_) => true })

  /** True only when every filter is proven, per filter by the stats OR
    * by the layout dir, to hold for every row of `file` — the licence
    * for a metadata-only delete or a Filter-free exact scan.
    */
  def mustMatchAll(file: String, filters: Seq[Filter]): Boolean =
    try {
      lazy val s = stats(file)
      filters.forall(f =>
        (layout.nonEmpty && PartitionTransforms.fileMustMatchAll(file, Seq(f), layout, schema)) ||
          FileStats.mustMatchAll(s, Seq(f)))
    } catch { case scala.util.control.NonFatal(_) => false }
}
