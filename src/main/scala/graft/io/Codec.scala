package graft.io

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.Base64

import scala.reflect.ClassTag

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.core.{JsonGenerator, JsonParser}
import com.fasterxml.jackson.databind.{DeserializationContext, DeserializationFeature, JsonDeserializer,
  JsonSerializer, ObjectMapper, SerializationFeature, SerializerProvider}
import com.fasterxml.jackson.databind.annotation.{JsonDeserialize, JsonSerialize}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.parquet.io.api.Binary

/** The one codec for every table-layer JSON document: snapshot
  * manifests (version, branch and staged), `meta.json`
  * ([[TableCatalog.TableMeta]]), `tags.json`, `*.view.json`
  * ([[ViewStore.ViewRecord]]) and the legacy sidecars. Each document
  * is a case-class record bound by Jackson. Unknown keys are ignored
  * and absent keys take the record's defaults, so a document from an
  * older writer decodes to the fields it has. Documents land on disk
  * through [[createExclusive]] or [[replaceAtomic]].
  */
private[graft] object Codec {

  /** The one mapper: the first Jackson + Scala-module use costs a cold
    * JVM about 0.5 s (4-core VM), so it is built once and shared.
    */
  private[graft] val mapper: ObjectMapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    .configure(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)
    .setDefaultPropertyInclusion(JsonInclude.Include.NON_ABSENT)

  def encode(doc: AnyRef): Array[Byte] = mapper.writeValueAsBytes(doc)

  /** Decode the document at `f`. A missing file throws
    * `NoSuchFileException`, which callers racing expiry catch.
    */
  def read[T](f: Path)(implicit ct: ClassTag[T]): T =
    mapper.readValue(Files.readAllBytes(f), ct.runtimeClass.asInstanceOf[Class[T]])

  /** A string map stored as a flat, key-sorted `[k1, v1, k2, v2, ...]`
    * array: the shape every map in these documents has always had.
    */
  final class PairsOut extends JsonSerializer[Map[String, String]] {
    def serialize(m: Map[String, String], g: JsonGenerator, p: SerializerProvider): Unit =
      p.defaultSerializeValue(m.toSeq.sortBy(_._1).flatMap { case (k, v) => Seq(k, v) }, g)
  }

  final class PairsIn extends JsonDeserializer[Map[String, String]] {
    def deserialize(p: JsonParser, c: DeserializationContext): Map[String, String] =
      p.readValueAs(classOf[Array[String]]).grouped(2).collect { case Array(k, v) => k -> v }.toMap
  }

  /** A snapshot manifest. `files` are table-root-relative (absolute
    * for files outside the root); `props` commit with them;
    * `colstats` aligns with `files`, each file's column -> stats map
    * (empty: nothing recorded, a footer read answers). Manifests
    * written before typed stats carry a string `stats` array instead,
    * which decodes as an unknown key: those files fall back to footer
    * reads, and a bloom index on them must be rebuilt.
    */
  final case class Manifest(files: Seq[String] = Seq.empty,
                            @JsonSerialize(using = classOf[PairsOut])
                            @JsonDeserialize(using = classOf[PairsIn])
                            props: Map[String, String] = Map.empty,
                            colstats: Seq[Map[String, StatRecord]] = Seq.empty) {
    /** Stats keyed by file path, as `files` spells it. */
    def statsByFile: Map[String, Map[String, FileStats.ColStats]] =
      files.zip(colstats).flatMap { case (f, cols) =>
        val decoded = cols.flatMap { case (c, r) => r.colStats.map(c -> _) }
        if (decoded.isEmpty) None else Some(f -> decoded)
      }.toMap
  }

  /** One column's stats in a manifest. `min`/`max` keep their exact
    * text per `kind`: `i` decimal integer, `f` `Double.toString`, `D`
    * `BigDecimal.toPlainString`, `s` base64 of the unsigned-order
    * bytes, `n` all-null (no min/max). No value passes through a JSON
    * number. Integrals decode as Long and floats as Double.
    */
  final case class StatRecord(kind: String, nulls: Long, rows: Long,
                              min: Option[String] = None, max: Option[String] = None,
                              bloom: Option[Array[Byte]] = None) {
    /** None for an unknown kind or a value that does not parse: absent
      * stats fall back to a footer read, never a wrong prune.
      */
    def colStats: Option[FileStats.ColStats] = {
      def value(s: String): Any = kind match {
        case "i" => java.lang.Long.valueOf(s)
        case "f" => java.lang.Double.valueOf(s)
        case "D" => new java.math.BigDecimal(s)
        case "s" => Binary.fromConstantByteArray(Base64.getDecoder.decode(s))
      }
      try (kind, min, max) match {
        case ("n", None, None) => Some(FileStats.ColStats(null, null, nulls, rows, bloom))
        case (_, Some(mn), Some(mx)) => Some(FileStats.ColStats(value(mn), value(mx), nulls, rows, bloom))
        case _ => None
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  object StatRecord {
    /** The record of one column's stats; None when its min/max types
      * have no kind (the column is then left out, and a footer read
      * answers for it).
      */
    def of(cs: FileStats.ColStats): Option[StatRecord] = {
      def enc(v: Any): Option[(String, String)] = v match {
        case n @ (_: java.lang.Integer | _: java.lang.Long | _: java.lang.Short | _: java.lang.Byte) =>
          Some("i" -> n.toString)
        case n: java.lang.Float => Some("f" -> n.doubleValue().toString)
        case n: java.lang.Double => Some("f" -> n.toString)
        case d: java.math.BigDecimal => Some("D" -> d.toPlainString)
        case b: Binary => Some("s" -> Base64.getEncoder.encodeToString(b.getBytes))
        case _ => None
      }
      if (cs.min == null && cs.max == null)
        Some(StatRecord("n", cs.nullCount, cs.rowCount, bloom = cs.bloom))
      else (enc(cs.min), enc(cs.max)) match {
        case (Some((k, mn)), Some((k2, mx))) if k == k2 =>
          Some(StatRecord(k, cs.nullCount, cs.rowCount, Some(mn), Some(mx), cs.bloom))
        case _ => None
      }
    }

    def of(cols: Map[String, FileStats.ColStats]): Map[String, StatRecord] =
      cols.flatMap { case (c, cs) => of(cs).map(c -> _) }
  }

  /** `tags.json`: tag name -> version number (as text). */
  final case class Tags(@JsonSerialize(using = classOf[PairsOut])
                        @JsonDeserialize(using = classOf[PairsIn])
                        tags: Map[String, String] = Map.empty)

  /** A pre-`meta.json` sidecar: `{"cols": [...]}` (pcols.json,
    * dropped.json) or `{"pairs": [...]}` (renames.json). Read only.
    */
  final case class Sidecar(cols: Seq[String] = Seq.empty, pairs: Seq[String] = Seq.empty)

  /** Land `doc` at `target` only if nothing is there: written to a
    * writer-unique tmp file, then hard-linked. The link is atomic (the
    * target appears fully formed) and exclusive: a racer to the same
    * name gets false and never clobbers the winner. A file system
    * without hard links falls back to an existence check and an
    * atomic move.
    */
  def createExclusive(target: Path, doc: Array[Byte]): Boolean = {
    val tmp = tmpFor(target, doc)
    try {
      try { Files.createLink(target, tmp); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException =>
          !Files.exists(target) && { Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE); true }
      }
    } finally { Files.deleteIfExists(tmp); () }
  }

  /** Replace `target` with `doc` by an atomic move of a writer-unique
    * tmp file: readers see the old document or the new one, never a
    * torn one.
    */
  def replaceAtomic(target: Path, doc: Array[Byte]): Unit =
    Files.move(tmpFor(target, doc), target,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)

  /** `doc` written beside `target` under a writer-unique name: two
    * racers sharing one tmp name could interleave write and link so
    * the winner links the loser's content.
    */
  private def tmpFor(target: Path, doc: Array[Byte]): Path = {
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s".${target.getFileName}-${java.util.UUID.randomUUID()}.tmp")
    Files.write(tmp, doc)
  }
}
