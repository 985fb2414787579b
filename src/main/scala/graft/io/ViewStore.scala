package graft.io

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.annotation.JsonProperty
import com.fasterxml.jackson.databind.annotation.{JsonDeserialize, JsonSerialize}

/** Persisted catalog VIEWS for the graft warehouse — the storage half
  * of the DSv2 `ViewCatalog` surface (Iceberg's view spec, Delta's
  * catalog views re-expressed over our directory warehouse).
  *
  * A view is ONE file, `<warehouse>/<ns...>/<name>.view.json`, holding
  * the view SQL plus the context it must re-resolve under (the
  * creating session's current catalog + namespace — a bare `fact` in
  * the view body must mean the same table in every future session),
  * the schema captured at creation, declared column aliases/comments,
  * and properties. A FILE, deliberately: tables are directories
  * carrying `_graft_meta`, namespaces are bare directories, so a view
  * can never be mistaken for either by the existing listings, and
  * create/replace/rename inherit the same atomic filesystem semantics
  * as snapshot commits (exclusive hard-link create, atomic move).
  *
  * Scale note: view resolution is pure metadata — one ~KB file read at
  * ANALYSIS time per reference, zero data tasks — so this layer adds
  * nothing to executor-side cost at any table size.
  */
object ViewStore {

  /** Everything the DSv2 `View` interface reports, round-tripped
    * through one JSON document ([[Codec]]). `columnComments` aligns
    * 1:1 with `columnAliases` ("" = no comment) — both empty = no
    * alias list. A document without `sql` is corrupt and fails to
    * decode.
    */
  final case class ViewRecord(
      @JsonProperty(value = "sql", required = true) sql: String,
      @JsonProperty("schema") schemaJson: String = "",
      @JsonProperty("cat") currentCatalog: String = "",
      @JsonProperty("ns") currentNamespace: Seq[String] = Seq.empty,
      @JsonProperty("qcols") queryColumnNames: Seq[String] = Seq.empty,
      @JsonProperty("aliases") columnAliases: Seq[String] = Seq.empty,
      @JsonProperty("acomments") columnComments: Seq[String] = Seq.empty,
      @JsonProperty("props")
      @JsonSerialize(using = classOf[Codec.PairsOut])
      @JsonDeserialize(using = classOf[Codec.PairsIn])
      properties: Map[String, String] = Map.empty)

  private val Suffix = ".view.json"

  /** `<warehouse>/<ns dirs>/<name>.view.json` — name validated
    * filename-safe so a crafted view name can't escape the warehouse.
    */
  private def viewPath(warehouse: String, name: String): Path = {
    val parts = name.split('.')
    parts.foreach { p =>
      require(p.nonEmpty && p.matches("[A-Za-z0-9_][A-Za-z0-9_.-]*"),
        s"view name parts must be filename-safe ([A-Za-z0-9_.-]): '$name'")
    }
    Paths.get((warehouse +: parts.init).mkString("/")).resolve(parts.last + Suffix)
  }

  def exists(warehouse: String, name: String): Boolean =
    Files.isRegularFile(viewPath(warehouse, name))

  def load(warehouse: String, name: String): Option[ViewRecord] = {
    val p = viewPath(warehouse, name)
    if (!Files.isRegularFile(p)) None
    else Some(Codec.read[ViewRecord](p))
  }

  /** Create-exclusive (same primitive as snapshot commits): two
    * racing CREATE VIEWs resolve to exactly one winner; the loser
    * sees false and surfaces the standard already-exists error.
    */
  def create(warehouse: String, name: String, rec: ViewRecord): Boolean =
    Codec.createExclusive(viewPath(warehouse, name), Codec.encode(rec))

  /** Atomic replace — readers racing the move see the old or the new
    * document, never a torn one.
    */
  def replace(warehouse: String, name: String, rec: ViewRecord): Unit =
    Codec.replaceAtomic(viewPath(warehouse, name), Codec.encode(rec))

  def drop(warehouse: String, name: String): Boolean =
    Files.deleteIfExists(viewPath(warehouse, name))

  /** Rename without REPLACE_EXISTING: an existing target fails loudly
    * (FileAlreadyExistsException) instead of clobbering a view.
    */
  def rename(warehouse: String, from: String, to: String): Unit = {
    val dst = viewPath(warehouse, to)
    Files.createDirectories(dst.getParent)
    Files.move(viewPath(warehouse, from), dst)
  }

  /** Number of [[list]] directory listings performed — a test hook:
    * the MV rewrite rule's no-MV fast path is pinned by counting that
    * analysis of ordinary aggregates performs ZERO listings (the
    * mtime-validated cache in [[MaterializedViews.mvInfosOn]]).
    */
  val listCalls = new java.util.concurrent.atomic.LongAdder

  /** View names (last part only) directly under one namespace. */
  def list(warehouse: String, namespace: Seq[String]): Seq[String] = {
    listCalls.increment()
    val dir = Paths.get((warehouse +: namespace).mkString("/"))
    if (!Files.isDirectory(dir)) Seq.empty
    else Using.resource(Files.list(dir)) { s =>
      s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(Suffix))
        .map(_.getFileName.toString.stripSuffix(Suffix))
        .toSeq
    }.sorted
  }
}
