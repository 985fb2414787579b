package graft.io

/** A named snapshot chain of a table — one entry of Iceberg's `refs`
  * map. `Main` is the table's own version chain (`v<N>.json`);
  * `Branch(name)` is a writable ref whose manifests
  * (`branch-<name>-v<N>.json`) share the table's data directory. Every
  * chain operation of [[TableCatalog]] and [[TableIO]] takes a ref and
  * defaults to `Main`, so main is just a branch that always exists.
  *
  * The rules that really differ by ref are stated once each:
  *   - a branch's fork record (v1) is pinned on expiry, and every branch
  *     commit re-asserts its fork-base prop
  *     ([[TableCatalog.commitSnapshotAt]], [[TableCatalog.expireSnapshots]]);
  *   - branch names are validated ([[Ref.Branch.validate]]);
  *   - main's expiry keeps tagged versions, and only main has
  *     `releaseStreamMark` and the legacy `stream_batch.txt` mark;
  *   - appends to an unknown branch fail loudly, while overwrite,
  *     merge-on-read and WAP writes fork the branch on first write
  *     ([[TableCatalog.forkLocked]]);
  *   - a copy-on-write replacement on a branch is pinned at its base
  *     and never rebased over a racer ([[Ref.rebases]]).
  */
sealed trait Ref {
  /** Manifest file name of version `v` on this chain. */
  def fileName(v: Int): String
  /** The version a `_graft_meta` file name holds on this chain, if any. */
  def versionOf(fileName: String): Option[Int]
  /** Human-readable chain name for messages. */
  def describe(table: String): String
  /** Label of a snapshot of this chain in scan/relation names. */
  def snapshotLabel(v: Int): String
  /** The changelog/stream origin: version 0 is main's empty pre-history,
    * a branch's v1 is its fork record, so diffing from it yields "the
    * branch's own changes".
    */
  def origin: Int
  /** Whether a copy-on-write replacement that lost its pinned commit
    * may rebase over the racer (main's optimistic retry). Branch
    * replacements stay pinned: the audit chain refuses loudly instead.
    */
  def rebases: Boolean
  /** "does not exist" message for this chain. */
  def missing(table: String): String
}

object Ref {
  case object Main extends Ref {
    private val File = "v(\\d+)\\.json".r
    def fileName(v: Int): String = s"v$v.json"
    def versionOf(fileName: String): Option[Int] = fileName match {
      case File(v) => Some(v.toInt)
      case _ => None
    }
    def describe(table: String): String = table
    def snapshotLabel(v: Int): String = s"v$v"
    val origin = 0
    val rebases = true
    def missing(table: String): String = s"table not found: $table"
  }

  final case class Branch(name: String) extends Ref {
    def fileName(v: Int): String = s"branch-$name-v$v.json"
    def versionOf(fileName: String): Option[Int] = fileName match {
      case BranchFile(b, v) if b == name => Some(v.toInt)
      case _ => None
    }
    def describe(table: String): String = s"$table branch $name"
    def snapshotLabel(v: Int): String = s"branch-$name@v$v"
    val origin = 1
    val rebases = false
    def missing(table: String): String = s"branch $name does not exist on $table"

    /** Filename-safe, non-numeric (same SQL-surface rule as tags). */
    def validate(): Unit = {
      require(name.nonEmpty && name.matches("[A-Za-z0-9_][A-Za-z0-9_.-]*"),
        s"branch names must be filename-safe ([A-Za-z0-9_.-]): '$name'")
      require(!name.forall(_.isDigit),
        s"branch names must not be purely numeric (ambiguous with version numbers): '$name'")
    }
  }

  /** Branch file pattern: the name is everything between `branch-`
    * and the LAST `-v<digits>.json` — greedy, so branch names may
    * themselves contain `-v2`-like substrings.
    */
  private[io] val BranchFile = "branch-(.+)-v(\\d+)\\.json".r
}
