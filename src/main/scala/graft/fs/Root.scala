package graft.fs

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** One folder of a tree operator, however its caller spelled it.
  *
  * `/abs`, `file:/abs`, `file:///abs` and `/abs/` name one folder, and a
  * listing spells its children `file:/abs/…` whichever of them was
  * listed. Each public tree entry (list, size, copy, diff, sync, move,
  * delete, ACL, compaction, promotion) builds one `Root` from the
  * caller's string, and its internals compare paths only through it: by
  * [[key]], the decoded URI path, which every spelling shares and which
  * `listStatus`, `makeQualified` and re-parsing keep, names with a space,
  * `%3A` or `=` included. Building one makes no storage call, and the
  * path arithmetic needs no file system: [[fs]] is looked up on first use.
  */
private[graft] final class Root private (spelled: Path, private[graft] val conf: Configuration) {

  /** The file system the folder is on. */
  lazy val fs: FileSystem = spelled.getFileSystem(conf)

  /** The folder as a listing spells it: `file:/abs` for each spelling above. */
  lazy val path: Path = fs.makeQualified(spelled)

  private val absolute = if (spelled.isUriPathAbsolute) spelled else path

  /** The decoded URI path: `/abs` for each spelling above. */
  val key: String = absolute.toUri.getPath

  /** The percent-encoded URI path, as `_metadata.file_path` spells it. */
  lazy val rawKey: String = absolute.toUri.getRawPath

  /** `listed` relative to this folder, "" for the folder itself; throws
    * for a path outside it.
    */
  def rel(listed: String): String = Root.relative(key, Root.key(listed)).getOrElse(
    throw new IllegalArgumentException(s"path $listed is not under $key"))

  /** Whether `uri` spells this folder. */
  def spelledBy(uri: String): Boolean = Root.key(uri) == key

  /** The path `rel` names under this folder. */
  def child(rel: String): Path = if (rel.isEmpty) path else Root.childOf(path, rel)

  /** Where `listed`, a path under this folder, goes under `to`. */
  def rebase(listed: String, to: Root): String = to.child(rel(listed)).toString

  /** Whether `other` resolves to this folder's file system (so a rename
    * can move between them), decided as `FileSystem.get` picks one: by
    * scheme and authority, a missing one taken from the default file
    * system. Looks up neither file system.
    */
  def sameFileSystem(other: Root): Boolean = fsId == other.fsId

  private def fsId: (String, String) = {
    val (u, d) = (spelled.toUri, FileSystem.getDefaultUri(conf))
    if (u.getScheme == null || (u.getAuthority == null && u.getScheme == d.getScheme)) (d.getScheme, d.getAuthority)
    else (u.getScheme, u.getAuthority)
  }

  /** The column twin of [[rel]] over a listing's URI strings, in
    * codegen'd built-ins: a Scala UDF would fence whole-stage codegen on
    * the path that exists for huge listings. A path outside the folder
    * fails the query.
    */
  def relCol(uris: Column): Column = {
    val p = regexp_replace(uris, Root.SchemeAuthority, "")
    val prefix = Root.prefixOf(key)
    when(p === lit(key), lit(""))
      .when(substring(p, 1, prefix.length) === lit(prefix), substring(p, prefix.length + 1, Int.MaxValue))
      .otherwise(raise_error(concat(lit("listed path "), uris, lit(s" is not under root $key"))))
  }

  /** The column twin of [[child]]: the URI strings the relative paths
    * `rels` name under this folder.
    */
  def childCol(rels: Column): Column = {
    val base = path.toString
    concat(lit(if (base.endsWith("/")) base else base + "/"), rels)
  }

  override def toString: String = spelled.toString
}

private[graft] object Root {

  def apply(uri: String)(implicit conf: Configuration): Root = new Root(new Path(uri), conf)

  /** The decoded URI path of `uri`: the one string all its spellings share. */
  def key(uri: String): String = new Path(uri).toUri.getPath

  /** `k`, a [[key]], relative to the folder whose key is `root`: "" for
    * the folder itself, None outside it.
    */
  def relative(root: String, k: String): Option[String] =
    if (k == root) Some("")
    else Some(prefixOf(root)).filter(k.startsWith).map(p => k.substring(p.length))

  private def prefixOf(root: String): String = if (root.endsWith("/")) root else root + "/"

  /** A percent-encoded URI — a catalog table's location, a file
    * `Dataset.inputFiles` names — as a listing spells it: `file:/a b`
    * for `file:///a%20b`.
    */
  def listed(uri: java.net.URI): String = new Path(uri).toString

  /** The path `name` names in the listed folder `dir`. */
  def childOf(dir: Path, name: String): Path = new Path(dir, name)

  /** The scheme and authority a URI string starts with, as a regex: the
    * Column side cuts them and compares the path part as spelled —
    * decoded in a listing, percent-encoded in `_metadata.file_path`.
    */
  val SchemeAuthority = "^(?:[a-zA-Z][a-zA-Z0-9+.-]*:(?://[^/]*)?)?"
}
