package graft.acl

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.{AclEntry, AclEntryScope, AclEntryType, AclStatus, FsAction}
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.fs.{Fs, FsElement, FsOperationResult, Retry, Root}

/** User-facing ACL spec (reference: acl/AclManager.scala:198-205):
  * scope ∈ user/group/other/mask, POSIX rwx string, level ACCESS/DEFAULT,
  * optional grantee object id.
  */
final case class FsPermission(scope: String, permission: String, level: String,
    granteeObjectId: String = "")

object AclManager {

  /** FsPermission → Hadoop AclEntry (reference acl/AclManager.scala:83-101). */
  def getAclEntry(p: FsPermission): AclEntry = {
    val typ = p.scope.toLowerCase match {
      case "user"  => AclEntryType.USER
      case "group" => AclEntryType.GROUP
      case "mask"  => AclEntryType.MASK
      case _       => AclEntryType.OTHER
    }
    val scope = if (p.level.equalsIgnoreCase("DEFAULT")) AclEntryScope.DEFAULT else AclEntryScope.ACCESS
    val b = new AclEntry.Builder()
      .setType(typ)
      .setScope(scope)
      .setPermission(FsAction.getFsAction(p.permission))
    if (p.granteeObjectId.nonEmpty) b.setName(p.granteeObjectId)
    b.build()
  }

  /** `modifyAclEntries` over paths on the driver pool
    * ([[graft.fs.Retry.onDriver]]), retry ≤5; a path that is gone when
    * its call runs is skipped and reported as a success (reference
    * acl/AclManager.scala:57-80).
    */
  def modifyAcls(paths: Seq[String], permission: FsPermission)(
      implicit conf: Configuration): Seq[FsOperationResult] =
    modifyAcls(paths, Seq(permission))

  /** Multi-entry [[modifyAcls]] — reference parity (the reference takes
    * an `Array[FsPermission]`, acl/AclManager.scala:57-76): ALL entries
    * land in ONE `modifyAclEntries` call per path, so granting
    * user+group+mask together costs one RPC and applies atomically per
    * path instead of N calls racing per-entry. Empty `permissions` is a
    * no-op.
    */
  def modifyAcls(paths: Seq[String], permissions: Seq[FsPermission])(
      implicit conf: Configuration): Seq[FsOperationResult] = {
    if (permissions.isEmpty) return Seq.empty
    val entries = permissions.map(getAclEntry).asJava
    applyAclOnDriver(paths)((fs, path) => fs.modifyAclEntries(path, entries))
  }

  /** Table ACL: ACCESS+DEFAULT on the table folder, ACCESS on all data
    * files (reference acl/AclManager.scala:32-45).
    */
  def modifyTableAcl(db: String, table: String, permission: FsPermission)(
      implicit spark: org.apache.spark.sql.SparkSession): Seq[FsOperationResult] =
    modifyTableAcl(db, table, Seq(permission))

  /** Multi-entry [[modifyTableAcl]]: every entry of each level set rides
    * one FS call per path.
    */
  def modifyTableAcl(db: String, table: String, permissions: Seq[FsPermission])(
      implicit spark: org.apache.spark.sql.SparkSession): Seq[FsOperationResult] = {
    implicit val conf = spark.sessionState.newHadoopConf()
    val location = graft.meta.Meta.getTableLocation(db, table)
    val files = graft.meta.Meta.getListOfTableFiles(db, table)
    val access = permissions.map(_.copy(level = "ACCESS"))
    val default = permissions.map(_.copy(level = "DEFAULT"))
    modifyAcls(Seq(location), access) ++
      modifyAcls(Seq(location), default) ++
      modifyAcls(files.toIndexedSeq, access)
  }

  /** Folder-tree ACL: ACCESS on every element, DEFAULT additionally on
    * folders (reference acl/AclManager.scala:110-126). `uri` is any
    * spelling of a folder on one file system.
    */
  def modifyFolderAcl(uri: String, permission: FsPermission)(
      implicit conf: Configuration): Seq[FsOperationResult] =
    modifyFolderAcl(uri, Seq(permission))

  /** Multi-entry [[modifyFolderAcl]]: one FS call per path carries the
    * whole entry set of its level.
    */
  def modifyFolderAcl(uri: String, permissions: Seq[FsPermission])(
      implicit conf: Configuration): Seq[FsOperationResult] = {
    val root = Root(uri)
    val tree = Fs.tree(root)
    val all = root.path.toString +: tree.map(_.path).toIndexedSeq
    val folders = root.path.toString +: tree.filter(_.isDirectory).map(_.path).toIndexedSeq
    modifyAcls(all, permissions.map(_.copy(level = "ACCESS"))) ++
      modifyAcls(folders, permissions.map(_.copy(level = "DEFAULT")))
  }

  /** Remove all non-base ACL entries from paths, like [[modifyAcls]]
    * (reference acl/AclManager.scala:135-164).
    */
  def clearAcls(paths: Seq[String])(implicit conf: Configuration): Seq[FsOperationResult] =
    applyAclOnDriver(paths)((fs, path) => fs.removeAcl(path))

  /** The driver form of an ACL call: `op` on each path that still
    * exists, checked in the pooled call itself, so a vanished path is a
    * skipped success and no serial existence pass runs first.
    */
  private def applyAclOnDriver(paths: Seq[String])(op: (FileSystem, Path) => Unit)(
      implicit conf: Configuration): Seq[FsOperationResult] = {
    if (paths.isEmpty) return Seq.empty
    val fs = Fs.getFileSystem(conf, paths.head)
    Retry.onDriver[String](paths, identity)(applyIfPresent(fs, op))
  }

  /** `op` on `p` when it exists; true either way. */
  private def applyIfPresent(fs: FileSystem, op: (FileSystem, Path) => Unit)(p: String): Boolean = {
    val path = new Path(p)
    if (fs.exists(path)) op(fs, path)
    true
  }

  /** [[clearAcls]] on a folder tree; `uri` is any spelling of a folder
    * on one file system.
    */
  def clearFolderAcl(uri: String)(implicit conf: Configuration): Seq[FsOperationResult] = {
    val root = Root(uri)
    clearAcls(root.path.toString +: Fs.tree(root).map(_.path).toIndexedSeq)
  }

  // ------------------------------------------------ distributed variants

  /** [[modifyAcls]] over a Dataset of paths — the 100 TB path when the
    * path set exceeds driver memory: each task opens its own FS handle,
    * vanished paths count as skipped-success, and the failed subset is
    * re-derived with a left_semi join and retried ≤5 (the same shape as
    * DistributedExecution.copyDataset).
    */
  def modifyAclsDistributed(paths: Dataset[String], permission: FsPermission,
      conf: Configuration)(implicit spark: SparkSession): Dataset[FsOperationResult] =
    modifyAclsDistributed(paths, Seq(permission), conf)

  /** Multi-entry [[modifyAclsDistributed]]: like the driver-pool form,
    * the whole entry set rides one `modifyAclEntries` call per path.
    */
  def modifyAclsDistributed(paths: Dataset[String], permissions: Seq[FsPermission],
      conf: Configuration)(implicit spark: SparkSession): Dataset[FsOperationResult] =
    applyAclDistributed(paths, conf) { () =>
      // entries built once per PARTITION: AclEntry is not Serializable,
      // so it can't be hoisted into the closure, but per-row rebuilds
      // waste an allocation+parse on every path
      val entries = permissions.map(getAclEntry).asJava
      (fs, path) => fs.modifyAclEntries(path, entries)
    }

  /** Distributed [[clearAcls]]. */
  def clearAclsDistributed(paths: Dataset[String], conf: Configuration)(
      implicit spark: SparkSession): Dataset[FsOperationResult] =
    applyAclDistributed(paths, conf)(() => (fs, path) => fs.removeAcl(path))

  /** Distributed [[modifyFolderAcl]]: tree scan, ACCESS application and
    * DEFAULT-on-folders application all run as Spark jobs. `uri` is any
    * spelling of a folder on one file system.
    */
  def modifyFolderAclDistributed(uri: String, permission: FsPermission,
      conf: Configuration)(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    val root = Root(uri)(conf)
    val tree = Fs.listDistributed(spark, root) // arrives persisted
    val top = spark.createDataset(Seq(root.path.toString))
    val all = tree.map(_.path).union(top)
    val folders = tree.filter(_.isDirectory).map(_.path).union(top)
    // DistributedRetry.run returns its result already materialized AND
    // pinned; this caller only needs the side effects, so release the
    // pin — left persisted, each call would hold a row per path for the
    // session lifetime on exactly the larger-than-driver-memory path.
    modifyAclsDistributed(all, permission.copy(level = "ACCESS"), conf).unpersist()
    modifyAclsDistributed(folders, permission.copy(level = "DEFAULT"), conf).unpersist()
    tree.unpersist()
    ()
  }

  private def applyAclDistributed(paths: Dataset[String], conf: Configuration)(
      opBuilder: () => (FileSystem, Path) => Unit)(
      implicit spark: SparkSession): Dataset[FsOperationResult] = {
    import spark.implicits._
    val perPartition = Retry.inTasks[String](conf, identity) { c =>
      val op = opBuilder()
      p => applyIfPresent(new Path(p).getFileSystem(c), op)(p)
    }
    graft.fs.DistributedRetry.run[String](paths, "value", "ACL operations",
      (pending, _) => pending.mapPartitions(perPartition))
  }

  /** Read AclStatus for one / many paths (reference acl/AclManager.scala:172-175,324-329). */
  def getAclEntries(path: String)(implicit conf: Configuration): AclStatus =
    Fs.getFileSystem(conf, path).getAclStatus(new Path(path))

  def getAclsForPaths(paths: Seq[String])(implicit conf: Configuration): Map[String, AclStatus] =
    paths.map(p => p -> getAclEntries(p)).toMap

  /** Replace (not merge) the ACL on a path (reference acl/AclManager.scala:183-189). */
  def resetAclEntries(path: String, entries: Seq[AclEntry])(implicit conf: Configuration): Unit =
    Fs.getFileSystem(conf, path).setAcl(new Path(path), entries.asJava)

  /** DEFAULT-scope entries converted to ACCESS scope — what a child file
    * inherits (reference acl/AclManager.scala:331-336).
    */
  def defaultsToAccess(entries: Seq[AclEntry]): Seq[AclEntry] =
    entries.filter(_.getScope == AclEntryScope.DEFAULT).map { e =>
      val b = new AclEntry.Builder()
        .setType(e.getType).setScope(AclEntryScope.ACCESS).setPermission(e.getPermission)
      if (e.getName != null) b.setName(e.getName)
      b.build()
    }

  /** Pure planning core of [[synchronizeAcls]]: assign each target folder
    * the source ACL at the same relative path, else its parent's planned
    * ACL (top-down inheritance — reference acl/AclManager.scala:247-257).
    *
    * @param srcAcls   relative source folder path ("" = root) → entries
    * @param trgFolders relative target folder paths
    * @return parent-first ordered (relPath, plannedEntries)
    */
  def planIdealAcls(srcAcls: Map[String, Seq[AclEntry]],
      trgFolders: Seq[String]): Seq[(String, Seq[AclEntry])] = {
    val rootAcl = srcAcls.getOrElse("", Seq.empty)
    val planned = scala.collection.mutable.LinkedHashMap[String, Seq[AclEntry]]("" -> rootAcl)
    trgFolders.filter(_.nonEmpty).sortBy(_.length).foreach { rel =>
      val parent = {
        val i = rel.lastIndexOf('/')
        if (i < 0) "" else rel.substring(0, i)
      }
      planned(rel) = srcAcls.getOrElse(rel, planned.getOrElse(parent, rootAcl))
    }
    planned.toSeq
  }

  /** ACL tree synchronization (reference acl/AclManager.scala:214-316),
    * each side any spelling of a folder on one file system: read all
    * source-folder ACLs, plan target-folder ACLs by path correspondence
    * (root-relative paths) with parent inheritance, apply parent-first
    * (replace, then each file gets its parent's DEFAULT entries as
    * ACCESS entries).
    */
  def synchronizeAcls(applyToUri: String, takeFromUri: String)(
      implicit conf: Configuration): Unit = {
    val (trg, src) = (Root(applyToUri), Root(takeFromUri))
    def folders(root: Root, tree: Array[FsElement]) =
      "" +: tree.filter(_.isDirectory).map(e => root.rel(e.path)).toIndexedSeq
    val srcAcls: Map[String, Seq[AclEntry]] = folders(src, Fs.tree(src)).map { r =>
      r -> src.fs.getAclStatus(src.child(r)).getEntries.asScala.toSeq
    }.toMap

    val trgTree = Fs.tree(trg)
    val plan = planIdealAcls(srcAcls, folders(trg, trgTree))
    val byRel = plan.toMap

    // folders parent-first: replace entries
    plan.foreach { case (r, entries) =>
      if (entries.nonEmpty) {
        trg.fs.removeAcl(trg.child(r))
        trg.fs.modifyAclEntries(trg.child(r), entries.asJava)
      }
    }
    // files: parent's DEFAULT entries, converted to ACCESS
    trgTree.filter(!_.isDirectory).foreach { f =>
      val r = trg.rel(f.path)
      val parentRel = { val i = r.lastIndexOf('/'); if (i < 0) "" else r.substring(0, i) }
      val inherited = defaultsToAccess(byRel.getOrElse(parentRel, Seq.empty))
      if (inherited.nonEmpty) trg.fs.setAcl(new Path(f.path), inherited.asJava)
    }
  }
}
