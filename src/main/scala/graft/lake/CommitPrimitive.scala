package graft.lake

import java.nio.file.{FileAlreadyExistsException, Files}
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** The storage commit primitive behind every graft metadata publish —
  * manifest versions (X39), catalog cuts (X99), log checkpoints (X200),
  * and ref pointers (X95) all reduce to the two operations here.
  *
  * Why a seam: the default implementation ([[RenameCommit]]) relies on
  * ATOMIC RENAME — correct on local filesystems and HDFS (the documented
  * storage contract, `docs/STORAGE_CONTRACT.md`), absent on S3-class
  * object stores, where "rename" is copy+delete and two racing committers
  * can both think they won. That is a property of the STORE, not of the
  * commit protocol: Delta solves it with a pluggable LogStore (DynamoDB
  * mutual exclusion, or S3 conditional `PUT If-None-Match` since 2024),
  * Iceberg with a catalog's atomic pointer swap. All of those are
  * implementations of exactly this interface, so an object-store port
  * implements [[CommitPrimitive]] once and every committer — Manifest,
  * Catalog, Branches, checkpoints — inherits it unchanged.
  *
  * Selection: `spark.graft.commit.impl` names the implementing class
  * (must have a no-arg constructor); unset means [[RenameCommit]].
  * Instances are cached per class name and must be stateless/thread-safe —
  * commits race across threads and (on a cluster) across JVMs.
  */
trait CommitPrimitive {

  /** Publish `payload` at `target` iff nothing is committed there yet.
    * All-or-nothing: readers see either no object or the full payload,
    * never a prefix. Returns false when the slot was already taken (a
    * lost optimistic-concurrency race) — the caller rebases or errors;
    * this method must not throw for that case.
    */
  def putIfAbsent(spark: SparkSession, target: Path,
      payload: Array[Byte]): Boolean

  /** Atomically replace whatever is at `target` with `payload` (the ref
    * pointer advance). Last writer wins; a concurrent reader sees the old
    * bytes or the new bytes, never a mixture and never a missing file.
    */
  def replace(spark: SparkSession, target: Path, payload: Array[Byte]): Unit
}

object CommitPrimitive {
  /** `spark.graft.commit.impl` — fully-qualified class name of the
    * [[CommitPrimitive]] to use; unset/empty = [[RenameCommit]]. */
  val ImplConf = "spark.graft.commit.impl"

  private val cache = new ConcurrentHashMap[String, CommitPrimitive]()

  def active(spark: SparkSession): CommitPrimitive =
    spark.conf.getOption(ImplConf).filter(_.nonEmpty) match {
      case None => RenameCommit
      case Some(cls) => cache.computeIfAbsent(cls, c =>
        Class.forName(c).getDeclaredConstructor().newInstance()
          .asInstanceOf[CommitPrimitive])
    }
}

/** Default commit primitive: stage to a writer-unique temp name in the
  * target's directory, then rename. Rename-as-commit is atomic — and
  * put-if-absent, because a plain `FileSystem.rename` onto an existing
  * destination returns false — on HDFS; on the local file system the
  * put is a hard link of the temp file, which the OS creates only while
  * the name is free (`docs/STORAGE_CONTRACT.md` states the contract and
  * the object-store alternatives). `replace` uses `FileContext`'s `Rename.OVERWRITE`, the
  * Hadoop atomic-replace contract a ref advance needs.
  */
object RenameCommit extends CommitPrimitive {

  /** Writer-unique temp path: two committers racing the SAME target must
    * never share a temp file, or one's rename could publish the other's
    * half-written bytes under its own name.
    */
  private def stage(spark: SparkSession, target: Path,
      payload: Array[Byte]): Path = {
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(target.getParent,
      s".${target.getName}.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(payload) finally out.close()
    tmp
  }

  override def putIfAbsent(spark: SparkSession, target: Path,
      payload: Array[Byte]): Boolean = {
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = stage(spark, target, payload)
    fs match {
      // the local file system's rename checks the destination and then
      // renames over it (POSIX rename replaces), so two racing puts can
      // both return true and the later one's manifest silently replaces
      // the earlier; a hard link is created only while the name is free
      case local: LocalFileSystem =>
        try {
          Files.createLink(local.pathToFile(target).toPath, local.pathToFile(tmp).toPath)
          true
        } catch { case _: FileAlreadyExistsException => false }
        finally fs.delete(tmp, false)
      case _ => renameIfAbsent(fs, tmp, target)
    }
  }

  private def renameIfAbsent(fs: FileSystem, tmp: Path, target: Path): Boolean =
    if (fs.rename(tmp, target)) true
    else {
      fs.delete(tmp, false)
      // a false rename is only a LOST RACE if someone's commit actually
      // occupies the slot; otherwise (missing parent, I/O error, perms)
      // it is a storage fault and must surface as one — mapping it to
      // false would misreport "concurrent commit detected" and burn the
      // caller's whole optimistic-retry budget against a broken store
      if (fs.exists(target)) false
      else throw new java.io.IOException(
        s"rename-commit to $target failed but no committed object exists " +
          "there: storage fault, not a lost race")
    }

  override def replace(spark: SparkSession, target: Path,
      payload: Array[Byte]): Unit = {
    val tmp = stage(spark, target, payload)
    val fc = FileContext.getFileContext(target.toUri,
      spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, target, Options.Rename.OVERWRITE)
  }
}
