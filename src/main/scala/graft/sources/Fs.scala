package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Filesystem probes that resolve through the Hadoop `FileSystem` API,
  * so they work on ANY filesystem Spark can write to (local paths,
  * `file:`, `hdfs:`, `s3a:`, ...). `java.io.File` must never be used
  * for data-directory discovery: on a non-local URI it silently reports
  * "missing" (isDirectory=false, listFiles=null), which for a persisted
  * dedup index means the seen-set reads as EMPTY and every historical
  * duplicate is readmitted without any error.
  */
object Fs {

  private def resolve(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** True when `dir` exists and directly contains at least one parquet
    * part file — the "has this index ever been written?" bootstrap
    * probe for incremental dedup.
    */
  def hasParquet(spark: SparkSession, dir: String): Boolean = {
    val (fs, p) = resolve(spark, dir)
    listOrEmpty(fs, p).exists(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  /** `listStatus`, empty when `p` does not exist: one filesystem call
    * where `exists` + `listStatus` made two, and a dir that vanishes
    * between them reads as empty instead of throwing.
    */
  def listOrEmpty(fs: FileSystem, p: Path): Seq[FileStatus] =
    try fs.listStatus(p).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** A file's identity: path, mtime and length. A rewritten or
    * recreated file (a vacuumed-then-recreated table reuses manifest
    * version NUMBERS) gets a new identity, so a `MetaCache` keyed by it
    * never serves the dead file's value.
    */
  def fileId(st: FileStatus): String =
    s"${st.getPath}#${st.getModificationTime}#${st.getLen}"

  /** Atomically publish the fully-written file `tmp` as `dst` UNLESS
    * `dst` already exists; true when this call created `dst`. This is
    * the commit point of every manifest publish, so it must be
    * rename-IF-ABSENT. HDFS rename fails when the
    * destination exists; the LOCAL filesystem's does NOT
    * (RawLocalFileSystem.rename is POSIX renameTo, which silently
    * REPLACES the destination — two writers racing one version would
    * both "succeed" and the second would erase the first's commit).
    * On the `file` scheme the publish is therefore a HARD LINK:
    * link(2) fails EEXIST atomically when `dst` is taken, and the
    * linked file is already complete. `tmp` is always removed.
    */
  def publishIfAbsent(fs: FileSystem, tmp: Path, dst: Path): Boolean =
    try {
      if (fs.getScheme == "file")
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      else fs.rename(tmp, dst)
    } finally fs.delete(tmp, false)

  /** `file:` is left to Hadoop's default: no `fs.file.impl`, or the
    * stock `LocalFileSystem` named. A configured implementation is kept.
    */
  private def defaultFile(conf: Configuration): Boolean =
    Option(conf.get("fs.file.impl"))
      .forall(_ == classOf[LocalFileSystem].getName)

  /** `fs`, or for a default `file:` filesystem a `PosixLocalFs` over
    * the same conf: the one to create files and dirs through.
    */
  def forWrite(fs: FileSystem): FileSystem =
    if (fs.getUri.getScheme != "file" || !defaultFile(fs.getConf)) fs
    else {
      val p = new PosixLocalFs
      p.initialize(fs.getUri, fs.getConf)
      p
    }

  /** Make `conf` (a write job's own copy) resolve `file:` paths to a
    * fresh `PosixLocalFs` when `file:` is the default. Uncached: the
    * JVM-wide cache already holds an instance for `file:`.
    */
  def forWrite(conf: Configuration): Unit =
    if (defaultFile(conf)) {
      conf.set("fs.file.impl", classOf[PosixLocalFs].getName)
      conf.setBoolean("fs.file.impl.disable.cache", true)
    }
}

/** The stock `file:` filesystem (checksummed, same bytes, same modes)
  * whose permission calls do not fork. Without Hadoop's native library,
  * `RawLocalFileSystem.setPermission` runs `chmod` as a child process,
  * and every `create` and every new dir calls it: one bucket file cost
  * three forks (its dir, the file, its `.crc`), about 10 ms.
  */
final class PosixLocalFs extends LocalFileSystem(new PosixRawLocalFs)

final class PosixRawLocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, perm: FsPermission): Unit = {
    import java.nio.file.attribute.PosixFilePermission._
    val bits = perm.toShort
    val f = pathToFile(p).toPath
    // sticky/setuid bits and non-POSIX file systems take the stock path
    if ((bits & ~0x1ff) != 0 || !f.getFileSystem.supportedFileAttributeViews
        .contains("posix")) super.setPermission(p, perm)
    else {
      val set = java.util.EnumSet.noneOf(
        classOf[java.nio.file.attribute.PosixFilePermission])
      // java's enum order is OWNER_READ .. OTHERS_EXECUTE: bit 8 .. bit 0
      Seq(OWNER_READ, OWNER_WRITE, OWNER_EXECUTE, GROUP_READ, GROUP_WRITE,
        GROUP_EXECUTE, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
        .zipWithIndex.foreach { case (x, i) =>
          if ((bits & (1 << (8 - i))) != 0) set.add(x) }
      java.nio.file.Files.setPosixFilePermissions(f, set)
    }
  }
}

/** The one memo of metadata derived from immutable files (parsed
  * manifests, parquet schemas, index corpus stats): a synchronized
  * access-order LRU keyed by `Fs.fileId` identities. Values depend only
  * on the files, never on a session, so they serve every session of
  * the JVM; no key or value may hold a `SparkSession`, `DataFrame` or
  * `LogicalPlan`. The loader runs outside the lock, so a slow load (a
  * Spark job) never blocks other keys; two threads missing the same key
  * both load it and the later put wins with an equal value.
  */
private[graft] final class MetaCache[V](capacity: Int = MetaCache.Capacity) {
  private val lru = new java.util.LinkedHashMap[String, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean =
      size() > capacity
  }

  def getOrLoad(key: String)(load: => V): V =
    lru.synchronized(Option(lru.get(key))).getOrElse {
      val v = load
      lru.synchronized(lru.put(key, v))
      v
    }
}

private[graft] object MetaCache {
  /** Entries per memo; a value is one parsed manifest (a few KB) or
    * smaller.
    */
  val Capacity = 512
}
