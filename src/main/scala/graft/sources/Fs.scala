package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
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
    fs.exists(p) && fs.listStatus(p).exists(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  /** Atomically publish the fully-written file `tmp` as `dst` UNLESS
    * `dst` already exists; true when this call created `dst`. This is
    * the commit point of every manifest publish and lease acquisition,
    * so it must be rename-IF-ABSENT. HDFS rename fails when the
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
}
