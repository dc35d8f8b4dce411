package graft

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** A fault-injecting `faulty:///` filesystem over the local disk, for
  * crash specs. Its rename refuses an existing destination, as HDFS's
  * does, so `Fs.publishIfAbsent` takes its non-`file` branch here. When
  * armed with `FaultyFs.crashAt(n)`, the n-th mutating call (create,
  * mkdirs, rename, delete; counted from the arming) throws
  * `FaultyFs.Crash` before it acts, and so does every mutating call
  * after it until `FaultyFs.disarm()`: the process "died" there.
  * Register it on a Hadoop conf with `FaultyFs.install`.
  */
final class FaultyFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("faulty:///")
  override def getScheme: String = "faulty"
  override def initialize(uri: URI, conf: Configuration): Unit =
    super.initialize(getUri, conf)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable) = {
    FaultyFs.tick()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable) = {
    FaultyFs.tick()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def mkdirs(f: Path): Boolean = {
    FaultyFs.tick(); super.mkdirs(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FaultyFs.tick(); super.mkdirs(f, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FaultyFs.tick()
    !exists(dst) && super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    FaultyFs.tick(); super.delete(f, recursive)
  }
}

object FaultyFs {
  final class Crash(n: Int)
      extends java.io.IOException(s"faulty: crashed at mutating call $n")

  private var armedAt = 0 // 0 = disarmed
  private var calls = 0

  def install(conf: Configuration): Unit = {
    conf.set("fs.faulty.impl", classOf[FaultyFs].getName)
    conf.setBoolean("fs.faulty.impl.disable.cache", true)
  }

  /** Crash at the `n`-th mutating call from now (n ≥ 1). */
  def crashAt(n: Int): Unit = synchronized { armedAt = n; calls = 0 }

  def disarm(): Unit = synchronized { armedAt = 0; calls = 0 }

  private def tick(): Unit = synchronized {
    if (armedAt > 0) {
      calls += 1
      if (calls >= armedAt) throw new Crash(armedAt)
    }
  }
}
