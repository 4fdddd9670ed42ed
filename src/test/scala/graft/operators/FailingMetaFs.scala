package graft.operators

import java.net.URI
import java.util.EnumSet

import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.Options.ChecksumOpt
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem under the `failmeta:` scheme, whose mutating
  * calls (create, rename, delete, mkdirs) on a path inside a dir of one
  * name (`meta`, `_commits`) fail while [[FailingMetaFs.failing]] runs: a
  * crash at that point of a store's operation, with everything else
  * written normally. Register it with [[FailingMetaFs.register]].
  */
class FailingMetaFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = FailingMetaFs.Uri
}) {
  /** One mutating call on `paths`: fails once the armed dir's passes
    * are used up.
    */
  private def check(paths: Path*): Unit = FailingMetaFs.armed.get match {
    case (dir, pass) if paths.exists(f => Iterator.iterate(f)(_.getParent)
        .takeWhile(_ != null).exists(_.getName == dir)) && pass.getAndDecrement() <= 0 =>
      throw new java.io.IOException(s"injected failure writing ${paths.mkString(" -> ")}")
    case _ => ()
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    check(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable, checksumOpt: ChecksumOpt): FSDataOutputStream = {
    check(f)
    super.create(f, permission, flags, bufferSize, replication, blockSize, progress, checksumOpt)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: EnumSet[CreateFlag], bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    check(f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    check(src, dst)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    check(f)
    super.delete(f, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    check(f)
    super.mkdirs(f, permission)
  }

  override def mkdirs(f: Path): Boolean = {
    check(f)
    super.mkdirs(f)
  }
}

object FailingMetaFs {
  val Uri: URI = URI.create("failmeta:///")
  /** The dir name whose paths fail, and how many mutating calls on them
    * pass first; null when nothing fails.
    */
  private val armed =
    new java.util.concurrent.atomic.AtomicReference[(String, java.util.concurrent.atomic.AtomicInteger)]

  /** Make `failmeta:` resolvable through the session's Hadoop conf. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set("fs.failmeta.impl", classOf[FailingMetaFs].getName)

  /** Run `body` with every mutating call on a path inside a dir named
    * `dir` failing, after the first `after` of them pass.
    */
  def failing[T](dir: String, after: Int = 0)(body: => T): T = {
    armed.set((dir, new java.util.concurrent.atomic.AtomicInteger(after)))
    try body finally armed.set(null)
  }
}
