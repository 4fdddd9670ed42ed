package graft.operators

import java.net.URI
import java.util.EnumSet

import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.Options.ChecksumOpt
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem under the `failmeta:` scheme, whose file creates
  * inside a `meta` dir fail while [[FailingMetaFs.failing]] runs: a crash
  * in the middle of a store's meta write, with everything else written
  * normally. Register it with [[FailingMetaFs.register]].
  */
class FailingMetaFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = FailingMetaFs.Uri
}) {
  private def check(f: Path): Unit =
    if (FailingMetaFs.armed.get && Iterator.iterate(f)(_.getParent)
        .takeWhile(_ != null).exists(_.getName == "meta"))
      throw new java.io.IOException(s"injected failure creating $f")

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
}

object FailingMetaFs {
  val Uri: URI = URI.create("failmeta:///")
  private val armed = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Make `failmeta:` resolvable through the session's Hadoop conf. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set("fs.failmeta.impl", classOf[FailingMetaFs].getName)

  /** Run `body` with every create under a `meta` dir failing. */
  def failing[T](body: => T): T = {
    armed.set(true)
    try body finally armed.set(false)
  }
}
