package graft.util

import java.net.URI

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path, RawLocalFileSystem}

/** The local filesystem under the `counted` scheme. Each status,
  * existence probe or listing counts as one read op in Hadoop's FS
  * statistics, the way HDFS and object-store clients count metadata
  * calls; the local filesystem itself counts only bytes. The statuses
  * a listing builds are part of that one call. */
class CountedLocalFileSystem extends RawLocalFileSystem {
  private val listing = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  override def getUri: URI = URI.create(s"${CountedLocalFileSystem.Scheme}:///")
  override def getScheme: String = CountedLocalFileSystem.Scheme

  override def getFileStatus(p: Path): FileStatus = {
    if (!listing.get) statistics.incrementReadOps(1)
    super.getFileStatus(p)
  }

  override def exists(p: Path): Boolean = {
    statistics.incrementReadOps(1)
    super.exists(p)
  }

  override def listStatus(p: Path): Array[FileStatus] = {
    statistics.incrementReadOps(1)
    listing.set(true)
    try super.listStatus(p) finally listing.set(false)
  }
}

object CountedLocalFileSystem {
  val Scheme = "counted"

  /** `local` (an absolute local path) under the counted scheme, after
    * registering the scheme in `conf`. */
  def path(conf: Configuration, local: String): String = {
    conf.set(s"fs.$Scheme.impl", classOf[CountedLocalFileSystem].getName)
    s"$Scheme://${new Path(local).toUri.getPath}"
  }

  /** `body`'s result and the read ops this thread made through the
    * counted scheme meanwhile. */
  def readOps[A](body: => A): (A, Long) = {
    def ops = FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == Scheme).map(_.getThreadStatistics.getReadOps.toLong).sum
    val before = ops
    val result = body
    (result, ops - before)
  }
}
