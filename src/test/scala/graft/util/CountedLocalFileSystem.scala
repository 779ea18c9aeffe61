package graft.util

import java.net.URI

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataInputStream, FileStatus, FileSystem, Path, RawLocalFileSystem}

/** The local filesystem under the `counted` scheme. Each status,
  * existence probe or listing counts as one read op in Hadoop's FS
  * statistics, the way HDFS and object-store clients count metadata
  * calls; the local filesystem itself counts only bytes. The statuses
  * a listing builds are part of that one call. Listings and opens are
  * also recorded by path, for [[CountedLocalFileSystem.calls]]. */
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

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    CountedLocalFileSystem.record("open", p)
    super.open(p, bufferSize)
  }

  override def listStatus(p: Path): Array[FileStatus] = {
    statistics.incrementReadOps(1)
    CountedLocalFileSystem.record("list", p)
    listing.set(true)
    try super.listStatus(p) finally listing.set(false)
  }
}

/** [[CountedLocalFileSystem]] behind `FileContext`, which the commit
  * logs' put-if-absent publish renames through on any scheme but
  * `file`, so a table under the counted scheme can be written. */
class CountedFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
  uri, new CountedLocalFileSystem, conf, CountedLocalFileSystem.Scheme, false)

object CountedLocalFileSystem {
  val Scheme = "counted"

  /** `local` (an absolute local path) under the counted scheme, after
    * registering the scheme in `conf` for `FileSystem` and `FileContext`. */
  def path(conf: Configuration, local: String): String = {
    conf.set(s"fs.$Scheme.impl", classOf[CountedLocalFileSystem].getName)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[CountedFs].getName)
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

  private val recorded = new ThreadLocal[scala.collection.mutable.ArrayBuffer[(String, String)]]

  private def record(op: String, p: Path): Unit =
    Option(recorded.get).foreach(_ += (op -> p.toUri.getPath))

  /** `body`'s result and the listings and opens (`"list"`/`"open"`, path)
    * this thread made through the counted scheme meanwhile, in order. */
  def calls[A](body: => A): (A, Seq[(String, String)]) = {
    val outer = recorded.get
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    recorded.set(buf)
    try {
      val result = body
      (result, buf.toSeq)
    } finally recorded.set(outer)
  }
}
