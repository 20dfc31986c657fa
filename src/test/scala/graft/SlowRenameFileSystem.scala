package graft

import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The local file system under its own `slowrename://` scheme, sleeping
  * before every rename of a `part-*` file. A job commit moves a write's
  * part files into place one rename at a time; widening each rename
  * lets a running stream list the target dir between two of them, so a
  * spec can see whether a multi-file chunk ever reaches the stream
  * half-written. It has its own scheme so the cached `file://` instance
  * every other spec uses is untouched. */
class SlowRenameFileSystem extends RawLocalFileSystem {
  override def getUri: URI = SlowRenameFileSystem.Uri

  override def rename(src: Path, dst: Path): Boolean = {
    if (src.getName.startsWith("part-"))
      Thread.sleep(SlowRenameFileSystem.DelayMs)
    super.rename(src, dst)
  }
}

object SlowRenameFileSystem {
  val Scheme = "slowrename"
  val Uri: URI = URI.create(s"$Scheme:///")
  val DelayMs = 200L

  /** Map the scheme to this class in `spark`'s Hadoop configuration. */
  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[SlowRenameFileSystem].getName)
}
