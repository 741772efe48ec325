package graft

import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.util.Progressable

/** A local-backed Hadoop FileSystem registered under the `mockfs:` scheme —
  * lets tests prove the checkpoint pipeline resolves storage purely through
  * the Hadoop FileSystem factory (no java.nio / `file:` assumptions). */
class MockSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
  override def getScheme: String = "mockfs"
}

/** [[MockSchemeFs]] under the `faultfs:` scheme, which throws at the point
  * [[FaultyFs.at]] names while it is set:
  *  - "staging": creating a tick file in `_checkpoint_staging`;
  *  - "commit": renaming a file into `_checkpoint`;
  *  - "hourly": creating any file under `hourly/` (the tier's data write). */
class FaultyFs extends MockSchemeFs {
  override def getUri: java.net.URI = java.net.URI.create("faultfs:///")
  override def getScheme: String = "faultfs"

  private def check(point: String, p: Path, hit: Boolean): Unit =
    if (FaultyFs.at.contains(point) && hit)
      throw new java.io.IOException(s"injected $point fault at $p")

  private def creating(f: Path): Unit = {
    check("staging", f, f.getParent.getName == "_checkpoint_staging")
    check("hourly", f, f.toUri.getPath.contains("/hourly/"))
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    creating(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    check("commit", dst, dst.getParent.getName == "_checkpoint")
    super.rename(src, dst)
  }
}

object FaultyFs {
  @volatile var at: Option[String] = None
}
