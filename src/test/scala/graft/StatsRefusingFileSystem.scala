package graft

import java.io.IOException
import java.net.URI

import graft.sources.reftable.RefTableStats
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable

/** Local disk under the scheme `nostats` that refuses to rewrite a
  * published stats manifest: creating the replacement of an existing
  * `_STATS.json` (in place, or through the tmp sibling an atomic overwrite
  * stages) fails. Publishing a version with its first manifest works, so a
  * write commits and then its post-commit stats augmentation fails — the
  * case the one stats policy covers. Registered (with its FileContext
  * binding [[StatsRefusingFs]]) in `src/test/resources/core-site.xml`.
  */
class StatsRefusingFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("nostats:///")

  // the non-permission overload is the one FileSystem.create(f, overwrite)
  // reaches on RawLocalFileSystem (see NoRenameFileSystem)
  override def create(
      f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val manifest = RefTableStats.ManifestName
    if (f.getName.startsWith(s".$manifest.tmp") || (f.getName == manifest && exists(f)))
      throw new IOException(s"StatsRefusingFileSystem refuses to rewrite $manifest: $f")
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

/** The FileContext binding of [[StatsRefusingFileSystem]]. */
class StatsRefusingFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new StatsRefusingFileSystem, conf, "nostats", false)
