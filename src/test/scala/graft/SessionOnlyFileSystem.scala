package graft

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, RawLocalFileSystem}

/** Local disk under the scheme `sessfs`, for proving that reftable reads,
  * writes and streams honour the SESSION's Hadoop conf. Unlike
  * [[NoRenameFileSystem]] it is registered in no XML resource: a spec sets
  * `fs.sessfs.impl` (and `fs.AbstractFileSystem.sessfs.impl`, which
  * FileContext renames resolve through) on the session only, so any code
  * path that builds its conf from the classpath alone fails with
  * `UnsupportedFileSystemException`.
  */
class SessionOnlyFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("sessfs:///")
}

/** The FileContext binding of [[SessionOnlyFileSystem]]. */
class SessionOnlyFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new SessionOnlyFileSystem, conf, "sessfs", false)
