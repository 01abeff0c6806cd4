package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Total bytes under a path, resolved through the Hadoop FileSystem of
  * its scheme with the active session's Hadoop conf.
  *
  * Sizing decisions (pin a model, pick a state width) read their input
  * size here, never through `java.io.File`: a `java.io.File` walk reads 0
  * bytes for every `hdfs://` / `s3a://` path, so the decision would
  * silently fall to its floor on exactly the deployments it is sized for.
  */
object FsSize {

  /** Sum of file lengths under `path` (the file's own length for a
    * file); 0 when the path does not exist. */
  def bytes(path: String, conf: Configuration = HadoopConf.active()): Long = {
    val p = new Path(path)
    try p.getFileSystem(conf).getContentSummary(p).getLength
    catch { case _: java.io.FileNotFoundException => 0L }
  }
}
