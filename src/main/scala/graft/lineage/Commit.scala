package graft.lineage

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one commit protocol for persisted state. A directory artifact
  * (checkpoint tables, the LSH index and its count sidecar, compacted
  * generations, stream stats) is COMMITTED iff it holds the empty
  * [[Marker]] file. [[write]] deletes the marker FIRST and creates
  * it LAST, so a crash at any step in between leaves the directory
  * uncommitted, and a reader trusts only a committed directory. The
  * decision is by EXISTENCE, never by file content: an empty file cannot
  * be half-written. A small single-file artifact (a checkpoint state file)
  * is replaced by [[writeAtomic]] instead.
  */
object Commit {

  val Marker = "_GRAFT_COMMITTED"

  /** Data files vs metadata: names starting with `_` or `.` (markers,
    * `_SUCCESS`, sidecars, checksum and temp files) are not data — the
    * rule Spark's file listing applies.
    */
  def isData(name: String): Boolean = !name.startsWith("_") && !name.startsWith(".")

  def committed(fs: FileSystem, dir: String): Boolean =
    fs.exists(new Path(dir, Marker))

  /** Run `body`, which writes the artifact under `dir`, as one commit. */
  def write(fs: FileSystem, dir: String)(body: => Unit): Unit = {
    val marker = new Path(dir, Marker)
    fs.delete(marker, false)
    body
    fs.create(marker, true).close()
  }

  private[lineage] def tempPath(path: Path): Path =
    new Path(path.getParent, s".${path.getName}.tmp")

  /** Replace the file at `path` with `bytes`: write a hidden temp file,
    * then rename it into place. A crash leaves either the old file, no
    * file, or a hidden temp beside it, and a missing file reads as "not
    * done".
    */
  def writeAtomic(fs: FileSystem, path: Path, bytes: Array[Byte]): Unit = {
    val tmp = tempPath(path)
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    fs.delete(path, false)
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(s"could not rename $tmp to $path")
  }
}
