package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.lineage.Commit

/** Filesystem checks shared by the streaming state layouts. */
private[graft] object StateFs {
  /** True iff `path` exists AND holds at least one data entry
    * ([[Commit.isData]]). Bare existence is NOT enough for "this index has
    * content": a partitioned write of an empty frame leaves the directory
    * present but file-less (dynamic-partition commits write no root
    * _SUCCESS at all), and feeding such a dir to a parquet read fails
    * schema inference.
    */
  def nonEmptyDir(fs: FileSystem, path: String): Boolean = {
    val p = fs.makeQualified(new Path(path))
    fs.exists(p) && fs.listStatus(p).exists(s => Commit.isData(s.getPath.getName))
  }
}
