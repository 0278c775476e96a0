package graft.util

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Recursive file listing from `listStatus` calls: the one place the
  * program walks a directory tree.
  *
  * `FileSystem.listFiles(root, true)` yields the same files in the same
  * order, but builds a `LocatedFileStatus` per file, which copies the
  * file's permission. On the local file system without the native Hadoop
  * library, reading a permission forks an `ls -ld`, one process per
  * file; a plain `FileStatus` reads it only when asked, and no caller
  * asks. Like `listFiles`, the walk hides what the file system's own
  * listing hides (the local checksum file system's `.crc` files) and
  * nothing else, so callers keep their own hidden-segment filters.
  */
object Listing {

  /** Every file under `root` (or `root` itself when it is a file),
    * depth-first in listing order, lazily: a caller that stops early
    * lists no further directory.
    */
  def files(fs: FileSystem, root: Path): Iterator[FileStatus] =
    fs.listStatus(root).iterator.flatMap { st =>
      if (st.isFile) Iterator.single(st) else files(fs, st.getPath)
    }
}
