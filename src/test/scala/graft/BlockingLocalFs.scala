package graft

import java.io.IOException

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** A local filesystem on which no directory can be made under a path
  * containing the component named by `graft.test.blockedDir` — a volume
  * that stops taking writes for one output subtree. Registered as
  * `fs.file.impl` (with the cache disabled) in ChessPipelineSpec to fail a
  * publish after its subtree was cleared. Hadoop instantiates it
  * reflectively → top-level class, no-arg constructor.
  */
class BlockingLocalFs extends RawLocalFileSystem {
  private def check(f: Path): Unit = {
    val blocked = getConf.get("graft.test.blockedDir")
    if (blocked != null && f.toUri.getPath.split('/').contains(blocked))
      throw new IOException(s"blocked: cannot create $f")
  }
  override def mkdirs(f: Path): Boolean = { check(f); super.mkdirs(f) }
  override def mkdirs(f: Path, p: FsPermission): Boolean = { check(f); super.mkdirs(f, p) }
}
