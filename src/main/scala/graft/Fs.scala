package graft

import java.nio.file.{Files, LinkOption, Path}

import scala.jdk.CollectionConverters._

/** Small filesystem helpers. `Files.list`/`Files.walk` return streams
  * backed by an open directory fd that is only released by `close()`;
  * leaking them until GC can exhaust the fd limit in a long-running
  * 10 s-trigger ingest job, so every listing in this codebase goes
  * through here.
  */
object Fs {

  /** Direct children of `dir`, eagerly materialized with the stream
    * closed; empty if `dir` is not a directory.
    */
  def children(dir: Path): Seq[Path] = {
    if (!Files.isDirectory(dir)) return Seq.empty
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq
    finally s.close()
  }

  /** Non-directory entries under `dir` at any depth, links not followed. */
  def files(dir: Path): Seq[Path] =
    children(dir).flatMap(p =>
      if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) files(p) else Seq(p))

  /** Remove every empty directory under `dir`, `dir` included. */
  def pruneEmptyDirs(dir: Path): Unit =
    if (Files.isDirectory(dir, LinkOption.NOFOLLOW_LINKS)) {
      children(dir).foreach(pruneEmptyDirs)
      if (children(dir).isEmpty) Files.deleteIfExists(dir)
    }

  /** Recursive delete that never follows symlinks: a directory symlink
    * inside a dropped table/namespace/staging dir is removed as a link
    * entry, its target untouched (Files.isDirectory would otherwise
    * resolve the link and descend into — then delete — the target).
    */
  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS))
      children(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
