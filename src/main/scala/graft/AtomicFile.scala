package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem, Options, Path}

/** A small file that is the commit point of a generational layout: the
  * `_current` pointer of a [[graft.store.Store]] root (the text index,
  * the IVF-PQ index and the admission state of the dedup folds) and the
  * CDC state's `_state` (`graft.cdc.Stream`). A reader sees the old
  * contents or the new, never a mix and never no file.
  *
  * Both calls go through the raw file system under a checksummed one.
  * The replace is a rename, and a crash between renaming the data and
  * renaming its `.crc` would leave a file its checksum rejects.
  */
object AtomicFile {

  private def rawFs(file: Path, conf: Configuration): FileSystem = file.getFileSystem(conf) match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case fs => fs
  }

  /** The contents of `file`, or None when it does not exist. */
  def read(file: Path, conf: Configuration): Option[String] = {
    val in =
      try rawFs(file, conf).open(file)
      catch { case _: java.io.FileNotFoundException => return None }
    try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
  }

  /** Replaces `file` with `contents` in one step: a complete tmp beside
    * it, then one rename onto it. A local file system's rename replaces
    * an existing target atomically. Others refuse an existing target (the
    * `FileSystem.rename` contract), and for them `FileContext`'s rename
    * with OVERWRITE is the atomic form; on the local file system that form
    * is a delete followed by a rename, so it is not used there.
    */
  def replace(file: Path, contents: String, conf: Configuration): Unit = {
    val fs = rawFs(file, conf)
    val tmp = new Path(file.getParent, s".${file.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(contents.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, file))
      FileContext.getFileContext(fs.getUri, conf)
        .rename(fs.makeQualified(tmp), fs.makeQualified(file), Options.Rename.OVERWRITE)
  }
}
