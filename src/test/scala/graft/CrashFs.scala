package graft

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local file system under the `crash:` scheme that fails every mutating
  * call (create, rename, delete, mkdirs) from the k-th on while armed: the
  * process died at call k, so nothing after it reaches the disk. The
  * counter is JVM-global, because Hadoop instantiates the class by
  * reflection and a local session's executors call it from their own
  * threads. Instantiated through `fs.crash.impl`.
  */
class CrashFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crash:///")

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    CrashFs.step()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    CrashFs.step()
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = { CrashFs.step(); super.rename(src, dst) }

  override def delete(p: Path, recursive: Boolean): Boolean = { CrashFs.step(); super.delete(p, recursive) }

  override def mkdirs(f: Path): Boolean = { CrashFs.step(); super.mkdirs(f) }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = { CrashFs.step(); super.mkdirs(f, permission) }
}

object CrashFs {
  final class Crash(k: Int) extends java.io.IOException(s"injected crash at mutating call $k")

  private val calls = new java.util.concurrent.atomic.AtomicInteger()
  @volatile private var crashAt = Int.MaxValue

  def arm(k: Int): Unit = { calls.set(0); crashAt = k }
  def disarm(): Unit = crashAt = Int.MaxValue

  private[graft] def step(): Unit = {
    val k = crashAt
    if (calls.incrementAndGet() >= k) throw new Crash(k)
  }

  /** Copies the local tree `from` to `to`, if `from` exists: the state a
    * crashed run starts from.
    */
  def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(from)) {
      java.nio.file.Files.createDirectories(to.getParent)
      val st = java.nio.file.Files.walk(from)
      try st.forEach(p => { java.nio.file.Files.copy(p, to.resolve(from.relativize(p).toString)); () })
      finally st.close()
    }

  /** True iff `e` or one of its causes is an injected crash. */
  def caused(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => t.isInstanceOf[Crash] || String.valueOf(t.getMessage).contains("injected crash at mutating call"))
}
