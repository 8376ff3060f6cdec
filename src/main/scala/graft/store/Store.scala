package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A directory whose `_current` file names its live generation: an
  * immutable subdirectory `gen-NNNNNNNN-<uuid>` that holds the whole
  * artifact. [[publish]] writes a new generation beside the live one and
  * then replaces `_current` through [[graft.AtomicFile]], so a reader
  * that resolves the pointer sees the previous generation or the next,
  * in full, and a crash at any point leaves the previous one live. The
  * uuid keeps two writers racing over one root (two JVMs that share
  * `java.io.tmpdir`) out of each other's directory; the number orders
  * the generations for a reader of the tree.
  *
  * Users: the text index (`TextOps`), the IVF-PQ index (`VectorOps`)
  * and the admission state of the owned-set dedup folds (`NearDedup`,
  * `Curation`). The CDC state keeps its own per-bucket manifest,
  * `_state` (`graft.cdc.Stream`).
  */
object Store {

  private val Pointer = "_current"
  private val GenPrefix = "gen-"
  private val DeltaPrefix = "delta-"

  /** Bumped whenever an artifact's on-disk layout changes, so that an
    * artifact an earlier build left in `java.io.tmpdir` is rebuilt at a
    * new path instead of being read in a layout it does not have.
    */
  private val Layout = 2

  private def fs(s: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** The live generation directory of `root`, or None before the first
    * [[publish]].
    */
  def live(s: SparkSession, root: String): Option[String] =
    graft.AtomicFile.read(new Path(root, Pointer), s.sparkContext.hadoopConfiguration)
      .map(g => s"$root/${g.trim}")

  /** Writes a new generation of `root` with `write`, which receives its
    * directory, then makes it live. Returns the directory.
    */
  def publish(s: SparkSession, root: String)(write: String => Unit): String = {
    val n = live(s, root).fold(1)(g => g.substring(g.lastIndexOf('/') + 1).split('-')(1).toInt + 1)
    val name = f"$GenPrefix$n%08d-${java.util.UUID.randomUUID}"
    val gen = s"$root/$name"
    require(fs(s, gen).mkdirs(new Path(gen)), s"failed to create generation $gen")
    write(gen)
    graft.AtomicFile.replace(new Path(root, Pointer), name, s.sparkContext.hadoopConfiguration)
    gen
  }

  /** Deletes every generation of `root` except the live one, and returns
    * their names. Run it when no writer is publishing into `root` and no
    * reader of a superseded generation is left.
    */
  def gc(s: SparkSession, root: String): Seq[String] = {
    val keep = live(s, root).map(g => g.substring(g.lastIndexOf('/') + 1))
    val rootFs = fs(s, root)
    rootFs.listStatus(new Path(root)).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith(GenPrefix) && !keep.contains(n)).sorted
      .map { n =>
        require(rootFs.delete(new Path(root, n), true), s"failed to delete superseded generation $n")
        n
      }
  }

  /** Adds one batch to generation `gen` as a delta: `write` fills a
    * `_stage-<uuid>` directory, which one rename commits as
    * `delta-<uuid>`. The batch is in [[read]] in full or not at all, and
    * no file already in `gen` is rewritten.
    */
  def appendDelta(s: SparkSession, gen: String)(write: String => Unit): Unit = {
    val id = java.util.UUID.randomUUID.toString
    val stage = s"$gen/_stage-$id"
    write(stage)
    require(fs(s, gen).rename(new Path(stage), new Path(s"$gen/$DeltaPrefix$id")),
      s"failed to commit delta $stage")
  }

  /** Table `name` of generation `gen`: the base, then the table in each
    * committed delta, by name, read with the base's schema. A `_stage-`
    * directory is not committed and is never read. Each directory is its
    * own scan: Spark's partition discovery takes one base directory, and
    * a partitioned table (the IVF-PQ codes) has one per delta.
    */
  def read(s: SparkSession, gen: String, name: String): DataFrame = {
    val base = s.read.parquet(s"$gen/$name")
    fs(s, gen).listStatus(new Path(gen)).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(DeltaPrefix)).sorted
      .foldLeft(base)((df, d) => df.unionByName(s.read.schema(base.schema).parquet(s"$gen/$d/$name")))
  }

  /** The location in `java.io.tmpdir` of the `kind` artifact built from
    * dataset `dir`, tagged with the layout version.
    */
  def artifactPath(kind: String, dir: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    s"${sys.props("java.io.tmpdir")}/graft_${kind}_l${Layout}_$key"
  }
}
