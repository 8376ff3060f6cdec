package graft.cdc

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.{CrashFs, SparkSpec}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The CDC state's commit: one `_state` replace commits a batch's new
  * bucket generations. A crash at any mutating file-system call of a
  * fold re-runs to the state an uninterrupted run commits, and a reader
  * at any crash point sees the previous state or the next one, exactly.
  */
class StateCommitSpec extends SparkSpec {

  private val Buckets = 4
  private val Retention = 15L

  private def tmp(prefix: String): JPath = graft.TempDirs.scratch(prefix)

  private def bucketOfId(k: Long): Int = {
    val s = spark
    import s.implicits._
    s.range(1).select(pmod(xxhash64(lit(k)), lit(Buckets)).cast("int")).as[Int].head()
  }

  /** The feed, one DataFrame per batch: a bootstrap; updates, an insert
    * and a delete; a batch that adds a column; and a batch whose
    * watermark purges the delete's tombstone from its bucket.
    */
  private lazy val feed: Seq[DataFrame] = {
    val s = spark
    import s.implicits._
    val neighbour = (100L to 400L).find(bucketOfId(_) == bucketOfId(5L)).get
    Seq(
      (0L until 12L).map(i => Ev(i + 1, i, "c", i * 1.5)).toDF(),
      Seq(Ev(20L, 3L, "u", 30.0), Ev(21L, 20L, "c", 20.0), Ev(30L, 5L, "d", 0.0), Ev(31L, 7L, "u", 70.0)).toDF(),
      Seq((40L, 1L, "u", 10.0, "wide"), (41L, 21L, "c", 21.0, "new")).toDF("scn", "id", "op", "value", "note"),
      Seq(Ev(50L, neighbour, "c", 1.0)).toDF())
  }

  private def fold(i: Int, path: String): Unit =
    Stream.foldBatch(feed(i), Seq("id"), Seq("scn"), path, Buckets,
      tombstoneRetention = Some(Retention), batchId = Some(s"query:$i"))

  private def byName(df: DataFrame): Set[Row] = df.select(df.columns.sorted.toSeq.map(col): _*).collect().toSet

  /** `Ops.applyChanges` over batches `0..i`. */
  private def expected(i: Int): Set[Row] =
    byName(Ops.applyChanges(feed.take(i + 1).reduce(_.unionByName(_, allowMissingColumns = true)), Seq("id"), Seq("scn")))

  private def rows(path: String): Set[Row] = byName(Stream.readCurrentState(spark, path).drop(Stream.BucketCol))

  private def stateText(root: JPath): Option[String] = {
    val f = root.resolve("_state")
    if (Files.exists(f)) Some(new String(Files.readAllBytes(f), "UTF-8")) else None
  }

  /** Every directory under `root` with the number of parquet files in it. */
  private def tree(root: JPath): Map[String, Int] = {
    val st = Files.walk(root)
    try st.iterator().asScala.filter(Files.isDirectory(_)).map { d =>
      val n = Files.list(d)
      try root.relativize(d).toString -> n.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally n.close()
    }.toMap
    finally st.close()
  }

  private def crashPath(local: JPath): String = s"crash:${local.toAbsolutePath}"

  /** What an uninterrupted run commits after each batch. */
  private final case class Committed(local: JPath, state: String, tree: Map[String, Int], rows: Set[Row])

  /** One crash point: batch `batch` crashed at mutating call `k`. */
  private final case class CrashRun(batch: Int, k: Int, readAtCrash: Either[String, Set[Row]], stateAtCrash: Option[String],
      newGenerationAtCrash: Boolean, rerunState: Option[String], rerunTree: Map[String, Int], rerunRows: Set[Row])

  private lazy val (uninterrupted, crashRuns): (Seq[Committed], Seq[CrashRun]) = {
    spark.sparkContext.hadoopConfiguration.set("fs.crash.impl", classOf[CrashFs].getName)
    val base = tmp("commit-base")
    val done = feed.indices.map { i =>
      val root = base.resolve(s"after-$i")
      if (i > 0) CrashFs.copyTree(base.resolve(s"after-${i - 1}"), root)
      fold(i, crashPath(root.resolve("t")))
      val t = root.resolve("t")
      Committed(t, stateText(t).get, tree(t), rows(crashPath(t)))
    }
    val runs = for (i <- feed.indices; run <- crashesOf(i, done)) yield run
    (done, runs)
  }

  /** Crashes batch `i` at every mutating call, from the first until one
    * run needs fewer calls than `k`, and re-runs it after each crash.
    */
  private def crashesOf(i: Int, done: Seq[Committed]): Seq[CrashRun] = {
    val prevVersion = if (i == 0) 0L else Stream.committed(spark, crashPath(done(i - 1).local)).get.version
    Iterator.from(1).map { k =>
      val root = tmp(s"crash-$i-$k").resolve("t")
      if (i > 0) CrashFs.copyTree(done(i - 1).local, root)
      val path = crashPath(root)
      // the failed tasks' stack traces are the injected crash: not logged
      spark.sparkContext.setLogLevel("OFF")
      CrashFs.arm(k)
      val crashed =
        try { fold(i, path); false }
        catch { case e: Throwable if CrashFs.caused(e) => true }
        finally { CrashFs.disarm(); spark.sparkContext.setLogLevel("WARN") }
      Option.when(crashed) {
        val read =
          try Right(rows(path))
          catch { case e: IllegalArgumentException => Left(e.getMessage) }
        val atCrash = stateText(root)
        val newGen = (0 until Buckets).exists(n =>
          Files.exists(root.resolve(s"${Stream.BucketCol}=$n/g-${prevVersion + 1}")))
        fold(i, path)
        CrashRun(i, k, read, atCrash, newGen, stateText(root), tree(root), rows(path))
      }
    }.takeWhile(_.nonEmpty).flatten.toSeq
  }

  test("a crash at any mutating file-system call of a fold re-runs to the uninterrupted rows, _state and files") {
    feed.indices.foreach(i => assert(uninterrupted(i).rows == expected(i), s"batch $i"))
    // the feed's last batch purged the delete's tombstone: no row of id 5 is left
    assert(!spark.read.parquet(uninterrupted.last.local.toString).collect().exists(_.getAs[Long]("id") == 5L))
    val points = feed.indices.map(i => crashRuns.count(_.batch == i))
    info(s"crash points per batch: ${points.mkString(", ")}")
    assert(points.forall(_ >= 5), points)
    crashRuns.foreach { r =>
      val want = uninterrupted(r.batch)
      assert(r.rerunRows == want.rows, s"batch ${r.batch}, crash at call ${r.k}")
      assert(r.rerunState.contains(want.state), s"batch ${r.batch}, crash at call ${r.k}: ${r.rerunState}")
      assert(r.rerunTree == want.tree, s"batch ${r.batch}, crash at call ${r.k}")
    }
  }

  test("a reader at any crash point reads exactly the previous state or the next, never a mix") {
    crashRuns.foreach { r =>
      val at = s"batch ${r.batch}, crash at call ${r.k}"
      if (r.stateAtCrash.contains(uninterrupted(r.batch).state))
        assert(r.readAtCrash == Right(uninterrupted(r.batch).rows), at)
      else if (r.batch == 0) {
        assert(r.stateAtCrash.isEmpty, at)
        assert(r.readAtCrash.left.exists(_.contains("Stream.writeState")), at)
      } else {
        assert(r.stateAtCrash.contains(uninterrupted(r.batch - 1).state), at)
        assert(r.readAtCrash == Right(uninterrupted(r.batch - 1).rows), at)
      }
    }
    // the window the rename swap had to poll across: the batch's new
    // generations are in place, and `_state` still names the old ones
    (1 until feed.size).foreach { i =>
      assert(crashRuns.exists(r => r.batch == i && r.newGenerationAtCrash &&
        r.stateAtCrash.contains(uninterrupted(i - 1).state)), s"batch $i")
    }
  }

  test("a replayed stream batch that the state committed is not folded again") {
    val s = spark
    import s.implicits._
    val path = tmp("replay").resolve("t").toString
    def fold(evs: Seq[Ev], batch: String): Unit =
      Stream.foldBatch(evs.toDF(), Seq("id"), Seq("scn"), path, Buckets, batchId = Some(batch))
    fold(Seq(Ev(1L, 1L, "c", 1.0)), "q:0")
    val committed = Stream.committed(spark, path)
    fold(Seq(Ev(2L, 1L, "u", 2.0)), "q:0")
    assert(Stream.committed(spark, path) == committed)
    assert(Stream.readCurrentState(spark, path).as[Ev].collect().toSeq == Seq(Ev(1L, 1L, "c", 1.0)))
    fold(Seq(Ev(2L, 1L, "u", 2.0)), "q:1")
    assert(Stream.readCurrentState(spark, path).as[Ev].collect().toSeq == Seq(Ev(2L, 1L, "u", 2.0)))
  }

  test("materialize names each commit after its query and batch") {
    val s = spark
    import s.implicits._
    val in = tmp("named-in")
    Files.write(in.resolve("a.json"), """{"scn":1,"id":1,"op":"c","value":1.0}""".getBytes("UTF-8"))
    val path = tmp("named-st").resolve("t").toString
    val feed = s.readStream.schema(Seq(Ev(0L, 0L, "", 0.0)).toDF().schema).json(in.toString)
    val q = Stream.materialize(feed, Seq("id"), Seq("scn"), path, tmp("named-chk").toString)
    q.awaitTermination()
    assert(Stream.committed(spark, path).flatMap(_.batch).contains(s"${q.id}:0"))
  }

  test("a state with no live bucket reads empty, with its schema") {
    val s = spark
    import s.implicits._
    val path = tmp("empty").resolve("t").toString
    val none = Seq.empty[Ev].toDF()
    Stream.writeState(none, path, Seq("id"), Buckets)
    assert(Stream.committed(spark, path).exists(_.live.isEmpty))
    val df = Stream.readCurrentState(spark, path)
    assert(df.schema.fieldNames.toSeq == none.columns.toSeq :+ Stream.BucketCol)
    assert(df.collect().isEmpty)
  }

  test("a state whose live generation is gone fails the read instead of reading fewer rows") {
    val s = spark
    import s.implicits._
    val path = tmp("gone").resolve("t").toString
    Stream.writeState((0L until 12L).map(i => Ev(i, i, "c", 1.0)).toDF(), path, Seq("id"), Buckets)
    val (n, gen) = Stream.committed(spark, path).get.live.head
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(Stream.generationDir(new Path(path), n, gen).toUri.getPath))
    val e = intercept[IllegalArgumentException](Stream.readCurrentState(spark, path))
    assert(e.getMessage.contains("names a generation that does not exist"), e.getMessage)
  }

  test("reading a root with files but no _state fails, naming Stream.writeState") {
    val s = spark
    import s.implicits._
    val path = tmp("flat").resolve("t").toString
    Seq(Ev(1L, 1L, "c", 1.0)).toDF().write.parquet(path)
    val e = intercept[IllegalArgumentException](Stream.readCurrentState(spark, path))
    assert(e.getMessage.contains("Stream.writeState"), e.getMessage)
  }

  test("Stream.scala has no sleep: a reader never waits for a commit") {
    val src = new String(Files.readAllBytes(java.nio.file.Paths.get("src/main/scala/graft/cdc/Stream.scala")), "UTF-8")
    assert(!src.contains("Thread.sleep"))
  }
}
