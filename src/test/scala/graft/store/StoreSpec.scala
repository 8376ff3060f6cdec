package graft.store

import java.nio.file.{Files, Path => JPath}

import graft.{CrashFs, SparkSpec, Tables}
import graft.llm.{Curation, NearDedup, TextOps, VectorOps}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The generation-pointer store under its three users. Each call that
  * writes a store root is crashed at every mutating file-system call
  * ([[CrashFs]]): a reader at the crash point sees the state before the
  * call or the state after it, and re-running the call gives the rows of
  * an uninterrupted run.
  */
class StoreSpec extends SparkSpec {

  private lazy val docs: DataFrame =
    Tables(spark, sf("sf0.001")).documents.filter(col("doc_id") < 40).select("doc_id", "text")
  private lazy val emb: DataFrame = Tables(spark, sf("sf0.001")).embeddings
  private def even(df: DataFrame, id: String): DataFrame = df.filter(col(id) % 2 === 0)
  private def odd(df: DataFrame, id: String): DataFrame = df.filter(col(id) % 2 === 1)

  private val Cells = 4

  /** What a reader sees: the rows, or None when there is no committed
    * artifact yet.
    */
  private type Seen = Option[Seq[Row]]

  private def committed(read: => Seq[Row]): Seen =
    try Some(read)
    catch { case e: IllegalArgumentException if String.valueOf(e.getMessage).startsWith("no committed") => None }

  private def textRows(path: String): Seen =
    committed(TextOps.bm25TopKDisk(docs, 0L until 4L, k = 5, path).collect().toSeq)

  private def ivfPqRows(path: String): Seen =
    committed(VectorOps.ivfPqTopKDisk(emb, 0L until 4L, k = 5, path, nprobe = Cells).collect().toSeq)

  private def local(path: String): JPath = java.nio.file.Paths.get(path.stripPrefix("crash:"))

  /** The admission state's reader is the next fold: it completes a
    * committed stage and drops an uncommitted one before it reads. It
    * runs on a local copy, so the re-run starts from the crash point
    * itself, and the crash file system does not fail it.
    */
  private def admissionRows(path: String): Seen = {
    val copy = graft.TempDirs.scratch("store-read").resolve("t")
    CrashFs.copyTree(local(path), copy)
    Curation.admitLinesToState(docs.limit(0), copy.toString)
    Store.live(spark, copy.toString).map { gen =>
      Seq("out", "owned").flatMap { t =>
        if (!Files.exists(local(s"$gen/$t"))) Nil
        else spark.read.parquet(s"$gen/$t").collect().toSeq.sortBy(_.toString)
      }
    }
  }

  private def linesBatch(path: String, lo: Long, hi: Long): Unit =
    Curation.admitLinesToState(docs.filter(col("doc_id") >= lo && col("doc_id") < hi), path)

  private def saveIvfPq(path: String, key: String, df: DataFrame): Unit =
    VectorOps.saveIvfPqIndexOf(df, path, cells = Cells, datasetKey = s"store-spec#$key")

  /** Runs `call` on a copy of the state `prepare` built, crashed at each
    * mutating call from the first until a run needs fewer, and checks
    * both invariants at every crash point. Returns the number of crash
    * points.
    */
  private def crashEveryCall(name: String, prepare: String => Unit, call: String => Unit,
      read: String => Seen): Int = {
    spark.sparkContext.hadoopConfiguration.set("fs.crash.impl", classOf[CrashFs].getName)
    val base = graft.TempDirs.scratch(s"store-$name")
    def root(tag: String): String = s"crash:${base.resolve(tag).resolve("t")}"
    val prevRoot = root("prev")
    prepare(prevRoot)
    val prev = read(prevRoot)
    def fromPrev(tag: String): String = {
      val r = root(tag)
      CrashFs.copyTree(local(prevRoot), local(r))
      r
    }
    val nextRoot = fromPrev("next")
    call(nextRoot)
    val next = read(nextRoot)
    assert(next.nonEmpty, s"$name: no committed state after an uninterrupted run")
    Iterator.from(1).map { k =>
      val r = fromPrev(s"crash-$k")
      // the failed tasks' stack traces are the injected crash: not logged
      spark.sparkContext.setLogLevel("OFF")
      CrashFs.arm(k)
      // the reader runs armed: Spark kills the crashed job's other tasks
      // asynchronously, and the crash keeps them off the files meanwhile
      val atCrash =
        try {
          try { call(r); None }
          catch { case e: Throwable if CrashFs.caused(e) => Some(read(r)) }
        } finally { CrashFs.disarm(); spark.sparkContext.setLogLevel("WARN") }
      atCrash.map { seen =>
        assert(seen == prev || seen == next, s"$name, crash at call $k: the reader saw a state that is neither")
        call(r)
        assert(read(r) == next, s"$name, crash at call $k: the re-run differs from an uninterrupted run")
      }
    }.takeWhile(_.nonEmpty).size
  }

  private def enumerate(name: String, prepare: String => Unit, call: String => Unit, read: String => Seen): Unit = {
    val points = crashEveryCall(name, prepare, call, read)
    info(s"$name: $points crash points")
    assert(points >= 3, s"$name: $points crash points")
  }

  test("saveTextIndex: a crash at any call leaves no index or the whole index") {
    enumerate("save-text", _ => (), TextOps.saveTextIndex(docs, _), textRows)
  }

  test("appendTextIndex: a crash at any call leaves the batch out or in, in full") {
    enumerate("append-text", p => TextOps.saveTextIndex(even(docs, "doc_id"), p),
      TextOps.appendTextIndex(odd(docs, "doc_id"), _), textRows)
  }

  test("compactTextIndex: a crash at any call leaves the previous generation or the next") {
    enumerate("compact-text",
      p => { TextOps.saveTextIndex(even(docs, "doc_id"), p); TextOps.appendTextIndex(odd(docs, "doc_id"), p) },
      TextOps.compactTextIndex(spark, _), textRows)
  }

  test("saveIvfPqIndexOf: a crash at any call leaves no index or the whole index") {
    enumerate("save-ivfpq", _ => (), saveIvfPq(_, "all", emb), ivfPqRows)
  }

  test("appendIvfPqIndex: a crash at any call leaves the batch out or in, in full") {
    enumerate("append-ivfpq", saveIvfPq(_, "even", even(emb, "vec_id")),
      VectorOps.appendIvfPqIndex(odd(emb, "vec_id"), _), ivfPqRows)
  }

  test("compactIvfPqIndex: a crash at any call leaves the previous generation or the next") {
    enumerate("compact-ivfpq",
      p => {
        saveIvfPq(p, "even", even(emb, "vec_id"))
        VectorOps.appendIvfPqIndex(odd(emb, "vec_id"), p)
        VectorOps.deleteFromIvfPqIndex(emb.filter(col("vec_id") % 3 === 0).select("vec_id"), p)
      },
      VectorOps.compactIvfPqIndex(spark, _), ivfPqRows)
  }

  test("compactAdmissionState: a crash at any call leaves the previous generation or the next") {
    enumerate("compact-admission",
      p => Seq(0L, 10L, 20L, 30L).foreach(lo => linesBatch(p, lo, lo + 10)),
      NearDedup.compactAdmissionState(spark, _), admissionRows)
  }

  test("a lines-fold batch: a crash at any call leaves the batch out or in, in full") {
    enumerate("lines-fold", linesBatch(_, 0L, 20L), linesBatch(_, 15L, 40L), admissionRows)
  }

  test("a root in the layout before the store (a marker, no _current) is not a committed index") {
    val root = graft.TempDirs.scratch("store-old-layout")
    Seq("text", "ivfpq").foreach { kind =>
      val dir = root.resolve(kind)
      Files.createDirectories(dir)
      Files.createFile(dir.resolve("_graft_index_ok"))
    }
    val text = intercept[IllegalArgumentException](TextOps.bm25TopKDisk(docs, Seq(0L), 5, root.resolve("text").toString))
    assert(text.getMessage.startsWith("no committed text index"), text.getMessage)
    val ivfPq = intercept[IllegalArgumentException](VectorOps.loadIvfPqModel(spark, root.resolve("ivfpq").toString))
    assert(ivfPq.getMessage.startsWith("no committed IVF-PQ index"), ivfPq.getMessage)
    // the demo artifacts moved to a new path with this layout
    assert(Store.artifactPath("textidx", "d").matches(".*/graft_textidx_l\\d+_[0-9a-f]{12}"))
  }
}
