package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Schema evolution (SURVEY.md §2.2: the reference sink auto-evolves,
  * `auto.evolve=true` README.md:839, DDL history recorded): new columns
  * appear mid-stream; old data reads as null for them and replay unions
  * align by NAME, not position.
  */
class SchemaEvolveSpec extends SparkSpec {

  test("parquet mergeSchema reads pre-DDL files with nulls in new columns") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("evolve").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.parquet(s"$dir/batch=0")
    Seq((3L, "c", 9.99), (4L, "d", 1.50)).toDF("id", "name", "price")
      .write.parquet(s"$dir/batch=1")
    val merged = s.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("batch", "id", "name", "price"))
    val rows = merged.orderBy("id")
      .collect().map(r => (r.getAs[Long]("id"), Option(r.get(r.fieldIndex("price")))))
    assert(rows.toSeq == Seq((1L, None), (2L, None), (3L, Some(9.99)), (4L, Some(1.5))))
  }

  test("unionByName with allowMissingColumns replays mixed-schema change batches") {
    val s = spark
    import s.implicits._
    val v1 = Seq((1L, "c", "x")).toDF("id", "op", "name")
    val v2 = Seq((2L, "c", "y", 5.0)).toDF("id", "op", "name", "price")
    val replay = v1.unionByName(v2, allowMissingColumns = true)
    assert(replay.columns.toSeq == Seq("id", "op", "name", "price"))
    val byId = replay.collect().map(r => r.getAs[Long]("id") ->
      Option(r.get(r.fieldIndex("price")))).toMap
    assert(byId == Map(1L -> None, 2L -> Some(5.0)))
  }

  test("evolved feed flows through apply_changes (late column wins where set)") {
    val s = spark
    import s.implicits._
    val v1 = Seq((1L, 1L, "c", "x")).toDF("scn", "id", "op", "name")
    val v2 = Seq((2L, 1L, "u", "x2", 5.0)).toDF("scn", "id", "op", "name", "price")
    val feed = v1.unionByName(v2, allowMissingColumns = true)
    val state = Ops.applyChanges(feed, keys = Seq("id"), ordering = Seq("scn")).collect()
    assert(state.length == 1)
    assert(state.head.getAs[String]("name") == "x2")
    assert(state.head.getAs[Double]("price") == 5.0)
  }

  // ---- mid-stream evolution through Stream.materialize (auto.evolve
  // parity, reference README.md:839): the connector restarts with a
  // WIDER row schema after a captured DDL; the existing bucketed state
  // must keep working — old rows null in the new column, only touched
  // buckets rewritten widened, restart-safe from the same checkpoint.

  import org.apache.spark.sql.types.{StructField, StructType, LongType, StringType, DoubleType}

  private val v1Schema = StructType(Seq(
    StructField("scn", LongType), StructField("id", LongType),
    StructField("op", StringType), StructField("value", DoubleType)))
  private val v2Schema = StructType(v1Schema.fields.toSeq :+ StructField("note", StringType))

  private def tmp(prefix: String) = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  private def run(in: java.nio.file.Path, statePath: String, chk: java.nio.file.Path,
      schema: StructType): Unit = {
    val feed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 2).json(in.toString)
    Stream.materialize(feed, Seq("id"), Seq("scn"), statePath, chk.toString)
      .awaitTermination()
  }

  test("materialize survives a mid-stream schema widening across restart (auto.evolve)") {
    val (in, state, chk) = (tmp("ev-in"), tmp("ev-st"), tmp("ev-chk"))
    val statePath = state.resolve("t").toString
    // phase 1: v1 schema — ids 0..39 so every bucket is populated
    val v1Lines = (0 until 40).map(i => s"""{"scn":$i,"id":$i,"op":"c","value":${i / 2.0}}""")
    Files.write(in.resolve("a-0.json"), String.join("\n", v1Lines: _*).getBytes)
    run(in, statePath, chk, v1Schema)
    // phase 2 (restart, same checkpoint): v2 schema adds `note`; the
    // delta touches id=1 (update, note set) and id=1000 (new key)
    Files.write(in.resolve("b-0.json"), String.join("\n",
      s"""{"scn":100,"id":1,"op":"u","value":9.5,"note":"evolved"}""",
      s"""{"scn":101,"id":1000,"op":"c","value":7.0,"note":"fresh"}""").getBytes)
    run(in, statePath, chk, v2Schema)
    val cur = Stream.readCurrentState(spark, statePath)
    assert(cur.columns.contains("note"), "state schema must widen")
    val byId = cur.collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Double]("value"), Option(r.getAs[String]("note"))))).toMap
    assert(byId.size == 41)
    assert(byId(1L) == ((9.5, Some("evolved"))), byId(1L).toString)
    assert(byId(1000L) == ((7.0, Some("fresh"))))
    // pre-evolution rows in untouched buckets read as null through merge
    assert(byId(2L) == ((1.0, None)), byId(2L).toString)
    // phase 3: an update whose payload pre-dates the DDL (narrower than
    // state — the other alignment direction) still folds; its note is null
    Files.write(in.resolve("c-0.json"),
      s"""{"scn":102,"id":3,"op":"u","value":1.25}""".getBytes)
    run(in, statePath, chk, v1Schema)
    val after = Stream.readCurrentState(spark, statePath).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Double]("value"), Option(r.getAs[String]("note"))))).toMap
    assert(after(3L) == ((1.25, None)))
    assert(after(1L) == ((9.5, Some("evolved"))), "other keys untouched by phase 3")
  }

  test("evolution boundary is restart-safe: widened state accepts further v2 batches after stop") {
    val (in, state, chk) = (tmp("ev2-in"), tmp("ev2-st"), tmp("ev2-chk"))
    val statePath = state.resolve("t").toString
    Files.write(in.resolve("a-0.json"), String.join("\n",
      s"""{"scn":1,"id":1,"op":"c","value":1.0}""",
      s"""{"scn":2,"id":2,"op":"c","value":2.0}""").getBytes)
    run(in, statePath, chk, v1Schema)
    Files.write(in.resolve("b-0.json"),
      s"""{"scn":3,"id":2,"op":"u","value":2.5,"note":"n1"}""".getBytes)
    run(in, statePath, chk, v2Schema)
    // stop/restart AFTER the evolution, more v2 data, same checkpoint
    Files.write(in.resolve("c-0.json"), String.join("\n",
      s"""{"scn":4,"id":1,"op":"u","value":1.5,"note":"n2"}""",
      s"""{"scn":5,"id":2,"op":"d","value":0.0}""").getBytes)
    run(in, statePath, chk, v2Schema)
    val cur = Stream.readCurrentState(spark, statePath).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("value"), r.getAs[String]("note")))
      .toSet
    assert(cur == Set((1L, 1.5, "n2")), cur.toString)
  }

  /** The state's read schema equals `mergeSchema` inference over its
    * files: names, types, nullability and order.
    */
  private def assertInferredSchema(statePath: String, phase: String): Unit = {
    val got = Stream.readCurrentState(spark, statePath).schema
    val inferred = spark.read.option("mergeSchema", "true").parquet(statePath).schema
    assert(got == inferred, s"$phase: read ${got.treeString} but inference gives ${inferred.treeString}")
  }

  test("readCurrentState's recorded schema equals mergeSchema inference on bootstrap, steady and evolved states") {
    val (in, state, chk) = (tmp("evs-in"), tmp("evs-st"), tmp("evs-chk"))
    val statePath = state.resolve("t").toString
    Files.write(in.resolve("a-0.json"), String.join("\n",
      (0 until 40).map(i => s"""{"scn":$i,"id":$i,"op":"c","value":${i / 2.0}}"""): _*).getBytes)
    run(in, statePath, chk, v1Schema)
    assertInferredSchema(statePath, "bootstrap")
    Files.write(in.resolve("b-0.json"),
      s"""{"scn":100,"id":1,"op":"u","value":9.5}""".getBytes)
    run(in, statePath, chk, v1Schema)
    assertInferredSchema(statePath, "steady")
    Files.write(in.resolve("c-0.json"),
      s"""{"scn":101,"id":2,"op":"u","value":7.0,"note":"evolved"}""".getBytes)
    run(in, statePath, chk, v2Schema)
    assertInferredSchema(statePath, "evolved")
    assert(Stream.readCurrentState(spark, statePath).columns.contains("note"))
    // a snapshot bootstrap (writeState) records the same way
    val written = state.resolve("w").toString
    Stream.writeState(spark.read.schema(v2Schema).json(in.toString), written, Seq("id"))
    assertInferredSchema(written, "writeState")
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    Files.createDirectories(to.getParent)
    val st = Files.walk(from)
    try st.iterator().asScala.foreach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally st.close()
  }

  /** Every directory under `root`, relative to it. */
  private def dirs(root: java.nio.file.Path): Set[String] = {
    val st = Files.walk(root)
    try st.iterator().asScala.filter(Files.isDirectory(_)).map(p => root.relativize(p).toString).toSet
    finally st.close()
  }

  test("a crash after the widened schema is recorded, before the bucket swap, re-runs to the same state") {
    val s = spark
    import s.implicits._
    val base = tmp("evc")
    val v1 = base.resolve("v1")
    Stream.foldBatch((0 until 40).map(i => (i.toLong, i.toLong, "c", i / 2.0)).toDF("scn", "id", "op", "value"),
      Seq("id"), Seq("scn"), v1.toString, stateBuckets = 16)
    def widening = Seq((100L, 1L, "u", 9.5, "evolved"), (101L, 1000L, "c", 7.0, "fresh"))
      .toDF("scn", "id", "op", "value", "note")
    def fold(root: java.nio.file.Path): Unit =
      Stream.foldBatch(widening, Seq("id"), Seq("scn"), root.toString, stateBuckets = 16, batchId = Some("q:1"))
    def read(root: java.nio.file.Path) = Stream.readCurrentState(spark, root.toString)
    def rows(root: java.nio.file.Path) = read(root)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("scn"), r.getAs[Double]("value"),
        Option(r.getAs[String]("note")))).toSet
    def stateText(root: java.nio.file.Path) = new String(Files.readAllBytes(root.resolve("_state")), "UTF-8")
    def generation(root: java.nio.file.Path, n: Int, v: Long) = root.resolve(s"state_bucket=$n/g-$v")
    val done = base.resolve("done")
    copyTree(v1, done)
    fold(done)
    val wide = Stream.committed(spark, done.toString).get
    // the schema is recorded in `_state`, so these cuts bracket that
    // record: the widened buckets are renamed into their generations and
    // the widened `_state` is written in full, or in part, beside the old
    def renamed(name: String, state: String): java.nio.file.Path = {
      val root = base.resolve(name)
      copyTree(v1, root)
      wide.live.filter(_._2 == wide.version).foreach { case (n, v) => copyTree(generation(done, n, v), generation(root, n, v)) }
      Files.write(root.resolve("._state.tmp"), state.getBytes("UTF-8"))
      Files.createDirectories(root.resolve(".delta_tmp/state_bucket=3"))
      root
    }
    val cut = renamed("cut", stateText(done))
    val partial = renamed("partial", stateText(done).take(stateText(done).length / 2))
    // and the widened `_state` in place, the generations it superseded not
    // yet deleted
    val recorded = base.resolve("recorded")
    copyTree(done, recorded)
    wide.superseded.foreach { case (n, v) => copyTree(generation(v1, n, v), generation(recorded, n, v)) }
    Files.createDirectories(recorded.resolve(".delta_tmp/state_bucket=3"))
    // a reader at each cut sees the state before the batch or after it
    for (root <- Seq(cut, partial)) {
      assert(read(root).schema == read(v1).schema, root.toString)
      assert(read(root).collect().toSet == read(v1).collect().toSet, root.toString)
    }
    assert(rows(recorded) == rows(done))
    for (root <- Seq(cut, partial, recorded)) {
      fold(root)
      assert(rows(root) == rows(done), root.toString)
      assert(read(root).schema == read(done).schema, root.toString)
      assert(stateText(root) == stateText(done), root.toString)
      assert(dirs(root) == dirs(done), root.toString)
      assert(!Files.exists(root.resolve(".delta_tmp")) && !Files.exists(root.resolve("._state.tmp")))
      assertInferredSchema(root.toString, root.getFileName.toString)
    }
    assert(rows(done).contains((2L, 2L, 1.0, None)) && rows(done).contains((1L, 100L, 9.5, Some("evolved"))))
  }

  test("a batch that changes a column's type fails before the swap and leaves the state readable") {
    val s = spark
    import s.implicits._
    val root = tmp("evt").resolve("t").toString
    val keys = (0 until 40).map(i => (i.toLong, i.toLong, "c", i.toLong))
    Stream.foldBatch(keys.toDF("scn", "id", "op", "n"), Seq("id"), Seq("scn"), root, stateBuckets = 16)
    // unionByName widens BIGINT with DOUBLE, so the rewrite would write DOUBLE buckets
    val e = intercept[IllegalArgumentException](Stream.foldBatch(
      Seq((100L, 1L, "u", 2.5)).toDF("scn", "id", "op", "n"), Seq("id"), Seq("scn"), root, stateBuckets = 16))
    assert(e.getMessage.contains("only added columns evolve"), e.getMessage)
    val state = Stream.readCurrentState(spark, root)
    assert(state.schema("n").dataType == org.apache.spark.sql.types.LongType)
    assert(state.collect().map(r => (r.getAs[Long]("scn"), r.getAs[Long]("id"), r.getAs[String]("op"),
      r.getAs[Long]("n"))).toSet == keys.toSet)
  }
}
