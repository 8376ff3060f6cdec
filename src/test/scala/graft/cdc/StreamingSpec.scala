package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** Streaming parity + exactly-once tests (SURVEY.md §5.2):
  * the foreachBatch materialization over a file channel must equal the
  * batch `apply_changes` over the same events, including across a
  * stop/restart from checkpoint (reference's checkpoint/resume artifacts
  * `olr-checkpoint/ORACLE-chkpt-*.json`).
  */
class StreamingSpec extends SparkSpec {

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  private val events: Seq[Ev] = (0 until 200).map { i =>
    val id = i % 17
    val op = (i % 11) match {
      case 0     => "c"
      case 7     => "d"
      case _     => "u"
    }
    Ev(i.toLong, id.toLong, op, (i * 37 % 1000) / 10.0)
  }

  private def writeBatchJson(dir: Path, evs: Seq[Ev], name: String): Unit = {
    val lines = evs.map(e =>
      s"""{"scn":${e.scn},"id":${e.id},"op":"${e.op}","value":${e.value}}""")
    Files.write(dir.resolve(name), String.join("\n", lines: _*).getBytes)
  }

  private def batchState(evs: Seq[Ev]) = {
    val s = spark
    import s.implicits._
    Ops
      .applyChanges(evs.toDF(), keys = Seq("id"), ordering = Seq("scn"))
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("scn"), r.getAs[Double]("value")))
      .toSet
  }

  private def readState(path: String) =
    Stream.readCurrentState(spark, path).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("scn"), r.getAs[Double]("value")))
      .toSet

  private val feedSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("scn", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("op", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))

  private def startMaterialize(in: Path, state: Path, chk: Path) = {
    val feed = spark.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", 2).json(in.toString)
    Stream.materialize(feed, Seq("id"), Seq("scn"),
      state.resolve("t").toString, chk.toString)
  }

  test("streaming materialization matches batch apply_changes") {
    val (in, state, chk) = (tmp("in"), tmp("state"), tmp("chk"))
    events.grouped(50).zipWithIndex.foreach { case (g, i) =>
      writeBatchJson(in, g, s"part-$i.json")
    }
    val q = startMaterialize(in, state, chk)
    q.awaitTermination()
    assert(readState(state.resolve("t").toString) == batchState(events))
  }

  test("restart from checkpoint: no reprocessing, suffix applied exactly once") {
    val (in, state, chk) = (tmp("in2"), tmp("state2"), tmp("chk2"))
    val (first, second) = events.splitAt(120)
    first.grouped(40).zipWithIndex.foreach { case (g, i) =>
      writeBatchJson(in, g, s"a-$i.json")
    }
    val q1 = startMaterialize(in, state, chk)
    q1.awaitTermination()
    assert(readState(state.resolve("t").toString) == batchState(first))
    // new files arrive while "down"; restart with the same checkpoint
    second.grouped(40).zipWithIndex.foreach { case (g, i) =>
      writeBatchJson(in, g, s"b-$i.json")
    }
    val q2 = startMaterialize(in, state, chk)
    q2.awaitTermination()
    assert(readState(state.resolve("t").toString) == batchState(events))
  }

  test("late replay older than a delete cannot resurrect the key (tombstone retention)") {
    val (in, state, chk) = (tmp("in7"), tmp("state7"), tmp("chk7"))
    val statePath = state.resolve("t").toString
    // batch 1: create then delete id=1
    writeBatchJson(in, Seq(Ev(1L, 1L, "c", 1.0), Ev(10L, 1L, "d", 0.0),
      Ev(2L, 2L, "c", 2.0)), "a-0.json")
    val q1 = startMaterialize(in, state, chk)
    q1.awaitTermination()
    assert(readState(statePath) == Set((2L, 2L, 2.0)))
    // batch 2: a STALE pre-delete update of id=1 arrives late (cross-batch
    // disorder — the case a dropped tombstone would resurrect)
    writeBatchJson(in, Seq(Ev(5L, 1L, "u", 5.0)), "b-0.json")
    val q2 = startMaterialize(in, state, chk)
    q2.awaitTermination()
    assert(readState(statePath) == Set((2L, 2L, 2.0)),
      "stale pre-delete replay must lose to the retained tombstone")
  }

  test("incremental materialize: untouched buckets' files are byte-identical") {
    val s = spark
    import s.implicits._
    val (in, state, chk) = (tmp("in3"), tmp("state3"), tmp("chk3"))
    val statePath = state.resolve("t").toString
    // batch 1: 60 keys spread across the 16 key-hash buckets
    val first = (0 until 60).map(i => Ev(i.toLong, i.toLong, "c", i / 10.0))
    writeBatchJson(in, first, "a-0.json")
    val q1 = startMaterialize(in, state, chk)
    q1.awaitTermination()
    assert(readState(statePath) == batchState(first))
    def bucketFiles(): Map[String, Map[String, String]] = {
      val root = new java.io.File(statePath)
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("state_bucket="))
        .map { d =>
          d.getName -> d.listFiles().filter(_.isFile).map { f =>
            val md = java.security.MessageDigest.getInstance("MD5")
              .digest(java.nio.file.Files.readAllBytes(f.toPath))
            f.getName -> md.map("%02x".format(_)).mkString
          }.toMap
        }.toMap
    }
    val before = bucketFiles()
    // batch 2: delta touches exactly one key → one bucket
    val deltaKey = 7L
    val touched = Seq(Ev(1000L, deltaKey, "u", 99.9))
    writeBatchJson(in, touched, "b-0.json")
    val q2 = startMaterialize(in, state, chk)
    q2.awaitTermination()
    assert(readState(statePath) == batchState(first ++ touched))
    val after = bucketFiles()
    val hot = s.range(1).select(
      pmod(xxhash64(lit(deltaKey)), lit(16)).cast("int")).as[Int].head()
    val hotDir = s"state_bucket=$hot"
    assert(after(hotDir) != before(hotDir), "delta bucket was not rewritten")
    before.keys.filterNot(_ == hotDir).foreach { d =>
      assert(after(d) == before(d), s"untouched bucket $d was rewritten")
    }
    assert(before.keys.filterNot(_ == hotDir).nonEmpty)
  }

  test("bucket-swap crash repair: interrupted renames roll forward/back to a valid state") {
    val s = spark
    import s.implicits._
    val (in, state, chk) = (tmp("in4"), tmp("state4"), tmp("chk4"))
    val statePath = state.resolve("t").toString
    val first = (0 until 40).map(i => Ev(i.toLong, i.toLong, "c", i.toDouble))
    writeBatchJson(in, first, "a-0.json")
    val q1 = startMaterialize(in, state, chk)
    q1.awaitTermination()
    val before = readState(statePath)
    val root = new java.io.File(statePath)
    def dirOf(n: String) = new java.io.File(root, n)
    // simulate a crash BETWEEN rename(dst→.old_N) and rename(tmp→dst):
    // bucket dir missing, .old_N holds the data
    val someBucket = root.listFiles().filter(_.getName.startsWith("state_bucket=")).head
    val n = someBucket.getName.stripPrefix("state_bucket=")
    assert(someBucket.renameTo(dirOf(s".old_$n")))
    // plus a stale tmp dir from the same doomed batch
    assert(dirOf(".delta_tmp").mkdir())
    // next batch (any delta) must repair first: state equals before+delta
    val touched = Seq(Ev(1000L, 3L, "u", 99.0))
    writeBatchJson(in, touched, "b-0.json")
    val q2 = startMaterialize(in, state, chk)
    q2.awaitTermination()
    assert(readState(statePath) == batchState(first ++ touched))
    assert(!dirOf(s".old_$n").exists() && !dirOf(".delta_tmp").exists(),
      "repair must clear crash leftovers")
    // and the crash-after-swap variant: .old_N beside a LIVE bucket dir
    val live = root.listFiles().filter(_.getName.startsWith("state_bucket=")).head
    val m = live.getName.stripPrefix("state_bucket=")
    val oldDir = dirOf(s".old_$m")
    assert(oldDir.mkdir())
    java.nio.file.Files.write(oldDir.toPath.resolve("junk.parquet"), Array[Byte](1, 2, 3))
    val touched2 = Seq(Ev(1001L, 5L, "u", 77.0))
    writeBatchJson(in, touched2, "c-0.json")
    val q3 = startMaterialize(in, state, chk)
    q3.awaitTermination()
    assert(readState(statePath) == batchState(first ++ touched ++ touched2))
    assert(!oldDir.exists(), "post-swap leftover .old_ dir must be deleted")
  }

  test("a flat unbucketed state root fails the batch, pointing to Stream.writeState") {
    val s = spark
    import s.implicits._
    val (in, state, chk) = (tmp("in5"), tmp("state5"), tmp("chk5"))
    val statePath = state.resolve("t").toString
    // top-level part-*.parquet files: the layout of a plain df.write.parquet
    Seq(Ev(1L, 1L, "c", 1.0)).toDF().write.parquet(statePath)
    val root = new java.io.File(statePath)
    val before = root.list().toSet
    writeBatchJson(in, Seq(Ev(2L, 2L, "c", 2.0)), "a-0.json")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      startMaterialize(in, state, chk).awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("Stream.writeState")), e.getMessage)
    assert(root.list().toSet == before, "a rejected batch must leave the root as it found it")
  }

  test("foldBatch restores the caller's job description on every path, exceptions included") {
    val s = spark
    import s.implicits._
    val sc = s.sparkContext
    def desc = sc.getLocalProperty("spark.job.description")
    def fold(evs: Seq[Ev], statePath: String, ordering: String = "scn"): Unit =
      Stream.foldBatch(evs.toDF(), Seq("id"), Seq(ordering), statePath, stateBuckets = 8)
    val prior = desc
    try {
      for (callerDesc <- Seq(null, "caller's own job")) {
        sc.setJobDescription(callerDesc)
        // bootstrap branch: no state root yet
        val boot = tmp("desc_boot").resolve("t").toString
        fold(Seq(Ev(1L, 1L, "c", 1.0)), boot)
        assert(desc == callerDesc, "bootstrap branch")
        // steady-state branch: the root now holds buckets
        fold(Seq(Ev(2L, 1L, "u", 2.0)), boot)
        assert(desc == callerDesc, "steady-state branch")
        // throwing branch: the fold fails after the probe job ran
        intercept[org.apache.spark.sql.AnalysisException](
          fold(Seq(Ev(3L, 1L, "u", 3.0)), boot, ordering = "no_such_column"))
        assert(desc == callerDesc, "throwing branch")
      }
    } finally sc.setJobDescription(prior)
  }

  test("a root without _state_schema reads by inference, and its next fold records the schema") {
    val (in, state, chk) = (tmp("legacy-in"), tmp("legacy-st"), tmp("legacy-chk"))
    val statePath = state.resolve("t").toString
    val (first, second) = events.splitAt(120)
    writeBatchJson(in, first, "a-0.json")
    startMaterialize(in, state, chk).awaitTermination()
    // the layout a state written before the schema file existed has
    val meta = new java.io.File(statePath, "_state_schema")
    assert(meta.delete() && new java.io.File(statePath, "._state_schema.crc").delete())
    assert(readState(statePath) == batchState(first))
    val inferred = spark.read.option("mergeSchema", "true").parquet(statePath).schema
    assert(Stream.readCurrentState(spark, statePath).schema == inferred)
    writeBatchJson(in, second, "b-0.json")
    startMaterialize(in, state, chk).awaitTermination()
    assert(meta.exists(), "the fold records the schema of a root that lacks one")
    assert(readState(statePath) == batchState(events))
    assert(Stream.readCurrentState(spark, statePath).schema == inferred)
  }

  test("readCurrentState fixes its file listing before it returns: a bucket deleted afterwards is still read") {
    val s = spark
    import s.implicits._
    val statePath = tmp("toctou").resolve("t").toString
    Stream.writeState(events.toDF(), statePath, Seq("id"), stateBuckets = 4)
    val df = Stream.readCurrentState(spark, statePath)
    val bucket = new java.io.File(statePath).listFiles().filter(_.getName.startsWith("state_bucket=")).head
    val files = df.inputFiles.filter(_.contains(s"/${bucket.getName}/"))
    assert(files.nonEmpty, df.inputFiles.mkString(", "))
    org.apache.commons.io.FileUtils.deleteDirectory(bucket)
    assert(files.forall(df.inputFiles.contains), df.inputFiles.mkString(", "))
  }

  test("bucket-count mismatch fails loudly instead of corrupting state") {
    val s = spark
    import s.implicits._
    val (in, state, chk) = (tmp("in6"), tmp("state6"), tmp("chk6"))
    val statePath = state.resolve("t").toString
    Stream.writeState(
      Seq(Ev(1L, 1L, "c", 1.0)).toDF(), statePath, Seq("id"), stateBuckets = 16)
    writeBatchJson(in, Seq(Ev(2L, 2L, "c", 2.0)), "a-0.json")
    val feed = s.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", 2).json(in.toString)
    val q = Stream.materialize(feed, Seq("id"), Seq("scn"), statePath,
      chk.toString, stateBuckets = 8)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("stateBuckets=16")), e.getMessage)
  }

  test("multi-table fan-out: one query maintains per-table states, restart-safe") {
    val (in, state, chk) = (tmp("mt-in"), tmp("mt-st"), tmp("mt-chk"))
    val stateRoot = state.resolve("r").toString
    val schema = org.apache.spark.sql.types.StructType(
      feedSchema.fields.toSeq :+
        org.apache.spark.sql.types.StructField("tbl", org.apache.spark.sql.types.StringType))
    // one mixed feed: same ids live independently in tables A and B
    def line(e: Ev, t: String) =
      s"""{"scn":${e.scn},"id":${e.id},"op":"${e.op}","value":${e.value},"tbl":"$t"}"""
    val a1 = Seq(Ev(1, 1, "c", 1.0), Ev(2, 2, "c", 2.0), Ev(3, 1, "u", 1.5))
    val b1 = Seq(Ev(1, 1, "c", 10.0), Ev(2, 3, "c", 30.0), Ev(4, 1, "d", 0.0))
    Files.write(in.resolve("x-0.json"), String.join("\n",
      (a1.map(line(_, "A")) ++ b1.map(line(_, "B"))): _*).getBytes)
    def run(): Unit = {
      val feed = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2).json(in.toString)
      Stream.materializeMulti(feed, "tbl", _ => Seq("id"), Seq("scn"),
        stateRoot, chk.toString).awaitTermination()
    }
    run()
    assert(readState(s"$stateRoot/table=A") == batchState(a1))
    assert(readState(s"$stateRoot/table=B") == batchState(b1))
    // restart with new files for both tables, same checkpoint
    val a2 = Seq(Ev(5, 2, "d", 0.0))
    val b2 = Seq(Ev(5, 1, "c", 11.0), Ev(6, 3, "u", 33.0))
    Files.write(in.resolve("y-0.json"), String.join("\n",
      (a2.map(line(_, "A")) ++ b2.map(line(_, "B"))): _*).getBytes)
    run()
    assert(readState(s"$stateRoot/table=A") == batchState(a1 ++ a2))
    assert(readState(s"$stateRoot/table=B") == batchState(b1 ++ b2))
  }

  test("composition: multi-table fan-out + mid-stream schema widening + tombstone retention across restarts") {
    // All three round-5 features share foldBatch; this drives their
    // pairwise seams together: per-TABLE purge watermarks (one table's
    // hwm advance must not purge the other's tombstone), tombstone purge
    // during a WIDENED bucket rewrite, and a narrower-than-state replay
    // after the evolution. Each phase is a stop/restart from the same
    // checkpoint — phase 2 restarts mid-evolution with the wider schema.
    val (in, state, chk) = (tmp("cmp-in"), tmp("cmp-st"), tmp("cmp-chk"))
    val stateRoot = state.resolve("r").toString
    val v1 = org.apache.spark.sql.types.StructType(
      feedSchema.fields.toSeq :+
        org.apache.spark.sql.types.StructField("tbl", org.apache.spark.sql.types.StringType))
    val v2 = org.apache.spark.sql.types.StructType(
      v1.fields.toSeq :+
        org.apache.spark.sql.types.StructField("note", org.apache.spark.sql.types.StringType))
    def run(schema: org.apache.spark.sql.types.StructType): Unit = {
      val feed = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2).json(in.toString)
      Stream.materializeMulti(feed, "tbl", _ => Seq("id"), Seq("scn"),
        stateRoot, chk.toString, tombstoneRetention = Some(50L))
        .awaitTermination()
    }
    def line(e: Ev, t: String) =
      s"""{"scn":${e.scn},"id":${e.id},"op":"${e.op}","value":${e.value},"tbl":"$t"}"""
    // phase 1 (v1 schema): both tables create+delete id=1 and keep one
    // live key — two independent tombstones at scn 10 (A) and 12 (B)
    Files.write(in.resolve("p1-0.json"), String.join("\n",
      Seq(line(Ev(1, 1, "c", 1.0), "A"), line(Ev(10, 1, "d", 0.0), "A"),
        line(Ev(2, 2, "c", 2.0), "A"),
        line(Ev(1, 1, "c", 10.0), "B"), line(Ev(12, 1, "d", 0.0), "B"),
        line(Ev(3, 3, "c", 30.0), "B")): _*).getBytes)
    run(v1)
    assert(rawOps(s"$stateRoot/table=A").contains((1L, 10L, "d")))
    assert(rawOps(s"$stateRoot/table=B").contains((1L, 12L, "d")))
    // phase 2 (restart, v2 schema adds `note`): new keys land in id=1's
    // BUCKET in both tables, so both tombstone buckets are rewritten
    // widened — but only A's per-table watermark (200) passes retention
    // (10 < 200-50); B's (60) does not (12 > 60-50), so B's tombstone
    // must survive ITS widened rewrite. The purge watermark is read off
    // the evolved batch, exercising the widened-ordering seam.
    val nbr = sameBucketKey(1L)
    Files.write(in.resolve("p2-0.json"), String.join("\n",
      s"""{"scn":200,"id":$nbr,"op":"c","value":9.0,"tbl":"A","note":"wide-a"}""",
      s"""{"scn":60,"id":$nbr,"op":"c","value":6.0,"tbl":"B","note":"wide-b"}""").getBytes)
    run(v2)
    assert(!rawOps(s"$stateRoot/table=A").exists(_._3 == "d"),
      "A's tombstone older than A's retention must purge in the widened rewrite")
    assert(rawOps(s"$stateRoot/table=B").contains((1L, 12L, "d")),
      "B's tombstone is inside B's OWN watermark — A's advance must not purge it")
    def notes(t: String): Map[Long, Option[String]] =
      Stream.readCurrentState(spark, s"$stateRoot/table=$t").collect()
        .map(r => r.getAs[Long]("id") -> Option(r.getAs[String]("note"))).toMap
    assert(notes("A") == Map(2L -> None, nbr -> Some("wide-a")), notes("A").toString)
    assert(notes("B") == Map(3L -> None, nbr -> Some("wide-b")), notes("B").toString)
    // phase 3 (restart, back to the NARROW v1 schema — a pre-DDL payload
    // after evolution): the same stale pre-delete replay hits both
    // tables; A (purged) resurrects per the compaction contract, B
    // (tombstone retained) keeps suppressing it.
    Files.write(in.resolve("p3-0.json"), String.join("\n",
      line(Ev(5, 1, "u", 5.0), "A"), line(Ev(5, 1, "u", 5.0), "B")).getBytes)
    run(v1)
    val aState = readState(s"$stateRoot/table=A")
    assert(aState.contains((1L, 5L, 5.0)),
      "beyond-retention replay resurrects in the purged table (documented)")
    assert(!readState(s"$stateRoot/table=B").exists(_._1 == 1L),
      "retained tombstone still suppresses the replay after evolution")
    // and the resurrected narrow-payload row reads null in the widened column
    assert(notes("A").get(1L).contains(None), notes("A").toString)
  }

  /** Raw state rows (tombstones INCLUDED) — what retention purges. */
  private def rawOps(path: String): Set[(Long, Long, String)] =
    spark.read.option("mergeSchema", "true").parquet(path).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("scn"), r.getAs[String]("op"))).toSet

  /** An id ≠ `key` landing in the same state bucket (so a later batch
    * rewrites — and can purge — the tombstone's bucket).
    */
  private def sameBucketKey(key: Long, buckets: Int = 16): Long = {
    val s = spark
    import s.implicits._
    def bucketOf(k: Long) = s.range(1)
      .select(pmod(xxhash64(lit(k)), lit(buckets)).cast("int")).as[Int].head()
    val want = bucketOf(key)
    (key + 1 to key + 200).find(bucketOf(_) == want).get
  }

  test("tombstone retention: purged on rewrite after the watermark passes, resurrection only beyond retention") {
    val (in, state, chk) = (tmp("tr-in"), tmp("tr-st"), tmp("tr-chk"))
    val statePath = state.resolve("t").toString
    def run(): Unit = {
      val feed = spark.readStream.schema(feedSchema)
        .option("maxFilesPerTrigger", 2).json(in.toString)
      Stream.materialize(feed, Seq("id"), Seq("scn"), statePath, chk.toString,
        tombstoneRetention = Some(50L)).awaitTermination()
    }
    // batch 1: create+delete id=1; id=2 lives on
    writeBatchJson(in, Seq(Ev(1, 1, "c", 1.0), Ev(10, 1, "d", 0.0),
      Ev(2, 2, "c", 2.0)), "a-0.json")
    run()
    assert(rawOps(statePath).contains((1L, 10L, "d")),
      "tombstone retained while inside retention")
    // batch 2: stream time advances to scn 200 IN id=1's bucket → the
    // rewrite purges the tombstone (10 < 200 - 50)
    val neighbor = sameBucketKey(1L)
    writeBatchJson(in, Seq(Ev(200, neighbor, "c", 9.0)), "b-0.json")
    run()
    assert(!rawOps(statePath).exists(_._3 == "d"),
      "tombstone older than retention must be purged on bucket rewrite")
    // batch 3: a replay OLDER than retention (the out-of-contract case)
    // now resurrects — the documented compaction trade-off
    writeBatchJson(in, Seq(Ev(5, 1, "u", 5.0)), "c-0.json")
    run()
    assert(readState(statePath).contains((1L, 5L, 5.0)),
      "beyond-retention replay resurrects (compaction contract)")
  }

  test("tombstone retention: within-retention replay still suppressed, untouched buckets keep tombstones") {
    val (in, state, chk) = (tmp("tr2-in"), tmp("tr2-st"), tmp("tr2-chk"))
    val statePath = state.resolve("t").toString
    def run(): Unit = {
      val feed = spark.readStream.schema(feedSchema)
        .option("maxFilesPerTrigger", 2).json(in.toString)
      Stream.materialize(feed, Seq("id"), Seq("scn"), statePath, chk.toString,
        tombstoneRetention = Some(1000L)).awaitTermination()
    }
    writeBatchJson(in, Seq(Ev(1, 1, "c", 1.0), Ev(10, 1, "d", 0.0),
      Ev(2, 2, "c", 2.0)), "a-0.json")
    run()
    // advance to scn 200 in the tombstone's bucket: 10 > 200 - 1000 → kept
    writeBatchJson(in, Seq(Ev(200, sameBucketKey(1L), "c", 9.0)), "b-0.json")
    run()
    assert(rawOps(statePath).contains((1L, 10L, "d")),
      "tombstone inside retention must survive the rewrite")
    // stale pre-delete replay loses to the retained tombstone
    writeBatchJson(in, Seq(Ev(5, 1, "u", 5.0)), "c-0.json")
    run()
    assert(!readState(statePath).exists(_._1 == 1L),
      "within-retention replay must stay suppressed")
  }

  test("tombstone with null ordering value is retained by the purge, not dropped") {
    // the purge predicate must be null-safe: a delete row whose ordering
    // value is null would make the whole filter conjunct null, and
    // filter() drops null rows — purging the tombstone immediately
    val (in, state, chk) = (tmp("trn-in"), tmp("trn-st"), tmp("trn-chk"))
    val statePath = state.resolve("t").toString
    def run(): Unit = {
      val feed = spark.readStream.schema(feedSchema)
        .option("maxFilesPerTrigger", 2).json(in.toString)
      Stream.materialize(feed, Seq("id"), Seq("scn"), statePath, chk.toString,
        tombstoneRetention = Some(50L)).awaitTermination()
    }
    // id=1's tombstone arrives with NO scn (malformed ordering)
    Files.write(in.resolve("a-0.json"), String.join("\n",
      s"""{"id":1,"op":"d","value":0.0}""",
      s"""{"scn":2,"id":2,"op":"c","value":2.0}""").getBytes)
    run()
    // advance stream time far past retention IN id=1's bucket
    writeBatchJson(in, Seq(Ev(500, sameBucketKey(1L), "c", 9.0)), "b-0.json")
    run()
    val raw = spark.read.option("mergeSchema", "true").parquet(statePath)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("op"))).toSet
    assert(raw.contains((1L, "d")),
      "null-ordering tombstone must be retained (purge is an optimization, not a right)")
  }

  test("materializeMulti fails loudly on a null table name instead of dropping the rows") {
    val (in, state, chk) = (tmp("mtn-in"), tmp("mtn-st"), tmp("mtn-chk"))
    val schema = org.apache.spark.sql.types.StructType(
      feedSchema.fields.toSeq :+
        org.apache.spark.sql.types.StructField("tbl", org.apache.spark.sql.types.StringType))
    // one well-formed row, one with NO tbl (malformed envelope)
    Files.write(in.resolve("a-0.json"), String.join("\n",
      s"""{"scn":1,"id":1,"op":"c","value":1.0,"tbl":"A"}""",
      s"""{"scn":2,"id":2,"op":"c","value":2.0}""").getBytes)
    val feed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 2).json(in.toString)
    val q = Stream.materializeMulti(feed, "tbl", _ => Seq("id"), Seq("scn"),
      state.resolve("r").toString, chk.toString)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("dead-letter")), e.getMessage)
  }

  test("flatMapGroupsWithState latest-per-key: advances, suppresses stale, retains tombstones") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val out = Stream.statefulLatest[Long, Ev](
      input.toDS(), _.id, _.scn, _.op == "d")
    val q = out.writeStream.format("memory").queryName("fmgws_t")
      .outputMode("update").start()
    try {
      input.addData(
        Ev(1, 10, "c", 1.0), Ev(3, 10, "u", 3.0), Ev(2, 10, "u", 2.0), // in-batch order by scn
        Ev(5, 20, "c", 5.0))
      q.processAllAvailable()
      // batch 2: stale redelivery (scn 2 ≤ state 3) suppressed; key 20
      // tombstoned; key 30 created
      input.addData(Ev(2, 10, "u", 2.0), Ev(6, 20, "d", 0.0), Ev(7, 30, "c", 7.0))
      q.processAllAvailable()
      // batch 3: key 20 re-created after tombstone with a NEWER scn (the
      // retained tombstone is the suppression floor: scn 8 > 6 advances,
      // while the stale pre-delete scn 4 must be swallowed — a dropped
      // tombstone would have resurrected it)
      input.addData(Ev(4, 20, "u", 4.0), Ev(8, 20, "c", 8.0))
      q.processAllAvailable()
      val emitted = s.table("fmgws_t").as[Ev].collect().map(e => (e.scn, e.id, e.op)).toSet
      assert(emitted == Set(
        (1L, 10L, "c"), (2L, 10L, "u"), (3L, 10L, "u"), (5L, 20L, "c"),
        (6L, 20L, "d"), (7L, 30L, "c"), (8L, 20L, "c")),
        s"emitted=$emitted")
      // the stale (2,10,u) from batch 2 appears ONCE (from batch 1 only)
      val n = s.table("fmgws_t").as[Ev].collect().count(e => e.scn == 2L)
      assert(n == 1, s"stale redelivery emitted $n times")
    } finally q.stop()
  }

  test("watermarked streaming dedup drops redelivered keys across batches") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, java.sql.Timestamp)]
    val deduped = Stream.dedupStream(input.toDF().toDF("k", "ts"), "ts", "10 minutes", Seq("k"))
    val q = deduped.writeStream.format("memory").queryName("dedup_t")
      .outputMode("append").start()
    try {
      input.addData(
        ("k1", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
        ("k1", java.sql.Timestamp.valueOf("2024-01-01 00:00:01")))
      q.processAllAvailable()
      // redelivery of k1 in a later micro-batch (at-least-once channel)
      input.addData(
        ("k1", java.sql.Timestamp.valueOf("2024-01-01 00:00:02")),
        ("k2", java.sql.Timestamp.valueOf("2024-01-01 00:00:03")))
      q.processAllAvailable()
      val ks = s.table("dedup_t").select("k").as[String].collect().sorted.toSeq
      assert(ks == Seq("k1", "k2"))
    } finally q.stop()
  }

  test("watermark drops late events from tumbling aggregation") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[java.sql.Timestamp]
    val agg = Stream.tumblingCounts(input.toDF().toDF("ts"), "ts", "10 minutes", "1 hour")
    val q = agg.writeStream.format("memory").queryName("tumble_t")
      .outputMode("append").start()
    try {
      // batch 1: events up to 03:05 → watermark advances to 02:55
      input.addData(
        java.sql.Timestamp.valueOf("2024-01-01 01:30:00"),
        java.sql.Timestamp.valueOf("2024-01-01 03:05:00"))
      q.processAllAvailable()
      // batch 2: an hour-01 straggler INSIDE no-longer-open window (late
      // beyond watermark → dropped) plus an on-time hour-03 event
      input.addData(
        java.sql.Timestamp.valueOf("2024-01-01 01:45:00"),
        java.sql.Timestamp.valueOf("2024-01-01 03:10:00"))
      q.processAllAvailable()
      // batch 3: advance watermark past 03:00 so hour windows 01,03 emit
      input.addData(java.sql.Timestamp.valueOf("2024-01-01 06:00:00"))
      q.processAllAvailable()
      val rows = s.table("tumble_t")
        .collect().map(r => (r.getAs[java.sql.Timestamp]("bucket").toString, r.getAs[Long]("n"))).toMap
      // hour-01 count stays 1: the late straggler was dropped
      assert(rows("2024-01-01 01:00:00.0") == 1L, rows.toString)
      assert(rows("2024-01-01 03:00:00.0") == 2L, rows.toString)
    } finally q.stop()
  }

  test("streaming tumbling aggregation matches the batch date_trunc form") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val times = (0 until 50).map(i => new java.sql.Timestamp(1704067200000L + i * 7 * 60000L))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[java.sql.Timestamp]
    val agg = Stream.tumblingCounts(input.toDF().toDF("ts"), "ts", "10 minutes", "1 hour")
    val q = agg.writeStream.format("memory").queryName("tumble_p")
      .outputMode("append").start()
    try {
      input.addData(times: _*)
      q.processAllAvailable()
      input.addData(new java.sql.Timestamp(1704067200000L + 24L * 3600000L)) // flush
      q.processAllAvailable()
      val stream = s.table("tumble_p").collect()
        .map(r => r.getAs[java.sql.Timestamp]("bucket") -> r.getAs[Long]("n")).toMap
      val batch = times.toDF("ts")
        .groupBy(org.apache.spark.sql.functions.date_trunc("hour", $"ts").as("bucket"))
        .count()
        .collect().map(r => r.getAs[java.sql.Timestamp]("bucket") -> r.getAs[Long]("count")).toMap
      assert(batch.forall { case (b, n) => stream.get(b).contains(n) },
        s"stream=$stream batch=$batch")
    } finally q.stop()
  }

  test("streaming Count-Min grid equals the batch grid (linear sketch merges across micro-batches)") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    // zipf-ish key stream split across two micro-batches: the streaming
    // state is the 4×1024 grid itself, and cell-wise addition (the
    // Aggregator.merge contract) must make batch-boundary placement
    // invisible — the same mergeability that carries the sketch through
    // map-side partials at 100 TB
    val keys = (0 until 400).map(i => (i % (1 + i % 37)).toLong)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val agg = input.toDF().toDF("k")
      .agg(graft.functions.CountMin.count_min(org.apache.spark.sql.functions.col("k")).as("grid"))
    val q = agg.writeStream.format("memory").queryName("cm_t")
      .outputMode("complete").start()
    try {
      input.addData(keys.take(250): _*)
      q.processAllAvailable()
      input.addData(keys.drop(250): _*)
      q.processAllAvailable()
      val stream = s.table("cm_t").collect()(0).getSeq[Long](0)
      val batch = keys.toDF("k")
        .agg(graft.functions.CountMin.count_min(org.apache.spark.sql.functions.col("k")).as("grid"))
        .collect()(0).getSeq[Long](0)
      assert(stream == batch, "streaming grid must equal the batch grid cell-for-cell")
      // and the merged grid still answers point queries within the CM bound
      val exact = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
      exact.foreach { case (k, n) =>
        val est = graft.functions.CountMin.estimate(stream.toArray, k)
        assert(est >= n, s"CM underestimated key $k")
      }
    } finally q.stop()
  }

  test("streaming OHLC bars match the batch ts_downsample aggregation") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val base = 1704067200000L
    // deterministic zig-zag cents over 3 hours, 7-minute spacing; the
    // arrival key mirrors ts_downsample's ms·2^22+id composite
    val rows = (0 until 40).map { i =>
      val ms = base + i * 7L * 60000L
      (new java.sql.Timestamp(ms), ms * 4194304L + i, ((i * 37) % 100 - 50).toLong)
    }
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long, Long)]
    val bars = Stream.ohlcBars(input.toDF().toDF("ts", "k", "cents"),
      "ts", "10 minutes", "1 hour", "k", "cents")
    val q = bars.writeStream.format("memory").queryName("ohlc_p")
      .outputMode("append").start()
    try {
      // two batches (bars must fold across micro-batches) + a flush row
      input.addData(rows.take(25): _*)
      q.processAllAvailable()
      input.addData(rows.drop(25): _*)
      q.processAllAvailable()
      input.addData((new java.sql.Timestamp(base + 24L * 3600000L), 0L, 0L))
      q.processAllAvailable()
      val stream = s.table("ohlc_p").collect()
        .map(r => r.getAs[java.sql.Timestamp]("bucket") ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
      val batch = rows.toDF("ts", "k", "cents")
        .groupBy(org.apache.spark.sql.functions.window($"ts", "1 hour")
          .getField("start").as("bucket"))
        .agg(org.apache.spark.sql.functions.min_by($"cents", $"k").as("o"),
          org.apache.spark.sql.functions.max($"cents").as("h"),
          org.apache.spark.sql.functions.min($"cents").as("l"),
          org.apache.spark.sql.functions.max_by($"cents", $"k").as("c"),
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
          org.apache.spark.sql.functions.sum($"cents").as("v"))
        .collect()
        .map(r => r.getAs[java.sql.Timestamp]("bucket") ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
      assert(batch.nonEmpty && batch.forall { case (b, bar) => stream.get(b).contains(bar) },
        s"stream=$stream batch=$batch")
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join, state bounded by watermarks") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val base = 1704067200000L
    def t(min: Long) = new java.sql.Timestamp(base + min * 60000L)
    // clicks for 6 users every 11 min; errors every 17 min for half of them
    val clicks = (0 until 30).map(i => (i.toLong, (i % 6).toLong, t(i * 11)))
    val errors = (0 until 20).map(i => (100L + i, (i % 3).toLong, t(i * 17)))
    val cIn = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, java.sql.Timestamp)]
    val eIn = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = Stream.intervalJoin(
      cIn.toDF().toDF("click_id", "user_id", "click_ts"),
      eIn.toDF().toDF("err_id", "user_id", "err_ts"),
      key = "user_id", leftTs = "click_ts", rightTs = "err_ts",
      within = "30 minutes", watermark = "10 minutes")
      .select($"l.user_id", $"click_id", $"err_id")
    val q = joined.writeStream.format("memory").queryName("sj_t")
      .outputMode("append").start()
    try {
      // two deliveries + a flush event far in the future to close state
      cIn.addData(clicks.take(15): _*); eIn.addData(errors.take(10): _*)
      q.processAllAvailable()
      cIn.addData(clicks.drop(15): _*); eIn.addData(errors.drop(10): _*)
      q.processAllAvailable()
      cIn.addData((9999L, 0L, t(10000))); eIn.addData((9998L, 0L, t(10000)))
      q.processAllAvailable()
      val got = s.table("sj_t").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .filterNot(p => p._2 == 9999L || p._3 == 9998L).toSet
      val want = clicks.toDF("click_id", "user_id", "click_ts")
        .join(errors.toDF("err_id", "user_id", "err_ts"), Seq("user_id"))
        .filter($"err_ts" >= $"click_ts" &&
          $"err_ts" <= $"click_ts" + org.apache.spark.sql.functions.expr("INTERVAL 30 MINUTES"))
        .select("user_id", "click_id", "err_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(want.nonEmpty, "vacuous parity check")
      assert(got == want, s"stream=$got batch=$want")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: null rows emitted after watermark, matches batch") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val base = 1704067200000L
    def t(min: Long) = new java.sql.Timestamp(base + min * 60000L)
    // 6 users clicking; errors only for users 0-2 → users 3-5's clicks
    // must surface null-padded, but ONLY once the watermark passes
    val clicks = (0 until 24).map(i => (i.toLong, (i % 6).toLong, t(i * 13)))
    val errors = (0 until 12).map(i => (100L + i, (i % 3).toLong, t(i * 19)))
    val cIn = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, java.sql.Timestamp)]
    val eIn = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = Stream.intervalJoin(
      cIn.toDF().toDF("click_id", "user_id", "click_ts"),
      eIn.toDF().toDF("err_id", "user_id", "err_ts"),
      key = "user_id", leftTs = "click_ts", rightTs = "err_ts",
      within = "30 minutes", watermark = "10 minutes", joinType = "left_outer")
      .select($"l.user_id", $"click_id", $"err_id")
    val q = joined.writeStream.format("memory").queryName("sjo_t")
      .outputMode("append").start()
    try {
      cIn.addData(clicks: _*); eIn.addData(errors: _*)
      q.processAllAvailable()
      val early = s.table("sjo_t").collect()
      // far-future flush on BOTH sides closes every outer window
      cIn.addData((9999L, 0L, t(10000))); eIn.addData((9998L, 0L, t(10000)))
      q.processAllAvailable()
      val got = s.table("sjo_t").collect()
        .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
        .filterNot(p => p._2 == 9999L || p._3 == 9998L).toSet
      val cdf = clicks.toDF("click_id", "user_id", "click_ts").alias("c")
      val edf = errors.toDF("err_id", "user_id", "err_ts").alias("e")
      val want = cdf.join(edf, org.apache.spark.sql.functions.expr(
          "c.user_id = e.user_id AND e.err_ts >= c.click_ts AND " +
            "e.err_ts <= c.click_ts + interval 30 minutes"), "left_outer")
        .select($"c.user_id", $"click_id", $"err_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(want.exists(_._3 == -1L), "fixture must produce unmatched clicks")
      assert(got == want, s"stream=$got batch=$want")
      // the null-padded rows must NOT have been emitted before the flush
      // advanced the watermark past their windows' close
      val earlyNulls = early.count(_.isNullAt(2))
      val finalNulls = got.count(_._3 == -1L)
      assert(earlyNulls < finalNulls,
        s"outer rows finalized too eagerly: $earlyNulls before flush, $finalNulls after")
    } finally q.stop()
  }

  test("stream-static enrichment matches the batch join, dim broadcast, no stream state") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val dim = Seq((0L, "SEG_A"), (1L, "SEG_B"), (2L, "SEG_C"))
      .toDF("user_id", "segment")
    val evs = (0 until 40).map(i => (i.toLong, (i % 5).toLong, i * 1.5))
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Double)]
    val q = Stream.enrichWithDim(
      in.toDF().toDF("event_id", "user_id", "value"), dim, key = "user_id")
      .writeStream.format("memory").queryName("se_t").outputMode("append").start()
    try {
      in.addData(evs.take(25): _*); q.processAllAvailable()
      in.addData(evs.drop(25): _*); q.processAllAvailable()
      val got = s.table("se_t").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(3))).toSet
      val want = evs.toDF("event_id", "user_id", "value").join(dim, Seq("user_id"))
        .select("user_id", "event_id", "segment")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(want.nonEmpty, "vacuous parity check")
      assert(got == want, s"stream=$got batch=$want")
      // inner join against a 3-row dim: users 3 and 4 must be absent
      assert(got.forall(_._1 <= 2L))
    } finally q.stop()
  }

  test("session windows group by gap") {
    val s = spark
    import s.implicits._
    val evs = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00")),  // same session (gap 30m)
      (1L, java.sql.Timestamp.valueOf("2024-01-01 02:00:00")),  // new session
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    val out = Stream.sessionCounts(evs.toDF("user_id", "ts"), "ts", "1 minute", "30 minutes", "user_id")
    val rows = out.collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n"))).toSet
    assert(rows == Set((1L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("streamed-state checksum equals the batch fold's (redelivery absorbed); a lost batch is detected") {
    import org.apache.spark.sql.functions.{col, concat_ws}
    val s = spark
    import s.implicits._
    def summary(state: org.apache.spark.sql.DataFrame) =
      Ops.bucketChecksum(state, "id",
          concat_ws("|", col("id"), col("scn"), col("op"),
            col("value").cast("decimal(18,2)")), buckets = 8)
        .collect().map(r => (r.getAs[Long]("bucket"),
          r.getAs[Long]("n_rows"), r.getAs[Long]("checksum"))).toSet
    val batchSummary = summary(
      Ops.applyChanges(events.toDF(), keys = Seq("id"), ordering = Seq("scn")))
    // streamed: 4 micro-batches + batch 1 REDELIVERED
    val (in, state, chk) = (tmp("savin"), tmp("savstate"), tmp("savchk"))
    val groups = events.grouped(50).toSeq
    groups.zipWithIndex.foreach { case (g, i) => writeBatchJson(in, g, s"part-$i.json") }
    writeBatchJson(in, groups(1), "part-redelivered.json")
    val q = startMaterialize(in, state, chk)
    q.awaitTermination()
    assert(summary(Stream.readCurrentState(s, state.resolve("t").toString)) ==
      batchSummary, "streamed state does not checksum-match the batch fold")
    // at-most-once failure: the same stream MISSING its FINAL batch
    // must produce a DIFFERENT summary — the audit actually detects
    // loss. (A lost MIDDLE batch is legitimately invisible to a
    // latest-state checksum when every key is overwritten later —
    // state parity is the contract, not delivery-log parity.)
    val (in2, state2, chk2) = (tmp("savin2"), tmp("savstate2"), tmp("savchk2"))
    groups.zipWithIndex.filter(_._2 != groups.size - 1).foreach { case (g, i) =>
      writeBatchJson(in2, g, s"part-$i.json")
    }
    val q2 = startMaterialize(in2, state2, chk2)
    q2.awaitTermination()
    assert(summary(Stream.readCurrentState(s, state2.resolve("t").toString)) !=
      batchSummary, "a lost batch went undetected by the checksum summary")
  }
}
