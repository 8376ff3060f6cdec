package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Session + table-loading helpers shared by queries, Verify, Bench, tests.
  *
  * Design notes (100 TB target, see SURVEY.md §4):
  *  - All readers are plain `spark.read.parquet` so Catalyst's
  *    predicate-pushdown / column-pruning / partition-pruning apply
  *    unmodified. Nothing here materializes on the driver.
  *  - Sessions pin shuffle partitions to the core count for local runs;
  *    on a real cluster AQE (`spark.sql.adaptive.enabled`, default on in
  *    Spark 4) coalesces/splits post-shuffle partitions at runtime, so the
  *    same code scales by only changing `--master` / executor conf.
  */
object Engine {

  /** Default core count for local sessions (driver overrides via env). */
  // Round 1 measured 16 faster than 32 on this oversubscribed box; by
  // round-2 close (89 queries) 32 measured faster overall (33.5 s vs
  // 40.8 s at sf0.1) and it matches the driver's cpus=32 — so 32 is the
  // default and the BASELINE.md binding config. SPARK_GRAFT_CPUS overrides.
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def session(appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Spread a DataFrame across all cores by hash of `key`. The fixture
    * parquet files are single-row-group (unsplittable), so everything
    * upstream of the first exchange would otherwise run in ONE task;
    * CPU-heavy derivations (shingling, hashing, JSON codec) repartition
    * first. On a real cluster the scan itself supplies the parallelism
    * and this is a cheap balanced exchange of the same shape.
    */
  def spread(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism,
      org.apache.spark.sql.functions.col(key))

  /** Unpersist and drop the memoized per-corpus artifacts `s` owns
    * that hold executor blocks — [[Memo.release]], which documents the
    * rule and why `Bench` releases at family boundaries.
    */
  def releaseAllMemos(s: SparkSession): Unit = Memo.release(s)

  /** A temp work directory that is recursively deleted at JVM exit —
    * for query ids that materialize spool/state copies per invocation
    * (`snapshot_while_streaming`, `cdc_net_replay`). Without the hook,
    * median-of-3 bench runs and repeated correctness runs accumulated
    * full-table parquet+state copies in /tmp indefinitely (round-9
    * ADVICE). Within-run accumulation stays bounded (a few invocations
    * per process); cross-run accumulation is what the hook removes.
    */
  def scratchDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try {
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { try java.nio.file.Files.deleteIfExists(f) catch { case _: Throwable => () }; () })
      } catch { case _: Throwable => () }
    }, s"graft-scratch-clean-${p.getFileName}"))
    p
  }

  /** Fixture dir most recently read through [[table]] — the dir the
    * dynamic (model-embedding) oracles key their memo lookup by.
    * Round-17 ADVICE fix: the previous exactly-one-live-entry heuristic
    * silently downgraded those ids to no-oracle when two fixture dirs
    * were touched in one session, and a single stale entry for a
    * DIFFERENT dir would have embedded the wrong model/thresholds into
    * the dump. Verify runs every query against one dir and dumps
    * oracle_sql.json afterwards, so at dump time this is exactly the
    * dump's dir.
    */
  @volatile private var lastDirRef: Option[String] = None
  @volatile private var dirPinned: Boolean = false
  def lastFixtureDir: Option[String] = lastDirRef

  /** Round-18 ADVICE fix: let the dump entry point (Verify) pin the
    * fixture dir EXPLICITLY instead of relying on `table()` read side
    * effects. A fully-memoized query performs no read, so under
    * inference a dump run after touching another dir would key the
    * dynamic oracles to the wrong dir (coverage silently shrinks to
    * rows-only, or a foreign dir's model is embedded — loud downstream,
    * but wrong either way). Once pinned, reads no longer move the ref;
    * specs that never call this keep the old inference behavior. */
  def setDumpDir(dir: String): Unit = { lastDirRef = Some(dir); dirPinned = true }

  /** Session confs that change what parquet schema inference returns. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** The schema of each table version [[table]] has read, so that a read
    * of a known table starts no inference job (80–120 ms warm, about 18 ms
    * without it). The key is the table path, the (path, length, mtime) of
    * every visible leaf file and [[SchemaConfs]]: a rewritten table, or a
    * session whose confs read it differently, infers again. The value is
    * Spark's own inference, so it equals what an uncached read infers.
    * Only the schema is kept, never a DataFrame: one DataFrame shared by
    * both sides of a self-join would make its attributes ambiguous.
    */
  private val tableSchemas =
    Memo.slot[(String, Seq[(String, Long, Long)], Seq[Option[String]]), StructType]("Engine.tableSchema")

  /** (path, length, mtime) of every file a parquet read of `p` scans
    * (Spark's rule: `_`/`.`-prefixed names are hidden, directories are
    * partitions). `listStatus` only: `listFiles`, `listLocatedStatus` and
    * `LocatedFileStatus` load permissions, which on the local FS forks one
    * process per file.
    */
  private def leafFiles(fs: FileSystem, p: Path): Seq[(String, Long, Long)] =
    fs.listStatus(p).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".")) Nil
      else if (st.isDirectory) leafFiles(fs, st.getPath)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    }

  /** Read one of the fixture tables under `dir` (TESTDATA.md).
    *
    * `events.ts` is nanosecond-precision parquet, which Spark 4 cannot
    * read natively; with `spark.sql.legacy.parquet.nanosAsLong` the
    * column arrives as LongType nanos and is normalized here to a
    * microsecond TimestampType by truncation — exactly what DuckDB does
    * when it reads the same file (ns → µs), keeping oracle parity.
    *
    * The schema is inferred once per table version ([[tableSchemas]]);
    * later reads pass it and start no Spark job.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (!dirPinned) lastDirRef = Some(dir)
    // Defensive: the DRIVER may call entry()/queries with a session it
    // built itself (without these confs). nanos parquet would throw
    // PARQUET_TYPE_ILLEGAL, and a non-UTC session timezone would shift
    // the ts normalization below (timestamp_micros → NTZ renders LOCAL
    // wall-clock) by the host offset against the DuckDB oracle. Both are
    // runtime-settable session confs.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val files =
      try leafFiles(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
      catch { case _: java.io.FileNotFoundException => Nil }
    val df =
      if (files.isEmpty) spark.read.parquet(path) // Spark's own error for a missing or empty table
      else spark.read.schema(tableSchemas(spark, (path, files, SchemaConfs.map(spark.conf.getOption)))(
        spark.read.parquet(path).schema)).parquet(path)
    df.schema.find(f => f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType) match {
      case Some(_) =>
        // NTZ like every other fixture timestamp: the whole engine works
        // in naive-UTC timestamps so parquet dumps compare 1:1 with the
        // DuckDB oracle (no adjusted-to-UTC re-typing on read-back).
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000"))
          .cast(org.apache.spark.sql.types.TimestampNTZType))
      case None => df
    }
  }
}

/** Convenience wrapper binding a SparkSession to a scale-factor dir. */
final case class Tables(spark: SparkSession, dir: String) {
  def apply(name: String): DataFrame = Engine.table(spark, dir, name)
  def region: DataFrame     = apply("region")
  def nation: DataFrame     = apply("nation")
  def customer: DataFrame   = apply("customer")
  def supplier: DataFrame   = apply("supplier")
  def part: DataFrame       = apply("part")
  def orders: DataFrame     = apply("orders")
  def lineitem: DataFrame   = apply("lineitem")
  def events: DataFrame     = apply("events")
  def documents: DataFrame  = apply("documents")
  def embeddings: DataFrame = apply("embeddings")
}
