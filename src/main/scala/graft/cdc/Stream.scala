package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, Pmod, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, MapType, StructType}

/** Streaming side of the CDC engine (SURVEY.md §2.10) — Structured
  * Streaming equivalents of the reference's OLR→Debezium→Kafka→sink path
  * (§3.1/§3.3). The transport is a file channel (directory of JSON change
  * events) standing in for Kafka: same envelope, same semantics; swapping
  * `format("json")` for `format("kafka")` is a one-line change where a
  * broker exists.
  *
  * Scale notes:
  *  - The upsert state lives in the SINK (parquet snapshot rewritten per
  *    micro-batch via `foreachBatch`), mirroring the reference's
  *    JDBC-upsert design (`insert.mode=upsert`, README.md:840) rather
  *    than `flatMapGroupsWithState` — per-key streaming state for a
  *    100 TB table would be unbounded (SURVEY.md §7.5). On a cluster the
  *    rewrite becomes a MERGE into a transactional table format; the
  *    per-batch dataflow (applyChanges(old ∪ delta)) is identical.
  *  - `maxFilesPerTrigger` bounds per-batch memory like OLR's
  *    `memory.max-mb` (`scripts/OpenLogReplicator.json:28-31`).
  */
object Stream {

  /** Hive-style key-hash partition column of the materialized state:
    * a row lives in bucket [[bucketOf]]`(keys, stateBuckets)`. Any parquet
    * reader of the root sees it as a partition column, so a filter on
    * `state_bucket` itself prunes the listing to the named buckets. A
    * read through [[readCurrentState]] also prunes a lookup that only
    * names the keys: when its filter holds `key = literal` for every key,
    * [[StateBucketPruning]] adds `state_bucket = <that key's bucket>`, and
    * the scan lists one bucket. A root whose `_state_buckets` marker holds
    * no keys (written before the marker recorded them) reads unpruned.
    */
  val BucketCol = "state_bucket"

  /** The bucket of a state row: `pmod(xxhash64(keys), n)` as an int.
    * [[writeState]], [[foldBatch]] and [[StateBucketPruning]] all build
    * it here, so the bucket a lookup prunes to is the one the writer
    * chose. `new XxHash64(children)` is the seed-42 form that
    * `functions.xxhash64` builds.
    */
  private[cdc] def bucketOf(keys: Seq[Expression], n: Int): Expression =
    Cast(Pmod(new XxHash64(keys), Literal(n.toLong)), IntegerType)

  private def bucketCol(keys: Seq[String], n: Int): Column =
    GraftBridge.column(bucketOf(keys.map(UnresolvedAttribute.quotedString), n))

  private def bucketDir(root: org.apache.hadoop.fs.Path, n: Any) =
    new org.apache.hadoop.fs.Path(root, s"$BucketCol=$n")

  /** Crash repair for the per-bucket swap below: finish or roll back any
    * interrupted rename pair so a valid state always exists before the
    * (re-run) batch reads it. `.`-prefixed names are invisible to Spark
    * readers, so no torn state is ever observable.
    */
  private def repair(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    if (!fs.exists(root)) return
    fs.delete(new org.apache.hadoop.fs.Path(root, ".delta_tmp"), true)
    // schema replace (recordSchema) cut before its rename: a complete
    // tmp beside no schema file is finished; a partial one, or one beside
    // the old file, is dropped and the re-run batch writes it again
    val schemaTmp = new org.apache.hadoop.fs.Path(root, SchemaTmp)
    val meta = new org.apache.hadoop.fs.Path(root, SchemaMeta)
    if (fs.exists(schemaTmp)) {
      if (!fs.exists(meta) && scala.util.Try(schemaAt(fs, schemaTmp)).toOption.flatten.nonEmpty)
        require(fs.rename(schemaTmp, meta), s"rename $schemaTmp -> $meta failed; failing the batch")
      else fs.delete(schemaTmp, false)
    }
    fs.listStatus(root).filter(_.getPath.getName.startsWith(".old_")).foreach { st =>
      val dst = bucketDir(root, st.getPath.getName.stripPrefix(".old_"))
      if (!fs.exists(dst)) fs.rename(st.getPath, dst) // crashed mid-swap: roll back
      else fs.delete(st.getPath, true)                // crashed post-swap: drop leftover
    }
  }

  /** Layout metadata file: the bucket count on its first line and the
    * keys, in order, as a JSON array on its second. [[bucketOf]] only
    * addresses rows written with the SAME count and keys, so a writer
    * with another `stateBuckets` or other keys would put a key's new row
    * in another bucket than its old one and silently duplicate keys. Both
    * are recorded at first write in one write, and every later writer
    * must match them — fail loudly, never corrupt. A marker holding only
    * the count predates the keys line: it is checked on the count alone
    * and never rewritten (it is the commit marker), and its root reads
    * unpruned.
    */
  private val BucketsMeta = "_state_buckets"

  private final case class Layout(buckets: Int, keys: Option[Seq[String]])

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The keys as the marker's second line and the
    * [[StateBucketPruning.KeysOption]] value hold them: a JSON array, so
    * any column name round-trips.
    */
  private[cdc] def keysToJson(keys: Seq[String]): String = json.writeValueAsString(keys.toArray)
  private[cdc] def keysFromJson(s: String): Seq[String] = json.readValue(s, classOf[Array[String]]).toSeq

  private def recordedLayout(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[Layout] = {
    val in =
      try fs.open(new org.apache.hadoop.fs.Path(root, BucketsMeta))
      catch { case _: java.io.FileNotFoundException => return None }
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().map(_.trim).filter(_.nonEmpty).toList
      finally in.close()
    Some(Layout(lines.head.toInt,
      lines.lift(1).map(keysFromJson)))
  }

  /** True iff a state table at `root` COMMITTED its bootstrap/first
    * write: the `_state_buckets` meta is written AFTER the parquet data
    * lands, so its presence is the commit marker that bare directory
    * existence is not — Spark's output committer creates the directory
    * at job start, so a crash mid-snapshot leaves a torn root that
    * exists() would happily accept as current state.
    */
  def stateCommitted(spark: SparkSession, statePath: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(root, BucketsMeta))
  }

  private def checkOrRecordBuckets(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, n: Int, keys: Seq[String]): Unit =
    recordedLayout(fs, root) match {
      case Some(recorded) =>
        require(recorded.buckets == n,
          s"state at $root is bucketed with stateBuckets=${recorded.buckets} but this " +
            s"writer was configured with $n — matching counts are required " +
            "(a mismatch would strand rows in never-read buckets)")
        recorded.keys.foreach(k => require(k == keys,
          s"state at $root is bucketed by keys ${k.mkString("(", ", ", ")")} but this " +
            s"writer folds by ${keys.mkString("(", ", ", ")")} — matching keys are required " +
            "(a mismatch would put a key's new row in another bucket than its old one)"))
      case None =>
        val out = fs.create(new org.apache.hadoop.fs.Path(root, BucketsMeta), true)
        try out.write(s"$n\n${keysToJson(keys)}\n".getBytes("UTF-8"))
        finally out.close()
    }

  /** Schema metadata file: the state's data schema (no `state_bucket`),
    * as JSON in the all-nullable form parquet inference returns. It is
    * recorded at commit and widened by the fold before a bucket swap that
    * adds a column — the sink table's schema is catalog metadata that
    * `auto.evolve` ALTERs (reference `README.md:839`), not something every
    * read re-derives. Reading with it starts no job, where inference with
    * `mergeSchema` starts one over every bucket footer. A superset schema
    * over narrower bucket files reads nulls in the missing columns, which
    * is what `mergeSchema` returned. A root without the file predates it:
    * reads infer, and the next fold records it.
    */
  private val SchemaMeta = "_state_schema"
  private val SchemaTmp = s".$SchemaMeta.tmp"

  private def recordedSchema(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[StructType] =
    schemaAt(fs, new org.apache.hadoop.fs.Path(root, SchemaMeta))

  private def schemaAt(fs: org.apache.hadoop.fs.FileSystem,
      file: org.apache.hadoop.fs.Path): Option[StructType] = {
    val in =
      try fs.open(file)
      catch { case _: java.io.FileNotFoundException => return None }
    try Some(DataType.fromJson(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      .asInstanceOf[StructType])
    finally in.close()
  }

  /** Replaces the schema file: a complete tmp, then delete and rename
    * (a rename onto an existing file fails on some file systems);
    * [[repair]] finishes a replace cut between the two.
    */
  private def recordSchema(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, schema: StructType): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(root, SchemaTmp)
    val meta = new org.apache.hadoop.fs.Path(root, SchemaMeta)
    val out = fs.create(tmp, true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
    fs.delete(meta, false)
    require(fs.rename(tmp, meta), s"rename $tmp -> $meta failed; failing the batch")
  }

  /** `t` with every field, element and value nullable. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType  => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType    => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case o             => o
  }

  /** The data schema of `df` as the state records it. */
  private def dataSchema(df: DataFrame): StructType =
    nullable(StructType(df.schema.filterNot(_.name == BucketCol))).asInstanceOf[StructType]

  /** Write a full state table in the bucketed layout `materialize`
    * maintains incrementally (bootstrap/snapshot path).
    */
  def writeState(df: DataFrame, statePath: String, keys: Seq[String],
      stateBuckets: Int = 16): Unit = {
    df.withColumn(BucketCol, bucketCol(keys, stateBuckets))
      .write.mode("overwrite").partitionBy(BucketCol).parquet(statePath)
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = root.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    recordSchema(fs, root, dataSchema(df))
    checkOrRecordBuckets(fs, root, stateBuckets, keys)
  }

  /** One micro-batch of the bucketed state fold — the shared engine of
    * [[materialize]] (one state table) and [[materializeMulti]] (per-table
    * fan-out). Folds `latestPerKey(previousState ∪ batch)` into the
    * key-hash-bucketed layout at `statePath`; see [[materialize]] for the
    * full semantics/scale contract.
    *
    * Schema evolution (`auto.evolve=true` parity, reference
    * `README.md:839`): the previous state and the batch are aligned BY
    * NAME with missing columns null-backfilled
    * (`unionByName(allowMissingColumns)`), so a feed that gained a column
    * mid-stream (DDL captured by the history topic) just keeps working —
    * old state rows read as null in the new column, exactly how the
    * reference's JDBC sink ALTERs the table and backfills. Only the
    * delta's buckets are rewritten widened; untouched buckets keep their
    * old file schema until next touched. The fold widens the recorded
    * state schema ([[SchemaMeta]]) before the swap, and every state read
    * here and in [[readCurrentState]] passes it, so narrower bucket files
    * read nulls in the added columns. Type CHANGES are not auto-evolved —
    * the union or the schema widening fails loudly, matching the sink
    * connector, which only ever adds columns.
    *
    * Tombstone retention (`tombstoneRetention`): when set, op='d' rows
    * whose `ordering.head` (must cast to long, e.g. scn) is older than
    * `batchHighWatermark - retention` are dropped during the bucket
    * rewrite — the analog of Kafka compaction's `delete.retention.ms`
    * (reference `README.md:847`: `drop.tombstones=false` + broker
    * retention). Contract: a replay that late would ALSO be older than
    * the channel's max lateness, so only out-of-contract replays can
    * resurrect. Purge happens only in rewritten buckets (like compaction,
    * which only purges when a segment is compacted); unset = retain
    * forever (the pre-round-5 behavior).
    */
  private[cdc] def foldBatch(
      batch: DataFrame,
      keys: Seq[String],
      ordering: Seq[String],
      statePath: String,
      stateBuckets: Int,
      tombstoneRetention: Option[Long] = None,
      opCol: String = "op",
      deleteOp: String = "d"
  ): Unit = {
    val spark = batch.sparkSession
    require(!batch.columns.contains(BucketCol),
      s"feed must not have a '$BucketCol' column")
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    repair(fs, root)
    val rootExisted = fs.exists(root)
    if (rootExisted) {
      // a flat (unbucketed) state is not a layout this fold maintains:
      // the steady-state path would ignore its rows, and the first bucket
      // written beside them would break partition discovery
      val flat = fs.listStatus(root).map(_.getPath.getName).filter(_.endsWith(".parquet"))
      require(flat.isEmpty,
        s"state at $root has top-level parquet files (${flat.take(3).mkString(", ")}): " +
          "an unbucketed state is not supported — write the bootstrap state with Stream.writeState")
      checkOrRecordBuckets(fs, root, stateBuckets, keys)
    }
    // the state's schema before this batch: the recorded file or, for a
    // root written before the file existed, one mergeSchema inference
    // (recorded below); None while the root holds no bucket
    val recorded = if (rootExisted) recordedSchema(fs, root) else None
    val before = recorded.orElse {
      val hasBuckets = rootExisted &&
        fs.listStatus(root).exists(_.getPath.getName.startsWith(s"$BucketCol="))
      if (hasBuckets) Some(dataSchema(spark.read.option("mergeSchema", "true").parquet(statePath)))
      else None
    }
    val bucketExpr = bucketCol(keys, stateBuckets)
    // the batch input is scanned several times on a steady-state batch
    // (affected-bucket ids, purge watermark, then the fold) — cache it so
    // JSON parsing is paid once. A BOOTSTRAP batch (no state root, no
    // retention) scans the delta exactly once, so the cache write would
    // be pure overhead (r19).
    val multiScan = rootExisted || tombstoneRetention.nonEmpty
    val delta =
      if (multiScan) batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else batch
    // the probe and rewrite jobs carry this batch's job descriptions
    // (per-layer attribution reads them); the caller's own description
    // is restored on every path, exceptions included
    val callerDesc = spark.sparkContext.getLocalProperty("spark.job.description")
    try {
      // affected-bucket ids: steady state touches only the delta's
      // buckets. One exchange-free pass over the persisted delta sets
      // each row's bucket in a per-partition bitset, and the job folds
      // the bitsets into one of stateBuckets bits — bounded by
      // configuration, not data. (A `distinct` or a global aggregate ran
      // three jobs: AQE stages the cached delta and the exchange apart.)
      // None = the BOOTSTRAP batch (no state root at all): there is no
      // prev state to prune to, so the probe over the whole batch buys
      // nothing — the rename list is derived by LISTING the tmp write
      // output instead (r19; the probe was ~30% of a bootstrap batch's
      // addBatch time).
      spark.sparkContext.setJobDescription("foldBatch: affected buckets")
      val affected: Option[Seq[Int]] =
        if (!rootExisted) None
        else {
          val n = stateBuckets
          val bits = delta.select(bucketExpr).queryExecution.toRdd
            .mapPartitions { rows =>
              val b = new java.util.BitSet(n)
              rows.foreach(r => b.set(r.getInt(0)))
              Iterator.single(b)
            }
            .fold(new java.util.BitSet(n)) { (a, b) => a.or(b); a }
          Some(bits.stream().toArray.toSeq)
        }
      val existing = affected.getOrElse(Nil).filter(n => fs.exists(bucketDir(root, n)))
      // previous state rows are already latest-per-key; union keeps
      // their (scn, op) so ordering vs the new delta stays correct.
      // Read with the state's schema: bucket files may carry different
      // schema VERSIONS after an evolution (only rewritten buckets widen),
      // and the narrower ones read nulls in the columns they lack.
      val prev: Option[DataFrame] =
        if (existing.nonEmpty)
          Some(spark.read.schema(before.get)
            .parquet(existing.map(n => bucketDir(root, n).toString): _*))
        else None
      // by-NAME alignment with null backfill = the schema-evolution seam
      // (see Scaladoc above); same-schema batches reduce to plain unionByName
      val all = prev.fold(delta: DataFrame)(p =>
        p.drop(BucketCol).unionByName(delta, allowMissingColumns = true))
      // latestPerKey, NOT applyChanges: tombstones are RETAINED in the
      // state (op='d' rows participate in last-write-wins like a
      // compacted Kafka topic) — dropping them would let any late
      // replay older than the delete resurrect the key. Consumers read
      // the current VIEW through readCurrentState (filters deletes);
      // tombstoneRetention purges them once older than the channel's
      // maximum lateness the same way compaction retention does.
      val folded = Ops.latestPerKey(all, keys, ordering)
      val next0 = tombstoneRetention match {
        case Some(ret) =>
          // high-watermark from THIS batch (stream time advances with the
          // data; an all-stale batch purges nothing — safe direction).
          // One-row collect, bounded by construction.
          val hwm = delta.agg(max(col(ordering.head).cast("long"))).collect()(0)
          // the purge conjunct requires a NON-NULL castable ordering value:
          // a null (or non-castable) ordering would make the whole
          // predicate null and `filter` would DROP the row — purging the
          // tombstone immediately regardless of retention and re-enabling
          // resurrection. Null-ordering tombstones are retained instead
          // (safe direction: retention is an optimization, not a right).
          val ord = col(ordering.head).cast("long")
          if (hwm.isNullAt(0)) folded
          else folded.filter(
            !(col(opCol) === deleteOp && ord.isNotNull &&
              ord < lit(hwm.getLong(0) - ret)))
        case None => folded
      }
      val next1 = next0.withColumn(BucketCol, bucketExpr)
      // defensive prune: every folded row's bucket is in the affected set
      // by construction (prev was read from exactly those buckets and the
      // delta defined them) — the filter guards the rename loop against
      // a drifted bucket expression, and is skipped on bootstrap where
      // the affected set was never computed.
      val next = affected.fold(next1)(a => next1.filter(col(BucketCol).isin(a: _*)))
      val tmpRoot = new org.apache.hadoop.fs.Path(root, ".delta_tmp")
      spark.sparkContext.setJobDescription("foldBatch: rewrite buckets")
      next.write.mode("overwrite").partitionBy(BucketCol).parquet(tmpRoot.toString)
      // widen the recorded schema BY NAME before the swap, so no reader
      // sees a bucket with a column the schema lacks; a re-run after a
      // crash from here on reads the wider schema and writes the same
      // buckets. A column whose type moved would leave buckets no one
      // schema reads — fail before the swap instead.
      val written = dataSchema(next)
      val after = before.fold(written) { b =>
        written.foreach(f => b.find(_.name.equalsIgnoreCase(f.name)).foreach(bf => require(bf.dataType == f.dataType,
          s"state at $root has column ${f.name} of type ${bf.dataType.sql} but this batch " +
            s"writes ${f.dataType.sql}: only added columns evolve the state schema")))
        StructType(b ++ written.filterNot(f => b.fieldNames.exists(_.equalsIgnoreCase(f.name))))
      }
      if (!recorded.contains(after)) recordSchema(fs, root, after)
      // every rename result is CHECKED: Hadoop FileSystem reports most
      // failures by returning false, not throwing — an unchecked false
      // here would commit the checkpoint with a stale bucket and lose
      // the delta silently
      def mustRename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit =
        require(fs.rename(src, dst), s"rename $src -> $dst failed; failing the batch")
      // bootstrap: the written tmp layout IS the bucket list
      val renameIds: Seq[Int] = affected.getOrElse(
        fs.listStatus(tmpRoot).map(_.getPath.getName).toSeq
          .filter(_.startsWith(s"$BucketCol="))
          .map(_.stripPrefix(s"$BucketCol=").toInt))
      renameIds.foreach { n =>
        val src = new org.apache.hadoop.fs.Path(tmpRoot, s"$BucketCol=$n")
        val dst = bucketDir(root, n)
        val old = new org.apache.hadoop.fs.Path(root, s".old_$n")
        if (fs.exists(dst)) mustRename(dst, old)
        if (fs.exists(src)) mustRename(src, dst) // absent src = bucket fully deleted
        if (fs.exists(old)) fs.delete(old, true)
      }
      fs.delete(tmpRoot, true)
      // record the layout's bucket count even when THIS batch created
      // the layout (the entry check only runs when root pre-exists; a
      // restart with a different stateBuckets must fail loudly, not
      // re-record)
      checkOrRecordBuckets(fs, root, stateBuckets, keys)
    } finally {
      spark.sparkContext.setJobDescription(callerDesc)
      if (multiScan) delta.unpersist()
      ()
    }
  }

  /** Continuously materialize a change-event stream into a current-state
    * parquet table at `statePath`, exactly-once via `checkpointDir`
    * (reference's checkpoint/resume, the `olr-checkpoint` JSON files).
    *
    * Each micro-batch folds `latestPerKey(previousState ∪ batch)` with
    * tombstones RETAINED (op='d' rows stay in the state and win the
    * last-write-wins fold, like a compacted Kafka topic — so a late
    * replay older than a delete can never resurrect the key); consumers
    * read the live view via [[readCurrentState]]. Idempotent under
    * redelivery (at-least-once file source + last-write-wins by scn), so
    * restart-from-checkpoint is exactly-once end to end. Schema evolution
    * and tombstone retention semantics are documented on [[foldBatch]]:
    * a restart with a WIDER feed schema (auto.evolve) keeps working
    * against old state (null backfill), and `tombstoneRetention` purges
    * tombstones older than the channel's max lateness during rewrites.
    *
    * Scale design — per-batch cost is O(|delta state|), NOT O(|state|):
    * state is laid out in `stateBuckets` key-hash partitions
    * (`state_bucket=N/`) and a batch reads and rewrites ONLY the buckets
    * containing its delta keys; untouched buckets' files are never
    * opened. A key lookup through [[readCurrentState]] reads the same
    * way: an equality on every key lists only that key's bucket
    * ([[BucketCol]]). (A cluster deployment swaps this for MERGE into a
    * transactional table format; the dataflow per bucket is identical.)
    * Crash safety: each bucket swap is rename(dst→.old_N) +
    * rename(tmp→dst) + delete(.old_N), repaired idempotently at batch
    * start — combined with applyChanges' last-write-wins idempotence
    * under redelivery, a crash at ANY point re-runs to the same state.
    * A flat (unbucketed) state fails the batch: bootstrap through
    * [[writeState]]. Absent state = directory absence,
    * checked explicitly — any OTHER read error fails the batch loudly
    * instead of silently resetting state.
    */
  def materialize(
      feed: DataFrame,
      keys: Seq[String],
      ordering: Seq[String],
      statePath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      stateBuckets: Int = 16,
      tombstoneRetention: Option[Long] = None
  ): StreamingQuery = {
    require(!feed.columns.contains(BucketCol), s"feed must not have a '$BucketCol' column")
    feed.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        foldBatch(batch, keys, ordering, statePath, stateBuckets, tombstoneRetention)
      }
      .start()
  }

  /** Multi-table pipeline fan-out (reference deployment shape: ONE
    * connector feed carries per-table topics `prefix.SCHEMA.TABLE`,
    * `README.md:805`; each topic upserts into its own sink table). One
    * streaming query consumes a mixed feed and maintains one bucketed
    * state per distinct `tableCol` value under `stateRoot/table=<name>/`,
    * each with the same exactly-once fold as [[materialize]].
    *
    * Per-table keys come from `keysFor` (Debezium: each table has its own
    * PK — `pk.fields` per topic). The distinct-table collect is bounded
    * by the table COUNT (a config-scale number, not data-scale); the
    * batch is cached so the JSON parse is paid once, and each table's
    * slice prunes to its own buckets as in the single-table path. A
    * restart replays the whole batch into every table idempotently
    * (last-write-wins), so the multi-state commit needs no cross-table
    * atomicity: a crash mid-fan-out re-runs to the same states.
    */
  def materializeMulti(
      feed: DataFrame,
      tableCol: String,
      keysFor: String => Seq[String],
      ordering: Seq[String],
      stateRoot: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      stateBuckets: Int = 16,
      tombstoneRetention: Option[Long] = None
  ): StreamingQuery = {
    require(!feed.columns.contains(BucketCol), s"feed must not have a '$BucketCol' column")
    feed.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val cached = batch
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val tRows = cached.select(col(tableCol)).distinct()
            .collect() // bounded: one per table
          // a null table name would NPE in the sort below and (worse)
          // `col(tableCol) === null` slices to empty, so the rows would be
          // silently consumed-and-dropped. Fail with a routing instruction
          // instead: malformed envelopes belong in the dead-letter path.
          require(!tRows.exists(_.isNullAt(0)),
            s"materializeMulti: batch has rows with null '$tableCol'; " +
              "route malformed envelopes to a dead-letter sink " +
              "(Ops.parseEnvelope's bad-row side) before fan-out")
          val tables = tRows.map(_.getString(0)).sorted
          // the table name is feed-derived (parsed change-event JSON —
          // source-controlled) and becomes a PATH segment: '../'
          // would escape stateRoot and let foldBatch rename/delete in a
          // foreign directory; '/' or '=' silently corrupts the
          // hive-style layout partition discovery parses. Identifier
          // charset only, and the FIRST character must be alphanumeric /
          // underscore: a bare "." normalizes to stateRoot itself (its
          // buckets would land at the root alongside sibling table
          // dirs), and dot-prefixed names are invisible to Spark's file
          // listing AND collide with the engine's own .old_/.tmp_ swap
          // naming. (The first-char class rejects any LEADING dot —
          // including "." and ".." themselves; an INTERIOR ".."
          // sequence like 'a..b' passes the regex and is rejected by
          // the `!t.contains("..")` conjunct of the same require.)
          tables.foreach(t => require(t.matches("[A-Za-z0-9_][A-Za-z0-9_.-]*") && !t.contains(".."),
            s"materializeMulti: table name '$t' is not a safe path segment; " +
              "route it to the dead-letter sink"))
          tables.foreach { t =>
            foldBatch(
              cached.filter(col(tableCol) === t).drop(tableCol),
              keysFor(t), ordering,
              s"$stateRoot/table=$t", stateBuckets, tombstoneRetention)
          }
        } finally { cached.unpersist(); () }
      }
      .start()
  }

  /** Current-state VIEW of a materialized state table: the state retains
    * tombstones (op='d' rows win last-write-wins so late replays cannot
    * resurrect deleted keys); consumers read through this filter.
    * The read passes the recorded schema ([[SchemaMeta]]) and starts no
    * Spark job: after a schema evolution only rewritten buckets carry the
    * widened file schema, and the rest read nulls in the columns they
    * lack (see [[foldBatch]]). A root without a schema file infers it
    * with `mergeSchema`, which returns the same schema. The bucket count
    * and keys of the `_state_buckets` marker ride on the read as the
    * [[StateBucketPruning]] options, so a filter with an equality on
    * every key scans only that key's bucket.
    */
  def readCurrentState(spark: SparkSession, statePath: String,
      opCol: String = "op", deleteOp: String = "d"): DataFrame = {
    // The per-bucket swap is rename(dst→.old_N) + rename(tmp→dst):
    // between the renames bucket N's directory is ABSENT, and a reader
    // listing in that window would SILENTLY return a state missing that
    // bucket's keys (the .old_ prefix is dot-invisible to the reader).
    // A .old_N sibling with no state_bucket=N dir is exactly that
    // window (or a crash the next batch's repair() resolves) — wait
    // briefly for the swap to complete, then fail LOUDLY rather than
    // serve wrong data. (The check narrows the race to list-after-check;
    // the swap itself is two renames, microseconds.)
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def midSwap(): Seq[String] =
      if (!fs.exists(root)) Nil
      else fs.listStatus(root).map(_.getPath.getName)
        .filter(_.startsWith(".old_")).toSeq
        .map(_.stripPrefix(".old_"))
        .filter(n => !fs.exists(bucketDir(root, n)))
    var torn = midSwap()
    val deadline = System.nanoTime() + 10_000_000_000L
    while (torn.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(50)
      torn = midSwap()
    }
    require(torn.isEmpty,
      s"state at $statePath is mid-swap for buckets ${torn.mkString(",")} " +
        "and did not settle — a read now would silently miss those buckets' keys")
    // spark.read.parquet resolves the file index EAGERLY — the
    // relation is built with its InMemoryFileIndex, whether the schema
    // is given or inferred — so by the time `df` exists the bucket set
    // this read will serve is fixed. Re-verify the .old_ invariant AFTER
    // that listing: a swap that began between the final midSwap() above
    // and the read's own listing is the residual TOCTOU window — catching
    // it here turns a torn read into a loud failure instead of a silently
    // partial state. The schema file is re-read for the same reason: a
    // fold widens it before its swap, so a listing that already holds a
    // widened bucket is followed by a changed schema file.
    val schema = recordedSchema(fs, root)
    val reader = schema.fold(spark.read.option("mergeSchema", "true"))(
      s => spark.read.schema(s.add(BucketCol, IntegerType)))
    val df = (recordedLayout(fs, root) match {
      case Some(Layout(n, Some(keys))) =>
        StateBucketPruning.ensure(spark)
        reader.option(StateBucketPruning.BucketsOption, n.toLong)
          .option(StateBucketPruning.KeysOption, keysToJson(keys))
      case _ => reader
    }).parquet(statePath)
    val tornAfter = midSwap()
    require(tornAfter.isEmpty,
      s"state at $statePath began a bucket swap (${tornAfter.mkString(",")}) " +
        "while this read was resolving its file listing — retry the read")
    require(recordedSchema(fs, root) == schema,
      s"state at $statePath widened its schema while this read was resolving " +
        "its file listing — retry the read")
    df.filter(col(opCol) =!= deleteOp)
  }

  /** Per-key current state maintained IN the stream via
    * `flatMapGroupsWithState` (the §2.10 custom-state surface): each
    * micro-batch folds its events into one state row per key, emits only
    * events that ADVANCE their key (stale redeliveries are suppressed —
    * at-least-once in, effectively-once changelog out), and retains a
    * deleted key's tombstone as its suppression floor (so a stale
    * pre-delete redelivery in a later batch cannot resurrect the key).
    *
    * This is the in-stream alternative to sink-side state
    * ([[materialize]]): right when the keyspace is bounded (dimension
    * tables — state is one row per key in the state store), wrong for
    * the unbounded 100 TB fact case, which is exactly why `materialize`
    * keeps its state in the partitioned sink instead.
    */
  def statefulLatest[K, E](
      ds: org.apache.spark.sql.Dataset[E],
      keyOf: E => K,
      ordOf: E => Long,
      isDelete: E => Boolean)(
      implicit ke: org.apache.spark.sql.Encoder[K],
      ee: org.apache.spark.sql.Encoder[E]): org.apache.spark.sql.Dataset[E] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    ds.groupByKey(keyOf)
      .flatMapGroupsWithState[E, E](OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: K, events: Iterator[E], state: GroupState[E]) =>
          var cur = state.getOption
          val out = collection.mutable.Buffer.empty[E]
          events.toSeq.sortBy(ordOf).foreach { e =>
            if (cur.forall(c => ordOf(c) < ordOf(e))) {
              cur = Some(e)
              out += e // tombstones are emitted too — downstream must see deletes
            }
          }
          // tombstones are RETAINED as the key's suppression floor: with
          // state.remove() a stale pre-delete redelivery in a later batch
          // would be accepted as fresh and resurrect the deleted key.
          // Bounded-keyspace assumption (this operator's documented use)
          // makes keeping one tombstone row per deleted key acceptable —
          // the unbounded case belongs to materialize's sink-side state.
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** Stream-stream interval join (§2.10): pair each left event with the
    * right events on the same key inside the CLOSED window
    * `[leftTs, leftTs + within]` (equal timestamps match — same as the
    * oracle-checked batch twin). Both sides carry watermarks, which is what lets
    * Spark BOUND the join state: a buffered left row can be dropped once
    * the right watermark passes leftTs + within (and vice versa) — the
    * required shape for an unbounded 100 TB stream, where an unwatermarked
    * stream-stream join would buffer forever. Batch-equivalent semantics
    * are the oracle-checked `stream_join` query id; row parity is proven
    * in StreamingSpec.
    */
  def intervalJoin(
      left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String,
      within: String, watermark: String,
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    // for OUTER variants the time bound must live in the ON clause (a
    // post-filter would drop the null-padded rows and silently turn the
    // join inner), and it is also what lets Spark emit the unmatched
    // left row at a DEFINITE point: once the right watermark passes
    // leftTs + within, no future match can arrive, so the null row is
    // final — late outer results are impossible by construction.
    l.join(r, expr(
      s"l.$key = r.$key AND r.$rightTs >= l.$leftTs AND " +
        s"r.$rightTs <= l.$leftTs + interval $within"), joinType)
  }

  /** Stream-static enrichment: each micro-batch of the feed joins a
    * STATIC dimension (the classic "decorate the change stream with the
    * dimension row" step; batch twin = the oracle-checked
    * `stream_enrich` id). The dim is broadcast — no shuffle ever touches
    * the stream side, and unlike a stream-stream join there is NO join
    * state to bound: the static side is re-resolvable per batch, so this
    * stays O(batch) memory on an unbounded stream. Spark re-reads a
    * file-based static side per micro-batch, which is also how slowly-
    * changing dims pick up updates without restarting the query.
    */
  def enrichWithDim(feed: DataFrame, dim: DataFrame, key: String): DataFrame =
    feed.join(broadcast(dim), Seq(key))

  /** Streaming dedup under at-least-once delivery (reference: Connect
    * restarts redeliver; SURVEY §2.10): `dropDuplicatesWithinWatermark`,
    * NOT plain `dropDuplicates(keys)` — Spark only evicts dedup state
    * when the event-time column is part of the dedup key, so the plain
    * form would grow state forever on an unbounded key domain (the exact
    * failure a watermark exists to prevent). The WithinWatermark variant
    * dedups by key and drops each key's state once the watermark passes
    * its last occurrence.
    */
  def dedupStream(feed: DataFrame, eventTime: String, watermark: String, keys: Seq[String]): DataFrame =
    feed.withWatermark(eventTime, watermark).dropDuplicatesWithinWatermark(keys)

  /** Tumbling/sliding window aggregation over an event-time stream. */
  def tumblingCounts(feed: DataFrame, eventTime: String, watermark: String, width: String): DataFrame =
    feed
      .withWatermark(eventTime, watermark)
      .groupBy(window(col(eventTime), width))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bucket"), col("n"))

  /** Streaming OHLC bars — the streaming twin of the batch
    * `ts_downsample` id: per tumbling window, open/close via
    * min_by/max_by on a caller-supplied UNIQUE arrival key plus
    * high/low/count/volume. arg-min/max streaming state is one
    * (key, value) pair per bar side, so per-window state is O(1)
    * exactly like min/max — bars emit finalized on watermark close
    * (append mode), the standard exactly-once bar pipeline shape.
    * Parity with the batch form is pinned in StreamingSpec. */
  def ohlcBars(feed: DataFrame, eventTime: String, watermark: String,
      width: String, keyCol: String, centsCol: String): DataFrame =
    feed
      .withWatermark(eventTime, watermark)
      .groupBy(window(col(eventTime), width))
      .agg(
        min_by(col(centsCol), col(keyCol)).as("open_cents"),
        max(col(centsCol)).as("high_cents"),
        min(col(centsCol)).as("low_cents"),
        max_by(col(centsCol), col(keyCol)).as("close_cents"),
        count(lit(1)).as("n"),
        sum(col(centsCol)).as("vol_cents"))
      .select(col("window.start").as("bucket"), col("open_cents"),
        col("high_cents"), col("low_cents"), col("close_cents"),
        col("n"), col("vol_cents"))

  /** Session windows (north-star §2.10): gap-based sessionization. */
  def sessionCounts(feed: DataFrame, eventTime: String, watermark: String, gap: String, key: String): DataFrame =
    feed
      .withWatermark(eventTime, watermark)
      .groupBy(col(key), session_window(col(eventTime), gap))
      .agg(count(lit(1)).as("n"))
      .select(col(key), col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col("n"))
}
