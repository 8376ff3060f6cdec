package graft.cdc

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode
import graft.AtomicFile
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, Pmod, XxHash64}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, NoopCache, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, MapType, StructField, StructType}

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

  /** Hive-style key-hash partition column of the materialized state: a
    * row lives in bucket [[bucketOf]]`(keys, stateBuckets)`, in the
    * generation directory `state_bucket=N/g-V` that the `_state` file
    * names ([[StateFile]]). Read the state through [[readCurrentState]],
    * which reads exactly the named generations. A plain parquet reader of
    * the root sees `state_bucket` as a partition column too, but it can
    * see a generation a fold has written and not committed yet, or one a
    * commit superseded and has not deleted yet. A lookup through
    * readCurrentState whose filter holds `key = literal` for every key
    * reads one bucket: [[StateBucketPruning]] adds
    * `state_bucket = <that key's bucket>`, and the scan lists one bucket.
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

  private def bucketDir(root: Path, n: Int) = new Path(root, s"$BucketCol=$n")

  private[cdc] def generationDir(root: Path, n: Int, version: Long) = new Path(bucketDir(root, n), s"g-$version")

  /** Where a fold or [[writeState]] writes its buckets before the commit. */
  private val TmpDir = ".delta_tmp"

  private val StateFileName = "_state"

  private val BucketSchema = StructType(Seq(StructField(BucketCol, IntegerType)))

  /** A committed state, as its `_state` file records it; replacing that
    * one file is the whole commit.
    *  - `version` counts commits, and a commit names the generations it
    *    writes after it: `state_bucket=N/g-<version>`.
    *  - `live` maps each non-empty bucket to the version of its live
    *    generation; `superseded` holds the generations the commit
    *    replaced, which it deletes once `_state` names their successors.
    *  - `buckets` and `keys` are fixed at the first commit. [[bucketOf]]
    *    only addresses rows written with the same count and keys: another
    *    writer would put a key's new row in another bucket than its old
    *    one, so every fold must match them.
    *  - `schema` is the data schema (no `state_bucket`), in the
    *    all-nullable form parquet inference returns. It is metadata the
    *    way the sink table's schema is, which `auto.evolve` ALTERs
    *    (reference `README.md:839`): a fold widens it when a batch adds a
    *    column, and bucket files written before read nulls there.
    *  - `batch` names the stream batch the commit folded,
    *    `<query id>:<batch id>`, so a batch that is replayed after a
    *    crash that followed its commit is not folded again.
    */
  private[cdc] final case class StateFile(version: Long, buckets: Int, keys: Seq[String], schema: StructType,
      live: Map[Int, Long], superseded: Map[Int, Long], batch: Option[String])

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The keys as `_state` and the [[StateBucketPruning.KeysOption]] value
    * hold them: a JSON array, so any column name round-trips.
    */
  private[cdc] def keysToJson(keys: Seq[String]): String = json.writeValueAsString(keys.toArray)
  private[cdc] def keysFromJson(s: String): Seq[String] = json.readValue(s, classOf[Array[String]]).toSeq

  private def encode(st: StateFile): String = {
    val o = json.createObjectNode()
    o.put("version", st.version).put("buckets", st.buckets)
    o.set[ObjectNode]("keys", json.readTree(keysToJson(st.keys)))
    o.set[ObjectNode]("schema", json.readTree(st.schema.json))
    def generations(name: String, m: Map[Int, Long]): Unit = {
      val g = o.putObject(name)
      m.toSeq.sorted.foreach { case (n, v) => g.put(n.toString, v) }
    }
    generations("live", st.live)
    generations("superseded", st.superseded)
    st.batch.foreach(o.put("batch", _))
    json.writeValueAsString(o)
  }

  private def decode(text: String): StateFile = {
    val o = json.readTree(text)
    def generations(name: String) = o.get(name).properties().asScala.map(e => e.getKey.toInt -> e.getValue.asLong).toMap
    StateFile(o.get("version").asLong, o.get("buckets").asInt, keysFromJson(o.get("keys").toString),
      DataType.fromJson(o.get("schema").toString).asInstanceOf[StructType],
      generations("live"), generations("superseded"), Option(o.get("batch")).map(_.asText))
  }

  /** The state committed at `statePath`, if any. */
  private[cdc] def committed(spark: SparkSession, statePath: String): Option[StateFile] =
    AtomicFile.read(new Path(statePath, StateFileName), spark.sparkContext.hadoopConfiguration).map(decode)

  /** True iff a state table at `statePath` has COMMITTED its bootstrap
    * or first write: its `_state` exists. Bare directory existence is no
    * such mark: the first write creates the directory long before its
    * commit, so a crash mid-snapshot leaves a root that exists() would
    * accept as current state.
    */
  def stateCommitted(spark: SparkSession, statePath: String): Boolean =
    committed(spark, statePath).nonEmpty

  private def noState(root: Path) =
    s"state at $root has no _state file: write the bootstrap state with Stream.writeState"

  /** Fails unless `root`, which has no `_state`, holds nothing but what an
    * interrupted first commit leaves (`.`-prefixed names and `state_bucket`
    * directories): a root written any other way is not a layout the fold
    * maintains, and bootstrapping over it would ignore its rows.
    */
  private def requireNoForeignFiles(fs: FileSystem, root: Path): Unit = {
    val foreign =
      try fs.listStatus(root).toSeq.filterNot(st =>
        st.getPath.getName.startsWith(".") || st.isDirectory && st.getPath.getName.startsWith(s"$BucketCol="))
      catch { case _: java.io.FileNotFoundException => Nil }
    require(foreign.isEmpty, s"${noState(root)} (it holds ${foreign.take(3).map(_.getPath.getName).mkString(", ")})")
  }

  private def requireLayout(root: Path, st: StateFile, n: Int, keys: Seq[String]): Unit = {
    require(st.buckets == n,
      s"state at $root is bucketed with stateBuckets=${st.buckets} but this " +
        s"writer was configured with $n — matching counts are required " +
        "(a mismatch would strand rows in never-read buckets)")
    require(st.keys == keys,
      s"state at $root is bucketed by keys ${st.keys.mkString("(", ", ", ")")} but this " +
        s"writer folds by ${keys.mkString("(", ", ", ")")} — matching keys are required " +
        "(a mismatch would put a key's new row in another bucket than its old one)")
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

  /** A relation over the live generations of `buckets`: `state_bucket`
    * as its partition column, the recorded schema, and the bucket count
    * and keys as the [[StateBucketPruning]] options. The file index is
    * built over the generation directories with the partition spec from
    * `_state`, so there is no listing of the root, no partition inference
    * and no existence check per path, and it lists the files before this
    * returns. None when a named generation lists no file: every written
    * generation holds one, so it was deleted after `st` was read.
    */
  private def stateRelation(spark: SparkSession, root: Path, st: StateFile, buckets: Iterable[Int]): Option[DataFrame] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = buckets.toSeq.sorted.map(n => PartitionPath(InternalRow(n), fs.makeQualified(generationDir(root, n, st.live(n)))))
    val opts = Map(StateBucketPruning.BucketsOption -> st.buckets.toString,
      StateBucketPruning.KeysOption -> keysToJson(st.keys))
    val index = new InMemoryFileIndex(spark, parts.map(_.path), opts, None, NoopCache,
      Some(PartitionSpec(BucketSchema, parts)))
    val listed = index.allFiles().map(_.getPath.getParent).toSet
    if (!parts.forall(p => listed(p.path))) None
    else Some(spark.baseRelationToDataFrame(
      HadoopFsRelation(index, BucketSchema, st.schema, None, new ParquetFileFormat, opts)(spark)))
  }

  /** The commit that [[writeState]] and [[foldBatch]] share, run once
    * their buckets are written under `.delta_tmp`:
    *  1. each written bucket is renamed to a new generation
    *     `state_bucket=N/g-<version>`;
    *  2. `_state` is replaced, naming those generations and `schema`;
    *  3. the generations they replace are deleted.
    * `replaced` are the live buckets the commit ends whether it wrote them
    * or not: one whose rows were all dropped leaves the state. A crash
    * before step 2 leaves the previous state committed, and the re-run
    * commit deletes the generations it left before it renames its own.
    */
  private def commit(spark: SparkSession, root: Path, prev: Option[StateFile], buckets: Int, keys: Seq[String],
      schema: StructType, replaced: Iterable[Int], batch: Option[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val version = prev.fold(1L)(_.version + 1)
    val live = prev.fold(Map.empty[Int, Long])(_.live)
    val tmp = new Path(root, TmpDir)
    val written = fs.listStatus(tmp).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(s"$BucketCol=")).map(_.stripPrefix(s"$BucketCol=").toInt)
    written.foreach { n =>
      val dst = generationDir(root, n, version)
      // the parent must exist: the local file system copies what it
      // cannot rename in one step
      if (!live.contains(n)) fs.mkdirs(bucketDir(root, n))
      fs.delete(dst, true)
      // Hadoop reports most rename failures by returning false: unchecked,
      // the batch would commit without this bucket's rows
      require(fs.rename(new Path(tmp, s"$BucketCol=$n"), dst), s"rename into $dst failed; failing the batch")
    }
    val ended = (replaced ++ written).toSet
    val next = StateFile(version, buckets, keys, schema, live -- ended ++ written.map(_ -> version),
      live.filter { case (n, _) => ended(n) }, batch)
    AtomicFile.replace(new Path(root, StateFileName), encode(next), conf)
    dropSuperseded(fs, root, next)
  }

  /** Step 3 of [[commit]]; also run for a replayed batch, whose earlier
    * commit may have crashed before it finished this step.
    */
  private def dropSuperseded(fs: FileSystem, root: Path, st: StateFile): Unit = {
    st.superseded.foreach { case (n, v) => fs.delete(generationDir(root, n, v), true) }
    fs.delete(new Path(root, TmpDir), true)
    ()
  }

  /** Write a full state table in the bucketed layout `materialize`
    * maintains incrementally (bootstrap/snapshot path). It replaces every
    * bucket of a state already at `statePath`, and its layout is the one
    * later folds must match. Over a root an interrupted write left, it
    * commits the first state.
    */
  def writeState(df: DataFrame, statePath: String, keys: Seq[String],
      stateBuckets: Int = 16): Unit = {
    val spark = df.sparkSession
    val prev = committed(spark, statePath)
    df.withColumn(BucketCol, bucketCol(keys, stateBuckets))
      .write.mode("overwrite").partitionBy(BucketCol).parquet(new Path(statePath, TmpDir).toString)
    commit(spark, new Path(statePath), prev, stateBuckets, keys, dataSchema(df),
      prev.fold(Iterable.empty[Int])(_.live.keys), batch = None)
  }

  /** One micro-batch of the bucketed state fold — the shared engine of
    * [[materialize]] (one state table) and [[materializeMulti]] (per-table
    * fan-out). Folds `latestPerKey(previousState ∪ batch)` into the
    * key-hash-bucketed layout at `statePath`; see [[materialize]] for the
    * full semantics/scale contract. `batchId` names a stream batch (see
    * [[StateFile]]): a batch the state already committed is not folded
    * again.
    *
    * Schema evolution (`auto.evolve=true` parity, reference
    * `README.md:839`): the previous state and the batch are aligned BY
    * NAME with missing columns null-backfilled
    * (`unionByName(allowMissingColumns)`), so a feed that gained a column
    * mid-stream (DDL captured by the history topic) just keeps working —
    * old state rows read as null in the new column, exactly how the
    * reference's JDBC sink ALTERs the table and backfills. Only the
    * delta's buckets are rewritten widened; untouched buckets keep their
    * old file schema until next touched. The commit that writes a widened
    * bucket also widens the recorded schema, and every state read passes
    * it, so narrower bucket files read nulls in the added columns. Type
    * CHANGES are not auto-evolved — the union or the schema widening fails
    * loudly, matching the sink connector, which only ever adds columns.
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
      deleteOp: String = "d",
      batchId: Option[String] = None
  ): Unit = {
    val spark = batch.sparkSession
    require(!batch.columns.contains(BucketCol),
      s"feed must not have a '$BucketCol' column")
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = committed(spark, statePath)
    prev match {
      case Some(st) => requireLayout(root, st, stateBuckets, keys)
      case None => requireNoForeignFiles(fs, root)
    }
    if (batchId.nonEmpty && prev.exists(_.batch == batchId)) {
      dropSuperseded(fs, root, prev.get)
      return
    }
    val bucketExpr = bucketCol(keys, stateBuckets)
    // the batch input is scanned several times on a steady-state batch
    // (affected-bucket ids, purge watermark, then the fold) — cache it so
    // JSON parsing is paid once. A BOOTSTRAP batch (no committed state, no
    // retention) scans the delta exactly once, so the cache write would
    // be pure overhead (r19).
    val multiScan = prev.nonEmpty || tombstoneRetention.nonEmpty
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
      // None = the BOOTSTRAP batch (no committed state): there is no
      // prev state to prune to, so the probe over the whole batch buys
      // nothing — the commit takes the written buckets from the tmp
      // write's output instead (r19; the probe was ~30% of a bootstrap
      // batch's addBatch time).
      spark.sparkContext.setJobDescription("foldBatch: affected buckets")
      val affected: Option[Seq[Int]] =
        if (prev.isEmpty) None
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
      // previous state rows are already latest-per-key; union keeps
      // their (scn, op) so ordering vs the new delta stays correct.
      // Read with the state's schema: bucket files may carry different
      // schema VERSIONS after an evolution (only rewritten buckets widen),
      // and the narrower ones read nulls in the columns they lack.
      val prevRows: Option[DataFrame] = for {
        st <- prev
        read = affected.get.filter(st.live.contains)
        if read.nonEmpty
      } yield stateRelation(spark, root, st, read)
        .getOrElse(throw new IllegalStateException(s"state at $root names a generation that does not exist"))
      // by-NAME alignment with null backfill = the schema-evolution seam
      // (see Scaladoc above); same-schema batches reduce to plain unionByName
      val all = prevRows.fold(delta: DataFrame)(p =>
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
      // delta defined them) — the filter keeps a drifted bucket expression
      // from committing a bucket the probe did not end, and is skipped on
      // bootstrap where the affected set was never computed.
      val next = affected.fold(next1)(a => next1.filter(col(BucketCol).isin(a: _*)))
      spark.sparkContext.setJobDescription("foldBatch: rewrite buckets")
      next.write.mode("overwrite").partitionBy(BucketCol).parquet(new Path(root, TmpDir).toString)
      // widen the recorded schema BY NAME in the same commit as the
      // buckets that carry the new column. A column whose type moved
      // would leave buckets no one schema reads — fail before the
      // commit instead.
      val written = dataSchema(next)
      val after = prev.fold(written) { st =>
        val b = st.schema
        written.foreach(f => b.find(_.name.equalsIgnoreCase(f.name)).foreach(bf => require(bf.dataType == f.dataType,
          s"state at $root has column ${f.name} of type ${bf.dataType.sql} but this batch " +
            s"writes ${f.dataType.sql}: only added columns evolve the state schema")))
        StructType(b ++ written.filterNot(f => b.fieldNames.exists(_.equalsIgnoreCase(f.name))))
      }
      commit(spark, root, prev, stateBuckets, keys, after, affected.getOrElse(Nil), batchId)
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
    *
    * Crash safety: a batch writes its buckets as new generation
    * directories beside the live ones, and one atomic replace of the
    * `_state` file commits them ([[StateFile]]). A crash before that
    * replace leaves the previous state committed and readable, and the
    * re-run batch deletes what the crash left before it writes again; a
    * crash after it leaves the batch committed, and the replayed batch,
    * which `_state` names, only finishes deleting the generations the
    * commit superseded. So a crash at ANY point re-runs to the same state,
    * `_state` included, and no reader ever sees a bucket missing. A root
    * without `_state` that holds anything but an interrupted first
    * commit fails the batch: bootstrap through [[writeState]].
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
      .foreachBatch { (batch: DataFrame, id: Long) =>
        foldBatch(batch, keys, ordering, statePath, stateBuckets, tombstoneRetention,
          batchId = streamBatch(batch, id))
      }
      .start()
  }

  /** `<query id>:<batch id>`: one batch of one query, across restarts
    * from its checkpoint (the query id is kept in the checkpoint). None
    * outside a stream.
    */
  private def streamBatch(batch: DataFrame, id: Long): Option[String] =
    Option(batch.sparkSession.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY)).map(q => s"$q:$id")

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
      .foreachBatch { (batch: DataFrame, id: Long) =>
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
          // listing AND collide with the engine's own `.delta_tmp`
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
              s"$stateRoot/table=$t", stateBuckets, tombstoneRetention, batchId = streamBatch(batch, id))
          }
        } finally { cached.unpersist(); () }
      }
      .start()
  }

  /** Current-state VIEW of a materialized state table: the state retains
    * tombstones (op='d' rows win last-write-wins so late replays cannot
    * resurrect deleted keys); consumers read through this filter.
    *
    * It reads `_state` once and builds its relation over exactly the
    * generations it names ([[StateFile]]), with the recorded schema, and
    * starts no Spark job: after a schema evolution only rewritten buckets
    * carry the widened file schema, and the rest read nulls in the columns
    * they lack (see [[foldBatch]]). A commit that lands during the read
    * changes nothing the read serves: the files are listed before this
    * returns. If that commit deleted a generation the read had named
    * before it was listed, the read starts again from the new `_state`.
    * The bucket count and keys ride on the relation as the
    * [[StateBucketPruning]] options, so a filter with an equality on every
    * key scans only that key's bucket.
    */
  def readCurrentState(spark: SparkSession, statePath: String,
      opCol: String = "op", deleteOp: String = "d"): DataFrame = {
    val root = new Path(statePath)
    StateBucketPruning.ensure(spark)
    @annotation.tailrec def read(seen: Option[Long]): DataFrame = {
      val st = committed(spark, statePath).getOrElse(throw new IllegalArgumentException(noState(root)))
      stateRelation(spark, root, st, st.live.keys) match {
        case Some(df) => df
        case None =>
          require(!seen.contains(st.version), s"state at $root names a generation that does not exist")
          read(Some(st.version))
      }
    }
    read(None).filter(col(opCol) =!= deleteOp)
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
