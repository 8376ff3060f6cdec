package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The reference's "query compile" path (SURVEY.md §3.2): deploying the
  * source connector runs an initial consistent snapshot
  * (`snapshot.mode=initial`, README.md:822) and then hands off to the
  * change stream at the snapshot SCN, with progress checkpointed.
  *
  * `start` reproduces exactly that lifecycle on Spark primitives:
  *  1. batch-read the base table, tag `op='r'` at `snapshotScn`, and
  *     materialize it as the initial current-state table;
  *  2. start the streaming materialization over the change-event
  *     directory with a checkpoint — `applyChanges` ordering by scn
  *     makes the handoff seamless (stream events at scn > snapshot win,
  *     late replays at scn ≤ snapshot lose — idempotent overlap).
  */
object CdcPipeline {

  final case class Handle(initialState: DataFrame, stream: StreamingQuery)

  def start(
      spark: SparkSession,
      baseTable: DataFrame,
      keys: Seq[String],
      snapshotScn: Long,
      changeDir: String,
      feedSchema: StructType,
      statePath: String,
      checkpointDir: String
  ): Handle =
    startOn(spark, baseTable, keys, snapshotScn,
      graft.sources.FileChannel(changeDir), feedSchema, statePath, checkpointDir)

  /** Channel-generic form: swap [[graft.sources.FileChannel]] for
    * [[graft.sources.KafkaChannel]] to run against a broker — nothing
    * else changes.
    */
  def startOn(
      spark: SparkSession,
      baseTable: DataFrame,
      keys: Seq[String],
      snapshotScn: Long,
      channel: graft.sources.ChangeChannel,
      feedSchema: StructType,
      statePath: String,
      checkpointDir: String,
      // materialize's knobs, passed through — a continuous deployment
      // needs a processing-time trigger here (the AvailableNow default
      // drains what exists and STOPS; fine for tests/backfills, wrong
      // for the always-on connector lifecycle), and a pre-existing
      // layout's bucket count must be matchable from this API
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      stateBuckets: Int = 16,
      tombstoneRetention: Option[Long] = None
  ): Handle = {
    // 1. snapshot phase: consistent batch read → op='r' rows → state,
    //    written directly in materialize's bucketed layout so the stream
    //    phase starts incremental (foldBatch rejects a flat state).
    //
    //    Snapshot-at-SCN consistency is the SOURCE's contract (the
    //    reference takes a flashback-consistent read AS OF `snapshotScn`,
    //    scripts-db/set-up-orl.sql:228; an in-engine batch read has no
    //    MVCC to verify it against). What the ENGINE guarantees is the
    //    overlap-idempotence contract at the handoff, made total by
    //    `__src_rank` (snapshot=0 < stream=1) as the scn tiebreaker:
    //      scn < snapshotScn  → replayed event loses to the snapshot;
    //      scn = snapshotScn  → the stream event wins DETERMINISTICALLY
    //                           (for a consistent source its after-image
    //                           equals the snapshot row, so this is a
    //                           no-op; for a drifted source the stream —
    //                           the log of record — wins, never a
    //                           partition-order coin flip);
    //      scn > snapshotScn  → the stream event wins on scn alone.
    //    Pinned by CdcPipelineSpec's boundary-SCN test.
    val feedCols = feedSchema.fieldNames.toSeq
    // Bootstrap ONCE: the snapshot is written only when no COMMITTED
    // state exists — the check is Stream.stateCommitted (the
    // `_state_buckets` marker, written after the parquet data), NOT
    // bare directory existence: the output committer creates the
    // directory at job start, so a crash mid-snapshot leaves a torn
    // root that exists() would accept as current state, silently
    // missing every bucket the crash never wrote — forever (nothing
    // re-runs the snapshot). With the marker check, a torn bootstrap
    // simply re-runs (mode=overwrite makes the re-write idempotent).
    // On a genuine restart the checkpoint makes the stream skip
    // already-committed files, so re-writing the snapshot then would
    // silently roll the folded state back to day zero (reverting every
    // applied change and resurrecting every delete) with nothing ever
    // replaying the gap — hence commit-marker, not marker-absence-only.
    val initial: DataFrame =
      if (!Stream.stateCommitted(spark, statePath)) {
        val snapDf = Ops.snapshot(baseTable, snapshotScn)
          .select(feedCols.map(col): _*).withColumn(SrcRankCol, lit(0))
        Stream.writeState(snapDf, statePath, keys, stateBuckets)
        snapDf
      } else {
        // resuming: hand back the CURRENT state, materialized eagerly —
        // a lazy read of statePath would race the first micro-batch's
        // bucket swaps when the caller finally evaluates it
        Stream.readCurrentState(spark, statePath).localCheckpoint()
      }
    // 2. stream phase over the transport channel; resumes via checkpoint.
    //    The wire rows are flat feed-schema JSON here (not the full
    //    envelope): parse value → struct → columns.
    val feed = channel.subscribe(spark)
      .select(from_json(col("value"), feedSchema).as("r"))
      .select(feedCols.map(c => col(s"r.$c")): _*)
      .withColumn(SrcRankCol, lit(1))
    val q = Stream.materialize(feed, keys, ordering = Seq("scn", SrcRankCol),
      statePath, checkpointDir, trigger, stateBuckets, tombstoneRetention)
    Handle(initial, q)
  }

  /** Snapshot-vs-stream provenance rank carried through the state (0 =
    * snapshot row, 1 = stream event) — the scn tiebreaker that makes the
    * handoff ordering total.
    */
  val SrcRankCol = "__src_rank"
}
