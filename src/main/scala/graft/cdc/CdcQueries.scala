package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** CDC operator family (SURVEY.md §2.1–2.2) as driver-contract queries
  * over the fixture tables, each with a DuckDB-equivalent oracle SQL.
  */
object CdcQueries {

  private val F = ChangeFeed

  /** Row payload schema used by the JSON envelope roundtrip. */
  private val payloadSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  /** Build a reference-shaped envelope DataFrame from the canonical feed:
    * before = payload for deletes (full before-image via SUPPLEMENTAL LOG
    * ALL, reference `scripts-db/set-up-orl.sql:216`), after = payload
    * otherwise.
    */
  def envelopeOf(feed: DataFrame): DataFrame = {
    val payload = struct(col("id"), col("event_type"), col("value"), col("props"))
    feed.select(
      when(col("op") === "d", payload).as("before"),
      when(col("op") =!= "d", payload).as("after"),
      col("op"),
      unix_millis(col("ts").cast(TimestampType)).as("ts_ms"),
      struct(
        col("scn"),
        col("id").cast("string").as("xid"),
        // ROWID passthrough (OLR emits `rid` as an opaque string,
        // scripts/OpenLogReplicator.json:21): deterministic ROWID-shaped
        // value derived from scn, mirrored in the rid_passthrough oracle
        concat(lit("AAAShYAAE"), lpad((col("scn") % 100000).cast("string"), 6, "0"))
          .as("rid"),
        lit("ORACLE").as("db"),
        lit("OLR_DB").as("schema"),
        lit("PRODUCT").as("table")
      ).as("source")
    )
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_scan" -> ((s, dir) =>
      F.fromEvents(s, dir)
        .select("scn", "id", "op", "ts", "event_type", "value", "props")
        .orderBy("scn")),

    "snapshot_scan" -> ((s, dir) =>
      Ops
        .snapshot(Tables(s, dir).customer.select("c_custkey", "c_name", "c_acctbal"), scn = 0L)
        .orderBy("c_custkey")),

    "table_filter" -> ((s, dir) =>
      F.fromEvents(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .select("scn", "id", "op", "event_type", "value")
        .orderBy("scn")),

    "envelope_parse" -> ((s, dir) => {
      // feed → envelope → JSON wire form → parse → flatten: the full
      // §3.1 serialize/deserialize path; output equals the plain feed.
      val raw = envelopeOf(graft.Engine.spread(F.fromEvents(s, dir), "scn"))
        .select(to_json(struct(col("*"))).as("value"))
      Ops
        .envelopeParse(raw, "value", payloadSchema)
        .select(
          coalesce(col("after.id"), col("before.id")).as("id"),
          coalesce(col("after.event_type"), col("before.event_type")).as("event_type"),
          coalesce(col("after.value"), col("before.value")).as("value"),
          coalesce(col("after.props"), col("before.props")).as("props"),
          col("op"),
          col("ts_ms"),
          col("source.scn").as("scn")
        )
        .orderBy("scn")
    }),

    "unwrap" -> ((s, dir) =>
      Ops
        .unwrap(envelopeOf(F.fromEvents(s, dir)))
        .select("id", "event_type", "value", "props", "__deleted", "scn", "op")
        .orderBy("scn")),

    "type_norm" -> ((s, dir) =>
      F.fromEvents(s, dir).select(
        col("scn"),
        col("id").cast("string").as("id_str"),
        col("value").cast(DecimalType(12, 2)).cast("string").as("value_str"),
        unix_millis(col("ts").cast(TimestampType)).as("ts_ms"),
        // unknown-type passthrough (OLR `"unknown":{"type":"string"}`,
        // scripts/OpenLogReplicator.json:25): types without a wire
        // mapping travel as their unmodified string form
        col("props").as("props_raw")
      ).orderBy("scn")),

    // ROWID through the full JSON envelope serialize→parse roundtrip
    // (rid populated in envelopeOf; OLR scripts/OpenLogReplicator.json:21)
    "rid_passthrough" -> ((s, dir) => {
      // spread first: the fixture parquet is single-row-group
      // (unsplittable), and the JSON serialize→parse roundtrip is the
      // CPU cost here — without repartition it runs on ONE task
      val raw = envelopeOf(graft.Engine.spread(F.fromEvents(s, dir), "scn"))
        .select(to_json(struct(col("*"))).as("value"))
      Ops
        .envelopeParse(raw, "value", payloadSchema)
        .select(
          col("source.scn").as("scn"),
          col("source.rid").as("rid"),
          col("op"))
        .orderBy("scn")
    }),

    "apply_changes" -> ((s, dir) =>
      Ops
        .applyChanges(F.fromEvents(s, dir), keys = Seq("id"), ordering = Seq("scn"))
        .select("id", "scn", "op", "ts", "event_type", "value", "props")
        .orderBy("id")),

    // DBLog/Debezium-style chunked incremental snapshot: the customer
    // base is "read" in 8 contiguous key-range chunks, each at a
    // different point of the live change stream, and watermark-merged
    // with the stream ([[Ops.chunkedSnapshot]]). The oracle is the PLAIN
    // snapshot-then-apply fold — equality IS the algorithm's contract
    // (chunking must be invisible in the final state).
    "snapshot_chunked" -> ((s, dir) => {
      val base = Ops.snapshot(
        Tables(s, dir).customer.select(
          col("c_custkey").as("id"),
          lit(null).cast("timestamp").as("ts"),
          lit("snapshot").as("event_type"),
          col("c_acctbal").as("value"),
          col("c_name").as("props")),
        scn = 0L).withColumn("scn", col("scn").cast("long"))
      Ops.chunkedSnapshot(base, F.fromEvents(s, dir),
          keyCol = "id", scnCol = "scn", opCol = "op", nChunks = 8)
        .select("id", "scn", "op", "ts", "event_type", "value", "props")
        .orderBy("id")
    }),

    // Debezium-style incremental snapshot END TO END through a LIVE
    // stream (round 9; the batch twin is `snapshot_chunked`): the chunk
    // READS of the base table become wire events (`chunkReadEvents` —
    // scn = chunk watermark, rank BELOW stream events at equal scn) and
    // simply arrive as extra micro-batch input to a running
    // `Stream.materialize` — the stream never stops, the last-write-wins
    // fold IS the watermark merge. Stream events land in the spool
    // first, chunk reads trickle in after (multiple AvailableNow
    // micro-batches via maxFilesPerTrigger), so reads really interleave
    // with already-applied changes. Oracle = the plain snapshot-fold
    // payload (chunking + streaming must be invisible); scn/op are
    // excluded from the compare because a read-won key legitimately
    // carries its restamped (wm, 'r') identity, not the base row's.
    "snapshot_while_streaming" -> ((s, dir) => {
      val base = Ops.snapshot(
        Tables(s, dir).customer.select(
          col("c_custkey").as("id"),
          lit(null).cast("timestamp").as("ts"),
          lit("snapshot").as("event_type"),
          col("c_acctbal").as("value"),
          col("c_name").as("props")),
        scn = 0L).withColumn("scn", col("scn").cast("long"))
      val feed = F.fromEvents(s, dir)
      val cols = Seq("id", "scn", "op", "ts", "event_type", "value", "props")
      val reads = Ops.chunkReadEvents(base, feed,
        keyCol = "id", scnCol = "scn", opCol = "op", nChunks = 8)
      val work = graft.Engine.scratchDir("graft-sws")
      val in = work.resolve("in").toString
      feed.select(cols.map(col): _*).write.mode("append").parquet(in)
      // repartition(1): the spool is the fixture's Kafka stand-in, and its
      // FILE COUNT only slices the demo into micro-batches — it is not a
      // scale surface (a cluster reads the real channel). r19: the spread
      // inside chunkStates leaves the reads aggregate at 32 partitions;
      // written as-is that is 32 spool files → one extra near-empty
      // micro-batch paying the full ~1.3 s fold fixed cost (measured;
      // OPTIMIZATION_r19.md §2). One file keeps the r18 batch slicing.
      reads.select(cols.map(col): _*).repartition(1).write.mode("append").parquet(in)
      val wire = s.readStream
        .schema(feed.select(cols.map(col): _*).schema)
        .option("maxFilesPerTrigger", 32)
        .parquet(in)
        .withColumn("__rank", when(col("op") === "r", 0L).otherwise(lit(1L)))
      val statePath = work.resolve("state").toString
      val q = Stream.materialize(wire, Seq("id"), ordering = Seq("scn", "__rank"),
        statePath, work.resolve("chk").toString)
      q.awaitTermination()
      Stream.readCurrentState(s, statePath)
        .select("id", "ts", "event_type", "value", "props")
        .orderBy("id")
    }),

    "txn_group" -> ((s, dir) =>
      Ops
        .txnGroup(
          F.fromEvents(s, dir).withColumn("xid", floor(col("scn") / 10).cast("long")),
          xidCol = "xid", scnCol = "scn", opCol = "op")
        // canonical string at the query boundary — the operator keeps the
        // typed array; the driver's pandas compare can't sort list cols.
        .withColumn("ops", array_join(col("ops"), ","))
        .orderBy("xid")),

    // Kafka-record routing: topic name + record key from the envelope
    // (README.md:805,841-842 — topic.prefix, pk.mode=record_key)
    "route_topic" -> ((s, dir) =>
      Ops.route(envelopeOf(F.fromEvents(s, dir)), "olr", keyFields = Seq("id"))
        .select(
          col("source.scn").as("scn"),
          col("topic"),
          col("key.id").as("key_id"),
          col("op"))
        .orderBy("scn")),

    // corrupt-record quarantine: every scn≡0 (mod 97) record's JSON is
    // deterministically truncated mid-document; the dead-letter parse
    // must route exactly those to 'dead' and parse the rest
    "envelope_deadletter" -> ((s, dir) => {
      val json = envelopeOf(graft.Engine.spread(F.fromEvents(s, dir), "scn"))
        .select(to_json(struct(col("*"))).as("value"), col("source.scn").as("scn0"))
      val corrupted = json.select(
        when(pmod(col("scn0"), lit(97)) === 0, substring(col("value"), 1, 10))
          .otherwise(col("value")).as("value"))
      Ops.parseWithDeadLetter(corrupted, "value", payloadSchema)
        .groupBy("status")
        .agg(count(lit(1)).as("n"))
        .orderBy("status")
    }),

    "agg_maxby" -> ((s, dir) =>
      F.fromEvents(s, dir)
        .groupBy(col("id"))
        .agg(
          max_by(col("event_type"), col("scn")).as("last_type"),
          max_by(col("value"), col("scn")).as("last_value"),
          max(col("scn")).as("last_scn"),
          count(lit(1)).as("n_events")
        )
        .orderBy("id")),

    "apply_scd2" -> ((s, dir) =>
      Ops
        .applyChangesScd2(F.fromEvents(s, dir), keys = Seq("id"), scnCol = "scn", opCol = "op")
        .select("id", "scn", "op", "value", "valid_from", "valid_to", "is_current")
        .orderBy("id", "scn")),

    "agg_udaf_latest" -> ((s, dir) =>
      // typed Aggregator surface (SURVEY §2.11): same semantics as
      // max_by/arg_max, via the user-defined-aggregate path.
      F.fromEvents(s, dir)
        .groupBy(col("id"))
        .agg(
          graft.functions.LatestBy.latest_by_scn(col("scn"), col("event_type"))
            .as("last_type"),
          count(lit(1)).as("n_events"))
        .orderBy("id")),

    "join_asof_native" -> ((s, dir) => {
      // same semantics as join_asof, through the custom LogicalPlan +
      // Strategy + merge-scan physical operator (graft.plans).
      val t = Tables(s, dir)
      graft.plans.AsOfJoinPlan
        .asOf(
          left = F.fromEvents(s, dir).select("scn", "id", "ts"),
          right = t.orders.select("o_custkey", "o_orderkey", "o_orderdate"),
          leftKey = "id", rightKey = "o_custkey",
          leftTs = "ts", rightTs = "o_orderdate",
          rightPayload = Seq("o_orderkey", "o_orderdate"),
          rightTieBreak = Seq("o_orderkey"))
        .select("scn", "id", "ts", "o_orderkey", "o_orderdate")
        .orderBy("scn")
    }),

    // two-schema feed through the auto.evolve seam (README.md:839): rows
    // below the scn midpoint arrive WITHOUT props (pre-DDL schema), the
    // rest with; by-name union null-backfills and apply_changes folds the
    // mixed feed. Streaming parity (materialize across a restart with the
    // widened schema) is proven in SchemaEvolveSpec.
    "schema_evolve_apply" -> ((s, dir) => {
      val f = F.fromEvents(s, dir)
      val th = f.agg(floor(max(col("scn")) / 2).cast("long").as("__th"))
      val tagged = f.join(broadcast(th))
      val v1 = tagged.filter(col("scn") < col("__th")).drop("__th", "props")
      val v2 = tagged.filter(col("scn") >= col("__th")).drop("__th")
      Ops.applyChanges(v1.unionByName(v2, allowMissingColumns = true),
          keys = Seq("id"), ordering = Seq("scn"))
        .select("id", "scn", "op", "ts", "event_type", "value", "props")
        .orderBy("id")
    }),

    // flashback / point-in-time state (scripts-db/set-up-orl.sql:228
    // FLASHBACK grant): state AS OF 3/4 of the scn range via the SCD2
    // history's validity intervals. stateAsOf(max scn) ≡ apply_changes
    // is asserted in ApplyChangesSpec.
    "state_asof" -> ((s, dir) => {
      val f = F.fromEvents(s, dir)
      val th = f.agg(floor(max(col("scn")) * 3 / 4).cast("long").as("__asof"))
      Ops.stateAsOf(f.join(broadcast(th)),
          keys = Seq("id"), scnCol = "scn", opCol = "op", asOf = col("__asof"))
        .select("id", "scn", "op", "ts", "event_type", "value", "props")
        .orderBy("id")
    }),

    // one mixed feed carrying two tables (reference: per-table topics
    // `prefix.SCHEMA.TABLE`, README.md:805) folded to per-table current
    // state — the batch twin of Stream.materializeMulti (streaming
    // fan-out + restart proven in StreamingSpec).
    "multi_table_apply" -> ((s, dir) => {
      val f = F.fromEvents(s, dir).withColumn("tbl",
        when(pmod(col("id"), lit(2)) === 0, "T_EVEN").otherwise("T_ODD"))
      Ops.applyChanges(f, keys = Seq("tbl", "id"), ordering = Seq("scn"))
        .select("tbl", "id", "scn", "op", "event_type", "value")
        .orderBy("tbl", "id")
    }),

    // incremental aggregate-view maintenance: history below the scn
    // midpoint is pre-folded into a state; the rest arrives as a delta
    // and the per-event_type view is updated by retraction (−old/+new),
    // never rescanning history. Oracle = the full recompute, so equality
    // IS the maintenance proof; the delta-only plan shape is asserted in
    // IncrementalAggSpec.
    "agg_incremental" -> ((s, dir) => {
      val f = F.fromEvents(s, dir)
      val th = f.agg(floor(max(col("scn")) / 2).cast("long").as("__th"))
      val tagged = f.join(broadcast(th))
      val hist = tagged.filter(col("scn") <= col("__th")).drop("__th")
      val delta = tagged.filter(col("scn") > col("__th")).drop("__th")
      val state0 = Ops.applyChanges(hist, keys = Seq("id"), ordering = Seq("scn"))
      Ops.incrementalAgg(state0, delta, keys = Seq("id"), ordering = Seq("scn"),
          groupCol = "event_type", valueCol = "value")
        .orderBy("event_type")
    }),

    "join_asof" -> ((s, dir) => {
      val t = Tables(s, dir)
      Ops
        .asOfJoin(
          left = F.fromEvents(s, dir).select("scn", "id", "ts"),
          right = t.orders.select("o_custkey", "o_orderkey", "o_orderdate"),
          leftKey = "id",
          rightKey = "o_custkey",
          leftTs = "ts",
          rightTs = "o_orderdate",
          rightPayload = Seq("o_orderkey", "o_orderdate"),
          rightOrd = Seq("o_orderdate", "o_orderkey")
        )
        .select("scn", "id", "ts", "o_orderkey", "o_orderdate")
        .orderBy("scn")
    }),

    // tolerance-bounded as-of join (round 16 — the pandas
    // merge_asof(tolerance=…) / kdb wj-window knob): enrich each change
    // event with the latest order AT MOST 9000 days old (the fixture's
    // feed-to-orders gap is decades — 9000d sits mid-distribution, so
    // both regimes are live: ~half the events match, half are too
    // stale); a staler match
    // is NO match (left semantics — the event row survives with null
    // enrichment). Equivalence to "latest among in-window rows" is
    // structural: the as-of match is the LATEST ≤ ts, so if IT is
    // stale every other candidate is staler — one filter on the plain
    // as-of result implements the bound, then a left join back to the
    // feed restores unmatched rows. The emitted age is exact BIGINT
    // epoch-ms arithmetic (never calendar datediff — engines disagree
    // on calendar semantics, not on integer µs). Costs the join_asof
    // plan + one key-join on the feed's unique scn.
    "join_asof_tol" -> ((s, dir) => {
      val t = Tables(s, dir)
      val feed = F.fromEvents(s, dir).select("scn", "id", "ts")
      val matched = Ops
        .asOfJoin(
          left = feed,
          right = t.orders.select("o_custkey", "o_orderkey", "o_orderdate"),
          leftKey = "id",
          rightKey = "o_custkey",
          leftTs = "ts",
          rightTs = "o_orderdate",
          rightPayload = Seq("o_orderkey", "o_orderdate"),
          rightOrd = Seq("o_orderdate", "o_orderkey")
        )
        .filter(col("o_orderdate") >= col("ts") - expr("INTERVAL 9000 DAYS"))
        .select(col("scn").as("mscn"), col("o_orderkey"),
          (unix_millis(col("ts").cast(TimestampType)) -
            unix_millis(col("o_orderdate").cast(TimestampType))).as("age_ms"))
      feed.join(matched, col("scn") === col("mscn"), "left")
        .select(col("scn"), col("id"), col("ts"), col("o_orderkey"), col("age_ms"))
        .orderBy("scn")
    }),

    // changed-column audit: per key, each update's before-image is
    // lag(payload) over scn (the envelope's `before` field IS this
    // window — SURVEY §2.6), and the audit row names exactly the columns
    // whose value changed. One key-shuffle for the window; the diff
    // itself is a pure null-safe projection (`<=>`), codegen-friendly.
    // The lag(scn) marker (never null in the feed) distinguishes "no
    // prior event" from "prior column was genuinely NULL".
    "change_diff" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy("scn")
      F.fromEvents(s, dir)
        .withColumn("p_scn", lag(col("scn"), 1).over(w))
        .withColumn("p_event_type", lag(col("event_type"), 1).over(w))
        .withColumn("p_value", lag(col("value"), 1).over(w))
        .withColumn("p_props", lag(col("props"), 1).over(w))
        .filter(col("op") === "u" && col("p_scn").isNotNull)
        // canonical string at the query boundary (round-1 rule, same as
        // agg_collect): the driver's pandas compare cannot sort list
        // columns, so the changed-column set is emitted comma-joined.
        .withColumn("changed", array_join(array_compact(array(
          when(!(col("event_type") <=> col("p_event_type")), lit("event_type")),
          when(!(col("value") <=> col("p_value")), lit("value")),
          when(!(col("props") <=> col("p_props")), lit("props")))), ","))
        .select("scn", "id", "changed")
        .orderBy("scn")
    }),

    // the full network transport boundary EXECUTED inside a correctness
    // row: feed slice → envelope wire lines → published to an embedded
    // OLR-shaped ChangeServer → drained over a LIVE 127.0.0.1 socket by
    // NetworkChannel (length-prefixed frames, position request, durable
    // spool, ack) → parsed back to typed envelopes. The slice is the
    // lowest 5000 scns (unique in the fixture) so the driver-side
    // publish stays CONSTANT as SF grows — the unbounded path is the
    // pump into the spool, which never touches the driver.
    "cdc_net_replay" -> ((s, dir) => {
      val slice = F.fromEvents(s, dir).orderBy("scn").limit(5000)
      val lines = envelopeOf(slice)
        .select(to_json(struct(col("*"))).as("j"))
        .collect().map(_.getString(0)).toSeq
      val server = new graft.sources.ChangeServer()
      try {
        server.publish(lines)
        val spool = graft.Engine.scratchDir("graft-net-spool").toString
        val chan = new graft.sources.NetworkChannel("127.0.0.1", server.boundPort, spool)
        try {
          val raw = chan.replay(s) // eager drain; the spool outlives the server
          Ops.envelopeParse(raw, "value", payloadSchema)
            .select(
              coalesce(col("after.id"), col("before.id")).as("id"),
              coalesce(col("after.event_type"), col("before.event_type")).as("event_type"),
              coalesce(col("after.value"), col("before.value")).as("value"),
              coalesce(col("after.props"), col("before.props")).as("props"),
              col("op"),
              col("ts_ms"),
              col("source.scn").as("scn"))
            .orderBy("scn")
        } finally chan.close()
      } finally server.close()
    }),

    // Replication checksum validation (round 15 — the pt-table-checksum
    // / sink-parity protocol every CDC deployment runs): the applied
    // state is summarized per key-bucket as (row count, order-
    // insensitive XOR of a canonical row serialization). The oracle
    // re-derives the SAME summary from an independent replay (window
    // argmax), so agreement end-to-end proves the apply fold — and at
    // 100 TB this is THE parity shape: constant-size output (≤64 rows),
    // one map-side-combinable aggregation, source and sink checksum
    // independently with zero row co-location. The canonical string
    // pins id, winning scn, op, event_type, exact-cents value
    // (decimal(18,2) renders identically cross-engine) and props; ts is
    // deliberately excluded (timestamp→string formatting is not a
    // cross-engine contract, and scn — the unique event id — already
    // pins the winning row's full payload). 56-bit md5 (the ngHash
    // idiom, llm/Sampling.hashBucket) keeps the XOR in portable BIGINT
    // range; XOR cancellation needs duplicate rows, and state rows are
    // unique per id by construction.
    "apply_verify" -> ((s, dir) => {
      val state = Ops.applyChanges(
        F.fromEvents(s, dir), keys = Seq("id"), ordering = Seq("scn"))
      Ops.bucketChecksum(state, "id",
        concat_ws("|", col("id"), col("scn"), col("op"), col("event_type"),
          col("value").cast("decimal(18,2)"), col("props")))
    }),

    // Incremental summary maintenance (round 15 — the at-scale half of
    // the parity protocol): the feed folds in three scn terciles, and
    // after the first full summary each batch updates it via
    // [[Ops.updateChecksum]] from the touched keys' before/after rows
    // alone — (count, XOR) is a commutative group and XOR is its own
    // inverse, so the update is O(batch), never an O(state) rescan
    // (the state transition itself is the sink's ordinary upsert; in
    // production that is Stream.foldBatch's O(delta) bucket rewrite).
    // SAME oracle as apply_verify: the incrementally-maintained summary
    // must equal the one-shot replay's bit-for-bit.
    "apply_verify_incr" -> ((s, dir) => {
      val rowStr = concat_ws("|", col("id"), col("scn"), col("op"),
        col("event_type"), col("value").cast("decimal(18,2)"), col("props"))
      val feed = F.fromEvents(s, dir)
      val m = feed.agg(max(col("scn"))).collect()(0).getLong(0)
      def part(lo: Long, hi: Long) = feed.filter(col("scn") > lo && col("scn") <= hi)
      // r19 (replaces the r18 localCheckpoint — VERDICT r18 #8 flagged
      // it: the state is corpus-scale and localCheckpoint stores
      // non-replicated executor-local blocks with truncated lineage).
      // The state AT each batch boundary is re-derived straight from
      // the feed prefix: applyChanges is a fold, so
      // fold(state_{i-1} ∪ batch_i) ≡ applyChanges(feed ≤ hi_i) — the
      // exact equivalence this id's oracle asserts. Each before/after
      // reference is then ONE scan+aggregate subtree with no chained
      // state lineage (the r18 un-materialized form re-evaluated the
      // CHAIN per reference — 13 scans; this is linear: 5 bounded
      // subtrees that all run concurrently), nothing is materialized,
      // and lineage is fully kept. In production the state between
      // batches is a durable table and before/after are pruned reads of
      // it; the updateChecksum dataflow — the thing this id verifies —
      // is identical either way, O(batch) summary maintenance.
      def stateAt(hi: Long) =
        Ops.applyChanges(part(-1L, hi), keys = Seq("id"), ordering = Seq("scn"))
      var summary = Ops.bucketChecksum(stateAt(m / 3), "id", rowStr)
      Seq((m / 3, 2 * m / 3), (2 * m / 3, m)).foreach { case (lo, hi) =>
        val touched = part(lo, hi).select("id").distinct()
        val before = stateAt(lo).join(touched, Seq("id"), "left_semi")
        val after = stateAt(hi).join(touched, Seq("id"), "left_semi")
        summary = Ops.updateChecksum(summary, before, after, "id", rowStr)
      }
      summary
    }),

    // Streaming twin of apply_verify (round 15): the change feed runs
    // through a LIVE multi-micro-batch `Stream.materialize` (plus one
    // REDELIVERED slice — duplicate rows are the at-least-once reality
    // the fold must absorb), and the parity summary is computed over
    // the STREAMED state. Shares apply_verify's oracle VERBATIM — equal
    // checksums prove the streamed upsert fold is row-identical to the
    // one-shot window replay, so the differential doubles as an
    // end-to-end exactly-once proof (the bm25_stream convention). This
    // is the shape a production CDC deployment actually runs: the sink
    // folds continuously, the checksummer audits the result against
    // the source's own summary.
    "stream_apply_verify" -> ((s, dir) => {
      val feed = F.fromEvents(s, dir)
      val cols = Seq("id", "scn", "op", "ts", "event_type", "value", "props")
      val work = graft.Engine.scratchDir("graft-sav")
      val in = work.resolve("in").toString
      feed.select(cols.map(col): _*).write.mode("append").parquet(in)
      // redelivered slice: every third event arrives twice
      feed.filter(col("scn") % 3 === 0)
        .select(cols.map(col): _*).write.mode("append").parquet(in)
      val wire = s.readStream
        .schema(feed.select(cols.map(col): _*).schema)
        .option("maxFilesPerTrigger", 16)
        .parquet(in)
      val statePath = work.resolve("state").toString
      val q = Stream.materialize(wire, Seq("id"), ordering = Seq("scn"),
        statePath, work.resolve("chk").toString)
      q.awaitTermination()
      Ops.bucketChecksum(Stream.readCurrentState(s, statePath), "id",
        concat_ws("|", col("id"), col("scn"), col("op"), col("event_type"),
          col("value").cast("decimal(18,2)"), col("props")))
    }),

    // batch twin of stream-static enrichment (Stream.enrichWithDim runs
    // the SAME join shape per micro-batch; StreamingSpec asserts row
    // parity): the change feed joins a broadcast dimension on the key.
    // At 100 TB the dim side is the small one by construction (it's a
    // dimension) — broadcast is the plan to want, no stream-side shuffle.
    "stream_enrich" -> ((s, dir) => {
      val dim = Tables(s, dir).customer
        .select(col("c_custkey").as("id"), col("c_mktsegment"))
      F.fromEvents(s, dir)
        .join(broadcast(dim), Seq("id"))
        .select("scn", "id", "c_mktsegment", "event_type", "value")
        .orderBy("scn")
    })
  )

  private val feedCte = ChangeFeed.sqlCte

  def oracleSql: Map[String, String] = Map(
    "cdc_scan" ->
      s"$feedCte SELECT scn, id, op, ts, event_type, value, props FROM feed ORDER BY scn",
    "snapshot_scan" ->
      """SELECT c_custkey, c_name, c_acctbal, 'r' AS op, CAST(0 AS BIGINT) AS scn
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "table_filter" ->
      s"""$feedCte SELECT scn, id, op, event_type, value FROM feed
         |WHERE event_type IN ('click','view') ORDER BY scn""".stripMargin,
    "envelope_parse" ->
      s"""$feedCte SELECT id, event_type, value, props, op, epoch_ms(ts) AS ts_ms, scn
         |FROM feed ORDER BY scn""".stripMargin,
    "cdc_net_replay" ->
      s"""$feedCte SELECT id, event_type, value, props, op, epoch_ms(ts) AS ts_ms, scn
         |FROM (SELECT * FROM feed ORDER BY scn LIMIT 5000) ORDER BY scn""".stripMargin,
    "unwrap" ->
      s"""$feedCte SELECT id, event_type, value, props,
         |  CASE WHEN op = 'd' THEN 'true' ELSE 'false' END AS __deleted, scn, op
         |FROM feed ORDER BY scn""".stripMargin,
    "type_norm" ->
      s"""$feedCte SELECT scn, CAST(id AS VARCHAR) AS id_str,
         |  CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) AS value_str,
         |  epoch_ms(ts) AS ts_ms, props AS props_raw
         |FROM feed ORDER BY scn""".stripMargin,
    "rid_passthrough" ->
      s"""$feedCte SELECT scn,
         |  'AAAShYAAE' || lpad(CAST(scn % 100000 AS VARCHAR), 6, '0') AS rid, op
         |FROM feed ORDER BY scn""".stripMargin,
    "apply_changes" ->
      s"""$feedCte SELECT id, scn, op, ts, event_type, value, props FROM (
         |  SELECT f.*, row_number() OVER (PARTITION BY id ORDER BY scn DESC) AS rn FROM feed f
         |) WHERE rn = 1 AND op <> 'd' ORDER BY id""".stripMargin,
    "snapshot_chunked" ->
      s"""$feedCte, base AS (
         |  SELECT c_custkey AS id, CAST(0 AS BIGINT) AS scn, 'r' AS op,
         |         CAST(NULL AS TIMESTAMP) AS ts, 'snapshot' AS event_type,
         |         c_acctbal AS value, c_name AS props
         |  FROM customer),
         |all_rows AS (
         |  SELECT id, scn, op, ts, event_type, value, props FROM base
         |  UNION ALL
         |  SELECT id, scn, op, ts, event_type, value, props FROM feed)
         |SELECT id, scn, op, ts, event_type, value, props FROM (
         |  SELECT a.*, row_number() OVER (PARTITION BY id
         |    ORDER BY scn DESC, (op <> 'r') DESC) AS rn
         |  FROM all_rows a)
         |WHERE rn = 1 AND op <> 'd' ORDER BY id""".stripMargin,
    "snapshot_while_streaming" ->
      s"""$feedCte, base AS (
         |  SELECT c_custkey AS id, CAST(0 AS BIGINT) AS scn, 'r' AS op,
         |         CAST(NULL AS TIMESTAMP) AS ts, 'snapshot' AS event_type,
         |         c_acctbal AS value, c_name AS props
         |  FROM customer),
         |all_rows AS (
         |  SELECT id, scn, op, ts, event_type, value, props FROM base
         |  UNION ALL
         |  SELECT id, scn, op, ts, event_type, value, props FROM feed)
         |SELECT id, ts, event_type, value, props FROM (
         |  SELECT a.*, row_number() OVER (PARTITION BY id
         |    ORDER BY scn DESC, (op <> 'r') DESC) AS rn
         |  FROM all_rows a)
         |WHERE rn = 1 AND op <> 'd' ORDER BY id""".stripMargin,
    "txn_group" ->
      s"""$feedCte SELECT CAST(floor(scn/10) AS BIGINT) AS xid, count(*) AS n_events,
         |  min(scn) AS first_scn, max(scn) AS last_scn,
         |  array_to_string(list_sort(list(op)), ',') AS ops
         |FROM feed GROUP BY 1 ORDER BY xid""".stripMargin,
    "route_topic" ->
      s"""$feedCte SELECT scn, 'olr.OLR_DB.PRODUCT' AS topic, id AS key_id, op
         |FROM feed ORDER BY scn""".stripMargin,
    "envelope_deadletter" ->
      s"""$feedCte SELECT CASE WHEN scn % 97 = 0 THEN 'dead' ELSE 'ok' END AS status,
         |  count(*) AS n
         |FROM feed GROUP BY 1 ORDER BY status""".stripMargin,
    "agg_maxby" ->
      s"""$feedCte SELECT id, arg_max(event_type, scn) AS last_type,
         |  arg_max(value, scn) AS last_value, max(scn) AS last_scn, count(*) AS n_events
         |FROM feed GROUP BY id ORDER BY id""".stripMargin,
    "apply_scd2" ->
      s"""$feedCte SELECT id, scn, op, value, scn AS valid_from,
         |  lead(scn) OVER (PARTITION BY id ORDER BY scn) AS valid_to,
         |  (lead(scn) OVER (PARTITION BY id ORDER BY scn) IS NULL AND op <> 'd') AS is_current
         |FROM feed ORDER BY id, scn""".stripMargin,
    "agg_udaf_latest" ->
      s"""$feedCte SELECT id, arg_max(event_type, scn) AS last_type, count(*) AS n_events
         |FROM feed GROUP BY id ORDER BY id""".stripMargin,
    "join_asof_native" ->
      s"""$feedCte SELECT scn, id, ts, o_orderkey, o_orderdate FROM (
         |  SELECT f.scn, f.id, f.ts, o.o_orderkey, o.o_orderdate,
         |         row_number() OVER (PARTITION BY f.scn
         |                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
         |  FROM feed f JOIN orders o
         |    ON o.o_custkey = f.id AND o.o_orderdate <= f.ts
         |) WHERE rn = 1 ORDER BY scn""".stripMargin,
    "schema_evolve_apply" ->
      s"""$feedCte, evolved AS (
         |  SELECT scn, id, op, ts, event_type, value,
         |    CASE WHEN scn < (SELECT CAST(floor(max(scn) / 2) AS BIGINT) FROM feed)
         |         THEN NULL ELSE props END AS props
         |  FROM feed
         |)
         |SELECT id, scn, op, ts, event_type, value, props FROM (
         |  SELECT e.*, row_number() OVER (PARTITION BY id ORDER BY scn DESC) AS rn
         |  FROM evolved e
         |) WHERE rn = 1 AND op <> 'd' ORDER BY id""".stripMargin,
    "state_asof" ->
      s"""$feedCte SELECT id, scn, op, ts, event_type, value, props FROM (
         |  SELECT f.*, row_number() OVER (PARTITION BY id ORDER BY scn DESC) AS rn
         |  FROM feed f
         |  WHERE scn <= (SELECT CAST(floor(max(scn) * 3 / 4) AS BIGINT) FROM feed)
         |) WHERE rn = 1 AND op <> 'd' ORDER BY id""".stripMargin,
    "multi_table_apply" ->
      s"""$feedCte SELECT tbl, id, scn, op, event_type, value FROM (
         |  SELECT f.*, CASE WHEN id % 2 = 0 THEN 'T_EVEN' ELSE 'T_ODD' END AS tbl,
         |         row_number() OVER (PARTITION BY id ORDER BY scn DESC) AS rn
         |  FROM feed f
         |) WHERE rn = 1 AND op <> 'd' ORDER BY tbl, id""".stripMargin,
    "agg_incremental" ->
      s"""$feedCte SELECT event_type, count(*) AS cnt,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         |FROM (
         |  SELECT f.*, row_number() OVER (PARTITION BY id ORDER BY scn DESC) AS rn
         |  FROM feed f
         |) WHERE rn = 1 AND op <> 'd' GROUP BY event_type ORDER BY event_type""".stripMargin,
    "join_asof" ->
      s"""$feedCte SELECT scn, id, ts, o_orderkey, o_orderdate FROM (
         |  SELECT f.scn, f.id, f.ts, o.o_orderkey, o.o_orderdate,
         |         row_number() OVER (PARTITION BY f.scn
         |                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
         |  FROM feed f JOIN orders o
         |    ON o.o_custkey = f.id AND o.o_orderdate <= f.ts
         |) WHERE rn = 1 ORDER BY scn""".stripMargin,
    // latest match within the 9000-day tolerance window (wide enough
    // that the fixture exercises BOTH matched and tolerance-expired
    // rows), LEFT semantics; age in exact epoch-ms integers
    "join_asof_tol" ->
      s"""$feedCte SELECT scn, id, ts, o_orderkey, age_ms FROM (
         |  SELECT f.scn, f.id, f.ts, o.o_orderkey,
         |         CAST(epoch_ms(f.ts) - epoch_ms(o.o_orderdate) AS BIGINT) AS age_ms,
         |         row_number() OVER (PARTITION BY f.scn
         |                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
         |  FROM feed f LEFT JOIN orders o
         |    ON o.o_custkey = f.id AND o.o_orderdate <= f.ts
         |   AND o.o_orderdate >= f.ts - INTERVAL 9000 DAY
         |) WHERE rn = 1 ORDER BY scn""".stripMargin,
    "change_diff" ->
      s"""$feedCte, d AS (
         |  SELECT scn, id, op, event_type, value, props,
         |    lag(scn) OVER w AS p_scn,
         |    lag(event_type) OVER w AS p_event_type,
         |    lag(value) OVER w AS p_value,
         |    lag(props) OVER w AS p_props
         |  FROM feed WINDOW w AS (PARTITION BY id ORDER BY scn))
         |SELECT scn, id,
         |  array_to_string(list_filter([
         |    CASE WHEN event_type IS DISTINCT FROM p_event_type THEN 'event_type' END,
         |    CASE WHEN value IS DISTINCT FROM p_value THEN 'value' END,
         |    CASE WHEN props IS DISTINCT FROM p_props THEN 'props' END],
         |    x -> x IS NOT NULL), ',') AS changed
         |FROM d WHERE op = 'u' AND p_scn IS NOT NULL ORDER BY scn""".stripMargin,
    "stream_enrich" ->
      s"""$feedCte SELECT scn, f.id AS id, c_mktsegment, event_type, value
         |FROM feed f JOIN customer c ON f.id = c.c_custkey ORDER BY scn""".stripMargin,
    // independent replay (window argmax) → same canonical row string,
    // 56-bit md5, per-bucket count + XOR — mirrors apply_verify exactly
    "apply_verify" -> applyVerifyOracle,
    // SAME oracle: the streamed fold must checksum identically to the
    // one-shot replay (redelivered slice absorbed) — exactly-once proof
    "stream_apply_verify" -> applyVerifyOracle,
    // SAME oracle: the incrementally-maintained summary (XOR-group
    // before/after updates, O(batch)) must equal the one-shot replay
    "apply_verify_incr" -> applyVerifyOracle
  )

  private lazy val applyVerifyOracle: String =
    s"""$feedCte, st AS (
       |  SELECT id, scn, op, event_type, value, props FROM (
       |    SELECT f.*, row_number() OVER (PARTITION BY id ORDER BY scn DESC) AS rn FROM feed f
       |  ) WHERE rn = 1 AND op <> 'd'),
       |h AS (
       |  SELECT id % 64 AS bucket,
       |    CAST('0x' || substring(md5(concat_ws('|', id, scn, op, event_type,
       |      CAST(value AS DECIMAL(18,2)), props)), 1, 14) AS BIGINT) AS h
       |  FROM st)
       |SELECT bucket, count(*) AS n_rows, bit_xor(h) AS checksum
       |FROM h GROUP BY bucket ORDER BY bucket""".stripMargin
}
