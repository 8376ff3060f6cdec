package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, Tables}
import graft.store.Store

/** Embedding similarity search (SURVEY.md §2.12) over
  * `embeddings(vec_id, embedding: array<float>, label)`.
  *
  * Two paths, both pure codegen-friendly expressions (`zip_with` +
  * `aggregate` — no UDFs, no driver-side math):
  *  - brute-force cosine top-k: exact baseline. The query set is tiny and
  *    broadcast; the candidate side streams — one pass over the corpus,
  *    no shuffle of the embedding column beyond the top-k aggregation.
  *  - LSH-bucketed ANN (random hyperplanes): the 100 TB path. Signatures
  *    are H sign-bits of fixed random projections; the join is a
  *    key-shuffle on (probe bucket), touching only colliding buckets.
  *
  * Float results are order-sensitive, so these query ids carry no DuckDB
  * hash oracle (rows-only driver check); exactness is asserted in
  * `SimilaritySpec` against an independent in-JVM computation.
  */
object VectorOps {

  /** Cosine similarity between two array<float> columns, accumulated in
    * double in array order (deterministic for a given pair).
    */
  def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (u, v) => u.cast("double") * v.cast("double")),
        lit(0.0), (acc, z) => acc + z)
    dot(a, b) / sqrt(dot(a, a)) / sqrt(dot(b, b))
  }

  /** Native codegen'd Catalyst expression (bit-identical to
    * [[cosineHof]]; see graft.functions.CosineSimilarity).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosine_sim(a, b)

  /** Deterministic pseudo-random hyperplanes: H planes × dim coefficients
    * in [-1, 1), generated from a fixed-seed JVM RNG at plan time (tiny
    * literal array — ships with the plan, not the data).
    */
  def hyperplanes(h: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(h, dim)(rng.nextDouble() * 2 - 1)
  }

  /** Embedding dimensionality probed from the data (one single-row job).
    * The LSH plane width MUST match the real dim: `zip_with` pads the
    * shorter side with nulls, a null product nulls the whole dot, and
    * `when(dot >= 0, ...)` maps null to "0" — so a wrong hardcoded dim
    * would silently put EVERY vector in the all-zeros bucket of every
    * table, degrading the candidate join to an all-pairs blowup with no
    * error raised.
    */
  private def probeDim(emb: DataFrame): Int = {
    val head = emb.select(size(col("embedding")).as("d")).head(1)
    require(head.nonEmpty, "cannot probe embedding dim of an empty table")
    head(0).getInt(0)
  }

  /** LSH bucket id: the H sign bits of plane·embedding as a bit-string. */
  def lshBucket(emb: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.map { plane =>
      val planeCol = array(plane.map(lit): _*)
      val dot = aggregate(zip_with(emb, planeCol, (x, p) => x.cast("double") * p),
        lit(0.0), (acc, z) => acc + z)
      when(dot >= 0, "1").otherwise("0")
    }
    concat(bits: _*)
  }

  private def topkPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id"))
    scored
      // long rank: Spark row_number is INT, DuckDB's is BIGINT — the
      // driver compares dtypes, so emit the wider type on both sides
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "c_id", "cos")
      .orderBy("q_id", "rank")
  }

  /** Brute-force exact top-k: broadcast the query set, scan the corpus. */
  def simTopK(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(emb.sparkSession)
    val q = broadcast(
      emb.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")))
    val c = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val scored = q.join(c, col("q_id") =!= col("c_id"))
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
    topkPerQuery(scored, k)
  }

  /** Per-table sign-bit bucket assignment (vec_id, t, bucket) for the
    * whole corpus — the LSH INDEX. One narrow projection; the embedding
    * column is deliberately NOT carried (consumers re-join it only for
    * the rows they actually score).
    */
  private def signBuckets(emb: DataFrame, h: Int, tables: Int): DataFrame = {
    val dim = probeDim(emb)
    val planes = hyperplanes(h * tables, dim)
    val bucketCols = (0 until tables).map { t =>
      lshBucket(col("embedding"), planes.slice(t * h, (t + 1) * h))
    }
    emb.select(col("vec_id"),
      posexplode(array(bucketCols: _*)).as(Seq("t", "bucket")))
  }

  /** A prebuilt sign-LSH corpus index WITH its generation parameters:
    * consumers `require` the parameters match their own so a mismatched
    * index (different plane family/width → silently different buckets
    * and recall) is an error at plan build, not quiet result drift.
    */
  final case class LshIndex(buckets: DataFrame, h: Int, tables: Int)

  private val bucketCache = Memo.slot[(String, Int, Int), LshIndex]("VectorOps.bucketCache")

  /** Memoized per-corpus LSH index, keyed (session, dir, h, tables) —
    * the same write-once cost model as [[NearDedup.shingled]] and
    * [[ivfModel]]: a production vector store computes sign-bit
    * signatures ONCE at ingest (they are the index), and every query
    * probes them. The first query over a corpus carries the build
    * (visible in Bench's first_run_total); footprint is corpus-rows × L
    * narrow rows, spilled via MEMORY_AND_DISK. Same documented
    * limitation as shingleCache: fixture dirs are immutable by contract,
    * so the key omits a snapshot version; dead sessions are evicted on
    * every access.
    */
  /** The exact plane family each memoized corpus index was built with,
    * keyed (dir, h, tables) — captured so [[lshOracle]] can embed it in
    * the dumped oracle SQL (the ann_ivf centroid-embedding path; planes
    * are seed-42 deterministic given dim, but dim is data-probed and
    * the oracle builder has no data access).
    */
  private val lshPlaneCache = Memo.shared[(String, Int, Int), Array[Array[Double]]]("VectorOps.lshPlaneCache")

  private[llm] def corpusBuckets(s: SparkSession, dir: String,
      h: Int, tables: Int): LshIndex = {
    bucketCache(s, (dir, h, tables)) {
      val emb = Tables(s, dir).embeddings
      lshPlaneCache((dir, h, tables))(hyperplanes(h * tables, probeDim(emb)))
      LshIndex(signBuckets(emb, h, tables)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), h, tables)
    }
  }

  /** ANN via multi-table LSH: L independent tables of h sign-bits each;
    * a pair is a candidate if it collides in ANY table (recall
    * ≈ 1-(1-p^h)^L), and only candidates are cosine-scored. Per-table
    * bucket join is a key-shuffle on (table, bucket) — the corpus is
    * never all-pairs scanned, which is the property that matters at
    * 100 TB / billions of vectors. `index` lets a caller supply the
    * memoized corpus index ([[corpusBuckets]]) — its parameters are
    * `require`d to match; omitted, the assignment is computed inline
    * (the spec path — identical plan, same planes).
    */
  def annTopK(emb: DataFrame, queryIds: Seq[Long], k: Int, h: Int = 4, tables: Int = 8,
      index: Option[LshIndex] = None): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(emb.sparkSession)
    index.foreach(i => require(i.h == h && i.tables == tables,
      s"LSH index (h=${i.h}, tables=${i.tables}) does not match query (h=$h, tables=$tables)"))
    val withBuckets = index.map(_.buckets).getOrElse(signBuckets(emb, h, tables))
    // the vec_id prune applies to the BUCKET side before the q_emb join:
    // inline it pushes below the bucket projection (only the |q| query
    // rows pay the h·L dot products on this subtree); on the memoized
    // path it is a narrow filter over the persisted index
    val q = broadcast(
      withBuckets.filter(col("vec_id").isin(queryIds: _*))
        .join(emb.filter(col("vec_id").isin(queryIds: _*))
          .select(col("vec_id"), col("embedding").as("q_emb")), Seq("vec_id"))
        .select(col("vec_id").as("q_id"), col("q_emb"), col("t"), col("bucket")))
    val c = withBuckets.select(col("vec_id").as("c_id"), col("t"), col("bucket"))
    // union of per-table collisions, deduped BEFORE the expensive scoring
    val pairs = q.join(c, Seq("t", "bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .groupBy("q_id", "c_id")
      .agg(first(col("q_emb")).as("q_emb"))
    val scored = pairs
      .join(emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb")), "c_id")
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
    topkPerQuery(scored, k)
  }

  /** Embedding-cosine near-dup: ALL-corpus candidate pairs from
    * multi-table LSH bucket collisions (no query set — the dedup use),
    * scored with the native cosine expression, kept above `threshold`.
    * Same no-all-pairs property as the text MinHash pipeline.
    */
  def embedNearDup(emb: DataFrame, threshold: Double, h: Int = 6, tables: Int = 4,
      maxBucket: Int = 10000, index: Option[LshIndex] = None): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(emb.sparkSession)
    index.foreach(i => require(i.h == h && i.tables == tables,
      s"LSH index (h=${i.h}, tables=${i.tables}) does not match query (h=$h, tables=$tables)"))
    val withBuckets = index.map(_.buckets).getOrElse(signBuckets(emb, h, tables))
    // `maxBucket` is the 100 TB skew guard: one dense cluster (near-dup
    // corpora have exactly that) would otherwise make a single task hold
    // a giant id array and emit O(k²) pairs. Oversized buckets are
    // dropped — standard LSH practice; their members still pair up in
    // the other `tables - 1` independent tables unless they are dense
    // EVERYWHERE, i.e. true mass-duplicates better handled by exact dedup.
    val pairs = withBuckets
      .groupBy("t", "bucket")
      .agg(sort_array(collect_list(col("vec_id"))).as("vs"))
      .filter(size(col("vs")) > 1 && size(col("vs")) <= maxBucket)
      .select(posexplode(col("vs")).as(Seq("i", "v1")), col("vs"))
      .select(col("v1"), explode(slice(col("vs"), col("i") + 2, size(col("vs")))).as("v2"))
      .distinct()
    pairs
      .join(emb.select(col("vec_id").as("v1"), col("embedding").as("e1")), "v1")
      .join(emb.select(col("vec_id").as("v2"), col("embedding").as("e2")), "v2")
      .withColumn("cos", cosine(col("e1"), col("e2")))
      .filter(col("cos") >= threshold)
      .select("v1", "v2", "cos")
      .orderBy("v1", "v2")
  }

  /** SemDeDup-style semantic dedup core (the "cluster, then prune
    * near-identical neighbors within each cluster" pass of
    * embedding-curated corpora; see the public SemDeDup description —
    * k-means partition + intra-cluster cosine pruning). `assigned` is a
    * (vec_id, embedding, cell) frame — for the fixture corpus that is the
    * memoized IVF cell assignment ([[ivfAssigned]]), i.e. the SAME
    * quantizer the ANN index already maintains, so semantic dedup rides
    * an index the pipeline has anyway.
    *
    * Keeper rule (true greedy, SemDeDup's): scan each cell's members in
    * vec_id order; a vector is KEPT iff no already-KEPT smaller-id
    * member is near-identical (cosine >= threshold), else dropped. A
    * dropped vector can never drop anyone — so in a chain a~b, b~c with
    * cos(a,c) < threshold, only b drops: every dropped vector has a
    * SURVIVING representative within threshold (the invariant the naive
    * "any smaller-id neighbor" pairwise rule violates on chains).
    * Cross-cell near-dups are NOT seen — the documented SemDeDup
    * approximation (the quantizer puts near-identical vectors in one
    * cell with overwhelming probability; the miss rate is the price of
    * never running all-pairs).
    *
    * Hot cells are SPLIT, not skipped: a cell over `maxCell` is
    * sub-divided by residual rank sub-quantization — its members'
    * SECOND-nearest centroid id (then third) from the optional `__sub`
    * column (ranks 2..3, see [[ivfCellRanks]]); near-identical vectors
    * agree on their whole centroid-distance ranking with the same
    * overwhelming probability that put them in one cell, so dup pairs
    * inside a mega-cell still land in one sub-group and still prune. A
    * group that is STILL oversized after both levels (or lacks `__sub`)
    * falls back to hash-segmenting into ceil(n/maxCell) bounded slices —
    * capped pruning (cross-slice pairs missed) rather than no pruning.
    *
    * Scale shape: the greedy scan runs per final group in ONE task with
    * every group ≤ ~maxCell members (2.5 MB at dim 64) and O(|group|²·d)
    * flops bounded by the cell-count choice (k ≈ n/target keeps cells
    * constant-sized → linear total). One full-data shuffle (the
    * group-by-key); the three split-level size checks shuffle only
    * (key, count) partials and broadcast the tiny oversized-key set
    * back. No driver-side collect anywhere.
    */
  /** The hot-cell split: assign every row a final group key `__grp` —
    * the cell id refined by residual ranks (levels 1–2) for groups over
    * `maxCell`, with a hash-segment fallback for groups still oversized
    * (see [[semDedupCore]]'s scaladoc for the recall argument). Shared
    * by the batch core and the incremental admission so a vector lands
    * in the same group either way.
    */
  private def splitGrp(assigned: DataFrame, maxCell: Int): DataFrame = {
    val withSub = if (assigned.columns.contains("__sub")) assigned
      else assigned.withColumn("__sub", array())
    // Fast path (r19): when NO cell exceeds the cap — the common case by
    // construction (the cell count is chosen to keep populations ~2048,
    // 5× under maxCell) and always true on the fixtures — the three
    // refinement rounds below are a no-op that still costs three
    // count-rounds plus three broadcast joins per run. One bounded
    // (cell, count) aggregate decides; the collect is ≤1 row. The split
    // machinery runs only when a hot cell actually exists.
    val maxN = withSub.groupBy("cell").agg(count(lit(1)).as("__n"))
      .agg(max(col("__n"))).collect()(0)
    if (maxN.isNullAt(0) || maxN.getLong(0) <= maxCell)
      return withSub.withColumn("__grp", col("cell").cast("string"))
    var df = withSub.withColumn("__grp", col("cell").cast("string"))
    for (lvl <- 1 to 2) {
      // refine ONLY groups currently over the cap: append the next
      // residual rank (null-safe: a short/absent rank list degenerates
      // to one sub-key and the segment fallback below still bounds it)
      val over = df.groupBy("__grp").agg(count(lit(1)).as("__n"))
        .filter(col("__n") > maxCell).select(col("__grp"), lit(true).as("__over"))
      df = df.join(broadcast(over), Seq("__grp"), "left")
        .withColumn("__grp", when(col("__over"),
          concat_ws("/", col("__grp"),
            coalesce(try_element_at(col("__sub"), lit(lvl)).cast("string"), lit("x"))))
          .otherwise(col("__grp")))
        .drop("__over")
    }
    val still = df.groupBy("__grp").agg(count(lit(1)).as("__n")).filter(col("__n") > maxCell)
    df.join(broadcast(still), Seq("__grp"), "left")
      .withColumn("__grp", when(col("__n").isNotNull,
        concat_ws("/", col("__grp"),
          pmod(xxhash64(col("vec_id")),
            ceil(col("__n") / lit(maxCell.toDouble)).cast("long")).cast("string")))
        .otherwise(col("__grp")))
      .drop("__n")
  }

  /** Normalize a float vector to a unit double array (greedy-scan prep). */
  private def unitVec(e: Seq[Float]): Array[Double] = {
    val v = new Array[Double](e.length)
    var i = 0; var n2 = 0.0
    while (i < e.length) { v(i) = e(i).toDouble; n2 += v(i) * v(i); i += 1 }
    val inv = if (n2 == 0.0) 0.0 else 1.0 / math.sqrt(n2)
    i = 0; while (i < v.length) { v(i) *= inv; i += 1 }
    v
  }

  private def cosGE(u: Array[Double], v: Array[Double], t: Double): Boolean = {
    var d = 0.0; var j = 0
    while (j < u.length && j < v.length) { d += u(j) * v(j); j += 1 }
    d >= t
  }

  private[llm] def semDedupCore(assigned: DataFrame, threshold: Double,
      maxCell: Int = 10000): DataFrame = {
    val s = assigned.sparkSession
    import s.implicits._
    splitGrp(assigned, maxCell)
      .select(col("__grp"), col("vec_id"), col("embedding").cast("array<float>"),
        col("cell").cast("int"))
      .groupByKey(_.getString(0))
      .flatMapGroups { (_, it) =>
        val rows = it.map(r => (r.getLong(1), r.getSeq[Float](2), r.getInt(3)))
          .toArray.sortBy(_._1)
        val keptVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
        rows.foreach { case (id, e, cell) =>
          val v = unitVec(e)
          if (!keptVecs.exists(u => cosGE(u, v, threshold))) {
            keptVecs += v; out += ((id, cell))
          }
        }
        out.iterator
      }
      .toDF("vec_id", "cell")
  }

  /** Incremental SemDeDup admission — the embedding-space twin of
    * [[NearDedup.admitBatch]] (round-9 verdict ask #4): a new batch of
    * vectors is admitted against the KEEPER state (previously admitted
    * vectors with their cell assignments), without rescanning the
    * corpus. Batch rows land in the same (split) group a batch run
    * would put them in ([[splitGrp]] over state ∪ batch — the split
    * decision re-derives from current counts, so a cell that grew hot
    * since bootstrap starts splitting exactly like the batch core);
    * inside each group ONE bounded task seeds the greedy keeper set
    * with the state's vectors (pre-admitted — never re-judged, the
    * state-stability invariant) and admits new vectors in ascending
    * vec_id order against state + earlier-admitted keepers.
    *
    * Only groups the batch TOUCHES are scanned: the state is
    * semi-joined on the batch's cell set first, so per-batch cost is
    * O(|batch| + keepers-in-touched-cells), not state-sized.
    *
    * Documented divergence (inherent to every streaming dedup, same as
    * [[NearDedup.admitBatch]]'s): a new vector whose only near-dup was
    * REJECTED earlier is admitted — the state holds survivors only.
    */
  private[llm] def semDedupAdmit(batch: DataFrame, state: DataFrame,
      threshold: Double, maxCell: Int = 10000): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    val touched = batch.select("cell").distinct()
    val cols = Seq("vec_id", "embedding", "cell", "__sub")
    val u = state.join(broadcast(touched), "cell").select(cols.map(col): _*)
      .withColumn("__new", lit(false))
      .unionByName(batch.select(cols.map(col): _*).withColumn("__new", lit(true)))
    splitGrp(u, maxCell)
      .select(col("__grp"), col("vec_id"), col("embedding").cast("array<float>"),
        col("cell").cast("int"), col("__new"))
      .groupByKey(_.getString(0))
      .flatMapGroups { (_, it) =>
        val rows = it.map(r => (r.getLong(1), r.getSeq[Float](2), r.getInt(3), r.getBoolean(4)))
          .toArray.sortBy(r => (r._4, r._1)) // state first, then id order
        val keptVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
        rows.foreach { case (id, e, cell, isNew) =>
          val v = unitVec(e)
          if (!isNew) keptVecs += v // pre-admitted state keeper
          else if (!keptVecs.exists(u0 => cosGE(u0, v, threshold))) {
            keptVecs += v; out += ((id, cell))
          }
        }
        out.iterator
      }
      .toDF("vec_id", "cell")
      .localCheckpoint()
  }

  /** One micro-batch of the streaming semantic-dedup sink — the
    * embedding twin of [[NearDedup.admitBatchToState]]: assign
    * `batchEmb` (vec_id, embedding) with the FIXED quantizer
    * `centroids` (the index-build-time model; stable across batches
    * and restarts by contract), admit against the keeper state at
    * `stateDir`, append admitted rows. Exactly-once under redelivery
    * by the same id guard: vec_ids already in the state are dropped
    * before admission, and a replayed not-yet-appended batch re-admits
    * to identical verdicts (deterministic greedy).
    */
  def semAdmitToState(batchEmb: DataFrame, stateDir: String,
      centroids: Array[Array[Double]], threshold: Double,
      maxCell: Int = 10000): Unit = {
    val spark = batchEmb.sparkSession
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val assigned = batchEmb.select(col("vec_id"),
      col("embedding").cast("array<float>").as("embedding"),
      ivfCell(col("embedding"), centroids).as("cell"),
      ivfCellRanks(col("embedding"), centroids, ranks = 3).as("__sub"))
    val state =
      if (fs.exists(root)) spark.read.parquet(stateDir)
      else assigned.limit(0)
    val fresh = assigned.join(state.select("vec_id"), Seq("vec_id"), "left_anti")
    val admitted = semDedupAdmit(fresh, state, threshold, maxCell) // eager
    if (!admitted.isEmpty) {
      fresh.join(admitted.select("vec_id"), "vec_id")
        .select("vec_id", "embedding", "cell", "__sub")
        .write.mode("append").parquet(stateDir)
      ()
    }
  }

  /** Continuous semantic dedup: fold a stream of (vec_id, embedding)
    * through [[semAdmitToState]] per micro-batch — the state at
    * `stateDir` is always the admitted (mutually non-near-dup within
    * each split cell) keeper set. Same shape as
    * [[NearDedup.admitStream]].
    */
  def semAdmitStream(
      emb: DataFrame,
      stateDir: String,
      checkpointDir: String,
      centroids: Array[Array[Double]],
      threshold: Double,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()
  ): org.apache.spark.sql.streaming.StreamingQuery =
    emb.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        semAdmitToState(batch, stateDir, centroids, threshold)
      }
      .start()

  /** IVF coarse quantizer: k-means centroids trained with Lloyd
    * iterations on a deterministic bounded SAMPLE, driver-side. That is
    * the standard IVF shape (FAISS trains its quantizer on a sample
    * too): the model is k×dim floats — kilobytes — while assignment and
    * search below stay fully distributed; only the tiny centroid table
    * ships with the plan. Deterministic: sample = lowest `sampleN`
    * vec_ids, init = first k sample vectors, fixed iteration count.
    */
  def ivfTrain(emb: DataFrame, k: Int, iters: Int = 10, sampleN: Int = 512): Array[Array[Double]] = {
    trainCount.incrementAndGet()
    val sample = emb.orderBy("vec_id").limit(sampleN)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    lloydFit(sample, k, iters)
  }

  /** Number of k-means trainings this JVM has run (observability for the
    * train-once contract; asserted in SimilaritySpec).
    */
  val trainCount = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Distributed Lloyd k-means over the FULL corpus — the corpus
    * clustering operator (domain discovery, data-mix balancing, the
    * cluster step of cluster-then-filter curation), as opposed to
    * [[ivfTrain]]'s sampled driver-side quantizer: here both the
    * assignment and the centroid update are Spark jobs, so the model is
    * fitted on every vector. Per iteration: one narrow assignment
    * projection (the fused [[ivfCell]] dot products, whole-stage
    * codegen) + one explode-to-dims aggregation whose map-side partials
    * collapse each partition to ≤ k·dim rows BEFORE the shuffle; only
    * the k×dim centroid table (kilobytes) ever reaches the driver —
    * the same bounded-model discipline as the BPE loop's per-iteration
    * top-1 row. Deterministic init (first k vectors by vec_id); an
    * empty cell keeps its previous centroid.
    */
  def kmeansFit(emb: DataFrame, k: Int, iters: Int): Array[Array[Double]] = {
    var centroids = emb.orderBy("vec_id").limit(k)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    for (_ <- 1 to iters) {
      val stats = emb
        .select(ivfCell(col("embedding"), centroids).as("cell"),
          posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy("cell", "i")
        .agg(sum(col("x").cast("double")).as("sx"), count(lit(1)).as("n"))
        .collect() // ≤ k·dim rows — model-sized, not corpus-sized
      val next = centroids.map(_.clone())
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2) / r.getLong(3)
      }
      centroids = next
    }
    centroids
  }

  /** Top principal components of the embedding corpus by distributed
    * power iteration with deflation — the embedding-QC operator
    * (anisotropy / collapsed-dimension audits, whitening before ANN or
    * SemDeDup). The d×d covariance is never materialized: each power
    * step is one narrow scan computing score = (v−μ)·w per row (HOF dot
    * against the broadcast iterate) and one explode-to-dims aggregation
    * of score·(v−μ) whose map-side partials collapse every partition to
    * ≤ d rows pre-shuffle — so per-iteration cost is corpus-linear with
    * a d-row shuffle, and ONLY d-length vectors ever reach the driver
    * (the same bounded-model discipline as [[kmeansFit]] / the BPE
    * loop). Deflation orthogonalizes the iterate against recovered
    * components each step, so component c is fitted in the residual
    * subspace. Deterministic: fixed init (axis c + small uniform bias),
    * fixed iteration count.
    *
    * Returns the fitted [[PcaModel]]: (loadings, eigenvalue) per
    * component in recovered order (descending for any spectrum with a
    * gap), the total variance, and the mean vector (the model's
    * centering — [[embed_project]]'s apply side needs it).
    */
  final case class PcaModel(components: Seq[(Array[Double], Double)],
      totalVar: Double, mean: Array[Double])

  def pcaTop(emb: DataFrame, components: Int = 2, iters: Int = 12): PcaModel = {
    val d = probeDim(emb)
    val n = emb.count()
    val muCol0 = emb.select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("i").agg(avg(col("x").cast("double")).as("m"))
      .collect()
    val mu = new Array[Double](d)
    muCol0.foreach(r => mu(r.getInt(0)) = r.getDouble(1))
    val muCol = array(mu.map(lit): _*)
    val centered = zip_with(col("embedding"), muCol, (x, m) => x.cast("double") - m)
    // total variance (for the explained-variance ratio): one agg
    val totVar = emb.select(aggregate(centered, lit(0.0), (a, z) => a + z * z).as("s"))
      .agg(sum(col("s"))).head().getDouble(0) / n
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    var found = List.empty[(Array[Double], Double)]
    for (c <- 0 until components) {
      var w = Array.tabulate(d)(i => if (i == c % d) 1.0 else 0.01)
      w = w.map(_ / norm(w))
      var lambda = 0.0
      for (_ <- 1 to iters) {
        // deflate: keep the iterate in the residual subspace
        found.foreach { case (u, _) =>
          val p = w.zip(u).map { case (a, b) => a * b }.sum
          w = w.zip(u).map { case (a, b) => a - p * b }
        }
        w = w.map(_ / norm(w))
        val wCol = array(w.map(lit): _*)
        val score = aggregate(zip_with(centered, wCol, (x, p) => x * p),
          lit(0.0), (acc, z) => acc + z)
        val g = new Array[Double](d)
        emb.select(score.as("s"), posexplode(centered).as(Seq("i", "x")))
          .groupBy("i").agg(sum(col("x").cast("double") * col("s")).as("g"))
          .collect() // ≤ d rows — model-sized
          .foreach(r => g(r.getInt(0)) = r.getDouble(1))
        val gn = norm(g)
        // rank-deficient corpus (variance confined to fewer directions
        // than requested — the collapsed-dimension case this audit
        // exists to detect): the residual subspace is flat, g ≈ 0, and
        // dividing by its norm would emit an all-NaN model. Report the
        // honest answer instead: eigenvalue 0 with the (unit, residual-
        // subspace) iterate as the arbitrary-but-valid direction.
        if (gn < 1e-12) lambda = 0.0
        else { lambda = gn / n; w = g.map(_ / gn) }
      }
      // canonical sign: largest-|loading| dim is positive, so the
      // component is run-deterministic (an eigenvector's sign is free)
      val flip = if (w(w.indices.maxBy(i => math.abs(w(i)))) < 0) -1.0 else 1.0
      found = found :+ ((w.map(_ * flip), lambda))
    }
    PcaModel(found, totVar, mu)
  }

  private val pcaCache = Memo.slot[String, PcaModel]("VectorOps.pcaCache")

  /** Train-once PCA per (session, dir) — same model-vs-artifact
    * rationale as [[ivfModel]]/[[kmeansModel]].
    */
  private def pcaModel(s: SparkSession, dir: String): PcaModel = {
    pcaCache(s, dir)(
      pcaTop(Tables(s, dir).embeddings))
  }

  /** Build-once entry point for the round-10 embedding MODELS (k-means
    * centroids + PCA components) — the index-build-time artifacts a
    * production pipeline fits when the corpus changes, not per query.
    * Bench calls this UNTIMED and reports it as its own line (same
    * discipline as [[Curation.prepareDecontamination]]); parameters
    * match the `cluster_kmeans` / `embed_pca` query ids exactly so the
    * memo is a guaranteed hit.
    */
  def prepareModels(s: SparkSession, dir: String): Unit = {
    kmeansModel(s, dir, k = 8, iters = 8)
    pcaModel(s, dir)
    ()
  }

  private val kmeansCache = Memo.slot[(String, Int, Int), Array[Array[Double]]]("VectorOps.kmeansCache")

  /** Train-once full-corpus k-means per (session, dir, k, iters) — same
    * model-vs-artifact rationale as [[ivfModel]], but keyed on the
    * session too because the fit runs Spark jobs. `iters` is part of
    * the key: two callers wanting the same k at different iteration
    * counts are asking for different models, and a shared entry would
    * silently hand one of them the other's fit.
    */
  private def kmeansModel(s: SparkSession, dir: String, k: Int, iters: Int): Array[Array[Double]] = {
    kmeansCache(s, (dir, k, iters))(
      kmeansFit(Tables(s, dir).embeddings, k, iters))
  }

  private val centroidCache = Memo.shared[(String, Int), Array[Array[Double]]]("VectorOps.centroidCache")

  /** Train-once coarse quantizer: the centroids for a (dataset, cells)
    * pair are a MODEL, not a per-query artifact — production IVF trains
    * once at index-build time and persists kilobytes of centroids. This
    * memoizes per (datasetKey, cells) so repeated queries over the same
    * corpus reuse the model (one bounded driver-side collect per dataset,
    * not per query); deterministic training makes the cache transparent.
    */
  def ivfModel(emb: DataFrame, cells: Int, datasetKey: String): Array[Array[Double]] =
    centroidCache((datasetKey, cells))(
      // keep a usable points-per-centroid ratio when the cell count is
      // scaled up (dedup_semantic on big corpora) — but BOUNDED: the
      // sample is a driver-side collect and Lloyd is
      // O(sampleN·k·dim·iters) on the driver, so both must stay
      // constants, not functions of n (8192 × 1024 × 64 × 10 ≈ 5e9
      // flops ≈ seconds; an uncapped 8·cells sample would make the
      // trainer itself super-linear in corpus size)
      ivfTrain(emb, cells, sampleN = math.min(math.max(512, 8 * cells), 8192)))

  /** A prebuilt IVF cell assignment WITH its cell count — same
    * provenance-pinning rationale as [[LshIndex]].
    */
  final case class IvfIndex(assigned: DataFrame, cells: Int)

  private val assignedCache = Memo.slot[(String, Int), IvfIndex]("VectorOps.assignedCache")

  /** Memoized per-corpus IVF cell assignment (c_id, c_emb, cell) — the
    * inverted-file half of the index, the write-once partition/cluster
    * key of the vector table described at [[ivfTopK]]. Same rationale
    * and hygiene as [[corpusBuckets]]: build once per (session, dir,
    * cells) on first use, evict dead sessions, fixture immutability
    * documented at [[graft.Memo]].
    */
  private[llm] def ivfAssigned(s: SparkSession, dir: String, cells: Int): IvfIndex = {
    assignedCache(s, (dir, cells)) {
      val emb = Tables(s, dir).embeddings
      val centroids = ivfModel(emb, cells, datasetKey = dir)
      IvfIndex(emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
          ivfCell(col("embedding"), centroids).as("cell"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), cells)
    }
  }

  /** Bootstrapped keeper state for `dedup_semantic_incr` (even vec_ids
    * through [[semDedupCore]], with embeddings + split keys), memoized
    * per (session, dir) exactly like [[NearDedup]]'s stateCache: in the
    * real pipeline the state pre-exists, so steady-state cost is the
    * batch admission only.
    */
  private val semStateCache = Memo.slot[(String, Int, Double), DataFrame]("VectorOps.semStateCache")

  private[llm] def semState(s: SparkSession, dir: String, cells: Int,
      centroids: Array[Array[Double]], threshold: Double): DataFrame = {
    // cells and threshold are part of the key (centroids derive from
    // (dir, cells)): keepers admitted under one threshold/cell split
    // are a DIFFERENT state than another's — the kmeansModel cache-key
    // rationale
    semStateCache(s, (dir, cells, threshold)) {
      val evens = ivfAssigned(s, dir, cells).assigned
        .filter(col("c_id") % 2 === 0)
        .select(col("c_id").as("vec_id"), col("c_emb").as("embedding"), col("cell"),
          ivfCellRanks(col("c_emb"), centroids, ranks = 3).as("__sub"))
      val keepers = semDedupCore(evens, threshold)
      evens.join(keepers.select("vec_id"), "vec_id")
        .select("vec_id", "embedding", "cell", "__sub")
        .localCheckpoint()
    }
  }

  /** Driver-side Lloyd on an in-memory point set: deterministic init
    * (first `k` points), an empty cluster keeps its previous centroid.
    * The one k-means loop behind [[ivfTrain]], [[pqTrain]] and
    * [[ivfPqTrain]] — shared so the coarse and residual quantizers of
    * the composed index can never drift from the standalone ones.
    */
  private def lloydFit(points: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    var centroids = points.take(k).map(_.clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](points(0).length))
      val counts = new Array[Long](centroids.length)
      points.foreach { v =>
        val c = nearestCentroid(v, centroids)
        counts(c) += 1
        var i = 0; while (i < v.length) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old else sums(c).map(_ / counts(c))
      }
    }
    centroids
  }

  private def nearestCentroid(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      var d = 0.0; var i = 0
      while (i < v.length) { val t = v(i) - cs(c)(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Cell id column: argmin_c ‖emb − centroid_c‖² as a pure expression
    * (expanding ‖v−c‖² = ‖v‖² − 2v·c + ‖c‖², the argmin only needs
    * v·c − ‖c‖²/2 per centroid — one fused dot product each).
    */
  def ivfCell(emb: Column, centroids: Array[Array[Double]]): Column = {
    val scores = centroids.map { c =>
      val cCol = array(c.map(lit): _*)
      val dot = aggregate(zip_with(emb, cCol, (x, p) => x.cast("double") * p),
        lit(0.0), (acc, z) => acc + z)
      dot - lit(c.map(x => x * x).sum / 2)
    }
    // index of the max score = nearest centroid (1-based array_position)
    (array_position(array(scores: _*), array_max(array(scores: _*))) - 1).cast("int")
  }

  /** Residual centroid ranking: the 2nd..(ranks)th-nearest centroid ids
    * as an int array — the hot-cell split keys of [[semDedupCore]].
    * Near-identical vectors agree on their whole distance ranking with
    * the same probability that put them in one cell, so sub-dividing a
    * mega-cell by rank-2 (then rank-3) keeps dup pairs co-located. Same
    * fused score expression as [[ivfCell]]; a model with fewer than
    * `ranks` centroids just yields a shorter array (callers null-pad).
    */
  def ivfCellRanks(emb: Column, centroids: Array[Array[Double]], ranks: Int): Column = {
    val scores = centroids.map { c =>
      val cCol = array(c.map(lit): _*)
      val dot = aggregate(zip_with(emb, cCol, (x, p) => x.cast("double") * p),
        lit(0.0), (acc, z) => acc + z)
      dot - lit(c.map(x => x * x).sum / 2)
    }
    // sort on (-score, centroidId) ascending so an exact score tie breaks
    // toward the LOWER centroid id — matching ivfCell's array_position
    // (first max index) pick, so the rank list always starts with the
    // assigned cell (round-9 ADVICE; reverse(array_sort) broke ties the
    // other way)
    val scored = array(centroids.indices.map(i =>
      struct((-scores(i)).as("s"), lit(i).as("c"))): _*)
    slice(array_sort(scored), 2, math.max(ranks - 1, 0)).getField("c")
  }

  /** IVF-nprobe ANN: corpus rows are assigned to their nearest-centroid
    * cell (ONE narrow projection — at 100 TB this is the write-once
    * partition/cluster key of the vector table); each query probes its
    * `nprobe` nearest cells and scores only those cells' vectors. The
    * candidate join is a key-shuffle on cell id — recall is tuned by
    * nprobe, cost by k, and no all-pairs stage exists anywhere.
    */
  def ivfTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      cells: Int = 16, nprobe: Int = 4,
      model: Option[Array[Array[Double]]] = None,
      assignedOpt: Option[IvfIndex] = None): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(emb.sparkSession)
    assignedOpt.foreach(i => require(i.cells == cells,
      s"IVF index (cells=${i.cells}) does not match query (cells=$cells)"))
    val centroids = model.getOrElse(ivfTrain(emb, cells))
    val assigned = assignedOpt.map(_.assigned).getOrElse(
      emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        ivfCell(col("embedding"), centroids).as("cell")))
    // per-query probe list: nprobe best cells by the same score expr.
    // Index by centroids.indices, NOT (0 until cells): a small corpus (or
    // a caller-supplied model) can legitimately carry FEWER centroids
    // than the requested cell count (ivfTrain seeds from sample.take(k)),
    // and indexing past the model crashed at plan build.
    val scores = centroids.map { c =>
      val cCol = array(c.map(lit): _*)
      val dot = aggregate(zip_with(col("q_emb"), cCol, (x, p) => x.cast("double") * p),
        lit(0.0), (acc, z) => acc + z)
      dot - lit(c.map(x => x * x).sum / 2)
    }
    val probes = broadcast(
      emb.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        // sort on (-score, centroidId) so an exact score tie breaks
        // toward the LOWER centroid id — matching ivfCell's first-max
        // assignment (the round-9 ivfCellRanks fix; reverse(array_sort)
        // broke ties the other way, so a duplicate-centroid tie at the
        // nprobe cutoff could skip the cell the candidates actually
        // live in)
        .withColumn("__scored",
          array(centroids.indices.map(i =>
            struct((-scores(i)).as("s"), lit(i).as("c"))): _*))
        .withColumn("cell",
          explode(slice(array_sort(col("__scored")), 1,
            math.min(nprobe, centroids.length)).getField("c")))
        .select("q_id", "q_emb", "cell"))
    val scored = probes.join(assigned, "cell")
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
    topkPerQuery(scored, k)
  }

  // --- Product quantization (vec_pq / ann_pq) -----------------------
  //
  // The memory-bounded ANN path: a 64-dim float vector is 256 bytes; its
  // PQ code (m=8 subspaces × 4-bit centroid ids) is 8 bytes — a 32×
  // compression that is what actually lets a 100 TB embedding corpus be
  // scanned from memory. Search is ADC (asymmetric distance): the query
  // keeps its full vector, each candidate contributes only table lookups
  // — one m×ks lookup table per query, broadcast, corpus cost strictly
  // linear with ~m array probes per row. Jégou et al. 2011 (TPAMI).
  // Vectors are unit-normalized before training/coding, so squared L2 is
  // monotone in cosine (‖q−x‖² = 2−2cos) and ADC top-k approximates the
  // house cosine top-k; scores are emitted as cos ≈ 1 − adist/2 so the
  // output shape matches sim_topk/ann_lsh/ann_ivf.

  /** Number of PQ trainings this JVM has run (train-once observability,
    * mirroring [[trainCount]]; asserted in SimilaritySpec).
    */
  val pqTrainCount = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Per-subspace codebooks `books(j)(c)` (length dim/m each), trained by
    * driver-side Lloyd on a BOUNDED unit-normalized sample — the same
    * threshold discipline as [[ivfTrain]] (the sample is a model input,
    * never a function of n; production PQ trains once at index-build
    * time on exactly such a sample and persists kilobytes). Deterministic
    * init: first `ks` sample subvectors by vec_id.
    */
  def pqTrain(emb: DataFrame, m: Int, ks: Int, iters: Int = 10,
      sampleN: Int = 2048): Array[Array[Array[Double]]] = {
    pqTrainCount.incrementAndGet()
    val sample = emb.orderBy("vec_id").limit(sampleN)
      .select("embedding").collect()
      .map(r => unitVec(r.getSeq[Float](0)))
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val sub = dim / m
    Array.tabulate(m) { j =>
      lloydFit(sample.map(v =>
        java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub)), ks, iters)
    }
  }

  /** Adds a `codes` column (array<int>, length m): code j = nearest
    * codebook-j centroid of the unit-normalized subvector — the fused
    * v·c − ‖c‖²/2 argmin of [[ivfCell]], per subspace.
    *
    * Built through STAGED projections (norm → unit vector → subvector
    * array → argmin) so each expensive intermediate is a materialized
    * attribute evaluated once per row. The one-expression form inlined
    * the norm aggregate and the normalized slice under every one of the
    * m·ks centroid scores (HOFs are CodegenFallback, so nothing CSEs
    * them) — measured 22 s for 2 000 rows at sf0.1; staged: sub-second.
    * CollapseProject keeps the stages apart because the aliases are
    * non-cheap and multiply referenced. `keepUnit` retains `__u`/`__subs`
    * for consumers that also need the normalized vector (vec_pq's
    * reconstruction audit).
    */
  def withPqCodes(df: DataFrame, embCol: String,
      books: Array[Array[Array[Double]]], keepUnit: Boolean = false): DataFrame = {
    val sub = books(0)(0).length
    val e = col(embCol)
    val staged = df
      .withColumn("__nrm", sqrt(aggregate(
        zip_with(e, e, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, z) => acc + z)))
      .withColumn("__u", transform(e, x => x.cast("double") / col("__nrm")))
      .withColumn("__subs", array(books.indices.map(j =>
        slice(col("__u"), j * sub + 1, sub)): _*))
    val coded = staged.withColumn("codes", array(subspaceCodes(books): _*))
      .drop("__nrm")
    if (keepUnit) coded else coded.drop("__u", "__subs")
  }

  /** Per-subspace argmin code columns over a materialized `__subs`
    * attribute — the shared coding expression of [[withPqCodes]] /
    * [[withIvfPqCodes]]: the fused v·c − ‖c‖²/2 argmin of [[ivfCell]],
    * per subspace.
    */
  private def subspaceCodes(books: Array[Array[Array[Double]]]): Seq[Column] =
    books.zipWithIndex.toSeq.map { case (cb, j) =>
      val sv = element_at(col("__subs"), j + 1)
      val scores = cb.map { c =>
        val cCol = array(c.map(lit): _*)
        aggregate(zip_with(sv, cCol, (x, p) => x * p),
          lit(0.0), (acc, z) => acc + z) - lit(c.map(x => x * x).sum / 2)
      }
      (array_position(array(scores: _*), array_max(array(scores: _*))) - 1).cast("int")
    }

  private val pqModelCache = Memo.shared[(String, Int, Int), Array[Array[Array[Double]]]]("VectorOps.pqModelCache")

  /** Train-once PQ codebooks per (datasetKey, m, ks) — the [[ivfModel]]
    * contract applied to the product quantizer.
    */
  def pqModel(emb: DataFrame, m: Int, ks: Int, datasetKey: String): Array[Array[Array[Double]]] =
    pqModelCache((datasetKey, m, ks))(pqTrain(emb, m, ks))

  /** A prebuilt code table (c_id, codes) WITH its codebooks — provenance
    * pinning, as [[IvfIndex]] / [[LshIndex]].
    */
  final case class PqIndex(codes: DataFrame, books: Array[Array[Array[Double]]])

  private val pqCodesCache = Memo.slot[(String, Int, Int), PqIndex]("VectorOps.pqCodesCache")

  /** Memoized per-corpus PQ code table — the compressed index itself
    * (at 100 TB this 8-byte-per-vector table IS what replaces the raw
    * embedding column for search; built once, written alongside the
    * corpus). Same hygiene as [[corpusBuckets]]/[[ivfAssigned]].
    */
  private[graft] def pqIndex(s: SparkSession, dir: String, m: Int, ks: Int): PqIndex = {
    pqCodesCache(s, (dir, m, ks)) {
      val emb = Tables(s, dir).embeddings
      val books = pqModel(emb, m, ks, datasetKey = dir)
      PqIndex(withPqCodes(emb, "embedding", books)
          .select(col("vec_id").as("c_id"), col("codes"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), books)
    }
  }

  /** ADC top-k search over the PQ code table. Per query the driver
    * computes the m×ks partial-distance lookup table (‖q_j − c‖² per
    * subspace/centroid — |queries|·m·ks doubles, kilobytes: the same
    * bounded-model discipline as the probe lists of [[ivfTopK]]); the
    * LUT table broadcasts and every candidate's distance is m
    * `element_at` probes summed — no per-candidate dot product, no
    * embedding column anywhere in the scan. Emitted score
    * cos = 1 − adist/2 (exact on unit vectors if the code were exact),
    * ranked through the shared [[topkPerQuery]]. At 100 TB this composes
    * with IVF: partition the code table by [[ivfCell]] and ADC-scan only
    * the probed cells.
    */
  def pqTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      m: Int = 8, ks: Int = 16, rerank: Int = 4,
      index: Option[PqIndex] = None): DataFrame = {
    val spark = emb.sparkSession
    val idx = index.getOrElse {
      val books = pqTrain(emb, m, ks)
      PqIndex(withPqCodes(emb, "embedding", books)
        .select(col("vec_id").as("c_id"), col("codes")), books)
    }
    val books = idx.books
    val sub = books(0)(0).length
    // bounded collect: |queryIds| rows — the query set is the tiny side
    // by definition (simTopK broadcasts the same rows as a frame)
    val qluts = emb.filter(col("vec_id").isin(queryIds: _*))
      .select("vec_id", "embedding").collect()
      .map { r =>
        val q = unitVec(r.getSeq[Float](1))
        val lut = books.zipWithIndex.map { case (cb, j) =>
          cb.map { c =>
            var d = 0.0; var i = 0
            while (i < sub) { val t = q(j * sub + i) - c(i); d += t * t; i += 1 }
            d
          }.toSeq
        }.toSeq
        (r.getLong(0), lut)
      }.toSeq
    import spark.implicits._
    val q = broadcast(qluts.toDF("q_id", "lut"))
    val scored = q.join(idx.codes, col("q_id") =!= col("c_id"))
      .withColumn("cos", lit(1.0) - aggregate(
        zip_with(col("codes"), col("lut"),
          (c, l) => element_at(l, c + 1)),
        lit(0.0), (acc, z) => acc + z) / 2)
    rerankExact(emb, queryIds, scored, k, rerank)
  }

  /** Production quantized-ANN serving tail, shared by [[pqTopK]] and
    * [[ivfPqTopK]]: the approximate `scored` frame narrows the corpus to
    * a k·rerank shortlist per query (the only stage that scans n rows,
    * and it scans CODES, not vectors), then ONE tiny key-join re-reads
    * the raw vectors for shortlist rows only and exact cosine re-ranks —
    * so emitted scores are true cosines and recall is set by the
    * shortlist width, not by code fidelity alone. `rerank <= 1` keeps
    * the pure approximate ranking (the ADC-exactness spec path).
    */
  private def rerankExact(emb: DataFrame, queryIds: Seq[Long],
      scored: DataFrame, k: Int, rerank: Int): DataFrame =
    if (rerank <= 1) topkPerQuery(scored, k)
    else {
      graft.functions.CosineSimilarity.ensureRegistered(emb.sparkSession)
      val short = topkPerQuery(scored, k * rerank).select("q_id", "c_id")
      val qv = broadcast(emb.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")))
      val exact = short
        .join(emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb")), "c_id")
        .join(qv, "q_id")
        .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
      topkPerQuery(exact, k)
    }

  // --- IVF-PQ (ann_ivfpq): the composed memory-bounded ANN index ----
  //
  // ann_ivf bounds WORK (each query scans only its nprobe probed cells)
  // and ann_pq bounds MEMORY (8-byte codes instead of 256-byte vectors);
  // the production 100 TB recipe composes them (Jégou et al. 2011 §V —
  // the IVFADC / FAISS "IVFPQ" layout): vectors are bucketed by a coarse
  // quantizer and PQ encodes the RESIDUAL u − coarse(cell). Residuals
  // live in a far smaller ball than raw vectors, so the same 4-bit/
  // subspace budget buys strictly more fidelity where the corpus is
  // actually clustered. Search probes nprobe cells, ADC-scans only their
  // codes with a per-(query, cell) lookup table (the residual is
  // cell-relative, so the LUT is too), then exact re-ranks the
  // shortlist. Everything runs in UNIT space — coarse centroids are
  // trained on unit-normalized samples, so ‖q_u − x_u‖² = 2 − 2cos makes
  // the ADC ↔ cosine conversion exact algebra, unlike ann_ivf's
  // raw-space cells which only approximate cosine order.

  /** Coarse centroids + residual codebooks, trained together (the
    * residual distribution is a function of the fitted coarse model, so
    * the two halves are one model, never mix-and-match).
    */
  final case class IvfPqModel(coarse: Array[Array[Double]],
      books: Array[Array[Array[Double]]])

  /** Number of IVF-PQ trainings this JVM has run (train-once
    * observability, mirroring [[pqTrainCount]]; asserted in
    * SimilaritySpec).
    */
  val ivfPqTrainCount = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Two-stage trainer on ONE bounded unit-normalized sample (the
    * [[pqTrain]] threshold discipline): Lloyd fits the coarse quantizer,
    * the SAME sample's residuals under that fitted model train the
    * per-subspace residual codebooks. Deterministic init throughout
    * (first points by vec_id).
    */
  def ivfPqTrain(emb: DataFrame, cells: Int, m: Int, ks: Int,
      iters: Int = 10, sampleN: Int = 2048): IvfPqModel = {
    ivfPqTrainCount.incrementAndGet()
    val sample = emb.orderBy("vec_id").limit(sampleN)
      .select("embedding").collect()
      .map(r => unitVec(r.getSeq[Float](0)))
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val coarse = lloydFit(sample, cells, iters)
    val residuals = sample.map { v =>
      val cc = coarse(nearestCentroid(v, coarse))
      val r = new Array[Double](dim)
      var i = 0; while (i < dim) { r(i) = v(i) - cc(i); i += 1 }
      r
    }
    val sub = dim / m
    val books = Array.tabulate(m) { j =>
      lloydFit(residuals.map(v =>
        java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub)), ks, iters)
    }
    IvfPqModel(coarse, books)
  }

  /** Adds `cell` (coarse assignment in unit space) and `codes` (PQ codes
    * of the residual u − coarse(cell)) through the [[withPqCodes]]
    * staged-projection discipline: norm → unit vector → cell → residual
    * → subvector array → per-subspace argmin, each expensive
    * intermediate a materialized attribute evaluated once per row.
    */
  def withIvfPqCodes(df: DataFrame, embCol: String, model: IvfPqModel): DataFrame = {
    val sub = model.books(0)(0).length
    val e = col(embCol)
    val staged = df
      .withColumn("__nrm", sqrt(aggregate(
        zip_with(e, e, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, z) => acc + z)))
      .withColumn("__u", transform(e, x => x.cast("double") / col("__nrm")))
      .withColumn("cell", ivfCell(col("__u"), model.coarse))
      .withColumn("__res", zip_with(col("__u"),
        element_at(typedLit(model.coarse.map(_.toSeq).toSeq), col("cell") + 1),
        (x, c) => x - c))
      .withColumn("__subs", array(model.books.indices.map(j =>
        slice(col("__res"), j * sub + 1, sub)): _*))
    staged.withColumn("codes", array(subspaceCodes(model.books): _*))
      .drop("__nrm", "__u", "__res", "__subs")
  }

  private val ivfPqModelCache = Memo.shared[(String, Int, Int, Int), IvfPqModel]("VectorOps.ivfPqModelCache")

  /** Train-once IVF-PQ model per (datasetKey, cells, m, ks) — the
    * [[pqModel]] contract applied to the composed index.
    */
  def ivfPqModel(emb: DataFrame, cells: Int, m: Int, ks: Int,
      datasetKey: String): IvfPqModel =
    ivfPqModelCache((datasetKey, cells, m, ks))(ivfPqTrain(emb, cells, m, ks))

  /** A prebuilt (c_id, cell, codes) table WITH its model — provenance
    * pinning, as [[PqIndex]].
    */
  final case class IvfPqIndex(codes: DataFrame, model: IvfPqModel)

  private val ivfPqCodesCache = Memo.slot[(String, Int, Int, Int, Seq[String]), IvfPqIndex]("VectorOps.ivfPqCodesCache")

  /** Memoized per-corpus IVF-PQ code table — at 100 TB, `cell` is the
    * table's partition/cluster key and `codes` its 8-byte payload: the
    * whole searchable corpus in n·(8+ε) bytes, and a query touches only
    * nprobe partitions of it. Same hygiene as [[pqIndex]].
    *
    * `attrs` names corpus columns stored ALONGSIDE the codes — the
    * payload-field pattern every production vector store uses for
    * filtered search (FAISS keeps them in a sidecar docstore, Milvus/
    * Vespa inline them like this): a candidate predicate must be
    * evaluable during the code scan itself, without a corpus join.
    */
  private[graft] def ivfPqIndex(s: SparkSession, dir: String,
      cells: Int, m: Int, ks: Int, attrs: Seq[String] = Nil): IvfPqIndex = {
    ivfPqCodesCache(s, (dir, cells, m, ks, attrs)) {
      val emb = Tables(s, dir).embeddings
      val model = ivfPqModel(emb, cells, m, ks, datasetKey = dir)
      IvfPqIndex(withIvfPqCodes(emb, "embedding", model)
          .select(col("vec_id").as("c_id") +: col("cell") +: col("codes") +:
            attrs.map(col): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), model)
    }
  }

  /** IVF-PQ top-k search: per query the driver ranks the coarse cells by
    * true L2 in unit space (model-sized math) and emits one m×ks ADC
    * lookup table PER PROBED CELL — ‖(q_u − coarse(cell))_j − book_j(c)‖²
    * — |q|·nprobe·m·ks doubles, kilobytes. The broadcast (q_id, cell,
    * lut) rows key-join the code table ON CELL, so only the probed
    * cells' codes are ever scanned (at 100 TB: partition pruning on the
    * cell-partitioned code table); each candidate costs m `element_at`
    * probes. Then the shared exact re-rank tail. Ties at the nprobe
    * cutoff break toward the lower cell id (the ivfCell convention).
    */
  def ivfPqTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      cells: Int = 16, nprobe: Int = 4, m: Int = 8, ks: Int = 16,
      rerank: Int = 4, index: Option[IvfPqIndex] = None): DataFrame = {
    val idx = index.getOrElse {
      val model = ivfPqTrain(emb, cells, m, ks)
      IvfPqIndex(withIvfPqCodes(emb, "embedding", model)
        .select(col("vec_id").as("c_id"), col("cell"), col("codes")), model)
    }
    val luts = ivfPqLuts(emb, queryIds, idx.model, nprobe)
    rerankExact(emb, queryIds, ivfPqScore(idx.codes, luts), k, rerank)
  }

  /** Filtered ANN (the FAISS IDSelector / Milvus-Vespa filtered-search
    * operation): per-query top-k restricted to candidates satisfying
    * `where`. The predicate is evaluated DURING the cell-pruned code
    * scan, BEFORE ADC ranking — a post-filter over an unfiltered
    * shortlist underfills k whenever the predicate is selective (a 10%
    * predicate leaves ~k·rerank/10 qualifying shortlist rows), while
    * pre-filtering keeps the full shortlist budget on qualifying
    * candidates, so recall targets apply to the FILTERED set.
    *
    * `where` may reference the candidate's attribute columns (stored in
    * the code table — see [[ivfPqIndex]]'s `attrs`) and, for per-query
    * bound values, `q_`-prefixed query attributes (e.g.
    * `col("label") === col("q_label")` for same-class search): the
    * query side rides the already-broadcast LUT join, so the filter
    * costs zero extra shuffles — the plan is the unfiltered plan plus
    * one codegen'd predicate inside the probed-cell scan.
    */
  def ivfPqTopKWhere(emb: DataFrame, queryIds: Seq[Long], k: Int,
      where: Column, attrCols: Seq[String],
      cells: Int = 16, nprobe: Int = 4, m: Int = 8, ks: Int = 16,
      rerank: Int = 4, index: Option[IvfPqIndex] = None): DataFrame = {
    val idx = index.getOrElse {
      val model = ivfPqTrain(emb, cells, m, ks)
      IvfPqIndex(withIvfPqCodes(emb, "embedding", model)
        .select(col("vec_id").as("c_id") +: col("cell") +: col("codes") +:
          attrCols.map(col): _*), model)
    }
    val luts = ivfPqLuts(emb, queryIds, idx.model, nprobe)
    val qAttrs = broadcast(emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id") +:
        attrCols.map(c => col(c).as(s"q_$c")): _*))
    val scored = ivfPqScore(idx.codes, luts).join(qAttrs, "q_id")
      .filter(where)
    rerankExact(emb, queryIds, scored, k, rerank)
  }

  /** Driver-side LUT builder shared by the in-memory and persisted
    * search paths: per query, rank the coarse cells by true L2 in unit
    * space (model-sized math) and emit one m×ks ADC lookup table PER
    * PROBED CELL — ‖(q_u − coarse(cell))_j − book_j(c)‖². Ties at the
    * nprobe cutoff break toward the lower cell id (the ivfCell
    * convention).
    */
  private def ivfPqLuts(emb: DataFrame, queryIds: Seq[Long],
      model: IvfPqModel, nprobe: Int): Seq[(Long, Int, Seq[Seq[Double]])] = {
    val dim = model.coarse(0).length
    val sub = model.books(0)(0).length
    emb.filter(col("vec_id").isin(queryIds: _*))
      .select("vec_id", "embedding").collect()
      .flatMap { r =>
        val q = unitVec(r.getSeq[Float](1))
        val byDist = model.coarse.zipWithIndex.map { case (c, i) =>
          var d = 0.0; var t = 0
          while (t < dim) { val x = q(t) - c(t); d += x * x; t += 1 }
          (d, i)
        }.sortBy(identity).take(math.min(nprobe, model.coarse.length))
        byDist.map { case (_, cellId) =>
          val cc = model.coarse(cellId)
          val lut = model.books.zipWithIndex.map { case (cb, j) =>
            cb.map { c =>
              var d = 0.0; var i = 0
              while (i < sub) {
                val t = q(j * sub + i) - cc(j * sub + i) - c(i); d += t * t; i += 1
              }
              d
            }.toSeq
          }.toSeq
          (r.getLong(0), cellId, lut)
        }
      }.toSeq
  }

  /** ADC scoring stage shared by the in-memory and persisted paths: the
    * tiny (q_id, cell, lut) table broadcast EQUI-joins the code table on
    * `cell`, so only probed cells' codes are scanned; each candidate
    * costs m `element_at` probes.
    */
  private def ivfPqScore(codes: DataFrame,
      luts: Seq[(Long, Int, Seq[Seq[Double]])]): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    broadcast(luts.toDF("q_id", "cell", "lut")).join(codes, "cell")
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos", lit(1.0) - aggregate(
        zip_with(col("codes"), col("lut"),
          (c, l) => element_at(l, c + 1)),
        lit(0.0), (acc, z) => acc + z) / 2)
  }

  // --- Persisted IVF-PQ index (ann_ivfpq_disk): the durable artifact --
  //
  // The in-memory index dies with the session; a 100 TB corpus builds
  // its index ONCE and serves queries from it for weeks. Layout — all
  // parquet, so doubles round-trip bit-exact and the artifact is
  // readable by any Spark/DuckDB/engine without this library. `<path>`
  // is a [[graft.store.Store]] root whose `_current` names the live
  // generation; a crashed build is an unnamed generation, invisible:
  //   <gen>/codes/    (c_id, codes) parquet PARTITIONED BY cell — the
  //                   n·(8+ε)-byte searchable corpus; a query planning
  //                   nprobe cells prunes to nprobe directories AT THE
  //                   SCAN (PartitionFilters, zero bytes read elsewhere)
  //   <gen>/coarse/   (cell, vec) — `cells` rows, the coarse quantizer
  //   <gen>/books/    (subspace, code, vec) — m·ks rows, residual books
  //   <gen>/delta-<uuid>/codes/ one appended batch, same layout
  //   <path>/tombstones/ deleted ids, outside the generations

  /** Number of actual persisted-index builds this JVM has run (a second
    * save over a committed index must be a no-op; asserted in
    * SimilaritySpec).
    */
  val ivfPqSaveCount = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Build and commit the persisted index at `path` (idempotent: an
    * already-committed index is left untouched — rebuilds of a
    * multi-day 100 TB artifact must be explicit, never accidental).
    */
  def saveIvfPqIndex(s: SparkSession, dir: String, path: String,
      cells: Int = 16, m: Int = 8, ks: Int = 16): Unit =
    saveIvfPqIndexOf(Tables(s, dir).embeddings, path, cells, m, ks,
      datasetKey = dir)

  /** As [[saveIvfPqIndex]] but over an explicit corpus frame — the
    * general form (a real pipeline indexes a filtered/deduped view, not
    * a raw table). `datasetKey` scopes the train-once model cache.
    */
  def saveIvfPqIndexOf(emb: DataFrame, path: String, cells: Int = 16,
      m: Int = 8, ks: Int = 16, datasetKey: String,
      attrs: Seq[String] = Nil): Unit = {
    val s = emb.sparkSession
    if (Store.live(s, path).isDefined) return
    ivfPqSaveCount.incrementAndGet()
    val model = ivfPqModel(emb, cells, m, ks, datasetKey = datasetKey)
    import s.implicits._
    Store.publish(s, path) { gen =>
      // `attrs` columns persist ALONGSIDE the codes (the in-memory
      // ivfPqIndex payload-field pattern made durable): a filtered
      // search's predicate then evaluates inside the cell-pruned,
      // column-stat-pushed parquet scan — no corpus join at serve time
      withIvfPqCodes(emb, "embedding", model)
        .select(col("vec_id").as("c_id") +: col("cell") +: col("codes") +:
          attrs.map(col): _*)
        .write.mode("overwrite").partitionBy("cell").parquet(s"$gen/codes")
      model.coarse.zipWithIndex.map { case (v, c) => (c, v.toSeq) }.toSeq
        .toDF("cell", "vec").coalesce(1)
        .write.mode("overwrite").parquet(s"$gen/coarse")
      model.books.zipWithIndex.flatMap { case (cb, j) =>
        cb.zipWithIndex.map { case (v, c) => (j, c, v.toSeq) }
      }.toSeq.toDF("subspace", "code", "vec").coalesce(1)
        .write.mode("overwrite").parquet(s"$gen/books")
    }
  }

  /** The live generation of the IVF-PQ index at `path`. */
  private def liveIvfPqIndex(s: SparkSession, path: String): String =
    Store.live(s, path).getOrElse(
      throw new IllegalArgumentException(s"no committed IVF-PQ index at $path"))

  /** The live code table: the build's codes and every appended delta's. */
  private def liveCodes(s: SparkSession, path: String): DataFrame =
    Store.read(s, liveIvfPqIndex(s, path), "codes")

  /** Read the model half of a committed persisted index back —
    * threshold-bounded driver materialization (`cells` + m·ks rows).
    * Parquet doubles are bit-exact, so the loaded model reproduces the
    * trainer's codes and LUTs identically.
    */
  def loadIvfPqModel(s: SparkSession, path: String): IvfPqModel = {
    val live = liveIvfPqIndex(s, path)
    val coarse = s.read.parquet(s"$live/coarse").orderBy("cell").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("vec").toArray)
    val bookRows = s.read.parquet(s"$live/books")
      .orderBy("subspace", "code").collect()
    val books = bookRows.groupBy(_.getAs[Int]("subspace")).toArray
      .sortBy(_._1).map(_._2.sortBy(_.getAs[Int]("code"))
        .map(_.getAs[scala.collection.Seq[Double]]("vec").toArray))
    IvfPqModel(coarse, books)
  }

  /** Serve top-k from a committed persisted index: the probed cells are
    * known at PLAN time (driver-side coarse ranking), so the code scan
    * carries a static `cell IN (...)` partition filter — Spark prunes to
    * the probed directories and reads zero bytes of the rest of the
    * corpus. Everything downstream (broadcast LUT equi-join, ADC, exact
    * re-rank) is the shared in-memory machinery, so disk and memory
    * serving return identical rows for the same model.
    */
  def ivfPqTopKDisk(emb: DataFrame, queryIds: Seq[Long], k: Int,
      path: String, nprobe: Int = 4, rerank: Int = 4,
      where: Option[Column] = None, attrCols: Seq[String] = Nil): DataFrame = {
    val spark = emb.sparkSession
    val model = loadIvfPqModel(spark, path)
    val luts = ivfPqLuts(emb, queryIds, model, nprobe)
    val probed = luts.map(_._2).distinct
    val codes = minusTombstones(spark, path,
      liveCodes(spark, path).filter(col("cell").isin(probed: _*)))
    // filtered serving (the ivfPqTopKWhere semantics on the durable
    // index): candidate attrs were persisted with the codes, so the
    // predicate lands in the SAME pruned scan — static cell partition
    // filter + pushed data filter — before ADC ranking; per-query
    // bound values ride the broadcast LUT join as q_-prefixed columns
    val scored = where match {
      case None => ivfPqScore(codes, luts)
      case Some(pred) =>
        val qAttrs = broadcast(emb.filter(col("vec_id").isin(queryIds: _*))
          .select(col("vec_id").as("q_id") +:
            attrCols.map(c => col(c).as(s"q_$c")): _*))
        ivfPqScore(codes, luts).join(qAttrs, "q_id").filter(pred)
    }
    rerankExact(emb, queryIds, scored, k, rerank)
  }

  /** Append a batch of new vectors to a committed persisted index using
    * its STORED model — no retrain, the production add path (FAISS
    * `add_with_ids` semantics): at 100 TB the model was fitted once on a
    * bounded sample and stays frozen; daily arrivals encode against it
    * and land as one delta of the live generation
    * ([[graft.store.Store.appendDelta]]), cell-partitioned like the
    * build's codes and visible in full or not at all. Existing files
    * are never rewritten, so concurrent readers stay consistent and the
    * append costs ∝ batch, not corpus. Callers own id-uniqueness (as
    * with FAISS add_with_ids).
    */
  def appendIvfPqIndex(batch: DataFrame, path: String,
      attrs: Seq[String] = Nil): Unit = {
    val s = batch.sparkSession
    val model = loadIvfPqModel(s, path)
    val live = liveIvfPqIndex(s, path)
    val sel = withIvfPqCodes(batch, "embedding", model)
      .select(col("vec_id").as("c_id") +: col("cell") +: col("codes") +:
        attrs.map(col): _*)
    // an append whose columns differ from the stored code schema would
    // land null-attr rows that silently drop out of filtered search —
    // fail at write time instead (cell is a partition column on read)
    val stored = s.read.parquet(s"$live/codes").schema.fieldNames.toSet + "cell"
    require(sel.columns.toSet == stored,
      s"append columns ${sel.columns.toSet} != stored code schema $stored " +
        "(pass the index's attrs to appendIvfPqIndex)")
    Store.appendDelta(s, live)(d => sel.write.partitionBy("cell").parquet(s"$d/codes"))
  }

  /** Delete ids from a committed persisted index WITHOUT rewriting code
    * files — the production remove path (FAISS `remove_ids` / Milvus
    * delete semantics): deletes land as TOMBSTONE parquet files under
    * `tombstones/`; the pruned serving scan anti-joins them, and the
    * next [[compactIvfPqIndex]] folds them into the new generation
    * physically (then clears exactly the files it folded, so deletes
    * issued DURING a compaction survive to the next one). Cost ∝ the
    * delete batch; existing files are never touched, so concurrent
    * readers stay consistent.
    */
  def deleteFromIvfPqIndex(ids: DataFrame, path: String): Unit =
    ids.select(col(ids.columns.head).cast("long").as("c_id"))
      .write.mode("append").parquet(s"$path/tombstones")

  /** Live tombstone part files of an index (empty if none). */
  private def tombstoneFiles(s: SparkSession, path: String): Seq[String] = {
    val t = new org.apache.hadoop.fs.Path(path, "tombstones")
    val fs = t.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(t)) Nil
    else fs.listStatus(t).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("part-")).map(_.toString)
  }

  /** Anti-join `codes` against the index's live tombstones, if any. The
    * tombstone side is delete-batch-sized; AQE picks broadcast while it
    * is small and falls back to a key shuffle when a 100 TB index has
    * accumulated mass deletes.
    */
  private def minusTombstones(s: SparkSession, path: String,
      codes: DataFrame): DataFrame = tombstoneFiles(s, path) match {
    case Nil => codes
    case fs0 => codes.join(
      s.read.parquet(fs0: _*).select("c_id").distinct(), Seq("c_id"), "left_anti")
  }

  /** Rewrite the live code set — the build, every appended delta, minus
    * the tombstones — as one file per cell in the next generation, with
    * the model tables beside it. Daily appends accrete small files
    * inside each cell directory — the classic small-file problem: at
    * 100 TB a year of appends turns the nprobe-pruned scan into
    * thousands of file opens per cell. Superseded generations stay for
    * in-flight readers until [[graft.store.Store.gc]].
    */
  def compactIvfPqIndex(s: SparkSession, path: String): Unit = {
    val live = liveIvfPqIndex(s, path)
    // fold the tombstones observed NOW into the new generation; only
    // exactly these files are cleared after the publish, so a delete
    // that lands mid-compaction is honored by the anti-join until the
    // NEXT compaction folds it (never lost, never double-applied — an
    // anti-join of an already-removed id is a no-op)
    val folded = tombstoneFiles(s, path)
    val base = liveCodes(s, path)
    val compacted =
      if (folded.isEmpty) base
      else base.join(s.read.parquet(folded: _*).select("c_id").distinct(),
        Seq("c_id"), "left_anti")
    Store.publish(s, path) { next =>
      // one shuffle hash-partitioned on cell: every cell's rows land in
      // exactly one task, so partitionBy emits exactly one file per cell
      compacted
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$next/codes")
      Seq("coarse", "books").foreach(t =>
        s.read.parquet(s"$live/$t").write.mode("overwrite").parquet(s"$next/$t"))
    }
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)
    // clear exactly the folded tombstone files (see above): the live
    // generation no longer contains those rows. A reader still scanning
    // the SUPERSEDED generation is under the same drain contract as
    // [[graft.store.Store.gc]] (it could equally lose its files to GC).
    folded.foreach(f => fs.delete(new org.apache.hadoop.fs.Path(f), false))
  }

  private val ivfPqDiskPaths = Memo.shared[(String, Int, Int, Int), String]("VectorOps.ivfPqDiskPaths")

  /** Deterministic per-(dataset, params) location for the query-id's
    * persisted index, built on first use (untimed artifact, like every
    * memoized per-corpus structure).
    */
  private[graft] def ivfPqDiskPath(s: SparkSession, dir: String,
      cells: Int, m: Int, ks: Int): String =
    ivfPqDiskPaths((dir, cells, m, ks)) {
      val path = s"${Store.artifactPath("ivfpq", dir)}_c${cells}m${m}k$ks"
      saveIvfPqIndex(s, dir, path, cells, m, ks)
      path
    }

  private val ivfPqAppendPaths = Memo.shared[String, String]("VectorOps.ivfPqAppendPaths")

  /** The append demo's index (ann_ivfpq_append): built from the EVEN
    * vec_ids only — the model never sees an odd vector — then the odd
    * half is appended through [[appendIvfPqIndex]] and a second marker
    * commits the whole two-step build. Every odd c_id the search then
    * returns is proof the no-retrain add path serves, end to end. The
    * recovery guard re-derives idempotence from CONTENT (any odd c_id
    * present?) before appending, so a run torn between the append write
    * and its marker cannot double-append on restart.
    */
  private val ivfPqDeletePaths = Memo.shared[String, String]("VectorOps.ivfPqDeletePaths")

  /** Demo artifact for `ann_ivfpq_delete`: the FULL corpus indexed under
    * the plain per-dir model (so the oracle reuses the one plain model
    * entry), then every odd c_id tombstoned via
    * [[deleteFromIvfPqIndex]] — the served search must only ever return
    * even candidates. Two-marker build like the append demo; the
    * content guard re-issues the delete if a crash left the tombstones
    * missing.
    */
  private[graft] def ivfPqDeleteDemoPath(s: SparkSession, dir: String): String = {
    val path = ivfPqDeletePaths(dir) {
      val p = s"${Store.artifactPath("ivfpqdel", dir)}_c16m8k16"
      val done = new org.apache.hadoop.fs.Path(p, "_graft_delete_ok")
      val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(done)) {
        val emb = Tables(s, dir).embeddings
        saveIvfPqIndexOf(emb, p, datasetKey = dir)
        if (tombstoneFiles(s, p).isEmpty)
          deleteFromIvfPqIndex(
            emb.filter(col("vec_id") % 2 === 1).select(col("vec_id").as("c_id")), p)
        fs.create(done, true).close()
      }
      p
    }
    ivfPqModelCache((dir, 16, 8, 16))(loadIvfPqModel(s, path))
    path
  }

  private[graft] def ivfPqAppendDemoPath(s: SparkSession, dir: String): String = {
    val path = ivfPqAppendPaths(dir) {
      val p = s"${Store.artifactPath("ivfpqapp", dir)}_c16m8k16"
      val done = new org.apache.hadoop.fs.Path(p, "_graft_append_ok")
      val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(done)) {
        val emb = Tables(s, dir).embeddings
        saveIvfPqIndexOf(emb.filter(col("vec_id") % 2 === 0), p,
          datasetKey = s"$dir#even")
        val hasOdd = liveCodes(s, p)
          .filter(col("c_id") % 2 === 1).limit(1).count() > 0
        if (!hasOdd) appendIvfPqIndex(emb.filter(col("vec_id") % 2 === 1), p)
        fs.create(done, true).close()
      }
      p
    }
    // capture the SERVED model for [[ivfPqOracle]]: a pre-existing
    // committed artifact skips training in this JVM, so load the
    // persisted model tables instead (parquet doubles round-trip
    // bit-exact — disk ≡ trained, the ann_ivfpq_disk contract)
    ivfPqModelCache((s"$dir#even", 16, 8, 16))(loadIvfPqModel(s, path))
    path
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // round(cos, 9) on the OUTPUT only (ranking uses full precision):
    // the engine accumulates the dot product in double in array order and
    // so does DuckDB's in-order list_sum fold, so the raw doubles are
    // bit-identical (verified) — the rounding is belt-and-braces against
    // a future engine changing its fold shape by an ulp
    "sim_topk" -> ((s, dir) =>
      simTopK(Tables(s, dir).embeddings, queryIds = 0L until 8L, k = 10)
        .withColumn("cos", round(col("cos"), 9))),

    // Matryoshka truncation eval (round 15 cont., Kusupati et al. 2022)
    // — the dimension-budget curve every MRL-embedding deployment reads
    // before picking a serving dim: recall@10 of brute search over the
    // FIRST-d prefix (d ∈ {8,16,32,64}) against the full-dim truth,
    // the embedding analog of vocab_prune's vocab-size curve (smaller
    // prefix = 8× less ANN memory/bandwidth; this table says what it
    // costs in recall). Four broadcast-query × corpus scans (the
    // sim_topk shape over sliced arrays — prefix cosine ≡ cosine of
    // the slice), one equi-join per arm against the d=64 arm, 4 output
    // rows; the d=64 row is a structural recall-1.0 anchor. At 100 TB
    // each arm swaps for the IVF-PQ index built at that dim, exactly
    // as ann_recall's brute side does.
    "embed_truncate" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      graft.functions.CosineSimilarity.ensureRegistered(s)
      import s.implicits._
      // ONE corpus scan scores all four prefix lengths (slice by the
      // broadcast dim column), ONE window ranks per (dim, query), and
      // the truth intersection needs no self-join: group the 4·k·|q|
      // top rows by pair, keep pairs present at d=64, and each dim in
      // a kept pair's dim-set is one hit for that dim.
      val dimVals = Seq(8, 16, 32, 64)
      val dims = broadcast(dimVals.toDF("dim"))
      val q = broadcast(emb.filter(col("vec_id").isin(0L until 8L: _*))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")))
      val c = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("dim", "q_id").orderBy(col("cos").desc, col("c_id"))
      val top = q.join(c, col("q_id") =!= col("c_id"))
        .crossJoin(dims)
        .withColumn("cos", cosine(slice(col("q_emb"), lit(1), col("dim")),
          slice(col("c_emb"), lit(1), col("dim"))))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("dim").cast("long").as("dim"), col("q_id"), col("c_id"))
      val hits = top.groupBy("q_id", "c_id")
        .agg(collect_set(col("dim")).as("ds"))
        .filter(array_contains(col("ds"), 64L))
        .select(explode(col("ds")).as("dim"))
        .groupBy("dim").agg(count(lit(1)).as("h"))
      // the 4-row dim axis is the PRESERVED side of this left join, so a
      // broadcast hint on it is unsupported (build-left for left outer —
      // the dropped-hint warning VERDICT r18 #10 flagged): use an
      // UN-hinted dim axis here and hint the 4-row hits side, which IS
      // buildable
      dimVals.toDF("dim").select(col("dim").cast("long").as("dim"))
        .join(broadcast(hits), Seq("dim"), "left")
        .select(col("dim"), coalesce(col("h"), lit(0L)).as("n_hits"),
          round(coalesce(col("h"), lit(0L)).cast("double") / lit(80.0), 6)
            .as("recall_at_10"))
        .orderBy("dim")
    }),

    // hard-negative mining (round 15) — the contrastive-training staple
    // (DPR/SimCSE/E5 all train on them): per query, the top-k most
    // SIMILAR candidates with a DIFFERENT label — high-cosine
    // wrong-answers are exactly the examples that teach an embedding
    // model its decision boundary; random negatives are trivially easy
    // and waste the batch. Same brute exact shape as `sim_topk`
    // (broadcast query set × corpus scan, codegen CosineSimilarity,
    // (cos desc, c_id) deterministic rank) plus one codegen'd label
    // predicate INSIDE the join — the labels ride the scan, so
    // filtering costs nothing. The 100 TB path swaps the scan for the
    // IVF-PQ index exactly as ann_ivfpq_where does (the predicate
    // evaluates inside the cell-pruned code scan); this id is the
    // exact-truth baseline the spec checks that path against. Both
    // labels are carried in the output so the contract (c_label ≠
    // q_label, always) is self-auditing.
    "mine_negatives" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      graft.functions.CosineSimilarity.ensureRegistered(s)
      val q = broadcast(emb.filter(col("vec_id").isin(0L until 8L: _*))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("label").as("q_label")))
      val c = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        col("label").as("c_label"))
      val scored = q.join(c,
          col("q_id") =!= col("c_id") && col("q_label") =!= col("c_label"))
        .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("c_id"))
      scored
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("q_id"), col("q_label").cast("long").as("q_label"),
          col("rank"), col("c_id"), col("c_label").cast("long").as("c_label"),
          round(col("cos"), 9).as("cos"))
        .orderBy("q_id", "rank")
    }),

    // k-NN classification eval (round 15) — the standard embedding-
    // quality probe (label propagation / linear-probe's cheap cousin):
    // a bounded held-out query set (vec_id < 64, the sim_topk
    // bounded-query convention) is classified by majority vote of its
    // 10 nearest OTHER vectors by cosine; neighbor rank ties break to
    // the smaller c_id and vote ties to the smaller label, so the
    // prediction is deterministic cross-engine. Same broadcast-query ×
    // corpus scan as sim_topk (codegen CosineSimilarity), one
    // (q, label) vote count on 10·|q| rows, one |q|-row vote window —
    // everything after the scan is query-set-sized, free at any corpus
    // size; the 100 TB path swaps the scan for the IVF-PQ index like
    // every member of this family.
    "knn_classify" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      graft.functions.CosineSimilarity.ensureRegistered(s)
      val q = broadcast(emb.filter(col("vec_id") < 64)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("label").cast("long").as("q_label")))
      val c = emb.select(col("vec_id").as("c_id"),
        col("embedding").as("c_emb"), col("label").cast("long").as("c_label"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
      val votes = q.join(c, col("q_id") =!= col("c_id"))
        .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .groupBy("q_id", "q_label", "c_label")
        .agg(count(lit(1)).as("votes"))
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("votes").desc, col("c_label"))
      votes
        .withColumn("vr", row_number().over(wv))
        .filter(col("vr") === 1)
        .select(col("q_id"), col("q_label"),
          col("c_label").as("pred_label"), col("votes").cast("long").as("votes"),
          (col("c_label") === col("q_label")).as("correct"))
        .orderBy("q_id")
    }),

    "ann_lsh" -> ((s, dir) =>
      annTopK(Tables(s, dir).embeddings, queryIds = 0L until 8L, k = 10,
        index = Some(corpusBuckets(s, dir, h = 4, tables = 8)))
        // oracle-checked since round 15 (plane-embedding replay,
        // [[lshOracle]]) — round(·,9) per the sim_topk dump adjudication
        .withColumn("cos", round(col("cos"), 9))),
    "ann_ivf" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      ivfTopK(emb, queryIds = 0L until 8L, k = 10,
        model = Some(ivfModel(emb, cells = 16, datasetKey = dir)),
        assignedOpt = Some(ivfAssigned(s, dir, cells = 16)))
        // oracle-checked since round 15 (centroid-embedding replay,
        // [[ivfOracle]]) — round(·,9) per the sim_topk dump adjudication
        .withColumn("cos", round(col("cos"), 9))
    }),

    // ANN quality evaluation — recall@10 of the IVF index against the
    // brute exact truth, the metric every production vector-serving
    // deployment tracks before trusting an index (FAISS's own eval
    // loop). Per query: |ivf top-10 ∩ exact top-10| / 10. Both sides
    // are the engine's OWN oracle-checked searches (`sim_topk`,
    // `ann_ivf`), so the eval is one (q_id, c_id) equi-join on two
    // k·|q|-row tables plus a |q|-row left join to keep recall-0
    // queries — everything after the two searches is query-set-sized.
    // The DuckDB replay recomputes BOTH searches independently
    // (brute CTE chain + the centroid-embedded IVF chain), so a recall
    // regression from either side's drift fails the differential. At
    // 100 TB the truth side is the expensive scan — run on a held-out
    // query sample exactly as here (|q|=8), never the full query log.
    "ann_recall" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      val truth = simTopK(emb, queryIds = 0L until 8L, k = 10)
        .select(col("q_id"), col("c_id"))
      val approx = ivfTopK(emb, queryIds = 0L until 8L, k = 10,
        model = Some(ivfModel(emb, cells = 16, datasetKey = dir)),
        assignedOpt = Some(ivfAssigned(s, dir, cells = 16)))
        .select(col("q_id"), col("c_id"))
      val hits = truth.join(approx, Seq("q_id", "c_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
      truth.select("q_id").distinct()
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)).cast("double") / lit(10.0), 6)
            .as("recall_at_10"))
        .orderBy("q_id")
    }),
    // the PQ index id: one narrow projection emitting each vector's
    // 8-byte code (the 32× compressed search representation) plus
    // recon_cos — cosine between the vector and its PQ reconstruction,
    // the in-query fidelity signal that makes this rows-only id
    // self-auditing (SimilaritySpec bounds its corpus mean). Rows-only:
    // the codebooks are engine-trained k-means, like ann_ivf's cells.
    "vec_pq" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      val books = pqModel(emb, m = 8, ks = 16, datasetKey = dir)
      // ONE native eval per row (round 16): encode + recon fidelity in
      // [[graft.functions.PqEncodeRecon]] — bit-identical arithmetic to
      // the staged-HOF form it replaced (same ascending folds, same
      // first-max argmin; the round-15 codebook-embedding oracle is
      // unchanged), but in primitive doubles instead of ~300 interpreted
      // CodegenFallback fold evals per row (sf0.1: 4.0 s → sub-second).
      // The struct lands as an attribute in its own projection (non-
      // cheap, referenced twice → CollapseProject keeps the stage), so
      // the expression runs once per row.
      graft.functions.PqEncodeRecon.ensureRegistered(s)
      // codes dumped as a comma-joined string, not a raw ARRAY<INT>: a
      // top-level array column crashes the driver's rows canonicalizer
      // (round-14 adjudication — pandas cannot lexsort ndarray cells);
      // the 8-symbol string IS the 8-byte code, losslessly.
      emb
        .withColumn("pr", graft.functions.PqEncodeRecon.pq_encode_recon(
          col("embedding"), typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)))
        .select(col("vec_id"),
          array_join(col("pr.codes"), ",").as("codes"),
          round(col("pr.recon"), 6).as("recon_cos"))
        .orderBy("vec_id")
    }),
    // ADC search over the memoized code table — candidates contribute m
    // table probes each, never a dot product; rows-only like the other
    // ANN ids, recall bounded vs brute force in SimilaritySpec
    "ann_pq" -> ((s, dir) =>
      pqTopK(Tables(s, dir).embeddings, queryIds = 0L until 8L, k = 10,
        index = Some(pqIndex(s, dir, m = 8, ks = 16)))
        // oracle-checked since round 15 (codebook-embedding ADC replay,
        // [[annPqOracle]]) — round(·,9) per the sim_topk adjudication
        .withColumn("cos", round(col("cos"), 9))),
    // the composed IVF-PQ id: each query probes nprobe=4 of 16 cells and
    // ADC-scans ONLY those cells' residual codes — per-query cost =
    // (nprobe/cells)·n rows at 8 bytes each, the FAISS IVFPQ serving
    // shape and the only formulation where BOTH the scan fraction and
    // the bytes-per-row are bounded. Rows-only like the other ANN ids;
    // code/ADC exactness, probe pruning and recall bounded in
    // SimilaritySpec.
    "ann_ivfpq" -> ((s, dir) =>
      ivfPqTopK(Tables(s, dir).embeddings, queryIds = 0L until 8L, k = 10,
        index = Some(ivfPqIndex(s, dir, cells = 16, m = 8, ks = 16)))
        // oracle-checked since round 15 (dual-model-embedding replay,
        // [[ivfPqOracle]]) — round(·,9) per the sim_topk adjudication
        .withColumn("cos", round(col("cos"), 9))),
    // the persisted-index twin: serves the same search from the durable
    // cell-partitioned parquet artifact — probed cells are known at plan
    // time, so the scan carries a static partition filter and reads ZERO
    // bytes outside the probed directories (plan-pinned). Same model →
    // row-identical to ann_ivfpq (spec-pinned); rows-only like it.
    "ann_ivfpq_disk" -> ((s, dir) =>
      ivfPqTopKDisk(Tables(s, dir).embeddings, queryIds = 0L until 8L,
        k = 10, path = ivfPqDiskPath(s, dir, cells = 16, m = 8, ks = 16))
        // oracle-checked since round 15 — SHARES ann_ivfpq's replay
        // (disk ≡ memory is the artifact's spec-pinned contract)
        .withColumn("cos", round(col("cos"), 9))),
    // index maintenance without retrain (FAISS add_with_ids): the served
    // index was built from the EVEN vec_ids only and the odd half was
    // APPENDED against the frozen model — every odd c_id in the result
    // is proof the add path works end to end. Deterministic across runs
    // (two-marker build with a content-derived recovery guard).
    "ann_ivfpq_append" -> ((s, dir) =>
      ivfPqTopKDisk(Tables(s, dir).embeddings, queryIds = 0L until 8L,
        k = 10, path = ivfPqAppendDemoPath(s, dir))
        // oracle-checked since round 15: the replay under the frozen
        // even-trained model over the FULL corpus — append never
        // re-encodes, so served ≡ that (round(·,9) as the family)
        .withColumn("cos", round(col("cos"), 9))),
    // index maintenance: DELETE without rewrite (FAISS remove_ids /
    // Milvus delete): the served index holds the full corpus with every
    // odd c_id TOMBSTONED — the pruned scan anti-joins the tombstone
    // set, so results contain only surviving ids; the next compaction
    // folds tombstones physically (SimilaritySpec pins served-identical
    // across compact+GC and that the folded generation carries no
    // tombstoned rows). Oracle = the plain-model replay with candidates
    // restricted to even c_ids (deletes never re-encode anything).
    "ann_ivfpq_delete" -> ((s, dir) =>
      ivfPqTopKDisk(Tables(s, dir).embeddings, queryIds = 0L until 8L,
        k = 10, path = ivfPqDeleteDemoPath(s, dir))
        .withColumn("cos", round(col("cos"), 9))),
    // filtered ANN (FAISS IDSelector / Milvus filtered search): top-k
    // restricted to candidates sharing the QUERY's label — same-class
    // retrieval, the commonest production filter shape. The label is
    // stored alongside the codes and the predicate evaluates inside the
    // probed-cell scan BEFORE ADC ranking (a post-filter would underfill
    // k); the query's own label rides the broadcast LUT join, so the
    // plan is ann_ivfpq's plan plus one codegen'd predicate. Rows-only
    // like the other ANN ids; subset/parity/pre-vs-post-filter semantics
    // pinned in SimilaritySpec.
    "ann_ivfpq_where" -> ((s, dir) =>
      ivfPqTopKWhere(Tables(s, dir).embeddings, queryIds = 0L until 8L,
        k = 10, where = col("label") === col("q_label"),
        attrCols = Seq("label"),
        index = Some(ivfPqIndex(s, dir, cells = 16, m = 8, ks = 16,
          attrs = Seq("label"))))
        // oracle-checked since round 15: the shared replay plus the
        // same-label predicate inside the ADC stage (round(·,9))
        .withColumn("cos", round(col("cos"), 9))),
    // threshold 0.4: the synthetic embeddings are near-orthogonal random
    // vectors — the closest pairs sit at cos ≈ 0.4–0.6 (sf0.01 max 0.51,
    // sf0.1 max 0.60), so 0.6 returned an empty (vacuous) result. At 0.4
    // there are 59 true pairs at sf0.01 / 920 at sf0.1; even at the LSH
    // recall this (h=6, L=4) config gives at that cosine (~0.23), the
    // result is deterministically non-empty with wide margin.
    "dedup_embed" -> ((s, dir) =>
      embedNearDup(Tables(s, dir).embeddings, threshold = 0.4,
        index = Some(corpusBuckets(s, dir, h = 6, tables = 4)))
        // oracle-checked since round 15 (plane-embedding replay,
        // [[dedupEmbedOracle]]) — round(·,9) per the sim_topk adjudication
        .withColumn("cos", round(col("cos"), 9))),
    // SemDeDup over the ANN index's own cell assignment. Threshold 0.45:
    // the synthetic embeddings have no true clones (max pair cos 0.51 at
    // sf0.01), so a "real" 0.99 threshold would be vacuous — 0.45 makes
    // the prune non-empty (28 vectors have a >=0.45 neighbor corpus-wide
    // at sf0.01; the intra-cell subset of those is what drops).
    // Oracle-checked since round 18 (centroid-embedding replay +
    // recursive per-cell greedy walk, [[semDedupSql]] — green at all
    // three SFs AND the 25× replica under its own 24-cell model);
    // keeper rule + cross-cell miss + cap semantics pinned in
    // SimilaritySpec.
    "dedup_semantic" -> ((s, dir) => {
      // cells scale with the corpus so the per-cell population stays
      // ~constant — Σ|cell|² (the pairwise verify work) then grows
      // LINEARLY in n, SemDeDup's own scaling rule. Fixed cells=16 was
      // measured 0.46× of linear at the 25× replica (cell size grows
      // with n → quadratic pair volume); scaled cells re-probed at
      // 0.23× of linear (1×/5×/25× medians 1.10/2.12/6.19 s, of which
      // the index build rides the first run: steady-state runs
      // 1.04/1.64/2.88 → 0.11×). The count() is parquet-metadata cheap;
      // the floor keeps the small fixtures multi-cell (sf0.001–0.1 all
      // resolve to 16, so ann_ivf's shared (dir, cells=16) quantizer
      // cache is untouched there). The CAP keeps the driver-trained
      // model bounded (the quantizer is a sampled driver-side Lloyd —
      // an uncapped k makes the TRAINER super-linear, see ivfModel):
      // past n ≈ 2M vectors per-cell population grows again and the
      // honest production path is a distributed/hierarchical quantizer,
      // not a bigger driver model.
      val n = Tables(s, dir).embeddings.count()
      val cells = math.min(math.max(16, (n / 2048L).toInt), 1024)
      semCellsUsed(dir)(cells) // oracle keys its model lookup on THIS
      // __sub = residual ranks 2..3 from the SAME memoized model — the
      // hot-cell split keys (cells over maxCell sub-divide instead of
      // being skipped; see semDedupCore)
      val centroids = ivfModel(Tables(s, dir).embeddings, cells, datasetKey = dir)
      semDedupCore(
        ivfAssigned(s, dir, cells).assigned
          .select(col("c_id").as("vec_id"), col("c_emb").as("embedding"), col("cell"),
            ivfCellRanks(col("c_emb"), centroids, ranks = 3).as("__sub")),
        threshold = 0.45)
        .orderBy("vec_id")
    }),
    // incremental SemDeDup admission demo over the fixture, mirroring
    // dedup_incremental's even/odd shape: even vec_ids play the
    // already-admitted keeper state (bootstrapped through the batch
    // core, memoized), odd vec_ids arrive as the new batch and are
    // greedily admitted against state + earlier-admitted keepers in
    // their (split) cell. Oracle-checked since round 18 (two chained
    // recursive walks, [[semDedupIncrSql]]); chain/idempotence/
    // restart semantics pinned in SemDedupIncrSpec.
    "dedup_semantic_incr" -> ((s, dir) => {
      val n = Tables(s, dir).embeddings.count()
      val cells = math.min(math.max(16, (n / 2048L).toInt), 1024)
      semCellsUsed(dir)(cells)
      val centroids = ivfModel(Tables(s, dir).embeddings, cells, datasetKey = dir)
      val state0 = semState(s, dir, cells, centroids, threshold = 0.45)
      val batch = ivfAssigned(s, dir, cells).assigned
        .filter(col("c_id") % 2 =!= 0)
        .select(col("c_id").as("vec_id"), col("c_emb").as("embedding"), col("cell"),
          ivfCellRanks(col("c_emb"), centroids, ranks = 3).as("__sub"))
      semDedupAdmit(batch, state0, threshold = 0.45)
        .orderBy("vec_id")
    }),
    // symmetric int8 quantization (the storage/ANN-memory path: 4× smaller
    // vectors, SIMD-friendly int dot products downstream). Per-vector
    // scale = max|x|/127; q_i = round-half-up(x_i/scale) expressed as
    // floor(x/scale + 0.5) so both engines share one rounding rule for
    // negatives (`round` is HALF_UP here, half-away-from-zero in DuckDB).
    // Pure per-row HOF projection — no shuffle, stays codegen'd; the
    // 1e-30 floor guards an all-zero vector (division stays finite,
    // quantized value 0) without a data-dependent branch.
    // embedding-cluster quality audit: per label, the 3 vectors LEAST
    // cosine-similar to their label's centroid — the outlier-filtering
    // pass an embedding-curated corpus runs before training. The
    // centroid is computed in "transposed" form (posexplode to
    // (label, dim, x) → avg per (label, dim)): both aggregations are
    // map-side combinable, the dim-blowup is the standard transpose
    // cost (rows × dims, each row narrow), and the centroid table is
    // labels × dims — tiny, so AQE broadcasts it back into the per-
    // vector join. Ranking keys on the ROUNDED cosine + vec_id so the
    // bottom-3 cut is deterministic across engines.
    "embed_outliers" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings
        .select(col("label"), col("vec_id"),
          posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("label"), col("vec_id"), col("i"), col("x").cast("double").as("x"))
      val cent = e.groupBy("label", "i").agg(avg(col("x")).as("c"))
      val scored = e.join(cent, Seq("label", "i"))
        .groupBy("label", "vec_id")
        .agg(
          sum(col("x") * col("c")).as("dot"),
          sum(col("x") * col("x")).as("nx"),
          sum(col("c") * col("c")).as("nc"))
        .withColumn("cos", round(col("dot") / sqrt(col("nx") * col("nc")), 6))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("label").orderBy(col("cos"), col("vec_id"))
      scored
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("label", "rank", "vec_id", "cos")
        .orderBy("label", "rank")
    }),

    // Top-2 principal components of the embedding corpus (distributed
    // power iteration, [[pcaTop]]) — the anisotropy/whitening audit of
    // an embedding QC pass. The result IS the model (2×d loadings +
    // eigenvalues + explained-variance ratios, a 2·d-row table), so the
    // driver-side frame construction here is model-sized by definition;
    // all corpus-scale work happened inside the power steps. Rows-only
    // (eigenvectors aren't SQL-expressible); axis recovery, descending
    // eigenvalues, orthonormality, and the variance-ratio bound are
    // pinned in SimilaritySpec. components=2 is the audit's cut, not a
    // bound — pcaTop takes the count, each extra component costs one
    // more set of power-step scans (never a d×d covariance).
    "embed_pca" -> ((s, dir) => {
      val model = pcaModel(s, dir)
      val (comps, totVar) = (model.components, model.totalVar)
      val rows = comps.zipWithIndex.flatMap { case ((w, lam), c) =>
        w.zipWithIndex.map { case (l, i) =>
          (c, i, math.rint(l * 1e6) / 1e6, math.rint(lam * 1e4) / 1e4,
            math.rint(lam / totVar * 1e6) / 1e6)
        }
      }
      s.createDataFrame(rows.toIndexedSeq)
        .toDF("component", "dim", "loading", "eigenvalue", "var_ratio")
        .orderBy("component", "dim")
    }),

    // The APPLY side of the PCA model (the fit alone would be the same
    // gap the BPE loop closed with bpe_encode): every vector's
    // coordinates in the fitted component basis + the residual norm —
    // the dimensionality-reduction / outlier-scoring projection a
    // pipeline materializes next to its embeddings. Pure per-row HOF
    // dot products against the broadcast (literal) μ and loadings — one
    // narrow whole-stage-codegen scan, no shuffle but the output order.
    // Rows-only (components are engine-internal); projection parity vs
    // an independent in-JVM computation and the variance/eigenvalue
    // identity are pinned in SimilaritySpec.
    "embed_project" -> ((s, dir) => {
      val model = pcaModel(s, dir)
      val muCol = array(model.mean.map(lit): _*)
      val centered = zip_with(col("embedding"), muCol, (x, m) => x.cast("double") - m)
      val projs = model.components.map { case (w, _) =>
        aggregate(zip_with(centered, array(w.map(lit): _*), (x, p) => x * p),
          lit(0.0), (acc, z) => acc + z)
      }
      val norm2 = aggregate(centered, lit(0.0), (acc, z) => acc + z * z)
      Tables(s, dir).embeddings
        .select(col("vec_id"),
          round(projs(0), 6).as("p1"),
          round(projs(1), 6).as("p2"),
          round(sqrt(greatest(norm2 - projs(0) * projs(0) - projs(1) * projs(1),
            lit(0.0))), 6).as("resid_norm"))
        .orderBy("vec_id")
    }),

    // Full-corpus k-means cluster report: per-cluster population and
    // within-cluster sum of squares (inertia) — the audit table of the
    // cluster step every mix-balancing / cluster-filter pipeline runs.
    // The fitted model is [[kmeansFit]] (distributed Lloyd, memoized
    // per corpus); the report itself is one narrow assignment scan +
    // a broadcast join against the k-row centroid table + one
    // aggregation. Rows-only like the other ANN/cluster ids (the cell
    // assignment is engine-internal k-means); planted-cluster recovery,
    // Lloyd inertia descent, and population-partition invariants are
    // pinned in SimilaritySpec. k=8 is the REPORT's granularity, not an
    // engine bound: kmeansFit takes k, and a 100 TB corpus clustering
    // scales k with n exactly like dedup_semantic scales its cells
    // (per-iteration cost is corpus-linear regardless — the shuffle
    // stays ≤ k·dim rows, the driver model k×dim).
    "cluster_kmeans" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      val cs = kmeansModel(s, dir, k = 8, iters = 8)
      val cent = s.createDataFrame(
        cs.toIndexedSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) })
        .toDF("cell", "c_emb")
      val assigned = emb.select(col("vec_id"),
        col("embedding"), ivfCell(col("embedding"), cs).as("cell"))
      assigned.join(broadcast(cent), Seq("cell"))
        .withColumn("d2", aggregate(
          zip_with(col("embedding"), col("c_emb"),
            (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
          lit(0.0), (acc, z) => acc + z))
        .groupBy("cell")
        .agg(
          count(lit(1)).cast("long").as("n_vecs"),
          round(sum(col("d2")), 4).as("inertia"),
          round(avg(sqrt(col("d2"))), 4).as("avg_dist"))
        .orderBy("cell")
    }),

    "vec_quantize" -> ((s, dir) =>
      Tables(s, dir).embeddings
        .withColumn("q_scale",
          greatest(
            aggregate(col("embedding"), lit(0.0d),
              (acc, x) => greatest(acc, abs(x.cast("double")))),
            lit(1e-30d)) / 127.0d)
        .select(col("vec_id"),
          // canonical string at the query boundary (round-1 rule, same as
          // agg_collect/change_diff): pandas in the driver's comparator
          // cannot sort/hash an array column, so the quantized vector is
          // emitted comma-joined. SimilaritySpec keeps its numeric checks
          // on the pre-join int representation.
          array_join(transform(col("embedding"),
            x => floor(x.cast("double") / col("q_scale") + 0.5d)
              .cast("int").cast("string")), ",").as("q"),
          round(col("q_scale"), 9).as("q_scale"))
        .orderBy("vec_id"))
  )

  /** The exact brute-force path IS oracle-checked: both engines fold the
    * dot product left-to-right in double (Spark `aggregate` HOF semantics
    * ≡ DuckDB `list_sum(list_transform(...))`), so cosines agree bitwise
    * and the top-k ordering (cos DESC, c_id) is identical. The ANN ids
    * (ann_lsh/ann_ivf/dedup_embed) stay rows-only: their candidate sets
    * depend on engine-side LSH/k-means internals that SQL can't mirror —
    * recall vs the exact result is asserted in SimilaritySpec instead.
    */
  def oracleSql: Map[String, String] = Map(
    // four prefix-cosine brute arms in one windowed pass (range(1,d+1)
    // parameterizes the in-order fold), intersected against the d=64 arm
    "embed_truncate" ->
      """WITH dims AS (SELECT * FROM (VALUES (8),(16),(32),(64)) d(d)),
        |q AS (
        |  SELECT vec_id AS q_id, embedding AS qe FROM embeddings
        |  WHERE vec_id BETWEEN 0 AND 7),
        |scored AS (
        |  SELECT dims.d, q.q_id, c.vec_id AS c_id,
        |    list_sum(list_transform(range(1, dims.d + 1),
        |      i -> CAST(q.qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
        |    / sqrt(list_sum(list_transform(range(1, dims.d + 1),
        |      i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))))
        |    / sqrt(list_sum(list_transform(range(1, dims.d + 1),
        |      i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))) AS cos
        |  FROM dims CROSS JOIN q JOIN embeddings c ON c.vec_id <> q.q_id),
        |top AS (
        |  SELECT d, q_id, c_id FROM (
        |    SELECT d, q_id, c_id, row_number() OVER (PARTITION BY d, q_id
        |      ORDER BY cos DESC, c_id) AS rank FROM scored) WHERE rank <= 10),
        |truth AS (SELECT q_id, c_id FROM top WHERE d = 64),
        |hits AS (
        |  SELECT t.d, count(*) AS n_hits FROM top t
        |  JOIN truth u ON u.q_id = t.q_id AND u.c_id = t.c_id GROUP BY 1)
        |SELECT CAST(dims.d AS BIGINT) AS dim,
        |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 80.0, 6) AS recall_at_10
        |FROM dims LEFT JOIN hits h ON h.d = dims.d
        |ORDER BY dim""".stripMargin,
    "sim_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
        |  WHERE vec_id BETWEEN 0 AND 7),
        |scored AS (
        |  SELECT q.q_id, c.vec_id AS c_id,
        |    list_sum(list_transform(range(1, len(c.embedding)+1),
        |      i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
        |    / sqrt(list_sum(list_transform(range(1, len(q.q_emb)+1),
        |      i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))))
        |    / sqrt(list_sum(list_transform(range(1, len(c.embedding)+1),
        |      i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))) AS cos
        |  FROM q JOIN embeddings c ON c.vec_id <> q.q_id),
        |ranked AS (
        |  SELECT q_id, c_id, cos,
        |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
        |  FROM scored)
        |SELECT q_id, rank, c_id, round(cos, 9) AS cos
        |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    // sim_topk's oracle with the different-label predicate inside the
    // candidate join and both labels carried through
    "mine_negatives" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label FROM embeddings
        |  WHERE vec_id BETWEEN 0 AND 7),
        |scored AS (
        |  SELECT q.q_id, CAST(q.q_label AS BIGINT) AS q_label,
        |    c.vec_id AS c_id, CAST(c.label AS BIGINT) AS c_label,
        |    list_sum(list_transform(range(1, len(c.embedding)+1),
        |      i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
        |    / sqrt(list_sum(list_transform(range(1, len(q.q_emb)+1),
        |      i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))))
        |    / sqrt(list_sum(list_transform(range(1, len(c.embedding)+1),
        |      i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))) AS cos
        |  FROM q JOIN embeddings c ON c.vec_id <> q.q_id AND c.label <> q.q_label),
        |ranked AS (
        |  SELECT q_id, q_label, c_id, c_label, cos,
        |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
        |  FROM scored)
        |SELECT q_id, q_label, rank, c_id, c_label, round(cos, 9) AS cos
        |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    // same brute cosine + (cos desc, c_id) rank conventions as
    // sim_topk/mine_negatives; vote ties break to the smaller label
    "knn_classify" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, embedding AS q_emb, CAST(label AS BIGINT) AS q_label
        |  FROM embeddings WHERE vec_id < 64),
        |scored AS (
        |  SELECT q.q_id, q.q_label, c.vec_id AS c_id, CAST(c.label AS BIGINT) AS c_label,
        |    list_sum(list_transform(range(1, len(c.embedding)+1),
        |      i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
        |    / sqrt(list_sum(list_transform(range(1, len(q.q_emb)+1),
        |      i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))))
        |    / sqrt(list_sum(list_transform(range(1, len(c.embedding)+1),
        |      i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))) AS cos
        |  FROM q JOIN embeddings c ON c.vec_id <> q.q_id),
        |top AS (
        |  SELECT q_id, q_label, c_label FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
        |    FROM scored) WHERE rank <= 10),
        |votes AS (
        |  SELECT q_id, q_label, c_label, count(*) AS votes
        |  FROM top GROUP BY 1, 2, 3)
        |SELECT q_id, q_label, c_label AS pred_label,
        |  CAST(votes AS BIGINT) AS votes, c_label = q_label AS correct
        |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY votes DESC, c_label) AS vr FROM votes)
        |WHERE vr = 1 ORDER BY q_id""".stripMargin,
    "embed_outliers" ->
      """WITH e AS (
        |  SELECT label, vec_id,
        |    unnest(range(1, len(embedding)+1)) AS i,
        |    unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
        |  FROM embeddings),
        |cent AS (SELECT label, i, avg(x) AS c FROM e GROUP BY 1, 2),
        |scored AS (
        |  SELECT e.label, e.vec_id,
        |    round(sum(e.x * c.c) / sqrt(sum(e.x * e.x) * sum(c.c * c.c)), 6) AS cos
        |  FROM e JOIN cent c ON c.label = e.label AND c.i = e.i
        |  GROUP BY 1, 2)
        |SELECT label, rank, vec_id, cos FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY label
        |    ORDER BY cos, vec_id) AS BIGINT) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY label, rank""".stripMargin,
    "vec_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    greatest(list_aggregate(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE))), 'max'), 1e-30) / 127.0 AS q_scale
        |  FROM embeddings)
        |SELECT vec_id,
        |  array_to_string(list_transform(embedding,
        |    x -> CAST(CAST(floor(CAST(x AS DOUBLE) / q_scale + 0.5) AS INTEGER) AS VARCHAR)), ',') AS q,
        |  round(q_scale, 9) AS q_scale
        |FROM s ORDER BY vec_id""".stripMargin
  ) ++ ivfOracle ++ lshOracle ++ dedupEmbedOracle ++ kmeansOracle ++ pcaOracle ++ pqOracle ++ annPqOracle ++ ivfPqOracle

  /** Dynamic oracle for `ann_ivf` (round 15 — the Bpe merge-embedding
    * graduation path applied to the IVF model): Verify dumps
    * oracle_sql.json AFTER running the queries, so the memoized trained
    * centroids for this run's corpus are embeddable as SQL literals
    * (doubles round-trip via shortest-repr — Double.toString ↔ DuckDB
    * CAST AS DOUBLE). The replay mirrors the engine exactly: probe
    * score = in-order dot(q, c) − |c|²/2 with the HALF-NORM precomputed
    * driver-side and embedded as a literal (so no cross-engine sum-order
    * contract on |c|²), first-max cell assignment = row_number over
    * (s DESC, cid), nprobe cutoff ties likewise, candidate ranking =
    * sim_topk's proven (cos DESC, c_id) + round(cos, 9) output. Empty
    * when no/ambiguous 16-cell model is live (degrades to rows-only).
    */
  private def ivfOracle: Map[String, String] = {
    // dir-keyed lookup (round-17 ADVICE) — see QualityModel.qmsOracle
    val live = centroidCache.live.filter { case ((d, cells), _) =>
      cells == 16 && graft.Engine.lastFixtureDir.contains(d) }
    val ann = live match {
      case (_, cent) :: Nil => Map("ann_ivf" -> annIvfSql(cent),
        "ann_recall" -> annRecallSql(cent))
      case _        => Map.empty[String, String]
    }
    // the SemDeDup ids scale cells with n (≠ 16 past ~33k vectors), so
    // their replay embeds the model under the cell count the query
    // RECORDED for this dir — at 25× that is the 24-cell model, not
    // ann_ivf's fixed 16
    val sem = (for {
      dir <- graft.Engine.lastFixtureDir
      cells <- semCellsUsed.live.collectFirst { case (`dir`, c) => c }
      cent <- centroidCache.live.collectFirst { case ((`dir`, `cells`), c) => c }
    } yield Map("dedup_semantic" -> semDedupSql(cent),
      "dedup_semantic_incr" -> semDedupIncrSql(cent))).getOrElse(Map.empty)
    ann ++ sem
  }

  /** cells count each fixture dir's SemDeDup ids ran with (a function
    * of the dir's row count) — the oracle's model-lookup key (dir-keyed
    * like every dynamic oracle). */
  private val semCellsUsed = Memo.shared[String, Int]("VectorOps.semCellsUsed")

  /** Shared CTE prefix of the SemDeDup replays: embedded-centroid cell
    * assignment (ivfOracle's proven first-max rule), engine-faithful
    * unit vectors (inv = 1/sqrt(Σx²) then x·inv — the multiply-by-
    * reciprocal order of semDedupCore's unitVec, not x/sqrt), and the
    * cell-local threshold-pair table: ALL float math happens here,
    * outside the recursion, with the proven in-order list_sum fold; the
    * greedy walk below is pure integer set-membership. Σ|cell|² pair
    * candidates ≈ n²/cells — trivial at every fixture (≤ ~250k).
    */
  private def semDedupCtes(cent: Array[Array[Double]]): String = {
    val rows = cent.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.mkString(", ")}], ${c.map(x => x * x).sum / 2})"
    }.mkString(", ")
    s"""cent AS (SELECT * FROM (VALUES $rows) t(cid, c, hn)),
       |cs AS (
       |  SELECT e.vec_id, e.embedding, t.cid,
       |    list_sum(list_transform(range(1, len(e.embedding)+1),
       |      i -> CAST(e.embedding[i] AS DOUBLE) * t.c[i])) - t.hn AS s
       |  FROM embeddings e CROSS JOIN cent t),
       |assigned AS (
       |  SELECT vec_id, embedding, cid AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS ar
       |    FROM cs) WHERE ar = 1),
       |uv AS MATERIALIZED (
       |  SELECT vec_id, cell, list_transform(embedding, x -> CAST(x AS DOUBLE) * inv) AS u
       |  FROM (
       |    SELECT vec_id, cell, embedding,
       |      1.0 / sqrt(list_sum(list_transform(embedding,
       |        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS inv
       |    FROM assigned)),
       |pairs AS MATERIALIZED (
       |  SELECT a.cell, a.vec_id AS aid, b.vec_id AS bid
       |  FROM uv a JOIN uv b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE list_sum(list_transform(range(1, len(a.u)+1),
       |    i -> a.u[i] * b.u[i])) >= 0.45),
       |nbr AS MATERIALIZED (
       |  SELECT cell, vec_id, list(nb) AS nbrs FROM (
       |    SELECT cell, bid AS vec_id, aid AS nb FROM pairs
       |    UNION ALL
       |    SELECT cell, aid AS vec_id, bid AS nb FROM pairs)
       |  GROUP BY cell, vec_id)""".stripMargin
  }

  /** Dynamic oracle for `dedup_semantic` (round 18 — graduated from
    * rows-only by the cluster_kmeans/dedup_incremental route combined):
    * fitted centroids embed as literals, and the order-dependent
    * intra-cell greedy (smaller-id keeper first) replays as a recursive
    * per-cell walk over the vec_id ranking — iteration k admits each
    * cell's k-th vector iff no ALREADY-KEPT neighbor sits at cos ≥ 0.45.
    * The kept-neighbor probe is `list_has_any(kept, nbrs)` over each
    * vector's precomputed neighbor id list — a pure scalar on the
    * recursion's own columns (no float math AND no correlated subquery
    * inside the recursive term: an EXISTS probe against the pair table
    * mis-evaluated at sf0.1 under DuckDB's recursive planner, silently
    * keeping rejected ids — caught by the differential). The hot-cell
    * split never engages at fixture scale (max cell ≪ maxCell=10000); a
    * fixture that DID split would keep different ids and FAIL the
    * differential loudly, never wrongly pass.
    */
  private def semDedupSql(cent: Array[Array[Double]]): String =
    s"""WITH RECURSIVE
       |${semDedupCtes(cent)},
       |ordv AS MATERIALIZED (
       |  SELECT o.vec_id, o.cell, coalesce(n.nbrs, CAST([] AS BIGINT[])) AS nbrs,
       |    CAST(row_number() OVER (PARTITION BY o.cell ORDER BY o.vec_id) AS BIGINT) AS rn
       |  FROM uv o LEFT JOIN nbr n ON n.cell = o.cell AND n.vec_id = o.vec_id),
       |walk(cell, k, kept) AS (
       |  SELECT cell, CAST(0 AS BIGINT), CAST([] AS BIGINT[])
       |  FROM (SELECT DISTINCT cell FROM ordv)
       |  UNION ALL
       |  SELECT w.cell, w.k + 1,
       |    CASE WHEN list_has_any(w.kept, v.nbrs) THEN w.kept
       |         ELSE list_append(w.kept, v.vec_id) END
       |  FROM walk w JOIN ordv v ON v.cell = w.cell AND v.rn = w.k + 1)
       |SELECT vec_id, cell FROM (
       |  SELECT unnest(f.kept) AS vec_id, f.cell AS cell FROM (
       |    SELECT w.cell, w.kept FROM walk w
       |    JOIN (SELECT cell, max(k) AS mk FROM walk GROUP BY cell) m
       |      ON m.cell = w.cell AND m.mk = w.k) f)
       |ORDER BY vec_id""".stripMargin

  /** Dynamic oracle for `dedup_semantic_incr` — the even/odd admission
    * demo replayed as TWO chained walks: walk_e re-derives the
    * bootstrapped keeper state (the batch greedy over even vec_ids),
    * then walk_o admits odd vec_ids ascending against state ∪ earlier-
    * admitted keepers. The neighbor lists carry BOTH pair orientations:
    * an even state keeper can carry a HIGHER id than the odd newcomer,
    * so nbrs is built symmetrically from the aid<bid pair table. Output
    * = admitted odd ids only, exactly [[semDedupAdmit]]'s contract.
    */
  private def semDedupIncrSql(cent: Array[Array[Double]]): String =
    s"""WITH RECURSIVE
       |${semDedupCtes(cent)},
       |orde AS MATERIALIZED (
       |  SELECT o.vec_id, o.cell, coalesce(n.nbrs, CAST([] AS BIGINT[])) AS nbrs,
       |    CAST(row_number() OVER (PARTITION BY o.cell ORDER BY o.vec_id) AS BIGINT) AS rn
       |  FROM uv o LEFT JOIN nbr n ON n.cell = o.cell AND n.vec_id = o.vec_id
       |  WHERE o.vec_id % 2 = 0),
       |walk_e(cell, k, kept) AS (
       |  SELECT cell, CAST(0 AS BIGINT), CAST([] AS BIGINT[])
       |  FROM (SELECT DISTINCT cell FROM orde)
       |  UNION ALL
       |  SELECT w.cell, w.k + 1,
       |    CASE WHEN list_has_any(w.kept, v.nbrs) THEN w.kept
       |         ELSE list_append(w.kept, v.vec_id) END
       |  FROM walk_e w JOIN orde v ON v.cell = w.cell AND v.rn = w.k + 1),
       |fin_e AS (
       |  SELECT w.cell, w.kept FROM walk_e w
       |  JOIN (SELECT cell, max(k) AS mk FROM walk_e GROUP BY cell) m
       |    ON m.cell = w.cell AND m.mk = w.k),
       |ordo AS MATERIALIZED (
       |  SELECT o.vec_id, o.cell, coalesce(n.nbrs, CAST([] AS BIGINT[])) AS nbrs,
       |    CAST(row_number() OVER (PARTITION BY o.cell ORDER BY o.vec_id) AS BIGINT) AS rn
       |  FROM uv o LEFT JOIN nbr n ON n.cell = o.cell AND n.vec_id = o.vec_id
       |  WHERE o.vec_id % 2 = 1),
       |walk_o(cell, k, kept, adm) AS (
       |  SELECT o.cell, CAST(0 AS BIGINT), coalesce(f.kept, CAST([] AS BIGINT[])),
       |    CAST([] AS BIGINT[])
       |  FROM (SELECT DISTINCT cell FROM ordo) o LEFT JOIN fin_e f ON f.cell = o.cell
       |  UNION ALL
       |  SELECT w.cell, w.k + 1,
       |    CASE WHEN list_has_any(w.kept, v.nbrs) THEN w.kept
       |         ELSE list_append(w.kept, v.vec_id) END,
       |    CASE WHEN list_has_any(w.kept, v.nbrs) THEN w.adm
       |         ELSE list_append(w.adm, v.vec_id) END
       |  FROM walk_o w JOIN ordo v ON v.cell = w.cell AND v.rn = w.k + 1)
       |SELECT vec_id, cell FROM (
       |  SELECT unnest(f.adm) AS vec_id, f.cell AS cell FROM (
       |    SELECT w.cell, w.adm FROM walk_o w
       |    JOIN (SELECT cell, max(k) AS mk FROM walk_o GROUP BY cell) m
       |      ON m.cell = w.cell AND m.mk = w.k) f)
       |ORDER BY vec_id""".stripMargin

  /** Dynamic oracle for `ann_lsh` — the same graduation path with the
    * captured plane family embedded: per (vec, table) the bucket string
    * is the concatenated sign bits of in-order plane dots (the proven
    * list_sum ≡ ordered-fold parity; a sign flip at the 0.0 boundary
    * would FAIL the differential loudly, never falsely pass), candidates
    * = any-table collisions deduped, ranking = the sim_topk tail.
    */
  private def lshOracle: Map[String, String] = {
    val live = lshPlaneCache.live.filter { case ((d, h, tables), _) =>
      h == 4 && tables == 8 && graft.Engine.lastFixtureDir.contains(d) }
    live match {
      case (_, planes) :: Nil => Map("ann_lsh" -> annLshSql(planes, h = 4))
      case _        => Map.empty
    }
  }

  private def annLshSql(planes: Array[Array[Double]], h: Int): String = {
    val rows = planes.zipWithIndex.map { case (p, i) =>
      s"(${i / h}, ${i % h}, [${p.mkString(", ")}])"
    }.mkString(", ")
    s"""WITH planes AS (SELECT * FROM (VALUES $rows) p(t, b, pl)),
       |sig AS (
       |  SELECT e.vec_id, p.t,
       |    string_agg(CASE WHEN list_sum(list_transform(range(1, len(e.embedding)+1),
       |      i -> CAST(e.embedding[i] AS DOUBLE) * pl[i])) >= 0
       |      THEN '1' ELSE '0' END, '' ORDER BY p.b) AS bucket
       |  FROM embeddings e CROSS JOIN planes p
       |  GROUP BY e.vec_id, p.t),
       |cand AS (
       |  SELECT DISTINCT qs.vec_id AS q_id, cs.vec_id AS c_id
       |  FROM sig qs JOIN sig cs
       |    ON cs.t = qs.t AND cs.bucket = qs.bucket AND cs.vec_id <> qs.vec_id
       |  WHERE qs.vec_id BETWEEN 0 AND 7),
       |scored AS (
       |  SELECT cand.q_id, cand.c_id,
       |    list_sum(list_transform(range(1, len(c.embedding)+1),
       |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
       |    / sqrt(list_sum(list_transform(range(1, len(q.embedding)+1),
       |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
       |    / sqrt(list_sum(list_transform(range(1, len(c.embedding)+1),
       |      i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))) AS cos
       |  FROM cand
       |  JOIN embeddings q ON q.vec_id = cand.q_id
       |  JOIN embeddings c ON c.vec_id = cand.c_id)
       |SELECT q_id, rank, c_id, round(cos, 9) AS cos FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, c_id) AS BIGINT) AS rank
       |  FROM scored) WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
  }

  /** Dynamic oracle for `vec_pq` — the codebook-embedding replay of the
    * ENCODE side: unit-normalize (in-order norm fold), per-subspace
    * fused v·c − ‖c‖²/2 argmax with first-max ties (row_number over
    * (s DESC, cid)), and the recon_cos fidelity column rebuilt from the
    * SELECTED codes. The raw dot `d` is carried separately from the
    * score `s = d − hn` — recomputing d as s + hn would differ by a
    * float rounding from the engine's independent fold. Per-vector sums
    * over the 8 subspaces use `list_sum(list(· ORDER BY j))`, matching
    * the engine's ascending-j left reduce. Lloyd-per-subspace training
    * stays engine-internal (reference-parity specs).
    */
  private def pqOracle: Map[String, String] = {
    val live = pqModelCache.live.filter { case ((d, m, ks), _) =>
      m == 8 && ks == 16 && graft.Engine.lastFixtureDir.contains(d) }
    live match {
      case (_, books) :: Nil => Map("vec_pq" -> vecPqSql(books))
      case _        => Map.empty
    }
  }

  private def vecPqSql(books: Array[Array[Array[Double]]]): String = {
    val sub = books(0)(0).length
    val rows = books.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (c, cid) =>
        s"($j, $cid, [${c.mkString(", ")}], ${c.map(x => x * x).sum / 2}, ${c.map(x => x * x).sum})"
      }
    }.mkString(", ")
    s"""WITH books AS (SELECT * FROM (VALUES $rows) b(j, cid, c, hn, cs2)),
       |u AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |      sqrt(list_sum(list_transform(embedding,
       |        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS uv
       |  FROM embeddings),
       |sc AS (
       |  SELECT vec_id, b.j, b.cid, b.cs2, b.hn,
       |    list_sum(list_transform(range(1, $sub + 1),
       |      i -> uv[b.j * $sub + i] * b.c[i])) AS d
       |  FROM u CROSS JOIN books b),
       |sel AS (
       |  SELECT vec_id, j, cid, cs2, d FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
       |      ORDER BY d - hn DESC, cid) AS r FROM sc)
       |  WHERE r = 1)
       |SELECT vec_id,
       |  string_agg(CAST(cid AS VARCHAR), ',' ORDER BY j) AS codes,
       |  round(list_sum(list(d ORDER BY j))
       |    / sqrt(list_sum(list(cs2 ORDER BY j))), 6) AS recon_cos
       |FROM sel GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  /** Dynamic oracle for `ann_pq` — the full ADC serving chain replayed
    * against the embedded codebooks: corpus codes rebuilt exactly as in
    * [[pqOracle]], per-query LUT = in-order ‖q_sub − c‖² folds, ADC
    * score = 1 − (ascending-j sum of the code's LUT entries)/2,
    * shortlist k·4 by (adc DESC, c_id), then the exact-cosine re-rank
    * (sim_topk math) emits the top-10 — mirroring [[pqTopK]] +
    * [[rerankExact]] stage for stage.
    */
  private def annPqOracle: Map[String, String] = {
    val live = pqModelCache.live.filter { case ((d, m, ks), _) =>
      m == 8 && ks == 16 && graft.Engine.lastFixtureDir.contains(d) }
    live match {
      case (_, books) :: Nil => Map("ann_pq" -> annPqSql(books))
      case _        => Map.empty
    }
  }

  private def annPqSql(books: Array[Array[Array[Double]]]): String = {
    val sub = books(0)(0).length
    val rows = books.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (c, cid) =>
        s"($j, $cid, [${c.mkString(", ")}], ${c.map(x => x * x).sum / 2})"
      }
    }.mkString(", ")
    s"""WITH books AS (SELECT * FROM (VALUES $rows) b(j, cid, c, hn)),
       |u AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |      sqrt(list_sum(list_transform(embedding,
       |        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS uv
       |  FROM embeddings),
       |sc AS (
       |  SELECT vec_id, b.j, b.cid,
       |    list_sum(list_transform(range(1, $sub + 1),
       |      i -> uv[b.j * $sub + i] * b.c[i])) - b.hn AS s
       |  FROM u CROSS JOIN books b),
       |codes AS (
       |  SELECT vec_id AS c_id, j, cid AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
       |      ORDER BY s DESC, cid) AS r FROM sc) WHERE r = 1),
       |lut AS (
       |  SELECT q.vec_id AS q_id, b.j, b.cid,
       |    list_sum(list_transform(range(1, $sub + 1),
       |      i -> (uv[b.j * $sub + i] - b.c[i]) * (uv[b.j * $sub + i] - b.c[i]))) AS d
       |  FROM (SELECT * FROM u WHERE vec_id BETWEEN 0 AND 7) q CROSS JOIN books b),
       |adc AS (
       |  SELECT l.q_id, c.c_id,
       |    1 - list_sum(list(l.d ORDER BY c.j)) / 2 AS adc
       |  FROM codes c JOIN lut l ON l.j = c.j AND l.cid = c.code
       |  WHERE c.c_id <> l.q_id
       |  GROUP BY l.q_id, c.c_id),
       |short AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY adc DESC, c_id) AS sr FROM adc) WHERE sr <= 40),
       |exact AS (
       |  SELECT s.q_id, s.c_id,
       |    list_sum(list_transform(range(1, len(ce.embedding)+1),
       |      i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE)))
       |    / sqrt(list_sum(list_transform(range(1, len(qe.embedding)+1),
       |      i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE))))
       |    / sqrt(list_sum(list_transform(range(1, len(ce.embedding)+1),
       |      i -> CAST(ce.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE)))) AS cos
       |  FROM short s
       |  JOIN embeddings qe ON qe.vec_id = s.q_id
       |  JOIN embeddings ce ON ce.vec_id = s.c_id)
       |SELECT q_id, rank, c_id, round(cos, 9) AS cos FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, c_id) AS BIGINT) AS rank
       |  FROM exact) WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
  }

  /** Dynamic oracle for `ann_ivfpq` AND `ann_ivfpq_disk` (shared — the
    * persisted index is spec-pinned row-identical to the in-memory one,
    * so one replay proves both, the apply_verify-family convention):
    * both models embedded; corpus cells by the dot−hn first-max argmax
    * (ivfCell's rule), residual codes per subspace, query probes by
    * ASCENDING L2 with (d, cid) ties (ivfPqLuts sorts exactly so —
    * note the two stages deliberately use different float expressions,
    * dot-based assignment vs L2-based probing, and the mirror keeps
    * each), residual-shifted LUTs, ADC over only the probed cells'
    * codes, shortlist k·4, exact-cosine re-rank.
    */
  private def ivfPqOracle: Map[String, String] = {
    val live = ivfPqModelCache.live.collect {
      case ((key, 16, 8, 16), model) => (key, model) }
    // the append demo trains its OWN frozen model under "<dir>#even"
    // (the no-retrain contract) — it lives alongside the plain-dir
    // model in one Verify JVM, so the two are keyed apart here instead
    // of tripping the single-entry ambiguity guard; both legs are
    // additionally keyed to the dump's dir (round-17 ADVICE)
    val d = graft.Engine.lastFixtureDir
    val plain = live.filter { case (key, _) => d.contains(key) }
    val even = live.filter { case (key, _) => d.map(_ + "#even").contains(key) }
    val base = plain match {
      case (_, model) :: Nil =>
        val sql = ivfPqSql(model, where = false)
        Map("ann_ivfpq" -> sql, "ann_ivfpq_disk" -> sql,
          "ann_ivfpq_where" -> ivfPqSql(model, where = true),
          // delete demo: plain model, candidates restricted to the
          // surviving (even) ids — tombstoning never re-encodes
          "ann_ivfpq_delete" ->
            ivfPqSql(model, where = false, candidatePred = " AND c.c_id % 2 = 0"))
      case _ => Map.empty[String, String]
    }
    val app = even match {
      // the appended index = evens + odds ALL encoded with the frozen
      // even-trained model (append never re-encodes), so the replay is
      // the same chain under that model over the full corpus
      case (_, model) :: Nil => Map("ann_ivfpq_append" -> ivfPqSql(model, where = false))
      case _        => Map.empty[String, String]
    }
    base ++ app
  }

  private def ivfPqSql(model: IvfPqModel, where: Boolean,
      candidatePred: String = ""): String = {
    val sub = model.books(0)(0).length
    val coarseRows = model.coarse.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.mkString(", ")}], ${c.map(x => x * x).sum / 2})"
    }.mkString(", ")
    val bookRows = model.books.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (c, cid) =>
        s"($j, $cid, [${c.mkString(", ")}], ${c.map(x => x * x).sum / 2})"
      }
    }.mkString(", ")
    s"""WITH coarse AS (SELECT * FROM (VALUES $coarseRows) t(cid, c, hn)),
       |books AS (SELECT * FROM (VALUES $bookRows) b(j, cid, c, hn)),
       |u AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |      sqrt(list_sum(list_transform(embedding,
       |        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS uv
       |  FROM embeddings),
       |cscore AS (
       |  SELECT u.vec_id, u.uv, t.cid, t.c,
       |    list_sum(list_transform(range(1, len(uv)+1), i -> uv[i] * t.c[i])) - t.hn AS s
       |  FROM u CROSS JOIN coarse t),
       |ca AS (
       |  SELECT vec_id, uv, cid AS cell, c AS cc FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS r
       |    FROM cscore) WHERE r = 1),
       |res AS (
       |  SELECT vec_id, cell,
       |    list_transform(range(1, len(uv)+1), i -> uv[i] - cc[i]) AS rv
       |  FROM ca),
       |rsc AS (
       |  SELECT vec_id, cell, b.j, b.cid,
       |    list_sum(list_transform(range(1, $sub + 1),
       |      i -> rv[b.j * $sub + i] * b.c[i])) - b.hn AS s
       |  FROM res CROSS JOIN books b),
       |codes AS (
       |  SELECT vec_id AS c_id, cell, j, cid AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
       |      ORDER BY s DESC, cid) AS r FROM rsc) WHERE r = 1),
       |qp AS (
       |  SELECT vec_id AS q_id, uv, cid AS cell, c AS cc FROM (
       |    SELECT u.vec_id, u.uv, t.cid, t.c,
       |      row_number() OVER (PARTITION BY u.vec_id ORDER BY
       |        list_sum(list_transform(range(1, len(uv)+1),
       |          i -> (uv[i] - t.c[i]) * (uv[i] - t.c[i]))) ASC, t.cid) AS pr
       |    FROM (SELECT * FROM u WHERE vec_id BETWEEN 0 AND 7) u CROSS JOIN coarse t)
       |  WHERE pr <= 4),
       |lut AS (
       |  SELECT q_id, cell, b.j, b.cid,
       |    list_sum(list_transform(range(1, $sub + 1),
       |      i -> (uv[b.j * $sub + i] - cc[b.j * $sub + i] - b.c[i])
       |         * (uv[b.j * $sub + i] - cc[b.j * $sub + i] - b.c[i]))) AS d
       |  FROM qp CROSS JOIN books b),
       |adc AS (
       |  SELECT l.q_id, c.c_id,
       |    1 - list_sum(list(l.d ORDER BY c.j)) / 2 AS adc
       |  FROM codes c JOIN lut l ON l.cell = c.cell AND l.j = c.j AND l.cid = c.code
       |${if (where)
           """  JOIN embeddings al ON al.vec_id = c.c_id
             |  JOIN embeddings ql ON ql.vec_id = l.q_id""".stripMargin
         else "  "}
       |  WHERE c.c_id <> l.q_id${if (where) " AND al.label = ql.label" else ""}$candidatePred
       |  GROUP BY l.q_id, c.c_id),
       |short AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY adc DESC, c_id) AS sr FROM adc) WHERE sr <= 40),
       |exact AS (
       |  SELECT s.q_id, s.c_id,
       |    list_sum(list_transform(range(1, len(ce.embedding)+1),
       |      i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE)))
       |    / sqrt(list_sum(list_transform(range(1, len(qe.embedding)+1),
       |      i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE))))
       |    / sqrt(list_sum(list_transform(range(1, len(ce.embedding)+1),
       |      i -> CAST(ce.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE)))) AS cos
       |  FROM short s
       |  JOIN embeddings qe ON qe.vec_id = s.q_id
       |  JOIN embeddings ce ON ce.vec_id = s.c_id)
       |SELECT q_id, rank, c_id, round(cos, 9) AS cos FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, c_id) AS BIGINT) AS rank
       |  FROM exact) WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
  }

  /** Dynamic oracle for `embed_project` — the basis-embedding replay of
    * the PCA APPLY side (center → two in-order dots → residual norm,
    * all mirrorable folds); the power-iteration FIT stays
    * engine-internal (`embed_pca`, planted-axis specs) — the same
    * honest train/apply split as bpe_merges/bpe_encode.
    */
  private def pcaOracle: Map[String, String] = {
    val live = pcaCache.live.filter { case (d, _) => graft.Engine.lastFixtureDir.contains(d) }
    live match {
      case (_, pca) :: Nil if pca.components.length >= 2 =>
        Map("embed_project" -> embedProjectSql(pca))
      case _ => Map.empty
    }
  }

  private def embedProjectSql(m: PcaModel): String = {
    val mu = s"[${m.mean.mkString(", ")}]"
    val w1 = s"[${m.components(0)._1.mkString(", ")}]"
    val w2 = s"[${m.components(1)._1.mkString(", ")}]"
    s"""WITH model AS (SELECT CAST($mu AS DOUBLE[]) AS mu,
       |  CAST($w1 AS DOUBLE[]) AS w1, CAST($w2 AS DOUBLE[]) AS w2),
       |c AS (
       |  SELECT vec_id,
       |    list_transform(range(1, len(embedding)+1),
       |      i -> CAST(embedding[i] AS DOUBLE) - mu[i]) AS cv,
       |    w1, w2
       |  FROM embeddings CROSS JOIN model),
       |p AS (
       |  SELECT vec_id,
       |    list_sum(list_transform(range(1, len(cv)+1), i -> cv[i] * w1[i])) AS p1,
       |    list_sum(list_transform(range(1, len(cv)+1), i -> cv[i] * w2[i])) AS p2,
       |    list_sum(list_transform(cv, x -> x * x)) AS n2
       |  FROM c)
       |SELECT vec_id, round(p1, 6) AS p1, round(p2, 6) AS p2,
       |  round(sqrt(greatest(n2 - p1 * p1 - p2 * p2, 0)), 6) AS resid_norm
       |FROM p ORDER BY vec_id""".stripMargin
  }

  /** Dynamic oracle for `cluster_kmeans` — the centroid-embedding
    * replay of the REPORT side (assignment + per-cell inertia/avg
    * distance); Lloyd training itself stays engine-internal (bounded
    * deterministic driver loop, spec-pinned against planted clusters).
    * Per-row d2 is the exact in-order fold; the per-CELL sums are
    * each engine's own float aggregation order, adjudicated by the
    * round(·,4) outputs — the accumulated error bound (N·u·Σ|x| ≈ 3e-8
    * at sf0.1 cell sizes) sits ~3 orders under the rounding boundary.
    */
  private def kmeansOracle: Map[String, String] = {
    val live = kmeansCache.live.filter { case ((d, k, iters), _) =>
      k == 8 && iters == 8 && graft.Engine.lastFixtureDir.contains(d) }
    live match {
      case (_, cent) :: Nil => Map("cluster_kmeans" -> clusterKmeansSql(cent))
      case _        => Map.empty
    }
  }

  private def clusterKmeansSql(cent: Array[Array[Double]]): String = {
    val rows = cent.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.mkString(", ")}], ${c.map(x => x * x).sum / 2})"
    }.mkString(", ")
    s"""WITH cent AS (SELECT * FROM (VALUES $rows) t(cid, c, hn)),
       |cs AS (
       |  SELECT e.vec_id, e.embedding, t.cid, t.c,
       |    list_sum(list_transform(range(1, len(e.embedding)+1),
       |      i -> CAST(e.embedding[i] AS DOUBLE) * t.c[i])) - t.hn AS s
       |  FROM embeddings e CROSS JOIN cent t),
       |assigned AS (
       |  SELECT vec_id, embedding, cid AS cell, c FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS ar
       |    FROM cs) WHERE ar = 1),
       |d AS (
       |  SELECT cell,
       |    list_sum(list_transform(range(1, len(embedding)+1),
       |      i -> (CAST(embedding[i] AS DOUBLE) - c[i]) * (CAST(embedding[i] AS DOUBLE) - c[i]))) AS d2
       |  FROM assigned)
       |SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
       |  round(sum(d2), 4) AS inertia,
       |  round(avg(sqrt(d2)), 4) AS avg_dist
       |FROM d GROUP BY cell ORDER BY cell""".stripMargin
  }

  /** Dynamic oracle for `dedup_embed` — the plane-embedding replay of
    * [[embedNearDup]]'s candidate generation (any-table collision,
    * bucket-size cap, v1 < v2 dedup) + the threshold-filtered cosine.
    */
  private def dedupEmbedOracle: Map[String, String] = {
    val live = lshPlaneCache.live.filter { case ((d, h, tables), _) =>
      h == 6 && tables == 4 && graft.Engine.lastFixtureDir.contains(d) }
    live match {
      case (_, planes) :: Nil => Map("dedup_embed" -> dedupEmbedSql(planes, h = 6))
      case _        => Map.empty
    }
  }

  private def dedupEmbedSql(planes: Array[Array[Double]], h: Int): String = {
    val rows = planes.zipWithIndex.map { case (p, i) =>
      s"(${i / h}, ${i % h}, [${p.mkString(", ")}])"
    }.mkString(", ")
    s"""WITH planes AS (SELECT * FROM (VALUES $rows) p(t, b, pl)),
       |sig AS (
       |  SELECT e.vec_id, p.t,
       |    string_agg(CASE WHEN list_sum(list_transform(range(1, len(e.embedding)+1),
       |      i -> CAST(e.embedding[i] AS DOUBLE) * pl[i])) >= 0
       |      THEN '1' ELSE '0' END, '' ORDER BY p.b) AS bucket
       |  FROM embeddings e CROSS JOIN planes p
       |  GROUP BY e.vec_id, p.t),
       |szb AS (
       |  SELECT t, bucket FROM sig GROUP BY t, bucket
       |  HAVING count(*) > 1 AND count(*) <= 10000),
       |pairs AS (
       |  SELECT DISTINCT a.vec_id AS v1, c.vec_id AS v2
       |  FROM szb JOIN sig a USING (t, bucket) JOIN sig c USING (t, bucket)
       |  WHERE c.vec_id > a.vec_id),
       |scored AS (
       |  SELECT v1, v2,
       |    list_sum(list_transform(range(1, len(e2.embedding)+1),
       |      i -> CAST(e1.embedding[i] AS DOUBLE) * CAST(e2.embedding[i] AS DOUBLE)))
       |    / sqrt(list_sum(list_transform(range(1, len(e1.embedding)+1),
       |      i -> CAST(e1.embedding[i] AS DOUBLE) * CAST(e1.embedding[i] AS DOUBLE))))
       |    / sqrt(list_sum(list_transform(range(1, len(e2.embedding)+1),
       |      i -> CAST(e2.embedding[i] AS DOUBLE) * CAST(e2.embedding[i] AS DOUBLE)))) AS cos
       |  FROM pairs
       |  JOIN embeddings e1 ON e1.vec_id = v1
       |  JOIN embeddings e2 ON e2.vec_id = v2)
       |SELECT v1, v2, round(cos, 9) AS cos FROM scored
       |WHERE cos >= 0.4 ORDER BY v1, v2""".stripMargin
  }

  /** `ann_recall`'s replay: the brute truth chain (sim_topk's oracle)
    * and the centroid-embedded IVF chain (annIvfSql's body) recomputed
    * independently, intersected per query. */
  private def annRecallSql(cent: Array[Array[Double]]): String = {
    val rows = cent.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.mkString(", ")}], ${c.map(x => x * x).sum / 2})"
    }.mkString(", ")
    val np = math.min(4, cent.length)
    s"""WITH cent AS (SELECT * FROM (VALUES $rows) t(cid, c, hn)),
       |q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |  WHERE vec_id BETWEEN 0 AND 7),
       |bscored AS (
       |  SELECT q.q_id, c.vec_id AS c_id,
       |    list_sum(list_transform(range(1, len(c.embedding)+1),
       |      i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
       |    / sqrt(list_sum(list_transform(range(1, len(q.q_emb)+1),
       |      i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))))
       |    / sqrt(list_sum(list_transform(range(1, len(c.embedding)+1),
       |      i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))) AS cos
       |  FROM q JOIN embeddings c ON c.vec_id <> q.q_id),
       |btop AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, c_id) AS rank FROM bscored) WHERE rank <= 10),
       |qs AS (
       |  SELECT q_id, q_emb, cid,
       |    list_sum(list_transform(range(1, len(q_emb)+1),
       |      i -> CAST(q_emb[i] AS DOUBLE) * c[i])) - hn AS s
       |  FROM q CROSS JOIN cent),
       |probes AS (
       |  SELECT q_id, q_emb, cid AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY s DESC, cid) AS pr
       |    FROM qs) WHERE pr <= $np),
       |cs AS (
       |  SELECT e.vec_id AS c_id, e.embedding AS c_emb, t.cid,
       |    list_sum(list_transform(range(1, len(e.embedding)+1),
       |      i -> CAST(e.embedding[i] AS DOUBLE) * t.c[i])) - t.hn AS s
       |  FROM embeddings e CROSS JOIN cent t),
       |assigned AS (
       |  SELECT c_id, c_emb, cid AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY c_id ORDER BY s DESC, cid) AS ar
       |    FROM cs) WHERE ar = 1),
       |ascored AS (
       |  SELECT p.q_id, a.c_id,
       |    list_sum(list_transform(range(1, len(a.c_emb)+1),
       |      i -> CAST(p.q_emb[i] AS DOUBLE) * CAST(a.c_emb[i] AS DOUBLE)))
       |    / sqrt(list_sum(list_transform(range(1, len(p.q_emb)+1),
       |      i -> CAST(p.q_emb[i] AS DOUBLE) * CAST(p.q_emb[i] AS DOUBLE))))
       |    / sqrt(list_sum(list_transform(range(1, len(a.c_emb)+1),
       |      i -> CAST(a.c_emb[i] AS DOUBLE) * CAST(a.c_emb[i] AS DOUBLE)))) AS cos
       |  FROM probes p JOIN assigned a USING (cell)
       |  WHERE a.c_id <> p.q_id),
       |atop AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, c_id) AS rank FROM ascored) WHERE rank <= 10),
       |hits AS (
       |  SELECT b.q_id, count(*) AS n_hits
       |  FROM btop b JOIN atop a ON a.q_id = b.q_id AND a.c_id = b.c_id
       |  GROUP BY 1)
       |SELECT q.q_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 10.0, 6) AS recall_at_10
       |FROM q LEFT JOIN hits h ON h.q_id = q.q_id
       |ORDER BY q.q_id""".stripMargin
  }

  private def annIvfSql(cent: Array[Array[Double]]): String = {
    val rows = cent.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.mkString(", ")}], ${c.map(x => x * x).sum / 2})"
    }.mkString(", ")
    val np = math.min(4, cent.length)
    s"""WITH cent AS (SELECT * FROM (VALUES $rows) t(cid, c, hn)),
       |q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |  WHERE vec_id BETWEEN 0 AND 7),
       |qs AS (
       |  SELECT q_id, q_emb, cid,
       |    list_sum(list_transform(range(1, len(q_emb)+1),
       |      i -> CAST(q_emb[i] AS DOUBLE) * c[i])) - hn AS s
       |  FROM q CROSS JOIN cent),
       |probes AS (
       |  SELECT q_id, q_emb, cid AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY s DESC, cid) AS pr
       |    FROM qs) WHERE pr <= $np),
       |cs AS (
       |  SELECT e.vec_id AS c_id, e.embedding AS c_emb, t.cid,
       |    list_sum(list_transform(range(1, len(e.embedding)+1),
       |      i -> CAST(e.embedding[i] AS DOUBLE) * t.c[i])) - t.hn AS s
       |  FROM embeddings e CROSS JOIN cent t),
       |assigned AS (
       |  SELECT c_id, c_emb, cid AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY c_id ORDER BY s DESC, cid) AS ar
       |    FROM cs) WHERE ar = 1),
       |scored AS (
       |  SELECT p.q_id, a.c_id,
       |    list_sum(list_transform(range(1, len(a.c_emb)+1),
       |      i -> CAST(p.q_emb[i] AS DOUBLE) * CAST(a.c_emb[i] AS DOUBLE)))
       |    / sqrt(list_sum(list_transform(range(1, len(p.q_emb)+1),
       |      i -> CAST(p.q_emb[i] AS DOUBLE) * CAST(p.q_emb[i] AS DOUBLE))))
       |    / sqrt(list_sum(list_transform(range(1, len(a.c_emb)+1),
       |      i -> CAST(a.c_emb[i] AS DOUBLE) * CAST(a.c_emb[i] AS DOUBLE)))) AS cos
       |  FROM probes p JOIN assigned a USING (cell)
       |  WHERE a.c_id <> p.q_id)
       |SELECT q_id, rank, c_id, round(cos, 9) AS cos FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, c_id) AS BIGINT) AS rank
       |  FROM scored) WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
  }
}
