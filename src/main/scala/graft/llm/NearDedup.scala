package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, Tables}

/** Near-duplicate detection (SURVEY.md §2.12): MinHash + LSH banding,
  * shingle-set Jaccard verification, n-gram Jaccard, and SimHash — all as
  * pure Spark expressions with engine-portable hashing (md5 hex strings)
  * so every stage is mirrored exactly by a DuckDB oracle.
  *
  * Scale design — per-doc ARRAY representation + higher-order functions:
  * shingles/signatures live as array columns and minhash/simhash/Jaccard
  * are `transform`/`array_min`/`aggregate`/`array_intersect` projections,
  * i.e. NARROW operations: one scan of the corpus, no row-explosion
  * through a shuffle (the exploded formulation re-ran the scan+shingle
  * pipeline 6× and shuffled |docs|×K rows; this one shuffles only the
  * tiny (band_sig → doc_id) pairs). Candidate generation is the classic
  * LSH shape — bucket by (band, band_sig), emit intra-bucket pairs — so
  * there is no O(n²) all-pairs stage anywhere; only bucket-colliding
  * pairs reach the exact Jaccard verifier.
  */
object NearDedup {

  private val K = 8 // minhash functions (salts)
  private val B = 4 // bands (K/B = 2 rows per band)

  /** doc_id → distinct 3-word shingle array (the unit of near-dup
    * comparison; shingle sets are far more distinctive than word sets).
    */
  def shingleArrays(docs: DataFrame): DataFrame = {
    val ws = split(col("text"), " ")
    // zip_with over shifted slices, NOT transform+element_at: the latter
    // inlines the split() into every lambda element (O(words²) re-split
    // per doc — measured 10× slower). zip_with pads to the LONGER input,
    // so the null-concat tail is cut by the final slice to size-2.
    val zipped = zip_with(
      zip_with(ws, slice(ws, lit(2), size(ws)), (a, b) => concat(a, lit(" "), b)),
      slice(ws, lit(3), size(ws)),
      (ab, c) => concat(ab, lit(" "), c))
    // greatest(.., 0): the slice length must stay TOTAL even though the
    // size>=3 filter below makes short docs unreachable semantically —
    // InferFiltersFromGenerate derives isnotnull/size>0 predicates from
    // a downstream explode(sh), pushdown inlines this expression into
    // the scan-side Filter, and FilterExec evaluates IsNotNull
    // predicates FIRST: a 1-word doc then evaluates slice(.., -1)
    // speculatively and crashes the task (hit by admitOverlap, the
    // first consumer to shingle a raw un-memoized batch inside a plan
    // with its own explode; the persisted shingle cache shields every
    // older consumer behind an InMemoryRelation boundary).
    graft.Engine.spread(docs, "doc_id")
      .filter(size(ws) >= 3)
      .select(
        col("doc_id"),
        array_distinct(slice(zipped, lit(1), greatest(size(ws) - 2, lit(0)))).as("sh"))
  }

  /** doc_id → distinct word array (token-set view, used by simhash). */
  def wordArrays(docs: DataFrame): DataFrame =
    graft.Engine.spread(docs, "doc_id")
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("sh"))

  /** Minhash signature k over an array column: min md5(salt ':' x). */
  private def sig(arr: Column, salt: Int): Column =
    array_min(transform(arr, x => md5(concat(lit(s"$salt:"), x))))

  /** doc_id, sh, band_0..band_{B-1} — banded LSH signatures, one narrow
    * projection (bands concatenate their salts' minhashes in salt order,
    * matching the oracle's `string_agg(sig, ',' ORDER BY salt)`).
    */
  def banded(arrs: DataFrame): DataFrame = {
    val bandCols = (0 until B).map { b =>
      concat_ws(",", (0 until K / B).map(r => sig(col("sh"), b * (K / B) + r)): _*)
        .as(s"band_$b")
    }
    arrs.select(col("doc_id") +: col("sh") +: bandCols: _*)
  }

  /** Candidate pairs = docs sharing any (band, band_sig) bucket.
    * One shuffle on (band, band_sig); pairs come from intra-bucket
    * combination of the sorted doc list (doc1 < doc2 by construction).
    *
    * `maxBucket` is the skew guard for the 100 TB design point: a bucket
    * of k docs emits k(k-1)/2 pairs from ONE task, so a single
    * boilerplate-driven mega-bucket would dominate the whole job.
    * Oversized buckets are dropped (standard LSH practice — members that
    * are genuine near-dups still collide in one of the other B-1 bands;
    * mass-identical docs belong to exact dedup, which is O(n)).
    */
  def candidates(banded: DataFrame, maxBucket: Int = 10000): DataFrame = {
    val buckets = banded
      .select(col("doc_id"),
        posexplode(array((0 until B).map(b => col(s"band_$b")): _*))
          .as(Seq("band", "band_sig")))
      .groupBy("band", "band_sig")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxBucket)
    buckets
      .select(posexplode(col("ds")).as(Seq("i", "doc1")), col("ds"))
      .select(col("doc1"),
        explode(slice(col("ds"), col("i") + 2, size(col("ds")))).as("doc2"))
      .distinct()
  }

  /** Exact shingle-set Jaccard for candidate pairs via array_intersect —
    * two hash-joins against the (small) per-doc array table, then a
    * narrow intersection; no inverted-index blowup.
    */
  def jaccard(pairs: DataFrame, arrs: DataFrame): DataFrame =
    pairs
      .join(arrs.select(col("doc_id").as("doc1"), col("sh").as("sh1")), "doc1")
      .join(arrs.select(col("doc_id").as("doc2"), col("sh").as("sh2")), "doc2")
      .select(
        col("doc1"), col("doc2"),
        size(col("sh1")).cast("long").as("n1"),
        size(col("sh2")).cast("long").as("n2"),
        size(array_intersect(col("sh1"), col("sh2"))).cast("long").as("com"))
      .withColumn("jacc",
        col("com").cast("double") / (col("n1") + col("n2") - col("com")))

  /** Portable SimHash (default 32-bit) as ONE narrow projection: per
    * doc, sum ±1 bit-votes of each element's md5 across the array
    * (`aggregate` + `zip_with`), then render the sign vector as a
    * '0'/'1' string. No explode, no shuffle, no engine-specific bit ops
    * (hex digit → value via ascii arithmetic; bit via floor/pow/%).
    * `bits` must be a multiple of 4 and ≤128 (md5 supplies 32 hex
    * digits); 64 is the Manku et al. width [[dedup_simhash_pairs]] uses.
    */
  def simhash(arrs: DataFrame, bits: Int = 32): DataFrame = {
    require(bits >= 4 && bits % 4 == 0 && bits <= 128,
      s"bits must be 4k in [4, 128], got $bits") // 0 would emit an empty
      // signature: every doc collides into one bucket with no error
    // ±1 votes, MSB-first — value-identical to the original per-hex-digit
    // substr/ascii arithmetic, restructured for the interpreted HOF path
    // (lambdas don't get subexpression elimination, so per-element work
    // is the whole cost): each word's md5 hex converts ONCE into 56-bit
    // slab longs (`conv` base-16; 14 digits per slab keeps the value in
    // a signed long — 16 would wrap negative and sign-extend the shift),
    // and each vote is then element_at + a LITERAL integer shift — ~4
    // integer ops vs the old substr+ascii+floor/pow chain per bit. Bit b
    // of slab value = digit b/4's weight-2^(3-b%4) bit, so the emitted
    // signature string is byte-identical and the oracles are untouched.
    val slabBits = 56
    def slabsOf(h: Column): Column = array((0 until bits by slabBits).map { lo =>
      val width = math.min(slabBits, bits - lo)
      conv(h.substr(lo / 4 + 1, (width + 3) / 4), 16, 10).cast("long")
    }: _*)
    def votesOf(s: Column): Column = array((0 until bits).map { b =>
      val slabIdx = b / slabBits
      val width = math.min(slabBits, bits - slabIdx * slabBits)
      val j = width - 1 - (b - slabIdx * slabBits) // MSB-first within slab
      (shiftright(element_at(s, slabIdx + 1), j) % 2) * 2 - 1
    }: _*)
    val votes = aggregate(
      transform(col("sh"), w => slabsOf(md5(w))),
      array_repeat(lit(0L), bits),
      (acc, s) => zip_with(acc, votesOf(s), (x, y) => x + y))
    arrs.select(
      col("doc_id"),
      array_join(transform(votes, v => when(v > 0, "1").otherwise("0")), "")
        .as("sim_sig"))
  }

  /** Connected components over an undirected pair list — the cluster
    * step after near-dup detection (every doc in a dup cluster maps to
    * the cluster's minimum doc_id, the canonical survivor).
    *
    * Iterative min-label propagation: each round every node takes the
    * min of its own label and its neighbors' labels; converged when no
    * label changes. Rounds = graph diameter (dup clusters are tiny and
    * dense — a handful of rounds), each round ONE join + ONE aggregate,
    * all distributed; the driver only checks the convergence counter.
    * The fixpoint is unique (min reachable id) regardless of execution
    * order, so the DuckDB recursive-CTE oracle matches exactly.
    *
    * Adaptive execution: a `take(driverEdgeLimit+1)` probes the edge
    * list (one action — it doubles as the fetch), and a graph at
    * or under `driverEdgeLimit` runs exact union-find ON THE DRIVER —
    * identical labels (union-by-min-root makes every root its
    * component's minimum id), two Spark jobs total instead of the
    * loop's ~6+ (the distributed rounds cost ~2.3 s of pure job
    * overhead on a 185-edge graph, measured at sf0.1). The collect is
    * bounded BY THE THRESHOLD ITSELF (100k edges × 16 B ≈ 1.6 MB),
    * not by an assumption about the data: one edge past the limit and
    * the distributed min-label loop below runs instead — that loop is
    * the 100 TB path, the driver path is the low-latency path every
    * real near-dup batch (a few thousand verified pairs at most) takes.
    *
    * `callerPersisted`: the caller has persisted `pairs` and owns that
    * cache entry. The rename-only projection below then sameResult-maps
    * to it, so it is neither persisted again (which double-registered
    * the plan, the CacheManager warning VERDICT r18 #6 flagged) nor
    * unpersisted on exit (which evicted the caller's entry out from
    * under it). Otherwise the projection is persisted here and released
    * here. The caller says so explicitly: inferring it from the
    * projection's `storageLevel` depends on how the Spark version
    * resolves a cached plan under a projection.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50,
      driverEdgeLimit: Int = 100000, callerPersisted: Boolean = false): DataFrame = {
    val fwd0 = pairs.select(col("doc1").as("a"), col("doc2").as("b"))
    val fwd = if (callerPersisted) fwd0 else fwd0.persist()
    // The driver fast path packs ids into Long; only integral id columns
    // qualify (a string id would cast to null and NPE in getLong, and the
    // output type would silently differ from the distributed loop's).
    val idType = fwd.schema("a").dataType
    val integralIds = idType match {
      case _: org.apache.spark.sql.types.ByteType | _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    // ONE action chooses the path AND fetches the edges: take(limit+1)
    // returns at most limit+1 rows — within the limit we already hold
    // the whole edge list (no separate count+collect, round-10: the
    // count job was ~0.3 s of pure overhead per admission on the
    // dedup_incremental chain); one row over means the distributed
    // loop runs instead, and the partial scan is discarded.
    val es0 =
      if (integralIds)
        fwd.select(col("a").cast("long"), col("b").cast("long"))
          .take(driverEdgeLimit + 1)
      else null
    if (es0 != null && es0.length <= driverEdgeLimit) {
      try {
        val es = es0.map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x // path compression
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        es.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val session = pairs.sparkSession
        import session.implicits._
        // Cast back to the input id type so both paths return the same
        // schema regardless of which one the edge count selected.
        parent.keys.toSeq.sorted.map(k => (k, find(k)))
          .toDF("doc_id", "cluster_id")
          .select(col("doc_id").cast(idType).as("doc_id"),
            col("cluster_id").cast(idType).as("cluster_id"))
      } finally { if (!callerPersisted) fwd.unpersist(); () }
    } else connectedComponentsLoop(fwd, maxIters, releaseFwd = !callerPersisted)
  }

  /** The distributed min-label loop ([[connectedComponents]]' large-graph
    * path). `fwd` arrives persisted; released here iff `releaseFwd`
    * (a caller-owned cache is left to its owner).
    */
  private def connectedComponentsLoop(fwd: DataFrame, maxIters: Int,
      releaseFwd: Boolean = true): DataFrame = {
    // fwd is persisted by the caller (it was counted for the path
    // choice), so the reverse branch replays it from cache.
    // No distinct(): min-aggregation is duplicate-insensitive, so paying
    // a whole shuffle to dedup edges buys nothing (candidates() output is
    // unique (doc1<doc2) pairs anyway — forward and reverse can't collide).
    val edges = fwd
      .unionByName(fwd.select(col("b").as("a"), col("a").as("b")))
      .persist()
    // Fused round 1: label = min(self, direct neighbors) in ONE aggregate
    // over the edges — identical to initializing label=self and running
    // one propagation round, but without the init-distinct, the edge⋈label
    // join, or the label-update join (3 stages saved on the biggest round,
    // the one that touches the whole graph).
    var labels = edges.groupBy(col("a").as("node"))
      .agg(min(col("b")).as("nbr"))
      .select(col("node"), least(col("node"), col("nbr")).as("label"))
      .persist()
    // Convergence early-exit (frontier propagation): a node's label can
    // only drop this round if a NEIGHBOR's label dropped last round, so
    // only last round's changed nodes (the frontier) need to push labels
    // through the edge join. Round 1's frontier is every node the fused
    // init lowered; after it, near-clique dup clusters leave a tiny
    // frontier (already-minimal nodes are done), so rounds 2..d join
    // |frontier| rows against the edges instead of the full label table —
    // the full-graph work happens once, not once per round. Fixpoint is
    // unchanged (same min-label lattice, delta-stepped; duplicate edges
    // and delta ordering can't change a min), converged ⇔ frontier empty.
    var frontier = labels.filter(col("label") =!= col("node"))
    var converged = false
    var round = 1 // the fused init IS round 1
    try {
      // materialize the fused round (edges + labels caches) and its
      // frontier in one action; empty frontier = isolated-free graph of
      // self-minimal nodes only (possible only with no edges at all here,
      // but the generic API keeps the check)
      converged = frontier.count() == 0
      while (!converged) {
      round += 1
      // rounds = graph diameter for min-label propagation; dup clusters
      // are near-cliques (diameter ≤ a handful), so a run that reaches
      // maxIters signals a pathological input (or an upstream bug emitting
      // a giant chain) — fail loudly instead of spinning the driver.
      if (round > maxIters)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIters rounds " +
            "(pathological long-chain graph? raise maxIters explicitly)")
      val nbrMin = edges
        .join(frontier.select(col("node").as("b"), col("label")), "b")
        .groupBy(col("a").as("node"))
        .agg(min(col("label")).as("nbr_label"))
      // carry the previous label through the projection so convergence is
      // a filter on `next` itself — one action per round, no extra join
      val stepped = labels
        .join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("label").as("prev_label"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      // every 5th round, cut lineage with an eager localCheckpoint:
      // persist alone caches DATA but each round's plan still nests the
      // previous round's, so analysis/optimization cost (and failure
      // recovery depth) grows linearly with rounds otherwise
        val next = if (round % 5 == 0) stepped.localCheckpoint() else stepped.persist()
        // the next frontier is a filter over the PERSISTED `next`, so
        // referencing it in the next round's join replays from cache
        val newFrontier = next.filter(col("label") =!= col("prev_label"))
          .select("node", "label")
        val changed = newFrontier.count()
        labels.unpersist()
        labels = next
        frontier = newFrontier
        converged = changed == 0
      }
      // eagerly materialize the (small) result so every loop cache can be
      // released NOW — returning a plan over the persisted `labels` would
      // leak one cache entry per invocation with no way to unpersist it
      labels
        .select(col("node").as("doc_id"), col("label").as("cluster_id"))
        .localCheckpoint()
    } finally {
      // release caches on BOTH the success and the maxIters-failure path —
      // a caller that catches the non-convergence exception must not
      // inherit orphaned cache entries it has no handle to free
      labels.unpersist()
      edges.unpersist()
      if (releaseFwd) fwd.unpersist()
    }
  }

  /** Incremental near-dup admission — the streaming-corpus shape: a new
    * batch of docs is admitted against the banded-signature STATE of the
    * already-deduped corpus (the [[banded]] rows of previously admitted
    * docs), WITHOUT rescanning corpus text. Per-batch cost is
    * O(|batch| × bands + bucket collisions): new signatures key-join the
    * state's bucket table; only colliding pairs reach the exact Jaccard
    * verifier (both sides' shingle arrays travel in the banded rows).
    *
    * Admission rule: cluster the verified duplicate pairs (new↔new and
    * new↔state edges together, one [[connectedComponents]] run over the
    * tiny pair set) and admit a new doc iff its component contains no
    * state doc and it is its component's minimum new id — so a chain
    * b2~b1~old rejects BOTH b's, exactly like a full-batch re-cluster
    * would. Returns the admitted docs' banded rows: append them to the
    * state and the invariant "state = mutually-non-dup admitted docs"
    * is maintained for the next batch.
    *
    * Documented divergence from a full recompute (inherent to EVERY
    * streaming dedup, which never re-compares against rejected docs): a
    * new doc whose only near-dup link is to a doc REJECTED in an earlier
    * batch (not to any surviving state doc) is admitted, where a global
    * re-cluster over all history would have bridged them. Near-dup
    * relations are not transitive, so holding only survivors is the
    * standard corpus-dedup state bound (state grows with the deduped
    * corpus, not the raw feed).
    */
  def admitBatch(newBanded0: DataFrame, state0: DataFrame,
      maxBucket: Int = 10000): DataFrame = {
    // both inputs feed several stages under DIFFERENT exchanges
    // (buckets/candidates/arrs/anti-join), where Catalyst exchange reuse
    // does not apply — unpersisted, the md5-minhash banding (the CPU
    // core) would re-execute per reference (same measured 3.7× pattern
    // as the shingled() cache). Persisted for the span of this call and
    // released in finally: the admission runs eagerly (the CC loop
    // already is) and returns a localCheckpoint'd result, so no live
    // plan escapes holding the caches.
    val newBanded = newBanded0.persist()
    val state = state0.persist()
    try {
      val bandCols = (0 until B).map(b => col(s"band_$b"))
      def buckets(df: DataFrame): DataFrame = df.select(
        col("doc_id"),
        posexplode(array(bandCols: _*)).as(Seq("band", "band_sig")))
      // ONE bucket aggregation over batch + state buckets together:
      // each (band, band_sig) bucket collects its new ids and old ids
      // side by side, and both pair families — new↔new (the
      // candidates() shape) and new↔state — are emitted in-task from
      // the same aggregated row. The previous formulation ran three
      // separate shuffle pipelines for the same pair multiset
      // (candidates' bucket agg + a state-side window cap + the
      // batch⋈state bucket join, ~2 s of the measured per-batch cost at
      // sf0.1); this is one key-shuffle plus the shared distinct.
      //
      // Caps preserved exactly: new↔new needs 2..maxBucket NEW members
      // (candidates()' rule) and new↔state needs 1..maxBucket OLD
      // members (the state-side cap — band collision does not imply
      // near-duplication: a band_sig is two minhashes, so one
      // boilerplate shingle minimal under both salts gives every doc
      // containing it the same sig, and an uncapped hot key would emit
      // |batch bucket| × |state bucket| rows in one straggler task).
      // Dropped oversized buckets lose nothing real: genuine near-dups
      // still collide in one of the other B-1 bands.
      // persisted for the call span: BOTH pair families below derive
      // from this aggregate, and they meet again under the candidate
      // union's distinct — different exchanges, so without the persist
      // the whole bucket aggregation executes once per branch inside the
      // dupEdges job (measured ~0.7 s of the ~2.1 s admission at sf0.1).
      // Tiny by construction: one row per occupied (band, band_sig)
      // bucket with the member-id lists the caps bound anyway.
      val bucketed = buckets(newBanded).withColumn("is_new", lit(true))
        .unionByName(buckets(state).withColumn("is_new", lit(false)))
        .groupBy("band", "band_sig")
        .agg(
          sort_array(collect_list(when(col("is_new"), col("doc_id")))).as("ns"),
          sort_array(collect_list(when(!col("is_new"), col("doc_id")))).as("os"))
        .persist()
      try {
        val newNew = bucketed
          .filter(size(col("ns")).between(2, maxBucket))
          .select(posexplode(col("ns")).as(Seq("i", "doc1")), col("ns"))
          .select(col("doc1"),
            explode(slice(col("ns"), col("i") + 2, size(col("ns")))).as("doc2"))
        val newOld = bucketed
          .filter(size(col("ns")) >= 1 && size(col("os")).between(1, maxBucket))
          .select(explode(col("ns")).as("doc1"), col("os"))
          .select(col("doc1"), explode(col("os")).as("doc2"))
        val arrs = newBanded.select("doc_id", "sh")
          .unionByName(state.select("doc_id", "sh"))
        // The verified pair set is persisted and counted ONCE: the count
        // is the steady-state fast-path probe (a clean batch — no dup edge
        // at all, the common case once the corpus is deduped — admits
        // every doc and skips the CC run, the dominant per-batch fixed
        // cost), and on the non-empty path the CC's two edge-union
        // branches then replay the banding+Jaccard pipeline from cache
        // instead of re-executing it. `return` still runs every finally.
        val dupEdges = jaccard(newNew.unionByName(newOld).distinct(), arrs)
          .filter(col("jacc") >= 0.5)
          .select("doc1", "doc2")
          .persist()
        if (dupEdges.count() == 0) {
          dupEdges.unpersist()
          return newBanded.localCheckpoint()
        }
        // ≤100k edges (every realistic batch) takes the driver
        // union-find path → a plain local result, nothing cached. Above
        // the threshold the distributed loop's localCheckpoint backs the
        // labels until the session ends — a known, bounded (few rows per
        // clustered doc) residue of lineage truncation, not a per-batch
        // growth: NearDedupSpec's cache-hygiene test pins the common
        // path at exactly one surviving checkpoint per admission.
        val cc =
          try connectedComponents(dupEdges, callerPersisted = true)
          finally dupEdges.unpersist()
        val oldIds = state.select(col("doc_id"))
        // per component: reject if any state member; else keep the min NEW id
        val verdicts = cc
          .join(oldIds.withColumn("is_old", lit(true)), Seq("doc_id"), "left")
          .groupBy(col("cluster_id"))
          .agg(
            max(coalesce(col("is_old"), lit(false))).as("has_old"),
            min(when(col("is_old").isNull, col("doc_id"))).as("min_new"))
        val rejected = cc
          .join(oldIds, Seq("doc_id"), "left_anti") // only new docs get verdicts
          .join(verdicts, "cluster_id")
          .filter(col("has_old") || col("doc_id") =!= col("min_new"))
          .select("doc_id")
        newBanded.join(rejected, Seq("doc_id"), "left_anti").localCheckpoint()
      } finally bucketed.unpersist()
    } finally { newBanded.unpersist(); state.unpersist(); () }
  }

  /** Exact substring dedup (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better"): remove every document that
    * shares a contiguous ≥`k`-token span with an EARLIER (lower-id)
    * document. Any shared span of length ≥ k contains a shared k-token
    * window, so the span test reduces exactly to k-gram ownership:
    * hash every k-token sliding window, give each gram to its minimum
    * doc_id (the "earliest" owner), and drop any doc holding a gram
    * owned by a smaller id. This catches the long-verbatim-copy case
    * MinHash/Jaccard doc-level dedup misses by design: a 50-token span
    * embedded in an otherwise-different long doc contributes only a
    * sliver of the shingle SET, so pair Jaccard stays far below 0.5
    * while the span is a word-for-word training-data leak
    * (SubstringDedupSpec plants exactly that).
    *
    * Scale shape (100 TB): gram generation is a narrow projection
    * (split once BEFORE an exchange so the token array materializes —
    * the lambda would otherwise inline the split per window, the same
    * O(words²) trap [[shingleArrays]] documents), in-doc dedup via
    * array_distinct caps per-doc output at distinct windows; ownership
    * is ONE map-side-combinable min aggregation keyed by gram; the
    * mark-back is a key join of the gram table against the (gram,
    * owner) table — each gram row meets exactly one owner row, so a
    * boilerplate mega-gram skews a reducer but never multiplies rows
    * (AQE skew-join splits it). No pair emission anywhere — cost is
    * linear in total gram count, never quadratic in a bucket.
    */
  def substringGrams(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"span length must be >= 2 tokens, got $k")
    val tok = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    // greatest(.., 1): totality insurance against speculative evaluation
    // (the [[shingleArrays]] InferFiltersFromGenerate hazard) — a
    // sub-k doc would otherwise walk a DESCENDING sequence into
    // slice(ws, 0, k); docs passing the filter always have stop >= 1.
    //
    // r18-opt (guide §1.2 per-task work + §2.3 narrower types): the
    // window key is xxhash64 over the window's per-token xxhash64
    // array — each token hashed ONCE, each window then hashing k
    // longs — replacing the old md5(array_join(slice(ws,i,k))), which
    // rebuilt and md5'd a ~k-word STRING per position (O(n·k) bytes of
    // string churn per doc). Ownership only ever compares grams for
    // EQUALITY (min-owner per gram — never hash ORDER, unlike winnow's
    // min-in-window fingerprints, which must keep md5), so any
    // injective window key yields identical output; 64 bits exceeds
    // the line family's 56-bit ngHash convention. Also halves the
    // gram-join shuffle width (32-char hex string → one long).
    graft.Engine.spread(tok, "doc_id")
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"),
        transform(col("ws"), w => xxhash64(w)).as("hs"))
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), greatest(size(col("hs")) - (k - 1), lit(1))),
          i => xxhash64(slice(col("hs"), i, lit(k)))))).as("g"))
  }

  /** Position-keyed k-gram table (doc_id, i, g) — [[substringGrams]]
    * without the in-doc distinct, for span reconstruction. Ownership
    * derived from it is identical (min is duplicate-insensitive).
    */
  private def substringGramsPos(docs: DataFrame, k: Int): DataFrame = {
    val tok = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    graft.Engine.spread(tok, "doc_id")
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"),
        // r18-opt: same xxhash64-over-token-hashes window key as
        // [[substringGrams]] (equality-only use; see the note there)
        transform(col("ws"), w => xxhash64(w)).as("hs"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(1), greatest(size(col("hs")) - (k - 1), lit(1))), // totality, see substringGrams
          i => xxhash64(slice(col("hs"), i, lit(k))))).as(Seq("i0", "g")))
      .select(col("doc_id"), (col("i0") + 1).cast("long").as("i"), col("g"))
  }

  /** The SPAN-level output of exact substring dedup — what Lee et al.
    * actually remove: for every doc, the maximal token ranges
    * [span_start, span_end] (1-based, inclusive) covered by k-gram
    * windows owned by an EARLIER doc. Flagged window starts merge by
    * gaps-and-islands (a start continues the current span iff its
    * window touches the span's coverage, i.e. i ≤ prev + k); a
    * pipeline subtracts these ranges to scrub the duplicated text
    * while keeping the rest of the doc — the surgical alternative to
    * [[dedupSubstring]]'s whole-doc drop.
    *
    * Same scale shape as the doc-level rule (min agg + key join-back)
    * plus ONE doc-keyed window for the island merge — the window
    * partitions by doc, so its sort is per-doc-bounded.
    */
  def substringSpans(docs: DataFrame, k: Int = 20): DataFrame = {
    val grams = substringGramsPos(docs, k).persist()
    try {
      val owners = grams.groupBy("g").agg(min(col("doc_id")).as("owner"))
      val flagged = grams.join(owners, "g")
        .filter(col("owner") < col("doc_id"))
        .select("doc_id", "i")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("i")
      flagged
        .withColumn("__brk",
          when(lag(col("i"), 1).over(w).isNull ||
            col("i") > lag(col("i"), 1).over(w) + k, 1).otherwise(0))
        .withColumn("__island", sum(col("__brk")).over(w))
        .groupBy(col("doc_id"), col("__island"))
        .agg(min(col("i")).as("span_start"),
          (max(col("i")) + (k - 1)).as("span_end"))
        .select("doc_id", "span_start", "span_end")
        .localCheckpoint()
    } finally { grams.unpersist(); () }
  }

  /** APPLY the span scrub (the actual Lee et al. transformation):
    * return every doc with the duplicated ranges removed — tokens
    * covered by any [[substringSpans]] range drop, the rest keep their
    * relative order. Docs with no flagged span pass through verbatim.
    * Shape: spans explode to covered positions (bounded by doc length),
    * one anti-join against the positional token table, one per-doc
    * ordered reassembly — the [[boilerplate_lines]] pattern at token
    * granularity.
    */
  def substringScrub(docs: DataFrame, k: Int = 20): DataFrame = {
    val covered = substringSpans(docs, k)
      .select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val toks = graft.Engine.spread(docs, "doc_id")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos0", "w")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("w"))
    toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("w")))),
        x => x.getField("w")), " ").as("scrubbed"))
  }

  /** Surviving documents under the [[substringGrams]] min-owner rule.
    * The dropped-id set is materialized eagerly (localCheckpoint, like
    * [[connectedComponents]]' result) so the gram table's persist —
    * referenced by both the ownership agg and the mark-back join under
    * different exchanges — can be released before the survivor plan
    * escapes; the final anti-join is corpus ⋈ (small dropped list),
    * AQE-broadcast when tiny.
    */
  def dedupSubstring(docs: DataFrame, k: Int = 20): DataFrame = {
    val grams = substringGrams(docs, k).persist()
    val dropped =
      try {
        val owners = grams.groupBy("g").agg(min(col("doc_id")).as("owner"))
        grams.join(owners, "g")
          .filter(col("doc_id") > col("owner"))
          .select("doc_id").distinct()
          .localCheckpoint()
      } finally grams.unpersist()
    docs.join(dropped, Seq("doc_id"), "left_anti")
  }

  /** Streaming admission for exact substring dedup — the fourth member
    * of the incremental-admission trio's family (`dedup_incremental` =
    * LSH, `dedup_semantic_incr` = embeddings, `dedup_lines_incr` = C4
    * lines): `owned` is the k-gram hash set of every doc PROCESSED so
    * far (admitted or rejected — the one-shot min-owner rule drops a
    * doc sharing a span with ANY earlier doc, surviving or not, so the
    * state must remember rejected docs' grams too; this is what makes
    * batches-in-doc-order reproduce [[dedupSubstring]] EXACTLY,
    * spec-pinned). A batch doc is rejected iff any of its grams is
    * owned OR belongs to a smaller doc_id within the batch (the same
    * intra-batch first-owner race [[Curation.admitLines]] runs at line
    * granularity). Returns (survivor docs, the batch's newly-owned
    * gram hashes), both MATERIALIZED (localCheckpoint — the gram/owner
    * tables feed both results under different actions, so they persist
    * for the span of this call and are released before the results
    * escape).
    *
    * Scale shape (100 TB): per-batch cost is O(batch grams) — one
    * narrow gram projection, one map-side-combinable intra-batch min,
    * one gram-keyed membership join against the state — NEVER a rescan
    * of processed documents. The state grows with the feed's distinct
    * gram set (inherent to exact substring semantics, unlike the
    * survivor-bounded LSH state); at scale it lives bucketed by `g` so
    * the membership join is co-located.
    */
  def admitSubstring(batch: DataFrame, owned: DataFrame, k: Int = 20):
      (DataFrame, DataFrame) = {
    val grams = substringGrams(batch, k).persist()
    try {
      val intra = grams.groupBy("g").agg(min(col("doc_id")).as("owner")).persist()
      try {
        val dropped = grams
          .join(owned.select(col("g"), lit(true).as("seen")), Seq("g"), "left")
          .join(intra, Seq("g"))
          .filter(col("seen").isNotNull || col("owner") < col("doc_id"))
          .select("doc_id").distinct()
        val survivors = batch.join(dropped, Seq("doc_id"), "left_anti")
          .localCheckpoint()
        val newOwned = intra.select("g")
          .join(owned.select("g"), Seq("g"), "left_anti")
          .localCheckpoint()
        (survivors, newOwned)
      } finally { intra.unpersist(); () }
    } finally { grams.unpersist(); () }
  }

  /** Durable-state fold of [[admitSubstring]] — the `admitBatchToState`
    * twin for the substring rule. `stateDir/out` accumulates the
    * admitted docs (and is the redelivery guard: a doc_id already there
    * is skipped); `stateDir/owned` accumulates the gram-hash set (which
    * also re-rejects redelivered REJECTED docs — their grams are owned,
    * so they fail again deterministically).
    *
    * The two appends commit ATOMICALLY (round-13 ADVICE): a naive
    * out-then-owned write order would let a crash between the appends
    * ADMIT a previously-rejected doc on redelivery — the intra-batch
    * winner is in out/ (so it leaves `fresh`), its grams are absent
    * from owned/, and the loser re-evaluates with no owner above it,
    * breaking the spec-pinned batch-chain ≡ one-shot equality. So both
    * results are written to a staged batch directory first, a
    * `_committed` marker makes the batch durable, and only then are the
    * (uniquely-named) part files moved into out/ and owned/. Recovery
    * runs at the START of every call: committed stages finish their
    * moves (file moves are idempotent — already-promoted parts are gone
    * from the stage), uncommitted stages are deleted whole. Either way
    * a redelivered batch re-evaluates against a state that is
    * all-or-nothing w.r.t. its previous attempt.
    */
  def admitSubstringToState(batchDocs: DataFrame, stateDir: String, k: Int = 20): Unit =
    stagedAdmitFold(batchDocs, stateDir,
      emptyOwned = docs => substringGrams(docs, k).select("g"),
      admit = (fresh, owned) => admitSubstring(fresh, owned, k))

  /** The staged-commit fold shared by every owned-set admission rule
    * (round-14 ADVICE: the recovery loop, owned/fresh bootstrap, UUID
    * stage, `_committed` marker and promotion are crash-safety-critical
    * and existed as two verbatim copies — one fix applied to one copy
    * would silently leave the other divergent). `emptyOwned` supplies
    * the rule's zero-row owned-state schema (called on an empty doc
    * slice); `admit` is the rule's admission function, which MUST
    * eagerly materialize (localCheckpoint) both results so the state
    * reads here finish before any write below changes those paths.
    */
  private def stagedAdmitFold(
      batchDocs: DataFrame,
      stateDir: String,
      emptyOwned: DataFrame => DataFrame,
      admit: (DataFrame, DataFrame) => (DataFrame, DataFrame)): Unit = {
    val spark = batchDocs.sparkSession
    val outP = new org.apache.hadoop.fs.Path(s"$stateDir/out")
    val ownedP = new org.apache.hadoop.fs.Path(s"$stateDir/owned")
    val stageRoot = new org.apache.hadoop.fs.Path(s"$stateDir/stage")
    val fs = outP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recovery: first complete/clean any crashed COMPACTION swap (a
    // crash between its renames leaves the live dir absent — a bare
    // exists() check would then re-bootstrap from day zero), then
    // complete committed admission stages, discard uncommitted ones
    recoverCompaction(fs, outP)
    recoverCompaction(fs, ownedP)
    if (fs.exists(stageRoot))
      fs.listStatus(stageRoot).foreach { st =>
        if (fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_committed")))
          promoteStage(fs, st.getPath, outP, ownedP)
        else { fs.delete(st.getPath, true); () }
      }
    val docs = batchDocs.select("doc_id", "text")
    val owned =
      if (fs.exists(ownedP)) spark.read.parquet(ownedP.toString)
      else emptyOwned(docs.limit(0))
    val fresh =
      if (fs.exists(outP))
        docs.join(spark.read.parquet(outP.toString).select("doc_id"),
          Seq("doc_id"), "left_anti")
      else docs
    val (out, newOwned) = admit(fresh, owned)
    if (!fresh.isEmpty) {
      val stage = new org.apache.hadoop.fs.Path(stageRoot,
        java.util.UUID.randomUUID().toString)
      out.write.parquet(new org.apache.hadoop.fs.Path(stage, "out").toString)
      newOwned.write.parquet(new org.apache.hadoop.fs.Path(stage, "owned").toString)
      fs.create(new org.apache.hadoop.fs.Path(stage, "_committed")).close()
      promoteStage(fs, stage, outP, ownedP)
    }
  }

  /** Move a committed stage's part files into the live state dirs and
    * drop the stage. Part names carry the writing job's UUID, so moves
    * never collide across batches and a re-run after a partial promote
    * only moves what remains. Every rename is `require`d (Hadoop FS
    * reports most move failures via the boolean, not an exception —
    * the `Stream.materialize` convention): a failed move must fail the
    * batch BEFORE the stage delete below, or the delete would destroy
    * the only copy of the un-promoted rows and the all-or-nothing
    * protocol would silently lose committed state.
    */
  private def promoteStage(fs: org.apache.hadoop.fs.FileSystem,
      stage: org.apache.hadoop.fs.Path,
      outP: org.apache.hadoop.fs.Path,
      ownedP: org.apache.hadoop.fs.Path): Unit = {
    def moveParts(sub: String, dst: org.apache.hadoop.fs.Path): Unit = {
      val src = new org.apache.hadoop.fs.Path(stage, sub)
      if (fs.exists(src)) {
        fs.mkdirs(dst)
        fs.listStatus(src)
          .filter(_.getPath.getName.endsWith(".parquet"))
          .foreach { f =>
            val to = new org.apache.hadoop.fs.Path(dst, f.getPath.getName)
            require(fs.rename(f.getPath, to),
              s"promoteStage: rename ${f.getPath} -> $to failed; " +
                "aborting before the stage delete (state preserved for recovery)")
          }
      }
    }
    moveParts("out", outP)
    moveParts("owned", ownedP)
    fs.delete(stage, true)
    ()
  }

  /** Compact an admission-state root's `out/` and `owned/` parquet dirs
    * (round 15) — the operational counterpart of the index family's
    * `compactIvfPqIndex`/`compactTextIndex`: every durable fold batch
    * lands its own part files, so a year of daily batches turns the
    * membership-join side into thousands of file opens. Rewrites each
    * dir to `ceil(bytes/targetBytes)` files (coalesce — no shuffle, no
    * required clustering) behind a crash-safe swap; content is
    * byte-equivalent, so subsequent admissions are unchanged
    * (spec-pinned). SINGLE-WRITER like the folds themselves: must not
    * run concurrently with an admission batch.
    */
  def compactAdmissionState(spark: SparkSession, stateDir: String,
      targetBytes: Long = 128L << 20): Unit = {
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("out", "owned").foreach { sub =>
      compactStateDir(spark, fs, new org.apache.hadoop.fs.Path(root, sub), targetBytes)
    }
  }

  /** Compact ONE live parquet directory in place via the staged-swap
    * protocol. Crash-safe at every point (recovery in
    * [[recoverCompaction]], run by every fold and by the next
    * compaction attempt):
    *
    *  1. write the compacted copy to `compact-stage-<name>-<uuid>/data`
    *     and mark it `_committed`;
    *  2. `rename(live, compact-old-<name>-<uuid>)` — live vanishes;
    *  3. `rename(stage/data, live)` — live reappears compacted;
    *  4. delete the stage and old dirs.
    *
    * A crash before 2 leaves an orphan stage (deleted by recovery); a
    * crash between 2 and 3 leaves a committed stage + no live dir
    * (recovery completes the swap); a crash before 4 leaves leftovers
    * beside a healthy live dir (recovery deletes them). Every rename is
    * `require`d (the promoteStage convention).
    */
  private[llm] def compactStateDir(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path, targetBytes: Long): Boolean = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    recoverCompaction(fs, live)
    if (!fs.exists(live)) return false
    val bytes = fs.getContentSummary(live).getLength
    val files = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val uuid = java.util.UUID.randomUUID().toString
    val parent = live.getParent
    val stage = new org.apache.hadoop.fs.Path(parent, s"compact-stage-${live.getName}-$uuid")
    val old = new org.apache.hadoop.fs.Path(parent, s"compact-old-${live.getName}-$uuid")
    spark.read.parquet(live.toString).coalesce(files)
      .write.parquet(new org.apache.hadoop.fs.Path(stage, "data").toString)
    fs.create(new org.apache.hadoop.fs.Path(stage, "_committed")).close()
    require(fs.rename(live, old), s"compactStateDir: rename $live -> $old failed")
    require(fs.rename(new org.apache.hadoop.fs.Path(stage, "data"), live),
      s"compactStateDir: rename staged data -> $live failed (state recoverable from $stage)")
    fs.delete(stage, true)
    fs.delete(old, true)
    true
  }

  /** Recovery for a crashed [[compactStateDir]] swap over `live` — see
    * its crash-window analysis. Shared by the durable folds (which must
    * never mistake a mid-swap absent live dir for "no state") and by
    * the next compaction attempt.
    */
  private[llm] def recoverCompaction(fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path): Unit = {
    val parent = live.getParent
    if (parent == null || !fs.exists(parent)) return
    val name = live.getName
    val entries = fs.listStatus(parent).map(_.getPath)
    val stages = entries.filter(_.getName.startsWith(s"compact-stage-$name-"))
    val olds = entries.filter(_.getName.startsWith(s"compact-old-$name-"))
    stages.foreach { st =>
      val committed = fs.exists(new org.apache.hadoop.fs.Path(st, "_committed"))
      if (committed && !fs.exists(live)) {
        require(fs.rename(new org.apache.hadoop.fs.Path(st, "data"), live),
          s"recoverCompaction: completing swap $st -> $live failed")
      }
      fs.delete(st, true)
    }
    olds.foreach { o =>
      // an old dir with live still absent means the committed stage was
      // ALSO lost (should be impossible under the protocol) — restore
      // the pre-compaction state rather than lose it
      if (!fs.exists(live)) {
        require(fs.rename(o, live), s"recoverCompaction: restoring $o -> $live failed")
      } else fs.delete(o, true)
    }
    ()
  }

  /** Continuous substring-level corpus dedup: the streaming twin, same
    * foreachBatch shape as [[admitStream]] / `Curation.admitLinesStream`.
    */
  def admitSubstringStream(
      docs: DataFrame,
      stateDir: String,
      checkpointDir: String,
      k: Int = 20,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()
  ): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        admitSubstringToState(batch, stateDir, k)
      }
      .start()

  /** Memoized bootstrap state for `dedup_substring_incr` (even-doc gram
    * hashes) — same pre-existing-artifact cost model as [[stateCache]].
    */
  private val substrStateCache = Memo.slot[String, DataFrame]("NearDedup.substrStateCache")

  /** Streaming winnow-fingerprint admission (round 13 — 5th member of
    * the incremental-admission family, the MOSS analog of
    * [[admitSubstring]]): a batch doc is REJECTED when at least
    * `minHits` of its distinct winnow fingerprints ([[TextOps
    * .winnowFingerprints]], the `dedup_winnow` selection) are already
    * OWNED — by state or by a smaller-id doc of the same batch.
    * Ownership accrues from every SEEN doc regardless of admission
    * (the substring-rule convention), which is what makes doc-ordered
    * batch chains ≡ the one-shot pass trivially: a doc's hit count
    * depends only on the fingerprints of all earlier docs, never on
    * their verdicts. Per-batch cost: the batch's winnow HOF, one
    * map-side intra-batch min, one h-keyed membership join vs state —
    * never a rescan of processed docs; state = owned fingerprint
    * hashes, bucketed-by-`h` co-location at scale like every owned-set
    * state in this family.
    */
  def admitWinnow(batch: DataFrame, owned: DataFrame, minHits: Int = 2,
      fps0: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    // fps0 (r19): a caller holding the batch's winnow selection already
    // (the per-corpus [[TextOps.winnowedFps]] memo filtered to the
    // batch — the HOF is a pure per-row map, so filter commutes) passes
    // it instead of re-running the HOF here.
    val fps = fps0.getOrElse(TextOps.winnowFingerprints(batch))
      .select(col("doc_id"), col("h")).distinct().persist()
    try {
      val intra = fps.groupBy("h").agg(min(col("doc_id")).as("owner")).persist()
      try {
        val dropped = fps
          .join(owned.select(col("h"), lit(true).as("seen")), Seq("h"), "left")
          .join(intra, Seq("h"))
          .filter(col("seen").isNotNull || col("owner") < col("doc_id"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
          .filter(col("n_hit") >= minHits)
          .select("doc_id")
        val survivors = batch.join(dropped, Seq("doc_id"), "left_anti")
          .localCheckpoint()
        val newOwned = intra.select("h")
          .join(owned.select("h"), Seq("h"), "left_anti")
          .localCheckpoint()
        (survivors, newOwned)
      } finally { intra.unpersist(); () }
    } finally { fps.unpersist(); () }
  }

  /** Durable-state fold of [[admitWinnow]] — identical all-or-nothing
    * staged-commit protocol to [[admitSubstringToState]] (same
    * `stage/<batch>/_committed` marker + idempotent part-file
    * promotion), same out/-as-redelivery-guard semantics.
    */
  def admitWinnowToState(batchDocs: DataFrame, stateDir: String, minHits: Int = 2): Unit =
    stagedAdmitFold(batchDocs, stateDir,
      emptyOwned = docs => TextOps.winnowFingerprints(docs).select("h"),
      admit = (fresh, owned) => admitWinnow(fresh, owned, minHits))

  /** Continuous winnow-admission stream — the foreachBatch twin, same
    * shape as [[admitSubstringStream]].
    */
  def admitWinnowStream(
      docs: DataFrame,
      stateDir: String,
      checkpointDir: String,
      minHits: Int = 2,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()
  ): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        admitWinnowToState(batch, stateDir, minHits)
      }
      .start()

  /** Memoized bootstrap state for `dedup_winnow_incr` (even-doc
    * fingerprint hashes) — the [[substrStateCache]] cost model.
    */
  private val winnowStateCache = Memo.slot[String, DataFrame]("NearDedup.winnowStateCache")

  /** The shingle pipeline (scan → split → zip_with → array_distinct, the
    * md5-heavy CPU core of every near-dup query), persisted: each pipeline
    * references it 3× (LSH banding + both sides of the Jaccard verify, or
    * postings + both size lookups) and Catalyst's exchange reuse does NOT
    * cover it — the references sit under different exchanges (and two of
    * them under broadcast builds), so without an explicit persist the
    * whole shingle projection re-executes per reference (measured 3.7×
    * on dedup_jaccard in the round-2 driver bench). MEMORY_AND_DISK:
    * at 100 TB the per-doc shingle table is ~corpus-sized, so it must be
    * allowed to spill rather than OOM or silently recompute.
    *
    * Memoized per (session, dir) like [[VectorOps.ivfModel]]: the shingle
    * table is a per-corpus artifact shared by the whole dedup family, and
    * a fresh persist per invocation would leak one never-unpersisted
    * cache entry per run.
    */
  private val shingleCache = Memo.slot[String, DataFrame]("NearDedup.shingleCache")

  /** Bootstrapped corpus admission state for `dedup_incremental`,
    * memoized per (session, dir) with the same stopped-session eviction
    * as [[shingleCache]] (admitBatch results are localCheckpoint'd, so
    * the cached value is materialized data, not a live plan).
    */
  private val stateCache = Memo.slot[String, DataFrame]("NearDedup.stateCache")

  /** Full-corpus dup-cluster labels (the [[connectedComponents]] run over
    * the verified LSH pair graph), memoized per (session, dir) like
    * [[shingleCache]]: `dedup_cluster` and `dedup_apply` consume the SAME
    * labels (one to report them, one to anti-join survivors), and the CC
    * result is a localCheckpoint'd few-row table — materialized data, not
    * a live plan — so re-deriving the whole candidates+jaccard+CC
    * pipeline per consumer bought nothing.
    */
  private val clusterCache = Memo.slot[String, DataFrame]("NearDedup.clusterCache")

  /** 64-bit SHINGLE simhash signatures as 4×16-bit integer blocks,
    * memoized per (session, dir): the signature table is the per-corpus
    * fingerprint artifact (like [[shingleCache]]), and the pairs
    * pipeline references it SIX times (4 band exprs inside candidates'
    * explode + both verify join sides). The simhash vote aggregate is a
    * higher-order function — excluded from both codegen and
    * subexpression elimination — so every unshared reference re-executes
    * the whole corpus-wide vote fold (~0.6 s/eval at sf0.1; the measured
    * 6× ≈ 3.6 s was this id's entire cost). Cached: one evaluation, and
    * every downstream stage is a narrow scan of (id, 4 longs).
    */
  private val simhashBlockCache = Memo.slot[String, DataFrame]("NearDedup.simhashBlockCache")

  private def simhashBlocks(s: SparkSession, dir: String): DataFrame = {
    simhashBlockCache(s, dir)(
      simhash(shingled(s, dir), bits = 64)
        .select(
          col("doc_id") +:
            (0 until 4).map(b =>
              conv(substring(col("sim_sig"), 1 + 16 * b, 16), 2, 10)
                .cast("long").as(s"band_$b")): _*)
        .persist())
  }

  /** The memoized cluster-label table, shared beyond this object:
    * `Sampling.split_leakage_safe` keys its split assignment on the
    * cluster canonical id so near-dups never straddle splits.
    */
  private[llm] def clusterLabels(s: SparkSession, dir: String): DataFrame =
    clusters(s, dir)

  private[llm] def clusters(s: SparkSession, dir: String): DataFrame = {
    clusterCache(s, dir) {
      val arrs = shingled(s, dir)
      val pairs = jaccard(candidates(banded(arrs)), arrs)
        .filter(col("jacc") >= 0.5)
        .select("doc1", "doc2")
      connectedComponents(pairs)
    }
  }

  private[llm] def shingled(s: SparkSession, dir: String): DataFrame =
    shingleCache(s, dir)(
      shingleArrays(Tables(s, dir).documents)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** One micro-batch of the streaming corpus-dedup sink: admit
    * `batchDocs` (doc_id, text) against the banded state persisted at
    * `stateDir` and append the admitted docs' banded rows to it.
    *
    * Exactly-once under redelivery: docs whose id is already IN the
    * state are dropped before admission (the at-least-once file/channel
    * source replays whole batches; without the guard a replayed doc
    * would violate the disjoint-ids contract and dup the state). A crash
    * between admission and append re-runs the batch; already-appended
    * ids are excluded by the same guard, not-yet-appended docs re-admit
    * to the same verdicts (deterministic pipeline), so the state
    * converges to the same rows. (A production deployment swaps the
    * parquet append for a transactional table commit; the dataflow is
    * identical.)
    */
  def admitBatchToState(batchDocs: DataFrame, stateDir: String): Unit = {
    val spark = batchDocs.sparkSession
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newBanded = banded(shingleArrays(batchDocs))
    val state =
      if (fs.exists(root)) spark.read.parquet(stateDir)
      else newBanded.limit(0)
    val fresh = newBanded.join(state.select("doc_id"), Seq("doc_id"), "left_anti")
    val admitted = admitBatch(fresh, state) // eager, checkpointed
    if (!admitted.isEmpty)
      admitted.write.mode("append").parquet(stateDir)
  }

  /** Continuous corpus dedup: a stream of (doc_id, text) documents is
    * folded through [[admitBatchToState]] per micro-batch — the state at
    * `stateDir` is always the banded signatures of the admitted
    * (mutually non-near-dup) corpus, readable concurrently as the
    * survivor list. The streaming twin of [[admitBatch]], same shape as
    * `cdc.Stream.materialize`'s foreachBatch fold.
    */
  def admitStream(
      docs: DataFrame,
      stateDir: String,
      checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()
  ): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        admitBatchToState(batch, stateDir)
      }
      .start()

  /** MinHash-LSH near-dup pairs at τ≥0.5: banded candidates → exact
    * Jaccard on candidates (the `dedup_near` pipeline; shared with the
    * `dedup_recall` eval). */
  private def lshJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val arrs = shingled(s, dir)
    jaccard(candidates(banded(arrs)), arrs).filter(col("jacc") >= 0.5)
  }

  /** Exact τ≥0.5 n-gram Jaccard pairs over pairs sharing ≥1 shingle,
    * via the inverted index as a POSTING-LIST aggregation (the
    * LSH-candidates shape), not a self-join: ONE shuffle groups doc ids
    * per shingle, pairs are emitted in-task from each posting list, one
    * more shuffle counts per pair. The naive self-join shuffles the
    * ~1M-row exploded table twice more for the same pair multiset.
    *
    * df-cap = the 100× guard: a posting list of df docs emits
    * df·(df-1)/2 pairs, so one high-document-frequency shingle
    * (boilerplate, stop-phrases) is quadratic on a single key.
    * Shingles in more than dfCap docs are dropped — they carry ~zero
    * Jaccard discrimination anyway (the oracle SQL mirrors the cap
    * exactly, so the check stays exact; it also bounds in-task list
    * memory to dfCap ids). Shared by `dedup_jaccard` and the
    * `dedup_recall` eval.
    */
  private def exactJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val dfCap = 100
    val arrs = shingled(s, dir)
    val postings = arrs
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .groupBy("shingle")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")).between(2, dfCap))
    val common = postings
      .select(posexplode(col("ds")).as(Seq("i", "doc1")), col("ds"))
      .select(col("doc1"),
        explode(slice(col("ds"), col("i") + 2, size(col("ds")))).as("doc2"))
      .groupBy("doc1", "doc2")
      .agg(count(lit(1)).as("com"))
    // no broadcast hint on sizes: it is one row per corpus DOCUMENT, so
    // forcing a broadcast would collect the whole corpus's size table to
    // the driver at the 100 TB design point. Un-hinted, AQE broadcasts
    // it exactly when it is actually small (this fixture) and shuffles
    // otherwise.
    val sizes = arrs.select(col("doc_id"), size(col("sh")).as("nw"))
    common
      .join(sizes.select(col("doc_id").as("doc1"), col("nw").as("n1")), "doc1")
      .join(sizes.select(col("doc_id").as("doc2"), col("nw").as("n2")), "doc2")
      .withColumn("jacc",
        col("com").cast("double") / (col("n1") + col("n2") - col("com")))
      .filter(col("jacc") >= 0.5)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // near-dup pairs (the dedup_near pipeline) → dup clusters: each
    // clustered doc with its canonical (minimum) doc id
    "dedup_cluster" -> ((s, dir) => clusters(s, dir).orderBy("doc_id")),

    // contrastive POSITIVE-pair mining (round 16): the training-pair
    // generator embedding models feed on — near-dup clusters are free
    // (anchor, positive) supervision (E5/GTE-style contrastive
    // pretraining mines exactly these), the complement of
    // `mine_negatives`' different-label hard negatives. anchor = the
    // cluster canonical, positive = each other member, capped at 4
    // pairs per cluster (row_number over doc_id — deterministic, and
    // the cap keeps one mega-cluster from dominating the pair set, the
    // domain_cap discipline). Rides the memoized cluster labels; the
    // oracle extends dedup_cluster's full recursive-CTE replay with
    // the same window — everything on the compare path is BIGINT.
    // Scale: |pairs| ≤ 4·|clusters|, window partitions are cluster-
    // sized (≤ cluster cardinality, never corpus-global).
    "mine_positives" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id")).orderBy(col("doc_id"))
      clusters(s, dir)
        .filter(col("doc_id") =!= col("cluster_id"))
        .withColumn("pair_rank", row_number().over(w).cast("long"))
        .filter(col("pair_rank") <= 4)
        .select(col("cluster_id").as("anchor_id"),
          col("doc_id").as("positive_id"), col("pair_rank"))
        .orderBy("anchor_id", "pair_rank")
    }),

    "dedup_near" -> ((s, dir) =>
      lshJaccardPairs(s, dir)
        .select("doc1", "doc2", "n1", "n2", "com", "jacc")
        .orderBy("doc1", "doc2")),

    "dedup_jaccard" -> ((s, dir) =>
      exactJaccardPairs(s, dir)
        .select("doc1", "doc2", "com", "jacc")
        .orderBy("doc1", "doc2")),

    // LSH quality evaluation (round 15 cont.) — recall/precision of the
    // MinHash-banded pair pipeline against the exact τ≥0.5 Jaccard
    // truth, the band/row tuning gate every production near-dedup run
    // does before trusting its banding (Lee et al. 2022 measure exactly
    // this). `ann_recall`'s pattern applied to dedup: both sides are
    // the engine's own oracle-checked pipelines, the eval is one
    // (doc1,doc2) equi-join plus three 1-row counts. Precision < 1 is
    // possible by design: the exact side's df-cap drops boilerplate
    // shingles from `com`, so an LSH pair can clear τ on uncapped
    // counts while the capped truth rejects it. At 100 TB the truth
    // side runs on a document SAMPLE (it is the quadratic-risk side);
    // the fixture corpus is small enough to run it whole.
    "dedup_recall" -> ((s, dir) => {
      // r18-opt (guide §1.2 "don't compute things twice"): the old form
      // referenced the truth pipeline twice (its own count + the hit
      // join) and the found pipeline twice — the executed plan ran the
      // postings/pair/verify chains 2× each with zero exchange reuse
      // (plans/r18/dedup_recall_before.txt: 13 scans). One FULL OUTER
      // join of the two (unique-keyed) pair sets + one aggregate
      // computes all three counts from a single evaluation of each
      // side. Counts are identical: both pair sets are distinct on
      // (doc1, doc2), so |truth|=count(t), |found|=count(f) and the
      // inner-join cardinality = count(t AND f).
      val truth = exactJaccardPairs(s, dir)
        .select(col("doc1"), col("doc2"), lit(1).as("t"))
      val found = lshJaccardPairs(s, dir)
        .select(col("doc1"), col("doc2"), lit(1).as("f"))
      truth.join(found, Seq("doc1", "doc2"), "full_outer")
        .agg(count(col("t")).as("n_truth"),
          count(col("f")).as("n_found"),
          count(when(col("t").isNotNull && col("f").isNotNull, lit(1)))
            .as("n_hit"))
        .select(col("n_truth"), col("n_found"), col("n_hit"),
          when(col("n_truth") === 0L, lit(1.0))
            .otherwise(round(col("n_hit").cast("double") /
              col("n_truth").cast("double"), 6)).as("recall"),
          when(col("n_found") === 0L, lit(1.0))
            .otherwise(round(col("n_hit").cast("double") /
              col("n_found").cast("double"), 6)).as("prec"))
    }),

    "dedup_simhash" -> ((s, dir) =>
      simhash(wordArrays(Tables(s, dir).documents)).orderBy("doc_id")),

    // simhash CONSUMED: near-dup pairs by Hamming distance over 64-bit
    // SHINGLE-based signatures (Manku et al.'s web-dedup width).
    // Candidate generation is Hamming-LSH blocking — the signature
    // splits into 4 disjoint 16-bit blocks and docs agreeing exactly on
    // ≥1 block meet in a bucket; by pigeonhole any pair within distance
    // ≤3 differs in at most 3 blocks, so RECALL IS EXACTLY 1.0 for the
    // ≤3 threshold (no probabilistic miss, unlike minhash banding).
    // Design points that make this scale (both measured at sf0.1):
    // shingles, not word sets — a shared-vocabulary corpus makes
    // word-SET simhashes nearly identical corpus-wide (32-bit/word-set
    // blocking measured 9.5M candidate pairs; 64-bit/shingle = 1 254);
    // and 16-bit blocks (65 536 values) over 8-bit (256). The shingle
    // table is the family's memoized per-corpus artifact; the block
    // table reuses candidates()' bucket machinery (same band_0..3
    // shape, same skew cap); only colliding pairs pay the 64-position
    // exact distance check.
    "dedup_simhash_pairs" -> ((s, dir) => {
      // The 16-bit blocks live as INTEGERS end-to-end, from the memoized
      // [[simhashBlocks]] table: banding keys are the block values
      // themselves, and the Hamming verify on colliding pairs is 4
      // XOR + bit_count integer ops — replacing the previous
      // 64-position per-character substr fold (identical semantics:
      // popcount of differing bits). The cache matters more than the
      // verify: uncached, the simhash vote fold (a HOF, so neither
      // codegen'd nor subexpression-shared) re-executed once per
      // reference — 6× per run.
      val blocks = simhashBlocks(s, dir)
      val ham = (0 until 4)
        .map(b => bit_count(col(s"a_$b").bitwiseXOR(col(s"b_$b"))))
        .reduce(_ + _)
      candidates(blocks)
        .join(blocks.select(col("doc_id").as("doc1") +:
          (0 until 4).map(b => col(s"band_$b").as(s"a_$b")): _*), "doc1")
        .join(blocks.select(col("doc_id").as("doc2") +:
          (0 until 4).map(b => col(s"band_$b").as(s"b_$b")): _*), "doc2")
        .withColumn("hamming", ham.cast("long"))
        .filter(col("hamming") <= 3)
        .select("doc1", "doc2", "hamming")
        .orderBy("doc1", "doc2")
    }),

    // incremental admission demo over the fixture: even doc_ids play the
    // already-deduped corpus (bootstrapped through admitBatch against an
    // empty state — same invariant), odd doc_ids arrive as the new
    // batch. The corpus STATE is memoized per (session, dir) like the
    // shingle table: in the real pipeline the state pre-exists (it IS
    // the persisted artifact batches admit against), so steady-state
    // cost is the batch admission only and the one-time bootstrap shows
    // up in first-run numbers — the same cost model as the rest of the
    // dedup family. Oracle-checked since round 15: the whole demo is a
    // deterministic pure function of the corpus, so the oracle composes
    // the mirrored banding (dedup_near), TWO recursive-CTE CC passes
    // (dedup_cluster's walk — one for the even bootstrap, one for the
    // mixed batch∪state edges) and the admitBatch verdict rule
    // (component with a state member → reject all new; else keep min
    // new id). Semantics additionally pinned by NearDedupSpec.
    "dedup_incremental" -> ((s, dir) => {
      val arrs = shingled(s, dir)
      val batch = banded(arrs.filter(col("doc_id") % 2 =!= 0))
      val state0 = stateCache(s, dir) {
        val corpus = banded(arrs.filter(col("doc_id") % 2 === 0))
        admitBatch(corpus, corpus.limit(0))
      }
      admitBatch(batch, state0)
        .select(col("doc_id"))
        .join(Tables(s, dir).documents, "doc_id")
        .select(col("doc_id"), md5(col("text")).as("h"))
        .orderBy("doc_id")
    }),

    // the APPLICATION of near-dedup: corpus → surviving docs (each dup
    // cluster keeps only its canonical minimum-id member). This is the
    // operator a pipeline actually runs — clustering alone just labels.
    // Non-canonical members are removed with an anti-join against the
    // (tiny: one row per clustered doc) cluster table; AQE broadcasts it
    // when small and key-shuffles otherwise, so the corpus is scanned
    // once and never collected.
    // The labels come from the memoized [[clusters]] table shared with
    // `dedup_cluster` — one CC run per (session, corpus), not one per
    // consumer.
    "dedup_apply" -> ((s, dir) => {
      val dropped = clusters(s, dir)
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"))
      Tables(s, dir).documents
        .join(dropped, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), md5(col("text")).as("h"))
        .orderBy("doc_id")
    }),

    // quality-aware canonical selection (the RefinedWeb/FineWeb rule):
    // when a dup cluster spans SOURCES, keep the member from the
    // preferred source, not the arbitrary minimum id — production
    // pipelines rank curated > web dumps so the surviving copy is the
    // cleanest one. Priority here = the source's numeric suffix (src0
    // outranks src7), tie-broken by doc_id for determinism. The keeper
    // is row_number()=1 over (prio, doc_id) within the cluster — a
    // window over the TINY label table (one row per clustered doc), not
    // the corpus; the corpus is touched once by the final anti-join
    // (AQE broadcasts the dropped list). Labels come from the memoized
    // [[clusters]] run shared with dedup_cluster/dedup_apply. At sf0.01
    // this is non-vacuous vs dedup_apply: 13 of 23 clusters keep a
    // different member.
    "dedup_apply_priority" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val ranked = clusters(s, dir)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .withColumn("prio",
          regexp_extract(col("source"), "(\\d+)$", 1).cast("int"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster_id").orderBy(col("prio"), col("doc_id"))
      val dropped = ranked.withColumn("rn", row_number().over(w))
        .filter(col("rn") > 1).select("doc_id")
      docs.join(dropped, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
        .orderBy("doc_id")
    }),

    // exact substring dedup (Lee et al.): drop docs sharing a >=20-token
    // contiguous span with an earlier doc. k=20 is proportionate to the
    // fixture (docs are 10-99 tokens; the paper's 50-token rule targets
    // web pages thousands of tokens long) and non-vacuous: 23 docs at
    // sf0.01 carry a span owned by a smaller id. Fully SQL-expressible
    // (the min-owner rule is one aggregation), so oracle-checked.
    "dedup_substring" -> ((s, dir) =>
      dedupSubstring(Tables(s, dir).documents, k = 20)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .orderBy("doc_id")),

    // the span-level view: which token ranges ARE the duplicated
    // material (Lee et al. scrub these, not the whole doc)
    "dedup_substring_spans" -> ((s, dir) =>
      substringSpans(Tables(s, dir).documents, k = 20)
        .orderBy("doc_id", "span_start")),

    // the APPLICATION: corpus with duplicated ranges removed (a doc
    // scrubbed to nothing — a full clone — drops entirely)
    "dedup_substring_scrub" -> ((s, dir) =>
      substringScrub(Tables(s, dir).documents, k = 20)
        .select(col("doc_id"), md5(col("scrubbed")).as("h"))
        .orderBy("doc_id")),

    // incremental twin of `dedup_substring` (same even/odd cost model as
    // dedup_incremental / dedup_lines_incr): even doc_ids' gram hashes
    // are the admitted-state artifact (memoized bootstrap), odd doc_ids
    // arrive as the batch and admit against state ownership + the
    // intra-batch min-owner race. Oracle-checked since round 15: the
    // even/odd demo is a deterministic pure function of the corpus, so
    // the one-shot oracle extends with a state gate; batch-chain ≡
    // one-shot equality, re-admission rejection and restart-redelivery
    // safety pinned in SubstringDedupSpec.
    "dedup_substring_incr" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val owned = substrStateCache(s, dir) {
        val evens = docs.filter(col("doc_id") % 2 === 0)
        val (_, owned0) = admitSubstring(evens,
          substringGrams(evens.limit(0), 20).select("g"))
        owned0.persist()
      }
      val (out, _) = admitSubstring(docs.filter(col("doc_id") % 2 =!= 0), owned)
      out.select(col("doc_id"), md5(col("text")).as("h"))
        .orderBy("doc_id")
    }),

    // streaming MOSS admission (round 13) — the winnow-fingerprint
    // member of the incremental quintet, same even/odd demo shape as
    // `dedup_substring_incr` (bootstrap memoized, batch admission
    // measured). Oracle-checked since round 15 (unlike its one-shot
    // sibling `dedup_winnow`, whose PAIR output needs no gate — this
    // id's admission verdicts are a deterministic even/odd function).
    "dedup_winnow_incr" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val owned = winnowStateCache(s, dir) {
        val evens = docs.filter(col("doc_id") % 2 === 0)
        val (_, owned0) = admitWinnow(evens,
          TextOps.winnowFingerprints(evens.limit(0)).select("h"),
          fps0 = Some(TextOps.winnowedFps(s, dir)
            .filter(col("doc_id") % 2 === 0)))
        owned0.persist()
      }
      val (out, _) = admitWinnow(docs.filter(col("doc_id") % 2 =!= 0), owned,
        fps0 = Some(TextOps.winnowedFps(s, dir)
          .filter(col("doc_id") % 2 =!= 0)))
      out.select(col("doc_id"), md5(col("text")).as("h"))
        .orderBy("doc_id")
    })
  )

  /** The full LSH→Jaccard→connected-components replay shared by
    * `dedup_cluster` and `mine_positives` (one clustering definition,
    * the perplexityCte discipline); ends at a `labels(doc_id,
    * cluster_id)` CTE.
    */
  private val clusterCte =
    """words AS (
      |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
      |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' ||
      |         string_split(text,' ')[i+2])) AS w
      |  FROM documents WHERE len(string_split(text,' ')) >= 3),
      |salted AS (
      |  SELECT doc_id, salt, min(md5(CAST(salt AS VARCHAR) || ':' || w)) AS sig
      |  FROM words CROSS JOIN (SELECT unnest(range(8)) AS salt) GROUP BY doc_id, salt),
      |bands AS (
      |  SELECT doc_id, CAST(floor(salt/2) AS BIGINT) AS band,
      |         string_agg(sig, ',' ORDER BY salt) AS band_sig
      |  FROM salted GROUP BY 1, 2),
      |bucket_ok AS (
      |  SELECT band, band_sig FROM bands GROUP BY 1, 2 HAVING count(*) <= 10000),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2 FROM bands a
      |  JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      |  JOIN bucket_ok k ON k.band = a.band AND k.band_sig = a.band_sig),
      |sizes AS (SELECT doc_id, count(*) AS nw FROM words GROUP BY doc_id),
      |common AS (
      |  SELECT c.doc1, c.doc2, count(*) AS com FROM cand c
      |  JOIN words w1 ON w1.doc_id = c.doc1
      |  JOIN words w2 ON w2.doc_id = c.doc2 AND w2.w = w1.w
      |  GROUP BY c.doc1, c.doc2),
      |pairs AS (
      |  SELECT doc1, doc2
      |  FROM common JOIN sizes s1 ON s1.doc_id = doc1 JOIN sizes s2 ON s2.doc_id = doc2
      |  WHERE CAST(com AS DOUBLE)/(s1.nw + s2.nw - com) >= 0.5),
      |edges AS (
      |  SELECT doc1 AS a, doc2 AS b FROM pairs UNION SELECT doc2, doc1 FROM pairs),
      |walk(node, label) AS (
      |  SELECT a, a FROM edges
      |  UNION
      |  SELECT e.a, w.label FROM edges e JOIN walk w ON w.node = e.b),
      |labels AS (
      |  SELECT node AS doc_id, min(label) AS cluster_id
      |  FROM walk GROUP BY node)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "dedup_cluster" ->
      s"""WITH RECURSIVE $clusterCte
        |SELECT doc_id, cluster_id FROM labels ORDER BY doc_id""".stripMargin,
    "mine_positives" ->
      s"""WITH RECURSIVE $clusterCte,
        |ranked AS (
        |  SELECT cluster_id, doc_id,
        |    row_number() OVER (PARTITION BY cluster_id ORDER BY doc_id) AS pr
        |  FROM labels WHERE doc_id <> cluster_id)
        |SELECT cluster_id AS anchor_id, doc_id AS positive_id,
        |  CAST(pr AS BIGINT) AS pair_rank
        |FROM ranked WHERE pr <= 4 ORDER BY anchor_id, pair_rank""".stripMargin,
    "dedup_near" ->
      """WITH words AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
        |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' ||
        |         string_split(text,' ')[i+2])) AS w
        |  FROM documents WHERE len(string_split(text,' ')) >= 3),
        |salted AS (
        |  SELECT doc_id, salt, min(md5(CAST(salt AS VARCHAR) || ':' || w)) AS sig
        |  FROM words CROSS JOIN (SELECT unnest(range(8)) AS salt) GROUP BY doc_id, salt),
        |bands AS (
        |  SELECT doc_id, CAST(floor(salt/2) AS BIGINT) AS band,
        |         string_agg(sig, ',' ORDER BY salt) AS band_sig
        |  FROM salted GROUP BY 1, 2),
        |bucket_ok AS (
        |  SELECT band, band_sig FROM bands GROUP BY 1, 2 HAVING count(*) <= 10000),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2 FROM bands a
        |  JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
        |  JOIN bucket_ok k ON k.band = a.band AND k.band_sig = a.band_sig),
        |sizes AS (SELECT doc_id, count(*) AS nw FROM words GROUP BY doc_id),
        |common AS (
        |  SELECT c.doc1, c.doc2, count(*) AS com FROM cand c
        |  JOIN words w1 ON w1.doc_id = c.doc1
        |  JOIN words w2 ON w2.doc_id = c.doc2 AND w2.w = w1.w
        |  GROUP BY c.doc1, c.doc2)
        |SELECT doc1, doc2, s1.nw AS n1, s2.nw AS n2, com,
        |       CAST(com AS DOUBLE)/(s1.nw + s2.nw - com) AS jacc
        |FROM common JOIN sizes s1 ON s1.doc_id = doc1 JOIN sizes s2 ON s2.doc_id = doc2
        |WHERE CAST(com AS DOUBLE)/(s1.nw + s2.nw - com) >= 0.5
        |ORDER BY doc1, doc2""".stripMargin,
    // dedup_near's banded chain and dedup_jaccard's capped exact chain
    // recomputed independently from the shared shingle table, then
    // intersected — an LSH recall regression on either side fails this
    "dedup_recall" ->
      """WITH words AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
        |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' ||
        |         string_split(text,' ')[i+2])) AS w
        |  FROM documents WHERE len(string_split(text,' ')) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS nw FROM words GROUP BY doc_id),
        |salted AS (
        |  SELECT doc_id, salt, min(md5(CAST(salt AS VARCHAR) || ':' || w)) AS sig
        |  FROM words CROSS JOIN (SELECT unnest(range(8)) AS salt) GROUP BY doc_id, salt),
        |bands AS (
        |  SELECT doc_id, CAST(floor(salt/2) AS BIGINT) AS band,
        |         string_agg(sig, ',' ORDER BY salt) AS band_sig
        |  FROM salted GROUP BY 1, 2),
        |bucket_ok AS (
        |  SELECT band, band_sig FROM bands GROUP BY 1, 2 HAVING count(*) <= 10000),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2 FROM bands a
        |  JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
        |  JOIN bucket_ok k ON k.band = a.band AND k.band_sig = a.band_sig),
        |fcommon AS (
        |  SELECT c.doc1, c.doc2, count(*) AS com FROM cand c
        |  JOIN words w1 ON w1.doc_id = c.doc1
        |  JOIN words w2 ON w2.doc_id = c.doc2 AND w2.w = w1.w
        |  GROUP BY c.doc1, c.doc2),
        |found AS (
        |  SELECT doc1, doc2 FROM fcommon
        |  JOIN sizes s1 ON s1.doc_id = doc1 JOIN sizes s2 ON s2.doc_id = doc2
        |  WHERE CAST(com AS DOUBLE)/(s1.nw + s2.nw - com) >= 0.5),
        |keep AS (SELECT w FROM words GROUP BY w HAVING count(*) <= 100),
        |capped AS (SELECT s.doc_id, s.w FROM words s JOIN keep k ON s.w = k.w),
        |tcommon AS (
        |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS com
        |  FROM capped a JOIN capped b ON a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |truth AS (
        |  SELECT doc1, doc2 FROM tcommon
        |  JOIN sizes s1 ON s1.doc_id = doc1 JOIN sizes s2 ON s2.doc_id = doc2
        |  WHERE CAST(com AS DOUBLE)/(s1.nw + s2.nw - com) >= 0.5),
        |counts AS (
        |  SELECT (SELECT count(*) FROM truth) AS nt,
        |         (SELECT count(*) FROM found) AS nf,
        |         (SELECT count(*) FROM truth t JOIN found f
        |            ON t.doc1 = f.doc1 AND t.doc2 = f.doc2) AS nh)
        |SELECT nt AS n_truth, nf AS n_found, nh AS n_hit,
        |  CASE WHEN nt = 0 THEN 1.0
        |       ELSE round(CAST(nh AS DOUBLE) / CAST(nt AS DOUBLE), 6) END AS recall,
        |  CASE WHEN nf = 0 THEN 1.0
        |       ELSE round(CAST(nh AS DOUBLE) / CAST(nf AS DOUBLE), 6) END AS prec
        |FROM counts""".stripMargin,
    "dedup_jaccard" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
        |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' ||
        |         string_split(text,' ')[i+2])) AS sh
        |  FROM documents WHERE len(string_split(text,' ')) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS nw FROM sh GROUP BY doc_id),
        |keep AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 100),
        |capped AS (SELECT s.doc_id, s.sh FROM sh s JOIN keep k ON s.sh = k.sh),
        |common AS (
        |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS com
        |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc1, doc2, com,
        |       CAST(com AS DOUBLE)/(s1.nw + s2.nw - com) AS jacc
        |FROM common JOIN sizes s1 ON s1.doc_id = doc1 JOIN sizes s2 ON s2.doc_id = doc2
        |WHERE CAST(com AS DOUBLE)/(s1.nw + s2.nw - com) >= 0.5
        |ORDER BY doc1, doc2""".stripMargin,
    "dedup_apply" ->
      """WITH RECURSIVE words AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
        |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' ||
        |         string_split(text,' ')[i+2])) AS w
        |  FROM documents WHERE len(string_split(text,' ')) >= 3),
        |salted AS (
        |  SELECT doc_id, salt, min(md5(CAST(salt AS VARCHAR) || ':' || w)) AS sig
        |  FROM words CROSS JOIN (SELECT unnest(range(8)) AS salt) GROUP BY doc_id, salt),
        |bands AS (
        |  SELECT doc_id, CAST(floor(salt/2) AS BIGINT) AS band,
        |         string_agg(sig, ',' ORDER BY salt) AS band_sig
        |  FROM salted GROUP BY 1, 2),
        |bucket_ok AS (
        |  SELECT band, band_sig FROM bands GROUP BY 1, 2 HAVING count(*) <= 10000),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2 FROM bands a
        |  JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
        |  JOIN bucket_ok k ON k.band = a.band AND k.band_sig = a.band_sig),
        |sizes AS (SELECT doc_id, count(*) AS nw FROM words GROUP BY doc_id),
        |common AS (
        |  SELECT c.doc1, c.doc2, count(*) AS com FROM cand c
        |  JOIN words w1 ON w1.doc_id = c.doc1
        |  JOIN words w2 ON w2.doc_id = c.doc2 AND w2.w = w1.w
        |  GROUP BY c.doc1, c.doc2),
        |pairs AS (
        |  SELECT doc1, doc2
        |  FROM common JOIN sizes s1 ON s1.doc_id = doc1 JOIN sizes s2 ON s2.doc_id = doc2
        |  WHERE CAST(com AS DOUBLE)/(s1.nw + s2.nw - com) >= 0.5),
        |edges AS (
        |  SELECT doc1 AS a, doc2 AS b FROM pairs UNION SELECT doc2, doc1 FROM pairs),
        |walk(node, label) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, w.label FROM edges e JOIN walk w ON w.node = e.b),
        |cc AS (SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node)
        |SELECT d.doc_id, md5(d.text) AS h
        |FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM cc WHERE doc_id != cluster_id)
        |ORDER BY d.doc_id""".stripMargin,
    "dedup_apply_priority" ->
      """WITH RECURSIVE words AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
        |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' ||
        |         string_split(text,' ')[i+2])) AS w
        |  FROM documents WHERE len(string_split(text,' ')) >= 3),
        |salted AS (
        |  SELECT doc_id, salt, min(md5(CAST(salt AS VARCHAR) || ':' || w)) AS sig
        |  FROM words CROSS JOIN (SELECT unnest(range(8)) AS salt) GROUP BY doc_id, salt),
        |bands AS (
        |  SELECT doc_id, CAST(floor(salt/2) AS BIGINT) AS band,
        |         string_agg(sig, ',' ORDER BY salt) AS band_sig
        |  FROM salted GROUP BY 1, 2),
        |bucket_ok AS (
        |  SELECT band, band_sig FROM bands GROUP BY 1, 2 HAVING count(*) <= 10000),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2 FROM bands a
        |  JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
        |  JOIN bucket_ok k ON k.band = a.band AND k.band_sig = a.band_sig),
        |sizes AS (SELECT doc_id, count(*) AS nw FROM words GROUP BY doc_id),
        |common AS (
        |  SELECT c.doc1, c.doc2, count(*) AS com FROM cand c
        |  JOIN words w1 ON w1.doc_id = c.doc1
        |  JOIN words w2 ON w2.doc_id = c.doc2 AND w2.w = w1.w
        |  GROUP BY c.doc1, c.doc2),
        |pairs AS (
        |  SELECT doc1, doc2
        |  FROM common JOIN sizes s1 ON s1.doc_id = doc1 JOIN sizes s2 ON s2.doc_id = doc2
        |  WHERE CAST(com AS DOUBLE)/(s1.nw + s2.nw - com) >= 0.5),
        |edges AS (
        |  SELECT doc1 AS a, doc2 AS b FROM pairs UNION SELECT doc2, doc1 FROM pairs),
        |walk(node, label) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, w.label FROM edges e JOIN walk w ON w.node = e.b),
        |cc AS (SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node),
        |ranked AS (
        |  SELECT c.doc_id,
        |         row_number() OVER (PARTITION BY c.cluster_id
        |           ORDER BY CAST(regexp_extract(d.source, '(\d+)$', 1) AS INT), c.doc_id) AS rn
        |  FROM cc c JOIN documents d ON d.doc_id = c.doc_id)
        |SELECT d.doc_id, d.source, md5(d.text) AS h
        |FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM ranked WHERE rn > 1)
        |ORDER BY d.doc_id""".stripMargin,
    "dedup_simhash_pairs" ->
      """WITH words AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
        |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' ||
        |         string_split(text,' ')[i+2])) AS w
        |  FROM documents WHERE len(string_split(text,' ')) >= 3),
        |bits AS (
        |  SELECT doc_id, b,
        |    (CAST(floor((strpos('0123456789abcdef', substring(md5(w), CAST(floor(b/4) AS INT)+1, 1)) - 1)
        |          / pow(2, 3 - b % 4)) AS BIGINT) % 2) * 2 - 1 AS vote
        |  FROM words CROSS JOIN (SELECT unnest(range(64)) AS b)),
        |votes AS (SELECT doc_id, b, sum(vote) AS v FROM bits GROUP BY doc_id, b),
        |sigs AS (
        |  SELECT doc_id, string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS sig
        |  FROM votes GROUP BY doc_id),
        |blocks AS (
        |  SELECT doc_id, blk, substring(sig, 1 + 16*blk, 16) AS blk_sig
        |  FROM sigs CROSS JOIN (SELECT unnest(range(4)) AS blk)),
        |bucket_ok AS (
        |  SELECT blk, blk_sig FROM blocks GROUP BY 1, 2 HAVING count(*) <= 10000),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2 FROM blocks a
        |  JOIN blocks b ON a.blk = b.blk AND a.blk_sig = b.blk_sig AND a.doc_id < b.doc_id
        |  JOIN bucket_ok k ON k.blk = a.blk AND k.blk_sig = a.blk_sig),
        |scored AS (
        |  SELECT c.doc1, c.doc2,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CASE WHEN substring(s1.sig, CAST(i AS INT), 1) != substring(s2.sig, CAST(i AS INT), 1)
        |           THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
        |  FROM cand c JOIN sigs s1 ON s1.doc_id = c.doc1 JOIN sigs s2 ON s2.doc_id = c.doc2)
        |SELECT doc1, doc2, hamming FROM scored WHERE hamming <= 3
        |ORDER BY doc1, doc2""".stripMargin,
    "dedup_substring" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ws)-20+2),
        |    i -> md5(array_to_string(ws[i:i+20-1], ' ')))) AS g
        |  FROM toks WHERE len(ws) >= 20),
        |own AS (SELECT g, min(doc_id) AS owner FROM grams GROUP BY g),
        |dropped AS (
        |  SELECT DISTINCT gr.doc_id FROM grams gr
        |  JOIN own o ON o.g = gr.g AND o.owner < gr.doc_id)
        |SELECT d.doc_id, md5(d.text) AS h FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY d.doc_id""".stripMargin,
    // round 15: the LSH-admission demo graduates to oracle-checked —
    // phase 1 replays the even bootstrap (banded candidates among
    // evens, Jaccard verify, CC, keep min id per component = the
    // state), phase 2 replays admitBatch (new↔new pairs under the
    // 2..10000 NEW-member bucket cap, new↔state pairs under the
    // 1..10000 OLD-member cap, Jaccard verify, CC over the mixed
    // edges, reject a new doc when its component holds a state member
    // or a smaller new id). Banding/caps/Jaccard mirror dedup_near's
    // oracle verbatim; both CC passes are dedup_cluster's walk.
    "dedup_incremental" ->
      """WITH RECURSIVE words AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
        |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' ||
        |         string_split(text,' ')[i+2])) AS w
        |  FROM documents WHERE len(string_split(text,' ')) >= 3),
        |salted AS MATERIALIZED (
        |  SELECT doc_id, salt, min(md5(CAST(salt AS VARCHAR) || ':' || w)) AS sig
        |  FROM words CROSS JOIN (SELECT unnest(range(8)) AS salt) GROUP BY doc_id, salt),
        |bands AS MATERIALIZED (
        |  SELECT doc_id, CAST(floor(salt/2) AS BIGINT) AS band,
        |         string_agg(sig, ',' ORDER BY salt) AS band_sig
        |  FROM salted GROUP BY 1, 2),
        |sizes AS MATERIALIZED (SELECT doc_id, count(*) AS nw FROM words GROUP BY doc_id),
        |eb AS MATERIALIZED (SELECT * FROM bands WHERE doc_id % 2 = 0),
        |e_ok AS MATERIALIZED (SELECT band, band_sig FROM eb GROUP BY 1, 2
        |  HAVING count(*) BETWEEN 2 AND 10000),
        |e_cand AS MATERIALIZED (
        |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2 FROM eb a
        |  JOIN eb b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
        |  JOIN e_ok k ON k.band = a.band AND k.band_sig = a.band_sig),
        |e_common AS MATERIALIZED (
        |  SELECT c.doc1, c.doc2, count(*) AS com FROM e_cand c
        |  JOIN words w1 ON w1.doc_id = c.doc1
        |  JOIN words w2 ON w2.doc_id = c.doc2 AND w2.w = w1.w
        |  GROUP BY 1, 2),
        |e_pairs AS MATERIALIZED (
        |  SELECT doc1, doc2 FROM e_common
        |  JOIN sizes s1 ON s1.doc_id = doc1 JOIN sizes s2 ON s2.doc_id = doc2
        |  WHERE CAST(com AS DOUBLE)/(s1.nw + s2.nw - com) >= 0.5),
        |e_edges AS MATERIALIZED (
        |  SELECT doc1 AS a, doc2 AS b FROM e_pairs UNION SELECT doc2, doc1 FROM e_pairs),
        |e_walk(node, label) AS (
        |  SELECT a, a FROM e_edges
        |  UNION
        |  SELECT e.a, w.label FROM e_edges e JOIN e_walk w ON w.node = e.b),
        |e_cc AS MATERIALIZED (SELECT node AS doc_id, min(label) AS cid FROM e_walk GROUP BY node),
        |e_min AS MATERIALIZED (SELECT cid, min(doc_id) AS keep FROM e_cc GROUP BY cid),
        |state AS MATERIALIZED (
        |  SELECT DISTINCT doc_id FROM eb
        |  WHERE doc_id NOT IN (
        |    SELECT c.doc_id FROM e_cc c JOIN e_min m
        |      ON m.cid = c.cid AND c.doc_id <> m.keep)),
        |sb AS MATERIALIZED (SELECT * FROM bands WHERE doc_id % 2 <> 0),
        |ob AS MATERIALIZED (SELECT b.* FROM bands b JOIN state s ON s.doc_id = b.doc_id),
        |bstat AS MATERIALIZED (
        |  SELECT band, band_sig,
        |    count(CASE WHEN is_new THEN 1 END) AS n_new,
        |    count(CASE WHEN NOT is_new THEN 1 END) AS n_old
        |  FROM (SELECT band, band_sig, true AS is_new, doc_id FROM sb
        |        UNION ALL SELECT band, band_sig, false, doc_id FROM ob)
        |  GROUP BY 1, 2),
        |nn AS MATERIALIZED (
        |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2 FROM sb a
        |  JOIN sb b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
        |  JOIN bstat t ON t.band = a.band AND t.band_sig = a.band_sig
        |  WHERE t.n_new BETWEEN 2 AND 10000),
        |no AS MATERIALIZED (
        |  SELECT DISTINCT a.doc_id AS doc1, o.doc_id AS doc2 FROM sb a
        |  JOIN ob o ON a.band = o.band AND a.band_sig = o.band_sig
        |  JOIN bstat t ON t.band = a.band AND t.band_sig = a.band_sig
        |  WHERE t.n_old BETWEEN 1 AND 10000),
        |cand AS MATERIALIZED (SELECT doc1, doc2 FROM nn UNION SELECT doc1, doc2 FROM no),
        |f_common AS MATERIALIZED (
        |  SELECT c.doc1, c.doc2, count(*) AS com FROM cand c
        |  JOIN words w1 ON w1.doc_id = c.doc1
        |  JOIN words w2 ON w2.doc_id = c.doc2 AND w2.w = w1.w
        |  GROUP BY 1, 2),
        |f_pairs AS MATERIALIZED (
        |  SELECT doc1, doc2 FROM f_common
        |  JOIN sizes s1 ON s1.doc_id = doc1 JOIN sizes s2 ON s2.doc_id = doc2
        |  WHERE CAST(com AS DOUBLE)/(s1.nw + s2.nw - com) >= 0.5),
        |f_edges AS MATERIALIZED (
        |  SELECT doc1 AS a, doc2 AS b FROM f_pairs UNION SELECT doc2, doc1 FROM f_pairs),
        |f_walk(node, label) AS (
        |  SELECT a, a FROM f_edges
        |  UNION
        |  SELECT e.a, w.label FROM f_edges e JOIN f_walk w ON w.node = e.b),
        |f_cc AS MATERIALIZED (SELECT node AS doc_id, min(label) AS cid FROM f_walk GROUP BY node),
        |f_verdict AS MATERIALIZED (
        |  SELECT cid, max(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS has_old,
        |    min(CASE WHEN doc_id % 2 <> 0 THEN doc_id END) AS min_new
        |  FROM f_cc GROUP BY cid),
        |rejected AS MATERIALIZED (
        |  SELECT c.doc_id FROM f_cc c JOIN f_verdict v ON v.cid = c.cid
        |  WHERE c.doc_id % 2 <> 0 AND (v.has_old = 1 OR c.doc_id <> v.min_new))
        |SELECT d.doc_id, md5(d.text) AS h FROM documents d
        |JOIN (SELECT DISTINCT doc_id FROM sb) x ON x.doc_id = d.doc_id
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM rejected)
        |ORDER BY d.doc_id""".stripMargin,
    // round 15: the incremental twin GRADUATES to oracle-checked — the
    // even/odd demo is a deterministic pure function of the corpus
    // (state = every even doc's distinct gram hashes, batch = odd docs
    // admitted against state ownership + the intra-batch min-owner
    // race), so the one-shot oracle extends with a state gate.
    "dedup_substring_incr" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ws)-20+2),
        |    i -> md5(array_to_string(ws[i:i+20-1], ' ')))) AS g
        |  FROM toks WHERE len(ws) >= 20),
        |state AS (SELECT DISTINCT g FROM grams WHERE doc_id % 2 = 0),
        |batch AS (SELECT * FROM grams WHERE doc_id % 2 <> 0),
        |own AS (SELECT g, min(doc_id) AS owner FROM batch GROUP BY g),
        |dropped AS (
        |  SELECT DISTINCT b.doc_id FROM batch b
        |  JOIN own o ON o.g = b.g
        |  LEFT JOIN state s ON s.g = b.g
        |  WHERE s.g IS NOT NULL OR o.owner < b.doc_id)
        |SELECT d.doc_id, md5(d.text) AS h FROM documents d
        |WHERE d.doc_id % 2 <> 0
        |  AND d.doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY d.doc_id""".stripMargin,
    // round 15: same graduation for the winnow-fingerprint member —
    // identical fingerprint pipeline as dedup_winnow's oracle
    // (TextOps), then the state gate + the >=2-hit admission rule.
    "dedup_winnow_incr" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text,' ') AS ws FROM documents
        |  WHERE len(string_split(text,' ')) >= 6),
        |g AS (
        |  SELECT doc_id, list_transform(range(1, len(ws) - 1),
        |    i -> CAST('0x' || substring(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),1,14) AS BIGINT)) AS hs
        |  FROM t),
        |w AS (SELECT doc_id, hs, unnest(range(1, len(hs) - 2)) AS j FROM g),
        |m AS (
        |  SELECT doc_id, hs, j,
        |    list_aggregate(hs[CAST(j AS INTEGER):CAST(j + 3 AS INTEGER)], 'min') AS h
        |  FROM w),
        |fp AS (SELECT DISTINCT doc_id, h FROM m),
        |state AS (SELECT DISTINCT h FROM fp WHERE doc_id % 2 = 0),
        |batch AS (SELECT * FROM fp WHERE doc_id % 2 <> 0),
        |own AS (SELECT h, min(doc_id) AS owner FROM batch GROUP BY h),
        |hits AS (
        |  SELECT b.doc_id, count(*) AS n_hit
        |  FROM batch b
        |  JOIN own o ON o.h = b.h
        |  LEFT JOIN state s ON s.h = b.h
        |  WHERE s.h IS NOT NULL OR o.owner < b.doc_id
        |  GROUP BY b.doc_id),
        |dropped AS (SELECT doc_id FROM hits WHERE n_hit >= 2)
        |SELECT d.doc_id, md5(d.text) AS h FROM documents d
        |WHERE d.doc_id % 2 <> 0
        |  AND d.doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY d.doc_id""".stripMargin,
    "dedup_substring_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |pos AS (
        |  SELECT doc_id, ws, unnest(range(1, len(ws)-20+2)) AS i
        |  FROM toks WHERE len(ws) >= 20),
        |grams AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS i,
        |    md5(array_to_string(ws[i:i+20-1], ' ')) AS g FROM pos),
        |own AS (SELECT g, min(doc_id) AS owner FROM grams GROUP BY g),
        |flagged AS (
        |  SELECT gr.doc_id, gr.i FROM grams gr
        |  JOIN own o ON o.g = gr.g AND o.owner < gr.doc_id),
        |brk AS (
        |  SELECT doc_id, i,
        |    CASE WHEN lag(i) OVER w IS NULL OR i > lag(i) OVER w + 20
        |         THEN 1 ELSE 0 END AS b
        |  FROM flagged WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |isl AS (
        |  SELECT doc_id, i,
        |    sum(b) OVER (PARTITION BY doc_id ORDER BY i
        |                 ROWS UNBOUNDED PRECEDING) AS island
        |  FROM brk)
        |SELECT doc_id, min(i) AS span_start, max(i) + 19 AS span_end
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,
    "dedup_substring_scrub" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |pos AS (
        |  SELECT doc_id, ws, unnest(range(1, len(ws)-20+2)) AS i
        |  FROM toks WHERE len(ws) >= 20),
        |grams AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS i,
        |    md5(array_to_string(ws[i:i+20-1], ' ')) AS g FROM pos),
        |own AS (SELECT g, min(doc_id) AS owner FROM grams GROUP BY g),
        |flagged AS (
        |  SELECT gr.doc_id, gr.i FROM grams gr
        |  JOIN own o ON o.g = gr.g AND o.owner < gr.doc_id),
        |brk AS (
        |  SELECT doc_id, i,
        |    CASE WHEN lag(i) OVER w IS NULL OR i > lag(i) OVER w + 20
        |         THEN 1 ELSE 0 END AS b
        |  FROM flagged WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |isl AS (
        |  SELECT doc_id, i,
        |    sum(b) OVER (PARTITION BY doc_id ORDER BY i
        |                 ROWS UNBOUNDED PRECEDING) AS island
        |  FROM brk),
        |spans AS (
        |  SELECT doc_id, min(i) AS span_start, max(i) + 19 AS span_end
        |  FROM isl GROUP BY doc_id, island),
        |cov AS (
        |  SELECT doc_id, unnest(range(span_start, span_end + 1)) AS p
        |  FROM spans),
        |tok2 AS (
        |  SELECT doc_id, unnest(ws) AS w,
        |         CAST(unnest(range(1, len(ws)+1)) AS BIGINT) AS p
        |  FROM toks),
        |kept AS (
        |  SELECT t.doc_id, t.p, t.w FROM tok2 t
        |  LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.p = t.p
        |  WHERE c.p IS NULL)
        |SELECT doc_id, md5(string_agg(w, ' ' ORDER BY p)) AS h
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_simhash" ->
      """WITH words AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        |bits AS (
        |  SELECT doc_id, b,
        |    (CAST(floor((strpos('0123456789abcdef', substring(md5(w), CAST(floor(b/4) AS INT)+1, 1)) - 1)
        |          / pow(2, 3 - b % 4)) AS BIGINT) % 2) * 2 - 1 AS vote
        |  FROM words CROSS JOIN (SELECT unnest(range(32)) AS b)),
        |votes AS (SELECT doc_id, b, sum(vote) AS v FROM bits GROUP BY doc_id, b)
        |SELECT doc_id, string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS sim_sig
        |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
