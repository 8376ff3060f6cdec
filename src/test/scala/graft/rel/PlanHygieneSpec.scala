package graft.rel

import graft.{SparkSpec, SparkEntry}
import org.apache.spark.sql.functions._

/** Physical-plan hygiene, enforced (SURVEY.md §4): pushdown, pruning,
  * join strategy selection, top-k specialization, map-side partials and
  * whole-stage codegen must not silently regress.
  */
class PlanHygieneSpec extends SparkSpec {

  private def planOf(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf("sf0.001"))
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExtendedMode)
  }

  test("filters push into the parquet scan") {
    assert(planOf("q1_agg").contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(planOf("filter_eq").contains("EqualTo(o_orderstatus,O)"))
  }

  test("column pruning reaches the scan (q1 reads 6 of 11 lineitem cols)") {
    val p = planOf("q1_agg")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_suppkey"),
      readSchema)
  }

  test("join strategies: broadcast for dims, sort-merge for fact-fact") {
    val p = planOf("join_star")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("SortMergeJoin"))
  }

  test("top-k compiles to TakeOrderedAndProject, not global sort") {
    assert(planOf("topk").contains("TakeOrderedAndProject"))
  }

  test("apply_changes aggregates with map-side partials (partial_max_by)") {
    assert(planOf("apply_changes").contains("partial_max_by"))
  }

  test("whole-stage codegen spans the hot path") {
    val s = spark
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (q <- Seq("q1_agg", "apply_changes", "join_star", "sim_topk")) {
        val cg = SparkEntry.queries(q)(s, sf("sf0.001"))
          .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
        val found = "Found (\\d+) WholeStageCodegen".r
          .findFirstMatchIn(cg).map(_.group(1).toInt).getOrElse(0)
        assert(found > 0, s"$q has no codegen subtree")
      }
    } finally s.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("correlated subqueries decorrelate to joins (no per-row subplans)") {
    val scalarPlan = planOf("subq_scalar")
    // correlated scalar count → aggregate + (left) outer join, never a
    // row-at-a-time subquery execution or a cartesian
    assert(!scalarPlan.contains("CartesianProduct"), scalarPlan)
    assert(scalarPlan.contains("Join LeftOuter") || scalarPlan.contains("SortMergeJoin LeftOuter")
      || scalarPlan.contains("BroadcastHashJoin") , scalarPlan)
    val inPlan = planOf("subq_in")
    assert(inPlan.contains("LeftSemi"), inPlan)
    assert(inPlan.contains("LeftAnti"), inPlan)
    assert(!inPlan.contains("CartesianProduct"), inPlan)
  }

  test("sampling/ngram plans: no join stages, top-k specialization") {
    // hash sampling is a pure scan-stage filter — joins/cartesians would
    // mean the sample assignment left the row
    val p = planOf("sample_hash")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    assert(planOf("ngram_topk").contains("TakeOrderedAndProject"),
      "corpus top-k must not globally sort")
  }

  test("q3 headline: filters pushed, no cartesian, top-k specialized") {
    val p = planOf("q3_shipping")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"),
      "customer segment filter must reach the scan")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not globally sort")
    assert(!p.contains("CartesianProduct"))
  }

  test("new headliners: q6 pushes every predicate to the scan, q5/q10 avoid cartesian, q10 top-k specialized") {
    val q6 = planOf("q6_forecast")
    // the whole point of q6: a narrow read with ALL predicates at the
    // scan. Filter ORDER inside PushedFilters is not contractual (the
    // optimizer may reorder across versions), so assert each predicate
    // column's presence on the PushedFilters line individually.
    val q6Pushed = q6.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    Seq("l_shipdate", "l_discount", "l_quantity").foreach { c =>
      assert(q6Pushed.contains(c), s"$c must reach the scan:\n$q6Pushed")
    }
    val rs = q6.linesIterator.find(_.contains("ReadSchema")).get
    assert(!rs.contains("l_orderkey") && !rs.contains("l_returnflag"), rs)
    val q5 = planOf("q5_local")
    assert(!q5.contains("CartesianProduct"), "q5 must stay equi-join only")
    assert(q5.contains("BroadcastHashJoin"), "nation/region must broadcast in q5")
    val q10 = planOf("q10_returns")
    assert(q10.contains("TakeOrderedAndProject"), "q10 top-20 must not globally sort")
    assert(!q10.contains("CartesianProduct"))
  }

  test("late-round-6 plans: enrich broadcasts the dim, bloom-scrub stays semi+anti, outer interval join is one equi-join") {
    val e = planOf("stream_enrich")
    assert(e.contains("BroadcastHashJoin"), "dim side must broadcast in stream_enrich")
    val b = planOf("decontaminate_bloom")
    assert(b.contains("LeftSemi") && b.contains("LeftAnti"), b.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(!b.contains("CartesianProduct"), "bloom scrub must never pair-blow-up")
    val o = planOf("stream_join_outer")
    // equi on user + residual time bounds; outer must not degrade to BNLJ
    assert(!o.contains("CartesianProduct") && !o.contains("BroadcastNestedLoopJoin"),
      o.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("full-TPC-H sweep plans: exists/anti shapes stay semi/anti joins, disjunction splits, scalar thresholds broadcast") {
    // q4: EXISTS compiles to LeftSemi carrying the non-equi lateness
    // residual — never a join+distinct or a nested-loop blowup
    val q4 = planOf("q4_priority")
    assert(q4.contains("LeftSemi"), q4.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(!q4.contains("CartesianProduct"), q4)
    // q21 (r18 rewrite): the EXISTS/NOT-EXISTS pair is folded into ONE
    // lineitem pass — a per-(order,supplier) aggregate + bounded
    // per-order window replaces the semi/anti probes entirely. Pin:
    // exactly one lineitem scan, no semi/anti/cartesian probe joins,
    // the census partial-aggregates before its shuffle, and the window
    // is keyed per order (never a global window).
    val q21 = planOf("q21_waiting")
    val q21Phys = q21.split("== Physical Plan ==").last
    assert(!q21Phys.contains("LeftSemi") && !q21Phys.contains("LeftAnti"),
      q21Phys.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(!q21.contains("CartesianProduct") && !q21.contains("BroadcastNestedLoopJoin"), q21)
    assert("lineitem\\.parquet".r.findAllIn(q21Phys).size == 1,
      "q21 must scan lineitem exactly once")
    assert(q21.contains("partial_count") || q21.contains("partial count"),
      "q21 census must map-side combine before the shuffle")
    assert(q21Phys.contains("windowspecdefinition(l_orderkey"),
      "q21 census window must stay keyed per order")
    // q19: the OR-of-ANDs references both sides and stays a residual,
    // but the single-side conjunct (returnflag) must still reach the
    // lineitem scan
    val q19 = planOf("q19_disjunct")
    val q19Pushed = q19.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(q19Pushed.contains("l_returnflag"), s"returnflag must reach the scan:\n$q19Pushed")
    assert(!q19.contains("CartesianProduct"), q19)
    // q2: the part prune broadcasts into the fact scan; the decorrelated
    // min never re-scans per part
    val q2 = planOf("q2_mincost")
    assert(q2.contains("BroadcastHashJoin"), q2)
    assert(!q2.contains("CartesianProduct"), q2)
    // q17: the decorrelated per-part average attaches by broadcast join
    val q17 = planOf("q17_smallqty")
    assert(q17.contains("BroadcastHashJoin"), q17)
    assert(!q17.contains("CartesianProduct"), q17)
    // q22: anti-join for "no large order"; the 1-row threshold is the
    // only nested-loop (scalar broadcast) allowed
    val q22 = planOf("q22_balance")
    assert(q22.contains("LeftAnti"), q22.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("curation plans: decontaminate is semi+anti join, seq_pack is one window") {
    val d = planOf("decontaminate")
    // the scrub must be set-membership joins, never a pair blowup
    assert(d.contains("LeftSemi"), d)
    assert(d.contains("LeftAnti"), d)
    assert(!d.contains("CartesianProduct"), d)
    val p = planOf("seq_pack")
    // cumulative binning is a window over the shard — no join stage at all
    assert(p.contains("Window"), p)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
  }

  test("round-6 curation plans: chunking is generator-only map-side, entropy two-level agg has partials, dedup_apply anti-joins") {
    // chunking must be scan → generate → project: a join or exchange
    // before the generator would mean the per-doc word array left its
    // task (the orderBy's sort is the only exchange, presentation-only)
    val c = planOf("text_chunk")
    assert(c.contains("Generate"), c)
    assert(!c.contains("Join") && !c.contains("CartesianProduct"), c)
    // entropy: explode → count per (doc, word) → per-doc rollup; both
    // levels must carry map-side partial aggregation
    val e = planOf("text_entropy")
    assert(e.contains("partial_count") || e.contains("Partial"), e)
    assert(!e.contains("Join"), e)
    // applying near-dedup is an ANTI join against the (small) dropped
    // set — never a pair blowup against the corpus
    val a = planOf("dedup_apply")
    assert(a.contains("LeftAnti"), a)
    assert(!a.contains("CartesianProduct"), a)
  }

  test("round-7 headliners: q7 broadcasts both nation roles, q13 pushes the ON-filter, q14 pushes the month, q18 top-k specialized with partial sums") {
    val q7 = planOf("q7_volume")
    assert(q7.contains("BroadcastHashJoin"), "nation dims must broadcast in q7")
    assert(!q7.contains("CartesianProduct"), "q7 must stay equi-join only")
    // the shipdate window must reach the lineitem scan, not run post-join
    val q7Pushed = q7.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(q7Pushed.contains("l_shipdate"), q7Pushed)
    val q13 = planOf("q13_custdist")
    // the ON-clause priority exclusion must filter orders BEFORE the
    // outer join — at the scan, not as a post-join residual
    val q13Pushed = q13.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(q13Pushed.contains("o_orderpriority"), q13Pushed)
    assert(!q13.contains("CartesianProduct"))
    val q14 = planOf("q14_promo")
    val q14Pushed = q14.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(q14Pushed.contains("l_shipdate"), q14Pushed)
    assert(!q14.contains("CartesianProduct"))
    val q18 = planOf("q18_bigqty")
    assert(q18.contains("TakeOrderedAndProject"), "q18 top-100 must not globally sort")
    assert(q18.contains("partial_sum"), "quantity rollup needs map-side partials")
    assert(!q18.contains("CartesianProduct"))
  }

  test("round-7 curation plans: dup_ngram_rate joins a partial-agg df table (no window buffering), pii_redact is join-free") {
    // the df attach must be an equi-join against a map-side-combined
    // count table — NOT a count window over ng, which would buffer every
    // hot shingle's rows in one unsplittable task (AQE can split a
    // skewed join partition; it cannot split a window partition)
    val d = planOf("dup_ngram_rate")
    assert(d.contains("partial_count") || d.contains("Partial"), d)
    assert(d.contains("Join"), d)
    assert(!d.contains("Window"), "df must not attach via a window: " +
      d.linesIterator.filter(_.contains("Window")).mkString("\n"))
    assert(!d.contains("CartesianProduct"), d)
    // redaction is a per-row projection; only the presentation sort may
    // exchange
    val p = planOf("pii_redact")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
  }

  test("round-8 plans: chunked snapshot is 2 shuffles + broadcast scalars, boilerplate join broadcasts, nfc is shuffle-free, CM grid partial-aggregates") {
    // snapshot_chunked: the whole DBLog merge is TWO key-shuffles (the
    // state-at-watermark max_by and the final merge max_by), independent
    // of chunk count; the 3 scalars (max scn, key bounds) must arrive as
    // a broadcast 1-row join, never a shuffled one
    val sc = planOf("snapshot_chunked")
    assert("Exchange hashpartitioning".r.findAllIn(sc).size == 2, sc)
    assert("partial_max_by".r.findAllIn(sc).size == 2, sc)
    assert(sc.contains("BroadcastNestedLoopJoin"), sc)
    // boilerplate_lines: line chunking is generator-only map-side work;
    // the df-count feeds the join back as a BROADCAST (the boilerplate
    // set is small); both aggregations carry map-side partials
    val bl = planOf("boilerplate_lines")
    assert(bl.contains("Generate posexplode"), bl)
    assert(bl.contains("BroadcastHashJoin"), bl)
    assert(bl.contains("partial_count(distinct doc_id") &&
      bl.contains("partial_collect_list"), bl)
    assert(!bl.contains("SortMergeJoin") && !bl.contains("CartesianProduct"), bl)
    // text_normalize: a pure projection — the ONLY exchange is the
    // output-order range partitioning, and the expression stays native
    val tn = planOf("text_normalize")
    assert(!tn.contains("Exchange hashpartitioning"), tn)
    assert(tn.contains("nfc_normalize(text"), tn)
    // agg_heavyhitters: the CM grid must partial-aggregate (one ~32 KB
    // buffer per map partition — the whole point of the linear sketch)
    // and rejoin as a broadcast, never shuffled per-row
    val hh = planOf("agg_heavyhitters")
    assert(hh.contains("ObjectHashAggregate") && hh.contains("partial_"), hh)
    assert(hh.contains("BroadcastNestedLoopJoin") || hh.contains("BroadcastExchange"), hh)
  }

  test("round-10 plans: gopher is a pruned join-free scan, dedup_lines partial-aggregates and broadcasts the owner table, kmeans report broadcasts centroids") {
    // gopher_rules: five gates over ONE narrow scan — no hash exchange
    // anywhere (the only exchange is the presentation orderBy) and the
    // scan reads exactly (doc_id, text), not the other 3 columns
    val gr = planOf("gopher_rules")
    assert(!gr.contains("Exchange hashpartitioning") && !gr.contains("Join"), gr)
    val grRead = gr.linesIterator.find(_.contains("ReadSchema")).get
    assert(grRead.contains("doc_id") && grRead.contains("text") &&
      !grRead.contains("lang") && !grRead.contains("n_chars"), grRead)
    // dedup_lines: the first-owner table is a map-side-combinable
    // partial_min over the line hash, joined back as a BROADCAST (like
    // boilerplate's df table); reassembly partials present; never a
    // cartesian
    val dl = planOf("dedup_lines")
    assert(dl.contains("partial_min(struct(doc_id"), dl)
    assert(dl.contains("BroadcastHashJoin"), dl)
    assert(dl.contains("partial_collect_list") && dl.contains("partial_sum"), dl)
    assert(!dl.contains("CartesianProduct"), dl)
    // cluster_kmeans report: the k-row centroid table must broadcast
    // into the assignment scan, never shuffle it
    val km = planOf("cluster_kmeans")
    assert(km.contains("BroadcastHashJoin"), km)
    assert(!km.contains("SortMergeJoin") && !km.contains("CartesianProduct"), km)
  }

  test("tfidf_topk: two map-side aggs, broadcast df + 1-row N, rank-limited window, no corpus self-join") {
    val p = planOf("tfidf_topk")
    // term-frequency and document-frequency both partial-aggregate
    // map-side before their exchanges
    assert("partial_count".r.findAllIn(p).size >= 2, p)
    // the per-term df table reaches the tf join as a broadcast (term
    // cardinality ≪ corpus) and corpus size N as a 1-row cross broadcast
    assert(p.contains("BroadcastHashJoin [term"), p)
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross"), p)
    // the top-3 cut runs as a rank-limited window — WindowGroupLimit
    // Partial prunes each map task to 3 rows/doc BEFORE the shuffle
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
    // and nothing degenerates into an all-pairs stage
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("round-13 plans: script_profile is a pruned join-free scan, seq_pack_split is one window + one generate") {
    val sp = planOf("script_profile")
    // one 2-column scan, everything else stays a narrow projection
    val readSchema = sp.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
      !readSchema.contains("lang") && !readSchema.contains("n_chars"), readSchema)
    assert(!sp.contains("Join") && !sp.contains("Window"), sp)
    // only the presentation orderBy exchanges
    assert("Exchange".r.findAllIn(sp).size <= 1, sp)

    val sq = planOf("seq_pack_split")
    // exactly one cumulative window and one bounded generator; the bin
    // arithmetic must stay integral (no double-floor detour whose
    // precision would diverge from the oracle's integer `//` at scale)
    assert("\\bWindow\\b".r.findAllIn(sq).size >= 1, sq)
    assert(sq.contains("Generate explode(sequence"), sq)
    assert(!sq.toLowerCase.contains("floor("), sq)
    assert(!sq.contains("Join") && !sq.contains("CartesianProduct"), sq)
    // window hash exchange + presentation sort range exchange, nothing more
    assert("Exchange".r.findAllIn(sq).size <= 2, sq)

    // decon_overlap: one join + one per-doc aggregate over the shared
    // shingle table; never a cartesian, and no FORCED broadcast of the
    // eval side (AQE must stay free to pick from runtime stats — a
    // pinned broadcast would scale with the eval split)
    val dv = planOf("decon_overlap")
    assert(!dv.contains("CartesianProduct"), dv)
    assert(!dv.contains("ResolvedHint"), dv)
    assert("partial_count".r.findAllIn(dv).nonEmpty, dv)
  }

  test("round-15 plans: decon_normalized semi-joins hashes, mine_negatives stays broadcast, funnel scans once") {
    // decon_normalized: the scrub is a LeftSemi on 8-byte hashes + a
    // LeftAnti back to train docs — never a cartesian; the final doc
    // scan reads only (doc_id, source)
    val dn = planOf("decon_normalized").split("== Physical Plan ==").last
    assert(dn.contains("LeftSemi") && dn.contains("LeftAnti"), dn)
    assert(!dn.contains("CartesianProduct"), dn)

    // mine_negatives: tiny query side broadcast against the corpus scan
    // (BNLJ — the join condition is a pair of inequalities), labels read
    // IN the scan (pushed IsNotNull), rank window partitioned by q_id
    // with the rank-10 group limit applied before the full sort
    val mn = planOf("mine_negatives").split("== Physical Plan ==").last
    assert(mn.contains("BroadcastNestedLoopJoin BuildLeft"), mn)
    assert(!mn.contains("SortMergeJoin") && !mn.contains("CartesianProduct"), mn)
    assert(mn.contains("WindowGroupLimit [q_id"), mn)

    // corpus_funnel: the one-row aggregate is checkpointed before the
    // 4-way stack — exactly ONE documents scan feeds the flag pipeline
    // (un-checkpointed, the stack re-ran scan+window+join per stage)
    val cf = planOf("corpus_funnel").split("== Physical Plan ==").last
    assert("ExistingRDD|LogicalRDD|Scan ExistingRDD".r.findFirstIn(cf).isDefined, cf)
    assert(!cf.contains("FileScan parquet"), cf)
  }

  test("round-15 cont. plans: interval join stays equi-join, domain_cap ranks twice, ann_recall never goes cartesian") {
    // join_interval: the bin-bucketed self-join is a shuffled EQUI-join
    // on the bin with the overlap bound as residual — never a cartesian
    // or nested-loop product of the session table with itself
    val ji = planOf("join_interval").split("== Physical Plan ==").last
    assert(ji.contains("SortMergeJoin") || ji.contains("ShuffledHashJoin"), ji)
    assert(!ji.contains("CartesianProduct") &&
      !ji.contains("BroadcastNestedLoopJoin"), ji)

    // domain_cap: TWO rank windows (salt-local then per-source) with
    // group-limit pushdown on both, so the hot-domain sort is bounded
    val dc = planOf("domain_cap").split("== Physical Plan ==").last
    assert("WindowGroupLimit".r.findAllIn(dc).size >= 2, dc)

    // ann_recall: both searches keep their proven shapes (broadcast
    // query side, no cartesian); the eval joins are equi-joins
    val ar = planOf("ann_recall").split("== Physical Plan ==").last
    assert(ar.contains("BroadcastNestedLoopJoin BuildLeft") ||
      ar.contains("BroadcastHashJoin"), ar)
    assert(!ar.contains("CartesianProduct"), ar)
  }

  test("round-15 plans: repetition battery is a zero-shuffle Expression scan, winnow apply anti-joins, overlap gate un-hinted") {
    // text_repetition_full: the whole battery is ONE native-Expression
    // projection (graft.functions.RepetitionSignals) — no explode, no
    // aggregation, no joins; the only exchange is the presentation
    // sort's range partitioning (counts read the PHYSICAL section)
    val tr = planOf("text_repetition_full").split("== Physical Plan ==").last
    assert(!tr.contains("Generate"), tr)
    assert(tr.contains("repetition_signals"), tr)
    assert(!tr.contains("Join") && !tr.contains("CartesianProduct") &&
      !tr.contains("HashAggregate"), tr)
    assert("Exchange".r.findAllIn(tr).size <= 1, tr)
    // a 2-column pruned scan: the signals need doc_id + text only
    val readSchema = tr.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
      !readSchema.contains("lang") && !readSchema.contains("source"), readSchema)

    // dedup_winnow_apply: corpus scanned once, non-canonical members
    // removed by an anti-join against the tiny label table (broadcast
    // under AQE at fixture scale); never a cartesian
    val ap = planOf("dedup_winnow_apply")
    assert(ap.contains("LeftAnti"), ap)
    assert(!ap.contains("CartesianProduct") && !ap.contains("BroadcastNestedLoopJoin"), ap)

    // decon_overlap_incr: the membership join must stay UN-hinted (the
    // decon_overlap rationale — a pinned broadcast would scale with the
    // eval split), with map-side partial counts for the per-doc gate
    val oi = planOf("decon_overlap_incr")
    assert(!oi.contains("ResolvedHint"), oi)
    assert(!oi.contains("CartesianProduct"), oi)
    assert("partial_count".r.findAllIn(oi).nonEmpty, oi)
  }

  test("round-15 cont. plans: readability and span corruption are join-free narrow scans, apply_verify partial-aggregates") {
    // text_readability / span_corrupt: pure per-row projections — no
    // explode, no join, no window, no aggregation; the presentation
    // sort's range exchange is the only shuffle, and the scan reads
    // only (doc_id, text)
    Seq("text_readability", "span_corrupt").foreach { id =>
      val p = planOf(id).split("== Physical Plan ==").last
      assert(!p.contains("Generate") && !p.contains("Join") &&
        !p.contains("Window") && !p.contains("HashAggregate"), s"$id:\n$p")
      assert("Exchange".r.findAllIn(p).size <= 1, s"$id:\n$p")
      val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
      assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
        !readSchema.contains("lang") && !readSchema.contains("source"),
        s"$id: $readSchema")
    }

    // apply_verify: the parity summary must collapse map-side (partial
    // count + partial bit_xor before the bucket exchange) — the
    // constant-size-output contract that makes checksumming viable at
    // 100 TB; the apply fold underneath keeps its partial_max_by
    val av = planOf("apply_verify")
    assert("partial_max_by".r.findAllIn(av).nonEmpty, av)
    assert(av.contains("partial_count") || av.contains("partial_bit_xor") ||
      "HashAggregate.*partial".r.findAllIn(av).nonEmpty, av)
    assert(!av.contains("Join") && !av.contains("CartesianProduct"), av)
  }

  test("round-14 cont. plans: diversity is a join-free HOF scan, DSIR broadcasts the λ table, shuffle broadcasts the offset table") {
    // text_diversity: the distinct-n arrays dedupe INSIDE the row —
    // no explode, no join, no window; presentation sort is the only
    // exchange, and the scan reads exactly (doc_id, text)
    val td = planOf("text_diversity").split("== Physical Plan ==").last
    assert(!td.contains("Generate") && !td.contains("Join") &&
      !td.contains("Window"), td)
    assert("Exchange".r.findAllIn(td).size <= 1, td)
    val tdSchema = td.linesIterator.find(_.contains("ReadSchema")).get
    assert(tdSchema.contains("doc_id") && tdSchema.contains("text") &&
      !tdSchema.contains("lang") && !tdSchema.contains("source"), tdSchema)

    // dsir_score: the per-doc score join must consume λ as a BROADCAST
    // (≤ B rows by construction) — a sort-merge here would shuffle the
    // whole (doc_id, b) table a second time; counting aggs partial
    val ds = planOf("dsir_score").split("== Physical Plan ==").last
    assert(ds.contains("BroadcastHashJoin"), ds)
    assert(!ds.contains("SortMergeJoin") && !ds.contains("CartesianProduct"), ds)
    assert("partial_count".r.findAllIn(ds).nonEmpty, ds)
    val dsSchema = ds.linesIterator.find(_.contains("ReadSchema")).get
    assert(!dsSchema.contains("source") && !dsSchema.contains("n_chars"), dsSchema)

    // dsir_select_approx: the scale path must have NO doc-scale window —
    // since round 16 the memoized sketch threshold rides in as a plan
    // LITERAL; since r18 dsirScore's global (r,t) totals come from an
    // unpartitioned window over the ≤1024-row bucket-counts table (a
    // third corpus pass removed). Pin: any Window node's input must be
    // the bounded counts table (b, cr, ct), never per-doc columns. The
    // formatted explain prints each node as "(N) Window" followed by its
    // "Input [k]: [...]" line; the pin must match at least one Window,
    // or it would pass vacuously.
    val da = SparkEntry.queries("dsir_select_approx")(spark, sf("sf0.001"))
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val daWindowInputs = da.linesIterator.toSeq.sliding(2).collect {
      case Seq(a, b) if a.matches("\\(\\d+\\) Window.*") => b
    }.toSeq
    assert(daWindowInputs.nonEmpty, s"no Window node matched:\n$da")
    assert(daWindowInputs.forall(in => in.startsWith("Input") &&
        !in.contains("doc_id") && !in.contains("text")),
      s"dsir_select_approx window must stay on the bounded counts table:\n${daWindowInputs.mkString("\n")}")
    assert(!da.contains("SortMergeJoin") && !da.contains("CartesianProduct"), da)

    // select_budget_approx pair (round 16): the 100 TB twins of the
    // exact global-window ids — histogram threshold derived driver-side,
    // admission is one literal compare: NO window, NO join of any kind
    // anywhere in the doc path (the exact ids keep their documented
    // single global window as the oracle-exact form)
    for (id <- Seq("select_budget_approx", "select_budget_density_approx")) {
      val p = planOf(id).split("== Physical Plan ==").last
      assert(!p.contains("Window"), s"$id: $p")
      assert(!p.contains("Join"), s"$id: $p")
    }

    // corpus_shuffle: ONE row_number window (hash-partitioned by
    // shard — S parallel sorts, never a global one) + the S-row offset
    // table broadcast back; no cartesian
    val cs = planOf("corpus_shuffle").split("== Physical Plan ==").last
    assert("RunningWindowFunction|Window".r.findAllIn(cs).nonEmpty, cs)
    assert(cs.contains("BroadcastHashJoin"), cs)
    assert(!cs.contains("CartesianProduct"), cs)
    assert(cs.contains("hashpartitioning(shard"), cs)
  }

  test("PQ plans: code build is a join-free narrow scan, ADC search never sort-merges or goes cartesian") {
    // vec_pq: codes + recon_cos are ONE projection over (vec_id,
    // embedding) — no join, no window, no explode; the codebooks are
    // literal constants in-plan (the ivfCell idiom)
    val vp = planOf("vec_pq").split("== Physical Plan ==").last
    assert(!vp.contains("Join") && !vp.contains("Window") &&
      !vp.contains("Generate"), vp)
    val vpSchema = vp.linesIterator.find(_.contains("ReadSchema")).get
    assert(vpSchema.contains("vec_id") && vpSchema.contains("embedding") &&
      !vpSchema.contains("label"), vpSchema)

    // ann_pq: the corpus-scale stage is the broadcast-nested-loop of the
    // tiny LUT table against the CODE table (m element_at probes / row);
    // the re-rank joins are key joins on a shortlist — nothing may
    // sort-merge or go cartesian, and top-k windows partition by q_id
    val ap = planOf("ann_pq").split("== Physical Plan ==").last
    assert(ap.contains("BroadcastNestedLoopJoin"), ap)
    assert(!ap.contains("SortMergeJoin") && !ap.contains("CartesianProduct"), ap)
    assert(ap.contains("hashpartitioning(q_id"), ap)

    // ann_ivfpq: the structural upgrade over ann_pq — the LUT rows carry
    // the probed cell id, so the corpus-scale stage is an EQUI-join on
    // `cell` (BroadcastHashJoin), never a nested loop over all codes:
    // only probed cells' codes are touched (partition pruning at 100 TB)
    val ip = planOf("ann_ivfpq").split("== Physical Plan ==").last
    assert(ip.contains("BroadcastHashJoin [cell") ||
      ip.contains("BroadcastHashJoin [cast(cell"), ip)
    assert(!ip.contains("BroadcastNestedLoopJoin") &&
      !ip.contains("SortMergeJoin") && !ip.contains("CartesianProduct"), ip)
    assert(ip.contains("hashpartitioning(q_id"), ip)

    // ann_ivfpq_disk: probed cells are known at plan time, so the
    // persisted code scan must carry a STATIC cell partition filter —
    // at 100 TB this is directory-level pruning, zero bytes elsewhere
    val dp = planOf("ann_ivfpq_disk").split("== Physical Plan ==").last
    val pf = dp.linesIterator.find(_.contains("PartitionFilters: ["))
      .getOrElse(sys.error(s"no PartitionFilters in plan:\n$dp"))
    assert(pf.contains("cell"), pf)
    assert(!dp.contains("BroadcastNestedLoopJoin") &&
      !dp.contains("SortMergeJoin") && !dp.contains("CartesianProduct"), dp)
  }

  test("interval join stays an equi-join with residual time bound") {
    // a cartesian/nested-loop here would explode at stream scale
    val sj = planOf("stream_join")
    assert(!sj.contains("CartesianProduct") && !sj.contains("BroadcastNestedLoopJoin"), sj)
  }

  test("bucketed tables co-locate the join: no shuffle on either side") {
    // THE 100 TB join strategy: write both fact tables bucketed on the
    // join key, and the sort-merge join consumes the bucket layout
    // directly — zero Exchange in the plan, so the biggest join in the
    // pipeline moves no bytes between executors at read time.
    val s = spark
    val t = graft.Tables(s, sf("sf0.001"))
    s.sql("DROP TABLE IF EXISTS li_bucketed")
    s.sql("DROP TABLE IF EXISTS ord_bucketed")
    t.lineitem.select("l_orderkey", "l_quantity")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_bucketed")
    t.orders.select("o_orderkey", "o_totalprice")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_bucketed")
    val prevThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = s.table("li_bucketed")
        .join(s.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
      val n = j.collect().length // collect: the final adaptive plan
      assert(n > 0)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      // same join over plain parquet DOES shuffle — the layout is what
      // removed it, not the data size
      val unbucketed = t.lineitem.select("l_orderkey", "l_quantity")
        .join(t.orders.select("o_orderkey", "o_totalprice"),
          col("l_orderkey") === col("o_orderkey"))
      unbucketed.collect()
      assert(unbucketed.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      s.sql("DROP TABLE IF EXISTS li_bucketed")
      s.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("round-17 export packing: no whole-source window remains on the packing path") {
    // The scale-killer retired in round 17: a window partitioned by
    // source alone and ordered by doc_id sorts a WHOLE source in one
    // task. The packing ids must now carry (a) the bucketed full-table
    // window — every windowspecdefinition that orders by doc_id also
    // partitions by the __bkt salt — and (b) a broadcast join attaching
    // the tiny per-source bucket-offset table. The offsets window
    // (source partition, __bkt order, over #buckets aggregate rows) is
    // the only source-only window allowed, and it never sees doc rows.
    for (id <- Seq("corpus_export", "corpus_export_split", "training_manifest",
        "pack_efficiency", "corpus_release")) {
      val p = planOf(id).split("== Optimized Logical Plan ==").last
      val specs = "windowspecdefinition\\([^)]*\\)".r.findAllIn(p).toList
      val docOrdered = specs.filter(_.contains("doc_id#"))
      assert(docOrdered.nonEmpty, s"$id: expected a doc_id-ordered packing window\n$p")
      docOrdered.foreach(spec =>
        assert(spec.contains("__bkt#"),
          s"$id: doc_id-ordered window not bucket-salted: $spec"))
      val phys = planOf(id).split("== Physical Plan ==").last
      assert(phys.contains("BroadcastHashJoin"), s"$id: bucket-offset join must broadcast\n$phys")
    }
  }

  test("round-17 tokenizer encodes: distinct-word cache joins, no cartesian, pruned scans") {
    // wordpiece_encode / unigram_encode: the native matcher runs once
    // per DISTINCT word; occurrences map through a key join (AQE picks
    // the strategy — the vocab side is corpus-dependent); never a
    // cartesian; the documents scan reads only (doc_id, text)
    for (id <- Seq("wordpiece_encode", "unigram_encode")) {
      val p = planOf(id).split("== Physical Plan ==").last
      assert(!p.contains("CartesianProduct"), s"$id went cartesian\n$p")
      val schema = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
      assert(schema.contains("doc_id") && schema.contains("text") &&
        !schema.contains("lang") && !schema.contains("n_chars"), s"$id scan not pruned: $schema")
    }
  }

  test("round-18 plans: release delta stays salted + broadcast, budget sweep never cartesian beyond 1-row totals") {
    // corpus_release_delta builds TWO release manifests — both must
    // keep the round-17 packing discipline (every doc_id-ordered
    // window bucket-salted, offset table broadcast), and the final
    // manifest diff is a tiny (source, shard)-keyed join that must
    // never be cartesian
    locally {
      val p = planOf("corpus_release_delta")
      val opt = p.split("== Optimized Logical Plan ==").last
      val docOrdered = "windowspecdefinition\\([^)]*\\)".r.findAllIn(opt)
        .toList.filter(_.contains("doc_id#"))
      assert(docOrdered.nonEmpty, s"delta: expected doc_id-ordered packing windows\n$opt")
      docOrdered.foreach(spec => assert(spec.contains("__bkt#"),
        s"delta: doc_id-ordered window not bucket-salted: $spec"))
      val phys = p.split("== Physical Plan ==").last
      assert(!phys.contains("CartesianProduct"), s"delta went cartesian\n$phys")
      assert(phys.contains("BroadcastHashJoin"), s"delta: offset join must broadcast\n$phys")
    }
    // tokenizer_budget: six word-level arms — the only cross products
    // allowed are the broadcast 1-row total_words attachments; the
    // documents scan reads only text (word table needs nothing else)
    locally {
      val p = planOf("tokenizer_budget").split("== Physical Plan ==").last
      val carts = p.linesIterator.count(_.contains("CartesianProduct"))
      assert(carts == 0, s"budget sweep went cartesian\n$p")
      val schema = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
      assert(schema.contains("text") && !schema.contains("lang") &&
        !schema.contains("n_chars"), s"budget scan not pruned: $schema")
    }
    // unigram_train_em: the E-step joins the word-freq table to the
    // distinct-word Viterbi — key join, never cartesian, pruned scan
    locally {
      val p = planOf("unigram_train_em").split("== Physical Plan ==").last
      assert(!p.contains("CartesianProduct"), s"EM went cartesian\n$p")
      val schema = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
      assert(schema.contains("text") && !schema.contains("n_chars"),
        s"EM scan not pruned: $schema")
    }
  }

  test("r19 plans: gapfill scans events once, prf probes the memo, q5 broadcasts, anomaly is one Window") {
    // FormattedMode prints each operator's details once, under "(N) Name",
    // so a count of those headers counts distinct operators. Every pin
    // counts something that must be present, so none passes vacuously.
    def formatted(id: String): String =
      SparkEntry.queries(id)(spark, sf("sf0.001"))
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    def operators(p: String, name: String): Seq[String] =
      p.split("\n\n").toSeq.map(_.trim).filter(_.matches(s"(?s)\\(\\d+\\) $name\\b.*"))

    // ts_gapfill: one events scan feeds a pure unfold of the bucket
    // aggregate — no second events scan joined back
    val gap = formatted("ts_gapfill")
    val gapScans = operators(gap, "Scan parquet")
    assert(gapScans.size == 1 && gapScans.head.contains("events.parquet"), gap)
    assert(!gap.contains("Join"), gap)

    // bm25_prf: the postings, df and doclen tables are probed through the
    // memo's InMemoryTableScans; the tokenize subtree is built once. A
    // memo built earlier prints its plan twice (AQE's final and initial
    // plan) with the same expression ids, so distinct tokenize
    // expressions are counted: the r19 plan before the memo had 12.
    SparkEntry.queries("bm25_prf")(spark, sf("sf0.001")).count() // a built memo prints both plans
    val prf = formatted("bm25_prf")
    assert(operators(prf, "InMemoryTableScan").nonEmpty, prf)
    assert("explode\\(split\\(.*".r.findAllIn(prf).toSet.size == 1, prf)

    // q5_local: fact-centric order, every join a broadcast
    val q5 = formatted("q5_local")
    assert(operators(q5, "BroadcastHashJoin").nonEmpty, q5)
    assert(!q5.contains("SortMergeJoin"), q5)

    // ts_anomaly: the z-score and its n_prev guard share one Window
    val anomaly = formatted("ts_anomaly")
    assert(operators(anomaly, "Window").size == 1, anomaly)
  }

  test("partitioned writes prune partitions on read") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("prune").toString
    graft.Tables(s, sf("sf0.001")).events
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val read = s.read.parquet(dir).filter(col("event_type") === "click")
    val p = read.queryExecution.explainString(org.apache.spark.sql.execution.ExtendedMode)
    assert(p.contains("PartitionFilters: [isnotnull(event_type"), p)
    // only the matching partition directory is scanned
    val files = read.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSeq
    assert(files.nonEmpty && files.forall(_.contains("event_type=click")))
  }
}
