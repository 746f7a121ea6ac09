package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression net: the properties that matter at cluster
  * scale, asserted over every driver-contract query plan so a rewrite
  * that silently degrades the plan (a cartesian product, a lost
  * pushdown, a pruned-column regression) fails the suite.
  *
  * BroadcastNestedLoopJoin is allowed only where it is the DESIGN:
  * brute-force ANN broadcasts the bounded query batch against the
  * corpus with a non-equi predicate, and the pyfolio grid crosses the
  * tiny day spine with the asset universe. Everything else must plan
  * as hash/sort-merge equi-joins or broadcast equi-joins.
  */
class PlanAuditSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private lazy val plans: Map[String, String] =
    SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, dir).queryExecution.executedPlan.toString
    }

  private val nonEquiByDesign = Set(
    "q_ann_cosine",           // broadcast query batch, q != neighbor
    "q_ann_truncated",        // same broadcast query batch, prefix pass
    "q_knn_label",            // same brute-force scan under the votes
    "q_pq_adc",               // ADC scan: broadcast query distance tables
    "q_pyfolio_positions",    // day-spine x universe dense grid
    "q_positions",            // instant-pair map join is values-only
    "q_bm25",                 // one-row corpus constants (N, total len)
    "q_unigram_lp",           // one-row corpus constant (total tokens)
    "q_zorder_rank",          // one-row corpus constant (total rows N)
    "q_quantiles",            // q+1-row rank broadcast, interval pick
    "q_sample_quantiles",     // same rank broadcast over the k-row sample
    "q_lm_ppl",               // one-row tercile-cut broadcast (c33, c67)
    "q_lm_ppl3",              // same tercile-cut + model-total broadcasts
    "q_lm_ppl5",              // same tercile-cut + model-total broadcasts
    "q_quality_stack",        // inherits the LM tercile-cut broadcast
    "q_corpus_pipeline",      // inherits the LM tercile-cut broadcast
    "q_frontier",             // one-row N + dangling-mass broadcasts
    "q_pagerank",             // one-row N + dangling-mass broadcasts
    "q_class_tfidf",          // one-row corpus constants (total, classes)
    "q_stratified_sample",    // one-row total + bounded allocation join
    "q_corpus_report",        // one-row aggregates crossed into the card
    "q_redact_report",        // one-row re-gate total crossed into the card
    "q_ann_filter_card",      // one-row survivor stats crossed into the card
    "q_compact_card",         // one-row file/row totals crossed into the card
    "q_ann_recall",           // brute-truth query-batch broadcast + one-row denominator
    "q_ann_recall_filtered",  // same card shape over the filtered truth
    "q_ann_tune",             // inherits the recall card's broadcasts
    "q_ann_tune_rerank",      // same knob-generic card: one-row truth-size broadcast
    "q_kmv_setops",           // 20x20 sketch-pair join (s1 < s2), bounded
    "q_kmv_hip",              // same bounded 20x20 sketch-pair join
    "q_hybrid_rrf",           // inherits the brute-cosine query-batch broadcast
    "q_neg_sample",           // one-row candidate-count (N) broadcast
    "q_hard_negatives",       // inherits the brute-cosine anchor broadcast
    "q_volume_drift")         // one-row bucket-bounds broadcast

  test("no cartesian product in any query plan") {
    plans.foreach { case (name, p) =>
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
    }
  }

  test("nested-loop joins only where they are the design") {
    plans.foreach { case (name, p) =>
      if (!nonEquiByDesign(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans an unexpected BroadcastNestedLoopJoin")
    }
  }

  test("parquet filters push down to the scan") {
    // event-type predicate reaches the events scan
    assert(plans("q_asof_attrib").contains("PushedFilters: [IsNotNull(event_type)"),
      "q_asof_attrib lost the event_type pushdown")
    // the ANN query-batch id filter reaches the embeddings scan
    assert(plans("q_ann_cosine").contains("LessThan(vec_id,20)"),
      "q_ann_cosine lost the vec_id pushdown")
    // filtered ANN: the metadata predicate reaches the corpus scan
    // BEFORE any distance work (the whole point of the filtered path)
    assert(plans("q_ann_filtered").contains("IsNotNull(label)"),
      "q_ann_filtered lost the label pushdown to the embeddings scan")
  }

  test("column pruning reaches the parquet scans") {
    // the dedup scan must not read the unused language/quality columns
    val dedup = plans("q_dedup_exact")
    assert(dedup.contains("ReadSchema") && !dedup.contains("props"),
      "q_dedup_exact reads columns it does not use")
    // embeddings label column is never needed by ANN queries
    assert(!plans("q_ann_lsh").contains("label"),
      "q_ann_lsh reads the unused label column")
  }

  test("the factor pipeline reuses the cached factor_data (no re-ingest)") {
    assert(plans("q_ic").contains("InMemoryTableScan"),
      "q_ic does not read the persisted factor_data")
  }

  test("round-4 corpus operators keep their scale-critical shapes") {
    // corpus top-k must plan as TakeOrderedAndProject (only k rows ever
    // leave the executors), never a global sort + limit
    assert(plans("q_top_ngrams").contains("TakeOrderedAndProject"),
      "q_top_ngrams lost the top-k pushdown")
    // centroid sums must partial-aggregate map-side
    assert(plans("q_centroids").contains("partial_sum"),
      "q_centroids lost map-side partial aggregation")
    // decontamination joins the benchmark side broadcast, and the
    // gram-hash matching never plans a fan-out join on the corpus side
    assert(plans("q_contamination").contains("BroadcastHashJoin"),
      "q_contamination does not broadcast the benchmark side")
    // semantic dedup candidates come from an equi-join on cell id —
    // never a cross product of the corpus with itself
    assert(plans("q_semdedup").contains("Join") &&
      !plans("q_semdedup").contains("CartesianProduct"),
      "q_semdedup lost the cell-bucketed candidate join")
    // sequence packing must broadcast the bounded block-prefix table
    // (the corpus side never shuffles for the offset join)
    assert(plans("q_pack_seqs").contains("BroadcastHashJoin"),
      "q_pack_seqs does not broadcast the block-prefix table")
    // gopher rules: the repetition aggregate partial-aggregates
    // map-side (the only shuffle-bound stage of the operator)
    assert(plans("q_gopher_rules").contains("partial_max"),
      "q_gopher_rules lost map-side partial aggregation")
  }

  test("round-5 operators keep their scale-critical shapes") {
    // bm25: the bounded query-term batch joins the postings broadcast
    // (scoring touches only postings whose term appears in some query)
    assert(plans("q_bm25").contains("BroadcastHashJoin"),
      "q_bm25 does not broadcast the query-term batch")
    // containment: the candidate-count prune aggregates map-side before
    // the shuffle (the pair-graph groupBy is the operator's big stage)
    assert(plans("q_containment").contains("partial_count"),
      "q_containment lost map-side partial aggregation on the pair counts")
    // unigram LM: per-(doc,term) tf and per-term cf both partial-agg
    assert(plans("q_unigram_lp").contains("partial_count") &&
      plans("q_unigram_lp").contains("partial_sum"),
      "q_unigram_lp lost map-side partial aggregation")
  }

  test("round-7 operators keep their scale-critical shapes") {
    // chunk dedup: keeper selection must stay a partial-agg groupBy +
    // join, never a window over occurrences (hot boilerplate chunks
    // would pile every occurrence into one partition)
    assert(!plans("q_chunk_dedup").contains("Window"),
      "q_chunk_dedup keeper selection regressed to a window")
    assert(plans("q_chunk_dedup").contains("partial_min"),
      "q_chunk_dedup lost map-side partial min on keeper selection")
    assert(!plans("q_boilerplate").contains("Window"),
      "q_boilerplate regressed to a window")
    // PCA covariance: ONE buffering aggregate (CovarMoments) — per-row
    // cost lands in a task-local flat buffer, not in exploded pair
    // rows, and the only shuffle is one partial buffer per partition.
    // No joins at all, no Generate (inline runs on the single
    // aggregated struct row, after the corpus aggregation).
    assert(plans("q_pca_gram").contains("graft_covar_moments"),
      "q_pca_gram lost the CovarMoments buffering aggregate")
    assert(plans("q_pca_gram").contains("ObjectHashAggregate"),
      "q_pca_gram moments should run in ObjectHashAggregate")
    assert(!plans("q_pca_gram").contains("Join"),
      "q_pca_gram should need no joins with the one-pass aggregate")
    assert(!plans("q_pca_gram").contains("partial_min"),
      "unexpected aggregate shape in q_pca_gram")
    // DSIR selection: bounded top-k, never a global single-partition sort
    assert(plans("q_dsir").contains("TakeOrderedAndProject"),
      "q_dsir selection is not a bounded top-k")
    // PMI selection likewise; pair generation is in-row (no self-join)
    assert(plans("q_pmi").contains("TakeOrderedAndProject"),
      "q_pmi selection is not a bounded top-k")
    // image hashing is a pure per-row map over the scan — the only
    // exchange is the final presentation orderBy
    assert(!plans("q_image_hash").contains("Join"),
      "q_image_hash grew a join; it must stay a per-row map")
  }

  test("round-8 operators keep their scale-critical shapes") {
    // WARC ingest: the record-type predicate must reach the custom
    // scan (it gates payload materialization inside the parser), and
    // the scan must prune to the three consumed columns
    val warc = plans("q_warc_roundtrip")
    assert(warc.contains("warc_type IN (response)"),
      "q_warc_roundtrip lost the warc_type pushdown into WarcScan")
    assert(!warc.contains("CartesianProduct"))
    // heavy hitters: the verify join must be a broadcast of the <=k
    // candidate set, never a shuffle of the token stream against it;
    // exact counting must keep map-side partial aggregation
    val hh = plans("q_heavy_hitters")
    assert(hh.contains("BroadcastHashJoin"),
      "q_heavy_hitters candidate join is not broadcast")
    assert(!hh.contains("SortMergeJoin"),
      "q_heavy_hitters shuffles the token stream to join candidates")
    assert(hh.contains("partial_count") || hh.contains("HashAggregate"),
      "q_heavy_hitters lost map-side partial counting")
    // bloom dedup: the verdicts must come from the in-row bit test
    // (the filter build already ran as ONE bitset aggregate at
    // construction — BloomSpec pins that plan); the only join in this
    // plan is the exact FP-labeling pass
    val bloom = plans("q_bloom_dedup")
    assert(bloom.contains("graft_hash56") && bloom.contains("shiftleft"),
      "q_bloom_dedup verdicts are not the scan-local bit-test probe")
    assert(!bloom.contains("forall"),
      "q_bloom_dedup probe regressed to the array-HOF spelling")
    assert(!bloom.contains("CartesianProduct"))
    // hll: the register build must partial-aggregate so at most m rows
    // per group leave each map partition — never the raw key set
    val hll = plans("q_hll_distinct")
    assert(hll.contains("partial_max"),
      "q_hll_distinct register build lost map-side partial max")
    // z-order: pure projection over the scan — no exchange before the
    // final presentation sort, no join
    val zo = plans("q_zorder")
    assert(!zo.contains("Join"), "q_zorder must not join")
    val zr = plans("q_zorder_rank")
    assert(!zr.contains("CartesianProduct"))
    assert(zr.contains("SortMergeJoin") || zr.contains("BroadcastHashJoin"),
      "q_zorder_rank bucket maps must attach via equi-joins")
  }

  test("round-8 sketch/layout operators keep their scale-critical shapes") {
    // CMS: the probe must be the scan-local HOF min over the literal
    // grid (no join against the counter table), and the only joins in
    // the plan belong to the heavy-hitter probe-set construction
    val cms = plans("q_cms_freq")
    assert(cms.contains("array_min"),
      "q_cms_freq estimates are not the scan-local array_min probe")
    assert(!cms.contains("CartesianProduct"))
    // epoch shard: per-block ranks + a broadcast of the bounded block
    // offsets — never a corpus-wide single-partition row_number
    val ep = plans("q_epoch_shard")
    assert(ep.contains("row_number"),
      "q_epoch_shard lost the windowed intra-block rank")
    assert(ep.contains("BroadcastHashJoin"),
      "q_epoch_shard block offsets must attach via a broadcast join")
    // salted join: the physical join must include the salt key (the
    // skew-breaking shape) and still be an equi-join
    val sj = plans("q_salted_join")
    assert(sj.contains("__salt"),
      "q_salted_join no longer joins on the salt")
    assert(!sj.contains("CartesianProduct") &&
      !sj.contains("BroadcastNestedLoopJoin"))
    // bucketed join: no hash-repartition exchange anywhere (at this
    // tiny sf the planner rightly swaps the merge join for a broadcast
    // — "Bucketed: false (disabled by query planner)" — so the strict
    // bucketed-scan SMJ shape is pinned in BucketingSpec under forced
    // merge joins; here pin that the layout never forces a re-shuffle
    // and that the scans do read the bucketed tables)
    val bj = plans("q_bucketed_join")
    assert(bj.contains("graft_bdocs_") && bj.contains("graft_bemb_"),
      "q_bucketed_join is not reading the bucketed tables")
    assert(!bj.contains("Exchange hashpartitioning"),
      "q_bucketed_join re-shuffles despite the bucketed layout")
  }

  test("round-8 ingest/maintenance operators keep their scale-critical shapes") {
    // sessionization: windows partitioned BY USER only (per-user
    // volume bounds a task), no join anywhere
    val sess = plans("q_sessions")
    assert(!sess.toLowerCase.contains("join"), "q_sessions grew a join")
    // merge: the winner is a hash aggregate (struct max), never a
    // row_number window — the hot-id skew guard
    val mc = plans("q_merge_corpus")
    assert(!mc.contains("Window"),
      "q_merge_corpus must pick winners by aggregate, not a window")
    // struct-max plans as SortAggregate (no mutable hash buffer for
    // structs) — still two-phase with a map-side partial, which is
    // the property that matters
    assert(mc.contains("SortAggregate") || mc.contains("HashAggregate"), mc)
    // url canonicalization: a pure per-row kernel map over the scan
    val uc = plans("q_url_canon")
    assert(uc.contains("graft_url_canon"),
      "q_url_canon lost the native kernel")
    assert(!uc.toLowerCase.contains("join"), "q_url_canon grew a join")
    // bloom semi-join: the scan-local probe precedes the real join
    val bs = plans("q_bloom_semijoin")
    // integral suppkey takes the raw-xxhash64 fast path (no per-row
    // string cast); still k scalar bit tests, never the array HOF
    assert(bs.contains("xxhash64") && bs.contains("shiftleft"),
      "q_bloom_semijoin verdicts are not the scan-local bit-test probe")
    assert(!bs.contains("forall"),
      "q_bloom_semijoin probe regressed to the array-HOF spelling")
  }

  test("round-9 operators keep their scale-critical shapes") {
    // corpus pipeline: the verdict table fans SEVEN branches out of
    // the stage chain — the stage boundaries are EAGER localCheckpoints
    // (leaf RDD scans) so every branch reads a materialization AND the
    // driver never plans the recursively-nested boundary lineage
    // (persisted boundaries measured 69s at sf0.1, ~50s of it
    // driver-side planning); the Bloom gate's scan-local bit test is
    // pinned by q_bloom_dedup's own audit (it now sits behind the
    // gate checkpoint here); no cartesian anywhere in the composite
    val cp = plans("q_corpus_pipeline")
    assert(cp.contains("Scan ExistingRDD"),
      "q_corpus_pipeline lost its checkpointed stage boundaries")
    assert(!cp.contains("CartesianProduct"))
    // adaptive salting: still the (key, salt) equi-join shape, with
    // the bounded heavy-key map attached by broadcast
    val sa = plans("q_salted_adaptive")
    assert(sa.contains("__salt"),
      "q_salted_adaptive no longer joins on the salt")
    assert(sa.contains("BroadcastHashJoin"),
      "q_salted_adaptive heavy-key map must attach via broadcast")
    assert(!sa.contains("CartesianProduct") &&
      !sa.contains("BroadcastNestedLoopJoin"))
    // time-varying groups: a plain equi-join on (date, asset) — no
    // cartesian, no nested loop (the mapping is panel-scale)
    val tv = plans("q_factor_data_group_tv")
    assert(!tv.contains("CartesianProduct") &&
      !tv.contains("BroadcastNestedLoopJoin"))
  }

  test("round-12 operators keep their scale-critical shapes") {
    // the measured bench pair must stay an honest comparison: the
    // operator side plans the partial/final heaps with no Window and
    // no sort below the exchange; the window side stays on the builtin
    // WindowGroupLimit path (rank kept => the rewrite must not fire)
    val heap = plans("q_topk_lineitem")
    assert(heap.contains("TopKPerKeyPartial") && heap.contains("TopKPerKeyFinal"),
      "q_topk_lineitem lost the heap operator")
    assert(!heap.contains("Window"),
      "q_topk_lineitem plans a Window — the operator path degraded")
    val win = plans("q_topk_window")
    assert(win.contains("WindowGroupLimit") && !win.contains("TopKPerKey"),
      "q_topk_window left the builtin baseline path")
    // byte CDC: the native kernel in-plan (no builtin fallback exists,
    // but a registry miss would fail at analysis — pin the plan anyway)
    assert(plans("q_cdc_bytes").contains("graft_gear_chunks"),
      "q_cdc_bytes does not run the gear kernel")
    // KMV: the sketch aggregate must partial-aggregate (map-side
    // combine of ≤k-value buffers), not shuffle raw hashes
    val kmv = plans("q_kmv_distinct")
    assert(kmv.contains("graft_kmv"),
      "q_kmv_distinct does not run the KMV aggregate")
    assert(kmv.contains("ObjectHashAggregate") || kmv.contains("SortAggregate"),
      "q_kmv_distinct lost the typed-imperative aggregate shape")
  }

  test("IVF queries run the native cell-distance kernel, not the fallback") {
    // cell assignment once composed distance arrays that silently
    // degraded to nCells x dim literal l2sq plans when a registration
    // check missed — a 10x slowdown with no functional signal (VERDICT
    // r5 #1). It now runs the fused graft_nearest_cell[s] kernels,
    // which have no per-centroid fallback; pin them in the executed
    // plan of every query that assigns cells.
    for (q <- Seq("q_ann_ivf", "q_ivfadc", "q_semdedup"))
      assert(plans(q).contains("graft_nearest_cell"),
        s"$q plan does not contain the fused graft_nearest_cell kernel " +
          "(per-centroid literal plans or a distance-array argmin)")
  }

  /** Graft kernels (classes under graft.functions) inside an expression. */
  private def graftKernels(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    e.collect { case k if k.getClass.getName.startsWith("graft.functions.") => k }

  /** (Filter condition kernel, Project) pairs where a Filter evaluates a
    * graft kernel that the Project directly above it (through any
    * further Filters) evaluates again — the shape Catalyst produces
    * when it infers `isnotnull(<kernel>)` for a join key, or pushes a
    * filter on a kernel-derived column below its Project. */
  private def recomputedInFilter(
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def walk(p: SparkPlan, above: Option[ProjectExec]): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, None)
      case pr: ProjectExec => walk(pr.child, Some(pr))
      case f: FilterExec =>
        val again = above.toSeq.flatMap { pr =>
          graftKernels(f.condition).filter(k =>
            pr.projectList.exists(_.exists(_.semanticEquals(k))))
        }.map(k => s"${k.prettyName} in Filter ${f.condition.sql.take(120)}")
        again ++ walk(f.child, above)
      case other =>
        other.children.flatMap(walk(_, None)) ++
          other.subqueries.flatMap(walk(_, None))
    }
    walk(plan, None)
  }

  test("no Filter re-evaluates a graft kernel its Project evaluates") {
    // a nullable kernel under an equi-join makes Catalyst infer an
    // isnotnull(<kernel>) Filter below the Project that computes the
    // same kernel, so every row pays it twice (the 65k-cell IVF probe
    // paid its cell-distance kernel in both). The fused cell kernels
    // are non-nullable for exactly this reason.
    for (q <- Seq("q_ann_ivf", "q_ivfadc", "q_semdedup", "q_vec_outliers")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      val dup = recomputedInFilter(plan)
      assert(dup.isEmpty, s"$q evaluates a kernel twice: ${dup.mkString("; ")}")
    }
    // ivfTopK: one assignment kernel on the corpus side, one probe-list
    // kernel on the query side, and no isnotnull over either
    val ivf = plans("q_ann_ivf")
    assert(ivf.split("graft_nearest_cell\\(").length - 1 === 1 &&
      ivf.split("graft_nearest_cells\\(").length - 1 === 1,
      "q_ann_ivf should evaluate each fused kernel once per side")
    for (q <- Seq("q_ann_ivf", "q_ivfadc"))
      assert(!plans(q).contains("isnotnull(graft_"),
        s"$q filters on a kernel result")
  }

  // formatted explain surfaces aggregate RESULT expressions, which the
  // plan's toString omits (q_simhash computes hash56 in the aggregate's
  // result projection, invisible to executedPlan.toString)
  private def detailed(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("every other native kernel is in-plan where an operator depends on it") {
    // same rationale as the IVF kernel pin: each native expression has a
    // builtin fallback it silently degrades to if the extension
    // registration check misses, and that degradation previously
    // masqueraded as host noise in the bench. Pin each kernel in the
    // executed plan of the queries whose hot path it is.
    val wants = Seq(
      "graft_dot" -> Seq("q_ann_cosine", "q_neardup_cosine", "q_knn_label",
        "q_semdedup", "q_ivfadc"),
      "graft_sign_bits" -> Seq("q_ann_lsh"),
      "graft_shingle_seq" -> Seq("q_jaccard_pairs", "q_minhash_neardup",
        "q_containment", "q_winnow"),
      "graft_hash56" -> Seq("q_simhash"),
      "graft_tokens" -> Seq("q_token_counts"))
    for ((kernel, qs) <- wants; q <- qs)
      assert(plans(q).contains(kernel) || detailed(q).contains(kernel),
        s"$q plan does not contain the native $kernel kernel " +
          "(silent fallback to the builtin composition)")
  }

  test("round-15 operators keep their scale-critical shapes") {
    // broadcast overlap family: the interval-tree kernel feeds the
    // explode and the ONLY join is the rid broadcast join-back — the
    // big side never rides a shuffle join
    for (q <- Seq("q_overlap_bcast", "q_overlap_win_bcast")) {
      assert(plans(q).contains("graft_overlap_rids_bcast"),
        s"$q lost the interval-tree kernel")
      assert(!plans(q).contains("SortMergeJoin"),
        s"$q shuffled the big side")
    }
    // the phrase-SET gate stays one kernel projection: no join, no
    // aggregation before the presentation sort
    assert(plans("q_phrase_set").contains("graft_phrase_set_hits_bcast"),
      "q_phrase_set lost the set kernel")
    assert(!plans("q_phrase_set").contains("Join"),
      "q_phrase_set grew a join; the set rides the broadcast handle")
    // decontamination goes through the ONE-join batch walk: posting
    // join + slot-vote aggregate + verdict join-back, never per-phrase
    assert(plans("q_decontam").split("Join").length - 1 <= 4,
      "q_decontam grew per-phrase joins")
    // audio trim family is scan-local: deserialize -> mapPartitions,
    // no exchange before the verdict rows exist
    assert(!plans("q_audio_trim").contains("Join"),
      "q_audio_trim must stay a per-row decode map")
  }

  test("round-17 operators keep their scale-critical shapes") {
    // the blocklist family rides the broadcast automaton kernel and
    // never a join (single-EXPRESSION economy at 1480 needles is
    // pinned on the optimized plan in ScaleProbeSpec)
    for (q <- Seq("q_blocklist", "q_blocklist_clean", "q_blocklist_ci")) {
      assert(plans(q).contains("graft_ac_scan_bcast"),
        s"$q lost the AC kernel")
      assert(!plans(q).contains("Join"), s"$q grew a join")
    }
    // provenance adds exactly the one small aggregate, still no join
    assert(plans("q_blocklist_prov").contains("graft_ac_scan_bcast") &&
      !plans("q_blocklist_prov").contains("Join"),
      "q_blocklist_prov must stay kernel scan + aggregate")
    // redaction is one kernel projection end to end
    assert(plans("q_redact").contains("graft_ac_redact_bcast"),
      "q_redact lost the redact kernel")
    assert(!plans("q_redact").contains("Join") &&
      !plans("q_redact").contains("Aggregate"),
      "q_redact must stay a stateless projection")
    // canonicalization is one kernel projection end to end
    assert(plans("q_canon").contains("graft_ac_replace_bcast"),
      "q_canon lost the replace kernel")
    assert(!plans("q_canon").contains("Join") &&
      !plans("q_canon").contains("Aggregate"),
      "q_canon must stay a stateless projection")
    // exact decontamination: the corpus side never joins — the only
    // aggregate is the per-doc fold of the kernel's counts
    assert(plans("q_decontam_exact").contains("graft_ac_scan_bcast") &&
      !plans("q_decontam_exact").contains("Join"),
      "q_decontam_exact must stay kernel scan + per-doc fold")
  }
}
