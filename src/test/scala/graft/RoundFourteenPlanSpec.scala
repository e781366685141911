package graft

/** Physical-plan contracts for the round-14 wave: the fused
  * matryoshka expression, the materialized-index probe, and (added
  * as the wave grows) the new statistics entries — pinned so a
  * refactor that silently de-optimizes fails loudly (same charter as
  * the RoundTen..Thirteen plan specs).
  */
class RoundFourteenPlanSpec extends SparkSpec {

  private def plan(name: String): String =
    persistStagedPlan(SparkEntry.queries(name)(_, sf))

  test("sim_matryoshka: the per-row norm pass is the codegen'd " +
    "norm_prefix_sq expression — no interpreted HOF fold survives in " +
    "the corpus scan") {
    val p = plan("sim_matryoshka")
    assert(p.contains("norm_prefix_sq"),
      s"the fused expression must carry the norm pass; plan:\n${p.take(2000)}")
    // quantize's transform() is the one legitimate lambda (it maps
    // each element once); the interpreted aggregate() FOLDS are what
    // must not come back
    assert(!"\\baggregate\\(".r.findFirstIn(p).isDefined,
      s"no interpreted aggregate() fold belongs in the hot path; plan:\n${p.take(2000)}")
    assert(!p.contains("Window") && !p.contains("Join"),
      "still a pure rollup — no window, no join")
  }

  test("dedup_probe_materialized: the index side is parquet SCANS of " +
    "the prebuilt hh/bucket tables (no shingle re-hash, no signature " +
    "explode), the delta side broadcasts, verification is the " +
    "shuffled-hash join-back") {
    val p = plan("dedup_probe_materialized")
    // index signatures must come FROM STORAGE: both prebuilt tables
    // appear as parquet FileScans of the cache dir
    assert("graft_minhash_index_[0-9a-f]+/hh".r.findFirstIn(p).isDefined,
      s"the hh table must be scanned from parquet; plan:\n${p.take(3000)}")
    assert("graft_minhash_index_[0-9a-f]+/bb".r.findFirstIn(p).isDefined,
      s"the bucket table must be scanned from parquet; plan:\n${p.take(3000)}")
    // every text-hashing site belongs to the DELTA leg: the index
    // legs are the two FileScans above, so the only scans of the
    // documents fixture are the delta filter (id >= 1000000)
    assert(!p.contains("minhash_signature(index"),
      "index signatures must not be recomputed")
    assert(p.contains("BroadcastExchange"),
      "the delta buckets/hashes must broadcast")
    assert(p.contains("ShuffledHashJoin"),
      "verification joins back by candidate id via shuffled-hash")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "no cartesian, no sort-merge on the probe path")
  }

  test("pref_krippendorff / eval_mcnemar / text_simpson: ONE map-side-" +
    "combined rollup each — never a window, never a join") {
    for (name <- Seq("pref_krippendorff", "eval_mcnemar", "text_simpson")) {
      val p = plan(name)
      assert(p.contains("partial_"),
        s"$name must partial-aggregate map-side; plan:\n${p.take(2000)}")
      assert(!p.contains("Window") && !p.contains("Join"),
        s"$name is a pure rollup — no window, no join")
    }
  }

  test("quality_spearman: windows run over the VALUE HISTOGRAMS only, " +
    "the corpus joins are (group, value)-keyed hash joins, one moment " +
    "rollup — no corpus window, no cartesian") {
    val p = plan("quality_spearman")
    assert(p.contains("Window"), "the rank cumsums ride windows")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
    assert((p.contains("InMemoryTableScan") || p.contains("ExistingRDD")),
      "the (grp, x, y) base must be staged — histograms AND join-back read it")
    assert(p.contains("partial_"), "the moment rollup partial-aggregates")
  }

  test("corpus_ks_drift: the grid is a broadcast cross join of two " +
    "rollup outputs, cumulative windows run over the grid (value " +
    "dimension), the max is a plain rollup") {
    val p = plan("corpus_ks_drift")
    assert(p.contains("Window"), "the CDF cumsums ride windows")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"the (groups x values) grid must broadcast; plan:\n${p.take(2000)}")
    assert((p.contains("InMemoryTableScan") || p.contains("ExistingRDD")),
      "the histogram must be staged — three consumers read it")
  }

  test("clf_brier: ONE corpus rollup to bins (Brier terms fold in the " +
    "same pass), bins-sized everything after, broadcast scalars — no " +
    "window") {
    val p = plan("clf_brier")
    assert(!p.contains("Window"), "no window in the decomposition")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"),
      "the global row must come back as a broadcast")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
  }

  test("sim_anisotropy: the corpus-sized stage is the vecSum typed " +
    "aggregator with the fused per-row norm — no generator fan-out of " +
    "components, no window") {
    val p = plan("sim_anisotropy")
    assert(p.contains("ObjectHashAggregate"),
      s"the vecSum aggregator must carry the rollup; plan:\n${p.take(2000)}")
    assert(p.contains("norm_prefix_sq"),
      "the per-row squared norm rides the fused expression")
    assert(!p.contains("Window"), "no window")
  }

  test("dedup_edit_verify: bucket-local candidates + shuffled-hash " +
    "text join-backs — Levenshtein runs on candidates only, never a " +
    "cartesian, never a sort-merge") {
    val p = plan("dedup_edit_verify")
    assert(p.contains("bounded_levenshtein"),
      "verification must ride the banded bounded-distance expression, " +
        "not the full quadratic DP")
    assert(p.contains("ShuffledHashJoin"),
      s"the text fetches ride shuffled-hash joins; plan:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "no cartesian, no sort-merge")
    assert((p.contains("InMemoryTableScan") || p.contains("ExistingRDD")),
      "the normalized-text table must be staged — both pair sides fetch")
  }

  test("sample_neyman: ONE corpus rollup to the stratum dimension; the " +
    "W scalar and leftover come back as broadcasts and the remainder " +
    "ranking windows the bounded strata frame only") {
    val p = plan("sample_neyman")
    assert(p.contains("partial_"), "the moment rollup partial-aggregates")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), "scalars broadcast")
    assert(p.contains("Window"), "the remainder ranking is a window " +
      "over strata (bounded — the UniMax convention)")
    assert((p.contains("InMemoryTableScan") || p.contains("ExistingRDD")),
      "the weighted strata frame must be staged — W and ranking read it")
  }

  test("eval_paired_bootstrap: corpus x B flows through ONE map-side-" +
    "combined rollup to B rows; windows rank only the B-row frame and " +
    "the readout is broadcast scalars") {
    val p = plan("eval_paired_bootstrap")
    assert(p.contains("partial_"),
      "the per-rep partials must combine inside the scan tasks")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), "the CI scalars broadcast")
    assert(!p.contains("CartesianProduct"),
      "scalar composition must stay broadcast, never cartesian")
  }

  test("sft_validate: a pure per-row projection — zero exchanges, " +
    "stream-deployable like the render twin") {
    val p = plan("sft_validate")
    assert(!p.contains("Exchange"),
      s"the validator must not shuffle; plan:\n${p.take(2000)}")
    assert(!p.contains("Window") && !p.contains("Join"),
      "no window, no join in a per-row gate")
  }

  test("text_pii_stats / eval_mde: ONE map-side-combined rollup each — " +
    "never a window, never a join") {
    for (name <- Seq("text_pii_stats", "eval_mde")) {
      val p = plan(name)
      assert(p.contains("partial_"),
        s"$name must partial-aggregate map-side; plan:\n${p.take(2000)}")
      assert(!p.contains("Window") && !p.contains("Join"),
        s"$name is a pure rollup")
    }
  }

  test("text_burstiness: two-stage counts + the two-stage top-N — " +
    "TakeOrderedAndProject, no global sort, no window, no join") {
    val p = plan("text_burstiness")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-N must ride the heap, not a global sort; plan:\n${p.take(2000)}")
    assert(p.contains("partial_"), "both rollups partial-aggregate")
    assert(!p.contains("Window") && !p.contains("Join"),
      "no window, no join")
  }

  test("vocab_growth: the only corpus-sized stage is the token " +
    "explode + min rollup; the checkpoint grid joins are bounded " +
    "broadcasts") {
    val p = plan("vocab_growth")
    assert(p.contains("partial_min") || p.contains("partial_"),
      "the first-occurrence rollup partial-aggregates")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), "grid joins broadcast")
    assert(!p.contains("Window"), "no window anywhere")
    assert((p.contains("InMemoryTableScan") || p.contains("ExistingRDD")),
      "the (id, tokens) base must be staged — two consumers read it")
  }
}
