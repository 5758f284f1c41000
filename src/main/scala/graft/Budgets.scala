package graft

/** THE CONF-KEY REGISTRY — every `graft.*` runtime knob in one place,
  * with its default and what it governs. Two of these are byte
  * budgets governing superficially similar broadcast decisions with
  * deliberately different defaults; this table is the disambiguation
  * (LintSpec pins that every `spark.conf.get*("graft.…")` site in
  * src/main uses a key registered here).
  *
  * | key | default | governs |
  * |---|---|---|
  * | `graft.similarity.levelBroadcastBytes` (2 GiB,
  *   [[graft.ops.Similarity]]) | crash-risk CAP: the largest
  *   quantizer level table / bulk-probe query payload allowed onto a
  *   broadcast; past it the plan FLIPS to the contract-identical
  *   keyed shuffle-hash attach. Sized to executor memory, not to a
  *   performance crossover. |
  * | `graft.decontaminate.benchBroadcastBytes` (32 MiB,
  *   [[graft.ops.Decontaminate]]) | performance CROSSOVER: below it
  *   the benchmark gram payload broadcasts raw and the plain screen
  *   is already shuffle-free, so `bloomOverlap` self-routes
  *   (delegates) to `ngramOverlap`; above it the Bloom bitset is the
  *   compressed broadcast. Measured, not safety-critical — wrong
  *   values cost time, never correctness or memory. |
  * | `graft.decontaminate.bloomBytes` (256 MiB,
  *   [[graft.functions.Bloom]]) | hard cap on the Bloom bitset a
  *   screen may broadcast; a benchmark too large for the budget gets
  *   a saturating (higher-fpp) filter, never a bigger allocation —
  *   exactness is restored by the verify join either way. |
  * | `graft.quantiles.rankTableBytes` (256 MiB,
  *   [[graft.ops.Quantiles]]) | refusal bound on the distinct-value
  *   rank table `percentileRanks` pins (localCheckpoint) for the
  *   returned plan's lifetime; over-budget domains are refused by
  *   name with this key as the escape hatch. |
  * | `graft.heavyHitters.pinBytes` (1 GiB,
  *   [[graft.ops.HeavyHitters]]) | refusal bound on the auto-pin
  *   localCheckpoint `heavyHitters` takes when its input plan is
  *   detectably non-deterministic (the sketch and verify passes must
  *   see the same rows); measured AFTER the eager checkpoint — the
  *   only point the real footprint is knowable — and released before
  *   refusing, so a non-deterministic corpus-scale input can never
  *   silently pin corpus-scale executor storage. |
  *
  * All five are byte budgets.
  *
  * Non-conf knobs (constructor parameters, deliberately NOT ambient
  * config because they change SEMANTICS or plan shape per call site):
  * IVF `nLists`/`nProbe`, LSH bands/rowsPerBand, `shardSpan`,
  * `bucketCap`, `maxDocFreq`, `denom`, APSS thresholds — a query's
  * result must be a function of its code, not of session state.
  */
object Budgets {

  /** Registered keys; LintSpec asserts every conf.get site matches. */
  val keys: Set[String] = Set(
    graft.ops.Similarity.LevelBroadcastBytesKey,
    graft.ops.Decontaminate.BenchDelegateBytesKey,
    graft.functions.Bloom.BloomBytesKey,
    graft.ops.Quantiles.RankTableBytesKey,
    graft.ops.HeavyHitters.PinBytesKey)
}
