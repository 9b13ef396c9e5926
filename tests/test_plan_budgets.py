"""CI-enforced physical-plan budgets (VERDICT r2 #7).

tools/plan_audit.py produced ad-hoc evidence; these tests freeze the
per-family Exchange/join/pruning budgets so a plan regression (an
accidental extra shuffle, a lost partition filter, a broadcast that
degrades to sort-merge) fails the suite instead of silently shipping.

Budgets are upper bounds chosen one notch above the known-good plan —
tight enough to catch a structural regression, loose enough to survive
cosmetic optimizer changes.
"""

import pytest

from tools.plan_audit import audit


@pytest.fixture(scope="module")
def prepared(spark, sf_dir, index_registry):
    """Persisted indexes for the prebuilt-path queries, dropped after
    this module so other test files see their own state."""
    import __spark_entry__ as m

    m.prepare_indexes(spark, sf_dir)
    return m


#: name -> {metric: (op, bound)}; op "<=" is a ceiling, ">=" a floor.
BUDGETS = {
    # relational core: single-shuffle agg with scan pushdown
    "tpch_q1": {"shuffles": ("<=", 1), "pushed_filters": (">=", 1)},
    # join family: dims broadcast, no sort-merge join
    "tpch_q3": {"shuffles": ("<=", 1), "smj": ("<=", 0)},
    # prebuilt BM25: one scoring shuffle, term-bucket directory pruning
    "bm25_prebuilt": {"shuffles": ("<=", 1), "partition_filters": (">=", 1)},
    # A-ES weighted sample: map-side key projection + TakeOrdered —
    # ZERO shuffles, the corpus never moves
    "weighted_sample": {"shuffles": ("<=", 0), "python_stages": ("<=", 0)},
    # gap-fill: one partial-agg over events + grid join + per-key
    # window; the bnlj is the 1-row bounds attach to the grid explode
    "events_gapfill": {"shuffles": ("<=", 4), "smj": ("<=", 0),
                       "bnlj": ("<=", 1), "python_stages": ("<=", 0)},
    # MaxScore BM25 (in-DAG index build like bm25_topk's 5 shuffles,
    # plus the candidate distinct + semi-join; no sort-merge, no
    # python; the bnlj is the 1-row stats scalar attach)
    "bm25_maxscore": {"shuffles": ("<=", 8), "smj": ("<=", 0),
                      "bnlj": ("<=", 1), "python_stages": ("<=", 0)},
    # persisted LSH probe: map-only pruned scan + TakeOrdered
    "lsh_prebuilt": {"shuffles": ("<=", 0), "partition_filters": (">=", 1)},
    # IVF single probe: map-only pruned scan
    "ann_ivf": {"shuffles": ("<=", 0)},
    # hybrid fusion over the prebuilt index: the keyword scoring agg is
    # the one shuffle (its sparse scores broadcast onto the candidates);
    # the statistics and ranges ran as driver-side actions, so the plan
    # carries them as literals
    "hybrid_topk": {"shuffles": ("<=", 1)},
    # filtered hybrid: BM25 over per-row term maps with literal
    # statistics — the returned plan is a scan plus TakeOrdered
    "hybrid_filtered": {"shuffles": ("<=", 0), "smj": ("<=", 0),
                        "bnlj": ("<=", 0), "python_stages": ("<=", 0)},
    # dense batch hybrid: keyword agg + the per-query top-k window
    # exchange, whose WindowGroupLimit(Partial) pre-filters each map
    # task to its local top-k (operators/topn) — a hot query's
    # candidates never funnel one reducer
    "batch_hybrid": {"shuffles": ("<=", 2), "smj": ("<=", 0)},
    # dedup ladder: single-shuffle groupings, banded joins broadcast
    "exact_dedup": {"shuffles": ("<=", 1)},
    "minhash": {"shuffles": ("<=", 1)},
    "simhash_near": {"shuffles": ("<=", 2)},
    "ngram_jaccard": {"shuffles": ("<=", 3)},
    # text analysis: pure column expressions, zero shuffle, codegen'd
    "token_counts": {"shuffles": ("<=", 0), "codegen_spans": (">=", 1)},
    "repetition": {"shuffles": ("<=", 0), "codegen_spans": (">=", 1), "python_stages": ("<=", 0)},
    "pii_redact": {"shuffles": ("<=", 0), "codegen_spans": (">=", 1), "python_stages": ("<=", 0)},
    # top-word argmax: (doc, word) partial-agg shuffle + per-doc window
    "word_concentration": {"shuffles": ("<=", 2), "python_stages": ("<=", 0)},
    # curation (r15): at test SF the prefix sum's small-input fast
    # path runs — ONE dedup-agg exchange + ONE per-source window
    # exchange, no boundary collect, no cache (the r14 bucketed
    # machinery tripled the query at toy scale; it still engages past
    # SMALL_THRESHOLD rows — SCALE.md "Round 14: distributed prefix sum")
    "curate": {"shuffles": ("<=", 2)},
    # sessionization: one per-user window shuffle
    "events_sessions": {"shuffles": ("<=", 1)},
    # q9-shaped profit: one groupBy shuffle, every dim broadcast
    "tpch_q9": {"shuffles": ("<=", 1), "smj": ("<=", 0), "pushed_filters": (">=", 1)},
    # q21-shaped decorrelated EXISTS/NOT-EXISTS: per-order agg + join
    # back share the l_orderkey key (agg exchange, SMJ align, final
    # s_name agg); AQE-off static plan keeps the self-join sort-merge
    "tpch_q21": {"shuffles": ("<=", 4), "smj": ("<=", 1)},
    # q20-shaped threshold-vs-correlated-agg: both aggregate levels on
    # already-reduced rows, every join broadcast, no sort-merge
    "tpch_q20": {"shuffles": ("<=", 4), "smj": ("<=", 0), "pushed_filters": (">=", 1)},
    # q16-shaped distinct-pair count: anti-join broadcast, distinct +
    # final count are the only shuffles
    "tpch_q16": {"shuffles": ("<=", 2), "smj": ("<=", 0), "pushed_filters": (">=", 1)},
    # q11-shaped fraction-of-global: fact agg + 1-row global broadcast
    "tpch_q11": {"shuffles": ("<=", 2), "smj": ("<=", 0)},
    # as-of join: view-reduce agg + ONE union'd window shuffle; the
    # final per-user rollup reuses the window's hash partitioning and
    # there is NO join node (the whole point of the union+window shape)
    "events_asof_attribution": {
        "shuffles": ("<=", 2), "smj": ("<=", 0), "bhj": ("<=", 0),
        "bnlj": ("<=", 0), "python_stages": ("<=", 0),
    },
    # binned range join: bucket-equality join (never a nested loop),
    # per-error agg + join-back + histogram agg
    "events_range_proximity": {
        "shuffles": ("<=", 3), "bnlj": ("<=", 0), "python_stages": ("<=", 0),
    },
    # TF-IDF keywords: tf partial-agg + per-doc window; df table and
    # the 1-row N both broadcast, never sort-merge
    "keyword_extract": {
        "shuffles": ("<=", 3), "smj": ("<=", 0), "python_stages": ("<=", 0),
    },
    # decontamination: the join itself is a broadcast of the benchmark
    # shingles (the corpus side never shuffles FOR the join); the 3
    # exchanges are the two shingle-distincts + the per-doc rollup
    "decontaminate": {
        "shuffles": ("<=", 3), "smj": ("<=", 0), "bnlj": ("<=", 0),
        "python_stages": ("<=", 0),
    },
    # -- round-6/7 families (VERDICT r6 item 5) -----------------------
    # generic keyed MERGE read-back: the merged table re-reads as one
    # partitioned scan + the result rollup's single exchange
    "merge_orders": {"shuffles": ("<=", 1), "smj": ("<=", 0),
                     "python_stages": ("<=", 0)},
    # segmented BM25 builds BOTH segments in-DAG here (production
    # scores persisted segments): per segment tf + df partial-aggs,
    # then the additive merge and scoring joins; the single bnlj is
    # the 1-row global-stats (N/sumdl) scalar attach, never a data join
    "bm25_incremental": {"shuffles": ("<=", 9), "smj": ("<=", 0),
                         "bnlj": ("<=", 1), "python_stages": ("<=", 0)},
    # PQ retrieve+refine: map-only ADC scan + TakeOrdered, broadcast
    # shortlist semi-join, zero corpus shuffles; the one python stage
    # is the in-DAG encode (the persisted-index probe is plan-asserted
    # zero-python in tests/test_pq.py)
    "ann_pq": {"shuffles": ("<=", 0), "smj": ("<=", 0), "bnlj": ("<=", 0),
               "bhj": ("<=", 1), "python_stages": ("<=", 1)},
    # IVF x PQ composed probe: same shape with the label filter pushed
    # into both scans
    "ann_ivfpq": {"shuffles": ("<=", 0), "smj": ("<=", 0),
                  "bnlj": ("<=", 0), "bhj": ("<=", 1),
                  "python_stages": ("<=", 1), "pushed_filters": (">=", 1)},
    # two-pass equi-width histogram: the 1-row min/max bounds attach by
    # broadcast (the bnlj), then one bin agg + one result exchange
    "events_histogram": {"shuffles": ("<=", 2), "smj": ("<=", 0),
                         "bnlj": ("<=", 1), "python_stages": ("<=", 0)},
    # CUBE = one expand + single grouping-sets agg exchange
    "events_cube": {"shuffles": ("<=", 1), "smj": ("<=", 0),
                    "python_stages": ("<=", 0)},
    # unpivot runs ON the pivot output: pivot's agg + the final order
    "events_unpivot": {"shuffles": ("<=", 2), "smj": ("<=", 0),
                       "python_stages": ("<=", 0)},
    # PCM decode -> RMS/peak/ZCR: exactly ONE Arrow stage (the decode
    # batch), no shuffle before the rollup
    "audio_features": {"shuffles": ("<=", 1), "smj": ("<=", 0),
                       "python_stages": ("<=", 1)},
    # fixed-3-iteration PageRank: the edge build is checkpointed (its
    # pandas similarity join never re-runs — py=0 in the visible
    # plan); per iteration one rank-attach join + one partial-agg
    # exchange.  This AQE-off session plans the 3 iteration joins as
    # sort-merge — which IS the scale-honest shape (neither side of a
    # |V| x |E| join broadcasts at 100 TB; the joins co-partition on
    # the key); under AQE the tiny test frames broadcast instead.
    # Never a nested loop.
    "pagerank_centrality": {"shuffles": ("<=", 9), "smj": ("<=", 3),
                            "bnlj": ("<=", 0), "python_stages": ("<=", 0)},
    # bloom-pre-filtered semi-join: the probe-side membership test is
    # codegen on the scan (pushed literal bitmap), the residual join
    # broadcasts the selective build side, one agg exchange
    "bloom_semi_join": {"shuffles": ("<=", 1), "smj": ("<=", 0),
                        "bnlj": ("<=", 0), "python_stages": ("<=", 0),
                        "pushed_filters": (">=", 1)},
    # CC x PageRank composed keep-decision: pagerank's per-iteration
    # joins + CC's star rounds (both checkpoint-cut at the shared pair
    # build) + ONE |V|-row pick join + one cluster-partitioned window
    # exchange on top (the argmax window's WindowGroupLimit pre-filter
    # keeps a mega-cluster map-side); still zero Python stages and no
    # nested-loop joins anywhere.  r15: 14 -> 6 — the r14 budget was
    # fitted against an audit that double-counted (nested-AQE
    # truncation + the retired hand-rolled two-phase argmax exchange)
    "canonical_docs": {"shuffles": ("<=", 6), "smj": ("<=", 4),
                       "bnlj": ("<=", 0), "python_stages": ("<=", 0)},
    # MOR-delete read path: the deletion-vector application is ONE
    # broadcast anti-join on (file, pos) — never a sort-merge — and
    # the two phase aggs are the only exchanges; the materialized
    # phase reads join-free (same scan, vectors folded away)
    "snap_dv": {"shuffles": ("<=", 2), "smj": ("<=", 0),
                "bnlj": ("<=", 0), "bhj": ("<=", 1),
                "python_stages": ("<=", 0)},
    # z-ordered box scan: manifest pruning feeds a plain pushed-filter
    # scan + ONE agg exchange — no joins of any kind at read time
    "snap_zorder": {"shuffles": ("<=", 1), "smj": ("<=", 0),
                    "bhj": ("<=", 0), "bnlj": ("<=", 0),
                    "python_stages": ("<=", 0),
                    "pushed_filters": (">=", 1)},
    # bloom point lookup: the kept-file scan is a plain pushed-filter
    # parquet read (the bloom pruning happened at planning time); the
    # one exchange is the final orderBy
    "snap_bloom": {"shuffles": ("<=", 1), "smj": ("<=", 0),
                   "bhj": ("<=", 0), "bnlj": ("<=", 0),
                   "python_stages": ("<=", 0),
                   "pushed_filters": (">=", 1)},
    # aggview READ path: finals derive from the stored states in the
    # scan projection — zero shuffles, zero joins, no re-aggregation
    # (the refreshes run eagerly before this plan and are budgeted by
    # their own O(|delta|) contract in tests/test_aggview.py)
    "incremental_hourly": {"shuffles": ("<=", 0), "smj": ("<=", 0),
                           "python_stages": ("<=", 0)},
    # quantile finals walk the stored bucket arrays in the scan
    # projection — zero shuffles, zero joins, pure codegen
    "quantile_view": {"shuffles": ("<=", 0), "smj": ("<=", 0),
                      "python_stages": ("<=", 0)},
    # cascade READ path: the daily states scan directly (refresh cost
    # is budgeted by its own O(delta) contract in tests/test_aggview)
    "rollup_daily": {"shuffles": ("<=", 0), "smj": ("<=", 0),
                     "python_stages": ("<=", 0)},
    # post-DML read: one agg exchange + the orderBy sort; the merge/
    # update commits themselves ran eagerly before this plan
    "snap_merge": {"shuffles": ("<=", 2), "smj": ("<=", 0),
                   "python_stages": ("<=", 0)},
    # line dedup: pages groupBy + global line count + rebuild groupBy;
    # the hot-set anti-join and n_lines attach broadcast (no SMJ)
    "line_dedup": {"shuffles": ("<=", 4), "smj": ("<=", 0),
                   "python_stages": ("<=", 0)},
    # symdelete fuzzy join: key explode is map-side (array_distinct,
    # no per-side dedup shuffle); one pair-distinct exchange + the
    # candidate join (broadcast at test SF, +1 exchange if it shuffles)
    "fuzzy_join": {"shuffles": ("<=", 3), "smj": ("<=", 0),
                   "python_stages": ("<=", 0)},
    # k=2 variant: same plan shape, O(len^2/2) keys instead of O(len)
    "fuzzy_join2": {"shuffles": ("<=", 3), "smj": ("<=", 0),
                    "python_stages": ("<=", 0)},
    # one-pass profile: the single global agg two-phase (distinct
    # expand folds into it) + the stack unpivot — no joins, no python
    "data_quality": {"shuffles": ("<=", 2), "smj": ("<=", 0),
                     "bhj": ("<=", 0), "python_stages": ("<=", 0)},
    # per-group outliers (r15 de-windowed): group stats via partial
    # aggregation (one exchange) joined back by broadcast — the corpus
    # itself never shuffles, and a dominant group collapses map-side
    # instead of funneling one window reducer
    "anomaly_events": {"shuffles": ("<=", 1), "smj": ("<=", 0),
                       "bhj": ("<=", 1), "python_stages": ("<=", 0)},
    # top-3 users per event_type (r15): the per-user count agg + ONE
    # per-type window exchange whose WindowGroupLimit(Partial) prunes
    # a billion-user event_type to <= 3 rows per map partition before
    # anything shuffles (operators/topn)
    "events_top_users": {"shuffles": ("<=", 2), "smj": ("<=", 0),
                         "python_stages": ("<=", 0)},
    # bigram LM scoring: 4 vocab-sized count shuffles (train uni raw,
    # train uni mapped, train bi, per-doc agg) + the r14 per-doc
    # bigram pre-aggregation (map-side partials collapse a doc's
    # repeats before the exchange, capping hot-pair rows at one per
    # doc if the bi join ever falls back to a shuffle); every join
    # broadcast AT THIS SF (bi is bounded by distinct train pairs,
    # not guaranteed under the threshold at 100 TB — see operators/lm)
    "lm_quality": {"shuffles": ("<=", 5), "smj": ("<=", 0),
                   "bnlj": ("<=", 0), "python_stages": ("<=", 0)},
    # DSIR importance weights: 2 bounded (<=4096-row) bucket-count
    # shuffles + the per-doc agg; bucket tables broadcast — the
    # corpus never shuffles on token/bucket keys
    "dsir_weights": {"shuffles": ("<=", 3), "smj": ("<=", 0),
                     "bnlj": ("<=", 0), "python_stages": ("<=", 0)},
    # sequence packing over the DISTRIBUTED prefix sum (r14): the
    # corpus exchange on (source, bucket) for the running sums, the
    # tiny partial-agged totals exchange + per-part offsets window
    # (<= n_buckets rows/part), and the (source, seq) groupBy after
    # the explode; the offsets attach back by broadcast (no SMJ)
    "pack_sequences": {"shuffles": ("<=", 5), "smj": ("<=", 0),
                       "bnlj": ("<=", 0), "python_stages": ("<=", 0)},
    # whole-doc offset packing, same prefix-sum plan minus the explode
    # groupBy: corpus exchange + tiny totals + tiny offsets window
    "pack_shards": {"shuffles": ("<=", 4), "smj": ("<=", 0),
                    "bnlj": ("<=", 0), "python_stages": ("<=", 0)},
    # CCNet bucketing (r14, distributed exact ntile): the persisted
    # scoring subtree's 5 shuffles (counted once — the audit dedupes
    # cached blocks) + the distributed-rank machinery (corpus exchange
    # on (source, bucket), tiny totals + offsets exchanges) and the
    # ntile-totals agg; joins broadcast at test SF.  No per-source
    # single reducer anywhere; the exact=False path drops the rank for
    # broadcast percentile cutoffs
    "lm_buckets": {"shuffles": ("<=", 9), "smj": ("<=", 0),
                   "bnlj": ("<=", 0), "python_stages": ("<=", 0)},
    # span dedup: gram-count agg + flagged-starts groupBy; hot-set
    # semi-join and starts attach broadcast at test SF
    "span_dedup": {"shuffles": ("<=", 4), "smj": ("<=", 0),
                   "python_stages": ("<=", 0)},
    # triangle census: edge build (bucket join + pair distinct) +
    # degree agg + orientation joins + the wedge/closing joins; the 3
    # bnlj are the 1-row census crossJoins.  AQE-off static planning
    # keeps the two degree-attach joins sort-merge (AQE broadcasts
    # them at runtime, like tpch_q21's self-join)
    "triangle_count": {"shuffles": ("<=", 12), "smj": ("<=", 2),
                       "bnlj": ("<=", 3), "python_stages": ("<=", 0)},
}


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_plan_budget(name, spark, sf_dir, prepared):
    a = audit(prepared.queries()[name](spark, sf_dir))
    for metric, (op, bound) in BUDGETS[name].items():
        got = a[metric]
        ok = got <= bound if op == "<=" else got >= bound
        assert ok, (
            f"{name}: {metric}={got} violates budget {op}{bound}\n{a['plan']}"
        )


def test_filtered_hybrid_plan_is_scan_plus_take_ordered(spark, sf_dir, prepared):
    a = audit(prepared.queries()["hybrid_filtered"](spark, sf_dir))
    assert "TakeOrderedAndProject" in a["plan"], a["plan"]
    assert "Aggregate" not in a["plan"], a["plan"]


def test_pruned_batch_hybrid_budget(spark, sf_dir, prepared):
    """The pure-pruned scale path (the batch_hybrid_ivf default) with
    prebuilt indexes: five Exchange nodes total — inside the cached
    candidate build, the keyword partial-agg plus the (query, doc)
    pair on both sides of the bm25-attach join (scalar-width: cosine
    is computed BEFORE the join); live, the per-query min-max stats
    agg (partial-agged — r15, was an unordered per-query window that
    shipped a hot query's whole candidate list to one reducer: no
    WindowGroupLimit rescue exists for unordered window aggregates)
    and the per-query top-k exchange, pre-filtered map-side by
    WindowGroupLimit(Partial) (operators/topn).  (Earlier rounds
    asserted 2 because the kw lineage cut was a localCheckpoint,
    which hid the kw subtree's shuffles behind an RDD scan —
    cache-based cuts keep the audit honest.)  Label partition pruning
    on the IVF scan, and no Python stage anywhere (index prebuilt, no
    k-means fit)."""
    a = audit(prepared.queries()["batch_hybrid_ivf"](spark, sf_dir))
    assert a["shuffles"] <= 5, a["plan"]
    # the candidate-build joins broadcast under AQE (runtime stats see
    # the tiny agg output); this session pins AQE off for plan
    # stability, so the static planner may leave TWO of them sort-merge
    assert a["smj"] <= 2, a["plan"]
    assert a["python_stages"] == 0, a["plan"]
    assert a["partition_filters"] >= 1, a["plan"]
