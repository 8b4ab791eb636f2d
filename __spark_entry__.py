"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — every implemented operator from SURVEY.md §2 (+ the
LLM-data extensions), one named plan each.
``oracle_sql()`` — DuckDB twins for the correctness harness.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kaggle_data_pipeline_with_aws_spark.plans import registry

registry.load_all()

SF0001 = "/root/testdata/sf0.001"

# Extra bench-headline ops (bench.py appends these to HEADLINE): the
# exact set-similarity PPJoins — the repo's biggest plan-level perf
# work — so BENCH_r{N}.json carries their time series going forward.
BENCH_EXTRA = [
    "d06_ngram_jaccard",
    "d42_shingle_containment",
    "d110_semdedup",
    # added round 5 after its in-task pair-kernel rewrite (182→9.7 s
    # at 10×) so the series tracks the flagship embedding-pair op
    "d10_embedding_neardup",
    # added round 6 with the shared ranked-shingle substrate — its
    # loosest-threshold PPJoin pass was the family's biggest win
    # (30.1→5.9 s at 10×); the series tracks the substrate economics
    "d126_dedup_threshold_sweep",
    # added round 7 when d15 gained the deterministic fitted quantizer
    # and a full value oracle (the registry's last rows-only check) —
    # the series tracks the flagship ANN serving path
    "d15_ann_ivf",
    # added round 8 with the URL/domain curation family: d158 is the
    # WindowGroupLimit frequency cap over the published domain-map
    # substrate, d162 the iterated BPE trainer — the series tracks
    # the two new tiers' economics
    "d158_domain_frequency_cap",
    "d162_bpe_train",
    # added late round 8 with the sketch/serving tiers: d174 is the
    # explicit-register HLL build (the mergeable-sketch substrate of
    # d178/d181/d187/s14), d198 the Matryoshka coarse-to-fine rerank —
    # the series tracks both tiers' economics going forward
    "d174_hll_cardinality",
    "d198_progressive_rerank",
    # added round 9 with the tokenizer-EM and graph-serving tiers:
    # d202 is the unigram-LM EM trainer (the likelihood half of the
    # tokenizer story), d204 the NSW beam search over the kNN
    # substrate — the series tracks both tiers' economics
    "d202_unigram_train",
    "d204_nsw_beam_search",
    # added round 10: d208 is the beam search over the
    # connectivity-augmented substrate (the recall-recovered serving
    # face), d210 the unigram Viterbi encode at the raised W=12/L=6
    # lattice — the series tracks the serving tier and the wider
    # lattice's cost going forward
    "d208_nsw_augmented_search",
    "d210_unigram_viterbi_encode",
    # added round 11 with the serving-tier adaptation faces: d214 is
    # the filtered search with per-query probe escalation, d216 the
    # HNSW-style layered-entry beam search — the series tracks the
    # adaptive serving economics going forward
    "d214_ann_adaptive_probe_search",
    "d216_nsw_layered_search",
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (pricing summary over lineitem) on sf0.001."""
    return registry.QUERIES["q01_pricing_summary"](spark, SF0001)


# The driver's correctness gate checks the FIRST 50 entries of queries()
# in dict order, so ordering is part of the contract. CORRECTNESS_r{N}
# files are cumulative proof, so each round the window holds (a) queries
# whose implementation or oracle changed since their last green row —
# they must re-prove (ENFORCED by tools/proof_audit.py, gate stage 3:
# symbol-level AST diff of each proven query's dependency closure
# against its proof-baseline commit) — and (b) as many
# never-driver-checked queries as fit.
#
# Round-12 window (optimization round 2 of 2 — same values, faster /
# cheaper-to-compile plans; see OPTIMIZATION_r12.md). Leads with the
# re-proofs proof_audit demands, then falls through to already-proven
# queries.
_WINDOW_PRIORITY = [
    # ---- (A) round-12 re-proofs ----
    # operators/unigram.py: the per-round vocab probabilities ride a
    # 1-row broadcast parameter DataFrame (map<string,double> per piece
    # length) instead of SQL literals — identical lookups and doubles,
    # but the generated codegen source is now IDENTICAL across EM
    # rounds/queries/reps (one janino compile instead of one per round;
    # the MB-scale "large task binary" WARNs are gone).
    "d202_unigram_train",
    "d203_unigram_segment_stats",
    "d206_unigram_prune_round",
    "d210_unigram_viterbi_encode",
    "d211_tokenizer_compression_compare",
    # operators/nsw.py: refactor-only re-proofs — the beam loop's
    # frontier step and between-round checkpoint are extracted into
    # named helpers whose docstrings record this round's MEASURED AND
    # REJECTED restructures (flag-aggregation frontier, repartitioned
    # checkpoint, checkpoint cadence 2, checkpointed adjacency
    # substrate — every one slower at sf0.1 and none better at 10×;
    # see OPTIMIZATION_r12.md). The executed plans are unchanged.
    "d204_nsw_beam_search",
    "d205_nsw_recall_audit",
    "d208_nsw_augmented_search",
    "d209_nsw_augmented_recall",
    "d216_nsw_layered_search",
    "d217_nsw_layered_recall",
    # plans/wave68.py, plans/wave76.py: the streaming checkpoint dirs
    # now come from ``_fresh_root`` (removed at process exit) instead
    # of a bare mkdtemp that leaked one temp dir per run. Same batches.
    "s16_txnlog_readstream_batches",
    "s17_exactly_once_txn_sink",
]

# Round-11 window (kept for fall-through ordering continuity; all
# proven in CORRECTNESS_r11).
_WINDOW_R11 = [
    # ---- (A) re-proofs: operators/txnlog.py — commit() grew
    # read_version conflict detection (merge/compact recompute against
    # the new head instead of committing a stale snapshot-derived
    # result), vacuum grew age + latest-checkpoint retention floors,
    # file statistics record only order-preserving types and prune
    # only same-type bounds, replay_plan clamps to head, checkpoint
    # validates with ValueError. Same values, hardened protocol.
    "q114_snapshot_time_travel",
    "q115_version_incremental_read",
    "q116_version_row_diff",
    "q117_compaction_invariance",
    "q118_versioned_schema_evolution",
    "q119_versioned_merge",
    "q120_file_stats_skipping",
    "q121_time_sliced_skipping",
    "q122_log_checkpointed_snapshot",
    # re-proof: streaming/cdc_source.py poll() reads only the window's
    # entries (round-10 ADVICE — O(new versions), not O(history)).
    "s15_txnlog_cdc_batches",
    # ---- (B) round-11 additions (staged as they land) ----
    # wave 68: the CDC source as a REAL readStream DataSource (round-10
    # verdict #2) — Spark 4 python DSv2, offset = committed version,
    # engine checkpoints, versionsPerBatch rate limit; oracle shared
    # verbatim with s15 (batch-for-batch equality).
    "s16_txnlog_readstream_batches",
    # wave 65 re-proofs (round-10 verdict #4): the serving leg now
    # runs from the UNTRUNCATED histogram with byte-fallback/UNK
    # token masses for words beyond the lattice (new columns,
    # oracle-pinned; identical values at scales without overlong
    # words).
    "d210_unigram_viterbi_encode",
    "d211_tokenizer_compression_compare",
    # wave 69: filtered-ANN probe adaptation (round-10 verdict #3) —
    # starved queries (admitted candidates below the floor) escalate
    # n_probe; d215 is the fixed-vs-adaptive recall/cost sweep.
    "d214_ann_adaptive_probe_search",
    "d215_ann_adaptive_probe_sweep",
    # wave 70: HNSW-style layered entry points (round-10 verdict #6) —
    # a 1-in-8 sampled upper layer with its own kNN graph descends
    # each query to local layer-0 entries; d217 is the d209-shaped
    # recall/cost audit.
    "d216_nsw_layered_search",
    "d217_nsw_layered_recall",
    # wave 71: compound multi-column data skipping (pruned_files_ranges
    # — per-column necessary conditions intersect) and the adaptive
    # search's filtered-brute fallback tier (verdict #3's last clause);
    # tiers move with scale: brute at sf0.001/0.01, hi-probe at sf0.1,
    # base-probe from 10x.
    "q123_compound_stats_skipping",
    "d218_ann_adaptive_brute_fallback",
    # wave 72: Z-order vs linear clustering under 2-D box probes
    # (files-scanned counts oracle-derived from the same assignment)
    # and bloom-filter point-lookup skipping (per-file sidecar index,
    # filters rebuilt in SQL).
    "q124_zorder_clustered_skipping",
    "q125_bloom_point_lookup_skipping",
    # wave 73: SQ8 scalar-quantized ANN tier — 8-bit affine
    # quantization against per-dim corpus [min,max], dequantized-cosine
    # candidates, exact fp32 rerank; d220 is the recall audit (1.0 at
    # sandbox scales, 4x fewer candidate bytes).
    "d219_ann_sq8_rerank_search",
    "d220_ann_sq8_recall",
    # wave 74: batch time travel through the standard reader API
    # (spark.read.format("txnlog").option("version", N)) — the DSv2
    # batch reader proven value-equal to the JVM snapshot path against
    # q114's oracle verbatim.
    "q126_dsv2_batch_time_travel",
    # wave 75: deletion vectors (DELETE WHERE as per-file position
    # sidecars — no rewrite, n_files oracle-pinned constant) and
    # incremental view maintenance (monthly rollup maintained from CDC
    # deltas via commit_merge, proven equal to the direct aggregate).
    "q127_deletion_vector_delete",
    "q128_incremental_view_maintenance",
    # wave 76: exactly-once transactional sink (txnAppId/txnVersion
    # high-water marks; a replayed foreachBatch with wrong data is
    # skipped; sink commit count oracle-pinned).
    "s17_exactly_once_txn_sink",
    # ---- (C) round-11 OPTIMIZATION re-proofs (same values, faster
    # plans — see OPTIMIZATION_r11.md). operators/unigram.py: EM
    # rounds/Viterbi serve from a literal vocab prob map over the
    # histogram (no per-round broadcast join / word-keyed pivot
    # exchange / materialized lattice table); d210/d211 derive the
    # truncated histogram from the full one (one corpus pass).
    "d202_unigram_train",
    "d203_unigram_segment_stats",
    "d206_unigram_prune_round",
    # operators/bpe.py: array-form segmentation — row-local pair
    # explode + greedy-merge fold; winner is a 1-row fence (no window
    # exchanges per round).
    "d162_bpe_train",
    "d167_bpe_encode_stats",
    # operators/text_substrate.py: PPJoin verify carries per-doc
    # shingle counts through the candidate dedup (counts re-agg + two
    # broadcast joins removed); d126 folds its 3-threshold sweep into
    # ONE aggregation over one PPJoin pass.
    "d06_ngram_jaccard",
    "d42_shingle_containment",
    "d126_dedup_threshold_sweep",
    "d152_lsh_band_tuning",
    "d155_ppjoin_cost_estimate",
    # operators/nsw.py: the beam search no longer localCheckpoints the
    # final round's frontier (the result is consumed exactly once —
    # checkpointing it only added an extra materialization pass); the
    # NSW serving faces re-prove with identical values. Second r11
    # session: search_visited_from seeds its visited set from
    # pre-scored entry pairs (the layered descent passes the upper
    # search's own round(cos,6) down — no entry re-scoring join), and
    # the two-consumer audit faces (d205/d209/d217) materialize the
    # search result once before fanning out to the top-k window and
    # the n_scored aggregate (the lazy final round's corpus-join probe
    # side executed once per consumer).
    "d204_nsw_beam_search",
    "d205_nsw_recall_audit",
    "d208_nsw_augmented_search",
    "d209_nsw_augmented_recall",
    # plans/llm_data.py::d15_ann_ivf: the 16-row fitted-centroid table
    # is localCheckpointed before the serving operator broadcasts it
    # twice (corpus assignment + query probing) — one Lloyd chain run
    # instead of two whole-plan re-executions (10 -> 4 Exchange ops).
    "d15_ann_ivf",
    # plans/wave67.py: d213 derives the IVF top-k AND its
    # candidate-count restatement from ONE checkpointed corpus cell
    # assignment (the wave-69 substrate discipline) instead of
    # re-assigning the filtered corpus per consumer; d212 re-proves
    # because the module's import list changed (audit is module-wide
    # on imports), its plan is untouched.
    "d212_ann_filtered_search",
    "d213_ann_filtered_recall",
]
# The driver checks the first 50 of queries() — slots beyond the
# staged list fall through to already-proven oracle-backed queries via
# _ordered().


def _ordered() -> list[str]:
    head = _WINDOW_PRIORITY + [
        n for n in _WINDOW_R11 if n not in _WINDOW_PRIORITY
    ]
    missing = [n for n in head if n not in registry.QUERIES]
    assert not missing, f"priority window references unknown queries: {missing}"
    rest_oracle = [
        n
        for n in registry.QUERIES
        if n not in head and n in registry.ORACLE_SQL
    ]
    rest_rows_only = [
        n
        for n in registry.QUERIES
        if n not in head and n not in registry.ORACLE_SQL
    ]
    return [*head, *rest_oracle, *rest_rows_only]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: registry.QUERIES[n] for n in _ordered()}


def oracle_sql() -> dict[str, str]:
    return {
        n: registry.ORACLE_SQL[n] for n in _ordered() if n in registry.ORACLE_SQL
    }
