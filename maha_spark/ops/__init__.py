"""Data-pipeline operators (dedup / similarity / text / multimodal) and
their driver-contract registration.

``entry_queries`` / ``entry_oracles`` are consumed by ``__spark_entry__``:
every contract operator is a (Spark callable, DuckDB oracle SQL) pair.
Public operators outside the contract are listed in ``pytest_only_ops``
with the pytest that pins each.
"""

from __future__ import annotations

from collections.abc import Callable


def entry_queries() -> dict[str, Callable]:
    """Ordered for the driver's bounded correctness gate: exact
    oracle-backed ops first (cheapest, strongest check), then the
    approximate rows-only entries, then the long-running streaming
    runners — so a count or time cap cuts the weakest checks, never an
    exact one.

    ``op_dedup_signatures`` is the single entry for the three
    signature-family dedups (exact / wordset / simhash) — one pass
    computing all three fingerprints.
    """
    from . import (asof, chunking, contamination, dedup, freqtopk,
                   incremental, lm, multimodal, packing, pipeline,
                   semdedup, sessions, similarity, sketches, substring,
                   text, winnow)
    from ..streaming import hourly
    return {
        "op_text_stats": text.text_profile,
        "op_contamination": contamination.contamination,
        # ExactSubstr removal: hash-checked through a composed DuckDB
        # twin (detection CTEs + keep-first rank + positional rebuild)
        "op_exact_substring_dedup": substring.exact_substring_dedup_op,
        # positional winnow matches (df-capped boilerplate guard)
        "op_winnow_matches": winnow.winnow_matches,
        # passage-level benchmark decontamination
        "op_winnow_contamination": winnow.winnow_contamination,
        # ExactSubstr duplicated-span detection (Lee et al. ACL'22 —
        # exhaustive window hashing) and the CCNet-style bigram-LM
        # perplexity score (integer micro-nat aggregation for
        # cross-engine bit parity)
        "op_exact_substring_spans": substring.exact_substring_spans,
        "op_lm_perplexity": lm.lm_perplexity,
        # SemDeDup over seed centroids (bit-parity oracle); the
        # Lloyd-centroid variant is pinned in pytest (semdedup_lloyd)
        "op_semdedup": semdedup.semdedup_op,
        # the streaming twin's stream == batch pin (test_ops_sessions.py)
        # makes this hash check cover both
        "op_sessionize": sessions.sessionize,
        "op_asof_join": asof.asof_join,
        "op_token_quantiles": packing.token_quantiles,
        "op_dedup_signatures": dedup.dedup_signatures,
        "op_dedup_minhash_lsh": dedup.dedup_minhash_lsh,
        "op_dedup_ngram_jaccard": dedup.dedup_ngram_jaccard,
        "op_dedup_embed_cosine": dedup.dedup_embed_cosine,
        "op_dedup_simhash_pairs": dedup.dedup_simhash_pairs,
        "op_dedup_clusters": dedup.dedup_clusters,
        # the crawl-ingest incremental dedup flow (ops/incremental.py)
        "op_dedup_incremental": incremental.dedup_incremental_op,
        "op_curate": pipeline.curate_corpus,
        "op_sketch_setops": sketches.sketch_setops,
        "op_sim_topk": similarity.sim_topk,
        # md5-derived hyperplanes make the bucket assignment an exact SQL
        # expression, so the DuckDB oracle is bit-exact
        "op_sim_lsh_buckets": similarity.sim_lsh_buckets,
        # mergeable frequent-items partials (Druid datasketches
        # frequentItems parity): day partials served weekly with provable
        # [lb, ub] bounds; the oracle inlines the identical build+serve
        # in exact integer arithmetic
        "op_freq_topk": freqtopk.freq_topk,
        "op_mm_decode": multimodal.mm_decode_features,
        # the real PNG decoder: deterministic doc_id-derived PNGs (all
        # five scanline filters) are encoded, decoded with decode_png and
        # checksummed; the DuckDB oracle computes the checksums
        # analytically
        "op_mm_pixel_stats": multimodal.mm_pixel_stats,
        "op_pack_sequences": packing.pack_sequences,
        "op_sample_stratified": packing.sample_profile,
        "op_stream_hourly": hourly.streaming_hourly,
    }


def pytest_only_ops() -> dict[str, tuple[Callable, str]]:
    """Public pipeline operators NOT in the 52-entry contract:
    name -> (callable, the pytest that pins it). An operator moving in or
    out of ``entry_queries`` must move between these two registries —
    ``tools/gen_contract_map.py`` regenerates the README table from both,
    and ``tests/test_contract_map.py`` fails if either the table or this
    split goes stale (an operator in neither registry is orphaned; in
    both is double-booked). Approximate operators (HLL counts, ANN
    top-k) live here because they have no exact SQL oracle: their pins
    are recall/rsd gates."""
    from . import (bpe, chunking, dedup, incremental, lm, multimodal,
                   packing, semdedup, sessions, similarity, sketches,
                   substring, winnow)
    return {
        # end-to-end BPE tokenizer fitting (train on the corpus
        # word-frequency table, encode the corpus) — iterative by
        # construction, so no single-statement SQL twin exists; pinned
        # against a pure-Python Sennrich reference instead
        "bpe_pipeline": (bpe.bpe_pipeline,
                         "test_ops_bpe.py (merge-list + token equality "
                         "vs Python reference; batched trainer == "
                         "sequential with a pinned job-count cut; "
                         "partitioning invariance; lossless round-trip)"),
        "chunk_documents": (chunking.chunk_documents,
                            "test_ops_quality.py (exact DuckDB oracle "
                            "at default + custom chunk/overlap sizes)"),
        "winnow_pairs": (winnow.winnow_pairs,
                         "test_ops_winnow.py (exact DuckDB oracle + "
                         "planted-overlap semantics)"),
        # the crawl-ingest legs — persisted window-hash index (batch
        # spans == one-shot over the union, bit-identical; append ==
        # rebuild) and persisted LM model (fit once, score batches;
        # == in-memory training bit-identically)
        "exsub_incremental": (substring.exsub_incremental,
                              "test_ops_substring.py (incremental == "
                              "one-shot union; append == rebuild; "
                              "append contract enforced)"),
        "exsub_stream_incremental": (
            substring.streaming_exsub_incremental,
            "test_ops_substring.py (stream drain == sequential batch "
            "calls: spans, index bit-identity, replay no-op)"),
        "exsub_index_maintenance": (
            substring.compact_exsub_index,
            "test_ops_substring.py (compaction bit-identity + "
            "already-compact untouched; doc erasure removes influence, "
            "erased id re-ingests fresh)"),
        "lm_score": (lm.lm_score,
                     "test_ops_lm.py (persisted model == in-memory "
                     "bit-identically; batch-composable)"),
        # SemDeDup over Lloyd-trained centroids; the contract entry
        # (op_semdedup) runs the same keep rule over seed centroids
        "semdedup_lloyd": (semdedup.semdedup,
                           "test_ops_semdedup.py (independent numpy "
                           "oracle + planted duplicate + determinism)"),
        "streaming_sessions": (sessions.streaming_sessions,
                               "test_ops_sessions.py (stream == batch "
                               "bit-identical + late-event drop)"),
        "sim_pairs": (similarity.sim_pairs,
                      "test_ops_packing.py (exact DuckDB oracle) + "
                      "test_ops.py::test_sim_pairs_contract_is_nonvacuous"),
        "embed_quantize": (similarity.embed_quantize,
                           "test_ops_packing.py (exact DuckDB oracle)"),
        "ann_index_topk": (incremental.ann_index_topk,
                           "test_ann_index.py (append == rebuild; "
                           "recall + determinism gates)"),
        "approx_set_counts": (sketches.approx_set_counts,
                              "test_ops.py::test_hll_within_rsd"),
        "ann_topk": (similarity.ann_topk,
                     "test_ops.py::test_ann_topk_quality (index specs "
                     "LSH, IVF, PQ, IVF,PQ: recall + determinism gates)"),
        "mm_resize": (multimodal.mm_resize,
                      "test_ops_packing.py (exact oracle)"),
        "mm_frame_sample": (multimodal.mm_frame_sample,
                            "test_ops_packing.py (exact oracle)"),
        "mix_balance": (packing.mix_balance,
                        "test_ops_packing.py (exact oracle)"),
        "approx_quantiles": (packing.approx_quantiles,
                             "test_ops_packing.py (vs exact quantiles)"),
        "dedup_stream_exact": (dedup.streaming_dedup,
                               "test_ops.py::test_streaming_dedup_across_batches"),
        # continuous crawl-ingest near-dup maintenance — the
        # foreachBatch twin of the batch incremental flow
        "dedup_stream_incremental": (
            incremental.streaming_dedup_incremental,
            "test_dedup_incremental.py (stream drain == sequential "
            "batch calls: pairs, index bit-identity, replay no-op)"),
        # stream-maintained frequent-items partials (per-batch appended,
        # mergeable-summaries valid at every instant) and the PODS'12
        # partial merge used as their compaction job — the contract
        # entry for the family is op_freq_topk
        "freq_stream_partials": (
            _stream_freq().streaming_freq_partials,
            "test_stream_freq.py (bounds contain exact counts at every "
            "instant; lossless batches == exact serve; fresh-checkpoint "
            "replay identity)"),
        "freq_partials_merge": (
            _stream_freq().compact_freq_partials,
            "test_stream_freq.py (two-slice partition merge: bounds "
            "stay valid, lossless merge == one-shot build bit-for-bit)"),
    }


def _stream_freq():
    from ..streaming import freq
    return freq


def entry_oracles() -> dict[str, str]:
    from . import (asof, chunking, contamination, dedup, freqtopk,
                   incremental, lm, multimodal, packing, pipeline,
                   semdedup, sessions, similarity, sketches, substring,
                   text, winnow)
    from ..streaming import hourly
    return {
        "op_asof_join": asof.asof_join_oracle(),
        "op_exact_substring_spans": substring.exact_substring_spans_oracle(),
        "op_exact_substring_dedup": substring.exact_substring_dedup_oracle(),
        "op_lm_perplexity": lm.lm_perplexity_oracle(),
        "op_token_quantiles": packing.token_quantiles_oracle(),
        "op_mm_pixel_stats": multimodal.mm_pixel_stats_oracle(),
        "op_curate": pipeline.curate_corpus_oracle(),
        "op_sessionize": sessions.sessionize_oracle(),
        "op_text_stats": text.text_profile_oracle(),
        "op_contamination": contamination.contamination_oracle(),
        "op_winnow_matches": winnow.winnow_matches_oracle(),
        "op_winnow_contamination": winnow.winnow_contamination_oracle(),
        "op_semdedup": semdedup.semdedup_oracle(),
        "op_dedup_signatures": dedup.dedup_signatures_oracle(),
        "op_dedup_minhash_lsh": dedup.dedup_minhash_lsh_oracle(),
        "op_dedup_ngram_jaccard": dedup.dedup_ngram_jaccard_oracle(),
        "op_dedup_embed_cosine": dedup.dedup_embed_cosine_oracle(),
        "op_dedup_simhash_pairs": dedup.dedup_simhash_pairs_oracle(),
        "op_dedup_clusters": dedup.dedup_clusters_oracle(),
        "op_sketch_setops": sketches.sketch_setops_oracle(),
        "op_sim_topk": similarity.sim_topk_oracle(),
        "op_sim_lsh_buckets": similarity.sim_lsh_buckets_oracle(),
        "op_freq_topk": freqtopk.freq_topk_oracle(),
        "op_dedup_incremental": incremental.dedup_incremental_oracle(),
        "op_mm_decode": multimodal.mm_decode_features_oracle(),
        "op_pack_sequences": packing.pack_sequences_oracle(),
        "op_sample_stratified": packing.sample_profile_oracle(),
        "op_stream_hourly": hourly.streaming_hourly_oracle(),
    }
