#!/usr/bin/env python
"""Benchmark harness: runs the headline workload queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "suite_seconds", "value": N, "unit": "sec",
   "queries": {"q_...": sec, ...}, "sf": 0.1}

Each query is forced end-to-end with the no-op sink (full computation,
no driver materialization). The on-disk artifact
(artifacts/bench_latest.json) carries the same payload plus ``layers``:
per query, its best rep's ``build_s`` (the query function call),
``force_s`` (the no-op write) and Spark counters (jobs, tasks, input,
shuffle and spill bytes) from perfbench's span tracer.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from run import contending_processes
from spans import Tracer

from sec_financial_data_pipeline_using_snowflake_dbt_spark.session import get_spark
from sec_financial_data_pipeline_using_snowflake_dbt_spark.workload import QUERIES

# Headline queries: the scale-relevant core (wide agg, joins incl.
# broadcast star, window top-k, fact build, dedup family, ANN, text
# analysis). q_dedup_jaccard is excluded: all-pairs-within-block is the
# known-quadratic baseline; its scale path (q_dedup_minhash) is included.
# r2 additions (suite total is NOT comparable to r1's 16-query total;
# compare per-query): q_sec_fact_bs (the real SEC staging→dims→fact
# pipeline) and q_dedup_simhash (value-level banded rewrite).
# r3 additions (same caveat): q_sec_json_doc (the second dbt project —
# nested-doc build; cost is the per-filing collect_list, floor is the
# 4-way staged join) and q_dedup_clusters (iterative connected
# components; cost scales with rounds-to-convergence).
# r5 additions (same caveat): q_ann_lsh and q_ann_ivf (the two ANN
# scale paths — bucketed equi-join and inverted-file probe — were
# previously unbenched; only the brute-force baseline was) and
# q_text_repetition (the sorted-run aggregate fold).
# r6 additions (same caveat): q_dedup_simhash64 — the large-corpus
# fingerprint width (NOTES_r6 §2); the 16-bit entry stays as the
# oracle-parity baseline — q_pii_scrub (redaction map stage), and
# q_chunk_docs (sliding-window context chunking, output-bound explode).
HEADLINE = [
    "q_pricing_summary",
    "q_join_agg",
    "q_broadcast_star",
    "q_left_join_counts",
    "q_expr_key_join",
    "q_window_topk",
    "q_fact_star_shape",
    "q_sec_fact_bs",
    "q_sec_json_doc",
    "q_rollup",
    "q_sessionization",
    "q_funnel",
    "q_retention",
    "q_scd2_history",
    "q_pagerank",
    "q_cdc_apply",
    "q_zorder_cells",
    "q_fuzzy_match",
    "q_profile",
    "q_interval_join",
    "q_asof_join",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_dedup_verify",
    "q_dedup_delta",
    "q_bloom_dedup",
    "q_dedup_clusters",
    "q_dedup_keep_best",
    "q_dedup_simhash",
    "q_dedup_simhash64",
    "q_dedup_embedding",
    "q_dedup_semantic",
    "q_dedup_substrings",
    "q_dedup_span_removal",
    "q_dedup_recall",
    "q_ann_topk",
    "q_ann_lsh",
    "q_ann_ivf",
    "q_ann_pq",
    "q_ann_ivfpq",
    "q_ann_ivfpq_res",
    "q_ann_recall",
    "q_cluster_sample",
    "q_kmeans_quality",
    "q_text_quality",
    "q_text_repetition",
    "q_ngram_diversity",
    "q_fingerprint",
    "q_vocab_topk",
    "q_heavy_hitters",
    "q_oov_rate",
    "q_bpe_train",
    "q_bpe_encode",
    "q_bpe_encode_ids",
    "q_tokenizer_fertility",
    "q_tfidf",
    "q_unigram_logprob",
    "q_bigram_logprob",
    "q_kn_logprob",
    "q_quality_filter",
    "q_hashed_classifier",
    "q_bm25",
    "q_hybrid_rrf",
    "q_perplexity_buckets",
    "q_c4_clean",
    "q_line_dedup",
    "q_pii_scrub",
    "q_decontaminate",
    "q_contamination_report",
    "q_pack_sequences",
    "q_pack_token_ids",
    "q_chunk_docs",
    "q_data_mixture",
    "q_temperature_mix",
    "q_budget_select",
    "q_dsir_select",
    "q_global_shuffle",
    "q_corpus_stats",
    "q_training_mix",
    "q_corpus_pipeline",
    # r10 additions (VERDICT r9 #6; suite total NOT comparable to r9's
    # 78-query total — compare per-query): the sampled verification
    # arms. Each is the sf10 cross-engine signal for a full query whose
    # oracle has a documented capacity bound; benching them gives the
    # stratum plans the same regression tracking as every other query.
    "q_bpe_encode_ids_sampled",
    "q_sec_json_doc_sampled",
    "q_fuzzy_match_sampled",
    "q_dedup_simhash64_sampled",
    "q_dedup_jaccard_sampled",
    "q_dedup_recall_sampled",
    "q_dedup_semantic_sampled",
    "q_dedup_embedding_sampled",
]


#: Repetitions per query. best-of-3 (min) is the adjudication rule the
#: r4 judge applied by hand: cross-run noise on this box reaches ~4x per
#: query in BOTH directions, so the min across 3 runs — not a single
#: recorded sample — is the trustworthy level (VERDICT r4 #2).
#: Env-overridable so the pytest smoke can run a single rep.
BENCH_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

#: Run-level noise canary (VERDICT r10 What's wrong #2): two clean
#: ``contended_by: []`` runs of the SAME code differed 9.6% — process
#: scanning catches sibling harness load, not box-level noise, so a
#: single artifact could not distinguish a uniform ~10% code regression
#: from a noisy box. Three fixed cheap queries are re-timed at
#: measurement start AND end; the artifact stamps both passes and their
#: ratio, so a uniformly-inflated run self-identifies (high canary times
#: at both ends ⇒ the box was slow; start≈end fast but headline slow ⇒
#: a real regression). Picks are the cheapest stable HEADLINE members —
#: per-pass cost ~5 s against an ~130 s suite.
CANARY = ("q_fingerprint", "q_text_quality", "q_window_topk")

#: start/end canary ratio above which the artifact is stamped noisy.
CANARY_DRIFT_WARN = 1.25


#: Spark counters kept per query in the artifact's ``layers`` map (the
#: noop sink writes no bytes, so perfbench's ``bytes_written`` is left out).
LAYER_COUNTERS = ("jobs", "tasks", "input_bytes", "shuffle_bytes", "spill_bytes")


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def load_budgets() -> dict[str, float]:
    """Checked-in per-query budgets (bench_budgets.json): adjudicated
    r3/r4 min x1.5 (with a +1.0 s absolute floor) at sf0.1. Violations
    are self-flagged in the output's ``over_budget`` field; under
    SPARK_GRAFT_BENCH_STRICT=1 they also fail the run (rc=2)."""
    path = os.path.join(ROOT, "bench_budgets.json")
    if not os.path.exists(path):
        # missing file disables the gate LOUDLY, never silently
        print("WARNING: bench_budgets.json missing - budget gate disabled", file=sys.stderr)
        return {}
    with open(path) as fh:
        # a corrupt checked-in budgets file is repo damage: crash loud
        return dict(json.load(fh)["budget"])


def check_budgets(
    timings: dict[str, float],
    budgets: dict[str, float],
    remeasure,
) -> tuple[dict[str, dict[str, float]], dict[str, dict[str, float]]]:
    """Flag budget violations, but only after a confirming re-measure
    (VERDICT r5 #3: best-of-3 within one contended session still
    false-positives on 0.2-0.5 s queries — BENCH_r05 flagged
    q_sessionization at 1.70 s where a fresh min-of-3 read 0.56 s).
    ``remeasure(name) -> float`` runs a fresh best-of-reps for one
    query; the flag fires only if BOTH the recorded timing and the
    re-measure exceed the budget.

    Returns ``(over, noise)``. ``noise`` carries confirmed-clean
    spikes; the caller REPLACES the query's recorded value with the
    re-measure (min of both passes — effectively best-of-2×reps) and
    records the spike in the artifact's ``noise_spikes`` field, so
    cross-round BENCH diffs don't show phantom 7× regressions like
    BENCH_r06's q_dsir_select 12.4 s (VERDICT r6 #4)."""
    over: dict[str, dict[str, float]] = {}
    noise: dict[str, dict[str, float]] = {}
    for n, t in timings.items():
        b = budgets.get(n)
        if b is None or t <= b:
            continue
        retest = remeasure(n)
        if retest > b:
            over[n] = {"sec": t, "retest": round(retest, 3), "budget": b}
        else:
            noise[n] = {"recorded": t, "remeasured": round(retest, 3), "budget": b}
            print(
                f"BUDGET NOISE: {n} recorded {t}s > budget {b}s but "
                f"re-measured {round(retest, 3)}s - recording the re-measure",
                file=sys.stderr,
            )
    return over, noise


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    # optional comma-separated subset (scaling experiments: run just the
    # scale-critical queries at two sf dirs and compare) — the default
    # full suite is what the driver records
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    headline = [q for q in HEADLINE if q in only.split(",")] if only else HEADLINE

    contended_by = contending_processes()
    if contended_by:
        for h in contended_by:
            print(f"BENCH CONTENTION: {h}", file=sys.stderr)
        if os.environ.get("SPARK_GRAFT_BENCH_STRICT") == "1":
            print(
                "refusing to measure on a contended box "
                "(SPARK_GRAFT_BENCH_STRICT=1)",
                file=sys.stderr,
            )
            sys.exit(3)
        print(
            "WARNING: measuring anyway - artifact will carry contended_by",
            file=sys.stderr,
        )

    spark = get_spark("secspark-bench")

    # warm-up: JVM/codegen/parquet-footer costs land here, not in the
    # first timed query
    for t in ("lineitem", "orders", "customer", "events", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count() if t != "events" else None
    force(QUERIES["q_distinct"](spark, sf_dir))

    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators import (
        dedup as DD,
    )

    # Each rep runs in a span: its job group is set before t0 and its
    # Spark counters are read after the force, outside the timed region.
    tracer = Tracer(spark, enabled=True)
    best_layers: dict[str, dict] = {}  # per query: best rep of its latest measure()

    def measure(name: str) -> float:
        best = float("inf")
        for _ in range(BENCH_REPS):
            with tracer.span(name) as sp:
                t0 = time.perf_counter()
                df = QUERIES[name](spark, sf_dir)
                t1 = time.perf_counter()
                force(df)
                t2 = time.perf_counter()
            if t2 - t0 < best:
                best = t2 - t0
                best_layers[name] = {
                    "build_s": round(t1 - t0, 3),
                    "force_s": round(t2 - t1, 3),
                    **{k: sp.counters[k] for k in LAYER_COUNTERS},
                }
        # drain persisted state between queries: operators persist
        # intermediates (dedup signatures, fact spine, cleaned corpus)
        # per call, and across 24 queries x 3 reps the accumulated
        # blocks build heap/GC pressure that inflates LATER queries'
        # timings — the cross-query contamination behind VERDICT r4 #2.
        DD.release_dedup_caches()
        spark.catalog.clearCache()
        return best

    # untimed canary warm pass: the start pass must not pay per-query
    # plan-compile/codegen costs the end pass won't (that asymmetry
    # would bias drift < 1 on every run)
    for n in CANARY:
        force(QUERIES[n](spark, sf_dir))
    DD.release_dedup_caches()
    spark.catalog.clearCache()
    canary_start = {n: round(measure(n), 3) for n in CANARY}

    timings = {name: round(measure(name), 3) for name in headline}
    layers = {name: best_layers[name] for name in headline}

    canary_end = {n: round(measure(n), 3) for n in CANARY}
    canary_drift = round(
        sum(canary_end.values()) / max(sum(canary_start.values()), 1e-9), 3
    )
    if max(canary_drift, 1 / max(canary_drift, 1e-9)) > CANARY_DRIFT_WARN:
        print(
            f"BENCH CANARY DRIFT: start {canary_start} -> end {canary_end} "
            f"(ratio {canary_drift}) - box speed changed mid-run; treat the "
            "suite total as noisy",
            file=sys.stderr,
        )

    # budget check applies only at the budgets' own scale (sf0.1);
    # violations re-measure once (fresh best-of-reps) before flagging
    budgets = load_budgets() if abs(sf - 0.1) < 1e-9 else {}
    over, noise = check_budgets(timings, budgets, measure)
    for n, v in over.items():
        print(
            f"BUDGET EXCEEDED: {n} took {v['sec']}s (re-measure "
            f"{v['retest']}s) > budget {v['budget']}s",
            file=sys.stderr,
        )
    # confirmed-clean spikes: record the trustworthy number in
    # ``queries`` (min of both best-of-reps passes) and keep the spike
    # visible in ``noise_spikes`` — cross-round diffs stay honest.
    for n, v in noise.items():
        timings[n] = round(min(v["recorded"], v["remeasured"]), 3)
        layers[n] = best_layers[n]  # noise: the re-measure is the lower

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "reps": BENCH_REPS,
        "over_budget": over,
        "noise_spikes": noise,
        "contended_by": contended_by,
        # run-level noise self-measurement: the same three cheap queries
        # timed before and after the suite. start≈end but both high vs
        # their budgets ⇒ slow box all run; drift ≫ 1 ⇒ the box slowed
        # mid-run (suite total inflated); ≈1.0 and fast ⇒ trust the run.
        "canary_start": canary_start,
        "canary_end": canary_end,
        "canary_drift": canary_drift,
    }
    # Land the full JSON on disk FIRST and announce the path on stderr:
    # the driver captures stdout with a bounded tail, so one long suite
    # would otherwise lose per-query data (BENCH_r08 recorded
    # "parsed": null from exactly that; BENCH_r10's stdout line was
    # never parsed despite rc=0 — VERDICT r11 #1 makes the on-disk
    # artifact the canonical handoff).
    # The per-query layers (each best rep's build/force split and Spark
    # counters) go to the artifact only: the stdout line keeps its keys.
    try:
        art_dir = os.path.join(ROOT, "artifacts")
        os.makedirs(art_dir, exist_ok=True)
        art_path = os.path.join(art_dir, "bench_latest.json")
        with open(art_path, "w") as fh:
            json.dump({**result, "layers": layers}, fh, indent=1)
        print(f"BENCH ARTIFACT: {art_path}", file=sys.stderr)
    except OSError as exc:  # a read-only checkout must not fail the bench
        print(f"WARNING: could not write artifacts/bench_latest.json: {exc}",
              file=sys.stderr)
    # Stop Spark BEFORE emitting the one-line JSON so nothing (JVM
    # shutdown chatter included) can land on stdout after it: the
    # driver's contract is "last stdout line = the JSON", and this
    # ordering plus flush makes that structurally true rather than
    # timing-dependent. Measurement methodology unchanged — all
    # timings are already taken by this point.
    spark.stop()
    print(json.dumps(result), flush=True)
    if over and os.environ.get("SPARK_GRAFT_BENCH_STRICT") == "1":
        sys.exit(2)


if __name__ == "__main__":
    main()
