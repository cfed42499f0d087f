"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints TWO JSON lines:
  1. the full payload {"metric": "...", "value": <total_sec>, "unit":
     "sec", "queries": {name: sec, ...}, "queries_spread": ...,
     "queries_cal": ..., "sf": <sf>} — also written to
     ``bench_full.json`` in the CWD, because a >2000-char stdout line
     gets truncated to an unparseable tail in the recorded artifact
     (rounds 12-13 both landed as ``"parsed": null``);
  2. a COMPACT summary as the FINAL line (<1950 bytes: suite wall,
     calibration stats, sync throughput, and as many per-query
     (median, calibration) entries as the byte budget fits, most
     expensive first — the driver's PERF layer parses only this line
     from a 2000-char stdout tail, so the complete 87-entry maps
     cannot fit; ``queries_omitted`` counts the cut sub-half-second
     tail) — small enough to survive the tail truncation and be
     parsed mechanically.

Timing discipline (round-5 change): each suite query gets one unrecorded
warm-up pass, then REPS (default 3) recorded passes; the reported number
is the MEDIAN and the per-query min/max spread rides in
``queries_spread`` so a sandbox-wide environmental shift (seen in round
4: 18/18 queries "slower" with zero code changes) is distinguishable
from a real regression. Every pass is ``plans.run_query`` (build plus
noop-sink materialization in its own checkpoint scope) and the recorded
passes are ``plans.timed_runs`` (a full JVM GC before each, untimed),
the same timer ``scripts/time_queries.py`` and ``scale_probe.py`` use.

Per-query calibration (round-14 change, VERDICT r13 item 1): the
synthetic host-speed probe runs immediately BEFORE each headline query
— not once per suite — and rides in ``queries_cal``, so a query whose
wall moved between rounds can be attributed mechanically: if
wall/cal is flat, the host moved; if wall/cal moved, the plan did.
One probe per suite could not distinguish these (the r13
``text_bpe_train`` 2.07x flag rested on narrative for exactly this
reason), because the sandbox host speed oscillates WITHIN a suite run.

The sync pipeline runs REPS full batch syncs at scale 1 (median) and one
at 10x; the dedup family gets a 10x-corpus datapoint (built by
scripts/scale_probe.build_corpus) so the banded joins' near-linear
scaling is measured, not asserted.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

HEADLINE = [
    "flagship_extraction",
    "agg_pricing_summary",
    "join_broadcast_dims",
    "join_inner_facts",
    "window_latest_state",
    "window_dense_ids",
    "join_asof",
    "latest_owner_update",
    "tumbling_window_agg",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "dedup_components",
    "ann_bruteforce_topk",
    "ann_lsh_topk",
    "text_quality_score",
    "text_tfidf",
    # round-7 additions (~7s of suite wall by construction — the suite
    # total is NOT comparable to rounds ≤ 6; per-query medians are)
    "dedup_containment",
    "join_interval_overlap",
    "dedup_levenshtein_names",
    # classic multi-join analytics (late round-7): comparable to
    # published TPC-H shapes, small additive suite wall
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q10_returned_items",
    # round-8 additions (VERDICT r7 #4): the newer heavy families get
    # per-round medians so regressions are visible without a separate
    # scale run. Again additive — suite total not comparable to
    # rounds ≤ 7.
    "ann_ivfadc_topk",
    "ann_ivf_index_topk",
    "dedup_image_phash",
    # round-8 new-operator medians (still additive)
    "text_bm25_topk",
    "corpus_semantic_dedup",
    "skyline_parts",
    "interval_overlap_count_sweep",
    "corpus_incremental_dedup",
    "text_similar_docs_topk",
    # round-8 TPC-H completion: the three heaviest of the 10 new shapes
    # (scan-heavy 8-agg pass, 5-way profit join, triple-self-reference
    # rewrite). Still additive — suite total not comparable.
    "tpch_q1_pricing_summary",
    "tpch_q9_product_type_profit",
    "tpch_q21_suppliers_who_kept_waiting",
    # round-8 PPJoin prefix filtering (third exact-Jaccard algorithm)
    "dedup_prefix_filter",
    # round-9 additions (still additive — suite total not comparable to
    # rounds ≤ 8): lakehouse MERGE INTO + change feed round trips
    # through a real TableStore, and the distributed-prefix-sum KS
    # drift test
    "store_merge_into",
    "store_change_feed",
    "stats_ks_two_sample",
    "events_interpolate_linear",
    "text_bpe_train",
    # round-10 additions (VERDICT r9 #5): the r9 operators that lacked
    # per-round medians — a regression in these was invisible — plus
    # the round-10 operators. Still additive; suite total not
    # comparable to rounds ≤ 9.
    "graph_kcore",
    "graph_shortest_path",
    "stats_mann_whitney",
    "text_hybrid_search_rrf",
    "multimodal_audio_segments",
    "text_bpe_apply",
    "dedup_span_extend",
    "quality_model_score",
    # round-11 additions (still additive — suite total not comparable
    # to rounds ≤ 10): the span-dedup corpus product and the
    # change-feed MV refresh round trip through a real TableStore
    "dedup_span_scrub",
    "store_incremental_agg",
    "corpus_decontaminate_spans",
    "graph_modularity",
    "quality_gopher_rules",
    # round-12 additions (VERDICT r11 #6: the ANN-quality and
    # mixed-decode paths get round-over-round medians) plus the new
    # round-12 operators. Still additive — suite total not comparable
    # to rounds <= 11.
    "ann_recall_report",
    "multimodal_decode_mixed",
    "multimodal_decode_jpeg_420",
    "events_holt_linear",
    # round-12 session-2 operators (still additive): the multi-source
    # BFS centrality, the heaviest new text op, and the two new
    # calendar-bounded stats reductions
    "graph_harmonic_centrality",
    "text_code_detect",
    "stats_theil_sen",
    "events_seasonal_decompose",
    # round-13 additions (still additive — suite total not comparable
    # to rounds <= 12): the degree-oriented triangle family twins, the
    # truss/PPR graph extensions, the progressive-JPEG decode path,
    # the OCC commit round trip, and the one-pass bootstrap
    "graph_clustering_coefficient",
    "graph_ktruss",
    "graph_personalized_pagerank",
    "multimodal_decode_jpeg_progressive",
    "store_occ_commits",
    "stats_bootstrap_ci",
    # round-14 additions (still additive — suite total not comparable
    # to rounds <= 13): the K-seed Brandes estimator and the
    # container-to-pixels MJPEG sample decode
    "graph_betweenness_sampled",
    "multimodal_mp4_mjpeg_frames",
    "graph_hyperanf_diameter",
    "store_occ_multi_commits",
    "graph_hyperball_harmonic",
    "text_winnowing_matches",
    # round-15 additions (still additive — suite total not comparable
    # to rounds <= 14): the H.264 container-to-pixels chain, the
    # sketch-only production forms of the two neighborhood functions,
    # the radius-2 FastSS blocking, and the streaming winnowing filter
    "multimodal_mp4_avc_frames",
    "multimodal_mp4_avc_i4x4_frames",
    "graph_hyperanf_nf_sketch",
    "graph_hyperball_harmonic_sketch",
    "dedup_levenshtein2_names",
    "stream_winnowing_hits",
    # round-16 additions: the templated-key radius-2 blocking (same
    # brute-force truth as dedup_levenshtein2_names — registered to
    # SHOW the wall drop, ~2x on the serial-name fixture), the
    # all-contexts CAVLC chain, and the deblocking-enabled chain
    "dedup_levenshtein2_blocked",
    "multimodal_mp4_avc_textured_frames",
    "multimodal_mp4_avc_deblocked_frames",
    "multimodal_mp4_avc_ipp_frames",
    "multimodal_mp4_avc_multislice_frames",
]

REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from pantasia_db_sync_spark.session import get_spark
    from pantasia_db_sync_spark.plans import materialize, run_query, timed_runs

    spark = get_spark(app_name="pantasia-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up: one full unrecorded pass over the whole suite so JVM JIT,
    # codegen caches, parquet footers, and broadcast machinery are hot.
    for name in HEADLINE:
        run_query(spark, name, sf_dir)

    # Calibration: a fixed synthetic workload (range -> hash-agg ->
    # noop, no repo code, no IO) measuring THIS RUN's host speed.
    # Rounds 4-6 showed the sandbox wall clock drifting ±30%+ between
    # hours under external load (r5-commit code re-measured 2.8x its
    # recorded sync wall in a loaded window with zero code change) —
    # divide query walls by calibration_sec to compare across rounds.
    def calibration() -> float:
        t0 = time.perf_counter()
        materialize(
            spark.range(0, 50_000_000, 1, 32)
            .selectExpr("id % 9973 AS k", "id AS v")
            .groupBy("k")
            .sum("v")
        )
        return time.perf_counter() - t0

    calibration()  # warm
    cal_runs = sorted(calibration() for _ in range(3))
    calibration_sec = round(statistics.median(cal_runs), 3)
    try:
        loadavg_1m = round(os.getloadavg()[0], 2)
    except OSError:
        loadavg_1m = None
    print(
        f"# calibration: median {calibration_sec:.3f}s "
        f"(min {cal_runs[0]:.3f} / max {cal_runs[-1]:.3f}), loadavg {loadavg_1m}",
        file=sys.stderr,
    )

    # Previous full payload (if committed) — the baseline for the
    # normalized round-over-round deltas in the summary line.
    prev_queries: dict = {}
    prev_cal: dict = {}
    try:
        with open("bench_full.json") as f:
            prev = json.load(f)
        prev_queries = prev.get("queries", {}) or {}
        prev_cal = prev.get("queries_cal", {}) or {}
    except (OSError, ValueError):
        pass

    def jvm_gc() -> None:
        # Long local[*] sessions age measurably (accumulated listener /
        # broadcast / shuffle state pushes GC into later queries —
        # round 4's "uniform 11% slowdown" was exactly this plus a cold
        # first run). A full GC between measured segments pins each
        # query to a comparable heap state.
        spark.sparkContext._jvm.System.gc()

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    qcal: dict[str, float] = {}
    for name in HEADLINE:
        jvm_gc()
        # interleaved host-speed probe, MEDIAN OF 3 (round-15 change,
        # VERDICT r14 next-round #2): a single probe still samples an
        # oscillating host once — r14 run 4's text_bpe_train drew a
        # 3.60 normalized against 2.06/2.31 in matched runs purely from
        # one unlucky calibration draw. Three draws immediately before
        # the query's measured reps share its host-load window and the
        # median is robust to one spike.
        qcal[name] = round(
            statistics.median(calibration() for _ in range(3)), 3
        )
        runs = timed_runs(spark, name, sf_dir, REPS)
        timings[name] = round(statistics.median(runs), 3)
        spread[name] = [round(runs[0], 3), round(runs[-1], 3)]
        print(
            f"# {name}: median {timings[name]:.3f}s "
            f"(min {runs[0]:.3f} / max {runs[-1]:.3f}, n={REPS}, "
            f"cal {qcal[name]:.3f}s, norm {timings[name] / qcal[name]:.2f})",
            file=sys.stderr,
        )

    # Sync-pipeline throughput: full batch syncs over fresh fixtures
    # (generation excluded from the timing). scale 1.0 ≈ 40k records —
    # run REPS times and take the median (the 1x number was the noisiest
    # metric in rounds 2-4); the 10x run shows throughput where per-job
    # overhead amortizes (the scale trend a 100 TB deployment cares
    # about) and runs once — it is long enough to be self-averaging.
    import tempfile

    from pantasia_db_sync_spark.pipeline import fixtures
    from pantasia_db_sync_spark.pipeline.store import TableStore
    from pantasia_db_sync_spark.pipeline.sync import SyncEngine

    def run_sync_at(
        scale: float, reps: int, stat: str = "median"
    ) -> tuple[float, float, list[float]]:
        walls: list[float] = []
        n_records = 0
        with tempfile.TemporaryDirectory() as src:
            fixtures.generate(src, scale=scale, seed=42)
            for _ in range(reps):
                jvm_gc()
                with tempfile.TemporaryDirectory() as sink:
                    engine = SyncEngine(
                        spark, src, TableStore(sink), time_interval_minutes=10**6
                    )
                    t0 = time.perf_counter()
                    stats = engine.run_sync()
                    walls.append(time.perf_counter() - t0)
                    n_records = sum(s["records"] for s in stats)
        walls.sort()
        # "min" = least-interference estimate: on a host with external
        # load spikes (see the calibration note above) the min of a few
        # long runs tracks the code's true cost better than a median
        # that averages a spike in.
        rep = walls[0] if stat == "min" else statistics.median(walls)
        print(
            f"# sync_pipeline: {stat} {rep:.3f}s of {reps} "
            f"(min {walls[0]:.3f} / max {walls[-1]:.3f}), {n_records} records, "
            f"{n_records / rep:.0f} rec/s (scale={scale})",
            file=sys.stderr,
        )
        return (
            round(rep, 3),
            round(n_records / rep, 1),
            [round(walls[0], 3), round(walls[-1], 3)],
        )

    sync_scale = float(os.environ.get("SPARK_GRAFT_SYNC_SCALE", "1.0"))
    sync_wall, sync_rps, sync_spread = run_sync_at(sync_scale, REPS)
    sync10_wall, sync10_rps, sync10_spread = (None, None, None)
    if os.environ.get("SPARK_GRAFT_SYNC_10X", "1") == "1":
        # 3 reps, min, WITH spread: the round-8 attribution measured
        # ±20% rep-to-rep variance on this long run (README
        # §methodology), so a min-of-2 single number reads as a trend
        # when it is a draw.
        sync10_wall, sync10_rps, sync10_spread = run_sync_at(
            10 * sync_scale, 3, stat="min"
        )

    # Dedup 10x-corpus datapoint: replicate the sf0.1 documents 10x with
    # per-replica token rewrites (so near-dup structure grows linearly,
    # not quadratically — see README §Measured scale growth) and time the
    # two banded-join dedups once each after a warm-up. rec/s at 10x vs
    # 1x is the scale-linearity evidence for the banded candidate
    # generation; skippable via env.
    dedup10: dict[str, float] = {}
    # Gated on the default SF dir: build_corpus replicates sf0.1, so a
    # bench run pointed elsewhere would ratio a 10x-of-sf0.1 wall
    # against a different-scale 1x wall and report a bogus linearity
    # number.
    if (
        os.environ.get("SPARK_GRAFT_DEDUP_10X", "1") == "1"
        and sf_dir.rstrip("/") == "/root/testdata/sf0.1"
    ):
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts"))
        from scale_probe import build_corpus

        dir10 = build_corpus(spark, 10)
        for name in ("dedup_minhash_lsh", "dedup_simhash"):
            # median of 3 (round-8 change): the single-run form caught
            # a cold-page-cache / external-load spike as "10.97s" where
            # the warm steady state re-measured at 3.5s — same noise
            # class the sync-10x spread fix addresses
            run_query(spark, name, dir10)  # warm
            runs = timed_runs(spark, name, dir10, 3)
            dt = statistics.median(runs)
            dedup10[name] = round(dt, 3)
            ratio = dt / timings[name]
            print(
                f"# {name}@10x: median {dt:.3f}s of 3 "
                f"(min {runs[0]:.3f} / max {runs[-1]:.3f}; "
                f"{ratio:.1f}x the 1x wall → {10 / ratio:.1f}x rec/s)",
                file=sys.stderr,
            )

    # The headline total sums ONLY the query suite (comparable to round
    # 1's definition); the pipeline rides as separate metrics AND as a
    # `queries` entry so per-name round-over-round diffs still work.
    total = round(sum(timings.values()), 3)
    timings["sync_pipeline"] = sync_wall
    spread["sync_pipeline"] = sync_spread
    cal_vals = sorted(qcal.values())
    payload = {
        "metric": "headline_suite_wall_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_spread": spread,
        "queries_cal": qcal,
        "reps": REPS,
        "sf": sf,
        "calibration_sec": calibration_sec,
        "loadavg_1m": loadavg_1m,
        "sync_pipeline_sec": sync_wall,
        "sync_pipeline_records_per_sec": sync_rps,
        "sync_pipeline_scale": sync_scale,
        "sync_pipeline_10x_sec": sync10_wall,
        "sync_pipeline_10x_records_per_sec": sync10_rps,
        "sync_pipeline_10x_spread": sync10_spread,
        "dedup_10x_sec": dedup10 or None,
    }
    # normalized views ride in the FULL payload (round 17 — they were
    # summary-line fields before; the summary budget now goes to the
    # per-query maps): wall / same-window calibration — flat norm with
    # a moved wall = host; moved norm = plan
    norm = {n: round(timings[n] / qcal[n], 2) for n in qcal}
    payload["top5_wall_over_cal"] = dict(
        sorted(norm.items(), key=lambda kv: -kv[1])[:5]
    )
    norm_delta = {}
    for n in qcal:
        pw, pc = prev_queries.get(n), prev_cal.get(n)
        if pw and pc:
            norm_delta[n] = round(norm[n] / (pw / pc), 2)
    payload["top5_norm_delta_vs_prev"] = (
        dict(sorted(norm_delta.items(), key=lambda kv: -kv[1])[:5]) or None
    )
    print(json.dumps(payload))
    try:
        with open("bench_full.json", "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only CWD: the stdout line above still has everything

    # FINAL line (round-17 rework, VERDICT r16 next-round #2): the
    # driver's PERF layer parses ONLY this line and records a 2000-char
    # stdout tail (measured constant across the BENCH_r01..r16
    # artifacts; rounds 8-13 landed as ``"parsed": null`` because the
    # full-payload line alone is >2000 chars). The driver needs
    # PER-QUERY medians + calibrations here to compute per-query deltas
    # and core-scaling ratios — but the complete 87-entry maps are
    # ~5 KB (query names alone are ~1.8 KB) and CANNOT fit the tail. So
    # pack as many (wall, cal) entries as fit a hard 1950-byte line
    # budget, MOST EXPENSIVE FIRST (the queries whose deltas carry the
    # suite total; the omitted tail is the sub-half-second flatland),
    # and say how many were cut. bench_full.json keeps the complete
    # maps, spreads, and the norm-delta views (the old top5_* summary
    # fields moved there — subsumed by the maps, dropped for budget).
    summary = {
        "metric": "headline_suite_wall_time",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "reps": REPS,
        "summary": True,
        "n_queries": len(qcal),
        "calibration_sec": calibration_sec,
        "queries_cal_med": (
            round(statistics.median(cal_vals), 3) if cal_vals else None
        ),
        "queries_cal_max": cal_vals[-1] if cal_vals else None,
        "loadavg_1m": loadavg_1m,
        "sync_pipeline_sec": sync_wall,
        "sync_pipeline_records_per_sec": sync_rps,
        "sync_pipeline_10x_sec": sync10_wall,
        "sync_pipeline_10x_records_per_sec": sync10_rps,
        "queries_omitted": 0,
        "queries": {},
        "queries_cal": {},
        "full_payload": "bench_full.json",
    }
    compact = dict(separators=(",", ":"))
    for name in sorted(timings, key=lambda n: -timings[n]):
        summary["queries"][name] = timings[name]
        if name in qcal:
            summary["queries_cal"][name] = qcal[name]
        if len(json.dumps(summary, **compact)) > 1950:
            del summary["queries"][name]
            summary["queries_cal"].pop(name, None)
            summary["queries_omitted"] = len(timings) - len(summary["queries"])
            break
    print(json.dumps(summary, **compact))


if __name__ == "__main__":
    main()
