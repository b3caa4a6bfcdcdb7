"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Each query is forced with a cheap terminal action (count on the final
plan) — results never hit the driver.  AQE on, shuffle partitions sized
for the local run.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: headline set: one per operator family (scan, agg, join, window, schema
#: pipeline, graph, typed export, rewrite loop, text, dedup, ann, events) —
#: enough signal without running the full registry.  Round-4 renames:
#: window_topk_orders→window_orders, text_stats→text_profile,
#: dedup_exact→dedup_filtered (exact dedup folded into the keep-set),
#: events_hourly_rollup→its streaming twin's batch body via
#: events_sessionize staying as the events representative.
HEADLINE = [
    "scan_filter_project",
    "agg_pricing_summary",
    "join_revenue_by_nation",
    "window_grouping",  # r7 fold: window_orders + grouping_orders
    "dataset_extract_nation",
    "graph_extract",
    "typed_export_orders",
    "rewrite_documents",
    "text_profile",
    "dedup_filtered",
    "dedup_pairs",  # r7 fold: dedup_minhash_lsh + dedup_ngram_jaccard
    "ann_suite",  # r7 fold: ann_topk + ann_ivf_topk + ann_pq_adc
    "events_sessionize",
    "sampling_mixture",
    # r4 additions: lexical retrieval and LM-quality scoring families
    "bm25_topk",
    "lm_perplexity",
    # r5 additions: semantic (embedding k-means) dedup and DSIR selection
    "semantic_dedup",
    "dsir",
    # r6 additions: the model-based quality filter, the end-to-end
    # curation chain (gate -> dedup -> mixture -> packing, census), and
    # the C4 line-cleaning + line-hygiene scan stage
    "quality_classifier",
    "curation_pipeline",
    "c4_clean",
    # iterative graph analytics over the behavioral log (Pregel-shaped
    # integer PageRank: K chained shuffle-join rounds behind barriers)
    "link_pagerank",
    # r6 continuation: the corpus datasheet (one barriered signal scan +
    # histogram-exact deciles) and the unicode-hygiene + split stage
    "corpus_health",  # r7 fold: corpus_report + corpus_drift
    "unicode_split",
    # r11 additions: image near-dup over the real pixel decoders
    # (perceptual hashes + Hamming-banded pairs) and the end-to-end
    # crawl composite (read_warc -> curation chain -> write_corpus;
    # archives memoized per session — the line measures the pipeline)
    "multimodal_dedup",
    "crawl_to_corpus",
    # r11.5: binary payloads through the crawl seam (read_warc ->
    # image/* gate -> real decode -> banded near-dup pairs)
    "crawl_media_dedup",
]


def _calib_cpu() -> float:
    """Deterministic single-core probe: a serially-dependent md5 chain
    (fixed iteration count, no allocation growth) — ~1 s nominal on the
    r12 reference host.  Host drift, not code, moves this line: the r11
    review proved a x1.31 'regression' was the machine slowing down
    (git-worktree A/B), so every BENCH file now carries its own
    host-speed measurement and tools/benchdiff.py reports
    calib-normalized ratios next to raw."""
    import hashlib

    t0 = time.perf_counter()
    h = b"\x00" * 16
    for _ in range(1_200_000):
        h = hashlib.md5(h).digest()
    dt = time.perf_counter() - t0
    if not h:  # pragma: no cover — keeps the loop un-elidable
        raise AssertionError
    return dt


def _calib_spark(spark, cpus: str) -> float:
    """Deterministic Spark probe: a fixed-width shuffle-free codegen job
    over synthesized-in-memory rows (range -> xxhash64 -> sum; one
    partial agg per task + a 32-row final).  Measures the JVM/executor
    side of host speed — scheduler, codegen throughput, core contention —
    the part calib_cpu can't see."""
    t0 = time.perf_counter()
    (
        spark.range(0, 384_000_000, 1, numPartitions=int(cpus))
        # bit_xor: overflow-free under ANSI mode (sum of hashes is not)
        .selectExpr("bit_xor(xxhash64(id)) AS h")
        .collect()
    )
    return time.perf_counter() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("architxt-spark-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # engine optimizer profile (see architxt_spark.session)
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # JVM NFC path when a JDK is present (tools/jvmnfc_bench.py r10 A/B:
    # NFC stage 0.68 -> 0.18 s, unicode_split 0.37 -> 0.25 s at sf0.1) —
    # silently stays on the parity-tested Arrow fallback without javac.
    try:
        from architxt_spark.jvm import register_jvm_nfc

        register_jvm_nfc(spark)
        print("# jvm-nfc: registered", file=sys.stderr)
    except Exception as e:  # noqa: BLE001 — optional fast path only
        print(f"# jvm-nfc unavailable (Arrow fallback): {e}", file=sys.stderr)

    import __spark_entry__ as entry_mod
    from architxt_spark.session import clear_artifacts

    qs = entry_mod.queries()

    # Warm-up: run every headline query once at the smallest SF so the
    # timed loop measures steady-state execution, not JVM/codegen JIT
    # (first execution of the wide generated code is 3-8x slower).
    warm_dir = os.environ.get("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    if warm_dir:
        for name in HEADLINE:
            try:
                qs[name](spark, warm_dir).count()
            except Exception as e:  # noqa: BLE001 — warm-up must never fail the bench
                print(f"# warmup {name} failed: {e}", file=sys.stderr)

    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2")))

    # Host-speed calibration (r11 verdict #1): min-of-repeats like every
    # other line, one warm draw first so the Spark probe measures steady
    # state, not first-job scheduler setup.  Excluded from both totals —
    # these lines measure the HOST, and benchdiff divides them out.
    _calib_spark(spark, cpus)
    calib = {
        "calib_cpu": round(min(_calib_cpu() for _ in range(repeats)), 3),
        "calib_spark": round(
            min(_calib_spark(spark, cpus) for _ in range(repeats)), 3
        ),
    }
    for k, v in calib.items():
        print(f"# {k}: {v:.3f}s min of {repeats}", file=sys.stderr)

    # Once-per-session serving artifacts, each timed as its OWN line
    # (r10 verdict: conflated `ann_index_build`/`model_build` lines let a
    # real build regression hide inside a scope change — per-artifact
    # lines make benchdiff's comparison exact).  The timed loop below
    # then measures pure probe/score-side serving.
    #
    # Builds obey the SAME repeated-minima protocol as queries (r11 fix:
    # single cold draws conflated first-execution JIT + host noise with
    # build cost — a lone draw measured pq_encode at 13x its steady
    # state).  Each artifact is cleared before every draw so each repeat
    # is a genuine rebuild; the last draw leaves the artifact cached for
    # the serving-side query lines below.
    builds = [
        ("ivf_build", "ivf_index", entry_mod.ivf_serving_index),
        ("pq_encode", "pq_codes", entry_mod.pq_serving_codes),
        ("quality_fit", "quality_model", entry_mod.quality_model_weights),
        ("curation_fit", "curation_model", entry_mod.curation_model_weights),
        ("dsir_fit", "dsir_model", entry_mod.dsir_model),
    ]
    timings: dict[str, float] = {}
    build_total = 0.0
    for bname, artifact_name, bfn in builds:
        best = None
        for _ in range(repeats):
            clear_artifacts(artifact_name)
            t0 = time.perf_counter()
            bfn(spark, sf_dir)
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[bname] = round(best, 3)
        build_total += best
        print(f"# {bname}: {best:.3f}s min of {repeats} rebuilds", file=sys.stderr)

    # Repeated minimum per query (BASELINE.md measurement protocol): this
    # host shows 2-4x run-to-run noise under neighbor load (measured:
    # identical code, 38.6s vs 115s totals minutes apart), so a single
    # draw is not a measurement.  The minimum of REPEATS runs is the
    # honest steady-state number the 2x regression bar applies to.
    total = build_total
    for name in HEADLINE:
        fn = qs[name]
        best = None
        for _ in range(repeats):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        total += best
        print(f"# {name}: {best:.3f}s min of {repeats} ({n} rows)", file=sys.stderr)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": round(total, 3),
                "unit": "sec",
                # query-only subtotal (excludes the once-per-session
                # build lines ivf_build/pq_encode/quality_fit/
                # curation_fit/dsir_fit) — the number comparable across
                # rounds without benchdiff's partial-fold logic
                "comparable_total": round(total - build_total, 3),
                "queries": {**calib, **timings},
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
