"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/test_perfbench.py -q

Each test that runs a workload starts (and stops) its own Spark session, so
the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

TINY = {"crawl_curate": 400, "structure": 20, "text_scan": 600}


@pytest.fixture
def tiny(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "SIZES", dict(TINY))
    monkeypatch.setattr(inputs, "CACHE", str(tmp_path / "inputs"))
    monkeypatch.setattr(run, "WORK", str(tmp_path / "work"))
    return tmp_path


def _run(capsys, workload, trace=False, seed=3):
    code = run.run(workload, seed, 0.1, trace)
    out = capsys.readouterr().out.splitlines()
    return code, out[:-1], json.loads(out[-1])


def test_every_end_to_end_metric_prints_with_its_unit(tiny, capsys):
    code, report, result = _run(capsys, "text_scan")
    assert code == 0 and result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())
    for name, unit in {**run.END_TO_END, **run.REPORT_ONLY}.items():
        assert any(line.split()[:1] == [name] and line.split()[2] == unit for line in report)


def test_signal_names_match_both_engines():
    assert tuple(workloads.text_signals_sql("text")) == workloads.TEXT_SIGNALS


def test_benchmark_json_matches_the_metrics_printed():
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == run.WORKLOADS
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units(
        run.WORKLOADS
    )


def test_tampered_crawl_output_fails_and_counts(tiny, capsys, monkeypatch):
    """A run of a seed stores its first job's census and manifest; a later
    job of the same seed whose census differs fails its check."""
    code, _report, result = _run(capsys, "crawl_curate")
    assert code == 0 and result["correct"]
    real = workloads.crawl_curate

    def tampered(spark, data, out, n_docs, tracer=workloads.NO_TRACE):
        import pyarrow as pa
        import pyarrow.parquet as pq

        real(spark, data, out, n_docs, tracer)
        census = os.path.join(out, "census")
        table = pq.ParquetDataset(census).read()
        n = table.column("n_docs").to_pylist()
        n[-1] += 1
        for f in os.listdir(census):
            os.remove(os.path.join(census, f))
        pq.write_table(
            table.set_column(table.schema.get_field_index("n_docs"), "n_docs",
                             pa.array(n, pa.int64())),
            os.path.join(census, "part-0.parquet"),
        )

    monkeypatch.setattr(workloads, "crawl_curate", tampered)
    code, report, result = _run(capsys, "crawl_curate")
    assert code == 1 and not result["correct"]
    assert result["failed"] == result["attempted"] >= 1
    assert any(line.split()[:2] == ["fail_ratio", "1.0000"] for line in report)


def test_tampered_text_signal_fails(tiny, capsys, monkeypatch):
    real = workloads.text_signals_sql

    def tampered(col):
        sig = real(col)
        sig["n_tokens"] = f"({sig['n_tokens']} + 1)"
        return sig

    monkeypatch.setattr(workloads, "text_signals_sql", tampered)
    code, _report, result = _run(capsys, "text_scan")
    assert code == 1 and result["failed"] == result["attempted"]


def test_crawl_census_and_manifest_replay_in_duckdb(tiny):
    """The crawl job's census and manifest equal the library's DuckDB twins
    (``curation_census_sql``, ``corpus_manifest_sql``) over the same docs."""
    import duckdb
    from pyspark.sql import functions as F

    from architxt_spark.functions.curation import curation_census_sql
    from architxt_spark.functions.sampling import hash_split_sql, pack_sequences_sql
    from architxt_spark.session import get_spark
    from architxt_spark.sinks.corpus import corpus_manifest_sql
    from architxt_spark.sources.warc import read_warc

    n = TINY["crawl_curate"]
    data = inputs.ensure_inputs("crawl_curate", 5, n)
    run._env(False)
    spark = get_spark(app_name="perfbench-test")
    try:
        out = str(tiny / "out")
        workloads.crawl_curate(spark, data, out, n)
        got = checks.read_crawl(out)
        docs = (
            read_warc(spark, data)
            .filter((F.col("http_status") == 200) & F.col("target_uri").startswith("doc:"))
            .select(
                F.regexp_extract("target_uri", r"^doc:(\d+)\|", 1).cast("long").alias("doc_id"),
                "text",
                F.regexp_extract("target_uri", r"\|([^|]*)\|", 1).alias("lang"),
                F.regexp_extract("target_uri", r"\|([^|]*)$", 1).alias("source"),
                F.length("text").cast("long").alias("n_chars"),
            )
            .toPandas()
        )
    finally:
        run._stop(spark)

    recipe = dict(
        domain_col="source",
        domain_blocklist=workloads.CRAWL_BLOCKLIST,
        decontam_bench_table="(SELECT doc_id, text FROM docs WHERE doc_id % 23 = 5)",
        ppl_drop_tail=True,
        ppl_train_table="(SELECT doc_id, text FROM docs WHERE doc_id % 29 = 3)",
        quality_pos_src=f"(SELECT doc_id, text FROM docs WHERE {workloads.CLASSIFIER_POS_SQL})",
        quality_neg_src=f"(SELECT doc_id, text FROM docs WHERE {workloads.CLASSIFIER_NEG_SQL})",
        mixture_col="lang",
        mixture_counts=workloads.crawl_mixture(n),
        salt="perfbench",
    )
    split = hash_split_sql("doc_id", workloads.CRAWL_SPLITS, "perfbench")
    kept = (
        f"(SELECT *, {split} AS split FROM "
        f"({curation_census_sql('docs', final_select='SELECT * FROM {kept}', **recipe)}))"
    )
    # curate_corpus packs each split on its own, salted with the split name
    packed = " UNION ALL ".join(
        f"SELECT DISTINCT split, pack_bucket, pack_seq FROM ("
        + pack_sequences_sql(
            f"(SELECT * FROM {kept} WHERE split = '{name}')", "doc_id", "n_chars", 4096,
            n_buckets=8, salt=f"perfbench|{name}",
        )
        + ")"
        for name in workloads.CRAWL_SPLITS
    )
    con = duckdb.connect()
    con.register("docs", docs)
    census = dict(con.execute(curation_census_sql("docs", **recipe)).fetchall())
    census["pack"] = con.execute(f"SELECT count(*) FROM ({packed})").fetchone()[0]
    manifest = sorted(
        (h, c, d, s) for s, d, c, h in con.execute(corpus_manifest_sql(kept, ["split"])).fetchall()
    )
    assert got["census"] == census
    assert got["manifest"] == manifest


def test_spans_nest_and_self_time_is_never_negative():
    class FakeContext:
        def setJobDescription(self, name):
            self.desc = name

    class FakeSession:
        sparkContext = FakeContext()

    tracer = spans.Tracer(FakeSession())
    with tracer.span("functions.text"):
        with tracer.span("functions.text.n_tokens"):
            pass
        with tracer.span("functions.text.quality"):
            pass
        tracer.on_stage(0, "reduce", 0.0)
    tracer.end_job()
    by_name = {s.name: s for s in tracer.spans}
    parent = by_name["functions.text"]
    for kid in ("functions.text.n_tokens", "functions.text.quality", "functions.text.reduce"):
        assert by_name[kid].parent is parent
        assert parent.start <= by_name[kid].start <= by_name[kid].end <= parent.end
    assert parent.parent is None and tracer.sc.desc is None
    jobs = [{"id": 0, "time": parent.start, "desc": "functions.text"}]
    totals = {0: dict.fromkeys(
        ("tasks", "failed", "task_cpu_s", "gc_s", "py_s", "py_mb", "shuffle_mb", "spill_mb"), 1.0
    )}
    m = spans.attribute(tracer.spans, jobs, totals)
    assert m["functions.text.jobs"] == 1 and m["functions.text.n_tokens.jobs"] == 0
    assert all(v >= 0 for k, v in m.items() if k.endswith("self_s"))
    assert m["functions.text.self_s"] <= m["functions.text.wall_s"]


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_traced_run_reports_every_layer_metric(tiny, capsys, workload):
    code, report, result = _run(capsys, workload, trace=True)
    assert code == 0, report
    assert any(line.startswith("# traced job ") for line in report)
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.per_layer_units(
        run.WORKLOADS
    )
    values = {k: v["value"] for k, v in result["metrics"].items()}
    for layer in run.LAYERS[workload]:
        assert values[f"{layer}.wall_s"] > 0
        assert 0 <= values[f"{layer}.self_s"] <= values[f"{layer}.wall_s"]
    if "functions.text" in run.LAYERS[workload]:
        assert all(values[f"functions.text.{s}.wall_s"] > 0 for s in workloads.TEXT_SIGNALS)
    if workload == "structure":
        assert values["operators.engine.iterations"] >= 1
        assert 0 < values["operators.engine.probe_yield"] <= 1
        assert all(values[f"operators.engine.{s}.wall_s"] > 0
                   for s in ("reduce", "cluster", "probe"))
