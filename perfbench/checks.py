"""Output checks, one per workload.

Each ``read_*`` reads what a job left at its sinks; each ``check_*`` raises
:class:`CheckFailed` when the output is wrong.  They run outside the timed
part of a job.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import pyarrow.parquet as pq

import inputs


class CheckFailed(AssertionError):
    """A job's output is wrong."""


def parquet_rows(path: str) -> int:
    """Rows in every parquet file under ``path``, from the file footers."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _table_rows(path: str) -> list[tuple]:
    """Sorted rows of a parquet directory, columns in name order."""
    table = pq.ParquetDataset(path).read()
    cols = table.to_pydict()
    return sorted(zip(*(cols[c] for c in sorted(cols))))


# ---------------------------------------------------------------- crawl_curate

CENSUS_STAGES = [
    "input", "quality", "domain", "dedup", "decontam", "ppl", "classifier", "sample", "pack"
]


def read_crawl(out: str) -> dict:
    return {
        "census": {stage: n for n, stage in _table_rows(os.path.join(out, "census"))},
        "manifest": _table_rows(os.path.join(out, "corpus", "manifest")),
        "corpus_rows": parquet_rows(os.path.join(out, "corpus", "data")),
    }


def check_crawl(got: dict, first: dict | None, n_docs: int) -> None:
    """Census and per-split manifest equal the first job's; the census has
    every stage of the recipe, starts at the input size and never grows
    before packing; the written corpus has as many rows as the manifest and
    as the census's last filtering stage."""
    census = got["census"]
    if sorted(census) != sorted(CENSUS_STAGES):
        raise CheckFailed(f"census stages {sorted(census)}")
    if census["input"] != n_docs:
        raise CheckFailed(f"census input {census['input']} != {n_docs} generated docs")
    survivors = [census[s] for s in CENSUS_STAGES[:-1]]
    if any(b > a for a, b in zip(survivors, survivors[1:])) or survivors[-1] <= 0:
        raise CheckFailed(f"census not a narrowing chain: {survivors}")
    if sum(row[2] for row in got["manifest"]) != got["corpus_rows"]:
        raise CheckFailed("manifest doc count != rows written")
    if got["corpus_rows"] != census["sample"]:
        raise CheckFailed(f"{got['corpus_rows']} rows written, census sample {census['sample']}")
    if first is not None and (got["census"], got["manifest"]) != (first["census"], first["manifest"]):
        raise CheckFailed("census or manifest differs from the first job's")


# ---------------------------------------------------------------- structure


def read_structure(out: str) -> dict:
    with open(os.path.join(out, "schema.json")) as f:
        schema = json.load(f)
    sql = os.path.join(out, "sql")
    return {
        "schema": schema,
        "frames": {name: parquet_rows(os.path.join(sql, name)) for name in os.listdir(sql)},
    }


def check_structure(got: dict, size: int) -> None:
    """The inferred schema has exactly the three generating groups (compared
    by entity set; names are not compared), its two relations join the
    generating group pairs, and every export frame has one row per
    generated instance: ``size`` per relation, and ``size`` per shape a
    group occurs in (its own shape plus each relation it is part of)."""
    groups = {g: frozenset(e) for g, e in got["schema"]["groups"].items()}
    want = {frozenset(e) for e in inputs.F4_GROUPS.values()}
    if set(groups.values()) != want or len(groups) != len(want):
        raise CheckFailed(f"groups {sorted(map(sorted, groups.values()))}")
    by_set = {frozenset(e): g for g, e in inputs.F4_GROUPS.items()}
    pairs = sorted(
        sorted((by_set[groups[left]], by_set[groups[right]]))
        for _name, left, right in got["schema"]["relations"]
    )
    want_pairs = sorted(sorted((left, right)) for _n, left, right in inputs.F4_RELATIONS)
    if pairs != want_pairs:
        raise CheckFailed(f"relations join {pairs}, want {want_pairs}")
    expected = {}
    for g, ents in groups.items():
        name = by_set[ents]
        expected[g] = size * (1 + sum(name in (left, right) for _n, left, right in inputs.F4_RELATIONS))
    for _name, left, right in got["schema"]["relations"]:
        expected[f"{left}_{right}_assoc"] = size
    if got["frames"] != expected:
        raise CheckFailed(f"export frame rows {got['frames']}, want {expected}")


# ---------------------------------------------------------------- text_scan


def _row_digest(rows) -> str:
    """Order-independent digest: rows are sorted before hashing."""
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()


#: The DuckDB twins cost ~5 ms per document; the check compares the slice
#: ``doc_id % CHECK_MOD == seed % CHECK_MOD`` (a different slice per seed).
CHECK_MOD = 64


def text_digest_spark(spark, data: str, part: int) -> str:
    from pyspark.sql import functions as F

    from workloads import text_signals

    sig = text_signals(F.col("text"))
    sig["c4_clean"] = F.md5(sig["c4_clean"])
    rows = (
        spark.read.parquet(data)
        .filter(F.col("doc_id") % CHECK_MOD == part)
        .select("doc_id", *[c.alias(n) for n, c in sig.items()])
        .collect()
    )
    return _row_digest(tuple(r) for r in rows)


def text_digest_duckdb(data: str, part: int) -> str:
    import duckdb

    from workloads import text_signals_sql

    sig = text_signals_sql("text")
    sig["c4_clean"] = f"md5({sig['c4_clean']})"
    cols = ", ".join(f"{e} AS {n}" for n, e in sig.items())
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT doc_id, {cols} FROM read_parquet('{data}/*.parquet')"
            f" WHERE doc_id % {CHECK_MOD} = {part}"
        ).fetchall()
    finally:
        con.close()
    return _row_digest(rows)


def check_text(spark, data: str, seed: int) -> None:
    """The signal projection equals its DuckDB ``_sql`` twins, row for row,
    on this seed's slice of the corpus."""
    part = seed % CHECK_MOD
    a, b = text_digest_spark(spark, data, part), text_digest_duckdb(data, part)
    if a != b:
        raise CheckFailed(f"text signals digest {a[:12]} != DuckDB twins {b[:12]}")
