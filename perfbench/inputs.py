"""Seeded benchmark inputs: generation, the on-disk cache, and content digests.

Every workload's inputs are a pure function of ``(workload, seed, size)``.
They are generated once, cached under ``perfbench/.inputs/`` (ignored by
git, so a fresh checkout regenerates them), and the program under test only
ever receives the generated files.

The document corpus follows the skew recipe of ``tools/scalebench.py``:
55% unique documents, 25% template near-duplicates, 12% exact duplicates of
an earlier document, 8% junk that fails the quality gate.  Pages are
newline-structured (sentences ending in a full stop), so the C4 line filter
has lines to keep and lines to drop.  The generator is the benchmark's own
code, not the program's, so a change to the program cannot change these
inputs.

The ``structure`` forest is made by the program's own ``generator.gen_instance``
(the paper's F4 medical schema).  That is why digests exist: the canonical
forest for a size is pinned in ``digests.json``, and a cached input set whose
files no longer hash to the digest recorded when it was generated is refused.
The canonical forest is collected once per checkout, by a process of its own;
each seed's forest is derived from it without Spark.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".inputs")
PINS = os.path.join(HERE, "digests.json")

WORDS = (
    "the of and to in a is that for it as was with be by on not he this are "
    "or his from at which but have an had they you were their one all we can "
    "her has there been if more when will would who so no out up into them "
    "then its only time two could other new some these may first than like "
    "water earth story garden market travel music painting harbor winter "
    "river mountain village bridge letter evening morning window journey "
    "science history analysis careful detailed knowledge education report"
).split()

TEMPLATES = [
    "subscribe to our newsletter for the latest updates and offers today.",
    "all rights reserved terms of service privacy policy contact us about.",
    "click here to read more about this amazing story and share it now.",
    "the committee met on tuesday to discuss the annual budget proposal.",
]

JUNK = ("junk", "click here", "a a a a a a a a")

#: Domains in the corpus: ``site<k>.com`` for k < N_SITES.  ``site3.com``
#: is on the curation blocklist.
N_SITES = 24

#: Documents per workload.  Sized so that one job is a few seconds on a
#: 4-core host and a run holds several jobs (see README.md).
SIZES = {"crawl_curate": 6000, "structure": 120, "text_scan": 40000}

#: Files each document corpus is split into (``.warc.gz`` archives, parquet
#: files): a scan parallelises by file, so this is the scan width.
N_ARCHIVES = 16

#: A run's warm-up job reads one ``WARM_UP_SHARE``-th of its inputs.
WARM_UP_SHARE = 4


def _sentence(rng: random.Random, k: int) -> str:
    return " ".join(rng.choices(WORDS, k=k)) + "."


def gen_docs(n: int, seed: int) -> list[tuple[int, str, str, str]]:
    """``n`` documents ``(doc_id, text, lang, source)`` by the skew recipe."""
    rng = random.Random(seed)
    texts: list[str] = []
    rows = []
    for i in range(n):
        p = rng.random()
        if p < 0.55 or not texts:
            body = "\n".join(
                ("the and " if j == 0 else "") + _sentence(rng, 8) for j in range(5)
            )
        elif p < 0.80:
            t = rng.choice(TEMPLATES)
            body = f"the and {t}\n{t}\n{_sentence(rng, 6)}"
        elif p < 0.92:
            body = texts[rng.randrange(len(texts))]
        else:
            body = rng.choice(JUNK)
        texts.append(body)
        rows.append((
            i,
            body,
            rng.choice(("en", "en", "en", "fr", "de")),
            f"site{rng.randrange(N_SITES)}.com",
        ))
    return rows


def _warc_record(warc_type: str, uri: str, block: bytes, content_type: str) -> bytes:
    head = (
        "WARC/1.0\r\n"
        f"WARC-Type: {warc_type}\r\n"
        f"WARC-Record-ID: <urn:uuid:{hashlib.md5(uri.encode() + block).hexdigest()}>\r\n"
        "WARC-Date: 2026-01-01T00:00:00Z\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(block)}\r\n\r\n"
    )
    return head.encode() + block + b"\r\n\r\n"


def _http(status: int, ctype: str, body: bytes) -> bytes:
    return f"HTTP/1.1 {status} OK\r\nContent-Type: {ctype}\r\n\r\n".encode() + body


def write_crawl(out: str, n: int, seed: int) -> None:
    """``N_ARCHIVES`` CommonCrawl-layout ``.warc.gz`` archives (one gzip
    member per record).  Each archive also holds the noise a real crawl
    has (warcinfo, a request, a 404 and an image response), which the
    status/content-type gate must drop.  The target URI carries the
    document's id, language and site."""
    parts: list[list[bytes]] = [[] for _ in range(N_ARCHIVES)]
    for a in range(N_ARCHIVES):
        parts[a] += [
            _warc_record("warcinfo", "", f"software: perfbench/{a}\r\n".encode(),
                         "application/warc-fields"),
            _warc_record("request", f"http://crawl.test/{a}",
                         b"GET / HTTP/1.1\r\nHost: crawl.test\r\n\r\n",
                         "application/http; msgtype=request"),
            _warc_record("response", f"http://crawl.test/missing-{a}",
                         _http(404, "text/html", b"<html><body>gone</body></html>"),
                         "application/http; msgtype=response"),
            _warc_record("response", f"http://crawl.test/logo-{a}.png",
                         _http(200, "image/png", b"\x89PNG\r\n\x1a\nnot-really"),
                         "application/http; msgtype=response"),
        ]
    for doc_id, text, lang, source in gen_docs(n, seed):
        page = f"<html><body><p>{text}</p></body></html>".encode()
        parts[doc_id % N_ARCHIVES].append(_warc_record(
            "response", f"doc:{doc_id}|{lang}|{source}",
            _http(200, "text/html; charset=utf-8", page),
            "application/http; msgtype=response",
        ))
    os.makedirs(out)
    for a, recs in enumerate(parts):
        with open(os.path.join(out, f"crawl-{a:02d}.warc.gz"), "wb") as f:
            f.write(b"".join(gzip.compress(r, compresslevel=6, mtime=0) for r in recs))


def write_text(out: str, n: int, seed: int) -> None:
    """The corpus as ``N_ARCHIVES`` parquet files ``(doc_id, text, lang,
    source)``: one scan task per file, several per core, so one slow core
    does not hold the whole job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = gen_docs(n, seed)
    os.makedirs(out)
    for part in range(N_ARCHIVES):
        chunk = rows[part::N_ARCHIVES]
        table = pa.table({
            "doc_id": pa.array([r[0] for r in chunk], pa.int64()),
            "text": [r[1] for r in chunk],
            "lang": [r[2] for r in chunk],
            "source": [r[3] for r in chunk],
        })
        pq.write_table(table, os.path.join(out, f"part-{part}.parquet"))


#: FIXTURES F4: the reference generator's medical schema.
F4_GROUPS = {
    "SOSY": ("SOSY", "ANATOMIE", "SUBSTANCE"),
    "TREATMENT": ("SUBSTANCE", "DOSAGE", "ADMINISTRATION", "FREQUENCY"),
    "EXAM": ("DIAGNOSTIC_PROCEDURE", "ANATOMIE"),
}
F4_RELATIONS = (("PRESCRIPTION", "SOSY", "TREATMENT"), ("EXAM_RESULT", "EXAM", "SOSY"))


def f4_schema():
    from architxt_spark.plans.schema import Relation, SchemaPlan

    return SchemaPlan.from_description(
        groups={g: frozenset(e) for g, e in F4_GROUPS.items()},
        relations={Relation(name, left, right) for name, left, right in F4_RELATIONS},
    )


def canonical_forest(spark, size: int):
    """``gen_instance`` over F4 with GROUP/REL/COLL labels nulled (the
    unlabelled-forest convention of ``__spark_entry__._unlabelled_doc_forest``):
    the rewrite has to rediscover the structure.  ENT labels stay."""
    from pyspark.sql import functions as F

    from architxt_spark.generator import gen_instance

    nodes = gen_instance(spark, f4_schema(), size=size)
    return nodes.withColumn(
        "node_type",
        F.when(F.col("node_type") == "ENT", F.col("node_type")).otherwise(
            F.lit(None).cast("string")
        ),
    )


FOREST_COLS = ["tree_id", "node_id", "parent_id", "pos", "path", "depth",
               "node_type", "node_name", "leaf_value", "metadata"]


def _forest_rows_digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()


def _canonical_path(size: int) -> str:
    return os.path.join(CACHE, f"structure-canonical-n{size}", "forest.json")


def write_canonical(size: int, path: str) -> None:
    """Collect the canonical forest through the program's own Spark session
    and store its rows as JSON with their digest at ``path``.  Runs in a
    process of its own (``python3 perfbench/inputs.py canonical <size>
    <path>``), so a run's Spark session never runs a generator job before
    its timed job."""
    import run
    from architxt_spark.session import get_spark

    run._env(False)
    spark = get_spark(app_name="perfbench-inputs")
    try:
        rows = sorted(
            canonical_forest(spark, size).select(*FOREST_COLS).collect(),
            key=lambda r: r.node_id,
        )
        meta = {"digest": _forest_rows_digest(rows), "rows": [r.asDict() for r in rows]}
    finally:
        run._stop(spark)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(path + ".tmp", path)


def canonical_rows(size: int) -> tuple[str, list[dict]]:
    """Digest and rows of the canonical forest, generated once per checkout."""
    path = _canonical_path(size)
    if not os.path.exists(path):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "canonical", str(size), path],
            stdout=subprocess.DEVNULL, check=True,
        )
    with open(path) as f:
        meta = json.load(f)
    return meta["digest"], meta["rows"]


def write_structure(out: str, size: int, seed: int) -> str:
    """The seeded forest as parquet; returns the digest of the canonical
    (unseeded) ``gen_instance`` output, which ``digests.json`` pins.

    The seed salts every tree id and leaf value, so tree-to-bucket hashing
    and row order differ between seeds while the work stays the same."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    canon, rows = canonical_rows(size)
    salt = hashlib.md5(str(seed).encode()).hexdigest()[:6]

    def salted(v):
        return None if v is None else f"{v}~{salt}"

    rng = random.Random(seed)
    order = list(range(len(rows)))
    rng.shuffle(order)
    data = {c: [] for c in FOREST_COLS}
    for i in order:
        r = rows[i]
        tid = r["tree_id"]
        data["tree_id"].append(salted(tid))
        data["node_id"].append(r["node_id"].replace(tid, salted(tid), 1))
        data["parent_id"].append(
            None if r["parent_id"] is None else r["parent_id"].replace(tid, salted(tid), 1)
        )
        for c in ("pos", "path", "depth", "node_type", "node_name"):
            data[c].append(r[c])
        data["leaf_value"].append(salted(r["leaf_value"]))
        data["metadata"].append(None if r["metadata"] is None else list(r["metadata"].items()))
    table = pa.table({
        **{c: data[c] for c in ("tree_id", "node_id", "parent_id")},
        "pos": pa.array(data["pos"], pa.int32()),
        "path": pa.array(data["path"], pa.list_(pa.int32())),
        "depth": pa.array(data["depth"], pa.int32()),
        **{c: data[c] for c in ("node_type", "node_name", "leaf_value")},
        "metadata": pa.array(data["metadata"], pa.map_(pa.string(), pa.string())),
    })
    os.makedirs(out)
    pq.write_table(table, os.path.join(out, "forest.parquet"))
    return canon


def warm_up_input(workload: str, data: str, size: int, out: str) -> tuple[str, int]:
    """``(path, size)`` of the slice of ``data`` a run's warm-up job reads:
    the first ``N_ARCHIVES // WARM_UP_SHARE`` archives or parquet files of a
    document corpus, or every ``WARM_UP_SHARE``-th tree of a forest (written
    under ``out``).  The warm-up compiles the same plans as a timed job at a
    fraction of its data; the slice comes from the checked inputs, so it is
    pinned too."""
    first = f"[0-{N_ARCHIVES // WARM_UP_SHARE - 1}]"
    if workload == "crawl_curate":
        return os.path.join(data, f"crawl-0{first}.warc.gz"), size // WARM_UP_SHARE
    if workload == "text_scan":
        return os.path.join(data, f"part-{first}.parquet"), size // WARM_UP_SHARE
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    table = pq.read_table(data)
    trees = sorted(set(table.column("tree_id").to_pylist()))[::WARM_UP_SHARE]
    os.makedirs(out, exist_ok=True)
    pq.write_table(
        table.filter(pc.is_in(table.column("tree_id"), value_set=pa.array(trees))),
        os.path.join(out, "forest.parquet"),
    )
    return out, size // WARM_UP_SHARE


def files_digest(root: str) -> str:
    """sha256 over the relative paths and bytes of every file under ``root``."""
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def input_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )


class DigestMismatch(RuntimeError):
    """The inputs on disk are not the inputs the digest was taken from."""


def _pins() -> dict:
    with open(PINS) as f:
        return json.load(f)


def ensure_inputs(workload: str, seed: int, size: int) -> str:
    """Directory of the inputs for ``(workload, seed, size)``, generated on
    first use.  Raises :class:`DigestMismatch` when the files no longer
    match the digest recorded at generation, the digest pinned for this
    key in ``digests.json``, or (``structure``) the pinned digest of the
    program's canonical forest at this size."""
    key = f"{workload}-s{seed}-n{size}"
    root = os.path.join(CACHE, key)
    data = os.path.join(root, "data")
    record = os.path.join(root, "digest.json")
    pins = _pins()
    if not os.path.exists(record):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        meta = {}
        if workload == "crawl_curate":
            write_crawl(data, size, seed)
        elif workload == "text_scan":
            write_text(data, size, seed)
        else:
            meta["canonical"] = write_structure(data, size, seed)
        meta["files"] = files_digest(data)
        with open(record + ".tmp", "w") as f:
            json.dump(meta, f)
        os.replace(record + ".tmp", record)
    with open(record) as f:
        meta = json.load(f)
    got = files_digest(data)
    if got != meta["files"]:
        raise DigestMismatch(f"{key}: files hash {got}, recorded {meta['files']}")
    pinned = pins.get("inputs", {}).get(key)
    if pinned is not None and pinned != got:
        raise DigestMismatch(f"{key}: files hash {got}, pinned {pinned}")
    if workload == "structure":
        canon_pin = pins.get("canonical_forest", {}).get(str(size))
        if canon_pin is not None and canon_pin != meta["canonical"]:
            raise DigestMismatch(
                f"{key}: gen_instance forest hash {meta['canonical']}, pinned {canon_pin}"
            )
    return data


if __name__ == "__main__":
    if sys.argv[1:2] != ["canonical"] or len(sys.argv) != 4:
        sys.exit("usage: python3 perfbench/inputs.py canonical <size> <path>")
    sys.path[:0] = [HERE, os.path.dirname(HERE)]
    write_canonical(int(sys.argv[2]), sys.argv[3])
