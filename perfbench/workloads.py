"""The three benchmark jobs, written against the library's public entry points.

A job goes from input files to the last output row at a real sink: parquet
writes, or Spark's ``noop`` format for read-only output (it computes every
column and keeps nothing).  No job is forced with ``.count()``, which lets
Catalyst prune a projection down to an empty scan.

Each job takes a ``tracer``.  Untraced runs pass :data:`NO_TRACE`, whose spans
cost nothing; a traced run passes a :class:`spans.Tracer`, which times each
span and tags the Spark jobs launched under it.  In a traced run each layer
boundary is forced on its own (an extra ``noop`` write where the untraced job
would let the next layer fuse with it), which is part of the tracing overhead
the report shows.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import functions as F

from checks import parquet_rows


class _NoTrace:
    traced = False

    @contextlib.contextmanager
    def span(self, name):
        yield

    def count(self, name, value):
        pass


NO_TRACE = _NoTrace()


def force(df) -> None:
    """Materialize every column of ``df`` and discard it."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------- crawl_curate

CRAWL_SPLITS = {"train": 0.9, "valid": 0.1}
CRAWL_BLOCKLIST = ("site3.com",)


#: Seed slices the quality classifier is trained on, as SQL predicates
#: (Spark and the DuckDB replay share them): a sample of full pages as
#: positives, the junk pages as negatives.
CLASSIFIER_POS_SQL = "doc_id % 7 = 1 AND n_chars > 150"
CLASSIFIER_NEG_SQL = "n_chars < 40"


def crawl_mixture(n_docs: int) -> dict[str, int]:
    """Exact per-language take, sized below what survives curation."""
    return {"en": n_docs // 6, "fr": n_docs // 20, "de": n_docs // 20}


def crawl_curate(spark, data: str, out: str, n_docs: int, tracer=NO_TRACE) -> None:
    """``read_warc`` → status/content-type gate → land the crawl →
    ``curate_corpus`` (full recipe) → ``write_corpus`` by split.  The census
    goes to ``out``/census as parquet."""
    from architxt_spark.functions.curation import curate_corpus
    from architxt_spark.sinks.corpus import write_corpus
    from architxt_spark.sources.warc import read_warc

    with tracer.span("sources.warc"):
        recs = read_warc(spark, data)
        docs = (
            recs.filter(
                (F.col("http_status") == 200)
                & F.col("content_type").contains("html")
                & F.col("target_uri").startswith("doc:")
            )
            .select(
                F.regexp_extract("target_uri", r"^doc:(\d+)\|", 1).cast("long").alias("doc_id"),
                "text",
                F.regexp_extract("target_uri", r"\|([^|]*)\|", 1).alias("lang"),
                F.regexp_extract("target_uri", r"\|([^|]*)$", 1).alias("source"),
                F.length("text").cast("long").alias("n_chars"),
            )
            .persist()
        )
        # land the crawl: every curation stage reads this frame, and each
        # would otherwise re-run the Python WARC parse
        force(docs)
        tracer.count("sources.warc.rows_out", docs)

    with tracer.span("functions.curation"):
        pick = F.col("doc_id")
        kept, census = curate_corpus(
            docs,
            domain_col="source",
            domain_blocklist=CRAWL_BLOCKLIST,
            decontaminate_against=docs.filter(pick % 23 == 5).select("doc_id", "text"),
            ppl_drop_tail=True,
            ppl_train_docs=docs.filter(pick % 29 == 3).select("doc_id", "text"),
            quality_model_pos=docs.filter(CLASSIFIER_POS_SQL).select("doc_id", "text"),
            quality_model_neg=docs.filter(CLASSIFIER_NEG_SQL).select("doc_id", "text"),
            mixture_col="lang",
            mixture_counts=crawl_mixture(n_docs),
            pack_token_col="n_chars",
            pack_budget=4096,
            pack_buckets=8,
            split_map=CRAWL_SPLITS,
            salt="perfbench",
        )
        kept = kept.select(
            "doc_id", "text", "lang", "source", "split", "pack_bucket", "pack_seq"
        )
        if tracer.traced:
            # the survivor frame is lazy over curation's last barrier; pin
            # it so the sink span times the write, not the tail of curation
            kept = kept.persist()
            force(kept)
            tracer.count("functions.curation.rows_out", kept)

    with tracer.span("sinks.corpus"):
        write_corpus(kept, os.path.join(out, "corpus"), partition_cols=["split"])
        census.write.parquet(os.path.join(out, "census"))
    tracer.count(
        "sinks.corpus.rows_out", lambda: parquet_rows(os.path.join(out, "corpus", "data"))
    )
    # release the frames this job persisted, so the persisted-RDD count
    # taken after the job shows only what the library left behind
    docs.unpersist()
    kept.unpersist()


# ---------------------------------------------------------------- structure


def structure(spark, data: str, out: str, tracer=NO_TRACE) -> None:
    """``pipeline.simplify`` → ``plans.schema.extract_datasets`` →
    ``pipeline.export_sql``; every frame is written as parquet.  The
    inferred schema's groups and relations go to ``out``/schema.json."""
    import json

    from architxt_spark.pipeline import export_sql, simplify
    from architxt_spark.plans.schema import extract_datasets, schema_from_forest

    nodes = spark.read.parquet(data)
    if not tracer.traced:
        forest, schema = simplify(nodes)
    else:
        # pipeline.simplify's own composition, with rewrite's public
        # per-stage and per-iteration callbacks installed
        from architxt_spark.operators import rewrite, simplify_names

        with tracer.span("operators.engine"):
            forest = simplify_names(
                rewrite(nodes, on_stage=tracer.on_stage, on_iteration=tracer.on_iteration)
            ).persist()
            force(forest)
            tracer.count("operators.engine.rows_out", forest)
    with tracer.span("plans.schema"):
        if tracer.traced:
            schema = schema_from_forest(forest)
        datasets = extract_datasets(forest, schema)
        for name, df in sorted(datasets.items()):
            df.write.parquet(os.path.join(out, "datasets", name))
    with tracer.span("sinks.sql"):
        _ddl, frames, _order = export_sql(forest, schema)
        for name, df in sorted(frames.items()):
            df.write.parquet(os.path.join(out, "sql", name))
    if tracer.traced:
        forest.unpersist()
    with open(os.path.join(out, "schema.json"), "w") as f:
        json.dump(
            {
                "groups": {g: sorted(e) for g, e in schema.groups.items()},
                "relations": sorted([r.name, r.left, r.right] for r in schema.relations),
            },
            f,
        )


# ---------------------------------------------------------------- text_scan


#: Output columns of :func:`text_signals` and :func:`text_signals_sql`.
TEXT_SIGNALS = (
    "n_tokens", "distinct_ratio", "lang_guess", "fingerprint", "quality",
    "rep_bigram", "rep_trigram", "c4_clean", "c4_keep", "gopher_keep",
)


def text_signals(t):
    """Every per-document ``functions.text`` signal, by output column name:
    ``text_profile``'s seven, then ``c4_clean``/``c4_keep`` and
    ``gopher_keep``.  Ratios are rounded to 5 places as ``text_profile``
    rounds them."""
    from architxt_spark.functions import text as T

    cleaned = T.c4_clean(t)
    return {
        "n_tokens": T.token_count(t),
        "distinct_ratio": F.round(T.distinct_token_ratio(t), 5),
        "lang_guess": T.lang_id(t),
        "fingerprint": T.fingerprint(t),
        "quality": F.round(T.quality_score(t), 5),
        "rep_bigram": F.round(T.dup_ngram_fraction(t, 2), 5),
        "rep_trigram": F.round(T.dup_ngram_fraction(t, 3), 5),
        "c4_clean": cleaned,
        "c4_keep": T.c4_keep(t, cleaned),
        "gopher_keep": T.gopher_keep(t),
    }


def text_signals_sql(col: str) -> dict[str, str]:
    """The DuckDB ``_sql`` twins of :func:`text_signals`."""
    from architxt_spark.functions import text as T

    cleaned = T.c4_clean_sql(col)
    return {
        "n_tokens": f"CAST({T.token_count_sql(col)} AS INT)",
        "distinct_ratio": f"ROUND({T.distinct_token_ratio_sql(col)}, 5)",
        "lang_guess": T.lang_id_sql(col),
        "fingerprint": T.fingerprint_sql(col),
        "quality": f"ROUND({T.quality_score_sql(col)}, 5)",
        "rep_bigram": f"ROUND({T.dup_ngram_fraction_sql(col, 2)}, 5)",
        "rep_trigram": f"ROUND({T.dup_ngram_fraction_sql(col, 3)}, 5)",
        "c4_clean": cleaned,
        "c4_keep": T.c4_keep_sql(col, cleaned),
        "gopher_keep": T.gopher_keep_sql(col),
    }


def text_scan(spark, data: str, out: str, tracer=NO_TRACE) -> None:
    """One projection of every signal over the parquet corpus into ``noop``.
    A traced run also times the bare scan, and each signal alone as
    ``select(doc_id, signal)``."""
    docs = spark.read.parquet(data)
    if tracer.traced:
        with tracer.span("scan"):
            force(docs.select("doc_id", "text"))
            tracer.count("scan.rows_out", docs)
    with tracer.span("functions.text"):
        signals = text_signals(F.col("text"))
        force(docs.select("doc_id", *[c.alias(n) for n, c in signals.items()]))
        if tracer.traced:
            tracer.count("functions.text.rows_out", docs)
            for name, col in signals.items():
                with tracer.span(f"functions.text.{name}"):
                    force(docs.select("doc_id", col.alias(name)))


JOBS = {"structure": structure, "text_scan": text_scan}
