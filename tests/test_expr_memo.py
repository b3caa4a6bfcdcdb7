"""Expression construction and the session artifact store.

Column composites are rebuilt on every call; the only driver-side cache
is :func:`architxt_spark.session.artifact`, keyed by applicationId.  These
tests pin its invalidation rule, and check that the composites whose
construction was rewritten for py4j cost (the minhash min-aggregates, the
LSH hyperplane literals) still evaluate to the values of an independent
form.
"""

import random
from types import SimpleNamespace

from pyspark.sql import functions as F

from architxt_spark.functions import ann, dedup
from architxt_spark.functions import text as T
from architxt_spark.session import artifact, clear_artifacts


def test_memoized_tree_evaluates_correctly_and_repeatedly(spark):
    df = spark.createDataFrame(
        [("the cat and the dog is here",), ("zzz",), ("",)], ["text"]
    )
    # the same composite used in two consecutive queries AND twice in one
    # projection — values must match the semantics every time
    rows = df.select(
        T.lang_id(F.col("text")).alias("l1"),
        T.lang_id(F.col("text")).alias("l2"),
        T.token_count(F.col("text")).alias("n"),
    ).collect()
    assert [(r["l1"], r["l2"]) for r in rows] == [
        ("en", "en"), ("und", "und"), ("und", "und")
    ]
    again = df.select(T.lang_id(F.col("text")).alias("l")).collect()
    assert [r["l"] for r in again] == ["en", "und", "und"]


def test_resolved_columns_bind_to_their_own_frame(spark):
    # a composite over df1["text"] and one over df2["text"] print alike
    # but must each bind to their own frame's attribute
    df1 = spark.createDataFrame([("the cat and the dog is here now ok",)], ["text"])
    df2 = spark.createDataFrame([("el la de que y en un una los es si",)], ["text"])
    assert df1.select(T.lang_id(df1["text"]).alias("l")).first()["l"] == "en"
    assert df2.select(T.lang_id(df2["text"]).alias("l")).first()["l"] == "es"
    assert df1.select(T.gopher_keep(df1["text"]).alias("k")).first()["k"] is not None
    assert df2.select(T.gopher_keep(df2["text"]).alias("k")).first()["k"] is not None


def test_artifact_invalidation(spark):
    builds = []

    def build():
        builds.append(1)
        return object()

    # same key, same application: built once, the same object returned
    a = artifact(spark, ("probe", 1), build)
    assert artifact(spark, ("probe", 1), build) is a and len(builds) == 1
    # a clear drops the entry; the next lookup rebuilds
    clear_artifacts("probe")
    b = artifact(spark, ("probe", 1), build)
    assert b is not a and len(builds) == 2
    # the first lookup under another applicationId drops every older
    # entry, so returning to this application rebuilds too
    other = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="other-app"))
    artifact(other, ("probe", 1), build)
    assert len(builds) == 3
    assert artifact(spark, ("probe", 1), build) is not b and len(builds) == 4
    clear_artifacts("probe")


def test_emission_array_cached_per_key(spark):
    from architxt_spark.sources.graph import _emission_array

    a = _emission_array(spark, "g1", ("name",), ("w",))
    b = _emission_array(spark, "g1", ("name",), ("w",))
    c = _emission_array(spark, "g2", ("name",), ("w",))
    assert a is b
    assert a is not c  # namespace participates in the OIDs -> distinct tree


def test_minhash_min_aggs_match_expression_form(spark):
    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    docs = [(i, " ".join(rng.choice(words) for _ in range(rng.randint(3, 20))))
            for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    frame = {r["id"]: list(r["sig"])
             for r in dedup._signature_frame(df, "text", "doc_id").collect()}
    expr = {r["doc_id"]: list(r["sig"])
            for r in df.select("doc_id", dedup.minhash_signature(F.col("text")).alias("sig"))
            .collect()}
    assert frame == expr and len(frame) == len(docs)


def test_lsh_bucket_matches_python_signs(spark):
    dim, n_planes = 16, 8
    rng = random.Random(11)
    vecs = [(i, [rng.uniform(-1.0, 1.0) for _ in range(dim)]) for i in range(200)]
    df = spark.createDataFrame(vecs, "id long, v array<double>")
    got = {r["id"]: r["b"]
           for r in df.select("id", ann.lsh_bucket(F.col("v"), dim, n_planes).alias("b"))
           .collect()}

    def bucket(v):
        bits = []
        for p in range(n_planes):
            acc = 0.0
            for a, b in zip(v, ann._plane(p, dim)):
                acc = acc + a * b
            bits.append("1" if acc >= 0 else "0")
        return "".join(bits)

    assert got == {i: bucket(v) for i, v in vecs}
