"""Similarity search over embedding columns (``array<float>``).

- :func:`cosine` — JVM-side dot/norm via ``zip_with`` + ``aggregate``
  (no Python UDF).
- :func:`brute_force_topk` — exact top-k: broadcast the (small) query set
  against the corpus, rank with a window.  The baseline.
- :func:`lsh_topk` — the scale path: random-hyperplane (sign) buckets from
  deterministic md5-derived hyperplanes; candidates share a bucket, exact
  re-scoring inside.  At 100 TB the shuffle is on bucket keys, never
  all-pairs.
- :func:`cosine_near_dup_pairs` — embedding near-duplicate detection.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from architxt_spark.session import stage_barrier

LSH_PLANES = 8

#: number of deterministic hash-salt slices in the partial top-k phase
TOPK_SALTS = 32


def _two_phase_topk(sims: DataFrame, k: int, score_col: str, *, n_salts: int = TOPK_SALTS) -> DataFrame:
    """Bounded per-query top-k over a ``(query_id, neighbor_id, score)``
    candidate frame.

    Phase 1 ranks inside ``(query_id, salt)`` slices — the salt is a
    deterministic hash of ``neighbor_id`` — so no single task ever sorts
    more than ~|candidates|/n_salts rows for one query; phase 2 ranks only
    the ≤ ``n_salts × k`` survivors per query.  Both phases use the same
    TOTAL order (score desc, neighbor_id asc — neighbor ids are unique),
    so every globally-top-k row is top-k within its slice and the result
    is IDENTICAL to a single global window.  This removes the one-task
    O(corpus) sort a plain ``Window.partitionBy(query_id)`` implies for
    brute-force/PQ, where the candidate set is the entire corpus; at
    cluster scale set ``n_salts`` to the input partition count.
    """
    order = [F.col(score_col).desc(), F.col("neighbor_id").asc()]
    salted = sims.withColumn("__salt", F.pmod(F.hash("neighbor_id"), F.lit(n_salts)))
    w1 = Window.partitionBy("query_id", "__salt").orderBy(*order)
    survivors = (
        salted.withColumn("__prank", F.row_number().over(w1))
        .filter(F.col("__prank") <= k)
        .drop("__salt", "__prank")
    )
    w2 = Window.partitionBy("query_id").orderBy(*order)
    return survivors.withColumn("rank", F.row_number().over(w2)).filter(F.col("rank") <= k)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is expected to be small — it is broadcast, so the corpus is
    scanned once with no shuffle before the per-query top-k window.
    Deterministic tie-break: (similarity desc, neighbor id asc).
    """
    # norms precomputed per side BEFORE the join: higher-order array
    # aggregates are interpreted, and the inline form re-derives the
    # corpus norm once per QUERY (same float ops in the same order, so
    # sims are bit-identical to the inline form and the SQL twin)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    ).withColumn("nq", norm(F.col("qv")))
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cv")
    ).withColumn("nc", norm(F.col("cv")))
    sims = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc"))).alias("sim"),
        )
    )
    return _two_phase_topk(sims, k, "sim").select(
        "query_id", "rank", "neighbor_id", F.round("sim", 4).alias("sim")
    )


def brute_force_topk_sql(
    table: str, *, id_col: str = "vec_id", vec_col: str = "embedding", k: int = 5, max_query_id: int = 10
) -> str:
    """DuckDB oracle for :func:`brute_force_topk` with queries =
    ``id_col < max_query_id``."""
    return f"""
        WITH sims AS (
            SELECT q.{id_col} AS query_id, c.{id_col} AS neighbor_id,
                   list_dot_product(q.{vec_col}::DOUBLE[], c.{vec_col}::DOUBLE[])
                   / (sqrt(list_dot_product(q.{vec_col}::DOUBLE[], q.{vec_col}::DOUBLE[]))
                      * sqrt(list_dot_product(c.{vec_col}::DOUBLE[], c.{vec_col}::DOUBLE[]))) AS sim
            FROM {table} q JOIN {table} c ON q.{id_col} <> c.{id_col}
            WHERE q.{id_col} < {max_query_id}
        ),
        ranked AS (
            SELECT query_id, neighbor_id, sim,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
            FROM sims
        )
        SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, ROUND(sim, 4) AS sim
        FROM ranked WHERE rank <= {k}
    """


def random_project(
    df: DataFrame,
    vec_col: str = "embedding",
    *,
    out_dim: int = 8,
    seed: str = "jl",
    scale_bits: int = 20,
    out_col: str = "proj",
) -> DataFrame:
    """Johnson–Lindenstrauss sign projection: reduce ``vec_col`` to
    ``out_dim`` components ``out[j] = Σ_i q_i · s(i, j)`` where ``s`` is
    a ±1 sign drawn from the md5 parity of ``(seed, i, j)`` — the cheap
    distance-preserving dimension cut a 100-TB ANN pipeline runs before
    its expensive exact pass (Achlioptas 2001: ±1 entries satisfy the JL
    lemma with the same distortion bound as Gaussians).

    Inputs quantize to ``2^scale_bits`` fixed point (``q_i = round(v_i ·
    2^20)`` as BIGINT), so every output component is an EXACT integer
    sum — order-independent, bit-identical across engines, partitions,
    and retries; that is what puts a random-projection operator under
    the dual-engine hash oracle.  Output: ``out_col`` as
    ``array<long>`` in fixed-point units (divide by ``2^scale_bits``
    for floats; the division is exact).  Cost is ``out_dim × in_dim``
    expression ops per row — fine for the prefilter dims this is for
    (≤ 64); a JVM/Arrow matrix path would trade the exactness contract
    for throughput.  The input spreads to session parallelism when
    under-partitioned (the expression work is interpreted — one parquet
    file must not serialize it on one core)."""
    from architxt_spark.functions.dedup import _spread

    df = _spread(df)
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * (1 << scale_bits)).cast("long"),
    )

    def sign(i: Column, j: int) -> Column:
        h = F.md5(F.concat(F.lit(f"{seed}:"), i.cast("string"), F.lit(f":{j}")))
        digit = F.conv(F.substring(h, 1, 1), 16, 10).cast("int")
        return F.when(digit % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).cast("long")

    comps = [
        F.aggregate(
            F.zip_with(q, F.sequence(F.lit(0), F.size(q) - 1), lambda x, i: x * sign(i, j)),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )
        for j in range(out_dim)
    ]
    return df.withColumn(out_col, F.array(*comps))


def random_project_sql(
    table: str,
    vec_col: str = "embedding",
    *,
    out_dim: int = 8,
    seed: str = "jl",
    scale_bits: int = 20,
    out_col: str = "proj",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of :func:`random_project` (same md5-parity signs and
    fixed-point quantization; integer sums are order-independent, so
    ``list_sum`` may reassociate freely)."""
    scale = 1 << scale_bits
    q = f"list_transform({vec_col}, x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT))"
    comps = []
    for j in range(out_dim):
        sgn = (
            f"(CASE WHEN (strpos('0123456789abcdef', "
            f"substr(md5('{seed}:' || (i - 1)::varchar || ':{j}'), 1, 1)) - 1) % 2 = 0 "
            f"THEN 1 ELSE -1 END)"
        )
        comps.append(
            f"CAST(list_sum(list_transform(range(1, len(q) + 1), "
            f"i -> q[i] * {sgn})) AS BIGINT)"
        )
    return (
        f"SELECT {id_col}, [{', '.join(comps)}] AS {out_col} "
        f"FROM (SELECT {id_col}, {q} AS q FROM {table})"
    )


def ann_recall(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = LSH_PLANES,
    methods: tuple[str, ...] = ("lsh",),
    n_cells: int = 16,
    nprobe: int = 4,
    index_path: str | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Index self-evaluation: recall@k of each approximate method
    (``"lsh"`` sign-LSH, ``"ivf"`` in-memory inverted-file,
    ``"indexed"`` the PERSISTED-index serving path of
    :func:`ivf_topk_indexed`) against the exact brute-force ground
    truth, per query — ``(method, query_id, n_hit, k, recall)``.  The
    measurement an index rollout gates on (tune planes/nprobe until
    recall clears the bar, THEN deploy the approximate path);
    evaluating the candidates in one frame is the A/B an index
    migration runs.  ``"indexed"`` evaluates the variant an operator
    actually deploys: pass ``index_path`` (a :func:`build_ivf_index`
    parquet index) and the ``centroids`` it was built with; with
    ``index_path=None`` the index is built once into a temp dir from
    ``centroids`` (trained via :func:`train_codebook` when that is
    None too), so the evaluation stays self-contained.

    Exactness: every neighbor set is a deterministic top-k frame
    (sim desc, id asc tie-break); recall is an integer intersection
    count over k — no float comparison enters the metric, so the
    evaluation itself sits under the hash oracle.  Cost: one brute pass
    over the corpus (ground truth, shared by all methods) + one pass
    per method — an EVALUATION run on a sampled query set, not a
    serving path."""
    from architxt_spark.session import stage_barrier

    exact = stage_barrier(
        brute_force_topk(
            embeddings, queries, id_col=id_col, vec_col=vec_col, k=k
        ).select("query_id", "neighbor_id")
    )
    qids = exact.select("query_id").distinct()
    out = None
    for method in methods:
        if method == "lsh":
            approx = lsh_topk(
                embeddings, queries, id_col=id_col, vec_col=vec_col,
                dim=dim, k=k, n_planes=n_planes,
            )
        elif method == "ivf":
            approx = ivf_topk(
                embeddings, queries, id_col=id_col, vec_col=vec_col,
                k=k, n_cells=n_cells, nprobe=nprobe,
            )
        elif method == "indexed":
            if centroids is None:
                centroids = train_codebook(
                    embeddings, id_col=id_col, vec_col=vec_col,
                    n_cells=n_cells, iterations=2,
                )
            if index_path is None:
                import atexit
                import shutil
                import tempfile

                root = tempfile.mkdtemp(prefix="annrecall_ivf_")
                # the returned frame reads the index lazily, so the dir
                # must outlive this call — reap at process exit instead
                atexit.register(shutil.rmtree, root, ignore_errors=True)
                index_path = root + "/index"
                build_ivf_index(
                    embeddings, centroids, index_path,
                    id_col=id_col, vec_col=vec_col,
                )
            approx = ivf_topk_indexed(
                embeddings.sparkSession, index_path, queries, centroids,
                id_col=id_col, vec_col=vec_col, k=k, nprobe=nprobe,
            )
        else:
            raise ValueError(f"unknown method {method!r}")
        hits = (
            approx.select("query_id", "neighbor_id")
            .join(exact, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count("*").cast("long").alias("n_hit"))
        )
        frame = qids.join(hits, "query_id", "left").select(
            F.lit(method).alias("method"),
            "query_id",
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.lit(k).cast("long").alias("k"),
            (F.coalesce("n_hit", F.lit(0)).cast("double") / k).alias("recall"),
        )
        out = frame if out is None else out.unionByName(frame)
    return out


def ann_recall_sql(
    table: str,
    *,
    dim: int,
    k: int = 5,
    n_planes: int = LSH_PLANES,
    max_query_id: int = 10,
    methods: tuple[str, ...] = ("lsh",),
    n_cells: int = 16,
    nprobe: int = 4,
    indexed_codebook_iterations: int = 2,
) -> str:
    """DuckDB twin of :func:`ann_recall` (composes the brute and
    per-method top-k twins; the metric is an integer intersection
    count).  The ``"indexed"`` method's twin is the trained-codebook
    :func:`ivf_topk_sql` — the persisted index changes I/O, not
    results, so recall@k is provably identical to in-memory IVF over
    the same codebook."""
    ctes = [f"ex AS ({brute_force_topk_sql(table, k=k, max_query_id=max_query_id)})"]
    selects = []
    for method in methods:
        if method == "lsh":
            ap = lsh_topk_sql(
                table, dim=dim, k=k, n_planes=n_planes, max_query_id=max_query_id
            )
        elif method == "ivf":
            ap = ivf_topk_sql(
                table, k=k, n_cells=n_cells, nprobe=nprobe, max_query_id=max_query_id
            )
        elif method == "indexed":
            ap = ivf_topk_sql(
                table, k=k, n_cells=n_cells, nprobe=nprobe,
                max_query_id=max_query_id,
                codebook_ctes=train_codebook_ctes(
                    table, n_cells=n_cells,
                    iterations=indexed_codebook_iterations,
                ),
            )
        else:
            raise ValueError(f"unknown method {method!r}")
        ctes.append(f"ap_{method} AS ({ap})")
        ctes.append(
            f"h_{method} AS (SELECT ap_{method}.query_id, "
            f"CAST(COUNT(*) AS BIGINT) AS n_hit "
            f"FROM ap_{method} JOIN ex USING (query_id, neighbor_id) "
            f"GROUP BY ap_{method}.query_id)"
        )
        selects.append(
            f"SELECT '{method}' AS method, q.query_id, "
            f"COALESCE(h_{method}.n_hit, 0) AS n_hit, CAST({k} AS BIGINT) AS k, "
            f"CAST(COALESCE(h_{method}.n_hit, 0) AS DOUBLE) / {k} AS recall "
            f"FROM (SELECT DISTINCT query_id FROM ex) q "
            f"LEFT JOIN h_{method} USING (query_id)"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def _plane(seed: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from md5 bytes (no RNG state,
    reproducible on any engine/executor)."""
    out: list[float] = []
    i = 0
    while len(out) < dim:
        h = hashlib.md5(f"plane:{seed}:{i}".encode()).digest()
        for byte in h:
            if len(out) >= dim:
                break
            out.append((byte - 127.5) / 127.5)
        i += 1
    return out


def lsh_bucket(vec: Column, dim: int, n_planes: int = LSH_PLANES) -> Column:
    """Sign-concatenation bucket id from ``n_planes`` fixed hyperplanes.
    ``vec`` (usually a cast of the stored float array) is bound once via
    ``_let`` — the per-plane dot products would otherwise re-evaluate the
    cast/allocation once per plane (interpreted HOF trees have no
    common-subexpression elimination).  Each hyperplane is one parsed
    ``array(<x>D, ...)`` literal: ``dim`` ``F.lit`` calls per plane cost
    that many py4j round trips."""
    from architxt_spark.functions.text import _let

    def mk(v: Column) -> Column:
        bits = []
        for p in range(n_planes):
            plane = F.expr("array(" + ", ".join(f"{x!r}D" for x in _plane(p, dim)) + ")")
            d = F.aggregate(
                F.zip_with(v, plane, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bits.append(F.when(d >= 0, F.lit("1")).otherwise(F.lit("0")))
        return F.concat(*bits)

    return _let(vec, mk)


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    k: int = 5,
    n_planes: int = LSH_PLANES,
) -> DataFrame:
    """Approximate top-k: exact re-scoring within shared sign-LSH buckets.
    Same output schema as :func:`brute_force_topk`; recall < 1 by design."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        lsh_bucket(F.col(vec_col).cast("array<double>"), dim, n_planes).alias("bucket"),
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        lsh_bucket(F.col(vec_col).cast("array<double>"), dim, n_planes).alias("bucket"),
    )
    sims = (
        c.withColumn("nc", norm(F.col("cv").cast("array<double>")))
        .join(
            F.broadcast(q.withColumn("nq", norm(F.col("qv").cast("array<double>")))),
            "bucket",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("qv").cast("array<double>"), F.col("cv").cast("array<double>"))
                / (F.col("nq") * F.col("nc"))
            ).alias("sim"),
        )
    )
    return _two_phase_topk(sims, k, "sim").select(
        "query_id", "rank", "neighbor_id", F.round("sim", 4).alias("sim")
    )


def lsh_topk_sql(
    table: str,
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = LSH_PLANES,
    max_query_id: int = 10,
) -> str:
    """DuckDB oracle for :func:`lsh_topk`: the hyperplanes are
    deterministic md5-derived literals, so the bucket assignment (and thus
    the candidate set) is reproducible exactly."""

    def bucket(alias: str) -> str:
        bits = []
        for p in range(n_planes):
            lits = "[" + ", ".join(repr(x) for x in _plane(p, dim)) + "]"
            bits.append(
                f"(CASE WHEN list_dot_product({alias}.{vec_col}::DOUBLE[], {lits}) >= 0"
                f" THEN '1' ELSE '0' END)"
            )
        return " || ".join(bits)

    sim = (
        f"list_dot_product(q.{vec_col}::DOUBLE[], c.{vec_col}::DOUBLE[])"
        f" / (sqrt(list_dot_product(q.{vec_col}::DOUBLE[], q.{vec_col}::DOUBLE[]))"
        f" * sqrt(list_dot_product(c.{vec_col}::DOUBLE[], c.{vec_col}::DOUBLE[])))"
    )
    return f"""
        WITH q AS (
            SELECT {id_col}, {vec_col}, {bucket(f'{table}')} AS bucket
            FROM {table} WHERE {id_col} < {max_query_id}
        ),
        c AS (
            SELECT {id_col}, {vec_col}, {bucket(f'{table}')} AS bucket
            FROM {table}
        ),
        sims AS (
            SELECT q.{id_col} AS query_id, c.{id_col} AS neighbor_id, {sim} AS sim
            FROM q JOIN c ON q.bucket = c.bucket AND q.{id_col} <> c.{id_col}
        ),
        ranked AS (
            SELECT query_id, neighbor_id, sim,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
            FROM sims
        )
        SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, ROUND(sim, 4) AS sim
        FROM ranked WHERE rank <= {k}
    """


def _assign_cells(
    df: DataFrame,
    centroids: DataFrame,
    *,
    vec_col: str,
    out_id: str,
    nprobe: int,
) -> DataFrame:
    """Rank centroids per vector by cosine (desc, cell_id asc tie-break) and
    keep the top ``nprobe`` cells.  ``centroids`` is tiny and broadcast, so
    this is a map-side pass over the corpus — no shuffle until the window,
    which partitions by the vector id (never all-pairs)."""
    sims = (
        df.withColumn("__nv", norm(F.col(vec_col).cast("array<double>")))
        .join(
            F.broadcast(
                centroids.withColumn("__ncen", norm(F.col("centroid").cast("array<double>")))
            )
        )
        .select(
            out_id,
            vec_col,
            "cell_id",
            F.round(
                dot(F.col(vec_col).cast("array<double>"), F.col("centroid").cast("array<double>"))
                / (F.col("__nv") * F.col("__ncen")),
                6,
            ).alias("csim"),
        )
    )
    w = Window.partitionBy(out_id).orderBy(F.col("csim").desc(), F.col("cell_id"))
    return (
        sims.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= nprobe)
        .drop("csim", "crank")
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer.

    The coarse codebook is deterministic — the first ``n_cells`` corpus
    vectors by id (FAISS-style sample-as-centroids training, made
    reproducible), or a trained one passed via ``centroids``
    (see :func:`train_codebook`).  Corpus vectors are assigned to their nearest centroid
    (one cell each); queries probe their ``nprobe`` nearest cells; exact
    cosine re-scoring happens only inside probed cells.

    At scale this is the partition-pruning ANN: the corpus shuffles once on
    ``cell_id`` (or is written bucketed by it), and each query touches
    ``nprobe / n_cells`` of the data instead of all of it.  Size
    ``n_cells ∝ √n`` (the FAISS rule of thumb) so per-cell lists stay flat
    as the corpus grows — with FIXED cells the per-query re-score cost is
    ``nprobe·n/n_cells`` and the curve goes linear-per-query (measured in
    the r8 scale rehearsal: 16 cells at 80k vectors re-scores 25% of the
    corpus per query; √n cells holds the probed fraction constant).
    Complements
    :func:`lsh_topk` — IVF adapts to the data distribution where sign-LSH
    is data-independent.  Reference parity: beyond-reference operator per
    SURVEY §7.5 (similarity search scale path).

    This in-memory form re-assigns the whole corpus to cells on EVERY
    call (~n^1.5 per call measured in the r8 scale rehearsal) — it is
    the baseline/reference variant.  Above ~10^5 vectors, or whenever
    the same corpus serves more than one query batch, build the index
    once with :func:`build_ivf_index` and serve through
    :func:`ivf_topk_indexed` (parquet partition pruning; identical
    results for the same codebook — BASELINE.md has the cost model).
    """
    if centroids is None:
        centroids = embeddings.filter(F.col(id_col) < n_cells).select(
            F.col(id_col).alias("cell_id"), F.col(vec_col).alias("centroid")
        )
    c = _assign_cells(
        embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        centroids,
        vec_col="cv",
        out_id="neighbor_id",
        nprobe=1,
    )
    q = _assign_cells(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        centroids,
        vec_col="qv",
        out_id="query_id",
        nprobe=nprobe,
    )
    sims = (
        c.withColumn("nc", norm(F.col("cv").cast("array<double>")))
        .join(
            F.broadcast(q.withColumn("nq", norm(F.col("qv").cast("array<double>")))),
            "cell_id",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("qv").cast("array<double>"), F.col("cv").cast("array<double>"))
                / (F.col("nq") * F.col("nc"))
            ).alias("sim"),
        )
    )
    return _two_phase_topk(sims, k, "sim").select(
        "query_id", "rank", "neighbor_id", F.round("sim", 4).alias("sim")
    )


def ivf_topk_sql(
    table: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    max_query_id: int = 10,
    codebook_ctes: tuple[str, str] | None = None,
) -> str:
    """DuckDB oracle for :func:`ivf_topk` with queries = ``id_col <
    max_query_id``.  The codebook (first ``n_cells`` ids, or the trained
    CTE chain from :func:`train_codebook_ctes` via ``codebook_ctes``) and
    every tie-break are deterministic, so the candidate set matches
    exactly."""
    sim = (
        "list_dot_product({a}.{v}::DOUBLE[], {b}.{v}::DOUBLE[])"
        " / (sqrt(list_dot_product({a}.{v}::DOUBLE[], {a}.{v}::DOUBLE[]))"
        " * sqrt(list_dot_product({b}.{v}::DOUBLE[], {b}.{v}::DOUBLE[])))"
    )
    cand_sim = sim.format(a="q", b="c", v=vec_col)
    if codebook_ctes is not None:
        chain, name = codebook_ctes
        cent_clause = f"{chain}, cent AS (SELECT cell_id, centroid AS {vec_col} FROM {name})"
        cent_sim = sim.format(a="x", b="cent", v=vec_col)
    else:
        cent_sim = sim.format(a="x", b="cent", v=vec_col)
        cent_clause = (
            f"cent AS (SELECT {id_col} AS cell_id, {vec_col} FROM {table}"
            f" WHERE {id_col} < {n_cells})"
        )
    return f"""
        WITH {cent_clause},
        assigned AS (
            SELECT x.{id_col} AS vid, x.{vec_col} AS vec, cent.cell_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY x.{id_col}
                       ORDER BY ROUND({cent_sim}, 6) DESC, cent.cell_id
                   ) AS crank
            FROM {table} x CROSS JOIN cent
        ),
        c AS (
            SELECT vid AS neighbor_id, vec AS {vec_col}, cell_id FROM assigned WHERE crank = 1
        ),
        q AS (
            SELECT vid AS query_id, vec AS {vec_col}, cell_id FROM assigned
            WHERE crank <= {nprobe} AND vid < {max_query_id}
        ),
        sims AS (
            SELECT q.query_id, c.neighbor_id, {cand_sim} AS sim
            FROM q JOIN c USING (cell_id)
            WHERE q.query_id <> c.neighbor_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, sim,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
            FROM sims
        )
        SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, ROUND(sim, 4) AS sim
        FROM ranked WHERE rank <= {k}
    """


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding near-duplicates: pairs (a < b) with cosine ≥ threshold.
    All-pairs here (correctness baseline); the LSH-bucketed variant
    (:func:`lsh_topk`'s join shape) is the scale path.

    Norms are computed ONCE per row BEFORE the pair join (higher-order
    array aggregates are interpreted, not codegen — per-pair work drops
    from three interpreted passes to the one dot product; measured
    16 s → ~6 s on a 1000-vector slice).  Same float operations in the
    same order, so pair similarities are bit-identical to the inline
    form and the SQL twin."""
    base = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("n", norm(F.col("v")))
    a = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"))
    b = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def cosine_near_dup_pairs_lsh(
    embeddings: DataFrame,
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = LSH_PLANES,
) -> DataFrame:
    """Embedding near-duplicates, SCALE path: candidates share a sign-LSH
    bucket (shuffle on bucket keys, never all-pairs), exact cosine inside.
    Recall < 1 by design — high-cosine pairs rarely straddle buckets; the
    all-pairs :func:`cosine_near_dup_pairs` is the correctness baseline."""
    b = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        lsh_bucket(F.col(vec_col).cast("array<double>"), dim, n_planes).alias("bucket"),
    )
    b = b.withColumn("n", norm(F.col("v").cast("array<double>")))
    lhs = b.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"), "bucket")
    rhs = b.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"), "bucket")
    return (
        lhs.join(rhs, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va").cast("array<double>"), F.col("vb").cast("array<double>"))
                / (F.col("na") * F.col("nb")),
                4,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def cosine_near_dup_pairs_lsh_sql(
    table: str,
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = LSH_PLANES,
) -> str:
    bits = []
    for p in range(n_planes):
        lits = "[" + ", ".join(repr(x) for x in _plane(p, dim)) + "]"
        bits.append(
            f"(CASE WHEN list_dot_product({vec_col}::DOUBLE[], {lits}) >= 0 THEN '1' ELSE '0' END)"
        )
    bucket = " || ".join(bits)
    sim = (
        f"list_dot_product(a.{vec_col}::DOUBLE[], b.{vec_col}::DOUBLE[])"
        f" / (sqrt(list_dot_product(a.{vec_col}::DOUBLE[], a.{vec_col}::DOUBLE[]))"
        f" * sqrt(list_dot_product(b.{vec_col}::DOUBLE[], b.{vec_col}::DOUBLE[])))"
    )
    return f"""
        WITH b AS (SELECT {id_col}, {vec_col}, {bucket} AS bucket FROM {table})
        SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, ROUND({sim}, 4) AS sim
        FROM b a JOIN b b ON a.bucket = b.bucket AND a.{id_col} < b.{id_col}
        WHERE ROUND({sim}, 4) >= {threshold}
    """


def cosine_near_dup_pairs_sql(
    table: str, *, id_col: str = "vec_id", vec_col: str = "embedding", threshold: float = 0.9
) -> str:
    sim = (
        f"list_dot_product(a.{vec_col}::DOUBLE[], b.{vec_col}::DOUBLE[])"
        f" / (sqrt(list_dot_product(a.{vec_col}::DOUBLE[], a.{vec_col}::DOUBLE[]))"
        f" * sqrt(list_dot_product(b.{vec_col}::DOUBLE[], b.{vec_col}::DOUBLE[])))"
    )
    return f"""
        SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, ROUND({sim}, 4) AS sim
        FROM {table} a JOIN {table} b ON a.{id_col} < b.{id_col}
        WHERE ROUND({sim}, 4) >= {threshold}
    """


# ---------------------------------------------------------------------------
# IVF codebook training (Lloyd iterations, deterministic)
# ---------------------------------------------------------------------------


def train_codebook(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    iterations: int = 2,
) -> DataFrame:
    """Deterministic Lloyd's k-means for the IVF coarse codebook:
    first-``n_cells``-by-id init, then ``iterations`` rounds of
    assign-to-nearest (cosine rounded to 6, cell-id tie-break — the same
    ranking :func:`_assign_cells` uses at query time) + per-dimension mean
    (rounded to 6 so floating summation order cannot leak into the
    result).  Empty cells keep their previous centroid.

    Scale shape: centroids stay broadcast-sized; each round is one
    map-side assignment pass plus one map-combinable (cell, dim) mean —
    O(iterations) shuffles of ``n_cells × dim`` aggregates, never an
    all-pairs.  Returns ``(cell_id, centroid array<double>)`` for
    :func:`ivf_topk`'s ``centroids`` parameter.
    """
    cents = embeddings.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cell_id"),
        F.transform(F.col(vec_col).cast("array<double>"), lambda x: F.round(x, 6)).alias(
            "centroid"
        ),
    )
    vecs = embeddings.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    )
    for _ in range(iterations):
        assigned = _assign_cells(vecs, cents, vec_col="v", out_id="vid", nprobe=1)
        means = (
            assigned.select("cell_id", F.posexplode("v").alias("pos", "val"))
            .groupBy("cell_id", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cell_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: F.round(s["m"], 6),
                ).alias("new_c")
            )
        )
        cents = (
            cents.join(means, "cell_id", "left")
            .select("cell_id", F.coalesce("new_c", "centroid").alias("centroid"))
            .transform(stage_barrier)
        )
    return cents


def train_codebook_ctes(
    table: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    iterations: int = 2,
) -> tuple[str, str]:
    """DuckDB twin of :func:`train_codebook`: returns ``(cte_sql, name)``
    where ``cte_sql`` is a comma-joined CTE chain (to splice after WITH)
    and ``name`` selects ``(cell_id, centroid)`` after the unrolled
    iterations."""
    sim = (
        "(list_dot_product(v.vec, c.centroid)"
        " / (sqrt(list_dot_product(v.vec, v.vec))"
        " * sqrt(list_dot_product(c.centroid, c.centroid))))"
    )
    parts = [
        f"vecs AS (SELECT {id_col} AS vid, {vec_col}::DOUBLE[] AS vec FROM {table})",
        f"cb0 AS (SELECT {id_col} AS cell_id,"
        f" list_transform({vec_col}::DOUBLE[], x -> round(x, 6)) AS centroid"
        f" FROM {table} WHERE {id_col} < {n_cells})",
    ]
    prev = "cb0"
    for i in range(1, iterations + 1):
        parts.append(
            f"s{i} AS (SELECT v.vid, v.vec, c.cell_id,"
            f" ROW_NUMBER() OVER (PARTITION BY v.vid"
            f" ORDER BY ROUND({sim}, 6) DESC, c.cell_id) AS rk"
            f" FROM vecs v CROSS JOIN {prev} c)"
        )
        parts.append(
            f"e{i} AS (SELECT cell_id, unnest(vec) AS val,"
            f" generate_subscripts(vec, 1) AS ord FROM s{i} WHERE rk = 1)"
        )
        parts.append(
            f"n{i} AS (SELECT cell_id, list(round(m, 6) ORDER BY ord) AS centroid FROM"
            f" (SELECT cell_id, ord, avg(val) AS m FROM e{i} GROUP BY cell_id, ord)"
            f" GROUP BY cell_id)"
        )
        parts.append(
            f"cb{i} AS (SELECT p.cell_id, coalesce(n.centroid, p.centroid) AS centroid"
            f" FROM {prev} p LEFT JOIN n{i} n USING (cell_id))"
        )
        prev = f"cb{i}"
    return ", ".join(parts), prev


# ---------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric-distance scoring
# ---------------------------------------------------------------------------


def _unit(vec: Column) -> Column:
    """Unit-normalize, each component rounded to 6 (the cosine-PQ recipe:
    normalize first, then inner product == cosine; rounding pins the
    cross-engine float boundary once, at the source)."""
    n = F.sqrt(dot(vec, vec))
    return F.transform(vec, lambda x: F.round(x / n, 6))


def _unit_sql(vec: str) -> str:
    return (
        f"list_transform({vec}, x -> round(x / sqrt(list_dot_product({vec}, {vec})), 6))"
    )


def _subspaces(df: DataFrame, id_name: str, vec: Column, m: int, d: int) -> DataFrame:
    """Explode a vector column into ``m`` subvectors of ``d`` dims:
    ``(id, sub, sv)``."""
    parts = F.array(
        *[
            F.struct(F.lit(s).alias("sub"), F.slice(vec, s * d + 1, d).alias("sv"))
            for s in range(m)
        ]
    )
    return df.select(id_name, F.explode(parts).alias("x")).select(
        id_name, F.col("x.sub").alias("sub"), F.col("x.sv").alias("sv")
    )


def _l2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, v: acc + v
    )


def pq_encode(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    ksub: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Corpus-side PQ build: ``(codebooks(sub, code, centroid), codes(nid,
    sub, code))`` — the encode-once serving artifact (a deployment
    quantizes the corpus at index time, not per query batch).  Pass both
    to :func:`pq_topk` via ``encoded=`` to skip the per-call encode;
    deterministic, so results are identical either way."""
    if dim % m:
        raise ValueError(f"dim={dim} must be divisible by m={m} subspaces")
    d = dim // m
    cb = _subspaces(
        embeddings.filter(F.col(id_col) < ksub).select(
            F.col(id_col).alias("code"), _unit(F.col(vec_col).cast("array<double>")).alias("nv")
        ),
        "code",
        F.col("nv"),
        m,
        d,
    ).select("sub", "code", F.col("sv").alias("centroid"))

    from architxt_spark.functions.dedup import _spread

    # Spread the corpus before the interpreted unit-normalize + per-
    # (subvector, code) L2 pass: unlike the top-k paths (whose heavy
    # re-scoring runs after a shuffle and whose union branches already
    # overlap), pq_encode's n×m×ksub distance pass sits entirely BEFORE
    # its first exchange, so a single parquet split serializes it on one
    # core (A/B at sf0.1: 3.37 s → 1.49 s; no-op at real scale).
    corpus = _subspaces(
        _spread(embeddings).select(
            F.col(id_col).alias("nid"), _unit(F.col(vec_col).cast("array<double>")).alias("nv")
        ),
        "nid",
        F.col("nv"),
        m,
        d,
    )
    dist = corpus.join(F.broadcast(cb), "sub").select(
        "nid",
        "sub",
        "code",
        F.round(_l2(F.col("sv"), F.col("centroid")), 6).alias("l2"),
    )
    wenc = Window.partitionBy("nid", "sub").orderBy("l2", "code")
    codes = (
        dist.withColumn("rk", F.row_number().over(wenc)).filter(F.col("rk") == 1).select("nid", "sub", "code")
    )
    return cb, codes


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    ksub: int = 16,
    k: int = 5,
    encoded: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Approximate top-k by PRODUCT QUANTIZATION with asymmetric distance
    (ADC) — the memory-side of the IVF-PQ architecture every billion-vector
    ANN deployment uses: each vector is compressed to ``m`` one-byte codes
    (nearest sub-centroid per ``dim/m``-dim subspace, L2, deterministic
    tie-break), and a query scores a vector as the sum over subspaces of
    ``dot(query_sub, sub_centroid[code])`` — the query side stays
    full-precision, the corpus side is ~``dim*4/m``× smaller.

    Sub-codebooks here are the deterministic first-``ksub``-by-id
    subvectors (the trained path is per-subspace
    :func:`train_codebook` — orthogonal, same shape as ``ann_ivf_trained``).
    Vectors are unit-normalized first so inner-product ADC approximates
    cosine ranking.

    Scale shape: codebooks (``m × ksub`` rows) and the per-query lookup
    tables (``queries × m × ksub``) are broadcast; encoding is one
    map-side pass over the corpus (done ONCE at index time when the
    ``encoded`` artifact from :func:`pq_encode` is passed — the serving
    posture); scoring shuffles ``corpus × queries × m`` pre-aggregated
    sub-scores into a (query, vector) sum — map-side combinable, never
    an all-pairs on raw vectors.  Sub-scores are summed as
    DECIMAL(18,6) so accumulation order cannot leak into the hash.
    """
    if dim % m:
        raise ValueError(f"dim={dim} must be divisible by m={m} subspaces")
    d = dim // m
    cb, codes = encoded if encoded is not None else pq_encode(
        embeddings, id_col=id_col, vec_col=vec_col, dim=dim, m=m, ksub=ksub
    )

    qsub = _subspaces(
        queries.select(
            F.col(id_col).alias("query_id"), _unit(F.col(vec_col).cast("array<double>")).alias("nv")
        ),
        "query_id",
        F.col("nv"),
        m,
        d,
    )
    lut = qsub.join(F.broadcast(cb), "sub").select(
        "query_id",
        "sub",
        "code",
        F.round(dot(F.col("sv"), F.col("centroid")), 6).cast("decimal(18,6)").alias("part"),
    )

    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("query_id") != F.col("nid"))
        .groupBy("query_id", F.col("nid").alias("neighbor_id"))
        .agg(F.sum("part").alias("dscore"))
    )
    return _two_phase_topk(scored, k, "dscore").select(
        "query_id", "rank", "neighbor_id", F.round(F.col("dscore").cast("double"), 4).alias("adc")
    )


def pq_topk_sql(
    table: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    ksub: int = 16,
    k: int = 5,
    max_query_id: int = 10,
) -> str:
    """DuckDB twin of :func:`pq_topk` with queries = ``id_col <
    max_query_id`` — same normalization rounding, same L2/IP rounding,
    same DECIMAL sub-score summation."""
    if dim % m:
        raise ValueError(f"dim={dim} must be divisible by m={m} subspaces")
    d = dim // m
    subs = ", ".join(str(s) for s in range(m))
    nv = _unit_sql(f"{vec_col}::DOUBLE[]")
    return f"""
        WITH norm AS (
            SELECT {id_col} AS vid, {nv} AS nv FROM {table}
        ), subsp AS (
            SELECT vid, s.sub, nv[s.sub * {d} + 1 : s.sub * {d} + {d}] AS sv
            FROM norm, (SELECT unnest([{subs}]) AS sub) s
        ), cb AS (
            SELECT sub, vid AS code, sv AS centroid FROM subsp WHERE vid < {ksub}
        ), enc AS (
            SELECT vid AS nid, sub, code,
                   ROW_NUMBER() OVER (PARTITION BY vid, sub ORDER BY
                       round(list_dot_product(list_transform(list_zip(sv, centroid),
                                 p -> p[1] - p[2]),
                             list_transform(list_zip(sv, centroid),
                                 p -> p[1] - p[2])), 6), code) AS rk
            FROM subsp JOIN cb USING (sub)
        ), codes AS (
            SELECT nid, sub, code FROM enc WHERE rk = 1
        ), lut AS (
            SELECT q.vid AS query_id, q.sub, c.code,
                   CAST(round(list_dot_product(q.sv, c.centroid), 6) AS DECIMAL(18,6)) AS part
            FROM subsp q JOIN cb c USING (sub) WHERE q.vid < {max_query_id}
        ), scored AS (
            SELECT l.query_id, codes.nid AS neighbor_id, sum(l.part) AS dscore
            FROM codes JOIN lut l USING (sub, code)
            WHERE l.query_id <> codes.nid
            GROUP BY 1, 2
        ), ranked AS (
            SELECT query_id, neighbor_id, dscore,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY dscore DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id,
               round(CAST(dscore AS DOUBLE), 4) AS adc
        FROM ranked WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup-style)
# ---------------------------------------------------------------------------


def semantic_dedup(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    threshold: float = 0.9,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings with the IVF
    coarse quantizer, then drop within-cell cosine near-duplicates.

    A vector is dropped iff a LOWER-id vector in the SAME cell has
    cosine ≥ ``threshold`` with it (rounded to 6 — boundary-stable across
    engines); the min-id representative of every semantic near-dup group
    survives, the same deterministic greedy rule the near-dup document
    filters use.  Returns ``(id_col, cell_id, kept)`` for every vector.

    Scale shape: this is exactly why SemDeDup clusters first — candidate
    pairs are generated ONLY within a cell (one shuffle on ``cell_id``,
    never corpus all-pairs), and cells are k-means-balanced so the
    within-cell quadratic stays bounded; the codebook (trained via
    :func:`train_codebook` or the deterministic first-``n_cells`` ids) is
    broadcast.  Composes :func:`_assign_cells` with the exact-cosine
    rescoring of :func:`cosine_near_dup_pairs`.
    """
    if centroids is None:
        centroids = embeddings.filter(F.col(id_col) < n_cells).select(
            F.col(id_col).alias("cell_id"), F.col(vec_col).alias("centroid")
        )
    assigned = _assign_cells(
        embeddings.select(
            F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
        ),
        centroids,
        vec_col="v",
        out_id="vid",
        nprobe=1,
    )
    normed = assigned.withColumn("n", norm(F.col("v")))
    a = normed.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"), "cell_id"
    )
    b = normed.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"), "cell_id"
    )
    drops = (
        a.join(b, "cell_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
            >= threshold
        )
        .select(F.col("id_b").alias("vid"))
        .distinct()
        .withColumn("__drop", F.lit(True))
    )
    return assigned.join(drops, "vid", "left").select(
        F.col("vid").alias(id_col),
        "cell_id",
        F.col("__drop").isNull().alias("kept"),
    )


def semantic_dedup_sql(
    table: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    threshold: float = 0.9,
    codebook_ctes: tuple[str, str] | None = None,
) -> str:
    """DuckDB twin of :func:`semantic_dedup` (deterministic codebook, or
    the unrolled k-means chain via ``codebook_ctes``)."""
    sim = (
        "list_dot_product({a}.{v}, {b}.{v})"
        " / (sqrt(list_dot_product({a}.{v}, {a}.{v}))"
        " * sqrt(list_dot_product({b}.{v}, {b}.{v})))"
    )
    cent_sim = sim.format(a="x", b="cent", v="vec")
    pair_sim = sim.format(a="a", b="b", v="vec")
    if codebook_ctes is not None:
        chain, name = codebook_ctes
        cent_clause = f"{chain}, cent AS (SELECT cell_id, centroid AS vec FROM {name})"
    else:
        cent_clause = (
            f"cent AS (SELECT {id_col} AS cell_id, {vec_col}::DOUBLE[] AS vec"
            f" FROM {table} WHERE {id_col} < {n_cells})"
        )
    return f"""
        WITH {cent_clause},
        vx AS (SELECT {id_col} AS vid, {vec_col}::DOUBLE[] AS vec FROM {table}),
        ranked AS (
            SELECT x.vid, x.vec, cent.cell_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY x.vid
                       ORDER BY ROUND({cent_sim}, 6) DESC, cent.cell_id
                   ) AS crank
            FROM vx x CROSS JOIN cent
        ),
        assigned AS (SELECT vid, vec, cell_id FROM ranked WHERE crank = 1),
        drops AS (
            SELECT DISTINCT b.vid FROM assigned a JOIN assigned b USING (cell_id)
            WHERE a.vid < b.vid AND ROUND({pair_sim}, 6) >= {threshold}
        )
        SELECT a.vid AS {id_col}, a.cell_id, (d.vid IS NULL) AS kept
        FROM assigned a LEFT JOIN drops d ON a.vid = d.vid
    """


# ---------------------------------------------------------------------------
# Persisted IVF index: cell-partitioned parquet + partition-pruned probing
# ---------------------------------------------------------------------------


def build_ivf_index(
    embeddings: DataFrame,
    centroids: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF inverted file as parquet PARTITIONED BY
    ``cell_id`` — the at-rest layout PLANS.md's IVF note promises: each
    corpus vector lands in its nearest-centroid directory, so query-time
    probing is parquet partition PRUNING (probed cells are read, the rest
    never touch I/O).  One map-side assignment pass + one write; rewrite
    the index when the codebook retrains."""
    assigned = _assign_cells(
        embeddings.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
        ),
        centroids,
        vec_col="v",
        out_id="vec_id",
        nprobe=1,
    )
    assigned.write.mode("overwrite").partitionBy("cell_id").parquet(path)


def ivf_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """IVF top-k against a :func:`build_ivf_index` parquet index: queries
    rank the broadcast centroids, the probed cell ids (≤ |queries| ×
    nprobe — a bounded aggregate-first collect) become a partition-column
    ``isin`` filter, and parquet partition pruning skips every unprobed
    cell's files entirely.  Re-scoring and the two-phase top-k are
    identical to :func:`ivf_topk`, so results match the in-memory path
    exactly for the same codebook."""
    q = _assign_cells(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
        ),
        centroids,
        vec_col="qv",
        out_id="query_id",
        nprobe=nprobe,
    )
    probed = [r["cell_id"] for r in q.select("cell_id").distinct().collect()]
    corpus = (
        spark.read.parquet(index_path)
        .filter(F.col("cell_id").isin(probed))
        .select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), "cell_id")
    )
    sims = (
        corpus.withColumn("nc", norm(F.col("cv")))
        .join(F.broadcast(q.withColumn("nq", norm(F.col("qv")))), "cell_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc"))).alias("sim"),
        )
    )
    return _two_phase_topk(sims, k, "sim").select(
        "query_id", "rank", "neighbor_id", F.round("sim", 4).alias("sim")
    )
