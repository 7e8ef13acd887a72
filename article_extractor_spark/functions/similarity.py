"""Similarity search over the embeddings table (array<float> column).

``cosine_topk`` is the exact brute-force cosine top-k, the reference
the ANN families are tested against.  Each ANN family has ONE probe
function: its candidate input is built inline from ``emb`` or, with
``path=``, read from the layout a ``write_*`` function stored once (at
100 TB the stored table).  Both inputs go through the same scoring,
cut and rerank, so they are bit-identical and share one SQL oracle:

- ``lsh_ann_topk`` ← ``write_bucket_partitioned``
- ``ivf_ann_topk`` (``nprobe``, trained ``codebook``); its stored twin
  ``ivf_ann_topk_pruned`` ← ``write_cell_partitioned`` keeps a
  join-free plan
- ``sq8_ann_topk`` ← ``write_sq8_codes``
- ``pq_ann_topk`` ← ``write_pq_codes``

BM25, the lexical family, lives in ``queries.py``.

Determinism contract: embeddings are quantized to integers
(``floor(v * 1000)``) before any arithmetic, so dot products and norms
are exact integer math and the DuckDB oracles reproduce them bit-for-bit
(float summation order never matters).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hof import let

N_PLANES = 8
QUANT = 1000


def quantized(col: Column) -> Column:
    """array<float> → array<bigint> via floor(v*1000) (exact in any
    engine; avoids cross-engine float-sum nondeterminism)."""
    return F.transform(
        col, lambda v: F.floor(v.cast("double") * QUANT).cast("long")
    )


def int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def sq_norm(col: Column) -> Column:
    """Integer squared norm of a quantized vector (one fold)."""
    return int_dot(col, col)


def sq_l2(a: Column, b: Column) -> Column:
    """Exact integer squared L2 distance — the centroid argmin metric of
    IVF assignment, the IVF cell ranking and PQ encoding."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _floor_means(assigned: DataFrame, keys: list[str], vec: str) -> list:
    """One Lloyd's update, collected driver-side: per ``keys`` group the
    per-dimension floor(mean) of the ``vec`` arrays, via
    posexplode→groupBy(keys, pos) — two shuffles of SMALL data.  The
    mean is EXACT integer floordiv of the exact bigint sum,
    ``(s - pmod(s, n)) / n`` (the double division of an exactly
    divisible pair is exact for |s| < 2^53), never a float avg, so
    training is bit-reproducible under any partitioning and replays in
    unrolled SQL CTEs."""
    return (
        assigned.select(*keys, F.posexplode(vec))
        .groupBy(*keys, "pos")
        .agg(F.sum("col").alias("s"), F.count("col").alias("n"))
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s", "n"))),
                lambda t: (
                    (t["s"] - F.pmod(t["s"], t["n"])) / t["n"]
                ).cast("long"),
            ).alias("cvec")
        )
        .collect()
    )


def cosine_sim_prenorm(a: Column, b: Column, a_n2: Column, b_n2: Column) -> Column:
    """Cosine where both squared norms were precomputed PER VECTOR
    (``sq_norm``): one interpreted fold per pair instead of three.
    Norms are a per-vector quantity — computing them inside the
    pairwise expression redoes |pairs|/|vectors| times the work.
    ``cosine_sim`` is this function with the norms computed in place,
    so the two are bit-identical."""
    dot = int_dot(a, b).cast("double")
    return F.round(
        dot / (F.sqrt(a_n2.cast("double")) * F.sqrt(b_n2.cast("double"))), 6
    )


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine over quantized vectors, rounded to 6 decimals:
    ``cosine_sim_prenorm`` with both norms computed in place.

    Both inputs are let-bound first: the dot + two norms reference each
    vector three times, and HOFs are interpreted with no CSE — an
    unbound ``quantized(col)`` argument would be re-evaluated per
    reference (and Catalyst's CollapseProject re-inlines projected
    columns, so pre-projecting doesn't protect either)."""
    return let(
        a,
        lambda av: let(
            b,
            lambda bv: cosine_sim_prenorm(av, bv, sq_norm(av), sq_norm(bv)),
        ),
    )


def cosine_topk(
    emb: DataFrame, query_id: int = 0, k: int = 10, vec_col: str = "embedding"
) -> DataFrame:
    """Exact top-k by cosine similarity to the ``query_id`` vector.

    The single-row query side is broadcast (no shuffle of the big side);
    scoring is map-side; only the global top-k ordering shuffles k rows
    per partition (Spark's TakeOrderedAndProject).
    """
    q = emb.where(F.col("vec_id") == query_id).select(
        quantized(F.col(vec_col)).alias("qvec")
    )
    scored = (
        emb.where(F.col("vec_id") != query_id)
        .join(F.broadcast(q))
        .select(
            F.col("vec_id"),
            cosine_sim(quantized(F.col(vec_col)), F.col("qvec")).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


def plane_weight(i: Column, j: Column | int) -> Column:
    """Deterministic pseudo-random hyperplane weights in [-3, 3]:
    w(i, j) = ((i*31 + j*17) % 7) - 3 (shared with SQL oracles).
    ``j`` may be a Python int or a lambda-variable Column (plane index
    inside the single-fold ``lsh_bucket``)."""
    return F.pmod(i * 31 + j * 17, F.lit(7)) - 3


def lsh_bucket(col: Column) -> Column:
    """Sign-of-projection LSH bucket id over N_PLANES hyperplanes,
    computed on the quantized vector (exact integer dot).

    Single-pass fold: one aggregate over the vector updates all
    N_PLANES running projections per element, then the finish lambda
    converts signs to the bucket bitmask.  (Round 1 computed each
    plane's projection as a separate ``int_dot``, re-evaluating the
    interpreted ``quantized`` transform 8× per row — the exact HOF
    pitfall ``functions/hof.py`` documents; hoisting made this the
    cheapest ANN stage instead of the slowest.)

    The result is wrapped in ``coalesce(expr, -1)`` to make it
    statically non-nullable: joining on a nullable computed key makes
    Catalyst infer an ``isnotnull(<key>)`` predicate that inlines the
    ENTIRE interpreted expression into a Filter below the join —
    evaluating the fold twice per row (measured: the whole ANN query
    ~2× slower).  With a non-nullable key the constraint folds away at
    plan time.  (-1 can never collide: real buckets are in [0, 255].)"""
    bits = F.array(*[F.lit(1 << j).cast("long") for j in range(N_PLANES)])
    return F.coalesce(
        _lsh_bucket_fold(col, bits), F.lit(-1).cast("int")
    )


def _lsh_bucket_fold(col: Column, bits: Column) -> Column:
    return let(
        quantized(col),
        lambda qv: F.aggregate(
            F.zip_with(
                qv,
                F.sequence(F.lit(0), F.size(qv) - 1),
                lambda v, i: F.struct(v.alias("v"), i.alias("i")),
            ),
            F.array_repeat(F.lit(0).cast("long"), N_PLANES),
            lambda acc, p: F.transform(
                acc, lambda d, j: d + p["v"] * plane_weight(p["i"], j)
            ),
            lambda acc: F.aggregate(
                F.zip_with(
                    acc,
                    bits,
                    lambda d, bit: F.when(d > 0, bit).otherwise(
                        F.lit(0).cast("long")
                    ),
                ),
                F.lit(0).cast("long"),
                lambda s, v: s + v,
            ).cast("int"),
        ),
    )


def write_bucket_partitioned(
    emb: DataFrame, path: str, vec_col: str = "embedding"
) -> None:
    """Materialize the embeddings table physically partitioned by LSH
    bucket — the stored input of ``lsh_ann_topk(path=...)``.  At
    scale this is the Iceberg table's declared partitioning
    (``PARTITIONED BY (bucket)``); vectors are bucketed once at write
    time, not per query."""
    emb.select(
        F.col("vec_id"),
        F.col(vec_col),
        lsh_bucket(F.col(vec_col)).alias("bucket"),
    ).write.mode("overwrite").partitionBy("bucket").parquet(path)


def lsh_ann_topk(
    emb: DataFrame,
    query_id: int = 0,
    k: int = 10,
    vec_col: str = "embedding",
    path: str | None = None,
) -> DataFrame:
    """ANN top-k: restrict to the query's LSH bucket, then exact cosine.

    The query's bucket and quantized vector are ONE driver-side scalar
    lookup, so the bucket restriction is a literal predicate.  The
    candidates are either the buckets computed inline from ``emb`` or,
    with ``path``, the table ``write_bucket_partitioned`` stored
    partitioned by bucket — there the literal lands in
    ``PartitionFilters`` and the scan never touches the other 255
    buckets.  The bucket id is deliberately NOT in the output: on the
    inline path projecting it would evaluate the interpreted bucket
    fold a second time per row."""
    qrows = (
        emb.where(F.col("vec_id") == query_id)
        .select(
            lsh_bucket(F.col(vec_col)).alias("b"),
            quantized(F.col(vec_col)).alias("qv"),
        )
        .collect()
    )
    if not qrows:
        raise ValueError(f"query_id {query_id} not found in embeddings")
    qrow = qrows[0]
    qvec = F.array(*[F.lit(int(v)).cast("long") for v in qrow["qv"]])
    if path is None:
        cand = emb.select(
            F.col("vec_id"),
            F.col(vec_col),
            lsh_bucket(F.col(vec_col)).alias("bucket"),
        )
    else:
        cand = emb.sparkSession.read.parquet(path)
    scored = cand.where(
        (F.col("bucket") == int(qrow["b"])) & (F.col("vec_id") != query_id)
    ).select(
        F.col("vec_id"),
        cosine_sim(quantized(F.col(vec_col)), qvec).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


NEARDUP_BUCKET_CAP = 256


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    bucket_cap: int = NEARDUP_BUCKET_CAP,
    drop_metrics=None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked.

    Vectors are bucketed by random-hyperplane LSH first so the pairwise
    cosine runs only within buckets (near-identical vectors land in the
    same bucket with high probability); pairs with cosine ≥ threshold
    survive.  The bucket join shuffles each vector once — never the
    full cross product.

    Adversarial-bucket guard (same failure mode as minhash_lsh_pairs):
    a flood of identical/near-identical vectors lands in ONE bucket and
    makes the in-bucket pairing quadratic.  A ``row_number`` over the
    bucket caps membership at ``bucket_cap`` (deterministic: smallest
    vec_ids) before any pair is formed; the ranking shuffles on the
    same bucket key the grouping needs.  Beyond the cap the vectors
    are duplicates of ones already paired — exact dedup is the right
    tool at that density; still, recall loss must be visible: pass an
    ``Observation`` as ``drop_metrics`` to read ``capped_out_members``
    / ``bucket_members`` after any action on the result (same contract
    as ``dedup.minhash_lsh_pairs``).

    Single-branch plan (collect-then-expand, the ``capped_bucket_pairs``
    shape): one scan computes quantized vector + squared norm + bucket
    ONCE per vector, one shuffle on the bucket key serves both the cap
    rank and the per-bucket collect (capped ≤ ``bucket_cap`` members),
    and (i < j) pairs expand from the collected array JVM-side.  The
    earlier self-join formulation evaluated every interpreted
    per-vector fold TWICE (two scan branches, no exchange reuse) and
    re-derived both norms per PAIR — measured ~2× slower at sf0.1.
    Norms are precomputed per vector (``sq_norm``) so the pairwise
    expression is one fold: the integer dot.
    """
    from pyspark.sql.window import Window

    ranked = (
        emb.select(
            F.col("vec_id"),
            quantized(F.col(vec_col)).alias("qv"),
            lsh_bucket(F.col(vec_col)).alias("bucket"),
        )
        .withColumn("n2", sq_norm(F.col("qv")))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("bucket").orderBy("vec_id")
            ),
        )
    )
    if drop_metrics is not None:
        from .dedup import observe_cap_drops

        ranked = observe_cap_drops(ranked, drop_metrics, bucket_cap)
    capped = ranked.where(F.col("rn") <= bucket_cap).select(
        "bucket", F.struct("vec_id", "qv", "n2").alias("m")
    )
    buckets = (
        capped.groupBy("bucket")
        .agg(F.sort_array(F.collect_list("m")).alias("ms"))
        .where(F.size("ms") > 1)
    )
    pair_array = F.flatten(
        F.transform(
            F.col("ms"),
            lambda a, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_array).alias("p"))
        .select(
            F.col("p.a.vec_id").alias("vec_a"),
            F.col("p.b.vec_id").alias("vec_b"),
            cosine_sim_prenorm(
                F.col("p.a.qv"),
                F.col("p.b.qv"),
                F.col("p.a.n2"),
                F.col("p.b.n2"),
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


N_CENTROIDS = 8


def default_codebook(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """The deterministic first-N seed codebook (cid, cvec) — the ONE
    definition shared by cell assignment and the nprobe cell ranking,
    so the probed cells can never drift from the assigned cells."""
    return emb.where(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"),
        quantized(F.col(vec_col)).alias("cvec"),
    )


def assign_cells(
    emb: DataFrame,
    vec_col: str = "embedding",
    codebook: DataFrame | None = None,
) -> DataFrame:
    """IVF cell assignment: nearest centroid by exact squared integer
    L2 over the quantized vectors (default codebook = the first
    N_CENTROIDS vectors; ties → smallest cid).  Returns
    (vec_id, qv, cell).  Shared by the inline probe (``ivf_ann_topk``)
    and the partitioned-storage writer (``write_cell_partitioned``) so
    the two can never assign differently.  Pass ``codebook``
    (cid, cvec:array<bigint>) — e.g. from ``train_ivf_codebook`` — to
    swap in trained centroids without changing the dataflow."""
    from pyspark.sql.window import Window

    if codebook is None:
        codebook = default_codebook(emb, vec_col)
    qe = emb.select(F.col("vec_id"), quantized(F.col(vec_col)).alias("qv"))
    return (
        qe.join(F.broadcast(codebook))
        .select(
            "vec_id", "qv", "cid", sq_l2(F.col("qv"), F.col("cvec")).alias("d2")
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.asc("d2"), F.asc("cid")
                )
            ),
        )
        .where(F.col("rn") == 1)
        .select("vec_id", "qv", F.col("cid").alias("cell"))
    )


def write_cell_partitioned(
    emb: DataFrame, path: str, vec_col: str = "embedding"
) -> None:
    """Materialize the embeddings table physically partitioned by IVF
    cell — the storage layout ``ivf_ann_topk_pruned`` probes.  Same
    contract as ``write_bucket_partitioned``: at scale this is the
    Iceberg table's declared partitioning, written once, probed by
    every query."""
    assigned = assign_cells(emb, vec_col).select("vec_id", "cell")
    (
        emb.join(assigned, "vec_id")
        .select(F.col("vec_id"), F.col(vec_col), F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )


def ivf_ann_topk_pruned(
    emb: DataFrame,
    query_id: int = 0,
    k: int = 10,
    nprobe: int = 1,
    vec_col: str = "embedding",
    *,
    path: str,
) -> DataFrame:
    """The 100-TB shape of ``ivf_ann_topk``: the table at ``path`` is
    STORED partitioned by cell (``write_cell_partitioned``), the probe
    computes the query's cells DRIVER-side against the tiny codebook
    (N_CENTROIDS rows — one scalar lookup per query, not a per-row
    collect), then scans ONLY those cells' partitions with exact
    cosine + top-k — no join at all in the plan.  ``PartitionFilters:
    [(cell = …)]`` in the plan is the quantity that scales —
    nprobe/N_CENTROIDS of the bytes."""
    # ONE driver collect fetches codebook + query vector together
    # (as two jobs, each would scan the source)
    rows = (
        emb.where(
            (F.col("vec_id") < N_CENTROIDS) | (F.col("vec_id") == query_id)
        )
        .select(
            F.col("vec_id").alias("cid"),
            quantized(F.col(vec_col)).alias("cvec"),
        )
        .collect()
    )
    qrows = [r for r in rows if r["cid"] == query_id]
    if not qrows:
        raise ValueError(f"query_id {query_id} not found in embeddings")
    qv = [int(v) for v in qrows[0]["cvec"]]
    # ivf_ann_topk's ranking (exact integer L2, ties → smallest cid);
    # the nprobe nearest cells become an IN partition filter
    ranked = sorted(
        (sum((a - int(b)) ** 2 for a, b in zip(qv, r["cvec"])), r["cid"])
        for r in rows
        if r["cid"] < N_CENTROIDS
    )
    probe_cells = [int(cid) for _, cid in ranked[:nprobe]]
    qvec = F.array(*[F.lit(v).cast("long") for v in qv])
    cand = emb.sparkSession.read.parquet(path).where(
        F.col("cell").isin(probe_cells) & (F.col("vec_id") != query_id)
    )
    scored = cand.select(
        F.col("vec_id"),
        F.col("cell").cast("long").alias("cell"),
        cosine_sim(quantized(F.col(vec_col)), qvec).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


def ivf_ann_topk(
    emb: DataFrame,
    query_id: int = 0,
    k: int = 10,
    nprobe: int = 1,
    vec_col: str = "embedding",
    codebook: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest centroid, then
    search only the ``nprobe`` cells nearest the query with exact
    cosine.  The codebook defaults to the deterministic first
    N_CENTROIDS vectors; pass a trained one from
    ``train_ivf_codebook``.

    Relational argmin (cross join the tiny broadcast codebook → squared
    integer L2 → row_number) keeps everything exact and oracle-able.
    ``nprobe`` is the standard recall knob: the probed cell set is a
    tiny broadcast (≤ nprobe rows, same (d2, cid) ranking as the
    assignment), and ``nprobe=N_CENTROIDS`` probes everything and is
    EXACTLY brute-force cosine top-k (pinned by test).  At scale the
    cell id is a partition column (``write_cell_partitioned`` /
    ``ivf_ann_topk_pruned``), so each probe is one pruned partition
    read."""
    if codebook is None:
        codebook = default_codebook(emb, vec_col)
    assigned = assign_cells(emb, vec_col, codebook=codebook)
    # the probed cells rank by the same (d2, cid) order as
    # assign_cells (and ivf_ann_topk_pruned), so they never drift from
    # the assigned ones; the query vector rides along on each row
    q = emb.where(F.col("vec_id") == query_id).select(
        quantized(F.col(vec_col)).alias("qvec")
    )
    qcells = (
        codebook.join(F.broadcast(q))
        .select(
            F.col("cid").alias("qcell"),
            "qvec",
            sq_l2(F.col("qvec"), F.col("cvec")).alias("d2"),
        )
        .orderBy("d2", "qcell")
        .limit(nprobe)
    )
    scored = (
        assigned.join(F.broadcast(qcells), F.col("cell") == F.col("qcell"))
        .where(F.col("vec_id") != query_id)
        .select(
            "vec_id",
            F.col("cell"),
            cosine_sim(F.col("qv"), F.col("qvec")).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


def train_ivf_codebook(
    emb: DataFrame, iters: int = 3, vec_col: str = "embedding"
) -> DataFrame:
    """Distributed Lloyd's (k-means) over the quantized vectors —
    the trained codebook the IVF docstrings promise, seeded with
    ``default_codebook`` (k = N_CENTROIDS).

    Per iteration: one broadcast-join assignment pass (the same argmin
    as ``assign_cells``) + one exact floor-mean update
    (``_floor_means``, k×dim cells, never the corpus re-keyed).
    Centroids live DRIVER-side between iterations (k×dim integers), so
    lineage stays flat — no iterative plan growth, the same discipline
    as the BFS frontier's localCheckpoint.  Cell assignment stays
    exact integer L2; empty cells keep their previous centroid.
    Returns a (cid, cvec:array<bigint>) DataFrame for
    ``assign_cells``."""
    spark = emb.sparkSession
    init = default_codebook(emb, vec_col).orderBy("cid").collect()
    cents: list[list[int]] = [[int(v) for v in r["cvec"]] for r in init]

    def codebook_df() -> DataFrame:
        return spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)],
            "cid long, cvec array<bigint>",
        )

    for _ in range(iters):
        assigned = assign_cells(emb, vec_col, codebook=codebook_df())
        for r in _floor_means(assigned, ["cell"], "qv"):
            cents[int(r["cell"])] = [int(v) for v in r["cvec"]]
    return codebook_df()


SQ8_LEVELS = 255  # 8-bit code range [0, 255]
SQ8_RERANK_FACTOR = 4  # stage-1 candidates per requested neighbor


def sq8_range(emb: DataFrame, vec_col: str = "embedding") -> tuple[int, int]:
    """Corpus-global (lo, range) of the quantized values — two scalars.
    At 100 TB these are ingest-time column statistics stored with the
    table (one min/max aggregate riding the ingest write), not
    per-query work; computing them here is one column-pruned pass."""
    row = (
        emb.select(quantized(F.col(vec_col)).alias("q"))
        .agg(
            F.min(F.array_min("q")).alias("lo"),
            F.max(F.array_max("q")).alias("hi"),
        )
        .collect()[0]
    )
    lo = int(row["lo"])
    return lo, max(int(row["hi"]) - lo, 1)


def sq8_code_table(
    emb: DataFrame, lo: int, rng: int, vec_col: str = "embedding"
) -> DataFrame:
    """The SQ8 code table ``(vec_id, codes array<smallint>, n2)`` — the
    ONE builder behind both the inline probe and ``write_sq8_codes``.

    Codes are ``c_i = floor((q_i - lo) * 255 / rng)`` over the
    corpus-global range — exact integer/floor arithmetic shared
    bit-for-bit with the DuckDB oracle ((q - lo) ≥ 0, so the double
    division's floor equals the rational floor: numerator < 2^21 keeps
    the quotient well clear of representability edges).  They are
    stored smallint (the byte win: ~4× smaller on the wire than the
    quantized bigint form); n2, the integer squared norm of the codes,
    is stored WITH them FAISS-style, so the probe's scoring fold
    computes only the dot product (``cosine_sim_prenorm``)."""
    staged = emb.select(
        F.col("vec_id"),
        F.transform(
            quantized(F.col(vec_col)),
            lambda v: F.floor(
                ((v - F.lit(lo)) * SQ8_LEVELS).cast("double") / F.lit(rng)
            ).cast("long"),
        ).alias("c"),
    )
    return staged.select(
        "vec_id",
        F.transform(F.col("c"), lambda v: v.cast("smallint")).alias("codes"),
        sq_norm(F.col("c")).alias("n2"),
    )


def write_sq8_codes(
    emb: DataFrame, path: str, vec_col: str = "embedding"
) -> tuple[int, int]:
    """Materialize the SQ8 code table — the stored input of
    ``sq8_ann_topk(path=...)``.  At 100 TB this is written once at
    ingest, while the full-precision vectors stay in the base table,
    touched only for the k×RERANK survivors.  Returns the
    corpus-global (lo, rng) the codes were built with (at scale:
    ingest-time column stats persisted with the table); the probe
    itself needs only the code table."""
    lo, rng = sq8_range(emb, vec_col)
    sq8_code_table(emb, lo, rng, vec_col).write.mode("overwrite").parquet(
        path
    )
    return lo, rng


def sq8_ann_topk(
    emb: DataFrame,
    query_id: int = 0,
    k: int = 10,
    vec_col: str = "embedding",
    path: str | None = None,
) -> DataFrame:
    """Compressed-scan ANN (FAISS-style SQ8): score 8-bit codes first,
    exact-rerank only the survivors.

    Stage 1 brute-force-scans the code table — built inline
    (``sq8_code_table``) or, with ``path``, the one ``write_sq8_codes``
    stored — with a broadcast single-row query and a
    TakeOrderedAndProject cut of ``k × SQ8_RERANK_FACTOR`` rows.
    Stage 2 point-looks-up only those survivors in the base table: the
    survivor ids (metadata scale, the IVF-codebook collect pattern)
    become a LITERAL ``In(vec_id)`` predicate, so the rerank scan is
    parquet-row-group-pruned and the quantize transform runs on exactly
    the survivor rows.  The candidate cut is deterministic
    ((code_cos desc, vec_id)), so the whole query replays exactly in
    the SQL oracle."""
    if path is None:
        codes = sq8_code_table(emb, *sq8_range(emb, vec_col), vec_col)
    else:
        codes = emb.sparkSession.read.parquet(path)
    # Codes are smallint; arithmetic must widen first — smallint×smallint
    # stays smallint in Spark and 255×255 overflows it.
    widen = lambda col: F.transform(col, lambda c: c.cast("long"))  # noqa: E731
    q = codes.where(F.col("vec_id") == query_id).select(
        F.col("codes").alias("qc"), F.col("n2").alias("qn2")
    )
    cand = (
        codes.where(F.col("vec_id") != query_id)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            cosine_sim_prenorm(
                widen(F.col("codes")),
                widen(F.col("qc")),
                F.col("n2"),
                F.col("qn2"),
            ).alias("code_cos"),
        )
        .orderBy(F.desc("code_cos"), F.asc("vec_id"))
        .limit(k * SQ8_RERANK_FACTOR)
    )
    ids = [r["vec_id"] for r in cand.select("vec_id").collect()]
    qv = (
        emb.where(F.col("vec_id") == query_id)
        .select(quantized(F.col(vec_col)).alias("qv"))
    )
    return (
        emb.where(F.col("vec_id").isin(ids))
        .select("vec_id", quantized(F.col(vec_col)).alias("q"))
        .join(F.broadcast(qv))
        .select("vec_id", cosine_sim(F.col("q"), F.col("qv")).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Product quantization (IVFPQ's compression half; Jégou, Douze &
# Schmid, TPAMI 2011) — the last rung of the ANN ladder: brute → LSH →
# IVF → SQ8 → PQ.
# ---------------------------------------------------------------------------

PQ_M = 8        # subspaces (64-dim vectors → 8 dims per subspace)
PQ_K = 16       # centroids per subspace → 4-bit codes (M·4 bits/vector)
PQ_ITERS = 2    # Lloyd's iterations per subspace (trained jointly)
PQ_RERANK_FACTOR = 16  # measured: recall@10 = 10/10 at (M=8, K=16)


def _pq_subvectors(base: DataFrame, dim: int) -> DataFrame:
    """(vec_id, qv) → (vec_id, m, sv): the M per-subspace slices, via
    ONE explode over a literal subspace index array — the corpus is
    scanned once, never once per subspace."""
    d = dim // PQ_M
    return base.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
        F.col("qv"),
    ).select(
        "vec_id",
        "m",
        F.slice(F.col("qv"), F.col("m") * d + 1, d).alias("sv"),
    )


def _pq_assign(subvecs: DataFrame, codebook: DataFrame) -> DataFrame:
    """Nearest per-subspace centroid by exact integer L2 (ties →
    smallest cid): broadcast the (M·K)-row codebook, join on m, and
    fold the argmin with a partial-aggregable min(struct) — K
    candidate rows per (vec, m) collapse map-side, no window."""
    d2 = sq_l2(F.col("sv"), F.col("cvec"))
    return (
        subvecs.join(F.broadcast(codebook), "m")
        .select("vec_id", "m", "sv", F.col("cid"), d2.alias("d2"))
        .groupBy("vec_id", "m")
        .agg(
            F.min(F.struct("d2", "cid")).alias("best"),
            F.first("sv").alias("sv"),
        )
        .select("vec_id", "m", "sv", F.col("best.cid").alias("cell"))
    )


def train_pq_codebook(
    emb: DataFrame, iters: int = PQ_ITERS, vec_col: str = "embedding"
) -> DataFrame:
    """Joint per-subspace Lloyd's: ALL M subspaces train in the same
    two shuffles per iteration (assignment keyed by (vec, m), means
    keyed by (m, cell, pos)) — never M sequential corpus passes.
    Seed: subspace m's centroids are the first PQ_K vectors' m-th
    slices.  Centroid update is ``_floor_means`` (train_ivf_codebook's
    exact integer rule), so training replays
    bit-for-bit in unrolled SQL CTEs; empty cells keep their previous
    centroid.  Centroids live driver-side between iterations
    (M·K·(dim/M) = K·dim integers — metadata), keeping the iterative
    lineage flat.  Returns (m, cid, cvec)."""
    spark = emb.sparkSession
    base = emb.select(
        F.col("vec_id"), quantized(F.col(vec_col)).alias("qv")
    )
    dim = len(base.select("qv").first()["qv"])
    d = dim // PQ_M
    seed_rows = (
        base.where(F.col("vec_id") < PQ_K).orderBy("vec_id").collect()
    )
    cents: dict[tuple[int, int], list[int]] = {}
    for r in seed_rows:
        for m in range(PQ_M):
            cents[(m, int(r["vec_id"]))] = [
                int(v) for v in r["qv"][m * d : (m + 1) * d]
            ]

    def codebook_df() -> DataFrame:
        return spark.createDataFrame(
            [(m, c, v) for (m, c), v in sorted(cents.items())],
            "m int, cid long, cvec array<bigint>",
        )

    subvecs = _pq_subvectors(base, dim)
    for _ in range(iters):
        assigned = _pq_assign(subvecs, codebook_df())
        for r in _floor_means(assigned, ["m", "cell"], "sv"):
            cents[(int(r["m"]), int(r["cell"]))] = [
                int(v) for v in r["cvec"]
            ]
    return codebook_df()


def pq_encode(
    emb: DataFrame, codebook: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, codes:array<smallint>): each vector's M per-subspace
    centroid ids in subspace order — the compressed form a 100 TB
    deployment stores instead of the float vectors (16× smaller than
    float32 at these parameters), and the ONE code builder behind both
    the inline probe and ``write_pq_codes``."""
    base = emb.select(
        F.col("vec_id"), quantized(F.col(vec_col)).alias("qv")
    )
    dim = len(base.select("qv").first()["qv"])
    assigned = _pq_assign(_pq_subvectors(base, dim), codebook)
    return assigned.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "cell"))),
            lambda t: t["cell"].cast("smallint"),
        ).alias("codes")
    )


def write_pq_codes(
    emb: DataFrame,
    path: str,
    iters: int = PQ_ITERS,
    vec_col: str = "embedding",
) -> None:
    """Materialize the PQ layout ``pq_ann_topk(path=...)`` scans: the
    M-entry smallint code arrays under ``path``/codes (at 100 TB the
    stored column — M·4 bits of code per vector vs 256 bytes of
    float32) and the trained (m, cid, cvec) codebook under
    ``path``/codebook (M·K rows — table metadata, written once at
    ingest beside the data like the SQ8 range stats)."""
    codebook = train_pq_codebook(emb, iters, vec_col)
    codebook.write.mode("overwrite").parquet(path + "/codebook")
    pq_encode(emb, codebook, vec_col).write.mode("overwrite").parquet(
        path + "/codes"
    )


def pq_ann_topk(
    emb: DataFrame,
    query_id: int = 0,
    k: int = 10,
    iters: int | None = None,
    vec_col: str = "embedding",
    path: str | None = None,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) ANN: LUT scan over the codes →
    exact rerank.  The codebook and codes are trained and encoded
    inline (``train_pq_codebook`` + ``pq_encode``, ``iters`` Lloyd's
    iterations, default PQ_ITERS) or, with ``path``, read from the
    ``write_pq_codes`` layout — no training, no join on the scan; the
    layout fixed its iteration count when written, so ``iters`` with
    ``path`` is an error.

    The query is NOT quantized to codes (that is the 'asymmetric' in
    ADC): a per-subspace lookup table LUT[m][c] = ⟨q_m, centroid_{m,c}⟩
    (M·K integers — built from the driver-side centroids and the
    query's slices, baked as ONE literal array) turns the approximate
    dot product into M array lookups per stored vector:
    score(x) ≈ Σ_m LUT[m][code_m(x)].  Stage 1 scans only the M-entry
    code arrays (map-side fold + TakeOrderedAndProject); stage 2
    broadcast-joins the k·RERANK survivor ids back to the base table
    for the exact full-precision cosine.  Every stage is exact integer
    arithmetic until the final cosine, so the whole chain replays
    bit-for-bit in the SQL oracle (queries._pq_ann_sql's unrolled
    CTEs) whichever input is used."""
    if path is None:
        codebook = train_pq_codebook(
            emb, PQ_ITERS if iters is None else iters, vec_col
        )
        codes = pq_encode(emb, codebook, vec_col)
    elif iters is not None:
        raise ValueError("iters is fixed by the write_pq_codes layout")
    else:
        spark = emb.sparkSession
        codebook = spark.read.parquet(path + "/codebook")
        codes = spark.read.parquet(path + "/codes")
    base = emb.select(
        F.col("vec_id"), quantized(F.col(vec_col)).alias("qv")
    )
    qv = [
        int(v)
        for v in base.where(F.col("vec_id") == query_id).first()["qv"]
    ]
    d = len(qv) // PQ_M
    lut = [0] * (PQ_M * PQ_K)
    for r in codebook.collect():
        m, c = int(r["m"]), int(r["cid"])
        qs = qv[m * d : (m + 1) * d]
        lut[m * PQ_K + c] = sum(a * b for a, b in zip(qs, r["cvec"]))
    lut_lit = F.array(*[F.lit(v).cast("long") for v in lut])

    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(PQ_M - 1)),
            lambda c, m: F.element_at(
                lut_lit, (m * PQ_K + c.cast("int") + 1).cast("int")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    cand = (
        codes.where(F.col("vec_id") != query_id)
        .select("vec_id", adc.alias("adc_score"))
        .orderBy(F.desc("adc_score"), F.asc("vec_id"))
        .limit(k * PQ_RERANK_FACTOR)
    )
    q = base.where(F.col("vec_id") == query_id).select(
        F.col("qv").alias("qq")
    )
    return (
        cand.join(base, "vec_id")
        .join(F.broadcast(q))
        .select(
            "vec_id",
            "adc_score",
            cosine_sim(F.col("qv"), F.col("qq")).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )
