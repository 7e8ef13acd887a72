"""Deduplication operators for the documents table.

Exact dedup, MinHash+LSH near-dup candidate pairs, SimHash, and
line dedup — all expressed as built-in Column expressions (JVM-side,
whole-stage codegen; per-doc shingling/hashing happens inside array
lambdas, so no Python ever touches rows and no shuffle happens before
the band-bucket join).

Determinism contract: every hash bottoms out in ``md5`` (identical
across Spark and DuckDB), so each operator has an exact SQL oracle in
``article_extractor_spark.queries``.

Scale notes (100 TB corpus):
- exact dedup is one hash-aggregate on a 16-byte key — AQE handles skew.
- minhash: signatures are computed map-side; the only shuffle is the
  groupBy/self-join on (band, band_hash), whose fan-in LSH keeps small.
- pair emission dedupes with doc_a < doc_b so each pair shuffles once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hof import let as _hof_let
from .text import md5_int, ws_tokens

# MinHash configuration: 12 hash functions → 4 bands × 3 rows.
MINHASH_H = 12
LSH_BANDS = 4
LSH_ROWS = 3
_MERSENNE31 = 2147483647  # 2^31 - 1


def normalized_text(col: Column) -> Column:
    """Dedup normalization: lowercase + collapsed whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), "\\s+", " ")


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash.

    Returns (content_key, canonical_id, n_docs); canonical = min doc_id.
    One hash-aggregate; partial aggregation map-side, tiny shuffle.
    """
    keyed = docs.select(
        F.md5(normalized_text(F.col(text_col))).alias("content_key"),
        F.col("doc_id"),
    )
    return keyed.groupBy("content_key").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# Let-binding for Column expressions (see functions/hof.py for why this
# matters inside interpreted higher-order functions).
_let = _hof_let


def word_shingles(col: Column, k: int = 3) -> Column:
    """Distinct k-word shingles; documents shorter than k words get the
    whole normalized text as their single shingle."""
    return _let(
        ws_tokens(normalized_text(col)),
        lambda toks: F.when(
            F.size(toks) < k, F.array(normalized_text(col))
        ).otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - k),
                    lambda i: F.concat_ws(
                        " ",
                        *[F.element_at(toks, i + j + 1) for j in range(k)],
                    ),
                )
            )
        ),
    )


def _hash_params(j: int) -> tuple[int, int]:
    """Deterministic per-function coefficients (shared with oracles)."""
    return 1000003 + 7919 * j, 17 + 999983 * j


def minhash_signature(col: Column, h: int = MINHASH_H) -> Column:
    """Array of ``h`` min-hashes over the document's word shingles —
    the Column-expression reference that tests pin the pipeline's
    Arrow kernel (``minhash_signature_pudf``) against.

    Base hash: md5 → 60-bit int → mod (2^31-1); permutations are
    (a_j * base + c_j) mod (2^31-1) — all int64-safe, no overflow.

    Implementation note: higher-order functions are CodegenFallback
    (interpreted), so the md5/shingle pipeline must be evaluated exactly
    once — a single ``aggregate`` fold updates all ``h`` running minima
    per shingle (h separate array_min projections would re-evaluate the
    md5 tree h times: measured 37× slower at sf0.1).
    """
    shingles = word_shingles(col)
    bases = F.transform(
        shingles, lambda s: F.pmod(md5_int(s), F.lit(_MERSENNE31))
    )
    params = F.array(
        *[
            F.struct(
                F.lit(_hash_params(j)[0]).cast("long").alias("a"),
                F.lit(_hash_params(j)[1]).cast("long").alias("c"),
            )
            for j in range(h)
        ]
    )
    init = F.array_repeat(F.lit(_MERSENNE31).cast("long"), h)
    # hoist the constant params array out of the per-shingle lambda —
    # interpreted eval would otherwise rebuild the 12 structs per element
    return _let(
        params,
        lambda ps: F.aggregate(
            bases,
            init,
            lambda acc, b: F.zip_with(
                acc,
                ps,
                lambda m, p: F.least(
                    m, F.pmod(p["a"] * b + p["c"], F.lit(_MERSENNE31))
                ),
            ),
        ),
    )


BUCKET_CAP = 64


_JAVA_WS = None  # compiled lazily on the executor


def _minhash_sig_kernel(texts, params, mersenne):
    """Per-batch signature computation (executor-side): EXACTLY the
    semantics of ``minhash_signature`` — Java-\\s whitespace collapse,
    space-trim, lowercase, 3-word shingles (whole text when <3 words),
    md5-hex[:15] → int mod 2^31-1, then per-function affine minima."""
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    global _JAVA_WS
    if _JAVA_WS is None:
        # Java regex \s is ASCII-only: [ \t\n\x0B\f\r]
        _JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
    A = params[:, 0][:, None]
    C = params[:, 1][:, None]
    out = []
    for t in texts:
        if t is None:
            # NULL in → NULL out, matching the Column-expression twin
            # (minhash_signature propagates NULL through the fold);
            # mapping None to the empty-string signature would give
            # null-text docs a shared non-null band hash.
            out.append(None)
            continue
        norm = _JAVA_WS.sub(" ", t.strip(" ").lower())
        trimmed = norm.strip(" ")
        toks = trimmed.split(" ") if trimmed else []
        if len(toks) < 3:
            shingles = [norm]
        else:
            shingles = list(
                dict.fromkeys(
                    " ".join(toks[i : i + 3])
                    for i in range(len(toks) - 2)
                )
            )
        bases = np.fromiter(
            (
                int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
                % mersenne
                for s in shingles
            ),
            dtype=np.int64,
            count=len(shingles),
        )
        out.append(((A * bases + C) % mersenne).min(axis=1))
    return pd.Series(out)


def minhash_signature_pudf():
    """Vectorized Arrow-batched twin of ``minhash_signature``.

    Rationale (measured, not assumed): the Column-expression signature
    is an interpreted HOF fold whose per-shingle md5 runs in the
    CodegenFallback interpreter; hashlib's C md5 plus numpy affine
    minima computes the IDENTICAL values at a fraction of the CPU.
    "UDFs are the slow path" holds against codegen'd built-ins — not
    against interpreted HOF chains.  Equality with the expression path
    is pinned by tests/test_pipeline_queries.py and the shared DuckDB
    oracle.  (Caveat: lowercase/whitespace semantics are matched to
    Spark's for ASCII+Java-\\s inputs, which the oracle corpus
    guarantees; exotic Unicode case-folding could differ between
    Python and UTF8String lowercasing.)
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    params = np.array(
        [_hash_params(j) for j in range(MINHASH_H)], dtype=np.int64
    )

    def kernel(texts):
        return _minhash_sig_kernel(texts, params, _MERSENNE31)

    # real-object annotations: string hints from `from __future__ import
    # annotations` break pandas_udf type inference
    kernel.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(kernel, ArrayType(LongType()))


def observe_cap_drops(ranked: DataFrame, obs, cap: int) -> DataFrame:
    """Attach the bucket-cap drop metrics (``capped_out_members`` /
    ``bucket_members``) to a row_number-ranked bucket stream.  Shared
    by every cap site (``minhash_lsh_pairs``,
    ``simhash_hamming_pairs``, ``similarity.embedding_neardup_pairs``)
    so the metric names and cap predicate cannot drift."""
    return ranked.observe(
        obs,
        F.sum(F.when(F.col("rn") > cap, 1).otherwise(0)).alias(
            "capped_out_members"
        ),
        F.count(F.lit(1)).alias("bucket_members"),
    )


def capped_bucket_pairs(
    banded: DataFrame,
    key_cols: list[str],
    cap: int,
    drop_metrics=None,
) -> DataFrame:
    """Shared blocking machinery for the LSH-style pair generators
    (MinHash bands, SimHash bit-bands): rank each bucket's members
    deterministically (smallest ids first — ``m``'s leading field),
    cap membership BEFORE any list is collected, collect + expand
    in-bucket (i < j) pairs entirely JVM-side, and deduplicate across
    buckets.  ``banded`` must carry ``key_cols`` plus a payload struct
    column ``m`` whose first field orders the bucket.  One shuffle on
    the bucket key; the cap's rank rides the same exchange."""
    from pyspark.sql.window import Window

    ranked = banded.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy(*key_cols).orderBy("m")),
    )
    if drop_metrics is not None:
        ranked = observe_cap_drops(ranked, drop_metrics, cap)
    capped = ranked.where(F.col("rn") <= cap)
    buckets = (
        capped.groupBy(*key_cols)
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
        .select("p.a", "p.b")
        .distinct()
    )


def band_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The MinHash band index ``(doc_id, band, band_hash)`` — the
    single source of the signature → band pipeline, shared by the
    batch pair generator (``minhash_lsh_pairs``) and the incremental
    probe (``incremental_minhash_pairs``), and the row shape the
    persisted index stores (``write_band_index``).

    One scan computes signatures once (the Arrow-batched
    ``minhash_signature_pudf`` kernel); banding is a 4-way explode of
    JVM md5 folds.

    NULL text → NULL signature and concat_ws skips
    NULL elements, so NULL signatures would all share band_hash =
    md5_int('') in every band and pair with each other.  Drop NULL
    TEXT before computing signatures (pinned by
    test_null_text_produces_no_pairs) — filtering the computed sig
    column instead would push ``isnotnull(<whole signature expr>)``
    below the Project and evaluate the signature twice per row (the
    nullable-computed-column trap documented at
    similarity.lsh_bucket); NULL text is the only NULL-signature
    source, so the source-column filter is equivalent and pushes down
    to the scan."""
    from ..shipping import ensure_shipped

    ensure_shipped(docs.sparkSession)
    sig = docs.where(F.col(text_col).isNotNull()).select(
        F.col("doc_id"), minhash_signature_pudf()(F.col(text_col)).alias("sig")
    )
    band_cols = []
    for b in range(LSH_BANDS):
        parts = [
            F.element_at(F.col("sig"), b * LSH_ROWS + r + 1).cast("string")
            for r in range(LSH_ROWS)
        ]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                md5_int(F.concat_ws(",", *parts)).alias("band_hash"),
            )
        )
    return sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bb")
    ).select(
        "doc_id",
        F.col("bb.band").alias("band"),
        F.col("bb.band_hash").alias("band_hash"),
    )


def capped_band_index(
    docs: DataFrame,
    text_col: str = "text",
    bucket_cap: int = BUCKET_CAP,
) -> DataFrame:
    """Band index with write-time bucket capping (``row_number`` ≤
    ``bucket_cap`` per (band, band_hash), smallest doc_ids kept — the
    same deterministic rule as ``minhash_lsh_pairs``).  The rank
    compiles to WindowGroupLimit (map-side drop before the sort)."""
    from pyspark.sql.window import Window

    return (
        band_table(docs, text_col)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("band", "band_hash").orderBy("doc_id")
            ),
        )
        .where(F.col("rn") <= bucket_cap)
        .drop("rn")
    )


def compact_band_index(
    index: DataFrame, bucket_cap: int = BUCKET_CAP
) -> DataFrame:
    """Maintenance re-cap of a persisted band index that grew by
    per-wave appends (``run_pipeline_wave``'s state update caps each
    wave WITHIN ITSELF, so after E epochs a hot bucket holds up to
    cap·E rows and every probe's join fanout grows with corpus age).

    Keeps the ``bucket_cap`` smallest doc_ids per (band, band_hash) —
    the same deterministic rule as write-time capping — which makes
    compaction EXACT, not lossy-heuristic: any doc among the global
    cap-smallest of a union is among its own wave's cap-smallest, so
    re-capping the appended index reproduces, row for row, the index
    a from-scratch ``capped_band_index`` would build over the union
    corpus (the oracle for ``band_index_compact``, and the analog of
    ``vacuum_plan``'s rewrite decision one table over).  Rank compiles
    to WindowGroupLimit: map-side drop before the sort, one shuffle on
    the bucket key (reused as the rewrite's shard partitioning)."""
    from pyspark.sql.window import Window

    return (
        index.select("doc_id", "band", "band_hash")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("band", "band_hash").orderBy("doc_id")
            ),
        )
        .where(F.col("rn") <= bucket_cap)
        .drop("rn")
    )


def write_band_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    bucket_cap: int = BUCKET_CAP,
    n_shards: int = 64,
) -> None:
    """Persist the corpus's MinHash band index for INCREMENTAL dedup.

    At 100 TB the batch pair generator re-signs the whole corpus every
    wave; the at-scale shape is sign-once: store ``(doc_id, band,
    band_hash)`` partitioned on a hash shard of ``band_hash``, and let
    each ingest wave probe the index (3 narrow columns — the text is
    never re-read, never re-signed).

    Bucket membership is capped at WRITE time (``row_number`` ≤
    ``bucket_cap`` per (band, band_hash), smallest doc_ids kept, the
    same deterministic rule as ``minhash_lsh_pairs``), so an
    adversarial identical-doc flood is bounded ONCE, in the index —
    every future probe inherits the bound for free.  The cap rank
    compiles to WindowGroupLimit (map-side drop before the sort)."""
    capped = capped_band_index(docs, text_col, bucket_cap=bucket_cap)
    (
        capped.withColumn("shard", F.pmod(F.col("band_hash"), F.lit(n_shards)))
        .repartition("shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def incremental_minhash_pairs(
    wave: DataFrame,
    index: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Near-dup candidates of a NEW ingest wave against the stored
    corpus: band the wave (one scan of the new docs only), equi-join
    the persisted band index on (band, band_hash), emit distinct
    ``(new_doc, dup_of)``.

    Complexity is bounded by construction: the index is write-time
    capped per bucket, so each wave band row matches ≤ cap stored
    docs — a flood of identical NEW docs costs wave_rows × cap join
    rows, linear in the wave, never quadratic.  Wave-internal
    duplicates are ``minhash_lsh_pairs``'s job on the wave alone."""
    wb = band_table(wave, text_col)
    idx = index.select("doc_id", "band", "band_hash")
    return (
        wb.alias("w")
        .join(idx.alias("i"), ["band", "band_hash"])
        .where(F.col("w.doc_id") != F.col("i.doc_id"))
        .select(
            F.col("w.doc_id").alias("new_doc"),
            F.col("i.doc_id").alias("dup_of"),
        )
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    bucket_cap: int = BUCKET_CAP,
    drop_metrics=None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH.

    signature → LSH_BANDS band hashes → explode → cap bucket membership
    at ``bucket_cap`` → groupBy (band, band_hash) collecting members →
    in-bucket pair expansion → distinct (doc_a, doc_b) with
    doc_a < doc_b.

    One scan computes signatures once; one shuffle groups band buckets
    (a self-join would compute the signature pipeline twice and shuffle
    both sides).

    Adversarial-bucket guard (the 100 TB failure mode): a corpus with
    millions of identical documents puts them all in one band bucket,
    making the in-bucket expansion quadratic and the collected member
    list unbounded.  The ``row_number`` cap keeps only the first
    ``bucket_cap`` members per bucket (deterministic: smallest doc_ids)
    BEFORE any list is collected, bounding per-bucket state at
    C(cap, 2) pairs.  The cap ranking shuffles on the same
    (band, band_hash) key the groupBy needs, so Spark reuses the
    exchange — the cap costs one spillable in-partition sort, not a
    second shuffle.  Members beyond the cap are dropped; for identical
    docs exact_dedup collapses them anyway, but near-but-not-exact
    duplicates past the cap (templated pages) DO lose recall — so the
    drop must be visible, not silent: pass a
    ``pyspark.sql.Observation`` as ``drop_metrics`` and, after any
    action on the result, read ``capped_out_members`` (band-bucket
    memberships dropped by the cap) and ``bucket_members`` (total).
    The metrics ride the existing job, zero extra passes.
    """
    banded = band_table(docs, text_col).select(
        F.struct(F.col("doc_id")).alias("m"), "band", "band_hash"
    )
    pairs = capped_bucket_pairs(
        banded, ["band", "band_hash"], bucket_cap, drop_metrics
    )
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )


SIMHASH_BITS = 16


def simhash16(col: Column) -> Column:
    """16-bit SimHash over whitespace tokens (frequency-weighted) — the
    Column-expression reference for the pipeline's ``simhash16_pudf``.

    Per token: 16-bit md5-derived hash; per bit: majority vote
    (+1 if set, −1 if clear); output bit set iff vote > 0.

    Single ``aggregate`` fold (struct accumulator: per-bit ones-counts +
    token count) so the interpreted md5 pipeline runs once per token —
    not once per bit (see minhash_signature note).
    """
    toks = ws_tokens(normalized_text(col))
    hashes = F.transform(toks, lambda t: F.pmod(md5_int(t), F.lit(65536)))
    bits = F.array(
        *[F.lit(1 << i).cast("long") for i in range(SIMHASH_BITS)]
    )
    init = F.struct(
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS).alias("counts"),
        F.lit(0).cast("long").alias("n"),
    )
    return _let(
        bits,
        lambda bs: F.aggregate(
            hashes,
            init,
            lambda acc, h: F.struct(
                F.zip_with(
                    acc["counts"],
                    bs,
                    lambda c, bit: c
                    + F.when(h.bitwiseAND(bit) != 0, F.lit(1)).otherwise(
                        F.lit(0)
                    ),
                ).alias("counts"),
                (acc["n"] + 1).alias("n"),
            ),
            lambda acc: F.aggregate(
                F.zip_with(
                    acc["counts"],
                    bs,
                    lambda c, bit: F.when(c * 2 > acc["n"], bit).otherwise(
                        F.lit(0).cast("long")
                    ),
                ),
                F.lit(0).cast("long"),
                lambda t, v: t + v,
            ),
        ),
    )


def _simhash_kernel(texts):
    """Executor-side vectorized simhash16 twin: identical md5-derived
    16-bit token hashes and majority bit votes (see simhash16)."""
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    jws = re.compile(r"[ \t\n\x0b\x0c\r]+")
    bit_idx = np.arange(SIMHASH_BITS, dtype=np.int64)
    out = []
    for t in texts:
        if t is None:
            # NULL propagates (matches the simhash16 expression fold)
            out.append(None)
            continue
        norm = jws.sub(" ", t.strip(" ").lower())
        trimmed = norm.strip(" ")
        toks = trimmed.split(" ") if trimmed else []
        if not toks:
            out.append(0)
            continue
        h = np.fromiter(
            (
                int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
                % 65536
                for s in toks
            ),
            dtype=np.int64,
            count=len(toks),
        )
        counts = ((h[:, None] >> bit_idx) & 1).sum(axis=0)
        bits = (2 * counts > len(toks)).astype(np.int64)
        out.append(int((bits << bit_idx).sum()))
    return pd.Series(out)


def simhash16_pudf():
    """Vectorized Arrow-batched twin of ``simhash16`` (same rationale
    and caveats as ``minhash_signature_pudf``: C md5 + numpy bit votes
    beat the interpreted HOF fold; equality pinned by tests and the
    shared oracle)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    kernel = _simhash_kernel
    kernel.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(kernel, LongType())


def simhash_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    from ..shipping import ensure_shipped

    ensure_shipped(docs.sparkSession)
    return docs.select(
        F.col("doc_id"), simhash16_pudf()(F.col(text_col)).alias("simhash")
    )


# Disjoint bit-bands (shift, width) covering all SIMHASH_BITS: 6+5+5.
# Pigeonhole: a pair differing in <= 2 bits cannot touch all 3 bands,
# so it agrees EXACTLY on at least one — banding has perfect recall
# for Hamming <= len(bands) - 1.
SIMHASH_BAND_LAYOUT = ((0, 6), (6, 5), (11, 5))
SIMHASH_MAX_HAMMING = 2  # < len(SIMHASH_BAND_LAYOUT), pigeonhole bound


def simhash_hamming_pairs(
    docs: DataFrame,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    text_col: str = "text",
    bucket_cap: int = BUCKET_CAP,
    drop_metrics=None,
) -> DataFrame:
    """SimHash near-duplicate pairs within ``max_hamming`` bit flips —
    the pairing step that completes the SimHash dedup method (the
    per-doc ``simhash_table`` only fingerprints).

    Same scale shape as ``minhash_lsh_pairs``: band values are computed
    map-side (bit shifts of the 16-bit hash), ONE shuffle groups band
    buckets, membership is capped (deterministic smallest doc_ids)
    before any list is collected, pairs expand in-bucket JVM-side, and
    candidates are verified exactly with ``bit_count(xor) <=
    max_hamming``.  Recall is exact, not probabilistic: the pigeonhole
    band layout guarantees every true pair is a candidate (for
    ``max_hamming < len(SIMHASH_BAND_LAYOUT)``), so unlike MinHash this
    pairing has NO false-negative rate — only the bucket cap can drop
    pairs, and that is observable (pass a ``pyspark.sql.Observation``
    as ``drop_metrics``, same contract as ``minhash_lsh_pairs``).

    Returns (doc_a, doc_b, hamming) with doc_a < doc_b.

    Precision scales with SIMHASH_BITS: 16 bits (chosen for exact SQL
    oracle-ability) is coarse — documents drawn from a similar word
    distribution collide at Hamming <= 2 without being near-duplicates
    (the synthetic corpus yields ~5.5k candidate pairs from 500 docs).
    At 100 TB use 64-bit hashes with the same 3-band (22/21/21) layout;
    the dataflow, cap, and verify step are unchanged, and the bucket
    cap bounds the quadratic expansion either way.
    """
    if max_hamming >= len(SIMHASH_BAND_LAYOUT):
        raise ValueError(
            "pigeonhole banding needs max_hamming < number of bands"
        )
    sim = simhash_table(docs.where(F.col(text_col).isNotNull()), text_col)
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.shiftright(F.col("simhash"), sh)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("band_val"),
            )
            for bi, (sh, w) in enumerate(SIMHASH_BAND_LAYOUT)
        ]
    )
    banded = sim.select(
        F.struct("doc_id", "simhash").alias("m"),
        F.explode(bands).alias("bb"),
    ).select(
        "m",
        F.col("bb.band").alias("band"),
        F.col("bb.band_val").alias("band_val"),
    )
    cand = capped_bucket_pairs(
        banded, ["band", "band_val"], bucket_cap, drop_metrics
    )
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return cand.where(ham <= max_hamming).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        ham.cast("int").alias("hamming"),
    )


def benchmark_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Training-data decontamination: corpus documents sharing any
    word ``n``-gram with a benchmark/eval set (the standard 8-13-gram
    overlap check run before training on web corpora).

    Scale shape: the benchmark side is tiny relative to the corpus, so
    its distinct n-grams BROADCAST; corpus n-grams are generated
    map-side (``word_ngrams``) and the overlap join never shuffles the
    corpus — the only exchange is the final per-doc partial-agg count.
    Returns (doc_id, n_contaminated_grams) for contaminated docs only;
    the caller anti-joins this against the corpus to drop or audit
    them.

    N-grams are taken over ``normalized_text`` (lowercase + collapsed
    whitespace), like every other dedup operator here — recased or
    re-wrapped contamination must still match (pinned by a mixed-case
    unit test)."""
    from .text import word_ngrams

    bgrams = benchmark.select(
        F.explode(
            word_ngrams(normalized_text(F.col(text_col)), n)
        ).alias("gram")
    ).distinct()
    cgrams = docs.select(
        "doc_id",
        F.explode(
            word_ngrams(normalized_text(F.col(text_col)), n)
        ).alias("gram"),
    )
    return (
        cgrams.join(F.broadcast(bgrams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated_grams"))
    )


def _local_union_find(spark, rows: list, schema: str) -> DataFrame:
    """Driver-side exact union-find (path compression + min-root
    labels) for the small-graph fast path of
    ``connected_components``.  Node ids are used as-is — any orderable
    hashable key type (bigint sf tables, string job tables)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        a, b = row[0], row[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the canonical min label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    out = [(node, find(node)) for node in parent]
    return spark.createDataFrame(out, schema)


def connected_components(
    pairs: DataFrame, local_threshold: int = 2_000_000
) -> DataFrame:
    """Connected components of an undirected pair graph — the dedup
    completion primitive (one canonical per duplicate cluster).

    SIZE-GATED HYBRID, the same pattern as AQE's runtime
    broadcast-join conversion: the edge count is known for free (the
    distributed loop needs the edge frame persisted anyway), and when
    it is at most ``local_threshold`` (default 2M edges ≈ 32 MB of
    longs) the graph is solved exactly on the driver with union-find
    (path compression, min-root labels) — iteration overhead for a
    thousand-node graph is scheduler latency, not compute, and a
    ~1000-round-trip label-propagation loop on it is pure waste.
    Above the gate — the 100 TB regime, where the capped candidate
    graph is corpus-sized — the distributed min-label propagation
    below engages; pass ``local_threshold=0`` to force it (tests pin
    both paths against each other).

    Min-label propagation iterated to an EXACT fixpoint: the loop
    exits only when a round changes no label, so multi-hop chains
    (a-b, b-c, c-d) converge correctly no matter their diameter.
    Iterative-plan hygiene as in the crawl frontier: edges computed
    once and persisted, every round ``localCheckpoint``-ed so lineage
    stays flat.

    (A pointer-doubling jump stream — ``labels ⋈ labels`` on
    label == doc_id, min'd into the same aggregate — was measured and
    REMOVED: on real dedup graphs components are near-clique near-dup
    clusters whose min-label eccentricity is already tiny, so the jump
    changed the round count not at all (13 → 13 on the sf0.1 pair
    graph) while adding a join per round.  Reintroduce it only for
    adversarially chain-shaped graphs.)

    One materialization per round: each node's OLD label rides the
    same min-aggregate as the propagated labels (``min(old_label)``
    over exactly one tagged row per node == that label), so the
    convergence check is a count on the already-checkpointed frame —
    no second join, no re-execution of the round's shuffle.  (The
    earlier shape re-joined propagated vs previous labels per round:
    2 shuffling jobs/round instead of 1 + a checkpoint-local count.)

    Input: (doc_a, doc_b) pairs.  Output: (doc_id, label) for every
    node that appears in a pair, label = min doc_id of its component.
    """
    spark = pairs.sparkSession
    und = pairs.select("doc_a", "doc_b").persist()
    id_type = dict(und.dtypes)["doc_a"]
    try:
        if local_threshold and und.count() <= local_threshold:
            return _local_union_find(
                spark,
                und.collect(),
                f"doc_id {id_type}, label {id_type}",
            )
        return _distributed_cc(und)
    finally:
        und.unpersist()


def _distributed_cc(und: DataFrame) -> DataFrame:
    """The at-scale min-label propagation loop (see
    ``connected_components``)."""
    id_type = dict(und.dtypes)["doc_a"]
    edges = (
        und.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
        .unionByName(
            und.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .persist()
    )
    try:
        labels = (
            edges.select(F.col("src").alias("doc_id"))
            .distinct()
            .withColumn("label", F.col("doc_id"))
            .localCheckpoint(eager=True)
        )
        while True:
            neighbor = edges.join(labels, edges.src == labels.doc_id).select(
                F.col("dst").alias("doc_id"),
                "label",
                F.lit(None).cast(id_type).alias("old"),
            )
            own = labels.select(
                "doc_id", "label", F.col("label").alias("old")
            )
            propagated = (
                neighbor.unionByName(own)
                .groupBy("doc_id")
                .agg(
                    F.min("label").alias("label"),
                    # exactly one non-null "old" per node (its own row)
                    F.min("old").alias("old"),
                )
            ).localCheckpoint(eager=True)
            changed = propagated.where(
                F.col("label") != F.col("old")
            ).count()
            labels = propagated.select("doc_id", "label")
            if changed == 0:
                return labels
    finally:
        edges.unpersist()


# --- Line-level corpus dedup (C4/RefinedWeb-style) -------------------

LINE_TOKENS = 3  # tokens per "line" (segment) in the synthetic corpus


def doc_lines(docs: DataFrame, text_col: str = "text", k: int = LINE_TOKENS) -> DataFrame:
    """Segment each document into fixed-``k``-token lines.

    Real web corpora dedup on newline-delimited lines (C4 drops
    repeated 3-sentence spans; RefinedWeb drops duplicated lines); the
    synthetic corpus has no newlines, so the segmentation rule is a
    parameter: consecutive ``k``-token windows.  Swap ``doc_lines`` for
    a ``split(text, '\\n')`` and every downstream operator is the
    production pipeline.  All segmentation is JVM array algebra
    (split → sequence → transform/slice): no Python, no shuffle.

    Returns (doc_id, pos, line) — one row per segment, ``pos`` is the
    0-based segment index inside its document.

    The token array is let-bound (the ``queries.doc_windows`` lesson:
    HOFs are interpreted with no CSE, so an unbound ``ws_tokens``
    re-splits the whole text once per segment — measured 83 s → 11 s for the bare
    explode at 500k docs).
    """
    # the empty guard matters twice: a tokenless document must emit NO
    # lines (the SQL oracle's range() is empty there — and without the
    # guard Spark's sequence(0, -1) DESCENDS, fabricating a phantom ''
    # line whose md5 then deduplicates across every empty doc; caught
    # by test_line_dedup_matches_brute_force, masked until then by a
    # corpus with no blank texts)
    lines = _let(
        ws_tokens(F.col(text_col)),
        lambda toks: F.when(
            F.size(toks) < 1, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size(toks) / F.lit(float(k))).cast("int") - 1,
                ),
                lambda i: F.array_join(F.slice(toks, i * k + 1, k), " "),
            )
        ),
    )
    return docs.select("doc_id", F.posexplode(lines).alias("pos", "line"))


def line_dedup(docs: DataFrame, text_col: str = "text", k: int = LINE_TOKENS) -> DataFrame:
    """Corpus-wide line dedup, keep-first-occurrence semantics: a line
    survives only in the document where it first appears (global order
    = (doc_id, pos)).  Documents are reassembled from their surviving
    lines.  Reference scope: the reference extracts per-document only
    (src/article_extractor/extraction.py); corpus-level line dedup is
    part of the training-data layer this engine adds on top.

    Returns (doc_id, n_lines, n_kept, dedup_text).

    Scale shape (100 TB): first-occurrence is computed as a
    ``min(struct(doc_id, pos, line))`` hash-aggregate per line key —
    partial aggregation runs map-side, so a boilerplate line repeated
    10^9 times collapses to one row per map task before the shuffle.
    The surviving lines ARE those aggregate rows (keep-first means one
    survivor per distinct key), so no join back to the exploded lines
    is needed: reassembly is a second hash-aggregate over the ≤
    |distinct lines| survivors, and per-document line totals come
    straight off the document scan (``ceil(|tokens|/k)``, zero
    explode).  The earlier shape — join the 10M exploded rows back to
    the firsts on line_key and flag each row — moved every line body
    through a second exchange plus an equi-join; measured at 500k docs
    it was 2.0× slower than this aggregate-only plan (202 s → 101 s at
    500k docs, full-output-forced timing, identical output hash).
    A window
    ``row_number() OVER (PARTITION BY line_key)`` would also work but
    concentrates a hot boilerplate key in a single unsplittable sort
    partition.  The final doc_id equi-join attaches per-doc totals
    (one row per document on both sides — never wider than the corpus
    id column, and AQE-coalesced).
    """
    firsts = (
        doc_lines(docs, text_col, k)
        .groupBy(F.md5("line").alias("line_key"))
        .agg(F.min(F.struct("doc_id", "pos", "line")).alias("first"))
    )
    kept = firsts.groupBy(F.col("first.doc_id").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("first.pos", "first.line"))
                ),
                lambda s: s.line,
            ),
            " ",
        ).alias("dedup_text"),
    )
    toks = ws_tokens(F.col(text_col))
    totals = docs.select(
        "doc_id",
        F.ceil(F.size(toks) / F.lit(float(k))).cast("long").alias("n_lines"),
    ).where(F.col("n_lines") >= 1)
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        F.coalesce(F.col("dedup_text"), F.lit("")).alias("dedup_text"),
    )
