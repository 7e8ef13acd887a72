"""Tests for the training-data pipeline operators and the query
registry: every registered query runs, matches its DuckDB oracle at
sf0.001 (the same comparison the driver performs at sf0.01), and the
physical plans have the scale-critical properties (broadcast joins,
pruned scans)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from article_extractor_spark.queries import ORACLE_SQL, QUERY_FNS

SF_DIR = "/root/testdata/sf0.001"
TABLES = ("events", "documents", "embeddings")


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(repr)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def test_registry_consistency():
    # every oracle refers to a registered query
    assert set(ORACLE_SQL) <= set(QUERY_FNS)
    # the flagship rows-only query is registered
    assert "extract_spans_full" in QUERY_FNS


@pytest.mark.parametrize("name", sorted(ORACLE_SQL))
def test_query_matches_oracle(spark, oracle_con, name):
    got = _normalize(QUERY_FNS[name](spark, SF_DIR).toPandas())
    want = _normalize(oracle_con.execute(ORACLE_SQL[name]).fetchdf())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(got, want)


def test_extract_spans_full_shape(spark):
    from article_extractor_spark.queries import extract_spans_raw

    df = extract_spans_raw(spark, SF_DIR)
    rows = df.limit(5).collect()
    assert rows
    for r in rows:
        assert r.success
        kinds = [s.kind for s in r.spans]
        assert "media" in kinds and "text" in kinds
        # interleaving preserved: offsets strictly increasing
        offsets = [s.offset for s in r.spans]
        assert offsets == sorted(offsets)


def test_extract_spans_full_is_driver_canonicalizable(spark):
    """The registered flagship query must survive the driver's
    canonicalization (sort_values + hash over object columns): every
    cell scalar, nested spans serialized to JSON (round-1 red row)."""
    import json

    pdf = QUERY_FNS["extract_spans_full"](spark, SF_DIR).limit(20).toPandas()
    assert not pdf.empty
    # this is exactly what died in round 1 on list-valued cells
    pdf_sorted = pdf[sorted(pdf.columns)].sort_values(
        list(sorted(pdf.columns))
    )
    assert len(pdf_sorted) == len(pdf)
    spans = json.loads(pdf.iloc[0]["spans_json"])
    assert pdf.iloc[0]["n_spans"] == len(spans)
    assert {"kind", "text", "offset"} <= set(spans[0].keys())


def test_broadcast_join_in_blocklist_filter_plan(spark):
    plan = QUERY_FNS["blocklist_filter"](
        spark, SF_DIR
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_extraction_scan_prunes_columns(spark):
    """Only (doc_id, text) may reach the parquet scan feeding the
    extraction stage — giant unused columns must be pruned."""
    plan = (
        QUERY_FNS["extract_spans_full"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "lang" not in plan.split("ReadSchema")[1][:200]


def test_media_features_deterministic(spark):
    a = QUERY_FNS["media_features"](spark, SF_DIR).toPandas()
    b = QUERY_FNS["media_features"](spark, SF_DIR).toPandas()
    pd.testing.assert_frame_equal(
        a.sort_values("doc_id").reset_index(drop=True),
        b.sort_values("doc_id").reset_index(drop=True),
    )


def test_giant_split_branch_matches_default(spark):
    """extract_articles(giant_threshold=...) must produce identical
    results to the single-branch path — only the physical routing of
    giant documents differs."""
    from article_extractor_spark.operators.extraction import (
        extract_articles,
        render_spans_to_html,
    )
    from article_extractor_spark.sources import tableio
    from article_extractor_spark.sources.synth import corpus_dataframe

    corpus = corpus_dataframe(spark, 80, seed=3, partitions=4)
    corpus = render_spans_to_html(corpus)
    base = extract_articles(corpus, min_word_count=10).toPandas()
    split = extract_articles(
        corpus, min_word_count=10, giant_threshold=50_000
    ).toPandas()
    assert len(base) == len(split) == 80
    base = base.sort_values("doc_id").reset_index(drop=True)
    split = split.sort_values("doc_id").reset_index(drop=True)
    assert (base["word_count"] == split["word_count"]).all()
    assert (base["spans_emitted"] == split["spans_emitted"]).all()


def test_corpus_purity_assumption(spark):
    """The extraction oracles predict engine outputs analytically under
    the assumption that document text carries no HTML-special chars
    (see documents_as_interleaved_corpus docstring) — pin it so a
    corpus change breaks loudly here instead of silently in oracles."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    dirty = docs.where(
        F.col("text").contains("<")
        | F.col("text").contains(">")
        | F.col("text").contains("&")
        # JSON-escape must be the identity for the flagship spans_json
        # oracle: no double quotes, backslashes, or control chars.
        | F.col("text").contains('"')
        | F.col("text").contains("\\")
        # normalize_text must be the identity: no whitespace runs, no
        # leading/trailing whitespace, no space-before-punctuation.
        | F.col("text").rlike("\\s\\s|^\\s|\\s$|\\s[,.;:!?]")
        # byte == char (ASCII): the frame_samples oracle slices TEXT
        # where the engine slices UTF-8 BYTES.
        | F.col("text").rlike("[^\\x00-\\x7F]")
    )
    assert dirty.count() == 0


def test_trained_ivf_codebook(spark):
    """k-means codebook training: (a) within-cell SSE is
    non-increasing over Lloyd's iterations, (b) the trained probe
    returns exactly the brute-force cosine ranking restricted to the
    query's cell (IVF semantics, independent of codebook quality)."""
    from pyspark.sql import functions as F

    from article_extractor_spark.functions import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    def sse(codebook):
        assigned = S.assign_cells(emb, codebook=codebook)
        joined = assigned.join(F.broadcast(codebook), F.col("cell") == F.col("cid"))
        d2 = F.aggregate(
            F.zip_with(
                F.col("qv"), F.col("cvec"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        return joined.select(F.sum(d2).alias("s")).collect()[0]["s"]

    sses = [
        sse(S.train_ivf_codebook(emb, iters=i)) for i in range(3)
    ]
    # floor re-quantization of the centroid means voids Lloyd's exact
    # monotonic-descent guarantee, so allow per-step wobble within the
    # quantization error, but require strict overall improvement over
    # the first-N seed
    assert sses[1] <= sses[0] * 1.005 and sses[2] <= sses[1] * 1.005, sses
    assert sses[2] < sses[0], sses

    # probe = brute-force cosine restricted to the query's cell
    codebook = S.train_ivf_codebook(emb, iters=2)
    assigned = S.assign_cells(emb, codebook=codebook)
    qcell = assigned.where(F.col("vec_id") == 0).collect()[0]["cell"]
    cell_members = {
        r["vec_id"]
        for r in assigned.where(
            (F.col("cell") == qcell) & (F.col("vec_id") != 0)
        ).collect()
    }
    got = S.ivf_ann_topk(emb, query_id=0, k=10, codebook=codebook).collect()
    assert all(r["vec_id"] in cell_members for r in got)
    brute = {
        r["vec_id"]: r["cosine"]
        for r in S.cosine_topk(emb, query_id=0, k=100000).collect()
    }
    expected = sorted(
        ((brute[v], -v) for v in cell_members if v in brute), reverse=True
    )[:10]
    assert [(-v, c) for c, v in expected] == [
        (r["vec_id"], r["cosine"]) for r in got
    ]


def test_text_metrics_differential_battery(spark):
    """Differential test of ws_tokens-derived metrics against a Python
    reference that replicates Spark's EXACT semantics (trim strips
    ASCII space only; split uses Java \\s = [ \\t\\n\\x0b\\f\\r]) over
    a seeded adversarial battery — whitespace varieties, unicode,
    repeated words, empties."""
    import random
    import re

    from pyspark.sql import functions as F

    from article_extractor_spark.functions import text as X

    rng = random.Random(7)
    words = ["a", "bb", "ccc", "Ж", "日本", "x-y", "1", ""]
    ws = [" ", "\t", "\n", "\x0b", "\f", "\r", "  "]
    battery = ["", " ", "\t", " ", "one"]
    for _ in range(150):
        n = rng.randint(1, 12)
        parts = []
        for _ in range(n):
            parts.append(rng.choice(words))
            parts.append(rng.choice(ws))
        battery.append("".join(parts))

    def py_tokens(s: str) -> list[str]:
        t = s.strip(" ")
        if t == "":
            return []
        return re.split("[ \t\n\x0b\f\r]+", t)

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(battery)], "id int, text string"
    )
    got = {
        r.id: r
        for r in df.select(
            "id",
            X.ws_tokens(F.col("text")).alias("toks"),
            X.type_token_ratio(F.col("text")).alias("ttr"),
            X.top_word_fraction(F.col("text")).alias("twf"),
            X.word_ngrams(F.col("text"), 2).alias("bigrams"),
        ).collect()
    }
    for i, t in enumerate(battery):
        toks = py_tokens(t)
        assert got[i].toks == toks, (repr(t), got[i].toks, toks)
        if not toks:
            assert (got[i].ttr, got[i].twf, got[i].bigrams) == (
                0.0,
                0.0,
                [],
            )
            continue
        assert got[i].ttr == round(len(set(toks)) / len(toks), 6), repr(t)
        from collections import Counter

        assert got[i].twf == round(
            max(Counter(toks).values()) / len(toks), 6
        ), repr(t)
        want_bigrams = (
            [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
            if len(toks) >= 2
            else []
        )
        assert got[i].bigrams == want_bigrams, repr(t)


def test_ivf_full_probe_equals_brute_force(spark):
    """nprobe=N_CENTROIDS probes every cell, so the IVF result must be
    EXACTLY the brute-force cosine top-k — the strongest end-to-end
    check the multi-cell probe admits."""
    from article_extractor_spark.functions import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    full = [
        (r["vec_id"], r["cosine"])
        for r in S.ivf_ann_topk(
            emb, query_id=0, k=10, nprobe=S.N_CENTROIDS
        ).collect()
    ]
    brute = [
        (r["vec_id"], r["cosine"])
        for r in S.cosine_topk(emb, query_id=0, k=10).collect()
    ]
    assert full == brute
    # widening the probe can only improve (or keep) the top-k scores
    p1 = [r["cosine"] for r in S.ivf_ann_topk(emb, nprobe=1).collect()]
    p2 = [r["cosine"] for r in S.ivf_ann_topk(emb, nprobe=2).collect()]
    assert all(b >= a for a, b in zip(sorted(p1, reverse=True), sorted(p2, reverse=True)))


def test_sq8_rerank_is_exact_and_recall_measured(spark):
    """SQ8 compressed-scan ANN: the rerank stage re-scores survivors
    with EXACT cosine (by construction every returned score must equal
    the brute-force score for that vec_id), and on the pinned test
    corpus the 4x-overfetch candidate stage loses nothing — measured
    recall@10 is 10/10 (deterministic corpus + deterministic cut, so
    this is a pin, not a flake)."""
    from article_extractor_spark.functions import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    brute = {
        r["vec_id"]: r["cosine"]
        for r in S.cosine_topk(emb, query_id=0, k=100000).collect()
    }
    got = [
        (r["vec_id"], r["cosine"])
        for r in S.sq8_ann_topk(emb, query_id=0, k=10).collect()
    ]
    assert len(got) == 10
    for vid, cos in got:
        assert brute[vid] == cos, (vid, cos, brute[vid])
    top10 = set(
        sorted(brute, key=lambda v: (-brute[v], v))[:10]
    )
    assert {v for v, _ in got} == top10  # recall@10 = 10/10, measured


def test_sq8_stored_probe_matches_inline(spark, tmp_path):
    """The stored-codes probe (scan the smallint code table, broadcast
    the survivors back for exact rerank) returns exactly what the
    inline probe returns — and the smallint storage round-trip must not
    overflow the code arithmetic (255×255 > smallint max; the probe
    widens before the dot product)."""
    from article_extractor_spark.functions import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "sq8codes")
    lo, rng = S.write_sq8_codes(emb, path)
    assert rng >= 1
    stored = [
        (r["vec_id"], r["cosine"])
        for r in S.sq8_ann_topk(emb, query_id=0, k=10, path=path).collect()
    ]
    inline = [
        (r["vec_id"], r["cosine"])
        for r in S.sq8_ann_topk(emb, query_id=0, k=10).collect()
    ]
    assert stored == inline
    # the stored table really is the narrow column (+ FAISS-style
    # per-vector norm so the probe folds once per row, not thrice)
    codes = spark.read.parquet(path)
    assert set(codes.columns) == {"vec_id", "codes", "n2"}
    assert codes.schema["codes"].dataType.elementType.typeName() == "short"


def test_ivf_pruned_nprobe_matches_inline(spark, tmp_path):
    """The partitioned-storage probe with nprobe cells returns exactly
    what the inline relational probe returns — for the single cell,
    a wider probe, and the full (= brute force) probe."""
    from article_extractor_spark.functions import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "cells")
    S.write_cell_partitioned(emb, path)
    for np_ in (1, 2, S.N_CENTROIDS):
        pruned = [
            (r["vec_id"], r["cosine"])
            for r in S.ivf_ann_topk_pruned(
                emb, query_id=0, k=10, nprobe=np_, path=path
            ).collect()
        ]
        inline = [
            (r["vec_id"], r["cosine"])
            for r in S.ivf_ann_topk(
                emb, query_id=0, k=10, nprobe=np_
            ).collect()
        ]
        assert pruned == inline, np_


def test_ann_probes_reject_missing_query(spark, tmp_path):
    """A query_id absent from the embeddings is a ValueError naming it —
    on the inline and the stored input alike — never an empty answer
    or a bare IndexError; and the PQ stored layout fixed its Lloyd's
    iteration count at write time, so passing ``iters`` with ``path``
    is refused instead of silently ignored."""
    from article_extractor_spark.functions import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    missing = emb.agg({"vec_id": "max"}).first()[0] + 1
    buckets = str(tmp_path / "buckets")
    S.write_bucket_partitioned(emb, buckets)
    cells = str(tmp_path / "cells")
    S.write_cell_partitioned(emb, cells)
    for probe in (
        lambda: S.lsh_ann_topk(emb, query_id=missing),
        lambda: S.lsh_ann_topk(emb, query_id=missing, path=buckets),
        lambda: S.ivf_ann_topk_pruned(emb, query_id=missing, path=cells),
    ):
        with pytest.raises(ValueError, match=f"query_id {missing} "):
            probe()
    with pytest.raises(ValueError, match="iters"):
        S.pq_ann_topk(emb, iters=2, path=str(tmp_path / "pq"))


def test_layout_cache_tracks_source_data(spark, tmp_path):
    """The stored-layout cache path folds in a fingerprint of the source
    table's DATA, not just its path: rewriting the table in place with
    different rows must move the cache path, and the stored probe must
    then answer for the new rows — a stale layout would silently
    return the old neighbours."""
    import shutil

    from pyspark.sql import functions as F

    from article_extractor_spark import queries as Q
    from article_extractor_spark.functions import similarity as S

    sf = str(tmp_path / "sf")
    src = f"{sf}/embeddings.parquet"
    full = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    paths, results = [], []
    try:
        for keep in (F.col("vec_id") % 2 == 0, F.col("vec_id") % 3 == 0):
            full.where(keep).write.mode("overwrite").parquet(src)
            paths.append(Q._layout_cache_path(sf, "emb_sq8codes_v2"))
            stored = Q.QUERY_FNS["sq8_ann_topk_stored"](spark, sf).collect()
            inline = S.sq8_ann_topk(spark.read.parquet(src)).collect()
            assert [tuple(r) for r in stored] == [tuple(r) for r in inline]
            results.append(stored)
        assert paths[0] != paths[1]
        assert results[0] != results[1]
    finally:
        for p in paths:
            shutil.rmtree(p, ignore_errors=True)


def test_sample_frames_rawv_unit(spark):
    """RAWV frame sampling battery: well-formed, truncated, bad magic,
    empty — expectations computed by hand against the container spec."""
    import hashlib

    from article_extractor_spark.functions import multimodal as M

    f = lambda b: bytes([b]) * 6  # 3x2 frames  # noqa: E731
    good = M.encode_rawv(3, 2, [f(i) for i in range(7)])
    truncated = good[: 12 + 6 * 4 + 3]  # 4 full frames + a partial one
    bad_magic = b"XXXX" + good[4:]
    rows = [
        (1, bytearray(good)),
        (2, bytearray(truncated)),
        (3, bytearray(bad_magic)),
        (4, bytearray(b"")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        (r.doc_id, r.frame_idx): r
        for r in M.sample_frames(df, every_n=2).collect()
    }
    # doc 1: frames 0,2,4,6 of 7
    for k in (0, 2, 4, 6):
        r = got[(1, k)]
        assert (r.n_frames, r.width, r.height, r.ok) == (7, 3, 2, True)
        assert r.frame_digest == hashlib.md5(f(k)).hexdigest()
    # doc 2: truncation-safe — only the 4 complete frames, sampled 0,2
    assert got[(2, 0)].n_frames == 4 and got[(2, 2)].n_frames == 4
    assert (2, 4) not in got
    # docs 3/4: malformed container → single ok=false row
    assert got[(3, None)].ok is False
    assert got[(4, None)].ok is False
    assert len(got) == 8


def test_repetition_metrics_unit_oracle(spark):
    """Hand-computed battery for the Gopher repetition metrics —
    independent of the corpus and of the DuckDB twin (a shared
    misreading of the spec can't cancel out)."""
    from collections import Counter

    from pyspark.sql import functions as F

    from article_extractor_spark.functions import text as X

    battery = [
        "a b c d",            # all distinct
        "a a a a",            # one word repeated
        "a b a b a",          # top word 3/5
        "word",               # single word
        "",                   # empty
        "  x   y  x ",        # messy whitespace
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(battery)], "id int, text string"
    )
    got = {
        r.id: (r.ttr, r.twf, r.grams)
        for r in df.select(
            "id",
            X.type_token_ratio(F.col("text")).alias("ttr"),
            X.top_word_fraction(F.col("text")).alias("twf"),
            X.word_ngrams(F.col("text"), 3).alias("grams"),
        ).collect()
    }
    for i, t in enumerate(battery):
        toks = t.split()
        if not toks:
            assert got[i] == (0.0, 0.0, [])
            continue
        counts = Counter(toks)
        assert got[i][0] == round(len(counts) / len(toks), 6), t
        assert got[i][1] == round(max(counts.values()) / len(toks), 6), t
        expected_grams = [
            " ".join(toks[j : j + 3]) for j in range(len(toks) - 2)
        ]
        assert got[i][2] == expected_grams, t


def test_fingerprint_is_case_insensitive_oracle(spark):
    """Unit-level fingerprint oracle on a MIXED-CASE battery, computed
    independently with hashlib — so a corpus property (the driver
    corpus is all-lowercase) can never mask an engine/oracle case
    divergence again (round-2 verdict item: the engine skipped
    lowercasing and stayed green by luck)."""
    import hashlib

    from pyspark.sql import functions as F

    from article_extractor_spark.functions import text as X

    battery = [
        "Hello World",
        "HELLO   world",
        "  MiXeD Case\ttext  ",
        "already lowercase",
        "",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(battery)], "id int, text string"
    )
    got = {
        r.id: r.fp
        for r in df.select(
            "id", X.fingerprint(F.col("text")).alias("fp")
        ).collect()
    }

    def expected(t: str) -> int:
        # dedup normalization: ASCII-space trim, lowercase, collapse
        # Java-\s whitespace runs — then md5 60-bit int.
        import re

        norm = re.sub("[ \t\n\x0b\f\r]+", " ", t.strip(" ").lower())
        return int(hashlib.md5(norm.encode()).hexdigest()[:15], 16)

    for i, t in enumerate(battery):
        assert got[i] == expected(t), t
    # case variants of the same text agree
    assert got[0] == got[1]


def test_decontaminate_is_case_insensitive(spark):
    """Recased / re-wrapped contamination must still match: overlap is
    computed on normalized text, like every other dedup operator."""
    from article_extractor_spark.functions import dedup as D

    passage = "alpha beta gamma delta epsilon zeta eta theta iota"
    bench = spark.createDataFrame(
        [(0, passage)], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (10, passage.upper()),                      # recased
            (11, passage.replace(" ", "  ")),           # re-wrapped
            (12, "totally unrelated text with other words here now"),
        ],
        "doc_id long, text string",
    )
    flagged = {
        r.doc_id for r in D.benchmark_overlap(corpus, bench, n=8).collect()
    }
    assert flagged == {10, 11}


def test_decontaminate_flags_planted_duplicates(spark):
    """The synthetic corpus plants near-duplicates of benchmark-range
    docs (0/5/8 ↔ 50/82/450/12/120, verified by the exact-Jaccard
    ground truth in the LSH recall test); the 8-gram decontamination
    stage must flag those partners."""
    from article_extractor_spark.queries import QUERY_FNS

    flagged = {
        r.doc_id: r.n_contaminated_grams
        for r in QUERY_FNS["decontaminate"](spark, SF_DIR).collect()
    }
    # dup partners of benchmark docs 0, 5, 8 share long token runs
    for partner in (50, 82, 450, 12, 120):
        assert partner in flagged and flagged[partner] > 0, (
            partner,
            flagged,
        )


def test_simhash_pairs_invariants(spark):
    """simhash_hamming_pairs output invariants: ordered pairs, no
    duplicates, every reported hamming confirmed against the per-doc
    simhash table, and SOUNDNESS — each returned pair's true Hamming
    distance is <= 2 (recall completeness is pinned separately by the
    DuckDB oracle, which replicates banding + cap bit-exactly)."""
    from article_extractor_spark.functions import dedup as D

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sims = {
        r.doc_id: r.simhash
        for r in D.simhash_table(docs).collect()
    }
    pairs = D.simhash_hamming_pairs(docs).collect()
    assert pairs
    seen = set()
    for r in pairs:
        assert r.doc_a < r.doc_b
        assert (r.doc_a, r.doc_b) not in seen
        seen.add((r.doc_a, r.doc_b))
        true_h = bin(sims[r.doc_a] ^ sims[r.doc_b]).count("1")
        assert r.hamming == true_h and true_h <= 2, r


def test_minhash_lsh_recall_against_exact_ground_truth(spark):
    """End-to-end QUALITY evaluation (not just determinism): compute
    the exact all-pairs 3-shingle Jaccard ground truth for the sf0.001
    corpus driver-side, then measure the LSH candidate set against it.
    On this corpus the banded MinHash (h=12, 4 bands × 3 rows) achieves
    perfect recall of every true pair with Jaccard ≥ 0.8 AND zero
    false positives below 0.5 — deterministic (fixed corpus, fixed
    hashes), so any silent quality regression in the
    shingle/signature/banding pipeline fails here."""
    import itertools
    import re

    from article_extractor_spark.functions import dedup as D

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rows = docs.select("doc_id", "text").collect()

    def shingles(t: str) -> set:
        norm = re.sub("[ \t\n\x0b\f\r]+", " ", t.strip(" ").lower())
        # ws_tokens applies a second ASCII-space trim AFTER the
        # collapse (a leading tab becomes a leading space in norm) —
        # replicate it or the ground truth gains a phantom '' token
        trimmed = norm.strip(" ")
        toks = trimmed.split(" ") if trimmed else []
        if len(toks) < 3:
            return {norm}
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    S = {r.doc_id: shingles(r.text) for r in rows}
    truth = {}
    for a, b in itertools.combinations(sorted(S), 2):
        inter = len(S[a] & S[b])
        if not inter:
            continue
        j = inter / len(S[a] | S[b])
        if j >= 0.5:
            truth[(a, b)] = j

    cand = {(r.doc_a, r.doc_b) for r in D.minhash_lsh_pairs(docs).collect()}
    high = {p for p, j in truth.items() if j >= 0.8}
    assert high, "corpus must contain planted near-duplicates"
    # perfect recall at J>=0.8 on this corpus (theoretical per-pair
    # candidate probability at J=0.8 is 0.94; the planted dups sit
    # well above it)
    assert high <= cand, sorted(high - cand)
    # no candidate below the J=0.5 truth floor (banding precision)
    assert cand <= set(truth), sorted(cand - set(truth))


def test_null_text_produces_no_pairs(spark):
    """Docs with NULL text must form NO LSH candidate pairs: their NULL
    signatures would otherwise all share band_hash = md5_int('')
    (concat_ws skips NULL elements) and pair with each other in every
    band."""
    from article_extractor_spark.functions import dedup as D

    rows = [
        ("1", None),
        ("2", None),
        ("3", "real text body one two three"),
        ("4", "real text body one two three"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = {(r.doc_a, r.doc_b) for r in D.minhash_lsh_pairs(df).collect()}
    assert pairs == {("3", "4")}, pairs


def test_minhash_pandas_kernel_matches_jvm_expression(spark):
    """The vectorized signature kernel must be value-identical to the
    Column-expression path — same md5-derived integers, same shingles,
    same Java-\\s whitespace semantics — on real corpus text and on an
    adversarial whitespace/case battery."""
    from pyspark.sql import functions as F

    from article_extractor_spark.functions import dedup as D
    from article_extractor_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    battery = spark.createDataFrame(
        [
            ("1", ""), ("2", "   "), ("3", "\tOne\tTwo"), ("4", "a b"),
            ("5", "x Y z x Y z"), ("6", "tab\tsep\nnl\x0bvt\x0cff\rcr"),
            ("7", "ONE two THREE four five"),
            ("8", None),  # NULL text: kernel must propagate NULL like
            # the expression fold, not hash the empty string
        ],
        "doc_id string, text string",
    )
    corpus = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(100)
    for docs in (battery, corpus.select("doc_id", "text")):
        both = docs.select(
            D.minhash_signature(F.col("text")).alias("jvm"),
            D.minhash_signature_pudf()(F.col("text")).alias("pd"),
        )
        # null-safe: jvm NULL vs pd non-NULL must count as a mismatch
        assert (
            both.where(~F.col("jvm").eqNullSafe(F.col("pd"))).count() == 0
        )
    null_sig = battery.where("doc_id = '8'").select(
        D.minhash_signature_pudf()(F.col("text")).alias("pd")
    ).collect()[0]
    assert null_sig["pd"] is None
    # simhash kernels likewise value-identical (null-safe compare)
    for docs in (battery, corpus.select("doc_id", "text")):
        sboth = docs.select(
            D.simhash16(F.col("text")).alias("jvm"),
            D.simhash16_pudf()(F.col("text")).alias("pd"),
        )
        assert (
            sboth.where(~F.col("jvm").eqNullSafe(F.col("pd"))).count() == 0
        )


def test_minhash_adversarial_bucket_capped(spark):
    """An all-identical corpus puts every document in the same LSH
    bucket in every band; the bucket-size cap must bound the pair
    expansion at C(cap, 2) instead of C(n_docs, 2)."""
    from pyspark.sql import functions as F

    from article_extractor_spark.functions import dedup as D

    from pyspark.sql import Observation

    n_docs, cap = 400, 16
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.lit(
            "the same adversarial document text repeated everywhere"
        ).alias("text"),
    )
    obs = Observation("minhash-cap")
    pairs = D.minhash_lsh_pairs(
        docs, bucket_cap=cap, drop_metrics=obs
    ).toPandas()
    expected = cap * (cap - 1) // 2  # same ids survive in every band
    assert len(pairs) == expected
    # deterministic truncation: the smallest doc_ids are kept
    assert pairs["doc_a"].max() <= cap - 1
    assert pairs["doc_b"].max() <= cap - 1
    # the recall loss is observable, not silent: every membership past
    # the cap is counted (4 bands × (400 − 16) dropped memberships)
    vals = obs.get
    assert vals["capped_out_members"] == 4 * (n_docs - cap)
    assert vals["bucket_members"] == 4 * n_docs


def test_embedding_neardup_adversarial_bucket_capped(spark):
    """An all-identical embedding flood lands in one LSH bucket; the
    cap must bound the pairwise join at C(cap, 2)."""
    from pyspark.sql import functions as F

    from article_extractor_spark.functions import similarity as S

    from pyspark.sql import Observation

    n, cap = 300, 12
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(0.5)] * 8).alias("embedding"),
    )
    obs = Observation("neardup-cap")
    pairs = S.embedding_neardup_pairs(
        emb, threshold=0.9, bucket_cap=cap, drop_metrics=obs
    ).toPandas()
    assert len(pairs) == cap * (cap - 1) // 2
    assert pairs["vec_b"].max() <= cap - 1
    vals = obs.get
    assert vals["capped_out_members"] == n - cap
    assert vals["bucket_members"] == n


def test_robots_eval_rfc_semantics(spark):
    """RFC 9309 behaviors the oracle-match alone could mask if the
    corpus shifted: all three verdict branches must actually occur
    (default-allow, prefix-disallow, longest-match allow override),
    and the decoy other-bot group must not leak into the verdicts."""
    from pyspark.sql import functions as F

    out = QUERY_FNS["robots_eval"](spark, SF_DIR)
    rows = {r["doc_id"]: r for r in out.collect()}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source"
    )
    branches = {"default": 0, "disallow": 0, "override": 0}
    for d in docs.collect():
        k = d["source"][3:]
        path = str(d["doc_id"])
        if path.startswith(k + str(int(k) % 10)):
            branches["override"] += 1
            assert rows[d["doc_id"]]["allowed"], (d, "override must allow")
        elif path.startswith(k):
            branches["disallow"] += 1
            assert not rows[d["doc_id"]]["allowed"], (d, "must disallow")
        else:
            branches["default"] += 1
            # decoy group disallows '/': leakage would flip these False
            assert rows[d["doc_id"]]["allowed"], (d, "default must allow")
    assert all(v > 0 for v in branches.values()), branches
    # rules side stays broadcast: the big URL side must not sort-merge
    plan = (
        QUERY_FNS["robots_eval"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_synth_page_templates_agree(spark):
    """The synthetic page exists in three representations (JVM column
    expressions, SQL _SQL_PAGE, Python synth_page_html for Arrow
    kernels); JVM == SQL is pinned by the extraction oracles, this
    pins JVM == Python so the mixed-corpus adapter can never drift."""
    from article_extractor_spark.queries import (
        documents_as_interleaved_corpus,
    )
    from article_extractor_spark.operators.extraction import (
        render_spans_to_html,
    )
    from article_extractor_spark.sources.synth import synth_page_html

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    rendered = render_spans_to_html(
        documents_as_interleaved_corpus(docs)
    ).select("doc_id", "html").collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for row in rendered:
        assert row["html"] == synth_page_html(
            row["doc_id"], texts[int(row["doc_id"])]
        )


def test_mixed_dispatch_sniff_and_failure_rows(spark):
    from pyspark.sql import functions as F  # noqa: F401

    from article_extractor_spark.operators.dispatch import (
        extract_documents_auto,
        sniff_format,
    )

    assert sniff_format(b"%PDF-1.4\n...") == "pdf"
    assert sniff_format(b"  \n\t<html><body>") == "html"
    assert sniff_format(b"<!DOCTYPE html><html>") == "html"
    assert sniff_format(b"\x89PNG\r\n") == "unknown"
    assert sniff_format(b"") == "unknown"

    corpus = spark.createDataFrame(
        [
            (1, "u1", bytearray(b"<html><body><article><h1>T</h1>"
                                b"<p>hello world</p></article></body></html>")),
            (2, "u2", bytearray(b"\x89PNG\r\n\x1a\n pixels")),
            (3, "u3", bytearray(b"%PDF-1.4\ngarbage, no objects")),
        ],
        "doc_id long, url string, payload binary",
    )
    rows = {
        r["doc_id"]: r
        for r in extract_documents_auto(corpus, min_word_count=1).collect()
    }
    assert rows[1]["format"] == "html" and rows[1]["success"]
    assert rows[1]["title"] == "T"
    assert rows[2]["format"] == "unknown" and not rows[2]["success"]
    # a payload that SNIFFS as pdf but fails to parse must come back
    # as a pdf-format failure row, not a task death
    assert rows[3]["format"] == "pdf" and not rows[3]["success"]


def test_connected_components_multi_hop_fixpoint(spark):
    """A 4-node path (0-7, 7-3, 3-9) plus a separate pair (5-6): the
    min label 0 must propagate the full chain, which takes more than
    one round — a single-pass implementation returns 3 or 7 for node
    9 and fails here."""
    from article_extractor_spark.functions.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(0, 7), (7, 3), (3, 9), (5, 6)], "doc_a long, doc_b long"
    )
    want = {0: 0, 7: 0, 3: 0, 9: 0, 5: 5, 6: 5}
    # id-type genericity: job tables carry STRING doc ids — both paths
    # must handle them (the fast path once cast to int and threw)
    spairs = spark.createDataFrame(
        [("a", "c"), ("c", "b"), ("x", "y")], "doc_a string, doc_b string"
    )
    for threshold in (2_000_000, 0):
        slabels = {
            r["doc_id"]: r["label"]
            for r in connected_components(
                spairs, local_threshold=threshold
            ).collect()
        }
        assert slabels == {
            "a": "a",
            "b": "a",
            "c": "a",
            "x": "x",
            "y": "x",
        }, threshold
    # both the driver-side union-find fast path (default gate) and the
    # at-scale distributed loop (gate disabled) must agree exactly
    for threshold in (2_000_000, 0):
        labels = {
            r["doc_id"]: r["label"]
            for r in connected_components(
                pairs, local_threshold=threshold
            ).collect()
        }
        assert labels == want, threshold


def test_pagerank_keeps_no_inbound_nodes(spark, tmp_path):
    """N = 6 leaves nodes 0 and 2 with zero inbound edges (dst
    coverage of (2i+1)%6 ∪ (3i+7)%6 is {1,3,4,5}).  They must keep
    the teleport base each iteration, not vanish from the frame —
    the inner-join spelling returned 4 rows here."""
    import pyspark.sql.functions as F
    from article_extractor_spark.queries import (
        PAGERANK_SCALE,
        q_link_pagerank,
    )

    n = 6
    spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("x").alias("text"),
        F.lit("en").alias("lang"),
        F.lit("s").alias("source"),
        F.lit(1).alias("n_chars"),
    ).write.parquet(str(tmp_path / "documents.parquet"))
    rows = {
        r["doc_id"]: r["pagerank"]
        for r in q_link_pagerank(spark, str(tmp_path)).collect()
    }
    assert len(rows) == n
    base = PAGERANK_SCALE * 15 // (100 * n)
    assert rows[0] == base and rows[2] == base
    assert all(rows[i] > base for i in (1, 3, 4, 5))


def test_incremental_dedup_probes_written_index(spark, tmp_path):
    """The persisted band index (write_band_index: shard-partitioned,
    write-time capped) must give the probe the SAME pairs as the
    in-flight index the oracle models — sign-once storage is only
    valid if nothing is lost in the parquet round trip."""
    import pyspark.sql.functions as F
    from article_extractor_spark.functions import dedup as D
    from article_extractor_spark.queries import WAVE_MOD, load

    sf_dir = "/root/testdata/sf0.001"
    docs = load(spark, sf_dir, "documents")
    is_wave = F.col("doc_id") % WAVE_MOD == 0
    corpus, wave = docs.where(~is_wave), docs.where(is_wave)

    path = str(tmp_path / "band_index")
    D.write_band_index(corpus, path)
    stored = spark.read.parquet(path)
    got = {
        (r["new_doc"], r["dup_of"])
        for r in D.incremental_minhash_pairs(wave, stored).collect()
    }
    want = {
        (r["new_doc"], r["dup_of"])
        for r in D.incremental_minhash_pairs(
            wave, D.capped_band_index(corpus)
        ).collect()
    }
    assert got == want and got
    # the layout really is shard-partitioned (probe-side pruning unit)
    shards = [p.name for p in (tmp_path / "band_index").iterdir()
              if p.name.startswith("shard=")]
    assert len(shards) > 1


def test_line_dedup_keep_first_occurrence(spark):
    """Corpus-wide line dedup: a line survives only at its globally
    first (doc_id, pos); later docs lose it, a doc whose every line
    was seen before reassembles to '', and within-doc repeats keep
    only the first copy."""
    from article_extractor_spark.functions.dedup import line_dedup

    df = spark.createDataFrame(
        [
            (0, "a b c d e f"),
            (1, "d e f g h i"),
            (2, "a b c d e f"),
            (3, "x y z x y z"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["dedup_text"])
        for r in line_dedup(df).collect()
    }
    assert got == {
        0: (2, 2, "a b c d e f"),
        1: (2, 1, "g h i"),
        2: (2, 0, ""),
        3: (2, 1, "x y z"),
    }


def test_gopher_filter_rules_fire_individually(spark):
    """Each Gopher structural rule must fire on a document built to
    violate exactly it (the synthetic corpus never exercises bullets /
    ellipses / symbols / empties), and a clean 50+-word document with
    stopwords must keep=True."""
    from pyspark.sql import functions as F

    from article_extractor_spark import queries as X

    # 50 words, mean word length 4.0, stopwords present
    good = ("the quick brown foxes were inside it and of today " * 5).strip()
    rows = spark.createDataFrame(
        [
            (0, good),
            (1, "the of " + "word " * 48),  # 50 words, fine too
            (2, "short the of doc"),  # wc_ok fails (4 words)
            (3, ("# " * 30 + "the of " + "x " * 20).strip()),  # symbols
            (4, "- the of one\n- two\n- three\n- four"),  # all bullets
            (5, ("the of " + "y " * 48).strip() + "..."),  # single line ends ...
            (6, ""),  # empty: everything structural fails
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in rows.select(
            "doc_id", X.gopher_metrics(F.col("text")).alias("g")
        ).select("doc_id", "g.*").collect()
    }
    assert got[0]["keep"] and got[0]["wc_ok"] and got[0]["stop_ok"]
    assert got[1]["keep"]
    assert not got[2]["wc_ok"] and not got[2]["keep"]
    assert not got[3]["symbol_ok"]
    assert got[4]["bullet_frac"] == 1.0 and not got[4]["bullet_ok"]
    assert got[5]["ellipsis_frac"] == 1.0 and not got[5]["ellipsis_ok"]
    assert got[6]["n_words"] == 0 and not got[6]["keep"]
    assert got[6]["mean_word_length"] == 0.0


def test_exact_substring_dedup_excises_mid_document(spark):
    """ExactSubstr keep-first: a duplicated 8-token run is cut from the
    LATER document only — mid-document, with the unique text on both
    sides surviving; the first occurrence and sub-window docs are
    untouched; an exact duplicate doc empties entirely."""
    from article_extractor_spark.queries import exact_substring_dedup

    shared = "a b c d e f g h"  # exactly EXSUB_W tokens
    df = spark.createDataFrame(
        [
            (0, f"{shared} tail0 tail1"),
            (1, f"pre0 {shared} post0 post1"),  # run cut mid-doc
            (2, "a b c d e f g"),  # 7 tokens: below window width
            (3, f"{shared} tail0 tail1"),  # exact duplicate of doc 0
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["kept_text"])
        for r in exact_substring_dedup(df).collect()
    }
    assert got[0] == (10, 0, "a b c d e f g h tail0 tail1")
    assert got[1] == (11, 8, "pre0 post0 post1")
    assert got[2] == (7, 0, "a b c d e f g")
    assert got[3] == (10, 10, "")


def test_exact_substring_dedup_adversarial_inputs(spark):
    """Degenerate corpora must neither throw nor blow up: a 20k-token
    document (window generation is O(n·w) with a let-bound token array
    — an unbound split would be O(n²); guarded by a wall-clock bound),
    an all-identical flood (every window duplicated; only the min doc
    survives intact), empty text, and below-window-width docs."""
    import time

    from article_extractor_spark.queries import exact_substring_dedup

    big = ("w%d " % 0) * 20_000
    flood = [(10 + i, "f a b c d e f g h i j k") for i in range(6)]
    df = spark.createDataFrame(
        [(0, big.strip()), (1, ""), (2, "a b c")] + flood,
        "doc_id long, text string",
    )
    t0 = time.time()
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["kept_text"])
        for r in exact_substring_dedup(df).collect()
    }
    assert time.time() - t0 < 90, "window generation not linear?"
    # the giant doc is w0 repeated: every window but s=0 is an
    # intra-document duplicate, and those windows cover every position
    # except position 0 — a single token survives
    assert got[0] == (20_000, 19_999, "w0")
    assert got[1] == (0, 0, "")
    assert got[2] == (3, 0, "a b c")
    assert got[10][1] == 0  # min doc of the flood intact
    for i in range(11, 16):
        assert got[i] == (12, 12, "")  # later clones fully excised


def test_exact_substring_dedup_matches_brute_force(spark):
    """Differential check of the trickiest operator against an
    independent brute-force reference: the SQL oracle replays the same
    window-hash algorithm, so a semantic bug shared by both sides
    would hash-match — this reference recomputes keep-first positional
    excision from the definition (enumerate token runs, find global
    first occurrence, excise covered positions).  Corpora drawn from a
    tiny alphabet so duplicate runs are dense, including intra-doc
    repeats and boundary overlaps."""
    import random

    from collections import defaultdict

    from article_extractor_spark.queries import exact_substring_dedup

    w = 3
    rng = random.Random(20260818)
    alphabet = ["a", "b", "c", "d"]
    for trial in range(6):
        docs = [
            (
                d,
                " ".join(
                    rng.choice(alphabet)
                    for _ in range(rng.randrange(0, 14))
                ),
            )
            for d in range(rng.randrange(2, 7))
        ]

        toks = {
            d: (t.split() if t.strip() else []) for d, t in docs
        }
        occ = defaultdict(list)
        for d in sorted(toks):
            ts = toks[d]
            for s in range(0, len(ts) - w + 1):
                occ[tuple(ts[s : s + w])].append((d, s))
        dup: dict = {d: [] for d in toks}
        for lst in occ.values():
            if len(lst) > 1:
                first = min(lst)
                for d, s in lst:
                    if (d, s) != first:
                        dup[d].append(s)
        want = {}
        for d, ts in toks.items():
            cover = set()
            for s in dup[d]:
                cover.update(range(s, s + w))
            kept = [t for p, t in enumerate(ts) if p not in cover]
            want[d] = (len(ts), len(ts) - len(kept), " ".join(kept))

        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_removed"], r["kept_text"])
            for r in exact_substring_dedup(df, w=w).collect()
        }
        assert got == want, (trial, docs)


def test_url_normalize_matches_urlsplit_reference(spark):
    """Reference parity for the crawler-variant normalizer
    (crawler.py:435-450): lowercase scheme+netloc, default path '/',
    keep the query, drop the fragment — replayed with actual
    urllib.parse urlsplit/urlunsplit on every generated URL."""
    from urllib.parse import urlsplit, urlunsplit

    from article_extractor_spark.queries import QUERY_FNS

    def reference_normalize(value: str) -> str:
        p = urlsplit(value.strip())
        return urlunsplit(
            (
                p.scheme.lower(),
                p.netloc.lower(),
                p.path or "/",
                p.query,
                "",
            )
        )

    rows = QUERY_FNS["url_normalize"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["norm_url"] == reference_normalize(r["raw_url"]), r[
            "raw_url"
        ]


def test_url_normalize_rich_matches_urlparse_reference(spark):
    """Reference-parity check: the engine's regex normalizer must
    agree with the reference's actual urllib.parse-based
    _normalize_url semantics (discovery.py:787-813 — urldefrag,
    lowercased scheme with http(s) whitelist, query strip, default
    path '/', netloc case preserved) on every generated URL."""
    from urllib.parse import urldefrag, urlparse, urlunparse

    from article_extractor_spark.queries import QUERY_FNS

    def reference_normalize(url: str):
        url, _ = urldefrag(url)
        p = urlparse(url)
        if p.scheme not in ("http", "https"):
            return None
        return urlunparse(
            (p.scheme, p.netloc, p.path or "/", p.params, "", "")
        )

    rows = QUERY_FNS["url_normalize_rich"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["norm_url"] == reference_normalize(r["raw_url"]), r[
            "raw_url"
        ]


def test_embedding_neardup_matches_python_reference(spark):
    """Independent replay of SemDeDup's candidate generator: LSH
    bucket blocking, the 256-cap on bucket membership (smallest
    vec_ids), in-bucket (i<j) pairs, and the cosine>=threshold gate
    over quantized integer vectors."""
    import math

    from collections import defaultdict

    from article_extractor_spark.functions.similarity import (
        N_PLANES,
        NEARDUP_BUCKET_CAP,
        QUANT,
    )
    from article_extractor_spark.queries import QUERY_FNS, load

    emb = {
        r["vec_id"]: [
            math.floor(float(v) * QUANT) for v in r["embedding"]
        ]
        for r in load(spark, SF_DIR, "embeddings").collect()
    }

    def bucket(qv):
        b = 0
        for j in range(N_PLANES):
            if (
                sum(
                    v * (((i * 31 + j * 17) % 7) - 3)
                    for i, v in enumerate(qv)
                )
                > 0
            ):
                b |= 1 << j
        return b

    buckets = defaultdict(list)
    for v in sorted(emb):
        buckets[bucket(emb[v])].append(v)
    want = {}
    for members in buckets.values():
        cm = members[:NEARDUP_BUCKET_CAP]
        for x in range(len(cm)):
            a = emb[cm[x]]
            na = math.sqrt(sum(t * t for t in a))
            for y in range(x + 1, len(cm)):
                b = emb[cm[y]]
                c = round(
                    sum(s * t for s, t in zip(a, b))
                    / (na * math.sqrt(sum(t * t for t in b))),
                    6,
                )
                if c >= 0.3:
                    want[(cm[x], cm[y])] = c
    got = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in QUERY_FNS["embedding_neardup"](spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6, k


def test_simhash_family_matches_python_reference(spark):
    """Independent replay of the SimHash method: frequency-weighted
    16-bit majority-vote fingerprints, the 6/5/5 pigeonhole bit-bands,
    the 64-cap on bucket membership (smallest doc_ids), in-bucket pair
    expansion, and the exact Hamming<=2 verify."""
    import hashlib
    import re

    from collections import defaultdict

    from article_extractor_spark.functions.dedup import (
        BUCKET_CAP,
        SIMHASH_BAND_LAYOUT,
        SIMHASH_BITS,
        SIMHASH_MAX_HAMMING,
    )
    from article_extractor_spark.queries import QUERY_FNS, load

    rows = load(spark, SF_DIR, "documents").select(
        "doc_id", "text"
    ).collect()

    def sim16(text: str) -> int:
        t = re.sub(r"\s+", " ", text.strip().lower())
        ts = t.split() if t else []
        counts = [0] * SIMHASH_BITS
        for tok in ts:
            h = (
                int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                % 65536
            )
            for i in range(SIMHASH_BITS):
                if h & (1 << i):
                    counts[i] += 1
        out = 0
        for i in range(SIMHASH_BITS):
            if counts[i] * 2 > len(ts):
                out |= 1 << i
        return out

    sims = {r["doc_id"]: sim16(r["text"]) for r in rows}
    got_tab = {
        r["doc_id"]: r["simhash"]
        for r in QUERY_FNS["simhash"](spark, SF_DIR).collect()
    }
    assert got_tab == sims

    buckets = defaultdict(list)
    for d in sorted(sims):
        for bi, (sh, w) in enumerate(SIMHASH_BAND_LAYOUT):
            buckets[(bi, (sims[d] >> sh) & ((1 << w) - 1))].append(d)
    cand = set()
    for members in buckets.values():
        cm = members[:BUCKET_CAP]
        for x in range(len(cm)):
            for y in range(x + 1, len(cm)):
                cand.add((cm[x], cm[y]))
    want = {}
    for a, b in cand:
        ham = bin(sims[a] ^ sims[b]).count("1")
        if ham <= SIMHASH_MAX_HAMMING:
            want[(a, b)] = ham
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in QUERY_FNS["simhash_pairs"](spark, SF_DIR).collect()
    }
    assert got == want


def test_ann_family_matches_python_reference(spark):
    """Independent Python replay of the similarity core: integer
    quantization, the deterministic hyperplane LSH bucket, the
    first-N-centroid IVF assignment (exact integer L2, ties to the
    smallest cid), and the bucket/cell-restricted cosine top-k for
    both lsh_ann_topk and ivf_ann_topk."""
    import math

    from article_extractor_spark.functions.similarity import (
        N_CENTROIDS,
        N_PLANES,
        QUANT,
    )
    from article_extractor_spark.queries import QUERY_FNS, load

    emb = {
        r["vec_id"]: [
            math.floor(float(v) * QUANT) for v in r["embedding"]
        ]
        for r in load(spark, SF_DIR, "embeddings").collect()
    }

    def bucket(qv):
        b = 0
        for j in range(N_PLANES):
            proj = sum(
                v * (((i * 31 + j * 17) % 7) - 3)
                for i, v in enumerate(qv)
            )
            if proj > 0:
                b |= 1 << j
        return b

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (
            math.sqrt(sum(x * x for x in a))
            * math.sqrt(sum(y * y for y in b))
        )

    def topk(cand_ids, k=10):
        scored = sorted(
            ((round(cos(emb[v], emb[0]), 6), v) for v in cand_ids),
            key=lambda t: (-t[0], t[1]),
        )[:k]
        return [(v, c) for c, v in scored]

    # LSH: candidates share the query's bucket
    qb = bucket(emb[0])
    lsh_want = topk(
        [v for v, qv in emb.items() if v != 0 and bucket(qv) == qb]
    )
    lsh_got = [
        (r["vec_id"], r["cosine"])
        for r in QUERY_FNS["lsh_ann_topk"](spark, SF_DIR).collect()
    ]
    assert [v for v, _ in lsh_got] == [v for v, _ in lsh_want]
    for (gv, gc), (wv, wc) in zip(lsh_got, lsh_want):
        assert abs(gc - wc) < 1e-6, gv

    # IVF: first-N centroids, integer L2 argmin, probe the query cell
    cents = {cid: emb[cid] for cid in range(N_CENTROIDS)}

    def cell(qv):
        return min(
            (sum((a - b) ** 2 for a, b in zip(qv, cv)), cid)
            for cid, cv in cents.items()
        )[1]

    qc = cell(emb[0])
    ivf_want = topk(
        [v for v, qv in emb.items() if v != 0 and cell(qv) == qc]
    )
    ivf_got = [
        (r["vec_id"], r["cosine"])
        for r in QUERY_FNS["ivf_ann_topk"](spark, SF_DIR).collect()
    ]
    assert [v for v, _ in ivf_got] == [v for v, _ in ivf_want]
    for (gv, gc), (wv, wc) in zip(ivf_got, ivf_want):
        assert abs(gc - wc) < 1e-6, gv


def test_incremental_dedup_matches_python_reference(spark):
    """Independent replay of the wave-vs-corpus probe: MinHash
    signatures (md5 shingle base + affine permutations), 4x3 banding,
    the write-time 64-cap on corpus buckets, the equi-join candidate
    set, and the exact word-set Jaccard gate."""
    import hashlib

    from collections import defaultdict

    from pyspark.sql import functions as F

    from article_extractor_spark.functions.dedup import (
        BUCKET_CAP,
        LSH_BANDS,
        MINHASH_H,
        _MERSENNE31,
        _hash_params,
    )
    from article_extractor_spark.queries import (
        QUERY_FNS,
        WAVE_MOD,
        load,
    )

    got = {
        (r["new_doc"], r["dup_of"]): r["jaccard"]
        for r in QUERY_FNS["incremental_dedup"](spark, SF_DIR).collect()
    }
    rows = load(spark, SF_DIR, "documents").select(
        "doc_id", "text"
    ).collect()

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def norm(t: str) -> str:
        import re

        return re.sub(r"\s+", " ", t.strip().lower())

    def shingles(t: str) -> set:
        ts = norm(t).split() if norm(t) else []
        if len(ts) < 3:
            return {norm(t)}
        return {" ".join(ts[i : i + 3]) for i in range(len(ts) - 2)}

    def bands(t: str) -> list:
        bases = [h60(s) % _MERSENNE31 for s in shingles(t)]
        sig = [
            min((a * b + c) % _MERSENNE31 for b in bases)
            for a, c in (_hash_params(j) for j in range(MINHASH_H))
        ]
        rows_per = MINHASH_H // LSH_BANDS
        return [
            (bi, h60(",".join(str(v) for v in
                              sig[bi * rows_per : (bi + 1) * rows_per])))
            for bi in range(LSH_BANDS)
        ]

    wave, corpus = {}, {}
    for r in rows:
        (wave if r["doc_id"] % WAVE_MOD == 0 else corpus)[
            r["doc_id"]
        ] = r["text"]
    index = defaultdict(list)
    for d in sorted(corpus):
        for key in bands(corpus[d]):
            if len(index[key]) < BUCKET_CAP:
                index[key].append(d)
    cands = set()
    for d, t in wave.items():
        for key in bands(t):
            for other in index.get(key, ()):
                if other != d:
                    cands.add((d, other))
    want = {}
    for new, dup in cands:
        a = set(norm(wave[new]).split())
        b = set(norm(corpus[dup]).split())
        j = len(a & b) / len(a | b)
        if round(j, 6) >= 0.2:
            want[(new, dup)] = j
    assert set(got) == set(want)
    for k, j in want.items():
        assert abs(got[k] - j) < 1e-6, k


def test_anchor_texts_matches_python_reference(spark):
    """Independent replay of the anchor-text rollup: same synthetic
    edge graph, anchor = source doc's token at 1 + (dst % 7) (or
    'link'), per-target counts, top anchor = max count with
    lexicographic tie-break."""
    from collections import Counter, defaultdict

    from pyspark.sql import functions as F

    from article_extractor_spark.queries import QUERY_FNS, load

    got = {
        r["url"]: (
            r["n_inlinks"],
            r["n_distinct_anchors"],
            r["top_anchor"],
        )
        for r in QUERY_FNS["anchor_texts"](spark, SF_DIR).collect()
    }
    rows = (
        load(spark, SF_DIR, "documents")
        .select("doc_id", F.lower(F.col("text")).alias("t"))
        .collect()
    )
    n = len(rows)
    per = defaultdict(Counter)
    for r in rows:
        ts = r["t"].split() if r["t"].strip() else []
        for dst in ((r["doc_id"] * 2 + 1) % n, (r["doc_id"] * 3 + 7) % n):
            idx = dst % 7  # 0-based: element_at(toks, 1 + idx)
            anchor = ts[idx] if idx < len(ts) else "link"
            per[dst][anchor] += 1
    want = {}
    for dst, c in per.items():
        top = min((-cnt, a) for a, cnt in c.items())[1]
        want[f"https://synth.example/docs/{dst}"] = (
            sum(c.values()),
            len(c),
            top,
        )
    assert got == want


def test_packed_examples_partition_token_stream(spark):
    """Packed chunks must tile the global subword stream exactly:
    every chunk except the last carries PACK_CHUNK_TOKENS ids, chunk
    ids are contiguous from 0, the id string length matches n_tokens,
    and the total equals the trained-tokenizer corpus token count."""
    from article_extractor_spark.queries import (
        PACK_CHUNK_TOKENS,
        QUERY_FNS,
    )

    rows = sorted(
        (
            (r["chunk_id"], r["n_tokens"], r["ids"])
            for r in QUERY_FNS["packed_examples"](
                spark, SF_DIR
            ).collect()
        )
    )
    assert [c for c, _, _ in rows] == list(range(len(rows)))
    for c, n, ids in rows[:-1]:
        assert n == PACK_CHUNK_TOKENS, (c, n)
    for c, n, ids in rows:
        assert len(ids.split()) == n, c
    total = sum(n for _, n, _ in rows)
    budget = sum(
        r["n_subwords"]
        for r in QUERY_FNS["bpe_subword_counts"](spark, SF_DIR).collect()
    )
    assert total == budget


def test_curation_verdicts_on_adversarial_corpus(spark):
    """The funnel on a corpus built to hit every arm: an exact-dup
    flood keeps only its min-id canonical, a near-dup of the flood
    text is cut by the cluster canonical, a doc sharing an 8-gram
    with the benchmark slice is contaminated, and junk fails
    quality.  Empty committed dedup state changes no status."""
    from pyspark.sql import functions as F

    from article_extractor_spark.functions import dedup as D
    from article_extractor_spark.pipeline import curation_verdicts
    from article_extractor_spark.queries import (
        QUERY_FNS,
        load,
    )

    # two DISTINCT known-good texts (dissimilar, so they never land in
    # one near-dup cluster): the first two docs the rule filter keeps
    kept = [
        r["doc_id"]
        for r in QUERY_FNS["quality_filter"](spark, SF_DIR)
        .where("keep")
        .orderBy("doc_id")
        .limit(2)
        .collect()
    ]
    texts = {
        r["doc_id"]: r["text"]
        for r in load(spark, SF_DIR, "documents")
        .where(F.col("doc_id").isin(kept))
        .collect()
    }
    good1, good2 = texts[kept[0]], texts[kept[1]]
    marker = "m1q m2q m3q m4q m5q m6q m7q m8q"  # the shared 8-gram
    near = good1.split()
    near[len(near) // 2] = "mutated"
    rows = (
        # benchmark slice ids 0..9 (0 carries the marker 8-gram)
        [(0, "benchmark holdout " + marker)]
        + [(i, f"bench filler {i}") for i in range(1, 10)]
        # exact-dup flood of good1
        + [(i, good1) for i in range(10, 20)]
        # near-dup of the flood text
        + [(20, " ".join(near))]
        # contaminated: good2 plus the benchmark marker 8-gram
        + [(21, good2 + " " + marker)]
        + [(22, "tiny junk")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # the same corpus against EMPTY committed dedup state: a wave with
    # nothing stored must get the state-free funnel's statuses
    empty_state = {
        "stored_ck": spark.createDataFrame([], "ck string, canon long"),
        "index": D.capped_band_index(df.limit(0)),
    }
    for state in ({}, empty_state):
        got = {
            r["doc_id"]: r["status"]
            for r in curation_verdicts(df, **state).collect()
        }
        for i in range(0, 10):
            assert got[i] == "benchmark", (i, got[i])
        assert got[10].startswith("kept:"), got[10]  # flood canonical
        for i in range(11, 20):
            assert got[i] == "exact_dup", (i, got[i])
        assert got[20] == "near_dup", got[20]
        assert got[21] == "contaminated", got[21]
        assert got[22].startswith("quality:"), got[22]


def test_quality_lexical_matches_python_reference(spark):
    """Independent replay of the trained lexical scorer's math —
    labels taken from the (separately oracle-checked) rule filter,
    then vocabulary cap, difference-of-df integer weights, scoring,
    and mean calibration recomputed in Python."""
    from collections import Counter

    from pyspark.sql import functions as F

    from article_extractor_spark.queries import (
        QSCORE_VOCAB,
        QUERY_FNS,
        load,
    )

    got = {
        r["doc_id"]: (r["score"], r["pred_keep"], r["label_keep"])
        for r in QUERY_FNS["quality_lexical"](spark, SF_DIR).collect()
    }
    labels = {
        r["doc_id"]: r["keep"]
        for r in QUERY_FNS["quality_filter"](spark, SF_DIR).collect()
    }
    rows = (
        load(spark, SF_DIR, "documents")
        .select("doc_id", F.lower(F.col("text")).alias("t"))
        .collect()
    )
    toks = {
        r["doc_id"]: sorted(
            set(r["t"].split() if r["t"].strip() else [])
        )
        for r in rows
    }
    n_keep = sum(1 for v in labels.values() if v)
    n_drop = len(labels) - n_keep
    dfk: Counter = Counter()
    dfd: Counter = Counter()
    for d, ts in toks.items():
        for t in ts:
            if labels[d]:
                dfk[t] += 1
            else:
                dfd[t] += 1
    vocab = sorted(
        set(dfk) | set(dfd),
        key=lambda t: (-(dfk[t] + dfd[t]), t),
    )[:QSCORE_VOCAB]
    w = {
        t: dfk[t] * n_drop - dfd[t] * n_keep for t in vocab
    }
    score = {
        d: sum(w.get(t, 0) for t in ts) for d, ts in toks.items()
    }
    tot = sum(score.values())
    n = len(score)
    want = {
        d: (s, s * n > tot, labels[d]) for d, s in score.items()
    }
    assert got == want


def test_ccnet_perplexity_matches_python_reference(spark):
    """Third, fully independent implementation of the CCNet filter
    (the engine is a Spark fold, the oracle a recursive SQL replay):
    hashed-bigram LM training, integer log weights, per-doc nll sums,
    exact-integer head/tail thresholds, micro-nat xent rounding."""
    import hashlib
    import math

    from collections import Counter

    from pyspark.sql import functions as F

    from article_extractor_spark.queries import (
        DSIR_TARGET_LANG,
        PPLX_B_BUCKETS,
        PPLX_HEAD_PM,
        PPLX_TAIL_PM,
        PPLX_U_BUCKETS,
        QUERY_FNS,
        load,
    )

    got = {
        r["doc_id"]: (r["xent"], r["bucket"])
        for r in QUERY_FNS["ccnet_perplexity"](spark, SF_DIR).collect()
    }
    rows = (
        load(spark, SF_DIR, "documents")
        .select("doc_id", F.lower(F.col("text")).alias("t"), "lang")
        .collect()
    )

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    docs = []
    c1: Counter = Counter()
    c2: Counter = Counter()
    for r in rows:
        ts = r["t"].split() if r["t"].strip() else []
        bgs = [
            (h(ts[i]) % PPLX_U_BUCKETS, h(f"{ts[i]} {ts[i + 1]}") % PPLX_B_BUCKETS)
            for i in range(len(ts) - 1)
        ]
        docs.append((r["doc_id"], len(ts) - 1, bgs))
        if r["lang"] == DSIR_TARGET_LANG:
            for b1, b2 in bgs:
                c1[b1] += 1
                c2[b2] += 1
    barr = [
        math.floor(1e6 * math.log(c2.get(j, 0) + 1))
        for j in range(PPLX_B_BUCKETS)
    ]
    uarr = [
        math.floor(1e6 * math.log(c1.get(i, 0) + PPLX_B_BUCKETS))
        for i in range(PPLX_U_BUCKETS)
    ]
    nll = {
        d: -sum(barr[b2] - uarr[b1] for b1, b2 in bgs)
        for d, n, bgs in docs
    }
    tot_n = sum(n for _, n, _ in docs)
    tot_nll = sum(nll.values())
    a = tot_n * 1000
    want = {}
    for d, n, _ in docs:
        if n <= 0:
            want[d] = (0.0, "short")
            continue
        xent = ((2 * nll[d] + n) // (2 * n)) / 1e6
        if nll[d] * a <= tot_nll * PPLX_HEAD_PM * n:
            b = "head"
        elif nll[d] * a > tot_nll * PPLX_TAIL_PM * n:
            b = "tail"
        else:
            b = "middle"
        want[d] = (xent, b)
    assert got == want


def test_robots_eval_matches_python_rfc_matcher(spark):
    """Independent Python RFC 9309 matcher (parse the same generated
    robots body with a from-scratch group parser, longest-match with
    allow-wins-ties) — must reproduce every per-URL verdict."""
    import re

    from article_extractor_spark.queries import QUERY_FNS, load

    got = {
        r["doc_id"]: r["allowed"]
        for r in QUERY_FNS["robots_eval"](spark, SF_DIR).collect()
    }
    rows = load(spark, SF_DIR, "documents").select(
        "doc_id", "source"
    ).collect()

    def rules_for(source: str):
        num = re.search(r"src([0-9]+)", source).group(1)
        body = (
            "User-agent: other-bot\nDisallow: /\n\n"
            "User-agent: *\n"
            f"Disallow: /docs/{num}\n"
            f"Allow: /docs/{num}{int(num) % 10}\n"
            "Disallow: /private\n"
        )
        # independent parse: the '*' group = lines after its UA header
        # up to a blank line
        m = re.search(r"User-agent: \*\n(.*?)(?:\n\n|$)", body, re.S)
        rules = [("", True)]  # zero-length default Allow
        for line in m.group(1).split("\n"):
            lm = re.match(r"^(Allow|Disallow): *(\S.*)$", line)
            if lm:
                rules.append((lm.group(2).strip(), lm.group(1) == "Allow"))
        return rules

    cache = {}
    for r in rows:
        src = r["source"]
        if src not in cache:
            cache[src] = rules_for(src)
        path = f"/docs/{r['doc_id']}"
        best = max(
            (
                (len(p), allow)
                for p, allow in cache[src]
                if path.startswith(p)
            ),
        )
        assert got[r["doc_id"]] == best[1], (r["doc_id"], src)


def test_decontaminate_matches_brute_force(spark):
    """Brute-force benchmark-overlap reference: enumerate every word
    8-gram of every corpus doc and intersect with the benchmark's
    8-gram set — contaminated docs and their overlap counts must match
    the broadcast-join implementation exactly."""
    from pyspark.sql import functions as F

    from article_extractor_spark.pipeline import (
        DECONTAM_BENCH_IDS,
        DECONTAM_N,
    )
    from article_extractor_spark.queries import (
        QUERY_FNS,
        load,
    )

    got = {
        r[0]: r[1]
        for r in QUERY_FNS["decontaminate"](spark, SF_DIR).collect()
    }
    rows = load(spark, SF_DIR, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("t")
    ).collect()
    n = DECONTAM_N
    grams = {}
    for r in rows:
        ts = r["t"].split() if r["t"].strip() else []
        grams[r["doc_id"]] = {
            tuple(ts[i : i + n]) for i in range(len(ts) - n + 1)
        }
    bench = set()
    for d, gs in grams.items():
        if d < DECONTAM_BENCH_IDS:
            bench |= gs
    want = {}
    for d, gs in grams.items():
        if d < DECONTAM_BENCH_IDS:
            continue
        k = len(gs & bench)
        if k:
            want[d] = k
    assert got == want


def test_source_mixture_matches_python_reference(spark):
    """Independent replay of the token-budget mixture: per source,
    docs in (hash-priority, doc_id) order accumulate until the
    min-source budget — must equal the bucketed two-phase
    decomposition exactly."""
    import hashlib

    from collections import defaultdict

    from pyspark.sql import functions as F

    from article_extractor_spark.queries import QUERY_FNS, load
    from article_extractor_spark.functions.text import token_count

    got = {
        r["doc_id"]: (r["n_tokens"], r["cum_before"], r["kept"])
        for r in QUERY_FNS["source_mixture"](spark, SF_DIR).collect()
    }
    rows = (
        load(spark, SF_DIR, "documents")
        .select(
            "doc_id", "source", token_count(F.col("text")).alias("n")
        )
        .collect()
    )
    by_src = defaultdict(list)
    for r in rows:
        pri = int(
            hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:15], 16
        )
        by_src[r["source"]].append((pri, r["doc_id"], r["n"]))
    budget = min(
        sum(n for _, _, n in docs) for docs in by_src.values()
    )
    want = {}
    for docs in by_src.values():
        acc = 0
        for _, d, n in sorted(docs):
            want[d] = (n, acc, acc + n <= budget)
            acc += n
    assert got == want


def test_dsir_weights_match_python_reference(spark):
    """Independent Python DSIR replay: hashed-unigram class counts,
    add-1 smoothed integer log-ratio weights (same left-assoc float
    expression), per-doc integer sums, exact-integer mean calibration
    — must reproduce the engine bit-for-bit."""
    import hashlib
    import math

    from collections import Counter

    from pyspark.sql import functions as F

    from article_extractor_spark.queries import (
        DSIR_BUCKETS,
        DSIR_TARGET_LANG,
        QUERY_FNS,
        load,
    )

    got = {
        r["doc_id"]: (r["iw"], r["selected"])
        for r in QUERY_FNS["dsir_weights"](spark, SF_DIR).collect()
    }
    rows = (
        load(spark, SF_DIR, "documents")
        .select(
            "doc_id", F.lower(F.col("text")).alias("t"), "lang"
        )
        .collect()
    )

    def bucket(tok: str) -> int:
        return (
            int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            % DSIR_BUCKETS
        )

    p: Counter = Counter()
    q: Counter = Counter()
    docs = []
    for r in rows:
        ts = r["t"].split() if r["t"].strip() else []
        bs = [bucket(t) for t in ts]
        docs.append((r["doc_id"], bs))
        for b in bs:
            q[b] += 1
            if r["lang"] == DSIR_TARGET_LANG:
                p[b] += 1
    tp = sum(p.values()) + DSIR_BUCKETS
    tq = sum(q.values()) + DSIR_BUCKETS
    w = [
        math.floor(
            1e6
            * (
                math.log(p.get(b, 0) + 1)
                - math.log(tp)
                - math.log(q.get(b, 0) + 1)
                + math.log(tq)
            )
        )
        for b in range(DSIR_BUCKETS)
    ]
    iw = {d: sum(w[b] for b in bs) for d, bs in docs}
    tot = sum(iw.values())
    n = len(iw)
    want = {d: (v, v * n > tot) for d, v in iw.items()}
    assert got == want


def test_bm25_topk_matches_python_reference(spark):
    """Independent Python BM25 over the same corpus slice: same
    Robertson idf, same k1/b normalization, same IEEE expression
    order — must reproduce the engine's top-k exactly."""
    import math

    from pyspark.sql import functions as F

    from article_extractor_spark.queries import (
        BM25_B,
        BM25_K1,
        BM25_QUERY_TERMS,
        BM25_TOP_K,
        QUERY_FNS,
        load,
    )

    got = [
        (r["doc_id"], r["bm25"])
        for r in QUERY_FNS["bm25_topk"](spark, SF_DIR).collect()
    ]
    rows = (
        load(spark, SF_DIR, "documents")
        .select("doc_id", F.lower(F.col("text")).alias("t"))
        .collect()
    )
    docs = {
        r["doc_id"]: (r["t"].split() if r["t"].strip() else [])
        for r in rows
    }
    n = len(docs)
    avgdl = sum(len(ts) for ts in docs.values()) / n
    df = [
        sum(1 for ts in docs.values() if term in ts)
        for term in BM25_QUERY_TERMS
    ]
    scored = []
    for d, ts in docs.items():
        dl = len(ts)
        score = 0.0
        for i, term in enumerate(BM25_QUERY_TERMS):
            tf = sum(1 for x in ts if x == term)
            idf = math.log((n - df[i] + 0.5) / (df[i] + 0.5) + 1.0)
            denom = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)
            score = score + idf * (tf * (BM25_K1 + 1.0)) / denom
        score = round(score, 6)
        if score > 0.0:
            scored.append((d, score))
    scored.sort(key=lambda x: (-x[1], x[0]))
    assert got == scored[:BM25_TOP_K]


def test_sequence_pack_matches_global_cumsum(spark):
    """Independent reference for the two-phase distributed prefix sum:
    a single-pass Python cumsum in doc_id order must give identical
    start offsets and chunk assignments (DIV truncates toward zero,
    mirrored for the degenerate 0-token case)."""
    from pyspark.sql import functions as F

    from article_extractor_spark.queries import (
        PACK_CHUNK_TOKENS,
        QUERY_FNS,
        load,
    )
    from article_extractor_spark.functions.text import token_count

    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["start_token"],
            r["first_chunk"],
            r["last_chunk"],
            r["spans_boundary"],
        )
        for r in QUERY_FNS["sequence_pack"](spark, SF_DIR).collect()
    }
    toks = sorted(
        (r["doc_id"], r["n"])
        for r in load(spark, SF_DIR, "documents")
        .select("doc_id", token_count(F.col("text")).alias("n"))
        .collect()
    )

    def tdiv(a: int, c: int) -> int:
        return a // c if a >= 0 else -((-a) // c)

    acc = 0
    want = {}
    for d, n in toks:
        first = tdiv(acc, PACK_CHUNK_TOKENS)
        last = tdiv(acc + n - 1, PACK_CHUNK_TOKENS)
        want[d] = (n, acc, first, last, first != last)
        acc += n
    assert got == want


def test_link_pagerank_matches_python_fixed_point(spark):
    """Independent Python replay of the integer fixed-point PageRank
    (same synthetic edge graph, same DIV truncation) — the distributed
    join/agg iteration must be bit-identical."""
    from article_extractor_spark.queries import (
        PAGERANK_ITERS,
        PAGERANK_SCALE,
        QUERY_FNS,
        load,
    )

    got = {
        r["doc_id"]: r["pagerank"]
        for r in QUERY_FNS["link_pagerank"](spark, SF_DIR).collect()
    }
    n = load(spark, SF_DIR, "documents").count()
    edges = [(i, (2 * i + 1) % n) for i in range(n)] + [
        (i, (3 * i + 7) % n) for i in range(n)
    ]
    ranks = {i: PAGERANK_SCALE // n for i in range(n)}
    base = PAGERANK_SCALE * 15 // (100 * n)
    for _ in range(PAGERANK_ITERS):
        incoming = {i: 0 for i in range(n)}
        for s, d in edges:
            incoming[d] += ranks[s] // 2
        ranks = {i: base + (85 * incoming[i]) // 100 for i in range(n)}
    assert got == ranks


def test_rate_limit_schedule_matches_sequential_simulation(spark):
    """The closed form ``s_i = running_max(ts_j − j·D) + i·D`` must
    equal the reference's sequential next-available loop
    ``s_i = max(ts_i, s_{i-1} + D)`` — simulated independently here
    over the real corpus slice, per host."""
    from collections import defaultdict

    from article_extractor_spark.queries import (
        QUERY_FNS,
        RATE_LIMIT_DELAY_US,
        load,
    )

    got = {
        (r["user_id"], r["event_id"]): r["wait_us"]
        for r in QUERY_FNS["rate_limit_schedule"](spark, SF_DIR).collect()
    }
    rows = (
        load(spark, SF_DIR, "events")
        .selectExpr(
            "user_id",
            "event_id",
            "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us",
        )
        .collect()
    )
    by_host = defaultdict(list)
    for r in rows:
        by_host[r["user_id"]].append((r["ts_us"], r["event_id"]))
    for host, evs in by_host.items():
        evs.sort()
        prev = None
        for ts_us, eid in evs:
            s = (
                ts_us
                if prev is None
                else max(ts_us, prev + RATE_LIMIT_DELAY_US)
            )
            assert got[(host, eid)] == s - ts_us, (host, eid)
            prev = s


def test_line_dedup_matches_brute_force(spark):
    """Differential check against an independent reference (same
    rationale as the ExactSubstr brute-force test): segment into
    consecutive k-token lines, keep each line only at its global first
    (doc_id, pos), reassemble.  Random duplicate-dense corpora."""
    import random

    from article_extractor_spark.functions.dedup import (
        LINE_TOKENS,
        line_dedup,
    )

    k = LINE_TOKENS
    rng = random.Random(8181)
    alphabet = ["p", "q", "r"]
    for trial in range(5):
        docs = [
            (
                d,
                " ".join(
                    rng.choice(alphabet)
                    for _ in range(rng.randrange(0, 11))
                ),
            )
            for d in range(rng.randrange(2, 6))
        ]
        seen: dict = {}
        want = {}
        for d, t in sorted(docs):
            ts = t.split() if t.strip() else []
            lines = [
                " ".join(ts[i : i + k]) for i in range(0, len(ts), k)
            ]
            for pos, ln in enumerate(lines):
                seen.setdefault(ln, (d, pos))
            if not lines:
                continue  # tokenless docs emit no row (mirror engine)
            kept = [
                ln
                for pos, ln in enumerate(lines)
                if seen[ln] == (d, pos)
            ]
            want[d] = (len(lines), len(kept), " ".join(kept))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_lines"], r["n_kept"], r["dedup_text"])
            for r in line_dedup(df).collect()
        }
        assert got == want, (trial, docs)


def test_sketch_family_degenerate_inputs(spark):
    """Edge cases for the sketch/layout family: a single-item HLL
    group (estimate near 1), and Z-order at the domain corners
    (clamped, bijective)."""
    from pyspark.sql import functions as F

    from article_extractor_spark.functions.layout import zorder_key
    from article_extractor_spark.functions.sketches import hll_estimate

    one = spark.createDataFrame([("g", "solo")], "grp string, item string")
    est = hll_estimate(one, "item", group_cols=("grp",)).collect()[0]
    assert est["zero_registers"] == 255
    assert 0.5 < est["est_distinct"] < 3.0

    corners = spark.createDataFrame(
        [(0, 0), (1023, 1023), (1023, 0), (0, 1023)], "x long, y long"
    )
    keys = [
        r["z"]
        for r in corners.select(
            zorder_key(F.col("x"), F.col("y"), bits=10).alias("z")
        ).collect()
    ]
    assert keys[0] == 0
    assert keys[1] == (1 << 20) - 1
    assert keys[2] + keys[3] == (1 << 20) - 1  # complementary interleaves
    assert len(set(keys)) == 4


def test_curation_funnel_statuses_partition_corpus(spark):
    """Every document gets exactly one status; the benchmark slice is
    labeled first regardless of other attributes; kept rows carry a
    valid split; and the funnel keeps a nonzero majority at this
    corpus's quality profile."""
    from collections import Counter

    from article_extractor_spark.queries import QUERY_FNS, load

    rows = QUERY_FNS["curation_funnel"](spark, SF_DIR).collect()
    n_docs = load(spark, SF_DIR, "documents").count()
    assert len(rows) == n_docs  # one verdict per doc, no dup/loss
    c = Counter(r["status"] for r in rows)
    bench = sum(v for k, v in c.items() if k == "benchmark")
    assert bench == 10  # DECONTAM_BENCH_IDS
    kept = sum(v for k, v in c.items() if k.startswith("kept:"))
    assert 0 < kept < n_docs
    for k in c:
        assert k == "benchmark" or k.startswith(
            ("quality:", "kept:", "exact_dup", "near_dup", "contaminated")
        ), k
    assert {k for k in c if k.startswith("kept:")} <= {
        "kept:train",
        "kept:val",
        "kept:test",
    }


def test_histogram_quantiles_within_bin_of_exact(spark):
    """The fixed-bin estimator must land within one bin width of the
    exact discrete percentile — the accuracy contract that justifies
    swapping it for the buffering exact percentile at scale."""
    import math

    from pyspark.sql import functions as F

    from article_extractor_spark.queries import (
        HIST_BIN_WIDTH,
        QUERY_FNS,
        load,
    )
    from article_extractor_spark.functions.text import token_count

    est = {
        r["source"]: r
        for r in QUERY_FNS["histogram_quantiles"](spark, SF_DIR).collect()
    }
    toks = (
        load(spark, SF_DIR, "documents")
        .select("source", token_count(F.col("text")).alias("n"))
        .collect()
    )
    by_src: dict = {}
    for r in toks:
        by_src.setdefault(r["source"], []).append(r["n"])
    for src, vals in by_src.items():
        vals.sort()
        for name, q in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
            exact = vals[math.ceil(q * len(vals)) - 1]
            assert abs(est[src][name] - exact) <= HIST_BIN_WIDTH, (
                src,
                name,
                est[src][name],
                exact,
            )


def test_compaction_plan_group_size_bound(spark):
    """Cumulative-sum bucketing guarantee: every rewrite group's total
    is under target + the largest straddling file (the classic bin-fill
    bound), and groups are contiguous in the planned order — no group
    both undersized and followed by another (which would mean the
    planner split where it didn't need to)."""
    from collections import defaultdict

    from article_extractor_spark.queries import QUERY_FNS

    rows = QUERY_FNS["compaction_plan"](spark, SF_DIR).collect()
    target = 32768
    totals = defaultdict(int)
    maxfile = defaultdict(int)
    for r in rows:
        totals[r["out_group"]] += r["bytes"]
        maxfile[r["out_group"]] = max(maxfile[r["out_group"]], r["bytes"])
    for g, tot in totals.items():
        assert tot <= target + maxfile[g], (g, tot)
    # contiguity: the cumulative prefix through each non-final group
    # crosses that group's boundary (no premature cut; holds even when
    # an oversized file overshoots and skips group ids entirely)
    last = max(totals)
    cum = 0
    for g in sorted(totals):
        cum += totals[g]
        if g != last:
            assert cum >= (g + 1) * target, (g, cum)


def test_zorder_layout_prunes_both_dimensions(spark):
    """The point of the Morton layout: per-file min/max ranges are
    narrow on BOTH dimensions, so a point predicate on either one
    skips most files.  Compare against a time-sorted layout, where
    every file's user range covers everything (zero user pruning)."""
    from pyspark.sql import functions as F

    from article_extractor_spark.queries import QUERY_FNS, load

    import hashlib

    zstats = QUERY_FNS["zorder_layout"](spark, SF_DIR).collect()
    n_files = len(zstats)
    assert n_files > 10
    # probe a user that actually occurs throughout the corpus, via the
    # same md5 bucket the layout hashes it into
    user0 = (
        load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .count()
        .orderBy(F.desc("count"), F.asc("user_id"))
        .first()["user_id"]
    )
    u0 = int(hashlib.md5(str(user0).encode()).hexdigest()[:15], 16) & 1023
    z_hit = sum(
        1 for r in zstats if r["min_ubucket"] <= u0 <= r["max_ubucket"]
    )

    # time-sorted baseline: same file count target, files = hour ranges
    ev = load(spark, SF_DIR, "events")
    from article_extractor_spark.functions.text import md5_int

    secs = F.unix_timestamp(F.col("ts")) - F.unix_timestamp(
        F.lit("2024-01-01 00:00:00")
    )
    hours = F.least(F.floor(secs / F.lit(3600)).cast("long"), F.lit(1023))
    xu = md5_int(F.col("user_id").cast("string")).bitwiseAND(F.lit(1023))
    tstats = (
        ev.select(
            xu.alias("xu"),
            (hours * n_files / 1024).cast("long").alias("file_id"),
        )
        .groupBy("file_id")
        .agg(F.min("xu").alias("min_u"), F.max("xu").alias("max_u"))
        .collect()
    )
    t_hit = sum(1 for r in tstats if r["min_u"] <= u0 <= r["max_u"])
    z_frac = z_hit / n_files
    t_frac = t_hit / len(tstats)
    assert z_frac < 0.3, (z_hit, n_files)
    # the z layout must prune several times harder than time-sorted
    assert t_frac > 3 * z_frac, (t_hit, len(tstats), z_hit, n_files)


def test_hll_sketch_accuracy_and_merge(spark):
    """The deterministic HLL must (a) estimate within the theoretical
    error band (std error 6.5% at m=256; allow 3 sigma ~ 20%) and
    (b) merge: the sketch of a union equals the register-wise max of
    the part sketches — the property that makes it a sketch rather
    than a statistic."""
    from pyspark.sql import functions as F

    from article_extractor_spark.functions.sketches import (
        HLL_M,
        hll_estimate,
        hll_registers,
    )

    n = 3000
    rows = [("g", f"item-{i % n}") for i in range(2 * n)]
    df = spark.createDataFrame(rows, "grp string, item string")
    est = hll_estimate(df, "item", group_cols=("grp",)).collect()[0]
    assert est["m"] == HLL_M
    assert abs(est["est_distinct"] - n) / n < 0.20

    # merge property: union registers == max-merge of half registers
    halves = [
        df.where(F.md5("item").substr(1, 1) < "8"),
        df.where(F.md5("item").substr(1, 1) >= "8"),
    ]
    merged = (
        halves[0]
        .unionByName(halves[1])
        .transform(lambda d: hll_registers(d, "item", ("grp",)))
    )
    part_merge = (
        hll_registers(halves[0], "item", ("grp",))
        .unionByName(hll_registers(halves[1], "item", ("grp",)))
        .groupBy("grp", "reg")
        .agg(F.max("r").alias("r"))
    )
    got = {(r["reg"], r["r"]) for r in merged.collect()}
    want = {(r["reg"], r["r"]) for r in part_merge.collect()}
    assert got == want


def test_split_assign_is_deterministic_and_ratioed(spark):
    """Split assignment must be a pure function of doc_id (stable
    re-materialization) and land near the 90/5/5 bucket design."""
    from article_extractor_spark.queries import q_split_assign

    sf_dir = "/root/testdata/sf0.001"
    a = {r["doc_id"]: r["split"] for r in q_split_assign(spark, sf_dir).collect()}
    b = {r["doc_id"]: r["split"] for r in q_split_assign(spark, sf_dir).collect()}
    assert a == b and len(a) == 500
    n_train = sum(1 for s in a.values() if s == "train")
    assert 0.85 <= n_train / len(a) <= 0.95
    assert {"train", "val", "test"} == set(a.values())


def test_quality_lexical_learns_nondegenerate_model(spark):
    """Mean-calibrated lexical scorer must split the corpus into both
    predicted classes (the raw sign threshold degenerates to all-True
    because keep-docs are longer — this pins the calibration) and the
    learned scores must separate the classes in the right direction."""
    from article_extractor_spark.queries import q_quality_lexical

    rows = q_quality_lexical(spark, "/root/testdata/sf0.001").collect()
    assert {r["pred_keep"] for r in rows} == {True, False}
    keep_scores = [r["score"] for r in rows if r["label_keep"]]
    drop_scores = [r["score"] for r in rows if not r["label_keep"]]
    assert keep_scores and drop_scores
    assert (sum(keep_scores) / len(keep_scores)
            > sum(drop_scores) / len(drop_scores))


def test_dsir_weights_favor_target_domain(spark):
    """DSIR log importance weights must rank the target-domain slice
    (lang='en') above the rest on average — the defining property of
    importance resampling — and mean calibration must select a
    non-degenerate subset."""
    from article_extractor_spark.queries import (
        DSIR_TARGET_LANG,
        q_dsir_weights,
    )

    docs = {
        r["doc_id"]: r["lang"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "lang")
        .collect()
    }
    rows = q_dsir_weights(spark, SF_DIR).collect()
    target = [r["iw"] for r in rows if docs[r["doc_id"]] == DSIR_TARGET_LANG]
    rest = [r["iw"] for r in rows if docs[r["doc_id"]] != DSIR_TARGET_LANG]
    assert target and rest
    assert sum(target) / len(target) > sum(rest) / len(rest)
    assert {r["selected"] for r in rows} == {True, False}


def test_blocklist_filter_both_rules_fire_and_broadcasts(spark):
    """Both blocklist rules (C4 badword terms, UT1-style host
    blocklist) must actually fire on the corpus, keep must be their
    conjunction, and the host check must compile to a broadcast join
    (the corpus side never shuffles)."""
    from article_extractor_spark.queries import q_blocklist_filter

    df = q_blocklist_filter(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    rows = df.collect()
    assert any(r["blocked_term"] for r in rows)
    assert any(r["blocked_host"] for r in rows)
    assert any(r["keep"] for r in rows)
    for r in rows:
        assert r["keep"] == (not r["blocked_term"] and not r["blocked_host"])


def test_new_text_operators_survive_adversarial_inputs(spark):
    """The session's fold/array operators must not throw or mis-handle
    degenerate documents: empty text, single token, a 50k-token
    repeated-word doc (the fold is O(n), not O(n²) — guarded by a
    wall-clock bound), and unicode."""
    import time

    from pyspark.sql import functions as F

    from article_extractor_spark.functions import text as X

    big = "word " * 50_000
    rows = spark.createDataFrame(
        [("",), ("solo",), (big,), ("héllo wörld héllo wörld",)],
        ["text"],
    )
    t0 = time.time()
    got = rows.select(
        X.top_bigram_fraction(F.col("text")).alias("bg"),
        X.dup_line_fraction(F.col("text")).alias("dl"),
        X.top_word_fraction(F.col("text")).alias("tw"),
    ).collect()
    elapsed = time.time() - t0
    assert elapsed < 60, f"fold not linear? {elapsed:.1f}s"
    assert got[0]["bg"] == 0.0 and got[1]["bg"] == 0.0
    # 50k identical words: top bigram == all bigrams, all lines dup
    assert got[2]["bg"] == 1.0
    assert got[2]["tw"] == 1.0
    assert got[2]["dl"] > 0.99
    assert 0.0 <= got[3]["bg"] <= 1.0


def test_ccnet_perplexity_buckets_and_target_preference(spark):
    """All three CCNet buckets must be populated (corpus-relative cuts
    — absolute cuts collapse when corpus size shifts the xent scale),
    and target-domain (lang='en') docs must score LOWER cross-entropy
    under the LM trained on them than the rest do."""
    from article_extractor_spark.queries import (
        DSIR_TARGET_LANG,
        q_ccnet_perplexity,
    )

    langs = {
        r["doc_id"]: r["lang"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "lang")
        .collect()
    }
    rows = q_ccnet_perplexity(spark, SF_DIR).collect()
    buckets = {r["bucket"] for r in rows}
    assert {"head", "middle", "tail"} <= buckets
    tgt = [r["xent"] for r in rows if langs[r["doc_id"]] == DSIR_TARGET_LANG]
    rest = [r["xent"] for r in rows if langs[r["doc_id"]] != DSIR_TARGET_LANG]
    assert tgt and rest
    assert sum(tgt) / len(tgt) < sum(rest) / len(rest)


def test_gopher_repetition_extensions_hand_computed(spark):
    """top_bigram_fraction and dup_line_fraction against hand-computed
    values on crafted documents (k=3-token lines)."""
    from pyspark.sql import functions as F

    from article_extractor_spark.functions import text as X

    rows = spark.createDataFrame(
        [
            # bigrams: "a b","b a","a b","b c" → top "a b" 2/4; lines
            # (k=3): "a b a", "b c" → no dup
            ("a b a b c",),
            # 12 tokens, 4 identical lines → dup_line_frac 3/4;
            # bigrams: "x y" 8/11... wait: x y x | y x y ... compute in SQL
            ("x y x x y x x y x x y x",),
            ("",),
            ("solo",),
        ],
        ["text"],
    )
    got = rows.select(
        X.top_bigram_fraction(F.col("text")).alias("bg"),
        X.dup_line_fraction(F.col("text")).alias("dl"),
    ).collect()
    assert got[0]["bg"] == round(2 / 4, 6)
    assert got[0]["dl"] == 0.0
    # "x y x" * 4: lines are ["x y x"] * 4 → 3/4 duplicated
    assert got[1]["dl"] == 0.75
    # bigrams: 11 total; "x y" 4, "y x" 4, "x x" 3 → top 4/11
    assert got[1]["bg"] == round(4 / 11, 6)
    assert got[2]["bg"] == 0.0 and got[2]["dl"] == 0.0
    assert got[3]["bg"] == 0.0 and got[3]["dl"] == 0.0


def test_bpe_merges_match_python_reference(spark):
    """The distributed BPE trainer must reproduce, merge for merge, an
    independent plain-Python subword-nmt implementation (dict-counted
    pairs, greedy left-to-right merge, ties to the lexicographically
    smallest pair) run over the same word-frequency table — this pins
    the string-encoded merge semantics independently of both engines."""
    from collections import Counter

    import duckdb

    from article_extractor_spark.queries import BPE_MERGES, q_bpe_merges

    freqs = dict(
        duckdb.sql(
            "SELECT w, COUNT(*) FROM (SELECT unnest(string_split_regex("
            "trim(lower(text)), '\\s+')) AS w FROM "
            f"'{SF_DIR}/documents.parquet' WHERE trim(text) != '') GROUP BY w"
        ).fetchall()
    )
    vocab = {tuple(w): f for w, f in freqs.items()}
    expected = []
    for rank in range(BPE_MERGES):
        counts = Counter()
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += f
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p))
        expected.append((rank, best[0], best[1], counts[best]))
        merged = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            merged[tuple(out)] = merged.get(tuple(out), 0) + f
        vocab = merged

    got = [
        (r["merge_rank"], r["lhs"], r["rhs"], r["pair_freq"])
        for r in q_bpe_merges(spark, SF_DIR).orderBy("merge_rank").collect()
    ]
    assert got == expected
    assert len(got) == BPE_MERGES


def test_bpe_merges_driver_and_distributed_paths_agree(spark):
    """The size-gated driver merge loop (vocab ≤ BPE_SMALL_VOCAB_MAX →
    plain-Python iteration over the collected vocabulary) must emit the
    exact merge table of the distributed loop (forced via
    ``small_vocab_max=0``), rank for rank."""
    from article_extractor_spark.queries import q_bpe_merges

    fast = [
        tuple(r)
        for r in q_bpe_merges(spark, SF_DIR).orderBy("merge_rank").collect()
    ]
    dist = [
        tuple(r)
        for r in q_bpe_merges(spark, SF_DIR, small_vocab_max=0)
        .orderBy("merge_rank")
        .collect()
    ]
    assert fast == dist
    assert len(fast) > 0


def test_bpe_subword_counts_bounded_and_compressive(spark):
    """Subword counts under the trained tokenizer must lie between the
    whitespace token count (every word ≥ 1 subword) and the non-space
    character count (merges only shrink), and the learned merges must
    actually compress the corpus (strictly fewer subwords than chars
    overall)."""
    from article_extractor_spark.queries import q_bpe_subword_counts

    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    rows = q_bpe_subword_counts(spark, SF_DIR).collect()
    assert len(rows) == len(docs)
    total_sub = total_chars = 0
    for r in rows:
        words = docs[r["doc_id"]].lower().split()
        n_chars = sum(len(w) for w in words)
        assert len(words) <= r["n_subwords"] <= n_chars
        total_sub += r["n_subwords"]
        total_chars += n_chars
    assert total_sub < total_chars


def test_anchor_texts_aggregates_without_window(spark):
    """Anchor aggregation must be pure hash aggregation (the top-anchor
    tie-break is a partial-aggregable min(struct), never a per-target
    window sort), and the synthetic graph must actually produce anchor
    collisions for the top-anchor rule to resolve."""
    from article_extractor_spark.queries import q_anchor_texts

    df = q_anchor_texts(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    rows = df.collect()
    assert rows
    assert any(r["n_distinct_anchors"] < r["n_inlinks"] for r in rows)
    for r in rows:
        assert r["n_distinct_anchors"] <= r["n_inlinks"]
        assert r["top_anchor"]


def _partitioned_window_lines_ok(plan: str) -> list[str]:
    """Physical-plan lines with an UNPARTITIONED Window (two bracket
    groups: [exprs], [order] — a partitioned one has [exprs],
    [partition], [order])."""
    bad = []
    for line in plan.splitlines():
        s = line.strip()
        if s.startswith("Window ") or " Window " in s:
            if s.count("], [") < 2:
                bad.append(s)
    return bad


def test_bpe_subword_counts_big_vocab_path_matches_broadcast(spark):
    """threshold=0 forces the at-scale explode→join→re-agg spelling;
    its output must be IDENTICAL to the broadcast-map fold."""
    from article_extractor_spark.queries import q_bpe_subword_counts

    small = {
        r["doc_id"]: r["n_subwords"]
        for r in q_bpe_subword_counts(spark, SF_DIR).collect()
    }
    big_df = q_bpe_subword_counts(
        spark, SF_DIR, vocab_broadcast_threshold=0
    )
    big = {r["doc_id"]: r["n_subwords"] for r in big_df.collect()}
    assert big == small
    plan = big_df._jdf.queryExecution().executedPlan().toString()
    assert _partitioned_window_lines_ok(plan) == []


def test_packed_examples_big_vocab_path_matches_broadcast(spark):
    """threshold=0 forces shuffled vocab joins + the two-phase
    deterministic-bucket subword-id rank; chunks, ids, and counts must
    be identical to the broadcast + global-row_number path, and the
    forced plan must contain NO unpartitioned Window."""
    from article_extractor_spark.queries import q_packed_examples

    small = {
        r["chunk_id"]: (r["n_tokens"], r["ids"])
        for r in q_packed_examples(spark, SF_DIR).collect()
    }
    big_df = q_packed_examples(spark, SF_DIR, vocab_broadcast_threshold=0)
    big = {
        r["chunk_id"]: (r["n_tokens"], r["ids"])
        for r in big_df.collect()
    }
    assert big == small
    plan = big_df._jdf.queryExecution().executedPlan().toString()
    assert _partitioned_window_lines_ok(plan) == [], plan


def test_lex_dense_ids_equal_global_row_number(spark):
    """The two-phase rank must reproduce row_number over a global
    ORDER BY exactly — including empty strings, unicode first chars,
    and strings sharing first characters."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from article_extractor_spark.queries import _lex_dense_ids

    vals = [
        "", "a", "aa", "ab", "b", "ba", "zz", "0", "9", "~", "é", "éa",
        "日本", "mid", "midway", "Z",
    ]
    df = spark.createDataFrame([(v,) for v in vals], "sub string")
    expected = {
        r["sub"]: r["tid"]
        for r in df.select(
            "sub",
            F.row_number().over(Window.orderBy("sub")).alias("tid"),
        ).collect()
    }
    got = {r["sub"]: r["tid"] for r in _lex_dense_ids(df, "sub").collect()}
    assert got == expected


def test_sitemap_tree_resolution_membership(spark):
    """Arbitrary-depth resolution evidence: only sources reachable
    through root → mid-0 → {sub-0, sub-2} (src_num % 3 ∈ {0, 2}) plus
    the directly-seeded src1 urlset appear; sub-1's sources (orphaned
    mid-1 branch) must NOT — proof the resolver walked the tree instead
    of scanning every urlset."""
    from article_extractor_spark.queries import q_sitemap_tree_locs

    got = {r["source"] for r in q_sitemap_tree_locs(spark, SF_DIR).collect()}
    import duckdb

    all_sources = {
        s for (s,) in duckdb.sql(
            f"SELECT DISTINCT source FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
    }
    expected = {
        s for s in all_sources
        if int(s[3:]) % 3 in (0, 2) or s == "src1"
    }
    assert got == expected
    assert any(int(s[3:]) % 3 == 1 and s != "src1" for s in all_sources)


# ---------------------------------------------------------------------------
# chunk_windows / heavy_hitters / tfidf_cosine_pairs (round 4)
# ---------------------------------------------------------------------------


def test_chunk_windows_reassembly_property(spark):
    """Concatenating each document's chunks with the overlap regions
    dropped reproduces the document's token stream exactly, and chunk
    sizing follows the window/stride contract."""
    from article_extractor_spark.queries import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        QUERY_FNS,
    )

    chunks = (
        QUERY_FNS["chunk_windows"](spark, SF_DIR)
        .toPandas()
        .sort_values(["doc_id", "chunk_id"])
    )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").toPandas()
    texts = dict(zip(docs["doc_id"], docs["text"]))
    assert len(chunks) > 0
    for doc_id, grp in chunks.groupby("doc_id"):
        toks = texts[doc_id].split()
        rebuilt: list[str] = []
        for _, row in grp.iterrows():
            ctoks = row["chunk_text"].split()
            assert row["n_chunk_tokens"] == len(ctoks)
            assert row["start_token"] == row["chunk_id"] * CHUNK_STRIDE
            assert len(ctoks) <= CHUNK_TOKENS
            # drop the overlap with what's already rebuilt
            rebuilt.extend(ctoks[len(rebuilt) - row["start_token"]:])
        assert rebuilt == toks, doc_id
        # every chunk but the last is full-size
        sizes = list(grp["n_chunk_tokens"])
        assert all(s == CHUNK_TOKENS for s in sizes[:-1]) or len(toks) < CHUNK_TOKENS


def test_mg_candidates_superset_and_partition_independence(spark):
    """Misra-Gries with a FORCED tiny k: (a) per-partition survivors are
    a superset of the true global heavy hitters for every partitioning
    tried, so (b) the exact-recount result is partitioning-independent
    and equals the brute-force answer."""
    from collections import Counter

    from pyspark.sql import functions as F

    from article_extractor_spark.queries import mg_candidates

    # adversarial stream: two dominant tokens, a mid tail, unique noise
    rows = (
        [("hot1 " * 50).split()] * 40
        + [("hot2 " * 30 + "mid1 mid2 mid3").split()] * 30
        + [[f"noise{i}", "mid1"] for i in range(300)]
    )
    truth = Counter(t for r in rows for t in r)
    total = sum(truth.values())
    k = 4
    heavy = {t for t, c in truth.items() if c * (k + 1) > total}
    assert heavy  # the test must exercise a non-empty answer
    for parts in (1, 3, 16):
        df = spark.createDataFrame(
            [(r,) for r in rows], "toks array<string>"
        ).repartition(parts)
        cand = {
            r["token"]
            for r in mg_candidates(df, "toks", k=k).distinct().collect()
        }
        assert heavy <= cand, (parts, heavy - cand)
        exact = {
            t: truth[t] for t in cand if truth[t] * (k + 1) > total
        }
        assert set(exact) == heavy


def test_tfidf_cosine_pairs_independent_replay(spark, oracle_con):
    """Implementation-independent pure-Python replay of the idf-weighted
    shingle cosine (set shingling, integer-quantized idf, df cut) on the
    sf0.001 corpus — a third implementation agreeing with both engines."""
    import math
    import re

    from article_extractor_spark.queries import (
        QUERY_FNS,
        TFIDF_IDF_SCALE,
        TFIDF_MAX_DF,
        TFIDF_MIN_COSINE,
        TFIDF_MIN_DF,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").toPandas()

    def shingles(text: str) -> set[str]:
        norm = re.sub(r"\s+", " ", text.strip().lower())
        w = norm.split(" ") if norm else []
        if len(w) < 3:
            return {norm}
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sh = {r.doc_id: shingles(r.text) for r in docs.itertuples()}
    n_docs = len(docs)
    df_counts: dict[str, int] = {}
    for s_set in sh.values():
        for s in s_set:
            df_counts[s] = df_counts.get(s, 0) + 1
    idf = {
        s: int(round(math.log(n_docs / d) * TFIDF_IDF_SCALE))
        for s, d in df_counts.items()
        if TFIDF_MIN_DF <= d <= TFIDF_MAX_DF
    }
    vecs = {
        doc: {s: idf[s] for s in s_set if s in idf}
        for doc, s_set in sh.items()
    }
    norms = {doc: sum(w * w for w in v.values()) for doc, v in vecs.items()}
    expect = set()
    ids = sorted(vecs)
    # invert: shingle -> docs, then pair within postings (like the join)
    postings: dict[str, list] = {}
    for doc in ids:
        for s in vecs[doc]:
            postings.setdefault(s, []).append(doc)
    pair_dots: dict[tuple, int] = {}
    for s, ds in postings.items():
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                a, b = sorted((ds[i], ds[j]))
                pair_dots[(a, b)] = pair_dots.get((a, b), 0) + idf[s] ** 2
    for (a, b), dot in pair_dots.items():
        cos = round(dot / math.sqrt(float(norms[a]) * float(norms[b])), 6)
        if cos >= TFIDF_MIN_COSINE:
            expect.add((a, b, cos))
    got = {
        (r["doc_a"], r["doc_b"], r["cosine"])
        for _, r in QUERY_FNS["tfidf_cosine_pairs"](spark, SF_DIR)
        .toPandas()
        .iterrows()
    }
    assert got == expect
    assert len(got) > 0


def test_chunk_windows_boundaries(spark, tmp_path):
    """Window-arithmetic edges: empty text emits nothing; 1, W, and W+1
    tokens emit exactly 1, 1, and 2 chunks with the right tails."""
    import pandas as pd

    from article_extractor_spark.queries import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        QUERY_FNS,
    )

    w = CHUNK_TOKENS
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            "source": ["s"] * 5,
            "text": [
                "",
                "one",
                " ".join(f"t{i}" for i in range(w)),
                " ".join(f"t{i}" for i in range(w + 1)),
                " ".join(f"t{i}" for i in range(w + CHUNK_STRIDE)),
            ],
        }
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(docs).write.parquet(str(sf / "documents.parquet"))
    out = (
        QUERY_FNS["chunk_windows"](spark, str(sf))
        .toPandas()
        .sort_values(["doc_id", "chunk_id"])
    )
    by_doc = {k: g for k, g in out.groupby("doc_id")}
    assert 0 not in by_doc  # empty doc: no chunks
    assert list(by_doc[1]["n_chunk_tokens"]) == [1]
    assert list(by_doc[2]["n_chunk_tokens"]) == [w]
    # W+1 tokens: second chunk starts at the stride and carries the tail
    assert list(by_doc[3]["n_chunk_tokens"]) == [w, w + 1 - CHUNK_STRIDE]
    assert list(by_doc[3]["start_token"]) == [0, CHUNK_STRIDE]
    assert by_doc[3].iloc[-1]["chunk_text"].split()[-1] == f"t{w}"
    # W+S tokens: exactly two chunks, second is full-window
    assert list(by_doc[4]["n_chunk_tokens"]) == [w, w]


def test_bm25_stored_matches_inline_and_prunes(spark, tmp_path):
    """The stored-inverted-index BM25 probe is bit-equal to the inline
    two-pass scan, and its postings scan is partition-pruned to the
    query terms' buckets (the at-scale property: a term lookup reads
    len(terms)/POSTINGS_BUCKETS of the index, never the corpus)."""
    import zlib

    from article_extractor_spark import queries as Q

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    path = str(tmp_path / "postings")
    Q.write_postings(docs, path)

    stored = Q.bm25_topk_stored(spark, path)
    inline = Q.q_bm25_topk(spark, SF_DIR)
    assert [tuple(r) for r in stored.collect()] == [
        tuple(r) for r in inline.collect()
    ]

    plan = stored._jdf.queryExecution().executedPlan().toString()
    buckets = sorted(
        {
            zlib.crc32(t.encode()) % Q.POSTINGS_BUCKETS
            for t in Q.BM25_QUERY_TERMS
        }
    )
    assert "PartitionFilters" in plan
    for b in buckets:
        assert str(b) in plan

    # the layout is the classic postings shape: tf>0 rows only, with
    # the doc length denormalized in (zero joins in the probe)
    postings = spark.read.parquet(path)
    assert set(postings.columns) == {"term", "doc_id", "dl", "tf", "bucket"}
    assert postings.where("tf <= 0").count() == 0


def test_audio_features_wav_unit(spark):
    """WAV kernel battery: canonical 8-bit, 16-bit stereo with an
    extra LIST chunk before data, odd-size chunk alignment, truncated
    data, bad magic, unsupported bit depth — expectations computed by
    hand against the RIFF spec."""
    import struct

    from article_extractor_spark.functions import multimodal as M

    # 16-bit stereo, 3 frames: samples (L,R) = (100,-100),(0,32767),(-32768,5)
    pcm16 = struct.pack("<6h", 100, -100, 0, 32767, -32768, 5)
    stereo = M.encode_wav(pcm16, sample_rate=16000, channels=2, bits=16)
    # splice a LIST chunk (odd size 3 → pad byte) between fmt and data
    fmt_end = 12 + 8 + 16
    listed = (
        stereo[:fmt_end]
        + b"LIST" + struct.pack("<I", 3) + b"abc\x00"
        + stereo[fmt_end:]
    )
    good8 = M.encode_wav(b"hello")  # 5 samples, odd → writer pads
    truncated = good8[:-4]  # loses the pad byte + 3 data bytes
    bad_magic = b"RIFX" + good8[4:]
    bits24 = M.encode_wav(b"abc")
    bits24 = bits24.replace(struct.pack("<H", 8), struct.pack("<H", 24))

    rows = [
        (1, bytearray(listed)),
        (2, bytearray(good8)),
        (3, bytearray(truncated)),
        (4, bytearray(bad_magic)),
        (5, bytearray(bits24)),
        (6, bytearray(b"")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r["doc_id"]: r
        for r in M.audio_features(df).collect()
    }

    r = out[1]  # 16-bit stereo through the LIST chunk
    assert (r["sample_rate"], r["channels"], r["bits"]) == (16000, 2, 16)
    assert r["n_samples"] == 3 and r["duration_ms"] == 0
    expected_loud = (100 + 100 + 0 + 32767 + 32768 + 5) * 1000 // 6
    assert r["loud_milli"] == expected_loud and r["ok"]

    r = out[2]  # canonical 8-bit: "hello" = 104,101,108,108,111
    assert r["n_samples"] == 5
    assert r["loud_milli"] == sum(128 - b for b in b"hello") * 1000 // 5
    assert r["duration_ms"] == 5 * 1000 // 8000 and r["ok"]

    r = out[3]  # truncated: 2 whole samples survive ("he")
    assert r["ok"] and r["n_samples"] == 2
    assert r["loud_milli"] == sum(128 - b for b in b"he") * 1000 // 2

    assert not out[4]["ok"]  # bad magic
    assert not out[5]["ok"]  # unsupported bit depth
    assert not out[6]["ok"]  # empty payload


def test_snapshot_as_of_time_travel_semantics(spark):
    """Pin the MVCC rules the oracle can't state directly: tombstones
    hide documents, undeletes resurface them, late adds appear with
    their add wave, and versions beyond the pinned wave are invisible."""
    from article_extractor_spark.queries import QUERY_FNS

    rows = {
        r["doc_id"]: r
        for r in QUERY_FNS["snapshot_as_of"](spark, SF_DIR).collect()
    }
    import duckdb

    texts = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
    }
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    for doc_id, text in texts.items():
        deleted = doc_id % 11 == 3
        undeleted = deleted and doc_id % 2 == 0
        late_add = doc_id % 7 == 6
        # latest-writer-wins: wave-2 upserts (undelete, late add) beat
        # the wave-1 tombstone, so check them first
        if undeleted:
            assert rows[doc_id]["version_wave"] == 2
            assert rows[doc_id]["h"] == md5(text + " back")
            continue
        if late_add:
            assert rows[doc_id]["version_wave"] == 2
            assert rows[doc_id]["h"] == md5(text + " w2")
            continue
        if deleted:
            assert doc_id not in rows, f"{doc_id}: tombstone must hide"
            continue
        if doc_id % 3 == 0:
            assert rows[doc_id]["version_wave"] == 1
            assert rows[doc_id]["h"] == md5(text + " w1")
        else:
            # wave-3 refreshes (% 13 == 2) must NOT be visible: the
            # snapshot pins wave 2, so these stay at their wave-0 body
            assert rows[doc_id]["version_wave"] == 0
            assert rows[doc_id]["h"] == md5(text)


def test_vacuum_plan_consistent_with_snapshot(spark):
    """The vacuum planner and the time-travel read must agree: the
    planner's live-version total equals the full-log snapshot's row
    count (every live version IS a snapshot row at the final wave), and
    the synthetic log is garbage-rich enough that both rewrite
    decisions occur."""
    from article_extractor_spark.queries import (
        QUERY_FNS,
        _doc_version_log,
        load,
    )
    from pyspark.sql import functions as F

    plan = QUERY_FNS["vacuum_plan"](spark, SF_DIR).collect()
    assert {r["rewrite"] for r in plan} == {True, False}
    for r in plan:
        assert r["n_versions"] == r["n_live"] + r["n_dead"]
        assert r["rewrite"] == (r["n_dead"] * 4 >= r["n_versions"])

    # live under latest-writer-wins at the FINAL wave (3) — recompute
    # independently from the shared log
    log = _doc_version_log(load(spark, SF_DIR, "documents"))
    final_live = (
        log.groupBy("doc_id")
        .agg(F.max_by("op", "wave").alias("last_op"))
        .where(F.col("last_op") == "upsert")
        .count()
    )
    assert sum(r["n_live"] for r in plan) == final_live
    # version log covers every document (no doc escapes all waves)
    n_docs = load(spark, SF_DIR, "documents").count()
    assert log.select("doc_id").distinct().count() == n_docs


def test_recrawl_schedule_tier_semantics(spark):
    """The re-crawl scheduler must (a) retire exactly the tombstoned
    docs, (b) produce all four tiers on the synthetic log, (c) keep
    the smoothed rate consistent with its integer definition, and
    (d) order tiers by rate (hot ≥ warm ≥ cold within non-retired)."""
    from pyspark.sql import functions as F

    from article_extractor_spark.queries import (
        QUERY_FNS,
        RECRAWL_HOT_PPM,
        RECRAWL_WARM_PPM,
        _doc_version_log,
        load,
    )

    rows = QUERY_FNS["recrawl_schedule"](spark, SF_DIR).collect()
    tiers = {r["tier"] for r in rows}
    assert tiers == {"hot", "warm", "cold", "retired"}

    for r in rows:
        expect = (1_000_000 * (r["changes"] + 1)) // (
            r["opportunities"] + 2
        )
        assert r["rate_ppm"] == expect
        if r["tier"] == "hot":
            assert r["rate_ppm"] >= RECRAWL_HOT_PPM
        elif r["tier"] == "warm":
            assert RECRAWL_WARM_PPM <= r["rate_ppm"] < RECRAWL_HOT_PPM
        elif r["tier"] == "cold":
            assert r["rate_ppm"] < RECRAWL_WARM_PPM

    # retired == docs whose latest log op is a delete, recomputed
    # independently from the shared log
    log = _doc_version_log(load(spark, SF_DIR, "documents"))
    tombstoned = {
        r["doc_id"]
        for r in log.groupBy("doc_id")
        .agg(F.max_by("op", "wave").alias("last_op"))
        .where(F.col("last_op") == "delete")
        .collect()
    }
    assert {r["doc_id"] for r in rows if r["tier"] == "retired"} == tombstoned
    # every document is scheduled exactly once
    assert len(rows) == len({r["doc_id"] for r in rows})


def test_redirect_resolution_pointer_doubling(spark):
    """Pointer doubling must resolve every chain to its terminal with
    the exact hop count, equal to a plain driver-side walk; round
    count is logarithmic (4 rounds for 15-hop chains)."""
    from article_extractor_spark.queries import (
        QUERY_FNS,
        REDIRECT_SPAN,
    )

    rows = QUERY_FNS["redirect_resolution"](spark, SF_DIR).collect()
    by_src = {r["doc_id"]: r for r in rows}
    n = len(rows)
    assert n == len(by_src)  # one resolution per document
    for src, r in by_src.items():
        # reference: walk the synthesized chain one hop at a time
        cur, hops = src, 0
        while cur % REDIRECT_SPAN != 0:
            cur, hops = cur - 1, hops + 1
        assert (r["canonical_id"], r["hops"]) == (cur, hops), src
    # the synthetic graph exercises the full hop range
    assert {r["hops"] for r in rows} == set(
        range(min(REDIRECT_SPAN, n))
    )


def test_priority_sample_dlt_properties(spark):
    """Priority sampling must match a pure-Python replay of the DLT
    scheme (third implementation, independent of both engines'
    expression trees) and satisfy the estimator's structural
    invariants: est_weight = max(weight, τ) with τ the (k+1)-th
    priority, every kept priority ≥ τ, and weights in [1, 256]."""
    import hashlib

    import duckdb

    from article_extractor_spark.queries import (
        PRIORITY_SAMPLE_K,
        QUERY_FNS,
    )

    rows = QUERY_FNS["priority_sample"](spark, SF_DIR).collect()
    assert len(rows) == PRIORITY_SAMPLE_K

    # independent replay: re-derive every doc's (weight, priority) in
    # plain Python and select top-k the same way
    docs = duckdb.connect().execute(
        f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    replay = []
    for doc_id, text in docs:
        w = min(max(len(text.split()), 1), 256)
        h = int(
            hashlib.md5(f"psample:{doc_id}".encode()).hexdigest()[:15], 16
        )
        replay.append((doc_id, w, (w * float(2**60)) / float(h + 1)))
    replay.sort(key=lambda t: (-t[2], t[0]))
    tau = replay[PRIORITY_SAMPLE_K][2]
    expect = {
        d: (w, p, max(float(w), tau))
        for d, w, p in replay[:PRIORITY_SAMPLE_K]
    }

    for r in rows:
        ew, ep, eest = expect[r["doc_id"]]
        assert r["weight"] == ew
        assert r["priority"] == ep  # bit-exact: IEEE mul/div only
        assert r["est_weight"] == eest
        assert 1 <= r["weight"] <= 256
        assert r["priority"] >= tau


def test_pq_ann_codes_and_recall(spark):
    """PQ invariants: every vector gets exactly M codes in [0, K); the
    codebook has M·K centroids of dim/M ints; the ADC probe's measured
    recall@10 against the exact brute-force ranking is 10/10 at the
    shipped operating point (M=8, K=16, rerank 16) — the number the
    COVERAGE row claims."""
    import article_extractor_spark.functions.similarity as S
    from article_extractor_spark.queries import QUERY_FNS, load

    emb = load(spark, SF_DIR, "embeddings")
    cb = S.train_pq_codebook(emb, iters=2)
    rows = cb.collect()
    assert len(rows) == S.PQ_M * S.PQ_K
    dims = {len(r["cvec"]) for r in rows}
    assert dims == {64 // S.PQ_M}

    codes = S.pq_encode(emb, cb).collect()
    n = emb.count()
    assert len(codes) == n
    for r in codes:
        assert len(r["codes"]) == S.PQ_M
        assert all(0 <= c < S.PQ_K for c in r["codes"])

    truth = {
        r["vec_id"]
        for r in S.cosine_topk(emb, query_id=0, k=10).collect()
    }
    pq = {
        r["vec_id"]
        for r in QUERY_FNS["pq_ann_topk"](spark, SF_DIR).collect()
    }
    assert len(truth & pq) == 10


def test_pq_stored_matches_inline(spark):
    """The stored-codes PQ probe must return exactly the inline
    chain's rows (same training determinism at write time, same
    encode/ADC/rerank) — the bit-equality its shared oracle rests
    on."""
    from article_extractor_spark.queries import QUERY_FNS

    inline = QUERY_FNS["pq_ann_topk"](spark, SF_DIR).collect()
    stored = QUERY_FNS["pq_ann_topk_stored"](spark, SF_DIR).collect()
    assert [tuple(r) for r in inline] == [tuple(r) for r in stored]


def test_hits_mass_conservation_and_signal(spark):
    """L1 renormalization keeps each score family's total at
    HITS_SCALE up to per-node floor truncation (≤ 1 unit each), and
    the fixed-point arithmetic makes every value a nonnegative
    integer — the partitioning-independence the oracle relies on."""
    from article_extractor_spark.queries import HITS_SCALE, QUERY_FNS

    rows = QUERY_FNS["link_hits"](spark, SF_DIR).collect()
    n = len(rows)
    hub_tot = sum(r["hub"] for r in rows)
    auth_tot = sum(r["authority"] for r in rows)
    for tot in (hub_tot, auth_tot):
        assert HITS_SCALE - n <= tot <= HITS_SCALE
    assert all(r["hub"] >= 0 and r["authority"] >= 0 for r in rows)
    # the graph has out-degree exactly 2 everywhere, so hub scores are
    # non-degenerate (not all mass on one node)
    assert sum(1 for r in rows if r["hub"] > 0) > n // 2


def test_temperature_quotas_flatten_skew(spark):
    """The α=0.5 temperature rule must up-weight small sources
    relative to their raw share and down-weight dominant ones —
    checked on a deliberately skewed synthetic count table (the
    testdata sources are uniform, which would vacuously pass)."""
    from article_extractor_spark.queries import _temperature_quotas

    counts = spark.createDataFrame(
        [("big", 90_000), ("mid", 9_000), ("tiny", 1_000)],
        "source string, n_docs long",
    )
    out = {r["source"]: r for r in _temperature_quotas(counts).collect()}
    assert out["big"]["temp_weight_ppm"] < out["big"]["share_ppm"]
    assert out["tiny"]["temp_weight_ppm"] > out["tiny"]["share_ppm"]
    # weights are a distribution in ppm (up to integer truncation)
    w = sum(r["temp_weight_ppm"] for r in out.values())
    assert 1_000_000 - len(out) <= w <= 1_000_000
    # quotas respect the global budget of total // 2
    q = sum(r["quota"] for r in out.values())
    assert q <= 100_000 // 2


def test_temperature_sample_respects_quotas(spark):
    """Per-source kept counts equal min(quota, n_docs), and the kept
    set is the deterministic priority prefix (re-running yields the
    same sample)."""
    from article_extractor_spark.queries import QUERY_FNS

    mix = {
        r["source"]: r
        for r in QUERY_FNS["temperature_mixture"](spark, SF_DIR).collect()
    }
    rows = QUERY_FNS["temperature_sample"](spark, SF_DIR).collect()
    kept: dict[str, int] = {}
    seen: dict[str, int] = {}
    for r in rows:
        seen[r["source"]] = seen.get(r["source"], 0) + 1
        if r["kept"]:
            kept[r["source"]] = kept.get(r["source"], 0) + 1
        # kept iff rank within quota
        assert r["kept"] == (r["src_rank"] <= mix[r["source"]]["quota"])
    for s, m in mix.items():
        assert kept.get(s, 0) == min(m["quota"], seen[s])


def test_rrf_fusion_arithmetic(spark):
    """Every fused row's score recomputes exactly from its arm ranks,
    and membership is the union of the two arms' top-k lists."""
    from article_extractor_spark.queries import (
        QUERY_FNS,
        RRF_K,
        RRF_SCALE,
    )

    rows = QUERY_FNS["rrf_hybrid_topk"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        expect = 0
        if r["bm25_rank"] is not None:
            expect += RRF_SCALE // (RRF_K + r["bm25_rank"])
        if r["cosine_rank"] is not None:
            expect += RRF_SCALE // (RRF_K + r["cosine_rank"])
        assert r["bm25_rank"] is not None or r["cosine_rank"] is not None
        assert r["rrf_micro"] == expect
    # descending by fused score, ties by id
    scores = [(r["rrf_micro"], -r["doc_id"]) for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_markdown_variant_matches_reference_replay(spark):
    """Reference parity for the markdown-suffix conversion
    (discovery.py:748-785): the engine's column expressions must agree
    with the reference's actual urlparse/urlunparse algorithm —
    replayed verbatim below with suffix='.md' and
    allow_querystrings=False (the reference defaults) — on every
    generated URL, including every early-return arm."""
    from urllib.parse import urlparse, urlunparse

    from article_extractor_spark.queries import QUERY_FNS

    def reference_convert(url: str, is_seed: bool) -> str:
        suffix = ".md"
        if is_seed or not suffix:
            return url
        parsed = urlparse(url)
        path = parsed.path or "/"
        trimmed_path = path.rstrip("/")
        if not trimmed_path:
            return url
        if trimmed_path.endswith(suffix):
            markdown_path = trimmed_path
        else:
            last_segment = trimmed_path.split("/")[-1]
            if "." in last_segment:
                _base, ext = last_segment.rsplit(".", 1)
                if ext.lower() in {"html", "htm"}:
                    trimmed_path = trimmed_path[: -(len(ext) + 1)]
                else:
                    return url
            markdown_path = f"{trimmed_path}{suffix}"
        return urlunparse(
            (parsed.scheme, parsed.netloc, markdown_path, parsed.params, "", "")
        )

    rows = QUERY_FNS["markdown_variant_urls"](spark, SF_DIR).collect()
    assert len(rows) == 500
    shapes_changed = set()
    for r in rows:
        expect = reference_convert(r["url"], r["is_seed"])
        assert r["md_url"] == expect, (r["url"], r["md_url"], expect)
        assert r["changed"] == (r["md_url"] != r["url"])
        if r["changed"]:
            shapes_changed.add(int(r["doc_id"]) % 8)
    # converted arms: bare segment, .html, .HTM, .md+fragment,
    # trailing slashes, dotted-middle-segment; early returns: root,
    # non-html extension (and seeds).
    assert shapes_changed == {1, 2, 3, 5, 6, 7}


def test_fasttext_quality_matches_python_replay(spark):
    """Implementation-independent replay: hashlib-md5 buckets and the
    closed-form weights recomputed in pure Python over the raw parquet
    text must reproduce the engine's n_feats and score exactly."""
    import hashlib

    from article_extractor_spark.queries import (
        FT_BUCKETS,
        FT_WEIGHT_MOD,
        QUERY_FNS,
    )

    def md5_int(s: str) -> int:
        return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)

    def score_of(text: str) -> tuple[int, int]:
        toks = text.lower().split()
        feats = [md5_int(t) % FT_BUCKETS for t in toks]
        feats += [
            md5_int(f"{a}_{b}") % FT_BUCKETS
            for a, b in zip(toks, toks[1:])
        ]
        score = sum(
            md5_int(f"w{b}") % FT_WEIGHT_MOD - 1000 for b in feats
        )
        return len(feats), score

    texts = {
        int(r["doc_id"]): r["text"]
        for r in pd.read_parquet(f"{SF_DIR}/documents.parquet").to_dict(
            "records"
        )
    }
    rows = QUERY_FNS["fasttext_quality"](spark, SF_DIR).collect()
    assert len(rows) == len(texts)
    n_keep = 0
    for r in rows:
        n_feats, score = score_of(texts[int(r["doc_id"])])
        assert (r["n_feats"], r["score"]) == (n_feats, score), r["doc_id"]
        assert r["keep"] == (score >= 0)
        n_keep += int(r["keep"])
    # the synthetic weights are symmetric around zero: both classes occur
    assert 0 < n_keep < len(rows)


def test_nfc_normalize_matches_unicodedata(spark):
    """The Arrow-batched NFC kernel must agree with CPython
    unicodedata on every row (raw text reconstructed from the parquet
    plus the deterministic decoration), and each decomposed arm must
    actually compose."""
    import unicodedata

    from article_extractor_spark.queries import QUERY_FNS

    decor = {
        0: " café plain",
        1: " mañana",
        2: " Ångström",
        3: " café composed",
    }
    texts = {
        int(r["doc_id"]): r["text"]
        for r in pd.read_parquet(f"{SF_DIR}/documents.parquet").to_dict(
            "records"
        )
    }
    rows = QUERY_FNS["nfc_normalize"](spark, SF_DIR).collect()
    assert len(rows) == len(texts)
    for r in rows:
        did = int(r["doc_id"])
        raw = texts[did] + decor[did % 4]
        expect = unicodedata.normalize("NFC", raw)
        assert r["nfc"] == expect, did
        assert r["changed"] == (expect != raw)
        assert r["delta_cp"] == len(raw) - len(expect)
        if did % 4 in (0, 1, 2):
            # combining sequences must have composed: shorter by one
            # codepoint per combining mark, and the precomposed char
            # must appear in the tail
            assert r["changed"] and r["delta_cp"] >= 1
            tail = r["nfc"][-20:]
            assert {0: "café", 1: "mañana", 2: "Ångström"}[
                did % 4
            ] in tail


def test_markdown_variant_fuzz_matches_reference(spark):
    """Seeded fuzz differential for the factored conversion expression:
    400 randomly composed URLs (dotted/multi-dot/uppercase segments,
    trailing-slash runs, queries, fragments, empty paths, .md/.html/
    .HTM/.tar.gz suffixes) through ONE Spark job vs the verbatim
    urlparse/urlunparse reference algorithm."""
    import random
    from urllib.parse import urlparse, urlunparse

    from pyspark.sql import functions as F

    from article_extractor_spark.queries import markdown_variant_expr

    def reference_convert(url: str, is_seed: bool) -> str:
        suffix = ".md"
        if is_seed:
            return url
        parsed = urlparse(url)
        path = parsed.path or "/"
        trimmed_path = path.rstrip("/")
        if not trimmed_path:
            return url
        if trimmed_path.endswith(suffix):
            markdown_path = trimmed_path
        else:
            last_segment = trimmed_path.split("/")[-1]
            if "." in last_segment:
                _base, ext = last_segment.rsplit(".", 1)
                if ext.lower() in {"html", "htm"}:
                    trimmed_path = trimmed_path[: -(len(ext) + 1)]
                else:
                    return url
            markdown_path = f"{trimmed_path}{suffix}"
        return urlunparse(
            (parsed.scheme, parsed.netloc, markdown_path, parsed.params, "", "")
        )

    rng = random.Random(20260820)
    seg_pool = [
        "a", "b7", "IDX", "page", "page.html", "PAGE.HTML", "x.HTM",
        "file.htm", "doc.md", "a.tar.gz", "v1.2", "z.", ".hidden",
        "r.pdf", "intro.md", "multi.dot.html", "md", "html",
    ]
    urls = []
    for _ in range(400):
        scheme = rng.choice(["http", "https"])
        host = rng.choice(["ex.com", "a.b.co", "h-1.org:8080"])
        nseg = rng.randint(0, 4)
        path = "".join(
            "/" + rng.choice(seg_pool) for _ in range(nseg)
        ) + rng.choice(["", "/", "//", "///"])
        q = rng.choice(["", "?q=1", "?a=b&c=d"])
        frag = rng.choice(["", "#top", "#s.md"])
        urls.append((rng.random() < 0.1, f"{scheme}://{host}{path}{q}{frag}"))

    df = spark.createDataFrame(urls, "is_seed boolean, url string")
    out = df.select(
        "is_seed",
        "url",
        markdown_variant_expr(F.col("url"), F.col("is_seed")).alias("md"),
    ).collect()
    assert len(out) == 400
    for r in out:
        assert r["md"] == reference_convert(r["url"], r["is_seed"]), r["url"]


def test_nfc_kernel_fuzz_three_way(spark):
    """Seeded unicode fuzz for the NFC kernel: strings mixing combining
    marks, Hangul jamo, compatibility/precomposed forms, and
    singletons through ONE Spark job — the Arrow kernel must agree
    with CPython unicodedata AND DuckDB's utf8proc on every row
    (three independent implementations of UAX #15)."""
    import random
    import unicodedata

    import duckdb
    from pyspark.sql import functions as F

    from article_extractor_spark.queries import nfc_normalize_pudf

    pieces = [
        "é", "ñ", "Å", "ö", "é", "Å",
        "Å",  # ANGSTROM SIGN — NFC singleton → U+00C5
        "ḍ̇",  # d-dot-above + dot-below (reordering case)
        "ḍ̇",  # canonical-order twin of the above
        "각",  # Hangul jamo → precomposed syllable
        "각",  # already-precomposed Hangul
        "abc", " ", "́",  # lone combining mark (no base)
        "ﬁ",  # fi ligature (compatibility: NFC must KEEP it)
        "ば",  # ba (hiragana, composed)
        "ば",  # ha + voicing mark → ba
    ]
    rng = random.Random(77)
    rows = [
        (i, "".join(rng.choice(pieces) for _ in range(rng.randint(0, 12))))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {
        r["id"]: r["nfc"]
        for r in df.select(
            "id", nfc_normalize_pudf()(F.col("s")).alias("nfc")
        ).collect()
    }
    con = duckdb.connect()
    for i, s in rows:
        expect = unicodedata.normalize("NFC", s)
        assert got[i] == expect, (i, ascii(s))
        db = con.execute("select nfc_normalize(?)", [s]).fetchone()[0]
        assert db == expect, (i, ascii(s))
