"""Wave-incremental pipeline (pipeline.run_pipeline_wave): a second
crawl wave costs O(wave) — curation probes persisted dedup state
instead of re-pairing the corpus, packing appends epoch-scoped
positions after the committed token offset — and committed epochs are
never rewritten (VERDICT r4 task #3).
"""

from __future__ import annotations

import json
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from article_extractor_spark import pipeline
from article_extractor_spark.pipeline import (
    committed_epochs,
    read_state,
    run_pipeline,
    run_pipeline_wave,
)
from article_extractor_spark.sources import tableio
from article_extractor_spark.sources.synth import (
    corpus_dataframe,
    generate_document,
)

N_W1 = 100
N_BUCKETS = 8
CHUNK = 64


def _span_rows(doc: dict) -> list:
    return [
        (s["kind"], s["text"], s["media_ref"], s["offset"])
        for s in doc["spans"]
    ]


@pytest.fixture(scope="module")
def wave_paths(spark, tmp_path_factory):
    """wave1: 100 synth docs.  wave2: 1 exact dup of a wave-1 doc,
    1 near dup (one word changed), 20 fresh docs."""
    from pyspark.sql import types as T

    from article_extractor_spark.operators.extraction import SPAN_TYPE

    root = tmp_path_factory.mktemp("waves")
    w1 = str(root / "wave1")
    df = corpus_dataframe(spark, N_W1, seed=42, partitions=4)
    tableio.write_bucketed(
        tableio.with_bucket(df, "doc_id", N_BUCKETS), w1, dynamic=False
    )

    # base doc for the dup/near-dup pair: a 'simple' template page
    base = None
    for i in range(N_W1):
        d = generate_document(f"synth-{i:09d}", seed=42)
        if d["template"] == "simple":
            base = d
            break
    assert base is not None

    dup_rows = [("zdup-exact", base["url"], _span_rows(base))]
    near = [list(r) for r in _span_rows(base)]
    # perturb one word in the longest text span → near but not exact
    longest = max(
        (i for i, r in enumerate(near) if r[0] == "text" and r[1]),
        key=lambda i: len(near[i][1]),
    )
    assert " the " in near[longest][1]
    near[longest][1] = near[longest][1].replace(
        " the ", " thequail ", 1
    )
    dup_rows.append(("zdup-near", base["url"], [tuple(r) for r in near]))
    for i in range(20):
        d = generate_document(f"wave2-{i:09d}", seed=7)
        dup_rows.append((d["doc_id"], d["url"], _span_rows(d)))

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("url", T.StringType()),
            T.StructField("spans", SPAN_TYPE),
        ]
    )
    w2 = str(root / "wave2")
    w2df = spark.createDataFrame(dup_rows, schema)
    tableio.write_bucketed(
        tableio.with_bucket(w2df, "doc_id", N_BUCKETS), w2, dynamic=False
    )
    return w1, w2


@pytest.fixture(scope="module")
def incremental_out(spark, wave_paths, tmp_path_factory):
    w1, w2 = wave_paths
    out = str(tmp_path_factory.mktemp("inc") / "out")
    m1 = run_pipeline_wave(
        spark, w1, out, n_buckets=N_BUCKETS, waves=2,
        min_word_count=10, chunk_tokens=CHUNK,
    )
    epoch0 = {
        name: spark.read.parquet(f"{out}/epochs/0/{name}").collect()
        for name in ("verdicts", "pack", "examples")
    }
    m2 = run_pipeline_wave(
        spark, w2, out, n_buckets=N_BUCKETS, waves=2,
        min_word_count=10, chunk_tokens=CHUNK,
    )
    return out, m1, m2, epoch0


def test_epoch0_equals_one_shot_pipeline(
    spark, wave_paths, incremental_out, tmp_path
):
    """Epoch 0 of the wave runner is the identical full funnel as
    run_pipeline on the same corpus — row-identical verdicts, pack,
    and examples."""
    w1, _ = wave_paths
    out, m1, _, _ = incremental_out
    oneshot = str(tmp_path / "oneshot")
    m = run_pipeline(
        spark, w1, oneshot, n_buckets=N_BUCKETS, waves=2,
        min_word_count=10, chunk_tokens=CHUNK,
    )
    assert m["kept_docs"] == m1["kept_docs"]
    for name in ("verdicts", "pack", "examples"):
        a = spark.read.parquet(f"{out}/epochs/0/{name}")
        b = spark.read.parquet(f"{oneshot}/{name}")
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0


def test_wave2_statuses_probe_the_state(spark, incremental_out):
    out, _, m2, _ = incremental_out
    assert m2["epoch"] == 1
    verdicts = {
        r["doc_id"]: r["status"]
        for r in spark.read.parquet(f"{out}/epochs/1/verdicts").collect()
    }
    # the byte-identical re-ingest of a wave-1 doc is an exact dup of
    # the STORED corpus; the one-word perturbation is a near dup
    assert verdicts["zdup-exact"] == "exact_dup"
    assert verdicts["zdup-near"] == "near_dup"
    # fresh docs flow through to kept/quality statuses normally
    fresh = {v for k, v in verdicts.items() if k.startswith("wave2-")}
    assert any(s.startswith("kept:") for s in fresh)
    assert m2["kept_docs"] > 0


def test_epoch0_outputs_frozen_and_epochs_committed(
    spark, incremental_out
):
    out, _, _, epoch0_before = incremental_out
    assert committed_epochs(spark, out) == [0, 1]
    for name, before in epoch0_before.items():
        after = spark.read.parquet(f"{out}/epochs/0/{name}").collect()
        assert sorted(map(tuple, after)) == sorted(map(tuple, before))


def test_wave2_pack_appends_on_chunk_boundary(spark, incremental_out):
    out, m1, m2, _ = incremental_out
    p0 = spark.read.parquet(f"{out}/epochs/0/pack")
    p1 = spark.read.parquet(f"{out}/epochs/1/pack")
    n0 = p0.count()
    agg0 = p0.agg(
        F.max("train_pos").alias("mp"), F.max("last_chunk").alias("mc")
    ).first()
    agg1 = p1.agg(
        F.min("train_pos").alias("minp"),
        F.min("first_chunk").alias("minc"),
        F.min("start_token").alias("mint"),
    ).first()
    # positions continue exactly after the committed epoch
    assert agg0["mp"] == n0 - 1
    assert agg1["minp"] == n0
    assert m2["base_train_pos"] == n0
    # hard chunk boundary: epoch 1 starts at the next chunk id, on the
    # chunk-aligned token offset
    assert agg1["minc"] == agg0["mc"] + 1
    assert agg1["mint"] == (agg0["mc"] + 1) * CHUNK
    assert m2["base_token"] == (agg0["mc"] + 1) * CHUNK
    # chunk ids across epochs are disjoint and contiguous
    e0 = spark.read.parquet(f"{out}/epochs/0/examples")
    e1 = spark.read.parquet(f"{out}/epochs/1/examples")
    ids0 = sorted(r["chunk_id"] for r in e0.select("chunk_id").collect())
    ids1 = sorted(r["chunk_id"] for r in e1.select("chunk_id").collect())
    assert ids0 == list(range(len(ids0)))
    assert ids1 == list(range(ids0[-1] + 1, ids0[-1] + 1 + len(ids1)))


def test_wave2_examples_reconstruct_wave2_stream(spark, incremental_out):
    from article_extractor_spark.pipeline import docs_from_extraction

    out, _, _, _ = incremental_out
    ex = (
        spark.read.parquet(f"{out}/epochs/1/examples")
        .orderBy("chunk_id")
        .collect()
    )
    packed = " ".join(r["example"] for r in ex)
    docs = docs_from_extraction(
        tableio.read_table(spark, f"{out}/epochs/1/extracted").where(
            F.col("success")
        )
    )
    kept = docs.join(
        spark.read.parquet(f"{out}/epochs/1/pack").select(
            "doc_id", "train_pos"
        ),
        "doc_id",
    )
    stream = " ".join(
        " ".join(r["text"].split())
        for r in kept.orderBy("train_pos").collect()
    )
    assert packed == stream


def test_pipeline_wave_replay_skips_committed_epoch(
    spark, wave_paths, tmp_path
):
    """Exactly-once for the streaming funnel: a replayed micro-batch
    (explicit epoch that the latest snapshot already lists) is skipped,
    leaving every output byte untouched."""
    w1, _ = wave_paths
    out = str(tmp_path / "replay")
    m1 = run_pipeline_wave(
        spark, w1, out, epoch=0, n_buckets=N_BUCKETS, waves=1,
        min_word_count=10, chunk_tokens=CHUNK,
    )
    assert m1["epoch"] == 0 and "skipped" not in m1
    before = sorted(
        map(tuple, spark.read.parquet(f"{out}/epochs/0/pack").collect())
    )
    m2 = run_pipeline_wave(
        spark, w1, out, epoch=0, n_buckets=N_BUCKETS, waves=1,
        min_word_count=10, chunk_tokens=CHUNK,
    )
    assert m2 == {"epoch": 0, "skipped": True}
    after = sorted(
        map(tuple, spark.read.parquet(f"{out}/epochs/0/pack").collect())
    )
    assert before == after


def test_compact_state_equals_from_scratch_index(spark, incremental_out):
    """After two appended waves, compacting the persisted band index
    must reproduce ROW FOR ROW the from-scratch capped index over the
    union of both waves' extracted text (the exactness property that
    makes compaction safe maintenance, not lossy pruning)."""
    from article_extractor_spark.functions import dedup as D
    from article_extractor_spark.pipeline import (
        compact_state,
        docs_from_extraction,
    )

    out, _, _, _ = incremental_out
    stats = compact_state(spark, out)
    assert stats["rows_after"] <= stats["rows_before"]

    extracted = spark.read.parquet(f"{out}/epochs/0/extracted").unionByName(
        spark.read.parquet(f"{out}/epochs/1/extracted")
    )
    docs = docs_from_extraction(extracted.where(F.col("success")))
    scratch = D.capped_band_index(docs)
    stored = read_state(spark, out)["index"].select(
        "doc_id", "band", "band_hash"
    )
    assert stored.exceptAll(scratch).count() == 0
    assert scratch.exceptAll(stored).count() == 0
    # probes still work against the compacted index
    pairs = D.incremental_minhash_pairs(
        docs.where(F.col("doc_id") == "zdup-near"),
        read_state(spark, out)["index"],
    )
    assert pairs.count() > 0


def test_wave_chunk_tokens_must_match_committed_epoch(
    spark, wave_paths, incremental_out
):
    """Each epoch's commit snapshot records its chunk_tokens.  A later
    wave with another size would pack on a misaligned token base, so it
    raises — naming both sizes — before writing anything under its
    epoch.  The same size passes (wave 2 of incremental_out)."""
    _, w2 = wave_paths
    out, _, m2, _ = incremental_out
    assert m2["epoch"] == 1 and m2["chunk_tokens"] == CHUNK
    for epoch in (0, 1):
        with open(f"{out}/state/_snapshots/{epoch + 1:06d}.json") as fh:
            assert json.load(fh)["chunk_tokens"] == CHUNK

    both = rf"chunk_tokens={2 * CHUNK}\b.*chunk_tokens={CHUNK}\b"
    with pytest.raises(ValueError, match=both):
        run_pipeline_wave(
            spark, w2, out, n_buckets=N_BUCKETS, waves=2,
            min_word_count=10, chunk_tokens=2 * CHUNK,
        )
    assert not os.path.exists(f"{out}/epochs/2")
    assert committed_epochs(spark, out) == [0, 1]


def test_legacy_epoch_markers_are_refused(spark, wave_paths, tmp_path):
    """A state/ directory of the older commit layout (epoch markers, no
    _snapshots/) is refused, naming the directory, before anything is
    written: read as empty, it would restart at epoch 0 on top of the
    committed outputs."""
    from article_extractor_spark.pipeline import compact_state

    _, w2 = wave_paths
    out = str(tmp_path / "legacy")
    os.makedirs(f"{out}/state")
    open(f"{out}/state/_epoch_0_committed", "w").close()
    named = re.escape(f"{out}/state")
    with pytest.raises(ValueError, match=named):
        run_pipeline_wave(
            spark, w2, out, n_buckets=N_BUCKETS, waves=2,
            min_word_count=10, chunk_tokens=CHUNK,
        )
    with pytest.raises(ValueError, match=named):
        compact_state(spark, out)
    assert os.listdir(out) == ["state"]
    assert os.listdir(f"{out}/state") == ["_epoch_0_committed"]


class _Killed(Exception):
    pass


def _durable_actions(
    monkeypatch, kill_at=None, delete=(pipeline, "_delete_dir")
):
    """Wrap every durable action of a wave, a compaction or an
    extraction job — each parquet write, each atomic file write (bucket
    and state snapshots), each ``delete`` (the state-directory delete,
    or the job's ``tableio.clear_buckets``) — and record it; raise
    ``_Killed`` right after action number ``kill_at``."""
    from pyspark.sql import DataFrameWriter

    done = []

    def wrap(owner, name):
        action = getattr(owner, name)

        def run(*args, **kwargs):
            result = action(*args, **kwargs)
            done.append(name)
            if len(done) == kill_at:
                raise _Killed(f"killed after {name}, action {kill_at}")
            return result

        monkeypatch.setattr(owner, name, run)

    wrap(DataFrameWriter, "parquet")
    wrap(tableio, "write_file_atomic")
    wrap(*delete)
    return done


def test_every_state_commit_kill_point_reruns_to_the_undisturbed_state(
    spark, wave_paths, tmp_path, monkeypatch
):
    """Kill-point sweep over the state commit.  A dry run of epoch 1 and
    one of compact_state count their durable actions.  Then, for each
    k, a fresh copy of the state the call starts from is killed right
    after action k, and the same call re-runs.  Every point must
    converge to the undisturbed run: epochs 0 and 1 committed, and
    epoch 1's verdicts, pack and examples and the state tables read
    through the snapshot equal as multisets."""
    w1, w2 = wave_paths
    # one extraction wave: a second adds kill points in the bucket
    # lineage, which test_spark_job's resume tests already cover
    kw = dict(
        n_buckets=N_BUCKETS, waves=1, min_word_count=10, chunk_tokens=CHUNK
    )
    epoch0 = str(tmp_path / "epoch0")
    run_pipeline_wave(spark, w1, epoch0, **kw)

    def wave(out):
        run_pipeline_wave(spark, w2, out, epoch=1, **kw)

    def compact(out):
        pipeline.compact_state(spark, out)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def result(out):
        assert committed_epochs(spark, out) == [0, 1]
        # no state directory outlives the snapshot that stops listing it
        snap = tableio.latest_snapshot(spark, f"{out}/state/_snapshots")[1]
        on_disk = set()
        for top in set(os.listdir(f"{out}/state")) - {"_snapshots"}:
            names = os.listdir(f"{out}/state/{top}")
            on_disk |= {f"state/{top}/{n}" for n in names} or {f"state/{top}"}
        assert on_disk == set(snap["exact_keys"] + snap["band_index"])
        got = {
            name: rows(spark.read.parquet(f"{out}/epochs/1/{name}"))
            for name in ("verdicts", "pack", "examples")
        }
        got.update((k, rows(df)) for k, df in read_state(spark, out).items())
        return got

    def sweep(start, call):
        ref = str(tmp_path / f"{call.__name__}-ref")
        shutil.copytree(start, ref)
        with monkeypatch.context() as m:
            actions = _durable_actions(m)
            call(ref)
        want = result(ref)
        for k in range(1, len(actions) + 1):
            out = str(tmp_path / f"{call.__name__}-{k}")
            shutil.copytree(start, out)
            with monkeypatch.context() as m:
                _durable_actions(m, kill_at=k)
                with pytest.raises(_Killed):
                    call(out)
            call(out)
            assert result(out) == want, (call.__name__, k, actions[k - 1])
        return ref, len(actions)

    wave_ref, n_wave = sweep(epoch0, wave)
    _, n_compact = sweep(wave_ref, compact)
    print(
        f"kill points covered: {n_wave} in epoch 1, "
        f"{n_compact} in compact_state"
    )


def test_every_bucket_commit_kill_point_resumes_to_the_undisturbed_table(
    spark, wave_paths, tmp_path, monkeypatch
):
    """Kill-point sweep over run_extraction_job alone, two waves, in two
    legs: a fresh output, and a ``resume=False`` run over a committed
    one.  A dry run of each counts the job's durable actions
    (clear_buckets and its uncommit snapshot, each wave's bucket write
    and its snapshot commit).  Then, for each k, a fresh copy of the
    leg's start is killed right after action k and the job re-runs
    with resume=True.  Every point must converge to the undisturbed
    run: the same table as a multiset, each doc_id once, every bucket
    committed, and the latest snapshot's docs_in summing to the
    corpus."""
    from article_extractor_spark.job import run_extraction_job

    w1, _ = wave_paths

    def job(out, resume=True):
        return run_extraction_job(
            spark, w1, out, n_buckets=N_BUCKETS, waves=2, min_word_count=10,
            resume=resume,
        )

    def result(out):
        df = spark.read.parquet(out).drop("proc_us")  # a timing
        ids = [r["doc_id"] for r in df.select("doc_id").collect()]
        assert len(ids) == len(set(ids)) == N_W1
        assert tableio.read_committed_buckets(spark, out) == set(
            range(N_BUCKETS)
        )
        snap = tableio.latest_snapshot(spark, tableio.lineage_path(out))[1]
        assert sum(e["docs_in"] for e in snap["buckets"]) == N_W1
        return sorted(
            r[0] for r in df.select(F.to_json(F.struct(*df.columns))).collect()
        )

    def copy(start, out):
        if start is not None:  # the table and its bucket snapshot log
            shutil.copytree(start, out)
            shutil.copytree(
                tableio.lineage_path(start), tableio.lineage_path(out)
            )

    delete = (tableio, "clear_buckets")

    def sweep(start, resume, tag):
        ref = str(tmp_path / f"{tag}-ref")
        copy(start, ref)
        with monkeypatch.context() as m:
            actions = _durable_actions(m, delete=delete)
            job(ref, resume)
        want = result(ref)
        for k in range(1, len(actions) + 1):
            out = str(tmp_path / f"{tag}-{k}")
            copy(start, out)
            with monkeypatch.context() as m:
                _durable_actions(m, kill_at=k, delete=delete)
                with pytest.raises(_Killed):
                    job(out, resume)
            job(out)
            assert result(out) == want, (tag, k, actions[k - 1])
        return ref, want, len(actions)

    fresh_ref, want, n_fresh = sweep(None, True, "fresh")
    _, rerun_want, n_rerun = sweep(fresh_ref, False, "rerun")
    assert rerun_want == want
    print(
        f"kill points covered: {n_fresh} in a 2-wave extraction job, "
        f"{n_rerun} in a resume=False re-run of it"
    )
