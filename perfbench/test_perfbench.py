"""The benchmark's own tests: ``python -m pytest perfbench -q``."""

from __future__ import annotations

import json
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, corpora, run

ROOT = Path(__file__).resolve().parent.parent


def test_generator_is_deterministic_per_seed():
    assert corpora.corpus_hash(corpora.mixed(3, 40)) == corpora.corpus_hash(corpora.mixed(3, 40))
    assert corpora.corpus_hash(corpora.mixed(3, 40)) != corpora.corpus_hash(corpora.mixed(4, 40))
    base = corpora.wave_base()
    w3, _ = corpora.wave(3, base)
    w4, _ = corpora.wave(4, base)
    assert corpora.corpus_hash(w3) == corpora.corpus_hash(corpora.wave(3, base)[0])
    assert corpora.corpus_hash(w3) != corpora.corpus_hash(w4)


def test_giant_tail_is_deterministic_and_multi_mb():
    a = corpora.giant_tail(3, n=20)
    b = corpora.giant_tail(3, n=20)
    assert corpora.corpus_hash(a) == corpora.corpus_hash(b)
    assert corpora.corpus_hash(a) != corpora.corpus_hash(corpora.giant_tail(4, n=20))
    stats = corpora.size_stats(a)
    assert stats["giant_docs"] == len(corpora.GIANT_BYTES)
    assert stats["size_max"] >= 20 * stats["size_p50"]


def test_wave_planted_duplicate_share_is_the_recorded_one():
    base = corpora.wave_base()
    docs, dup_ids = corpora.wave(7, base)
    assert len(docs) == corpora.WAVE_DOCS
    assert len(dup_ids) / len(docs) == corpora.DUP_SHARE
    base_pages = {d["html"] for d in base}
    by_id = {d["doc_id"]: d for d in docs}
    assert all(by_id[i]["html"] in base_pages for i in dup_ids)
    assert not {d["doc_id"] for d in base} & set(by_id)


def _write_output(path: Path, docs: list[dict], spans_of) -> None:
    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())])
    table = pa.table(
        {
            "doc_id": [d["doc_id"] for d in docs],
            "success": [True] * len(docs),
            "spans": pa.array([spans_of(d) for d in docs], pa.list_(span_t)),
        }
    )
    path.mkdir()
    pq.write_table(table, path / "part-0.parquet")


def _as_output(expected):
    return [{"kind": k, "text": t, "media_ref": m, "offset": i} for i, (k, t, m) in enumerate(expected)]


def test_span_check_counts_a_changed_span_as_failed(tmp_path):
    docs = corpora.mixed(5, 6)
    _write_output(tmp_path / "good", docs, lambda d: _as_output(d["expected"]))
    assert checks.span_failures(str(tmp_path / "good"), docs)[0] == 0

    def broken(d):
        spans = _as_output(d["expected"])
        if d is docs[2]:
            spans[0]["text"] += " changed"
        return spans

    _write_output(tmp_path / "bad", docs[:5], broken)
    failed, sample = checks.span_failures(str(tmp_path / "bad"), docs)
    assert failed == 2  # docs[2] differs, docs[5] is missing
    assert sample == sorted([docs[2]["doc_id"], docs[5]["doc_id"]])


def test_benchmark_json_names_the_metrics_the_command_prints():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import harness

    session = harness.session(tmp_path_factory.mktemp("spark"), 2)
    yield session
    harness.shutdown(session)


def _threshold(spark, docs):
    from article_extractor_spark.operators.extraction import resolve_giant_threshold

    df = spark.createDataFrame([(d["doc_id"], d["html"]) for d in docs], "doc_id string, html string")
    return resolve_giant_threshold(df)


def test_giant_tail_engages_salting_and_mixed_bypasses_it(spark):
    assert _threshold(spark, corpora.giant_tail(1, n=300)) is not None
    assert _threshold(spark, corpora.mixed(1, 300)) is None
