"""Tier-3 Spark end-to-end tests (SURVEY.md §5): synthetic corpus table →
extraction job → span equality, lineage metrics, kill-and-resume."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from article_extractor_spark.job import run_extraction_job
from article_extractor_spark.operators.extraction import (
    extract_articles,
    render_spans_to_html,
)
from article_extractor_spark.sources import tableio
from article_extractor_spark.sources.synth import (
    corpus_dataframe,
    generate_document,
)

N_DOCS = 120
N_BUCKETS = 8


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpus") / "docs")
    df = corpus_dataframe(spark, N_DOCS, seed=42, partitions=4)
    df = tableio.with_bucket(df, "doc_id", N_BUCKETS)
    tableio.write_bucketed(df, path, dynamic=False)
    return path


def _lineage(spark, out: str) -> list[dict]:
    """The bucket entries of the output's latest bucket snapshot."""
    snap = tableio.latest_snapshot(spark, tableio.lineage_path(out))[1]
    return snap["buckets"]


def expected_span_tuples(doc_id: str) -> list[tuple]:
    doc = generate_document(doc_id, seed=42)
    return [
        (s["kind"], s["text"], s["media_ref"]) for s in doc["expected_spans"]
    ]


def test_job_end_to_end_span_equality(spark, corpus_path, tmp_path):
    out = str(tmp_path / "out")
    stats = run_extraction_job(
        spark, corpus_path, out, n_buckets=N_BUCKETS, waves=2
    )
    assert stats["docs_processed"] == N_DOCS
    # the HLL registers come from each wave's column-pruned read-back:
    # the run-level distinct-document estimate must track the
    # (all-unique) corpus within the sketch's small-range band (linear
    # counting at n=120)
    assert abs(stats["distinct_docs_est"] - N_DOCS) / N_DOCS < 0.15

    result = spark.read.parquet(out)
    assert result.count() == N_DOCS
    assert result.where("success").count() == N_DOCS

    # spot-check span equality against generation-time expectations
    sample = result.orderBy("doc_id").limit(25).collect()
    for row in sample:
        got = [(s["kind"], s["text"], s["media_ref"]) for s in row["spans"]]
        assert got == expected_span_tuples(row["doc_id"]), row["doc_id"]

    # lineage: every bucket committed, totals add up
    lineage = _lineage(spark, out)
    assert sum(e["docs_in"] for e in lineage) == N_DOCS
    assert sum(e["docs_ok"] for e in lineage) == N_DOCS
    assert len({e["bucket"] for e in lineage}) == N_BUCKETS
    assert not [e for e in lineage if e["cpu_ms"] < 0]


def test_job_resume_is_noop_when_committed(spark, corpus_path, tmp_path):
    out = str(tmp_path / "out")
    run_extraction_job(spark, corpus_path, out, n_buckets=N_BUCKETS, waves=2)
    stats = run_extraction_job(
        spark, corpus_path, out, n_buckets=N_BUCKETS, waves=2
    )
    assert stats["buckets_skipped"] == N_BUCKETS
    assert stats["docs_processed"] == 0


def test_kill_and_resume_produces_identical_table(spark, corpus_path, tmp_path):
    """Simulated mid-job death: half the buckets committed, output for
    the rest partially written without lineage → resume must re-run only
    uncommitted buckets and converge to the uninterrupted result."""
    out_full = str(tmp_path / "full")
    out_resume = str(tmp_path / "resumed")

    run_extraction_job(spark, corpus_path, out_full, n_buckets=N_BUCKETS, waves=1)

    # "killed" first run: waves=8 → each wave is one bucket; run via the
    # public API but only over half the corpus (as if the job died after
    # committing those buckets)...
    half = spark.read.parquet(corpus_path).where(F.col("bucket") < N_BUCKETS // 2)
    run_extraction_job(
        spark, half, out_resume, n_buckets=N_BUCKETS, waves=1, resume=False
    )
    # ...plus an uncommitted partial write for one more bucket (data
    # landed, lineage did not)
    orphan = spark.read.parquet(corpus_path).where(
        F.col("bucket") == N_BUCKETS // 2
    )
    orphan_out = extract_articles(render_spans_to_html(orphan))
    orphan_out = tableio.with_bucket(orphan_out, "doc_id", N_BUCKETS)
    # truncate to simulate a partial task write
    tableio.write_bucketed(orphan_out.limit(3), out_resume, dynamic=True)

    committed_before = tableio.read_committed_buckets(spark, out_resume)
    assert committed_before == set(range(N_BUCKETS // 2))

    stats = run_extraction_job(
        spark, corpus_path, out_resume, n_buckets=N_BUCKETS, waves=2
    )
    assert stats["buckets_skipped"] == N_BUCKETS // 2

    full = spark.read.parquet(out_full)
    resumed = spark.read.parquet(out_resume)
    assert resumed.count() == N_DOCS
    # content equality, order-insensitive (resume overwrote the orphan)
    cols = ["doc_id", "title", "word_count", "success", "spans_emitted"]
    assert (
        full.select(cols).exceptAll(resumed.select(cols)).count() == 0
        and resumed.select(cols).exceptAll(full.select(cols)).count() == 0
    )
    # span-level equality via hash of the span structs
    h = lambda df: df.select(
        "doc_id", F.xxhash64(F.to_json("spans")).alias("h")
    )
    assert h(full).exceptAll(h(resumed)).count() == 0


def test_lineage_matches_recount_of_written_output(
    spark, corpus_path, tmp_path
):
    """Every committed lineage row equals an independent recount of the
    rows written to its bucket, and the job's stats add up to the
    lineage.  Empty pages join the synth corpus so the failure columns
    are exercised (docs_ok < docs_in): min_word_count only adds a
    warning, while a page with no content fails extraction."""
    from pyspark.sql import types as T

    from article_extractor_spark.operators.extraction import SPAN_TYPE

    n_empty = 6
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("url", T.StringType()),
            T.StructField("spans", SPAN_TYPE),
        ]
    )
    empty = spark.createDataFrame(
        [
            (f"zempty-{i}", f"https://empty.example/{i}", [])
            for i in range(n_empty)
        ],
        schema,
    )
    corpus = str(tmp_path / "corpus")
    tableio.write_bucketed(
        tableio.with_bucket(
            spark.read.parquet(corpus_path)
            .select("doc_id", "url", "spans")
            .unionByName(empty),
            "doc_id",
            N_BUCKETS,
        ),
        corpus,
        dynamic=False,
    )
    out = str(tmp_path / "out")
    stats = run_extraction_job(
        spark, corpus, out, n_buckets=N_BUCKETS, waves=2
    )
    cols = [
        "doc_id_min",
        "doc_id_max",
        "docs_in",
        "docs_ok",
        "parse_failures",
        "nodes_scored",
        "spans_emitted",
    ]
    ok = F.when(F.col("success"), 1).otherwise(0)
    recount = {
        r["bucket"]: tuple(r[c] for c in cols)
        for r in spark.read.parquet(out)
        .groupBy("bucket")
        .agg(
            F.min("doc_id").alias("doc_id_min"),
            F.max("doc_id").alias("doc_id_max"),
            F.count(F.lit(1)).alias("docs_in"),
            F.sum(ok).alias("docs_ok"),
            F.sum(1 - ok).alias("parse_failures"),
            F.sum("nodes_scored").alias("nodes_scored"),
            F.sum("spans_emitted").alias("spans_emitted"),
        )
        .collect()
    }
    rows = _lineage(spark, out)
    lineage = {r["bucket"]: tuple(r[c] for c in cols) for r in rows}
    assert len(rows) == len(lineage) == N_BUCKETS
    assert lineage == recount

    docs_in = sum(v[2] for v in lineage.values())
    docs_ok = sum(v[3] for v in lineage.values())
    failures = sum(v[4] for v in lineage.values())
    spans = sum(v[6] for v in lineage.values())
    assert docs_in == N_DOCS + n_empty
    assert docs_ok == N_DOCS
    assert failures == n_empty
    assert stats["docs_processed"] == docs_in
    assert stats["docs_failed"] == failures
    waves = stats["observed_metrics"]
    assert [w["wave"] for w in waves] == [0, 1]
    assert sum(w["docs"] for w in waves) == docs_in
    assert sum(w["failures"] for w in waves) == failures
    assert sum(w["spans"] for w in waves) == spans


def test_default_wave_count_follows_input_bytes(
    spark, corpus_path, tmp_path, monkeypatch
):
    """Left at its default, ``waves`` is one per cores × 6 × 256 MiB of
    path-corpus input (at least one), and one for a DataFrame corpus;
    an explicit count is used as given.  Every run writes the same rows
    and commits the same per-bucket docs_in."""
    cols = [
        "doc_id",
        "title",
        "word_count",
        "success",
        F.xxhash64(F.to_json("spans")).alias("spans_h"),
    ]

    def run(name, corpus, **kwargs):
        out = str(tmp_path / name)
        stats = run_extraction_job(
            spark, corpus, out, n_buckets=N_BUCKETS, **kwargs
        )
        rows = sorted(
            tuple(r) for r in spark.read.parquet(out).select(cols).collect()
        )
        docs_in = {
            r["bucket"]: r["docs_in"]
            for r in _lineage(spark, out)
        }
        return len(stats["observed_metrics"]), rows, docs_in

    runs = {"default": run("default", corpus_path)}
    one_round = spark.sparkContext.defaultParallelism * 6 * (256 << 20)
    with monkeypatch.context() as m:
        m.setattr(tableio, "dir_size_bytes", lambda *_: one_round + 1)
        runs["past-one-round"] = run("big", corpus_path)
    runs["explicit"] = run("explicit", corpus_path, waves=2)
    runs["dataframe"] = run("frame", spark.read.parquet(corpus_path))

    assert {k: v[0] for k, v in runs.items()} == {
        "default": 1,
        "past-one-round": 2,
        "explicit": 2,
        "dataframe": 1,
    }
    _, rows, docs_in = runs["default"]
    assert len(rows) == N_DOCS and sum(docs_in.values()) == N_DOCS
    for name, (_, other_rows, other_docs_in) in runs.items():
        assert other_rows == rows, name
        assert other_docs_in == docs_in, name


def test_hll_registers_equal_recount_of_written_output(
    spark, corpus_path, tmp_path
):
    """The run's distinct-document estimate, merged across waves from
    each wave's read-back aggregate, EQUALS the estimate of registers
    recomputed in one independent pass over the written output with
    the same (title, excerpt, word_count) fingerprint."""
    from article_extractor_spark.functions.sketches import (
        HLL_M,
        estimate_from_registers,
        hll_rho,
    )
    from article_extractor_spark.functions.text import md5_int

    out = str(tmp_path / "out")
    stats = run_extraction_job(
        spark, corpus_path, out, n_buckets=N_BUCKETS, waves=2
    )
    assert len(stats["observed_metrics"]) == 2

    fp = md5_int(
        F.concat_ws(
            "\x1f",
            F.col("title"),
            F.col("excerpt"),
            F.col("word_count").cast("string"),
        )
    )
    regs = [0] * HLL_M
    for r in (
        spark.read.parquet(out)
        .select(
            fp.bitwiseAND(F.lit(HLL_M - 1)).alias("reg"),
            hll_rho(fp).alias("rho"),
        )
        .groupBy("reg")
        .agg(F.max("rho").alias("mx"))
        .collect()
    ):
        regs[r["reg"]] = r["mx"]
    assert estimate_from_registers(regs) == stats["distinct_docs_est"]


def test_files_per_bucket_salt_splits_buckets(spark, tmp_path):
    """files_per_bucket > 1 must actually produce multiple files per
    bucket directory (round-1 bug: repartition on the bucket value alone
    made it a no-op)."""
    import glob

    df = corpus_dataframe(spark, 200, seed=5, partitions=4)
    df = tableio.with_bucket(df, "doc_id", 4)
    out = str(tmp_path / "t")
    tableio.write_bucketed(
        df, out, dynamic=False, files_per_bucket=4, n_buckets=4
    )
    per_bucket = [
        len(glob.glob(f"{out}/bucket={b}/*.parquet")) for b in range(4)
    ]
    assert all(n >= 1 for n in per_bucket)
    assert sum(per_bucket) > 4  # salt actually split bucket output
    assert max(per_bucket) > 1


def test_wave_filter_prunes_bucket_partitions(spark, corpus_path):
    """Each wave reads ONLY its buckets' partition directories — the
    wave predicate must land in PartitionFilters, not a post-scan
    Filter.  At 100 TB, waves without pruning would rescan the full
    corpus once per wave."""
    corpus = tableio.read_table(spark, corpus_path)
    wave = corpus.where(F.col("bucket").isin([0, 1]))
    plan = wave._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2, plan[:500]
    assert "bucket" in pf[1][:120]


def test_manifest_json_sink(spark, corpus_path, tmp_path):
    """D5 manifest.json analog: job stats fold serialized to a file."""
    import json

    from article_extractor_spark.job import write_manifest

    out = str(tmp_path / "out")
    stats = run_extraction_job(
        spark, corpus_path, out, n_buckets=N_BUCKETS, waves=2,
        min_word_count=10,
    )
    mpath = str(tmp_path / "manifest.json")
    write_manifest(stats, mpath)
    data = json.loads(open(mpath, encoding="utf-8").read())
    assert data["total_pages"] == N_DOCS
    assert data["successful"] + data["failed"] == N_DOCS
    assert data["duration_seconds"] > 0
    assert len(data["waves"]) == 2


def test_job_with_markdown_dir_writes_files_and_manifest(
    spark, corpus_path, tmp_path
):
    """The full job with --markdown-dir produces the reference
    crawler's primary artifact — one .md per document — fed from the
    written output table, plus a manifest."""
    import glob

    out = str(tmp_path / "out")
    md_dir = str(tmp_path / "md")
    stats = run_extraction_job(
        spark,
        corpus_path,
        out,
        n_buckets=N_BUCKETS,
        waves=2,
        min_word_count=10,
        markdown_dir=md_dir,
    )
    n_ok = spark.read.parquet(out).where("success").count()
    md_files = glob.glob(f"{md_dir}/*.md")
    assert stats["docs_processed"] == N_DOCS
    assert len(md_files) == n_ok > 0
    manifest = spark.read.parquet(f"{md_dir}/_manifest")
    assert manifest.count() == n_ok
    body = open(md_files[0], encoding="utf-8").read()
    assert body.startswith("---\nurl: ")
    # markdown column landed in the output table too
    assert (
        spark.read.parquet(out)
        .where("success AND length(markdown) = 0")
        .count()
        == 0
    )


def test_markdown_sink_failure_leaves_bucket_uncommitted(
    spark, corpus_path, tmp_path
):
    """Crash-safety ordering: the markdown sink runs BEFORE the lineage
    commit, so a sink failure must leave every bucket uncommitted (a
    resume redoes the wave and backfills the missing .md files).  The
    old order committed lineage first — a crash in the sink silently
    lost the wave's markdown artifacts forever."""
    out = str(tmp_path / "out")
    blocker = tmp_path / "md"
    blocker.write_text("a file where the sink needs a directory")
    with pytest.raises(Exception):
        run_extraction_job(
            spark,
            corpus_path,
            out,
            n_buckets=N_BUCKETS,
            waves=1,
            markdown_dir=str(blocker),
        )
    assert tableio.read_committed_buckets(spark, out) == set()
    # resume after fixing the sink target completes the job
    blocker.unlink()
    stats = run_extraction_job(
        spark,
        corpus_path,
        out,
        n_buckets=N_BUCKETS,
        waves=1,
        resume=True,
        markdown_dir=str(blocker),
    )
    assert stats["docs_processed"] == N_DOCS
    manifest = spark.read.parquet(f"{blocker}/_manifest")
    assert manifest.count() == N_DOCS


def test_lineage_commit_crash_mid_write_leaves_bucket_uncommitted(
    spark, corpus_path, tmp_path, monkeypatch
):
    """The bucket snapshot is the commit record, so a crash after its
    file is opened and before it is closed must leave no truncated
    snapshot: the buckets stay uncommitted, the log stays readable, and
    a resume commits every document once."""
    out = str(tmp_path / "out")

    def crash(*_args):
        raise OSError("injected crash mid-write")

    # write_file_atomic serializes the snapshot with ``bytearray``
    # between fs.create() and close()
    monkeypatch.setattr(tableio, "bytearray", crash, raising=False)
    with pytest.raises(OSError, match="injected"):
        run_extraction_job(
            spark, corpus_path, out, n_buckets=N_BUCKETS, waves=1
        )
    monkeypatch.undo()
    assert tableio.read_committed_buckets(spark, out) == set()

    stats = run_extraction_job(
        spark, corpus_path, out, n_buckets=N_BUCKETS, waves=1
    )
    assert stats["buckets_skipped"] == 0
    assert stats["docs_processed"] == N_DOCS
    assert sum(e["docs_in"] for e in _lineage(spark, out)) == N_DOCS


def test_manifest_rerun_converges_no_duplicates(
    spark, corpus_path, tmp_path
):
    """Re-running a wave over the same markdown_dir (crash-before-
    commit redo, or a retried run) must converge: the manifest is
    dynamically overwritten per bucket, not blindly appended, so no
    duplicate rows accumulate for the same files."""
    md_dir = str(tmp_path / "md")
    for out in (str(tmp_path / "o1"), str(tmp_path / "o2")):
        run_extraction_job(
            spark,
            corpus_path,
            out,
            n_buckets=N_BUCKETS,
            waves=2,
            markdown_dir=md_dir,
        )
    manifest = spark.read.parquet(f"{md_dir}/_manifest")
    assert manifest.count() == N_DOCS
    assert manifest.select("md_file").distinct().count() == N_DOCS


def test_markdown_sink_writes_frontmatter_files(spark, tmp_path):
    """D4 sink e2e (reference crawler.py:354-423): extraction with
    emit_markdown → one .md file per doc, YAML frontmatter header,
    deterministic flat filenames; manifest rows match the files."""
    import os

    from article_extractor_spark.sinks import write_markdown_files

    out_dir = str(tmp_path / "md")
    corpus = render_spans_to_html(corpus_dataframe(spark, 30, seed=7))
    articles = extract_articles(corpus, min_word_count=10, emit_markdown=True)
    manifest = write_markdown_files(
        articles, out_dir, extracted_at="2026-01-01T00:00:00+00:00"
    ).collect()
    ok = [r for r in articles.collect() if r["success"]]
    assert len(manifest) == len(ok) > 0

    files = sorted(os.listdir(out_dir))
    assert files == sorted(r["md_file"] for r in manifest)
    for row in manifest[:5]:
        path = os.path.join(out_dir, row["md_file"])
        content = open(path, encoding="utf-8").read()
        assert content.startswith("---\nurl: https://synth.example/")
        assert "\nextracted_at: 2026-01-01T00:00:00+00:00\n" in content
        assert "\nword_count: " in content
        assert content.split("---\n\n", 1)[1] != ""
        assert os.path.getsize(path) == row["n_bytes"]
        assert row["md_file"].startswith("synth.example__")
        assert row["md_file"].endswith(".md")


def test_markdown_filename_matches_reference_rules(spark):
    """Column-expression filename vs the reference's _url_to_filepath
    semantics (crawler.py:392-423) on edge cases."""
    from article_extractor_spark.sinks import markdown_filename

    cases = [
        ("https://example.com/blog/post-1", "example.com__blog__post-1.md"),
        ("https://Example.COM:8080/", "example.com_8080__index.md"),
        ("https://example.com", "example.com__index.md"),
        ("https://example.com/a/b/?q=1&r=2", "example.com__a__b_q_1_r_2.md"),
        (
            "https://example.com/weird path/(x)!",
            "example.com__weird_path__x.md",
        ),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["url"])
    got = [
        r["f"]
        for r in df.select(markdown_filename(F.col("url")).alias("f")).collect()
    ]
    assert got == [want for _, want in cases]


def test_render_spans_is_jvm_side(spark):
    """The spans→html bridge must not contain a Python UDF (north rule:
    no per-row Python outside the one vectorized extraction stage)."""
    df = corpus_dataframe(spark, 5, seed=1, partitions=1)
    rendered = render_spans_to_html(df)
    plan = rendered._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_failure_rows_not_task_death(spark):
    """Garbage documents become success=false rows; the stage completes."""
    rows = [
        ("bad-1", "https://x.com/a", ""),
        ("bad-2", "https://x.com/b", "<div"),
        ("good-1", "https://x.com/c",
         "<body><main><article>" + "<p>Plenty of words, with commas, fill "
         "the paragraph for scoring purposes nicely.</p>" * 10
         + "</article></main></body>"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url", "html"])
    out = extract_articles(df).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert not by_id["bad-1"]["success"] and by_id["bad-1"]["error"]
    assert by_id["good-1"]["success"]
    assert len(out) == 3


def test_curate_subcommand_over_extraction_output(
    spark, corpus_path, tmp_path
):
    """The CLI curation pass over a real extraction output table:
    exactly one status per document (string ids used directly — no
    derived ordinal to collide), the benchmark slice strictly opt-in
    via --benchmark-table, statuses drawn from the funnel vocabulary."""
    from article_extractor_spark.job import main

    out = str(tmp_path / "cur_out")
    verdicts = str(tmp_path / "cur_verdicts")
    stats = run_extraction_job(
        spark, corpus_path, out, n_buckets=N_BUCKETS, waves=1
    )
    assert stats["docs_processed"] == N_DOCS
    assert main(["curate", "--table", out, "--out", verdicts]) == 0
    rows = spark.read.parquet(verdicts).collect()
    assert len(rows) == N_DOCS
    assert len({r["doc_id"] for r in rows}) == N_DOCS
    statuses = [r["status"] for r in rows]
    # the benchmark slice is opt-in via --benchmark-table; without it
    # NO document is silently classified benchmark (ADVICE r3)
    assert "benchmark" not in statuses
    assert "contaminated" not in statuses
    for s in statuses:
        assert s.startswith(
            ("quality:", "kept:", "exact_dup", "near_dup")
        ), s


def test_curate_benchmark_table_and_collision_free_ids(spark, tmp_path):
    """Explicit --benchmark-table drives decontamination, and ids that
    share a digit suffix ('siteA-42'/'siteB-42') each get exactly one
    status (the old derived ordinal collided them — ADVICE r3)."""
    from article_extractor_spark.job import main

    def spans_of(text):
        return [{"kind": "text", "text": text, "media_ref": None,
                 "offset": 0}]

    english = (
        "The committee published its annual report on Tuesday and the "
        "findings were discussed at length by members present in the "
        "chamber before a vote was finally taken that evening. Several "
        "delegates raised concerns about funding while others argued "
        "for broader reforms across education, transport, housing and "
        "public health. After considerable debate everyone agreed to "
        "revisit these proposals during next quarter once independent "
        "auditors deliver their complete assessment of regional budgets. "
    )
    rows = [
        ("siteA-42", spans_of(english + "Unique first ending appears here today.")),
        ("siteB-42", spans_of(english + "Another different second closing sentence instead.")),
        ("siteC-7", spans_of(english + "Finally this third document simply concludes gracefully.")),
    ]
    table = str(tmp_path / "table")
    spark.createDataFrame(
        rows, "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    ).write.parquet(table)

    verdicts = str(tmp_path / "v1")
    assert main(["curate", "--table", table, "--out", verdicts]) == 0
    got = {r["doc_id"]: r["status"]
           for r in spark.read.parquet(verdicts).collect()}
    # one status per SOURCE id — suffix twins must not cross-assign
    assert set(got) == {"siteA-42", "siteB-42", "siteC-7"}
    assert all(not s.startswith(("benchmark", "contaminated"))
               for s in got.values()), got

    # benchmark table sharing 8-grams with every doc -> all docs that
    # survive quality/dup flip to 'contaminated'
    bench = str(tmp_path / "bench")
    spark.createDataFrame([(english,)], "text string").write.parquet(bench)
    verdicts2 = str(tmp_path / "v2")
    assert main([
        "curate", "--table", table, "--out", verdicts2,
        "--benchmark-table", bench,
    ]) == 0
    got2 = {r["doc_id"]: r["status"]
            for r in spark.read.parquet(verdicts2).collect()}
    assert set(got2) == set(got)
    for doc_id, status in got.items():
        if status.startswith("kept:"):
            assert got2[doc_id] == "contaminated", (doc_id, got2[doc_id])
    assert "contaminated" in got2.values()


def test_auto_giant_threshold_resolution_and_routing(spark):
    """resolve_giant_threshold derives the salting threshold from the
    corpus size distribution: a uniform corpus resolves to None (single
    scan — no regression possible), a giant-tailed one picks a
    threshold that isolates the tail, and the salted output is
    row-identical to the unsalted path."""
    from article_extractor_spark.operators.extraction import (
        GIANT_MIN_BYTES,
        resolve_giant_threshold,
    )

    def mkdf(rows):
        return spark.createDataFrame(
            rows, "doc_id string, url string, html string"
        )

    para = "<p>" + ("word " * 200) + "</p>"
    uniform = mkdf(
        [(f"u{i}", f"https://x.test/{i}",
          f"<html><body><article>{para}</article></body></html>")
         for i in range(50)]
    )
    assert resolve_giant_threshold(uniform) is None

    giant_body = "<p>" + ("lorem ipsum dolor sit amet " * 60000) + "</p>"
    assert len(giant_body) > GIANT_MIN_BYTES
    skewed_rows = [
        (f"n{i}", f"https://x.test/n{i}",
         f"<html><body><article>{para}</article></body></html>")
        for i in range(50)
    ] + [
        (f"g{i}", f"https://x.test/g{i}",
         f"<html><body><article>{giant_body}</article></body></html>")
        for i in range(2)
    ]
    skewed = mkdf(skewed_rows)
    thr = resolve_giant_threshold(skewed)
    assert thr is not None
    assert GIANT_MIN_BYTES <= thr <= len(giant_body) + 200
    auto_out = extract_articles(
        skewed, giant_threshold=resolve_giant_threshold(skewed)
    )
    plain_out = extract_articles(skewed)
    cols = ["doc_id", "word_count", "success", "spans_emitted"]
    a = {tuple(r) for r in auto_out.select(cols).collect()}
    b = {tuple(r) for r in plain_out.select(cols).collect()}
    assert a == b and len(a) == len(skewed_rows)


def test_iceberg_probe_and_gated_branch(spark, tmp_path):
    """The real-Iceberg write/read twins are gated on a runtime-jar
    probe (``has_iceberg``).  This
    sandbox ships no Iceberg jar, so the gate must (a) report False,
    (b) raise the documented NotImplementedError from both twins; in
    an Iceberg-enabled session the same test exercises the real
    ``USING iceberg`` + bucket-transform branch end-to-end."""
    df = spark.createDataFrame(
        [("d1", "hello"), ("d2", "world")], "doc_id string, text string"
    )
    if not tableio.has_iceberg(spark):
        with pytest.raises(NotImplementedError, match="[Ii]ceberg"):
            tableio.write_bucketed_iceberg(df, "local.db.docs")
        with pytest.raises(NotImplementedError, match="[Ii]ceberg"):
            tableio.read_table_iceberg(spark, "local.db.docs")
        pytest.skip("no Iceberg runtime jar on the classpath")
    # Iceberg-enabled environment: real branch (needs a catalog named
    # `local` configured as a hadoop catalog over a temp warehouse).
    tableio.write_bucketed_iceberg(df, "local.db.docs", n_buckets=4)
    back = tableio.read_table_iceberg(spark, "local.db.docs")
    assert {r["doc_id"] for r in back.collect()} == {"d1", "d2"}


def test_job_emit_metadata_column(spark, corpus_path, tmp_path):
    out = str(tmp_path / "out-meta")
    stats = run_extraction_job(
        spark,
        corpus_path,
        out,
        n_buckets=N_BUCKETS,
        waves=1,
        emit_metadata=True,
    )
    assert stats["docs_processed"] == N_DOCS
    result = spark.read.parquet(out)
    assert "page_meta" in result.columns
    field = dict(
        (f.name, f) for f in result.schema.fields
    )["page_meta"]
    assert [sf.name for sf in field.dataType.fields] == [
        "og_title",
        "og_description",
        "og_image",
        "canonical_url",
        "published_time",
        "headline",
        "author",
    ]
    # the struct is attached on every row (synth pages carry no og
    # tags, so the fields are null but the struct itself is not)
    assert result.where("page_meta is null").count() == 0


def test_preshuffled_gate_on_for_aligned_path_corpus(
    spark, corpus_path, tmp_path
):
    """The exchange-free write engages only with provenance: a corpus
    READ FROM A PATH laid out as bucket=k dirs whose bucket values pass
    the sampled string-hash check (ADVICE r4)."""
    out = str(tmp_path / "out-aligned")
    stats = run_extraction_job(
        spark, corpus_path, out, n_buckets=N_BUCKETS, waves=2
    )
    assert stats["preshuffled"] is True
    assert stats["docs_processed"] == N_DOCS
    # synth corpus is uniform: auto giant salting must decline
    assert stats["giant_threshold"] is None


def test_preshuffled_reports_path_taken_not_gate(
    spark, corpus_path, tmp_path
):
    """The gate passes for an aligned path corpus, but with one bucket
    per wave each wave's scan plans fewer partitions than there are
    cores, so every wave falls back to the shuffled write — and the
    stat must say so."""
    stats = run_extraction_job(
        spark,
        corpus_path,
        str(tmp_path / "out-narrow"),
        n_buckets=N_BUCKETS,
        waves=N_BUCKETS,
    )
    assert spark.sparkContext.defaultParallelism > 1
    assert stats["preshuffled"] is False
    assert stats["docs_processed"] == N_DOCS


def test_job_scan_packs_small_bucket_files(
    spark, corpus_path, tmp_path, monkeypatch
):
    """Sub-MB bucket files share scan tasks instead of each being a
    task of its own, the aligned write still engages, and the job
    restores both session settings it overrides."""
    planned = []
    sample = tableio.bucket_sample_aligned

    def spy(df, n_buckets, *args, **kwargs):
        planned.append(df.rdd.getNumPartitions())  # under the job's conf
        return sample(df, n_buckets, *args, **kwargs)

    monkeypatch.setattr(tableio, "bucket_sample_aligned", spy)
    keys = (
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.files.openCostInBytes",
    )
    before = [spark.conf.get(k) for k in keys]
    stats = run_extraction_job(
        spark, corpus_path, str(tmp_path / "out-packed"), n_buckets=N_BUCKETS
    )
    n_files = len(glob.glob(f"{corpus_path}/bucket=*/*.parquet"))
    assert n_files == N_BUCKETS
    assert planned and planned[0] < n_files
    assert stats["preshuffled"] is True
    assert stats["docs_processed"] == N_DOCS
    assert [spark.conf.get(k) for k in keys] == before


def test_preshuffled_gate_off_for_dataframe_corpus(
    spark, corpus_path, tmp_path
):
    """A DataFrame corpus has no physical bucket-dir provenance — the
    preshuffled fast path must stay off even when its bucket VALUES are
    aligned (task splits may span buckets, ADVICE r4)."""
    corpus = spark.read.parquet(corpus_path)
    stats = run_extraction_job(
        spark, corpus, str(tmp_path / "out-df"), n_buckets=N_BUCKETS, waves=1
    )
    assert stats["preshuffled"] is False
    assert stats["docs_processed"] == N_DOCS


def test_misaligned_bucket_corpus_recomputed_and_lineage_sound(
    spark, tmp_path
):
    """A corpus bucketed with a DIFFERENT n_buckets than the job's must
    (a) not take the preshuffled path, (b) have its bucket column
    recomputed so per-wave lineage counts stay correct — with the
    foreign column kept, a wave's rows land in other waves' output
    buckets and commit counts double (ADVICE r4)."""
    path = str(tmp_path / "c16")
    df = corpus_dataframe(spark, 40, seed=3, partitions=2)
    df = tableio.with_bucket(df, "doc_id", 16)
    tableio.write_bucketed(df, path, dynamic=False, n_buckets=16)

    out = str(tmp_path / "out16")
    stats = run_extraction_job(spark, path, out, n_buckets=8, waves=2)
    assert stats["preshuffled"] is False
    assert stats["docs_processed"] == 40

    assert sum(e["docs_in"] for e in _lineage(spark, out)) == 40
    result = spark.read.parquet(out)
    assert result.count() == 40
    # every row's partition-dir bucket equals the string-hash bucket
    expected = F.pmod(
        F.xxhash64(F.col("doc_id").cast("string")), F.lit(8)
    ).cast("int")
    assert result.where(F.col("bucket") != expected).count() == 0
    # resume over the same misaligned corpus is a no-op
    stats2 = run_extraction_job(spark, path, out, n_buckets=8, waves=2)
    assert stats2["docs_processed"] == 0


def test_resume_with_another_n_buckets_is_refused(spark, tmp_path):
    """The bucket snapshot freezes n_buckets.  Resumed under another
    count, the committed bucket ids (of the other layout) would be
    skipped as if they named the same documents, and the run would
    report success over a partial table; it is refused before any
    bucket directory is cleared.  Reading the committed buckets
    launches no Spark job."""
    corpus = corpus_dataframe(spark, 40, seed=3, partitions=2)
    out = str(tmp_path / "out")
    first = corpus.where(F.col("doc_id") < "synth-000000023")
    run_extraction_job(spark, first, out, n_buckets=16, waves=1)
    on_disk = sorted(glob.glob(f"{out}/*"))

    sc = spark.sparkContext
    sc.setJobGroup("read-committed", "bucket snapshot read")
    try:
        committed = tableio.read_committed_buckets(spark, out, 16)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("read-committed")) == []
    assert committed == {e["bucket"] for e in _lineage(spark, out)}
    assert len(committed) > 1

    with pytest.raises(ValueError, match="n_buckets=8 differs"):
        run_extraction_job(spark, corpus, out, n_buckets=8, waves=1)
    assert sorted(glob.glob(f"{out}/*")) == on_disk
    assert spark.read.parquet(out).count() == 23


def test_legacy_parquet_lineage_is_refused(spark, corpus_path, tmp_path):
    """A lineage directory of the older layout (parquet part files, no
    snapshot) is refused before anything is written: read as empty, it
    would re-extract every committed bucket on top of itself."""
    out = str(tmp_path / "out")
    legacy = tableio.lineage_path(out)
    os.makedirs(legacy)
    open(f"{legacy}/part-0123.parquet", "wb").close()
    with pytest.raises(ValueError, match="older commit layout"):
        run_extraction_job(spark, corpus_path, out, n_buckets=N_BUCKETS)
    assert not os.path.exists(out)
    assert os.listdir(legacy) == ["part-0123.parquet"]


def test_empty_corpus_wave_does_not_crash_readback(spark, corpus_path, tmp_path):
    """A wave that writes ZERO rows leaves an output dir with only
    _SUCCESS; the lineage read-back must degrade to an empty frame (it
    reads with the known written schema), not throw 'Unable to infer
    schema' (ADVICE r4)."""
    out = str(tmp_path / "out-empty")
    empty = spark.read.parquet(corpus_path).where(F.lit(False))
    stats = run_extraction_job(spark, empty, out, n_buckets=N_BUCKETS, waves=2)
    assert stats["docs_processed"] == 0
    assert stats["docs_failed"] == 0
    # a later run over the real corpus proceeds normally on the same out
    stats2 = run_extraction_job(
        spark, corpus_path, out, n_buckets=N_BUCKETS, waves=2
    )
    assert stats2["docs_processed"] == N_DOCS
